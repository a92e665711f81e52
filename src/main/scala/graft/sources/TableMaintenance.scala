package graft.sources

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/**
 * Metadata-driven maintenance PLANNING for a [[SnapshotTable]] —
 * the in-sandbox analog of the scheduled Iceberg maintenance jobs
 * (`rewrite_data_files` / `rewrite_position_delete_files` /
 * `expire_snapshots`) every long-lived table needs: a 10^12-file table
 * that is never compacted drowns in small files, one that never
 * materializes its merge-on-read deletes pays unbounded read
 * amplification, and one that never expires history hoards every byte
 * it ever wrote.
 *
 * The planner reads ONLY the metadata tables ([[SnapshotTable.filesTable]]
 * / [[SnapshotTable.snapshotsTable]]) — no filesystem listing, no data
 * I/O — and aggregates them Spark-side with a bounded `limit(k)` per
 * signal, so the driver never holds more than `maxTargets` rows even
 * when the file count is astronomical.
 */
object TableMaintenance {

  /** One recommended action. `kind` ∈ {"compact", "materializeDeletes",
   * "expireSnapshots"}; `target` names the worst offender (a partition
   * path for compact, "" for table-wide actions); `metric` is the
   * signal's magnitude (small-file count, delete-file ratio, live
   * version count). */
  final case class Action(kind: String, target: String, metric: Double,
      reason: String)

  /**
   * Diagnose `root` and return the actions worth running, worst first.
   *
   *  - **compact** when any partition holds ≥ `minInputFiles` data files
   *    under half of `targetFileBytes` (the same candidate rule
   *    [[SnapshotTable.compact]] uses, so a recommendation always has
   *    work to do); one action per offending partition, capped at
   *    `maxTargets` worst by small-file count.
   *  - **materializeDeletes** when pending merge-on-read delete files
   *    exceed `maxDeleteRatio` of the snapshot's data-file count — the
   *    read-amplification signal (every reader anti-joins every pending
   *    delete file until someone folds them).
   *  - **expireSnapshots** when more than `keepLast` versions are live.
   */
  def plan(spark: SparkSession, root: String,
      targetFileBytes: Long = 512L * 1024 * 1024,
      minInputFiles: Int = 2,
      maxDeleteRatio: Double = 0.1,
      keepLast: Int = 10,
      maxTargets: Int = 20): Seq[Action] = {
    require(maxTargets >= 1, "maxTargets must be at least 1")
    val files = SnapshotTable.filesTable(spark, root)
    // map columns don't group; canonicalize to the Hive path form
    val partStr = array_join(
      transform(array_sort(map_entries(col("partition"))),
        e => concat(e("key"), lit("="), e("value"))), "/")
    val isData = col("content") === "data"

    val smallParts = files.filter(isData &&
        col("file_size_in_bytes") < lit(targetFileBytes / 2))
      .groupBy(partStr.as("part"))
      .agg(count(lit(1)).as("n"), sum("file_size_in_bytes").as("bytes"))
      .filter(col("n") >= minInputFiles)
      .orderBy(col("n").desc, col("part"))
      .limit(maxTargets)
      .collect()
    val compacts = smallParts.map { r =>
      Action("compact", r.getString(0), r.getLong(1).toDouble,
        s"partition '${r.getString(0)}' holds ${r.getLong(1)} data files " +
          s"under ${targetFileBytes / 2} bytes (${r.getLong(2)} bytes total)")
    }.toSeq

    val counts = files.agg(
      sum(when(isData, 1L).otherwise(0L)).as("data"),
      sum(when(!isData, 1L).otherwise(0L)).as("del")).head()
    val (nData, nDel) = (counts.getLong(0), counts.getLong(1))
    val materialize =
      if (nData > 0 && nDel.toDouble / nData > maxDeleteRatio)
        Seq(Action("materializeDeletes", "", nDel.toDouble / nData,
          s"$nDel pending merge-on-read delete files against $nData data " +
            s"files (ratio ${"%.2f".format(nDel.toDouble / nData)} > " +
            s"$maxDeleteRatio) — every reader pays the anti-join until folded"))
      else Seq.empty

    val live = SnapshotTable.snapshotsTable(spark, root).count()
    val expire =
      if (live > keepLast)
        Seq(Action("expireSnapshots", "", live.toDouble,
          s"$live live versions exceed keepLast=$keepLast"))
      else Seq.empty

    // severity order: delete amplification hurts every read NOW,
    // small files hurt every scan, history only hurts storage
    materialize ++ compacts ++ expire
  }

  /**
   * Plan, then EXECUTE against a [[SnapshotTable]] root with its
   * maintenance procedures (Spark procedures in Iceberg, not table ops).
   * Ordering matters and is deliberate: materialize first (folds delete
   * entries so the rewrite doesn't pay them twice), compact second
   * (ONE call — its candidate pick is already all-partition), expire
   * last (the new replace snapshots push old versions past keepLast).
   * Returns the executed actions. Idempotent: a second call on a
   * freshly-maintained table plans nothing and does nothing.
   */
  def runOnSnapshotTable(spark: SparkSession, root: String,
      targetFileBytes: Long = 512L * 1024 * 1024,
      minInputFiles: Int = 2,
      maxDeleteRatio: Double = 0.1,
      keepLast: Int = 10,
      maxTargets: Int = 20): Seq[Action] = {
    val actions = plan(spark, root, targetFileBytes,
      minInputFiles, maxDeleteRatio, keepLast, maxTargets)
    if (actions.exists(_.kind == "materializeDeletes"))
      SnapshotTable.materializeDeletes(spark, root)
    if (actions.exists(_.kind == "compact"))
      SnapshotTable.compact(spark, root, targetFileBytes, minInputFiles)
    if (actions.exists(_.kind == "expireSnapshots"))
      SnapshotTable.expireSnapshots(spark, root, keepLast)
    actions
  }
}
