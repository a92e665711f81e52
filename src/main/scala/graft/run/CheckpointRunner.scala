package graft.run

import java.security.MessageDigest

import scala.util.control.NonFatal

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, Observation, SaveMode, SparkSession}
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
import org.apache.spark.sql.functions._

import graft.engine.Validator
import graft.model.Checklist
import graft.sources.SnapshotTable

/**
 * Partition-granular checkpointed validation runs (north_rule: "resumable
 * from checkpoint with per-partition lineage + metrics").
 *
 * The work unit is one partition of the input table (hive-style
 * partition column, e.g. `source` or a date). Pending partitions run in
 * WAVES of up to `WavePartitions` partitions and `WaveBytes` of input, one
 * after another. A wave reads its input once (a snapshot table: the pinned
 * version's file sets; a hive layout: a partition filter), validates it
 * in one write job, so Spark's scheduler spreads every partition's splits
 * over all cores, and stages it `partitionBy` each row's *slot* (its
 * partition's index in the wave: a hive read may retype a value, `"007"`
 * to 7). One `observe` keyed on the slot counts each partition; nothing is
 * cached or recomputed. Violation rows derive from the staged output.
 * Each slot directory is renamed to its partition's directory, replacing
 * a previous run's (idempotent re-runs: no duplicated violation rows —
 * risk register SURVEY.md §7.4), and the wave appends a manifest row per
 * partition in one write:
 *
 *   (run_id, partition, checklist_md5, n_rows, n_invalid, n_violations,
 *    started_at, finished_at, status)
 *
 * The partition column stays inside the data files; a null value is
 * Spark's default partition name. On restart, partitions that already
 * have an 'ok' manifest row FOR THE SAME checklist_md5 are skipped — so a
 * killed run resumes, losing at most one wave, and a *changed checklist*
 * invalidates prior work automatically. Failures stay per partition: a
 * wave whose write fails (a corrupt input file, say) re-runs as waves of
 * one, and a partition whose directories cannot move into place fails
 * alone. The others commit, no further wave starts, and the run throws the
 * first failure, naming its partition. No staging directory outlives a
 * run or the start of the next.
 *
 * This generalizes the reference's manifest identity (file MD5 + UUID,
 * Reader.pm:86-88 / Manifest.pm:219-224) into run-level lineage.
 */
object CheckpointRunner {

  final case class PartitionResult(
      partition: String, nRows: Long, nInvalid: Long, nViolations: Long,
      skipped: Boolean)

  final case class Config(
      inputPath: String,
      partitionCol: String,
      outputPath: String, // validated rows (partitioned)
      violationsPath: String, // exploded violation rows (partitioned)
      manifestPath: String, // lineage + metrics table
      rowIdCol: Option[String] = None, // None: the input's `row_id` column
      contentCol: Option[String] = None)

  /** A larger partition is a wave alone. A killed run loses at most this. */
  private val WaveBytes: Long = 4L << 30
  /** A wave's `observe` carries three aggregates per partition. */
  private val WavePartitions = 32
  private val SlotCol = "graft_wave_slot"
  /** Under each output root, hidden from Spark readers of that root. */
  private val Staging = "_graft_staging"

  /** Stable fingerprint of the checklist definition — the lineage key that
   * ties completed work to the exact constraint set that produced it. */
  def checklistMd5(checklist: Checklist): String =
    MessageDigest.getInstance("MD5")
      .digest(checklist.toString.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString

  /** Work units with an 'ok' manifest row for this checklist. A manifest
   * that does not exist yet (first run) holds none; any other read
   * failure propagates — an unreadable manifest must not turn into
   * "nothing done" and silently re-validate every partition. */
  private def completedPartitions(spark: SparkSession, manifestPath: String,
      md5: String): Set[String] = {
    val p = new Path(manifestPath)
    if (!p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p))
      Set.empty
    else spark.read.parquet(manifestPath)
      .filter(col("status") === "ok" && col("checklist_md5") === md5)
      .select("partition").distinct()
      .collect().map(_.getString(0)).toSet
  }

  /** Partition values and their directories when the input is laid out
   * hive-style on `partitionCol` (`.../col=value/`): one directory
   * listing, zero data read. Names are unescaped with Spark's own
   * partition-path codec, so each value equals what a scan of the column
   * reads back. */
  private def partitionDirs(spark: SparkSession, inputPath: String,
      partitionCol: String): Seq[(String, Path)] = {
    val prefix = ExternalCatalogUtils.escapePathName(partitionCol) + "="
    val p = new Path(inputPath)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).listStatus(p).toSeq
      .filter(st => st.isDirectory && st.getPath.getName.startsWith(prefix))
      .map(st => ExternalCatalogUtils.unescapePathName(
        st.getPath.getName.substring(prefix.length)) -> st.getPath)
      .sortBy(_._1)
  }

  /** The rows of partition `p`; the default partition name is null. */
  private def inPartition(partitionCol: String, p: String): Column =
    if (p == ExternalCatalogUtils.DEFAULT_PARTITION_NAME) col(partitionCol).isNull
    else col(partitionCol) === p

  def run(spark: SparkSession, checklist: Checklist, cfg: Config,
      runId: String = java.util.UUID.randomUUID().toString): Seq[PartitionResult] = {
    val md5 = checklistMd5(checklist)
    val hadoopConf = spark.sparkContext.hadoopConfiguration
    // Input resolution order mirrors the north_rule's table-format shape:
    // a snapshot-manifest table (SnapshotTable — the Iceberg access
    // pattern) plans partitions, sizes AND file sets from pure metadata;
    // plain hive-layout parquet falls back to directory discovery, then to
    // a distinct() scan. The table version is resolved ONCE: every wave
    // reads that snapshot, even if a commit lands mid-run. `partitions`
    // pairs each value with its input bytes (0 where unknown).
    val version = SnapshotTable.currentVersion(spark, cfg.inputPath)
    val (partitions, schema, readWave) = version match {
      case Some(_) =>
        val snap = SnapshotTable.snapshot(spark, cfg.inputPath, version)
        require(snap.partitionCols.contains(cfg.partitionCol),
          s"partitionCol '${cfg.partitionCol}' is not a partition column of " +
            s"the snapshot table (spec: ${snap.partitionCols}) — a typo here " +
            "would otherwise yield zero partitions and a silent no-op run")
        val valueOf = (fe: SnapshotTable.FileEntry) => fe.partition(cfg.partitionCol)
        (snap.files.groupMapReduce(valueOf)(_.bytes)(_ + _).toSeq.sorted, () => snap.schema,
          (wave: Seq[String]) =>
            SnapshotTable.scan(spark, snap, snap.files.filter(fe => wave.contains(valueOf(fe)))))
      case None =>
        // partition values stay the directory names `partitionDirs` lists:
        // typed, a value "007" would read as 7 and a directory `empty`
        // next to numeric ones would fail its filter's cast
        lazy val input = {
          val inference = "spark.sql.sources.partitionColumnTypeInference.enabled"
          val was = spark.conf.get(inference)
          spark.conf.set(inference, false)
          try spark.read.parquet(cfg.inputPath) finally spark.conf.set(inference, was)
        }
        val dirs = partitionDirs(spark, cfg.inputPath, cfg.partitionCol)
        (if (dirs.nonEmpty) dirs.map { case (v, dir) =>
            v -> dir.getFileSystem(hadoopConf).getContentSummary(dir).getLength }
          else input.select(cfg.partitionCol).distinct().collect()
            .map(r => Option(r.get(0)).fold(
              ExternalCatalogUtils.DEFAULT_PARTITION_NAME)(_.toString) -> 0L)
            .toSeq.sorted,
          () => input.schema,
          (wave: Seq[String]) =>
            input.filter(wave.map(inPartition(cfg.partitionCol, _)).reduce(_ || _)))
    }
    val done = completedPartitions(spark, cfg.manifestPath, md5)
    val pending = partitions.filterNot(p => done.contains(p._1))

    def clearStaging(): Unit = Seq(cfg.outputPath, cfg.violationsPath)
      .map(new Path(_, Staging)).foreach(p => p.getFileSystem(hadoopConf).delete(p, true))
    def attempt(wave: Seq[String]): Seq[Either[(String, Throwable), PartitionResult]] =
      try validateWave(spark, checklist, cfg, wave, readWave(wave))
      catch {
        case NonFatal(_) if wave.size > 1 => wave.flatMap(p => attempt(Seq(p)))
        case NonFatal(e) => Seq(Left(wave.head -> e))
      }
    val results = scala.collection.mutable.Map.empty[String, PartitionResult]
    if (pending.nonEmpty) {
      // ids come from the input, never from a wave (its schema reads no data)
      val rowId = cfg.rowIdCol.getOrElse(Validator.RowId)
      require(schema().fieldNames.exists(spark.sessionState.conf.resolver(_, rowId)),
        s"the input has no row-id column '$rowId': pass --row-id <column> " +
          "naming a key of the input")
      clearStaging()
      try waves(pending).foreach { wave =>
        val startedAt = java.time.Instant.now().toString
        val outcome = attempt(wave)
        val ok = outcome.collect { case Right(r) => r }
        if (ok.nonEmpty)
          appendManifestRows(spark, cfg.manifestPath, runId, md5, ok, startedAt)
        results ++= ok.map(r => r.partition -> r)
        outcome.collectFirst { case Left((p, e)) => throw new RuntimeException(
          s"partition ${cfg.partitionCol}=$p failed: ${e.getMessage}", e) }
      } finally clearStaging()
    }
    partitions.map { case (p, _) =>
      results.getOrElse(p, PartitionResult(p, 0, 0, 0, skipped = true)) }
  }

  /** Consecutive partitions grouped under the wave caps. */
  private def waves(parts: Seq[(String, Long)]): Seq[Seq[String]] =
    parts.foldLeft(Vector.empty[(Vector[String], Long)]) {
      case (full :+ ((wave, bytes)), (p, n))
          if wave.size < WavePartitions && bytes + n <= WaveBytes =>
        full :+ ((wave :+ p, bytes + n))
      case (full, (p, n)) => full :+ ((Vector(p), n))
    }.map(_._1)

  /** Validates, stages and promotes one wave: a result per partition whose
   * directories moved into place, a failure per other one. Throws when a
   * write job fails. */
  private def validateWave(spark: SparkSession, checklist: Checklist,
      cfg: Config, wave: Seq[String],
      input: DataFrame): Seq[Either[(String, Throwable), PartitionResult]] = {
    // a subdirectory, since a Spark reader skips a path named `_...`
    val Seq(stageOut, stageViol) = Seq(cfg.outputPath, cfg.violationsPath)
      .map(root => new Path(new Path(root, Staging), "wave"))
    val slot = wave.indices.tail.foldLeft(when(inPartition(cfg.partitionCol, wave.head), 0))(
      (c, i) => c.when(inPartition(cfg.partitionCol, wave(i)), i))
    val staged = Validator.validate(input, checklist,
      Validator.Options(cfg.rowIdCol, cfg.contentCol)).withColumn(SlotCol, slot)
    // per slot: rows, invalid rows, violations
    val metrics = wave.indices.flatMap { i =>
      val in = col(SlotCol) === i
      Seq(count(when(in, 1)), count(when(in && !col(Validator.PassedCol), 1)),
        sum(when(in, size(col(Validator.ViolationsCol)))))
    }.zipWithIndex.map { case (m, j) => m.as(s"m$j") }
    val obs = Observation()
    staged.observe(obs, metrics.head, metrics.tail: _*)
      .write.mode(SaveMode.Overwrite).partitionBy(SlotCol).parquet(stageOut.toString)
    val m = obs.get
    def metric(j: Int): Long = Option(m(s"m$j")).fold(0L)(_.asInstanceOf[Long])
    // the schema just written: re-reading it skips the footer-inference job
    Validator.violationRows(
        spark.read.schema(staged.schema).parquet(stageOut.toString), SlotCol)
      .write.mode(SaveMode.Overwrite).partitionBy(SlotCol).parquet(stageViol.toString)
    wave.zipWithIndex.map { case (p, i) =>
      // escaped as Spark's writer escapes it: a '/' in a value must not
      // nest directories, and a read of the output gets `p` back
      val dir = ExternalCatalogUtils.getPartitionPathString(cfg.partitionCol, p)
      try {
        for ((stage, root) <- Seq(stageOut -> cfg.outputPath, stageViol -> cfg.violationsPath))
          promote(spark, new Path(stage, s"$SlotCol=$i"), new Path(root, dir))
        Right(PartitionResult(p, metric(3 * i), metric(3 * i + 1),
          metric(3 * i + 2), skipped = false))
      } catch { case NonFatal(e) => Left(p -> e) }
    }
  }

  /** Moves a staged slot directory to `dst`, replacing what a previous run
   * left there, and marks it `_SUCCESS` as a write of its own would; a
   * slot without rows becomes an empty directory. */
  private def promote(spark: SparkSession, src: Path, dst: Path): Unit = {
    val fs = dst.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(dst, true)
    fs.mkdirs(dst.getParent)
    if (!(if (fs.exists(src)) fs.rename(src, dst) else fs.mkdirs(dst)))
      throw new java.io.IOException(s"cannot create $dst")
    fs.create(new Path(dst, "_SUCCESS")).close()
  }

  private def appendManifestRows(spark: SparkSession, path: String,
      runId: String, md5: String, results: Seq[PartitionResult],
      startedAt: String): Unit = {
    import spark.implicits._
    val finishedAt = java.time.Instant.now().toString
    results.map(r => (runId, r.partition, md5, r.nRows, r.nInvalid,
        r.nViolations, startedAt, finishedAt, "ok"))
      .toDF("run_id", "partition", "checklist_md5", "n_rows", "n_invalid",
        "n_violations", "started_at", "finished_at", "status")
      .coalesce(1).write.mode(SaveMode.Append).parquet(path)
  }
}
