package graft.run

import java.security.MessageDigest

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
import org.apache.spark.sql.functions._
import scala.jdk.CollectionConverters._

import graft.engine.Validator
import graft.model.Checklist
import graft.sources.SnapshotTable

/**
 * Partition-granular checkpointed validation runs (north_rule: "resumable
 * from checkpoint with per-partition lineage + metrics").
 *
 * The work unit is one partition of the input table (hive-style
 * partition column, e.g. `source` or a date). Pending partitions run
 * concurrently, `min(pending, spark.sparkContext.defaultParallelism)` at
 * a time, so a small partition's jobs fill the cores a large one leaves
 * idle at its tail. After a partition's own outputs commit, one manifest
 * row is appended to the manifest table (appends are serialized; see
 * [[appendManifestRow]]):
 *
 *   (run_id, partition, checklist_md5, n_rows, n_invalid, n_violations,
 *    started_at, finished_at, status)
 *
 * On restart, partitions that already have an 'ok' manifest row FOR THE
 * SAME checklist_md5 are skipped — so a killed job resumes where it
 * stopped, and a *changed checklist* invalidates prior work automatically.
 * Outputs are written with partition-directory overwrite, making re-runs
 * idempotent (no duplicated violation rows — risk register SURVEY.md §7.4).
 * When a partition fails, no further partition starts; those already
 * running finish and commit their rows, and the run then throws the first
 * failure, naming its partition. A re-run resumes from the `ok` rows.
 *
 * Each partition is ONE compute pass: manifest metrics ride the validated
 * write as CollectMetrics (`observe`) accumulators, and the violations
 * table derives from the already-written columnar output with a
 * pushed-down `passed = false` filter — no caching (a 100 TB partition
 * doesn't fit executor memory) and no validation recompute.
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
      rowIdCol: Option[String] = None,
      contentCol: Option[String] = None)

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
    val p = new org.apache.hadoop.fs.Path(manifestPath)
    if (!p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p))
      Set.empty
    else spark.read.parquet(manifestPath)
      .filter(col("status") === "ok" && col("checklist_md5") === md5)
      .select("partition").distinct()
      .collect().map(_.getString(0)).toSet
  }

  /**
   * Partition values from FILESYSTEM METADATA when the input is laid out
   * hive-style on `partitionCol` (`.../col=value/`): one directory listing,
   * zero data read — the parquet stand-in for an Iceberg/catalog partition
   * listing. Directory names are unescaped with Spark's own partition-path
   * codec, so each value equals what a scan of the column reads back.
   * `None` when no directory is partitioned on the column: the caller then
   * falls back to a `distinct()` scan (unavoidable there). A listing error
   * propagates.
   */
  def discoverPartitions(spark: SparkSession, inputPath: String,
      partitionCol: String): Option[Seq[String]] = {
    val prefix = ExternalCatalogUtils.escapePathName(partitionCol) + "="
    val p = new org.apache.hadoop.fs.Path(inputPath)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val dirs = fs.listStatus(p).toSeq
      .filter(_.isDirectory).map(_.getPath.getName)
      .filter(_.startsWith(prefix))
      .map(n => ExternalCatalogUtils.unescapePathName(n.substring(prefix.length)))
    if (dirs.nonEmpty) Some(dirs.sorted) else None
  }

  def run(spark: SparkSession, checklist: Checklist, cfg: Config,
      runId: String = java.util.UUID.randomUUID().toString): Seq[PartitionResult] = {
    val md5 = checklistMd5(checklist)
    // Input resolution order mirrors the north_rule's table-format shape:
    // a snapshot-manifest table (SnapshotTable — the Iceberg access
    // pattern) plans partitions AND per-partition file sets from pure
    // metadata; plain hive-layout parquet falls back to directory
    // discovery, then to a distinct() scan. The table version is resolved
    // ONCE: the plan and every slice read that one snapshot, even if a
    // commit lands mid-run.
    val version = SnapshotTable.currentVersion(spark, cfg.inputPath)
    val isSnapshotTable = version.isDefined
    lazy val input = spark.read.parquet(cfg.inputPath)
    val partitions =
      if (isSnapshotTable) {
        val snap = SnapshotTable.snapshot(spark, cfg.inputPath, version)
        require(snap.partitionCols.contains(cfg.partitionCol),
          s"partitionCol '${cfg.partitionCol}' is not a partition column of " +
            s"the snapshot table (spec: ${snap.partitionCols}) — a typo here " +
            "would otherwise yield zero partitions and a silent no-op run")
        SnapshotTable.partitions(spark, cfg.inputPath, version)
          .flatMap(_.get(cfg.partitionCol)).distinct.sorted
      }
      else discoverPartitions(spark, cfg.inputPath, cfg.partitionCol)
        .getOrElse(input.select(cfg.partitionCol).distinct()
          .collect().map(_.get(0).toString).sorted.toSeq)
    val done = completedPartitions(spark, cfg.manifestPath, md5)

    val pending = partitions.filterNot(done.contains)
    val results = forEachConcurrently(pending,
        spark.sparkContext.defaultParallelism, cfg.partitionCol) { p =>
      // snapshot tables prune the slice's FILE SET manifest-side; hive
      // layout pushes the partition filter down to the parquet scan
      val slice =
        if (isSnapshotTable)
          SnapshotTable.read(spark, cfg.inputPath, version,
            partitionFilter = Map(cfg.partitionCol -> p))
        else input.filter(col(cfg.partitionCol) === p)
      // escaped as Spark's writer escapes it: a '/' in a value must not
      // nest directories, and a read of the output gets `p` back
      val dir = ExternalCatalogUtils.getPartitionPathString(cfg.partitionCol, p)
      val (nRows, nInvalid, nViol) = validateSlice(spark, checklist,
        slice, p, s"${cfg.outputPath}/$dir", s"${cfg.violationsPath}/$dir",
        cfg.manifestPath, runId, md5, cfg.rowIdCol, cfg.contentCol)
      PartitionResult(p, nRows, nInvalid, nViol, skipped = false)
    }
    partitions.map(p =>
      results.getOrElse(p, PartitionResult(p, 0, 0, 0, skipped = true)))
  }

  /** Runs `f` over `keys` on `min(keys.size, width)` threads. After the
   * first failure no further key starts; keys already running finish (and
   * commit), then that failure is rethrown naming its `partitionCol=key`. */
  private def forEachConcurrently[R](keys: Seq[String], width: Int,
      partitionCol: String)(f: String => R): Map[String, R] = {
    if (keys.isEmpty) return Map.empty
    val results = new java.util.concurrent.ConcurrentHashMap[String, R]()
    val next = new java.util.concurrent.atomic.AtomicInteger(0)
    val failure =
      new java.util.concurrent.atomic.AtomicReference[(String, Throwable)]()
    val worker: Runnable = () => {
      var i = next.getAndIncrement()
      while (failure.get == null && i < keys.size) {
        val k = keys(i)
        try results.put(k, f(k))
        catch { case e: Throwable => failure.compareAndSet(null, (k, e)) }
        i = next.getAndIncrement()
      }
    }
    val threads = math.min(keys.size, width)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(threads)
    try Seq.fill(threads)(pool.submit(worker)).foreach(_.get())
    finally pool.shutdown()
    Option(failure.get).foreach { case (k, e) =>
      throw new RuntimeException(
        s"partition $partitionCol=$k failed: ${e.getMessage}", e)
    }
    results.asScala.toMap
  }

  /** ONE compute pass over a work unit (a partition or a snapshot delta),
   * shared by [[run]] and [[runIncremental]] so the metrics contract and
   * manifest schema live in a single place: metrics ride the validated
   * write as CollectMetrics (observe) accumulators — no second
   * aggregation job, nothing cached (a 100 TB slice cannot be pinned in
   * executor memory) — and violation rows derive from the just-written
   * columnar output with a pushed-down passed=false filter, so only the
   * invalid fraction is re-read, never recomputed. */
  private def validateSlice(spark: SparkSession, checklist: Checklist,
      slice: DataFrame, manifestKey: String, outDir: String,
      violationsDir: String, manifestPath: String, runId: String,
      md5: String, rowIdCol: Option[String],
      contentCol: Option[String]): (Long, Long, Long) = {
    val startedAt = java.time.Instant.now().toString
    val validated = Validator.validate(slice, checklist,
      Validator.Options(rowIdCol, contentCol))
    val obs = org.apache.spark.sql.Observation(
      s"graft_metrics_${manifestKey.replaceAll("[^A-Za-z0-9_.]", "_")}")
    validated.observe(obs,
      count(lit(1)).as("n_rows"),
      count(when(!col(Validator.PassedCol), 1)).as("n_invalid"),
      sum(size(col(Validator.ViolationsCol))).as("n_violations"))
      .write.mode(SaveMode.Overwrite).parquet(outDir)
    val m = obs.get
    val nRows = m("n_rows").asInstanceOf[Long]
    val nInvalid = m("n_invalid").asInstanceOf[Long]
    val nViol = Option(m("n_violations")).fold(0L)(_.asInstanceOf[Long])
    // the schema just written: re-reading it skips the footer-inference job
    Validator.violationRows(spark.read.schema(validated.schema).parquet(outDir))
      .write.mode(SaveMode.Overwrite).parquet(violationsDir)
    appendManifestRow(spark, manifestPath, runId, manifestKey, md5,
      nRows, nInvalid, nViol, startedAt, "ok")
    (nRows, nInvalid, nViol)
  }

  final case class IncrementalResult(fromVersion: Long, toVersion: Long,
      nRows: Long, nInvalid: Long, nViolations: Long, skipped: Boolean)

  /**
   * INCREMENTAL validation over a snapshot-table delta — the
   * table-format-native companion to [[run]]: instead of re-validating
   * partitions, validate exactly the rows ADDED between two snapshot
   * versions ([[SnapshotTable.changesBetween]] — the
   * Iceberg incremental-append-scan shape), so a daily ingest validates
   * its delta, never the 100 TB table. Lineage rides the same manifest
   * table as [[run]] with the partition key `delta:v<from>..v<to>`: a
   * completed (delta, checklist_md5) pair skips on re-run, and a changed
   * checklist invalidates prior work automatically, exactly like the
   * partition runner. One compute pass (metrics ride the write as
   * `observe` accumulators); violation rows derive from the written
   * output with a pushed-down `passed = false` filter.
   */
  def runIncremental(spark: SparkSession, checklist: Checklist,
      tableRoot: String, fromVersion: Long, toVersion: Long,
      outputPath: String, violationsPath: String, manifestPath: String,
      rowIdCol: Option[String] = None, contentCol: Option[String] = None,
      runId: String = java.util.UUID.randomUUID().toString): IncrementalResult = {
    val md5 = checklistMd5(checklist)
    val key = s"delta:v$fromVersion..v$toVersion"
    if (completedPartitions(spark, manifestPath, md5).contains(key))
      return IncrementalResult(fromVersion, toVersion, 0, 0, 0, skipped = true)
    val delta = SnapshotTable.changesBetween(
      spark, tableRoot, fromVersion.toInt, toVersion.toInt)
    val (nRows, nInvalid, nViol) = validateSlice(spark, checklist, delta,
      key, s"$outputPath/delta=v${fromVersion}_v$toVersion",
      s"$violationsPath/delta=v${fromVersion}_v$toVersion",
      manifestPath, runId, md5, rowIdCol, contentCol)
    IncrementalResult(fromVersion, toVersion, nRows, nInvalid, nViol,
      skipped = false)
  }

  /** Serializes manifest appends: concurrent `SaveMode.Append` jobs into
   * one directory share its `_temporary/0`, which the first job commit
   * deletes under the others. */
  private val manifestLock = new Object

  private def appendManifestRow(spark: SparkSession, path: String,
      runId: String, partition: String, md5: String, nRows: Long,
      nInvalid: Long, nViolations: Long, startedAt: String,
      status: String): Unit = {
    import spark.implicits._
    val row = Seq((runId, partition, md5, nRows, nInvalid, nViolations,
      startedAt, java.time.Instant.now().toString, status))
      .toDF("run_id", "partition", "checklist_md5", "n_rows", "n_invalid",
        "n_violations", "started_at", "finished_at", "status")
      .coalesce(1)
    manifestLock.synchronized(row.write.mode(SaveMode.Append).parquet(path))
  }
}
