package graft.run

import org.apache.spark.sql.SparkSession

/**
 * spark-submit entry point for checkpointed, resumable validation runs —
 * the north_rule's operational shape ("launched via spark-submit on
 * multi-executor clusters ... resumable from checkpoint with
 * per-partition lineage + metrics"):
 *
 * {{{
 * spark-submit --class graft.run.CheckpointMain <jar> \
 *   --input  <table path: snapshot-manifest table or hive-layout parquet> \
 *   --partition-col <col> \
 *   --output <validated rows dir> --violations <violation rows dir> \
 *   --manifest <lineage/metrics table dir> \
 *   [--config <checklist.conf>]       reference Config::General grammar
 *   [--builtin code_files]            the synthetic north_rule checklist
 *   [--row-id <col>] [--content <col>]
 * }}}
 *
 * Row identity comes from the input: `--row-id` names a key column, copied
 * to `row_id` in messages and violation rows. Without it the input must
 * carry a `row_id` column; a run over an input with neither fails before
 * its first wave, naming `--row-id`.
 *
 * Pending partitions are validated in waves, one wave after another: a
 * wave of up to 32 partitions and 4 GiB of input is read once and
 * validated in one write job that spreads its partitions over every core.
 * Each partition's outputs then move into place, and the wave appends one
 * manifest row per partition. Re-running the same command after a kill
 * resumes at partition granularity, losing at most one wave; changing the
 * checklist re-validates everything (the lineage rows are keyed by the
 * checklist fingerprint). Exit code 0 when every partition committed, 1
 * otherwise: after a partition fails, the other partitions of its wave
 * still commit, no further wave starts, and the error names the failed
 * partition.
 */
object CheckpointMain {

  final case class Args(input: Option[String] = None, partitionCol: Option[String] = None,
      output: Option[String] = None, violations: Option[String] = None,
      manifest: Option[String] = None, config: Option[String] = None,
      builtin: Option[String] = None, rowId: Option[String] = None,
      content: Option[String] = None)

  @annotation.tailrec
  def parseArgs(args: List[String], acc: Args): Args = args match {
    case Nil => acc
    case "--input" :: v :: t => parseArgs(t, acc.copy(input = Some(v)))
    case "--partition-col" :: v :: t => parseArgs(t, acc.copy(partitionCol = Some(v)))
    case "--output" :: v :: t => parseArgs(t, acc.copy(output = Some(v)))
    case "--violations" :: v :: t => parseArgs(t, acc.copy(violations = Some(v)))
    case "--manifest" :: v :: t => parseArgs(t, acc.copy(manifest = Some(v)))
    case "--config" :: v :: t => parseArgs(t, acc.copy(config = Some(v)))
    case "--builtin" :: v :: t => parseArgs(t, acc.copy(builtin = Some(v)))
    case "--row-id" :: v :: t => parseArgs(t, acc.copy(rowId = Some(v)))
    case "--content" :: v :: t => parseArgs(t, acc.copy(content = Some(v)))
    case other :: _ => throw new IllegalArgumentException(s"unknown argument: $other")
  }

  /** Testable core: returns the per-partition results. */
  def run(spark: SparkSession, args: Args): Seq[CheckpointRunner.PartitionResult] = {
    def req(v: Option[String], n: String) =
      v.getOrElse(throw new IllegalArgumentException(s"--$n is required"))
    val checklist = (args.config, args.builtin) match {
      case (Some(path), _) => graft.model.ChecklistConfig.parseFile(path)
      case (_, Some("code_files")) => graft.sources.CodeFiles.checklist
      case (_, Some(other)) =>
        throw new IllegalArgumentException(s"unknown builtin checklist: $other")
      case _ => throw new IllegalArgumentException("--config or --builtin required")
    }
    CheckpointRunner.run(spark, checklist, CheckpointRunner.Config(
      inputPath = req(args.input, "input"),
      partitionCol = req(args.partitionCol, "partition-col"),
      outputPath = req(args.output, "output"),
      violationsPath = req(args.violations, "violations"),
      manifestPath = req(args.manifest, "manifest"),
      rowIdCol = args.rowId,
      contentCol = args.content))
  }

  def main(argv: Array[String]): Unit = {
    val args = parseArgs(argv.toList, Args())
    val spark = SparkSession.builder()
      .master(sys.env.getOrElse("SPARK_MASTER", "local[*]"))
      .appName("graft-checkpoint-validate")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val exit =
      try {
        val results = run(spark, args)
        results.foreach { r =>
          println(s"[checkpoint] ${r.partition}: " +
            (if (r.skipped) "skipped (already committed)"
             else s"rows=${r.nRows} invalid=${r.nInvalid} violations=${r.nViolations}"))
        }
        0
      } catch {
        case e: Exception => System.err.println(s"[checkpoint] FAILED: ${e.getMessage}"); 1
      } finally spark.stop()
    sys.exit(exit)
  }
}
