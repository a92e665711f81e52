package graft.run

import org.apache.spark.sql.{Observation, SparkSession}
import org.apache.spark.sql.functions.{col, count, when}

import graft.engine.Validator
import graft.model.ChecklistConfig
import graft.sources.ManifestReader

/**
 * `spark-submit` entry point mirroring the reference CLI
 * (reference: bin/validate_manifest:16-76):
 *
 *   graft.run.Main --config checklist.conf [-o out.csv] [-i] [-v] input.csv
 *
 *   --config/-c  checklist config (or $CHECKLIST_CONFIG)
 *   --output/-o  write validated CSV (error message appended as a trailing
 *                column, reference: Manifest.pm:371-402)
 *   --write-invalid/-i  write only invalid rows
 *   --verbose-errors/-v append field descriptions to messages
 *
 * Prints the reference report wording and exits 0 (valid) / 1 (invalid).
 */
object Main {

  final case class Args(config: Option[String] = None, output: Option[String] = None,
      invalidOnly: Boolean = false, verbose: Boolean = false, input: Option[String] = None)

  @annotation.tailrec
  def parseArgs(rest: List[String], acc: Args): Args = rest match {
    case Nil => acc
    case ("--config" | "-c") :: v :: t => parseArgs(t, acc.copy(config = Some(v)))
    case ("--output" | "-o") :: v :: t => parseArgs(t, acc.copy(output = Some(v)))
    case ("--write-invalid" | "-i") :: t => parseArgs(t, acc.copy(invalidOnly = true))
    case ("--verbose-errors" | "-v") :: t => parseArgs(t, acc.copy(verbose = true))
    case v :: t => parseArgs(t, acc.copy(input = Some(v)))
  }

  /** The whole CLI path minus process concerns — returns the exit code
   * (0 valid / 1 invalid, reference: bin/validate_manifest:76) so tests can
   * drive it black-box like t/07_validate_manifest.t. */
  def run(args: Args, spark: SparkSession): Int = {
    val configPath = args.config.orElse(sys.env.get("CHECKLIST_CONFIG")).getOrElse {
      System.err.println("ERROR: must specify a configuration file")
      return 1
    }
    val input = args.input.getOrElse {
      System.err.println("ERROR: must specify an input file")
      return 1
    }

    val checklist = ChecklistConfig.parseFile(configPath)
    val manifest = ManifestReader.readCsv(spark, input, checklist)
    manifest.warnings.foreach(w => System.err.println(s"WARNING: $w"))

    // ManifestReader's frame carries `row_id`, in manifest order
    val validated = Validator.validate(manifest.df, checklist,
      Validator.Options(verboseErrors = args.verbose))
    val invalid = args.output.fold(Validator.invalidRowCount(validated)) { out =>
      // CSV with the error message appended as an extra trailing column; the
      // invalid count rides its one write job, observed below the
      // invalid-only filter so that it sees every row
      val obs = Observation()
      Validator.manifestCsv(validated.observe(obs,
          count(when(!col(Validator.PassedCol), 1)).as("invalid")), checklist, args.invalidOnly)
        .coalesce(1).write.mode("overwrite").option("header", "true").csv(out)
      obs.get("invalid").asInstanceOf[Long]
    }
    val (report, exit) = Validator.report(input, invalid)
    println(report)
    exit
  }

  def main(argv: Array[String]): Unit = {
    val args = parseArgs(argv.toList, Args())
    val spark = SparkSession.builder()
      .master(sys.env.getOrElse("SPARK_MASTER", "local[*]"))
      .appName("graft-validate")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val exit = try Main.run(args, spark) finally spark.stop()
    sys.exit(exit)
  }
}
