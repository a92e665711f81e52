package perfbench

import java.io.{ByteArrayOutputStream, File, PrintStream}

import graft.compile.ChecklistCompiler
import graft.engine.Validator
import graft.model.ChecklistConfig
import graft.run.Main
import graft.sources.ManifestReader

/**
 * The manifest CLI path, profiled in `table_validate`'s traced run: calls
 * of `graft.run.Main.run` with `-o` on the manifest CSVs in `--manifests`,
 * one at a time, then the same steps `Main.run` takes, one public function
 * at a time, each behind its own span.
 */
object ManifestCli {
  import BenchMain._

  val WarmupCalls = 3
  val Calls = 10
  val PhaseRounds = 6
  private val Invalid = """is invalid\. Found (\d+) invalid rows""".r.unanchored

  def profile(ctx: Ctx): (Seq[Map[String, Any]], Map[String, Any]) = {
    val dir = ctx.opt("manifests")
    val config = s"$dir/checklist.conf"
    val manifests = new File(dir).listFiles().map(_.getPath)
      .filter(_.endsWith(".csv")).sorted.toSeq
    require(manifests.nonEmpty, s"no manifests in $dir")
    val t = ctx.tracer

    /** One CLI call; its report line is captured, not printed. */
    def call(i: Int, span: String): Seq[(String, Any)] = {
      val input = manifests(i % manifests.size)
      val out = ctx.path(s"cli/$span/m$i")
      val buf = new ByteArrayOutputStream()
      val exit = Console.withOut(new PrintStream(buf, true, "UTF-8")) {
        t.span(span) {
          Main.run(Main.Args(config = Some(config), output = Some(out),
            input = Some(input)), ctx.spark)
        }
      }
      val reported = buf.toString("UTF-8") match {
        case Invalid(n) => n.toLong
        case _ => 0L
      }
      Seq("manifest" -> input, "out" -> out, "exit" -> exit,
        "invalid_reported" -> reported)
    }

    for (i <- 0 until WarmupCalls) call(i, "cli.warmup")
    val (_, samples) = timedLoop(0, minOps = Calls)(call(_, "run.main"))
    for (i <- 0 until PhaseRounds) {
      val input = manifests(i % manifests.size)
      val checklist = t.span("model.parse")(ChecklistConfig.parseFile(config))
      t.span("compile.compile")(ChecklistCompiler.compile(checklist))
      val manifest = t.span("sources.manifest_read") {
        ManifestReader.readCsv(ctx.spark, input, checklist)
      }
      val validated = t.span("engine.plan") {
        val v = Validator.validate(manifest.df, checklist,
          Validator.Options(rowIdCol = Some("row_id"))).cache()
        v.queryExecution.executedPlan
        v
      }
      t.span("engine.count")(Validator.invalidRowCount(validated))
      t.span("run.csv_write") {
        Validator.manifestCsv(validated, checklist).coalesce(1)
          .write.mode("overwrite").option("header", "true")
          .csv(ctx.path(s"cli/phases/m$i"))
      }
      validated.unpersist()
    }
    def medMs(name: String): Double = median(t.seconds(name)) * 1000
    (samples, Map(
      "model.parse_ms" -> medMs("model.parse"),
      "compile.compile_ms" -> medMs("compile.compile"),
      "sources.manifest_read_ms" -> medMs("sources.manifest_read"),
      "engine.plan_ms" -> medMs("engine.plan"),
      "engine.count_ms" -> medMs("engine.count"),
      "run.csv_write_ms" -> medMs("run.csv_write"),
      "run.jobs_per_manifest" -> t.meanCounts("run.main")("jobs")))
  }
}
