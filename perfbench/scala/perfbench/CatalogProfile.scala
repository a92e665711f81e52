package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import graft.Bench.WindowProbe
import graft.SparkEntry

/**
 * `catalog_profile`: passes over the `SparkEntry.queries` named in
 * `--queries` on the fixture directory `--sf`, each result driven through
 * full output to a `noop` sink; each query's run is one sample. `.count()`
 * would let Catalyst prune every column the count never reads, which for
 * the text and dedup queries is most of their work.
 *
 * Before timing, one pass over `--check_sf` writes every result to parquet
 * (as `graft.Verify` does) together with the queries' oracle SQL, for the
 * DuckDB comparison `run.py` makes after this process exits; that pass,
 * one query per core, is also the warm-up. The seed only permutes the
 * query order.
 */
object CatalogProfile {
  import BenchMain._

  def run(ctx: Ctx): Seq[(String, Any)] = {
    val spark = ctx.spark
    val sf = ctx.opt("sf")
    val checkSf = ctx.opt("check_sf")
    val queries = ctx.opt("queries").split(",").toSeq
    val order = new scala.util.Random(ctx.seed).shuffle(queries)
    val fns = SparkEntry.queries
    val checkDir = ctx.path("check")

    val (_, warmS) = seconds {
      inParallel(ctx.cpus)(order.map(q => () =>
        fns(q)(spark, checkSf).coalesce(1).write.mode("overwrite")
          .parquet(s"$checkDir/$q.parquet")))
    }
    val oracles = SparkEntry.oracleSql
    Files.write(Paths.get(checkDir, "oracle_sql.json"),
      Json.obj(queries.map(q => q -> oracles(q))).getBytes(StandardCharsets.UTF_8))

    // a sample is one query's full output; a pass runs every query once,
    // and passes repeat until the window has passed
    val samples = scala.collection.mutable.ArrayBuffer.empty[Map[String, Any]]
    def pass(i: Int): Unit = for (q <- order) {
      System.gc()
      val cpu0 = WindowProbe.selfCpuSec()
      val (fields, w) = WindowProbe.around {
        try { ctx.tracer.span(s"queries.$q.full")(noop(fns(q)(spark, sf))); Seq.empty }
        catch { case e: Exception => Seq("error" -> e.toString) }
      }
      if (i >= 0)
        samples += sample(Seq("query" -> q, "pass" -> i) ++ fields, w,
          WindowProbe.selfCpuSec() - cpu0)
    }
    val (firstOpMs, _) = timedLoop(ctx.seconds) { i => pass(i); Seq.empty }
    val layers =
      if (!ctx.trace) Map.empty
      else {
        ctx.tracer.activate()
        pass(-1)
        perQuery(ctx, order)
      }
    Seq("first_op_ms" -> firstOpMs, "warmup_s" -> warmS, "order" -> order,
      "check_dir" -> checkDir, "check_sf" -> checkSf, "sf" -> sf,
      "samples" -> samples.toSeq, "layers" -> layers)
  }

  /** Per query: full-output and `.count()` seconds, and the scheduler
   * counts of the full-output run. */
  def perQuery(ctx: Ctx, order: Seq[String]): Map[String, Any] = {
    val t = ctx.tracer
    val fns = SparkEntry.queries
    for (q <- order) t.span(s"queries.$q.count")(fns(q)(ctx.spark, ctx.opt("sf")).count())
    val perQ = order.flatMap { q =>
      val c = t.meanCounts(s"queries.$q.full")
      Seq(s"queries.$q.full_s" -> median(t.seconds(s"queries.$q.full")),
        s"queries.$q.count_s" -> median(t.seconds(s"queries.$q.count")),
        s"queries.$q.jobs" -> c("jobs"),
        s"queries.$q.shuffle_bytes" -> c("shuffle_write_bytes"),
        s"queries.$q.spill_bytes" -> c("spill_bytes"))
    }
    val perPass = order.map(q => t.meanCounts(s"queries.$q.full"))
    (perQ ++ Seq(
      "trace.op_p50_ms" -> order.map(q => median(t.seconds(s"queries.$q.full"))).sum * 1000,
      "counts" -> Counters.Names.map(k => k -> perPass.map(_(k)).sum).toMap)).toMap
  }
}
