package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.Bench.WindowProbe

/**
 * JVM side of the benchmark: runs one workload in one Spark session and
 * writes what it measured to `<work>/result.json`. Inputs are made by the
 * caller (`run.py`) or, for the snapshot table, here from `--seed`; the
 * output checks run in `run.py` after this process has exited, so no
 * checking happens inside a timed window.
 *
 *   perfbench.BenchMain --workload <name> --work <dir> --seed <n>
 *     --seconds <s> --trace <0|1> [workload options]
 */
object BenchMain {

  /** `trace`: after the untraced window, activate `tracer` and measure
   * the workload's layers. */
  final class Ctx(val spark: SparkSession, val cpus: Int, val work: String,
      val seed: Long, val seconds: Double, val trace: Boolean,
      val tracer: Tracer, opts: Map[String, String]) {
    def opt(k: String): String =
      opts.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    def path(rel: String): String = s"$work/$rel"
  }

  /** A timed operation's record: wall time, host telemetry of its window
   * and this JVM's CPU seconds, plus what the operation reported. */
  def sample(fields: Seq[(String, Any)], w: WindowProbe.Window,
      cpuS: Double): Map[String, Any] =
    Map[String, Any]("wall_s" -> w.wallSec, "steal_pct" -> w.stealPct,
      "ext_cores" -> w.extCores, "loadavg" -> w.loadavg, "clean" -> w.clean,
      "cpu_s" -> cpuS) ++ fields

  /** Run `op` until `seconds` have passed since the first call and it ran
   * at least `minOps` times. Every call is kept, whatever its window looked
   * like; one that throws is kept with its error, for `run.py` to count as
   * failed. Returns the epoch milliseconds of the first call and the
   * samples. */
  def timedLoop(seconds: Double, minOps: Int = 1)(op: Int => Seq[(String, Any)])
      : (Long, Seq[Map[String, Any]]) = {
    val out = ArrayBuffer.empty[Map[String, Any]]
    val firstMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    var i = 0
    while (i < minOps || (System.nanoTime() - t0) / 1e9 < seconds) {
      System.gc() // no operation pays for garbage an earlier one left
      val cpu0 = WindowProbe.selfCpuSec()
      val (fields, w) = WindowProbe.around {
        try op(i)
        catch { case e: Exception => Seq("error" -> e.toString) }
      }
      out += sample(fields, w, WindowProbe.selfCpuSec() - cpu0)
      i += 1
    }
    (firstMs, out.toSeq)
  }

  /** Run independent tasks on `threads` threads; rethrows the
   * first failure. A cold JVM spends most of a warm-up generating and
   * compiling code, which is single-threaded per query. */
  def inParallel(threads: Int)(tasks: Seq[() => Unit]): Unit = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(threads)
    try tasks.map(t => pool.submit(new java.util.concurrent.Callable[Unit] {
      def call(): Unit = t()
    })).foreach(_.get())
    finally pool.shutdown()
  }

  /** Full output: every column of every row computed, then discarded. */
  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  def seconds[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = f
    (a, (System.nanoTime() - t0) / 1e9)
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** The process's peak resident set (VmHWM), in MiB. */
  def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().collectFirst {
      case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024
    }.getOrElse(Double.NaN)
    finally src.close()
  }

  def parseArgs(argv: Array[String]): Map[String, String] =
    argv.grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      case other => throw new IllegalArgumentException(
        s"expected --key value pairs, got ${other.mkString(" ")}")
    }.toMap

  def main(argv: Array[String]): Unit = {
    val opts = parseArgs(argv)
    val workload = opts("workload")
    val work = opts("work")
    val trace = opts("trace") == "1"
    val cpus = math.min(4, Runtime.getRuntime.availableProcessors())
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sessionReadyMs = System.currentTimeMillis()
    val runId = java.util.UUID.randomUUID().toString
    val tracer = new Tracer(spark, runId)
    val ctx = new Ctx(spark, cpus, work, opts("seed").toLong,
      opts("seconds").toDouble, trace, tracer, opts)
    val result = try workload match {
      case "table_validate" => TableValidate.run(ctx)
      case "catalog_profile" => CatalogProfile.run(ctx)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    } finally spark.stop()
    if (trace) tracer.writeJsonLines(Paths.get(work, "spans.jsonl"))
    val jvmStartMs =
      java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val doc = Json.obj(Seq(
      "workload" -> workload, "run_id" -> runId, "cpus" -> cpus,
      "jvm_start_ms" -> jvmStartMs, "session_ready_ms" -> sessionReadyMs,
      "peak_rss_mb" -> peakRssMb()) ++ result)
    Files.write(Paths.get(work, "result.json"),
      doc.getBytes(StandardCharsets.UTF_8))
  }
}
