package perfbench

import java.util.concurrent.atomic.AtomicLongArray

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.PerfbenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** Scheduler-side work counters, summed over every job of the session. */
final class Counters extends SparkListener {
  import Counters._
  private val c = new AtomicLongArray(Names.size)

  override def onJobStart(e: SparkListenerJobStart): Unit = c.incrementAndGet(Jobs)
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    c.incrementAndGet(Stages)
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    c.incrementAndGet(Tasks)
    val m = e.taskMetrics
    if (m != null) {
      c.addAndGet(CpuNs, m.executorCpuTime)
      c.addAndGet(GcMs, m.jvmGCTime)
      c.addAndGet(BytesRead, m.inputMetrics.bytesRead)
      c.addAndGet(BytesWritten, m.outputMetrics.bytesWritten)
      c.addAndGet(ShuffleWrite, m.shuffleWriteMetrics.bytesWritten)
      c.addAndGet(Spill, m.diskBytesSpilled)
    }
  }

  def snapshot(): Array[Long] = Array.tabulate(Names.size)(c.get)
}

object Counters {
  val Names = Vector("jobs", "stages", "tasks", "task_cpu_ns", "gc_ms",
    "bytes_read", "bytes_written", "shuffle_write_bytes", "spill_bytes")
  val Jobs = 0; val Stages = 1; val Tasks = 2; val CpuNs = 3; val GcMs = 4
  val BytesRead = 5; val BytesWritten = 6; val ShuffleWrite = 7; val Spill = 8
}

/**
 * In-memory spans around calls into the program's public functions. Each
 * span records its parent and the scheduler counters accrued while it was
 * open; all spans of one process share `runId`. Until [[activate]], `span`
 * only evaluates its body and no listener is registered, so the untraced
 * measurements pay nothing.
 */
final class Tracer(spark: SparkSession, val runId: String) {
  import Tracer.Span

  private val counters = new Counters
  private var active = false
  val spans = ArrayBuffer.empty[Span]
  private var open: List[Int] = Nil

  def enabled: Boolean = active

  def activate(): Unit = if (!active) {
    spark.sparkContext.addSparkListener(counters)
    active = true
  }

  def span[A](name: String)(body: => A): A =
    if (!active) body
    else {
      PerfbenchBus.drain(spark.sparkContext)
      val c0 = counters.snapshot()
      val id = spans.size + open.size
      val parent = open.headOption.getOrElse(-1)
      open = id :: open
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        PerfbenchBus.drain(spark.sparkContext)
        val c1 = counters.snapshot()
        open = open.tail
        spans += Span(id, parent, name, t0, t1, c1.zip(c0).map(p => p._1 - p._2))
      }
    }

  def named(name: String): Seq[Span] = spans.filter(_.name == name).toSeq

  /** Seconds of each span called `name`, in call order. */
  def seconds(name: String): Seq[Double] = named(name).map(_.seconds)

  /** Scheduler counters per span called `name`, averaged over its calls. */
  def meanCounts(name: String): Map[String, Double] = {
    val ss = named(name)
    require(ss.nonEmpty, s"no span named $name")
    Counters.Names.indices.map(i =>
      Counters.Names(i) -> ss.map(_.counts(i).toDouble).sum / ss.size).toMap
  }

  def writeJsonLines(path: java.nio.file.Path): Unit = {
    val lines = spans.sortBy(_.id).map { s =>
      Json.obj(Seq("run_id" -> runId, "id" -> s.id, "parent" -> s.parent,
        "name" -> s.name, "start_ns" -> s.startNs, "end_ns" -> s.endNs) ++
        Counters.Names.zip(s.counts.toSeq))
    }
    java.nio.file.Files.write(path, lines.mkString("", "\n", "\n")
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
  }
}

object Tracer {
  final case class Span(id: Int, parent: Int, name: String,
      startNs: Long, endNs: Long, counts: Array[Long]) {
    def seconds: Double = (endNs - startNs) / 1e9
  }
}

/** Just enough JSON output for flat records of numbers and strings. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def value(v: Any): String = v match {
    case null => "null"
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Number => n.toString
    case m: collection.Map[_, _] => obj(m.toSeq.map { case (k, x) => k.toString -> x })
    case xs: Iterable[_] => xs.map(value).mkString("[", ",", "]")
    case other => str(other.toString)
  }

  def obj(fields: Seq[(String, Any)]): String =
    fields.map { case (k, v) => s"${str(k)}:${value(v)}" }.mkString("{", ",", "}")
}
