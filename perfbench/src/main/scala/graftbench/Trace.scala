package graftbench

import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable.ArrayBuffer
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.graftbench.Internals

/** Listener totals since the session started. Spans read them at their
  * boundaries, so a span's counts are the deltas over its interval. */
final class Counters extends SparkListener {
  val names: Seq[String] = Seq("jobs", "stages", "tasks", "task_cpu_ns",
    "task_run_ms", "gc_ms", "input_bytes", "input_records", "shuffle_read_bytes",
    "shuffle_write_bytes", "spill_bytes", "output_bytes")
  private val c = names.map(_ -> new AtomicLong).toMap

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    c("jobs").incrementAndGet()
    c("stages").addAndGet(e.stageInfos.size.toLong)
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    c("tasks").incrementAndGet()
    val m = e.taskMetrics
    if (m != null) {
      c("task_cpu_ns").addAndGet(m.executorCpuTime)
      c("task_run_ms").addAndGet(m.executorRunTime)
      c("gc_ms").addAndGet(m.jvmGCTime)
      c("input_bytes").addAndGet(m.inputMetrics.bytesRead)
      c("input_records").addAndGet(m.inputMetrics.recordsRead)
      c("shuffle_read_bytes").addAndGet(m.shuffleReadMetrics.totalBytesRead)
      c("shuffle_write_bytes").addAndGet(m.shuffleWriteMetrics.bytesWritten)
      c("spill_bytes").addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
      c("output_bytes").addAndGet(m.outputMetrics.bytesWritten)
    }
  }
  def snapshot(): Array[Long] = names.map(n => c(n).get).toArray
}

final case class Span(id: Int, parent: Int, op: Int, name: String,
    startNs: Long, endNs: Long, counts: Array[Long])

/** In-memory span recorder. When off, `span` only runs the body. When on,
  * each span drains the listener bus at both ends so the Spark work its
  * body started is attributed to it; spans are written out by the caller
  * when the run ends. */
final class Tracer(var on: Boolean, spark: SparkSession, counters: Counters) {
  val spans = ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private var nextId = 0
  var op = -1

  /** Time the tracer itself spent at span boundaries. */
  var bookkeepingNs = 0L

  private def drained(): Array[Long] = {
    val t0 = System.nanoTime()
    Internals.drainListeners(spark.sparkContext)
    val c = counters.snapshot()
    bookkeepingNs += System.nanoTime() - t0
    c
  }

  def span[T](name: String)(body: => T): T =
    if (!on) body
    else {
      val id = nextId; nextId += 1
      val parent = stack.headOption.getOrElse(-1)
      stack = id :: stack
      val c0 = drained()
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        val c1 = drained()
        stack = stack.tail
        spans += Span(id, parent, op, name, t0, t1,
          c1.zip(c0).map { case (a, b) => a - b })
      }
    }

  def toJsonLines: Iterator[String] = spans.iterator.map { s =>
    val counts = counters.names.zip(s.counts)
      .map { case (k, v) => s""""$k":$v""" }.mkString(",")
    s"""{"id":${s.id},"parent":${s.parent},"op":${s.op},"name":${Json.str(s.name)},""" +
      s""""start_ns":${s.startNs},"end_ns":${s.endNs},$counts}"""
  }
}

object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case '\r' => b ++= "\\r"
      case '\t' => b ++= "\\t"
      case ch if ch < ' ' => b ++= f"\\u${ch.toInt}%04x"
      case ch => b += ch
    }
    b += '"'
    b.toString
  }

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else d.toString

  /** Minimal encoder for the harness's own records: String, numbers,
    * Boolean, Seq, Map[String, _] and null. */
  def apply(v: Any): String = v match {
    case null => "null"
    case s: String => str(s)
    case d: Double => num(d)
    case b @ (_: Boolean | _: Int | _: Long) => b.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => str(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(apply).mkString("[", ",", "]")
    case x => str(x.toString)
  }
}
