package graftbench

import java.util.concurrent.atomic.AtomicLongArray

import scala.collection.mutable

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession

/** Spark work counters fed by a listener the benchmark registers. */
final class Counters extends SparkListener {
  import Counters._
  private val v = new AtomicLongArray(Names.size)

  override def onJobStart(e: SparkListenerJobStart): Unit = v.incrementAndGet(Jobs)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    v.incrementAndGet(Tasks)
    val m = e.taskMetrics
    if (m != null) {
      v.addAndGet(CpuNs, m.executorCpuTime)
      v.addAndGet(RecordsRead, m.inputMetrics.recordsRead)
      v.addAndGet(BytesRead, m.inputMetrics.bytesRead)
      v.addAndGet(BytesWritten, m.outputMetrics.bytesWritten)
      v.addAndGet(RecordsWritten, m.outputMetrics.recordsWritten)
      v.addAndGet(ShuffleWrite, m.shuffleWriteMetrics.bytesWritten)
      v.addAndGet(ShuffleRead, m.shuffleReadMetrics.totalBytesRead)
      v.addAndGet(Spill, m.memoryBytesSpilled + m.diskBytesSpilled)
    }
  }

  def read(): Array[Long] = Array.tabulate(Names.size)(v.get)
}

object Counters {
  val Names: Seq[String] = Seq("jobs", "tasks", "cpu_ns", "records_read", "bytes_read",
    "bytes_written", "records_written", "shuffle_write_bytes", "shuffle_read_bytes",
    "spill_bytes")
  private val Jobs = 0; private val Tasks = 1; private val CpuNs = 2
  private val RecordsRead = 3; private val BytesRead = 4; private val BytesWritten = 5
  private val RecordsWritten = 6; private val ShuffleWrite = 7; private val ShuffleRead = 8
  private val Spill = 9
}

/** Times the workload's calls into the program.
  *
  * Every call records its duration. With tracing on, every call also
  * records a span: name, start, end, parent span, the listener counters
  * and the `PhaseStats` seconds accrued inside it. Spans stay in memory
  * until [[writeSpans]]. With tracing off no listener is registered and
  * nothing but the clock is read.
  */
final class Tracer(spark: SparkSession, val traced: Boolean) {
  final case class Span(id: Int, parent: Int, name: String, t0: Long, t1: Long,
      ctr: Array[Long], phases: Map[String, Double], rows: Long)

  private val counters: Option[Counters] =
    if (traced) {
      val c = new Counters
      spark.sparkContext.addSparkListener(c)
      Some(c)
    } else None

  val samples = mutable.LinkedHashMap[String, mutable.ArrayBuffer[Double]]()
  val values = mutable.LinkedHashMap[String, Double]()
  val spans = mutable.ArrayBuffer[Span]()
  private val stack = mutable.Stack[Int]()
  private var nextId = 0
  var attempted = 0L
  var failed = 0L
  val failures = mutable.ArrayBuffer[String]()

  private def flush(): Unit = org.apache.spark.graftbench.BusFlush(spark.sparkContext)

  private def phaseSecs(): Map[String, Double] =
    graft.store.PhaseStats.snapshot().map { case (k, (_, s)) => k -> s }

  /** Runs one timed call, records its seconds under `name` and, when
    * traced, a span. `rows` is the call's input or output row count. */
  def call[T](name: String, rows: Long = 0L)(f: => T): T = {
    attempted += 1
    counters match {
      case None =>
        val t0 = System.nanoTime()
        val r = f
        sample(name, (System.nanoTime() - t0) / 1e9)
        r
      case Some(c) =>
        flush()
        val id = nextId; nextId += 1
        val parent = stack.headOption.getOrElse(-1)
        val c0 = c.read(); val p0 = phaseSecs()
        stack.push(id)
        val t0 = System.nanoTime()
        val r = try f finally stack.pop()
        val t1 = System.nanoTime()
        flush()
        val c1 = c.read(); val p1 = phaseSecs()
        val dp = p1.map { case (k, s) => k -> (s - p0.getOrElse(k, 0.0)) }.filter(_._2 > 0)
        spans += Span(id, parent, name, t0, t1, c1.zip(c0).map { case (a, b) => a - b },
          dp, rows)
        sample(name, (t1 - t0) / 1e9)
        r
    }
  }

  /** Sets the row count of the span just closed (traced runs only). */
  def rows(n: Long): Unit =
    if (spans.nonEmpty) spans(spans.size - 1) = spans.last.copy(rows = n)

  def sample(name: String, secs: Double): Unit =
    samples.getOrElseUpdate(name, mutable.ArrayBuffer()) += secs

  def value(name: String, v: Double): Unit = values(name) = v

  /** An output check. A failed check counts as a failed call. */
  def check(name: String, ok: Boolean, detail: => String = ""): Unit =
    if (!ok) {
      failed += 1
      failures += s"$name: $detail"
    }

  def writeSpans(path: String): Unit = {
    val w = new java.io.PrintWriter(path, "UTF-8")
    try spans.foreach { s =>
      val ctr = Counters.Names.zip(s.ctr).map { case (k, v) => s"\"$k\":$v" }.mkString(",")
      val ph = s.phases.map { case (k, v) => s"\"$k\":${Json.num(v)}" }.mkString(",")
      w.println(s"""{"id":${s.id},"parent":${s.parent},"name":"${s.name}",""" +
        s""""start_ns":${s.t0},"end_ns":${s.t1},"rows":${s.rows},""" +
        s""""counters":{$ctr},"phases":{$ph}}""")
    } finally w.close()
  }
}

/** Minimal JSON rendering for the result file. */
object Json {
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
}
