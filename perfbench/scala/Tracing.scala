package perfbench

import java.util.concurrent.atomic.AtomicLongArray
import scala.collection.mutable.ArrayBuffer
import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}

/** Engine-wide task counters, cumulative since registration. Index order
  * is [[Counters.Names]]; a snapshot minus an earlier one gives the work
  * done between two span boundaries. */
final class TaskCounters extends SparkListener {
  private val c = new AtomicLongArray(Counters.Names.length)
  override def onJobStart(ev: SparkListenerJobStart): Unit = c.incrementAndGet(0)
  override def onTaskEnd(ev: SparkListenerTaskEnd): Unit = {
    c.incrementAndGet(1)
    if (ev.reason != org.apache.spark.Success) c.incrementAndGet(2)
    val m = ev.taskMetrics
    if (m != null) {
      c.addAndGet(3, m.executorRunTime)
      c.addAndGet(4, m.jvmGCTime)
      c.addAndGet(5, m.shuffleReadMetrics.fetchWaitTime)
      c.addAndGet(6, m.shuffleWriteMetrics.bytesWritten)
      c.addAndGet(7, m.diskBytesSpilled)
      c.addAndGet(8, m.inputMetrics.recordsRead)
    }
  }
  def snapshot(): Counters = Counters(Array.tabulate(Counters.Names.length)(c.get))
}

final case class Counters(v: Array[Long]) {
  def -(o: Counters): Counters = Counters(v.zip(o.v).map { case (a, b) => a - b })
  def apply(name: String): Long = v(Counters.Names.indexOf(name))
}

object Counters {
  val Names: Seq[String] = Seq("jobs", "tasks", "failed_tasks", "run_ms", "gc_ms",
    "fetch_wait_ms", "shuffle_write_bytes", "spill_bytes", "records_read")
  val Zero: Counters = Counters(Array.fill(Names.length)(0L))
}

/** One traced call into a layer. `parent` is the enclosing span's id (-1
  * at top level); `req` the request (or job) it belongs to. */
final case class Span(id: Int, name: String, parent: Int, req: Long,
                      start: Long, var end: Long = 0L,
                      var counts: Counters = Counters.Zero) {
  def ms: Double = (end - start) / 1e6
}

/** Span recorder. Disabled, [[span]] is a plain call; enabled, every span
  * boundary first drains the listener bus and snapshots the task counters,
  * so each span carries the engine work done inside it. Spans stay in
  * memory until [[write]] at the end of the run. */
final class Tracer(sc: SparkContext, val enabled: Boolean) {
  val spans = ArrayBuffer.empty[Span]
  /** Whether spans are recorded right now: off during untimed warm-up. */
  var on: Boolean = enabled
  private val counters = new TaskCounters
  private var stack = List.empty[Span]
  var req = 0L
  /** Time spent in the tracer's own boundary work (bus drains, counter
    * snapshots): what tracing adds to the run. */
  var busyNs = 0L
  if (enabled) sc.addSparkListener(counters)

  def counts(): Counters =
    if (!enabled) Counters.Zero
    else {
      val t0 = System.nanoTime()
      org.apache.spark.perfbench.Bus.drain(sc)
      val c = counters.snapshot()
      busyNs += System.nanoTime() - t0
      c
    }

  /** Start a span that ends at a later [[close]] — for boundaries that
    * arrive through callbacks. None while the tracer is off. */
  def open(name: String): Option[Span] =
    if (!on) None
    else {
      val before = counts()
      val s = Span(spans.size, name, stack.headOption.map(_.id).getOrElse(-1), req,
        System.nanoTime(), counts = before)
      spans += s
      stack = s :: stack
      Some(s)
    }

  def close(span: Option[Span]): Unit = span.foreach { s =>
    s.end = System.nanoTime()
    stack = stack.dropWhile(_ ne s).drop(1)
    s.counts = counts() - s.counts
  }

  def span[T](name: String)(body: => T): T = {
    val s = open(name)
    try body finally close(s)
  }

  def named(name: String): Seq[Span] = spans.filter(_.name == name).toSeq

  /** Duration minus the part covered by direct children. */
  def selfMs(s: Span): Double =
    s.ms - spans.filter(_.parent == s.id).map(_.ms).sum

  def write(path: String): Unit = {
    val w = new java.io.PrintWriter(path, "UTF-8")
    try spans.foreach { s =>
      val fields = Seq("id" -> s.id, "name" -> s.name, "parent" -> s.parent,
        "req" -> s.req, "start_ms" -> s.start / 1e6, "end_ms" -> s.end / 1e6,
        "self_ms" -> selfMs(s)) ++ Counters.Names.zip(s.counts.v.toSeq)
      w.println(Json.obj(fields))
    } finally w.close()
  }
}
