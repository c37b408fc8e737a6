package perfbench

import scala.collection.mutable
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Spans around the benchmark's calls into the library, with Spark
  * listener counters attached. Disabled, a span only runs its body: the
  * timed runs pay nothing. Enabled, spans are kept in memory and
  * written out by [[Tracer.report]] when the run ends.
  *
  * Jobs are attributed to the span whose id the submitting thread
  * carried as a local property (inherited by threads the library
  * starts inside the call); a job without one goes to the deepest span
  * whose interval contains its start.
  */
final class Tracer(sc: SparkContext, traced: Boolean, runId: String) {
  import Tracer._

  @volatile private var on = traced
  def enabled: Boolean = on

  private val epoch0 = System.currentTimeMillis() * 1000000L
  private val nano0 = System.nanoTime()
  private def nowNs: Long = epoch0 + (System.nanoTime() - nano0)

  private val spans = mutable.ArrayBuffer.empty[Span]
  private val stack = new ThreadLocal[List[Int]] {
    override def initialValue(): List[Int] = Nil
  }
  private val listener = new Counters
  if (traced) sc.addSparkListener(listener)

  /** Run `body` with tracing off and the listener detached. */
  def paused[T](body: => T): T =
    if (!traced) body
    else {
      on = false
      sc.removeSparkListener(listener)
      try body
      finally { sc.addSparkListener(listener); on = true }
    }

  /** Run `body` inside a span named `name`; `attrs` adds counts the
    * caller knows (rows, cells) to the span record.
    */
  def span[T](name: String, attrs: => Map[String, Double] = Map.empty)(
      body: => T): T =
    if (!enabled) body
    else {
      val parent = stack.get.headOption.getOrElse(-1)
      val id = spans.synchronized {
        spans += Span(spans.size, name, parent, runId, nowNs, 0L,
          Thread.currentThread().getName)
        spans.size - 1
      }
      val prevProp = sc.getLocalProperty(SpanProp)
      stack.set(id :: stack.get)
      sc.setLocalProperty(SpanProp, id.toString)
      try body
      finally {
        sc.setLocalProperty(SpanProp, prevProp)
        stack.set(stack.get.tail)
        val end = nowNs
        val a = attrs
        spans.synchronized {
          spans(id) = spans(id).copy(endNs = end, attrs = a)
        }
      }
    }

  /** Per-span records with inclusive counters and self time. */
  def report(): Seq[SpanReport] = {
    if (!traced) return Nil
    org.apache.spark.perfbench.ListenerBus.drain(sc)
    val ss = spans.synchronized(spans.toVector)
    val jobs = listener.jobs.synchronized(listener.jobs.values.toVector)
    val children = ss.groupBy(_.parent)
    def deepestContaining(tMs: Long): Int = {
      val t = tMs * 1000000L
      ss.filter(s => s.startNs <= t && t <= s.endNs && s.endNs > 0)
        .sortBy(s => depth(s, ss)).lastOption.map(_.id).getOrElse(-1)
    }
    val owner: Map[Int, Int] = jobs.map { j =>
      j.jobId -> j.spanProp.filter(_ < ss.size).getOrElse(deepestContaining(j.startMs))
    }.toMap
    def subtree(id: Int): Seq[Int] =
      id +: children.getOrElse(id, Nil).flatMap(c => subtree(c.id))
    ss.map { s =>
      val ids = subtree(s.id).toSet
      val js = jobs.filter(j => ids(owner(j.jobId)))
      val tasks = js.flatMap(_.stageIds).distinct.flatMap(listener.stageAgg)
      val wallMs = (s.endNs - s.startNs) / 1e6
      val childMs = covered(children.getOrElse(s.id, Nil)
        .map(c => (c.startNs, c.endNs)), s.startNs, s.endNs) / 1e6
      val jobMs = covered(js.map(j => (j.startMs * 1000000L,
        j.endMs * 1000000L)), s.startNs, s.endNs) / 1e6
      SpanReport(s, wallMs, wallMs - childMs, Map(
        "jobs" -> js.size.toDouble,
        "tasks" -> tasks.map(_.tasks).sum.toDouble,
        "executor_run_ms" -> tasks.map(_.runMs).sum.toDouble,
        "executor_cpu_ms" -> tasks.map(_.cpuNs).sum / 1e6,
        "shuffle_read_bytes" -> tasks.map(_.shuffleRead).sum.toDouble,
        "shuffle_write_bytes" -> tasks.map(_.shuffleWrite).sum.toDouble,
        "spill_bytes" -> tasks.map(_.spill).sum.toDouble,
        "gc_ms" -> tasks.map(_.gcMs).sum.toDouble,
        "driver_gap_ms" -> math.max(0.0, wallMs - jobMs)) ++ s.attrs)
    }
  }

  def close(): Unit = if (traced) sc.removeSparkListener(listener)
}

object Tracer {
  val SpanProp = "perfbench.span"

  case class Span(id: Int, name: String, parent: Int, runId: String,
      startNs: Long, endNs: Long, thread: String,
      attrs: Map[String, Double] = Map.empty)

  case class SpanReport(span: Span, wallMs: Double, selfMs: Double,
      counters: Map[String, Double]) {
    def apply(k: String): Double = counters.getOrElse(k, 0.0)
  }

  private def depth(s: Span, ss: Seq[Span]): Int =
    if (s.parent < 0) 0 else 1 + depth(ss(s.parent), ss)

  /** Length of the union of `iv` clipped to [lo, hi]. */
  def covered(iv: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    val clipped = iv.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0L
    var curA = Long.MinValue
    var curB = Long.MinValue
    clipped.foreach { case (a, b) =>
      if (a > curB) {
        if (curB > curA) total += curB - curA
        curA = a; curB = b
      } else curB = math.max(curB, b)
    }
    if (curB > curA) total += curB - curA
    total
  }

  case class JobRec(jobId: Int, startMs: Long, endMs: Long,
      spanProp: Option[Int], stageIds: Seq[Int])

  final class StageAgg {
    var tasks = 0L; var runMs = 0L; var cpuNs = 0L
    var shuffleRead = 0L; var shuffleWrite = 0L; var spill = 0L; var gcMs = 0L
  }

  final class Counters extends SparkListener {
    val jobs = mutable.Map.empty[Int, JobRec]
    private val stages =
      new java.util.concurrent.ConcurrentHashMap[Integer, StageAgg]()
    def stageAgg(id: Int): Option[StageAgg] = Option(stages.get(id))

    override def onJobStart(e: SparkListenerJobStart): Unit = jobs.synchronized {
      val prop = Option(e.properties).flatMap(p =>
        Option(p.getProperty(SpanProp))).map(_.toInt)
      jobs(e.jobId) = JobRec(e.jobId, e.time, e.time, prop, e.stageIds)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = jobs.synchronized {
      jobs.get(e.jobId).foreach(j => jobs(e.jobId) = j.copy(endMs = e.time))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m != null) {
        val a = stages.computeIfAbsent(e.stageId, _ => new StageAgg)
        a.synchronized {
          a.tasks += 1
          a.runMs += m.executorRunTime
          a.cpuNs += m.executorCpuTime
          a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
          a.gcMs += m.jvmGCTime
        }
      }
    }
  }

}
