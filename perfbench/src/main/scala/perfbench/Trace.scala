package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart,
  SparkListenerTaskEnd}
import scala.jdk.CollectionConverters._

/** One closed span. `parent` is 0 for a root; `traceId` names the unit of
  * work the span belongs to (a job row, a query name, a stream pass). */
final case class Span(id: Long, name: String, traceId: String, parent: Long,
    startNs: Long, endNs: Long) {
  def durNs: Long = endNs - startNs
}

/** A span that has been opened and not yet closed. */
final class OpenSpan(val id: Long, val name: String, val traceId: String, val parent: Long,
    val startNs: Long)

/** In-memory span recorder. Spans nest per thread; a span opened on a
  * thread with no open span takes [[ambient]] as its parent, which is how
  * job spans running on the runner's worker threads hang under the poll
  * cycle that started them. The open span's id is also set as a Spark
  * local property, so the benchmark's listener can charge each Spark job
  * to the span that launched it. A disabled tracer records nothing. */
final class Tracer(val enabled: Boolean, sc: Option[SparkContext]) {

  private val ids = new AtomicLong(0L)
  private val closed = new ConcurrentLinkedQueue[Span]()
  private val stack = ThreadLocal.withInitial[java.util.ArrayDeque[OpenSpan]](
    () => new java.util.ArrayDeque[OpenSpan]())
  @volatile var ambient: Long = 0L

  private def current: Long = Option(stack.get.peek).map(_.id).getOrElse(ambient)

  def open(name: String, traceId: String): OpenSpan = {
    val o = new OpenSpan(if (enabled) ids.incrementAndGet() else 0L, name, traceId,
      if (enabled) current else 0L, System.nanoTime())
    if (enabled) {
      stack.get.push(o)
      sc.foreach(_.setLocalProperty(Tracer.SpanProp, o.id.toString))
    }
    o
  }

  def close(o: OpenSpan): Span = {
    val s = Span(o.id, o.name, o.traceId, o.parent, o.startNs, System.nanoTime())
    if (enabled) {
      val st = stack.get
      st.remove(o)
      closed.add(s)
      val back = current
      sc.foreach(_.setLocalProperty(Tracer.SpanProp, if (back == 0L) null else back.toString))
    }
    s
  }

  def span[T](name: String, traceId: String)(body: => T): T = {
    if (!enabled) return body
    val o = open(name, traceId)
    try body finally close(o)
  }

  def spans: Seq[Span] = closed.asScala.toSeq
}

object Tracer {
  val SpanProp = "perfbench.span"
  val off = new Tracer(false, None)
}

/** Self time: the part of a span's interval that none of its children
  * covers. Children may overlap each other (concurrent jobs under one poll
  * cycle), so covered time is the length of the union of their intervals,
  * clipped to the parent. */
object SelfTime {
  def coveredNs(parent: Span, children: Seq[Span]): Long = {
    val iv = children.map(c => (math.max(c.startNs, parent.startNs), math.min(c.endNs, parent.endNs)))
      .filter { case (s, e) => s < e }.sortBy(_._1)
    var covered = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) covered += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) covered += curE - curS
    covered
  }

  def selfNs(parent: Span, children: Seq[Span]): Long = parent.durNs - coveredNs(parent, children)

  /** Self time of every span, keyed by span id. */
  def all(spans: Seq[Span]): Map[Long, Long] = {
    val kids = spans.groupBy(_.parent)
    spans.map(s => s.id -> selfNs(s, kids.getOrElse(s.id, Nil))).toMap
  }
}

/** Task metrics summed over the Spark jobs charged to one span. */
final case class RuntimeTotals(jobs: Long = 0, tasks: Long = 0, runMs: Long = 0,
    cpuNs: Long = 0, gcMs: Long = 0, shuffleReadBytes: Long = 0,
    shuffleWriteBytes: Long = 0, spillBytes: Long = 0) {
  def +(o: RuntimeTotals): RuntimeTotals = RuntimeTotals(jobs + o.jobs, tasks + o.tasks,
    runMs + o.runMs, cpuNs + o.cpuNs, gcMs + o.gcMs, shuffleReadBytes + o.shuffleReadBytes,
    shuffleWriteBytes + o.shuffleWriteBytes, spillBytes + o.spillBytes)
  def -(o: RuntimeTotals): RuntimeTotals = RuntimeTotals(jobs - o.jobs, tasks - o.tasks,
    runMs - o.runMs, cpuNs - o.cpuNs, gcMs - o.gcMs, shuffleReadBytes - o.shuffleReadBytes,
    shuffleWriteBytes - o.shuffleWriteBytes, spillBytes - o.spillBytes)
  def cpuMs: Double = cpuNs / 1e6
}

/** The benchmark's own listener: charges every Spark job, and the tasks of
  * its stages, to the span id found in the job's local properties
  * (0 when no span was open). Events arrive on the listener bus thread. */
final class LayerListener extends SparkListener {
  private val stageSpan = new ConcurrentHashMap[Int, java.lang.Long]()
  private val totals = new ConcurrentHashMap[Long, RuntimeTotals]()
  private val endedSpans = ConcurrentHashMap.newKeySet[Long]()
  private val jobSpan = new ConcurrentHashMap[Int, java.lang.Long]()

  private def add(span: Long, t: RuntimeTotals): Unit =
    totals.merge(span, t, (a, b) => a + b)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val span = Option(e.properties).flatMap(p => Option(p.getProperty(Tracer.SpanProp)))
      .flatMap(_.toLongOption).getOrElse(0L)
    jobSpan.put(e.jobId, span)
    e.stageIds.foreach(id => stageSpan.put(id, span))
    add(span, RuntimeTotals(jobs = 1))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobSpan.get(e.jobId)).foreach(s => endedSpans.add(s.longValue))

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m == null) return
    val span = Option(stageSpan.get(e.stageId)).map(_.longValue).getOrElse(0L)
    add(span, RuntimeTotals(tasks = 1, runMs = m.executorRunTime,
      cpuNs = m.executorCpuTime, gcMs = m.jvmGCTime,
      shuffleReadBytes = m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead,
      shuffleWriteBytes = m.shuffleWriteMetrics.bytesWritten,
      spillBytes = m.memoryBytesSpilled + m.diskBytesSpilled))
  }

  /** Block until a job launched under `span` has ended on the bus: the
    * bus delivers events in order, so everything posted before is seen. */
  def awaitSpan(span: Long, timeoutMs: Long = 60000L): Unit = {
    val deadline = System.currentTimeMillis() + timeoutMs
    while (!endedSpans.contains(span)) {
      if (System.currentTimeMillis() > deadline)
        throw new IllegalStateException("listener bus did not drain")
      Thread.sleep(5)
    }
  }

  def snapshot: Map[Long, RuntimeTotals] = totals.asScala.toMap

  /** Totals per span including every descendant's jobs. */
  def rolledUp(spans: Seq[Span]): Map[Long, RuntimeTotals] = {
    val parentOf = spans.map(s => s.id -> s.parent).toMap
    val out = scala.collection.mutable.Map.empty[Long, RuntimeTotals]
    snapshot.foreach { case (id, t) =>
      var cur = id
      var hops = 0
      while (cur != 0L && hops < 64) {
        out(cur) = out.getOrElse(cur, RuntimeTotals()) + t
        cur = parentOf.getOrElse(cur, 0L)
        hops += 1
      }
    }
    out.toMap
  }
}

object LayerListener {
  /** Run a one-task job under its own span and wait for the listener to
    * see it end, so every earlier job's task metrics have been counted. */
  def drain(spark: org.apache.spark.sql.SparkSession, tracer: Tracer, l: LayerListener): Unit = {
    val o = tracer.open("trace.drain", "drain")
    try spark.range(1).count() finally tracer.close(o)
    l.awaitSpan(o.id)
  }
}
