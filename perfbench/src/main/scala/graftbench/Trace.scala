package graftbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.node.{ArrayNode, JsonNodeFactory}
import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerTaskEnd}

/** Spans recorded around the benchmark's calls into graft.
  *
  * A span is (id, parent, name, start, end). While a span is open on a
  * thread, the Spark local property [[Tracer.Property]] names it, so every
  * job that thread submits is charged to the span by [[SpanListener]].
  * Threads graft starts inside the call (the per-call pool of
  * `Recrawl.runAll`) inherit local properties, so their jobs land on the
  * same span. A disabled tracer records nothing and sets no property; the
  * timed runs use one.
  */
final class Tracer(val enabled: Boolean) {
  final class Span(val id: Long, val parent: Long, var name: String,
      val start: Long) {
    var end: Long = -1L
    val attrs: mutable.LinkedHashMap[String, Any] = mutable.LinkedHashMap.empty
  }

  private val spans = mutable.ArrayBuffer.empty[Span]
  private val byId = mutable.HashMap.empty[Long, Span]
  private var nextId = 1L
  private var sc: Option[SparkContext] = None
  private var listener: Option[SpanListener] = None
  /** Listener counters of sessions already stopped, keyed by span id. */
  private val retired = mutable.HashMap.empty[Long, SpanCounters]

  /** Attach to a (new) session: counters of the previous one are kept. */
  def attach(context: SparkContext): Unit = if (enabled) {
    detach()
    val l = new SpanListener
    context.addSparkListener(l)
    sc = Some(context)
    listener = Some(l)
  }

  /** Drain the current session's listener and keep its counters. */
  def detach(): Unit = if (enabled) {
    for (l <- listener; c <- sc) {
      l.settle()
      c.removeSparkListener(l)
      retiredListenerNs += l.busyNs.get
      l.counters.asScala.foreach { case (id, cs) =>
        retired.getOrElseUpdate(id.longValue, new SpanCounters).add(cs)
      }
    }
    listener = None
    sc = None
  }

  /** Open a span; jobs the calling thread submits until [[end]] are
    * charged to it. Returns 0 when disabled. */
  def begin(name: String, parent: Long = 0L): Long = {
    if (!enabled) return 0L
    val t0 = System.nanoTime()
    val s = new Span(nextId, parent, name, t0)
    nextId += 1
    spans += s
    byId(s.id) = s
    label(s.id)
    ownNs += System.nanoTime() - t0
    s.id
  }

  /** Close a span and hand the thread's label back to its parent. */
  def end(id: Long): Unit = if (enabled && id != 0L) {
    val s = byId(id)
    s.end = System.nanoTime()
    label(s.parent)
    ownNs += System.nanoTime() - s.end
  }

  def rename(id: Long, name: String): Unit =
    if (enabled && id != 0L) byId(id).name = name

  def attr(id: Long, key: String, value: Any): Unit =
    if (enabled && id != 0L) byId(id).attrs(key) = value

  /** Time spent recording: in span bookkeeping on the calling thread and
    * in listener callbacks on the listener bus. */
  def costNs: Long = ownNs + retiredListenerNs + listener.map(_.busyNs.get).getOrElse(0L)
  private var ownNs = 0L
  private var retiredListenerNs = 0L

  def span[T](name: String, parent: Long = 0L)(body: Long => T): T = {
    val id = begin(name, parent)
    try body(id) finally end(id)
  }

  private def label(id: Long): Unit = sc.foreach(
    _.setLocalProperty(Tracer.Property, if (id == 0L) null else id.toString))

  /** Every span with its listener counters (call after [[detach]]). */
  def toJson: ArrayNode = {
    val arr = JsonNodeFactory.instance.arrayNode()
    spans.foreach { s =>
      val o = arr.addObject()
      o.put("id", s.id).put("parent", s.parent).put("name", s.name)
        .put("start_ns", s.start).put("end_ns", s.end)
      val c = retired.getOrElse(s.id, new SpanCounters)
      o.put("jobs", c.jobs.get).put("task_cpu_ms", c.cpuNs.get / 1e6)
        .put("gc_ms", c.gcMs.get).put("shuffle_write_bytes", c.shuffleWrite.get)
        .put("spill_bytes", c.spill.get).put("output_bytes", c.output.get)
      val a = o.putObject("attrs")
      s.attrs.foreach {
        case (k, v: Long) => a.put(k, v)
        case (k, v)       => a.put(k, String.valueOf(v))
      }
    }
    arr
  }
}

object Tracer {
  val Property = "graftbench.span"
}

final class SpanCounters {
  val jobs = new AtomicInteger(0)
  val cpuNs = new AtomicLong(0L)
  val gcMs = new AtomicLong(0L)
  val shuffleWrite = new AtomicLong(0L)
  val spill = new AtomicLong(0L)
  val output = new AtomicLong(0L)
  def add(o: SpanCounters): Unit = {
    jobs.addAndGet(o.jobs.get); cpuNs.addAndGet(o.cpuNs.get)
    gcMs.addAndGet(o.gcMs.get); shuffleWrite.addAndGet(o.shuffleWrite.get)
    spill.addAndGet(o.spill.get); output.addAndGet(o.output.get)
  }
}

/** Charges each job, and each task's cpu, gc, shuffle-write, spill and
  * output bytes, to the span named by the submitting thread's local
  * property (span 0 when none was set). */
final class SpanListener extends SparkListener {
  val counters = new ConcurrentHashMap[java.lang.Long, SpanCounters]()
  private val stageSpan = new ConcurrentHashMap[Integer, java.lang.Long]()
  private val started = new AtomicInteger(0)
  private val ended = new AtomicInteger(0)
  private val tasks = new AtomicLong(0L)
  val busyNs = new AtomicLong(0L)

  private def of(id: Long): SpanCounters =
    counters.computeIfAbsent(id, _ => new SpanCounters)

  override def onJobStart(js: SparkListenerJobStart): Unit = {
    val t0 = System.nanoTime()
    started.incrementAndGet()
    val id = Option(js.properties).flatMap(p => Option(p.getProperty(Tracer.Property)))
      .map(_.toLong).getOrElse(0L)
    of(id).jobs.incrementAndGet()
    js.stageIds.foreach(st => stageSpan.put(st, id))
    busyNs.addAndGet(System.nanoTime() - t0)
  }

  override def onJobEnd(je: SparkListenerJobEnd): Unit = ended.incrementAndGet()

  override def onTaskEnd(te: SparkListenerTaskEnd): Unit = {
    val t0 = System.nanoTime()
    tasks.incrementAndGet()
    // metrics are null for tasks that died before launching
    val m = te.taskMetrics
    if (m == null) return
    val c = of(Option(stageSpan.get(te.stageId)).map(_.longValue).getOrElse(0L))
    c.cpuNs.addAndGet(m.executorCpuTime)
    c.gcMs.addAndGet(m.jvmGCTime)
    c.shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
    c.spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
    c.output.addAndGet(m.outputMetrics.bytesWritten)
    busyNs.addAndGet(System.nanoTime() - t0)
  }

  /** Listener delivery is asynchronous: wait until every started job has
    * ended and the counters have been still for 200 ms. */
  def settle(): Unit = {
    val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
    var last = (-1, -1, -1L)
    var stableSince = System.nanoTime()
    while (System.nanoTime() < deadline) {
      val now = (started.get, ended.get, tasks.get)
      if (now != last) { last = now; stableSince = System.nanoTime() }
      else if (now._1 == now._2 && System.nanoTime() - stableSince > 200L * 1000 * 1000)
        return
      Thread.sleep(20)
    }
  }
}
