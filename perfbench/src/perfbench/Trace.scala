package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}

/** One timed call into one layer. Times are epoch nanoseconds; `parent`
  * is 0 for a root; `tag` carries the request or batch id. */
final case class Span(id: Long, parent: Long, layer: String, name: String,
                      startNs: Long, endNs: Long, tag: String) {
  def durNs: Long = endNs - startNs
}

/** Spark work done on behalf of one span, summed from task-end events. */
final class SparkWork {
  var jobs, stages, tasks, runMs, cpuNs, shuffleRead, shuffleWrite,
    spill, input, gcMs = 0L
  def add(o: SparkWork): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks; runMs += o.runMs
    cpuNs += o.cpuNs; shuffleRead += o.shuffleRead
    shuffleWrite += o.shuffleWrite; spill += o.spill; input += o.input
    gcMs += o.gcMs
  }
}

/** In-memory span recorder. Disabled, it only runs the wrapped code.
  * Enabled, every span tags the Spark jobs it starts with its id (a
  * thread-local job property, inherited by threads the span starts), so
  * [[SpanListener]] can charge their task metrics to it. Spans are
  * written out once, at exit. */
final class Tracer(val enabled: Boolean, sc: org.apache.spark.SparkContext) {
  private val ids = new AtomicLong(1)
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val stack = new ThreadLocal[List[Long]] {
    override def initialValue(): List[Long] = Nil
  }
  /** Work keyed by span id, or by "batch:<n>" for streaming jobs that
    * ran outside any span (attached to that batch's span afterwards). */
  val work = new ConcurrentHashMap[String, SparkWork]()
  private val epochNs0 = System.currentTimeMillis() * 1000000L
  private val nano0 = System.nanoTime()

  def nowNs: Long = epochNs0 + (System.nanoTime() - nano0)
  def newId(): Long = ids.getAndIncrement()
  def current: Long = stack.get.headOption.getOrElse(0L)

  def record(s: Span): Unit = if (enabled) spans.synchronized { spans += s }

  def span[T](layer: String, name: String, tag: String = "")(f: => T): T =
    if (!enabled) f
    else {
      val id = newId()
      val parent = current
      val prevProp = sc.getLocalProperty(Tracer.Prop)
      stack.set(id :: stack.get)
      sc.setLocalProperty(Tracer.Prop, id.toString)
      val t0 = nowNs
      try f
      finally {
        record(Span(id, parent, layer, name, t0, nowNs, tag))
        stack.set(stack.get.tail)
        sc.setLocalProperty(Tracer.Prop, prevProp)
      }
    }

  def all: Seq[Span] = spans.synchronized(spans.toVector)

  /** Re-parent spans after the fact (streaming spans recorded on the
    * query thread before the progress-derived batch span exists). */
  def reparent(f: Span => Option[Long]): Unit = spans.synchronized {
    for (i <- spans.indices) f(spans(i)).foreach { p =>
      spans(i) = spans(i).copy(parent = p)
    }
  }

  /** Streaming batch id → the span that ran its body. */
  @volatile var batchSpans: Map[Long, Long] = Map.empty

  def workOf(key: String): SparkWork =
    work.computeIfAbsent(key, _ => new SparkWork)

  /** Work charged to each span, with streaming batch work moved onto
    * the span that ran that batch's body. */
  def workBySpan: Map[Long, SparkWork] = {
    val out = mutable.Map.empty[Long, SparkWork]
    work.asScala.foreach { case (k, w) =>
      val target =
        if (k.startsWith("batch:")) batchSpans.getOrElse(k.drop(6).toLong, 0L)
        else k.toLong
      out.getOrElseUpdate(target, new SparkWork).add(w)
    }
    out.toMap
  }
}

object Tracer {
  val Prop = "perfbench.span"
}

/** Charges each job's stages and tasks to the span that started it. */
final class SpanListener(tracer: Tracer) extends SparkListener {
  private val stageKey = new ConcurrentHashMap[Int, String]()
  private val BatchRe = """(?s).*\nbatch = (\d+).*""".r

  private def keyOf(props: java.util.Properties): String = {
    val p = Option(props)
    p.flatMap(x => Option(x.getProperty(Tracer.Prop))).getOrElse {
      p.flatMap(x => Option(x.getProperty("spark.job.description")))
        .collect { case BatchRe(b) => s"batch:$b" }.getOrElse("0")
    }
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val key = keyOf(e.properties)
    val w = tracer.workOf(key)
    w.synchronized { w.jobs += 1 }
    e.stageIds.foreach(s => stageKey.put(s, key))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val w = tracer.workOf(stageKey.getOrDefault(e.stageInfo.stageId, "0"))
    w.synchronized { w.stages += 1 }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) {
      val w = tracer.workOf(stageKey.getOrDefault(e.stageId, "0"))
      w.synchronized {
        w.tasks += 1
        w.runMs += m.executorRunTime
        w.cpuNs += m.executorCpuTime
        w.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        w.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        w.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        w.input += m.inputMetrics.bytesRead
        w.gcMs += m.jvmGCTime
      }
    }
  }
}

/** Self time and counts per layer, from a finished span set. A span's
  * self time is its duration minus the part of it its children cover. */
object Summary {
  final case class LayerRow(layer: String, selfNs: Long, count: Long)

  def selfTimes(spans: Seq[Span]): Map[Long, Long] = {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      val iv = kids.getOrElse(s.id, Nil)
        .map(c => (math.max(c.startNs, s.startNs), math.min(c.endNs, s.endNs)))
        .filter { case (a, b) => b > a }.sortBy(_._1)
      var covered = 0L
      var (curA, curB) = (Long.MinValue, Long.MinValue)
      iv.foreach { case (a, b) =>
        if (a > curB) {
          if (curB > curA) covered += curB - curA
          curA = a; curB = b
        } else curB = math.max(curB, b)
      }
      if (curB > curA) covered += curB - curA
      s.id -> math.max(0L, s.durNs - covered)
    }.toMap
  }

  /** Per root span: its wall time and each layer's self time below it. */
  def byRoot(spans: Seq[Span]): Seq[(Span, Seq[LayerRow])] = {
    val self = selfTimes(spans)
    val byId = spans.map(s => s.id -> s).toMap
    def root(s: Span): Span = {
      var cur = s
      while (cur.parent != 0 && byId.contains(cur.parent)) cur = byId(cur.parent)
      cur
    }
    spans.groupBy(root).toSeq.sortBy(_._1.startNs).map { case (r, members) =>
      r -> members.groupBy(_.layer).toSeq.map { case (l, ss) =>
        LayerRow(l, ss.map(s => self(s.id)).sum, ss.size.toLong)
      }.sortBy(-_.selfNs)
    }
  }

  def render(spans: Seq[Span]): String = {
    val sb = new StringBuilder
    byRoot(spans).foreach { case (r, rows) =>
      val wall = r.durNs / 1e9
      sb.append(f"[trace] root ${r.name}%s wall ${wall}%.3f s%n")
      rows.foreach { row =>
        sb.append(f"[trace]   ${row.layer}%-16s self ${row.selfNs / 1e9}%9.3f s" +
          f"  ${if (wall > 0) 100.0 * row.selfNs / 1e9 / wall else 0.0}%5.1f %%" +
          f"  spans ${row.count}%d%n")
      }
      val total = rows.map(_.selfNs).sum / 1e9
      sb.append(f"[trace]   sum of self times ${total}%.3f s%n")
    }
    sb.toString
  }
}
