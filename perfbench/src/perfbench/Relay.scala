package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.util.SplittableRandom
import java.util.concurrent.locks.LockSupport
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress, Trigger}
import graft.sources.mq.FileMQTransport

/** mq_relay: `format("ibmmq")` source straight into a `format("ibmmq")`
  * sink on a second queue, fed by an open-loop producer thread.
  *
  * The producer follows a rate ladder (a warm-up, then three equal steps
  * built on the reference's 1000 msg/s design point) in one continuous
  * stream. Each payload carries its sequence number and the time it was
  * due; the producer puts whatever is due every few milliseconds, so a
  * stalled pipeline never slows the schedule. Latency is the output
  * message's put time minus its due time, read back from the output
  * queue after the run. */
object Relay extends Workload {
  /** The p99 limit a ladder step must meet to count as sustained. */
  val LimitMs = 1000.0
  val TickMs = 5.0

  final case class Sched(due: Array[Double], step: Array[Int],
                         stepBounds: Seq[(Double, Double)], rates: Seq[Int])

  def schedule(t0: Double, warmS: Double, warmRate: Int, stepS: Double,
               rates: Seq[Int]): Sched = {
    val due = Array.newBuilder[Double]
    val step = Array.newBuilder[Int]
    val nw = (warmRate * warmS).toInt
    (0 until nw).foreach { i => due += t0 + i * 1000.0 / warmRate; step += -1 }
    val bounds = rates.indices.map { s =>
      val a = t0 + (warmS + s * stepS) * 1000.0
      val n = (rates(s) * stepS).toInt
      (0 until n).foreach { i => due += a + i * 1000.0 / rates(s); step += s }
      (a, a + stepS * 1000.0)
    }
    Sched(due.result(), step.result(), bounds, rates)
  }

  private val ms0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  /** Sub-millisecond wall clock on the queue's epoch-millisecond axis. */
  def nowMs(): Double = ms0 + (System.nanoTime() - nano0) / 1e6

  /** Puts every due message in one transaction per wake-up; records when
    * each message was actually handed to the queue. */
  final class Producer(t: FileMQTransport, s: Sched, seed: Long,
                       tracer: Tracer, genRoot: Long) extends Thread("producer") {
    val late = new Array[Double](s.due.length)
    @volatile var failure: Throwable = null
    private val r = new SplittableRandom(seed)
    private val filler = Array.fill(64)(
      Seq.fill(4)(Gen.Vocab(r.nextInt(Gen.Vocab.length))).mkString(" "))

    override def run(): Unit = try {
      var i = 0
      var txn = 0
      while (i < s.due.length) {
        val now = nowMs()
        var j = i
        while (j < s.due.length && s.due(j) <= now) j += 1
        if (j == i) {
          LockSupport.parkNanos(math.max(100000L, ((s.due(i) - now) * 1e6).toLong))
        } else {
          val batch = (i until j).map(k =>
            f"$k|${s.due(k)}%.3f|${filler(k & 63)}")
          val putAt = nowMs()
          val t0 = tracer.nowNs
          t.put(s"p$txn", batch)
          tracer.record(Span(tracer.newId(), genRoot, "sources.mq", "put",
            t0, tracer.nowNs, s"p$txn"))
          (i until j).foreach(k => late(k) = putAt - s.due(k))
          txn += 1
          i = j
          // one put per TickMs at most: the queue's put cost grows with
          // its transaction count, and lateness shows any stall
          LockSupport.parkNanos(((putAt + TickMs - nowMs()) * 1e6).toLong)
        }
      }
    } catch { case e: Throwable => failure = e }
  }

  def run(c: Ctx): Outcome = {
    val spark = c.spark
    val rates = if (c.smoke) Seq(100, 200, 400) else Seq(1000, 4000, 16000)
    val warmS = if (c.smoke) 0.5 else 1.5
    val stepS = c.seconds / 3.0
    val outDir = c.dir("mq/out")
    var inDir = ""
    var round = 0
    var q: StreamingQuery = null
    // set-up: a fresh input queue and query start until its first
    // trigger completed, repeated and the median kept
    def start(): StreamingQuery = {
      round += 1
      inDir = c.dir(s"mq/in$round")
      Files.write(Paths.get(inDir, "queue.jsonl"), Array.emptyByteArray)
      val query = spark.readStream.format("ibmmq").option("path", inDir)
        .option("retryAttempts", "1").load()
        .select(col("value"))
        .writeStream.format("ibmmq").option("path", outDir)
        .option("checkpointLocation", c.dir(s"ckpt/relay$round"))
        .trigger(Trigger.ProcessingTime(0L)).start()
      val limit = System.currentTimeMillis() + 60000L
      while (query.lastProgress == null && query.isActive &&
        System.currentTimeMillis() < limit) Thread.sleep(5)
      require(query.lastProgress != null, "relay query never triggered")
      query
    }
    val (started, setupS) = Stats.repeatedSetup(3, () => q.stop()) {
      q = start(); q
    }
    q = started
    val inQ = new FileMQTransport(inDir)
    val outQ = new FileMQTransport(outDir)

    val t = c.tracer
    val genRoot = t.newId()
    val measureId = t.newId()
    val t0 = nowMs() + 50
    val sched = schedule(t0, warmS, rates.head / 2, stepS, rates)
    val n = sched.due.length
    val m0 = t.nowNs
    val producer = new Producer(inQ, sched, c.seed, t, genRoot)
    producer.start()
    producer.join()
    // drain: the sink has put every message, or the deadline passed
    val deadline = System.currentTimeMillis() + 60000L
    while (outQ.depth() < n && System.currentTimeMillis() < deadline &&
      q.exception.isEmpty) Thread.sleep(20)
    val m1 = t.nowNs
    val heap = c.heapMb()
    q.stop()
    t.record(Span(measureId, 0, "bench", "measure", m0, m1, c.workload))
    t.record(Span(genRoot, 0, "bench", "generator", m0, m1, c.workload))
    val progress: Seq[StreamingQueryProgress] = q.recentProgress.toSeq
      .filter(p => ProgressSpans.startNs(p) >= m0)
    ProgressSpans.record(t, measureId, progress, "sources.mq")

    // read-back, outside the timed region
    val lines = new String(Files.readAllBytes(Paths.get(outDir, "queue.jsonl")),
      StandardCharsets.UTF_8).split("\n").filter(_.nonEmpty)
    val parsed = lines.map { l =>
      val tab = l.indexOf('\t')
      val put = l.substring(0, tab).toDouble
      val f = l.substring(tab + 1).split("\\|")
      (f(0).toInt, put, f(1).toDouble)
    }
    val seqOk = parsed.length == n &&
      parsed.indices.forall(i => parsed(i)._1 == i)
    val lat = parsed.map { case (k, put, due) => (sched.step(k), put - due) }
    def stepLat(s: Int) = lat.filter(_._1 == s).map(_._2).toSeq
    val behind = progress.flatMap(p =>
      ProgressSpans.metricOf(p, "messagesBehind").map(b => (ProgressSpans.startNs(p) / 1e6, b)))
    /** Backlog grows in a step when its second half holds a larger
      * median backlog than its first half by over 100 ms of input. */
    def growing(s: Int): Boolean = {
      val (a, b) = sched.stepBounds(s)
      val mid = (a + b) / 2
      val first = behind.filter(x => x._1 >= a && x._1 < mid).map(_._2)
      val second = behind.filter(x => x._1 >= mid && x._1 < b).map(_._2)
      first.nonEmpty && second.nonEmpty &&
        Stats.median(second) > Stats.median(first) + rates(s) * 0.1
    }
    val sustained = rates.indices.filter(s =>
      stepLat(s).nonEmpty && Stats.pct(stepLat(s), 99) <= LimitMs &&
        !growing(s)).map(rates(_)).lastOption.getOrElse(0)
    val mid = stepLat(1)
    val top = sched.stepBounds.last
    val delivered = parsed.count(x => x._2 >= top._1 && x._2 < top._2)
    val lateAll = producer.late.toSeq
    val correct = seqOk && producer.failure == null && q.exception.isEmpty
    if (!seqOk) System.err.println(
      s"[relay] output sequence wrong: ${parsed.length} of $n messages")

    val depthMs = Stats.median((1 to 3).map { _ =>
      val fresh = new FileMQTransport(inDir)
      Stats.timed(fresh.depth())._2 * 1000
    })
    val layers = Layers.fromTrace(c) ++
      ProgressSpans.sourceMetrics(progress) ++ Seq(
      Layers.m("sources.mq.depth_call_ms", depthMs),
      Layers.m("sources.mq.gen_late_p50_ms", Stats.median(lateAll)),
      Layers.m("sources.mq.gen_late_max_ms",
        if (lateAll.isEmpty) 0.0 else lateAll.max))
    val steps = rates.indices.flatMap { s =>
      Seq(Metric(s"relay_step${s}_p50_ms", Stats.median(stepLat(s)), "ms"),
        Metric(s"relay_step${s}_p99_ms", Stats.pct(stepLat(s), 99), "ms"))
    }
    Outcome(
      attempted = n, failed = if (seqOk) 0 else math.max(1, n - parsed.length),
      correct = correct,
      endToEnd = Seq(
        Metric("setup_s", setupS, "s"),
        // the mean of the three step medians samples three times as many
        // micro-batches as the middle step alone
        Metric("latency_ms", rates.indices.map(s => Stats.median(stepLat(s))).sum / rates.size, "ms"),
        Metric("throughput_per_s", delivered / ((top._2 - top._1) / 1000.0), "1/s"),
        Metric("heap_mb", heap, "MB")),
      named = Seq(
        Metric("relay_p50_ms", Stats.median(mid), "ms"),
        Metric("relay_p99_ms", Stats.pct(mid, 99), "ms"),
        Metric("relay_sustained_msgs_per_s", sustained.toDouble, "msg/s")) ++
        steps ++ Seq(Metric("gen_late_p50_ms", Stats.median(lateAll), "ms"),
        Metric("gen_late_max_ms", if (lateAll.isEmpty) 0.0 else lateAll.max, "ms")),
      notes = Seq("ladder_msgs_per_s" -> rates.mkString(","),
        "step_s" -> f"$stepS%.2f",
        "backlog_growing_steps" -> rates.indices.filter(growing)
          .map(rates(_)).mkString(",")),
      layers = layers)
  }
}
