package perfbench

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryProgress

final case class Metric(name: String, value: Double, unit: String)

/** What a workload hands back: operation counts, the verdict of its
  * correctness check, the end-to-end figures (the contract metrics
  * first, then the workload's own named ones), string notes, and the
  * per-layer figures it measured. */
final case class Outcome(attempted: Long, failed: Long, correct: Boolean,
                         endToEnd: Seq[Metric], named: Seq[Metric],
                         notes: Seq[(String, String)], layers: Seq[Metric])

/** Everything a workload may use. `root` is the run's private directory:
  * warehouse, checkpoints, queues and generated tables all live there. */
final case class Ctx(spark: SparkSession, workload: String, seed: Long,
                     seconds: Int, smoke: Boolean, cores: Int,
                     root: Path, tracer: Tracer) {
  def dir(rel: String): String = {
    val p = root.resolve(rel)
    Files.createDirectories(p)
    p.toString
  }

  /** JVM heap still reachable after full collections, in MB. The
    * pauses let Spark's cleaner drop the blocks of collected RDDs. */
  def heapMb(): Double = {
    (1 to 3).foreach { _ => System.gc(); Thread.sleep(200) }
    val mem = java.lang.management.ManagementFactory.getMemoryMXBean
    mem.getHeapMemoryUsage.getUsed / 1048576.0
  }
}

trait Workload {
  def run(c: Ctx): Outcome
}

object Stats {
  def pct(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val rank = p / 100.0 * (s.size - 1)
      val lo = math.floor(rank).toInt
      val hi = math.min(s.size - 1, lo + 1)
      s(lo) + (s(hi) - s(lo)) * (rank - lo)
    }
  def median(xs: Seq[Double]): Double = pct(xs, 50)

  def timed[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e9)
  }

  def sha256(lines: Iterator[String]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    lines.foreach { l =>
      md.update(l.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      md.update('\n'.toByte)
    }
    md.digest().map(b => f"$b%02x").mkString
  }

  /** Runs `setup` `reps` times and returns the last result with the
    * median of the timed parts. `reset` runs untimed before each
    * repeat after the first. */
  def repeatedSetup[T](reps: Int, reset: () => Unit)(setup: => T): (T, Double) = {
    var last: T = null.asInstanceOf[T]
    val times = (1 to reps).map { i =>
      if (i > 1) reset()
      val (r, t) = timed(setup)
      last = r
      t
    }
    (last, median(times))
  }
}

/** Every per-layer metric, with its unit. A traced run reports all of
  * them; a layer a workload does not exercise reads 0. */
object Layers {
  /** query_batch's list: the graph, BPE, language-model and batch-dedup
    * operators and the top-k-per-group plan, which no other workload
    * runs. */
  val Queries: Seq[String] = Seq("q_graph_pagerank", "q_bpe_train",
    "q_text_lm_bigram", "q_minhash_neardup", "q_dedup_substring",
    "q_topk_per_group")
  val OpSpans: Seq[String] = Seq("append_postings", "append_ivf",
    "append_digest", "append_banded", "delete_postings", "delete_ivf",
    "maintain_postings", "maintain_ivf", "build_postings", "build_ivf",
    "build_digest", "build_banded", "build_models")
  val ProbeKinds: Seq[String] = Seq("bm25", "pruned", "filtered", "deleted",
    "hybrid", "ann_ivf_table")
  val Names: Seq[String] = Seq("bench", "sources.mq", "streaming", "operators",
    "sources.tables", "queries", "spark")

  val all: Seq[(String, String)] =
    Names.map(l => s"$l.self_s" -> "s") ++ Seq(
      "bench.wall_s" -> "s",
      "sources.mq.latest_offset_ms" -> "ms",
      "sources.mq.add_batch_ms" -> "ms",
      "sources.mq.wal_commit_ms" -> "ms",
      "sources.mq.messages_behind_start" -> "count",
      "sources.mq.messages_behind_end" -> "count",
      "sources.mq.batch_rows" -> "count",
      "sources.mq.batches" -> "count",
      "sources.mq.depth_call_ms" -> "ms",
      "sources.mq.gen_late_p50_ms" -> "ms",
      "sources.mq.gen_late_max_ms" -> "ms",
      "streaming.write_batch_s" -> "s",
      "streaming.landing_lookup_s" -> "s",
      "streaming.gate_commit_s" -> "s",
      "streaming.rows_in" -> "count",
      "streaming.rows_admitted" -> "count",
      "streaming.admit_ratio" -> "ratio",
      "streaming.state_rows_total" -> "count",
      "streaming.state_memory_bytes" -> "bytes",
      "streaming.state_commit_ms" -> "ms") ++
      ProbeKinds.map(k => s"operators.probe_${k}_s" -> "s") ++
      OpSpans.map(n => s"operators.${n}_s" -> "s") ++
      Seq("sources.tables.files" -> "count",
        "sources.tables.bytes" -> "bytes",
        "sources.tables.pending_batches" -> "count",
        "sources.tables.tombstone_rows" -> "count") ++
      Queries.map(q => s"queries.${q}_s" -> "s") ++
      Seq("spark.jobs" -> "count", "spark.stages" -> "count",
        "spark.tasks" -> "count", "spark.executor_run_s" -> "s",
        "spark.executor_cpu_s" -> "s", "spark.busy_share" -> "ratio",
        "spark.shuffle_read_bytes" -> "bytes",
        "spark.shuffle_write_bytes" -> "bytes",
        "spark.spill_bytes" -> "bytes", "spark.input_bytes" -> "bytes",
        "spark.gc_s" -> "s")

  private val units = all.toMap

  def m(name: String, value: Double): Metric = {
    require(units.contains(name), s"unregistered per-layer metric $name")
    Metric(name, value, units(name))
  }

  /** Median duration in seconds of the spans named `name`. */
  def spanMedian(spans: Seq[Span], name: String): Double =
    Stats.median(spans.filter(_.name == name).map(_.durNs / 1e9))

  /** The trace-derived layer metrics: self time per layer below the
    * `measure` root, its wall time, and the Spark work of the spans
    * under it. */
  def fromTrace(c: Ctx): Seq[Metric] = {
    val spans = c.tracer.all
    val rows = Summary.byRoot(spans).filter(_._1.name == "measure")
    val self = rows.flatMap(_._2).groupBy(_.layer)
      .map { case (l, rs) => l -> rs.map(_.selfNs).sum / 1e9 }
    val wall = rows.map(_._1.durNs / 1e9).sum
    val under: Set[Long] = {
      val byId = spans.map(s => s.id -> s).toMap
      def rootName(s: Span): String = {
        var cur = s
        while (cur.parent != 0 && byId.contains(cur.parent)) cur = byId(cur.parent)
        cur.name
      }
      spans.filter(s => rootName(s) == "measure").map(_.id).toSet
    }
    val w = new SparkWork
    c.tracer.workBySpan.foreach { case (id, sw) =>
      if (under.contains(id)) w.add(sw)
    }
    val probes = ProbeKinds.map(k =>
      m(s"operators.probe_${k}_s", spanMedian(spans, s"probe_$k")))
    val ops = OpSpans.map(n => m(s"operators.${n}_s", spanMedian(spans, n)))
    val streaming = Seq(
      m("streaming.write_batch_s", spanMedian(spans, "write_batch")),
      m("streaming.landing_lookup_s", spanMedian(spans, "landing_lookup")),
      m("streaming.gate_commit_s", spanMedian(spans, "gate_commit")))
    val queries = Queries.map(q => m(s"queries.${q}_s", spanMedian(spans, q)))
    Names.map(l => m(s"$l.self_s", self.getOrElse(l, 0.0))) ++
      Seq(m("bench.wall_s", wall)) ++ probes ++ ops ++ streaming ++ queries ++
      Seq(m("spark.jobs", w.jobs.toDouble), m("spark.stages", w.stages.toDouble),
        m("spark.tasks", w.tasks.toDouble),
        m("spark.executor_run_s", w.runMs / 1e3),
        m("spark.executor_cpu_s", w.cpuNs / 1e9),
        m("spark.busy_share",
          if (wall > 0) w.runMs / 1e3 / (wall * c.cores) else 0.0),
        m("spark.shuffle_read_bytes", w.shuffleRead.toDouble),
        m("spark.shuffle_write_bytes", w.shuffleWrite.toDouble),
        m("spark.spill_bytes", w.spill.toDouble),
        m("spark.input_bytes", w.input.toDouble),
        m("spark.gc_s", w.gcMs / 1e3))
  }
}

/** Turns streaming progress reports into spans: one `trigger` span per
  * micro-batch with its `durationMs` phases laid out as children in the
  * order Spark runs them. Phases map onto layers: reading offsets and
  * the offset log onto the source, the batch body onto `bodyLayer`,
  * and planning and commit bookkeeping onto the engine. */
object ProgressSpans {
  private val Order = Seq("latestOffset", "walCommit", "getBatch",
    "queryPlanning", "addBatch", "commitOffsets")

  def startNs(p: StreamingQueryProgress): Long =
    java.time.Instant.parse(p.timestamp).toEpochMilli * 1000000L

  def dur(p: StreamingQueryProgress, key: String): Long =
    Option(p.durationMs.get(key)).map(_.longValue).getOrElse(0L)

  /** Records the spans under `parent`; returns batch id → addBatch span. */
  def record(t: Tracer, parent: Long, ps: Seq[StreamingQueryProgress],
             bodyLayer: String): Map[Long, Long] = {
    if (!t.enabled) return Map.empty
    t.batchSpans = ps.filter(_.durationMs.containsKey("addBatch")).map { p =>
      val trig = t.newId()
      val s0 = startNs(p)
      t.record(Span(trig, parent, "spark", "trigger", s0,
        s0 + dur(p, "triggerExecution") * 1000000L, p.batchId.toString))
      var cursor = s0
      var body = 0L
      Order.foreach { k =>
        val d = dur(p, k) * 1000000L
        if (d > 0) {
          val id = t.newId()
          val layer = k match {
            case "latestOffset" | "walCommit" => "sources.mq"
            case "addBatch" => bodyLayer
            case _ => "spark"
          }
          t.record(Span(id, trig, layer, k, cursor, cursor + d,
            p.batchId.toString))
          if (k == "addBatch") body = id
          cursor += d
        }
      }
      p.batchId -> body
    }.toMap
    t.batchSpans
  }

  def metricOf(p: StreamingQueryProgress, key: String): Option[Double] =
    p.sources.headOption.flatMap(s =>
      Option(s.metrics).flatMap(m => Option(m.get(key)))).map(_.toDouble)

  /** The source-side layer metrics every `ibmmq` query reports. */
  def sourceMetrics(ps: Seq[StreamingQueryProgress]): Seq[Metric] = {
    val busy = ps.filter(_.numInputRows > 0)
    def med(k: String) = Stats.median(busy.map(p => dur(p, k).toDouble))
    val behind = ps.flatMap(metricOf(_, "messagesBehind"))
    Seq(Layers.m("sources.mq.latest_offset_ms", med("latestOffset")),
      Layers.m("sources.mq.add_batch_ms", med("addBatch")),
      Layers.m("sources.mq.wal_commit_ms", med("walCommit")),
      Layers.m("sources.mq.messages_behind_start", behind.headOption.getOrElse(0.0)),
      Layers.m("sources.mq.messages_behind_end", behind.lastOption.getOrElse(0.0)),
      Layers.m("sources.mq.batch_rows",
        Stats.median(busy.map(_.numInputRows.toDouble))),
      Layers.m("sources.mq.batches", busy.size.toDouble))
  }
}

/** File-level view of staged tables, taken outside timed regions. */
object TableStats {
  /** (files, bytes, pending batch partitions) under one table's
    * directory. Pending = `batch_id=` directories other than the base. */
  def scan(dir: Path): (Long, Long, Long) =
    if (!Files.exists(dir)) (0L, 0L, 0L)
    else {
      val walk = Files.walk(dir)
      try {
        val files = walk.iterator().asScala.filter(Files.isRegularFile(_))
          .filterNot { p =>
            dir.relativize(p).iterator().asScala
              .exists(s => s.toString.startsWith("_") || s.toString.startsWith("."))
          }.toVector
        val pending = files.flatMap(p => dir.relativize(p).iterator().asScala
          .map(_.toString).find(_.startsWith("batch_id=")))
          .distinct.count(d => d != "batch_id=-1")
        (files.size.toLong, files.map(Files.size).sum, pending.toLong)
      } finally walk.close()
    }

  def metrics(c: Ctx, tables: Seq[String]): Seq[Metric] = {
    val wh = Paths.get(c.spark.conf.get("spark.sql.warehouse.dir")
      .stripPrefix("file:"))
    val per = tables.map(t => scan(wh.resolve(t)))
    val tomb = tables.filter(_.endsWith("_tombstones"))
      .filter(c.spark.catalog.tableExists)
      .map(t => c.spark.table(t).count()).sum
    Seq(Layers.m("sources.tables.files", per.map(_._1).sum.toDouble),
      Layers.m("sources.tables.bytes", per.map(_._2).sum.toDouble),
      Layers.m("sources.tables.pending_batches", per.map(_._3).sum.toDouble),
      Layers.m("sources.tables.tombstone_rows", tomb.toDouble))
  }
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null"
    else if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
    else d.toString

  def metrics(ms: Seq[Metric]): String =
    ms.map(m => s"${str(m.name)}: {${str("value")}: ${num(m.value)}, " +
      s"${str("unit")}: ${str(m.unit)}}").mkString("{", ", ", "}")
}
