package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.SparkSession

/** One benchmark run in a fresh JVM: a local Spark session sized to the
  * cores it is given, one workload under one seed, two JSON lines on
  * stdout (the workload report, then the result) and nothing else.
  *
  * {{{
  * perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *   --root <private run dir> --cores <n> [--smoke] [--hashes <file>]
  *   [--record]
  * }}}
  */
object Main {
  val Workloads: Map[String, Workload] = Map(
    "mq_relay" -> Relay, "door_ingest" -> Door, "serve_mixed" -> Serve,
    "query_batch" -> QueryBatch)

  def main(argv: Array[String]): Unit = {
    val opts = argv.sliding(2, 1).collect {
      case Array(k, v) if k.startsWith("--") && !v.startsWith("--") => k.drop(2) -> v
    }.toMap
    def flag(f: String) = argv.contains(s"--$f")
    val workload = opts("workload")
    require(Workloads.contains(workload),
      s"unknown workload $workload (known: ${Workloads.keys.toSeq.sorted.mkString(", ")})")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toInt
    require(seconds >= 1, "seconds must be >= 1")
    val trace = opts("trace") == "1"
    val root = Paths.get(opts("root")).toAbsolutePath
    val cores = opts("cores").toInt
    val smoke = flag("smoke")
    val t0 = System.nanoTime()
    def phase(what: String): Unit = System.err.println(
      f"[perfbench] $what at ${(System.nanoTime() - t0) / 1e9}%.1f s")

    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-$workload")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.warehouse.dir", root.resolve("warehouse").toString)
      .config("spark.local.dir", root.resolve("local").toString)
      .config("spark.sql.streaming.numRecentProgressUpdates", "100000")
      .config("spark.sql.streaming.stateStore.maintenanceInterval", "600s")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    phase("session up")
    spark.sparkContext.setCheckpointDir(root.resolve("rdd-ckpt").toString)
    val tracer = new Tracer(trace, spark.sparkContext)
    if (trace) spark.sparkContext.addSparkListener(new SpanListener(tracer))
    val ctx = Ctx(spark, workload, seed, seconds, smoke, cores, root, tracer)
    val out = workload match {
      case "query_batch" => QueryBatch.run(ctx,
        opts.get("hashes").map(_ -> flag("record")))
      case w => Workloads(w).run(ctx)
    }
    phase("workload done")
    if (trace) writeTrace(ctx, opts.get("trace-out"))
    spark.stop()
    phase("stopped")

    val named = out.named :+ Metric("failed_frac",
      if (out.attempted > 0) out.failed.toDouble / out.attempted else 0.0, "ratio")
    println(s"""{"workload": ${Json.str(workload)}, "seed": $seed, "trace": ${if (trace) 1 else 0}, """ +
      s""""end_to_end": ${Json.metrics(out.endToEnd)}, "named": ${Json.metrics(named)}, """ +
      s""""notes": ${out.notes.map { case (k, v) => s"${Json.str(k)}: ${Json.str(v)}" }.mkString("{", ", ", "}")}}""")
    val metrics =
      if (trace) {
        val got = out.layers.map(m => m.name -> m).toMap
        Layers.all.map { case (n, u) => got.getOrElse(n, Metric(n, 0.0, u)) }
      } else out.endToEnd
    println(s"""{"correct": ${out.correct}, "attempted": ${out.attempted}, """ +
      s""""failed": ${out.failed}, "metrics": ${Json.metrics(metrics)}}""")
  }

  /** Spans as JSON lines, and the per-layer summary on stderr. */
  def writeTrace(c: Ctx, path: Option[String]): Unit = {
    val spans = c.tracer.all
    System.err.print(Summary.render(spans))
    path.foreach { p =>
      val self = Summary.selfTimes(spans)
      val work = c.tracer.workBySpan
      val lines = spans.sortBy(_.startNs).map { s =>
        val w = work.getOrElse(s.id, new SparkWork)
        s"""{"id": ${s.id}, "parent": ${s.parent}, "layer": ${Json.str(s.layer)}, """ +
          s""""name": ${Json.str(s.name)}, "tag": ${Json.str(s.tag)}, """ +
          s""""start_ms": ${Json.num(s.startNs / 1e6)}, "dur_ms": ${Json.num(s.durNs / 1e6)}, """ +
          s""""self_ms": ${Json.num(self(s.id) / 1e6)}, "jobs": ${w.jobs}, "stages": ${w.stages}, """ +
          s""""tasks": ${w.tasks}, "executor_run_ms": ${w.runMs}, "executor_cpu_ms": ${w.cpuNs / 1000000}, """ +
          s""""shuffle_read_bytes": ${w.shuffleRead}, "shuffle_write_bytes": ${w.shuffleWrite}, """ +
          s""""spill_bytes": ${w.spill}, "input_bytes": ${w.input}, "gc_ms": ${w.gcMs}}"""
      }
      Files.createDirectories(Paths.get(p).getParent)
      Files.write(Paths.get(p), lines.mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
    }
  }
}
