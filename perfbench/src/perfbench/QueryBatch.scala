package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** query_batch: a fixed list of registry queries over one fixed
  * generated dataset (the seed only orders the list). Each query's timed
  * action is an order-free hash of its whole result, which computes
  * every output column, where `.count()` would let the planner prune
  * them; the hashes are then compared with the ones recorded for this
  * dataset. Passes repeat until the run's time is used, at least once.
  * Smoke runs take the first three queries of the order. */
object QueryBatch extends Workload {
  /** The dataset never changes with the run's seed, so that its result
    * hashes can be recorded once. */
  val DataSeed = 42L

  def sf(c: Ctx): Double = if (c.smoke) 0.001 else 0.005
  def sfKey(c: Ctx): String = s"sf${sf(c)}"

  /** Order-free hash of a result: the exact sum of per-row 64-bit
    * hashes, and the row count. */
  def resultHash(df: DataFrame): String = {
    val row = df.select(
      sum(xxhash64(df.columns.map(col): _*).cast("decimal(38,0)")),
      count(lit(1))).head()
    s"${row.get(0)}:${row.getLong(1)}"
  }

  def run(c: Ctx): Outcome = run(c, None)

  /** `expected`: path of the recorded hashes. With `record`, writes the
    * computed hashes there instead of checking them. */
  def run(c: Ctx, expected: Option[(String, Boolean)]): Outcome = {
    val spark = c.spark
    val t = c.tracer
    val data = c.dir("data")
    Gen.writeTables(spark, data, sf(c), DataSeed)
    val registry = graft.SparkEntry.queries ++ graft.SparkEntry.benchOnlyQueries
    val missing = Layers.Queries.filterNot(registry.contains)
    require(missing.isEmpty, s"queries missing from the registry: $missing")
    val r = new java.util.SplittableRandom(c.seed)
    val order = Layers.Queries.sortBy(_ => r.nextDouble())
      .take(if (c.smoke && !expected.exists(_._2)) 3 else Layers.Queries.size)
    val inputs = Seq("region", "nation", "customer", "supplier", "orders",
      "lineitem", "documents")
    // JIT warm-up of shuffle, join, aggregate and window code, untimed:
    // without it the first queries of the seeded order also pay for it,
    // and the pass total moves with the order
    val w = spark.read.parquet(s"$data/lineitem.parquet")
    w.join(w.groupBy("l_orderkey").count(), "l_orderkey")
      .selectExpr("l_orderkey", "row_number() OVER (PARTITION BY l_suppkey " +
        "ORDER BY l_orderkey) AS rn")
      .filter("rn <= 3").collect()

    val (_, setupS) = Stats.repeatedSetup(3, () => spark.catalog.clearCache()) {
      inputs.foreach(n => graft.Tables.load(spark, data, n).count())
    }
    def release(): Unit = {
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = true))
    }

    val perQuery = scala.collection.mutable.Map.empty[String, Vector[Double]]
      .withDefaultValue(Vector.empty)
    val hashes = scala.collection.mutable.Map.empty[String, String]
    val passTotals = scala.collection.mutable.ArrayBuffer.empty[Double]
    var failures = 0L
    var attempted = 0L
    val m0 = t.nowNs
    val deadline = System.nanoTime() + c.seconds * 1000000000L
    t.span("bench", "measure", c.workload) {
      var pass = 0
      while (pass == 0 || System.nanoTime() < deadline) {
        var total = 0.0
        order.foreach { q =>
          release()
          attempted += 1
          try {
            val (h, secs) = Stats.timed(t.span("queries", q, pass.toString) {
              resultHash(registry(q)(spark, data))
            })
            hashes(q) = h
            perQuery(q) = perQuery(q) :+ secs
            total += secs
          } catch {
            case e: Exception =>
              failures += 1
              hashes(q) = "error"
              System.err.println(s"[query_batch] $q failed: $e")
          }
        }
        passTotals += total
        pass += 1
      }
    }
    release()
    val heap = c.heapMb()
    val wall = (t.nowNs - m0) / 1e9

    // check, outside the timed region
    val (recorded, mismatched) = expected match {
      case Some((path, true)) =>
        HashFile.update(path, sfKey(c), hashes.toMap)
        (true, Nil)
      case Some((path, false)) =>
        val want = HashFile.read(path).getOrElse(sfKey(c), Map.empty)
        (false, order.filter(q => !want.get(q).contains(hashes(q))))
      case None => (false, order)
    }
    mismatched.foreach(q => System.err.println(
      s"[query_batch] $q result hash ${hashes(q)} differs from the recorded one"))
    val correct = failures == 0 && mismatched.isEmpty
    val medians = order.map(q => Stats.median(perQuery(q)))
    val batchTotal = Stats.median(passTotals.toSeq)
    Outcome(
      attempted = attempted,
      failed = failures + mismatched.size,
      correct = correct,
      endToEnd = Seq(
        Metric("setup_s", setupS, "s"),
        Metric("latency_ms", batchTotal / order.size * 1000, "ms"),
        Metric("throughput_per_s", if (batchTotal > 0) order.size / batchTotal else 0.0, "1/s"),
        Metric("heap_mb", heap, "MB")),
      named = Seq(Metric("batch_total_s", batchTotal, "s")) ++
        order.zip(medians).map { case (q, s) => Metric(s"${q}_s", s, "s") },
      notes = Seq("passes" -> passTotals.size.toString, "sf" -> sf(c).toString,
        "order" -> order.mkString(","), "recorded" -> recorded.toString,
        "wall_s" -> f"$wall%.3f"),
      layers = Layers.fromTrace(c))
  }
}

/** The recorded result hashes: one line per `<dataset> <query> <hash>`. */
object HashFile {
  def read(path: String): Map[String, Map[String, String]] = {
    val p = Paths.get(path)
    if (!Files.exists(p)) Map.empty
    else new String(Files.readAllBytes(p), StandardCharsets.UTF_8)
      .split("\n").map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#"))
      .map(_.split("\\s+")).collect { case Array(d, q, h) => (d, q, h) }
      .groupBy(_._1).map { case (d, xs) => d -> xs.map(x => x._2 -> x._3).toMap }
  }

  def update(path: String, key: String, hashes: Map[String, String]): Unit = {
    val merged = read(path) + (key -> hashes)
    val body = merged.toSeq.sortBy(_._1).flatMap { case (d, hs) =>
      hs.toSeq.sorted.map { case (q, h) => s"$d $q $h" }
    }.mkString("", "\n", "\n")
    Files.write(Paths.get(path), ("# dataset query sum(xxhash64(row)):rows\n" +
      body).getBytes(StandardCharsets.UTF_8))
  }
}
