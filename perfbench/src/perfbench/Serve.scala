package perfbench

import java.util.SplittableRandom
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.operators.{Retrieval, Similarity, TextAnalysis => TA}
import graft.sources.BucketedTables
import graft.streaming.StreamingOps

/** serve_mixed: one closed-loop client over pre-staged postings and IVF
  * tables. Most requests are reads of a small query batch; every fourth
  * request writes (a gated postings + IVF append of fresh documents, or a
  * takedown delete), and every fourth write is followed by a maintain
  * pass. Read kinds come round in a seeded order that holds each kind
  * once per round, so every seed sees the same mix; the seed picks the
  * queries, the appended documents and the victims. */
object Serve extends Workload {
  val Post = "serve_post"
  val Del = "serve_del"
  val Ivft = "serve_ivft"
  def tables: Seq[String] = Retrieval.indexTableNames(Post) ++
    Retrieval.indexTableNames(Del) ++ Similarity.ivfIndexTableNames(Ivft)
  private val Dim = 64

  def run(c: Ctx): Outcome = {
    val spark = c.spark
    val sc = spark.sparkContext
    val t = c.tracer
    val nDocs = if (c.smoke) 120 else 2000
    val qBatch = 4
    val appendN = 20
    val buckets = c.cores
    val texts = Gen.texts(nDocs, c.seed)
    val vecs = Gen.vectors(nDocs, Dim, c.seed)
    val data = c.dir("data")
    Gen.documents(spark, texts, c.seed).write.parquet(s"$data/documents.parquet")
    Gen.vectorFrame(spark, (0 until nDocs).map(_.toLong), vecs)
      .write.parquet(s"$data/embeddings.parquet")
    val docs = spark.read.parquet(s"$data/documents.parquet")
    val emb = spark.read.parquet(s"$data/embeddings.parquet")
    val qToks = slice(TA.tokens(col("text")), 1, 3)

    def reset(): Unit = tables.foreach(BucketedTables.dropTableAndDir(spark, _))
    reset()
    val (allowed, setupS) = Stats.repeatedSetup(3, reset _) {
      t.span("operators", "build_postings") {
        Retrieval.createPostingsIndexTable(docs, "doc_id",
          TA.tokens(col("text")), Post, buckets)
      }
      t.span("operators", "build_postings") {
        Retrieval.createPostingsIndexTable(docs, "doc_id",
          TA.tokens(col("text")), Del, buckets)
      }
      t.span("operators", "delete_postings") {
        Retrieval.deleteFromPostingsIndexTable(spark,
          docs.filter(col("doc_id") % 7 === 0).select("doc_id"),
          "doc_id", Del, buckets, batchId = Some(0L))
      }
      t.span("operators", "build_ivf") {
        val ivf = Similarity.ivfIndex(emb, "vec_id", "embedding",
          Similarity.suggestedNCentroids(nDocs))
        Similarity.createIvfIndexTable(ivf, Ivft, buckets)
        ivf.assigned.unpersist()
      }
      docs.filter(col("lang") === "en").select("doc_id").localCheckpoint()
    }

    val r = new SplittableRandom(c.seed + 7)
    val pool = (0 until nDocs by 20).toArray
    def frame(rows: Seq[Row], schema: StructType): DataFrame =
      spark.createDataFrame(sc.parallelize(rows, 1), schema)
    val textSchema = StructType(Seq(StructField("query_id", LongType),
      StructField("text", StringType)))
    val vecSchema = StructType(Seq(StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType))))
    def pick(): Seq[Int] = Seq.fill(qBatch)(pool(r.nextInt(pool.length)))
    def textQs(ids: Seq[Int]) =
      frame(ids.distinct.map(i => Row(i.toLong, texts(i))), textSchema)

    def read(kind: String, ids: Seq[Int]): Long = {
      val rows = kind match {
        case "bm25" => Retrieval.bm25TopKWith(
          Retrieval.loadPostingsIndex(spark, Post), textQs(ids), "query_id",
          qToks, k = 10)
        case "pruned" => Retrieval.bm25TopKPrunedWith(
          Retrieval.loadPostingsIndex(spark, Post), textQs(ids), "query_id",
          qToks, k = 10, bounds = Some(Retrieval.loadPruneBounds(spark, Post)))
        case "filtered" => Retrieval.bm25TopKWith(Retrieval.restrictToDocs(
          Retrieval.loadPostingsIndex(spark, Post), allowed, "doc_id"),
          textQs(ids), "query_id", qToks, k = 10)
        case "deleted" => Retrieval.bm25TopKPrunedWith(
          Retrieval.loadPostingsIndex(spark, Del), textQs(ids), "query_id",
          qToks, k = 10, bounds = Some(Retrieval.loadPruneBounds(spark, Del)))
        case "hybrid" => StreamingOps.hybridProbe(
          frame(ids.distinct.map(i => Row(i.toLong, texts(i),
            vecs(i).toSeq)), textSchema.add("qv", ArrayType(FloatType))),
          "query_id", qToks, "qv", Post, Similarity.loadIvfIndexTable(spark, Ivft),
          kRetrieve = 10, k = 10, nProbe = 2)
        case "ann_ivf_table" => Similarity.ivfTopKWith(
          Similarity.loadIvfIndexTable(spark, Ivft),
          frame(ids.distinct.map(i => Row(i.toLong, vecs(i).toSeq)), vecSchema),
          "vec_id", "embedding", k = 10, nProbe = 2)
      }
      rows.collect().length.toLong
    }

    var nextId = nDocs.toLong
    var appends = 0L
    var deletes = 0L
    val live = scala.collection.mutable.LinkedHashSet.empty[Long] ++
      (0 until nDocs).map(_.toLong)
    def append(): Unit = {
      val ids = (0 until appendN).map(nextId + _)
      nextId += appendN
      val newTexts = Gen.texts(appendN, r.nextLong())
      val newVecs = Gen.vectors(appendN, Dim, r.nextLong())
      val batch = frame(ids.indices.map(i => Row(ids(i), newTexts(i))),
        StructType(Seq(StructField("doc_id", LongType),
          StructField("text", StringType))))
      val vs = frame(ids.indices.map(i => Row(ids(i), newVecs(i).toSeq)), vecSchema)
      t.span("operators", "append_postings") {
        Retrieval.appendToPostingsIndexTable(batch, "doc_id",
          TA.tokens(col("text")), Post, buckets, batchId = Some(appends))
      }
      t.span("operators", "append_ivf") {
        Similarity.appendToIvfIndexTable(vs, "vec_id", "embedding", Ivft,
          buckets, batchId = Some(appends))
      }
      appends += 1
      live ++= ids
    }
    def delete(): Unit = {
      val arr = live.toArray
      val victims = Seq.fill(5)(arr(r.nextInt(arr.length))).distinct
      live --= victims
      val vdf = frame(victims.map(v => Row(v)),
        StructType(Seq(StructField("doc_id", LongType))))
      t.span("operators", "delete_postings") {
        Retrieval.deleteFromPostingsIndexTable(spark, vdf, "doc_id", Post,
          buckets, batchId = Some(deletes))
      }
      t.span("operators", "delete_ivf") {
        Similarity.deleteFromIvfIndexTable(spark, vdf, "doc_id", Ivft,
          buckets, batchId = Some(deletes))
      }
      deletes += 1
    }
    def maintain(): Unit = {
      t.span("operators", "maintain_postings") {
        Retrieval.maintainPostingsIndexTable(spark, Post, buckets)
      }
      t.span("operators", "maintain_ivf") {
        Similarity.maintainIvfIndexTable(spark, Ivft, buckets)
      }
    }

    val kinds = Layers.ProbeKinds
    val readLat = scala.collection.mutable.ArrayBuffer.empty[(String, Double)]
    val writeLat = scala.collection.mutable.ArrayBuffer.empty[(String, Double)]
    var failures = 0L
    var round: Seq[String] = Nil
    var writes = 0
    var i = 0
    val m0 = t.nowNs
    val deadline = System.nanoTime() + c.seconds * 1000000000L
    t.span("bench", "measure", c.workload) {
      while (System.nanoTime() < deadline) {
        val isWrite = i % 4 == 3
        val (kind, op): (String, () => Unit) =
          if (isWrite) {
            writes += 1
            if (writes % 5 == 0) ("maintain", () => maintain())
            else if (writes % 2 == 1) ("append", () => append())
            else ("delete", () => delete())
          } else {
            if (round.isEmpty) round = kinds.sortBy(_ => r.nextDouble())
            val k = round.head
            round = round.tail
            val ids = pick()
            (k, () => { read(k, ids); () })
          }
        val layer = if (isWrite) "bench" else "operators"
        val name = if (isWrite) s"write_$kind" else s"probe_$kind"
        try {
          val (_, secs) = Stats.timed(t.span(layer, name, i.toString)(op()))
          (if (isWrite) writeLat else readLat) += kind -> secs
        } catch {
          case e: Exception =>
            failures += 1
            System.err.println(s"[serve] request $i ($kind) failed: $e")
        }
        i += 1
      }
    }
    val heap = c.heapMb()
    val wall = (t.nowNs - m0) / 1e9

    // check, outside the timed region: pruned top-k equals exhaustive
    // top-k on the final state, for a fixed request set
    val checkQs = textQs(pool.take(12).toSeq)
    def rowsOf(df: DataFrame): Set[String] =
      df.select("query", "rank", "doc", "score_q6").collect()
        .map(_.mkString("|")).toSet
    val ix = Retrieval.loadPostingsIndex(spark, Post)
    val exhaustive = rowsOf(Retrieval.bm25TopKWith(ix, checkQs, "query_id",
      qToks, k = 10))
    val pruned = rowsOf(Retrieval.bm25TopKPrunedWith(ix, checkQs, "query_id",
      qToks, k = 10, bounds = Some(Retrieval.loadPruneBounds(spark, Post))))
    val agree = exhaustive == pruned && exhaustive.nonEmpty
    if (!agree) System.err.println(s"[serve] pruned rows differ from " +
      s"exhaustive: ${(exhaustive diff pruned).take(3)} vs ${(pruned diff exhaustive).take(3)}")

    val reads = readLat.map(_._2).toSeq
    val allWrites = writeLat.map(_._2).toSeq
    val attempted = i.toLong
    val layers = Layers.fromTrace(c) ++ TableStats.metrics(c, tables)
    Outcome(
      attempted = attempted + 1,
      failed = failures + (if (agree) 0 else 1),
      correct = agree && failures == 0,
      endToEnd = Seq(
        Metric("setup_s", setupS, "s"),
        Metric("latency_ms", Stats.median(reads) * 1000, "ms"),
        Metric("throughput_per_s", attempted / wall, "1/s"),
        Metric("heap_mb", heap, "MB")),
      named = Seq(
        Metric("probe_p50_s", Stats.median(reads), "s"),
        Metric("probe_p90_s", Stats.pct(reads, 90), "s"),
        Metric("probe_max_s", (reads :+ 0.0).max, "s"),
        Metric("write_p50_s", Stats.median(allWrites), "s")) ++
        (kinds ++ Seq("append", "delete", "maintain")).map { k =>
          val xs = (readLat ++ writeLat).filter(_._1 == k).map(_._2).toSeq
          Metric(s"${k}_p50_s", Stats.median(xs), "s")
        },
      notes = Seq("reads" -> reads.size.toString,
        "writes" -> allWrites.size.toString, "corpus_docs" -> nDocs.toString),
      layers = layers)
  }
}
