package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.{Column, DataFrame, Dataset, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import graft.operators.{Decontaminate, Dedup, Dsir, Retrieval, Similarity, TextAnalysis => TA}
import graft.sources.BucketedTables
import graft.streaming.{BatchIdGate, StreamingOps}

/** door_ingest: the production ingest loop over a pre-filled arrival
  * queue, drained closed-loop (Trigger.AvailableNow, capped per
  * trigger): `ingestDoor` with the semantic gate on the staged IVF
  * table, then in foreachBatch the idempotent landing write, the
  * landing lookup, and the BatchIdGate-gated appends to the digest,
  * banded, postings and IVF tables.
  *
  * Arrivals follow the ingest bench's mix: per corpus document one
  * exact duplicate, three near/semantic variants and two novel
  * documents, in seeded order. Batch 0 warms the loop and is left out
  * of the end-to-end figures. */
object Door extends Workload {
  val Dig = "door_dig"
  val Band = "door_band"
  val Post = "door_post"
  val Ivft = "door_ivft"
  def tables: Seq[String] = Seq(Dig, Band) ++ Retrieval.indexTableNames(Post) ++
    Similarity.ivfIndexTableNames(Ivft)

  /** The quality score of the ingest bench (an integer Q8 linear model). */
  def scoreQ8Of(textCol: String): Column = {
    val toks = TA.tokens(col(textCol))
    def q4(x: Column) = (x * 10000).cast("long")
    val g2 = TA.shingles(toks, 2)
    TA.linearModelQ8(Seq(
      (q4(TA.stopwordRatio(toks, Seq("the", "a", "of", "and", "to"))), 8000L),
      (q4(when(size(g2) === 0, lit(0.0d)).otherwise(lit(1.0d) -
        size(array_distinct(g2)).cast("double") / size(g2).cast("double"))),
        -12000L),
      (q4(least(size(toks), lit(100)).cast("double") / 100.0d), 6000L),
      (when(size(toks) < 20, lit(10000L)).otherwise(lit(0L)), -5000L)),
      biasQ8 = 20000000L)
  }

  /** Six arrivals per corpus text, shuffled by the seed. */
  def arrivals(texts: Array[String], seed: Long): Array[String] = {
    val all = texts.indices.flatMap { i =>
      val t = texts(i)
      Seq(t) ++ (1 to 3).map(v => s"$t variant token $v") ++
        (4 to 5).map(v => s"novel${i}v$v opening ${t.reverse}")
    }.toArray
    val r = new java.util.SplittableRandom(seed)
    for (i <- all.indices.reverse) {
      val j = r.nextInt(i + 1)
      val x = all(i); all(i) = all(j); all(j) = x
    }
    all
  }

  def run(c: Ctx): Outcome = {
    val spark = c.spark
    val t = c.tracer
    val nCorpus = if (c.smoke) 60 else 1000
    val cap = if (c.smoke) 40 else 250
    // batch 0 warms up; the rest are measured, at least three so that
    // the median is not a batch still warming up (a batch takes ~5 s on
    // 4 cores)
    val nBatches = 1 + (if (c.smoke) 2 else math.max(3, math.round(c.seconds / 2.5).toInt))
    val buckets = c.cores
    val texts = Gen.texts(nCorpus, c.seed)
    val corpusDir = c.dir("data") + "/documents.parquet"
    Gen.documents(spark, texts, c.seed).write.parquet(corpusDir)
    val docs = spark.read.parquet(corpusDir)
    val msgs = arrivals(texts, c.seed + 1).take(cap * nBatches)
    val queue = c.dir("door/queue")

    def reset(): Unit = {
      tables.foreach(BucketedTables.dropTableAndDir(spark, _))
      Files.deleteIfExists(Paths.get(queue, "queue.jsonl"))
    }
    reset()
    // one set-up only: the builds cost ~15 s of the run
    val ((bloom, dsir), setupS) = Stats.timed {
      t.span("operators", "build_digest") {
        Dedup.createDigestIndexTable(docs, "text", Dig, buckets)
      }
      t.span("operators", "build_banded") {
        Dedup.createBandedIndexTable(docs.select(col("doc_id"),
          StreamingOps.doorFingerprint(col("text")).as("fp")),
          "doc_id", "fp", Band, buckets)
      }
      t.span("operators", "build_postings") {
        Retrieval.createPostingsIndexTable(docs, "doc_id",
          TA.tokens(col("text")), Post, buckets)
      }
      t.span("operators", "build_ivf") {
        val ivf = Similarity.ivfIndex(docs.select(col("doc_id").as("vec_id"),
          Gen.embedOf(col("text")).as("embedding")), "vec_id", "embedding",
          Similarity.suggestedNCentroids(nCorpus))
        Similarity.createIvfIndexTable(ivf, Ivft, buckets)
        ivf.assigned.unpersist()
      }
      val models = t.span("operators", "build_models") {
        (Decontaminate.buildShingleBloom(
          docs.withColumn("is_eval", col("doc_id") % 11 === 0),
          "doc_id", "text", col("is_eval"), n = 3),
          Dsir.fitModel(docs.withColumn("is_t", col("doc_id") % 2 === 0),
            "doc_id", TA.tokens(col("text")), isTarget = col("is_t")))
      }
      val base = 1700000000000L
      val sb = new StringBuilder
      msgs.zipWithIndex.foreach { case (m, i) =>
        sb.append(base + i).append('\t').append(m).append('\n')
      }
      Files.write(Paths.get(queue, "queue.jsonl"),
        sb.toString.getBytes(StandardCharsets.UTF_8))
      models
    }

    val landing = c.dir("door/landing")
    val lookup = c.dir("door/lookup")
    val ckpt = c.dir("ckpt/door")
    val gate = new BatchIdGate(s"$ckpt/graft-applied")
    val door = StreamingOps.ingestDoor(
      spark.readStream.format("ibmmq").option("path", queue)
        .option("maxMessagesPerTrigger", cap.toString)
        .option("retryAttempts", "1").load()
        .withColumn("embedding", Gen.embedOf(col("value"))),
      "value", "put_ts", scoreQ8Of("value"), 0L, bloom, dsir,
      spark.table(Dig), spark.table(Band), lateness = "10 minutes",
      semIndex = Some(Similarity.loadIvfIndexTable(spark, Ivft)))
    def body(admitted: Dataset[Row], id: Long): Unit =
      t.span("streaming", "batch", id.toString) {
        t.span("streaming", "write_batch", id.toString) {
          StreamingOps.writeBatchIdempotent(admitted.drop("embedding"), id,
            landing)
        }
        t.span("streaming", "landing_lookup", id.toString) {
          StreamingOps.writeLandingLookup(admitted, "key", id, lookup)
        }
        if (gate.isNew(id)) {
          val adf = t.span("streaming", "read_landed", id.toString) {
            admitted.sparkSession.read.parquet(landing)
              .filter(col("batch_id") === id)
              .select(unix_millis(col("put_ts")).as("doc_id"),
                col("value").as("text"),
                Gen.embedOf(col("value")).as("embedding"))
              .localCheckpoint()
          }
          if (!adf.isEmpty) {
            t.span("operators", "append_digest", id.toString) {
              Dedup.appendToDigestIndexTable(adf, "text", Dig, buckets)
            }
            t.span("operators", "append_banded", id.toString) {
              Dedup.appendToBandedIndexTable(adf.select(col("doc_id"),
                StreamingOps.doorFingerprint(col("text")).as("fp")),
                "doc_id", "fp", Band, buckets)
            }
            t.span("operators", "append_postings", id.toString) {
              Retrieval.appendToPostingsIndexTable(adf, "doc_id",
                TA.tokens(col("text")), Post, buckets, batchId = Some(id))
            }
            t.span("operators", "append_ivf", id.toString) {
              Similarity.appendToIvfIndexTable(adf, "doc_id", "embedding",
                Ivft, buckets, batchId = Some(id))
            }
          }
          t.span("streaming", "gate_commit", id.toString)(gate.commit(id))
        }
      }

    val measureId = t.newId()
    val m0 = t.nowNs
    val q = door.writeStream.foreachBatch(body _)
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(170000L)
    val m1 = t.nowNs
    val heap = c.heapMb()
    val failure = q.exception
    if (q.isActive) q.stop()
    t.record(Span(measureId, 0, "bench", "measure", m0, m1, c.workload))
    val progress = q.recentProgress.toSeq
    val batchSpan = ProgressSpans.record(t, measureId, progress, "streaming")
    t.reparent(s => if (s.name == "batch" && s.parent == 0)
      batchSpan.get(s.tag.toLong) else None)

    val measured = progress.filter(p => p.numInputRows > 0 && p.batchId >= 1)
    val trig = measured.map(p => ProgressSpans.dur(p, "triggerExecution").toDouble)
    val rowsIn = measured.map(_.numInputRows).sum
    val docsPerS = if (trig.sum > 0) rowsIn / (trig.sum / 1000.0) else 0.0

    // checks, outside the timed region
    val landed = spark.read.parquet(landing)
    val keys = landed.select("key").collect().map(_.getString(0)).toSeq
    val lookupKeys = spark.read.parquet(lookup).select("key").collect()
      .map(_.getString(0)).toSet
    def prefix(text: Column) = concat_ws(" ", slice(TA.tokens(text), 1, 2))
    val digestClash = landed.select(Dedup.exactDigest(col("value")).as("d"))
      .join(docs.select(Dedup.exactDigest(col("text")).as("d")), "d").count()
    val twinClash = landed.select(prefix(col("value")).as("p"))
      .join(docs.select(prefix(col("text")).as("p")).distinct(), "p").count()
    val problems = Seq(
      "duplicate landed keys" -> (keys.distinct.size != keys.size),
      "lookup keys differ from landing keys" -> (lookupKeys != keys.toSet),
      "a landed document duplicates the corpus" -> (digestClash > 0),
      "a landed document is a semantic twin of the corpus" -> (twinClash > 0),
      "not every arrival was drained" ->
        (progress.map(_.numInputRows).sum != msgs.length),
      "the query failed" -> failure.isDefined)
      .collect { case (what, true) => what }
    problems.foreach(p => System.err.println(s"[door] check failed: $p"))
    failure.foreach(e => System.err.println(s"[door] query failed: $e"))
    val admitted = landed.filter(col("batch_id") >= 1).count()
    val state = measured.flatMap(_.stateOperators.headOption)

    val layers = Layers.fromTrace(c) ++
      ProgressSpans.sourceMetrics(progress) ++ Seq(
        Layers.m("streaming.rows_in", rowsIn.toDouble),
        Layers.m("streaming.rows_admitted", admitted.toDouble),
        Layers.m("streaming.admit_ratio",
          if (rowsIn > 0) admitted.toDouble / rowsIn else 0.0),
        Layers.m("streaming.state_rows_total",
          state.lastOption.map(_.numRowsTotal.toDouble).getOrElse(0.0)),
        Layers.m("streaming.state_memory_bytes",
          state.lastOption.map(_.memoryUsedBytes.toDouble).getOrElse(0.0)),
        Layers.m("streaming.state_commit_ms",
          Stats.median(state.map(_.commitTimeMs.toDouble)))) ++
      TableStats.metrics(c, tables)
    Outcome(
      attempted = measured.size.toLong + 1,
      failed = if (problems.isEmpty) 0 else measured.size.toLong + 1,
      correct = problems.isEmpty,
      endToEnd = Seq(
        Metric("setup_s", setupS, "s"),
        Metric("latency_ms", Stats.median(trig), "ms"),
        Metric("throughput_per_s", docsPerS, "1/s"),
        Metric("heap_mb", heap, "MB")),
      named = Seq(
        Metric("door_docs_per_s", docsPerS, "docs/s"),
        Metric("door_batch_p50_s", Stats.median(trig) / 1000.0, "s"),
        Metric("door_batch_max_s", (trig :+ 0.0).max / 1000.0, "s")),
      notes = Seq("admit_hash" -> Stats.sha256(keys.sorted.iterator),
        "batches" -> measured.size.toString, "batch_cap" -> cap.toString,
        "corpus_docs" -> nCorpus.toString),
      layers = layers)
  }
}
