package perfbench

import java.sql.Timestamp
import java.util.SplittableRandom
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Seeded synthetic inputs with the repository's table schemas
  * (FIXTURES.md): a word-soup document corpus with exact duplicates and
  * shared passages, clustered embeddings, and the TPC-H-shaped star
  * schema. The same seed always yields the same rows. */
object Gen {
  val Vocab: Array[String] = ("batch part spark line column order small " +
    "sort fast value scan a hash slow group agg filter query big key " +
    "window row table stream merge data vector join customer the")
    .split(" ")
  private val Langs = Array("en", "en", "en", "en", "es", "zh", "de", "fr")

  private def words(r: SplittableRandom, n: Int): Seq[String] =
    Seq.fill(n)(Vocab(r.nextInt(Vocab.length)))

  /** `n` document texts: 1 % exact copies of an earlier text, 3 % that
    * embed a 25-token passage of an earlier text, the rest fresh. */
  def texts(n: Int, seed: Long): Array[String] = {
    val r = new SplittableRandom(seed)
    val out = new Array[String](n)
    for (i <- 0 until n) {
      val roll = r.nextInt(100)
      out(i) =
        if (i > 10 && roll < 1) out(r.nextInt(i))
        else if (i > 10 && roll < 4) {
          val src = out(r.nextInt(i)).split(" ")
          val len = math.min(src.length, 25)
          val st = r.nextInt(src.length - len + 1)
          (words(r, 5 + r.nextInt(20)) ++ src.slice(st, st + len) ++
            words(r, 5 + r.nextInt(20))).mkString(" ")
        } else words(r, 8 + r.nextInt(93)).mkString(" ")
    }
    out
  }

  def documents(spark: SparkSession, ts: Array[String], seed: Long,
                idBase: Long = 0L): DataFrame = {
    val r = new SplittableRandom(seed ^ 0x5DEECE66DL)
    val rows = ts.indices.map { i =>
      Row(idBase + i, ts(i), Langs(r.nextInt(Langs.length)),
        s"src${i % 20}", ts(i).length.toLong)
    }
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 4),
      StructType(Seq(StructField("doc_id", LongType),
        StructField("text", StringType), StructField("lang", StringType),
        StructField("source", StringType), StructField("n_chars", LongType))))
  }

  /** `n` vectors of `dim` floats around 16 seeded centres. */
  def vectors(n: Int, dim: Int, seed: Long): Array[Array[Float]] = {
    val r = new SplittableRandom(seed ^ 0x9E3779B97F4A7C15L)
    val centres = Array.fill(16, dim)(r.nextDouble(-0.15, 0.15))
    Array.fill(n) {
      val c = centres(r.nextInt(16))
      Array.tabulate(dim)(d => (c(d) + r.nextDouble(-0.05, 0.05)).toFloat)
    }
  }

  def vectorFrame(spark: SparkSession, ids: Seq[Long],
                  vs: Array[Array[Float]]): DataFrame = {
    val rows = ids.zip(vs).map { case (id, v) =>
      Row(id, v.toSeq, (id % 10).toInt)
    }
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 4),
      StructType(Seq(StructField("vec_id", LongType),
        StructField("embedding", ArrayType(FloatType)),
        StructField("label", IntegerType))))
  }

  private def day(r: SplittableRandom, from: String, span: Int): Timestamp =
    Timestamp.valueOf(java.time.LocalDate.parse(from)
      .plusDays(r.nextInt(span).toLong).atStartOfDay())
  private def money(x: Double): Double = math.round(x * 100) / 100.0

  /** Writes every table the benchmark's registry queries read, at scale
    * factor `sf`, as parquet under `dir`. */
  def writeTables(spark: SparkSession, dir: String, sf: Double,
                  seed: Long): Unit = {
    def write(name: String, rows: Seq[Row], schema: StructType): Unit =
      spark.createDataFrame(spark.sparkContext.parallelize(rows, 4), schema)
        .coalesce(1).write.mode("overwrite").parquet(s"$dir/$name.parquet")
    val r = new SplittableRandom(seed)
    val nCust = math.max(10, (150000 * sf).toInt)
    val nSupp = math.max(5, (10000 * sf).toInt)
    val nOrd = math.max(50, (1500000 * sf).toInt)
    val nDocs = math.max(100, (50000 * sf).toInt)
    write("region", Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
      .zipWithIndex.map { case (n, i) => Row(i, n) },
      StructType(Seq(StructField("r_regionkey", IntegerType),
        StructField("r_name", StringType))))
    write("nation", (0 until 25).map(i => Row(i, s"NATION_$i", i % 5)),
      StructType(Seq(StructField("n_nationkey", IntegerType),
        StructField("n_name", StringType),
        StructField("n_regionkey", IntegerType))))
    val segs = Array("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
      "MACHINERY")
    write("customer", (0 until nCust).map(i => Row(i.toLong,
        f"Customer#$i%09d", r.nextInt(25), money(r.nextDouble(-999, 9999)),
        segs(r.nextInt(5)))),
      StructType(Seq(StructField("c_custkey", LongType),
        StructField("c_name", StringType),
        StructField("c_nationkey", IntegerType),
        StructField("c_acctbal", DoubleType),
        StructField("c_mktsegment", StringType))))
    write("supplier", (0 until nSupp).map(i => Row(i.toLong,
        f"Supplier#$i%09d", r.nextInt(25), money(r.nextDouble(-999, 9999)))),
      StructType(Seq(StructField("s_suppkey", LongType),
        StructField("s_name", StringType),
        StructField("s_nationkey", IntegerType),
        StructField("s_acctbal", DoubleType))))
    val prios = Array("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
      "5-LOW")
    val status = Array("F", "O", "P")
    write("orders", (0 until nOrd).map(i => Row(i.toLong,
        r.nextInt(nCust).toLong, status(r.nextInt(3)),
        money(r.nextDouble(1000, 500000)), day(r, "1995-01-01", 2404),
        prios(r.nextInt(5)))),
      StructType(Seq(StructField("o_orderkey", LongType),
        StructField("o_custkey", LongType),
        StructField("o_orderstatus", StringType),
        StructField("o_totalprice", DoubleType),
        StructField("o_orderdate", TimestampType),
        StructField("o_orderpriority", StringType))))
    val flags = Array("A", "N", "R")
    val lines = (0 until nOrd).flatMap { o =>
      (1 to 1 + r.nextInt(7)).map(ln => Row(o.toLong,
        r.nextInt(nOrd / 7 + 1).toLong, r.nextInt(nSupp).toLong, ln,
        (1 + r.nextInt(50)).toDouble, money(r.nextDouble(900, 100000)),
        r.nextInt(11) / 100.0, r.nextInt(9) / 100.0, flags(r.nextInt(3)),
        if (r.nextBoolean()) "O" else "F", day(r, "1995-01-02", 2498)))
    }
    write("lineitem", lines,
      StructType(Seq(StructField("l_orderkey", LongType),
        StructField("l_partkey", LongType),
        StructField("l_suppkey", LongType),
        StructField("l_linenumber", IntegerType),
        StructField("l_quantity", DoubleType),
        StructField("l_extendedprice", DoubleType),
        StructField("l_discount", DoubleType),
        StructField("l_tax", DoubleType),
        StructField("l_returnflag", StringType),
        StructField("l_linestatus", StringType),
        StructField("l_shipdate", TimestampType))))
    documents(spark, texts(nDocs, seed + 1), seed + 2)
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    vectorFrame(spark, (0 until nDocs / 2).map(_.toLong),
      vectors(nDocs / 2, 64, seed + 3))
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
  }

  /** The door's deterministic 8-dim embedding of a text's first two
    * tokens (the ingest loop's featurizer): texts sharing that prefix
    * are semantic twins only the semantic gate can see. */
  def embedOf(text: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    val prefix = concat_ws(" ",
      slice(graft.operators.TextAnalysis.tokens(text), 1, 2))
    transform(sequence(lit(0), lit(7)), i =>
      (pmod(xxhash64(concat_ws("_", prefix, i.cast("string"))),
        lit(2000L)).cast("double") - 1000.0d) / 1000.0d)
  }
}
