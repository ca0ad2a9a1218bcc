package graft.pipeline

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestBase
import graft.text.Bm25
import graft.vector.{HashingEmbedder, Ivf}

/** [[RagPipeline.ensureIndexedServe]]'s build from driver rows, pinned
  * to the Spark build it replaced: the window dedup, the prefix-sum
  * enumeration, [[Ivf.boundedIndex]] and [[Bm25.buildIndex]] over
  * generated stores. */
class IndexedBuildSpec extends AnyFunSuite with SparkTestBase {

  private val emb = HashingEmbedder(64)

  /** Ids whose UTF-8 byte order differs from `String` order: U+FF61
    * sorts below U+1F600 in UTF-16 units and above it in UTF-8 bytes. */
  private val ids = Gen.oneOf[String]("a", "b", "A", "", "｡", "😀",
    "x｡", "x😀", "src1_chunk_0", "src1_chunk_10", "src1_chunk_2", null)

  private val texts = Gen.frequency[String](1 -> Gen.const(null), 1 -> Gen.const(""),
    1 -> Gen.const("  \t"), 8 -> Gen.choose(1, 5).flatMap(n => Gen.listOfN(n,
      Gen.oneOf("spark", "table", "scan", "İstanbul", "ılık", "ISTANBUL", "straße",
        "😀", "𝔘", "join", "merge", "join"))).map(_.mkString(" ")))

  /** A store of n rows: ids drawn with repeats, distinct (doc_id,
    * chunk_index) keys in shuffled order (so a repeat may sort before or
    * after its original), few distinct texts (equal embeddings leave
    * cells empty), as driver rows or as a distributed frame. */
  private val stores: Gen[(Seq[(String, Long, Int, String, String)], Boolean)] = for {
    n <- Gen.frequency(1 -> Gen.const(1), 1 -> Gen.const(5), 1 -> Gen.const(8),
      2 -> Gen.choose(9, 40))
    keys <- Gen.pick(n, 0 until 3 * n)
    seed <- Gen.long
    rows <- Gen.listOfN(n, Gen.zip(ids, texts))
    local <- Gen.oneOf(true, false)
  } yield (rows.zip(new scala.util.Random(seed).shuffle(keys.toSeq)).map { case ((id, t), k) =>
    (id, (k / 3).toLong, k % 3, s"src${k % 4}", t)
  }, local)

  private def storeFrame(rows: Seq[(String, Long, Int, String, String)],
      local: Boolean): DataFrame = {
    val schema = StructType(Seq(StructField("id", StringType), StructField("doc_id", LongType),
      StructField("chunk_index", IntegerType), StructField("source", StringType),
      StructField("text", StringType)))
    val df = localFrame(schema, rows.map(r => Row(r._1, r._2, r._3, r._4, r._5)))
    emb.embedUdf(if (local) df else df.repartition(3), "text", "embedding")
  }

  /** The Spark build the driver build replaced. */
  private def sparkBuild(store: DataFrame) = {
    val w = Window.partitionBy(col("id")).orderBy(col("doc_id"), col("chunk_index"))
    val enumerated = graft.rel.PrefixSum.exclusivePrefixSum(
        store.withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1).drop("__rn"),
        col("id"), lit(1L), "vec_id")
      .select(col("vec_id"), col("source"), col("text"), col("embedding"))
    val (assigned, cents) = Ivf.boundedIndex(enumerated, RagPipeline.IndexedCells, rounds = 2)
    (enumerated, assigned, cents,
      Bm25.buildIndex(enumerated.select(col("vec_id").as("doc_id"), col("text"))))
  }

  private def rows(df: DataFrame, cols: String*): Seq[Seq[Any]] =
    df.select(cols.map(col): _*).collect().map(_.toSeq).toSeq
      .sortBy(_.map(String.valueOf).mkString("\u0000"))

  private def bits(cents: Array[Array[Double]]) =
    cents.toSeq.map(_.toSeq.map(java.lang.Double.doubleToRawLongBits))

  /** The saved file a lazy read of `name` opens, read again with its
    * schema inferred. */
  private def inferred(df: DataFrame, name: String): DataFrame = {
    val f = df.inputFiles.head
    spark.read.parquet(f.substring(0, f.indexOf(s"/$name/") + name.length + 1))
  }

  private val queryRows = Seq[(Any, String)]((0, "spark table scan"), (1, "İstanbul join"),
    (2, "zzz"), (3, "😀 straße merge"))

  private def withAnsiOff[T](body: => T): T = {
    val was = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", "false")
    try body finally spark.conf.set("spark.sql.ansi.enabled", was)
  }

  /** The Column trees of the serve over the Spark build. */
  private def reference(enumerated: DataFrame, assigned: DataFrame,
      cents: Array[Array[Double]], queries: DataFrame) = {
    val k2 = RagPipeline.TopK * 2
    val dense = Ivf.topK(assigned, cents, queries.select(col("query_id"), col("q_embedding")),
        k2, nProbe = RagPipeline.IndexedProbe)
      .select(col("query_id"), col("rank"), col("vec_id").as("doc_id"))
    val lex = Bm25.topK(enumerated.select(col("vec_id").as("doc_id"), col("text")),
        queries.select(col("query_id"), col("query_text").as("qtext")), k2)
      .select(col("query_id"), col("rank"), col("doc_id"))
    Bm25.rrfFuse(dense, lex, RagPipeline.TopK)
      .withColumnRenamed("doc_id", "vec_id")
      .join(enumerated.select(col("vec_id"), col("source"), col("text")), "vec_id")
      .select(col("query_id"), col("rank"), col("source"), col("text"))
  }

  test("property: the driver build saves and serves what the Spark build does") {
    val n = new java.util.concurrent.atomic.AtomicInteger()
    val prop = Prop.forAll(stores) { case (storeRows, local) =>
      val store = storeFrame(storeRows, local)
      val (enumerated, assigned, cents, bm) = sparkBuild(store)
      val key = s"indexed-build-spec-${n.incrementAndGet()}"
      val pair @ (disk, dCents, dBm) = RagPipeline.ensureIndexedServe(spark, store, key, Some("v1"))
      val queries = emb.embed(localFrame(
        StructType(Seq(StructField("query_id", IntegerType), StructField("query_text", StringType))),
        queryRows.map { case (q, t) => Row(q, t) }), "query_text", "q_embedding")
      val served = withAnsiOff(RagPipeline.serveRows(pair, queries.collect().toSeq.map(r =>
        (r.get(0), r.getString(1), r.getSeq[Float](2).toArray))))
        .map(_.productIterator.toSeq).sortBy(_.map(String.valueOf).mkString("\u0000"))
      val expected = withAnsiOff(rows(reference(enumerated, assigned, cents, queries),
        "query_id", "rank", "source", "text"))
      val saved = Seq(disk -> "corpus", dBm.postings -> "postings", dBm.docLen -> "doclen",
        dBm.dfreq -> "dfreq", dBm.stats -> "stats")
      bits(dCents) == bits(cents) &&
        rows(disk, "vec_id", "source", "text", "embedding") ==
          rows(enumerated, "vec_id", "source", "text", "embedding") &&
        rows(disk, "vec_id", "cell", "qv") == rows(assigned, "vec_id", "cell", "qv") &&
        rows(dBm.postings, "doc_id", "term", "tf") == rows(bm.postings, "doc_id", "term", "tf") &&
        rows(dBm.docLen, "doc_id", "dl") == rows(bm.docLen, "doc_id", "dl") &&
        rows(dBm.dfreq, "term", "df") == rows(bm.dfreq, "term", "df") &&
        rows(dBm.stats, "n_docs", "avgdl") == rows(bm.stats, "n_docs", "avgdl") &&
        saved.forall { case (df, name) =>
          df.inputFiles.isEmpty || df.schema == inferred(df, name).schema } &&
        served == expected
    }
    // under a Turkish default locale String.toLowerCase maps "I" to a
    // dotless "ı"; the tokens must stay Spark's
    val locale = java.util.Locale.getDefault
    java.util.Locale.setDefault(java.util.Locale.forLanguageTag("tr"))
    val res = try SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(12), prop)
      finally java.util.Locale.setDefault(locale)
    assert(res.passed, res.status.toString)
  }

  test("an empty store raises, as the Spark build's seed check does") {
    val e = intercept[IllegalArgumentException] {
      RagPipeline.ensureIndexedServe(spark, storeFrame(Nil, local = true),
        "indexed-build-spec-empty", Some("v1"))
    }
    assert(e.getMessage.contains("vec_ids 0"), e.getMessage)
  }
}
