package graft.pipeline

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestBase
import graft.io.Resident
import graft.text.Bm25
import graft.vector.{HashingEmbedder, Ivf, VectorOps}

/** The rows-level serve core ([[RagPipeline.serveRows]]) and its
  * DataFrame wrappers, pinned to the Column trees over one saved pair:
  * `Ivf.topK` + `Bm25.topK` + `rrfFuse` + the citation join and
  * `contextAggregate`. */
class ServeRowsSpec extends AnyFunSuite with SparkTestBase {
  import spark.implicits._

  private val emb = HashingEmbedder(64)

  /** Chunk texts with planted duplicates (every score ties with its
    * twin's), case pairs, dotted and dotless I, `ß` and non-BMP text. */
  private val texts = Seq(
    "spark table scan", "spark table scan", "window merge join",
    "merge join", "join", "İstanbul ılık straße", "ISTANBUL ILIK STRASSE",
    "istanbul ilik strasse", "Dotted İ and dotless ı", "ß SS ss",
    "😀 emoji 𝔘 text", "𝔘𝔫𝔦𝔠𝔬𝔡𝔢 text", "plain words here", "plain words here",
    "table filter", "filter scan", "query plan", "SPARK QUERY", "zebra",
    "window function", "hash join", "sort merge", "text search", "İ ı I i")

  private lazy val store: DataFrame = emb.embedUdf(
      texts.zipWithIndex.map { case (t, i) => (i.toLong, 0, s"src${i % 5}", t) }
        .toDF("doc_id", "chunk_index", "source", "text"), "text", "embedding")
    .withColumn("id", concat(col("source"), lit("_chunk_"), col("doc_id")))

  private val base = RagPipeline.indexedCacheKeyBase("serve-rows-spec", "simple",
    emb)
  private val epoch = Some("serve-rows-spec-v1")
  private lazy val pair = RagPipeline.ensureIndexedServe(spark, store, base, epoch)

  private val queryWords = Gen.oneOf("spark", "SPARK", "Table", "join", "merge",
    "İ", "ı", "I", "i", "ß", "SS", "straße", "STRASSE", "İstanbul", "ılık",
    "😀", "𝔘", "text", "zzz", "!", "plain", "words")

  /** A query text: NULL, empty, blank (no terms) or 1–4 words. */
  private val queryText: Gen[String] = Gen.frequency(
    1 -> Gen.const(null), 1 -> Gen.const(""), 1 -> Gen.const("  \t"),
    8 -> Gen.choose(1, 4).flatMap(n => Gen.listOfN(n, queryWords)).map(_.mkString(" ")))

  /** A query frame: Int or Long ids, some repeated (a repeat carries the
    * same text, so both rows of an id probe the same cells). */
  private val queryFrames: Gen[(DataType, Seq[(Int, String)])] = for {
    idType <- Gen.oneOf[DataType](IntegerType, LongType)
    n <- Gen.choose(1, 4)
    qs <- Gen.listOfN(n, queryText)
    dup <- Gen.oneOf(false, true)
  } yield {
    val rows = qs.zipWithIndex.map { case (t, i) => (i * 7 - 3, t) }
    (idType, if (dup) rows :+ rows.head else rows)
  }

  private def frame(idType: DataType, rows: Seq[(Int, String)],
      idName: String = "query_id"): DataFrame =
    localFrame(
      StructType(Seq(StructField(idName, idType, nullable = false),
        StructField("query_text", StringType))),
      rows.map { case (id, t) => Row(if (idType == LongType) id.toLong else id, t) })

  private def embedded(df: DataFrame) =
    emb.embed(df, textCol = "query_text", out = "q_embedding")

  /** The Column-tree composition the resident serve mirrors. */
  private def reference(queries: DataFrame): DataFrame = {
    val (disk, cents, _) = pair
    val k2 = RagPipeline.TopK * 2
    val dense = Ivf.topK(disk, cents, queries.select(col("query_id"), col("q_embedding")),
        k2, nProbe = RagPipeline.IndexedProbe)
      .select(col("query_id"), col("rank"), col("vec_id").as("doc_id"))
    val lex = Bm25.topK(disk.select(col("vec_id").as("doc_id"), col("text")),
        queries.select(col("query_id"), col("query_text").as("qtext")), k2)
      .select(col("query_id"), col("rank"), col("doc_id"))
    Bm25.rrfFuse(dense, lex, RagPipeline.TopK)
      .withColumnRenamed("doc_id", "vec_id")
      .join(disk.select(col("vec_id"), col("source"), col("text")), "vec_id")
      .select(col("query_id"), col("rank"), col("source"), col("text"))
  }

  private def sorted(df: DataFrame): Seq[Seq[Any]] = sorted(df.collect())
  private def sorted(rows: Array[Row]): Seq[Seq[Any]] =
    rows.map(_.toSeq).toSeq.sortBy(_.map(String.valueOf).mkString("\u0000"))

  private def divideByZero(f: => Any): Boolean =
    try { f; false } catch {
      case e: Exception => Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .exists(t => String.valueOf(t.getMessage).contains("DIVIDE_BY_ZERO"))
    }

  private def withAnsi[T](on: Boolean)(body: => T): T = {
    val was = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", on.toString)
    try body finally spark.conf.set("spark.sql.ansi.enabled", was)
  }

  private def serve(queries: DataFrame): DataFrame =
    RagPipeline.hybridIndexedServe(spark, store, queries, base, epoch)

  test("property: serveRows and its wrappers equal the Column trees over one saved pair") {
    pair
    val cases = for {
      (idType, rows) <- queryFrames
      ansi <- Gen.oneOf(true, false)
    } yield (idType, rows, ansi)
    val prop = Prop.forAll(cases) { case (idType, rows, ansi) =>
      withAnsi(ansi) {
        val queries = embedded(frame(idType, rows))
        val zeroVector = rows.exists(r => r._2 == null || r._2.trim.isEmpty)
        val (disk, cents, bm) = pair
        val k2 = RagPipeline.TopK * 2
        val denseServed = () => Ivf.topKIndexed(disk, cents,
          queries.select(col("query_id"), col("q_embedding")), k2, RagPipeline.IndexedProbe)
        val denseRef = () => Ivf.topK(disk, cents,
          queries.select(col("query_id"), col("q_embedding")), k2, RagPipeline.IndexedProbe)
        val qtext = queries.select(col("query_id"), col("query_text").as("qtext"))
        val lexical = sorted(Bm25.topKIndexed(bm, qtext, k2)) ==
          sorted(Bm25.topK(disk.select(col("vec_id").as("doc_id"), col("text")), qtext, k2))
        if (ansi && zeroVector)
          // a zero-vector query's cosine is 0 / 0: DIVIDE_BY_ZERO on both sides
          lexical && divideByZero(serve(queries).collect()) &&
            divideByZero(reference(queries).collect()) &&
            divideByZero(denseServed().collect()) && divideByZero(denseRef().collect())
        else {
          val served = serve(queries)
          val ref = reference(queries)
          val core = RagPipeline.serveRows(pair, queries.collect().toSeq.map(r =>
            (r.get(0), r.getString(1), r.getSeq[Float](2).toArray)))
          val context = VectorOps.assembleContext(served)
          lexical && sorted(served) == sorted(ref) &&
            core.map(_.productIterator.toSeq).sortBy(_.map(String.valueOf).mkString("\u0000")) ==
              sorted(served) &&
            sorted(denseServed()) == sorted(denseRef()) &&
            Resident.driverRows(context).isDefined &&
            context.schema == VectorOps.contextAggregate(ref).schema &&
            sorted(context) == sorted(VectorOps.contextAggregate(ref))
        }
      }
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(25), prop)
    assert(res.passed, res.status.toString)
  }

  test("property: bound-expression query terms equal Spark's own query, and embed's driver path equals the UDF") {
    val prop = Prop.forAll(Gen.listOf(queryText)) { qs =>
      val df = frame(IntegerType, qs.zipWithIndex.map(_.swap))
      // a repartitioned frame runs a real job: the terms come from the
      // generated code on an executor, not from a driver-side fold
      val bySpark = df.repartition(2)
        .select(col("query_id"), Bm25.queryTermArray(col("query_text")))
        .collect().sortBy(_.getInt(0))
        .map(r => if (r.isNullAt(1)) Nil else r.getSeq[String](1)).toSeq
      val driver = emb.embed(df, textCol = "query_text", out = "q_embedding")
      val udf = emb.embedUdf(df, "query_text", "q_embedding")
      Bm25.queryTerms(spark, qs) == bySpark &&
        driver.queryExecution.analyzed.isInstanceOf[LocalRelation] &&
        driver.schema == udf.schema &&
        driver.collect().map(_.toSeq).toSeq == udf.collect().map(_.toSeq).toSeq
    }
    // under a Turkish default locale String.toLowerCase maps "I" to a
    // dotless "ı"; Spark's lower() (ICU, root locale) does not, and the
    // driver's terms must be Spark's
    val locale = java.util.Locale.getDefault
    java.util.Locale.setDefault(java.util.Locale.forLanguageTag("tr"))
    val res = try SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(40), prop)
      finally java.util.Locale.setDefault(locale)
    assert(res.passed, res.status.toString)
    // a frame that is not driver rows keeps the UDF projection
    val dir = tempDir("graft-embed")
    frame(IntegerType, Seq((1, "a b"))).write.mode("overwrite").parquet(dir)
    assert(Resident.driverRows(emb.embed(spark.read.parquet(dir), "query_text")).isEmpty)
  }

  test("a mixed-case query id column serves the same rows under the caller's spelling") {
    pair
    val rows = Seq((1, "spark table"), (2, "İstanbul join"))
    val lower = embedded(frame(LongType, rows))
    val mixed = embedded(frame(LongType, rows, idName = "Query_Id"))
    val (disk, cents, bm) = pair
    def check(a: DataFrame, b: DataFrame): Unit = {
      assert(b.schema.fieldNames.head == "Query_Id")
      assert(b.schema.fields.tail.toSeq == a.schema.fields.tail.toSeq)
      assert(sorted(a) == sorted(b))
    }
    check(serve(lower), serve(mixed))
    check(Ivf.topKIndexed(disk, cents, lower, 3, RagPipeline.IndexedProbe),
      Ivf.topKIndexed(disk, cents, mixed, 3, RagPipeline.IndexedProbe))
    check(Bm25.topKIndexed(bm, lower.withColumnRenamed("query_text", "qtext"), 3),
      Bm25.topKIndexed(bm, mixed.withColumnRenamed("query_text", "qtext"), 3))
    // the context over the mixed-case answer is assembled on the driver
    // and names the id as the aggregate does
    val context = VectorOps.assembleContext(serve(mixed))
    assert(Resident.driverRows(context).isDefined)
    assert(context.schema == VectorOps.contextAggregate(serve(mixed)).schema)
    assert(sorted(context) == sorted(VectorOps.assembleContext(serve(lower))))
  }

  test("concurrent warm serves answer as serial ones while the epoch moves and the pair rebuilds") {
    val key = RagPipeline.indexedCacheKeyBase("serve-rows-spec-concurrent", "simple",
      emb)
    val stores = Vector(store, store.filter(col("doc_id") % 3 =!= 0))
    val queries = embedded(frame(LongType,
      Seq((1, "spark table scan"), (2, "merge join"), (3, "İstanbul straße 😀"))))
    def answer(version: Int): Seq[Seq[Any]] = sorted(VectorOps.assembleContext(
      RagPipeline.hybridIndexedServe(spark, stores(version % 2), queries, key,
        Some(s"concurrent-v$version"))).collect())
    // the serial answer of each corpus version (each call rebuilds)
    val serial = Vector(answer(0), answer(1))
    assert(serial(0) != serial(1), "the two corpus versions must answer differently")
    val version = new java.util.concurrent.atomic.AtomicInteger(2)
    answer(2)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(5)
    try {
      val servers = (1 to 4).map(_ => pool.submit(() =>
        (1 to 15).map { _ =>
          val v = version.get
          (v, answer(v))
        }))
      // the fifth thread bumps the epoch twice; each bump swaps the
      // corpus, so the next serve of that epoch rebuilds the pair
      val bumper = pool.submit(() => (3 to 4).map { v =>
        Thread.sleep(200)
        version.set(v)
        answer(v)
      })
      bumper.get(300, java.util.concurrent.TimeUnit.SECONDS)
      servers.flatMap(_.get(300, java.util.concurrent.TimeUnit.SECONDS)).foreach {
        case (v, got) => assert(got == serial(v % 2), s"epoch $v answered differently")
      }
    } finally pool.shutdownNow()
  }
}
