package graft.vector

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, LocalRelation}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestBase

class VectorOpsSpec extends AnyFunSuite with SparkTestBase {
  import spark.implicits._

  private def cosOf(a: Seq[Double], b: Seq[Double]): Double =
    Seq((a, b)).toDF("a", "b")
      .select(VectorOps.cosine(col("a"), col("b")).as("c"))
      .head().getDouble(0)

  test("cos(a, a) ≈ 1, symmetry, bounds") {
    val a = Seq(1.0, 2.0, 3.0, -1.0)
    val b = Seq(0.5, -2.0, 0.0, 4.0)
    assert(math.abs(cosOf(a, a) - 1.0) < 1e-12)
    assert(math.abs(cosOf(a, b) - cosOf(b, a)) < 1e-12)
    assert(cosOf(a, b) >= -1.0 - 1e-12 && cosOf(a, b) <= 1.0 + 1e-12)
  }

  test("orthogonal → 0, opposite → −1") {
    assert(math.abs(cosOf(Seq(1.0, 0.0), Seq(0.0, 1.0))) < 1e-12)
    assert(math.abs(cosOf(Seq(1.0, 2.0), Seq(-1.0, -2.0)) + 1.0) < 1e-12)
  }

  test("hashing embedder is deterministic, normalized, and bag-like") {
    val e = HashingEmbedder(32)
    val v1 = e.embedOne("spark table merge")
    val v2 = e.embedOne("spark table merge")
    assert(v1.toSeq == v2.toSeq)
    assert(math.abs(v1.map(x => x * x.toDouble).sum - 1.0) < 1e-6)
    // order-free bag semantics
    assert(e.embedOne("merge spark table").toSeq == v1.toSeq)
    // empty text → zero vector
    assert(e.embedOne("").forall(_ == 0f))
  }

  test("topK returns k best with deterministic ties and assembled context cites ranks") {
    val corpus = Seq(
      (1L, 0, "alpha", "srcA", Seq(1.0f, 0.0f)),
      (1L, 1, "beta", "srcA", Seq(0.9f, 0.1f)),
      (2L, 0, "gamma", "srcB", Seq(0.0f, 1.0f)),
      (2L, 1, "delta", "srcB", Seq(-1.0f, 0.0f)))
      .toDF("doc_id", "chunk_index", "text", "source", "embedding")
    val queries = Seq((0, Seq(1.0f, 0.0f))).toDF("query_id", "q_embedding")
    val topk = VectorOps.topK(corpus, queries, 3,
      Seq(col("doc_id"), col("chunk_index")))
    val got = topk.orderBy("rank").select("rank", "text").as[(Int, String)].collect()
    assert(got.map(_._2).toSeq == Seq("alpha", "beta", "gamma"))
    val ctx = VectorOps.assembleContext(
      topk.select(col("query_id"), col("rank"), col("source"), col("text")))
      .head().getString(1)
    assert(ctx.startsWith("Source [1] (srcA): alpha"))
    assert(ctx.contains("\n\n" + "Source [2] (srcA): beta"))
  }

  /** assembleContext over driver rows takes the driver path and equals
    * the Column-tree aggregate row for row, schema included. */
  private def contextMatchesAggregate(topk: DataFrame): Array[Row] = {
    assert(graft.io.Resident.driverRows(topk).isDefined)
    val driver = VectorOps.assembleContext(topk)
    assert(driver.queryExecution.optimizedPlan.isInstanceOf[LocalRelation],
      "driver rows must be assembled on the driver")
    val reference = VectorOps.contextAggregate(topk)
    assert(driver.schema == reference.schema)
    def rows(df: DataFrame) =
      df.collect().sortBy(r => Option(r.get(0)).map(_.toString))
    val got = rows(driver)
    assert(got.map(_.toSeq).toSeq == rows(reference).map(_.toSeq).toSeq)
    got
  }

  test("assembleContext on driver rows: rank ties sort in UTF-8 byte order, as the aggregate does") {
    // U+FF61 is below U+1F600 in UTF-8 (EF… < F0…) but above its
    // UTF-16 surrogates (FF61 > D83D): String.compareTo would flip them
    val topk = Seq(
      (0L, 2L, "s", "second"),
      (0L, 1L, "\uD83D\uDE00", "tie"),
      (0L, 1L, "\uFF61", "tie"),
      (1L, 1L, "only", "one"))
      .toDF("query_id", "rank", "source", "text")
    val got = contextMatchesAggregate(topk)
    assert(got(0).getString(1) == Seq("Source [1] (\uFF61): tie",
      "Source [1] (\uD83D\uDE00): tie", "Source [2] (s): second").mkString("\n\n"))
  }

  test("assembleContext on driver rows: NULL rank, source, text and query_id") {
    val topk = Seq[(Option[Int], Option[Int], String, String)](
      (Some(0), None, "a", "no rank"),
      (Some(0), Some(1), null, "no source"),
      (Some(0), Some(2), "c", null),
      (Some(0), Some(3), "d", "kept"),
      (Some(1), None, "e", "all cited entries NULL"),
      (None, Some(2), "f", "null id, rank 2"),
      (None, Some(1), "g", "null id, rank 1"))
      .toDF("query_id", "rank", "source", "text")
    val got = contextMatchesAggregate(topk)
    assert(got.map(r => Option(r.get(0)) -> r.getString(1)).toSeq == Seq(
      None -> "Source [1] (g): null id, rank 1\n\nSource [2] (f): null id, rank 2",
      Some(0) -> "Source [3] (d): kept",
      Some(1) -> ""))
  }

  test("assembleContext on driver rows: Int and Long ids, empty frame, projection and filter") {
    val rows = Seq((7, 2, "b", "y"), (7, 1, "a", "x"), (3, 1, "c", "z"))
    contextMatchesAggregate(rows.toDF("query_id", "rank", "source", "text"))
    contextMatchesAggregate(rows.map { case (q, r, s, t) => (q.toLong, r, s, t) }
      .toDF("query_id", "rank", "source", "text"))
    val empty = localFrame(StructType(Seq(
      StructField("query_id", LongType), StructField("rank", IntegerType),
      StructField("source", StringType), StructField("text", StringType))), Nil)
    assert(contextMatchesAggregate(empty).isEmpty)
    // ConvertToLocalRelation folds both into the local rows
    val wide = rows.map { case (q, r, s, t) => (q, r, s, t, r * 10) }
      .toDF("query_id", "rank", "source", "text", "score")
    val folded = wide.filter(col("score") < 20)
      .select(col("query_id"), col("rank"), upper(col("source")).as("source"), col("text"))
    assert(contextMatchesAggregate(folded).map(_.getString(1)).toSeq ==
      Seq("Source [1] (C): z", "Source [1] (A): x"))
  }

  test("assembleContext plans the aggregate over a parquet-backed frame or an unmirrored rank type") {
    val dir = tempDir("graft-context")
    Seq((0, 1, "a", "x"), (0, 2, "b", "y"))
      .toDF("query_id", "rank", "source", "text")
      .write.mode("overwrite").parquet(dir)
    val doubleRank = Seq((0, 1.0, "a", "x")).toDF("query_id", "rank", "source", "text")
    for (topk <- Seq(spark.read.parquet(dir), doubleRank)) {
      val ctx = VectorOps.assembleContext(topk)
      assert(ctx.queryExecution.optimizedPlan.collectFirst { case a: Aggregate => a }.isDefined)
    }
    assert(VectorOps.assembleContext(spark.read.parquet(dir)).collect().map(_.toSeq).toSeq ==
      Seq(Seq(0, "Source [1] (a): x\n\nSource [2] (b): y")))
  }

  test("brute, LSH, and IVF ANN agree on the top hit for fixture embeddings") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val q = emb.filter(col("vec_id") === 0)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_embedding"))
    val brute = Ann.bruteTopK(emb, q, 1).select("vec_id").head().getLong(0)
    val lsh = Ann.lshTopK(emb, q, 1).select("vec_id").head().getLong(0)
    val (assigned, cents) = Ivf.index(emb, nCells = 8)
    val ivf = Ivf.topK(assigned, cents, q, 1, nProbe = 2)
      .select("vec_id").head().getLong(0)
    assert(brute == 0L && lsh == 0L && ivf == 0L) // self is its own NN
  }

  test("IVF recall@5 vs brute is high with half the cells probed") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val q = emb.filter(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_embedding"))
    val brute = Ann.bruteTopK(emb, q, 5)
      .select("query_id", "vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val (assigned, cents) = Ivf.index(emb, nCells = 8)
    val ivf = Ivf.topK(assigned, cents, q, 5, nProbe = 4)
      .select("query_id", "vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (brute intersect ivf).size.toDouble / brute.size
    assert(recall >= 0.6, s"IVF recall@5 too low: $recall")
  }

  test("int8 first-pass + float rerank: high recall@5 vs full float brute") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val q = emb.filter(col("vec_id") < 3)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_embedding"))
    val brute = Ann.bruteTopK(emb, q, 5)
      .select("query_id", "vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val int8 = graft.Queries.q_topk_int8_rerank(spark, sf)
      .select("query_id", "vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (brute intersect int8).size.toDouble / brute.size
    assert(recall >= 0.8, s"int8-rerank recall@5 too low: $recall")
  }

  test("int8 quantization: range, sign, zero vector, dequantization error bound") {
    import spark.implicits._
    val rows = Seq(
      (1L, Seq(0.5f, -1.0f, 0.25f, 0.0f)),
      (2L, Seq(0.0f, 0.0f, 0.0f, 0.0f)),      // zero vector → zeros
      (3L, Seq(1e-8f, -1e-8f, 1e-8f, -1e-8f)), // tiny but nonzero scale
      (4L, Seq(100f, -50f, 25f, -12.5f)))
      .toDF("vec_id", "embedding")
    val out = rows.select(col("vec_id"), col("embedding"),
        Quantize.maxAbs(col("embedding")).as("m"),
        Quantize.int8(col("embedding")).as("q"))
      .orderBy("vec_id").collect()
    out.foreach { r =>
      val emb = r.getSeq[Float](1)
      val m = r.getDouble(2)
      val q = r.getSeq[Int](3)
      assert(q.length == emb.length)
      assert(q.forall(v => v >= -127 && v <= 127))
      if (m == 0.0) assert(q.forall(_ == 0))
      else {
        val scale = 127.0 / m
        emb.zip(q).foreach { case (x, qi) =>
          assert(math.signum(qi.toDouble) == math.signum(math.round(x * scale).toDouble)
            || qi == 0)
          // dequantization error ≤ half a quantization step
          assert(math.abs(x - qi / scale) <= 0.5 / scale + 1e-12,
            s"deq error too large for x=$x q=$qi m=$m")
        }
        // the max-magnitude component hits ±127 exactly
        assert(q.map(math.abs).max == 127)
      }
    }
    // integer dot is exact: Column result equals the Scala-side sum
    val two = rows.filter(col("vec_id").isin(1L, 4L))
      .select(col("vec_id"), Quantize.int8(col("embedding")).as("q"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    val dot = two(1L).zip(two(4L)).map { case (a, b) => a.toLong * b }.sum
    val viaCol = rows.filter(col("vec_id") === 1L)
      .select(Quantize.int8(col("embedding")).as("qa"))
      .crossJoin(rows.filter(col("vec_id") === 4L)
        .select(Quantize.int8(col("embedding")).as("qb")))
      .select(Quantize.dotQ(col("qa"), col("qb"))).head().getLong(0)
    assert(viaCol == dot)
  }
}
