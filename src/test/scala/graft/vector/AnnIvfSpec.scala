package graft.vector

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestBase
import graft.dedup.Dedup

/** Round-3 additions: the deterministic driver-side Lloyd's quantizer
  * behind [[Ivf.index]], the dim-derived LSH bucket length, and the
  * narrow candidate/verify shape of [[Ann.signLshNearDup]].
  */
class AnnIvfSpec extends AnyFunSuite with SparkTestBase {
  import spark.implicits._

  /** Deterministic synthetic corpus: `n` seeded unit-ish vectors plus
    * one slightly perturbed near-duplicate of each of the first
    * `dups` — so the true near-dup pair set is known by construction. */
  private def corpus(n: Int, dups: Int, dim: Int = 16): Seq[(Long, Seq[Float])] = {
    val rnd = new scala.util.Random(7)
    val base = (0 until n).map { i =>
      (i.toLong, Seq.fill(dim)(rnd.nextGaussian().toFloat))
    }
    val near = (0 until dups).map { i =>
      val v = base(i)._2.map(x => x + 0.01f * rnd.nextGaussian().toFloat)
      ((n + i).toLong, v)
    }
    base ++ near
  }

  test("lloyd: deterministic, k centroids, k > n degrades to n") {
    val sample = Array.tabulate(20)(i =>
      Array.tabulate(4)(j => (i * 4 + j).toFloat / 80f))
    val a = Ivf.lloyd(sample, 5, 10)
    val b = Ivf.lloyd(sample.map(_.clone), 5, 10)
    assert(a.length == 5)
    assert(a.zip(b).forall { case (x, y) => java.util.Arrays.equals(x, y) })
    assert(Ivf.lloyd(sample.take(3), 5, 10).length == 3)
  }

  test("Ivf.index cell assignment is independent of partition layout") {
    val df = corpus(40, 0).toDF("vec_id", "embedding")
    val (a3, c3) = Ivf.index(df.repartition(3), nCells = 4)
    val (a13, c13) = Ivf.index(df.repartition(13), nCells = 4)
    assert(c3.zip(c13).forall { case (x, y) => java.util.Arrays.equals(x, y) })
    val cells3 = a3.select("vec_id", "cell").as[(Long, Int)].collect().toMap
    val cells13 = a13.select("vec_id", "cell").as[(Long, Int)].collect().toMap
    assert(cells3 == cells13)
  }

  test("autoBucketLength scales as 0.4/sqrt(dim)") {
    assert(math.abs(Ann.autoBucketLength(64) - 0.05) < 1e-12)
    assert(Ann.autoBucketLength(16) > Ann.autoBucketLength(256))
  }

  test("signLshNearDup: every reported pair is confirmed, and recall vs brute is high") {
    val df = corpus(60, 10).toDF("vec_id", "embedding")
    val thr = 0.95
    val brute = Dedup.cosineNearDup(df, thr)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(brute.size >= 10) // the 10 constructed near-dups are found
    val lsh = Ann.signLshNearDup(df, thr)
    // soundness: the exact-cosine confirm bounds every reported pair
    assert(lsh.filter(col("cos_sim") < thr).count() == 0)
    val got = lsh.select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(got.subsetOf(brute))
    val recall = (brute intersect got).size.toDouble / brute.size
    assert(recall >= 0.8, s"sign-LSH recall too low: $recall")
  }

  test("signLshTopK: self always found; constructed near-dups land in the top-5") {
    import org.apache.spark.sql.Row
    val df = corpus(60, 10).toDF("vec_id", "embedding")
    // queries = the 10 base vectors that have a constructed near-dup
    val q = df.filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_embedding"))
    val got = Ann.signLshTopK(df, q, 5).collect()
      .groupBy(_.getLong(0)).map { case (k, rs) =>
        k -> rs.sortBy(_.getInt(1)).map(r => (r.getLong(2), r.getDouble(3)))
      }
    (0L until 10L).foreach { i =>
      val hits = got.getOrElse(i, Array.empty[(Long, Double)])
      // identical keys ⇒ the query itself is always a candidate, rank 1
      assert(hits.headOption.map(_._1).contains(i), s"query $i must find itself")
      // cos ≈ 0.9995 ⇒ the near-dup collides in ≥1 band w.h.p.
      assert(hits.map(_._1).contains(60L + i),
        s"query $i: constructed near-dup ${60 + i} missing from top-5 ${hits.toSeq}")
    }
  }

  test("signLshTopK: empty query batch yields an empty result, not a crash") {
    val df = corpus(20, 0).toDF("vec_id", "embedding")
    val noQueries = corpus(1, 0).toDF("query_id", "q_embedding")
      .filter(col("query_id") < 0)
    assert(Ann.signLshTopK(df, noQueries, 5).count() == 0)
  }

  test("persisted IVF index round-trips and serves topK with dynamic partition pruning") {
    val df = corpus(50, 0).toDF("vec_id", "embedding")
    val (assigned, cents) = Ivf.index(df, nCells = 4)
    val q = df.filter(col("vec_id") < 3)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_embedding"))
    val inMem = Ivf.topK(assigned, cents, q, 3, nProbe = 2)
      .collect().map(_.toSeq).toSet
    val dir = tempDir("graft-ivf-idx")
    Ivf.saveIndex(assigned, cents, dir)
    val (loaded, loadedCents) = Ivf.loadIndex(spark, dir)
    assert(loadedCents.zip(cents).forall { case (a, b) =>
      java.util.Arrays.equals(a, b) })
    val served = Ivf.topK(loaded, loadedCents, q, 3, nProbe = 2)
    assert(served.collect().map(_.toSeq).toSet == inMem)
    // the cell equi-join must reach the scan as a dynamic partition
    // filter: only probed cell directories are read from storage
    served.collect()
    val plan = served.queryExecution.executedPlan.toString
    assert(plan.contains("dynamicpruning") || plan.contains("PartitionFilters: [isnotnull(cell"),
      s"no partition pruning on the loaded index scan:\n${plan.take(2000)}")
  }

  test("loadIndex memoizes per (session, path): repeat loads return the cached frames, distinct paths stay distinct") {
    val df = corpus(30, 0).toDF("vec_id", "embedding")
    val (assigned, cents) = Ivf.index(df, nCells = 2)
    val d1 = tempDir("graft-ivf-memo1")
    val d2 = tempDir("graft-ivf-memo2")
    Ivf.saveIndex(assigned, cents, d1)
    Ivf.saveIndex(assigned, cents, d2)
    val a = Ivf.loadIndex(spark, d1)
    // repeat load: the SAME cached tuple (reference equality — the
    // centroid collect, a Spark job, must not re-run per serve)
    assert(Ivf.loadIndex(spark, d1).asInstanceOf[AnyRef]
      .eq(a.asInstanceOf[AnyRef]), "repeat load must hit the memo")
    // a different path is a different entry (content-addressed dirs:
    // a rebuilt index gets a fresh path, never a stale cache hit)
    assert(!Ivf.loadIndex(spark, d2).asInstanceOf[AnyRef]
      .eq(a.asInstanceOf[AnyRef]), "distinct paths must not collide")
    // same memo contract on the BM25 side
    import spark.implicits._
    val docs = (0L until 20L).map(i => (i, s"alpha beta token$i"))
      .toDF("doc_id", "text")
    val b1 = tempDir("graft-bm25-memo1")
    graft.text.Bm25.saveIndex(docs, b1)
    val bi = graft.text.Bm25.loadIndex(spark, b1)
    assert(graft.text.Bm25.loadIndex(spark, b1).asInstanceOf[AnyRef]
      .eq(bi.asInstanceOf[AnyRef]), "BM25 repeat load must hit the memo")
  }

  /** A result's rows in (query_id, rank) order. */
  private def ranked(df: org.apache.spark.sql.DataFrame): Seq[Seq[Any]] =
    df.orderBy("query_id", "rank").collect().map(_.toSeq).toSeq

  test("topKIndexed: resident serve equals topK on the loaded index, no file scan") {
    val df = corpus(50, 0).toDF("vec_id", "embedding")
    val (assigned, cents) = Ivf.index(df, nCells = 4)
    val q = df.filter(col("vec_id") < 3)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_embedding"))
    val inMem = Ivf.topK(assigned, cents, q, 3, nProbe = 2)
      .collect().map(_.toSeq).toSet
    val path = Ivf.ensureSavedIndex(df, nCells = 4, cacheKey = "annivf-spec-static")
    assert(graft.io.TempDirs.isRegistered(path),
      "saved-index dir must be registered for exit cleanup")
    // memo: same key serves the same path, no rebuild
    assert(Ivf.ensureSavedIndex(df, nCells = 4, cacheKey = "annivf-spec-static") == path)
    val (loaded, loadedCents) = Ivf.loadIndex(spark, path)
    val served = Ivf.topKIndexed(loaded, loadedCents, q, 3, nProbe = 2)
    assert(served.collect().map(_.toSeq).toSet == inMem,
      "saved-index serve must score bit-identically to the in-memory serve")
    // row for row against the Column trees over the SAME loaded frame
    val reference = Ivf.topK(loaded, loadedCents, q, 3, nProbe = 2)
    assert(served.schema == reference.schema)
    assert(ranked(served) == ranked(reference))
    // the serve is a LocalRelation over the resident copy: the index
    // files are not scanned per request
    val plan = served.queryExecution.executedPlan.toString
    assert(plan.contains("LocalTableScan") && !plan.contains("FileScan"),
      s"resident serve must not scan the index files:\n${plan.take(2000)}")
  }

  test("topKIndexed equals topK row for row: planted ties, Int and Long query ids") {
    // per base vector 0..5: an exact copy and a copy scaled by 2 — the
    // same direction, so all three score bit-identical cosines that
    // only the vec_id tiebreak orders
    val base = corpus(24, 0)
    val tied = base ++ base.take(6).flatMap { case (id, v) =>
      Seq((100L + id, v), (200L + id, v.map(_ * 2f))) }
    val df = tied.toDF("vec_id", "embedding")
    val path = Ivf.ensureSavedIndex(df, nCells = 4, cacheKey = "annivf-spec-ties")
    val (loaded, cents) = Ivf.loadIndex(spark, path)
    val qLong = df.filter(col("vec_id") < 6)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_embedding"))
    val qInt = qLong.withColumn("query_id", col("query_id").cast("int"))
    for (q <- Seq(qLong, qInt)) {
      val served = Ivf.topKIndexed(loaded, cents, q, 5, nProbe = 2)
      val reference = Ivf.topK(loaded, cents, q, 5, nProbe = 2)
      assert(served.schema == reference.schema)
      assert(ranked(served) == ranked(reference))
    }
    // the ties are real: each query's top three share one cosine
    val top3 = Ivf.topKIndexed(loaded, cents, qInt, 3, nProbe = 2).collect()
      .groupBy(_.getInt(0)).map { case (q, rs) =>
        q -> rs.sortBy(_.getInt(1)).map(r => (r.getLong(2), r.getDouble(3))).toSeq }
    (0 until 6).foreach { i =>
      assert(top3(i).map(_._1) == Seq(i.toLong, 100L + i, 200L + i))
      assert(top3(i).map(_._2).distinct.size == 1, s"query $i: ${top3(i)}")
    }
  }

  test("topKIndexed: a zero-vector query behaves as topK does") {
    val df = corpus(30, 0).toDF("vec_id", "embedding")
    val path = Ivf.ensureSavedIndex(df, nCells = 3, cacheKey = "annivf-spec-zero")
    val (loaded, cents) = Ivf.loadIndex(spark, path)
    val q = Seq((7L, Seq.fill(16)(0f))).toDF("query_id", "q_embedding")
    def divideByZero(f: => Any): Unit = {
      val e = intercept[Exception](f)
      assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .exists(t => String.valueOf(t.getMessage).contains("DIVIDE_BY_ZERO")), e)
    }
    // ANSI (the Spark 4 default): the probe's 0 / 0 raises
    divideByZero(Ivf.topK(loaded, cents, q, 3, nProbe = 2).collect())
    divideByZero(Ivf.topKIndexed(loaded, cents, q, 3, nProbe = 2).collect())
    // without ANSI every cosine is NULL: cells 0 and 1 are probed and
    // their rows rank by vec_id
    val ansi = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", "false")
    try {
      val served = Ivf.topKIndexed(loaded, cents, q, 3, nProbe = 2)
      assert(ranked(served) == ranked(Ivf.topK(loaded, cents, q, 3, nProbe = 2)))
      assert(served.collect().forall(_.isNullAt(3)) && served.count() == 3)
    } finally spark.conf.set("spark.sql.ansi.enabled", ansi)
  }

  test("staleness: an upserted corpus rebuilds the saved IVF index (new dir, new fingerprint, parity)") {
    val df = corpus(50, 0).toDF("vec_id", "embedding")
    val key = "annivf-spec-staleness"
    val p1 = Ivf.ensureSavedIndex(df, nCells = 4, cacheKey = key)
    val fp1 = graft.io.Fingerprint.read(p1)
    assert(fp1.isDefined)
    // upsert one vector under the SAME key — the serve must notice
    val extra = corpus(51, 0).filter(_._1 == 50L)
    val upserted = df.unionByName(extra.toDF("vec_id", "embedding"))
    val p2 = Ivf.ensureSavedIndex(upserted, nCells = 4, cacheKey = key)
    assert(p2 != p1, "changed corpus must rebuild into a fresh directory")
    assert(graft.io.Fingerprint.read(p2) != fp1,
      "rebuilt index must carry the new corpus fingerprint")
    // bounded retention: the superseded dir must stay readable for
    // in-flight lazy serves (parked one rebuild cycle, not deleted at
    // swap; Bm25Spec pins the reclaim-on-second-rebuild half)
    assert(new java.io.File(p1).exists(),
      "superseded index dir must survive the swap for in-flight readers")
    assert(graft.io.TempDirs.isRegistered(p1),
      "superseded index dir must stay registered for exit cleanup")
    // retrieval parity vs a FRESH fit of the upserted corpus: same
    // deterministic quantizer, so centroids and scores must agree
    val (assigned, cents) = Ivf.index(upserted, nCells = 4)
    val q = upserted.filter(col("vec_id") >= 48)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_embedding"))
    val fresh = Ivf.topK(assigned, cents, q, 3, nProbe = 2)
      .collect().map(_.toSeq).toSet
    val (loaded, loadedCents) = Ivf.loadIndex(spark, p2)
    val served = Ivf.topKIndexed(loaded, loadedCents, q, 3, nProbe = 2)
      .collect().map(_.toSeq).toSet
    assert(served == fresh)
    assert(served.exists(_(2) == 50L), "upserted vector must be retrievable")
  }

  test("ensureSavedBoundedIndex: served scores bit-identical to the in-memory bounded fit") {
    // vec_ids 0..n-1 contiguous — boundedIndex seeds cells from the
    // nCells lowest ids, so the corpus() helper fixture qualifies
    val df = corpus(50, 0).toDF("vec_id", "embedding")
    val q = df.filter(col("vec_id") < 3)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_embedding"))
    val (assigned, cents) = Ivf.boundedIndex(df, nCells = 4, rounds = 2)
    val inMem = Ivf.topK(assigned, cents, q, 3, nProbe = 2)
      .collect().map(_.toSeq).toSet
    val path = Ivf.ensureSavedBoundedIndex(df, nCells = 4, rounds = 2,
      cacheKey = "annivf-spec-bounded")
    // memo: same key serves the same path, no refit
    assert(Ivf.ensureSavedBoundedIndex(df, nCells = 4, rounds = 2,
      cacheKey = "annivf-spec-bounded") == path)
    val (loaded, loadedCents) = Ivf.loadIndex(spark, path)
    assert(loadedCents.zip(cents).forall { case (a, b) =>
      java.util.Arrays.equals(a, b) },
      "double centroids must round-trip parquet losslessly")
    val served = Ivf.topKIndexed(loaded, loadedCents, q, 3, nProbe = 2)
    assert(served.collect().map(_.toSeq).toSet == inMem,
      "saved bounded-index serve must score bit-identically to the in-memory fit")
  }

  test("mmrTopK: a near-duplicate of the rank-1 hit is demoted below a diverse hit") {
    import spark.implicits._
    // A' is A scaled (same direction: sim(A, A') = 1 exactly, rel
    // tied — broken to A by id); B is moderately relevant but mostly
    // orthogonal to A, so mmr(B) = 0.5·0.48 − 0.5·0.30 beats
    // mmr(A') = 0.5·rel − 0.5·1. Plain top-3 = (A, A', B); MMR must
    // put B at rank 2.
    val corpus = Seq(
      (10L, Seq(1.0f, 0.0f, 0.0f, 0.0f)),            // A
      (11L, Seq(0.9f, 0.0f, 0.0f, 0.0f)),            // A' = same direction
      (12L, Seq(0.3f, 0.0f, 0.95f, 0.0f)),           // B diverse
      (13L, Seq(0.0f, 0.1f, 0.0f, 0.9f)))            // noise
      .toDF("vec_id", "embedding")
    val q = Seq((0L, Seq(1.0f, 0.05f, 0.2f, 0.0f))).toDF("query_id", "q_embedding")
    val plain = Ann.bruteTopK(corpus, q, 3)
      .orderBy("rank").select("vec_id").as[Long].collect().toSeq
    assert(plain == Seq(10L, 11L, 12L))
    val mmrDf = Ann.mmrTopK(corpus, q, k = 3, depth = 4, lambda = 0.5)
    val mmr = mmrDf
      .orderBy("rank").select("vec_id").as[Long].collect().toSeq
    assert(mmr.head == 10L, s"rank 1 must stay the relevance argmax: $mmr")
    assert(mmr(1) == 12L, s"rank 2 must be the diverse hit, not the near-dup: $mmr")
    // the candidate set must stay DISTRIBUTED (localCheckpoint), not
    // collected through the driver into a LocalTableScan of embeddings
    // — at a 1M-query batch that collect is a driver-memory wall
    val plan = mmrDf.queryExecution.executedPlan.toString
    assert(!plan.contains("LocalTableScan"),
      s"mmr plan materializes candidates driver-side:\n${plan.take(2000)}")
  }

  test("lshNearDup with dim-derived bucket length matches brute on constructed dups") {
    val df = corpus(60, 10).toDF("vec_id", "embedding")
    val thr = 0.95
    val brute = Dedup.cosineNearDup(df, thr)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val got = Ann.lshNearDup(df, thr)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(got.subsetOf(brute))
    val recall = (brute intersect got).size.toDouble / brute.size
    assert(recall >= 0.8, s"BRP-LSH recall too low: $recall")
  }
}
