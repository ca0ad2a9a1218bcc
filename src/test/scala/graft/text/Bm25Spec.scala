package graft.text

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestBase

/** BM25 + RRF sanity beyond the DuckDB hash check. */
class Bm25Spec extends AnyFunSuite with SparkTestBase {

  private def docsDf = {
    import spark.implicits._
    Seq(
      (1L, "spark shuffle join join join"),
      (2L, "spark shuffle"),
      (3L, "window sort merge window sort"),
      (4L, "totally unrelated words here"),
      (5L, "join")).toDF("doc_id", "text")
  }

  test("bm25: repeated query terms rank higher; non-matching docs absent") {
    import spark.implicits._
    val q = Seq((0L, "join")).toDF("query_id", "qtext")
    val out = Bm25.topK(docsDf, q, 5).orderBy("rank").collect()
    // only docs containing 'join' score
    assert(out.map(_.getLong(2)).toSet == Set(1L, 5L))
    // tf=3 in doc 1 still beats doc 5's single occurrence — but only
    // narrowly (1.43 vs 1.41): k1 saturation + length normalization
    // nearly cancel three repetitions in a doc 5x as long
    assert(out.head.getLong(2) == 1L)
    assert(out.head.getDouble(3) - out(1).getDouble(3) < 0.1)
  }

  /** A result's rows in (query_id, rank) order. */
  private def ranked(df: org.apache.spark.sql.DataFrame): Seq[Seq[Any]] =
    df.orderBy("query_id", "rank").collect().map(_.toSeq).toSeq

  private def typesOf(df: org.apache.spark.sql.DataFrame) =
    df.schema.map(f => (f.name, f.dataType))

  test("saved index round-trips and topKIndexed matches topK from resident segments") {
    import spark.implicits._
    val q = Seq((0L, "join spark"), (1L, "window merge")).toDF("query_id", "qtext")
    val inline = Bm25.topK(docsDf, q, 5)
    val dir = tempDir("graft-bm25-spec")
    Bm25.saveIndex(docsDf, dir)
    val served = Bm25.topKIndexed(Bm25.loadIndex(spark, dir), q, 5)
    assert(ranked(served) == ranked(inline))
    assert(typesOf(served) == typesOf(inline))
    // the serve is a LocalRelation over the resident copy: the index
    // files are not scanned per request
    val plan = served.queryExecution.executedPlan.toString
    assert(plan.contains("LocalTableScan") && !plan.contains("FileScan"),
      s"resident serve must not scan the index files:\n${plan.take(2000)}")
  }

  test("topKIndexed equals topK row for row: ties, non-ASCII case, term-free queries, Int/Long ids") {
    import spark.implicits._
    // 1/2 and 3/4 score identically for every query (2 equals 1 once
    // lowered); 'Ü', 'É' and 'İ' only match if lower() is Spark's
    val docs = Seq(
      (1L, "Über straße join"), (2L, "über straße join"),
      (3L, "spark spark shuffle"), (4L, "spark spark shuffle"),
      (5L, "İstanbul ÉTÉ window"), (6L, "window merge join merge"))
      .toDF("doc_id", "text")
    val dir = tempDir("graft-bm25-ties")
    Bm25.saveIndex(docs, dir)
    val idx = Bm25.loadIndex(spark, dir)
    // 3: no indexed term; 4: no token at all; 5: NULL text
    val qLong = Seq[(Long, String)]((0L, "ÜBER join"), (1L, "SPARK shuffle"),
      (2L, "İSTANBUL été"), (3L, "zzz qqq"), (4L, "  "), (5L, null))
      .toDF("query_id", "qtext")
    val qInt = qLong.withColumn("query_id", col("query_id").cast("int"))
    for (q <- Seq(qLong, qInt)) {
      val served = Bm25.topKIndexed(idx, q, 4)
      val inline = Bm25.topK(docs, q, 4)
      assert(ranked(served) == ranked(inline))
      assert(typesOf(served) == typesOf(inline))
    }
    val rows = Bm25.topKIndexed(idx, qInt, 4).collect()
      .groupBy(_.getInt(0)).map { case (q, rs) =>
        q -> rs.sortBy(_.getInt(1)).map(r => (r.getLong(2), r.getDouble(3))).toSeq }
    assert(rows(0).take(2).map(_._1) == Seq(1L, 2L) && rows(0)(0)._2 == rows(0)(1)._2,
      s"lowered duplicates must tie, broken by doc_id: ${rows(0)}")
    assert(rows(1).take(2).map(_._1) == Seq(3L, 4L) && rows(1)(0)._2 == rows(1)(1)._2)
    assert(rows(2).headOption.map(_._1).contains(5L), s"non-ASCII terms: ${rows(2)}")
    assert(Seq(3, 4, 5).forall(q => !rows.contains(q)),
      "a query with no indexed term yields no rows")
  }

  test("ensureSavedIndex registers its temp dir for shutdown cleanup and memoizes") {
    val p1 = Bm25.ensureSavedIndex(docsDf, "bm25-spec-cleanup-key")
    assert(graft.io.TempDirs.isRegistered(p1),
      "saved-index dir must be registered for the exit cleanup hook")
    // second call with the same key serves the memoized path, no new dir
    val before = graft.io.TempDirs.registeredCount
    val p2 = Bm25.ensureSavedIndex(docsDf, "bm25-spec-cleanup-key")
    assert(p2 == p1 && graft.io.TempDirs.registeredCount == before)
  }

  test("staleness: an upserted corpus rebuilds the saved index (new dir, new fingerprint, fresh scores)") {
    import spark.implicits._
    val key = "bm25-spec-staleness-key"
    val q = Seq((0L, "spark join")).toDF("query_id", "qtext")
    val p1 = Bm25.ensureSavedIndex(docsDf, key)
    val fp1 = graft.io.Fingerprint.read(p1)
    assert(fp1.isDefined)
    // an in-flight serve: a LAZY load over p1 taken before the upsert
    val inFlight = Bm25.topKIndexed(Bm25.loadIndex(spark, p1),
      Seq((0L, "spark join")).toDF("query_id", "qtext"), 5)
    // append one doc under the SAME key: the serve must notice
    val upserted = docsDf.unionByName(
      Seq((6L, "spark join spark join")).toDF("doc_id", "text"))
    val p2 = Bm25.ensureSavedIndex(upserted, key)
    assert(p2 != p1, "changed corpus must rebuild into a fresh directory")
    assert(graft.io.Fingerprint.read(p2) != fp1,
      "rebuilt index must carry the new corpus fingerprint")
    // the superseded dir is unreachable for NEW serves but must stay
    // readable for in-flight ones (lazy reads taken pre-rebuild) —
    // it is PARKED for one rebuild cycle, not deleted at swap time
    assert(new java.io.File(p1).exists(),
      "superseded index dir must survive the swap for in-flight readers")
    assert(graft.io.TempDirs.isRegistered(p1),
      "superseded index dir must stay registered for exit cleanup")
    assert(inFlight.collect().nonEmpty,
      "a lazy serve planned before the rebuild must still execute")
    // retrieval parity: the rebuilt index serves the scores a fresh
    // inline build over the upserted corpus produces
    val served = Bm25.topKIndexed(Bm25.loadIndex(spark, p2), q, 5)
      .collect().map(_.toSeq).toSet
    val fresh = Bm25.topK(upserted, q, 5).collect().map(_.toSeq).toSet
    assert(served == fresh)
    assert(served.exists(_(2) == 6L), "new doc must be retrievable")
    // BOUNDED retention (current + 1 per key): a SECOND rebuild
    // reclaims the dir parked at the first — a streaming upserter
    // rebuilding every micro-batch holds two copies, never one per
    // batch — while the just-superseded p2 survives its one cycle
    val upserted2 = upserted.unionByName(
      Seq((7L, "window merge batch")).toDF("doc_id", "text"))
    val p3 = Bm25.ensureSavedIndex(upserted2, key)
    assert(p3 != p2)
    assert(!new java.io.File(p1).exists(),
      "dir parked at the first rebuild must be reclaimed by the second")
    assert(!graft.io.TempDirs.isRegistered(p1),
      "reclaimed dir must be unregistered from exit cleanup")
    assert(new java.io.File(p2).exists(),
      "the just-superseded dir survives one rebuild cycle")
  }

  test("staleness: epoch tokens are the caller's promise (O(1) hit, boundary re-check)") {
    import spark.implicits._
    val key = "bm25-spec-epoch-key"
    val p1 = Bm25.ensureSavedIndex(docsDf, key, epoch = Some("e1"))
    // same epoch: O(1) serve — by CONTRACT the corpus is not even
    // looked at, so offering different data under an unchanged epoch
    // serves the recorded index (a versioned-table read)
    val changed = docsDf.unionByName(
      Seq((7L, "entirely new content")).toDF("doc_id", "text"))
    assert(Bm25.ensureSavedIndex(changed, key, epoch = Some("e1")) == p1)
    // epoch moved: content re-checked, mismatch rebuilds
    val p2 = Bm25.ensureSavedIndex(changed, key, epoch = Some("e2"))
    assert(p2 != p1)
    // epoch moved but content identical: no rebuild, token adopted —
    // the NEXT e3 serve is O(1) again
    val p3 = Bm25.ensureSavedIndex(changed, key, epoch = Some("e3"))
    assert(p3 == p2)
    assert(Bm25.ensureSavedIndex(changed, key, epoch = Some("e3")) == p2)
  }

  test("bm25: rarer term contributes more than common term (idf)") {
    import spark.implicits._
    // 'spark' appears in 2 docs, 'window' in 1 -> same tf, window doc wins
    val q = Seq((0L, "spark window")).toDF("query_id", "qtext")
    val out = Bm25.topK(docsDf, q, 5).filter(col("rank") === 1).head()
    assert(out.getLong(2) == 3L)
  }

  test("rrf: agreement across lists beats a single first place") {
    import spark.implicits._
    val a = Seq((0L, 1, 101L), (0L, 2, 102L), (0L, 3, 103L))
      .toDF("query_id", "rank", "doc_id")
    val b = Seq((0L, 1, 104L), (0L, 2, 102L), (0L, 3, 103L))
      .toDF("query_id", "rank", "doc_id")
    val fused = Bm25.rrfFuse(a, b, 4).orderBy("rank").collect()
    // 102 appears rank-2 in BOTH lists: 2/(60+2) > 1/(60+1)
    assert(fused.head.getLong(2) == 102L)
    assert(fused.map(_.getLong(2)).toSet == Set(101L, 102L, 103L, 104L))
  }

  test("rrfFuseResident equals rrfFuse, also with an empty lexical list") {
    import spark.implicits._
    import graft.io.Resident.Hit
    // query 1: 104 and 107 both rank 1 in one list — a score tie
    val dense = Seq((0L, 1, 101L), (0L, 2, 102L), (0L, 3, 103L),
      (1L, 1, 104L), (1L, 2, 105L)).toDF("query_id", "rank", "doc_id")
    val lex = Seq((0L, 1, 102L), (0L, 2, 106L), (1L, 1, 107L))
      .toDF("query_id", "rank", "doc_id")
    def hits(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => Hit(r.get(0), r.getInt(1), r.getLong(2), null)).toSeq
    for (l <- Seq(lex, lex.filter(lit(false)))) {
      val reference = Bm25.rrfFuse(dense, l, 4).collect()
        .map(r => (r.get(0), r.getInt(1), r.getLong(2), r.getDouble(3))).toSet
      val got = Bm25.rrfFuseResident(hits(dense), hits(l), 4)
        .map(h => (h.queryId, h.rank, h.id, h.score.doubleValue)).toSet
      assert(got == reference)
    }
  }

  test("token jaccard: exact vocabulary match outranks supersets") {
    import spark.implicits._
    val q = Seq((0L, "spark shuffle")).toDF("query_id", "qtext")
    val out = Bm25.tokenJaccardTopK(docsDf, q, 3).orderBy("rank").collect()
    assert(out.head.getLong(2) == 2L) // doc 2 == exactly {spark, shuffle}
    assert(out.head.getDouble(3) == 1.0)
  }
}
