package graft.streaming

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestBase
import graft.io.Tables
import graft.textan.TextAnalysis

class DocStreamsSpec extends AnyFunSuite with SparkTestBase {

  test("streaming content dedup keeps exactly the batch-distinct fingerprint set") {
    // corpus with guaranteed duplicates: the fixture documents twice
    // (fresh doc_ids for the copies, same text)
    val docs = Tables.documents(spark, sf)
    val doubled = docs.unionByName(
      docs.withColumn("doc_id", col("doc_id") + lit(1000000L)))
    val tmp = tempDir("graft-dedup-stream")
    doubled.write.mode("overwrite").parquet(tmp)

    val query = DocStreams.dedupDocumentStream(spark, tmp)
      .writeStream.outputMode("append")
      .format("memory").queryName("dedup_docs_out").start()
    try {
      query.processAllAvailable()
      val got = spark.table("dedup_docs_out")
      val gotFps = got.select("fingerprint").collect().map(_.getString(0)).toSeq
      val batchFps = docs
        .select(TextAnalysis.contentFingerprint(col("text")).as("fp"))
        .distinct().collect().map(_.getString(0)).toSeq
      // one survivor per distinct content, same fingerprint set as batch
      assert(gotFps.length == gotFps.distinct.length)
      assert(gotFps.toSet == batchFps.toSet)
    } finally query.stop()
  }

  test("watermarked event dedup drops same-id re-deliveries") {
    val events = Tables.events(spark, sf).limit(500)
    val doubled = events.unionByName(events)
    val tmp = tempDir("graft-dedup-events")
    doubled.write.mode("overwrite").parquet(tmp)

    val query = DocStreams.dedupEventStream(spark, tmp)
      .writeStream.outputMode("append")
      .format("memory").queryName("dedup_events_out").start()
    try {
      query.processAllAvailable()
      val got = spark.table("dedup_events_out")
      val distinctIds = events.select("event_id").distinct().count()
      assert(got.count() == distinctIds)
      assert(got.select("event_id").distinct().count() == distinctIds)
    } finally query.stop()
  }

  test("streaming HLL registers equal batch register-for-register across batches with re-deliveries") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val terms = Tables.documents(spark, sf)
      .select(explode(split(lower(col("text")), "\\s+")).as("term"))
      .filter(col("term") =!= "")
      .collect().map(_.getString(0)).toSeq
    val (a, b) = terms.splitAt(terms.length / 3)

    val mem = MemoryStream[String]
    val q = DocStreams.hllRegisters(mem.toDF().toDF("term"))
      .writeStream.outputMode("complete")
      .format("memory").queryName("hll_stream_out").start()
    try {
      mem.addData(a)
      q.processAllAvailable()
      mem.addData(b)
      q.processAllAvailable()
      mem.addData(a.take(200)) // re-deliver: max-merge must not move
      q.processAllAvailable()
      val got = spark.table("hll_stream_out")
        .collect().map(r => r.getInt(0) -> r.getInt(1)).toMap
      val expected = DocStreams.hllRegisters(terms.toDF("term"))
        .collect().map(r => r.getInt(0) -> r.getInt(1)).toMap
      assert(got == expected,
        "streaming register state must merge to the batch sketch")
    } finally q.stop()
  }

  test("streaming CMS counters: re-delivery overcounts, dedup-then-sum equals batch") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val terms = Tables.documents(spark, sf).limit(60)
      .select(explode(split(lower(col("text")), "\\s+")).as("term"))
      .filter(col("term") =!= "")
      .collect().map(_.getString(0)).toSeq
    val batch = DocStreams.cmsCounters(terms.toDF("term"))
      .collect().map(r => (r.getInt(0), r.getInt(1)) -> r.getLong(2)).toMap

    // raw sum-merge with a duplicated slice: one-sided error only
    val mem = MemoryStream[String]
    val q = DocStreams.cmsCounters(mem.toDF().toDF("term"))
      .writeStream.outputMode("complete")
      .format("memory").queryName("cms_raw_out").start()
    try {
      mem.addData(terms)
      q.processAllAvailable()
      mem.addData(terms.take(100)) // at-least-once re-delivery
      q.processAllAvailable()
      val got = spark.table("cms_raw_out")
        .collect().map(r => (r.getInt(0), r.getInt(1)) -> r.getLong(2)).toMap
      assert(got.keySet == batch.keySet)
      assert(batch.forall { case (k, v) => got(k) >= v },
        "a CMS must never undercount, even under re-delivery")
      assert(got.values.sum > batch.values.sum,
        "the duplicated slice must visibly inflate the raw sum-merge")
    } finally q.stop()

    // the correct at-least-once shape: id-dedup before the sum
    val mem2 = MemoryStream[(Long, String)]
    val deduped = mem2.toDF().toDF("term_id", "term")
      .dropDuplicates("term_id")
    val q2 = DocStreams.cmsCounters(deduped)
      .writeStream.outputMode("complete")
      .format("memory").queryName("cms_dedup_out").start()
    try {
      val ided = terms.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      mem2.addData(ided)
      q2.processAllAvailable()
      mem2.addData(ided.take(100))
      q2.processAllAvailable()
      val got = spark.table("cms_dedup_out")
        .collect().map(r => (r.getInt(0), r.getInt(1)) -> r.getLong(2)).toMap
      assert(got == batch,
        "dedup-then-sum must rebuild the batch counter grid exactly")
    } finally q2.stop()
  }

  test("stream-static near-dup: banded stream doc collides with its historical twin") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val history = Tables.documents(spark, sf).filter(col("doc_id") < 30)
      .select(col("doc_id"), col("text"))
    val historyBands = graft.dedup.Dedup.minhashBandKeys(history)
    // an exact re-delivery of history doc 0 (all bands collide) and a
    // clearly foreign text (no shared shingles → no collision)
    val copiedText = history.filter(col("doc_id") === 0).head().getString(1)
    val mem = MemoryStream[(Long, String)]
    val q = DocStreams.nearDupCandidatesAgainstStatic(
        mem.toDF().toDF("doc_id", "text"), historyBands)
      .writeStream.outputMode("append")
      .format("memory").queryName("neardup_stream_out").start()
    try {
      mem.addData((5000L, copiedText),
        (5001L, "zq wv xk pj mn bt zq wv xk pj mn bt zq wv"))
      q.processAllAvailable()
      val got = spark.table("neardup_stream_out").collect()
      val copied = got.filter(_.getLong(0) == 5000L)
      assert(copied.nonEmpty && copied.forall(_.getLong(1) == 0L),
        s"re-delivered content must band-collide with exactly doc 0; got ${got.toSeq}")
      assert(copied.map(_.getInt(2)).distinct.length == 4,
        "an exact copy collides in ALL four bands")
      assert(!got.exists(_.getLong(0) == 5001L),
        "foreign text must not collide with any historical band")
    } finally q.stop()
  }

  test("stream-static CDX dedup: revisits flagged, revisions and mirrors pass") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    // history: docs < 30 fetched once at clean URLs
    val history = Tables.documents(spark, sf).filter(col("doc_id") < 30)
      .select(col("doc_id").as("fetch_id"),
        concat(lit("https://ex.com/p/"), col("doc_id")).as("url"),
        col("text"))
    val idx = graft.dedup.Dedup.cdxIndex(history)
    val t3 = history.filter(col("fetch_id") === 3).head().getString(2)
    val mem = MemoryStream[(Long, String, String)]
    val q = DocStreams.cdxDupAgainstStatic(
        mem.toDF().toDF("fetch_id", "url", "text"), idx)
      .writeStream.outputMode("append")
      .format("memory").queryName("cdx_stream_out").start()
    try {
      mem.addData(
        // revisit: doc 3's URL dressed in tracking junk, same bytes
        (9000L, "HTTPS://ex.com:443/p/3?utm_source=rss#top", t3),
        // revision: same canonical URL, changed content
        (9001L, "https://ex.com/p/3", t3 + " updated"),
        // mirror: identical content at a DIFFERENT URL — not CDX's job
        (9002L, "https://mirror.net/p/3", t3))
      q.processAllAvailable()
      val got = spark.table("cdx_stream_out").collect()
        .map(r => (r.getLong(0), r.getLong(3))).toSeq
      assert(got == Seq((9000L, 3L)),
        s"exactly the revisit flags, owned by fetch 3; got $got")
    } finally q.stop()
  }

  test("stream-static line dedup: historical lines flagged, fresh lines pass") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val history = Tables.documents(spark, sf).filter(col("doc_id") < 30)
      .select(col("doc_id"), col("text"))
    val idx = graft.dedup.Dedup.lineIndex(history)
    // incoming doc = history doc 3's first 10-token line + 10 fresh
    // tokens: exactly ONE line collides, at position 0
    val h3 = history.filter(col("doc_id") === 3).head().getString(1)
    val firstLine = h3.split(" ").take(10).mkString(" ")
    val fresh = Seq.tabulate(10)(i => s"zq$i").mkString(" ")
    val mem = MemoryStream[(Long, String)]
    val q = DocStreams.lineDupAgainstStatic(
        mem.toDF().toDF("doc_id", "text"), idx)
      .writeStream.outputMode("append")
      .format("memory").queryName("linedup_stream_out").start()
    try {
      mem.addData((7000L, s"$firstLine $fresh"), (7001L, fresh))
      q.processAllAvailable()
      val got = spark.table("linedup_stream_out").collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getInt(3)))
      assert(got.toSeq == Seq((7000L, 0, 3L, 0)),
        s"exactly the copied line flags, owned by doc 3 line 0; got ${got.toSeq}")
    } finally q.stop()
  }

  test("streaming cross-modal gate: real decode + caption parse on a stream, keeps/drops == batch == curation row") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.multimodal.Multimodal
    val n = graft.Queries.CrossModalN
    // the batch curation fixture's exact pair table: image id paired
    // with its own caption, except id = 4 (mod 5) takes the NEXT id's
    // caption — captions from the shared crafted formula
    def caption(id: Long): String = {
      val tones = (0 until Multimodal.ClipDim).map { x =>
        ((id * 131 + x * 79 + id * x * 57 + id * x * x * 23) % 256 / 4).toInt
      }
      s"photo $id tones ${tones.mkString(" ")}"
    }
    val entries = (0L until n).map { id =>
      val capId = if (id % 5 == 4) (id + 1) % n else id
      (id, Multimodal.makeClipPng(id), caption(capId))
    } :+ (999L, Array[Byte](1, 2, 3), caption(0)) // undecodable: drops
    val mem = MemoryStream[(Long, Array[Byte], String)]
    val q = DocStreams.crossmodalGateStream(
        mem.toDF().toDF("pair_id", "payload", "caption"))
      .writeStream.outputMode("append")
      .format("memory").queryName("xm_gate_stream_out").start()
    val got = try {
      mem.addData(entries: _*)
      q.processAllAvailable()
      spark.table("xm_gate_stream_out").collect()
        .map(r => (r.getLong(0), r.getDouble(1), r.getInt(2)))
        .sortBy(_._1).toSeq
    } finally q.stop()
    // the undecodable payload dropped; every real pair scored
    assert(got.map(_._1) == (0L until n))
    // kept/dropped matches the batch curation row bit for bit
    val curation = graft.Queries.q_crossmodal_curation(spark, sf).collect()
      .map(r => (r.getLong(0), r.getDouble(2), r.getInt(3))).sortBy(_._1).toSeq
    assert(got == curation, s"stream gate != batch curation row")
    // stream == batch through the SAME twin
    val batch = DocStreams.crossmodalGateStream(
        entries.toDF("pair_id", "payload", "caption")).collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getInt(2)))
      .sortBy(_._1).toSeq
    assert(got == batch)
  }

  test("stream-static frontier admission: scheduled canons drop, admissions continue host queues, stream == batch") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val frontier = graft.Queries.q_crawl_frontier(spark, sf)
      .select(col("host"), col("canon"), col("host_rank"))
    val f0canon = frontier.orderBy(col("canon")).head().getString(1)
    val wwwQueue = frontier.filter(col("host") === "www.example.com")
      .agg(max(col("host_rank"))).head().getInt(0)
    val entries = Seq(
      // already scheduled: the frontier canon dressed in a fragment
      // canonicalizes back to itself -> first-wins to the frontier
      (9000L, f0canon + "#dup"),
      // fresh page on an ALREADY-QUEUED host -> admitted at the
      // host's next politeness slot
      (9001L, "https://www.example.com/docs/brandnew?z=1"),
      // relative entry: never fetchable, dropped like the batch row
      (9002L, "/docs/rel/new?x=1"),
      // fresh host -> queue starts at slot 0
      (9003L, "https://fresh.example.io/a"),
      // DUPLICATE canon inside the same batch (a fragment variant of
      // 9003's URL): exactly one of the pair may admit — the r18
      // advice's dropDuplicates("canon"); the winner is
      // single-but-arbitrary, so assertions below are canon-level
      (9004L, "https://fresh.example.io/a#again"))
    val mem = MemoryStream[(Long, String)]
    val q = DocStreams.frontierAdmitAgainstStatic(
        mem.toDF().toDF("entry_id", "url"), frontier)
      .writeStream.outputMode("append")
      .format("memory").queryName("frontier_stream_out").start()
    val got = try {
      mem.addData(entries: _*)
      q.processAllAvailable()
      spark.table("frontier_stream_out").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getInt(3), r.getLong(4)))
        .sortBy(_._1).toSeq
    } finally q.stop()
    // one admission for www, exactly ONE for the duplicated fresh
    // canon (either entry id), nothing else
    assert(got.map(_._1).count(_ == 9001L) == 1, s"admitted set: $got")
    val freshRows = got.filter(r => r._1 == 9003L || r._1 == 9004L)
    assert(freshRows.size == 1,
      s"dup canon admitted ${freshRows.size} times: $got")
    assert(got.size == 2, s"admitted set: $got")
    val byId = got.map(r => r._1 -> r).toMap
    assert(byId(9001L)._2 == "www.example.com")
    assert(byId(9001L)._3 == wwwQueue && byId(9001L)._4 == wwwQueue * 2L,
      s"politeness continuation: ${byId(9001L)}")
    assert(freshRows.head._3 == 0 && freshRows.head._4 == 0L)
    // stream == batch: the same entries through the same twin as a
    // plain DataFrame yield identical rows up to the arbitrary winner
    // among same-canon duplicates (normalize both ids to 9003)
    val norm = (rows: Seq[(Long, String, Int, Long)]) => rows
      .map(r => (if (r._1 == 9004L) 9003L else r._1, r._2, r._3, r._4))
      .sortBy(_._1)
    val batch = DocStreams.frontierAdmitAgainstStatic(
        entries.toDF("entry_id", "url"), frontier).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getInt(3), r.getLong(4)))
      .sortBy(_._1).toSeq
    assert(batch.size == 2, s"batch admitted set: $batch")
    assert(norm(batch) == norm(got), s"stream $got != batch $batch")
  }

  test("stream-static DSIR scoring: new docs scored against frozen LMs == batch") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val history = Tables.documents(spark, sf).filter(col("doc_id") < 80)
    val (lm, tt, tq) = graft.textan.Dsir.collectLm(history, col("lang") === "en")
    // "new" documents the frozen LMs have never seen, plus the
    // batch-parity shapes: empty and one-token docs must drop
    val newDocs = Seq(
      (9000L, "the quick brown fox jumps over the lazy dog"),
      (9001L, "zq1 zq2 zq3 zq4 zq5 unseen vocabulary entirely"),
      (9002L, "solo"), (9003L, ""))
    val mem = MemoryStream[(Long, String)]
    val q = DocStreams.dsirScoreAgainstStatic(
        mem.toDF().toDF("doc_id", "text"), lm, tt, tq)
      .writeStream.outputMode("append")
      .format("memory").queryName("dsir_stream_out").start()
    try {
      mem.addData(newDocs: _*)
      q.processAllAvailable()
      val got = spark.table("dsir_stream_out")
        .as[(Long, Long, Long)].collect().sortBy(_._1).toSeq
      val batch = DocStreams.dsirScoreAgainstStatic(
          newDocs.toDF("doc_id", "text"), lm, tt, tq)
        .as[(Long, Long, Long)].collect().sortBy(_._1).toSeq
      assert(got == batch, s"stream != batch: $got vs $batch")
      assert(got.map(_._1) == Seq(9000L, 9001L),
        "sub-2-token docs must drop, scored docs must emit exactly once")
    } finally q.stop()
  }

  test("minhashBandKeys (narrow) equals the aggregate pipeline's keys batch-side") {
    val docs = Tables.documents(spark, sf).limit(50)
      .select(col("doc_id"), col("text"))
    // candidate pairs derived from the narrow keys must equal
    // minhashCandidates' (same key definition, different plan shape)
    val narrow = graft.dedup.Dedup.minhashBandKeys(docs)
    val viaNarrow = narrow.as("x").join(narrow.as("y"),
        col("x.band") === col("y.band") &&
          col("x.band_key") === col("y.band_key") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id"), col("y.doc_id")).distinct()
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val viaAgg = graft.dedup.Dedup.minhashCandidates(docs)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(viaNarrow == viaAgg)
  }

  test("upsertIntoStore: first arrival wins per id, later batches only append new ids") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val storeDir = tempDir("graft-store-inc") + "/store"
    val mem = MemoryStream[(Long, String, String, Long)]
    val stream = mem.toDF().toDF("doc_id", "text", "source", "n_chars")
    val q = DocStreams.upsertIntoStore(stream, storeDir)
    try {
      // batch 1: two docs under source A, one under B
      mem.addData(
        (1L, "alpha beta gamma delta", "srcA", 22L),
        (2L, "epsilon zeta eta theta", "srcB", 22L))
      q.processAllAvailable()
      val after1 = spark.read.parquet(storeDir)
        .select("id", "doc_id").as[(String, Long)].collect().toMap
      assert(after1 == Map("srcA_chunk_0" -> 1L, "srcB_chunk_0" -> 2L))
      // batch 2: doc 3 COLLIDES with srcA_chunk_0 (same source) →
      // must NOT replace doc 1's row; doc 4 brings a new id
      mem.addData(
        (3L, "iota kappa lambda mu", "srcA", 20L),
        (4L, "nu xi omicron pi", "srcC", 16L))
      q.processAllAvailable()
      val after2 = spark.read.parquet(storeDir)
        .select("id", "doc_id").as[(String, Long)].collect().toMap
      assert(after2 == Map(
        "srcA_chunk_0" -> 1L,  // original row survived the collision
        "srcB_chunk_0" -> 2L,
        "srcC_chunk_0" -> 4L))
      // the store serves the batch retrieval surface unchanged
      val emb = graft.vector.HashingEmbedder(64)
      val store = spark.read.parquet(storeDir)
      val qdf = emb.embed(
        Seq(("epsilon zeta", 0)).toDF("query_text", "query_id"),
        textCol = "query_text", out = "q_embedding")
      val top = graft.vector.VectorOps.topK(store, qdf, 1,
          tiebreak = Seq(col("doc_id"), col("chunk_index")))
        .select("doc_id").as[Long].head()
      assert(top == 2L)
    } finally q.stop()
  }

  test("upsertIntoStore: TWO maintenance epochs with near-dup re-deliveries — store and retrieval equal batch") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val storeDir = tempDir("graft-store-epoch") + "/store"
    val mem = MemoryStream[(Long, String, String, Long)]
    val stream = mem.toDF().toDF("doc_id", "text", "source", "n_chars")
    val q = DocStreams.upsertIntoStore(stream, storeDir)
    try {
      // epoch 1: two singleton batches
      mem.addData((1L, "alpha beta gamma delta", "srcA", 22L))
      q.processAllAvailable()
      mem.addData((2L, "epsilon zeta eta theta", "srcB", 22L))
      q.processAllAvailable()
      // epoch 2: a NEAR-DUP re-delivery (id collision srcA_chunk_0,
      // lightly edited text) interleaved with a genuinely new doc,
      // then an EXACT re-delivery in a later batch — both collisions
      // must lose to the epoch-1 first arrival
      mem.addData(
        (3L, "alpha beta gamma delt", "srcA", 21L),
        (4L, "nu xi omicron pi", "srcC", 16L))
      q.processAllAvailable()
      mem.addData((5L, "alpha beta gamma delta", "srcA", 22L))
      q.processAllAvailable()

      // batch twin: buildStore over the first-arrival-per-id doc set
      val kept = Seq(
        (1L, "alpha beta gamma delta", "srcA", 22L),
        (2L, "epsilon zeta eta theta", "srcB", 22L),
        (4L, "nu xi omicron pi", "srcC", 16L))
        .toDF("doc_id", "text", "source", "n_chars")
      val batchStore = graft.pipeline.RagPipeline.buildStore(kept, "simple")
      val colNames = batchStore.columns.sorted.toSeq
      val incStore = spark.read.parquet(storeDir)
      val inc = incStore.select(colNames.map(col): _*)
        .collect().map(_.toSeq).toSet
      val bat = batchStore.select(colNames.map(col): _*)
        .collect().map(_.toSeq).toSet
      assert(inc == bat,
        s"incremental store after two epochs must equal the batch store:\ninc=$inc\nbat=$bat")

      // retrieval parity on the serving surfaces: brute cosine AND the
      // ANN path over the enumerated store (the saved-index fit's
      // deterministic twin) must rank identically from either store
      val emb = graft.vector.HashingEmbedder(64)
      val qdf = emb.embed(
        Seq(("epsilon zeta", 0), ("omicron pi nu", 1))
          .toDF("query_text", "query_id"),
        textCol = "query_text", out = "q_embedding")
      def bruteTop(store: org.apache.spark.sql.DataFrame) =
        graft.vector.VectorOps.topK(store, qdf, 2,
            tiebreak = Seq(col("doc_id"), col("chunk_index")))
          .select("query_id", "rank", "id", "cos_sim")
          .collect().map(_.toSeq).toSet
      assert(bruteTop(incStore) == bruteTop(batchStore))
      def annTop(store: org.apache.spark.sql.DataFrame) = {
        val indexed = graft.rel.PrefixSum.exclusivePrefixSum(
          store, col("id"), lit(1L), "vec_id")
        val (assigned, cents) = graft.vector.Ivf.boundedIndex(
          indexed, nCells = 2, rounds = 1)
        graft.vector.Ivf.topK(assigned, cents, qdf, 2, nProbe = 2)
          .collect().map(_.toSeq).toSet
      }
      assert(annTop(incStore) == annTop(batchStore),
        "IVF retrieval over the maintained store must match the batch store")
    } finally q.stop()
  }

  test("streaming chunker parity: FixedChunker over a MemoryStream equals batch") {
    // the chunker is a stateless generate+project (no window, no
    // aggregate), so the SAME transform runs unchanged on a stream in
    // append mode — this pins that the chunking surface works under
    // Structured Streaming, split across two micro-batches
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val cols = Seq("doc_id", "chunk_index", "text", "start", "end",
      "char_length", "token_length")
    val batchDocs = Tables.documents(spark, sf).limit(40)
      .select(col("doc_id"), col("source"), col("text"),
        col("n_chars").cast("long").as("n_chars"))
    val rows = batchDocs.as[(Long, String, String, Long)].collect().toSeq
    val mem = MemoryStream[(Long, String, String, Long)]
    val streamed = graft.text.chunk.FixedChunker()
      .chunk(mem.toDF().toDF("doc_id", "source", "text", "n_chars"))
    val q = streamed.writeStream.outputMode("append")
      .format("memory").queryName("chunk_stream_out").start()
    try {
      mem.addData(rows.take(20): _*)
      q.processAllAvailable()
      mem.addData(rows.drop(20): _*)
      q.processAllAvailable()
      val got = spark.table("chunk_stream_out")
        .select(cols.map(col): _*).collect().map(_.toSeq).toSet
      val batch = graft.text.chunk.FixedChunker().chunk(batchDocs)
        .select(cols.map(col): _*).collect().map(_.toSeq).toSet
      assert(got == batch, "stream chunks must equal batch chunks")
      assert(got.nonEmpty)
    } finally q.stop()
  }

  test("watermark horizon: in-horizon re-delivery dropped, past-horizon re-admitted") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val mem = MemoryStream[(Long, java.sql.Timestamp)]
    def ts(h: Int, m: Int) =
      java.sql.Timestamp.valueOf(f"2026-01-01 $h%02d:$m%02d:00")
    val q = DocStreams.dedupEvents(mem.toDF().toDF("event_id", "ts"))
      .writeStream.outputMode("append")
      .format("memory").queryName("wm_out").start()
    try {
      mem.addData((1L, ts(1, 0)), (2L, ts(1, 10))) // watermark after batch: 00:10
      q.processAllAvailable()
      mem.addData((1L, ts(1, 30))) // state for id 1 alive (wm 00:10 < 02:00) → dropped
      q.processAllAvailable()
      mem.addData((3L, ts(5, 0))) // advances watermark to 04:00 → id-1 state evicted
      q.processAllAvailable()
      mem.addData((1L, ts(5, 30))) // past the horizon → re-admitted (bounded-state trade)
      q.processAllAvailable()
      val got = spark.table("wm_out").select("event_id")
        .collect().map(_.getLong(0)).toSeq
      assert(got.count(_ == 1L) == 2,
        s"expected the past-horizon re-delivery of id 1 to re-emit; got $got")
      assert(got.count(_ == 2L) == 1 && got.count(_ == 3L) == 1)
    } finally q.stop()
  }

  test("storeEpoch: post-batch saved-index serve rebuilds exactly once, O(1) after") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val storeDir = tempDir("graft-store-se") + "/store"
    val mem = MemoryStream[(Long, String, String, Long)]
    val stream = mem.toDF().toDF("doc_id", "text", "source", "n_chars")
    // no commits yet: no version token — serves would content-check
    assert(DocStreams.storeEpoch(storeDir).isEmpty)
    val q = DocStreams.upsertIntoStore(stream, storeDir)
    val key = "docstreams-spec-store-epoch"
    def serve(): String = graft.text.Bm25.ensureSavedIndex(
      spark.read.parquet(storeDir)
        .select(col("doc_id"), col("text")),
      key, epoch = DocStreams.storeEpoch(storeDir))
    try {
      mem.addData((1L, "alpha beta gamma delta", "srcA", 22L))
      q.processAllAvailable()
      val e1 = DocStreams.storeEpoch(storeDir)
      assert(e1.isDefined, "a committed batch must version the store")
      val p1 = serve()
      // same epoch: the repeat serve is the O(1) memo hit — same dir,
      // no new temp dir created
      val before = graft.io.TempDirs.registeredCount
      assert(serve() == p1 && graft.io.TempDirs.registeredCount == before)
      // batch 2 lands new content and bumps the version exactly once
      mem.addData((2L, "epsilon zeta eta theta", "srcB", 22L))
      q.processAllAvailable()
      val e2 = DocStreams.storeEpoch(storeDir)
      assert(e2.isDefined && e2 != e1, "each commit must move the epoch")
      // post-batch serve: content re-checked ONCE → one rebuild ...
      val p2 = serve()
      assert(p2 != p1, "changed store must rebuild the index")
      // ... and the next serve under the same epoch is O(1) again
      val after = graft.io.TempDirs.registeredCount
      assert(serve() == p2 && graft.io.TempDirs.registeredCount == after,
        "second serve of the same store version must not rebuild")
    } finally q.stop()
  }

  test("streaming Gopher-gate parity: hard-threshold rules over a MemoryStream equal batch") {
    // the Gopher rules are pure per-row expressions (regex + array
    // HOFs, no aggregate, no window) — the SAME transform runs
    // unchanged on a stream, so the ingest gate composes with the
    // continuous-crawl path like the classifier gate does
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val cols = Seq("doc_id", "n_words", "mean_word_len", "symbol_ratio",
      "bullet_frac", "ellipsis_frac", "alpha_frac", "n_stop_hits", "pass")
    val batchDocs = Tables.documents(spark, sf).limit(30)
      .select(col("doc_id"), col("text"))
    val rows = batchDocs.as[(Long, String)].collect().toSeq
    val mem = MemoryStream[(Long, String)]
    val q = graft.textan.TextAnalysis
      .gopherRules(mem.toDF().toDF("doc_id", "text"))
      .select(cols.map(col): _*)
      .writeStream.outputMode("append")
      .format("memory").queryName("gopher_stream_out").start()
    try {
      mem.addData(rows.take(15): _*)
      q.processAllAvailable()
      mem.addData(rows.drop(15): _*)
      q.processAllAvailable()
      val got = spark.table("gopher_stream_out").collect().map(_.toSeq).toSet
      val batch = graft.textan.TextAnalysis.gopherRules(batchDocs)
        .select(cols.map(col): _*).collect().map(_.toSeq).toSet
      assert(got == batch, "streamed Gopher rows must equal batch")
      assert(got.nonEmpty)
    } finally q.stop()
  }

  test("streaming classifier parity: frozen-model gate over a MemoryStream equals batch") {
    // the classifier gate is a pure map (integer fold per row), so the
    // SAME transform runs unchanged on a stream; the giant-document
    // split routing must AUTO-DISABLE on a streaming frame (the
    // existence probe is an eager action a stream cannot run)
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val cols = Seq("doc_id", "n_features", "s_int", "score", "keep")
    val batchDocs = Tables.documents(spark, sf).limit(30)
      .select(col("doc_id"), col("text"), col("n_chars").cast("long").as("n_chars"))
    val rows = batchDocs.as[(Long, String, Long)].collect().toSeq
    val mem = MemoryStream[(Long, String, Long)]
    val streamed = graft.textan.TextAnalysis
      .classifierScore(mem.toDF().toDF("doc_id", "text", "n_chars"))
      .select(cols.map(col): _*)
    val q = streamed.writeStream.outputMode("append")
      .format("memory").queryName("clf_stream_out").start()
    try {
      mem.addData(rows.take(15): _*)
      q.processAllAvailable()
      mem.addData(rows.drop(15): _*)
      q.processAllAvailable()
      val got = spark.table("clf_stream_out").collect().map(_.toSeq).toSet
      val batch = graft.textan.TextAnalysis.classifierScore(batchDocs)
        .select(cols.map(col): _*).collect().map(_.toSeq).toSet
      assert(got == batch, "streamed classifier rows must equal batch")
      assert(got.nonEmpty)
    } finally q.stop()
  }

  test("stream-maintained store serves the composed saved-serve retrieval; a committed batch moves the epoch and rebuilds exactly once") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    // the full 100 TB loop in one spec: continuous ingest maintains
    // the chunk store (upsertIntoStore), DocStreams.storeEpoch is the
    // SavedIndex epoch token, and RagPipeline.hybridIndexedServe is
    // the composed query path — each committed micro-batch triggers
    // exactly one staleness re-check + rebuild; serves in between
    // are O(1) epoch hits
    val storeDir = tempDir("graft-ragserve-store") + "/store"
    val mem = MemoryStream[(Long, String, String, Long)]
    val q = DocStreams.upsertIntoStore(
      mem.toDF().toDF("doc_id", "text", "source", "n_chars"), storeDir)
    val emb = graft.vector.HashingEmbedder(64) // the embedder upsertIntoStore uses
    val queries = emb.embed(
      Seq(("omicron pi", 0), ("epsilon zeta", 1))
        .toDF("query_text", "query_id"),
      textCol = "query_text", out = "q_embedding")
    def serve(store: org.apache.spark.sql.DataFrame, key: String,
        epoch: Option[String]) =
      graft.pipeline.RagPipeline.hybridIndexedServe(spark, store, queries,
          cacheKeyBase = key, epoch = epoch)
        .collect().map(r => (r.getInt(0), r.getInt(1), r.getString(3)))
        .sortBy(t => (t._1, t._2)).toSeq
    try {
      mem.addData(
        (1L, "alpha beta gamma delta", "srcA", 22L),
        (2L, "epsilon zeta eta theta", "srcB", 22L))
      q.processAllAvailable()
      val r1 = serve(spark.read.parquet(storeDir), "spec-stream-rag",
        DocStreams.storeEpoch(storeDir))
      assert(r1.nonEmpty, "serve over the first committed store")
      // the target of query 0 does not exist yet
      assert(!r1.exists(_._3.contains("omicron")))
      // batch 2: a new doc lands → the store epoch moves → the NEXT
      // serve with the same key must re-check, rebuild, and retrieve
      // the new document
      mem.addData((3L, "nu xi omicron pi", "srcC", 16L))
      q.processAllAvailable()
      val r2 = serve(spark.read.parquet(storeDir), "spec-stream-rag",
        DocStreams.storeEpoch(storeDir))
      assert(r2.exists(t => t._1 == 0 && t._2 == 1 && t._3.contains("omicron")),
        s"post-upsert serve must retrieve the batch-2 doc: $r2")
      // the stream-maintained serve equals a fresh build over the
      // batch-built first-arrival store (the twin contract carried
      // through the whole composed funnel)
      val batchStore = graft.pipeline.RagPipeline.buildStore(
        Seq((1L, "alpha beta gamma delta", "srcA", 22L),
            (2L, "epsilon zeta eta theta", "srcB", 22L),
            (3L, "nu xi omicron pi", "srcC", 16L))
          .toDF("doc_id", "text", "source", "n_chars"), "simple")
      val expect = serve(batchStore, "spec-stream-rag-batchtwin",
        Some("spec-batch-twin-v1"))
      assert(r2 == expect, s"stream-store serve $r2 != batch-store serve $expect")
    } finally q.stop()
  }

  test("stream-static domain-quota admission: beats-the-bar docs admit, others drop, stream == batch == top-K displacement") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val K = 8
    // the frozen kept set IS the batch operator's output
    val kept = graft.Queries.q_domain_quota(spark, sf)
    val keptBySource = kept.collect()
      .map(r => (r.getString(0), r.getLong(2), r.getDouble(3)))
      .groupBy(_._1).map { case (s, rows) =>
        s -> rows.map(r => (r._3, r._2)).toSeq }
    val aSource = keptBySource.keys.min
    // stopword-rich long text scores high quality; "zq zq" scores low
    val richText = ("the and is of to in it was for on with as " * 10).trim
    val incoming = Seq(
      (90000L, aSource, richText),            // should beat the bar
      (90001L, aSource, "zq zq zq"),          // low quality: drop
      (90002L, "src-brandnew", "zq zq zq"))   // fresh source: quota open
    val mem = MemoryStream[(Long, String, String)]
    val q = DocStreams.quotaAdmitAgainstStatic(
        mem.toDF().toDF("doc_id", "source", "text"), kept, K)
      .writeStream.outputMode("append")
      .format("memory").queryName("quota_stream_out").start()
    val got = try {
      mem.addData(incoming: _*)
      q.processAllAvailable()
      spark.table("quota_stream_out").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getDouble(2), r.getInt(3)))
        .sortBy(_._1).toSeq
    } finally q.stop()
    // independent expectation: admit iff top-K of (kept ∪ {doc}) by
    // (quality DESC, doc_id ASC) still contains doc — a Scala sort,
    // not the twin's bar/filter logic
    val qualities = TextAnalysis
      .withQuality(incoming.toDF("doc_id", "source", "text"))
      .select(col("doc_id"), col("source"), col("quality")).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
    val expected = qualities.filter { case (id, src, qual) =>
      val pool = keptBySource.getOrElse(src, Seq.empty) :+ ((qual, id))
      pool.sortBy { case (ql, di) => (-ql, di) }.take(K).contains((qual, id))
    }.map(_._1).toSet
    assert(got.map(_._1).toSet == expected, s"admitted $got expected $expected")
    assert(expected.contains(90000L) && expected.contains(90002L) &&
      !expected.contains(90001L), s"fixture lost its shape: $expected")
    // stream == batch through the same twin
    val batch = DocStreams.quotaAdmitAgainstStatic(
        incoming.toDF("doc_id", "source", "text"), kept, K).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2), r.getInt(3)))
      .sortBy(_._1).toSeq
    assert(batch == got, s"stream $got != batch $batch")
  }

  test("quota admission with an EMPTY kept set: all quotas open, every doc admits, no NPE (r19 advice)") {
    import spark.implicits._
    // a fresh deployment has no kept history: max(rank) over zero
    // rows is null — the coalesce must read it as 0 (all quotas
    // open) instead of NPE-ing at twin construction
    val kept = graft.Queries.q_domain_quota(spark, sf).filter(lit(false))
    val incoming = Seq(
      (95000L, "srcA", "the and is of to in it was for on"),
      (95001L, "srcB", "zq zq zq"))
    val got = DocStreams.quotaAdmitAgainstStatic(
        incoming.toDF("doc_id", "source", "text"), kept, 8).collect()
      .map(r => (r.getLong(0), r.getInt(3))).sortBy(_._1).toSeq
    // both admit (quota_filled 0 < k), regardless of quality
    assert(got == Seq((95000L, 0), (95001L, 0)), s"got $got")
  }

  test("frontier admission with a dedup horizon: watermark-bounded state, same admissions (r19 advice)") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val frontier = graft.Queries.q_crawl_frontier(spark, sf)
      .select(col("host"), col("canon"), col("host_rank"))
    // same shape as the unbounded-dedup case: a fresh host admitted
    // once despite a same-batch duplicate canon, plus a fresh page
    // on a queued host — but deduped via dropDuplicatesWithinWatermark
    // so the state is bounded by the 10-minute horizon instead of
    // growing per distinct canon forever
    val t0 = java.sql.Timestamp.valueOf("2026-01-01 00:00:00")
    val entries = Seq(
      (9001L, "https://www.example.com/docs/brandnew?z=1", t0),
      (9003L, "https://fresh.example.io/a", t0),
      (9004L, "https://fresh.example.io/a#again", t0))
    val mem = MemoryStream[(Long, String, java.sql.Timestamp)]
    val q = DocStreams.frontierAdmitAgainstStatic(
        mem.toDF().toDF("entry_id", "url", "ts"), frontier,
        dedupHorizon = Some(("ts", "10 minutes")))
      .writeStream.outputMode("append")
      .format("memory").queryName("frontier_wm_out").start()
    val got = try {
      mem.addData(entries: _*)
      q.processAllAvailable()
      spark.table("frontier_wm_out").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getInt(3), r.getLong(4)))
        .sortBy(_._1).toSeq
    } finally q.stop()
    // one admission per distinct canon, exactly like the unbounded
    // default: www continues its host queue, the duplicated fresh
    // canon admits once at slot 0
    assert(got.size == 2, s"admitted set: $got")
    assert(got.map(_._1).count(_ == 9001L) == 1, s"admitted set: $got")
    val freshRows = got.filter(r => r._1 == 9003L || r._1 == 9004L)
    assert(freshRows.size == 1 && freshRows.head._3 == 0,
      s"dup canon under watermark dedup: $got")
  }

  test("stream-static leak-proof split: arrivals inherit frozen near-dup reps, zero straddlers, stream == batch == displacement oracle") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val docs = Tables.documents(spark, sf)
    val idxPath = graft.dedup.Dedup.ensureSavedSignatureIndex(docs, sf)
    val idx = spark.read.parquet(idxPath)
    val batchSplit = graft.Queries.q_split_neardup(spark, sf)
    // one history doc per split side, with its text for exact copies
    val byName = batchSplit.join(docs.select(col("doc_id"), col("text")), "doc_id")
      .filter(trim(col("text")) =!= "")
      .select(col("doc_id"), col("rep"), col("split"), col("text"))
      .collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getString(2), r.getString(3)))
    val train = byName.filter(_._3 == "train").minBy(_._1)
    val test0 = byName.filter(_._3 == "test").minBy(_._1)
    val incoming = Seq(
      (900001L, train._4),                 // exact copy of a TRAIN doc
      (900002L, test0._4),                 // exact copy of a TEST doc
      (900003L, "zqa zqb zqc zqd zqe zqf"),// fresh: matches nothing
      (900004L, train._4 + " trailing near dup tail"), // near-dup
      (900005L, "   "))                    // blank: singleton, no keys
    val inDf = incoming.toDF("doc_id", "text")
    val batch = DocStreams.splitAssignAgainstStatic(inDf, idx, batchSplit)
      .collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getInt(2), r.getString(3)))
      .sortBy(_._1).toSeq
    // stream through the SAME twin
    val mem = MemoryStream[(Long, String)]
    val q = DocStreams.splitAssignAgainstStatic(
        mem.toDF().toDF("doc_id", "text"), idx, batchSplit)
      .writeStream.outputMode("append")
      .format("memory").queryName("split_stream_out").start()
    val got = try {
      mem.addData(incoming: _*)
      q.processAllAvailable()
      spark.table("split_stream_out").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getString(3)))
        .sortBy(_._1).toSeq
    } finally q.stop()
    assert(got == batch, s"stream $got != batch $batch")
    // independent displacement oracle: the EXPLODED band-key path
    // (minhashBandKeys join posexplode'd index) — min matched history
    // rep, or the doc's own id when nothing matches
    val oracleRep = graft.dedup.Dedup.minhashBandKeys(inDf)
      .join(idx.select(col("doc_id").as("hist_id"),
          posexplode(col("bks")).as(Seq("band", "band_key"))),
        Seq("band", "band_key"))
      .join(batchSplit.select(col("doc_id").as("hist_id"),
        col("rep").as("hrep")), "hist_id")
      .groupBy(col("doc_id")).agg(min(col("hrep")).as("orep"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val expected = incoming.map { case (id, _) =>
      id -> oracleRep.getOrElse(id, id) }.toMap
    assert(got.map(r => r._1 -> r._2).toMap == expected,
      s"twin reps ${got.map(r => r._1 -> r._2)} != oracle $expected")
    val bySide = got.map(r => r._1 -> r).toMap
    // zero straddlers: exact copies inherit their original's rep AND
    // split — a near-dup of a train doc can never land in test
    assert(bySide(900001L)._2 == train._2 && bySide(900001L)._4 == "train")
    assert(bySide(900002L)._2 == test0._2 && bySide(900002L)._4 == "test")
    assert(bySide(900004L)._4 != "test" || bySide(900004L)._2 == 900004L,
      "a near-dup matching the train doc must not land in test")
    // fresh + blank docs are singletons keyed on themselves
    assert(bySide(900003L)._2 == 900003L && bySide(900005L)._2 == 900005L)
  }

  test("stream-static temperature-mix admission: frozen quotas/cuts gate new docs, unknown langs drop, stream == batch") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val selected = graft.Queries.q_temperature_mix(spark, sf)
    val sel = selected.collect()
      .map(r => (r.getLong(0), r.getString(1), r.getInt(4)))
    val quotaOf = sel.groupBy(_._2).map { case (l, rs) => l -> rs.head._3 }
    def hOf(id: Long): String = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(s"mix|$id".getBytes("UTF-8"))
      d.map("%02x".format(_)).mkString
    }
    val selKeys = sel.groupBy(_._2).map { case (l, rs) =>
      l -> rs.map(r => (hOf(r._1), r._1)).toSeq }
    val langs = quotaOf.keys.toSeq.sorted
    // a spread of fresh ids per known lang (md5 keys land on both
    // sides of each cut) plus an unknown lang that must drop
    val incoming = (0 until 40).map(i =>
      (91000L + i, langs(i % langs.size))) :+ ((99999L, "xx"))
    val mem = MemoryStream[(Long, String)]
    val q = DocStreams.mixAdmitAgainstStatic(
        mem.toDF().toDF("doc_id", "lang"), selected)
      .writeStream.outputMode("append")
      .format("memory").queryName("mix_stream_out").start()
    val got = try {
      mem.addData(incoming: _*)
      q.processAllAvailable()
      spark.table("mix_stream_out").collect()
        .map(r => (r.getLong(0), r.getString(1))).sortBy(_._1).toSeq
    } finally q.stop()
    // independent expectation: admit iff the doc's (h, id) key lands
    // inside the frozen smallest-`quota` of (selected keys ∪ {key}) —
    // a Scala sort over quota+1 keys, not the twin's cut logic
    val expected = incoming.filter { case (id, lang) =>
      quotaOf.get(lang).exists { quota =>
        val pool = selKeys.getOrElse(lang, Seq.empty) :+ ((hOf(id), id))
        pool.sorted.take(quota).contains((hOf(id), id))
      }
    }.map(_._1).toSet
    assert(got.map(_._1).toSet == expected, s"admitted $got expected $expected")
    assert(!got.exists(_._2 == "xx"), "unknown lang must drop")
    assert(expected.nonEmpty && expected.size < incoming.size,
      s"fixture must exercise both admit and drop: $expected")
    // stream == batch through the same twin
    val batch = DocStreams.mixAdmitAgainstStatic(
        incoming.toDF("doc_id", "lang"), selected).collect()
      .map(r => (r.getLong(0), r.getString(1))).sortBy(_._1).toSeq
    assert(batch == got, s"stream $got != batch $batch")
  }
}
