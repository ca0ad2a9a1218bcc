package graft.streaming

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestBase
import graft.io.Tables

class DocStreamsSpec extends AnyFunSuite with SparkTestBase {

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
}
