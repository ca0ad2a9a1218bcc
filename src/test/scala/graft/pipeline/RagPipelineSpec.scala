package graft.pipeline

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestBase
import graft.vector.{HashingEmbedder, VectorOps}

class RagPipelineSpec extends AnyFunSuite with SparkTestBase {

  private lazy val docs = spark.read.parquet(s"$sf/documents.parquet")

  /** The Column trees the resident hybrid serve mirrors, over a saved
    * pair from [[RagPipeline.ensureIndexedServe]]: in-memory IVF
    * top-2k, inline BM25 top-2k, rrfFuse, the citation join-back. */
  private def columnTreeServe(disk: org.apache.spark.sql.DataFrame,
      cents: Array[Array[Double]], queries: org.apache.spark.sql.DataFrame) = {
    val k2 = RagPipeline.TopK * 2
    val dense = graft.vector.Ivf.topK(disk, cents,
        queries.select(col("query_id"), col("q_embedding")), k2,
        nProbe = RagPipeline.IndexedProbe)
      .select(col("query_id"), col("rank"), col("vec_id").as("doc_id"))
    val lex = graft.text.Bm25.topK(
        disk.select(col("vec_id").as("doc_id"), col("text")),
        queries.select(col("query_id"), col("query_text").as("qtext")), k2)
      .select(col("query_id"), col("rank"), col("doc_id"))
    graft.text.Bm25.rrfFuse(dense, lex, RagPipeline.TopK)
      .withColumnRenamed("doc_id", "vec_id")
      .join(disk.select(col("vec_id"), col("source"), col("text")), "vec_id")
      .select(col("query_id"), col("rank"), col("source"), col("text"))
  }

  private def byQuery(rows: Array[org.apache.spark.sql.Row]) =
    rows.map(_.toSeq).toSeq.sortBy(_.head.asInstanceOf[Int])

  test("buildStore: ids are {source}_chunk_{i}, upsert dedups ids (V1)") {
    val store = RagPipeline.buildStore(docs, "simple")
    assert(store.filter(!col("id").rlike("^src[0-9]+_chunk_[0-9]+$")).count() == 0)
    assert(store.groupBy("id").count().filter(col("count") > 1).count() == 0)
    assert(store.schema("embedding").dataType.simpleString == "array<float>")
  }

  test("vector store round-trips through parquet and retrieval still works") {
    val tmp = tempDir("graft-store")
    RagPipeline.buildStore(docs, "simple").write.mode("overwrite").parquet(tmp)
    val store = spark.read.parquet(tmp)
    val embedder = HashingEmbedder(64)
    val q = {
      import spark.implicits._
      embedder.embed(
        Seq(("spark window merge join", 0)).toDF("query_text", "query_id"),
        textCol = "query_text", out = "q_embedding")
    }
    val topk = VectorOps.topK(store, q, RagPipeline.TopK,
      Seq(col("doc_id"), col("chunk_index")))
    assert(topk.count() == RagPipeline.TopK)
    // rank-1 chunk must contain at least one query token
    val best = topk.filter(col("rank") === 1).head().getAs[String]("text")
    assert(Seq("spark", "window", "merge", "join").exists(best.contains))
  }

  test("run: end-to-end context per query for every strategy") {
    for (strategy <- Seq("simple", "recursive", "semantic")) {
      val out = RagPipeline.run(spark, docs.limit(50),
        Seq("table scan filter"), strategy).collect()
      assert(out.length == 1)
      assert(out(0).getString(1).split("\n\n").length == RagPipeline.TopK)
    }
  }

  test("unknown strategy raises like the reference dispatch (C4)") {
    val e = intercept[IllegalArgumentException] {
      graft.text.chunk.Chunker("bogus")
    }
    assert(e.getMessage.contains("bogus"))
  }

  test("run: hybrid retrieval fuses dense and lexical lists into a full context") {
    val out = RagPipeline.run(spark, docs.limit(50),
      Seq("table scan filter"), "simple", retrieval = "hybrid").collect()
    assert(out.length == 1)
    assert(out(0).getString(1).split("\n\n").length == RagPipeline.TopK,
      "hybrid: context must cite TopK chunks")
    // the query words appear verbatim in the corpus, so the lexical
    // list is non-degenerate: at least one cited chunk contains one
    assert(Seq("table", "scan", "filter")
      .exists(w => out(0).getString(1).contains(w)))
  }

  test("run: hybrid_indexed composes BOTH saved serves — warm epoch serve is build-free and value-identical") {
    val corpus = docs.limit(50)
    val key = "ragpipeline-spec-hybrid-indexed"
    val epoch = Some("spec-hybrid-indexed-v1")
    // cold call: builds + persists the saved IVF and BM25 indexes
    val out = RagPipeline.run(spark, corpus,
      Seq("table scan filter"), "simple", retrieval = "hybrid_indexed",
      indexKey = key, epoch = epoch).collect()
    assert(out.length == 1)
    assert(out(0).getString(1).split("\n\n").length == RagPipeline.TopK,
      "hybrid_indexed: context must cite TopK chunks")
    assert(Seq("table", "scan", "filter")
      .exists(w => out(0).getString(1).contains(w)))
    // WARM serve: same key + same epoch token. The store is never
    // evaluated: no job at all (SavedIndex's O(1) epoch hit through the
    // by-name corpus, and the resident copy built with the pair)
    graft.io.Caches.clearAll(spark)
    val (again, jobs) = jobsDuring(RagPipeline.run(spark, corpus,
      Seq("table scan filter"), "simple", retrieval = "hybrid_indexed",
      indexKey = key, epoch = epoch).collect())
    assert(jobs.isEmpty, s"warm hybrid_indexed serve must not evaluate the store: $jobs")
    assert(out.map(_.toSeq).toSeq == again.map(_.toSeq).toSeq,
      "warm serve must be value-identical to the building call")
    // a fresh key (fresh build over the same corpus) agrees too —
    // the saved-serve composition is build-deterministic
    val rebuilt = RagPipeline.run(spark, corpus,
      Seq("table scan filter"), "simple", retrieval = "hybrid_indexed",
      indexKey = key + "-rebuild", epoch = Some("spec-v1-rebuild")).collect()
    assert(out.map(_.toSeq).toSeq == rebuilt.map(_.toSeq).toSeq)
    // the mode is saved-serve by definition: no indexKey raises
    val e = intercept[IllegalArgumentException] {
      RagPipeline.run(spark, corpus, Seq("x"), "simple",
        retrieval = "hybrid_indexed")
    }
    assert(e.getMessage.contains("indexKey"))
  }

  test("ensureIndexedServe: the fusion rows' shared build-once half is epoch-O(1) and key-compatible with run()") {
    val corpus = docs.limit(50)
    val key = "ragpipeline-spec-ensure-shared"
    val epoch = Some("spec-ensure-shared-v1")
    val base = RagPipeline.indexedCacheKeyBase(key, "simple",
      graft.vector.HashingEmbedder(64))
    // cold: builds both indexes through the shared half
    val (disk, cents, bm) = RagPipeline.ensureIndexedServe(spark,
      RagPipeline.buildStore(corpus, "simple"), base, epoch)
    assert(cents.length == RagPipeline.IndexedCells)
    assert(disk.columns.contains("embedding") && disk.columns.contains("text"),
      "disk corpus must carry the columns the brute truth leg reads")
    // warm: the store is never constructed (the r19-verdict-#2 contract
    // the fusion eval rows now rely on — their denominators must price
    // the serve path, not a per-run refit)
    graft.io.Caches.clearAll(spark)
    var constructed = 0
    val (disk2, cents2, _) = RagPipeline.ensureIndexedServe(spark,
      { constructed += 1; RagPipeline.buildStore(corpus, "simple") }, base, epoch)
    assert(constructed == 0, "warm ensureIndexedServe must not construct the store")
    assert(cents2.toSeq.map(_.toSeq) == cents.toSeq.map(_.toSeq))
    // and run("hybrid_indexed") with the same identity tuple hits the
    // SAME saved pair — the memoized frames come back reference-equal
    assert(disk2.asInstanceOf[AnyRef].eq(disk.asInstanceOf[AnyRef]),
      "same key + epoch must serve the memoized loadIndex frames")
    val viaRun = RagPipeline.run(spark, corpus, Seq("table scan filter"),
      "simple", retrieval = "hybrid_indexed", indexKey = key,
      epoch = epoch).collect()
    assert(viaRun.length == 1,
      "run() over the shared key must serve (not rebuild) and answer")
    // BM25 serve from the shared half matches an inline build
    val qt = { import spark.implicits._
      Seq((0, "table scan filter")).toDF("query_id", "qtext") }
    val served = graft.text.Bm25.topKIndexed(bm, qt, 3).collect()
    val inline = graft.text.Bm25.topK(
      disk.select(org.apache.spark.sql.functions.col("vec_id").as("doc_id"),
        org.apache.spark.sql.functions.col("text")), qt, 3).collect()
    assert(served.map(_.toSeq).toSeq == inline.map(_.toSeq).toSeq)
  }

  test("warm serves resolve one Row encoder per (session, schema); a datetime API flip misses") {
    import spark.implicits._
    val emb = HashingEmbedder(64)
    val epoch = Some("spec-encoders-v1")
    val base = RagPipeline.indexedCacheKeyBase("ragpipeline-spec-encoders", "simple", emb)
    val queries = emb.embed(Seq(("table scan filter", 0)).toDF("query_text", "query_id"),
      textCol = "query_text", out = "q_embedding")
    def request() = VectorOps.assembleContext(RagPipeline.hybridIndexedServe(spark,
      RagPipeline.buildStore(docs.limit(20), "simple", emb), queries, base, epoch)).collect()
    val first = request()
    val before = graft.io.Resident.encoderStats
    (1 to 4).foreach(_ => assert(request().toSeq == first.toSeq))
    val warm = graft.io.Resident.encoderStats
    assert(warm.builds == before.builds && warm.misses == before.misses &&
      warm.hits == before.hits + 4, s"$before -> $warm")
    val key = "spark.sql.datetime.java8API.enabled"
    val setting = spark.conf.get(key)
    try {
      spark.conf.set(key, (!setting.toBoolean).toString)
      assert(request().toSeq == first.toSeq)
    } finally spark.conf.set(key, setting)
    val flipped = graft.io.Resident.encoderStats
    assert(flipped.misses == warm.misses + 1 && flipped.builds == warm.builds + 1,
      s"$warm -> $flipped")
  }

  test("ensureIndexedServe: a cold build of a ragbench-shaped store runs at most 8 Spark jobs, and the first serve none") {
    import spark.implicits._
    // the benchmark's store: kept parquet -> recursive chunks -> hashed
    // embeddings -> {source}_chunk_{index} ids, repeats included
    val kept = tempDir("graft-kept")
    docs.limit(100).write.mode("overwrite").parquet(kept)
    val emb = HashingEmbedder(64)
    val store = emb.embed(graft.text.chunk.Chunker("recursive").chunk(spark.read.parquet(kept)))
      .withColumn("id", concat(col("source"), lit("_chunk_"), col("chunk_index")))
    val base = RagPipeline.indexedCacheKeyBase("ragpipeline-spec-jobs", "recursive", emb)
    val epoch = Some("spec-jobs-v1")
    val (_, buildJobs) = jobsDuring(RagPipeline.ensureIndexedServe(spark, store, base, epoch))
    assert(buildJobs.length <= 8, s"a cold build ran ${buildJobs.length} jobs")
    val queries = emb.embed(Seq((0L, "table scan filter"), (1L, "window merge join"))
      .toDF("query_id", "query_text"), textCol = "query_text", out = "q_embedding")
    val (ivfMisses, bm25Misses) =
      (graft.vector.Ivf.loadStats.misses, graft.text.Bm25.loadStats.misses)
    val (served, serveJobs) = jobsDuring(VectorOps.assembleContext(
      RagPipeline.hybridIndexedServe(spark, store, queries, base, epoch)).collect())
    assert(serveJobs.isEmpty, s"the first serve after the build ran jobs: $serveJobs")
    assert(graft.vector.Ivf.loadStats.misses == ivfMisses &&
      graft.text.Bm25.loadStats.misses == bm25Misses,
      "the first serve must find both resident copies the build installed")
    assert(served.length == 2)
  }

  test("hybridIndexedServe: a warm serve runs no Spark job, persists nothing, and equals the Column trees") {
    import spark.implicits._
    val corpus = docs.limit(50)
    val emb = HashingEmbedder(64)
    val epoch = Some("spec-resident-v1")
    val base = RagPipeline.indexedCacheKeyBase("ragpipeline-spec-resident",
      "simple", emb)
    val queries = emb.embed(
      Seq(("table scan filter", 0), ("window merge join", 1), ("zzz", 2))
        .toDF("query_text", "query_id"),
      textCol = "query_text", out = "q_embedding")
    def serve() = RagPipeline.hybridIndexedServe(spark,
      RagPipeline.buildStore(corpus, "simple", emb), queries, base, epoch)
    val cold = serve().collect() // builds the pair and its resident copy
    val sc = spark.sparkContext
    val cachedBefore = sc.getRDDStorageInfo.map(_.id).toSet
    val ((warm, context), jobs) = jobsDuring {
      (serve().collect(), VectorOps.assembleContext(serve()).collect())
    }
    assert(jobs.isEmpty,
      s"a warm resident serve and its context must submit no Spark job: $jobs")
    // nor does it optimize a frame of its own before the caller's
    // collect: the query frame is read from its analyzed plan, and each
    // answer is a pre-planned LocalRelation frame
    val (ctx, ruleRuns) = rulesDuring(VectorOps.assembleContext(serve()))
    assert(!ruleRuns.exists(_.contains(".optimizer.")),
      s"a warm serve and its context must run no optimizer batch: $ruleRuns")
    // and the caller's collect of the context optimizes, plans and
    // resolves nothing: its plans are fixed, its Row encoder memoized
    val encoders = graft.io.Resident.encoderStats
    val (collected, collectRuns) = rulesDuring(ctx.collect())
    assert(collectRuns.isEmpty, s"the context's collect ran rules: $collectRuns")
    assert(ctx.queryExecution.tracker.phases.isEmpty,
      s"the context's collect ran phases: ${ctx.queryExecution.tracker.phases.keySet}")
    assert(graft.io.Resident.encoderStats.builds == encoders.builds)
    assert(byQuery(collected) == byQuery(context))
    assert(sc.getRDDStorageInfo.map(_.id).toSet == cachedBefore,
      "a warm serve must persist nothing")
    assert(warm.map(_.toSeq).toSeq == cold.map(_.toSeq).toSeq)
    // the same answer as the Column trees over the same saved pair
    val (disk, cents, _) = RagPipeline.ensureIndexedServe(spark,
      RagPipeline.buildStore(corpus, "simple", emb), base, epoch)
    val reference = columnTreeServe(disk, cents, queries)
    def ordered(rows: Array[org.apache.spark.sql.Row]) =
      rows.map(_.toSeq).toSeq.sortBy(r => (r(0).asInstanceOf[Int], r(1).asInstanceOf[Int]))
    assert(ordered(warm) == ordered(reference.collect()))
    // the driver-assembled context equals the context aggregate over
    // the Column-tree reference (a distributed frame: it plans the
    // aggregate)
    assert(byQuery(context) ==
      byQuery(VectorOps.assembleContext(reference).collect()))
    assert(context.length == 3)
    // query 2 has no indexed term: RRF runs on its dense list alone
    assert(warm.exists(_.getInt(0) == 2))
  }

  test("hybridIndexedServe: a store that repeats an id serves exactly as the store without the repeat") {
    import spark.implicits._
    val emb = HashingEmbedder(64)
    val store = RagPipeline.buildStore(docs.limit(50), "simple", emb)
    // a caller-built store may repeat an id; the repeat sorts after the
    // original by (doc_id, chunk_index) and carries other text, so an
    // index that kept it would count one more document and could cite it
    val repeatText = "table scan filter window merge join repeat"
    val repeated = store.unionByName(
      store.orderBy(col("doc_id"), col("chunk_index")).limit(1)
        .withColumn("doc_id", col("doc_id") + 1000000L)
        .withColumn("text", lit(repeatText)))
    assert(repeated.groupBy("id").count().filter(col("count") > 1).count() == 1)
    val queries = emb.embed(
      Seq(("table scan filter", 0), ("window merge join", 1))
        .toDF("query_text", "query_id"),
      textCol = "query_text", out = "q_embedding")
    val epoch = Some("spec-repeat-id-v1")
    def served(s: org.apache.spark.sql.DataFrame, key: String) = {
      val (_, _, bm) = RagPipeline.ensureIndexedServe(spark, s, key, epoch)
      val nDocs = bm.stats.select("n_docs").head().getDouble(0)
      val rows = RagPipeline.hybridIndexedServe(spark, s, queries, key, epoch)
        .collect().map(_.toSeq).toSeq
        .sortBy(r => (r(0).asInstanceOf[Int], r(1).asInstanceOf[Int]))
      (nDocs, rows)
    }
    val (nDocs, rows) = served(repeated, "ragpipeline-spec-repeat-id")
    val (nDocsUnique, rowsUnique) = served(store, "ragpipeline-spec-unique-id")
    assert(nDocs == nDocsUnique && nDocs == store.count().toDouble,
      s"BM25 counts $nDocs documents, the store without the repeat $nDocsUnique")
    assert(rows == rowsUnique)
    assert(!rows.exists(_(3) == repeatText), "the repeat must never be cited")
  }

  test("run: hybrid_indexed serves a store of fewer chunks than IndexedCells, one cell per chunk") {
    import spark.implicits._
    // a young store: three one-chunk documents
    val small = Seq((1L, "alpha beta gamma delta", "srcA", 22L),
        (2L, "epsilon zeta eta theta", "srcB", 22L),
        (3L, "nu xi omicron pi", "srcC", 16L))
      .toDF("doc_id", "text", "source", "n_chars")
    val emb = HashingEmbedder(64)
    val key = "ragpipeline-spec-small-store"
    val epoch = Some("spec-small-store-v1")
    val queryTexts = Seq("omicron pi", "epsilon zeta")
    val out = RagPipeline.run(spark, small, queryTexts, "simple",
      retrieval = "hybrid_indexed", indexKey = key, epoch = epoch).collect()
    val (disk, cents, _) = RagPipeline.ensureIndexedServe(spark,
      RagPipeline.buildStore(small, "simple", emb),
      RagPipeline.indexedCacheKeyBase(key, "simple", emb), epoch)
    assert(disk.count() == 3 && cents.length == 3,
      s"a 3-chunk store fits 3 cells, got ${cents.length}")
    val queries = emb.embed(queryTexts.zipWithIndex.toDF("query_text", "query_id"),
      textCol = "query_text", out = "q_embedding")
    assert(byQuery(out) ==
      byQuery(VectorOps.assembleContext(columnTreeServe(disk, cents, queries)).collect()))
    assert(out.length == 2 && byQuery(out).head(1).toString.contains("omicron"))
    // a sparse id range still raises: cell c is seeded from vec_id c
    val e = intercept[IllegalArgumentException] {
      graft.vector.Ivf.boundedIndex(
        disk.select((col("vec_id") * 2).as("vec_id"), col("embedding")))
    }
    assert(e.getMessage.contains("vec_ids 0"), e.getMessage)
  }

  test("run: a warm hybrid_indexed run and collect submit no Spark job") {
    val corpus = docs.limit(50)
    def run() = RagPipeline.run(spark, corpus,
      Seq("table scan filter", "window merge join"), "simple",
      retrieval = "hybrid_indexed", indexKey = "ragpipeline-spec-run-resident",
      epoch = Some("spec-run-resident-v1")).collect()
    val cold = run() // builds the pair and its resident copy
    val (warm, jobs) = jobsDuring(run())
    assert(jobs.isEmpty, s"a warm hybrid_indexed run must submit no Spark job: $jobs")
    assert(warm.map(_.toSeq).toSeq == cold.map(_.toSeq).toSeq)
    assert(warm.length == 2)
  }

  test("run: an unserved retrieval mode raises, naming it") {
    for (retrieval <- Seq("ivf", "lsh", "signlsh", "bm25_indexed", "bogus-ann")) {
      val e = intercept[IllegalArgumentException] {
        RagPipeline.run(spark, docs.limit(5), Seq("x"), "simple",
          retrieval = retrieval, indexKey = "ragpipeline-spec-unknown")
      }
      assert(e.getMessage.contains(retrieval), e.getMessage)
    }
  }
}
