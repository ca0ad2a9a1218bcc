package graft

import graft.io.Caches.TrackedPersistOps
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.io.Tables
import graft.rel.Rel
import graft.stats.ChunkStats
import graft.text.Tok
import graft.text.chunk.{FixedChunker, RecursiveChunker, SemanticChunker}
import graft.textan.TextAnalysis
import graft.vector.{Ann, HashingEmbedder, VectorOps}
import graft.dedup.Dedup
import graft.streaming.EventStreams
import graft.multimodal.Multimodal

/** The oracle-checked query catalog. Every entry maps to one or more
  * operators of SURVEY.md §2 (the mapping is in each query's doc and
  * in COVERAGE.md). Queries are deterministic: total ORDER BY, floats
  * rounded, md5-based hashing only, no wall-clock, no rand().
  *
  * Shared conventions with the DuckDB oracle SQL in [[Oracles]]:
  * DOUBLE accumulation for float math, identical regex literals
  * ([[Tok.pattern]]), `date_trunc` before emitting any event-time
  * value (fixture `ts` is ns-precision; Spark truncates to µs).
  */
object Queries {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.table(s, dir, name)

  /** Epoch token handed to every saved-index serve over a fixture
    * table ([[Tables.epochOf]]): sourced from the table's storage
    * listing, so repeat serves of an unchanged fixture take
    * [[graft.io.SavedIndex]]'s O(1) path instead of re-scanning the
    * corpus for a content fingerprint — the serve-cost policy the
    * 100 TB target demands (one scan per CORPUS VERSION, not one per
    * query). A rewritten fixture moves the token, which falls back
    * to the content check and rebuilds if the data really changed. */
  private def tableEpoch(s: SparkSession, dir: String,
      name: String): Option[String] =
    Some(Tables.epochOf(s, dir, name))

  /** Kernel-once output sort. A bare `orderBy` makes the range
    * partitioner run a SAMPLING pass that re-executes EVERYTHING
    * above the last exchange — measured directly: a projection UDF
    * runs exactly twice per row under `project → orderBy` (SortTax
    * probe, r12) — so every scan → per-row-kernel → sort query paid
    * its kernel (chunker Generate, RepetitionCounts, codec
    * mapPartitions, …) twice, a 2× scan-stage tax that survives any
    * cluster size. A tracked persist of the narrow RESULT between
    * kernel and sort lets the sampling pass read the cache: kernel
    * once, sort shuffle moves result rows (usually far smaller than
    * the input), and the per-site registry bounds accumulation.
    * Values, order and hashes are identical — this is purely a
    * physical rewrite. Used by the kernel-dominated queries;
    * aggregate-topped queries keep the bare sort (their resample is
    * a cheap re-read of the final exchange's output). */
  private implicit final class SortedOnceOps(private val df: DataFrame) {
    def sortedOnce(tag: String)(keys: Column*): DataFrame =
      df.persistTracked(s"sorted.$tag").orderBy(keys: _*)
  }

  def fixedChunks(s: SparkSession, dir: String): DataFrame =
    FixedChunker().chunk(t(s, dir, "documents"))

  // ===== chunking (C-series) =====

  /** C1 fixed sliding-window chunker + F6/F7 lengths. */
  def q_chunk_fixed(s: SparkSession, dir: String): DataFrame =
    fixedChunks(s, dir)
      .select(col("doc_id"), col("chunk_index"), col("text"), col("start"),
        col("end"), col("char_length"), col("token_length"))
      .sortedOnce("q_chunk_fixed")(col("doc_id"), col("chunk_index"))

  /** A1/A2 — per-strategy chunk statistics over C1 output. */
  def q_chunk_summary(s: SparkSession, dir: String): DataFrame =
    ChunkStats.summary(fixedChunks(s, dir)).orderBy(col("strategy"))

  /** Exact interpolated percentiles of chunk sizes (type-7, the
    * numpy/DuckDB-compatible definition) — extends A2/A3 stats. */
  def q_chunk_percentiles(s: SparkSession, dir: String): DataFrame =
    fixedChunks(s, dir)
      .agg(
        round(expr("percentile(char_length, 0.5)"), 4).as("p50_chars"),
        round(expr("percentile(char_length, 0.9)"), 4).as("p90_chars"),
        round(expr("percentile(token_length, 0.5)"), 4).as("p50_tokens"))

  /** F16 — vector-store id generation `{source}_chunk_{i}`. */
  def q_chunk_ids(s: SparkSession, dir: String): DataFrame =
    fixedChunks(s, dir)
      .select(col("doc_id"),
        concat(col("source"), lit("_chunk_"), col("chunk_index")).as("id"),
        col("chunk_index"))
      .orderBy(col("doc_id"), col("chunk_index"))

  /** W2 + interval math — adjacent chunk overlap lengths. */
  def q_adjacent_overlap(s: SparkSession, dir: String): DataFrame =
    ChunkStats.adjacentOverlap(fixedChunks(s, dir))
      .orderBy(col("doc_id"), col("chunk_index"))

  /** J4 + A9 — overlapping interval pair stats. */
  def q_overlap_stats(s: SparkSession, dir: String): DataFrame =
    ChunkStats.overlapStats(fixedChunks(s, dir))

  /** W4 — boundary sweep (active-interval segments). */
  def q_boundary_sweep(s: SparkSession, dir: String): DataFrame =
    ChunkStats.boundarySweep(fixedChunks(s, dir))
      .orderBy(col("doc_id"), col("seg_start"))

  /** C2 — recursive chunker at the reference's 400/50 budget,
    * hash-checked CORPUS-WIDE. Raw fixture docs are ≤ 100 tokens —
    * every one takes the accept path (one chunk, no split, nothing to
    * replay) — so the corpus row chunks DERIVED multi-paragraph docs:
    * fixture texts concatenated with "\n\n" into 25 groups keyed by
    * doc_id % 25 (~20 docs ≈ 1000+ tokens each at sf0.01), forcing
    * real depth-1 splits, greedy merges and overlap re-seeding. The
    * fixture has no newlines in any text (verified), so the "\n\n"
    * split recovers exactly the source texts and the DuckDB
    * recursive-CTE oracle (q_chunk_recursive_crafted's machinery,
    * per-group) replays every offset. */
  def q_chunk_recursive(s: SparkSession, dir: String): DataFrame =
    RecursiveChunker().chunk(recursiveDerivedDocs(s, dir))
      .sortedOnce("q_chunk_recursive")(col("doc_id"), col("chunk_index"))

  /** The derived multi-paragraph corpus [[q_chunk_recursive]] chunks
    * — shared with [[q_chunk_recursive_split]] so both rows replay
    * the identical input. Persisted (r14): the split row reads it
    * THREE times (the giant existence probe plus both routing
    * branches), and on a giant corpus each rebuild is a
    * collect_list + concat over the full text — the r13 row-skew
    * probe charged those rebuilds to the split policy itself. */
  private def recursiveDerivedDocs(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .groupBy((col("doc_id") % 25).as("gid"))
      .agg(concat_ws("\n\n",
        transform(sort_array(collect_list(struct(col("doc_id"), col("text")))),
          x => x.getField("text"))).as("text"))
      .select(col("gid").as("doc_id"),
        concat(lit("group-"), col("gid")).as("source"),
        col("text"), length(col("text")).cast("long").as("n_chars"))
      .persistTracked("recursive.derived")

  /** Giant-document SPLIT policy, hash-checked
    * ([[graft.text.chunk.DocSplit.cutOffsets]]): every document over
    * maxChars = 120 splits into separator-snapped parts (lookback
    * 40; the fixture's single-space word stream makes every cut a
    * last-space snap, and the crafted DocSplitSpec pins the full
    * coarse→fine priority). Emits the split DECISION — part offsets,
    * length, and the part text's md5 — so DuckDB replays the greedy
    * cut recursion itself (recursive CTE over reverse-strpos snap
    * windows), not just row counts. This is the executable answer to
    * the r11 row-skew finding: per-doc kernels are linear but a
    * document is one row, so one 50 MB document is one serial task —
    * after this split, downstream per-doc work is parallel in
    * (doc, part). */
  def q_doc_split(s: SparkSession, dir: String): DataFrame =
    graft.text.chunk.DocSplit.parts(t(s, dir, "documents"),
        maxChars = 120, lookback = 40)
      .select(col("doc_id"), col("part_index"), col("start"), col("end"),
        (col("end") - col("start")).as("n_part"),
        md5(col("text")).as("part_md5"))
      .sortedOnce("q_doc_split")(col("doc_id"), col("part_index"))

  /** C2 under the giant-document split policy
    * ([[graft.text.chunk.DocSplit.chunkParts]]): split any document
    * over 1 Mchar at separator-snapped boundaries, recursive-chunk
    * each part independently (parallel in (doc, part)), then re-base
    * offsets and renumber chunk indexes per document. r17 measured
    * the split/serial crossover at 50/100/200 MB giants
    * (SCALE_STRESS `recsplit_crossover`): post-r14-rework the serial
    * chunker's kernel slope (0.130 s/MB) is BELOW the split path's
    * own linear overhead (0.160 s/MB — cut pass + part exchange), so
    * this row is the engine's bounded-task-memory / straggler-tail
    * answer for documents too large for one task, not a throughput
    * optimization (SCALE.md Round-17 retires the r14 payoff claim). Every fixture group document fits one
    * part, so the output is BIT-IDENTICAL to [[q_chunk_recursive]]
    * and shares its recursive-CTE DuckDB oracle verbatim — the
    * identity that pins the policy as a pure parallelism rewrite
    * below the threshold; above it, chunk boundaries are forced at
    * part edges (the documented approximation the policy trades for
    * parallelism). */
  def q_chunk_recursive_split(s: SparkSession, dir: String): DataFrame =
    graft.text.chunk.DocSplit.chunkParts(
        recursiveDerivedDocs(s, dir), RecursiveChunker(),
        maxChars = 1 << 20)
      .sortedOnce("q_chunk_recursive_split")(col("doc_id"), col("chunk_index"))

  /** C3 — semantic chunker with the production embedder and reference
    * params, HASH-CHECKED since r8: the chunker derives its adjacent
    * cosine distances from the PRE-normalization integer counts twin
    * of [[graft.vector.HashingEmbedder]] (cosine is scale-invariant,
    * so no breakpoint can move), which makes every distance
    * exact-integer-derived — the same corpus replay as
    * [[q_chunk_semantic_corpus]], at params (50, 64, 300). The
    * lattice twins ([[q_chunk_semantic_corpus]],
    * [[q_chunk_semantic_crafted]]) keep pinning the segmentation at
    * parameters where breaks actually fire.
    *
    * r12: routed through the giant-document split policy
    * ([[graft.text.chunk.DocSplit.chunkParts]], 1 Mchar threshold —
    * the second-worst r11 row-skew exponent at 9.8×): every fixture
    * document fits one part, so the sub-threshold branch IS the
    * whole corpus and output (threshold selection included) is
    * bit-identical to the unsplit form; an over-threshold document
    * min-splits, embeds, thresholds and segments per PART, with
    * chunk boundaries forced at part edges — the same documented
    * approximation as q_chunk_recursive_split. */
  def q_chunk_semantic(s: SparkSession, dir: String): DataFrame =
    graft.text.chunk.DocSplit.chunkParts(
        t(s, dir, "documents"), SemanticChunker(), maxChars = 1 << 20)
      .sortedOnce("q_chunk_semantic")(col("doc_id"), col("chunk_index"))

  /** C3 hash-checked CORPUS-WIDE: the full semantic pipeline
    * (min-split → embed → adjacent cosine distances → one-pass
    * histogram threshold → breakpoint segmentation → merge) over the
    * real documents table with integer-lattice embeddings. Params are
    * sized to the fixture so segmentation actually fires: fixture
    * words are all single regex tokens, so minChunkTokens = 10 makes
    * the min-split exactly 10-word blocks (SQL-trivial), and
    * avgChunkTokens = 25 yields a positive break target (~580 at
    * sf0.01) — the threshold search, break placement and merge all do
    * real work and every double is derived from exact integer
    * dot/norm² values, so DuckDB replays the whole pipeline bit for
    * bit. r12: routed through [[graft.text.chunk.DocSplit
    * .chunkParts]] like [[q_chunk_semantic]] — identical below the
    * 1 Mchar threshold (the whole fixture), part-parallel above it. */
  def q_chunk_semantic_corpus(s: SparkSession, dir: String): DataFrame =
    graft.text.chunk.DocSplit.chunkParts(
        t(s, dir, "documents"),
        SemanticChunker(avgChunkTokens = 25, minChunkTokens = 10,
          embedder = graft.vector.LatticeEmbedder(8)),
        maxChars = 1 << 20)
      .sortedOnce("q_chunk_semantic_corpus")(col("doc_id"), col("chunk_index"))

  /** Query texts for the end-to-end flagship row — shared verbatim
    * with the oracle SQL's VALUES list. */
  val ragE2eQueries: Seq[String] = Seq(
    "join hash window stream", "sort merge filter vector",
    "spark query scan batch")

  /** The FLAGSHIP RAG pipeline end to end, hash-checked: chunk →
    * embed → upsert store → top-5 cosine retrieve → cited context
    * ([[graft.pipeline.RagPipeline.run]], mirroring the reference's
    * `rag_pipeline`, `chromadb_rag.py:184-212`). Each stage is
    * oracle-checked individually elsewhere; this row proves the
    * COMPOSITION — id collisions resolved first-wins, the same
    * embedder on both store and queries, ranks carried into the
    * assembled context.
    *
    * Uses the integer-lattice embedder so every cosine is derived
    * from exact integer dot/norm² arithmetic: the doubles are
    * bit-identical across engines and the DuckDB oracle can replay
    * ranking exactly (same trick as the crafted semantic-chunker
    * oracle). */
  def q_rag_e2e(s: SparkSession, dir: String): DataFrame =
    graft.pipeline.RagPipeline.run(s, t(s, dir, "documents"),
      ragE2eQueries, "simple", graft.vector.LatticeEmbedder(8), "brute")
      .orderBy(col("query_id"))

  /** The flagship pipeline with HYBRID retrieval hash-checked end to
    * end: the same chunk → embed → upsert store slice as
    * [[q_rag_e2e]], then dense (lattice cosine) and lexical (BM25
    * over the chunk texts) candidate lists at depth 2k fused by
    * reciprocal rank (1/(60+rank)), top-5, cited context. The oracle
    * replays both ranked lists and the fusion — every ranking either
    * on exact-integer-derived doubles (dense) or round-6 scores
    * (BM25, RRF), ties on the store's id total order (the identical
    * permutation its row_number-over-id enumeration CTE assigns). One
    * shared materialization: dense, lexical and the citation join all
    * read a single persisted embedded-chunk frame. */
  def q_rag_e2e_hybrid(s: SparkSession, dir: String): DataFrame =
    graft.pipeline.RagPipeline.run(s, t(s, dir, "documents"),
      ragE2eQueries, "simple", graft.vector.LatticeEmbedder(8), "hybrid")
      .orderBy(col("query_id"))

  /** The flagship pipeline composed ONTO THE SAVED SERVE TIER, hash-
    * checked end to end (r18 verdict #1 — the last asserted-not-
    * measured piece of the 100 TB story): the same chunk → embed →
    * upsert store slice as [[q_rag_e2e]], enumerated once and
    * persisted through BOTH build-once-serve-many indexes — the
    * bounded-k-means saved IVF ([[graft.vector.Ivf
    * .ensureSavedBoundedIndex]], `partitionBy("cell")`, 8 cells) and
    * the bucket-partitioned saved BM25 postings ([[graft.text.Bm25
    * .ensureSavedIndex]], md5(term) % 64) — then every serve runs on
    * the driver over the pair's resident copy
    * ([[graft.pipeline.RagPipeline.hybridIndexedServe]]): cell-pruned
    * dense candidates (nProbe 2 of 8 — ~1/4 of the store scored) +
    * BM25 candidates, both at depth 2k, RRF-fused (1/(60+rank),
    * round 6), top-5, the citation lookup and the cited context
    * ([[graft.vector.VectorOps.assembleContext]] over the resident
    * answer). ZERO Spark jobs below the final `orderBy` on a warm index
    * ([[graft.io.SavedIndex]] epoch hit — even the store
    * DataFrame's construction is skipped); the dense list is the
    * honest IVF approximation (a candidate outside the probed cells
    * is missed — [[q_ann_recall]]'s attribution), which the oracle
    * replays exactly via the shared bounded-fit CTE chain at dim 8
    * over the store lattice, stacked with [[q_rag_e2e_hybrid]]'s
    * BM25 + RRF + context replay. Every ranking is on exact-integer-
    * derived doubles or round-6 scores, ties on vec_id — bit-
    * identical across engines. */
  def q_rag_e2e_indexed(s: SparkSession, dir: String): DataFrame =
    graft.pipeline.RagPipeline.run(s, t(s, dir, "documents"),
      ragE2eQueries, "simple", graft.vector.LatticeEmbedder(8),
      "hybrid_indexed", indexKey = s"rag-e2e/$dir",
      epoch = tableEpoch(s, dir, "documents"))
      .orderBy(col("query_id"))

  /** The legs [[q_rag_fusion_overlap]] and [[q_rag_fusion_curve]]
    * share, all at depth 2k: the saved index pair [[q_rag_e2e_indexed]]
    * serves from (same key, same epoch), the embedded flagship queries
    * (query_id, q_embedding), the lexical list both fusions read
    * verbatim (driver rows from the saved postings' resident copy), and
    * the exact dense list over the index's enumerated corpus. Returns
    * (disk, cents, qe, lex, denseExact). */
  private[graft] def ragFusionLegs(s: SparkSession, dir: String)
      : (DataFrame, Array[Array[Double]], DataFrame, DataFrame, DataFrame) = {
    import s.implicits._
    val depth = graft.pipeline.RagPipeline.TopK * 2
    val emb8 = graft.vector.LatticeEmbedder(8)
    val (disk, cents, bm) = graft.pipeline.RagPipeline.ensureIndexedServe(
      s, graft.pipeline.RagPipeline.buildStore(
        t(s, dir, "documents"), "simple", emb8),
      graft.pipeline.RagPipeline.indexedCacheKeyBase(
        s"rag-e2e/$dir", "simple", emb8),
      epoch = tableEpoch(s, dir, "documents"))
    val indexed = disk.select(col("vec_id"), col("text"), col("embedding"))
    val queries = emb8.embed(
      ragE2eQueries.zipWithIndex.toDF("query_text", "query_id"),
      textCol = "query_text", out = "q_embedding")
    val qe = queries.select(col("query_id"), col("q_embedding"))
    val qt = queries.select(col("query_id"), col("query_text").as("qtext"))
    val lex = graft.text.Bm25.topKIndexed(bm, qt, depth)
      .select(col("query_id"), col("rank"), col("doc_id"))
    val denseExact = graft.vector.VectorOps.topK(indexed, qe, depth,
        tiebreak = Seq(col("vec_id")))
      .select(col("query_id"), col("rank"), col("vec_id").as("doc_id"))
    (disk, cents, qe, lex, denseExact)
  }

  /** Fusion ROBUSTNESS of the saved-serve flagship — the recall/
    * loss-decomposition discipline ([[q_ann_recall]] family) applied
    * to the COMPOSED row: per flagship query, the indexed hybrid's
    * fused top-5 ([[q_rag_e2e_indexed]]'s funnel — IVF-approximate
    * dense candidates + BM25, RRF) annotated with membership in the
    * EXACT hybrid's fused top-5 ([[q_rag_e2e_hybrid]]'s funnel —
    * brute dense + the SAME BM25 list, same fusion), plus the
    * per-query overlap fraction. This measures what the cell-pruning
    * approximation actually costs the USER-FACING result: the dense
    * tier's recall ceiling ([[q_ann_recall]]) bounds the candidate
    * loss, but RRF re-ranks against the shared lexical list, so the
    * fused lists can agree even where the dense lists differ — the
    * number a deployment reads before choosing nProbe for the
    * composed serve. Both dense legs and the fusion are
    * exact-replayable (unrounded integer-derived cosines with vec_id
    * ties for brute, round-6 cell-pruned cosines for IVF, round-6
    * RRF), so DuckDB replays the overlap bit for bit. Since r20 the
    * row prices the PRODUCTION path (r19 verdict #2): the IVF leg
    * and the shared lexical leg serve from the SAME saved index pair
    * as [[q_rag_e2e_indexed]] ([[graft.pipeline.RagPipeline
    * .ensureIndexedServe]] — memoized loads, zero fit/build jobs on
    * a warm epoch; saved scores are bit-identical to the in-memory
    * fit by AnnIvfSpec's lossless round-trip pin, so the oracle is
    * unchanged), and even the brute truth leg reads the enumerated
    * corpus back from the index's cell files instead of rebuilding
    * the chunk→embed store per run. Eval row: the brute leg is its
    * denominator's price, bounded by 3 queries. */
  def q_rag_fusion_overlap(s: SparkSession, dir: String): DataFrame = {
    val k = graft.pipeline.RagPipeline.TopK
    val depth = k * 2
    val (disk, cents, qe, lex, denseExact) = ragFusionLegs(s, dir)
    val denseIvf = vector.Ivf.topKIndexed(disk, cents, qe, depth,
        nProbe = graft.pipeline.RagPipeline.IndexedProbe)
      .select(col("query_id"), col("rank"), col("vec_id").as("doc_id"))
    val fusedExact = graft.text.Bm25.rrfFuse(denseExact, lex, k)
      .select(col("query_id"), col("doc_id"), lit(1).as("in_exact"))
    val fusedIvf = graft.text.Bm25.rrfFuse(denseIvf, lex, k)
    val w = Window.partitionBy(col("query_id"))
    fusedIvf.join(fusedExact, Seq("query_id", "doc_id"), "left")
      .withColumn("in_exact", coalesce(col("in_exact"), lit(0)))
      .withColumn("overlap_at_5",
        round(sum(col("in_exact")).over(w) / lit(k.toDouble), 4))
      .select(col("query_id"), col("rank"), col("doc_id"),
        col("in_exact"), col("overlap_at_5"))
      .orderBy(col("query_id"), col("rank"))
  }

  /** The measured nProbe-vs-FUSED-OVERLAP curve — the
    * [[q_ivfpq_probe_recall]] discipline applied to the composed
    * flagship: one row per probed depth in [[IvfpqProbeLadder]]
    * (2 is the catalog serve, 8 == nCells probes every cell), the
    * micro-averaged overlap between the depth's fused top-5 and the
    * EXACT hybrid's fused top-5 over the same BM25 list and RRF.
    * Pins by measurement what [[q_rag_fusion_overlap]] reads at the
    * serve point: how the user-facing disagreement closes as probes
    * widen — at exhaustive probing the dense candidate sets are
    * equal, so any residual gap there is purely the serve's round-6
    * cosine ties (measured, not assumed — the honest ceiling). Each
    * rung is the production composition at its depth:
    * [[vector.Ivf.topKIndexed]] over the SAME saved index pair as
    * [[q_rag_e2e_indexed]] ([[graft.pipeline.RagPipeline
    * .ensureIndexedServe]] — zero fit/build jobs on a warm epoch),
    * fused with the shared lexical list, semi-joined against the
    * exact fusion (run once, persisted) and counted; a rung with no
    * overlap still emits its row. This is the curve a deployment
    * reads NEXT TO the scan-cost curve (q_ivfpq_probe_recall) to pick
    * nProbe for the composed serve. */
  def q_rag_fusion_curve(s: SparkSession, dir: String): DataFrame = {
    val k = graft.pipeline.RagPipeline.TopK
    val depth = k * 2
    val (disk, cents, qe, lex, denseExact) = ragFusionLegs(s, dir)
    val fusedExact = graft.text.Bm25.rrfFuse(denseExact, lex, k)
      .select(col("query_id"), col("doc_id"))
      .persistTracked("ragfusion.exact")
    val totK = fusedExact.agg(count(lit(1)).cast("int").as("total_k"))
    IvfpqProbeLadder.map { p =>
      val dense = vector.Ivf.topKIndexed(disk, cents, qe, depth, nProbe = p)
        .select(col("query_id"), col("rank"), col("vec_id").as("doc_id"))
      graft.text.Bm25.rrfFuse(dense, lex, k)
        .join(fusedExact, Seq("query_id", "doc_id"), "left_semi")
        .agg(count(lit(1)).cast("int").as("total_overlap"))
        .select(lit(p).as("n_probe"), col("total_overlap"))
    }.reduce(_ unionByName _)
      .crossJoin(broadcast(totK))
      .select(col("n_probe"), col("total_overlap"), col("total_k"),
        round(col("total_overlap").cast("double") / col("total_k"), 4)
          .as("mean_overlap"))
      .orderBy(col("n_probe"))
  }

  // ===== vector retrieval (V/J6/W1 series) =====

  /** Flagship: top-5 cosine neighbors for 3 query vectors taken from
    * the embeddings table (vec_id 0,1,2) — J6 crossJoin+broadcast,
    * V2 cosine, W1 per-query top-k with deterministic tiebreak. */
  def q_topk_cosine(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    val queries = emb.filter(col("vec_id") < 3)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_embedding"))
    Ann.bruteTopK(emb, queries, 5)
      .orderBy(col("query_id"), col("rank"))
  }

  /** Fan-out retrieval: 100 query vectors × corpus, top-3 each —
    * exercises the bounded-heap TopKPerKey operator at real per-key
    * breadth (the 3-query flagship barely touches it). */
  def q_topk_many(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    val queries = emb.filter(col("vec_id") < 100)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_embedding"))
    Ann.bruteTopK(emb, queries, 3)
      .orderBy(col("query_id"), col("rank"))
  }

  /** J7 — metadata-filtered ("hybrid") retrieval: restrict corpus to
    * label=3 before the similarity join (predicate below the join). */
  def q_topk_filtered(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    val queries = emb.filter(col("vec_id") === 0)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_embedding"))
    Ann.bruteTopK(emb.filter(col("label") === 3), queries, 5)
      .orderBy(col("query_id"), col("rank"))
  }

  /** Chunk→document embedding POOLING ([[VectorOps.sumPool]]) over
    * integer-lattice chunk embeddings: the per-doc pooled vector's
    * components are token-bucket counts summed across the doc's
    * chunks — exact integers, so DuckDB replays the whole pipeline
    * (tokenize → md5 bucket → count → pool) value-for-value. The
    * production path pools [[graft.vector.HashingEmbedder]] vectors
    * the same way; the lattice variant makes the oracle exact. */
  def q_embed_pool(s: SparkSession, dir: String): DataFrame = {
    val emb = graft.vector.LatticeEmbedder(8).embed(fixedChunks(s, dir))
    VectorOps.sumPool(emb, col("doc_id"), 8)
      .select(Seq(col("doc_id"), col("n_chunks")) ++
        (0 until 8).map(i =>
          element_at(col("pooled"), i + 1).cast("long").as(s"e$i")): _*)
      .orderBy(col("doc_id"))
  }

  /** V2 — pairwise cosine on a small id range (sanity surface). */
  def q_cosine_pairs(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings").filter(col("vec_id") < 20)
    Dedup.cosineNearDup(emb, threshold = -1.0)
      .orderBy(col("id_a"), col("id_b"))
  }

  /** Embedding-cosine near-duplicate pairs (dedup suite). Brute pass
    * bounded to 2000 vectors (the exact baseline); the unbounded scale
    * path is the LSH variant [[q_near_dup_lsh]]. */
  def q_near_dup_cosine(s: SparkSession, dir: String): DataFrame =
    Dedup.cosineNearDup(t(s, dir, "embeddings").filter(col("vec_id") < 2000),
      threshold = 0.9)
      .orderBy(col("id_a"), col("id_b"))

  /** BRP-LSH near-dup — floor buckets of md5-plane projections,
    * OR'd across 4 hash tables, exact-cosine confirm. Hash-checked:
    * the oracle replays plane derivation, normalization, projection,
    * floor bucketing, the bucket self-join and the confirm. */
  def q_near_dup_lsh(s: SparkSession, dir: String): DataFrame =
    Ann.lshNearDup(t(s, dir, "embeddings"), cosThreshold = 0.9)
      .orderBy(col("id_a"), col("id_b"))

  /** Sign (hyperplane) LSH near-dup — the cosine-native LSH path.
    * Oracle-checked end to end since the projection planes are
    * md5-derived ([[Ann.planeWeight]]): DuckDB replays planes, sign
    * bits, band keys, the band self-join and the exact-cosine confirm.
    * The fixture's max pairwise cosine is ≈0.51, so the correct
    * answer at 0.9 is empty — the band-key machinery itself is pinned
    * with real data by [[q_signlsh_bands]]. */
  def q_near_dup_signlsh(s: SparkSession, dir: String): DataFrame =
    Ann.signLshNearDup(t(s, dir, "embeddings"), cosThreshold = 0.9)
      .orderBy(col("id_a"), col("id_b"))

  /** Sign-LSH band keys for the first 200 vectors — the data-rich
    * oracle surface for the md5-derived hyperplane machinery (the
    * near-dup query above is correctly empty on this fixture, so this
    * query is what actually exercises plane weights, ordered dot
    * products and bit packing against DuckDB). */
  def q_signlsh_bands(s: SparkSession, dir: String): DataFrame =
    Ann.signLshKeys(t(s, dir, "embeddings").filter(col("vec_id") < 200))
      .orderBy(col("vec_id"), col("band"))

  /** Sign-LSH ANN top-k — the DETERMINISTIC LSH retrieval path,
    * oracle-checked end to end (md5 planes; the MLlib variant below
    * stays rows-only): band-collision candidates, exact cosine
    * re-rank, top-5. Queries are corpus rows vec_id < 3, so the
    * oracle derives their keys by filtering the shared keys CTE. */
  def q_topk_signlsh(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    val queries = emb.filter(col("vec_id") < 3)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_embedding"))
    Ann.signLshTopK(emb, queries, 5).orderBy(col("query_id"), col("rank"))
  }

  /** Symmetric int8 embedding quantization ([[vector.Quantize]]) —
    * oracle-checked through integer-exact per-vector statistics: the
    * quantized sum, squared norm, min and max are integers (immune to
    * accumulation order), and maxabs is a float→double exact value,
    * so DuckDB replays the whole quantization bit-for-bit. The
    * quantized dot against vector 0 exercises the int8 first-pass
    * scoring path (exact integer arithmetic, no float rerank here). */
  def q_quantize_int8(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings").filter(col("vec_id") < 500)
      .select(col("vec_id"), vector.Quantize.maxAbs(col("embedding")).as("maxabs"),
        vector.Quantize.int8(col("embedding")).as("q"))
    val q0 = emb.filter(col("vec_id") === 0)
      .select(col("q").as("q0"))
    emb.crossJoin(broadcast(q0))
      .select(col("vec_id"), col("maxabs"),
        aggregate(col("q"), lit(0L), (a, x) => a + x).as("qsum"),
        aggregate(col("q"), lit(0L), (a, x) => a + (x * x).cast("long"))
          .as("qnorm2"),
        array_min(col("q")).as("qmin"),
        array_max(col("q")).as("qmax"),
        vector.Quantize.dotQ(col("q"), col("q0")).as("dot_q0"))
      .orderBy(col("vec_id"))
  }

  /** int8 first-pass ANN + float rerank — the quantized serving
    * pattern [[q_quantize_int8]] exists for: every corpus vector is
    * scored against the query by the EXACT integer dot of their int8
    * codes (4× less memory traffic, SIMD-able at scale), the top-20
    * integer-score candidates are reranked by true float cosine, and
    * only the final 5 survive. Fully oracle-checked: integer scores
    * are immune to accumulation order, and the rerank reuses the
    * proven cosine arithmetic. */
  def q_topk_int8_rerank(s: SparkSession, dir: String): DataFrame = {
    import graft.vector.FloatVecExpr
    val emb = t(s, dir, "embeddings")
    val corpus = emb.select(col("vec_id"), col("embedding"),
      vector.Quantize.int8(col("embedding")).as("qv"))
    val queries = emb.filter(col("vec_id") < 3)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_embedding"),
        vector.Quantize.int8(col("embedding")).as("qq"))
    val wFirst = Window.partitionBy(col("query_id"))
      .orderBy(desc("iscore"), col("vec_id"))
    val wRerank = Window.partitionBy(col("query_id"))
      .orderBy(desc("cos_sim"), col("vec_id"))
    corpus.crossJoin(broadcast(queries))
      .withColumn("iscore", vector.Quantize.dotQ(col("qv"), col("qq")))
      .withColumn("crank", row_number().over(wFirst))
      .filter(col("crank") <= 20)
      .withColumn("cos_sim",
        round(FloatVecExpr.dotF(col("embedding"), col("q_embedding")) /
          (FloatVecExpr.normF(col("embedding")) *
            FloatVecExpr.normF(col("q_embedding"))), 6))
      .withColumn("rank", row_number().over(wRerank))
      .filter(col("rank") <= 5)
      .select(col("query_id"), col("rank"), col("vec_id"), col("cos_sim"))
      .orderBy(col("query_id"), col("rank"))
  }

  /** Matryoshka (MRL) two-stage retrieval — the
    * truncated-embedding serving trick: stage 1 shortlists top-20
    * by cosine over the FIRST 16 dimensions (a 4× cheaper dot for
    * 64-dim vectors; with MRL-trained embeddings the head carries
    * most of the signal), stage 2 reranks the shortlist with the
    * full vector. Same funnel discipline as [[q_topk_int8_rerank]]
    * (scores rounded to 6dp BEFORE every ranking, vec_id tiebreak),
    * so the DuckDB replay (list slicing + double cosine) hash-
    * matches. At scale stage 1 is where an index goes (IVF/PQ over
    * the head dims); the full vectors are touched only for the
    * shortlist. */
  def q_topk_mrl(s: SparkSession, dir: String): DataFrame = {
    import graft.vector.FloatVecExpr
    val headDims = 16
    val emb = t(s, dir, "embeddings")
    val corpus = emb.select(col("vec_id"), col("embedding"),
      slice(col("embedding"), 1, headDims).as("head"))
    val queries = emb.filter(col("vec_id") < 3)
      .select(col("vec_id").as("query_id"),
        col("embedding").as("q_embedding"),
        slice(col("embedding"), 1, headDims).as("q_head"))
    val wFirst = Window.partitionBy(col("query_id"))
      .orderBy(desc("hscore"), col("vec_id"))
    val wRerank = Window.partitionBy(col("query_id"))
      .orderBy(desc("cos_sim"), col("vec_id"))
    corpus.crossJoin(broadcast(queries))
      .withColumn("hscore",
        round(FloatVecExpr.dotF(col("head"), col("q_head")) /
          (FloatVecExpr.normF(col("head")) *
            FloatVecExpr.normF(col("q_head"))), 6))
      .withColumn("crank", row_number().over(wFirst))
      .filter(col("crank") <= 20)
      .withColumn("cos_sim",
        round(FloatVecExpr.dotF(col("embedding"), col("q_embedding")) /
          (FloatVecExpr.normF(col("embedding")) *
            FloatVecExpr.normF(col("q_embedding"))), 6))
      .withColumn("rank", row_number().over(wRerank))
      .filter(col("rank") <= 5)
      .select(col("query_id"), col("rank"), col("vec_id"), col("cos_sim"))
      .orderBy(col("query_id"), col("rank"))
  }

  /** Raw BRP floor-bucket keys for vec_id < 200 — the direct value
    * pin of the projection/bucket kernel (the near-dup and top-k rows
    * exercise it through joins; this row checks every key). Twin of
    * q_signlsh_bands. */
  def q_brp_keys(s: SparkSession, dir: String): DataFrame =
    Ann.brpKeys(t(s, dir, "embeddings").filter(col("vec_id") < 200))
      .orderBy(col("vec_id"), col("table"))

  /** BRP-LSH ANN top-k (exact counterpart is q_topk_cosine) —
    * hash-checked since the floor-bucket keys are md5-derived and
    * engine-portable, like the sign-LSH twin q_topk_signlsh. */
  def q_topk_lsh(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    val queries = emb.filter(col("vec_id") < 3)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_embedding"))
    Ann.lshTopK(emb, queries, 5).orderBy(col("query_id"), col("rank"))
  }

  /** MMR diversity re-ranking ([[Ann.mmrTopK]], λ = 0.5): top-3 of
    * the 10 deepest cosine candidates per query, each greedy round
    * penalizing similarity to the already-selected — the standard
    * finisher that stops near-duplicate chunks crowding a RAG
    * context. Hash-checked: scores round at 6 before every argmax and
    * λ = 0.5 keeps both mix weights exactly representable, so DuckDB
    * replays the greedy selection exactly. */
  def q_topk_mmr(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    val queries = emb.filter(col("vec_id") < 3)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_embedding"))
    Ann.mmrTopK(emb, queries, k = 3, depth = 10, lambda = 0.5)
      .orderBy(col("query_id"), col("rank"))
  }

  /** Query-vector frame: the first `nQ` corpus vectors as queries —
    * the deterministic query-set convention every retrieval row
    * shares with its oracle (`WHERE vec_id < nQ`). */
  private def embQueries(emb: DataFrame, nQ: Int): DataFrame =
    emb.filter(col("vec_id") < nQ)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_embedding"))

  /** Queries per RECALL row (r15): the serve rows keep their 3-query
    * flagship shape, but a recall CLAIM over 3 queries is
    * statistically thin — every recall row now judges this many
    * deterministic queries and reports the micro-averaged mean
    * alongside the per-query rows. Shared with [[Oracles]]. */
  private[graft] val RecallQueryCount = 20

  /** The saved-index IVF serve of [[q_topk_ivf]], parameterized over
    * the query set so the wider recall rows run the IDENTICAL serve
    * path (same saved index, same probe/scoring trees). */
  private def ivfIndexedServe(s: SparkSession, dir: String,
      queries: DataFrame): DataFrame = {
    val emb = t(s, dir, "embeddings")
    val path = vector.Ivf.ensureSavedBoundedIndex(emb, nCells = 8,
      rounds = 2, cacheKey = s"ivf-bounded-$dir",
      epoch = tableEpoch(s, dir, "embeddings"))
    val (diskCorpus, centroids) = vector.Ivf.loadIndex(s, path)
    vector.Ivf.topKIndexed(diskCorpus, centroids, queries, 5, nProbe = 2)
  }

  /** IVF ANN top-k on the REAL embeddings table, hash-checked: the
    * coarse quantizer is [[vector.Ivf.boundedIndex]] — a distributed
    * 2-round k-means over int8-quantized vectors whose centroid
    * updates are exact-integer sums (order-free), so DuckDB unrolls
    * the identical two rounds and replays probe + fine search bit for
    * bit. Since r8 the row SERVES from the memoized saved index
    * ([[vector.Ivf.ensureSavedBoundedIndex]]): the rounds+1-scan fit
    * runs once per JVM, every later call scores the resident copy of
    * the `partitionBy("cell")` layout — the build-once/serve-many split
    * of a persistent vector store, now proven for the distributed fit
    * too (scores bit-identical to the in-memory path, so the oracle
    * is unchanged). The driver-sample Lloyd's fit
    * ([[vector.Ivf.index]]) stays pinned by q_topk_ivf_crafted /
    * q_topk_ivf_indexed. */
  def q_topk_ivf(s: SparkSession, dir: String): DataFrame =
    ivfIndexedServe(s, dir, embQueries(t(s, dir, "embeddings"), 3))
      .orderBy(col("query_id"), col("rank"))

  /** Shared recall-evaluation frame: per-query recall@k of `approx`
    * against `truth`, plus the tier's micro-averaged mean (total
    * hits / total k — equal to the arithmetic mean of per-query
    * recalls when every k is equal, as it is here) carried on every
    * row. The tiny per-query table persists so the totals pass never
    * re-runs the serve side. */
  private def recallFrame(truth: DataFrame, approx: DataFrame,
      tag: String): DataFrame = {
    val hits = truth.join(approx, Seq("query_id", "vec_id"), "left_semi")
      .groupBy(col("query_id")).agg(count(lit(1)).as("n_hit"))
    val per = truth.groupBy(col("query_id")).agg(count(lit(1)).as("kc"))
      .join(hits, Seq("query_id"), "left")
      .select(col("query_id"), col("kc").cast("int").as("k"),
        coalesce(col("n_hit"), lit(0L)).cast("int").as("n_hit"),
        round(coalesce(col("n_hit"), lit(0L)).cast("double") / col("kc"), 4)
          .as("recall"))
      .persistTracked(s"recall.$tag")
    val tot = per.agg(sum(col("n_hit")).cast("int").as("total_hit"),
      sum(col("k")).cast("int").as("total_k"))
    per.crossJoin(broadcast(tot))
      .withColumn("mean_recall",
        round(col("total_hit").cast("double") / col("total_k"), 4))
      .orderBy(col("query_id"))
  }

  /** ANN recall evaluation — the measurement row every approximate
    * index needs before it replaces the exact path: recall@5 of the
    * served IVF tier ([[ivfIndexedServe]], the q_topk_ivf serve,
    * nProbe=2) against the brute-force cosine truth, judged over
    * [[RecallQueryCount]] deterministic queries (r15 — 3 was
    * statistically thin for a recall claim) with the micro-averaged
    * mean on every row. The DuckDB replay embeds the SAME serve SQL
    * the 3-query catalog rows hash-check, widened only in its query
    * CTE — the eval loop is itself hash-checked. Scale shape: both
    * inputs are k-bounded top-k outputs (rows = |queries|·k), so the
    * recall join is trivially small no matter the corpus size. */
  def q_ann_recall(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    val qs = embQueries(emb, RecallQueryCount)
    val truth = Ann.bruteTopK(emb, qs, 5)
      .select(col("query_id"), col("vec_id"))
    val approx = ivfIndexedServe(s, dir, qs)
      .select(col("query_id"), col("vec_id"))
    recallFrame(truth, approx, "q_ann_recall")
  }

  /** Integer-microunit nDCG discount table, D(r) = round(1e6 /
    * log2(r + 1)) for rank r = 1..5 — computed ONCE driver-side and
    * injected as identical literals into the Spark plan and the
    * DuckDB oracle, so no cross-engine libm log2 ever runs inside a
    * checked expression (the [[q_retrieval_metrics]] exactness
    * trick: rank-aware metrics become pure integer sums). */
  private[graft] val NdcgDiscMicro: Seq[Long] =
    (1 to 5).map(r => math.round(1e6 / (math.log(r + 1.0) / math.log(2.0))))

  /** Prefix sums of [[NdcgDiscMicro]]: ideal DCG for k = 1..5. */
  private[graft] val NdcgIdealMicro: Seq[Long] =
    NdcgDiscMicro.scanLeft(0L)(_ + _).tail

  /** Rank-aware retrieval QUALITY metrics — the evaluation row that
    * complements [[q_ann_recall]]'s set-overlap view: per query, the
    * served IVF ranking ([[q_topk_ivf]]) is scored against the
    * brute-force truth set ([[q_topk_cosine]]) with first-hit rank,
    * reciprocal rank, and binary-relevance nDCG@5 — the metrics a
    * RAG pipeline gates index changes on. All metric arithmetic is
    * exact-integer microunits: the log2 discounts are driver-side
    * literals shared with the oracle ([[NdcgDiscMicro]]), RR is a
    * truncating integer division, and the only double is the final
    * ndcg ratio of two longs, rounded with no ranking after it. At
    * scale this is two top-k joins plus a per-query fold — metric
    * cost is O(queries × k), corpus cost is the retrievers'. */
  def q_retrieval_metrics(s: SparkSession, dir: String): DataFrame = {
    val truth = q_topk_cosine(s, dir).select(col("query_id"), col("vec_id"))
    val approx = q_topk_ivf(s, dir)
      .select(col("query_id"), col("vec_id"), col("rank"))
    val discCol = element_at(array(NdcgDiscMicro.map(lit): _*), col("rank"))
    val hits = approx.join(truth, Seq("query_id", "vec_id"), "left_semi")
      .groupBy(col("query_id")).agg(
        count(lit(1)).cast("int").as("n_hit"),
        min(col("rank")).cast("int").as("first_hit_rank"),
        sum(discCol).as("dcg_micro"))
    val ks = truth.groupBy(col("query_id"))
      .agg(count(lit(1)).cast("int").as("k"))
    val idcgCol = element_at(array(NdcgIdealMicro.map(lit): _*), col("k"))
    ks.join(hits, Seq("query_id"), "left")
      .select(col("query_id"), col("k"),
        coalesce(col("n_hit"), lit(0)).as("n_hit"),
        coalesce(col("first_hit_rank"), lit(0)).as("first_hit_rank"),
        coalesce(expr("1000000 div first_hit_rank"), lit(0L)).as("rr_micro"),
        coalesce(col("dcg_micro"), lit(0L)).as("dcg_micro"),
        idcgCol.as("idcg_micro"),
        round(coalesce(col("dcg_micro"), lit(0L)).cast("double") / idcgCol, 6)
          .as("ndcg"))
      .orderBy(col("query_id"))
  }

  /** Crafted IVF fixture: THREE well-separated integer clusters
    * (A ≈ e1: vec 0–3, B ≈ e2: vec 4–7, C ≈ e3: vec 8–11). The
    * deterministic sorted-sample init picks vec 0, 4 and 8 (indices
    * 0, n/3, 2n/3 — exactly the cluster heads), the round-1
    * assignment is exactly the cluster split, and round 2 recomputes
    * identical means — so Lloyd's lands on its fixpoint after ONE
    * update round and the whole fit is plain SQL (one assignment +
    * one per-cell mean). Integer components are exact in Float,
    * keeping every engine/oracle double bit-comparable until the
    * final round(6). The queries probe only cells A and B, so cell C
    * is NEVER probed — on the saved-index serve the static partition
    * filter visibly prunes a third of the index files. Shared with
    * [[Oracles]]. */
  private[graft] val ivfCraftedCorpus: Seq[(Long, Seq[Float])] = Seq(
    0L -> Seq(10f, 1f, 0f, 0f), 1L -> Seq(10f, 0f, 1f, 0f),
    2L -> Seq(9f, 1f, 1f, 0f), 3L -> Seq(11f, 0f, 0f, 1f),
    4L -> Seq(0f, 10f, 1f, 0f), 5L -> Seq(1f, 10f, 0f, 0f),
    6L -> Seq(0f, 9f, 1f, 1f), 7L -> Seq(0f, 11f, 0f, 1f),
    8L -> Seq(0f, 0f, 10f, 1f), 9L -> Seq(1f, 0f, 10f, 0f),
    10L -> Seq(0f, 1f, 9f, 1f), 11L -> Seq(0f, 0f, 11f, 0f))

  private[graft] val ivfCraftedQueries: Seq[(Long, Seq[Float])] = Seq(
    100L -> Seq(10f, 0f, 0f, 1f), 101L -> Seq(0f, 10f, 1f, 1f))

  /** Epoch token for serves over [[ivfCraftedCorpus]] — the corpus is
    * a compile-time literal, so its version IS its content: an md5 of
    * the rows computed once, driver-side, at class init (no Spark
    * job). Editing the literal moves the token, which falls back to
    * SavedIndex's content re-check; unchanged code serves O(1). */
  private[graft] val ivfCraftedEpoch: Option[String] = Some {
    val md = java.security.MessageDigest.getInstance("MD5")
    val bytes = ivfCraftedCorpus
      .map { case (id, v) => s"$id:${v.mkString(",")}" }
      .mkString("|").getBytes("UTF-8")
    md.digest(bytes).map("%02x".format(_)).mkString
  }

  /** IVF oracle-checked — coarse quantize → probe → fine search on the
    * crafted two-cluster fixture ([[ivfCraftedCorpus]]): nCells = 2,
    * nProbe = 1, k = 3 over nCells = 3, so the probed fine search
    * really prunes (only the winning cell's 4 of 12 vectors are
    * scored per query, and cell C is never probed at all). The
    * corpus-wide [[q_topk_ivf]] stays rows-only (iterative fit); this
    * entry hash-checks the same index/serve code path where the fit
    * is SQL-replayable. */
  def q_topk_ivf_crafted(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val corpus = ivfCraftedCorpus.toDF("vec_id", "embedding")
    val queries = ivfCraftedQueries.toDF("query_id", "q_embedding")
    val (assigned, cents) = vector.Ivf.index(corpus, nCells = 3)
    vector.Ivf.topK(assigned, cents, queries, 3, nProbe = 1)
      .orderBy(col("query_id"), col("rank"))
  }

  /** IVF served from a SAVED index — the persist-then-query usage
    * pattern of the reference's vector store (ChromaDB
    * `PersistentClient`, `chromadb_rag.py:103-110`), mirrored on the
    * crafted fixture so the serve is hash-checked: [[vector.Ivf
    * .ensureSavedIndex]] fits + persists `partitionBy("cell")` once
    * per JVM, then [[vector.Ivf.topKIndexed]] probes and scores only
    * the probed cells of the index's resident copy, with no Spark job.
    * Scores are bit-identical to [[q_topk_ivf_crafted]] (the resident
    * scorer mirrors its probe/scoring Column trees), so both rows
    * share one oracle SQL. */
  def q_topk_ivf_indexed(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val corpus = ivfCraftedCorpus.toDF("vec_id", "embedding")
    val queries = ivfCraftedQueries.toDF("query_id", "q_embedding")
    val path = vector.Ivf.ensureSavedIndex(corpus, nCells = 3,
      cacheKey = "ivf-crafted-three-cluster", epoch = ivfCraftedEpoch)
    val (diskCorpus, cents) = vector.Ivf.loadIndex(s, path)
    vector.Ivf.topKIndexed(diskCorpus, cents, queries, 3, nProbe = 1)
      .orderBy(col("query_id"), col("rank"))
  }

  /** PQ geometry shared with [[Oracles]]: 16 subspaces × 4 dims over
    * the 64-dim embeddings, 16 codes per subspace, 2 exact-integer
    * update rounds — 16 B/vector, vs 256 B of floats. */
  private[graft] val pqM = 16
  private[graft] val pqK = 16

  private def pqQueries(emb: DataFrame, nQ: Int = 3): DataFrame =
    emb.filter(col("vec_id") < nQ)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_embedding"))

  /** All PQ rows serve their FITS from one memoized saved index per
    * fixture dir (the [[q_topk_ivf]] r8 precedent): the two bounded
    * fits (3 driver-round-trip jobs each) and the encode persist
    * once per JVM behind [[vector.Pq.ensureSavedIndex]]'s epoch'd
    * staleness check; each row then runs its OWN serve work. The
    * loaded codebooks are bit-identical to an inline
    * [[vector.Pq.boundedTrain]] (PqSpec pins the lossless
    * round-trip), so every oracle is unchanged. */
  private[graft] def pqEnsured(s: SparkSession, dir: String)
      : (DataFrame, vector.Pq.Codebooks, Array[Array[Double]]) = {
    val emb = t(s, dir, "embeddings")
    val path = vector.Pq.ensureSavedIndex(emb, pqM, pqK, rounds = 2,
      nCells = 8, cacheKey = s"ivfpq-$dir",
      epoch = tableEpoch(s, dir, "embeddings"))
    vector.Pq.loadIndex(s, path)
  }

  /** Product quantization serve on the REAL embeddings — the
    * memory-side ANN scale path ([[vector.Pq]]): per-subspace
    * bounded-rounds k-means on the int8 lattice (m = 8 subspaces ×
    * 8 dims, 8 codes, 2 exact-integer update rounds — the
    * [[q_topk_ivf]] oracle-replayable fit discipline applied
    * per-subspace), map-side encode to 8 code ids per vector (32×
    * smaller than the float corpus), then ADC top-5: each corpus
    * vector scored by 8 table lookups instead of 64 multiplies.
    * Fully DuckDB-hash-checked — every arithmetic step is lattice-
    * integer or ascending-order double, so the oracle replays the
    * train + encode + serve chain bit-identically. */
  def q_topk_pq(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    val (codes, books, _) = pqEnsured(s, dir)
    vector.Pq.adcTopK(codes, books, pqQueries(emb), 5)
      .orderBy(col("query_id"), col("rank"))
  }

  /** The rerank funnel's width, shared verbatim with the oracle SQL
    * ([[Oracles]] interpolates it) so the two engines cannot drift.
    * 64 (r16, was 40): on these near-random embeddings ADC ranks true
    * neighbors poorly (flat recall@5 0.39), and 40 left the funnel at
    * 0.83; 64 buys ≳0.9 while staying a trivially broadcastable
    * |queries| × 64 shortlist at any corpus size. */
  private[graft] val PqRerankShortlist = 64

  /** PQ shortlist-then-rerank — ADC proposes [[PqRerankShortlist]]
    * candidates per query from the codes-only corpus, then only those
    * rows re-score with the exact lattice L2
    * ([[vector.Pq.adcRerankTopK]]). The production accuracy/memory
    * trade every quantized index serves behind; its recall against
    * the exact truth ([[q_pq_rerank_recall]]) is near-1 where pure
    * ADC ([[q_pq_recall]]) is partial. */
  def q_topk_pq_rerank(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    val (codes, books, _) = pqEnsured(s, dir)
    val quantized = emb.withColumn("qv", vector.Quantize.int8(col("embedding")))
    vector.Pq.adcRerankTopK(codes, books,
        quantized, pqQueries(emb), 5, shortlist = PqRerankShortlist)
      .orderBy(col("query_id"), col("rank"))
  }

  /** The composed IVF+PQ serve of [[q_topk_ivfpq]], parameterized
    * over the query set for the wider recall row. */
  private def ivfpqServe(s: SparkSession, dir: String,
      queries: DataFrame): DataFrame = {
    val emb = t(s, dir, "embeddings")
    val (_, books, cents) = pqEnsured(s, dir)
    val quantized = emb.withColumn("qv", vector.Quantize.int8(col("embedding")))
    // cell + codes in ONE map-side pass over the shared lattice —
    // no corpus self-join to attach the coarse assignment
    val encodedWithCell = vector.Pq.encodeWith(quantized, books,
      Seq("cell" -> vector.FloatVecExpr.nearestCellF(col("qv"), cents)))
    vector.Pq.adcTopKProbed(encodedWithCell, books, cents,
      queries, 5, nProbe = 2)
  }

  /** IVF+PQ — the FAISS-style billion-scale composition: the coarse
    * quantizer ([[vector.Ivf.boundedIndex]], same fit as
    * [[q_topk_ivf]]) restricts the scan to 2 probed cells of 8 per
    * query, and within them the PQ codes ([[q_topk_pq]]'s fit) are
    * ADC-scored — scan-count win × memory win. Both fits and the
    * serve replay bit-identically from the same shared oracle CTEs
    * the standalone rows hash-check. */
  def q_topk_ivfpq(s: SparkSession, dir: String): DataFrame =
    ivfpqServe(s, dir, pqQueries(t(s, dir, "embeddings")))
      .orderBy(col("query_id"), col("rank"))

  /** IVF+PQ served from a SAVED index — both bounded fits + the
    * encode persist once per JVM ([[vector.Pq.ensureSavedIndex]],
    * epoch'd O(1) staleness check), then every serve reads ONLY the
    * probed cell directories of the `partitionBy("cell")` compressed
    * codes (static `cell IN (…)` PartitionFilters — the FAISS
    * on-disk inverted-list shape). Scores bit-identical to
    * [[q_topk_ivfpq]] (shared probe/scoring trees, lossless
    * round-trip), so both rows share one oracle SQL. */
  def q_topk_ivfpq_indexed(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    val (codes, books, cents) = pqEnsured(s, dir)
    vector.Pq.adcTopKIndexed(codes, books, cents, pqQueries(emb), 5,
        nProbe = 2)
      .orderBy(col("query_id"), col("rank"))
  }

  /** IVFPQ + refine — FAISS's `IndexRefineFlat` over the saved
    * inverted lists, the standard production vector serve: the
    * cell-pruned ADC scan proposes [[PqRerankShortlist]] candidates
    * per query (reading ONLY probed cell directories of the
    * compressed codes), then only those rows re-score with the exact
    * integer lattice L2 ([[vector.Pq.exactRerank]]). Completes the
    * loss decomposition the recall rows pin: refine recovers the
    * CODEBOOK half of IVFPQ's loss, while the cell-pruning half is
    * bounded by the coarse tier's own recall ([[q_ann_recall]]) —
    * more probes, not a wider shortlist, is the knob for that. */
  private def ivfpqRerankServe(s: SparkSession, dir: String,
      queries: DataFrame, nProbe: Int = 2): DataFrame = {
    val emb = t(s, dir, "embeddings")
    val (codes, books, cents) = pqEnsured(s, dir)
    val quantized = emb.withColumn("qv", vector.Quantize.int8(col("embedding")))
    val sl = vector.Pq.adcTopKIndexed(codes, books, cents, queries,
        PqRerankShortlist, nProbe)
      .select(col("query_id"), col("vec_id"))
    vector.Pq.exactRerank(quantized, sl, queries, 5)
  }

  def q_topk_ivfpq_rerank(s: SparkSession, dir: String): DataFrame =
    ivfpqRerankServe(s, dir, pqQueries(t(s, dir, "embeddings")))
      .orderBy(col("query_id"), col("rank"))

  /** The probed depths of [[q_ivfpq_probe_recall]], shared verbatim
    * with the oracle SQL so the curve's geometry cannot drift. 2 is
    * the catalog serve's depth, 8 == nCells probes every cell (zero
    * pruning — the curve's ceiling must meet [[q_pq_rerank_recall]]'s
    * flat-funnel recall there, which the committed run confirms). */
  private[graft] val IvfpqProbeLadder = Seq(2, 4, 8)

  /** The measured nProbe-vs-recall CURVE for the IVFPQ+refine serve
    * (r16 verdict #4): one row per probed depth in
    * [[IvfpqProbeLadder]], micro-averaged recall@5 vs the exact
    * lattice truth over [[RecallQueryCount]] queries. Pins by
    * MEASUREMENT what [[q_ivfpq_rerank_recall]] attributed by
    * geometry — that the funnel's residual loss at nProbe=2 is cell
    * pruning: recall must rise monotonically with probes and meet
    * the flat-funnel ceiling ([[q_pq_rerank_recall]], 0.94) at
    * nProbe = nCells = 8, where probing is exhaustive. The truth
    * pass runs ONCE (persisted); each rung is the production serve
    * at its depth ([[ivfpqRerankServe]] over the same saved index),
    * semi-joined against the truth and counted, so a rung with no
    * hit still emits its row. This is the curve a deployment reads
    * to pick its recall/scan-cost operating point. */
  def q_ivfpq_probe_recall(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    val queries = pqQueries(emb, RecallQueryCount)
    val quantized = emb.withColumn("qv", vector.Quantize.int8(col("embedding")))
    val truth = vector.Pq.exactTopK(quantized, queries, 5)
      .select(col("query_id"), col("vec_id"))
      .persistTracked("probecurve.truth")
    val totK = truth.agg(count(lit(1)).cast("int").as("total_k"))
    IvfpqProbeLadder.map { p =>
      ivfpqRerankServe(s, dir, queries, p)
        .join(truth, Seq("query_id", "vec_id"), "left_semi")
        .agg(count(lit(1)).cast("int").as("total_hit"))
        .select(lit(p).as("n_probe"), col("total_hit"))
    }.reduce(_ unionByName _)
      .crossJoin(broadcast(totK))
      .select(col("n_probe"), col("total_hit"), col("total_k"),
        round(col("total_hit").cast("double") / col("total_k"), 4)
          .as("mean_recall"))
      .orderBy(col("n_probe"))
  }

  /** Recall@5 of the IVFPQ+refine serve vs the exact lattice truth —
    * with [[q_pq_rerank_recall]] (0.94) and [[q_ivfpq_recall]]
    * (0.38) this row completes the committed loss decomposition:
    * refine recovers the codebook half (0.38 → 0.63 at sf0.01), and
    * the residual gap to 1.0 is pure CELL PRUNING — at 2 probed
    * cells of 8 over a 500-vector corpus the shortlist (64 of ~125
    * in-cell candidates) is nearly exhaustive, so 0.63 IS the
    * nProbe=2 pruning ceiling under the lattice-L2 truth (the 0.77
    * of [[q_ann_recall]] is the same ceiling under its own
    * float-cosine truth and probe). More probes, not a wider
    * shortlist, is the production knob for that half. */
  def q_ivfpq_rerank_recall(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    val queries = pqQueries(emb, RecallQueryCount)
    val quantized = emb.withColumn("qv", vector.Quantize.int8(col("embedding")))
    val truth = vector.Pq.exactTopK(quantized, queries, 5)
      .select(col("query_id"), col("vec_id"))
    val approx = ivfpqRerankServe(s, dir, queries)
      .select(col("query_id"), col("vec_id"))
    recallFrame(truth, approx, "q_ivfpq_rerank_recall")
  }

  /** The saved residual-IVFPQ serve of [[q_topk_ivfpq_res]],
    * parameterized over the query set for the wider recall row. */
  private def ivfpqResServe(s: SparkSession, dir: String,
      queries: DataFrame): DataFrame = {
    val emb = t(s, dir, "embeddings")
    val path = vector.Pq.ensureSavedResidualIndex(emb, pqM, pqK,
      rounds = 2, nCells = 8, cacheKey = s"ivfpq-res-$dir",
      epoch = tableEpoch(s, dir, "embeddings"))
    val (codes, books, cents) = vector.Pq.loadIndex(s, path)
    vector.Pq.adcTopKIndexedResidual(codes, books, cents,
      queries, 5, nProbe = 2)
  }

  /** RESIDUAL IVFPQ — the authentic FAISS shape: PQ codebooks trained
    * on `vector − coarse centroid` over an ×8 lattice (the scale is a
    * power of two, so every residual step stays exact-replayable),
    * codes spend their resolution on the within-cell residual instead
    * of re-describing the cell. Served from the saved compressed
    * index with the same static cell PartitionFilters as
    * [[q_topk_ivfpq_indexed]]; distance tables are per
    * (query, probed cell) since the query's residual depends on the
    * cell it probes. */
  def q_topk_ivfpq_res(s: SparkSession, dir: String): DataFrame =
    ivfpqResServe(s, dir, pqQueries(t(s, dir, "embeddings")))
      .orderBy(col("query_id"), col("rank"))

  /** Recall@5 of the residual tier vs the exact lattice truth — the
    * committed number that shows what residual encoding buys over
    * raw-vector codes ([[q_ivfpq_recall]]) at identical geometry. */
  def q_ivfpq_res_recall(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    val queries = pqQueries(emb, RecallQueryCount)
    val quantized = emb.withColumn("qv", vector.Quantize.int8(col("embedding")))
    val truth = vector.Pq.exactTopK(quantized, queries, 5)
      .select(col("query_id"), col("vec_id"))
    val approx = ivfpqResServe(s, dir, queries)
      .select(col("query_id"), col("vec_id"))
    recallFrame(truth, approx, "q_ivfpq_res_recall")
  }

  /** Recall@5 of the composed IVF+PQ tier against the same exact
    * lattice truth as [[q_pq_recall]] — the number that tells you
    * what the CELL PRUNING costs on top of the codebook
    * approximation (a true neighbor in an unprobed cell is
    * unreachable no matter how good the codes are). */
  def q_ivfpq_recall(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    val queries = pqQueries(emb, RecallQueryCount)
    val quantized = emb.withColumn("qv", vector.Quantize.int8(col("embedding")))
    val truth = vector.Pq.exactTopK(quantized, queries, 5)
      .select(col("query_id"), col("vec_id"))
    // approx leg from the SAVED index (r20 — the r19-verdict-#2
    // discipline applied here too): the inline ivfpqServe re-encoded
    // the whole corpus per run (quantize + m nearest-cell scans per
    // row) to produce scores the saved serve reads off disk
    // bit-identically — q_topk_ivfpq_indexed and q_topk_ivfpq share
    // ONE oracle SQL, so the legs are provably value-equal. The
    // inline composition's cost stays priced by q_topk_ivfpq itself.
    val (codes, books, cents) = pqEnsured(s, dir)
    val approx = vector.Pq
      .adcTopKIndexed(codes, books, cents, queries, 5, nProbe = 2)
      .select(col("query_id"), col("vec_id"))
    recallFrame(truth, approx, "q_ivfpq_recall")
  }

  /** PQ recall evaluation — recall@5 of the ADC serve ([[q_topk_pq]])
    * against EXACT squared-L2 top-5 on the same int8 lattice
    * ([[vector.Pq.exactTopK]], pure integer distances). Measuring
    * against the lattice truth (not float cosine) isolates the PQ
    * codebook approximation error from the shared int8 quantization
    * step — the eval semantics a quantized index actually needs.
    * Same composed-oracle shape as [[q_ann_recall]]: both sides'
    * SQL embed as derived tables, so the eval loop is hash-checked;
    * rows = |queries| · k regardless of corpus size. */
  def q_pq_recall(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    val queries = pqQueries(emb, RecallQueryCount)
    val (codes, books, _) = pqEnsured(s, dir)
    val quantized = emb.withColumn("qv", vector.Quantize.int8(col("embedding")))
    val truth = vector.Pq.exactTopK(quantized, queries, 5)
      .select(col("query_id"), col("vec_id"))
    val approx = vector.Pq
      .adcTopK(codes, books, queries, 5)
      .select(col("query_id"), col("vec_id"))
    recallFrame(truth, approx, "q_pq_recall")
  }

  /** Recall@5 of the ADC-shortlist + exact-rerank serve
    * ([[q_topk_pq_rerank]], shortlist = [[PqRerankShortlist]])
    * against the exact lattice truth — the committed number showing
    * the production funnel recovers the recall that flat ADC
    * ([[q_pq_recall]]) loses to codebook approximation: a true
    * neighbor only gets lost if ADC ranks it below the shortlist
    * bound, so the rerank recall sits near 1 where pure ADC is
    * partial. Same 20-query composed-oracle shape as the other
    * recall rows; serve reads the SAVED codes. */
  def q_pq_rerank_recall(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    val queries = pqQueries(emb, RecallQueryCount)
    val (codes, books, _) = pqEnsured(s, dir)
    val quantized = emb.withColumn("qv", vector.Quantize.int8(col("embedding")))
    val truth = vector.Pq.exactTopK(quantized, queries, 5)
      .select(col("query_id"), col("vec_id"))
    val approx = vector.Pq.adcRerankTopK(codes, books, quantized, queries,
        5, shortlist = PqRerankShortlist)
      .select(col("query_id"), col("vec_id"))
    recallFrame(truth, approx, "q_pq_rerank_recall")
  }

  // ===== tabular surface (P/A/O/F series) =====

  /** P1..P3+P5 — projection, equality + numeric BETWEEN, conjunction. */
  def q_filter_conj(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .filter(col("l_returnflag") === "R" &&
        col("l_quantity").between(10, 20) && col("l_discount") < 0.05)
      .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
        col("l_discount"), col("l_extendedprice"))
      .orderBy(col("l_orderkey"), col("l_linenumber"))

  /** P4 — date BETWEEN on orders; emits DATE not timestamp. */
  def q_date_between(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders")
      .filter(col("o_orderdate").between(
        to_timestamp(lit("1996-01-01")), to_timestamp(lit("1996-12-31"))))
      .select(col("o_orderkey"), col("o_custkey"),
        date_format(col("o_orderdate"), "yyyy-MM-dd").as("o_date"), col("o_totalprice"))
      .orderBy(col("o_orderkey"))

  /** P6/P7 — prefix/suffix/contains string predicates. */
  def q_string_preds(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "part")
      .filter(col("p_type").startsWith("PROMO") &&
        !col("p_name").rlike("green|grey") && col("p_name").contains("o"))
      .select(col("p_partkey"), col("p_name"), col("p_type"))
      .orderBy(col("p_partkey"))

  /** TPC-H Q1 shape — the canonical partial+final hash aggregate. */
  def q_tpch_q1(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .filter(col("l_shipdate") <= to_timestamp(lit("1998-09-02")))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        round(sum(col("l_quantity")), 4).as("sum_qty"),
        round(sum(col("l_extendedprice")), 4).as("sum_base_price"),
        round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 4)
          .as("sum_disc_price"),
        round(avg(col("l_quantity")), 4).as("avg_qty"),
        count(lit(1)).as("count_order"))
      .orderBy(col("l_returnflag"), col("l_linestatus"))

  /** J1 — broadcast equi-join lineitem ⋈ part, revenue per brand. */
  def q_join_broadcast(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .join(broadcast(t(s, dir, "part")), col("l_partkey") === col("p_partkey"))
      .groupBy(col("p_brand"))
      .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 4)
        .as("revenue"),
        count(lit(1)).as("n_items"))
      .orderBy(col("p_brand"))

  /** Multi-way join customer ⋈ nation ⋈ region (small dims broadcast). */
  def q_join_multi(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "customer")
      .join(broadcast(t(s, dir, "nation")),
        col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(t(s, dir, "region")),
        col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("r_name"))
      .agg(count(lit(1)).as("n_customers"),
        round(sum(col("c_acctbal")), 4).as("total_acctbal"))
      .orderBy(col("r_name"))

  /** Semi join — orders having a high-quantity lineitem (EXISTS). */
  def q_semi_join(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders")
      .join(t(s, dir, "lineitem").filter(col("l_quantity") >= 49)
        .select(col("l_orderkey")),
        col("o_orderkey") === col("l_orderkey"), "left_semi")
      .select(col("o_orderkey"), col("o_totalprice"))
      .orderBy(col("o_orderkey"))

  /** Anti join — customers with no orders (NOT EXISTS). */
  def q_anti_join(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "customer")
      .join(t(s, dir, "orders").select(col("o_custkey")),
        col("c_custkey") === col("o_custkey"), "left_anti")
      .select(col("c_custkey"), col("c_name"))
      .orderBy(col("c_custkey"))

  /** W1 — top-3 orders per customer by totalprice (rank window). */
  def q_window_topk(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(desc("o_totalprice"), col("o_orderkey"))
    t(s, dir, "orders")
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 3)
      .select(col("o_custkey"), col("rank"), col("o_orderkey"), col("o_totalprice"))
      .orderBy(col("o_custkey"), col("rank"))
  }

  /** W4-shape — running sum per order over linenumbers. */
  def q_running_sum(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("l_orderkey")).orderBy(col("l_linenumber"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    t(s, dir, "lineitem")
      .filter(col("l_orderkey") < 1000)
      .select(col("l_orderkey"), col("l_linenumber"),
        round(sum(col("l_quantity")).over(w), 4).as("running_qty"))
      .orderBy(col("l_orderkey"), col("l_linenumber"))
  }

  /** A5/A6 — first/argmax per group via ordered window. */
  def q_first_per_group(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(desc("o_orderdate"), col("o_orderkey"))
    t(s, dir, "orders")
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("o_custkey"), col("o_orderkey"),
        date_format(col("o_orderdate"), "yyyy-MM-dd").as("latest_date"))
      .orderBy(col("o_custkey"))
  }

  /** A7 — value_counts. */
  def q_value_counts(s: SparkSession, dir: String): DataFrame =
    Rel.valueCounts(Tables.events(s, dir), "event_type")

  /** A8 — distinct values with null-drop. */
  def q_distinct_values(s: SparkSession, dir: String): DataFrame =
    Rel.distinctValues(t(s, dir, "customer"), "c_mktsegment")

  /** A3/F20 — 10-bin numpy-style histogram of o_totalprice. */
  def q_histogram(s: SparkSession, dir: String): DataFrame =
    Rel.histogram(t(s, dir, "orders"), "o_totalprice")
      .withColumn("bin_lo", round(col("bin_lo"), 4))
      .withColumn("bin_hi", round(col("bin_hi"), 4))

  /** A4/A10 — group-collect + ordered concat-reduce. */
  def q_group_collect(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "nation")
      .groupBy(col("n_regionkey"))
      .agg(concat_ws(",", sort_array(collect_list(col("n_name")))).as("nations"),
        count(lit(1)).as("n_nations"))
      .orderBy(col("n_regionkey"))

  /** O3 — deterministic LIMIT/OFFSET pagination. */
  def q_page_offset(s: SparkSession, dir: String): DataFrame =
    Rel.page(
      t(s, dir, "orders").select(col("o_orderkey"), col("o_totalprice")),
      Seq(col("o_orderkey")), limit = 100, offset = 50)

  /** O5 — order-desc + limit (TakeOrderedAndProject). */
  def q_topn_global(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders")
      .orderBy(desc("o_totalprice"), col("o_orderkey"))
      .limit(10)
      .select(col("o_orderkey"), col("o_totalprice"))

  /** F1 — calendar year-quarter label. */
  def q_year_quarter(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders")
      .select(col("o_orderkey"), Rel.yearQuarter(col("o_orderdate")).as("yq"))
      .orderBy(col("o_orderkey"))

  /** P10/F15 — date-string validation predicate. */
  def q_valid_dates(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders")
      .select(col("o_orderkey"),
        date_format(col("o_orderdate"), "yyyy-MM-dd").as("d"))
      .withColumn("valid", Rel.validDate(col("d")))
      .orderBy(col("o_orderkey"))

  /** F4/F2 — URL filename + quarter classification on synthesized
    * link rows (models the scrape-result table, S1). */
  def q_url_parse(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .select(col("doc_id"),
        concat(lit("https://host/docs/q"),
          (col("doc_id") % 4 + 1), lit("/"), col("source"),
          lit(".pdf")).as("href"),
        concat(lit("Q"), (col("doc_id") % 4 + 1), lit(" Report")).as("link_text"))
      .withColumn("filename", Rel.filenameFromUrl(col("href")))
      .withColumn("quarter", Rel.quarterOf(col("link_text"), col("href")))
      .withColumn("renamed", concat(lower(col("quarter")), lit(".pdf")))
      .sortedOnce("q_url_parse")(col("doc_id"))

  /** F12 — JSON decode of the events props payload. */
  def q_json_extract(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .select(col("event_id"),
        get_json_object(col("props"), "$.k").cast("int").as("k"))
      .sortedOnce("q_json_extract")(col("event_id"))

  /** F9 — base64 round-trip (data-URI decode shape). */
  def q_base64(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .withColumn("b64", regexp_replace(base64(encode(col("text"), "UTF-8")), "[\\r\\n]", ""))
      .withColumn("roundtrip_ok",
        decode(unbase64(col("b64")), "UTF-8") === col("text"))
      .select(col("doc_id"), col("b64"), col("roundtrip_ok"))
      .sortedOnce("q_base64")(col("doc_id"))

  // ===== dedup suite =====

  /** Exact dedup groups (hash-groupBy). */
  def q_dedup_exact(s: SparkSession, dir: String): DataFrame =
    Dedup.exactDupGroups(t(s, dir, "documents")).orderBy(col("text_md5"))

  /** Incremental (delta-ingest) exact dedup — a new batch against the
    * existing corpus ([[Dedup.dedupAgainstExisting]]): re-deliveries
    * of already-ingested content (docs 0–49 re-keyed at +10000) are
    * dropped by the anti-join against the historical fingerprint set,
    * intra-batch duplicates (docs 400–409 re-keyed at +20000) by the
    * first-occurrence window; genuinely new docs survive. The
    * production daily-delta shape: only (md5, doc_id) ever shuffles. */
  def q_dedup_incremental(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
    val existing = docs.filter(col("doc_id") < 400)
    val incoming = docs.filter(col("doc_id") >= 400)
      .unionByName(docs.filter(col("doc_id") < 50)
        .withColumn("doc_id", col("doc_id") + 10000))
      .unionByName(docs.filter(col("doc_id") >= 400 && col("doc_id") < 410)
        .withColumn("doc_id", col("doc_id") + 20000))
    Dedup.dedupAgainstExisting(existing, incoming)
      .select(col("doc_id"), col("text_md5"))
      .orderBy(col("doc_id"))
  }

  /** MinHash signatures (md5-based, oracle-portable). */
  def q_minhash_sig(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .filter(col("doc_id") < 50)
      .select(col("doc_id"), Dedup.shingles(col("text")).as("sh"))
      .select(col("doc_id"),
        concat_ws("", Dedup.minhashSignatureOf(col("sh"), 4)).as("sig"))
      .sortedOnce("q_minhash_sig")(col("doc_id"))

  /** MinHash LSH candidate pairs, served from the saved signature
    * index ([[Dedup.ensureSavedSignatureIndex]]): the tokenize →
    * shingle → md5-min corpus pass runs ONCE per corpus per JVM and
    * lands as a (doc_id, band keys, shingles) parquet; every serve
    * after is the band-key self-join over the saved keys — the same
    * build/serve split as q_bm25_indexed and q_topk_ivf, applied to
    * dedup. Values (and the DuckDB oracle) are identical to the
    * recomputing [[Dedup.minhashCandidates]] form. */
  def q_minhash_candidates(s: SparkSession, dir: String): DataFrame = {
    val path = Dedup.ensureSavedSignatureIndex(t(s, dir, "documents"), dir,
      epoch = tableEpoch(s, dir, "documents"))
    Dedup.candidatesFromIndex(s.read.parquet(path))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** The complete minhash pipeline ending — banded candidates
    * CONFIRMED by exact shingle-Jaccard (candidate/verify): the
    * probabilistic band join proposes, the exact set overlap on just
    * those pairs disposes (≥ 0.5 kept). Shingle arrays are fetched
    * per side by equi-join, so the exact pass touches only candidate
    * pairs — the shape that makes verification affordable at 100 TB.
    * Union size via |A| + |B| − |A∩B| (arrays are distinct), the
    * form both engines compute identically. */
  def q_minhash_verified(s: SparkSession, dir: String): DataFrame = {
    // served from the saved signature index: candidates come from the
    // stored band keys, the exact-Jaccard verify fetches the STORED
    // shingle arrays per side — the whole row runs without a single
    // tokenize pass (the index pays it once per corpus)
    val path = Dedup.ensureSavedSignatureIndex(t(s, dir, "documents"), dir,
      epoch = tableEpoch(s, dir, "documents"))
    val shs = s.read.parquet(path)
    Dedup.candidatesFromIndex(shs)
      .join(shs.select(col("doc_id").as("doc_a"), col("sh").as("sh_a")), "doc_a")
      .join(shs.select(col("doc_id").as("doc_b"), col("sh").as("sh_b")), "doc_b")
      .withColumn("inter", size(array_intersect(col("sh_a"), col("sh_b"))))
      .withColumn("jaccard", round(col("inter").cast("double") /
        (size(col("sh_a")) + size(col("sh_b")) - col("inter")), 6))
      .filter(col("jaccard") >= 0.5)
      .select(col("doc_a"), col("doc_b"), col("jaccard"))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** Containment near-dup ([[Dedup.containmentPairs]]) — the
    * ASYMMETRIC duplication case (a document embedded in a larger
    * one) that symmetric Jaccard banding structurally misses: the
    * planted prefix-half twins (doc_id + 1e9 for doc_id < 20 — an
    * offset above any single-ingest corpus this engine shards, so
    * planted ids can never collide with real doc_ids; text = the
    * first ⌈n/2⌉ space-words) have containment 1.0 toward
    * their parents while their Jaccard sits near 0.5 — below the
    * 0.5-banding radar, above nothing. Candidates come from the
    * rare-shingle inverted index (df ≤ 20 guard), verification is
    * the exact intersection over candidates' 60-bit-hashed distinct
    * shingle sets; hash-checked end to end (the oracle replays the
    * planted corpus, the hash, the df cap, and both directional
    * containments). */
  def q_dup_containment(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
    val ws = split(col("text"), " ")
    val halves = t(s, dir, "documents").filter(col("doc_id") < 20)
      .select((col("doc_id") + 1000000000L).as("doc_id"),
        array_join(slice(ws, lit(1),
          ceil(size(ws).cast("double") / 2).cast("int")), " ").as("text"))
    Dedup.containmentPairs(docs.unionByName(halves))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** ExactSubstr-style repeated spans ([[Dedup.repeatedSpans]]):
    * maximal ≥10-token spans whose every 10-gram repeats corpus-wide
    * — the removal unit for verbatim boilerplate that document-level
    * near-dup can't see. Hash-checked end to end (grams and spans
    * travel as md5). */
  def q_substr_spans(s: SparkSession, dir: String): DataFrame =
    Dedup.repeatedSpans(t(s, dir, "documents"), n = 10)
      .orderBy(col("doc_id"), col("tok_start"))

  /** The removal half of ExactSubstr dedup
    * ([[Dedup.removeRepeatedSpans]]): each repeated span keeps its
    * globally first occurrence; every other document loses those
    * tokens. One row per document with before/after counts and the
    * cleaned-stream md5 — hash-checked. */
  def q_substr_dedup(s: SparkSession, dir: String): DataFrame =
    Dedup.removeRepeatedSpans(t(s, dir, "documents"), n = 10)
      .orderBy(col("doc_id"))

  /** n-gram Jaccard similarity above threshold. */
  def q_ngram_jaccard(s: SparkSession, dir: String): DataFrame =
    Dedup.ngramJaccard(t(s, dir, "documents").filter(col("doc_id") < 100),
      minJaccard = 0.2)
      .orderBy(col("doc_a"), col("doc_b"))

  /** MinHash banding RECALL evaluation — the [[q_ann_recall]] of the
    * dedup stack: exact shingle-Jaccard truth pairs (doc_id < 500,
    * the bounded brute twin) bucketed by integer threshold
    * (100·inter ≥ pct·union — zero float in the predicate), each
    * bucket reporting how many truth pairs the 8-hash/4-band LSH
    * candidates recovered. The curve a curator reads before trusting
    * banding at a Jaccard cutoff: recall rises with the threshold
    * (4 bands of 2 hashes catch ≥0.5-Jaccard pairs with prob
    * 1−(1−j²)⁴). Exact integers end to end; recall in microunits. */
  def q_minhash_recall(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents").filter(col("doc_id") < 500)
    val truth = Dedup.ngramJaccard(docs, minJaccard = 0.2)
    // candidate leg from the SAVED signature index (r20): the inline
    // form re-ran the shingle → md5-min signature pipeline per run to
    // produce the band keys the index already stores. Per-doc band
    // keys are independent of the rest of the corpus and both forms
    // end in the same candidatePairs().distinct(), so filtering the
    // index to doc_id < 500 yields the identical candidate set
    // (saveSignatureIndex's value-identity contract); the inline
    // pipeline's cost stays priced by q_ngram_jaccard/q_near_dup_lsh.
    val cand = Dedup.candidatesFromIndex(
        s.read.parquet(Dedup.ensureSavedSignatureIndex(
            t(s, dir, "documents"), dir,
            epoch = tableEpoch(s, dir, "documents")))
          .filter(col("doc_id") < 500))
      .select(col("doc_a"), col("doc_b"), lit(1).as("found"))
    truth.join(cand, Seq("doc_a", "doc_b"), "left")
      .withColumn("found", coalesce(col("found"), lit(0)))
      .select(col("*"),
        explode(array(Seq(20, 30, 40, 50).map(lit): _*)).as("pct"))
      .filter(col("inter") * 100 >=
        col("pct") * (col("size_a") + col("size_b") - col("inter")))
      .groupBy(col("pct"))
      .agg(count(lit(1)).as("n_true"),
        sum(col("found")).cast("long").as("n_found"))
      .withColumn("recall_micro", expr("(1000000 * n_found) div n_true"))
      .orderBy(col("pct"))
  }

  /** SimHash near-dup candidates (md5 bit math — oracle-checked; the
    * DuckDB side reconstructs the digest bits from the hex string). */
  def q_simhash_candidates(s: SparkSession, dir: String): DataFrame =
    // 11/60 bits ≈ the old 6/32 selectivity on the pre-r10 hash width
    Dedup.simhashCandidates(t(s, dir, "documents"), maxHamming = 11)
      .orderBy(col("doc_a"), col("doc_b"))

  // ===== text analysis =====

  /** Language ID (stopword heuristic). */
  def q_lang_id(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.withDetectedLang(t(s, dir, "documents"))
      .select(col("doc_id"), col("pred_lang"))
      .sortedOnce("q_lang_id")(col("doc_id"))

  /** Quality scoring (single-pass staged form — same values as the
    * per-Column API, each regex evaluated once per row). */
  def q_quality_score(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.withQuality(t(s, dir, "documents"))
      .select(col("doc_id"), col("n_tokens"), col("punct_ratio"),
        col("digit_ratio"), col("stopword_ratio"), col("quality"))
      .sortedOnce("q_quality_score")(col("doc_id"))

  /** Gopher/MassiveText hard-threshold quality rules
    * ([[textan.TextAnalysis.gopherRules]], Rae et al. 2021 App. A1.1)
    * — word-count bounds, mean word length, symbol ratio,
    * bullet/ellipsis line fractions, alpha-word fraction, stopword
    * probe; metrics + the conjunction `pass`. Complements
    * [[q_quality_score]]'s soft composite with the named filter set
    * pretraining pipelines actually gate on. Zero shuffle; every
    * ratio divides the same two exact integers in both engines, so
    * the raw-double threshold comparisons replay identically. */
  def q_gopher_rules(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.gopherRules(t(s, dir, "documents"))
      .select(col("doc_id"), col("n_words"), col("mean_word_len"),
        col("symbol_ratio"), col("bullet_frac"), col("ellipsis_frac"),
        col("alpha_frac"), col("n_stop_hits"), col("pass"))
      .sortedOnce("q_gopher_rules")(col("doc_id"))

  /** Frozen linear-classifier corpus filter
    * ([[textan.TextAnalysis.classifierScore]]): hashing-trick
    * unigram+bigram features folded to an exact integer weight sum
    * per document, one division for the mean score, threshold
    * decision — the quality/toxicity-classifier gate (CCNet/C4/
    * Gopher-style) as a pure map over the corpus scan: no joins, no
    * shuffles, no weight table. */
  def q_classifier_filter(s: SparkSession, dir: String): DataFrame =
    textan.TextAnalysis.classifierScore(t(s, dir, "documents"))
      .select(col("doc_id"), col("n_features"), col("score"), col("keep"))
      .sortedOnce("q_classifier_filter")(col("doc_id"))

  /** Corpus DATACARD — the per-(lang, source) report every released
    * training set ships (counts, token/char volumes, mean quality,
    * corpus share). One grouped aggregate over the scored scan; the
    * quality mean uses the integer-MICROUNIT reduction (per-doc
    * `floor(quality·1e6 + 0.5)` summed exactly, ONE division at the
    * end) so the aggregate is order-free and bit-replayable — a
    * float `avg()` would depend on partition order. The corpus total
    * joins back as a broadcast 1-row frame, not an unpartitioned
    * window. */
  def q_datacard(s: SparkSession, dir: String): DataFrame = {
    val d = TextAnalysis.withQuality(t(s, dir, "documents"))
      .withColumn("qm",
        floor(col("quality") * lit(1000000.0) + 0.5).cast("long"))
    val g = d.groupBy(col("lang"), col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).cast("long").as("total_tokens"),
        sum(col("n_chars")).cast("long").as("total_chars"),
        sum(col("qm")).as("sqm"))
    val tot = g.agg(sum(col("n_docs")).as("total"))
    g.crossJoin(broadcast(tot))
      .select(col("lang"), col("source"), col("n_docs"),
        col("total_tokens"), col("total_chars"),
        round(col("sqm").cast("double") / lit(1000000.0) / col("n_docs"), 6)
          .as("avg_quality"),
        round(col("n_docs").cast("double") / col("total"), 6)
          .as("doc_share"))
      .orderBy(col("lang"), col("source"))
  }

  /** Token counting (F7). */
  def q_token_count(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .select(col("doc_id"), Tok.tokenCount(col("text")).as("n_tokens"),
        col("n_chars"))
      .sortedOnce("q_token_count")(col("doc_id"))

  /** BPE-lite subword token counts over the REAL corpus, hash-checked
    * via a fixed-k merge unroll (k = 8): training runs exactly 8
    * rounds — no convergence test — so the DuckDB oracle unrolls the
    * same 8 pair-count → argmax((-count, left, right)) rounds and
    * replays encoding with boundary-safe double-space patterns
    * (' a  b ' can only ever match a true adjacent symbol pair,
    * unlike the naive space-join which can false-match across symbol
    * boundaries on an arbitrary vocabulary). The learned merge
    * sequence is emitted alongside, so the training decisions
    * themselves are hash-pinned, like q_bpe_crafted. */
  def q_bpe_tokens(s: SparkSession, dir: String): DataFrame =
    bpeTokenSignals(t(s, dir, "documents"),
      mergeKey = Some((s"bpe-$dir", tableEpoch(s, dir, "documents"))))

  /** [[q_bpe_tokens]]'s engine. The ORACLE-checked row trains on the
    * FULL vocabulary (the DuckDB side has no top-N sample) with the
    * fully distributed trainer: per round one pair-count aggregate,
    * ≤ 16 rows to the driver — the vocabulary itself never leaves
    * the executors.
    *
    * Encoding: sub-threshold documents use the per-row broadcast-
    * merges UDF; documents over `splitChars` (one row = one serial
    * encode task — the last r11 row-skew kernel still giant-serial)
    * take [[graft.text.BpeLite.tokenCountsExploded]] — word-exploded,
    * distinct-(doc, word) reduced, each word encoded once — which is
    * bit-identical by the encode-concatenates-words identity. The
    * tracked persist BETWEEN encode and the output sort keeps the
    * range-partitioner's sampling pass from re-executing the encode
    * (the r12 in-situ attribution: the giant used to encode twice,
    * 26.0 s vs 13.6 s of phases). */
  private[graft] def bpeTokenSignals(docs: DataFrame,
      splitChars: Long = RepetitionSplitChars,
      mergeKey: Option[(String, Option[String])] = None): DataFrame = {
    // r20: with a (cacheKey, epoch) voucher the 8-round distributed
    // trainer runs once per corpus version (BpeLite.ensureTrainedMerges
    // — the saved-index discipline applied to the tokenizer artifact);
    // q_bpe_tokens and q_tokenizer_fertility each re-trained per run.
    // The learned sequence is the memo'd value itself, so the emitted
    // `merges` column — and every oracle — is unchanged.
    val merges = mergeKey match {
      case Some((k, e)) =>
        graft.text.BpeLite.ensureTrainedMerges(docs, k, e, numMerges = 8)
      case None => graft.text.BpeLite.trainDistributed(docs, numMerges = 8)
    }
    bpeEncodeSignals(docs, merges, splitChars, "q_bpe_tokens")
  }

  /** The ENCODE half of [[bpeTokenSignals]], under a caller-supplied
    * merge table — shared by the trained path (q_bpe_tokens) and the
    * external real-vocab path (q_bpe_real_vocab), so both run the
    * identical per-row / giant-exploded routing. */
  private def bpeEncodeSignals(docs: DataFrame,
      merges: Vector[(String, String)], splitChars: Long,
      tag: String): DataFrame = {
    val mergesStr = merges.map { case (a, b) => s"$a+$b" }.mkString(",")
    def perRow(d: DataFrame) = d.select(col("doc_id"),
      graft.text.BpeLite.tokenCountCol(merges).as("n_bpe_tokens"),
      // null text == empty text: encode(null) is already Vector.empty,
      // so the regex count coalesces to 0 to match
      coalesce(Tok.tokenCount(col("text")), lit(0)).as("n_regex_tokens"),
      lit(mergesStr).as("merges"))
    val giants = docs.filter(col("n_chars") > splitChars)
    val out =
      if (giants.isEmpty) perRow(docs)
      else perRow(docs.filter( // null n_chars routes per-row, not dropped
          graft.text.chunk.DocSplit.subThreshold(col("n_chars"), splitChars)))
        // BOTH giant counts ride one whitespace-snapped piece fan-out
        // ([[graft.text.BpeLite.giantSignals]]): the r14 row-skew
        // residual was two SERIAL single-task passes over the giant
        // (the 7 M-word split array and the full-text regex count),
        // not the merge loop
        .unionByName(giants.select(col("doc_id"))
          .join(graft.text.BpeLite.giantSignals(giants, merges),
            Seq("doc_id"), "left")
          .select(col("doc_id"),
            coalesce(col("n_bpe_tokens"), lit(0)).as("n_bpe_tokens"),
            // null text == empty text, both branches (a null-text row
            // can still land HERE when a caller supplies n_chars)
            coalesce(col("n_regex_tokens"), lit(0)).as("n_regex_tokens"),
            lit(mergesStr).as("merges")))
    out.sortedOnce(tag)(col("doc_id"))
  }

  /** BPE encode under the COMMITTED external vocabulary
    * ([[graft.text.BpeLite.fixtureMerges]], standard merges.txt
    * format) — the oracle-checked last step of the real-tokenizer
    * seam: q_bpe_tokens proves the TRAINER, BpeVocabSeamSpec proves
    * trained == parsed interchangeability, and this row proves the
    * corpus encodes correctly under a vocabulary the engine never
    * trained (the production shape — published tokenizers ship
    * merges.txt; nobody retrains per corpus). Encoding and routing
    * are byte-shared with q_bpe_tokens ([[bpeEncodeSignals]]); the
    * oracle replays the same parsed pairs as injected replace
    * literals in rank order. */
  def q_bpe_real_vocab(s: SparkSession, dir: String): DataFrame =
    bpeEncodeSignals(t(s, dir, "documents"),
      graft.text.BpeLite.fixtureMerges, RepetitionSplitChars,
      "q_bpe_real_vocab")

  /** Gopher-style repetition signals (Rae et al. 2021, MassiveText
    * quality rules §A1.1, adapted to token n-grams — the fixture
    * corpus has no line structure): per document and for each
    * n ∈ {2,3,4}, the fraction of n-gram occurrences whose n-gram
    * repeats (`dup_{n}gram_frac`) and the most-frequent-n-gram share
    * (`top_{n}gram_frac`), plus the distinct-token ratio — the full
    * dup-n-gram family Gopher thresholds on, not just its smallest
    * member. ONE corpus scan and ZERO aggregation state: every signal
    * is a function of a single document's own tokens, so the
    * occurrence counts are taken per ROW by the native
    * [[graft.text.RepetitionCounts]] kernel — one pass over the
    * token array per gram size, counts in a document-bounded hash
    * map, exact integers out. The r10 form exploded 3 gram sizes
    * into a corpus ×3 stream and hash-aggregated per (doc, n, gram);
    * that per-partition hash map grows with the corpus and was the
    * engine's worst ratio in the r10 10× scale probe (4.41×). An intermediate
    * r11 form (sorted gram arrays + `aggregate` run-length HOF
    * folds) fixed the state problem but paid interpreted-lambda
    * dispatch per gram — slower per row than the aggregate it
    * replaced; the native kernel keeps the scan → project plan (the
    * only exchanges on the sub-threshold path are the loader spread
    * + output sort, plan-gated in QueriesSpec) at a per-row cost
    * that is genuinely O(doc). r12 adds the GIANT-document split
    * branch (the worst r11 row-skew exponent at 11.2×): documents
    * over [[RepetitionSplitChars]] — none in any fixture, routed by
    * the pushable `n_chars` column — slice their token array into
    * parts and count grams partition-parallel; see
    * [[repetitionSignals]]. Fraction arithmetic and rounding stay in
    * Column-land, so values, the oracle, and hashes are unchanged. */
  def q_repetition(s: SparkSession, dir: String): DataFrame =
    repetitionSignals(t(s, dir, "documents"))

  /** Characters above which a document leaves [[graft.text.StrExpr
    * .RepetitionCounts]]'s per-row kernel for the split path: 2 Mchar
    * (~300k tokens) is far above any fixture document and well below
    * where a one-task gram count starts to straggle. */
  private[graft] val RepetitionSplitChars = 1L << 21

  /** Char stride of one split piece — the per-task tokenize+gram-
    * count unit (~512 Kchar ≈ 75k tokens → ≤ 300k map entries per
    * task; a 50 MB giant fans ~100 ways). r14: the split unit moved
    * from token-array slices to TEXT pieces ([[graft.text.Tok
    * .lookaheadPieces]]) because the r13 profile attributed 4.4 s of
    * the 13 s giant wall to the single-task `regexp_extract_all`
    * tokenize feeding the slicer — cutting text first makes the
    * tokenize itself partition-parallel. */
  private[graft] val RepetitionPieceChars = 1 << 19

  /** [[q_repetition]]'s engine: Gopher repetition signals with the
    * giant-document split. Documents at or under `splitChars` take
    * the per-row native kernel (zero aggregation state — the right
    * shape for a normal corpus); documents OVER it — one row, one
    * task, the worst r11 row-skew exponent at 11.2× — cut their TEXT
    * into `pieceChars`-stride whitespace-snapped pieces, each piece
    * carrying its 3-token lookahead from the cutter
    * ([[graft.text.Tok.lookaheadPieces]]), tokenize AND count grams
    * per piece in parallel ([[graft.text.StrExpr.partGramCounts]]),
    * and merge with (doc, n, gram) / (doc, n) aggregates whose state
    * is bounded by the giant documents' distinct grams and spread
    * across the shuffle. The composition is EXACT (each global gram
    * start is counted by exactly one piece — its owner; the
    * lookahead supplies the cross-cut tail), so both branches emit identical
    * signals for the same document and sub-threshold corpora — every
    * fixture — are bit-identical to the unsplit form; the routing
    * predicate is the pushable `n_chars` storage column, so the
    * giant branch prunes to nothing at the parquet scan when no
    * giant exists. */
  private[graft] def repetitionSignals(docs: DataFrame,
      splitChars: Long = RepetitionSplitChars,
      pieceChars: Int = RepetitionPieceChars): DataFrame = {
    // dup-occurrences = total − singletons, top share = max frequency
    // / total — the per-(doc, gram) COUNT(*) family, from flat
    // t/d/s/m columns so both branches share one output projection.
    def out(flat: DataFrame): DataFrame =
      flat.select(Seq(col("doc_id"), col("n_tokens"),
        round(col("d1").cast("double") /
          greatest(col("n_tokens"), lit(1)), 6).as("distinct_ratio")) ++
        (2 to 4).flatMap { n =>
          val total = col(s"t$n")
          Seq(
            round((total - col(s"s$n")).cast("double") /
              greatest(total, lit(1L)), 6).as(s"dup_${n}gram_frac"),
            round(col(s"m$n").cast("double") /
              greatest(total, lit(1L)), 6).as(s"top_${n}gram_frac"))
        }: _*)

    // null-text rows coalesce to an empty token array BEFORE the
    // kernel: repetitionCounts(null) is null, and null-propagated
    // fractions would diverge from the r10 aggregate form (whose
    // otherwise-branches emitted 0.0) and from the oracle's
    // coalesce(...)/greatest(...) zeros — the fixture has no null
    // texts, but the operator shouldn't change shape if one appears
    def tokensOf(d: DataFrame) = d.select(col("doc_id"),
        coalesce(Tok.tokens(col("text")),
          array().cast("array<string>")).as("ts"))
      .withColumn("n_tokens", size(col("ts")))

    def perRow(d: DataFrame) = out(tokensOf(d)
      .withColumn("rc", graft.text.StrExpr.repetitionCounts(col("ts")))
      .select(Seq(col("doc_id"), col("n_tokens")) ++
        (1 to 4).flatMap(n => Seq("t", "d", "s", "m").map(p =>
          col("rc").getField(s"$p$n").as(s"$p$n"))): _*))

    // no giant → the r11 single-branch plan, bit for bit: the
    // all-small corpus pays one existence probe (row-group stats
    // answer the pushed n_chars predicate without reading data)
    // instead of a dead union branch in every run's plan
    if (docs.filter(col("n_chars") > splitChars).isEmpty)
      return perRow(docs).sortedOnce("q_repetition")(col("doc_id"))

    val small = perRow(docs.filter( // null n_chars routes per-row
      graft.text.chunk.DocSplit.subThreshold(col("n_chars"), splitChars)))

    // r14 giant fan-out: cut the TEXT first (whitespace-snapped
    // pieces, each carrying its 3-token lookahead from the cutter —
    // Tok.lookaheadPieces), so the tokenize runs per piece in
    // parallel instead of once per 50 MB row; a gram starting in a
    // piece reads its cross-cut tail from `look`, so every global
    // gram start is counted exactly once. The explicit partition
    // count pins AQE away from coalescing the compute-dense pieces
    // back together (the DocSplit discipline).
    val pieceUdf = udf((text: String) =>
      graft.text.Tok.lookaheadPieces(text, pieceChars, 3))
    val nsp = docs.sparkSession.sessionState.conf.numShufflePartitions
    val gramRows = docs.filter(col("n_chars") > splitChars)
      .select(col("doc_id"),
        posexplode(pieceUdf(col("text"))).as(Seq("p", "pc")))
      .repartition(nsp, col("doc_id"), col("p"))
      .select(col("doc_id"),
        Tok.tokens(col("pc.piece")).as("ts"), col("pc.look").as("look"))
      .select(col("doc_id"),
        concat(col("ts"), col("look")).as("pts"),
        size(col("ts")).as("valid"))
      // explode_OUTER + n=0 sentinel: a token-less giant (n_chars
      // over the threshold, zero regex tokens) yields an empty count
      // array, and a plain explode would drop the document from the
      // output entirely; the sentinel survives to the doc_id pivot,
      // where n ∈ 1..4 reads coalesce to all-zero signals — the same
      // row the per-row branch emits for an empty document
      .select(col("doc_id"),
        explode_outer(graft.text.StrExpr.partGramCounts(
          col("pts"), col("valid"))).as("g"))
      .select(col("doc_id"), coalesce(col("g.n"), lit(0)).as("n"),
        coalesce(col("g.h1"), lit(0L)).as("h1"),
        coalesce(col("g.h2"), lit(0L)).as("h2"),
        coalesce(col("g.cnt"), lit(0L)).as("cnt"))
    val perN = gramRows
      .groupBy(col("doc_id"), col("n"), col("h1"), col("h2"))
      .agg(sum(col("cnt")).as("c"))
      .groupBy(col("doc_id"), col("n"))
      .agg(sum(col("c")).as("t"), count(lit(1)).as("d"),
        coalesce(sum(when(col("c") === 1, lit(1L))), lit(0L)).as("sg"),
        max(col("c")).as("m"))
    val pivotCols = (1 to 4).flatMap { n =>
      Seq("t" -> "t", "d" -> "d", "sg" -> "s", "m" -> "m").map {
        case (src, dst) =>
          coalesce(max(when(col("n") === n, col(src))), lit(0L))
            .as(s"$dst$n")
      }
    }
    val giant = out(perN.groupBy(col("doc_id"))
      .agg(pivotCols.head, pivotCols.tail: _*)
      // total unigrams IS the token count (t1 = L − 1 + 1)
      .withColumn("n_tokens", col("t1").cast("int")))

    small.unionByName(giant).sortedOnce("q_repetition")(col("doc_id"))
  }

  /** BPE oracle-checked — merge LEARNING + encoding replayed in SQL
    * on a crafted corpus (the corpus-wide [[q_bpe_tokens]] stays
    * rows-only: unbounded merge rounds aren't SQL-expressible; its
    * golden spec still pins the full path). Word multiset is built so
    * both merge rounds have UNIQUE maxima — (a,b) at 7 then (a,ab) at
    * 4 — and no learned pattern can false-match across symbol
    * boundaries, so DuckDB replays train (two unrolled rounds of
    * pair-count → argmax with the (-count, left, right) tie rule) and
    * encode (ordered left-to-right non-overlapping merges = string
    * replace on space-joined symbols) exactly. Emits the learned
    * merge sequence alongside the per-doc subword counts, so the
    * TRAINING decision itself is hash-checked, not just the counts. */
  def q_bpe_crafted(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val df = Seq(
      (1L, "aab ab aab cd"),
      (2L, "ab ab cd aab"),
      (3L, "aab bd")).toDF("doc_id", "text")
    val merges = graft.text.BpeLite.train(
      graft.text.BpeLite.wordCounts(df), numMerges = 2)
    val mergesStr = merges.map { case (a, b) => s"$a+$b" }.mkString(",")
    df.select(col("doc_id"),
        graft.text.BpeLite.tokenCountCol(merges).as("n_bpe_tokens"),
        lit(mergesStr).as("merges"))
      .orderBy(col("doc_id"))
  }

  /** Unicode NFC normalization ([[graft.textan.Scrub.normalizeNfc]])
    * on a crafted multi-form fixture: decomposed e+◌́ composes to é,
    * A+◌̊ /o+◌̈ compose to Å/ö, composed text and plain ASCII pass
    * through, the ﬁ ligature survives (NFC is canonical, not
    * compatibility). The md5 of the normalized text proves composed
    * and decomposed spellings now fingerprint identically — the
    * pre-dedup normalization contract. DuckDB replays via
    * `nfc_normalize` (same Unicode standard as java.text.Normalizer).
    */
  def q_normalize_nfc(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val df = Seq(
      (1L, "cafe\u0301"),          // decomposed: e + combining acute
      (2L, "caf\u00e9"),           // composed form of the same word
      (3L, "A\u030Angstro\u0308m"), // A+ring, o+diaeresis (decomposed)
      (4L, "plain ascii text"),
      (5L, "\uFB01le"),            // fi ligature: NFC keeps it
      (6L, "")).toDF("doc_id", "text")
    val norm = graft.textan.Scrub.normalizeNfc(col("text"))
    df.select(col("doc_id"),
        length(col("text")).as("n_chars_raw"),
        length(norm).as("n_chars_nfc"),
        md5(norm).as("nfc_md5"),
        (col("text") =!= norm).cast("int").as("changed"))
      .orderBy(col("doc_id"))
  }

  /** Unigram-LM log-probability scoring — the CCNet-style quality
    * proxy: score each document by the mean ln(count/total) of its
    * tokens under the corpus's own unigram model. Model fit is ONE
    * vocabulary aggregate (bounded by vocabulary, not corpus); the
    * corpus total is a single broadcast row; scoring is a term-keyed
    * join. Repetitive/templated docs full of frequent tokens score
    * HIGH, rare-token noise scores LOW — threshold either tail.
    *
    * Determinism: a raw avg(ln(...)) accumulates doubles in
    * partition- and engine-dependent order, which can flip the 4th
    * decimal on a rounding boundary. Instead each (doc, term)
    * contributes m·ln(cnt/total) scaled to an integer microunit —
    * whole-valued doubles add EXACTLY in any order — and the mean is
    * taken once at the end: a fixed reduction both engines replay
    * bit-identically. */
  def q_unigram_logprob(s: SparkSession, dir: String): DataFrame =
    unigramLogprobPerDoc(s, dir).orderBy(col("doc_id"))

  /** The unigram-LM scoring pipeline behind [[q_unigram_logprob]]
    * (unordered), shared with [[q_quality_buckets]]'s CCNet-style
    * bucketing so both rows replay the identical model. */
  private def unigramLogprobPerDoc(s: SparkSession, dir: String): DataFrame = {
    val toks = t(s, dir, "documents")
      .select(col("doc_id"), explode(Tok.tokens(lower(col("text")))).as("term"))
    // ONE explode of the corpus (r10): the scoring join, the vocab
    // rollup, and the corpus total all derive from the per-(doc, term)
    // counts, persisted once. (An exchange-reuse form doesn't exist
    // here: the table loader pre-partitions by doc_id, so the
    // (doc_id, term) aggregate is exchange-FREE and each branch would
    // replay the explode.) The persisted frame is the aggregate —
    // |distinct (doc, term)| rows, far smaller than the token stream.
    // sum(m) == count(rows) per term, exactly, so cnt (and every
    // downstream hash) is unchanged.
    val perDoc = toks.groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("m"))
      .persistTracked("lm.unigram_perdoc")
    val vocab = perDoc.groupBy(col("term"))
      .agg(sum(col("m")).cast("double").as("cnt"))
    val total = vocab.agg(sum(col("cnt")).as("total"))
    perDoc
      .join(vocab, "term")
      .crossJoin(broadcast(total))
      .withColumn("contrib_u",
        round(col("m") * log(col("cnt") / col("total")) * 1e6))
      .groupBy(col("doc_id"))
      .agg(sum(col("m")).as("n_tokens"),
        round(sum(col("contrib_u")) / (sum(col("m")) * 1e6), 4).as("avg_logprob"))
  }

  /** Per-domain quota capping — the web-corpus boilerplate control
    * every large-scale pipeline runs (cap how much any one site
    * contributes): keep the top-K = 8 documents per `source` by the
    * composite quality score ([[graft.textan.TextAnalysis
    * .withQuality]], the same score q_quality_score hash-checks),
    * doc_id as the deterministic tiebreak. The corpus passes ONCE
    * through the bounded-heap [[graft.plans.TopKPerKey]] operator
    * (k·|domains| heap state, no per-domain full sort); the
    * row_number window then ranks only the ≤ K survivors per domain.
    * Oracle: the quality replay joined to `source`, ranked by the
    * identical (quality DESC, doc_id) window. */
  def q_domain_quota(s: SparkSession, dir: String): DataFrame = {
    val K = 8
    val scored = graft.textan.TextAnalysis
      .withQuality(t(s, dir, "documents"))
      .select(col("doc_id"), col("source"), col("quality"))
    val kept = graft.plans.TopKPerKey(scored, Seq(col("source")),
      Seq(col("quality").desc, col("doc_id")), K)
    val w = Window.partitionBy(col("source"))
      .orderBy(desc("quality"), col("doc_id"))
    kept.withColumn("rank", row_number().over(w))
      .select(col("source"), col("rank"), col("doc_id"), col("quality"))
      .orderBy(col("source"), col("rank"))
  }

  /** CCNet-style quality bucketing (Wenzek et al. 2020, public):
    * split the corpus into head/middle/tail terciles of the
    * unigram-LM score ([[unigramLogprobPerDoc]] — the identical
    * model q_unigram_logprob hash-checks). Tercile thresholds come
    * from a FIXED 4096-bin histogram over logprob ∈ [−20, 0] in one
    * aggregate — the [[graft.text.chunk.SemanticChunker]] threshold
    * discipline: the driver receives ≤ 4096 (bin, count) rows
    * regardless of corpus size, never a sorted corpus, and no
    * unpartitioned window exists in the plan (a global ntile would
    * be one). Head = the highest observed bins whose cumulative
    * count fits n/3, tail symmetric from below, middle the rest —
    * monotone suffix/prefix sums on the bin table, so DuckDB replays
    * the same thresholds with two ≤ 4096-row window sums. Bin step
    * 20/4096 is exactly representable in binary, so binning is
    * bit-stable across engines. */
  def q_quality_buckets(s: SparkSession, dir: String): DataFrame = {
    val B = 4096
    val step = 20.0 / B // exact: 5/1024
    val lp = unigramLogprobPerDoc(s, dir)
      .withColumn("bin",
        least(greatest(floor((col("avg_logprob") + 20.0) / step), lit(0)),
          lit(B - 1)).cast("int"))
      .persistTracked("quality.buckets")
    val hist = lp.groupBy(col("bin")).agg(count(lit(1)).as("c"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).sortBy(-_._1)
    val n = hist.map(_._2).sum
    val third = n / 3
    var cumH = 0L; var bHead = B; var i = 0
    while (i < hist.length && cumH + hist(i)._2 <= third) {
      cumH += hist(i)._2; bHead = hist(i)._1; i += 1
    }
    var cumT = 0L; var bTail = -1; var j = hist.length - 1
    while (j >= 0 && cumT + hist(j)._2 <= third) {
      cumT += hist(j)._2; bTail = hist(j)._1; j -= 1
    }
    lp.select(col("doc_id"), col("n_tokens"), col("avg_logprob"), col("bin"),
        when(col("bin") >= bHead, lit("head"))
          .when(col("bin") <= bTail, lit("tail"))
          .otherwise(lit("middle")).as("bucket"))
      .orderBy(col("doc_id"))
  }

  /** Interpolated bigram language-model scoring — the perplexity-
    * style quality filter CCNet-class pipelines run (Wenzek et al.
    * 2020, public): per document, the mean log-probability of its
    * bigrams under a corpus-trained interpolated model
    * p(b|a) = 0.7·c_ab/c_a + 0.3·c_b/N (Jelinek-Mercer smoothing —
    * closed-form counts, no EM, so fully oracle-replayable). Bigrams
    * come from a pos/pos+1 OFFSET equi-join (the q_pmi_pairs
    * discipline — never a per-doc cross join); the per-doc mean uses
    * the q_unigram_logprob integer-microunit trick: each
    * (doc, bigram-type) contribution is rounded to an integer at 1e6
    * scale, so the final sum is order-free across partitions and
    * engines. Model state is vocabulary-bounded (V + V² counts, in
    * practice the observed-bigram set); docs with fewer than 2
    * tokens have no bigrams and drop out, matching the oracle's
    * GROUP BY. */
  def q_bigram_logprob(s: SparkSession, dir: String): DataFrame = {
    // Tokenize-twice, AGGREGATE-ONCE (r10): the unigram-count branch
    // and the lag-window bigram branch genuinely need different
    // physical shapes (tok-keyed agg vs doc-ordered window), and
    // persisting the raw token stream to bridge them costs MORE than
    // the second explode (measured 1.6 s -> 5.1 s at sf0.1 — the
    // (doc_id, pos, tok) materialization dwarfs the regexp replay).
    // What IS shared is everything downstream: the vocabulary-sized
    // unigram counts (read 3x: c_a, c_b, n_toks) and the per-(doc,
    // a, b) bigram counts (read 2x: model fit + scoring) are each
    // persisted once, so no window or explode replays per consumer.
    val toks = t(s, dir, "documents")
      .select(col("doc_id"),
        posexplode(Tok.tokens(lower(col("text")))).as(Seq("pos", "tok")))
    val uc = toks.groupBy(col("tok"))
      .agg(count(lit(1)).cast("double").as("c_t"))
      .persistTracked("lm.bigram_uc")
    val nt = uc.agg(sum(col("c_t")).as("n_toks"))
    // bigrams via a per-doc lag window — one doc_id exchange, vs the
    // positional self-join's two shuffles of the whole token table
    val wDoc = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("pos"))
    val bi = toks
      .withColumn("a", lag(col("tok"), 1).over(wDoc))
      .filter(col("a").isNotNull)
      .select(col("doc_id"), col("a"), col("tok").as("b"))
    val perBi = bi.groupBy(col("doc_id"), col("a"), col("b"))
      .agg(count(lit(1)).as("m"))
      .persistTracked("lm.bigram_perbi")
    // sum(m) over docs == count(bi rows) per (a, b), exactly — the
    // model counts (and every downstream hash) are unchanged
    val bc = perBi.groupBy(col("a"), col("b"))
      .agg(sum(col("m")).cast("double").as("c_ab"))
    perBi
      .join(bc, Seq("a", "b"))
      .join(uc.select(col("tok").as("a"), col("c_t").as("c_a")), "a")
      .join(uc.select(col("tok").as("b"), col("c_t").as("c_b")), "b")
      .crossJoin(broadcast(nt))
      .withColumn("contrib",
        round(col("m") * log(lit(0.7) * (col("c_ab") / col("c_a"))
          + lit(0.3) * (col("c_b") / col("n_toks"))) * 1e6))
      .groupBy(col("doc_id"))
      .agg(sum(col("m")).as("n_bigrams"),
        round(sum(col("contrib")) / (sum(col("m")) * 1e6), 4).as("avg_logprob"))
      .orderBy(col("doc_id"))
  }

  /** Windowed PMI collocations — pointwise mutual information of
    * unordered token pairs co-occurring within ±2 positions (Church &
    * Hanks 1990, public knowledge): the classic corpus-analysis
    * signal for multi-word expressions and template boilerplate.
    * Pair generation is an OFFSET JOIN, not a per-doc cross join:
    * each position joins its +1 and +2 neighbors on (doc_id, pos+d) —
    * two narrow equi-joins' worth of rows through one shuffle, the
    * same binning discipline as the range join. PMI =
    * ln((c_ab/Np) / ((c_a/Nt)·(c_b/Nt))), rounded before ordering. */
  def q_pmi_pairs(s: SparkSession, dir: String): DataFrame = {
    val toks = t(s, dir, "documents")
      .select(col("doc_id"),
        posexplode(Tok.tokens(lower(col("text")))).as(Seq("pos", "tok")))
    // ±1/±2 co-occurrence via per-doc lag windows — each pair
    // (p−d, p) is emitted once at its right member, identical rows
    // to the offset self-join but with ONE doc_id exchange instead
    // of two token-table shuffles
    val wDoc = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("pos"))
    val lagged = toks
      .withColumn("l1", lag(col("tok"), 1).over(wDoc))
      .withColumn("l2", lag(col("tok"), 2).over(wDoc))
    val pairs = lagged
      .select(col("tok").as("rtok"),
        explode(array(col("l1"), col("l2"))).as("ltok"))
      .filter(col("ltok").isNotNull)
      .select(least(col("ltok"), col("rtok")).as("a"),
        greatest(col("ltok"), col("rtok")).as("b"))
    // pair counts are read twice (PMI join + corpus pair total) and
    // unigram counts three times (c_a, c_b, n_toks) — persist both
    // compact aggregates once or the tokenize/lag-window pipeline
    // replays per consumer (the r10 LM-scorer discipline; values and
    // hashes unchanged)
    val pc = pairs.groupBy(col("a"), col("b"))
      .agg(count(lit(1)).cast("double").as("c_ab"))
      .persistTracked("pmi.pairs")
    val uc = toks.groupBy(col("tok"))
      .agg(count(lit(1)).cast("double").as("c_t"))
      .persistTracked("pmi.unigrams")
    val np = pc.agg(sum(col("c_ab")).as("n_pairs"))
    val nt = uc.agg(sum(col("c_t")).as("n_toks"))
    pc.join(uc.select(col("tok").as("a"), col("c_t").as("c_a")), "a")
      .join(uc.select(col("tok").as("b"), col("c_t").as("c_b")), "b")
      .crossJoin(broadcast(np)).crossJoin(broadcast(nt))
      .select(col("a"), col("b"), col("c_ab").cast("long").as("n_cooc"),
        round(log((col("c_ab") / col("n_pairs")) /
          ((col("c_a") / col("n_toks")) * (col("c_b") / col("n_toks")))), 6)
          .as("pmi"))
      .orderBy(col("a"), col("b"))
  }

  /** TF-IDF keyword extraction — top-3 characteristic terms per
    * document by tf·ln(N/df), rounded before ranking, (score desc,
    * term) tiebreak: the classic per-document keyword surface.
    * Reuses the BM25 index frames (postings/dfreq/stats), so the
    * vocabulary work is the same bounded aggregates the lexical
    * retriever builds.
    *
    * PLAN: the persisted postings frame is doc_id-partitioned (its
    * aggregate rode the corpus loader's spread), and both the df join
    * and the per-doc window are arranged to KEEP that layout — dfreq
    * is broadcast (vocabulary ≪ postings; at a true web-scale
    * vocabulary swap for a term-bucketed shuffle join), so postings
    * never reshuffles by term and the doc_id window runs
    * exchange-free on the existing partitioning. One compact shuffle
    * total (dfreq's own term aggregate), vs two full-postings
    * exchanges for the naive join-then-window. */
  def q_tfidf_keywords(s: SparkSession, dir: String): DataFrame = {
    val idx = graft.text.Bm25.buildIndex(t(s, dir, "documents"))
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(desc("score"), col("term"))
    idx.postings
      .join(broadcast(idx.dfreq), "term")
      .crossJoin(broadcast(idx.stats))
      .withColumn("score",
        round(col("tf") * log(col("n_docs") / col("df")), 6))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 3)
      .select(col("doc_id"), col("rank"), col("term"), col("score"))
      .orderBy(col("doc_id"), col("rank"))
  }

  /** Corpus TOPIC DISCOVERY — k-means cells as topics, labeled by
    * their top TF-IDF terms: the "what is in my corpus" report a
    * training-data curator runs before choosing mixture weights
    * (the cluster-then-describe recipe of WIMBD-style corpus audits
    * and SemDeDup's cell view, composed from two already-audited
    * fits). Cells come from the SAME epoch'd saved bounded index as
    * q_topk_ivf, and the term side serves from the SAME epoch'd
    * saved BM25 index as q_bm25_indexed (build once per corpus
    * version, describe many — the report never re-tokenizes the
    * corpus; postings read back is the token volume, and the one
    * (cell, term) aggregate shuffles only the cell-joined counts).
    * Terms rank
    * by LIFT — cell-relative frequency over corpus-relative
    * frequency — which surfaces what a cell OVER-represents even
    * when every term occurs in every cell (where tf·idf saturates
    * to zero); a ctf ≥ 5 support floor keeps one-off terms from
    * posting infinite-looking lifts. Top-5 per cell via the
    * bounded-heap [[graft.plans.TopKPerKey]] — no per-cell sort of
    * the full vocabulary. Every count is exact-integer, lift divides
    * the same exact ints in the same association both engines, and
    * the score rounds before ranking, so the DuckDB replay (shared
    * k-means CTEs + the postings chain) hash-matches. */
  def q_kmeans_topics(s: SparkSession, dir: String): DataFrame = {
    val nCells = 8
    val emb = t(s, dir, "embeddings")
    val path = vector.Ivf.ensureSavedBoundedIndex(emb, nCells = nCells,
      rounds = 2, cacheKey = s"ivf-bounded-$dir",
      epoch = tableEpoch(s, dir, "embeddings"))
    val (assigned, _) = vector.Ivf.loadIndex(s, path)
    val cells = assigned.select(col("vec_id").as("doc_id"), col("cell"))
    val bm25Path = graft.text.Bm25.ensureSavedIndex(
      t(s, dir, "documents"), dir, epoch = tableEpoch(s, dir, "documents"))
    val idx = graft.text.Bm25.loadIndex(s, bm25Path)
    val ctf = idx.postings.join(cells, "doc_id")
      .groupBy(col("cell"), col("term"))
      .agg(sum(col("tf")).cast("long").as("ctf"))
      .persistTracked("topics.ctf")
    val gtf = ctf.groupBy(col("term"))
      .agg(sum(col("ctf")).as("gtf"))
    val cellTot = ctf.groupBy(col("cell"))
      .agg(sum(col("ctf")).as("cell_tot"))
    val gTot = ctf.agg(sum(col("ctf")).as("g_tot"))
    val sizes = cells.groupBy(col("cell"))
      .agg(count(lit(1)).cast("int").as("n_docs"))
    val scored = ctf.join(gtf, "term")
      .join(broadcast(cellTot), "cell").crossJoin(broadcast(gTot))
      .filter(col("ctf") >= 5)
      .withColumn("score", round(
        (col("ctf").cast("double") / col("cell_tot")) /
          (col("gtf").cast("double") / col("g_tot")), 6))
    val top = graft.plans.TopKPerKey(scored, Seq(col("cell")),
      Seq(col("score").desc, col("term")), 5)
    val w = Window.partitionBy(col("cell"))
      .orderBy(desc("score"), col("term"))
    top.withColumn("rank", row_number().over(w))
      .join(broadcast(sizes), "cell")
      .select(col("cell"), col("n_docs"), col("rank"), col("term"),
        col("score"))
      .orderBy(col("cell"), col("rank"))
  }

  /** KMV distinct-count sketch ([[graft.rel.Sketches]]) vs the exact
    * count, in one row: estimate = (k−1)/u_k over the k smallest
    * distinct md5-uniform hashes of the corpus's token 3-SHINGLES
    * (~16k distinct at sf0.01 — a population k = 64 genuinely
    * sub-samples; the word vocabulary is only ~31 strings). Every
    * value — including the sketch CONTENT u_k — is deterministic and
    * DuckDB-replayable, unlike engine-private HLL registers. The
    * sort+limit is bounded by k rows, never the corpus. */
  def q_kmv_distinct(s: SparkSession, dir: String): DataFrame = {
    val k = graft.rel.Sketches.DefaultK
    // the shingle vocabulary is served from the saved minhash
    // signature index (its `sh` column IS the per-doc shingle array
    // over the same non-blank docs) — the corpus tokenize+shingle
    // pass runs once per corpus, shared with every dedup consumer
    val sigPath = Dedup.ensureSavedSignatureIndex(t(s, dir, "documents"), dir,
      epoch = tableEpoch(s, dir, "documents"))
    val vocab = s.read.parquet(sigPath)
      .select(explode(col("sh")).as("term"))
      .distinct()
    val hashes = vocab
      .select(graft.rel.Sketches.uniformHash(col("term")).as("u"))
      .distinct()
    val kth = hashes.orderBy(col("u")).limit(k)
      .agg(max(col("u")).as("u_k"), count(lit(1)).as("k_got"))
    val exact = vocab.agg(count(lit(1)).as("n_exact"))
    exact.crossJoin(kth)
      .select(col("n_exact"), col("k_got"), col("u_k"),
        round((col("k_got") - 1).cast("double") / col("u_k"), 4).as("estimate"),
        round(abs((col("k_got") - 1).cast("double") / col("u_k")
          - col("n_exact")) / col("n_exact"), 4).as("rel_error"))
  }

  /** HyperLogLog distinct-count sketch ([[graft.rel.Sketches]]) vs
    * the exact count, one row — the 256-register companion to
    * [[q_kmv_distinct]] over the same 3-shingle population. Unlike
    * Spark's builtin `approx_count_distinct` (engine-private HLL++
    * registers), every register here is md5-derived and therefore
    * engine-replayable: `rho_sum` pins the full sketch CONTENT, and
    * the estimate is computed from an EXACT integer register sum
    * (Σ 2^(53−ρ_j) via bigint shifts — no float accumulation order
    * to diverge across partitions or engines; the one float op is
    * the final α·m²·2^53 / S division). At 100 TB this is the
    * one-pass / 256-int-state cardinality path: a partial+final
    * max-per-register aggregate, mergeable across any number of
    * executors, vs KMV's k-row sort. Small-range correction
    * m·ln(m/V) (Flajolet et al. 2007) is guarded identically on
    * both engines (not triggered at this population). */
  def q_hll_distinct(s: SparkSession, dir: String): DataFrame = {
    val m = graft.rel.Sketches.HllRegisters
    val twoP53 = 9007199254740992L
    // shingle vocabulary served from the saved signature index —
    // same set, same hashes, shared corpus pass (see q_kmv_distinct)
    val sigPath = Dedup.ensureSavedSignatureIndex(t(s, dir, "documents"), dir,
      epoch = tableEpoch(s, dir, "documents"))
    val vocab = s.read.parquet(sigPath)
      .select(explode(col("sh")).as("term"))
      .distinct()
    // the register index PARTITIONS the vocabulary, so the exact
    // count rides the same aggregate as the registers: one distinct
    // pass, one 256-group rollup — the vocabulary is never scanned
    // twice (the plan's only corpus-sized exchange is the distinct)
    val regs = vocab
      .select(graft.rel.Sketches.hllIndex(col("term")).as("idx"),
        graft.rel.Sketches.hllRho(col("term")).as("rho"))
      .groupBy(col("idx"))
      .agg(max(col("rho")).as("mrho"), count(lit(1)).as("n_terms"))
    val agg = regs.agg(
      sum(col("n_terms")).cast("long").as("n_exact"),
      count(lit(1)).as("n_nonzero"),
      sum(col("mrho")).cast("long").as("rho_sum"),
      sum(expr("shiftleft(cast(1 as bigint), 53 - mrho)")).as("s_scaled"))
    val sTotal = (col("s_scaled")
      + (lit(m.toLong) - col("n_nonzero")) * lit(twoP53)).cast("double")
    val raw = lit(graft.rel.Sketches.HllAlphaM2Scaled) / sTotal
    val est = when(raw <= lit(2.5 * m) && col("n_nonzero") < m,
        lit(m.toDouble) * log(lit(m.toDouble)
          / (lit(m.toLong) - col("n_nonzero")).cast("double")))
      .otherwise(raw)
    agg
      .select(col("n_exact"), lit(m).as("m"),
        (lit(m.toLong) - col("n_nonzero")).cast("int").as("zero_registers"),
        col("rho_sum"),
        round(est, 4).as("estimate"),
        round(abs(est - col("n_exact")) / col("n_exact"), 4).as("rel_error"))
  }

  /** Bloom-filter membership ([[graft.rel.Sketches.bloomPositions]]):
    * the corpus vocabulary lands in a 4096-bit / 3-hash filter
    * materialized as its DISTINCT position set (512 bytes broadcast
    * regardless of vocabulary size); probe terms — corpus words and
    * foreign words — test ALL their positions. `maybe_present`
    * reproduces exactly in DuckDB (including any deterministic false
    * positives), `actually_present` is the ground-truth semi join,
    * and the contract maybe ⊇ actually (no false NEGATIVES ever) is
    * what the spec asserts corpus-wide. */
  def q_bloom_filter(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val vocab = t(s, dir, "documents")
      .select(explode(Tok.tokens(lower(col("text")))).as("term"))
      .distinct()
    val bits = vocab
      .select(explode(graft.rel.Sketches.bloomPositions(col("term"))).as("pos"))
      .distinct()
    val probes = Seq("join", "window", "spark", "stream",
      "zzyzx", "qwertyuiop", "nonexistentterm", "fleventy")
      .toDF("probe")
    val tested = probes
      .select(col("probe"),
        posexplode(graft.rel.Sketches.bloomPositions(col("probe")))
          .as(Seq("h", "pos")))
      .join(bits.withColumn("hit", lit(1)), Seq("pos"), "left")
      .groupBy(col("probe"))
      .agg((count(lit(1)) === sum(coalesce(col("hit"), lit(0))))
        .cast("int").as("maybe_present"))
    tested.join(
        vocab.select(col("term").as("probe")).withColumn("present", lit(1)),
        Seq("probe"), "left")
      .select(col("probe"), col("maybe_present"),
        coalesce(col("present"), lit(0)).as("actually_present"))
      .orderBy(col("probe"))
  }

  /** Count-Min Sketch heavy hitters ([[graft.rel.Sketches
    * .bloomPositions]] reused as the d row-hashes): term frequencies
    * compressed into a d=4 × w=64 integer counter grid (md5-derived
    * positions), point-estimate = min over the d counters (Cormode &
    * Muthukrishnan 2005, public), top-20 terms by estimate vs their
    * exact counts. 64 columns against a ~31-word vocabulary forces
    * real collisions, so `overcount` exercises the one-sided error:
    * the spec asserts cms_count ≥ exact for EVERY term corpus-wide
    * (CMS never undercounts) and that the top heavy hitter survives
    * sketching. Pure integer arithmetic end to end — the counter
    * GRID, not just the estimates, replays in DuckDB. At 100 TB the
    * sketch is a 256-cell partial+final aggregate (mergeable across
    * executors, broadcastable in bytes); only the bounded probe set
    * joins it. */
  def q_cms_topk(s: SparkSession, dir: String): DataFrame = {
    val (w, d) = (graft.rel.Sketches.CmsWidth, graft.rel.Sketches.CmsDepth)
    val tf = t(s, dir, "documents")
      .select(explode(Tok.tokens(lower(col("text")))).as("term"))
      .groupBy(col("term")).agg(count(lit(1)).as("cnt"))
    val keyed = tf.select(col("term"), col("cnt"),
      posexplode(graft.rel.Sketches.bloomPositions(col("term"), w, d))
        .as(Seq("h", "pos")))
    val counters = keyed.groupBy(col("h"), col("pos"))
      .agg(sum(col("cnt")).as("counter"))
    val est = keyed.select(col("term"), col("h"), col("pos"))
      .join(counters, Seq("h", "pos"))
      .groupBy(col("term")).agg(min(col("counter")).as("cms_count"))
    tf.join(est, Seq("term"))
      .select(col("term"), col("cnt").as("exact_count"), col("cms_count"),
        (col("cms_count") - col("cnt")).as("overcount"))
      .orderBy(col("cms_count").desc, col("term")).limit(20)
  }

  /** Content fingerprint (normalized md5). */
  def q_fingerprint(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .select(col("doc_id"),
        TextAnalysis.contentFingerprint(col("text")).as("fingerprint"))
      .sortedOnce("q_fingerprint")(col("doc_id"))

  /** HTML → text extraction ([[graft.textan.Html]]) — the ingest
    * stage between the reference's Selenium scrape (S1,
    * `web_scraper.py` page sources) and every text operator: strip
    * comments/script/style whole, tags to spaces, decode the six
    * common entities (amp last), collapse whitespace; plus the title
    * and the outbound-link count (the crawl-frontier signal). The
    * fixture wraps each document in an HTML page with entity/script/
    * style/comment noise, so the planted markup is the KNOWN truth
    * extraction must remove — and the text md5 proves it removed
    * nothing else. Pure codegen'd regexp chain riding the scan (zero
    * shuffle, the [[q_redact]] discipline); the oracle runs the
    * byte-identical RE2-safe patterns. */
  def q_html_extract(s: SparkSession, dir: String): DataFrame = {
    val page = t(s, dir, "documents")
      .select(col("doc_id"), col("n_chars").cast("long").as("n_chars"), concat(
        lit("<html><!-- id:"), col("doc_id"),
        lit(" --><head><title>Doc "), col("doc_id"), lit(" &amp; "),
        col("source"),
        lit("</title><style type=\"text/css\">body { color: #000; }" +
          "</style><script>if (1 &lt; 2) { var x = \"y\"; }" +
          "</script></head><body><h1>Heading &quot;"), col("doc_id"),
        lit("&quot;</h1><p>"), col("text"),
        lit("</p><p>See <a href=\"https://host/d/"), col("doc_id"),
        lit("\">more&nbsp;info</a> &#39;here&#39;</p></body></html>"))
        .as("html"))
    // r14: routed through the tag-safe giant-page split (the r13
    // row-skew tail, 8.09× at 50 MB) — sub-threshold pages (every
    // fixture) run the identical per-row chain, routed by the
    // pushable n_chars storage column
    graft.textan.Html.pageReport(page, sizeCol = Some(col("n_chars")))
      .sortedOnce("q_html_extract")(col("doc_id"))
  }

  /** PII-style redaction: emails → URLs → long digit runs, in that
    * order (regexp_replace chain, zero shuffle). */
  def q_redact(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .select(col("doc_id"),
        graft.textan.Scrub.redact(col("text")).as("redacted"))
      .sortedOnce("q_redact")(col("doc_id"))

  /** The materialize-the-training-corpus decision: compose language
    * ID, quality scoring and near-dup resolution into one keep/drop
    * per document with a first-failing-rule reason — the stage every
    * large-scale pipeline runs before tokenization. Precedence: lang
    * → quality → duplicate (non-canonical cluster member) → keep.
    * Each ingredient is independently oracle-checked (q_lang_id,
    * q_quality_score, q_dup_clusters); this row hash-checks the
    * composition. */
  def q_corpus_filter(s: SparkSession, dir: String): DataFrame =
    corpusFilterFrame(s, dir).orderBy(col("doc_id"))

  /** [[q_corpus_filter]] WITHOUT its output sort — the form
    * aggregate-topped composers consume (r20: [[q_training_mix]]
    * consumed the sorted row, and the bare global orderBy's range
    * partitioner runs a sampling pass that re-executes the lang +
    * quality kernels above the last exchange, for an ordering the
    * quota heap immediately discards — the r12 SortTax finding
    * applied to a composed row). */
  private def corpusFilterFrame(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val scored = TextAnalysis.withQuality(TextAnalysis.withDetectedLang(docs))
    val clusters = graft.dedup.Clusters
      .canonicalizeComp(docs, sigComponents(s, dir))
      .select(col("doc_id"), col("is_canonical"))
    scored.join(clusters, Seq("doc_id"), "left")
      .withColumn("reason",
        when(col("pred_lang") =!= "en", lit("lang"))
          .when(col("quality") < 0.5, lit("quality"))
          .when(!coalesce(col("is_canonical"), lit(true)), lit("duplicate"))
          .otherwise(lit("keep")))
      .withColumn("keep", (col("reason") === "keep").cast("int"))
      .select(col("doc_id"), col("pred_lang"), col("quality"),
        col("keep"), col("reason"))
  }

  /** The full LLM-training-data MATERIALIZATION pipeline as one
    * composed row — the flagship for the extension surface the way
    * `RagPipeline.run` is for the RAG surface: corpus filter
    * ([[q_corpus_filter]]'s keep decision: lang → quality →
    * canonical-dup), per-source quota capping (bounded-heap
    * [[graft.plans.TopKPerKey]], re-ranked over the KEPT set),
    * deterministic seeded shuffle into shards, and per-shard token
    * offsets (partitioned window — each shard's prefix sums in
    * parallel). Every stage is individually hash-checked elsewhere;
    * this row hash-checks their COMPOSITION (the oracle embeds
    * q_corpus_filter's SQL and replays quota → shuffle → offsets on
    * top). Scale shape: one corpus pass per stage input, bounded
    * heaps for the quota, one `shard` exchange for the ordering —
    * nothing global. */
  def q_training_mix(s: SparkSession, dir: String): DataFrame = {
    val kept = corpusFilterFrame(s, dir).filter(col("keep") === 1)
      .select(col("doc_id"), col("quality"))
    val docs = t(s, dir, "documents")
    val narrow = kept
      .join(docs.select(col("doc_id"), col("source"),
        Tok.tokenCount(col("text")).as("n_tokens")), "doc_id")
      .select(col("doc_id"), col("source"), col("quality"), col("n_tokens"))
    val quota = graft.plans.TopKPerKey(narrow, Seq(col("source")),
      Seq(col("quality").desc, col("doc_id")), 8)
    val h = conv(substring(md5(concat(lit("mix-7|"),
      col("doc_id").cast("string"))), 1, 15), 16, 10).cast("long")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("shard")).orderBy(col("hkey"), col("doc_id"))
    quota.withColumn("hkey", h)
      .withColumn("shard", pmod(col("hkey"), lit(4L)).cast("int"))
      .withColumn("pos_in_shard", row_number().over(w))
      .withColumn("token_offset", coalesce(
        sum(col("n_tokens").cast("long")).over(
          w.rowsBetween(org.apache.spark.sql.expressions.Window
            .unboundedPreceding, -1)), lit(0L)))
      .select(col("doc_id"), col("source"), col("quality"), col("shard"),
        col("pos_in_shard"), col("n_tokens").cast("int").as("n_tokens"),
        col("token_offset"))
      .orderBy(col("shard"), col("pos_in_shard"))
  }

  /** Token-budget corpus sharding via the DISTRIBUTED global prefix
    * sum (graft.rel.PrefixSum): identical to `sum() OVER (ORDER BY)`
    * but computed with parallel per-partition windows + broadcast
    * base offsets — no single-partition window at any scale. */
  def q_token_shards(s: SparkSession, dir: String): DataFrame =
    graft.rel.PrefixSum.tokenShards(
        t(s, dir, "documents")
          .select(col("doc_id"), Tok.tokenCount(col("text")).as("n_tokens")),
        col("doc_id"), col("n_tokens"), budget = 2000L)
      .select(col("doc_id"), col("n_tokens"), col("prefix_tokens"), col("shard"))
      .orderBy(col("doc_id"))

  /** Deterministic corpus SHUFFLE — the training-data ordering step
    * between filtering and packing: every document gets a seeded hash
    * key (md5, map-side), its shard is the key's residue, and its
    * position within the shard is the rank of its key — a reproducible
    * global permutation with NO global sort: one exchange on `shard`
    * and a per-shard sort of 1/S of the corpus each, which is exactly
    * how petabyte training shuffles are written (hash-bucket, then
    * local order). Re-running with the same seed reproduces the
    * permutation bit-for-bit on any cluster layout. */
  def q_corpus_shuffle(s: SparkSession, dir: String): DataFrame = {
    val h = conv(substring(md5(concat(lit("shuffle-42|"),
      col("doc_id").cast("string"))), 1, 15), 16, 10).cast("long")
    t(s, dir, "documents").select(col("doc_id"), h.as("hkey"))
      .withColumn("shard", pmod(col("hkey"), lit(8L)).cast("int"))
      .withColumn("pos_in_shard", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("shard"))
          .orderBy(col("hkey"), col("doc_id"))))
      .select(col("doc_id"), col("shard"), col("pos_in_shard"))
      .orderBy(col("shard"), col("pos_in_shard"))
  }

  /** Sequence PACKING — the training-data step after token-budget
    * sharding: concatenate the tokenized corpus in doc_id order and
    * cut it into fixed-length training sequences (L = 512), letting
    * documents STRADDLE sequence boundaries (the standard packed
    * pretraining layout; q_token_shards is the never-split variant).
    * Per document: its global token start, the first/last sequence it
    * lands in, its offset in the first, and how many sequences it
    * spans. The global token offsets come from the DISTRIBUTED
    * two-pass prefix sum — no single-partition window at any scale;
    * everything after is scan-stage arithmetic. Oracle = the
    * single-window `sum() OVER (ORDER BY)` form. */
  def q_seq_pack(s: SparkSession, dir: String): DataFrame = {
    val L = 512
    val toks = t(s, dir, "documents")
      .select(col("doc_id"), Tok.tokenCount(col("text")).as("n_tokens"))
    graft.rel.PrefixSum.exclusivePrefixSum(
        toks, col("doc_id"), col("n_tokens").cast("long"), "tok_start")
      .withColumn("first_seq", floor(col("tok_start") / L).cast("long"))
      .withColumn("first_off", (col("tok_start") % L).cast("int"))
      .withColumn("last_seq",
        when(col("n_tokens") > 0,
          floor((col("tok_start") + col("n_tokens") - 1) / L))
          .otherwise(floor(col("tok_start") / L)).cast("long"))
      .withColumn("n_seqs", (col("last_seq") - col("first_seq") + 1).cast("int"))
      .select(col("doc_id"), col("n_tokens"), col("tok_start"),
        col("first_seq"), col("first_off"), col("last_seq"), col("n_seqs"))
      .orderBy(col("doc_id"))
  }

  /** Corpus-wide heavy-hitter n-grams — the boilerplate/vocabulary
    * probe every large corpus runs (repeated headers, navigation
    * text, license blurbs surface as top bigrams): global top-20
    * token 2-grams by occurrence count, deterministic (count DESC,
    * gram) tiebreak. Partial+final hash aggregate bounded by
    * vocabulary², then TakeOrderedAndProject — the corpus is never
    * globally sorted. */
  def q_top_ngrams(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .select(Tok.tokens(col("text")).as("ts"))
      .withColumn("n", size(col("ts")))
      .filter(col("n") >= 2)
      .select(explode(zip_with(
        slice(col("ts"), lit(1), col("n") - 1),
        slice(col("ts"), lit(2), col("n") - 1),
        (a, b) => concat_ws(" ", a, b))).as("gram"))
      .groupBy(col("gram")).agg(count(lit(1)).as("n_occ"))
      .orderBy(desc("n_occ"), col("gram"))
      .limit(20)

  /** Deterministic 25% sample of orders, keyed on md5(o_orderkey) —
    * reproducible across runs/partitionings, no rand(). */
  def q_sample_det(s: SparkSession, dir: String): DataFrame =
    graft.rel.Sampling.deterministicSample(
        t(s, dir, "orders"), col("o_orderkey"), 0.25)
      .select(col("o_orderkey"),
        graft.rel.Sampling.hashBucket(col("o_orderkey")).as("bucket"))
      .orderBy(col("o_orderkey"))

  /** Stratified (per-language quota) deterministic sampling — the
    * language-rebalancing step of corpus assembly: keep 50% of en,
    * 25% of fr, 10% of de; strata absent from the quota map (es, zh)
    * are dropped entirely. Same key-addressed md5 bucket as
    * [[q_sample_det]], still a pure scan filter. */
  def q_sample_stratified(s: SparkSession, dir: String): DataFrame =
    graft.rel.Sampling.stratifiedSample(t(s, dir, "documents"),
        col("doc_id"), col("lang"),
        Map("en" -> 0.5, "fr" -> 0.25, "de" -> 0.1))
      .select(col("doc_id"), col("lang"),
        graft.rel.Sampling.hashBucket(col("doc_id")).as("bucket"))
      .orderBy(col("doc_id"))

  /** Temperature-weighted corpus mixing — the rebalancing step a
    * multilingual pretraining corpus runs before tokenization:
    * sampling weights w_i ∝ n_i^α with α = 0.5 (exponentiated
    * smoothing from the multilingual-LM literature — head languages
    * flattened, tail boosted), a fixed total budget T split into
    * per-language quotas, each quota filled by deterministic
    * md5-ranked selection.
    *
    * Determinism without float accumulation: per-language
    * microweights m_i = floor(sqrt(n_i)·1e6) are summed as EXACT
    * integers (order-free — the same integer-microunit recipe as the
    * unigram-logprob reduction), and quota/weight are each ONE
    * IEEE double op from exact ints, so both engines compute
    * identical bits.
    *
    * Scale shape: the per-language table is tiny (broadcast both
    * ways); the corpus passes ONCE through the bounded-heap
    * [[graft.plans.TopKPerKey]] (k = T), so no language ever fully
    * sorts; the rank window then sees ≤ T survivors per language. */
  def q_temperature_mix(s: SparkSession, dir: String): DataFrame = {
    val T = 250
    val docs = t(s, dir, "documents")
    val byLang = docs.groupBy(col("lang"))
      .agg(count(lit(1)).as("n_lang"))
      .withColumn("m", floor(sqrt(col("n_lang")) * 1e6).cast("long"))
    val tot = byLang.agg(sum(col("m")).as("mm"))
    val wq = byLang.crossJoin(broadcast(tot))
      .withColumn("weight", round(col("m").cast("double") / col("mm"), 6))
      .withColumn("quota",
        floor((lit(T.toLong) * col("m")).cast("double") / col("mm")).cast("int"))
      .select(col("lang"), col("n_lang").cast("int").as("n_lang"),
        col("weight"), col("quota"))
    val ranked = graft.plans.TopKPerKey(
      docs.select(col("doc_id"), col("lang"),
        md5(concat(lit("mix|"), col("doc_id").cast("string"))).as("h")),
      Seq(col("lang")), Seq(col("h"), col("doc_id")), T)
    val w = Window.partitionBy(col("lang")).orderBy(col("h"), col("doc_id"))
    ranked.withColumn("rk", row_number().over(w))
      .join(broadcast(wq), "lang")
      .filter(col("rk") <= col("quota"))
      .select(col("doc_id"), col("lang"), col("n_lang"), col("weight"),
        col("quota"), col("rk"))
      .orderBy(col("lang"), col("rk"))
  }

  /** Skew-salted equi-join, value-identical to the plain join (the
    * [[graft.rel.Skew.saltedJoin]] contract, now pinned by an oracle
    * row): the big side's keys are split across 8 deterministic salt
    * buckets (xxhash64 of a stable attribute — no rand()) and the
    * small side replicated, so one hot key spreads over 8 reducers
    * instead of stalling one. The DuckDB oracle is the PLAIN join —
    * exactly the "output equals the unsalted join" guarantee. */
  def q_join_salted(s: SparkSession, dir: String): DataFrame = {
    val big = t(s, dir, "lineitem")
      .select(col("l_orderkey"), col("l_partkey").as("p_partkey"),
        col("l_quantity"), col("l_extendedprice"), col("l_discount"))
    val small = t(s, dir, "part").select(col("p_partkey"), col("p_brand"))
    graft.rel.Skew.saltedJoin(big, small, "p_partkey",
        saltSource = col("l_orderkey"))
      .groupBy(col("p_brand"))
      .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 4)
        .as("revenue"),
        count(lit(1)).as("n_items"))
      .orderBy(col("p_brand"))
  }

  /** O/W breadth — the window-function suite over per-customer order
    * history: row_number and ntile by date order, value-rank by
    * price (rank/dense_rank are value-determined, so no tiebreak
    * column is needed for determinism), and the previous order's
    * price via lag. One window partition key → one shuffle. */
  def q_window_suite(s: SparkSession, dir: String): DataFrame = {
    val byDate = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate"), col("o_orderkey"))
    val byPrice = Window.partitionBy(col("o_custkey"))
      .orderBy(desc("o_totalprice"))
    t(s, dir, "orders")
      .filter(col("o_custkey") < 200)
      .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"),
        row_number().over(byDate).as("seq"),
        rank().over(byPrice).as("price_rank"),
        dense_rank().over(byPrice).as("price_dense_rank"),
        coalesce(lag(col("o_totalprice"), 1).over(byDate), lit(0.0))
          .as("prev_price"),
        ntile(4).over(byDate).as("quartile"))
      .orderBy(col("o_custkey"), col("seq"))
  }

  /** A-series breadth — ROLLUP aggregate over priority × status with
    * subtotal and grand-total rows ('(all)' labels instead of the
    * rollup NULLs so both engines render and order identically). */
  def q_rollup(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders")
      .rollup(col("o_orderpriority"), col("o_orderstatus"))
      .agg(count(lit(1)).as("n"),
        round(sum(col("o_totalprice")), 4).as("total_price"))
      .select(
        coalesce(col("o_orderpriority"), lit("(all)")).as("priority"),
        coalesce(col("o_orderstatus"), lit("(all)")).as("status"),
        col("n"), col("total_price"))
      .orderBy(col("priority"), col("status"))

  /** As-of join ([[graft.rel.AsOf]]) — each event matched to its
    * user's LATEST "mark" event (every 5th event) at-or-before its
    * own time: marks and probes genuinely interleave per user, so the
    * matched mark CHANGES along each user's timeline — the real as-of
    * shape (an orders-based build side would degenerate: the TPC-H
    * dates all predate the event fixture). Inner flavor (probes
    * before their user's first mark drop) keeps every output column
    * non-null for the cross-engine compare. A probe that IS a mark
    * matches itself — "at or before" includes equality, spec'd in
    * AsOfSpec. The oracle is the independent naive form — range join
    * + per-event argmax with the same (ts DESC, mark_id DESC) tie
    * rule — so the union-window implementation is checked against the
    * semantics it optimizes. */
  def q_asof_join(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
      .select(col("event_id"), col("user_id"), col("ts"))
    val marks = ev.filter(col("event_id") % 5 === 0)
      .select(col("event_id").as("mark_id"), col("user_id").as("mark_user"),
        col("ts").as("mark_ts"))
    graft.rel.AsOf.asOfJoin(ev, marks,
        leftKey = "user_id", rightKey = "mark_user",
        leftTime = "ts", rightTime = "mark_ts",
        tieBreak = "mark_id")
      .select(col("event_id"), col("user_id"),
        date_format(col("ts"), "yyyy-MM-dd HH:mm:ss").as("event_time"),
        col("matched.mark_id").as("mark_id"))
      .orderBy(col("event_id"))
  }

  /** Unkeyed point-in-interval range join ([[graft.rel.RangeJoin]]):
    * every event inside any of the 200 two-hour windows opened by the
    * first 200 events (sub-second boundaries — the exact case the
    * bucket superset bound exists for). The binned implementation
    * joins equi on an hour bucket with the exact predicate as
    * residual — a hash join where the naive non-equi form
    * nested-loops; the oracle IS that naive form, so the optimization
    * is checked against the semantics it replaces. */
  def q_range_join(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir).select(col("event_id"), col("ts"))
    val iv = ev.filter(col("event_id") < 200)
      .select(col("event_id").as("window_id"), col("ts").as("start_ts"),
        (col("ts") + expr("INTERVAL 2 HOURS")).as("end_ts"))
    graft.rel.RangeJoin.pointInInterval(ev, iv, "ts", "start_ts", "end_ts",
        bucketSeconds = 3600L)
      .select(col("event_id"), col("window_id"))
      .orderBy(col("event_id"), col("window_id"))
  }

  // ===== events / streaming-shape =====

  /** Funnel / sequential-pattern match — per user, how many `view`
    * events are followed by a `purchase` within 1 hour, plus the
    * first such conversion's timing: the A→B-within-t shape of event
    * analytics. The pair join is keyed on user_id (the only shuffle)
    * with the time window as residual, so per-user pair volume stays
    * local; conversions are counted per triggering view (distinct
    * views that converted), not per (view, purchase) pair. */
  def q_funnel(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
    val views = ev.filter(col("event_type") === "view")
      .select(col("user_id"), col("event_id").as("view_id"), col("ts").as("view_ts"))
    val buys = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts").as("buy_ts"))
    views.join(buys, "user_id")
      .filter(col("buy_ts") > col("view_ts") &&
        col("buy_ts") <= col("view_ts") + expr("INTERVAL 1 HOUR"))
      .groupBy(col("user_id"))
      .agg(countDistinct(col("view_id")).as("converted_views"),
        date_format(min(col("view_ts")), "yyyy-MM-dd HH:mm:ss")
          .as("first_converted_view"))
      .orderBy(col("user_id"))
  }

  /** The funnel PAIR stage as its own hash row — the batch twin of
    * [[graft.streaming.EventStreams.funnelPairs]], the stream-stream
    * event-time join whose watermarked form StreamingSpec pins
    * (stream == batch, past-horizon drops): one row per
    * (view, purchase-within-1h) pair. [[q_funnel]] checks the
    * rollup; this row checks the join stage itself, so the streaming
    * operator's exact output surface is oracle-pinned too. Same
    * scale shape: the only shuffle keys on user_id, the time window
    * rides as a residual predicate. */
  def q_funnel_pairs(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
    graft.streaming.EventStreams.funnelPairs(
        ev.filter(col("event_type") === "view")
          .select(col("user_id"), col("event_id").as("view_id"),
            col("ts").as("view_ts")),
        ev.filter(col("event_type") === "purchase")
          .select(col("user_id"), col("event_id").as("buy_id"),
            col("ts").as("buy_ts")))
      .select(col("user_id"), col("view_id"), col("buy_id"),
        date_format(col("view_ts"), "yyyy-MM-dd HH:mm:ss").as("view_time"),
        date_format(col("buy_ts"), "yyyy-MM-dd HH:mm:ss").as("buy_time"))
      .orderBy(col("user_id"), col("view_id"), col("buy_id"))
  }

  /** Tumbling-hour aggregate per event type. */
  def q_events_hourly(s: SparkSession, dir: String): DataFrame =
    EventStreams.hourlyByType(Tables.events(s, dir))
      .withColumn("hour", date_format(col("hour"), "yyyy-MM-dd HH:mm:ss"))
      .orderBy(col("hour"), col("event_type"))

  /** Watermarked event-time streaming aggregate, oracle-checked
    * ([[EventStreams.hourlyWatermarkedReplay]]): the events table
    * replays through a REAL Structured Streaming query (withWatermark
    * + tumbling window + append-mode sink) in deterministic arrival
    * waves — on-time rows first, then the `event_id % 3 == 0` late
    * wave, then watermark advancers. Spark drops a late row iff its
    * window end ≤ `max(on-time ts) − 1 h`; the DuckDB oracle states
    * the same rule in closed form, so the engine's watermark
    * BOOKKEEPING (not just the window arithmetic) is hash-checked
    * against an independent implementation. Rows differ from
    * [[q_events_hourly]] exactly on the windows that lost late rows. */
  def q_events_watermark(s: SparkSession, dir: String): DataFrame =
    EventStreams.hourlyWatermarkedReplay(Tables.events(s, dir))
      .withColumn("hour", date_format(col("hour"), "yyyy-MM-dd HH:mm:ss"))
      .orderBy(col("hour"), col("event_type"))

  /** Sessionization stats per user. */
  def q_sessions(s: SparkSession, dir: String): DataFrame =
    EventStreams.sessionStats(Tables.events(s, dir))
      .orderBy(col("user_id"))

  /** Sliding 1-hour windows every 30 min: each event lands in two
    * windows (the streaming `window(ts, '1 hour', '30 minutes')`
    * semantics, expressed portably via explicit window starts). */
  def q_events_sliding(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
      .withColumn("half_hour",
        (floor(unix_timestamp(col("ts")) / 1800) * 1800).cast("long"))
    ev.select(col("event_type"), col("value"),
        explode(array(col("half_hour") - 1800, col("half_hour")))
          .as("win_start_sec"))
      .groupBy(col("win_start_sec"), col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 4).as("total_value"))
      .withColumn("win_start",
        date_format(timestamp_seconds(col("win_start_sec")), "yyyy-MM-dd HH:mm:ss"))
      .select(col("win_start"), col("event_type"), col("n"), col("total_value"))
      .orderBy(col("win_start"), col("event_type"))
  }

  // ===== multimodal =====

  /** Binary-column feature extraction (stub codec; plumbing real). */
  def q_mm_features(s: SparkSession, dir: String): DataFrame =
    Multimodal.extractFeatures(
      Multimodal.assetsFromDocuments(t(s, dir, "documents")))
      .select(col("asset_id"), col("media_type"), col("byte_length"),
        col("checksum"))
      .sortedOnce("q_mm_features")(col("asset_id"))

  /** REAL image decode + resample, oracle-checked end to end: 48
    * crafted deterministic PNGs ([[Multimodal.makePng]] — grayscale
    * pixel = (x·7 + y·13 + id·31) mod 256) are decoded with
    * `javax.imageio` inside mapPartitions, emitting true width/height,
    * pixel count, total luminance and an 8-bucket luminance histogram;
    * then each is nearest-neighbor resampled to 16×16
    * ([[Multimodal.resize]]), PNG re-encoded, decoded AGAIN and its
    * luminance re-summed. PNG is lossless and the NN sample index is
    * integer arithmetic, so DuckDB predicts every value from the
    * pixel formula without any image library — the oracle checks two
    * real codec round-trips. */
  def q_mm_decode(s: SparkSession, dir: String): DataFrame = {
    val assets = Multimodal.pngAssets(s, 48)
    val orig = Multimodal.extractFeatures(assets)
      .select(Seq(col("asset_id"), col("width"), col("height"),
        (col("width") * col("height")).as("n_pixels"), col("lum_sum")) ++
        (0 until 8).map(i => col("hist").getItem(i).as(s"h$i")): _*)
    val resized = Multimodal.extractFeatures(Multimodal.resize(assets, 16, 16))
      .select(col("asset_id"), col("width").as("r_width"),
        col("height").as("r_height"), col("lum_sum").as("r_lum_sum"))
    orig.join(resized, "asset_id").sortedOnce("q_mm_decode")(col("asset_id"))
  }

  /** Perceptual-hash IMAGE near-dup — the multimodal twin of MinHash
    * banding ([[Multimodal.phashNearDup]]): real PNG decode → 8×8
    * average-hash (nearest-neighbor sampling, exact-integer mean
    * threshold) → four 16-bit band keys → band-join candidates →
    * 64-bit hamming confirm (hamming ≤ 3 guarantees a band match by
    * pigeonhole, so recall at the threshold is exact). Fixture: 40
    * crafted PNGs plus their one-pixel near-duplicate variants
    * (asset 1000+id), so the true pair set is known by construction;
    * the oracle predicts every decoded luminance from the crafted
    * pixel formula — the [[q_mm_decode]] discipline applied to a
    * dedup op. */
  def q_mm_phash(s: SparkSession, dir: String): DataFrame =
    Multimodal.phashNearDup(Multimodal.pngAssetsWithNearDups(s, 40), 3)
      .orderBy(col("id_a"), col("id_b"))

  /** Cross-modal corpus size, shared verbatim with the oracle. */
  private[graft] val CrossModalN = 30

  /** [[clipCaptionVecs]] keeping the caption STRING beside the parsed
    * vector — the composed materialization row charges its shard
    * offsets by caption length, so the text must survive the parse. */
  private def clipCaptionTable(s: SparkSession, n: Int): DataFrame = {
    val dim = Multimodal.ClipDim
    val toneCols: Seq[Column] = (0 until dim).map { x =>
      ((col("id") * 131 + lit(x * 79) + col("id") * lit(x * 57) +
        col("id") * lit(x * x * 23)) % 256 / lit(4)).cast("int")
        .cast("string")
    }
    s.range(n).select(col("id"),
        concat_ws(" ", lit("photo") +: col("id").cast("string") +:
          lit("tones") +: toneCols: _*).as("caption"))
      .select(col("id").as("caption_id"), col("caption"),
        Multimodal.captionParse(col("caption")).as("q_embedding"))
  }

  /** The caption side of the cross-modal rows: each id's crafted
    * caption STRING (quantized tone tokens from the shared
    * [[Multimodal.clipPixel]] formula, generated in-plan), then the
    * plan PARSES the tokens back out and dequantizes to the caption
    * vector (midpoint of the 4-wide quantization cell) —
    * `(caption_id, q_embedding)`. The parse is the text-side encoder
    * seam the oracle checks against the formula. */
  private def clipCaptionVecs(s: SparkSession,
      n: Int = CrossModalN): DataFrame =
    clipCaptionTable(s, n).select(col("caption_id"), col("q_embedding"))

  /** CROSS-MODAL image↔caption retrieval (r16 verdict #7) — the
    * LAION-style pair-curation join no prior row exercised: image
    * embeddings come from a REAL ImageIO decode of the crafted CLIP
    * set ([[Multimodal.clipImageVecs]] — row 0 of each PNG is the
    * 8-dim embedding, the deterministic stand-in for a learned image
    * encoder), caption embeddings from PARSING each caption's
    * quantized tone tokens back into a vector (the text side's
    * encoder seam), and the two modalities meet in the shared
    * brute-cosine funnel ([[vector.Ann.bruteTopK]] — broadcast
    * queries, codegen'd FloatVecDot, bounded-heap TopKPerKey).
    * Captions carry 4-QUANTIZED values, so matched pairs sit at
    * cos ≈ 0.9999, not 1.0 — retrieval, not an equality join — while
    * the min top-1 margin over crossed pairs is 0.047. Every row
    * carries the planted-pair recall@1 (1.0 on this set, the pin
    * that the funnel actually recovers the pairs). The oracle
    * predicts every decoded pixel from [[Multimodal.clipPixel]] —
    * the [[q_mm_decode]] discipline applied to retrieval. At 100 TB:
    * decode+parse are map-only passes; the retrieval join is the
    * vector tier's own (brute here over the 30-pair fixture; since
    * r18 the saved serves actually carry it — the raw-vector tier in
    * [[q_crossmodal_indexed]] and the compressed tier in
    * [[q_crossmodal_pq]], both at the wider [[CrossModalServeN]]
    * fixture with measured scale-flat ×10 serves). */
  def q_crossmodal_topk(s: SparkSession, dir: String): DataFrame = {
    // image side: REAL decode of the crafted CLIP PNGs
    val img = Multimodal.clipImageVecs(
      Multimodal.clipAssets(s, CrossModalN))
    val parsed = clipCaptionVecs(s)
      .withColumnRenamed("caption_id", "query_id")
    crossmodalRecall(vector.Ann.bruteTopK(img, parsed, 3), "cos_sim",
      CrossModalN, "crossmodal.top")
  }

  /** The tail every cross-modal serve row shares: each result row's
    * `hit` (rank 1 is the caption's own image), persisted under
    * `tag`, and the planted-pair `recall_at_1` over `n` captions on
    * every row, ordered by (query_id, rank). `score` names the serve's
    * score column. */
  private def crossmodalRecall(top: DataFrame, score: String, n: Int,
      tag: String): DataFrame = {
    val hits = top
      .withColumn("hit",
        (col("rank") === 1 && col("vec_id") === col("query_id"))
          .cast("int"))
      .persistTracked(tag)
    val tot = hits.agg(sum(col("hit")).cast("int").as("total_hit"))
    hits.crossJoin(broadcast(tot))
      .withColumn("recall_at_1",
        round(col("total_hit").cast("double") / lit(n), 4))
      .select(col("query_id"), col("rank"), col("vec_id"), col(score),
        col("hit"), col("recall_at_1"))
      .orderBy(col("query_id"), col("rank"))
  }

  /** CROSS-MODAL pair CURATION — the LAION-style alt-text quality
    * gate that complements [[q_crossmodal_topk]]'s retrieval view:
    * a (image, caption) PAIR table scores each pair's cosine and
    * keeps only pairs above the gate (LAION-400M kept CLIP-score
    * ≥ 0.3 of raw crawl pairs; here the crafted analogue). The
    * fixture plants real noise: every id ≡ 4 (mod 5) pairs its image
    * with the NEXT id's caption (the classic wrong-alt-text crawl
    * artifact), so matched pairs sit at cos ≈ 0.9999 and mismatched
    * at ≈ 0.9 — the 0.999 gate keeps 24 of 30 and drops exactly the
    * planted mismatches. Same real decode + real parse seams as the
    * retrieval row; the cosine is [[vector.Ann.bruteTopK]]'s exact
    * expression (dotF / (normF·normF), rounded before the gate). At
    * 100 TB this is a map-side 1:1 join (pair table keys both
    * sides) — no candidate generation at all, the cheapest tier of
    * multimodal curation. */
  def q_crossmodal_curation(s: SparkSession, dir: String): DataFrame = {
    val img = Multimodal.clipImageVecs(
      Multimodal.clipAssets(s, CrossModalN))
    val caps = clipCaptionVecs(s)
    val pairs = img.select(col("vec_id").as("pair_id"), col("embedding"),
      when(col("vec_id") % 5 === 4, (col("vec_id") + 1) % CrossModalN)
        .otherwise(col("vec_id")).as("caption_id"))
    val scored = pairs.join(caps, "caption_id")
      .withColumn("cos_sim",
        round(vector.FloatVecExpr.dotF(col("embedding"), col("q_embedding")) /
          (vector.FloatVecExpr.normF(col("embedding")) *
            vector.FloatVecExpr.normF(col("q_embedding"))), 6))
      .withColumn("kept",
        (col("cos_sim") >= graft.multimodal.Multimodal.ClipGate).cast("int"))
    scored
      .select(col("pair_id"), col("caption_id"), col("cos_sim"), col("kept"))
      .orderBy(col("pair_id"))
  }

  /** Corpus size of the cross-modal SAVED-SERVE row — wide enough
    * (120 images over 8 cells) that the IVF serve does real pruning
    * (each caption scores only its 2 probed cells' candidates, ~1/4
    * of the corpus), shared verbatim with the oracle. */
  private[graft] val CrossModalServeN = 120

  /** Build-or-reuse the saved IVF index over the crafted clip image
    * corpus at size `n` / geometry `nCells` — the catalog rows share
    * one key. */
  private[graft] def ensureClipIndex(s: SparkSession, n: Int,
      nCells: Int, key: String): String =
    vector.Ivf.ensureSavedBoundedIndex(
      Multimodal.clipImageVecs(Multimodal.clipAssets(s, n)),
      nCells = nCells, rounds = 2, cacheKey = key,
      epoch = Some(s"clip-fixture-v1-n$n-c$nCells"))

  /** The caption→saved-index serve funnel of [[q_crossmodal_indexed]]
    * parameterized over the index path and caption-query count. */
  private[graft] def crossmodalServeAt(s: SparkSession, path: String,
      nQueries: Int): DataFrame = {
    val (disk, cents) = vector.Ivf.loadIndex(s, path)
    val queries = clipCaptionVecs(s, nQueries)
      .select(col("caption_id").as("query_id"), col("q_embedding"))
    vector.Ivf.topKIndexed(disk, cents, queries, 3, nProbe = 2)
  }

  /** CROSS-MODAL retrieval on the SAVED ANN serve (r17 verdict #3) —
    * the row that makes the LAION-curation story ride the tier the
    * 100 TB claim ships on: the REAL-decoded image embeddings
    * ([[Multimodal.clipImageVecs]], same seam as
    * [[q_crossmodal_topk]]) are fit + persisted through
    * [[vector.Ivf.ensureSavedBoundedIndex]] (the oracle-replayable
    * bounded k-means, `partitionBy("cell")` on disk, built once per
    * JVM), and the parsed CAPTION vectors query it via
    * [[vector.Ivf.topKIndexed]] — cell-pruned candidate generation
    * (nProbe 2 of nCells 8: each caption scores ~1/4 of the corpus)
    * with the same (vec_id, embedding) contract as every saved
    * serve. Fixture widened to [[CrossModalServeN]] = 120 pairs so
    * the pruning is real, planted-pair recall@1 carried on every row
    * — 0.9917 measured (119/120): caption 16's image lands in a cell
    * its 2 probed cells miss, the honest coarse-tier pruning loss
    * ([[q_ann_recall]]'s attribution) surfacing cross-modally, and
    * the oracle replays the same miss exactly. At 100 TB: decode and
    * parse are map-only; the index is built offline once; each serve
    * scores only the probed cells of its resident copy — the FAISS
    * build/serve split
    * applied cross-modally. Oracle: the shared bounded-fit replay
    * chain at dim = 8 with the caption formula as the query CTE. */
  def q_crossmodal_indexed(s: SparkSession, dir: String): DataFrame = {
    val path = ensureClipIndex(s, CrossModalServeN, nCells = 8,
      key = "crossmodal-clip-ivf")
    crossmodalRecall(crossmodalServeAt(s, path, CrossModalServeN),
      "cos_sim", CrossModalServeN, "crossmodal.idxtop")
  }

  /** Cross-modal COMPRESSED-serve geometry, shared verbatim with the
    * oracle: 4 subspaces × 2 dims over the 8-dim clip embeddings,
    * 8 codes per subspace (4 B of codes per image vs 32 B of floats),
    * ADC shortlist 16 into the exact-lattice refine. */
  private[graft] val XmPqM = 4
  private[graft] val XmPqK = 8
  private[graft] val XmPqShortlist = 16

  /** Build-or-reuse the saved IVF+PQ index over the clip image corpus
    * at size `n` / coarse geometry `nCells` (codebooks stay at the
    * [[XmPqM]]×[[XmPqK]] serve geometry) — the catalog row shares one
    * key. */
  private[graft] def ensureClipPqIndex(s: SparkSession, n: Int,
      nCells: Int, key: String): String =
    vector.Pq.ensureSavedIndex(
      Multimodal.clipImageVecs(Multimodal.clipAssets(s, n)),
      m = XmPqM, k = XmPqK, rounds = 2, nCells = nCells, cacheKey = key,
      epoch = Some(s"clip-fixture-v1-n$n-c$nCells-pq$XmPqM-$XmPqK"))

  /** The caption→compressed-serve funnel of [[q_crossmodal_pq]]
    * parameterized over index path and caption count. Note the refine
    * side re-decodes the image corpus (map-only): at scale the full-
    * vector table is the corpus store the shortlist joins back to. */
  private[graft] def crossmodalPqServeAt(s: SparkSession, path: String,
      nQueries: Int, corpusN: Int): DataFrame = {
    // corpusN is REQUIRED (r18 verdict): a default that equated corpus
    // size with query count would silently rerank a wider corpus's
    // shortlist against a truncated lattice when fewer captions than
    // images are served — the caller must state the corpus the saved
    // index was built over, and it can never be narrower than the
    // query set it answers
    require(corpusN >= nQueries,
      s"crossmodalPqServeAt: corpusN=$corpusN < nQueries=$nQueries — " +
        "the rerank lattice must cover at least the served query ids")
    val (codes, books, cents) = vector.Pq.loadIndex(s, path)
    val queries = clipCaptionVecs(s, nQueries)
      .select(col("caption_id").as("query_id"), col("q_embedding"))
    val sl = vector.Pq.adcTopKIndexed(codes, books, cents, queries,
        XmPqShortlist, nProbe = 2)
      .select(col("query_id"), col("vec_id"))
    val quantized = Multimodal.clipImageVecs(Multimodal.clipAssets(s, corpusN))
      .withColumn("qv", vector.Quantize.int8(col("embedding")))
    vector.Pq.exactRerank(quantized, sl, queries, 3)
  }

  /** Cross-modal retrieval on the COMPRESSED (IVFPQ + refine) serve —
    * the second saved tier ([[q_crossmodal_indexed]] is the
    * raw-vector IVF one): the decoded image corpus trains + persists
    * a saved IVF+PQ index ([[vector.Pq.ensureSavedIndex]] — coarse
    * cells and per-subspace codebooks both bounded-fit, codes
    * `partitionBy("cell")`), caption queries ADC-scan ONLY probed
    * cells' codes ([[vector.Pq.adcTopKIndexed]], [[XmPqShortlist]]
    * candidates each), and only shortlist rows re-score on the exact
    * int8 lattice ([[vector.Pq.exactRerank]]) — FAISS's
    * IndexRefineFlat shape serving image↔caption pairs. 100 TB
    * story: the serve reads 4 B/image codes in probed cells plus
    * |queries|×16 full vectors — the memory tier the multimodal
    * corpus actually ships on. Recall@1 carried on every row; the
    * coarse chain is the same fit as the IVF row, so the cell-
    * pruning miss set is shared and any additional loss is the
    * codebook's (the shortlist refine recovers it here). Oracle: the
    * shared dim-8 replay chains — coarse ([[Oracles]] ivfCoarseCteN),
    * codebooks (pqCodebookCte at 4×2×8), caption lattice, ADC,
    * exact-lattice refine. */
  def q_crossmodal_pq(s: SparkSession, dir: String): DataFrame = {
    val n = CrossModalServeN
    val path = ensureClipPqIndex(s, n, nCells = 8,
      key = "crossmodal-clip-pq")
    crossmodalRecall(crossmodalPqServeAt(s, path, n, corpusN = n),
      "l2_dist", n, "crossmodal.pqtop")
  }

  /** The MULTIMODAL corpus materialization (r17 verdict #7) — the
    * cross-modal twin of [[q_training_mix]], wiring the pair gate
    * into the same composed, hash-checked chain the text corpus
    * ships through: (image, caption) pairs over the WIDE fixture
    * (the [[q_crossmodal_curation]] planted wrong-alt-text noise at
    * [[CrossModalServeN]] = 120), CLIP-score gate (cos ≥ 0.999 —
    * drops the 24 planted mismatches), per-VISUAL-CLUSTER quota
    * (bounded-heap [[graft.plans.TopKPerKey]] keyed on the saved IVF
    * index's cell — the "cap near-identical visual clusters"
    * diversity rule, reusing the persisted coarse quantizer as the
    * cluster id), deterministic seeded shuffle into 4 shards, and
    * per-shard caption-length offsets. Each machine is hash-checked
    * elsewhere (curation gate, saved-IVF cells, TopKPerKey quota,
    * seeded shuffle); this row hash-checks the COMPOSITION. Scale
    * shape: decode/parse map-only, the pair join map-side 1:1, the
    * cell comes free off the saved index (no re-fit), bounded heaps
    * for the quota, ONE `shard` exchange — nothing global. */
  def q_crossmodal_mix(s: SparkSession, dir: String): DataFrame = {
    val n = CrossModalServeN
    val path = ensureClipIndex(s, n, nCells = 8, key = "crossmodal-clip-ivf")
    val (disk, _) = vector.Ivf.loadIndex(s, path)
    val caps = clipCaptionTable(s, n)
    // the raw crawl pair table: every id ≡ 4 (mod 5) pairs its image
    // with the NEXT id's caption (q_crossmodal_curation's noise)
    val pairs = disk.select(col("vec_id").as("pair_id"), col("embedding"),
      col("cell"),
      when(col("vec_id") % 5 === 4, (col("vec_id") + 1) % n)
        .otherwise(col("vec_id")).as("caption_id"))
    val gated = pairs.join(caps, "caption_id")
      .withColumn("cos_sim",
        round(vector.FloatVecExpr.dotF(col("embedding"), col("q_embedding")) /
          (vector.FloatVecExpr.normF(col("embedding")) *
            vector.FloatVecExpr.normF(col("q_embedding"))), 6))
      .filter(col("cos_sim") >= graft.multimodal.Multimodal.ClipGate)
      .withColumn("n_chars", length(col("caption")).cast("int"))
      .select(col("pair_id"), col("caption_id"), col("cell"),
        col("cos_sim"), col("n_chars"))
    val quota = graft.plans.TopKPerKey(gated, Seq(col("cell")),
      Seq(col("cos_sim").desc, col("pair_id")), 12)
    val h = conv(substring(md5(concat(lit("xmix-11|"),
      col("pair_id").cast("string"))), 1, 15), 16, 10).cast("long")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("shard")).orderBy(col("hkey"), col("pair_id"))
    quota.withColumn("hkey", h)
      .withColumn("shard", pmod(col("hkey"), lit(4L)).cast("int"))
      .withColumn("pos_in_shard", row_number().over(w))
      .withColumn("char_offset", coalesce(
        sum(col("n_chars").cast("long")).over(
          w.rowsBetween(org.apache.spark.sql.expressions.Window
            .unboundedPreceding, -1)), lit(0L)))
      .select(col("pair_id"), col("caption_id"), col("cell"),
        col("cos_sim"), col("shard"), col("pos_in_shard"),
        col("n_chars"), col("char_offset"))
      .orderBy(col("shard"), col("pos_in_shard"))
  }

  /** Audio-fingerprint near-dup ([[Multimodal.audioNearDup]]) — the
    * AUDIO twin of [[q_mm_phash]] and the third instance of the
    * banded candidate/confirm discipline: REAL WAV decode → 64-frame
    * integer energy-delta fingerprint (Chromaprint's shape, exact
    * longs) → four 16-bit band keys → band-join candidates → 63-bit
    * hamming confirm. Fixture: 30 crafted clips plus one-sample
    * variants (asset 1000+id, a sub-audible click), so the true pair
    * set is known; the oracle predicts every decoded sample from the
    * crafted formula and replays frames, energies, delta bits, bands
    * and the confirm. */
  def q_mm_afp(s: SparkSession, dir: String): DataFrame =
    Multimodal.audioNearDup(Multimodal.wavAssetsWithNearDups(s, 30), 3)
      .orderBy(col("id_a"), col("id_b"))

  /** REAL audio decode, oracle-checked end to end — the WAV twin of
    * [[q_mm_decode]]: 30 crafted 16-bit PCM clips (sample =
    * ((i·k) mod 65536) − 32768) are encoded through the JDK codec
    * (`AudioSystem.write`) and decoded back
    * ([[Multimodal.decodeWav]]), emitting rate, sample count,
    * integer signal stats and zero crossings. PCM is lossless and
    * every statistic integer, so DuckDB predicts all of it from the
    * sample formula with no audio library. */
  def q_mm_audio(s: SparkSession, dir: String): DataFrame =
    Multimodal.extractAudioFeatures(Multimodal.wavAssets(s, 30))
      .select(col("asset_id"), col("sample_rate"), col("n_samples"),
        col("s_sum"), col("s_min"), col("s_max"), col("zero_cross"))
      .sortedOnce("q_mm_audio")(col("asset_id"))

  /** REAL multi-frame (video-like) decode, oracle-checked — the
    * third modality: 24 crafted multi-frame GIFs (grayscale pixel =
    * (x·7 + y·13 + f·31 + id·17) mod 256 on an explicit 256-gray
    * palette, losslessly round-tripped by the JDK GIF codec) decode
    * to one row PER FRAME with true dims and total luminance
    * ([[Multimodal.extractVideoFrames]]); DuckDB predicts every value
    * from the pixel formula. */
  def q_mm_video(s: SparkSession, dir: String): DataFrame =
    Multimodal.extractVideoFrames(Multimodal.gifAssets(s, 24))
      .select(col("asset_id"), col("frame_no"), col("n_frames"),
        col("width"), col("height"), col("lum_sum"))
      .sortedOnce("q_mm_video")(col("asset_id"), col("frame_no"))

  /** Frame sampling over binary payloads (generator on binary). */
  def q_mm_frames(s: SparkSession, dir: String): DataFrame =
    Multimodal.sampleFrames(
      Multimodal.assetsFromDocuments(t(s, dir, "documents")))
      .select(col("asset_id"), col("frame_off"),
        decode(col("frame"), "UTF-8").as("frame_text"))
      .sortedOnce("q_mm_frames")(col("asset_id"), col("frame_off"))

  // ===== remaining SURVEY §2 coverage =====

  /** J3 — chunk↔document containment: every chunk located in its doc
    * (`chunk_visualizer.py:79-102`); with birth offsets the find is a
    * verification: locate(chunk, doc) is 1-based first occurrence. */
  def q_chunk_locate(s: SparkSession, dir: String): DataFrame =
    fixedChunks(s, dir)
      .join(t(s, dir, "documents").select(col("doc_id"), col("text").as("doc_text")),
        "doc_id")
      .select(col("doc_id"), col("chunk_index"), col("start"),
        call_function("locate", col("text"), col("doc_text")).as("found_pos"),
        (call_function("locate", col("text"), col("doc_text")) <= col("start") + 1
          && call_function("locate", col("text"), col("doc_text")) > 0)
          .as("found_at_or_before_start"))
      .orderBy(col("doc_id"), col("chunk_index"))

  /** J2 — positional zip: pair the nth order with the nth customer
    * (reference `zip(extracted_folders, year_quarters)`), via
    * row_number join — the distributed analog of index pairing. */
  def q_positional_zip(s: SparkSession, dir: String): DataFrame = {
    val wo = Window.orderBy(col("o_orderkey"))
    val wc = Window.orderBy(col("c_custkey"))
    val o = t(s, dir, "orders").filter(col("o_orderkey") < 100)
      .select(col("o_orderkey"), row_number().over(wo).as("rn"))
    val c = t(s, dir, "customer").filter(col("c_custkey") < 100)
      .select(col("c_custkey"), row_number().over(wc).as("rn"))
    o.join(c, "rn").select(col("rn"), col("o_orderkey"), col("c_custkey"))
      .orderBy(col("rn"))
  }

  /** V4/W3/A10 — cited context assembly: top-3 longest chunks per doc
    * (deterministic stand-in for retrieval rank), numbered and joined
    * with "\n\n" exactly like `chromadb_rag.py:148-152`. */
  def q_context_assembly(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(desc("char_length"), col("chunk_index"))
    fixedChunks(s, dir)
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 3)
      .withColumn("cited",
        concat(lit("Source ["), col("rank"), lit("] ("), col("source"),
          lit("): "), col("text")))
      .groupBy(col("doc_id"))
      .agg(concat_ws("\n\n",
        transform(sort_array(collect_list(struct(col("rank"), col("cited")))),
          x => x.getField("cited"))).as("context"))
      .orderBy(col("doc_id"))
  }

  /** The synthesized OCR response both OCR rows read: every document
    * of at least 2 chars split at `n_chars / 2` into two pages
    * (doc_id, page_no 0/1, page_text). */
  private def ocrPages(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .filter(col("n_chars") >= 2)
      .select(col("doc_id"), col("text"), (col("n_chars") / 2).cast("int").as("half"),
        col("n_chars").cast("int").as("n"))
      .select(col("doc_id"),
        posexplode(array(
          col("text").substr(lit(1), col("half")),
          col("text").substr(col("half") + 1, col("n") - col("half"))))
          .as(Seq("page_no", "page_text")))

  /** C5 + F8/F9/F10/F11 — OCR-response flatten: synthesized two-page
    * markdown with one embedded image per page (models the Mistral
    * OCR shape, `MistralTest.py:33-39, 66-86`): explode pages,
    * rewrite image links, extract extension with `.jpeg` default,
    * number images sequentially, round-trip the payload via base64. */
  def q_ocr_flatten(s: SparkSession, dir: String): DataFrame = {
    ocrPages(s, dir)
      .withColumn("image_id",
        concat(lit("img-"), col("doc_id"), lit("-"), col("page_no"),
          when(col("page_no") === 0, lit(".png")).otherwise(lit(""))))
      .withColumn("markdown",
        concat(lit("!["), col("image_id"), lit("]("), col("image_id"),
          lit(") "), col("page_text")))
      // F11 global counter: the reference's `global_counter` is a
      // sequence over EVERY page of every document, so a plain
      // `row_number() OVER (ORDER BY ...)` would funnel the whole
      // corpus through one partition. The distributed prefix sum of
      // 1s over the unique (doc_id, page_no) order key is the same
      // number (= row_number - 1 + 1) without the bottleneck. The
      // key doc_id * 2 + page_no is unique only because ocrPages emits
      // pages 0 and 1; a third page would tie and share a prefix.
      .transform(df => graft.rel.PrefixSum.exclusivePrefixSum(
        df, col("doc_id").cast("long") * 2 + col("page_no"), lit(1L), "img_seq0"))
      .withColumn("img_seq", (col("img_seq0") + 1).cast("int"))
      .drop("img_seq0")
      .withColumn("ext", // F10: suffix or default .jpeg
        coalesce(nullif(regexp_extract(col("image_id"), "(\\.[^.]+)$", 1), lit("")),
          lit(".jpeg")))
      .withColumn("img_file", // F11 naming {base}_img_{counter}{ext}
        concat(lit("doc_img_"), col("img_seq"), col("ext")))
      .withColumn("markdown_rewritten", // F8 link rewrite
        call_function("replace", col("markdown"),
          concat(lit("!["), col("image_id"), lit("]("), col("image_id"), lit(")")),
          concat(lit("!["), col("image_id"), lit("](/images/"), col("img_file"),
            lit(")"))))
      .withColumn("payload_b64", // F9 data-URI strip + decode round-trip
        regexp_replace(base64(encode(col("page_text"), "UTF-8")), "[\\r\\n]", ""))
      .withColumn("payload_ok",
        decode(unbase64(regexp_replace(
          concat(lit("data:image/png;base64,"), col("payload_b64")),
          "^data:[^,]*,", "")), "UTF-8") === col("page_text"))
      .select(col("doc_id"), col("page_no"), col("image_id"), col("img_seq"),
        col("ext"), col("img_file"), col("markdown_rewritten"), col("payload_ok"))
      .orderBy(col("doc_id"), col("page_no"))
  }

  /** S10 — chunk-JSON sink, hash-checked since r6: the JSON is a
    * canonical string build ([[ChunkStats.chunkJson]] — explicit
    * field order, integer rendering, fixed escapes) so the DuckDB
    * oracle reproduces it byte-for-byte; golden shape still pinned by
    * ChunkStatsSpec. */
  def q_chunk_json(s: SparkSession, dir: String): DataFrame =
    ChunkStats.chunkJson(fixedChunks(s, dir)).orderBy(col("strategy"))

  /** §2.7 set ops — unionByName of two differently-ordered slices +
    * last-write-wins dedup (the multi-quarter corpus assembly shape). */
  def q_union_dedup(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val a = docs.filter(col("doc_id") < 60)
      .select(col("doc_id"), col("source"), col("n_chars"))
    val b = docs.filter(col("doc_id") >= 40 && col("doc_id") < 100)
      .select(col("n_chars"), col("doc_id"), col("source")) // different order
    a.unionByName(b.select(col("doc_id"), col("source"), col("n_chars")))
      .dropDuplicates("doc_id")
      .orderBy(col("doc_id"))
  }

  /** P9 — column-exclusion filter applied to documents (drops the
    * `_id`-suffixed column; the reference derives filter widgets only
    * for surviving columns). */
  def q_excluded_columns(s: SparkSession, dir: String): DataFrame =
    Rel.excludeColumns(t(s, dir, "documents"))
      .orderBy(col("source"), col("n_chars"), col("text"))

  /** A8 cardinality gate — distinct counts + categorical flag per
    * candidate filter column (reference: categorical iff <15
    * distinct, `Frontend/app.py:497-498`). */
  def q_cardinality_gate(s: SparkSession, dir: String): DataFrame = {
    val cust = t(s, dir, "customer")
    val ord = t(s, dir, "orders")
    cust.agg(countDistinct(col("c_mktsegment")).as("n_distinct"))
      .select(lit("c_mktsegment").as("column"), col("n_distinct"))
      .unionByName(ord.agg(countDistinct(col("o_orderpriority")).as("n_distinct"))
        .select(lit("o_orderpriority").as("column"), col("n_distinct")))
      .unionByName(ord.agg(countDistinct(col("o_custkey")).as("n_distinct"))
        .select(lit("o_custkey").as("column"), col("n_distinct")))
      .withColumn("categorical", col("n_distinct") < 15)
      .orderBy(col("column"))
  }

  /** A11 — success-flag sums: conditional aggregation over order
    * status (reference counts successful quarters the same way). */
  def q_success_counts(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders")
      .groupBy(col("o_orderpriority"))
      .agg(
        sum(when(col("o_orderstatus") === "F", 1).otherwise(0)).as("n_finished"),
        sum(when(col("o_orderstatus") =!= "F", 1).otherwise(0)).as("n_other"),
        count(lit(1)).as("n_total"))
      .orderBy(col("o_orderpriority"))

  /** J3/F18 closed — find-ALL-occurrences containment with the
    * per-document fuzzy fallback, the full reference visualizer
    * semantics (`chunk_visualizer.py:84-102`): every chunk maps to
    * EVERY position where it occurs in its document (duplicate chunks
    * are intentional); if a document yields no exact match at all,
    * each of its >30-char chunks is located by its first 30 chars
    * instead (`find(chunk[:30])`). Chunks of doc_id % 7 == 0 carry an
    * out-of-alphabet sentinel suffix so the fallback branch really
    * executes. Positions are 1-based (`locate` convention);
    * end_pos = start_pos + len(chunk). The position scan is a per-row
    * higher-order filter — embarrassingly parallel; the only shuffles
    * are the doc join and the per-doc flag window (both on doc_id). */
  def q_chunk_occurrences(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
      .select(col("doc_id"), col("text").as("doc_text"))
    val chunks = fixedChunks(s, dir)
      .select(col("doc_id"), col("chunk_index"),
        when(col("doc_id") % 7 === 0, concat(col("text"), lit("\u0001")))
          .otherwise(col("text")).as("text"))
      // empty-needle guard (mirrored in the oracle): the kernel defines
      // indexesOf("", doc) as zero matches while the all-positions HOF
      // form matches every position — keep empty chunks out of both
      .filter(length(col("text")) > 0)
    // scan-from-previous-match kernel (graft.text.StrExpr): linear in
    // doclen + matches instead of the old all-positions HOF's
    // O(doclen·chunklen) compares + per-row position-array build;
    // value-identical (overlaps included), still embarrassingly
    // parallel, and the DuckDB oracle remains the independent
    // all-positions scan
    val joined = chunks.join(docs, "doc_id")
      .withColumn("clen", length(col("text")))
      .withColumn("positions",
        graft.text.StrExpr.indexesOf(col("doc_text"), col("text")))
    val flagged = joined.withColumn("doc_has_exact",
      max(when(size(col("positions")) > 0, 1).otherwise(0))
        .over(Window.partitionBy(col("doc_id"))) === 1)
    val exact = flagged.filter(col("doc_has_exact"))
      .select(col("doc_id"), col("chunk_index"),
        explode(col("positions")).as("start_pos"), col("clen"),
        lit("exact").as("match_type"))
    val fuzzy = flagged.filter(!col("doc_has_exact") && col("clen") > 30)
      .withColumn("start_pos",
        call_function("locate",
          col("text").substr(lit(1), lit(30)), col("doc_text")))
      .filter(col("start_pos") > 0)
      .select(col("doc_id"), col("chunk_index"), col("start_pos"), col("clen"),
        lit("fuzzy").as("match_type"))
    exact.unionByName(fuzzy)
      .select(col("doc_id"), col("chunk_index"), col("start_pos"),
        (col("start_pos") + col("clen")).as("end_pos"), col("match_type"))
      .orderBy(col("doc_id"), col("start_pos"), col("chunk_index"))
  }

  /** Shared literal query set for the lexical-retrieval family —
    * terms drawn from the fixture corpus vocabulary. */
  private def lexQueries(s: SparkSession): DataFrame = {
    import s.implicits._
    Seq((0L, "join hash window stream"),
        (1L, "sort merge filter vector"),
        (2L, "spark query scan batch")).toDF("query_id", "qtext")
  }

  /** BM25 lexical top-k — the sparse complement of q_topk_cosine:
    * inverted-index retrieval expressed relationally (query terms
    * broadcast; only their posting lists move). [[graft.text.Bm25]]. */
  def q_bm25_topk(s: SparkSession, dir: String): DataFrame =
    graft.text.Bm25.topK(t(s, dir, "documents"), lexQueries(s), 5)
      .orderBy(col("query_id"), col("rank"))

  /** BM25 served from a SAVED inverted index — the
    * build-once-serve-many split that is the 100 TB usage pattern
    * (q_bm25_topk's cost is ~all index build). The index persists
    * bucket-partitioned postings/df (md5(term) % 64), so the three
    * query terms' buckets become a static partition filter on the
    * scan; build happens once per JVM ([[graft.text.Bm25
    * .ensureSavedIndex]]), then every serve is term-pruned reads
    * only. Same scores as q_bm25_topk (shared scoring tree), same
    * oracle SQL. */
  def q_bm25_indexed(s: SparkSession, dir: String): DataFrame = {
    val path = graft.text.Bm25.ensureSavedIndex(t(s, dir, "documents"), dir,
      epoch = tableEpoch(s, dir, "documents"))
    graft.text.Bm25.topKIndexed(
        graft.text.Bm25.loadIndex(s, path), lexQueries(s), 5)
      .orderBy(col("query_id"), col("rank"))
  }

  /** Hybrid retrieval via reciprocal-rank fusion (1/(60+rank)) of the
    * BM25 list and a token-set-Jaccard list — the standard
    * calibration-free way to combine a lexical and a similarity
    * ranking. */
  def q_hybrid_rrf(s: SparkSession, dir: String): DataFrame =
    graft.text.Bm25.hybridRrfTopK(t(s, dir, "documents"), lexQueries(s),
        5, depth = 10)
      .orderBy(col("query_id"), col("rank"))

  /** Near-dup RESOLUTION — minhash candidate pairs clustered into
    * connected components (iterative min-label propagation,
    * [[graft.dedup.Clusters]]) with one canonical keeper per cluster
    * (longest text, doc_id tiebreak). The step the pair generators
    * leave open: a~b~c is ONE duplicate group even when (a,c) never
    * collided in a band. DuckDB oracle computes the same components
    * by recursive transitive closure. */
  def q_dup_clusters(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    graft.dedup.Clusters.canonicalizeComp(docs, sigComponents(s, dir))
      .orderBy(col("cluster_id"), col("doc_id"))
  }

  /** The signature-index component map, resolved ONCE per corpus
    * epoch ([[graft.dedup.Clusters.ensureComponents]]) and shared by
    * every consumer of the saved signature index's near-dup clusters
    * (q_dup_clusters, q_corpus_filter/q_training_mix,
    * q_split_neardup/q_split_assign_delta — r20: each re-ran the
    * candidate self-join + union-find per invocation). */
  private def sigComponents(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val epoch = tableEpoch(s, dir, "documents")
    graft.dedup.Clusters.ensureComponents(s, s"sig-cc|$dir", epoch) {
      Dedup.candidatesFromIndex(s.read.parquet(
        Dedup.ensureSavedSignatureIndex(docs, dir, epoch = epoch)))
    }
  }

  /** Embedding-side near-dup RESOLUTION — the vector twin of
    * [[q_dup_clusters]]: sign-LSH candidate pairs (md5 planes, fully
    * DuckDB-replayable since r5) at a threshold the fixture actually
    * populates, closed transitively into components, smallest vec_id
    * as the canonical keeper. Composes two independently
    * oracle-checked stages (banded candidates + recursive closure)
    * into one end-to-end hash-checked row. */
  def q_dup_clusters_embedding(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    val pairs = Ann.signLshNearDup(emb, cosThreshold = 0.45)
      .select(col("id_a").as("doc_a"), col("id_b").as("doc_b"))
    val comp = graft.dedup.Clusters.connectedComponents(pairs)
    val w = Window.partitionBy(col("cluster_id"))
    comp.select(col("node").as("vec_id"), col("comp").as("cluster_id"))
      .withColumn("cluster_size", count(lit(1)).over(w).cast("int"))
      .withColumn("is_canonical", col("vec_id") === col("cluster_id"))
      .orderBy(col("cluster_id"), col("vec_id"))
  }

  /** DSIR importance weights ([[graft.textan.Dsir]], Xie et al.
    * 2023) — the data-SELECTION stage: every document scored by how
    * much its hashed-bigram distribution looks like the target slice
    * (here lang = 'en') vs the raw corpus. Output is exact integer
    * microunits — zero float discipline. Hash-checked: DuckDB replays
    * tokenization, bucket hashing, both smoothed LMs and the
    * microunit reduction. */
  def q_dsir_weights(s: SparkSession, dir: String): DataFrame =
    graft.textan.Dsir.importanceWeights(
        t(s, dir, "documents"), col("lang") === "en")
      .orderBy(col("doc_id"))

  /** DSIR SELECTION — the last mile of [[q_dsir_weights]]: the top
    * K = 10 documents per source by importance weight, capped through
    * the bounded-heap [[graft.plans.TopKPerKey]] (never a per-source
    * global sort). Weights are exact integers, so ranking needs no
    * rounding discipline; ties break on doc_id. The paper's Gumbel
    * resampling is replaced by deterministic rank selection
    * (documented adaptation — the engine is reproducible end to
    * end). */
  def q_dsir_select(s: SparkSession, dir: String): DataFrame = {
    val K = 10
    val w = graft.textan.Dsir.importanceWeights(
      t(s, dir, "documents"), col("lang") === "en")
    val scored = w.join(
      t(s, dir, "documents").select(col("doc_id"), col("source")), "doc_id")
    val kept = graft.plans.TopKPerKey(scored, Seq(col("source")),
      Seq(col("logw_micro").desc, col("doc_id")), K)
    val win = Window.partitionBy(col("source"))
      .orderBy(desc("logw_micro"), col("doc_id"))
    kept.withColumn("rank", row_number().over(win))
      .select(col("source"), col("rank"), col("doc_id"), col("logw_micro"))
      .orderBy(col("source"), col("rank"))
  }

  /** FROZEN-LM DSIR scoring — the oracle-checked form of the
    * streaming scorer ([[graft.streaming.DocStreams
    * .dsirScoreAgainstStatic]]): the hashed LMs freeze over a HISTORY
    * slice (doc_id % 10 < 8 — sf-independent), and the held-out slice
    * scores through the stateless per-row kernel
    * ([[graft.textan.Dsir.scoreExpr]] — the exact closed form a
    * continuous-ingest pipeline applies to documents the LMs have
    * never seen; buckets absent from the history LM smooth to the
    * add-one floor). DuckDB replays the frozen LMs and the held-out
    * scoring end to end, so the scorer's tokenizer/md5/rounding
    * parity is hash-checked, not just spec-pinned. */
  def q_dsir_frozen(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val (lm, tt, tq) = graft.textan.Dsir.collectLm(
      docs.filter(pmod(col("doc_id"), lit(10)) < 8), col("lang") === "en")
    graft.streaming.DocStreams.dsirScoreAgainstStatic(
        docs.filter(pmod(col("doc_id"), lit(10)) >= 8), lm, tt, tq)
      .orderBy(col("doc_id"))
  }

  /** Link-graph QUALITY PRIOR ([[graft.rel.LinkGraph]]) — 3-round
    * integer PageRank over the deterministic synthetic out-link
    * table (doc i → (131·i + 37k) mod N, the modeled S1 scrape link
    * structure): the Common-Crawl-style endorsement signal a curator
    * mixes into document quality scores. Every rank is an exact
    * long microunit — the damped-walk round is integer truncating
    * division plus an order-free long sum, so DuckDB replays the
    * three rounds as three chained CTEs and hash-matches. Scale
    * shape: out-degree rides each persisted edge, one shuffle per
    * round, fixed round count — and the catalog row SERVES from the
    * epoch'd saved rank table ([[graft.rel.LinkGraph
    * .ensureSavedRanks]]): build once per corpus version, read many
    * (longs round-trip parquet exactly, so the serve is
    * bit-identical to the inline walk — spec-pinned). */
  def q_pagerank(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val path = graft.rel.LinkGraph.ensureSavedRanks(docs,
      cacheKey = s"pagerank-$dir",
      epoch = tableEpoch(s, dir, "documents"))
    s.read.parquet(path).orderBy(col("doc_id"))
  }

  /** Graph-aware QUALITY PRIOR — the blended keep-score a
    * Common-Crawl-class pipeline derives per document: 60% content
    * quality ([[q_quality_score]]'s checked heuristic) + 40%
    * link-graph endorsement ([[q_pagerank]]'s rank, normalized by
    * the corpus max — one broadcast 1-row aggregate). Both
    * ingredients are independently hash-checked; this row checks the
    * blend. Integer discipline: quality (already 4dp) scales to
    * microunits via round-then-cast (never a bare cast of a
    * float product), the pagerank share is one truncating division,
    * the blend another. */
  def q_quality_prior(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    // serve the graph side from the SAME saved rank table as
    // q_pagerank (build once per corpus version, blend many)
    val path = graft.rel.LinkGraph.ensureSavedRanks(docs,
      cacheKey = s"pagerank-$dir",
      epoch = tableEpoch(s, dir, "documents"))
    val pr = s.read.parquet(path).select(col("doc_id"), col("pr"))
    val q = TextAnalysis.withQuality(docs)
      .select(col("doc_id"), col("quality"))
    val mx = pr.agg(max(col("pr")).as("max_pr"))
    q.join(pr, "doc_id").crossJoin(broadcast(mx))
      .withColumn("qk_micro", round(col("quality") * 1000000, 0).cast("long"))
      .withColumn("npr_micro", expr("(1000000 * pr) div max_pr"))
      .withColumn("score_micro",
        expr("(6 * qk_micro + 4 * npr_micro) div 10"))
      .select(col("doc_id"), col("qk_micro"), col("npr_micro"),
        col("score_micro"))
      .orderBy(col("doc_id"))
  }

  /** Tokenizer FERTILITY report — the per-language tokens/char and
    * tokens/word table every tokenizer evaluation publishes (high
    * fertility on a language = that language pays more sequence
    * budget per character). Rides the ORACLE-CHECKED BPE chain
    * ([[q_bpe_tokens]]'s per-doc counts — trained and applied on
    * this corpus), rolled up per lang with exact integer sums and
    * two truncating divisions into microunits. */
  def q_tokenizer_fertility(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val sig = bpeTokenSignals(docs,
      mergeKey = Some((s"bpe-$dir", tableEpoch(s, dir, "documents"))))
      .select(col("doc_id"), col("n_bpe_tokens"), col("n_regex_tokens"))
    docs.select(col("doc_id"), col("lang"), col("n_chars"))
      .join(sig, "doc_id")
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_bpe_tokens")).cast("long").as("bpe_tokens"),
        sum(col("n_regex_tokens")).cast("long").as("regex_tokens"),
        sum(col("n_chars")).cast("long").as("n_chars"))
      .withColumn("fert_char_micro",
        expr("(1000000 * bpe_tokens) div n_chars"))
      .withColumn("fert_word_micro",
        expr("(1000000 * bpe_tokens) div regex_tokens"))
      .orderBy(col("lang"))
  }

  /** Leak-proof train/val/test assignment — the split stage every
    * evaluation pipeline needs: the split is a pure function of the
    * document's exact-dup CLUSTER representative (min doc_id per
    * text md5), so byte-identical copies can never straddle
    * train/test (the canonical contamination-by-split bug).
    * 90/5/5 via the same 16-bit md5 bucket as
    * [[graft.rel.Sampling]] — reproducible across runs,
    * partitionings and re-ingestion, no RNG. Only (md5, doc_id)
    * pairs shuffle; swapping the representative for
    * [[graft.dedup.Clusters]]' near-dup component id upgrades the
    * guarantee to near-duplicates with the same shape. */
  def q_split_leakproof(s: SparkSession, dir: String): DataFrame = {
    val fp = t(s, dir, "documents")
      .select(col("doc_id"), md5(col("text")).as("text_md5"))
    val rep = fp.groupBy(col("text_md5"))
      .agg(min(col("doc_id")).as("rep"))
    fp.join(rep, "text_md5")
      .withColumn("bucket", graft.rel.Sampling.hashBucket(col("rep")))
      .withColumn("split", graft.rel.Sampling.splitOf(col("bucket")))
      .select(col("doc_id"), col("rep"), col("bucket"), col("split"))
      .orderBy(col("doc_id"))
  }

  /** NEAR-dup leak-proof split — [[q_split_leakproof]] upgraded to
    * the leak that actually matters after exact dedup: the split key
    * is the doc's minhash-candidate CONNECTED COMPONENT id
    * (singletons key on themselves), so near-duplicate rewrites
    * can't straddle train/test either. Composes two already
    * hash-checked stages (the saved signature index's banded
    * candidates + the recursive-closure clustering of
    * [[q_dup_clusters]]) with the same md5-bucket split math; the
    * corpus shuffles only ids and 16-byte keys. */
  def q_split_neardup(s: SparkSession, dir: String): DataFrame =
    splitNeardupFrame(s, dir).orderBy(col("doc_id"))

  /** [[q_split_neardup]] WITHOUT its output sort — what
    * [[q_split_assign_delta]] freezes (r20: the twin only reads
    * (doc_id, rep), and the sorted form's range partitioner pays a
    * sampling pass that re-executes the docs ⋈ components join for
    * an ordering the frozen-map aggregation immediately discards). */
  private def splitNeardupFrame(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val comp = sigComponents(s, dir)
    docs.select(col("doc_id"))
      .join(comp, docs("doc_id") === comp("node"), "left")
      .withColumn("rep", coalesce(col("comp"), col("doc_id")))
      .withColumn("bucket", graft.rel.Sampling.hashBucket(col("rep")))
      .withColumn("split", graft.rel.Sampling.splitOf(col("bucket")))
      .select(col("doc_id"), col("rep"), col("bucket"), col("split"))
  }

  /** LEAK-PROOF SPLIT ASSIGNMENT of an arriving delta — the batch
    * face of [[graft.streaming.DocStreams.splitAssignAgainstStatic]]
    * as an oracle-checked catalog row (r19 verdict #5 upgraded to
    * the house discipline: the twin's whole path is deterministic
    * md5 math, so DuckDB replays it bit for bit). The frozen state
    * is [[q_split_neardup]]'s own rep assignment plus the saved
    * signature index's band keys; the DELTA is derived from the
    * corpus in both engines identically — exact copies of docs < 25
    * (+500000, must inherit their original's rep and split),
    * suffixed near-dups of docs < 10 (+550000, ' zz near dup tail' —
    * inherit iff a band survives the suffix, whichever way the
    * shared md5 math lands), md5-text fresh docs (+600000, a
    * one-token text that matches nothing — singletons), and one
    * blank doc (700001 — no keys, singleton). Every arriving doc
    * left-joins the frozen band-key → min-rep map per band and
    * inherits the smallest matched rep ([[graft.dedup.Dedup
    * .minhashBandKeyArray]] per row — the streaming projection); the
    * same twin function serves this batch frame and the unbounded
    * stream (DocStreamsSpec pins stream == batch). */
  def q_split_assign_delta(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = t(s, dir, "documents")
    val path = Dedup.ensureSavedSignatureIndex(docs, dir,
      epoch = tableEpoch(s, dir, "documents"))
    val delta = docs
      .filter(col("doc_id") < 25 && trim(col("text")) =!= "")
      .select((col("doc_id") + 500000L).as("doc_id"), col("text"))
      .unionByName(docs
        .filter(col("doc_id") < 10 && trim(col("text")) =!= "")
        .select((col("doc_id") + 550000L).as("doc_id"),
          concat(col("text"), lit(" zz near dup tail")).as("text")))
      .unionByName(docs.filter(col("doc_id") < 10)
        .select((col("doc_id") + 600000L).as("doc_id"),
          md5(col("text")).as("text")))
      .unionByName(Seq((700001L, "")).toDF("doc_id", "text"))
    graft.streaming.DocStreams.splitAssignAgainstStatic(delta,
        s.read.parquet(path), splitNeardupFrame(s, dir))
      .orderBy(col("doc_id"))
  }

  /** SOFT dedup — duplicate-aware training weights instead of drops
    * (the "count each duplicated document once in expectation"
    * policy): every doc weighs floor(1e6 / cluster_size) microunits,
    * so an n-copy cluster contributes ≈1 effective document. The
    * per-source report (docs, distinct fingerprints, effective docs)
    * is the shrinkage table a curator reads before setting mixture
    * weights. Exact integers end to end — cluster sizes are counts,
    * the weight is one truncating division, the rollup a long sum. */
  def q_dedup_weights(s: SparkSession, dir: String): DataFrame = {
    val fp = t(s, dir, "documents")
      .select(col("doc_id"), col("source"), md5(col("text")).as("text_md5"))
    val sz = fp.groupBy(col("text_md5"))
      .agg(count(lit(1)).as("csize"))
    fp.join(sz, "text_md5")
      .withColumn("w_micro", expr("1000000 div csize"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(col("text_md5")).as("n_distinct"),
        sum(col("w_micro")).as("eff_docs_micro"))
      .orderBy(col("source"))
  }

  /** Deterministic messy-URL synthesis keyed on `keyName` (a long
    * column): seven variant shapes per 7-key block (incl. a
    * scheme-less passthrough and bare no-`=` tracking params) — shared by
    * [[q_url_canonical]] and [[q_cdx_dedup]], mirrored verbatim in
    * the oracle's CASE chain. */
  private def messyUrl(keyName: String): Column = {
    val g = expr(s"$keyName div 7").cast("string")
    val h = (expr(s"$keyName div 7") % 7).cast("string")
    val c = col(keyName) % 7
    when(c === 0, concat(lit("HTTPS://WWW.Example.COM:443/docs/g"),
        g, lit("?utm_source=feed&b=2&a=1#sec")))
      .when(c === 1, concat(lit("https://www.example.com/docs/g"),
        g, lit("?a=1&b=2")))
      .when(c === 2, concat(lit("http://Host"), h,
        lit(".example.org:80/p/g"), g, lit("/")))
      .when(c === 3, concat(lit("http://host"), h,
        lit(".example.org/p/g"), g))
      .when(c === 4, concat(lit("https://cdn.example.net/a"), g,
        lit("?gclid=x&utm_campaign=z")))
      // r14: scheme-less path — canonical() must pass it through
      // UNCHANGED (the frontier-consumer guard, ADVICE r13)
      .when(c === 5, concat(lit("/docs/rel/g"), g, lit("?x=1")))
      // r14: tracking params WITHOUT '=' (bare fbclid / utm_) are
      // still dropped; the real param survives
      .otherwise(concat(lit("https://cdn.example.net/b"), g,
        lit("?fbclid&utm_&x=1")))
  }

  /** URL canonicalization ([[graft.rel.Urls]]) — the ingest
    * normalization before URL-keyed dedup: seven deterministic messy
    * variants per 7-doc block (uppercase scheme/host, default ports,
    * tracking params, fragments, trailing slashes) collapse to their
    * canonical forms, and `n_same_canon` shows the collapse (messy
    * pairs land on one key). Pure codegen'd string/array expressions
    * — no UDF — and the window is partitioned by the canonical key,
    * so the count never funnels the corpus through one task. */
  def q_url_canonical(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("canon"))
    t(s, dir, "documents")
      .select(col("doc_id"), messyUrl("doc_id").as("url"))
      .withColumn("canon", graft.rel.Urls.canonical(col("url")))
      .withColumn("n_same_canon", count(lit(1)).over(w))
      .select(col("doc_id"), col("url"), col("canon"), col("n_same_canon"))
      .orderBy(col("doc_id"))
  }

  /** Crawl-frontier politeness scheduling — the stage between URL
    * canonicalization and the fetcher: canonical URLs dedup
    * first-wins (one fetch per page), every RELATIVE/scheme-less
    * entry is dropped (never fetchable), and each host's queue is
    * spaced `2 s` apart (`fetch_at_sec = (host_rank − 1) × 2`) — the
    * per-host politeness contract every crawler honors. Both windows
    * are HOST-/CANON-partitioned (the natural frontier partitioning:
    * per-host state is one queue, never the corpus), so the shape is
    * two keyed exchanges and no global sort before the output order.
    * Hash-checked: the oracle replays canonicalization, the
    * first-wins dedup, and both partitioned windows. */
  def q_crawl_frontier(s: SparkSession, dir: String): DataFrame = {
    val u = t(s, dir, "documents")
      .select(col("doc_id"), messyUrl("doc_id").as("url"))
      .withColumn("canon", graft.rel.Urls.canonical(col("url")))
      .withColumn("host",
        regexp_extract(col("canon"), "^[a-z][a-z0-9+.-]*://([^/?#]*)", 1))
      .filter(col("host") =!= "")
    val wC = Window.partitionBy(col("canon")).orderBy(col("doc_id"))
    val kept = u.withColumn("__rn", row_number().over(wC))
      .filter(col("__rn") === 1).drop("__rn")
    val wH = Window.partitionBy(col("host")).orderBy(col("doc_id"))
    kept
      .withColumn("host_rank", row_number().over(wH).cast("int"))
      .withColumn("fetch_at_sec",
        ((col("host_rank") - 1) * 2).cast("long"))
      .withColumn("n_host_queue",
        count(lit(1)).over(Window.partitionBy(col("host"))).cast("int"))
      .select(col("doc_id"), col("host"), col("canon"), col("host_rank"),
        col("fetch_at_sec"), col("n_host_queue"))
      .orderBy(col("doc_id"))
  }

  /** CDX-style recrawl dedup — the CommonCrawl index discipline:
    * a fetch is a duplicate iff an EARLIER fetch of the same
    * canonical URL returned byte-identical content
    * ((canon, digest) first-wins; a changed page under the same URL
    * is a new revision, identical content at a different URL is NOT
    * collapsed — mirror detection is [[q_dedup_exact]]'s job). The
    * fetch log models revisits: every doc once, docs <100 re-fetched
    * unchanged (dup), docs 100–149 re-fetched with edited content
    * (kept as revisions). Composes [[graft.rel.Urls.canonical]] with
    * the md5 digest; the only shuffle is the (canon, digest)-keyed
    * window — text never self-joins. */
  def q_cdx_dedup(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
    // ONE corpus scan (r21 — was three union legs, each re-reading
    // documents; guide §2.4/§6): every doc emits its original fetch
    // plus its modeled revisits from one pass — a null-sloted struct
    // array exploded and filtered. Row set is identical to the union
    // (same fetch_ids, same texts), so the window and the oracle are
    // unchanged.
    val legs = array(
      struct(col("doc_id").as("fetch_id"), col("text").as("text")),
      when(col("doc_id") < 100,
        struct((col("doc_id") + 50000L).as("fetch_id"),
          col("text").as("text"))),
      when(col("doc_id") >= 100 && col("doc_id") < 150,
        struct((col("doc_id") + 60000L).as("fetch_id"),
          concat(col("text"), lit(" updated")).as("text"))))
    val w = Window.partitionBy(col("canon"), col("digest"))
    docs.select(col("doc_id").as("url_key"), explode(legs).as("f"))
      .filter(col("f").isNotNull)
      .select(col("f.fetch_id").as("fetch_id"), col("url_key"),
        col("f.text").as("text"))
      .withColumn("canon", graft.rel.Urls.canonical(messyUrl("url_key")))
      .withColumn("digest", md5(col("text")))
      .withColumn("keeper_id", min(col("fetch_id")).over(w))
      .withColumn("keep", (col("fetch_id") === col("keeper_id")).cast("int"))
      .select(col("fetch_id"), col("canon"), col("digest"), col("keep"),
        col("keeper_id"))
      .orderBy(col("fetch_id"))
  }

  /** Incoming ANCHOR-TEXT profile per document — the classic
    * web-quality signal (what the rest of the corpus calls this
    * page), aggregated from the same deterministic link table as
    * [[q_pagerank]] with q_url_parse's modeled link text. One
    * shuffle on the target id; the per-target state is a bounded
    * set (≤4 distinct anchor strings), sorted before joining so the
    * profile is partitioning-independent. */
  def q_anchor_text(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    graft.rel.LinkGraph.syntheticEdges(docs, fanout = 3)
      .withColumn("anchor", concat(lit("Q"),
        (col("src") % 4 + 1).cast("string"), lit(" Report")))
      .groupBy(col("dst").as("doc_id"))
      .agg(count(lit(1)).as("n_inlinks"),
        countDistinct(col("anchor")).as("n_uniq_anchors"),
        array_join(array_sort(collect_set(col("anchor"))), "|")
          .as("anchor_profile"))
      .orderBy(col("doc_id"))
  }

  /** Line-level exact dedup ([[Dedup.lineDedup]]) — the C4-class
    * boilerplate-removal stage: first occurrence of every 10-token
    * line wins corpus-wide, later copies are cut, documents
    * reassembled. Hash-checked: the oracle replays segmentation, the
    * md5-keyed first-wins window, and the reassembled text's md5. */
  def q_line_dedup(s: SparkSession, dir: String): DataFrame =
    Dedup.lineDedup(t(s, dir, "documents")).orderBy(col("doc_id"))

  /** Fixture-augmented embedding corpus for [[q_semdedup]]: the base
    * table plus, for vec_id < 40, a planted near-duplicate twin
    * (vec_id + 100000) whose FIRST dimension is halved — a float-exact
    * perturbation (double multiply by 0.5, cast back to float: both
    * steps exact in IEEE, so both engines compute it bit-identically)
    * with cosine ≈ 0.99 to its base. The raw fixture's max pairwise
    * cosine is ≈0.51 ([[q_near_dup_signlsh]]), so the planted pair
    * set is the KNOWN truth the dedup must recover. */
  private def semDedupCorpus(emb: DataFrame): DataFrame =
    emb.select(col("vec_id"), col("embedding"))
      .unionByName(emb.filter(col("vec_id") < 40)
        .select((col("vec_id") + 100000L).as("vec_id"),
          transform(col("embedding"), (x, i) =>
            when(i === 0, (x.cast("double") * 0.5).cast("float"))
              .otherwise(x)).as("embedding")))

  /** SemDeDup ([[graft.dedup.SemDedup]], Abbas et al. 2023) — the
    * semantic-duplicate decision per vector: bounded-rounds k-means
    * cells (the q_topk_ivf fit, exact-integer replay), intra-cell
    * pairs only (the paper's cost bound), ε = 0.95 as an exact
    * integer predicate on the int8 lattice (400·dot² ≥ 361·‖a‖²‖b‖²),
    * transitive closure, smallest-id keeper. Hash-checked end to end:
    * DuckDB replays the k-means rounds, the integer threshold, and
    * the closure over the same planted-twin corpus. Since r13 the
    * fit SERVES from a memoized saved bounded index over the
    * augmented corpus (epoch-vouched, the q_topk_ivf discipline):
    * the rounds+1 fit scans run once per corpus version, every later
    * dedup call reads assignments off the `partitionBy("cell")`
    * layout — qv ints and cell ids round-trip parquet losslessly, so
    * the decision stage and the oracle are unchanged. */
  def q_semdedup(s: SparkSession, dir: String): DataFrame = {
    val corpus = semDedupCorpus(t(s, dir, "embeddings"))
    val path = vector.Ivf.ensureSavedBoundedIndex(corpus, nCells = 8,
      rounds = 2, cacheKey = s"semdedup-$dir",
      epoch = tableEpoch(s, dir, "embeddings"))
    val (assigned, _) = vector.Ivf.loadIndex(s, path)
    graft.dedup.SemDedup.semanticDedupAssigned(assigned,
        compKey = Some((s"semdedup-cc-$dir",
          tableEpoch(s, dir, "embeddings"))))
      .orderBy(col("vec_id"))
  }

  /** [[q_semdedup]] at the SCALE geometry — the oracle-checked row
    * for the production cell count instead of the fixed-8 fixture
    * geometry: nCells = max(8, ⌊√n⌋) over the augmented corpus. With
    * exact argmin assignment the total cost (assignment n·c +
    * intra-cell pairs ~n²/c) is minimized at c ≈ √n, and the
    * SCALE_STRESS `semdedup_cells` ladder confirms the shape on the
    * 100× tile (8 cells 622 s → 800 cells 15.0 s; √n there is ~710).
    * Both engines derive the count from the same table and IEEE
    * sqrt/floor are exactly rounded, so the geometry — and therefore
    * every k-means round, pair decision, and closure label — replays
    * bit-identically. SemDeDup's paper geometry (nCells ∝ n) makes
    * the pair stage linear but the exact assignment quadratic; √n is
    * the balanced exact-assignment point, and an approximate
    * assigner (itself an ANN serve) is what buys ∝ n at extreme
    * scale. */
  def q_semdedup_scaled(s: SparkSession, dir: String): DataFrame = {
    val corpus = semDedupCorpus(t(s, dir, "embeddings"))
    val nCells = math.max(8,
      math.floor(math.sqrt(corpus.count().toDouble)).toInt)
    val path = vector.Ivf.ensureSavedBoundedIndex(corpus, nCells = nCells,
      rounds = 2, cacheKey = s"semdedup-scaled-$dir",
      epoch = tableEpoch(s, dir, "embeddings"))
    val (assigned, _) = vector.Ivf.loadIndex(s, path)
    graft.dedup.SemDedup.semanticDedupAssigned(assigned,
        compKey = Some((s"semdedup-scaled-cc-$dir|$nCells",
          tableEpoch(s, dir, "embeddings"))))
      .orderBy(col("vec_id"))
  }

  /** The halve-dimension-1 float-exact perturbation shared by every
    * planted-twin fixture (double multiply by 0.5 then cast back —
    * both IEEE-exact). */
  private def halveDim1(v: Column): Column =
    transform(v, (x, i) =>
      when(i === 0, (x.cast("double") * 0.5).cast("float")).otherwise(x))

  /** Incremental-batch fixture for [[q_semdedup_incremental]]: 25
    * planted twins of history vectors (vec_id + 200000, dim 1
    * halved — must resolve against HISTORY), 10 fresh vectors
    * (vec_id + 300000, the embedding REVERSED — a reversed
    * near-random vector matches nothing, so they stay fresh), and 5
    * intra-batch duplicates (vec_id + 400000, reversed THEN dim 1
    * halved — ε-close only to their +300000 sibling, testing the
    * within-batch first-wins rule). Reversal and halving are
    * element-exact in both engines. */
  private def semDedupBatch(emb: DataFrame): DataFrame = {
    val e = emb.select(col("vec_id"), col("embedding"))
    e.filter(col("vec_id") < 25)
      .select((col("vec_id") + 200000L).as("vec_id"),
        halveDim1(col("embedding")).as("embedding"))
      .unionByName(e.filter(col("vec_id") >= 25 && col("vec_id") < 35)
        .select((col("vec_id") + 300000L).as("vec_id"),
          reverse(col("embedding")).as("embedding")))
      .unionByName(e.filter(col("vec_id") >= 25 && col("vec_id") < 30)
        .select((col("vec_id") + 400000L).as("vec_id"),
          halveDim1(reverse(col("embedding"))).as("embedding")))
  }

  /** Incremental SemDeDup
    * ([[graft.dedup.SemDedup.semanticDedupIncremental]]) — the
    * continuous-ingest mode: fit frozen on history, the delta batch
    * assigns map-side and resolves ε-duplicates against same-cell
    * history first (smallest id), then earlier batch rows; no refit,
    * no corpus reshuffle, no closure (the q_dedup_incremental
    * discipline at ε). Hash-checked: DuckDB replays the history
    * k-means, the batch derivation + assignment, both pair scans and
    * the precedence. */
  def q_semdedup_incremental(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    // the frozen history fit IS q_topk_ivf's saved bounded index
    // (same corpus, same nCells/rounds, same cache key): continuous
    // ingest serves the fit from disk — zero history scans per batch
    val path = vector.Ivf.ensureSavedBoundedIndex(emb, nCells = 8,
      rounds = 2, cacheKey = s"ivf-bounded-$dir",
      epoch = tableEpoch(s, dir, "embeddings"))
    val (histAssigned, cents) = vector.Ivf.loadIndex(s, path)
    graft.dedup.SemDedup.semanticDedupIncrementalAssigned(
        histAssigned, cents,
        semDedupBatch(emb.select(col("vec_id"), col("embedding"))))
      .orderBy(col("vec_id"))
  }

  /** Train/test contamination report — 3-token-shingle overlap of a
    * held-out slice (doc_id % 50 == 0) against the rest of the
    * corpus: the standard pre-training decontamination check. The
    * held-out side is broadcast (eval sets are small); the corpus
    * side's shingles stream past it, and only matching pairs reach
    * the aggregation. */
  def q_contamination(s: SparkSession, dir: String): DataFrame = {
    // both sides read the shingled corpus from the saved signature
    // index (`sh` = the same per-doc distinct shingle arrays over the
    // same non-blank docs) — the tokenize+shingle pass is the shared
    // build, and each side is a thin two-column parquet scan
    val sigPath = Dedup.ensureSavedSignatureIndex(t(s, dir, "documents"), dir,
      epoch = tableEpoch(s, dir, "documents"))
    val docs = s.read.parquet(sigPath)
      .select(col("doc_id"), col("sh"))
      .withColumn("n_sh", size(col("sh")))
    val test = docs.filter(col("doc_id") % 50 === 0)
      .select(col("doc_id").as("test_id"), col("n_sh").as("n_test"),
        explode(col("sh")).as("shingle"))
    val train = docs.filter(col("doc_id") % 50 =!= 0)
      .select(col("doc_id").as("train_id"), col("n_sh").as("n_train"),
        explode(col("sh")).as("shingle"))
    train.join(broadcast(test), "shingle")
      .groupBy(col("test_id"), col("train_id"), col("n_test"), col("n_train"))
      .agg(count(lit(1)).cast("int").as("shared"))
      .filter(col("shared") >= 2)
      .withColumn("jaccard", round(
        col("shared").cast("double") /
          (col("n_test") + col("n_train") - col("shared")), 4))
      .select(col("test_id"), col("train_id"), col("shared"), col("jaccard"))
      .orderBy(col("test_id"), col("train_id"))
  }

  /** Decontamination REMOVAL — the q_substr_dedup analog for
    * train/test overlap: detection ([[q_contamination]]'s ≥2-shared-
    * shingle pairs) composed with the drop decision a pretraining
    * pipeline actually executes. One row per TRAIN document: how many
    * held-out documents it collides with, the keep/drop verdict, and
    * the kept content's md5 ('' when dropped) — so the cleaned
    * corpus is pinned byte for byte, not just counted. Scale shape is
    * q_contamination's (eval side broadcast, corpus shingles never
    * shuffle) plus one aggregate on the matching pairs and a
    * left-anti-style join back to the corpus — the removal itself
    * adds no corpus-wide exchange. */
  def q_decontaminate(s: SparkSession, dir: String): DataFrame = {
    val hits = q_contamination(s, dir)
      .groupBy(col("train_id").as("doc_id"))
      .agg(count(lit(1)).cast("int").as("n_test_matches"))
    t(s, dir, "documents").filter(col("doc_id") % 50 =!= 0)
      .join(hits, Seq("doc_id"), "left")
      .withColumn("n_test_matches", coalesce(col("n_test_matches"), lit(0)))
      .withColumn("keep", (col("n_test_matches") === 0).cast("int"))
      .withColumn("content_md5",
        when(col("keep") === 1, md5(col("text"))).otherwise(lit("")))
      .select(col("doc_id"), col("n_test_matches"), col("keep"),
        col("content_md5"))
      .orderBy(col("doc_id"))
  }

  /** The saved CDC block table for `dir`'s documents
    * ([[graft.text.chunk.CdcChunker.ensureSavedBlocks]]). */
  private def cdcBlocksEnsured(s: SparkSession, dir: String): String =
    graft.text.chunk.CdcChunker.ensureSavedBlocks(
      t(s, dir, "documents"), s"cdc-$dir",
      epoch = tableEpoch(s, dir, "documents"))

  /** Content-defined chunking over the corpus
    * ([[graft.text.chunk.CdcChunker]]): one row per CDC block with
    * its token start, length and content md5. Cut decisions are
    * local 3-gram md5 conditions — position-independent, so edits
    * only disturb blocks touching the edit (CdcSpec pins the
    * insertion-robustness contract); expected block length 8 tokens.
    * Scan-stage hashing plus ONE per-doc window + the same-keyed
    * block aggregate — no global window, no corpus-wide exchange
    * beyond the doc_id shuffle. */
  def q_chunk_cdc(s: SparkSession, dir: String): DataFrame =
    graft.text.chunk.CdcChunker.blocks(t(s, dir, "documents"))
      .select(col("doc_id"), col("block_index"), col("token_start"),
        col("n_tokens"), col("block_md5"))
      .sortedOnce("q_chunk_cdc")(col("doc_id"), col("block_index"))

  /** Block-level near-dup pairs over the CDC blocks — the storage-
    * dedup view of document similarity: two documents are related by
    * every identical content block they share. Blocks occurring in
    * more than 50 documents are dropped as boilerplate before the
    * pair join (the same common-key cap discipline as the ANN band
    * joins — bucket fan-out stays bounded by real near-dup cluster
    * size, not by corpus-wide common phrases); pairs sharing ≥ 2
    * blocks survive. Complements shingle-Jaccard (q_minhash_*) and
    * embedding cosine (q_near_dup_*) with an exact-run signal that
    * localizes WHERE documents overlap. */
  def q_cdc_shared(s: SparkSession, dir: String): DataFrame = {
    // served from the saved CDC block table (r20): the per-char
    // rolling-hash kernel runs once per corpus epoch; this row reads
    // two thin columns off it (bit-identical rows by parquet
    // round-trip; q_chunk_cdc keeps pricing the kernel inline)
    val blocks = s.read.parquet(cdcBlocksEnsured(s, dir))
      .select(col("doc_id"), col("block_md5")).distinct()
    // the shuffle-hash pin, shared exchange and the nd <= 50
    // boilerplate guard (pair fan-out bounded by real cluster size,
    // not corpus-wide common blocks) all live in Banded
    graft.dedup.Banded.candidatePairs(blocks, Seq("block_md5"),
        maxKeyOccupancy = Some(50))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).cast("int").as("shared_blocks"))
      .filter(col("shared_blocks") >= 2)
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** Block-level dedup REMOVAL over the CDC blocks — the
    * [[q_substr_dedup]] analog at content-defined granularity (and
    * the complete detect→remove pair with [[q_cdc_shared]]): every
    * block keeps only its globally FIRST occurrence (smallest
    * (doc_id, block_index) — a per-block_md5 window, never global),
    * later occurrences are dropped, and each document re-emerges as
    * its kept blocks in order, pinned by md5 ('' when nothing
    * survives). This is how storage-style dedup trims a corpus
    * whose documents share long exact runs without dropping whole
    * near-dup documents. Scale: one block_md5-partitioned window
    * over the block table + the per-doc ordered concat — both
    * shuffle thin block rows, never the corpus text. */
  def q_cdc_dedup(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // saved CDC block table, as in q_cdc_shared (r20)
    val blocks = s.read.parquet(cdcBlocksEnsured(s, dir))
    val w = Window.partitionBy(col("block_md5"))
      .orderBy(col("doc_id"), col("block_index"))
    val kept = blocks
      .withColumn("rn", row_number().over(w))
      .withColumn("keep", (col("rn") === 1).cast("int"))
    kept.groupBy(col("doc_id"))
      .agg(count(lit(1)).cast("int").as("n_blocks"),
        sum(col("keep")).cast("int").as("n_kept"),
        concat_ws(" ", transform(
          array_sort(collect_list(when(col("keep") === 1,
            struct(col("block_index"), col("block_text"))))),
          x => x.getField("block_text"))).as("cleaned_text"))
      .select(col("doc_id"), col("n_blocks"), col("n_kept"),
        when(col("n_kept") === 0, lit(""))
          .otherwise(md5(col("cleaned_text"))).as("cleaned_md5"))
      .orderBy(col("doc_id"))
  }

  /** C2 oracle-checked — the recursive chunker's split/merge/overlap
    * machinery on a crafted multi-paragraph document with a token
    * budget small enough to force real work (the corpus-wide
    * [[q_chunk_recursive]] stays rows-only because fixture docs all
    * fit one chunk at the reference's 400-token budget, so its oracle
    * would only ever see the accept path). Budget 10 / overlap 3 over
    * 12 paragraphs of varying token counts exercises: depth-1
    * separator split, greedy merge to the budget, and the
    * trailing-overlap backup that re-seeds each next chunk. The
    * DuckDB oracle replays the same algorithm as a recursive CTE. */
  def q_chunk_recursive_crafted(s: SparkSession, dir: String): DataFrame = {
    val doc = (1 to 12).map { i =>
      val k = (i * 7) % 5 + 1
      s"p$i" + (" w" * k)
    }.mkString("\n\n")
    import s.implicits._
    val df = Seq((1L, "crafted", doc)).toDF("doc_id", "source", "text")
    RecursiveChunker(chunkSize = 10, overlap = 3).chunk(df)
      .select(col("doc_id"), col("chunk_index"), col("text"), col("start"),
        col("end"), col("char_length"), col("token_length"))
      .orderBy(col("chunk_index"))
  }

  /** Crafted corpus for the semantic-chunker oracle: 12 three-token
    * paragraphs in three topic clusters (A A A B B A A C C C B B), so
    * within-topic adjacent pieces share tokens (small cosine distance)
    * and topic transitions are near-orthogonal (large distance). Each
    * paragraph has EXACTLY minChunkTokens tokens, so the min-split
    * stage keeps one piece per paragraph — the split machinery is
    * already oracle-pinned by [[q_chunk_recursive_crafted]]; this
    * fixture isolates the breakpoint/threshold/merge stage. Shared
    * with [[Oracles]] so the SQL replays the identical document. */
  private[graft] val semanticCraftedParas: Seq[String] = Seq(
    "alpha beta gamma", "alpha gamma delta", "beta alpha gamma",
    "rocket engine thrust", "engine rocket nozzle",
    "alpha beta delta", "gamma beta alpha",
    "ocean wave tide", "wave ocean salt", "tide salt wave",
    "rocket thrust burn", "nozzle burn rocket")

  /** C3 oracle-checked — the semantic chunker's algorithmic core
    * (adjacent-piece cosine distances → histogram threshold selection
    * → breakpoint segmentation → merge, reference semantics
    * `chromadb_rag.py:75-93`, `kamredt_chunking.py:124-131`) on the
    * crafted doc above with INTEGER-LATTICE embeddings
    * ([[graft.vector.LatticeEmbedder]]): raw md5-bucket counts, no
    * normalization, so every dot/norm² is exact integer arithmetic
    * and the cosine distances are bit-identical in DuckDB regardless
    * of summation order. Since r8 the production row rides the same
    * trick (distances from the counts twin), so every semantic row is
    * hash-checked; this crafted entry keeps a human-readable fixture
    * where the topic transitions are visible by eye. */
  def q_chunk_semantic_crafted(s: SparkSession, dir: String): DataFrame = {
    val doc = semanticCraftedParas.mkString("\n\n")
    import s.implicits._
    val df = Seq((1L, "crafted", doc)).toDF("doc_id", "source", "text")
    SemanticChunker(avgChunkTokens = 6, minChunkTokens = 3,
      embedder = graft.vector.LatticeEmbedder(8)).chunk(df)
      .orderBy(col("chunk_index"))
  }

  /** J5 closed — WINDOW-BOUNDED pairwise text-overlap scorer: for
    * every chunk pair (i < j, j − i ≤ [[OverlapPairWindow]]) of a
    * document, the longest L where one chunk's L-char suffix equals
    * the other's L-char prefix, keeping non-trivial overlaps
    * (> 10 chars) — the character branch of
    * `chunk_visualizer.py:445-453`, which needs no birth offsets (the
    * interval variants in [[ChunkStats]] do). The per-pair scorer is
    * the KMP-automaton kernel [[graft.text.StrOps.longestAffixOverlap]]
    * — one linear pass per pair instead of the old HOF form's O(L²)
    * substring compares (the r5 audit's last hot spot); StrExprSpec
    * pins kernel==HOF on adversarial strings.
    *
    * The window bound is the giant-document policy the r11 row-skew
    * harness forced: UNBOUNDED all-pairs within a document is
    * O(chunks²) by definition, and since the self-join keys on
    * doc_id alone, one 50 MB document became ONE quadratic task no
    * partitioning could split (measured: the rowskew probe stalled
    * here for 100+ s at just 2 MB). Bounding to j − i ≤ 64 keeps the
    * entire J5 use case (stride/adjacency verification — overlap
    * between DISTANT chunks of a sliding-window chunker is
    * structurally meaningless) while making the scan O(chunks × 64),
    * and pair generation is BANDED on (doc_id, ⌊i/64⌋) — each j
    * probes its own and the previous band — so a giant document's
    * pairs spread across partitions instead of forming one straggler
    * task. The join is PINNED shuffle-hash (the [[graft.dedup.Banded]]
    * discipline, applied in place because the band probe is
    * asymmetric): left to the planner, a small-corpus statistics
    * estimate picks a broadcast join that preserves the stream side's
    * doc_id-alone partitioning — for one giant document that is ONE
    * task evaluating every KMP pair serially, and the r11 row-skew
    * probe measured the 5 MB giant SLOWER than the 50 MB one (22 vs
    * 9 s), whose bigger build side had crossed the broadcast
    * threshold into the parallel shuffle plan. Hash-partitioning both
    * sides on (doc_id, band) keeps the compute-dense KMP stage
    * spread across the ~chunks/64 bands at every size. The DuckDB
    * oracle applies the identical window, and the fixture
    * (≤ 577-char docs, ≤ 64 chunks each) is unaffected: hashes
    * unchanged. */
  val OverlapPairWindow = 64
  def q_text_overlap_pairs(s: SparkSession, dir: String): DataFrame = {
    val W = OverlapPairWindow
    val ch = fixedChunks(s, dir)
      .select(col("doc_id"), col("chunk_index"), col("text"))
    val a = ch.select(col("doc_id"), col("chunk_index").as("i"),
        col("text").as("ta"))
      .withColumn("band", floor(col("i") / W))
    val b = ch.select(col("doc_id"), col("chunk_index").as("j"),
        col("text").as("tb"))
      .withColumn("band",
        explode(array(floor(col("j") / W), floor(col("j") / W) - 1)))
    a.hint("shuffle_hash").join(b, Seq("doc_id", "band"))
      .filter(col("i") < col("j") && col("j") - col("i") <= W)
      .withColumn("max_overlap",
        graft.text.StrExpr.longestAffixOverlap(col("ta"), col("tb")))
      .filter(col("max_overlap") > 10)
      .select(col("doc_id"), col("i"), col("j"), col("max_overlap"))
      .orderBy(col("doc_id"), col("i"), col("j"))
  }

  /** S13/C5 real response shape — the OCR payload is
    * pages[].images[].{id, image_base64} with 0..n images per page:
    * `MistralTest.py:57-76` iterates `page.images` (so multi-image
    * pages exist) and pages with no images must survive the flatten.
    * Built as a real ARRAY<STRUCT> column and flattened with
    * posexplode_outer so zero-image pages keep a row with NULL image
    * fields; odd-indexed images carry a data-URI prefix to exercise
    * the strip (`MistralTest.py:70-72`). Complements [[q_ocr_flatten]]
    * (which covers link rewrite + the global counter). */
  def q_ocr_nested(s: SparkSession, dir: String): DataFrame = {
    def b64At(i: Column): Column =
      regexp_replace(
        base64(encode(col("page_text").substr(i, lit(16)), "UTF-8")),
        "[\\r\\n]", "")
    val withImgs = ocrPages(s, dir)
      .withColumn("n_imgs", ((col("doc_id") + col("page_no")) % 3).cast("int"))
      .withColumn("images",
        transform(slice(sequence(lit(1), lit(2)), lit(1), col("n_imgs")), i =>
          struct(
            concat(lit("img-"), col("doc_id"), lit("-"), col("page_no"),
              lit("-"), i).as("id"),
            concat(
              when(i % 2 === 1, lit("data:image/png;base64,")).otherwise(lit("")),
              b64At(i)).as("image_base64"))))
    withImgs
      .select(col("doc_id"), col("page_no"), col("n_imgs"),
        posexplode_outer(col("images")).as(Seq("img_idx", "img")))
      .select(col("doc_id"), col("page_no"), col("n_imgs"), col("img_idx"),
        col("img.id").as("img_id"),
        // int not boolean: a NULL (zero-image page) must canonicalize
        // the same way in Spark-parquet and DuckDB pandas renderings
        col("img.image_base64").startsWith("data:").cast("int").as("had_data_uri"),
        length(decode(unbase64(
          regexp_replace(col("img.image_base64"), "^data:[^,]*,", "")),
          "UTF-8")).as("payload_len"))
      .orderBy(col("doc_id"), col("page_no"), col("img_idx"))
  }
}
