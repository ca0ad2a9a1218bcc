package graft.tools

import org.apache.spark.sql.SparkSession

/** Dumps formatted physical plans for representative queries so plan
  * quality (pushdown, broadcast choice, codegen spans, shuffle count)
  * can be reviewed per round. Usage:
  *   sbt "runMain graft.tools.ExplainAudit /root/testdata/sf0.01"
  */
object ExplainAudit {
  val interesting = Seq(
    "q_chunk_fixed", "q_tpch_q1", "q_join_broadcast", "q_semi_join",
    "q_topk_cosine", "q_near_dup_cosine", "q_boundary_sweep",
    "q_minhash_candidates", "q_events_hourly", "q_window_topk",
    "q_token_shards", "q_sample_det",
    // round 4 additions: the two containment/overlap joins (shuffle
    // only on doc_id), the nested OCR explode_outer, and the
    // prefix-sum-based ocr_flatten (no unpartitioned window)
    "q_chunk_occurrences", "q_text_overlap_pairs", "q_ocr_nested",
    "q_ocr_flatten",
    // round 4b: lexical retrieval (postings semi-joined to broadcast
    // query terms) and the contamination broadcast shape
    "q_bm25_topk", "q_contamination",
    // round 5: md5-plane sign-LSH (narrow candidate/verify), the
    // saved-index BM25 serve (bucket partition pruning on the
    // postings scan), and the two crafted-oracle replays
    "q_signlsh_bands", "q_near_dup_signlsh", "q_bm25_indexed",
    "q_chunk_semantic_crafted", "q_topk_ivf_crafted",
    // round 5b: repetition signals (explode + two-level agg) and the
    // composed corpus keep/drop decision
    "q_repetition", "q_corpus_filter",
    // round 6: the IVF saved-index serve (static cell IN (...)
    // partition pruning on the loaded scan), the real-codec decode
    // pipeline (mapPartitions, no shuffle), and the affix-kernel
    // overlap join (doc_id-only shuffle, O(L) per pair)
    "q_topk_ivf_indexed", "q_mm_decode",
    // round 6b: salted-join spread, sequence packing on the prefix
    // sum, and the global heavy-hitter cut (TakeOrderedAndProject)
    "q_join_salted", "q_seq_pack", "q_top_ngrams",
    // round 6c: the quantized serving pattern (integer first pass,
    // float rerank on candidates only) and the delta-ingest dedup
    "q_topk_int8_rerank", "q_dedup_incremental",
    // round 6d: the two brief-named non-equi operators — as-of
    // (union + per-key window, no range explosion) and the binned
    // range join (equi on bucket + residual)
    "q_asof_join", "q_range_join",
    // round 6e: the other two real-codec modality pipelines
    "q_mm_audio", "q_mm_video",
    // round 7: the flagship e2e pipeline, the deterministic BRP keys
    // + candidate/confirm, the distributed bounded-rounds IVF (native
    // nearest-cell expression, map-side assignment), the corpus
    // recursive/semantic chunker rows (generator, no encoder
    // round-trip), exact-substring spans (hash-keyed islands), and
    // the MMR greedy re-rank
    "q_rag_e2e", "q_brp_keys", "q_near_dup_lsh", "q_topk_ivf",
    "q_chunk_recursive", "q_chunk_semantic_corpus", "q_substr_spans",
    "q_topk_mmr",
    // round 8: the production semantic row (fused per-doc kernel —
    // min-split + bucket + distance in ONE generator, no pre-cache
    // window exchange), and the decontamination removal (broadcast
    // eval side, pair aggregate, left join back)
    "q_chunk_semantic", "q_decontaminate",
    // round 8 late adds: mergeable sketches (HLL exact-integer
    // register sum; CMS counter grid) and the bigram-LM offset join
    "q_hll_distinct", "q_cms_topk", "q_bigram_logprob",
    // content-defined chunking: per-doc window only + block self-join
    "q_chunk_cdc", "q_cdc_shared",
    // round 10: the single-pass LM scorers — explode/window live
    // inside ONE InMemoryRelation per query, every consumer is an
    // InMemoryTableScan (QueriesSpec pins the shape)
    "q_unigram_logprob",
    // round 11: the giant-document split decision (Generate on the
    // scan stage) and the split-then-chunk composition (small docs
    // narrow, giant parts spread with a pinned partition count);
    // q_repetition (round-5 entry) now shows the native per-row
    // kernel — scan → project, zero aggregation state
    "q_doc_split", "q_chunk_recursive_split",
    // round 11 corpus controls: quota capping through the bounded
    // heap (TopKPerKey above the quality scan, window only on the
    // <= K survivors) and the tercile bucketing (histogram aggregate
    // + literal thresholds, no global ntile window)
    "q_domain_quota", "q_quality_buckets",
    // round 12: the split-policy consumers after the existence probe
    // (giant-free fixture → the exact unsplit plans) and the BPE
    // encode cache between projection and output sort
    "q_chunk_semantic", "q_bpe_tokens",
    // round 12 PQ tier: codes-only ADC serve (broadcast distance
    // tables, window on query_id) and the IVF+PQ composition
    // (broadcast probed-cell join replacing the cross join)
    "q_topk_pq", "q_topk_ivfpq", "q_topk_ivfpq_indexed",
    // continuation: the residual serve and the composed training-data
    // materialization pipeline
    "q_topk_ivfpq_res", "q_training_mix",
    // round 13: SemDeDup (banded intra-cell pairs over the k-means
    // exchange, integer threshold), line dedup (fingerprint-keyed
    // first-wins window, no self-join), DSIR (broadcast hashed LMs —
    // the corpus never reshuffles by feature)
    "q_semdedup", "q_line_dedup", "q_dsir_weights",
    // round 13b: iterative integer PageRank (out-degree rides the
    // persisted edge frame; one shuffle per round) and the
    // cluster-keyed leak-proof split (only (md5, id) shuffles)
    "q_pagerank", "q_split_leakproof",
    // r14: the new oracle rows + the rewritten giant-branch shapes
    "q_retrieval_metrics", "q_dup_containment", "q_html_extract",
    // r15: the external-vocab encode (shared routing with
    // q_bpe_tokens) and the widened 20-query recall eval (serve +
    // brute truth + micro-averaged mean via a 1-row broadcast)
    "q_bpe_real_vocab", "q_ann_recall",
    // r16: the flat-PQ family now serves from the SAVED codes (zero
    // encode jobs above the serve — q_topk_pq's scan should be the
    // partitioned codes parquet), the rerank-funnel recall row, and
    // SemDeDup at the √n scale geometry (plan identical to q_semdedup
    // modulo the cell count baked into the saved-index build)
    "q_pq_recall", "q_pq_rerank_recall", "q_semdedup_scaled",
    // r17: the nProbe-vs-recall curve (three per-depth saved-index
    // serves sharing one persisted exact truth), the cross-modal
    // image↔caption funnel (real-decode embeddings on one side,
    // parsed caption tokens on the other, brute-cosine TopKPerKey),
    // and q_dup_containment after the merge hints (every
    // corpus-proportional side must show SortMergeJoin — the tile×10
    // AQE broadcast fluke regression check; q_dup_containment itself
    // is in the r14 entries above)
    "q_ivfpq_probe_recall", "q_crossmodal_topk",
    // r18: the cross-modal SAVED serves (both tiers must show the
    // saved index — a LocalTableScan over the raw-vector IVF's resident
    // copy, a static `cell IN (…)` filter on the codes read) and the
    // composed multimodal materialization (pair gate → TopKPerKey
    // quota on the saved cell → one `shard` exchange, nothing global)
    "q_crossmodal_indexed", "q_crossmodal_pq", "q_crossmodal_mix",
    // r19: the flagship composed onto the saved serve tier — the
    // WARM-epoch plan is the output sort over a LocalTableScan (the
    // context, assembled on the driver from the resident serve's
    // answer); NO context aggregate, NO store build (no chunk
    // Generate, no prefix-sum machinery) and no index scan may
    // appear anywhere in the plan
    "q_rag_e2e_indexed",
    // r19b/r20: the fusion-robustness eval, since r20 on the SAVED
    // serve pair (r19 verdict #2) — the warm plan must show the
    // cell-partitioned IVF corpus scan feeding the brute truth leg,
    // LocalTableScans for the resident IVF and BM25 lists, two
    // RRF fusions, and NO store build or k-means fit machinery
    // (no chunk Generate, no prefix-sum, no qv aggregate)
    "q_rag_fusion_overlap",
    // r20: delta split assignment — the frozen band→rep map must be
    // built from the saved signature index's thin (doc_id, bks) scan
    // (no shingle/signature recompute over history), the delta side
    // per-row band keys feeding 4 left joins, no windows anywhere
    "q_split_assign_delta")

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val spark = SparkSession.builder()
      .master(s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")}]")
      .config("spark.sql.shuffle.partitions",
        sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    interesting.foreach { name =>
      println(s"\n===================== $name =====================")
      graft.SparkEntry.queries(name)(spark, sfDir).explain("formatted")
    }
    spark.stop()
  }
}
