package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Smoke + semantic checks of the full catalog on sf0.001 (the t2
  * oracle equivalence itself is driver-run on sf0.01; parity is also
  * locally checked by tools/check_parity.py). */
class QueriesSpec extends AnyFunSuite with SparkTestBase {

  test("entry: flagship RAG slice returns a context per query") {
    val out = SparkEntry.entry(spark).collect()
    assert(out.length == 2) // two query texts
    assert(out.forall(_.getString(1).startsWith("Source [1] (")))
  }

  test("every declared query runs and yields a sane row count on sf0.001") {
    val counts = SparkEntry.queries.map { case (name, fn) =>
      name -> fn(spark, sf).count()
    }
    // legitimately empty at this sf: no dup texts, no ≥0.9-cos pairs,
    // and every customer has an order (so anti-join is empty)
    val mustBeNonEmpty = counts.keySet -- Set(
      "q_dedup_exact", "q_near_dup_cosine", "q_near_dup_lsh",
      "q_near_dup_signlsh", "q_ngram_jaccard", "q_anti_join")
    mustBeNonEmpty.foreach { n =>
      assert(counts(n) > 0, s"$n returned 0 rows")
    }
  }

  test("every oracleSql key has a matching queries key") {
    val missing = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(missing.isEmpty, s"oracle without query: $missing")
  }

  test("top-k retrieval: rank 1 of a self-query is the query vector itself") {
    val r = Queries.q_topk_cosine(spark, sf)
      .filter(col("rank") === 1)
      .select("query_id", "vec_id").collect()
    assert(r.forall(row => row.getLong(0) == row.getLong(1)))
  }

  test("q_ivfpq_probe_recall: monotone in probes; exhaustive probing == flat funnel") {
    val rows = Queries.q_ivfpq_probe_recall(spark, sf).collect()
    val hitByProbe = rows.map(r => r.getInt(0) -> r.getInt(1)).toMap
    assert(hitByProbe.keySet == Set(2, 4, 8))
    // EMPIRICAL under this fixture, not an invariant (r17 advice):
    // the ADC shortlist is capped at PqRerankShortlist per query, so
    // widening nProbe grows the candidate pool competing for the same
    // slots and can in principle displace a true neighbor that made
    // the shortlist at a smaller depth. The deterministic fixture
    // keeps the curve non-decreasing today; if a fixture/shortlist
    // change trips this line, re-measure before suspecting the serve.
    assert(hitByProbe(2) <= hitByProbe(4) && hitByProbe(4) <= hitByProbe(8))
    // nProbe == nCells probes every cell (zero pruning): the funnel
    // degenerates to the flat ADC shortlist -> exact rerank, so the
    // curve's ceiling must EQUAL q_pq_rerank_recall's total_hit —
    // pinning "the residual loss at nProbe=2 is cell pruning" as an
    // identity, not an attribution
    val flat = Queries.q_pq_rerank_recall(spark, sf)
      .select("total_hit").head().getInt(0)
    assert(hitByProbe(8) == flat,
      s"exhaustive-probe funnel (${hitByProbe(8)}) != flat funnel ($flat)")
  }

  test("q_rag_fusion_curve at the serve's probe depth counts q_rag_fusion_overlap's hits") {
    val p = graft.pipeline.RagPipeline.IndexedProbe
    val rung = Queries.q_rag_fusion_curve(spark, sf)
      .filter(col("n_probe") === p).collect()
    assert(rung.length == 1, s"no curve row at n_probe = $p")
    // both rows fuse the same dense leg (the indexed serve at
    // IndexedProbe) with the same lexical list, against the same exact
    // fusion: the rung's overlap is the sum of the overlap row's flags
    val inExact = Queries.q_rag_fusion_overlap(spark, sf)
      .agg(sum(col("in_exact"))).head().getLong(0)
    assert(rung.head.getInt(1) == inExact)
    val (_, _, _, lex, denseExact) = Queries.ragFusionLegs(spark, sf)
    val exactRows = graft.text.Bm25.rrfFuse(denseExact, lex,
      graft.pipeline.RagPipeline.TopK).count()
    assert(rung.head.getInt(2) == exactRows)
  }

  test("q_crossmodal_topk: planted image-caption pairs all recovered at rank 1") {
    val rows = Queries.q_crossmodal_topk(spark, sf).collect()
    assert(rows.length == Queries.CrossModalN * 3)
    // every caption's rank-1 asset is its planted image, through a
    // REAL PNG decode on one side and a REAL token parse on the other
    assert(rows.head.getDouble(5) == 1.0, "recall@1 != 1.0")
    val rank1 = rows.filter(_.getInt(1) == 1)
    assert(rank1.forall(r => r.getLong(2) == r.getLong(0)))
    // quantization noise keeps this retrieval, not an equality join:
    // matched-pair cosine is high but strictly below 1
    assert(rank1.forall(r => r.getDouble(3) > 0.999 && r.getDouble(3) < 1.0))
  }

  test("q_crossmodal_curation: the gate drops exactly the planted mismatched pairs") {
    val rows = Queries.q_crossmodal_curation(spark, sf).collect()
    assert(rows.length == Queries.CrossModalN)
    val (dropped, kept) = rows.partition(_.getInt(3) == 0)
    // ids = 4 (mod 5) carry the NEXT id's caption — the gate must
    // reject all of them and nothing else
    assert(dropped.map(_.getLong(0)).sorted.toSeq ==
      (0L until Queries.CrossModalN).filter(_ % 5 == 4))
    assert(kept.forall(r => r.getLong(1) == r.getLong(0)))
  }

  test("q_crossmodal_indexed: saved-IVF serve recovers 119/120 pairs; the miss is cell pruning") {
    val rows = Queries.q_crossmodal_indexed(spark, sf).collect()
    assert(rows.length == Queries.CrossModalServeN * 3)
    // recall@1 = 0.9917: one caption (16) probes 2 cells that miss
    // its image's cell — the honest coarse-tier pruning loss
    assert(rows.head.getDouble(5) == 0.9917)
    val rank1 = rows.filter(_.getInt(1) == 1)
    val misses = rank1.filter(r => r.getLong(2) != r.getLong(0))
    assert(misses.map(_.getLong(0)).toSeq == Seq(16L))
    // the miss is PRUNING, not ranking: the planted image appears
    // NOWHERE in query 16's results (its cell was never probed)
    assert(!rows.exists(r => r.getLong(0) == 16L && r.getLong(2) == 16L))
    // every hit is a real retrieval, not an equality join
    assert(rank1.filter(r => r.getLong(2) == r.getLong(0))
      .forall(r => r.getDouble(3) > 0.999 && r.getDouble(3) < 1.0))
  }

  test("q_crossmodal_pq: compressed serve loses nothing beyond the IVF row's cell pruning") {
    val pq = Queries.q_crossmodal_pq(spark, sf).collect()
    assert(pq.length == Queries.CrossModalServeN * 3)
    def misses(rows: Array[org.apache.spark.sql.Row]) = rows
      .filter(r => r.getInt(1) == 1 && r.getLong(2) != r.getLong(0))
      .map(_.getLong(0)).toSeq.sorted
    val ivf = Queries.q_crossmodal_indexed(spark, sf).collect()
    // the loss decomposition identity, cross-modally: both serves fit
    // the SAME coarse chain, the shortlist->exact refine recovers the
    // codebook half entirely at shortlist 16, so the compressed
    // serve's miss set EQUALS the raw-vector serve's (pure cell
    // pruning - query 16 on this fixture)
    assert(misses(pq) == misses(ivf) && misses(pq) == Seq(16L),
      s"pq misses ${misses(pq)} != ivf misses ${misses(ivf)}")
  }

  test("q_crossmodal_mix: gate drops planted mismatches, quota caps cells, offsets are per-shard prefix sums") {
    val rows = Queries.q_crossmodal_mix(spark, sf).collect()
    val n = Queries.CrossModalServeN
    // the 24 planted wrong-caption pairs (id = 4 mod 5) never survive
    // the gate; the per-cell quota then trims the survivors
    assert(rows.forall(_.getLong(0) % 5 != 4))
    assert(rows.forall(r => r.getLong(1) == r.getLong(0)))
    assert(rows.length <= n - n / 5)
    val byCell = rows.groupBy(_.getInt(2)).map(_._2.length)
    assert(byCell.forall(_ <= 12), s"cell over quota: $byCell")
    // char_offset is the exclusive per-shard prefix sum of n_chars in
    // (hkey, pair_id) order == pos_in_shard order
    rows.groupBy(_.getInt(4)).foreach { case (_, rs) =>
      val sorted = rs.sortBy(_.getInt(5))
      var acc = 0L
      sorted.foreach { r =>
        assert(r.getLong(7) == acc, s"offset mismatch at pair ${r.getLong(0)}")
        acc += r.getInt(6)
      }
    }
  }

  test("chunk queries agree on totals") {
    val chunks = Queries.q_chunk_fixed(spark, sf).count()
    val summary = Queries.q_chunk_summary(spark, sf)
      .select("chunk_count").head().getLong(0)
    assert(chunks == summary)
  }

  test("histogram counts sum to table size") {
    val total = Queries.q_histogram(spark, sf)
      .agg(sum("count")).head().getLong(0)
    val orders = spark.read.parquet(s"$sf/orders.parquet").count()
    assert(total == orders)
  }

  test("q_ocr_flatten: no unpartitioned window in the plan, seq still global") {
    val df = Queries.q_ocr_flatten(spark, sf)
    val globalWindows = df.queryExecution.optimizedPlan.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window
          if w.partitionSpec.isEmpty => w
    }
    assert(globalWindows.isEmpty,
      "global counter must go through the distributed prefix sum")
    // the prefix-sum-derived counter is exactly row_number over
    // (doc_id, page_no): 1..N with no gaps, monotone in that order
    val seqs = df.select("img_seq").orderBy("doc_id", "page_no")
      .collect().map(_.getInt(0))
    assert(seqs.toSeq == (1 to seqs.length))
  }

  test("catalog-wide plan gate: no unpartitioned Window outside the documented exception") {
    // q_positional_zip is the one sanctioned global sequence: its
    // inputs are bounded <100 rows by construction (SCALE.md §Global
    // sequences). Everything else must keep windows partitioned —
    // an unpartitioned Window funnels the corpus through ONE task.
    val allowed = Set("q_positional_zip")
    val offenders = SparkEntry.queries.collect {
      case (name, fn) if !allowed(name) =>
        val bad = fn(spark, sf).queryExecution.optimizedPlan.collect {
          case w: org.apache.spark.sql.catalyst.plans.logical.Window
              if w.partitionSpec.isEmpty => w
        }
        name -> bad.size
    }.filter(_._2 > 0)
    assert(offenders.isEmpty, s"unpartitioned windows in: $offenders")
  }

  test("catalog-wide schema gate: no DATE/TIMESTAMP columns in oracle-checked outputs") {
    // raw temporal values round-trip differently through the Spark
    // parquet dump vs DuckDB's reading of the same fixtures (tz,
    // unit, nanos) — a proven hash-compare footgun (FIXTURES.md).
    // Checked rows must emit epoch numerics or formatted strings.
    import org.apache.spark.sql.types.{DateType, TimestampType, TimestampNTZType}
    val offenders = SparkEntry.oracleSql.keySet.toSeq.sorted.flatMap { name =>
      SparkEntry.queries(name)(spark, sf).schema.fields.collect {
        case f if f.dataType == DateType || f.dataType == TimestampType
            || f.dataType == TimestampNTZType => s"$name.${f.name}"
      }
    }
    assert(offenders.isEmpty, s"temporal columns in checked outputs: $offenders")
  }

  test("q_chunk_occurrences: exact rows cover birth offsets; perturbed docs go fuzzy") {
    val occ = Queries.q_chunk_occurrences(spark, sf).collect()
    val byType = occ.groupBy(_.getString(4))
    // perturbed docs (doc_id % 7 == 0) can never match exactly
    assert(byType("exact").forall(_.getLong(0) % 7 != 0))
    assert(byType("fuzzy").forall(_.getLong(0) % 7 == 0))
    // every unperturbed chunk's birth offset appears among its matches
    val births = Queries.q_chunk_fixed(spark, sf)
      .filter(col("doc_id") % 7 =!= 0)
      .select(col("doc_id"), col("chunk_index"), (col("start") + 1).as("pos"))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2))).toSet
    val exactSet = byType("exact")
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2))).toSet
    assert(births.subsetOf(exactSet))
    // fuzzy rows locate the chunk's first-30-chars at its birth offset
    // (fixture texts don't repeat their openings)
    assert(byType("fuzzy").nonEmpty)
  }

  test("q_text_overlap_pairs: adjacent fixed chunks overlap by >= stride window") {
    val rows = Queries.q_text_overlap_pairs(spark, sf)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2)) -> r.getInt(3)).toMap
    val adjacent = Queries.q_chunk_fixed(spark, sf)
      .select("doc_id", "chunk_index", "char_length")
      .collect().map(r => (r.getLong(0), r.getInt(1)) -> r.getInt(2)).toMap
    val expected = adjacent.keys.filter { case (d, i) =>
      adjacent.contains((d, i + 1)) &&
        adjacent((d, i)) >= 51 && adjacent((d, i + 1)) >= 51
    }
    assert(expected.nonEmpty)
    expected.foreach { case (d, i) =>
      assert(rows.get((d, i, i + 1)).exists(_ >= 50),
        s"adjacent pair ($d,$i,${i + 1}) missing or overlap < 50")
    }
  }

  test("q_domain_quota: quota binds via the bounded-heap operator, ranks valid") {
    val df = Queries.q_domain_quota(spark, sf)
    // the custom TopKPerKey physical operator carries the corpus pass
    // — no per-domain full sort survives into the plan
    assert(df.queryExecution.executedPlan.toString.contains("TopKPerKey"),
      "expected the bounded-heap TopKPerKey operator in the plan")
    val rows = df.collect()
    val bySrc = rows.groupBy(_.getString(0))
    assert(bySrc.values.forall(_.length <= 8))
    assert(bySrc.values.exists(_.length == 8), "quota never binds on the fixture")
    bySrc.values.foreach { rs =>
      val ranked = rs.sortBy(_.getInt(1))
      assert(ranked.map(_.getInt(1)).toSeq == (1 to ranked.length))
      // quality non-increasing down the ranks
      ranked.sliding(2).foreach {
        case Array(a, b) => assert(a.getDouble(3) >= b.getDouble(3))
        case _ =>
      }
    }
  }

  test("q_quality_buckets: terciles bounded, score-ordered, histogram-thresholded") {
    val rows = Queries.q_quality_buckets(spark, sf).collect()
    val n = rows.length
    assert(n > 0)
    val by = rows.groupBy(_.getString(4))
    assert(by.getOrElse("head", Array.empty).length <= n / 3)
    assert(by.getOrElse("tail", Array.empty).length <= n / 3)
    assert(by.keySet.subsetOf(Set("head", "middle", "tail")))
    def scores(b: String) = by.getOrElse(b, Array.empty).map(_.getDouble(2))
    // bucket ORDER holds on scores: head >= middle >= tail at the edges
    for (h <- scores("head").minOption; m <- scores("middle").maxOption)
      assert(h >= m - 20.0 / 4096, s"head min $h < middle max $m")
    for (m <- scores("middle").minOption; t <- scores("tail").maxOption)
      assert(m >= t - 20.0 / 4096, s"middle min $m < tail max $t")
  }

  test("LM scoring queries tokenize the corpus once (r10 single-pass gate)") {
    // q_unigram_logprob: the scoring join, the vocab rollup, and the
    // corpus total all read the persisted per-(doc, term) count frame
    // — the explode lives only inside that InMemoryRelation, so the
    // outer plan must show cache scans and ZERO Generate nodes. AQE
    // is disabled for the assertion only (stable static plans).
    val aqe = spark.conf.get("spark.sql.adaptive.enabled")
    try {
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      val uni = Queries.q_unigram_logprob(spark, sf).queryExecution.executedPlan
      val uniScans = uni.collect {
        case s: org.apache.spark.sql.execution.columnar.InMemoryTableScanExec => s }
      val uniGens = uni.collect {
        case g: org.apache.spark.sql.execution.GenerateExec => g }
      assert(uniScans.size >= 3, s"expected >=3 InMemoryTableScan, plan:\n$uni")
      assert(uniGens.isEmpty,
        s"explode must live inside the cached frame only, plan:\n$uni")

      // q_bigram_logprob: the vocabulary counts (read 3x) and the
      // per-(doc, a, b) bigram counts (read 2x) are each persisted —
      // every multi-consumer frame reads an InMemoryRelation, so no
      // explode or window may remain in the outer plan (each runs
      // exactly once, inside its cached frame).
      val bi = Queries.q_bigram_logprob(spark, sf).queryExecution.executedPlan
      val biScans = bi.collect {
        case s: org.apache.spark.sql.execution.columnar.InMemoryTableScanExec => s }
      val biGens = bi.collect {
        case g: org.apache.spark.sql.execution.GenerateExec => g }
      val biWins = bi.collect {
        case w: org.apache.spark.sql.execution.window.WindowExec => w }
      assert(biScans.size >= 4, s"expected >=4 InMemoryTableScan, plan:\n$bi")
      assert(biGens.isEmpty && biWins.isEmpty,
        s"explode/window must live inside the cached frames only, plan:\n$bi")
    } finally {
      spark.conf.set("spark.sql.adaptive.enabled", aqe)
      spark.sharedState.cacheManager.clearCache()
    }
  }

  test("repetitionSignals: giant-doc split branch equals the per-row kernel") {
    import spark.implicits._
    val rnd = new scala.util.Random(12L)
    val vocab = Vector("alpha", "beta", "gamma", "delta", "eps")
    val docs = Seq(
      (1L, "spark row filter spark row filter spark row"),
      (2L, ("ab cd " * 40).trim), // heavy 2-gram repetition
      (3L, (1 to 200).map(_ => vocab(rnd.nextInt(vocab.size))).mkString(" ")),
      (4L, "one two three four five six seven eight nine ten"),
      (5L, ""), // token-less giant: the explode_outer sentinel path
      (6L, null.asInstanceOf[String]))
      .toDF("doc_id", "text")
      // force EVERY doc onto the branch under test via fake n_chars
      .withColumn("n_chars", lit(1000L))
    // tiny strides: many pieces per doc, boundary grams (lookahead)
    // and the (doc, n, gram) merge all genuinely exercised
    for (pieceChars <- Seq(7, 64)) {
      val split = Queries.repetitionSignals(docs,
        splitChars = 10L, pieceChars = pieceChars)
        .collect()
      val whole = Queries.repetitionSignals(docs,
        splitChars = Long.MaxValue).collect()
      assert(split.length == whole.length,
        s"row count diverged at pieceChars=$pieceChars")
      split.zip(whole).foreach { case (a, b) =>
        assert(a == b, s"pieceChars=$pieceChars: $a != $b")
      }
    }
  }

  test("bpeTokenSignals: giant-doc exploded encode equals the per-row UDF") {
    import spark.implicits._
    val docs = Seq(
      (1L, "low lower lowest low low"),
      (2L, ("ab aab cd " * 40).trim),
      (3L, "solo"),
      (4L, ""),
      (5L, null.asInstanceOf[String]))
      .toDF("doc_id", "text")
      .withColumn("n_chars", lit(1000L)) // force giant routing
      .withColumn("source", lit("s"))
    val split = Queries.bpeTokenSignals(docs, splitChars = 10L).collect()
    val whole = Queries.bpeTokenSignals(docs,
      splitChars = Long.MaxValue).collect()
    assert(split.length == whole.length)
    split.zip(whole).foreach { case (a, b) => assert(a == b) }
  }

  test("q_repetition / q_tfidf_keywords plan gates (r11 rewrites)") {
    // the two worst ratios of r10's 10x scale probe, both rewritten to
    // shapes whose state no longer grows with the corpus — pin the
    // shapes so a refactor can't silently reintroduce the old plans.
    // AQE off for stable static plans (assertion only).
    val aqe = spark.conf.get("spark.sql.adaptive.enabled")
    try {
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      // the sortedOnce discipline (r12) caches the result below the
      // output sort, so the kernel plan lives inside the
      // InMemoryRelation — expand caches before asserting shapes
      def deepCollect[T](p: org.apache.spark.sql.execution.SparkPlan)(
          pf: PartialFunction[org.apache.spark.sql.execution.SparkPlan, T]): Seq[T] = {
        val cached = p.collect {
          case s: org.apache.spark.sql.execution.columnar.InMemoryTableScanExec =>
            s.relation.cachedPlan
        }
        p.collect(pf) ++ cached.flatMap(deepCollect(_)(pf))
      }
      // q_repetition on a giant-free corpus (every fixture): the
      // existence probe routes to the r11 single-branch plan — pure
      // scan -> project, cached once (sortedOnce), ONE range exchange
      // (the output sort): no explode, no aggregate, no dead union.
      val rep = Queries.q_repetition(spark, sf).queryExecution.executedPlan
      assert(deepCollect(rep) {
        case g: org.apache.spark.sql.execution.GenerateExec => g }.isEmpty,
        s"q_repetition must not explode grams, plan:\n$rep")
      assert(deepCollect(rep) {
        case a: org.apache.spark.sql.execution.aggregate.BaseAggregateExec => a }.isEmpty,
        s"q_repetition must carry no aggregation state, plan:\n$rep")
      // allowed shuffles (cache-expanded): the corpus loader's own
      // doc_id spread (REPARTITION_BY_NUM, present under every
      // documents consumer) and the output sort's range exchange —
      // NOTHING gram-keyed.
      val repShuffles = deepCollect(rep) {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e }
      assert(repShuffles.size <= 2 && repShuffles.forall(e =>
          e.outputPartitioning.isInstanceOf[
            org.apache.spark.sql.catalyst.plans.physical.RangePartitioning] ||
          e.shuffleOrigin ==
            org.apache.spark.sql.execution.exchange.REPARTITION_BY_NUM),
        s"q_repetition may shuffle only for the loader spread and the " +
          s"output sort, plan:\n$rep")
      // with a giant present the union shape appears, and the CORPUS
      // side of it keeps the per-row kernel (no gram explode/agg)
      locally {
        import spark.implicits._
        val mixed = Seq((1L, "alpha beta gamma", 16L),
            (2L, ("w " * 40).trim, 79L))
          .toDF("doc_id", "text", "n_chars")
        val giantPlan = Queries.repetitionSignals(mixed,
          splitChars = 50L, pieceChars = 8).queryExecution.executedPlan
        val union = deepCollect(giantPlan) {
          case u: org.apache.spark.sql.execution.UnionExec => u }
        assert(union.size == 1,
          s"giant corpus must produce the small∪giant union, plan:\n$giantPlan")
        val corpusSide = union.head.children.head
        assert(corpusSide.collect {
          case g: org.apache.spark.sql.execution.GenerateExec => g }.isEmpty &&
          corpusSide.collect {
            case a: org.apache.spark.sql.execution.aggregate.BaseAggregateExec => a
          }.isEmpty,
          s"corpus side of the union must stay per-row, plan:\n$corpusSide")
      }

      // q_tfidf_keywords: postings is read from the persisted frame
      // (explode lives inside it), every join is broadcast (dfreq and
      // stats are vocabulary-bounded), and the per-doc window rides
      // the cached doc_id layout — the only non-broadcast-side
      // shuffles are bounded aggregates/sort, never a re-exchange of
      // postings by term.
      val tf = Queries.q_tfidf_keywords(spark, sf).queryExecution.executedPlan
      assert(tf.collect {
        case g: org.apache.spark.sql.execution.GenerateExec => g }.isEmpty,
        s"explode must live inside the cached postings frame, plan:\n$tf")
      assert(tf.collect {
        case s: org.apache.spark.sql.execution.columnar.InMemoryTableScanExec => s }
        .size >= 2, s"postings consumers must read the cache, plan:\n$tf")
      assert(tf.collect {
        case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec => j
        case j: org.apache.spark.sql.execution.joins.ShuffledHashJoinExec => j }
        .isEmpty, s"tfidf joins must all be broadcast, plan:\n$tf")
      // postings must never reshuffle: outside broadcast subtrees
      // (dfreq's own term aggregate lives under one) the only hash
      // exchange allowed is none; the output sort's range exchange is.
      def nonBroadcastShuffles(p: org.apache.spark.sql.execution.SparkPlan)
          : Seq[org.apache.spark.sql.execution.exchange.ShuffleExchangeExec] =
        p match {
          case _: org.apache.spark.sql.execution.exchange.BroadcastExchangeExec =>
            Seq.empty
          case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec =>
            e +: e.children.flatMap(nonBroadcastShuffles)
          case other => other.children.flatMap(nonBroadcastShuffles)
        }
      val tfShuffles = nonBroadcastShuffles(tf)
      assert(tfShuffles.forall(e =>
          e.outputPartitioning.isInstanceOf[
            org.apache.spark.sql.catalyst.plans.physical.RangePartitioning] ||
          e.shuffleOrigin ==
            org.apache.spark.sql.execution.exchange.REPARTITION_BY_NUM),
        s"postings must keep its cached doc_id layout (no hash re-exchange " +
          s"outside broadcast branches), plan:\n$tf")
    } finally {
      spark.conf.set("spark.sql.adaptive.enabled", aqe)
      spark.sharedState.cacheManager.clearCache()
    }
  }

  test("q_ocr_nested: zero-image pages survive explode_outer; data-URI on odd images") {
    val rows = Queries.q_ocr_nested(spark, sf).collect()
    val zeroImg = rows.filter(_.getInt(2) == 0)
    assert(zeroImg.nonEmpty)
    assert(zeroImg.forall(r => r.isNullAt(3) && r.isNullAt(4)))
    val withImg = rows.filter(_.getInt(2) > 0)
    assert(withImg.exists(_.getInt(2) == 2)) // multi-image pages exist
    withImg.foreach { r =>
      assert(r.getInt(5) == (if (r.getInt(3) == 0) 1 else 0)) // had_data_uri
      assert(!r.isNullAt(6)) // payload decodes
    }
  }

  test("q_classifier_filter plan gate: probe keeps giant-free corpora per-row") {
    // same discipline as the q_repetition gate: on every fixture the
    // existence probe must route to the pure map — no token explode,
    // no aggregate, no dead union branch — and a giant corpus must
    // produce the small∪giant union with a per-row corpus side.
    val aqe = spark.conf.get("spark.sql.adaptive.enabled")
    try {
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      def deepCollect[T](p: org.apache.spark.sql.execution.SparkPlan)(
          pf: PartialFunction[org.apache.spark.sql.execution.SparkPlan, T]): Seq[T] = {
        val cached = p.collect {
          case s: org.apache.spark.sql.execution.columnar.InMemoryTableScanExec =>
            s.relation.cachedPlan
        }
        p.collect(pf) ++ cached.flatMap(deepCollect(_)(pf))
      }
      val plan = Queries.q_classifier_filter(spark, sf)
        .queryExecution.executedPlan
      assert(deepCollect(plan) {
        case g: org.apache.spark.sql.execution.GenerateExec => g }.isEmpty,
        s"giant-free corpus must not explode parts, plan:\n$plan")
      assert(deepCollect(plan) {
        case a: org.apache.spark.sql.execution.aggregate.BaseAggregateExec => a
      }.isEmpty,
        s"giant-free corpus must carry no aggregation state, plan:\n$plan")
      assert(deepCollect(plan) {
        case u: org.apache.spark.sql.execution.UnionExec => u }.isEmpty,
        s"giant-free corpus must not pay a dead union branch, plan:\n$plan")

      import spark.implicits._
      val mixed = Seq((1L, "alpha beta gamma", 16L),
          (2L, ("w " * 40).trim, 79L))
        .toDF("doc_id", "text", "n_chars")
      val giantPlan = graft.textan.TextAnalysis
        .classifierScore(mixed, splitChars = 50L, partTokens = 8)
        .queryExecution.executedPlan
      val union = giantPlan.collect {
        case u: org.apache.spark.sql.execution.UnionExec => u }
      assert(union.size == 1,
        s"giant corpus must produce the small∪giant union, plan:\n$giantPlan")
      assert(union.head.children.head.collect {
        case g: org.apache.spark.sql.execution.GenerateExec => g }.isEmpty,
        "corpus side of the union must stay per-row")
    } finally spark.conf.set("spark.sql.adaptive.enabled", aqe)
  }
}
