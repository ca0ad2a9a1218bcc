package graft.dedup

import graft.io.Caches.TrackedPersistOps
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.text.Tok
import graft.vector.{FloatVecExpr, VectorOps}

/** Training-data deduplication suite (north-star extension beyond the
  * reference, BASELINE.json): exact, MinHash+LSH, SimHash, n-gram
  * Jaccard, embedding-cosine near-dup.
  *
  * Portability rule: every hash that feeds an oracle-checked query is
  * md5-based (hex strings), because Spark's `hash()` (murmur3) has no
  * DuckDB equivalent. Lexicographic order on fixed-width hex equals
  * numeric order, so `min(md5hex)` is a valid MinHash.
  *
  * Scale notes are per-function; the common theme: all candidate
  * generation is equi-join/groupBy on a hash key (shuffle on short
  * keys only), never an all-pairs comparison.
  */
object Dedup {

  /** MinHash geometry — one setting for every minhash consumer (the
    * recomputing candidates, the saved signature index, the streaming
    * band keys, containment and n-gram Jaccard), the one the DuckDB
    * oracles replay: 8 md5-seeded hashes in 4 bands of 2 over token
    * 3-shingles. */
  val NumHashes = 8
  val Bands = 4
  val ShingleN = 3
  private val RowsPerBand = NumHashes / Bands

  /** Tokens per "line" for line-level dedup (the fixture corpus has
    * no newlines — see [[lineDedup]]). */
  val LineTokens = 10

  /** Token n-gram shingles as an array column (distinct, order-free).
    *
    * Shape matters here: the n-gram is built by zipping n shifted
    * `slice`s of the token array and concatenating inside the lambda.
    * The obvious alternative — `transform(sequence(1, cnt), i =>
    * concat_ws(" ", slice(toks, i, n)))` — captures `toks` as a free
    * reference inside the lambda, and Catalyst inlines the whole
    * `regexp_extract_all` subtree there, re-tokenizing the document
    * once PER SHINGLE (measured 12× slower at sf0.1). With the zip
    * form the token array is a direct child of `slice`/`size` only,
    * evaluated once per row. */
  def shingles(textCol: Column): Column = {
    val n = ShingleN
    val toks = Tok.tokens(textCol)
    val cnt = size(toks) - (n - 1)
    val shifted = (1 to n).map(k => slice(toks, lit(k), cnt))
    val grams = transform(arrays_zip(shifted: _*),
      s => concat_ws(" ", (0 until n).map(i => s.getField(i.toString)): _*))
    array_distinct(
      when(size(toks) >= n, grams)
        .otherwise(array(concat_ws(" ", toks))))
  }

  /** Exact dedup (hash-groupBy): groups of byte-identical texts.
    * At 100 TB: shuffle moves only (md5, doc_id) pairs, never text. */
  def exactDupGroups(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), md5(col("text")).as("text_md5"))
      .groupBy(col("text_md5"))
      .agg(count(lit(1)).as("dup_count"), min(col("doc_id")).as("keep_doc_id"))
      .filter(col("dup_count") > 1)

  /** Incremental (delta-ingest) exact dedup — the production shape:
    * a new batch arrives against an EXISTING corpus. A row of the
    * batch survives iff its content fingerprint (md5 of text) is (a)
    * absent from the existing corpus — an anti-join against the
    * historical fingerprint set, which at 100 TB is the compact
    * (md5, 16 bytes)-per-distinct-doc table, not the corpus — and
    * (b) the first occurrence within its own batch (lowest doc_id).
    * Both steps shuffle only fingerprints and ids, never text. */
  def dedupAgainstExisting(existing: DataFrame, incoming: DataFrame): DataFrame = {
    val seen = existing.select(md5(col("text")).as("text_md5")).distinct()
    val w = Window.partitionBy(col("text_md5")).orderBy(col("doc_id"))
    incoming.withColumn("text_md5", md5(col("text")))
      .join(seen, Seq("text_md5"), "left_anti")
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .drop("rn")
  }

  /** Exact dedup keeping the lowest doc_id per text (last-write-wins
    * analog of the reference's id-keyed upsert, SURVEY §2.7). */
  def dropExactDuplicates(docs: DataFrame): DataFrame = {
    val w = Window.partitionBy(md5(col("text"))).orderBy(col("doc_id"))
    docs.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1).drop("rn")
  }

  /** Exact-substring repeated spans (the ExactSubstr dedup primitive,
    * Lee et al. 2022, "Deduplicating Training Data Makes Language
    * Models Better" — public knowledge): every MAXIMAL token span of
    * ≥ `n` tokens whose every n-gram occurs more than once corpus-
    * wide. The canonical removal unit for verbatim boilerplate that
    * document-level near-dup misses.
    *
    * Shape at 100 TB: grams travel as md5 hashes, never strings —
    * one narrow (hash, doc, pos) shuffle to count, an equi-join back
    * to the duplicated positions, then a per-document gaps-and-
    * islands window merges overlapping duplicated grams into maximal
    * spans. No all-pairs anything; cost is one token-fan-out scan
    * plus two hash-keyed exchanges. */
  def repeatedSpans(docs: DataFrame, n: Int = 10): DataFrame =
    repeatedSpansFrom(persistedTokens(docs), n)

  /** Tokenized corpus `(doc_id, ts)`, persisted because both the gram
    * fan-out and the span re-slice (and, in [[removeRepeatedSpans]],
    * the removal filter) read it — one regexp pass instead of three.
    * Compact (token arrays ≈ corpus bytes, not the exploded stream).
    * The persist outlives this call by design (the returned frame is
    * lazy), but its LIFETIME is bounded: it registers with
    * [[graft.io.Caches.persistTracked]], which retains at most
    * [[graft.io.Caches.MaxPerTag]] live frames per site and evicts
    * the oldest (a consumer looping ingest batches stays bounded;
    * an evicted frame silently recomputes). [[graft.io.Caches
    * .clearAll]] remains the batch-boundary big hammer. */
  private def persistedTokens(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), graft.text.Tok.tokens(col("text")).as("ts"))
      .persistTracked("dedup.tokens")

  private def repeatedSpansFrom(tkAll: DataFrame, n: Int): DataFrame = {
    val tk = tkAll.filter(size(col("ts")) >= n)
    // the gram fan-out — one md5 per token position, the dominant
    // kernel cost — feeds both the duplicate count and the candidate
    // join-back; persist it once instead of hashing the corpus twice
    val grams = tk.select(col("doc_id"),
      posexplode(transform(sequence(lit(0), size(col("ts")) - n),
        i => md5(array_join(slice(col("ts"), i + 1, lit(n)), " ")))).as(Seq("pos", "gh")))
      .persistTracked("dedup.grams")
    // duplicate grams via ONE gh-keyed window pass (r21, guide §2.4):
    // the aggregate+join-back form shuffled the gram stream for the
    // count AND re-read it for the join (with a broadcast whose size
    // is the duplicated-gram set — corpus-proportional on
    // boilerplate-heavy corpora). The window shuffles the FULL gram
    // stream, with no map-side partial count, and one very frequent
    // gram lands whole in one window task, which spills rather than
    // OOMs. Identical candidate rows.
    val wDup = Window.partitionBy(col("gh"))
    val cand = grams.withColumn("cnt", count(lit(1)).over(wDup))
      .filter(col("cnt") > 1).select(col("doc_id"), col("pos"))
    // gaps-and-islands: consecutive duplicated gram positions are one
    // maximal span (positions p and p+1 overlap in n-1 tokens)
    val w = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    tk.join(
        cand
          .withColumn("brk",
            when(col("pos") - lag(col("pos"), 1).over(w) === 1, 0).otherwise(1))
          .withColumn("island",
            sum(col("brk")).over(w.rowsBetween(Window.unboundedPreceding, 0)))
          .groupBy(col("doc_id"), col("island"))
          .agg(min(col("pos")).as("tok_start"),
            (max(col("pos")) - min(col("pos")) + n).as("tok_len")),
        "doc_id")
      .select(col("doc_id"), col("tok_start"), col("tok_len"),
        md5(array_join(slice(col("ts"), col("tok_start") + 1, col("tok_len")), " "))
          .as("span_md5"))
  }

  /** The removal half of ExactSubstr dedup: every repeated span
    * ([[repeatedSpans]]) keeps its GLOBALLY FIRST occurrence (lowest
    * (doc_id, tok_start) per span hash) and is cut from every other
    * document, token-wise. Output is one row per input document with
    * before/after token counts and the md5 of the cleaned token
    * stream — the shape a training-corpus materialization consumes.
    *
    * Per-doc spans are maximal islands, so removal ranges never
    * overlap within a document; cutting is a scan-stage filter over
    * the token array (no shuffle beyond the span ranking). */
  def removeRepeatedSpans(docs: DataFrame, n: Int = 10): DataFrame = {
    val w = Window.partitionBy(col("span_md5"))
      .orderBy(col("doc_id"), col("tok_start"))
    // ONE tokenize shared by detection and removal (persistedTokens)
    val tkAll = persistedTokens(docs)
    val remove = repeatedSpansFrom(tkAll, n)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") > 1)
      .groupBy(col("doc_id"))
      .agg(collect_list(struct(col("tok_start"), col("tok_len"))).as("rm"))
    tkAll
      .join(remove, Seq("doc_id"), "left")
      .withColumn("kept",
        when(col("rm").isNull, col("ts")).otherwise(
          filter(col("ts"), (tok, i) =>
            !exists(col("rm"), r =>
              i >= r.getField("tok_start") &&
                i < r.getField("tok_start") + r.getField("tok_len")))))
      .select(col("doc_id"),
        size(col("ts")).as("n_tokens_before"),
        size(col("kept")).as("n_tokens_after"),
        md5(array_join(col("kept"), " ")).as("clean_md5"))
  }

  /** MinHash signature from a *materialized* shingles column: for each
    * seed, min over shingles of md5(seed ~ shingle). Keeping the
    * shingle array in its own projection matters: inlining
    * [[shingles]] here would duplicate its whole expression subtree
    * once per seed and blow up codegen compile time. */
  def minhashSignatureOf(shinglesCol: Column, numHashes: Int = NumHashes): Column =
    transform(sequence(lit(0), lit(numHashes - 1)),
      seed => array_min(transform(shinglesCol,
        s => md5(concat(seed.cast("string"), lit("|"), s)))))

  /** Convenience: signature straight from text (two-step projection). */
  def minhashSignature(textCol: Column): Column =
    minhashSignatureOf(shingles(textCol))

  /** MinHash + LSH banding: the signature split into [[Bands]] bands
    * of [[NumHashes]] / [[Bands]] hashes; docs sharing any band key
    * are candidates. Pipeline: per-doc signature ([[signature]]) →
    * explode bands → groupBy band key (the only shuffle; keys are
    * 32-byte hashes) → emit candidate pairs from same-bucket docs.
    * Bucket fan-out is bounded by near-dup cluster size, not corpus
    * size. */
  def minhashCandidates(docs: DataFrame): DataFrame = {
    val sig = signature(
      docs
        // equivalent to tokenCount>0 (any non-space char tokenizes)
        // but avoids a second regexp_extract_all pass per row
        .filter(trim(col("text")) =!= "")
        .select(col("doc_id"), shingles(col("text")).as("sh")))
    // shared-exchange self-join discipline lives in Banded (measured
    // here first: without the shared repartition the whole
    // shingle+md5+signature pipeline ran once PER SIDE, 2.1s vs 1.4s
    // at sf0.1)
    val banded = sig.select(col("doc_id"),
        posexplode(array(bandKeys: _*)).as(Seq("band", "band_key")))
    Banded.candidatePairs(banded, Seq("band", "band_key"))
      .distinct()
  }

  /** `(doc_id, h0 … h7)` — the per-document MinHash signature as
    * [[NumHashes]] columns — from an already-shingled `(doc_id, sh:
    * array<string>)` frame. Row-wise shape instead of nested lambdas:
    * explode shingles once, then ONE partial+final hash aggregate
    * computes all minima as separate agg columns (no per-seed row
    * fan-out, no second shuffle). Equivalent keys to the array-lambda
    * form ([[minhashBandKeyArray]]), but it spills, parallelizes per
    * row, and avoids the multi-second codegen compile that deep nested
    * HOFs trigger (CollapseProject re-inlines projection barriers, so
    * staging selects don't help). */
  private def signature(shingled: DataFrame): DataFrame = {
    val minCols = (0 until NumHashes).map(s =>
      min(md5(concat(lit(s.toString), lit("|"), col("shingle")))).as(s"h$s"))
    shingled.select(col("doc_id"), explode(col("sh")).as("shingle"))
      .groupBy(col("doc_id")).agg(minCols.head, minCols.tail: _*)
  }

  /** The [[Bands]] band keys over [[signature]]'s columns: each band
    * concatenates its [[RowsPerBand]] consecutive hashes. */
  private def bandKeys: Seq[Column] = (0 until Bands).map(b =>
    concat((b * RowsPerBand until (b + 1) * RowsPerBand).map(s => col(s"h$s")): _*))

  /** Jaccard-CONTAINMENT near-dup pairs — the asymmetric case
    * symmetric near-dup misses: a document EMBEDDED in a larger one
    * (quote farms, page-plus-boilerplate, excerpt reposts) has
    * containment |A∩B|/|A| ≈ 1 while its Jaccard is only
    * |A|/|B| — below every banding threshold. MinHash banding
    * therefore can't generate these candidates; the generator here
    * is the shingle INVERTED INDEX (the q_contamination shape):
    * pairs sharing ≥ `minShared` rare shingles, where "rare" means
    * document frequency ≤ `maxDf` — the standard blowup guard (a
    * boilerplate shingle in 10k documents would otherwise emit 10k²
    * join rows; dropping high-df shingles from CANDIDATE GENERATION
    * only loses pairs whose every shared shingle is ubiquitous,
    * which containment-dedup deliberately ignores). Verification
    * computes the exact intersection over the FULL distinct shingle
    * sets of candidates only.
    *
    * Shingles travel EVERYWHERE as 60-bit longs — `conv` of the first
    * 15 hex chars of md5 — because identity is all the inverted index
    * AND the exact intersection need: a long array is several times
    * narrower than the shingle strings it replaces, and the verify
    * join carrying full string arrays was the widest shuffle on HEAD
    * (SPILL_BENCH r14 peak_exec 10998 MB starved; factor-10 min-ratio
    * 3.29×, the one super-linear number). DuckDB replays the identical
    * hash (`CAST('0x'||substr(md5(s),1,15) AS BIGINT)`), so parity is
    * by construction — both engines replay the identical hash, so
    * they agree row for row even on a collided value. A collision
    * ANYWHERE can perturb the semantics slightly (two distinct
    * shingles colliding across documents inflates their exact
    * intersection, and can inflate a shingle's df in the rare-shingle
    * index, suppressing a candidate pair); the safety argument is the
    * 2^-60 per-pair collision probability, not structural immunity.
    *
    * Emits one row per candidate pair (doc_a < doc_b) with both
    * directional containments and the `is_contained` decision at
    * 0.9, filtered to max-containment ≥ `minCont`.
    *
    * The thresholds are the oracle's: `maxDf` 20, `minShared` 3,
    * `minCont` 0.5. */
  def containmentPairs(docs: DataFrame): DataFrame = {
    val (maxDf, minShared, minCont) = (20, 3, 0.5)
    val shh = docs.filter(trim(col("text")) =!= "")
      .select(col("doc_id"),
        transform(shingles(col("text")),
          s => conv(substring(md5(s), 1, 15), 16, 10).cast("long")).as("shh"))
      .persistTracked("containment.shh")
    val ex = shh.select(col("doc_id"), explode(col("shh")).as("g"))
    // every joined side below (rare keys, candidate pairs, the
    // signature table) is CORPUS-PROPORTIONAL — a broadcast pick for
    // any of them is a stats fluke that stops scaling (measured: at
    // tile×10 under 16 shuffle partitions AQE's exact sizes put
    // `rare` under its broadcast threshold and materialized a
    // ~192 MiB broadcast; at 100 TB that is a driver OOM). The merge
    // hints pin the spill-safe shuffle plan at every size.
    val rare = ex.groupBy(col("g")).agg(count(lit(1)).as("df"))
      .filter(col("df") <= maxDf).select(col("g")).hint("merge")
    val exr = ex.join(rare, "g")
    val cand = exr.select(col("g"), col("doc_id").as("doc_a"))
      .join(exr.select(col("g"), col("doc_id").as("doc_b")), "g")
      .filter(col("doc_a") < col("doc_b"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("shared"))
      .filter(col("shared") >= minShared)
    val conts = cand
      .join(shh.select(col("doc_id").as("doc_a"), col("shh").as("sh_a"))
        .hint("merge"), "doc_a")
      .join(shh.select(col("doc_id").as("doc_b"), col("shh").as("sh_b"))
        .hint("merge"), "doc_b")
      .withColumn("n_a", size(col("sh_a")))
      .withColumn("n_b", size(col("sh_b")))
      .withColumn("inter", size(array_intersect(col("sh_a"), col("sh_b"))))
      .withColumn("cont_a",
        round(col("inter").cast("double") / col("n_a"), 6))
      .withColumn("cont_b",
        round(col("inter").cast("double") / col("n_b"), 6))
    conts
      .filter(greatest(col("cont_a"), col("cont_b")) >= minCont)
      .select(col("doc_a"), col("doc_b"), col("n_a"), col("n_b"),
        col("inter"), col("cont_a"), col("cont_b"),
        (greatest(col("cont_a"), col("cont_b")) >= 0.9).cast("int")
          .as("is_contained"))
  }

  // ===== saved signature index (build-once / serve-many) =====

  /** Materialize the MinHash signature index: one row per non-blank
    * document with its distinct shingle array (`sh`) and its
    * [[Bands]] LSH band keys (`bks`). The tokenize → shingle → md5-min
    * signature pass is the expensive part of every minhash consumer
    * (candidates, verify, clustering, corpus filter); a real corpus
    * computes it ONCE per ingest and serves every downstream dedup
    * decision from the saved table — the same build/serve split as
    * [[graft.text.Bm25.saveIndex]] and [[graft.vector.Ivf]].
    *
    * Band keys come from the same [[signature]] aggregate and
    * per-band concat as [[minhashCandidates]], so candidates served
    * from the index hash-match the recomputing form and the DuckDB
    * oracle. At 100 TB the index
    * is a (doc_id, shingle hashes, 4 short keys) table — a small
    * constant factor of the corpus, append-mergeable per ingest
    * batch. */
  def saveSignatureIndex(docs: DataFrame, path: String): Unit = {
    val shingled = docs.filter(trim(col("text")) =!= "")
      .select(col("doc_id"), shingles(col("text")).as("sh"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      // merge hint: the signature is one row PER DOCUMENT — corpus-
      // proportional, so a broadcast pick here is a stats fluke that
      // stops scaling (the same r17 class as containmentPairs'
      // `rare`: at tile×10 the starved harness measured the fluke
      // materializing a >150 MB broadcast). Both sides key on
      // doc_id; the shuffle plan is flat at every size.
      signature(shingled).select(col("doc_id"), array(bandKeys: _*).as("bks"))
        .hint("merge")
        .join(shingled, "doc_id")
        .write.mode("overwrite").parquet(path)
    } finally shingled.unpersist()
  }

  private val savedSigIndexes = new graft.io.SavedIndex("graft-minhash-idx")

  /** Single-flight memo over [[saveSignatureIndex]], keyed by caller
    * key, with the same [[graft.io.SavedIndex]]
    * staleness contract as [[graft.text.Bm25.ensureSavedIndex]]:
    * every call re-checks the offered corpus (content fingerprint
    * scan, or an O(1) caller `epoch` token) and a mismatch rebuilds
    * into a fresh directory — the superseded one is parked for one
    * rebuild cycle, then reclaimed (SavedIndex's bounded-retention
    * contract) — so a changed corpus can never serve pre-change
    * signatures. First
    * caller pays the corpus pass; every later consumer — candidate
    * generation, verify, clustering, the corpus filter — reads the
    * parquet. */
  def ensureSavedSignatureIndex(docs: DataFrame, cacheKey: String,
      epoch: Option[String] = None): String =
    savedSigIndexes.ensure(cacheKey, docs, epoch)(saveSignatureIndex(docs, _))

  /** Candidate pairs served from a saved signature index (`doc_id`,
    * `bks`, `sh`): posexplode the band keys and self-join — the
    * identical join to [[minhashCandidates]], minus the signature
    * recompute. Column pruning drops `sh` from this branch, so the
    * scan reads two thin columns. */
  def candidatesFromIndex(idx: DataFrame): DataFrame =
    Banded.candidatePairs(
        idx.select(col("doc_id"),
          posexplode(col("bks")).as(Seq("band", "band_key"))),
        Seq("band", "band_key"))
      .distinct()

  /** Per-row band-key ARRAY — the explode-free sibling of
    * [[minhashBandKeys]], value-identical to the saved signature
    * index's `bks` column (same min-over-md5(seed|shingle) signature,
    * same per-band concat), computable on an unbounded STREAM row by
    * row: this is the projection the streaming split-assignment twin
    * keys on ([[graft.streaming.DocStreams.splitAssignAgainstStatic]]
    * — one `element_at` per band feeds one stream-static join each,
    * no explode and no aggregate on the stream side). Blank texts
    * yield null — no keys, a singleton downstream, matching the
    * batch operators' no-candidate semantics. */
  def minhashBandKeyArray(textCol: Column): Column = {
    val sig = minhashSignatureOf(shingles(textCol))
    when(trim(textCol) =!= "",
      array((0 until Bands).map(b =>
        concat_ws("", slice(sig, b * RowsPerBand + 1, RowsPerBand))): _*))
  }

  /** (doc_id, band, band_key) via the NARROW per-row signature form
    * (array HOFs, no groupBy) — value-identical keys to the aggregate
    * pipeline inside [[minhashCandidates]] (same min over
    * md5(seed|shingle), same per-band concat), but computable on an
    * unbounded STREAM row-by-row. */
  def minhashBandKeys(docs: DataFrame): DataFrame =
    docs.filter(trim(col("text")) =!= "")
      .select(col("doc_id"), shingles(col("text")).as("sh"))
      .select(col("doc_id"), minhashSignatureOf(col("sh")).as("sig"))
      .select(col("doc_id"), posexplode(array((0 until Bands).map(b =>
          concat_ws("", slice(col("sig"), b * RowsPerBand + 1, RowsPerBand))): _*))
        .as(Seq("band", "band_key")))

  private val md5Local = ThreadLocal.withInitial[java.security.MessageDigest](
    () => java.security.MessageDigest.getInstance("MD5"))

  // token → its first 60 digest bits packed into a long (bit k of
  // the hash at position k). Corpora repeat tokens heavily, so the
  // per-token md5 becomes a map hit on the executor hot path; bounded
  // like HashingEmbedder's memo. 60 bits (not 64): the top nibble
  // stays clear so the value — and every SUM/shift the DuckDB oracle
  // replays — lives comfortably inside a signed BIGINT.
  private val bitsMemo =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()
  private val MaxMemo = 1 << 20

  private def tokenBits(t: String): Long = {
    val hit = bitsMemo.get(t)
    if (hit != null) return hit.longValue()
    val md = md5Local.get()
    md.reset()
    val d = md.digest(t.getBytes("UTF-8"))
    var bits = 0L
    var k = 0
    while (k < 60) {
      if (((d(k / 8) >> (7 - k % 8)) & 1) == 1) bits |= (1L << k)
      k += 1
    }
    if (bitsMemo.size < MaxMemo)
      bitsMemo.putIfAbsent(t, java.lang.Long.valueOf(bits))
    bits
  }

  /** 60-bit SimHash over tokens (md5-derived bit planes). Fully
    * deterministic, and oracle-expressible after all: the DuckDB side
    * ([[graft.Oracles]] q_simhash_candidates) rebuilds each digest bit
    * from the md5 hex string, so this UDF is hash-checked end-to-end.
    *
    * 60 bits (was 32 through round 9) for the BANDING keyspace, not
    * the hash quality: with 4 bands the per-band key is now 15 bits
    * (32,768 buckets) instead of 8 (256). A fixed 256-bucket band
    * means bucket occupancy grows linearly with the corpus and the
    * banded self-join's pair comparisons grow as O(N²/256) — invisible
    * at sf0.1, fatal at the 100 TB target (the r10 10x scale probe
    * flagged q_simhash_candidates as its worst ratio). 4 bands are
    * kept for the pigeonhole recall guarantee AT THE DEFAULT
    * maxHamming = 3: three flipped bits can touch at most 3 of 4
    * bands, so one band always survives intact and every true pair is
    * a candidate. At looser thresholds (q_simhash_candidates runs
    * maxHamming = 11, where 11 flips can cover all 4 bands) banded
    * recall is heuristic — same as the pre-r10 6-band/32-bit config,
    * and the Spark and DuckDB sides stay in lockstep either way. */
  def simhash60(text: String): Long = {
    if (text == null) return 0L
    val acc = new Array[Int](60)
    Tok.tokenize(text).foreach { t =>
      val bits = tokenBits(t)
      var k = 0
      while (k < 60) {
        acc(k) += (if (((bits >>> k) & 1) == 1) 1 else -1)
        k += 1
      }
    }
    var h = 0L
    var k = 0
    while (k < 60) { if (acc(k) > 0) h |= (1L << k); k += 1 }
    h
  }

  private val simhashUdf = udf((s: String) => simhash60(s))

  /** Per-part 60-bit SimHash ACCUMULATOR — the giant-document split
    * half of [[simhash60]]: the per-bit ±1 sums over one token-array
    * slice, as array<int>(60). Accumulators ADD exactly across parts
    * (unigram state, no boundary grams), so sign-folding the per-doc
    * sum is bit-identical to the one-row kernel. */
  private val simhashAccUdf = udf((ts: Seq[String]) => {
    val acc = new Array[Int](60)
    ts.foreach { t =>
      val bits = tokenBits(t)
      var k = 0
      while (k < 60) {
        acc(k) += (if (((bits >>> k) & 1) == 1) 1 else -1)
        k += 1
      }
    }
    acc
  })

  private val signFoldUdf = udf((acc: Seq[Int]) => {
    var h = 0L
    var k = 0
    while (k < 60) { if (acc(k) > 0) h |= (1L << k); k += 1 }
    h
  })

  /** Tokens per split part for giant-document SimHash. */
  private[dedup] val SimhashPartTokens = 1 << 16

  /** Characters above which a document's SimHash computes over split
    * token-array parts instead of one serial per-row task. */
  private[dedup] val SimhashSplitChars = 1L << 21

  /** `docs` + a `simhash` column. Documents over `splitChars` (only
    * checkable when the frame carries the `n_chars` storage column)
    * split their token array into `partTokens` slices, accumulate
    * per-bit sums per part IN PARALLEL, zip-sum the ≤ ~800 part
    * accumulators per document and sign-fold — bit-identical to the
    * per-row kernel (integer sums are exact and order-free), so the
    * r11 row-skew finding "simhash still processes a giant document
    * as one row" is closed without touching any oracle. Giant-free
    * corpora (every fixture) take one existence probe (pushed
    * n_chars predicate, row-group stats) and keep the exact per-row
    * plan. */
  def withSimhash(docs: DataFrame,
      splitChars: Long = SimhashSplitChars,
      partTokens: Int = SimhashPartTokens): DataFrame = {
    val perRow = docs.withColumn("simhash", simhashUdf(col("text")))
    if (!docs.columns.contains("n_chars")) return perRow
    val giants = docs.filter(col("n_chars") > splitChars)
    if (giants.isEmpty) return perRow
    val S = partTokens
    val nsp = docs.sparkSession.sessionState.conf.numShufflePartitions
    // slice BEFORE the spread (the DocSplit discipline): the shuffle
    // moves part-sized token slices, never the full array per part
    val sums = giants
      // null-text giants coalesce to the empty array: simhash60(null)
      // is 0, and a zero accumulator sign-folds to the same 0
      .select(col("doc_id"), coalesce(graft.text.Tok.tokens(col("text")),
        array().cast("array<string>")).as("ts"))
      .withColumn("n_tokens", size(col("ts")))
      .select(col("doc_id"), col("n_tokens"),
        explode(sequence(lit(0),
          greatest(ceil(col("n_tokens").cast("double") / S) - 1, lit(0))
            .cast("int"))).as("p"), col("ts"))
      .select(col("doc_id"), col("p"),
        slice(col("ts"), col("p") * S + 1, lit(S)).as("pts"))
      .repartition(nsp, col("doc_id"), col("p"))
      .select(col("doc_id"), simhashAccUdf(col("pts")).as("acc"))
      .groupBy(col("doc_id"))
      .agg(collect_list(col("acc")).as("accs"))
      .select(col("doc_id"), signFoldUdf(
        aggregate(col("accs"),
          array_repeat(lit(0), 60),
          (a, x) => zip_with(a, x, (m, n) => m + n))).as("simhash"))
    perRow.filter( // null n_chars routes per-row, not dropped
        graft.text.chunk.DocSplit.subThreshold(col("n_chars"), splitChars))
      .unionByName(giants.join(sums, "doc_id")
        .select(perRow.columns.map(col): _*))
  }

  /** SimHash near-dup candidates: block on 15-bit sub-bands (any of 4
    * bands equal → candidate), then confirm hamming ≤ maxHamming.
    * Banding keeps this an equi-join: no all-pairs pass at scale —
    * and the 15-bit keys keep the bucket space (4 x 32,768) wide
    * enough that occupancy, and with it the per-bucket pair count,
    * stays flat as the corpus grows (see [[simhash60]]). */
  def simhashCandidates(docs: DataFrame, maxHamming: Int = 3): DataFrame = {
    val sh = withSimhash(docs).select(col("doc_id"), col("simhash"))
    // the shared exchange in Banded runs the per-token md5 simhash
    // UDF once, not once per join side; simhash rides along as a
    // carried column so the hamming confirm needs no corpus re-join
    val banded = sh.select(col("doc_id"), col("simhash"),
        posexplode(transform(sequence(lit(0), lit(3)),
          b => call_function("shiftright", col("simhash"), (b * 15).cast("int"))
            .bitwiseAND(lit(32767L))))
          .as(Seq("band", "band_key")))
    Banded.candidatePairs(banded, Seq("band", "band_key"),
        carry = Seq("simhash"))
      .withColumn("hamming",
        bit_count(col("a_simhash").bitwiseXOR(col("b_simhash"))))
      .filter(col("hamming") <= maxHamming)
      .select(col("doc_a"), col("doc_b"), col("hamming"))
      .distinct()
  }

  /** n-gram Jaccard similarity for candidate pairs: explode distinct
    * shingles, equi-join on shingle (intersection counts), union via
    * |A|+|B|−|A∩B|. Only shingle hashes shuffle. */
  def ngramJaccard(docs: DataFrame, minJaccard: Double = 0.0): DataFrame = {
    // one repartition on the intersection-join key, shared by all
    // three consumers (sizes agg + both join sides): the tokenize →
    // shingle → explode pipeline runs once and its exchange is reused,
    // instead of being re-executed per consumer
    val sh = docs
      .filter(Tok.tokenCount(col("text")) > 0)
      .select(col("doc_id"),
        explode(shingles(col("text"))).as("shingle"))
      .repartition(col("shingle"))
    val sizes = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("set_size"))
    val inter = sh.select(col("shingle"), col("doc_id").as("doc_a"))
      .join(sh.select(col("shingle"), col("doc_id").as("doc_b")), "shingle")
      .filter(col("doc_a") < col("doc_b"))
      .groupBy(col("doc_a"), col("doc_b")).agg(count(lit(1)).as("inter"))
    inter
      .join(sizes.withColumnRenamed("doc_id", "doc_a")
        .withColumnRenamed("set_size", "size_a"), "doc_a")
      .join(sizes.withColumnRenamed("doc_id", "doc_b")
        .withColumnRenamed("set_size", "size_b"), "doc_b")
      .withColumn("jaccard",
        round(col("inter") / (col("size_a") + col("size_b") - col("inter")), 6))
      .filter(col("jaccard") >= minJaccard)
      .select(col("doc_a"), col("doc_b"), col("inter"),
        col("size_a"), col("size_b"), col("jaccard"))
  }

  /** Embedding-cosine near-dup: pairs above threshold. Brute-force
    * O(n²) baseline for correctness; the scale path is
    * [[graft.vector.Ann.lshNearDup]] (bucketed random projection). */
  def cosineNearDup(embeddings: DataFrame, threshold: Double): DataFrame = {
    // precompute each row's norm once — O(n) — instead of per pair —
    // O(n²); the per-pair dot is the native fused-loop expression
    // (graft.vector.FloatVecDot), not the allocating HOF form
    val withNorm = embeddings.select(col("vec_id"), col("embedding"),
      FloatVecExpr.normF(col("embedding")).as("nrm"))
    val a = withNorm.select(col("vec_id").as("id_a"),
      col("embedding").as("emb_a"), col("nrm").as("nrm_a"))
    val b = withNorm.select(col("vec_id").as("id_b"),
      col("embedding").as("emb_b"), col("nrm").as("nrm_b"))
    a.crossJoin(b)
      .filter(col("id_a") < col("id_b"))
      .withColumn("cos_sim",
        round(FloatVecExpr.dotF(col("emb_a"), col("emb_b")) /
          (col("nrm_a") * col("nrm_b")), 6))
      .filter(col("cos_sim") >= threshold)
      .select(col("id_a"), col("id_b"), col("cos_sim"))
  }

  /** Characters above which a document's segmentation leaves the
    * narrow per-row explode for the token-snapped piece split: a
    * giant document's `split(text, ' ')` + per-line slicing is one
    * serial task (6.32× at 50 MB in the r13 row-skew probe). 4 Mchar
    * is far above any fixture document and the routing predicate is
    * the pushable `n_chars` column, so the giant branch prunes to
    * nothing at the parquet scan when no giant exists. */
  val LineSplitChars: Long = 1L << 22

  /** Lines per split piece — ~40 k tokens of text per piece at the
    * default 10-token line, so a 50 MB giant fans ~180 ways. */
  val LinesPerPiece: Int = 1 << 12

  /** One token-snapped piece of a giant document: `base` is the
    * piece's first LINE index, `piece` its text. */
  private[dedup] case class LinePiece(base: Int, piece: String)

  /** Cut `text` after every `linesPerPiece × lineTokens`-th token,
    * consuming the delimiting space — a token is a single-space-
    * separated segment, exactly `split(text, ' ')`'s notion (empty
    * tokens from doubled/trailing spaces count). Every piece except
    * the last carries a whole number of LINES, so per-piece
    * segmentation with a `base` line offset reproduces the global
    * `(p, line)` rows bit for bit. One forward pass; a space-free
    * run stays one piece (serial by construction, exact by
    * construction — the gopher split's discipline). */
  private[dedup] def linePieces(text: String, lineTokens: Int,
      linesPerPiece: Int): Array[LinePiece] = {
    // same rule as the narrow branch's coalesce(text, ''): a null
    // text segments like the empty text (one empty-line row). The
    // production routing (n_chars > threshold) never sends nulls
    // here, but the branch must not crash if a caller forces it.
    if (text == null) return Array(LinePiece(0, ""))
    val cutTokens = lineTokens * linesPerPiece
    val out = Array.newBuilder[LinePiece]
    val n = text.length
    var start = 0
    var tok = 0
    var base = 0
    var i = 0
    while (i < n) {
      if (text.charAt(i) == ' ') {
        tok += 1
        if (tok == cutTokens) {
          out += LinePiece(base, text.substring(start, i))
          base += linesPerPiece
          start = i + 1
          tok = 0
        }
      }
      i += 1
    }
    out += LinePiece(base, text.substring(start, n))
    out.result()
  }

  /** `(doc_id, p, line)` segmentation behind [[lineDedup]] — a NARROW
    * per-row explode (no window, no shuffle) for every document at
    * or under [[LineSplitChars]], so it runs unchanged on a
    * streaming frame (streaming frames can't run the existence
    * probe and always take the per-row branch). Null text coalesces
    * to '' BEFORE the split — a null-text document emits the same
    * single empty-line row an empty document does (the engine's
    * null-routing discipline; `split(null)` would silently drop the
    * document from the per-doc report). Documents OVER the
    * threshold — one 50 MB row was one serial split/slice task —
    * pre-cut into [[linePieces]] whole-line pieces that fan out as
    * ordinary rows and segment partition-parallel with a base line
    * offset; both branches emit bit-identical rows for the same
    * document (spec-pinned in LineSplitSpec). */
  def linesOf(docs: DataFrame,
      splitChars: Long = LineSplitChars,
      linesPerPiece: Int = LinesPerPiece): DataFrame = {
    val L = LineTokens
    def narrow(d: DataFrame): DataFrame = d
      .select(col("doc_id"),
        split(coalesce(col("text"), lit("")), " ").as("ts"))
      .select(col("doc_id"), col("ts"),
        explode(sequence(lit(0),
          greatest(ceil(size(col("ts")).cast("double") / L) - 1, lit(0))
            .cast("int"))).as("p"))
      .filter(col("p") * L < size(col("ts")))
      .select(col("doc_id"), col("p"),
        array_join(slice(col("ts"), col("p") * L + 1, lit(L)), " ").as("line"))
    val canSplit = docs.columns.contains("n_chars") && !docs.isStreaming
    if (!canSplit || docs.filter(col("n_chars") > splitChars).isEmpty)
      return narrow(docs)
    val small = narrow(docs.filter( // null n_chars routes per-row
      graft.text.chunk.DocSplit.subThreshold(col("n_chars"), splitChars)))
    // giant branch: n_chars > threshold implies non-null text. The
    // pieces spread with an explicit partition count (the DocSplit
    // discipline — AQE would re-coalesce compute-dense text), then
    // segment per piece with the piece's base line offset.
    val pieceUdf = udf((text: String) => linePieces(text, L, linesPerPiece))
    val nsp = docs.sparkSession.sessionState.conf.numShufflePartitions
    val giant = docs.filter(col("n_chars") > splitChars)
      .select(col("doc_id"),
        posexplode(pieceUdf(col("text"))).as(Seq("__pi", "__pc")))
      .repartition(nsp, col("doc_id"), col("__pi"))
      .select(col("doc_id"), col("__pc.base").as("__bp"),
        split(col("__pc.piece"), " ").as("ts"))
      .select(col("doc_id"), col("__bp"), col("ts"),
        explode(sequence(lit(0),
          greatest(ceil(size(col("ts")).cast("double") / L) - 1, lit(0))
            .cast("int"))).as("__lp"))
      .filter(col("__lp") * L < size(col("ts")))
      .select(col("doc_id"), (col("__bp") + col("__lp")).as("p"),
        array_join(slice(col("ts"), col("__lp") * L + 1, lit(L)), " ")
          .as("line"))
    small.unionByName(giant)
  }

  /** Line-level EXACT dedup — the C4/MassiveText/RefinedWeb corpus
    * stage between document dedup and quality filtering: a line that
    * occurs anywhere else in the corpus keeps only its FIRST
    * occurrence (document order, then position); later copies are
    * removed and each document reassembled from its surviving lines.
    * Boilerplate (headers, footers, nav text) repeats across
    * documents far below the document-dedup radar — this is the
    * stage that catches it. The fixture corpus has no newlines, so a
    * "line" here is a fixed [[LineTokens]]-token segment (documented
    * adaptation; a newline-structured corpus would split on '\n').
    *
    * Shape: lines never self-join — first-wins is ONE exchange keyed
    * by the line's md5 (content fingerprints shuffle, the dedup
    * discipline) carrying (doc_id, p, line); reassembly is one
    * exchange keyed by doc_id. Per-key state is the line's occurrence
    * count; no global sort, no driver state.
    *
    * Per document: total/kept/removed line counts plus the md5 of the
    * reassembled text. When nothing is removed the reassembly is the
    * identity (disjoint token segments re-joined by the same single
    * space), so `clean_md5 == md5(text)` — spec-pinned. */
  def lineDedup(docs: DataFrame,
      splitChars: Long = LineSplitChars,
      linesPerPiece: Int = LinesPerPiece): DataFrame = {
    val w = Window.partitionBy(md5(col("line")))
      .orderBy(col("doc_id"), col("p"))
    linesOf(docs, splitChars, linesPerPiece)
      .withColumn("kept", (row_number().over(w) === 1).cast("int"))
      .groupBy(col("doc_id")).agg(
        count(lit(1)).cast("int").as("n_lines"),
        sum(col("kept")).cast("int").as("n_kept"),
        (count(lit(1)) - sum(col("kept"))).cast("int").as("n_removed"),
        md5(concat_ws(" ",
          transform(sort_array(collect_list(
            when(col("kept") === 1, struct(col("p"), col("line"))))),
            _.getField("line")))).as("clean_md5"))
  }
}
