package graft.text.chunk

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Giant-document split policy — the EXECUTABLE answer to the
  * row-skew straggler axis the r11 scale probe measured: every
  * per-document kernel (chunkers, simhash, BPE apply, repetition) is
  * linear in doc length, but a document is one ROW, and one 50 MB
  * document is one serial task no partitioning can split (~15 s for
  * the r11-era recursive chunker alone; the reworked chunker's slope
  * is ~5× lower, which r17's `recsplit_crossover` measurement shows
  * now UNDERCUTS this policy's own exchange overhead at every probed
  * size — for that kernel the split is a bounded-task-memory /
  * straggler-tail routing, not a throughput win; SCALE.md Round-17).
  * The reference never hits this (its documents are 10-Q PDF
  * markdowns, `chromadb_rag.py:38-47`), but a 100 TB web corpus
  * will.
  *
  * [[parts]] pre-splits any document over `maxChars` into
  * separator-snapped parts in ONE forward pass over the text, and
  * the parts fan out as ordinary rows — after the explode, every
  * downstream per-doc kernel is parallel in (doc, part) instead of
  * serial in doc. Cuts prefer the same coarse→fine separator list as
  * the chunkers ([[RecursiveChunker]]'s reference list,
  * `chromadb_rag.py:64-72`), searching BACKWARD from the hard bound
  * `pos + maxChars` within a `lookback` window — the highest-priority
  * separator with any occurrence in the window wins, at its LAST
  * occurrence; no separator in the window means a hard cut. The cut
  * lands AFTER the separator (the chunkers' convention: separators
  * stay attached to the preceding text), so
  * `concat(parts) == document` exactly.
  *
  * [[chunkParts]] is the composition: split → chunk each part
  * independently → re-base offsets and renumber chunk indexes
  * per document. Chunk boundaries are FORCED at part edges (a chunk
  * never spans parts) — the documented, deterministic approximation
  * the policy trades for parallelism; a document that fits in one
  * part (everything below `maxChars`) chunks IDENTICALLY to the
  * unsplit path, which is how q_chunk_recursive_split shares
  * q_chunk_recursive's DuckDB oracle verbatim on the fixture while
  * splitting a 50 MB probe document ~50 ways.
  */
object DocSplit {

  /** Snap window: how far back from the hard bound a cut may move to
    * land on a separator. Bounded so the backward scan is O(lookback
    * × seps) per cut — the whole split stays one linear pass. */
  val DefaultLookback = 200

  /** The chunkers' reference separator list, coarse → fine. */
  val DefaultSeps: Seq[String] = Seq("\n\n", "\n", ".", "?", "!", " ")

  /** Null-safe SUB-threshold routing predicate for the split
    * discipline's two-branch plans. A document with NULL `n_chars`
    * (null text) satisfies neither `n_chars <= k` nor `n_chars > k`
    * — plain routing would drop it from BOTH branches. It belongs on
    * the per-row branch (which already coalesces null text to the
    * empty token array); `IS NULL OR <=` keeps it there AND stays a
    * parquet-pushable source filter, which `coalesce(n_chars, 0) <= k`
    * would not be. The giant branch's `n_chars > k` is already
    * null-correct (NULL is never a giant) and stays untouched so its
    * existence probe keeps answering from row-group stats. */
  def subThreshold(nChars: Column, splitChars: Long): Column =
    nChars.isNull || nChars <= splitChars

  /** `(start, end)` offset pairs covering `text` exactly: each part
    * ≤ `maxChars`, cuts separator-snapped as described on the object.
    * One forward pass; progress is guaranteed (every cut lands
    * strictly after the previous one, separator or not).
    *
    * OFFSET UNIT: UTF-16 code units — `String` indexes, the unit
    * every per-doc kernel in this package already works in. A hard
    * cut that would land between the halves of a surrogate pair is
    * moved off it (back one unit, forward when backing off would
    * stall), so parts are always well-formed strings and
    * `concat(parts) == text` holds code point for code point. For
    * non-BMP text these offsets are NOT code-point offsets — callers
    * slicing with code-point semantics must slice the part TEXT
    * [[parts]] carries instead of re-deriving from offsets (the
    * DuckDB oracle fixture is ASCII, where the units coincide — the
    * same caveat as every chunker oracle's `substr` replay). */
  def cutOffsets(text: String, maxChars: Int,
      lookback: Int = DefaultLookback): Array[(Int, Int)] = {
    val seps = DefaultSeps
    // ≥ 2, not ≥ 1: at maxChars == 1 a surrogate pair (2 units) can
    // neither fit a part nor be sheared, so the "each part ≤
    // maxChars" invariant is unsatisfiable on astral text — the
    // forward-step escape would emit a 2-unit part. Every real
    // caller is ≥ 2^20; rejecting 1 keeps the invariant total.
    require(maxChars >= 2, "maxChars must be >= 2")
    val n = text.length
    if (n == 0) return Array.empty
    if (n <= maxChars) return Array((0, n))
    val out = scala.collection.mutable.ArrayBuffer.empty[(Int, Int)]
    var pos = 0
    while (pos < n) {
      val hard0 = math.min(pos + maxChars, n)
      // never split a surrogate pair: a snapped cut always follows a
      // BMP separator, so only the hard bound can land mid-pair
      val hard =
        if (hard0 < n && Character.isHighSurrogate(text.charAt(hard0 - 1)) &&
            Character.isLowSurrogate(text.charAt(hard0)))
          if (hard0 - 1 > pos) hard0 - 1 else hard0 + 1
        else hard0
      val cut =
        if (hard >= n) n
        else {
          val lo = math.max(pos + 1, hard - lookback)
          var best = -1
          var si = 0
          while (si < seps.length && best < 0) {
            val sp = seps(si)
            var i = hard - sp.length
            while (i >= lo && best < 0) {
              if (text.startsWith(sp, i)) best = i + sp.length
              else i -= 1
            }
            si += 1
          }
          if (best > pos) best else hard
        }
      out += ((pos, cut))
      pos = cut
    }
    out.toArray
  }

  /** One part row produced by [[parts]]. */
  private[chunk] case class Part(start: Int, end: Int, text: String)

  /** Split a `(doc_id, source, text, ...)` corpus into
    * `(doc_id, source, part_index, start, end, text, n_chars)` part
    * rows — documents at or under `maxChars` pass through as their
    * single part 0. Offsets are into the parent document (UTF-16
    * units, see [[cutOffsets]]), `end` exclusive; the part TEXT is
    * sliced inside the same kernel pass (the offsets and the slice
    * share one unit, so the two can never disagree on non-BMP text),
    * `n_chars` is the part text's length per the [[Chunker]] input
    * contract, and the fan-out is a Generate on the scan stage — no
    * shuffle. */
  def parts(docs: DataFrame, maxChars: Int,
      lookback: Int = DefaultLookback): DataFrame = {
    val f = udf((text: String) =>
      if (text == null) Array.empty[Part]
      else cutOffsets(text, maxChars, lookback).map { case (s, e) =>
        Part(s, e, text.substring(s, e))
      })
    docs
      .select(col("doc_id"), col("source"), f(col("text")).as("__parts"))
      .select(col("doc_id"), col("source"),
        posexplode(col("__parts")).as(Seq("part_index", "__p")))
      .select(col("doc_id"), col("source"), col("part_index"),
        col("__p.start").as("start"), col("__p.end").as("end"),
        col("__p.text").as("text"))
      .withColumn("n_chars", length(col("text")).cast("long"))
  }

  /** Part-id packing for [[chunkParts]]: the synthetic per-part
    * doc_id carries the part's start offset in its low 31 bits, so
    * re-basing chunk offsets needs NO join back to the part table.
    * Caps: `doc_id < 2^31` and part start `< 2^31` (a single
    * document over 2 GiB of text exceeds Spark's row limits long
    * before this encoding). */
  private val PartIdStride = 1L << 31

  /** Split-then-chunk: documents over `maxChars` split into parts,
    * the parts SPREAD across partitions, and each part chunks
    * independently (the chunker's per-doc kernel sees ≤ `maxChars`
    * of text, so the giant-document straggler axis becomes
    * partition-parallel); then parent doc_ids are restored,
    * `start`/`end` re-based to parent-document offsets, and
    * `chunk_index` renumbered per document in (part, chunk) order.
    * Documents at or under `maxChars` keep the chunker's narrow,
    * shuffle-free path untouched — only GIANT documents' text pays a
    * shuffle, which is the 100 TB-shaped trade: a generated part row
    * stays in its parent's partition (the first form measured 50
    * one-partition parts chunking serially, 8.5 s of a possible
    * ~2 s), so the big branch repartitions on (doc_id, part) with an
    * EXPLICIT partition count — left implicit, AQE's byte-based
    * coalesce folds the ~50 MB of compute-dense part text back into
    * one partition. Chunks never span a part boundary; documents
    * that fit one part chunk identically to `chunker.chunk(docs)`.
    *
    * ID CAP: the part-id packing requires `0 <= doc_id < 2^31` for
    * every document routed to the big branch (part starts are
    * independently `< 2^31` because a single row's string is capped
    * far below 2 GiB). A 64-bit hash-derived or negative doc_id
    * would silently alias distinct documents after the shift-decode,
    * so the big branch fails FAST with `raise_error` instead —
    * callers with wide ids must renumber (e.g. zipWithIndex /
    * row_number over the corpus) before splitting. */
  def chunkParts(docs: DataFrame, chunker: Chunker, maxChars: Int): DataFrame = {
    // routing predicate: the Chunker input contract's `n_chars`
    // storage column when present (PUSHABLE — the giant branch
    // prunes at the parquet scan instead of reading every text to
    // measure it; chunkers like [[SemanticChunker]] run an eager
    // driver aggregate per branch, so an un-pruned empty branch
    // would still cost a corpus scan), else Spark `length`. Either
    // measure vs the kernel's UTF-16 cut unit: a non-BMP document
    // can sit between the two — it then routes small and stays
    // unsplit, which is always CORRECT output, just not split; the
    // routing only has to send each document to exactly one branch,
    // and both branches are exact for any size.
    val sizeCol =
      if (docs.columns.contains("n_chars")) col("n_chars")
      else length(col("text"))
    // no giant → the UNSPLIT plan, bit for bit: the all-small corpus
    // (every fixture, most real batches) pays one cheap existence
    // probe — row-group stats answer the pushed n_chars predicate
    // without reading data — instead of carrying a dead union branch
    // that eager chunkers (SemanticChunker's threshold aggregate runs
    // at plan construction) would still execute per build
    if (docs.filter(sizeCol > maxChars).isEmpty)
      return chunker.chunk(docs)
    val small = chunker.chunk(docs.filter(sizeCol <= maxChars))
    // guard BEFORE the shift: encode would silently wrap, and only
    // giant documents pay the check (one comparison per part row)
    val guardedId = when(
      col("doc_id") >= lit(PartIdStride) || col("doc_id") < 0,
      raise_error(concat(lit("DocSplit.chunkParts: doc_id out of [0, 2^31) — "),
        col("doc_id").cast("string"),
        lit(" cannot pack a part id; renumber ids before splitting"))))
      .otherwise(col("doc_id"))
    val p = parts(docs.filter(sizeCol > maxChars), maxChars)
      .repartition(docs.sparkSession.sessionState.conf.numShufflePartitions,
        col("doc_id"), col("part_index"))
      .select((shiftleft(guardedId, 31) + col("start")).as("doc_id"),
        col("source"), col("text"), col("n_chars"))
    val chunked = chunker.chunk(p)
    // Renumbering (r14): the first form ranked every chunk ROW with a
    // parent-doc row_number window — all of a giant's chunk rows,
    // TEXT included, funneled through one window task (a second
    // 50 MB exchange plus a serial sort; measured as the reason the
    // split row ran SLOWER than the unsplit baseline at 50 MB). The
    // chunker's per-part chunk_index is already dense 0..n−1, so the
    // global index is `base(part) + local`, where base is a running
    // sum over the PER-PART COUNT table — one tiny row per part, a
    // parts-per-doc window over 16-byte rows, broadcast back onto
    // the chunk rows by synthetic id: the chunk text never moves.
    // (Broadcast size = one row per giant part; a corpus would need
    // ~10^6 concurrent giant parts per batch to make that matter.)
    val wParts = Window.partitionBy(col("__parent")).orderBy(col("__pstart"))
    // base+local is only correct if the chunker's per-part chunk_index
    // is DENSE 0..n−1 (the Chunker contract; the old row_number form
    // was robust to a violation, this form would silently emit gapped
    // ids). Assert it on the tiny per-part table: min 0, max n−1, and
    // n distinct values — one comparison per PART row, not chunk row.
    val bases = chunked.groupBy(col("doc_id")).agg(count(lit(1)).as("__n"),
        min(col("chunk_index")).as("__mn"), max(col("chunk_index")).as("__mx"),
        countDistinct(col("chunk_index")).as("__nd"))
      .withColumn("__n", when(
        col("__mn") =!= 0 || col("__mx") =!= col("__n") - 1 ||
          col("__nd") =!= col("__n"),
        raise_error(concat(
          lit("DocSplit.chunkParts: chunker broke the dense chunk_index "),
          lit("contract (0..n-1 per part) for part "),
          col("doc_id").cast("string"))))
        .otherwise(col("__n")))
      // bit ops, not arithmetic: synth ids reach doc_id × 2^31 and a
      // double-typed `/` would lose low bits past 2^53
      .withColumn("__pstart",
        col("doc_id").bitwiseAND(lit(PartIdStride - 1)).cast("int"))
      .withColumn("__parent", shiftright(col("doc_id"), 31))
      .withColumn("__base", coalesce(sum(col("__n"))
        .over(wParts.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("doc_id"), col("__base"))
    val big = chunked.join(broadcast(bases), "doc_id")
      .withColumn("__pstart",
        col("doc_id").bitwiseAND(lit(PartIdStride - 1)).cast("int"))
      .withColumn("doc_id", shiftright(col("doc_id"), 31))
      .select(col("doc_id"), col("source"),
        (col("__base") + col("chunk_index")).cast("int").as("chunk_index"),
        col("text"),
        (col("start") + col("__pstart")).as("start"),
        (col("end") + col("__pstart")).as("end"),
        col("char_length"), col("token_length"), col("strategy"))
    small.unionByName(big)
  }
}
