package graft.textan

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** HTML → text extraction — the ingest stage between the reference's
  * Selenium scrape (SURVEY §2.1 S1; `/root/reference/Data_Collection/
  * web_scraper.py` hands raw page sources to the pipeline) and every
  * downstream text operator: strip markup, drop script/style/comment
  * payloads, decode the common entities, collapse whitespace. A web
  * corpus at 100 TB is HTML before it is text, and this is the one
  * pass that turns it into the `documents.text` the rest of the
  * engine consumes.
  *
  * Spark-first shape: a pure `regexp_replace`/`replace` chain —
  * codegen'd, zero shuffle, rides the scan like [[Scrub.redact]].
  * Every pattern is RE2-safe with INLINE flags (`(?is)`), so the
  * DuckDB oracle runs the byte-identical patterns with only the 'g'
  * flag added. Fidelity bar: tag-soup HTML (unclosed tags, attribute
  * noise) degrades to extra whitespace, never to an error — the
  * corpus-scale failure mode is a skipped document, not a crashed
  * stage.
  *
  * Order is part of the spec:
  *  1. comments, then script, then style blocks are DELETED whole
  *     (their body text is not content);
  *  2. block-level tags become a space (so `<p>a</p><p>b</p>` keeps
  *     a word boundary), remaining tags likewise;
  *  3. entities decode AFTER tag stripping (`&lt;b&gt;` must surface
  *     as the literal text `<b>`, not get re-stripped), `&amp;` LAST
  *     (else `&amp;lt;` would double-decode);
  *  4. whitespace collapses to single spaces, trimmed.
  */
object Html {
  val CommentRe = "(?s)<!--.*?-->"
  val ScriptRe = "(?is)<script\\b[^>]*>.*?</script>"
  val StyleRe = "(?is)<style\\b[^>]*>.*?</style>"
  val TagRe = "<[^>]*>"
  // explicit whitespace class ([[graft.text.Tok.Ws]]): Java `\s`
  // includes VT, RE2's does not — spelled out so both engines agree
  val WsRe = s"[${graft.text.Tok.Ws}]+"
  val TitleRe = "(?is)<title[^>]*>(.*?)</title>"
  val HrefRe = "(?i)\\bhref=\""

  /** The literal entity decode table, in application order. */
  val Entities: Seq[(String, String)] = Seq(
    "&lt;" -> "<", "&gt;" -> ">", "&quot;" -> "\"",
    "&#39;" -> "'", "&nbsp;" -> " ", "&amp;" -> "&")

  private def decodeEntities(c: Column): Column =
    Entities.foldLeft(c) { case (acc, (from, to)) =>
      replace(acc, lit(from), lit(to))
    }

  /** Visible text of an HTML page: strip → decode → collapse. */
  def extractText(html: Column): Column = {
    val stripped = regexp_replace(
      regexp_replace(
        regexp_replace(
          regexp_replace(html, CommentRe, ""),
          ScriptRe, ""),
        StyleRe, ""),
      TagRe, " ")
    trim(regexp_replace(decodeEntities(stripped), WsRe, " "))
  }

  /** First `<title>` body (entity-decoded, whitespace-collapsed);
    * empty string when the page has none. */
  def extractTitle(html: Column): Column =
    trim(regexp_replace(
      decodeEntities(regexp_extract(html, TitleRe, 1)), WsRe, " "))

  /** Outbound-link count: `href="` attribute occurrences — the
    * crawl-frontier signal a link graph builds from. */
  def linkCount(html: Column): Column =
    size(regexp_extract_all(html, lit(HrefRe), lit(0))).cast("int")

  // ===== giant-page split (the r13 row-skew tail: 8.09×, one
  // serial regex task per 50 MB page) =====

  /** Characters above which a page leaves the per-row regex chain
    * for the tag-safe split. */
  val PageSplitChars: Long = 1L << 22

  /** Target size of one split piece. */
  val PagePieceChars: Int = 1 << 20

  /** `(start, end)` offsets covering `html` exactly, every cut
    * placed where it can never bisect a unit of the extraction
    * pipeline: immediately AFTER a `>`, or immediately AFTER a
    * whitespace char in TEXT content — both outside every protected
    * region. Why each unit survives any such cut:
    *
    *  - a `TagRe` match (`<[^>]*>`) contains no interior `>` and a
    *    removal-ASSEMBLED tag (`<p <!-- --> >` — comment removal runs
    *    before tag stripping) is covered by the transparent tag
    *    scanner below, which tracks `<`…`>` spans while skipping
    *    protected spans exactly the way removal does; cuts strictly
    *    inside any tag span are ineligible, so whitespace inside a
    *    tag's attribute list is safe;
    *  - an entity literal contains neither `>` nor whitespace, so
    *    neither cut class can land inside one (including entities
    *    assembled across a removed comment, `&am<!-- -->p;` — the
    *    span-END protection keeps the cut off the comment's final
    *    `>`);
    *  - comment/script/style/title bodies MAY contain both — their
    *    match spans (found with the very same Java patterns the
    *    column chain runs) are protected, INCLUSIVE of the span-final
    *    char;
    *  - whitespace runs MAY straddle a cut — per-piece collapse
    *    leaves single spaces at piece edges and [[pageReport]]'s
    *    final `" {2,}" → " "` pass merges boundary runs exactly.
    *
    * Exactness precondition (documented, spec-pinned): a protected
    * OPENER literal (`<!--`, `<script`, `<style`, `<title`) is not
    * itself assembled by comment removal (`<scr<!-- -->ipt>` —
    * invalid HTML no real corpus emits). A comment-assembled CLOSER
    * (`</scr<!-- -->ipt>`) needs no such precondition: the raw
    * pattern then finds no match for that opener, and the unclosed-
    * opener guard below protects the opener's span to end-of-string,
    * so the whole region lands in one piece — and within one piece,
    * per-piece strip == per-row strip by definition (both run comment
    * removal first and see the same assembled closer). Within these
    * rules, split == per-row bit for bit for arbitrary tag soup.
    *
    * Cuts search BACKWARD from the stride bound to the piece start,
    * then FORWARD past it; a span with no eligible cut stays one
    * piece (serial by construction, exact by construction — the
    * gopher split's discipline). One O(n) pass + four linear
    * Matcher sweeps. */
  def pageCutOffsets(html: String, maxChars: Int): Array[(Int, Int)] = {
    val n = html.length
    if (n == 0) return Array.empty
    if (n <= maxChars) return Array((0, n))
    // protected spans from the SAME patterns the column chain runs.
    // The four sweeps are independent full scans of the page — on a
    // giant page they ARE the cutter's serial floor (r16 profile:
    // ~1.9 s of a 6.5 s 50 MB wall sat in this function), so they run
    // concurrently; everything downstream still sees one sorted list.
    val spans = {
      import scala.concurrent.{Await, Future}
      import scala.concurrent.ExecutionContext.Implicits.global
      // deadline shared by ALL four sweeps: linear scans measure
      // ~10 ms/MB, so missing 1 s/MB + 60 s means a pattern
      // backtracked pathologically on adversarial HTML. The deadline
      // is enforced INSIDE the matcher via a charAt-counting
      // CharSequence (backtracking hammers charAt, so a runaway match
      // hits the check within microseconds): this bounds the
      // calling-thread sweep — which a pool-side Await alone never
      // could — and makes a timed-out pooled sweep die and release
      // its global-pool thread instead of scanning on as an orphan
      // after Await gives up (r17 advice: Await does not cancel)
      val budgetNanos = (60L + n / 1000000L) * 1000000000L
      final class DeadlineSeq extends CharSequence {
        // Long, not Int: a pathological sweep can exceed 2^31 charAt
        // calls, and an Int wrap would re-trigger the first-call
        // anchor below and silently extend the budget (r18 advice)
        private[this] var calls = 0L
        // anchored at the FIRST charAt (calls == 1), not at
        // construction/submit: a pooled sweep that queued behind
        // other tasks must not burn its budget waiting and then die
        // spuriously at its first check — the budget bounds the SCAN,
        // the outer Await bounds the queue (r18 review; the anchor
        // moved from the first SAMPLED check to the literal first
        // call per the r18 advice)
        private[this] var deadlineNanos = 0L
        def length: Int = n
        def charAt(i: Int): Char = {
          calls += 1
          if (calls == 1L) deadlineNanos = System.nanoTime() + budgetNanos
          else if ((calls & 0xffffL) == 0L &&
              System.nanoTime() > deadlineNanos)
            throw new IllegalStateException(
              s"pageCutOffsets: regex sweep exceeded deadline on $n chars")
          html.charAt(i)
        }
        def subSequence(s: Int, e: Int): CharSequence = html.subSequence(s, e)
        override def toString: String = html
      }
      def sweep(re: String) = {
        val b = scala.collection.mutable.ArrayBuffer.empty[(Int, Int)]
        // each sweep gets its own DeadlineSeq (the call counter is
        // not thread-safe across sweeps)
        val m = java.util.regex.Pattern.compile(re).matcher(new DeadlineSeq)
        while (m.find()) b += ((m.start(), m.end()))
        b
      }
      val futures = Seq(ScriptRe, StyleRe, TitleRe).map(re => Future(sweep(re)))
      // one sweep stays on the calling task thread: progress is
      // guaranteed even when every pool thread is busy with OTHER
      // tasks' sweeps (many concurrent tasks share the one
      // ncpu-thread global pool during a full scan stage)
      val local = sweep(CommentRe)
      // bounded await as the outer backstop (a pool so saturated the
      // futures never even START would otherwise hang the await; the
      // in-matcher deadline can't fire for work that never runs)
      val timeout = scala.concurrent.duration.Duration(120L + n / 1000000L, "s")
      val b = local ++ Await.result(Future.sequence(futures), timeout).flatten
      val sorted = b.sortBy(_._1)
      // merge overlaps so the eligibility test is one binary search
      val merged = scala.collection.mutable.ArrayBuffer.empty[(Int, Int)]
      for ((s, e) <- sorted) {
        if (merged.nonEmpty && s <= merged.last._2)
          merged(merged.length - 1) = (merged.last._1, math.max(merged.last._2, e))
        else merged += ((s, e))
      }
      // UNCLOSED-OPENER guard: a `<script`/`<style`/`<title` opener
      // whose closer is missing in the RAW html (including a closer
      // assembled by comment removal, `</scr<!-- -->ipt>`) has no
      // pattern match above, so its body would be unprotected and a
      // cut could bisect the unit the per-row chain deletes whole.
      // Protect the FIRST such opener's span to END-OF-STRING (every
      // later opener is inside it): the region stays one piece, and
      // within one piece per-piece == per-row. Serial for that tail by
      // construction — the invalid-HTML degenerate case, not a corpus
      // shape.
      def covered(p: Int): Boolean = {
        var lo = 0; var hi = merged.length - 1
        while (lo <= hi) {
          val mid = (lo + hi) >>> 1
          val (s, e) = merged(mid)
          if (p < s) hi = mid - 1
          else if (p >= e) lo = mid + 1
          else return true
        }
        false
      }
      val om = java.util.regex.Pattern
        .compile("(?i)<script\\b|<style\\b|<title")
        .matcher(html)
      var guard = -1
      while (guard < 0 && om.find())
        if (!covered(om.start())) guard = om.start()
      if (guard >= 0) {
        // drop spans at/after the guard, extend/append to string end
        while (merged.nonEmpty && merged.last._1 >= guard)
          merged.remove(merged.length - 1)
        if (merged.nonEmpty && merged.last._2 >= guard)
          merged(merged.length - 1) = (merged.last._1, n)
        else merged += ((guard, n))
      }
      merged.toArray
    }
    // a cut at position c is protected iff some span has s < c <= e
    def inSpan(c: Int): Boolean = {
      var lo = 0; var hi = spans.length - 1
      while (lo <= hi) {
        val mid = (lo + hi) >>> 1
        val (s, e) = spans(mid)
        if (c <= s) hi = mid - 1
        else if (c > e) lo = mid + 1
        else return true
      }
      false
    }
    // tag spans with protected regions TRANSPARENT — the mirror of
    // "comments/script/style are deleted whole before tag stripping":
    // a '<' opens a tag, protected spans inside it neither close nor
    // reopen it, the first '>' outside them closes it. Cuts strictly
    // inside a tag span would bisect the (possibly assembled) TagRe
    // match a piece-local pass could no longer see.
    val tagSpans = {
      val b = scala.collection.mutable.ArrayBuffer.empty[(Int, Int)]
      var i = 0; var open = -1; var sp = 0
      while (i < n) {
        while (sp < spans.length && spans(sp)._2 <= i) sp += 1
        if (sp < spans.length && i >= spans(sp)._1) i = spans(sp)._2
        else {
          val ch = html.charAt(i)
          if (open < 0) { if (ch == '<') open = i }
          else if (ch == '>') { b += ((open, i + 1)); open = -1 }
          i += 1
        }
      }
      b.toArray
    }
    def inTag(c: Int): Boolean = {
      var lo = 0; var hi = tagSpans.length - 1
      while (lo <= hi) {
        val mid = (lo + hi) >>> 1
        val (s, e) = tagSpans(mid)
        if (c <= s) hi = mid - 1
        else if (c >= e) lo = mid + 1
        else return true
      }
      false
    }
    def isWs(ch: Char): Boolean =
      ch == ' ' || ch == '\t' || ch == '\n' || ch == '\u000B' ||
        ch == '\f' || ch == '\r'
    def eligible(c: Int): Boolean = {
      val prev = html.charAt(c - 1)
      (prev == '>' || isWs(prev)) && !inSpan(c) && !inTag(c)
    }
    val out = scala.collection.mutable.ArrayBuffer.empty[(Int, Int)]
    var pos = 0
    while (pos < n) {
      val hard = math.min(pos + maxChars, n)
      var cut = -1
      if (hard >= n) cut = n
      else {
        var i = hard
        while (i > pos && cut < 0) { if (eligible(i)) cut = i; i -= 1 }
        if (cut < 0) {
          var j = hard + 1
          while (j < n && cut < 0) { if (eligible(j)) cut = j; j += 1 }
          if (cut < 0) cut = n
        }
      }
      out += ((pos, cut))
      pos = cut
    }
    out.toArray
  }

  /** Per-piece strip → decode → collapse WITHOUT the trim: boundary
    * whitespace survives as a single space so reassembly can merge
    * runs that straddled a cut. */
  private def pieceText(piece: Column): Column = {
    val stripped = regexp_replace(
      regexp_replace(
        regexp_replace(
          regexp_replace(piece, CommentRe, ""),
          ScriptRe, ""),
        StyleRe, ""),
      TagRe, " ")
    regexp_replace(decodeEntities(stripped), WsRe, " ")
  }

  /** `(doc_id, title, n_links, n_chars, text_md5)` page report with
    * the giant-page split: pages at or under `splitChars` (routed by
    * `sizeCol`, a pushable storage column when the caller has one)
    * run the plain per-row column chain; giants pre-cut at
    * [[pageCutOffsets]]'s tag-safe boundaries, fan out with an
    * explicit partition count (the DocSplit discipline), strip /
    * decode / collapse per piece in parallel, and reassemble in one
    * cheap pass (ordered concat + boundary-space merge + md5) — the
    * expensive regex passes are per-piece, the single-task remainder
    * is O(n) string work. Both branches emit bit-identical rows
    * (HtmlSplitSpec). */
  def pageReport(pages: DataFrame,
      sizeCol: Option[Column] = None,
      splitChars: Long = PageSplitChars,
      pieceChars: Int = PagePieceChars): DataFrame = {
    val h = col("html")
    def perRow(d: DataFrame): DataFrame = d
      .select(col("doc_id"),
        extractTitle(h).as("title"),
        linkCount(h).as("n_links"),
        extractText(h).as("__txt"))
      .select(col("doc_id"), col("title"), col("n_links"),
        length(col("__txt")).cast("int").as("n_chars"),
        md5(col("__txt")).as("text_md5"))
    val size0 = sizeCol.getOrElse(length(h).cast("long"))
    val canSplit = !pages.isStreaming
    if (!canSplit || pages.filter(size0 > splitChars).isEmpty)
      return perRow(pages)
    val small = perRow(pages.filter(
      graft.text.chunk.DocSplit.subThreshold(size0, splitChars)))
    val pieceUdf = udf((html: String) =>
      pageCutOffsets(html, pieceChars).map { case (s, e) =>
        html.substring(s, e)
      })
    val nsp = pages.sparkSession.sessionState.conf.numShufflePartitions
    val per = pages.filter(size0 > splitChars)
      .select(col("doc_id"), posexplode(pieceUdf(h)).as(Seq("__pi", "__pc")))
      .repartition(nsp, col("doc_id"), col("__pi"))
      .select(col("doc_id"), col("__pi"),
        pieceText(col("__pc")).as("__txt"),
        // the title match lives whole in one piece (protected span);
        // whole-doc FIRST match == first matching piece in order
        trim(regexp_replace(
          decodeEntities(regexp_extract(col("__pc"), TitleRe, 1)),
          WsRe, " ")).as("__t"),
        col("__pc").rlike(TitleRe).as("__hasT"),
        size(regexp_extract_all(col("__pc"), lit(HrefRe), lit(0)))
          .cast("int").as("__lk"))
    val giant = per.groupBy(col("doc_id")).agg(
        min(when(col("__hasT"), struct(col("__pi").as("pi"),
          col("__t").as("t")))).as("__ft"),
        sum(col("__lk")).cast("int").as("n_links"),
        array_join(transform(
          array_sort(collect_list(struct(col("__pi").as("pi"),
            col("__txt").as("txt")))),
          _.getField("txt")), "").as("__cat"))
      .select(col("doc_id"),
        coalesce(col("__ft.t"), lit("")).as("title"),
        col("n_links"),
        trim(regexp_replace(col("__cat"), " {2,}", " ")).as("__txt"))
      .select(col("doc_id"), col("title"), col("n_links"),
        length(col("__txt")).cast("int").as("n_chars"),
        md5(col("__txt")).as("text_md5"))
    small.unionByName(giant)
  }
}
