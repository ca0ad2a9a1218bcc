package graft.textan

import graft.io.Caches.TrackedPersistOps
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.text.Tok

/** Text-analysis operators for a training-data pipeline (north-star
  * extension, BASELINE.json): language ID, quality scoring, token
  * counting, document fingerprinting. All scoring paths are pure
  * Column expressions (codegen'd, oracle-portable); only the
  * winnowing fingerprint uses a deterministic UDF.
  */
object TextAnalysis {

  /** Tiny per-language stopword lists for the n-gram/stopword
    * heuristic. Engine-defined spec — deliberately small and fixed so
    * the same literals embed in oracle SQL. */
  val stopwords: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "and", "of", "to", "a", "in", "is", "it", "that", "for"),
    "fr" -> Seq("le", "la", "et", "de", "un", "une", "est", "que", "pour", "dans"),
    "es" -> Seq("el", "la", "y", "de", "un", "una", "es", "que", "por", "en"),
    "de" -> Seq("der", "die", "das", "und", "ist", "ein", "eine", "zu", "den", "von"))

  /** `let`-binding for Column expressions: evaluates `value` ONCE per
    * row and hands the body a lambda variable reference. Without this,
    * every reuse of a Column duplicates its whole expression subtree
    * (Catalyst plans are trees, not DAGs), and codegen's subexpression
    * elimination refuses to hoist anything referenced under a
    * conditional branch — `detectLang` used to re-tokenize the
    * document ~25× per row through its when-cascade. */
  def bind(value: Column, body: Column => Column): Column =
    element_at(transform(array(value), body), 1)

  private val langs: Seq[String] = Seq("en", "fr", "es", "de")

  /** word → per-language membership (0/1 per entry of [[langs]]),
    * folded to a map literal at optimization time. */
  private def membershipMap: Column = {
    val words = langs.flatMap(stopwords).distinct
    map(words.flatMap { w =>
      Seq(lit(w), array(langs.map(l =>
        lit(if (stopwords(l).contains(w)) 1 else 0)): _*))
    }: _*)
  }

  private def zeros: Column = array(langs.map(_ => lit(0)): _*)

  /** Per-language stopword-hit counts as one int array, computed in a
    * single pass over the token array (one map lookup per token)
    * instead of one `filter` scan per language. */
  def stopwordHitArray(toks: Column): Column =
    aggregate(toks, zeros, (acc, t) =>
      zip_with(acc, coalesce(element_at(membershipMap, t), zeros),
        (a, b) => a + b))

  /** Picks the language from a precomputed hit array (cheap: no
    * re-evaluation — `sc` should be a plain column reference or a
    * lambda variable). `array_position` returns the FIRST index of
    * the max, which is exactly the en > fr > es > de tie order. */
  private def pickLang(textCol: Column, sc: Column): Column =
    when(textCol.rlike("[\\x{4e00}-\\x{9fff}]"), lit("zh"))
      .when(array_max(sc) > 0,
        element_at(array(langs.map(lit): _*),
          array_position(sc, array_max(sc)).cast("int")))
      .otherwise(lit("und"))

  /** Language ID: CJK-character presence → "zh"; otherwise the
    * language with the highest stopword-hit count, ties broken in
    * fixed order en > fr > es > de; no hits at all → "und". */
  def detectLang(textCol: Column): Column =
    bind(stopwordHitArray(Tok.tokens(lower(textCol))), sc =>
      pickLang(textCol, sc))

  /** DataFrame-level language ID: stages the hit array in its own
    * projection, so the aggregate runs once per row and the consuming
    * projection only touches a column reference (CollapseProject
    * leaves non-cheap expressions referenced more than once staged). */
  def withDetectedLang(df: DataFrame): DataFrame =
    df.withColumn("__sc", stopwordHitArray(Tok.tokens(lower(col("text")))))
      .withColumn("pred_lang", pickLang(col("text"), col("__sc")))
      .drop("__sc")

  /** Quality scoring: length/punctuation/stopword/digit ratios
    * combined into [0,1]. All DOUBLE arithmetic, rounded at the end,
    * so the oracle reproduces it bit-for-bit. */
  def qualityColumns(textCol: Column): Seq[(String, Column)] = {
    val nChars = length(textCol).cast("double")
    val toks = Tok.tokens(lower(textCol))
    val nToks = size(toks).cast("double")
    val punct = length(regexp_replace(textCol, s"[A-Za-z0-9${graft.text.Tok.Ws}]", "")).cast("double")
    val digits = length(regexp_replace(textCol, "[^0-9]", "")).cast("double")
    val stopHits = size(filter(toks, t =>
      array_contains(array(stopwords("en").map(lit): _*), t))).cast("double")
    Seq(
      "n_tokens" -> nToks,
      "punct_ratio" -> round(punct / greatest(nChars, lit(1.0)), 6),
      "digit_ratio" -> round(digits / greatest(nChars, lit(1.0)), 6),
      "stopword_ratio" -> round(stopHits / greatest(nToks, lit(1.0)), 6),
      "avg_token_chars" -> round(
        (nChars - (nToks - 1)) / greatest(nToks, lit(1.0)), 6))
  }

  /** Composite quality score: rewards mid-length docs with prose-like
    * stopword density, penalizes symbol/digit noise. Built from RAW
    * (unrounded) ratios — composing pre-rounded ratios puts values
    * exactly on .xxx0005 half-boundaries, where Spark's and DuckDB's
    * double rounding disagree. */
  def qualityScore(textCol: Column): Column = {
    val nChars = length(textCol).cast("double")
    val toks = Tok.tokens(lower(textCol))
    val nToks = size(toks).cast("double")
    val punctRatio = length(regexp_replace(textCol, s"[A-Za-z0-9${graft.text.Tok.Ws}]", ""))
      .cast("double") / greatest(nChars, lit(1.0))
    val digitRatio = length(regexp_replace(textCol, "[^0-9]", ""))
      .cast("double") / greatest(nChars, lit(1.0))
    val stopRatio = size(filter(toks, t =>
      array_contains(array(stopwords("en").map(lit): _*), t)))
      .cast("double") / greatest(nToks, lit(1.0))
    val lengthScore = least(nChars / lit(200.0), lit(1.0))
    round(
      lit(0.4) * lengthScore +
        lit(0.3) * least(stopRatio * 5, lit(1.0)) +
        lit(0.2) * (lit(1.0) - least(punctRatio * 10, lit(1.0))) +
        lit(0.1) * (lit(1.0) - least(digitRatio * 10, lit(1.0))), 6)
  }

  /** DataFrame-level quality columns + composite score in one pass:
    * the shared scalars (token count, punct/digit char counts,
    * stopword hits) are staged in their own projection, so each
    * regex/tokenize runs once per row and every ratio — and the
    * composite score — is plain arithmetic over column references.
    * Values are bit-identical to [[qualityColumns]]/[[qualityScore]]
    * (same DOUBLE arithmetic, same single terminal rounding); only
    * the expression sharing differs. CollapseProject keeps the staged
    * columns because each is referenced more than once. */
  def withQuality(df: DataFrame): DataFrame = {
    val t = col("text")
    val staged = df
      .withColumn("__toks", Tok.tokens(lower(t)))
      .withColumn("__nchars", length(t).cast("double"))
      .withColumn("__punct",
        length(regexp_replace(t, s"[A-Za-z0-9${graft.text.Tok.Ws}]", "")).cast("double"))
      .withColumn("__digits",
        length(regexp_replace(t, "[^0-9]", "")).cast("double"))
      .withColumn("__ntoks", size(col("__toks")).cast("double"))
      .withColumn("__stop", size(filter(col("__toks"), tk =>
        array_contains(array(stopwords("en").map(lit): _*), tk))).cast("double"))
    val nChars = col("__nchars"); val nToks = col("__ntoks")
    val punctRatio = col("__punct") / greatest(nChars, lit(1.0))
    val digitRatio = col("__digits") / greatest(nChars, lit(1.0))
    val stopRatio = col("__stop") / greatest(nToks, lit(1.0))
    staged
      .withColumn("n_tokens", nToks)
      .withColumn("punct_ratio", round(punctRatio, 6))
      .withColumn("digit_ratio", round(digitRatio, 6))
      .withColumn("stopword_ratio", round(stopRatio, 6))
      .withColumn("avg_token_chars",
        round((nChars - (nToks - 1)) / greatest(nToks, lit(1.0)), 6))
      .withColumn("quality", round(
        lit(0.4) * least(nChars / lit(200.0), lit(1.0)) +
          lit(0.3) * least(stopRatio * 5, lit(1.0)) +
          lit(0.2) * (lit(1.0) - least(punctRatio * 10, lit(1.0))) +
          lit(0.1) * (lit(1.0) - least(digitRatio * 10, lit(1.0))), 6))
      .drop("__toks", "__nchars", "__punct", "__digits", "__ntoks", "__stop")
  }

  /** md5 content fingerprint of the normalized text (collapse runs of
    * whitespace, lowercase) — the cheap exact-dup key. */
  def contentFingerprint(textCol: Column): Column =
    md5(lower(regexp_replace(trim(textCol), s"[${graft.text.Tok.Ws}]+", " ")))

  /** Winnowing fingerprint (Schleimer et al., SIGMOD 2003): k-gram
    * rolling hashes, minimum per sliding window, distinct retained
    * set, over 8-char grams in windows of 4. Deterministic UDF (bit
    * math is not oracle-portable). */
  def winnow(text: String): Seq[Long] = {
    val (k, window) = (8, 4)
    if (text == null || text.length < k) return Seq.empty
    val s = text.toLowerCase
    // modulus kept < 2^31 so h*base never overflows Long
    val base = 1000003L; val mod = 1000000007L
    var pow = 1L // base^k — weight of the char leaving the window
    for (_ <- 0 until k) pow = pow * base % mod
    val hashes = new Array[Long](s.length - k + 1)
    var h = 0L
    var i = 0
    while (i < s.length) {
      h = (h * base + s.charAt(i)) % mod
      if (i >= k) h = (h - s.charAt(i - k) * pow % mod + mod) % mod
      if (i >= k - 1) hashes(i - k + 1) = h
      i += 1
    }
    if (hashes.length <= window) return Seq(hashes.min).distinct
    hashes.sliding(window).map(_.min).toSeq.distinct
  }

  // ===== frozen linear classifier (hashing-trick inference) =====

  /** fastText-shaped frozen-classifier inference — the
    * quality/toxicity-classifier filter every web-corpus pipeline
    * runs at full scale (CCNet, C4, Gopher all gate on a frozen
    * model). Features are the hashing trick: lowercased unigrams +
    * adjacent bigrams, each hashed straight to an INTEGER weight in
    * [−1000, 1000] (md5-derived — the engine's deterministic
    * stand-in for trained weights, the [[graft.vector.Embedder]]
    * HashingEmbedder convention), so per-document scoring is
    *
    *  - one `aggregate` HOF folding exact integer weights in any
    *    order (order-free by integer arithmetic — no float
    *    accumulation, the bigram-LM microunit rule), then
    *  - ONE double division for the mean score.
    *
    * Zero joins, zero shuffles, zero weight table: the "model" rides
    * the expression. At 100 TB this is the ideal op shape — a pure
    * map over the corpus scan. Swapping real trained weights in
    * means replacing [[featureWeight]]'s hash with a broadcast
    * lookup; every other line is unchanged. */
  def featureWeight(f: Column): Column =
    pmod(conv(substring(md5(concat(lit("clf|"), f)), 1, 8), 16, 10)
      .cast("long"), lit(2001L)) - 1000L

  /** Characters above which a document leaves the per-row fold for
    * the split path. Set at the MEASURED crossover, not copied from
    * q_repetition's 2 Mchar: the classifier's per-char kernel is
    * cheaper than gram counting, so the split's fixed shuffle cost
    * wins later — per-row vs split walls are 2.7 / 5.9 s at 5 MB but
    * 27.6 / 11.5 s at 50 MB (a one-off timing of both paths on a
    * planted giant), crossing near 10 MB.
    * 8 Mchar keeps sub-crossover docs on the cheaper per-row task
    * (≤ ~5 s, tolerable against the 100 TB task median) and splits
    * the true stragglers. */
  val ClassifierSplitChars: Long = 1L << 23

  /** Token stride of one split part. */
  val ClassifierPartTokens: Int = 1 << 16

  /** `keep` threshold of [[classifierScore]] on the mean feature
    * weight: a document is kept when its score is at least this. */
  val ClassifierThreshold = 0.0

  /** (n_features, s_int, score, keep) per document: unigram + bigram
    * hashing-trick features, exact integer weight fold, one division.
    *
    * Giant-document routing: when `docs` carries the pushable
    * `n_chars` storage column and a document exceeds `splitChars`,
    * its token array is sliced into `partTokens`-stride parts with a
    * ONE-TOKEN lookahead, each part folds its own unigrams plus the
    * bigrams STARTING inside it (so every bigram — including the
    * part-boundary ones — is counted by exactly one part), and the
    * per-part (count, integer sum) pairs merge by summation. The
    * decomposition is exact and the weights are integers, so split ==
    * per-row bit-identically; sub-threshold corpora pay one existence
    * probe (answered by parquet row-group stats) and keep the pure
    * per-row plan. */
  def classifierScore(docs: DataFrame,
      splitChars: Long = ClassifierSplitChars,
      partTokens: Int = ClassifierPartTokens): DataFrame = {
    def finish(scored: DataFrame): DataFrame = scored
      // one correctly-rounded division on exact integers — bit-equal
      // in any engine, no order-sensitive float accumulation
      .withColumn("score",
        when(col("n_features") > 0,
          round(col("s_int").cast("double") /
            (lit(1000.0) * col("n_features")), 6))
          .otherwise(lit(0.0)))
      .withColumn("keep",
        (col("s_int").cast("double") >=
          lit(ClassifierThreshold) * lit(1000.0) * col("n_features")).cast("int"))

    def perRow(d: DataFrame): DataFrame = {
      // null text == empty text (the giant branch's coalesce, and the
      // shape a null-routed row must produce: n_features 0, not null)
      val out = bind(coalesce(Tok.tokens(lower(col("text"))),
          array().cast("array<string>")), toks => {
        val bigrams = zip_with(
          slice(toks, lit(1), greatest(size(toks) - 1, lit(0))),
          slice(toks, lit(2), greatest(size(toks) - 1, lit(0))),
          (a, b) => concat(a, lit("_"), b))
        bind(concat(toks, bigrams), feats =>
          struct(
            size(feats).as("n_features"),
            aggregate(feats, lit(0L),
              (acc, f) => acc + featureWeight(f)).as("s_int")))
      })
      d.withColumn("__c", out)
        .withColumn("n_features", col("__c.n_features"))
        .withColumn("s_int", col("__c.s_int"))
        .drop("__c")
    }

    // streaming frames can't run the existence probe (no eager
    // actions on a stream) and can't union per-plan-branch anyway —
    // they always take the per-row map, which is the right shape for
    // micro-batch-sized documents
    val canSplit = docs.columns.contains("n_chars") && !docs.isStreaming
    if (!canSplit || docs.filter(col("n_chars") > splitChars).isEmpty)
      return finish(perRow(docs))

    val small = perRow(docs.filter( // null n_chars routes per-row
      graft.text.chunk.DocSplit.subThreshold(col("n_chars"), splitChars)))
    val giants = docs.filter(col("n_chars") > splitChars)
    val S = partTokens
    val nsp = docs.sparkSession.sessionState.conf.numShufflePartitions
    // slice BEFORE the spread (shuffle moves part-sized arrays ≈ the
    // giant text once); explicit partition count pins AQE away from
    // coalescing compute-dense parts (the DocSplit discipline)
    val parts = giants
      .select(col("doc_id"),
        coalesce(Tok.tokens(lower(col("text"))),
          array().cast("array<string>")).as("ts"))
      .withColumn("L", size(col("ts")))
      .select(col("doc_id"), col("ts"), col("L"),
        explode(sequence(lit(0),
          greatest(ceil(col("L").cast("double") / S) - 1, lit(0))
            .cast("int"))).as("p"))
      .select(col("doc_id"),
        slice(col("ts"), col("p") * S + 1, lit(S + 1)).as("pts"),
        least(lit(S), col("L") - col("p") * S).cast("int").as("valid"),
        least(lit(S), col("L") - 1 - col("p") * S).cast("int").as("bc"),
        col("p"))
      .repartition(nsp, col("doc_id"), col("p"))
    val uniFold = aggregate(slice(col("pts"), lit(1), col("valid")),
      lit(0L), (acc, f) => acc + featureWeight(f))
    // sequence(1, n) DESCENDS for n < 1 — guard the empty case
    val biFeats = when(col("bc") >= 1,
      transform(sequence(lit(1), col("bc")),
        i => concat(element_at(col("pts"), i), lit("_"),
          element_at(col("pts"), i + 1))))
      .otherwise(array().cast("array<string>"))
    val agg = parts
      .select(col("doc_id"),
        (col("valid") + greatest(col("bc"), lit(0))).cast("long").as("nf"),
        (uniFold + aggregate(biFeats, lit(0L),
          (acc, f) => acc + featureWeight(f))).as("si"))
      .groupBy(col("doc_id"))
      .agg(sum(col("nf")).cast("int").as("n_features"),
        sum(col("si")).as("s_int"))
    val giant = giants.join(agg, "doc_id")
    finish(small.unionByName(giant
      .select(small.columns.map(col): _*)))
  }

  /** The Gopher stopword probe set (Rae et al. 2021, Appendix A —
    * "contains at least two of" these). */
  val GopherStops: Seq[String] =
    Seq("the", "be", "to", "of", "and", "that", "have", "with")

  /** Giant-document crossover for [[gopherRules]]'s line-exploded
    * branch — the per-char regex kernel sits between the repetition
    * kernel (2 Mchar) and the cheaper classifier fold (8 Mchar). */
  val GopherSplitChars: Long = 1L << 22

  /** Target stride of one sub-piece of a newline-free long line.
    * Pieces cut ONLY at intra-line whitespace — a space-free run
    * longer than this stays one piece (serial by construction, exact
    * by construction) rather than taking a mid-word hard cut that
    * would shear a `[^\s]+` word or a dot run across pieces and
    * break split == per-row bit-identity. */
  val GopherPieceChars: Int = 1 << 20

  /** Gopher/MassiveText quality-rule metrics (Rae et al. 2021,
    * "Scaling Language Models: ...", arXiv:2112.11446, Appendix A1.1)
    * — the hard-threshold document filter every pretraining pipeline
    * runs, distinct from [[withQuality]]'s soft composite score:
    *
    *  - 50 ≤ word count ≤ 100,000;
    *  - 3 ≤ mean word length ≤ 10;
    *  - symbol-to-word ratio ('#' chars + '...' runs) ≤ 0.1;
    *  - ≤ 90% of lines start with a bullet (-, *, •);
    *  - ≤ 30% of lines end with an ellipsis;
    *  - ≥ 80% of words contain an alphabetic character;
    *  - ≥ 2 hits on the [[GopherStops]] probe set.
    *
    * Words are whitespace runs (`[^\s]+` — Gopher's notion, NOT the
    * engine tokenizer: punctuation stays attached to its word, which
    * is what mean-word-length and alpha-fraction are defined over).
    * One staged projection per row, zero shuffle; every count is an
    * exact integer and every ratio divides the same two integers in
    * both engines, so thresholds compare identically and the oracle
    * replays bit-for-bit. Emits the metrics plus `pass` (INT — the
    * conjunction), so a caller can re-threshold without rescanning. */
  def gopherRules(df: DataFrame,
      splitChars: Long = GopherSplitChars,
      pieceChars: Int = GopherPieceChars): DataFrame = {
    // shared per-WORD / per-LINE counter expressions — the giant
    // branch evaluates them per exploded line and SUMS: a word
    // ([^\s]+) and a dot run cannot span a newline and a line lives
    // whole in one row, so per-line counters compose into exactly
    // the whole-document integers (spec-pinned split == per-row)
    def wordsOf(c: Column): Column =
      regexp_extract_all(c, lit(s"[^${graft.text.Tok.Ws}]+"), lit(0))
    def sumLenOf(words: Column): Column =
      aggregate(words, lit(0L), (acc, w) => acc + length(w))
    def nAlphaOf(words: Column): Column =
      size(filter(words, w => w.rlike("[A-Za-z]")))
    def nStopOf(words: Column): Column =
      size(filter(words, w =>
        array_contains(array(GopherStops.map(lit): _*), lower(w))))
    def nHashOf(c: Column): Column =
      length(regexp_replace(c, "[^#]", "")).cast("int")
    def nEllOf(c: Column): Column =
      size(regexp_extract_all(c, lit("\\.\\.\\."), lit(0))).cast("int")
    def isBullet(l: Column): Column =
      array_contains(array(lit("-"), lit("*"), lit("•")),
        substring(ltrim(l), 1, 1))
    def isEllLine(l: Column): Column =
      rtrim(l).endsWith("...") || rtrim(l).endsWith("…")

    // metric derivation from the exact integer counters — one shared
    // Column tree, so both branches round the same divisions
    def finish(staged: DataFrame): DataFrame = {
      val nWords = col("__n_words"); val nLines = col("__n_lines")
      val nw = nWords.cast("double")
      val meanLen = when(nWords === 0, lit(0.0))
        .otherwise(col("__sum_len").cast("double") / nw)
      val symRatio = when(nWords === 0, lit(0.0))
        .otherwise((col("__nhash") + col("__nell")).cast("double") / nw)
      val bulletFrac = col("__n_bullet").cast("double") / nLines.cast("double")
      val ellFrac = col("__n_ell_line").cast("double") / nLines.cast("double")
      val alphaFrac = when(nWords === 0, lit(0.0))
        .otherwise(col("__n_alpha").cast("double") / nw)
      staged
        .withColumn("n_words", nWords.cast("int"))
        .withColumn("mean_word_len", round(meanLen, 6))
        .withColumn("symbol_ratio", round(symRatio, 6))
        .withColumn("bullet_frac", round(bulletFrac, 6))
        .withColumn("ellipsis_frac", round(ellFrac, 6))
        .withColumn("alpha_frac", round(alphaFrac, 6))
        .withColumn("n_stop_hits", col("__n_stop").cast("int"))
        .withColumn("pass",
          (nWords >= 50 && nWords <= 100000 &&
            meanLen >= 3.0 && meanLen <= 10.0 &&
            symRatio <= 0.1 && bulletFrac <= 0.9 && ellFrac <= 0.3 &&
            alphaFrac >= 0.8 && col("__n_stop") >= 2).cast("int"))
        .drop("__n_words", "__n_lines", "__sum_len", "__n_bullet",
          "__n_ell_line", "__n_alpha", "__n_stop", "__nhash", "__nell")
    }

    def perRow(d: DataFrame): DataFrame = {
      val t = col("text")
      val staged = d
        .withColumn("__words", wordsOf(t))
        .withColumn("__lines", split(t, "\n", -1))
      val words = col("__words"); val lines = col("__lines")
      staged
        .withColumn("__n_words", size(words))
        .withColumn("__n_lines", size(lines))
        .withColumn("__sum_len", sumLenOf(words))
        .withColumn("__n_bullet", size(filter(lines, isBullet(_))))
        .withColumn("__n_ell_line", size(filter(lines, isEllLine(_))))
        .withColumn("__n_alpha", nAlphaOf(words))
        .withColumn("__n_stop", nStopOf(words))
        .withColumn("__nhash", nHashOf(t))
        .withColumn("__nell", nEllOf(t))
        .drop("__words", "__lines")
    }

    // streaming frames can't run the existence probe (no eager
    // actions) — they take the per-row map, the right shape for
    // micro-batch-sized documents (stream==batch spec-pinned)
    val canSplit = df.columns.contains("n_chars") && !df.isStreaming
    if (!canSplit || df.filter(col("n_chars") > splitChars).isEmpty)
      return finish(perRow(df))

    val small = perRow(df.filter( // null n_chars routes per-row
      graft.text.chunk.DocSplit.subThreshold(col("n_chars"), splitChars)))
    val giants = df.filter(col("n_chars") > splitChars)
    val nsp = df.sparkSession.sessionState.conf.numShufflePartitions
    // one giant document = one regexp task no longer. Two levels:
    //  (1) explode LINES — line-level flags (bullet start, ellipsis
    //      end) are END-LOCAL expressions, cheap even on a giant
    //      single line, and a line lives whole in one row;
    //  (2) sub-split LONG lines at intra-line whitespace ONLY — a
    //      word ([^\s]+) and a dot run cannot span a whitespace cut,
    //      so per-piece integer counters sum into exactly the
    //      whole-line values; a whitespace-FREE run longer than the
    //      stride stays one piece (serial by construction) instead
    //      of taking a mid-word hard cut that would change counts.
    // The text is projected away before every exchange; only the
    // pieces shuffle (the giant text once), with an explicit
    // partition count pinning AQE away from re-coalescing
    // compute-dense text. The exploded lines persist so the line-flag
    // and word-counter aggregates share ONE split of the giant text.
    val giantLines = giants
      .select(col("doc_id"),
        posexplode(split(col("text"), "\n", -1)).as(Seq("__ln", "__line")))
      .persistTracked("gopher.lines")
    val lineAgg = giantLines
      .select(col("doc_id"),
        isBullet(col("__line")).cast("int").as("__b"),
        isEllLine(col("__line")).cast("int").as("__e"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).cast("int").as("__n_lines"),
        sum(col("__b")).cast("int").as("__n_bullet"),
        sum(col("__e")).cast("int").as("__n_ell_line"))
    // cuts land ONLY on intra-line whitespace (the \s set minus \n,
    // which cannot appear inside a split line): scan forward from the
    // stride target to the next whitespace char, and if none exists
    // the piece runs to end-of-line — no hard cut ever shears a word
    // or a dot run, so piece sums equal the whole-line counters
    // exactly for EVERY input, including space-free blobs
    val S = pieceChars
    val pieceUdf = udf((line: String) =>
      if (line == null || line.isEmpty) Array.empty[String]
      else {
        def isWs(c: Char) =
          c == ' ' || c == '\t' || c == '\u000B' || c == '\f' || c == '\r'
        val n = line.length
        val out = Array.newBuilder[String]
        var start = 0
        while (n - start > S) {
          var cut = start + S
          while (cut < n && !isWs(line.charAt(cut))) cut += 1
          out += line.substring(start, cut)
          start = cut
        }
        if (start < n) out += line.substring(start)
        out.result()
      })
    val wordAgg = giantLines
      .select(col("doc_id"), col("__ln"),
        posexplode(pieceUdf(col("__line"))).as(Seq("__pi", "__piece")))
      .repartition(nsp, col("doc_id"), col("__ln"), col("__pi"))
      .withColumn("__w", wordsOf(col("__piece")))
      .groupBy(col("doc_id"))
      .agg(
        sum(size(col("__w"))).cast("int").as("__n_words"),
        sum(sumLenOf(col("__w"))).as("__sum_len"),
        sum(nAlphaOf(col("__w"))).cast("int").as("__n_alpha"),
        sum(nStopOf(col("__w"))).cast("int").as("__n_stop"),
        sum(nHashOf(col("__piece"))).cast("int").as("__nhash"),
        sum(nEllOf(col("__piece"))).cast("int").as("__nell"))
    // a giant whose every line is empty has NO piece rows (explode of
    // an empty cut array) — word counters coalesce to the zeros the
    // per-row kernel would produce; the line side always has >= 1 row
    val giant = giants.join(lineAgg, "doc_id")
      .join(wordAgg, Seq("doc_id"), "left")
      .withColumn("__n_words", coalesce(col("__n_words"), lit(0)))
      .withColumn("__sum_len", coalesce(col("__sum_len"), lit(0L)))
      .withColumn("__n_alpha", coalesce(col("__n_alpha"), lit(0)))
      .withColumn("__n_stop", coalesce(col("__n_stop"), lit(0)))
      .withColumn("__nhash", coalesce(col("__nhash"), lit(0)))
      .withColumn("__nell", coalesce(col("__nell"), lit(0)))
    finish(small.unionByName(giant.select(small.columns.map(col): _*)))
  }
}
