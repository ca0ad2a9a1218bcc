package graft.text

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Deterministic tokenizer (reference F7: `len(tiktoken.encode(text))`,
  * `/root/reference/Chunking_Strats/kamredt_chunking.py:48-50`).
  *
  * tiktoken's cl100k_base is not reproducible in a zero-dependency
  * Scala engine, so the engine defines its own spec (SURVEY.md §7.3):
  * a token is either a maximal run of alphanumerics or a single
  * non-space symbol. The regex is kept inside the RE2-compatible
  * subset so the very same pattern runs in Spark (java.util.regex)
  * and in the DuckDB oracle (`regexp_extract_all`), giving bit-equal
  * token counts on both sides.
  */
object Tok {
  /** Portable whitespace CLASS BODY (interpolate inside `[...]`).
    * Java's `\s` includes vertical tab U+000B while DuckDB's RE2 `\s`
    * is `[\t\n\f\r ]` — a document containing VT would silently break
    * cross-engine parity for every whitespace-driven count. Spelling
    * the set explicitly (JAVA's set, so Spark-side behavior is
    * bit-identical to the historical `\s` forms) makes both engines
    * agree by construction; `\x0B` parses identically in
    * java.util.regex and RE2. */
  val Ws: String = " \\t\\n\\x0B\\f\\r"

  /** Shared token pattern — keep in sync with [[Tok.oracleRegex]]. */
  val pattern: String = s"[A-Za-z0-9]+|[^A-Za-z0-9$Ws]"
  /** The literal to embed in DuckDB oracle SQL. */
  val oracleRegex: String = pattern

  private val compiled = java.util.regex.Pattern.compile(pattern)

  /** Column of tokens — codegen'd regexp, no UDF in the hot path. */
  def tokens(c: Column): Column = regexp_extract_all(c, lit(pattern), lit(0))

  /** Token count as a Column (F7). */
  def tokenCount(c: Column): Column = size(tokens(c))

  /** Driver/executor-side Scala tokenizer with identical semantics —
    * used by the recursive chunker's flatMap (C2), where token budgets
    * are evaluated per fragment outside the Column world. */
  def tokenize(s: String): Vector[String] = {
    val m = compiled.matcher(s)
    val b = Vector.newBuilder[String]
    while (m.find()) b += m.group()
    b.result()
  }

  def count(s: String): Int = {
    val m = compiled.matcher(s)
    var n = 0
    while (m.find()) n += 1
    n
  }

  /** Token count of `s[from, to)` without allocating the substring —
    * an opaque matcher region behaves exactly like `count(s.substring
    * (from, to))`. Callers cut only at non-alphanumeric boundaries, so
    * region edges never split a token. */
  def countRegion(s: String, from: Int, to: Int): Int = {
    val m = compiled.matcher(s).region(from, to)
    var n = 0
    while (m.find()) n += 1
    n
  }

  /** Start offset of every token, ONE matcher pass — lets a caller
    * that needs token counts for MANY regions of the same string
    * (the recursive chunker probes ~|tokens| fragments per document)
    * replace per-region matcher setups with binary searches. */
  def tokenStarts(s: String): Array[Int] = {
    val m = compiled.matcher(s)
    val b = new scala.collection.mutable.ArrayBuilder.ofInt
    while (m.find()) b += m.start()
    b.result()
  }

  /** Tokens AND their start offsets in ONE matcher pass — for
    * kernels that need both the strings (e.g. hash bucketing) and
    * offset slicing ([[countStarts]]-style) without tokenizing the
    * document twice. */
  def tokensAndStarts(s: String): (Array[String], Array[Int]) = {
    val m = compiled.matcher(s)
    val ts = Array.newBuilder[String]
    val st = new scala.collection.mutable.ArrayBuilder.ofInt
    while (m.find()) { ts += m.group(); st += m.start() }
    (ts.result(), st.result())
  }

  /** #tokens starting in `[from, to)` over a [[tokenStarts]] array —
    * equals [[countRegion]] whenever region edges do not split a
    * token (the chunker cut invariant: cuts land only at separator
    * boundaries, and a token never spans a separator). */
  def countStarts(starts: Array[Int], from: Int, to: Int): Int =
    lowerBound(starts, to) - lowerBound(starts, from)

  private[text] def lowerBound(a: Array[Int], key: Int): Int = {
    val i = java.util.Arrays.binarySearch(a, key)
    if (i >= 0) i else -(i + 1)
  }

  /** One token-safe piece of a long document plus the `look` tokens
    * that FOLLOW it — the giant-split unit for n-gram kernels whose
    * grams may span a cut ([[graft.Queries.repetitionSignals]]'s
    * giant branch): `tokenize(piece_0) ++ look_0 ++ …` is NOT the
    * global stream, but `tokenize(piece_i)` concatenated over i IS,
    * and `look_i` are exactly the first tokens of that stream after
    * piece i — so a kernel counting gram STARTS inside its own piece
    * with `look` as the cross-cut tail sees every global gram
    * exactly once. */
  case class LookPiece(piece: String, look: Array[String])

  private def isWsChar(c: Char): Boolean =
    c == ' ' || c == '\t' || c == '\n' || c == '\u000B' ||
      c == '\f' || c == '\r'

  /** The first up-to-`k` tokens of `s` at or after `from`, matching
    * the global tokenization (callers cut only where the previous
    * char is whitespace, and a token never spans whitespace). The
    * matcher runs in a bounded region grown geometrically until the
    * k-th match provably isn't truncated by the region edge. */
  private def nextTokens(s: String, from: Int, k: Int): Array[String] = {
    val n = s.length
    var regionEnd = math.min(n, from + 1024)
    while (true) {
      val m = compiled.matcher(s).region(from, regionEnd)
      val found = Array.newBuilder[String]
      var cnt = 0
      var lastEnd = from
      while (cnt < k && m.find()) {
        found += m.group(); lastEnd = m.end(); cnt += 1
      }
      // a match ending AT the region edge may be a truncated alnum
      // run — grow the region unless it already reaches the string end
      if (regionEnd >= n || (cnt == k && lastEnd < regionEnd))
        return found.result()
      regionEnd = math.min(n, from + (regionEnd - from) * 8)
    }
    throw new IllegalStateException("unreachable")
  }

  /** Plain whitespace-snapped pieces — [[lookaheadPieces]] without
    * the lookahead, for kernels whose unit never crosses whitespace
    * (BPE word counts, regex token counts: a token is an alnum run or
    * a single non-ws symbol, a word is a non-ws run — neither can
    * span a cut whose previous char is whitespace). Per-piece results
    * therefore SUM to the per-row result exactly. Null/empty text
    * yields ONE empty piece (the explode-keeps-the-document
    * contract); a whitespace-free run longer than the stride stays
    * one piece — serial by construction, exact by construction. */
  def wsPieces(text: String, strideChars: Int): Array[String] = {
    require(strideChars >= 1, s"strideChars must be >= 1, got $strideChars")
    if (text == null || text.isEmpty) return Array("")
    val n = text.length
    val cuts = new scala.collection.mutable.ArrayBuilder.ofInt
    cuts += 0
    var pos = 0
    while (pos < n) {
      var c = math.min(pos + strideChars, n)
      while (c < n && !isWsChar(text.charAt(c - 1))) c += 1
      cuts += c
      pos = c
    }
    val cs = cuts.result()
    Array.tabulate(cs.length - 1)(i => text.substring(cs(i), cs(i + 1)))
  }

  /** Whitespace-snapped pieces of ~`strideChars` each, every piece
    * carrying its `nLook`-token lookahead. Cuts land only where the
    * PREVIOUS char is whitespace ([[Ws]]'s set), so per-piece
    * tokenization composes into the global token stream; a
    * whitespace-free run longer than the stride stays one piece
    * (serial by construction, exact by construction). Null/empty
    * text yields ONE empty piece, so an explode keeps the document
    * (the explode_outer sentinel contract). One forward pass plus a
    * bounded lookahead probe per cut. */
  def lookaheadPieces(text: String, strideChars: Int,
      nLook: Int = 3): Array[LookPiece] = {
    if (text == null || text.isEmpty)
      return Array(LookPiece("", Array.empty))
    val n = text.length
    val cuts = new scala.collection.mutable.ArrayBuilder.ofInt
    cuts += 0
    var pos = 0
    while (pos < n) {
      var c = math.min(pos + strideChars, n)
      while (c < n && !isWsChar(text.charAt(c - 1))) c += 1
      cuts += c
      pos = c
    }
    val cs = cuts.result()
    Array.tabulate(cs.length - 1) { i =>
      val look =
        if (cs(i + 1) >= n) Array.empty[String]
        else nextTokens(text, cs(i + 1), nLook)
      LookPiece(text.substring(cs(i), cs(i + 1)), look)
    }
  }
}
