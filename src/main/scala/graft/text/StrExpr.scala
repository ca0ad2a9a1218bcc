package graft.text

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Scan-from-previous-match "find all occurrences" kernel.
  *
  * The pure-SQL form (`filter(sequence(1, n−m+1), p -> substr(doc, p,
  * m) = chunk)`) is oracle-portable but does O(doclen · chunklen)
  * character compares per row AND materializes a ~doclen-int array
  * before the filter — the one advisory hot spot of the r4 audit.
  * This kernel steps `UTF8String.indexOf` from one past the previous
  * match (overlapping occurrences included, exactly like the
  * all-positions form), so per-row cost is one linear scan plus work
  * proportional to the number of matches, and the only allocation is
  * the result array. 1-based char positions (`locate` convention);
  * empty needle → empty array; no match → empty array.
  */
object StrOps {
  def indexesOf(hay: UTF8String, nee: UTF8String): ArrayData = {
    if (nee.numChars() == 0) return new GenericArrayData(Array.empty[Int])
    val buf = scala.collection.mutable.ArrayBuffer.empty[Int]
    var from = 0
    var p = hay.indexOf(nee, from)
    while (p >= 0) {
      buf += p + 1
      from = p + 1
      p = hay.indexOf(nee, from)
    }
    new GenericArrayData(buf.toArray)
  }

  /** Longest L such that `a`'s L-char suffix equals `b`'s L-char
    * prefix, via the KMP prefix-function automaton: build π over `b`,
    * stream `a` through it; the final automaton state IS the longest
    * b-prefix that is an a-suffix. One linear pass (O(|a|+|b|) code
    * points, O(|b|) ints) — vs the HOF form's O(min²) substring
    * compares plus a materialized length-min int array per pair.
    * Code-point arrays (not UTF-16 units) so lengths agree with SQL
    * `substr`/`length` character semantics on astral chars. */
  private def sufPre(a: Array[Int], b: Array[Int]): Int = {
    val m = b.length
    if (m == 0 || a.length == 0) return 0
    val pi = new Array[Int](m)
    var k = 0
    var i = 1
    while (i < m) {
      while (k > 0 && b(i) != b(k)) k = pi(k - 1)
      if (b(i) == b(k)) k += 1
      pi(i) = k
      i += 1
    }
    k = 0
    i = 0
    while (i < a.length) {
      if (k == m) k = pi(k - 1) // full b matched mid-stream; fall back
      while (k > 0 && a(i) != b(k)) k = pi(k - 1)
      if (a(i) == b(k)) k += 1
      i += 1
    }
    k // ≤ min(|a|, |b|): at most one increment per consumed char of a
  }

  /** max(sufPre(a,b), sufPre(b,a)) — the symmetric "how much do these
    * two chunks overlap end-to-start" scorer of J5. */
  def longestAffixOverlap(a: UTF8String, b: UTF8String): Int = {
    val ac = a.toString.codePoints().toArray
    val bc = b.toString.codePoints().toArray
    math.max(sufPre(ac, bc), sufPre(bc, ac))
  }
}

/** `indexesOf(haystack, needle)` — array<int> of ALL 1-based match
  * positions. Native expression with codegen (a static kernel call
  * inside whole-stage codegen, same style as [[graft.vector
  * .FloatVecDot]]), value-identical to the HOF filter form — asserted
  * in StrExprSpec, and the q_chunk_occurrences oracle keeps checking
  * the output against DuckDB's independent all-positions scan. */
case class StringIndexesOf(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def nullable: Boolean = left.nullable || right.nullable

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    (left.dataType, right.dataType) match {
      case (StringType, StringType) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case _ =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"StringIndexesOf needs two string inputs, got " +
            s"${left.dataType.catalogString} / ${right.dataType.catalogString}")
    }
  }

  override def nullSafeEval(h: Any, n: Any): Any =
    StrOps.indexesOf(h.asInstanceOf[UTF8String], n.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (h, n) => s"graft.text.StrOps.indexesOf($h, $n)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): StringIndexesOf =
    copy(left = newLeft, right = newRight)
}

/** `longestAffixOverlap(a, b)` — int: the longest L where one input's
  * L-char suffix equals the other's L-char prefix (both directions).
  * Native codegen'd expression (static kernel call in whole-stage
  * codegen); value-identical to the O(L²) HOF filter form it replaced
  * in q_text_overlap_pairs — asserted in StrExprSpec, and that
  * query's DuckDB oracle remains the independent HOF scan. */
case class LongestAffixOverlap(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = IntegerType
  override def nullable: Boolean = left.nullable || right.nullable

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    (left.dataType, right.dataType) match {
      case (StringType, StringType) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case _ =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"LongestAffixOverlap needs two string inputs, got " +
            s"${left.dataType.catalogString} / ${right.dataType.catalogString}")
    }
  }

  override def nullSafeEval(a: Any, b: Any): Any =
    StrOps.longestAffixOverlap(a.asInstanceOf[UTF8String], b.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.text.StrOps.longestAffixOverlap($a, $b)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): LongestAffixOverlap =
    copy(left = newLeft, right = newRight)
}

/** `codePointSlices(text, bounds)` — array<string>: for each
  * `(start, end)` CODE-POINT offset pair in `bounds`, the slice
  * `text[start, end)`, value-identical to
  * `substr(text, start + 1, end − start)` per element.
  *
  * WHY a native expression: `UTF8String.substring` locates its start
  * by scanning code points from offset 0, so per-chunk `substr` over
  * one parent document costs O(start) EACH — chunking a document
  * into k windows is O(L²/stride) in ONE task, invisible on 600-char
  * fixture docs and fatal on a giant one (the r11 row-skew harness
  * measured the chunkers ~quadratic in doc length: 2 MB of text took
  * 10-180 s single-task). This kernel walks the document ONCE with a
  * forward cursor (ascending starts; an out-of-order start rescans,
  * correct but slow), so extracting all chunks is
  * O(L + total output) regardless of chunk count. Evaluated per
  * document row (CodegenFallback — the O(L) walk dwarfs the virtual
  * call), exploded afterward, exactly where the quadratic substr
  * projection used to sit. */
case class CodePointSlices(left: Expression, right: Expression)
    extends BinaryExpression
    with org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback {

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullable: Boolean = left.nullable || right.nullable

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    (left.dataType, right.dataType) match {
      case (StringType, ArrayType(StructType(fs), _))
          if fs.length == 2 && fs.forall(_.dataType == IntegerType) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case _ =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          "codePointSlices needs (string, array<struct<int,int>>), got " +
            s"${left.dataType.catalogString} / ${right.dataType.catalogString}")
    }
  }

  override def nullSafeEval(t: Any, b: Any): Any = {
    val s = t.asInstanceOf[UTF8String].toString
    val bounds = b.asInstanceOf[ArrayData]
    val n = bounds.numElements()
    val len = s.length
    val totalCp = s.codePointCount(0, len)
    val out = new Array[Any](n)
    var cp = 0 // code-point cursor
    var ci = 0 // UTF-16 char cursor at code point `cp`
    var i = 0
    while (i < n) {
      val row = bounds.getStruct(i, 2)
      val sCp = math.min(math.max(row.getInt(0), 0), totalCp)
      val eCp = math.max(sCp, math.min(row.getInt(1), totalCp))
      if (sCp < cp) { cp = 0; ci = 0 } // out-of-order: restart
      val cs = s.offsetByCodePoints(ci, sCp - cp)
      val ce = s.offsetByCodePoints(cs, eCp - sCp)
      out(i) = UTF8String.fromString(s.substring(cs, ce))
      // cursor parks at the slice START so overlapping ascending
      // windows (the fixed chunker's stride < size) stay forward
      cp = sCp; ci = cs
      i += 1
    }
    new GenericArrayData(out)
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CodePointSlices =
    copy(left = newLeft, right = newRight)
}

/** `repetitionCounts(tokens)` — one-pass n-gram repetition counters
  * for the Gopher/MassiveText dup-n-gram family
  * ([[graft.Queries.q_repetition]]): for each n ∈ {1,2,3,4} the
  * total n-gram occurrence count, the distinct-gram count, the count
  * of grams occurring exactly once, and the max gram frequency, as
  * struct<t1,d1,s1,m1,...,t4,d4,s4,m4: bigint>.
  *
  * WHY a native expression: the r11 per-row HOF form (sorted gram
  * arrays + `aggregate` run-length folds) removed the corpus-growing
  * hash-aggregate state but paid interpreted-lambda dispatch and a
  * per-element struct allocation for EVERY gram of every size —
  * measurably slower per row than the exploded aggregate it replaced
  * (r11 scale probe: 7.4 s vs 5.8 s at 10× sf0.1). This kernel keeps
  * the zero-aggregation-state plan shape (pure scan → project) and
  * does the counting in one tight loop per row: token strings
  * decoded once, grams assembled into a reused StringBuilder, counts
  * in a per-row HashMap whose size is bounded by the DOCUMENT's gram
  * count (never the corpus). Values are exact integer counts — the
  * fraction arithmetic (and its rounding) stays in Column-land, so
  * the DuckDB oracle is untouched. CodegenFallback: the O(L) walk
  * dwarfs the virtual call, same reasoning as [[CodePointSlices]]. */
case class RepetitionCounts(child: Expression)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression
    with org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback {

  override def dataType: DataType = StructType(
    (1 to 4).flatMap(n => Seq("t", "d", "s", "m").map(p =>
      StructField(s"$p$n", LongType, nullable = false))))
  override def nullable: Boolean = child.nullable

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(StringType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"repetitionCounts needs array<string>, got ${other.catalogString}")
    }

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val L = arr.numElements()
    val toks = new Array[String](L)
    var i = 0
    while (i < L) {
      // defensive: a null element renders as in array_join (skipped
      // there; here it becomes the empty token — Tok.tokens never
      // emits nulls, so the branch is unreachable on engine input)
      val u = if (arr.isNullAt(i)) null else arr.getUTF8String(i)
      toks(i) = if (u == null) "" else u.toString
      i += 1
    }
    val out = new Array[Any](16)
    var n = 1
    while (n <= 4) {
      val total = math.max(0, L - n + 1)
      var distinct = 0L; var singles = 0L; var maxRun = 0L
      if (total > 0) {
        val counts = new java.util.HashMap[String, Integer](total * 2)
        val sb = new java.lang.StringBuilder
        var p = 0
        while (p < total) {
          sb.setLength(0)
          var q = 0
          while (q < n) {
            if (q > 0) sb.append(' ')
            sb.append(toks(p + q))
            q += 1
          }
          val k = sb.toString
          val prev = counts.get(k)
          counts.put(k, if (prev == null) 1 else prev + 1)
          p += 1
        }
        distinct = counts.size().toLong
        val it = counts.values().iterator()
        while (it.hasNext) {
          val c = it.next().intValue()
          if (c == 1) singles += 1L
          if (c > maxRun) maxRun = c.toLong
        }
      }
      val j = (n - 1) * 4
      out(j) = total.toLong; out(j + 1) = distinct
      out(j + 2) = singles; out(j + 3) = maxRun
      n += 1
    }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(out)
  }

  override protected def withNewChildInternal(
      newChild: Expression): RepetitionCounts = copy(child = newChild)
}

/** `partGramCounts(tokens, validStarts)` — the PER-PART half of the
  * giant-document split for [[RepetitionCounts]]: local n-gram
  * occurrence counts (n ∈ 1..4) over one token-array slice, as
  * `array<struct<n:int, h1:bigint, h2:bigint, cnt:bigint>>` where
  * `(h1, h2)` is a 128-bit gram FINGERPRINT (two independent-seed
  * XXH64s over the space-joined gram bytes), not the gram string.
  *
  * WHY it exists: [[RepetitionCounts]] is per-row by construction —
  * the right shape for normal documents (zero aggregation state),
  * but a 50 MB document is one row and therefore ONE serial task
  * (the worst r11 row-skew exponent, 11.2×). The split path cuts
  * the giant into pieces (each with a `maxN − 1`-token lookahead so
  * boundary-spanning grams are counted by exactly one piece),
  * computes these local counts partition-parallel, and merges with
  * one `groupBy(doc, n, h1, h2).sum(cnt)` — whose state is bounded
  * by the GIANT documents' distinct grams, spread over the shuffle,
  * not held per-task. Composition is exact: a gram of size n
  * starting at local position i is counted iff
  * `i < validStarts && i + n <= len(tokens)`, so summed over pieces
  * every global start position 0..L−n contributes exactly once and
  * the merged (total, distinct, singletons, max) equal the unsplit
  * kernel's.
  *
  * WHY hashes (r14): the r13 profile attributed most of the giant
  * wall to materializing ~30 M gram-STRING rows through two
  * exchanges. The downstream statistics (total/distinct/singleton/
  * max) need gram IDENTITY only, never gram text, and this branch is
  * oracle-invisible (no fixture document crosses the split
  * threshold; its contract is the split == per-row parity spec).
  * 128 bits of fingerprint for the ≤ tens-of-millions distinct grams
  * of ONE document is the same equality-by-fingerprint trust the
  * engine's md5 dedup discipline rests on — and fixed-width long
  * keys shuffle and hash-aggregate far cheaper than variable
  * strings. CodegenFallback, same reasoning as [[RepetitionCounts]].
  */
case class PartGramCounts(left: Expression, right: Expression)
    extends BinaryExpression
    with org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback {

  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("n", IntegerType, nullable = false),
    StructField("h1", LongType, nullable = false),
    StructField("h2", LongType, nullable = false),
    StructField("cnt", LongType, nullable = false))), containsNull = false)
  override def nullable: Boolean = left.nullable || right.nullable

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(StringType, _), IntegerType) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"partGramCounts needs (array<string>, int), got $other")
    }

  override def nullSafeEval(input: Any, valid: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val L = arr.numElements()
    val validStarts = math.min(valid.asInstanceOf[Int], L)
    // token BYTES once per token (not per gram): UTF-8, the exact
    // byte stream `gram string`.getBytes would produce
    val toks = new Array[Array[Byte]](L)
    var i = 0
    while (i < L) {
      val u = if (arr.isNullAt(i)) null else arr.getUTF8String(i)
      toks(i) = if (u == null) Array.emptyByteArray else u.getBytes
      i += 1
    }
    val out = scala.collection.mutable.ArrayBuffer.empty[Any]
    var buf = new Array[Byte](256)
    var n = 1
    while (n <= 4) {
      val starts = math.min(validStarts, L - n + 1)
      if (starts > 0) {
        val counts =
          new java.util.LinkedHashMap[PartGramCounts.GramKey, Array[Long]](
            starts * 2)
        var p = 0
        while (p < starts) {
          var len = 0
          var q = 0
          while (q < n) {
            val tb = toks(p + q)
            if (len + tb.length + 1 > buf.length)
              buf = java.util.Arrays.copyOf(buf,
                math.max(buf.length * 2, len + tb.length + 1))
            if (q > 0) { buf(len) = ' '; len += 1 }
            System.arraycopy(tb, 0, buf, len, tb.length)
            len += tb.length
            q += 1
          }
          val k = new PartGramCounts.GramKey(
            org.apache.spark.sql.catalyst.expressions.XXH64.hashUnsafeBytes(
              buf, org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET, len,
              PartGramCounts.Seed1),
            org.apache.spark.sql.catalyst.expressions.XXH64.hashUnsafeBytes(
              buf, org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET, len,
              PartGramCounts.Seed2))
          val prev = counts.get(k)
          if (prev == null) counts.put(k, Array(1L)) else prev(0) += 1L
          p += 1
        }
        val it = counts.entrySet().iterator()
        while (it.hasNext) {
          val e = it.next()
          val key = e.getKey
          out += new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
            Array[Any](n, key.h1, key.h2, e.getValue()(0)))
        }
      }
      n += 1
    }
    new GenericArrayData(out.toArray)
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): PartGramCounts =
    copy(left = newLeft, right = newRight)
}

object PartGramCounts {
  private[text] val Seed1 = 0x9E3779B97F4A7C15L
  private[text] val Seed2 = 0xC2B2AE3D27D4EB4FL

  /** 128-bit map key — both halves must agree for equality. */
  private[text] final class GramKey(val h1: Long, val h2: Long) {
    override def hashCode: Int = java.lang.Long.hashCode(h1 * 31 + h2)
    override def equals(o: Any): Boolean = o match {
      case k: GramKey => k.h1 == h1 && k.h2 == h2
      case _ => false
    }
  }
}

object StrExpr {
  import org.apache.spark.sql.graftshim.ColumnShim

  /** Column wrapper: all 1-based occurrence positions of `needle` in
    * `haystack`. */
  def indexesOf(haystack: Column, needle: Column): Column =
    ColumnShim.column(StringIndexesOf(
      ColumnShim.expression(haystack), ColumnShim.expression(needle)))

  /** Column wrapper: longest suffix/prefix overlap length between two
    * strings, both directions. */
  def longestAffixOverlap(a: Column, b: Column): Column =
    ColumnShim.column(LongestAffixOverlap(
      ColumnShim.expression(a), ColumnShim.expression(b)))

  /** Column wrapper: one-pass extraction of every `[start, end)`
    * code-point slice of `text` — the linear replacement for
    * per-chunk `substr` over one parent document. */
  def codePointSlices(text: Column, bounds: Column): Column =
    ColumnShim.column(CodePointSlices(
      ColumnShim.expression(text), ColumnShim.expression(bounds)))

  /** Column wrapper: one-pass per-row n-gram repetition counters
    * (n ∈ 1..4) — struct<t1,d1,s1,m1,...,t4,d4,s4,m4>. */
  def repetitionCounts(tokens: Column): Column =
    ColumnShim.column(RepetitionCounts(ColumnShim.expression(tokens)))

  /** Column wrapper: per-part local n-gram counts (n ∈ 1..4) for the
    * giant-document split of [[repetitionCounts]]. */
  def partGramCounts(tokens: Column, validStarts: Column): Column =
    ColumnShim.column(PartGramCounts(
      ColumnShim.expression(tokens), ColumnShim.expression(validStarts)))
}
