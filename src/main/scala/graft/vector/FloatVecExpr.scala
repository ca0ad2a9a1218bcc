package graft.vector

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Native codegen'd dot product over `array<float>` columns.
  *
  * The pure-SQL form (`aggregate(zip_with(a, b, ...))`,
  * [[VectorOps.dot]]) is oracle-portable but allocates an
  * intermediate array per row pair — at n² near-dup scale that
  * dominates runtime. This expression emits a tight fused loop
  * (double accumulation in index order — bit-identical to the HOF
  * form, so oracle parity is unaffected), per the custom-Expression
  * preference order of SURVEY §2.12 / the Spark guide.
  *
  * Null elements are treated as 0; length mismatch uses the shorter
  * prefix (same as `zip_with` + null-skip).
  */
case class FloatVecDot(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = left.nullable || right.nullable

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    (left.dataType, right.dataType) match {
      case (ArrayType(FloatType, _), ArrayType(FloatType, _)) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case _ =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"FloatVecDot needs two array<float> inputs, got " +
            s"${left.dataType.catalogString} / ${right.dataType.catalogString}")
    }
  }

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var s = 0.0
    var i = 0
    while (i < n) {
      if (!x.isNullAt(i) && !y.isNullAt(i))
        s += x.getFloat(i).toDouble * y.getFloat(i).toDouble
      i += 1
    }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (x, y) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val s = ctx.freshName("s")
      s"""
         |int $n = java.lang.Math.min($x.numElements(), $y.numElements());
         |double $s = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  if (!$x.isNullAt($i) && !$y.isNullAt($i)) {
         |    $s += (double) $x.getFloat($i) * (double) $y.getFloat($i);
         |  }
         |}
         |${ev.value} = $s;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): FloatVecDot =
    copy(left = newLeft, right = newRight)
}

/** Native codegen'd EXACT integer dot over `array<int>` columns —
  * the quantized-lattice twin of [[FloatVecDot]]: the HOF form
  * (`aggregate(zip_with(...))`, the former [[Quantize.dotQ]] body)
  * allocates an intermediate array per evaluation, which dominates
  * at intra-cell pair scale (SemDeDup's n²/cells dots). Integer
  * addition is associative, so this is bit-identical to the HOF form
  * under ANY evaluation order — swapping it in can never move a
  * hash. Null elements count 0; length mismatch uses the shorter
  * prefix (zip_with + null-skip semantics). */
case class IntVecDotL(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = LongType
  override def nullable: Boolean = left.nullable || right.nullable

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    (left.dataType, right.dataType) match {
      case (ArrayType(IntegerType, _), ArrayType(IntegerType, _)) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case _ =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"IntVecDotL needs two array<int> inputs, got " +
            s"${left.dataType.catalogString} / ${right.dataType.catalogString}")
    }
  }

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var s = 0L
    var i = 0
    while (i < n) {
      if (!x.isNullAt(i) && !y.isNullAt(i))
        s += x.getInt(i).toLong * y.getInt(i)
      i += 1
    }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (x, y) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val s = ctx.freshName("s")
      s"""
         |int $n = java.lang.Math.min($x.numElements(), $y.numElements());
         |long $s = 0L;
         |for (int $i = 0; $i < $n; $i++) {
         |  if (!$x.isNullAt($i) && !$y.isNullAt($i)) {
         |    $s += (long) $x.getInt($i) * (long) $y.getInt($i);
         |  }
         |}
         |${ev.value} = $s;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): IntVecDotL =
    copy(left = newLeft, right = newRight)
}

/** Native codegen'd nearest-centroid assignment over an `array<int>`
  * quantized vector and a CONSTANT centroid matrix (the k-means
  * assignment step of [[Ivf.boundedIndex]]).
  *
  * The pure-SQL form (`transform(centroids, c -> aggregate(zip_with
  * (...)))`) evaluates two interpreted lambdas per dimension per cell
  * per row and allocates a zipped array per cell — measured as ~all
  * of q_topk_ivf's runtime. This fused loop accumulates each cell's
  * squared distance in ascending dimension order and keeps the FIRST
  * minimum — bit-identical doubles and the same lowest-cell tie rule,
  * so oracle parity is unaffected (the FloatVecDot precedent).
  */
case class IntVecNearestCell(child: Expression, cents: Array[Array[Double]])
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  override def dataType: DataType = IntegerType

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(IntegerType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"IntVecNearestCell needs array<int>, got ${other.catalogString}")
    }

  override def nullSafeEval(a: Any): Any = {
    val v = a.asInstanceOf[ArrayData]
    var best = 0
    var bestD = Double.MaxValue
    var c = 0
    while (c < cents.length) {
      val ct = cents(c)
      val n = math.min(ct.length, v.numElements())
      var d = 0.0
      var j = 0
      while (j < n) {
        val x = v.getInt(j).toDouble - ct(j); d += x * x; j += 1
      }
      if (d < bestD) { bestD = d; best = c }
      c += 1
    }
    best
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val matRef = ctx.addReferenceObj("cents", cents, "double[][]")
    nullSafeCodeGen(ctx, ev, v => {
      val (c, j, n, d, ct, best, bestD) =
        (ctx.freshName("c"), ctx.freshName("j"), ctx.freshName("n"),
          ctx.freshName("d"), ctx.freshName("ct"), ctx.freshName("best"),
          ctx.freshName("bestD"))
      s"""
         |int $best = 0;
         |double $bestD = Double.MAX_VALUE;
         |for (int $c = 0; $c < $matRef.length; $c++) {
         |  double[] $ct = $matRef[$c];
         |  int $n = java.lang.Math.min($ct.length, $v.numElements());
         |  double $d = 0.0;
         |  for (int $j = 0; $j < $n; $j++) {
         |    double x = (double) $v.getInt($j) - $ct[$j];
         |    $d += x * x;
         |  }
         |  if ($d < $bestD) { $bestD = $d; $best = $c; }
         |}
         |${ev.value} = $best;
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(newChild: Expression): IntVecNearestCell =
    copy(child = newChild)
}

object FloatVecExpr {
  import org.apache.spark.sql.graftshim.ColumnShim

  /** Column wrapper: dot(a, b) for float-array columns. */
  def dotF(a: Column, b: Column): Column =
    ColumnShim.column(FloatVecDot(ColumnShim.expression(a), ColumnShim.expression(b)))

  def normF(a: Column): Column =
    org.apache.spark.sql.functions.sqrt(dotF(a, a))

  /** [[FloatVecDot]] on driver arrays: double accumulation in index
    * order over the shorter prefix — the same value the expression
    * returns for the same two vectors. */
  def dot(x: Array[Float], y: Array[Float]): Double = {
    val n = math.min(x.length, y.length)
    var s = 0.0
    var i = 0
    while (i < n) { s += x(i).toDouble * y(i).toDouble; i += 1 }
    s
  }

  /** Column wrapper: exact integer dot for int-array columns. */
  def dotI(a: Column, b: Column): Column =
    ColumnShim.column(IntVecDotL(ColumnShim.expression(a), ColumnShim.expression(b)))

  /** Column wrapper: nearest-centroid index for an int-array column. */
  def nearestCellF(qv: Column, cents: Array[Array[Double]]): Column =
    ColumnShim.column(IntVecNearestCell(ColumnShim.expression(qv), cents))
}
