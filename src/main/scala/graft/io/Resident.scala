package graft.io

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.{EliminateSubqueryAliases, EliminateView,
  Resolver, UnresolvedAttribute}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.catalyst.expressions.{Attribute, CommonExpressionRef, With}
import org.apache.spark.sql.catalyst.optimizer.{ConvertToLocalRelation, ReplaceExpressions}
import org.apache.spark.sql.catalyst.plans.logical.{LocalRelation, LogicalPlan}
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.graftshim.ColumnShim
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{DataType, IntegerType, LongType, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** Scalar twins of the Column-tree pieces the resident serve tier
  * ([[graft.vector.Ivf.topKIndexed]], [[graft.text.Bm25.topKIndexed]],
  * [[graft.pipeline.RagPipeline.hybridIndexedServe]], and
  * [[graft.vector.VectorOps.assembleContext]] over their answers)
  * evaluates on the driver instead of planning a Spark job. Each one mirrors what Spark
  * does for the expression it replaces, so a resident serve returns the
  * values the in-memory builders' trees return. A `null`
  * `java.lang.Double` is SQL NULL throughout. Also the one dispatch test
  * for "is this frame driver rows" ([[driverRows]]) that every driver
  * twin ([[graft.vector.Embedder.embed]], the resident serves,
  * [[graft.vector.VectorOps.assembleContext]], [[graft.rel.Rel
  * .valueCounts]]) makes, the reading of their input rows
  * ([[columns]]), and the LocalRelation frames they and [[ResultCache]]
  * return ([[internalFrame]]): pre-planned, so a caller's `collect` of
  * one runs no optimizer and no planner, and resolves no Row encoder
  * after the first frame of its schema in a session. */
object Resident {

  /** Spark's `Divide` on doubles, in `DivModLike.eval`'s order: a NULL
    * divisor, or a zero one outside ANSI mode, gives NULL; then a NULL
    * dividend gives NULL; under ANSI a zero divisor raises
    * DIVIDE_BY_ZERO. */
  def divide(a: java.lang.Double, b: java.lang.Double,
      ansi: Boolean): java.lang.Double =
    if (b == null || (!ansi && b == 0.0)) null
    else if (a == null) null
    else if (b == 0.0)
      throw org.apache.spark.sql.graftshim.ColumnShim.divideByZero()
    else a / b

  /** `round(x, 6)` on a double: HALF_UP on the double's decimal string
    * (`BigDecimal.valueOf`), NaN and infinities passed through. */
  def round6(x: java.lang.Double): java.lang.Double =
    if (x == null || x.isNaN || x.isInfinite) x
    else java.math.BigDecimal.valueOf(x)
      .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue

  /** Spark's ordering of doubles: -0.0 equals 0.0, NaN sorts above
    * every other value. */
  private def compareDoubles(x: Double, y: Double): Int =
    if (x == y) 0 else java.lang.Double.compare(x, y)

  /** The first `k` of `cands` in `ORDER BY score DESC, id` order —
    * DESC puts NULL scores last. */
  def topBy[T](cands: Iterable[T], k: Int)(score: T => java.lang.Double,
      id: T => Long): Seq[T] = {
    val order: Ordering[T] = (a, b) => {
      val s = (score(a), score(b)) match {
        case (null, null) => 0
        case (null, _) => 1
        case (_, null) => -1
        case (x, y) => compareDoubles(y, x)
      }
      if (s != 0) s else java.lang.Long.compare(id(a), id(b))
    }
    cands.toSeq.sorted(order).take(k)
  }

  /** One row of a ranked list. */
  final case class Hit(queryId: Any, rank: Int, id: Long,
      score: java.lang.Double)

  /** `row_number() OVER (ORDER BY score DESC, id) <= k` over one
    * query's (id, score) candidates. */
  def rankTopK(queryId: Any, cands: Iterable[(Long, java.lang.Double)],
      k: Int): Seq[Hit] =
    topBy(cands, k)(_._2, _._1).zipWithIndex
      .map { case ((id, s), i) => Hit(queryId, i + 1, id, s) }

  /** Rows grouped by query id in first-appearance order: a window
    * partitioned by `query_id` pools every row that shares one. */
  def byQuery[T](rows: Seq[(Any, T)]): Seq[(Any, Seq[T])] = {
    val groups = scala.collection.mutable.LinkedHashMap
      .empty[Any, scala.collection.mutable.ArrayBuffer[T]]
    rows.foreach { case (q, v) =>
      groups.getOrElseUpdate(q, scala.collection.mutable.ArrayBuffer.empty[T]) += v
    }
    groups.iterator.map { case (q, vs) => (q, vs.toSeq) }.toSeq
  }

  /** One query's context as [[graft.vector.VectorOps.assembleContext]]'s
    * aggregate builds it from its (rank, source, text) rows: each row is
    * cited as `concat("Source [", rank, "] (", source, "): ", text)`,
    * which is NULL when any part is NULL; `sort_array(struct(rank,
    * cited))` orders them by rank, then by the citation in UTF-8 byte
    * order (`UTF8String.compareTo`, which differs from
    * `String.compareTo` above the BMP); `concat_ws("\n\n", ...)` joins
    * them and skips the NULL citations. */
  def context(hits: Iterable[(java.lang.Long, String, String)]): String =
    hits.iterator
      .collect { case (rank, src, text) if rank != null && src != null && text != null =>
        (rank.longValue, UTF8String.fromString(s"Source [$rank] ($src): $text"))
      }
      .toSeq
      .sorted(Ordering.fromLessThan[(Long, UTF8String)] { case ((r1, c1), (r2, c2)) =>
        r1 < r2 || (r1 == r2 && c1.compareTo(c2) < 0)
      })
      .map(_._2.toString).mkString("\n\n")

  /** A segment id (held as Long) back in its column's type: `int` or
    * `bigint`. */
  def idValue(id: Long, t: DataType): Any = t match {
    case IntegerType => id.toInt
    case LongType => id
    case other => throw new IllegalArgumentException(
      s"resident index ids must be int or bigint, got ${other.catalogString}")
  }

  /** An integral id value (as `int` or `bigint` columns hold them) as a
    * Long: the inverse of [[idValue]]. */
  def idAt(r: InternalRow, i: Int, t: DataType): Long =
    r.get(i, t).asInstanceOf[Number].longValue

  /** Whether the session's division raises on zero (Spark 4 default). */
  def ansi(spark: SparkSession): Boolean = ColumnShim.sqlConf(spark).ansiEnabled

  /** The rows behind `df` when it is driver rows: a LocalRelation frame
    * ([[internalFrame]], `createDataFrame` over a local `Seq`), a
    * [[ResultCache]] row entry, a temp view over
    * one, or a projection, filter or limit of one. Read from the
    * ANALYZED plan, which every Dataset already holds: it is
    * [[normalize]]d, and Catalyst's own `ConvertToLocalRelation` then
    * folds each Project, Filter and Limit over a LocalRelation into its
    * rows, to a fixpoint, under the frame's session conf (ANSI mode,
    * time zone, case mappings). No optimizer batch runs, so the test
    * costs a fraction of a millisecond on a small frame. A caller that
    * mirrors a Column tree on the driver dispatches on this and reads
    * the folded rows directly; any plan the rule cannot fold (an
    * aggregate, a sort, a scan, an unevaluable expression) is None. */
  def driverRows(df: DataFrame): Option[LocalRelation] =
    if (df.isStreaming) None
    else withSessionConf(df.sparkSession) {
      fold(normalize(df.queryExecution.analyzed))
    } match {
      case l: LocalRelation => Some(l)
      case _ => None
    }

  /** [[driverRows]] of a frame built over driver rows with expressions
    * that evaluate on the driver — Spark's own expressions computed
    * with no job. Any other frame raises. */
  def rowsOf(df: DataFrame): LocalRelation = driverRows(df).getOrElse(
    throw new IllegalArgumentException(
      s"not foldable to driver rows:\n${df.queryExecution.analyzed.treeString}"))

  /** An analyzed plan as the optimizer's first batch leaves it, and no
    * further: subquery aliases and views removed, runtime-replaceable
    * expressions replaced (`to_date(s, fmt)` throws if evaluated
    * unreplaced), and the common expressions of a `With` — what SQL
    * `BETWEEN` becomes on Spark 4.1, and which is unevaluable — inlined
    * when they are deterministic. The one normalization behind
    * [[driverRows]] and [[ResidentTable.page]]. */
  private[graft] def normalize(plan: LogicalPlan): LogicalPlan =
    ReplaceExpressions(EliminateView(EliminateSubqueryAliases(plan)))
      .transformAllExpressions {
        case With(child, defs) if defs.forall(_.child.deterministic) =>
          val byId = defs.map(d => d.id -> d.child).toMap
          child.transformUp {
            case r: CommonExpressionRef if byId.contains(r.id) => byId(r.id)
          }
      }

  @scala.annotation.tailrec
  private def fold(plan: LogicalPlan): LogicalPlan = {
    val next = ConvertToLocalRelation(plan)
    if (next eq plan) plan else fold(next)
  }

  /** `body` evaluated under the session's own SQL conf. */
  def withSessionConf[T](spark: SparkSession)(body: => T): T =
    SQLConf.withExistingConf(ColumnShim.sqlConf(spark))(body)

  /** Whether two column names match as the session's analyzer matches
    * them (`spark.sql.caseSensitive`). */
  def resolver(spark: SparkSession): Resolver = ColumnShim.sqlConf(spark).resolver

  /** The position in `output` of the one top-level column `name` names,
    * matched by [[resolver]]; None when it names none, several, or a
    * nested field. */
  def fieldIndex(spark: SparkSession, output: Seq[Attribute],
      name: String): Option[Int] = {
    val matches = resolver(spark)
    UnresolvedAttribute.quotedString(name).nameParts match {
      case Seq(n) if n != "*" =>
        output.indices.filter(i => matches(output(i).name, n)) match {
          case Seq(i) => Some(i)
          case _ => None
        }
      case _ => None
    }
  }

  /** The columns `names` of `df` as Catalyst rows, with the attributes
    * they were read from (the caller's spelling of each name resolves
    * as the analyzer resolves it). Driver rows are read from the folded
    * plan with no Spark job and no planning; any other frame is
    * projected to those columns and collected by one job, and a name
    * that resolves to no column or to several raises Spark's own
    * error. */
  def columns(df: DataFrame, names: String*): (Seq[Attribute], Seq[InternalRow]) = {
    val spark = df.sparkSession
    val local = for {
      l <- driverRows(df)
      at = names.map(fieldIndex(spark, l.output, _))
      if at.forall(_.isDefined)
    } yield {
      val attrs = at.map(i => l.output(i.get))
      (attrs, l.data.map(r => InternalRow.fromSeq(at.zip(attrs).map {
        case (i, a) => r.get(i.get, a.dataType)
      })))
    }
    local.getOrElse {
      val picked = df.select(names.map(col): _*)
      (picked.queryExecution.analyzed.output, collectRows(picked))
    }
  }

  /** Collect `df` as Catalyst rows, by one Spark job tracked as a SQL
    * execution, as `Dataset.collect` runs it but without converting
    * the rows to external ones. */
  def collectRows(df: DataFrame): Seq[InternalRow] = {
    val qe = df.queryExecution
    SQLExecution.withNewExecutionId(qe, Some("collect")) {
      qe.executedPlan.executeCollect()
    }.toSeq
  }

  /** An `array<float>` value as a driver array: NULL stays null; NULL
    * elements, which no embedder emits, read as 0. */
  def floats(r: InternalRow, i: Int): Array[Float] =
    if (r.isNullAt(i)) null
    else {
      val a = r.getArray(i)
      Array.tabulate(a.numElements)(j => if (a.isNullAt(j)) 0f else a.getFloat(j))
    }

  /** A string value as a driver string (NULL stays null). */
  def string(r: InternalRow, i: Int): String =
    if (r.isNullAt(i)) null else r.getUTF8String(i).toString

  /** Row encoders resolved and bound per (session, schema,
    * `spark.sql.datetime.java8API.enabled`), which is all an ordinary
    * frame's Row encoder depends on: a warm request's frames have the
    * same few schemas, so each resolves once per session instead of once
    * per frame. A handful of schemas are live at a time; the bound only
    * keeps a long-lived session's history from growing. */
  private val encoders = new Memo[(String, StructType, Boolean), ExpressionEncoder[Row]](
    "Resident.encoders", 64)

  /** The encoder memo's counters: one build per (session, schema,
    * datetime API) while it holds them. */
  def encoderStats: Memo.Stats = encoders.stats

  /** A LocalRelation frame over Catalyst rows that already hold
    * `output`'s internal values — no conversion from external rows —
    * and pre-planned ([[ColumnShim.prePlanned]]): building it runs no
    * analyzer, and its `collect` runs no optimizer and no planner and
    * deserializes with the session's memoized Row encoder for its
    * schema ([[encoderStats]]), read on the frame's first collect.
    * Every other action, and every frame derived from it, plans as
    * Spark plans it; [[driverRows]] reads it and what is derived from it
    * as it reads any LocalRelation frame. */
  def internalFrame(spark: SparkSession, output: Seq[Attribute],
      rows: Seq[InternalRow]): DataFrame = {
    val relation = LocalRelation(output, rows)
    ColumnShim.prePlanned(spark, relation, () => {
      val key = (Sessions.uuid(spark), relation.schema,
        ColumnShim.sqlConf(spark).datetimeJava8ApiEnabled)
      encoders.getOrBuild(key)(ColumnShim.rowEncoder(spark, key._2))
    })
  }
}
