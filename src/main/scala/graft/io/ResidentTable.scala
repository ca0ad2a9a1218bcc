package graft.io

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.LongAdder

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{And, Attribute, BasePredicate,
  BinaryComparison, BindReferences, Cast, Expression, In, InSet, InterpretedOrdering,
  InterpretedUnsafeProjection, IntegerLiteral, IsNotNull, IsNull, Like, Literal, Not,
  NullOrdering, Or, Predicate, RLike, SortDirection, SortOrder, StringPredicate,
  UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.optimizer.ConstantFolding
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LeafNode, Limit, LogicalPlan,
  Offset, Project, Sort}
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.graftshim.ColumnShim
import org.apache.spark.sql.types.StructType

/** Driver-resident copies of small file-backed tables, and the page
  * walk [[ResultCache.sqlCached]]'s miss answers from them.
  *
  * A viewer page — `SELECT … FROM t WHERE cond ORDER BY keys LIMIT n
  * OFFSET m` — needs the first `m + n` matching rows in key order, not
  * the whole table. The copy holds the table's rows, every column, as
  * `UnsafeRow`s read by one scan job per scan partition (one for a
  * small file), and one permutation of them per `ORDER BY`,
  * sorted on the driver with Catalyst's own ordering (direction, NULLS
  * FIRST/LAST, NaN); TimSort is linear on a file already in key order.
  * [[page]] walks that permutation, evaluates the filter with an
  * interpreted predicate (a compiled one would pay a compile for every
  * new set of literals), skips `m` matches, keeps `n` and stops.
  *
  * Copies live in one [[Memo]] weighed by their measured row bytes
  * (plus one `Int` a row per permutation they may hold) under
  * [[BudgetBytes]]. A relation whose files are over the budget is
  * never read. Any other is read row by row until its rows pass the
  * budget, so the driver never holds more than the budget and one scan
  * partition's encoded rows; a relation that passes it, or whose scan
  * fails, is remembered as such under the same key, so it is read at
  * most once and every later miss on it takes Spark's path. The key is
  * the session, the relation's root paths, each file's (path, length,
  * modification time) as its file index lists them, the format, its
  * options and the read schema: a view re-created over rewritten files
  * gets a fresh copy.
  *
  * [[page]] answers only a plan that cannot raise an error Spark's full
  * scan would: everything else falls back, counted by reason in
  * [[fallbacks]]. */
object ResidentTable {

  /** Row bytes all copies together may hold. */
  private val BudgetBytes: Long = 64L << 20

  /** Permutations one copy holds; a further `ORDER BY` falls back. */
  private val MaxOrders = 4

  /** What a relation that has no copy weighs in the memo, so such
    * markers leave under LRU too. */
  private val MarkerBytes = 1024L

  /** What a copy of `rows` rows of `bytes` row bytes weighs, with
    * every permutation it may hold. */
  private def weight(bytes: Long, rows: Int): Long = bytes + 4L * rows * MaxOrders

  private type OrderKey = Seq[(Expression, SortDirection, NullOrdering)]

  /** What a copy's rows depend on: the session (its conf reads the
    * files), the files as the relation's index lists them, and how they
    * are read. */
  private final case class Key(session: String, roots: Seq[String],
      files: Seq[(String, Long, Long)], format: String, options: Map[String, String],
      schema: StructType)

  /** A page plan's parts: `LIMIT n OFFSET m` of `relation`'s rows that
    * pass `cond`, in `order`, as `output`. */
  private final case class Page(n: Int, m: Int, order: Seq[SortOrder],
      output: Seq[Attribute], cond: Option[Expression], relation: LogicalRelation)

  /** A loaded table: its rows in the relation's output order, and the
    * permutations built so far. */
  private final class Copy(val rows: Array[UnsafeRow], val bytes: Long) {
    private val orders = new ConcurrentHashMap[OrderKey, Array[Int]]()

    /** Row positions in the order of `order` (bound to the rows); None
      * when [[MaxOrders]] other orders are held. */
    def permutation(order: Seq[SortOrder]): Option[Array[Int]] = {
      val k = order.map(o => (o.child, o.direction, o.nullOrdering))
      Option(orders.get(k)).orElse(synchronized {
        Option(orders.get(k)).orElse {
          if (orders.size >= MaxOrders) None
          else {
            val ord = new InterpretedOrdering(order)
            val at = Array.tabulate[Integer](rows.length)(Int.box)
            java.util.Arrays.sort(at, (a: Integer, b: Integer) => ord.compare(rows(a), rows(b)))
            val p = at.map(_.intValue)
            orders.put(k, p)
            Some(p)
          }
        }
      })
    }
  }

  /** Left: why the relation has no copy (`budget` or `load`). */
  private val copies = new Memo[Key, Either[String, Copy]]("ResidentTable", BudgetBytes,
    weigh = _.fold(_ => MarkerBytes, c => weight(c.bytes, c.rows.length)))

  private val served = new LongAdder
  private val fallbackCounts = new ConcurrentHashMap[String, LongAdder]()
  private val log = org.apache.log4j.Logger.getLogger("graft.ResidentTable")

  /** The page `df` asks for, walked over the resident copy of its
    * table, as rows of its analyzed output; None, counted and logged by
    * reason, when the plan is not such a page:
    *
    *  - `shape`: not `Limit(n ≤ 10k)`, an optional `Offset(m)`, a global
    *    `Sort` on attributes, an optional attribute-only `Project`, an
    *    optional `Filter` and a relation, in that order;
    *  - `source`: the relation is not a batch file relation;
    *  - `fold`: folding the filter's constants threw (Spark raises its
    *    own error);
    *  - `condition`: the folded filter holds anything but comparisons,
    *    AND/OR/NOT, IN, IS [NOT] NULL, string-match predicates, columns,
    *    literals and casts that cannot fail — because the walk stops
    *    early, it must never return rows where the full scan would
    *    raise an error;
    *  - `budget`: the table is over budget;
    *  - `load`: reading the table for a copy failed;
    *  - `orders`: the copy already holds [[MaxOrders]] other orders.
    *
    * Reads the ANALYZED plan, [[Resident.normalize]]d, and runs no
    * optimizer: a miss on a loaded table runs no Spark job. */
  private[graft] def page(df: DataFrame): Option[Seq[UnsafeRow]] = {
    val spark = df.sparkSession
    val answer = Resident.withSessionConf(spark) {
      for {
        p <- pageOf(Resident.normalize(df.queryExecution.analyzed))
        lr = p.relation
        fs <- lr.relation match {
          case fs: HadoopFsRelation if !lr.isStreaming => Right(fs)
          case _ => Left("source")
        }
        _ <- Either.cond(fs.location.sizeInBytes <= BudgetBytes, (), "budget")
        cond <- try Right(p.cond.map(c => ConstantFolding(Filter(c, lr))
          .asInstanceOf[Filter].condition)) catch { case NonFatal(_) => Left("fold") }
        _ <- Either.cond(cond.forall(admissible), (), "condition")
        copy <- copies.getOrBuild(key(spark, lr, fs))(load(spark, lr, fs))
        perm <- copy.permutation(p.order.map(BindReferences.bindReference(_, lr.output)))
          .toRight("orders")
      } yield walk(copy.rows, perm, p.n, p.m,
        cond.map(c => Predicate.createInterpreted(BindReferences.bindReference(c, lr.output))),
        InterpretedUnsafeProjection.createProjection(
          BindReferences.bindReferences(p.output, lr.output)))
    }
    answer match {
      case Right(rows) => served.increment(); Some(rows)
      case Left(reason) =>
        val n = fallbackCounts.computeIfAbsent(reason, _ => new LongAdder)
        n.increment()
        val msg = s"page served by Spark, not the resident walk: $reason"
        if (n.sum == 1) log.info(msg + " (logged once per reason; see fallbacks)")
        else log.debug(msg)
        None
    }
  }

  /** The parts of a page plan, or why it is none. */
  private def pageOf(plan: LogicalPlan): Either[String, Page] = plan match {
    case Limit(IntegerLiteral(n), below) if n <= ResultCache.MaxRowEntryRows =>
      val (m, sorted) = below match {
        case Offset(IntegerLiteral(m), c) => (m, c)
        case c => (0, c)
      }
      sorted match {
        case Sort(order, true, c, _) if order.forall(_.child.isInstanceOf[Attribute]) =>
          val (output, source) = c match {
            case Project(list, s) if list.forall(_.isInstanceOf[Attribute]) =>
              (list.map(_.toAttribute), s)
            case s => (s.output, s)
          }
          val (cond, scan) = source match {
            case Filter(e, s) => (Some(e), s)
            case s => (None, s)
          }
          scan match {
            case lr: LogicalRelation => Right(Page(n, m, order, output, cond, lr))
            case _: LeafNode => Left("source")
            case _ => Left("shape")
          }
        case _ => Left("shape")
      }
    case _ => Left("shape")
  }

  /** Whether evaluating `e` on any row can neither raise an error nor
    * depend on anything but that row. */
  private def admissible(e: Expression): Boolean = e match {
    case _: Attribute | _: Literal => true
    case _: And | _: Or | _: Not | _: BinaryComparison | _: In | _: InSet | _: IsNull |
        _: IsNotNull | _: StringPredicate => e.children.forall(admissible)
    case c: Cast => Cast.canUpCast(c.child.dataType, c.dataType) && admissible(c.child)
    // a pattern that compiles cannot fail on any row
    case l: Like => l.right.foldable && admissible(l.left) &&
      compiles(l.copy(left = Literal("")))
    case r: RLike => r.right.foldable && admissible(r.left) &&
      compiles(r.copy(left = Literal("")))
    case _ => false
  }

  private def compiles(e: Expression): Boolean =
    try { e.eval(); true } catch { case NonFatal(_) => false }

  /** Walk `perm`: skip `m` rows that pass `pred`, keep the next `n`,
    * stop. */
  private def walk(rows: Array[UnsafeRow], perm: Array[Int], n: Int, m: Int,
      pred: Option[BasePredicate], project: UnsafeProjection): Seq[UnsafeRow] = {
    pred.foreach(_.initialize(0))
    val kept = Seq.newBuilder[UnsafeRow]
    var i, matched = 0
    while (i < perm.length && matched < m + n) {
      val r = rows(perm(i))
      if (pred.forall(_.eval(r))) {
        if (matched >= m) kept += project(r).copy()
        matched += 1
      }
      i += 1
    }
    kept.result()
  }

  private def key(spark: SparkSession, lr: LogicalRelation, fs: HadoopFsRelation): Key =
    Key(Sessions.uuid(spark), fs.location.rootPaths.map(_.toString),
      fs.location.listFiles(Nil, Nil).flatMap(_.files)
        .map(f => (f.getPath.toString, f.getLen, f.getModificationTime)),
      fs.fileFormat.getClass.getName, fs.options, lr.schema)

  /** The relation's rows, read partition by partition (one scan job
    * each, as the iterator reaches it) until they pass the budget; Left
    * `budget` when they do, Left `load` when the scan fails. Either is
    * logged, once per relation. */
  private def load(spark: SparkSession, lr: LogicalRelation, fs: HadoopFsRelation)
      : Either[String, Copy] = {
    val what = fs.location.rootPaths.mkString(", ")
    val rows = scala.collection.mutable.ArrayBuffer.empty[UnsafeRow]
    var bytes = 0L
    try {
      val qe = ColumnShim.ofRows(spark, lr).queryExecution
      SQLExecution.withNewExecutionId(qe, Some("toLocalIterator")) {
        // each decoded row owns its bytes; partitions past the budget
        // are never scanned
        val it = qe.executedPlan.executeToIterator()
        while (weight(bytes, rows.length) <= BudgetBytes && it.hasNext) {
          val r = it.next().asInstanceOf[UnsafeRow]
          rows += r
          bytes += r.getSizeInBytes
        }
      }
      if (weight(bytes, rows.length) > BudgetBytes) {
        log.info(s"$what: over the resident budget of $BudgetBytes bytes after " +
          s"${rows.length} rows; pages on it are served by Spark")
        Left("budget")
      } else {
        log.info(s"$what: loaded ${rows.length} rows, $bytes bytes, resident")
        Right(new Copy(rows.toArray, bytes))
      }
    } catch {
      case NonFatal(e) =>
        log.info(s"$what: reading a resident copy failed, pages on it are " +
          s"served by Spark: $e")
        Left("load")
    }
  }

  /** Loads (builds), hits, evictions and bytes (weight) of the copies. */
  def stats: Memo.Stats = copies.stats

  /** Pages answered by the walk. */
  def pagesServed: Long = served.sum

  /** Pages left to Spark, by reason (see [[page]]). */
  def fallbacks: Map[String, Long] =
    fallbackCounts.asScala.map { case (r, n) => r -> n.sum }.toMap
}
