package graft.rel

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
import org.apache.spark.sql.catalyst.expressions.{Ascending, AttributeReference,
  BoundReference, Descending, InterpretedOrdering, SortOrder}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The reference's tabular query surface (SURVEY §2.2/§2.4/§2.6;
  * `/root/reference/Frontend/app.py:83-309, 473-578` and
  * `/root/reference/Backend/api.py:11-41`), re-expressed as thin,
  * named DataFrame combinators. Each exists so the operator can be
  * oracle-checked and reused; Catalyst supplies pushdown/pruning that
  * the reference hand-rolled into SQL strings (SURVEY §4).
  */
object Rel {

  /** Filter spec mirroring the reference's filters dict
    * (`Frontend/app.py:147-196`): equality, numeric BETWEEN, date
    * BETWEEN — AND-conjoined (P2–P5). */
  sealed trait FilterSpec { def column: String }
  final case class Eq(column: String, value: Any) extends FilterSpec
  final case class NumBetween(column: String, lo: Double, hi: Double) extends FilterSpec
  final case class DateBetween(column: String, lo: String, hi: String) extends FilterSpec

  def toPredicate(f: FilterSpec): Column = f match {
    case Eq(c, v)            => col(c) === lit(v)
    case NumBetween(c, a, b) => col(c).between(lit(a), lit(b))
    case DateBetween(c, a, b) =>
      col(c).between(to_date(lit(a), "yyyy-MM-dd"), to_date(lit(b), "yyyy-MM-dd"))
  }

  /** P5 — `" AND ".join(where_clauses)` (`Frontend/app.py:196`). */
  def applyFilters(df: DataFrame, specs: Seq[FilterSpec]): DataFrame =
    if (specs.isEmpty) df
    else df.filter(specs.map(toPredicate).reduce(_ && _))

  /** O3 — LIMIT/OFFSET pagination (`Frontend/app.py:135, 198`).
    * `orderCols` makes the page deterministic — the reference relied
    * on warehouse ordering, which is not reproducible. */
  def page(df: DataFrame, orderCols: Seq[Column], limit: Int, offset: Int): DataFrame =
    df.orderBy(orderCols: _*).offset(offset).limit(limit)

  /** A8 — distinct values with null-drop (`Frontend/app.py:497-498`). */
  def distinctValues(df: DataFrame, c: String): DataFrame =
    df.select(col(c)).na.drop(Seq(c)).distinct().orderBy(col(c))

  /** A7 — value_counts for the pie chart (`Frontend/app.py:567`): one
    * `(c, count)` row per distinct value, the most frequent first, ties
    * by value ascending (NULL first).
    *
    * Cost follows the input. When `df` is driver rows
    * ([[graft.io.Resident.driverRows]]: a [[graft.io.ResultCache]] page,
    * or a filter or projection of one) and `c` is a top-level column
    * whose values group by equality of their Catalyst values —
    * UTF8_BINARY strings, booleans, integers, dates, timestamps — the
    * counts are taken on the driver and returned as a LocalRelation
    * frame: no Spark job, and collecting the result runs none either.
    * Any other input, such as a table scan or a float, double, decimal,
    * collated or complex column, plans [[valueCountsAggregate]]. Both
    * give the same rows and schema (RelSpec pins it). */
  def valueCounts(df: DataFrame, c: String): DataFrame =
    valueCountsOnDriver(df, c).getOrElse(valueCountsAggregate(df, c))

  /** The Column-tree value counts: a groupBy and a sort. */
  private[graft] def valueCountsAggregate(df: DataFrame, c: String): DataFrame =
    df.groupBy(col(c)).agg(count(lit(1)).as("count"))
      .orderBy(desc("count"), col(c))

  /** [[valueCountsAggregate]] evaluated on the driver: the values are
    * counted in a hash map and sorted with Catalyst's own interpreted
    * ordering for `desc(count), col(c)`. None unless `df` is driver rows
    * and `c` names exactly one column of a type listed in
    * [[valueCounts]]. */
  private def valueCountsOnDriver(df: DataFrame, c: String): Option[DataFrame] =
    for {
      local <- graft.io.Resident.driverRows(df)
      i <- graft.io.Resident.fieldIndex(df.sparkSession, local.output, c)
      field = local.output(i)
      if groupsByValue(field.dataType)
    } yield {
      val counts = new java.util.HashMap[Any, java.lang.Long]()
      local.data.foreach { r =>
        counts.merge(if (r.isNullAt(i)) null else r.get(i, field.dataType), 1L,
          (a, b) => a + b)
      }
      val byCount = new InterpretedOrdering(Seq(
        SortOrder(BoundReference(1, LongType, nullable = false), Descending),
        SortOrder(BoundReference(0, field.dataType, field.nullable), Ascending)))
      val rows = Seq.newBuilder[InternalRow]
      counts.forEach((v, n) => rows += InternalRow(v, n.longValue))
      graft.io.Resident.internalFrame(df.sparkSession,
        // the grouping column takes the name as `c` spells it, as in
        // the aggregate's output
        Seq(AttributeReference(UnresolvedAttribute.quotedString(c).nameParts.head, field.dataType,
            field.nullable, field.metadata)(),
          AttributeReference("count", LongType, nullable = false)()),
        rows.result().sorted(byCount))
    }

  /** Types whose Catalyst values are equal exactly when Spark groups
    * them together. `StringType` equals only the UTF8_BINARY string
    * type. Floats and doubles are not (-0.0 and 0.0, NaNs), nor are
    * other collations, decimals or complex values. */
  private def groupsByValue(t: DataType): Boolean = t match {
    case StringType | BooleanType | ByteType | ShortType | IntegerType | LongType |
        DateType | TimestampType | TimestampNTZType => true
    case _ => false
  }

  /** A3 — 10-bin histogram, numpy semantics (`chunk_visualizer.py:
    * 413-418`): equal-width bins over [min, max], last bin closed.
    * Two-pass like `np.histogram`; both passes are single aggregates.
    * All arithmetic in DOUBLE so the DuckDB oracle bins identically.
    */
  def histogram(df: DataFrame, c: String): DataFrame = {
    val bins = 10
    val mm = df.agg(min(col(c)).cast("double").as("lo"),
      max(col(c)).cast("double").as("hi")).head()
    val lo = mm.getDouble(0); val hi = mm.getDouble(1)
    val width = (hi - lo) / bins
    val bucket = if (width == 0) lit(0)
      else least(floor((col(c).cast("double") - lit(lo)) / lit(width)),
        lit(bins - 1)).cast("int")
    df.select(bucket.as("bucket"))
      .groupBy(col("bucket")).agg(count(lit(1)).as("count"))
      .withColumn("bin_lo", lit(lo) + col("bucket") * lit(width))
      .withColumn("bin_hi", lit(lo) + (col("bucket") + 1) * lit(width))
      .orderBy(col("bucket"))
  }

  /** F1 — `get_quarter`: `"{year}q{(month-1)//3+1}"`
    * (`/root/reference/Backend/api.py:22-26`), calendar quarter. */
  def yearQuarter(d: Column): Column =
    concat(year(d), lit("q"), quarter(d))

  /** P10 — date validation: `^\d{4}-\d{2}-\d{2}$` and year ∈
    * [2009, 2024] (`Backend/api.py:12-19`). */
  def validDate(s: Column): Column =
    s.rlike("^[0-9]{4}-[0-9]{2}-[0-9]{2}$") &&
      year(to_date(s, "yyyy-MM-dd")).between(2009, 2024)

  /** P9 — column-exclusion filter (`Frontend/app.py:488-493`):
    * drop the reference's exact names and suffix families. */
  def excludeColumns(df: DataFrame): DataFrame = {
    val exact = Set("cik", "ein", "changed", "value")
    val suffixes = Seq("_sk", "_dt", "_id", "_code")
    val keep = df.columns.filterNot(c =>
      exact.contains(c.toLowerCase) ||
        suffixes.exists(c.toLowerCase.endsWith))
    df.select(keep.map(col).toSeq: _*)
  }

  /** F4 — filename from URL: `url.split('/')[-1]`
    * (`nvidia_quarterly_reports_pipeline.py:256`). */
  def filenameFromUrl(u: Column): Column = substring_index(u, "/", -1)

  /** F2 — quarter classification from link text / URL
    * (`nvidia_quarterly_reports_pipeline.py:176-195`): link text
    * starting with Q1..Q4 wins, else `/qN/` in the lowercased URL. */
  def quarterOf(text: Column, href: Column): Column = {
    val fromText = upper(substring(text, 1, 2))
    val fromHref = upper(regexp_extract(lower(href), "/(q[1-4])/", 1))
    when(fromText.rlike("^Q[1-4]$"), fromText)
      .when(fromHref =!= "", fromHref)
      .otherwise(lit(null))
  }
}
