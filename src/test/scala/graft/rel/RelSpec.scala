package graft.rel

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.plans.logical.Aggregate
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestBase
import graft.io.Resident

class RelSpec extends AnyFunSuite with SparkTestBase {
  import spark.implicits._

  test("yearQuarter: month boundaries (Backend/api.py:22-26 semantics)") {
    val got = Seq("2024-03-31", "2024-04-01", "2024-12-31", "2009-01-01")
      .toDF("d")
      .select(Rel.yearQuarter(to_date(col("d"))).as("yq"))
      .as[String].collect().toSeq
    assert(got == Seq("2024q1", "2024q2", "2024q4", "2009q1"))
  }

  test("validDate: regex + year-range gate (2009..2024)") {
    val got = Seq("2024-01-31", "2008-12-31", "2025-01-01", "2024-1-31", "x")
      .toDF("d").select(Rel.validDate(col("d")).as("v"))
      .as[Boolean].collect().toSeq
    assert(got == Seq(true, false, false, false, false))
  }

  test("filters compose with AND semantics") {
    val df = Seq((1, 10.0, "a"), (2, 20.0, "a"), (3, 30.0, "b"))
      .toDF("id", "v", "tag")
    val out = Rel.applyFilters(df,
      Seq(Rel.Eq("tag", "a"), Rel.NumBetween("v", 5, 15)))
      .select("id").as[Int].collect().toSeq
    assert(out == Seq(1))
  }

  test("histogram: numpy semantics — equal width, last bin closed") {
    val df = (0 to 100).map(_.toDouble).toDF("x")
    val h = Rel.histogram(df, "x").collect()
    assert(h.length == 10)
    // 0..9 in bin 0 (width 10), value 100 lands in last bin (closed)
    assert(h.head.getAs[Long]("count") == 10)
    assert(h.last.getAs[Long]("count") == 11)
    assert(h.map(_.getAs[Long]("count")).sum == 101)
  }

  test("histogram degenerate case: all values equal → single bucket") {
    val h = Rel.histogram(Seq(5.0, 5.0, 5.0).toDF("x"), "x").collect()
    assert(h.length == 1)
    assert(h.head.getAs[Int]("bucket") == 0)
    assert(h.head.getAs[Long]("count") == 3)
  }

  test("quarterOf prefers link text, falls back to URL path") {
    val df = Seq(
      ("Q3 2024 10-Q", "https://x/other/file.pdf"),
      ("Annual Report", "https://x/q2/file.pdf"),
      ("Annual Report", "https://x/other/file.pdf"))
      .toDF("text", "href")
    val got = df.select(Rel.quarterOf(col("text"), col("href")).as("q"))
      .collect().map(r => Option(r.getString(0)))
    assert(got.toSeq == Seq(Some("Q3"), Some("Q2"), None))
  }

  test("page is deterministic limit/offset") {
    val df = (1 to 300).toDF("id")
    val out = Rel.page(df, Seq(col("id")), limit = 10, offset = 20)
      .as[Int].collect().toSeq
    assert(out == (21 to 30))
  }

  test("property: valueCounts over driver rows equals the Column tree, row for row and in schema") {
    // small pools: count ties everywhere; "｡" (U+FF61) sorts above "😀"
    // in UTF-16 but below it in UTF-8; dotted and dotless I
    val strings = Gen.oneOf[Any]("a", "b", "", "｡", "😀", "i", "I", "ı", "İ")
    val columns: Seq[(DataType, Gen[Any])] = Seq(
      StringType -> strings,
      IntegerType -> Gen.chooseNum(-3, 3).map(Int.box),
      LongType -> Gen.oneOf[Any](Long.MinValue, -1L, 0L, 1L, Long.MaxValue),
      DateType -> Gen.chooseNum(0, 4).map[Any](d =>
        java.sql.Date.valueOf(java.time.LocalDate.of(2024, 2, 28).plusDays(d.toLong))),
      BooleanType -> Gen.oneOf[Any](true, false))
    val cases = for {
      (t, value) <- Gen.oneOf(columns)
      vs <- Gen.listOf(Gen.frequency(1 -> Gen.const(null), 5 -> value))
      filtered <- Gen.oneOf(false, true)
    } yield (t, vs, filtered)
    val prop = Prop.forAll(cases) { case (t, vs, filtered) =>
      val base = localFrame(
        StructType(Seq(StructField("v", t), StructField("x", IntegerType))),
        vs.zipWithIndex.map { case (v, i) => Row(v, i) })
      // a filter and projection of driver rows still folds to them; the
      // filter also makes `v` non-nullable; the upper-case name resolves
      // case-insensitively
      val (df, name) =
        if (filtered) (base.filter(col("v").isNotNull && col("x") % 3 =!= 0)
          .select(col("x"), col("v")), "v")
        else (base, "V")
      val got = Rel.valueCounts(df, name)
      val ref = Rel.valueCountsAggregate(df, name)
      Resident.driverRows(got).isDefined && got.schema == ref.schema &&
        got.collect().toSeq == ref.collect().toSeq
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(50), prop)
    assert(res.passed, res.status.toString)
    val empty = localFrame(StructType(Seq(StructField("v", StringType))), Nil)
    val got = Rel.valueCounts(empty, "v")
    assert(Resident.driverRows(got).isDefined && got.collect().isEmpty &&
      got.schema == Rel.valueCountsAggregate(empty, "v").schema)
  }

  test("valueCounts over a date-filtered page of driver rows still counts on the driver") {
    // to_date is runtime-replaceable: the filter folds only once it is
    // replaced, as the optimizer's first batch replaces it
    val page = localFrame(
      StructType(Seq(StructField("d", StringType), StructField("v", StringType))),
      Seq(Row("2024-01-05", "a"), Row("2024-02-01", "b"), Row("2023-12-31", "a"),
        Row("2024-03-01", "a")))
    val df = Rel.applyFilters(page.withColumn("d", to_date(col("d"))),
      Seq(Rel.DateBetween("d", "2024-01-01", "2024-12-31")))
    val got = Rel.valueCounts(df, "v")
    assert(Resident.driverRows(got).isDefined)
    assert(got.collect().toSeq == Rel.valueCountsAggregate(df, "v").collect().toSeq)
    assert(got.collect().map(r => (r.getString(0), r.getLong(1))).toSeq ==
      Seq(("a", 2L), ("b", 1L)))
  }

  test("valueCounts over SQL on a temp view of driver rows runs no Spark job") {
    // a temp view adds a View node, and BETWEEN analyzes to a With
    localFrame(
      StructType(Seq(StructField("x", IntegerType), StructField("s", StringType))),
      (1 to 8).map(i => Row(i, if (i % 2 == 0) "even" else "odd")))
      .createOrReplaceTempView("loc")
    try Seq("SELECT * FROM loc WHERE x >= 2 AND x <= 5",
        "SELECT * FROM loc WHERE x BETWEEN 2 AND 5").foreach { q =>
      val df = spark.sql(q)
      assert(Resident.driverRows(df).isDefined, q)
      val (counts, jobs) = jobsDuring(Rel.valueCounts(df, "s").collect())
      assert(jobs.isEmpty, s"$q: $jobs")
      assert(counts.toSeq == Rel.valueCountsAggregate(df, "s").collect().toSeq)
      assert(counts.map(r => (r.getString(0), r.getLong(1))).toSeq ==
        Seq(("even", 2L), ("odd", 2L)))
    } finally spark.catalog.dropTempView("loc")
  }

  test("valueCounts over a ResultCache row entry: its collect optimizes, plans and resolves nothing") {
    graft.io.ResultCache.evictAll()
    spark.read.parquet(s"$sf/orders.parquet").createOrReplaceTempView("rel_orders")
    try {
      val entry = graft.io.ResultCache.sqlCached(spark,
        "SELECT o_orderkey, o_orderpriority FROM rel_orders ORDER BY o_orderkey LIMIT 50",
        3600 * 1000L)
      assert(Resident.driverRows(entry).isDefined, "a bounded result is driver rows")
      Rel.valueCounts(entry, "o_orderpriority").collect() // memoizes the schema's encoder
      val counts = Rel.valueCounts(entry, "o_orderpriority")
      val encoders = Resident.encoderStats
      val (got, ran) = rulesDuring(counts.collect())
      assert(ran.isEmpty, s"the value counts' collect ran rules: $ran")
      assert(counts.queryExecution.tracker.phases.isEmpty,
        counts.queryExecution.tracker.phases.keySet.toString)
      assert(Resident.encoderStats.builds == encoders.builds)
      assert(got.toSeq == Rel.valueCountsAggregate(entry, "o_orderpriority").collect().toSeq)
    } finally {
      graft.io.ResultCache.evictAll()
      spark.catalog.dropTempView("rel_orders")
    }
  }

  test("valueCounts plans the Aggregate for double and collated columns and parquet-backed frames") {
    def aggregates(df: DataFrame) = Resident.driverRows(df).isEmpty &&
      df.queryExecution.optimizedPlan.collectFirst { case a: Aggregate => a }.isDefined
    // Spark groups -0.0 with 0.0 and every NaN together: InternalRow
    // equality does not, so doubles keep the Column tree
    val d = localFrame(StructType(Seq(StructField("v", DoubleType))),
      Seq(0.0, -0.0, Double.NaN, Double.NaN, 1.5, null).map(Row(_)))
    val dc = Rel.valueCounts(d, "v")
    assert(aggregates(dc))
    assert(dc.collect().map(r => (Option(r.get(0)).map(_.toString), r.getLong(1))).toSeq ==
      Seq((Some("0.0"), 2L), (Some("NaN"), 2L), (None, 1L), (Some("1.5"), 1L)))
    // a case-insensitive collation groups 'a' with 'A'
    val lcase = spark.sql(
      "SELECT collate(v, 'UTF8_LCASE') AS v FROM VALUES ('a'), ('A'), ('b') AS t(v)")
    assert(Resident.driverRows(lcase).isDefined)
    val lc = Rel.valueCounts(lcase, "v")
    assert(aggregates(lc) && lc.collect().map(_.getLong(1)).toSeq == Seq(2L, 1L))
    val orders = spark.read.parquet(s"$sf/orders.parquet")
    val oc = Rel.valueCounts(orders, "o_orderpriority")
    assert(aggregates(oc))
    assert(oc.collect().toSeq ==
      Rel.valueCountsAggregate(orders, "o_orderpriority").collect().toSeq)
  }
}
