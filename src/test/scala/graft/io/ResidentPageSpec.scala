package graft.io

import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._
import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalacheck.Prop.propBoolean
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestBase

/** [[ResultCache.sqlCached]]'s miss answered by the resident walk
  * ([[ResidentTable.page]]) is pinned to Spark's own answer for the
  * same SQL, over generated parquet tables; every plan the walk does
  * not answer gets Spark's answer, counted by reason, without loading a
  * copy. */
class ResidentPageSpec extends AnyFunSuite with SparkTestBase {

  private val ttl = 3600 * 1000L

  /** `df` written as parquet to a fresh dir, read back as view `name`. */
  private def table(name: String, df: DataFrame, dir: String = tempDir("graft-rpage")): String = {
    df.coalesce(1).write.mode("overwrite").parquet(dir)
    spark.read.parquet(dir).createOrReplaceTempView(name)
    dir
  }

  /** A cold `sqlCached` of `q`, and whether the walk answered it. */
  private def cached(q: String): (Seq[Row], Boolean) = {
    ResultCache.evictAll()
    val before = ResidentTable.pagesServed
    val rows = ResultCache.sqlCached(spark, q, ttl).collect().toSeq
    (rows, ResidentTable.pagesServed == before + 1)
  }

  private def reference(q: String): Seq[Row] = spark.sql(q).collect().toSeq

  private def schema(key: DataType) = StructType(Seq(StructField("k1", key),
    StructField("k2", IntegerType), StructField("v", DoubleType),
    StructField("s", StringType), StructField("d", DateType)))

  private def day(n: Int) = java.sql.Date.valueOf(java.time.LocalDate.of(2024, 1, 1).plusDays(n))

  /** Pools of distinct key values: -0.0 but not 0.0 (they tie), NaN
    * (above every other double), strings whose UTF-8 and UTF-16 orders
    * differ. */
  private val keyPools: Seq[(DataType, IndexedSeq[Any])] = Seq(
    IntegerType -> (0 until 80).map(i => i * 3 - 40),
    DoubleType -> (IndexedSeq[Any](Double.NaN, -0.0, Double.PositiveInfinity,
      Double.NegativeInfinity) ++ (1 to 76).map(j => j * 0.25 - 7.3)),
    StringType -> (IndexedSeq[Any]("", "a", "A", "｡", "😀", "ı", "İ", "b a") ++
      (1 to 72).map(j => f"s$j%03d")),
    DateType -> (0 until 80).map(i => day(i * 3 - 100)))

  private val values = Gen.oneOf[Any](null, Double.NaN, -0.0, 0.0, 0.5, 1.5, -2.0,
    Double.PositiveInfinity)
  private val strings = Gen.oneOf[Any](null, "", "a", "ab", "b", "ba", "😀", "｡")
  private val dates = Gen.frequency(1 -> Gen.const(null), 4 -> Gen.chooseNum(0, 30).map(day))

  private val atoms = Gen.oneOf(
    "v IS NULL", "v IS NOT NULL", "v BETWEEN -1.0 AND 1.0", "v > 0.5",
    "v = CAST('NaN' AS DOUBLE)", "v <= CAST('-0.0' AS DOUBLE)", "s = 'a'",
    "s IN ('a', '😀', '')", "s LIKE 'a%'", "contains(s, 'b')", "s IS NULL",
    "d BETWEEN to_date('2024-01-03', 'yyyy-MM-dd') AND to_date('2024-01-20', 'yyyy-MM-dd')",
    "d >= DATE'2024-01-10'", "k2 >= 20", "k2 IN (1, 2, 3, 40)", "k1 IS NOT NULL")
  private val conds = for {
    n <- Gen.chooseNum(0, 3)
    as <- Gen.listOfN(n, Gen.frequency(4 -> atoms, 1 -> atoms.map(a => s"NOT ($a)")))
    ops <- Gen.listOfN(n, Gen.oneOf(" AND ", " OR "))
  } yield if (as.isEmpty) "" else " WHERE " + as.zip(ops).map { case (a, o) => a + o }
    .mkString.dropRight(ops.last.length)

  private def orderBy(col: String) = for {
    dir <- Gen.oneOf("ASC", "DESC")
    nulls <- Gen.oneOf("", " NULLS FIRST", " NULLS LAST")
  } yield s"$col $dir$nulls"

  /** A table with a unique sort key — `k1` alone, or `(k1, k2)` where
    * `k1` repeats — and three page queries over it. */
  private val cases = for {
    (keyType, pool) <- Gen.oneOf(keyPools)
    n <- Gen.chooseNum(0, 60)
    multi <- Gen.oneOf(false, true)
    seed <- Gen.long
    nullAt <- Gen.chooseNum(-1, n)
    groups <- Gen.listOfN(n, Gen.frequency(1 -> Gen.const(-1), 4 -> Gen.chooseNum(0, 2)))
    vs <- Gen.listOfN(n, values)
    ss <- Gen.listOfN(n, strings)
    ds <- Gen.listOfN(n, dates)
    queries <- Gen.listOfN(3, for {
      select <- Gen.oneOf("*", "k2, v, k1")
      where <- conds
      o1 <- orderBy("k1")
      o2 <- orderBy("k2")
      limit <- Gen.oneOf(0, 1, 3, 10, 100)
      offset <- Gen.oneOf(0, 2, 7, 70)
    } yield s"SELECT $select FROM rp$where ORDER BY " +
      (if (multi) s"$o1, $o2" else o1) + s" LIMIT $limit OFFSET $offset")
  } yield {
    val order = new scala.util.Random(seed).shuffle((0 until n).toIndexedSeq)
    val rows = (0 until n).map { i =>
      val k1 = if (multi) (if (groups(i) < 0) null else pool(groups(i)))
        else if (i == nullAt) null else pool(order(i))
      Row(k1, order(i), vs(i), ss(i), ds(i))
    }
    (keyType, rows, queries)
  }

  test("property: a resident page equals Spark's answer to the same SQL") {
    // no shrinking: each shrink step would write another table
    val prop = Prop.forAllNoShrink(cases) { case (keyType, rows, queries) =>
      table("rp", spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema(keyType)))
      Prop.all(queries.map { q =>
        val (got, served) = cached(q)
        val ref = reference(q)
        (served && got == ref) :| s"$q served=$served\n got $got\n ref $ref"
      }: _*)
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(40), prop)
    assert(res.passed, res.status.toString)
  }

  test("ties: the page holds the SQL-defined keys, each row drawn from its tied group") {
    val rows = (0 until 40).map(i => Row(i % 3, i, i * 0.5, s"r$i", day(i)))
    table("rp", spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema(IntegerType)))
    val q = "SELECT * FROM rp WHERE v >= 2.0 ORDER BY k1 DESC LIMIT 20 OFFSET 5"
    val (got, served) = cached(q)
    val ref = reference(q)
    assert(served)
    assert(got.map(_.get(0)) == ref.map(_.get(0)), "the page's keys are SQL-defined")
    assert(got.distinct.length == got.length &&
      got.forall(r => rows.contains(r) && r.getDouble(2) >= 2.0))
  }

  /** Each of `queries`, missed in `sqlCached`, falls back with `reason`,
    * loads no copy and gets Spark's answer. */
  private def fallsBack(reason: String, queries: String*): Unit = {
    val before = ResidentTable.fallbacks.getOrElse(reason, 0L)
    val loads = ResidentTable.stats.builds
    queries.foreach { q =>
      val (got, served) = cached(q)
      assert(!served && got == reference(q), q)
    }
    assert(ResidentTable.fallbacks.getOrElse(reason, 0L) == before + queries.length, reason)
    assert(ResidentTable.stats.builds == loads, s"$reason: no copy is loaded")
  }

  test("other plans get Spark's answer, counted by reason, and load no copy") {
    val rows = (0 until 30).map(i => Row(i, i, i * 0.5, s"r${i % 4}", day(i)))
    table("rp", spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema(IntegerType)))
    val loads = ResidentTable.stats.builds
    fallsBack("condition",
      "SELECT * FROM rp WHERE v < rand(7) * 10 ORDER BY k1 LIMIT 5",
      "SELECT * FROM rp WHERE 10 / (k2 + 1) > 1 ORDER BY k1 LIMIT 5")
    fallsBack("shape",
      "SELECT a.* FROM rp a JOIN rp b ON a.k2 = b.k2 + 1 ORDER BY a.k1 LIMIT 5",
      "SELECT s, count(*) AS n FROM rp GROUP BY s ORDER BY s LIMIT 3",
      "SELECT v FROM rp ORDER BY k1 LIMIT 5")
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema(IntegerType))
      .createOrReplaceTempView("lv")
    fallsBack("source", "SELECT * FROM lv WHERE v > 1.0 ORDER BY k1 LIMIT 5")
    // the walk would stop before k2 = 8; Spark's full scan raises, and
    // so does the cache
    val q = "SELECT * FROM rp WHERE 10 / (k2 - 8) < 0 ORDER BY k2 LIMIT 2"
    val before = ResidentTable.fallbacks.getOrElse("condition", 0L)
    ResultCache.evictAll()
    val errs = Seq(intercept[Exception](ResultCache.sqlCached(spark, q, ttl).collect()),
      intercept[Exception](spark.sql(q).collect()))
    assert(errs.forall(_.getMessage.contains("DIVIDE_BY_ZERO")), errs.map(_.getMessage))
    assert(ResidentTable.fallbacks.getOrElse("condition", 0L) == before + 1)
    assert(ResidentTable.stats.builds == loads)
    spark.catalog.dropTempView("lv")
  }

  test("an over-budget table is read only until it passes the budget, once; " +
      "later misses go straight to Spark") {
    // tiny on disk, 200 MiB of rows in memory, over several scan partitions
    val dir = tempDir("graft-rpage")
    spark.range(0, 200, 1, 8).selectExpr("id AS k", "repeat('x', 1048576) AS s")
      .write.mode("overwrite").parquet(dir)
    spark.read.parquet(dir).createOrReplaceTempView("big")
    val parts = spark.table("big").rdd.getNumPartitions
    assert(parts > 1, "the scan must span several partitions")
    val loads = ResidentTable.stats.builds
    val before = ResidentTable.fallbacks.getOrElse("budget", 0L)
    val q = "SELECT k FROM big ORDER BY k LIMIT 3"
    // one job per partition read: the partitions past the budget are never scanned
    val (page, jobs) = jobsDuring(ResidentTable.page(spark.sql(q)))
    assert(page.isEmpty && jobs.nonEmpty && jobs.length < parts, s"$parts partitions: $jobs")
    Seq(q, "SELECT k FROM big ORDER BY k DESC LIMIT 3 OFFSET 1").foreach { q =>
      val (got, served) = cached(q)
      assert(!served && got == reference(q), q)
    }
    assert(ResidentTable.fallbacks.getOrElse("budget", 0L) == before + 3)
    assert(ResidentTable.stats.builds == loads + 1, "read once, then remembered")
    spark.catalog.dropTempView("big")
  }

  test("a table whose full scan fails is tried once; pages on it get Spark's answer") {
    // `s` holds strings but is read as int: a scan of every column fails,
    // a page that never reads `s` does not
    val dir = tempDir("graft-rpage")
    spark.range(10).selectExpr("id AS k", "cast(id AS string) AS s")
      .write.mode("overwrite").parquet(dir)
    spark.read.schema("k BIGINT, s INT").parquet(dir).createOrReplaceTempView("bad")
    val loads = ResidentTable.stats.builds
    val before = ResidentTable.fallbacks.getOrElse("load", 0L)
    Seq("SELECT k FROM bad ORDER BY k LIMIT 3",
        "SELECT k FROM bad WHERE k > 4 ORDER BY k DESC LIMIT 2").foreach { q =>
      val (got, served) = cached(q)
      assert(!served && got.nonEmpty && got == reference(q), q)
    }
    assert(ResidentTable.fallbacks.getOrElse("load", 0L) == before + 2)
    assert(ResidentTable.stats.builds == loads + 1, "tried once, then remembered")
    spark.catalog.dropTempView("bad")
  }

  test("rewritten files under a re-created view are served fresh") {
    def rows(tag: String) = (0 until 20).map(i => Row(i, i, i * 1.0, tag, day(i)))
    val q = "SELECT * FROM rp WHERE k2 >= 3 ORDER BY k1 LIMIT 4"
    val dir = table("rp", spark.createDataFrame(java.util.Arrays.asList(rows("old"): _*),
      schema(IntegerType)))
    val (first, served1) = cached(q)
    assert(served1 && first.map(_.getString(3)).distinct == Seq("old"))
    val loads = ResidentTable.stats.builds
    table("rp", spark.createDataFrame(java.util.Arrays.asList(rows("new"): _*),
      schema(IntegerType)), dir)
    val (second, served2) = cached(q)
    assert(served2 && second == reference(q) && second.map(_.getString(3)).distinct == Seq("new"))
    assert(ResidentTable.stats.builds == loads + 1)
  }

  test("four threads missing one table load it once; a miss on a loaded table runs no job") {
    val rows = (0 until 50).map(i => Row(49 - i, i, i * 0.5, s"r${i % 5}", day(i)))
    table("rp", spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema(IntegerType)))
    ResultCache.evictAll()
    val loads = ResidentTable.stats.builds
    val pool = Executors.newFixedThreadPool(4)
    val start = new CountDownLatch(1)
    val queries = (0 until 4).map(i => s"SELECT * FROM rp WHERE s <> 'r0' ORDER BY k1 LIMIT 5 OFFSET $i")
    try {
      val futures = queries.map(q => pool.submit(() => {
        start.await()
        ResultCache.sqlCached(spark, q, ttl).collect().toSeq
      }))
      start.countDown()
      futures.zip(queries).foreach { case (f, q) =>
        assert(f.get(120, TimeUnit.SECONDS) == reference(q), q)
      }
    } finally {
      pool.shutdown()
      pool.awaitTermination(60, TimeUnit.SECONDS)
    }
    assert(ResidentTable.stats.builds == loads + 1, "one load for four concurrent misses")
    val q = "SELECT * FROM rp WHERE v BETWEEN 3.0 AND 20.0 ORDER BY k1 DESC LIMIT 7"
    ResultCache.evictAll()
    val (served, misses) = (ResidentTable.pagesServed, ResultCache.stats.misses)
    val (got, jobs) = jobsDuring(ResultCache.sqlCached(spark, q, ttl).collect().toSeq)
    assert(jobs.isEmpty, s"a miss on a loaded table must submit no Spark job: $jobs")
    assert(ResidentTable.pagesServed == served + 1 && ResultCache.stats.misses == misses + 1)
    assert(got == reference(q))
  }
}
