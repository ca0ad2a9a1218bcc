package graft.io

import java.util.concurrent.{Callable, CountDownLatch, Executors, TimeUnit}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.graftshim.ColumnShim
import org.apache.spark.sql.types._
import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestBase

/** A pre-planned frame ([[Resident.internalFrame]]) is pinned to the
  * ordinary `Dataset.ofRows` frame over the same LocalRelation, over
  * generated relations: the same rows and schemas from every action and
  * from every frame derived from it, and the same `explain` — while its
  * own `collect` runs no optimizer, no planner and, after the first
  * frame of a schema, no encoder resolution. */
class ResidentFrameSpec extends AnyFunSuite with SparkTestBase {

  private val ttl = 3600 * 1000L

  private def day(y: Int, m: Int, d: Int) = java.sql.Date.valueOf(java.time.LocalDate.of(y, m, d))

  private def instant(s: Long, micros: Int) =
    java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(s, micros * 1000L))

  /** Generated columns, each with NULLs: -0.0 and NaN among the doubles
    * and floats, strings above the BMP, dates and timestamps on both
    * sides of the Gregorian switch, decimals whose scale matters. */
  private val columns: Seq[(StructField, Gen[Any])] = Seq(
    StructField("i", IntegerType) -> Gen.oneOf[Any](Int.MinValue, -1, 0, 7, Int.MaxValue),
    StructField("l", LongType) -> Gen.oneOf[Any](Long.MinValue, -1L, 0L, 1L << 40, Long.MaxValue),
    StructField("d", DoubleType) -> Gen.oneOf[Any](Double.NaN, -0.0, 0.0, 1.5,
      Double.NegativeInfinity, Double.MinPositiveValue),
    StructField("s", StringType) -> Gen.oneOf[Any]("", "a", "😀", "｡", "𝔘𝔫𝔦", "ı"),
    StructField("dt", DateType) -> Gen.oneOf[Any](day(1000, 1, 1), day(1582, 10, 15),
      day(1970, 1, 1), day(2024, 2, 29), day(9999, 12, 31)),
    StructField("ts", TimestampType) -> Gen.oneOf[Any](instant(-12219292800L, 0),
      instant(0, 1), instant(1700000000L, 999999), instant(-1, 500000)),
    StructField("dec", DecimalType(12, 3)) -> Gen.oneOf[Any](
      new java.math.BigDecimal("123456789.123"), new java.math.BigDecimal("-0.001"),
      new java.math.BigDecimal("0.000"), new java.math.BigDecimal("1.500")),
    StructField("v", ArrayType(FloatType)) -> Gen.listOf(Gen.oneOf[Any](
      null, Float.NaN, -0.0f, 0.0f, 1.25f, Float.MaxValue)).map(_.toSeq))

  /** A schema of an int key `k` (unique per row, to join and sort on)
    * and a non-empty subset of [[columns]], with up to 8 rows. */
  private val relations = for {
    picked <- Gen.someOf(columns).suchThat(_.nonEmpty)
    n <- Gen.chooseNum(0, 8)
    rows <- Gen.listOfN(n, Gen.sequence[List[Any], Any](picked.map { case (_, g) =>
      Gen.frequency(1 -> Gen.const(null), 4 -> g)
    }))
  } yield (StructType(StructField("k", IntegerType, nullable = false) +: picked.map(_._1).toSeq),
    rows.zipWithIndex.map { case (vs, k) => Row.fromSeq(k +: vs) })

  /** The pre-planned frame and the ordinary frame over one relation:
    * the same attributes and the same Catalyst rows. */
  private def frames(schema: StructType, rows: Seq[Row]): (DataFrame, DataFrame) = {
    val l = Resident.rowsOf(localFrame(schema, rows))
    (Resident.internalFrame(spark, l.output, l.data),
      ColumnShim.ofRows(spark, LocalRelation(l.output, l.data)))
  }

  /** A value as compared here: doubles and floats by their bits (-0.0
    * and NaN included), everything else with its class, so a
    * `LocalDate` never equals a `java.sql.Date`. */
  private def canon(v: Any): Any = v match {
    case null => null
    case d: Double => ("double", java.lang.Double.doubleToRawLongBits(d))
    case f: Float => ("float", java.lang.Float.floatToRawIntBits(f))
    case r: Row => (r.schema, r.toSeq.map(canon))
    case s: scala.collection.Seq[_] => s.map(canon).toList
    case o => (o.getClass.getName, o)
  }

  private def rowsOf(rs: Iterable[Row]) = rs.map(canon).toList

  private def byKey(rs: Array[Row]) = rowsOf(rs.sortBy(r => r.getInt(r.fieldIndex("k"))))

  private def explained(df: DataFrame): String = {
    val out = new java.io.ByteArrayOutputStream()
    Console.withOut(out)(df.explain("extended"))
    out.toString("UTF-8")
  }

  /** (k, tag) for k in 0..9 as a parquet frame: a join side that plans a
    * scan. */
  private lazy val tagged: DataFrame = {
    val dir = tempDir("graft-resident-frame")
    localFrame(StructType(Seq(StructField("k", IntegerType), StructField("tag", StringType))),
      (0 until 10).map(k => Row(k, s"t$k"))).coalesce(1).write.mode("overwrite").parquet(dir)
    spark.read.parquet(dir)
  }

  test("property: a pre-planned frame answers every action as the ordinary frame does") {
    val prop = Prop.forAll(relations) { case (schema, rows) =>
      val (pre, plain) = frames(schema, rows)
      val expected = rowsOf(plain.collect())
      val later = schema.fields.drop(1).map(f => col(f.name)).reverse
      pre.schema == plain.schema &&
        rowsOf(pre.collect()) == expected &&
        rowsOf(pre.collectAsList().asScala) == expected &&
        (0 to rows.length + 1).forall(n => rowsOf(pre.take(n)) == rowsOf(plain.take(n))) &&
        rowsOf(pre.toLocalIterator().asScala.toSeq) == expected &&
        explained(pre) == explained(plain) &&
        rowsOf(pre.select(later :+ col("k"): _*).collect()) ==
          rowsOf(plain.select(later :+ col("k"): _*).collect()) &&
        rowsOf(pre.filter(col("k") % 2 === 0).collect()) ==
          rowsOf(plain.filter(col("k") % 2 === 0).collect()) &&
        byKey(pre.join(tagged, "k").collect()) == byKey(plain.join(tagged, "k").collect()) && {
          val persisted = pre.persist()
          try rowsOf(persisted.collect()) == expected &&
            byKey(persisted.select(later :+ col("k"): _*).collect()) ==
              byKey(plain.select(later :+ col("k"): _*).collect())
          finally persisted.unpersist(blocking = true)
        }
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(40), prop)
    assert(res.passed, res.status.toString)
  }

  test("a pre-planned collect runs no analyzer or optimizer rule and records no planning phase") {
    val schema = StructType(Seq(StructField("k", IntegerType, nullable = false),
      StructField("s", StringType)))
    def rows(n: Int) = (0 until n).map(k => Row(k, s"s$k"))
    frames(schema, rows(2))._1.collect() // the schema's encoder is memoized
    val (pre, plain) = frames(schema, rows(3))
    val encoders = Resident.encoderStats
    val (got, ran) = rulesDuring(pre.collect())
    assert(ran.isEmpty, s"a pre-planned collect ran rules: $ran")
    assert(pre.queryExecution.tracker.phases.isEmpty,
      pre.queryExecution.tracker.phases.keySet.toString)
    assert(Resident.encoderStats.builds == encoders.builds)
    // the ordinary frame over the same relation optimizes and plans
    val (want, plainRan) = rulesDuring(plain.collect())
    assert(plainRan.exists(_.contains(".optimizer.")), plainRan.toString)
    assert(Set("optimization", "planning").subsetOf(plain.queryExecution.tracker.phases.keySet))
    assert(rowsOf(got) == rowsOf(want))
  }

  test("the datetime API setting picks the encoder: LocalDate after the flip, as Spark gives") {
    val key = "spark.sql.datetime.java8API.enabled"
    val before = spark.conf.get(key)
    val schema = StructType(Seq(StructField("k", IntegerType, nullable = false),
      StructField("dt", DateType), StructField("ts", TimestampType)))
    def rows(n: Int) = (0 until n).map(k =>
      Row(k, day(2024, 1, 1 + k), instant(1700000000L + k, k)))
    try {
      spark.conf.set(key, "false")
      val (pre1, plain1) = frames(schema, rows(2))
      val first = pre1.collect()
      assert(first.head.get(1).isInstanceOf[java.sql.Date] &&
        first.head.get(2).isInstanceOf[java.sql.Timestamp])
      assert(rowsOf(first) == rowsOf(plain1.collect()))
      val encoders = Resident.encoderStats
      spark.conf.set(key, "true")
      val (pre2, plain2) = frames(schema, rows(3))
      val second = pre2.collect()
      assert(second.head.get(1).isInstanceOf[java.time.LocalDate] &&
        second.head.get(2).isInstanceOf[java.time.Instant])
      assert(rowsOf(second) == rowsOf(plain2.collect()))
      val after = Resident.encoderStats
      assert(after.misses == encoders.misses + 1 && after.builds == encoders.builds + 1,
        s"$encoders -> $after")
      // a frame keeps the encoder of its first collect, as an ordinary
      // frame does
      assert(rowsOf(pre1.collect()) == rowsOf(plain1.collect()))
    } finally spark.conf.set(key, before)
  }

  test("four threads collecting one ResultCache row entry get the uncached answer") {
    localFrame(StructType(Seq(StructField("k", IntegerType), StructField("s", StringType),
        StructField("d", DoubleType))),
      (0 until 200).map(k => Row(k, if (k % 7 == 0) null else s"s${k % 13}", k * 0.5)))
      .createOrReplaceTempView("rf_rows")
    val q = "SELECT k, s, d FROM rf_rows WHERE k % 3 <> 0 ORDER BY s, k LIMIT 40"
    try {
      ResultCache.evictAll()
      val entry = ResultCache.sqlCached(spark, q, ttl)
      assert(Resident.driverRows(entry).isDefined, "a bounded result is driver rows")
      val expected = rowsOf(spark.sql(q).collect())
      val threads = 4
      val start = new CountDownLatch(1)
      val pool = Executors.newFixedThreadPool(threads)
      val results = try {
        val fs = (1 to threads).map(_ => pool.submit(new Callable[Seq[List[Any]]] {
          def call(): Seq[List[Any]] = {
            start.await()
            (1 to 25).map(_ => rowsOf(entry.collect()))
          }
        }))
        start.countDown()
        fs.flatMap(_.get(120, TimeUnit.SECONDS))
      } finally pool.shutdownNow()
      assert(results.length == threads * 25 && results.forall(_ == expected))
    } finally {
      ResultCache.evictAll()
      spark.catalog.dropTempView("rf_rows")
    }
  }
}
