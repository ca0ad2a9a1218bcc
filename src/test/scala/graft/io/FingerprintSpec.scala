package graft.io

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._
import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestBase

/** [[Fingerprint.of]] over driver rows — the per-row hash folded on the
  * driver and summed in Scala — equals the one aggregate job over the
  * same rows read back from parquet. */
class FingerprintSpec extends AnyFunSuite with SparkTestBase {

  private val schema = StructType(Seq(StructField("id", LongType),
    StructField("text", StringType), StructField("score", DoubleType),
    StructField("vec", ArrayType(FloatType, containsNull = false))))

  private val rows: Gen[Seq[Row]] = Gen.listOf(for {
    id <- Gen.option(Gen.choose(-3L, 3L))
    text <- Gen.option(Gen.oneOf("", " ", "plain", "İstanbul ılık", "😀 𝔘 ｡", "a\"b\\c\n"))
    score <- Gen.option(Gen.oneOf(0.0, -0.0, 1.5, -2.25e-7, 1e300))
    vec <- Gen.option(Gen.listOfN(3, Gen.oneOf(0f, 1f, -0.5f, 3.25e-3f)))
  } yield Row(id.map(Long.box).orNull, text.orNull, score.map(Double.box).orNull,
    vec.map(_.toArray).orNull))

  test("property: the fingerprint of driver rows runs no job and equals the parquet round trip's") {
    val prop = Prop.forAll(rows) { rs =>
      val local = localFrame(schema, rs)
      val dir = tempDir("graft-fingerprint")
      local.write.mode("overwrite").parquet(dir)
      val read = spark.read.parquet(dir)
      val (fp, jobs) = jobsDuring(Fingerprint.of(local))
      Resident.driverRows(local).isDefined && Resident.driverRows(read).isEmpty &&
        jobs.isEmpty && fp == Fingerprint.of(read) && fp.startsWith(s"${rs.length}:")
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(15), prop)
    assert(res.passed, res.status.toString)
  }

  test("an empty frame fingerprints as 0:0:0 both ways, and an edited row moves it") {
    val empty = localFrame(schema, Nil)
    val dir = tempDir("graft-fingerprint")
    empty.write.mode("overwrite").parquet(dir)
    assert(Fingerprint.of(empty) == "0:0:0")
    assert(Fingerprint.of(spark.read.parquet(dir)) == "0:0:0")
    val one = Seq(Row(1L, "😀", 0.5, Array(1f, 2f, 3f)))
    val edited = Seq(Row(1L, "😀", 0.5, Array(1f, 2f, 4f)))
    assert(Fingerprint.of(localFrame(schema, one)) !=
      Fingerprint.of(localFrame(schema, edited)))
  }
}
