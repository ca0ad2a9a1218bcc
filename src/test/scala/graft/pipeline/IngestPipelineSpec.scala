package graft.pipeline

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestBase

class IngestPipelineSpec extends AnyFunSuite with SparkTestBase {
  import spark.implicits._

  private val links = Seq(
    ("Q1 2024 10-Q", "https://host/q1/report-a.pdf"),
    ("Q1 2024 commentary", "https://host/q1/commentary.pdf"), // filtered (P7)
    ("Other doc", "https://host/q2/10q.pdf"),                 // quarter via URL
    ("Q3 filing", "https://host/other/q3-b.pdf"),
    ("Q3 filing", "https://host/other/q3-a.pdf"),             // same quarter: first by href wins
    ("Annual Report", "https://host/misc/annual.pdf"))        // no quarter → dropped
    .toDF("text", "href")

  test("selectQuarterReports classifies, filters, and picks one per quarter") {
    val got = Ingest.selectQuarterReports(links)
      .orderBy("quarter")
      .select("quarter", "href", "file_name")
      .as[(String, String, String)].collect().toSeq
    assert(got == Seq(
      ("Q1", "https://host/q1/report-a.pdf", "q1.pdf"),
      ("Q2", "https://host/q2/10q.pdf", "q2.pdf"),
      ("Q3", "https://host/other/q3-a.pdf", "q3.pdf")))
  }

  test("land writes the year/quarter partition layout (S6)") {
    val tmp = tempDir("graft-land")
    Ingest.land(Ingest.selectQuarterReports(links), tmp)
    val back = spark.read.parquet(tmp)
    assert(back.count() == 3)
    assert(new java.io.File(s"$tmp/year=2024/quarter=Q1").exists())
    // partition pruning reaches the read (the point of the layout)
    val plan = back.filter(col("quarter") === "Q2")
      .queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters"))
  }

  test("SQL function surface: graft_dot / graft_token_count / graft_simhash") {
    graft.GraftFunctions.register(spark)
    Seq((Seq(1.0f, 2.0f), Seq(3.0f, 4.0f))).toDF("a", "b")
      .createOrReplaceTempView("vecs")
    assert(spark.sql("SELECT graft_dot(a, b) AS d FROM vecs")
      .head().getDouble(0) == 11.0)
    assert(spark.sql("SELECT graft_token_count('a b c!') AS n")
      .head().getInt(0) == 4)
    assert(spark.sql("SELECT graft_simhash('x') AS h").head().getLong(0) ==
      graft.dedup.Dedup.simhash60("x"))
  }

  test("SQL text-analysis surface: graft_lang_id / graft_quality / graft_fingerprint") {
    graft.GraftFunctions.register(spark)
    assert(spark.sql(
      "SELECT graft_lang_id('the cat and the dog is in a tree') AS l")
      .head().getString(0) == "en")
    val q = spark.sql(
      "SELECT graft_quality('the data is in the table and it is good') AS q")
      .head().getDouble(0)
    assert(q >= 0.0 && q <= 1.0)
    // same value as the Column API, and whitespace/case-insensitive
    val fp = spark.sql("SELECT graft_fingerprint('A  B') AS f").head().getString(0)
    val fp2 = spark.sql("SELECT graft_fingerprint('a b') AS f").head().getString(0)
    assert(fp == fp2 && fp.length == 32)
    assert(spark.sql("SELECT graft_redact('id 99887 x@y.io') AS r")
      .head().getString(0) == "id <NUM> <EMAIL>")
    val bk = spark.sql("SELECT graft_hash_bucket(42) AS b").head().getInt(0)
    assert(bk >= 0 && bk < 65536)
  }
}
