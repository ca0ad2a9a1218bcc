package graft.io

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestBase
import graft.rel.Rel

/** S6 (partitioned sink replacing hand-built S3 key prefixes), S8
  * (catalog introspection replacing INFORMATION_SCHEMA), and the
  * partition-pruning payoff the reference never had (SURVEY §4). */
class IngestSpec extends AnyFunSuite with SparkTestBase {

  test("partitionBy(year, quarter) write + partition pruning on read") {
    val tmp = tempDir("graft-ingest")
    val orders = spark.read.parquet(s"$sf/orders.parquet")
      .withColumn("year", year(col("o_orderdate")))
      .withColumn("quarter", quarter(col("o_orderdate")))
    orders.write.mode("overwrite")
      .partitionBy("year", "quarter").parquet(tmp)

    // key layout: {base}/year=YYYY/quarter=Q — replaces
    // nvidia_quarterly_reports_pipeline.py:358's hand-built prefixes
    val dirs = new java.io.File(tmp).listFiles().map(_.getName).filter(_.startsWith("year="))
    assert(dirs.nonEmpty)

    val read = spark.read.parquet(tmp).filter(col("year") === 1996)
    val plan = read.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters"), "filter must prune partitions")
    assert(read.count() ==
      orders.filter(col("year") === 1996).count())
  }

  test("tab-delimited source reads SEC-style .txt members (S4)") {
    val dir = java.nio.file.Paths.get(tempDir("graft-sec"))
    val f = dir.resolve("sub.txt")
    java.nio.file.Files.writeString(f,
      "adsh\tcik\tname\tfye\n0001-23\t320193\tAPPLE INC\t0930\n0002-41\t789019\tMSFT CORP\t0630\n")
    val df = Tables.tabDelimited(spark, f.toString)
    assert(df.columns.toSeq == Seq("adsh", "cik", "name", "fye"))
    assert(df.count() == 2)
    assert(df.filter(col("cik") === 320193).count() == 1)
  }

  test("whole-text source reads one file as one row (S5)") {
    val dir = java.nio.file.Paths.get(tempDir("graft-wholetext"))
    val body = "# Report\n\nParagraph one.\n\nParagraph two.\n"
    java.nio.file.Files.writeString(dir.resolve("report.md"), body)
    val df = Tables.wholeText(spark, dir.toString)
    val rows = df.collect()
    assert(rows.length == 1)
    assert(rows(0).getString(0) == body.stripLineEnd ||
      rows(0).getString(0) == body) // text source may drop the trailing newline
  }

  test("json-lines source reads modeled OCR responses (S13 shape)") {
    val dir = java.nio.file.Paths.get(tempDir("graft-jsonl"))
    java.nio.file.Files.writeString(dir.resolve("resp.jsonl"),
      """{"doc_id": 1, "page": 0, "text": "alpha"}
        |{"doc_id": 1, "page": 1, "text": "beta"}
        |{"doc_id": 2, "page": 0, "text": "gamma"}
        |""".stripMargin)
    val df = Tables.jsonLines(spark, dir.toString)
    assert(df.count() == 3)
    assert(df.filter(col("doc_id") === 1).count() == 2)
  }

  test("orc round-trip preserves rows and pushes filters like parquet") {
    val dir = tempDir("graft-orc")
    val docs = Tables.documents(spark, sf).select("doc_id", "n_chars")
    docs.write.mode("overwrite").orc(dir)
    val back = spark.read.orc(dir)
    assert(back.count() == docs.count())
    val plan = back.filter(col("doc_id") < 10)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [IsNotNull(doc_id), LessThan(doc_id,10)]"),
      s"no ORC pushdown:\n${plan.take(800)}")
  }

  test("catalog introspection replaces INFORMATION_SCHEMA queries") {
    Tables.registerAll(spark, sf)
    val tables = spark.catalog.listTables().collect().map(_.name).toSet
    assert(Tables.all.toSet.subsetOf(tables))
    // SQL surface works over the registered views (S7 custom SQL path)
    val n = spark.sql("SELECT count(*) AS n FROM lineitem").head().getLong(0)
    assert(n > 0)
  }

  test("plan-identity result cache replaces the Redis layer (S9)") {
    val df = spark.read.parquet(s"$sf/orders.parquet")
      .groupBy(col("o_orderpriority")).count()
    df.persist()
    try {
      df.count() // materialize
      val reused = df.filter(col("count") > 0).queryExecution.executedPlan.toString
      assert(reused.contains("InMemoryTableScan"),
        "second use must hit the columnar cache")
    } finally df.unpersist() // TTL/invalidation analog
  }

  test("zip extraction: corrupt-skip + delete-archive, members feed tabDelimited (S4)") {
    import java.util.zip.{ZipEntry, ZipOutputStream}
    val src = new java.io.File(tempDir("graft-zips-src"))
    val dst = tempDir("graft-zips-dst")
    // a good archive with a nested tab-delimited member (2023q4.zip)
    val good = new java.io.File(src, "2023q4.zip")
    val zos = new ZipOutputStream(new java.io.FileOutputStream(good))
    zos.putNextEntry(new ZipEntry("sub.txt"))
    zos.write("adsh\tvalue\nr1\t10\nr2\t20\n".getBytes("UTF-8"))
    zos.closeEntry()
    zos.putNextEntry(new ZipEntry("nested/num.txt"))
    zos.write("k\tv\na\t1\n".getBytes("UTF-8"))
    zos.closeEntry()
    zos.close()
    // a corrupt archive (BadZipFile analog)
    val bad = new java.io.File(src, "2024q1.zip")
    java.nio.file.Files.write(bad.toPath, "not a zip at all".getBytes("UTF-8"))

    val results = Zips.extractAll(src.getPath, dst)
    assert(results.map(_.archive) == Seq("2023q4.zip", "2024q1.zip"))
    assert(results.head.folder.contains(s"$dst/2023q4") && results.head.members == 2)
    assert(results(1).folder.isEmpty, "corrupt zip must be skipped")
    // both archives removed afterwards, like the reference's os.remove
    assert(!good.exists() && !bad.exists())
    assert(Zips.yearQuarters(results) == Seq("2023q4"))
    // extracted member flows into the distributed tab-delimited source
    val df = Tables.tabDelimited(spark, s"$dst/2023q4/sub.txt")
    assert(df.columns.toSeq == Seq("adsh", "value") && df.count() == 2)
  }

  test("zip-slip archive is rejected wholesale with no partial extraction") {
    import java.util.zip.{ZipEntry, ZipOutputStream}
    val src = new java.io.File(tempDir("graft-zipslip-src"))
    val dst = tempDir("graft-zipslip-dst")
    val z = new java.io.File(src, "2025q1.zip")
    val zos = new ZipOutputStream(new java.io.FileOutputStream(z))
    zos.putNextEntry(new ZipEntry("ok.txt"))
    zos.write("fine\n".getBytes("UTF-8")); zos.closeEntry()
    zos.putNextEntry(new ZipEntry("../evil.txt"))
    zos.write("escape\n".getBytes("UTF-8")); zos.closeEntry()
    zos.close()
    val res = Zips.extractAll(src.getPath, dst)
    assert(res.head.folder.isEmpty && res.head.members == 0)
    assert(!new java.io.File(dst, "evil.txt").exists(), "zip-slip must not escape")
    assert(!new java.io.File(dst, "2025q1").exists(),
      "aborted archive must leave no partial members (ok.txt was written first)")
    assert(!z.exists(), "archive removed either way")
  }

  test("events reader: stable TIMESTAMP contract, no conf leak into the session") {
    val key = "spark.sql.legacy.parquet.nanosAsLong"
    val before = spark.conf.getOption(key) // Some(default) for registered confs
    assert(!before.contains("true"))
    val ev = Tables.events(spark, sf)
    // conf restored the moment the reader returns...
    assert(spark.conf.getOption(key) == before,
      "reader must not mutate session state")
    // ...yet the returned frame still executes (schema was captured)
    assert(ev.limit(3).count() == 3)
    // the contract every consumer (streaming watermarks, unix_micros)
    // relies on: whatever the fixture encoding — TIMESTAMP(NANOS)
    // rounds 1-9, TIMESTAMP_NTZ micros since r10 — ts surfaces as a
    // session-tz TimestampType instant, never NTZ or raw LONG
    assert(ev.schema("ts").dataType == org.apache.spark.sql.types.TimestampType,
      s"ts must normalize to TimestampType, got ${ev.schema("ts").dataType}")
  }

  test("filter specs push down to the parquet scan (SURVEY §4 pushdown)") {
    val li = spark.read.parquet(s"$sf/lineitem.parquet")
    val filtered = Rel.applyFilters(li, Seq(Rel.Eq("l_returnflag", "R")))
      .select(col("l_orderkey"))
    val scan = filtered.queryExecution.executedPlan.toString
    assert(scan.contains("PushedFilters: [IsNotNull(l_returnflag), EqualTo(l_returnflag,R)]")
      || scan.contains("EqualTo(l_returnflag,R)"),
      s"predicate must reach the scan:\n$scan")
    // column pruning: only the two needed columns are read
    assert(scan.contains("ReadSchema: struct<l_orderkey:bigint,l_returnflag:string>"),
      "scan must read only projected+filtered columns")
  }
}
