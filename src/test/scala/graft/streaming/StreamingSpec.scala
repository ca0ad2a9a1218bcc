package graft.streaming

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestBase
import graft.io.Tables

class StreamingSpec extends AnyFunSuite with SparkTestBase {

  test("structured-streaming hourly agg equals the batch DataFrame") {
    val batch = EventStreams.hourlyByType(Tables.events(spark, sf))
      .withColumn("hour", date_format(col("hour"), "yyyy-MM-dd HH:mm:ss"))
      .orderBy("hour", "event_type")
      .collect().map(_.toSeq).toSeq

    // ts arrives as LONG nanos under the legacy conf; stream over the
    // converted frame is not possible from parquet directly, so stream
    // the normalized frame via an in-memory roundtrip dir
    val tmp = tempDir("graft-stream")
    Tables.events(spark, sf).write.mode("overwrite").parquet(tmp)
    val stream = EventStreams.hourlyByTypeStream(spark, tmp)
    val query = stream.writeStream.outputMode("complete")
      .format("memory").queryName("hourly_out").start()
    try {
      query.processAllAvailable()
      val got = spark.table("hourly_out")
        .withColumn("hour", date_format(col("hour"), "yyyy-MM-dd HH:mm:ss"))
        .orderBy("hour", "event_type")
        .collect().map(_.toSeq).toSeq
      assert(got == batch)
    } finally query.stop()
  }

  test("watermark late-data contract: beyond-watermark rows drop, within-watermark rows count") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val mem = MemoryStream[(java.sql.Timestamp, String, Double)]
    val stream = mem.toDF().toDF("ts", "event_type", "value")
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 4).as("total_value"))
      .select(col("window.start").as("hour"), col("event_type"),
        col("n"), col("total_value"))
    val q = stream.writeStream.outputMode("append")
      .format("memory").queryName("late_out").start()
    try {
      // batch 1: windows 10, 11, 12; post-batch watermark 12:00-1h = 11:00
      mem.addData(
        (ts("2024-01-01 10:05:00"), "click", 1.0),
        (ts("2024-01-01 10:25:00"), "click", 2.0),
        (ts("2024-01-01 11:10:00"), "view", 3.0),
        (ts("2024-01-01 12:00:00"), "view", 4.0))
      q.processAllAvailable()
      // batch 2 (wm 11:00): 10:30's window END (11:00) <= wm -> the row
      // is DROPPED and window 10 emits WITHOUT its 100.0; 11:30 is
      // out-of-order but within the watermark -> counts; 13:00 advances
      mem.addData(
        (ts("2024-01-01 10:30:00"), "click", 100.0),
        (ts("2024-01-01 11:30:00"), "view", 5.0),
        (ts("2024-01-01 13:00:00"), "click", 6.0))
      q.processAllAvailable()
      // two pure advancers flush windows 11, 12, 13 through data
      // batches (each batch emits with its START-of-batch watermark,
      // so the final emitted set is deterministic whether or not
      // no-data micro-batches also fire in between)
      mem.addData((ts("2024-01-01 15:00:00"), "noise", 0.0))
      q.processAllAvailable()
      mem.addData((ts("2024-01-01 16:00:00"), "noise", 0.0))
      q.processAllAvailable()
      val got = spark.table("late_out")
        .select(date_format(col("hour"), "yyyy-MM-dd HH:mm:ss").as("hour"),
          col("event_type"), col("n"), col("total_value"))
        .as[(String, String, Long, Double)].collect().toSet
      // the same contract, stated through the BATCH operator: hourly
      // aggregate over the input MINUS the dropped row, restricted to
      // the windows the final watermark (15:00) closed
      val kept = Seq(
        (ts("2024-01-01 10:05:00"), "click", 1.0),
        (ts("2024-01-01 10:25:00"), "click", 2.0),
        (ts("2024-01-01 11:10:00"), "view", 3.0),
        (ts("2024-01-01 12:00:00"), "view", 4.0),
        (ts("2024-01-01 11:30:00"), "view", 5.0),
        (ts("2024-01-01 13:00:00"), "click", 6.0))
        .toDF("ts", "event_type", "value")
      val expected = EventStreams.hourlyByType(kept)
        .filter(col("hour") <= ts("2024-01-01 14:00:00"))
        .select(date_format(col("hour"), "yyyy-MM-dd HH:mm:ss").as("hour"),
          col("event_type"), col("n"), col("total_value"))
        .as[(String, String, Long, Double)].collect().toSet
      assert(got == expected)
      assert(got.exists(r => r._1 == "2024-01-01 10:00:00" && r._3 == 2L && r._4 == 3.0),
        s"window 10 must exclude the dropped 100.0 row: $got")
      assert(got.exists(r => r._1 == "2024-01-01 11:00:00" && r._3 == 2L && r._4 == 8.0),
        s"window 11 must include the within-watermark late row: $got")
      // the engine's own counter confirms exactly ONE row died to lateness
      val dropped = q.recentProgress
        .flatMap(p => Option(p.stateOperators).toSeq.flatten)
        .map(_.numRowsDroppedByWatermark).sum
      assert(dropped == 1, s"expected exactly 1 watermark-dropped row, got $dropped")
    } finally q.stop()
  }

  test("q_events_watermark: real streaming replay equals the closed-form batch rule") {
    val ev = Tables.events(spark, sf)
    val got = graft.Queries.q_events_watermark(spark, sf)
      .collect().map(_.toSeq).toSeq
    // closed form: watermark = max(on-time ts) - 1h; a late row
    // survives iff its hour-window END is strictly past it
    val b1 = ev.filter(col("event_id") % 3 =!= 0)
    val wm = java.sql.Timestamp.from(
      b1.agg(max(col("ts"))).head.getTimestamp(0).toInstant
        .minusSeconds(3600))
    val keptLate = ev.filter(col("event_id") % 3 === 0)
      .filter(date_trunc("hour", col("ts")) + expr("INTERVAL 1 HOUR") > lit(wm))
    val expected = EventStreams.hourlyByType(b1.unionByName(keptLate))
      .withColumn("hour", date_format(col("hour"), "yyyy-MM-dd HH:mm:ss"))
      .orderBy(col("hour"), col("event_type"))
      .collect().map(_.toSeq).toSeq
    assert(got == expected)
    // the drop is REAL: late rows beyond the watermark exist in the
    // fixture and are absent from the streamed aggregate
    val nLate = ev.filter(col("event_id") % 3 === 0).count()
    val nKeptLate = keptLate.count()
    assert(nLate > nKeptLate,
      s"fixture must exercise the drop path ($nLate late, $nKeptLate kept)")
    val fullN = graft.Queries.q_events_hourly(spark, sf)
      .agg(sum(col("n"))).head.getLong(0)
    val gotN = got.map(_(2).asInstanceOf[Long]).sum
    assert(fullN - gotN == nLate - nKeptLate,
      "missing rows must be exactly the beyond-watermark late rows")
  }

  test("watermark replay: ALL-LATE input keeps everything (no watermark established)") {
    // every event_id % 3 == 0 → the on-time wave would be an EMPTY
    // batch, which establishes no watermark, so the real stream keeps
    // the whole late wave; the replay folds this into one wave and
    // must emit exactly the plain hourly aggregate (r15 ADVICE guard —
    // a max(on-time ts) oracle would read NULL and drop everything)
    import spark.implicits._
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val ev = Seq(
      (3L, ts("2024-01-01 10:05:00"), "view", 1.0),
      (6L, ts("2024-01-01 10:40:00"), "view", 2.0),
      (9L, ts("2024-01-01 12:10:00"), "click", 3.0),
      (12L, ts("2024-01-01 09:00:30"), "click", 4.0))
      .toDF("event_id", "ts", "event_type", "value")
    val got = EventStreams.hourlyWatermarkedReplay(ev)
      .orderBy(col("hour"), col("event_type"))
      .collect().map(_.toSeq).toSeq
    val expected = EventStreams.hourlyByType(ev)
      .orderBy(col("hour"), col("event_type"))
      .collect().map(_.toSeq).toSeq
    assert(got == expected && got.nonEmpty)
  }

  test("watermarked FILE-source arrival: 3 parquet waves == the MemoryStream replay") {
    // the production shape of q_events_watermark: readStream over a
    // directory that receives the SAME deterministic waves the
    // MemoryStream replay feeds (on-time, late, two advancers), each
    // followed by processAllAvailable — one micro-batch per wave, so
    // the watermark bookkeeping is identical and the append-mode
    // emitted set must equal the replay's row bit for bit. Closes the
    // r14 "MemoryStream-only" caveat on the watermark evidence.
    import spark.implicits._
    val ev = Tables.events(spark, sf)
    val expected = EventStreams.hourlyWatermarkedReplay(ev)
      .orderBy(col("hour"), col("event_type"))
      .collect().map(_.toSeq).toSeq
    assert(expected.nonEmpty)

    val dir = tempDir("graft-wave")
    val rows = ev.select(col("event_id"), col("ts"), col("event_type"),
      col("value"))
    val maxTs = rows.agg(max(col("ts"))).head.getTimestamp(0)
    def advFrame(h: Long) = Seq((-1L,
      new java.sql.Timestamp(maxTs.getTime + h * 3600 * 1000),
      "__advance", 0.0)).toDF("event_id", "ts", "event_type", "value")

    // wave 1 must be on disk before the stream starts (schema probe)
    rows.filter(col("event_id") % 3 =!= 0).write.mode("append").parquet(dir)
    val q = EventStreams.hourlyByTypeStream(spark, dir)
      .writeStream.outputMode("append")
      .format("memory").queryName("wave_sink").start()
    try {
      q.processAllAvailable()
      rows.filter(col("event_id") % 3 === 0).write.mode("append").parquet(dir)
      q.processAllAvailable()
      advFrame(72).write.mode("append").parquet(dir); q.processAllAvailable()
      advFrame(96).write.mode("append").parquet(dir); q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("wave_sink")
      .filter(col("event_type") =!= "__advance")
      .orderBy(col("hour"), col("event_type"))
      .collect().map(_.toSeq).toSeq
    assert(got == expected)
  }

  test("maxFilesPerTrigger=1: per-FILE micro-batches + out-of-order file arrival == MemoryStream replay of the same batch sequence") {
    // r15's file-source test fed one file per wave, so one wave == one
    // micro-batch by construction. This pins the stronger claim: with
    // maxFilesPerTrigger=1 the source carves PENDING files into
    // single-file micro-batches in MODIFICATION-TIME order (oldest
    // first) — not arrival/write order — and the watermark bookkeeping
    // under that finer, re-ordered batching still matches a
    // MemoryStream replay of the identical batch sequence bit for bit.
    // The late chunk lands on disk AFTER the second on-time chunk but
    // with an OLDER mtime, so processing order ≠ write order.
    //
    // No-data micro-batches are disabled for BOTH paths: the late-data
    // admission filter runs one batch behind the watermark the
    // progress/offsets report, so an extra no-data batch between two
    // data batches changes which rows are admitted (measured here:
    // processAllAvailable interleaves them, Trigger.AvailableNow does
    // not, and one borderline-late row diverged). With them off, both
    // engines execute the IDENTICAL five-batch sequence.
    import spark.implicits._
    val noDataKey = "spark.sql.streaming.noDataMicroBatches.enabled"
    val noDataPrev = spark.conf.get(noDataKey)
    spark.conf.set(noDataKey, "false")
    try {
    val rows = Tables.events(spark, sf)
      .select(col("event_id"), col("ts"), col("event_type"), col("value"))
    val maxTs = rows.agg(max(col("ts"))).head.getTimestamp(0)
    def adv(h: Long) = Seq((-1L,
      new java.sql.Timestamp(maxTs.getTime + h * 3600 * 1000),
      "__advance", 0.0)).toDF("event_id", "ts", "event_type", "value")
    val onA = rows.filter(col("event_id") % 3 =!= 0 && col("event_id") % 2 === 0)
    val lateC = rows.filter(col("event_id") % 3 === 0)
    val onB = rows.filter(col("event_id") % 3 =!= 0 && col("event_id") % 2 =!= 0)
    // batch sequence both sides must replay: onA | lateC | onB | advancers
    val chunks = Seq(onA, lateC, onB, adv(72), adv(96))

    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val mem = MemoryStream[(Long, java.sql.Timestamp, String, Double)]
    val agg = mem.toDF().toDF("event_id", "ts", "event_type", "value")
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 4).as("total_value"))
      .select(col("window.start").as("hour"), col("event_type"),
        col("n"), col("total_value"))
    val mq = agg.writeStream.outputMode("append")
      .format("memory").queryName("mft_mem").start()
    try {
      chunks.foreach { c =>
        mem.addData(c.as[(Long, java.sql.Timestamp, String, Double)]
          .collect().toSeq)
        mq.processAllAvailable()
      }
    } finally mq.stop()
    val expected = spark.table("mft_mem")
      .filter(col("event_type") =!= "__advance")
      .orderBy(col("hour"), col("event_type"))
      .collect().map(_.toSeq).toSeq
    assert(expected.nonEmpty)

    // one parquet part file per chunk, mtime pinned per chunk. Files
    // land only while NO query is running (a live stream polls
    // continuously and would list a file the instant it is written,
    // before its mtime pin); each arrival state is then drained by an
    // AvailableNow run restarting from one shared checkpoint, so the
    // watermark carries across runs exactly like batches of one query.
    val dir = tempDir("graft-mft")
    val ckpt = tempDir("graft-mft-ck")
    def land(df: org.apache.spark.sql.DataFrame, mtimeMs: Long): Unit = {
      df.coalesce(1).write.mode("append").parquet(dir)
      val part = new java.io.File(dir).listFiles()
        .filter(f => f.getName.startsWith("part-")
          && f.getName.endsWith(".parquet"))
        .maxBy(_.lastModified())
      assert(part.setLastModified(mtimeMs))
    }
    // a parquet FILE sink (not memory: it can't recover from a
    // checkpoint) accumulates the emitted set exactly-once across the
    // restarts via its _spark_metadata log
    val sinkDir = tempDir("graft-mft-out")
    def runAvailable(): Unit = {
      val q = EventStreams
        .hourlyByTypeStream(spark, dir, Map("maxFilesPerTrigger" -> "1"))
        .writeStream.outputMode("append")
        .format("parquet").option("path", sinkDir)
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      try q.awaitTermination() finally q.stop()
    }
    val t0 = System.currentTimeMillis()
    land(onA, t0 - 600000)
    runAvailable()
    // out-of-order arrival: onB hits the disk FIRST but carries the
    // NEWER mtime; the source must batch lateC's file before it
    land(onB, t0 - 300000)
    land(lateC, t0 - 400000)
    runAvailable()
    land(adv(72), t0 - 200000); runAvailable()
    land(adv(96), t0 - 100000); runAvailable()
    val got = spark.read.parquet(sinkDir)
      .filter(col("event_type") =!= "__advance")
      .orderBy(col("hour"), col("event_type"))
      .collect().map(_.toSeq).toSeq
    assert(got == expected)
    } finally spark.conf.set(noDataKey, noDataPrev)
  }

  test("stream-stream funnel join: pairs equal batch; past-horizon rows drop") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val vMem = MemoryStream[(Long, Long, java.sql.Timestamp)]
    val bMem = MemoryStream[(Long, java.sql.Timestamp)]
    val joined = EventStreams.funnelPairs(
      vMem.toDF().toDF("user_id", "view_id", "view_ts"),
      bMem.toDF().toDF("user_id", "buy_ts"))
    val q = joined.writeStream.outputMode("append")
      .format("memory").queryName("funnel_join_out").start()
    try {
      // batch 1: u1 converts within the hour; u2's purchase is 90 min
      // out — inside no join window, so no pair
      vMem.addData((1L, 101L, ts("2024-01-01 10:00:00")),
        (2L, 102L, ts("2024-01-01 10:00:00")))
      bMem.addData((1L, ts("2024-01-01 10:30:00")),
        (2L, ts("2024-01-01 11:30:00")))
      q.processAllAvailable()
      // batch 2: a second conversion much later — advances the global
      // watermark (min of both sides) to 13:00/13:10 − 1 h
      vMem.addData((3L, 103L, ts("2024-01-01 14:00:00")))
      bMem.addData((3L, ts("2024-01-01 14:10:00")))
      q.processAllAvailable()
      // batch 3: a LATE re-delivery of a 10:00-era view and a
      // matching purchase — both sit hours behind the watermark's
      // join horizon, so the engine DROPS them instead of buffering:
      // no third pair may appear
      vMem.addData((1L, 109L, ts("2024-01-01 10:00:00")))
      bMem.addData((1L, ts("2024-01-01 10:20:00")))
      q.processAllAvailable()
      val got = spark.table("funnel_join_out")
        .select(col("user_id"), col("view_id"),
          date_format(col("view_ts"), "yyyy-MM-dd HH:mm:ss").as("vt"),
          date_format(col("buy_ts"), "yyyy-MM-dd HH:mm:ss").as("bt"))
        .as[(Long, Long, String, String)].collect().toSet
      // the same contract through the BATCH form: funnelPairs over the
      // ON-TIME rows (watermarks are no-ops on batch frames)
      val expected = EventStreams.funnelPairs(
          Seq((1L, 101L, ts("2024-01-01 10:00:00")),
            (2L, 102L, ts("2024-01-01 10:00:00")),
            (3L, 103L, ts("2024-01-01 14:00:00")))
            .toDF("user_id", "view_id", "view_ts"),
          Seq((1L, ts("2024-01-01 10:30:00")),
            (2L, ts("2024-01-01 11:30:00")),
            (3L, ts("2024-01-01 14:10:00")))
            .toDF("user_id", "buy_ts"))
        .select(col("user_id"), col("view_id"),
          date_format(col("view_ts"), "yyyy-MM-dd HH:mm:ss").as("vt"),
          date_format(col("buy_ts"), "yyyy-MM-dd HH:mm:ss").as("bt"))
        .as[(Long, Long, String, String)].collect().toSet
      assert(got == expected, s"stream pairs $got != batch pairs $expected")
      assert(got.map(_._2) == Set(101L, 103L),
        s"exactly the two on-time conversions must pair: $got")
      val dropped = q.recentProgress
        .flatMap(p => Option(p.stateOperators).toSeq.flatten)
        .map(_.numRowsDroppedByWatermark).sum
      assert(dropped >= 1, s"the past-horizon re-deliveries must be dropped, got $dropped")
    } finally q.stop()
  }

  test("batch funnelPairs rolls up to exactly q_funnel on the fixture") {
    // ties the streaming join's batch twin to the ORACLE-checked
    // funnel row: rolling the pair stage up per user reproduces
    // q_funnel byte for byte on the real events table
    val ev = Tables.events(spark, sf)
    val pairs = EventStreams.funnelPairs(
      ev.filter(col("event_type") === "view")
        .select(col("user_id"), col("event_id").as("view_id"),
          col("ts").as("view_ts")),
      ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts").as("buy_ts")))
    val rolled = pairs.groupBy(col("user_id"))
      .agg(countDistinct(col("view_id")).as("converted_views"),
        date_format(min(col("view_ts")), "yyyy-MM-dd HH:mm:ss")
          .as("first_converted_view"))
      .orderBy(col("user_id"))
      .collect().map(_.toSeq).toSeq
    val funnel = graft.Queries.q_funnel(spark, sf)
      .collect().map(_.toSeq).toSeq
    assert(rolled == funnel && rolled.nonEmpty)
  }

  test("sessionize: gap splits sessions; counts are per user") {
    import spark.implicits._
    val base = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    def at(min: Long) = new java.sql.Timestamp(base.getTime + min * 60000)
    val ev = Seq(
      (1L, 10L, at(0), 1.0), (2L, 10L, at(10), 1.0),  // session 1
      (3L, 10L, at(50), 1.0),                          // gap 40min → session 2
      (4L, 20L, at(0), 2.0))                           // other user
      .toDF("event_id", "user_id", "ts", "value")
    val stats = EventStreams.sessionStats(ev, gapMinutes = 30)
      .orderBy("user_id")
      .select("user_id", "n_sessions", "max_session_events")
      .as[(Long, Long, Long)].collect().toSeq
    assert(stats == Seq((10L, 2L, 2L), (20L, 1L, 1L)))
  }
}
