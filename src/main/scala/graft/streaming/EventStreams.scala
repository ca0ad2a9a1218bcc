package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Event-stream analytics over the `events` table. The reference has
  * no streaming (SURVEY §2.11) — this is the design-for-scale
  * extension: the same aggregations defined once, runnable as a batch
  * DataFrame (oracle-checkable) or as a Structured Streaming query
  * with watermarks (tested in `StreamingSpec`).
  */
object EventStreams {

  /** How far event time may lag the stream's maximum before a row is
    * late: the watermark delay of every streaming aggregate and join
    * here. */
  val WatermarkDelay = "1 hour"

  /** The replay's late wave ([[hourlyWatermarkedReplay]]): events
    * with `event_id % LateMod == 0` arrive after the on-time wave. */
  val LateMod = 3

  /** Tumbling-window aggregate per event type. Batch form; event time
    * truncated to the hour — identical semantics to
    * `groupBy(window($"ts", "1 hour"))` with the window start kept.
    * (`date_trunc` keeps the output oracle-portable: the fixture `ts`
    * is nanosecond-precision, which Spark truncates to micros —
    * raw `ts` must never be emitted in a checked query.) */
  def hourlyByType(events: DataFrame): DataFrame =
    events
      .groupBy(date_trunc("hour", col("ts")).as("hour"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        round(sum(col("value")), 4).as("total_value"))

  /** Sessionization: a new session starts after `gapMinutes` of user
    * inactivity — lag + cumulative-sum, one shuffle keyed on user_id. */
  def sessionize(events: DataFrame, gapMinutes: Int = 30): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val gapSec = gapMinutes * 60L
    events
      .withColumn("prev_ts", lag(col("ts"), 1).over(w))
      .withColumn("new_session",
        when(col("prev_ts").isNull ||
          unix_timestamp(col("ts")) - unix_timestamp(col("prev_ts")) > gapSec, 1)
          .otherwise(0))
      .withColumn("session_id",
        sum(col("new_session")).over(w.rowsBetween(Window.unboundedPreceding, 0)))
  }

  /** Per-user session stats derived from [[sessionize]]. */
  def sessionStats(events: DataFrame, gapMinutes: Int = 30): DataFrame =
    sessionize(events, gapMinutes)
      .groupBy(col("user_id"), col("session_id"))
      .agg(count(lit(1)).as("n_events"),
        round(sum(col("value")), 4).as("session_value"))
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_sessions"),
        max(col("n_events")).as("max_session_events"),
        round(sum(col("session_value")), 4).as("total_value"))

  /** Stream-stream EVENT-TIME join — [[graft.Queries.q_funnel]]'s
    * A→B-within-t pair stage as a watermarked join of two live
    * streams (the one Structured Streaming surface the windowed
    * aggregates here don't cover): views ⋈
    * purchases on `user_id`, the purchase constrained to
    * `(view_ts, view_ts + windowed interval]`. BOTH sides carry
    * watermarks and the time bound is two-sided, so Spark can compute
    * how long a buffered row can still find a partner — state is
    * bounded by watermark delay + join interval, and a row arriving
    * past that horizon is DROPPED rather than buffered forever (the
    * bounded-state trade, pinned in StreamingSpec). The same
    * function runs unchanged on batch frames (watermarks are no-ops
    * there), which is how the spec proves stream == batch. Emits one
    * row per qualifying (view, purchase) pair; the per-user
    * conversion rollup is a downstream aggregate. */
  def funnelPairs(views: DataFrame, purchases: DataFrame): DataFrame = {
    val v = views.withWatermark("view_ts", WatermarkDelay)
    val b = purchases.withColumnRenamed("user_id", "buy_user_id")
      .withWatermark("buy_ts", WatermarkDelay)
    v.join(b,
        col("user_id") === col("buy_user_id") &&
          col("buy_ts") > col("view_ts") &&
          col("buy_ts") <= col("view_ts") + expr("INTERVAL 1 HOUR"))
      .drop("buy_user_id")
  }

  /** Watermarked tumbling-hour aggregate DRIVEN END TO END — the
    * executable late-data evidence row (SURVEY §2.11's stretch
    * surface): the batch `events` frame replays through a real
    * Structured Streaming query (`MemoryStream` → `withWatermark` →
    * `groupBy(window(ts, '1 hour'), type)` → append-mode memory
    * sink) in three deterministic arrival waves — on-time rows
    * (`event_id % LateMod != 0`), then the late wave (`% LateMod ==
    * 0`), then two far-future advancer rows that flush every real
    * window past the final watermark. Spark's contract, which the
    * DuckDB oracle replays in closed form:
    *
    *  - after wave 1 the watermark is `max(on-time ts) −
    *    WatermarkDelay`;
    *  - a wave-2 row is DROPPED iff its window END (hour start + 1 h)
    *    is ≤ that watermark (the StreamingSpec-pinned eviction rule);
    *  - append mode emits a window once the watermark passes its end,
    *    so after the advancers the emitted set is exactly the hourly
    *    aggregate over on-time ∪ kept-late rows.
    *
    * The driver-side collect is the REPLAY HARNESS, not the scale
    * path — production is `readStream` over an arriving directory
    * ([[hourlyByTypeStream]]); this form exists so the watermark
    * semantics are oracle-CHECKED, not just spec-asserted. Three
    * advancer waves make the emitted set independent of no-data
    * micro-batches (which are disabled — see the session note in the
    * body): an admission advancer at `max(on-time ts)` between waves
    * 1 and 2 pins the late wave's drop filter at the oracle's
    * watermark, and the two far-future advancers flush every real
    * window past the final watermark (each batch emits with its
    * start-of-batch watermark). */
  def hourlyWatermarkedReplay(events: DataFrame): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val rows = events
      .select(col("event_id"), col("ts"), col("event_type"), col("value"))
      .as[(Long, java.sql.Timestamp, String, Double)].collect()
    // an empty input has no watermark to advance and nothing to emit —
    // return the aggregate's shape rather than throwing on max-of-empty
    if (rows.isEmpty)
      return Seq.empty[(java.sql.Timestamp, String, Long, Double)]
        .toDF("hour", "event_type", "n", "total_value")
    val onTime0 = rows.filter(_._1 % LateMod != 0).toSeq
    val late0 = rows.filter(_._1 % LateMod == 0).toSeq
    // ALL-LATE degenerate case (every event_id % LateMod == 0): wave 1
    // would be an empty batch, which establishes NO watermark, so the
    // real stream keeps the whole of wave 2 — equivalently, everything
    // arrives in one wave. Fold it so explicitly; an oracle deriving
    // the watermark as max(on-time ts) would read NULL here and
    // silently drop everything instead (the result is identical either
    // way for the real stream, and StreamingSpec pins this branch).
    val (onTime, late) =
      if (onTime0.isEmpty) (late0, Nil) else (onTime0, late0)
    val maxMs = rows.iterator.map(_._2.getTime).max
    def adv(h: Long) =
      (-1L, new java.sql.Timestamp(maxMs + h * 3600 * 1000), "__advance", 0.0)
    // the replay runs 5 micro-batches, each paying one state-store
    // task per shuffle partition; at the session's 32 partitions that
    // is 160 mostly-empty state tasks for ~1k windows. A streaming
    // query pins its state partitioning at START, so run the replay in
    // a DEDICATED session with 8 partitions — mutating the shared
    // session conf (the r14 form) silently re-planned any concurrent
    // query at 8. Values are partition-independent (determinism sweep
    // covers this row); the sessions share one SparkContext.
    val ss = spark.newSession()
    ss.conf.set("spark.sql.shuffle.partitions", "8")
    // No-data micro-batches are OFF (r21): each processAllAvailable
    // paid a data batch PLUS a no-data batch — 8 micro-batches per
    // replay, each with a state-store task per partition. The r20
    // attempt to disable them naively CHANGED THE RESULT (3385 vs
    // 3069 rows at sf0.01): late-data admission lags the watermark by
    // one batch, and the no-data batch after wave 1 was what advanced
    // the admission filter before wave 2 planned. r21 restores that
    // cadence DETERMINISTICALLY: an admission-advancer wave between
    // wave 1 and wave 2 — one row at ts == max(on-time ts), in its
    // own `__advance` event_type group (event_type is a grouping key,
    // so it can never contaminate a real window's aggregate, and it
    // is filtered from the emitted set) — forces the one extra batch
    // the admission filter needs WITHOUT moving the watermark past
    // the oracle's stated `max(on-time ts) − 1 h`. The emitted set is
    // unchanged (oracle-checked); the replay now runs 5 data batches
    // and zero no-data batches instead of 4 + 4.
    ss.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", "false")
    implicit val ssCtx: org.apache.spark.sql.SQLContext = ss.sqlContext
    val mem = MemoryStream[(Long, java.sql.Timestamp, String, Double)]
    val agg = mem.toDF().toDF("event_id", "ts", "event_type", "value")
      .withWatermark("ts", WatermarkDelay)
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        round(sum(col("value")), 4).as("total_value"))
      .select(col("window.start").as("hour"), col("event_type"),
        col("n"), col("total_value"))
    val sink = "q_events_watermark_sink"
    ss.catalog.dropTempView(sink)
    val q = agg.writeStream.outputMode("append")
      .format("memory").queryName(sink).start()
    val emitted = try {
      mem.addData(onTime); q.processAllAvailable()
      if (late.nonEmpty) {
        // admission advancer (see the no-data note above): ts equals
        // the on-time max exactly, so the watermark lands on the
        // oracle's `max(on-time ts) − 1 h` — no real window's drop
        // decision can move
        val onTimeMaxMs = onTime.iterator.map(_._2.getTime).max
        mem.addData(Seq(
          (-1L, new java.sql.Timestamp(onTimeMaxMs), "__advance", 0.0)))
        q.processAllAvailable()
        mem.addData(late); q.processAllAvailable()
      }
      mem.addData(adv(72)); q.processAllAvailable()
      mem.addData(adv(96)); q.processAllAvailable()
      ss.table(sink).filter(col("event_type") =!= "__advance").collect()
    } finally q.stop()
    // hand the result back as a PARENT-session local DataFrame and
    // drop the child's memory-sink view: repeated invocations
    // (Verify's catalog run, determinism sweeps) must not accumulate live
    // sessions or retained sink rows — after this the child session
    // holds no registered state and is unreachable once we return
    ss.catalog.dropTempView(sink)
    spark.createDataFrame(
      java.util.Arrays.asList(emitted: _*), agg.schema)
  }

  /** Structured Streaming form of [[hourlyByType]]: parquet-backed
    * stream with a watermark over a directory of (µs-timestamped)
    * event parquet. The caller starts/controls the query (memory sink
    * in tests). */
  def hourlyByTypeStream(spark: SparkSession, path: String,
      options: Map[String, String] = Map.empty): DataFrame = {
    val schema = spark.read.parquet(path).schema
    spark.readStream.schema(schema).options(options)
      .parquet(path)
      .withWatermark("ts", WatermarkDelay)
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 4).as("total_value"))
      .select(col("window.start").as("hour"), col("event_type"),
        col("n"), col("total_value"))
  }
}
