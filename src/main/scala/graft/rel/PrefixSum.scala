package graft.rel

import graft.io.Caches.TrackedPersistOps
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Distributed global prefix sum — the scalable form of
  * `sum(x) OVER (ORDER BY k)`.
  *
  * A global-ordered window moves the whole dataset to ONE partition
  * (Spark warns exactly this); at corpus scale that is the classic
  * non-starter. The two-pass shape here is the textbook fix:
  *
  *  1. range-partition by the order key and compute PARTITION-LOCAL
  *     running sums (parallel windows keyed on `spark_partition_id`);
  *  2. aggregate one row per partition (its total), cumulate those
  *     few totals driver-side, and broadcast-join the per-partition
  *     base offsets back.
  *
  * The result is identical to the single-partition window for any
  * partition layout — per-partition boundaries only change how the
  * same ordered sum is split, never its value — so the operator is
  * byte-deterministic across core counts and oracle-checkable.
  * Driver state is one long per partition.
  */
object PrefixSum {

  /** Adds `out` = exclusive prefix sum of `value` in `order` order.
    * `order` should be a unique key; ties are not checked. The window's
    * default RANGE frame sums a whole tie group at once, so every row of
    * a group gets the group's running total minus its own value: over
    * keys 1, 2, 2, 3 with value 1 the prefixes are 0, 2, 2, 3 — tied
    * rows share one prefix and a dense range gets a gap (no row gets 1),
    * so a tied key never numbers rows 0..n-1. */
  def exclusivePrefixSum(df: DataFrame, order: Column, value: Column,
      out: String = "prefix"): DataFrame = {
    val spark = df.sparkSession
    val ranged = df
      .repartitionByRange(order)
      .sortWithinPartitions(order)
      .withColumn("__pid", spark_partition_id())
    val w = Window.partitionBy(col("__pid")).orderBy(order)
    // persisted between the two passes (totals action + final plan):
    // without it the upstream — often a tokenize/score projection —
    // re-executes for the second pass. MEMORY_AND_DISK, so at corpus
    // scale it spills rather than evicts; freed by Spark's LRU (the
    // result is lazy, so an eager unpersist here would un-cache
    // before the caller ever consumes it).
    val local = ranged.withColumn("__local_incl", sum(value).over(w))
      .withColumn("__v", value)
      .persistTracked("prefixsum.local")
    // one row per partition; cumulate on the driver (bounded by the
    // partition count, not the data) and broadcast the offsets back
    val totals = local.groupBy(col("__pid"))
      .agg(sum(col("__v")).as("__total"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).sortBy(_._1)
    var acc = 0L
    val offsets = totals.map { case (pid, tot) =>
      val base = acc; acc += tot; (pid, base)
    }
    val offsetsDf = spark.createDataFrame(offsets.toSeq)
      .toDF("__pid", "__base")
    local
      .join(broadcast(offsetsDf), "__pid")
      .withColumn(out, col("__base") + col("__local_incl") - col("__v"))
      .drop("__pid", "__local_incl", "__v", "__base")
  }

  /** Token-budget corpus sharding: shard i holds the rows whose
    * exclusive token prefix falls in [i·budget, (i+1)·budget) — the
    * standard way to cut a corpus into ≈budget-token training shards
    * in reading order. */
  def tokenShards(df: DataFrame, order: Column, tokenCount: Column,
      budget: Long): DataFrame =
    exclusivePrefixSum(df, order, tokenCount, "prefix_tokens")
      .withColumn("shard", floor(col("prefix_tokens") / budget).cast("int"))
}
