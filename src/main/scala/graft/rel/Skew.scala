package graft.rel

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Skew-mitigation utilities (100 TB design note, SURVEY §7.4 #7).
  *
  * MEASURED guidance (a skew-join probe since deleted, 9.6 M rows with one
  * key holding 50%, dim ~150 k, broadcast disabled, local[32] —
  * SKEW_BENCH.json): plain sort-merge 2.40 s, [[saltedJoin]] 1.51 s
  * (1.6x), AQE skew-split 1.12 s (2.1x). So the preference order is:
  *
  *  1. BROADCAST the small side if it fits — skew on the big side of
  *     a broadcast join is free (no shuffle of the big side at all);
  *  2. AQE's skew-join split when the join is a shuffle join and the
  *     skew is visible to AQE — it beats salting because it splits
  *     only the oversized partitions and replicates nothing. Note the
  *     default `skewedPartitionThresholdInBytes` (256 MB) is sized
  *     for cluster-scale partitions; below that, tune it down or AQE
  *     never engages (the SKEW_BENCH.json run set 8 MB);
  *  3. [[saltedJoin]] when AQE can't see or can't split the skew: a
  *     non-shuffle stage feeding the join, skew that emerges AFTER a
  *     transformation AQE stats don't capture (e.g. an exploded
  *     LSH-band key where one near-dup mega-cluster shares a bucket),
  *     or an engine path with AQE disabled. Costs `factor`x
  *     replication of the small side — keep the small side small.
  *
  * Salting is deterministic here: the salt is derived from a stable
  * row attribute (`pmod(xxhash64(saltSource), factor)`), never from
  * `rand()` — oracle/replay determinism is a project invariant.
  */
object Skew {

  /** Equi-join `big ⋈ small` on `key`, with the big side's hot keys
    * split across `factor` = 8 salted sub-keys and the small side
    * replicated `factor` times. Output equals the plain join. */
  def saltedJoin(big: DataFrame, small: DataFrame, key: String,
      saltSource: Column): DataFrame = {
    val factor = 8
    val salted = big.withColumn("_salt",
      pmod(xxhash64(saltSource), lit(factor)).cast("int"))
    val replicated = small.withColumn("_salt",
      explode(sequence(lit(0), lit(factor - 1))))
    salted.join(replicated, Seq(key, "_salt")).drop("_salt")
  }

  /** Top heavy-hitter keys of a column with their frequencies —
    * the detector that decides whether salting is needed. */
  def heavyHitters(df: DataFrame, key: String, topN: Int = 10): DataFrame =
    df.groupBy(col(key)).agg(count(lit(1)).as("freq"))
      .orderBy(desc("freq"), col(key)).limit(topN)
}
