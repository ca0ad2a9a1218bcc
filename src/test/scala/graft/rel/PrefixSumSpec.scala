package graft.rel

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestBase

class PrefixSumSpec extends AnyFunSuite with SparkTestBase {
  import spark.implicits._

  test("distributed prefix sum equals the single-partition window, any layout") {
    val df = (1L to 997L).map(i => (i, (i * 7 % 13) + 1)).toDF("k", "v")
    val expected = df
      .withColumn("prefix",
        coalesce(sum(col("v")).over(
          Window.orderBy(col("k")).rowsBetween(Window.unboundedPreceding, -1)),
          lit(0L)))
      .select("k", "prefix").as[(Long, Long)].collect().toMap
    for (parts <- Seq(1, 3, 17)) {
      val got = PrefixSum.exclusivePrefixSum(
          df.repartition(parts), col("k"), col("v"))
        .select("k", "prefix").as[(Long, Long)].collect().toMap
      assert(got == expected, s"mismatch at input partitions=$parts")
    }
  }

  test("tied order keys share one prefix and leave a gap in the range") {
    val df = Seq((1L, "a"), (2L, "b"), (2L, "c"), (3L, "d")).toDF("k", "tag")
    for (parts <- Seq(1, 3)) {
      val got = PrefixSum.exclusivePrefixSum(df.repartition(parts), col("k"), lit(1L))
        .select("tag", "prefix").as[(String, Long)].collect().toMap
      assert(got == Map("a" -> 0L, "b" -> 2L, "c" -> 2L, "d" -> 3L),
        s"input partitions=$parts")
    }
  }

  test("token shards: contiguous in key order, first shard starts at 0") {
    val df = (1L to 200L).map(i => (i, 10L)).toDF("k", "n")
    val shards = PrefixSum.tokenShards(df, col("k"), col("n"), budget = 170L)
      .select("k", "shard").as[(Long, Int)].collect().sortBy(_._1)
    assert(shards.head._2 == 0)
    // shard ids are non-decreasing in key order and cover 0..max gaplessly
    assert(shards.sliding(2).forall { case Array((_, a), (_, b)) => b - a == 0 || b - a == 1 })
    // 200 rows * 10 tokens / 170 budget => ceil(2000/170) = 12 shards
    assert(shards.map(_._2).distinct.length == 12)
  }
}
