package graft.dedup

import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestBase

/** Near-dup resolution: components must close transitively over
  * candidate pairs and pick one canonical keeper per cluster. */
class ClustersSpec extends AnyFunSuite with SparkTestBase {

  test("components close transitively; chains collapse to one cluster") {
    import spark.implicits._
    // two chains and an isolated pair: {1-2-3-4}, {10-11}, {20-21}
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L), (20L, 21L))
      .toDF("doc_a", "doc_b")
    val comp = Clusters.connectedComponents(pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(Seq(1L, 2L, 3L, 4L).forall(comp(_) == 1L),
      "a-b, b-c, c-d must be ONE component even though (a,d) never paired")
    assert(comp(10L) == 10L && comp(11L) == 10L)
    assert(comp(20L) == 20L && comp(21L) == 20L)
  }

  test("canonicalize keeps the longest doc, doc_id tiebreak, sizes right") {
    import spark.implicits._
    val docs = Seq((1L, 100L), (2L, 300L), (3L, 300L), (4L, 50L), (9L, 10L))
      .toDF("doc_id", "n_chars")
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L)).toDF("doc_a", "doc_b")
    val out = Clusters.canonicalize(docs, pairs).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getInt(3), r.getBoolean(4))).toMap
    assert(out.keySet == Set(1L, 2L, 3L, 4L)) // singleton 9 not emitted
    assert(out.values.forall { case (cid, size, _) => cid == 1L && size == 4 })
    // longest is 300 shared by docs 2 and 3 -> smaller doc_id wins
    assert(out(2L)._3 && !out(1L)._3 && !out(3L)._3 && !out(4L)._3)
  }

  test("property: random graphs — components match an in-test BFS reference") {
    import spark.implicits._
    val edgeGen = for {
      n <- Gen.chooseNum(1, 25) // edge count
      es <- Gen.listOfN(n, for {
        a <- Gen.chooseNum(1L, 30L); b <- Gen.chooseNum(1L, 30L)
        if a != b
      } yield (math.min(a, b), math.max(a, b)))
    } yield es.distinct
    def bfsComponents(es: Seq[(Long, Long)]): Map[Long, Long] = {
      val adj = (es ++ es.map(_.swap)).groupMap(_._1)(_._2)
      val seen = scala.collection.mutable.Map.empty[Long, Long]
      adj.keys.toSeq.sorted.foreach { start =>
        if (!seen.contains(start)) {
          val queue = scala.collection.mutable.Queue(start)
          val members = scala.collection.mutable.Buffer.empty[Long]
          while (queue.nonEmpty) {
            val x = queue.dequeue()
            if (!seen.contains(x)) {
              seen(x) = -1; members += x
              adj.getOrElse(x, Nil).foreach(queue.enqueue)
            }
          }
          val label = members.min
          members.foreach(m => seen(m) = label)
        }
      }
      seen.toMap
    }
    val prop = Prop.forAll(edgeGen) { es =>
      es.isEmpty || {
        val got = Clusters.connectedComponents(es.toDF("doc_a", "doc_b"))
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        got == bfsComponents(es)
      }
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(30), prop)
    assert(res.passed, res.status.toString)
  }

  test("distributed propagation matches driver union-find, any partition layout") {
    import spark.implicits._
    val pairs = (1L to 40L).sliding(2).map(s => (s.head, s.last)).toSeq
      .toDF("doc_a", "doc_b") // one long chain: worst-case diameter
    // threshold 0 forces the distributed O(log diameter) loop
    val dist = Clusters.connectedComponents(pairs.repartition(13),
        smallGraphThreshold = 0)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    val drv = Clusters.connectedComponents(pairs.repartition(1))
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    assert(dist == drv, "both strategies must reach the same fixpoint")
    assert(dist.forall(_._2 == 1L), "whole chain is one component")
  }

  test("ensureComponents: memo hit within a batch, cleared by Caches.clearAll") {
    import spark.implicits._
    val key = s"spec-cc-${java.util.UUID.randomUUID()}"
    var built = 0
    def pairs = {
      built += 1
      Seq((1L, 2L), (2L, 3L)).toDF("doc_a", "doc_b")
    }
    val a = Clusters.ensureComponents(spark, key, Some("e1"))(pairs)
    assert(a.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap ==
      Map(1L -> 1L, 2L -> 1L, 3L -> 1L))
    assert(built == 1)
    // same (key, epoch): the by-name pairs must never be constructed
    Clusters.ensureComponents(spark, key, Some("e1"))(pairs).count()
    assert(built == 1, "memo hit must not re-resolve")
    // Verify's between-row batch boundary: the memo must NOT survive
    // it, so every catalog row does its declared work
    graft.io.Caches.clearAll(spark)
    val c = Clusters.ensureComponents(spark, key, Some("e1"))(pairs)
    assert(built == 2, "clearAll must empty the component memo")
    assert(c.collect().length == 3)
  }

  test("ensureComponents: dead localCheckpoint backing detected, rebuilt") {
    import spark.implicits._
    val key = s"spec-ccv-${java.util.UUID.randomUUID()}"
    var built = 0
    def pairs = {
      built += 1
      (1L to 20L).sliding(2).map(s => (s.head, s.last)).toSeq
        .toDF("doc_a", "doc_b")
    }
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    // threshold 0 forces the distributed path -> localCheckpoint-backed
    val a = Clusters.ensureComponents(spark, key, Some("e1"),
      smallGraphThreshold = 0)(pairs)
    val answer = rows(a)
    assert(answer.length == 20 && answer.forall(_._2 == 1L) && built == 1)
    // the checkpoint blocks go away (unpersisted, or lost with their
    // executor): a memo hit over the dead backing must REBUILD, not
    // fail the query
    val backing = Clusters.backingRdds(a)
    assert(backing.nonEmpty, "the distributed path must be checkpoint-backed")
    backing.foreach(_.unpersist(blocking = true))
    val b = Clusters.ensureComponents(spark, key, Some("e1"),
      smallGraphThreshold = 0)(pairs)
    assert(built == 2, "invalid backing must trigger a rebuild")
    assert(rows(b) == answer)
    Clusters.clearMemo()
  }

  test("ensureComponents: a held frame survives eviction past 16 keys; clearMemo reclaims it") {
    import spark.implicits._
    val tag = java.util.UUID.randomUUID()
    def pairs = Seq((1L, 2L), (2L, 3L)).toDF("doc_a", "doc_b")
    // threshold 0 forces the checkpoint-backed distributed path
    def ensure(i: Int) = Clusters.ensureComponents(spark, s"spec-cce-$tag-$i",
      Some("e1"), smallGraphThreshold = 0)(pairs)
    def stored(df: org.apache.spark.sql.DataFrame) =
      Clusters.backingRdds(df).map(_.getStorageLevel)
        .filter(_ != org.apache.spark.storage.StorageLevel.NONE)
    Clusters.clearMemo()
    val held = ensure(0)
    val backing = Clusters.backingRdds(held)
    assert(backing.nonEmpty && stored(held).length == backing.length)
    (1 to 16).foreach(ensure(_))
    assert(Clusters.memoSize == 16 && Clusters.retiredCount == 1,
      "the 17th key evicts the first entry into the retired list")
    assert(held.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap ==
      Map(1L -> 1L, 2L -> 1L, 3L -> 1L),
      "an evicted frame a caller still holds must keep collecting")
    assert(stored(held).length == backing.length,
      "eviction must not release backing")
    Clusters.clearMemo()
    assert(stored(held).isEmpty && Clusters.retiredCount == 0,
      "clearMemo must reclaim retired backing")
  }
}
