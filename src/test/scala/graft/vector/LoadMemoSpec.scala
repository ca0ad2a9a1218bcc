package graft.vector

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestBase
import graft.text.Bm25

/** The Ivf and Bm25 `loadIndex` memos: concurrent first loads share one
  * pair and one resident copy, and a pair the memo no longer holds
  * still serves the Column tree's answer, counted. */
class LoadMemoSpec extends AnyFunSuite with SparkTestBase {
  import spark.implicits._

  private def vectors = {
    val rnd = new scala.util.Random(11)
    (0 until 40).map(i => (i.toLong, Seq.fill(8)(rnd.nextGaussian().toFloat)))
      .toDF("vec_id", "embedding")
  }

  private def docs = (0L until 20L)
    .map(i => (i, s"alpha beta token$i ${if (i % 3 == 0) "gamma" else "delta"}"))
    .toDF("doc_id", "text")

  /** `n` directories holding the same saved files as `dir`. */
  private def copies(dir: String, n: Int): Seq[String] = (1 to n).map { _ =>
    val to = Paths.get(tempDir("graft-load-memo"))
    val from = Paths.get(dir)
    Files.walk(from).forEach { p: Path =>
      val t = to.resolve(from.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(t) else Files.copy(p, t)
    }
    to.toString
  }

  private def ranked(df: DataFrame): Seq[Seq[Any]] =
    df.orderBy("query_id", "rank").collect().map(_.toSeq).toSeq

  /** `f` on four latch-started threads. */
  private def together[T](f: => T): Seq[T] = {
    val start = new CountDownLatch(1)
    val pool = Executors.newFixedThreadPool(4)
    try {
      val fs = (1 to 4).map(_ => pool.submit(() => { start.await(); f }))
      start.countDown()
      fs.map(_.get(120, TimeUnit.SECONDS))
    } finally pool.shutdown()
  }

  test("concurrent first loads of one path return one pair and build its segments once") {
    val (assigned, cents) = Ivf.index(vectors, nCells = 2)
    val dir = tempDir("graft-load-memo")
    Ivf.saveIndex(assigned, cents, dir)
    val builds = Ivf.loadStats.builds
    val ivf = together {
      val pair = Ivf.loadIndex(spark, dir)
      (pair, Ivf.resident(pair._1, pair._2))
    }
    assert(Ivf.loadStats.builds == builds + 1, "one load for four first callers")
    assert(ivf.forall(r => (r._1._1 eq ivf.head._1._1) && (r._1._2 eq ivf.head._1._2)))
    assert(ivf.forall(_._2 eq ivf.head._2), "one resident copy")

    val bDir = tempDir("graft-load-memo")
    Bm25.saveIndex(docs, bDir)
    val bBuilds = Bm25.loadStats.builds
    val bm = together {
      val idx = Bm25.loadIndex(spark, bDir)
      (idx, Bm25.resident(idx))
    }
    assert(Bm25.loadStats.builds == bBuilds + 1)
    assert(bm.forall(_._1 eq bm.head._1) && bm.forall(_._2 eq bm.head._2))
  }

  test("a pair evicted from the load memo is collected again, counted, and serves the Column tree's answer") {
    val (assigned, cents) = Ivf.index(vectors, nCells = 4)
    val dir = tempDir("graft-load-memo")
    Ivf.saveIndex(assigned, cents, dir)
    val (disk, diskCents) = Ivf.loadIndex(spark, dir)
    copies(dir, 16).foreach(Ivf.loadIndex(spark, _))
    val q = vectors.filter(col("vec_id") < 4)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_embedding"))
    val misses = Ivf.loadStats.misses
    val served = Ivf.topKIndexed(disk, diskCents, q, 5, nProbe = 2)
    assert(Ivf.loadStats.misses == misses + 1, "the re-collect must be counted")
    val reference = Ivf.topK(disk, diskCents, q, 5, nProbe = 2)
    assert(served.schema == reference.schema)
    assert(ranked(served) == ranked(reference))

    val bDir = tempDir("graft-load-memo")
    Bm25.saveIndex(docs, bDir)
    val idx = Bm25.loadIndex(spark, bDir)
    copies(bDir, 16).foreach(Bm25.loadIndex(spark, _))
    val qt = Seq((0L, "gamma token3"), (1L, "delta alpha")).toDF("query_id", "qtext")
    val bMisses = Bm25.loadStats.misses
    val bServed = Bm25.topKIndexed(idx, qt, 5)
    assert(Bm25.loadStats.misses == bMisses + 1, "the re-collect must be counted")
    val bReference = Bm25.topK(docs, qt, 5)
    assert(bServed.schema.map(f => (f.name, f.dataType)) ==
      bReference.schema.map(f => (f.name, f.dataType)))
    assert(ranked(bServed) == ranked(bReference))
  }
}
