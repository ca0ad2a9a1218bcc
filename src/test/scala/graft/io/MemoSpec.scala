package graft.io

import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger
import org.scalatest.funsuite.AnyFunSuite

/** The engine's one driver-side memo, on plain values (no Spark). */
class MemoSpec extends AnyFunSuite {

  /** A fresh value per call: `eq` tells builds apart. */
  private def value(s: String): String = new String(s)

  test("LRU order under access: a hit refreshes its entry, the least recent goes") {
    val m = new Memo[String, String]("spec", 3)
    Seq("a", "b", "c").foreach(k => m.getOrBuild(k)(value(k)))
    assert(m.get("a").contains("a"))
    m.getOrBuild("d")(value("d"))
    assert(m.get("b").isEmpty, "b was least recently used")
    assert(Seq("a", "c", "d").forall(m.get(_).isDefined))
    // find refreshes recency too
    assert(m.find(_ == "a").contains("a"))
    m.getOrBuild("e")(value("e"))
    assert(m.get("c").isEmpty && m.get("a").isDefined)
    assert(m.stats.size == 3 && m.stats.evictions == 2)
  }

  test("weight bound: evicts until it fits, keeps weight-0 values, returns an over-capacity value unretained") {
    val m = new Memo[String, String]("spec", 10,
      weigh = v => if (v.startsWith("p")) 0L else v.length.toLong)
    m.getOrBuild("p")(value("p-persisted"))
    m.getOrBuild("a")(value("aaaa"))
    m.getOrBuild("b")(value("bbbb"))
    m.getOrBuild("c")(value("cc"))
    assert(m.stats.weight == 10 && m.stats.evictions == 0)
    m.getOrBuild("d")(value("d"))
    assert(m.get("a").isEmpty, "the least recent weighted value goes first")
    assert(m.get("p").isDefined, "a value of weight 0 is never evicted by the bound")
    assert(m.stats.weight == 7 && m.stats.size == 4)
    var built = 0
    val huge = m.getOrBuild("h") { built += 1; value("h" * 11) }
    assert(huge == "h" * 11 && built == 1)
    assert(m.get("h").isEmpty && m.stats.weight == 7 && m.stats.size == 4,
      "an over-capacity value is returned, not held, and evicts nothing")
    m.getOrBuild("h") { built += 1; value("h" * 11) }
    assert(built == 2)
  }

  test("retire on evict: a value leaving the memo is released only at clear()") {
    val released = scala.collection.mutable.ArrayBuffer.empty[String]
    val m = new Memo[String, String]("spec", 2,
      release = Some(v => released.synchronized(released += v)))
    val a = m.getOrBuild("a")(value("a"))
    m.getOrBuild("b")(value("b"))
    m.getOrBuild("c")(value("c"))
    assert(m.stats.retired == 1 && released.isEmpty,
      "an evicted value is retired, not released: a caller may hold it")
    val c = m.get("c").get
    assert(m.remove("c", value("c")) == false, "remove needs the held value itself")
    assert(m.remove("c", c) && m.stats.retired == 2 && released.isEmpty)
    assert(m.clear() == Seq("b"))
    assert(released.toSet == Set("a", "b", "c") && released.exists(_ eq a))
    assert(m.stats.size == 0 && m.stats.retired == 0 && m.stats.weight == 0)
  }

  test("without release, an evicted value is dropped and clear() hands back what was held") {
    val m = new Memo[String, String]("spec", 1)
    m.getOrBuild("a")(value("a"))
    m.getOrBuild("b")(value("b"))
    assert(m.stats.retired == 0 && m.stats.size == 1)
    assert(m.clear() == Seq("b") && m.stats.size == 0)
  }

  test("an invalid hit is dropped, retired and rebuilt") {
    val dead = java.util.Collections.newSetFromMap(
      new java.util.IdentityHashMap[String, java.lang.Boolean]())
    val released = scala.collection.mutable.ArrayBuffer.empty[String]
    val m = new Memo[String, String]("spec", 4, valid = v => !dead.contains(v),
      release = Some(released += _))
    var built = 0
    def ensure() = m.getOrBuild("k") { built += 1; value("v") }
    val first = ensure()
    assert((ensure() eq first) && built == 1)
    dead.add(first)
    val second = ensure()
    assert(built == 2 && (second ne first))
    assert(m.stats.retired == 1 && m.stats.size == 1)
    m.clear()
    assert(released.exists(_ eq first) && released.exists(_ eq second))
  }

  test("single flight: four threads missing one key build once; distinct keys do not wait on each other") {
    val m = new Memo[String, String]("spec", 16)
    val builds = new AtomicInteger
    val start = new CountDownLatch(1)
    val pool = Executors.newFixedThreadPool(4)
    try {
      val got = (1 to 4).map(_ => pool.submit(() => {
        start.await()
        m.getOrBuild("k") {
          builds.incrementAndGet()
          Thread.sleep(200)
          value("v")
        }
      }))
      start.countDown()
      val vs = got.map(_.get(30, TimeUnit.SECONDS))
      assert(builds.get == 1, s"${builds.get} builds")
      assert(vs.forall(_ eq vs.head))
      assert(m.stats.builds == 1 && m.stats.misses + m.stats.hits == 4)

      // a's build waits for b's build to run: were builds serialized
      // across keys, b could not start until a gave up
      val bRan = new CountDownLatch(1)
      val a = pool.submit(() => m.getOrBuild("a") {
        value(if (bRan.await(10, TimeUnit.SECONDS)) "a" else "a-timed-out")
      })
      Thread.sleep(100)
      val b = pool.submit(() => m.getOrBuild("b") { bRan.countDown(); value("b") })
      assert(b.get(30, TimeUnit.SECONDS) == "b")
      assert(a.get(30, TimeUnit.SECONDS) == "a", "distinct keys serialized")
    } finally pool.shutdown()
  }

  test("counters: hits, misses, builds, evictions and weight") {
    val m = new Memo[String, String]("spec", 2)
    m.getOrBuild("a")(value("a")) // miss + build
    m.getOrBuild("a")(value("a")) // hit
    m.get("z")                    // miss
    m.find(_ == "a")              // hit
    m.find(_ == "z")              // miss
    m.getOrBuild("b")(value("b")) // miss + build
    m.getOrBuild("c")(value("c")) // miss + build, evicts a
    assert(m.stats == Memo.Stats(hits = 2, misses = 5, builds = 3, evictions = 1,
      weight = 2, size = 2, retired = 0))
  }

  test("peek reads a held value uncounted") {
    val m = new Memo[String, String]("spec", 2)
    val a = m.getOrBuild("a")(value("a")) // miss + build
    assert(m.peek("a").exists(_ eq a) && m.peek("z").isEmpty)
    assert(m.stats == Memo.Stats(hits = 0, misses = 1, builds = 1, evictions = 0,
      weight = 1, size = 1, retired = 0))
  }
}
