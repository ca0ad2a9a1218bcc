package graft.io

import org.apache.spark.storage.StorageLevel
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestBase

/** S9 closed loop: TTL semantics of the Redis result cache
  * (`Frontend/app.py:126` `ex=3600`). An unbounded result is a
  * persisted frame — it appears as an InMemoryTableScan while live and
  * is gone (storage level NONE) after expiry. A bounded one is driver
  * rows: hits run no Spark job, and row entries stay within the byte
  * budget. */
class ResultCacheSpec extends AnyFunSuite with SparkTestBase {

  private val q = s"SELECT o_orderpriority, count(*) AS n FROM parquet.`$sf/orders.parquet` GROUP BY 1"

  test("hit is served from the columnar cache while the TTL is live") {
    var t = 1000L
    val clock = () => t
    ResultCache.evictAll()
    val first = ResultCache.sqlCached(spark, q, ttlMillis = 3600 * 1000L, now = clock)
    first.count() // materialize the cache
    t += 1000 // well inside the TTL
    val hit = ResultCache.lookup(spark, q, clock)
    assert(hit.isDefined)
    assert(hit.get.filter("n >= 0").queryExecution.executedPlan.toString
      .contains("InMemoryTableScan"),
      "live entry must serve from the columnar cache")
    // normalized key: same query modulo case/whitespace is the same entry
    assert(ResultCache.lookup(spark, q.toLowerCase.replace(" ", "  "), clock).isDefined)
    ResultCache.evictAll()
  }

  test("queries that differ only inside a quoted literal are different entries") {
    ResultCache.evictAll()
    val li = s"parquet.`$sf/lineitem.parquet`"
    def count(q: String) =
      ResultCache.sqlCached(spark, q, 3600 * 1000L).head().getLong(0)
    val upper = count(s"SELECT count(*) FROM $li WHERE l_returnflag = 'R'")
    assert(upper > 0)
    assert(count(s"select  COUNT(*) from $li where l_returnflag = 'r'") == 0,
      "a lower-case literal must not be served the upper-case query's rows")
    assert(ResultCache.sqlCached(spark, "SELECT 'a  b' AS v", 1000L).head().getString(0) == "a  b")
    assert(ResultCache.sqlCached(spark, "SELECT 'a b' AS v", 1000L).head().getString(0) == "a b")
    // outside the literals case and whitespace still fold
    assert(ResultCache.normalize("SELECT  X FROM t WHERE c = 'A  B' -- it's\n AND `Col` = \"Q\"") ==
      "select x from t where c = 'A  B' -- it's and `Col` = \"Q\"")
    assert(ResultCache.normalize("SELECT 'it\\'S' , 'x''Y'") == "select 'it\\'S' , 'x''Y'")
    ResultCache.evictAll()
  }

  test("expired entry is evicted: unpersisted and a fresh run re-caches") {
    var t = 1000L
    val clock = () => t
    ResultCache.evictAll()
    val df = ResultCache.sqlCached(spark, q, ttlMillis = 5000L, now = clock)
    df.count()
    assert(df.storageLevel != StorageLevel.NONE, "live entry is persisted")
    t += 6000 // past the TTL
    assert(ResultCache.lookup(spark, q, clock).isEmpty, "expired entry must miss")
    assert(df.storageLevel == StorageLevel.NONE, "expired entry must unpersist")
    // re-put after expiry works and re-caches with a fresh deadline
    val again = ResultCache.sqlCached(spark, q, 5000L, clock)
    assert(again.count() > 0 && ResultCache.lookup(spark, q, clock).isDefined)
    ResultCache.evictAll()
  }

  test("Sessions.uuid: stable per session, distinct across live sessions (r19 advice)") {
    // the key every JVM-wide DataFrame cache (loadIndex memos, the
    // result cache) hangs session-bound frames on: must be stable for
    // one session and never shared between two live ones — the
    // identityHashCode collision/reuse hole this replaced
    val a1 = Sessions.uuid(spark)
    assert(Sessions.uuid(spark) == a1, "token must be stable per session")
    val s2 = spark.newSession()
    assert(Sessions.uuid(s2) != a1,
      "two live sessions must never share a cache token")
    assert(Sessions.uuid(s2) == Sessions.uuid(s2))
  }

  test("guard: only SELECT reaches the engine (app.py:279-281)") {
    intercept[IllegalArgumentException] {
      ResultCache.sqlCached(spark, "DROP TABLE important", 1000L)
    }
    intercept[IllegalArgumentException] {
      ResultCache.sqlCached(spark, "  UPDATE t SET x = 1", 1000L)
    }
    // leading whitespace / case do not defeat the guard's accept path
    assert(ResultCache.isAllowed("   select 1"))
  }

  private def callable[T](body: => T): java.util.concurrent.Callable[T] = () => body

  /** A one-row result of about `bytes` bytes, whose plan proves it. */
  private def rowQuery(bytes: Long, tag: Int) =
    s"SELECT repeat('x', $bytes + id) AS s, $tag AS tag FROM range(1)"

  test("a warm LIMIT page, its collect and its value counts submit no Spark job") {
    ResultCache.evictAll()
    val page = s"SELECT l_returnflag, l_linestatus, l_quantity " +
      s"FROM parquet.`$sf/lineitem.parquet` " +
      "ORDER BY l_orderkey, l_linenumber LIMIT 100 OFFSET 10"
    val cold = ResultCache.sqlCached(spark, page, 3600 * 1000L)
    assert(cold.storageLevel == StorageLevel.NONE, "a bounded result is not persisted")
    assert(Resident.driverRows(cold).isDefined, "a bounded result is driver rows")
    val coldRows = cold.collect()
    val ((rows, counts), jobs) = jobsDuring {
      val hit = ResultCache.sqlCached(spark, page, 3600 * 1000L)
      (hit.collect(), graft.rel.Rel.valueCounts(hit, "l_returnflag").collect())
    }
    assert(jobs.isEmpty,
      s"a warm hit, its collect and its value counts must submit no Spark job: $jobs")
    assert(rows.length == 100 && rows.toSeq == coldRows.toSeq)
    assert(rows.toSeq == spark.sql(page).collect().toSeq,
      "the cached page must equal the uncached result")
    assert(counts.toSeq ==
      graft.rel.Rel.valueCountsAggregate(spark.sql(page), "l_returnflag").collect().toSeq)
    ResultCache.evictAll()
  }

  test("SQL over a cached page's temp view, BETWEEN included, reads driver rows with no job") {
    ResultCache.evictAll()
    val page = ResultCache.sqlCached(spark, s"SELECT l_orderkey, l_returnflag " +
      s"FROM parquet.`$sf/lineitem.parquet` ORDER BY l_orderkey, l_linenumber LIMIT 100",
      3600 * 1000L)
    page.createOrReplaceTempView("cached_page")
    val lo = page.collect().map(_.getLong(0)).sorted.apply(20)
    try Seq(s"SELECT * FROM cached_page WHERE l_orderkey >= $lo AND l_orderkey <= ${lo + 50}",
        s"SELECT * FROM cached_page WHERE l_orderkey BETWEEN $lo AND ${lo + 50}").foreach { q =>
      val ((rows, counts), jobs) = jobsDuring {
        val df = spark.sql(q)
        (Resident.columns(df, "l_orderkey")._2, graft.rel.Rel.valueCounts(df, "l_returnflag")
          .collect())
      }
      assert(jobs.isEmpty, s"$q: $jobs")
      assert(rows.nonEmpty && counts.map(_.getLong(1)).sum == rows.length)
    } finally spark.catalog.dropTempView("cached_page")
    ResultCache.evictAll()
  }

  test("an expired row entry is evicted, its bytes released, and a fresh run re-caches") {
    var t = 1000L
    val clock = () => t
    ResultCache.evictAll()
    assert(ResultCache.rowBytesHeld == 0)
    val q = rowQuery(1000, 1)
    val df = ResultCache.sqlCached(spark, q, ttlMillis = 5000L, now = clock)
    val held = ResultCache.rowBytesHeld
    assert(held >= 2 * 1000, s"a row entry is charged its rows' bytes: $held")
    t += 1000
    assert(ResultCache.lookup(spark, q, clock).exists(_ eq df), "live entry must hit")
    t += 5000 // past the TTL
    assert(ResultCache.lookup(spark, q, clock).isEmpty, "expired entry must miss")
    assert(ResultCache.rowBytesHeld == 0, "an evicted row entry releases its bytes")
    assert(df.collect().head.getString(0).length == 1000,
      "a frame handed out before eviction keeps its rows")
    val again = ResultCache.sqlCached(spark, q, 5000L, clock)
    assert((again ne df) && ResultCache.lookup(spark, q, clock).exists(_ eq again))
    assert(ResultCache.rowBytesHeld == held)
    ResultCache.evictAll()
    assert(ResultCache.rowBytesHeld == 0)
  }

  test("row entries stay within the byte budget: oldest evicted first, over-budget results uncached") {
    ResultCache.evictAll()
    val budget = ResultCache.RowBudgetBytes
    // four entries of just under a quarter of the budget each fit
    val quarter = budget / 8 - 64
    (1 to 4).foreach(i => ResultCache.sqlCached(spark, rowQuery(quarter, i), 3600 * 1000L))
    assert((1 to 4).forall(i => ResultCache.lookup(spark, rowQuery(quarter, i)).isDefined))
    val four = ResultCache.rowBytesHeld
    assert(four <= budget && four > budget / 2)
    ResultCache.sqlCached(spark, rowQuery(quarter, 5), 3600 * 1000L)
    assert(ResultCache.lookup(spark, rowQuery(quarter, 1)).isEmpty, "the oldest entry goes first")
    assert((2 to 5).forall(i => ResultCache.lookup(spark, rowQuery(quarter, i)).isDefined))
    assert(ResultCache.rowBytesHeld == four)
    // a result larger than the whole budget is returned, not cached
    val huge = rowQuery(budget / 2 + 1, 6)
    val got = ResultCache.sqlCached(spark, huge, 3600 * 1000L)
    assert(got.collect().head.getString(0).length == budget / 2 + 1)
    assert(ResultCache.lookup(spark, huge).isEmpty && ResultCache.rowBytesHeld == four)
    // concurrent misses of distinct keys: the total never exceeds the
    // budget, and every caller gets its own rows
    ResultCache.evictAll()
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    try {
      val runs = (1 to 8).map { i =>
        pool.submit(callable {
          val df = ResultCache.sqlCached(spark, rowQuery(quarter, 10 + i), 3600 * 1000L)
          (df.collect().head.getInt(1), ResultCache.rowBytesHeld)
        })
      }.map(_.get())
      assert(runs.map(_._1) == (11 to 18))
      assert(runs.forall(_._2 <= budget), s"held bytes over budget: ${runs.map(_._2)}")
    } finally pool.shutdown()
    val live = (11 to 18).count(i => ResultCache.lookup(spark, rowQuery(quarter, i)).isDefined)
    assert(live >= 1 && live <= 4, s"$live entries live")
    assert(ResultCache.rowBytesHeld <= budget)
    ResultCache.evictAll()
    assert(ResultCache.rowBytesHeld == 0)
  }

  test("concurrent misses of one bounded query keep one row entry") {
    ResultCache.evictAll()
    val q = rowQuery(1000, 7)
    val start = new java.util.concurrent.CountDownLatch(1)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    val frames = try {
      val fs = (1 to 4).map(_ => pool.submit(callable {
        start.await()
        ResultCache.sqlCached(spark, q, 3600 * 1000L)
      }))
      start.countDown()
      fs.map(_.get())
    } finally pool.shutdown()
    val kept = ResultCache.lookup(spark, q).get
    assert(frames.forall(_ eq kept), "every caller must get the one kept entry")
    val held = ResultCache.rowBytesHeld
    ResultCache.evictAll()
    ResultCache.sqlCached(spark, q, 3600 * 1000L)
    assert(ResultCache.rowBytesHeld == held, "only one entry may be charged")
    ResultCache.evictAll()
  }

  test("stats count sqlCached calls, not lookups") {
    ResultCache.evictAll()
    val q = rowQuery(100, 9)
    val before = ResultCache.stats
    ResultCache.lookup(spark, q)
    ResultCache.sqlCached(spark, q, 3600 * 1000L)
    ResultCache.lookup(spark, q)
    ResultCache.sqlCached(spark, q, 3600 * 1000L)
    val after = ResultCache.stats
    assert((after.hits - before.hits, after.misses - before.misses) == (1L, 1L))
    ResultCache.evictAll()
  }
}
