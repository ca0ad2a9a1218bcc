package graft.io

import org.apache.spark.storage.StorageLevel
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestBase

/** S9 closed loop: TTL semantics of the Redis result cache
  * (`Frontend/app.py:126` `ex=3600`) mapped onto persisted frames —
  * the cache appears as an InMemoryTableScan while live and is gone
  * (storage level NONE) after expiry. */
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
}
