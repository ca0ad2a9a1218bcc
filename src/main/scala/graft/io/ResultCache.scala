package graft.io

import org.apache.spark.sql.{DataFrame, SparkSession}
import scala.collection.concurrent.TrieMap

/** S9 — the reference's Redis result cache and guarded SQL surface
  * (`Frontend/app.py:98-133, 279-281`): results are cached under a
  * whitespace-normalized lowercase query key with a TTL (`ex=3600`),
  * and only SELECT statements may reach the engine.
  *
  * Spark mapping: a value is the persisted DataFrame itself (columnar
  * InMemoryRelation) instead of pickled bytes — a hit is served from
  * executor memory as an InMemoryTableScan, partition-parallel rather
  * than a single driver blob, and survives result sizes Redis never
  * could. TTL is enforced at access time (lazy expiry — the same
  * observable contract as Redis `ex`), plus explicit `evictAll` for
  * shutdown. The clock is injectable so expiry is deterministic under
  * test.
  */
object ResultCache {

  private final case class Entry(df: DataFrame, deadlineMillis: Long)
  private val entries = TrieMap.empty[String, Entry]

  /** Redis-key normalization (`app.py:118`): collapse whitespace,
    * lowercase, trim — outside quotes only. A quoted literal or
    * identifier (`'…'`, `"…"`, `` `…` ``) is kept verbatim, because its
    * case and spacing change the answer (`= 'R'` vs `= 'r'`). Inside
    * `'…'` and `"…"` a backslash escapes the next character; a doubled
    * quote closes and reopens the literal, which keeps it verbatim too.
    * Comments are folded whole, so a quote in one opens no literal. */
  def normalize(query: String): String = {
    val out = new StringBuilder
    val plain = new StringBuilder
    def flush(): Unit = {
      out ++= plain.toString.replaceAll("\\s+", " ").toLowerCase
      plain.clear()
    }
    val q = query.trim
    var i = 0
    while (i < q.length) {
      val c = q.charAt(i)
      if (c == '\'' || c == '"' || c == '`') {
        flush()
        var j = i + 1
        while (j < q.length && q.charAt(j) != c) {
          if (c != '`' && q.charAt(j) == '\\') j += 1
          j += 1
        }
        out ++= q.substring(i, math.min(j + 1, q.length))
        i = j + 1
      } else if (q.startsWith("--", i) || q.startsWith("/*", i)) {
        // a comment is folded like plain text, quotes in it included
        val end = if (c == '-') q.indexOf('\n', i) else q.indexOf("*/", i + 2)
        val stop = if (end < 0) q.length else if (c == '-') end else end + 2
        plain ++= q.substring(i, stop)
        i = stop
      } else {
        plain += c
        i += 1
      }
    }
    flush()
    out.toString
  }

  /** SELECT-only guard (`app.py:279-281`). */
  def isAllowed(query: String): Boolean = normalize(query).startsWith("select")

  /** Key = session token + normalized-query md5: entries hold
    * DataFrames bound to their owning session, so a second session in
    * the same JVM must never receive another session's frame.
    * [[Sessions.uuid]], not `identityHashCode` — identity hashes
    * can collide across live sessions and be reused after GC (r19
    * advice, the loadIndex memo pattern). */
  private def key(spark: SparkSession, query: String): String =
    graft.io.Sessions.uuid(spark) + ":" +
      java.security.MessageDigest.getInstance("MD5")
        .digest(normalize(query).getBytes("UTF-8"))
        .map("%02x".format(_)).mkString

  /** Run `query` through the guard + cache: a live entry is served
    * from the columnar cache; a miss (or expired entry) re-executes
    * and re-caches with a fresh TTL. */
  def sqlCached(spark: SparkSession, query: String, ttlMillis: Long,
      now: () => Long = () => System.currentTimeMillis()): DataFrame = {
    require(isAllowed(query), "Only SELECT queries are allowed")
    lookup(spark, query, now).getOrElse {
      val df = spark.sql(query).persist()
      // putIfAbsent: if a concurrent miss won the race, keep ITS entry
      // and unpersist ours — an unconditional put would orphan the
      // loser's persisted frame in executor memory
      entries.putIfAbsent(key(spark, query), Entry(df, now() + ttlMillis)) match {
        case Some(winner) => df.unpersist(blocking = false); winner.df
        case None => df
      }
    }
  }

  /** Live entry for `query`, or None — an expired entry is
    * unpersisted and removed on the way out (lazy TTL eviction). */
  def lookup(spark: SparkSession, query: String,
      now: () => Long = () => System.currentTimeMillis()): Option[DataFrame] = {
    val k = key(spark, query)
    entries.get(k) match {
      case Some(e) if now() < e.deadlineMillis => Some(e.df)
      case Some(e) => evict(k, e); None
      case None => None
    }
  }

  def evictAll(): Unit = entries.foreach { case (k, e) => evict(k, e) }

  private def evict(k: String, e: Entry): Unit = {
    // conditional remove: only drop the exact entry we decided to
    // evict — a fresh entry raced in under the same key must survive
    // (and keep its persisted frame)
    if (entries.remove(k, e)) e.df.unpersist(blocking = false)
    ()
  }
}
