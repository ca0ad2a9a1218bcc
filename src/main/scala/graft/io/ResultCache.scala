package graft.io

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.graftshim.ColumnShim

/** S9 — the reference's Redis result cache and guarded SQL surface
  * (`Frontend/app.py:98-133, 279-281`): results are cached under a
  * whitespace-normalized lowercase query key with a TTL (`ex=3600`),
  * and only SELECT statements may reach the engine.
  *
  * Spark mapping: a value is a DataFrame instead of pickled bytes, in
  * one of two forms:
  *
  *  - Bounded: a result of at most [[MaxRowEntryRows]] rows, kept as
  *    driver rows in a LocalRelation frame — the reference's
  *    driver-side blob. Collecting it on a hit, or a filter, projection
  *    or [[graft.rel.Rel.valueCounts]] over it, runs no Spark job. A
  *    miss fills it in one of two ways. A page — `LIMIT n ≤ 10k`, an
  *    optional `OFFSET`, a sort on columns, an optional column list and
  *    a filter that cannot raise an error, over a small file-backed
  *    table — is walked from the table's driver-resident copy in
  *    `ORDER BY` order, stopping after `offset + limit` matches
  *    ([[ResidentTable.page]]): no optimizer run and, once the copy is
  *    loaded, no Spark job. Any other result the optimized plan proves
  *    small (`optimizedPlan.maxRows`: a page the walk does not answer,
  *    a global aggregate) is scanned by Spark and collected once.
  *  - Unbounded (a `GROUP BY` with no `LIMIT`, a scan). The persisted
  *    DataFrame (columnar InMemoryRelation): a hit is served from
  *    executor memory as an InMemoryTableScan, partition-parallel, and
  *    survives result sizes no driver blob could.
  *
  * Both forms live in one [[Memo]] (single-flight: concurrent misses of
  * one query run it once). A row entry weighs its measured row bytes
  * against [[RowBudgetBytes]]; a persisted entry weighs 0. The policy
  * is LRU over row entries: a miss that overflows the budget evicts the
  * least recently used row entries (a hit refreshes its entry), and a
  * result larger than the whole budget is returned uncached; both are
  * logged. Persisted entries are never evicted by the budget.
  *
  * TTL is enforced at access time (lazy expiry — the same observable
  * contract as Redis `ex`), plus explicit `evictAll` for shutdown. The
  * clock is injectable so expiry is deterministic under test.
  *
  * Staleness: an entry is keyed by session and normalized SQL text
  * only, not by the files its query reads. A view re-created over
  * rewritten files therefore keeps serving the old rows for the same
  * SQL until the TTL expires or `evictAll` runs — the reference's Redis
  * `ex` contract. A miss is always fresh: the [[ResidentTable]] copy a
  * page is walked from is keyed by the table's file listing.
  */
object ResultCache {

  /** The most rows a result may be proven to have and still be kept as
    * driver rows; also the largest `LIMIT` the resident walk answers. */
  private[io] val MaxRowEntryRows = 10000L

  /** Driver bytes all row entries together may hold. */
  private[graft] val RowBudgetBytes: Long = 32L << 20

  /** `rowBytes` is None for a persisted frame, and the bytes a row
    * entry is charged otherwise. */
  private final case class Entry(df: DataFrame, deadlineMillis: Long,
      rowBytes: Option[Long])
  private val entries = new Memo[String, Entry]("ResultCache", RowBudgetBytes,
    weigh = _.rowBytes.getOrElse(0L))

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
    * advice). */
  private def key(spark: SparkSession, query: String): String =
    graft.io.Sessions.uuid(spark) + ":" +
      java.security.MessageDigest.getInstance("MD5")
        .digest(normalize(query).getBytes("UTF-8"))
        .map("%02x".format(_)).mkString

  /** Run `query` through the guard + cache: a live entry is served
    * from the cache; a miss (or expired entry) re-executes and
    * re-caches with a fresh TTL. */
  def sqlCached(spark: SparkSession, query: String, ttlMillis: Long,
      now: () => Long = () => System.currentTimeMillis()): DataFrame = {
    require(isAllowed(query), "Only SELECT queries are allowed")
    val k = key(spark, query)
    def entry = entries.getOrBuild(k) {
      val df = spark.sql(query)
      val deadline = now() + ttlMillis
      ResidentTable.page(df) match {
        case Some(rows) => rowEntry(df, rows, deadline)
        case None => df.queryExecution.optimizedPlan.maxRows match {
          case Some(n) if n <= MaxRowEntryRows => rowEntry(df, collectUnsafe(df), deadline)
          case _ =>
            // a fresh frame: `df` has optimized without the cache, so its
            // own plan would never read the persisted relation
            Entry(ColumnShim.ofRows(spark, ColumnShim.logicalPlan(df)).persist(),
              deadline, None)
        }
      }
    }
    val e = entry
    if (now() < e.deadlineMillis) e.df else { evict(k, e); entry.df }
  }

  /** `df`'s rows, collected by Spark, as `UnsafeRow`s. */
  private def collectUnsafe(df: DataFrame): Seq[UnsafeRow] = {
    lazy val toUnsafe = UnsafeProjection.create(df.schema)
    Resident.collectRows(df).map {
      case u: UnsafeRow => u
      case r => toUnsafe(r).copy()
    }
  }

  /** A row entry: `rows`, the result of `df`, as a LocalRelation
    * frame. */
  private def rowEntry(df: DataFrame, rows: Seq[UnsafeRow], deadline: Long): Entry = {
    val frame = Resident.internalFrame(df.sparkSession,
      df.queryExecution.analyzed.output.map(_.newInstance()), rows)
    // charged twice: the frame's pre-planned LocalTableScan keeps its
    // own copy of the rows, made on its first execution
    Entry(frame, deadline, Some(2 * rows.iterator.map(_.getSizeInBytes.toLong).sum))
  }

  /** Live entry for `query`, or None — an expired entry is
    * evicted on the way out (lazy TTL eviction). Not counted in
    * [[stats]]. */
  def lookup(spark: SparkSession, query: String,
      now: () => Long = () => System.currentTimeMillis()): Option[DataFrame] = {
    val k = key(spark, query)
    entries.peek(k).flatMap { e =>
      if (now() < e.deadlineMillis) Some(e.df)
      else { evict(k, e); None }
    }
  }

  def evictAll(): Unit = entries.clear().foreach(unpersist)

  /** Bytes the row entries are charged in total — for specs. */
  private[graft] def rowBytesHeld: Long = entries.stats.weight

  /** The cache's counters: `hits` and `misses` count [[sqlCached]]
    * calls, `weight` is [[rowBytesHeld]]. How misses were
    * answered is in [[ResidentTable.pagesServed]] and
    * [[ResidentTable.fallbacks]]. */
  def stats: Memo.Stats = entries.stats

  private def evict(k: String, e: Entry): Unit =
    // conditional remove: only drop the exact entry we decided to
    // evict — a fresh entry raced in under the same key must survive
    // (and keep its persisted frame or its rows)
    if (entries.remove(k, e)) unpersist(e)

  private def unpersist(e: Entry): Unit =
    if (e.rowBytes.isEmpty) e.df.unpersist(blocking = false)
}
