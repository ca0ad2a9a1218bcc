package graft.io

import scala.jdk.CollectionConverters._

/** The engine's one driver-side memo: a thread-safe LRU in access
  * order, bounded by the total WEIGHT of what it holds (`weigh`, 1 per
  * value by default, so `capacity` is then an entry count).
  *
  *  - [[getOrBuild]] is single-flight per key: concurrent misses of one
  *    key run one build (a miss is re-checked under the key's gate),
  *    while distinct keys never wait on each other's build.
  *  - A hit whose value fails `valid` is dropped and counts as a miss.
  *  - A put that takes the total over `capacity` evicts the least
  *    recently used values until it fits; a value that weighs 0 is
  *    never evicted by the bound, and a value heavier than the whole
  *    capacity is returned unretained. Both are logged.
  *  - With `release` set, a value that leaves the memo (evicted,
  *    invalid, replaced or removed) is RETIRED, not released — a caller
  *    may still hold it — and every retired and held value is released
  *    at [[clear]]. Without it, such values are simply dropped.
  *
  * `build`, `weigh`, `valid` and `release` run outside the memo's
  * lock. The memo registers with nothing: an owner whose values must
  * not outlive a batch boundary calls [[clear]] from its
  * [[Caches.registerOnClear]] hook. */
final class Memo[K, V <: AnyRef](name: String, capacity: Long,
    weigh: V => Long = (_: V) => 1L,
    valid: V => Boolean = (_: V) => true,
    release: Option[V => Unit] = None) {

  private final class Held(val value: V, val weight: Long)

  /** Held values in access order (least recent first), the retired
    * ones and the counters; all guarded by `entries`' lock. */
  private val entries = new java.util.LinkedHashMap[K, Held](16, 0.75f, true)
  private val retired = scala.collection.mutable.ArrayBuffer.empty[V]
  private var weight, hits, misses, builds, evictions = 0L

  /** One gate per key whose build is in flight. */
  private val gates = new java.util.concurrent.ConcurrentHashMap[K, AnyRef]()

  private val log = org.apache.log4j.Logger.getLogger("graft.Memo")

  /** The held value of `k` if it is valid (a hit, which refreshes its
    * recency); otherwise None (a miss, and an invalid value leaves). */
  def get(k: K): Option[V] = lookup(k, count = true)

  /** [[get]], uncounted: a look that is neither a hit nor a miss. */
  def peek(k: K): Option[V] = lookup(k, count = false)

  /** The value of `k`: held, or built once however many callers miss
    * it together. A caller that finds it built under the gate counts
    * its miss only. */
  def getOrBuild(k: K)(build: => V): V = get(k).getOrElse {
    val gate = gates.computeIfAbsent(k, _ => new AnyRef)
    try gate.synchronized {
      lookup(k, count = false).getOrElse {
        val v = build
        entries.synchronized(builds += 1)
        put(k, v)
        v
      }
    } finally gates.remove(k, gate)
  }

  private def lookup(k: K, count: Boolean): Option[V] = {
    val h = entries.synchronized(Option(entries.get(k)))
    val ok = h.exists(e => valid(e.value))
    entries.synchronized {
      if (count) { if (ok) hits += 1 else misses += 1 }
      if (!ok) {
        h.foreach { e =>
          if (entries.remove(k, e)) {
            leave(e)
            log.info(s"$name: dropped an invalid entry; it is rebuilt on demand")
          }
        }
      }
    }
    if (ok) h.map(_.value) else None
  }

  private def put(k: K, v: V): Unit = {
    val w = weigh(v)
    if (w > capacity)
      log.warn(s"$name: a value of weight $w is over the whole capacity " +
        s"$capacity; returned unretained")
    else entries.synchronized {
      Option(entries.put(k, new Held(v, w))).foreach(leave)
      weight += w
      // least recent first; the value just put is last, and fits alone
      val it = entries.values.iterator
      while (weight > capacity) {
        val e = it.next()
        if (e.weight > 0) {
          it.remove()
          leave(e)
          evictions += 1
          log.info(s"$name: evicted a value of weight ${e.weight} " +
            s"to stay within $capacity")
        }
      }
    }
  }

  /** The first held value that satisfies `p` (a cheap test: it runs
    * under the memo's lock), refreshing its recency. Counted as a hit
    * or a miss; `valid` is not consulted. */
  def find(p: V => Boolean): Option[V] = entries.synchronized {
    val found = entries.entrySet.asScala.find(e => p(e.getValue.value)).map(_.getKey)
    if (found.isDefined) hits += 1 else misses += 1
    found.map(entries.get(_).value)
  }

  /** Remove `k` if it holds exactly `v`; true if it did. */
  def remove(k: K, v: V): Boolean = entries.synchronized {
    val e = entries.get(k)
    (e != null && (e.value eq v)) && { entries.remove(k); leave(e); true }
  }

  /** Empty the memo and return the values it held; with `release` set,
    * those and every retired value are released. */
  def clear(): Seq[V] = {
    val (held, gone) = entries.synchronized {
      val held = entries.values.asScala.map(_.value).toList
      entries.clear()
      weight = 0
      val gone = retired.toList
      retired.clear()
      (held, gone)
    }
    release.foreach(r => (held ++ gone).foreach(r))
    held
  }

  /** Under `entries`' lock: `e` has left the map. */
  private def leave(e: Held): Unit = {
    weight -= e.weight
    if (release.isDefined) retired += e.value
  }

  def stats: Memo.Stats = entries.synchronized {
    Memo.Stats(hits, misses, builds, evictions, weight, entries.size, retired.size)
  }
}

object Memo {

  /** A consistent snapshot of a memo's counters: lookups answered
    * (`hits`) and not (`misses`), builds run, values evicted by the
    * bound, and the weight, entries and retired values held now. */
  final case class Stats(hits: Long, misses: Long, builds: Long,
      evictions: Long, weight: Long, size: Int, retired: Int)
}
