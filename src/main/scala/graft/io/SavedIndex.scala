package graft.io

import org.apache.spark.sql.DataFrame

/** Single-flight, staleness-checked memo for build-once-serve-many
  * saved indexes — the shared machinery behind
  * [[graft.text.Bm25.ensureSavedIndex]],
  * [[graft.vector.Ivf.ensureSavedIndex]], and
  * [[graft.dedup.Dedup.ensureSavedSignatureIndex]]. The reference's
  * analog is the persistent ChromaDB collection
  * (`/root/reference/Chunking_Strats/chromadb_rag.py:96-107`), which
  * likewise builds once and serves many queries.
  *
  * STALENESS CONTRACT: the memo records the corpus fingerprint
  * ([[Fingerprint.of]] — row count + order-free content-md5 rollup)
  * at build time. A later call whose corpus fingerprints differently
  * REBUILDS into a fresh directory; NEW serves can only reach the
  * fresh path. The superseded directory is deliberately NOT deleted
  * at swap time: `loadIndex`-style callers hold LAZY DataFrames over
  * the old path (unexecuted parquet reads), and deleting under an
  * in-flight serve would turn an upsert race into a
  * FileNotFoundException. Instead it is PARKED for one rebuild
  * cycle — the next rebuild of the same key reclaims it — so
  * retention is bounded at current + 1 directories per key even for
  * a streaming upserter that rebuilds every micro-batch, while a
  * lazy serve stays valid across the one corpus version bump it can
  * legitimately straddle (a serve still lazy across TWO bumps is
  * reading torn state by definition). Whatever is still parked at
  * exit falls to the [[TempDirs]] hook. The fingerprint also lands
  * beside the index (`_FINGERPRINT`, [[Fingerprint.write]]) so a
  * later JVM or a human can audit which corpus built it.
  *
  * SERVE-COST POLICY: the default check is a [[Fingerprint.of]] scan
  * of the offered corpus on EVERY serve — orders cheaper than the
  * rebuild it guards, but still O(corpus) per call, which at the
  * 100 TB target is the wrong place to spend a scan per query batch.
  * Callers that track corpus versions pass an `epoch` token instead:
  * when the offered epoch equals the recorded one the serve is O(1)
  * (no scan, no job). The token is the CALLER'S promise — a caller
  * that reuses an epoch across a corpus edit is served the old index
  * by design, exactly like a versioned table read. A changed (or
  * absent) epoch falls back to the content scan, so the content
  * fingerprint stays the ground truth at every epoch boundary.
  */
final class SavedIndex(prefix: String) {

  private final case class Entry(path: String, fp: String,
      epoch: Option[String])

  private val memo = scala.collection.concurrent.TrieMap.empty[String, Entry]

  /** One superseded index dir per key, retained for exactly one
    * rebuild cycle (see the reclamation note in [[ensure]]). */
  private val parked = scala.collection.concurrent.TrieMap.empty[String, String]

  /** Path of the up-to-date index for `key`, building via `build`
    * (which receives the destination directory) when absent or stale.
    * The build runs single-flight: the hit paths are lock-free, and
    * two concurrent first callers can never both pay the corpus pass.
    *
    * `corpus` is BY-NAME: the O(1) epoch-hit path never evaluates it,
    * so a caller whose corpus CONSTRUCTION is itself a Spark job
    * ([[graft.pipeline.RagPipeline.ensureIndexedServe]] collects its
    * store to driver rows to build the corpus) pays nothing on a serve
    * — the lazy-DataFrame callers are unaffected. */
  def ensure(key: String, corpus: => DataFrame,
      epoch: Option[String] = None)(build: String => Unit): String = {
    memo.get(key) match {
      // O(1) epoch hit: the caller vouches the corpus is unchanged
      case Some(e) if epoch.isDefined && e.epoch == epoch => e.path
      case _ =>
        val fp = Fingerprint.of(corpus)
        memo.get(key) match {
          case Some(e) if e.fp == fp =>
            // content unchanged: adopt the caller's (new) epoch token
            // so the next same-epoch serve takes the O(1) path. CAS,
            // not put: a concurrent rebuild may have replaced the
            // entry since our get, and a blind put would resurrect
            // the superseded entry over the fresh one. On CAS failure
            // e.path is still a correct serve (its content matches
            // the corpus this caller offered, and a superseded dir
            // survives one rebuild cycle); only the token adoption
            // is lost.
            if (epoch.isDefined && e.epoch != epoch)
              memo.replace(key, e, e.copy(epoch = epoch))
            e.path
          case _ => memo.synchronized {
            memo.get(key) match {
              case Some(e) if e.fp == fp => e.path
              case prev =>
                val p = TempDirs.create(prefix)
                build(p)
                Fingerprint.write(p, fp)
                memo.put(key, Entry(p, fp, epoch))
                // The superseded index is unreachable for NEW serves,
                // but an in-flight caller may still hold a lazy read
                // over it — PARK it for one rebuild cycle instead of
                // deleting under that reader. The previously parked
                // dir (superseded two versions ago) is reclaimed NOW:
                // retention is bounded at current + 1 per key, so a
                // caller whose epoch moves on every build holds two
                // index copies, not one per build.
                prev.foreach { old =>
                  parked.put(key, old.path).foreach(TempDirs.reclaim)
                }
                p
            }
          }
        }
    }
  }
}
