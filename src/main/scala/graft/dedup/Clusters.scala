package graft.dedup

import org.apache.spark.sql.{DataFrame, functions => F}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Near-duplicate RESOLUTION: candidate pairs → connected components
  * → one canonical document per duplicate cluster.
  *
  * The candidate generators ([[Dedup.minhashCandidates]],
  * [[Dedup.simhashCandidates]], the LSH paths) emit PAIRS; a training
  * pipeline must turn pairs into clusters and a keep/drop decision —
  * transitively: if a~b and b~c, all three are one duplicate group
  * even when (a,c) never collided in a band.
  *
  * Components via iterative min-label propagation WITH pointer
  * jumping: each round every node adopts the minimum label among
  * itself and its neighbors (equi-join + groupBy-min), then
  * additionally its label's label (a second self-join) — the
  * shortcut halves label-chain lengths, so rounds are O(log
  * diameter) even on pathological path-shaped dup graphs, not
  * O(diameter). Each round is plain shuffle work that AQE sizes like
  * any aggregation. Driver state per round is ONE boolean (did any
  * label change); each round's labels are localCheckpoint'ed to
  * truncate lineage — without that the plan tree doubles per
  * iteration. On a cluster, set [[Clusters.CheckpointDirConf]] to a
  * reliable directory and every round checkpoints durably instead —
  * the algorithm is unchanged.
  *
  * Labels are minima of doc ids — deterministic for any partition
  * layout, so the operator stays byte-stable across machines.
  */
object Clusters {

  /** Set this conf to a reliable (HDFS / object-store) path to make
    * each propagation round land durably instead of executor-locally —
    * the cluster-grade toggle for long runs where executor loss would
    * otherwise kill the truncated lineage. Superseded rounds are
    * deleted as they are replaced; one final tiny (node, comp)
    * parquet per call remains under `<dir>/cc-<uuid>` because it
    * backs the returned frame. Unset (the default) keeps
    * `localCheckpoint`: right for local[] and short-lived jobs, and
    * the algorithm is identical either way. */
  val CheckpointDirConf = "spark.graft.clusters.checkpointDir"

  /** Per-round lineage truncation state for one connectedComponents
    * call in reliable mode: a unique subdir under the configured
    * checkpoint root, plus the previous round's path so superseded
    * copies are deleted as soon as the next round lands (Spark's
    * `Dataset.checkpoint` would leave every round's files behind —
    * reliable checkpoints are only cleaned under an opt-in cleaner
    * conf). Only the FINAL round's tiny (node, comp) parquet remains:
    * it backs the returned frame, so it must outlive the call; the
    * caller owns the configured directory's lifecycle. */
  private final class Truncator(spark: org.apache.spark.sql.SparkSession) {
    private val root = spark.conf.get(CheckpointDirConf, "")
    private val runDir =
      if (root.isEmpty) "" else s"$root/cc-${java.util.UUID.randomUUID()}"
    private var round = 0
    private var lastPath = ""

    /** The run dir a returned frame keeps reading after the call
      * (reliable mode only) — recorded in the memo entry so release
      * can reclaim it. */
    def retainedDir: Option[String] =
      if (root.isEmpty) None else Some(runDir)

    /** The round path the last returned frame reads (reliable mode
      * only) — recorded in the memo entry so a hit can validate it. */
    def readPath: Option[String] =
      if (root.isEmpty) None else Some(lastPath)

    def apply(df: DataFrame): DataFrame =
      if (root.isEmpty) df.localCheckpoint()
      else {
        val path = s"$runDir/labels-$round"
        lastPath = path
        if (round == 0)
          // surface the retained path: the final round's parquet backs
          // the returned frame, so this dir outlives the call — the
          // operator of a long-lived job cleans consumed run dirs
          org.apache.log4j.Logger.getLogger("graft.Clusters").info(
            s"reliable checkpoint run dir: $runDir " +
              "(final labels parquet remains after the call; delete when consumed)")
        df.write.mode("overwrite").parquet(path)
        if (round > 0) delete(s"$runDir/labels-${round - 1}")
        round += 1
        spark.read.parquet(path)
      }

    private def delete(path: String): Unit = {
      val p = new org.apache.hadoop.fs.Path(path)
      p.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .delete(p, true)
    }
  }

  /** `pairs` must have two id columns (`doc_a`, `doc_b`). Returns
    * (node, comp): every doc that appears in some pair, labeled with
    * the smallest doc id reachable from it. Docs in no pair are
    * singletons — absent here by construction; callers join back to
    * the corpus (see [[canonicalize]]).
    *
    * Size-adaptive, like a broadcast-join threshold: candidate-pair
    * graphs are tiny relative to the corpus (pairs exist only where
    * near-dups exist), so up to `smallGraphThreshold` pairs the
    * components come from ONE bounded collect + driver union-find —
    * replacing O(log diameter) shuffle rounds with a single job.
    * Above the threshold the distributed propagation loop runs; both
    * paths converge to the same min-label fixpoint, so the choice is
    * invisible in the output (and the oracle hash). */
  /** One resolved component map plus what backs it: for the
    * reliable-checkpoint path, `retainedDir` (the run dir, reclaimed on
    * release) and `readPath` (the round parquet under it that the frame
    * reads); nothing extra for the small path (LocalRelation — driver
    * rows) or the localCheckpoint path (backing RDDs are discoverable
    * in the frame's own plan). */
  private final case class CompEntry(df: DataFrame,
      retainedDir: Option[String], readPath: Option[String])

  /** Checkpoint-backed RDDs inside a returned frame's plan (empty
    * for the LocalRelation small path). */
  private def backingRdds(df: DataFrame) =
    df.queryExecution.analyzed.collect {
      case l: org.apache.spark.sql.execution.LogicalRDD => l.rdd
    }

  /** Best-effort release of an entry's physical backing: unpersist
    * localCheckpoint blocks, delete the retained reliable-checkpoint
    * run dir. After release the frame is UNUSABLE (lineage was
    * truncated), which is why release only runs in [[clearMemo]] /
    * clearAll — batch boundaries where no consumer may hold the frame. */
  private def releaseEntry(e: CompEntry): Unit = {
    try backingRdds(e.df).foreach(_.unpersist(blocking = false))
    catch { case _: Throwable => () }
    e.retainedDir.foreach { dir =>
      try {
        val p = new org.apache.hadoop.fs.Path(dir)
        p.getFileSystem(
          e.df.sparkSession.sparkContext.hadoopConfiguration).delete(p, true)
      } catch { case _: Throwable => () }
    }
  }

  /** Memo-hit validation (r20 advice, medium): the backing has a
    * weaker lifetime than the memo — an operator may delete the
    * retained checkpoint dir (its own log message invites exactly
    * that), and localCheckpoint blocks can be unpersisted or lost.
    * A hit over dead backing would fail the query instead of
    * recomputing, so verify cheaply (no Spark job: FS existence
    * probes of the round path the frame reads and of the files its
    * plan lists, or storage-level reads) and rebuild on failure. The
    * run dir alone is not enough: a deleted round subdir or part file
    * under a live run dir still fails the read. */
  private def entryValid(e: CompEntry): Boolean = {
    val sc = e.df.sparkSession.sparkContext
    if (sc.isStopped) false
    else e.readPath match {
      case Some(path) =>
        try {
          val fs = new org.apache.hadoop.fs.Path(path)
            .getFileSystem(sc.hadoopConfiguration)
          (path +: e.df.inputFiles.toSeq)
            .forall(f => fs.exists(new org.apache.hadoop.fs.Path(f)))
        } catch { case _: Throwable => false }
      case None =>
        backingRdds(e.df).forall(
          _.getStorageLevel != org.apache.spark.storage.StorageLevel.NONE)
    }
  }

  /** Epoch-keyed memo over [[connectedComponents]], in the engine's
    * one [[graft.io.Memo]] (16 entries, single-flight, hits checked by
    * [[entryValid]]): a production dedup pipeline materializes the
    * component map once per corpus version and serves every downstream
    * decision (canonical keeper, leak-proof split, corpus filter) from
    * it. `pairs` is BY-NAME: a memo hit never constructs the candidate
    * frame at all. Keyed on (session uuid — the returned frame is
    * session-bound —, cacheKey, epoch). An entry that leaves the memo —
    * evicted, invalid or overwritten — is RETIRED, not released: a
    * caller may still hold its frame, so its backing is released at
    * the next [[clearMemo]]. `epoch = None` resolves unconditionally
    * ([[graft.io.SavedIndex]]'s vouching contract).
    *
    * Registered with [[graft.io.Caches.clearAll]]: `graft.Verify`
    * clears all caches between catalog rows so every row does its
    * declared work — a memo surviving that clear would make the five
    * signature-index consumer rows a cached-map read instead of the
    * candidate self-join + union-find they declare. The memo shares
    * the clearAll lifecycle: it dedupes resolution between batch
    * boundaries (within one Verify row, or a long-lived consumer's
    * batch), never across them. */
  private val componentMemo = new graft.io.Memo[(String, String, String), CompEntry](
    "Clusters.ensureComponents", 16, valid = entryValid, release = Some(releaseEntry))

  graft.io.Caches.registerOnClear(() => clearMemo())

  /** Release the backing of every memoized and retired map and empty
    * the memo — the [[graft.io.Caches.clearAll]] hook (also what specs
    * call). */
  private[graft] def clearMemo(): Unit = componentMemo.clear()

  /** Retired entries awaiting release — for specs. */
  private[graft] def retiredCount: Int = componentMemo.stats.retired

  /** Live memo entries — the bound/lifecycle assertion for specs. */
  private[graft] def memoSize: Int = componentMemo.stats.size

  def ensureComponents(spark: org.apache.spark.sql.SparkSession,
      cacheKey: String, epoch: Option[String],
      smallGraphThreshold: Long = 1L << 18)(pairs: => DataFrame)
      : DataFrame = epoch match {
    case None =>
      connectedComponents(pairs, smallGraphThreshold = smallGraphThreshold)
    case Some(e) =>
      componentMemo.getOrBuild((graft.io.Sessions.uuid(spark), cacheKey, e))(
        componentsEntry(pairs, smallGraphThreshold = smallGraphThreshold)).df
  }

  def connectedComponents(pairs: DataFrame, maxIter: Int = 40,
      smallGraphThreshold: Long = 1L << 18): DataFrame =
    componentsEntry(pairs, maxIter, smallGraphThreshold).df

  private def componentsEntry(pairs: DataFrame, maxIter: Int = 40,
      smallGraphThreshold: Long = 1L << 18): CompEntry = {
    // both union branches and every iteration read the pairs; without
    // this persist the candidate GENERATOR (minhash/simhash pipeline)
    // executes once per branch. MEMORY_AND_DISK: candidate volume is
    // bounded by near-dup cluster sizes, and it spills, not OOMs.
    val p = pairs.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    if (p.count() <= smallGraphThreshold)
      return CompEntry(driverUnionFind(p), None, None)
    val edges = p.select(col("doc_a").as("a"), col("doc_b").as("b"))
      .unionByName(p.select(col("doc_b").as("a"), col("doc_a").as("b")))
      .distinct()
      .persist()
    val truncate = new Truncator(pairs.sparkSession)
    var labels = truncate(edges.select(col("a").as("node")).distinct()
      .withColumn("comp", col("node")))
    var iter = 0
    var converged = false
    while (iter < maxIter && !converged) {
      val nbrMin = edges.join(labels, edges("b") === labels("node"))
        .groupBy(col("a")).agg(F.min(col("comp")).as("nbr_comp"))
      val stepped = labels.join(nbrMin, labels("node") === nbrMin("a"), "left")
        .select(col("node"), col("comp"),
          least(col("comp"), coalesce(col("nbr_comp"), col("comp"))).as("comp1"))
      // pointer jumping: also adopt your LABEL's label. A label is the
      // min id seen so far — itself a node of the same component — so
      // the shortcut stays inside the component while halving label-
      // chain lengths: rounds become O(log diameter), which is what
      // saves a pathological path-shaped dup graph (neighbor
      // propagation alone needs diameter rounds).
      val jumped = truncate(stepped.as("l")
        .join(stepped.select(col("node").as("pnode"), col("comp1").as("pcomp")).as("p"),
          col("l.comp1") === col("p.pnode"), "left")
        .select(col("l.node").as("node"), col("l.comp").as("comp"),
          least(col("l.comp1"), coalesce(col("pcomp"), col("l.comp1"))).as("comp2")))
      converged = jumped.filter(col("comp2") < col("comp")).isEmpty
      labels = jumped.select(col("node"), col("comp2").as("comp"))
      iter += 1
    }
    p.unpersist()
    edges.unpersist()
    // with pointer jumping, label-chain depth halves per round, so 40
    // rounds cover any graph this side of 2^40 nodes — hitting the cap
    // means something is wrong; wrong clusters must not leave silently
    if (!converged)
      throw new IllegalStateException(
        s"connectedComponents did not converge in $maxIter rounds")
    CompEntry(labels, truncate.retainedDir, truncate.readPath)
  }

  /** Union-find with path compression over a collected pair list,
    * bounded by [[connectedComponents]]'s threshold: ≤2^18 pairs.
    * The real driver footprint is JVM rows + boxed hash-map entries,
    * roughly 100–300 bytes/pair — tens of MB at the cap, NOT the raw
    * 16 bytes/pair — which is why the threshold stops at 2^18.
    * Roots are resolved to each component's minimum member, so the
    * labels are identical to the distributed fixpoint and independent
    * of edge order. */
  private def driverUnionFind(pairs: DataFrame): DataFrame = {
    val spark = pairs.sparkSession
    import spark.implicits._
    val es = pairs.select(col("doc_a").cast("long"), col("doc_b").cast("long"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    pairs.unpersist()
    val parent = scala.collection.mutable.HashMap.empty[Long, Long]
    def find(x: Long): Long = {
      var r = x
      while (parent.getOrElse(r, r) != r) r = parent.getOrElse(r, r)
      var c = x
      while (parent.getOrElse(c, c) != r) { val nxt = parent(c); parent(c) = r; c = nxt }
      r
    }
    es.foreach { case (a, b) =>
      parent.getOrElseUpdate(a, a); parent.getOrElseUpdate(b, b)
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(if (ra < rb) rb else ra) = math.min(ra, rb)
    }
    val minOfRoot = scala.collection.mutable.HashMap.empty[Long, Long]
    parent.keys.foreach { n =>
      val r = find(n)
      minOfRoot.updateWith(r)(m => Some(math.min(m.getOrElse(n), n)))
    }
    parent.keys.toSeq.sorted
      .map(n => (n, minOfRoot(find(n))))
      .toDF("node", "comp")
  }

  /** Cluster the corpus by `pairs` and pick one canonical doc per
    * cluster: longest text wins, smallest doc_id breaks ties (the
    * usual "keep the best copy" rule — quality first, stable second).
    * Emits every doc of every multi-doc cluster with its cluster id,
    * size, and the keep flag. */
  def canonicalize(docs: DataFrame, pairs: DataFrame): DataFrame =
    canonicalizeComp(docs, connectedComponents(pairs))

  /** [[canonicalize]] over an already-resolved component map — what
    * epoch-memoized callers ([[ensureComponents]]) compose with. */
  def canonicalizeComp(docs: DataFrame, comp: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("cluster_id"))
    val rank = Window.partitionBy(col("cluster_id"))
      .orderBy(desc("n_chars"), col("doc_id"))
    docs.join(comp, docs("doc_id") === comp("node")) // inner: clustered docs only
      .select(docs("doc_id"), col("comp").as("cluster_id"), docs("n_chars"))
      .withColumn("cluster_size", count(lit(1)).over(w).cast("int"))
      .withColumn("is_canonical", row_number().over(rank) === 1)
  }
}
