package graft.dedup

import graft.io.Caches.TrackedPersistOps
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** SemDeDup — semantic deduplication via embedding clustering
  * (Abbas et al. 2023, "SemDeDup: Data-efficient learning at
  * web-scale through semantic deduplication", arXiv:2303.09540):
  * k-means the corpus embeddings into cells, compare pairs ONLY
  * within a cell, call a pair semantic duplicates above a cosine
  * threshold ε, and keep one representative per duplicate group.
  * Documents whose wording differs but whose meaning coincides —
  * invisible to MinHash/SimHash/suffix dedup — collapse here; the
  * reference's RAG corpus dedups at ingest by exact id only
  * (`airflow_dag.py` upsert), so this is a pure engine extension on
  * the LLM-training-data axis.
  *
  * Spark-first decomposition, every stage already audited at scale:
  *
  *  1. Cells come from [[graft.vector.Ivf.boundedIndex]] — the
  *     distributed bounded-rounds k-means over the int8 lattice whose
  *     exact-integer centroid sums DuckDB replays round for round.
  *  2. Intra-cell pairs route through [[Banded.candidatePairs]] (the
  *     one audited banded self-join: shared exchange, SHUFFLE_HASH
  *     pin) with `cell` as the band key — the paper's design point:
  *     pairwise cost is per-cell, never corpus²; cross-cell
  *     duplicates are the documented miss the cell count trades away.
  *  3. The ε threshold is an EXACT INTEGER predicate on the quantized
  *     lattice: for ε = √(num/den), `cos(a,b) ≥ ε` over int8 vectors
  *     becomes `dot > 0 && den·dot² ≥ num·‖a‖²·‖b‖²` — no float
  *     accumulation, no rounding discipline, bit-replayable anywhere.
  *     (Bounds: |dot| ≤ 127²·64 < 2²⁰, so den·dot² < 2⁴⁹ — long-safe.)
  *  4. Groups close transitively through
  *     [[Clusters.connectedComponents]]; the keeper is the smallest
  *     vec_id (the engine's canonicalization discipline — the paper
  *     keeps the lowest-centroid-similarity member; the rule is a
  *     per-group argmin either way, swap the ordering to taste).
  *
  * 100 TB shape: one fit (rounds+1 scans, nCells·dim driver state),
  * one cell-keyed exchange for the pair join (cell sizes bounded by
  * nCells scaling with corpus, per the paper), pair volume bounded by
  * cell occupancy, component state bounded by duplicate volume.
  *
  * Duplicate-CLIQUE caveat (r15, measured): a TRUE near-dup cluster
  * of m members emits Θ(m²) verified pairs in ANY pair-emitting
  * near-dup design — that is the semantics, not a plan defect (the
  * pairs exist; star-edges to a bucket leader would silently
  * under-merge whenever the leader fails ε against a member that
  * another member passes). The r15 factor-100 probe manufactured
  * exactly this: ±1%-noised tile replicas sat at cosine ≈ 0.9999,
  * creating 100-member true cliques and a 726× wall — fixed in the
  * TILER (per-replica dimension rotation in the probe's tiler), because
  * the fixture was measuring the data's clique structure, not the
  * plan. On a real corpus the production mitigations are upstream
  * and orthogonal: exact-dedup first (collapses the worst cliques —
  * dedup/Dedup.exactDupGroups), then nCells ∝ corpus per the paper.
  */
object SemDedup {

  /** ε² as an exact rational, `EpsNum / EpsDen` = 361/400, i.e.
    * ε = 0.95 — the paper's ballpark for web data. */
  val EpsNum = 361L
  val EpsDen = 400L

  /** The inline fit's geometry: k-means cells and bounded rounds. */
  val Cells = 8
  val Rounds = 2

  /** Per-vector dedup decision over `emb` (`vec_id`, `embedding`):
    * `(vec_id, cell, cluster_id, cluster_size, keep)` — `cluster_id`
    * the smallest vec_id in the vector's duplicate group (itself when
    * unduplicated), `keep` 1 on exactly one row per group. */
  def semanticDedup(emb: DataFrame): DataFrame = {
    val (assigned, _) =
      graft.vector.Ivf.boundedIndex(emb, nCells = Cells, rounds = Rounds)
    semanticDedupAssigned(assigned)
  }

  /** [[semanticDedup]]'s decision stage over a PRE-ASSIGNED corpus
    * (`vec_id`, `qv`, `cell` — e.g. a loaded
    * [[graft.vector.Ivf.ensureSavedBoundedIndex]]): the fit is the
    * build-once half of the pipeline, the ε-pairing the serve-many
    * half, and at 100 TB a dedup service refits per corpus VERSION,
    * not per call — this seam is where the epoch'd saved index plugs
    * in. Bit-identical to the inline path (qv ints and cell ids
    * round-trip parquet losslessly).
    *
    * `compKey`: optional (cacheKey, corpus epoch) voucher — with it,
    * the ε-pair self-join + transitive closure resolve ONCE per
    * corpus version ([[Clusters.ensureComponents]], r20) and every
    * later call reuses the component map; the per-call work drops to
    * the assignment read + the keeper join. Values are unchanged:
    * the closure is a deterministic min-label fixpoint over a
    * deterministic pair set. */
  def semanticDedupAssigned(assigned: DataFrame,
      compKey: Option[(String, Option[String])] = None): DataFrame = {
    val dq = graft.vector.Quantize.dotQ _
    // norms are per-VECTOR (n rows), never per-pair (n²/cells rows):
    // computed once here and carried through the banded join. The
    // persist bridges the three consumers (both sides of the pair
    // join via the shared exchange, and the output's cell column) —
    // without it the scan→quantize→assign chain re-executes per
    // action (tracked: graft.io.Caches lifecycle)
    val keyed = assigned
      .select(col("vec_id").as("doc_id"), col("cell"), col("qv"),
        dq(col("qv"), col("qv")).as("nn"))
      .persistTracked("semdedup.keyed")
    val pairs = Banded
      .candidatePairs(keyed, Seq("cell"), carry = Seq("qv", "nn"))
      .withColumn("dot", dq(col("a_qv"), col("b_qv")))
      .filter(col("dot") > 0 &&
        col("dot") * col("dot") * lit(EpsDen) >=
          lit(EpsNum) * col("a_nn") * col("b_nn"))
      .select(col("doc_a"), col("doc_b"))
    val comp = compKey match {
      case Some((k, e)) =>
        Clusters.ensureComponents(assigned.sparkSession, k, e)(pairs)
      case None => Clusters.connectedComponents(pairs)
    }
    val w = Window.partitionBy(col("cluster_id"))
    val base = keyed.select(col("doc_id").as("vec_id"), col("cell"))
    base
      .join(comp, base("vec_id") === comp("node"), "left")
      .select(col("vec_id"), col("cell"),
        coalesce(col("comp"), col("vec_id")).as("cluster_id"))
      .withColumn("cluster_size", count(lit(1)).over(w).cast("int"))
      .withColumn("keep", (col("vec_id") === col("cluster_id")).cast("int"))
  }

  /** INCREMENTAL SemDeDup — the continuous-ingest operating mode the
    * batch form cannot serve at 100 TB (refitting and re-pairing the
    * whole corpus per delta): the k-means fits on HISTORY only, the
    * incoming batch assigns to those frozen centroids map-side, and a
    * batch vector is a duplicate iff ε-close to a same-cell HISTORY
    * vector (smallest id wins) or, failing that, to an EARLIER
    * same-cell batch vector — [[graft.dedup.Dedup]]'s delta-ingest
    * first-wins discipline lifted from exact fingerprints to the
    * ε-neighborhood (no transitive closure: an incremental stream
    * resolves against what is already admitted, the same rule
    * q_dedup_incremental pins).
    *
    * 100 TB shape: the batch BROADCASTS (deltas are small); history
    * streams past it cell-by-cell — the corpus is never reshuffled,
    * never refit, and only same-cell (history, batch) pairs are
    * scored. Returns one row per batch vector:
    * `(vec_id, cell, dup_of, keep)` — `dup_of` −1 when fresh. */
  def semanticDedupIncremental(history: DataFrame, batch: DataFrame): DataFrame = {
    val (histAssigned, cents) =
      graft.vector.Ivf.boundedIndex(history, nCells = Cells, rounds = Rounds)
    semanticDedupIncrementalAssigned(histAssigned, cents, batch)
  }

  /** [[semanticDedupIncremental]] over a PRE-ASSIGNED history — the
    * form a continuous-ingest service actually runs: the frozen fit
    * is a loaded saved index (assignments + centroids from disk,
    * epoch-vouched), so admitting a delta batch costs ZERO fit scans
    * of history. Bit-identical to the inline path (doubles round-trip
    * parquet losslessly, so batch cell assignment against loaded
    * centroids matches the in-memory fit). */
  def semanticDedupIncrementalAssigned(histAssigned: DataFrame,
      cents: Array[Array[Double]], batch: DataFrame): DataFrame = {
    val dq = graft.vector.Quantize.dotQ _
    def close(dot: org.apache.spark.sql.Column,
        na: org.apache.spark.sql.Column,
        nb: org.apache.spark.sql.Column) =
      dot > 0 && dot * dot * lit(EpsDen) >= lit(EpsNum) * na * nb
    val hist = histAssigned.select(col("vec_id").as("hist_id"),
      col("cell"), col("qv").as("hqv"), dq(col("qv"), col("qv")).as("hnn"))
    val b = batch
      .withColumn("bqv", graft.vector.Quantize.int8(col("embedding")))
      .select(col("vec_id"), col("bqv"),
        graft.vector.FloatVecExpr.nearestCellF(col("bqv"), cents).as("cell"),
        dq(col("bqv"), col("bqv")).as("bnn"))
      .persistTracked("semdedup.batch")
    val vsHist = hist.join(broadcast(b), Seq("cell"))
      .filter(close(dq(col("hqv"), col("bqv")), col("hnn"), col("bnn")))
      .groupBy(col("vec_id")).agg(min(col("hist_id")).as("dup_of_hist"))
    val intra = b.as("x").join(b.as("y"),
        col("x.cell") === col("y.cell") && col("x.vec_id") < col("y.vec_id"))
      .filter(close(dq(col("x.bqv"), col("y.bqv")),
        col("x.bnn"), col("y.bnn")))
      .groupBy(col("y.vec_id").as("vec_id"))
      .agg(min(col("x.vec_id")).as("dup_of_batch"))
    b.select(col("vec_id"), col("cell"))
      .join(vsHist, Seq("vec_id"), "left")
      .join(intra, Seq("vec_id"), "left")
      .select(col("vec_id"), col("cell"),
        coalesce(col("dup_of_hist"), col("dup_of_batch"), lit(-1L))
          .as("dup_of"),
        (col("dup_of_hist").isNull && col("dup_of_batch").isNull)
          .cast("int").as("keep"))
  }
}
