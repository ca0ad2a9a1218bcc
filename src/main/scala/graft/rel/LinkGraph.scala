package graft.rel

import graft.io.Caches.TrackedPersistOps
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Link-graph machinery for corpus curation — the web-graph quality
  * prior of Common-Crawl-style pipelines (a page endorsed by many
  * well-endorsed pages is a better pretraining candidate than an
  * orphan; the reference's scrape stage walks exactly such a link
  * structure, `selenium_scrape.py`-style link tables per SURVEY §2.1
  * S1).
  *
  * Determinism discipline: PageRank here runs in exact INTEGER
  * microunits. Every node starts at 1,000,000 µ; one round is
  * r'(v) = 150000 + Σ_{u→v} (85·r(u)) div (100·outdeg(u)) — integer
  * truncating division, positive operands, so Spark's `div` and
  * DuckDB's `//` agree bit for bit and the sum is order-free (exact
  * longs, no float accumulation). This is the standard d = 0.85
  * damped walk with an unnormalized per-node teleport (scores
  * approximate N·PR; ordering identical), which is all a QUALITY
  * PRIOR needs.
  *
  * 100 TB shape: edges are computed once, given their out-degree
  * once, and persisted; each round is ONE shuffle (groupBy dst) plus
  * a broadcast-free left join back to the node list — the classic
  * distributed PageRank schedule. Rounds are a fixed small constant
  * (a prior, not a convergence solve), so lineage stays shallow with
  * no checkpoint needed.
  */
object LinkGraph {

  /** The saved prior's graph and walk: [[syntheticEdges]] fanout and
    * [[pageRank]] rounds. */
  val Fanout = 3
  val Rounds = 3

  /** Deterministic synthetic out-links: doc i links to
    * (i·131 + 37k) mod N for k = 1..fanout, self-loops dropped,
    * duplicates collapsed. Models the scrape-result link table (S1)
    * with arithmetic any engine replays — no RNG, no wall-clock.
    * N rides the plan as a broadcast 1-row aggregate, never a
    * driver-side collect. */
  def syntheticEdges(docs: DataFrame, fanout: Int = Fanout): DataFrame = {
    val n = docs.agg(count(lit(1)).as("n_docs"))
    docs.select(col("doc_id").as("src"))
      .crossJoin(broadcast(n))
      .select(col("src"), explode(
        sequence(lit(1), lit(fanout))).as("k"), col("n_docs"))
      .select(col("src"),
        ((col("src") * 131 + col("k") * 37) % col("n_docs")).as("dst"))
      .filter(col("src") =!= col("dst"))
      .distinct()
  }

  /** Fixed-round integer PageRank over `edges` (src, dst) with the
    * node universe `nodes` (doc_id). Returns
    * (doc_id, outdeg, pr) — pr in exact microunits after `rounds`
    * damped-walk rounds; sink nodes keep contributing nothing
    * (their mass leaks, as in the uniform-teleport prior), nodes
    * with no in-links settle at the 150000 µ teleport floor. */
  def pageRank(nodes: DataFrame, edges: DataFrame, rounds: Int): DataFrame = {
    require(rounds >= 1, s"rounds must be >= 1, got $rounds")
    // persist the raw edge frame first: deg and the deg-join both
    // read it, and without the cache the one-time withDeg
    // materialization would synthesize/scan the edge input twice
    val e = edges.persistTracked("linkgraph.edges.raw")
    val deg = e.groupBy(col("src"))
      .agg(count(lit(1)).as("outdeg"))
    // out-degree travels WITH each edge so a round never re-joins it
    val withDeg = e.join(deg, "src")
      .persistTracked("linkgraph.edges")
    // the node id column re-enters the plan once per round — persist
    // so rounds read the cached ids, not the source scan
    val ids = nodes.select(col("doc_id"))
      .persistTracked("linkgraph.ids")
    var ranks = ids.withColumn("pr", lit(1000000L))
    for (_ <- 1 to rounds) {
      val contrib = withDeg
        .join(ranks, withDeg("src") === ranks("doc_id"))
        .select(col("dst"),
          expr("(85 * pr) div (100 * outdeg)").as("c"))
        .groupBy(col("dst"))
        .agg(sum(col("c")).as("in_mass"))
      ranks = ids
        .join(contrib, ids("doc_id") === contrib("dst"), "left")
        .select(ids("doc_id"),
          (lit(150000L) + coalesce(col("in_mass"), lit(0L))).as("pr"))
    }
    ranks.join(deg, ranks("doc_id") === deg("src"), "left")
      .select(ranks("doc_id"),
        coalesce(col("outdeg"), lit(0L)).as("outdeg"), col("pr"))
  }

  /** One saved rank table per cache key per JVM — the production
    * shape for a graph prior: ranks are recomputed when the CORPUS
    * VERSION moves (epoch token / content fingerprint — the
    * [[graft.io.SavedIndex]] staleness contract shared with the
    * BM25/IVF/signature indexes), and every downstream consumer
    * (quality blending, corpus filters, frontier scheduling) serves
    * from the materialized (doc_id, outdeg, pr) table instead of
    * re-walking the graph per query. Longs round-trip parquet
    * exactly, so the serve is bit-identical to the inline fit. */
  private val savedRanks = new graft.io.SavedIndex("graft-pagerank")

  def ensureSavedRanks(docs: DataFrame, cacheKey: String,
      epoch: Option[String] = None): String =
    savedRanks.ensure(cacheKey, docs, epoch) { p =>
      pageRank(docs.select(col("doc_id")), syntheticEdges(docs), Rounds)
        .write.mode("overwrite").parquet(p)
    }
}
