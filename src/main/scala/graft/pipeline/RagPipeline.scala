package graft.pipeline

import graft.io.Caches.TrackedPersistOps
import graft.io.Resident
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, AttributeReference, BoundReference,
  InterpretedOrdering, SortOrder}
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, LongType}
import org.apache.spark.unsafe.types.UTF8String
import graft.text.chunk.Chunker
import graft.vector.{Embedder, HashingEmbedder, VectorOps}

/** The flagship end-to-end flow, mirroring the reference's
  * `rag_pipeline(url, query, chunking_strategy)`
  * (`/root/reference/Chunking_Strats/chromadb_rag.py:184-212`):
  * fetch → chunk → embed+store → retrieve top-k → assemble cited
  * context. The LLM generation step (`:154-181`) is an external
  * service and deliberately out of the data plane (SURVEY §7.4 #5) —
  * the pipeline's product is the retrieval result and the assembled
  * prompt context.
  */
object RagPipeline {
  val TopK = 5 // chromadb_rag.py:18

  /** Saved-serve geometry of the `hybrid_indexed` retrieval mode,
    * shared verbatim with the q_rag_e2e_indexed oracle: 8 coarse
    * cells over the chunk store, 2 probed per query (each dense
    * candidate pass scores ~1/4 of the store). A store of n < 8
    * chunks fits n cells, one per chunk ([[graft.vector.Ivf
    * .boundedIndex]]). */
  val IndexedCells = 8
  val IndexedProbe = 2

  /** Chunk + embed a corpus into a queryable vector-store DataFrame
    * (reference `add_chunks_to_collection`, `chromadb_rag.py:110-124`):
    * id = `{source}_chunk_{index}` (F16), metadata carried columnar.
    */
  def buildStore(docs: DataFrame, strategy: String,
      embedder: Embedder = HashingEmbedder(64)): DataFrame = {
    val chunks = Chunker(strategy).chunk(docs)
    // upsert semantics (SURVEY §2.7): one row per id, FIRST occurrence
    // by (doc_id, chunk_index) — dropDuplicates would keep a
    // partition-order-dependent arbitrary row when two documents share
    // a source (the fixture reuses sources), and a nondeterministic
    // store can't be oracle-replayed; same first-wins convention as
    // Dedup.dropExactDuplicates
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("id")).orderBy(col("doc_id"), col("chunk_index"))
    embedder.embed(chunks)
      .withColumn("id",
        concat(col("source"), lit("_chunk_"), col("chunk_index")))
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).drop("__rn")
  }

  /** Retrieve top-k chunks for query texts and assemble the cited
    * context per query. `queryTexts` are embedded with the same
    * embedder as the store (reference embeds the query with the
    * collection's embedding fn, `chromadb_rag.py:127-140`).
    *
    * `retrieval` dispatches like the reference's chunking-strategy
    * dispatch (C4); any other value raises:
    *  - "brute": exact cosine via the TopKPerKey operator;
    *  - "hybrid": reciprocal-rank fusion of the dense cosine list with
    *    a BM25 lexical list over the same chunk store (the
    *    calibration-free dense+sparse combiner);
    *  - "hybrid_indexed": the same fusion served from the saved IVF
    *    and BM25 pair ([[hybridIndexedServe]], [[IndexedCells]] cells).
    *    `indexKey` names the DOCUMENT SET and is required: the
    *    chunking strategy and embedder are folded into the
    *    cache key ([[indexedCacheKeyBase]]), so the same name with a
    *    different store configuration never serves the wrong index. A
    *    plan hash is not a usable default, because fresh UDF/flatMap
    *    lambdas get identity hashCodes in the canonicalized plan.
    *    `epoch` is the caller's corpus-version token, forwarded to
    *    [[graft.io.SavedIndex]]: when it matches the recorded one the
    *    serve is O(1) (no fingerprint scan, no store build). */
  def run(spark: SparkSession, docs: DataFrame, queryTexts: Seq[String],
      strategy: String = "simple",
      embedder: Embedder = HashingEmbedder(64),
      retrieval: String = "brute",
      indexKey: String = "",
      epoch: Option[String] = None): DataFrame = {
    import spark.implicits._
    lazy val store = buildStore(docs, strategy, embedder)
    val queries = embedder
      .embed(queryTexts.zipWithIndex.toDF("query_text", "query_id"),
        textCol = "query_text", out = "q_embedding")
    val topk = retrieval match {
      case "brute" =>
        VectorOps.topK(store, queries, TopK,
          tiebreak = Seq(col("doc_id"), col("chunk_index")))
          .select(col("query_id"), col("rank"), col("source"), col("text"))
      case "hybrid" =>
        // dense + lexical candidate lists at depth 2k fused by RRF
        // (deeper lists than the final k, the usual fusion setup).
        // ONE materialization of the embedded-chunk stage: dense,
        // lexical, and the citation join-back all read this single
        // InMemoryRelation. No enumeration pass runs: the store's
        // string `id` is already a total order, so ties break on it
        // as the q_rag_e2e_hybrid oracle's id-ordered enumeration does
        val shared = store
          .persistTracked("rag.hybrid_store")
        val dense = VectorOps.topK(shared, queries, TopK * 2,
            tiebreak = Seq(col("id")))
          .select(col("query_id"), col("rank"), col("id").as("doc_id"))
        val lex = graft.text.Bm25.topK(
            shared.select(col("id").as("doc_id"), col("text")),
            queries.select(col("query_id"), col("query_text").as("qtext")),
            TopK * 2)
          .select(col("query_id"), col("rank"), col("doc_id"))
        graft.text.Bm25.rrfFuse(dense, lex, TopK)
          .withColumnRenamed("doc_id", "id")
          .join(shared.select(col("id"), col("source"), col("text")), "id")
          .select(col("query_id"), col("rank"), col("source"), col("text"))
      case "hybrid_indexed" =>
        require(indexKey.nonEmpty,
          "hybrid_indexed serves from saved indexes and needs a stable indexKey")
        hybridIndexedServe(spark, store, queries,
          indexedCacheKeyBase(indexKey, strategy, embedder), epoch)
      case other =>
        throw new IllegalArgumentException(
          s"unknown retrieval strategy: $other") // C4-style dispatch error
    }
    VectorOps.assembleContext(topk)
  }

  /** THE query path: hybrid (dense + lexical) retrieval composed
    * onto the SAVED serve tier, over an already-built chunk STORE —
    * either [[buildStore]]'s output (the `run("hybrid_indexed")`
    * route) or a caller-built frame with the same columns (ragbench
    * chunks and embeds its own).
    *
    * Build-once (one collect, then the driver): the store is collected
    * once and enumerated on the driver (dense vec_ids in id order), the
    * oracle-replayable bounded k-means is fit over those rows, the BM25
    * postings are counted from Spark's own tokens, and both indexes are
    * written from the rows in their saved layouts (IVF
    * `partitionBy("cell")`, BM25 postings and df `partitionBy("bucket")`,
    * md5(term) % 64) — see [[ensureIndexedServe]].
    *
    * Serve-many (driver): the build also builds both resident segments
    * ([[graft.vector.Ivf.Segments]], [[graft.text.Bm25.Segments]]) from
    * the same rows and hangs them off the memoized `loadIndex` entries;
    * a pair loaded in another session is collected into its segments on
    * its first serve. Every serve then runs
    * [[serveRows]] over those segments. This wrapper reads the
    * queries' `query_id`, `query_text` and `q_embedding` with
    * [[graft.io.Resident.columns]] (the id under the caller's spelling,
    * resolved as the analyzer resolves it) and returns the answer as a
    * LocalRelation frame (query_id, rank, source, text), so
    * [[graft.vector.VectorOps.assembleContext]] over it assembles the
    * cited context on the driver too.
    *
    * Cost: on a warm epoch with queries built from a local `Seq` (and
    * embedded by [[graft.vector.Embedder.embed]]'s driver path), serve →
    * context runs no Spark job, persists nothing and runs no optimizer
    * batch: the query frame is driver rows read from its analyzed plan,
    * the scoring is plain Scala, and each answer is handed on as a
    * pre-planned LocalRelation frame ([[graft.io.Resident.internalFrame]]).
    * The caller's final `collect` of the context is not planned either:
    * it runs no analyzer, optimizer or planner, and deserializes with the
    * session's Row encoder for the context schema, resolved on the first
    * request. What a warm request still pays is the caller's own frame
    * construction (`toDF`, which analyzes) and that collect's SQL
    * execution and row conversion.
    *
    * Memory: the resident copy holds the store's embeddings, texts
    * and postings on the driver — roughly the saved pair's
    * uncompressed size. Each copy hangs off its `loadIndex` entry in
    * the engine's one [[graft.io.Memo]], whose 16-entry bound (per
    * index kind) bounds how many stores stay resident; a pair it no
    * longer holds is collected again per serve, with a warning. The
    * store must fit the driver heap; serving larger stores from the
    * executors is out of scope here.
    *
    * `queries` must carry (query_id, query_text, q_embedding) —
    * embedded with the same embedder as the store. `cacheKeyBase`
    * must be a stable, collision-free identity for the (store,
    * embedder) pair — `run` builds it from the length-prefixed
    * indexKey + strategy + embedder. */
  def hybridIndexedServe(spark: SparkSession, store: => DataFrame,
      queries: DataFrame, cacheKeyBase: String,
      epoch: Option[String]): DataFrame = {
    val pair @ (disk, _, _) = ensureIndexedServe(spark, store, cacheKeyBase, epoch)
    val (Seq(qid, _, _), rows) =
      Resident.columns(queries, "query_id", "query_text", "q_embedding")
    val served = serveRows(pair, rows.map(r =>
      (r.get(0, qid.dataType), Resident.string(r, 1), Resident.floats(r, 2))))
    Resident.internalFrame(spark,
      Seq(qid.newInstance(), AttributeReference("rank", IntegerType, nullable = false)(),
        DataTypeUtils.toAttribute(disk.schema("source")),
        DataTypeUtils.toAttribute(disk.schema("text"))),
      served.map { case (q, rank, src, text) =>
        InternalRow(q, rank, UTF8String.fromString(src), UTF8String.fromString(text))
      })
  }

  /** The rows-level serve core behind [[hybridIndexedServe]]: each
    * query's (query_id, query_text, q_embedding) in, its cited top-k
    * (query_id, rank, source, text) out, over the resident segments of
    * a pair from [[ensureIndexedServe]]. No DataFrame is built: probe →
    * cell-pruned cosine top-2k, BM25 top-2k over the terms
    * [[graft.text.Bm25.queryTerms]] evaluates, RRF top-k (1/(60 +
    * rank), round 6) and the citation lookup, each mirroring the Column
    * tree it replaces (`Ivf.topK`, `Bm25.topK`, `rrfFuse`, the join
    * back to the corpus), so the answer is the one the Spark plan gives.
    * Query ids are compared by value: rows sharing one are pooled, as a
    * window partitioned by `query_id` pools them. */
  def serveRows(pair: (DataFrame, Array[Array[Double]], graft.text.Bm25.Bm25Index),
      queries: Seq[(Any, String, Array[Float])]): Seq[(Any, Int, String, String)] = {
    val (disk, cents, bm) = pair
    val spark = disk.sparkSession
    val ivf = graft.vector.Ivf.resident(disk, cents)
    val dense = ivf.topK(queries.map(q => (q._1, q._3)), TopK * 2, IndexedProbe,
      Resident.ansi(spark))
    val lex = graft.text.Bm25.resident(bm).topK(
      queries.map(_._1).zip(graft.text.Bm25.queryTerms(spark, queries.map(_._2))), TopK * 2)
    graft.text.Bm25.rrfFuseResident(dense, lex, TopK).flatMap(h =>
      ivf.citation(h.id).map { case (src, text) => (h.queryId, h.rank, src, text) })
  }

  /** The stable cache-key base every consumer of one saved serve
    * pair must share — `run("hybrid_indexed")` and the fusion eval
    * rows ([[graft.Queries.q_rag_fusion_overlap]]/`_curve`) all
    * derive it from the same (indexKey, strategy, embedder) tuple,
    * so they hit ONE pair of saved indexes instead of each building
    * their own. Length-prefixed indexKey: plain '-'
    * concatenation would let a key containing '-' collide with
    * another (indexKey, strategy) pair and serve the wrong index;
    * the embedder CLASS is part of the key, not just its dim — a
    * same-dim different-embedder caller would otherwise produce an
    * identical key, and the O(1) epoch path (which by design never
    * re-fingerprints) would serve it the wrong index (r19 review). */
  def indexedCacheKeyBase(indexKey: String, strategy: String,
      embedder: Embedder): String =
    s"${indexKey.length}:$indexKey/$strategy/" +
      s"${embedder.getClass.getName}-${embedder.dim}"

  /** The BUILD-ONCE half of [[hybridIndexedServe]], shared with the
    * fusion eval rows so they price the production serve path
    * instead of re-fitting per run (r19 verdict #2): ensure + load
    * the saved IVF index and the saved BM25 postings over `store`.
    * Returns (the enumerated corpus read from the IVF index's cell
    * files, the coarse centroids, the BM25 index frames): lazy parquet
    * reads, served from the memoized loads with zero jobs on a warm
    * epoch.
    *
    * The pair is one [[graft.io.SavedIndex]] entry (`ivf/` and `bm25/`
    * under one directory), checked against one fingerprint of the
    * enumerated store. `store` is by-name: an O(1) epoch hit never
    * constructs or evaluates it. Otherwise the store is collected ONCE
    * and everything else runs on the driver ([[enumerate]],
    * [[graft.vector.Ivf.boundedIndexRows]], [[graft.text.Bm25
    * .buildIndexRows]], the fingerprint over the driver rows), with the
    * same answers as the Spark build, which would plan dozens of small
    * jobs; the six saved files are written from the driver rows, and
    * both resident segments are built from them and held in the
    * `loadIndex` memos, so the first serve runs no job either. */
  def ensureIndexedServe(spark: SparkSession, store: => DataFrame,
      cacheKeyBase: String, epoch: Option[String])
      : (DataFrame, Array[Array[Double]], graft.text.Bm25.Bm25Index) = {
    lazy val enumerated = enumerate(store)
    val path = savedPairs.ensure(s"ragpipeline/$cacheKeyBase", enumerated, epoch) { p =>
      val (assigned, cents) = graft.vector.Ivf.boundedIndexRows(enumerated,
        IndexedCells, rounds = 2)
      graft.vector.Ivf.saveResident(assigned, cents, s"$p/ivf")
      graft.text.Bm25.saveResident(graft.text.Bm25.buildIndexRows(
        enumerated.select(col("vec_id").as("doc_id"), col("text"))), s"$p/bm25")
    }
    val (disk, cents) = graft.vector.Ivf.loadIndex(spark, s"$path/ivf")
    (disk, cents, graft.text.Bm25.loadIndex(spark, s"$path/bm25"))
  }

  /** The saved pairs of [[ensureIndexedServe]], one per cache key. */
  private val savedPairs = new graft.io.SavedIndex("graft-rag-idx")

  /** The store as driver rows (vec_id, source, text, embedding), from
    * one collect of its (id, doc_id, chunk_index, source, text,
    * embedding): the first row per `id` by (doc_id, chunk_index) — an
    * upsert keeps the first, as [[buildStore]] does, and a caller-built
    * store may repeat an id — numbered 0..n-1 in `id` order. Both
    * orders are Spark's ascending ones (NULLs first, strings in UTF-8
    * byte order), so the vec_ids are those the oracles replay. */
  private def enumerate(store: DataFrame): DataFrame = {
    val (attrs, rows) = Resident.columns(store,
      "id", "doc_id", "chunk_index", "source", "text", "embedding")
    def ascending(n: Int) = new InterpretedOrdering((0 until n).map(i =>
      SortOrder(BoundReference(i, attrs(i).dataType, nullable = true), Ascending)))
    val (byId, byKey) = (ascending(1), ascending(3))
    val sorted = rows.sorted(byKey).toIndexedSeq
    val firsts = sorted.indices.filter(i => i == 0 || byId.compare(sorted(i - 1), sorted(i)) != 0)
    val kept = attrs.drop(3)
    Resident.internalFrame(store.sparkSession,
      AttributeReference("vec_id", LongType, nullable = false)() +: kept.map(_.newInstance()),
      firsts.zipWithIndex.map { case (i, v) =>
        InternalRow.fromSeq(v.toLong +: kept.indices.map(j => sorted(i).get(3 + j, kept(j).dataType)))
      })
  }
}
