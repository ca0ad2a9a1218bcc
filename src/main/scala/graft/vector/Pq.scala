package graft.vector

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Product quantization (PQ) — the third ANN scale path next to LSH
  * ([[Ann.lshTopK]]) and IVF ([[Ivf]]), and the one that attacks
  * MEMORY rather than scan count: each vector is compressed to `m`
  * small code ids (one per subspace), so a 64-dim float corpus
  * (256 B/vector) serves from `m` bytes/vector — 32× smaller at
  * m = 8. At 100 TB of embeddings that is the difference between an
  * index that fits in cluster RAM and one that doesn't; FAISS's
  * billion-scale configurations are IVF+PQ for exactly this reason.
  *
  * Three phases, each with an explicit distributed shape:
  *
  *  - '''train''' ([[boundedTrain]]): per-subspace k-means over
  *    [[Quantize.int8]] lattice vectors, run for exactly `rounds`
  *    update rounds with exact-integer centroid sums — the same
  *    order-free, SQL-replayable discipline as [[Ivf.boundedIndex]],
  *    applied independently to each of the `m` subvector slices. All
  *    `m` fits ride ONE aggregate job per round (grouped by
  *    (subspace, code) — `m·k` rows × sub-dim integer sums to the
  *    driver), so training is `rounds + 1` narrow corpus passes
  *    regardless of `m`.
  *  - '''encode''' ([[encode]]): map-side only — `m` codegen'd
  *    nearest-centroid expressions ([[FloatVecExpr.nearestCellF]])
  *    over broadcast-literal codebooks; no join, no shuffle. The
  *    output (vec_id, codes) frame is the tiny serve-time corpus.
  *  - '''serve''' ([[adcTopK]]): asymmetric distance computation —
  *    the query builds an `m × k` table of exact subspace distances
  *    ONCE (driver-side, bounded by |queries| like
  *    [[Ivf.topKIndexed]]'s probe collect), then every corpus vector
  *    is scored by `m` array lookups + adds instead of `dim`
  *    multiplies. Scoring stays in whole-stage codegen
  *    (`element_at` over broadcast literal tables); top-k is the
  *    standard per-query window.
  *
  * Distance semantics: squared L2 on the int8 lattice. The lattice
  * keeps every arithmetic step (integer differences, integer sums,
  * one double division per centroid coordinate, ascending-dimension
  * double accumulation) bit-replayable by the DuckDB oracle, the
  * same trick as the IVF bounded fit. Exact-lattice brute force
  * (integer distances, [[exactTopK]]) is the matching ground truth
  * for recall evaluation — it isolates PQ's approximation error from
  * the int8 quantization step, which both paths share. */
object Pq {

  /** Codebooks: codebooks(s)(c) is the sub-dim-length centroid of
    * code `c` in subspace `s` (doubles — exact integer sums / count). */
  type Codebooks = Array[Array[Array[Double]]]

  private def subSlice(qv: Column, s: Int, sub: Int): Column =
    slice(qv, s * sub + 1, sub)

  /** Per-subspace bounded-rounds k-means over the int8 lattice.
    *
    * Init: subspace `s`'s code `c` starts from the quantized
    * subvector of `vec_id = c` (requires vec_ids `0..k-1` present,
    * the [[Ivf.boundedIndex]] rule — a sparse id range would silently
    * mis-key codes). Exactly `rounds` update rounds, no convergence
    * test; empty codes keep their previous centroid; assignment ties
    * go to the lowest code (first-minimum, [[IntVecNearestCell]]).
    *
    * Returns (quantizedCorpus with `qv`, codebooks). One persisted
    * narrow (vec_id, qv) projection feeds the `rounds + 1` passes and
    * is released before returning. */
  def boundedTrain(corpus: DataFrame, m: Int = 8, k: Int = 8,
      rounds: Int = 2): (DataFrame, Codebooks) = {
    val qcorpus = corpus.withColumn("qv", Quantize.int8(col("embedding")))
    (qcorpus, boundedTrainOn(qcorpus, m, k, rounds))
  }

  /** Residual-lattice scale: residuals (lattice int − exact-rational
    * centroid) are multiplied by 8 — a power of two, so the product
    * is EXACT in double — then rounded to the nearest integer. The
    * finer lattice keeps every later arithmetic step replayable while
    * resolving the small residual magnitudes the coarse cells leave. */
  val ResidualScale = 8

  /** Residual lattice column: `round((qv_j − cent_cell_j) · 8)` per
    * dimension, with the row's coarse centroid looked up from the
    * broadcast-literal centroid matrix by the `cell` column. */
  def residualColumn(qv: Column, cell: Column,
      centroids: Array[Array[Double]]): Column = {
    val centsLit = array(centroids.map(c =>
      array(c.map(lit): _*)): _*)
    zip_with(qv, element_at(centsLit, cell + 1),
      (x, c) => floor((x.cast("double") - c) * ResidualScale + 0.5)
        .cast("int"))
  }

  /** The per-subspace bounded-rounds fit over an arbitrary prepared
    * lattice frame (vec_id, qv) — shared by the raw-lattice
    * [[boundedTrain]] and the residual IVFPQ fit. */
  private def boundedTrainOn(qcorpus: DataFrame, m: Int, k: Int,
      rounds: Int): Codebooks = {
    val fit = qcorpus.select(col("vec_id"), col("qv"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val seeds = fit.filter(col("vec_id") < k).orderBy(col("vec_id"))
        .select(col("qv")).collect()
        .map(_.getAs[scala.collection.Seq[Int]](0).toArray)
      require(seeds.length == k,
        s"boundedTrain needs vec_ids 0..${k - 1} present, found ${seeds.length}")
      val dim = seeds(0).length
      require(dim % m == 0, s"dim $dim not divisible by m = $m subspaces")
      val sub = dim / m
      var books: Codebooks = Array.tabulate(m)(s =>
        seeds.map(v => v.slice(s * sub, (s + 1) * sub).map(_.toDouble)))
      for (_ <- 1 to rounds) {
        // ONE aggregate job updates all m codebooks: explode each row
        // into its m (subspace, code, subvector) assignments, then
        // m·k groups of exact integer sums come back to the driver
        val assigned = fit.select(posexplode(array((0 until m).map(s =>
          struct(
            FloatVecExpr.nearestCellF(subSlice(col("qv"), s, sub), books(s))
              .as("code"),
            subSlice(col("qv"), s, sub).as("sv"))): _*)).as(Seq("s", "sc")))
        val upd = assigned
          .groupBy(col("s"), col("sc.code").as("code"))
          .agg(count(lit(1)).as("cnt"),
            array((0 until sub).map(j =>
              sum(element_at(col("sc.sv"), j + 1)).cast("long")): _*).as("sums"))
          .collect()
        val next = books.map(_.clone())
        upd.foreach { r =>
          val s = r.getInt(0)
          val c = r.getInt(1)
          val cnt = r.getLong(2)
          next(s)(c) = r.getAs[scala.collection.Seq[Long]]("sums")
            .map(x => x.toDouble / cnt).toArray
        }
        books = next
      }
      books
    } finally fit.unpersist(blocking = false)
  }

  /** RESIDUAL fit — the authentic FAISS IVFPQ: codebooks are trained
    * on `vector − coarse centroid` rather than the raw vector, so
    * the codes spend their resolution on the small within-cell
    * residual instead of re-describing the cell. Returns the corpus
    * with `cell` and the residual-lattice `qv` (both map-side
    * expressions over the int8 lattice) plus the per-subspace
    * residual codebooks. */
  def boundedTrainResidual(corpus: DataFrame,
      centroids: Array[Array[Double]], m: Int = 8, k: Int = 8,
      rounds: Int = 2): (DataFrame, Codebooks) = {
    val qcorpus = corpus
      .withColumn("qv0", Quantize.int8(col("embedding")))
      .withColumn("cell", FloatVecExpr.nearestCellF(col("qv0"), centroids))
      .withColumn("qv", residualColumn(col("qv0"), col("cell"), centroids))
    (qcorpus, boundedTrainOn(qcorpus, m, k, rounds))
  }

  /** Residual ADC serve with storage pruning: probed cells resolve
    * driver-side into a static `cell IN (…)` PartitionFilter, and the
    * per-query distance tables are built per (query, probed cell) —
    * the query's residual DEPENDS on the cell it probes, so the
    * broadcast table is keyed (query_id, cell) and the cell join
    * scores each code row only against tables of its own cell. */
  def adcTopKIndexedResidual(codesFromDisk: DataFrame, books: Codebooks,
      centroids: Array[Array[Double]], queries: DataFrame, k: Int,
      nProbe: Int): DataFrame = {
    val spark = queries.sparkSession
    import spark.implicits._
    val probedRows = Ivf.probe(queries, centroids, nProbe)
      .select(col("query_id"), col("cell"))
      .collect().map(r => (r.getLong(0), r.getInt(1)))
    val qs = queryLattice(queries).collect()
      .map(r => r.getLong(0) ->
        r.getAs[scala.collection.Seq[Int]]("qq").toArray).toMap
    val tabs = probedRows.toSeq.map { case (qid, cell) =>
      val qq = qs(qid)
      val cent = centroids(cell)
      // same arithmetic as residualColumn: ×8 is exact, floor(x+0.5)
      val rqq = Array.tabulate(qq.length)(j =>
        math.floor((qq(j).toDouble - cent(j)) * ResidualScale + 0.5).toInt)
      (qid, cell, distanceTable(rqq, books).map(_.toSeq).toSeq)
    }.toDF("query_id", "cell", "dtab")
    val cells = probedRows.map(_._2).distinct.toSeq
    adcCut(codesFromDisk.filter(col("cell").isin(cells: _*))
      .join(broadcast(tabs), "cell"), books, k)
  }

  /** Saved RESIDUAL index: same on-disk format as [[saveIndex]]
    * (codes `partitionBy("cell")`, codebooks, coarse centroids), so
    * [[loadIndex]] reads it unchanged — only the fit that produced
    * the codes differs. */
  def ensureSavedResidualIndex(corpus: DataFrame, m: Int, k: Int,
      rounds: Int, nCells: Int, cacheKey: String,
      epoch: Option[String] = None): String =
    savedIndexes.ensure(cacheKey, corpus, epoch) { p =>
      val (_, cents) = Ivf.boundedIndex(corpus, nCells, rounds)
      val (quantized, books) = boundedTrainResidual(corpus, cents, m, k, rounds)
      val encodedWithCell = encodeWith(quantized, books,
        Seq("cell" -> col("cell")))
      saveIndex(encodedWithCell, books, cents, p)
    }

  /** Map-side PQ encode: (vec_id, codes array<int>) — `m` codegen'd
    * nearest-centroid expressions over broadcast-literal codebooks.
    * The encoded frame is the serve-time corpus: m ints per vector. */
  def encode(quantized: DataFrame, books: Codebooks): DataFrame =
    encodeWith(quantized, books, Nil)

  /** [[encode]] plus caller-supplied extra columns computed in the
    * SAME map-side pass (e.g. the IVF coarse cell for the IVF+PQ
    * composition) — one corpus scan, no self-join to re-attach
    * per-vector metadata afterwards. */
  def encodeWith(quantized: DataFrame, books: Codebooks,
      extras: Seq[(String, org.apache.spark.sql.Column)]): DataFrame = {
    val m = books.length
    val sub = books(0)(0).length
    quantized.select(col("vec_id") +:
      array((0 until m).map(s =>
        FloatVecExpr.nearestCellF(subSlice(col("qv"), s, sub), books(s))): _*)
        .as("codes") +:
      extras.map { case (n, c) => c.as(n) }: _*)
  }

  /** Exact per-query × per-code squared-L2 distance table, computed
    * driver-side in ascending-dimension order (the same fold order as
    * [[IntVecNearestCell]] and the oracle's `list_sum`). */
  private def distanceTable(qq: Array[Int], books: Codebooks)
      : Array[Array[Double]] = {
    val m = books.length
    val sub = books(0)(0).length
    Array.tabulate(m) { s =>
      books(s).map { cent =>
        var d = 0.0
        var j = 0
        while (j < sub) {
          val x = qq(s * sub + j).toDouble - cent(j); d += x * x; j += 1
        }
        d
      }
    }
  }

  /** ADC top-k: score = Σ_s dtab(s)(code_s), ascending-subspace
    * accumulation — `m` lookups + adds per corpus vector, all inside
    * whole-stage codegen. `queries` carries (query_id, q_embedding)
    * and is collected driver-side (bounded by |queries| — the
    * [[Ivf.topKIndexed]] / [[graft.text.Bm25]] query-collect rule).
    * Ties → lowest vec_id. */
  def adcTopK(encoded: DataFrame, books: Codebooks, queries: DataFrame,
      k: Int): DataFrame =
    adcCut(encoded.crossJoin(broadcast(distanceTables(queries, books))),
      books, k)

  /** Per query id its [[distanceTable]] as a (query_id, dtab) frame:
    * the query lattice is collected driver-side in query_id order
    * (bounded by |queries|) and the tables go back as local rows. */
  private def distanceTables(queries: DataFrame, books: Codebooks)
      : DataFrame = {
    val spark = queries.sparkSession
    import spark.implicits._
    queryLattice(queries).orderBy(col("query_id")).collect().toSeq
      .map(r => (r.getLong(0), distanceTable(
        r.getAs[scala.collection.Seq[Int]]("qq").toArray, books)
        .map(_.toSeq).toSeq))
      .toDF("query_id", "dtab")
  }

  /** The ADC score and top-k cut every PQ serve shares: over rows
    * carrying `codes` and their query's `dtab`, `adc_dist =
    * round(Σ_s dtab(s)(code_s), 6)` accumulated in ascending subspace
    * order, then per query the `k` smallest by (adc_dist, vec_id). */
  private def adcCut(scored: DataFrame, books: Codebooks, k: Int)
      : DataFrame = {
    val adc = books.indices
      .map(s => element_at(element_at(col("dtab"), s + 1),
        element_at(col("codes"), s + 1) + 1))
      .reduce(_ + _)
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("adc_dist"), col("vec_id"))
    scored.withColumn("adc_dist", round(adc, 6))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("vec_id"), col("adc_dist"))
  }

  /** IVF+PQ serve (the FAISS IVFPQ shape): [[Ivf.probe]] resolves
    * each query's `nProbe` nearest coarse cells, and ONLY rows in
    * probed cells are ADC-scored — the scan-count win of IVF stacked
    * on the memory win of PQ. `encodedWithCell` carries
    * (vec_id, codes, cell) — [[encode]] joined to an
    * [[Ivf.boundedIndex]] assignment; at scale it lives
    * `partitionBy("cell")` so the probe becomes a partition filter.
    * The cell join replaces [[adcTopK]]'s crossJoin: each corpus row
    * is scored only for the queries that probed its cell. */
  def adcTopKProbed(encodedWithCell: DataFrame, books: Codebooks,
      centroids: Array[Array[Double]], queries: DataFrame, k: Int,
      nProbe: Int): DataFrame = {
    val probed = Ivf.probe(queries, centroids, nProbe)
      .select(col("query_id"), col("cell"))
    probedServe(encodedWithCell, probed, books, queries, k)
  }

  /** [[adcTopKProbed]] served from a LOADED index ([[loadIndex]])
    * with STORAGE-level pruning: probed cells resolve driver-side
    * first (bounded by |queries| × nProbe), then push as a static
    * `cell IN (…)` filter — a PartitionFilter on the
    * `partitionBy("cell")` codes layout, so only probed cell
    * directories are read at all (the [[Ivf.topKIndexed]] rule
    * applied to the compressed corpus). Same probe/scoring trees →
    * scores bit-identical to the in-memory composition. */
  def adcTopKIndexed(codesFromDisk: DataFrame, books: Codebooks,
      centroids: Array[Array[Double]], queries: DataFrame, k: Int,
      nProbe: Int): DataFrame = {
    val probed = Ivf.probe(queries, centroids, nProbe)
      .select(col("query_id"), col("cell"))
    val cells = probed.select(col("cell")).distinct()
      .collect().map(_.getInt(0)).toSeq
    probedServe(codesFromDisk.filter(col("cell").isin(cells: _*)),
      probed, books, queries, k)
  }

  /** Shared probed-ADC serve body: one broadcast cell join (each
    * corpus row scored only for the queries that probed its cell),
    * one broadcast distance-table join, partial-then-final top-k. */
  private def probedServe(encodedWithCell: DataFrame, probed: DataFrame,
      books: Codebooks, queries: DataFrame, k: Int): DataFrame =
    adcCut(encodedWithCell.join(broadcast(probed), "cell")
      .join(broadcast(distanceTables(queries, books)), "query_id"), books, k)

  /** Persist an IVF+PQ index: codes land `partitionBy("cell")` (the
    * FAISS on-disk shape — inverted lists of compressed codes), the
    * codebooks and coarse centroids as tiny parquets. Doubles and
    * ints round-trip parquet losslessly, so a loaded index serves
    * bit-identical scores. */
  def saveIndex(encodedWithCell: DataFrame, books: Codebooks,
      centroids: Array[Array[Double]], path: String): Unit = {
    encodedWithCell.write.mode("overwrite").partitionBy("cell")
      .parquet(s"$path/codes")
    val spark = encodedWithCell.sparkSession
    import spark.implicits._
    books.zipWithIndex
      .flatMap { case (cb, s) => cb.zipWithIndex.map { case (cent, c) =>
        (s, c, cent.toSeq) } }.toSeq
      .toDF("s", "code", "cent")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/books")
    centroids.zipWithIndex.map { case (c, i) => (i, c.toSeq) }.toSeq
      .toDF("cell", "centroid")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/centroids")
  }

  /** Loads per (session UUID, path), in the engine's one
    * [[graft.io.Memo]] (16 entries, single-flight): a SavedIndex path
    * is content-addressed (every rebuild lands in a FRESH TempDirs dir,
    * never overwriting a served one), so its contents are immutable
    * for the JVM's lifetime and the driver-side reads (codebooks,
    * centroids) need not repeat — they cost ~0.5 s of job latency per
    * serve otherwise. The bound keeps an epoch-moving consumer from
    * retaining every superseded version's codebooks. */
  private val loadedIndexes = new graft.io.Memo[
    (String, String), (DataFrame, Codebooks, Array[Array[Double]])]("Pq.loadIndex", 16)

  def loadIndex(spark: org.apache.spark.sql.SparkSession, path: String)
      : (DataFrame, Codebooks, Array[Array[Double]]) =
    // Sessions.uuid, not identityHashCode — unique per session and
    // never reused after GC (see graft.io.Sessions)
    loadedIndexes.getOrBuild((graft.io.Sessions.uuid(spark), path)) {
      val codes = spark.read.parquet(s"$path/codes")
      val flat = spark.read.parquet(s"$path/books")
        .orderBy(col("s"), col("code")).collect()
        .map(r => (r.getInt(0), r.getInt(1),
          r.getAs[scala.collection.Seq[Double]]("cent").toArray))
      val m = flat.map(_._1).max + 1
      val books: Codebooks = Array.tabulate(m)(s =>
        flat.filter(_._1 == s).sortBy(_._2).map(_._3))
      val cents = spark.read.parquet(s"$path/centroids")
        .orderBy(col("cell")).collect()
        .map(_.getAs[scala.collection.Seq[Double]]("centroid").toArray)
      (codes, books, cents)
    }

  /** One saved IVF+PQ index per cache key per JVM — the same
    * [[graft.io.SavedIndex]] build-once/serve-many + staleness
    * contract as [[Ivf.ensureSavedBoundedIndex]]: both bounded fits
    * (`rounds + 1` scans each) and the encode run ONCE per key;
    * every serve is a cell-pruned read of the compressed codes. */
  private val savedIndexes = new graft.io.SavedIndex("graft-pq-idx")

  def ensureSavedIndex(corpus: DataFrame, m: Int, k: Int, rounds: Int,
      nCells: Int, cacheKey: String,
      epoch: Option[String] = None): String =
    savedIndexes.ensure(cacheKey, corpus, epoch) { p =>
      val (_, cents) = Ivf.boundedIndex(corpus, nCells, rounds)
      val (quantized, books) = boundedTrain(corpus, m, k, rounds)
      val encodedWithCell = encodeWith(quantized, books,
        Seq("cell" -> FloatVecExpr.nearestCellF(col("qv"), cents)))
      saveIndex(encodedWithCell, books, cents, p)
    }

  /** ADC-shortlist + exact rerank — the standard production PQ serve
    * (FAISS's IVFPQ + refine): the compressed scan proposes
    * `shortlist` candidates per query (m lookups/vector over the
    * codes-only corpus), then ONLY those rows join back to their full
    * lattice vectors for an exact integer-L2 re-score. At 100 TB the
    * full-vector table is touched for |queries| · shortlist rows
    * total — the memory win of PQ with the accuracy of exact top-k
    * over the shortlist. */
  def adcRerankTopK(encoded: DataFrame, books: Codebooks,
      quantized: DataFrame, queries: DataFrame, k: Int,
      shortlist: Int): DataFrame =
    exactRerank(quantized,
      adcTopK(encoded, books, queries, shortlist)
        .select(col("query_id"), col("vec_id")),
      queries, k)

  /** Exact integer squared L2 via the codegen'd [[IntVecDotL]]:
    * ‖q−v‖² = q·q + v·v − 2·q·v. Every term is an exact Long sum of
    * int products, so the value is IDENTICAL to the elementwise
    * (q_i−v_i)² fold the oracle runs — but the three dots live inside
    * whole-stage codegen where Catalyst's higher-order-function
    * lambdas (`zip_with`/`aggregate`) stay interpreted; the truth
    * pass of every recall row rides this. */
  private def l2Q(qq: Column, qv: Column): Column =
    FloatVecExpr.dotI(qq, qq) + FloatVecExpr.dotI(qv, qv) -
      lit(2L) * FloatVecExpr.dotI(qq, qv)

  /** The queries' int8 lattice, (query_id, qq). */
  private def queryLattice(queries: DataFrame): DataFrame =
    queries.withColumn("qq", Quantize.int8(col("q_embedding")))
      .select(col("query_id"), col("qq"))

  /** Per query the `k` smallest `l2_dist` rows, ties → lowest vec_id. */
  private def l2Cut(scored: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("l2_dist"), col("vec_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("vec_id"), col("l2_dist"))
  }

  /** The exact-rerank half of every refine funnel: re-score ONLY the
    * `(query_id, vec_id)` shortlist rows with the exact integer
    * lattice L2 and keep the top `k`. The shortlist broadcasts (it is
    * |queries| × width at any corpus size) and the full-vector table
    * is touched for shortlist rows only — shared by the flat-PQ
    * funnel ([[adcRerankTopK]]) and the IVFPQ+refine serve. */
  def exactRerank(quantized: DataFrame, shortlist: DataFrame,
      queries: DataFrame, k: Int): DataFrame =
    l2Cut(quantized.select(col("vec_id"), col("qv"))
      .join(broadcast(shortlist), "vec_id")
      .join(broadcast(queryLattice(queries)), "query_id")
      .withColumn("l2_dist", l2Q(col("qq"), col("qv"))), k)

  /** Exact brute-force squared-L2 top-k on the SAME int8 lattice —
    * integer distances (no float accumulation at all), the ground
    * truth [[adcTopK]]'s recall is measured against: every
    * (query, vector) pair scored by one broadcast crossjoin. */
  def exactTopK(quantized: DataFrame, queries: DataFrame, k: Int)
      : DataFrame =
    l2Cut(quantized.select(col("vec_id"), col("qv"))
      .crossJoin(broadcast(queryLattice(queries)))
      .withColumn("l2_dist", l2Q(col("qq"), col("qv"))), k)
}
