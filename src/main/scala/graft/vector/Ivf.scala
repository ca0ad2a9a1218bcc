package graft.vector

import graft.io.Resident
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.AttributeReference
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.ColumnShim
import org.apache.spark.sql.types.{DoubleType, IntegerType, StructField}

/** IVF (inverted-file) approximate nearest neighbor — the second
  * scale path next to LSH ([[Ann.lshTopK]]): a k-means coarse
  * quantizer partitions the corpus into cells; a query probes only
  * its `nProbe` nearest cells, so the fine search touches
  * ~nProbe/nCells of the corpus instead of all of it.
  *
  * The quantizer is fit DRIVER-SIDE on a bounded, vec_id-sorted
  * sample (the standard IVF design — FAISS trains its coarse
  * quantizer on a sample offline too). That choice is deliberate at
  * both ends of the scale:
  *  - at 100 TB a distributed k-means over the full corpus would be
  *    an iteration of full-corpus jobs, while quantizer quality only
  *    needs ~100·nCells sample points;
  *  - a sequential Lloyd's loop over a SORTED sample is byte-
  *    deterministic regardless of partition layout or core count —
  *    a distributed fit sums floats in partition order and is not.
  *
  * Cell assignment is one narrow pass (broadcast centroids), and the
  * per-query fine search is an equi-join on `cell` — shuffle keyed on
  * short ints, corpus embeddings never move more than once. Spark is
  * the build tier only: a SAVED index is served from a driver-resident
  * copy ([[topKIndexed]]), with no Spark job per request.
  */
object Ivf {

  /** Hard cap on [[index]]'s driver-collected training sample: this
    * many rows × dim floats (64-dim ⇒ ~13 MB at the cap). */
  val DefaultMaxSample = 50000

  /** [[index]]'s Lloyd's iteration cap. */
  private val MaxIter = 10

  /** Deterministic Lloyd's k-means on L2-normalized vectors.
    * Init: k evenly spaced rows of the sorted sample (spread beats
    * first-k when ids correlate with content). Ties → lowest cell.
    * Empty cells keep their previous centroid. */
  private[vector] def lloyd(sample: Array[Array[Float]], k: Int,
      maxIter: Int): Array[Array[Double]] = {
    require(sample.nonEmpty, "IVF quantizer needs a non-empty sample")
    val n = sample.length
    val dim = sample(0).length
    val kk = math.min(k, n)
    val cents = Array.tabulate(kk)(i => normalize(sample((i.toLong * n / kk).toInt)))
    var iter = 0
    var moved = true
    while (iter < maxIter && moved) {
      val sums = Array.fill(kk)(new Array[Double](dim))
      val counts = new Array[Long](kk)
      var r = 0
      while (r < n) {
        val v = normalize(sample(r))
        val c = nearest(cents, v)
        var j = 0
        while (j < dim) { sums(c)(j) += v(j); j += 1 }
        counts(c) += 1
        r += 1
      }
      moved = false
      var c = 0
      while (c < kk) {
        if (counts(c) > 0) {
          val nc = new Array[Double](dim)
          var j = 0
          while (j < dim) { nc(j) = sums(c)(j) / counts(c); j += 1 }
          if (!java.util.Arrays.equals(nc, cents(c))) { cents(c) = nc; moved = true }
        }
        c += 1
      }
      iter += 1
    }
    cents
  }

  private def normalize(v: Array[Float]): Array[Double] = {
    var s = 0.0
    var j = 0
    while (j < v.length) { s += v(j).toDouble * v(j); j += 1 }
    val n = math.sqrt(s)
    val out = new Array[Double](v.length)
    j = 0
    while (j < v.length) { out(j) = if (n > 0) v(j) / n else 0.0; j += 1 }
    out
  }

  /** Index of the nearest centroid by squared Euclidean distance;
    * first index wins ties. */
  private def nearest(cents: Array[Array[Double]], v: Array[Double]): Int = {
    var best = 0
    var bestD = Double.MaxValue
    var c = 0
    while (c < cents.length) {
      var d = 0.0
      var j = 0
      val ct = cents(c)
      while (j < v.length && j < ct.length) {
        val x = v(j) - ct(j); d += x * x; j += 1
      }
      if (d < bestD) { bestD = d; best = c }
      c += 1
    }
    best
  }

  /** Nearest-cell column over CONSTANT centroids: the codegen'd
    * fused-loop expression [[IntVecNearestCell]] — per row, squared
    * Euclidean distance to every centroid accumulated in ascending
    * dimension order, FIRST minimum wins ties (the same lowest-cell
    * rule as [[nearest]]). Stays map-side: the centroid matrix rides
    * the expression's references, no join, no shuffle. */
  private def nearestCellExpr(qv: org.apache.spark.sql.Column,
      cents: Array[Array[Double]]): org.apache.spark.sql.Column =
    FloatVecExpr.nearestCellF(qv, cents)

  /** DISTRIBUTED bounded-rounds k-means over int8-QUANTIZED vectors —
    * the fully oracle-replayable IVF fit (contrast [[index]]'s
    * driver-sample Lloyd's, whose data-dependent iteration count and
    * float accumulation order a SQL engine cannot replay):
    *
    *  - vectors are [[Quantize.int8]] lattice points, so every
    *    centroid update is `exact-integer sum / count` — ONE
    *    identically-rounded division per coordinate, order-free by
    *    construction (the BPE two-round-unroll trick applied to
    *    k-means);
    *  - exactly `rounds` update rounds, unconditionally — no
    *    convergence test, so the oracle unrolls the same fixed CTE
    *    chain;
    *  - each round is one narrow aggregate job (nCells × dim integer
    *    sums); assignment is a map-side expression over broadcast-
    *    literal centroids. At 100 TB: `rounds + 1` corpus scans and
    *    nothing else — no driver sample cap, no per-round shuffle of
    *    the embeddings.
    *
    * Init: the quantized vectors of the `nCells` lowest vec_ids — or,
    * on a corpus of n < nCells rows, of all n, fitting n cells as
    * [[lloyd]] does. Empty cells keep their previous centroid. Returns
    * the assigned corpus (with `qv` and `cell`) and the final
    * centroids. */
  def boundedIndex(corpus: DataFrame, nCells: Int = 8, rounds: Int = 2)
      : (DataFrame, Array[Array[Double]]) = {
    val qcorpus = corpus.withColumn("qv", Quantize.int8(col("embedding")))
    // the fit reads the quantized corpus `rounds + 1` times (init
    // collect + one aggregate per round); persist only the NARROW
    // (vec_id, qv) projection for those passes, and release it before
    // returning — the returned frame re-derives qv from the corpus in
    // its own single pass, so it does not depend on this cache
    val fit = qcorpus.select(col("vec_id"), col("qv"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val seeds = fit.orderBy(col("vec_id").asc_nulls_last).limit(nCells)
        .select(col("vec_id").cast("long"), col("qv")).collect()
      // the k seeds must be vec_ids 0..k-1 (k = nCells, or n when the
      // corpus has only n < nCells rows): a sparse id range would shift
      // every later centroid index and silently mis-key cells (the
      // oracle assumes cell c was seeded from vec_id c)
      require(seeds.nonEmpty && seeds.indices.forall(i => seeds(i).get(0) == i.toLong),
        s"boundedIndex needs vec_ids 0..${nCells - 1} present (0..n-1 on an " +
          s"n-row corpus), found ${seeds.map(_.get(0)).mkString(",")}")
      var cents: Array[Array[Double]] = seeds
        .map(_.getAs[scala.collection.Seq[Int]](1).map(_.toDouble).toArray)
      val dim = cents(0).length
      for (_ <- 1 to rounds) {
        // bounded driver aggregate: nCells rows × dim exact integer sums
        val upd = fit
          .withColumn("cell", nearestCellExpr(col("qv"), cents))
          .groupBy(col("cell"))
          .agg(count(lit(1)).as("cnt"),
            array((0 until dim).map(j =>
              sum(element_at(col("qv"), j + 1)).cast("long")): _*).as("sums"))
          .collect()
        val next = cents.clone()
        upd.foreach { r =>
          val c = r.getInt(0)
          val cnt = r.getLong(1)
          next(c) = r.getAs[scala.collection.Seq[Long]]("sums")
            .map(s => s.toDouble / cnt).toArray
        }
        cents = next
      }
      (qcorpus.withColumn("cell", nearestCellExpr(col("qv"), cents)), cents)
    } finally fit.unpersist(blocking = false)
  }

  /** [[boundedIndex]] over driver rows, with no Spark job: `corpus` is
    * a frame of driver rows ([[Resident.driverRows]]) whose `vec_id`s
    * are 0..n-1. [[Quantize.int8]] and [[FloatVecExpr.nearestCellF]]
    * are Spark's own expressions, evaluated by folding a projection over
    * the rows; only the per-cell sums, exact `long`s, and the one
    * `sum / count` division per coordinate are Scala, so the centroids
    * and cells are [[boundedIndex]]'s bit for bit. Returns the assigned
    * corpus (with `qv` and `cell`) as driver rows, and the centroids. */
  private[graft] def boundedIndexRows(corpus: DataFrame, nCells: Int,
      rounds: Int): (DataFrame, Array[Array[Double]]) = {
    val spark = corpus.sparkSession
    val q = Resident.rowsOf(corpus.withColumn("qv", Quantize.int8(col("embedding"))))
    val at = (name: String) => q.output.indexWhere(_.name == name)
    val (idAt, qvAt) = (at("vec_id"), at("qv"))
    val n = q.data.length
    val k = math.min(nCells, n)
    // cell c is seeded from vec_id c, as boundedIndex requires
    val seeds = q.data.sortBy(_.getLong(idAt)).take(k)
    require(seeds.nonEmpty && seeds.indices.forall(i => seeds(i).getLong(idAt) == i),
      s"boundedIndex needs vec_ids 0..${nCells - 1} present (0..n-1 on an " +
        s"n-row corpus), found ${seeds.map(_.getLong(idAt)).mkString(",")}")
    require(q.data.forall(!_.isNullAt(qvAt)), "boundedIndex needs non-NULL embeddings")
    val frame = Resident.internalFrame(spark, q.output, q.data)
    def cells(cents: Array[Array[Double]]) =
      Resident.rowsOf(frame.select(nearestCellExpr(col("qv"), cents))).data.map(_.getInt(0))
    var cents: Array[Array[Double]] = seeds.map { r =>
      val a = r.getArray(qvAt)
      Array.tabulate(a.numElements)(a.getInt(_).toDouble)
    }.toArray
    val dim = cents(0).length
    for (_ <- 1 to rounds) {
      // the round aggregate: per cell the row count and dim exact sums
      val counts = new Array[Long](cents.length)
      val sums = Array.fill(cents.length)(new Array[Long](dim))
      q.data.zip(cells(cents)).foreach { case (r, c) =>
        val a = r.getArray(qvAt)
        counts(c) += 1
        var j = 0
        while (j < dim) { sums(c)(j) += a.getInt(j); j += 1 }
      }
      cents = cents.indices.map(c =>
        if (counts(c) == 0) cents(c) else sums(c).map(_.toDouble / counts(c))).toArray
    }
    val assigned = Resident.rowsOf(frame.withColumn("cell", nearestCellExpr(col("qv"), cents)))
    (Resident.internalFrame(spark, assigned.output, assigned.data), cents)
  }

  /** Assign each corpus row to its quantizer cell, fit on the
    * [[DefaultMaxSample]] lowest vec_ids.
    * Returns (assignedCorpus, centroids) — reuse across queries. */
  def index(corpus: DataFrame, nCells: Int): (DataFrame, Array[Array[Double]]) = {
    // vec_id sort makes the collected order — and therefore the fit —
    // independent of partitioning; limit bounds driver memory
    val sample: Array[Array[Float]] = corpus
      .select(col("vec_id"), col("embedding"))
      .orderBy(col("vec_id")).limit(DefaultMaxSample)
      .collect()
      .map(_.getAs[scala.collection.Seq[Float]]("embedding").toArray)
    val centroids = lloyd(sample, nCells, MaxIter)
    val bc = corpus.sparkSession.sparkContext.broadcast(centroids)
    val assignUdf = udf((v: scala.collection.Seq[Float]) =>
      nearest(bc.value, normalize(v.toArray)))
    val assigned = corpus.withColumn("cell", assignUdf(col("embedding")))
    (assigned, centroids)
  }

  /** Probe step: per query, the `nProbe` nearest quantizer cells by
    * cosine against the FLOAT-cast centroids (ties → lowest cell).
    * Output (query_id, q_embedding, cell) — tiny: |queries| × nProbe. */
  private[vector] def probe(queries: DataFrame, centroids: Array[Array[Double]],
      nProbe: Int): DataFrame = {
    val spark = queries.sparkSession
    import spark.implicits._
    // centroid table is tiny → crossJoin(broadcast) to score cells
    val cents = centroids.zipWithIndex
      .map { case (c, i) => (i, c.map(_.toFloat).toSeq) }
      .toSeq.toDF("cell", "centroid")
    queries.crossJoin(broadcast(cents))
      .withColumn("cdist",
        FloatVecExpr.dotF(col("q_embedding"), col("centroid")) /
          (FloatVecExpr.normF(col("q_embedding")) * FloatVecExpr.normF(col("centroid"))))
      .withColumn("crank", row_number().over(
        Window.partitionBy(col("query_id")).orderBy(desc("cdist"), col("cell"))))
      .filter(col("crank") <= nProbe)
      .select(col("query_id"), col("q_embedding"), col("cell"))
  }

  /** Fine search: equi-join corpus ⋈ probed on cell — only probed
    * slices are scanned — then exact cosine, rank, top-k. The
    * reference the resident [[Segments.topK]] mirrors, so their scores
    * are bit-identical. */
  private def fineSearch(assignedCorpus: DataFrame, probed: DataFrame,
      k: Int): DataFrame = {
    val w = Window.partitionBy(col("query_id"))
      .orderBy(desc("cos_sim"), col("vec_id"))
    assignedCorpus.join(broadcast(probed), "cell")
      .withColumn("cos_sim",
        round(FloatVecExpr.dotF(col("embedding"), col("q_embedding")) /
          (FloatVecExpr.normF(col("embedding")) *
            FloatVecExpr.normF(col("q_embedding"))), 6))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("vec_id"), col("cos_sim"))
  }

  /** Top-k per query, probing the `nProbe` nearest cells. `queries`
    * carries (query_id, q_embedding). */
  def topK(assignedCorpus: DataFrame, centroids: Array[Array[Double]],
      queries: DataFrame, k: Int, nProbe: Int = 4): DataFrame =
    fineSearch(assignedCorpus, probe(queries, centroids, nProbe), k)

  /** Top-k served from a LOADED index ([[loadIndex]]) by the resident
    * scorer, with no Spark job: the first serve of a loaded pair builds
    * its [[Segments]] (one collect of the cell files), and every serve
    * after that probes and scores them on the driver. The queries'
    * `query_id` and `q_embedding` are read with [[graft.io.Resident
    * .columns]]: from the folded plan when the frame is driver rows (a
    * frame built from a local `Seq`), with no job and no planning.
    * Rows, values, types and `(desc cos_sim, vec_id)` ties are those of
    * [[topK]]'s Column trees over the same index (the equality
    * AnnIvfSpec pins), returned as a LocalRelation frame with the
    * caller's spelling of `query_id`. A pair the load memo does not hold
    * is collected again on every call, with a warning ([[resident]]). */
  def topKIndexed(corpusFromDisk: DataFrame, centroids: Array[Array[Double]],
      queries: DataFrame, k: Int, nProbe: Int = 4): DataFrame = {
    val spark = queries.sparkSession
    val seg = resident(corpusFromDisk, centroids)
    val (Seq(qid, _), rows) = Resident.columns(queries, "query_id", "q_embedding")
    Resident.internalFrame(spark,
      Seq(qid.newInstance(), AttributeReference("rank", IntegerType, nullable = false)(),
        DataTypeUtils.toAttribute(seg.idField), AttributeReference("cos_sim", DoubleType)()),
      seg.topK(rows.map(r => (r.get(0, qid.dataType), Resident.floats(r, 1))), k, nProbe,
        Resident.ansi(spark)).map(h =>
        InternalRow(h.queryId, h.rank, Resident.idValue(h.id, seg.idField.dataType), h.score)))
  }

  /** Persist an index: the assigned corpus lands `partitionBy("cell")`
    * and the centroids as one tiny parquet. A loaded index serves
    * [[topK]] with STORAGE-level pruning — the `cell` equi-join
    * becomes a partition filter, so only the probed nProbe/nCells of
    * the files are read at all. This is the parquet-native stand-in
    * for the reference's ChromaDB persistence
    * (`/root/reference/Chunking_Strats/chromadb_rag.py:103-110`). */
  def saveIndex(assigned: DataFrame, centroids: Array[Array[Double]],
      path: String): Unit = {
    assigned.write.mode("overwrite").partitionBy("cell")
      .parquet(s"$path/corpus")
    val spark = assigned.sparkSession
    import spark.implicits._
    centroids.zipWithIndex.map { case (c, i) => (i, c.toSeq) }.toSeq
      .toDF("cell", "centroid")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/centroids")
  }

  /** One probed cell of a resident index, rows in vec_id order. */
  private final class CellRows(val ids: Array[Long],
      val vecs: Array[Array[Float]], val norms: Array[java.lang.Double])

  /** Driver-resident, column-packed copy of one loaded IVF index: per
    * cell the vec_ids, float embeddings and their precomputed norms;
    * the float-cast centroids and their norms; and, when the corpus
    * carries `source`/`text`, the citation of every vec_id. Immutable
    * once built, so concurrent serves share it without locking.
    * Memory is about the corpus's embedding and text bytes — the
    * store must fit the driver heap (serving larger stores from the
    * executors is out of scope here). */
  private[graft] final class Segments(val idField: StructField,
      cells: Map[Int, CellRows], cents: Array[Array[Float]],
      centNorms: Array[java.lang.Double],
      citations: Map[Long, (String, String)]) {

    /** [[topK]]'s probe and fine search on one batch: per query id,
      * the `nProbe` nearest cells by `dotF / (normF · normF)` against
      * the float centroids (ties → lowest cell), then every row of
      * those cells scored `round(dotF / (normF · normF), 6)` and cut
      * at `k` by (desc cos_sim, vec_id). Division and NULLs follow
      * Spark's, so a zero-vector query raises DIVIDE_BY_ZERO under
      * ANSI and scores NULL without it, as the Column trees do. */
    def topK(queries: Seq[(Any, Array[Float])], k: Int, nProbe: Int,
        ansi: Boolean): Seq[graft.io.Resident.Hit] = {
      import graft.io.Resident.{divide, round6}
      graft.io.Resident.byQuery(queries).flatMap { case (qid, vecs) =>
        val qs = vecs.map(v => (v, norm(v)))
        val probes = for ((q, qn) <- qs; c <- cents.indices)
          yield ((q, qn), c, divide(dotN(q, cents(c)), mul(qn, centNorms(c)), ansi))
        val probed = graft.io.Resident.topBy(probes, nProbe)(_._3, _._2.toLong)
        val scored = probed.flatMap { case ((q, qn), c, _) =>
          cells.get(c).toSeq.flatMap { cell =>
            cell.ids.indices.map(i => (cell.ids(i),
              round6(divide(dotN(cell.vecs(i), q), mul(cell.norms(i), qn), ansi))))
          }
        }
        graft.io.Resident.rankTopK(qid, scored, k)
      }
    }

    /** (source, text) of a vec_id — the citation join-back. */
    def citation(id: Long): Option[(String, String)] = citations.get(id)
  }

  private def dotN(a: Array[Float], b: Array[Float]): java.lang.Double =
    if (a == null || b == null) null else FloatVecExpr.dot(a, b)

  private def norm(v: Array[Float]): java.lang.Double =
    if (v == null) null else math.sqrt(FloatVecExpr.dot(v, v))

  private def mul(a: java.lang.Double, b: java.lang.Double): java.lang.Double =
    if (a == null || b == null) null else a * b

  /** Read a corpus into [[Segments]] with [[Resident.columns]]: driver
    * rows (the build's) are read from their folded plan, a loaded parquet
    * corpus by one job. Embeddings decode straight into primitive float
    * arrays (NULL elements, which no embedder emits, read as 0).
    * `idField` is the `vec_id` field the served answers carry. */
  private def loadSegments(corpus: DataFrame, centroids: Array[Array[Double]],
      idField: StructField): Segments = {
    val cited = Seq("source", "text").forall(corpus.columns.contains)
    val (id +: _, rows) = Resident.columns(corpus,
      Seq("vec_id", "cell", "embedding") ++ (if (cited) Seq("source", "text") else Nil): _*)
    def vecId(r: InternalRow) = Resident.idAt(r, 0, id.dataType)
    val cells = rows.groupBy(_.getInt(1)).map { case (c, rs) =>
      val sorted = rs.map(r => (vecId(r), Resident.floats(r, 2))).sortBy(_._1)
      c -> new CellRows(sorted.map(_._1).toArray, sorted.map(_._2).toArray,
        sorted.map(r => norm(r._2)).toArray)
    }
    val citations =
      if (!cited) Map.empty[Long, (String, String)]
      else rows.iterator.map(r =>
        vecId(r) -> ((Resident.string(r, 3), Resident.string(r, 4)))).toMap
    val cents = centroids.map(_.map(_.toFloat))
    new Segments(idField, cells, cents, cents.map(norm), citations)
  }

  /** A memoized load: the pair [[loadIndex]] hands out, and its
    * resident [[Segments]], built once on the first serve (a lazy val:
    * concurrent first serves wait for one build, and every serve sees
    * the fully built segments). */
  private final class Loaded(val pair: (DataFrame, Array[Array[Double]]),
      build: => Segments) {
    lazy val segments: Segments = build
  }

  /** Loads per (session UUID, path), in the engine's one
    * [[graft.io.Memo]] (16 entries, single-flight): the centroid
    * collect is a driver-side Spark job that an O(1) epoch-hit serve
    * must not pay again. Paths are content-addressed (fresh TempDirs
    * per rebuild), so an entry never goes stale, and the bound keeps
    * an epoch-moving consumer from retaining every superseded version;
    * it also bounds the resident copies each entry holds once served. */
  private val loaded =
    new graft.io.Memo[(String, String), Loaded]("Ivf.loadIndex", 16)

  /** The load memo's counters — for specs. */
  private[graft] def loadStats: graft.io.Memo.Stats = loaded.stats

  private val logger = org.apache.log4j.Logger.getLogger("graft.Ivf")

  def loadIndex(spark: org.apache.spark.sql.SparkSession,
      path: String): (DataFrame, Array[Array[Double]]) =
    // Sessions.uuid, not identityHashCode — unique per session and
    // never reused after GC (see graft.io.Sessions)
    loaded.getOrBuild((graft.io.Sessions.uuid(spark), path)) {
      val corpus = spark.read.parquet(s"$path/corpus")
      val cents = spark.read.parquet(s"$path/centroids")
        .orderBy("cell").collect()
        .map(_.getAs[scala.collection.Seq[Double]]("centroid").toArray)
      new Loaded((corpus, cents), loadSegments(corpus, cents, corpus.schema("vec_id")))
    }.pair

  /** Save an index whose assigned corpus is driver rows (from
    * [[boundedIndexRows]]) to `path`, in [[saveIndex]]'s layout, and hold
    * it as the [[loadIndex]] entry of `path`: the corpus as a lazy
    * parquet read (its schema given, so opening it runs no
    * schema-inference job), the centroids as fit, and the resident
    * [[Segments]] built now from the same rows, so the first serve runs
    * no job. */
  private[graft] def saveResident(assigned: DataFrame,
      centroids: Array[Array[Double]], path: String): Unit = {
    val spark = assigned.sparkSession
    // rows in cell order: each slice of the local scan then writes its
    // own few cell directories, and the slices write in parallel
    val rows = Resident.rowsOf(assigned)
    val cell = rows.output.indexWhere(_.name == "cell")
    saveIndex(Resident.internalFrame(spark, rows.output, rows.data.sortBy(_.getInt(cell))),
      centroids, path)
    val corpus = spark.read.schema(ColumnShim.asNullable(assigned.schema))
      .parquet(s"$path/corpus")
    val segments = loadSegments(assigned, centroids, corpus.schema("vec_id"))
    loaded.getOrBuild((graft.io.Sessions.uuid(spark), path))(
      new Loaded((corpus, centroids), segments))
  }

  /** The resident [[Segments]] of a loaded pair: its memo entry's,
    * found by reference. A pair not held there — not from [[loadIndex]],
    * or evicted — is collected again, uncached, on every call: logged
    * and counted as a miss in [[loadStats]]. */
  private[graft] def resident(corpus: DataFrame,
      centroids: Array[Array[Double]]): Segments =
    loaded.find(e => (e.pair._1 eq corpus) && (e.pair._2 eq centroids))
      .fold {
        logger.warn("an IVF pair not held by the loadIndex memo is served: " +
          "collecting its whole store again")
        loadSegments(corpus, centroids, corpus.schema("vec_id"))
      }(_.segments)

  /** One saved index per cache key per JVM (build-once-serve-many,
    * same [[graft.io.SavedIndex]] staleness contract as [[graft.text
    * .Bm25.ensureSavedIndex]]): first call fits + assigns + persists
    * single-flight; every call re-checks the offered corpus (content
    * fingerprint scan, or an O(1) caller `epoch` token — see
    * SavedIndex's serve-cost policy) and a mismatch rebuilds into a
    * fresh directory (the superseded one parked for one rebuild
    * cycle, then reclaimed — SavedIndex's bounded-retention
    * contract) — an upserted corpus can never be served from the
    * pre-upsert index. */
  private val savedIndexes = new graft.io.SavedIndex("graft-ivf-idx")

  // corpus is BY-NAME through the ensure* surface (evaluated at most
  // once, via the lazy val in each caller): an epoch-hit serve must
  // never pay the corpus CONSTRUCTION, which can itself be a Spark job
  // (SavedIndex doc)
  private def ensureWith(cacheKey: String, corpus: => DataFrame,
      epoch: Option[String])(
      build: () => (DataFrame, Array[Array[Double]])): String =
    savedIndexes.ensure(cacheKey, corpus, epoch) { p =>
      val (assigned, cents) = build()
      saveIndex(assigned, cents, p)
    }

  def ensureSavedIndex(corpus: => DataFrame, nCells: Int,
      cacheKey: String, epoch: Option[String] = None): String = {
    lazy val c = corpus
    ensureWith(cacheKey, c, epoch)(() => index(c, nCells))
  }

  /** [[ensureSavedIndex]] for the DISTRIBUTED [[boundedIndex]] fit:
    * the `rounds + 1` corpus scans of the k-means run ONCE per cache
    * key per JVM, then every serve scores the resident copy of the
    * persisted `partitionBy("cell")` layout ([[topKIndexed]]) — the
    * build/serve split a persistent vector store actually runs
    * (fit offline, probe online), applied to the oracle-replayable
    * fit. Floats and the double centroids round-trip parquet
    * losslessly, and the resident scorer mirrors [[fineSearch]]'s
    * Column trees, so served scores are bit-identical. */
  def ensureSavedBoundedIndex(corpus: => DataFrame, nCells: Int,
      rounds: Int, cacheKey: String, epoch: Option[String] = None): String = {
    lazy val c = corpus
    ensureWith(cacheKey, c, epoch)(() => boundedIndex(c, nCells, rounds))
  }
}
