package ragbench

import graft.dedup.{Clusters, Dedup}
import graft.io.ResultCache
import graft.pipeline.RagPipeline
import graft.rel.Rel
import graft.stats.ChunkStats
import graft.text.Bm25
import graft.text.chunk.Chunker
import graft.textan.TextAnalysis
import graft.vector.{HashingEmbedder, Ivf, VectorOps}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** What one workload run measures. [[prepare]] and [[warmUp]] are the
  * workload's own set-up, with a full collection between them; [[op]] does
  * one request and returns its output check, which the caller runs after
  * it has stopped the clock. */
trait Workload {
  def prepare(): Unit
  /** Requests like the measured ones, run after [[prepare]]'s garbage
    * and the Spark cleanup it triggers are gone. */
  def warmUp(): Unit
  def op(i: Int, t: Trace): () => Boolean
  /** Output quality against the generated ground truth, after the
    * measured window. */
  def verify(): Verdict
  /** Layer counts this workload knows without spans. */
  def layerCounts(): Map[String, Double] = Map.empty
  /** Called when the measured window starts. */
  def beginWindow(): Unit = ()
  /** Seconds of each part of [[prepare]], for the report. */
  def prepareParts: Map[String, Double] = Map.empty
}

/** Recall and precision of a run's output against the generated truth;
  * `ok` is false when a whole-run output check failed. */
final case class Verdict(recall: Double, precision: Double, ok: Boolean,
    notes: Seq[String])

object Workloads {
  val Strategy = "recursive"
  val Embedder = HashingEmbedder(64)

  def apply(name: String, spark: SparkSession, inputs: String, work: String,
      seed: Long, trace: Trace): Workload = name match {
    case "rag_serve" => new RagServe(spark, inputs, work, seed, trace)
    case "viewer" => new Viewer(spark, inputs, seed)
    case other => throw new IllegalArgumentException(s"unknown workload: $other")
  }

  /** Store rows keyed `{source}_chunk_{index}`, the id buildStore uses. */
  def withChunkId(chunks: DataFrame): DataFrame =
    chunks.withColumn("id",
      concat(col("source"), lit("_chunk_"), col("chunk_index")))

  /** Persist and count, so that a traced span holds its stage's work. */
  def materialize(df: DataFrame): DataFrame = {
    val p = df.persist(StorageLevel.MEMORY_AND_DISK)
    p.count()
    p
  }

  /** Bytes on disk of the files behind some DataFrames. */
  def fileBytes(dfs: DataFrame*): Double =
    dfs.flatMap(_.inputFiles).distinct.map { p =>
      new java.io.File(new java.net.URI(p).getPath).length.toDouble
    }.sum

  /** Rows of a tab-separated file with a header line, as column -> cell. */
  def tsv(path: String): IndexedSeq[Map[String, String]] = {
    val src = scala.io.Source.fromFile(path, "UTF-8")
    try {
      val lines = src.getLines().toIndexedSeq
      val header = lines.head.split("\t", -1).toSeq
      lines.tail.map(l => header.zip(l.split("\t", -1)).toMap)
    } finally src.close()
  }

  def seconds[T](body: => T): (T, Double) = {
    val t = System.nanoTime()
    val v = body
    (v, (System.nanoTime() - t) / 1e9)
  }
}

import Workloads._

/** Set-up builds the store: kept parquet → chunk → embed → saved IVF +
  * BM25 pair under a fresh key and epoch → chunk stats. One request is then
  * an 8-token query served by hybridIndexedServe from that pair (stable
  * epoch), then assembleContext, then collected.
  *
  * An untraced run builds from the generated kept set, the corpus without
  * its planted duplicates. A traced run runs the whole ingest path instead:
  * curation (quality scores → exact dedup → MinHash candidates →
  * components → non-canonical documents dropped → kept set written to
  * parquet) and then the build. It ingests three times — untraced, traced,
  * untraced — so the cost of materializing each stage shows as the traced
  * ingest minus the second untraced one. */
final class RagServe(spark: SparkSession, inputs: String, work: String,
    seed: Long, trace: Trace) extends Workload {
  import spark.implicits._
  private def docs = spark.read.parquet(s"$inputs/docs.parquet")
  // ground truth: the planted group of each document (its original's id)
  private val group: Map[Long, Long] = {
    val p = tsv(s"$inputs/planted.tsv")
      .map(r => r("dup_doc_id").toLong -> r("orig_doc_id").toLong)
    p.toMap ++ p.map(_._2).map(o => o -> o)
  }
  private val queries = tsv(s"$inputs/queries.tsv").map(r =>
    Query(r("query_id").toLong, r("query_text"), r("source"), r("span_text")))
  // the first queries warm up; the rest are measured, in a fixed order
  private val warm = queries.take(RagServe.WarmQueries)
  private val pool = queries.drop(RagServe.WarmQueries)
  private val epoch = Some("epoch-1")
  private var key = ""
  private var kept = ""
  private def store =
    withChunkId(Embedder.embed(Chunker(Strategy).chunk(spark.read.parquet(kept))))
  private var clusters = Array.empty[Row]
  private var index: (DataFrame, Bm25.Bm25Index, Long) = _
  private val ingestSeconds = scala.collection.mutable.Map.empty[String, Double]
  private var batch = Map.empty[Long, String]

  def prepare(): Unit = {
    val passes = if (trace.enabled) Seq("untraced_0", "traced", "untraced")
      else Seq("untraced")
    passes.foreach { p =>
      key = s"ragbench-serve-$seed-$p"
      val t = if (p == "traced") trace else Trace.Off
      ingestSeconds(p) = seconds(t.span("ingest", -1) {
        if (trace.enabled) {
          kept = s"$work/kept-$p.parquet"
          curate(t)
        } else kept = s"$inputs/kept.parquet"
        build(t)
      })._2
    }
    // every measured query once, as one batch: this gives hit_at_5 (the
    // same set for every run of a seed) and warms the serve path, and each
    // single-query request must answer as this batch did
    val (b, batchS) = seconds(serve(pool.toSeq, -1, Trace.Off))
    batch = b.map(r => r.getLong(0) -> r.getString(1)).toMap
    parts = ingestSeconds.map { case (p, s) => s"ingest.$p" -> s }.toMap ++
      Map("batch_serve" -> batchS)
  }

  def warmUp(): Unit = warm.zipWithIndex.foreach { case (q, i) =>
    serve(Seq(q), -1 - i, Trace.Off)
  }

  private var parts = Map.empty[String, Double]
  override def prepareParts: Map[String, Double] = parts

  private def curate(t: Trace): Unit = {
    def stage(name: String)(df: => DataFrame): DataFrame =
      t.span(name, -1)(if (t.enabled) materialize(df) else df)
    val scored = stage("textan.quality")(TextAnalysis.withQuality(docs))
    val unique = stage("dedup.exact")(Dedup.dropExactDuplicates(scored))
    val pairs = stage("dedup.minhash")(Dedup.minhashCandidates(unique))
    val canon = t.span("dedup.components", -1) {
      val c = Clusters.canonicalize(unique, pairs).persist()
      if (t.enabled) c.count()
      c
    }
    t.span("io.write", -1) {
      unique.join(canon.filter(!col("is_canonical")).select(col("doc_id")),
          Seq("doc_id"), "left_anti")
        .write.mode("overwrite").parquet(kept)
    }
    clusters = canon.select(col("doc_id"), col("cluster_id")).collect()
    Seq(canon, pairs, unique, scored).foreach(_.unpersist())
  }

  private def build(t: Trace): Unit = {
    val chunks = t.span("text.chunk", -1) {
      val c = Chunker(Strategy).chunk(spark.read.parquet(kept))
      if (t.enabled) materialize(c) else c
    }
    val embedded = t.span("vector.embed", -1) {
      val e = withChunkId(Embedder.embed(chunks))
      if (t.enabled) materialize(e) else e
    }
    val (disk, _, bm) = t.span("pipeline.ensure_indexed", -1) {
      RagPipeline.ensureIndexedServe(spark, embedded, key, epoch)
    }
    val stats = t.span("stats.summary", -1)(ChunkStats.summary(chunks).collect())
    if (t.enabled) { embedded.unpersist(); chunks.unpersist() }
    index = (disk, bm, stats.map(_.getLong(1)).sum)
  }

  private def embedQueries(qs: Seq[Query]): DataFrame =
    Embedder.embed(qs.map(q => (q.id, q.text)).toDF("query_id", "query_text"),
      textCol = "query_text", out = "q_embedding")

  /** Context rows (query_id, context) for a batch of queries. */
  private def serve(qs: Seq[Query], i: Int, t: Trace): Array[Row] =
    if (!t.enabled)
      VectorOps.assembleContext(RagPipeline.hybridIndexedServe(spark, store,
        embedQueries(qs), key, epoch)).collect()
    else {
      // the calls hybridIndexedServe makes, each collected on its own so
      // that its span holds its work
      val q = t.span("vector.embed", i)(local(embedQueries(qs)))
      val (disk, cents, bm) = t.span("io.savedindex.ensure", i) {
        RagPipeline.ensureIndexedServe(spark, store, key, epoch)
      }
      val dense = t.span("vector.ivf.serve", i)(local(
        Ivf.topKIndexed(disk, cents, q.select(col("query_id"), col("q_embedding")),
          RagPipeline.TopK * 2, nProbe = RagPipeline.IndexedProbe)
          .select(col("query_id"), col("rank"), col("vec_id").as("doc_id"))))
      val lex = t.span("text.bm25.serve", i)(local(
        Bm25.topKIndexed(bm, q.select(col("query_id"), col("query_text").as("qtext")),
          RagPipeline.TopK * 2).select(col("query_id"), col("rank"), col("doc_id"))))
      val topk = t.span("text.bm25.fuse", i) {
        val fused = local(Bm25.rrfFuse(dense, lex, RagPipeline.TopK))
        val ids = fused.select(col("doc_id")).collect().map(_.getLong(0)).toSeq
        local(fused.withColumnRenamed("doc_id", "vec_id")
          .join(disk.filter(col("vec_id").isin(ids: _*))
            .select(col("vec_id"), col("source"), col("text")), "vec_id")
          .select(col("query_id"), col("rank"), col("source"), col("text")))
      }
      t.span("vector.context", i)(VectorOps.assembleContext(topk).collect())
    }

  /** A collected, re-parallelized copy of a small result. */
  private def local(df: DataFrame): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(df.collect(): _*), df.schema)

  def op(i: Int, t: Trace): () => Boolean = {
    val q = pool(i % pool.length)
    val rows = serve(Seq(q), i, t)
    // ranks 1..5 with non-empty citations, and the batch's answer
    () => rows.length == 1 && rows.head.getLong(0) == q.id &&
      RagServe.citations(rows.head.getString(1)).isDefined &&
      batch.get(q.id).contains(rows.head.getString(1))
  }

  def verify(): Verdict = {
    val hits = pool.map { q =>
      RagServe.citations(batch.getOrElse(q.id, "")).getOrElse(Nil)
        .count { case (src, text) => src == q.source && text.contains(q.span) }
    }
    // the store holds one row per distinct chunk id of the same input
    val (disk, _, _) = index
    val stored = disk.count()
    val ids = store.select(col("id")).distinct().count()
    val curation = if (!trace.enabled)
      (true, s"built from the generated kept set; curation runs in traced runs")
    else {
      val d = dedup
      (d.justified, s"curation removed ${d.removed} of ${d.docs} docs, " +
        s"${d.correct} of them planted duplicates (${d.expected} planted); " +
        "every removed doc " + (if (d.justified) "shares" else "does NOT share") +
        " a cluster with a kept one")
    }
    Verdict(hits.count(_ > 0).toDouble / pool.length,
      hits.sum.toDouble / (pool.length * RagPipeline.TopK),
      stored == ids && curation._1,
      Seq(s"hit_at_5 over one batch serve of the ${pool.length} measured queries",
        s"store rows $stored, distinct chunk ids $ids", curation._2))
  }

  private lazy val dedup: Curation.Outcome = {
    val md5Of = docs.select(col("doc_id"), md5(col("text"))).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val keptIds = spark.read.parquet(kept).select(col("doc_id")).collect()
      .map(_.getLong(0)).toSet
    Curation.outcome(md5Of, clusters, keptIds, group)
  }

  override def layerCounts(): Map[String, Double] = {
    val (disk, bm, chunks) = index
    val textMb = docs.agg(sum(col("n_chars"))).head().getLong(0) / 1e6
    // the ingest's candidate pairs again, outside the timed window
    val candidates = Dedup.minhashCandidates(Dedup.dropExactDuplicates(docs))
      .select(col("doc_a"), col("doc_b")).collect()
    val useful = candidates.count(r =>
      group.get(r.getLong(0)).exists(g => group.get(r.getLong(1)).contains(g)))
    val d = dedup
    Map(
      "text.chunk.chunks" -> chunks.toDouble,
      "text.bm25.postings" -> bm.postings.count().toDouble,
      "io.index_bytes_per_text_byte" ->
        fileBytes(disk, bm.postings, bm.docLen, bm.dfreq, bm.stats) / (textMb * 1e6),
      "dedup.candidate_pairs" -> candidates.length.toDouble,
      "dedup.candidate_precision" -> useful.toDouble / math.max(candidates.length, 1),
      "dedup_recall" -> d.correct.toDouble / d.expected,
      "dedup_precision" -> d.correct.toDouble / math.max(d.removed, 1),
      "io.bytes_written" -> fileBytes(spark.read.parquet(kept)),
      "ingest.text_mb" -> textMb) ++
      ingestSeconds.map { case (p, s) => s"ingest.${p}_s" -> s }
  }
}

final case class Query(id: Long, text: String, source: String, span: String)

object RagServe {
  val WarmQueries = 4

  /** Citations of an assembled context as (source, text) by rank, when
    * the ranks are exactly 1..5 and every citation is non-empty. */
  def citations(context: String): Option[Seq[(String, String)]] = {
    val marker = """(?:^|\n\n)Source \[(\d+)\] \(([^)]*)\): """.r
    val ms = marker.findAllMatchIn(context).toSeq
    val cites = ms.zipWithIndex.map { case (m, j) =>
      val end = if (j + 1 < ms.length) ms(j + 1).start else context.length
      (m.group(1).toInt, m.group(2), context.substring(m.end, end))
    }
    if (cites.map(_._1) == (1 to RagPipeline.TopK) &&
        cites.forall(c => c._2.nonEmpty && c._3.trim.nonEmpty))
      Some(cites.map(c => (c._2, c._3)))
    else None
  }
}

object Curation {
  /** What curation removed, judged against the planted truth. */
  final case class Outcome(docs: Int, removed: Int, expected: Int,
      correct: Int, justified: Boolean)

  def outcome(md5Of: Map[Long, String], clusters: Array[Row], kept: Set[Long],
      group: Map[Long, Long]): Outcome = {
    val removed = md5Of.keySet -- kept
    // a planted group of n documents should lose exactly n - 1 of them
    val expected = group.values.groupBy(identity).values.map(_.size - 1).sum
    val groupsKept = kept.flatMap(group.get)
    val correct = removed.count(d => group.get(d).exists(groupsKept.contains))
    Outcome(md5Of.size, removed.size, expected, correct,
      removalsJustified(md5Of, clusters, kept))
  }

  /** Every removed document shares a cluster with a kept one, where exact
    * copies (same md5) and MinHash components both count as clusters. */
  def removalsJustified(md5Of: Map[Long, String], clusters: Array[Row],
      kept: Set[Long]): Boolean = {
    val parent = scala.collection.mutable.Map.empty[Any, Any]
    def find(x: Any): Any = {
      val p = parent.getOrElse(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    def union(a: Any, b: Any): Unit = {
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(ra) = rb
    }
    md5Of.foreach { case (d, h) => union(d, "md5:" + h) }
    clusters.foreach(r => union(r.getLong(0), "cluster:" + r.getLong(1)))
    val rootsWithKept = kept.map(find)
    (md5Of.keySet -- kept).forall(d => rootsWithKept.contains(find(d)))
  }
}

/** One request: a filter spec rendered as SQL through ResultCache.sqlCached,
  * the page collected, then Rel.valueCounts on the page's frame. */
final class Viewer(spark: SparkSession, inputs: String, seed: Long)
    extends Workload {
  Seq("lineitem", "orders").foreach { t =>
    spark.read.parquet(s"$inputs/$t.parquet").createOrReplaceTempView(t)
  }
  private val specs = tsv(s"$inputs/specs.tsv").map(Viewer.Spec(_))
  private val requests = tsv(s"$inputs/requests.tsv").map(_("spec_id").toInt)
  private val ttlMillis = 10 * 60 * 1000L
  private var hits, misses, checked, matched = 0
  private var rowsChecked, rowsMatched = 0L

  // warm-up runs specs from the pool's tail, which the request sequence
  // never reaches
  def prepare(): Unit = ()

  def warmUp(): Unit = (1 to Viewer.WarmRequests).foreach { j =>
    request(specs(specs.length - j), -j, Trace.Off)
  }

  private def request(s: Viewer.Spec, i: Int, t: Trace): (DataFrame, Array[Row]) = {
    val sql = s.sql
    val hit = ResultCache.lookup(spark, sql).isDefined
    if (hit) hits += 1 else misses += 1
    val page = t.span(if (hit) "rel.hit" else "rel.miss", i) {
      val df = ResultCache.sqlCached(spark, sql, ttlMillis)
      (df, df.collect())
    }
    t.span("rel.value_counts", i)(Rel.valueCounts(page._1, s.countCol).collect())
    page
  }

  def op(i: Int, t: Trace): () => Boolean = {
    val s = specs(requests(i % requests.length))
    val (_, rows) = request(s, i, t)
    // a seeded sample of requests is re-run uncached and compared
    val sampled = Math.floorMod(
      scala.util.hashing.MurmurHash3.productHash((seed, i)), 4) == 0
    () => if (!sampled) rows.length <= 100 else {
      val ref = Rel.page(Rel.applyFilters(spark.table(s.table), s.filters),
        s.orderCols, 100, s.offset).collect()
      checked += 1
      rowsChecked += ref.length
      rowsMatched += ref.zip(rows).count { case (a, b) => a == b }
      val same = ref.toSeq == rows.toSeq
      if (same) matched += 1
      same
    }
  }

  def verify(): Verdict =
    Verdict(rowsMatched.toDouble / math.max(rowsChecked, 1L),
      matched.toDouble / math.max(checked, 1), checked > 0,
      Seq(s"$checked sampled pages compared with an uncached " +
        s"applyFilters + page; $matched equal"))

  override def layerCounts(): Map[String, Double] =
    Map("io.resultcache.hit_rate" -> hits.toDouble / math.max(hits + misses, 1))

  override def beginWindow(): Unit = { hits = 0; misses = 0 }
}

object Viewer {
  val WarmRequests = 8

  final case class Spec(table: String, eqCol: String, eqVal: String,
      numCol: String, numLo: Double, numHi: Double, dateCol: String,
      dateLo: String, dateHi: String, offset: Int) {
    def filters: Seq[Rel.FilterSpec] = Seq(Rel.Eq(eqCol, eqVal),
      Rel.NumBetween(numCol, numLo, numHi), Rel.DateBetween(dateCol, dateLo, dateHi))
    def keys: Seq[String] =
      if (table == "lineitem") Seq("l_orderkey", "l_linenumber") else Seq("o_orderkey")
    def orderCols = keys.map(col)
    def countCol: String = if (table == "lineitem") "l_linestatus" else "o_orderpriority"
    def sql: String =
      s"SELECT * FROM $table WHERE $eqCol = '$eqVal' " +
        s"AND $numCol BETWEEN $numLo AND $numHi " +
        s"AND $dateCol BETWEEN to_date('$dateLo', 'yyyy-MM-dd') " +
        s"AND to_date('$dateHi', 'yyyy-MM-dd') " +
        s"ORDER BY ${keys.mkString(", ")} LIMIT 100 OFFSET $offset"
  }

  object Spec {
    def apply(r: Map[String, String]): Spec = Spec(r("tbl"), r("eq_col"),
      r("eq_val"), r("num_col"), r("num_lo").toDouble, r("num_hi").toDouble,
      r("date_col"), r("date_lo"), r("date_hi"), r("page_offset").toInt)
  }
}
