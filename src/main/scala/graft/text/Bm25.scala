package graft.text

import graft.io.Caches.TrackedPersistOps
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeReference,
  BindReferences, Expression}
import org.apache.spark.sql.catalyst.plans.logical.Project
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.ColumnShim
import org.apache.spark.sql.types.{DoubleType, IntegerType, StringType, StructField,
  StructType}
import org.apache.spark.unsafe.types.UTF8String

/** BM25 lexical retrieval — the classic sparse complement to the
  * dense cosine path ([[graft.vector.Ann]]): Okapi BM25 with
  * k1 = 1.2, b = 0.75, idf = ln(1 + (N − df + ½)/(df + ½)).
  *
  * Scale shape (the part that matters at 100 TB):
  *  - postings (doc, term, tf) are one explode + one aggregate over
  *    the corpus — the same shape as the minhash signature pass;
  *  - the QUERY side is tiny and broadcast: postings are semi-joined
  *    down to query terms BEFORE any stats join, so only the posting
  *    lists of queried terms ever move — the inverted-index access
  *    pattern, expressed relationally;
  *  - per-term df is an aggregate bounded by vocabulary, joined only
  *    for queried terms; corpus-level N/avgdl is a single broadcast
  *    row (no collect);
  *  - per-query top-k goes through the row_number window that
  *    [[graft.plans.RewriteTopKWindow]] rewrites to the bounded-heap
  *    TopKPerKey operator — no per-query sort of the whole score
  *    list.
  *
  * Spark is the build tier only: a SAVED index is served from a
  * driver-resident copy ([[topKIndexed]]), with no Spark job per
  * request.
  *
  * Scores are rounded to 6 decimals BEFORE ranking so the ordering
  * (and the DuckDB oracle's) cannot depend on float summation order.
  */
object Bm25 {

  /** Okapi BM25's term-frequency saturation and length normalization. */
  private val K1 = 1.2
  private val B = 0.75

  /** The reciprocal-rank fusion constant: a rank-r hit adds 1/(RrfC + r). */
  private val RrfC = 60.0

  /** The four relational pieces of a BM25 index. */
  case class Bm25Index(postings: DataFrame, docLen: DataFrame,
      dfreq: DataFrame, stats: DataFrame)

  /** A query's distinct lowercase tokens, first occurrence first —
    * the one term expression both serve paths evaluate. */
  private[graft] def queryTermArray(qtext: Column): Column =
    array_distinct(Tok.tokens(lower(qtext)))

  private def queryTerms(queries: DataFrame): DataFrame = queries
    .select(col("query_id"), explode(queryTermArray(col("qtext"))).as("term"))

  /** [[queryTermArray]] as each session analyzes it over one string
    * column: the expression and the attribute it reads. Held weakly per
    * session, like [[graft.io.Sessions]]. */
  private val termExpressions = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[SparkSession, (Expression, Attribute)]())

  /** Each text's distinct lowercase terms (a NULL text has none), from
    * Spark's own [[queryTermArray]] expression evaluated on the driver:
    * an interpreted projection over one `InternalRow`, not a query, so
    * `lower()` is exactly the in-memory path's (Spark 4 lowers through
    * ICU case mappings, not `String.toLowerCase`). The expression is
    * analyzed once per session and bound on every call: binding copies
    * every node above the input, so each call evaluates its own nodes
    * (a regex and a case-mapping flag are cached per node, which makes
    * shared nodes unsafe across threads), under the session's conf. */
  private[graft] def queryTerms(spark: SparkSession,
      texts: Seq[String]): Seq[Seq[String]] = {
    val (expr, input) = termExpressions.computeIfAbsent(spark, s =>
      graft.io.Resident.internalFrame(s, Seq(AttributeReference("qtext", StringType)()), Nil)
        .select(queryTermArray(col("qtext"))).queryExecution.analyzed match {
        case Project(Seq(e), child) => (e, child.output.head)
      })
    val bound = BindReferences.bindReference(expr, Seq(input))
    graft.io.Resident.withSessionConf(spark) {
      texts.map(t => bound.eval(InternalRow(UTF8String.fromString(t))) match {
        case null => Nil
        case a: ArrayData => Seq.tabulate(a.numElements)(a.getUTF8String(_).toString)
      })
    }
  }

  /** Shared scoring + ranking tail: `matched` must carry (query_id,
    * doc_id, tf, df, dl, n_docs, avgdl). The resident
    * [[Segments.topK]] and the DuckDB oracle both mirror this exact
    * association, so all three agree bit for bit. */
  private def rankMatched(matched: DataFrame, k: Int): DataFrame = {
    val idf: Column =
      log(lit(1.0) + (col("n_docs") - col("df") + 0.5) / (col("df") + 0.5))
    val tfNorm: Column =
      col("tf") * (lit(K1) + 1.0) /
        (col("tf") + lit(K1) * (lit(1.0) - lit(B) + lit(B) * col("dl") / col("avgdl")))
    val scored = matched
      .groupBy(col("query_id"), col("doc_id"))
      .agg(round(sum(idf * tfNorm), 6).as("score"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(desc("score"), col("doc_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("doc_id"), col("score"))
  }

  /** Join a query-term set against index frames — only queried terms'
    * postings flow past the first (broadcast) join. */
  private def serveFrom(postings: DataFrame, docLen: DataFrame,
      dfreq: DataFrame, stats: DataFrame, queries: DataFrame, k: Int): DataFrame = {
    val qterms = queryTerms(queries)
    val matched = postings.join(broadcast(qterms), "term")
      .join(broadcast(dfreq.join(broadcast(qterms.select("term").distinct()), "term")),
        "term")
      .join(docLen, "doc_id")
      .crossJoin(broadcast(stats))
    rankMatched(matched, k)
  }

  /** Shared corpus tokenization — the one regex pass both the BM25
    * and Jaccard sides derive from. */
  private def tokensOf(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), Tok.tokens(lower(col("text"))).as("ts"))

  private def buildIndexFromTokens(toks: DataFrame): Bm25Index = {
    // every index consumer reads 2-4 of the frames below, and docLen /
    // stats / dfreq all roll up from `postings` — without the persist
    // the tokenize + explode + (doc_id, term) aggregate replays once
    // per frame (the corpus loader pre-partitions by doc_id, so the
    // aggregate is exchange-free and exchange reuse can't bridge the
    // branches; same finding as the r10 LM-scorer rewrite). The
    // persisted frame is the compact aggregate, not the token stream;
    // Verify clears the cache between catalog rows, and long-lived
    // serving goes through ensureSavedIndex, which materializes to
    // parquet instead.
    val postings = toks
      .select(col("doc_id"), explode(col("ts")).as("term"))
      .groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).cast("double").as("tf"))
      .persistTracked("bm25.postings")
    val docLen = postings.groupBy(col("doc_id"))
      .agg(sum(col("tf")).as("dl"))
    val stats = docLen.agg(count(lit(1)).cast("double").as("n_docs"),
      avg(col("dl")).as("avgdl"))
    val dfreq = postings.groupBy(col("term"))
      .agg(count(lit(1)).cast("double").as("df"))
    Bm25Index(postings, docLen, dfreq, stats)
  }

  /** Build the index frames from a document corpus: one explode + one
    * aggregate for postings, two bounded aggregates for stats. */
  def buildIndex(docs: DataFrame): Bm25Index =
    buildIndexFromTokens(tokensOf(docs))

  /** [[buildIndex]] over driver rows `docs` (doc_id, text), with no
    * Spark job: the tokens are [[tokensOf]]'s expression folded on the
    * driver ([[graft.io.Resident.rowsOf]]), and tf, dl, df, `n_docs` and
    * `avgdl` are counted in Scala. They are integer-valued doubles (and
    * `avgdl` one division of two), so no summation order can change
    * them: the rows are [[buildIndex]]'s. Returns the four frames as
    * driver rows. */
  private[graft] def buildIndexRows(docs: DataFrame): Bm25Index = {
    val spark = docs.sparkSession
    val toks = graft.io.Resident.rowsOf(tokensOf(docs))
    val doc = toks.output.head
    val term = AttributeReference("term", StringType)()
    val postings = Seq.newBuilder[InternalRow]
    val docLen = Seq.newBuilder[InternalRow]
    val dfs = scala.collection.mutable.LinkedHashMap.empty[UTF8String, Long]
    // the explode + (doc_id, term) count, one document at a time (a
    // NULL token array explodes to no row)
    toks.data.filterNot(_.isNullAt(1)).foreach { r =>
      val ts = r.getArray(1)
      val tf = scala.collection.mutable.LinkedHashMap.empty[UTF8String, Long]
      (0 until ts.numElements).foreach { i =>
        val t = if (ts.isNullAt(i)) null else ts.getUTF8String(i)
        tf(t) = tf.getOrElse(t, 0L) + 1
      }
      val id = r.get(0, doc.dataType)
      tf.foreach { case (t, n) =>
        postings += InternalRow(id, t, n.toDouble)
        dfs(t) = dfs.getOrElse(t, 0L) + 1
      }
      if (tf.nonEmpty) docLen += InternalRow(id, ts.numElements.toDouble)
    }
    val lens = docLen.result()
    val nDocs = lens.length
    // avg(dl): the exact integer sum over the count, NULL on no rows
    val avgdl = if (nDocs == 0) null else lens.map(_.getDouble(1)).sum / nDocs
    def frame(cols: Seq[Attribute], rows: Seq[InternalRow]) =
      graft.io.Resident.internalFrame(spark, cols, rows)
    def double(name: String, nullable: Boolean = false) =
      AttributeReference(name, DoubleType, nullable)()
    Bm25Index(
      frame(Seq(doc.newInstance(), term, double("tf")), postings.result()),
      frame(Seq(doc.newInstance(), double("dl", nullable = true)), lens),
      frame(Seq(term.newInstance(), double("df")),
        dfs.iterator.map { case (t, n) => InternalRow(t, n.toDouble) }.toSeq),
      frame(Seq(double("n_docs"), double("avgdl", nullable = true)),
        Seq(InternalRow(nDocs.toDouble, avgdl))))
  }

  /** Top-k docs per query, building the index inline. `queries`:
    * (query_id, qtext). Output: (query_id, rank, doc_id, score). */
  def topK(docs: DataFrame, queries: DataFrame, k: Int): DataFrame = {
    val idx = buildIndex(docs)
    serveFrom(idx.postings, idx.docLen, idx.dfreq, idx.stats, queries, k)
  }

  /** Term → storage bucket for the persisted inverted index: the same
    * md5 bucketing as [[graft.vector.HashingEmbedder]] (first 8 hex
    * chars % n), so the layout is deterministic and replayable. */
  val IndexBuckets = 64

  private val bucketOf =
    udf((t: String) => graft.vector.HashingEmbedder.bucket(t, IndexBuckets))

  /** Persist an index: postings and term frequencies land
    * `partitionBy("bucket")` (md5 of the term), doc lengths and the
    * single-row corpus stats as plain parquet — the build-once layout
    * that matters at 100 TB, where the index build dwarfs any query
    * batch; a term's postings are one bucket directory, so a serve of
    * an index too large to hold resident can read only its terms'
    * buckets. Mirrors [[graft.vector.Ivf.saveIndex]]. */
  def saveIndex(docs: DataFrame, path: String): Unit = writeIndex(buildIndex(docs), path)

  /** Write the four files of [[saveIndex]] under `path`; returns each
    * file's name and the schema it was written with. */
  private def writeIndex(idx: Bm25Index, path: String): Seq[(String, StructType)] =
    Seq(
      ("postings", idx.postings.withColumn("bucket", bucketOf(col("term"))), Seq("bucket")),
      ("doclen", idx.docLen, Nil),
      ("dfreq", idx.dfreq.withColumn("bucket", bucketOf(col("term"))), Seq("bucket")),
      ("stats", idx.stats.coalesce(1), Nil)
    ).map { case (name, df, parts) =>
      df.write.mode("overwrite").partitionBy(parts: _*).parquet(s"$path/$name")
      (name, df.schema)
    }

  /** Save an index of driver-row frames (from [[buildIndexRows]]) to
    * `path`, in [[saveIndex]]'s layout, and hold it as the
    * [[loadIndex]] entry of `path`: the four files as lazy parquet reads
    * (their schemas given, so opening them runs no schema-inference
    * job) and the resident [[Segments]] built now from the same rows,
    * so the first serve runs no job. */
  private[graft] def saveResident(idx: Bm25Index, path: String): Unit = {
    val spark = idx.postings.sparkSession
    // postings and df rows in bucket order: each slice of the local scan
    // then writes its own few bucket directories, and the slices write
    // in parallel
    def byBucket(df: DataFrame) = {
      val rows = graft.io.Resident.rowsOf(df)
      val term = rows.output.indexWhere(_.name == "term")
      graft.io.Resident.internalFrame(spark, rows.output, rows.data.sortBy(r =>
        graft.vector.HashingEmbedder.bucket(r.getUTF8String(term).toString, IndexBuckets)))
    }
    val written = writeIndex(Bm25Index(byBucket(idx.postings), idx.docLen.coalesce(1),
      byBucket(idx.dfreq), idx.stats), path)
    val Seq(postings, docLen, dfreq, stats) = written.map { case (name, schema) =>
      spark.read.schema(ColumnShim.asNullable(schema)).parquet(s"$path/$name")
    }
    val disk = Bm25Index(postings, docLen, dfreq, stats)
    val segments = loadSegments(idx, postings.schema("doc_id"))
    loaded.getOrBuild((graft.io.Sessions.uuid(spark), path))(new Loaded(disk, segments))
  }

  /** One term's resident postings: doc ids (ascending) with their tf
    * and doc length, and the term's df. */
  private final class TermRows(val df: Double, val docs: Array[Long],
      val tf: Array[Double], val dl: Array[Double])

  /** Driver-resident, column-packed copy of one loaded BM25 index: per
    * term the postings (doc ids, tf) with each doc's length and the
    * term's df, plus the corpus `n_docs`/`avgdl`. Immutable once
    * built, so concurrent serves share it without locking. Memory is
    * about 24 bytes per posting plus the vocabulary — the index must
    * fit the driver heap (serving larger ones from the executors is
    * out of scope here). */
  private[graft] final class Segments(val docField: StructField,
      terms: Map[String, TermRows], nDocs: Double, avgdl: Double) {

    /** [[serveFrom]] on one batch: per query id, every posting of its
      * terms scored `idf · tfNorm` in the Column tree's association,
      * summed per doc in term order, `round(·, 6)`, cut at `k` by
      * (desc score, doc_id). A query with no indexed term yields no
      * rows. */
    def topK(queries: Seq[(Any, Seq[String])], k: Int): Seq[graft.io.Resident.Hit] =
      graft.io.Resident.byQuery(queries).flatMap { case (qid, termLists) =>
        val acc = scala.collection.mutable.HashMap.empty[Long, Double]
        for (ts <- termLists; t <- ts; p <- terms.get(t)) {
          val idf = StrictMath.log(1.0 + ((nDocs - p.df) + 0.5) / (p.df + 0.5))
          var i = 0
          while (i < p.docs.length) {
            val tfNorm = (p.tf(i) * (K1 + 1.0)) /
              (p.tf(i) + K1 * ((1.0 - B) + (B * p.dl(i)) / avgdl))
            acc(p.docs(i)) = acc.getOrElse(p.docs(i), 0.0) + idf * tfNorm
            i += 1
          }
        }
        graft.io.Resident.rankTopK(qid,
          acc.map { case (d, sc) => (d, graft.io.Resident.round6(sc)) }, k)
      }
  }

  /** Read an index's four frames into [[Segments]] with
    * [[graft.io.Resident.columns]]: driver rows (the build's) are read
    * from their folded plans, loaded parquet files by one job each.
    * Postings whose term has no df or whose doc has no length are
    * dropped, as the serve joins drop them. `docField` is the `doc_id`
    * field the served answers carry. */
  private def loadSegments(idx: Bm25Index, docField: StructField): Segments = {
    import graft.io.Resident
    val (_, stats) = Resident.columns(idx.stats, "n_docs", "avgdl")
    val dfs = Resident.columns(idx.dfreq, "term", "df")._2.iterator
      .map(r => Resident.string(r, 0) -> r.getDouble(1)).toMap
    val (dlDoc +: _, dlRows) = Resident.columns(idx.docLen, "doc_id", "dl")
    val dls = dlRows.iterator
      .map(r => Resident.idAt(r, 0, dlDoc.dataType) -> r.getDouble(1)).toMap
    val terms =
      if (stats.isEmpty) Map.empty[String, TermRows]
      else {
        val (Seq(_, doc, _), postings) =
          Resident.columns(idx.postings, "term", "doc_id", "tf")
        postings.map(r => (Resident.string(r, 0), Resident.idAt(r, 1, doc.dataType),
            r.getDouble(2)))
          .groupBy(_._1).flatMap { case (t, rs) =>
            dfs.get(t).map { df =>
              val ps = rs.filter(p => dls.contains(p._2)).sortBy(_._2)
              t -> new TermRows(df, ps.map(_._2).toArray, ps.map(_._3).toArray,
                ps.map(p => dls(p._2)).toArray)
            }
          }
      }
    val (nDocs, avgdl) = stats.headOption.fold((0.0, Double.NaN))(r =>
      (r.getDouble(0), if (r.isNullAt(1)) Double.NaN else r.getDouble(1)))
    new Segments(docField, terms, nDocs, avgdl)
  }

  /** A memoized load: the frames [[loadIndex]] hands out, and their
    * resident [[Segments]], built once on the first serve. */
  private final class Loaded(val index: Bm25Index, build: => Segments) {
    lazy val segments: Segments = build
  }

  /** Loads per (session UUID, path), in the engine's one
    * [[graft.io.Memo]] (16 entries, single-flight): the four parquet
    * reads cost footer I/O per call, and paths are content-addressed
    * (fresh TempDirs per rebuild), so an entry never goes stale. The
    * bound also bounds the resident copies each entry holds once
    * served. */
  private val loaded =
    new graft.io.Memo[(String, String), Loaded]("Bm25.loadIndex", 16)

  /** The load memo's counters — for specs. */
  private[graft] def loadStats: graft.io.Memo.Stats = loaded.stats

  private val logger = org.apache.log4j.Logger.getLogger("graft.Bm25")

  def loadIndex(spark: org.apache.spark.sql.SparkSession,
      path: String): Bm25Index =
    // Sessions.uuid, not identityHashCode — unique per session and
    // never reused after GC (see graft.io.Sessions)
    loaded.getOrBuild((graft.io.Sessions.uuid(spark), path)) {
      val idx = Bm25Index(
        spark.read.parquet(s"$path/postings"),
        spark.read.parquet(s"$path/doclen"),
        spark.read.parquet(s"$path/dfreq"),
        spark.read.parquet(s"$path/stats"))
      new Loaded(idx, loadSegments(idx, idx.postings.schema("doc_id")))
    }.index

  /** The resident [[Segments]] of an index: its memo entry's, found by
    * reference. An index not held there — not from [[loadIndex]], or
    * evicted — is collected again, uncached, on every call: logged and
    * counted as a miss in [[loadStats]]. */
  private[graft] def resident(idx: Bm25Index): Segments =
    loaded.find(_.index eq idx).fold {
      logger.warn("a BM25 index not held by the loadIndex memo is served: " +
        "collecting all of it again")
      loadSegments(idx, idx.postings.schema("doc_id"))
    }(_.segments)

  /** Serve top-k from a loaded index by the resident scorer, with no
    * Spark job: the first serve of a loaded index builds its
    * [[Segments]] (one collect of each frame), and every serve after
    * that scores them on the driver. The queries' `query_id` and
    * `qtext` are read with [[graft.io.Resident.columns]] — from the
    * folded plan when the frame is driver rows — and their terms with
    * [[queryTerms]]. Rows, values, types and (desc score, doc_id) ties
    * are those of [[topK]]'s Column tree over the same corpus (the
    * equality Bm25Spec pins), returned as a LocalRelation frame with the
    * caller's spelling of `query_id`. An index the load memo does not
    * hold is collected again on every call, with a warning
    * ([[resident]]). */
  def topKIndexed(idx: Bm25Index, queries: DataFrame, k: Int): DataFrame = {
    val spark = queries.sparkSession
    val seg = resident(idx)
    val (Seq(qid, _), rows) = graft.io.Resident.columns(queries, "query_id", "qtext")
    val terms = queryTerms(spark, rows.map(graft.io.Resident.string(_, 1)))
    graft.io.Resident.internalFrame(spark,
      Seq(qid.newInstance(), AttributeReference("rank", IntegerType, nullable = false)(),
        DataTypeUtils.toAttribute(seg.docField),
        AttributeReference("score", DoubleType)()),
      seg.topK(rows.map(_.get(0, qid.dataType)).zip(terms), k).map(h =>
        InternalRow(h.queryId, h.rank,
          graft.io.Resident.idValue(h.id, seg.docField.dataType), h.score)))
  }

  /** One saved index per cache key per JVM: build-once-serve-many,
    * with the [[graft.io.SavedIndex]] staleness contract — every
    * serve re-checks the offered corpus (content fingerprint scan,
    * or an O(1) caller-supplied `epoch` token; see SavedIndex's
    * serve-cost policy) and a mismatch rebuilds into a fresh
    * directory (the superseded one is parked for one rebuild cycle,
    * then reclaimed — SavedIndex's bounded-retention contract). A
    * changed corpus can never be served from the pre-change index. */
  private val savedIndexes = new graft.io.SavedIndex("graft-bm25-idx")

  /** `docs` is by-name (evaluated at most once): an epoch-hit serve
    * never pays the corpus construction — see [[graft.io.SavedIndex
    * .ensure]]'s by-name rationale. */
  def ensureSavedIndex(docs: => DataFrame, cacheKey: String,
      epoch: Option[String] = None): String = {
    lazy val d = docs
    savedIndexes.ensure(cacheKey, d, epoch)(p => saveIndex(d, p))
  }

  /** Token-set Jaccard ranking — the unweighted lexical cousin of
    * BM25: |Q∩D| / |Q∪D| over distinct lowercase tokens. Same
    * inverted-index access pattern (query terms broadcast, only
    * matching postings move); used as the second list in the RRF
    * fusion. */
  def tokenJaccardTopK(docs: DataFrame, queries: DataFrame, k: Int): DataFrame =
    tokenJaccardFromTokens(tokensOf(docs), queries, k)

  private def tokenJaccardFromTokens(toks: DataFrame, queries: DataFrame,
      k: Int): DataFrame = {
    val dterms = toks
      .select(col("doc_id"), array_distinct(col("ts")).as("ts"))
      .withColumn("n_d", size(col("ts")))
      .select(col("doc_id"), col("n_d"), explode(col("ts")).as("term"))
    val qterms = queries
      .select(col("query_id"), array_distinct(Tok.tokens(lower(col("qtext")))).as("ts"))
      .withColumn("n_q", size(col("ts")))
      .select(col("query_id"), col("n_q"), explode(col("ts")).as("term"))
    val scored = dterms.join(broadcast(qterms), "term")
      .groupBy(col("query_id"), col("doc_id"), col("n_q"), col("n_d"))
      .agg(count(lit(1)).cast("int").as("m"))
      .withColumn("score",
        round(col("m").cast("double") / (col("n_q") + col("n_d") - col("m")), 6))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(desc("score"), col("doc_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("doc_id"), col("score"))
  }

  /** BM25 + token-Jaccard hybrid via RRF, with the corpus TOKENIZED
    * ONCE: both ranked lists derive from one persisted (doc_id,
    * tokens) frame instead of each re-running the regex pass over the
    * corpus — same scores as fusing [[topK]] and [[tokenJaccardTopK]]
    * built independently (identical downstream Column trees), one
    * fewer corpus scan. `depth` is the per-list candidate depth
    * before fusion (the usual deeper-than-k setup). */
  def hybridRrfTopK(docs: DataFrame, queries: DataFrame, k: Int,
      depth: Int): DataFrame = {
    val toks = tokensOf(docs)
      .persistTracked("bm25.hybrid_tokens")
    val idx = buildIndexFromTokens(toks)
    val lex = serveFrom(idx.postings, idx.docLen, idx.dfreq, idx.stats,
      queries, depth)
    rrfFuse(lex, tokenJaccardFromTokens(toks, queries, depth), k)
  }

  /** Reciprocal-rank fusion of two ranked lists (SIGIR'09 form,
    * 1/(60 + rank)): the standard way to combine a lexical
    * and a similarity ranking without score calibration. Inputs need
    * (query_id, doc_id, rank); fused score is rounded before the
    * final ranking for cross-engine determinism. */
  def rrfFuse(a: DataFrame, b: DataFrame, k: Int): DataFrame = {
    val leg = (df: DataFrame) => df.select(col("query_id"), col("doc_id"),
      (lit(1.0) / (lit(RrfC) + col("rank"))).as("contrib"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(desc("rrf_score"), col("doc_id"))
    leg(a).unionByName(leg(b))
      .groupBy(col("query_id"), col("doc_id"))
      .agg(round(sum(col("contrib")), 6).as("rrf_score"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("doc_id"), col("rrf_score"))
  }

  /** [[rrfFuse]] over driver lists (the resident serve's fusion):
    * per (query, doc) the `1/(60 + rank)` contributions of both lists
    * summed, `round(·, 6)`, cut at `k` by (desc score, doc_id). */
  private[graft] def rrfFuseResident(a: Seq[graft.io.Resident.Hit],
      b: Seq[graft.io.Resident.Hit], k: Int): Seq[graft.io.Resident.Hit] =
    graft.io.Resident.byQuery((a ++ b).map(h => (h.queryId, h))).flatMap {
      case (qid, hits) =>
        val acc = scala.collection.mutable.HashMap.empty[Long, Double]
        hits.foreach(h => acc(h.id) = acc.getOrElse(h.id, 0.0) + 1.0 / (RrfC + h.rank))
        graft.io.Resident.rankTopK(qid,
          acc.map { case (d, sc) => (d, graft.io.Resident.round6(sc)) }, k)
    }
}
