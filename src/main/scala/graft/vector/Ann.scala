package graft.vector

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Approximate-nearest-neighbor search over an embedding column
  * (north-star extension, BASELINE.json). Two tiers:
  *
  *  - [[bruteTopK]]: exact cosine top-k — the correctness baseline.
  *    Query side broadcast; corpus never shuffles. O(|corpus|·|q|).
  *  - [[lshTopK]] / [[lshNearDup]]: bucketed random projection with
  *    md5-derived unit directions — candidate generation via floor
  *    buckets of scalar projections, equi-join on (table, key); the
  *    100 TB path. Deterministic BY CONSTRUCTION (no seeded JVM
  *    randomness) and DuckDB-replayable, like the sign-LSH family.
  *  - [[signLshTopK]] / [[signLshNearDup]]: the cosine-native
  *    hyperplane variant (sign bits packed into band keys).
  */
object Ann {

  /** Exact top-k neighbors per query vector. `queries` carries
    * `(query_id, q_embedding)`. */
  def bruteTopK(corpus: DataFrame, queries: DataFrame, k: Int): DataFrame = {
    // norms computed once per corpus row / per query row, not per
    // pair; per-pair dot is the native codegen'd FloatVecDot
    val c = corpus.withColumn("nrm_c", FloatVecExpr.normF(col("embedding")))
    val q = queries.withColumn("nrm_q", FloatVecExpr.normF(col("q_embedding")))
    val scored = c.crossJoin(broadcast(q))
      .withColumn("cos_sim",
        round(FloatVecExpr.dotF(col("embedding"), col("q_embedding")) /
          (col("nrm_c") * col("nrm_q")), 6))
    // custom bounded-heap operator instead of window row_number: the
    // corpus is never sorted, only k·|queries| survivors reach the
    // (then-trivial) rank window
    val kept = graft.plans.TopKPerKey(scored, Seq(col("query_id")),
      Seq(desc("cos_sim"), col("vec_id")), k)
    val w = Window.partitionBy(col("query_id"))
      .orderBy(desc("cos_sim"), col("vec_id"))
    kept.withColumn("rank", row_number().over(w))
      .select(col("query_id"), col("rank"), col("vec_id"), col("cos_sim"))
  }

  /** Bucket width for BRP-LSH over L2-NORMALIZED vectors. The
    * projection of a unit vector onto a random unit direction has
    * std ≈ 1/√dim, so any fixed bucket length degenerates as dim
    * grows (at 0.25 and dim 64 the whole corpus lands in two buckets
    * per table — measured 7.3M candidate pairs on 5k vectors, a
    * near-cross-join). 0.4σ = 0.4/√dim splits the corpus into ~15
    * populated buckets per table; near-dup pairs (cos ≥ 0.9 ⇒ pair
    * projection std 0.45/√dim) still collide in ≥1 of the OR'd
    * tables with high probability. */
  def autoBucketLength(dim: Int): Double = 0.4 / math.sqrt(dim.toDouble)

  /** Embedding dimension of `df`'s `embedding` column, from a one-row
    * probe per call. Total on an empty frame: dim 0 (degenerate keys,
    * still correct — exact confirm/rerank runs on zero rows). */
  private def embeddingDim(df: DataFrame): Int =
    df.select(size(col("embedding"))).take(1)
      .headOption.map(_.getInt(0)).getOrElse(0)

  /** BRP-LSH geometry: OR'd hash tables, each bucketed at
    * [[autoBucketLength]] of the embedding dimension. */
  val BrpTables = 4

  /** Sign-LSH geometry: bands × sign bits per band (see
    * [[signLshNearDup]] for how the two scale together). */
  val SignBands = 8
  val SignBitsPerBand = 8

  /** md5-derived UNIT projection direction for BRP table `t`: raw
    * cube weights from md5("b<t>|<j>") (the sign-LSH mapping with a
    * "b"-prefixed namespace so the two families never share planes),
    * then L2-normalized DRIVER-side — so the projection of a unit
    * vector has std 1/√dim and [[autoBucketLength]]'s bucket math
    * holds exactly as it did for MLlib's gaussian directions. Every
    * arithmetic step (ordered sum of squares, sqrt, per-component
    * division) is an identically-rounded IEEE op a DuckDB oracle
    * replays bit for bit. */
  private[vector] def brpPlane(t: Int, dim: Int): Array[Double] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val raw = Array.tabulate(dim) { j =>
      val hex = md.digest(s"b$t|$j".getBytes(java.nio.charset.StandardCharsets.UTF_8))
        .take(4).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(hex, 16).toDouble / 2147483648.0 - 1.0
    }
    var ss = 0.0
    var j = 0
    while (j < raw.length) { ss += raw(j) * raw(j); j += 1 }
    val n = math.sqrt(ss)
    raw.map(_ / n)
  }

  /** Per-vector BRP keys `(vec_id, table, key)`: key = floor of the
    * vector's scalar projection onto table `t`'s unit direction, in
    * units of [[autoBucketLength]], after normalizing the vector
    * (`key = floor(dot / nrm / L)`). Left-to-right accumulation in
    * ascending dimension order, like [[signLshKeys]], so the oracle's
    * ordered `list_sum` lands on the bit-identical double and the
    * floor can never disagree across engines. Zero vectors key to 0
    * in every table (they have no direction; the exact confirm stage
    * disposes of any spurious candidates). */
  def brpKeys(embeddings: DataFrame): DataFrame = {
    val dim = embeddingDim(embeddings)
    val L = autoBucketLength(dim)
    val planes: Array[Array[Double]] =
      Array.tabulate(BrpTables)(brpPlane(_, dim))
    val keysUdf = udf((v: Seq[Float]) => {
      var ss = 0.0
      var j = 0
      while (j < v.length) { ss += v(j).toDouble * v(j).toDouble; j += 1 }
      val nrm = math.sqrt(ss)
      Array.tabulate(BrpTables) { t =>
        val p = planes(t)
        var d = 0.0
        var i = 0
        while (i < p.length && i < v.length) { d += p(i) * v(i); i += 1 }
        if (nrm > 0) math.floor(d / nrm / L).toInt else 0
      }
    })
    embeddings.select(col("vec_id"),
      posexplode(keysUdf(col("embedding"))).as(Seq("table", "key")))
  }

  /** Exact-cosine confirm over candidate pairs `(id_a, id_b)` —
    * vectors are fetched once per side by equi-join, so the exact
    * pass touches only candidates (shared by the BRP and sign-LSH
    * near-dup paths). */
  private def confirmPairs(pairs: DataFrame, embeddings: DataFrame,
      cosThreshold: Double): DataFrame = {
    val emb = embeddings.select(col("vec_id"), col("embedding"),
      FloatVecExpr.normF(col("embedding")).as("nrm"))
    pairs
      .join(emb.select(col("vec_id").as("id_a"), col("embedding").as("emb_a"),
        col("nrm").as("nrm_a")), "id_a")
      .join(emb.select(col("vec_id").as("id_b"), col("embedding").as("emb_b"),
        col("nrm").as("nrm_b")), "id_b")
      .withColumn("cos_sim",
        round(FloatVecExpr.dotF(col("emb_a"), col("emb_b")) /
          (col("nrm_a") * col("nrm_b")), 6))
      .filter(col("cos_sim") >= cosThreshold)
      .select(col("id_a"), col("id_b"), col("cos_sim"))
  }

  /** Exact-cosine re-rank of `(query_id, vec_id)` candidates to
    * top-k (shared by the BRP and sign-LSH top-k paths). */
  private def rerankTopK(cand: DataFrame, corpus: DataFrame,
      queries: DataFrame, k: Int): DataFrame = {
    val scored = cand
      .join(corpus.select(col("vec_id"), col("embedding"),
        FloatVecExpr.normF(col("embedding")).as("nrm_c")), "vec_id")
      .join(broadcast(queries.withColumn("nrm_q",
        FloatVecExpr.normF(col("q_embedding")))), "query_id")
      .withColumn("cos_sim",
        round(FloatVecExpr.dotF(col("embedding"), col("q_embedding")) /
          (col("nrm_c") * col("nrm_q")), 6))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(desc("cos_sim"), col("vec_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("vec_id"), col("cos_sim"))
  }

  /** ANN top-k via BRP-LSH: a corpus vector is a candidate iff it
    * shares a (table, floor-bucket) key with the query in at least
    * one of the OR'd hash tables; candidates are exactly re-ranked by
    * cosine. Query keys broadcast (inverted-probe pattern — the
    * corpus never shuffles for candidate generation). Deterministic
    * and DuckDB-replayable end to end: md5 directions, ordered
    * accumulation, floor buckets. The bucket width derives from the
    * embedding dimension — see [[autoBucketLength]]. */
  def lshTopK(corpus: DataFrame, queries: DataFrame, k: Int): DataFrame = {
    val ck = brpKeys(corpus)
    val qk = brpKeys(
        queries.select(col("query_id").as("vec_id"),
          col("q_embedding").as("embedding")))
      .select(col("vec_id").as("query_id"), col("table"), col("key"))
    val cand = ck.join(broadcast(qk), Seq("table", "key"))
      .select(col("query_id"), col("vec_id")).distinct()
    rerankTopK(cand, corpus, queries, k)
  }

  /** md5-derived projection weight for sign-LSH plane `p`, dimension
    * `j`: the first 8 hex chars of md5("p|j") as an unsigned int,
    * mapped to [−1, 1). Deterministic BY CONSTRUCTION — no seeded JVM
    * randomness — and engine-portable: DuckDB recomputes the identical
    * double from the same md5 hex (division by 2³¹ and the subtraction
    * are exact / identically-rounded IEEE ops), so the whole LSH path
    * is replayable in SQL. Same trick as the minhash permutations
    * (`graft.dedup.Dedup` md5(seed|shingle)). Uniform-cube rather than
    * gaussian directions — sign-LSH only needs symmetry, and the
    * recall-vs-brute bound is asserted in AnnIvfSpec. */
  private[vector] def planeWeight(p: Int, j: Int): Double = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val hex = md.digest(s"$p|$j".getBytes(java.nio.charset.StandardCharsets.UTF_8))
      .take(4).map("%02x".format(_)).mkString
    java.lang.Long.parseLong(hex, 16).toDouble / 2147483648.0 - 1.0
  }

  /** Per-vector sign-LSH band keys `(vec_id, band, key)`: key packs
    * the sign bits of the [[SignBitsPerBand]] planes of that band
    * (plane index p = band·SignBitsPerBand + bit). The dot products accumulate
    * left-to-right in ascending dimension order so the DuckDB oracle's
    * `list_sum(list_transform(...))` (also ordered) lands on the
    * bit-identical double — signs can never disagree across engines. */
  def signLshKeys(embeddings: DataFrame): DataFrame = {
    val (bands, bitsPerBand) = (SignBands, SignBitsPerBand)
    val dim = embeddingDim(embeddings)
    val planes: Array[Array[Double]] =
      Array.tabulate(bands * bitsPerBand)(p => Array.tabulate(dim)(planeWeight(p, _)))
    val keysUdf = udf((v: Seq[Float]) => {
      val out = new Array[Int](bands)
      var b = 0
      while (b < bands) {
        var key = 0
        var i = 0
        while (i < bitsPerBand) {
          val p = planes(b * bitsPerBand + i)
          var d = 0.0
          var j = 0
          while (j < p.length && j < v.length) { d += p(j) * v(j); j += 1 }
          if (d > 0) key |= (1 << i)
          i += 1
        }
        out(b) = key
        b += 1
      }
      out
    })
    embeddings.select(col("vec_id"),
      posexplode(keysUdf(col("embedding"))).as(Seq("band", "key")))
  }

  /** Sign (hyperplane) LSH near-dup — the cosine-native LSH:
    * each band key packs the sign bits of [[SignBitsPerBand]] md5-derived
    * projections ([[signLshKeys]]); vectors agreeing on any band are
    * candidates, then confirmed by exact cosine. P[bit agrees] =
    * 1 − θ/π, so near-dup pairs (θ small) collide with high
    * probability while the bucket join stays equi on short int keys.
    * Preferable to bucketed random projection on unit vectors (whose
    * 1-D floor buckets degenerate to a near-cross-join). Fully
    * deterministic and DuckDB-replayable end to end.
    *
    * SCALING NOTE: [[SignBitsPerBand]] bounds the band keyspace at
    * 2^bits buckets, and this is a SELF-join — at the fixed
    * (8 bands, 8 bits) geometry bucket occupancy grows linearly with the
    * corpus and per-band pair comparisons grow O(N²/256). Unlike the
    * simhash bands (width-independent pigeonhole recall — see
    * [[graft.dedup.Dedup.simhash60]]), widening a sign-LSH band CUTS
    * recall (P[band] = (1−θ/π)^bits), so bits and bands must scale
    * TOGETHER: e.g. 24 bands of 16 bits keep detection ≈ 0.88
    * at cos 0.9 while widening the keyspace 256x. The (8, 8) geometry
    * is sized (and oracle-pinned) for the fixture scales. */
  def signLshNearDup(embeddings: DataFrame, cosThreshold: Double): DataFrame = {
    // Candidate generation stays NARROW: only (vec_id, band, key) goes
    // through the self-join and the pair-dedup shuffles, never the
    // embedding arrays (the old shape shuffled 8 copies of every
    // vector, then dropDuplicates moved wide rows again). Vectors are
    // joined back exactly once per side for the exact-cosine confirm —
    // the standard candidate/verify split, and the only layout that
    // survives 100 TB where candidate volume ≫ corpus size.
    // shared repartition on the join key (same discipline as the
    // Dedup self-joins): both sides canonicalize to one exchange, so
    // the projection UDF runs once instead of once per side
    val keyed = signLshKeys(embeddings)
      .repartition(col("band"), col("key"))
    val pairs = keyed.as("x").join(keyed.as("y"),
        col("x.band") === col("y.band") && col("x.key") === col("y.key") &&
          col("x.vec_id") < col("y.vec_id"))
      .select(col("x.vec_id").as("id_a"), col("y.vec_id").as("id_b"))
      .distinct()
    confirmPairs(pairs, embeddings, cosThreshold)
  }

  /** ANN top-k via sign-LSH: a corpus vector is a candidate for a
    * query iff they share at least one band key; candidates are
    * exactly re-ranked by cosine. The query side's keys are broadcast
    * (queries are small by definition), so the band join streams the
    * corpus keys past them map-side — the inverted-probe pattern, and
    * the whole path is deterministic and DuckDB-replayable (md5
    * planes, [[signLshKeys]]). Queries whose true neighbors never
    * collide return fewer than k rows — the standard ANN recall
    * trade, bounded in AnnIvfSpec by the constructed-near-dup
    * guarantee. `queries` carries (query_id, q_embedding). */
  def signLshTopK(corpus: DataFrame, queries: DataFrame, k: Int): DataFrame = {
    val ck = signLshKeys(corpus)
    val qk = signLshKeys(
        queries.select(col("query_id").as("vec_id"),
          col("q_embedding").as("embedding")))
      .select(col("vec_id").as("query_id"), col("band"), col("key"))
    val cand = ck.join(broadcast(qk), Seq("band", "key"))
      .select(col("query_id"), col("vec_id")).distinct()
    rerankTopK(cand, corpus, queries, k)
  }

  /** Maximal Marginal Relevance re-ranking (Carbonell & Goldstein,
    * SIGIR'98 — public knowledge): greedily pick `k` of the top
    * `depth` candidates, each round taking the candidate maximizing
    * `λ·relevance − (1−λ)·max similarity to the already-selected` —
    * the standard diversity-aware finisher for RAG retrieval (near-
    * duplicate chunks stop crowding the context window).
    *
    * Greedy selection is inherently sequential in k, so the rounds
    * are unrolled as DataFrame ops — k is small by definition (it is
    * the context budget) and each round touches only the ≤ depth
    * candidates per query, never the corpus. All scores are rounded
    * at 6 before every argmax (ties → lowest vec_id), making the
    * whole selection DuckDB-replayable. */
  def mmrTopK(corpus: DataFrame, queries: DataFrame, k: Int,
      depth: Int, lambda: Double = 0.5): DataFrame = {
    require(k >= 1 && depth >= k, "need k >= 1 and depth >= k")
    val compl = 1.0 - lambda
    val candPlan = bruteTopK(corpus, queries, depth)
      .join(corpus.select(col("vec_id"), col("embedding"),
        FloatVecExpr.normF(col("embedding")).as("nrm")), "vec_id")
      .select(col("query_id"), col("vec_id"), col("rank"),
        col("cos_sim").as("rel"), col("embedding"), col("nrm"))
    // materialize the candidate set ONCE, but keep it DISTRIBUTED:
    // localCheckpoint truncates the lineage so no greedy round
    // re-runs the corpus-wide seeding top-k (measured as ~all of the
    // runtime when left lazy), without collecting depth × |queries|
    // embedding rows through the driver — at a 1M-query batch the
    // old collect-to-LocalRelation form was a driver-memory wall
    val cand = candPlan.localCheckpoint(eager = true)
    var selected = cand.filter(col("rank") === 1)
      .select(col("query_id"), col("vec_id"),
        lit(1).as("rank"), col("rel").as("score"))
    for (r <- 2 to k) {
      val selEmb = selected.select(col("query_id"), col("vec_id").as("s_vec"))
        .join(cand.select(col("query_id"), col("vec_id").as("s_vec"),
          col("embedding").as("s_emb"), col("nrm").as("s_nrm")),
          Seq("query_id", "s_vec"))
      val next = cand
        .join(selected.select(col("query_id"), col("vec_id")),
          Seq("query_id", "vec_id"), "left_anti")
        .join(selEmb, "query_id")
        .withColumn("sim",
          round(FloatVecExpr.dotF(col("embedding"), col("s_emb")) /
            (col("nrm") * col("s_nrm")), 6))
        .groupBy(col("query_id"), col("vec_id"), col("rel"))
        .agg(max(col("sim")).as("max_sim"))
        .withColumn("mmr",
          round(lit(lambda) * col("rel") - lit(compl) * col("max_sim"), 6))
        .withColumn("rn", row_number().over(
          Window.partitionBy(col("query_id")).orderBy(desc("mmr"), col("vec_id"))))
        .filter(col("rn") === 1)
        .select(col("query_id"), col("vec_id"),
          lit(r).as("rank"), col("mmr").as("score"))
      selected = selected.unionByName(next)
    }
    selected
  }

  /** BRP-LSH near-duplicate pairs above a cosine threshold — the
    * scale path behind [[graft.dedup.Dedup.cosineNearDup]]. Same
    * narrow candidate/verify shape as [[signLshNearDup]]: only
    * (vec_id, table, key) moves through the self-join, vectors are
    * joined back once per side for the exact confirm. */
  def lshNearDup(embeddings: DataFrame, cosThreshold: Double): DataFrame = {
    val keyed = brpKeys(embeddings)
      .repartition(col("table"), col("key"))
    val pairs = keyed.as("x").join(keyed.as("y"),
        col("x.table") === col("y.table") && col("x.key") === col("y.key") &&
          col("x.vec_id") < col("y.vec_id"))
      .select(col("x.vec_id").as("id_a"), col("y.vec_id").as("id_b"))
      .distinct()
    confirmPairs(pairs, embeddings, cosThreshold)
  }
}
