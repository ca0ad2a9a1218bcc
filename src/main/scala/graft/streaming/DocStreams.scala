package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.io.Caches

/** Stream-static twins of two batch curation operators, for the
  * continuous-ingest shape of a training-data pipeline (SURVEY §2.11
  * extension; the reference's ingest DAG is a daily batch,
  * `Airflow/dags/nvidia_quarterly_reports_pipeline.py:70-71`).
  *
  * Both score each arriving document against a FROZEN static side
  * built once from the history, with no aggregation state and no
  * watermark on the stream, so the same transform runs on a batch
  * frame or an unbounded stream:
  *  - [[splitAssignAgainstStatic]] assigns the leak-proof near-dup
  *    split (the delta face of `q_split_assign_delta`);
  *  - [[dsirScoreAgainstStatic]] scores DSIR importance weights
  *    against frozen hashed LMs (`q_dsir_frozen`).
  */
object DocStreams {

  /** Stream-static LEAK-PROOF SPLIT assignment — the continuous-
    * ingest twin of [[graft.Queries.q_split_neardup]]: each arriving
    * document computes its minhash band keys PER ROW
    * ([[graft.dedup.Dedup.minhashBandKeyArray]] — the explode-free
    * form, value-identical to the saved signature index's `bks`),
    * left-joins each of the `bands` keys against the FROZEN
    * band-key → smallest-representative map (built once here from
    * the history signature index + the batch split's own rep
    * assignment — ≤ bands compact static frames, never corpus
    * text), and inherits the smallest matched representative; an
    * unmatched (or blank) document is a singleton keyed on itself.
    * Bucket + split are the batch rows' exact md5 90/5/5 math
    * ([[graft.rel.Sampling.splitOf]] — one shared definition, so
    * the sides cannot drift). Stateless on the stream: per-row key
    * projection, `bands` stream-static left joins, no aggregation
    * state, no watermark. The leak-proof property under ingest: a
    * document near-duplicating ANY history document inherits a
    * HISTORY rep — its split is the frozen assignment of that rep,
    * so a near-dup of a train-split doc can never land in test.
    * Frozen-state caveat: a doc whose matches span two history
    * components takes the smaller rep — MERGING those components
    * (and re-keying their splits) is the next batch re-fit's job;
    * and same-batch arrivals don't see each other
    * (each assigns against frozen history only — folding admissions
    * into the index moves the map for the NEXT epoch).
    *
    * `historyIndex`: the saved signature index frame
    * (doc_id, bks, …); `historySplit`: the batch row's own output
    * (doc_id, rep, bucket, split). Stream == batch through the same
    * twin, pinned with an independent exploded-join displacement
    * oracle in DocStreamsSpec. */
  def splitAssignAgainstStatic(incoming: DataFrame,
      historyIndex: DataFrame, historySplit: DataFrame): DataFrame = {
    val bands = graft.dedup.Dedup.Bands
    val reps = historySplit.select(col("doc_id").as("hist_id"), col("rep"))
    // static prep, once per twin: per band, the smallest history rep
    // per band key — the only thing an arriving doc needs to inherit
    // its cluster's frozen split. ONE pass (r20): posexplode the
    // index's band keys, join the rep assignment once, min per
    // (band, key), persist the compact map — the per-band form
    // rebuilt the history⋈rep join + aggregation `bands` times
    // (4 copies of the whole frozen-side subtree in the delta row's
    // plan, including historySplit's own cluster resolution). The
    // per-band slice each incoming join reads is a filter over the
    // persisted map; min per (band, key) is value-identical to the
    // old per-band min, so stream == batch == oracle is unchanged.
    val bandRepAll = Caches.persistTracked(
      historyIndex
        .select(col("doc_id").as("hist_id"),
          posexplode(col("bks")).as(Seq("__band", "__bk")))
        .join(reps, "hist_id")
        .groupBy(col("__band"), col("__bk"))
        .agg(min(col("rep")).as("__rep_min")),
      "splitassign.bandrep")
    val bandRep = (0 until bands).map { b =>
      bandRepAll.filter(col("__band") === b)
        .select(col("__bk").as(s"bk$b"), col("__rep_min").as(s"rep$b"))
    }
    val keyed = incoming.withColumn("__bks",
      graft.dedup.Dedup.minhashBandKeyArray(col("text")))
    val joined = (0 until bands).foldLeft(keyed) { (df, b) =>
      df.withColumn(s"bk$b", element_at(col("__bks"), b + 1))
        .join(bandRep(b), Seq(s"bk$b"), "left")
    }
    joined
      .withColumn("rep", coalesce(
        least((0 until bands).map(b => col(s"rep$b")): _*), col("doc_id")))
      .withColumn("bucket", graft.rel.Sampling.hashBucket(col("rep")))
      .withColumn("split", graft.rel.Sampling.splitOf(col("bucket")))
      .select(col("doc_id"), col("rep"), col("bucket"), col("split"))
  }

  /** Stream-static DSIR scoring — the continuous-ingest twin of
    * [[graft.Queries.q_dsir_weights]]: incoming documents are scored
    * against FROZEN hashed LMs ([[graft.textan.Dsir.collectLm]] over
    * the history corpus — ≤1024 entries, a driver map, never a
    * corpus-sized side). The scorer is a pure per-row map
    * ([[graft.textan.Dsir.scoreExpr]] — tokenize, bucket, per-bucket
    * microunit fold in one pass), so it runs on an unbounded stream
    * with NO aggregation state, no shuffle and no watermark; scoring
    * a document against the LMs its own corpus froze is bit-identical
    * to the batch operator's row (spec-pinned). Emits
    * `(doc_id, n_feats, logw_micro)`; sub-2-token documents drop,
    * matching the batch operator's no-row semantics. */
  def dsirScoreAgainstStatic(incoming: DataFrame,
      lm: Map[Long, (Long, Long)], tt: Long, tq: Long): DataFrame =
    incoming
      .select(col("doc_id"),
        graft.textan.Dsir.scoreExpr(lm, tt, tq)(col("text")).as("__s"))
      .filter(col("__s").isNotNull)
      .select(col("doc_id"), col("__s._1").as("n_feats"),
        col("__s._2").as("logw_micro"))
}
