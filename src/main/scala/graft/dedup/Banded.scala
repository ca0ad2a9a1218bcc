package graft.dedup

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The ONE self-join candidate-generation kernel behind every banded
  * blocking surface — MinHash LSH bands ([[Dedup.minhashCandidates]]
  * and the saved-index serve [[Dedup.candidatesFromIndex]]), SimHash
  * sub-bands ([[Dedup.simhashCandidates]]), and CDC shared-block
  * pairing ([[graft.Queries.q_cdc_shared]]). Each of those used to
  * hand-roll the identical explode-bands → repartition → self-join
  * shape; this pins the shared plan discipline in one place:
  *
  *  - ONE explicit repartition on the blocking key, shared by both
  *    self-join sides — they canonicalize to the same exchange and
  *    ReuseExchange runs the (often expensive) upstream key
  *    computation once, not once per side. Left to the static
  *    planner or AQE, the small side becomes a BroadcastExchange,
  *    which cannot be reused against the other side's plan AND is the
  *    wrong physical shape once the banded table outgrows an
  *    executor.
  *  - SHUFFLE_HASH pin: both sides are identically partitioned
  *    already, so a sort-merge join would pay two sorts for nothing,
  *    and a broadcast join would break the exchange reuse above.
  *  - Optional rare-key guard: keys occurring in more than
  *    `maxKeyOccupancy` rows are dropped BEFORE the join. A banded
  *    self-join is O(Σ occupancy²); one corpus-wide boilerplate key
  *    (a common CDC block, a stop-phrase band) turns it quadratic,
  *    and the guard bounds pair fan-out by real near-dup cluster
  *    size. Callers whose keyspace provably bounds occupancy (wide
  *    LSH bands) skip it.
  *
  * `banded` must carry a `doc_id` column plus `keyCols`; the i < j
  * orientation (`doc_a` < `doc_b`) prevents self-pairs and mirror
  * duplicates. Verification (hamming confirm, exact Jaccard,
  * shared-block count) stays at the call site — candidate generation
  * proposes, the caller disposes.
  */
object Banded {

  /** Candidate pairs `(doc_a, doc_b)` from a banded frame, one row
    * per document per blocking key. Columns named in `carry` are
    * carried through the join as `a_<name>` / `b_<name>` so the
    * caller can verify without re-joining the corpus. */
  def candidatePairs(banded: DataFrame, keyCols: Seq[String],
      carry: Seq[String] = Nil,
      maxKeyOccupancy: Option[Int] = None): DataFrame = {
    val guarded = maxKeyOccupancy match {
      case Some(cap) =>
        val keep = banded.groupBy(keyCols.map(col): _*)
          .agg(count(lit(1)).as("__occ")).filter(col("__occ") <= cap)
          .drop("__occ")
        banded.join(keep, keyCols)
      case None => banded
    }
    val part = guarded.repartition(keyCols.map(col): _*).hint("shuffle_hash")
    val cond = keyCols.map(k => col(s"x.$k") === col(s"y.$k"))
      .reduce(_ && _) && col("x.doc_id") < col("y.doc_id")
    part.as("x").join(part.as("y"), cond)
      .select(Seq(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b")) ++
        carry.flatMap(c =>
          Seq(col(s"x.$c").as(s"a_$c"), col(s"y.$c").as(s"b_$c"))): _*)
  }
}
