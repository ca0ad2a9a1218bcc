package graft.rel

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Deterministic cardinality/membership sketches — the project-
  * invariant twist on the classic randomized structures: hashes are
  * md5-derived, so sketch CONTENTS (not just error bounds) are
  * reproducible across runs, partitionings and engines, and the
  * DuckDB oracle replays them value-for-value. (Spark's builtin
  * approx_count_distinct is HLL++ with engine-private registers —
  * accurate but unverifiable across engines; these are the
  * verifiable counterparts.)
  */
object Sketches {

  /** Uniform [0, 1) hash of a string: first 8 md5 hex chars / 2^32
    * (exact in double — same recipe as [[Sampling.hashBucket]]). */
  def uniformHash(c: Column): Column =
    conv(substring(md5(c.cast("string")), 1, 8), 16, 10)
      .cast("double") / lit(4294967296.0)

  /** KMV (k-minimum-values) distinct-count estimate: keep the k
    * smallest DISTINCT hash values; estimate = (k−1) / u_k where u_k
    * is the k-th smallest (Bar-Yossef et al. 2002, public). The
    * k-row sort+limit is bounded by k, never the corpus. */
  val DefaultK = 64

  /** HyperLogLog register count: p = 8 index bits → 256 registers
    * (Flajolet et al. 2007, public). Small enough to broadcast as a
    * handful of bytes, accurate to ~6.5% — and, like KMV, every
    * register VALUE is deterministic and engine-replayable. */
  val HllRegisters = 256

  /** HLL register index: first 2 md5 hex chars (8 bits), 0..255. */
  def hllIndex(c: Column): Column =
    conv(substring(md5(c.cast("string")), 1, 2), 16, 10).cast("int")

  /** HLL rank ρ of the NEXT 52 hash bits (13 hex chars): leading
    * zeros + 1, computed by HEX-STRING inspection — leading '0'
    * chars contribute 4 zeros each, the first non-zero hex digit
    * adds its own (1 → 3, 2-3 → 2, 4-7 → 1, 8-f → 0). No log2 /
    * bit-scan anywhere, so the SQL oracle replays ρ bit for bit;
    * an all-zero window ranks 53. */
  def hllRho(c: Column): Column = {
    val hs = substring(md5(c.cast("string")), 3, 13)
    val stripped = ltrim(hs, "0")
    val dz = when(substring(stripped, 1, 1) === "1", 3)
      .when(substring(stripped, 1, 1).isin("2", "3"), 2)
      .when(substring(stripped, 1, 1).isin("4", "5", "6", "7"), 1)
      .otherwise(0)
    when(stripped === "", 53)
      .otherwise(lit(4) * (lit(13) - length(stripped)) + dz + 1)
  }

  /** α·m²·2^53 for m = 256: the HLL bias constant α_m = 0.7213 /
    * (1 + 1.079/m), pre-multiplied by m² and by the 2^53 scale the
    * register sum is kept at (see [[hllRho]] — registers are summed
    * as exact integers 2^(53−ρ), so the only float op is ONE final
    * division, identical in any IEEE engine; `Double.toString` round-
    * trips exactly, letting the SQL oracle embed this same constant). */
  val HllAlphaM2Scaled: Double =
    0.7213 / (1.0 + 1.079 / 256.0) * 65536.0 * 9007199254740992.0

  /** Count-Min geometry (q_cms_topk): `CmsDepth` rows of
    * `CmsWidth` counters, the rows hashed by [[bloomPositions]] —
    * 256 counters in all. */
  val CmsWidth = 64
  val CmsDepth = 4

  /** Bloom bit positions of a term: `hashes` md5-derived positions in
    * a `bits`-bit filter. The filter itself is just the DISTINCT set
    * of positions — broadcastable at `bits/8` bytes regardless of how
    * many members produced it. */
  def bloomPositions(term: Column, bits: Int = 4096, hashes: Int = 3): Column =
    array((0 until hashes).map(h =>
      (conv(substring(md5(concat(lit(h.toString), lit("|"), term)), 1, 8),
        16, 10).cast("long") % bits).cast("int")): _*)
}
