package graft.vector

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{AttributeReference, UnsafeArrayData}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, FloatType, StringType}
import graft.io.Resident
import graft.text.Tok

/** E1 — pluggable embedder (reference: SentenceTransformer
  * `all-MiniLM-L6-v2` / OpenAI `text-embedding-3-small`,
  * `/root/reference/Chunking_Strats/chromadb_rag.py:25, 31-32, 82-85`;
  * pluggable `embedding_function` `kamredt_chunking.py:118-127`).
  *
  * Model inference is non-deterministic network I/O, so the engine
  * ships a deterministic hashing embedder (SURVEY §7.3) behind the
  * same trait: swap in a real model by implementing [[Embedder]].
  */
trait Embedder extends Serializable {
  def dim: Int
  def embedOne(text: String): Array[Float]
  /** The PRE-normalization twin of this embedder, when one exists:
    * same direction per vector, unscaled components. Consumers that
    * only take cosine RATIOS (e.g. the semantic chunker's adjacent
    * distances) may embed with this instead — the ratios are
    * mathematically identical, and when the twin is integer-valued
    * ([[LatticeEmbedder]]) they become exact-arithmetic-derived and
    * bit-replayable in oracle SQL. Defaults to `this` (no twin). */
  def countsEmbedder: Embedder = this
  /** Adds an `embedding: array<float>` column derived from `textCol`:
    * one default UDF wrapper over [[embedOne]] (null text → zero
    * vector) shared by every implementation, so null handling can
    * never diverge between embedders.
    *
    * Cost follows the input. When `df` is driver rows
    * ([[graft.io.Resident.driverRows]]: a frame built from a local
    * `Seq`, such as a request's queries) with one plain-string column
    * `textCol` and no column named `out`, the vectors are computed with
    * [[embedOne]] on the driver and returned as a LocalRelation frame,
    * with the schema and nullability of the UDF path: the frame needs
    * no analysis of a new projection, and collecting it or serving from
    * it runs no Spark job. Any other input plans [[embedUdf]]. Both give
    * the same rows and schema (ServeRowsSpec pins it). */
  def embed(df: DataFrame, textCol: String = "text",
            out: String = "embedding"): DataFrame =
    embedOnDriver(df, textCol, out).getOrElse(embedUdf(df, textCol, out))

  /** The UDF projection [[embed]] plans for any input. */
  private[graft] def embedUdf(df: DataFrame, textCol: String,
      out: String): DataFrame = {
    val f = udf((s: String) => if (s == null) new Array[Float](dim) else embedOne(s))
    df.withColumn(out, f(col(textCol)))
  }

  /** [[embedUdf]] evaluated on the driver; None unless `df` is driver
    * rows, `textCol` names exactly one UTF8_BINARY string column and no
    * column is named `out` (`withColumn` would replace it in place). */
  private def embedOnDriver(df: DataFrame, textCol: String,
      out: String): Option[DataFrame] = {
    val spark = df.sparkSession
    val named = Resident.resolver(spark)
    for {
      local <- Resident.driverRows(df)
      t <- Resident.fieldIndex(spark, local.output, textCol)
      if local.output(t).dataType == StringType &&
        !local.output.exists(a => named(a.name, out))
    } yield {
      val types = local.output.map(_.dataType)
      Resident.internalFrame(spark,
        local.output :+ AttributeReference(out, ArrayType(FloatType, containsNull = false))(),
        local.data.map { r =>
          val v = if (r.isNullAt(t)) new Array[Float](dim)
            else embedOne(r.getUTF8String(t).toString)
          InternalRow.fromSeq(r.toSeq(types) :+ UnsafeArrayData.fromPrimitiveArray(v))
        })
    }
  }
}

/** Feature-hashing bag-of-tokens embedder, L2-normalized.
  *
  * Spec (engine-defined, deterministic): token bucket = first 8 hex
  * digits of md5(token) mod dim; each occurrence adds 1 to its
  * bucket; the vector is L2-normalized (zero vector for token-free
  * text). md5 was chosen over murmur so the very same bucketing is
  * expressible in DuckDB oracle SQL when needed.
  */
case class HashingEmbedder(dim: Int = 64) extends Embedder {
  def bucket(token: String): Int = HashingEmbedder.bucket(token, dim)

  /** Dropping the L2 normalization leaves the raw integer counts —
    * exactly [[LatticeEmbedder]] at the same dim. */
  override def countsEmbedder: Embedder = LatticeEmbedder(dim)

  def embedOne(text: String): Array[Float] = {
    val v = new Array[Float](dim)
    Tok.tokenize(text).foreach(t => v(bucket(t)) += 1f)
    val n = math.sqrt(v.map(x => x.toDouble * x).sum)
    if (n > 0) v.map(x => (x / n).toFloat) else v
  }
}

/** Integer-lattice variant of [[HashingEmbedder]]: the RAW bucket
  * counts, NOT L2-normalized. Cosine similarity over these vectors is
  * mathematically identical to the normalized form's, but numerically
  * it involves only exact integer dot/norm² arithmetic (counts are
  * exactly representable in Float, products and sums stay exact in
  * Double), so downstream cosine DISTANCES are bit-identical across
  * engines regardless of summation order. This is the property the
  * crafted semantic-chunker oracle needs to replay breakpoint
  * selection in DuckDB SQL; the production default stays
  * [[HashingEmbedder]]. */
case class LatticeEmbedder(dim: Int = 8) extends Embedder {
  def embedOne(text: String): Array[Float] = {
    val v = new Array[Float](dim)
    Tok.tokenize(text).foreach(t => v(HashingEmbedder.bucket(t, dim)) += 1f)
    v
  }
}

object HashingEmbedder {
  private val digest = ThreadLocal.withInitial[java.security.MessageDigest](
    () => java.security.MessageDigest.getInstance("MD5"))
  // token→bucket memo: corpora repeat tokens heavily, so this turns
  // the per-token md5 into a map lookup on the executor hot path
  private val memo = new java.util.concurrent.ConcurrentHashMap[(String, Int), Integer]()

  private val MaxMemo = 1 << 20 // bound executor memory at huge vocab

  private def compute(t: String, d: Int): Integer = {
    val md = digest.get()
    md.reset()
    val h = md.digest(t.getBytes("UTF-8"))
    val hex = h.take(4).map(b => f"$b%02x").mkString
    Integer.valueOf((java.lang.Long.parseLong(hex, 16) % d).toInt)
  }

  def bucket(token: String, dim: Int): Int = {
    val key = (token, dim)
    val hit = memo.get(key)
    if (hit != null) hit.intValue()
    else {
      val v = compute(token, dim)
      if (memo.size < MaxMemo) memo.putIfAbsent(key, v)
      v.intValue()
    }
  }
}
