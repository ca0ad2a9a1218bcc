package graft.vector

import graft.io.Resident
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeReference}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Vector math over `array<float|double>` columns, expressed with
  * higher-order functions so everything stays codegen'd SQL — no UDF
  * in the retrieval hot path (SURVEY §2.10 V2).
  *
  * Reference semantics: ChromaDB cosine space
  * (`/root/reference/Chunking_Strats/chromadb_rag.py:106, 133`).
  * Accumulation is forced to DOUBLE regardless of input element type
  * so Spark and the DuckDB oracle (`list_cosine_similarity` on
  * `DOUBLE[]`) sum in the same precision and order.
  */
object VectorOps {
  def dot(a: Column, b: Column): Column =
    aggregate(
      zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (s, x) => s + x)

  def l2Norm(a: Column): Column = sqrt(dot(a, a))

  def cosine(a: Column, b: Column): Column = dot(a, b) / (l2Norm(a) * l2Norm(b))

  /** Top-k per query by cosine similarity (J6 + W1 + V3; reference
    * `collection.query(..., n_results=5)` `chromadb_rag.py:127-140`).
    *
    * `corpus` must carry `embedding`; `queries` must carry
    * `(query_id, q_embedding)`. The queries side is broadcast — the
    * reference's shape is 1..few queries vs the whole corpus, so at
    * 100 TB this stays a map-side cross join over the corpus scan with
    * no shuffle of the big side; only the k·|queries| survivors move
    * in the final top-k exchange.
    *
    * Ties broken by the caller-supplied `tiebreak` columns for
    * determinism (SURVEY §7.4 #4).
    */
  def topK(corpus: DataFrame, queries: DataFrame, k: Int,
           tiebreak: Seq[Column]): DataFrame = {
    val scored = corpus
      .crossJoin(broadcast(queries))
      .withColumn("cos_sim", cosine(col("embedding"), col("q_embedding")))
    // bounded-heap per-key top-k (no corpus sort); the rank window
    // then runs over only k·|queries| survivors
    val kept = graft.plans.TopKPerKey(scored, Seq(col("query_id")),
      desc("cos_sim") +: tiebreak, k)
    val w = Window.partitionBy(col("query_id"))
      .orderBy(desc("cos_sim") +: tiebreak: _*)
    kept
      .withColumn("rank", row_number().over(w))
      .drop("q_embedding")
  }

  /** V4 — context assembly with citations: the reference builds
    * `Source [{i+1}] ({source}): {chunk}` joined by "\n\n"
    * (`chromadb_rag.py:148-152`). Input = topK output carrying
    * `(query_id, rank, source, text)`; one `(query_id, context)` row per
    * query.
    *
    * Cost follows the input. When `topk` is driver rows
    * ([[graft.io.Resident.driverRows]]: a resident serve's answer
    * ([[graft.pipeline.RagPipeline.hybridIndexedServe]]), or a
    * projection or filter of driver rows) with int/bigint query ids and
    * ranks and plain (UTF8_BINARY) string source and text, the context
    * is assembled on the driver ([[graft.io.Resident.context]]) straight
    * from the folded rows and returned as a LocalRelation frame: no
    * Spark job and no optimizer batch, and collecting the result runs no
    * job either. Any other input (distributed retrieval, an unmirrored
    * column type) plans [[contextAggregate]]. Both give the same rows
    * and schema (VectorOpsSpec and ServeRowsSpec pin it). */
  def assembleContext(topk: DataFrame): DataFrame =
    contextOnDriver(topk).getOrElse(contextAggregate(topk))

  /** The Column-tree context assembly: a groupBy over the cited rows. */
  private[graft] def contextAggregate(topk: DataFrame): DataFrame = {
    val cited = topk.withColumn(
      "cited",
      concat(lit("Source ["), col("rank"), lit("] ("), col("source"),
        lit("): "), col("text")))
    cited.groupBy(col("query_id"))
      .agg(concat_ws("\n\n",
        transform(
          sort_array(collect_list(struct(col("rank"), col("cited")))),
          s => s.getField("cited"))).as("context"))
  }

  /** [[contextAggregate]] evaluated on the driver, when `topk` is driver
    * rows whose column types the scalar mirror covers: int/bigint query
    * ids and ranks, plain (UTF8_BINARY) source and text, each named by
    * exactly one column. None otherwise. */
  private def contextOnDriver(topk: DataFrame): Option[DataFrame] = {
    val spark = topk.sparkSession
    def isIntegral(a: Attribute) = Seq(IntegerType, LongType).contains(a.dataType)
    def isString(a: Attribute) = a.dataType == StringType
    for {
      local <- Resident.driverRows(topk)
      out = local.output
      at = (name: String, ok: Attribute => Boolean) =>
        Resident.fieldIndex(spark, out, name).filter(i => ok(out(i)))
      q <- at("query_id", isIntegral)
      r <- at("rank", isIntegral)
      s <- at("source", isString)
      t <- at("text", isString)
    } yield {
      val rows = local.data.map { row =>
        val rank = if (row.isNullAt(r)) null
          else java.lang.Long.valueOf(row.get(r, out(r).dataType).asInstanceOf[Number].longValue)
        (row.get(q, out(q).dataType),
          (rank, Resident.string(row, s), Resident.string(row, t)))
      }
      Resident.internalFrame(spark,
        // named as the aggregate's `groupBy(col("query_id"))` names it,
        // whatever the input's spelling
        Seq(AttributeReference("query_id", out(q).dataType, out(q).nullable, out(q).metadata)(),
          AttributeReference("context", StringType, nullable = false)()),
        Resident.byQuery(rows).map { case (id, hits) =>
          InternalRow(id, UTF8String.fromString(Resident.context(hits)))
        })
    }
  }

  /** Sum-pooling of chunk embeddings into one vector per key — the
    * standard way a DOCUMENT representation is derived from its chunk
    * embeddings (mean pooling = this divided by the count, which
    * rescales cosine by nothing). One partial+final aggregate per
    * dimension; no collect, no shuffle beyond the key. Emits
    * `pooled: array<double>` plus `n_chunks`. */
  def sumPool(df: DataFrame, key: Column, dim: Int): DataFrame =
    df.groupBy(key)
      .agg(count(lit(1)).cast("int").as("n_chunks"),
        array((0 until dim).map(i =>
          sum(element_at(col("embedding"), i + 1))): _*).as("pooled"))
}
