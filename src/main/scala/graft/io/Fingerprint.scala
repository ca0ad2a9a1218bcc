package graft.io

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Order-free corpus fingerprint for saved-index staleness checks —
  * the contract a build-once-serve-many index needs once corpora stop
  * being immutable (e.g. a store that grows under a served index;
  * the reference's analog is the persistent ChromaDB collection,
  * `/root/reference/Chunking_Strats/chromadb_rag.py:96-107`).
  *
  * `of` computes `"<rows>:<md5sum>:<md5xor>"` in ONE narrow
  * distributed aggregate (over driver rows, [[Resident.driverRows]],
  * the same per-row hash is folded on the driver and summed in Scala,
  * with no job): per row, the first 60 bits of
  * `md5(to_json(all columns, name-sorted))` reduced by decimal SUM and
  * BIT_XOR — both commutative, so the value is independent of
  * partitioning and row order, and any row edit/insert/delete moves it
  * with 2⁻⁶⁰-scale collision odds. Cost at serve time is a single scan
  * of the corpus being checked — orders cheaper than the index rebuild
  * it guards, and the scan reads only the claimed corpus, never the
  * index. Callers that serve many query batches against a versioned
  * corpus skip even that via [[SavedIndex]]'s O(1) epoch tokens.
  */
object Fingerprint {

  def of(df: DataFrame): String = {
    // name-sorted struct: fingerprint is schema-order-insensitive, so
    // a reordered projection of the same data serves the same index
    val idCols = df.columns.sorted.toSeq
    val hashed = df
      .select(conv(substring(md5(to_json(struct(idCols.map(col): _*))), 1, 15),
        16, 10).cast("long").as("__h"))
    Resident.driverRows(hashed) match {
      // driver rows: the same per-row hash, folded on the driver, and
      // the aggregate in Scala — no job
      case Some(local) =>
        val hs = local.data.filterNot(_.isNullAt(0)).map(_.getLong(0))
        s"${local.data.length}:${hs.map(BigInt(_)).sum}:${hs.foldLeft(0L)(_ ^ _)}"
      case None =>
        val row = hashed
          .agg(count(lit(1)).as("n"),
            coalesce(sum(col("__h").cast("decimal(20,0)")),
              lit(0).cast("decimal(20,0)")).as("s"),
            coalesce(expr("bit_xor(__h)"), lit(0L)).as("x"))
          .collect()(0)
        s"${row.get(0)}:${row.get(1)}:${row.get(2)}"
    }
  }

  /** Durable twin of the in-memo fingerprint: lands beside the index
    * so a later JVM (or a human) can audit what corpus built it. */
  def write(path: String, fp: String): Unit =
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(path, "_FINGERPRINT"), fp + "\n")

  /** Audit accessor for the `_FINGERPRINT` written beside an index.
    * Deliberately NOT consulted by [[SavedIndex.ensure]]: index dirs
    * are JVM-lifetime temp dirs ([[TempDirs]]), so no fresh JVM can
    * legitimately reuse one — the on-disk record exists for humans
    * and for the staleness specs, which assert a rebuild really
    * changed it. */
  def read(path: String): Option[String] =
    try Some(java.nio.file.Files.readString(
      java.nio.file.Paths.get(path, "_FINGERPRINT")).trim)
    catch { case _: Throwable => None }
}
