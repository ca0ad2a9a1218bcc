package graft.io

import org.apache.hadoop.fs.Path
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestBase

/** [[Tables.epochOf]] storage-listing token: the name fold must hash
  * paths RELATIVE to the table root, not base names — dynamic-
  * partition writes reuse identical part-file base names across
  * partition dirs, and an XOR over duplicated names cancels in
  * pairs, collapsing exactly the rewrites the token exists to
  * detect (the r11 ADVICE finding). */
class EpochSpec extends AnyFunSuite with SparkTestBase {

  private def mkTable(root: java.io.File, files: Seq[(String, String)],
      mtime: Long): Unit = {
    files.foreach { case (rel, content) =>
      val f = new java.io.File(root, rel)
      f.getParentFile.mkdirs()
      val w = new java.io.FileWriter(f)
      w.write(content); w.close()
      f.setLastModified(mtime)
    }
  }

  test("duplicate base names across partition dirs do not cancel") {
    val tmp = new java.io.File(tempDir("epoch"))
    val mtime = (System.currentTimeMillis() / 1000) * 1000
    // shape A: the same part-file base name in two partition dirs
    val a = new java.io.File(tmp, "a/t.parquet")
    mkTable(a, Seq("p=1/part-0.x" -> "12345", "p=2/part-0.x" -> "67890"), mtime)
    // shape B: same file count, same total bytes, same mtime — only
    // the (again pairwise-identical) base names changed. A base-name
    // XOR sees hash(n)^hash(n) == 0 in both shapes and calls them
    // the same version; relative paths are unique, so they differ.
    val b = new java.io.File(tmp, "b/t.parquet")
    mkTable(b, Seq("p=1/part-1.x" -> "12345", "p=2/part-1.x" -> "67890"), mtime)
    val ea = Tables.epochOf(spark, s"${tmp.getAbsolutePath}/a", "t")
    val eb = Tables.epochOf(spark, s"${tmp.getAbsolutePath}/b", "t")
    // tokens are "<root-path>:<files>:<bytes>:<mtime>:<namehash>" and
    // the root paths trivially differ — compare the 4 shape fields
    def shape(e: String) = e.split(':').takeRight(4).mkString(":")
    assert(shape(ea) != shape(eb),
      s"same-shape rewrite did not move the token: $ea vs $eb")
  }

  test("stable listing yields a stable token") {
    val tmp = new java.io.File(tempDir("epoch2"))
    val root = new java.io.File(tmp, "t.parquet")
    val mtime = (System.currentTimeMillis() / 1000) * 1000
    mkTable(root, Seq("p=1/part-0.x" -> "abc", "p=2/part-0.x" -> "def"), mtime)
    val e1 = Tables.epochOf(spark, tmp.getAbsolutePath, "t")
    val e2 = Tables.epochOf(spark, tmp.getAbsolutePath, "t")
    assert(e1 == e2)
  }
}
