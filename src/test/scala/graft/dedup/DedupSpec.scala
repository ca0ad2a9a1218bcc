package graft.dedup

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestBase

class DedupSpec extends AnyFunSuite with SparkTestBase {
  import spark.implicits._

  private def docs(rows: (Long, String)*) = rows.toSeq.toDF("doc_id", "text")

  test("repeatedSpans: overlapping duplicated grams merge into ONE maximal span") {
    // doc 1 and doc 3 are identical (all their 10-grams repeat → one
    // whole-doc span each); doc 2 shares only the 10-token run
    // "c..l" (one exact-length span); doc 4 shares nothing
    val d = docs(
      1L -> "a b c d e f g h i j k l",
      2L -> "c d e f g h i j k l m n",
      3L -> "a b c d e f g h i j k l",
      4L -> "q r s t u v w x y z zz zzz")
    val got = Dedup.repeatedSpans(d, n = 10)
      .orderBy("doc_id", "tok_start")
      .select("doc_id", "tok_start", "tok_len")
      .as[(Long, Int, Int)].collect().toSeq
    assert(got == Seq((1L, 0, 12), (2L, 0, 10), (3L, 0, 12)))
    // the shared spans hash identically across documents
    val hashes = Dedup.repeatedSpans(d, n = 10)
      .select("doc_id", "span_md5").as[(Long, String)].collect().toMap
    assert(hashes(1L) == hashes(3L))
    assert(hashes(1L) != hashes(2L))
  }

  test("removeRepeatedSpans keeps the globally first occurrence and cuts the rest") {
    val d = docs(
      1L -> "a b c d e f g h i j k l",
      2L -> "c d e f g h i j k l m n",  // 10-token span occurs ONCE as a
                                        // maximal span → kept (removal is
                                        // per identical span, not substring)
      3L -> "a b c d e f g h i j k l",  // exact copy of doc 1 → fully cut
      4L -> "q r s t u v w x y z zz zzz")
    val got = Dedup.removeRepeatedSpans(d, n = 10)
      .orderBy("doc_id")
      .select("doc_id", "n_tokens_before", "n_tokens_after")
      .as[(Long, Int, Int)].collect().toSeq
    assert(got == Seq((1L, 12, 12), (2L, 12, 12), (3L, 12, 0), (4L, 12, 12)))
    val md5s = Dedup.removeRepeatedSpans(d, n = 10)
      .select("doc_id", "clean_md5").as[(Long, String)].collect().toMap
    assert(md5s(3L) == java.security.MessageDigest.getInstance("MD5")
      .digest("".getBytes).map("%02x".format(_)).mkString)
    assert(md5s(1L) != md5s(3L))
  }

  test("property: repeatedSpans equals an independent in-memory reference") {
    // small vocab so 3-gram repeats actually occur; the reference
    // recomputes duplicated positions and islands from scratch
    val rnd = new scala.util.Random(11)
    val vocab = Array("aa", "bb", "cc", "dd")
    for (_ <- 1 to 5) {
      val corpus = (0 until 8).map { id =>
        val n = 4 + rnd.nextInt(12)
        (id.toLong, Seq.fill(n)(vocab(rnd.nextInt(vocab.length))).mkString(" "))
      }
      val n = 3
      val toks = corpus.map { case (id, t) => id -> t.split(" ").toSeq }.toMap
      val gramCount = scala.collection.mutable.Map[Seq[String], Int]()
      for ((_, ts) <- toks; g <- ts.sliding(n) if g.length == n)
        gramCount(g) = gramCount.getOrElse(g, 0) + 1
      val expected = (for ((id, ts) <- toks) yield {
        val dupPos = (0 to ts.length - n)
          .filter(p => gramCount(ts.slice(p, p + n)) > 1)
        // islands of consecutive positions → (start, len)
        val spans = dupPos.foldLeft(List.empty[(Int, Int)]) {
          case ((s, e) :: rest, p) if p == e + 1 => (s, p) :: rest
          case (acc, p)                          => (p, p) :: acc
        }.map { case (s, e) => (id, s, e - s + n) }
        spans
      }).flatten.toSet
      val got = Dedup.repeatedSpans(corpus.toDF("doc_id", "text"), n)
        .select("doc_id", "tok_start", "tok_len")
        .as[(Long, Int, Int)].collect().toSet
      assert(got == expected, s"corpus: $corpus")
    }
  }

  test("exact dedup finds byte-identical groups and keeps min id") {
    val d = docs(1L -> "same text", 2L -> "same text", 3L -> "other")
    val g = Dedup.exactDupGroups(d).collect()
    assert(g.length == 1)
    assert(g(0).getAs[Long]("dup_count") == 2)
    assert(g(0).getAs[Long]("keep_doc_id") == 1)
    assert(Dedup.dropExactDuplicates(d).count() == 2)
  }

  test("simhash: identical texts same hash; near texts near hamming") {
    val a = Dedup.simhash60("the quick brown fox jumps over the lazy dog")
    val b = Dedup.simhash60("the quick brown fox jumps over the lazy dog")
    val c = Dedup.simhash60("the quick brown fox jumps over the lazy cat")
    val d = Dedup.simhash60("completely different words entirely unrelated")
    assert(a == b)
    def ham(x: Long, y: Long) = java.lang.Long.bitCount(x ^ y)
    assert(ham(a, c) < ham(a, d))
    // one substituted token over 9 moves ~1/5 of 60 bits at most
    assert(ham(a, c) <= 19)
  }

  test("withSimhash: giant-doc split path equals the per-row kernel") {
    import spark.implicits._
    val rnd = new scala.util.Random(7L)
    val vocab = Vector("spark", "merge", "row", "filter", "scan", "batch")
    val docs = Seq(
      (1L, "spark merge row filter"),
      (2L, (1 to 300).map(_ => vocab(rnd.nextInt(vocab.size))).mkString(" ")),
      (3L, ("dup text " * 50).trim),
      (4L, ""),
      (5L, null.asInstanceOf[String]))
      .toDF("doc_id", "text")
      .withColumn("n_chars", lit(1000L)) // force every doc giant-routed
      .withColumn("source", lit("s"))
    for (partTokens <- Seq(7, 64)) {
      val split = Dedup.withSimhash(docs,
          splitChars = 10L, partTokens = partTokens)
        .select("doc_id", "simhash").collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      val whole = Dedup.withSimhash(docs, splitChars = Long.MaxValue)
        .select("doc_id", "simhash").collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(split == whole, s"diverged at partTokens=$partTokens")
    }
    // frames without n_chars keep the plain per-row path
    val bare = Dedup.withSimhash(docs.drop("n_chars"))
      .select("doc_id", "simhash").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(bare == Dedup.withSimhash(docs, splitChars = Long.MaxValue)
      .select("doc_id", "simhash").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap)
  }

  test("array-lambda and row-wise minhash signatures agree") {
    // two implementations of one spec: minhashSignature (array HOF,
    // used by q_minhash_sig) and the explode+groupBy aggregate inside
    // minhashCandidates. If they drift, banding keys silently diverge.
    val d = docs(
      1L -> "spark table scan merge row key agg window batch stream",
      2L -> "alpha beta gamma delta epsilon zeta eta theta",
      3L -> "x")
    val lambda = d.select(col("doc_id"),
        Dedup.minhashSignature(col("text")).as("sig"))
      .as[(Long, Seq[String])].collect().toMap
    val sh = d.select(col("doc_id"),
      explode(Dedup.shingles(col("text"))).as("shingle"))
    val minCols = (0 until 8).map(s =>
      min(md5(concat(lit(s.toString), lit("|"), col("shingle")))).as(s"h$s"))
    val rowWise = sh.groupBy(col("doc_id")).agg(minCols.head, minCols.tail: _*)
      .collect().map(r => r.getLong(0) ->
        (1 to 8).map(i => r.getString(i)).toSeq).toMap
    assert(lambda == rowWise)
  }

  test("minhash candidates surface near-identical docs") {
    val base = "spark table scan merge row key agg window batch stream " * 5
    val d = docs(
      1L -> base, 2L -> (base + "tail"), 3L -> "totally different content here x y z")
    val cand = Dedup.minhashCandidates(d).as[(Long, Long)].collect().toSet
    assert(cand.contains((1L, 2L)))
    assert(!cand.contains((1L, 3L)) && !cand.contains((2L, 3L)))
  }

  test("saved signature index serves the exact recomputed candidate set") {
    // the build/serve split must be invisible in the values: pairs
    // from candidatesFromIndex over a saved index == the recomputing
    // minhashCandidates pipeline, and the stored shingle arrays match
    // the live shingles() column (the verify join depends on both)
    val base = "spark table scan merge row key agg window batch stream " * 5
    val d = docs(
      1L -> base, 2L -> (base + "tail"),
      3L -> "totally different content here x y z", 4L -> " ")
    val dir = tempDir("sigidx")
    Dedup.saveSignatureIndex(d, dir)
    val idx = spark.read.parquet(dir)
    val served = Dedup.candidatesFromIndex(idx)
      .as[(Long, Long)].collect().toSet
    val recomputed = Dedup.minhashCandidates(d).as[(Long, Long)].collect().toSet
    assert(served == recomputed)
    val storedSh = idx.select(col("doc_id"), col("sh")).as[(Long, Seq[String])]
      .collect().toMap
    val liveSh = d.filter(trim(col("text")) =!= "")
      .select(col("doc_id"), Dedup.shingles(col("text")).as("sh"))
      .as[(Long, Seq[String])].collect().toMap
    assert(storedSh == liveSh)
    assert(!storedSh.contains(4L)) // blank docs excluded, like the live path
  }

  test("ngram jaccard: identical docs → 1.0; disjoint docs absent") {
    val d = docs(1L -> "a b c d e f", 2L -> "a b c d e f", 3L -> "x y z w v u")
    val j = Dedup.ngramJaccard(d).collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b")) ->
        r.getAs[Double]("jaccard")).toMap
    assert(j((1L, 2L)) == 1.0)
    assert(!j.contains((1L, 3L)))
  }

  test("simhash candidate generation via banding matches direct hamming") {
    val d = docs(
      1L -> "alpha beta gamma delta epsilon zeta eta theta",
      2L -> "alpha beta gamma delta epsilon zeta eta iota",
      3L -> "unrelated completely different text with other words")
    val got = Dedup.simhashCandidates(d, maxHamming = 16)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    val h1 = Dedup.simhash60("alpha beta gamma delta epsilon zeta eta theta")
    val h2 = Dedup.simhash60("alpha beta gamma delta epsilon zeta eta iota")
    if (java.lang.Long.bitCount(h1 ^ h2) <= 16)
      assert(got.contains((1L, 2L)))
  }

  test("containmentPairs: embedded doc detected where symmetric jaccard misses") {
    import spark.implicits._
    val big = (1 to 60).map(i => s"w$i").mkString(" ")
    val embedded = (1 to 20).map(i => s"w$i").mkString(" ") // prefix of big
    val unrelated = (1 to 40).map(i => s"z$i").mkString(" ")
    val docs = Seq((1L, big), (2L, embedded), (3L, unrelated))
      .toDF("doc_id", "text")
    val out = Dedup.containmentPairs(docs).collect()
    assert(out.length == 1, s"exactly the embedded pair: ${out.toSeq}")
    val r = out.head
    assert((r.getLong(0), r.getLong(1)) == (1L, 2L))
    val (nA, nB, inter) = (r.getInt(2), r.getInt(3), r.getInt(4))
    // the embedded side is FULLY contained...
    assert(r.getDouble(6) == 1.0 && r.getInt(7) == 1)
    // ...while the symmetric jaccard sits far below any banding
    // threshold — the case this operator exists for
    assert(inter.toDouble / (nA + nB - inter) < 0.5)
  }

  test("lineDedup: first occurrence wins, reassembly is the identity") {
    import spark.implicits._
    val docs = Seq(
      // doc 1: two full lines; its second line reappears in doc 2
      (1L, (Seq.tabulate(10)(i => s"a$i") ++ Seq.tabulate(10)(i => s"b$i"))
        .mkString(" ")),
      // doc 2: the stolen line first, then an original partial line
      (2L, (Seq.tabulate(10)(i => s"b$i") ++ Seq("tail", "words"))
        .mkString(" ")),
      // doc 3: a pure copy of doc 1 — every line removed
      (3L, (Seq.tabulate(10)(i => s"a$i") ++ Seq.tabulate(10)(i => s"b$i"))
        .mkString(" ")))
      .toDF("doc_id", "text")
    val out = Dedup.lineDedup(docs).orderBy("doc_id").collect()
    assert(out.map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getInt(3)))
      .toSeq == Seq((1L, 2, 2, 0), (2L, 2, 1, 1), (3L, 2, 0, 2)))
    // untouched doc: reassembled text == original text, md5-equal
    val md5OfText = docs.filter($"doc_id" === 1L)
      .select(md5($"text")).head.getString(0)
    assert(out(0).getString(4) == md5OfText)
    // fully-removed doc reassembles to the empty string
    assert(out(2).getString(4) ==
      java.security.MessageDigest.getInstance("MD5").digest(Array.empty[Byte])
        .map("%02x".format(_)).mkString)
  }
}
