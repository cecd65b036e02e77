package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.similarity.Retrieval

/** BM25 lexical retrieval + inverted index at rest.
  *
  * The local reference below replicates the operator's determinism
  * contract exactly (integer tf/dl/df, one avgdl division, idf rounded at
  * 9 dp, left-fold in term order), so equality assertions are bitwise. */
class RetrievalSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  // ---- local reference ---------------------------------------------------

  private def round9(x: Double): Double =
    BigDecimal(x).setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble

  /** score map: (queryId, docId) -> exact (unrounded) BM25 score */
  private def referenceScores(
      corpus: Seq[(Long, String)], queryTerms: Map[Long, Seq[String]],
      k1: Double = 1.2, b: Double = 0.75): Map[(Long, Long), Double] = {
    val toks = corpus.map { case (id, t) => id -> t.split(" ", -1).toSeq }.toMap
    val n = corpus.size.toLong
    val avgdl = toks.values.map(_.size.toLong).sum.toDouble / n.toDouble
    val df = toks.values.flatMap(_.distinct).groupBy(identity).map { case (t, o) => t -> o.size.toLong }
    val out = for {
      (qid, terms) <- queryTerms.toSeq
      (did, dtoks) <- toks.toSeq
      dl = dtoks.size.toLong
      contribs = terms.distinct.sorted.flatMap { t =>
        val tf = dtoks.count(_ == t).toLong
        if (tf == 0L) None
        else {
          val idf = round9(math.log(
            (n.toDouble - df(t).toDouble + 0.5) / (df(t).toDouble + 0.5) + 1.0))
          Some(idf * ((tf.toDouble * (k1 + 1.0)) /
            (tf.toDouble + k1 * ((1.0 - b) + b * (dl.toDouble / avgdl)))))
        }
      }
      if contribs.nonEmpty
    } yield (qid, did) -> contribs.foldLeft(0.0)(_ + _)
    out.toMap
  }

  private val corpus = Seq(
    (0L, "the cat sat on the mat"),
    (1L, "the dog sat on the log"),
    (2L, "cats and dogs and cats"),
    (3L, "the the the the"),
    (4L, "a mat for a cat"),
    (5L, "log log log dog"))

  private def corpusDf = corpus.toDF("doc_id", "text")

  private def qt(pairs: (Long, String)*) = pairs.toDF("query_id", "term")

  test("bm25TopK matches the local reference bitwise (scores) and in order (ranks)") {
    val queryTerms = Map(100L -> Seq("cat", "mat"), 101L -> Seq("dog", "log"))
    val got = Retrieval.bm25TopK(corpusDf,
      qt(queryTerms.toSeq.flatMap { case (q, ts) => ts.map(q -> _) }: _*),
      "doc_id", "text", k = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
    val ref = referenceScores(corpus, queryTerms)
    for ((q, d, s, _) <- got)
      assert(s == round9(ref((q, d))), s"score mismatch for ($q,$d)")
    // ranks descend by exact score, ties toward smaller doc id
    for ((q, rows) <- got.groupBy(_._1)) {
      val sorted = rows.sortBy(_._4)
      val expected = ref.collect { case ((`q`, d), sc) => (d, sc) }.toSeq
        .sortBy { case (d, sc) => (-sc, d) }.map(_._1)
      assert(sorted.map(_._2).toSeq == expected.take(sorted.length), s"rank order for $q")
    }
  }

  test("higher tf scores higher; rarer term scores higher than common term") {
    val ref = referenceScores(corpus, Map(1L -> Seq("log")))
    assert(ref((1L, 5L)) > ref((1L, 1L)), "tf=3 must beat tf=1 for the same term")
    val both = referenceScores(corpus, Map(1L -> Seq("mat"), 2L -> Seq("the")))
    // 'mat' (df=2) is more informative than 'the' (df=3) at equal tf/dl
    assert(both((1L, 0L)) > both((2L, 0L)))
  }

  test("queries drawn from the corpus match themselves (no self-exclusion)") {
    val out = Retrieval.bm25TopK(corpusDf,
      Retrieval.queryTermsFromText(corpusDf.where($"doc_id" === 0), "doc_id", "text", 5),
      "doc_id", "text", k = 3).collect()
    assert(out.exists(r => r.getLong(0) == 0L && r.getLong(1) == 0L))
  }

  test("indexed probe ≡ direct bm25TopK (same rows, same scores, same ranks)") {
    val dir = TestSpark.tempDir("graft_inv_eq")
    Retrieval.writeInvertedIndex(corpusDf, "doc_id", "text", dir, buckets = 4)
    val queryTerms = qt((100L, "cat"), (100L, "mat"), (101L, "dog"), (101L, "log"))
    val direct = Retrieval.bm25TopK(corpusDf, queryTerms, "doc_id", "text", k = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSet
    val indexed = Retrieval.bm25TopKIndexed(spark, dir, queryTerms, k = 10, buckets = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSet
    assert(indexed == direct)
    CacheRegistry.unpersistAll()
  }

  test("append face: build(A) then append(B) ≡ build(A ∪ B) — df/avgdl stay exact") {
    val (a, b) = corpus.splitAt(3)
    val dirInc = TestSpark.tempDir("graft_inv_inc")
    val dirFull = TestSpark.tempDir("graft_inv_full")
    Retrieval.writeInvertedIndex(a.toDF("doc_id", "text"), "doc_id", "text", dirInc, buckets = 4)
    Retrieval.appendToInvertedIndex(b.toDF("doc_id", "text"), "doc_id", "text", dirInc, buckets = 4)
    Retrieval.writeInvertedIndex(corpusDf, "doc_id", "text", dirFull, buckets = 4)
    val queryTerms = qt((1L, "the"), (1L, "cat"), (2L, "log"))
    def run(dir: String) =
      Retrieval.bm25TopKIndexed(spark, dir, queryTerms, k = 10, buckets = 4)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSet
    val (inc, full) = (run(dirInc), run(dirFull))
    assert(inc == full)
    // appending CHANGED df/avgdl vs the A-only index — prove the probe saw it
    val aOnly = TestSpark.tempDir("graft_inv_aonly")
    Retrieval.writeInvertedIndex(a.toDF("doc_id", "text"), "doc_id", "text", aOnly, buckets = 4)
    assert(run(aOnly) != full)
    CacheRegistry.unpersistAll()
  }

  test("randomized: indexed ≡ direct on a generated corpus, many buckets") {
    val rnd = new scala.util.Random(42)
    val vocab = Vector("alpha", "beta", "gamma", "delta", "eps", "zeta", "eta", "theta",
      "iota", "kappa", "lambda", "mu")
    val docs = (0L until 60L).map(i =>
      (i, Seq.fill(3 + rnd.nextInt(20))(vocab(rnd.nextInt(vocab.size))).mkString(" ")))
    val df = docs.toDF("doc_id", "text")
    val queries = Retrieval.queryTermsFromText(
      df.where($"doc_id" % 10 === 0), "doc_id", "text", 4)
    val dir = TestSpark.tempDir("graft_inv_rand")
    Retrieval.writeInvertedIndex(df, "doc_id", "text", dir, buckets = 8)
    val direct = Retrieval.bm25TopK(df, queries, "doc_id", "text", k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSet
    val indexed = Retrieval.bm25TopKIndexed(spark, dir, queries, k = 5, buckets = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSet
    assert(indexed == direct && direct.nonEmpty)
    CacheRegistry.unpersistAll()
  }

  test("maxDfFraction prunes common terms from scoring, both faces identically") {
    // 'the' appears in 3/6 docs (df fraction 0.5) — pruned at 0.4; 'cat'
    // (2/6) survives. Result must equal the reference scored WITHOUT 'the'.
    val queryTerms = qt((9L, "the"), (9L, "cat"))
    val pruned = Retrieval.bm25TopK(corpusDf, queryTerms, "doc_id", "text",
      k = 10, maxDfFraction = 0.4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSet
    val ref = referenceScores(corpus, Map(9L -> Seq("cat")))
    assert(pruned.map(_._2) == ref.keySet.map(_._2))
    for ((q, d, s, _) <- pruned) assert(s == round9(ref((q, d))))
    val dir = TestSpark.tempDir("graft_inv_prune")
    Retrieval.writeInvertedIndex(corpusDf, "doc_id", "text", dir, buckets = 4)
    val prunedIdx = Retrieval.bm25TopKIndexed(spark, dir, queryTerms, k = 10,
      buckets = 4, maxDfFraction = 0.4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSet
    assert(prunedIdx == pruned)
    CacheRegistry.unpersistAll()
  }

  test("maxDfFraction preserves top-k when stopwords don't affect ranking") {
    // the worst-case-posting-walk mitigation must not change ANSWERS in
    // the regime where it is sound: a term in EVERY doc, with equal doc
    // lengths and tf, contributes the same constant to every candidate's
    // score, so dropping it shifts all scores equally and the ranking
    // among docs sharing the discriminative terms is untouched. k is
    // held within the count of docs matching a surviving term (beyond
    // that, stopword-only matches legitimately disappear when pruned).
    val docs = Seq(
      (1L, "zz cat cat alpha"), (2L, "zz cat beta gamma"),
      (3L, "zz cat cat cat"), (4L, "zz dog beta gamma"),
      (5L, "zz dog dog alpha"), (6L, "zz fox beta alpha"))
      .toDF("doc_id", "text")
    val queryTerms = qt((9L, "zz"), (9L, "cat"))
    def run(frac: Double): Seq[(Long, Long, Int)] =
      Retrieval.bm25TopK(docs, queryTerms, "doc_id", "text",
        k = 3, maxDfFraction = frac)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(3)))
        .toSeq.sortBy(t => (t._1, t._3))
    val full = run(1.0) // zz (df 6/6) scored
    val pruned = run(0.9) // zz pruned; cat (3/6) survives
    assert(full == pruned, s"full=$full pruned=$pruned")
    CacheRegistry.unpersistAll()
  }

  test("termBucket driver-side twin agrees with the Column face") {
    val terms = Seq("cat", "dog", "the", "αβγ", "", "x")
    val fromCol = terms.toDF("term")
      .select($"term", (conv(substring(md5($"term"), 1, 8), 16, 10).cast("long") % 8).as("b"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    for (t <- terms) assert(Retrieval.termBucket(t, 8) == fromCol(t), s"bucket($t)")
  }
}
