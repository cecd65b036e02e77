package graft

import org.scalacheck.{Gen, Prop, Properties, Test}

import graft.dedup.Dedup

/** Randomized equivalence: the prefix-filtered similarity join (PPJoin
  * length + positional candidate pruning) must return EXACTLY the pairs the
  * naive all-pairs Jaccard finds — the pruning is only sound if it never
  * drops a qualifying pair, including threshold-boundary ones. */
object DedupProps extends Properties("Dedup") {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  // 8 by default; SPARK_GRAFT_PROPS_N=50+ escalates for a nightly-style
  // deep run (the d18 differential here is what flushed out the
  // zero-norm ANSI divide-by-zero in round 10 — depth pays)
  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(
      sys.env.get("SPARK_GRAFT_PROPS_N").map(_.toInt).getOrElse(8))

  // small vocabulary forces heavy token overlap → many near-threshold pairs
  private val wordGen = Gen.oneOf("aa", "bb", "cc", "dd", "ee", "ff", "gg", "hh")
  private val docGen = Gen.chooseNum(1, 8).flatMap(n => Gen.listOfN(n, wordGen))
  private val corpusGen = Gen.chooseNum(2, 12).flatMap(n => Gen.listOfN(n, docGen))
  private val thresholdGen = Gen.oneOf(0.3, 0.5, 2.0 / 3.0, 0.75, 0.9, 1.0)

  property("ngramJaccardPairs == brute-force all-pairs Jaccard at the same threshold") =
    Prop.forAll(corpusGen, thresholdGen,
      org.scalacheck.Gen.oneOf(true, false), org.scalacheck.Gen.oneOf(true, false)) {
      (docs, t, rarest, collapse) =>
      val df = docs.zipWithIndex
        .map { case (ws, i) => (i.toLong, ws.mkString(" ")) }
        .toDF("doc_id", "text")
        .withColumn("blk", org.apache.spark.sql.functions.lit(0))
      // both branches of the size gate: the in-task PPJoin kernel (these
      // fixtures fit) and the forced distributed plan
      def got = Dedup.ngramJaccardPairs(df, "doc_id", "text", Seq("blk"), t,
        rarestFirst = rarest, collapseExactDuplicates = collapse)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val sets = docs.map(_.toSet).zipWithIndex
      val want = (for {
        (sa, ia) <- sets; (sb, ib) <- sets if ia < ib
        j = (sa & sb).size.toDouble / (sa | sb).size
        if j >= t
      } yield (ia.toLong, ib.toLong)).toSet
      val (inTask, dist) = (got, TestSpark.distributed(got))
      Prop(inTask == want && dist == want) :|
        s"inTask=$inTask distributed=$dist want=$want docs=$docs t=$t"
    }

  // --- winnowed exact-substring dedup (d8) ---
  // tiny alphabet → real k-gram collisions across random docs
  private val charGen = Gen.oneOf('a', 'b', 'c')
  private val textGen = Gen.chooseNum(6, 30).flatMap(n => Gen.listOfN(n, charGen).map(_.mkString))
  private val kgram = 4
  private val window = 3

  /** Local replication of hash → winnow → distinct, hex-string compares. */
  private def localFps(t: String): Set[String] =
    if (t.length < kgram + window - 1) Set.empty
    else {
      val md = java.security.MessageDigest.getInstance("MD5")
      val kh = (0 to t.length - kgram).map(i =>
        md.digest(t.substring(i, i + kgram).getBytes("UTF-8")).map("%02x".format(_)).mkString)
      (0 to kh.length - window).map(i => kh.slice(i, i + window).min).toSet
    }

  property("substringDupPairs == local winnow replication (ids AND intersection counts)") =
    Prop.forAll(Gen.chooseNum(2, 8).flatMap(n => Gen.listOfN(n, textGen))) { texts =>
      val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
      val got = Dedup.substringDupPairs(df, "doc_id", "text", kgram, window, minShared = 1)
        .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
      val sets = texts.map(localFps).zipWithIndex
      val want = (for {
        (sa, ia) <- sets; (sb, ib) <- sets if ia < ib
        n = (sa & sb).size if n >= 1
      } yield (ia.toLong, ib.toLong) -> n.toLong).toMap
      Prop(got == want) :| s"got=$got want=$want texts=$texts"
    }

  property("winnowing guarantee: a planted shared span of kgram+window-1 chars is always found") =
    Prop.forAll(textGen, textGen, Gen.listOfN(kgram + window - 1, charGen).map(_.mkString)) {
      (a, b, span) =>
        val df = Seq((1L, a + span), (2L, span + b)).toDF("doc_id", "text")
        val got = Dedup.substringDupPairs(df, "doc_id", "text", kgram, window, minShared = 1)
          .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
        Prop(got.contains((1L, 2L))) :| s"span=$span a=$a b=$b got=$got"
    }

  // --- banded hyperplane-LSH embedding dedup (d18) ---
  // Differential vs an UNBLOCKED all-pairs scan with the banding replicated
  // locally: the operator must return exactly the all-pairs cosine matches
  // whose vectors collide in ≥1 band (precision exact, recall = banding).
  // Integral vector entries keep every dot/norm/cosine bit-identical
  // between Spark's DotProduct (index-order double sum) and the local fold.
  private val d18Bands = 3
  private val d18Rows = 2
  private val d18Dims = 4
  private val vecGen = Gen.listOfN(d18Dims, Gen.chooseNum(-2, 2).map(_.toDouble))
  private val vecsGen = Gen.chooseNum(2, 10).flatMap(n => Gen.listOfN(n, vecGen))
  private val cosThresholdGen = Gen.oneOf(-0.5, 0.0, 0.4, 0.9, 1.0)

  property("embeddingLshPairs == local all-pairs with replicated banding (pairs AND cosines)") =
    Prop.forAll(vecsGen, cosThresholdGen) { (vecs, t) =>
      val df = vecs.zipWithIndex.map { case (v, i) => (i.toLong, v) }
        .toDF("vec_id", "embedding")
      val got = Dedup.embeddingLshPairs(df, "vec_id", "embedding",
        bands = d18Bands, rowsPerBand = d18Rows, dims = d18Dims, threshold = t)
        .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
      val w = graft.similarity.Similarity.hyperplaneWeights(d18Bands * d18Rows, d18Dims)
      def dotl(a: Seq[Double], b: Seq[Double]): Double =
        a.iterator.zip(b.iterator).foldLeft(0.0) { case (s, (x, y)) => s + x * y }
      def bucket(v: Seq[Double], band: Int): Long =
        (0 until d18Rows).foldLeft(0L) { (acc, p) =>
          acc + (if (dotl(v, w(band * d18Rows + p).toSeq) > 0) 1L << p else 0L)
        }
      val iv = vecs.zipWithIndex
      val want = (for {
        (va, ia) <- iv; (vb, ib) <- iv if ia < ib
        if (0 until d18Bands).exists(b => bucket(va, b) == bucket(vb, b))
        cos = dotl(va, vb) / (math.sqrt(dotl(va, va)) * math.sqrt(dotl(vb, vb)))
        if !cos.isNaN && cos >= t
      } yield (ia.toLong, ib.toLong) -> cos).toMap
      Prop(got == want) :| s"got=$got want=$want vecs=$vecs t=$t"
    }
}
