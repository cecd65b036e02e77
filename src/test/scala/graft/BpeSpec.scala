package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.pipeline.{Bpe, WordRelation}

/** Both branches of BPE training (driver loop, and distributed loop via
  * `maxDistinctWords = 0`) vs a transparent single-machine reference
  * implementation — merge lists must be bit-identical (deterministic
  * tie-break), independent of partitioning; encoding must replay
  * training exactly on seen words and degrade to chars on unseen ones. */
class BpeSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  /** Reference BPE trainer: the textbook in-memory loop. */
  private def refTrain(corpus: Seq[String], nMerges: Int): Seq[(String, String)] = {
    var words: Map[Seq[String], Long] = corpus
      .flatMap(_.split(" ")).filter(_.nonEmpty)
      .groupBy(identity).map { case (w, ws) =>
        ((w.map(_.toString) :+ Bpe.EOW), ws.size.toLong) }
    val merges = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    var continue = true
    while (continue && merges.size < nMerges) {
      val counts = scala.collection.mutable.HashMap.empty[(String, String), Long]
      for ((syms, n) <- words; p <- syms.sliding(2) if p.length == 2)
        counts((p.head, p(1))) = counts.getOrElse((p.head, p(1)), 0L) + n
      if (counts.isEmpty) continue = false
      else {
        val (pair, _) = counts.toSeq.minBy { case ((a, b), n) => (-n, a, b) }
        merges += pair
        words = words.map { case (syms, n) =>
          (Bpe.mergeOnce(syms, pair._1, pair._2), n) }
          .groupBy(_._1).map { case (k, vs) => (k, vs.map(_._2).sum) }
      }
    }
    merges.toSeq
  }

  // the classic Sennrich-style fixture: suffix regularities to discover
  private val corpus = Seq(
    "low low low lower lower lowest",
    "newer newer newer newest wider wider",
    "low newer lowest widest")

  test("distributed BPE training equals the reference, regardless of partitioning") {
    val df = corpus.toDF("text")
    val expect = refTrain(corpus, 15)
    assert(expect.size == 15, "fixture must support 15 merges")
    assert(Bpe.trainMerges(df, "text", 15, checkpointEvery = 4, maxDistinctWords = 0) == expect)
    assert(Bpe.trainMerges(df.repartition(5), "text", 15, maxDistinctWords = 0) == expect)
  }

  test("batched merge selection is exact: every batch size yields the sequential list") {
    val df = corpus.toDF("text")
    val expect = refTrain(corpus, 15)
    for (bs <- Seq(1, 2, 4, 8, 32))
      assert(Bpe.trainMerges(df, "text", 15, batchSize = bs, maxDistinctWords = 0) == expect,
        s"batchSize=$bs diverged from the sequential reference")
  }

  test("batched selection stays exact on randomized corpora (tie-heavy, tiny alphabet)") {
    // A 3-letter alphabet with short words maximizes count ties and symbol
    // conflicts — the regime where a naive skip-conflicts batcher diverges
    // from the sequential list. 8 seeded corpora, full-list equality.
    for (seed <- 0 until 8) {
      val rnd = new scala.util.Random(seed)
      val words = Seq.fill(30)((0 until (1 + rnd.nextInt(5)))
        .map(_ => ('a' + rnd.nextInt(3)).toChar).mkString)
      val text = words.mkString(" ")
      val expect = refTrain(Seq(text), 12)
      val got = Bpe.trainMerges(Seq(Tuple1(text)).toDF("text"), "text", 12,
        batchSize = 8, maxDistinctWords = 0)
      assert(got == expect, s"seed=$seed: batched $got != sequential $expect")
    }
  }

  test("size gate: driver loop == reference == distributed branch") {
    val df = corpus.toDF("text")
    val expect = refTrain(corpus, 15)
    assert(Bpe.trainMerges(df, "text", 15) == expect,
      "local merge loop diverged from the sequential reference")
    // tie-heavy randomized corpora — the lazy-invalidation PQ must make
    // exactly the textbook decisions under maximal count ties
    for (seed <- 0 until 6) {
      val rnd = new scala.util.Random(100 + seed)
      val words = Seq.fill(30)((0 until (1 + rnd.nextInt(5)))
        .map(_ => ('a' + rnd.nextInt(3)).toChar).mkString)
      val text = words.mkString(" ")
      val expectR = refTrain(Seq(text), 12)
      val got = Bpe.trainMerges(Seq(Tuple1(text)).toDF("text"), "text", 12)
      assert(got == expectR, s"seed=$seed: local $got != sequential $expectR")
    }
    // a bound below the vocabulary size takes the distributed loop —
    // and still produces the same list
    assert(Bpe.trainMerges(df, "text", 15, maxDistinctWords = 1) == expect)
    // more merges than the corpus supports: both branches stop at
    // exhaustion like ref
    val all = refTrain(corpus, 10000)
    assert(Bpe.trainMerges(df, "text", 10000) == all)
    assert(Bpe.trainMerges(df, "text", 10000, maxDistinctWords = 1) == all)
  }

  test("training stops early when no adjacent pairs remain") {
    // single-char words + EOW: one merge each, then nothing left
    for (bound <- Seq(WordRelation.MaxDistinctWords, 0L)) {
      val merges = Bpe.trainMerges(Seq("a b a").toDF("text"), "text", 50,
        maxDistinctWords = bound)
      assert(merges.size < 50 && merges.nonEmpty)
      assert(merges.contains(("a", Bpe.EOW)))
    }
  }

  test("encode replays training on seen words; unseen words degrade to chars+known merges") {
    val df = corpus.toDF("text")
    val merges = Bpe.trainMerges(df, "text", 15)
    // replay: encoding each distinct training word reproduces the final
    // training-state symbols (computed via the reference)
    var words: Map[Seq[String], Long] = corpus
      .flatMap(_.split(" ")).filter(_.nonEmpty)
      .groupBy(identity).map { case (w, ws) =>
        ((w.map(_.toString) :+ Bpe.EOW), ws.size.toLong) }
    for ((a, b) <- merges)
      words = words.map { case (syms, n) => (Bpe.mergeOnce(syms, a, b), n) }
        .groupBy(_._1).map { case (k, vs) => (k, vs.map(_._2).sum) }
    val finalSyms = words.keySet
    val distinctWords = corpus.flatMap(_.split(" ")).filter(_.nonEmpty).distinct
    val encoded = Bpe.encode(
      distinctWords.zipWithIndex.map { case (w, i) => (i.toLong, w) }.toDF("id", "text"),
      "id", "text", merges)
      .collect().map(r => r.getSeq[String](1)).toSet
    assert(encoded == finalSyms)
    // unseen word: valid segmentation (concatenation restores word+EOW),
    // using only trained symbols or single chars
    val oov = Bpe.encode(Seq((1L, "lownew")).toDF("id", "text"), "id", "text", merges)
      .collect().head.getSeq[String](1)
    assert(oov.mkString == "lownew" + Bpe.EOW)
    assert(oov.length > 1) // not fully merged: "lownew</w>" was never a word
  }

  test("mergesDF artifact roundtrips through mergesFromDF, encode unchanged") {
    val df = corpus.toDF("text")
    val merges = Bpe.trainMerges(df, "text", 15)
    val loaded = Bpe.mergesFromDF(Bpe.mergesDF(spark, merges).repartition(3))
    assert(loaded == merges)
    val a = Bpe.encode(Seq((1L, "lower widest")).toDF("id", "text"), "id", "text", merges)
      .collect().head.getSeq[String](1)
    val b = Bpe.encode(Seq((1L, "lower widest")).toDF("id", "text"), "id", "text", loaded)
      .collect().head.getSeq[String](1)
    assert(a == b)
  }

  test("astral tie-breaks: local merge loop == distributed on surrogate-pair symbols") {
    // count ties force the pair-ASC tie-break to decide; "😀" (U+1F600)
    // sorts ABOVE U+E000 in code-point/UTF-8 order but BELOW it in
    // UTF-16 order (high surrogate 0xD83D < 0xE000) — a comparator
    // using String.compareTo would give the two faces different merge
    // lists on this corpus
    val e000 = "\uE000"
    val smile = new String(Character.toChars(0x1F600))
    val corpus = Seq(s"${smile}a ${e000}b", s"${smile}a ${e000}b")
    val df = corpus.toDF("text")
    val dist = Bpe.trainMerges(df, "text", 6, maxDistinctWords = 0)
    val local = Bpe.trainMerges(df, "text", 6)
    assert(dist == local, s"dist=$dist local=$local")
    // and the merge symbols keep surrogate pairs whole
    assert(dist.flatMap(p => Seq(p._1, p._2)).forall(s =>
      s.codePoints().toArray.forall(cp => cp < 0xD800 || cp > 0xDFFF)))
  }

  test("saveMerges/loadMerges parquet artifact: loaded model == in-memory, encode identical") {
    val df = corpus.toDF("text")
    val merges = Bpe.trainMerges(df, "text", 15)
    val path = TestSpark.tempDir("bpe_artifact") + "/merges"
    Bpe.saveMerges(spark, merges, path)
    val loaded = Bpe.loadMerges(spark, path)
    assert(loaded == merges)
    val docs = Seq((1L, "lower widest"), (2L, "unseen zz")).toDF("id", "text")
    val a = Bpe.encode(docs, "id", "text", merges)
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    val b = Bpe.encode(docs, "id", "text", loaded)
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    assert(a == b)
  }

  test("encode with no merges is characters + end-of-word marker") {
    val out = Bpe.encode(Seq((1L, "ab c")).toDF("id", "text"), "id", "text", Nil)
      .collect().head
    assert(out.getSeq[String](1) == Seq("a", "b", Bpe.EOW, "c", Bpe.EOW))
    assert(out.getLong(2) == 5L)
  }

  test("supplementary characters stay whole symbols (no split surrogate pairs)") {
    val rocket = "🚀" // U+1F680, outside the BMP
    val text = s"${rocket}x ${rocket}x ${rocket}y"
    val merges = Bpe.trainMerges(Seq(Tuple1(text)).toDF("text"), "text", nMerges = 1)
    // With whole-code-point symbols the top count is 2, tied between
    // (rocket, x) and (x, EOW), and the ASC tie-break picks (x, EOW)
    // ("x" < the rocket's lead unit). A surrogate-SPLITTING impl would
    // instead see the rocket's (high, low) pair at count 3 and win —
    // so the symbol scan below fails exactly on the buggy impl.
    merges.flatMap(m => Seq(m._1, m._2)).foreach { sym =>
      sym.toCharArray.foreach { ch =>
        assert(!Character.isSurrogate(ch) || sym.codePointCount(0, sym.length) * 2 == sym.length,
          s"lone surrogate leaked into merge symbol: ${sym.toSeq.map(_.toInt)}")
      }
    }
    val enc = Bpe.encode(Seq((1L, text)).toDF("id", "text"), "id", "text", merges)
      .collect().head.getSeq[String](1)
    // every emitted token is valid UTF-16 (paired surrogates only)
    enc.foreach { tok =>
      var i = 0
      while (i < tok.length) {
        val ch = tok.charAt(i)
        if (Character.isHighSurrogate(ch)) {
          assert(i + 1 < tok.length && Character.isLowSurrogate(tok.charAt(i + 1)),
            s"unpaired high surrogate in token ${tok.toSeq.map(_.toInt)}")
          i += 2
        } else {
          assert(!Character.isLowSurrogate(ch),
            s"unpaired low surrogate in token ${tok.toSeq.map(_.toInt)}")
          i += 1
        }
      }
    }
    assert(enc.mkString == text.replace(" ", Bpe.EOW) + Bpe.EOW)
  }
}
