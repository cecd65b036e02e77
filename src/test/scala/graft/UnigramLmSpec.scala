package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.pipeline.{UnigramLm, WordRelation}

class UnigramLmSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private val corpus = Seq(
    "the merge the merge sort",
    "merge sort the table scan",
    "scan the table the merge",
    "sort merge join the scan scan")

  test("distributed training == serial reference, on any partitioning") {
    val words = corpus.flatMap(_.split(" ")).groupBy(identity)
      .map { case (w, ws) => (w, ws.size.toLong) }.toSeq
    val local = UnigramLm.trainLocal(words, vocabSize = 12,
      seedSize = 50, maxPieceLen = 4)
    // bound 0: distributed EM; the default bound: EM on the driver
    for (parts <- Seq(1, 7); bound <- Seq(0L, WordRelation.MaxDistinctWords)) {
      val dist = UnigramLm.train(
        corpus.toDF("text").repartition(parts), "text", vocabSize = 12,
        seedSize = 50, maxPieceLen = 4, maxDistinctWords = bound)
      assert(dist == local, s"diverged at $parts partitions, bound $bound")
    }
    // vocab respects the target modulo the always-kept single characters
    val chars = local.map(_.piece).filter(_.length == 1).toSet
    assert(local.size <= 12 + chars.size)
    // probabilities normalize
    assert(math.abs(local.map(_.prob).sum - 1.0) < 1e-12)
    // ranked by (count desc, piece asc)
    assert(local == local.sortBy(p => (-p.count, p.piece)))
  }

  test("astral/emoji corpus: distributed == serial, surrogate pairs stay atomic") {
    // U+1F4AF and U+1D54F are astral (2 UTF-16 units, 1 code point).
    // Exercises every Unicode seam at once: the singles filter (Spark
    // length() counts code points; the local face must agree), the
    // tie-break order at selection cuts (Spark UTF-8 binary = code-point
    // order, NOT Java's UTF-16 order — astral chars sort between U+D7FF
    // and U+E000 under UTF-16), and piece enumeration (a lone surrogate
    // is invalid UTF-8; Spark would mangle it in the shuffle).
    val hundred = new String(Character.toChars(0x1F4AF))
    val dsx = new String(Character.toChars(0x1D54F))
    val astral = Seq(
      s"${hundred}ok ok$dsx ${hundred}$dsx",
      s"ok$hundred ${dsx}ok $hundred",
      s"z z $hundred$dsx")
    val words = astral.flatMap(_.split(" ")).groupBy(identity)
      .map { case (w, ws) => (w, ws.size.toLong) }.toSeq
    val local = UnigramLm.trainLocal(words, vocabSize = 6,
      seedSize = 8, maxPieceLen = 3)
    for (parts <- Seq(1, 5); bound <- Seq(0L, WordRelation.MaxDistinctWords)) {
      val dist = UnigramLm.train(
        astral.toDF("text").repartition(parts), "text", vocabSize = 6,
        seedSize = 8, maxPieceLen = 3, maxDistinctWords = bound)
      assert(dist == local, s"diverged at $parts partitions, bound $bound")
    }
    // no piece ever contains an unpaired surrogate (pairs are atomic)
    assert(local.forall(_.piece.codePoints().toArray
      .forall(cp => cp < 0xD800 || cp > 0xDFFF)))
    val singles = local.map(_.piece).filter(p => p.codePointCount(0, p.length) == 1)
    assert(singles.contains(hundred) && singles.contains(dsx))
    // encode round-trips astral text; pieces concatenate back exactly
    val docs = Seq((1L, astral.head)).toDF("doc_id", "text")
    val enc = UnigramLm.encode(docs, "doc_id", "text", local).head()
    assert(enc.getString(2).replace(" ", "") == astral.head.replace(" ", ""))
  }

  test("viterbi: picks the higher-likelihood split; ties prefer fewer pieces") {
    val logp = Map("ab" -> math.log(0.4), "a" -> math.log(0.3),
      "b" -> math.log(0.2), "c" -> math.log(0.1))
    // "ab" as one piece (0.4) beats a+b (0.06)
    assert(UnigramLm.viterbi("ab", logp, 4) == List("ab"))
    assert(UnigramLm.viterbi("abc", logp, 4) == List("ab", "c"))
    // OOV char: single-char floor fallback keeps segmentation total
    assert(UnigramLm.viterbi("axb", logp, 4) == List("a", "x", "b"))
    assert(UnigramLm.viterbi("", logp, 4) == Nil)
    // exact tie on logp: "aa" with p(aa)=p(a)^2 -> fewer pieces wins
    val tie = Map("aa" -> math.log(0.25), "a" -> math.log(0.5))
    assert(math.log(0.25) == 2 * math.log(0.5) ||
      UnigramLm.viterbi("aa", tie, 4).nonEmpty) // guard: only assert rule if IEEE tie holds
    if (math.log(0.25) == 2 * math.log(0.5))
      assert(UnigramLm.viterbi("aa", tie, 4) == List("aa"))
  }

  test("saveModel/loadModel parquet artifact: loaded model bit-identical, encode identical") {
    val words = corpus.flatMap(_.split(" ")).groupBy(identity)
      .map { case (w, ws) => (w, ws.size.toLong) }.toSeq
    val model = UnigramLm.trainLocal(words, vocabSize = 12,
      seedSize = 50, maxPieceLen = 4)
    val path = TestSpark.tempDir("unigram_artifact") + "/model"
    UnigramLm.saveModel(spark, model, path)
    val loaded = UnigramLm.loadModel(spark, path)
    // full Piece equality: the probs recomputed from persisted counts
    // must be BIT-identical to the in-memory ones (counts are the
    // source of truth; the parquet prob column is display-rounded)
    assert(loaded == model)
    val docs = Seq((1L, "merge sort the table"), (2L, "zzz scan")).toDF("doc_id", "text")
    val a = UnigramLm.encode(docs, "doc_id", "text", model)
      .collect().map(r => r.getLong(0) -> r.getString(2)).toMap
    val b = UnigramLm.encode(docs, "doc_id", "text", loaded)
      .collect().map(r => r.getLong(0) -> r.getString(2)).toMap
    assert(a == b)
  }

  test("encode: pieces concatenate back to the words; OOV text survives") {
    val model = UnigramLm.trainLocal(
      Seq(("merge", 4L), ("sort", 3L), ("scan", 2L)), vocabSize = 10,
      seedSize = 50, maxPieceLen = 4)
    val docs = Seq((1L, "merge sort"), (2L, "scan"), (3L, ""), (4L, "zzz merge"))
      .toDF("doc_id", "text")
    val out = UnigramLm.encode(docs, "doc_id", "text", model)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getString(2)))).toMap
    // reassembling pieces (drop the separators) must reproduce the words
    for ((id, (_, pieces)) <- out) {
      val orig = docs.where(col("doc_id") === id).head().getString(1)
      assert(pieces.replace(" ", "") == orig.replace(" ", ""), s"doc $id")
    }
    assert(out(3L) == ((0L, "")))
    assert(out(4L)._1 >= 4L) // zzz falls back to single chars
  }
}
