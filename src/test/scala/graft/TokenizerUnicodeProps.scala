package graft

import org.scalacheck.{Gen, Prop, Properties, Test}

import graft.pipeline.{Bpe, UnigramLm, WordRelation}

/** Randomized distributed ≡ driver-branch parity for both tokenizer
  * trainers (the distributed branch forced with `maxDistinctWords = 0`) on
  * Unicode-hostile corpora: alphabets mixing ASCII, a 2-byte char, a
  * private-use BMP char (U+E000), and astral symbols (surrogate pairs)
  * maximize collation-tie and boundary-enumeration seams — the regime
  * where a UTF-16-based driver loop silently diverges from Spark's
  * UTF-8/code-point semantics (the round-7 Bpe/UnigramLm fixes). The
  * hand-built cases in BpeSpec/UnigramLmSpec pin the known seams; these
  * properties search for unknown ones. */
object TokenizerUnicodeProps extends Properties("TokenizerUnicode") {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(6)

  private val smile = new String(Character.toChars(0x1F600))
  private val dsx = new String(Character.toChars(0x1D54F))
  private val symbols = Seq("a", "b", "é", "\uE000", smile, dsx)

  private val wordGen: Gen[String] = for {
    n <- Gen.choose(1, 4)
    cs <- Gen.listOfN(n, Gen.oneOf(symbols))
  } yield cs.mkString

  private val corpusGen: Gen[List[String]] = for {
    n <- Gen.choose(2, 8)
    ws <- Gen.listOfN(n, wordGen)
  } yield ws

  property("UnigramLm.train == trainLocal on astral corpora, any partitioning") =
    Prop.forAll(corpusGen, Gen.oneOf(1, 5)) { (words, parts) =>
      val wordCounts = words.groupBy(identity)
        .map { case (w, ws) => (w, ws.size.toLong) }.toSeq
      val local = UnigramLm.trainLocal(wordCounts, vocabSize = 5,
        seedSize = 7, maxPieceLen = 3, maxRounds = 6)
      def train(bound: Long) = UnigramLm.train(
        words.map(Tuple1(_)).toDF("text").repartition(parts), "text",
        vocabSize = 5, seedSize = 7, maxPieceLen = 3, maxRounds = 6,
        maxDistinctWords = bound)
      val dist = train(0L)
      val driver = train(WordRelation.MaxDistinctWords)
      Prop(dist == local && driver == local) :|
        s"corpus=$words dist=$dist driver=$driver local=$local"
    }

  // "trainMergesLocal" names the driver-local loop, now reached through
  // trainMerges' default size gate; the distributed branch is forced
  // with maxDistinctWords = 0
  property("Bpe.trainMerges == trainMergesLocal on astral corpora, any partitioning") =
    Prop.forAll(corpusGen, Gen.oneOf(1, 5)) { (words, parts) =>
      // one row per word: repartition spreads real data, so the
      // partitioning dimension exercises the distributed aggregates
      val df = words.map(Tuple1(_)).toDF("text").repartition(parts)
      val dist = Bpe.trainMerges(df, "text", 8, maxDistinctWords = 0)
      val local = Bpe.trainMerges(df, "text", 8)
      val wholeCp = (dist.iterator ++ local.iterator)
        .flatMap(p => Iterator(p._1, p._2))
        .forall(_.codePoints().toArray.forall(cp => cp < 0xD800 || cp > 0xDFFF))
      (Prop(dist == local) :| s"corpus=$words dist=$dist local=$local") &&
        (Prop(wholeCp) :| "no merge symbol may contain an unpaired surrogate")
    }
}
