package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.text.{TextAnalysis, TextFunctions}

class TextSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("wordShingles: n-grams of a token list") {
    val out = Seq("a b c d").toDF("text")
      .select(TextFunctions.wordShingles(TextFunctions.tokens(col("text")), 3).as("sh"))
      .collect().head.getSeq[String](0)
    assert(out == Seq("a b c", "b c d"))
  }

  test("minHashFingerprint: compiled MinWindowMd5 ≡ the HOF formulation, " +
      "bit-for-bit (r14)") {
    // ASCII, multibyte (é and an astral emoji — exercises the substring
    // fallback), exact-window-length, and a repetitive string
    val texts = Seq(
      "the quick brown fox jumps over the lazy dog",
      "café con leche y más café 😀 para todos hoy",
      "0123456789abcdef",
      "aaaaaaaaaaaaaaaaaaaaaaaaaaaa")
    val w = 16
    val df = texts.toDF("text").where(length(col("text")) >= w)
    val hof = df.select(
      array_min(transform(
        sequence(lit(1), length(col("text")) - lit(w - 1)),
        i => md5(col("text").substr(i, lit(w))))).as("fp"))
      .collect().map(_.getString(0)).toSeq
    val compiled = df.select(TextFunctions.minHashFingerprint(col("text"), w).as("fp"))
      .collect().map(_.getString(0)).toSeq
    assert(compiled == hof)
  }

  test("jaccard: identical sets = 1.0, disjoint = 0.0") {
    val df = Seq((Seq("a", "b"), Seq("a", "b"), Seq("c", "d"))).toDF("x", "y", "z")
    val r = df.select(
      TextFunctions.jaccard(col("x"), col("y")),
      TextFunctions.jaccard(col("x"), col("z"))).collect().head
    assert(r.getDouble(0) == 1.0 && r.getDouble(1) == 0.0)
  }

  test("simhash: equal inputs equal fingerprints; bits bounded") {
    val df = Seq(("a b c a", "a b c a"), ("x y z w", "a b c a")).toDF("t1", "t2")
    val rows = df.select(
      TextFunctions.simhash(TextFunctions.tokens(col("t1")), 16),
      TextFunctions.simhash(TextFunctions.tokens(col("t2")), 16)).collect()
    assert(rows(0).getLong(0) == rows(0).getLong(1))
    assert(rows.forall(r => r.getLong(0) >= 0 && r.getLong(0) < (1L << 16)))
  }

  test("languageId picks the language with most stopword hits") {
    val out = TextAnalysis.languageId(
      Seq((1L, "the cat and the dog of the house"),
          (2L, "der hund und die katze ist ein tier")).toDF("doc_id", "text"), "text")
      .select("doc_id", "predicted_lang").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out(1L) == "en" && out(2L) == "de")
  }

  test("qualityScore produces bounded score and sane features") {
    val out = TextAnalysis.qualityScore(
      Seq((1L, "the quick brown fox is on a hill")).toDF("doc_id", "text"), "text")
      .select("n_tokens", "mean_tok_len", "quality").collect().head
    assert(out.getLong(0) == 8L)
    assert(out.getDouble(1) == 25.0 / 8)
    assert(out.getDouble(2) >= 0.0 && out.getDouble(2) <= 1.0)
  }

  test("tokenCounts: whitespace vs BPE-ish vs distinct") {
    val out = TextAnalysis.tokenCounts(
      Seq((1L, "hello world hello x9 !")).toDF("doc_id", "text"), "text").collect().head
    assert(out.getAs[Long]("ws_tokens") == 5L)
    // hello, world, hello, x, 9, ! -> 6 BPE-ish tokens
    assert(out.getAs[Long]("bpe_tokens") == 6L)
    assert(out.getAs[Long]("distinct_tokens") == 4L)
  }

  test("normalizeUnicode: decomposed composes to precomposed; ASCII passes through; idempotent") {
    val decomposed = "cafe\u0301 A\u030A" // e+COMBINING ACUTE, A+COMBINING RING
    val precomposed = "caf\u00e9 \u00c5"    // é, Å
    val rows = Seq((0L, decomposed), (1L, precomposed), (2L, "plain ascii"), (3L, ""))
      .toDF("doc_id", "text")
    val out = TextAnalysis.normalizeUnicode(rows, "text")
      .collect().map(r => r.getLong(0) ->
        ((r.getString(2), r.getBoolean(3), r.getLong(4), r.getLong(5)))).toMap
    assert(out(0L)._1 == precomposed && out(0L)._2)
    assert(out(0L)._3 == 8L && out(0L)._4 == 6L) // two combining marks fold in
    assert(out(1L) == ((precomposed, false, 6L, 6L)))
    assert(out(2L) == (("plain ascii", false, 11L, 11L)))
    assert(out(3L) == (("", false, 0L, 0L)))
    // idempotent: normalizing the output changes nothing
    val again = TextAnalysis.normalizeUnicode(
      Seq((0L, out(0L)._1)).toDF("doc_id", "text"), "text").head()
    assert(!again.getBoolean(3))
  }

  test("fingerprint: equal for equal text, different for different text") {
    val out = TextAnalysis.fingerprint(
      Seq((1L, "abcdefghijklmnopqrstuvwxyz"), (2L, "abcdefghijklmnopqrstuvwxyz"),
          (3L, "zyxwvutsrqponmlkjihgfedcba")).toDF("doc_id", "text"), "text")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out(1L) == out(2L))
    assert(out(1L) != out(3L))
  }

  test("sourceOverlap: exact intersections and jaccard on a hand-built corpus") {
    val docs = Seq(
      (1L, "a b c", "s1"), (2L, "c d", "s1"),    // s1 vocab {a,b,c,d}
      (3L, "c d e", "s2"),                        // s2 vocab {c,d,e}
      (4L, "x", "s3")                             // s3 vocab {x}: disjoint, no pair rows
    ).toDF("doc_id", "text", "source")
    val out = TextAnalysis.sourceOverlap(docs, "source", "text")
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getDouble(3)))).toMap
    assert(out == Map(("s1", "s2") -> ((2L, 2.0 / 5.0))))
  }

  test("readability: hand-counted sentences/words/syllables and both formulas") {
    // 2 sentences, 4 words, syllables: the=1, cat=1, sat=1, quietly=3 (uie|e|y... vowel
    // groups: u-ie? 'quietly' -> uie, y => 2)  -- recount: q(uie)tl(y) = 2 groups
    val docs = Seq(
      (1L, "The cat sat. Quietly!"),
      (2L, "zzz"),          // no vowels: syllable floor 1; fragment: 1 sentence min
      (3L, "... !!!"),      // zero words after stripping: dropped
      (4L, "a b")           // 2 words, 2 syllables, no terminator: n_sentences=1
    ).toDF("doc_id", "text")
    val out = TextAnalysis.readability(docs, "text")
      .select("doc_id", "n_sentences", "n_words", "n_syllables", "fre", "fk_grade")
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4), r.getDouble(5)))).toMap
    assert(!out.contains(3L))
    val (s1, w1, sy1, fre1, fk1) = out(1L)
    assert((s1, w1, sy1) == ((2L, 4L, 5L)))
    val wps = 4.0 / 2.0; val spw = 5.0 / 4.0
    assert(math.abs(fre1 - (206.835 - 1.015 * wps - 84.6 * spw)) < 1e-9)
    assert(math.abs(fk1 - (0.39 * wps + 11.8 * spw - 15.59)) < 1e-9)
    assert(out(2L)._1 == 1L && out(2L)._2 == 1L && out(2L)._3 == 1L)
    assert(out(4L)._1 == 1L && out(4L)._2 == 2L && out(4L)._3 == 2L)
  }
}
