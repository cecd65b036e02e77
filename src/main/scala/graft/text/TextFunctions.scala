package graft.text

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis column functions for large-scale training-data pipelines
  * (the driver-mandated extension surface, SURVEY §7.6 — the reference
  * itself has no string functions, `/root/reference` SURVEY §2.12).
  *
  * Every function here is a pure Catalyst `Column` expression — no UDFs —
  * so the whole text pipeline stays inside whole-stage codegen, survives
  * column pruning/predicate pushdown, and runs identically on a 1000-
  * executor cluster. Hashing is built on `md5` (ubiquitous, deterministic,
  * and reproducible in any other engine — which is how the DuckDB oracle
  * verifies these operators bit-for-bit).
  */
object TextFunctions {

  /** Whitespace tokenization (single-space delimited corpus). */
  def tokens(text: Column): Column = split(text, " ")

  /** Token multiset → set. */
  def distinctTokens(text: Column): Column = array_distinct(tokens(text))

  /** Word n-gram shingles (distinct), the unit of MinHash/Jaccard dedup.
    * Caller must ensure `size(tokens) >= n` (filter first — Spark's
    * `sequence(a, b)` runs DESCENDING when a > b, which would corrupt the
    * result rather than return empty). */
  def wordShingles(toks: Column, n: Int): Column = {
    val idx = sequence(lit(1), size(toks) - lit(n - 1))
    array_distinct(transform(idx, i =>
      concat_ws(" ", (0 until n).map(o => element_at(toks, i + lit(o))): _*)))
  }

  /** A deterministic family of hash functions indexed by `seed`:
    * h_seed(x) = md5(x ⧺ "#" ⧺ seed), compared lexicographically.
    * A keyed md5 is an independent uniform permutation proxy per seed —
    * exactly what MinHash needs — and is reproducible in any engine. */
  def seededHash(value: Column, seed: Column): Column =
    md5(concat(value, lit("#"), seed.cast("string")))

  /** MinHash signature: for each of `k` seeds, the minimum seeded hash over
    * the shingle set. One pass over the shingles per seed, all inside
    * codegen; signature length k is a plan-time constant. */
  def minhashSignature(shingles: Column, k: Int): Column =
    transform(sequence(lit(0), lit(k - 1)), s =>
      array_min(transform(shingles, sh => seededHash(sh, s))))

  /** Exact Jaccard similarity of two pre-distinct arrays, as a double. */
  def jaccard(a: Column, b: Column): Column =
    size(array_intersect(a, b)).cast("double") /
      size(array_distinct(concat(a, b))).cast("double")

  /** SimHash fingerprint over `bits` ≤ 32 bit positions (one md5 hex char
    * each): per distinct feature take hex char i of md5(feature); its high
    * bit (char in 8..f) votes +1, else -1; fingerprint bit i = (vote sum >
    * 0). Near-duplicates have small Hamming distance between fingerprints.
    * Features should be discriminative units (word n-gram shingles — raw
    * unigrams saturate on same-vocabulary corpora). */
  def simhash(features: Column, bits: Int): Column = {
    require(bits >= 1 && bits <= 32, "simhash: bits must be in 1..32")
    val hashes = transform(array_distinct(features), t => md5(t))
    val highHex = Seq("8", "9", "a", "b", "c", "d", "e", "f").map(lit)
    val bitCols = (1 to bits).map { i =>
      val votes = aggregate(hashes, lit(0),
        (acc, h) => acc + when(substring(h, i, 1).isin(highHex: _*), 1).otherwise(-1))
      when(votes > 0, lit(1L << (i - 1))).otherwise(lit(0L))
    }
    bitCols.reduce(_ + _)
  }

  /** Count of tokens appearing in a fixed word list (duplicates counted —
    * it's a hit count, not an overlap size). */
  def wordListHits(toks: Column, words: Seq[String]): Column =
    size(filter(toks, t => t.isin(words.map(lit): _*)))

  /** Stopword lists for the n-gram/stopword language-ID heuristic. Tiny on
    * purpose: broadcast-literal arrays, no lookup table, no shuffle. */
  val stopwords: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "a", "of", "and", "to", "in", "is"),
    "de" -> Seq("der", "die", "das", "und", "ist", "ein"),
    "fr" -> Seq("le", "la", "les", "et", "est", "un"),
    "es" -> Seq("el", "la", "los", "y", "es", "un"),
  )

  /** Token-count via a BPE-ish regex: runs of letters, runs of digits, or
    * any single non-space symbol count as one token each. Whitespace is
    * the EXPLICIT class (= Java's `\s`): RE2's `\s` omits vertical tab
    * \x0B, so the shorthand would diverge between Spark and the DuckDB
    * oracle on documents containing one. */
  val bpeTokenPattern = "[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 \\t\\n\\x0B\\f\\r]"

  def bpeTokenCount(text: Column): Column =
    size(regexp_extract_all(text, lit(bpeTokenPattern), lit(0)))

  /** Rolling-hash document fingerprint (winnowing-lite): hash every
    * `window`-char substring, keep the minimum hash. Identical texts ⇒
    * identical fingerprints; near-identical texts collide with high
    * probability. Caller ensures `length(text) >= window`.
    *
    * r14: ONE codegen'd pass ([[graft.functions.MinWindowMd5]]) —
    * bit-identical to the HOF form
    * `array_min(transform(sequence(1, len-window+1), i -> md5(substr)))`
    * (TextFunctionsSpec pins the equality), without its per-position
    * interpreted lambda + Column-md5 + substring copies — the
    * [[graft.functions.WinnowFingerprints]] lesson. */
  def minHashFingerprint(text: Column, window: Int): Column =
    graft.functions.TextExpressionFunctions.minWindowMd5(text, window)
}
