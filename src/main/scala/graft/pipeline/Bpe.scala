package graft.pipeline

import org.apache.spark.sql.{DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.functions._

/** Byte-pair-encoding tokenizer training and encoding (Sennrich et al.
  * 2016 — the subword algorithm behind GPT/Llama-family vocabularies):
  * the real version of the "BPE-ish regex" stand-in that
  * `TextAnalysis.tokenCounts` uses for counting.
  *
  * Training is inherently iterative — merge r+1 depends on the corpus
  * state after merge r. The corpus itself is touched ONCE: one aggregate
  * builds the checkpointed distinct-word relation ([[WordRelation]]), and
  * every round runs over that relation, whose size is the DISTINCT
  * vocabulary. [[trainMerges]] then picks where the rounds run from the
  * relation's row count:
  *   - at most `maxDistinctWords` words (the usual case — sampled BPE
  *     training corpora hold a few million distinct words): the relation
  *     is collected and the merge loop runs in driver memory with no job
  *     per round — incremental pair counts plus a priority queue with
  *     lazy invalidation, the Sennrich learn_bpe shape;
  *   - above it: the driver LOOPS over a fixed two-job pipeline per ROUND
  *     that commits up to `batchSize` merges (see [[trainMerges]] for the
  *     exactness proof):
  *     1. pair counting: `flatMap` adjacent symbol pairs weighted by word
  *        frequency → one partial-aggregated shuffle (vocabulary-sized,
  *        not corpus-sized);
  *     2. candidate selection: `orderBy(count desc, pair asc).limit(m+1)`
  *        — distributed TakeOrdered, ships ≤ m+1 rows per partition; the
  *        winning pairs (a few bytes) are the ONLY data that touches the
  *        driver;
  *     3. merge application: one narrow `map` over word symbol arrays
  *        applying the whole batch.
  *     Lineage is cut with `localCheckpoint` every `checkpointEvery`
  *     rounds (the d6 lesson: iterative plans otherwise grow
  *     superlinearly).
  * In production BPE is trained on a corpus sample (standard practice —
  * GPT-2's BPE saw ~40 GB); at 100 TB the sampling step (`mixtureSample` /
  * `groupQuota`) feeds this trainer unchanged.
  *
  * Determinism: ties in pair counts break lexicographically (count DESC,
  * pair ASC in CODE-POINT order — Spark's UTF-8 binary collation, which
  * the local loop's comparator matches explicitly; Java's UTF-16
  * `compareTo` would disagree on astral symbols) — integer counts +
  * string compare, so the merge list is bit-identical on either branch
  * and any partitioning/cluster (BpeSpec pins both branches against a
  * single-machine reference implementation, including an astral tie
  * case).
  *
  * Words carry an end-of-word marker symbol `</w>` (the Sennrich
  * formulation) so merges can distinguish suffixes from infixes.
  */
object Bpe {

  val EOW = "</w>"

  /** (symbols, frequency) — one row per DISTINCT word. */
  private type WordRow = (Seq[String], Long)

  /** Split a word into per-code-point symbols (surrogate-safe: a
    * supplementary character is ONE symbol, not two broken halves). */
  private[pipeline] def charSymbols(w: String): Seq[String] =
    w.codePoints().toArray.toSeq.map(cp => new String(Character.toChars(cp)))

  /** Train `nMerges` merges. Returns the ranked merge list (driver-side:
    * a merge table IS driver-sized — ~50k entries in real vocabularies).
    *
    * Builds the checkpointed distinct-word relation once and counts it.
    * Up to `maxDistinctWords` rows (default
    * [[WordRelation.MaxDistinctWords]]), the merge loop runs on the
    * driver, in memory; above it, the distributed batched loop below runs
    * over the same checkpoint. Both yield the same list.
    *
    * The distributed branch selects merges in BATCHES: each round runs
    * ONE pair-count shuffle and accepts up to `batchSize` merges from it,
    * cutting the driver-sequential round count ~batchSize× (a 30k-merge
    * vocabulary is ~1k rounds at the default instead of 60k jobs) while
    * producing the EXACT sequential merge list. Why the acceptance rule
    * is exact:
    *
    *   1. Candidates are scanned in (count DESC, pair ASC) order; a
    *      candidate is accepted while it shares NO symbol with any
    *      already-accepted candidate; the scan STOPS at the first
    *      conflict (or at the view's end). Hence every pair that shares a
    *      symbol with an accepted merge ranks AT OR AFTER the stop
    *      candidate (else it would have been the first conflict itself).
    *   2. Applying a merge (a,b) can only change counts of pairs
    *      containing a or b, and every NEWLY CREATED pair (ab,x) / (x,ab)
    *      is bounded by an ORIGINAL pair sharing b or a (each occurrence
    *      of (ab,x) was an occurrence of (b,x)). By (1) all of those rank
    *      at-or-after the stop, so their counts are <= the stop
    *      candidate's count `bound`.
    *   3. Therefore each accepted candidate with count STRICTLY > bound
    *      is still the true argmax at its sequential step: unchanged
    *      pairs rank after it by the original sort, changed/new pairs are
    *      <= bound < its count. Accepted candidates at count == bound are
    *      dropped (a new pair could tie and win the lexicographic
    *      tie-break); the head (the global argmax) is always exact.
    *
    * Worst case (all counts tied) the batch degenerates to one merge per
    * round — sequential behavior, never divergence. BpeSpec pins
    * bit-equality against the single-machine reference across batch
    * sizes and randomized corpora. */
  def trainMerges(
      df: DataFrame, textCol: String, nMerges: Int,
      checkpointEvery: Int = 10, batchSize: Int = 32,
      maxDistinctWords: Long = WordRelation.MaxDistinctWords): Seq[(String, String)] = {
    require(nMerges >= 0, "Bpe.trainMerges: nMerges must be >= 0")
    require(checkpointEvery >= 1, "Bpe.trainMerges: checkpointEvery must be >= 1")
    require(batchSize >= 1, "Bpe.trainMerges: batchSize must be >= 1")
    require(maxDistinctWords >= 0, "Bpe.trainMerges: maxDistinctWords must be >= 0")
    val spark = df.sparkSession
    import spark.implicits._
    val (words, nWords) = WordRelation.checkpointed(df, textCol)
    if (nWords <= maxDistinctWords)
      localMergeLoop(words.collect().map { case (w, n) => symbolRow(w, n) }, nMerges)
    else
      distributedMergeLoop(words.map { case (w, n) => symbolRow(w, n) },
        nMerges, checkpointEvery, batchSize)
  }

  private def symbolRow(w: String, n: Long): WordRow = (charSymbols(w) :+ EOW, n)

  /** The distributed batched loop behind [[trainMerges]], over the
    * checkpointed word relation. `checkpointEvery` counts ROUNDS (lineage
    * grows one map per round). */
  private def distributedMergeLoop(
      initial: Dataset[WordRow], nMerges: Int,
      checkpointEvery: Int, batchSize: Int): Seq[(String, String)] = {
    val spark = initial.sparkSession
    import spark.implicits._
    var words = initial
    val merges = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    var rounds = 0
    var exhausted = false
    while (merges.size < nMerges && !exhausted) {
      val m = math.min(batchSize, nMerges - merges.size)
      // r14 opt: untyped groupBy+sum instead of groupByKey/reduceGroups —
      // the codegen'd hash aggregate with map-side partial combine, where
      // the typed path round-trips every (pair, n) row through the serde
      // (the measured t21 lesson, NOTES.md r4). Integer sums and the same
      // (count desc, left, right) total order, so the merge list is
      // unchanged (BpeSpec pins this branch ≡ the driver loop); orderBy+
      // limit stays the per-partition TakeOrderedAndProject.
      val top = words
        .flatMap { case (syms, n) =>
          syms.iterator.sliding(2).withPartial(false)
            .map(p => (p.head, p(1), n))
        }
        .groupBy(col("_1"), col("_2")).agg(sum(col("_3")).as("n"))
        .orderBy(col("n").desc, col("_1"), col("_2"))
        .limit(m + 1) // the (m+1)-th row is the bound when no conflict is in view
        .as[(String, String, Long)]
        .collect()
      if (top.isEmpty) exhausted = true // no adjacent pairs left anywhere
      else {
        val used = scala.collection.mutable.Set.empty[String]
        val accepted = scala.collection.mutable.ArrayBuffer.empty[(String, String, Long)]
        var bound = 0L // stays 0 when the ENTIRE pair table is in view, conflict-free
        var idx = 0
        var stopped = false
        while (idx < top.length && !stopped) {
          val (a, b, n) = top(idx)
          if (accepted.size == m || used(a) || used(b)) { bound = n; stopped = true }
          else { accepted += ((a, b, n)); used += a; used += b }
          idx += 1
        }
        val batch = (accepted.head +: accepted.tail.takeWhile(_._3 > bound).toSeq)
          .map(t => (t._1, t._2))
        merges ++= batch
        words = words.map { case (syms, n) =>
          (batch.foldLeft(syms) { case (s, (a, b)) => mergeOnce(s, a, b) }, n)
        }
        rounds += 1
        if ((rounds % checkpointEvery) == 0) words = words.localCheckpoint()
      }
    }
    merges.toSeq
  }

  /** The in-memory merge loop behind [[trainMerges]]: incremental
    * pair counts, a word index per pair, and a priority queue ordered
    * (count DESC, pair ASC) with lazy invalidation — a popped entry is
    * applied only if it matches the pair's CURRENT count (every count
    * change pushes a fresh entry, so the true argmax is always present).
    * Identical decisions to the textbook recount-per-step loop, without
    * its O(vocab · merges) rescan. */
  private def localMergeLoop(
      rows: Array[WordRow], nMerges: Int): Seq[(String, String)] = {
    import scala.collection.mutable
    val syms: Array[Array[String]] = rows.map(_._1.toArray)
    val freq: Array[Long] = rows.map(_._2)
    def pairsOf(s: Array[String]): Iterator[(String, String)] =
      (0 until s.length - 1).iterator.map(i => (s(i), s(i + 1)))
    val counts = mutable.HashMap.empty[(String, String), Long]
    val where = mutable.HashMap.empty[(String, String), mutable.BitSet]
    for (i <- syms.indices; p <- pairsOf(syms(i))) {
      counts(p) = counts.getOrElse(p, 0L) + freq(i)
      where.getOrElseUpdate(p, mutable.BitSet.empty) += i
    }
    // tie-break collation must match the DISTRIBUTED face: Spark's
    // orderBy on strings is UTF-8 binary = code-point order, but Java's
    // String.compareTo is UTF-16 code-unit order — they disagree when an
    // astral symbol (one code point, a surrogate pair in UTF-16) ties
    // against a char in [U+E000, U+FFFF]. The shared codePointCompare
    // keeps local == distributed on any alphabet (the UnigramLm lesson).
    val cmp: java.util.Comparator[(Long, String, String)] = (x, y) => {
      val c = java.lang.Long.compare(y._1, x._1) // count DESC
      if (c != 0) c
      else {
        val ca = UnigramLm.codePointCompare(x._2, y._2) // then pair ASC
        if (ca != 0) ca else UnigramLm.codePointCompare(x._3, y._3)
      }
    }
    val pq = new java.util.PriorityQueue[(Long, String, String)](
      math.max(1, counts.size), cmp)
    counts.foreach { case ((a, b), n) => pq.add((n, a, b)) }
    val merges = mutable.ArrayBuffer.empty[(String, String)]
    while (merges.size < nMerges && !pq.isEmpty) {
      val (n, a, b) = pq.poll()
      // lazy invalidation: stale entries (count changed since push) skip
      if (counts.get((a, b)).contains(n)) {
        merges += ((a, b))
        val touched = mutable.Set.empty[(String, String)]
        for (i <- where.getOrElse((a, b), mutable.BitSet.empty).toArray) {
          val old = syms(i)
          pairsOf(old).foreach { p =>
            counts(p) = counts(p) - freq(i)
            where.get(p).foreach(_ -= i)
            touched += p
          }
          val nw = mergeOnce(old.toSeq, a, b).toArray
          syms(i) = nw
          pairsOf(nw).foreach { p =>
            counts(p) = counts.getOrElse(p, 0L) + freq(i)
            where.getOrElseUpdate(p, mutable.BitSet.empty) += i
            touched += p
          }
        }
        touched.foreach { p =>
          val c = counts.getOrElse(p, 0L)
          if (c <= 0L) { counts.remove(p); where.remove(p) }
          else pq.add((c, p._1, p._2))
        }
      }
    }
    merges.toSeq
  }

  /** One left-to-right pass replacing every non-overlapping adjacent
    * (a, b) with a+b — the BPE merge step. */
  def mergeOnce(syms: Seq[String], a: String, b: String): Seq[String] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    var j = 0
    while (j < syms.length) {
      if (j + 1 < syms.length && syms(j) == a && syms(j + 1) == b) {
        out += (a + b); j += 2
      } else { out += syms(j); j += 1 }
    }
    out.toSeq
  }

  /** The merge list as a DataFrame (rank, left, right) — the persistable
    * tokenizer artifact. */
  def mergesDF(spark: SparkSession, merges: Seq[(String, String)]): DataFrame = {
    import spark.implicits._
    merges.zipWithIndex
      .map { case ((a, b), r) => (r.toLong, a, b) }
      .toDF("rank", "left", "right")
  }

  /** Load a [[mergesDF]] artifact back into the rank-ordered merge list
    * for [[encode]] (collect is merge-table-sized — the tokenizer
    * artifact is driver-sized by design, ~50k rows). */
  def mergesFromDF(df: DataFrame): Seq[(String, String)] =
    df.select("rank", "left", "right").collect()
      .sortBy(_.getLong(0)).map(r => (r.getString(1), r.getString(2))).toSeq

  /** Persist the trained merge table as a parquet tokenizer artifact —
    * the AT-REST face, mirroring the index-at-rest pattern
    * (`Similarity.writeIvfIndex` / `Retrieval.writeInvertedIndex`).
    * Tokenizers train once and ship: a production pipeline loads the
    * artifact and never re-trains (the real lifecycle; the p8/p9 cache
    * is the in-session version of the same fact). One file: the
    * artifact is driver-sized by design (~50k rows at real vocab). */
  def saveMerges(
      spark: SparkSession, merges: Seq[(String, String)], path: String): Unit =
    mergesDF(spark, merges).coalesce(1).write.mode("overwrite").parquet(path)

  /** Load a [[saveMerges]] artifact. Rank is persisted, so file and
    * row order are irrelevant: the loaded list is exactly the saved
    * sequence, and `encode` under it is bit-identical to the in-memory
    * model's (BpeSpec pins both). */
  def loadMerges(spark: SparkSession, path: String): Seq[(String, String)] =
    mergesFromDF(spark.read.parquet(path))

  /** Encode: apply the trained merges to every document — merges applied
    * in RANK order per word (the standard greedy BPE encode; equivalent
    * to replaying training on the word). The merge table is a broadcast
    * Map (driver-sized artifact, corpus-scale input): one narrow
    * `mapPartitions`, no shuffle. Output: (idCol, bpe_tokens, n_bpe). */
  def encode(
      df: DataFrame, idCol: String, textCol: String,
      merges: Seq[(String, String)]): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(
      merges.zipWithIndex.map { case (p, r) => p -> r }.toMap)
    val enc = Encoders.tuple(Encoders.scalaLong, Encoders.STRING)
    // null text encodes to zero tokens; a null (or uncastable) id has no
    // addressable row to return — drop it rather than NPE the encoder
    df.select(col(idCol).cast("long"), coalesce(col(textCol), lit("")))
      .where(col(idCol).isNotNull)
      .as[(Long, String)](enc)
      .map { case (id, text) =>
        val ranks = bc.value
        val toks = text.split(" ").iterator.filter(_.nonEmpty).flatMap { w =>
          var syms: Seq[String] = Bpe.charSymbols(w) :+ EOW
          var done = false
          while (!done) {
            // lowest-rank merge present in this word
            var best = -1
            var bestPair: (String, String) = null
            var j = 0
            while (j + 1 < syms.length) {
              val r = ranks.getOrElse((syms(j), syms(j + 1)), -1)
              if (r >= 0 && (best < 0 || r < best)) { best = r; bestPair = (syms(j), syms(j + 1)) }
              j += 1
            }
            if (best < 0) done = true
            else syms = mergeOnce(syms, bestPair._1, bestPair._2)
          }
          syms
        }.toSeq
        (id, toks)
      }
      .toDF(idCol, "bpe_tokens")
      .withColumn("n_bpe", size(col("bpe_tokens")).cast("long"))
  }
}
