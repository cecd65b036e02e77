package graft.pipeline

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** Unigram-LM subword tokenizer (Kudo 2018, "Subword Regularization";
  * the SentencePiece unigram model) — the other major tokenizer family
  * next to [[Bpe]]. Training alternates hard-EM (Viterbi) count
  * re-estimation with likelihood-ranked pruning of an over-complete seed
  * vocabulary until the target size is reached.
  *
  * DETERMINISM BY CONSTRUCTION (the [[Bpe]] playbook): the E-step counts
  * are INTEGERS (word count × piece occurrences along the word's single
  * best segmentation), so partial sums are summation-order-invariant;
  * every float the algorithm consumes (piece log-probs, the Viterbi DP)
  * is derived from those integers by a fixed sequence of IEEE ops, and
  * ties in the DP and in pruning break on explicit deterministic rules.
  * Hence [[train]] produces the IDENTICAL model whether its E-steps run
  * on the driver or distributed, on any partitioning, and identical to
  * the serial reference [[trainLocal]] — spec-asserted. Unicode
  * contract: pieces are CODE-POINT sequences (`maxPieceLen` counts code
  * points, a surrogate pair is atomic, "single character" = one code
  * point, tie-breaks compare code-point order = Spark's UTF-8 binary
  * order) — so the guarantee holds on astral/emoji corpora too.
  *
  * Scale shape: like BPE, training runs over the checkpointed
  * DISTINCT-WORD relation ([[WordRelation]]; vocab-sized, not
  * corpus-sized) — one corpus shuffle builds it. Seed selection is always
  * distributed (the substring table grows with the corpus). The EM rounds
  * run where the relation's row count says: up to `maxDistinctWords`
  * words, over the collected words in driver memory with no job per
  * round; above it, each EM round is ONE broadcast-model `mapPartitions`
  * pass over the words whose model-sized integer count table aggregates
  * partition-locally and merges driver-side with exact Long adds (no
  * per-round Exchange — r14). The model itself (seed vocabulary, ≤ a few
  * 100k pieces) is driver/broadcast-sized, the same justification as the
  * IVF quantizer and the BPE merge table. Encoding is a broadcast-model
  * narrow pass, no shuffle.
  */
object UnigramLm {

  final case class Piece(piece: String, count: Long, prob: Double)

  /** True iff `p` is one Unicode CODE POINT (an astral emoji counts as
    * one). This is the "single character" used by the keep-all-singles
    * guarantees in seeding and pruning, chosen to match Spark's
    * `length()` (code points) so the distributed and local faces agree
    * on non-BMP text. */
  private def isSingleCodePoint(p: String): Boolean =
    p.nonEmpty && p.codePointCount(0, p.length) == 1

  /** Code-point string order — the order Spark's UTF-8 binary `orderBy`
    * uses; see [[graft.core.Utf8Order]]. Every driver-side tie-break
    * sorts with THIS so local selection cuts match the distributed
    * `orderBy(...).limit` cuts exactly. */
  private[pipeline] def codePointCompare(a: String, b: String): Int =
    graft.core.Utf8Order.compare(a, b)

  private val pieceOrd: Ordering[String] = graft.core.Utf8Order.ordering

  /** UTF-16 offsets of every code-point boundary in `word` (0, each
    * code-point start after the first, word.length). All piece
    * enumeration walks THESE boundaries, never raw UTF-16 indices, so a
    * surrogate pair is atomic: no lone-surrogate piece can ever be
    * minted (lone surrogates are not valid UTF-8, and Spark's UTF-8
    * string storage would mangle them — the distributed face would
    * silently diverge from the local one on astral text). For BMP-only
    * text boundaries == indices, so behavior is unchanged. */
  private def cpBounds(word: String): Array[Int] = {
    val b = new Array[Int](word.codePointCount(0, word.length) + 1)
    var i = 0; var k = 0
    while (i < word.length) {
      b(k) = i; k += 1; i += Character.charCount(word.codePointAt(i))
    }
    b(k) = word.length
    b
  }

  /** Best (max log-prob) segmentation of `word` under `logp`; piece
    * boundaries and `maxPieceLen` are in CODE POINTS. DP ties break
    * deterministically: equal log-prob → fewer pieces → longer last
    * piece. A position with NO in-vocab candidate (an OOV character at
    * encode time — training always keeps every seen character) falls
    * back to the single code point at floor log-prob, so segmentation
    * is total. */
  def viterbi(
      word: String, logp: collection.Map[String, Double], maxPieceLen: Int): List[String] = {
    if (word.isEmpty) return Nil
    val bounds = cpBounds(word)
    val n = bounds.length - 1
    val floor = -1e9
    val bestLp = new Array[Double](n + 1)
    val bestPieces = new Array[Int](n + 1)
    val bestFrom = new Array[Int](n + 1)
    java.util.Arrays.fill(bestLp, Double.NegativeInfinity)
    bestLp(0) = 0.0
    bestPieces(0) = 0
    var i = 1
    while (i <= n) {
      var j = math.max(0, i - maxPieceLen)
      var found = false
      while (j < i) {
        if (bestLp(j) > Double.NegativeInfinity) {
          val lpOpt = logp.get(word.substring(bounds(j), bounds(i)))
          if (lpOpt.isDefined) {
            found = true
            val cand = bestLp(j) + lpOpt.get
            val candPieces = bestPieces(j) + 1
            val better = cand > bestLp(i) ||
              (cand == bestLp(i) && (candPieces < bestPieces(i) ||
                (candPieces == bestPieces(i) && j < bestFrom(i))))
            if (bestLp(i) == Double.NegativeInfinity || better) {
              bestLp(i) = cand; bestPieces(i) = candPieces; bestFrom(i) = j
            }
          }
        }
        j += 1
      }
      if (!found) { // OOV fallback: single code point at floor
        val cand = bestLp(i - 1) + floor
        bestLp(i) = cand; bestPieces(i) = bestPieces(i - 1) + 1; bestFrom(i) = i - 1
      }
      i += 1
    }
    var acc: List[String] = Nil
    var p = n
    while (p > 0) {
      val f = bestFrom(p); acc = word.substring(bounds(f), bounds(p)) :: acc; p = f
    }
    acc
  }

  /** Per-word piece counts along the best segmentation, weighted by the
    * word's corpus count — the hard-EM E-step contribution. INTEGER
    * counts: summation order can never matter. */
  private def emContrib(
      word: String, n: Long, logp: collection.Map[String, Double],
      maxPieceLen: Int): Iterator[(String, Long)] =
    viterbi(word, logp, maxPieceLen).iterator.map(p => (p, n))

  /** Driver-side M-step + prune, shared VERBATIM by [[train]] and
    * [[trainLocal]] so they cannot drift: re-normalize counts to
    * probs; when above target, keep the `keepFrac` fraction best pieces
    * by (count desc, piece asc in CODE-POINT order) but never drop a
    * single-code-point piece (they guarantee total segmentability —
    * including astral characters, which are one code point but two
    * UTF-16 units). */
  private def mPrune(
      counts: Map[String, Long], vocabSize: Int, keepFrac: Double): Map[String, Long] = {
    if (counts.size <= vocabSize) counts
    else {
      val target = math.max(vocabSize, math.ceil(counts.size * keepFrac).toInt)
      val kept = counts.toSeq.sortBy { case (p, c) => (-c, p) }(
        Ordering.Tuple2(Ordering.Long, pieceOrd)).take(target).toMap
      kept ++ counts.filter { case (p, _) => isSingleCodePoint(p) }
    }
  }

  private def toLogp(counts: Map[String, Long]): collection.Map[String, Double] = {
    val total = counts.valuesIterator.sum.toDouble
    counts.map { case (p, c) =>
      (p, math.log(math.max(c, 1L).toDouble / total))
    }
  }

  private def finish(counts: Map[String, Long]): Seq[Piece] = {
    val total = counts.valuesIterator.sum.toDouble
    counts.toSeq.sortBy { case (p, c) => (-c, p) }(
        Ordering.Tuple2(Ordering.Long, pieceOrd))
      .map { case (p, c) => Piece(p, c, math.max(c, 1L).toDouble / total) }
  }

  /** Substring seed counts of one word: every occurrence of every
    * code-point-boundary substring up to `maxPieceLen` CODE POINTS,
    * weighted by the word count. */
  private def seedContrib(
      word: String, n: Long, maxPieceLen: Int): Iterator[(String, Long)] = {
    val bounds = cpBounds(word)
    val cps = bounds.length - 1
    (for {
      s <- (0 until cps).iterator
      e <- (s + 1) to math.min(s + maxPieceLen, cps)
    } yield (word.substring(bounds(s), bounds(e)), n))
  }

  private def seedSelect(
      counts: Map[String, Long], seedSize: Int): Map[String, Long] = {
    val top = counts.toSeq.sortBy { case (p, c) => (-c, p) }(
      Ordering.Tuple2(Ordering.Long, pieceOrd)).take(seedSize).toMap
    top ++ counts.filter { case (p, _) => isSingleCodePoint(p) }
  }

  /** The shared training loop over an abstract E-step/seed evaluator —
    * local and distributed faces differ ONLY in how the integer count
    * tables are produced. */
  private def loop(
      seedCounts: Map[String, Long],
      eStep: collection.Map[String, Double] => Map[String, Long],
      vocabSize: Int, maxRounds: Int, emIters: Int, keepFrac: Double): Seq[Piece] = {
    var counts = seedCounts
    var rounds = 0
    while (counts.size > vocabSize && rounds < maxRounds) {
      var it = 0
      while (it < emIters) { counts = eStep(toLogp(counts)); it += 1 }
      counts = mPrune(counts, vocabSize, keepFrac)
      rounds += 1
    }
    finish(eStep(toLogp(counts)))
  }

  /** Training: the corpus collapses to its checkpointed distinct-word
    * relation once; every collect is MODEL-SIZED, except the word
    * relation itself when it has at most `maxDistinctWords` rows (default
    * [[WordRelation.MaxDistinctWords]]) — then the EM rounds run over the
    * collected words on the driver, else distributed. E-step collects emit
    * only in-model pieces (Viterbi segments under the current vocab), and
    * the seed step selects its top-`seedSize` pieces DISTRIBUTED on both
    * branches — the substring-count relation (which grows with the
    * corpus's distinct-substring space and would be a driver OOM at real
    * scale) is aggregated and truncated cluster-side via `orderBy(count
    * desc, piece asc).limit(seedSize)` ∪ single-char pieces BEFORE the
    * collect, with the identical deterministic tie-break as
    * [[seedSelect]]. */
  def train(
      df: DataFrame, textCol: String, vocabSize: Int,
      seedSize: Int = 500, maxPieceLen: Int = 8,
      emIters: Int = 2, keepFrac: Double = 0.75, maxRounds: Int = 50,
      maxDistinctWords: Long = WordRelation.MaxDistinctWords): Seq[Piece] = {
    require(vocabSize >= 1 && seedSize >= vocabSize,
      "train: need vocabSize >= 1 and seedSize >= vocabSize")
    require(maxDistinctWords >= 0, "train: maxDistinctWords must be >= 0")
    val spark = df.sparkSession
    import spark.implicits._
    val (wordsCkRaw, nWords) = WordRelation.checkpointed(df, textCol)
    // r15: the seed step, and on the distributed branch ~20 E-steps, are
    // SEQUENTIAL driver-paced jobs over this vocab-sized relation, so
    // per-job task-launch overhead — not data — is the floor (the r14
    // driver measured p19 FASTER at 8 cores than 32). Right-size the
    // relation once: ~20k words per partition, capped at the session
    // parallelism — scale-adaptive, so a real vocabulary still fans out
    // to every core while a bench-scale one stops paying 19 × 32
    // mostly-empty task launches. coalesce is narrow (no shuffle) and
    // never raises the partition count, so it applies unconditionally;
    // partitioning never changes results: E-step counts are exact integer
    // sums (order-free), spec-pinned == trainLocal.
    val wordsCk = wordsCkRaw.coalesce(math.max(1L, math.min(
      spark.sparkContext.defaultParallelism.toLong, nWords / 20000L + 1L)).toInt)
    // r14 opt: E-step count tables are INTEGER sums of model-sized maps —
    // partition-local hash maps merged with exact Long adds are
    // bit-identical to the groupBy+collect they replace (integer addition
    // is order-free), and drop the per-EM-iteration Exchange: every E-step
    // is now ONE narrow stage over the checkpointed word relation. The
    // merged result stays model-sized (in-model pieces only), so the
    // driver holds O(vocab), same as the collect before.
    def sumCounts(contrib: Dataset[(String, Long)]): Map[String, Long] =
      contrib.rdd.mapPartitions(it => Iterator(tally(it)))
        .fold(new java.util.HashMap[String, Long]()) { (a, b) =>
          b.forEach((p, n) => a.merge(p, n, (x, y) => x + y))
          a
        }.asScala.toMap
    // Distributed seed selection: aggregate the (corpus-scale) substring
    // counts once, take top-seedSize by (count desc, piece asc) — a total
    // order, pieces being the distinct groupBy key — union ALL single-char
    // pieces (total-segmentability guarantee), and only then collect.
    // Semantically identical to seedSelect over the full map (`top ++
    // singles`: counts agree on shared pieces, so overlay = distinct).
    val seedCounts: Map[String, Long] = {
      val substrCounts = wordsCk
        .flatMap { case (w, n) => seedContrib(w, n, maxPieceLen) }
        .groupBy(col("_1")).agg(sum(col("_2")).as("c"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        val top = substrCounts.orderBy(col("c").desc, col("_1").asc).limit(seedSize)
        val singles = substrCounts.where(length(col("_1")) === 1)
        val sel = top.union(singles).distinct()
        graft.PlanProbe.note("unigram seed selection", sel)
        sel.as[(String, Long)].collect().toMap
      } finally substrCounts.unpersist()
    }
    val eStep: collection.Map[String, Double] => Map[String, Long] =
      if (nWords <= maxDistinctWords) {
        val words = wordsCkRaw.collect()
        logp => tally(words.iterator.flatMap { case (w, n) =>
          emContrib(w, n, logp, maxPieceLen)
        }).asScala.toMap
      } else { logp =>
        val b = spark.sparkContext.broadcast(logp)
        try sumCounts(wordsCk.mapPartitions(_.flatMap { case (w, n) =>
          emContrib(w, n, b.value, maxPieceLen)
        }))
        // async unpersist, not the (blocking) destroy: the E-step action
        // is complete, nothing reads the broadcast again — no reason to
        // hold ~20 sequential rounds hostage to a cleanup RPC round-trip
        // each (r15; driver-side metadata is reclaimed by the
        // ContextCleaner)
        finally b.unpersist(blocking = false)
      }
    loop(seedCounts, eStep, vocabSize, maxRounds, emIters, keepFrac)
  }

  /** Integer piece counts summed with exact Long adds — summation order
    * can never matter. */
  private def tally(it: Iterator[(String, Long)]): java.util.HashMap[String, Long] = {
    val m = new java.util.HashMap[String, Long]()
    it.foreach { case (p, n) => m.merge(p, n, (a, b) => a + b) }
    m
  }

  /** Serial reference: the identical loop over an in-memory word list,
    * with seed selection and E-steps folded on one thread — the spec's
    * ground truth for both branches of [[train]]. */
  def trainLocal(
      words: Seq[(String, Long)], vocabSize: Int,
      seedSize: Int = 500, maxPieceLen: Int = 8,
      emIters: Int = 2, keepFrac: Double = 0.75, maxRounds: Int = 50): Seq[Piece] = {
    require(vocabSize >= 1 && seedSize >= vocabSize,
      "trainLocal: need vocabSize >= 1 and seedSize >= vocabSize")
    def fold(it: Iterator[(String, Long)]): Map[String, Long] =
      it.foldLeft(Map.empty[String, Long]) { case (m, (p, n)) =>
        m.updated(p, m.getOrElse(p, 0L) + n)
      }
    val seedCounts = seedSelect(
      fold(words.iterator.flatMap { case (w, n) => seedContrib(w, n, maxPieceLen) }),
      seedSize)
    def eStep(logp: collection.Map[String, Double]): Map[String, Long] =
      fold(words.iterator.flatMap { case (w, n) => emContrib(w, n, logp, maxPieceLen) })
    loop(seedCounts, eStep, vocabSize, maxRounds, emIters, keepFrac)
  }

  /** Model as a DataFrame: (rank, piece, count, prob) — rank 1 = most
    * probable; prob surfaced rounded at 9 dp. */
  def piecesDF(spark: org.apache.spark.sql.SparkSession, model: Seq[Piece]): DataFrame = {
    import spark.implicits._
    model.zipWithIndex
      .map { case (p, i) =>
        (i + 1, p.piece, p.count,
          BigDecimal(p.prob).setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble)
      }
      .toDF("rank", "piece", "count", "prob")
  }

  /** Persist a trained model as a parquet tokenizer artifact — the
    * AT-REST face of [[piecesDF]], mirroring the index-at-rest pattern
    * (train once, ship, load in any later session — a production
    * pipeline never re-trains per run). The integer COUNTS are the
    * source of truth: `prob` in the file is the 9-dp display rounding,
    * and [[loadModel]] recomputes exact probs from the persisted counts
    * with the same IEEE ops [[train]]'s finish step uses (exact Long
    * sum → one division), so the loaded model is BIT-IDENTICAL to the
    * in-memory one — spec-pinned. One file: models are driver-sized by
    * design (≤ a few 100k pieces). */
  def saveModel(
      spark: org.apache.spark.sql.SparkSession, model: Seq[Piece], path: String): Unit =
    piecesDF(spark, model).coalesce(1).write.mode("overwrite").parquet(path)

  /** Load a [[saveModel]] artifact back into the ranked piece list for
    * [[encode]]. Rank is persisted, so file/row order is irrelevant;
    * probs are recomputed from counts (see [[saveModel]]). */
  def loadModel(
      spark: org.apache.spark.sql.SparkSession, path: String): Seq[Piece] = {
    val rows = spark.read.parquet(path).select("rank", "piece", "count")
      .collect().sortBy(_.getInt(0))
    val total = rows.iterator.map(_.getLong(2)).sum.toDouble
    rows.map { r =>
      val c = r.getLong(2)
      Piece(r.getString(1), c, math.max(c, 1L).toDouble / total)
    }.toSeq
  }

  /** Viterbi-encode each document under a trained model: broadcast
    * log-probs, one narrow pass, no shuffle. Output: (idCol, n_pieces,
    * pieces) with pieces space-joined (word boundaries re-use the same
    * separator — the corpus tokenizer convention). */
  def encode(
      df: DataFrame, idCol: String, textCol: String, model: Seq[Piece],
      maxPieceLen: Int = 8): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val logp: Map[String, Double] = {
      val total = model.map(_.count).sum.toDouble
      model.map(p => (p.piece, math.log(math.max(p.count, 1L).toDouble / total))).toMap
    }
    val b = spark.sparkContext.broadcast(logp)
    df.select(col(idCol).cast("long").as("id"),
        coalesce(col(textCol), lit("")).as("t"))
      .as[(Long, String)]
      .map { case (id, t) =>
        val pieces = t.split(" ", -1).iterator.filter(_.nonEmpty)
          .flatMap(w => viterbi(w, b.value, maxPieceLen)).toSeq
        (id, pieces.length.toLong, pieces.mkString(" "))
      }
      .toDF(idCol, "n_pieces", "pieces")
  }
}
