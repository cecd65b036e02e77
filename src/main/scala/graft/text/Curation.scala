package graft.text

import org.apache.spark.sql.{Column, DataFrame, Encoders}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType, StructField, StructType}

import graft.core.SmallRelation

import TextFunctions._

/** Corpus-curation operators for training-data pipelines: repetition
  * statistics (Gopher-style), heuristic quality filters (C4/Gopher-style),
  * PII redaction, and benchmark decontamination. Driver extension surface —
  * the reference has no string operators (SURVEY §2.12).
  *
  * Everything except [[decontaminate]] is a pure per-document `Column`
  * expression: embarrassingly parallel, no shuffle, whole-stage codegen,
  * and the scan reads only (id, text) under column pruning — the shape
  * that holds at 100 TB. [[decontaminate]] joins corpus n-grams against a
  * benchmark set; the benchmark side is broadcast (eval benchmarks are
  * MBs, corpora are TBs), so the corpus is never shuffled either.
  *
  * Rates are single IEEE divisions of per-document integer counts —
  * deterministic and bit-identical in any engine (no accumulation-order
  * noise), so the DuckDB oracle checks them without rounding.
  */
object Curation {

  /** Non-distinct word n-grams — total occurrence counts matter here,
    * unlike [[TextFunctions.wordShingles]] which dedups for MinHash.
    * Guarded: fewer than `n` tokens yields an EMPTY array — without the
    * guard, `sequence(1, size-n+1)` runs DESCENDING when size < n
    * (NOTES gotcha) and `element_at(toks, 0)` throws. */
  def wordNgrams(toks: Column, n: Int): Column = {
    val idx = sequence(lit(1), size(toks) - lit(n - 1))
    when(size(toks) >= n,
      transform(idx, i =>
        concat_ws(" ", (0 until n).map(o => element_at(toks, i + lit(o))): _*)))
      .otherwise(array().cast("array<string>"))
  }

  /** Gopher-style repetition statistics (Rae et al. 2021 §A1.1 use the
    * same family: duplicate n-gram fraction, most-common-token fraction):
    *
    *  - `n_ngrams`      — total word `n`-gram occurrences
    *  - `dup_ngram_frac`— 1 − distinct/total n-grams: mass of repeated
    *                      n-grams (0 = no repetition)
    *  - `top_token_frac`— occurrences of the most frequent token / total
    *                      tokens (boilerplate/spam indicator)
    *
    * Rows with fewer than `n` tokens are dropped (no n-gram exists).
    * Per-token counting is O(distinct·tokens) per document inside codegen —
    * linear shuffle-free scan overall. */
  def repetitionStats(df: DataFrame, textCol: String, n: Int = 2): DataFrame =
    repetitionStatsKeepToks(df, textCol, n)
      .where(size(col("__toks")) >= n)
      .drop("__toks")

  /** [[repetitionStats]] over EVERY row (documents shorter than `n`
    * tokens get zero n-gram stats instead of vanishing) with the token
    * array kept as `__toks` — the building block [[heuristicFilters]]
    * needs: it must FLAG short documents, not silently drop them, and it
    * reuses the tokens rather than re-running split() per document.
    * Tokens are materialized as a real column: `element_at` inside the
    * n-gram lambda and the nested `filter(toks, ...)` inside the
    * per-token count lambda are interpreted per element — an inline
    * split() there would re-tokenize the document once per access. */
  private def repetitionStatsKeepToks(df: DataFrame, textCol: String, n: Int): DataFrame = {
    val toks = col("__toks")
    val ngrams = wordNgrams(toks, n)
    val nTotal = size(ngrams).cast("double")
    val topCount = array_max(transform(array_distinct(toks), u =>
      size(filter(toks, x => x === u))))
    df.withColumn("__toks", tokens(col(textCol)))
      .withColumn("n_ngrams", size(ngrams).cast("long"))
      .withColumn("dup_ngram_frac",
        when(size(toks) >= n,
          lit(1.0) - size(array_distinct(ngrams)).cast("double") / nTotal)
          .otherwise(lit(0.0)))
      .withColumn("top_token_frac", topCount.cast("double") / size(toks).cast("double"))
  }

  /** Heuristic quality filters in the C4/Gopher style: one boolean flag
    * column per rule plus the conjunction `keep`. Flags (not a silent
    * filter) so a pipeline can audit WHY each document was dropped —
    * the curation analog of the cell-error side-column convention.
    * EVERY input row appears in the output: a one-token document is the
    * clearest `flag_too_few_tokens` case and must be flagged, not lost
    * (its n-gram stats are zero — no n-gram exists to repeat). */
  def heuristicFilters(
      df: DataFrame, textCol: String,
      minTokens: Int = 25,
      meanTokLenRange: (Double, Double) = (2.5, 9.5),
      maxDupNgramFrac: Double = 0.10,
      maxTopTokenFrac: Double = 0.15,
      stopwordList: Seq[String] = stopwords("en")): DataFrame = {
    val withStats = repetitionStatsKeepToks(df, textCol, n = 2)
    val toks = col("__toks")
    val meanTokLen = aggregate(toks, lit(0), (acc, t) => acc + length(t)).cast("double") /
      size(toks).cast("double")
    withStats
      .withColumn("flag_too_few_tokens", size(toks) < minTokens)
      .withColumn("flag_tok_len",
        meanTokLen < meanTokLenRange._1 || meanTokLen > meanTokLenRange._2)
      .withColumn("flag_dup_ngrams", col("dup_ngram_frac") > maxDupNgramFrac)
      .withColumn("flag_top_token", col("top_token_frac") > maxTopTokenFrac)
      .withColumn("flag_no_stopword", wordListHits(toks, stopwordList) === 0)
      .withColumn("keep",
        !col("flag_too_few_tokens") && !col("flag_tok_len") &&
          !col("flag_dup_ngrams") && !col("flag_top_token") &&
          !col("flag_no_stopword"))
      .drop("__toks")
  }

  /** PII patterns — deliberately simple, valid in both Java regex and RE2
    * (the oracle's engine): no backrefs, no lookaround. */
  val emailPattern = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val ipPattern = "[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}"
  val phonePattern = "555-[0-9]{4}"

  /** PII scrub: count then redact emails, IPv4 addresses, and (toy) phone
    * numbers. Counts are taken on the ORIGINAL text; redaction replaces
    * email → `<EMAIL>` first (so a dotted mail domain is never re-matched
    * as an IP), then IP → `<IP>`, then phone → `<PHONE>`. */
  def redactPii(df: DataFrame, textCol: String): DataFrame =
    df.withColumn("n_emails", regexp_count(col(textCol), lit(emailPattern)).cast("long"))
      .withColumn("n_ips", regexp_count(col(textCol), lit(ipPattern)).cast("long"))
      .withColumn("n_phones", regexp_count(col(textCol), lit(phonePattern)).cast("long"))
      .withColumn("redacted",
        regexp_replace(
          regexp_replace(
            regexp_replace(col(textCol), emailPattern, "<EMAIL>"),
            ipPattern, "<IP>"),
          phonePattern, "<PHONE>"))

  /** Blocklist term screen via ONE Aho-Corasick pass
    * ([[graft.functions.MultiPatternHits]]): every occurrence of every
    * pattern counted (all start positions, overlapping included — NOT
    * token-anchored, so multi-word phrases and in-word hits both match,
    * the C4 "bad words" semantics). The naive formulation is k
    * `contains`/`regexp_count` scans per document — O(k·n) and k plan
    * expressions; the automaton is O(n + matches) with O(1) plan size,
    * which is what survives a 10k-term blocklist at 100 TB. Measured at
    * sf0.1: equal to the contains-chain at 64 patterns (~0.2 s warm,
    * overhead-bound), while at 512 patterns the naive Column reduce
    * OVERFLOWS THE STACK converting the plan before a single row is
    * read — the automaton stays at 0.2 s, independent of pattern count.
    *
    * Emits `blocklist_hits` (total occurrences), `blocklist_terms` (the
    * distinct matching patterns, sorted, space-joined — the checkable
    * face of the matched set) and `blocklist_flag`. The struct is
    * computed ONCE: the three projections reference one non-cheap alias,
    * which CollapseProject keeps materialized (the m10 lesson). */
  def blocklistTag(df: DataFrame, textCol: String, patterns: Seq[String]): DataFrame =
    df.withColumn("__bl",
        graft.functions.TextExpressionFunctions.multiPatternHits(col(textCol), patterns))
      .withColumn("blocklist_hits", col("__bl.total_hits"))
      .withColumn("blocklist_terms", array_join(col("__bl.matched"), " "))
      .withColumn("blocklist_flag", col("__bl.total_hits") > 0L)
      .drop("__bl")

  /** Deterministic pseudo-random weight vector for [[hashedLinearScore]]:
    * w[d] ∈ [-1, 1] from the first hex nibble of md5("seed_d") — any
    * engine regenerates the same weights; a trained model would ship its
    * real weights through the identical plumbing. */
  def hashedWeights(dims: Int, seed: String): Array[Double] = {
    val digest = java.security.MessageDigest.getInstance("MD5")
    Array.tabulate(dims) { d =>
      val h = digest.digest(s"${seed}_$d".getBytes("UTF-8"))
      (((h(0) >> 4) & 0xf) - 7.5) / 7.5
    }
  }

  /** Feature-hashed linear scorer (the hashing trick, Weinberger et al.
    * 2009 — the fastText-style model-based quality filter of C4/CCNet
    * pipelines, with a deterministic stand-in weight vector): logit =
    * bias + Σ_token w[h32(token) mod dims], one pass over the tokens per
    * document, weights as a plan-time literal array. Pure Column exprs,
    * shuffle-free, linear in corpus size. Emits `logit` (rounded to 9 dp
    * so engine-side accumulation-order ULPs can't flip a hash compare)
    * and the `model_keep` decision at threshold 0. */
  def hashedLinearScore(
      df: DataFrame, textCol: String, dims: Int = 64,
      bias: Double = 0.0, seed: String = "w",
      weights: Option[Array[Double]] = None): DataFrame = {
    val w = weights.getOrElse(hashedWeights(dims, seed))
    require(w.length == dims, s"hashedLinearScore: got ${w.length} weights for $dims dims")
    val wLit = typedlit(w.toSeq)
    val toks = col("__toks")
    // `+ 0.0` collapses IEEE -0.0 to 0.0 so both engines agree bit-for-bit
    val logit = round(aggregate(toks, lit(bias), (acc, t) =>
      acc + element_at(wLit,
        (conv(substring(md5(t), 1, 8), 16, 10).cast("long") % dims + 1).cast("int"))), 9) + lit(0.0)
    df.withColumn("__toks", tokens(col(textCol)))
      .withColumn("logit", logit)
      .withColumn("model_keep", col("logit") > 0.0)
      .drop("__toks")
  }

  /** REAL training for the hashed-feature scorer: full-batch logistic
    * regression by gradient descent, distilling any 0/1 label column into
    * [[hashedLinearScore]] weights — the fastText-quality-classifier
    * pattern of CCNet/C4 (train a cheap linear model on labeled examples,
    * deploy it as a shuffle-free scoring pass). The usual label source is
    * the rule filters ([[heuristicFilters]]' `keep`), i.e. model
    * distillation of the rules; any labeled subset works.
    *
    * Features are EXACTLY the scorer's, by construction: x_d = number of
    * token occurrences whose md5-first-8-hex mod `dims` is d (same
    * tokenizer, same hash, raw counts) — so trained weights serve through
    * the identical plan-time-literal plumbing, and training/serving skew
    * is impossible.
    *
    * Scale shape: the featurized relation (label, sparse dim-count pairs)
    * is built in one narrow pass and persisted for the epoch loop; each
    * epoch is one narrow projection (dot product against the broadcast
    * weight vector) plus ONE partial-aggregated shuffle of per-dim
    * gradient contributions; only `dims`+1 doubles reach the driver per
    * epoch. Returns (weights, bias). Weight values depend on float
    * accumulation order across partitions (inherent to distributed
    * gradient sums); CurationSpec asserts separation quality, not bits. */
  def trainHashedLogistic(
      df: DataFrame, textCol: String, labelCol: String,
      dims: Int = 64, epochs: Int = 20, lr: Double = 0.5,
      l2: Double = 1e-4): (Array[Double], Double) = {
    require(dims >= 1 && epochs >= 0 && lr > 0.0, "trainHashedLogistic: bad hyperparams")
    val spark = df.sparkSession
    import spark.implicits._
    val feats = df
      .select(col(labelCol).cast("double").as("y"),
        coalesce(col(textCol).cast("string"), lit("")).as("t"))
      .where(col("y").isNotNull)
      .as[(Double, String)]
      .map { case (y, text) =>
        val counts = new Array[Double](dims)
        val md = java.security.MessageDigest.getInstance("MD5")
        // split(" ", -1): keep empty tokens, matching Spark's split(text," ")
        text.split(" ", -1).foreach { t =>
          val h = md.digest(t.getBytes("UTF-8"))
          // first 8 hex chars of md5 = first 4 bytes big-endian, unsigned —
          // identical to the scorer's conv(substring(md5, 1, 8), 16, 10)
          val v = ((h(0) & 0xffL) << 24) | ((h(1) & 0xffL) << 16) |
            ((h(2) & 0xffL) << 8) | (h(3) & 0xffL)
          counts((v % dims).toInt) += 1.0
        }
        (y, counts.zipWithIndex.collect { case (c, d) if c != 0.0 => (d, c) })
      }
      .persist()
    try {
      val n = feats.count().toDouble // also materializes the persist
      require(n > 0, "trainHashedLogistic: no labeled rows")
      val w = new Array[Double](dims)
      var b = 0.0
      var e = 0
      while (e < epochs) {
        val bw = spark.sparkContext.broadcast(w.clone())
        try {
          val bb = b
          // r14 opt: the gradient is a dense dims+1 vector (slot `dims`
          // carries the bias), so each epoch aggregates it partition-
          // locally into one Array[Double] and merges the 32 partition
          // vectors driver-side — ONE narrow stage per epoch where the
          // previous groupBy("dim")+collect paid an Exchange and a
          // 65-row shuffle every epoch (itself already 10% faster than
          // the groupByKey/serde form it replaced — NOTES.md r4). Float
          // note: per-partition then in-partition-order summation is a
          // different (still deterministic, partitioning-fixed)
          // accumulation order than the hash aggregate's — trained
          // weights move by ULPs; t21's gate is rows-only and
          // CurationSpec pins convergence laws, not bit weights.
          val dims1 = dims + 1
          val grads = feats.rdd.mapPartitions { it =>
            val acc = new Array[Double](dims1)
            it.foreach { case (y, fp) =>
              var dot = bb
              fp.foreach { case (d, c) => dot += bw.value(d) * c }
              val g = 1.0 / (1.0 + math.exp(-dot)) - y
              fp.foreach { case (d, c) => acc(d) += g * c }
              acc(dims1 - 1) += g
            }
            Iterator(acc)
          }.fold(new Array[Double](dims1)) { (a, p) =>
            var i = 0
            while (i < dims1) { a(i) += p(i); i += 1 }
            a
          }
          b -= lr * grads(dims1 - 1) / n
          var d = 0
          while (d < dims) {
            w(d) -= lr * (grads(d) / n + l2 * w(d))
            d += 1
          }
        } finally bw.destroy()
        e += 1
      }
      (w, b)
    } finally feats.unpersist() // a thrown epoch must not leak the cache
  }

  /** Corpus-trained bigram language-model score per document — the CCNet
    * perplexity-filtering signal (Wenzek et al. 2020 train KenLM on a
    * clean corpus and bucket documents by perplexity; here the corpus
    * itself trains an add-α bigram model, the same smoothing family):
    *
    *   P(w₂|w₁) = (C(w₁w₂) + α) / (C(w₁) + α·V),  V = distinct unigrams
    *   avg_logp(doc) = mean over the doc's bigram OCCURRENCES of ln P
    *
    * Low (very negative) avg_logp = improbable text under the corpus
    * model (gibberish, boilerplate soup) — the filterable tail.
    *
    * Scale shape: counts are two partial-aggregated shuffles (bigrams,
    * unigrams); V rides along as a broadcast one-row cross join (no
    * driver action — the t8 lesson); scoring joins the doc's bigram
    * stream against the count relations on uniform token keys (shuffle
    * joins — at 100 TB the model tables are themselves large) and
    * reduces per document with one aggregate. avg_logp is rounded to
    * 9 dp: partial-sum accumulation order and the last ulp of ln differ
    * across engines. Documents with fewer than 2 tokens are dropped (no
    * bigram — the model is undefined). Returns (id, n_bigrams,
    * avg_logp). */
  def lmPerplexity(
      df: DataFrame, idCol: String, textCol: String, alpha: Double = 0.1): DataFrame = {
    val toks = col("__toks")
    // r14 opt: tokenize ONCE and persist the token-array relation — the
    // bigram stream (read twice: cb training and scoring) and the unigram
    // stream (a third tokenize pass before) all derive from it. The cache
    // holds one array row per doc instead of the id-carrying bigram
    // stream it replaces — fewer bytes cached, two regex passes dropped,
    // same streams row-for-row (guide §1.2: don't recompute).
    val tokRel = graft.CacheRegistry.persisted(
      df.withColumn("__toks", tokens(col(textCol))).select(col(idCol), toks))
    // bigram OCCURRENCES (non-distinct) with their context word —
    // recomputed from the cached token relation at each read (explode off
    // cache is cheaper than caching the exploded stream)
    val bg = tokRel
      .where(size(toks) >= 2)
      .select(col(idCol), explode(transform(sequence(lit(1), size(toks) - 1), i =>
        struct(element_at(toks, i).as("w1"), element_at(toks, i + 1).as("w2")))).as("b"))
      .select(col(idCol), col("b.w1").as("w1"), col("b.w2").as("w2"))
    val cb = bg.groupBy(col("w1"), col("w2")).agg(count(lit(1)).cast("double").as("cb"))
    val un = tokRel
      .select(explode(toks).as("w1"))
      .groupBy(col("w1")).agg(count(lit(1)).cast("double").as("cu"))
      .transform(graft.CacheRegistry.persisted(_)) // read twice: unigram join and the V count
    val v = un.agg(count(lit(1)).cast("double").as("__v"))
    bg.join(cb, Seq("w1", "w2"))
      .join(un, Seq("w1"))
      .crossJoin(broadcast(v))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_bigrams"),
        round(avg(log((col("cb") + lit(alpha)) / (col("cu") + lit(alpha) * col("__v")))), 9)
          .as("avg_logp"))
  }

  /** Stupid-backoff trigram LM scoring (Brants et al. 2007 §4, the
    * classic distributed n-gram LM — count tables + backoff scoring with
    * no discounting, built for exactly this MapReduce shape): score each
    * document of `docs` under a model counted from `train`,
    *
    *   S(w3 | w1 w2) = c3(w1w2w3)/c2(w1w2)            if the trigram was seen
    *                 = α · c2(w2w3)/c1(w2)            else if the bigram was
    *                 = α² · (c1(w3)+1)/(N+V)          else (Laplace unigram
    *                                                   floor — keeps S total
    *                                                   on OOV words, where
    *                                                   pure stupid backoff
    *                                                   is undefined)
    *
    * with α = 0.4 (the paper's value). Per-doc output: (idCol, n_scored,
    * avg_logp) — the mean log-score over trigram positions, rounded at
    * 9 dp (the [[lmPerplexity]] determinism rule). Documents under 3
    * tokens have no scoreable position and are excluded, like
    * [[lmPerplexity]] excludes sub-bigram docs.
    *
    * Scale shape: the three count relations are token-keyed partial-agg
    * shuffles of the training corpus (the Brants architecture: n-gram
    * count tables sharded by gram key); scoring is five hash equi-joins
    * of the scored trigram stream against them — count tables at corpus
    * scale are data-sized, so no broadcast is forced (AQE promotes the
    * small ones; at testdata scale that is all of them). */
  def stupidBackoff(
      train: DataFrame, docs: DataFrame, idCol: String, textCol: String,
      alpha: Double = 0.4): DataFrame = {
    def withToks(d: DataFrame) = d.withColumn("__toks", tokens(col(textCol)))
    val t = col("__toks")
    def gramsOf(d: DataFrame, n: Int, extra: Column*): DataFrame =
      d.where(size(t) >= n)
        .select((extra :+ explode(transform(sequence(lit(1), size(t) - (n - 1)), i =>
          struct((1 to n).map(o => element_at(t, i + lit(o - 1)).as(s"w$o")): _*)))
          .as("g")): _*)
        .select((extra ++ (1 to n).map(o => col(s"g.w$o").as(s"w$o"))): _*)
    def gramStream(d: DataFrame, n: Int, extra: Column*): DataFrame =
      gramsOf(withToks(d), n, extra: _*)
    // r14 opt: the three count tables each exploded their own gram stream
    // off a FRESH tokenize of the training corpus — tokenize once, persist
    // the token-array relation, and derive all three streams from the
    // cache (same rows, two regex passes and two corpus scans dropped;
    // guide §1.2)
    val trainToks = graft.CacheRegistry.persisted(withToks(train).select(t))
    val uni = graft.CacheRegistry.persisted(
      gramsOf(trainToks, 1).groupBy("w1").agg(count(lit(1)).as("c1")))
    val stats = uni.agg(sum(col("c1")).as("__n"), count(lit(1)).as("__v"))
    val bi = graft.CacheRegistry.persisted(
      gramsOf(trainToks, 2).groupBy("w1", "w2").agg(count(lit(1)).as("c2")))
    val tri = gramsOf(trainToks, 3).groupBy("w1", "w2", "w3").agg(count(lit(1)).as("c3"))
    val a = lit(alpha)
    val score =
      when(col("c3").isNotNull,
        col("c3").cast("double") / col("c2_ctx").cast("double"))
      .when(col("c2_low").isNotNull,
        a * col("c2_low").cast("double") / col("c1_w2").cast("double"))
      .otherwise(a * a * (coalesce(col("c1_w3"), lit(0L)) + lit(1L)).cast("double")
        / (col("__n") + col("__v")).cast("double"))
    gramStream(docs, 3, col(idCol))
      .join(tri, Seq("w1", "w2", "w3"), "left")
      .join(bi.select(col("w1"), col("w2"), col("c2").as("c2_ctx")),
        Seq("w1", "w2"), "left")
      .join(bi.select(col("w1").as("w2"), col("w2").as("w3"), col("c2").as("c2_low")),
        Seq("w2", "w3"), "left")
      .join(uni.select(col("w1").as("w2"), col("c1").as("c1_w2")), Seq("w2"), "left")
      .join(uni.select(col("w1").as("w3"), col("c1").as("c1_w3")), Seq("w3"), "left")
      .crossJoin(broadcast(stats))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_scored"),
        round(avg(log(score)), 9).as("avg_logp"))
  }

  /** Benchmark decontamination: for each corpus document, the number of
    * distinct word `n`-grams it shares with the benchmark set (eval
    * contamination detection à la GPT-3 §C / PaLM). N-grams travel as md5
    * hashes (fixed-width join keys). The benchmark n-gram set is DISTINCT
    * and broadcast — benchmarks are tiny next to a 100 TB corpus — so the
    * corpus side is scanned once, never shuffled; the per-doc count is one
    * partial-aggregated groupBy of the (sparse) match stream. */
  def decontaminate(
      corpus: DataFrame, benchmark: DataFrame,
      idCol: String, textCol: String, n: Int = 5): DataFrame = {
    val bench = distinctNgramHashes(benchmark, textCol, n).select("ng").distinct()
    distinctNgramHashes(corpus, textCol, n, col(idCol))
      .join(broadcast(bench), "ng")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_overlap"))
  }

  /** Span-level decontamination (the Lee et al. 2022 / GPT-3 appendix-C
    * removal face): instead of dropping a contaminated document whole
    * ([[decontaminate]] flags it), CUT the contaminated token spans and
    * keep the clean remainder. A span is the union of every corpus
    * position covered by an n-gram that also occurs in the benchmark —
    * overlapping hits merge by construction (coverage is a position SET).
    *
    * Returns every corpus row: (idCol, clean_text, n_removed,
    * contaminated). Untouched documents pass their text through verbatim
    * (no tokenize→rejoin round trip); contaminated documents are
    * reassembled from their uncovered tokens in position order, single
    * space separated (the corpus-wide tokenizer convention). A fully
    * covered document yields an empty clean_text — the caller's drop
    * threshold, not ours.
    *
    * Scale shape: benchmark n-grams broadcast (benchmarks are MBs);
    * the corpus gram stream dies at that broadcast join, so only HIT
    * positions — contamination is sparse by nature — reach the one
    * per-doc aggregate; the covered-positions relation (one row per
    * contaminated doc, positions as an array) joins back to the corpus
    * with AQE free to broadcast it, and the cut itself is pure array
    * expression work. No hint on that join: contaminated volume is
    * caller-data-dependent and an oversized forced broadcast OOMs
    * (NOTES gotcha). */
  def decontaminateSpans(
      corpus: DataFrame, benchmark: DataFrame,
      idCol: String, textCol: String, n: Int = 5): DataFrame = {
    val benchGrams = benchmark
      .select(explode(array_distinct(
        wordNgrams(tokens(col(textCol)), n))).as("g")).distinct()
    val toks = corpus.select(col(idCol), col(textCol),
      tokens(col(textCol)).as("__toks"))
    val covered = toks
      .select(col(idCol),
        posexplode(wordNgrams(col("__toks"), n)).as(Seq("pos", "g")))
      .join(broadcast(benchGrams), "g")
      .select(col(idCol),
        explode(sequence(col("pos"), col("pos") + lit(n - 1))).as("idx"))
      .groupBy(col(idCol))
      .agg(collect_set(col("idx")).as("__cov"))
    toks
      .join(covered, Seq(idCol), "left")
      .select(col(idCol),
        when(col("__cov").isNull, col(textCol)).otherwise(
          array_join(filter(col("__toks"),
            (t, i) => !array_contains(col("__cov"), i)), " ")).as("clean_text"),
        coalesce(size(col("__cov")), lit(0)).cast("long").as("n_removed"),
        col("__cov").isNotNull.as("contaminated"))
  }

  /** Fuzzy (MinHash-LSH) benchmark decontamination — catches NEAR
    * duplicates of benchmark items that exact n-gram overlap ([[
    * decontaminate]]) undercounts when the contamination is lightly
    * edited (the Lee et al. 2022 / GPT-3 appendix-C observation: test
    * data leaks in mutated, not verbatim). Same signature family and
    * band scheme as [[graft.dedup.Dedup.minhashLsh]], applied CROSS-
    * relation: corpus and benchmark docs get signatures from one shared
    * code path, candidates share an LSH band, and survivors are verified
    * with exact shingle Jaccard ≥ `threshold`.
    *
    * Scale shape: the benchmark's band keys AND verification shingle
    * sets are broadcast (benchmarks are MBs, corpora TBs), so the corpus
    * is scanned once for signatures — one partial-agg shuffle of shingle
    * rows — and never shuffled for the join. Returns one row per
    * contaminated corpus doc: (idCol, n_bench_matches, max_jaccard).
    *
    * When [[graft.core.SmallRelation.fits]] holds for corpus and benchmark
    * together under [[graft.dedup.InTaskJoins.LshMaxBytes]] (and both ids
    * are atomic), both sides' shingle sets are built
    * with the same expressions and run in one task through the LSH kernel
    * [[graft.dedup.Dedup.minhashLsh]] uses ([[graft.dedup.InTaskJoins]]):
    * benchmark band keys in a hash map, each corpus doc's candidates
    * verified with exact Jaccard, the same output rows. */
  def decontaminateFuzzy(
      corpus: DataFrame, benchmark: DataFrame,
      idCol: String, textCol: String,
      shingleN: Int = 3, k: Int = 12, bands: Int = 4, rows: Int = 3,
      threshold: Double = 0.5): DataFrame = {
    require(bands * rows == k,
      s"decontaminateFuzzy: bands*rows must equal k ($bands*$rows != $k)")
    import graft.dedup.Dedup.shingleSets
    import graft.dedup.InTaskJoins
    val cs = shingleSets(corpus, idCol, textCol, shingleN)
    val bs = shingleSets(benchmark, idCol, textCol, shingleN)
    val (cType, bType) = (cs.schema.fields.head.dataType, bs.schema.fields.head.dataType)
    if (InTaskJoins.atomicKey(cType) && InTaskJoins.atomicKey(bType) &&
        SmallRelation.fits(InTaskJoins.LshMaxBytes, corpus, benchmark)) {
      // one relation (is_bench, corpus id, bench id, shingles) so a single
      // task sees both sides
      val both = cs.select(lit(false), col(idCol), lit(null).cast(bType), col("shingles"))
        .unionAll(bs.select(lit(true), lit(null).cast(cType), col(idCol), col("shingles")))
      val outSchema = StructType(Seq(StructField(cs.schema.fields.head.name, cType),
        StructField("n_bench_matches", LongType, nullable = false),
        StructField("max_jaccard", DoubleType)))
      both.coalesce(1)
        .mapPartitions(InTaskJoins.decontaminate(_, k, bands, rows, threshold))(
          Encoders.row(outSchema))
        .toDF()
    } else distributedDecontaminateFuzzy(
      corpus, benchmark, idCol, textCol, shingleN, k, bands, rows, threshold)
  }

  private def distributedDecontaminateFuzzy(
      corpus: DataFrame, benchmark: DataFrame, idCol: String, textCol: String,
      shingleN: Int, k: Int, bands: Int, rows: Int, threshold: Double): DataFrame = {
    import graft.dedup.Dedup.minhashDocAgg
    import graft.dedup.MinHash.bandKeyCols
    val ca = minhashDocAgg(corpus, idCol, textCol, shingleN, k)
    val ba = minhashDocAgg(benchmark, idCol, textCol, shingleN, k)
    val bandCols = bandKeyCols(bands, rows)
    val cBands = ca.select(
      col(idCol), posexplode(array(bandCols: _*)).as(Seq("band", "band_key")))
    val bBands = ba.select(
      col(idCol).as("bench_id"), posexplode(array(bandCols: _*)).as(Seq("band", "band_key")))
    val cand = cBands.join(broadcast(bBands), Seq("band", "band_key"))
      .select(col(idCol), col("bench_id"))
      .distinct()
    cand
      .join(ca.select(col(idCol), col("shingles").as("sc")), idCol)
      .join(broadcast(ba.select(col(idCol).as("bench_id"), col("shingles").as("sb"))), "bench_id")
      .select(col(idCol), jaccard(col("sc"), col("sb")).as("jaccard"))
      .where(col("jaccard") >= threshold)
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_bench_matches"), max(col("jaccard")).as("max_jaccard"))
  }

  /** Distinct word-`n`-gram md5 hashes per row, exploded. Tokens are
    * materialized as a real column: `element_at` inside the n-gram lambda
    * would otherwise re-evaluate split() once PER ELEMENT ACCESS (lambda
    * bodies are interpreted per element, no subexpression reuse). */
  private def distinctNgramHashes(
      df: DataFrame, textCol: String, n: Int, cols: Column*): DataFrame =
    df.withColumn("__toks", tokens(col(textCol)))
      .where(size(col("__toks")) >= n)
      .select((cols :+ explode(array_distinct(wordNgrams(col("__toks"), n))).as("ng")): _*)
      .withColumn("ng", md5(col("ng")))

  /** Dedup normalization (the CCNet/Wenzek et al. 2020 preprocessing:
    * dedup is run over NORMALIZED text so that case, accent and
    * punctuation variants of the same content collapse): lowercase →
    * strip Latin-1 accents (explicit `translate` table — locale-free,
    * identical in any engine; `java.text.Normalizer` would be
    * JVM-locale-adjacent and has no DuckDB equivalent) → drop everything
    * outside [a-z0-9 ] → collapse whitespace runs → trim. Pure Column
    * expression: shuffle-free, codegen'd, linear. Idempotent:
    * normalize(normalize(x)) == normalize(x). */
  val accentFrom = "áàâäãåéèêëíìîïóòôöõúùûüçñýÿ"
  val accentTo = "aaaaaaeeeeiiiiooooouuuucnyy"
  def normalizeForDedup(c: Column): Column =
    trim(regexp_replace(
      regexp_replace(
        // any whitespace becomes a space FIRST, so a tab/newline between
        // words stays a separator instead of vanishing with the symbols
        regexp_replace(translate(lower(c), accentFrom, accentTo), "[ \\t\\n\\x0B\\f\\r]+", " "),
        "[^a-z0-9 ]", ""),
      " +", " "))

  /** HTML → text extraction (the C4/RefinedWeb ingest stage that precedes
    * every text operator here): drop script/style blocks and comments
    * wholesale, strip remaining tags, decode the six ubiquitous entities,
    * collapse whitespace. A pure `Column` expression — shuffle-free,
    * whole-stage codegen, scan-speed at 100 TB like the rest of this file.
    *
    * Semantics chosen for engine-portable exactness (each regex is valid
    * and identical in meaning under both Java regex and RE2): no
    * backreferences (RE2 has none — script/style are two separate
    * patterns), inline `(?is)` flags rather than engine-specific flag
    * arguments, an EXPLICIT whitespace class (Java's `\s` includes
    * vertical tab, RE2's does not — the one place the shorthands
    * diverge), and entity decoding orders `&amp;` LAST so double-encoded
    * text (`&amp;lt;`) decodes one level (`&lt;`), not two. Not a browser:
    * malformed nesting degrades gracefully (an unclosed `<` without `>`
    * passes through as text), which is the right failure mode for web-
    * scale garbage. */
  def extractHtmlText(html: Column): Column = {
    val noBlocks = Seq(
      "(?is)<script[^>]*>.*?</script>",
      "(?is)<style[^>]*>.*?</style>",
      "(?s)<!--.*?-->",
      "<[^>]*>").foldLeft(html)((c, p) => regexp_replace(c, p, " "))
    val decoded = Seq(
      "&lt;" -> "<", "&gt;" -> ">", "&quot;" -> "\"",
      "&#39;" -> "'", "&nbsp;" -> " ", "&amp;" -> "&")
      .foldLeft(noBlocks) { case (c, (k, v)) => replace(c, lit(k), lit(v)) }
    trim(regexp_replace(decoded, "[ \\t\\n\\x0b\\f\\r]+", " "))
  }

  /** URL structure features + domain blocklisting (the C4-style URL
    * filter): host/path via Spark's `parse_url`, registered domain and
    * TLD as the last host labels, path depth, and an `is_blocked` flag
    * from a broadcast join against `blocklist` (one `domain` column).
    *
    * Scale shape: URL parsing is per-row expression work; the blocklist —
    * even a curation-grade list of millions of domains — is MBs against a
    * TB corpus, so it broadcasts and the corpus never shuffles. Returns
    * the input columns plus url_host / url_domain / url_tld / path_depth
    * / is_blocked. */
  def urlFeatures(urls: DataFrame, urlCol: String, blocklist: DataFrame): DataFrame = {
    // try_parse_url, not parse_url: the strict form THROWS on an invalid
    // URL (ANSI), and at web scale malformed URLs are a certainty — a
    // garbage row must degrade to null features, not kill the job
    val host = try_parse_url(col(urlCol), lit("HOST"))
    val path = try_parse_url(col(urlCol), lit("PATH"))
    urls
      .withColumn("url_host", host)
      .withColumn("url_domain", regexp_extract(col("url_host"), "([^.]+\\.[^.]+)$", 1))
      .withColumn("url_tld", regexp_extract(col("url_host"), "\\.([^.]+)$", 1))
      .withColumn("path_depth",
        when(path.isNull.or(path === ""), 0)
          .otherwise(size(split(path, "/")) - 1))
      .join(
        // distinct: curation blocklists routinely carry duplicates, and a
        // duplicated domain in a plain left join would MULTIPLY corpus rows
        broadcast(blocklist.select(col("domain").as("url_domain")).distinct()
          .withColumn("is_blocked", lit(true))),
        Seq("url_domain"), "left")
      .withColumn("is_blocked", coalesce(col("is_blocked"), lit(false)))
  }

  /** [[decontaminate]] with a Bloom prefilter on the corpus n-gram stream —
    * the 100 TB formulation. Result is EXACTLY [[decontaminate]]'s (same
    * oracle): the filter has no false negatives and its false positives are
    * removed by the exact confirm join, so the sketch never changes
    * semantics, only the amount of data that reaches the join.
    *
    * Why it matters at scale: a real benchmark suite can hold ~10⁹ distinct
    * n-grams (tens of GB as join keys) — too big to broadcast per-task, so
    * the exact join must shuffle BOTH sides, including every n-gram of a
    * 100 TB corpus (quadrillions of rows). The Bloom filter over the same
    * keys is ~1.2 GB at fpp 1% — broadcast once per executor, probed at one
    * compiled call per n-gram ([[graft.functions.BloomMightContain]]) — and
    * drops the corpus stream to true matches + fpp before the shuffle. The
    * filter build aggregates partial filters (tree-merged bitsets), one
    * pass over the benchmark; its `count()` sizes the filter — index-build
    * cost, same justification as the IVF quantizer.
    *
    * An EMPTY benchmark short-circuits to the exact path (zero overlaps):
    * Spark's `stat.bloomFilter` NPEs on an empty relation.
    *
    * `broadcastConfirm = false` (default) leaves the confirm-join strategy
    * to Catalyst/AQE — at real benchmark sizes it shuffles, which is the
    * honest scale shape; `true` forces the sf-test shape where the
    * benchmark side still fits in a broadcast. */
  def decontaminateBloom(
      corpus: DataFrame, benchmark: DataFrame,
      idCol: String, textCol: String, n: Int = 5, fpp: Double = 0.01,
      broadcastConfirm: Boolean = false): DataFrame = {
    val bench = distinctNgramHashes(benchmark, textCol, n)
      .select("ng").distinct().transform(graft.CacheRegistry.persisted(_))
    val nKeys = bench.count()
    // Spark's stat.bloomFilter NPEs on an empty relation (the aggregated
    // sketch is null); an empty benchmark means zero overlaps — route
    // through the exact path, whose empty join produces the same schema
    if (nKeys == 0) return decontaminate(corpus, benchmark, idCol, textCol, n)
    val bf = bench.stat.bloomFilter(col("ng"), nKeys, fpp)
    // r15: without a hint, Catalyst sized the BLOOM-FILTERED corpus
    // stream below the broadcast threshold and built the join on IT
    // (BuildLeft over the corpus side, r15 plan dump) — locally harmless,
    // but exactly the plan that OOMs at 100 TB: the corpus-derived side
    // must never be the build side. SHUFFLE_HASH on the benchmark side
    // pins the honest shape — both sides exchange on the uniform md5 key,
    // the benchmark partition builds the hash table, the corpus stream
    // only ever streams (guide §3.1: pick the strategy deliberately).
    val confirm = if (broadcastConfirm) broadcast(bench) else bench.hint("shuffle_hash")
    distinctNgramHashes(corpus, textCol, n, col(idCol))
      .where(graft.functions.SketchFunctions.bloomMightContain(col("ng"), bf))
      .join(confirm, "ng")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_overlap"))
  }

  /** Per-document deflate compression ratio — the repetitiveness signal
    * curation pipelines pair with the Gopher heuristics (Dolma's and
    * RedPajama-v2's quality signal sets both carry a gzip/zlib ratio):
    * highly compressible text is boilerplate or templating; barely
    * compressible "text" is often encoded binary or gibberish. Emits
    * `compression_ratio` = deflated/raw UTF-8 bytes (zlib level 6; empty
    * text → raw length clamped to 1 so the ratio stays finite) plus both
    * byte counts.
    *
    * No SQL oracle: deflate output size is zlib-implementation-defined,
    * so the invariant laws are spec'd instead (CompressionSpec) and the
    * registered query is rows-only. Scale shape: batched `mapPartitions`
    * with ONE `Deflater` reused across the partition (allocation is
    * native and expensive, `reset()` is cheap), released at iterator
    * exhaustion; shuffle-free, linear, no decode. */
  def compressionRatio(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    import org.apache.spark.sql.Encoders
    val enc = Encoders.tuple(
      Encoders.scalaLong, Encoders.scalaDouble, Encoders.scalaLong, Encoders.scalaLong)
    df.select(col(idCol).cast("long"), col(textCol))
      .where(col(textCol).isNotNull)
      .as[(Long, String)](Encoders.tuple(Encoders.scalaLong, Encoders.STRING))
      .mapPartitions { it =>
        val d = new java.util.zip.Deflater(6)
        // release the native zlib buffer even when the partition iterator
        // is short-circuited (limit/take/downstream exception) — the
        // standard native-resource pattern for mapPartitions; end() is
        // idempotent, so the exhaustion path below may also run it
        Option(org.apache.spark.TaskContext.get())
          .foreach(_.addTaskCompletionListener[Unit](_ => d.end()))
        val buf = new Array[Byte](8192)
        it.map { case (id, text) =>
          val raw = text.getBytes("UTF-8")
          d.reset(); d.setInput(raw); d.finish()
          var n = 0L
          while (!d.finished()) n += d.deflate(buf)
          (id, n.toDouble / math.max(1, raw.length), raw.length.toLong, n)
        } ++ { d.end(); Iterator.empty } // release at exhaustion (local mode too)
      }(enc)
      .toDF(idCol, "compression_ratio", "n_bytes", "n_deflate_bytes")
  }

  /** DSIR importance weights (Xie et al. 2023, "Data Selection for
    * Language Models via Importance Resampling" §3): score every raw
    * document by how much more likely its hashed n-gram bag is under a
    * TARGET domain's feature distribution than under the raw corpus's
    * own — the data-selection signal used to pick pretraining data that
    * resembles a trusted corpus.
    *
    * Features are word unigrams + bigrams (the paper's choice), hashed to
    * `dims` buckets with the library-standard md5-first-8-hex hash
    * (deterministic and engine-replicable — same family as
    * [[hashedLinearScore]]). Both bucket distributions are Laplace-
    * smoothed: p[b] = (count[b] + 1) / (total + dims), so an unseen
    * bucket never yields log 0. The per-document weight is the bag
    * log-likelihood ratio
    * Σ_b c_doc[b] · (ln p_target[b] − ln p_raw[b]),
    * rounded to 9 dp on output (engine ln implementations differ in the
    * last ulp; the compounded noise is ≪ 1e-9). `dsir_keep` is the
    * weight-positive decision; a production resample would instead rank
    * by weight (+ Gumbel noise for the paper's sampled variant).
    *
    * Scale shape: the per-doc bucket relation is built in one narrow pass
    * plus one (id, bucket) aggregation and persisted
    * ([[graft.CacheRegistry]]) because the raw distribution AND the
    * scoring join both read it. Each distribution is a dims-sized
    * aggregate (partial agg per partition → one tiny shuffle); the
    * dims-row log-ratio table is broadcast into the scoring join, which
    * reduces with one per-doc aggregation. Nothing quadratic, nothing
    * collected: totals travel as broadcast 1-row relations. */
  def dsirWeights(
      raw: DataFrame, target: DataFrame, idCol: String, textCol: String,
      dims: Int = 1024): DataFrame = {
    require(dims >= 2, s"dsirWeights: dims must be >= 2, got $dims")
    val spark = raw.sparkSession
    def bucketCounts(df: DataFrame): DataFrame =
      df.withColumn("__toks", tokens(col(textCol)))
        .where(size(col("__toks")) >= 1)
        .select(col(idCol),
          explode(concat(col("__toks"), wordNgrams(col("__toks"), 2))).as("f"))
        .select(col(idCol),
          (conv(substring(md5(col("f")), 1, 8), 16, 10).cast("long") % dims)
            .as("bucket"))
        .groupBy(col(idCol), col("bucket")).agg(count(lit(1)).as("c"))
    val docB = graft.CacheRegistry.persisted(bucketCounts(raw))
    val buckets = spark.range(dims).select(col("id").as("bucket"))
    def smoothedLogP(bc: DataFrame, name: String): DataFrame = {
      val perBucket = bc.groupBy(col("bucket")).agg(sum(col("c")).as("n"))
      val tot = perBucket.agg(coalesce(sum(col("n")), lit(0L)).as("total"))
      buckets.join(perBucket, Seq("bucket"), "left")
        .crossJoin(broadcast(tot))
        // integer adds, then ONE exact int→double conversion each side of
        // an IEEE division — bit-identical operands in any engine
        .select(col("bucket"),
          log((coalesce(col("n"), lit(0L)) + lit(1L)).cast("double")
            / (col("total") + lit(dims.toLong)).cast("double")).as(name))
    }
    val llr = smoothedLogP(bucketCounts(target), "lp_t")
      .join(smoothedLogP(docB, "lp_r"), "bucket")
      .select(col("bucket"), (col("lp_t") - col("lp_r")).as("llr"))
    docB.join(broadcast(llr), "bucket")
      .groupBy(col(idCol))
      // + 0.0 collapses IEEE -0.0 so both engines hash identically
      .agg((round(sum(col("c") * col("llr")), 9) + lit(0.0)).as("dsir_weight"))
      .withColumn("dsir_keep", col("dsir_weight") > 0.0)
  }

  /** [[dsirWeights]] for the common case where the target domain is a
    * PREDICATE over the raw corpus itself (t28: `lang = 'en'`) rather
    * than an independent relation. Value-identical to
    * `dsirWeights(raw, raw.where(targetPredicate), ...)` — the target's
    * per-bucket counts are integer sums over the target's rows either
    * way — but tokenizes and hashes the corpus ONCE instead of twice
    * (r14 opt; the explode + md5 feature pass is the dominant cost):
    * the per-(doc, bucket) relation carries a constant-per-doc target
    * flag, and the target distribution is a flag-filtered rollup of the
    * SAME persisted relation the raw distribution and the scoring join
    * already read. DsirSpec pins equality against the two-relation form. */
  def dsirWeights(
      raw: DataFrame, targetPredicate: org.apache.spark.sql.Column,
      idCol: String, textCol: String, dims: Int): DataFrame = {
    require(dims >= 2, s"dsirWeights: dims must be >= 2, got $dims")
    val spark = raw.sparkSession
    // same feature pass as bucketCounts in the two-relation form, plus
    // the per-doc flag (constant per doc, so grouping by it adds nothing
    // to the key space)
    val docB = graft.CacheRegistry.persisted(
      raw.withColumn("__toks", tokens(col(textCol)))
        .where(size(col("__toks")) >= 1)
        .select(col(idCol), targetPredicate.as("__tgt"),
          explode(concat(col("__toks"), wordNgrams(col("__toks"), 2))).as("f"))
        .select(col(idCol), col("__tgt"),
          (conv(substring(md5(col("f")), 1, 8), 16, 10).cast("long") % dims)
            .as("bucket"))
        .groupBy(col(idCol), col("__tgt"), col("bucket"))
        .agg(count(lit(1)).as("c")))
    val buckets = spark.range(dims).select(col("id").as("bucket"))
    def smoothedLogP(bc: DataFrame, name: String): DataFrame = {
      val perBucket = bc.groupBy(col("bucket")).agg(sum(col("c")).as("n"))
      val tot = perBucket.agg(coalesce(sum(col("n")), lit(0L)).as("total"))
      buckets.join(perBucket, Seq("bucket"), "left")
        .crossJoin(broadcast(tot))
        .select(col("bucket"),
          log((coalesce(col("n"), lit(0L)) + lit(1L)).cast("double")
            / (col("total") + lit(dims.toLong)).cast("double")).as(name))
    }
    val llr = smoothedLogP(docB.where(col("__tgt") === true), "lp_t")
      .join(smoothedLogP(docB, "lp_r"), "bucket")
      .select(col("bucket"), (col("lp_t") - col("lp_r")).as("llr"))
    docB.join(broadcast(llr), "bucket")
      .groupBy(col(idCol))
      // + 0.0 collapses IEEE -0.0 so both engines hash identically
      .agg((round(sum(col("c") * col("llr")), 9) + lit(0.0)).as("dsir_weight"))
      .withColumn("dsir_keep", col("dsir_weight") > 0.0)
  }

  /** Boilerplate line-prevalence signal: per document, how much of it is
    * made of lines that also appear in ≥ `minDocs` OTHER-or-same distinct
    * documents — the cheap cross-document boilerplate detector (nav bars,
    * cookie banners, footers repeat across a site's pages) used to rank
    * docs for the d9-style line-dedup pass or to drop template-dominated
    * pages outright. Counts DISTINCT lines per doc (a page repeating its
    * own banner 50× is within-doc repetition — t9's signal, not this
    * one); empty lines ignored.
    *
    * Shape: one (doc, line-hash) relation (md5 — fixed-width keys, the
    * line text never shuffles), one line-keyed count agg, one line-keyed
    * join back, one per-doc agg. The line-frequency relation is
    * data-sized, so the join shuffles both sides — same class as the
    * [[stupidBackoff]] count joins. Returns (idCol, n_lines, n_common,
    * boilerplate_frac round 9). */
  def linePrevalence(
      df: DataFrame, idCol: String, textCol: String,
      minDocs: Int = 2, sep: String = "\n"): DataFrame = {
    require(minDocs >= 1, "linePrevalence: minDocs >= 1")
    val docLines = graft.CacheRegistry.persisted(
      df.select(col(idCol),
        explode(array_distinct(filter(split(col(textCol), java.util.regex.Pattern.quote(sep)),
          l => l =!= ""))).as("__line"))
        .select(col(idCol), md5(col("__line")).as("__lh")))
    val lineDf = docLines.groupBy(col("__lh")).agg(count(lit(1)).as("__df"))
    docLines.join(lineDf, Seq("__lh"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_lines"),
        sum(when(col("__df") >= minDocs, 1L).otherwise(0L)).as("n_common"))
      .withColumn("boilerplate_frac",
        round(col("n_common").cast("double") / col("n_lines").cast("double"), 9))
  }

  /** Canonical form of a URL — the CommonCrawl-family URL-dedup key
    * (crawls see the same page under case variants, default ports,
    * tracking parameters, fragments, and shuffled query strings):
    *
    *  - scheme and host lowercased; a leading `www.` label dropped
    *  - userinfo (`user:pass@`) dropped; the scheme's DEFAULT port
    *    (http:80, https:443) dropped, any other explicit port kept
    *  - path: duplicate `/` collapsed, trailing `/` stripped, empty → `/`
    *  - query: tracking parameters removed (`utm_*`, `gclid`, `fbclid`,
    *    `msclkid`, `ref`), the rest SORTED (param order is not
    *    significant to almost any server, and crawl variants shuffle it),
    *    empties dropped; an emptied query loses its `?`
    *  - fragment always dropped (never sent to the server)
    *
    * A string without a `scheme://host` shape canonicalizes to NULL —
    * at web scale malformed URLs are a certainty and must degrade, not
    * throw (the try_parse_url lesson). Pure `Column` expression work:
    * shuffle-free, codegen'd, scale-invariant. */
  def canonicalizeUrl(u: Column): Column = {
    val scheme = lower(regexp_extract(u, "^([A-Za-z][A-Za-z0-9+.-]*)://", 1))
    val rest = regexp_extract(u, "^[A-Za-z][A-Za-z0-9+.-]*://(.*)$", 1)
    val authority = regexp_extract(rest, "^([^/?#]*)", 1)
    val hostPort = regexp_extract(authority, "^(?:[^@]*@)?([^@]*)$", 1)
    val port = regexp_extract(hostPort, ":([0-9]+)$", 1)
    val host = regexp_replace(
      lower(regexp_replace(hostPort, ":[0-9]+$", "")), "^www\\.", "")
    val defaultPort = when(scheme === "http", lit("80"))
      .when(scheme === "https", lit("443")).otherwise(lit(""))
    val portPart = when(port === "" || port === defaultPort, lit(""))
      .otherwise(concat(lit(":"), port))
    val pathTrim = regexp_replace(regexp_replace(
      regexp_extract(rest, "^[^/?#]*([^?#]*)", 1), "/+", "/"), "/+$", "")
    val path = when(pathTrim === "", lit("/")).otherwise(pathTrim)
    // query taken from the pre-fragment part: a '?' INSIDE the fragment
    // ("#frag?x=1") is fragment content, not a query (review find)
    val params = array_join(array_sort(filter(
      split(regexp_extract(regexp_extract(u, "^([^#]*)", 1), "\\?(.*)$", 1), "&"),
      p => p =!= "" &&
        !p.rlike("^(utm_[A-Za-z0-9_]*|gclid|fbclid|msclkid|ref)(=|$)"))), "&")
    val qPart = when(params === "", lit("")).otherwise(concat(lit("?"), params))
    when(scheme === "" || host === "", lit(null).cast("string"))
      .otherwise(concat(scheme, lit("://"), host, portPart, path, qPart))
  }

  /** URL-level dedup: group by [[canonicalizeUrl]], keep the smallest id
    * per canonical URL (the deterministic claim every dedup face here
    * uses). Rows whose URL fails to canonicalize are EXCLUDED — an
    * unparseable URL supports no dedup claim. One hash-agg shuffle keyed
    * on the canonical string; at 100 TB this is the same shape as
    * [[graft.dedup.Dedup]]'s exact dedup, with the canonicalization
    * riding the scan as codegen'd expression work. */
  def urlDedup(docs: DataFrame, idCol: String, urlCol: String): DataFrame =
    docs
      .select(col(idCol).cast("long").as("__id"),
        canonicalizeUrl(col(urlCol)).as("url_canonical"))
      .where(col("url_canonical").isNotNull)
      .groupBy(col("url_canonical"))
      .agg(min(col("__id")).as("keep_id"), count(lit(1)).as("n_dups"))
}
