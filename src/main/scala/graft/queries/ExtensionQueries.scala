package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import org.apache.spark.sql.expressions.Window

import graft.dedup.Dedup
import graft.multimodal.Multimodal
import graft.operators.{AsOfJoin, CdcMerge, RangeJoin, SaltedAgg}
import graft.similarity.{Retrieval, Similarity}
import graft.streaming.Streaming
import graft.text.{Curation, TextAnalysis, TextFunctions}

/** The beyond-reference extension surface (SURVEY §7.6 / driver brief):
  * dedup, similarity search, text analysis, multimodal plumbing, streaming
  * semantics, joins — each a first-class operator with a DuckDB oracle.
  *
  * Oracle strategy: every probabilistic operator (MinHash, SimHash,
  * hyperplane LSH, fingerprinting) is built on md5-derived hashes and
  * deterministic double arithmetic, so the oracle SQL replicates the
  * ALGORITHM, not just its contract — the hash-compare verifies bucketing,
  * banding and verification end to end.
  *
  * The near-dup queries union the corpus with deterministically mutated
  * copies (`doc_id % 5 == 0` docs re-appear as `doc_id + 1000000` with the
  * first word dropped), so true near-duplicates exist at every scale
  * factor and the result demonstrably finds them.
  */
object ExtensionQueries {
  import Q.table

  /** documents.parquet is ONE row group at every SF (a TESTDATA artifact),
    * so a plain scan is a single partition and every per-doc kernel
    * downstream (shingling, regex, winnowing, codecs, BPE) single-threads.
    * For those queries, fan out first: the text shuffle is one pass over
    * ~corpus bytes and measured strictly cheaper than the lost parallelism
    * (d2 12.7->8.7 s, t17 1.6->0.65 s cold at sf0.1; the m4/t21 lesson).
    * On a real multi-file corpus the file count provides this parallelism
    * and the repartition is a no-op cost-wise. Explicit count: AQE would
    * coalesce a small no-arg shuffle back to one partition. Only applied
    * where results are partitioning-invariant (hash/integer/per-row
    * arithmetic — NOT t16's accumulated doubles). */
  private def fanOut(s: SparkSession, df: DataFrame): DataFrame =
    df.repartition(s.sparkContext.defaultParallelism)

  /** documents ∪ mutated copies — the shared near-dup corpus for
    * d3/d4/d6/d8 and the decontamination family. */
  /** The shared near-dup test corpus BEFORE fan-out: documents plus a
    * lightly-mutated copy of every %5 doc (ids above the corpus range).
    * The mutation is defined ONCE here so d15's split faces cannot
    * silently drift from d6's corpus (ADVICE r14). */
  private def mutatedCorpusRaw(s: SparkSession, dir: String): DataFrame = {
    val d = table(s, dir, "documents").select("doc_id", "text")
    d.unionAll(d.where(col("doc_id") % 5 === 0).select(
      (col("doc_id") + 1000000L).as("doc_id"),
      regexp_replace(col("text"), "^[^ ]+ ", "").as("text")))
  }

  private def mutatedCorpus(s: SparkSession, dir: String): DataFrame =
    fanOut(s, mutatedCorpusRaw(s, dir))

  private val corpusSql = """corpus AS (
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + 1000000 AS doc_id, regexp_replace(text, '^[^ ]+ ', '') AS text
      FROM documents WHERE doc_id % 5 = 0)"""

  // ---------------------------------------------------------------- dedup

  private def d1(s: SparkSession, dir: String): DataFrame =
    Dedup.exact(table(s, dir, "documents"), "doc_id", "text")

  private def d2(s: SparkSession, dir: String): DataFrame =
    Dedup.ngramJaccardPairs(
      // fanOut measured a consistent +0.5 s here: the PPJoin's own
      // shuffles already parallelize the heavy phase, the prep is cheap
      table(s, dir, "documents").withColumn("len_band", expr("n_chars div 64")),
      "doc_id", "text", blockCols = Seq("lang", "len_band"), threshold = 0.9)
      .select("id_a", "id_b", "jaccard")

  private def d3(s: SparkSession, dir: String): DataFrame =
    Dedup.minhashLsh(mutatedCorpus(s, dir), "doc_id", "text",
      shingleN = 3, k = 12, bands = 4, rows = 3, threshold = 0.5)

  private def d4(s: SparkSession, dir: String): DataFrame =
    Dedup.simhashPairs(mutatedCorpus(s, dir), "doc_id", "text",
      shingleN = 3, bits = 32, maxHamming = 3)

  /** Cross-source duplication matrix — WHERE duplication comes from (two
    * mirrors of the same site, a source re-crawled under two names):
    * d3's near-dup pairs over the raw corpus rolled up per unordered
    * source pair. Pure composition; diagnostics that decide which
    * sources a dedup pass must co-shuffle. */
  private def d16(s: SparkSession, dir: String): DataFrame = {
    val docs = table(s, dir, "documents")
    val pairs = Dedup.minhashLsh(docs.select("doc_id", "text"), "doc_id", "text",
      shingleN = 3, k = 12, bands = 4, rows = 3, threshold = 0.5)
    val src = docs.select(col("doc_id"), col("source"))
    pairs
      .join(src.select(col("doc_id").as("id_a"), col("source").as("__sa")), Seq("id_a"))
      .join(src.select(col("doc_id").as("id_b"), col("source").as("__sb")), Seq("id_b"))
      .select(least(col("__sa"), col("__sb")).as("source_a"),
        greatest(col("__sa"), col("__sb")).as("source_b"))
      .groupBy(col("source_a"), col("source_b"))
      .agg(count(lit(1)).as("n_dup_pairs"))
  }

  /** Pairs → duplicate clusters → canonical (keep) id per member. */
  private def d6(s: SparkSession, dir: String): DataFrame =
    Dedup.canonicalize(
      Dedup.minhashLsh(mutatedCorpus(s, dir), "doc_id", "text",
        shingleN = 3, k = 12, bands = 4, rows = 3, threshold = 0.5))

  /** d6's clusters with the keep-LONGEST policy instead of min-id: the
    * retained doc per near-dup cluster is the highest-quality member
    * (quality = text length here), ties toward the smaller id. */
  private def d15(s: SparkSession, dir: String): DataFrame = {
    // r14 opt: the quality side needs only (doc_id, length(text)) — fed
    // from the UN-fanned corpus with the length projected before any
    // exchange, so document text never rides a shuffle for it (the old
    // form passed the fanned corpus, whose repartition shipped full text
    // only to have its length taken upstream of the join). The LSH side
    // keeps the fan-out — that is where the single-row-group corpus
    // needs parallelism. q per doc_id is unchanged, so the keep-best
    // selection is value-identical. r15: both sides derive from the
    // SHARED mutatedCorpusRaw (ADVICE r14 — the mutation is defined once).
    val mutated = mutatedCorpusRaw(s, dir)
    Dedup.keepBestPerCluster(
      mutated.select(col("doc_id"), length(col("text")).cast("long").as("q")),
      "doc_id", "q",
      Dedup.minhashLsh(fanOut(s, mutated), "doc_id", "text",
        shingleN = 3, k = 12, bands = 4, rows = 3, threshold = 0.5))
  }

  private def d5(s: SparkSession, dir: String): DataFrame =
    Dedup.embeddingCosinePairs(table(s, dir, "embeddings"),
      "vec_id", "embedding", blockCols = Seq("label"), threshold = 0.4)

  /** SemDeDup: clusters from the deterministic quantizer replace d5's
    * natural label blocks — semantic dedup with NO pre-existing key. */
  private def d7(s: SparkSession, dir: String): DataFrame =
    Dedup.semanticDedupPairs(table(s, dir, "embeddings"),
      "vec_id", "embedding", nlist = 8, threshold = 0.4)

  /** d7 through the corpus-scaled quantizer (targetClusterSize = 250 →
    * nlist 2 at sf0.01, 8 at sf0.1): the SemDeDup production scaling
    * law — constant expected cluster size, so scored pairs grow 10× for
    * 10× data where a pinned nlist grows them 100× (measured wall-clock
    * 2.3× scaled vs 3.0× pinned at 10× on 32 cores, SCALE.md r8 cd
    * probes; the pinned gap compounds each further decade) — as a
    * registered, oracle-backed face rather than a probe-only argument. */
  private def d17(s: SparkSession, dir: String): DataFrame =
    Dedup.semanticDedupPairsAuto(table(s, dir, "embeddings"),
      "vec_id", "embedding", targetClusterSize = 250, threshold = 0.4)

  /** Banded hyperplane-LSH embedding near-dup — the no-label (vs d5),
    * no-quantizer (vs d7/d17) member of the embedding-dedup family:
    * candidates from 8 bands of 6 md5-derived hyperplane sign bits,
    * verified by exact cosine. The planes are deterministic and
    * regenerated verbatim in the oracle (the d3 banding shape
    * transplanted to the embedding space). rowsPerBand follows the
    * operator's measured scale law (sized so the random-collision floor
    * 1-(1-2^-b)^8 stays small relative to the corpus — 12.5% at b=6 vs
    * 40% at the b=4 originally probed; SCALE.md r10): the gate checks
    * correctness, but its parameters should still be the ones the
    * scaladoc tells users to pick. */
  private def d18(s: SparkSession, dir: String): DataFrame =
    Dedup.embeddingLshPairs(table(s, dir, "embeddings"),
      "vec_id", "embedding", bands = 8, rowsPerBand = 6, dims = 64, threshold = 0.4)

  /** d18's PRODUCTION regime: high-threshold (>= 0.9) near-duplicate
    * detection with the wide bands (12 bits) the operator's scale law
    * prescribes there — the sharper per-band S-curve that starves the
    * random-collision floor only pays when the target pairs are
    * high-similarity, which is exactly the near-dup threshold. The
    * corpus is seeded with KNOWN near-dups so the gate is non-vacuous
    * at every SF: a 2x-scaled copy of every vector (cosine exactly 1;
    * float*2 is exact, so the oracle's doubles see identical bits and
    * identical hyperplane signs — collides in all 8 bands) and a
    * first-dimension-zeroed copy (cosine = sqrt(1 - x0^2/|v|^2), ~0.99
    * for 64-dim vectors, bucket bits mostly preserved). The oracle
    * replays the same planes, banding, union, and threshold. */
  private def d19(s: SparkSession, dir: String): DataFrame = {
    val emb = table(s, dir, "embeddings").select("vec_id", "embedding")
    val scaled = emb.select((col("vec_id") + 1000000L).as("vec_id"),
      expr("transform(embedding, x -> CAST(x * 2.0 AS FLOAT))").as("embedding"))
    val zeroed = emb.select((col("vec_id") + 2000000L).as("vec_id"),
      expr("concat(array(CAST(0.0 AS FLOAT)), slice(embedding, 2, 63))").as("embedding"))
    Dedup.embeddingLshPairs(emb.unionAll(scaled).unionAll(zeroed),
      "vec_id", "embedding", bands = 8, rowsPerBand = 12, dims = 64, threshold = 0.9)
  }

  /** d19 through the AUTO face: the band width is DERIVED from the
    * corpus count (`rowsPerBand = ceil(log2(n)) + 2`,
    * [[graft.dedup.Dedup.embeddingLshPairsAuto]]) instead of pinned —
    * the operator's measured scale law automated, so a user at 100×
    * the corpus gets the wider bands that keep the random-collision
    * floor linear WITHOUT cargo-culting d19's 12 bits. The oracle
    * derives the SAME width from its own count() in SQL, proving the
    * law is engine-free, then replays planes/banding/verify. */
  private def d20(s: SparkSession, dir: String): DataFrame = {
    val emb = table(s, dir, "embeddings").select("vec_id", "embedding")
    val scaled = emb.select((col("vec_id") + 1000000L).as("vec_id"),
      expr("transform(embedding, x -> CAST(x * 2.0 AS FLOAT))").as("embedding"))
    val zeroed = emb.select((col("vec_id") + 2000000L).as("vec_id"),
      expr("concat(array(CAST(0.0 AS FLOAT)), slice(embedding, 2, 63))").as("embedding"))
    Dedup.embeddingLshPairsAuto(emb.unionAll(scaled).unionAll(zeroed),
      "vec_id", "embedding", bands = 8, dims = 64, threshold = 0.9)
  }

  /** Incremental dedup against a PERSISTED band registry — the 100 TB
    * ingestion shape: the corpus is signatured once into a bucketed
    * (band_key → keep_id) table; a new increment (mutated near-copies of
    * the %5 docs + verbatim copies of the %7 docs, ids above the corpus
    * range) is signatured alone and band-joined against the registry with
    * no shuffle on the registry side (PlanSpec). The oracle replicates
    * registry claims, increment claims, and the first-writer-wins
    * coalesce in the same minhash CTE family as d3/st4. */
  private def d11(s: SparkSession, dir: String): DataFrame = {
    val docs = table(s, dir, "documents").select("doc_id", "text")
    Dedup.buildBandRegistry(fanOut(s, docs), "doc_id", "text",
      registryTable = "graft_d11_registry", buckets = 32)
    val increment = docs.where(col("doc_id") % 5 === 0).select(
        (col("doc_id") + 1000000L).as("doc_id"),
        regexp_replace(col("text"), "^[^ ]+ ", "").as("text"))
      .unionAll(docs.where(col("doc_id") % 7 === 0).select(
        (col("doc_id") + 2000000L).as("doc_id"), col("text")))
    Dedup.dedupAgainstRegistry(fanOut(s, increment), "doc_id", "text",
      "graft_d11_registry", buckets = 32)
  }

  /** Incremental EXACT dedup against a persisted content-hash registry —
    * d11's machinery with the single md5 as the key: verbatim copies
    * (the %7 docs) are flagged against their corpus original; mutated
    * near-copies (the %5 docs) are FRESH to exact dedup (contrast d11,
    * which catches them) — the two queries together document the
    * exact-vs-near boundary of the incremental story. */
  private def d12(s: SparkSession, dir: String): DataFrame = {
    val docs = table(s, dir, "documents").select("doc_id", "text")
    Dedup.buildExactRegistry(fanOut(s, docs), "doc_id", "text",
      registryTable = "graft_d12_registry", buckets = 32)
    val increment = docs.where(col("doc_id") % 5 === 0).select(
        (col("doc_id") + 1000000L).as("doc_id"),
        regexp_replace(col("text"), "^[^ ]+ ", "").as("text"))
      .unionAll(docs.where(col("doc_id") % 7 === 0).select(
        (col("doc_id") + 2000000L).as("doc_id"), col("text")))
    Dedup.exactDedupAgainstRegistry(fanOut(s, increment), "doc_id", "text",
      "graft_d12_registry", buckets = 32)
  }

  /** Paragraph-level near-dedup with reassembly: pages synthesized from
    * documents (4 docs per page, duplicated %5 docs appended on far
    * pages), each document text one paragraph. Near-dup paragraphs
    * (MinHash-LSH at d3's hash family + exact Jaccard ≥ 0.5 verify) are
    * removed first-occurrence-wins and the surviving paragraphs rejoined
    * in position order — the fuzzy sibling of d9's exact line dedup. */
  private def d13(s: SparkSession, dir: String): DataFrame = {
    val d = table(s, dir, "documents").select("doc_id", "text")
    val base = d.unionAll(d.where(col("doc_id") % 5 === 0).select(
      (col("doc_id") + 1000000L).as("doc_id"), col("text")))
    val pages = base
      .groupBy(expr("doc_id div 4").as("page_id"))
      .agg(array_sort(collect_list(struct(col("doc_id"), col("text")))).as("dt"))
      .select(col("page_id"),
        concat_ws("\n\n", transform(col("dt"), x => x.getField("text"))).as("text"))
    Dedup.paragraphNearDedup(pages, "page_id", "text")
  }

  /** Exact-substring duplicate pairs (Lee et al. 2022 semantics through
    * winnowing): the mutated copies share almost every 27+-char span with
    * their sources, so they must surface; minShared=2 drops incidental
    * single-window boilerplate matches. */
  private def d8(s: SparkSession, dir: String): DataFrame =
    Dedup.substringDupPairs(mutatedCorpus(s, dir), "doc_id", "text",
      kgram = 20, window = 8, minShared = 2)

  /** Line-level exact dedup with reassembly (RefinedWeb-style) over
    * synthesized multi-line pages: ~5 documents concatenated per page,
    * with every doc_id % 5 == 0 document re-appearing VERBATIM on a
    * later page (doc_id + 1000000 lands in the page-200000+ range), so
    * cross-page duplicate lines exist at every SF and line dedup must
    * strip exactly those lines from the later pages. */
  private def d9(s: SparkSession, dir: String): DataFrame = {
    val d = table(s, dir, "documents").select("doc_id", "text")
    val base = d.unionAll(d.where(col("doc_id") % 5 === 0).select(
      (col("doc_id") + 1000000L).as("doc_id"), col("text")))
    val pages = base
      .groupBy(expr("doc_id div 5").as("page_id"))
      .agg(array_sort(collect_list(struct(col("doc_id"), col("text")))).as("dt"))
      .select(col("page_id"),
        concat_ws("\n", transform(col("dt"), x => x.getField("text"))).as("text"))
    Dedup.lineDedup(pages, "page_id", "text")
  }

  /** Sentence-level exact dedup with reassembly over punctuated pages:
    * the d9 duplicate-injection fixture (every doc_id % 5 == 0 document
    * re-appears verbatim on a far page) joined with '. ' so each member
    * doc becomes one sentence — cross-page duplicate SENTENCES exist at
    * every SF and must be stripped from the later page, first occurrence
    * wins. The oracle replays segmentation + rank + reassembly. */
  private def d14(s: SparkSession, dir: String): DataFrame = {
    val d = table(s, dir, "documents").select("doc_id", "text")
    val base = d.unionAll(d.where(col("doc_id") % 5 === 0).select(
      (col("doc_id") + 1000000L).as("doc_id"), col("text")))
    val pages = base
      .groupBy(expr("doc_id div 5").as("page_id"))
      .agg(array_sort(collect_list(struct(col("doc_id"), col("text")))).as("dt"))
      .select(col("page_id"),
        concat(concat_ws(". ", transform(col("dt"), x => x.getField("text"))),
          lit(".")).as("text"))
    Dedup.sentenceDedup(pages, "page_id", "text")
  }

  /** Within-document line dedup (the Dolma per-doc pass, vs d9's global
    * RefinedWeb one): pages synthesized with a boilerplate header line
    * before every constituent doc — within a page only the FIRST header
    * survives, while content lines shared across pages are untouched. */
  private def d10(s: SparkSession, dir: String): DataFrame = {
    val pages = table(s, dir, "documents")
      .groupBy(expr("doc_id div 5").as("page_id"))
      .agg(array_sort(collect_list(struct(col("doc_id"), col("text")))).as("dt"))
      .select(col("page_id"),
        concat_ws("\n", transform(col("dt"),
          x => concat(lit("== boilerplate ==\n"), x.getField("text")))).as("text"))
    Dedup.lineDedup(pages, "page_id", "text", perDoc = true)
  }

  // ---------------------------------------------------- similarity search

  private def s1(s: SparkSession, dir: String): DataFrame = {
    val emb = table(s, dir, "embeddings")
    Similarity.bruteForceTopK(emb, emb.where(col("vec_id") % 100 === 0),
      "vec_id", "embedding", k = 5)
  }

  private def s2(s: SparkSession, dir: String): DataFrame = {
    val emb = table(s, dir, "embeddings")
    Similarity.lshTopK(emb, emb.where(col("vec_id") % 100 === 0),
      "vec_id", "embedding", k = 3, planes = 6, dims = 64)
  }

  // --------------------------------------------------------- text analysis

  private def t1(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.languageId(table(s, dir, "documents"), "text")
      .select("doc_id", "en_hits", "de_hits", "fr_hits", "es_hits", "predicted_lang")

  private def t2(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.qualityScore(table(s, dir, "documents"), "text")
      .select("doc_id", "n_tokens", "mean_tok_len", "stopword_ratio", "punct_ratio", "quality")

  private def t3(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.tokenCounts(table(s, dir, "documents"), "text")
      .select("doc_id", "ws_tokens", "bpe_tokens", "distinct_tokens")

  private def t4(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.fingerprint(table(s, dir, "documents"), "text", window = 16)
      .select("doc_id", "fingerprint", "n_windows")

  /** Per-language heavy hitters through the Space-Saving sketch. Capacity
    * 64 exceeds the corpus vocabulary, so the sketch is provably EXACT
    * here (no eviction ever fires) and the oracle checks true counts with
    * err = 0; at 100 TB the same query ships ≤ 64 entries per language
    * per partition instead of shuffling every token occurrence. */
  private def t13(s: SparkSession, dir: String): DataFrame = {
    val hh = graft.folds.Aggregators.asColumn(
      graft.folds.Aggregators.spaceSaving(capacity = 64, topN = 10), col("token"))(
      org.apache.spark.sql.Encoders.STRING)
    table(s, dir, "documents")
      .select(col("lang"), explode(split(col("text"), " ")).as("token"))
      .groupBy(col("lang"))
      .agg(hh.as("hh"))
      .select(col("lang"), explode(col("hh")).as("e"))
      .select(col("lang"), col("e._1").as("token"),
        col("e._2").as("est_count"), col("e._3").as("err"))
  }

  // ------------------------------------------------------ corpus curation

  private def t9(s: SparkSession, dir: String): DataFrame =
    Curation.repetitionStats(table(s, dir, "documents").select("doc_id", "text"), "text")
      .select("doc_id", "n_ngrams", "dup_ngram_frac", "top_token_frac")

  private def t10(s: SparkSession, dir: String): DataFrame =
    Curation.heuristicFilters(table(s, dir, "documents").select("doc_id", "text"), "text")
      .select("doc_id", "flag_too_few_tokens", "flag_tok_len", "flag_dup_ngrams",
        "flag_top_token", "flag_no_stopword", "keep")

  /** documents with deterministic PII injected into every 7th row — both
    * engines construct the identical string, so redaction provably fires. */
  private def piiCorpus(s: SparkSession, dir: String): DataFrame =
    table(s, dir, "documents").select(col("doc_id"),
      when(col("doc_id") % 7 === 0,
        concat(col("text"),
          lit(" contact user"), col("doc_id").cast("string"),
          lit("@example.com or 555-"),
          lpad((col("doc_id") % 10000).cast("string"), 4, "0"),
          lit(" at 10.0."), (col("doc_id") % 256).cast("string"),
          lit("."), (col("doc_id") % 100).cast("string")))
        .otherwise(col("text")).as("text"))

  private def t11(s: SparkSession, dir: String): DataFrame =
    Curation.redactPii(piiCorpus(s, dir), "text")
      .select(col("doc_id"), col("n_emails"), col("n_ips"), col("n_phones"),
        // hash the redacted text so the checked output stays narrow; the
        // oracle md5s its own redaction, so the compare still pins every byte
        md5(col("redacted")).as("redacted_hash"))

  /** Benchmark = every doc_id % 5 == 0 original; corpus = mutatedCorpus
    * minus the benchmark docs themselves — the mutated copies (ids ≥ 1e6)
    * are true contamination: they share nearly all their 5-grams with a
    * benchmark doc. */
  private def t12(s: SparkSession, dir: String): DataFrame = {
    val (corpus, bench) = decontamInputs(s, dir)
    Curation.decontaminate(corpus, bench, "doc_id", "text", n = 5)
  }

  /** Fuzzy decontamination over the same corpus/benchmark split as t12:
    * MinHash-LSH candidates (d3's signature family, cross-relation) +
    * exact Jaccard ≥ 0.5 verify — catches the mutated benchmark copies
    * as NEAR duplicates rather than counting raw n-gram overlap. */
  private def t18(s: SparkSession, dir: String): DataFrame = {
    val (corpus, bench) = decontamInputs(s, dir)
    Curation.decontaminateFuzzy(corpus, bench, "doc_id", "text")
  }

  /** t12 through the Bloom-prefiltered scale path — identical semantics
    * (the sketch has no false negatives and the confirm join removes its
    * false positives), so it shares t12's oracle verbatim; only the plan
    * differs: probe-filter before the join, confirm join left to AQE. */
  private def t15(s: SparkSession, dir: String): DataFrame = {
    val (corpus, bench) = decontamInputs(s, dir)
    Curation.decontaminateBloom(corpus, bench, "doc_id", "text", n = 5)
  }

  private def decontamInputs(s: SparkSession, dir: String): (DataFrame, DataFrame) = (
    mutatedCorpus(s, dir)
      .where(col("doc_id") >= 1000000L || col("doc_id") % 5 =!= 0),
    table(s, dir, "documents")
      .where(col("doc_id") % 5 === 0).select("doc_id", "text"))

  // ------------------------------------------------------------ multimodal

  private def m1(s: SparkSession, dir: String): DataFrame =
    Multimodal.ingestFromText(table(s, dir, "documents"), "doc_id", "text", "text/plain")
      .select(col("media_id"), col("meta.byte_len").as("byte_len"),
        col("meta.content_hash").as("content_hash"), col("meta.mime").as("mime"))

  private def m2(s: SparkSession, dir: String): DataFrame = {
    implicit val spark: SparkSession = s
    Multimodal.decode(
      Multimodal.ingestFromText(table(s, dir, "documents"), "doc_id", "text", "text/plain"))
      .toDF()
  }

  /** REAL pixel path end-to-end: deterministic solid-gray PNGs built
    * in-plan from doc_id (this container ships no media), decoded and
    * area-resampled by [[Multimodal.resizeImages]]. A solid image's mean
    * luminance is resampler-invariant (a box average of a constant is the
    * constant), so the oracle replicates dims by the aspect-fit formula
    * and the mean exactly; gradient fixtures pin the resampler's actual
    * block means in MultimodalSpec. The metadata-only stub face
    * ([[Multimodal.resize]]) remains for payloads with no JVM codec. */
  private def m4(s: SparkSession, dir: String): DataFrame = {
    implicit val spark: SparkSession = s
    import spark.implicits._
    val media = table(s, dir, "documents")
      .select(col("doc_id").cast("long").as("media_id"),
        (col("doc_id") % 256).cast("int").as("gray"),
        (lit(24) + col("doc_id") % 80).cast("int").as("w"),
        (lit(16) + (col("doc_id") * 7) % 96).cast("int").as("h"))
      // the single-row-group documents scan is one partition (the d2
      // floor); HERE the repartition is worth it — it moves 4 ints per
      // row, and the per-row pixel work downstream is the actual cost.
      // Explicit count: AQE would coalesce a tiny no-arg shuffle back
      // to one partition and single-thread the codec work again
      .repartition(s.sparkContext.defaultParallelism)
      .as[(Long, Int, Int, Int)]
      .mapPartitions(_.map { case (id, g, w, h) =>
        Multimodal.MediaRecord(id, Multimodal.solidPng(g, w, h), "image/png")
      })
      .toDF()
    Multimodal.resizeImages(media, maxSide = 48).toDF()
      .select(col("media_id"), col("src_width"), col("src_height"),
        col("width"), col("height"), round(col("mean_px"), 9).as("mean_px"))
  }

  /** REAL video path end-to-end: solid-frame uncompressed AVIs built
    * in-plan from doc_id via [[AviCodec.encode]] and decoded by the real
    * [[AviCodec]] RIFF parser. Solid frames make the mean luminance
    * resampler/orientation-invariant (gray/255 exactly), so the oracle
    * replicates dims, frame count and mean by formula; independent byte-
    * level fixtures pin the parser in MultimodalSpec. */
  private def m6(s: SparkSession, dir: String): DataFrame = {
    implicit val spark: SparkSession = s
    import spark.implicits._
    val media = table(s, dir, "documents")
      .select(col("doc_id").cast("long").as("media_id"),
        (col("doc_id") % 256).cast("int").as("gray"),
        (lit(8) + col("doc_id") % 24).cast("int").as("w"),
        (lit(6) + (col("doc_id") * 5) % 18).cast("int").as("h"),
        (lit(1) + col("doc_id") % 4).cast("int").as("nf"))
      .repartition(s.sparkContext.defaultParallelism) // the m4 lesson
      .as[(Long, Int, Int, Int, Int)]
      .mapPartitions(_.map { case (id, g, w, h, nf) =>
        val px = Array.fill(w * h)((g << 16) | (g << 8) | g)
        Multimodal.MediaRecord(id,
          graft.multimodal.AviCodec.encode(w, h, Seq.fill(nf)(px)), "video/avi")
      })
      .toDF()
    Multimodal.decode(media).toDF()
      .select(col("media_id"), col("width"), col("height"), col("n_frames"),
        round(col("mean_px"), 9).as("mean_px"))
  }

  /** COMPRESSED video path end-to-end: solid-frame MOTION-JPEG AVIs built
    * in-plan from doc_id via [[AviCodec.encodeMjpeg]] (JDK ImageIO JPEG
    * writer, quality 1.0f) and decoded by the real [[AviCodec]] MJPEG path
    * (per-frame ImageIO JPEG reads). Solid GRAY frames at quality 1.0
    * round-trip bit-exactly — all-ones quantization tables leave the DC
    * term unquantized and every AC term is zero (verified for all 256 gray
    * levels in MultimodalSpec) — so the oracle replicates dims, frame
    * count and mean luminance by formula, exactly as m6 does for the
    * uncompressed path. Dims/frame-count formulas differ from m6 so the
    * two queries can't mask each other. */
  private def m7(s: SparkSession, dir: String): DataFrame = {
    implicit val spark: SparkSession = s
    import spark.implicits._
    val media = table(s, dir, "documents")
      .select(col("doc_id").cast("long").as("media_id"),
        ((col("doc_id") * 7) % 256).cast("int").as("gray"),
        (lit(8) + (col("doc_id") * 3) % 24).cast("int").as("w"),
        (lit(8) + col("doc_id") % 16).cast("int").as("h"),
        (lit(1) + col("doc_id") % 3).cast("int").as("nf"))
      .repartition(s.sparkContext.defaultParallelism) // the m4 lesson
      .as[(Long, Int, Int, Int, Int)]
      .mapPartitions(_.map { case (id, g, w, h, nf) =>
        val px = Array.fill(w * h)((g << 16) | (g << 8) | g)
        Multimodal.MediaRecord(id,
          graft.multimodal.AviCodec.encodeMjpeg(w, h, Seq.fill(nf)(px)), "video/avi")
      })
      .toDF()
    Multimodal.decode(media).toDF()
      .select(col("media_id"), col("width"), col("height"), col("n_frames"),
        round(col("mean_px"), 9).as("mean_px"))
  }

  /** REAL audio spectral path end-to-end: WAV fixtures built in-plan from
    * doc_id ([[Multimodal.encodeWavPcm16]]) and analyzed by the real FFT
    * ([[Multimodal.audioSpectral]]). The fixture signal is dc + A·sin(πi/2)
    * — period 4, samples [dc, dc+A, dc, dc−A] — chosen because it is
    * EXACTLY representable in 16-bit PCM (no quantization error) and
    * concentrates all spectral mass in exactly two bins: DC (X_0 = n·dc,
    * computed exactly — integer adds only) and the quarter-rate bin n/4
    * (|X| = A·n/2). The oracle therefore replicates every feature by
    * closed formula: centroid = (rate/4)·A/(2·dc+A), e_band0 =
    * 4dc²/(4dc²+A²), e_band2 = A²/(4dc²+A²), e_band1 = e_band3 = 0.
    * Rounding: centroid to 4 decimals (FFT twiddle noise ~1e-9 Hz abs),
    * energies to 9 (noise ~1e-19 — X_0 is exact and the ratios are
    * dominated by it). */
  private def m8(s: SparkSession, dir: String): DataFrame = {
    implicit val spark: SparkSession = s
    import spark.implicits._
    val media = table(s, dir, "documents")
      .select(col("doc_id").cast("long").as("media_id"),
        (lit(4000) + (col("doc_id") % 32) * 125).cast("int").as("rate"),
        expr("cast(256 * shiftleft(1, cast(doc_id % 3 as int)) as int)").as("n"),
        (lit(8000) + (col("doc_id") % 100) * 50).cast("int").as("amp"),
        (col("doc_id") % 40).cast("int").as("dc"))
      .repartition(s.sparkContext.defaultParallelism) // the m4 lesson
      .as[(Long, Int, Int, Int, Int)]
      .mapPartitions(_.map { case (id, rate, n, amp, dc) =>
        val samples = Array.tabulate[Short](n) { i =>
          (i % 4 match {
            case 1 => dc + amp
            case 3 => dc - amp
            case _ => dc
          }).toShort
        }
        Multimodal.MediaRecord(id,
          Multimodal.encodeWavPcm16(rate, 1, samples), "audio/wav")
      })
      .toDF()
    Multimodal.audioSpectral(media).toDF()
      .select(col("media_id"), col("sample_rate"), col("n_window"),
        round(col("spectral_centroid"), 4).as("spectral_centroid"),
        round(col("e_band0"), 9).as("e_band0"),
        round(col("e_band1"), 9).as("e_band1"),
        round(col("e_band2"), 9).as("e_band2"),
        round(col("e_band3"), 9).as("e_band3"))
  }

  /** Frame EXTRACTION end-to-end: solid per-frame-distinct AVIs (BI_RGB
    * for even ids, MJPEG for odd — both real codecs) built in-plan,
    * every 2nd frame decoded to pixels and re-encoded as PNG payloads.
    * gray_f = (id·7 + f·13) % 256 varies per frame, so the oracle checks
    * that the RIGHT frames (0, 2, 4...) were extracted with the RIGHT
    * content, by formula — solid frames are exact under both codecs
    * (MJPEG at quality 1.0, the m7 lemma). Payload pixel-exactness is
    * spec territory (binary columns don't hash-compare). */
  private def m9(s: SparkSession, dir: String): DataFrame = {
    implicit val spark: SparkSession = s
    import spark.implicits._
    val media = table(s, dir, "documents")
      .select(col("doc_id").cast("long").as("media_id"),
        (lit(8) + col("doc_id") % 16).cast("int").as("w"),
        (lit(6) + col("doc_id") % 10).cast("int").as("h"),
        (lit(1) + col("doc_id") % 5).cast("int").as("nf"))
      .repartition(s.sparkContext.defaultParallelism) // the m4 lesson
      .as[(Long, Int, Int, Int)]
      .mapPartitions(_.map { case (id, w, h, nf) =>
        val frames = (0 until nf).map { f =>
          val g = ((id * 7 + f * 13) % 256).toInt
          Array.fill(w * h)((g << 16) | (g << 8) | g)
        }
        val bytes =
          if (id % 2 == 0) graft.multimodal.AviCodec.encode(w, h, frames)
          else graft.multimodal.AviCodec.encodeMjpeg(w, h, frames)
        Multimodal.MediaRecord(id, bytes, "video/avi")
      })
      .toDF()
    Multimodal.extractFrames(media, stride = 2).toDF()
      .select(col("media_id"), col("frame_idx"), col("width"), col("height"),
        round(col("mean_px"), 9).as("mean_px"))
  }

  /** Scene cuts / keyframes over decoded video frames: m9's AVI fixtures
    * at stride 1 (solid gray g = (id·7 + f·13) % 256 per frame — the +13
    * step is below the 0.1 cut threshold, the mod-256 wrap far above it,
    * so real shots and real cuts both occur at every SF), then the
    * windowed intensity-delta detector. */
  private def m14(s: SparkSession, dir: String): DataFrame = {
    implicit val spark: SparkSession = s
    import spark.implicits._
    val media = table(s, dir, "documents")
      .select(col("doc_id").cast("long").as("media_id"),
        (lit(8) + col("doc_id") % 16).cast("int").as("w"),
        (lit(6) + col("doc_id") % 10).cast("int").as("h"),
        (lit(1) + col("doc_id") % 5).cast("int").as("nf"))
      .repartition(s.sparkContext.defaultParallelism) // the m4 lesson
      .as[(Long, Int, Int, Int)]
      .mapPartitions(_.map { case (id, w, h, nf) =>
        val frames = (0 until nf).map { f =>
          val g = ((id * 7 + f * 13) % 256).toInt
          Array.fill(w * h)((g << 16) | (g << 8) | g)
        }
        val bytes =
          if (id % 2 == 0) graft.multimodal.AviCodec.encode(w, h, frames)
          else graft.multimodal.AviCodec.encodeMjpeg(w, h, frames)
        Multimodal.MediaRecord(id, bytes, "video/avi")
      })
      .toDF()
    Multimodal.sceneCuts(Multimodal.extractFrames(media, stride = 1).toDF(),
        threshold = 0.1)
      .select(col("media_id"), col("frame_idx"),
        round(col("mean_px"), 9).as("mean_px"),
        round(col("delta"), 9).as("delta"),
        col("is_cut"), col("scene_id"), col("is_keyframe"))
  }

  /** Header-only media sniff end-to-end: seven REAL encoders (ImageIO
    * PNG/JPEG/GIF/BMP/TIFF, WavCodec PCM, AviCodec AVI) build per-doc fixtures
    * in-plan; [[Multimodal.sniffMedia]] reads format + dimensions / PCM
    * layout / frame count from the HEADERS alone — the 100 TB stats pass
    * that routes/filters media without paying a decode. The mime tag is
    * deliberately octet-stream: sniffing trusts bytes, not labels. Every
    * output field is a closed-form function of doc_id (dims and layout
    * are the encoder inputs; bit depths are the format constants the spec
    * pins: PNG/JPEG/TIFF 8-bit channels, BMP 24 bpp, PCM 16). */
  private def m10(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val media = table(s, dir, "documents")
      .select(col("doc_id").cast("long").as("media_id"))
      .repartition(s.sparkContext.defaultParallelism) // the m4 lesson
      .as[Long]
      .mapPartitions(_.map { id =>
        val k = (id % 7).toInt
        val w = (5 + id % 11).toInt
        val h = (4 + id % 9).toInt
        val px = Array.tabulate(w * h)(i => ((id + i) % 256).toInt * 0x010101)
        val bytes = k match {
          case 0 => Multimodal.encodeImage("png", w, h, px)
          case 1 => Multimodal.encodeImage("jpeg", w, h, px)
          case 2 => Multimodal.encodeImage("gif", w, h, px)
          case 3 => Multimodal.encodeImage("bmp", w, h, px)
          case 4 =>
            val ch = (1 + id % 2).toInt
            val rate = (8000 + (id % 16) * 250).toInt
            val nsamp = (50 + id % 100).toInt
            graft.multimodal.WavCodec.encodePcm16(rate, ch,
              Array.tabulate[Short](nsamp * ch)(i => ((id * 31 + i * 7) % 2048).toShort))
          case 5 =>
            val nf = (1 + id % 4).toInt
            graft.multimodal.AviCodec.encode(w, h, Seq.fill(nf)(px))
          case _ => Multimodal.encodeImage("tiff", w, h, px)
        }
        Multimodal.MediaRecord(id, bytes, "application/octet-stream")
      })
      .toDF()
    Multimodal.sniffMedia(media)
  }

  /** Sentence segmentation end-to-end: punctuated pages built in-plan
    * (docs joined with '. ', alternating terminators, one trailing
    * unterminated clause), split by the RE2-portable pattern. The
    * oracle runs the SAME pattern in DuckDB — exact rows, indexes, and
    * char counts. */
  private def t27(s: SparkSession, dir: String): DataFrame = {
    val pages = sentencePages(s, dir)
    pages.select(col("page_id"),
        posexplode(graft.text.TextAnalysis.sentences(col("text")))
          .as(Seq("sent_idx", "sentence")))
      .withColumn("n_chars", length(col("sentence")).cast("long"))
  }

  /** Sentence-aware chunking end-to-end over the same pages: sentences
    * assigned to chunks at cumulative-char thresholds (never split),
    * rejoined in order. The oracle replays segmentation + the window
    * cumulative + integer division. */
  private def p14(s: SparkSession, dir: String): DataFrame =
    graft.pipeline.TrainingPrep.sentenceChunks(
      sentencePages(s, dir), "page_id", "text", maxChars = 200)

  /** Shared fixture for t27/p14: 5-doc pages, members joined by '. ',
    * a '!' replacing the joiner every third page, and an unterminated
    * tail clause — covers terminator variety and the trailing-text
    * rule. */
  private def sentencePages(s: SparkSession, dir: String): DataFrame =
    table(s, dir, "documents")
      .groupBy(expr("doc_id div 5").as("page_id"))
      .agg(array_sort(collect_list(struct(col("doc_id"), col("text")))).as("dt"))
      .select(col("page_id"),
        concat(
          concat_ws(". ", transform(col("dt"), x => x.getField("text"))),
          when(col("page_id") % 3 === 0, lit("! final unterminated clause"))
            .otherwise(lit(". tail sentence?"))).as("text"))

  /** Audio resample end-to-end: per-doc int16 ramp WAVs (s_i = c + d·i,
    * exactly representable) linearly interpolated onto a fixed 16 kHz
    * grid. The oracle replays the interpolation ARITHMETIC — same
    * operand order, same floor(v+0.5) — over the construction formulas;
    * sum_out is the binary-free checksum. id%8==0 sources are already
    * 16 kHz (identity path), others up- or down-sample. */
  private def m12(s: SparkSession, dir: String): DataFrame = {
    implicit val spark: SparkSession = s
    import spark.implicits._
    val media = table(s, dir, "documents")
      .select(col("doc_id").cast("long").as("media_id"))
      .repartition(s.sparkContext.defaultParallelism)
      .as[Long]
      .mapPartitions(_.map { id =>
        val src = (8000 + (id % 8) * 1000).toInt
        val n = (40 + id % 30).toInt
        val c = (id % 100 - 50).toInt
        val d = (id % 7 - 3).toInt
        Multimodal.MediaRecord(id,
          graft.multimodal.WavCodec.encodePcm16(src, 1,
            Array.tabulate[Short](n)(i => (c + d * i).toShort)),
          "audio/wav")
      })
      .toDF()
    Multimodal.audioResample(media, dstRate = 16000).toDF()
      .select("media_id", "src_rate", "dst_rate", "n_src", "n_out", "sum_out")
  }

  /** ViT-style patchify end-to-end: gray gradient PNGs (gray = 16x + y,
    * wrap-free at the chosen dims) cut into 4×4 patches; per-patch mean
    * luminance is an integer-exact sum both engines replay in the same
    * order, so the oracle is a closed double formula. */
  private def m13(s: SparkSession, dir: String): DataFrame = {
    implicit val spark: SparkSession = s
    import spark.implicits._
    val media = table(s, dir, "documents")
      .select(col("doc_id").cast("long").as("media_id"))
      .repartition(s.sparkContext.defaultParallelism)
      .as[Long]
      .mapPartitions(_.map { id =>
        val w = (8 + id % 8).toInt  // ≤ 15 → 16x + y ≤ 252, no wrap
        val h = (4 + id % 9).toInt  // ≤ 12
        val px = Array.tabulate(w * h) { i =>
          val g = 16 * (i % w) + i / w
          (g << 16) | (g << 8) | g
        }
        Multimodal.MediaRecord(id, Multimodal.encodeImage("png", w, h, px), "image/png")
      })
      .toDF()
    Multimodal.patchify(media, patch = 4).toDF()
      .select(col("media_id"), col("px"), col("py"),
        round(col("mean_lum"), 9).as("mean_lum"))
  }

  /** Energy segmentation over constructed silence|tone|silence|tone WAVs:
    * block lengths in whole frames derived from doc_id, tone amplitude
    * 1000 (frame energy 1.6e8 ≫ the 8e7 threshold), so the two expected
    * segments per clip are pure id formulas. */
  private def m16(s: SparkSession, dir: String): DataFrame = {
    implicit val spark: SparkSession = s
    import spark.implicits._
    val frameLen = 160
    val media = table(s, dir, "documents")
      .select(col("doc_id").cast("long").as("media_id"))
      .repartition(s.sparkContext.defaultParallelism)
      .as[Long]
      .mapPartitions(_.map { id =>
        val Seq(a, b, c, d) =
          Seq(1 + id % 3, 1 + id % 4, 1 + id % 2, 1 + id % 5).map(_.toInt)
        val samples = new Array[Short]((a + b + c + d) * frameLen)
        def fill(fromFrame: Int, nFrames: Int): Unit =
          java.util.Arrays.fill(samples, fromFrame * frameLen,
            (fromFrame + nFrames) * frameLen, 1000.toShort)
        fill(a, b); fill(a + b + c, d)
        Multimodal.MediaRecord(id,
          graft.multimodal.WavCodec.encodePcm16(16000, 1, samples), "audio/wav")
      })
      .toDF()
    Multimodal.energySegments(media, frameLen, threshold = 80000000L).toDF()
  }

  /** Per-channel image statistics over RGB gradient fixtures with
    * closed-form sums: r cycles mod 13 from 100, g mod 7 from 50, b
    * constant 200 — each channel's Σ and Σx² are integer formulas of
    * (w, h), so the oracle replays the exact mean/std arithmetic. */
  private def m15(s: SparkSession, dir: String): DataFrame = {
    implicit val spark: SparkSession = s
    import spark.implicits._
    val media = table(s, dir, "documents")
      .select(col("doc_id").cast("long").as("media_id"))
      .repartition(s.sparkContext.defaultParallelism)
      .as[Long]
      .mapPartitions(_.map { id =>
        val w = (8 + id % 8).toInt
        val h = (4 + id % 9).toInt
        val px = Array.tabulate(w * h) { i =>
          val r = 100 + i % 13
          val g = 50 + i % 7
          (r << 16) | (g << 8) | 200
        }
        Multimodal.MediaRecord(id, Multimodal.encodeImage("png", w, h, px), "image/png")
      })
      .toDF()
    Multimodal.channelStats(media).toDF()
      .select(col("media_id"), col("width"), col("height"),
        round(col("mean_r"), 9).as("mean_r"), round(col("mean_g"), 9).as("mean_g"),
        round(col("mean_b"), 9).as("mean_b"),
        round(col("std_r"), 9).as("std_r"), round(col("std_g"), 9).as("std_g"),
        round(col("std_b"), 9).as("std_b"))
  }

  /** Archive-shard expansion end-to-end (the webdataset ingestion
    * shape): per-doc zip bundles built in-plan (1 + id%4 members, name
    * and size by formula), expanded to one row per member. The oracle
    * knows only the construction formulas — member names, decompressed
    * lengths, and md5 of the (repeat-'x') content — so the zip walk,
    * inflation, and ordering are all checked exactly. */
  private def m11(s: SparkSession, dir: String): DataFrame = {
    implicit val spark: SparkSession = s
    import spark.implicits._
    val shards = table(s, dir, "documents")
      .select(col("doc_id").cast("long").as("shard_id"))
      .repartition(s.sparkContext.defaultParallelism) // the m4 lesson
      .as[Long]
      .mapPartitions(_.map { id =>
        val bos = new java.io.ByteArrayOutputStream()
        val z = new java.util.zip.ZipOutputStream(bos)
        val nm = (1 + id % 4).toInt
        for (j <- 0 until nm) {
          z.putNextEntry(new java.util.zip.ZipEntry(s"doc$id/f$j.txt"))
          z.write(Array.fill[Byte]((10 + (id * 3 + j * 5) % 50).toInt)('x'))
          z.closeEntry()
        }
        z.close()
        (id, bos.toByteArray)
      }).toDF("shard_id", "content")
    Multimodal.expandZipShards(shards).toDF()
      .select(col("shard_id"), col("member_idx"), col("member_name"),
        col("byte_len"), md5(col("content")).as("content_hash"))
  }

  /** Compressed-text-column decode: per-doc gzip payloads built in-plan,
    * inflated back to text by the codegen'd `graft_gunzip` expression —
    * the scan-time decode for gzip-at-rest corpora. The oracle is the
    * ORIGINAL documents table: decompression must be the exact inverse
    * of compression, byte for byte. */
  private def t26(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    table(s, dir, "documents")
      .select(col("doc_id").cast("long").as("doc_id"), col("text"))
      .repartition(s.sparkContext.defaultParallelism)
      .as[(Long, String)]
      .mapPartitions(_.map { case (id, text) =>
        val bos = new java.io.ByteArrayOutputStream()
        val g = new java.util.zip.GZIPOutputStream(bos)
        g.write(text.getBytes("UTF-8"))
        g.close()
        (id, bos.toByteArray)
      }).toDF("doc_id", "gz")
      .select(col("doc_id"),
        graft.functions.CompressionFunctions.gunzipText(col("gz")).as("text"))
      .withColumn("n_chars", length(col("text")).cast("long"))
  }

  /** Perceptual (average-hash) image near-dup over the stub luminance
    * grids: documents with equal byte length share a grid → hamming 0;
    * the oracle replicates grid, hash packing, blocking and verification. */
  private def m5(s: SparkSession, dir: String): DataFrame = {
    implicit val spark: SparkSession = s
    Multimodal.perceptualHashPairs(
      Multimodal.luminanceGrid(
        Multimodal.ingestFromText(
          fanOut(s, table(s, dir, "documents")), "doc_id", "text", "text/plain"))
        .toDF(),
      maxHamming = 3)
  }

  private def m3(s: SparkSession, dir: String): DataFrame = {
    implicit val spark: SparkSession = s
    Multimodal.sampleFrames(
      Multimodal.decode(
        Multimodal.ingestFromText(table(s, dir, "documents"), "doc_id", "text", "text/plain")),
      stride = 2)
  }

  // ---------------------------------------------------- streaming (batch)

  /** Same code path the streaming tests run over a MemoryStream —
    * executed in batch mode for the oracle. */
  private def st1(s: SparkSession, dir: String): DataFrame =
    Streaming.windowedEventAgg(table(s, dir, "events"), "1 hour", "10 minutes")

  /** Batch face of the streaming windowed heavy hitters: hourly top-5
    * event types through the Space-Saving state. Capacity 64 ≫ the
    * event-type alphabet, so counts are exact and the oracle ranks them
    * directly (t13's argument at window granularity). */
  private def st7(s: SparkSession, dir: String): DataFrame =
    Streaming.windowedHeavyHitters(table(s, dir, "events"), "1 hour", "10 minutes",
      capacity = 64, topN = 5)

  /** Sliding-window face of st1: 1-hour windows every 15 minutes — each
    * event lands in 4 overlapping windows. round(.., 9): overlapping
    * windows re-sum the same doubles in different orders. */
  private def st5(s: SparkSession, dir: String): DataFrame =
    Streaming.windowedEventAgg(table(s, dir, "events"), "1 hour", "10 minutes",
        slide = Some("15 minutes"))
      .select(col("window_start_s"), col("event_type"), col("n_events"),
        round(col("sum_value"), 9).as("sum_value"))

  /** Batch face of latest-state-by-key over the events change stream:
    * the current (last) event per user, ordered by (ts_s, event_id) —
    * event_id breaks timestamp ties, making the winner total-ordered. */
  private def st6(s: SparkSession, dir: String): DataFrame = {
    val ev = table(s, dir, "events")
    Streaming.latestByKey(
      ev.select(col("user_id"), Streaming.epochSeconds(ev).as("ts_s"),
        col("event_id"), col("event_type")),
      keyCols = Seq("user_id"), orderCols = Seq("ts_s", "event_id"),
      payloadCols = Seq("event_type"))
  }

  /** Batch face of streaming exact dedup ([[graft.streaming.Streaming.streamingDedup]]
    * = `dropDuplicatesWithinWatermark`): first occurrence per event_id.
    * The fixture re-delivers every %7 event 30 s later with the same id —
    * the at-least-once duplicate every ingestion pipeline sees — and
    * `firstByKey` keeps the original deterministically (min(struct) on
    * ts). StreamingSpec pins stream ≡ batch under event-time-ordered
    * delivery. */
  private def st8(s: SparkSession, dir: String): DataFrame = {
    val ev = table(s, dir, "events")
    val base = ev.select(col("event_id"), Streaming.epochSeconds(ev).as("ts_s"),
      col("event_type"), col("user_id"))
    val redelivered = base.where(col("event_id") % 7 === 0)
      .withColumn("ts_s", col("ts_s") + 30L)
    Streaming.firstByKey(base.unionAll(redelivered),
      keyCols = Seq("event_id"), orderCols = Seq("ts_s"),
      payloadCols = Seq("event_type", "user_id"))
  }

  /** The lake as BOTH ends of a streaming pipeline: documents land in a
    * graftshard table, a Structured Streaming query reads it through
    * the connector's MicroBatchStream face, filters/projects, and
    * writes to a second graftshard table through the streaming SINK
    * ([[graft.sources.v2.GraftShardStreamingWrite]] — epochs commit via
    * the one batch commit path with a (queryId → epoch) replay guard in
    * the manifest, so a post-recovery re-commit never double-appends).
    * The gate reads the sink table back; fresh sink/checkpoint dirs per
    * run keep re-executions independent (a leftover checkpoint against
    * a REBUILT source must instead fail loudly on the generation pin —
    * GraftShardStreamSinkSpec and GraftShardSourceSpec pin both). */
  private def st9(s: SparkSession, dir: String): DataFrame = {
    val run = java.util.UUID.randomUUID().toString.take(8)
    val src = Q.tmpArtifactPath("st9src", dir) + s"_$run"
    val dst = Q.tmpArtifactPath("st9dst", dir) + s"_$run"
    val ckpt = Q.tmpArtifactPath("st9ckpt", dir) + s"_$run"
    table(s, dir, "documents").select("doc_id", "n_chars", "lang")
      .write.format("graftshard").mode("overwrite").save(src)
    val q = s.readStream.format("graftshard").load(src)
      .where(col("n_chars") > 100)
      .select(col("doc_id"), (col("n_chars") * 2L).as("chars2"), col("lang"))
      .writeStream.format("graftshard")
      .option("path", dst).option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    q.exception.foreach(throw _)
    s.read.format("graftshard").load(dst)
  }

  /** st9's lake-to-lake pipeline under ADMISSION CONTROL — the 100 TB
    * bootstrap shape: the stream starts against an EXISTING multi-file
    * table and `maxFilesPerTrigger` drains it in bounded micro-batches
    * under Trigger.AvailableNow instead of one table-sized first batch
    * (no intra-batch checkpoint at scale = one late task failure loses
    * everything). The query REQUIRES that multiple epochs actually
    * committed (the sink manifest's replay-guard epoch is the
    * observable) and the oracle proves the capped drain is byte-exact
    * vs the uncapped answer. */
  private def st11(s: SparkSession, dir: String): DataFrame = {
    val run = java.util.UUID.randomUUID().toString.take(8)
    val src = Q.tmpArtifactPath("st11src", dir) + s"_$run"
    val dst = Q.tmpArtifactPath("st11dst", dir) + s"_$run"
    val ckpt = Q.tmpArtifactPath("st11ckpt", dir) + s"_$run"
    table(s, dir, "documents").select("doc_id", "n_chars", "lang", "source")
      .repartitionByRange(8, col("doc_id"))
      .write.format("graftshard").mode("overwrite").save(src)
    val q = s.readStream.format("graftshard")
      .option("maxFilesPerTrigger", "2").load(src)
      .where(col("n_chars") >= 150 && col("lang") =!= "de")
      .select(col("doc_id"), col("n_chars"), col("lang"), col("source"))
      .writeStream.format("graftshard")
      .option("path", dst).option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    q.exception.foreach(throw _)
    val epochs = graft.sources.v2.ShardFormat.readManifest(dst).get
      .streamCommits.values
    require(epochs.nonEmpty && epochs.max >= 2,
      s"st11: expected the 8-file backlog to drain in >= 3 capped epochs, " +
        s"got highest epoch ${epochs.maxOption.getOrElse(-1L)}")
    s.read.format("graftshard").load(dst)
  }

  /** EVENT-TIME STREAMING over a TIMESTAMP lake table (round 14): the
    * events corpus lands in a days(ts)-partitioned graftshard table
    * with its REAL timestamp column; a micro-batch stream tails it
    * (file-prefix offsets, several capped epochs) and maintains hourly
    * event-time windows in COMPLETE mode — each epoch truncate-commits
    * the full window state to a graftshard sink through the
    * exactly-once epoch guard, so the final table is the
    * deterministic hourly rollup no matter how the backlog split into
    * batches. The 100 TB shape: a streaming job tails the day-
    * partitioned events lake and keeps an hourly dashboard table
    * current. Sums are exact (value scaled to micros as BIGINT). */
  private def st12(s: SparkSession, dir: String): DataFrame = {
    val run = java.util.UUID.randomUUID().toString.take(8)
    val src = Q.tmpArtifactPath("st12src", dir) + s"_$run"
    val dst = Q.tmpArtifactPath("st12dst", dir) + s"_$run"
    val ckpt = Q.tmpArtifactPath("st12ckpt", dir) + s"_$run"
    table(s, dir, "events")
      .select(col("event_id"), col("ts").cast("timestamp").as("ts"),
        col("event_type"), col("value"))
      // cluster by the DAY ordinal so each day lands whole in one task
      // (one file per day) — repartitioning by raw ts would spray every
      // day across all tasks and write thousands of tiny files
      .repartition(expr("unix_micros(ts) div 86400000000"))
      .write.format("graftshard")
      .option("partitionKey", "ts").option("partitionTransform", "days")
      .mode("overwrite").save(src)
    val srcManifest = graft.sources.v2.ShardFormat.readManifest(src).get
    require(srcManifest.partitioning
      .contains(graft.sources.v2.ShardFormat.TransformPart("days", "ts")),
      "st12: the source must be days(ts)-partitioned")
    // size the cap for ~3 epochs regardless of how many days the SF spans
    val cap = math.max(1, (srcManifest.files.size + 2) / 3)
    // r15 (guide §5/§6 inside each epoch): the hourly-dashboard state is
    // tiny at ANY corpus scale (hours × event types), but every epoch
    // pays one state-store load + delta-commit + task launch PER state
    // partition — at the session's 32 shuffle partitions that is 96
    // state commits for ~3k groups across 3 epochs, and the per-epoch
    // fixed cost IS this query's floor. Scope the stream's state
    // partitioning to the dashboard shape (8; state partition count is
    // pinned by the first epoch's checkpoint, so it must be set before
    // start) and restore the session conf right after the stream ends.
    // Value-neutral: counts and exact integer sums are partition-
    // invariant, and the epoch/replay gate below is unchanged.
    val shufConf = "spark.sql.shuffle.partitions"
    val prevShuf = s.conf.get(shufConf)
    s.conf.set(shufConf, math.min(8, prevShuf.toInt).max(1).toString)
    val q = try {
      s.readStream.format("graftshard")
        .option("maxFilesPerTrigger", cap.toString).load(src)
        .groupBy(window(col("ts"), "1 hour"), col("event_type"))
        .agg(count(lit(1)).as("n_events"),
          // FLOOR before the cast: Spark's double->bigint cast truncates
          // while DuckDB's rounds — floor is the shared exact semantics
          sum(expr("CAST(FLOOR(value * 1000000) AS BIGINT)")).as("value_micros"))
        .select(unix_micros(col("window.start")).as("win_start"),
          col("event_type"), col("n_events"), col("value_micros"))
        .writeStream.format("graftshard").outputMode("complete")
        .option("path", dst).option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    } finally s.conf.set(shufConf, prevShuf)
    q.awaitTermination(180000)
    q.exception.foreach(throw _)
    val epochs = graft.sources.v2.ShardFormat.readManifest(dst).get
      .streamCommits.values
    require(epochs.nonEmpty && epochs.max >= 2,
      s"st12: expected the capped backlog to drain across >= 3 epochs, " +
        s"got highest epoch ${epochs.maxOption.getOrElse(-1L)}")
    s.read.format("graftshard").load(dst)
  }

  /** STREAMING WRITE-AUDIT-PUBLISH (round 14): the audited-ingestion
    * loop at its production shape — a capped lake-to-lake stream lands
    * its micro-batch epochs on a STAGED BRANCH of a live table (each
    * epoch a branch commit; the live pointer, version, and row count
    * provably untouched while >=3 epochs accumulate), the audit reads
    * exactly the would-be table through `option("branch", ...)`, and
    * `publish_branch` folds the whole chain — replay guard included —
    * into ONE live commit. Before round 14 the sink refused staging
    * (epoch bookkeeping lived only on the live chain); now branch
    * manifests carry the (queryId → epoch) guard and publish folds it,
    * so a post-publish restart replays nothing. Byte-exact: the final
    * table is the seed half plus the streamed half of `documents`. */
  private def st13(s: SparkSession, dir: String): DataFrame = {
    val run = java.util.UUID.randomUUID().toString.take(8)
    val src = Q.tmpArtifactPath("st13src", dir) + s"_$run"
    val dst = Q.tmpArtifactPath("st13dst", dir) + s"_$run"
    val ckpt = Q.tmpArtifactPath("st13ckpt", dir) + s"_$run"
    val docs = table(s, dir, "documents")
      .select(col("doc_id"), col("n_chars").cast("long").as("n_chars"), col("lang"))
    // the live seed: the short half commits normally
    docs.where(col("n_chars") <= 150).coalesce(1)
      .write.format("graftshard").mode("overwrite").save(dst)
    val liveV = graft.sources.v2.ShardFormat.readManifest(dst).get.version
    val seedCount = s.read.format("graftshard").load(dst).count()
    // the long half arrives as a capped stream STAGED on a branch
    docs.where(col("n_chars") > 150).repartitionByRange(6, col("doc_id"))
      .write.format("graftshard").mode("overwrite").save(src)
    val q = s.readStream.format("graftshard")
      .option("maxFilesPerTrigger", "2").load(src)
      .writeStream.format("graftshard")
      .option("path", dst).option("checkpointLocation", ckpt)
      .option("stageAs", "ingest")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    q.exception.foreach(throw _)
    // staging left live COMPLETELY untouched across the epoch chain
    val live1 = graft.sources.v2.ShardFormat.readManifest(dst).get
    require(live1.version == liveV &&
      s.read.format("graftshard").load(dst).count() == seedCount,
      s"st13: staged streaming must not move the live table " +
        s"(v$liveV/$seedCount rows -> v${live1.version})")
    val br = graft.sources.v2.ShardFormat.readBranch(dst, "ingest").get
    require(br.streamCommits.values.maxOption.exists(_ >= 2),
      s"st13: expected >= 3 staged epochs on the branch, got " +
        s"${br.streamCommits.values.maxOption.getOrElse(-1L)}")
    // the audit face sees exactly the would-be table; then ONE commit
    val audited = s.read.format("graftshard").option("branch", "ingest")
      .load(dst).count()
    require(audited == docs.count(),
      s"st13: branch audit saw $audited rows, want ${docs.count()}")
    graft.sources.v2.GraftShardMaintenance.publishBranch(dst, "ingest")
    require(graft.sources.v2.ShardFormat.readManifest(dst).get.version == liveV + 1,
      "st13: the staged chain must publish as exactly one live commit")
    s.read.format("graftshard").load(dst)
  }

  /** Streaming CHANGE FEED end to end: a lake table takes an append
    * and a merge-on-read DELETE while a `changesFrom` stream follows it
    * — the micro-batches are exact version deltas (offsets = manifest
    * versions), landed in a graftshard sink. The incremental-consumer
    * shape at 100 TB: a dedup registry / index refresher subscribes to
    * row-level changes instead of re-diffing snapshots per run. The
    * oracle replays the expected event set (appended docs as inserts,
    * %9=2 docs as deletes — including appended-then-deleted docs
    * reporting both). */
  private def st10(s: SparkSession, dir: String): DataFrame = {
    val run = java.util.UUID.randomUUID().toString.take(8)
    val cat = ensureGraftCatalog(s, dir)
    s.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.st10")
    s.sql(s"DROP TABLE IF EXISTS $cat.st10.docs")
    val docs = table(s, dir, "documents").select("doc_id", "lang", "n_chars")
    docs.where(col("doc_id") % 2 === 0).repartitionByRange(4, col("doc_id"))
      .writeTo(s"$cat.st10.docs").using("graftshard").create()
    val src = s"${s.conf.get(s"spark.sql.catalog.$cat.warehouse")}/st10/docs"
    // WALL-CLOCK addressed start (the cron-scheduled consumer's shape):
    // the create commit's own timestamp resolves to its version, so its
    // state is excluded and everything after is the delta — same answer
    // as changesFrom=<create version>. The sleep pins the ms boundary:
    // a later commit in the SAME millisecond would legitimately resolve
    // as "at or before t" and silently start the feed after it.
    val fromTs = graft.sources.v2.ShardFormat.readManifest(src).get.createdAtMs
    Thread.sleep(15)
    // the commits the stream must observe
    docs.where(col("doc_id") % 2 === 1).repartitionByRange(4, col("doc_id"))
      .writeTo(s"$cat.st10.docs").append()
    s.conf.set("spark.graftshard.rowLevel.mode", "merge-on-read")
    try s.sql(s"DELETE FROM $cat.st10.docs WHERE doc_id % 9 = 2")
    finally s.conf.unset("spark.graftshard.rowLevel.mode")
    val dst = Q.tmpArtifactPath("st10dst", dir) + s"_$run"
    val ckpt = Q.tmpArtifactPath("st10ckpt", dir) + s"_$run"
    val q = s.readStream.format("graftshard")
      .option("changesFromTimestamp", fromTs).load(src)
      .select("doc_id", "lang", "_change_type")
      .writeStream.format("graftshard")
      .option("path", dst).option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    q.exception.foreach(throw _)
    s.read.format("graftshard").load(dst)
  }

  /** Batch face of the streaming minhash-LSH band registry (same d3
    * parameters, same oracle CTEs); StreamingSpec runs the stream face. */
  private def st4(s: SparkSession, dir: String): DataFrame =
    Streaming.minhashBandRegistry(mutatedCorpus(s, dir), "doc_id", "text",
      shingleN = 3, k = 12, bands = 4, rows = 3)

  // ----------------------------------------------------------------- joins

  /** Broadcast star join (dimension tables broadcast, fact table never
    * shuffled for the join — only for the final aggregation). */
  private def x1(s: SparkSession, dir: String): DataFrame = {
    val o = table(s, dir, "orders")
    val c = table(s, dir, "customer").select("c_custkey", "c_nationkey")
    val n = table(s, dir, "nation").select("n_nationkey", "n_name")
    o.join(broadcast(c), o("o_custkey") === c("c_custkey"))
      .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
      .groupBy(col("n_name"))
      .agg(count(lit(1)).as("n_orders"), sum(col("o_totalprice")).as("sum_price"))
  }

  /** As-of join: each event picks up the latest order of the same
    * customer at or before the event time (point-in-time features). */
  private def x2(s: SparkSession, dir: String): DataFrame = {
    val ev = table(s, dir, "events")
    val e = ev
      .select(col("event_id"), col("user_id"), Streaming.epochSeconds(ev).as("event_s"))
    val o = table(s, dir, "orders")
      .select(col("o_custkey"), unix_timestamp(col("o_orderdate")).as("order_s"),
        col("o_orderkey"), col("o_totalprice"))
    AsOfJoin.backward(e, o, "user_id", "o_custkey", "event_s", "order_s",
      rightPayload = Seq("o_orderkey", "o_totalprice"), rightTieBreak = Seq("o_orderkey"))
      .select("event_id", "user_id", "event_s", "o_orderkey", "o_totalprice")
  }

  /** x2's as-of contract through the custom PHYSICAL operator
    * (`AsOfJoinNode` → `AsOfJoinStrategy` → `SortMergeAsOfJoinExec`,
    * `graft/plans/AsOfMergeJoin.scala` — extension tier (c): logical
    * node + planner strategy + physical plan, injected by
    * GraftExtensions): per-side narrow shuffles and a streaming
    * per-partition merge replace the composed face's padded union +
    * window carry-forward. Shares x2's oracle — one contract, two
    * execution strategies.
    *
    * Bench history: under the count() consumer used through round 9
    * Catalyst pruned x2's whole Window+Sort+Exchange to a scan-count
    * while this node always ran the real join, which misread as "7x
    * slower" (AsOfMergeJoinSpec pins the asymmetry). The sweep now
    * materializes output via the noop sink, and with the payload
    * actually consumed the merge face matches or beats x2 in every
    * measured regime — SCALE.md round-10 asof probe. */
  private def x39(s: SparkSession, dir: String): DataFrame = {
    val ev = table(s, dir, "events")
    val e = ev
      .select(col("event_id"), col("user_id"), Streaming.epochSeconds(ev).as("event_s"))
    val o = table(s, dir, "orders")
      .select(col("o_custkey"), unix_timestamp(col("o_orderdate")).as("order_s"),
        col("o_orderkey"), col("o_totalprice"))
    AsOfJoin.backwardMerge(e, o, "user_id", "o_custkey", "event_s", "order_s",
      rightPayload = Seq("o_orderkey", "o_totalprice"), rightTieBreak = Seq("o_orderkey"))
      .select("event_id", "user_id", "event_s", "o_orderkey", "o_totalprice")
  }

  /** Roundtrip through `graftshard`, the repo's own DataSourceV2
    * connector ([[graft.sources.v2.GraftShardSource]]): documents are
    * written range-partitioned on doc_id through the V2 BatchWrite
    * (speculation-safe atomic manifest commit), then read back through
    * the V2 scan with every pushdown surface engaged — the integral
    * predicates prune WHOLE shard files from manifest min/max stats at
    * planning time (zero file opens; at sf0.1 the doc_id bound keeps
    * 2 of 4 shards), the string IN is absorbed row-level by the
    * reader, and column pruning reaches the record decoder.
    * GraftShardSourceSpec pins the plan shapes; the oracle replays the
    * same predicates over the source table, so the whole write+read
    * cycle must be lossless. */
  private def x40(s: SparkSession, dir: String): DataFrame = {
    val out = Q.tmpArtifactPath("x40", dir)
    table(s, dir, "documents")
      .select("doc_id", "text", "lang", "source", "n_chars")
      .repartitionByRange(4, col("doc_id"))
      .write.format("graftshard").mode("overwrite").save(out)
    s.read.format("graftshard").load(out)
      .where(col("n_chars") > 64 && col("doc_id") < 2000 &&
        col("source").isin("src1", "src3", "src5", "src7", "src9", "src11"))
      .select("doc_id", "text", "lang", "source", "n_chars")
  }

  /** Storage-partitioned join through `graftshard`: documents and
    * embeddings are both written key-partitioned on `shard_key =
    * id % 32` (one key value per shard file, recorded in the manifest),
    * so the scans report `KeyGroupedPartitioning` and the whole
    * rollup-join — two group-bys on the key plus the join — plans with
    * ZERO shuffle of either corpus (`spark.sql.sources.v2.bucketing
    * .enabled`, default on; GraftShardSourceSpec pins the
    * no-Exchange SMJ plan shape). At 100 TB this is the headline win of
    * keyed layout: a key-aligned join whose only data movement is the
    * scan itself. */
  private def x41(s: SparkSession, dir: String): DataFrame = {
    val outA = Q.tmpArtifactPath("x41a", dir)
    val outB = Q.tmpArtifactPath("x41b", dir)
    table(s, dir, "documents")
      .select(col("doc_id"), col("n_chars"), pmod(col("doc_id"), lit(32)).as("shard_key"))
      .repartition(col("shard_key"))
      .write.format("graftshard").option("partitionKey", "shard_key")
      .mode("overwrite").save(outA)
    table(s, dir, "embeddings")
      .select(col("vec_id"), col("label"), pmod(col("vec_id"), lit(32)).as("shard_key"))
      .repartition(col("shard_key"))
      .write.format("graftshard").option("partitionKey", "shard_key")
      .mode("overwrite").save(outB)
    val a = s.read.format("graftshard").load(outA)
      .groupBy("shard_key")
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"))
    val b = s.read.format("graftshard").load(outB)
      .groupBy("shard_key")
      .agg(count(lit(1)).as("n_vecs"), sum(col("label")).as("sum_label"))
    a.join(b, "shard_key")
  }

  /** Window analytics over the keyed layout: running sums and sequence
    * numbers per shard_key over a key-partitioned `graftshard` table
    * execute with ZERO exchange — the window's ClusteredDistribution is
    * satisfied straight from storage (`KeyGroupedPartitioning`), so the
    * only remaining work is the per-partition sort
    * (GraftShardSourceSpec pins the no-Exchange plan). This is where
    * keyed layout pays at 100 TB: a window shuffles the FULL row volume
    * when the layout doesn't provide the clustering. */
  private def x43(s: SparkSession, dir: String): DataFrame = {
    val out = Q.tmpArtifactPath("x43", dir)
    table(s, dir, "documents")
      .select(col("doc_id"), col("n_chars"), pmod(col("doc_id"), lit(32)).as("shard_key"))
      .repartition(col("shard_key"))
      .write.format("graftshard").option("partitionKey", "shard_key")
      .mode("overwrite").save(out)
    val w = Window.partitionBy(col("shard_key")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val ws = Window.partitionBy(col("shard_key")).orderBy(col("doc_id"))
    s.read.format("graftshard").load(out)
      .select(col("doc_id"), col("shard_key"),
        sum(col("n_chars")).over(w).as("run_chars"),
        // DuckDB row_number() is BIGINT; Spark's is INT — cast (x31 rule)
        row_number().over(ws).cast("long").as("seq"))
  }

  /** The catalog face end to end: documents and embeddings land in
    * [[graft.sources.v2.GraftCatalog]]-managed tables
    * `PARTITIONED BY (bucket(16, id))` (SQL DDL + INSERT), then join
    * row-level ON THE RAW ID COLUMNS — the high-cardinality
    * storage-partitioned join identity keys cannot give (one file per
    * identity value). Spark resolves the bucket transform through the
    * catalog's `bucket` function, so the join plans with ZERO exchange
    * (GraftCatalogSpec pins the plan; the one-sided variant co-shuffles
    * only the unbucketed side by evaluating the same function). At
    * 100 TB this deletes the dominant cost of every id-aligned join:
    * both corpora stay where they were written. */
  private def x44(s: SparkSession, dir: String): DataFrame = {
    val cat = ensureGraftCatalog(s, dir)
    s.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.x44")
    s.sql(s"DROP TABLE IF EXISTS $cat.x44.docs")
    s.sql(s"DROP TABLE IF EXISTS $cat.x44.embs")
    s.sql(s"""CREATE TABLE $cat.x44.docs (doc_id BIGINT, n_chars BIGINT, lang STRING)
      USING graftshard PARTITIONED BY (bucket(16, doc_id))""")
    s.sql(s"""CREATE TABLE $cat.x44.embs (vec_id BIGINT, label INT)
      USING graftshard PARTITIONED BY (bucket(16, vec_id))""")
    table(s, dir, "documents").select("doc_id", "n_chars", "lang")
      .createOrReplaceTempView("x44_docs_src")
    table(s, dir, "embeddings").select("vec_id", "label")
      .createOrReplaceTempView("x44_embs_src")
    s.sql(s"INSERT INTO $cat.x44.docs SELECT doc_id, n_chars, lang FROM x44_docs_src")
    s.sql(s"INSERT INTO $cat.x44.embs SELECT vec_id, label FROM x44_embs_src")
    s.sql(s"""SELECT d.doc_id, d.n_chars, d.lang, e.label
      FROM $cat.x44.docs d JOIN $cat.x44.embs e ON d.doc_id = e.vec_id""")
  }

  /** Time travel through `graftshard`: two commits (overwrite with the
    * low-id half, append the rest), then read `versionAsOf` the FIRST
    * commit — exactly its rows come back even though the current table
    * holds both halves. Every commit writes an immutable versioned
    * manifest next to the pointer; vacuum honors retained snapshots and
    * `expireSnapshots` retires them (GraftShardSourceSpec pins the
    * expire→vacuum order; GraftCatalogSpec drives the SQL
    * `VERSION AS OF` / `TIMESTAMP AS OF` faces and read-only snapshot
    * semantics). At 100 TB this is reproducibility: a training run pins
    * the corpus snapshot it read, concurrent appends notwithstanding. */
  private def x45(s: SparkSession, dir: String): DataFrame = {
    val out = Q.tmpArtifactPath("x45", dir)
    val docs = table(s, dir, "documents").select("doc_id", "n_chars", "source")
    // parity split: non-vacuous at every SF (both halves non-empty)
    docs.where(pmod(col("doc_id"), lit(2)) === 0)
      .write.format("graftshard").mode("overwrite").save(out)
    val v1 = graft.sources.v2.ShardFormat.readManifest(out).get.version
    docs.where(pmod(col("doc_id"), lit(2)) === 1)
      .write.format("graftshard").mode("append").save(out)
    s.read.format("graftshard").option("versionAsOf", v1.toString).load(out)
  }

  /** The SORTED keyed layout: like x43 but the write declares
    * `sortWithinShards=doc_id` (RequiresDistributionAndOrdering — Spark
    * clusters by key and sorts each task before rows reach the writer,
    * so every shard file is one sorted run by construction), and the
    * scan reports the ordering (SupportsReportOrdering). The same
    * window now plans with ZERO exchange AND ZERO sort — the full
    * analytics cost of the query paid once, at write time, amortized
    * over every read (GraftShardSourceSpec pins both plan absences and
    * the honest degradation when an unsorted append lands). */
  private def x46(s: SparkSession, dir: String): DataFrame = {
    val out = Q.tmpArtifactPath("x46", dir)
    table(s, dir, "documents")
      .select(col("doc_id"), col("n_chars"), pmod(col("doc_id"), lit(32)).as("shard_key"))
      .write.format("graftshard")
      .option("partitionKey", "shard_key").option("sortWithinShards", "doc_id")
      .mode("overwrite").save(out)
    val w = Window.partitionBy(col("shard_key")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val ws = Window.partitionBy(col("shard_key")).orderBy(col("doc_id"))
    s.read.format("graftshard").load(out)
      .select(col("doc_id"), col("shard_key"),
        sum(col("n_chars")).over(w).as("run_chars"),
        row_number().over(ws).cast("long").as("seq"))
  }

  /** The row-level-operations tier end to end: DELETE and UPDATE with
    * predicates the metadata-only rule CANNOT prove file-aligned, so
    * both run as distributed copy-on-write rewrites
    * ([[graft.sources.v2.GraftShardRowLevelOperation]] — Spark's
    * group-based ReplaceData over our V2 scan/write pair). Candidate
    * selection is manifest-stats file skipping: the table is written
    * range-clustered on doc_id, so a 100 TB DELETE of one id slice
    * rewrites only the files whose stats may contain it; untouched
    * files carry over byte-identical with their manifest entries
    * (GraftShardRowLevelSpec pins that, the write-write conflict
    * check, and that provable deletes still go metadata-only). */
  private def x47(s: SparkSession, dir: String): DataFrame = {
    val cat = ensureGraftCatalog(s, dir)
    s.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.x47")
    s.sql(s"DROP TABLE IF EXISTS $cat.x47.docs")
    table(s, dir, "documents").select("doc_id", "n_chars", "source")
      .repartitionByRange(8, col("doc_id"))
      .writeTo(s"$cat.x47.docs").using("graftshard").create()
    // neither predicate is provable from (min,max) stats on any file:
    // both rewrites go through the copy-on-write tier
    s.sql(s"DELETE FROM $cat.x47.docs WHERE doc_id % 7 = 3")
    s.sql(s"UPDATE $cat.x47.docs SET n_chars = n_chars + 1000 WHERE doc_id % 5 = 0")
    s.table(s"$cat.x47.docs")
  }

  /** The bucket-sorted layout: x44's zero-exchange bucketed join, with
    * BOTH corpora also written `sortWithinShards` on their raw ids (the
    * write resolves the `bucket` transform through the catalog's
    * FunctionCatalog and delivers rows clustered by bucket, sorted by
    * (bucket, id) — every shard file one sorted run). The scan reports
    * the per-partition ordering, so the storage-partitioned MERGE join
    * on the raw ids skips its SortExecs too: zero exchange AND zero
    * sort for the id-aligned join of two 100 TB corpora — the full
    * join cost paid once at write time (GraftCatalogSpec pins both
    * plan absences and the honest degradation on unsorted appends). */
  private def x48(s: SparkSession, dir: String): DataFrame = {
    val cat = ensureGraftCatalog(s, dir)
    s.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.x48")
    s.sql(s"DROP TABLE IF EXISTS $cat.x48.docs")
    s.sql(s"DROP TABLE IF EXISTS $cat.x48.embs")
    s.sql(s"""CREATE TABLE $cat.x48.docs (doc_id BIGINT, n_chars BIGINT, lang STRING)
      USING graftshard PARTITIONED BY (bucket(16, doc_id))""")
    s.sql(s"""CREATE TABLE $cat.x48.embs (vec_id BIGINT, label INT)
      USING graftshard PARTITIONED BY (bucket(16, vec_id))""")
    table(s, dir, "documents").select("doc_id", "n_chars", "lang")
      .writeTo(s"$cat.x48.docs").option("sortWithinShards", "doc_id").append()
    table(s, dir, "embeddings").select("vec_id", "label")
      .writeTo(s"$cat.x48.embs").option("sortWithinShards", "vec_id").append()
    s.sql(s"""SELECT d.doc_id, d.n_chars, d.lang, e.label
      FROM $cat.x48.docs d JOIN $cat.x48.embs e ON d.doc_id = e.vec_id""")
  }

  /** x47's statement pair under the MERGE-ON-READ tier
    * (`spark.graftshard.rowLevel.mode=merge-on-read` —
    * [[graft.sources.v2.GraftShardDeltaOperation]]): the same unaligned
    * DELETE + UPDATE commit as delete-vector sidecars and insert files
    * instead of rewriting candidates — the KB-commit-on-TB-file trade —
    * and the same oracle must hold (the two tiers are answer-equivalent
    * BY CONTRACT; GraftShardMergeOnReadSpec pins the mechanics: no
    * shard file touched, vector merge, stats-surface refusals,
    * compaction purge). */
  private def x51(s: SparkSession, dir: String): DataFrame = {
    val cat = ensureGraftCatalog(s, dir)
    s.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.x51")
    s.sql(s"DROP TABLE IF EXISTS $cat.x51.docs")
    table(s, dir, "documents").select("doc_id", "n_chars", "source")
      .repartitionByRange(8, col("doc_id"))
      .writeTo(s"$cat.x51.docs").using("graftshard").create()
    s.conf.set("spark.graftshard.rowLevel.mode", "merge-on-read")
    try {
      s.sql(s"DELETE FROM $cat.x51.docs WHERE doc_id % 7 = 3")
      s.sql(s"UPDATE $cat.x51.docs SET n_chars = n_chars + 1000 WHERE doc_id % 5 = 0")
    } finally s.conf.unset("spark.graftshard.rowLevel.mode")
    s.table(s"$cat.x51.docs")
  }

  /** Change data feed end to end: the corpus lands in two commits
    * (evens, then odds), a merge-on-read DELETE knocks out `%7 = 0`,
    * and the feed over the whole range returns the EXACT row-level
    * delta — the appended odds as inserts, the MoR vector delta as
    * deletes; a doc both appended and deleted inside the range reports
    * BOTH events (the oracle's two UNION branches overlap on exactly
    * those). At 100 TB, incremental consumers (the dedup band registry,
    * index refresh) re-read only what changed instead of diffing two
    * corpus-sized snapshots ([[graft.sources.v2.GraftShardChanges]];
    * GraftShardChangesSpec pins classification, the CoW refusal, and
    * the retention horizon). */
  private def x55(s: SparkSession, dir: String): DataFrame = {
    val cat = ensureGraftCatalog(s, dir)
    s.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.x55")
    s.sql(s"DROP TABLE IF EXISTS $cat.x55.docs")
    val docs = table(s, dir, "documents").select("doc_id", "lang", "n_chars")
    docs.where(col("doc_id") % 2 === 0).repartitionByRange(4, col("doc_id"))
      .writeTo(s"$cat.x55.docs").using("graftshard").create()
    val tableDir = s"${s.conf.get(s"spark.sql.catalog.$cat.warehouse")}/x55/docs"
    val from = graft.sources.v2.ShardFormat.readManifest(tableDir).get.version
    docs.where(col("doc_id") % 2 === 1).repartitionByRange(4, col("doc_id"))
      .writeTo(s"$cat.x55.docs").append()
    s.conf.set("spark.graftshard.rowLevel.mode", "merge-on-read")
    try s.sql(s"DELETE FROM $cat.x55.docs WHERE doc_id % 7 = 0")
    finally s.conf.unset("spark.graftshard.rowLevel.mode")
    s.read.format("graftshard").option("changesFrom", from).load(tableDir)
      .select("doc_id", "lang", "n_chars", "_change_type")
  }

  /** Schema evolution end to end: ADD COLUMN is metadata-only (v2
    * shard files are self-describing, so old files null-fill the new
    * column at read time — no rewrite), then the row-level tier FILLS
    * it for a slice via copy-on-write UPDATE. The oracle replays the
    * fill as a CASE over the source table. GraftShardSchemaEvolutionSpec
    * pins the mechanics (no file touched by ALTER, tombstoned re-adds,
    * time-travel keeps the old schema, stats surfaces stay sound). */
  private def x49(s: SparkSession, dir: String): DataFrame = {
    val cat = ensureGraftCatalog(s, dir)
    s.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.x49")
    s.sql(s"DROP TABLE IF EXISTS $cat.x49.docs")
    table(s, dir, "documents").select("doc_id", "n_chars")
      .repartitionByRange(4, col("doc_id"))
      .writeTo(s"$cat.x49.docs").using("graftshard").create()
    s.sql(s"ALTER TABLE $cat.x49.docs ADD COLUMN score BIGINT")
    s.sql(s"UPDATE $cat.x49.docs SET score = n_chars * 2 WHERE doc_id % 3 = 0")
    s.table(s"$cat.x49.docs")
  }

  /** Compaction (OPTIMIZE) end to end: the documents corpus lands in a
    * keyed SORTED table via three sorted-declared appends (the
    * micro-batch ingestion shape — each append adds one sorted run per
    * key, which keeps `sortedBy` but suspends the scan's ordering
    * report), then [[graft.sources.v2.GraftShardMaintenance.compact]]
    * k-way merges each key back to ONE sorted file, and the x43/x46
    * window contract runs over the result — zero exchange AND zero
    * sort again, proving the merge preserved both layout halves.
    * GraftShardCompactionSpec pins mechanics; the oracle prices the
    * window's answers. */
  private def x50(s: SparkSession, dir: String): DataFrame = {
    val out = Q.tmpArtifactPath("x50", dir) +
      s"_${java.util.UUID.randomUUID().toString.take(8)}"
    val docs = table(s, dir, "documents")
      .select(col("doc_id"), col("n_chars"), pmod(col("doc_id"), lit(16)).as("shard_key"))
    def slice(m: Int, mode: String): Unit =
      docs.where(pmod(col("doc_id"), lit(3)) === m)
        .write.format("graftshard")
        .option("partitionKey", "shard_key").option("sortWithinShards", "doc_id")
        .mode(mode).save(out)
    slice(0, "overwrite"); slice(1, "append"); slice(2, "append")
    graft.sources.v2.GraftShardMaintenance.compact(s, out)
    val w = Window.partitionBy(col("shard_key")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val ws = Window.partitionBy(col("shard_key")).orderBy(col("doc_id"))
    s.read.format("graftshard").load(out)
      .select(col("doc_id"), col("shard_key"),
        sum(col("n_chars")).over(w).as("run_chars"),
        row_number().over(ws).cast("long").as("seq"))
  }

  /** Aggregate pushdown through `graftshard`: per-shard-key counts and
    * id ranges answered ENTIRELY from the manifest — the scan opens
    * ZERO shard files (GraftShardSourceSpec proves it by deleting them).
    * `maybe_chars` is nullable, so count(maybe_chars) exercises the
    * per-file null-count stats, not just row totals. At 100 TB this is
    * `count(*)`-from-metadata: the difference between a full corpus
    * read and one driver-side manifest lookup. */
  private def x42(s: SparkSession, dir: String): DataFrame = {
    val out = Q.tmpArtifactPath("x42", dir)
    table(s, dir, "documents")
      .select(col("doc_id"),
        when(pmod(col("n_chars"), lit(3)) =!= 0, col("n_chars")).as("maybe_chars"),
        pmod(col("doc_id"), lit(16)).as("shard_key"))
      .repartition(col("shard_key"))
      .write.format("graftshard").option("partitionKey", "shard_key")
      .mode("overwrite").save(out)
    s.read.format("graftshard").load(out)
      .groupBy("shard_key")
      .agg(count(lit(1)).as("n_rows"), count(col("maybe_chars")).as("n_chars_nonnull"),
        min(col("doc_id")).as("min_doc"), max(col("doc_id")).as("max_doc"))
  }

  /** SUM pushdown from the manifest (x42's shape plus sums): per-file
    * EXACT sums are recorded at write time (dropped on overflow — a
    * lying sum is worse than none), so grouped sum/count/min/max
    * rollups are answered entirely from one driver-side manifest read —
    * zero file opens (GraftShardSourceSpec proves it by deleting the
    * shard files; per-group AND total overflow refuse at plan time).
    * At 100 TB this turns corpus-level accounting queries (total
    * chars/tokens per shard) into metadata lookups. */
  private def x52(s: SparkSession, dir: String): DataFrame = {
    val out = Q.tmpArtifactPath("x52", dir)
    table(s, dir, "documents")
      .select(col("doc_id"),
        col("n_chars"),
        when(pmod(col("n_chars"), lit(3)) =!= 0, col("n_chars")).as("maybe_chars"),
        pmod(col("doc_id"), lit(16)).as("shard_key"))
      .repartition(col("shard_key"))
      .write.format("graftshard").option("partitionKey", "shard_key")
      .mode("overwrite").save(out)
    s.read.format("graftshard").load(out)
      .groupBy("shard_key")
      .agg(count(lit(1)).as("n_rows"),
        sum(col("n_chars")).as("sum_chars"),
        sum(col("maybe_chars")).as("sum_maybe"),
        min(col("doc_id")).as("min_doc"), max(col("doc_id")).as("max_doc"))
  }

  /** Z-order clustering end to end: documents written
    * `zorderBy=doc_id,n_chars` (the write range-partitions + sorts by
    * the Morton interleave via the catalog's `zorder` function), then a
    * 2-D box predicate — which prunes files on BOTH dimensions from the
    * manifest's now-tight min/max boxes, where a 1-D sort gives useless
    * full-range stats on the second column (GraftShardZOrderSpec pins
    * the pruning asymmetry against the 1-D control). At 100 TB this is
    * multi-column data skipping from layout alone — Delta's OPTIMIZE
    * ZORDER idea as a declarative write property. */
  private def x53(s: SparkSession, dir: String): DataFrame = {
    val cat = ensureGraftCatalog(s, dir)
    s.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.x53")
    s.sql(s"DROP TABLE IF EXISTS $cat.x53.docs")
    table(s, dir, "documents").select("doc_id", "n_chars", "source")
      .writeTo(s"$cat.x53.docs").using("graftshard")
      .option("zorderBy", "doc_id,n_chars")
      .option("writePartitions", "16")
      .create()
    s.table(s"$cat.x53.docs")
      .where(col("doc_id") % 2 === 0 &&
        col("doc_id") < 3000 && col("n_chars").between(200, 900))
  }

  /** String-stats file skipping end to end: documents clustered by
    * `lang` (the canonical corpus layout), so each shard file's manifest
    * entry carries EXACT lang/source bounds ([[graft.sources.v2
    * .ShardFormat.StrStatsMaxBytes]] cap; the long `text` column drops
    * its bounds by the same no-lie rule and costs nothing) — the
    * lang-equality + source-prefix predicate then prunes whole files at
    * plan time AND is absorbed row-level by the source. At 100 TB,
    * `lang = 'en'` over a lang-clustered corpus reads only the English
    * shards — the curation filter as a layout property, no partition
    * columns needed (GraftShardSourceSpec pins pruning, exactness, and
    * the metadata-DELETE-on-strings consequence). */
  private def x54(s: SparkSession, dir: String): DataFrame = {
    val out = Q.tmpArtifactPath("x54", dir)
    table(s, dir, "documents")
      .select(col("doc_id"), col("lang"), col("source"), col("n_chars"), col("text"))
      .repartition(col("lang"))
      .write.format("graftshard").mode("overwrite").save(out)
    s.read.format("graftshard").load(out)
      .where(col("lang") === "en" && col("source").startsWith("src1") &&
        col("n_chars") >= 100)
      .select("doc_id", "lang", "source", "n_chars")
  }

  /** Opt-in chunk compression end to end: the corpus written
    * `compression=deflate` (variable-width chunks deflated at level 1
    * when smaller — measured 3.76× on salted text, SCALE.md; numerics
    * stay raw) and read back through a text-bearing filter — the
    * driver's oracle hash proves the deflate/inflate roundtrip is
    * byte-exact, not just row-countable. At 100 TB this is the
    * storage×IO lever: ~27 TB at rest, and every skipped chunk skips
    * COMPRESSED bytes. */
  private def x56(s: SparkSession, dir: String): DataFrame = {
    val out = Q.tmpArtifactPath("x56", dir)
    table(s, dir, "documents")
      .select("doc_id", "text", "lang", "n_chars")
      .repartition(4)
      .write.format("graftshard").option("compression", "deflate")
      .mode("overwrite").save(out)
    s.read.format("graftshard").load(out)
      .where(col("n_chars") >= 500 && col("lang") =!= "de")
      .select("doc_id", "text", "lang", "n_chars")
  }

  /** Compression as a TABLE property, through the full lifecycle a
    * 100 TB table actually lives: a deflate-recorded write, an
    * OPTIONLESS append (ingestion jobs don't re-state table config —
    * the manifest property makes the appended files deflate anyway),
    * then compaction (the routine OPTIMIZE pass) merging the small
    * files WITHOUT decaying them to raw. The read back is filtered and
    * hash-checked against DuckDB, so the property's whole
    * record→inherit→preserve chain is proven byte-exact; the at-rest
    * size ratio itself is pinned in GraftShardCompactionSpec. */
  private def x57(s: SparkSession, dir: String): DataFrame = {
    val out = Q.tmpArtifactPath("x57", dir) +
      s"_${java.util.UUID.randomUUID().toString.take(8)}"
    val docs = table(s, dir, "documents").select("doc_id", "text", "lang", "n_chars")
    docs.where(col("doc_id") % 2 === 0).repartition(4)
      .write.format("graftshard").option("compression", "deflate")
      .mode("overwrite").save(out)
    // the ingestion append: no option — the table property carries it
    docs.where(col("doc_id") % 2 === 1).repartition(4)
      .write.format("graftshard").mode("append").save(out)
    graft.sources.v2.GraftShardMaintenance.compact(s, out)
    val m = graft.sources.v2.ShardFormat.readManifest(out).get
    require(m.compression.contains("deflate"),
      s"x57: compaction dropped the compression property (${m.compression})")
    s.read.format("graftshard").load(out)
      .where(col("n_chars") >= 300 && col("lang") =!= "ja")
      .select("doc_id", "text", "lang", "n_chars")
  }

  /** Dictionary chunk codec end to end (`compression=dict`): the
    * low-cardinality string columns (lang, source — exactly the
    * curation-filter currency) dictionary-encode per chunk with a
    * byte-copy decode (no inflate tax), diverse columns bail to raw
    * (the smallest-encoding-wins rule), and a string-predicate read
    * over the mixed-codec file hash-matches DuckDB. The size win and
    * the deflate-mode composition (dict as a candidate) are pinned in
    * GraftShardColumnarSpec; the probe prices the scan tax. */
  private def x58(s: SparkSession, dir: String): DataFrame = {
    val out = Q.tmpArtifactPath("x58", dir)
    table(s, dir, "documents")
      .select("doc_id", "lang", "source", "n_chars", "text")
      .repartition(4)
      .write.format("graftshard").option("compression", "dict")
      .mode("overwrite").save(out)
    val m = graft.sources.v2.ShardFormat.readManifest(out).get
    require(m.compression.contains("dict"), s"x58: property not recorded (${m.compression})")
    s.read.format("graftshard").load(out)
      .where(col("lang").isin("en", "fr") && col("source").startsWith("src1") &&
        col("n_chars") >= 200)
      .select("doc_id", "lang", "source", "n_chars", "text")
  }

  /** Run-length chunk codec over the KEYED SORTED layout: each shard
    * file's key column is CONSTANT (one-key-per-file invariant) and
    * stores as ~12 bytes per 64k-row group instead of 512 KiB — the
    * at-rest layouts and the codec compound (`compression=dict` enables
    * the no-inflate-tax encodings: dictionary for strings, RLE for
    * every column; random/increasing columns bail to raw under the
    * smallest-wins rule). The same zero-exchange zero-sort window as
    * x46 then runs over the encoded table and must be byte-exact — at
    * 100 TB the key/flag/enum columns of every keyed corpus are pure
    * reclaimed redundancy (GraftShardColumnarSpec prices the win and
    * pins the bail-outs and corrupt-chunk errors). */
  private def x61(s: SparkSession, dir: String): DataFrame = {
    val out = Q.tmpArtifactPath("x61", dir)
    table(s, dir, "documents")
      .select(col("doc_id"), col("n_chars"), col("lang"),
        pmod(col("doc_id"), lit(32)).as("shard_key"))
      .write.format("graftshard")
      .option("partitionKey", "shard_key").option("sortWithinShards", "doc_id")
      .option("compression", "dict")
      .mode("overwrite").save(out)
    val w = Window.partitionBy(col("shard_key")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val ws = Window.partitionBy(col("shard_key")).orderBy(col("doc_id"))
    s.read.format("graftshard").load(out)
      .select(col("doc_id"), col("shard_key"), col("lang"),
        sum(col("n_chars")).over(w).as("run_chars"),
        row_number().over(ws).cast("long").as("seq"))
  }

  /** Per-file BLOOM-FILTER sidecars (`bloomColumns` table property) —
    * the file-skipping tier min/max stats cannot give: equality/IN
    * point lookups on UNSORTED high-cardinality columns. The corpus
    * lands as two parity-interleaved commits (every file's id range
    * overlaps every other's, so the stats tier can prove NOTHING and
    * only the blooms prune), the append is optionless (the property
    * inherits), and the probes cover both hash paths: the integral
    * IN-list (value-as-long hashing) and a string-key equality (UTF-8
    * byte hashing). At 100 TB this is `WHERE doc_id = x` touching a
    * handful of shard files instead of all of them — one small sidecar
    * read per task, executor-side, never a driver loop
    * (GraftShardBloomSpec pins the skip really happening — a corrupted
    * bloom-excluded file is never opened — plus fpp bounds, rename/
    * widen survival, vacuum, and the MoR false-positive-only path). */
  private def x62(s: SparkSession, dir: String): DataFrame = {
    val out = Q.tmpArtifactPath("x62", dir)
    val docs = table(s, dir, "documents")
      .select(col("doc_id"), col("lang"), col("source"), col("n_chars"),
        concat(lit("k:"), col("doc_id")).as("doc_key"))
    docs.where(col("doc_id") % 2 === 0).coalesce(2)
      .write.format("graftshard").option("bloomColumns", "doc_id,doc_key")
      .mode("overwrite").save(out)
    docs.where(col("doc_id") % 2 === 1).coalesce(2)
      .write.format("graftshard").mode("append").save(out)
    val m = graft.sources.v2.ShardFormat.readManifest(out).get
    require(m.bloomColumns == Seq("doc_id", "doc_key"),
      s"x62: property not recorded/inherited (${m.bloomColumns})")
    require(m.files.forall(_.bloom.isDefined),
      "x62: a committed file is missing its bloom sidecar")
    val t = s.read.format("graftshard").load(out)
    t.where(col("doc_id").isin(3L, 42L, 256L, 417L, 1000000007L))
      .select("doc_id", "lang", "source", "n_chars")
      .unionAll(
        t.where(col("doc_key").isin("k:256", "k:1000001"))
          .select("doc_id", "lang", "source", "n_chars"))
  }

  /** UPSERT ingestion via EQUALITY DELETES (Iceberg v2's idea): the
    * CDC batch — changed values for every doc_id%5 doc plus brand-new
    * docs — merges into the corpus as ONE O(batch) append commit (its
    * insert files + a sidecar of the batch's exact keys, registered as
    * "delete every OLDER row with these keys"). Zero scan, zero
    * rewrite of the existing table; the gate reads back through the
    * LIVE anti-filter (the read-side tax compaction later retires) and
    * must be byte-exact vs the merged oracle. At 100 TB this is the
    * difference between an upsert costing O(batch) and costing a
    * MERGE's shuffle-join over the whole corpus
    * (GraftShardUpsertSpec pins stacking, compaction apply+retire,
    * pushdown refusals, streaming epochs, and the refusal surfaces). */
  private def x63(s: SparkSession, dir: String): DataFrame = {
    val out = Q.tmpArtifactPath("x63", dir) +
      s"_${java.util.UUID.randomUUID().toString.take(8)}"
    val docs = table(s, dir, "documents")
      .select(col("doc_id"), col("lang"), col("n_chars").cast("long").as("n_chars"))
    docs.coalesce(2).write.format("graftshard").mode("overwrite").save(out)
    // the CDC batch: updated values for existing keys + new documents
    docs.where(col("doc_id") % 5 === 0)
      .select(col("doc_id"), col("lang"), (col("n_chars") * 1000L).as("n_chars"))
      .unionAll(docs.where(col("doc_id") % 7 === 0)
        .select((col("doc_id") + 1000000L).as("doc_id"), col("lang"), col("n_chars")))
      .coalesce(2)
      .write.format("graftshard").mode("append").option("upsertKey", "doc_id").save(out)
    val m = graft.sources.v2.ShardFormat.readManifest(out).get
    require(m.operation == "upsert" && m.equalityDeletes.nonEmpty,
      s"x63: upsert commit not registered (${m.operation}, ${m.equalityDeletes})")
    s.read.format("graftshard").load(out)
  }

  /** ROLLBACK as a NEW commit (`CALL system.rollback` — the Iceberg
    * rollback_to_snapshot shape): the good corpus lands, then a bad
    * backfill appends corrupted duplicates AND a row-level DELETE
    * wounds the original rows; one metadata-only rollback commit
    * republishes the good snapshot's state — zero bytes rewritten (the
    * old shard files are still on disk; vacuum keeps every retained
    * snapshot's files live), history preserved (the bad commits stay
    * time-travelable until expired), and the read-back must be
    * byte-exact vs the pre-damage oracle. At 100 TB this is the
    * operational undo after a bad job: O(manifest) driver cost instead
    * of restoring from a copy (GraftShardRollbackSpec pins the
    * resurrect-deleted-rows path, expired/missing-file refusals,
    * generation turnover, and stream-epoch carry-over). */
  private def x64(s: SparkSession, dir: String): DataFrame = {
    val cat = ensureGraftCatalog(s, dir)
    s.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.x64")
    s.sql(s"DROP TABLE IF EXISTS $cat.x64.docs")
    val docs = table(s, dir, "documents").select("doc_id", "lang", "source", "n_chars")
    docs.where(col("lang") =!= "de")
      .writeTo(s"$cat.x64.docs").using("graftshard").create()
    val tdir = Q.tmpArtifactPath("graftcat_wh", dir) + "/x64/docs"
    val good = graft.sources.v2.ShardFormat.readManifest(tdir).get.version
    // the bad backfill: corrupted duplicates, then row-level damage
    docs.where(col("lang") =!= "de")
      .select((col("doc_id") + 5000000L).as("doc_id"), col("lang"),
        col("source"), (col("n_chars") * 1000).as("n_chars"))
      .writeTo(s"$cat.x64.docs").append()
    s.sql(s"DELETE FROM $cat.x64.docs WHERE n_chars < 500")
    val report = s.sql(s"CALL $cat.system.rollback('x64.docs', ${good}L)").collect()
    require(report.head.getLong(1) == good && report.head.getLong(2) > good,
      s"x64: rollback report wrong (${report.head})")
    val m = graft.sources.v2.ShardFormat.readManifest(tdir).get
    require(m.operation == "rollback", s"x64: operation not tagged (${m.operation})")
    s.table(s"$cat.x64.docs")
  }

  /** TopN pushdown (`ORDER BY id DESC LIMIT k` as a FILE CUT): the
    * corpus lands range-clustered (the time/id-clustered shape every
    * append-mostly 100 TB table has), and the "latest 100" query plans
    * a handful of trailing shards instead of all of them — the
    * manifest-bounds prefix cut keeps a provable SUPERSET of the top k
    * and Spark's TakeOrderedAndProject finishes, so the gate is
    * byte-exact while the plan-level requires pin that the cut really
    * planned fewer files (GraftShardTopNSpec pins never-opened via a
    * corrupted excluded file, null ordering on both sides, MoR
    * conservatism, string bounds, and the refusal surfaces). */
  private def x65(s: SparkSession, dir: String): DataFrame = {
    val out = Q.tmpArtifactPath("x65", dir)
    table(s, dir, "documents").select("doc_id", "lang", "source", "n_chars")
      .repartitionByRange(8, col("doc_id"))
      .write.format("graftshard").mode("overwrite").save(out)
    val q = s.read.format("graftshard").load(out)
      .orderBy(col("doc_id").desc).limit(100)
    val desc = q.queryExecution.executedPlan.collect {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
        b.scan.description()
    }.head
    require(desc.contains("topN=100 by doc_id DESC"), s"x65: topN not pushed: $desc")
    val cut = "files=(\\d+)/(\\d+)".r.findFirstMatchIn(desc).get
    require(cut.group(1).toInt < cut.group(2).toInt, s"x65: no file cut: $desc")
    q
  }

  /** Metadata tables (`ns.t.snapshots` — the Iceberg inspection-face
    * idea): the table's commit history answered from the MANIFESTS
    * alone through a driver-local scan, composable with full SQL. The
    * gate drives a create → two deterministic appends → rollback
    * lifecycle and reads the history back — versions, operation tags,
    * file counts, and row counts must all be byte-exact vs the oracle's
    * reconstruction from the source corpus. At 100 TB this is "what did
    * the 3am job commit?" answered with zero shard files opened
    * (GraftShardMetadataTablesSpec pins the `files` face, freshness,
    * expire shrinkage, and real-table shadowing). */
  private def x66(s: SparkSession, dir: String): DataFrame = {
    val cat = ensureGraftCatalog(s, dir)
    s.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.x66")
    s.sql(s"DROP TABLE IF EXISTS $cat.x66.docs")
    s.sql(s"CREATE TABLE $cat.x66.docs (doc_id BIGINT, lang STRING, n_chars BIGINT) USING graftshard")
    val docs = table(s, dir, "documents")
      .select(col("doc_id"), col("lang"), col("n_chars").cast("long").as("n_chars"))
    docs.where(col("doc_id") % 2 === 0).repartition(2).writeTo(s"$cat.x66.docs").append()
    docs.where(col("doc_id") % 2 === 1).repartition(2).writeTo(s"$cat.x66.docs").append()
    s.sql(s"CALL $cat.system.rollback('x66.docs', 2L)").collect()
    s.table(s"$cat.x66.docs.snapshots")
      .select(col("version"), col("operation"), col("files"), col("rows").as("n_rows"))
  }

  /** PARTITION EVOLUTION (`CALL system.set_partitioning`): era 1 of the
    * corpus lands UNPARTITIONED; the spec changes to identity(lang_key)
    * as a metadata-only commit (zero rows moved — at 100 TB re-keying
    * is an explicit rewrite, never a side effect); era 2 appends under
    * the new spec (one key per file, write-clustered by Spark). The
    * filtered read over the mixed-era table must be byte-exact — old
    * files' cleared key values cost nothing because pruning runs on
    * column STATS, which survive evolution untouched
    * (GraftShardPartitionEvolutionSpec pins the honest degradation of
    * SPJ/grouped-pushdown on mixed tables, their return after a
    * rewrite, compaction pool separation, and the refusals). */
  private def x67(s: SparkSession, dir: String): DataFrame = {
    val cat = ensureGraftCatalog(s, dir)
    s.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.x67")
    s.sql(s"DROP TABLE IF EXISTS $cat.x67.docs")
    val docs = table(s, dir, "documents")
      .select(col("doc_id"), col("lang"), col("n_chars").cast("long").as("n_chars"),
        pmod(col("doc_id"), lit(4)).as("lang_key"))
    docs.where(col("doc_id") % 2 === 0)
      .repartition(2).writeTo(s"$cat.x67.docs").using("graftshard").create()
    val row = s.sql(s"CALL $cat.system.set_partitioning('x67.docs', 'lang_key')")
      .collect().head
    require(row.getString(0) == "lang_key", s"x67: wrong spec (${row})")
    docs.where(col("doc_id") % 2 === 1).writeTo(s"$cat.x67.docs").append()
    val m = graft.sources.v2.ShardFormat
      .readManifest(Q.tmpArtifactPath("graftcat_wh", dir) + "/x67/docs").get
    require(m.partitioning.contains(graft.sources.v2.ShardFormat.IdentityPart("lang_key")) &&
        m.files.exists(_.partition.isDefined) && m.files.exists(_.partition.isEmpty),
      s"x67: expected a mixed-era keyed table (${m.partitioning}, ${m.files.size} files)")
    s.table(s"$cat.x67.docs").where(col("n_chars") >= 200 && col("lang") =!= "de")
  }

  /** DYNAMIC PARTITION OVERWRITE (`overwritePartitions()`): the corpus
    * lands keyed by doc_id%4; one partition is re-materialized with
    * corrected values in a single commit that replaces EXACTLY that
    * key's files (resolved at commit time from the written files' keys
    * — never predicted) and carries every other partition's files by
    * identity. The daily re-materialization shape at 100 TB: fixing
    * one day costs one partition, not a table rewrite, and readers of
    * other partitions are never disturbed. Byte-exact vs the oracle's
    * CASE reconstruction (GraftShardDynamicOverwriteSpec pins the
    * manifest mechanics, CDF face, empty-input no-op, and the
    * unpartitioned/mixed-era refusals). */
  private def x68(s: SparkSession, dir: String): DataFrame = {
    val cat = ensureGraftCatalog(s, dir)
    s.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.x68")
    s.sql(s"DROP TABLE IF EXISTS $cat.x68.docs")
    val docs = table(s, dir, "documents")
      .select(col("doc_id"), col("lang"), col("n_chars").cast("long").as("n_chars"),
        pmod(col("doc_id"), lit(4)).as("part_key"))
    docs.writeTo(s"$cat.x68.docs").using("graftshard")
      .partitionedBy(col("part_key")).create()
    docs.where(col("part_key") === 2)
      .select(col("doc_id"), col("lang"), (col("n_chars") * 10L).as("n_chars"),
        col("part_key"))
      .writeTo(s"$cat.x68.docs").overwritePartitions()
    val m = graft.sources.v2.ShardFormat
      .readManifest(Q.tmpArtifactPath("graftcat_wh", dir) + "/x68/docs").get
    require(m.operation == "replace", s"x68: wrong operation tag (${m.operation})")
    s.table(s"$cat.x68.docs")
  }

  /** COLUMNAR BATCH READS: the corpus lands as v4 shards (mixed chunk
    * codecs across three commits) and a plain projection reads back
    * through the batch path — row groups decode COLUMN-AT-A-TIME into
    * reused vectors, whole-stage codegen consumes the batches, and no
    * per-row InternalRow ever exists (the plan-level require pins
    * ColumnarToRow actually engaging). Byte-exact vs the oracle; the
    * measured win is PROBE-COLREAD's 2.29× numeric / 1.39×
    * string-heavy, 1.18-1.22× filtered, 1.26× embedding
    * (GraftShardColumnarReadSpec pins type/null/codec
    * exactness and every row-path fallback; the source props A/B both
    * paths bit-for-bit on random payloads). */
  private def x69(s: SparkSession, dir: String): DataFrame = {
    val out = Q.tmpArtifactPath("x69", dir)
    val docs = table(s, dir, "documents")
      .select(col("doc_id"), col("lang"), col("source"),
        col("n_chars").cast("long").as("n_chars"))
    docs.where(col("doc_id") % 3 === 0).coalesce(1)
      .write.format("graftshard").mode("overwrite").save(out)
    docs.where(col("doc_id") % 3 === 1).coalesce(1)
      .write.format("graftshard").option("compression", "dict").mode("append").save(out)
    docs.where(col("doc_id") % 3 === 2).coalesce(1)
      .write.format("graftshard").option("compression", "deflate").mode("append").save(out)
    val q = s.read.format("graftshard").load(out)
    require(q.queryExecution.executedPlan.toString.contains("ColumnarToRow"),
      s"x69: plain scan must engage the batch path:\n${q.queryExecution.executedPlan}")
    q
  }

  /** FILTERED + EMBEDDING columnar batch read (round 13): the corpus —
    * including its `array<float>` embedding column — lands as v4
    * shards, and a SELECTIVE scan (a uniform label predicate that
    * forces batch compaction plus a clustered vec_id range that group
    * stats skip) stays on the batch path: absorbed predicates evaluate
    * against the decoded vectors, survivors compact, the embedding
    * payload decodes straight into an ArrayType vector. This is
    * precisely the filtered-scan and embedding-scan shape a 100 TB
    * curation pass runs all day — before round 13 ANY pushed filter or
    * array column forfeited vectorization (the round-12 verdict's #2
    * gap). Plan-level requires pin both the batch path engaging AND the
    * filters being absorbed by the scan. Byte-exact: element extraction
    * and float→double widening are order-free, so the DuckDB oracle
    * matches bit for bit. */
  private def x70(s: SparkSession, dir: String): DataFrame = {
    val out = Q.tmpArtifactPath("x70", dir)
    table(s, dir, "embeddings")
      .repartitionByRange(3, col("vec_id"))
      .write.format("graftshard").mode("overwrite").save(out)
    val q = s.read.format("graftshard").load(out)
      .where(col("label") < 7 && col("vec_id") >= 50L)
      .select(col("vec_id"), col("label"),
        element_at(col("embedding"), 1).cast("double").as("e1"),
        element_at(col("embedding"), 17).cast("double").as("e17"))
    val plan = q.queryExecution.executedPlan.toString
    require(plan.contains("ColumnarToRow"),
      s"x70: the filtered embedding scan must stay columnar:\n$plan")
    require(plan.contains("LessThan(label,7)") && plan.contains("GreaterThanOrEqual(vec_id,50)"),
      s"x70: both predicates must be absorbed by the scan:\n$plan")
    q
  }

  /** NDV SKETCHES → CBO BROADCAST (round 13): the corpus lands with
    * `ndvColumns = lang` — every shard file carries a ~300 B HLL of its
    * distinct lang values — and the scan rolls the selected files'
    * sketches into `ColumnStatistics.distinctCount`. Under CBO that is
    * what sizes `GROUP BY lang` at ~|langs| rows instead of
    * corpus-scale, flipping the join above it to BROADCAST (the
    * plan-level require). At 100 TB this is the difference between
    * shuffling the full fact table against a 5-row aggregate and
    * shipping 5 rows — a decision size-only estimation structurally
    * cannot make on intermediate relations
    * (GraftShardNdvSpec pins the estimate accuracy, the lifecycle, and
    * the flip with both sides over the size threshold). */
  private def x71(s: SparkSession, dir: String): DataFrame = {
    val dim = Q.tmpArtifactPath("x71_dim", dir)
    val fact = Q.tmpArtifactPath("x71_fact", dir)
    table(s, dir, "documents")
      .select(col("lang"), col("n_chars").cast("long").as("n_chars"))
      .coalesce(2)
      .write.format("graftshard").option("ndvColumns", "lang")
      .mode("overwrite").save(dim)
    table(s, dir, "documents")
      .select(col("doc_id"), col("lang"))
      .coalesce(2)
      .write.format("graftshard").mode("overwrite").save(fact)
    val cboWas = s.conf.get("spark.sql.cbo.enabled", "false")
    val thrWas = s.conf.get("spark.sql.autoBroadcastJoinThreshold")
    s.conf.set("spark.sql.cbo.enabled", "true")
    // small-SF tables fit under the default 10 MB threshold by SIZE
    // alone, which would make the assert vacuous — pin a threshold only
    // the NDV-sized aggregate (|langs| rows) can clear
    s.conf.set("spark.sql.autoBroadcastJoinThreshold", "2KB")
    try {
      val q = s.read.format("graftshard").load(fact)
        .join(s.read.format("graftshard").load(dim)
          .groupBy("lang").agg(sum("n_chars").as("lang_chars")), "lang")
        .select(col("doc_id"), col("lang"), col("lang_chars"))
      val plan = q.queryExecution.executedPlan.toString
      require(plan.contains("BroadcastHashJoin"),
        s"x71: NDV(lang) must size the aggregate under the threshold " +
          s"and broadcast it:\n$plan")
      require(!plan.contains("pushedAggregates"),
        s"x71: the GROUP BY must be a real aggregate (NDV-sized), not a " +
          s"manifest-answered pushdown — the gate would prove nothing:\n$plan")
      // materialize the RESULT under the pinned confs too, so the gate
      // hashes the broadcast plan's output, then restore
      q.localCheckpoint(eager = true)
    } finally {
      s.conf.set("spark.sql.cbo.enabled", cboWas)
      s.conf.set("spark.sql.autoBroadcastJoinThreshold", thrWas)
    }
  }

  /** RETROACTIVE ANALYZE (round 14): x71's NDV→CBO→broadcast shape,
    * but the dimension table is created WITHOUT `ndvColumns` — the
    * production "forgot to declare stats at create" table whose only
    * remedy used to be a data rewrite. `CALL system.analyze` backfills
    * per-file HLL (+KLL) sketches in one DISTRIBUTED pass and lands
    * them as a METADATA-ONLY commit (required in-query: zero data files
    * change, the version bumps once, and the pre-analyze plan did NOT
    * broadcast while the post-analyze plan does — the stats alone flip
    * the join). */
  private def x78(s: SparkSession, dir: String): DataFrame = {
    val cat = ensureGraftCatalog(s, dir)
    s.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.x78")
    s.sql(s"DROP TABLE IF EXISTS $cat.x78.dim")
    val fact = Q.tmpArtifactPath("x78_fact", dir)
    table(s, dir, "documents")
      .select(col("lang"), col("n_chars").cast("long").as("n_chars"))
      .coalesce(2).writeTo(s"$cat.x78.dim").using("graftshard").create()
    table(s, dir, "documents")
      .select(col("doc_id"), col("lang"))
      .coalesce(2)
      .write.format("graftshard").mode("overwrite").save(fact)
    val ddir = s"${s.conf.get(s"spark.sql.catalog.$cat.warehouse")}/x78/dim"
    val m0 = graft.sources.v2.ShardFormat.readManifest(ddir).get
    require(m0.ndvColumns.isEmpty && m0.files.forall(_.ndv.isEmpty),
      "x78: the dim table must start stat-less")
    val cboWas = s.conf.get("spark.sql.cbo.enabled", "false")
    val thrWas = s.conf.get("spark.sql.autoBroadcastJoinThreshold")
    s.conf.set("spark.sql.cbo.enabled", "true")
    s.conf.set("spark.sql.autoBroadcastJoinThreshold", "2KB")
    try {
      def q = s.read.format("graftshard").load(fact)
        .join(s.read.format("graftshard").load(ddir)
          .groupBy("lang").agg(sum("n_chars").as("lang_chars")), "lang")
        .select(col("doc_id"), col("lang"), col("lang_chars"))
      require(!q.queryExecution.executedPlan.toString.contains("BroadcastHashJoin"),
        "x78: without stats the 2KB threshold must keep a shuffle join — " +
          "otherwise the analyze flip below proves nothing")
      val rep = s.sql(s"CALL $cat.system.analyze('x78.dim', 'lang')").collect()
      require(rep.head.getLong(0) == m0.files.size.toLong,
        s"x78: expected every file analyzed, got ${rep.head.getLong(0)}")
      val m1 = graft.sources.v2.ShardFormat.readManifest(ddir).get
      require(m1.version == m0.version + 1 &&
        m1.files.map(_.name).toSet == m0.files.map(_.name).toSet,
        "x78: analyze must be a metadata-only commit")
      require(m1.files.forall(_.ndv.contains("lang")), "x78: sketches missing")
      val plan = q.queryExecution.executedPlan.toString
      require(plan.contains("BroadcastHashJoin"),
        s"x78: backfilled NDV must flip the join to broadcast:\n$plan")
      q.localCheckpoint(eager = true)
    } finally {
      s.conf.set("spark.sql.cbo.enabled", cboWas)
      s.conf.set("spark.sql.autoBroadcastJoinThreshold", thrWas)
    }
  }

  /** STRING-BUCKETED STORAGE-PARTITIONED JOIN (round 14): the dedup
    * REGISTRY layout at its natural key — a URL/fingerprint STRING,
    * which identity partitioning cannot hold (manifest partition
    * values are longs) but hash bucketing can: string keys hash
    * through the same `stringKeyRaw` the SQL-visible `bucket` overload
    * evaluates, so the writer's placement and Spark's co-partitioning
    * agree and a registry-vs-incoming join on the RAW STRING KEY plans
    * with ZERO exchange (required in-plan). At 100 TB this is the
    * every-batch dedup probe costing a co-located merge instead of
    * shuffling the registry. */
  private def x83(s: SparkSession, dir: String): DataFrame = {
    val cat = ensureGraftCatalog(s, dir)
    s.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.x83")
    s.sql(s"DROP TABLE IF EXISTS $cat.x83.registry")
    s.sql(s"DROP TABLE IF EXISTS $cat.x83.incoming")
    val docs = table(s, dir, "documents")
      .select(concat(lit("k:"), col("doc_id")).as("doc_key"),
        col("doc_id"), col("n_chars").cast("long").as("n_chars"))
    s.sql(s"""CREATE TABLE $cat.x83.registry (doc_key STRING, first_seen BIGINT)
      USING graftshard PARTITIONED BY (bucket(8, doc_key))""")
    s.sql(s"""CREATE TABLE $cat.x83.incoming (doc_key STRING, n_chars BIGINT)
      USING graftshard PARTITIONED BY (bucket(8, doc_key))""")
    docs.where(col("doc_id") % 2 === 0).select(col("doc_key"), col("doc_id").as("first_seen"))
      .writeTo(s"$cat.x83.registry").append()
    docs.select(col("doc_key"), col("n_chars"))
      .writeTo(s"$cat.x83.incoming").append()
    val confs = Seq(
      "spark.sql.sources.v2.bucketing.enabled" -> "true",
      "spark.sql.sources.v2.bucketing.pushPartValues.enabled" -> "true",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")
    val before = confs.map { case (k, _) => k -> s.conf.getOption(k) }
    confs.foreach { case (k, v) => s.conf.set(k, v) }
    try {
      val q = s.table(s"$cat.x83.incoming")
        .join(s.table(s"$cat.x83.registry"), "doc_key")
        .select(col("doc_key"), col("n_chars"), col("first_seen"))
      val plan = q.queryExecution.executedPlan.toString
      require(!plan.contains("Exchange"),
        s"x83: the string-bucket-aligned registry probe must not shuffle:\n$plan")
      q.localCheckpoint(eager = true)
    } finally before.foreach { case (k, v) =>
      v.fold(s.conf.unset(k))(s.conf.set(k, _)) }
  }

  /** DECIMAL SUM PUSHDOWN (round 14): the billing aggregate — `SUM` of
    * a money column per key — answered from the MANIFEST ALONE. The
    * writer already records exact per-file unscaled sums (unscaled
    * arithmetic IS decimal arithmetic at the column's fixed scale);
    * the scan now serves `sum(decimal(p<=18,s))` as Spark's own result
    * type decimal(p+10, s), accumulating in BigInteger (no
    * long-overflow ceiling; a decision-time guard proves the total
    * and every partition group fit p+10 digits). The proof is
    * physical: every shard file is DELETED after planning and the
    * answer must still come back — zero file opens, the revenue
    * dashboard query at 100 TB for the cost of a manifest read. */
  private def x82(s: SparkSession, dir: String): DataFrame = {
    val out = Q.tmpArtifactPath("x82", dir) +
      s"_${java.util.UUID.randomUUID().toString.take(8)}"
    val priced = table(s, dir, "lineitem").select(
      (col("l_orderkey") % 5).as("bucket"),
      ((col("l_orderkey") * 9176L + col("l_partkey") * 13L +
        col("l_quantity").cast("long") * 7L) % 100000L).as("cents"))
      .select(col("bucket"),
        // exact decimal construction via the string face (x77's idiom)
        expr("CAST(CONCAT(CAST(cents DIV 100 AS STRING), '.', " +
          "LPAD(CAST(cents % 100 AS STRING), 2, '0')) AS DECIMAL(12,2))")
          .as("price"))
    priced.repartition(col("bucket"))
      .write.format("graftshard").option("partitionKey", "bucket")
      .mode("overwrite").save(out)
    def q = s.read.format("graftshard").load(out)
      .groupBy("bucket").agg(sum(col("price")).as("sum_price"),
        count(lit(1)).as("n"))
      .select(col("bucket"),
        expr("CAST(sum_price * 100 AS BIGINT)").as("cents_sum"), col("n"))
    require(q.queryExecution.executedPlan.toString.contains("pushedAggregates"),
      s"x82: the decimal sum must push to the scan:\n${q.queryExecution.executedPlan}")
    // physical zero-file-open proof: the data files go away, the
    // manifest answers anyway
    Option(new java.io.File(out).listFiles()).getOrElse(Array.empty)
      .filter(_.getName.endsWith(".shard")).foreach(f => f.delete(): Unit)
    q
  }

  /** INCREMENTAL ROLLUP MAINTENANCE over the change feed (round 14):
    * the reason a 100 TB lake has CDF at all — a materialized
    * aggregate is paid for ONCE with a full pass, then every
    * downstream refresh applies only the day's delta: inserts add,
    * deletes subtract (signed aggregation), a full-outer join folds
    * the delta into the materialized state, groups that empty out
    * drop. The gate materializes a per-lang rollup of a base table,
    * mutates the base (an append + a merge-on-read DELETE), maintains
    * the rollup from `changesFrom` alone — REQUIRED in-query: the
    * delta feed is strictly smaller than the table, so the refresh
    * provably never rescans the corpus — and must equal the full
    * recompute byte for byte (the oracle replays the final state). */
  private def x81(s: SparkSession, dir: String): DataFrame = {
    val cat = ensureGraftCatalog(s, dir)
    s.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.x81")
    s.sql(s"DROP TABLE IF EXISTS $cat.x81.docs")
    val docs = table(s, dir, "documents")
      .select(col("doc_id"), col("lang"), col("n_chars").cast("long").as("n_chars"))
    docs.where(col("doc_id") % 3 === 0).repartitionByRange(4, col("doc_id"))
      .writeTo(s"$cat.x81.docs").using("graftshard").create()
    val tableDir = s"${s.conf.get(s"spark.sql.catalog.$cat.warehouse")}/x81/docs"
    val v0 = graft.sources.v2.ShardFormat.readManifest(tableDir).get.version
    // the one full pass: materialize the rollup as of v0
    val mv = Q.tmpArtifactPath("x81_mv", dir) +
      s"_${java.util.UUID.randomUUID().toString.take(8)}"
    s.table(s"$cat.x81.docs").groupBy("lang")
      .agg(sum("n_chars").as("chars"), count(lit(1)).as("n_docs"))
      .coalesce(1).write.format("graftshard").mode("overwrite").save(mv)
    // a day of ingestion: new docs land, a slice is retracted
    docs.where(col("doc_id") % 3 === 1).repartitionByRange(4, col("doc_id"))
      .writeTo(s"$cat.x81.docs").append()
    s.conf.set("spark.graftshard.rowLevel.mode", "merge-on-read")
    try s.sql(s"DELETE FROM $cat.x81.docs WHERE doc_id % 7 = 0")
    finally s.conf.unset("spark.graftshard.rowLevel.mode")
    // the refresh touches ONLY the delta
    val changes = s.read.format("graftshard")
      .option("changesFrom", v0).load(tableDir)
    val nChanges = changes.count()
    val nTable = s.table(s"$cat.x81.docs").count()
    require(nChanges > 0 && nChanges < nTable,
      s"x81: the delta feed ($nChanges rows) must be strictly smaller " +
        s"than the table ($nTable rows) — else the refresh rescanned")
    val sgn = when(col("_change_type") === "insert", 1L).otherwise(-1L)
    val delta = changes.groupBy("lang").agg(
      sum(col("n_chars") * sgn).as("d_chars"),
      sum(sgn).as("d_docs"))
    s.read.format("graftshard").load(mv)
      .join(delta, Seq("lang"), "full_outer")
      .select(col("lang"),
        (coalesce(col("chars"), lit(0L)) + coalesce(col("d_chars"), lit(0L))).as("chars"),
        (coalesce(col("n_docs"), lit(0L)) + coalesce(col("d_docs"), lit(0L))).as("n_docs"))
      .where(col("n_docs") > 0)
  }

  /** RETROACTIVE BLOOM BACKFILL (round 14): `CALL system.analyze(...,
    * blooms => true)` — the index counterpart of the stats backfill.
    * A table created with NO bloom configuration gets per-file sidecars
    * built in the same distributed pass, and the proof the skip is REAL
    * is physical: one shard file is OVERWRITTEN WITH GARBAGE after the
    * backfill, and point lookups for values provably absent from it
    * (its id parity — both files' ranges fully overlap, so min/max
    * stats can never prune) must return byte-exact results WITHOUT
    * opening it (opening throws on the magic). At 100 TB this is
    * "enable needle-in-haystack reads on an existing corpus" without
    * the data rewrite that was the only remedy before. */
  private def x80(s: SparkSession, dir: String): DataFrame = {
    val out = Q.tmpArtifactPath("x80", dir) +
      s"_${java.util.UUID.randomUUID().toString.take(8)}"
    val docs = table(s, dir, "documents")
      .select(col("doc_id"), col("lang"), col("n_chars").cast("long").as("n_chars"),
        concat(lit("k:"), col("doc_id")).as("doc_key"))
    docs.where(col("doc_id") % 2 === 1).coalesce(1)
      .write.format("graftshard").mode("overwrite").save(out)
    docs.where(col("doc_id") % 2 === 0).coalesce(1)
      .write.format("graftshard").mode("append").save(out)
    val m0 = graft.sources.v2.ShardFormat.readManifest(out).get
    require(m0.bloomColumns.isEmpty && m0.files.forall(_.bloom.isEmpty),
      "x80: the table must start bloom-less")
    val r = graft.sources.v2.GraftShardMaintenance.analyze(
      s, out, Seq("doc_id", "doc_key"), blooms = true)
    require(r.bloomFiles == m0.files.size,
      s"x80: every file needs a backfilled sidecar, got ${r.bloomFiles}")
    val m1 = graft.sources.v2.ShardFormat.readManifest(out).get
    require(m1.files.map(_.name).toSet == m0.files.map(_.name).toSet &&
      m1.files.forall(_.bloom.isDefined) &&
      m1.bloomColumns == Seq("doc_id", "doc_key"),
      "x80: backfill must be sidecars + manifest only")
    // physical skip proof: garbage the ODD file; every probe below is
    // for EVEN ids, so the backfilled blooms must keep it closed
    val odd = m0.files.head.name
    val os = new java.io.FileOutputStream(new java.io.File(out, odd))
    try os.write("NOTASHRD".getBytes("US-ASCII")) finally os.close()
    val t = s.read.format("graftshard").load(out)
    t.where(col("doc_id").isin(0L, 2L, 42L, 256L, 498L))
      .select("doc_id", "lang", "n_chars")
      .unionAll(t.where(col("doc_key").isin("k:100", "k:222"))
        .select("doc_id", "lang", "n_chars"))
  }

  /** TOKEN-ID SEQUENCES AT REST (round 14): the tokenize-and-store
    * pipeline — a deterministic per-word tokenizer over `documents`
    * produces one `array<int>` id sequence (and an `array<long>`
    * variant) per document, the sequences land in the LAKE as v4
    * shards across codecs, and the read-back aggregates per-doc token
    * counts and id sums through the COLUMNAR batch path (required
    * in-plan). At 100 TB the tokenized view routinely outweighs the
    * text it came from, so it must be a first-class lake column — not
    * a driver artifact: this gate pins tags 12/13 end-to-end
    * (write → manifest schema → batch decode → array aggregation).
    * Byte-exact: token ids are word-length arithmetic, so DuckDB
    * replays them from the text with list_transform. */
  private def x79(s: SparkSession, dir: String): DataFrame = {
    val out = Q.tmpArtifactPath("x79", dir)
    val toks = table(s, dir, "documents").select(
      col("doc_id"),
      expr("transform(filter(split(text, ' '), w -> w != '')," +
        " w -> cast(length(w) * 31 + 7 as int))").as("toks"),
      expr("transform(filter(split(text, ' '), w -> w != '')," +
        " w -> length(w) * 1000003L)").as("toks64"))
    toks.where(col("doc_id") % 3 === 0).coalesce(1)
      .write.format("graftshard").mode("overwrite").save(out)
    toks.where(col("doc_id") % 3 === 1).coalesce(1)
      .write.format("graftshard").option("compression", "dict").mode("append").save(out)
    toks.where(col("doc_id") % 3 === 2).coalesce(1)
      .write.format("graftshard").option("compression", "deflate").mode("append").save(out)
    val m = graft.sources.v2.ShardFormat.readManifest(out).get
    require(m.schema.fields.map(_.dataType.simpleString).toSeq ==
      Seq("bigint", "array<int>", "array<bigint>"),
      s"x79: the lake must record the array types, got ${m.schema.simpleString}")
    val q = s.read.format("graftshard").load(out)
    require(q.queryExecution.executedPlan.toString.contains("ColumnarToRow"),
      s"x79: token-array scans must engage the batch path:\n${q.queryExecution.executedPlan}")
    q.select(
      col("doc_id"),
      size(col("toks")).cast("long").as("n_toks"),
      expr("aggregate(toks, 0L, (a, x) -> a + x)").as("tok_sum"),
      expr("aggregate(toks64, 0L, (a, x) -> a + x)").as("tok64_sum"))
  }

  /** WRITE-AUDIT-PUBLISH (round 13): half the corpus commits normally;
    * the other half lands as a STAGED branch (`stageAs`) — invisible to
    * the live pointer, version chain, and CDF (required in-plan) — gets
    * audited through the branch read face, and only then publishes
    * pointer-atomically via `CALL system.publish_branch`, which
    * re-validates the staged BASE under the commit lock (an interleaved
    * commit refuses rather than silently dropping files). The standard
    * guardrail for production 100 TB ingest: quality gates run against
    * exactly what would become the table (GraftShardWapSpec pins
    * invisibility, conflict refusal, drop, and vacuum liveness). */
  private def x72(s: SparkSession, dir: String): DataFrame = {
    val cat = ensureGraftCatalog(s, dir)
    s.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.x72")
    s.sql(s"DROP TABLE IF EXISTS $cat.x72.docs")
    val docs = table(s, dir, "documents")
      .select(col("doc_id"), col("lang"), col("n_chars").cast("long").as("n_chars"))
    docs.where(pmod(col("doc_id"), lit(2)) === 0)
      .coalesce(1).writeTo(s"$cat.x72.docs").using("graftshard").create()
    val tdir = s"${s.conf.get(s"spark.sql.catalog.$cat.warehouse")}/x72/docs"
    val half = s.table(s"$cat.x72.docs").count()
    // stage the odd half as TWO micro-batches onto one branch (the
    // production audit loop accumulates commits before one audit +
    // fast-forward publish); the live table must not move under either
    docs.where(pmod(col("doc_id"), lit(4)) === 1)
      .coalesce(1).write.format("graftshard").option("stageAs", "audit")
      .mode("append").save(tdir)
    docs.where(pmod(col("doc_id"), lit(4)) === 3)
      .coalesce(1).write.format("graftshard").option("stageAs", "audit")
      .mode("append").save(tdir)
    require(s.table(s"$cat.x72.docs").count() == half,
      "x72: staged writes must be invisible to the live table")
    // the audit face sees the full accumulated corpus
    val audited = s.read.format("graftshard").option("branch", "audit").load(tdir)
    require(audited.count() > half, "x72: the audit face must see the stage")
    // fast-forward: one pointer move lands both staged commits
    s.sql(s"CALL $cat.system.publish_branch('x72.docs', 'audit')").collect()
    s.table(s"$cat.x72.docs")
  }

  /** SEGMENT-PRUNED PLAN-TIME MANIFESTS (round 13): the corpus lands as
    * a PAGED manifest (segment cap pinned low so sf-scale data pages
    * like a 100 TB table's 1M-entry manifest would), each segment's
    * stat rollup recorded in the root — and a selective scan plans by
    * parsing ONLY the segments whose rollups can intersect the pushed
    * predicate (in-query require: the pruned read loads strictly fewer
    * entries than the full one while keeping every candidate). At the
    * 1M-entry ceiling this is 17 ms and 1% of the entries vs 1.9 s and
    * ~400 MB of driver heap (PROBE-MANIFEST). Byte-exact: pruning is
    * the same mayContain proof file-level skipping already uses, one
    * level up (GraftShardManifestPagingSpec pins rollup carry-through
    * and the rollup-less degrade). */
  private def x73(s: SparkSession, dir: String): DataFrame = {
    import graft.sources.v2.{ShardFilters, ShardFormat}
    val out = Q.tmpArtifactPath("x73", dir)
    val docs = table(s, dir, "documents")
      .select(col("doc_id"), col("lang"), col("n_chars").cast("long").as("n_chars"))
    ShardFormat.segmentCapLock.synchronized {
    val prevCap = ShardFormat.segmentMaxEntries
    ShardFormat.segmentMaxEntries = 8
    try {
      // ~30 single-file commits with doc_id-clustered ranges -> a paged
      // root of several segments, each covering a disjoint id band
      val n = docs.agg(max("doc_id")).head.getLong(0) + 1
      val bands = 30
      val step = math.max(1L, (n + bands - 1) / bands)
      // CONTIGUOUS id bands — each file (and so each segment) covers a
      // disjoint doc_id range, the clustered layout pruning feeds on
      (0 until bands).foreach { b =>
        docs.where(col("doc_id") >= b * step && col("doc_id") < (b + 1) * step)
          .coalesce(1).write.format("graftshard")
          .mode(if (b == 0) "overwrite" else "append").save(out)
      }
      val full = ShardFormat.readManifest(out).get
      require(full.pagedSegments.size > 1, "x73: the manifest must be paged")
      val preds: Array[org.apache.spark.sql.sources.Filter] =
        Array(org.apache.spark.sql.sources.LessThan("doc_id", n / 10))
      val pruned = ShardFormat.readManifestForScan(out,
        r => preds.forall(ShardFilters.mayContain(_, r))).get
      require(pruned.files.size < full.files.size,
        s"x73: a selective predicate must skip whole segments " +
          s"(${pruned.files.size} vs ${full.files.size})")
      s.read.format("graftshard").load(out).where(col("doc_id") < n / 10)
    } finally ShardFormat.segmentMaxEntries = prevCap
    }
  }

  /** LEAN FILTERLESS PLANNING (round 14): the corpus lands as a PAGED
    * manifest (segment cap pinned low, like x73) and is read back with
    * NO predicate — the scan shape that used to materialize the full
    * FileEntry list on the driver. The lean plan path streams segments
    * one at a time, retains only lean tuples + statistic accumulators,
    * and produces partitions identical to the rich formula (174 MB vs
    * 324 MB retained at the 1M-entry ceiling, PROBE-MANIFEST;
    * GraftShardLeanPlanSpec pins lean≡rich). In-query requires: the
    * root is actually paged AND the streaming read visits every entry
    * exactly once; result byte-exact against the oracle. */
  private def x74(s: SparkSession, dir: String): DataFrame = {
    import graft.sources.v2.ShardFormat
    val out = Q.tmpArtifactPath("x74", dir)
    val docs = table(s, dir, "documents")
      .select(col("doc_id"), col("lang"), col("n_chars").cast("long").as("n_chars"))
    ShardFormat.segmentCapLock.synchronized {
      val prevCap = ShardFormat.segmentMaxEntries
      ShardFormat.segmentMaxEntries = 8
      try {
        val n = docs.agg(max("doc_id")).head.getLong(0) + 1
        val bands = 12
        val step = math.max(1L, (n + bands - 1) / bands)
        (0 until bands).foreach { b =>
          docs.where(col("doc_id") >= b * step && col("doc_id") < (b + 1) * step)
            .coalesce(1).write.format("graftshard")
            .mode(if (b == 0) "overwrite" else "append").save(out)
        }
        val full = ShardFormat.readManifest(out).get
        require(full.pagedSegments.size > 1, "x74: the manifest must be paged")
        // the lean plan currency: the streamed read visits every entry
        var streamed = 0L
        require(ShardFormat.streamManifestForScan(out, _ => true, _ => streamed += 1)
          .isDefined, "x74: a paged root must stream")
        require(streamed == full.files.size,
          s"x74: streamed $streamed of ${full.files.size} entries")
        s.read.format("graftshard").load(out) // filterless: the lean path
      } finally ShardFormat.segmentMaxEntries = prevCap
    }
  }

  /** CAS COMMIT PROTOCOL (round 14): the commit's linearization point
    * is the version-snapshot HARD LINK — POSIX link(2) fails atomically
    * with EEXIST on an already-claimed version, the filesystem's
    * conditional PUT (object-store translation: PUT If-None-Match) —
    * and the live pointer is only a roll-forward HINT. No lease, no
    * clock: of two committers composed against the same base exactly
    * one lands, which is the multi-host story a 100 TB lake needs
    * (commit safety that survives a GC pause, a cgroup freeze, or a
    * wall-clock skew between drivers). Driven in-query: (1) the
    * pointer is REGRESSED byte-exactly to the prior snapshot — the
    * state a committer crashing between link and refresh leaves — and
    * the read must roll forward to the true head; (2) claiming an
    * already-linked version must lose the CAS loudly; (3) the next
    * real commit must base on the head and heal the pointer. Result
    * byte-exact vs the oracle. */
  private def x75(s: SparkSession, dir: String): DataFrame = {
    import graft.sources.v2.ShardFormat
    val out = Q.tmpArtifactPath("x75", dir)
    // start from nothing: the gate pins exact version numbers, and the
    // CAS protocol (correctly) refuses to re-claim versions a previous
    // in-process run (bench retime) left behind
    Option(new java.io.File(out).listFiles()).foreach(_.foreach(_.delete()))
    val docs = table(s, dir, "documents")
      .select(col("doc_id"), col("lang"), col("n_chars").cast("long").as("n_chars"))
    docs.where(pmod(col("doc_id"), lit(2)) === 0)
      .coalesce(1).write.format("graftshard").mode("overwrite").save(out) // v1
    docs.where(pmod(col("doc_id"), lit(4)) === 1)
      .coalesce(1).write.format("graftshard").mode("append").save(out)    // v2
    val head = ShardFormat.readManifest(out).get.version
    require(head == 2L, s"x75: expected head v2, got v$head")
    def regressPointer(): Unit = java.nio.file.Files.copy(
      ShardFormat.versionFile(out, head - 1).toPath,
      ShardFormat.manifestFile(out).toPath,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    def pointerVersion(): Long = {
      val txt = new String(java.nio.file.Files.readAllBytes(
        ShardFormat.manifestFile(out).toPath), "UTF-8")
      """"manifestVersion"\s*:\s*(\d+)""".r.findFirstMatchIn(txt).get.group(1).toLong
    }
    regressPointer()
    require(pointerVersion() == head - 1, "x75: the pointer must lag")
    require(ShardFormat.readManifest(out).get.version == head,
      "x75: the read must roll forward past the lagging pointer — the link IS the commit")
    // a concurrent claim of the next version loses the CAS loudly
    java.nio.file.Files.copy(
      ShardFormat.versionFile(out, head).toPath,
      ShardFormat.versionFile(out, head + 1).toPath)
    val m = ShardFormat.readManifest(out).get
    val lost =
      try { ShardFormat.writeManifest(out, m.copy(version = head + 1)); false }
      catch { case _: java.util.ConcurrentModificationException => true }
    require(lost, "x75: claiming an already-linked version must lose the CAS")
    java.nio.file.Files.delete(ShardFormat.versionFile(out, head + 1).toPath)
    // still lagging; a real commit bases on the TRUE head and heals
    regressPointer()
    docs.where(pmod(col("doc_id"), lit(4)) === 3)
      .coalesce(1).write.format("graftshard").mode("append").save(out)    // v3
    require(pointerVersion() == head + 1,
      "x75: a successful commit must refresh the pointer to the head")
    require(ShardFormat.listVersions(out) == Seq(1L, 2L, 3L),
      "x75: gap-free committed history")
    s.read.format("graftshard").load(out)
  }

  /** TIMESTAMPS AT REST + HIDDEN TIME PARTITIONING (round 14): the
    * events table lands in a graftshard table with its REAL timestamp
    * column (stored as epoch-micros longs behind tag 8 — every long
    * path carries over: codecs, micros min/max stats and file
    * skipping, blooms, bulk decode) PARTITIONED BY (days(ts)) — the
    * Iceberg hidden-partitioning layout every time-series lake uses at
    * 100 TB. In-query requires: the transform spec is recorded, every
    * file carries exactly one day ordinal, and a ts-range predicate
    * prunes files at plan time. The query itself is the ops rollup:
    * per-day, per-type event counts + exact id sums over a time-range
    * filter (timestamps surface as day ordinals and micros — the
    * oracle-stable integer faces). */
  private def x76(s: SparkSession, dir: String): DataFrame = {
    import graft.sources.v2.ShardFormat
    val cat = ensureGraftCatalog(s, dir)
    s.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.x76")
    s.sql(s"DROP TABLE IF EXISTS $cat.x76.ev")
    s.sql(s"CREATE TABLE $cat.x76.ev (event_id BIGINT, ts TIMESTAMP, " +
      "user_id BIGINT, event_type STRING, value DOUBLE) " +
      "USING graftshard PARTITIONED BY (days(ts))")
    // the parquet source infers ts as TIMESTAMP_NTZ; the lake table
    // declares the session-zoned type (UTC session — same instants),
    // exercising the LTZ face (the NTZ face is spec-pinned)
    table(s, dir, "events")
      .select(col("event_id"), col("ts").cast("timestamp").as("ts"),
        col("user_id"), col("event_type"), col("value"))
      .writeTo(s"$cat.x76.ev").append()
    val tdir = s"${s.conf.get(s"spark.sql.catalog.$cat.warehouse")}/x76/ev"
    val m = ShardFormat.readManifest(tdir).get
    require(m.partitioning.contains(ShardFormat.TransformPart("days", "ts")),
      s"x76: transform spec not recorded (${m.partitioning})")
    require(m.files.nonEmpty && m.files.forall(_.partition.isDefined),
      "x76: every file must carry its day ordinal")
    require(m.files.flatMap(_.partition).distinct.size > 1,
      "x76: the corpus must span multiple days")
    // ts-range filter: the last ~60% of the corpus by wall clock; the
    // pushed micros bounds must prune at least one whole file
    val bounds = table(s, dir, "events")
      .select(col("ts").cast("timestamp").as("ts"))
      .agg(unix_micros(min("ts")), unix_micros(max("ts"))).head()
    // exact integer micros arithmetic, mirrored by the oracle's
    // epoch_us SQL — no milli truncation at the boundary
    val cutMicros = bounds.getLong(0) + (bounds.getLong(1) - bounds.getLong(0)) * 2 / 5
    val filtered = s.table(s"$cat.x76.ev")
      .where(col("ts") >= timestamp_micros(lit(cutMicros)))
    val desc = filtered.queryExecution.executedPlan.collectLeaves()
      .map(_.toString).mkString("\n")
    val m1 = """files=(\d+)/(\d+)""".r.findFirstMatchIn(desc)
    require(m1.exists(g => g.group(1).toInt < g.group(2).toInt),
      s"x76: ts-range predicate must prune day files: $desc")
    filtered
      .groupBy(expr("unix_micros(ts) div 86400000000").as("day"), col("event_type"))
      .agg(count(lit(1)).as("n_events"), sum("event_id").as("sum_ids"),
        countDistinct(col("user_id")).as("n_users"))
  }

  /** DECIMALS + DATES AT REST (round 14): a billing-shaped lineitem
    * projection lands in graftshard with a DECIMAL(12,2) price (stored
    * as the unscaled long — codecs, stats, blooms all ride the long
    * paths) and a DATE ship_date (days-since-epoch int). In-query
    * requires: both types round-trip the schema, the decimal predicate
    * absorbs (no FilterExec) INCLUDING an off-grid bound (`< 750.004`
    * snaps to the cents grid at the pushdown boundary), and unscaled
    * min/max stats prune whole files under the clustered layout. The
    * oracle replays the query in cents/day-ordinal space — exact
    * integer arithmetic both engines share. */
  private def x77(s: SparkSession, dir: String): DataFrame = {
    import graft.sources.v2.ShardFormat
    val out = Q.tmpArtifactPath("x77", dir)
    val li = table(s, dir, "lineitem").select(
      col("l_orderkey"),
      ((col("l_orderkey") * 9176L + col("l_partkey") * 13L +
        col("l_quantity").cast("long") * 7L) % 100000L).as("cents"),
      col("l_shipdate").cast("date").as("ship_date"),
      col("l_returnflag"))
    // exact decimal construction (cents are non-negative): the string
    // face sidesteps engine-specific decimal division/rounding rules
    val priced = li.select(
      col("l_orderkey"),
      expr("CAST(CONCAT(CAST(cents DIV 100 AS STRING), '.', " +
        "LPAD(CAST(cents % 100 AS STRING), 2, '0')) AS DECIMAL(12,2))")
        .as("price"),
      col("ship_date"), col("l_returnflag"))
    priced.repartitionByRange(4, col("price"))
      .write.format("graftshard").mode("overwrite").save(out)
    val t = s.read.format("graftshard").load(out)
    require(t.schema("price").dataType ==
      org.apache.spark.sql.types.DecimalType(12, 2), "x77: decimal schema")
    require(t.schema("ship_date").dataType ==
      org.apache.spark.sql.types.DateType, "x77: date schema")
    val m = ShardFormat.readManifest(out).get
    require(m.files.forall(_.stats.contains("price")),
      "x77: unscaled decimal stats must be recorded")
    val filtered = t.where(col("price") >= lit(BigDecimal("500.00")) &&
      col("price") < lit(BigDecimal("750.004"))) // off-grid upper bound
    require(filtered.queryExecution.executedPlan
      .collect { case f: org.apache.spark.sql.execution.FilterExec => f }.isEmpty,
      "x77: decimal predicates must absorb into the scan")
    val desc = filtered.queryExecution.executedPlan.collectLeaves()
      .map(_.toString).mkString("\n")
    val pr = """files=(\d+)/(\d+)""".r.findFirstMatchIn(desc)
    require(pr.exists(g => g.group(1).toInt < g.group(2).toInt),
      s"x77: unscaled stats must prune files: $desc")
    filtered.groupBy("l_returnflag").agg(
      count(lit(1)).as("n"),
      sum(expr("CAST(price * 100 AS BIGINT)")).as("cents_sum"),
      expr("CAST(unix_date(MIN(ship_date)) AS BIGINT)").as("min_day"),
      expr("CAST(unix_date(MAX(ship_date)) AS BIGINT)").as("max_day"))
  }

  /** RENAME COLUMN as a METADATA-ONLY commit (format v4 field ids —
    * [[graft.sources.v2.ShardFormat.MagicV4]]): half the corpus lands
    * under the ORIGINAL names, both data columns are renamed (one of
    * them twice — names are id-stable, not history-bound), the other
    * half appends under the NEW names, and a filtered read over the
    * mixed-era table must be byte-exact. Era-1 files resolve by FIELD
    * ID (their headers still say `n_chars`); per-file stats re-keyed at
    * rename time keep file skipping and min/max pushdown firing on the
    * new name. At 100 TB this is the rename every long-lived lake
    * eventually needs, at manifest-edit cost instead of a corpus
    * rewrite (GraftShardSchemaEvolutionSpec pins zero files touched,
    * alias reservations, and time travel serving the old names). */
  private def x59(s: SparkSession, dir: String): DataFrame = {
    val cat = ensureGraftCatalog(s, dir)
    s.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.x59")
    s.sql(s"DROP TABLE IF EXISTS $cat.x59.docs")
    val docs = table(s, dir, "documents").select("doc_id", "n_chars", "lang")
    docs.where(pmod(col("doc_id"), lit(2)) === 0)
      .repartitionByRange(4, col("doc_id"))
      .writeTo(s"$cat.x59.docs").using("graftshard").create()
    s.sql(s"ALTER TABLE $cat.x59.docs RENAME COLUMN n_chars TO chars_tmp")
    s.sql(s"ALTER TABLE $cat.x59.docs RENAME COLUMN chars_tmp TO doc_chars")
    s.sql(s"ALTER TABLE $cat.x59.docs RENAME COLUMN lang TO language")
    docs.where(pmod(col("doc_id"), lit(2)) === 1)
      .select(col("doc_id"), col("n_chars").as("doc_chars"), col("lang").as("language"))
      .createOrReplaceTempView("x59_odd_src")
    s.sql(s"INSERT INTO $cat.x59.docs SELECT doc_id, doc_chars, language FROM x59_odd_src")
    s.table(s"$cat.x59.docs")
      .where(col("doc_chars") >= 200 && col("language") =!= "de")
  }

  /** ALTER COLUMN TYPE widening (int→long) as a METADATA-ONLY commit:
    * era 1 stores 4-byte ints; after the widen, era 2 appends values
    * only BIGINT can hold (n_chars + 3e9 — past Int.MaxValue). The
    * reader decodes each file's STORED width and widens at emit, so the
    * mixed-era filtered read is byte-exact with zero files rewritten —
    * and the Long-based manifest stats survive the widen, so skipping
    * and min/max pushdown keep firing. The 100 TB shape: an id or
    * counter column outgrowing INT on a table too large to rewrite
    * (the spec pins the v1-file refusal and narrowing refusals). */
  private def x60(s: SparkSession, dir: String): DataFrame = {
    val cat = ensureGraftCatalog(s, dir)
    s.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.x60")
    s.sql(s"DROP TABLE IF EXISTS $cat.x60.docs")
    s.sql(s"CREATE TABLE $cat.x60.docs (doc_id BIGINT, chars INT) USING graftshard")
    table(s, dir, "documents").select("doc_id", "n_chars").createOrReplaceTempView("x60_src")
    s.sql(s"""INSERT INTO $cat.x60.docs
      SELECT doc_id, CAST(n_chars AS INT) FROM x60_src WHERE doc_id % 2 = 0""")
    s.sql(s"ALTER TABLE $cat.x60.docs ALTER COLUMN chars TYPE BIGINT")
    s.sql(s"""INSERT INTO $cat.x60.docs
      SELECT doc_id, n_chars + 3000000000 FROM x60_src WHERE doc_id % 2 = 1""")
    s.table(s"$cat.x60.docs").where(col("chars") >= 300)
  }

  /** Hierarchical subtotals via rollup (grouping sets). */
  private def x3(s: SparkSession, dir: String): DataFrame =
    table(s, dir, "lineitem")
      .rollup(col("l_returnflag"), col("l_linestatus"))
      .agg(sum(col("l_quantity")).as("sum_qty"), count(lit(1)).as("n"))

  /** Window analytics: per-customer running spend + order sequence. */
  private def x4(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate"), col("o_orderkey"))
    // round(.., 2): DuckDB computes window sums over a segment tree, Spark
    // sequentially — different association order, last-ULP divergence on
    // 2-decimal money whose sums are exact at 2 dp anyway
    table(s, dir, "orders").select(
      col("o_custkey"), col("o_orderkey"),
      round(sum(col("o_totalprice"))
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)), 2)
        .as("running_spend"),
      row_number().over(w).as("order_seq"))
  }

  /** End-to-end pipeline composition: quality-score → filter → language-ID
    * → per-language corpus stats. One narrow projection chain + one
    * aggregation; demonstrates that the operator surfaces compose into a
    * curation pipeline without materialization barriers. */
  private def p1(s: SparkSession, dir: String): DataFrame = {
    val scored = TextAnalysis.qualityScore(table(s, dir, "documents"), "text")
    val kept = scored.where(col("quality") >= 0.55)
    // round(.., 9): double accumulation order differs between engines
    // (partial-aggregation merge order), so the checked output is rounded
    // to a fixed precision far above the ULP noise in BOTH engines —
    // quality ∈ [0,1], so 1e-9 is ~1e8 × the accumulated error.
    TextAnalysis.languageId(kept, "text")
      .groupBy(col("predicted_lang"))
      .agg(count(lit(1)).as("n_docs"),
        round(avg(col("quality")), 9).as("avg_quality"),
        sum(col("n_tokens")).as("sum_tokens"))
  }

  private def t14(s: SparkSession, dir: String): DataFrame =
    Curation.hashedLinearScore(table(s, dir, "documents").select("doc_id", "text"), "text")
      .select("doc_id", "logit", "model_keep")

  /** TRAINED model filter: logistic regression distilled from the
    * heuristic rule filters (one gradient aggregate per epoch), served
    * through the same hashed plumbing as t14. Rows-only: the iterative
    * fit has no SQL analog and gradient float sums are shuffle-order
    * dependent; CurationSpec pins separation quality on a labeled
    * fixture. t14 keeps the deterministic stand-in weights so the exact
    * SQL oracle for the serving path stays. */
  private def t21(s: SparkSession, dir: String): DataFrame = {
    val docs = table(s, dir, "documents").select("doc_id", "text")
    // Fan the interpreted rule expressions out of the single-row-group
    // partition, and persist the labeled face so the trainer's typed
    // pipeline reads evaluated rows — without the barrier the whole HOF
    // expression tree re-evaluates inside the deserializer's filter AND
    // project (measured 7.2 s vs 1.1 s at sf0.1)
    val labeled = graft.CacheRegistry.persisted(
      Curation.heuristicFilters(
          docs.repartition(s.sparkContext.defaultParallelism), "text")
        .select(col("doc_id"), col("text"), col("keep").cast("double").as("y")))
    val (w, b) = Curation.trainHashedLogistic(labeled, "text", "y", epochs = 10)
    Curation.hashedLinearScore(docs, "text", bias = b, weights = Some(w))
      .select(col("doc_id"), col("model_keep"))
  }

  private def t16(s: SparkSession, dir: String): DataFrame =
    Curation.lmPerplexity(table(s, dir, "documents").select("doc_id", "text"), "doc_id", "text")

  /** Normalized exact dedup (CCNet preprocessing): every doc_id % 5 == 0
    * document re-appears uppercased with punctuation injected — raw exact
    * dedup ([[Dedup.exact]]/d1) cannot pair it with its source; dedup over
    * [[Curation.normalizeForDedup]] must (n_copies = 2, keep_id = the
    * original). */
  private def t17(s: SparkSession, dir: String): DataFrame = {
    val d = table(s, dir, "documents").select("doc_id", "text")
    val corpus = d.unionAll(d.where(col("doc_id") % 5 === 0).select(
      (col("doc_id") + 1000000L).as("doc_id"),
      concat(upper(col("text")), lit(" !!!")).as("text")))
    Dedup.exact(
      fanOut(s, corpus).withColumn("text", Curation.normalizeForDedup(col("text"))),
      "doc_id", "text")
  }

  // ---------------------------------------------------- training-data prep

  private def p2(s: SparkSession, dir: String): DataFrame =
    graft.pipeline.TrainingPrep.shuffleShard(
      table(s, dir, "documents").select("doc_id"), "doc_id", nShards = 8)
      .select("doc_id", "shard", "pos")

  private def p3(s: SparkSession, dir: String): DataFrame = {
    val docs = table(s, dir, "documents")
      .select(col("doc_id"), size(split(col("text"), " ")).cast("long").as("n_toks"))
    val sharded = graft.pipeline.TrainingPrep.shuffleShard(docs, "doc_id", nShards = 8)
    graft.pipeline.TrainingPrep.packSequences(sharded, "doc_id", "n_toks", "shard", seqLen = 512)
      .groupBy(col("shard"), col("example_id"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_toks")).as("sum_tokens"))
  }

  /** p3's packing with per-example document boundaries — the segments a
    * loader turns into block-diagonal attention masks. Same shards, same
    * window order, seqLen 512. */
  private def p21(s: SparkSession, dir: String): DataFrame = {
    val docs = table(s, dir, "documents")
      .select(col("doc_id"), size(split(col("text"), " ")).cast("long").as("n_toks"))
    val sharded = graft.pipeline.TrainingPrep.shuffleShard(docs, "doc_id", nShards = 8)
    graft.pipeline.TrainingPrep.packBoundaries(
      sharded, "doc_id", "n_toks", "shard", seqLen = 512)
  }

  /** Deterministic 80/10/10 train/val/test split, counted per (source,
    * split) — every engine computes the same membership from md5. */
  private def p11(s: SparkSession, dir: String): DataFrame =
    graft.pipeline.TrainingPrep.hashSplit(
      table(s, dir, "documents"), "doc_id", "split",
      Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
      .groupBy(col("source"), col("split"))
      .agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("min_doc"))

  /** Context-window chunking: 24-token chunks every 16 tokens (8-token
    * overlap) over the documents corpus. */
  private def p10(s: SparkSession, dir: String): DataFrame =
    graft.pipeline.TrainingPrep.chunkDocuments(
      table(s, dir, "documents"), "doc_id", "text", chunkTokens = 24, overlap = 8)

  private def p4(s: SparkSession, dir: String): DataFrame = {
    // per-source mixture weight: quarter steps by source number, so every
    // weight (0.25/0.5/0.75/1.0) is exact in binary in both engines
    val weight = (lit(1) + substring(col("source"), 4, 10).cast("int") % 4) / lit(4.0)
    graft.pipeline.TrainingPrep.mixtureSample(
      table(s, dir, "documents").select("doc_id", "source"), "doc_id", weight)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("sampled"), 1L).otherwise(0L)).as("n_kept"))
  }

  /** Upsampling mixture: per-source weights 0.75/1.5/2.25/3.0 (binary-
    * exact quarter steps, the p4 convention), one output row per
    * deterministic copy — weights above 1 actually repeat documents,
    * the "epochs over source" recipe p4's keep/drop form can't express. */
  private def p12(s: SparkSession, dir: String): DataFrame = {
    val weight = (lit(1) + substring(col("source"), 4, 10).cast("int") % 4) * lit(0.75)
    graft.pipeline.TrainingPrep.mixtureRepeat(
      table(s, dir, "documents").select("doc_id", "source"), "doc_id", weight)
      .select("doc_id", "source", "copy")
  }

  /** Power-of-two length buckets + padding-waste audit over the corpus. */
  private def p13(s: SparkSession, dir: String): DataFrame =
    graft.pipeline.TrainingPrep.lengthBuckets(
      table(s, dir, "documents").select("doc_id", "text"), "text")

  /** Temperature-scaled language mixture (T = 2 flattens the en-heavy
    * natural shares toward uniform — the mT5 §3.1 rebalancing). */
  private def p15(s: SparkSession, dir: String): DataFrame =
    graft.pipeline.TrainingPrep.temperatureWeights(
      table(s, dir, "documents"), "lang", temperature = 2.0)

  /** Fill-in-the-middle over the corpus: half the docs re-serialized in
    * PSM sentinel order under deterministic hash cuts, the other half
    * passed through — the infilling-objective prep. */
  private def p16(s: SparkSession, dir: String): DataFrame =
    graft.pipeline.TrainingPrep.fimTransform(
      table(s, dir, "documents").select("doc_id", "text"), "doc_id", "text")
      .select("doc_id", "fim_applied", "cut_lo", "cut_hi", "fim_text")

  /** Length-weighted sample of 10 docs per source without replacement —
    * the A-ES draw is fully hash-derived, so the oracle recomputes the
    * exponential keys and replays the selection exactly. */
  private def p17(s: SparkSession, dir: String): DataFrame =
    graft.pipeline.TrainingPrep.weightedSample(
      table(s, dir, "documents"), "doc_id", "n_chars", "source", n = 10)

  /** Chat-template rendering over in-plan conversations: each doc's
    * tokens split into user/assistant/user/assistant slices (the last
    * assistant turn takes the tail, possibly empty), rendered with
    * sentinels + loss-mask char spans. Spans surface as a joined string
    * (the checker can't hash array cells); the oracle recomputes every
    * offset from the construction's slice lengths. */
  private def p18(s: SparkSession, dir: String): DataFrame = {
    val toksCol = split(col("text"), " ")
    def turn(role: String, content: org.apache.spark.sql.Column) =
      struct(lit(role).as("role"), content.as("content"))
    val turns = array(
      turn("user", array_join(slice(toksCol, 1, 5), " ")),
      turn("assistant", array_join(slice(toksCol, 6, 5), " ")),
      turn("user", array_join(slice(toksCol, 11, 5), " ")),
      turn("assistant",
        array_join(slice(toksCol, lit(16), greatest(size(toksCol) - 15, lit(0))), " ")))
    graft.pipeline.TrainingPrep.renderChatTemplate(
      table(s, dir, "documents").select(col("doc_id"), turns.as("turns")), "turns")
      .select(col("doc_id"), col("chat_text"), col("n_turns"),
        size(col("mask_spans")).as("n_mask_spans"),
        array_join(transform(col("mask_spans"), sp =>
          concat(sp.getField("s").cast("string"), lit(":"),
            sp.getField("e").cast("string"))), " ").as("spans_str"),
        array_join(transform(col("mask_spans_bytes"), sp =>
          concat(sp.getField("s").cast("string"), lit(":"),
            sp.getField("e").cast("string"))), " ").as("bspans_str"))
  }

  /** Token id-ification against a 16-entry frequency vocabulary built
    * in-plan — small enough that OOV tokens exist and exercise the unk
    * path at every SF. */
  private def p6(s: SparkSession, dir: String): DataFrame = {
    val docs = table(s, dir, "documents").select("doc_id", "text")
    // The checked face carries `ids` as a space-joined string: the driver's
    // pandas canonicalizer cannot sort/hash array cells. Library callers use
    // tokenizeToIds directly and get the real array<long>.
    graft.pipeline.TrainingPrep.tokenizeToIds(
        docs, "doc_id", "text",
        graft.pipeline.TrainingPrep.buildVocab(docs, "text", size = 16))
      .withColumn("ids", array_join(transform(col("ids"), _.cast("string")), " "))
  }

  /** Per-source quota (domain cap): at most 10 documents per source,
    * deterministically the 10 smallest by (md5(doc_id), doc_id) — the
    * hot-domain cap of web curation, through the bounded bottomK buffer
    * so the hot source's shuffle volume is capped too. */
  private def p7(s: SparkSession, dir: String): DataFrame =
    graft.pipeline.TrainingPrep.groupQuota(
      table(s, dir, "documents").select("doc_id", "source"),
      "doc_id", "source", quota = 10)

  /** Trained merge tables are reusable tokenizer artifacts (train once,
    * encode forever — the real-world lifecycle), so p8/p9 share one
    * training run per corpus dir. Determinism makes the cache
    * semantically invisible. */
  private val bpeMergeCache =
    scala.collection.concurrent.TrieMap.empty[(String, Int), Seq[(String, String)]]
  /** Memoized unigram-LM model per (dir, vocabSize) — the tokenizer
    * lifecycle: p19/p20 share one training per dir, same as BPE. */
  private val unigramModelCache =
    scala.collection.concurrent.TrieMap.empty[(String, Int), Seq[graft.pipeline.UnigramLm.Piece]]
  private def unigramModel(
      s: SparkSession, dir: String, vocabSize: Int): Seq[graft.pipeline.UnigramLm.Piece] =
    unigramModelCache.getOrElseUpdate((dir, vocabSize),
      graft.pipeline.UnigramLm.train(
        table(s, dir, "documents").select("text"), "text", vocabSize,
        seedSize = 200, maxPieceLen = 6))

  /** The at-rest face of the unigram model: the production encode job
    * LOADS a persisted artifact rather than retraining (train once,
    * encode forever). p19 (the train query) persists here after
    * training; any other caller ensures the artifact exists (training
    * at most once per process) and then goes through [[graft.pipeline.UnigramLm.loadModel]]
    * — so p20/p23's benched cost is the production cost: a vocab-sized
    * parquet read + the narrow encode, not an EM retrain. The path is
    * per-(JVM, dir) (same non-collision argument as [[Q.tmpArtifactPath]]),
    * so a driver testdata regeneration between processes can never serve
    * a stale model. Lock: parallel test suites share one JVM; ensure must
    * not race write-vs-read on the artifact dir. */
  private val unigramArtifactLock = new Object
  private def unigramArtifactPath(dir: String, vocabSize: Int): String =
    Q.tmpArtifactPath(s"unigram_v$vocabSize", dir)
  private def unigramModelAtRest(
      s: SparkSession, dir: String, vocabSize: Int): Seq[graft.pipeline.UnigramLm.Piece] = {
    val path = unigramArtifactPath(dir, vocabSize)
    // load INSIDE the lock too: p19 re-publishes with mode(overwrite),
    // and an unlocked concurrent read could catch the dir mid-rewrite
    unigramArtifactLock.synchronized {
      if (!java.nio.file.Files.exists(java.nio.file.Paths.get(path)))
        graft.pipeline.UnigramLm.saveModel(s, unigramModel(s, dir, vocabSize), path)
      graft.pipeline.UnigramLm.loadModel(s, path)
    }
  }

  /** Session-state setup for the catalog-faced gates (x44, x47–x50):
    * registers the shared GraftCatalog instance ONCE per session
    * (set-if-absent under a lock — a gate query must not mutate session
    * conf per run, or a parallel-bench mode could race two warehouses).
    * The warehouse is per-(JVM, testdata dir); queries isolate by
    * namespace. */
  private val graftCatalogLock = new Object
  private[graft] def ensureGraftCatalog(s: SparkSession, dir: String): String =
    graftCatalogLock.synchronized {
      val cat = "graftshard_cat"
      val key = s"spark.sql.catalog.$cat"
      if (!s.conf.getOption(key).contains("graft.sources.v2.GraftCatalog")) {
        s.conf.set(key, "graft.sources.v2.GraftCatalog")
        s.conf.set(s"$key.warehouse", Q.tmpArtifactPath("graftcat_wh", dir))
      }
      cat
    }

  /** Timing hook ([[graft.Harness.time]]): drop memoized artifacts so a
    * timed run pays full cost — mirrors `spark.catalog.clearCache()` for
    * persist(). */
  private[graft] def clearArtifactCaches(): Unit = {
    bpeMergeCache.clear()
    unigramModelCache.clear()
  }

  /** Bench warmup hook: materialize the at-rest tokenizer artifacts
    * BEFORE the timed sweep, so every encode-face query (p9/p20/p22/p23)
    * measures its documented load-shape regardless of sweep order —
    * without this, whichever consumer sorts first alphabetically
    * (p22 < p8!) pays the one-time ensure-train inside its own timed run,
    * and a later retime of that query would measure the load shape
    * against the sweep's train shape, corrupting the host-drag signal.
    * Train-face queries (p8/p19) are unaffected: their in-memory memos
    * are cleared per timed run and they never read the disk artifacts. */
  private[graft] def seedArtifacts(s: SparkSession, dir: String): Unit = {
    bpeMergesAtRest(s, dir, nMerges = 20)
    unigramModelAtRest(s, dir, vocabSize = 40)
    // s12's inverted index: build once here so the swept s12 measures
    // the PROBE (the read-side pruning claim), not the index build —
    // SCALE.md's BM25 build-vs-probe rows price the build separately
    invertedIndexAtRest(s, dir)
    ()
  }
  private def bpeMerges(s: SparkSession, dir: String, nMerges: Int): Seq[(String, String)] =
    bpeMergeCache.getOrElseUpdate((dir, nMerges),
      graft.pipeline.Bpe.trainMerges(
        table(s, dir, "documents").select("text"), "text", nMerges))

  /** BPE merge table at rest — the exact design of [[unigramModelAtRest]]
    * applied to the BPE lifecycle: p8 (the train query) persists after
    * training, the encode faces (p9/p22) load the artifact, so their
    * benched cost is the production encode shape, not a retrain that p8
    * already measures. Same per-(JVM, dir) path and overwrite-race lock
    * discipline. */
  private val bpeArtifactLock = new Object
  private def bpeArtifactPath(dir: String, nMerges: Int): String =
    Q.tmpArtifactPath(s"bpe_m$nMerges", dir)
  private def bpeMergesAtRest(
      s: SparkSession, dir: String, nMerges: Int): Seq[(String, String)] = {
    val path = bpeArtifactPath(dir, nMerges)
    bpeArtifactLock.synchronized {
      if (!java.nio.file.Files.exists(java.nio.file.Paths.get(path)))
        graft.pipeline.Bpe.saveMerges(s, bpeMerges(s, dir, nMerges), path)
      graft.pipeline.Bpe.loadMerges(s, path)
    }
  }

  /** BPE training (Sennrich et al. 2016) on the documents corpus — 20
    * merges, returned as the ranked merge table. Rows-only: the iterative
    * argmax loop has no SQL analog; determinism (count DESC, pair ASC
    * tie-break) and reference equivalence are pinned by BpeSpec instead.
    * Training actions at query construction are index-build cost, same
    * justification as the IVF quantizer. [[graft.pipeline.Bpe.trainMerges]]
    * builds the distinct-word relation distributed and, since it is far
    * below the driver bound here, runs the merge loop on the driver;
    * TokenizerGateSpec trains this shape through both branches and pins
    * them equal. */
  private def p8(s: SparkSession, dir: String): DataFrame = {
    val merges = bpeMerges(s, dir, nMerges = 20)
    // train-then-persist (the production train job's full shape) — lets
    // p9/p22 bench the production encode shape, mirroring p19/p20
    bpeArtifactLock.synchronized {
      graft.pipeline.Bpe.saveMerges(s, merges, bpeArtifactPath(dir, 20))
    }
    graft.pipeline.Bpe.mergesDF(s, merges)
  }

  /** BPE encode of the corpus with the p8-trained merges AT REST (loaded
    * artifact — production encode shape; loaded ≡ in-memory is spec- and
    * p22-certified): broadcast merge table, one narrow mapPartitions, no
    * shuffle. Rows-only (same reason as p8); per-doc token counts are
    * deterministic. */
  private def p9(s: SparkSession, dir: String): DataFrame = {
    val docs = table(s, dir, "documents")
    graft.pipeline.Bpe.encode(docs, "doc_id", "text",
      bpeMergesAtRest(s, dir, nMerges = 20))
      .select(col("doc_id"), col("n_bpe"))
  }

  /** Unigram-LM (SentencePiece) tokenizer training (Kudo 2018) on the
    * documents corpus — vocab 40 over the word-soup alphabet. Rows-only:
    * iterative EM has no SQL analog; determinism, partitioning
    * invariance, and the distributed ≡ local equivalence are pinned by
    * UnigramLmSpec (the p8 justification verbatim). Seed selection runs
    * distributed; the EM rounds run on the driver, the word relation
    * being far below the bound (TokenizerGateSpec pins both branches). */
  private def p19(s: SparkSession, dir: String): DataFrame = {
    val model = unigramModel(s, dir, vocabSize = 40)
    // train-then-persist is the production train job's full shape; the
    // save is vocab-sized, and it is what lets p20/p23 bench the
    // production ENCODE shape (load artifact, no retrain)
    unigramArtifactLock.synchronized {
      graft.pipeline.UnigramLm.saveModel(s, model, unigramArtifactPath(dir, 40))
    }
    graft.pipeline.UnigramLm.piecesDF(s, model)
  }

  /** Viterbi encode of the corpus under the p19-trained model AT REST
    * (loaded artifact — the production encode shape; loaded ≡ in-memory
    * is spec- and p23-certified): broadcast log-probs, one narrow pass,
    * no shuffle. Rows-only (same reason as p19). */
  private def p20(s: SparkSession, dir: String): DataFrame =
    graft.pipeline.UnigramLm.encode(
      table(s, dir, "documents"), "doc_id", "text",
      unigramModelAtRest(s, dir, vocabSize = 40))
      .select("doc_id", "n_pieces")

  /** Tokenizer-artifact round trip (BPE): save the p8-trained merge
    * table to parquet ([[graft.pipeline.Bpe.saveMerges]] — the at-rest
    * face mirroring the s9/s10/s12 index-at-rest pattern), load it
    * back, and encode the corpus under BOTH the loaded and the
    * in-memory model. The output is the differential summary
    * (n_docs, n_mismatched, model_roundtrip), which gives the LOADED
    * face a FULL oracle even though BPE itself has no SQL analog: the
    * oracle independently pins "every document encodes identically and
    * the artifact survives the round trip byte-for-byte", so any
    * save/load corruption (schema drift, rank disorder, string
    * mangling) turns the row red. Scale shape: two broadcast-model
    * narrow encode passes, one doc_id equi-join, a single-row agg. */
  private def p22(s: SparkSession, dir: String): DataFrame = {
    // at-rest input model, same rationale as p23: artifacts are
    // re-published from LOADED models, and save∘load∘save∘load
    // bit-stability is the stronger idempotence claim
    val merges = bpeMergesAtRest(s, dir, nMerges = 20)
    val path = Q.tmpArtifactPath("p22", dir)
    graft.pipeline.Bpe.saveMerges(s, merges, path)
    val loaded = graft.pipeline.Bpe.loadMerges(s, path)
    val docs = table(s, dir, "documents")
    val mem = graft.pipeline.Bpe.encode(docs, "doc_id", "text", merges)
      .select(col("doc_id"), col("bpe_tokens").as("mem_tokens"))
    val ld = graft.pipeline.Bpe.encode(docs, "doc_id", "text", loaded)
      .select(col("doc_id"), col("bpe_tokens").as("ld_tokens"))
    mem.join(ld, "doc_id")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(when(col("mem_tokens") =!= col("ld_tokens"), 1L).otherwise(0L))
          .as("n_mismatched"))
      .withColumn("model_roundtrip", lit(loaded == merges))
  }

  /** Tokenizer-artifact round trip (unigram LM): [[graft.pipeline.UnigramLm.saveModel]]
    * → [[graft.pipeline.UnigramLm.loadModel]] → encode under both
    * models, same differential-summary design (and justification) as
    * p22. `model_roundtrip` compares the full `Piece` lists including
    * the recomputed probs, so it also certifies the counts-are-source-
    * of-truth reconstruction is bit-exact. The input model comes from
    * the at-rest store (production lifecycle: artifacts are saved from
    * LOADED models when re-published, not retrained) — save∘load∘save∘load
    * bit-stability is a strictly stronger idempotence claim than one
    * round trip from memory, and the bench stops paying an EM retrain
    * that p19 already measures. */
  private def p23(s: SparkSession, dir: String): DataFrame = {
    val model = unigramModelAtRest(s, dir, vocabSize = 40)
    val path = Q.tmpArtifactPath("p23", dir)
    graft.pipeline.UnigramLm.saveModel(s, model, path)
    val loaded = graft.pipeline.UnigramLm.loadModel(s, path)
    val docs = table(s, dir, "documents")
    val mem = graft.pipeline.UnigramLm.encode(docs, "doc_id", "text", model)
      .select(col("doc_id"), col("pieces").as("mem_pieces"))
    val ld = graft.pipeline.UnigramLm.encode(docs, "doc_id", "text", loaded)
      .select(col("doc_id"), col("pieces").as("ld_pieces"))
    mem.join(ld, "doc_id")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(when(col("mem_pieces") =!= col("ld_pieces"), 1L).otherwise(0L))
          .as("n_mismatched"))
      .withColumn("model_roundtrip", lit(loaded == model))
  }

  /** Curriculum staging over the t2 quality score: quartile thresholds →
    * 4 stages, lowest-quality quartile = stage 1. */
  private def p5(s: SparkSession, dir: String): DataFrame =
    graft.pipeline.TrainingPrep.curriculum(
      TextAnalysis.qualityScore(table(s, dir, "documents"), "text")
        .select(col("doc_id"), col("quality")),
      "quality", nStages = 4)
      .select("doc_id", "quality", "stage")

  /** Exact interpolated percentiles per group (corpus statistics for
    * pipeline monitoring) — `percentile` is Spark's exact variant, so the
    * oracle (`quantile_cont`) matches to float tolerance. At 100 TB switch
    * to `percentile_approx` (t-digest, mergeable, one pass). */
  private def t5(s: SparkSession, dir: String): DataFrame =
    table(s, dir, "events")
      .groupBy(col("event_type"))
      .agg(
        count(lit(1)).as("n"),
        expr("percentile(value, 0.5)").as("p50"),
        expr("percentile(value, 0.95)").as("p95"))

  /** Calendar decomposition: revenue by (year, month, day-of-week) —
    * the date/time function surface (year/month/dayofweek over a
    * timestamp column; the reference has no temporal type at all, SURVEY
    * §2.12). Sums of 2-decimal money rounded at 2 dp (exact there). */
  private def x31(s: SparkSession, dir: String): DataFrame =
    table(s, dir, "orders")
      .groupBy(year(col("o_orderdate")).as("yr"),
        month(col("o_orderdate")).as("mo"),
        dayofweek(col("o_orderdate")).as("dow"))
      .agg(count(lit(1)).as("n_orders"),
        round(sum(col("o_totalprice")), 2).as("sum_price"))

  /** Vocabulary typo candidates: adjacent tokens (sorted order) within
    * Levenshtein distance 2 — the string-distance face of data cleaning,
    * over the vocabulary-sized aggregate (NOT all token pairs: the sort
    * puts likely typos next to each other; the full pair space would be
    * |V|² and is exactly what d2's prefix pruning exists to avoid). */
  private def t20(s: SparkSession, dir: String): DataFrame = {
    val w = Window.orderBy(col("tok"))
    table(s, dir, "documents")
      .select(explode(TextFunctions.tokens(col("text"))).as("tok"))
      .where(col("tok") =!= "").distinct()
      .withColumn("prev_tok", lag(col("tok"), 1).over(w))
      .where(col("prev_tok").isNotNull)
      .withColumn("dist", levenshtein(col("tok"), col("prev_tok")))
      .where(col("dist") <= 2)
      .select(col("prev_tok"), col("tok"), col("dist"))
  }

  /** Semi-structured extraction: typed field pulled out of the JSON
    * `props` column with a declared schema (`from_json` — codegen'd
    * parse, no UDF), then aggregated. Malformed JSON or a missing field
    * yields null, which the aggregates skip — the PERMISSIVE contract
    * the sources module establishes, applied per cell. */
  private def x30(s: SparkSession, dir: String): DataFrame =
    table(s, dir, "events")
      .select(col("event_type"),
        from_json(col("props"), org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("k",
            org.apache.spark.sql.types.LongType)))).getField("k").as("k"))
      .groupBy(col("event_type"))
      .agg(count(col("k")).as("n_with_k"), sum(col("k")).as("sum_k"),
        min(col("k")).as("min_k"), max(col("k")).as("max_k"))

  /** Winsorization (percentile clipping): values clamped to the global
    * [p01, p99] — the outlier-capping step of feature/score cleaning.
    * Thresholds via broadcast 1-row cross join (no driver action); the
    * clamp returns one of {value, p01, p99} verbatim, so no rounding is
    * needed beyond the percentile interpolation t5 already oracles.
    * At 100 TB swap `percentile` for `percentile_approx` (t-digest,
    * mergeable) — same plumbing. */
  private def t19(s: SparkSession, dir: String): DataFrame = {
    val ev = table(s, dir, "events")
    val b = ev.agg(
      expr("percentile(value, 0.01)").as("p01"),
      expr("percentile(value, 0.99)").as("p99"))
    ev.crossJoin(broadcast(b))
      .select(col("event_id"), col("value"),
        least(greatest(col("value"), col("p01")), col("p99")).as("value_w"),
        (col("value") < col("p01") || col("value") > col("p99")).as("clipped"))
  }

  /** HTML → text extraction end-to-end: each document wrapped IN-PLAN in
    * a realistic page (script whose body contains a bare `<`, style,
    * comment, headings, entities — a double-encoded one included), then
    * [[Curation.extractHtmlText]]. The oracle builds the identical page
    * and replicates the extraction chain in RE2 SQL — exact string
    * equality, no tolerance (every pattern means the same thing under
    * Java regex and RE2; that portability is part of the operator's
    * contract). */
  private def t22(s: SparkSession, dir: String): DataFrame = {
    val html = concat(
      lit("<html><head><title>T"), col("doc_id").cast("string"),
      lit("</title><script type=\"text/javascript\">var x = 1 < 2;</script>" +
        "<style>p { color: red; }</style></head><body><!-- c --><h1>Doc "),
      col("doc_id").cast("string"),
      lit("</h1><p>"), col("text"),
      lit(" &amp;amp; entities &lt;b&gt; &quot;q&quot; &#39;s&#39;&nbsp;end" +
        "</p><br/></body></html>"))
    table(s, dir, "documents")
      .select(col("doc_id"), Curation.extractHtmlText(html).as("clean_text"))
      .withColumn("clean_chars", length(col("clean_text")))
  }

  /** URL features + domain blocklist end-to-end: URLs built IN-PLAN from
    * source/doc_id, but the operator genuinely PARSES them (`parse_url`
    * host/path, label regexes, split-depth) — the oracle only knows the
    * construction formula, so a parse that drifted from it fails. The
    * one-row blocklist {example.org} broadcasts; every .org URL flags. */
  private def t23(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val sub = element_at(array(lit("www."), lit("blog."), lit("cdn."), lit("")),
      (col("doc_id") % 4 + 1).cast("int"))
    val tld = element_at(array(lit(".com"), lit(".org"), lit(".net")),
      (col("doc_id") % 3 + 1).cast("int"))
    val url = concat(lit("https://"), sub, col("source"), lit(".example"), tld,
      lit("/p"), (col("doc_id") % 5).cast("string"),
      lit("/page"), col("doc_id").cast("string"),
      lit(".html?q="), (col("doc_id") % 7).cast("string"))
    val blocklist = Seq("example.org").toDF("domain")
    Curation.urlFeatures(
      table(s, dir, "documents").select(col("doc_id"), url.as("url")),
      "url", blocklist)
      .select(col("doc_id"), col("url_host"), col("url_domain"),
        col("url_tld"), col("path_depth"), col("is_blocked"))
  }

  /** Full outer join with real null-extension on BOTH sides: nations with
    * rich customers vs nations with rich suppliers (the > 9000 filters
    * leave each side holding nations the other lacks), keys coalesced,
    * absent counts surfaced as 0. */
  private def x22(s: SparkSession, dir: String): DataFrame = {
    val c = table(s, dir, "customer").where(col("c_acctbal") > 9000)
      .groupBy(col("c_nationkey")).agg(count(lit(1)).as("n_rich_customers"))
    val sup = table(s, dir, "supplier").where(col("s_acctbal") > 9000)
      .groupBy(col("s_nationkey")).agg(count(lit(1)).as("n_rich_suppliers"))
    c.join(sup, c("c_nationkey") === sup("s_nationkey"), "full_outer")
      .select(
        coalesce(c("c_nationkey"), sup("s_nationkey")).as("nationkey"),
        coalesce(col("n_rich_customers"), lit(0L)).as("n_rich_customers"),
        coalesce(col("n_rich_suppliers"), lit(0L)).as("n_rich_suppliers"))
  }

  /** Bivariate statistics per group: Pearson correlation, sample
    * covariance, sample stddev — the stats-aggregate face of the OLAP
    * surface. round(): accumulation order differs between engines;
    * corr ∈ [-1,1] is rounded at 9 dp, covar/stddev (magnitude ~1e4)
    * at 6 dp — both far above the last-ULP noise. */
  private def x23(s: SparkSession, dir: String): DataFrame =
    table(s, dir, "lineitem")
      .groupBy(col("l_returnflag"))
      .agg(
        count(lit(1)).as("n"),
        round(corr(col("l_quantity"), col("l_extendedprice")), 9).as("corr_qty_price"),
        round(covar_samp(col("l_quantity"), col("l_extendedprice")), 6).as("covar_qty_price"),
        round(stddev_samp(col("l_extendedprice")), 6).as("sd_price"))

  /** Time-interval (RANGE-frame) window: trailing-hour event count and
    * value sum per event — the value-range frame face of the window
    * surface (x4/x14 cover ROWS frames). RANGE frames are defined by the
    * ORDER-BY value, so peers (equal timestamps) get identical results in
    * any engine — no tie-break column needed, deterministic by
    * construction. */
  private def x24(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts_s"))
      .rangeBetween(-3600L, 0L)
    val ev = table(s, dir, "events")
    ev
      .select(col("event_id"), col("user_id"),
        Streaming.epochSeconds(ev).as("ts_s"), col("value"))
      .select(col("event_id"), col("user_id"),
        count(lit(1)).over(w).as("n_trailing_hr"),
        round(sum(col("value")).over(w), 9).as("sum_trailing_hr"))
  }

  /** Time-series gap fill: hourly event counts per type with EVERY hour
    * in the corpus span present (missing hours = 0) — the resampling
    * scaffold join. Bounds travel via a broadcast 1-row cross join (no
    * driver action); the scaffold is types × hours, tiny next to the
    * event stream. */
  private def x25(s: SparkSession, dir: String): DataFrame = {
    val evRaw = table(s, dir, "events")
    // floor(long / 3600) is exact in double here: epoch seconds < 2^53 and a
    // non-integral quotient is >= 1/3600 away from any integer
    val ev = evRaw
      .select(col("event_type"), floor(Streaming.epochSeconds(evRaw) / lit(3600)).as("h"))
    val bounds = ev.agg(min(col("h")).as("h0"), max(col("h")).as("h1"))
    val scaffold = ev.select(col("event_type")).distinct()
      .crossJoin(broadcast(bounds))
      .select(col("event_type"), explode(sequence(col("h0"), col("h1"))).as("h"))
    val counts = ev.groupBy(col("event_type"), col("h"))
      .agg(count(lit(1)).as("n"))
    scaffold.join(counts, Seq("event_type", "h"), "left")
      .select(col("event_type"), (col("h") * 3600).as("hour_s"),
        coalesce(col("n"), lit(0L)).as("n_events"))
  }

  /** CDC merge: a deterministic changeset over orders (every 10th key
    * upserted with +1000 price, every 17th deleted, every 50th inserted
    * as a new key) applied to the snapshot, then aggregated. Exercises
    * all three MERGE INTO outcomes in one hash-checked result. */
  private def x26(s: SparkSession, dir: String): DataFrame = {
    val snap = table(s, dir, "orders")
      .select(col("o_orderkey"), col("o_orderpriority"), col("o_totalprice"))
    val updates = snap.where(col("o_orderkey") % 10 === 0)
      .withColumn("o_totalprice", col("o_totalprice") + 1000.0)
      .withColumn("op", lit(CdcMerge.Upsert))
    val deletes = snap.where(col("o_orderkey") % 17 === 0)
      .withColumn("op", lit(CdcMerge.Delete))
    // negated keys: disjoint from the (positive) live key space at ANY
    // scale factor — an additive offset would collide once keys pass it
    val inserts = snap.where(col("o_orderkey") % 50 === 0)
      .withColumn("o_orderkey", -col("o_orderkey") - 1L)
      .withColumn("op", lit(CdcMerge.Upsert))
    // deletes win over updates on overlapping keys (10 and 17 share
    // multiples): keep the delete row, drop the update — one row per key
    val changes = updates.unionByName(deletes).unionByName(inserts)
      .withColumn("__rk", row_number().over(
        Window.partitionBy(col("o_orderkey"))
          .orderBy(when(col("op") === CdcMerge.Delete, 0).otherwise(1))))
      .where(col("__rk") === 1).drop("__rk")
    CdcMerge(snap, changes, Seq("o_orderkey"))
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_orders"),
        round(sum(col("o_totalprice")), 2).as("sum_price"))
  }

  /** Snapshot reconciliation over a deterministic "after" version of
    * orders (every 7th key re-priced, every 13th dropped, every 31st key
    * negated in as new): per-status counts + example keys — the data-
    * diff regression check. */
  private def x32(s: SparkSession, dir: String): DataFrame = {
    val before = table(s, dir, "orders")
      .select(col("o_orderkey"), col("o_orderpriority"), col("o_totalprice"))
    val after = before.where(col("o_orderkey") % 13 =!= 0)
      .withColumn("o_totalprice",
        when(col("o_orderkey") % 7 === 0, col("o_totalprice") + 5.0)
          .otherwise(col("o_totalprice")))
      .unionByName(before.where(col("o_orderkey") % 31 === 0)
        .withColumn("o_orderkey", -col("o_orderkey") - 1L))
    graft.operators.Reconcile.summary(before, after, Seq("o_orderkey"))
      // string-join the example list: scalar columns hash identically
      // across engines without relying on nested-type representation
      .withColumn("example_keys", concat_ws(",", col("example_keys")))
  }

  /** SCD2 build over a real change log: each customer's orders as
    * versioned "state changes" ([[graft.operators.Scd2.fromChangeLog]]) —
    * valid_from/valid_to interval chain per customer, same-day ties
    * resolved by largest order key, open tail flagged current. One key
    * shuffle + one window pass (PlanSpec-style assertion in Scd2Spec);
    * the incremental face (applyChanges, history untouched) is
    * spec-verified equivalent to this full build. */
  private def x33(s: SparkSession, dir: String): DataFrame = {
    val changes = table(s, dir, "orders")
      .select(col("o_custkey"), col("o_orderdate"), col("o_orderkey"),
        col("o_orderstatus"), col("o_totalprice"))
    graft.operators.Scd2.fromChangeLog(
      changes, "o_custkey", "o_orderdate", "o_orderkey")
      .select(col("o_custkey"), col("o_orderkey"), col("o_orderstatus"),
        col("o_totalprice"), col("valid_from"), col("valid_to"),
        col("is_current"))
  }

  /** JSONL ingest round trip — the LLM-corpus wire format face of §2.6:
    * documents serialized to JSON lines with every 10th line TRUNCATED
    * (a cut-off shard, the standard corruption), read back through the
    * PERMISSIVE [[graft.sources.Sources.readJsonNullable]] path. Corrupt
    * lines land whole in `_corrupt_record` with null fields and are
    * dropped; valid lines round-trip exactly, so the oracle is the
    * source table minus the corrupted ids. */
  /** ORC round trip with a filtered read-back: the inherited-lake format
    * face (x35's JSONL sibling). Write is in-plan and idempotent
    * (overwrite, dir keyed on input path); read must push the predicate
    * into the ORC scan (PlanSpec) and reproduce the source rows exactly. */
  private def x37(s: SparkSession, dir: String): DataFrame = {
    val out = Q.tmpArtifactPath("x37", dir)
    graft.sources.Sources.writeOrc(
      table(s, dir, "documents").select("doc_id", "text", "lang", "source", "n_chars"),
      out)
    graft.sources.Sources.readOrc(s, out)
      .where(col("n_chars") > 64)
      .select("doc_id", "text", "lang", "source", "n_chars")
  }

  /** Schema evolution at rest (x37's lifecycle sibling): generation 1
    * files carry (doc_id, source), generation 2 adds n_chars — the
    * append-only column addition every long-lived lake accrues. The
    * mergeSchema read surfaces the union schema with gen-1 rows null in
    * the added column; a plain read would silently DROP it
    * ([[graft.sources.Sources.readParquetMergeSchema]] scaladoc). Select
    * pins column order (merge order depends on footer enumeration). */
  private def x38(s: SparkSession, dir: String): DataFrame = {
    val out = Q.tmpArtifactPath("x38", dir)
    val docs = table(s, dir, "documents")
    docs.where(col("doc_id") % 2 === 0).select("doc_id", "source")
      .coalesce(2).write.mode("overwrite").parquet(s"$out/gen1")
    docs.where(col("doc_id") % 2 === 1).select("doc_id", "source", "n_chars")
      .coalesce(2).write.mode("overwrite").parquet(s"$out/gen2")
    graft.sources.Sources.readParquetMergeSchema(s, s"$out/gen*")
      .select("doc_id", "source", "n_chars")
  }

  private def x35(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types._
    val payload = struct(col("doc_id"), col("text"), col("lang"),
      col("source"), col("n_chars"))
    // truncate-plus-stray-brace: truncation alone is not GUARANTEED
    // invalid (to_json omits null fields, so an all-null row serializes
    // under 20 chars and would survive intact); the appended brace makes
    // even a complete short object malformed
    val lines = table(s, dir, "documents").select(
      when(col("doc_id") % 10 === 0,
        concat(substring(to_json(payload), 1, 20), lit("{")))
        .otherwise(to_json(payload)).as("value"))
    // pid component: two JVMs on the same dataset (sbt test + Bench) must
    // not race overwrite-vs-read on a shared fixture path
    val tmp = Q.tmpArtifactPath("x35", dir)
    lines.coalesce(4).write.mode("overwrite").text(tmp)
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType),
      StructField("lang", StringType), StructField("source", StringType),
      StructField("n_chars", LongType)))
    // persisted (Spark's documented workaround, SPARK-21610 class): a
    // downstream count() would prune every column BUT `_corrupt_record`,
    // and queries whose required schema is ONLY the corrupt column are
    // disallowed against raw JSON — the cache materializes all columns
    graft.CacheRegistry.persisted(
        graft.sources.Sources.readJsonNullable(s, tmp, schema, keepCorrupt = true))
      .where(col("_corrupt_record").isNull)
      .select("doc_id", "text", "lang", "source", "n_chars")
  }

  /** Equal-width histogram: 10 buckets over the global [min, max] of
    * value per event type (bounds via broadcast 1-row cross join). The
    * bucket arithmetic is identical IEEE ops on identical operands in
    * both engines — deterministic without rounding. */
  private def x27(s: SparkSession, dir: String): DataFrame = {
    val ev = table(s, dir, "events").select(col("event_type"), col("value"))
    val bounds = ev.agg(min(col("value")).as("lo"), max(col("value")).as("hi"))
    ev.crossJoin(broadcast(bounds))
      .select(col("event_type"),
        least(floor((col("value") - col("lo")) / (col("hi") - col("lo")) * 10)
          .cast("long"), lit(9L)).as("bucket"))
      .groupBy(col("event_type"), col("bucket"))
      .agg(count(lit(1)).as("n"))
  }

  /** Ordered funnel: users who viewed, then clicked AFTER their first
    * view, then purchased AFTER that click — the classic product-
    * analytics query. Each stage is one filtered aggregate joined to the
    * previous stage's timestamps (strictly-after semantics via min-ts
    * comparison — deterministic regardless of tie order since only the
    * per-user MINIMUM crosses stages). */
  private def x28(s: SparkSession, dir: String): DataFrame = {
    val evRaw = table(s, dir, "events")
    val ev = evRaw
      .select(col("user_id"), col("event_type"), Streaming.epochSeconds(evRaw).as("ts_s"))
    val v = ev.where(col("event_type") === "view")
      .groupBy(col("user_id")).agg(min(col("ts_s")).as("t1"))
    val c = ev.where(col("event_type") === "click")
      .join(v, "user_id").where(col("ts_s") > col("t1"))
      .groupBy(col("user_id")).agg(min(col("ts_s")).as("t2"))
    val p = ev.where(col("event_type") === "purchase")
      .join(c, "user_id").where(col("ts_s") > col("t2"))
      .groupBy(col("user_id")).agg(min(col("ts_s")).as("t3"))
    v.agg(count(lit(1)).as("n_viewed"))
      .crossJoin(c.agg(count(lit(1)).as("n_clicked_after")))
      .crossJoin(p.agg(count(lit(1)).as("n_purchased_after")))
  }

  /** Cohort retention: users bucketed by first-activity week, counted by
    * weeks-since-cohort offset — the activity matrix behind every
    * retention curve. Absolute epoch weeks, no corpus-dependent origin. */
  private def x29(s: SparkSession, dir: String): DataFrame = {
    val evRaw = table(s, dir, "events")
    val ev = evRaw
      .select(col("user_id"),
        floor(Streaming.epochSeconds(evRaw) / lit(604800)).as("week"))
      .distinct()
    val cohort = ev.groupBy(col("user_id")).agg(min(col("week")).as("cohort_week"))
    ev.join(cohort, "user_id")
      .groupBy(col("cohort_week"), (col("week") - col("cohort_week")).as("week_offset"))
      .agg(count(lit(1)).as("n_users"))
  }

  /** Anti join: customers with no high-value order (set difference by
    * key; the filter is pushed below the join build side). */
  private def x5(s: SparkSession, dir: String): DataFrame = {
    val c = table(s, dir, "customer")
    val o = table(s, dir, "orders")
      .where(col("o_totalprice") > 200000.0)
      .select(col("o_custkey"))
    c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n_never_ordered"), min(col("c_custkey")).as("min_custkey"))
  }

  /** Deterministic stratified sampling: n rows per group, selected by a
    * content hash order (reproducible across runs/engines — the property
    * that matters for training-data subsampling audits). Selection runs
    * through the mergeable bounded-buffer aggregator
    * ([[graft.folds.Aggregators.bottomK]]): at most n (hash, id, value)
    * entries per group per partition cross the shuffle, where the previous
    * window `row_number` formulation shuffled AND sorted every row. Hash
    * strings compare bytewise in both engines (lowercase hex), so the
    * order matches the oracle's `ORDER BY md5(...)` exactly. */
  private def x6(s: SparkSession, dir: String): DataFrame = {
    val pick = graft.folds.Aggregators.asColumn(
      graft.folds.Aggregators.bottomK[(String, Long, Double)](3),
      md5(col("event_id").cast("string")), col("event_id"), col("value"))(
      org.apache.spark.sql.Encoders.tuple(
        org.apache.spark.sql.Encoders.STRING,
        org.apache.spark.sql.Encoders.scalaLong,
        org.apache.spark.sql.Encoders.scalaDouble))
    table(s, dir, "events")
      .groupBy(col("event_type"))
      .agg(pick.as("picked"))
      .select(col("event_type"), explode(col("picked")).as("e"))
      .select(col("e._2").as("event_id"), col("event_type"), col("e._3").as("value"))
  }

  /** Corpus vocabulary: token document-frequency and collection-frequency
    * — the first pass of any tokenizer/vocab build. Top tokens by
    * collection frequency with deterministic tie-break. */
  private def t6(s: SparkSession, dir: String): DataFrame =
    table(s, dir, "documents")
      .select(col("doc_id"), explode(TextFunctions.tokens(col("text"))).as("tok"))
      .groupBy(col("tok"))
      .agg(count(lit(1)).as("cf"), countDistinct(col("doc_id")).as("df"))
      .orderBy(col("cf").desc, col("tok"))
      .limit(20)

  /** The 100 TB statistics path: sketch-based approximate aggregates
    * (HLL++ distinct counts, percentile sketches) — mergeable one-pass
    * state, unlike their exact counterparts (t5). Sketch values are
    * engine-defined, so the ORACLE is TOLERANCE-BANDED (round 13, was
    * rows-only): the query emits each group's EXACT anchors plus
    * booleans asserting the estimates sit inside their documented
    * bounds — HLL++ at rsd 0.05 within ±15% (3σ) of the exact distinct
    * count, percentile_approx(accuracy=1000) between the exact
    * quantiles at rank ±0.02 (20× its 1/accuracy rank guarantee, exact
    * still at every SF). DuckDB recomputes the anchors and asserts
    * literal TRUE, so a drifting estimate hash-mismatches instead of
    * hiding behind a row count. */
  private def a1(s: SparkSession, dir: String): DataFrame =
    table(s, dir, "events")
      .groupBy(col("event_type"))
      .agg(
        countDistinct(col("user_id")).as("exact_users"),
        approx_count_distinct(col("user_id")).as("__au"),
        percentile_approx(col("value"), lit(0.5), lit(1000)).as("__p50a"),
        percentile_approx(col("value"), lit(0.95), lit(1000)).as("__p95a"),
        expr("percentile(value, 0.48)").as("__p50lo"),
        expr("percentile(value, 0.52)").as("__p50hi"),
        expr("percentile(value, 0.93)").as("__p95lo"),
        expr("percentile(value, 0.97)").as("__p95hi"))
      .select(col("event_type"), col("exact_users"),
        (abs(col("__au") - col("exact_users")) <=
          col("exact_users") * 0.15).as("users_within_eps"),
        col("__p50a").between(col("__p50lo"), col("__p50hi"))
          .as("p50_within_rank"),
        col("__p95a").between(col("__p95lo"), col("__p95hi"))
          .as("p95_within_rank"))

  /** Mergeable HLL distinct-count sketches (Apache DataSketches via
    * Spark's `hll_sketch_agg` family) — the at-rest pre-aggregation
    * pattern for 100 TB distinct counts: per-source sketches are built
    * once (one partial-agg shuffle), stored as bytes, and ANY grouping of
    * sources is answered later by unioning sketches instead of rescanning
    * the corpus. Emits one row per source plus the `__all__` union row.
    * TOLERANCE-BANDED oracle (round 13, was rows-only): each row carries
    * the EXACT distinct count and a boolean asserting the sketch
    * estimate sits within ±5% of it (lgK=12 RSE ≈ 1.6%, so 5% ≈ 3σ) —
    * DuckDB recomputes the exact counts and asserts TRUE. FoldsSpec
    * still pins the merge law (union of partials ≡ sketch of the whole)
    * at property depth. */
  private def a2(s: SparkSession, dir: String): DataFrame = {
    val toks = table(s, dir, "documents")
      .select(col("source"), explode(split(col("text"), " ")).as("tok"))
    // persisted: the per-source branch and the union branch both read the
    // sketch relation, and Spark does not share subtrees across a union —
    // without this the scan + explode + sketch aggregation runs twice
    val perSource = toks.groupBy(col("source"))
      .agg(expr("hll_sketch_agg(tok)").as("sk"),
        countDistinct(col("tok")).as("exact_distinct_tokens"))
      .transform(graft.CacheRegistry.persisted(_))
    def banded(est: org.apache.spark.sql.Column, exact: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
      (abs(est - exact) <= exact * 0.05).as("est_within_eps")
    perSource
      .select(col("source"), col("exact_distinct_tokens"),
        banded(expr("hll_sketch_estimate(sk)"), col("exact_distinct_tokens")))
      .unionAll(perSource
        .agg(expr("hll_sketch_estimate(hll_union_agg(sk))").as("__est"))
        .crossJoin(broadcast(
          toks.agg(countDistinct(col("tok")).as("exact_distinct_tokens"))))
        .select(lit("__all__").as("source"), col("exact_distinct_tokens"),
          banded(col("__est"), col("exact_distinct_tokens"))))
  }

  /** KLL quantile sketches per event_type (p50/p95 estimates + exact n)
    * — the sketch-at-rest quantile path next to a2's HLL distinct counts
    * and t5's exact percentiles. KLL compaction flips coins, so the
    * values are run-dependent — but the RANK-ERROR bound is not:
    * TOLERANCE-BANDED oracle (round 13, was rows-only) asserting each
    * estimate lies between the exact quantiles at rank ±0.03 (k=200's
    * documented envelope with slack), next to the exact group count.
    * FoldsSpec pins the bound at property depth. */
  private def a3(s: SparkSession, dir: String): DataFrame = {
    val events = table(s, dir, "events")
    val sk = graft.folds.KllQuantiles.quantilesByKey(
      events, "event_type", "value", ranks = Seq(0.5, 0.95))
    // quantilesByKey already carries the exact per-group n
    val exact = events.groupBy(col("event_type")).agg(
      expr("percentile(value, 0.47)").as("__p50lo"),
      expr("percentile(value, 0.53)").as("__p50hi"),
      expr("percentile(value, 0.92)").as("__p95lo"),
      expr("percentile(value, 0.98)").as("__p95hi"))
    sk.join(exact, "event_type")
      .select(col("event_type"), col("n"),
        col("q_50").between(col("__p50lo"), col("__p50hi"))
          .as("q50_within_rank"),
        col("q_95").between(col("__p95lo"), col("__p95hi"))
          .as("q95_within_rank"))
  }

  /** Count-min point-frequency probes. CMS is LINEAR (counters add), so
    * the merged sketch ≡ the whole-data sketch bitwise and, at width 256
    * ≫ the 31-token vocabulary with no full-depth collision (spec'd),
    * estimates EQUAL exact counts — so this sketch query gets a real
    * exact-count oracle (zero-count probes kept via the scaffold join).
    * The estimate ≥ exact bound when collisions do occur is CmsSpec's. */
  private val a4Probes = Seq("data", "join", "query", "hash", "stream", "vector")
  /** Exact pairwise source-vocabulary overlap matrix over the documents
    * corpus — 20 sources → 190 unordered pairs at every SF. */
  private def a5(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.sourceOverlap(table(s, dir, "documents"), "source", "text")

  private def a4(s: SparkSession, dir: String): DataFrame = {
    val docs = table(s, dir, "documents")
      .select(col("source"), explode(TextFunctions.tokens(col("text"))).as("tok"))
    graft.folds.CmsFrequency.frequenciesByKey(
      docs, "source", "tok", a4Probes)
  }

  /** Skew-resistant exact distinct count: value-hash salt splits each hot
    * key's distinct-set state across 32 buckets (two uniform shuffles);
    * l_returnflag has only 3 values, so every key IS a hot key here. */
  private def x7(s: SparkSession, dir: String): DataFrame =
    SaltedAgg.distinctAgg(table(s, dir, "lineitem"),
      keys = Seq("l_returnflag"), valueCol = "l_partkey", saltBuckets = 32,
      distinctOut = "distinct_parts",
      companions = Seq(SaltedAgg.Sum("l_quantity", "sum_qty")))

  /** Skew-salted shuffle join: lineitem ⋈ orders on orderkey, salted 4
    * ways (probe rows spread by a hash of the table's unique key
    * (orderkey, linenumber) — deterministic, so retry-safe as a shuffle
    * partitioning key — build rows replicated), then aggregated. Result is
    * identical to the plain join — the oracle IS the plain join — while no
    * task sees more than ~1/4 of any hot key.
    * sum_qty sums integral doubles: exact in IEEE, order-independent. */
  private def x20(s: SparkSession, dir: String): DataFrame = {
    val l = table(s, dir, "lineitem")
      .select(col("l_orderkey").as("orderkey"), col("l_linenumber"),
        col("l_quantity"))
    val o = table(s, dir, "orders")
      .select(col("o_orderkey").as("orderkey"), col("o_orderpriority"))
    graft.operators.SkewJoin.salted(l, o, Seq("orderkey"), nSalts = 4,
        saltFrom = Some(struct(col("orderkey"), col("l_linenumber"))))
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_items"), sum(col("l_quantity")).as("sum_qty"))
  }

  /** Morton (z-order) curve position over (user_id, event_id) low bytes —
    * the bit-interleave kernel behind [[graft.sources.ZOrder.writeZOrdered]]
    * multi-column data layout, oracled bit-for-bit in ANSI SQL. The raw
    * low-8-bit masks stand in for the sink's equi-width buckets so the
    * oracle needs no min/max scaling. Pure integer shift/mask projection:
    * shuffle-free, codegen'd. */
  private def x21(s: SparkSession, dir: String): DataFrame =
    table(s, dir, "events").select(
      col("event_id"),
      graft.sources.ZOrder.interleaveBits(
        Seq(col("user_id").bitwiseAND(lit(255L)),
            col("event_id").bitwiseAND(lit(255L))), bits = 8).as("zval"))

  /** Full cube (all grouping-set combinations) over two dimensions. */
  private def x8(s: SparkSession, dir: String): DataFrame =
    table(s, dir, "lineitem")
      .cube(col("l_returnflag"), col("l_linestatus"))
      .agg(sum(col("l_extendedprice")).as("sum_price"), count(lit(1)).as("n"))

  /** Offset window functions: previous/next order price per customer and
    * the delta — the lag/lead face of the window surface (x4 covers
    * running aggregates + rank). */
  private def x9(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate"), col("o_orderkey"))
    table(s, dir, "orders").select(
      col("o_custkey"), col("o_orderkey"), col("o_totalprice"),
      lag(col("o_totalprice"), 1).over(w).as("prev_price"),
      lead(col("o_totalprice"), 1).over(w).as("next_price"),
      (col("o_totalprice") - lag(col("o_totalprice"), 1).over(w)).as("delta_prev"))
  }

  /** Rank-family windows with REAL tie semantics: rank/dense_rank/
    * percent_rank/cume_dist rank over the coarse key floor(value) — many
    * ties, and all four are functions of the row's key alone, so the
    * result is deterministic despite them; ntile depends on the arbitrary
    * within-tie order, so it ranks over the total key (value, event_id). */
  private def x19(s: SparkSession, dir: String): DataFrame = {
    val wCoarse = Window.partitionBy(col("event_type")).orderBy(floor(col("value")))
    val wTotal = Window.partitionBy(col("event_type")).orderBy(col("value"), col("event_id"))
    table(s, dir, "events").select(
      col("event_id"), col("event_type"),
      rank().over(wCoarse).as("rnk"),
      dense_rank().over(wCoarse).as("drnk"),
      percent_rank().over(wCoarse).as("prank"),
      cume_dist().over(wCoarse).as("cdist"),
      ntile(4).over(wTotal).as("quartile"))
  }

  /** Banded interval join, no equi key: lineitems shipped within the day
    * after any high-value order was placed (pure temporal containment —
    * the band equi-join replaces a nested-loop cross product). */
  private def x10(s: SparkSession, dir: String): DataFrame = {
    val iv = table(s, dir, "orders")
      .where(col("o_totalprice") > 450000.0)
      .select(col("o_orderkey"),
        unix_timestamp(col("o_orderdate")).as("start_s"),
        (unix_timestamp(col("o_orderdate")) + 86400L).as("end_s"))
    val pts = table(s, dir, "lineitem")
      .select(col("l_orderkey"), col("l_linenumber"),
        unix_timestamp(col("l_shipdate")).as("ship_s"))
    RangeJoin.pointInInterval(pts, "ship_s", iv, "start_s", "end_s", bucketWidth = 86400L)
      .groupBy(col("o_orderkey"))
      .agg(count(lit(1)).as("n_shipped"), min(col("ship_s")).as("first_ship_s"))
  }

  /** Interval OVERLAP join (x10's two-sided sibling): high-value orders'
    * week-long windows against every lineitem's ship→receipt interval,
    * banded on week buckets with the overlap-start exactly-once rule —
    * no cross product, no post-join dedup. */
  private def x36(s: SparkSession, dir: String): DataFrame = {
    val iv = table(s, dir, "orders")
      .where(col("o_totalprice") > 450000.0)
      .select(col("o_orderkey"),
        unix_timestamp(col("o_orderdate")).as("o_start"),
        (unix_timestamp(col("o_orderdate")) + 604800L).as("o_end"))
    // receipt = ship + 1..30 days, varied by line number (the testdata
    // carries no receiptdate; TPC-H's is this distribution)
    val li = table(s, dir, "lineitem")
      .select(col("l_orderkey"),
        unix_timestamp(col("l_shipdate")).as("l_start"),
        (unix_timestamp(col("l_shipdate")) +
          (lit(1L) + col("l_linenumber") % 30) * 86400L).as("l_end"))
    RangeJoin.intervalOverlap(iv, "o_start", "o_end",
        li, "l_start", "l_end", bucketWidth = 604800L)
      .groupBy(col("o_orderkey"))
      .agg(count(lit(1)).as("n_overlapping"),
        min(col("l_orderkey")).as("min_l_orderkey"))
  }

  /** Per-group top-k via the mergeable bounded-buffer Aggregator (at most
    * k entries per group per partition cross the shuffle — contrast the
    * window row_number pattern in x6, which shuffles every row). */
  private def x11(s: SparkSession, dir: String): DataFrame = {
    val top = graft.folds.Aggregators.asColumn(
      graft.folds.Aggregators.topK(3),
      col("value"), col("event_id"))(
      org.apache.spark.sql.Encoders.tuple(
        org.apache.spark.sql.Encoders.scalaDouble, org.apache.spark.sql.Encoders.scalaLong))
    table(s, dir, "events")
      .groupBy(col("event_type"))
      .agg(top.as("top"))
      .select(col("event_type"), posexplode(col("top")).as(Seq("i", "e")))
      .select(col("event_type"), (col("i") + 1).as("rank"),
        col("e._1").as("value"), col("e._2").as("event_id"))
  }

  /** IVF inverted-file ANN (the FAISS-style index structure; s2 is the
    * hyperplane-LSH alternative). nlist auto-scales ~√corpus so the index
    * keeps pruning as the corpus grows (the oracle repeats the rule). */
  private def s3(s: SparkSession, dir: String): DataFrame = {
    val emb = table(s, dir, "embeddings")
    Similarity.ivfTopKAuto(emb, emb.where(col("vec_id") % 100 === 0),
      "vec_id", "embedding", k = 3, nprobe = 2)
  }

  /** Recall@3 of the s3 IVF result against the exact top-3 — the ANN
    * tuning loop as a first-class operator. Per-query n_matched and
    * recall; the oracle recomputes both result sets independently. */
  private def s6(s: SparkSession, dir: String): DataFrame = {
    val emb = table(s, dir, "embeddings")
    val q = emb.where(col("vec_id") % 100 === 0)
    Similarity.recallAtK(
      Similarity.ivfTopKAuto(emb, q, "vec_id", "embedding", k = 3, nprobe = 2),
      Similarity.bruteForceTopK(emb, q, "vec_id", "embedding", k = 3),
      k = 3)
  }

  /** IVF with k-means-trained centroids — the quality path next to s3's
    * deterministic quantizer. Rows-only check: Lloyd's double sums follow
    * shuffle order, so centroid values (hence list boundaries) are not
    * bit-reproducible by an external engine; SimilaritySpec pins
    * convergence and recall instead. */
  private def s4(s: SparkSession, dir: String): DataFrame = {
    val emb = table(s, dir, "embeddings")
    val nlist = math.max(8, math.ceil(math.sqrt(emb.count().toDouble)).toInt)
    Similarity.ivfTopKKmeans(emb, emb.where(col("vec_id") % 100 === 0),
      "vec_id", "embedding", k = 3, nlist = nlist, nprobe = 2, iters = 3)
  }

  /** SQ8 compressed ANN — corpus quantized to one byte per dimension
    * against a per-dimension min/max codebook, decoded at scan time and
    * scored asymmetrically against full-precision queries. */
  private def s5(s: SparkSession, dir: String): DataFrame = {
    val emb = table(s, dir, "embeddings")
    Similarity.sq8TopK(emb, emb.where(col("vec_id") % 100 === 0),
      "vec_id", "embedding", k = 3, dims = 64)
  }

  /** Product-quantized ANN — the high-ratio compression path next to
    * s5's SQ8: corpus vectors stored as m centroid codes (32× smaller at
    * dims=64, m=8, ksub=8), queries full-precision against the fused
    * encode→reconstruct ([[graft.functions.PqReconstruct]]). The
    * deterministic smallest-ids codebook face makes the whole path —
    * per-subspace L2 argmin, reconstruction, cosine top-k — SQL-
    * replicable; per-subspace k-means is the quality path. */
  private def s7(s: SparkSession, dir: String): DataFrame = {
    val emb = table(s, dir, "embeddings")
    Similarity.pqTopK(emb, emb.where(col("vec_id") % 100 === 0),
      "vec_id", "embedding", k = 3, m = 8, ksub = 8, dims = 64)
  }

  /** Hard-negative mining: per anchor, the top-5 most-similar vectors of a
    * DIFFERENT label (contrastive-training negatives — DPR §3.2). */
  private def s8(s: SparkSession, dir: String): DataFrame = {
    val emb = table(s, dir, "embeddings")
    Similarity.hardNegativeTopK(emb, emb.where(col("vec_id") % 100 === 0),
      "vec_id", "embedding", "label", k = 5)
  }

  /** IVF index at rest: write the list-partitioned index in-plan, then
    * answer through the partition-pruned read ([[Similarity.writeIvfIndex]]
    * / [[Similarity.ivfTopKIndexed]]). Same parameters and quantizer as
    * s3, so the two share one oracle — the equivalence IS the claim. */
  private def s9(s: SparkSession, dir: String): DataFrame = {
    val emb = table(s, dir, "embeddings")
    val idx = Q.tmpArtifactPath("s9", dir)
    Similarity.writeIvfIndex(emb, "vec_id", "embedding", idx)
    Similarity.ivfTopKIndexed(s, idx, emb.where(col("vec_id") % 100 === 0),
      "vec_id", "embedding", k = 3, nprobe = 2)
  }

  /** LSH index at rest: bucket-partitioned corpus written in-plan, then
    * queried through the partition-pruned read — same planes and scoring
    * as s2, so the two share one oracle. */
  private def s10(s: SparkSession, dir: String): DataFrame = {
    val emb = table(s, dir, "embeddings")
    val idx = Q.tmpArtifactPath("s10", dir)
    Similarity.writeLshIndex(emb, "vec_id", "embedding", idx, planes = 6, dims = 64)
    Similarity.lshTopKIndexed(s, idx, emb.where(col("vec_id") % 100 === 0),
      "vec_id", "embedding", k = 3)
  }

  /** JL random projection of the embedding corpus 64 → 8 dims, long-form
    * (vec_id, dim, value) — the array face is the library surface, the
    * checker face explodes it (array cells can't hash). Every value is
    * one index-ordered fold + one division, surface-rounded at 9 dp. */
  private def s13(s: SparkSession, dir: String): DataFrame =
    Similarity.randomProjection(
      table(s, dir, "embeddings"), "embedding", inDims = 64, outDims = 8)
      .select(col("vec_id"), posexplode(col("rp")).as(Seq("dim", "v")))
      .select(col("vec_id"), col("dim").cast("int").as("dim"),
        (round(col("v"), 9) + lit(0.0)).as("value"))

  /** BM25 lexical retrieval: query docs (every 100th) retrieve their top-5
    * corpus matches over their first 5 distinct tokens — the sparse twin
    * of s1's dense brute force ([[graft.similarity.Retrieval]] scaladoc
    * carries the determinism contract that makes the oracle exact). */
  private def s11(s: SparkSession, dir: String): DataFrame = {
    val docs = table(s, dir, "documents")
    Retrieval.bm25TopK(docs,
      Retrieval.queryTermsFromText(docs.where(col("doc_id") % 100 === 0),
        "doc_id", "text", nTerms = 5),
      "doc_id", "text", k = 5)
  }

  /** The s12 inverted index, built AT MOST ONCE per (JVM, testdata dir)
    * and probed many times — the production lifecycle (index once, serve
    * forever), and what makes the benched s12 number the PROBE cost:
    * round 10's s12 rebuilt the index inside the timed body, so at
    * 10.3 s it read as "indexed BM25 is 3x slower than in-memory s11"
    * when the build was ~90% of that. [[seedArtifacts]] materializes it
    * before the bench sweep (same discipline as the tokenizer
    * artifacts); build-vs-probe is priced separately in SCALE.md (round
    * 11, BM25 build-vs-probe attribution). */
  private val invIndexLock = new Object
  private def invertedIndexAtRest(s: SparkSession, dir: String): String = {
    val idx = Q.tmpArtifactPath("s12", dir)
    invIndexLock.synchronized {
      if (!java.nio.file.Files.exists(
          java.nio.file.Paths.get(s"$idx/postings/_SUCCESS")))
        Retrieval.writeInvertedIndex(
          table(s, dir, "documents"), "doc_id", "text", idx, buckets = 16)
    }
    idx
  }

  /** Inverted index at rest: term-bucket-partitioned postings (written
    * once per session — [[invertedIndexAtRest]]) queried through the
    * partition-pruned read — same postings, df, and fold order as s11,
    * so the two share one oracle. */
  private def s12(s: SparkSession, dir: String): DataFrame = {
    val docs = table(s, dir, "documents")
    val idx = invertedIndexAtRest(s, dir)
    Retrieval.bm25TopKIndexed(s, idx,
      Retrieval.queryTermsFromText(docs.where(col("doc_id") % 100 === 0),
        "doc_id", "text", nTerms = 5),
      k = 5, buckets = 16)
  }

  /** s11 AND s12's oracle: the full BM25 pipeline — postings, df, Lucene
    * idf rounded at 9 dp, per-(query,doc) LEFT FOLD of contributions in
    * term order (list_reduce ≡ Spark's `aggregate` with 0.0 init since
    * contributions are positive), rank on the full-precision score. Every
    * float literal is ::DOUBLE (the DECIMAL-folding gotcha) and composite
    * constants like k1+1 are spelled as the same IEEE additions the Spark
    * side performs. */
  // shared by x2 (composed union+window face) and x39 (custom physical
  // SortMergeAsOfJoinExec face): one contract, two execution strategies
  private val asofOracle = """
      SELECT event_id, user_id, event_s, o_orderkey, o_totalprice FROM (
        SELECT e.event_id, e.user_id,
          epoch_ns(e.ts) // 1000000000 AS event_s,
          o.o_orderkey, o.o_totalprice,
          row_number() OVER (PARTITION BY e.event_id
            ORDER BY o.o_orderdate DESC, o.o_orderkey DESC) AS rn
        FROM events e LEFT JOIN orders o
          ON e.user_id = o.o_custkey
          AND epoch(o.o_orderdate) <= epoch_ns(e.ts) // 1000000000)
      WHERE rn = 1"""

  private val bm25Oracle = """
      WITH toks AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
      stats AS (SELECT count(*)::BIGINT AS n_docs,
                       (sum(len(ws))::BIGINT::DOUBLE / count(*)::DOUBLE) AS avgdl
                FROM toks),
      posts AS (SELECT doc_id, len(ws)::BIGINT AS dl, unnest(ws) AS term FROM toks),
      tf AS (SELECT doc_id, dl, term, count(*)::BIGINT AS tf FROM posts GROUP BY 1, 2, 3),
      dfreq AS (SELECT term, count(*)::BIGINT AS df FROM tf GROUP BY 1),
      qt AS (SELECT doc_id AS query_id, unnest(list_distinct(ws[1:5])) AS term
             FROM toks WHERE doc_id % 100 = 0),
      contribs AS (
        SELECT q.query_id, t.doc_id AS neighbor_id, t.term,
          round(ln((s.n_docs::DOUBLE - d.df::DOUBLE + 0.5::DOUBLE)
                   / (d.df::DOUBLE + 0.5::DOUBLE) + 1.0::DOUBLE), 9)
          * ((t.tf::DOUBLE * (1.2::DOUBLE + 1.0::DOUBLE)) /
             (t.tf::DOUBLE + 1.2::DOUBLE *
               ((1.0::DOUBLE - 0.75::DOUBLE)
                + 0.75::DOUBLE * (t.dl::DOUBLE / s.avgdl)))) AS contrib
        FROM tf t
        JOIN qt q ON q.term = t.term
        JOIN dfreq d ON d.term = t.term
        CROSS JOIN stats s),
      scored AS (
        SELECT query_id, neighbor_id,
          list_reduce(list(contrib ORDER BY term), (a, b) -> a + b) AS score
        FROM contribs GROUP BY 1, 2)
      SELECT query_id, neighbor_id, round(score, 9) AS score, rank FROM (
        SELECT query_id, neighbor_id, score,
          row_number() OVER (PARTITION BY query_id
            ORDER BY score DESC, neighbor_id) AS rank
        FROM scored)
      WHERE rank <= 5"""

  /** DSIR importance weights: English documents as the trusted target
    * domain, the whole corpus as raw — the Xie et al. 2023 data-selection
    * signal over hashed unigram+bigram bags. */
  private def t28(s: SparkSession, dir: String): DataFrame = {
    val docs = table(s, dir, "documents")
    // r14 opt: target-as-predicate form — one feature pass, not two
    // (value-identical; DsirSpec pins equality with the two-relation form)
    Curation.dsirWeights(docs, col("lang") === "en",
      "doc_id", "text", dims = 1024)
  }

  /** Deflate compression ratio per document (rows-only: deflate byte
    * counts are zlib-implementation-defined; CompressionSpec pins the
    * laws — repetitive ≪ diverse, determinism, byte accounting). */
  private def t29(s: SparkSession, dir: String): DataFrame =
    Curation.compressionRatio(table(s, dir, "documents"), "doc_id", "text")

  /** Blocklist screen over the corpus: three phrases that occur in the
    * word-soup text (substring semantics — 'join a' crosses a token
    * boundary) plus one that never does, in one automaton pass. */
  private def t30(s: SparkSession, dir: String): DataFrame =
    Curation.blocklistTag(fanOut(s, table(s, dir, "documents").select("doc_id", "text")),
      "text", Seq("join a", "filter c", "scan", "zzzq"))
      .select("doc_id", "blocklist_hits", "blocklist_terms", "blocklist_flag")

  /** NFC normalization over the corpus with decomposed combining-mark
    * fixtures injected in-plan (the ASCII word soup is NFC already):
    * every 10th doc gains ' cafe'+U+0301+' A'+U+030A, which must compose
    * to 'café Å' — 2 chars shorter. */
  private def t31(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.normalizeUnicode(
      table(s, dir, "documents").select(col("doc_id"),
        when(col("doc_id") % 10 === 0,
          concat(col("text"), lit(" cafe\u0301 A\u030A")))
          .otherwise(col("text")).as("text")),
      "text")
      .select("doc_id", "nfc_text", "was_normalized", "n_chars_before", "n_chars_after")

  /** URL canonicalization + canonical-URL dedup over in-plan crawl-style
    * URL variants: mixed-case scheme/host, `www.` prefixes, default and
    * non-default ports, duplicate/trailing slashes, shuffled query params
    * with tracking keys, fragments, and every 7th-with-remainder-6 doc an
    * unparseable string (excluded by contract). The oracle computes the
    * EXPECTED canonical per doc_id by construction — a differential test
    * of [[graft.text.Curation.canonicalizeUrl]]'s general regex logic
    * against case-specific ground truth (the t23 pattern). */
  private def t32(s: SparkSession, dir: String): DataFrame = {
    val d = col("doc_id")
    val scheme = when(d % 2 === 0, lit("https")).otherwise(lit("HTTP"))
    val host = when(d % 3 === 0,
        concat(lit("WWW.Site"), (d % 10).cast("string"), lit(".Example.COM")))
      .when(d % 3 === 1,
        concat(lit("site"), (d % 10).cast("string"), lit(".example.com")))
      .otherwise(concat(lit("CDN.site"), (d % 10).cast("string"), lit(".example.com")))
    val port = when(d % 4 === 0, lit(":443")).when(d % 4 === 1, lit(":80"))
      .when(d % 4 === 2, lit(":8080")).otherwise(lit(""))
    val path = when(d % 5 === 0, lit("/a//b/")).when(d % 5 === 1, lit(""))
      .when(d % 5 === 2, lit("/p2")).when(d % 5 === 3, lit("/p3/"))
      .otherwise(lit("/a/b//c"))
    val qf = when(d % 3 === 0, lit("?b=2&utm_source=x&a=1#frag"))
      .when(d % 3 === 1, lit("?a=1&b=2"))
      .otherwise(lit("?utm_campaign=z&gclid=1#x"))
    val url = when(d % 7 === 6, lit("not a url"))
      .otherwise(concat(scheme, lit("://"), host, port, path, qf))
    Curation.urlDedup(
      table(s, dir, "documents").select(d, url.as("url")), "doc_id", "url")
  }

  /** Boilerplate prevalence over d9's page fixture: duplicated docs make
    * their member lines cross-page-common, so pages assembled from them
    * score a non-trivial fraction. */
  private def t36(s: SparkSession, dir: String): DataFrame = {
    val d = table(s, dir, "documents").select("doc_id", "text")
    val base = d.unionAll(d.where(col("doc_id") % 5 === 0).select(
      (col("doc_id") + 1000000L).as("doc_id"), col("text")))
    val pages = base
      .groupBy(expr("doc_id div 5").as("page_id"))
      .agg(array_sort(collect_list(struct(col("doc_id"), col("text")))).as("dt"))
      .select(col("page_id"),
        concat_ws("\n", transform(col("dt"), x => x.getField("text"))).as("text"))
    Curation.linePrevalence(pages, "page_id", "text", minDocs = 2)
  }

  /** Readability scoring over in-plan punctuated pages (every 8th token
    * gains a period — word-soup text has no sentence structure of its
    * own): sentence/word/syllable counts and both Flesch formulas. */
  private def t35(s: SparkSession, dir: String): DataFrame = {
    val toksCol = split(col("text"), " ")
    val punct = array_join(transform(toksCol, (t, i) =>
      concat(t, when((i + 1) % 8 === 0, lit(".")).otherwise(lit("")))), " ")
    TextAnalysis.readability(
      table(s, dir, "documents").select(col("doc_id"), punct.as("text")), "text")
      .select("doc_id", "n_sentences", "n_words", "n_syllables", "fre", "fk_grade")
  }

  /** Span-level decontamination over a self-planted benchmark: every 50th
    * doc contributes its tokens 4..9 as a benchmark item, so the source
    * doc (and its word-soup near-copies) carries the span verbatim —
    * [[graft.text.Curation.decontaminateSpans]] must cut exactly those
    * positions and pass every other doc through untouched. */
  private def t33(s: SparkSession, dir: String): DataFrame = {
    val docs = table(s, dir, "documents")
    val toksCol = split(col("text"), " ")
    val bench = docs
      .where(col("doc_id") % 50 === 0 && size(toksCol) >= 9)
      .select(array_join(slice(toksCol, 4, 6), " ").as("text"))
    Curation.decontaminateSpans(
      docs.select("doc_id", "text"), bench, "doc_id", "text", n = 5)
  }

  /** Stupid-backoff trigram scoring of held-out docs (every 5th) under a
    * model counted from the rest; the held-out docs get token 2 replaced
    * by an OOV marker (`zz0`..`zz6` — never in the word-soup vocab) so
    * the oracle exercises every backoff level INCLUDING the Laplace
    * floor, not just the seen-trigram fast path. */
  private def t34(s: SparkSession, dir: String): DataFrame = {
    val docs = table(s, dir, "documents").select("doc_id", "text")
    val train = docs.where(col("doc_id") % 5 =!= 0)
    val toksCol = split(col("text"), " ")
    val mutated = docs
      .where(col("doc_id") % 5 === 0 && size(toksCol) >= 3)
      .select(col("doc_id"), array_join(concat(
        slice(toksCol, 1, 1),
        array(concat(lit("zz"), (col("doc_id") % 7).cast("string"))),
        slice(toksCol, lit(3), size(toksCol))), " ").as("text"))
    Curation.stupidBackoff(train, mutated, "doc_id", "text")
  }

  /** PageRank over the customer→supplier purchase graph (supplier ids
    * namespaced +10^12 so the two key spaces can't collide at any SF —
    * TPC-H custkey grows ~150k·SF): the
    * link-graph centrality prior curation pipelines attach to sources.
    * 3 fixed power iterations, damping 0.85, dangling mass (every
    * supplier — the bipartite sinks) redistributed uniformly. */
  private def x34(s: SparkSession, dir: String): DataFrame = {
    val edges = table(s, dir, "orders")
      .join(table(s, dir, "lineitem"), col("o_orderkey") === col("l_orderkey"))
      .select(col("o_custkey").as("src"),
        (col("l_suppkey") + lit(1000000000000L)).as("dst"))
    // checkpointEvery = 2: measured optimum at iters = 3. Cadence is
    // value-neutral by the operator contract (PlanSpec pins it), so it is
    // pure tuning: every-1 paid one eager materialization job per
    // iteration (~35% slower), and every-3 (tried in the r14 optimization
    // pass) let the final action plan the whole uncut 3-round tree —
    // broadcast-building the dangling/teleport subtrees of every round
    // serially in one job — and measured ~2x slower than every-2.
    graft.operators.PageRank.run(edges, "src", "dst", iters = 3, damping = 0.85,
      checkpointEvery = 2)
  }

  /** Arbitrary grouping sets (not expressible as rollup/cube): per-flag,
    * per-status, and grand total in one pass — also exercises the
    * spark.sql entry path over a registered view. */
  private def x18(s: SparkSession, dir: String): DataFrame = {
    table(s, dir, "lineitem").createOrReplaceTempView("lineitem_gs")
    s.sql("""SELECT l_returnflag, l_linestatus,
               sum(l_quantity) AS sum_qty, count(*) AS n
             FROM lineitem_gs
             GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())""")
  }

  /** Semi join: customers WITH at least one high-value order (the
    * membership dual of x5's anti join) — build side filtered and
    * deduplicated by the join itself, no payload columns move. */
  private def x15(s: SparkSession, dir: String): DataFrame = {
    val c = table(s, dir, "customer")
    val o = table(s, dir, "orders")
      .where(col("o_totalprice") > 400000.0)
      .select(col("o_custkey"))
    c.join(o, c("c_custkey") === o("o_custkey"), "left_semi")
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n_buyers"), max(col("c_acctbal")).as("max_bal"))
  }

  /** Set operations: nations appearing among customers but not suppliers
    * (EXCEPT), and in both (INTERSECT) — tagged union so one query
    * exercises both. */
  private def x16(s: SparkSession, dir: String): DataFrame = {
    val cn = table(s, dir, "customer").select(col("c_nationkey").as("nationkey"))
    val sn = table(s, dir, "supplier").select(col("s_nationkey").as("nationkey"))
    cn.except(sn).withColumn("which", lit("customer_only"))
      .unionAll(cn.intersect(sn).withColumn("which", lit("both")))
  }

  /** Distinct on a column subset (dropDuplicates → one hash aggregate). */
  private def x17(s: SparkSession, dir: String): DataFrame =
    table(s, dir, "orders")
      .select("o_orderstatus", "o_orderpriority")
      .distinct()

  /** Batch sessionization as pure window algebra — the scalable form of
    * st2's state machine (one shuffle + one in-partition sort; a new
    * session starts after a >1 h gap, session id = running count of
    * session starts). Unlike mapGroupsWithState this is fully
    * SQL-expressible, so the oracle checks it exactly. */
  private def x14(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts_s"), col("event_id"))
    val ev = table(s, dir, "events")
    ev
      .select(col("user_id"), col("event_id"), Streaming.epochSeconds(ev).as("ts_s"), col("value"))
      .withColumn("new_sess",
        when(col("ts_s") - lag(col("ts_s"), 1).over(w) > 3600L, 1).otherwise(0))
      .withColumn("session_seq",
        sum(col("new_sess")).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("user_id"), col("session_seq"))
      // round(.., 9): session sums of 2-decimal doubles differ at ULP level
      // across accumulation orders; fixed precision in both engines
      .agg(count(lit(1)).as("n_events"), round(sum(col("value")), 9).as("sum_value"),
        min(col("ts_s")).as("start_s"), max(col("ts_s")).as("end_s"))
  }

  /** TF-IDF over the corpus: one token explode, one (doc, term) count, a
    * document-frequency aggregate joined back, idf = ln(N/df). The
    * N = corpus size is a 1-row aggregate broadcast-cross-joined into the
    * plan — NOT a driver-side `count()`, which would run a full extra scan
    * job every time the query is merely constructed. */
  private def t8(s: SparkSession, dir: String): DataFrame = {
    val docs = table(s, dir, "documents")
    val nDocs = docs.agg(count(lit(1)).cast("double").as("__n_docs"))
    val termFreq = docs
      .select(col("doc_id"), explode(TextFunctions.tokens(col("text"))).as("tok"))
      .groupBy(col("doc_id"), col("tok"))
      .agg(count(lit(1)).as("tf"))
    val docFreq = termFreq.groupBy(col("tok")).agg(count(lit(1)).as("df"))
    // round(.., 6): tf·ln(N/df) is irrational, and the engines' libm ln
    // implementations may differ in the last ULP — fixed precision on a
    // ~1e0-magnitude score is safe and lossless for ranking
    termFreq.join(docFreq, "tok")
      .crossJoin(broadcast(nDocs))
      .select(col("doc_id"), col("tok"), col("tf"), col("df"),
        round(col("tf") * log(col("__n_docs") / col("df")), 6).as("tfidf"))
  }

  /** Pivot: event_type values become columns (one shuffle; the pivot
    * values are declared, so no extra distinct-discovery pass). */
  private def x12(s: SparkSession, dir: String): DataFrame =
    table(s, dir, "events")
      .groupBy(col("user_id"))
      .pivot("event_type", Seq("click", "view", "purchase", "signup", "error"))
      .agg(sum(col("value")))
      .select(col("user_id"), col("click").as("click_sum"), col("view").as("view_sum"),
        col("purchase").as("purchase_sum"), col("signup").as("signup_sum"),
        col("error").as("error_sum"))

  /** Unpivot (melt): wide per-row measures back to (row, measure, value)
    * long form — a narrow projection, no shuffle. */
  private def x13(s: SparkSession, dir: String): DataFrame =
    table(s, dir, "lineitem")
      .unpivot(
        ids = Array(col("l_orderkey"), col("l_linenumber")),
        values = Array(col("l_quantity"), col("l_extendedprice"), col("l_discount")),
        variableColumnName = "measure", valueColumnName = "val")

  /** Schema-driven per-column profiling in one aggregation pass (the
    * data-quality monitor every curation pipeline runs first). */
  private def t7(s: SparkSession, dir: String): DataFrame =
    graft.folds.Profile.profile(table(s, dir, "events"),
      Seq("event_id", "user_id", "event_type", "value"))

  /** The stream-stream interval join run in batch (same definition
    * streams with bounded state — StreamingSpec): click → purchase of the
    * same user within the hour. */
  private def st3(s: SparkSession, dir: String): DataFrame = {
    val e = table(s, dir, "events")
    Streaming.eventIntervalJoin(
      e.where(col("event_type") === "click"),
      e.where(col("event_type") === "purchase"),
      watermark = "1 hour", windowSeconds = 3600L)
      .select(col("l_event_id"), col("r_event_id"), col("l_user").as("user_id"),
        unix_timestamp(col("l_time")).as("click_s"),
        unix_timestamp(col("r_time")).as("purchase_s"))
  }

  /** Custom per-key state machine run in batch (same code streams with
    * event-time timeouts — StreamingSpec): per-user sessions. Event-time
    * semantics make it deterministic, so it shares x14's SQL oracle
    * (hash-checked, not rows-only). */
  private def st2(s: SparkSession, dir: String): DataFrame =
    Streaming.sessionizeEventTime(
      table(s, dir, "events"), gapSeconds = 3600, watermark = "1 hour").toDF()

  // ---------------------------------------------------------------- oracle

  /** MinHash signature + band-key CTEs (consumed after an `ex(doc_id,
    * shingle)` CTE) — replicates [[graft.dedup.Dedup.minhashLsh]]'s
    * universal-hash family: one md5 per shingle, k multiply-mod hashes of
    * its 32-bit prefix. */
  /** Same CTE chain with every name prefixed — lets one query carry the
    * signature pipeline for TWO relations (t18's corpus + benchmark). */
  private def minhashCtesFor(shSrc: String, p: String) =
    s"""${p}ex AS (SELECT doc_id, unnest(shingles) AS shingle FROM $shSrc),
      ${p}hx AS (SELECT doc_id, ('0x' || substr(md5(shingle), 1, 8))::BIGINT AS h32 FROM ${p}ex),
      ${p}mh AS (SELECT doc_id, seed,
               min((((seed * 2654435761) % 2147483647 + 1) * h32
                    + (seed * 2246822519) % 4294967291) % 4294967291) AS mh
             FROM ${p}hx, (SELECT unnest(range(12)) AS seed)
             GROUP BY doc_id, seed),
      ${p}bands AS (SELECT doc_id, seed // 3 AS band,
                  md5(string_agg(mh::VARCHAR, '|' ORDER BY seed)) AS band_key
                FROM ${p}mh GROUP BY doc_id, seed // 3)"""

  private val minhashCtes = minhashCtesFor("sh", "")

  private val hiHex = "('8','9','a','b','c','d','e','f')"
  private val oddHex = "('1','3','5','7','9','b','d','f')"

  /** Explicit double-precision cosine between two list columns, matching
    * [[Similarity.cosine]]'s accumulation order. */
  private def cosSql(a: String, b: String) =
    s"""list_sum(list_transform(range(1, 65), i -> $a[i]::DOUBLE * $b[i]::DOUBLE))
       / (sqrt(list_sum(list_transform(range(1, 65), i -> $a[i]::DOUBLE * $a[i]::DOUBLE)))
          * sqrt(list_sum(list_transform(range(1, 65), i -> $b[i]::DOUBLE * $b[i]::DOUBLE))))"""

  /** x34's oracle: PageRank power iterations unrolled as CTEs (r0 uniform;
    * each step = contribution aggregate + dangling-mass scalar + rank
    * recompute — exactly [[graft.operators.PageRank.run]]'s algebra,
    * including the DERIVED dangling mass dm = 1 − Σcin: mass not
    * emitted through an edge is the dangling mass, mirrored here so
    * both engines carry the identical ~1-ulp total-mass drift).
    * `(1.0::DOUBLE - 0.85::DOUBLE)` forces IEEE double subtraction so the
    * teleport constant is bit-identical to Spark's `lit(1.0) - damping`
    * (DuckDB would otherwise fold the literals in exact DECIMAL). */
  private def pageRankOracle(iters: Int): String = {
    def iter(k: Int): String = s"""
      c$k AS (SELECT e.dst AS node, sum(r.rank / d.deg) AS cin
              FROM e JOIN r${k - 1} r ON r.node = e.src
                     JOIN deg d ON d.src = e.src
              GROUP BY 1),
      dm$k AS (SELECT 1.0::DOUBLE - coalesce(sum(cin), 0.0::DOUBLE) AS dm
               FROM c$k),
      r$k AS (SELECT n.node,
                (1.0::DOUBLE - 0.85::DOUBLE) / (SELECT n FROM nn)
                + 0.85::DOUBLE * (coalesce(c.cin, 0.0::DOUBLE)
                  + (SELECT dm FROM dm$k) / (SELECT n FROM nn)) AS rank
              FROM nodes n LEFT JOIN c$k c ON c.node = n.node)"""
    s"""
      WITH e AS (SELECT DISTINCT o_custkey AS src,
                   1000000000000 + l_suppkey AS dst
                 FROM orders JOIN lineitem ON l_orderkey = o_orderkey),
      nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
      nn AS (SELECT count(*)::DOUBLE AS n FROM nodes),
      deg AS (SELECT src, count(*)::DOUBLE AS deg FROM e GROUP BY 1),
      r0 AS (SELECT node, 1.0::DOUBLE / (SELECT n FROM nn) AS rank FROM nodes),
      ${(1 to iters).map(iter).mkString(",")}
      SELECT node, round(rank, 9) + 0.0 AS pagerank FROM r$iters"""
  }

  /** Hyperplane-LSH bucket matching [[Similarity.hyperplaneBucket]]. */
  private def bucketSql(v: String) =
    s"""list_sum(list_transform(range(0, 6), p ->
         CASE WHEN list_sum(list_transform(range(1, 65), d ->
                $v[d]::DOUBLE * (CASE WHEN substr(md5(p::VARCHAR || '_' || (d-1)::VARCHAR), 1, 1)
                                      IN $oddHex THEN 1.0 ELSE -1.0 END))) > 0
              THEN 1 << p ELSE 0 END))"""

  private val decontamOracle = s"""
      WITH $corpusSql,
      scan AS (SELECT doc_id, ws
               FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM corpus)
               WHERE (doc_id >= 1000000 OR doc_id % 5 <> 0) AND len(ws) >= 5),
      dg AS (SELECT doc_id, unnest(list_distinct(list_transform(range(1, len(ws) - 3),
               i -> md5(ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] || ' '
                        || ws[i+3] || ' ' || ws[i+4])))) AS ng
             FROM scan),
      bg AS (SELECT DISTINCT unnest(list_transform(range(1, len(ws) - 3),
               i -> md5(ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] || ' '
                        || ws[i+3] || ' ' || ws[i+4]))) AS ng
             FROM (SELECT string_split(text, ' ') AS ws FROM documents
                   WHERE doc_id % 5 = 0)
             WHERE len(ws) >= 5)
      SELECT doc_id, count(*) AS n_overlap
      FROM dg JOIN bg USING (ng) GROUP BY doc_id"""

  def all: Seq[Q] = Seq(
    Q("d1_dedup_exact", d1, Some("""
      SELECT md5(text) AS text_hash, min(doc_id) AS keep_id, count(*) AS n_copies
      FROM documents GROUP BY 1""")),

    Q("d2_dedup_ngram_jaccard", d2, Some("""
      WITH t AS (SELECT doc_id, lang, n_chars // 64 AS len_band,
                   list_distinct(string_split(text, ' ')) AS toks
                 FROM documents)
      SELECT id_a, id_b, jaccard FROM (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b,
          len(list_intersect(a.toks, b.toks))::DOUBLE
            / len(list_distinct(list_concat(a.toks, b.toks))) AS jaccard
        FROM t a JOIN t b
          ON a.lang = b.lang AND a.len_band = b.len_band AND a.doc_id < b.doc_id)
      WHERE jaccard >= 0.9""")),

    Q("d3_dedup_minhash_lsh", d3, Some(s"""
      WITH $corpusSql,
      docs AS (SELECT doc_id, string_split(text, ' ') AS ws FROM corpus),
      sh AS (SELECT doc_id, list_distinct(list_transform(range(1, len(ws) - 1),
               i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) AS shingles
             FROM docs WHERE len(ws) >= 3),
      $minhashCtes,
      cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
               FROM bands a JOIN bands b
                 ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id)
      SELECT id_a, id_b, jaccard FROM (
        SELECT c.id_a, c.id_b,
          len(list_intersect(sa.shingles, sb.shingles))::DOUBLE
            / len(list_distinct(list_concat(sa.shingles, sb.shingles))) AS jaccard
        FROM cand c
        JOIN sh sa ON sa.doc_id = c.id_a
        JOIN sh sb ON sb.doc_id = c.id_b)
      WHERE jaccard >= 0.5""")),

    Q("d16_dup_source_matrix", d16, Some(s"""
      WITH docs AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
      sh AS (SELECT doc_id, list_distinct(list_transform(range(1, len(ws) - 1),
               i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) AS shingles
             FROM docs WHERE len(ws) >= 3),
      $minhashCtes,
      cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
               FROM bands a JOIN bands b
                 ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id),
      pairs AS (
        SELECT id_a, id_b FROM (
          SELECT c.id_a, c.id_b,
            len(list_intersect(sa.shingles, sb.shingles))::DOUBLE
              / len(list_distinct(list_concat(sa.shingles, sb.shingles))) AS jaccard
          FROM cand c
          JOIN sh sa ON sa.doc_id = c.id_a
          JOIN sh sb ON sb.doc_id = c.id_b)
        WHERE jaccard >= 0.5)
      SELECT least(da.source, db.source) AS source_a,
             greatest(da.source, db.source) AS source_b,
             count(*)::BIGINT AS n_dup_pairs
      FROM pairs p
      JOIN documents da ON da.doc_id = p.id_a
      JOIN documents db ON db.doc_id = p.id_b
      GROUP BY 1, 2""")),

    Q("d4_dedup_simhash", d4, Some(s"""
      WITH $corpusSql,
      docs AS (SELECT doc_id, string_split(text, ' ') AS ws FROM corpus),
      hs AS (SELECT doc_id,
               list_transform(list_distinct(list_transform(range(1, len(ws) - 1),
                 i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])), sh -> md5(sh)) AS hashes
             FROM docs WHERE len(ws) >= 3),
      fps AS (SELECT doc_id,
                -- ::BIGINT: DuckDB's list_sum over integers yields HUGEINT,
                -- which round-trips to float64 through Arrow and hash-
                -- mismatches Spark's LongType even at equal values
                list_sum(list_transform(range(1, 33), i ->
                  CASE WHEN list_sum(list_transform(hashes, h ->
                         CASE WHEN substr(h, i, 1) IN $hiHex THEN 1 ELSE -1 END)) > 0
                       THEN 1::BIGINT << (i - 1) ELSE 0 END))::BIGINT AS fp
              FROM hs),
      blk AS (SELECT doc_id, fp, 0 AS bi, fp & 255 AS bv FROM fps
              UNION ALL SELECT doc_id, fp, 1, (fp >> 8) & 255 FROM fps
              UNION ALL SELECT doc_id, fp, 2, (fp >> 16) & 255 FROM fps
              UNION ALL SELECT doc_id, fp, 3, (fp >> 24) & 255 FROM fps),
      cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
                 a.fp AS fp_a, b.fp AS fp_b
               FROM blk a JOIN blk b
                 ON a.bi = b.bi AND a.bv = b.bv AND a.doc_id < b.doc_id)
      SELECT id_a, id_b, fp_a, fp_b, bit_count(xor(fp_a, fp_b)) AS hamming
      FROM cand WHERE bit_count(xor(fp_a, fp_b)) <= 3""")),

    Q("d6_dedup_clusters", d6, Some(s"""
      WITH RECURSIVE $corpusSql,
      docs AS (SELECT doc_id, string_split(text, ' ') AS ws FROM corpus),
      sh AS (SELECT doc_id, list_distinct(list_transform(range(1, len(ws) - 1),
               i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) AS shingles
             FROM docs WHERE len(ws) >= 3),
      $minhashCtes,
      cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
               FROM bands a JOIN bands b
                 ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id),
      pairs AS (
        SELECT id_a, id_b FROM (
          SELECT c.id_a, c.id_b,
            len(list_intersect(sa.shingles, sb.shingles))::DOUBLE
              / len(list_distinct(list_concat(sa.shingles, sb.shingles))) AS jaccard
          FROM cand c
          JOIN sh sa ON sa.doc_id = c.id_a
          JOIN sh sb ON sb.doc_id = c.id_b)
        WHERE jaccard >= 0.5),
      edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
                UNION SELECT id_b, id_a FROM pairs),
      walk AS (
        SELECT src AS id, src AS lab FROM edges
        UNION
        SELECT e.dst, w.lab FROM walk w JOIN edges e ON e.src = w.id)
      SELECT id, min(lab) AS canonical_id FROM walk GROUP BY id""")),

    // same corpus, same signature family, same CC walk as d6 — plus the
    // keep-longest selection (list ordered by quality desc, id asc)
    Q("d15_dedup_keep_best", d15, Some(s"""
      WITH RECURSIVE $corpusSql,
      docs AS (SELECT doc_id, string_split(text, ' ') AS ws FROM corpus),
      sh AS (SELECT doc_id, list_distinct(list_transform(range(1, len(ws) - 1),
               i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) AS shingles
             FROM docs WHERE len(ws) >= 3),
      $minhashCtes,
      cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
               FROM bands a JOIN bands b
                 ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id),
      pairs AS (
        SELECT id_a, id_b FROM (
          SELECT c.id_a, c.id_b,
            len(list_intersect(sa.shingles, sb.shingles))::DOUBLE
              / len(list_distinct(list_concat(sa.shingles, sb.shingles))) AS jaccard
          FROM cand c
          JOIN sh sa ON sa.doc_id = c.id_a
          JOIN sh sb ON sb.doc_id = c.id_b)
        WHERE jaccard >= 0.5),
      edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
                UNION SELECT id_b, id_a FROM pairs),
      walk AS (
        SELECT src AS id, src AS lab FROM edges
        UNION
        SELECT e.dst, w.lab FROM walk w JOIN edges e ON e.src = w.id),
      cl AS (SELECT id, min(lab) AS canonical_id FROM walk GROUP BY id)
      SELECT canonical_id,
        (list(cl.id ORDER BY length(c.text) DESC, cl.id ASC))[1] AS keep_id,
        count(*)::BIGINT AS n_members
      FROM cl JOIN corpus c ON c.doc_id = cl.id
      GROUP BY canonical_id""")),

    Q("d5_dedup_embedding_cosine", d5, Some(s"""
      SELECT id_a, id_b, cosine FROM (
        SELECT a.vec_id AS id_a, b.vec_id AS id_b,
          ${cosSql("a.embedding", "b.embedding")} AS cosine
        FROM embeddings a JOIN embeddings b
          ON a.label = b.label AND a.vec_id < b.vec_id)
      WHERE cosine >= 0.4""")),

    Q("d7_semantic_dedup", d7, Some(s"""
      WITH cents AS (
        SELECT vec_id AS cid, embedding AS cvec
        FROM embeddings ORDER BY vec_id LIMIT 8),
      ranked AS (
        SELECT e.vec_id, e.embedding, c.cid,
          row_number() OVER (PARTITION BY e.vec_id
            ORDER BY ${cosSql("e.embedding", "c.cvec")} DESC, c.cid DESC) AS rn
        FROM embeddings e CROSS JOIN cents c),
      assign AS (SELECT vec_id, embedding, cid AS cluster FROM ranked WHERE rn = 1)
      SELECT id_a, id_b, cosine FROM (
        SELECT a.vec_id AS id_a, b.vec_id AS id_b,
          ${cosSql("a.embedding", "b.embedding")} AS cosine
        FROM assign a JOIN assign b
          ON a.cluster = b.cluster AND a.vec_id < b.vec_id)
      WHERE cosine >= 0.4""")),

    Q("d17_semantic_dedup_scaled", d17, Some(s"""
      WITH cents AS (
        SELECT vec_id AS cid, embedding AS cvec FROM (
          SELECT vec_id, embedding, row_number() OVER (ORDER BY vec_id) AS rn
          FROM embeddings)
        WHERE rn <= (SELECT CAST(ceil(count(*) / 250.0) AS BIGINT) FROM embeddings)),
      ranked AS (
        SELECT e.vec_id, e.embedding, c.cid,
          row_number() OVER (PARTITION BY e.vec_id
            ORDER BY ${cosSql("e.embedding", "c.cvec")} DESC, c.cid DESC) AS rn
        FROM embeddings e CROSS JOIN cents c),
      assign AS (SELECT vec_id, embedding, cid AS cluster FROM ranked WHERE rn = 1)
      SELECT id_a, id_b, cosine FROM (
        SELECT a.vec_id AS id_a, b.vec_id AS id_b,
          ${cosSql("a.embedding", "b.embedding")} AS cosine
        FROM assign a JOIN assign b
          ON a.cluster = b.cluster AND a.vec_id < b.vec_id)
      WHERE cosine >= 0.4""")),

    // full replication of the banded hyperplane LSH: the ±1 planes are
    // md5-parity (plane p, dim d → parity of the first hex char of
    // md5("p_d"), exactly Similarity.hyperplaneWeights), the 8×6 banding
    // is a per-band 6-bit bucket, candidates collide in ≥1 band, and the
    // verify is the exact d5-family cosine at the same 0.4 threshold
    Q("d18_embedding_lsh", d18, Some(s"""
      WITH planes AS (
        SELECT p, list_transform(range(1, 65), d ->
          CASE WHEN substr(md5(p::VARCHAR || '_' || (d-1)::VARCHAR), 1, 1)
               IN $oddHex THEN 1.0 ELSE -1.0 END) AS w
        FROM (SELECT unnest(range(0, 48)) AS p)),
      signs AS (
        SELECT e.vec_id, p.p // 6 AS band,
          CASE WHEN list_sum(list_transform(range(1, 65),
                 d -> e.embedding[d]::DOUBLE * p.w[d])) > 0
               THEN 1 << (p.p % 6) ELSE 0 END AS bit
        FROM embeddings e CROSS JOIN planes p),
      banded AS (SELECT vec_id, band, sum(bit)::BIGINT AS bucket
                 FROM signs GROUP BY vec_id, band),
      cand AS (SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
               FROM banded a JOIN banded b
                 ON a.band = b.band AND a.bucket = b.bucket AND a.vec_id < b.vec_id)
      SELECT id_a, id_b, cosine FROM (
        SELECT c.id_a, c.id_b, ${cosSql("ea.embedding", "eb.embedding")} AS cosine
        FROM cand c
        JOIN embeddings ea ON ea.vec_id = c.id_a
        JOIN embeddings eb ON eb.vec_id = c.id_b)
      WHERE NOT isnan(cosine) AND cosine >= 0.4""")),

    // d18's production regime: 12-bit bands, >= 0.9 threshold, corpus
    // seeded with known near-dups (2x-scaled and first-dim-zeroed
    // copies); same md5-parity planes, banding, and exact-cosine verify
    Q("d19_embedding_lsh_neardup", d19, Some(s"""
      WITH corpus AS (
        SELECT vec_id, embedding FROM embeddings
        UNION ALL
        SELECT vec_id + 1000000,
          list_transform(embedding, x -> CAST(x * 2.0 AS FLOAT))
        FROM embeddings
        UNION ALL
        SELECT vec_id + 2000000,
          list_prepend(CAST(0.0 AS FLOAT), embedding[2:])
        FROM embeddings),
      planes AS (
        SELECT p, list_transform(range(1, 65), d ->
          CASE WHEN substr(md5(p::VARCHAR || '_' || (d-1)::VARCHAR), 1, 1)
               IN $oddHex THEN 1.0 ELSE -1.0 END) AS w
        FROM (SELECT unnest(range(0, 96)) AS p)),
      signs AS (
        SELECT e.vec_id, p.p // 12 AS band,
          CASE WHEN list_sum(list_transform(range(1, 65),
                 d -> e.embedding[d]::DOUBLE * p.w[d])) > 0
               THEN 1 << (p.p % 12) ELSE 0 END AS bit
        FROM corpus e CROSS JOIN planes p),
      banded AS (SELECT vec_id, band, sum(bit)::BIGINT AS bucket
                 FROM signs GROUP BY vec_id, band),
      cand AS (SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
               FROM banded a JOIN banded b
                 ON a.band = b.band AND a.bucket = b.bucket AND a.vec_id < b.vec_id)
      SELECT id_a, id_b, cosine FROM (
        SELECT c.id_a, c.id_b, ${cosSql("ea.embedding", "eb.embedding")} AS cosine
        FROM cand c
        JOIN corpus ea ON ea.vec_id = c.id_a
        JOIN corpus eb ON eb.vec_id = c.id_b)
      WHERE NOT isnan(cosine) AND cosine >= 0.9""")),

    // d19 through the auto face: band width ceil(log2(n))+2 derived
    // from the corpus count by BOTH engines — the scale law, oracled
    Q("d20_embedding_lsh_auto", d20, Some(s"""
      WITH corpus AS (
        SELECT vec_id, embedding FROM embeddings
        UNION ALL
        SELECT vec_id + 1000000,
          list_transform(embedding, x -> CAST(x * 2.0 AS FLOAT))
        FROM embeddings
        UNION ALL
        SELECT vec_id + 2000000,
          list_prepend(CAST(0.0 AS FLOAT), embedding[2:])
        FROM embeddings),
      params AS (
        SELECT CAST(ceil(log2(count(*))) AS BIGINT) + 2 AS rpb FROM corpus),
      planes AS (
        SELECT p, list_transform(range(1, 65), d ->
          CASE WHEN substr(md5(p::VARCHAR || '_' || (d-1)::VARCHAR), 1, 1)
               IN $oddHex THEN 1.0 ELSE -1.0 END) AS w
        FROM (SELECT unnest(range(0, 8 * (SELECT rpb FROM params))) AS p)),
      signs AS (
        SELECT e.vec_id, p.p // (SELECT rpb FROM params) AS band,
          CASE WHEN list_sum(list_transform(range(1, 65),
                 d -> e.embedding[d]::DOUBLE * p.w[d])) > 0
               THEN (1::BIGINT << (p.p % (SELECT rpb FROM params))) ELSE 0 END AS bit
        FROM corpus e CROSS JOIN planes p),
      banded AS (SELECT vec_id, band, sum(bit)::BIGINT AS bucket
                 FROM signs GROUP BY vec_id, band),
      cand AS (SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
               FROM banded a JOIN banded b
                 ON a.band = b.band AND a.bucket = b.bucket AND a.vec_id < b.vec_id)
      SELECT id_a, id_b, cosine FROM (
        SELECT c.id_a, c.id_b, ${cosSql("ea.embedding", "eb.embedding")} AS cosine
        FROM cand c
        JOIN corpus ea ON ea.vec_id = c.id_a
        JOIN corpus eb ON eb.vec_id = c.id_b)
      WHERE NOT isnan(cosine) AND cosine >= 0.9""")),

    Q("d8_dedup_substring", d8, Some(s"""
      WITH $corpusSql,
      kh AS (SELECT doc_id,
               list_transform(range(1, length(text) - 18),
                 i -> md5(substr(text, i, 20))) AS kh
             FROM corpus WHERE length(text) >= 27),
      fp AS (SELECT doc_id, unnest(list_distinct(list_transform(range(1, len(kh) - 6),
               i -> list_aggregate(kh[i:i+7], 'min')))) AS fp
             FROM kh)
      SELECT id_a, id_b, n_shared_fps FROM (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*)::BIGINT AS n_shared_fps
        FROM fp a JOIN fp b ON a.fp = b.fp AND a.doc_id < b.doc_id
        GROUP BY 1, 2)
      WHERE n_shared_fps >= 2""")),

    Q("s1_ann_bruteforce_topk", s1, Some(s"""
      SELECT query_id, neighbor_id, cosine, rank FROM (
        SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
          ${cosSql("q.embedding", "e.embedding")} AS cosine,
          row_number() OVER (PARTITION BY q.vec_id
            ORDER BY ${cosSql("q.embedding", "e.embedding")} DESC, e.vec_id) AS rank
        FROM embeddings e
        JOIN (SELECT * FROM embeddings WHERE vec_id % 100 = 0) q
          ON e.vec_id <> q.vec_id)
      WHERE rank <= 5""")),

    Q("s5_ann_sq8", s5, Some(s"""
      WITH cells AS (
        SELECT i, min(embedding[i]::DOUBLE) AS mn, max(embedding[i]::DOUBLE) AS mx
        FROM embeddings CROSS JOIN (SELECT unnest(range(1, 65)) AS i) GROUP BY i),
      mnx AS (SELECT list(mn ORDER BY i) AS mn, list(mx ORDER BY i) AS mx FROM cells),
      dqc AS (SELECT vec_id,
        list_transform(range(1, 65), i ->
          mn[i] + (CASE WHEN mx[i] = mn[i] THEN 0.0
                   ELSE least(255.0, greatest(0.0,
                     floor((embedding[i]::DOUBLE - mn[i]) / (mx[i] - mn[i]) * 255.0 + 0.5)))
                   END) / 255.0 * (mx[i] - mn[i])) AS dq
        FROM embeddings CROSS JOIN mnx)
      SELECT query_id, neighbor_id, cosine, rank FROM (
        SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
          ${cosSql("q.embedding", "e.dq")} AS cosine,
          row_number() OVER (PARTITION BY q.vec_id
            ORDER BY ${cosSql("q.embedding", "e.dq")} DESC, e.vec_id) AS rank
        FROM dqc e
        JOIN (SELECT vec_id, embedding FROM embeddings WHERE vec_id % 100 = 0) q
          ON e.vec_id <> q.vec_id)
      WHERE rank <= 3""")),

    Q("s7_ann_pq", s7, Some(s"""
      WITH cb AS (
        SELECT row_number() OVER (ORDER BY vec_id) - 1 AS j, embedding AS cvec
        FROM embeddings ORDER BY vec_id LIMIT 8),
      asg AS (
        SELECT e.vec_id, sp.s, cb.j, cb.cvec,
          row_number() OVER (PARTITION BY e.vec_id, sp.s
            ORDER BY list_sum(list_transform(range(1, 9), i ->
              (e.embedding[sp.s * 8 + i]::DOUBLE - cb.cvec[sp.s * 8 + i]::DOUBLE)
              * (e.embedding[sp.s * 8 + i]::DOUBLE - cb.cvec[sp.s * 8 + i]::DOUBLE))) ASC,
              cb.j ASC) AS rn
        FROM embeddings e
        CROSS JOIN (SELECT unnest(range(0, 8)) AS s) sp
        CROSS JOIN cb),
      rec AS (
        SELECT vec_id,
          flatten(list(cvec[s * 8 + 1 : s * 8 + 8] ORDER BY s)) AS rvec
        FROM asg WHERE rn = 1 GROUP BY vec_id)
      SELECT query_id, neighbor_id, cosine, rank FROM (
        SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
          ${cosSql("q.embedding", "e.rvec")} AS cosine,
          row_number() OVER (PARTITION BY q.vec_id
            ORDER BY ${cosSql("q.embedding", "e.rvec")} DESC, e.vec_id) AS rank
        FROM rec e
        JOIN (SELECT vec_id, embedding FROM embeddings WHERE vec_id % 100 = 0) q
          ON e.vec_id <> q.vec_id)
      WHERE rank <= 3""")),

    Q("s8_hard_negatives", s8, Some(s"""
      SELECT query_id, neighbor_id, cosine, rank FROM (
        SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
          ${cosSql("q.embedding", "e.embedding")} AS cosine,
          row_number() OVER (PARTITION BY q.vec_id
            ORDER BY ${cosSql("q.embedding", "e.embedding")} DESC, e.vec_id) AS rank
        FROM embeddings e
        JOIN (SELECT * FROM embeddings WHERE vec_id % 100 = 0) q
          ON e.vec_id <> q.vec_id AND e.label <> q.label)
      WHERE rank <= 5""")),

    Q("t28_dsir", t28, Some("""
      WITH toks AS (SELECT doc_id, lang, string_split(text, ' ') AS ws FROM documents),
      feats AS (SELECT doc_id, lang, unnest(list_concat(ws,
                  list_transform(range(1, len(ws)), i -> ws[i] || ' ' || ws[i+1]))) AS f
                FROM toks WHERE len(ws) >= 1),
      docb AS (SELECT doc_id, lang,
                 ('0x' || substr(md5(f), 1, 8))::BIGINT % 1024 AS bucket,
                 count(*) AS c
               FROM feats GROUP BY 1, 2, 3),
      rawc AS (SELECT bucket, sum(c)::BIGINT AS n FROM docb GROUP BY 1),
      tgtc AS (SELECT bucket, sum(c)::BIGINT AS n FROM docb WHERE lang = 'en' GROUP BY 1),
      rtot AS (SELECT coalesce(sum(n), 0)::BIGINT AS t FROM rawc),
      ttot AS (SELECT coalesce(sum(n), 0)::BIGINT AS t FROM tgtc),
      grid AS (SELECT range AS bucket FROM range(0, 1024)),
      llr AS (SELECT g.bucket,
                ln((coalesce(tc.n, 0) + 1)::DOUBLE / ((SELECT t FROM ttot) + 1024)::DOUBLE)
              - ln((coalesce(rc.n, 0) + 1)::DOUBLE / ((SELECT t FROM rtot) + 1024)::DOUBLE) AS llr
              FROM grid g
              LEFT JOIN tgtc tc ON tc.bucket = g.bucket
              LEFT JOIN rawc rc ON rc.bucket = g.bucket)
      SELECT doc_id, dsir_weight, dsir_weight > 0.0 AS dsir_keep FROM (
        SELECT d.doc_id, round(sum(d.c * l.llr), 9) + 0.0 AS dsir_weight
        FROM docb d JOIN llr l ON l.bucket = d.bucket GROUP BY 1)""")),

    Q("x34_pagerank", x34, Some(pageRankOracle(iters = 3))),

    Q("t29_compression_ratio", t29, None),

    Q("p19_unigram_train", p19, None),

    Q("p20_unigram_encode", p20, None),

    Q("p22_bpe_artifact_roundtrip", p22, Some("""
      SELECT count(*)::BIGINT AS n_docs, 0::BIGINT AS n_mismatched,
        true AS model_roundtrip
      FROM documents""")),

    Q("p23_unigram_artifact_roundtrip", p23, Some("""
      SELECT count(*)::BIGINT AS n_docs, 0::BIGINT AS n_mismatched,
        true AS model_roundtrip
      FROM documents""")),

    Q("t31_nfc_normalize", t31, Some("""
      WITH aug AS (
        SELECT doc_id,
          CASE WHEN doc_id % 10 = 0
            THEN text || ' cafe' || chr(769) || ' A' || chr(778)
            ELSE text END AS text
        FROM documents)
      SELECT doc_id, nfc_normalize(text) AS nfc_text,
        nfc_normalize(text) <> text AS was_normalized,
        length(text)::BIGINT AS n_chars_before,
        length(nfc_normalize(text))::BIGINT AS n_chars_after
      FROM aug""")),

    Q("t36_line_prevalence", t36, Some("""
      WITH base AS (
        SELECT doc_id, text FROM documents
        UNION ALL
        SELECT doc_id + 1000000 AS doc_id, text FROM documents WHERE doc_id % 5 = 0),
      pages AS (
        SELECT doc_id // 5 AS page_id,
          string_agg(text, chr(10) ORDER BY doc_id) AS text
        FROM base GROUP BY 1),
      dl AS (SELECT page_id,
               unnest(list_distinct(list_filter(string_split(text, chr(10)),
                 l -> l <> ''))) AS line
             FROM pages),
      lf AS (SELECT line, count(*)::BIGINT AS line_df FROM dl GROUP BY 1)
      SELECT page_id, count(*)::BIGINT AS n_lines,
        sum(CASE WHEN line_df >= 2 THEN 1 ELSE 0 END)::BIGINT AS n_common,
        round(sum(CASE WHEN line_df >= 2 THEN 1 ELSE 0 END)::DOUBLE
              / count(*)::DOUBLE, 9) AS boilerplate_frac
      FROM dl JOIN lf USING (line) GROUP BY 1""")),

    Q("t35_readability", t35, Some("""
      WITH p AS (SELECT doc_id,
          coalesce(array_to_string(list_transform(range(1, len(ws) + 1),
            i -> ws[i] || CASE WHEN i % 8 = 0 THEN '.' ELSE '' END), ' '), '') AS text
        FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents)),
      c AS (SELECT doc_id,
          len(list_filter(string_split_regex(text, '[.!?]+'), s -> trim(s) <> ''))
            AS n_sentences,
          list_filter(string_split(regexp_replace(
              lower(regexp_replace(text, '[ \t\n\x0B\f\r]+', ' ', 'g')), '[^a-z0-9 ]', '', 'g'), ' '),
            w -> w <> '') AS ws
        FROM p),
      sy AS (SELECT doc_id, n_sentences, len(ws)::BIGINT AS n_words,
          list_sum(list_transform(ws,
            w -> greatest(len(regexp_extract_all(w, '[aeiouy]+')), 1)))::BIGINT AS n_syllables
        FROM c WHERE len(ws) >= 1)
      SELECT doc_id, n_sentences::BIGINT AS n_sentences, n_words, n_syllables,
        round(206.835::DOUBLE
              - 1.015::DOUBLE * (n_words::DOUBLE / greatest(n_sentences, 1)::DOUBLE)
              - 84.6::DOUBLE * (n_syllables::DOUBLE / n_words::DOUBLE), 9) AS fre,
        round(0.39::DOUBLE * (n_words::DOUBLE / greatest(n_sentences, 1)::DOUBLE)
              + 11.8::DOUBLE * (n_syllables::DOUBLE / n_words::DOUBLE)
              - 15.59::DOUBLE, 9) AS fk_grade
      FROM sy""")),

    Q("t34_stupid_backoff", t34, Some("""
      WITH tr AS (SELECT string_split(text, ' ') AS ws FROM documents WHERE doc_id % 5 <> 0),
      sc AS (SELECT doc_id, ws[1:1] || ['zz' || (doc_id % 7)::VARCHAR] || ws[3:] AS ws
             FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents
                   WHERE doc_id % 5 = 0) WHERE len(ws) >= 3),
      uni AS (SELECT w1, count(*)::BIGINT AS c1
              FROM (SELECT unnest(ws) AS w1 FROM tr) GROUP BY 1),
      stats AS (SELECT sum(c1)::BIGINT AS n, count(*)::BIGINT AS v FROM uni),
      bi AS (SELECT u.w1 AS w1, u.w2 AS w2, count(*)::BIGINT AS c2 FROM (
               SELECT unnest(list_transform(range(1, len(ws)),
                 i -> {'w1': ws[i], 'w2': ws[i+1]})) AS u
               FROM tr WHERE len(ws) >= 2) GROUP BY 1, 2),
      tri AS (SELECT u.w1 AS w1, u.w2 AS w2, u.w3 AS w3, count(*)::BIGINT AS c3 FROM (
                SELECT unnest(list_transform(range(1, len(ws) - 1),
                  i -> {'w1': ws[i], 'w2': ws[i+1], 'w3': ws[i+2]})) AS u
                FROM tr WHERE len(ws) >= 3) GROUP BY 1, 2, 3),
      st AS (SELECT doc_id, u.w1 AS w1, u.w2 AS w2, u.w3 AS w3 FROM (
               SELECT doc_id, unnest(list_transform(range(1, len(ws) - 1),
                 i -> {'w1': ws[i], 'w2': ws[i+1], 'w3': ws[i+2]})) AS u
               FROM sc)),
      j AS (SELECT s.doc_id,
              CASE WHEN t.c3 IS NOT NULL THEN t.c3::DOUBLE / bc.c2::DOUBLE
                   WHEN bl.c2 IS NOT NULL THEN 0.4::DOUBLE * bl.c2::DOUBLE / u2.c1::DOUBLE
                   ELSE 0.4::DOUBLE * 0.4::DOUBLE * (coalesce(u3.c1, 0) + 1)::DOUBLE
                        / ((SELECT n FROM stats) + (SELECT v FROM stats))::DOUBLE END AS sbv
            FROM st s
            LEFT JOIN tri t ON t.w1 = s.w1 AND t.w2 = s.w2 AND t.w3 = s.w3
            LEFT JOIN bi bc ON bc.w1 = s.w1 AND bc.w2 = s.w2
            LEFT JOIN bi bl ON bl.w1 = s.w2 AND bl.w2 = s.w3
            LEFT JOIN uni u2 ON u2.w1 = s.w2
            LEFT JOIN uni u3 ON u3.w1 = s.w3)
      SELECT doc_id, count(*)::BIGINT AS n_scored, round(avg(ln(sbv)), 9) AS avg_logp
      FROM j GROUP BY 1""")),

    Q("t33_decontaminate_spans", t33, Some("""
      WITH toks AS (SELECT doc_id, text, string_split(text, ' ') AS ws FROM documents),
      bench AS (SELECT DISTINCT array_to_string(ws[4:9], ' ') AS btext
                FROM toks WHERE doc_id % 50 = 0 AND len(ws) >= 9),
      bg AS (SELECT DISTINCT u.g AS g FROM (
               SELECT unnest(list_transform(range(1, greatest(len(bws) - 3, 1)),
                 i -> {'i': i, 'g': array_to_string(bws[i:i+4], ' ')})) AS u
               FROM (SELECT string_split(btext, ' ') AS bws FROM bench))),
      g2 AS (SELECT doc_id, u.i AS i, u.g AS g FROM (
               SELECT doc_id, unnest(list_transform(range(1, greatest(len(ws) - 3, 1)),
                 i -> {'i': i, 'g': array_to_string(ws[i:i+4], ' ')})) AS u
               FROM toks)),
      hits AS (SELECT DISTINCT g2.doc_id, g2.i FROM g2 JOIN bg USING (g)),
      cov AS (SELECT DISTINCT doc_id,
                unnest(list_transform(range(0, 5), o -> i + o)) AS idx FROM hits),
      covagg AS (SELECT doc_id, count(*)::BIGINT AS n_removed, list(idx) AS cidx
                 FROM cov GROUP BY 1),
      clean AS (
        SELECT t.doc_id, array_to_string(
          list_transform(list_filter(range(1, len(t.ws) + 1),
            i -> NOT list_contains(c.cidx, i)), i -> t.ws[i]), ' ') AS ctext
        FROM toks t JOIN covagg c USING (doc_id))
      SELECT t.doc_id,
        CASE WHEN c.doc_id IS NULL THEN t.text ELSE cl.ctext END AS clean_text,
        coalesce(c.n_removed, 0)::BIGINT AS n_removed,
        c.doc_id IS NOT NULL AS contaminated
      FROM toks t LEFT JOIN covagg c USING (doc_id) LEFT JOIN clean cl USING (doc_id)""")),

    Q("t32_url_dedup", t32, Some("""
      WITH c AS (
        SELECT doc_id,
          (CASE WHEN doc_id % 2 = 0 THEN 'https' ELSE 'http' END)
          || '://'
          || (CASE WHEN doc_id % 3 = 2 THEN 'cdn.' ELSE '' END)
          || 'site' || (doc_id % 10)::VARCHAR || '.example.com'
          || (CASE
                WHEN doc_id % 4 = 0 AND doc_id % 2 = 1 THEN ':443'
                WHEN doc_id % 4 = 1 AND doc_id % 2 = 0 THEN ':80'
                WHEN doc_id % 4 = 2 THEN ':8080'
                ELSE '' END)
          || (CASE doc_id % 5 WHEN 0 THEN '/a/b' WHEN 1 THEN '/' WHEN 2 THEN '/p2'
              WHEN 3 THEN '/p3' ELSE '/a/b/c' END)
          || (CASE WHEN doc_id % 3 = 2 THEN '' ELSE '?a=1&b=2' END) AS url_canonical
        FROM documents WHERE doc_id % 7 <> 6)
      SELECT url_canonical, min(doc_id) AS keep_id, count(*)::BIGINT AS n_dups
      FROM c GROUP BY 1""")),

    Q("t30_blocklist", t30, Some("""
      WITH pats AS (SELECT unnest(['join a', 'filter c', 'scan', 'zzzq']) AS p),
      counts AS (
        SELECT d.doc_id, p.p,
          coalesce(list_sum(list_transform(
            range(1, length(d.text) - length(p.p) + 2),
            i -> CASE WHEN substr(d.text, i, length(p.p)) = p.p
                 THEN 1 ELSE 0 END)), 0)::BIGINT AS c
        FROM documents d CROSS JOIN pats p)
      SELECT doc_id, sum(c)::BIGINT AS blocklist_hits,
        coalesce(array_to_string(list(p ORDER BY p) FILTER (WHERE c > 0), ' '), '')
          AS blocklist_terms,
        sum(c) > 0 AS blocklist_flag
      FROM counts GROUP BY doc_id""")),

    Q("x37_orc_roundtrip", x37, Some("""
      SELECT doc_id, text, lang, source, n_chars
      FROM documents WHERE n_chars > 64""")),

    Q("x38_schema_evolution", x38, Some("""
      SELECT doc_id, source, NULL::BIGINT AS n_chars
      FROM documents WHERE doc_id % 2 = 0
      UNION ALL
      SELECT doc_id, source, n_chars FROM documents WHERE doc_id % 2 = 1""")),

    Q("x35_jsonl_roundtrip", x35, Some("""
      SELECT doc_id, text, lang, source, n_chars
      FROM documents WHERE doc_id % 10 <> 0""")),

    Q("s2_ann_lsh_topk", s2, Some(lshOracle)),

    // same planes (deterministic, seed-free), same scoring — the LSH
    // index-at-rest face must reproduce s2 exactly; shared oracle
    Q("s10_ann_lsh_indexed", s10, Some(lshOracle)),

    Q("s13_random_projection", s13, Some("""
      SELECT e.vec_id, j.j::INT AS dim,
        round(list_reduce(list_transform(range(1, 65),
          i -> e.embedding[i]::DOUBLE *
            (CASE WHEN ('0x' || substr(md5((i-1)::VARCHAR || '_' || j.j::VARCHAR), 1, 8))::BIGINT % 2 = 0
                  THEN 1.0::DOUBLE ELSE -1.0::DOUBLE END)),
          (a, b) -> a + b) / sqrt(8.0::DOUBLE), 9) + 0.0::DOUBLE AS value
      FROM embeddings e CROSS JOIN (SELECT unnest(range(0, 8)) AS j) j""")),

    Q("s11_bm25_topk", s11, Some(bm25Oracle)),

    // same postings/df/fold-order — the inverted-index-at-rest face must
    // reproduce s11 exactly; shared oracle
    Q("s12_bm25_indexed", s12, Some(bm25Oracle)),

    Q("t1_language_id", t1, Some("""
      SELECT doc_id, en_hits, de_hits, fr_hits, es_hits,
        CASE WHEN en_hits >= de_hits AND en_hits >= fr_hits AND en_hits >= es_hits THEN 'en'
             WHEN de_hits >= fr_hits AND de_hits >= es_hits THEN 'de'
             WHEN fr_hits >= es_hits THEN 'fr'
             ELSE 'es' END AS predicted_lang
      FROM (
        SELECT doc_id,
          len(list_filter(string_split(text, ' '), t ->
            list_contains(['the','a','of','and','to','in','is'], t))) AS en_hits,
          len(list_filter(string_split(text, ' '), t ->
            list_contains(['der','die','das','und','ist','ein'], t))) AS de_hits,
          len(list_filter(string_split(text, ' '), t ->
            list_contains(['le','la','les','et','est','un'], t))) AS fr_hits,
          len(list_filter(string_split(text, ' '), t ->
            list_contains(['el','la','los','y','es','un'], t))) AS es_hits
        FROM documents)""")),

    Q("t2_quality_score", t2, Some("""
      SELECT doc_id, n_tokens, mean_tok_len, stopword_ratio, punct_ratio,
        0.4 * least(stopword_ratio * 5.0, 1.0)
          + 0.3 * (1.0 - punct_ratio)
          + 0.3 * least(n_tokens / 100.0, 1.0) AS quality
      FROM (
        SELECT doc_id,
          len(string_split(text, ' '))::BIGINT AS n_tokens,
          list_sum(list_transform(string_split(text, ' '), t -> length(t)))::DOUBLE
            / len(string_split(text, ' ')) AS mean_tok_len,
          len(list_filter(string_split(text, ' '), t ->
            list_contains(['the','a','of','and','to','in','is'], t)))::DOUBLE
            / len(string_split(text, ' ')) AS stopword_ratio,
          length(regexp_replace(text, '[a-zA-Z0-9 ]', '', 'g'))::DOUBLE
            / length(text) AS punct_ratio
        FROM documents)""")),

    Q("t3_token_counts", t3, Some("""
      SELECT doc_id,
        len(string_split(text, ' '))::BIGINT AS ws_tokens,
        len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 \t\n\x0B\f\r]'))::BIGINT AS bpe_tokens,
        len(list_distinct(string_split(text, ' ')))::BIGINT AS distinct_tokens
      FROM documents""")),

    Q("t13_heavy_hitters", t13, Some("""
      SELECT lang, token, est_count, 0::BIGINT AS err FROM (
        SELECT lang, token, count(*)::BIGINT AS est_count,
          row_number() OVER (PARTITION BY lang ORDER BY count(*) DESC, token) AS rn
        FROM (SELECT lang, unnest(string_split(text, ' ')) AS token FROM documents)
        GROUP BY lang, token)
      WHERE rn <= 10""")),

    Q("t16_lm_perplexity", t16, Some("""
      WITH toks AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
      bg AS (SELECT doc_id, ws[i] AS w1, ws[i+1] AS w2
             FROM (SELECT doc_id, ws, unnest(range(1, len(ws))) AS i
                   FROM toks WHERE len(ws) >= 2)),
      cb AS (SELECT w1, w2, count(*)::DOUBLE AS cb FROM bg GROUP BY 1, 2),
      un AS (SELECT w1, count(*)::DOUBLE AS cu
             FROM (SELECT doc_id, ws[i] AS w1
                   FROM (SELECT doc_id, ws, unnest(range(1, len(ws) + 1)) AS i FROM toks))
             GROUP BY 1),
      v AS (SELECT count(*)::DOUBLE AS v FROM un)
      SELECT doc_id, count(*)::BIGINT AS n_bigrams,
        round(avg(ln((cb + 0.1) / (cu + 0.1 * v))), 9) AS avg_logp
      FROM bg JOIN cb USING (w1, w2) JOIN un USING (w1) CROSS JOIN v
      GROUP BY doc_id""")),

    Q("t14_model_filter", t14, Some(s"""
      SELECT doc_id, logit, logit > 0.0 AS model_keep FROM (
        SELECT doc_id,
          round(list_sum(list_transform(string_split(text, ' '), t ->
            wl[(('0x' || substr(md5(t), 1, 8))::BIGINT % 64) + 1])), 9) + 0.0 AS logit
        FROM (SELECT doc_id, text,
          ${Curation.hashedWeights(64, "w").mkString("[", ", ", "]")}::DOUBLE[] AS wl
          FROM documents))""")),

    Q("t9_repetition", t9, Some("""
      SELECT doc_id,
        (len(ws) - 1)::BIGINT AS n_ngrams,
        1 - len(list_distinct(ng))::DOUBLE / (len(ws) - 1) AS dup_ngram_frac,
        list_max(list_transform(list_distinct(ws), u ->
          len(list_filter(ws, x -> x = u))))::DOUBLE / len(ws) AS top_token_frac
      FROM (
        SELECT doc_id, ws,
          list_transform(range(1, len(ws)), i -> ws[i] || ' ' || ws[i+1]) AS ng
        FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents)
        WHERE len(ws) >= 2)""")),

    Q("t10_heuristic_filter", t10, Some("""
      SELECT doc_id,
        n_toks < 25 AS flag_too_few_tokens,
        mean_len < 2.5 OR mean_len > 9.5 AS flag_tok_len,
        dup2 > 0.10 AS flag_dup_ngrams,
        topfrac > 0.15 AS flag_top_token,
        stophits = 0 AS flag_no_stopword,
        NOT (n_toks < 25 OR mean_len < 2.5 OR mean_len > 9.5 OR dup2 > 0.10
             OR topfrac > 0.15 OR stophits = 0) AS keep
      FROM (
        SELECT doc_id, len(ws) AS n_toks,
          list_sum(list_transform(ws, w -> length(w)))::DOUBLE / len(ws) AS mean_len,
          CASE WHEN len(ws) >= 2 THEN
            1 - len(list_distinct(list_transform(range(1, len(ws)),
              i -> ws[i] || ' ' || ws[i+1])))::DOUBLE / (len(ws) - 1)
          ELSE 0.0 END AS dup2,
          list_max(list_transform(list_distinct(ws), u ->
            len(list_filter(ws, x -> x = u))))::DOUBLE / len(ws) AS topfrac,
          len(list_filter(ws, w ->
            list_contains(['the','a','of','and','to','in','is'], w))) AS stophits
        FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents))""")),

    Q("t11_pii_redaction", t11, Some("""
      WITH pii AS (
        SELECT doc_id,
          CASE WHEN doc_id % 7 = 0 THEN
            text || ' contact user' || doc_id::VARCHAR
              || '@example.com or 555-' || lpad((doc_id % 10000)::VARCHAR, 4, '0')
              || ' at 10.0.' || (doc_id % 256)::VARCHAR || '.' || (doc_id % 100)::VARCHAR
          ELSE text END AS text
        FROM documents)
      SELECT doc_id,
        len(regexp_extract_all(text,
          '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'))::BIGINT AS n_emails,
        len(regexp_extract_all(text,
          '[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}'))::BIGINT AS n_ips,
        len(regexp_extract_all(text, '555-[0-9]{4}'))::BIGINT AS n_phones,
        md5(regexp_replace(regexp_replace(regexp_replace(text,
          '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
          '[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}', '<IP>', 'g'),
          '555-[0-9]{4}', '<PHONE>', 'g')) AS redacted_hash
      FROM pii""")),

    Q("t12_decontamination", t12, Some(decontamOracle)),

    // same semantics as t12 by construction (bloom prefilter + exact
    // confirm) — the shared oracle IS the claim being checked
    Q("t15_decontamination_bloom", t15, Some(decontamOracle)),

    // cross-relation LSH: d3's signature CTEs instantiated twice (c/b
    // prefixes), band-join across them, exact-Jaccard verify at 0.5
    Q("t18_decontamination_fuzzy", t18, Some(s"""
      WITH $corpusSql,
      csh AS (SELECT doc_id, list_distinct(list_transform(range(1, len(ws) - 1),
                i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) AS shingles
              FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM corpus
                    WHERE doc_id >= 1000000 OR doc_id % 5 <> 0)
              WHERE len(ws) >= 3),
      bsh AS (SELECT doc_id, list_distinct(list_transform(range(1, len(ws) - 1),
                i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) AS shingles
              FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents
                    WHERE doc_id % 5 = 0)
              WHERE len(ws) >= 3),
      ${minhashCtesFor("csh", "c")},
      ${minhashCtesFor("bsh", "b")},
      cand AS (SELECT DISTINCT c.doc_id, b.doc_id AS bench_id
               FROM cbands c JOIN bbands b
                 ON c.band = b.band AND c.band_key = b.band_key),
      ver AS (SELECT cand.doc_id,
                len(list_intersect(sc.shingles, sb.shingles))::DOUBLE
                  / len(list_distinct(list_concat(sc.shingles, sb.shingles))) AS jaccard
              FROM cand
              JOIN csh sc ON sc.doc_id = cand.doc_id
              JOIN bsh sb ON sb.doc_id = cand.bench_id)
      SELECT doc_id, count(*) AS n_bench_matches, max(jaccard) AS max_jaccard
      FROM ver WHERE jaccard >= 0.5
      GROUP BY doc_id""")),

    Q("t4_fingerprint", t4, Some("""
      SELECT doc_id,
        list_aggregate(list_transform(range(1, length(text) - 14),
          i -> md5(substr(text, i, 16))), 'min') AS fingerprint,
        (length(text) - 15)::BIGINT AS n_windows
      FROM documents WHERE length(text) >= 16""")),

    Q("m1_multimodal_ingest", m1, Some("""
      SELECT doc_id AS media_id,
        octet_length(encode(text))::BIGINT AS byte_len,
        md5(text) AS content_hash,
        'text/plain' AS mime
      FROM documents""")),

    Q("m2_multimodal_decode", m2, Some("""
      SELECT media_id, byte_len, content_hash,
        16 + byte_len % 64 AS width,
        16 + (byte_len * 7) % 64 AS height,
        1 + byte_len % 8 AS n_frames,
        ((byte_len * 2654435761) % 256) / 255.0 AS mean_px
      FROM (
        SELECT doc_id AS media_id,
          octet_length(encode(text))::BIGINT AS byte_len,
          md5(text) AS content_hash
        FROM documents)""")),

    Q("m5_perceptual_dedup", m5, Some("""
      WITH m AS (SELECT doc_id AS media_id,
                   octet_length(encode(text))::BIGINT AS byte_len
                 FROM documents),
      g AS (SELECT media_id,
              list_transform(range(1, 65), j ->
                ((byte_len * j * 2654435761) % 256) / 255.0) AS gray
            FROM m),
      h AS (SELECT media_id,
              list_sum(list_transform(range(1, 33), j ->
                CASE WHEN gray[j] > mean THEN 1::BIGINT << (j - 1) ELSE 0 END))::BIGINT AS hi,
              list_sum(list_transform(range(33, 65), j ->
                CASE WHEN gray[j] > mean THEN 1::BIGINT << (j - 33) ELSE 0 END))::BIGINT AS lo
            FROM (SELECT media_id, gray, list_sum(gray) / 64.0 AS mean FROM g)),
      hnz AS (SELECT * FROM h WHERE hi <> 0 OR lo <> 0),
      blk AS (SELECT media_id, hi, lo, 0 AS bi, hi & 65535 AS bv FROM hnz
              UNION ALL SELECT media_id, hi, lo, 1, (hi >> 16) & 65535 FROM hnz
              UNION ALL SELECT media_id, hi, lo, 2, lo & 65535 FROM hnz
              UNION ALL SELECT media_id, hi, lo, 3, (lo >> 16) & 65535 FROM hnz),
      cand AS (SELECT DISTINCT a.media_id AS id_a, b.media_id AS id_b,
                 a.hi AS hi_a, a.lo AS lo_a, b.hi AS hi_b, b.lo AS lo_b
               FROM blk a JOIN blk b
                 ON a.bi = b.bi AND a.bv = b.bv AND a.media_id < b.media_id)
      SELECT id_a, id_b, hi_a, lo_a, hi_b, lo_b,
        (bit_count(xor(hi_a, hi_b)) + bit_count(xor(lo_a, lo_b)))::BIGINT AS hamming
      FROM cand
      WHERE bit_count(xor(hi_a, hi_b)) + bit_count(xor(lo_a, lo_b)) <= 3""")),

    Q("m3_frame_sample", m3, Some("""
      SELECT media_id, n_frames, unnest(range(0, n_frames, 2)) AS frame_idx
      FROM (
        SELECT doc_id AS media_id,
          1 + octet_length(encode(text))::BIGINT % 8 AS n_frames
        FROM documents)""")),

    Q("m4_resize", m4, Some("""
      SELECT media_id, w0 AS src_width, h0 AS src_height,
        greatest(1, round(w0 * s)::INT) AS width,
        greatest(1, round(h0 * s)::INT) AS height,
        round(gray / 255.0, 9) AS mean_px
      FROM (
        SELECT media_id, gray, w0, h0,
          CASE WHEN greatest(w0, h0) <= 48 THEN 1.0
               ELSE 48.0 / greatest(w0, h0) END AS s
        FROM (
          SELECT doc_id AS media_id, (doc_id % 256)::INT AS gray,
            (24 + doc_id % 80)::INT AS w0,
            (16 + (doc_id * 7) % 96)::INT AS h0
          FROM documents))""")),

    Q("st4_minhash_band_registry", st4, Some(s"""
      WITH $corpusSql,
      docs AS (SELECT doc_id, string_split(text, ' ') AS ws FROM corpus),
      sh AS (SELECT doc_id, list_distinct(list_transform(range(1, len(ws) - 1),
               i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) AS shingles
             FROM docs WHERE len(ws) >= 3),
      $minhashCtes
      SELECT band_key, min(doc_id) AS keep_id FROM bands GROUP BY band_key""")),

    Q("st1_windowed_events", st1, Some("""
      SELECT (epoch_ns(ts) // 1000000000 // 3600) * 3600 AS window_start_s,
        event_type, count(*) AS n_events, sum(value) AS sum_value
      FROM events GROUP BY 1, 2""")),

    Q("st7_windowed_heavy_hitters", st7, Some("""
      SELECT window_start_s, rn::INT AS rank, event_type, est_count FROM (
        SELECT window_start_s, event_type, count(*)::BIGINT AS est_count,
          row_number() OVER (PARTITION BY window_start_s
            ORDER BY count(*) DESC, event_type) AS rn
        FROM (SELECT (epoch_ns(ts) // 1000000000 // 3600) * 3600 AS window_start_s,
                event_type FROM events)
        GROUP BY 1, 2)
      WHERE rn <= 5""")),

    // graftshard on both ends of a streaming pipeline: readStream ->
    // transform -> streaming sink -> batch read-back
    Q("st9_stream_lake_pipeline", st9, Some("""
      SELECT doc_id, (n_chars * 2)::BIGINT AS chars2, lang
      FROM documents WHERE n_chars > 100""")),

    // rate-limited bootstrap: maxFilesPerTrigger drains an existing
    // 8-file table in capped AvailableNow epochs, byte-exact
    // event-time streaming over the days(ts)-partitioned timestamp
    // lake: hourly windows in complete mode, exactly-once truncate
    // epochs (required in-query: transform source + >=3 epochs)
    Q("st12_stream_event_time_windows", st12, Some("""
      SELECT (epoch_us(ts) // 3600000000) * 3600000000 AS win_start,
        event_type, count(*)::BIGINT AS n_events,
        SUM(CAST(FLOOR(value * 1000000) AS BIGINT))::BIGINT AS value_micros
      FROM events GROUP BY 1, 2""")),

    Q("st11_stream_rate_limited", st11, Some("""
      SELECT doc_id, n_chars, lang, source FROM documents
      WHERE n_chars >= 150 AND lang <> 'de'""")),

    // streaming write-audit-publish: capped stream stages epochs on a
    // branch (live provably untouched, required in-query), audit reads
    // the branch, publish folds the chain + replay guard into ONE
    // live commit; byte-exact (seed half + streamed half = documents)
    Q("st13_stream_write_audit_publish", st13, Some("""
      SELECT doc_id, n_chars::BIGINT AS n_chars, lang FROM documents""")),

    // streaming change feed: version-delta micro-batches into a lake sink
    Q("st10_stream_change_feed", st10, Some("""
      SELECT doc_id, lang, 'insert' AS _change_type
      FROM documents WHERE doc_id % 2 = 1
      UNION ALL
      SELECT doc_id, lang, 'delete' AS _change_type
      FROM documents WHERE doc_id % 9 = 2""")),

    Q("st8_stream_dedup", st8, Some("""
      SELECT event_id, ts_s, event_type, user_id FROM (
        SELECT event_id, ts_s, event_type, user_id,
          row_number() OVER (PARTITION BY event_id
            ORDER BY ts_s, event_type, user_id) AS rn
        FROM (
          SELECT event_id, epoch_ns(ts) // 1000000000 AS ts_s, event_type, user_id
          FROM events
          UNION ALL
          SELECT event_id, epoch_ns(ts) // 1000000000 + 30 AS ts_s, event_type, user_id
          FROM events WHERE event_id % 7 = 0))
      WHERE rn = 1""")),

    Q("st6_latest_state", st6, Some("""
      SELECT user_id, ts_s, event_id, event_type FROM (
        SELECT user_id, epoch_ns(ts) // 1000000000 AS ts_s, event_id, event_type,
          row_number() OVER (PARTITION BY user_id
            ORDER BY epoch_ns(ts) // 1000000000 DESC, event_id DESC) AS rn
        FROM events)
      WHERE rn = 1""")),

    // every event belongs to window starts in
    // ((ts_s - 3600)//900 + 1 .. ts_s//900) × 900 — len/slide = 4 windows
    Q("st5_sliding_windows", st5, Some("""
      SELECT ws * 900 AS window_start_s, event_type,
        count(*) AS n_events, round(sum(value), 9) AS sum_value
      FROM (SELECT event_type, value,
              unnest(range((ts_s - 3600) // 900 + 1, ts_s // 900 + 1)) AS ws
            FROM (SELECT epoch_ns(ts) // 1000000000 AS ts_s, event_type, value
                  FROM events))
      GROUP BY 1, 2""")),

    Q("x1_star_join", x1, Some("""
      SELECT n_name, count(*) AS n_orders, sum(o_totalprice) AS sum_price
      FROM orders
      JOIN customer ON o_custkey = c_custkey
      JOIN nation ON c_nationkey = n_nationkey
      GROUP BY n_name""")),

    Q("t5_percentiles", t5, Some("""
      SELECT event_type, count(*) AS n,
        quantile_cont(value, 0.5) AS p50,
        quantile_cont(value, 0.95) AS p95
      FROM events GROUP BY event_type""")),

    // ::INT casts match Spark's IntegerType for year/month/dayofweek;
    // DuckDB dayofweek is 0-based Sunday, Spark's is 1-based → +1
    Q("x31_date_parts", x31, Some("""
      SELECT year(o_orderdate)::INT AS yr, month(o_orderdate)::INT AS mo,
        (dayofweek(o_orderdate) + 1)::INT AS dow,
        count(*) AS n_orders, round(sum(o_totalprice), 2) AS sum_price
      FROM orders GROUP BY 1, 2, 3""")),

    Q("t20_typo_candidates", t20, Some("""
      WITH v AS (SELECT DISTINCT unnest(string_split(text, ' ')) AS tok
                 FROM documents),
      l AS (SELECT tok, lag(tok) OVER (ORDER BY tok) AS prev_tok
            FROM v WHERE tok <> '')
      SELECT prev_tok, tok, levenshtein(tok, prev_tok)::INT AS dist
      FROM l WHERE prev_tok IS NOT NULL AND levenshtein(tok, prev_tok) <= 2""")),

    // ::BIGINT on sum: DuckDB sum(BIGINT) yields HUGEINT (the d4 lesson)
    Q("x30_json_extract", x30, Some("""
      SELECT event_type,
        count(k) AS n_with_k, sum(k)::BIGINT AS sum_k,
        min(k) AS min_k, max(k) AS max_k
      FROM (SELECT event_type, TRY_CAST(props->>'k' AS BIGINT) AS k FROM events)
      GROUP BY event_type""")),

    Q("t22_html_extract", t22, Some("""
      WITH h AS (
        SELECT doc_id,
          '<html><head><title>T' || doc_id || '</title><script type="text/javascript">var x = 1 < 2;</script><style>p { color: red; }</style></head><body><!-- c --><h1>Doc ' || doc_id || '</h1><p>' || text || ' &amp;amp; entities &lt;b&gt; &quot;q&quot; &#39;s&#39;&nbsp;end</p><br/></body></html>' AS html
        FROM documents),
      s1 AS (
        SELECT doc_id, regexp_replace(regexp_replace(regexp_replace(regexp_replace(html,
          '(?is)<script[^>]*>.*?</script>', ' ', 'g'),
          '(?is)<style[^>]*>.*?</style>', ' ', 'g'),
          '(?s)<!--.*?-->', ' ', 'g'),
          '<[^>]*>', ' ', 'g') AS t
        FROM h),
      s2 AS (
        SELECT doc_id, replace(replace(replace(replace(replace(replace(t,
          '&lt;', '<'), '&gt;', '>'), '&quot;', '"'), '&#39;', ''''), '&nbsp;', ' '), '&amp;', '&') AS t
        FROM s1)
      SELECT doc_id, trim(regexp_replace(t, '[ \t\n\x0b\f\r]+', ' ', 'g')) AS clean_text,
        length(trim(regexp_replace(t, '[ \t\n\x0b\f\r]+', ' ', 'g')))::INT AS clean_chars
      FROM s2""")),
    Q("t23_url_features", t23, Some("""
      SELECT doc_id,
        (CASE doc_id % 4 WHEN 0 THEN 'www.' WHEN 1 THEN 'blog.' WHEN 2 THEN 'cdn.' ELSE '' END)
          || source || '.example'
          || (CASE doc_id % 3 WHEN 0 THEN '.com' WHEN 1 THEN '.org' ELSE '.net' END) AS url_host,
        'example' || (CASE doc_id % 3 WHEN 0 THEN '.com' WHEN 1 THEN '.org' ELSE '.net' END) AS url_domain,
        (CASE doc_id % 3 WHEN 0 THEN 'com' WHEN 1 THEN 'org' ELSE 'net' END) AS url_tld,
        2::INT AS path_depth,
        (doc_id % 3 = 1) AS is_blocked
      FROM documents""")),
    Q("t19_winsorize", t19, Some("""
      WITH b AS (SELECT quantile_cont(value, 0.01) AS p01,
                        quantile_cont(value, 0.99) AS p99 FROM events)
      SELECT event_id, value,
        least(greatest(value, p01), p99) AS value_w,
        (value < p01 OR value > p99) AS clipped
      FROM events, b""")),

    Q("x5_anti_join", x5, Some("""
      SELECT c_mktsegment, count(*) AS n_never_ordered, min(c_custkey) AS min_custkey
      FROM customer c
      WHERE NOT EXISTS (SELECT 1 FROM orders o
        WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 200000)
      GROUP BY c_mktsegment""")),

    Q("x24_range_frame_window", x24, Some("""
      SELECT event_id, user_id,
        count(*) OVER w AS n_trailing_hr,
        round(sum(value) OVER w, 9) AS sum_trailing_hr
      FROM (SELECT event_id, user_id,
              epoch_ns(ts) // 1000000000 AS ts_s, value FROM events)
      WINDOW w AS (PARTITION BY user_id ORDER BY ts_s
                   RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW)""")),

    Q("x28_funnel", x28, Some("""
      WITH ev AS (SELECT user_id, event_type,
                    epoch_ns(ts) // 1000000000 AS ts_s FROM events),
      v AS (SELECT user_id, min(ts_s) AS t1 FROM ev
            WHERE event_type = 'view' GROUP BY 1),
      c AS (SELECT e.user_id, min(ts_s) AS t2 FROM ev e JOIN v USING (user_id)
            WHERE event_type = 'click' AND ts_s > t1 GROUP BY 1),
      p AS (SELECT e.user_id, min(ts_s) AS t3 FROM ev e JOIN c USING (user_id)
            WHERE event_type = 'purchase' AND ts_s > t2 GROUP BY 1)
      SELECT (SELECT count(*) FROM v) AS n_viewed,
             (SELECT count(*) FROM c) AS n_clicked_after,
             (SELECT count(*) FROM p) AS n_purchased_after""")),

    Q("x29_retention", x29, Some("""
      WITH ev AS (SELECT DISTINCT user_id,
                    epoch_ns(ts) // 1000000000 // 604800 AS week FROM events),
      cohort AS (SELECT user_id, min(week) AS cohort_week FROM ev GROUP BY 1)
      SELECT cohort_week, week - cohort_week AS week_offset, count(*) AS n_users
      FROM ev JOIN cohort USING (user_id)
      GROUP BY 1, 2""")),

    Q("x25_gap_fill", x25, Some("""
      WITH ev AS (SELECT event_type, epoch_ns(ts) // 1000000000 // 3600 AS h
                  FROM events),
      b AS (SELECT min(h) AS h0, max(h) AS h1 FROM ev),
      scaffold AS (SELECT event_type, unnest(range(h0, h1 + 1)) AS h
                   FROM (SELECT DISTINCT event_type FROM ev), b),
      counts AS (SELECT event_type, h, count(*) AS n FROM ev GROUP BY 1, 2)
      SELECT s.event_type, s.h * 3600 AS hour_s, coalesce(c.n, 0)::BIGINT AS n_events
      FROM scaffold s LEFT JOIN counts c
        ON s.event_type = c.event_type AND s.h = c.h""")),

    // MERGE INTO semantics: deletes vanish, updates replace, inserts
    // append; deletes win over updates on keys hit by both rules
    Q("x26_cdc_merge", x26, Some("""
      WITH snap AS (SELECT o_orderkey, o_orderpriority, o_totalprice FROM orders),
      changes AS (
        SELECT o_orderkey,
          arg_min(o_orderpriority, pri) AS o_orderpriority,
          arg_min(o_totalprice, pri) AS o_totalprice,
          arg_min(op, pri) AS op
        FROM (
          SELECT o_orderkey, o_orderpriority, o_totalprice + 1000.0 AS o_totalprice,
                 'upsert' AS op, 1 AS pri FROM snap WHERE o_orderkey % 10 = 0
          UNION ALL
          SELECT o_orderkey, o_orderpriority, o_totalprice, 'delete', 0
          FROM snap WHERE o_orderkey % 17 = 0
          UNION ALL
          SELECT -o_orderkey - 1, o_orderpriority, o_totalprice, 'upsert', 1
          FROM snap WHERE o_orderkey % 50 = 0)
        GROUP BY o_orderkey),
      merged AS (
        SELECT o_orderpriority, o_totalprice FROM snap
        WHERE o_orderkey NOT IN (SELECT o_orderkey FROM changes)
        UNION ALL
        SELECT o_orderpriority, o_totalprice FROM changes WHERE op = 'upsert')
      SELECT o_orderpriority, count(*) AS n_orders,
        round(sum(o_totalprice), 2) AS sum_price
      FROM merged GROUP BY o_orderpriority""")),

    Q("x33_scd2_history", x33, Some("""
      WITH w AS (
        SELECT o_custkey, o_orderkey, o_orderstatus, o_totalprice, o_orderdate,
          lead(o_orderdate) OVER (
            PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS next_ts
        FROM orders)
      SELECT o_custkey, o_orderkey, o_orderstatus, o_totalprice,
        o_orderdate AS valid_from, next_ts AS valid_to,
        (next_ts IS NULL) AS is_current
      FROM w
      WHERE next_ts IS NULL OR next_ts <> o_orderdate""")),
    Q("x32_reconcile", x32, Some("""
      WITH b AS (SELECT o_orderkey AS k, o_orderpriority AS pri,
                   o_totalprice AS price FROM orders),
      a AS (
        SELECT k, pri,
          CASE WHEN k % 7 = 0 THEN price + 5.0 ELSE price END AS price
        FROM b WHERE k % 13 <> 0
        UNION ALL
        SELECT -k - 1, pri, price FROM b WHERE k % 31 = 0),
      d AS (
        SELECT coalesce(a.k, b.k) AS key,
          CASE WHEN b.k IS NULL THEN 'added'
               WHEN a.k IS NULL THEN 'removed'
               WHEN NOT (b.pri IS NOT DISTINCT FROM a.pri
                         AND b.price IS NOT DISTINCT FROM a.price)
                 THEN 'changed' ELSE 'unchanged' END AS status
        FROM b FULL JOIN a ON b.k = a.k)
      SELECT status, count(*) AS n,
        array_to_string(list_sort(list(key::VARCHAR))[1:3], ',') AS example_keys
      FROM d GROUP BY status""")),

    Q("x27_histogram", x27, Some("""
      WITH b AS (SELECT min(value) AS lo, max(value) AS hi FROM events)
      SELECT event_type,
        least(floor((value - lo) / (hi - lo) * 10)::BIGINT, 9) AS bucket,
        count(*) AS n
      FROM events, b
      GROUP BY 1, 2""")),

    Q("x22_outer_join", x22, Some("""
      SELECT coalesce(c.c_nationkey, s.s_nationkey) AS nationkey,
        coalesce(c.n, 0)::BIGINT AS n_rich_customers,
        coalesce(s.n, 0)::BIGINT AS n_rich_suppliers
      FROM (SELECT c_nationkey, count(*) AS n FROM customer
            WHERE c_acctbal > 9000 GROUP BY 1) c
      FULL JOIN (SELECT s_nationkey, count(*) AS n FROM supplier
                 WHERE s_acctbal > 9000 GROUP BY 1) s
        ON c.c_nationkey = s.s_nationkey""")),

    Q("x23_stats_corr", x23, Some("""
      SELECT l_returnflag, count(*) AS n,
        round(corr(l_quantity, l_extendedprice), 9) AS corr_qty_price,
        round(covar_samp(l_quantity, l_extendedprice), 6) AS covar_qty_price,
        round(stddev_samp(l_extendedprice), 6) AS sd_price
      FROM lineitem GROUP BY l_returnflag""")),

    Q("x6_stratified_sample", x6, Some("""
      SELECT event_id, event_type, value FROM (
        SELECT event_id, event_type, value,
          row_number() OVER (PARTITION BY event_type
            ORDER BY md5(event_id::VARCHAR), event_id) AS rn
        FROM events)
      WHERE rn <= 3""")),

    Q("t6_vocabulary", t6, Some("""
      SELECT tok, count(*) AS cf, count(DISTINCT doc_id) AS df
      FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents)
      GROUP BY tok
      ORDER BY cf DESC, tok
      LIMIT 20""")),

    // sketch family: TOLERANCE-BANDED oracles — exact anchors recomputed
    // by DuckDB, in-bound booleans asserted as literal TRUE (an estimate
    // drifting past its documented error now hash-mismatches)
    Q("a1_approx_stats", a1, Some("""
      SELECT event_type, COUNT(DISTINCT user_id) AS exact_users,
        TRUE AS users_within_eps, TRUE AS p50_within_rank,
        TRUE AS p95_within_rank
      FROM events GROUP BY event_type""")),
    Q("a2_hll_union", a2, Some("""
      SELECT source, COUNT(DISTINCT tok) AS exact_distinct_tokens,
        TRUE AS est_within_eps
      FROM (SELECT source, unnest(string_split(text, ' ')) AS tok
            FROM documents) GROUP BY source
      UNION ALL
      SELECT '__all__', COUNT(DISTINCT tok), TRUE
      FROM (SELECT unnest(string_split(text, ' ')) AS tok FROM documents)""")),
    Q("s4_ann_ivf_kmeans", s4, None),
    Q("a3_kll_quantiles", a3, Some("""
      SELECT event_type, COUNT(*) AS n, TRUE AS q50_within_rank,
        TRUE AS q95_within_rank
      FROM events GROUP BY event_type""")),

    // CMS estimates ≡ exact counts in the no-collision regime (width 256
    // ≫ 31-token vocab, spec'd) — scaffold keeps zero-count probes.
    Q("a5_source_overlap", a5, Some("""
      WITH ts AS (SELECT DISTINCT source, tok FROM (
             SELECT source, unnest(string_split(text, ' ')) AS tok FROM documents)
           WHERE tok <> ''),
      sc AS (SELECT source, count(*)::BIGINT AS n FROM ts GROUP BY 1),
      inter AS (SELECT a.source AS source_a, b.source AS source_b,
                  count(*)::BIGINT AS n_shared_tokens
                FROM ts a JOIN ts b ON a.tok = b.tok AND a.source < b.source
                GROUP BY 1, 2)
      SELECT source_a, source_b, n_shared_tokens,
        round(n_shared_tokens::DOUBLE / (sa.n + sb.n - n_shared_tokens)::DOUBLE, 9)
          AS jaccard
      FROM inter
      JOIN sc sa ON sa.source = source_a
      JOIN sc sb ON sb.source = source_b""")),

    Q("a4_cms_frequency", a4, Some(s"""
      WITH probes AS (
        SELECT unnest([${a4Probes.map("'" + _ + "'").mkString(",")}]) AS tok),
      counts AS (
        SELECT source, tok, count(*) AS n
        FROM (SELECT source, unnest(string_split(text, ' ')) AS tok FROM documents)
        GROUP BY 1, 2),
      scaffold AS (
        SELECT DISTINCT d.source, p.tok FROM documents d CROSS JOIN probes p)
      SELECT s.source, s.tok, coalesce(c.n, 0)::BIGINT AS est
      FROM scaffold s LEFT JOIN counts c
        ON s.source = c.source AND s.tok = c.tok""")),
    Q("p8_bpe_train", p8, None),
    Q("p9_bpe_encode", p9, None),
    Q("t21_model_filter_trained", t21, None),
    Q("m6_video_decode", m6, Some("""
      SELECT doc_id AS media_id,
        (8 + doc_id % 24)::INT AS width,
        (6 + (doc_id * 5) % 18)::INT AS height,
        (1 + doc_id % 4)::INT AS n_frames,
        round((doc_id % 256) / 255.0, 9) AS mean_px
      FROM documents""")),
    Q("m7_video_decode_mjpeg", m7, Some("""
      SELECT doc_id AS media_id,
        (8 + (doc_id * 3) % 24)::INT AS width,
        (8 + doc_id % 16)::INT AS height,
        (1 + doc_id % 3)::INT AS n_frames,
        round(((doc_id * 7) % 256) / 255.0, 9) AS mean_px
      FROM documents""")),
    Q("m9_frame_extract", m9, Some("""
      SELECT doc_id AS media_id, f::INT AS frame_idx,
        (8 + doc_id % 16)::INT AS width,
        (6 + doc_id % 10)::INT AS height,
        round(((doc_id * 7 + f * 13) % 256) / 255.0, 9) AS mean_px
      FROM (SELECT doc_id, unnest(range(0, 1 + doc_id % 5, 2)) AS f
            FROM documents)""")),
    Q("m16_energy_segments", m16, Some("""
      WITH f AS (SELECT doc_id AS media_id,
          1 + doc_id % 3 AS a, 1 + doc_id % 4 AS b,
          1 + doc_id % 2 AS c, 1 + doc_id % 5 AS d
        FROM documents)
      SELECT media_id, 0::INT AS seg_idx, a::BIGINT AS start_frame,
        (a + b)::BIGINT AS end_frame FROM f
      UNION ALL
      SELECT media_id, 1::INT AS seg_idx, (a + b + c)::BIGINT AS start_frame,
        (a + b + c + d)::BIGINT AS end_frame FROM f""")),

    Q("m15_channel_stats", m15, Some("""
      WITH d AS (SELECT doc_id AS media_id,
          (8 + doc_id % 8)::INT AS width, (4 + doc_id % 9)::INT AS height
        FROM documents),
      f AS (SELECT media_id, width, height, (width::BIGINT * height) AS n FROM d),
      g AS (SELECT media_id, width, height, n,
          n % 13 AS r13, n // 13 AS q13, n % 7 AS r7, n // 7 AS q7 FROM f),
      s AS (SELECT media_id, width, height, n,
          100*n + q13*78 + r13*(r13-1)//2 AS sr,
          10000*n + 200*(q13*78 + r13*(r13-1)//2)
            + q13*650 + (r13-1)*r13*(2*r13-1)//6 AS qr,
          50*n + q7*21 + r7*(r7-1)//2 AS sg,
          2500*n + 100*(q7*21 + r7*(r7-1)//2)
            + q7*91 + (r7-1)*r7*(2*r7-1)//6 AS qg,
          200*n AS sb, 40000*n AS qb
        FROM g)
      SELECT media_id, width, height,
        round((sr::DOUBLE / n::DOUBLE) / 255.0::DOUBLE, 9) AS mean_r,
        round((sg::DOUBLE / n::DOUBLE) / 255.0::DOUBLE, 9) AS mean_g,
        round((sb::DOUBLE / n::DOUBLE) / 255.0::DOUBLE, 9) AS mean_b,
        round(sqrt(greatest(qr::DOUBLE / n::DOUBLE
          - (sr::DOUBLE / n::DOUBLE) * (sr::DOUBLE / n::DOUBLE), 0.0::DOUBLE))
          / 255.0::DOUBLE, 9) AS std_r,
        round(sqrt(greatest(qg::DOUBLE / n::DOUBLE
          - (sg::DOUBLE / n::DOUBLE) * (sg::DOUBLE / n::DOUBLE), 0.0::DOUBLE))
          / 255.0::DOUBLE, 9) AS std_g,
        round(sqrt(greatest(qb::DOUBLE / n::DOUBLE
          - (sb::DOUBLE / n::DOUBLE) * (sb::DOUBLE / n::DOUBLE), 0.0::DOUBLE))
          / 255.0::DOUBLE, 9) AS std_b
      FROM s""")),

    Q("m14_scene_cuts", m14, Some("""
      WITH fr AS (
        SELECT doc_id AS media_id, f,
          ((doc_id * 7 + f * 13) % 256) / 255.0 AS mp
        FROM (SELECT doc_id, unnest(range(0, 1 + doc_id % 5)) AS f
              FROM documents)),
      d AS (
        SELECT media_id, f, mp,
          lag(mp) OVER (PARTITION BY media_id ORDER BY f) AS pmp
        FROM fr),
      e AS (
        SELECT media_id, f, mp,
          CASE WHEN pmp IS NULL THEN 0.0 ELSE abs(mp - pmp) END AS delta,
          (pmp IS NOT NULL AND abs(mp - pmp) >= 0.1::DOUBLE) AS is_cut,
          (pmp IS NULL) AS first_f
        FROM d)
      SELECT media_id, f::INT AS frame_idx, round(mp, 9) AS mean_px,
        round(delta, 9) AS delta, is_cut,
        (sum(CASE WHEN is_cut THEN 1 ELSE 0 END) OVER
          (PARTITION BY media_id ORDER BY f))::BIGINT AS scene_id,
        (first_f OR is_cut) AS is_keyframe
      FROM e""")),

    Q("m10_media_sniff", m10, Some("""
      SELECT doc_id AS media_id,
        CASE doc_id % 7 WHEN 0 THEN 'png' WHEN 1 THEN 'jpeg' WHEN 2 THEN 'gif'
          WHEN 3 THEN 'bmp' WHEN 4 THEN 'wav' WHEN 5 THEN 'avi'
          ELSE 'tiff' END AS format,
        (CASE WHEN doc_id % 7 <> 4 THEN 5 + doc_id % 11 END)::INT AS width,
        (CASE WHEN doc_id % 7 <> 4 THEN 4 + doc_id % 9 END)::INT AS height,
        (CASE WHEN doc_id % 7 IN (0,1,6) THEN 8 WHEN doc_id % 7 = 3 THEN 24
              WHEN doc_id % 7 = 4 THEN 16 END)::INT AS bit_depth,
        (CASE WHEN doc_id % 7 IN (1,6) THEN 3
              WHEN doc_id % 7 = 4 THEN 1 + doc_id % 2 END)::INT AS channels,
        (CASE WHEN doc_id % 7 = 4 THEN 8000 + (doc_id % 16) * 250 END)::INT AS sample_rate,
        (CASE WHEN doc_id % 7 = 4 THEN 50 + doc_id % 100
              WHEN doc_id % 7 = 5 THEN 1 + doc_id % 4 END)::INT AS n_frames
      FROM documents""")),
    Q("t27_sentences", t27, Some("""
      WITH g AS (SELECT doc_id // 5 AS page_id, doc_id, text FROM documents),
      pages AS (
        SELECT page_id,
          string_agg(text, '. ' ORDER BY doc_id)
            || (CASE WHEN page_id % 3 = 0 THEN '! final unterminated clause'
                     ELSE '. tail sentence?' END) AS text
        FROM g GROUP BY page_id),
      segs AS (
        SELECT page_id,
          list_filter(list_transform(
            regexp_extract_all(text, '[^.!?]+[.!?]*'), x -> trim(x)),
            x -> x <> '') AS ss
        FROM pages),
      sents AS (
        SELECT page_id,
          generate_subscripts(ss, 1) - 1 AS sent_idx,
          unnest(ss) AS sentence
        FROM segs)
      SELECT page_id, sent_idx, sentence, length(sentence)::BIGINT AS n_chars
      FROM sents""")),
    Q("p14_sentence_chunks", p14, Some("""
      WITH g AS (SELECT doc_id // 5 AS page_id, doc_id, text FROM documents),
      pages AS (
        SELECT page_id,
          string_agg(text, '. ' ORDER BY doc_id)
            || (CASE WHEN page_id % 3 = 0 THEN '! final unterminated clause'
                     ELSE '. tail sentence?' END) AS text
        FROM g GROUP BY page_id),
      segs AS (
        SELECT page_id,
          list_filter(list_transform(
            regexp_extract_all(text, '[^.!?]+[.!?]*'), x -> trim(x)),
            x -> x <> '') AS ss
        FROM pages),
      sents AS (
        SELECT page_id,
          generate_subscripts(ss, 1) - 1 AS sent_idx,
          unnest(ss) AS sentence
        FROM segs),
      cum AS (
        SELECT *,
          sum(length(sentence)) OVER (
            PARTITION BY page_id ORDER BY sent_idx) - length(sentence) AS cum_before
        FROM sents)
      SELECT page_id, (cum_before // 200)::BIGINT AS chunk_id,
        count(*)::BIGINT AS n_sentences,
        string_agg(sentence, ' ' ORDER BY sent_idx) AS chunk_text
      FROM cum
      GROUP BY page_id, chunk_id""")),
    Q("m12_audio_resample", m12, Some("""
      WITH p AS (
        SELECT doc_id,
          (8000 + (doc_id % 8) * 1000)::INT AS src,
          (40 + doc_id % 30)::INT AS n,
          (doc_id % 100 - 50)::INT AS c,
          (doc_id % 7 - 3)::INT AS d
        FROM documents),
      q AS (SELECT *, (((n - 1) * 16000) // src + 1)::INT AS n_out FROM p)
      SELECT doc_id AS media_id, src AS src_rate, 16000::INT AS dst_rate,
        n AS n_src, n_out,
        list_sum(list_transform(range(0, n_out), j ->
          floor((CASE WHEN floor((j::DOUBLE * src) / 16000) >= n - 1
                 THEN (c + d * (n - 1))::DOUBLE
                 ELSE (c + d * floor((j::DOUBLE * src) / 16000))
                      + ((c + d * (floor((j::DOUBLE * src) / 16000) + 1))
                         - (c + d * floor((j::DOUBLE * src) / 16000)))
                        * ((j::DOUBLE * src) / 16000
                           - floor((j::DOUBLE * src) / 16000))
                 END) + 0.5)::BIGINT))::BIGINT AS sum_out
      FROM q""")),
    Q("m13_patchify", m13, Some("""
      SELECT a.doc_id AS media_id, px::INT AS px, py::INT AS py,
        round(list_sum(list_transform(range(0, 16), f ->
            (16 * (px * 4 + (f % 4)) + (py * 4 + (f // 4)))::DOUBLE))
          / 16 / 255, 9) AS mean_lum
      FROM (SELECT doc_id, unnest(range(0, (8 + doc_id % 8) // 4)) AS px
            FROM documents) a
      JOIN (SELECT doc_id, unnest(range(0, (4 + doc_id % 9) // 4)) AS py
            FROM documents) b
        ON a.doc_id = b.doc_id""")),
    Q("m11_zip_shards", m11, Some("""
      SELECT doc_id AS shard_id, j::INT AS member_idx,
        'doc' || doc_id || '/f' || j || '.txt' AS member_name,
        (10 + (doc_id * 3 + j * 5) % 50)::BIGINT AS byte_len,
        md5(repeat('x', (10 + (doc_id * 3 + j * 5) % 50)::INT)) AS content_hash
      FROM (SELECT doc_id, unnest(range(0, 1 + doc_id % 4)) AS j FROM documents)""")),
    Q("t26_gunzip_text", t26, Some("""
      SELECT doc_id, text, length(text)::BIGINT AS n_chars FROM documents""")),
    Q("m8_audio_spectral", m8, Some("""
      SELECT doc_id AS media_id,
        (4000 + (doc_id % 32) * 125)::INT AS sample_rate,
        (256 * (1 << (doc_id % 3)))::INT AS n_window,
        round((4000 + (doc_id % 32) * 125) / 4.0 * amp / (2 * dc + amp), 4)
          AS spectral_centroid,
        round(4.0 * dc * dc / (4.0 * dc * dc + amp * amp), 9) AS e_band0,
        0.0::DOUBLE AS e_band1,
        round(amp * amp / (4.0 * dc * dc + amp * amp), 9) AS e_band2,
        0.0::DOUBLE AS e_band3
      FROM (SELECT doc_id, (8000 + (doc_id % 100) * 50)::DOUBLE AS amp,
              (doc_id % 40)::DOUBLE AS dc FROM documents)""")),

    // u = md5-hash32 / 2^32 exactly as p2/p4's oracles compute it
    Q("p11_hash_split", p11, Some("""
      SELECT source,
        CASE WHEN u < 0.8 THEN 'train' WHEN u < 0.9 THEN 'val' ELSE 'test' END AS split,
        count(*) AS n_docs, min(doc_id) AS min_doc
      FROM (SELECT source, doc_id,
              ('0x' || substr(md5(doc_id::VARCHAR || '#split'), 1, 8))::BIGINT
                / 4294967296.0 AS u
            FROM documents)
      GROUP BY 1, 2""")),

    // starts = range(0, n, 16); DuckDB list slice ws[a:b] is 1-based
    // inclusive, matching Spark's slice(toks, s+1, 24)
    Q("p10_chunk_docs", p10, Some("""
      SELECT doc_id, s // 16 AS chunk_id,
        array_to_string(ws[s + 1 : s + 24], ' ') AS chunk_text,
        least(24, n - s)::BIGINT AS n_chunk_tokens
      FROM (SELECT doc_id, ws, len(ws) AS n,
              unnest(range(0, len(ws), 16)) AS s
            FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents))""")),

    // Pages = ~5 docs concatenated in doc_id order; doc_id%5==0 docs
    // reappear verbatim on later pages, so their lines dedup away there.
    // The oracle's 1-based pos vs Spark's 0-based is order-only (not
    // emitted); n_kept/count are BIGINT in both engines.
    Q("d9_line_dedup", d9, Some("""
      WITH base AS (
        SELECT doc_id, text FROM documents
        UNION ALL
        SELECT doc_id + 1000000 AS doc_id, text FROM documents WHERE doc_id % 5 = 0),
      pages AS (
        SELECT doc_id // 5 AS page_id,
          string_agg(text, chr(10) ORDER BY doc_id) AS text
        FROM base GROUP BY 1),
      lines AS (
        SELECT page_id,
          unnest(string_split(text, chr(10))) AS line,
          generate_subscripts(string_split(text, chr(10)), 1) AS pos,
          len(string_split(text, chr(10)))::BIGINT AS n_lines
        FROM pages),
      ranked AS (
        SELECT *, row_number() OVER (PARTITION BY line ORDER BY page_id, pos) AS rn
        FROM lines),
      kept AS (SELECT * FROM ranked WHERE rn = 1)
      SELECT page_id, min(n_lines) AS n_lines, count(*) AS n_kept,
        string_agg(line, chr(10) ORDER BY pos) AS text_clean
      FROM kept GROUP BY page_id""")),

    // PARTITION BY (page_id, line): the claim is scoped per page
    Q("d10_line_dedup_within", d10, Some("""
      WITH pages AS (
        SELECT doc_id // 5 AS page_id,
          string_agg('== boilerplate ==' || chr(10) || text, chr(10)
            ORDER BY doc_id) AS text
        FROM documents GROUP BY 1),
      lines AS (
        SELECT page_id,
          unnest(string_split(text, chr(10))) AS line,
          generate_subscripts(string_split(text, chr(10)), 1) AS pos,
          len(string_split(text, chr(10)))::BIGINT AS n_lines
        FROM pages),
      ranked AS (
        SELECT *, row_number() OVER (PARTITION BY page_id, line ORDER BY pos) AS rn
        FROM lines),
      kept AS (SELECT * FROM ranked WHERE rn = 1)
      SELECT page_id, min(n_lines) AS n_lines, count(*) AS n_kept,
        string_agg(line, chr(10) ORDER BY pos) AS text_clean
      FROM kept GROUP BY page_id""")),

    // same segmentation CTE family as t27; rank-by-(page, pos) claim and
    // space-rejoined reassembly mirror d9's, at sentence granularity
    Q("d14_sentence_dedup", d14, Some("""
      WITH base AS (
        SELECT doc_id, text FROM documents
        UNION ALL
        SELECT doc_id + 1000000 AS doc_id, text FROM documents WHERE doc_id % 5 = 0),
      pages AS (
        SELECT doc_id // 5 AS page_id,
          string_agg(text, '. ' ORDER BY doc_id) || '.' AS text
        FROM base GROUP BY 1),
      segs AS (
        SELECT page_id,
          list_filter(list_transform(
            regexp_extract_all(text, '[^.!?]+[.!?]*'), x -> trim(x)),
            x -> x <> '') AS ss
        FROM pages),
      sents AS (
        SELECT page_id,
          generate_subscripts(ss, 1) AS pos,
          unnest(ss) AS sent,
          len(ss)::BIGINT AS n_sents
        FROM segs),
      ranked AS (
        SELECT *, row_number() OVER (PARTITION BY sent ORDER BY page_id, pos) AS rn
        FROM sents),
      kept AS (SELECT * FROM ranked WHERE rn = 1)
      SELECT page_id, min(n_sents) AS n_sents, count(*) AS n_kept,
        string_agg(sent, ' ' ORDER BY pos) AS text_clean
      FROM kept GROUP BY page_id""")),

    // registry claims (corpus min id) win; keys new to the increment are
    // claimed by the increment min — the same first-writer-wins coalesce
    // dedupAgainstRegistry evaluates, in the d3/st4 minhash CTE family
    Q("d11_dedup_incremental_registry", d11, Some(s"""
      WITH increment AS (
        SELECT doc_id + 1000000 AS doc_id,
          regexp_replace(text, '^[^ ]+ ', '') AS text
        FROM documents WHERE doc_id % 5 = 0
        UNION ALL
        SELECT doc_id + 2000000 AS doc_id, text
        FROM documents WHERE doc_id % 7 = 0),
      csh AS (SELECT doc_id, list_distinct(list_transform(range(1, len(ws) - 1),
                i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) AS shingles
              FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents)
              WHERE len(ws) >= 3),
      ish AS (SELECT doc_id, list_distinct(list_transform(range(1, len(ws) - 1),
                i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) AS shingles
              FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM increment)
              WHERE len(ws) >= 3),
      ${minhashCtesFor("csh", "c")},
      ${minhashCtesFor("ish", "i")},
      registry AS (SELECT band_key, min(doc_id) AS keep_id
                   FROM cbands GROUP BY band_key),
      iclaims AS (SELECT band_key, min(doc_id) AS inc_min
                  FROM ibands GROUP BY band_key),
      final AS (SELECT band_key, coalesce(r.keep_id, ic.inc_min) AS claim
                FROM iclaims ic LEFT JOIN registry r USING (band_key)),
      hits AS (SELECT b.doc_id, min(f.claim) AS dup_of, count(*)::BIGINT AS n_hits
               FROM ibands b JOIN final f USING (band_key)
               WHERE f.claim <> b.doc_id GROUP BY b.doc_id)
      SELECT i.doc_id, h.dup_of, coalesce(h.n_hits, 0)::BIGINT AS n_hits
      FROM increment i LEFT JOIN hits h USING (doc_id)""")),

    // exact face of the incremental registry: single md5 key, same
    // first-writer-wins coalesce as d11
    Q("d13_paragraph_near_dedup", d13, Some(s"""
      WITH base AS (
        SELECT doc_id, text FROM documents
        UNION ALL
        SELECT doc_id + 1000000 AS doc_id, text FROM documents WHERE doc_id % 5 = 0),
      pages AS (
        SELECT doc_id // 4 AS page_id,
          string_agg(text, chr(10)||chr(10) ORDER BY doc_id) AS text
        FROM base GROUP BY 1),
      pk AS (
        SELECT page_id,
          unnest(string_split(text, chr(10)||chr(10))) AS para,
          generate_subscripts(string_split(text, chr(10)||chr(10)), 1) - 1 AS pos,
          len(string_split(text, chr(10)||chr(10)))::BIGINT AS n_paras
        FROM pages),
      pkk AS (SELECT *, page_id * 1000000 + pos AS pkey FROM pk),
      docs AS (SELECT pkey AS doc_id, string_split(para, ' ') AS ws FROM pkk),
      sh AS (SELECT doc_id, list_distinct(list_transform(range(1, len(ws) - 1),
               i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) AS shingles
             FROM docs WHERE len(ws) >= 3),
      $minhashCtes,
      cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
               FROM bands a JOIN bands b
                 ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id),
      removed AS (
        SELECT DISTINCT c.id_b AS pkey
        FROM cand c
        JOIN sh sa ON sa.doc_id = c.id_a
        JOIN sh sb ON sb.doc_id = c.id_b
        WHERE len(list_intersect(sa.shingles, sb.shingles))::DOUBLE
              / len(list_distinct(list_concat(sa.shingles, sb.shingles))) >= 0.5)
      SELECT page_id, min(n_paras) AS n_paras, count(*) AS n_kept,
        string_agg(para, chr(10)||chr(10) ORDER BY pos) AS text_clean
      FROM pkk
      WHERE pkey NOT IN (SELECT pkey FROM removed)
      GROUP BY page_id""")),

    Q("d12_exact_dedup_incremental", d12, Some("""
      WITH increment AS (
        SELECT doc_id + 1000000 AS doc_id,
          regexp_replace(text, '^[^ ]+ ', '') AS text
        FROM documents WHERE doc_id % 5 = 0
        UNION ALL
        SELECT doc_id + 2000000 AS doc_id, text
        FROM documents WHERE doc_id % 7 = 0),
      registry AS (SELECT md5(text) AS key, min(doc_id) AS keep_id
                   FROM documents GROUP BY 1),
      ikeys AS (SELECT doc_id, md5(text) AS key FROM increment),
      iclaims AS (SELECT key, min(doc_id) AS inc_min FROM ikeys GROUP BY 1),
      final AS (SELECT key, coalesce(r.keep_id, ic.inc_min) AS claim
                FROM iclaims ic LEFT JOIN registry r USING (key)),
      hits AS (SELECT k.doc_id, min(f.claim) AS dup_of, count(*)::BIGINT AS n_hits
               FROM ikeys k JOIN final f USING (key)
               WHERE f.claim <> k.doc_id GROUP BY k.doc_id)
      SELECT i.doc_id, h.dup_of, coalesce(h.n_hits, 0)::BIGINT AS n_hits
      FROM increment i LEFT JOIN hits h USING (doc_id)""")),

    Q("t17_normalize_dedup", t17, Some("""
      WITH corpus AS (
        SELECT doc_id, text FROM documents
        UNION ALL
        SELECT doc_id + 1000000 AS doc_id, upper(text) || ' !!!' AS text
        FROM documents WHERE doc_id % 5 = 0),
      norm AS (
        SELECT doc_id,
          trim(regexp_replace(regexp_replace(regexp_replace(
            translate(lower(text),
              'áàâäãåéèêëíìîïóòôöõúùûüçñýÿ', 'aaaaaaeeeeiiiiooooouuuucnyy'),
            '[ \t\n\x0B\f\r]+', ' ', 'g'), '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g')) AS ntext
        FROM corpus)
      SELECT md5(ntext) AS text_hash, min(doc_id) AS keep_id, count(*) AS n_copies
      FROM norm GROUP BY 1""")),

    Q("p7_source_quota", p7, Some("""
      SELECT doc_id, source FROM (
        SELECT doc_id, source,
          row_number() OVER (PARTITION BY source
            ORDER BY md5(doc_id::VARCHAR), doc_id) AS rn
        FROM documents)
      WHERE rn <= 10""")),

    Q("x20_skew_join", x20, Some("""
      SELECT o_orderpriority, count(*) AS n_items, sum(l_quantity) AS sum_qty
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      GROUP BY o_orderpriority""")),

    // Bit-for-bit Morton interleave: bit i of (user_id & 255) lands at
    // 2i, bit i of (event_id & 255) at 2i+1; disjoint bits, so + == OR.
    Q("x21_zorder_interleave", x21, Some(s"""
      SELECT event_id,
        (${(0 until 8).flatMap(i => Seq(
          s"((((user_id & 255) >> $i) & 1) << ${2 * i})",
          s"((((event_id & 255) >> $i) & 1) << ${2 * i + 1})")).mkString(" + ")})::BIGINT AS zval
      FROM events""")),

    // Approx side = s3's IVF CTEs verbatim; exact side = brute-force
    // top-3; recall joins them per query. count(a.neighbor_id) counts
    // matches (nulls from the left join don't count).
    Q("s6_ann_recall", s6, Some(s"""
      WITH cents AS (
        SELECT cid, cvec FROM (
          SELECT vec_id AS cid, embedding AS cvec,
            row_number() OVER (ORDER BY vec_id) AS rn_c,
            greatest(8, ceil(sqrt(count(*) OVER ()))) AS nlist
          FROM embeddings)
        WHERE rn_c <= nlist),
      ranked AS (
        SELECT e.vec_id, e.embedding, c.cid,
          row_number() OVER (PARTITION BY e.vec_id
            ORDER BY ${cosSql("e.embedding", "c.cvec")} DESC, c.cid DESC) AS rn
        FROM embeddings e CROSS JOIN cents c),
      assign AS (SELECT vec_id, embedding, cid AS list_id FROM ranked WHERE rn = 1),
      probes AS (SELECT vec_id, embedding, cid AS list_id FROM ranked
                 WHERE vec_id % 100 = 0 AND rn <= 2),
      approx AS (
        SELECT query_id, neighbor_id FROM (
          SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
            row_number() OVER (PARTITION BY q.vec_id
              ORDER BY ${cosSql("q.embedding", "e.embedding")} DESC, e.vec_id) AS rank
          FROM assign e JOIN probes q
            ON e.list_id = q.list_id AND e.vec_id <> q.vec_id)
        WHERE rank <= 3),
      exact AS (
        SELECT query_id, neighbor_id FROM (
          SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
            row_number() OVER (PARTITION BY q.vec_id
              ORDER BY ${cosSql("q.embedding", "e.embedding")} DESC, e.vec_id) AS rank
          FROM embeddings e
          JOIN (SELECT * FROM embeddings WHERE vec_id % 100 = 0) q
            ON e.vec_id <> q.vec_id)
        WHERE rank <= 3)
      SELECT e.query_id, count(a.neighbor_id)::BIGINT AS n_matched,
        count(a.neighbor_id) / 3.0 AS recall
      FROM exact e LEFT JOIN approx a
        ON e.query_id = a.query_id AND e.neighbor_id = a.neighbor_id
      GROUP BY e.query_id""")),

    // Same session semantics as x14 (the batch window formulation), so the
    // state machine is pinned by the same SQL. session_seq ::BIGINT — a
    // DuckDB window sum of integers is HUGEINT (see d4's fp cast).
    Q("st2_sessionize", st2, Some("""
      WITH base AS (
        SELECT user_id, event_id, epoch_ns(ts) // 1000000000 AS ts_s, value
        FROM events),
      flagged AS (
        SELECT user_id, event_id, ts_s, value,
          CASE WHEN ts_s - lag(ts_s) OVER
            (PARTITION BY user_id ORDER BY ts_s, event_id) > 3600
            THEN 1 ELSE 0 END AS new_sess
        FROM base),
      sessioned AS (
        SELECT user_id, ts_s, value,
          sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts_s, event_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::BIGINT AS session_seq
        FROM flagged)
      SELECT user_id, session_seq, count(*) AS n_events,
        round(sum(value), 9) AS sum_value,
        min(ts_s) AS start_s, max(ts_s) AS end_s
      FROM sessioned
      GROUP BY user_id, session_seq""")),

    Q("x2_asof_join", x2, Some(asofOracle)),

    // same as-of contract through the custom physical operator
    // (SortMergeAsOfJoinExec) — must reproduce x2 exactly; shared oracle
    Q("x39_asof_merge", x39, Some(asofOracle)),

    Q("x40_shard_roundtrip", x40, Some("""
      SELECT doc_id, text, lang, source, n_chars FROM documents
      WHERE n_chars > 64 AND doc_id < 2000
        AND source IN ('src1','src3','src5','src7','src9','src11')""")),

    // storage-partitioned join: zero-shuffle key-aligned rollup join
    Q("x41_shard_partitioned_join", x41, Some("""
      WITH a AS (
        SELECT doc_id % 32 AS shard_key, count(*) AS n_docs,
          sum(n_chars)::BIGINT AS sum_chars
        FROM documents GROUP BY 1),
      b AS (
        SELECT vec_id % 32 AS shard_key, count(*) AS n_vecs,
          sum(label)::BIGINT AS sum_label
        FROM embeddings GROUP BY 1)
      SELECT a.shard_key, n_docs, sum_chars, n_vecs, sum_label
      FROM a JOIN b USING (shard_key)""")),

    // aggregate pushdown: grouped count/min/max answered from the manifest
    Q("x42_shard_agg_pushdown", x42, Some("""
      SELECT doc_id % 16 AS shard_key, count(*) AS n_rows,
        count(CASE WHEN n_chars % 3 <> 0 THEN n_chars END) AS n_chars_nonnull,
        min(doc_id) AS min_doc, max(doc_id) AS max_doc
      FROM documents GROUP BY 1""")),

    // SUM pushdown: grouped sums answered from the manifest alone
    Q("x52_shard_sum_pushdown", x52, Some("""
      SELECT doc_id % 16 AS shard_key, count(*) AS n_rows,
        sum(n_chars)::BIGINT AS sum_chars,
        sum(CASE WHEN n_chars % 3 <> 0 THEN n_chars END)::BIGINT AS sum_maybe,
        min(doc_id) AS min_doc, max(doc_id) AS max_doc
      FROM documents GROUP BY 1""")),

    // z-order clustering: 2-D box skipping from the Morton layout
    Q("x53_shard_zorder", x53, Some("""
      SELECT doc_id, n_chars, source FROM documents
      WHERE doc_id % 2 = 0 AND doc_id < 3000 AND n_chars BETWEEN 200 AND 900""")),

    // string-stats skipping: lang-clustered corpus, lang + source-prefix predicate
    Q("x54_shard_string_skipping", x54, Some("""
      SELECT doc_id, lang, source, n_chars FROM documents
      WHERE lang = 'en' AND source LIKE 'src1%' AND n_chars >= 100""")),

    // opt-in chunk compression: deflated text roundtrips hash-exact
    Q("x56_shard_compressed", x56, Some("""
      SELECT doc_id, text, lang, n_chars FROM documents
      WHERE n_chars >= 500 AND lang <> 'de'""")),

    // compression as a table property: optionless append inherits,
    // compaction preserves — whole lifecycle hash-exact
    Q("x57_shard_compression_property", x57, Some("""
      SELECT doc_id, text, lang, n_chars FROM documents
      WHERE n_chars >= 300 AND lang <> 'ja'""")),

    // dictionary chunk codec: low-cardinality strings dict-encode,
    // diverse columns bail to raw; mixed-codec read hash-exact
    Q("x58_shard_dictionary", x58, Some("""
      SELECT doc_id, lang, source, n_chars, text FROM documents
      WHERE lang IN ('en', 'fr') AND source LIKE 'src1%' AND n_chars >= 200""")),

    // RLE codec over the keyed sorted layout: constant key chunks
    // collapse; the zero-exchange zero-sort window stays byte-exact
    Q("x61_shard_rle_keyed", x61, Some("""
      SELECT doc_id, doc_id % 32 AS shard_key, lang,
        sum(n_chars) OVER (PARTITION BY doc_id % 32 ORDER BY doc_id
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::BIGINT AS run_chars,
        row_number() OVER (PARTITION BY doc_id % 32 ORDER BY doc_id) AS seq
      FROM documents""")),

    // per-file bloom sidecars: equality/IN point lookups prune files
    // min/max stats cannot (parity-interleaved ranges), both hash paths
    Q("x62_shard_bloom_lookup", x62, Some("""
      SELECT doc_id, lang, source, n_chars FROM documents
      WHERE doc_id IN (3, 42, 256, 417, 1000000007)
      UNION ALL
      SELECT doc_id, lang, source, n_chars FROM documents
      WHERE 'k:' || doc_id IN ('k:256', 'k:1000001')""")),

    // upsert via equality deletes: a CDC batch merges in O(batch),
    // read back through the live anti-filter, byte-exact
    Q("x63_shard_upsert", x63, Some("""
      SELECT doc_id,
        lang,
        (CASE WHEN doc_id % 5 = 0 THEN n_chars * 1000 ELSE n_chars END)::BIGINT AS n_chars
      FROM documents
      UNION ALL
      SELECT doc_id + 1000000 AS doc_id, lang, n_chars::BIGINT AS n_chars
      FROM documents WHERE doc_id % 7 = 0""")),

    // topN pushdown: ORDER BY id DESC LIMIT k plans a file-cut subset
    // of a range-clustered corpus, byte-exact through Spark's final sort
    Q("x65_shard_topk", x65, Some("""
      SELECT doc_id, lang, source, n_chars FROM documents
      ORDER BY doc_id DESC LIMIT 100""")),

    // partition evolution: spec change metadata-only, era-2 appends
    // keyed, mixed-era filtered read byte-exact
    Q("x67_shard_partition_evolution", x67, Some("""
      SELECT doc_id, lang, n_chars::BIGINT AS n_chars,
        doc_id % 4 AS lang_key
      FROM documents WHERE n_chars >= 200 AND lang <> 'de'""")),

    // columnar batch reads: mixed-codec shards through the vector
    // decode (plan-level ColumnarToRow required), byte-exact
    Q("x69_shard_columnar_read", x69, Some("""
      SELECT doc_id, lang, source, n_chars::BIGINT AS n_chars
      FROM documents""")),

    // filtered + embedding columnar read: absorbed predicates evaluate
    // against the decoded batch, array<float> decodes into vectors
    // (plan-level ColumnarToRow AND pushed-filter requires), byte-exact
    Q("x70_shard_columnar_filtered_embedding", x70, Some("""
      SELECT vec_id, label,
        embedding[1]::DOUBLE AS e1, embedding[17]::DOUBLE AS e17
      FROM embeddings WHERE label < 7 AND vec_id >= 50""")),

    // NDV sketches -> CBO column stats: the GROUP BY sized by its key's
    // manifest-resident distinct count, join flipped to broadcast
    // (plan-level require), byte-exact
    Q("x71_shard_ndv_broadcast", x71, Some("""
      SELECT d.doc_id, d.lang, l.lang_chars
      FROM documents d
      JOIN (SELECT lang, SUM(n_chars::BIGINT)::BIGINT AS lang_chars
            FROM documents GROUP BY lang) l USING (lang)""")),
    // string-bucketed SPJ: the dedup-registry probe joins incoming
    // docs against the registry on the RAW string key with zero
    // exchange (required in-plan), byte-exact
    Q("x83_shard_string_bucket_join", x83, Some("""
      SELECT 'k:' || CAST(d.doc_id AS VARCHAR) AS doc_key,
             d.n_chars::BIGINT AS n_chars,
             r.doc_id::BIGINT AS first_seen
      FROM documents d
      JOIN (SELECT doc_id FROM documents WHERE doc_id % 2 = 0) r
        ON d.doc_id = r.doc_id""")),

    // decimal SUM pushdown: per-key money sums from the manifest's
    // unscaled per-file sums (required in-plan: pushedAggregates;
    // physical proof: data files deleted after planning, answer
    // survives), byte-exact in cents space
    Q("x82_shard_decimal_sum_pushdown", x82, Some("""
      SELECT l_orderkey % 5 AS bucket,
             SUM((l_orderkey * 9176 + l_partkey * 13 +
                  CAST(l_quantity AS BIGINT) * 7) % 100000)::BIGINT AS cents_sum,
             COUNT(*)::BIGINT AS n
      FROM lineitem GROUP BY 1""")),

    // incremental rollup maintenance: materialize once, refresh from
    // the change feed's signed delta alone (required in-query: the
    // delta is strictly smaller than the table), equals full recompute
    Q("x81_shard_incremental_rollup", x81, Some("""
      SELECT lang, SUM(n_chars::BIGINT)::BIGINT AS chars,
             COUNT(*)::BIGINT AS n_docs
      FROM documents
      WHERE doc_id % 3 IN (0, 1) AND doc_id % 7 <> 0
      GROUP BY lang""")),

    // retroactive bloom backfill: analyze(blooms) builds sidecars for
    // a bloom-less table, then a garbaged shard file proves the skip
    // physically (probes for its absent parity never open it)
    Q("x80_shard_analyze_blooms", x80, Some("""
      SELECT doc_id, lang, n_chars::BIGINT AS n_chars FROM documents
      WHERE doc_id IN (0, 2, 42, 256, 498)
      UNION ALL
      SELECT doc_id, lang, n_chars::BIGINT AS n_chars FROM documents
      WHERE doc_id IN (100, 222)""")),

    // token-id sequences at rest: array<int>/array<long> tokenizer
    // output written to the lake across codecs, read back columnar
    // (required in-plan), per-doc aggregates replayed from the text
    Q("x79_shard_token_arrays", x79, Some("""
      SELECT doc_id,
             len(list_filter(string_split(text, ' '), w -> w != ''))::BIGINT AS n_toks,
             COALESCE(list_aggregate(list_transform(
               list_filter(string_split(text, ' '), w -> w != ''),
               w -> length(w) * 31 + 7), 'sum'), 0)::BIGINT AS tok_sum,
             COALESCE(list_aggregate(list_transform(
               list_filter(string_split(text, ' '), w -> w != ''),
               w -> length(w) * 1000003), 'sum'), 0)::BIGINT AS tok64_sum
      FROM documents""")),

    // write-audit-publish: staged invisible (required in-plan), audited
    // via the branch face, published pointer-atomically, byte-exact
    Q("x72_shard_write_audit_publish", x72, Some("""
      SELECT doc_id, lang, n_chars::BIGINT AS n_chars FROM documents""")),

    // retroactive ANALYZE: stat-less table -> distributed sketch
    // backfill as a metadata-only commit -> CBO broadcast flip
    // (required in-plan: no broadcast before, broadcast after, zero
    // data files changed), byte-exact
    Q("x78_shard_analyze", x78, Some("""
      SELECT d.doc_id, d.lang, l.lang_chars
      FROM documents d
      JOIN (SELECT lang, SUM(n_chars::BIGINT)::BIGINT AS lang_chars
            FROM documents GROUP BY lang) l USING (lang)""")),

    // segment-pruned plan-time manifests: paged root + rollups, the
    // selective scan parses only intersecting segments (required
    // in-query: pruned < full), byte-exact
    // lean filterless planning: paged root, full-table scan through the
    // segment-streamed plan path (required in-query: paged + every entry
    // streamed exactly once), byte-exact
    Q("x74_shard_lean_plan", x74, Some("""
      SELECT doc_id, lang, n_chars::BIGINT AS n_chars FROM documents""")),

    // CAS commit protocol: version-link linearization point, pointer as
    // roll-forward hint (required in-query: lagging pointer rolls
    // forward, double-claim loses, a commit heals), byte-exact
    Q("x75_shard_cas_commit", x75, Some("""
      SELECT doc_id, lang, n_chars::BIGINT AS n_chars FROM documents""")),

    // decimals + dates at rest: unscaled-long storage, off-grid
    // literal snapping at the pushdown boundary, file pruning on
    // unscaled stats (required in-plan); oracle replays in cents space
    Q("x77_shard_decimal_date", x77, Some("""
      SELECT l_returnflag, count(*)::BIGINT AS n,
        SUM(cents)::BIGINT AS cents_sum,
        (MIN(ship_date) - DATE '1970-01-01')::BIGINT AS min_day,
        (MAX(ship_date) - DATE '1970-01-01')::BIGINT AS max_day
      FROM (
        SELECT l_returnflag,
          (l_orderkey * 9176 + l_partkey * 13 +
            CAST(l_quantity AS BIGINT) * 7) % 100000 AS cents,
          CAST(l_shipdate AS DATE) AS ship_date
        FROM lineitem)
      WHERE cents >= 50000 AND cents <= 75000
      GROUP BY 1""")),

    // timestamps at rest + days(ts) hidden partitioning: one day per
    // file, micros stats prune the ts range (required in-plan),
    // byte-exact per-day rollup
    Q("x76_shard_time_partitioning", x76, Some("""
      SELECT epoch_us(ts) // 86400000000 AS day, event_type,
        count(*)::BIGINT AS n_events, SUM(event_id)::BIGINT AS sum_ids,
        COUNT(DISTINCT user_id)::BIGINT AS n_users
      FROM events
      WHERE epoch_us(ts) >= (SELECT MIN(epoch_us(ts)) +
        (MAX(epoch_us(ts)) - MIN(epoch_us(ts))) * 2 // 5 FROM events)
      GROUP BY 1, 2""")),

    Q("x73_shard_segment_pruned_plan", x73, Some("""
      SELECT doc_id, lang, n_chars::BIGINT AS n_chars FROM documents
      WHERE doc_id < (SELECT (MAX(doc_id) + 1) // 10 FROM documents)""")),

    // dynamic partition overwrite: one partition re-materialized in one
    // commit, everything else carried by identity, byte-exact
    Q("x68_shard_dynamic_overwrite", x68, Some("""
      SELECT doc_id, lang,
        (CASE WHEN doc_id % 4 = 2 THEN n_chars * 10 ELSE n_chars END)::BIGINT AS n_chars,
        doc_id % 4 AS part_key
      FROM documents""")),

    // snapshots metadata face: the commit history (create -> appends ->
    // rollback) read back from manifests alone, byte-exact
    Q("x66_shard_snapshots", x66, Some("""
      SELECT * FROM (
        SELECT 1::BIGINT AS version, 'create' AS operation, 0::BIGINT AS files, 0::BIGINT AS n_rows
        UNION ALL SELECT 2, 'append', 2,
          (SELECT count(*) FROM documents WHERE doc_id % 2 = 0)
        UNION ALL SELECT 3, 'append', 4,
          (SELECT count(*) FROM documents)
        UNION ALL SELECT 4, 'rollback', 2,
          (SELECT count(*) FROM documents WHERE doc_id % 2 = 0))""")),

    // rollback: bad backfill + row-level damage undone by one
    // metadata-only commit; read-back byte-exact vs pre-damage state
    Q("x64_shard_rollback", x64, Some("""
      SELECT doc_id, lang, source, n_chars FROM documents
      WHERE lang <> 'de'""")),

    // RENAME COLUMN via field ids: mixed name-era files, one read
    Q("x59_shard_rename", x59, Some("""
      SELECT doc_id, n_chars AS doc_chars, lang AS language FROM documents
      WHERE n_chars >= 200 AND lang <> 'de'""")),

    // int->long widening: era-1 int files + era-2 long values, one read
    Q("x60_shard_widening", x60, Some("""
      SELECT doc_id, CAST(n_chars AS BIGINT) AS chars FROM documents
      WHERE doc_id % 2 = 0 AND n_chars >= 300
      UNION ALL
      SELECT doc_id, n_chars + 3000000000 AS chars FROM documents
      WHERE doc_id % 2 = 1""")),

    // change data feed: append inserts + MoR vector-delta deletes, exact
    Q("x55_shard_change_feed", x55, Some("""
      SELECT doc_id, lang, n_chars, 'insert' AS _change_type
      FROM documents WHERE doc_id % 2 = 1
      UNION ALL
      SELECT doc_id, lang, n_chars, 'delete' AS _change_type
      FROM documents WHERE doc_id % 7 = 0""")),

    // catalog + bucket transform: zero-shuffle join on the raw id columns
    Q("x44_shard_bucketed_join", x44, Some("""
      SELECT d.doc_id, d.n_chars, d.lang, e.label
      FROM documents d JOIN embeddings e ON d.doc_id = e.vec_id""")),

    // time travel: versionAsOf the first commit, after a second landed
    Q("x45_shard_time_travel", x45, Some("""
      SELECT doc_id, n_chars, source FROM documents WHERE doc_id % 2 = 0""")),

    // zero-shuffle window analytics over the keyed at-rest layout
    Q("x43_shard_keyed_window", x43, Some("""
      SELECT doc_id, doc_id % 32 AS shard_key,
        sum(n_chars) OVER (PARTITION BY doc_id % 32 ORDER BY doc_id
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::BIGINT AS run_chars,
        row_number() OVER (PARTITION BY doc_id % 32 ORDER BY doc_id) AS seq
      FROM documents""")),

    // zero-shuffle AND zero-sort: the sorted keyed layout, same contract
    Q("x46_shard_sorted_window", x46, Some("""
      SELECT doc_id, doc_id % 32 AS shard_key,
        sum(n_chars) OVER (PARTITION BY doc_id % 32 ORDER BY doc_id
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::BIGINT AS run_chars,
        row_number() OVER (PARTITION BY doc_id % 32 ORDER BY doc_id) AS seq
      FROM documents""")),

    // bucket-sorted layout: zero-exchange AND zero-sort raw-id merge join
    Q("x48_shard_bucket_sorted_join", x48, Some("""
      SELECT d.doc_id, d.n_chars, d.lang, e.label
      FROM documents d JOIN embeddings e ON d.doc_id = e.vec_id""")),

    // schema evolution: metadata-only ADD COLUMN + copy-on-write fill
    Q("x49_shard_schema_evolution", x49, Some("""
      SELECT doc_id, n_chars,
        CASE WHEN doc_id % 3 = 0 THEN (n_chars * 2)::BIGINT END AS score
      FROM documents""")),

    // compaction: 3 sorted appends -> k-way merge -> zero-sort window
    Q("x50_shard_compaction", x50, Some("""
      SELECT doc_id, doc_id % 16 AS shard_key,
        sum(n_chars) OVER (PARTITION BY doc_id % 16 ORDER BY doc_id
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::BIGINT AS run_chars,
        row_number() OVER (PARTITION BY doc_id % 16 ORDER BY doc_id) AS seq
      FROM documents""")),

    // merge-on-read tier: x47's statements via delete vectors
    Q("x51_shard_merge_on_read", x51, Some("""
      SELECT doc_id,
        CASE WHEN doc_id % 5 = 0 THEN n_chars + 1000 ELSE n_chars END AS n_chars,
        source
      FROM documents WHERE doc_id % 7 <> 3""")),

    // row-level tier: copy-on-write DELETE + UPDATE, unaligned predicates
    Q("x47_shard_row_level", x47, Some("""
      SELECT doc_id,
        CASE WHEN doc_id % 5 = 0 THEN n_chars + 1000 ELSE n_chars END AS n_chars,
        source
      FROM documents WHERE doc_id % 7 <> 3""")),

    Q("x3_rollup", x3, Some("""
      SELECT l_returnflag, l_linestatus,
        sum(l_quantity) AS sum_qty, count(*) AS n
      FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)""")),

    Q("p1_curation_pipeline", p1, Some("""
      WITH scored AS (
        SELECT doc_id, text,
          len(string_split(text, ' '))::BIGINT AS n_tokens,
          0.4 * least((len(list_filter(string_split(text, ' '), t ->
              list_contains(['the','a','of','and','to','in','is'], t)))::DOUBLE
              / len(string_split(text, ' '))) * 5.0, 1.0)
            + 0.3 * (1.0 - length(regexp_replace(text, '[a-zA-Z0-9 ]', '', 'g'))::DOUBLE
              / length(text))
            + 0.3 * least(len(string_split(text, ' ')) / 100.0, 1.0) AS quality
        FROM documents),
      kept AS (SELECT * FROM scored WHERE quality >= 0.55),
      langed AS (
        SELECT *,
          CASE WHEN en_hits >= de_hits AND en_hits >= fr_hits AND en_hits >= es_hits THEN 'en'
               WHEN de_hits >= fr_hits AND de_hits >= es_hits THEN 'de'
               WHEN fr_hits >= es_hits THEN 'fr'
               ELSE 'es' END AS predicted_lang
        FROM (
          SELECT doc_id, n_tokens, quality,
            len(list_filter(string_split(text, ' '), t ->
              list_contains(['the','a','of','and','to','in','is'], t))) AS en_hits,
            len(list_filter(string_split(text, ' '), t ->
              list_contains(['der','die','das','und','ist','ein'], t))) AS de_hits,
            len(list_filter(string_split(text, ' '), t ->
              list_contains(['le','la','les','et','est','un'], t))) AS fr_hits,
            len(list_filter(string_split(text, ' '), t ->
              list_contains(['el','la','los','y','es','un'], t))) AS es_hits
          FROM kept))
      SELECT predicted_lang, count(*) AS n_docs,
        round(avg(quality), 9) AS avg_quality, sum(n_tokens)::BIGINT AS sum_tokens
      FROM langed GROUP BY predicted_lang""")),

    Q("p2_shuffle_shard", p2, Some("""
      SELECT doc_id, shard,
        row_number() OVER (PARTITION BY shard
          ORDER BY md5(doc_id::VARCHAR), doc_id) AS pos
      FROM (
        SELECT doc_id,
          (('0x' || substr(md5(doc_id::VARCHAR), 1, 8))::BIGINT % 8)::INT AS shard
        FROM documents)""")),

    Q("p21_pack_boundaries", p21, Some("""
      WITH t AS (
        SELECT doc_id,
          len(string_split(text, ' '))::BIGINT AS n_toks,
          (('0x' || substr(md5(doc_id::VARCHAR), 1, 8))::BIGINT % 8)::INT AS shard,
          md5(doc_id::VARCHAR) AS h
        FROM documents),
      o AS (
        SELECT shard, doc_id, n_toks,
          coalesce(sum(n_toks) OVER (PARTITION BY shard ORDER BY h, doc_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT AS s
        FROM t WHERE n_toks > 0),
      seg AS (
        SELECT shard, doc_id, s, n_toks,
          unnest(range(s // 512, (s + n_toks - 1) // 512 + 1)) AS example_id
        FROM o)
      SELECT shard, example_id, doc_id,
        greatest(s - example_id * 512, 0)::BIGINT AS seg_start,
        (least(s + n_toks, (example_id + 1) * 512) - example_id * 512)::BIGINT AS seg_end
      FROM seg""")),

    Q("p3_pack_sequences", p3, Some("""
      WITH t AS (
        SELECT doc_id,
          len(string_split(text, ' '))::BIGINT AS n_toks,
          (('0x' || substr(md5(doc_id::VARCHAR), 1, 8))::BIGINT % 8)::INT AS shard,
          md5(doc_id::VARCHAR) AS h
        FROM documents),
      o AS (
        SELECT shard, n_toks,
          coalesce(sum(n_toks) OVER (PARTITION BY shard ORDER BY h, doc_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS start_offset
        FROM t)
      SELECT shard, (start_offset // 512)::BIGINT AS example_id,
        count(*) AS n_docs, sum(n_toks)::BIGINT AS sum_tokens
      FROM o GROUP BY shard, start_offset // 512""")),

    Q("p4_mixture_sample", p4, Some("""
      SELECT source, count(*) AS n_docs,
        sum(CASE WHEN
          ('0x' || substr(md5(doc_id::VARCHAR || '#mix'), 1, 8))::BIGINT / 4294967296.0
            < (1 + substr(source, 4)::INT % 4) / 4.0
          THEN 1 ELSE 0 END)::BIGINT AS n_kept
      FROM documents GROUP BY source""")),

    Q("p12_mixture_upsample", p12, Some("""
      SELECT doc_id, source, unnest(range(0, n)) AS copy
      FROM (
        SELECT doc_id, source,
          (floor(w)::BIGINT + CASE WHEN
            ('0x' || substr(md5(doc_id::VARCHAR || '#mix'), 1, 8))::BIGINT / 4294967296.0
              < w - floor(w) THEN 1 ELSE 0 END) AS n
        FROM (SELECT doc_id, source,
                (1 + substr(source, 4)::INT % 4) * 0.75 AS w FROM documents))
      WHERE n > 0""")),

    // bucket: integral bit-width of (n-1), mirroring the Spark side's
    // length(bin(n-1)) — floating log2 differs between libms at exact
    // powers of two
    Q("p13_length_buckets", p13, Some("""
      SELECT bucket, count(*) AS n_docs, sum(n)::BIGINT AS sum_toks,
        max(n) AS max_toks, (1::BIGINT << bucket) AS cap,
        round(1.0 - sum(n)::DOUBLE / (count(*) * (1::BIGINT << bucket)), 9)
          AS padding_frac
      FROM (SELECT CASE WHEN n <= 1 THEN 0 ELSE length(bin(n - 1)) END::INT AS bucket, n
            FROM (SELECT len(string_split(text, ' '))::BIGINT AS n FROM documents))
      GROUP BY bucket""")),

    Q("p15_temperature_mixture", p15, Some("""
      WITH c AS (SELECT lang, count(*)::BIGINT AS n FROM documents GROUP BY 1),
      t AS (SELECT sum(n)::BIGINT AS total FROM c),
      s AS (SELECT lang, n,
              n::DOUBLE / (SELECT total FROM t)::DOUBLE AS p,
              pow(n::DOUBLE / (SELECT total FROM t)::DOUBLE, 0.5) AS pa
            FROM c),
      z AS (SELECT sum(pa) AS zz FROM s)
      SELECT lang, n AS n_docs, p,
        round(pa / (SELECT zz FROM z), 9) + 0.0 AS q,
        round(pa / (SELECT zz FROM z) * (SELECT total FROM t)::DOUBLE
          / n::DOUBLE, 9) + 0.0 AS sample_weight
      FROM s""")),

    Q("p18_chat_template", p18, Some("""
      WITH t AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
      c AS (SELECT doc_id,
        -- array_to_string of an EMPTY list is NULL in DuckDB, '' in Spark
        coalesce(array_to_string(ws[1:5], ' '), '') AS c1,
        coalesce(array_to_string(ws[6:10], ' '), '') AS c2,
        coalesce(array_to_string(ws[11:15], ' '), '') AS c3,
        coalesce(array_to_string(ws[16:], ' '), '') AS c4
        FROM t)
      SELECT doc_id,
        '<|user|>' || chr(10) || c1 || '<|end|>' || chr(10) ||
        '<|assistant|>' || chr(10) || c2 || '<|end|>' || chr(10) ||
        '<|user|>' || chr(10) || c3 || '<|end|>' || chr(10) ||
        '<|assistant|>' || chr(10) || c4 || '<|end|>' || chr(10) AS chat_text,
        4::INT AS n_turns, 2::INT AS n_mask_spans,
        (9 + length(c1) + 8 + 14)::VARCHAR || ':' ||
        (9 + length(c1) + 8 + 14 + length(c2))::VARCHAR || ' ' ||
        (9 + length(c1) + 8 + 14 + length(c2) + 8 + 9 + length(c3) + 8 + 14)::VARCHAR || ':' ||
        (9 + length(c1) + 8 + 14 + length(c2) + 8 + 9 + length(c3) + 8 + 14
         + length(c4))::VARCHAR AS spans_str,
        -- byte-unit spans: strlen() = UTF-8 bytes (sentinels are ASCII,
        -- so the header/footer constants are the same in both units)
        (9 + strlen(c1) + 8 + 14)::VARCHAR || ':' ||
        (9 + strlen(c1) + 8 + 14 + strlen(c2))::VARCHAR || ' ' ||
        (9 + strlen(c1) + 8 + 14 + strlen(c2) + 8 + 9 + strlen(c3) + 8 + 14)::VARCHAR || ':' ||
        (9 + strlen(c1) + 8 + 14 + strlen(c2) + 8 + 9 + strlen(c3) + 8 + 14
         + strlen(c4))::VARCHAR AS bspans_str
      FROM c""")),

    Q("p17_weighted_sample", p17, Some("""
      WITH k AS (SELECT source, doc_id,
        round(-ln((('0x' || substr(md5(doc_id::VARCHAR), 1, 8))::BIGINT + 1)::DOUBLE
                  / 4294967297.0) / n_chars::DOUBLE, 9) AS key
        FROM documents WHERE n_chars > 0),
      r AS (SELECT source, doc_id,
              row_number() OVER (PARTITION BY source ORDER BY key, doc_id) AS rk
            FROM k)
      SELECT source, doc_id, rk::INT AS sample_rank FROM r WHERE rk <= 10""")),

    Q("p16_fim", p16, Some("""
      WITH h AS (
        SELECT doc_id, text, length(text)::BIGINT AS len,
          ('0x' || substr(md5(doc_id::VARCHAR || '#fim'), 1, 8))::BIGINT % 2 = 0 AS is_fim,
          ('0x' || substr(md5(doc_id::VARCHAR || '#fim_a'), 1, 8))::BIGINT
            % (length(text)::BIGINT + 1) AS c1,
          ('0x' || substr(md5(doc_id::VARCHAR || '#fim_b'), 1, 8))::BIGINT
            % (length(text)::BIGINT + 1) AS c2
        FROM documents),
      s AS (SELECT doc_id, text, len, is_fim,
              least(c1, c2) AS lo, greatest(c1, c2) AS hi FROM h)
      SELECT doc_id, is_fim AS fim_applied,
        CASE WHEN is_fim THEN lo END AS cut_lo,
        CASE WHEN is_fim THEN hi END AS cut_hi,
        CASE WHEN is_fim THEN
          '<PRE>' || substr(text, 1, lo)
          || '<SUF>' || substr(text, hi + 1, len)
          || '<MID>' || substr(text, lo + 1, hi - lo)
        ELSE text END AS fim_text
      FROM s""")),

    Q("p6_tokenize_ids", p6, Some("""
      WITH tokpos AS (
        SELECT doc_id, pos, ws[pos] AS tok
        FROM (SELECT doc_id, ws, unnest(range(1, len(ws) + 1)) AS pos
              FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents))),
      vocab AS (
        SELECT tok, id FROM (
          SELECT tok, row_number() OVER (ORDER BY df DESC, tok) AS id
          FROM (SELECT tok, count(DISTINCT doc_id) AS df FROM tokpos GROUP BY tok))
        WHERE id <= 16)
      SELECT doc_id, count(*)::BIGINT AS n_toks,
        array_to_string(list(coalesce(v.id, 0) ORDER BY pos), ' ') AS ids
      FROM tokpos t LEFT JOIN vocab v USING (tok)
      GROUP BY doc_id""")),

    Q("p5_curriculum", p5, Some("""
      WITH q AS (
        SELECT doc_id,
          0.4 * least(stopword_ratio * 5.0, 1.0)
            + 0.3 * (1.0 - punct_ratio)
            + 0.3 * least(n_tokens / 100.0, 1.0) AS quality
        FROM (
          SELECT doc_id,
            len(string_split(text, ' '))::BIGINT AS n_tokens,
            len(list_filter(string_split(text, ' '), t ->
              list_contains(['the','a','of','and','to','in','is'], t)))::DOUBLE
              / len(string_split(text, ' ')) AS stopword_ratio,
            length(regexp_replace(text, '[a-zA-Z0-9 ]', '', 'g'))::DOUBLE
              / length(text) AS punct_ratio
          FROM documents)),
      thr AS (SELECT quantile_cont(quality, [0.25, 0.5, 0.75]) AS t FROM q)
      SELECT doc_id, quality,
        (1 + len(list_filter(t, x -> quality > x)))::INT AS stage
      FROM q CROSS JOIN thr""")),

    Q("x4_window_running", x4, Some("""
      SELECT o_custkey, o_orderkey,
        round(sum(o_totalprice) OVER (PARTITION BY o_custkey
          ORDER BY o_orderdate, o_orderkey
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS running_spend,
        row_number() OVER (PARTITION BY o_custkey
          ORDER BY o_orderdate, o_orderkey) AS order_seq
      FROM orders""")),

    Q("x7_salted_distinct", x7, Some("""
      SELECT l_returnflag, count(DISTINCT l_partkey) AS distinct_parts,
        sum(l_quantity) AS sum_qty
      FROM lineitem GROUP BY l_returnflag""")),

    Q("x8_cube", x8, Some("""
      SELECT l_returnflag, l_linestatus,
        sum(l_extendedprice) AS sum_price, count(*) AS n
      FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)""")),

    Q("x9_window_lag", x9, Some("""
      SELECT o_custkey, o_orderkey, o_totalprice,
        lag(o_totalprice, 1) OVER w AS prev_price,
        lead(o_totalprice, 1) OVER w AS next_price,
        o_totalprice - lag(o_totalprice, 1) OVER w AS delta_prev
      FROM orders
      WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)""")),

    Q("x19_rank_family", x19, Some("""
      SELECT event_id, event_type,
        rank() OVER wc AS rnk,
        dense_rank() OVER wc AS drnk,
        percent_rank() OVER wc AS prank,
        cume_dist() OVER wc AS cdist,
        ntile(4) OVER wt AS quartile
      FROM events
      WINDOW wc AS (PARTITION BY event_type ORDER BY floor(value)),
             wt AS (PARTITION BY event_type ORDER BY value, event_id)""")),

    Q("x18_grouping_sets", x18, Some("""
      SELECT l_returnflag, l_linestatus,
        sum(l_quantity) AS sum_qty, count(*) AS n
      FROM lineitem
      GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())""")),

    Q("x15_semi_join", x15, Some("""
      SELECT c_mktsegment, count(*) AS n_buyers, max(c_acctbal) AS max_bal
      FROM customer c
      WHERE EXISTS (SELECT 1 FROM orders o
        WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 400000)
      GROUP BY c_mktsegment""")),

    Q("x16_set_ops", x16, Some("""
      SELECT nationkey, 'customer_only' AS which FROM (
        SELECT c_nationkey AS nationkey FROM customer
        EXCEPT
        SELECT s_nationkey FROM supplier)
      UNION ALL
      SELECT nationkey, 'both' AS which FROM (
        SELECT c_nationkey AS nationkey FROM customer
        INTERSECT
        SELECT s_nationkey FROM supplier)""")),

    Q("x17_distinct", x17, Some("""
      SELECT DISTINCT o_orderstatus, o_orderpriority FROM orders""")),

    Q("x14_sessionize_batch", x14, Some("""
      WITH base AS (
        SELECT user_id, event_id, epoch_ns(ts) // 1000000000 AS ts_s, value
        FROM events),
      flagged AS (
        SELECT user_id, event_id, ts_s, value,
          CASE WHEN ts_s - lag(ts_s) OVER
            (PARTITION BY user_id ORDER BY ts_s, event_id) > 3600
            THEN 1 ELSE 0 END AS new_sess
        FROM base),
      sessioned AS (
        SELECT user_id, ts_s, value,
          sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts_s, event_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::BIGINT AS session_seq
        FROM flagged)
      SELECT user_id, session_seq, count(*) AS n_events,
        round(sum(value), 9) AS sum_value,
        min(ts_s) AS start_s, max(ts_s) AS end_s
      FROM sessioned
      GROUP BY user_id, session_seq""")),

    Q("t8_tfidf", t8, Some("""
      WITH tf AS (
        SELECT doc_id, tok, count(*) AS tf
        FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents)
        GROUP BY doc_id, tok),
      df AS (SELECT tok, count(*) AS df FROM tf GROUP BY tok)
      SELECT tf.doc_id, tf.tok, tf.tf, df.df,
        round(tf.tf * ln((SELECT count(*) FROM documents)::DOUBLE / df.df), 6) AS tfidf
      FROM tf JOIN df ON tf.tok = df.tok""")),

    Q("x12_pivot", x12, Some("""
      SELECT user_id,
        sum(value) FILTER (event_type = 'click') AS click_sum,
        sum(value) FILTER (event_type = 'view') AS view_sum,
        sum(value) FILTER (event_type = 'purchase') AS purchase_sum,
        sum(value) FILTER (event_type = 'signup') AS signup_sum,
        sum(value) FILTER (event_type = 'error') AS error_sum
      FROM events GROUP BY user_id""")),

    Q("x13_unpivot", x13, Some("""
      SELECT l_orderkey, l_linenumber, 'l_quantity' AS measure, l_quantity AS val FROM lineitem
      UNION ALL
      SELECT l_orderkey, l_linenumber, 'l_extendedprice', l_extendedprice FROM lineitem
      UNION ALL
      SELECT l_orderkey, l_linenumber, 'l_discount', l_discount FROM lineitem""")),

    Q("t7_profile", t7, Some("""
      SELECT count(*) AS n_rows,
        count(event_id) AS event_id_count, count(DISTINCT event_id) AS event_id_distinct,
        min(event_id) AS event_id_min, max(event_id) AS event_id_max,
        count(user_id) AS user_id_count, count(DISTINCT user_id) AS user_id_distinct,
        min(user_id) AS user_id_min, max(user_id) AS user_id_max,
        count(event_type) AS event_type_count, count(DISTINCT event_type) AS event_type_distinct,
        min(event_type) AS event_type_min, max(event_type) AS event_type_max,
        count(value) AS value_count, count(DISTINCT value) AS value_distinct,
        min(value) AS value_min, max(value) AS value_max
      FROM events""")),

    Q("st3_stream_interval_join", st3, Some("""
      SELECT a.event_id AS l_event_id, b.event_id AS r_event_id, a.user_id,
        epoch_ns(a.ts) // 1000000000 AS click_s,
        epoch_ns(b.ts) // 1000000000 AS purchase_s
      FROM events a JOIN events b
        ON a.user_id = b.user_id
        AND a.event_type = 'click' AND b.event_type = 'purchase'
        AND epoch_ns(b.ts) // 1000000000 >= epoch_ns(a.ts) // 1000000000
        AND epoch_ns(b.ts) // 1000000000 <= epoch_ns(a.ts) // 1000000000 + 3600""")),

    Q("x11_topk_agg", x11, Some("""
      SELECT event_type, rn AS rank, value, event_id FROM (
        SELECT event_type, value, event_id,
          row_number() OVER (PARTITION BY event_type
            ORDER BY value DESC, event_id) AS rn
        FROM events)
      WHERE rn <= 3""")),

    Q("x10_range_join", x10, Some("""
      SELECT o_orderkey, count(*) AS n_shipped, min(ship_s) AS first_ship_s
      FROM (SELECT o_orderkey, epoch(o_orderdate)::BIGINT AS start_s
            FROM orders WHERE o_totalprice > 450000) o
      JOIN (SELECT epoch(l_shipdate)::BIGINT AS ship_s FROM lineitem) l
        ON l.ship_s >= o.start_s AND l.ship_s < o.start_s + 86400
      GROUP BY o_orderkey""")),

    Q("x36_interval_overlap", x36, Some("""
      SELECT o.o_orderkey, count(*) AS n_overlapping, min(l.l_orderkey) AS min_l_orderkey
      FROM (SELECT o_orderkey, epoch(o_orderdate)::BIGINT AS os,
              epoch(o_orderdate)::BIGINT + 604800 AS oe
            FROM orders WHERE o_totalprice > 450000) o
      JOIN (SELECT l_orderkey, epoch(l_shipdate)::BIGINT AS ls,
              epoch(l_shipdate)::BIGINT + (1 + l_linenumber % 30) * 86400 AS le
            FROM lineitem) l
        ON o.os < l.le AND l.ls < o.oe
      GROUP BY 1""")),

    Q("s3_ann_ivf", s3, Some(ivfOracle)),

    // same parameters, same deterministic quantizer — the index-at-rest
    // face must reproduce s3 exactly, so the shared oracle IS the claim
    Q("s9_ann_ivf_indexed", s9, Some(ivfOracle))
  )

  /** s2 AND s10's oracle: deterministic hyperplane-LSH replicated in SQL
    * (bucket assignment, bucket-equi candidates, top-3). */
  private def lshOracle: String = s"""
      WITH b AS (SELECT vec_id, embedding, ${bucketSql("embedding")} AS bucket FROM embeddings)
      SELECT query_id, neighbor_id, cosine, rank FROM (
        SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
          ${cosSql("q.embedding", "e.embedding")} AS cosine,
          row_number() OVER (PARTITION BY q.vec_id
            ORDER BY ${cosSql("q.embedding", "e.embedding")} DESC, e.vec_id) AS rank
        FROM b e
        JOIN (SELECT * FROM b WHERE vec_id % 100 = 0) q
          ON e.bucket = q.bucket AND e.vec_id <> q.vec_id)
      WHERE rank <= 3"""

  /** s3 AND s9's oracle: deterministic smallest-id IVF replicated in SQL
    * (quantizer, assignment, nprobe=2 probes, top-3). */
  private def ivfOracle: String = s"""
      WITH cents AS (
        SELECT cid, cvec FROM (
          SELECT vec_id AS cid, embedding AS cvec,
            row_number() OVER (ORDER BY vec_id) AS rn_c,
            greatest(8, ceil(sqrt(count(*) OVER ()))) AS nlist
          FROM embeddings)
        WHERE rn_c <= nlist),
      ranked AS (
        SELECT e.vec_id, e.embedding, c.cid,
          row_number() OVER (PARTITION BY e.vec_id
            ORDER BY ${cosSql("e.embedding", "c.cvec")} DESC, c.cid DESC) AS rn
        FROM embeddings e CROSS JOIN cents c),
      assign AS (SELECT vec_id, embedding, cid AS list_id FROM ranked WHERE rn = 1),
      probes AS (SELECT vec_id, embedding, cid AS list_id FROM ranked
                 WHERE vec_id % 100 = 0 AND rn <= 2)
      SELECT query_id, neighbor_id, cosine, rank FROM (
        SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
          ${cosSql("q.embedding", "e.embedding")} AS cosine,
          row_number() OVER (PARTITION BY q.vec_id
            ORDER BY ${cosSql("q.embedding", "e.embedding")} DESC, e.vec_id) AS rank
        FROM assign e JOIN probes q
          ON e.list_id = q.list_id AND e.vec_id <> q.vec_id)
      WHERE rank <= 3"""
}
