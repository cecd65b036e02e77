package graft.dedup

import org.apache.spark.sql.{Column, DataFrame, Encoders}
import org.apache.spark.sql.functions._

import graft.core.SmallRelation
import graft.text.TextFunctions._

/** Deduplication operators for training-data pipelines (driver extension
  * surface; the reference has no dedup — `/root/reference` SURVEY §2.12).
  *
  * Scale design (the point of this module): never materialize the O(n²)
  * pair space. Every near-dup variant is
  *   signature → explode to (bucket_key, id) → shuffle on bucket_key →
  *   within-bucket self-join → verify exact similarity on survivors.
  * The only shuffles are on bucket keys (uniform by construction — they're
  * hashes), the self-join is an equi-join Catalyst executes as a shuffled
  * hash join on the small exploded relation, and the expensive exact
  * verification runs only on candidate pairs. At 100 TB the bucket-key
  * cardinality scales with the corpus, so partitions stay bounded; a
  * pathological bucket (e.g. the empty document) is a salting candidate —
  * callers can pre-filter degenerate docs.
  *
  * Small inputs skip all of that: [[ngramJaccardPairs]], [[minhashLsh]]
  * (and [[graft.text.Curation.decontaminateFuzzy]]) ask
  * [[graft.core.SmallRelation.fits]] whether their input's plan estimate
  * is within both the broadcast threshold and their kernel's measured
  * ceiling ([[InTaskJoins.PpjoinMaxBytes]], [[InTaskJoins.LshMaxBytes]]).
  * When it is, they build the same per-row inputs (token sets, shingle
  * sets) with the same column expressions, `coalesce(1)` them and run an
  * in-memory kernel ([[InTaskJoins]]: PPJoin over an inverted prefix
  * index, MinHash-LSH over a band-key hash map) — one stage instead of
  * 7–8 waves of shuffle stages. The result is still a lazy frame with the
  * same schema and the same rows; above the gate the distributed plans
  * below run unchanged.
  */
object Dedup {

  /** Exact dedup by content hash: one hash-aggregate (single shuffle on
    * md5(text), uniformly distributed). Returns one row per distinct
    * content with the canonical (minimum) id and the multiplicity. */
  def exact(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.groupBy(md5(col(textCol)).as("text_hash"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_copies"))

  /** One row per doc with at least `shingleN` tokens: (id, distinct word
    * `shingleN`-gram shingles). The in-task kernels read these sets
    * directly. */
  private[graft] def shingleSets(
      df: DataFrame, idCol: String, textCol: String, shingleN: Int): DataFrame =
    df.select(col(idCol), tokens(col(textCol)).as("ws"))
      .where(size(col("ws")) >= shingleN)
      .select(col(idCol), wordShingles(col("ws"), shingleN).as("shingles"))

  /** One row per (doc, shingle): the exploded relational form all the
    * distributed shingle-based dedup variants build on. Shingles are
    * per-doc distinct (set semantics). */
  private def shingleRows(
      df: DataFrame, idCol: String, textCol: String, shingleN: Int): DataFrame =
    shingleSets(df, idCol, textCol, shingleN)
      .select(col(idCol), explode(col("shingles")).as("shingle"))

  /** Unordered in-task pair rows (u, v, jaccard) → (id_a, id_b, jaccard)
    * with `id_a < id_b` in Spark's order for the id type — the distributed
    * plans' own predicate, so both branches order ids identically. */
  private def orderPairs(uv: DataFrame): DataFrame =
    uv.select(least(col("u"), col("v")).as("id_a"),
        greatest(col("u"), col("v")).as("id_b"), col("jaccard"))
      .where(col("id_a") < col("id_b"))

  /** Per-doc MinHash signature (mh0..mh{k-1}) + verification shingle set,
    * as ONE partial-agg shuffle over the exploded shingle rows, in the
    * [[MinHash]] family: one md5 per shingle (k md5 calls per shingle, the
    * naive seeded-hash scheme, was the dominant cost of the whole operator
    * at sf0.1).
    *
    * The result is persisted (memory-and-disk, spillable) because every
    * caller reads it from two downstream branches — band keys and
    * verification sets — and Spark does not share plan subtrees across a
    * self-join: without the persist the whole shingle explode + shuffle
    * would run twice. Shared by the distributed branches of [[minhashLsh]]
    * (within-corpus pairs) and [[graft.text.Curation.decontaminateFuzzy]]
    * (cross-relation); their in-task branches (below
    * [[graft.core.SmallRelation.fits]]) compute the same signatures and band
    * keys bit for bit in [[InTaskJoins.lsh]] and never persist. */
  private[graft] def minhashDocAgg(
      df: DataFrame, idCol: String, textCol: String,
      shingleN: Int, k: Int): DataFrame = {
    val sh = shingleRows(df, idCol, textCol, shingleN)
    val sh32 = sh.select(col(idCol), col("shingle"), MinHash.h32(col("shingle")).as("h32"))
    val sigCols = MinHash.signatureAggs(k, col("h32"))
    sh32.groupBy(col(idCol))
      .agg(sigCols.head, sigCols.tail :+ collect_set(col("shingle")).as("shingles"): _*)
      .transform(graft.CacheRegistry.persisted(_))
  }

  /** MinHash + LSH near-duplicate pairs.
    *
    * Pipeline: word `shingleN`-gram shingles → `k`-seed MinHash signature →
    * `bands`×`rows` LSH band keys → bucket-join candidates → exact shingle
    * Jaccard ≥ `threshold` verification. Docs with fewer than `shingleN`
    * tokens are excluded (no shingle). Returns (id_a, id_b, jaccard).
    *
    * Deliberately relational, not expression-nested: signatures come from
    * explode → two hash aggregates (min per (doc, seed), then band keys
    * per (doc, band)) rather than one nested higher-order-function
    * projection. HOFs are interpreted (no codegen) and multiply-referenced
    * array exprs can be re-evaluated per reference — the aggregate
    * formulation measured ~300× faster at sf0.1 and is also the shape that
    * distributes: every step is a codegen'd partial-aggregate shuffle on
    * uniform hash keys, never a per-row mega-expression.
    *
    * When [[graft.core.SmallRelation.fits]] holds for `df` under
    * [[InTaskJoins.LshMaxBytes]] (and the id is an atomic type), the
    * shingle sets are built with the same expressions
    * and the rest runs in one task ([[InTaskJoins.minhashPairs]]): the
    * same signatures and band keys, candidates from a band-key hash map,
    * each verified once with exact Jaccard — the same rows, no shuffle. */
  def minhashLsh(
      df: DataFrame, idCol: String, textCol: String,
      shingleN: Int = 3, k: Int = 12, bands: Int = 4, rows: Int = 3,
      threshold: Double = 0.5): DataFrame = {
    require(bands * rows == k, s"minhashLsh: bands*rows must equal k ($bands*$rows != $k)")
    val sets = shingleSets(df, idCol, textCol, shingleN)
    val idType = sets.schema.fields.head.dataType
    if (InTaskJoins.atomicKey(idType) && SmallRelation.fits(InTaskJoins.LshMaxBytes, df))
      orderPairs(sets.coalesce(1)
        .mapPartitions(InTaskJoins.minhashPairs(_, k, bands, rows, threshold))(
          Encoders.row(InTaskJoins.pairSchema(idType)))
        .toDF())
    else distributedMinhashLsh(df, idCol, textCol, shingleN, k, bands, rows, threshold)
  }

  private def distributedMinhashLsh(
      df: DataFrame, idCol: String, textCol: String,
      shingleN: Int, k: Int, bands: Int, rows: Int, threshold: Double): DataFrame = {
    val docAgg = minhashDocAgg(df, idCol, textCol, shingleN, k)
    val bandKeys = docAgg.select(
      col(idCol), posexplode(array(MinHash.bandKeyCols(bands, rows): _*)).as(Seq("band", "band_key")))
    val a = bandKeys.select(col("band"), col("band_key"), col(idCol).as("id_a"))
    val b = bandKeys.select(col("band"), col("band_key"), col(idCol).as("id_b"))
    val cand = a.join(b, Seq("band", "band_key"))
      .where(col("id_a") < col("id_b"))
      .select("id_a", "id_b")
      .distinct()
    val sets = docAgg.select(col(idCol), col("shingles"))
    cand
      .join(sets.select(col(idCol).as("id_a"), col("shingles").as("sa")), "id_a")
      .join(sets.select(col(idCol).as("id_b"), col("shingles").as("sb")), "id_b")
      .select(col("id_a"), col("id_b"), jaccard(col("sa"), col("sb")).as("jaccard"))
      .where(col("jaccard") >= threshold)
  }

  // ------------------------------------------- incremental (band registry)

  /** (id, band, band_key) LSH band rows — the same hash family as
    * [[minhashDocAgg]] + [[MinHash.bandKeyCols]] (and so verified by the same
    * oracle CTEs as d3/st4) but WITHOUT the verification shingle set or
    * the persist: the registry path never verifies jaccard, so collecting
    * per-doc shingle sets would be pure shuffle weight. One md5 per
    * shingle, one partial-agg shuffle for signatures, then `bands` rows
    * per doc. */
  private def minhashBandRows(
      df: DataFrame, idCol: String, textCol: String,
      shingleN: Int, k: Int, bands: Int, rows: Int): DataFrame = {
    require(bands * rows == k,
      s"minhashBandRows: bands*rows must equal k ($bands*$rows != $k)")
    val sh32 = shingleRows(df, idCol, textCol, shingleN)
      .select(col(idCol), MinHash.h32(col("shingle")).as("h32"))
    val sigCols = MinHash.signatureAggs(k, col("h32"))
    sh32.groupBy(col(idCol)).agg(sigCols.head, sigCols.tail: _*)
      .select(col(idCol),
        posexplode(array(MinHash.bandKeyCols(bands, rows): _*)).as(Seq("band", "band_key")))
  }

  /** Build (or rebuild) the persistent minhash band registry from a full
    * corpus: one row per band key with the claiming (minimum) doc id,
    * stored as a BUCKETED table on `band_key` so that every later
    * [[dedupAgainstRegistry]] increment joins against it with NO shuffle
    * on the registry side — the accumulated-corpus side, which at 100 TB
    * is the side that must never be re-shuffled (or re-signatured).
    *
    * Same claims as [[graft.streaming.Streaming.minhashBandRegistry]]'s
    * batch face (spec-asserted equal), computed in the aggregate
    * formulation that measured ~300× faster than the per-row
    * higher-order-function form at sf0.1 (see [[minhashDocAgg]]). */
  def buildBandRegistry(
      corpus: DataFrame, idCol: String, textCol: String,
      registryTable: String, buckets: Int,
      shingleN: Int = 3, k: Int = 12, bands: Int = 4, rows: Int = 3): Unit = {
    dropRegistry(corpus.sparkSession, registryTable)
    val claims = minhashBandRows(corpus, idCol, textCol, shingleN, k, bands, rows)
      .groupBy(col("band_key").as("key")).agg(min(col(idCol)).as("keep_id"))
    graft.sources.Sources.writeBucketed(
      claims, registryTable, buckets, Seq("key"))
  }

  /** Compact a registry table in place: every [[dedupAgainstRegistry]]
    * append writes one file per bucket, so after N increments each bucket
    * holds N small files and the registry scan pays N× the open/footer
    * cost. Rewrite into one file per bucket via a temp table + rename
    * (the registry cannot be overwritten while being read). Claims are
    * unchanged — row-identical, same bucketing, still Exchange-free
    * (spec-asserted). Run it every ~dozens of increments, like any
    * small-file compaction ([[graft.sources.Sources.compact]] is the
    * unbucketed analog). */
  def compactRegistry(
      spark: org.apache.spark.sql.SparkSession,
      registryTable: String, buckets: Int): Unit = {
    val tmp = registryTable + "__compact"
    dropRegistry(spark, tmp)
    // bucketBy does NOT repartition: each write task emits a file for
    // every bucket it holds rows of (tasks × buckets files — the exact
    // fan-out we're here to undo). And a repartition(buckets, key) over
    // the bucketed table does not survive: the planner prunes it as
    // redundant against the table's bucketing while AUTO-bucketed
    // scanning simultaneously declines the bucketed read (no join/agg
    // wants it), leaving arbitrary file-packed read partitions
    // (observed: plan = WriteFiles <- Sort <- FileScan, no Exchange,
    // 3 tasks). Forcing the bucketed scan resolves it exactly: the read
    // IS one partition per bucket, so the exchange-free write emits
    // exactly one file per bucket.
    val autoScan = "spark.sql.sources.bucketing.autoBucketedScan.enabled"
    val prev = spark.conf.get(autoScan)
    spark.conf.set(autoScan, "false")
    try
      graft.sources.Sources.writeBucketed(
        spark.table(registryTable), tmp, buckets, Seq("key"))
    finally spark.conf.set(autoScan, prev)
    dropRegistry(spark, registryTable)
    spark.sql(s"ALTER TABLE $tmp RENAME TO $registryTable")
  }

  /** Drop a registry table AND its managed location. Rebuild-from-scratch
    * semantics must hold across PROCESSES, not just sessions: the catalog
    * is per-session but the managed warehouse dir is not, so a location
    * orphaned by a previous process (whose catalog died with it) would
    * fail CTAS with LOCATION_ALREADY_EXISTS even after DROP TABLE IF
    * EXISTS. Clear both. */
  private def dropRegistry(
      spark: org.apache.spark.sql.SparkSession, registryTable: String): Unit = {
    spark.sql(s"DROP TABLE IF EXISTS $registryTable")
    val ident = spark.sessionState.sqlParser.parseTableIdentifier(registryTable)
    val loc = new org.apache.hadoop.fs.Path(
      spark.sessionState.catalog.defaultTablePath(ident))
    val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(loc)) fs.delete(loc, true)
  }

  /** Incremental near-dup dedup of a NEW batch of documents against the
    * accumulated corpus — the production ingestion shape: history is never
    * re-read and never re-signatured; only the increment is signatured,
    * band-joined against the bucketed registry table, and the registry is
    * extended with the increment's fresh claims.
    *
    * Claim semantics (matches [[graft.streaming.Streaming.minhashBandRegistry]]:
    * first-writer-wins): a band key already in the registry keeps its
    * historical `keep_id`; a key new in this increment is claimed by the
    * increment's minimum id. A document is a near-duplicate candidate iff
    * at least one of its band keys is claimed by ANOTHER document
    * (historical or earlier-in-increment). Equal to a full batch re-run
    * over corpus ∪ increment whenever ids follow arrival order — the same
    * caveat st4 documents, spec-asserted in DedupSpec.
    *
    * Returns one row per increment document:
    * (idCol, dup_of = min claiming id over colliding bands | null if kept,
    * n_hits = number of band slots claimed by others). Documents with
    * fewer than `shingleN` tokens have no signature and are trivially
    * kept. When `appendRegistry` (default), the fresh claims are appended
    * to the registry table (same bucketing) BEFORE the returned frame is
    * evaluated; the result is invariant to that ordering — for a key the
    * increment itself claimed, the registry row and the in-plan claim
    * carry the same id, so the coalesce reads the same value either way.
    * Calling twice with the same increment is idempotent (the anti-join
    * finds nothing fresh).
    *
    * Scale: the increment is signatured once (persisted via
    * [[graft.CacheRegistry]] — two consumers: claims and hit-join); every
    * join is an equi-join on `band_key` (md5 — uniform); the registry side
    * arrives pre-bucketed from disk (no Exchange, PlanSpec-asserted).
    * Registry size is one row per distinct band key — O(corpus), read but
    * never shuffled.
    *
    * The registry is addressed as a CATALOG table (bucketing metadata
    * lives there). Under an external metastore the table survives
    * processes; under the default in-memory catalog a new process must
    * re-register it ([[buildBandRegistry]] in the first process, or
    * CREATE TABLE ... USING parquet against the existing location). */
  def dedupAgainstRegistry(
      increment: DataFrame, idCol: String, textCol: String,
      registryTable: String, buckets: Int,
      shingleN: Int = 3, k: Int = 12, bands: Int = 4, rows: Int = 3,
      appendRegistry: Boolean = true): DataFrame = {
    val bandRows = minhashBandRows(increment, idCol, textCol, shingleN, k, bands, rows)
      .select(col(idCol), col("band_key").as("key"))
    claimAgainstRegistry(bandRows, increment.select(col(idCol)), idCol,
      registryTable, buckets, appendRegistry)
  }

  /** Build (or rebuild) a persistent EXACT-dedup registry: one row per
    * distinct content hash with the claiming (minimum) doc id, bucketed
    * on the hash — [[exact]]'s relation made incremental the same way
    * [[buildBandRegistry]] makes [[minhashLsh]]'s band relation
    * incremental. */
  def buildExactRegistry(
      corpus: DataFrame, idCol: String, textCol: String,
      registryTable: String, buckets: Int): Unit = {
    dropRegistry(corpus.sparkSession, registryTable)
    val claims = corpus
      .groupBy(md5(col(textCol)).as("key"))
      .agg(min(col(idCol)).as("keep_id"))
    graft.sources.Sources.writeBucketed(
      claims, registryTable, buckets, Seq("key"))
  }

  /** Incremental EXACT dedup of a new batch against the accumulated
    * corpus — same contract, claim semantics, idempotence, and bucketed
    * Exchange-free registry join as [[dedupAgainstRegistry]] (shared
    * machinery), with the single content hash as the key instead of LSH
    * band keys: `n_hits` is 1 for a verbatim copy, 0 for fresh content. */
  def exactDedupAgainstRegistry(
      increment: DataFrame, idCol: String, textCol: String,
      registryTable: String, buckets: Int,
      appendRegistry: Boolean = true): DataFrame = {
    val keyed = increment.select(col(idCol), md5(col(textCol)).as("key"))
    claimAgainstRegistry(keyed, increment.select(col(idCol)), idCol,
      registryTable, buckets, appendRegistry)
  }

  /** Shared incremental-claim machinery behind
    * [[dedupAgainstRegistry]]/[[exactDedupAgainstRegistry]]: `keyed` is
    * the increment's exploded (id, key) relation; the registry table maps
    * key → keep_id, first-writer-wins. See [[dedupAgainstRegistry]] for
    * the full semantics/scale discussion. */
  private def claimAgainstRegistry(
      keyed: DataFrame, allIds: DataFrame, idCol: String,
      registryTable: String, buckets: Int, appendRegistry: Boolean): DataFrame = {
    val spark = keyed.sparkSession
    val rows = graft.CacheRegistry.persisted(keyed)
    val incClaims = rows.groupBy(col("key"))
      .agg(min(col(idCol)).as("inc_min"))
    if (appendRegistry) {
      val fresh = incClaims
        .join(spark.table(registryTable), Seq("key"), "left_anti")
        .select(col("key"), col("inc_min").as("keep_id"))
      graft.sources.Sources.writeBucketed(fresh, registryTable, buckets,
        Seq("key"), org.apache.spark.sql.SaveMode.Append)
    }
    val finalClaim = incClaims
      .join(spark.table(registryTable), Seq("key"), "left")
      .select(col("key"),
        coalesce(col("keep_id"), col("inc_min")).as("claim"))
    val hits = rows.join(finalClaim, "key")
      .where(col("claim") =!= col(idCol))
      .groupBy(col(idCol))
      .agg(min(col("claim")).as("dup_of"), count(lit(1)).as("n_hits"))
    allIds
      .join(hits, Seq(idCol), "left")
      .select(col(idCol), col("dup_of"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"))
  }

  /** SimHash near-duplicate pairs: `bits`-bit fingerprint over word
    * `shingleN`-gram features per doc; near-dups have Hamming distance ≤
    * `maxHamming`. Candidate generation is COMPLETE: the fingerprint is
    * split into `maxHamming + 1` contiguous blocks and candidates share
    * at least one (block index, block value) — by pigeonhole, ≤
    * maxHamming differing bits cannot touch all maxHamming + 1 blocks
    * (Manku et al. 2007's multi-block scheme; a single prefix block
    * would silently miss every pair whose differing bits fall in the
    * prefix — only (1/2)^h of hamming-h pairs survive that). Docs with
    * fewer than `shingleN` tokens are excluded. Returns
    * (id_a, id_b, fp_a, fp_b, hamming). */
  def simhashPairs(
      df: DataFrame, idCol: String, textCol: String, shingleN: Int = 3,
      bits: Int = 32, maxHamming: Int = 3): DataFrame = {
    require(bits >= 1 && bits <= 32 && maxHamming >= 0 && maxHamming + 1 <= bits,
      "simhashPairs: need 1 <= maxHamming + 1 <= bits <= 32")
    // All per-bit ±1 vote sums as parallel aggregates of ONE groupBy on doc
    // id (single partial-agg shuffle). The md5 is computed once per feature
    // and its first `bits` hex chars are parsed into 32-bit integer chunks
    // (8 hex chars each — always in signed-long range, unlike a 16-char
    // parse); bit i's vote is then an integer shift-and-mask, not a
    // per-bit substring+set-membership over the hex string. Bit i (1-based)
    // = high bit of nibble i = bit 4·(8−((i−1) mod 8)−1)+3 of chunk
    // ⌊(i−1)/8⌋ — the oracle repeats the same arithmetic.
    val nChunks = (bits + 7) / 8
    val fpsBase = shingleRows(df, idCol, textCol, shingleN)
      .select(col(idCol) +: {
        val h = md5(col("shingle"))
        (0 until nChunks).map(c =>
          conv(substring(h, c * 8 + 1, 8), 16, 10).cast("long").as(s"c$c"))
      }: _*)
    val voteCols = (1 to bits).map { i =>
      val chunk = (i - 1) / 8
      val shift = 4 * (8 - ((i - 1) % 8) - 1) + 3
      sum(when(shiftright(col(s"c$chunk"), shift).bitwiseAND(lit(1L)) === 1L, 1).otherwise(-1))
        .as(s"v$i")
    }
    val fps = fpsBase
      .groupBy(col(idCol))
      .agg(voteCols.head, voteCols.tail: _*)
      .select(col(idCol),
        (1 to bits).map(i => when(col(s"v$i") > 0, lit(1L << (i - 1))).otherwise(lit(0L)))
          .reduce(_ + _).as("fp"))
      // both sides of the self-join read the fingerprints; the per-doc
      // relation is tiny (id, fp) and the vote aggregation is not
      .transform(graft.CacheRegistry.persisted(_))
    // pigeonhole blocks: maxHamming+1 contiguous bit ranges, widths as
    // even as possible; any pair within maxHamming shares >= 1 block
    val nBlocks = maxHamming + 1
    val bounds = (0 to nBlocks).map(b => b * bits / nBlocks)
    val blk = (0 until nBlocks).map { b =>
      val lo = bounds(b)
      val width = bounds(b + 1) - lo
      fps.select(col(idCol), col("fp"), lit(b).as("bi"),
        shiftright(col("fp"), lo).bitwiseAND(lit((1L << width) - 1)).as("bv"))
    }.reduce(_ unionAll _)
    val a = blk.select(col("bi"), col("bv"), col(idCol).as("id_a"), col("fp").as("fp_a"))
    val b = blk.select(col("bi"), col("bv"), col(idCol).as("id_b"), col("fp").as("fp_b"))
    a.join(b, Seq("bi", "bv"))
      .where(col("id_a") < col("id_b"))
      .select("id_a", "id_b", "fp_a", "fp_b")
      .distinct()
      .withColumn("hamming", bit_count(col("fp_a").bitwiseXOR(col("fp_b"))))
      .where(col("hamming") <= maxHamming)
  }

  /** Token-set (word 1-gram) Jaccard near-dup pairs within blocking-key
    * groups, EXACT result, via prefix filtering (the AllPairs/PPJoin
    * family, public literature): two sets with Jaccard ≥ t must share at
    * least one of the first `|x| - ⌈t·|x|⌉ + 1` tokens when every set is
    * sorted by a global token order (rarest first). So candidates are
    * generated by an equi-join on (block, prefix-token) — an inverted
    * index over prefixes only — instead of the O(block²) cross product,
    * and survivors are verified with the exact Jaccard. Same result set
    * as the naive blocked pairwise join (the driver oracle pins that),
    * linear-ish candidates at scale.
    *
    * The prefix theorem only needs ONE CONSISTENT global token order, so
    * the order is a tradeoff exposed as `rarestFirst`:
    *  - true: rarest-first (the literature's optimal prefix selectivity) —
    *    costs a global frequency pass: one aggregate + one join on the
    *    token key, i.e. two extra shuffles of the exploded token rows;
    *  - false: md5 order — no frequency pass (ONE shuffle over token rows
    *    total), prefixes are uniform-random tokens; more candidates
    *    survive to verification, which the length/positional filters then
    *    bound. Right when tokenization dominates verification.
    * Measured at 10× sf0.1 (count()-era fixture, OPTIMIZATION_r14.md;
    * see SCALE.md's provenance note): rarest-first ~24 s vs md5
    * order ~38 s — candidate selectivity beats the saved shuffles once the
    * corpus is large, hence the default.
    *
    * All `ceil(t·n)` bounds subtract a 1e-9 epsilon before rounding: in
    * doubles `10 * 0.9 == 9.000000000000002`, and a naive ceil would
    * shorten the prefix / tighten a bound and silently drop a borderline
    * pair whose Jaccard is exactly the threshold.
    *
    * When [[graft.core.SmallRelation.fits]] holds for the token-set
    * relation under [[InTaskJoins.PpjoinMaxBytes]] (and every block column
    * is atomic), the pair join runs in
    * one task instead ([[InTaskJoins.ppjoin]]): the same prefix, length and
    * positional filters over an in-memory inverted prefix index, the same
    * verified rows, one stage. `rarestFirst` then only names the
    * distributed branch's order. With `collapseExactDuplicates` the gate
    * applies to the representatives' join. Ids identify docs: one row per
    * id. */
  def ngramJaccardPairs(
      df: DataFrame, idCol: String, textCol: String,
      blockCols: Seq[String], threshold: Double,
      rarestFirst: Boolean = true,
      collapseExactDuplicates: Boolean = false): DataFrame = {
    val base = df.select((col(idCol) +: blockCols.map(col)) :+
      distinctTokens(col(textCol)).as("toks"): _*)
    if (!collapseExactDuplicates) pairsFromTokenSets(base, idCol, blockCols, threshold, rarestFirst)
    else {
      // Real corpora are duplicate-heavy; docs with IDENTICAL token sets
      // contribute identical prefixes, candidates and verifications. Run
      // the pairwise machinery once per distinct (block, token-set) class
      // and expand results losslessly:
      //  · cross-class member pairs inherit the class pair's jaccard
      //    (same sets → same value);
      //  · within-class pairs have jaccard exactly 1.0 ≥ any valid t.
      val sigd = base.withColumn("__sig", md5(concat_ws(" ", array_sort(col("toks")))))
      val groups = sigd
        .groupBy(blockCols.map(col) :+ col("__sig"): _*)
        .agg(min(col(idCol)).as("__rep"),
          collect_list(col(idCol)).as("__members"),
          first(col("toks")).as("toks"))
        .transform(graft.CacheRegistry.persisted(_))
      val reps = groups.select(col("__rep").as(idCol) +: blockCols.map(col) :+ col("toks"): _*)
      val repPairs = pairsFromTokenSets(reps, idCol, blockCols, threshold, rarestFirst)
      val ma = groups.select(col("__rep").as("id_a"), explode(col("__members")).as("m_a"))
      val mb = groups.select(col("__rep").as("id_b"), explode(col("__members")).as("m_b"))
      val cross = repPairs.join(ma, "id_a").join(mb, "id_b")
        .select(least(col("m_a"), col("m_b")).as("id_a"),
          greatest(col("m_a"), col("m_b")).as("id_b"), col("jaccard"))
      val within = groups.where(size(col("__members")) > 1)
        .select(col("__members"), explode(col("__members")).as("m_a"))
        .select(col("m_a"), explode(col("__members")).as("m_b"))
        .where(col("m_a") < col("m_b"))
        .select(col("m_a").as("id_a"), col("m_b").as("id_b"), lit(1.0).as("jaccard"))
      if (threshold <= 1.0) cross.unionAll(within) else cross
    }
  }

  private def pairsFromTokenSets(
      base: DataFrame, idCol: String,
      blockCols: Seq[String], threshold: Double, rarestFirst: Boolean): DataFrame = {
    val kernelIn = base.select(col(idCol) +: blockCols.map(col) :+ col("toks"): _*)
    val types = kernelIn.schema.fields.map(_.dataType)
    if (types.slice(1, blockCols.length + 1).forall(InTaskJoins.atomicKey) &&
        SmallRelation.fits(InTaskJoins.PpjoinMaxBytes, base))
      orderPairs(kernelIn.coalesce(1)
        .mapPartitions(InTaskJoins.ppjoin(_, blockCols.length, threshold))(
          Encoders.row(InTaskJoins.pairSchema(types.head)))
        .toDF())
    else distributedPairs(base, idCol, blockCols, threshold, rarestFirst)
  }

  private def distributedPairs(
      base: DataFrame, idCol: String,
      blockCols: Seq[String], threshold: Double, rarestFirst: Boolean): DataFrame = {
    val tokRows = base.select(col(idCol) +: blockCols.map(col) :+
      explode(col("toks")).as("tok"): _*)
    // per-doc tokens in the global order (persisted: both the prefix
    // branch and the verification branch read it, and recomputing means a
    // second tokenize + shuffle)
    val ordered =
      if (rarestFirst) {
        // freq as aggregate + join back — measured FASTER at 10× than the
        // count-over-window formulation (24 s vs 30 s): WindowExec sorts
        // every token row within partitions, while the join's exchange is
        // shared with the aggregate's
        val freq = tokRows.groupBy(col("tok")).agg(count(lit(1)).as("freq"))
        tokRows.join(freq, "tok")
          .groupBy(col(idCol) +: blockCols.map(col): _*)
          .agg(array_sort(collect_list(struct(col("freq"), col("tok")))).as("ft"))
      } else {
        tokRows
          .groupBy(col(idCol) +: blockCols.map(col): _*)
          .agg(array_sort(collect_list(struct(md5(col("tok")).as("h"), col("tok")))).as("ft"))
      }
    val sorted = ordered
      .select(col(idCol) +: blockCols.map(col) :+
        transform(col("ft"), x => x.getField("tok")).as("toks") :+
        size(col("ft")).as("n"): _*)
      .transform(graft.CacheRegistry.persisted(_))
    def ceilT(x: Column): Column = ceil(x * lit(threshold) - lit(1e-9))
    // prefix length |x| - ceil(t*|x|) + 1
    val prefLen = (col("n") - ceilT(col("n")) + lit(1)).cast("int")
    val prefixes = sorted.select(col(idCol) +: blockCols.map(col) :+
      col("n") :+ (posexplode(slice(col("toks"), lit(1), prefLen))).as(Seq("pos", "ptok")): _*)
    val joinKeys = blockCols :+ "ptok"
    val a = prefixes.select(joinKeys.map(col) :+ col(idCol).as("id_a")
      :+ col("n").as("n_a") :+ col("pos").as("pos_a"): _*)
    val b = prefixes.select(joinKeys.map(col) :+ col(idCol).as("id_b")
      :+ col("n").as("n_b") :+ col("pos").as("pos_b"): _*)
    // PPJoin candidate pruning (both implied by Jaccard ≥ t, so the result
    // set is unchanged — the oracle pins that):
    //  · length filter: min(n_a,n_b) ≥ ceil(t·max(n_a,n_b))
    //  · positional filter: overlap ≤ min(pos_a,pos_b) shared-before-match
    //    + 1 + min(suffix_a,suffix_b) shared-after, which must reach
    //    α = ceil(t/(1+t)·(n_a+n_b)); the bound holds for EVERY shared
    //    token row, so every true pair keeps at least its generated rows
    val alpha = ceil((col("n_a") + col("n_b")) * lit(threshold / (1.0 + threshold)) - lit(1e-9))
    val upperBound = least(col("pos_a"), col("pos_b")) + lit(1) +
      least(col("n_a") - col("pos_a") - 1, col("n_b") - col("pos_b") - 1)
    val cand = a.join(b, joinKeys)
      .where(col("id_a") < col("id_b") &&
        least(col("n_a"), col("n_b")) >= ceilT(greatest(col("n_a"), col("n_b"))) &&
        upperBound >= alpha)
      .select("id_a", "id_b")
      .distinct()
    val sets = sorted.select(col(idCol), col("toks"))
    cand
      .join(sets.select(col(idCol).as("id_a"), col("toks").as("toks_a")), "id_a")
      .join(sets.select(col(idCol).as("id_b"), col("toks").as("toks_b")), "id_b")
      .select(col("id_a"), col("id_b"), jaccard(col("toks_a"), col("toks_b")).as("jaccard"))
      .where(col("jaccard") >= threshold)
  }

  /** Exact-substring duplicate detection via winnowing — the scalable form
    * of Lee et al. 2022's exact-substring dedup ("Deduplicating Training
    * Data Makes Language Models Better", which uses a suffix array on a
    * single machine; a 100 TB corpus needs a shuffle-based equivalent).
    *
    * Per document (NO shuffle — a document's windows are local to its
    * row): hash every `kgram`-char window, then keep only each
    * `window`-hash sliding minimum (winnowing, Schleimer et al. 2003
    * §Fig. 5). The winnowing guarantee makes this exact, not heuristic:
    * any substring of length ≥ kgram + window − 1 shared by two documents
    * yields at least one IDENTICAL fingerprint in both — no false
    * negatives above that span, while only ~2/(window+1) of positions
    * ship a fingerprint. Shared fingerprints then surface as one
    * equi-join on the (subsampled, uniform) fingerprint hash — the same
    * bucket-join shape as every other dedup here, never all-pairs.
    *
    * Returns (id_a, id_b, n_shared_fps) for pairs sharing ≥ `minShared`
    * distinct fingerprints; n_shared_fps is the exact intersection size
    * of the two documents' fingerprint sets. */
  def substringDupPairs(
      df: DataFrame, idCol: String, textCol: String,
      kgram: Int = 20, window: Int = 8, minShared: Int = 1): DataFrame = {
    require(kgram >= 1 && window >= 1 && minShared >= 1,
      "substringDupPairs: kgram, window, minShared >= 1")
    // hash + winnow is ONE compiled pass per document
    // (graft.functions.WinnowFingerprints) — the equivalent
    // transform/slice/array_min HOF chain is interpreted per element:
    // 7.6 s vs ~0.5 s at sf0.1
    val fps = df
      .where(length(col(textCol)) >= kgram + window - 1)
      .select(col(idCol),
        explode(graft.functions.TextExpressionFunctions.winnowFingerprints(
          col(textCol), kgram, window)).as("fp"))
      .transform(graft.CacheRegistry.persisted(_)) // both sides of the self-join read this branch
    fps.as("a")
      .join(fps.as("b"),
        col("a.fp") === col("b.fp") && col(s"a.$idCol") < col(s"b.$idCol"))
      .groupBy(col(s"a.$idCol").as("id_a"), col(s"b.$idCol").as("id_b"))
      .agg(count(lit(1)).as("n_shared_fps"))
      .where(col("n_shared_fps") >= minShared)
  }

  /** Duplicate-cluster canonicalization: given near-dup PAIRS, compute
    * connected components and label every member with the minimum id of
    * its cluster — the id to keep. Min-label propagation WITH pointer
    * jumping: each round takes the min over (own label, neighbors' labels,
    * label-of-label). The neighbor step moves a label one hop; the jump
    * step (`lab → lab(lab)`, path halving from the union-find literature)
    * lets labels traverse already-labelled chains in one round, so long
    * chains converge in O(log diameter) rounds instead of O(diameter) —
    * on a 100 TB corpus each round is a full shuffle, and halving the
    * round count is the dominant lever. Lineage is truncated per round
    * (`localCheckpoint`) so plans stay bounded; data never leaves the
    * cluster, the driver only orchestrates rounds.
    * Returns (id, canonical_id) for every id appearing in `pairs`.
    *
    * @param checkpointer how to truncate lineage each round. The default
    *   `localCheckpoint` stores blocks on executors — fine in one
    *   session; a long-lived 100 TB job should pass
    *   `_.checkpoint()` (with `sparkContext.setCheckpointDir`) so rounds
    *   survive executor loss. */
  def canonicalize(
      pairs: DataFrame, maxIter: Int = 20,
      checkpointer: DataFrame => DataFrame = _.localCheckpoint()): DataFrame = {
    // r15: RESTORED to the round-13 loop shape — one eager checkpoint per
    // round, no persisted/repartitioned edge relation, no persisted label
    // iterates. Round 14 rewrote this loop around a hash(src)-persisted
    // edge relation (persist preserves partitioning, checkpoint every 2)
    // on a per-round-exchange argument; it measured SLOWER at bench SF in
    // every run — the builder's own A/B (d15 3.21→3.87 s), the r14 driver
    // (d15 2.94→7.57 s, d6 2.47→4.96 s at both core counts), and an r15
    // quiet-host re-check (cut-round single-materialization variant:
    // d6 3.09→3.66, d15 4.34→4.77 min-of-3). Min-label convergence lands
    // in 2-3 rounds (pointer jumping: O(log diameter)), so the setup jobs
    // (checkpoint materialization + repartition exchange + cache write)
    // never amortize — at ANY scale the loop runs too few rounds for a
    // cached layout to pay for itself, and each round's relations are
    // labels-sized, far below the edge relation the layout was meant to
    // spare. Label iterates are exact integer mins — identical under any
    // plan — so the restore is value-neutral (CanonicalizeSpec pins
    // union-find equality). Nothing persists, so a composed pipeline
    // calling canonicalize repeatedly accumulates no dead cache (ADVICE
    // r14); the eager per-round checkpoint also keeps plan depth at ONE
    // round regardless of iteration count.
    val edges = checkpointer(
      pairs.select(col("id_a").as("src"), col("id_b").as("dst"))
        .unionAll(pairs.select(col("id_b").as("src"), col("id_a").as("dst")))
        .distinct())
    var labels = checkpointer(
      edges.select(col("src").as("id")).distinct()
        .withColumn("lab", col("id")))
    // Labels only ever DECREASE under min-propagation, so Σlab (exact, as
    // decimal — no overflow at any corpus size) strictly decreases iff any
    // label changed: convergence is one cheap aggregate per round — over
    // blocks the eager checkpoint just materialized, so the check costs a
    // scan of executor-local cache, not a recompute.
    def labSum(df: DataFrame): java.math.BigDecimal = {
      // sum over an empty frame is null → zero (empty graph = converged)
      val s = df.agg(sum(col("lab").cast("decimal(38,0)"))).head().getDecimal(0)
      if (s == null) java.math.BigDecimal.ZERO else s
    }
    var prevSum = labSum(labels)
    var iter = 0
    var converged = false
    while (!converged && iter < maxIter) {
      val viaEdges = edges.join(labels, edges("src") === labels("id"))
        .select(col("dst").as("id"), col("lab"))
      // pointer jump: id's label re-resolved through its label's label
      val byId = labels.select(col("id").as("__jid"), col("lab").as("__jlab"))
      val viaJump = labels.join(byId, labels("lab") === col("__jid"))
        .select(col("id"), col("__jlab").as("lab"))
      val preCut = viaEdges.unionAll(viaJump).unionAll(labels)
        .groupBy("id").agg(min("lab").as("lab"))
      graft.PlanProbe.note(s"canonicalize round ${iter + 1} (pre-checkpoint)", preCut)
      val next = checkpointer(preCut)
      val nextSum = labSum(next)
      converged = nextSum.compareTo(prevSum) == 0
      prevSum = nextSum
      labels = next
      iter += 1
    }
    labels.select(col("id"), col("lab").as("canonical_id"))
  }

  /** Quality-aware canonical selection: keep the HIGHEST-quality member
    * of each near-dup cluster — the FineWeb/Dolma keep-longest policy —
    * where [[dropNearDuplicates]] keeps the minimum id. `qualityCol` is
    * numeric; ties break toward the smaller id, so selection is fully
    * deterministic. Returns one row per (multi-member) cluster:
    * (canonical_id, keep_id, n_members); rows in no pair keep themselves
    * trivially and are not emitted.
    *
    * The argmax rides ONE mergeable aggregate — max of a (quality, -id)
    * struct, lexicographic — over the cluster labels, so only one row
    * per cluster per partition crosses the shuffle; no window sort. */
  def keepBestPerCluster(
      df: DataFrame, idCol: String, qualityCol: String, pairs: DataFrame): DataFrame =
    canonicalize(pairs)
      .join(df.select(col(idCol).cast("long").as("id"), col(qualityCol).as("__q")),
        Seq("id"))
      .groupBy(col("canonical_id"))
      .agg(count(lit(1)).as("n_members"),
        max(struct(col("__q").as("q"), (-col("id")).as("nid"))).as("__best"))
      .select(col("canonical_id"), (-col("__best.nid")).as("keep_id"),
        col("n_members"))

  /** The dedup endgame: drop every row whose id is a non-canonical member
    * of a near-dup cluster (keep the minimum id per cluster; rows not in
    * any pair are kept). */
  def dropNearDuplicates(df: DataFrame, idCol: String, pairs: DataFrame): DataFrame = {
    val losers = canonicalize(pairs)
      .where(col("id") =!= col("canonical_id"))
      .select(col("id").as("__loser"))
    df.join(losers, df(idCol) === col("__loser"), "left_anti")
  }

  /** Embedding cosine near-dup pairs within blocking-key groups (brute
    * force within block; for unblocked corpora use the hyperplane-LSH
    * bucketing in [[graft.similarity.Similarity]]). */
  /** Banded hyperplane-LSH embedding near-dup pairs — the
    * no-natural-key, no-quantizer member of the embedding-dedup family
    * ([[embeddingCosinePairs]] needs blocking columns,
    * [[semanticDedupPairs]] builds them with a coarse quantizer whose
    * clusters score all-pairs WITHIN each cluster): `bands` bands of
    * `rowsPerBand` hyperplane sign bits each (Charikar 2002 random
    * hyperplane LSH, banded a la minhash-LSH — the d3 shape transplanted
    * to the embedding space). Two vectors are candidates iff some band's
    * sign bits all agree; candidates are verified by EXACT cosine
    * against `threshold`, so precision is exact and only recall is
    * approximate: a pair at angle theta collides per band with
    * (1 - theta/pi)^rowsPerBand, so recall = 1 - (1 - p_band)^bands —
    * the tunable S-curve. At 100 TB this is the scale default for
    * unlabeled corpora: candidate volume tracks TRUE near-dup density
    * (near-dups concentrate in shared buckets) instead of
    * |corpus|^2 / |blocks| for whatever fixed blocking exists, and each
    * band join is a plain equi-shuffle on (band, bucket).
    *
    * Planes are the deterministic md5-derived +/-1 hyperplanes of
    * [[graft.similarity.Similarity.hyperplaneWeights]] (plane index =
    * band * rowsPerBand + p), embedded as codegen'd literals — any
    * engine can regenerate them, which is what makes the d18 gate query
    * fully oracle-able. Output: (id_a, id_b, cosine), id_a < id_b,
    * NaN cosines (zero-norm vectors) excluded.
    *
    * Plan shape: narrow (id, band, bucket) rows band-join into candidate
    * pairs, the pair set is deduped (a pair colliding in k bands scores
    * ONCE), and the exact-cosine verify joins the ids back to the
    * persisted vector relation — every join a plain equi-shuffle, all
    * volumes linear in candidates + corpus. An inline-scoring variant
    * (vectors carried through the band join, filter before dedup) was
    * measured SLOWER at both 1x and 10xCD (SCALE.md round-10): k-fold
    * re-scoring and the vector-wide band shuffle cost more than the
    * id-only dedup saves.
    *
    * Parameter scale law (measured, SCALE.md round-10 cd probes):
    * random (unrelated) vectors collide in >= 1 of `bands` bands with
    * 1-(1-2^-rowsPerBand)^bands — ~40% at the d18 gate's rowsPerBand=4
    * — so at FIXED parameters the candidate floor grows quadratically
    * with the corpus. rowsPerBand must grow ~log2(corpus) to keep
    * expected bucket size O(1) and the floor linear (the minhash-LSH
    * band key gets this for free by hashing r minhashes into a 64-bit
    * space). The sharper S-curve that comes with more bits targets
    * HIGH-similarity pairs — the near-dup production regime; for
    * mid-threshold semantic similarity at scale use the
    * quantizer-blocked [[semanticDedupPairsAuto]] (measured linear at
    * constant cluster size) instead. [[embeddingLshPairsAuto]] automates
    * this law from a corpus count — prefer it unless the width is
    * externally pinned (e.g. joining against a registry built with a
    * fixed signature). */
  def embeddingLshPairs(
      df: DataFrame, idCol: String, vecCol: String,
      bands: Int, rowsPerBand: Int, dims: Int, threshold: Double): DataFrame = {
    import graft.similarity.Similarity.{cosineOf, dot, l2Norm}
    // id/vec/norm once per vector; persisted — the band self-join and the
    // two verify joins all re-read this relation, and Spark does not
    // share plan subtrees across self-joins (the embeddingCosinePairs
    // lesson)
    val t = df.select(col(idCol).as("id"), col(vecCol).as("v"),
        l2Norm(col(vecCol)).as("nrm"))
      .transform(graft.CacheRegistry.persisted(_))
    val banded = embeddingLshBands(t, "id", "v", bands, rowsPerBand, dims)
    // candidate pairs: same (band, bucket) in at least one band; distinct
    // BEFORE the verify joins so a pair colliding in k bands is scored
    // once, not k times
    val cands = banded.as("a")
      .join(banded.as("b"),
        col("a.band") === col("b.band") && col("a.bucket") === col("b.bucket")
          && col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .dropDuplicates("id_a", "id_b")
    cands
      .join(t.select(col("id").as("id_a"), col("v").as("v_a"), col("nrm").as("nrm_a")), Seq("id_a"))
      .join(t.select(col("id").as("id_b"), col("v").as("v_b"), col("nrm").as("nrm_b")), Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        cosineOf(dot(col("v_a"), col("v_b")), col("nrm_a"), col("nrm_b")).as("cosine"))
      .where(!isnan(col("cosine")) && col("cosine") >= threshold)
  }

  /** The narrow (id, band, bucket) banding relation of
    * [[embeddingLshPairs]], exposed so candidate VOLUME is auditable on
    * its own (the constant-density rows in SCALE.md join it against
    * itself to count candidates without paying the cosine verify). */
  def embeddingLshBands(
      df: DataFrame, idCol: String, vecCol: String,
      bands: Int, rowsPerBand: Int, dims: Int): DataFrame = {
    import graft.similarity.Similarity.hyperplaneWeights
    require(bands >= 1 && rowsPerBand >= 1 && rowsPerBand <= 62,
      "embeddingLshBands: need bands >= 1 and 1 <= rowsPerBand <= 62")
    val w = hyperplaneWeights(bands * rowsPerBand, dims)
    // one fused expression for ALL planes: the vector converts once and
    // the plane loop is a single compiled method (the unrolled per-plane
    // DotProduct form re-cast the vector once per plane — 96 allocations
    // per row at the production regime, measured ~2x the banding cost)
    df.select(col(idCol).as("id"),
      posexplode(graft.functions.VectorFunctions.bandBuckets(
        col(vecCol), w, bands, rowsPerBand)).as(Seq("band", "bucket")))
  }

  /** [[embeddingLshPairs]] with the band WIDTH derived from the corpus —
    * the operator's own measured scale law automated (the same pattern
    * as [[semanticDedupPairsAuto]]): random unrelated vectors collide in
    * >= 1 of `bands` bands with 1-(1-2^-rowsPerBand)^bands, so at FIXED
    * width the random-collision floor makes candidates quadratic in the
    * corpus; `rowsPerBand = ceil(log2(n)) + margin` keeps the expected
    * bucket size O(1) and candidates linear (measured: SCALE.md, round 10,
    * d18 band-bits floor). The wider band's sharper per-band S-curve
    * targets HIGH-similarity pairs, so recall is budgeted by `bands` at
    * the near-dup thresholds this face is for (cos >= ~0.9; a pair at
    * angle theta survives a band with (1-theta/pi)^rowsPerBand, recall =
    * 1-(1-p_band)^bands). For mid-threshold semantic similarity use the
    * quantizer-blocked [[semanticDedupPairsAuto]]. The `count()` is
    * parameter-derivation cost, same class as the quantizer builds. */
  def embeddingLshPairsAuto(
      df: DataFrame, idCol: String, vecCol: String,
      bands: Int, dims: Int, threshold: Double, margin: Int = 2): DataFrame = {
    require(margin >= 0, "embeddingLshPairsAuto: margin >= 0")
    val n = df.count()
    val rowsPerBand = math.min(62, math.max(1,
      math.ceil(math.log(math.max(2L, n).toDouble) / math.log(2.0)).toInt + margin))
    embeddingLshPairs(df, idCol, vecCol, bands, rowsPerBand, dims, threshold)
  }

  /** SemDeDup-style semantic dedup (Abbas et al. 2023, arXiv:2303.09540):
    * cluster the embedding space with a coarse quantizer, then find exact
    * cosine near-dup pairs WITHIN each cluster — the published recipe for
    * semantic (not lexical) duplicate pruning of web-scale corpora, and
    * the principled source of blocking keys when no natural ones exist.
    *
    * This face uses the DETERMINISTIC smallest-id quantizer (s3's —
    * collected once, nlist ≪ corpus, held by a single
    * [[graft.functions.NearestCentroids]] expression), so cluster
    * assignment is a shuffle-free projection and the whole result is
    * bit-reproducible by an external oracle — the reason the d7 gate
    * query uses it. The smallest-id vectors are ARBITRARY as centroids,
    * though: for dedup QUALITY (clusters that track the corpus
    * distribution, fewer boundary-crossing misses), train real centroids
    * with [[graft.similarity.Similarity.kmeansCentroids]] and pass them
    * to the pre-trained-centroids overload — one extra call, same plan
    * shape. Cluster count trades recall for cost: pairs crossing a
    * cluster boundary are missed (the SemDeDup approximation), pair work
    * is quadratic only within clusters. */
  def semanticDedupPairs(
      df: DataFrame, idCol: String, vecCol: String,
      nlist: Int, threshold: Double): DataFrame = {
    val cents = df
      .select(col(idCol).cast("long"), col(vecCol).cast("array<double>"))
      .orderBy(col(idCol))
      .limit(nlist)
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
    semanticDedupPairs(df, idCol, vecCol, cents.map(_._1), cents.map(_._2), threshold)
  }

  /** [[semanticDedupPairs]] with the cluster COUNT derived from the
    * corpus — the production scaling law (SemDeDup runs a cluster count
    * proportional to the corpus, Abbas et al. 2023 §2, so the expected
    * cluster SIZE stays constant and within-cluster scoring grows
    * LINEARLY with the data; a pinned nlist grows clusters with the
    * corpus and SCORING quadratically — 100× scored pairs for 10× data,
    * measured in SCALE.md's round-8 cd probes (3.0× wall-clock pinned vs
    * 2.3× scaled at 10× on 32 cores — the pinned gap compounds every
    * further decade while the scaled path stays linear). The `count()`
    * at build time is quantizer-build cost, the same class as IVF
    * training. */
  def semanticDedupPairsAuto(
      df: DataFrame, idCol: String, vecCol: String,
      targetClusterSize: Int, threshold: Double): DataFrame = {
    require(targetClusterSize >= 1, "semanticDedupPairsAuto: targetClusterSize >= 1")
    val n = df.count()
    val nlist = math.max(1L, math.ceil(n.toDouble / targetClusterSize).toLong).toInt
    semanticDedupPairs(df, idCol, vecCol, nlist, threshold)
  }

  /** [[semanticDedupPairs]] with PRE-TRAINED centroids — the quality path:
    * pass [[graft.similarity.Similarity.kmeansCentroids]] output (or any
    * externally-trained quantizer) and get the same shuffle-free
    * assignment + within-cluster pair plan with data-driven clusters.
    * Centroid ids only label the clusters; values drive assignment. */
  def semanticDedupPairs(
      df: DataFrame, idCol: String, vecCol: String,
      centroidIds: Array[Long], centroidVecs: Array[Array[Double]],
      threshold: Double): DataFrame = {
    require(centroidIds.length == centroidVecs.length && centroidIds.nonEmpty,
      "semanticDedupPairs: need equal-length, non-empty centroid ids/vectors")
    val clustered = df.withColumn("cluster",
      element_at(graft.functions.VectorFunctions.nearestCentroids(
        col(vecCol), centroidIds, centroidVecs, 1), 1))
    embeddingCosinePairs(clustered, idCol, vecCol, Seq("cluster"), threshold)
  }

  def embeddingCosinePairs(
      df: DataFrame, idCol: String, vecCol: String,
      blockCols: Seq[String], threshold: Double): DataFrame = {
    import graft.similarity.Similarity.{cosineOf, dot, l2Norm}
    // norms once per vector before the pairwise join, not once per pair;
    // persisted because the self-join reads it twice and Spark does not
    // share plan subtrees across a self-join — without this the scan,
    // block assignment (d7: the quantizer projection) and norm all run
    // twice (the minhashLsh lesson applied here)
    val t = df.select(col(idCol) +: col(vecCol) +: l2Norm(col(vecCol)).as("nrm") +:
      blockCols.map(col): _*)
      .transform(graft.CacheRegistry.persisted(_))
    val a = t.select(blockCols.map(col) :+ col(idCol).as("id_a")
      :+ col(vecCol).as("v_a") :+ col("nrm").as("nrm_a"): _*)
    val b = t.select(blockCols.map(col) :+ col(idCol).as("id_b")
      :+ col(vecCol).as("v_b") :+ col("nrm").as("nrm_b"): _*)
    a.join(b, blockCols)
      .where(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        cosineOf(dot(col("v_a"), col("v_b")), col("nrm_a"), col("nrm_b")).as("cosine"))
      // !isnan: a zero-norm vector gives 0/0 = NaN; IEEE NaN >= t is
      // false in Spark but engines with total-order comparisons would
      // keep it — exclude explicitly so the contract is engine-free
      .where(!isnan(col("cosine")) && col("cosine") >= threshold)
  }

  /** Line-level exact dedup with document reassembly — the
    * RefinedWeb/MassiveText formulation (Penedo et al. 2023 §3.3 dedup
    * boilerplate lines; Rae et al. 2021 §A1.2): a line that has already
    * appeared anywhere in the corpus is removed from every LATER
    * document; the first occurrence (smallest (id, position)) keeps it.
    * Navigation chrome, cookie banners and share buttons repeat across
    * millions of pages — removing repeated lines, not whole documents,
    * is what makes this distinct from [[exact]].
    *
    * Pipeline: posexplode lines → md5 line key → one hash-aggregate
    * claiming each key's minimum (id, pos) — a `min(struct)` so partial
    * aggregation ships ONE candidate per key per partition — → equi-join
    * the claim back onto the line stream → per-document position-sorted
    * reassembly (`collect_list` alone is shuffle-order-nondeterministic;
    * the sort inside the aggregate restores author order). Shuffles are
    * all on uniform hash or id keys; nothing is ever quadratic. The
    * line-key relation at 100 TB is large but uniform — the same shape
    * as [[exact]]'s content-hash aggregate.
    *
    * Output: one row per document that RETAINS at least one line —
    * (idCol, n_lines, n_kept, text_clean). A document whose every line
    * was claimed earlier (a fully-duplicated page) disappears, which is
    * precisely the degenerate case where line dedup subsumes [[exact]].
    */
  def lineDedup(df: DataFrame, idCol: String, textCol: String,
      sep: String = "\n", perDoc: Boolean = false): DataFrame = {
    // sep is a LITERAL on both faces: `split` gets the quoted form
    // (Spark's split is regex-based; an unquoted "||" would match the
    // empty string and shred every character) and `concat_ws` rejoins
    // with the raw string — so any separator round-trips
    require(sep.nonEmpty, "lineDedup: sep must be non-empty")
    val sepRe = java.util.regex.Pattern.quote(sep)
    val lines = df
      .select(col(idCol), size(split(col(textCol), sepRe)).as("n_lines"),
        posexplode(split(col(textCol), sepRe)).as(Seq("pos", "line")))
      .select(col(idCol), col("n_lines"), col("pos"), col("line"),
        md5(col("line")).as("lk"))
    // perDoc scopes the claim to (doc, line): repeated boilerplate inside
    // one document collapses, while lines shared ACROSS documents survive
    // (the Dolma within-doc pass; perDoc=false is the RefinedWeb global one)
    val claimKeys = if (perDoc) Seq(col(idCol), col("lk")) else Seq(col("lk"))
    val firstClaim = lines
      .groupBy(claimKeys: _*)
      .agg(min(struct(col(idCol).as("id"), col("pos").as("pos"))).as("first"))
    lines
      .join(firstClaim, if (perDoc) Seq(idCol, "lk") else Seq("lk"))
      .where(col(idCol) === col("first.id") && col("pos") === col("first.pos"))
      .groupBy(col(idCol))
      .agg(
        min(col("n_lines")).cast("long").as("n_lines"), // constant per doc
        count(lit(1)).as("n_kept"),
        array_sort(collect_list(struct(col("pos"), col("line")))).as("pl"))
      .select(col(idCol), col("n_lines"), col("n_kept"),
        concat_ws(sep, transform(col("pl"), x => x.getField("line"))).as("text_clean"))
  }

  /** Sentence-level exact dedup with document reassembly — [[lineDedup]]
    * at sentence granularity: documents are segmented by the RE2-portable
    * splitter ([[graft.text.TextAnalysis.sentences]] — maximal runs of
    * non-terminator characters plus trailing `.!?`, trimmed, empties
    * dropped) instead of a literal separator, and a sentence that has
    * already appeared anywhere in the corpus is removed from every LATER
    * document (first occurrence = smallest (id, position) keeps it).
    * This is the granularity CCNet/RefinedWeb-class pipelines use for
    * boilerplate that is punctuated prose rather than newline-delimited
    * chrome ("All rights reserved." repeats across millions of pages with
    * no surrounding newlines — line dedup never sees it).
    *
    * Same plan shape as [[lineDedup]]: posexplode sentences → md5 key →
    * one `min(struct(id, pos))` hash-aggregate claim (partial aggregation
    * ships one candidate per key per partition) → equi-join the claim back
    * → position-sorted reassembly. All shuffles on uniform hash/id keys;
    * nothing quadratic. Original inter-sentence whitespace is not
    * recoverable after segmentation, so `text_clean` rejoins survivors
    * with a single space (the [[graft.pipeline.TrainingPrep.sentenceChunks]]
    * convention).
    *
    * `perDoc = true` scopes the claim to (doc, sentence): repetition
    * inside one document collapses while cross-document repeats survive
    * (the Dolma within-doc pass). A document whose every sentence was
    * claimed earlier disappears from the output.
    *
    * Output: (idCol, n_sents, n_kept, text_clean). */
  def sentenceDedup(df: DataFrame, idCol: String, textCol: String,
      perDoc: Boolean = false): DataFrame = {
    val sents = df
      .select(col(idCol),
        size(graft.text.TextAnalysis.sentences(col(textCol))).as("n_sents"),
        posexplode(graft.text.TextAnalysis.sentences(col(textCol)))
          .as(Seq("pos", "sent")))
      .withColumn("sk", md5(col("sent")))
    val claimKeys = if (perDoc) Seq(col(idCol), col("sk")) else Seq(col("sk"))
    val firstClaim = sents
      .groupBy(claimKeys: _*)
      .agg(min(struct(col(idCol).as("id"), col("pos").as("pos"))).as("first"))
    sents
      .join(firstClaim, if (perDoc) Seq(idCol, "sk") else Seq("sk"))
      .where(col(idCol) === col("first.id") && col("pos") === col("first.pos"))
      .groupBy(col(idCol))
      .agg(
        min(col("n_sents")).cast("long").as("n_sents"), // constant per doc
        count(lit(1)).as("n_kept"),
        array_sort(collect_list(struct(col("pos"), col("sent")))).as("ps"))
      .select(col(idCol), col("n_sents"), col("n_kept"),
        concat_ws(" ", transform(col("ps"), x => x.getField("sent"))).as("text_clean"))
  }

  /** Paragraph-level NEAR-dedup with reassembly — [[lineDedup]]'s fuzzy
    * sibling: instead of exact line identity, paragraphs are matched by
    * MinHash-LSH shingle Jaccard (the [[minhashLsh]] machinery at
    * paragraph granularity — boilerplate survives small edits, which is
    * why web curation dedups paragraphs fuzzily). Removal rule:
    * FIRST-OCCURRENCE-WINS, PAIRWISE — a paragraph is dropped iff ANY
    * verified near-match exists at a strictly smaller (doc, position)
    * key, whether or not that earlier match itself survived. On a chain
    * A ≈ B ≈ C (with A and C dissimilar) both B and C are dropped even
    * though C never matched the surviving A — the pairwise rule can
    * over-remove relative to cluster-canonical semantics; run
    * [[canonicalizeClusters]] over the [[minhashLsh]] pair graph when
    * one-representative-per-cluster is wanted. Paragraphs too
    * short to shingle (< `shingleN` words) are never matched and always
    * survive. Docs whose every paragraph is removed vanish from the
    * output (nothing left to reassemble).
    *
    * Returns (id, n_paras, n_kept, text_clean), paragraphs rejoined in
    * position order. `idCol` must be integral: the per-paragraph key is
    * `id * maxParasPerDoc + pos`, ordered and collision-free while every
    * doc has fewer than `maxParasPerDoc` paragraphs.
    *
    * Scale shape: exactly d3's — signatures are partial-agg shuffles per
    * paragraph, candidates band-bucket equi-joins (never all-pairs),
    * removal one anti join on the paragraph key, reassembly one groupBy.
    * The paragraph relation is persisted ([[graft.CacheRegistry]]): three
    * consumers (signatures, removal join, reassembly) would otherwise
    * re-split every document three times. */
  def paragraphNearDedup(
      df: DataFrame, idCol: String, textCol: String,
      shingleN: Int = 3, k: Int = 12, bands: Int = 4, rows: Int = 3,
      threshold: Double = 0.5, sep: String = "\n\n",
      maxParasPerDoc: Long = 1000000L): DataFrame = {
    require(sep.nonEmpty, "paragraphNearDedup: sep must be non-empty")
    // sep is a LITERAL on both faces, like [[lineDedup]]: quoted for the
    // regex-based split, raw for the rejoin
    val sepRe = java.util.regex.Pattern.quote(sep)
    val paras = df
      .select(col(idCol), size(split(col(textCol), sepRe)).as("n_paras"),
        posexplode(split(col(textCol), sepRe)).as(Seq("pos", "para")))
      .withColumn("pkey", col(idCol).cast("long") * lit(maxParasPerDoc) + col("pos"))
      .transform(graft.CacheRegistry.persisted(_))
    val removed = minhashLsh(paras, "pkey", "para", shingleN, k, bands, rows, threshold)
      .select(col("id_b").as("pkey")).distinct() // id_a < id_b: b is the later occurrence
    paras
      .join(removed, Seq("pkey"), "left_anti")
      .groupBy(col(idCol))
      .agg(
        min(col("n_paras")).cast("long").as("n_paras"), // constant per doc
        count(lit(1)).as("n_kept"),
        array_sort(collect_list(struct(col("pos"), col("para")))).as("pp"))
      .select(col(idCol), col("n_paras"), col("n_kept"),
        concat_ws(sep, transform(col("pp"), x => x.getField("para"))).as("text_clean"))
  }
}
