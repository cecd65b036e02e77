package graft

import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

import graft.queries.{ExtensionQueries, ParityQueries}

/** Physical-plan assertions — the "would this survive 100 TB" properties,
  * checked mechanically: filters reach the parquet scan, scans read only
  * referenced columns, dimension joins broadcast, nothing degenerates to a
  * cartesian product, the hot aggregations stay in whole-stage codegen. */
class PlanSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val sf = "/root/testdata/sf0.001"

  private def q(name: String): DataFrame = {
    val all = (ParityQueries.all ++ ExtensionQueries.all).map(x => x.name -> x.fn).toMap
    all(name)(spark, sf)
  }
  /** Executes the frame first so AQE finalizes stage plans — codegen
    * stages then appear as `*(n)` markers in the tree string. Keeps only
    * the final plan (the adaptive tree string repeats the initial one). */
  private def plan(df: DataFrame): String = {
    df.collect()
    df.queryExecution.executedPlan.toString().split("== Initial Plan ==").head
  }

  test("q1 flagship: filter pushed down to the parquet scan") {
    val p = plan(q("q1_flagship"))
    assert(p.contains("PushedFilters: [In(l_returnflag"), s"missing pushdown:\n$p")
  }

  test("q1 flagship: scan reads only referenced columns (column pruning)") {
    val p = plan(q("q1_flagship"))
    val readSchema = p.linesIterator.find(_.contains("ReadSchema")).get
    assert(!readSchema.contains("l_shipdate") && !readSchema.contains("l_orderkey"),
      s"scan reads unreferenced columns: $readSchema")
    assert(readSchema.contains("l_quantity") && readSchema.contains("l_discount"))
  }

  test("q1 flagship: partial aggregation before the shuffle (two HashAggregates)") {
    val p = plan(q("q1_flagship"))
    assert(p.linesIterator.count(_.contains("HashAggregate")) == 2, p)
    assert(p.contains("*("), s"no whole-stage codegen stage in plan:\n$p")
  }

  test("multi-agg queries compile to a single Aggregate (one shuffle, one pass)") {
    for (name <- Seq("q2_weighted_mean", "q4_fold_all_numeric", "q14_merge_data_folds")) {
      val exchanges = plan(q(name)).linesIterator.count(_.contains("Exchange"))
      assert(exchanges <= 2, s"$name shuffles more than once (AQE stages: $exchanges)")
    }
  }

  test("x1 star join: dimensions broadcast, fact side never shuffled for the join") {
    val p = plan(q("x1_star_join"))
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), s"dimension join degenerated to SMJ:\n$p")
  }

  test("s1 brute-force topk: query side broadcast, no cartesian product") {
    val p = plan(q("s1_ann_bruteforce_topk"))
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct"), s"ANN degenerated to cartesian:\n$p")
  }

  test("dedup candidate joins are equi-joins on bucket keys, never cartesian") {
    for (name <- Seq("d3_dedup_minhash_lsh", "d4_dedup_simhash", "d2_dedup_ngram_jaccard")) {
      // the distributed plans: sf0.001 is below the in-task size gate
      val p = TestSpark.distributed(plan(q(name)))
      assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"),
        s"$name pair join is not an equi-join:\n$p")
    }
  }

  test("st1 windowed events: aggregation is partial (map-side combine) on nanos source") {
    val p = plan(q("st1_windowed_events"))
    assert(p.linesIterator.count(_.contains("HashAggregate")) >= 2, p)
  }

  test("st8 stream dedup batch face: one partial-agged min(struct) shuffle, no join") {
    val p = plan(q("st8_stream_dedup"))
    // min over a struct carrying a string buffers as SortAggregate (not
    // hash-aggregable); the load-bearing property is partial + final
    // around exactly one exchange
    assert(p.linesIterator.count(l =>
      l.contains("SortAggregate") || l.contains("HashAggregate")) == 2,
      s"firstByKey must be partial+final, one shuffle:\n$p")
    assert(p.linesIterator.count(_.contains("Exchange")) == 1, p)
    assert(!p.contains("Join"), s"dedup claim must not join:\n$p")
  }

  test("d17 scaled semantic dedup: equi-join within clusters, never cartesian") {
    val p = plan(q("d17_semantic_dedup_scaled"))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"),
      s"cluster pair join is not an equi-join:\n$p")
  }

  test("x10 interval join: band equi-join, never a nested-loop cross product") {
    val p = plan(q("x10_range_join"))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"),
      s"range join degenerated to a nested loop:\n$p")
  }

  test("s3 IVF: corpus list assignment is shuffle-free (probes broadcast)") {
    val p = plan(q("s3_ann_ivf"))
    assert(p.contains("BroadcastHashJoin"), s"probe join did not broadcast:\n$p")
    // only shuffle allowed: the final per-query top-k window; the corpus
    // reaches the join through projection + broadcast join only
    val beforeJoin = p.split("BroadcastHashJoin").last
    assert(!beforeJoin.contains("Exchange hashpartitioning"),
      s"corpus shuffled before the probe join:\n$p")
  }

  test("x7 salted distinct: both stages are hash aggregates with partial agg") {
    val p = plan(q("x7_salted_distinct"))
    assert(p.linesIterator.count(_.contains("HashAggregate")) >= 4, p)
    assert(!p.contains("Expand"), s"salted distinct fell back to Expand rewrite:\n$p")
  }

  test("custom DotProduct participates in whole-stage codegen") {
    val p = plan(q("d5_dedup_embedding_cosine"))
    assert(p.contains("graft_dot") || p.contains("DotProduct"), p)
    assert(p.contains("*("), s"no whole-stage codegen stage in plan:\n$p")
  }

  test("t9/t10 curation stats are shuffle-free single-pass projections") {
    for (name <- Seq("t9_repetition", "t10_heuristic_filter")) {
      val p = plan(q(name))
      assert(!p.contains("Exchange"), s"$name shuffles:\n$p")
      assert(!p.contains("Window"), s"$name sorts under a window:\n$p")
    }
  }

  test("t12 decontamination: benchmark side broadcast, corpus never shuffled for the join") {
    val p = plan(q("t12_decontamination"))
    assert(p.contains("BroadcastHashJoin"), s"benchmark join not broadcast:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"), p)
    // the only Exchange is the final per-doc count aggregation (+AQE reads)
    assert(p.linesIterator.count(l =>
      l.contains("Exchange hashpartitioning")) <= 2, s"extra shuffles:\n$p")
  }

  test("x32 reconcile: key-equi full outer join, bounded example aggregation, no cartesian") {
    val p = plan(q("x32_reconcile"))
    assert(p.contains("FullOuter"), s"diff join not full outer:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"), p)
    // examples come from the bounded bottomK ObjectHashAggregate, which
    // has a partial (map-side) phase — collect_list would too, but the
    // bounded buffer is what caps the per-partition state
    assert(p.contains("ObjectHashAggregate"), s"bounded example agg missing:\n$p")
  }

  test("x26 CDC merge: changeset keys broadcast for the anti join, snapshot never multiplied") {
    val p = plan(q("x26_cdc_merge"))
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftAnti"),
      s"anti join not broadcast:\n$p")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("x25 gap fill: bounds travel by broadcast, no cartesian blowup beyond the 1-row join") {
    val p = plan(q("x25_gap_fill"))
    assert(p.contains("BroadcastExchange"), s"bounds not broadcast:\n$p")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("t18 fuzzy decontamination: benchmark bands and sets broadcast, no cartesian") {
    // the distributed plan (explicit broadcast hints still apply with the
    // threshold off); sf0.001 is below the in-task size gate
    val p = TestSpark.distributed(plan(q("t18_decontamination_fuzzy")))
    assert(p.contains("BroadcastHashJoin"), s"benchmark side not broadcast:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"), p)
  }

  test("p2 shuffle-shard: window partitioned by shard, never a single global sort") {
    val p = plan(q("p2_shuffle_shard"))
    assert(p.contains("hashpartitioning(shard"), s"window not per-shard:\n$p")
    assert(!p.contains("SinglePartition") && !p.contains("rangepartitioning"),
      s"global sort/single partition in plan:\n$p")
  }

  test("t13 heavy hitters: sketch aggregation is partial (map-side combine)") {
    val p = plan(q("t13_heavy_hitters"))
    // typed Aggregator -> ObjectHashAggregate, partial + final
    assert(p.linesIterator.count(_.contains("ObjectHashAggregate")) == 2, p)
  }

  test("st4 band registry: one hash-agg shuffle keyed by band_key, no window, no join") {
    val p = plan(q("st4_minhash_band_registry"))
    assert(p.contains("hashpartitioning(band_key"), p)
    assert(!p.contains("Window") && !p.contains("Join"), s"unexpected operator:\n$p")
  }

  test("d8 substring dedup: fingerprint pair join is an equi-join, winnow is one native node") {
    val p = plan(q("d8_dedup_substring"))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"),
      s"d8 pair join is not an equi-join:\n$p")
    assert(p.contains("graft_winnow_fingerprints"), s"missing native winnow node:\n$p")
  }

  test("s5 SQ8: decode is one native node on the corpus side, queries broadcast") {
    val p = plan(q("s5_ann_sq8"))
    assert(p.contains("graft_sq_dequantize"), s"missing fused SQ8 decode:\n$p")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct"), s"SQ8 scoring degenerated to cartesian:\n$p")
  }

  test("t15 bloom decontamination: probe filters the corpus stream below the confirm join") {
    val p = plan(q("t15_decontamination_bloom"))
    val probeLine = p.linesIterator.indexWhere(_.contains("graft_bloom_might_contain"))
    assert(probeLine >= 0, s"missing bloom probe:\n$p")
    // the probe must sit in a Filter, not in the join output projection
    assert(p.linesIterator.toSeq(probeLine).contains("Filter"), s"probe not a filter:\n$p")
  }

  test("t14 model filter: shuffle-free single-pass projection") {
    val p = plan(q("t14_model_filter"))
    assert(!p.contains("Exchange"), s"t14 should not shuffle:\n$p")
  }

  test("p5 curriculum: threshold side broadcast, no global sort of the corpus") {
    val p = plan(q("p5_curriculum"))
    assert(p.contains("BroadcastNestedLoopJoin"), s"thresholds not broadcast:\n$p")
    // the only sort allowed is inside the percentile aggregate, not a SortExec over docs
    assert(!p.contains("Window"), s"curriculum must not window-sort the corpus:\n$p")
  }

  test("x20 skew join: shuffle join keyed by (orderkey, salt), never a broadcast") {
    val p = plan(q("x20_skew_join"))
    assert(p.contains("ShuffledHashJoin"), s"salt targets shuffle joins:\n$p")
    assert(!p.contains("BroadcastHashJoin"), s"a broadcast would make salting overhead:\n$p")
    assert(p.contains("__salt"), s"salt missing from the join keys:\n$p")
  }

  test("p7 source quota: bounded aggregator, no window sort of the corpus") {
    val p = plan(q("p7_source_quota"))
    assert(!p.contains("Window"), s"quota must ship <=q rows/group/partition, not sort:\n$p")
    // partial (ObjectHashAggregate) before the exchange — the bounded buffer merges
    assert(p.linesIterator.count(_.contains("ObjectHashAggregate")) >= 2, p)
  }

  test("d9 line dedup: claim join is an equi-join on the line hash, no cartesian") {
    val p = plan(q("d9_line_dedup"))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"), p)
    assert(p.contains("lk"), s"join not keyed on the line hash:\n$p")
  }

  test("m4 real resize: codec work fanned out by a pinned round-robin exchange, no join") {
    val p = plan(q("m4_resize"))
    // the explicit repartition must survive as a RoundRobinPartitioning
    // exchange BELOW the payload-generating map (AQE would coalesce a
    // no-arg one back to a single partition and single-thread the codec)
    assert(p.contains("RoundRobinPartitioning"), s"fan-out exchange missing:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("Join"), p)
  }

  test("m6 video decode: shuffle-free beyond the fan-out exchange") {
    val p = plan(q("m6_video_decode"))
    assert(p.contains("RoundRobinPartitioning"), s"fan-out exchange missing:\n$p")
    assert(!p.contains("Join") && !p.contains("HashAggregate"), p)
  }

  test("p12 upsampling mixture: shuffle-free projection (floor + explode, no exchange)") {
    val p = plan(q("p12_mixture_upsample"))
    assert(!p.contains("Exchange"), s"mixtureRepeat must not shuffle:\n$p")
    assert(p.contains("Generate"), s"explode missing:\n$p") // sequence explode
  }

  test("d11 incremental dedup: registry scans are bucketed (exchange-free side), no cartesian") {
    // at test scale AQE (correctly) broadcasts the tiny registry, hiding
    // the bucketing; disable broadcast to surface the 100 TB shape —
    // where the registry is far beyond broadcast size and the bucketed
    // scan is what keeps the accumulated-corpus side shuffle-free
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      // NOT the plan() helper: its initial-plan split would cut at the
      // nested AdaptiveSparkPlan inside the band-rows InMemoryRelation,
      // dropping the registry branch that comes after it in print order
      val df = q("d11_dedup_incremental_registry")
      df.collect()
      val p = df.queryExecution.executedPlan.toString()
      // every scan of the registry table must EXPLOIT its bucketing — a
      // "Bucketed: false" scan means Spark re-shuffles the accumulated
      // corpus side, the thing this operator exists to avoid at 100 TB
      assert(p.contains("Bucketed: true"), s"registry scan not bucketed:\n$p")
      assert(!p.contains("Bucketed: false"),
        s"a registry scan fell back to non-bucketed reading:\n$p")
      assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"), p)
    } finally {
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      spark.sql("DROP TABLE IF EXISTS graft_d11_registry")
    }
  }

  test("t22 html extract: shuffle-free single-pass projection") {
    val p = plan(q("t22_html_extract"))
    assert(!p.contains("Exchange"), s"t22 should not shuffle:\n$p")
  }

  test("t23 url features: blocklist broadcast, corpus never shuffled") {
    val p = plan(q("t23_url_features"))
    assert(p.contains("BroadcastHashJoin"), s"blocklist join must broadcast:\n$p")
    assert(!p.contains("Exchange hashpartitioning"),
      s"the corpus must not shuffle for a blocklist flag:\n$p")
  }

  test("m10 media sniff: ONE native sniff node per row, inside codegen") {
    val p = plan(q("m10_media_sniff"))
    // the two-step projection must leave exactly one evaluation site —
    // a 7-way getField split that re-parsed headers would show 7
    val evals = "graft_media_sniff".r.findAllIn(p).length
    assert(evals == 1, s"expected ONE sniff evaluation, got $evals:\n$p")
    assert(p.contains("*("), s"sniff fell out of whole-stage codegen:\n$p")
  }

  test("s7 PQ: reconstruction is one native node on the corpus side, queries broadcast") {
    val p = plan(q("s7_ann_pq"))
    assert(p.contains("graft_pq_reconstruct"), s"missing fused PQ reconstruct:\n$p")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct"), s"PQ scoring degenerated to cartesian:\n$p")
  }

  test("x33 SCD2: one exchange, sort only within the key partitioning") {
    val p = plan(q("x33_scd2_history"))
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(exchanges == 1, s"SCD2 build must be a single key shuffle, got $exchanges:\n$p")
    assert(!p.contains("Exchange rangepartitioning"),
      s"SCD2 must not globally sort:\n$p")
  }

  test("s9 index-at-rest: probe scan partition-pruned to the probed lists") {
    val p = plan(q("s9_ann_ivf_indexed"))
    val listScans = p.linesIterator.filter(l =>
      l.contains("PartitionFilters") && l.contains("list_id")).toSeq
    assert(listScans.nonEmpty, s"no partitioned list scan in plan:\n$p")
    assert(listScans.exists(l => !l.contains("PartitionFilters: []")),
      s"list scan reads ALL partitions (no pruning):\n${listScans.mkString("\n")}")
    CacheRegistry.unpersistAll()
  }

  test("s10 LSH index-at-rest: probe scan partition-pruned to the probed buckets") {
    val p = plan(q("s10_ann_lsh_indexed"))
    val bucketScans = p.linesIterator.filter(l =>
      l.contains("PartitionFilters") && l.contains("bucket")).toSeq
    assert(bucketScans.nonEmpty, s"no partitioned bucket scan in plan:\n$p")
    assert(bucketScans.exists(l => !l.contains("PartitionFilters: []")),
      s"bucket scan reads ALL partitions:\n${bucketScans.mkString("\n")}")
    CacheRegistry.unpersistAll()
  }

  test("s12 inverted index at rest: postings scan partition-pruned to the probed term buckets") {
    val p = plan(q("s12_bm25_indexed"))
    val postScans = p.linesIterator.filter(l =>
      l.contains("PartitionFilters") && l.contains("term_bucket")).toSeq
    assert(postScans.nonEmpty, s"no partitioned postings scan in plan:\n$p")
    assert(postScans.exists(l => !l.contains("PartitionFilters: []")),
      s"postings scan reads ALL partitions (no pruning):\n${postScans.mkString("\n")}")
    CacheRegistry.unpersistAll()
  }

  test("s11 bm25: query terms broadcast into the postings join, no cartesian") {
    val p = plan(q("s11_bm25_topk"))
    assert(p.contains("BroadcastHashJoin"), s"query-term join must broadcast:\n$p")
    assert(!p.contains("CartesianProduct"), p)
    CacheRegistry.unpersistAll()
  }

  test("s8 hard negatives: anchors broadcast, label filter in the join, no cartesian") {
    val p = plan(q("s8_hard_negatives"))
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      s"anchor side must broadcast:\n$p")
    assert(!p.contains("CartesianProduct"), s"degenerated to a cartesian:\n$p")
    CacheRegistry.unpersistAll()
  }

  test("t28 DSIR: log-ratio table broadcast into the scoring join, corpus never shuffled for it") {
    val p = plan(q("t28_dsir"))
    assert(p.contains("BroadcastHashJoin"), s"llr join must broadcast:\n$p")
    assert(!p.contains("CartesianProduct"), p)
    CacheRegistry.unpersistAll()
  }

  test("x34 PageRank: full iteration plan has no cartesian, hash-aggregated contributions") {
    // identity checkpointer so the whole 2-iteration plan is visible
    // (x34 itself checkpoints per iteration, which hides the shape)
    import spark.implicits._
    val edges = (1L to 40L).map(i => (i % 7, 100 + i % 11)).toDF("s", "t")
      .repartition(2)
    val df = graft.operators.PageRank.run(edges, "s", "t", iters = 2,
      checkpointer = identity)
    val p = plan(df)
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("HashAggregate"), p)
    CacheRegistry.unpersistAll()
  }

  test("x34 PageRank: checkpoint cadence is value-neutral (r14 edge-degree " +
      "fold keeps the contract)") {
    import spark.implicits._
    val edges = (1L to 40L).map(i => (i % 7, 100 + i % 11)).toDF("s", "t")
    def ranks(ce: Int): Map[Long, Double] = {
      val m = graft.operators.PageRank.run(edges, "s", "t", iters = 3,
          checkpointEvery = ce)
        .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
      CacheRegistry.unpersistAll()
      m
    }
    // the degree-annotated edge relation is iteration-invariant, so where
    // the lineage is cut cannot change a single rank
    assert(ranks(1) == ranks(2) && ranks(2) == ranks(3))
  }

  test("s11 BM25: query vocabulary filters postings BELOW the (doc, term) " +
      "aggregation — no full-dictionary shuffle (r14)") {
    val p = plan(q("s11_bm25_topk"))
    // the tokenizing Generate must feed a broadcast join against the query
    // vocabulary BEFORE any aggregation exchange: after the r14 rewrite the
    // only HashAggregate-Exchange-HashAggregate pair over corpus tokens is
    // the (doc, dl, term) tf build on the FILTERED explode, so the df agg
    // consumes the persisted filtered relation (InMemoryTableScan), never a
    // second corpus scan
    assert(p.contains("InMemoryTableScan"), s"filtered tf relation not persisted:\n$p")
    val parquetScans = p.linesIterator.count(_.contains("Scan parquet"))
    assert(parquetScans <= 3,
      s"corpus re-scanned: expected <= 3 parquet scans (tf build, query terms, stats), got $parquetScans:\n$p")
    CacheRegistry.unpersistAll()
  }

  test("t33 span decontamination: benchmark grams broadcast, corpus never degenerates") {
    val p = plan(q("t33_decontaminate_spans"))
    assert(p.contains("BroadcastHashJoin"), s"benchmark side not broadcast:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"), p)
    CacheRegistry.unpersistAll()
  }

  test("t34 stupid backoff: five count-table joins, no cartesian") {
    val p = plan(q("t34_stupid_backoff"))
    // the 1-row (N, V) stats relation rides a broadcast cross join by
    // design; what must never appear is an unbroadcast cartesian
    assert(!p.contains("CartesianProduct"), p)
    CacheRegistry.unpersistAll()
  }

  test("p17 weighted sample: bounded-buffer aggregation, Window-free") {
    val p = plan(q("p17_weighted_sample"))
    assert(!p.contains("Window"), s"A-ES selection fell back to a window sort:\n$p")
    assert(p.contains("ObjectHashAggregate"), s"bounded buffer not partial-agg:\n$p")
  }

  test("s13 random projection: shuffle-free scan-side fold") {
    val p = plan(q("s13_random_projection"))
    assert(!p.contains("Exchange"), s"projection must not shuffle:\n$p")
  }

  test("m15/m16 media statistics: only the pinned fan-out exchange, no joins") {
    for (name <- Seq("m15_channel_stats", "m16_energy_segments")) {
      val p = plan(q(name))
      assert(!p.contains("Join"), s"$name: unexpected join\n$p")
      // exactly the deliberate round-robin fan-out, nothing key-partitioned
      assert(!p.contains("hashpartitioning"), s"$name: unexpected keyed shuffle\n$p")
    }
  }

  test("x36 interval overlap: band equi-join, never a nested loop") {
    val p = plan(q("x36_interval_overlap"))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"), p)
  }

  test("t32 URL dedup: canonicalization rides the scan, one aggregation exchange") {
    val p = plan(q("t32_url_dedup"))
    assert(!p.contains("Join"), p)
    assert(p.contains("HashAggregate"), p)
  }
}
