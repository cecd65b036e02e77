package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.dedup.Dedup

/** Dedup operator specs: recall on planted near-duplicates, precision on
  * unrelated docs. */
class DedupSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  // 0/1: exact dups. 2/3: near-dups (one word changed). 4,5: unrelated.
  private val docs = Seq(
    (0L, "the quick brown fox jumps over the lazy dog near the old river bank today"),
    (1L, "the quick brown fox jumps over the lazy dog near the old river bank today"),
    (2L, "pack my box with five dozen liquor jugs before the long winter storm arrives"),
    (3L, "pack my box with five dozen liquor jugs before the cold winter storm arrives"),
    (4L, "sphinx of black quartz judge my vow while wizards jump quickly at dawn"),
    (5L, "completely different text about spark engines aggregating massive document corpora daily")
  ).toDF("doc_id", "text")

  test("exact dedup: duplicate content collapses to min id with count") {
    val out = Dedup.exact(docs, "doc_id", "text")
      .collect().map(r => (r.getLong(1), r.getLong(2))).toMap
    assert(out(0L) == 2L) // docs 0 and 1 share a hash, keep 0
    assert(out.size == 5)
  }

  test("minhashLsh finds exact and near dups, not unrelated docs") {
    TestSpark.onBothBranches {
      val pairs = Dedup.minhashLsh(docs, "doc_id", "text", threshold = 0.3)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(pairs.contains((0L, 1L)), "exact dup pair must be found")
      assert(pairs.contains((2L, 3L)), "near dup pair must be found")
      assert(!pairs.exists(p => p._1 == 5L || p._2 == 5L), "unrelated doc must not pair")
    }
  }

  test("minhash jaccard values: 1.0 for identical docs, high for near dups") {
    TestSpark.onBothBranches {
      val j = Dedup.minhashLsh(docs, "doc_id", "text", threshold = 0.3)
        .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
      assert(j((0L, 1L)) == 1.0)
      assert(j((2L, 3L)) > 0.5 && j((2L, 3L)) < 1.0)
    }
  }

  test("simhashPairs: identical docs at hamming 0; near dups within budget; unrelated out") {
    // fixture distances: (0,1)=0, (2,3)=6, every unrelated pair >= 11 —
    // budget 8 separates cleanly. With complete pigeonhole candidates the
    // exclusion is BY DISTANCE, not by blocking luck (the old
    // single-prefix-block scheme happened to hide some close pairs).
    val pairs = Dedup.simhashPairs(docs, "doc_id", "text", maxHamming = 8)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getInt(4))).toMap
    assert(pairs.get((0L, 1L)).contains(0), "identical docs must have hamming 0")
    assert(pairs((2L, 3L)) == 6)
    assert(pairs.keySet == Set((0L, 1L), (2L, 3L)))
  }

  test("ngramJaccardPairs with blocking") {
    val blocked = docs.withColumn("blk", lit(1))
    TestSpark.onBothBranches {
      val pairs = Dedup.ngramJaccardPairs(blocked, "doc_id", "text", Seq("blk"), 0.8)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(pairs.contains((0L, 1L)))
      assert(pairs.contains((2L, 3L)))
      assert(!pairs.contains((4L, 5L)))
    }
  }

  test("ngramJaccardPairs: NaN and -0.0 blocks match like SQL equi-join keys") {
    // Spark normalizes NaN and -0.0 in join keys: NaN blocks pair with
    // each other, -0.0 with 0.0; a null block never matches
    val text = "the quick brown fox jumps over the lazy dog"
    val blocked = Seq[(Long, java.lang.Double)](
      (0L, Double.NaN), (1L, Double.NaN), (2L, -0.0), (3L, 0.0), (4L, null), (5L, null))
      .toDF("doc_id", "blk").withColumn("text", lit(text))
    TestSpark.onBothBranches {
      val pairs = Dedup.ngramJaccardPairs(blocked, "doc_id", "text", Seq("blk"), 0.8)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(pairs == Set((0L, 1L), (2L, 3L)))
    }
  }

  test("embeddingCosinePairs finds the planted near-identical vector pair") {
    val vecs = Seq(
      (0L, 0, Array(1.0f, 0.0f, 0.0f)),
      (1L, 0, Array(0.99f, 0.01f, 0.0f)),
      (2L, 0, Array(0.0f, 1.0f, 0.0f)),
      (3L, 1, Array(1.0f, 0.0f, 0.0f)) // same vec, different block: must not pair
    ).toDF("vec_id", "label", "embedding")
    val pairs = Dedup.embeddingCosinePairs(vecs, "vec_id", "embedding", Seq("label"), 0.95)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((0L, 1L)))
  }

  test("zero-norm vectors: cosine is undefined, excluded, and never a DIVIDE_BY_ZERO") {
    // ANSI mode (Spark 4 default) THROWS on a plain x/0.0 — a single
    // all-zero embedding used to kill both cosine faces mid-job
    // (DedupProps found it); the guarded cosineOf yields NaN, which the
    // !isnan filter excludes like any undefined similarity
    val vecs = Seq(
      (0L, 0, Array(1.0f, 0.0f)),
      (1L, 0, Array(0.995f, 0.1f)),
      (2L, 0, Array(0.0f, 0.0f)), // zero-norm: pairs with it are undefined
      (3L, 0, Array(0.0f, 0.0f))
    ).toDF("vec_id", "label", "embedding")
    val cos = Dedup.embeddingCosinePairs(vecs, "vec_id", "embedding", Seq("label"), 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(cos == Set((0L, 1L)))
    // threshold <= 0 would admit ANY defined cosine — zero-norm pairs
    // must still be absent, not surface as 0.0 or NaN
    val lsh = Dedup.embeddingLshPairs(vecs, "vec_id", "embedding",
      bands = 4, rowsPerBand = 4, dims = 2, threshold = -1.0)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(!lsh.exists(p => p._1 >= 2L || p._2 >= 2L),
      s"zero-norm ids must never pair: $lsh")
  }

  test("embeddingLshPairsAuto: width = ceil(log2 n) + margin, identical to the manual face at that width") {
    // 40 vectors: ceil(log2 40) = 6, margin 2 -> rowsPerBand 8
    val rng = new scala.util.Random(7)
    val base = (0L until 38L).map { i =>
      (i, Array.fill(16)(rng.nextFloat() * 2f - 1f))
    }
    // one planted near-dup pair (scaled copy: identical hyperplane signs)
    val vecs = (base :+ (100L, base(3)._2.map(_ * 2f)) :+ (101L, base(5)._2.map(_ * 2f)))
      .toDF("vec_id", "embedding")
    val auto = Dedup.embeddingLshPairsAuto(vecs, "vec_id", "embedding",
      bands = 8, dims = 16, threshold = 0.95)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val manual = Dedup.embeddingLshPairs(vecs, "vec_id", "embedding",
      bands = 8, rowsPerBand = 8, dims = 16, threshold = 0.95)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(auto == manual, s"auto ($auto) must equal manual at the derived width ($manual)")
    // scaled copies collide in every band (sign-identical) and verify at
    // cosine exactly 1 — the law must not cost the planted recall
    assert(auto.contains((3L, 100L)) && auto.contains((5L, 101L)), auto.toString)
  }

  test("semanticDedupPairs: near-dups pair within their quantizer cluster, no blocking key needed") {
    // ids 0,1 seed two orthogonal clusters (nlist=2 -> they ARE the
    // centroids); 2,3 are near-dups of cluster 0; 4 is a near-dup of
    // cluster 1; 5 sits in cluster 0 but far from everything
    val vecs = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f, 0.0f)),
      (1L, Array(0.0f, 1.0f, 0.0f, 0.0f)),
      (2L, Array(0.99f, 0.01f, 0.0f, 0.0f)),
      (3L, Array(0.99f, 0.0f, 0.01f, 0.0f)),
      (4L, Array(0.0f, 0.99f, 0.01f, 0.0f)),
      (5L, Array(0.7f, 0.0f, 0.71f, 0.0f))
    ).toDF("vec_id", "embedding")
    val pairs = Dedup.semanticDedupPairs(vecs, "vec_id", "embedding", nlist = 2, threshold = 0.95)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // within-cluster near-dups found; 5 pairs with nothing; no cross-cluster pair
    assert(pairs == Set((0L, 2L), (0L, 3L), (2L, 3L), (1L, 4L)))

    // the QUALITY path: k-means-trained centroids through the pre-trained
    // overload. Lloyd from smallest-id init converges to the two true
    // cluster centers here, so the same near-dup pairs surface — and the
    // plan shape (shuffle-free assignment + within-cluster join) is
    // identical by construction.
    val (cids, cvecs) = graft.similarity.Similarity.kmeansCentroids(
      vecs, "vec_id", "embedding", nlist = 2, iters = 3)
    val kmPairs = Dedup.semanticDedupPairs(
      vecs, "vec_id", "embedding", cids, cvecs, threshold = 0.95)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(kmPairs == Set((0L, 2L), (0L, 3L), (2L, 3L), (1L, 4L)))

    // the SCALED face: 6 rows / targetClusterSize 3 -> nlist 2, so the
    // auto derivation must reproduce the fixed-nlist result exactly
    val autoPairs = Dedup.semanticDedupPairsAuto(
      vecs, "vec_id", "embedding", targetClusterSize = 3, threshold = 0.95)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(autoPairs == pairs)
    // ceil semantics: target larger than the corpus -> one cluster (all
    // pairs scored), never zero centroids
    val onePairs = Dedup.semanticDedupPairsAuto(
      vecs, "vec_id", "embedding", targetClusterSize = 100, threshold = 0.95)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val oneCluster = Dedup.semanticDedupPairs(
      vecs, "vec_id", "embedding", nlist = 1, threshold = 0.95)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(onePairs == oneCluster)
  }

  test("incremental registry: increments accumulate to the full-corpus batch registry") {
    // corpus = docs 0-3; two successive increments with higher ids. After
    // both appends, the registry table must equal the batch registry over
    // everything — the full-rerun equivalence (ids follow arrival order).
    val corpus = docs.where($"doc_id" <= 3)
    val inc1 = docs.where($"doc_id" === 4L) // fresh content
    val inc2 = Seq(
      (6L, "the quick brown fox jumps over the lazy dog near the old river bank today"),
      (7L, "entirely novel sentence mentioning submarines and accordions in equal measure today")
    ).toDF("doc_id", "text")
    try {
      Dedup.buildBandRegistry(corpus, "doc_id", "text", "graft_test_reg", buckets = 4)
      Dedup.dedupAgainstRegistry(inc1, "doc_id", "text", "graft_test_reg", buckets = 4).collect()
      val out2 = Dedup.dedupAgainstRegistry(inc2, "doc_id", "text", "graft_test_reg", buckets = 4)
        .collect().map(r => r.getLong(0) ->
          ((if (r.isNullAt(1)) -1L else r.getLong(1)), r.getLong(2))).toMap
      // doc 6 is a verbatim copy of corpus doc 0 -> every band claimed by 0
      assert(out2(6L)._1 == 0L && out2(6L)._2 > 0L, s"copy not flagged: ${out2(6L)}")
      // doc 7 is fresh -> kept
      assert(out2(7L) == ((-1L, 0L)), s"fresh doc flagged: ${out2(7L)}")

      val accumulated = spark.table("graft_test_reg")
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      Dedup.buildBandRegistry(docs.where($"doc_id" <= 4).unionAll(inc2), "doc_id", "text",
        "graft_test_reg_full", buckets = 4)
      val full = spark.table("graft_test_reg_full")
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(accumulated == full,
        s"incremental registry diverged from batch rerun: ${accumulated.size} vs ${full.size}")
    } finally {
      spark.sql("DROP TABLE IF EXISTS graft_test_reg")
      spark.sql("DROP TABLE IF EXISTS graft_test_reg_full")
    }
  }

  test("incremental registry: claims match the streaming batch face; re-run is idempotent") {
    try {
      Dedup.buildBandRegistry(docs, "doc_id", "text", "graft_test_reg2", buckets = 4)
      val agg = spark.table("graft_test_reg2")
        .collect().map(r => r.getString(0) -> r.getLong(1)).toSet
      // same family, same claims as the streaming operator's batch face
      val hof = graft.streaming.Streaming.minhashBandRegistry(
        docs, "doc_id", "text", shingleN = 3, k = 12, bands = 4, rows = 3)
        .collect().map(r => r.getString(0) -> r.getLong(1)).toSet
      assert(agg == hof, "aggregate claims != HOF batch-face claims")

      // idempotence: same increment twice -> same decisions, no new claims
      val inc = Seq((9L, "pack my box with five dozen liquor jugs before the long winter storm arrives"))
        .toDF("doc_id", "text")
      def run() = Dedup.dedupAgainstRegistry(inc, "doc_id", "text",
        "graft_test_reg2", buckets = 4)
        .collect().map(r => (r.getLong(0), r.isNullAt(1), r.getLong(2))).toSet
      val first = run()
      val sizeAfterFirst = spark.table("graft_test_reg2").count()
      assert(run() == first)
      assert(spark.table("graft_test_reg2").count() == sizeAfterFirst,
        "second identical increment must append nothing")
      // doc 9 is a verbatim copy of doc 2 -> flagged against it
      assert(first.head == ((9L, false, first.head._3)) && first.head._3 > 0)
    } finally spark.sql("DROP TABLE IF EXISTS graft_test_reg2")
  }

  test("incremental EXACT registry: verbatim flagged, near-copy fresh, accumulation == batch") {
    val corpus = docs.where($"doc_id" <= 3)
    val inc = Seq(
      (10L, "the quick brown fox jumps over the lazy dog near the old river bank today"), // verbatim of 0
      (11L, "the quick brown fox jumps over the lazy dog near the old river bank NOW")) // near-copy: fresh to EXACT dedup
      .toDF("doc_id", "text")
    try {
      Dedup.buildExactRegistry(corpus, "doc_id", "text", "graft_test_xreg", buckets = 4)
      val out = Dedup.exactDedupAgainstRegistry(inc, "doc_id", "text",
        "graft_test_xreg", buckets = 4)
        .collect().map(r => r.getLong(0) ->
          ((if (r.isNullAt(1)) -1L else r.getLong(1)), r.getLong(2))).toMap
      assert(out(10L) == ((0L, 1L)), s"verbatim copy not flagged: ${out(10L)}")
      assert(out(11L) == ((-1L, 0L)), s"near-copy wrongly flagged by EXACT dedup: ${out(11L)}")
      val acc = spark.table("graft_test_xreg")
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      Dedup.buildExactRegistry(corpus.unionAll(inc), "doc_id", "text",
        "graft_test_xreg_full", buckets = 4)
      val full = spark.table("graft_test_xreg_full")
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(acc == full, "incremental exact registry diverged from batch rerun")
    } finally {
      spark.sql("DROP TABLE IF EXISTS graft_test_xreg")
      spark.sql("DROP TABLE IF EXISTS graft_test_xreg_full")
    }
  }

  test("compactRegistry: N-increment file fan-out collapses to one file per bucket, claims identical") {
    val corpus = docs.where($"doc_id" <= 3)
    try {
      Dedup.buildExactRegistry(corpus, "doc_id", "text", "graft_test_creg", buckets = 2)
      // three appends -> each bucket accumulates extra files
      for (i <- 0 until 3) {
        val inc = Seq((20L + i, s"fresh increment number $i with its own unique content"))
          .toDF("doc_id", "text")
        Dedup.exactDedupAgainstRegistry(inc, "doc_id", "text",
          "graft_test_creg", buckets = 2).collect()
      }
      def files(t: String): Int = {
        val loc = new java.io.File(new java.net.URI(
          spark.sessionState.catalog.getTableMetadata(
            spark.sessionState.sqlParser.parseTableIdentifier(t)).location.toString))
        loc.listFiles().count(f => f.getName.endsWith(".parquet"))
      }
      val before = spark.table("graft_test_creg")
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      val filesBefore = files("graft_test_creg")
      assert(filesBefore > 2, s"appends should fan out files, got $filesBefore")
      Dedup.compactRegistry(spark, "graft_test_creg", buckets = 2)
      val after = spark.table("graft_test_creg")
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(after == before, "compaction changed the claims")
      assert(files("graft_test_creg") <= 2,
        s"compaction should leave <= 1 file per bucket, got ${files("graft_test_creg")}")
      // registry still serves increments (bucket metadata survived the rename)
      val out = Dedup.exactDedupAgainstRegistry(
        Seq((30L, "fresh increment number 0 with its own unique content"))
          .toDF("doc_id", "text"),
        "doc_id", "text", "graft_test_creg", buckets = 2)
        .collect().head
      assert(out.getLong(1) == 20L, s"post-compact registry lost a claim: $out")
    } finally {
      spark.sql("DROP TABLE IF EXISTS graft_test_creg")
      spark.sql("DROP TABLE IF EXISTS graft_test_creg__compact")
    }
  }

  test("writeBucketed: file count stays <= buckets when shuffle partitions are misaligned") {
    // buckets = 4, shuffle partitions = 3: 4 % 3 != 0, so without the
    // conditional repartition each of the 3 aggregate tasks writes a file
    // for every bucket it holds rows of (up to 12 files); the r15 peek
    // must detect the misalignment and add the exchange so each bucket
    // lands whole inside one task (<= 4 files, one per non-empty bucket).
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    try {
      spark.conf.set("spark.sql.shuffle.partitions", "3")
      Dedup.buildExactRegistry(docs, "doc_id", "text", "graft_test_freg", buckets = 4)
      def files(t: String): Int = {
        val loc = new java.io.File(new java.net.URI(
          spark.sessionState.catalog.getTableMetadata(
            spark.sessionState.sqlParser.parseTableIdentifier(t)).location.toString))
        loc.listFiles().count(f => f.getName.endsWith(".parquet"))
      }
      val misaligned = spark.table("graft_test_freg")
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(files("graft_test_freg") <= 4,
        s"misaligned write fanned out: ${files("graft_test_freg")} files for 4 buckets")
      // aligned build (partitions divide buckets) produces the same claims
      spark.conf.set("spark.sql.shuffle.partitions", "2")
      Dedup.buildExactRegistry(docs, "doc_id", "text", "graft_test_freg2", buckets = 4)
      val aligned = spark.table("graft_test_freg2")
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(files("graft_test_freg2") <= 4)
      assert(misaligned == aligned, "claims depend on shuffle-partition count")
    } finally {
      spark.conf.set("spark.sql.shuffle.partitions", prev)
      spark.sql("DROP TABLE IF EXISTS graft_test_freg")
      spark.sql("DROP TABLE IF EXISTS graft_test_freg2")
    }
  }

  test("registries: empty corpus and empty increments are well-defined") {
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType)))
    val empty = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    try {
      // empty corpus -> empty registry table with the right schema
      Dedup.buildExactRegistry(empty, "doc_id", "text", "graft_test_ereg", buckets = 2)
      assert(spark.table("graft_test_ereg").count() == 0)
      // a first increment against the empty registry claims everything
      val out = Dedup.exactDedupAgainstRegistry(
        docs.where($"doc_id" <= 1), "doc_id", "text", "graft_test_ereg", buckets = 2)
        .collect().map(r => r.getLong(0) ->
          ((if (r.isNullAt(1)) -1L else r.getLong(1)), r.getLong(2))).toMap
      assert(out(0L) == ((-1L, 0L))) // doc 0 claims the shared hash
      assert(out(1L) == ((0L, 1L))) // its twin is a dup of it
      // an empty increment is a no-op with an empty decision frame
      val emptyOut = Dedup.exactDedupAgainstRegistry(
        empty, "doc_id", "text", "graft_test_ereg", buckets = 2)
      assert(emptyOut.count() == 0)
      // same for the minhash face: empty corpus registry, empty increment
      Dedup.buildBandRegistry(empty, "doc_id", "text", "graft_test_ereg2", buckets = 2)
      assert(spark.table("graft_test_ereg2").count() == 0)
      assert(Dedup.dedupAgainstRegistry(empty, "doc_id", "text",
        "graft_test_ereg2", buckets = 2).count() == 0)
    } finally {
      spark.sql("DROP TABLE IF EXISTS graft_test_ereg")
      spark.sql("DROP TABLE IF EXISTS graft_test_ereg2")
    }
  }

  test("substringDupPairs: winnowing guarantee — any shared span >= kgram+window-1 is found") {
    // kgram=20, window=8: guarantee threshold 27 chars
    val shared = "the quick brown fox jumps over the lazy dog tonight" // 51 chars
    val docs = Seq(
      (1L, s"AAA $shared AAA padding padding padding"),
      (2L, s"completely different prefix $shared suffix here"),
      (3L, "no overlap with anything else at all, not one bit of it, nothing shared here")
    ).toDF("doc_id", "text")
    val out = Dedup.substringDupPairs(docs, "doc_id", "text", kgram = 20, window = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(out.keySet == Set((1L, 2L)))
    assert(out((1L, 2L)) >= 1L) // at least one fingerprint from the shared span
    // determinism: same input, same counts
    val again = Dedup.substringDupPairs(docs, "doc_id", "text", kgram = 20, window = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(out == again)
  }

  test("lineDedup: repeated lines stripped from later docs, first doc keeps them, order preserved") {
    val pages = Seq(
      (1L, "alpha\nbeta\ngamma"),
      (2L, "beta\ndelta"),   // beta first appeared in page 1
      (3L, "gamma\nalpha"))  // fully duplicated page — must disappear
      .toDF("page_id", "text")
    val out = Dedup.lineDedup(pages, "page_id", "text")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    assert(out(1L) == ((3L, 3L, "alpha\nbeta\ngamma")))
    assert(out(2L) == ((2L, 1L, "delta")))
    assert(!out.contains(3L), "a page whose every line is claimed earlier disappears")
  }

  test("lineDedup: a line repeated INSIDE one document keeps only its first position") {
    val pages = Seq((5L, "x\ny\nx\nz")).toDF("page_id", "text")
    val out = Dedup.lineDedup(pages, "page_id", "text").collect()
    assert(out.length == 1)
    assert((out(0).getLong(1), out(0).getLong(2), out(0).getString(3)) == ((4L, 3L, "x\ny\nz")))
  }

  test("lineDedup is partition-invariant (first claim is by (id, pos), not arrival order)") {
    val pages = (0L to 40L).map(i => (i, s"common header\nbody $i\ncommon footer"))
      .toDF("page_id", "text")
    val a = Dedup.lineDedup(pages, "page_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(2), r.getString(3))).toSet
    val b = Dedup.lineDedup(pages.repartition(7), "page_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(2), r.getString(3))).toSet
    assert(a == b)
    // only page 0 keeps the boilerplate lines
    assert(a.contains((0L, 3L, "common header\nbody 0\ncommon footer")))
    assert(a.contains((1L, 1L, "body 1")))
  }

  test("sentenceDedup: repeated sentences stripped from later docs, reassembly space-joined") {
    val pages = Seq(
      (1L, "All rights reserved. Alpha body text here! Questions remain?"),
      (2L, "Beta content is new. All rights reserved."), // boilerplate seen on page 1
      (3L, "All rights reserved. Questions remain?"))    // fully duplicated page
      .toDF("page_id", "text")
    val out = Dedup.sentenceDedup(pages, "page_id", "text")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    assert(out(1L) == ((3L, 3L,
      "All rights reserved. Alpha body text here! Questions remain?")))
    assert(out(2L) == ((2L, 1L, "Beta content is new.")))
    assert(!out.contains(3L), "a page whose every sentence is claimed earlier disappears")
  }

  test("sentenceDedup: perDoc scopes the claim; within-doc repeats collapse, cross-doc survive") {
    val pages = Seq(
      (1L, "Buy now. Real content one. Buy now."),
      (2L, "Buy now. Real content two."))
      .toDF("page_id", "text")
    val out = Dedup.sentenceDedup(pages, "page_id", "text", perDoc = true)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    // page 1 loses only its SECOND "Buy now."; page 2 keeps its own copy
    assert(out(1L) == ((3L, 2L, "Buy now. Real content one.")))
    assert(out(2L) == ((2L, 2L, "Buy now. Real content two.")))
  }

  test("sentenceDedup is partition-invariant and matches the segmentation contract") {
    val pages = (0L to 40L).map(i =>
      (i, s"Common header sentence. Body number $i! Common footer sentence?"))
      .toDF("page_id", "text")
    val a = Dedup.sentenceDedup(pages, "page_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(2), r.getString(3))).toSet
    val b = Dedup.sentenceDedup(pages.repartition(7), "page_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(2), r.getString(3))).toSet
    assert(a == b)
    assert(a.contains((0L,
      3L, "Common header sentence. Body number 0! Common footer sentence?")))
    assert(a.contains((1L, 1L, "Body number 1!")))
  }

  test("paragraphNearDedup: fuzzy boilerplate removed first-occurrence-wins, short paras survive") {
    import spark.implicits._
    // one-word edit at the tail: 17 of 19 shingles shared (jaccard ~0.89,
    // band-collision probability ~1 - (1 - 0.89^3)^4 ≈ 0.997) — a
    // borderline 0.5-jaccard pair is DETERMINISTICALLY hit-or-miss under
    // the fixed band family and makes a flaky-looking (but reproducible)
    // fixture
    val boiler = "subscribe to our newsletter today for all the latest updates " +
      "special offers and exclusive member only content delivered every week"
    val boilerEdit = "subscribe to our newsletter today for all the latest updates " +
      "special offers and exclusive member only content delivered every month"
    val bodyA = "alpha bravo charlie delta echo foxtrot golf hotel india juliet"
    val bodyB = "kilo lima mike november oscar papa quebec romeo sierra tango"
    val pages = Seq(
      (1L, Seq(boiler, bodyA).mkString("\n\n")),
      (2L, Seq(boilerEdit, bodyB, "hi there").mkString("\n\n")), // edited boilerplate + short para
      (3L, Seq(boiler).mkString("\n\n"))                        // exact copy only: page vanishes
    ).toDF("page_id", "text")
    val out = Dedup.paragraphNearDedup(pages, "page_id", "text")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    // page 1 keeps everything (first occurrence)
    assert(out(1L) == ((2L, 2L, Seq(boiler, bodyA).mkString("\n\n"))))
    // page 2: edited boilerplate near-matches page 1's and is removed;
    // the 2-word paragraph cannot shingle and survives
    assert(out(2L) == ((3L, 2L, Seq(bodyB, "hi there").mkString("\n\n"))))
    // page 3 lost its only paragraph: no row
    assert(!out.contains(3L))
  }

  test("paragraphNearDedup: within-doc dup collapses; chain over-removal is the documented rule") {
    import spark.implicits._
    val p = "one two three four five six seven eight nine ten"
    // within a single page, a repeated paragraph loses its second copy
    val within = Seq((1L, Seq(p, "filler words beyond the pair", p).mkString("\n\n")))
      .toDF("page_id", "text")
    val w = Dedup.paragraphNearDedup(within, "page_id", "text").collect().head
    assert(w.getLong(1) == 3L && w.getLong(2) == 2L)
    assert(w.getString(3) == Seq(p, "filler words beyond the pair").mkString("\n\n"))
    // chain A ~ B ~ C with A,C dissimilar: B and C BOTH removed (pairwise
    // first-occurrence rule, not cluster-canonical)
    val a = "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10 w11 w12"
    val b = "w3 w4 w5 w6 w7 w8 w9 w10 w11 w12 w13 w14"
    val c = "w5 w6 w7 w8 w9 w10 w11 w12 w13 w14 w15 w16"
    val chain = Seq((1L, a), (2L, b), (3L, c)).toDF("page_id", "text")
    val got = Dedup.paragraphNearDedup(chain, "page_id", "text")
      .collect().map(_.getLong(0)).toSet
    // sanity of the fixture: A~B and B~C are near (>= 0.5), A~C is not
    def jac(x: String, y: String): Double = {
      def sh(s: String) = s.split(" ").sliding(3).map(_.mkString(" ")).toSet
      sh(x).intersect(sh(y)).size.toDouble / sh(x).union(sh(y)).size
    }
    assert(jac(a, b) >= 0.5 && jac(b, c) >= 0.5 && jac(a, c) < 0.5)
    assert(got == Set(1L), s"expected only page 1 to survive, got $got")
  }

  test("keepBestPerCluster: highest quality wins, ties to smaller id, singletons absent") {
    val docs = Seq(
      (1L, 10L), (2L, 30L), (3L, 30L),  // cluster {1,2,3}: q-tie 2 vs 3 -> 2
      (7L, 5L), (8L, 9L),               // cluster {7,8}: 8 wins outright
      (9L, 99L)                         // singleton: no pair, not emitted
    ).toDF("doc_id", "q")
    val pairs = Seq((1L, 2L), (2L, 3L), (7L, 8L)).toDF("id_a", "id_b")
    val out = Dedup.keepBestPerCluster(docs, "doc_id", "q", pairs)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(out == Map(1L -> ((2L, 3L)), 7L -> ((8L, 2L))))
  }
}
