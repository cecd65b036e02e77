package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.similarity.Similarity

class SimilaritySpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private val vecs = Seq(
    (0L, Array(1.0f, 0.0f, 0.0f, 0.0f)),
    (1L, Array(0.9f, 0.1f, 0.0f, 0.0f)),
    (2L, Array(0.0f, 1.0f, 0.0f, 0.0f)),
    (3L, Array(0.0f, 0.0f, 1.0f, 0.0f)),
    (4L, Array(1.0f, 0.05f, 0.0f, 0.0f))
  ).toDF("vec_id", "embedding")

  test("cosine: identical=1, orthogonal=0") {
    val out = vecs.as("a").join(vecs.as("b"))
      .select(col("a.vec_id"), col("b.vec_id"),
        Similarity.cosine(col("a.embedding"), col("b.embedding")).as("c"))
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    assert(math.abs(out((0L, 0L)) - 1.0) < 1e-12)
    assert(math.abs(out((0L, 2L))) < 1e-12)
  }

  test("bruteForceTopK: nearest neighbor of vec 0 is vec 4, then 1; self excluded") {
    val queries = vecs.where(col("vec_id") === 0)
    val out = Similarity.bruteForceTopK(vecs, queries, "vec_id", "embedding", k = 2)
      .orderBy("rank").collect()
    assert(out.map(_.getLong(1)).toSeq == Seq(4L, 1L))
    assert(out.forall(_.getLong(0) == 0L))
  }

  test("hyperplane buckets: identical vectors share a bucket; weights are ±1") {
    val w = Similarity.hyperplaneWeights(8, 4)
    assert(w.flatten.forall(x => x == 1.0 || x == -1.0))
    val dupes = Seq((0L, Array(0.5f, -0.2f, 0.9f, 0.1f)), (1L, Array(0.5f, -0.2f, 0.9f, 0.1f)))
      .toDF("vec_id", "embedding")
    val buckets = Similarity.withHyperplaneBuckets(dupes, "embedding", 8, 4)
      .select("bucket").collect().map(_.getLong(0)).toSet
    assert(buckets.size == 1)
  }

  test("ivfTopK: with nprobe=nlist the result equals brute force") {
    val queries = vecs.where(col("vec_id") === 0)
    val brute = Similarity.bruteForceTopK(vecs, queries, "vec_id", "embedding", 3)
      .orderBy("rank").collect().map(r => (r.getLong(1), r.getDouble(2))).toSeq
    val ivf = Similarity.ivfTopK(vecs, queries, "vec_id", "embedding",
      k = 3, nlist = 2, nprobe = 2)
      .orderBy("rank").collect().map(r => (r.getLong(1), r.getDouble(2))).toSeq
    assert(ivf == brute)
  }

  test("ivfTopK: nprobe<nlist returns a subset of brute-force candidates with exact cosines") {
    val queries = vecs.where(col("vec_id") === 0)
    val brute = Similarity.bruteForceTopK(vecs, queries, "vec_id", "embedding", 4)
      .collect().map(r => r.getLong(1) -> r.getDouble(2)).toMap
    val ivf = Similarity.ivfTopK(vecs, queries, "vec_id", "embedding",
      k = 4, nlist = 4, nprobe = 1).collect()
    assert(ivf.nonEmpty)
    ivf.foreach(r => assert(math.abs(r.getDouble(2) - brute(r.getLong(1))) < 1e-12))
  }

  test("IVF at rest: corpus written partitioned by list prunes partitions per probe") {
    // the 100 TB layout claim made concrete: assign lists, write
    // partitioned by list_id, read back with a probe filter — the scan
    // must show PartitionFilters, i.e. a probe touches nprobe/nlist files
    val dir = TestSpark.tempDir("graft_ivf")
    val assigned = Similarity.withHyperplaneBuckets(vecs, "embedding", 2, 4)
      .withColumnRenamed("bucket", "list_id")
    assigned.write.mode("overwrite").partitionBy("list_id").parquet(dir)
    val probedList = assigned.select("list_id").head.getLong(0)
    val probed = spark.read.parquet(dir).where(col("list_id") === probedList)
    val plan = probed.queryExecution.executedPlan.toString()
    assert(plan.contains("PartitionFilters") && plan.contains("list_id"),
      s"probe read did not prune partitions:\n$plan")
  }

  test("NearestCentroids expression: (cos desc, cid desc) order, ties to larger cid, dim mismatch null") {
    import graft.functions.VectorFunctions
    // centroids 10 and 11 are IDENTICAL vectors: the tie must resolve to
    // the larger cid (array_max-over-struct semantics the oracle mirrors)
    val cids = Array(10L, 11L, 12L)
    val cvecs = Array(
      Array(1.0, 0.0, 0.0, 0.0),
      Array(1.0, 0.0, 0.0, 0.0),
      Array(0.0, 1.0, 0.0, 0.0))
    val out = vecs
      .select(col("vec_id"),
        VectorFunctions.nearestCentroids(col("embedding"), cids, cvecs, 3).as("near"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toSeq).toMap
    assert(out(0L) == Seq(11L, 10L, 12L)) // x-axis: tie 10/11 -> 11 first
    assert(out(2L).head == 12L)           // y-axis: centroid 12 wins
    // dim mismatch -> null, never a truncated score
    val bad = Seq((0L, Array(1.0f, 0.0f))).toDF("vec_id", "embedding")
      .select(VectorFunctions.nearestCentroids(col("embedding"), cids, cvecs, 1).as("near"))
      .collect()
    assert(bad.head.isNullAt(0))
  }

  test("kmeansCentroids: Lloyd converges to cluster means; IVF on them reaches exact recall") {
    // 3 well-separated clusters, one seed id in each (ids 0,1,2) so the
    // smallest-id init starts with one centroid per cluster; Lloyd must
    // then converge to the exact cluster means
    def jitter(base: Array[Float], eps: Float, i: Int): Array[Float] =
      base.zipWithIndex.map { case (x, d) => if (d == i % 4) x + eps else x }
    val a = Array(10.0f, 0.0f, 0.0f, 0.0f)
    val b = Array(0.0f, 10.0f, 0.0f, 0.0f)
    val c = Array(0.0f, 0.0f, 10.0f, 0.0f)
    val pts = Seq(
      0L -> a, 1L -> b, 2L -> c,
      3L -> jitter(a, 0.2f, 1), 4L -> jitter(a, -0.2f, 2),
      5L -> jitter(b, 0.2f, 2), 6L -> jitter(b, -0.2f, 3),
      7L -> jitter(c, 0.2f, 3), 8L -> jitter(c, -0.2f, 1))
    val df = pts.toDF("vec_id", "embedding")
    val (cidsK, cvecsK) = Similarity.kmeansCentroids(df, "vec_id", "embedding", nlist = 3, iters = 5)
    assert(cidsK.toSeq == Seq(0L, 1L, 2L))
    def mean(ids: Seq[Long]): Array[Double] = {
      val vs = pts.filter(p => ids.contains(p._1)).map(_._2.map(_.toDouble))
      Array.tabulate(4)(d => vs.map(_(d)).sum / vs.length)
    }
    val expected = Seq(mean(Seq(0L, 3L, 4L)), mean(Seq(1L, 5L, 6L)), mean(Seq(2L, 7L, 8L)))
    // centroid i stays on cluster i (init was one per cluster)
    expected.zip(cvecsK).foreach { case (e, got) =>
      e.zip(got).foreach { case (x, y) => assert(math.abs(x - y) < 1e-9) }
    }
    // with trained centroids and nprobe=1, IVF matches brute force: every
    // point's true neighbors live in its own (now correctly centered) list
    val brute = Similarity.bruteForceTopK(df, df, "vec_id", "embedding", k = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(3))).toSet
    val ivfK = Similarity.ivfTopKKmeans(df, df, "vec_id", "embedding",
      k = 2, nlist = 3, nprobe = 1, iters = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(3))).toSet
    assert(ivfK == brute)
  }

  test("lshTopK returns only same-bucket neighbors, ranked by cosine") {
    val queries = vecs.where(col("vec_id") === 0)
    val brute = Similarity.bruteForceTopK(vecs, queries, "vec_id", "embedding", 4)
      .collect().map(r => r.getLong(1) -> r.getDouble(2)).toMap
    val lsh = Similarity.lshTopK(vecs, queries, "vec_id", "embedding", 4, planes = 4, dims = 4)
      .collect()
    // approximate: every returned neighbor must carry its exact cosine
    lsh.foreach(r => assert(math.abs(r.getDouble(2) - brute(r.getLong(1))) < 1e-12))
  }

  test("sqTrain: per-dimension min/max codebook; constant dim allowed") {
    val (mn, mx) = Similarity.sqTrain(vecs, "embedding", dims = 4)
    assert(mn.toSeq == Seq(0.0, 0.0, 0.0, 0.0))
    assert(mx(0) == 1.0 && mx(3) == 0.0) // dim 3 is constant-zero
  }

  test("sq8TopK: quantization error within half a step; ranking matches brute force here") {
    // max reconstruction error per dim is (mx-mn)/255/2; with ranges <= 1.0
    // every decoded cosine sits within ~2e-3 of the exact one, and on this
    // well-separated fixture the neighbor ORDER is unchanged
    val queries = vecs.where(col("vec_id") === 0)
    val exact = Similarity.bruteForceTopK(vecs, queries, "vec_id", "embedding", 4).collect()
    val sq = Similarity.sq8TopK(vecs, queries, "vec_id", "embedding", 4, dims = 4).collect()
    assert(sq.map(_.getLong(1)).toSeq == exact.map(_.getLong(1)).toSeq)
    exact.zip(sq).foreach { case (e, s) =>
      assert(math.abs(e.getDouble(2) - s.getDouble(2)) < 5e-3)
    }
    // constant dimension decodes to its min exactly: no NaN from the 0/0 guard
    assert(sq.forall(r => !r.getDouble(2).isNaN))
  }

  test("SqDequantize: out-of-codebook values saturate to the endpoint byte, in-range roundtrip") {
    import org.apache.spark.sql.functions.col
    // codebook [0, 1] per dim; vector 2.0 is outside → code clamps to 255 → decodes to 1.0
    val out = Seq((1L, Array(2.0, -1.0, 0.5, 1.0)))
      .toDF("id", "v")
      .select(graft.functions.VectorFunctions.sqDequantize(
        col("v"), Array(0.0, 0.0, 0.0, 0.0), Array(1.0, 1.0, 1.0, 1.0)).as("dq"))
      .head.getSeq[Double](0)
    assert(out(0) == 1.0) // above max → saturates, not an impossible >max reconstruction
    assert(out(1) == 0.0) // below min → saturates to min
    assert(math.abs(out(2) - 0.5) < 1.0 / 255)
    assert(out(3) == 1.0)
  }

  test("recallAtK: per-query match counts, zero-recall queries kept, exact divisions") {
    val exact = Seq((1L, 10L), (1L, 11L), (1L, 12L),
      (2L, 20L), (2L, 21L), (2L, 22L),
      (3L, 30L), (3L, 31L), (3L, 32L)).toDF("query_id", "neighbor_id")
    // q1: all 3 found; q2: 1 of 3 (plus a non-top-3 extra that must not
    // count); q3: nothing found — must still appear at recall 0
    val approx = Seq((1L, 10L), (1L, 11L), (1L, 12L),
      (2L, 20L), (2L, 99L), (2L, 98L)).toDF("query_id", "neighbor_id")
    val out = Similarity.recallAtK(approx, exact, k = 3)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    assert(out(1L) == ((3L, 1.0)))
    assert(out(2L) == ((1L, 1.0 / 3.0)))
    assert(out(3L) == ((0L, 0.0)))
  }

  test("pqTopK == a local reference of the same algorithm on random data") {
    val rnd = new scala.util.Random(11)
    val dims = 8; val m = 4; val ksub = 4; val k = 3
    val data = (0L until 40L).map(i =>
      i -> Array.fill(dims)(rnd.nextInt(100) / 10.0f)).toMap
    val corpus = data.toSeq.toDF("vec_id", "embedding")
    val queries = data.filter(_._1 % 10 == 0).toSeq.toDF("vec_id", "embedding")
    // local reference: smallest-ksub-id codebooks, per-subspace L2 argmin
    // (ties -> lowest index), cosine vs reconstruction, (cos desc, id asc)
    val subDim = dims / m
    val seeds = data.toSeq.sortBy(_._1).take(ksub).map(_._2.map(_.toDouble))
    def reconstruct(v: Array[Float]): Array[Double] =
      (0 until m).flatMap { s =>
        val off = s * subDim
        val best = seeds.zipWithIndex.minBy { case (c, j) =>
          ((0 until subDim).map(i => { val d = v(off + i) - c(off + i); d * d }).sum, j)
        }._1
        best.slice(off, off + subDim)
      }.toArray
    def cos(a: Array[Double], b: Array[Double]): Double = {
      val dot = a.zip(b).map { case (x, y) => x * y }.sum
      dot / (math.sqrt(a.map(x => x * x).sum) * math.sqrt(b.map(x => x * x).sum))
    }
    val want = data.keys.filter(_ % 10 == 0).flatMap { q =>
      val qv = data(q).map(_.toDouble)
      data.toSeq.filter(_._1 != q)
        .map { case (id, v) => (id, cos(qv, reconstruct(v))) }
        .sortBy { case (id, c) => (-c, id) }.take(k).zipWithIndex
        .map { case ((id, c), r) => (q, id, r + 1) }
    }.toSet
    val got = Similarity.pqTopK(corpus, queries, "vec_id", "embedding",
      k = k, m = m, ksub = ksub, dims = dims)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(3))).toSet
    assert(got == want)
  }

  test("pqTrainKmeans: per-subspace codebooks recover planted subspace clusters; recall >= deterministic") {
    val rnd = new scala.util.Random(5)
    val dims = 8; val m = 2; val subDim = 4
    // two prototypes PER SUBSPACE (5 on coordinate 0 vs coordinate 1);
    // every vector picks one per subspace independently + small noise
    val data = (0L until 60L).map { i =>
      val v = new Array[Float](dims)
      for (s <- 0 until m) {
        val pick = rnd.nextInt(2)
        for (d <- 0 until subDim)
          v(s * subDim + d) =
            ((if (d == pick) 5.0 else 0.0) + rnd.nextGaussian() * 0.05).toFloat
      }
      (i, v)
    }
    val df = data.toDF("vec_id", "embedding")
    val cb = Similarity.pqTrainKmeans(df, "vec_id", "embedding", m, ksub = 2, dims, iters = 4)
    for (s <- 0 until m) {
      assert(cb(s).length == 2)
      for (c <- cb(s)) {
        val dom = c.indexOf(c.max)
        assert((dom == 0 || dom == 1) && math.abs(c.max - 5.0) < 0.5,
          s"subspace $s centroid not near a prototype: ${c.mkString(",")}")
      }
      assert(cb(s).map(c => c.indexOf(c.max)).toSet == Set(0, 1),
        s"subspace $s centroids collapsed onto one prototype")
    }
    // end to end: k-means codebooks must not lose to the deterministic
    // smallest-ids baseline on recall@3 vs exact brute force
    val queries = df.where(col("vec_id") % 10 === 0)
    val exact = Similarity.bruteForceTopK(df, queries, "vec_id", "embedding", 3)
    def rec(cbx: Array[Array[Array[Double]]]): Double =
      Similarity.recallAtK(
        Similarity.pqTopK(df, queries, "vec_id", "embedding", 3, cbx), exact, 3)
        .agg(avg(col("recall"))).collect().head.getDouble(0)
    val det = Similarity.pqTrainDeterministic(df, "vec_id", "embedding", m, 2, dims)
    assert(rec(cb) >= rec(det) - 1e-9,
      s"kmeans codebooks recall ${rec(cb)} below deterministic ${rec(det)}")
  }

  test("pqTopK: codebook seed vectors reconstruct to themselves; dim mismatch rows vanish") {
    // the ksub smallest ids ARE the centroids: their reconstruction is
    // exact, so their cosine against any query equals the exact cosine
    val corpus = vecs // 5 vectors, dim 4
    val q = vecs.where(col("vec_id") === 0L)
    val pq = Similarity.pqTopK(corpus, q, "vec_id", "embedding",
      k = 4, m = 2, ksub = 5, dims = 4)
      .collect().map(r => r.getLong(1) -> r.getDouble(2)).toMap
    val exact = Similarity.bruteForceTopK(corpus, q, "vec_id", "embedding", k = 4)
      .collect().map(r => r.getLong(1) -> r.getDouble(2)).toMap
    assert(pq == exact, "ksub=corpus makes PQ exact")
    // a corpus row with the wrong dimensionality reconstructs to null and
    // is excluded, not crashed on
    val mixed = vecs.unionByName(
      Seq((9L, Array(1.0f, 2.0f))).toDF("vec_id", "embedding"))
    val out = Similarity.pqTopK(mixed, q, "vec_id", "embedding",
      k = 10, m = 2, ksub = 5, dims = 4)
    assert(!out.collect().map(_.getLong(1)).contains(9L))
  }

  private def canonTopK(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
      .toSeq.sortBy(t => (t._1, t._4))

  test("ivfTopKIndexed: index-at-rest result equals the in-memory IVF") {
    val dir = TestSpark.tempDir("graft_ivf_idx")
    Similarity.writeIvfIndex(vecs, "vec_id", "embedding", dir, nlist = Some(3))
    val queries = vecs.where(col("vec_id") === 0)
    val mem = canonTopK(Similarity.ivfTopK(vecs, queries, "vec_id", "embedding",
      k = 3, nlist = 3, nprobe = 2))
    val idx = canonTopK(Similarity.ivfTopKIndexed(spark, dir, queries,
      "vec_id", "embedding", k = 3, nprobe = 2))
    CacheRegistry.unpersistAll()
    assert(mem.nonEmpty && idx == mem, s"index-at-rest diverged: $idx vs $mem")
  }

  test("writeIvfIndex with k-means centroids: quality path equals the in-memory trained IVF") {
    val dir = TestSpark.tempDir("graft_ivf_km")
    // ONE training run serves both faces: Lloyd centroid values are
    // shuffle-order dependent (the s4 rows-only rationale), so comparing
    // two independent trainings bit-for-bit would be latently flaky
    val (cids, cvecs) = Similarity.kmeansCentroids(vecs, "vec_id", "embedding",
      nlist = 3, iters = 2)
    Similarity.writeIvfIndex(vecs, "vec_id", "embedding", dir,
      centroids = Some((cids, cvecs)))
    val queries = vecs.where(col("vec_id") === 0)
    val mem = canonTopK(Similarity.ivfTopKWith(vecs, queries, "vec_id", "embedding",
      k = 3, nprobe = 2, cids = cids, cvecs = cvecs))
    val idx = canonTopK(Similarity.ivfTopKIndexed(spark, dir, queries,
      "vec_id", "embedding", k = 3, nprobe = 2))
    CacheRegistry.unpersistAll()
    assert(mem.nonEmpty && idx == mem, s"k-means index-at-rest diverged: $idx vs $mem")
  }

  test("lshTopKIndexed: bucket-partitioned index equals the in-memory LSH") {
    val dir = TestSpark.tempDir("graft_lsh_idx")
    Similarity.writeLshIndex(vecs, "vec_id", "embedding", dir, planes = 4, dims = 4)
    val queries = vecs.where(col("vec_id") === 0)
    val mem = canonTopK(Similarity.lshTopK(vecs, queries, "vec_id", "embedding",
      k = 3, planes = 4, dims = 4))
    val idx = canonTopK(Similarity.lshTopKIndexed(spark, dir, queries,
      "vec_id", "embedding", k = 3))
    CacheRegistry.unpersistAll()
    assert(mem.nonEmpty && idx == mem, s"LSH index-at-rest diverged: $idx vs $mem")
  }

  test("appendToIvfIndex: build(A) + append(B) answers like build(A ∪ B) under A's quantizer") {
    val dir = TestSpark.tempDir("graft_ivf_app")
    val a = vecs.where(col("vec_id") <= 2)
    val b = vecs.where(col("vec_id") > 2)
    Similarity.writeIvfIndex(a, "vec_id", "embedding", dir, nlist = Some(2))
    Similarity.appendToIvfIndex(b, "vec_id", "embedding", dir)
    // full rebuild under the SAME quantizer (A's persisted centroids)
    val cents = spark.read.parquet(s"$dir/centroids")
      .orderBy(col("cid")).collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
    val full = TestSpark.tempDir("graft_ivf_full")
    Similarity.writeIvfIndex(vecs, "vec_id", "embedding", full,
      centroids = Some((cents.map(_._1), cents.map(_._2))))
    val queries = vecs.where(col("vec_id") === 0)
    val inc = canonTopK(Similarity.ivfTopKIndexed(spark, dir, queries,
      "vec_id", "embedding", k = 3, nprobe = 2))
    val ref = canonTopK(Similarity.ivfTopKIndexed(spark, full, queries,
      "vec_id", "embedding", k = 3, nprobe = 2))
    CacheRegistry.unpersistAll()
    assert(inc.nonEmpty && inc == ref, s"incremental index diverged: $inc vs $ref")
  }

  test("appendToLshIndex: incremental build equals the one-shot build") {
    val dir = TestSpark.tempDir("graft_lsh_app")
    Similarity.writeLshIndex(vecs.where(col("vec_id") <= 2), "vec_id", "embedding",
      dir, planes = 4, dims = 4)
    Similarity.appendToLshIndex(vecs.where(col("vec_id") > 2), "vec_id", "embedding", dir)
    val full = TestSpark.tempDir("graft_lsh_full")
    Similarity.writeLshIndex(vecs, "vec_id", "embedding", full, planes = 4, dims = 4)
    val queries = vecs.where(col("vec_id") === 0)
    val inc = canonTopK(Similarity.lshTopKIndexed(spark, dir, queries,
      "vec_id", "embedding", k = 3))
    val ref = canonTopK(Similarity.lshTopKIndexed(spark, full, queries,
      "vec_id", "embedding", k = 3))
    CacheRegistry.unpersistAll()
    assert(inc.nonEmpty && inc == ref, s"incremental LSH index diverged: $inc vs $ref")
  }

  test("writeIvfIndex refuses an empty corpus instead of writing a partial index") {
    val dir = TestSpark.tempDir("graft_ivf_empty")
    intercept[IllegalArgumentException] {
      Similarity.writeIvfIndex(vecs.where(col("vec_id") < 0),
        "vec_id", "embedding", dir, nlist = Some(3))
    }
  }

  test("randomProjection: exact vs local replication; norms preserved in expectation") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val data = (0 until 60).map(i => (i.toLong, Array.fill(64)(rnd.nextFloat() * 2f - 1f)))
    val df = data.toDF("vec_id", "embedding")
    val got = Similarity.randomProjection(df, "embedding", inDims = 64, outDims = 8)
      .select("vec_id", "rp").collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    // local replication of the exact fold arithmetic
    def sign(i: Int, j: Int): Double = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(s"${i}_$j".getBytes("UTF-8"))
      val v = java.lang.Long.parseLong(d.take(4).map("%02x".format(_)).mkString, 16)
      if (v % 2 == 0) 1.0 else -1.0
    }
    for ((id, vec) <- data) {
      val want = (0 until 8).map { j =>
        var acc = 0.0
        for (i <- 0 until 64) acc += vec(i).toDouble * sign(i, j)
        acc / math.sqrt(8.0)
      }
      assert(got(id) == want, s"vec $id mismatch")
    }
    // E[||Rx||^2] = ||x||^2: mean squared-norm ratio near 1 over the batch
    val ratios = data.map { case (id, vec) =>
      val n2in = vec.map(v => v.toDouble * v.toDouble).sum
      val n2out = got(id).map(v => v * v).sum
      n2out / n2in
    }
    val mean = ratios.sum / ratios.size
    assert(mean > 0.7 && mean < 1.3, s"mean norm ratio $mean")
  }

  test("vector expressions with Array fields canonicalize by content") {
    import graft.functions.{BandBuckets, NearestCentroids, PqReconstruct, SqDequantize}
    import org.apache.spark.sql.graftbridge.ColumnBridge
    val child = ColumnBridge.expression(col("v").cast("array<double>"))
    def mk2(): Array[Array[Double]] = Array(Array(1.0, -1.0), Array(-1.0, 1.0))
    // two structurally identical instances built from SEPARATE arrays:
    // reference equality would say false and defeat Catalyst CSE
    val b1 = BandBuckets(child, mk2(), bands = 1, rowsPerBand = 2)
    val b2 = BandBuckets(child, mk2(), bands = 1, rowsPerBand = 2)
    assert(b1 == b2 && b1.hashCode == b2.hashCode)
    assert(b1.semanticEquals(b2))
    assert(b1 != BandBuckets(child, Array(Array(1.0, -1.0), Array(-1.0, 2.0)), 1, 2))

    val n1 = NearestCentroids(child, Array(1L, 2L), mk2(), k = 1)
    val n2 = NearestCentroids(child, Array(1L, 2L), mk2(), k = 1)
    assert(n1 == n2 && n1.hashCode == n2.hashCode && n1.semanticEquals(n2))
    assert(n1 != NearestCentroids(child, Array(1L, 3L), mk2(), k = 1))

    val s1 = SqDequantize(child, Array(0.0, 1.0), Array(2.0, 3.0))
    val s2 = SqDequantize(child, Array(0.0, 1.0), Array(2.0, 3.0))
    assert(s1 == s2 && s1.hashCode == s2.hashCode && s1.semanticEquals(s2))
    assert(s1 != SqDequantize(child, Array(0.0, 1.0), Array(2.0, 4.0)))

    def books(): Array[Array[Array[Double]]] = Array(Array(Array(0.0, 1.0), Array(1.0, 0.0)))
    val p1 = PqReconstruct(child, books())
    val p2 = PqReconstruct(child, books())
    assert(p1 == p2 && p1.hashCode == p2.hashCode && p1.semanticEquals(p2))
  }
}
