package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.dedup.Dedup
import graft.operators.{AsOfJoin, RangeJoin, SaltedAgg}
import graft.similarity.Similarity

/** Degenerate inputs must yield empty/identity results, never crashes —
  * at 100 TB some partition or filter result is always empty. */
class EdgeCasesSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private lazy val emptyDocs = Seq.empty[(Long, String)].toDF("doc_id", "text")
  private lazy val docs = Seq((1L, "a b c d"), (2L, ""), (3L, "x")).toDF("doc_id", "text")

  test("dedup operators on an empty corpus return empty, not errors") {
    assert(Dedup.exact(emptyDocs, "doc_id", "text").count() == 0)
    assert(Dedup.simhashPairs(emptyDocs, "doc_id", "text").count() == 0)
    TestSpark.onBothBranches {
      assert(Dedup.minhashLsh(emptyDocs, "doc_id", "text").count() == 0)
      assert(Dedup.ngramJaccardPairs(
        emptyDocs.withColumn("blk", lit(0)), "doc_id", "text", Seq("blk"), 0.5).count() == 0)
    }
  }

  test("shingle-based dedup silently excludes too-short and empty documents") {
    // doc 2 ("") and doc 3 ("x") have < 3 tokens → no shingles → excluded
    TestSpark.onBothBranches(assert(Dedup.minhashLsh(docs, "doc_id", "text").count() == 0))
    assert(Dedup.simhashPairs(docs, "doc_id", "text").count() == 0)
  }

  test("fuzzy decontamination: empty benchmark or empty corpus flags nothing") {
    import graft.text.Curation
    TestSpark.onBothBranches {
      assert(Curation.decontaminateFuzzy(docs, emptyDocs, "doc_id", "text").count() == 0)
      assert(Curation.decontaminateFuzzy(emptyDocs, docs, "doc_id", "text").count() == 0)
    }
  }

  test("CMS on an empty frame yields no rows; single-row frame estimates exactly 1") {
    import graft.folds.CmsFrequency
    val empty = Seq.empty[(String, String)].toDF("key", "item")
    assert(CmsFrequency.frequenciesByKey(empty, "key", "item", Seq("x")).count() == 0)
    val one = Seq(("k", "x")).toDF("key", "item")
    val got = CmsFrequency.frequenciesByKey(one, "key", "item", Seq("x", "y"))
      .collect().map(r => r.getString(1) -> r.getLong(2)).toMap
    assert(got == Map("x" -> 1L, "y" -> 0L))
  }

  test("z-order: single column interleave is the identity; constant column buckets to 0") {
    import graft.sources.ZOrder
    val vals = Seq(0L, 1L, 37L, 255L).toDF("v")
      .select(col("v"), ZOrder.interleaveBits(Seq(col("v")), bits = 8).as("z"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(vals.forall { case (v, z) => v == z })
    // degenerate domain (min == max): every row lands in bucket 0, no div-by-zero
    val const = Seq((5L, 1L), (5L, 2L)).toDF("x", "y")
    val z = ZOrder.zOrderFrame(const, Seq("x", "y"), bits = 4)
      .select("__zval").collect().map(_.getLong(0))
    // x contributes bucket 0 everywhere; y spans {1,2} -> distinct curve cells
    assert(z.length == 2 && z.forall(_ >= 0))
  }

  test("BPE: empty corpus trains zero merges; encode with empty merges is char-level") {
    import graft.pipeline.Bpe
    assert(Bpe.trainMerges(emptyDocs.select("text"), "text", nMerges = 5).isEmpty)
    val enc = Bpe.encode(Seq((1L, "ab")).toDF("doc_id", "text"), "doc_id", "text", Nil)
      .select("n_bpe").collect().head.getLong(0)
    assert(enc == 3L) // 'a', 'b', EOW
  }

  test("canonicalize of no pairs is empty; dropNearDuplicates keeps everything") {
    val noPairs = Seq.empty[(Long, Long)].toDF("id_a", "id_b")
    assert(Dedup.canonicalize(noPairs).count() == 0)
    assert(Dedup.dropNearDuplicates(docs, "doc_id", noPairs).count() == docs.count())
  }

  test("as-of joins with an empty right keep every left row with null payload") {
    val left = Seq((1L, "k", 5L)).toDF("event_id", "k", "t")
    val right = Seq.empty[(String, Long, Long)].toDF("rk", "rt", "ref")
    for (join <- Seq(AsOfJoin.backward _, AsOfJoin.forward _, AsOfJoin.nearest _)) {
      val out = join(left, right, "k", "rk", "t", "rt", Seq("ref"), Nil, None).collect()
      assert(out.length == 1 && out.head.isNullAt(3))
    }
  }

  test("range join with empty sides is empty") {
    val pts = Seq((1L, 10L)).toDF("pid", "p")
    val noPts = Seq.empty[(Long, Long)].toDF("pid", "p")
    val ivs = Seq((1L, 0L, 20L)).toDF("iid", "s", "e")
    val noIvs = Seq.empty[(Long, Long, Long)].toDF("iid", "s", "e")
    assert(RangeJoin.pointInInterval(noPts, "p", ivs, "s", "e", 10L).count() == 0)
    assert(RangeJoin.pointInInterval(pts, "p", noIvs, "s", "e", 10L).count() == 0)
    // empty interval [s, s) matches nothing
    val degenerate = Seq((1L, 10L, 10L)).toDF("iid", "s", "e")
    assert(RangeJoin.pointInInterval(pts, "p", degenerate, "s", "e", 10L).count() == 0)
    // ... and overlaps nothing, even when another interval contains its point
    val containing = Seq((2L, 0L, 20L)).toDF("iid2", "s2", "e2")
    assert(RangeJoin.intervalOverlap(
      degenerate, "s", "e", containing, "s2", "e2", 10L).count() == 0)
    assert(RangeJoin.intervalOverlap(
      containing, "s2", "e2", degenerate, "s", "e", 10L).count() == 0)
  }

  test("range join rejects fractional endpoint columns loudly (banding is integral-only)") {
    // [0.5, 2.3) with width 1 would never band into bucket 2 under the
    // exclusive-endpoint floor((e-1)/W) — silent lost matches. The
    // contract check turns that into an immediate error instead.
    val pts = Seq((1L, 2L)).toDF("pid", "p")
    val fracIvs = Seq((1L, 0.5, 2.3)).toDF("iid", "s", "e")
    val e1 = intercept[IllegalArgumentException] {
      RangeJoin.pointInInterval(pts, "p", fracIvs, "s", "e", 1L)
    }
    assert(e1.getMessage.contains("integral"))
    val fracPts = Seq((1L, 2.0)).toDF("pid", "p")
    val ivs = Seq((1L, 0L, 20L)).toDF("iid", "s", "e")
    intercept[IllegalArgumentException] {
      RangeJoin.pointInInterval(fracPts, "p", ivs, "s", "e", 1L)
    }
    intercept[IllegalArgumentException] {
      RangeJoin.intervalOverlap(fracIvs, "s", "e", ivs, "s", "e", 1L)
    }
    // integer (not just long) columns remain accepted
    val intPts = Seq((1, 10)).toDF("pid", "p")
    val intIvs = Seq((1, 0, 20)).toDF("iid", "s", "e")
    assert(RangeJoin.pointInInterval(intPts, "p", intIvs, "s", "e", 10L).count() == 1)
  }

  test("range join decimal endpoints: scale-0 within long range accepted, wider rejected") {
    val pts = Seq((1L, 10L)).toDF("pid", "p")
    // decimal(18,0) fits a long exactly — accepted, banding on the cast
    val okIvs = Seq((1L, 0L, 20L)).toDF("iid", "s", "e")
      .select(col("iid"), col("s").cast("decimal(18,0)").as("s"),
        col("e").cast("decimal(18,0)").as("e"))
    assert(RangeJoin.pointInInterval(pts, "p", okIvs, "s", "e", 10L).count() == 1)
    // decimal(20,0) can exceed the long range; under non-ANSI mode the
    // banding's cast('long') would yield NULL and silently drop matches —
    // the guard must fail loudly instead
    val wideIvs = Seq((1L, 0L, 20L)).toDF("iid", "s", "e")
      .select(col("iid"), col("s").cast("decimal(20,0)").as("s"),
        col("e").cast("decimal(20,0)").as("e"))
    val e = intercept[IllegalArgumentException] {
      RangeJoin.pointInInterval(pts, "p", wideIvs, "s", "e", 10L)
    }
    assert(e.getMessage.contains("precision"))
    intercept[IllegalArgumentException] {
      RangeJoin.intervalOverlap(wideIvs, "s", "e", okIvs, "s", "e", 10L)
    }
  }

  test("salted aggregation of an empty frame returns no groups") {
    val empty = Seq.empty[(String, Long, Double)].toDF("k", "v", "x")
    assert(SaltedAgg.distinctAgg(empty, Seq("k"), "v", 8, "nd").count() == 0)
    assert(SaltedAgg.groupByAgg(empty, Seq("k"), 8, Seq(SaltedAgg.Sum("x", "s"))).count() == 0)
  }

  test("ANN with an empty query set is empty; with empty corpus is empty") {
    val vecs = Seq((0L, Array(1.0f, 0.0f)), (1L, Array(0.0f, 1.0f))).toDF("vec_id", "embedding")
    val noVecs = Seq.empty[(Long, Array[Float])].toDF("vec_id", "embedding")
    assert(Similarity.bruteForceTopK(vecs, noVecs, "vec_id", "embedding", 2).count() == 0)
    assert(Similarity.bruteForceTopK(noVecs, vecs, "vec_id", "embedding", 2).count() == 0)
    assert(Similarity.lshTopK(vecs, noVecs, "vec_id", "embedding", 2, 2, 2).count() == 0)
  }

  test("round-2 operators on degenerate inputs: empty results or a clear error, never a crash") {
    import graft.pipeline.TrainingPrep
    import graft.text.Curation
    // substring dedup: empty corpus and all-too-short corpus → empty
    assert(Dedup.substringDupPairs(emptyDocs, "doc_id", "text").count() == 0)
    assert(Dedup.substringDupPairs(docs, "doc_id", "text").count() == 0) // all < 27 chars
    // decontamination (exact + bloom): empty benchmark → zero overlaps
    assert(Curation.decontaminate(docs, emptyDocs, "doc_id", "text").count() == 0)
    assert(Curation.decontaminateBloom(docs, emptyDocs, "doc_id", "text").count() == 0)
    // curation flags: empty corpus flows through; short docs are flagged, never dropped
    assert(Curation.heuristicFilters(emptyDocs, "text").count() == 0)
    assert(Curation.heuristicFilters(docs, "text").count() == docs.count())
    // vocab/ids: empty corpus → empty vocab; ids against an empty vocab are all unk
    val vocabOfNothing = TrainingPrep.buildVocab(emptyDocs, "text", 4)
    assert(vocabOfNothing.count() == 0)
    val allUnk = TrainingPrep.tokenizeToIds(docs, "doc_id", "text", vocabOfNothing)
      .collect().flatMap(_.getSeq[Long](2))
    assert(allUnk.nonEmpty && allUnk.forall(_ == 0L))
    // curriculum: empty input → empty output (thresholds of nothing never evaluated per row)
    assert(TrainingPrep.curriculum(
      Seq.empty[(Long, Double)].toDF("id", "score"), "score", 4).count() == 0)
    // SQ8: training on an empty corpus must fail FAST with a clear message,
    // not a confusing dims mismatch deep in the plan
    val noVecs = Seq.empty[(Long, Array[Float])].toDF("vec_id", "embedding")
    val err = intercept[IllegalArgumentException] {
      Similarity.sqTrain(noVecs, "embedding", dims = 2)
    }
    assert(err.getMessage.contains("empty"))
  }

  test("round-3 operators on degenerate inputs: empty results or identity, never a crash") {
    import graft.operators.SkewJoin
    import graft.pipeline.TrainingPrep
    // line dedup: empty corpus → empty; empty-string text is ONE empty
    // line — it dedups across docs like any other line content
    assert(Dedup.lineDedup(emptyDocs, "doc_id", "text").count() == 0)
    val emptyLine = Dedup.lineDedup(docs, "doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(3)).toMap
    assert(emptyLine(2L) == "") // doc 2 IS the first empty line
    // quota: empty input → empty; single-row groups unaffected
    assert(TrainingPrep.groupQuota(
      Seq.empty[(Long, String)].toDF("id", "grp"), "id", "grp", 3).count() == 0)
    // skew join: either side empty → empty, any salt count
    val l = Seq((1L, 2)).toDF("k", "pv")
    val noL = Seq.empty[(Long, Int)].toDF("k", "pv")
    val r = Seq((1L, "x")).toDF("k", "bv")
    val noR = Seq.empty[(Long, String)].toDF("k", "bv")
    assert(SkewJoin.salted(noL, r, Seq("k"), 4).count() == 0)
    assert(SkewJoin.salted(l, noR, Seq("k"), 4).count() == 0)
    // KLL: empty input → no keys, no sketch rows
    assert(graft.folds.KllQuantiles.quantilesByKey(
      Seq.empty[(String, Double)].toDF("g", "v"), "g", "v", Seq(0.5)).count() == 0)
    // KLL: null values are skipped (not an encoder NPE), n counts the rest
    val withNulls = Seq(("a", java.lang.Double.valueOf(1.0)), ("a", null),
      ("a", java.lang.Double.valueOf(3.0))).toDF("g", "v")
    val kOut = graft.folds.KllQuantiles.quantilesByKey(withNulls, "g", "v", Seq(0.5))
      .collect().head
    assert(kOut.getLong(1) == 2L)
    // quota: null ids are excluded, never an ordering NPE
    val withNullIds = Seq((java.lang.Long.valueOf(1L), "g"), (null.asInstanceOf[java.lang.Long], "g"))
      .toDF("id", "grp")
    assert(TrainingPrep.groupQuota(withNullIds, "id", "grp", 5).count() == 1)
    // recall: empty approx → every exact query at recall 0, not dropped
    val exact = Seq((1L, 10L), (1L, 11L)).toDF("query_id", "neighbor_id")
    val noApprox = Seq.empty[(Long, Long)].toDF("query_id", "neighbor_id")
    val rec = Similarity.recallAtK(noApprox, exact, k = 2).collect()
    assert(rec.length == 1 && rec.head.getLong(1) == 0L && rec.head.getDouble(2) == 0.0)
    // normalize: empty string stays empty; symbols-only collapses to empty
    val n = Seq((1L, ""), (2L, "!!! ??? ..."), (3L, "ok"))
      .toDF("id", "t")
      .select(graft.text.Curation.normalizeForDedup(col("t")).as("n"))
      .collect().map(_.getString(0)).toSeq
    assert(n == Seq("", "", "ok"))
  }

  test("round-3 operators degrade on degenerate inputs, never crash") {
    import graft.multimodal.{AviCodec, Multimodal}
    import graft.pipeline.TrainingPrep
    implicit val s: org.apache.spark.sql.SparkSession = spark
    // mixtureRepeat: empty input and empty output shapes
    assert(TrainingPrep.mixtureRepeat(emptyDocs, "doc_id", lit(3.0)).count() == 0)
    assert(TrainingPrep.mixtureRepeat(docs, "doc_id", lit(0.0)).count() == 0)
    // resizeImages: empty relation; 1x1 image at maxSide 1 passes through
    val emptyMedia = Seq.empty[(Long, Array[Byte], String)].toDF("media_id", "content", "mime")
    assert(Multimodal.resizeImages(emptyMedia, 1).count() == 0)
    val one = Seq((1L, Multimodal.solidPng(7, 1, 1), "image/png"))
      .toDF("media_id", "content", "mime")
    val r = Multimodal.resizeImages(one, 1).collect().head
    assert(r.width == 1 && r.height == 1 && r.mean_px == 7.0 / 255.0)
    // AviCodec: empty/garbage bytes -> None; 1x1 single-frame roundtrip
    assert(AviCodec.decode(Array.emptyByteArray).isEmpty)
    assert(AviCodec.decode("RIFFxxxx".getBytes("US-ASCII")).isEmpty)
    val tiny = AviCodec.decode(AviCodec.encode(1, 1, Seq(Array(0x808080)))).get
    assert(tiny.width == 1 && tiny.height == 1 && tiny.nFrames == 1
      && tiny.meanLuminance == 128.0 / 255.0)
    // trainHashedLogistic: zero labeled rows is a loud error, not a NaN model
    intercept[IllegalArgumentException] {
      graft.text.Curation.trainHashedLogistic(
        emptyDocs.withColumn("y", lit(1.0)), "text", "y", epochs = 1)
    }
  }

  test("round-4 operators on degenerate inputs: empty results or identity, never a crash") {
    import graft.multimodal.Multimodal
    import graft.operators.Scd2
    import graft.text.Curation
    implicit val s: org.apache.spark.sql.SparkSession = spark
    val emptyMedia = Seq.empty[(Long, Array[Byte], String)].toDF("media_id", "content", "mime")
    // extractFrames: empty relation → empty; stride 0 is a loud error
    assert(Multimodal.extractFrames(emptyMedia, 2).count() == 0)
    intercept[IllegalArgumentException] { Multimodal.extractFrames(emptyMedia, 0) }
    // sniffMedia: empty relation → empty; NULL payload → all-null fields
    assert(Multimodal.sniffMedia(emptyMedia).count() == 0)
    val nullPayload = Seq((1L, null.asInstanceOf[Array[Byte]], "x"))
      .toDF("media_id", "content", "mime")
    val sniffed = Multimodal.sniffMedia(nullPayload).collect().head
    assert((1 to 7).forall(sniffed.isNullAt))
    // extractHtmlText: null html stays null (no NPE in the regex chain)
    val nullHtml = Seq(Tuple1(null.asInstanceOf[String])).toDF("h")
      .select(Curation.extractHtmlText(col("h")).as("t")).collect().head
    assert(nullHtml.isNullAt(0))
    // urlFeatures: empty blocklist → everything unblocked; unparseable
    // URL → null host, empty labels, still present and unblocked
    val noList = Seq.empty[Tuple1[String]].toDF("domain")
    val weird = Seq((1L, "https://ok.example.com/a"), (2L, "not a url at all"))
      .toDF("doc_id", "url")
    val uf = Curation.urlFeatures(weird, "url", noList).collect()
    assert(uf.length == 2 && uf.forall(!_.getAs[Boolean]("is_blocked")))
    // Scd2: empty log → empty dim; empty increment → dim unchanged
    val emptyLog = Seq.empty[(Long, Long, Long, String)].toDF("k", "ts", "seq", "attr")
    assert(Scd2.fromChangeLog(emptyLog, "k", "ts", "seq").count() == 0)
    val dim = Scd2.fromChangeLog(
      Seq((1L, 10L, 1L, "a")).toDF("k", "ts", "seq", "attr"), "k", "ts", "seq")
    val same = Scd2.applyChanges(dim, emptyLog, "k", "ts", "seq")
      .collect().map(_.toSeq).toSet
    assert(same == dim.collect().map(_.toSeq).toSet)
  }

  test("late round-4 operators on degenerate inputs: empty results or loud errors, never a crash") {
    import graft.multimodal.Multimodal
    implicit val s: org.apache.spark.sql.SparkSession = spark
    val emptyMedia = Seq.empty[(Long, Array[Byte], String)].toDF("media_id", "content", "mime")
    // resample / patchify: empty in → empty out; bad params are loud
    assert(Multimodal.audioResample(emptyMedia, 16000).count() == 0)
    intercept[IllegalArgumentException] { Multimodal.audioResample(emptyMedia, 0) }
    assert(Multimodal.patchify(emptyMedia, 4).count() == 0)
    intercept[IllegalArgumentException] { Multimodal.patchify(emptyMedia, 0) }
    // single-frame WAV: identity resample emits that one frame
    val one = Seq((1L, graft.multimodal.WavCodec.encodePcm16(16000, 1, Array[Short](7)),
      "audio/wav")).toDF("media_id", "content", "mime")
    val r = Multimodal.audioResample(one, 16000).collect().head
    assert(r.n_out == 1 && r.sum_out == 7L)
    // zip expansion: empty relation → empty; zero caps are loud
    val emptyShards = Seq.empty[(Long, Array[Byte])].toDF("shard_id", "content")
    assert(Multimodal.expandZipShards(emptyShards).count() == 0)
    intercept[IllegalArgumentException] { Multimodal.expandZipShards(emptyShards, 0) }
    // PQ k-means trainer: empty corpus is a loud error, not garbage codebooks
    val emptyVecs = Seq.empty[(Long, Array[Float])].toDF("vec_id", "embedding")
    intercept[IllegalArgumentException] {
      graft.similarity.Similarity.pqTrainKmeans(emptyVecs, "vec_id", "embedding", 2, 2, 8)
    }
    // ragged corpus: loud error (slice would silently train short centroids)
    val ragged = Seq((1L, Array(1.0f, 2.0f)), (2L, Array(1.0f, 2.0f, 3.0f, 4.0f)))
      .toDF("vec_id", "embedding")
    intercept[IllegalArgumentException] {
      graft.similarity.Similarity.pqTrainKmeans(ragged, "vec_id", "embedding", 2, 2, 4)
    }
  }

  test("continuation-session operators degrade on degenerate inputs, never crash") {
    import graft.text.{Curation, TextAnalysis}
    import graft.pipeline.{TrainingPrep, UnigramLm}
    // span decontamination: empty benchmark -> every doc passes through verbatim
    val spans = Curation.decontaminateSpans(docs, emptyDocs.select(col("text")),
      "doc_id", "text", n = 3)
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getBoolean(3)))).toMap
    assert(spans(1L) == (("a b c d", false)) && spans(2L) == (("", false)))
    // empty corpus faces
    assert(Curation.decontaminateSpans(emptyDocs, docs, "doc_id", "text").count() == 0)
    assert(Curation.linePrevalence(emptyDocs, "doc_id", "text").count() == 0)
    assert(Curation.urlDedup(emptyDocs.toDF("doc_id", "url"), "doc_id", "url").count() == 0)
    assert(TextAnalysis.readability(emptyDocs, "text").count() == 0)
    assert(TextAnalysis.sourceOverlap(
      emptyDocs.withColumn("source", lit("s")), "source", "text").count() == 0)
    assert(TrainingPrep.weightedSample(
      emptyDocs.withColumn("w", lit(1.0)), "doc_id", "w", "text", 3).count() == 0)
    assert(TrainingPrep.packBoundaries(
      emptyDocs.select(col("doc_id"), lit(5L).as("n"), lit(0).as("shard")),
      "doc_id", "n", "shard", 16).count() == 0)
    // stupid backoff under an EMPTY training corpus: scores are null, not NaN
    val sb = Curation.stupidBackoff(emptyDocs, docs, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.isNullAt(2)))
    assert(sb.nonEmpty && sb.forall(_._2), "empty-train scores must be null")
    // unigram-LM: empty corpus trains an empty model; encode falls back per char
    val model = UnigramLm.train(emptyDocs, "text", vocabSize = 4, seedSize = 4)
    assert(model.isEmpty)
    val enc = UnigramLm.encode(docs, "doc_id", "text", model)
      .collect().map(r => r.getLong(0) -> r.getString(2)).toMap
    assert(enc(3L) == "x")
    graft.CacheRegistry.unpersistAll()
  }
}
