package graft

import java.io.File
import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.FilterExec
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.v2.ShardFormat

/** The `graftshard` DataSourceV2 connector end to end: roundtrip
  * fidelity per supported type, manifest-isolation (orphans invisible,
  * atomic overwrite), plan-level pushdown (absorbed filters leave no
  * FilterExec; pruned columns shrink the scan output), manifest-stats
  * file skipping observable in the scan description, and
  * skipping-aware size statistics. */
class GraftShardSourceSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def tmp(): String = TestSpark.tempDir("graft_shard_spec") + "/t"

  private val schema = StructType(Seq(
    StructField("id", LongType), StructField("n", IntegerType),
    StructField("d", DoubleType), StructField("f", FloatType),
    StructField("b", BooleanType), StructField("s", StringType),
    StructField("bin", BinaryType),
    StructField("vec", ArrayType(FloatType, containsNull = false))))

  private def sampleDf(): DataFrame = {
    val rows = Seq(
      Row(1L, 10, 1.5, 2.5f, true, "alpha", Array[Byte](1, 2), Seq(1f, 2f)),
      Row(2L, null, null, null, null, null, null, null),
      Row(3L, 30, Double.NaN, -0f, false, "", Array.empty[Byte], Seq.empty[Float]),
      Row(null, 40, -1.0, 1f, true, "betä", Array[Byte](-1), Seq(3f)))
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), schema)
  }

  // Row.toString renders Array[Byte] by identity — canonicalize by content
  private def canon(r: Row): String = r.toSeq.map {
    case b: Array[Byte] => b.mkString("<", ",", ">")
    case x => String.valueOf(x)
  }.mkString("|")

  private def scanOf(df: DataFrame, label: String = ""): BatchScanExec =
    df.queryExecution.executedPlan.collectLeaves()
      .collectFirst { case b: BatchScanExec => b }
      .getOrElse(fail(s"no BatchScanExec [$label]:\n" +
        s"optimized:\n${df.queryExecution.optimizedPlan.treeString}" +
        s"executed:\n${df.queryExecution.executedPlan.treeString}"))

  test("roundtrip: every supported type incl. nulls, empty string/array/binary") {
    val dir = tmp()
    sampleDf().write.format("graftshard").mode("overwrite").save(dir)
    val back = spark.read.format("graftshard").load(dir)
    assert(back.schema.fields.map(f => (f.name, f.dataType)).toSeq ==
      schema.fields.map(f => (f.name, f.dataType)).toSeq)
    val exp = sampleDf().collect().map(canon).sorted.toSeq
    val got = back.collect().map(canon).sorted.toSeq
    assert(got == exp)
  }

  test("append unions, overwrite replaces, append schema mismatch fails at plan time") {
    val dir = tmp()
    val df = Seq((1L, "a"), (2L, "b")).toDF("id", "s")
    df.write.format("graftshard").mode("overwrite").save(dir)
    df.write.format("graftshard").mode("append").save(dir)
    assert(spark.read.format("graftshard").load(dir).count() == 4)
    df.write.format("graftshard").mode("overwrite").save(dir)
    assert(spark.read.format("graftshard").load(dir).count() == 2)
    val bad = intercept[Exception] {
      Seq((1L, 2L)).toDF("id", "other")
        .write.format("graftshard").mode("append").save(dir)
    }
    assert(bad.getMessage.contains("does not match"))
  }

  test("manifest isolation: orphan shard files are invisible to readers") {
    val dir = tmp()
    Seq((1L, "a"), (2L, "b")).toDF("id", "s")
      .write.format("graftshard").mode("overwrite").save(dir)
    val shard = new File(dir).listFiles().filter(_.getName.endsWith(".shard")).head
    // a crashed/speculative attempt's leftover: real bytes, no manifest entry
    Files.copy(shard.toPath, new File(dir, "part-99999-0-deadbeef.shard").toPath)
    assert(spark.read.format("graftshard").load(dir).count() == 2)
  }

  test("pushdown: absorbed predicates leave no FilterExec; residual double predicate stays") {
    val dir = tmp()
    sampleDf().write.format("graftshard").mode("overwrite").save(dir)
    val base = spark.read.format("graftshard").load(dir)

    val absorbed = base.where(col("id") > 0L && col("s") === "alpha" && col("n").isNotNull)
    assert(absorbed.queryExecution.executedPlan.collect { case f: FilterExec => f }.isEmpty,
      "all predicates pushable -> no FilterExec above the scan")
    assert(absorbed.collect().map(_.getLong(0)).toSeq == Seq(1L))
    assert(scanOf(absorbed).scan.description().contains("EqualTo(s,alpha)"))

    val residual = base.where(col("d") > 0.0) // double comparisons stay with Spark
    assert(residual.queryExecution.executedPlan.collect { case f: FilterExec => f }.nonEmpty,
      "double predicate must NOT be absorbed (NaN ordering stays Spark's)")
    // Spark orders NaN above every double: the NaN row (id 3) matches.
    // Exactly the engine-defined semantics a source-side reimplementation
    // would get wrong — the reason doubles are never pushed.
    assert(residual.collect().map(_.getLong(0)).toSet == Set(1L, 3L))
  }

  test("pushdown semantics match Spark's on nulls, IN, negatives, booleans") {
    val dir = tmp()
    sampleDf().write.format("graftshard").mode("overwrite").save(dir)
    val shard = spark.read.format("graftshard").load(dir)
    val oracle = sampleDf()
    for (pred <- Seq(
        col("id") >= 2L, col("id") < 3L, col("n").isin(10, 40), col("id").isNull,
        col("b") === true, col("s").isNull, col("vec").isNotNull,
        col("n") <= 30 && col("id") =!= 1L)) {
      val got = shard.where(pred).collect().map(canon).sorted.toSeq
      val exp = oracle.where(pred).collect().map(canon).sorted.toSeq
      assert(got == exp, s"predicate $pred")
    }
  }

  test("column pruning shrinks the scan output to the required columns") {
    val dir = tmp()
    sampleDf().write.format("graftshard").mode("overwrite").save(dir)
    // Spark's pruned schema keeps SOURCE column order; the Project above
    // the scan does the reordering
    val pruned = spark.read.format("graftshard").load(dir).select("s", "id")
    assert(scanOf(pruned).output.map(_.name) == Seq("id", "s"))
    // filter-only column is read but NOT in the scan output
    val filterOnly = spark.read.format("graftshard").load(dir)
      .where(col("n") === 10).select("s")
    assert(scanOf(filterOnly).output.map(_.name) == Seq("s"))
    assert(filterOnly.collect().map(_.getString(0)).toSeq == Seq("alpha"))
  }

  test("manifest-stats file skipping prunes whole shards at planning time") {
    val dir = tmp()
    // range-partitioned write -> disjoint id ranges per shard file;
    // `sparse` is a NULLABLE long that is all-null in the low-id files
    // (IsNull on a NON-nullable column never reaches the source —
    // Catalyst folds it to an empty relation first, correctly)
    spark.range(0, 1000)
      .withColumn("payload", concat(lit("row"), col("id")))
      .withColumn("sparse", when(col("id") >= 500L, col("id")))
      .repartitionByRange(4, col("id"))
      .write.format("graftshard").mode("overwrite").save(dir)
    assert(new File(dir).listFiles().count(_.getName.endsWith(".shard")) == 4)

    val hit = spark.read.format("graftshard").load(dir).where(col("id") === 17L)
    val desc = scanOf(hit, "hit").scan.description()
    assert(desc.contains("files=1/4"), s"expected 1 surviving file, got: $desc")
    assert(hit.count() == 1)

    val miss = spark.read.format("graftshard").load(dir).where(col("id") > 5000L)
    assert(scanOf(miss, "miss").scan.description().contains("files=0/4"))
    assert(miss.count() == 0)

    // null-count stats: IsNull keeps only the all-null files, IsNotNull
    // only the no-null files
    val nulls = spark.read.format("graftshard").load(dir).where(col("sparse").isNull)
    assert(scanOf(nulls, "nulls").scan.description().contains("files=2/4"))
    assert(nulls.count() == 500)
    val notNulls = spark.read.format("graftshard").load(dir).where(col("sparse").isNotNull)
    assert(scanOf(notNulls, "notNulls").scan.description().contains("files=2/4"))
    assert(notNulls.count() == 500)
  }

  test("reported statistics reflect file skipping (broadcast planning input)") {
    val dir = tmp()
    spark.range(0, 1000).withColumn("payload", concat(lit("row"), col("id")))
      .repartitionByRange(4, col("id"))
      .write.format("graftshard").mode("overwrite").save(dir)
    val all = spark.read.format("graftshard").load(dir)
    val one = all.where(col("id") === 17L)
    val sAll = all.queryExecution.optimizedPlan.stats.sizeInBytes
    val sOne = one.queryExecution.optimizedPlan.stats.sizeInBytes
    assert(sOne * 3 < sAll, s"skipping-aware size $sOne should be ~1/4 of $sAll")
    val m = ShardFormat.readManifest(dir).get
    assert(sAll == BigInt(m.files.map(_.bytes).sum))
  }

  test("runtime filtering: a delivered In filter re-plans to fewer shard files") {
    val dir = tmp()
    spark.range(0, 1000).withColumn("payload", concat(lit("row"), col("id")))
      .repartitionByRange(4, col("id"))
      .write.format("graftshard").mode("overwrite").save(dir)
    val df = spark.read.format("graftshard").load(dir)
    val scan = scanOf(df, "runtime").scan
    val srf = scan.asInstanceOf[org.apache.spark.sql.connector.read.SupportsRuntimeFiltering]
    assert(srf.filterAttributes().map(_.describe()).toSeq == Seq("id"))
    val batch = scan.toBatch
    assert(batch.planInputPartitions().length == 1, "4 small files pack into 1 partition")
    srf.filter(Array[org.apache.spark.sql.sources.Filter](
      org.apache.spark.sql.sources.In("id", Array(17L, 23L))))
    val parts = batch.planInputPartitions()
    val filesLeft = parts.map(_.asInstanceOf[graft.sources.v2.ShardInputPartition].files.length).sum
    assert(filesLeft == 1, s"runtime In on one id range must keep 1 file, kept $filesLeft")
  }

  test("runtime filtering end-to-end: broadcast join plants a dynamic pruning filter") {
    val dir = tmp()
    spark.range(0, 1000).withColumn("payload", concat(lit("row"), col("id")))
      .repartitionByRange(4, col("id"))
      .write.format("graftshard").mode("overwrite").save(dir)
    val fact = spark.read.format("graftshard").load(dir)
    // the dim must be SOURCE-backed: over a LocalRelation fixture,
    // ConvertToLocalRelation folds the Filter away before
    // PartitionPruning runs and the rule sees no selective predicate
    // (the repo-wide optimizer-rule-test lesson); the predicate itself
    // must be likely-selective (attr-vs-literal comparison)
    val dimDir = tmp() + "_dim"
    Seq((17L, "keep"), (23L, "keep"), (800L, "drop")).toDF("k", "flag")
      .write.parquet(dimDir)
    val dim = spark.read.parquet(dimDir)
    val joined = fact.join(dim.where(col("flag") === "keep"), fact("id") === dim("k"))
      .select("id", "payload")
    val rows = joined.collect().map(r => (r.getLong(0), r.getString(1))).sorted.toSeq
    assert(rows == Seq((17L, "row17"), (23L, "row23")))
    val planStr = joined.queryExecution.executedPlan.toString
    assert(planStr.contains("dynamicpruning"),
      s"expected a runtime filter on the graftshard scan:\n$planStr")
  }

  test("runtime-filter attributes are a SUBSET of the scan output: a pruned stats-eligible column never breaks DPP planning") {
    val dir = tmp()
    spark.range(0, 100).select(col("id").as("k"),
      (col("id") * 7).as("chars"), (col("id") % 5).as("n"))
      .coalesce(1).write.format("graftshard").mode("overwrite").save(dir)
    val t = spark.read.format("graftshard").load(dir)
    // projection drops `chars`; the reported filter attributes must
    // drop it too — PartitionPruning resolves them against the scan
    // OUTPUT (V2ExpressionUtils.resolveRefs) and used to throw
    // "Unable to resolve chars given [k,n]" when fullSchema leaked
    val proj = t.select("k", "n")
    val srf = scanOf(proj, "subset").scan
      .asInstanceOf[org.apache.spark.sql.connector.read.SupportsRuntimeFiltering]
    assert(srf.filterAttributes().map(_.describe()).toSeq == Seq("k", "n"))
    // the full x81-shaped plan: full-outer join + count() (prunes
    // everything but the join key and the filter column) must PLAN
    val delta = Seq((1L, 10L), (2L, -3L)).toDF("k", "d")
    val q = t.join(delta, Seq("k"), "full_outer")
      .select(col("k"),
        (coalesce(col("n"), lit(0L)) + coalesce(col("d"), lit(0L))).as("total"))
      .where(col("total") > 0)
    assert(q.count() >= 1)
    // metadata columns in the projection never surface as filter attrs
    val meta = t.select(col("_pos"), col("k"))
    val srfM = scanOf(meta, "meta").scan
      .asInstanceOf[org.apache.spark.sql.connector.read.SupportsRuntimeFiltering]
    assert(srfM.filterAttributes().map(_.describe()).toSeq == Seq("k"))
  }

  test("streaming read: appended shard batches arrive incrementally, exactly once") {
    val dir = tmp()
    Seq((1L, "a"), (2L, "b")).toDF("id", "s")
      .write.format("graftshard").mode("append").save(dir)
    val q = spark.readStream.format("graftshard").load(dir)
      .writeStream.format("memory").queryName("graftshard_stream")
      .option("checkpointLocation", tmp() + "_ckpt")
      .start()
    try {
      q.processAllAvailable()
      assert(spark.table("graftshard_stream").count() == 2)
      Seq((3L, "c")).toDF("id", "s")
        .write.format("graftshard").mode("append").save(dir)
      q.processAllAvailable()
      val rows = spark.table("graftshard_stream").collect()
        .map(r => (r.getLong(0), r.getString(1))).sorted.toSeq
      assert(rows == Seq((1L, "a"), (2L, "b"), (3L, "c")), "each file exactly once")
      // micro-batch scans ride the same columnar batch path as batch
      // reads (round 13) — pin it on the last executed micro-batch plan
      val lastPlan = q.asInstanceOf[
        org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper]
        .streamingQuery.lastExecution.executedPlan.toString
      assert(lastPlan.contains("ColumnarToRow"),
        s"the streaming scan must engage the batch path:\n$lastPlan")
    } finally q.stop()
  }

  test("streaming read: an overwrite mid-stream fails loudly, never re-reads silently") {
    val dir = tmp()
    Seq((1L, "a")).toDF("id", "s")
      .write.format("graftshard").mode("append").save(dir)
    val q = spark.readStream.format("graftshard").load(dir)
      .writeStream.format("memory").queryName("graftshard_stream_ow")
      .option("checkpointLocation", tmp() + "_ckpt")
      .start()
    try {
      q.processAllAvailable()
      assert(spark.table("graftshard_stream_ow").count() == 1)
      // overwrite swaps the manifest generation; grow the new list past
      // the committed offset — without the generation pin this would
      // silently skip the replaced prefix
      Seq((10L, "x"), (11L, "y")).toDF("id", "s").repartition(2)
        .write.format("graftshard").mode("overwrite").save(dir)
      val e = intercept[Exception] { q.processAllAvailable() }
      def messages(t: Throwable): Seq[String] =
        Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ messages(x.getCause))
      assert(messages(e).exists(_.contains("overwritten during a streaming read")),
        s"expected the generation-mismatch error, got: $e")
    } finally q.stop()
  }

  test("streaming admission control: maxFilesPerTrigger bootstraps an existing table in capped batches, exactly once") {
    val dir = tmp()
    // 8 files x 5 rows: the 100 TB bootstrap shape in miniature — the
    // stream starts AGAINST an existing table
    (0 until 8).foreach { i =>
      spark.range(i * 5L, i * 5L + 5).coalesce(1)
        .write.format("graftshard").mode("append").save(dir)
    }
    assert(graft.sources.v2.ShardFormat.readManifest(dir).get.files.size == 8)
    val batches = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    val q = spark.readStream.format("graftshard")
      .option("maxFilesPerTrigger", "3").load(dir)
      .writeStream
      .foreachBatch((df: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) => {
        val n = df.count(); if (n > 0) batches.add(n): Unit
      })
      .option("checkpointLocation", tmp() + "_ckpt")
      .start()
    try q.processAllAvailable() finally q.stop()
    val sizes = batches.toArray(Array.empty[java.lang.Long]).map(_.toLong).toSeq
    assert(sizes.sum == 40, s"exactly once across capped batches, got $sizes")
    assert(sizes.forall(_ <= 15), s"a batch exceeded 3 files x 5 rows: $sizes")
    assert(sizes.length >= 3, s"the cap must split the bootstrap: $sizes")
  }

  test("streaming admission control: maxBytesPerTrigger admits at least one file per batch (never stalls)") {
    val dir = tmp()
    (0 until 4).foreach { i =>
      spark.range(i * 5L, i * 5L + 5).coalesce(1)
        .write.format("graftshard").mode("append").save(dir)
    }
    val batches = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    // 1 byte: every file is over the cap — the progress rule must admit
    // exactly one file per batch instead of stalling forever
    val q = spark.readStream.format("graftshard")
      .option("maxBytesPerTrigger", "1").load(dir)
      .writeStream
      .foreachBatch((df: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) => {
        val n = df.count(); if (n > 0) batches.add(n): Unit
      })
      .option("checkpointLocation", tmp() + "_ckpt")
      .start()
    try q.processAllAvailable() finally q.stop()
    val sizes = batches.toArray(Array.empty[java.lang.Long]).map(_.toLong).toSeq
    assert(sizes == Seq(5L, 5L, 5L, 5L),
      s"one 5-row file per batch, exactly once: $sizes")
  }

  test("streaming admission control: the offset math cuts exact file prefixes") {
    val dir = tmp()
    (0 until 3).foreach { i =>
      spark.range(i * 10L, i * 10L + 10).coalesce(1)
        .write.format("graftshard").mode("append").save(dir)
    }
    val m = graft.sources.v2.ShardFormat.readManifest(dir).get
    val st = new graft.sources.v2.GraftShardMicroBatchStream(
      dir, m.schema, m.schema, Array.empty)
    import org.apache.spark.sql.connector.read.streaming.ReadLimit
    def end(startCount: Long, l: ReadLimit): Long =
      st.latestOffset(graft.sources.v2.ShardOffset(m.generation, startCount), l)
        .asInstanceOf[graft.sources.v2.ShardOffset].fileCount
    assert(end(0L, ReadLimit.allAvailable()) == 3)
    assert(end(0L, ReadLimit.maxFiles(2)) == 2)
    assert(end(2L, ReadLimit.maxFiles(2)) == 3, "caps past the end clamp")
    // byte cap covering exactly the first two files
    val twoBytes = m.files.take(2).map(_.bytes).sum
    assert(end(0L, ReadLimit.maxBytes(twoBytes)) == 2)
    assert(end(0L, ReadLimit.maxBytes(1L)) == 1, "progress rule: one file minimum")
    assert(end(0L, ReadLimit.compositeLimit(
      Array(ReadLimit.maxFiles(3), ReadLimit.maxBytes(1L)))) == 1,
      "composite = most restrictive")
    // invalid options refuse at plan time with the option name
    val e = intercept[Exception] {
      spark.readStream.format("graftshard")
        .option("maxFilesPerTrigger", "0").load(dir)
        .writeStream.format("memory").queryName("gs_bad_limit")
        .option("checkpointLocation", tmp() + "_ckpt").start()
        .processAllAvailable()
    }
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ messages(x.getCause))
    assert(messages(e).exists(_.contains("maxFilesPerTrigger")))
  }

  test("unsupported column type is rejected at plan time with a clear error") {
    val e = intercept[Exception] {
      Seq((1L, Seq("x"))).toDF("id", "tags")
        .write.format("graftshard").mode("overwrite").save(tmp())
    }
    assert(e.getMessage.contains("unsupported column type"))
  }

  // ------------------------------------------------ key-partitioned tables

  private def withBucketing[A](body: => A): A = {
    val key = "spark.sql.sources.v2.bucketing.enabled"
    val pv = "spark.sql.sources.v2.bucketing.pushPartValues.enabled"
    val before = (spark.conf.getOption(key), spark.conf.getOption(pv))
    spark.conf.set(key, "true")
    spark.conf.set(pv, "true")
    try body
    finally {
      before._1.fold(spark.conf.unset(key))(spark.conf.set(key, _))
      before._2.fold(spark.conf.unset(pv))(spark.conf.set(pv, _))
    }
  }

  private def writeKeyed(dir: String, n: Int, keys: Int): Unit =
    spark.range(0, n).select(col("id"), (col("id") % keys).as("k"),
        (col("id") * 7L).as("v"))
      .repartition(col("k"))
      .write.format("graftshard").option("partitionKey", "k")
      .mode("overwrite").save(dir)

  test("key-partitioned write: one key value per file, manifest carries the values") {
    val dir = tmp()
    writeKeyed(dir, 100, 4)
    val m = ShardFormat.readManifest(dir).get
    assert(m.partitionColumn.contains("k"))
    assert(m.files.forall(_.partition.isDefined))
    assert(m.files.map(_.partition.get).sorted == Seq(0L, 1L, 2L, 3L))
    // every row of a file really carries that one key value
    val back = spark.read.format("graftshard").load(dir)
    assert(back.select(countDistinct("k")).collect()(0).getLong(0) == 4)
    assert(back.count() == 100)
    // the layout is a TABLE property: an optionless append (the INSERT
    // INTO shape) inherits it — new files still carry one key each
    spark.range(100, 110).select(col("id"), (col("id") % 4).as("k"), (col("id") * 7L).as("v"))
      .write.format("graftshard").mode("append").save(dir)
    val m2 = ShardFormat.readManifest(dir).get
    assert(m2.partitionColumn.contains("k") && m2.files.forall(_.partition.isDefined))
    assert(spark.read.format("graftshard").load(dir).count() == 110)
    // appending with a CONFLICTING partition key is rejected
    val e = intercept[Exception] {
      spark.range(110, 120).select(col("id"), (col("id") % 4).as("k"), col("id").as("v"))
        .write.format("graftshard").option("partitionKey", "v")
        .mode("append").save(dir)
    }
    assert(e.getMessage.contains("partitionKey"))
  }

  test("key-partitioned write: null keys and non-integral keys fail with clear errors") {
    val nullKey = intercept[Exception] {
      Seq[(java.lang.Long, String)]((1L, "a"), (null, "b")).toDF("k", "s")
        .write.format("graftshard").option("partitionKey", "k")
        .mode("overwrite").save(tmp())
    }
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ messages(x.getCause))
    assert(messages(nullKey).exists(_.contains("null value in partitionKey")))
    val strKey = intercept[Exception] {
      Seq((1L, "a")).toDF("k", "s")
        .write.format("graftshard").option("partitionKey", "s")
        .mode("overwrite").save(tmp())
    }
    assert(strKey.getMessage.contains("must be integral"))
  }

  test("storage-partitioned join: co-keyed tables sort-merge join with ZERO shuffle") {
    withBucketing {
      // disable broadcast: the skipping-aware stats make either side
      // broadcastable at test size, but the 100 TB shape this pins is
      // two LARGE co-keyed tables — the SMJ-without-exchange plan
      val thr = "spark.sql.autoBroadcastJoinThreshold"
      val before = spark.conf.get(thr)
      spark.conf.set(thr, "-1")
      try {
        val dirA = tmp() + "_a"
        val dirB = tmp() + "_b"
        writeKeyed(dirA, 120, 6)
        writeKeyed(dirB, 90, 6)
        val a = spark.read.format("graftshard").load(dirA)
          .groupBy("k").agg(count(lit(1)).as("na"), sum("v").as("sva"))
        val b = spark.read.format("graftshard").load(dirB)
          .groupBy("k").agg(count(lit(1)).as("nb"), sum("v").as("svb"))
        val joined = a.join(b, "k")
        val rows = joined.collect()
        // oracle: same arithmetic without the connector
        val exp = (0 until 6).map { k =>
          val ia = (0 until 120).filter(_ % 6 == k)
          val ib = (0 until 90).filter(_ % 6 == k)
          (k.toLong, ia.size.toLong, ia.map(_ * 7L).sum, ib.size.toLong, ib.map(_ * 7L).sum)
        }.toSet
        assert(rows.map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getLong(3), r.getLong(4))).toSet == exp)
        // the whole point: scans + partial/final aggs + sort-merge join,
        // and NOT ONE shuffle — the aggregates are satisfied by the
        // reported KeyGroupedPartitioning and the join by SPJ alignment
        val plan = joined.queryExecution.executedPlan.toString
        assert(plan.contains("SortMergeJoin"), s"expected a sort-merge join:\n$plan")
        assert(!plan.contains("Exchange"), s"expected ZERO exchanges:\n$plan")
        assert(plan.contains("keyGroupedBy=k"), s"grouped scan not engaged:\n$plan")
      } finally spark.conf.set(thr, before)
    }
  }

  test("key-grouped group-by: aggregation on the partition key plans without exchange") {
    withBucketing {
      val dir = tmp()
      writeKeyed(dir, 100, 4)
      // sum(v) is not manifest-answerable -> no aggregate pushdown; the
      // win here is the missing shuffle, not the missing read
      val g = spark.read.format("graftshard").load(dir)
        .groupBy("k").agg(sum("v").as("sv"))
      val rows = g.collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
      val exp = (0 until 4).map(k =>
        (k.toLong, (0 until 100).filter(_ % 4 == k).map(_ * 7L).sum)).toSeq
      assert(rows == exp)
      val plan = g.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"), s"group-by on the storage key must not shuffle:\n$plan")
    }
  }

  test("window analytics over the keyed layout run with ZERO exchange") {
    withBucketing {
      val dir = tmp()
      writeKeyed(dir, 200, 8)
      // the shape that makes keyed layout pay at scale: a window carries
      // the FULL row volume — unkeyed it shuffles the whole corpus, keyed
      // it shuffles nothing (ClusteredDistribution(k) satisfied from
      // storage); only the per-partition sort remains
      val w = org.apache.spark.sql.expressions.Window.partitionBy("k").orderBy("id")
      val df = spark.read.format("graftshard").load(dir)
        .select(col("id"), col("k"),
          sum("v").over(w).as("run_v"), row_number().over(w).as("rn"))
      val rows = df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3)))
      val exp = (0L until 200L).map { id =>
        val k = id % 8
        val prior = (0L to id).filter(_ % 8 == k)
        (id, k, prior.map(_ * 7L).sum, prior.size)
      }
      assert(rows.sorted.toSeq == exp.sorted.toSeq)
      val plan = df.queryExecution.executedPlan.toString
      assert(plan.contains("Window"), plan)
      assert(!plan.contains("Exchange"), s"keyed window must not shuffle:\n$plan")
    }
  }

  test("sorted keyed layout: windows run with ZERO exchange AND ZERO sort; appends degrade honestly") {
    withBucketing {
      val dir = tmp()
      spark.range(0, 200).select(col("id"), (col("id") % 8).as("k"), (col("id") * 7L).as("v"))
        .write.format("graftshard")
        .option("partitionKey", "k").option("sortWithinShards", "id")
        .mode("overwrite").save(dir)
      val m = ShardFormat.readManifest(dir).get
      assert(m.sortedBy.contains("id"))
      // RequiresDistributionAndOrdering clustered the write: one file per key
      assert(m.files.groupBy(_.partition).forall(_._2.size == 1))
      val w = org.apache.spark.sql.expressions.Window.partitionBy("k").orderBy("id")
      def windowDf() = spark.read.format("graftshard").load(dir)
        .select(col("id"), col("k"),
          sum("v").over(w).as("run_v"), row_number().over(w).as("rn"))
      val rows = windowDf().collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3)))
      val exp = (0L until 200L).map { id =>
        val prior = (0L to id).filter(_ % 8 == id % 8)
        (id, id % 8, prior.map(_ * 7L).sum, prior.size)
      }
      assert(rows.sorted.toSeq == exp.sorted.toSeq)
      val plan = windowDf().queryExecution.executedPlan.toString
      assert(plan.contains("Window"), plan)
      assert(!plan.contains("Exchange"), s"keyed window must not shuffle:\n$plan")
      assert(!plan.contains("Sort ["), s"sorted layout must elide the window's sort:\n$plan")

      // an EMPTY append adds no files — the surviving runs are exactly
      // as sorted as they were, the flag must survive
      spark.range(0, 0).select(col("id"), (col("id") % 8).as("k"), (col("id") * 7L).as("v"))
        .write.format("graftshard").mode("append").save(dir)
      assert(ShardFormat.readManifest(dir).get.sortedBy.contains("id"))

      // an optionless append (new files NOT declared sorted) clears the
      // flag and the Sort returns — degradation, never a wrong answer
      spark.range(200, 210).select(col("id"), (col("id") % 8).as("k"), (col("id") * 7L).as("v"))
        .write.format("graftshard").mode("append").save(dir)
      assert(ShardFormat.readManifest(dir).get.sortedBy.isEmpty)
      val plan2 = windowDf().queryExecution.executedPlan.toString
      assert(plan2.contains("Sort ["), s"unsorted append must bring the sort back:\n$plan2")
      assert(windowDf().count() == 210)
    }
  }

  test("keyed ⋈ unkeyed join shuffles ONLY the unkeyed side") {
    withBucketing {
      val shuffleKey = "spark.sql.sources.v2.bucketing.shuffle.enabled"
      val thr = "spark.sql.autoBroadcastJoinThreshold"
      val beforeS = spark.conf.getOption(shuffleKey)
      val beforeT = spark.conf.get(thr)
      spark.conf.set(shuffleKey, "true")
      spark.conf.set(thr, "-1")
      try {
        val dir = tmp()
        writeKeyed(dir, 120, 6)
        val keyed = spark.read.format("graftshard").load(dir)
        // the 100 TB shape: a huge keyed corpus joined to a small-but-not-
        // broadcastable delta — only the delta moves
        val deltaDir = tmp() + "_delta"
        (0L until 6L).map(k => (k, s"tag$k")).toDF("k", "tag")
          .write.parquet(deltaDir)
        val delta = spark.read.parquet(deltaDir)
        val joined = keyed.join(delta, "k")
        val rows = joined.collect()
        assert(rows.length == 120)
        // AQE's toString appends an "== Initial Plan ==" copy — count
        // exchanges only in the final adaptive plan
        val plan = joined.queryExecution.executedPlan.toString
          .split("== Initial Plan ==")(0)
        val exchanges = "Exchange".r.findAllIn(plan).size
        assert(exchanges == 1, s"exactly the delta side must shuffle:\n$plan")
        assert(plan.contains("Exchange keygroupedpartitioning"),
          s"the delta must shuffle TO the corpus keys:\n$plan")
        // the corpus subtree (the graftshard scan) must sit under NO exchange:
        // the one exchange repartitions the parquet delta to the corpus keys
        assert(plan.contains("keyGroupedBy=k"), plan)
      } finally {
        beforeS.fold(spark.conf.unset(shuffleKey))(spark.conf.set(shuffleKey, _))
        spark.conf.set(thr, beforeT)
      }
    }
  }

  test("key-partitioned table with bucketing opted OUT degrades to bin-packed scans") {
    // spark.sql.sources.v2.bucketing.enabled defaults to TRUE on Spark 4
    // (grouped mode is the out-of-the-box behavior); opting out must fall
    // back to bin-packed partitions and restore DPP eligibility
    val key = "spark.sql.sources.v2.bucketing.enabled"
    val before = spark.conf.get(key)
    spark.conf.set(key, "false")
    try {
      val dir = tmp()
      writeKeyed(dir, 100, 4)
      val df = spark.read.format("graftshard").load(dir).where(col("v") >= 0L)
      assert(df.count() == 100)
      val scan = scanOf(df, "degraded").scan
      // ungrouped mode keeps DPP eligibility
      val srf = scan.asInstanceOf[org.apache.spark.sql.connector.read.SupportsRuntimeFiltering]
      assert(srf.filterAttributes().nonEmpty)
      assert(scan.toBatch.planInputPartitions().length == 1, "4 tiny files pack into 1")
    } finally spark.conf.set(key, before)
  }

  // ------------------------------------------------- aggregate pushdown

  test("aggregate pushdown: count/min/max answered from the manifest ALONE") {
    val dir = tmp()
    sampleDf().write.format("graftshard").mode("overwrite").save(dir)
    // the proof of zero file opens: delete every shard file; only the
    // manifest remains
    new File(dir).listFiles().filter(_.getName.endsWith(".shard")).foreach(_.delete())
    val t = spark.read.format("graftshard").load(dir)
    val agg = t.agg(count(lit(1)).as("n"), count(col("n")).as("nn"),
      min(col("id")).as("mn"), max(col("id")).as("mx"),
      min(col("n")).as("imn"), max(col("n")).as("imx"))
    val r = agg.collect()(0)
    // ids: 1,2,3,null  n: 10,null,30,40
    assert(r.getLong(0) == 4 && r.getLong(1) == 3)
    assert(r.getLong(2) == 1L && r.getLong(3) == 3L)
    assert(r.getInt(4) == 10 && r.getInt(5) == 40)
    val planStr = agg.queryExecution.executedPlan.toString
    assert(planStr.contains("pushedAggregates"), s"aggregate not pushed:\n$planStr")
  }

  test("aggregate pushdown grouped by the partition key, from the manifest alone") {
    val dir = tmp()
    writeKeyed(dir, 100, 4)
    new File(dir).listFiles().filter(_.getName.endsWith(".shard")).foreach(_.delete())
    val g = spark.read.format("graftshard").load(dir)
      .groupBy("k").agg(count(lit(1)).as("n"), min("id").as("mn"), max("id").as("mx"))
    val rows = g.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .sorted.toSeq
    val exp = (0L until 4L).map { k =>
      val ids = (0 until 100).map(_.toLong).filter(_ % 4 == k)
      (k, ids.size.toLong, ids.min, ids.max)
    }.toSeq
    assert(rows == exp)
  }

  test("aggregate pushdown refuses when a filter was absorbed (stats would overcount)") {
    val dir = tmp()
    sampleDf().write.format("graftshard").mode("overwrite").save(dir)
    val agg = spark.read.format("graftshard").load(dir)
      .where(col("id") >= 2L)
      .agg(count(lit(1)).as("n"), max(col("id")).as("mx"))
    val r = agg.collect()(0)
    assert(r.getLong(0) == 2 && r.getLong(1) == 3L)
    val planStr = agg.queryExecution.executedPlan.toString
    assert(!planStr.contains("pushedAggregates"),
      s"filtered aggregate must NOT be answered from per-file totals:\n$planStr")
  }

  test("aggregate pushdown refuses unsupported shapes (distinct, cap-dropped string bounds)") {
    val dir = tmp()
    sampleDf().write.format("graftshard").mode("overwrite").save(dir)
    val t = spark.read.format("graftshard").load(dir)
    // a string column with one value past the 64-byte cap drops the
    // file's bounds — min/max must then refuse (no lying from stats)
    val dir2 = tmp()
    spark.range(0, 10)
      .select(col("id"), when(col("id") === 7, lit("x" * 100))
        .otherwise(concat(lit("v"), col("id"))).as("s"))
      .coalesce(1)
      .write.format("graftshard").mode("overwrite").save(dir2)
    val t2 = spark.read.format("graftshard").load(dir2)
    for ((df, tag) <- Seq(
        (t.agg(countDistinct(col("id")).as("x")), "count distinct"),
        (t2.agg(max(col("s")).as("x")), "cap-dropped string max"))) {
      assert(!df.queryExecution.executedPlan.toString.contains("pushedAggregates"),
        s"$tag must not push")
      assert(df.collect().length == 1, tag)
    }
  }

  test("string stats: file skipping, exact bounds, prefix pruning, metadata DELETE on strings") {
    val wh = TestSpark.tempDir("graft_strstats_cat")
    spark.conf.set("spark.sql.catalog.strcat", classOf[graft.sources.v2.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.strcat.warehouse", wh)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS strcat.s")
    // four files, exactly one lang each (sequential single-file appends)
    val langs = Seq("de", "en", "fr", "ja")
    val df = spark.range(0, 400)
      .select(col("id"), element_at(lit(langs.toArray), (col("id") % 4 + 1).cast("int")).as("lang"),
        concat(lit("src_"), (col("id") % 3)).as("source"))
    df.where(col("lang") === "de").coalesce(1)
      .writeTo("strcat.s.t").using("graftshard").create()
    langs.drop(1).foreach(l =>
      df.where(col("lang") === l).coalesce(1).writeTo("strcat.s.t").append())
    val dir = s"$wh/s/t"
    val m = graft.sources.v2.ShardFormat.readManifest(dir).get
    assert(m.files.nonEmpty && m.files.forall(_.strStats.contains("lang")),
      s"every file must carry lang bounds: ${m.files.map(_.strStats)}")

    def t() = spark.read.format("graftshard").load(dir)
    def files(df: DataFrame): (Int, Int) = {
      val p = df.queryExecution.executedPlan.toString
      val mt = "files=(\\d+)/(\\d+)".r.findFirstMatchIn(p).getOrElse(fail(s"no scan:\n$p"))
      (mt.group(1).toInt, mt.group(2).toInt)
    }
    val total = m.files.size
    // equality prunes to the one lang's file(s); absorbed row-level too
    val en = t().where(col("lang") === "en")
    val (s1, t1) = files(en)
    assert(t1 == total && s1 < total, s"lang='en' must prune: $s1/$t1")
    assert(en.count() == 100)
    assert(!en.queryExecution.executedPlan.toString.contains("Filter ("),
      "string equality must be absorbed, not re-filtered")
    // range predicate prunes and evaluates row-level
    val lt = t().where(col("lang") < "f")
    assert(files(lt)._1 < total)
    assert(lt.count() == 200) // de + en
    // prefix predicate prunes (source column has 3 values in every file)
    val pre = t().where(col("lang").startsWith("j"))
    assert(files(pre)._1 < total)
    assert(pre.count() == 100)
    // a miss prunes everything
    assert(files(t().where(col("lang") === "zz"))._1 == 0)
    // string MIN/MAX/COUNT answered from the manifest
    val agg = t().agg(min(col("lang")).as("mn"), max(col("lang")).as("mx"),
      count(col("lang")).as("n"))
    assert(agg.queryExecution.executedPlan.toString.contains("pushedAggregates"),
      "string min/max must push when every file carries bounds")
    val r = agg.collect()(0)
    assert((r.getString(0), r.getString(1), r.getLong(2)) == (("de", "ja", 400L)))
    // metadata-only DELETE on a string predicate: lang-clustered files
    // are provably all-in/all-out — zero rows rewritten
    val shardsBefore = Option(new File(dir).listFiles()).get
      .filter(_.getName.endsWith(".shard")).map(f => f.getName -> f.lastModified()).toMap
    spark.sql("DELETE FROM strcat.s.t WHERE lang = 'fr'")
    val after = Option(new File(dir).listFiles()).get
      .filter(_.getName.endsWith(".shard")).map(f => f.getName -> f.lastModified()).toMap
    assert(after.forall { case (n, ts) => shardsBefore.get(n).contains(ts) },
      "metadata DELETE must not touch shard bytes")
    assert(t().count() == 300 && t().where(col("lang") === "fr").count() == 0)
  }

  test("SUM pushdown: exact per-file sums answered from the manifest ALONE; overflow refuses") {
    val dir = tmp()
    spark.range(0, 1000)
      .select(col("id"), (col("id") % 7).as("k"),
        when(col("id") % 3 =!= 0, col("id") * 11L).as("maybe"))
      .repartition(col("k"))
      .write.format("graftshard").option("partitionKey", "k")
      .mode("overwrite").save(dir)
    def agg() = spark.read.format("graftshard").load(dir)
      .groupBy("k").agg(sum(col("id")).as("s"), sum(col("maybe")).as("sm"),
        count(lit(1)).as("n"))
    val plan = agg().queryExecution.executedPlan.toString
    assert(plan.contains("pushedAggregates"), s"sum must push:\n$plan")
    val expect = (0L until 1000L).groupBy(_ % 7).map { case (k, ids) =>
      k -> ((ids.sum, ids.filter(_ % 3 != 0).map(_ * 11L).sum, ids.size.toLong))
    }
    val got = agg().collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(got == expect)
    // answered with ZERO file opens: delete the shards, answers survive
    Option(new File(dir).listFiles()).get
      .filter(_.getName.endsWith(".shard")).foreach(_.delete())
    assert(agg().collect().length == 7, "sum must come from the manifest alone")

    // a table whose total WOULD overflow refuses the pushdown (the real
    // scan then raises Spark's own ANSI error, never a wrapped lie)
    val dir2 = tmp()
    spark.range(0, 4).select((lit(Long.MaxValue / 2)).as("v"))
      .coalesce(1)
      .write.format("graftshard").mode("overwrite").save(dir2)
    val df2 = spark.read.format("graftshard").load(dir2).agg(sum(col("v")))
    assert(!df2.queryExecution.executedPlan.toString.contains("pushedAggregates"),
      "overflowing sum must refuse the pushdown")
  }

  test("SUM pushdown over decimals: unscaled sums answer as decimal(p+10,s) from the manifest alone") {
    val dir = tmp()
    spark.range(0, 1000)
      .select((col("id") % 7).as("k"),
        expr("CAST(id * 0.25 AS DECIMAL(12,2))").as("amt"),
        when(col("id") % 3 =!= 0, expr("CAST(id * 0.5 AS DECIMAL(10,2))")).as("maybe"))
      .repartition(col("k"))
      .write.format("graftshard").option("partitionKey", "k")
      .mode("overwrite").save(dir)
    def agg() = spark.read.format("graftshard").load(dir)
      .groupBy("k").agg(sum(col("amt")).as("s"), sum(col("maybe")).as("sm"))
    val plan = agg().queryExecution.executedPlan.toString
    assert(plan.contains("pushedAggregates"), s"decimal sum must push:\n$plan")
    val expect = (0L until 1000L).groupBy(_ % 7).map { case (k, ids) =>
      k -> ((BigDecimal(ids.map(_ * 25).sum, 2), // id*0.25 at scale 2
        BigDecimal(ids.filter(_ % 3 != 0).map(_ * 50).sum, 2)))
    }
    val got = agg().collect().map { r =>
      r.getLong(0) -> ((BigDecimal(r.getDecimal(1)), BigDecimal(r.getDecimal(2))))
    }.toMap
    assert(got == expect, s"got $got")
    // the result type is Spark's own sum type: decimal(p+10, s)
    assert(agg().schema("s").dataType ==
      org.apache.spark.sql.types.DecimalType(22, 2))
    // answered with ZERO file opens
    Option(new File(dir).listFiles()).get
      .filter(_.getName.endsWith(".shard")).foreach(_.delete())
    assert(agg().collect().length == 7, "decimal sum must come from the manifest alone")
    // global (ungrouped) decimal sum pushes too
    val g = spark.read.format("graftshard").load(dir).agg(sum(col("amt")))
    assert(g.queryExecution.executedPlan.toString.contains("pushedAggregates"))
    assert(BigDecimal(g.collect().head.getDecimal(0)) ==
      BigDecimal((0L until 1000L).map(_ * 25).sum, 2))
  }

  test("limit pushdown: LIMIT n plans only the files that cover n rows") {
    val dir = tmp()
    spark.range(0, 1000).withColumn("payload", concat(lit("row"), col("id")))
      .repartitionByRange(4, col("id"))
      .write.format("graftshard").mode("overwrite").save(dir)
    val limited = spark.read.format("graftshard").load(dir).limit(10)
    assert(limited.collect().length == 10)
    val desc = scanOf(limited, "limit").scan.description()
    assert(desc.contains("files=1/4") && desc.contains("limit=10"),
      s"LIMIT 10 over 4x250-row shards must plan ONE file: $desc")
    // with an absorbed filter, manifest row counts overcount what the
    // reader emits — the file list must NOT be cut (reader caps instead)
    val filtered = spark.read.format("graftshard").load(dir)
      .where(col("id") >= 300L).limit(10)
    assert(filtered.collect().length == 10)
    assert(filtered.collect().forall(_.getLong(0) >= 300L))
    val fdesc = scanOf(filtered, "limit+filter").scan.description()
    assert(fdesc.contains("files=3/4"),
      s"absorbed filter must keep stats-surviving files un-cut: $fdesc")
  }

  test("_shard_file metadata column: row provenance without a stored column") {
    val dir = tmp()
    spark.range(0, 100).withColumn("v", col("id") * 3)
      .repartitionByRange(4, col("id"))
      .write.format("graftshard").mode("overwrite").save(dir)
    val withMeta = spark.read.format("graftshard").load(dir)
      .select(col("id"), col("_shard_file"))
    val rows = withMeta.collect().map(r => (r.getLong(0), r.getString(1)))
    assert(rows.length == 100)
    assert(rows.forall(_._2.endsWith(".shard")))
    // range-partitioned write: ids of one file are contiguous, so each
    // file name maps to a contiguous id range and 4 files surface
    assert(rows.map(_._2).distinct.length == 4)
    val m = ShardFormat.readManifest(dir).get
    assert(rows.map(_._2).toSet == m.files.map(_.name).toSet)
    // filters on the metadata column stay ABOVE the scan (not pushable)
    // and work: read back only the file that holds id 0
    val f0 = rows.find(_._1 == 0L).get._2
    val one = spark.read.format("graftshard").load(dir)
      .where(col("_shard_file") === f0).agg(count(lit(1))).collect()(0).getLong(0)
    assert(one == 25)
    // unreferenced -> pruned: plain reads have no metadata column
    assert(!spark.read.format("graftshard").load(dir).columns.contains("_shard_file"))
  }

  test("vacuum reclaims aged orphans and overwritten generations, never live or recent files") {
    import graft.sources.v2.GraftShardMaintenance
    val dir = tmp()
    Seq((1L, "a"), (2L, "b")).toDF("id", "s")
      .write.format("graftshard").mode("overwrite").save(dir)
    val gen1 = new File(dir).listFiles().filter(_.getName.endsWith(".shard")).map(_.getName).toSet
    // overwrite: gen-1 files become unreferenced garbage
    Seq((3L, "c")).toDF("id", "s")
      .write.format("graftshard").mode("overwrite").save(dir)
    // plus a crashed-attempt orphan
    val orphan = new File(dir, "part-99999-0-deadbeef.shard")
    java.nio.file.Files.write(orphan.toPath, Array[Byte](1, 2, 3))
    // a RECENT orphan must survive any horizon > 0 (in-flight write safety)
    val recent = new File(dir, "part-88888-0-cafebabe.shard")
    java.nio.file.Files.write(recent.toPath, Array[Byte](9))
    // age the dead generation + orphan past the horizon
    (gen1 + orphan.getName).foreach(n =>
      assert(new File(dir, n).setLastModified(System.currentTimeMillis() - 100000)))
    recent.setLastModified(System.currentTimeMillis())

    // retained SNAPSHOTS pin the overwritten generation: vacuum must not
    // break loadable history — only the crashed-attempt orphan goes
    val pinned = GraftShardMaintenance.vacuum(dir, minAgeMs = 50000)
    assert(pinned.deleted == Seq(orphan.getName))
    assert(spark.read.format("graftshard").option("versionAsOf", "1").load(dir)
      .count() == 2, "gen-1 snapshot must still read after vacuum")

    // expire history, THEN vacuum reclaims what only it referenced
    val expired = GraftShardMaintenance.expireSnapshots(dir, keepLast = 1)
    assert(expired == Seq(1L))
    val report = GraftShardMaintenance.vacuum(dir, minAgeMs = 50000)
    assert(report.deleted.toSet == gen1)
    assert(report.keptRecent == Seq(recent.getName))
    assert(report.keptLive == 1)
    // the table still reads exactly its committed contents
    assert(spark.read.format("graftshard").load(dir).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq == Seq((3L, "c")))
    // non-table directory: clear error, nothing deleted
    val e = intercept[IllegalArgumentException] {
      GraftShardMaintenance.vacuum(tmp() + "_missing")
    }
    assert(e.getMessage.contains("not a graftshard table"))
  }

  test("float arrays with containsNull=true (the parquet default) roundtrip; null elements fail clearly") {
    val dir = tmp()
    // cast to the SQL type: containsNull=true, the shape every parquet
    // list column arrives in — must be writable without a risky recast
    val df = spark.range(0, 5).select(col("id"),
      array(col("id").cast("float"), lit(2.0f)).cast("array<float>").as("vec"))
    assert(df.schema("vec").dataType.asInstanceOf[ArrayType].containsNull)
    df.write.format("graftshard").mode("overwrite").save(dir)
    val back = spark.read.format("graftshard").load(dir)
      .select(col("id"), element_at(col("vec"), 1).as("v1"))
      .collect().map(r => (r.getLong(0), r.getFloat(1))).sorted.toSeq
    assert(back == (0L until 5L).map(i => (i, i.toFloat)))
    // appends across the containsNull flag work BOTH ways — the record
    // format is identical, so the schema check normalizes it away
    val strict = spark.range(5, 7).select(col("id"),
      array(col("id").cast("float")).as("vec")) // containsNull=false
    assert(!strict.schema("vec").dataType.asInstanceOf[ArrayType].containsNull)
    strict.write.format("graftshard").mode("append").save(dir)
    assert(spark.read.format("graftshard").load(dir).count() == 7)
    // a null ELEMENT has no encoding — the task fails with the column name
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ messages(x.getCause))
    val e = intercept[Exception] {
      spark.sql("SELECT id, array(cast(id AS FLOAT), NULL) AS vec FROM range(0, 3)")
        .write.format("graftshard").mode("overwrite").save(tmp())
    }
    assert(messages(e).exists(_.contains("null element in float array column 'vec'")))
  }

  test("zero-column read (count star) and empty-partition shards") {
    val dir = tmp()
    // 8 partitions, 3 rows: empty partitions must not leave files
    Seq(1L, 2L, 3L).toDF("id").repartition(8)
      .write.format("graftshard").mode("overwrite").save(dir)
    assert(new File(dir).listFiles().count(_.getName.endsWith(".shard")) <= 3)
    assert(spark.read.format("graftshard").load(dir).count() == 3)
  }

  test("keyed write past the open-writer cap rotates files instead of holding every key open") {
    val dir = tmp()
    // ONE task, 16 interleaved keys, cap 4: rotation must fire repeatedly
    // (a returning key reopens a fresh file), and the result must stay
    // exactly one key per FILE with nothing lost
    spark.range(0, 160).coalesce(1)
      .select(col("id"), (col("id") % 16).as("k"), (col("id") * 3L).as("v"))
      .write.format("graftshard")
      .option("partitionKey", "k").option("maxOpenWriters", "4")
      .mode("overwrite").save(dir)
    val m = ShardFormat.readManifest(dir).get
    assert(m.files.forall(_.partition.isDefined))
    // cap 4 over 16 interleaved keys: strictly more files than keys
    assert(m.files.size > 16, s"expected rotation to split keys, got ${m.files.size} files")
    val back = spark.read.format("graftshard").load(dir)
    assert(back.count() == 160)
    assert(back.agg(sum("v")).collect()(0).getLong(0) == (0L until 160L).map(_ * 3).sum)
    // one key per file still holds: per-key stats ranges never cross keys
    m.files.foreach { fe =>
      val k = fe.partition.get
      val (mn, mx, _) = fe.stats("k")
      assert(mn == k && mx == k, s"file ${fe.name} mixes keys: [$mn,$mx] vs $k")
    }
    // grouped reads still line up: group-by on the key with zero exchange
    val agg = back.groupBy("k").agg(count(lit(1)).as("n"))
    assert(agg.collect().forall(_.getLong(1) == 10))
  }

  test("CAS roll-forward: a crash between the version link and the pointer refresh hides nothing") {
    val dir = tmp()
    spark.range(0, 10).toDF("id")
      .write.format("graftshard").mode("overwrite").save(dir)   // v1
    spark.range(10, 20).toDF("id")
      .write.format("graftshard").mode("append").save(dir)      // v2
    val m = ShardFormat.readManifest(dir).get
    assert(m.version == 2L && ShardFormat.listVersions(dir) == Seq(1L, 2L))
    // commit v3 for real, then REGRESS the pointer to v2's content —
    // byte-exactly the state a committer crashing (or fenced) between
    // the CAS link and the pointer refresh leaves behind
    spark.range(20, 30).toDF("id")
      .write.format("graftshard").mode("append").save(dir)      // v3
    java.nio.file.Files.copy(
      ShardFormat.versionFile(dir, 2L).toPath,
      ShardFormat.manifestFile(dir).toPath,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    // the LINK is the commit: every read rolls forward past the hint
    assert(ShardFormat.readManifest(dir).get.version == 3L)
    assert(ShardFormat.listVersions(dir) == Seq(1L, 2L, 3L))
    assert(spark.read.format("graftshard").load(dir).count() == 30)
    assert(spark.read.format("graftshard")
      .option("versionAsOf", "3").load(dir).count() == 30)
    // the next commit bases on the true head and heals the pointer
    spark.range(30, 40).toDF("id")
      .write.format("graftshard").mode("append").save(dir)      // v4
    assert(ShardFormat.readManifest(dir).get.version == 4L)
    def pointerVersion(): Long = {
      val txt = new String(Files.readAllBytes(
        ShardFormat.manifestFile(dir).toPath), "UTF-8")
      """"manifestVersion"\s*:\s*(\d+)""".r.findFirstMatchIn(txt).get.group(1).toLong
    }
    assert(pointerVersion() == 4L,
      "a successful commit must refresh the pointer to the head")
    assert(spark.read.format("graftshard").load(dir).count() == 40)

    // a concurrent claim of the same version loses the CAS loudly:
    // simulate the stale committer by pre-linking v5 out from under a
    // normal write
    val m4 = ShardFormat.readManifest(dir).get
    java.nio.file.Files.copy(
      ShardFormat.versionFile(dir, 4L).toPath,
      ShardFormat.versionFile(dir, 5L).toPath)
    val e = intercept[Exception] {
      ShardFormat.writeManifest(dir, m4.copy(version = 5L))
    }
    assert(e.getMessage.contains("CAS lost"), e.getMessage)
    java.nio.file.Files.delete(ShardFormat.versionFile(dir, 5L).toPath)

    // expire under a lagging pointer heals it BEFORE deleting, so the
    // roll-forward walk never strands
    java.nio.file.Files.copy(
      ShardFormat.versionFile(dir, 2L).toPath,
      ShardFormat.manifestFile(dir).toPath,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    val expired = graft.sources.v2.GraftShardMaintenance
      .expireSnapshots(dir, keepLast = 1)
    assert(expired == Seq(1L, 2L, 3L), s"expired=$expired")
    assert(pointerVersion() == 4L, "expire must heal the pointer first")
    assert(spark.read.format("graftshard").load(dir).count() == 40)
  }
}
