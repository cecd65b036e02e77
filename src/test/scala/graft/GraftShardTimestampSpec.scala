package graft


import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.FilterExec
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.v2.ShardFormat

/** TimestampType at rest: timestamps store as epoch-micros longs
  * (Spark's own InternalRow currency) behind their own header tag, so
  * every long code path — codecs, stats, group skipping, blooms,
  * bulk/batch decode, upsert keys, aggregate pushdown — carries over
  * with micros order = timestamp order. These pins cover each face. */
class GraftShardTimestampSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def tmp(): String = TestSpark.tempDir("graft_ts_spec") + "/t"

  // base epoch 2024-01-01T00:00:00Z in micros
  private val Epoch0 = 1704067200000000L

  /** n rows, one per minute from Epoch0; every 11th ts NULL. */
  private def frame(n: Long): DataFrame =
    spark.range(0, n).select(
      col("id"),
      when(col("id") % 11 =!= 0,
        timestamp_micros(lit(Epoch0) + col("id") * 60000000L)).as("ts"),
      (col("id") % 5).as("grp"))

  private def planOf(df: DataFrame): String =
    df.queryExecution.executedPlan.toString

  private def scanOf(df: DataFrame): BatchScanExec =
    df.queryExecution.executedPlan.collectLeaves()
      .collectFirst { case b: BatchScanExec => b }
      .getOrElse(fail(s"no BatchScanExec:\n${planOf(df)}"))

  test("roundtrip: timestamps (with nulls) survive exactly; schema reads back TimestampType") {
    val dir = tmp()
    frame(1000).write.format("graftshard").mode("overwrite").save(dir)
    val back = spark.read.format("graftshard").load(dir)
    assert(back.schema("ts").dataType == TimestampType)
    def canon(df: DataFrame): Seq[(Long, Long)] = df.collect().map(r =>
      (r.getLong(0),
        Option(r.getTimestamp(1)).map(_.getTime).getOrElse(Long.MinValue)))
      .sortBy(_._1).toSeq
    val exp = canon(frame(1000))
    val got = canon(back)
    assert(got == exp)
    // full microsecond precision: the batch read equals the written rows
    assert(frame(1000).collect().map(_.toString).sorted.toSeq ==
      back.collect().map(_.toString).sorted.toSeq)
    assert(planOf(back).contains("ColumnarToRow"),
      s"timestamp scans must stay columnar:\n${planOf(back)}")
  }

  test("timestamp predicates absorb (no FilterExec), match Spark's own evaluation, and skip files") {
    val dir = tmp()
    // range-partitioned by id == time order -> disjoint ts ranges per file
    frame(4000).repartitionByRange(4, col("id"))
      .write.format("graftshard").mode("overwrite").save(dir)
    val t = spark.read.format("graftshard").load(dir)
    val oracle = frame(4000)
    val cut = new java.sql.Timestamp((Epoch0 + 3000L * 60000000L) / 1000)
    for (pred <- Seq(
        col("ts") >= lit(cut), col("ts") < lit(cut),
        col("ts") === lit(new java.sql.Timestamp((Epoch0 + 60000000L) / 1000)),
        col("ts").isNull, col("ts").isNotNull)) {
      val got = t.where(pred).select("id").collect().map(_.getLong(0)).sorted.toSeq
      val exp = oracle.where(pred).select("id").collect().map(_.getLong(0)).sorted.toSeq
      assert(got == exp, s"predicate $pred")
    }
    val absorbed = t.where(col("ts") >= lit(cut))
    assert(absorbed.queryExecution.executedPlan
      .collect { case f: FilterExec => f }.isEmpty,
      "timestamp comparisons must absorb into the scan")
    // manifest micros stats prune whole files: the top quarter only
    val desc = scanOf(absorbed).scan.description()
    assert(desc.contains("files=1/4"), s"expected file skipping, got: $desc")
  }

  test("codecs on the micros long path: delta shrinks sorted ts, deflate roundtrips, dict table carries ts") {
    val raw = tmp(); val packed = tmp()
    frame(30000).coalesce(1)
      .write.format("graftshard").mode("overwrite").save(raw)
    frame(30000).coalesce(1)
      .write.format("graftshard").option("compression", "deflate")
      .mode("overwrite").save(packed)
    def bytesOf(d: String) =
      new java.io.File(d).listFiles().filter(_.getName.endsWith(".shard")).map(_.length).sum
    // minute-spaced sorted micros are delta-friendly: the packed file
    // must shrink (delta-varint or deflate wins the per-chunk contest)
    assert(bytesOf(packed) < bytesOf(raw),
      s"packed=${bytesOf(packed)} raw=${bytesOf(raw)}")
    val a = spark.read.format("graftshard").load(raw).collect().map(_.toString).sorted.toSeq
    val b = spark.read.format("graftshard").load(packed).collect().map(_.toString).sorted.toSeq
    assert(a == b)
  }

  test("MIN/MAX/COUNT over timestamps answer from the manifest alone; upsert keyed BY a timestamp") {
    val dir = tmp()
    frame(2000).where(col("ts").isNotNull)
      .repartitionByRange(3, col("id"))
      .write.format("graftshard").mode("overwrite").save(dir)
    val t = spark.read.format("graftshard").load(dir)
    val r = t.agg(min("ts"), max("ts"), count("ts")).collect().head
    assert(r.getTimestamp(0).getTime == (Epoch0 + 60000000L) / 1000) // id=1 (id=0 is null-ts)
    assert(r.getTimestamp(1).getTime == (Epoch0 + 1999L * 60000000L) / 1000)
    assert(r.getLong(2) == 2000 - 182) // 182 null-ts ids in [0,2000)
    // manifest-only: the agg is pushed whole (and survives the delete
    // of every shard file — zero file opens)
    val aggPlan = t.agg(min("ts"), max("ts")).queryExecution.executedPlan.toString
    assert(aggPlan.contains("pushedAggregates"), s"aggregate not pushed:\n$aggPlan")
    new java.io.File(dir).listFiles().filter(_.getName.endsWith(".shard")).foreach(_.delete())
    val r2 = spark.read.format("graftshard").load(dir)
      .agg(min("ts"), max("ts")).collect().head
    assert(r2.getTimestamp(0).getTime == (Epoch0 + 60000000L) / 1000)

    // upsert keyed by the timestamp itself (event-time dedup): the key
    // set compares micros as longs
    val up = tmp()
    frame(500).where(col("ts").isNotNull).coalesce(1)
      .write.format("graftshard").mode("overwrite").save(up)
    frame(500).where(col("ts").isNotNull && col("id") % 50 === 1)
      .select(col("id") + 100000L as "id", col("ts"), lit(-1L).as("grp"))
      .coalesce(1).write.format("graftshard").option("upsertKey", "ts")
      .mode("append").save(up)
    val after = spark.read.format("graftshard").load(up)
    val rows = after.collect().map(r => (r.getLong(0), r.getLong(2))).toSeq
    assert(after.count() == frame(500).where(col("ts").isNotNull).count())
    assert(rows.count(_._2 == -1L) ==
      frame(500).where(col("ts").isNotNull && col("id") % 50 === 1).count())
  }

  test("TIMESTAMP_NTZ (the parquet-inference default) rides the same micros path end to end") {
    val dir = tmp()
    val ntz = frame(2000).select(col("id"),
      col("ts").cast(TimestampNTZType).as("ts"), col("grp"))
    ntz.repartitionByRange(3, col("id"))
      .write.format("graftshard").mode("overwrite").save(dir)
    val back = spark.read.format("graftshard").load(dir)
    assert(back.schema("ts").dataType == TimestampNTZType)
    assert(back.count() == 2000)
    // values exact vs the source frame
    def canon(df: DataFrame): Seq[String] =
      df.select(col("id"), col("ts").cast("string")).collect()
        .map(_.toString).sorted.toSeq
    assert(canon(back) == canon(ntz))
    // NTZ literals push down (LocalDateTime -> micros) and skip files
    val cut = java.time.LocalDateTime.ofEpochSecond(
      (Epoch0 + 1500L * 60000000L) / 1000000L, 0, java.time.ZoneOffset.UTC)
    val f = back.where(col("ts") >= lit(cut))
    assert(f.queryExecution.executedPlan
      .collect { case x: FilterExec => x }.isEmpty, "NTZ predicate must absorb")
    assert(f.count() == ntz.where(col("ts") >= lit(cut)).count())
    val desc = scanOf(f).scan.description()
    assert(desc.contains("files=1/3"), s"expected NTZ file skipping: $desc")
    // days() partitioning over NTZ
    val pdir = tmp()
    ntz.where(col("ts").isNotNull).repartition(col("ts"))
      .write.format("graftshard")
      .option("partitionKey", "ts").option("partitionTransform", "days")
      .mode("overwrite").save(pdir)
    val m = ShardFormat.readManifest(pdir).get
    assert(m.partitioning.contains(ShardFormat.TransformPart("days", "ts")))
    assert(m.files.forall(_.partition.isDefined))
    assert(spark.read.format("graftshard").load(pdir).count() ==
      ntz.where(col("ts").isNotNull).count())
  }

  test("DateType rides the int path: roundtrip, absorbed predicates, skipping, manifest MIN/MAX") {
    val dir = tmp()
    val df = spark.range(0, 3000).select(
      col("id"),
      when(col("id") % 13 =!= 0,
        date_add(lit(java.sql.Date.valueOf("2024-01-01")),
          (col("id") % 400).cast("int"))).as("d"),
      (col("id") * 2L).as("v"))
    df.repartitionByRange(3, col("id"))
      .write.format("graftshard").mode("overwrite").save(dir)
    val back = spark.read.format("graftshard").load(dir)
    assert(back.schema("d").dataType == DateType)
    def canon(x: DataFrame): Seq[String] =
      x.select(col("id"), col("d").cast("string")).collect().map(_.toString).sorted.toSeq
    assert(canon(back) == canon(df))
    // predicates: java.sql.Date AND LocalDate literal shapes
    for (pred <- Seq(
        col("d") >= lit(java.sql.Date.valueOf("2024-06-01")),
        col("d") === lit(java.time.LocalDate.of(2024, 2, 1)),
        col("d").isNull)) {
      assert(back.where(pred).count() == df.where(pred).count(), s"$pred")
    }
    val absorbed = back.where(col("d") >= lit(java.sql.Date.valueOf("2024-06-01")))
    assert(absorbed.queryExecution.executedPlan
      .collect { case f: FilterExec => f }.isEmpty, "date predicates must absorb")
    // manifest-only MIN/MAX answers as date
    val r = back.agg(min("d"), max("d")).collect().head
    assert(r.getDate(0) == java.sql.Date.valueOf("2024-01-01"))
    assert(r.getDate(1) == java.sql.Date.valueOf(java.time.LocalDate
      .of(2024, 1, 1).plusDays(399).toString))
    val aggPlan = back.agg(min("d"), max("d")).queryExecution.executedPlan.toString
    assert(aggPlan.contains("pushedAggregates"), aggPlan)
  }

  test("group skipping and blooms fire on timestamp columns") {
    val dir = tmp()
    // one sorted file, many groups; a narrow ts band must not decode
    // every group: assert via the row-count-correctness + bloom sidecar
    spark.sql("SET spark.sql.shuffle.partitions=4")
    frame(20000).where(col("ts").isNotNull)
      .orderBy("ts").coalesce(1)
      .write.format("graftshard").option("bloomColumns", "ts")
      .mode("overwrite").save(dir)
    assert(new java.io.File(dir).listFiles().exists(_.getName.endsWith(".bloom")))
    val t = spark.read.format("graftshard").load(dir)
    val probe = new java.sql.Timestamp((Epoch0 + 777L * 60000000L) / 1000)
    assert(t.where(col("ts") === lit(probe)).count() == 1)
    val missProbe = new java.sql.Timestamp((Epoch0 - 60000000L) / 1000)
    assert(t.where(col("ts") === lit(missProbe)).count() == 0)
    val m = ShardFormat.readManifest(dir).get
    // micros min/max stats recorded like any integral column
    val st = m.files.head.stats("ts")
    assert(st._1 == Epoch0 + 60000000L && st._3 == 0L)
  }
}
