package graft


import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.v2.{GraftShardMaintenance, ShardFormat}

/** Time-transform partitioning (`PARTITIONED BY (days(ts))` — Iceberg's
  * hidden partitioning re-expressed): the partition value is the time
  * unit's ordinal of the micros key, recorded per file like any
  * identity key, so clustering, dynamic overwrite, compaction pooling
  * and storage-partitioned alignment all ride the existing machinery. */
class GraftShardTimePartitionSpec extends AnyFunSuite {
  private lazy val spark = {
    val s = TestSpark.spark
    s.conf.set("spark.sql.catalog.tpcat", classOf[graft.sources.v2.GraftCatalog].getName)
    s.conf.set("spark.sql.catalog.tpcat.warehouse", warehouse)
    s
  }
  private lazy val warehouse = TestSpark.tempDir("graft_tp_spec")
  import spark.implicits._

  private def tmp(): String = TestSpark.tempDir("graft_tp_spec_t") + "/t"

  private val Epoch0 = 1704067200000000L // 2024-01-01T00:00:00Z
  private val Day = 86400000000L

  /** n rows spread over `days` days, every minute-ish. */
  private def frame(n: Long, days: Int): DataFrame =
    spark.range(0, n).select(
      col("id"),
      timestamp_micros(lit(Epoch0) + (col("id") % days) * Day
        + (col("id") * 61000000L) % Day).as("ts"),
      (col("id") * 3L).as("v"))

  test("transformValue: unit ordinals match the UTC calendar, floored for negatives") {
    assert(ShardFormat.transformValue("days", Epoch0) == 19723L) // 2024-01-01
    assert(ShardFormat.transformValue("days", Epoch0 - 1L) == 19722L)
    assert(ShardFormat.transformValue("hours", Epoch0) == 19723L * 24)
    assert(ShardFormat.transformValue("months", Epoch0) == (2024 - 1970) * 12)
    assert(ShardFormat.transformValue("months", Epoch0 + 30L * Day) == (2024 - 1970) * 12) // Jan 31
    assert(ShardFormat.transformValue("months", Epoch0 + 31L * Day) == (2024 - 1970) * 12 + 1) // Feb 1
    assert(ShardFormat.transformValue("years", Epoch0) == 54L)
    assert(ShardFormat.transformValue("days", -1L) == -1L) // pre-epoch floors down
  }

  test("catalog DDL: PARTITIONED BY (days(ts)) clusters one day per file; refusals are typed") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS tpcat.tp")
    spark.sql("DROP TABLE IF EXISTS tpcat.tp.ev")
    spark.sql(
      "CREATE TABLE tpcat.tp.ev (id BIGINT, ts TIMESTAMP, v BIGINT) " +
        "USING graftshard PARTITIONED BY (days(ts))")
    frame(3000, 5).writeTo("tpcat.tp.ev").append()
    val dir = s"$warehouse/tp/ev"
    val m = ShardFormat.readManifest(dir).get
    assert(m.partitioning.contains(ShardFormat.TransformPart("days", "ts")))
    assert(m.files.nonEmpty && m.files.forall(_.partition.isDefined))
    // one day ordinal per FILE, 5 distinct days total
    assert(m.files.flatMap(_.partition).toSet ==
      (0 until 5).map(d => 19723L + d).toSet)
    // every row is in its file's day: read back with provenance
    val rows = spark.read.format("graftshard").load(dir)
      .select(col("_shard_file"), col("ts")).collect()
    val byFile = m.files.map(fe => fe.name -> fe.partition.get).toMap
    rows.foreach { r =>
      val day = ShardFormat.transformValue("days", r.getTimestamp(1).getTime * 1000L)
      assert(byFile(r.getString(0)) == day, s"row in wrong day file: $r")
    }
    // refusals
    val e1 = intercept[Exception] {
      spark.sql("CREATE TABLE tpcat.tp.bad (id BIGINT, ts TIMESTAMP) " +
        "USING graftshard PARTITIONED BY (days(id))")
    }
    assert(e1.getMessage.contains("needs a timestamp column"), e1.getMessage)
  }

  test("path writes: option(partitionKey, ts) + option(partitionTransform, hours); append spec must match") {
    val dir = tmp()
    frame(2000, 2).repartition(col("ts"))
      .write.format("graftshard")
      .option("partitionKey", "ts").option("partitionTransform", "hours")
      .mode("overwrite").save(dir)
    val m = ShardFormat.readManifest(dir).get
    assert(m.partitioning.contains(ShardFormat.TransformPart("hours", "ts")))
    assert(m.files.flatMap(_.partition).distinct.size == 48)
    // reading back agrees with the frame
    val got = spark.read.format("graftshard").load(dir)
      .agg(count(lit(1)), sum("v")).collect().head
    assert(got.getLong(0) == 2000 && got.getLong(1) == (0L until 2000L).map(_ * 3).sum)
    // a mismatched append spec refuses
    val e = intercept[Exception] {
      frame(10, 2).write.format("graftshard")
        .option("partitionKey", "ts").option("partitionTransform", "days")
        .mode("append").save(dir)
    }
    assert(e.getMessage.contains("does not match"), e.getMessage)
    // day predicates prune hour-partitioned files via micros stats
    val cut = new java.sql.Timestamp((Epoch0 + Day) / 1000)
    val lastDay = spark.read.format("graftshard").load(dir).where(col("ts") >= lit(cut))
    assert(lastDay.count() ==
      frame(2000, 2).where(col("ts") >= lit(cut)).count())
  }

  test("dynamic partition overwrite replaces exactly the incoming days") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS tpcat.tp")
    spark.sql("DROP TABLE IF EXISTS tpcat.tp.dyn")
    spark.sql(
      "CREATE TABLE tpcat.tp.dyn (id BIGINT, ts TIMESTAMP, v BIGINT) " +
        "USING graftshard PARTITIONED BY (days(ts))")
    frame(1000, 4).writeTo("tpcat.tp.dyn").append()
    val dir = s"$warehouse/tp/dyn"
    // re-materialize ONLY day 1 with negated v
    val day1 = frame(1000, 4).where(
      col("ts") >= timestamp_micros(lit(Epoch0 + Day)) &&
        col("ts") < timestamp_micros(lit(Epoch0 + 2 * Day)))
      .select(col("id"), col("ts"), (col("v") * -1L).as("v"))
    day1.writeTo("tpcat.tp.dyn").overwritePartitions()
    val t = spark.read.format("graftshard").load(dir)
    assert(t.count() == 1000)
    assert(t.where(col("v") < 0).count() == day1.count())
    // untouched days carried by identity (same file names)
    val m = ShardFormat.readManifest(dir).get
    assert(m.files.count(_.partition.contains(19723L)) > 0)
  }

  test("compaction pools per day; CALL set_partitioning accepts days(ts)") {
    val dir = tmp()
    // several small appends per day -> multiple files per day ordinal
    (0 until 3).foreach { i =>
      frame(300, 2).where(col("id") % 3 === i).repartition(col("ts"))
        .write.format("graftshard")
        .option("partitionKey", "ts").option("partitionTransform", "days")
        .mode(if (i == 0) "overwrite" else "append").save(dir)
    }
    val before = ShardFormat.readManifest(dir).get
    assert(before.files.size > 2)
    val rep = GraftShardMaintenance.compact(spark, dir, targetBytes = 1L << 30)
    val after = ShardFormat.readManifest(dir).get
    assert(rep.groups > 0)
    // per-day pooling survives: still one day per file, 2 days
    assert(after.files.forall(_.partition.isDefined))
    assert(after.files.flatMap(_.partition).toSet == Set(19723L, 19724L))
    assert(spark.read.format("graftshard").load(dir).count() == 300)

    // partition evolution onto a transform spec (metadata-only)
    val dir2 = tmp()
    frame(50, 2).coalesce(1).write.format("graftshard").mode("overwrite").save(dir2)
    val r = GraftShardMaintenance.setPartitioning(dir2,
      GraftShardMaintenance.parsePartSpec("days(ts)"))
    assert(r.spec.contains(ShardFormat.TransformPart("days", "ts")))
    // new writes cluster under the new spec
    frame(50, 2).repartition(col("ts")).write.format("graftshard")
      .mode("append").save(dir2)
    val m2 = ShardFormat.readManifest(dir2).get
    assert(m2.files.exists(_.partition.isDefined))
    assert(spark.read.format("graftshard").load(dir2).count() == 100)
  }

  test("storage-partitioned join on days(ts): two co-transformed tables join with ZERO shuffle") {
    val key = "spark.sql.sources.v2.bucketing.enabled"
    val pv = "spark.sql.sources.v2.bucketing.pushPartValues.enabled"
    val thr = "spark.sql.autoBroadcastJoinThreshold"
    val before = (spark.conf.getOption(key), spark.conf.getOption(pv), spark.conf.get(thr))
    spark.conf.set(key, "true"); spark.conf.set(pv, "true")
    spark.conf.set(thr, "-1")
    try {
      spark.sql("CREATE NAMESPACE IF NOT EXISTS tpcat.tp")
      Seq("spj_a", "spj_b").foreach { t =>
        spark.sql(s"DROP TABLE IF EXISTS tpcat.tp.$t")
        spark.sql(s"CREATE TABLE tpcat.tp.$t (id BIGINT, ts TIMESTAMP, v BIGINT) " +
          "USING graftshard PARTITIONED BY (days(ts))")
      }
      frame(600, 6).writeTo("tpcat.tp.spj_a").append()
      frame(360, 6).writeTo("tpcat.tp.spj_b").append()
      // per-day rollups joined BY DAY: both sides group and align on the
      // recorded day ordinal — no exchange anywhere
      val a = spark.table("tpcat.tp.spj_a")
        .groupBy(col("ts")).agg(sum("v").as("va"))
      val b = spark.table("tpcat.tp.spj_b")
        .groupBy(col("ts")).agg(sum("v").as("vb"))
      val joined = a.join(b, "ts")
      val got = joined.agg(count(lit(1)), sum("va"), sum("vb")).collect().head
      // oracle without the connector
      val oa = frame(600, 6).groupBy("ts").agg(sum("v").as("va"))
      val ob = frame(360, 6).groupBy("ts").agg(sum("v").as("vb"))
      val exp = oa.join(ob, "ts").agg(count(lit(1)), sum("va"), sum("vb")).collect().head
      assert(got == exp)
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("keyGroupedBy=days(ts)"), s"grouped scan not engaged:\n$plan")
      assert(!plan.contains("Exchange"), s"expected ZERO exchanges:\n$plan")
    } finally {
      before._1.fold(spark.conf.unset(key))(spark.conf.set(key, _))
      before._2.fold(spark.conf.unset(pv))(spark.conf.set(pv, _))
      spark.conf.set(thr, before._3)
    }
  }
}
