package graft

import java.io.File

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.v2.{GraftShardMaintenance, ShardFormat}

/** Equality deletes + UPSERT ingestion (`option("upsertKey", col)`) —
  * the Iceberg-v2 idea: an upsert commit writes its insert files PLUS
  * a sidecar of the batch's EXACT keys, registered as "delete every
  * OLDER row with one of these keys". Merging a CDC batch into a
  * 100 TB table is O(batch): zero scan, zero rewrite; readers pay the
  * anti-filter until compaction applies it.
  *
  * Load-bearing pins:
  *   - replace-by-key semantics, stacked upserts (latest wins), and
  *     the commit's own inserts spared (seq ordering is strict);
  *   - the read-side tax is honest: aggregate pushdown / limit cuts /
  *     exact row stats refuse while deletes are live, and COUNTs come
  *     back correct through the anti-filter;
  *   - compaction APPLIES deletes, RETIRES them, restores pushdown,
  *     and vacuum reclaims the key sidecars;
  *   - the streaming sink face upserts per epoch (the CDC pipeline);
  *   - refusal surfaces: overwrite+upsert, ineligible/unknown key
  *     columns, null keys, row-level ops and CDF on upserted history,
  *     DROP COLUMN of a live key. */
class GraftShardUpsertSpec extends AnyFunSuite {
  private lazy val spark = {
    val s = TestSpark.spark
    s.conf.set("spark.sql.catalog.upcat", classOf[graft.sources.v2.GraftCatalog].getName)
    s.conf.set("spark.sql.catalog.upcat.warehouse", warehouse)
    s
  }
  private lazy val warehouse = TestSpark.tempDir("graft_upsert_cat")
  import spark.implicits._

  private def tmp(): String = TestSpark.tempDir("graft_upsert_spec") + "/t"

  private def base(dir: String): Unit =
    spark.range(0, 100).select(col("id"), col("id").as("v"))
      .coalesce(2).write.format("graftshard").mode("overwrite").save(dir)

  test("upsert replaces by key in O(batch): no scan, no rewrite, exact results") {
    val dir = tmp()
    base(dir)
    val before = ShardFormat.readManifest(dir).get
    val beforeNames = before.files.map(_.name).toSet
    Seq((10L, 1000L), (20L, 2000L), (200L, 42L)).toDF("id", "v")
      .coalesce(1).write.format("graftshard").mode("append")
      .option("upsertKey", "id").save(dir)
    val m = ShardFormat.readManifest(dir).get
    assert(m.operation == "upsert")
    assert(m.generation != before.generation,
      "old files' logical content changed: streaming prefix offsets must die")
    assert(beforeNames.subsetOf(m.files.map(_.name).toSet),
      "zero rewrite: every pre-upsert file survives untouched")
    assert(m.equalityDeletes.nonEmpty &&
      m.equalityDeletes.forall(d => d.column == "id" && d.seq == m.version))
    assert(m.equalityDeletes.map(_.count).sum == 3)
    m.equalityDeletes.foreach(d => assert(new File(dir, d.name).isFile))
    assert(m.files.filter(_.seq == m.version).nonEmpty,
      "the upsert's inserts carry the commit seq (spared from its delete)")
    // results: replaced keys take the new values, others keep theirs
    val rows = spark.read.format("graftshard").load(dir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(rows.size == 101)
    assert(rows(10L) == 1000L && rows(20L) == 2000L && rows(200L) == 42L)
    assert(rows(11L) == 11L && rows(99L) == 99L)
    assert(spark.read.format("graftshard").load(dir).where(col("id") === 10L)
      .collect().map(_.getLong(1)).toSeq == Seq(1000L),
      "a pushed filter on the key still sees exactly the latest row")
    // COUNT is correct THROUGH the anti-filter (pushdown refused, not lied)
    assert(spark.read.format("graftshard").load(dir).count() == 101)
  }

  test("stacked upserts: the latest commit wins; earlier upsert inserts are themselves replaceable") {
    val dir = tmp()
    base(dir)
    Seq((10L, 1000L)).toDF("id", "v").coalesce(1)
      .write.format("graftshard").mode("append").option("upsertKey", "id").save(dir)
    Seq((10L, 9999L), (11L, 1111L)).toDF("id", "v").coalesce(1)
      .write.format("graftshard").mode("append").option("upsertKey", "id").save(dir)
    val rows = spark.read.format("graftshard").load(dir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(rows.size == 100)
    assert(rows(10L) == 9999L && rows(11L) == 1111L && rows(12L) == 12L)
    assert(ShardFormat.readManifest(dir).get.equalityDeletes.size >= 2)
  }

  test("string keys: UTF-8 equality end to end") {
    val dir = tmp()
    spark.range(0, 50).select(concat(lit("k"), col("id")).as("k"), col("id").as("v"))
      .coalesce(1).write.format("graftshard").mode("overwrite").save(dir)
    Seq(("k7", 700L), ("k新", 1L)).toDF("k", "v").coalesce(1)
      .write.format("graftshard").mode("append").option("upsertKey", "k").save(dir)
    val rows = spark.read.format("graftshard").load(dir)
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    assert(rows.size == 51)
    assert(rows("k7") == 700L && rows("k新") == 1L && rows("k8") == 8L)
  }

  test("the read-side tax is honest: pushdown surfaces refuse while deletes are live") {
    val dir = tmp()
    base(dir)
    Seq((10L, 1000L)).toDF("id", "v").coalesce(1)
      .write.format("graftshard").mode("append").option("upsertKey", "id").save(dir)
    // count(*) must NOT come from the manifest (physical rows overcount):
    // prove it by corrupting nothing and checking the value; the plan
    // carries no pushed aggregate
    val agg = spark.read.format("graftshard").load(dir).groupBy().count()
    assert(!agg.queryExecution.executedPlan.toString.contains("pushedAggregates"),
      agg.queryExecution.executedPlan.toString)
    assert(agg.collect().head.getLong(0) == 100L)
    // LIMIT must not cut files by physical row counts
    assert(spark.read.format("graftshard").load(dir).limit(100).count() == 100)
  }

  test("compaction applies equality deletes, retires them, restores pushdown; vacuum reclaims the sidecars") {
    val dir = tmp()
    base(dir)
    Seq((10L, 1000L), (20L, 2000L)).toDF("id", "v").coalesce(1)
      .write.format("graftshard").mode("append").option("upsertKey", "id").save(dir)
    val sidecars = ShardFormat.readManifest(dir).get.equalityDeletes.map(_.name)
    GraftShardMaintenance.compact(spark, dir)
    val m = ShardFormat.readManifest(dir).get
    assert(m.equalityDeletes.isEmpty, "every file now postdates the delete: retired")
    val rows = spark.read.format("graftshard").load(dir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(rows.size == 100 && rows(10L) == 1000L && rows(20L) == 2000L && rows(30L) == 30L)
    // pushdown is back: count(*) answers from the manifest again
    val agg = spark.read.format("graftshard").load(dir).groupBy().count()
    assert(agg.queryExecution.executedPlan.toString.contains("pushedAggregates"),
      agg.queryExecution.executedPlan.toString)
    assert(agg.collect().head.getLong(0) == 100L)
    GraftShardMaintenance.expireSnapshots(dir, keepLast = 1)
    val vr = GraftShardMaintenance.vacuum(dir, minAgeMs = 0L)
    assert(sidecars.forall(vr.deleted.contains), s"got ${vr.deleted}")
  }

  test("time travel: the pre-upsert snapshot still reads the old values") {
    val dir = tmp()
    base(dir)
    val v0 = ShardFormat.readManifest(dir).get.version
    Seq((10L, 1000L)).toDF("id", "v").coalesce(1)
      .write.format("graftshard").mode("append").option("upsertKey", "id").save(dir)
    val old = spark.read.format("graftshard").option("versionAsOf", v0).load(dir)
      .where(col("id") === 10L).collect().map(_.getLong(1)).toSeq
    assert(old == Seq(10L), "snapshots carry their own (empty) delete set")
  }

  test("streaming upsert sink: each epoch merges by key — the CDC pipeline shape") {
    val srcDir = tmp()
    val dir = tmp()
    val ckpt = tmp() + "_ckpt"
    spark.range(0, 10).select(col("id"), lit(1L).as("v"))
      .coalesce(1).write.format("graftshard").mode("append").save(srcDir)
    val q = spark.readStream.format("graftshard").load(srcDir)
      .writeStream.format("graftshard")
      .option("path", dir).option("checkpointLocation", ckpt)
      .option("upsertKey", "id")
      .start()
    try {
      q.processAllAvailable()
      // the CDC batch: keys 5..14 at version 2
      spark.range(5, 15).select(col("id"), lit(2L).as("v"))
        .coalesce(1).write.format("graftshard").mode("append").save(srcDir)
      q.processAllAvailable()
    } finally q.stop()
    val rows = spark.read.format("graftshard").load(dir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(rows.size == 15, s"got $rows")
    assert((0L until 5L).forall(rows(_) == 1L))
    assert((5L until 15L).forall(rows(_) == 2L))
  }

  test("refusal surfaces carry their remedies") {
    val dir = tmp()
    base(dir)
    // overwrite + upsert is contradictory
    val e1 = intercept[Exception] {
      Seq((1L, 1L)).toDF("id", "v").write.format("graftshard")
        .mode("overwrite").option("upsertKey", "id").save(dir)
    }
    assert(e1.getMessage.contains("upsertKey"), e1.getMessage)
    // ineligible / unknown key columns
    val e2 = intercept[Exception] {
      spark.range(0, 5).select(col("id"), (col("id") * 1.5).as("v"))
        .write.format("graftshard").mode("append")
        .option("upsertKey", "v").save(tmp())
    }
    assert(e2.getMessage.contains("upsertKey"), e2.getMessage)
    // null keys fail the task with the column name
    val e3 = intercept[Exception] {
      Seq((Option.empty[Long], 5L)).toDF("id", "v")
        .write.format("graftshard").mode("append")
        .option("upsertKey", "id").save(dir)
    }
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ messages(x.getCause))
    assert(messages(e3).exists(_.contains("upsertKey column 'id'")), messages(e3))
    // with a live delete: row-level ops refuse with the compact remedy
    Seq((10L, 1000L)).toDF("id", "v").coalesce(1)
      .write.format("graftshard").mode("append").option("upsertKey", "id").save(dir)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS upcat.rl")
    spark.sql("CREATE TABLE upcat.rl.t (id BIGINT, v BIGINT) USING graftshard")
    spark.sql("INSERT INTO upcat.rl.t VALUES (1, 1), (2, 2)")
    Seq((1L, 10L)).toDF("id", "v").coalesce(1)
      .write.format("graftshard").mode("append").option("upsertKey", "id")
      .save(s"$warehouse/rl/t")
    val e4 = intercept[Exception] { spark.sql("DELETE FROM upcat.rl.t WHERE id = 2") }
    assert(messages(e4).exists(m => m.contains("equality deletes") && m.contains("compact")),
      messages(e4))
    // DROP COLUMN of the live key refuses
    val e5 = intercept[Exception] { spark.sql("ALTER TABLE upcat.rl.t DROP COLUMN id") }
    assert(messages(e5).exists(_.contains("equality deletes")), messages(e5))
    // CDF refuses the upsert commit with the latest-state guidance
    val e6 = intercept[Exception] {
      spark.read.format("graftshard").option("changesFrom", 0).load(dir).collect()
    }
    assert(messages(e6).exists(_.contains("UPSERT")), messages(e6))
  }
}
