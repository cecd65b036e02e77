package graft

import java.io.File
import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.v2.{GraftShardMaintenance, ShardFormat}

/** Rollback ([[GraftShardMaintenance.rollback]] / `CALL system
  * .rollback`): republishing a retained snapshot's state as a NEW
  * commit. Load-bearing pins: metadata-only (zero shard files
  * touched), resurrection of rows a MoR DELETE removed (the delete
  * vector SHRINKS back — the case the change feed cannot represent,
  * so CDF refuses across it), history preserved (the bad commits stay
  * time-travelable), generation turnover, stream-epoch carry-over
  * (exactly-once accounting never rewinds), and the refusal surfaces
  * (current version, expired version, never-committed version,
  * tampered-away files). */
class GraftShardRollbackSpec extends AnyFunSuite {
  private lazy val spark = {
    val s = TestSpark.spark
    s.conf.set("spark.sql.catalog.rbcat", classOf[graft.sources.v2.GraftCatalog].getName)
    s.conf.set("spark.sql.catalog.rbcat.warehouse", warehouse)
    s
  }
  private lazy val warehouse = TestSpark.tempDir("graft_rollback_spec")

  private def tmp(): String = TestSpark.tempDir("graft_rollback_spec") + "/t"

  private def shardSnapshot(dir: String): Map[String, Long] =
    Option(new File(dir).listFiles()).getOrElse(Array.empty)
      .filter(_.getName.endsWith(".shard"))
      .map(f => f.getName -> f.lastModified()).toMap

  private def idsOf(dir: String): Seq[Long] =
    spark.read.format("graftshard").load(dir)
      .collect().map(_.getLong(0)).sorted.toSeq

  test("rollback is a new metadata-only commit restoring the old file list; history stays time-travelable") {
    val dir = tmp()
    spark.range(0, 100).select(col("id"), (col("id") * 2L).as("v"))
      .coalesce(2).write.format("graftshard").mode("overwrite").save(dir)
    val good = ShardFormat.readManifest(dir).get
    spark.range(100, 160).select(col("id"), (col("id") * 2L).as("v"))
      .coalesce(1).write.format("graftshard").mode("append").save(dir)
    val bad = ShardFormat.readManifest(dir).get
    val filesBefore = shardSnapshot(dir)

    val r = GraftShardMaintenance.rollback(dir, good.version)
    assert(r == GraftShardMaintenance.RollbackReport(
      bad.version, good.version, bad.version + 1, good.files.size))
    assert(shardSnapshot(dir) == filesBefore, "rollback must touch zero shard files")

    val after = ShardFormat.readManifest(dir).get
    assert(after.version == bad.version + 1, "the version counts COMMITS, rollback included")
    assert(after.operation == "rollback")
    assert(after.generation != good.generation && after.generation != bad.generation,
      "the file list a streaming reader indexed is gone: prefix offsets must die loudly")
    assert(after.files.map(_.name) == good.files.map(_.name))
    assert(idsOf(dir) == (0L until 100L))
    // the bad commit stays loadable history until expired
    assert(spark.read.format("graftshard")
      .option("versionAsOf", bad.version.toString).load(dir).count() == 160)
    assert(spark.read.format("graftshard")
      .option("versionAsOf", good.version.toString).load(dir).count() == 100)
  }

  test("rollback resurrects rows a merge-on-read DELETE removed (the delete vector shrinks back)") {
    spark.sql("CREATE NAMESPACE rbcat.res")
    spark.range(0, 100).select(col("id"), (col("id") * 3L).as("v"))
      .coalesce(2).writeTo("rbcat.res.t").using("graftshard").create()
    val dir = s"$warehouse/res/t"
    val good = ShardFormat.readManifest(dir).get

    spark.conf.set("spark.graftshard.rowLevel.mode", "merge-on-read")
    try spark.sql("DELETE FROM rbcat.res.t WHERE id % 2 = 0")
    finally spark.conf.unset("spark.graftshard.rowLevel.mode")
    assert(spark.table("rbcat.res.t").count() == 50)
    assert(ShardFormat.readManifest(dir).get.files.exists(_.deletes.isDefined))

    val r = GraftShardMaintenance.rollback(dir, good.version)
    assert(r.restoredVersion == good.version)
    val after = ShardFormat.readManifest(dir).get
    assert(after.files.forall(fe => fe.deletes.isEmpty && fe.deletedRows == 0L),
      "the restored entries carry the PRE-delete vector state")
    assert(spark.table("rbcat.res.t").count() == 100, "deleted rows are back")
  }

  test("the change feed refuses to cross a rollback commit (an un-delete is not representable)") {
    val dir = tmp()
    spark.range(0, 40).select(col("id"), col("id").as("v"))
      .coalesce(1).write.format("graftshard").mode("overwrite").save(dir)
    val good = ShardFormat.readManifest(dir).get.version
    spark.range(40, 60).select(col("id"), col("id").as("v"))
      .coalesce(1).write.format("graftshard").mode("append").save(dir)
    GraftShardMaintenance.rollback(dir, good)

    val e = intercept[UnsupportedOperationException] {
      spark.read.format("graftshard").option("changesFrom", "0").load(dir).collect()
    }
    def messages(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ messages(t.getCause)
    assert(messages(e).exists(_.contains("ROLLBACK")), s"got: ${messages(e)}")
    // a feed started AFTER the rollback commit works
    val post = spark.read.format("graftshard")
      .option("changesFrom", (good + 2).toString).load(dir)
    assert(post.count() == 0L)
  }

  test("stream-commit epochs carry over from the CURRENT manifest: exactly-once accounting never rewinds") {
    val dir = tmp()
    spark.range(0, 10).select(col("id"), col("id").as("v"))
      .coalesce(1).write.format("graftshard").mode("overwrite").save(dir)
    val good = ShardFormat.readManifest(dir).get
    assert(good.streamCommits.isEmpty)
    // a streaming sink committed epochs after the good snapshot
    // (simulated at the manifest level — the semantics under test are
    // the rollback's, not the sink's)
    ShardFormat.writeManifest(dir, good.copy(
      version = good.version + 1,
      createdAtMs = System.currentTimeMillis(),
      operation = "append",
      streamCommits = Map("query-abc" -> 7L)))

    GraftShardMaintenance.rollback(dir, good.version)
    val after = ShardFormat.readManifest(dir).get
    assert(after.streamCommits == Map("query-abc" -> 7L),
      "rolling epochs back would let a post-recovery replay double-append")
  }

  test("refusals: current version, expired version, never-committed version, missing files") {
    val dir = tmp()
    spark.range(0, 10).select(col("id"), col("id").as("v"))
      .coalesce(1).write.format("graftshard").mode("overwrite").save(dir)
    val v1 = ShardFormat.readManifest(dir).get.version
    spark.range(10, 20).select(col("id"), col("id").as("v"))
      .coalesce(1).write.format("graftshard").mode("append").save(dir)
    spark.range(20, 30).select(col("id"), col("id").as("v"))
      .coalesce(1).write.format("graftshard").mode("append").save(dir)
    val cur = ShardFormat.readManifest(dir).get.version

    val eCur = intercept[IllegalArgumentException] {
      GraftShardMaintenance.rollback(dir, cur)
    }
    assert(eCur.getMessage.contains("already at"))
    val eFuture = intercept[IllegalArgumentException] {
      GraftShardMaintenance.rollback(dir, cur + 5)
    }
    assert(eFuture.getMessage.contains("not loadable"))

    GraftShardMaintenance.expireSnapshots(dir, keepLast = 2)
    val eExpired = intercept[IllegalArgumentException] {
      GraftShardMaintenance.rollback(dir, v1)
    }
    assert(eExpired.getMessage.contains("not loadable"))

    // tampering: a retained snapshot whose shard file was deleted
    // out-of-band must refuse, not publish a pointer to missing bytes
    val target = ShardFormat.readManifestVersion(dir, cur - 1).get
    val victim = target.files.map(_.name)
      .filterNot(n => ShardFormat.readManifest(dir).get.files.take(0).exists(_.name == n))
      .head
    val moved = new File(dir, victim + ".hidden")
    assert(new File(dir, victim).renameTo(moved))
    try {
      val eMissing = intercept[IllegalArgumentException] {
        GraftShardMaintenance.rollback(dir, cur - 1)
      }
      assert(eMissing.getMessage.contains("missing from disk"))
    } finally { moved.renameTo(new File(dir, victim)): Unit }
  }

  test("after rollback, expire + vacuum reclaims the bad commit's files and the table stays readable") {
    val dir = tmp()
    spark.range(0, 50).select(col("id"), col("id").as("v"))
      .coalesce(1).write.format("graftshard").mode("overwrite").save(dir)
    val good = ShardFormat.readManifest(dir).get
    spark.range(1000, 1100).select(col("id"), col("id").as("v"))
      .coalesce(1).write.format("graftshard").mode("append").save(dir)
    val badFiles = ShardFormat.readManifest(dir).get.files.map(_.name).toSet --
      good.files.map(_.name).toSet
    assert(badFiles.nonEmpty)

    GraftShardMaintenance.rollback(dir, good.version)
    // while the bad snapshot is retained, its files are vacuum-live
    val vKept = GraftShardMaintenance.vacuum(dir, minAgeMs = 0L)
    assert(vKept.deleted.isEmpty)

    GraftShardMaintenance.expireSnapshots(dir, keepLast = 1)
    val vr = GraftShardMaintenance.vacuum(dir, minAgeMs = 0L)
    assert(badFiles.subsetOf(vr.deleted.toSet),
      "only the rolled-away commit's files are garbage now")
    assert(idsOf(dir) == (0L until 50L))
  }

  test("rollback by timestamp resolves the newest retained snapshot at or before the wall clock") {
    spark.sql("CREATE NAMESPACE rbcat.ts")
    spark.range(0, 20).select(col("id"), col("id").as("v"))
      .coalesce(1).writeTo("rbcat.ts.t").using("graftshard").create()
    val dir = s"$warehouse/ts/t"
    val goodAt = ShardFormat.readManifest(dir).get.createdAtMs
    Thread.sleep(25)
    spark.range(20, 40).select(col("id"), col("id").as("v"))
      .coalesce(1).writeTo("rbcat.ts.t").append()
    Thread.sleep(25)
    spark.range(40, 60).select(col("id"), col("id").as("v"))
      .coalesce(1).writeTo("rbcat.ts.t").append()

    val row = spark.sql(
      s"CALL rbcat.system.rollback('ts.t', timestamp_ms => ${goodAt}L)").collect().head
    assert(spark.table("rbcat.ts.t").count() == 20, s"report: $row")

    def msgs(t: Throwable): String =
      if (t == null) "" else Option(t.getMessage).getOrElse("") + msgs(t.getCause)
    val eEarly = intercept[Exception] {
      spark.sql("CALL rbcat.system.rollback('ts.t', timestamp_ms => 1000L)").collect()
    }
    assert(msgs(eEarly).contains("at or before"), msgs(eEarly))
    val eBoth = intercept[Exception] {
      spark.sql(s"CALL rbcat.system.rollback('ts.t', 2L, ${goodAt}L)").collect()
    }
    assert(msgs(eBoth).contains("exactly one"), msgs(eBoth))
    val eNeither = intercept[Exception] {
      spark.sql("CALL rbcat.system.rollback('ts.t')").collect()
    }
    assert(msgs(eNeither).contains("exactly one"), msgs(eNeither))
  }

  test("expire-by-age: the wall-clock guard protects young snapshots, keepLast still floors retention") {
    val dir = tmp()
    for (lo <- Seq(0L, 10L, 20L, 30L)) {
      spark.range(lo, lo + 10).select(col("id"), col("id").as("v"))
        .coalesce(1).write.format("graftshard")
        .mode(if (lo == 0L) "overwrite" else "append").save(dir)
    }
    assert(ShardFormat.listVersions(dir).size == 4)
    // everything is seconds old: a 1-hour horizon expires nothing
    assert(GraftShardMaintenance.expireSnapshots(dir, keepLast = 1,
      olderThanMs = 3600L * 1000).isEmpty)
    assert(ShardFormat.listVersions(dir).size == 4)
    // a zero horizon falls back to pure keepLast
    val expired = GraftShardMaintenance.expireSnapshots(dir, keepLast = 2)
    assert(expired.size == 2)
    assert(ShardFormat.listVersions(dir).size == 2)
  }

  test("vacuum dry run: reports reclaimables, deletes nothing; the real pass then reclaims them") {
    val dir = tmp()
    spark.range(0, 30).select(col("id"), col("id").as("v"))
      .coalesce(1).write.format("graftshard").mode("overwrite").save(dir)
    spark.range(0, 10).select(col("id"), col("id").as("v"))
      .coalesce(1).write.format("graftshard")
      .option("truncate", "true").mode("overwrite").save(dir)
    GraftShardMaintenance.expireSnapshots(dir, keepLast = 1)

    val dry = GraftShardMaintenance.vacuum(dir, minAgeMs = 0L, dryRun = true)
    assert(dry.deleted.nonEmpty, "the overwritten generation is reclaimable")
    assert(dry.deleted.forall(n => new File(dir, n).isFile),
      "dry run must delete NOTHING")
    val real = GraftShardMaintenance.vacuum(dir, minAgeMs = 0L)
    assert(real.deleted == dry.deleted, "the dry run's report is the real pass's plan")
    assert(real.deleted.forall(n => !new File(dir, n).isFile))
    assert(spark.read.format("graftshard").load(dir).count() == 10)
  }

  test("CALL rbcat.system.rollback: the SQL face returns the report row") {
    spark.sql("CREATE NAMESPACE rbcat.proc")
    spark.range(0, 30).select(col("id"), col("id").as("v"))
      .coalesce(1).writeTo("rbcat.proc.t").using("graftshard").create()
    val dir = s"$warehouse/proc/t"
    val good = ShardFormat.readManifest(dir).get.version
    spark.range(30, 60).select(col("id"), col("id").as("v"))
      .coalesce(1).writeTo("rbcat.proc.t").append()
    val cur = ShardFormat.readManifest(dir).get.version

    val row = spark.sql(s"CALL rbcat.system.rollback('proc.t', ${good}L)").collect().head
    assert(row.getLong(0) == cur)
    assert(row.getLong(1) == good)
    assert(row.getLong(2) == cur + 1)
    assert(spark.table("rbcat.proc.t").count() == 30)
  }
}
