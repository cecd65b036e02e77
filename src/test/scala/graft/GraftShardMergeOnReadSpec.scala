package graft

import java.io.File

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.v2.{GraftShardMaintenance, ShardFormat}

/** The merge-on-read row-level tier ([[graft.sources.v2
  * .GraftShardDeltaOperation]], `spark.graftshard.rowLevel.mode =
  * merge-on-read`): DELETE/UPDATE write delete-vector sidecars keyed on
  * (_shard_file, _pos) instead of rewriting files. Pins: zero shard
  * files touched by a delete, vector merge on repeat deletes (new
  * immutable sidecar, old one vacuum garbage), fully-deleted files drop
  * out, stats surfaces refuse rather than overcount, compaction purges
  * vectors, and provable deletes still short-circuit metadata-only. */
class GraftShardMergeOnReadSpec extends AnyFunSuite {
  private lazy val spark = {
    val s = TestSpark.spark
    s.conf.set("spark.sql.catalog.morcat", classOf[graft.sources.v2.GraftCatalog].getName)
    s.conf.set("spark.sql.catalog.morcat.warehouse", warehouse)
    s
  }
  private lazy val warehouse = TestSpark.tempDir("graft_mor_spec")

  private def withMor[A](body: => A): A = {
    spark.conf.set("spark.graftshard.rowLevel.mode", "merge-on-read")
    try body finally spark.conf.unset("spark.graftshard.rowLevel.mode")
  }

  private def shardSnapshot(dir: String): Map[String, Long] =
    Option(new File(dir).listFiles()).getOrElse(Array.empty)
      .filter(_.getName.endsWith(".shard"))
      .map(f => f.getName -> f.lastModified()).toMap

  test("MoR DELETE: sidecar written, NO shard file touched, reads skip deleted rows") {
    spark.sql("CREATE NAMESPACE morcat.del")
    spark.range(0, 200).select(col("id"), (col("id") * 3L).as("v"))
      .repartitionByRange(4, col("id"))
      .writeTo("morcat.del.t").using("graftshard").create()
    val dir = s"$warehouse/del/t"
    val before = ShardFormat.readManifest(dir).get
    val filesBefore = shardSnapshot(dir)

    withMor { spark.sql("DELETE FROM morcat.del.t WHERE id % 10 = 3") }
    assert(shardSnapshot(dir) == filesBefore,
      "merge-on-read must not rewrite or add any shard file")
    val after = ShardFormat.readManifest(dir).get
    assert(after.version == before.version + 1)
    assert(after.generation != before.generation,
      "visible rows changed under the same names: streams must die loudly")
    assert(after.operation == "mor")
    assert(after.files.map(_.name).toSet == before.files.map(_.name).toSet)
    assert(after.files.forall(fe => fe.deletes.isDefined && fe.deletedRows == 5),
      s"each range file holds 5 matching ids: ${after.files}")
    val rows = spark.table("morcat.del.t").collect()
      .map(r => (r.getLong(0), r.getLong(1))).sorted
    assert(rows.toSeq ==
      (0L until 200L).filter(_ % 10 != 3).map(id => (id, id * 3)))
    // and a filtered read over a deleted region finds nothing
    assert(spark.table("morcat.del.t").where(col("id") === 13L).count() == 0)
  }

  test("repeat MoR deletes merge vectors; old sidecar becomes vacuum garbage; full deletion drops the file") {
    spark.sql("CREATE NAMESPACE morcat.merge")
    spark.range(0, 100).select(col("id"), col("id").as("v"))
      .repartitionByRange(2, col("id"))
      .writeTo("morcat.merge.t").using("graftshard").create()
    val dir = s"$warehouse/merge/t"
    withMor {
      spark.sql("DELETE FROM morcat.merge.t WHERE id % 2 = 0 AND id < 50")
      val m1 = ShardFormat.readManifest(dir).get
      val dv1 = m1.files.flatMap(_.deletes)
      assert(dv1.size == 1 && m1.files.map(_.deletedRows).sum == 25)

      spark.sql("DELETE FROM morcat.merge.t WHERE id % 2 = 1 AND id < 50")
      val m2 = ShardFormat.readManifest(dir).get
      // first file now fully deleted -> dropped from the manifest
      assert(m2.files.size == 1, s"fully-deleted file must drop: ${m2.files}")
      assert(m2.files.head.deletes.isEmpty)
      assert(spark.table("morcat.merge.t").count() == 50)
      assert(spark.table("morcat.merge.t").agg(min("id")).collect()(0).getLong(0) == 50L)

      // the orphaned sidecar + file are vacuum garbage once history expires
      GraftShardMaintenance.expireSnapshots(dir, keepLast = 1)
      val vr = GraftShardMaintenance.vacuum(dir, minAgeMs = 0L)
      assert(dv1.forall(vr.deleted.contains), s"old sidecar not reclaimed: $vr")
    }
  }

  test("MoR UPDATE: delete + insert; values correct; partial-file update leaves others untouched") {
    spark.sql("CREATE NAMESPACE morcat.upd")
    spark.range(0, 100).select(col("id"), (col("id") * 2L).as("v"))
      .repartitionByRange(4, col("id"))
      .writeTo("morcat.upd.t").using("graftshard").create()
    val dir = s"$warehouse/upd/t"
    val filesBefore = shardSnapshot(dir)
    withMor { spark.sql("UPDATE morcat.upd.t SET v = v + 1000 WHERE id % 10 = 7") }
    // original files untouched; the updated rows live in NEW insert files
    filesBefore.foreach { case (n, ts) =>
      assert(shardSnapshot(dir).get(n).contains(ts), s"original $n was rewritten")
    }
    val rows = spark.table("morcat.upd.t").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(rows.size == 100)
    (0L until 100L).foreach { id =>
      val expect = if (id % 10 == 7) id * 2 + 1000 else id * 2
      assert(rows(id) == expect, s"id $id: ${rows(id)} != $expect")
    }
  }

  test("stats surfaces stay sound under vectors; compaction purges them and restores pushdown") {
    spark.sql("CREATE NAMESPACE morcat.stats")
    spark.range(0, 100).select(col("id"), (col("id") % 8).as("k"))
      .repartition(col("k"))
      .writeTo("morcat.stats.t").using("graftshard")
      .partitionedBy(col("k")).create()
    val dir = s"$warehouse/stats/t"
    withMor { spark.sql("DELETE FROM morcat.stats.t WHERE id % 5 = 0 AND k = 2") }
    assert(ShardFormat.readManifest(dir).get.files.exists(_.deletes.isDefined))
    // COUNT(*) pushdown stays up under vectors — the live count is
    // exactly rows − deletedRows per file, manifest-resident; every
    // other aggregate REFUSES (a deleted row may be the extremum)
    def counts() = spark.table("morcat.stats.t").groupBy("k")
      .agg(count(lit(1)).as("n")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val c1 = counts()
    assert(c1(2L) == 10L && c1(1L) == 13L, s"$c1") // k=2 lost ids 10,20,..,90 -> 3 of its 13
    val plan1 = spark.table("morcat.stats.t").groupBy("k")
      .agg(count(lit(1))).queryExecution.executedPlan.toString
    assert(plan1.contains("pushedAggregates"),
      s"COUNT(*) pushdown must stay up under delete vectors (live counts):\n$plan1")
    val minPlan = spark.table("morcat.stats.t").groupBy("k")
      .agg(min(col("id"))).queryExecution.executedPlan.toString
    assert(!minPlan.contains("pushedAggregates"),
      s"MIN pushdown must refuse under delete vectors:\n$minPlan")
    assert(spark.table("morcat.stats.t").groupBy("k").agg(min(col("id")))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap.apply(2L) == 2L)

    // compaction rewrites vector-carrying files (regardless of size),
    // purges the sidecars, and pushdown comes back
    val report = GraftShardMaintenance.compact(spark, dir)
    assert(report.groups >= 1)
    val m = ShardFormat.readManifest(dir).get
    assert(m.files.forall(_.deletes.isEmpty), s"vectors must purge: ${m.files}")
    assert(counts() == c1, "compaction must not change answers")
    val plan2 = spark.table("morcat.stats.t").groupBy("k")
      .agg(count(lit(1))).queryExecution.executedPlan.toString
    assert(plan2.contains("pushedAggregates"),
      s"pushdown must return once vectors are purged:\n$plan2")
  }

  test("provable DELETE stays metadata-only even in merge-on-read mode; _pos metadata column works") {
    spark.sql("CREATE NAMESPACE morcat.meta")
    spark.range(0, 80).select(col("id"), (col("id") % 4).as("k"))
      .repartition(col("k"))
      .writeTo("morcat.meta.t").using("graftshard")
      .partitionedBy(col("k")).create()
    val dir = s"$warehouse/meta/t"
    val before = shardSnapshot(dir)
    withMor { spark.sql("DELETE FROM morcat.meta.t WHERE k = 1") }
    assert(shardSnapshot(dir) == before, "provable delete must write nothing")
    assert(ShardFormat.readManifest(dir).get.files.forall(_.deletes.isEmpty))
    assert(spark.table("morcat.meta.t").count() == 60)

    // _pos provenance: (file, pos) pairs are unique, dense per file
    val pos = spark.sql("SELECT _shard_file, _pos FROM morcat.meta.t")
      .collect().map(r => (r.getString(0), r.getLong(1)))
    assert(pos.length == 60 && pos.distinct.length == 60)
    pos.groupBy(_._1).foreach { case (_, ps) =>
      assert(ps.map(_._2).sorted.toSeq == (0L until ps.length.toLong))
    }
  }
}
