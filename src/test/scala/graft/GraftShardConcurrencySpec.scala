package graft

import java.util.concurrent.Executors

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.v2.{GraftShardMaintenance, ShardFormat}

/** The per-table commit lock ([[ShardFormat.withCommitLock]]):
  * concurrent committers inside one driver serialize instead of losing
  * updates. Without the lock, two appends both read manifest vN and
  * both publish vN+1 — the rename loser's files silently vanish from
  * the table (the classic read-modify-write lost update). Pins:
  * parallel appends all land with strictly sequential versions,
  * appends racing compaction/maintenance never lose rows, and two
  * tables never contend on each other's locks. */
class GraftShardConcurrencySpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def tmp(): String = TestSpark.tempDir("graft_conc_spec") + "/t"

  test("16 parallel appends: every commit lands, versions strictly sequential, zero lost rows") {
    val dir = tmp()
    spark.range(0, 10).select(col("id"), col("id").as("v"))
      .coalesce(1).write.format("graftshard").mode("overwrite").save(dir)
    val v0 = ShardFormat.readManifest(dir).get.version

    val pool = Executors.newFixedThreadPool(8)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try {
      val futures = (0 until 16).map { i =>
        Future {
          val lo = 1000L + i * 100L
          (lo until lo + 100L).map(id => (id, id)).toDF("id", "v")
            .coalesce(1).write.format("graftshard").mode("append").save(dir)
        }
      }
      Await.result(Future.sequence(futures), 120.seconds)
    } finally pool.shutdown()

    val m = ShardFormat.readManifest(dir).get
    assert(m.version == v0 + 16, s"every append must be its own commit: v${m.version}")
    assert(spark.read.format("graftshard").load(dir).count() == 10 + 16 * 100,
      "a lost update would silently drop a whole commit's rows")
    // every intermediate version is a loadable snapshot
    val versions = ShardFormat.listVersions(dir)
    assert(versions == (1L to v0 + 16), s"$versions")
  }

  test("appends racing compaction and expire+vacuum: no lost rows, maintenance tolerated") {
    val dir = tmp()
    spark.range(0, 50).select(col("id"), col("id").as("v"))
      .repartition(4).write.format("graftshard").mode("overwrite").save(dir)

    val pool = Executors.newFixedThreadPool(6)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try {
      val appends = (0 until 8).map { i =>
        Future {
          val lo = 1000L + i * 50L
          (lo until lo + 50L).map(id => (id, id)).toDF("id", "v")
            .coalesce(1).write.format("graftshard").mode("append").save(dir)
        }
      }
      val maintenance = (0 until 3).map { _ =>
        Future {
          // compaction may lose the plan-vs-commit race against another
          // maintenance pass — that refusal is the documented behavior;
          // losing ROWS is not
          try GraftShardMaintenance.compact(spark, dir)
          catch { case e: IllegalStateException
            if e.getMessage.contains("concurrent commit") => () }
          GraftShardMaintenance.expireSnapshots(dir, keepLast = 3)
          // the age horizon is vacuum's SAFETY against in-flight writes
          // (tasks emit .shard files before the commit takes the lock —
          // a zero-horizon vacuum may reap them; that is the documented
          // contract, not a lock gap), so the racing pass uses one
          GraftShardMaintenance.vacuum(dir, minAgeMs = 3600L * 1000): Unit
        }
      }
      Await.result(Future.sequence(appends ++ maintenance), 180.seconds)
    } finally pool.shutdown()

    val got = spark.read.format("graftshard").load(dir)
      .collect().map(_.getLong(0)).sorted
    val expect = ((0L until 50L) ++ (0 until 8).flatMap(i =>
      (1000L + i * 50L) until (1000L + i * 50L + 50L))).sorted
    assert(got.toSeq == expect, s"got ${got.length}, want ${expect.length}")
  }
}
