package graft


import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.v2.ShardFormat

/** The graftshard STREAMING SINK ([[graft.sources.v2
  * .GraftShardStreamingWrite]]): micro-batch epochs append (or, in
  * Complete mode, swap) through the one batch commit path, with the
  * (queryId → epoch) replay guard in the manifest. Together with the
  * streaming READ face, graftshard sits on both ends of a pipeline. */
class GraftShardStreamSinkSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def tmp(name: String): String = TestSpark.tempDir(s"graft_sink_$name")

  test("append-mode sink: epochs accumulate exactly once; restart with same checkpoint re-appends nothing") {
    val dir = tmp("append") + "/t"
    val ckpt = tmp("append_ckpt")
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Long]
    mem.addData(0L until 50L: _*)
    def runOnce(): Unit = {
      val q = mem.toDF().select(col("value").as("id"), (col("value") * 2L).as("v"))
        .writeStream.format("graftshard")
        .option("path", dir).option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination(60000)
      assert(!q.isActive)
      q.exception.foreach(throw _)
    }
    runOnce()
    assert(spark.read.format("graftshard").load(dir).count() == 50)
    val m1 = ShardFormat.readManifest(dir).get
    assert(m1.streamCommits.size == 1 && m1.streamCommits.head._2 >= 0L,
      s"epoch must be recorded: $m1")

    // second batch of data, new run over the SAME checkpoint: only the
    // new rows land
    mem.addData(50L until 80L: _*)
    runOnce()
    val rows = spark.read.format("graftshard").load(dir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted
    assert(rows.toSeq == (0L until 80L).map(i => (i, i * 2)),
      "no duplicates, no losses across restarts")

    // restart with nothing new: zero-row epochs commit no files
    val filesBefore = ShardFormat.readManifest(dir).get.files.map(_.name).toSet
    runOnce()
    assert(ShardFormat.readManifest(dir).get.files.map(_.name).toSet == filesBefore)
  }

  test("epoch REPLAY is dropped: a re-commit of an already-committed epoch deletes its files and leaves the table unchanged") {
    val dir = tmp("replay") + "/t"
    val ckpt = tmp("replay_ckpt")
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Long]
    mem.addData(0L until 10L: _*)
    val q = mem.toDF().select(col("value").as("id"))
      .writeStream.format("graftshard")
      .option("path", dir).option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(60000)
    q.exception.foreach(throw _)
    val m = ShardFormat.readManifest(dir).get
    val (queryId, epoch) = m.streamCommits.head

    // simulate the recovery re-commit Spark performs after a crash
    // between sink commit and checkpoint write: same query, same epoch
    val orphan = "replayed-epoch.shard"
    val w = new ShardFormat.ShardWriter(new java.io.File(dir, orphan), m.schema)
    w.write(new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](999L)))
    val fe = w.finish().entry
    val sw = new graft.sources.v2.GraftShardStreamingWrite(dir, queryId,
      new graft.sources.v2.GraftShardBatchWrite(dir, m.schema, None, None))
    sw.commit(epoch, Array(graft.sources.v2.ShardCommitMessage(
      Seq(fe))))
    assert(!new java.io.File(dir, orphan).exists(), "replayed epoch's file must be deleted")
    assert(ShardFormat.readManifest(dir).get == m, "manifest must be untouched")
    assert(spark.read.format("graftshard").load(dir).count() == 10)

    // a LATER epoch from the same query commits normally
    val w2 = new ShardFormat.ShardWriter(new java.io.File(dir, "next-epoch.shard"), m.schema)
    w2.write(new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](123L)))
    sw.commit(epoch + 1, Array(graft.sources.v2.ShardCommitMessage(
      Seq(w2.finish().entry))))
    assert(spark.read.format("graftshard").load(dir).count() == 11)
    assert(ShardFormat.readManifest(dir).get.streamCommits(queryId) == epoch + 1)
  }

  test("a batch append between epochs preserves the replay guard") {
    val dir = tmp("mixed") + "/t"
    val ckpt = tmp("mixed_ckpt")
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Long]
    mem.addData(0L until 5L: _*)
    val q = mem.toDF().select(col("value").as("id"))
      .writeStream.format("graftshard")
      .option("path", dir).option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(60000)
    q.exception.foreach(throw _)
    val sc0 = ShardFormat.readManifest(dir).get.streamCommits
    assert(sc0.nonEmpty)
    spark.range(100, 105).select(col("id"))
      .write.format("graftshard").mode("append").save(dir)
    assert(ShardFormat.readManifest(dir).get.streamCommits == sc0,
      "batch commits must carry the sink's epoch map forward")
    assert(spark.read.format("graftshard").load(dir).count() == 10)
  }

  test("complete-mode aggregation: each epoch swaps the table for the latest state") {
    val dir = tmp("complete") + "/t"
    val ckpt = tmp("complete_ckpt")
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Long]
    def agg() = mem.toDF()
      .select((col("value") % 3).as("k"))
      .groupBy("k").agg(count(lit(1)).as("n"))
    def runOnce(): Unit = {
      val q = agg().writeStream.format("graftshard")
        .outputMode("complete")
        .option("path", dir).option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination(60000)
      q.exception.foreach(throw _)
    }
    mem.addData(0L until 30L: _*)
    runOnce()
    assert(spark.read.format("graftshard").load(dir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq ==
      Seq((0L, 10L), (1L, 10L), (2L, 10L)))
    mem.addData(0L, 0L, 0L)
    runOnce()
    assert(spark.read.format("graftshard").load(dir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq ==
      Seq((0L, 13L), (1L, 10L), (2L, 10L)),
      "complete mode must REPLACE, not append")
  }
}
