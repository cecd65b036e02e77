package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.v2.{GraftShardMaintenance, ShardFormat}

/** Change Data Feed ([[graft.sources.v2.GraftShardChanges]]):
  * `option("changesFrom", v1).option("changesTo", v2)` yields the exact
  * row-level delta over `(v1, v2]` with `_change_type` /
  * `_commit_version`. Pins: appends are inserts, MoR deletes are
  * vector-delta deletes, an UPDATE is its delete+insert pair, metadata
  * DELETE reports the dropped files' rows, compaction contributes
  * NOTHING, an insert-then-delete inside the range reports both
  * events, copy-on-write commits refuse with the MoR pointer, and the
  * snapshot-retention horizon refuses expired ranges. */
class GraftShardChangesSpec extends AnyFunSuite {
  private lazy val spark = {
    val s = TestSpark.spark
    s.conf.set("spark.sql.catalog.cdfcat", classOf[graft.sources.v2.GraftCatalog].getName)
    s.conf.set("spark.sql.catalog.cdfcat.warehouse", warehouse)
    s
  }
  private lazy val warehouse = TestSpark.tempDir("graft_cdf_spec")

  private def withMor[A](body: => A): A = {
    spark.conf.set("spark.graftshard.rowLevel.mode", "merge-on-read")
    try body finally spark.conf.unset("spark.graftshard.rowLevel.mode")
  }

  private def changes(dir: String, from: Long, to: Long): DataFrame =
    spark.read.format("graftshard")
      .option("changesFrom", from).option("changesTo", to).load(dir)

  private def events(df: DataFrame): Set[(Long, String, Long)] =
    df.select("id", "_change_type", "_commit_version").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet

  test("appends are inserts; MoR delete is a vector-delta; UPDATE is its delete+insert pair") {
    spark.sql("CREATE NAMESPACE cdfcat.a")
    spark.range(0, 100).select(col("id"), (col("id") * 2L).as("v"))
      .coalesce(2).writeTo("cdfcat.a.t").using("graftshard").create()
    val dir = s"$warehouse/a/t"
    def v(): Long = ShardFormat.readManifest(dir).get.version
    val v0 = v() // create() = create commit + data append commit
    spark.range(100, 150).select(col("id"), (col("id") * 2L).as("v"))
      .coalesce(1).writeTo("cdfcat.a.t").append()
    val vApp = v()
    val (vDel, vUpd) = withMor {
      spark.sql("DELETE FROM cdfcat.a.t WHERE id % 10 = 7")
      val d = v()
      spark.sql("UPDATE cdfcat.a.t SET v = -1 WHERE id = 4")
      (d, v())
    }

    // the full feed (v0, vUpd]
    val ev = events(changes(dir, v0, vUpd))
    val expectInserts = (100L until 150L).map(id => (id, "insert", vApp)).toSet +
      ((4L, "insert", vUpd)) // the UPDATE's re-insert
    val expectDeletes = (0L until 150L).filter(_ % 10 == 7)
      .map(id => (id, "delete", vDel)).toSet + ((4L, "delete", vUpd))
    assert(ev == expectInserts ++ expectDeletes)
    // the UPDATE's new value rides the insert row
    val upd = changes(dir, vDel, vUpd).where(col("_change_type") === "insert")
      .select("id", "v").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(upd == Set((4L, -1L)))
    // a sub-range sees only its commits
    assert(events(changes(dir, v0, vApp)) ==
      (100L until 150L).map(id => (id, "insert", vApp)).toSet)
    // the UPDATE alone: its delete+insert pair
    assert(changes(dir, vDel, vUpd).count() == 2)
    // _commit_timestamp = the commit snapshot's createdAtMs (the
    // TIMESTAMP AS OF anchor), so consumers can window by wall clock
    val tsOfApp = ShardFormat.readManifestVersion(dir, vApp).get.createdAtMs
    val tsCol = changes(dir, v0, vApp).select("_commit_timestamp")
      .distinct().collect().map(_.getLong(0)).toSeq
    assert(tsCol == Seq(tsOfApp), s"$tsCol != $tsOfApp")
  }

  test("metadata DELETE reports dropped files' rows; compaction contributes nothing") {
    spark.sql("CREATE NAMESPACE cdfcat.m")
    val df = spark.range(0, 80).select(col("id"), (col("id") % 4).as("k"))
    df.where(col("k") === 0).coalesce(1).writeTo("cdfcat.m.t").using("graftshard").create()
    val dir = s"$warehouse/m/t"
    def v(): Long = ShardFormat.readManifest(dir).get.version
    val v0 = v()
    val appendVs = (1L to 3L).map { k =>
      df.where(col("k") === k).coalesce(1).writeTo("cdfcat.m.t").append(); k -> v()
    }.toMap
    val vPre = v()
    GraftShardMaintenance.compact(spark, dir, targetBytes = 1L << 30) // merges all
    val vComp = v()
    assert(ShardFormat.readManifest(dir).get.operation == "compact")
    assert(changes(dir, vPre, vComp).count() == 0, "compaction must contribute no changes")
    // feed spanning appends + compaction: only the appends' inserts
    val ev = events(changes(dir, v0, vComp))
    val expect = (0L until 80L).filter(id => id % 4 != 0)
      .map(id => (id, "insert", appendVs(id % 4))).toSet
    assert(ev == expect)
  }

  test("metadata DELETE on a provable predicate reports exactly the dropped rows") {
    spark.sql("CREATE NAMESPACE cdfcat.d")
    val df = spark.range(0, 60).select(col("id"), (col("id") % 3).as("k"))
    df.where(col("k") === 0).coalesce(1).writeTo("cdfcat.d.t").using("graftshard").create()
    val dir = s"$warehouse/d/t"
    def v(): Long = ShardFormat.readManifest(dir).get.version
    val v0 = v()
    df.where(col("k") === 1).coalesce(1).writeTo("cdfcat.d.t").append()
    val vK1 = v()
    df.where(col("k") === 2).coalesce(1).writeTo("cdfcat.d.t").append()
    val vK2 = v()
    spark.sql("DELETE FROM cdfcat.d.t WHERE k = 1") // metadata-only (one file = one k)
    val vDel = v()
    assert(ShardFormat.readManifest(dir).get.operation == "delete-metadata")
    val ev = events(changes(dir, vK2, vDel))
    assert(ev == (0L until 60L).filter(_ % 3 == 1).map(id => (id, "delete", vDel)).toSet)
    // insert-then-delete INSIDE one range reports both events
    val both = events(changes(dir, v0, vDel))
    assert((0L until 60L).filter(_ % 3 == 1).forall(id =>
      both.contains((id, "insert", vK1)) && both.contains((id, "delete", vDel))))
  }

  test("copy-on-write commits refuse with the merge-on-read pointer; legacy/expired refuse") {
    spark.sql("CREATE NAMESPACE cdfcat.c")
    spark.range(0, 50).select(col("id"), (col("id") * 7L).as("v"))
      .coalesce(1).writeTo("cdfcat.c.t").using("graftshard").create()
    val dir = s"$warehouse/c/t"
    def v(): Long = ShardFormat.readManifest(dir).get.version
    val v0 = v()
    spark.sql("DELETE FROM cdfcat.c.t WHERE id % 9 = 5") // CoW rewrite (default mode)
    val vCow = v()
    assert(ShardFormat.readManifest(dir).get.operation == "cow")
    val e = intercept[Exception] { changes(dir, v0, vCow).collect() }
    assert(e.getMessage.contains("merge-on-read"), e.getMessage)
    // an empty range is a valid empty feed (the streaming zero batch)...
    assert(changes(dir, v0, v0).count() == 0)
    // ...but an inverted one is an error
    val e2 = intercept[Exception] { changes(dir, vCow, v0).collect() }
    assert(e2.getMessage.contains("from <= to"), e2.getMessage)
    val e3 = intercept[Exception] { changes(dir, v0, 99).collect() }
    assert(e3.getMessage.contains("ahead of the table"), e3.getMessage)
    // expire early snapshots: the horizon refuses
    spark.range(50, 60).select(col("id"), (col("id") * 7L).as("v"))
      .coalesce(1).writeTo("cdfcat.c.t").append()
    val vApp = v()
    GraftShardMaintenance.expireSnapshots(dir, keepLast = 1)
    val e4 = intercept[Exception] { changes(dir, v0, vApp).collect() }
    assert(e4.getMessage.contains("expired"), e4.getMessage)
  }

  test("streaming change feed: micro-batches are version deltas, exactly once across commits") {
    spark.sql("CREATE NAMESPACE cdfcat.s")
    spark.range(0, 40).select(col("id"), (col("id") * 3L).as("v"))
      .coalesce(1).writeTo("cdfcat.s.t").using("graftshard").create()
    val dir = s"$warehouse/s/t"
    def v(): Long = ShardFormat.readManifest(dir).get.version
    val v0 = v()
    val q = spark.readStream.format("graftshard")
      .option("changesFrom", v0).load(dir)
      .writeStream.format("memory").queryName("cdf_stream")
      .option("checkpointLocation",
        TestSpark.tempDir("graft_cdf_ckpt"))
      .start()
    try {
      q.processAllAvailable()
      assert(spark.table("cdf_stream").count() == 0, "no changes after v0 yet")
      // an append arrives as inserts
      spark.range(40, 55).select(col("id"), (col("id") * 3L).as("v"))
        .coalesce(1).writeTo("cdfcat.s.t").append()
      val vApp = v()
      q.processAllAvailable()
      val afterApp = spark.table("cdf_stream").collect()
        .map(r => (r.getLong(0), r.getString(2), r.getLong(3))).toSet
      assert(afterApp == (40L until 55L).map(id => (id, "insert", vApp)).toSet)
      // a MoR delete arrives as deletes, exactly once
      withMor { spark.sql("DELETE FROM cdfcat.s.t WHERE id % 8 = 1") }
      val vDel = v()
      q.processAllAvailable()
      val all = spark.table("cdf_stream").collect()
        .map(r => (r.getLong(0), r.getString(2), r.getLong(3))).toSet
      val expectDel = (0L until 55L).filter(_ % 8 == 1).map(id => (id, "delete", vDel)).toSet
      assert(all == afterApp ++ expectDel)
    } finally q.stop()
    // a streaming feed with an explicit changesTo is refused
    val e = intercept[Exception] {
      spark.readStream.format("graftshard")
        .option("changesFrom", v0).option("changesTo", v0 + 1).load(dir)
        .writeStream.format("memory").queryName("cdf_stream_bad")
        .option("checkpointLocation",
          TestSpark.tempDir("graft_cdf_ckpt2"))
        .start().processAllAvailable()
    }
    val msgs = Iterator.iterate(e: Throwable)(_.getCause).takeWhile(_ != null)
      .map(t => Option(t.getMessage).getOrElse("")).mkString(" | ")
    assert(msgs.contains("unbounded"), msgs)
  }

  test("streaming change feed admission control: maxVersionsPerTrigger drains a backlog one commit per batch") {
    spark.sql("CREATE NAMESPACE cdfcat.adm")
    spark.range(0, 5).select(col("id"), (col("id") * 3L).as("v"))
      .coalesce(1).writeTo("cdfcat.adm.t").using("graftshard").create()
    val dir = s"$warehouse/adm/t"
    val v0 = ShardFormat.readManifest(dir).get.version
    // the backlog: four commits BEFORE the stream starts
    (1 to 4).foreach { i =>
      spark.range(i * 100L, i * 100L + 5).select(col("id"), (col("id") * 3L).as("v"))
        .coalesce(1).writeTo("cdfcat.adm.t").append()
    }
    val perBatch = new java.util.concurrent.ConcurrentLinkedQueue[Set[Long]]()
    val q = spark.readStream.format("graftshard")
      .option("changesFrom", v0).option("maxVersionsPerTrigger", "1").load(dir)
      .writeStream
      .foreachBatch((df: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) => {
        val vs = df.select("_commit_version").distinct()
          .collect().map(_.getLong(0)).toSet
        if (vs.nonEmpty) perBatch.add(vs): Unit
      })
      .option("checkpointLocation",
        TestSpark.tempDir("graft_cdf_adm_ckpt"))
      .start()
    try q.processAllAvailable() finally q.stop()
    val batches = perBatch.toArray(Array.empty[Set[Long]]).toSeq
    assert(batches.size == 4, s"one commit per batch over the backlog: $batches")
    assert(batches.forall(_.size == 1), s"a batch mixed commits: $batches")
    assert(batches.flatten.toSet == (v0 + 1 to v0 + 4).toSet,
      s"every commit exactly once: $batches")
    // option validation carries the option name
    val e = intercept[Exception] {
      spark.readStream.format("graftshard")
        .option("changesFrom", v0).option("maxVersionsPerTrigger", "0").load(dir)
        .writeStream.format("memory").queryName("cdf_adm_bad")
        .option("checkpointLocation",
          TestSpark.tempDir("graft_cdf_adm_ckpt2"))
        .start().processAllAvailable()
    }
    val msgs = Iterator.iterate(e: Throwable)(_.getCause).takeWhile(_ != null)
      .map(t => Option(t.getMessage).getOrElse("")).mkString(" | ")
    assert(msgs.contains("maxVersionsPerTrigger"), msgs)
  }

  test("overwrite reports all old rows deleted and all new rows inserted; column pruning works") {
    val dir = TestSpark.tempDir("graft_cdf_path") + "/t"
    spark.range(0, 30).select(col("id"))
      .coalesce(1).write.format("graftshard").mode("overwrite").save(dir) // v1
    spark.range(100, 110).select(col("id"))
      .coalesce(1).write.format("graftshard").mode("overwrite").save(dir) // v2
    val ev = events(changes(dir, 1, 2))
    assert(ev == (0L until 30L).map(id => (id, "delete", 2L)).toSet ++
      (100L until 110L).map(id => (id, "insert", 2L)).toSet)
    // pruned read: only the change column
    val types = changes(dir, 1, 2).select("_change_type")
      .collect().map(_.getString(0)).toSeq
    assert(types.count(_ == "delete") == 30 && types.count(_ == "insert") == 10)
    // changesTo defaults to the current version
    val defTo = spark.read.format("graftshard").option("changesFrom", 1).load(dir)
    assert(defTo.count() == 40)
  }

  test("changesFrom=0 consumes the first commit's inserts (no v0 snapshot required)") {
    val dir = TestSpark.tempDir("graft_cdf_zero") + "/t"
    spark.range(0, 20).select(col("id"))
      .coalesce(1).write.format("graftshard").mode("overwrite").save(dir) // v1
    spark.range(20, 25).select(col("id"))
      .coalesce(1).write.format("graftshard").mode("append").save(dir)   // v2
    // the commit chain provably starts empty: (0, 2] is the whole history
    val ev = events(changes(dir, 0, 2))
    assert(ev == (0L until 20L).map(id => (id, "insert", 1L)).toSet ++
      (20L until 25L).map(id => (id, "insert", 2L)).toSet)
    // and a streaming feed can start at 0 too
    val q = spark.readStream.format("graftshard")
      .option("changesFrom", 0).load(dir)
      .writeStream.format("memory").queryName("cdf_zero")
      .option("checkpointLocation",
        TestSpark.tempDir("graft_cdf_zero_ckpt"))
      .start()
    try {
      q.processAllAvailable()
      assert(spark.table("cdf_zero").count() == 25)
    } finally q.stop()
  }

  test("changesFromTimestamp resolves wall-clock to the newest commit at or before it") {
    val dir = TestSpark.tempDir("graft_cdf_ts") + "/t"
    spark.range(0, 10).select(col("id"))
      .coalesce(1).write.format("graftshard").mode("overwrite").save(dir) // v1
    Thread.sleep(5) // distinct createdAtMs per commit
    spark.range(10, 15).select(col("id"))
      .coalesce(1).write.format("graftshard").mode("append").save(dir)    // v2
    Thread.sleep(5)
    spark.range(15, 18).select(col("id"))
      .coalesce(1).write.format("graftshard").mode("append").save(dir)    // v3
    def ts(v: Long): Long = ShardFormat.readManifestVersion(dir, v).get.createdAtMs
    def byTs(t: Long) = spark.read.format("graftshard")
      .option("changesFromTimestamp", t).load(dir)
    // t exactly AT v2's commit: v2's state was already consumed at t —
    // the feed starts after v2 and carries only v3's inserts
    assert(events(byTs(ts(2))) == (15L until 18L).map(id => (id, "insert", 3L)).toSet)
    // t between v1 and v2: v2 and v3 both arrive
    assert(byTs(ts(2) - 1).count() == 8)
    // t at/after the newest commit: an empty (caught-up) feed
    assert(byTs(ts(3)).count() == 0)
    // t before the first commit refuses — pre-horizon commit times are
    // unknowable; the error names the explicit-version escape hatch
    val e = intercept[Exception] { byTs(ts(1) - 1).collect() }
    assert(e.getMessage.contains("precedes the earliest"), e.getMessage)
    // mutual exclusion with changesFrom
    val e2 = intercept[Exception] {
      spark.read.format("graftshard").option("changesFrom", 1)
        .option("changesFromTimestamp", ts(2)).load(dir).collect()
    }
    assert(e2.getMessage.contains("mutually exclusive"), e2.getMessage)
    // the streaming face takes the wall-clock start too (st10's shape)
    val q = spark.readStream.format("graftshard")
      .option("changesFromTimestamp", ts(2)).load(dir)
      .writeStream.format("memory").queryName("cdf_ts_stream")
      .option("checkpointLocation",
        TestSpark.tempDir("graft_cdf_ts_ckpt"))
      .start()
    try {
      q.processAllAvailable()
      assert(spark.table("cdf_ts_stream").count() == 3)
    } finally q.stop()
  }

  test("multi-commit WAP publish is ONE gap-free feed commit; a staged upsert taints the published op") {
    val dir = TestSpark.tempDir("graft_cdf_wap")
    spark.range(0, 20).select(col("id"), (col("id") * 2L).as("v"))
      .coalesce(1).write.format("graftshard").mode("overwrite").save(dir)
    val v0 = ShardFormat.readManifest(dir).get.version
    // two staged micro-batches onto one branch, then fast-forward
    spark.range(100, 110).select(col("id"), (col("id") * 2L).as("v"))
      .coalesce(1).write.format("graftshard").option("stageAs", "night")
      .mode("append").save(dir)
    spark.range(200, 210).select(col("id"), (col("id") * 2L).as("v"))
      .coalesce(1).write.format("graftshard").option("stageAs", "night")
      .mode("append").save(dir)
    val pub = GraftShardMaintenance.publishBranch(dir, "night")
    // the publish occupies exactly the next version — no gap for the
    // walk below to trip over (the pre-fix numbering staged v0+1, v0+2
    // on the branch and published v0+2, leaving v0+1 unreadable)
    assert(pub == v0 + 1, s"published v$pub from base v$v0")
    val ev = events(changes(dir, v0, pub))
    assert(ev == (100L until 110L).map((_, "insert", pub)).toSet ++
      (200L until 210L).map((_, "insert", pub)).toSet)

    // a staged UPSERT anywhere in the chain must surface as an upsert
    // commit after publish — a later staged append must not launder the
    // op tag into the file-diff class (the feed cannot know which old
    // rows the staged equality delete removed)
    spark.range(0, 5).select(col("id"), lit(-7L).as("v"))
      .coalesce(1).write.format("graftshard").option("stageAs", "fix")
      .option("upsertKey", "id").mode("append").save(dir)
    spark.range(300, 305).select(col("id"), (col("id") * 2L).as("v"))
      .coalesce(1).write.format("graftshard").option("stageAs", "fix")
      .mode("append").save(dir)
    val pub2 = GraftShardMaintenance.publishBranch(dir, "fix")
    assert(pub2 == pub + 1)
    assert(ShardFormat.readManifest(dir).get.operation == "upsert")
    val e = intercept[UnsupportedOperationException] {
      changes(dir, pub, pub2).collect()
    }
    assert(e.getMessage.contains("UPSERT"), e.getMessage)
    // and the upserted state itself is correct: keys 0-4 replaced once
    val after = spark.read.format("graftshard").load(dir)
    assert(after.where(col("v") === -7L).count() == 5)
    assert(after.count() == 20 + 10 + 10 + 5)
  }
}
