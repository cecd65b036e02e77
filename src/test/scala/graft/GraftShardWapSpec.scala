package graft


import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.v2.{GraftShardMaintenance, ShardFormat}

/** Write-audit-publish (`option("stageAs", b)` → audit via
  * `option("branch", b)` → `CALL system.publish_branch`): the standard
  * guardrail for production 100 TB ingest — a commit lands as a
  * NON-LIVE branch, quality gates run against exactly what would
  * become the table, and only then does the pointer move. Pins: a
  * staged write is invisible to every ordinary reader (live pointer,
  * version chain, CDF all untouched); the audit face reads precisely
  * the staged state; publish is pointer-atomic and re-validates the
  * staged BASE under the commit lock (an interleaved commit refuses —
  * publishing would silently drop its files); drop discards; vacuum
  * treats staged files as live while the branch exists. */
class GraftShardWapSpec extends AnyFunSuite {
  private lazy val spark = {
    val s = TestSpark.spark
    s.conf.set("spark.sql.catalog.wapcat", classOf[graft.sources.v2.GraftCatalog].getName)
    s.conf.set("spark.sql.catalog.wapcat.warehouse", warehouse)
    s
  }
  private lazy val warehouse = TestSpark.tempDir("graft_wap_spec")
  import spark.implicits._

  private def tmp(): String = TestSpark.tempDir("graft_wap_spec") + "/t"

  test("stage -> audit -> publish: invisible, auditable, then pointer-atomic") {
    spark.sql("CREATE NAMESPACE wapcat.a")
    spark.range(0, 100).select(col("id"), col("id").as("v"))
      .coalesce(1).writeTo("wapcat.a.t").using("graftshard").create()
    val dir = s"$warehouse/a/t"
    val v0 = ShardFormat.readManifest(dir).get.version

    // stage an append
    spark.range(1000, 1050).select(col("id"), col("id").as("v"))
      .coalesce(1).write.format("graftshard").option("stageAs", "audit")
      .mode("append").save(dir)

    // invisible to the live table, its version chain, and CDF
    assert(spark.table("wapcat.a.t").count() == 100)
    assert(ShardFormat.readManifest(dir).get.version == v0)
    assert(ShardFormat.listVersions(dir).max == v0)
    // surfaced for discovery
    val props = spark.sql("SHOW TBLPROPERTIES wapcat.a.t").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(props.get("stagedBranches").contains("audit"))

    // the audit face reads exactly the staged state
    val audit = spark.read.format("graftshard").option("branch", "audit").load(dir)
    assert(audit.count() == 150)
    assert(audit.where(col("id") >= 1000).count() == 50)

    // the branches metadata face lists the stage with its base pin
    val br = spark.sql("SELECT * FROM wapcat.a.t.branches").collect()
    assert(br.length == 1)
    assert(br.head.getAs[String]("branch") == "audit")
    assert(br.head.getAs[Long]("base_version") == v0)
    assert(br.head.getAs[Long]("rows") == 150L)
    assert(br.head.getAs[Boolean]("publishable"))

    // publish: pointer moves once, CDF sees one ordinary commit
    val published = spark.sql(
      s"CALL wapcat.system.publish_branch('a.t', 'audit')").collect()
    assert(published.head.getLong(0) == v0 + 1)
    assert(spark.table("wapcat.a.t").count() == 150)
    assert(ShardFormat.readManifest(dir).get.version == v0 + 1)
    assert(ShardFormat.listBranches(dir).isEmpty)
    val changes = spark.read.format("graftshard")
      .option("changesFrom", v0.toString).load(dir)
      .groupBy("_change_type").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(changes == Map("insert" -> 50L))
  }

  test("conflict: a commit interleaved after staging refuses the publish") {
    val dir = tmp()
    spark.range(0, 10).select(col("id"), col("id").as("v"))
      .coalesce(1).write.format("graftshard").mode("overwrite").save(dir)
    spark.range(100, 110).select(col("id"), col("id").as("v"))
      .coalesce(1).write.format("graftshard").option("stageAs", "b1")
      .mode("append").save(dir)
    // an ordinary append lands while the audit is still running
    spark.range(200, 210).select(col("id"), col("id").as("v"))
      .coalesce(1).write.format("graftshard").mode("append").save(dir)

    // the branches face flips publishable off after the interleave
    // (path-based table: exercise rowsOf directly)
    val rows = graft.sources.v2.GraftShardMetadataTables.rowsOf("branches", dir)
    assert(rows.length == 1 && !rows.head.getBoolean(8),
      "an interleaved commit must mark the stage unpublishable")
    val e = intercept[Exception] {
      GraftShardMaintenance.publishBranch(dir, "b1")
    }
    assert(e.getMessage.contains("re-stage"), e.getMessage)
    // the live table is intact; the stale stage can be dropped
    assert(spark.read.format("graftshard").load(dir).count() == 20)
    assert(GraftShardMaintenance.dropBranch(dir, "b1"))
    assert(ShardFormat.listBranches(dir).isEmpty)
  }

  test("vacuum keeps staged files live; drop turns them into garbage") {
    val dir = tmp()
    spark.range(0, 10).select(col("id"), col("id").as("v"))
      .coalesce(1).write.format("graftshard").mode("overwrite").save(dir)
    spark.range(100, 120).select(col("id"), col("id").as("v"))
      .coalesce(1).write.format("graftshard").option("stageAs", "keepme")
      .mode("append").save(dir)

    val before = GraftShardMaintenance.vacuum(dir, minAgeMs = 0L)
    assert(before.deleted.isEmpty,
      s"staged files are live while the branch exists: ${before.deleted}")
    assert(spark.read.format("graftshard").option("branch", "keepme").load(dir)
      .count() == 30)

    GraftShardMaintenance.dropBranch(dir, "keepme")
    val after = GraftShardMaintenance.vacuum(dir, minAgeMs = 0L)
    assert(after.deleted.nonEmpty,
      "dropped-branch files must become reclaimable")
    assert(spark.read.format("graftshard").load(dir).count() == 10)
  }

  test("multi-commit branch: staged writes accumulate, fast-forward publishes N commits at once") {
    val dir = tmp()
    spark.range(0, 100).select(col("id"), col("id").as("v"))
      .coalesce(1).write.format("graftshard").mode("overwrite").save(dir)
    val v0 = ShardFormat.readManifest(dir).get.version

    // three staged micro-batches onto ONE branch — each bases on the
    // branch's accumulated state, not on live
    Seq((1000L, 1050L), (2000L, 2030L), (3000L, 3020L)).foreach { case (a, b) =>
      spark.range(a, b).select(col("id"), col("id").as("v"))
        .coalesce(1).write.format("graftshard").option("stageAs", "ingest")
        .mode("append").save(dir)
    }
    // live never moved; the branch carries all three commits
    assert(spark.read.format("graftshard").load(dir).count() == 100)
    assert(ShardFormat.readManifest(dir).get.version == v0)
    val bm = ShardFormat.readBranch(dir, "ingest").get
    // N staged micro-batches publish as ONE live commit, so the branch
    // carries the version it will publish as (base + 1) — live history
    // stays gap-free for the change feed and the CAS commit protocol
    assert(bm.version == v0 + 1, s"v=${bm.version}")
    assert(bm.branchBase.contains(v0))
    val audit = spark.read.format("graftshard").option("branch", "ingest").load(dir)
    assert(audit.count() == 100 + 50 + 30 + 20)

    // the branches face pins the FORK point, not version-1
    val rows = graft.sources.v2.GraftShardMetadataTables.rowsOf("branches", dir)
    assert(rows.length == 1)
    assert(rows.head.getLong(2) == v0, "base_version must be the fork point")
    assert(rows.head.getBoolean(8), "unmoved live => publishable")

    // fast-forward: one pointer move lands all three commits
    val pub = GraftShardMaintenance.publishBranch(dir, "ingest")
    assert(pub == v0 + 1)
    val live = ShardFormat.readManifest(dir).get
    assert(live.version == v0 + 1 && live.branchBase.isEmpty)
    assert(spark.read.format("graftshard").load(dir).count() == 200)
    assert(ShardFormat.listBranches(dir).isEmpty)
  }

  test("multi-commit branch: a live commit interleaved anywhere in the stage refuses the publish") {
    val dir = tmp()
    spark.range(0, 10).select(col("id"), col("id").as("v"))
      .coalesce(1).write.format("graftshard").mode("overwrite").save(dir)
    spark.range(100, 110).select(col("id"), col("id").as("v"))
      .coalesce(1).write.format("graftshard").option("stageAs", "b2")
      .mode("append").save(dir)
    // live moves BETWEEN two staged commits
    spark.range(500, 510).select(col("id"), col("id").as("v"))
      .coalesce(1).write.format("graftshard").mode("append").save(dir)
    spark.range(200, 210).select(col("id"), col("id").as("v"))
      .coalesce(1).write.format("graftshard").option("stageAs", "b2")
      .mode("append").save(dir)

    // the fork point stays the ORIGINAL base — the second staged commit
    // must not silently re-fork over the interleaved live commit
    val bm = ShardFormat.readBranch(dir, "b2").get
    assert(bm.branchBase.contains(1L))
    val rows = graft.sources.v2.GraftShardMetadataTables.rowsOf("branches", dir)
    assert(!rows.head.getBoolean(8), "moved live => not publishable")
    val e = intercept[Exception] { GraftShardMaintenance.publishBranch(dir, "b2") }
    assert(e.getMessage.contains("re-stage"), e.getMessage)
    // the branch still audits with everything it staged (20 rows over
    // its own 10-row fork state); live is untouched
    assert(spark.read.format("graftshard").option("branch", "b2").load(dir)
      .count() == 30)
    assert(spark.read.format("graftshard").load(dir).count() == 20)
    assert(GraftShardMaintenance.dropBranch(dir, "b2"))
  }

  test("streaming WAP: epochs stage on a branch, live stays invisible, publish folds the replay guard") {
    val dir = tmp()
    val ckpt = TestSpark.tempDir("graft_wap_stream_ckpt")
    // live base the stream must NOT touch while staging
    spark.range(0, 10).select(col("id"), (col("id") * 2L).as("v"))
      .coalesce(1).write.format("graftshard").mode("overwrite").save(dir)
    val liveV = ShardFormat.readManifest(dir).get.version

    implicit val sqlCtx = spark.sqlContext
    val mem = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[Long]
    def runOnce(): Unit = {
      val q = mem.toDF().select(col("value").as("id"), (col("value") * 2L).as("v"))
        .writeStream.format("graftshard")
        .option("path", dir).option("checkpointLocation", ckpt)
        .option("stageAs", "ingest")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      q.awaitTermination(60000)
      assert(!q.isActive)
      q.exception.foreach(throw _)
    }

    // epoch 1 stages; live pointer, version, and row count untouched
    mem.addData(100L until 130L: _*)
    runOnce()
    assert(spark.read.format("graftshard").load(dir).count() == 10)
    assert(ShardFormat.readManifest(dir).get.version == liveV)
    val b1 = ShardFormat.readBranch(dir, "ingest").get
    assert(b1.streamCommits.size == 1, s"epoch must be recorded ON THE BRANCH: $b1")
    assert(spark.read.format("graftshard").option("branch", "ingest")
      .load(dir).count() == 40)

    // epoch 2 ACCUMULATES on the same branch (multi-commit WAP), and
    // the branch replay guard advances
    mem.addData(130L until 150L: _*)
    runOnce()
    assert(spark.read.format("graftshard").load(dir).count() == 10)
    val b2 = ShardFormat.readBranch(dir, "ingest").get
    assert(b2.streamCommits.head._2 > b1.streamCommits.head._2,
      s"branch must carry the advanced epoch: $b2 vs $b1")
    assert(spark.read.format("graftshard").option("branch", "ingest")
      .load(dir).count() == 60)

    // a replayed epoch against the BRANCH is dropped (crash between
    // sink commit and checkpoint write)
    val (queryId, lastEpoch) = b2.streamCommits.head
    val orphan = "replayed-staged-epoch.shard"
    val w = new ShardFormat.ShardWriter(new java.io.File(dir, orphan), b2.schema)
    w.write(new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](999L, 999L)))
    val fe = w.finish().entry
    val sw = new graft.sources.v2.GraftShardStreamingWrite(dir, queryId,
      new graft.sources.v2.GraftShardBatchWrite(dir, b2.schema, None, None,
        stageAs = Some("ingest")), Some("ingest"))
    sw.commit(lastEpoch, Array(graft.sources.v2.ShardCommitMessage(
      Seq(fe))))
    assert(!new java.io.File(dir, orphan).exists(),
      "replayed staged epoch's file must be deleted")
    assert(ShardFormat.readBranch(dir, "ingest").get == b2,
      "branch manifest must be untouched by the replay")

    // publish folds the staged epochs into ONE live commit, replay
    // guard included — a restarted stream never replays published work
    val published = GraftShardMaintenance.publishBranch(dir, "ingest")
    assert(published == liveV + 1)
    assert(spark.read.format("graftshard").load(dir).count() == 60)
    val live = ShardFormat.readManifest(dir).get
    assert(live.streamCommits.get(queryId).contains(lastEpoch),
      s"publish must fold the epoch guard into live: $live")

    // restart over the same checkpoint with nothing new: live unchanged
    runOnce()
    assert(spark.read.format("graftshard").load(dir).count() == 60)
  }

  test("streaming WAP: dropping the staging branch discards its epochs BY DESIGN; later data re-forks") {
    val dir = tmp()
    val ckpt = TestSpark.tempDir("graft_wap_drop_ckpt")
    spark.range(0, 10).select(col("id"), (col("id") * 2L).as("v"))
      .coalesce(1).write.format("graftshard").mode("overwrite").save(dir)
    implicit val sqlCtx = spark.sqlContext
    val mem = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[Long]
    def runOnce(): Unit = {
      val q = mem.toDF().select(col("value").as("id"), (col("value") * 2L).as("v"))
        .writeStream.format("graftshard")
        .option("path", dir).option("checkpointLocation", ckpt)
        .option("stageAs", "ingest")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      q.awaitTermination(60000)
      q.exception.foreach(throw _)
    }
    mem.addData(100L until 120L: _*)
    runOnce()
    assert(spark.read.format("graftshard").option("branch", "ingest")
      .load(dir).count() == 30)
    // the audit said no: drop the branch — its epochs are GONE (the
    // checkpoint counts them committed, so they will not re-emit)
    assert(GraftShardMaintenance.dropBranch(dir, "ingest"))
    runOnce() // nothing new: must not resurrect the dropped epoch
    assert(ShardFormat.readBranch(dir, "ingest").forall(_.files.size == 1),
      "an idle restart must not re-stage the dropped data")
    assert(spark.read.format("graftshard").load(dir).count() == 10)
    // NEW data re-forks from live and stages cleanly
    mem.addData(200L until 210L: _*)
    runOnce()
    val b = ShardFormat.readBranch(dir, "ingest").get
    assert(spark.read.format("graftshard").option("branch", "ingest")
      .load(dir).collect().map(_.getLong(0)).sorted.toSeq ==
      ((0L until 10L) ++ (200L until 210L)),
      s"the re-fork carries live + the new epoch only: $b")
    GraftShardMaintenance.publishBranch(dir, "ingest")
    assert(spark.read.format("graftshard").load(dir).count() == 20)
  }

  test("refusals: unknown branch read names the available ones; branch+versionAsOf ambiguous") {
    val dir = tmp()
    spark.range(0, 5).select(col("id"), col("id").as("v"))
      .coalesce(1).write.format("graftshard").mode("overwrite").save(dir)
    val e = intercept[IllegalArgumentException] {
      spark.read.format("graftshard").option("branch", "nope").load(dir).count()
    }
    assert(e.getMessage.contains("no staged branch"), e.getMessage)

    // branch + versionAsOf is ambiguous
    val e2 = intercept[Exception] {
      spark.read.format("graftshard").option("branch", "x")
        .option("versionAsOf", "1").load(dir).count()
    }
    assert(e2.getMessage.contains("mutually exclusive"), e2.getMessage)
  }
}
