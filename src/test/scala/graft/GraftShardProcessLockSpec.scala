package graft

import java.io.File
import java.util.concurrent.Executors

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.v2.ShardFormat

/** Cross-PROCESS commit protocol: the O_EXCL lock-file chain
  * ([[ShardFormat.withCommitLock]] layer 2) serializes committers in
  * SEPARATE JVMs — the production shape of an ingest driver plus a
  * compaction driver on one table, which the round-12 JVM-wide monitor
  * could not protect (both processes read vN, both published vN+1, the
  * rename loser's files silently vanished). Pins: cross-process appends
  * land as strictly sequential versions with zero lost rows (forked
  * JVMs racing in-process committers), a process that DIES holding the
  * lock is detected and stolen from (pid-liveness, no manual cleanup),
  * and a live foreign holder genuinely BLOCKS this process's commit
  * rather than being ignored. */
// Tagged Slow (r15): forked-JVM lease soak with real sleeps (child
// pauses up to 4 s mid-commit); run via `sbt testSlow`, excluded from
// the default budgeted gate.
@org.scalatest.tags.Slow
class GraftShardProcessLockSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def tmp(): String = TestSpark.tempDir("graft_proclock_spec") + "/t"

  /** Forks `CommitStressChild` with this test JVM's classpath (tests
    * fork, so java.class.path is the real one). */
  private def fork(args: String*): Process = {
    val java = new File(new File(System.getProperty("java.home"), "bin"), "java").getPath
    val cmd = Seq(java, "-Xmx256m", "-cp", System.getProperty("java.class.path"),
      "graft.CommitStressChild") ++ args
    new ProcessBuilder(cmd: _*).redirectErrorStream(true).start()
  }

  private def readAll(p: Process): String =
    new String(p.getInputStream.readAllBytes(), "UTF-8")

  /** Blocks until the child prints HOLDING (it holds the lock then). */
  private def awaitHolding(p: Process): Unit = {
    val r = new java.io.BufferedReader(
      new java.io.InputStreamReader(p.getInputStream, "UTF-8"))
    val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
    var line = r.readLine()
    while (line != null && !line.contains("HOLDING")) {
      assert(System.nanoTime() < deadline, "child never reported HOLDING")
      line = r.readLine()
    }
    // NOTE: no p.waitFor() in the clue — ScalaTest's assert evaluates the
    // clue EAGERLY, and waitFor would silently block until the child
    // exited and released the lock, voiding everything the caller is
    // about to measure (this cost an afternoon)
    assert(line != null, "child exited before HOLDING")
  }

  test("forked JVMs racing in-process appends: sequential versions, zero lost rows") {
    val dir = tmp()
    spark.range(0, 10).select(col("id"), col("id").as("v"))
      .coalesce(1).write.format("graftshard").mode("overwrite").save(dir)
    val v0 = ShardFormat.readManifest(dir).get.version

    val children = (0 until 3).map(i => fork("append", dir, i.toString, "8"))
    val pool = Executors.newFixedThreadPool(4)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    val inProc = (0 until 8).map { i =>
      Future {
        val lo = 1000L + i * 100L
        (lo until lo + 100L).map(id => (id, id)).toDF("id", "v")
          .coalesce(1).write.format("graftshard").mode("append").save(dir)
      }
    }
    try Await.result(Future.sequence(inProc), 120.seconds)
    finally pool.shutdown()
    children.foreach { p =>
      val out = readAll(p)
      assert(p.waitFor() == 0 && out.contains("DONE"), s"child failed: $out")
    }

    val m = ShardFormat.readManifest(dir).get
    val expectedCommits = 3 * 8 + 8
    assert(m.version == v0 + expectedCommits,
      s"every commit must land as its own version: v${m.version}, want v${v0 + expectedCommits}")
    assert(ShardFormat.listVersions(dir) == (1L to v0 + expectedCommits),
      "no version may be skipped or lost")
    assert(spark.read.format("graftshard").load(dir).count() ==
      10 + 8 * 100 + 3 * 8 * 10,
      "a lost update would silently drop a whole commit's rows")
  }

  test("a process dying while holding the lock frees it (no lease, no manual cleanup)") {
    val dir = tmp()
    spark.range(0, 10).select(col("id"), col("id").as("v"))
      .coalesce(1).write.format("graftshard").mode("overwrite").save(dir)

    val child = fork("crash", dir, "300")
    awaitHolding(child)
    // the child halts in ~300 ms WITHOUT releasing; this append must
    // wait on the lock file, detect the dead pid, steal, and proceed
    Seq((5000L, 5000L)).toDF("id", "v")
      .coalesce(1).write.format("graftshard").mode("append").save(dir)
    assert(child.waitFor() == 42, "child must have died via halt")
    assert(spark.read.format("graftshard").load(dir).count() == 11)
  }

  test("a live foreign holder blocks the commit instead of being ignored") {
    val dir = tmp()
    spark.range(0, 10).select(col("id"), col("id").as("v"))
      .coalesce(1).write.format("graftshard").mode("overwrite").save(dir)

    val holdMs = 1500L
    val child = fork("hold", dir, holdMs.toString)
    awaitHolding(child)
    val t0 = System.currentTimeMillis() // child sleeps holdMs from ~now
    Seq((5000L, 5000L)).toDF("id", "v")
      .coalesce(1).write.format("graftshard").mode("append").save(dir)
    assert(child.waitFor() == 0)
    // createdAtMs is stamped INSIDE the locked compose section, so it is
    // a direct record of when the parent actually held the lock — it
    // must postdate the child's release, minus clock slack
    val composedAt = ShardFormat.readManifest(dir).get.createdAtMs
    assert(composedAt >= t0 + holdMs - 250,
      s"commit composed ${composedAt - t0}ms after HOLDING with the child " +
        s"holding for ${holdMs}ms — the foreign lock was not honored")
    assert(spark.read.format("graftshard").load(dir).count() == 11)
  }

  test("a holder paused past the lease is stolen from AND fenced: its publish refuses") {
    val dir = tmp()
    spark.range(0, 10).select(col("id"), col("id").as("v"))
      .coalesce(1).write.format("graftshard").mode("overwrite").save(dir)
    val v0 = ShardFormat.readManifest(dir).get.version

    // child composes, then pauses 4s mid-section (the GC/freeze stand-in);
    // this JVM's lease is dropped to 800ms so the steal actually fires
    val child = fork("pausedCommit", dir, "4000")
    System.setProperty("graft.shard.commitLeaseMs", "800")
    try {
      awaitHolding(child)
      Thread.sleep(1000) // let the lock file age past the shortened lease
      // the steal: this append detects the over-lease holder, tombstones
      // its lock, and commits
      Seq((7000L, 7000L)).toDF("id", "v")
        .coalesce(1).write.format("graftshard").mode("append").save(dir)
    } finally System.clearProperty("graft.shard.commitLeaseMs")

    // the woken child's publish must FENCE, not overwrite this commit
    val out = readAll(child)
    assert(child.waitFor() == 0, s"child failed: $out")
    assert(out.contains("FENCED"), s"paused holder must refuse its publish: $out")
    assert(!out.contains("PUBLISHED"), out)
    val m = ShardFormat.readManifest(dir).get
    assert(m.version == v0 + 1, s"exactly the stealer's commit: v${m.version}")
    val got = spark.read.format("graftshard").load(dir)
    assert(got.count() == 11)
    assert(got.where(col("id") === 999999L).count() == 0,
      "the fenced commit's rows must not be visible")
  }

  test("NO-LOCK CAS race: four JVMs claim the same version, exactly one lands, zero torn state") {
    val dir = tmp()
    spark.range(0, 10).select(col("id"), col("id").as("v"))
      .coalesce(1).write.format("graftshard").mode("overwrite").save(dir)
    val v0 = ShardFormat.readManifest(dir).get.version

    // every child composes against the SAME head (they read before the
    // marker exists), then all publish at once with NO lock anywhere —
    // the version-link CAS alone must arbitrate
    val children = (0 until 4).map(i => fork("casRace", dir, i.toString))
    val readers = children.map { p =>
      new java.io.BufferedReader(
        new java.io.InputStreamReader(p.getInputStream, "UTF-8"))
    }
    readers.foreach { r =>
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      var line = r.readLine()
      while (line != null && !line.contains("READY")) {
        assert(System.nanoTime() < deadline, "child never reported READY")
        line = r.readLine()
      }
      assert(line != null, "child exited before READY")
    }
    java.nio.file.Files.createFile(new File(dir, "cas-race-go").toPath)
    val outcomes = readers.map { r =>
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      var line = r.readLine()
      while (line != null && !line.contains("WON") && !line.contains("LOST")) {
        assert(System.nanoTime() < deadline, "child never finished")
        line = r.readLine()
      }
      assert(line != null, "child died mid-race"); line.trim
    }
    children.foreach(p => assert(p.waitFor() == 0))
    assert(outcomes.count(_ == "WON") == 1, s"outcomes: $outcomes")
    assert(outcomes.count(_ == "LOST") == 3, s"outcomes: $outcomes")

    val m = ShardFormat.readManifest(dir).get
    assert(m.version == v0 + 1, s"exactly one commit landed: v${m.version}")
    // the winner's 5 rows and ONLY the winner's are visible
    val got = spark.read.format("graftshard").load(dir)
    assert(got.count() == 15)
    assert(got.where(col("id") >= 500000L).select("v").distinct().count() == 1,
      "rows from more than one racer are visible — the CAS tore")
    new File(dir, "cas-race-go").delete()
  }
}
