package graft

import java.io.File

import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.types.{LongType, StructField, StructType}

import graft.sources.v2.ShardFormat

/** Forked-JVM helper for [[GraftShardProcessLockSpec]]: a SEPARATE
  * process committing to (or squatting on) a graftshard table, so the
  * spec exercises the cross-process half of
  * [[ShardFormat.withCommitLock]] — the JVM monitor cannot help across
  * a fork, only the OS advisory lock serializes these.
  *
  * No SparkSession: appends go through the same ShardFormat primitives
  * the production writer uses (ShardWriter + read-compose-publish under
  * withCommitLock), which keeps the child's startup to ~1 s so the spec
  * can afford real process fan-out.
  *
  * Modes:
  *  - `append <dir> <childId> <n>`: n sequential appends of 10 rows
  *    each, every one its own locked read-compose-publish commit.
  *  - `crash <dir> <holdMs>`: take the commit lock, print `HOLDING`,
  *    sleep, then `Runtime.halt` WITHOUT releasing — the OS must free
  *    the lock at process death (the crash-safety contract).
  *  - `hold <dir> <holdMs>`: take the lock, print `HOLDING`, sleep,
  *    release normally — the blocking-wait contract.
  */
object CommitStressChild {
  private val schema = StructType(Seq(
    StructField("id", LongType), StructField("v", LongType)))

  private def appendOnce(dir: String, childId: Int, k: Int): Unit =
    ShardFormat.withCommitLock(dir) {
      val cur = ShardFormat.readManifest(dir).getOrElse(
        sys.error(s"no manifest under $dir"))
      val name = s"part-child$childId-$k-${java.util.UUID.randomUUID().toString.take(8)}.shard"
      val w = new ShardFormat.ShardWriter(new File(dir, name), schema,
        fieldIds = cur.fieldIds.toArray)
      val base = 100000L + childId * 10000L + k * 10L
      (0 until 10).foreach { i =>
        w.write(new GenericInternalRow(Array[Any](base + i, base + i)))
      }
      val fe = w.finish().entry.copy(seq = cur.version + 1)
      ShardFormat.writeManifest(dir, cur.copy(
        version = cur.version + 1,
        files = cur.files :+ fe,
        createdAtMs = System.currentTimeMillis(),
        operation = "append"))
    }

  def main(args: Array[String]): Unit = args(0) match {
    case "append" =>
      val dir = args(1); val id = args(2).toInt; val n = args(3).toInt
      (0 until n).foreach(k => appendOnce(dir, id, k))
      println("DONE")
    case "crash" =>
      ShardFormat.withCommitLock(args(1)) {
        println("HOLDING"); Console.flush()
        Thread.sleep(args(2).toLong)
        Runtime.getRuntime.halt(42) // dies HOLDING the lock, on purpose
      }
    case "hold" =>
      ShardFormat.withCommitLock(args(1)) {
        println("HOLDING"); Console.flush()
        Thread.sleep(args(2).toLong)
      }
      println("RELEASED")
    case "pausedCommit" =>
      // the lease-steal fence scenario: take the lock, compose, PAUSE
      // past the parent's lease (a stand-in for a long GC / cgroup
      // freeze), then attempt the publish — which must REFUSE because
      // a waiter stole the lock during the pause
      val dir = args(1); val pauseMs = args(2).toLong
      try ShardFormat.withCommitLock(dir) {
        val cur = ShardFormat.readManifest(dir).getOrElse(
          sys.error(s"no manifest under $dir"))
        val name = s"part-paused-${java.util.UUID.randomUUID().toString.take(8)}.shard"
        val w = new ShardFormat.ShardWriter(new File(dir, name), schema,
          fieldIds = cur.fieldIds.toArray)
        w.write(new GenericInternalRow(Array[Any](999999L, 999999L)))
        val fe = w.finish().entry.copy(seq = cur.version + 1)
        println("HOLDING"); Console.flush()
        Thread.sleep(pauseMs) // the stop-the-world stand-in
        ShardFormat.writeManifest(dir, cur.copy(
          version = cur.version + 1,
          files = cur.files :+ fe,
          createdAtMs = System.currentTimeMillis(),
          operation = "append"))
        println("PUBLISHED")
      } catch {
        case _: java.util.ConcurrentModificationException =>
          println("FENCED")
      }
    case "casRace" =>
      // NO LOCK AT ALL: compose against the current head, wait for the
      // parent's start marker so every racer targets the SAME version,
      // then publish directly — the version-link CAS alone must
      // arbitrate (exactly one WON per contested version)
      val dir = args(1); val id = args(2).toInt
      val cur = ShardFormat.readManifest(dir).getOrElse(
        sys.error(s"no manifest under $dir"))
      val name = s"part-cas$id-${java.util.UUID.randomUUID().toString.take(8)}.shard"
      val w = new ShardFormat.ShardWriter(new File(dir, name), schema,
        fieldIds = cur.fieldIds.toArray)
      (0 until 5).foreach { i =>
        w.write(new GenericInternalRow(
          Array[Any](500000L + id * 100L + i, id.toLong)))
      }
      val fe = w.finish().entry.copy(seq = cur.version + 1)
      println("READY"); Console.flush()
      val marker = new File(dir, "cas-race-go")
      while (!marker.isFile) Thread.sleep(5)
      try {
        ShardFormat.writeManifest(dir, cur.copy(
          version = cur.version + 1,
          files = cur.files :+ fe,
          createdAtMs = System.currentTimeMillis(),
          operation = "append"))
        println("WON")
      } catch {
        case _: java.util.ConcurrentModificationException => println("LOST")
      }
    case other => sys.error(s"unknown mode $other")
  }
}
