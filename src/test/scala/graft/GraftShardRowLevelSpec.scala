package graft

import java.io.File

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.v2.ShardFormat

/** The copy-on-write row-level tier ([[graft.sources.v2
  * .GraftShardRowLevelOperation]]): DELETE / UPDATE / MERGE with
  * predicates the metadata-only rule refuses. The load-bearing pins:
  * only candidate files are rewritten (untouched files stay
  * byte-identical on disk AND keep their manifest entries verbatim),
  * metadata-provable deletes still bypass the rewrite entirely, and
  * keyed/sorted layouts survive a rewrite.
  */
class GraftShardRowLevelSpec extends AnyFunSuite {
  private lazy val spark = {
    val s = TestSpark.spark
    s.conf.set("spark.sql.catalog.rlcat", classOf[graft.sources.v2.GraftCatalog].getName)
    s.conf.set("spark.sql.catalog.rlcat.warehouse", warehouse)
    s
  }
  private lazy val warehouse = TestSpark.tempDir("graft_rowlevel_spec")

  private def shardSnapshot(dir: String): Map[String, Long] =
    Option(new File(dir).listFiles()).getOrElse(Array.empty)
      .filter(_.getName.endsWith(".shard"))
      .map(f => f.getName -> f.lastModified()).toMap

  test("copy-on-write DELETE rewrites ONLY candidate files; untouched files are byte-identical") {
    spark.sql("CREATE NAMESPACE rlcat.cow")
    // range-clustered files: ids 0..199 over 4 range partitions, so a
    // predicate on id prunes most files from manifest stats
    spark.range(0, 200).select(col("id"), (col("id") * 3L).as("v"))
      .repartitionByRange(4, col("id"))
      .writeTo("rlcat.cow.t").using("graftshard").create()
    val dir = s"$warehouse/cow/t"
    val before = ShardFormat.readManifest(dir).get
    val filesBefore = shardSnapshot(dir)
    assert(before.files.size == 4)

    // not file-aligned: 130 splits a file — the metadata rule refuses,
    // the row-level tier rewrites
    spark.sql("DELETE FROM rlcat.cow.t WHERE id >= 130 AND v < 450")
    val t = spark.table("rlcat.cow.t")
    val expect = (0L until 200L).filterNot(id => id >= 130 && id * 3 < 450)
    assert(t.count() == expect.size)
    assert(t.agg(sum("id")).collect()(0).getLong(0) == expect.sum)

    val after = ShardFormat.readManifest(dir).get
    assert(after.version == before.version + 1)
    assert(after.generation != before.generation, "rewrite must kill prefix offsets")
    // candidate selection from stats: only the file(s) whose id range
    // may contain [130, 150) were rewritten; the others carried over
    // with IDENTICAL manifest entries (stats included) and identical
    // bytes on disk
    val carried = after.files.filter(fe => before.files.exists(_.name == fe.name))
    assert(carried.nonEmpty, "untouched files must carry over")
    carried.foreach { fe =>
      val orig = before.files.find(_.name == fe.name).get
      assert(fe == orig, s"carried entry changed: $fe vs $orig")
      assert(shardSnapshot(dir)(fe.name) == filesBefore(fe.name),
        s"untouched file ${fe.name} was rewritten on disk")
    }
    // files whose stats exclude the predicate were NOT candidates:
    // every id < 130 file must be in the carried set
    before.files.filter(_.stats("id")._2 < 130).foreach { fe =>
      assert(carried.exists(_.name == fe.name),
        s"file ${fe.name} (max id ${fe.stats("id")._2}) was needlessly rewritten")
    }
  }

  test("metadata-provable DELETE still bypasses the rewrite (no new shard files)") {
    spark.sql("CREATE NAMESPACE rlcat.meta")
    spark.range(0, 100).select(col("id"), (col("id") % 4).as("k"))
      .repartition(col("k"))
      .writeTo("rlcat.meta.t").using("graftshard")
      .partitionedBy(col("k")).create()
    val dir = s"$warehouse/meta/t"
    val before = shardSnapshot(dir)
    spark.sql("DELETE FROM rlcat.meta.t WHERE k = 2")
    assert(spark.table("rlcat.meta.t").count() == 75)
    // metadata path: zero files written, zero files touched
    assert(shardSnapshot(dir) == before,
      "a provable delete must not write or rewrite any shard file")
  }

  test("copy-on-write UPDATE: unaligned predicate updates values in place") {
    spark.sql("CREATE NAMESPACE rlcat.upd")
    spark.range(0, 100).select(col("id"), (col("id") * 2L).as("v"))
      .repartitionByRange(4, col("id"))
      .writeTo("rlcat.upd.t").using("graftshard").create()
    spark.sql("UPDATE rlcat.upd.t SET v = v + 1000 WHERE id % 10 = 3")
    val rows = spark.table("rlcat.upd.t").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(rows.size == 100)
    (0L until 100L).foreach { id =>
      val expect = if (id % 10 == 3) id * 2 + 1000 else id * 2
      assert(rows(id) == expect, s"id $id: ${rows(id)} != $expect")
    }
  }

  test("MERGE INTO: matched update + not-matched insert through the same tier") {
    spark.sql("CREATE NAMESPACE rlcat.mrg")
    spark.range(0, 50).select(col("id"), col("id").as("v"))
      .writeTo("rlcat.mrg.t").using("graftshard").create()
    spark.range(40, 60).select(col("id"), (col("id") * 100L).as("nv"))
      .createOrReplaceTempView("rl_mrg_src")
    spark.sql("""
      MERGE INTO rlcat.mrg.t t USING rl_mrg_src s ON t.id = s.id
      WHEN MATCHED THEN UPDATE SET v = s.nv
      WHEN NOT MATCHED THEN INSERT (id, v) VALUES (s.id, s.nv)""")
    val rows = spark.table("rlcat.mrg.t").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(rows.size == 60)
    (0L until 60L).foreach { id =>
      val expect = if (id >= 40) id * 100 else id
      assert(rows(id) == expect, s"id $id: ${rows(id)} != $expect")
    }
  }

  test("rewrite on a keyed table preserves one-key-per-file; on a sorted table preserves sortedBy") {
    spark.sql("CREATE NAMESPACE rlcat.keyed")
    val dir = s"$warehouse/keyed/t"
    spark.sql("""CREATE TABLE rlcat.keyed.t (id BIGINT, k BIGINT, v BIGINT)
      USING graftshard PARTITIONED BY (k)""")
    spark.range(0, 120)
      .select(col("id"), (col("id") % 6).as("k"), col("id").as("v"))
      .writeTo("rlcat.keyed.t")
      .option("sortWithinShards", "id")
      .overwrite(lit(true))
    val m0 = ShardFormat.readManifest(dir).get
    assert(m0.sortedBy.contains("id"), s"setup: expected sorted layout, got $m0")
    assert(m0.files.forall(_.partition.isDefined))

    // unaligned delete: touches a slice of every key's file
    spark.sql("DELETE FROM rlcat.keyed.t WHERE v % 7 = 0")
    val m1 = ShardFormat.readManifest(dir).get
    val t = spark.table("rlcat.keyed.t")
    assert(t.count() == (0L until 120L).count(_ % 7 != 0))
    // layout invariants survived the rewrite
    assert(m1.files.forall(_.partition.isDefined), "keyed layout lost")
    m1.files.foreach { fe =>
      val (mn, mx, _) = fe.stats("k")
      assert(mn == fe.partition.get && mx == fe.partition.get,
        s"file ${fe.name} mixes keys")
    }
    assert(m1.sortedBy.contains("id"),
      "sorted layout must survive a rewrite that declares the same ordering")
    // and the sorted-scan fast path still engages: zero Exchange AND
    // zero Sort for a per-key window over the rewritten table
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("k").orderBy("id")
    val windowed = t.select(col("k"), col("id"), row_number().over(w).as("rn"))
    val plan = windowed.queryExecution.executedPlan.toString
    val live = plan.split("== Initial Plan ==").head
    assert(!live.contains("Exchange"), s"expected no Exchange:\n$live")
    assert(!live.contains("Sort"), s"expected no Sort:\n$live")
  }

  test("row-level operations on a time-travel snapshot are refused") {
    // Spark's DELETE grammar has no VERSION AS OF clause, so the guard
    // is exercised at the table level: a pinned (time-travel) table
    // must refuse to build a row-level operation
    spark.sql("CREATE NAMESPACE rlcat.snap")
    spark.range(0, 10).select(col("id"), col("id").as("v"))
      .writeTo("rlcat.snap.t").using("graftshard").create()
    spark.range(10, 20).select(col("id"), col("id").as("v"))
      .writeTo("rlcat.snap.t").append()
    val dir = s"$warehouse/snap/t"
    val v1 = graft.sources.v2.ShardFormat.readManifestVersion(dir, 1).get
    val pinnedTable = new graft.sources.v2.GraftShardTable(
      dir, v1.schema, pinned = Some(v1))
    val e = intercept[IllegalArgumentException] {
      pinnedTable.newRowLevelOperationBuilder(
        new org.apache.spark.sql.connector.write.RowLevelOperationInfo {
          override def command() =
            org.apache.spark.sql.connector.write.RowLevelOperation.Command.DELETE
          override def options() =
            new org.apache.spark.sql.util.CaseInsensitiveStringMap(java.util.Collections.emptyMap())
        })
    }
    assert(e.getMessage.contains("snapshot"), e.getMessage)
    assert(spark.table("rlcat.snap.t").count() == 20)
  }

  test("copy-on-write abort deletes the written files and their bloom sidecars") {
    val dir = TestSpark.tempDir("graft_rowlevel_abort")
    spark.range(0, 20).select(col("id"), (col("id") * 3L).as("v"))
      .coalesce(1).write.format("graftshard").mode("overwrite")
      .option("bloomColumns", "id").save(dir)
    val m = ShardFormat.readManifest(dir).get
    val fe = m.files.head
    val bloom = new File(dir, fe.bloom.getOrElse(fail("the write must build a bloom sidecar")))
    assert(bloom.isFile)
    val op = new graft.sources.v2.GraftShardRowLevelOperation(dir, m.schema,
      org.apache.spark.sql.connector.write.RowLevelOperation.Command.DELETE)
    new graft.sources.v2.GraftShardCowWrite(op, dir, m.schema, None, None, 64)
      .abort(Array(graft.sources.v2.ShardCommitMessage(Seq(fe))))
    assert(!new File(dir, fe.name).exists(), "aborted shard file must be deleted")
    assert(!bloom.exists(), "aborted shard's bloom sidecar must be deleted")
  }
}
