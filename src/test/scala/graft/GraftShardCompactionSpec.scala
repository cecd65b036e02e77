package graft

import java.io.File

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.v2.{GraftShardMaintenance, ShardFormat}

/** Compaction ([[GraftShardMaintenance.compact]]): small shard files
  * merge into ~targetBytes ones, distributed, with the manifest-swap
  * commit discipline. Load-bearing pins: row fidelity, the keyed
  * one-key-per-file invariant, the sorted k-way merge restoring the
  * zero-sort ordering report that multi-run appends suspended, old
  * files left as vacuum garbage (never deleted inline), and version/
  * generation semantics. */
class GraftShardCompactionSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def tmp(): String = TestSpark.tempDir("graft_compact_spec") + "/t"

  private def shardFiles(dir: String): Set[String] =
    Option(new File(dir).listFiles()).getOrElse(Array.empty)
      .map(_.getName).filter(_.endsWith(".shard")).toSet

  test("unkeyed compaction: many small files become few, rows identical, old files are vacuum garbage") {
    val dir = tmp()
    // 12 tasks -> 12 small files
    spark.range(0, 600).select(col("id"), (col("id") * 3L).as("v"))
      .repartition(12)
      .write.format("graftshard").mode("overwrite").save(dir)
    val before = ShardFormat.readManifest(dir).get
    assert(before.files.size == 12)
    val beforeNames = shardFiles(dir)

    val report = GraftShardMaintenance.compact(spark, dir)
    val after = ShardFormat.readManifest(dir).get
    assert(after.files.size < before.files.size)
    assert(report.replaced.toSet == before.files.map(_.name).toSet)
    assert(after.version == before.version + 1)
    assert(after.generation != before.generation,
      "replaced entries vanish mid-list: streaming prefix offsets must die")
    // row fidelity through the merge
    val rows = spark.read.format("graftshard").load(dir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted
    assert(rows.toSeq == (0L until 600L).map(id => (id, id * 3)))
    // old files still on disk (readers may be mid-scan), reclaimed by
    // vacuum once aged and unreferenced by any retained snapshot
    assert(beforeNames.subsetOf(shardFiles(dir)))
    GraftShardMaintenance.expireSnapshots(dir, keepLast = 1)
    val vr = GraftShardMaintenance.vacuum(dir, minAgeMs = 0L)
    assert(beforeNames.subsetOf(vr.deleted.toSet))
    assert(spark.read.format("graftshard").load(dir).count() == 600)
  }

  test("keyed sorted table: sorted appends pile runs per key and suspend the ordering report; compaction k-way merges and restores zero-sort") {
    val confs = Seq(
      "spark.sql.sources.v2.bucketing.enabled" -> "true",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")
    val saved = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val dir = tmp()
      def write(range: (Long, Long), mode: String): Unit =
        spark.range(range._1, range._2)
          .select(col("id"), (col("id") % 4).as("k"), (col("id") * 7L).as("v"))
          .write.format("graftshard")
          .option("partitionKey", "k").option("sortWithinShards", "id")
          .mode(mode).save(dir)
      write((0L, 100L), "overwrite")
      write((100L, 200L), "append")
      write((200L, 300L), "append")
      val m0 = ShardFormat.readManifest(dir).get
      assert(m0.sortedBy.contains("id"), "sorted-declared appends keep the flag")
      assert(m0.files.groupBy(_.partition).forall(_._2.size == 3),
        "each append adds one run per key")
      val w = org.apache.spark.sql.expressions.Window.partitionBy("k").orderBy("id")
      def windowPlan(): String = spark.read.format("graftshard").load(dir)
        .select(col("k"), col("id"), row_number().over(w).as("rn"))
        .queryExecution.executedPlan.toString.split("== Initial Plan ==").head
      assert(windowPlan().contains("Sort ["),
        "multiple runs per key must suspend the ordering report")

      val report = GraftShardMaintenance.compact(spark, dir)
      assert(report.groups == 4, s"one merge group per key: $report")
      val m1 = ShardFormat.readManifest(dir).get
      assert(m1.sortedBy.contains("id"))
      assert(m1.files.groupBy(_.partition).forall(_._2.size == 1),
        "compaction must restore one file per key")
      m1.files.foreach { fe =>
        val (mn, mx, _) = fe.stats("k")
        assert(mn == fe.partition.get && mx == fe.partition.get, s"mixed keys in $fe")
      }
      val live = windowPlan()
      assert(!live.contains("Exchange"), s"keyed layout lost:\n$live")
      assert(!live.contains("Sort ["),
        s"merged runs must restore the zero-sort report:\n$live")
      // fidelity AND within-key order: ids ascending within each key file
      val rows = spark.read.format("graftshard").load(dir)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      assert(rows.sorted.toSeq ==
        (0L until 300L).map(id => (id, id % 4, id * 7)).sorted)
    } finally saved.foreach { case (k, v) =>
      v.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
  }

  test("unsorted-degraded table compacts by concatenation; flag stays cleared; no-op when nothing to merge") {
    val dir = tmp()
    spark.range(0, 50).select(col("id"), (col("id") % 2).as("k"))
      .write.format("graftshard").option("partitionKey", "k")
      .option("sortWithinShards", "id").mode("overwrite").save(dir)
    // unsorted append clears the flag (honest degradation)
    spark.range(50, 100).select(col("id"), (col("id") % 2).as("k"))
      .repartition(col("k"))
      .write.format("graftshard").mode("append").save(dir)
    assert(ShardFormat.readManifest(dir).get.sortedBy.isEmpty)
    GraftShardMaintenance.compact(spark, dir)
    val m = ShardFormat.readManifest(dir).get
    assert(m.sortedBy.isEmpty, "compaction cannot resurrect an undeclared ordering")
    assert(m.files.groupBy(_.partition).forall(_._2.size == 1))
    assert(spark.read.format("graftshard").load(dir).agg(sum("id")).collect()(0)
      .getLong(0) == (0L until 100L).sum)
    // second compact: every key already one file -> no-op
    val r2 = GraftShardMaintenance.compact(spark, dir)
    assert(r2 == GraftShardMaintenance.CompactReport(0, Nil, Nil))
  }

  test("compression is a table property: appends inherit it, compaction preserves it, explicit none overrides") {
    val dir = tmp()
    val raw = tmp()
    def docs(lo: Long, hi: Long) = spark.range(lo, hi).select(col("id"),
      concat(lit("the quick brown fox jumps over the lazy dog "), col("id") % 7).as("text"))
    def totalBytes(d: String) = ShardFormat.readManifest(d).get.files.map(_.bytes).sum
    def compression(d: String) = ShardFormat.readManifest(d).get.compression
    // first compressed write records the property
    docs(0, 20000).coalesce(4)
      .write.format("graftshard").option("compression", "deflate")
      .mode("overwrite").save(dir)
    assert(compression(dir) == Some("deflate"))
    // an OPTIONLESS append inherits: the appended files deflate too
    docs(20000, 40000).coalesce(4)
      .write.format("graftshard").mode("append").save(dir)
    assert(compression(dir) == Some("deflate"))
    // raw twin for the size comparison
    docs(0, 40000).coalesce(8)
      .write.format("graftshard").mode("overwrite").save(raw)
    assert(totalBytes(dir) < totalBytes(raw) / 3,
      s"append must stay deflated: ${totalBytes(dir)} vs raw ${totalBytes(raw)}")
    // compaction (the routine OPTIMIZE pass) preserves the property AND
    // the at-rest ratio — the 100 TB failure mode this property exists for
    val report = GraftShardMaintenance.compact(spark, dir)
    assert(report.groups > 0, "small files must have merged")
    assert(compression(dir) == Some("deflate"))
    assert(totalBytes(dir) < totalBytes(raw) / 3,
      s"compaction must rewrite compressed: ${totalBytes(dir)} vs raw ${totalBytes(raw)}")
    // rows byte-exact after the whole life cycle
    val t = spark.read.format("graftshard").load(dir)
    assert(t.count() == 40000L)
    assert(t.where(col("id") === 12345L).select("text").collect()(0).getString(0) ==
      s"the quick brown fox jumps over the lazy dog ${12345 % 7}")
    // an explicit none on a truncate clears the property
    docs(0, 100).coalesce(1)
      .write.format("graftshard").option("compression", "none")
      .mode("overwrite").save(dir)
    assert(compression(dir) == None)
    // and an optionless truncate INHERITS (overwrites must not decay it)
    docs(0, 100).coalesce(1)
      .write.format("graftshard").option("compression", "deflate")
      .mode("overwrite").save(dir)
    docs(0, 100).coalesce(1)
      .write.format("graftshard").mode("overwrite").save(dir)
    assert(compression(dir) == Some("deflate"))
  }

  test("row-level rewrites keep the table's recorded compression (CoW and MoR inserts)") {
    val wh = TestSpark.tempDir("graft_compress_rl")
    spark.conf.set("spark.sql.catalog.czcat", classOf[graft.sources.v2.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.czcat.warehouse", wh)
    spark.sql("CREATE NAMESPACE czcat.g")
    spark.sql("CREATE TABLE czcat.g.t (id BIGINT, text STRING) USING graftshard " +
      "TBLPROPERTIES ('compression' = 'deflate')")
    val dir = s"$wh/g/t"
    assert(ShardFormat.readManifest(dir).get.compression == Some("deflate"))
    spark.range(0, 20000).select(col("id"),
        concat(lit("the quick brown fox jumps over the lazy dog "), col("id") % 7).as("text"))
      .coalesce(1).writeTo("czcat.g.t").append()
    val before = ShardFormat.readManifest(dir).get.files.map(_.bytes).sum
    // copy-on-write UPDATE rewrites the file — must stay deflated
    spark.sql("UPDATE czcat.g.t SET text = 'changed' WHERE id = 7")
    val m = ShardFormat.readManifest(dir).get
    assert(m.compression == Some("deflate"))
    val after = m.files.map(_.bytes).sum
    assert(after < before * 3 / 2,
      s"CoW rewrite must stay compressed: $after vs $before pre-rewrite")
    assert(spark.table("czcat.g.t").where(col("id") === 7).select("text")
      .collect()(0).getString(0) == "changed")
    // MoR UPDATE: the re-insert file inherits too (size check is moot for
    // one row — pin the property survives and rows stay exact)
    spark.conf.set("spark.graftshard.rowLevel.mode", "merge-on-read")
    try spark.sql("UPDATE czcat.g.t SET text = 'mor' WHERE id = 9")
    finally spark.conf.unset("spark.graftshard.rowLevel.mode")
    assert(ShardFormat.readManifest(dir).get.compression == Some("deflate"))
    assert(spark.table("czcat.g.t").where(col("id") === 9).select("text")
      .collect()(0).getString(0) == "mor")
  }

  test("partition-scoped compaction: only the named key's files merge; other keys untouched; refusals") {
    val dir = tmp()
    spark.range(0, 300).select(col("id"), (col("id") % 3).as("k"))
      .write.format("graftshard").option("partitionKey", "k")
      .mode("overwrite").save(dir)
    // fragment every key with two more appends
    for (lo <- Seq(300L, 600L)) {
      spark.range(lo, lo + 300).select(col("id"), (col("id") % 3).as("k"))
        .write.format("graftshard").mode("append").save(dir)
    }
    val before = ShardFormat.readManifest(dir).get
    val perKey = before.files.groupBy(_.partition.get).view.mapValues(_.size).toMap
    assert(perKey.values.forall(_ >= 3), s"$perKey")

    val report = GraftShardMaintenance.compact(spark, dir, onlyPartition = Some(1L))
    val after = ShardFormat.readManifest(dir).get
    val afterPerKey = after.files.groupBy(_.partition.get).view.mapValues(_.size).toMap
    assert(afterPerKey(1L) == 1, s"key 1 must fully merge: $afterPerKey")
    assert(afterPerKey(0L) == perKey(0L) && afterPerKey(2L) == perKey(2L),
      "other keys' files must be untouched")
    assert(report.replaced.nonEmpty &&
      report.replaced.toSet == before.files.filter(_.partition.contains(1L)).map(_.name).toSet)
    val rows = spark.read.format("graftshard").load(dir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted
    assert(rows.toSeq == (0L until 900L).map(id => (id, id % 3)))

    val eNoKey = intercept[IllegalArgumentException] {
      GraftShardMaintenance.compact(spark, dir, onlyPartition = Some(99L))
    }
    assert(eNoKey.getMessage.contains("no files under partition"))
    val unkeyed = tmp()
    spark.range(0, 10).select(col("id"), col("id").as("v"))
      .coalesce(1).write.format("graftshard").mode("overwrite").save(unkeyed)
    val eUnpart = intercept[IllegalArgumentException] {
      GraftShardMaintenance.compact(spark, unkeyed, onlyPartition = Some(0L))
    }
    assert(eUnpart.getMessage.contains("unpartitioned"))
  }

  test("commit validation: a concurrent MoR delete on a replaced input refuses (no resurrection); pure appends tolerated") {
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    val schema = StructType(Seq(StructField("id", LongType)))
    def fe(name: String, deletes: Option[String] = None, deletedRows: Long = 0L) =
      ShardFormat.FileEntry(name, 100L, 10L, Map.empty, Map.empty,
        deletes = deletes, deletedRows = deletedRows)
    def m(v: Long, files: ShardFormat.FileEntry*) =
      ShardFormat.Manifest(schema, "g", files, version = v)
    val planned = m(3, fe("a.shard"), fe("b.shard", Some("dv-old.dvs"), 2L))
    // pure append while compacting: safe — the new entry carries over
    assert(GraftShardMaintenance.validateCommit(
      planned, m(4, fe("a.shard"), fe("b.shard", Some("dv-old.dvs"), 2L), fe("c.shard")),
      Set("a.shard", "b.shard")).isEmpty)
    // a replaced input vanished (overwrite/row-level rewrite): refuse
    assert(GraftShardMaintenance.validateCommit(
      planned, m(4, fe("b.shard", Some("dv-old.dvs"), 2L)),
      Set("a.shard", "b.shard")).exists(_.contains("replaced")))
    // THE resurrection case: same names, but a MoR DELETE swapped b's
    // delete vector between plan and commit — output built from the
    // plan-time vector would resurrect the new deletes. Must refuse.
    assert(GraftShardMaintenance.validateCommit(
      planned, m(4, fe("a.shard"), fe("b.shard", Some("dv-new.dvs"), 5L)),
      Set("a.shard", "b.shard")).exists(_.contains("delete vectors changed")))
    // a FIRST vector appearing on a previously clean file also refuses
    assert(GraftShardMaintenance.validateCommit(
      planned, m(4, fe("a.shard", Some("dv-x.dvs"), 1L), fe("b.shard", Some("dv-old.dvs"), 2L)),
      Set("a.shard", "b.shard")).exists(_.contains("delete vectors changed")))
    // delete-vector churn on an UNREPLACED file is irrelevant
    assert(GraftShardMaintenance.validateCommit(
      planned, m(4, fe("a.shard"), fe("b.shard", Some("dv-old.dvs"), 2L),
        fe("d.shard", Some("dv-d.dvs"), 1L)),
      Set("a.shard", "b.shard")).isEmpty)
  }

  /** The compacted table's rows in physical order (one output file):
    * (_pos, id, s). */
  private def physicalRows(dir: String): Seq[(Long, Long, String)] = {
    val m = ShardFormat.readManifest(dir).get
    assert(m.files.size == 1, s"expected one compacted file: ${m.files.map(_.name)}")
    spark.read.format("graftshard").load(dir)
      .select(col("_pos"), col("id"), col("s")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).sortBy(_._1).toSeq
  }

  test("k-way merge over multi-group, dictionary-encoded runs: exact merged order and values") {
    // two sorted runs, each MORE than one row group, interleaving ids
    // (evens then odds): every merge step alternates between heads, so
    // a head held across its reader's advance must be a copy
    val dir = tmp()
    val half = ShardFormat.GroupMaxRows + 4464L // 70000 rows per run
    def run(parity: Long, mode: String): Unit =
      spark.range(0, half).select((col("id") * 2 + parity).as("id"))
        .select(col("id"), lit(0L).as("k"), concat(lit("s"), col("id") % 50).as("s"))
        .coalesce(1).write.format("graftshard")
        .option("partitionKey", "k").option("sortWithinShards", "id")
        .option("compression", "dict").mode(mode).save(dir)
    run(0L, "overwrite")
    run(1L, "append")
    val m0 = ShardFormat.readManifest(dir).get
    assert(m0.files.size == 2 && m0.files.forall(_.rows == half))
    val report = GraftShardMaintenance.compact(spark, dir, targetBytes = Long.MaxValue)
    assert(report.groups == 1 && report.replaced.size == 2)
    val got = physicalRows(dir)
    assert(got == (0L until 2 * half).map(id => (id, id, s"s${id % 50}")))
  }

  test("z-merge over multi-group, dictionary-encoded z-runs: exact merged order and values") {
    // a 384x384 grid split by id parity into two z-ordered runs of
    // 73,728 rows (two row groups each); (x, y) is unique, so the
    // merged Morton order is exact. zorderBy resolves its sort function
    // through the catalog
    val warehouse = TestSpark.tempDir("graft_compact_z")
    spark.conf.set("spark.sql.catalog.cmzcat", classOf[graft.sources.v2.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.cmzcat.warehouse", warehouse)
    spark.sql("CREATE NAMESPACE cmzcat.z")
    def run(parity: Long) = {
      spark.range(0, 384L * 384L).where(col("id") % 2 === parity)
        .select(col("id"), (col("id") % 384).as("x"), (col("id") / 384).cast("long").as("y"),
          concat(lit("s"), col("id") % 40).as("s"))
        .writeTo("cmzcat.z.t").using("graftshard").option("zorderBy", "x,y")
        .option("writePartitions", "1").option("compression", "dict")
    }
    run(0L).create()
    run(1L).append()
    val dir = s"$warehouse/z/t"
    val m0 = ShardFormat.readManifest(dir).get
    assert(m0.zorderBy.contains(("x", "y")) && m0.files.size == 2)
    assert(m0.files.forall(_.rows > ShardFormat.GroupMaxRows))
    val report = GraftShardMaintenance.compact(spark, dir, targetBytes = Long.MaxValue)
    assert(report.groups == 1 && report.replaced.size == 2)
    val got = physicalRows(dir)
    val want = (0L until 384L * 384L).sortBy(id => ShardFormat.zOrderOf(id % 384, id / 384))
      .zipWithIndex.map { case (id, pos) => (pos.toLong, id, s"s${id % 40}") }
    assert(got == want)
  }
}
