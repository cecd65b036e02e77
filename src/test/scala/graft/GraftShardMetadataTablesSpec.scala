package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.v2.{GraftShardMaintenance, ShardFormat}

/** Metadata faces (`ns.t.files` / `ns.t.snapshots`): manifest-resident
  * inspection rows served through a driver-local scan. Pins: `files`
  * rows mirror the manifest (incl. partition keys, delete vectors,
  * seq), `snapshots` walks the retained history with operation tags
  * and shrinks under expire, the face composes with SQL aggregation,
  * freshness (a new commit shows up without reloading), a REAL table
  * named `files` shadows the face, and the refusal surfaces. */
class GraftShardMetadataTablesSpec extends AnyFunSuite {
  private lazy val spark = {
    val s = TestSpark.spark
    s.conf.set("spark.sql.catalog.metacat", classOf[graft.sources.v2.GraftCatalog].getName)
    s.conf.set("spark.sql.catalog.metacat.warehouse", warehouse)
    s
  }
  private lazy val warehouse = TestSpark.tempDir("graft_meta_spec")

  test("files face mirrors the manifest: names, sizes, rows, partitions, delete vectors") {
    spark.sql("CREATE NAMESPACE metacat.f")
    spark.sql("CREATE TABLE metacat.f.t (id BIGINT, k BIGINT) USING graftshard PARTITIONED BY (k)")
    spark.range(0, 300).select(col("id"), (col("id") % 3).as("k"))
      .writeTo("metacat.f.t").append()
    val dir = s"$warehouse/f/t"
    spark.conf.set("spark.graftshard.rowLevel.mode", "merge-on-read")
    try spark.sql("DELETE FROM metacat.f.t WHERE id < 30 AND k = 0")
    finally spark.conf.unset("spark.graftshard.rowLevel.mode")

    val m = ShardFormat.readManifest(dir).get
    val rows = spark.table("metacat.f.t.files").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        if (r.isNullAt(4)) -1L else r.getLong(4), r.getBoolean(6))).sortBy(_._1)
    val expect = m.files.map(fe => (fe.name, fe.bytes, fe.rows, fe.deletedRows,
      fe.partition.getOrElse(-1L), fe.deletes.isDefined)).sortBy(_._1)
    assert(rows.toSeq == expect)
    assert(rows.exists(_._6), "the MoR delete must be visible")
    // the face composes with SQL: small-file count per partition
    val agg = spark.sql(
      """SELECT partition, count(*) AS files, sum(rows) AS rows
        |FROM metacat.f.t.files GROUP BY partition ORDER BY partition""".stripMargin)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(agg.map(_._1).toSeq == Seq(0L, 1L, 2L))
    assert(agg.map(_._3).sum == 300L)
  }

  test("snapshots face walks retained history with operation tags; expire shrinks it; freshness without reload") {
    spark.sql("CREATE NAMESPACE metacat.s")
    spark.range(0, 40).select(col("id"), col("id").as("v"))
      .coalesce(1).writeTo("metacat.s.t").using("graftshard").create()
    spark.range(40, 100).select(col("id"), col("id").as("v"))
      .coalesce(1).writeTo("metacat.s.t").append()
    val dir = s"$warehouse/s/t"

    val snaps = spark.table("metacat.s.t.snapshots")
      .orderBy("version").collect()
      .map(r => (r.getLong(0), r.getString(2), r.getLong(3), r.getLong(4)))
    assert(snaps.map(_._1).toSeq == ShardFormat.listVersions(dir))
    assert(snaps.last._2 == "append" && snaps.last._4 == 100L)
    assert(snaps.head._4 <= 40L || snaps.head._3 == 0L,
      s"the create-era snapshot precedes the data: ${snaps.toSeq}")

    // a NEW commit shows up on the next query of the SAME name
    GraftShardMaintenance.compact(spark, dir, targetBytes = 1L << 20)
    val after = spark.table("metacat.s.t.snapshots")
      .orderBy("version").collect().map(r => (r.getLong(0), r.getString(2)))
    assert(after.last._2 == "compact")
    assert(after.length == snaps.length + 1)

    GraftShardMaintenance.expireSnapshots(dir, keepLast = 1)
    assert(spark.table("metacat.s.t.snapshots").count() == 1L)
  }

  test("partitions face: per-key rollup incl. the unkeyed pool and MoR deletes") {
    spark.sql("CREATE NAMESPACE metacat.p")
    spark.range(0, 100).select(col("id"), (col("id") % 2).as("k"))
      .coalesce(1).writeTo("metacat.p.t").using("graftshard").create()
    val dir = s"$warehouse/p/t"
    GraftShardMaintenance.setPartitioning(
      dir, Some(graft.sources.v2.ShardFormat.IdentityPart("k")))
    spark.range(100, 200).select(col("id"), (col("id") % 2).as("k"))
      .writeTo("metacat.p.t").append()
    spark.conf.set("spark.graftshard.rowLevel.mode", "merge-on-read")
    try spark.sql("DELETE FROM metacat.p.t WHERE id >= 100 AND id < 110 AND k = 0")
    finally spark.conf.unset("spark.graftshard.rowLevel.mode")

    val rows = spark.table("metacat.p.t.partitions").collect()
      .map(r => (if (r.isNullAt(0)) -1L else r.getLong(0),
        r.getLong(1), r.getLong(2), r.getLong(4))).sortBy(_._1)
    assert(rows.map(_._1).toSeq == Seq(-1L, 0L, 1L), s"${rows.toSeq}")
    val unkeyed = rows.find(_._1 == -1L).get
    assert(unkeyed._3 == 100L, "the pre-evolution pool holds era-1 rows")
    val k0 = rows.find(_._1 == 0L).get
    assert(k0._4 == 5L, s"the MoR delete must roll up: ${rows.toSeq}")
    assert(rows.map(_._3).sum == 200L)
  }

  test("a REAL table named 'files' shadows the face; refusals are loud") {
    spark.sql("CREATE NAMESPACE metacat.shadow")
    spark.range(0, 7).select(col("id"), col("id").as("v"))
      .coalesce(1).writeTo("metacat.shadow.base").using("graftshard").create()
    // base exists, so metacat.shadow.base.files resolves to the face
    assert(spark.table("metacat.shadow.base.files").count() == 1L)
    // now a REAL table at that identifier: it wins
    spark.range(0, 3).select(col("id").as("only"))
      .coalesce(1).writeTo("metacat.shadow.base.files").using("graftshard").create()
    val shadowed = spark.table("metacat.shadow.base.files")
    assert(shadowed.columns.toSeq == Seq("only") && shadowed.count() == 3L)

    // no base table -> no face
    val e = intercept[Exception] {
      spark.table("metacat.shadow.nosuch.files").collect()
    }
    assert(e.getMessage.contains("files") || e.getMessage.contains("NOT_FOUND") ||
      e.getMessage.toLowerCase.contains("cannot be found"), e.getMessage)
  }
}
