package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.v2.{GraftShardMaintenance, ShardFormat}

/** Dynamic partition overwrite (`df.writeTo(t).overwritePartitions()`):
  * replace exactly the partitions the incoming data lands in, touch
  * nothing else — the daily re-materialization shape. Pins: the
  * replaced set is resolved at COMMIT time from the written files'
  * keys (exact, never predicted), untouched partitions' files carry
  * over by identity, the generation dies (replaced entries vanish
  * mid-list), CDF reads the commit as whole-file deletes + inserts,
  * empty input replaces nothing, and the refusal surfaces
  * (unpartitioned table, mixed-era files, upsert/zorder combos). */
class GraftShardDynamicOverwriteSpec extends AnyFunSuite {
  private lazy val spark = {
    val s = TestSpark.spark
    s.conf.set("spark.sql.catalog.dyncat", classOf[graft.sources.v2.GraftCatalog].getName)
    s.conf.set("spark.sql.catalog.dyncat.warehouse", warehouse)
    s
  }
  private lazy val warehouse = TestSpark.tempDir("graft_dyn_spec")

  test("overwritePartitions replaces exactly the incoming keys; others carry by identity") {
    spark.sql("CREATE NAMESPACE dyncat.a")
    spark.range(0, 300).select(col("id"), (col("id") % 3).as("k"))
      .writeTo("dyncat.a.t").using("graftshard")
      .partitionedBy(col("k")).create()
    val dir = s"$warehouse/a/t"
    val before = ShardFormat.readManifest(dir).get
    val untouched = before.files.filter(_.partition.exists(p => p == 0L || p == 2L))

    // re-materialize partition 1 only: new values, different row count
    spark.range(1000, 1050).select(col("id"), lit(1L).as("k"))
      .writeTo("dyncat.a.t").overwritePartitions()

    val after = ShardFormat.readManifest(dir).get
    assert(after.operation == "replace")
    assert(after.generation != before.generation,
      "replaced entries vanish mid-list: streaming prefix offsets must die")
    assert(after.files.filter(_.partition.exists(p => p == 0L || p == 2L))
      .map(_.name).toSet == untouched.map(_.name).toSet,
      "untouched partitions' files must carry over")
    assert(!after.files.exists(fe =>
      before.files.filter(_.partition.contains(1L)).map(_.name).contains(fe.name)),
      "partition 1's old files must be gone from the manifest")

    val rows = spark.table("dyncat.a.t").collect()
      .map(r => (r.getLong(0), r.getLong(1))).sorted
    val expect = ((0L until 300L).filter(_ % 3 != 1).map(id => (id, id % 3)) ++
      (1000L until 1050L).map(id => (id, 1L))).sorted
    assert(rows.toSeq == expect)

    // CDF reads the commit as whole-file deletes + inserts
    val changes = spark.read.format("graftshard")
      .option("changesFrom", before.version.toString).load(dir)
      .groupBy("_change_type").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(changes("delete") == 100L && changes("insert") == 50L, s"$changes")
  }

  test("empty input replaces nothing; INSERT OVERWRITE stays a truncate without dynamic mode") {
    spark.sql("CREATE NAMESPACE dyncat.b")
    spark.range(0, 100).select(col("id"), (col("id") % 2).as("k"))
      .writeTo("dyncat.b.t").using("graftshard")
      .partitionedBy(col("k")).create()
    val dir = s"$warehouse/b/t"

    val genBefore = ShardFormat.readManifest(dir).get.generation
    spark.range(0, 0).select(col("id"), col("id").as("k"))
      .writeTo("dyncat.b.t").overwritePartitions()
    assert(spark.table("dyncat.b.t").count() == 100,
      "an empty dynamic overwrite must not drop anything")
    assert(ShardFormat.readManifest(dir).get.generation == genBefore,
      "zero files replaced, all carried by identity — the logical prefix " +
        "is intact, so streaming readers' offsets must survive")

    // the plain truncate face still works on the same table
    spark.range(200, 210).select(col("id"), (col("id") % 2).as("k"))
      .writeTo("dyncat.b.t").using("graftshard").createOrReplace()
    assert(spark.table("dyncat.b.t").count() == 10)
  }

  test("refusals: unpartitioned table; mixed-era files after partition evolution") {
    spark.sql("CREATE NAMESPACE dyncat.c")
    spark.range(0, 50).select(col("id"), (col("id") % 2).as("k"))
      .coalesce(1).writeTo("dyncat.c.flat").using("graftshard").create()
    val eFlat = intercept[Exception] {
      spark.range(0, 5).select(col("id"), (col("id") % 2).as("k"))
        .writeTo("dyncat.c.flat").overwritePartitions()
    }
    def msgs(t: Throwable): String =
      if (t == null) "" else Option(t.getMessage).getOrElse("") + msgs(t.getCause)
    assert(msgs(eFlat).contains("needs a partitioned table"), msgs(eFlat))

    // evolved table: era-1 files have no keys — a dynamic overwrite
    // could leave their rows of the replaced partitions alive
    val dir = s"$warehouse/c/flat"
    GraftShardMaintenance.setPartitioning(
      dir, Some(ShardFormat.IdentityPart("k")))
    val eMixed = intercept[Exception] {
      spark.range(0, 5).select(col("id"), (col("id") % 2).as("k"))
        .writeTo("dyncat.c.flat").overwritePartitions()
    }
    assert(msgs(eMixed).contains("mixed-era"), msgs(eMixed))

    // after the explicit rewrite, dynamic overwrite is admitted
    val all = spark.table("dyncat.c.flat")
    all.writeTo("dyncat.c.flat").overwrite(lit(true))
    spark.range(1000, 1003).select(col("id"), lit(0L).as("k"))
      .writeTo("dyncat.c.flat").overwritePartitions()
    val rows = spark.table("dyncat.c.flat").collect().map(_.getLong(0)).sorted
    assert(rows.toSeq == ((0L until 50L).filter(_ % 2 == 1) ++ (1000L until 1003L)).sorted)
  }
}
