package graft


import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.v2.{GraftShardMaintenance, ShardFormat}

/** Partition evolution ([[GraftShardMaintenance.setPartitioning]] /
  * `CALL system.set_partitioning`): the clustering spec changes as a
  * metadata-only commit; existing files stay as written with their
  * old-spec key values CLEARED (an identity key is not a bucket id —
  * no consumer may compare keys across specs). Pins: new appends
  * cluster under the new spec, reads over the mixed-era table stay
  * byte-exact, the key-dependent fast paths (storage-partitioned join
  * report, grouped aggregate pushdown) degrade honestly on the mixed
  * table and RETURN after a full rewrite, compaction pools unkeyed and
  * keyed files separately, and the refusal surfaces. */
class GraftShardPartitionEvolutionSpec extends AnyFunSuite {
  private lazy val spark = {
    val s = TestSpark.spark
    s.conf.set("spark.sql.catalog.pecat", classOf[graft.sources.v2.GraftCatalog].getName)
    s.conf.set("spark.sql.catalog.pecat.warehouse", warehouse)
    s
  }
  private lazy val warehouse = TestSpark.tempDir("graft_pe_spec")

  private def tmp(): String = TestSpark.tempDir("graft_pe_spec") + "/t"

  private def scanDesc(df: DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("unpartitioned -> identity: appends cluster, reads stay byte-exact, SPJ report waits for the rewrite") {
    val dir = tmp()
    spark.range(0, 200).select(col("id"), (col("id") % 4).as("k"))
      .coalesce(2).write.format("graftshard").mode("overwrite").save(dir)
    val before = ShardFormat.readManifest(dir).get
    assert(before.partitioning.isEmpty)

    val r = GraftShardMaintenance.setPartitioning(
      dir, Some(ShardFormat.IdentityPart("k")))
    assert(r.filesCleared == 0, "unkeyed files had no values to clear")
    val evolved = ShardFormat.readManifest(dir).get
    assert(evolved.partitioning.contains(ShardFormat.IdentityPart("k")))
    assert(evolved.version == before.version + 1)
    assert(evolved.generation == before.generation,
      "no logical row changed: streaming offsets stay valid")
    assert(evolved.operation == "alter")

    // the append inherits the NEW spec: each new file carries one key
    spark.range(200, 400).select(col("id"), (col("id") % 4).as("k"))
      .write.format("graftshard").mode("append").save(dir)
    val mixed = ShardFormat.readManifest(dir).get
    val (keyed, unkeyed) = mixed.files.partition(_.partition.isDefined)
    assert(unkeyed.size == 2 && keyed.nonEmpty)
    assert(keyed.map(_.partition.get).toSet == Set(0L, 1L, 2L, 3L))

    // byte-exact read over the mixed-era table
    val rows = spark.read.format("graftshard").load(dir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted
    assert(rows.toSeq == (0L until 400L).map(id => (id, id % 4)))
    // mixed table: the key-grouped report must stand down
    val agg = spark.read.format("graftshard").load(dir).groupBy("k").count()
    assert(!scanDesc(agg).contains("keyGroupedBy"))
    assert(!scanDesc(agg).contains("pushedAggregates"),
      "grouped pushdown must refuse while any file is unkeyed")

    // the explicit rewrite re-keys everything: fast paths return
    val all = spark.read.format("graftshard").load(dir)
    all.write.format("graftshard").option("partitionKey", "k")
      .option("truncate", "true").mode("overwrite").save(dir)
    val rewritten = ShardFormat.readManifest(dir).get
    assert(rewritten.files.forall(_.partition.isDefined))
    val agg2 = spark.read.format("graftshard").load(dir).groupBy("k").count()
    assert(scanDesc(agg2).contains("pushedAggregates"), scanDesc(agg2))
    assert(spark.read.format("graftshard").load(dir).count() == 400)
  }

  test("identity -> none and identity -> bucket: old key values are cleared, not reinterpreted") {
    val dir = tmp()
    spark.range(0, 120).select(col("id"), (col("id") % 3).as("k"))
      .write.format("graftshard").option("partitionKey", "k")
      .mode("overwrite").save(dir)
    assert(ShardFormat.readManifest(dir).get.files.forall(_.partition.isDefined))

    val keyedBefore = ShardFormat.readManifest(dir).get.files.count(_.partition.isDefined)
    val r = GraftShardMaintenance.setPartitioning(dir, None)
    assert(r.filesCleared == keyedBefore && keyedBefore >= 3)
    val m = ShardFormat.readManifest(dir).get
    assert(m.partitioning.isEmpty && m.files.forall(_.partition.isEmpty),
      "identity keys must not survive into the unpartitioned era")

    GraftShardMaintenance.setPartitioning(
      dir, Some(ShardFormat.BucketPart(4, "id")))
    val b = ShardFormat.readManifest(dir).get
    assert(b.partitioning.contains(ShardFormat.BucketPart(4, "id")))
    assert(b.files.forall(_.partition.isEmpty))
    val rows = spark.read.format("graftshard").load(dir).count()
    assert(rows == 120)
  }

  test("compaction on a mixed-era table: unkeyed pool and key groups never merge together") {
    val dir = tmp()
    spark.range(0, 100).select(col("id"), (col("id") % 2).as("k"))
      .repartition(3).write.format("graftshard").mode("overwrite").save(dir)
    GraftShardMaintenance.setPartitioning(dir, Some(ShardFormat.IdentityPart("k")))
    spark.range(100, 200).select(col("id"), (col("id") % 2).as("k"))
      .write.format("graftshard").mode("append").save(dir)
    spark.range(200, 300).select(col("id"), (col("id") % 2).as("k"))
      .write.format("graftshard").mode("append").save(dir)

    val report = GraftShardMaintenance.compact(spark, dir)
    assert(report.groups >= 2)
    val m = ShardFormat.readManifest(dir).get
    // every output file is pure: either one key or no key, never a mix
    // (provable from the stats: an unkeyed-pool output spans both k's)
    m.files.filter(_.partition.isDefined).foreach { fe =>
      val (lo, hi, _) = fe.stats("k")
      assert(lo == fe.partition.get && hi == fe.partition.get,
        s"keyed output must hold one key: $fe")
    }
    val rows = spark.read.format("graftshard").load(dir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted
    assert(rows.toSeq == (0L until 300L).map(id => (id, id % 2)))
  }

  test("CALL pecat.system.set_partitioning: SQL face, spec parsing, refusals") {
    spark.sql("CREATE NAMESPACE pecat.pe")
    spark.range(0, 60).select(col("id"), (col("id") % 5).as("k"))
      .coalesce(1).writeTo("pecat.pe.t").using("graftshard").create()

    val row = spark.sql("CALL pecat.system.set_partitioning('pe.t', 'k')").collect().head
    assert(row.getString(0) == "k" && row.getLong(1) == 0)
    spark.range(60, 120).select(col("id"), (col("id") % 5).as("k"))
      .writeTo("pecat.pe.t").append()
    assert(spark.table("pecat.pe.t").count() == 120)

    val keyed = ShardFormat.readManifest(s"$warehouse/pe/t").get
      .files.count(_.partition.isDefined)
    val bRow = spark.sql(
      "CALL pecat.system.set_partitioning('pe.t', 'bucket(8, id)')").collect().head
    assert(bRow.getString(0) == "bucket(8, id)")
    assert(bRow.getLong(1) == keyed && keyed >= 5, "the identity-era files' keys clear")

    def refuse(spec: String): String = {
      val e = intercept[Exception] {
        spark.sql(s"CALL pecat.system.set_partitioning('pe.t', '$spec')").collect()
      }
      def msgs(t: Throwable): String =
        if (t == null) "" else Option(t.getMessage).getOrElse("") + msgs(t.getCause)
      msgs(e)
    }
    assert(refuse("nosuch").contains("not in table schema"))
    assert(refuse("bucket(8, id)").contains("already has"))
    assert(refuse("bucket(0, id)").contains("n > 0"))
    assert(refuse("bucket(oops").contains("cannot parse"))
  }
}
