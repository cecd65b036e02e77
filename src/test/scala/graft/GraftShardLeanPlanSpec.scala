package graft


import org.apache.spark.sql.connector.read.SupportsRuntimeFiltering
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.v2.{GraftShardScan, GraftShardScanBuilder, ShardFilesPartition, ShardFormat}

/** LEAN filterless planning over paged manifests: an eligible scan (no
  * pushed filters / limit / TopN / aggregate / time travel) streams the
  * manifest's segments one at a time and retains only lean per-file
  * tuples plus statistic accumulators — never the concatenated
  * FileEntry list with its stat maps (the ~hundreds-of-MB driver cost
  * at the 1M-entry ceiling). Pins: the lean path produces EXACTLY the
  * partitions the rich formula produces (same order, same bin-packing,
  * same keyed grouping), the same size/row statistics and NDV column
  * stats, runtime (DPP) filters still prune — by re-streaming with
  * segment-rollup pruning — and results are byte-identical
  * end-to-end. */
class GraftShardLeanPlanSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def tmp(): String = TestSpark.tempDir("graft_leanplan_spec") + "/t"

  private val empty = CaseInsensitiveStringMap.empty()

  /** Writes `bands` clustered single-file commits under a LOW segment
    * cap so the root pages like a 100 TB table's manifest would. */
  private def mkPaged(dir: String, bands: Int, rowsPerBand: Long,
      opts: Map[String, String] = Map.empty): Unit =
    ShardFormat.segmentCapLock.synchronized {
      val prev = ShardFormat.segmentMaxEntries
      ShardFormat.segmentMaxEntries = 4
      try {
        (0 until bands).foreach { b =>
          val lo = b * rowsPerBand
          var w = spark.range(lo, lo + rowsPerBand)
            .select(col("id"), (col("id") % 7).as("k"),
              concat(lit("s"), col("id") % 100).as("s"))
            .coalesce(1).write.format("graftshard")
          opts.foreach { case (k, v) => w = w.option(k, v) }
          w.mode(if (b == 0) "overwrite" else "append").save(dir)
        }
      } finally ShardFormat.segmentMaxEntries = prev
    }

  private def schemaOf(dir: String) =
    ShardFormat.readManifest(dir).get.schema

  private def filesOf(p: Array[org.apache.spark.sql.connector.read.InputPartition]) =
    p.map(_.asInstanceOf[ShardFilesPartition].files.map(_._1).toSeq).toSeq

  test("filterless planning over a paged root equals the rich formula: same partitions, same stats") {
    val dir = tmp()
    mkPaged(dir, bands = 14, rowsPerBand = 1000,
      opts = Map("ndvColumns" -> "id,k"))
    val m = ShardFormat.readManifest(dir).get
    assert(m.pagedSegments.size > 1, "the root must be paged")

    val sb = new GraftShardScanBuilder(dir, schemaOf(dir), empty, None)
    val scan = sb.build()
    val leanParts = scan.toBatch.planInputPartitions()

    // the rich planning formula, recomputed by hand from the full list
    val richParts = GraftShardScan.binPack(
      dir, m.files.map(ShardFormat.leanOf), 128L * 1024 * 1024)
    assert(filesOf(leanParts) == filesOf(richParts),
      "lean partitions must be identical to the rich bin-packing")

    // statistics equal the full-list sums
    val st = scan.asInstanceOf[org.apache.spark.sql.connector.read.SupportsReportStatistics]
      .estimateStatistics()
    assert(st.sizeInBytes().getAsLong == m.files.map(_.bytes).sum)
    assert(st.numRows().getAsLong == m.files.map(fe => fe.rows - fe.deletedRows).sum)
    // NDV column stats equal the rich rollup
    import scala.jdk.CollectionConverters._
    val cs = st.columnStats().asScala.map { case (r, c) => r.describe() -> c }
    val richNdvId = ShardFormat.ndvEstimate(m.files.flatMap(_.ndv.get("id"))).get
    assert(cs("id").distinctCount().getAsLong ==
      math.min(richNdvId, m.files.map(fe => fe.rows - fe.deletedRows).sum))
    assert(cs("id").min().get() == Long.box(0L))
    assert(cs("id").max().get() == Long.box(13999L))
    assert(cs("k").distinctCount().getAsLong <= 7 * 2, // HLL band
      s"k NDV ${cs("k").distinctCount().getAsLong}")
    // the KLL histogram serves on the lean path too, over the in-stream
    // merged sketch — same shape as the rich path's
    assert(cs("id").histogram().isPresent)
    val hb = cs("id").histogram().get().bins()
    assert(hb.length == 32 && hb.head.lo() >= 0.0 && hb.last.hi() <= 13999.0)

    // end-to-end: same rows as the direct read
    val got = spark.read.format("graftshard").load(dir).count()
    assert(got == 14000)
  }

  test("runtime (DPP) filters on the lean path still prune, by re-streaming with rollup pruning") {
    val dir = tmp()
    mkPaged(dir, bands = 14, rowsPerBand = 1000)
    val m = ShardFormat.readManifest(dir).get

    val sb = new GraftShardScanBuilder(dir, schemaOf(dir), empty, None)
    val scan = sb.build()
    val before = scan.toBatch.planInputPartitions()
    assert(filesOf(before).flatten.size == 14)

    // a runtime IN filter for two id bands (what a broadcast join key
    // delivery looks like): only those bands' files may survive
    scan.asInstanceOf[SupportsRuntimeFiltering].filter(
      Array[org.apache.spark.sql.sources.Filter](
        org.apache.spark.sql.sources.In("id", Array(500L, 12500L))))
    val after = scan.toBatch.planInputPartitions()
    val survivors = filesOf(after).flatten.toSet
    assert(survivors.size == 2, s"expected 2 surviving files: $survivors")
    // equal to the rich formula under the same filter
    val richSel = m.files.filter(fe => graft.sources.v2.ShardFilters.mayContain(
      org.apache.spark.sql.sources.In("id", Array(500L, 12500L)), fe))
    assert(survivors == richSel.map(fe =>
      new java.io.File(dir, fe.name).getPath).toSet)
  }

  test("keyed paged tables group identically on the lean path; inline roots keep the rich path") {
    val dir = tmp()
    // keyed writes: partitioned by k via the catalog-free path — write
    // with repartition so each file carries one key
    ShardFormat.segmentCapLock.synchronized {
      val prev = ShardFormat.segmentMaxEntries
      ShardFormat.segmentMaxEntries = 4
      try {
        (0 until 6).foreach { b =>
          spark.range(b * 1000L, (b + 1) * 1000L)
            .select(col("id"), (col("id") % 8).as("k"))
            .write.format("graftshard")
            .option("partitionKey", "k")
            .mode(if (b == 0) "overwrite" else "append").save(dir)
        }
      } finally ShardFormat.segmentMaxEntries = prev
    }
    val m = ShardFormat.readManifest(dir).get
    assert(m.pagedSegments.size > 1)
    assert(m.files.forall(_.partition.isDefined))

    // grouped planning needs the key column in the projection
    val sb = new GraftShardScanBuilder(dir, schemaOf(dir), empty, None)
    sb.pruneColumns(schemaOf(dir))
    val parts = sb.build().toBatch.planInputPartitions()
    // one partition per key value, rich-identical membership
    val richKeys = m.files.groupBy(_.partition.get)
    if (org.apache.spark.sql.internal.SQLConf.get.v2BucketingEnabled) {
      assert(parts.length == richKeys.size)
      val leanGroups = parts.map(_.asInstanceOf[ShardFilesPartition]
        .files.map(_._1).toSet).toSet
      val richGroups = richKeys.values.map(_.map(fe =>
        new java.io.File(dir, fe.name).getPath).toSet).toSet
      assert(leanGroups == richGroups)
    }

    // an INLINE root (small table) never takes the lean path — the
    // planner still works end to end through the rich formula
    val small = tmp()
    spark.range(0, 100).select(col("id"), (col("id") % 7).as("k"),
      concat(lit("s"), col("id")).as("s"))
      .coalesce(1).write.format("graftshard").mode("overwrite").save(small)
    assert(ShardFormat.readManifest(small).get.pagedSegments.isEmpty)
    assert(spark.read.format("graftshard").load(small).count() == 100)
  }

  test("streaming over a paged root plans micro-batches lean: capped bootstrap covers every row exactly once") {
    val dir = tmp()
    mkPaged(dir, bands = 12, rowsPerBand = 500)
    assert(ShardFormat.readManifest(dir).get.pagedSegments.size > 1)

    // AvailableNow bootstrap with a 3-file cap: the stream's offset
    // math and batch planning run the segment-streamed path per trigger
    val outDir = TestSpark.tempDir("graft_leanplan_stream")
    val q = spark.readStream.format("graftshard")
      .option("maxFilesPerTrigger", "3").load(dir)
      .writeStream.format("parquet")
      .option("path", s"$outDir/data")
      .option("checkpointLocation", s"$outDir/ckpt")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)
    assert(!q.isActive)
    val got = spark.read.parquet(s"$outDir/data")
    assert(got.count() == 6000)
    assert(got.select("id").distinct().count() == 6000)
    // the 3-file cap must have produced >= 4 micro-batches
    assert(q.recentProgress.count(_.numInputRows > 0) >= 4,
      q.recentProgress.map(_.numInputRows).mkString(","))

    // the root carries per-segment counts, so the per-trigger offset
    // math never touched a segment: (generation, count) from root alone
    val m = ShardFormat.readManifest(dir).get
    val rc = ShardFormat.readManifestCount(dir)
    assert(rc.contains((m.generation, m.files.size.toLong)),
      s"root-resident counts must match the manifest: $rc")
  }
}
