package graft

import java.io.File

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.v2.{GraftShardMaintenance, ShardFormat}

/** Paged manifests: once a table outgrows one segment's worth of file
  * entries, the root manifest stops inlining the `files` array and
  * lists immutable SEGMENT files instead — and every commit
  * re-serializes ONLY the segments it touched. This is the stated
  * upgrade path for the single-JSON manifest's 100 TB ceiling: at 1M
  * entries the monolithic root is ~300 MB re-written TWICE per commit
  * (snapshot + pointer); paged, an append writes one new segment plus
  * a root of ~100 names.
  *
  * Load-bearing pins:
  *   - reuse is real: an append leaves every prior segment file
  *     byte-identical on disk and re-references it by name;
  *   - reuse is safe: a row-level delete (fe.copy) dirties EXACTLY its
  *     segment — the stale segment is re-written, others reused —
  *     because reuse is an identity check over the reader's own entry
  *     references, and every mutation path copies;
  *   - order survives paging (streaming prefix offsets key on it);
  *   - snapshots share segments; vacuum keeps segments any retained
  *     version references and reclaims them after expire;
  *   - a missing segment file fails loudly with its name;
  *   - small tables stay inline (zero extra files — the format is
  *     unchanged below the threshold). */
class GraftShardManifestPagingSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def tmp(): String = TestSpark.tempDir("graft_paging_spec") + "/t"

  private def segFiles(dir: String): Map[String, Long] =
    Option(new File(dir).listFiles()).getOrElse(Array.empty)
      .filter(_.getName.startsWith("_graft_manifest-seg-"))
      .map(f => f.getName -> f.length()).toMap

  private def withSegmentCap[A](cap: Int)(body: => A): A =
    // serialized with every other cap window (incl. the x73 gate run by
    // QueryRegistrySpec) — parallel suites must not interleave restores
    ShardFormat.segmentCapLock.synchronized {
      val prev = ShardFormat.segmentMaxEntries
      ShardFormat.segmentMaxEntries = cap
      try body finally ShardFormat.segmentMaxEntries = prev
    }

  private def appendOne(dir: String, lo: Long): Unit =
    spark.range(lo, lo + 5).select(col("id"), (col("id") * 2).as("v"))
      .coalesce(1).write.format("graftshard").mode("append").save(dir)

  test("paging kicks in past the threshold; order and rows survive; small tables stay inline") {
    withSegmentCap(3) {
      val dir = tmp()
      (0 until 3).foreach(i => appendOne(dir, i * 5L))
      // at 3 files the list still fits one segment: inline, no seg files
      assert(segFiles(dir).isEmpty, "below/at threshold stays inline")
      appendOne(dir, 15L)
      val m = ShardFormat.readManifest(dir).get
      assert(m.files.size == 4)
      assert(m.pagedSegments.nonEmpty, "over threshold: root lists segments")
      assert(segFiles(dir).keySet == m.pagedSegments.map(_.name).toSet)
      assert(m.pagedSegments.flatMap(_.entries) == m.files, "order is the concatenation")
      // manifest order = append order (the streaming prefix contract)
      assert(m.files.map(_.stats("id")._1) == Seq(0L, 5L, 10L, 15L))
      val rows = spark.read.format("graftshard").load(dir)
        .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
      assert(rows == (0L until 20L).map(i => (i, i * 2)))
    }
  }

  test("append reuses every prior segment byte-identically and adds one") {
    withSegmentCap(2) {
      val dir = tmp()
      (0 until 4).foreach(i => appendOne(dir, i * 5L))
      val before = segFiles(dir)
      val refsBefore = ShardFormat.readManifest(dir).get.pagedSegments.map(_.name)
      assert(refsBefore.nonEmpty)
      appendOne(dir, 20L)
      val after = ShardFormat.readManifest(dir).get
      val refsAfter = after.pagedSegments.map(_.name)
      assert(refsAfter.startsWith(refsBefore),
        s"prior segments re-referenced by name, in order: $refsBefore -> $refsAfter")
      assert(refsAfter.size == refsBefore.size + 1,
        "the appended file lands in ONE new segment")
      before.foreach { case (n, len) =>
        assert(new File(dir, n).length() == len, s"prior segment $n rewritten")
      }
      assert(spark.read.format("graftshard").load(dir).count() == 25)
    }
  }

  test("a merge-on-read delete dirties exactly its segment; reuse never publishes stale bytes") {
    withSegmentCap(2) {
      val warehouse = TestSpark.tempDir("graft_paging_cat")
      spark.conf.set("spark.sql.catalog.pgcat", classOf[graft.sources.v2.GraftCatalog].getName)
      spark.conf.set("spark.sql.catalog.pgcat.warehouse", warehouse)
      spark.sql("CREATE NAMESPACE IF NOT EXISTS pgcat.pg")
      spark.sql("CREATE TABLE pgcat.pg.t (id BIGINT, v BIGINT) USING graftshard")
      val dir = s"$warehouse/pg/t"
      (0 until 6).foreach(i => appendOne(dir, i * 5L))
      val m0 = ShardFormat.readManifest(dir).get
      val refs0 = m0.pagedSegments.map(_.name)
      assert(refs0.size >= 3)
      // the segment holding the file whose rows include id=10 is the
      // one the delete must dirty; every other segment must be reused
      val victim = m0.pagedSegments
        .find(_.entries.exists(_.stats("id")._1 == 10L)).get
      val prev = spark.conf.getOption("spark.graftshard.rowLevel.mode")
      spark.conf.set("spark.graftshard.rowLevel.mode", "merge-on-read")
      try spark.sql("DELETE FROM pgcat.pg.t WHERE id = 10")
      finally prev match {
        case Some(v) => spark.conf.set("spark.graftshard.rowLevel.mode", v)
        case None => spark.conf.unset("spark.graftshard.rowLevel.mode")
      }
      val m1 = ShardFormat.readManifest(dir).get
      val refs1 = m1.pagedSegments.map(_.name)
      assert(!refs1.contains(victim.name), "the touched segment was re-written")
      assert(refs0.filterNot(_ == victim.name).forall(refs1.contains),
        s"untouched segments reused: $refs0 -> $refs1 (victim ${victim.name})")
      // and the re-written segment carries the delete vector (no stale reuse)
      assert(m1.files.count(_.deletes.isDefined) == 1)
      assert(spark.read.format("graftshard").load(dir)
        .where(col("id") === 10L).count() == 0)
      assert(spark.read.format("graftshard").load(dir).count() == 29)
    }
  }

  test("snapshots share segments; vacuum keeps retained, reclaims expired") {
    withSegmentCap(2) {
      val dir = tmp()
      (0 until 4).foreach(i => appendOne(dir, i * 5L))
      val refsV = ShardFormat.readManifest(dir).get.pagedSegments.map(_.name)
      // overwrite: replaces every entry — all old segments now referenced
      // ONLY by retained snapshots
      spark.range(100, 110).select(col("id"), col("id").as("v")).coalesce(1)
        .write.format("graftshard").mode("overwrite").save(dir)
      // overwrote down to 1 file: inline again; old segments snapshot-only
      val vr0 = GraftShardMaintenance.vacuum(dir, minAgeMs = 0L)
      refsV.foreach(n => assert(new File(dir, n).isFile,
        s"segment $n is referenced by a retained snapshot — vacuum must keep it"))
      assert(!vr0.deleted.exists(_.startsWith("_graft_manifest-seg-")))
      // time travel still serves the paged snapshot through its segments
      val v = ShardFormat.readManifest(dir).get.version - 1
      assert(spark.read.format("graftshard")
        .option("versionAsOf", v).load(dir).count() == 20)
      GraftShardMaintenance.expireSnapshots(dir, keepLast = 1)
      val vr1 = GraftShardMaintenance.vacuum(dir, minAgeMs = 0L)
      assert(refsV.forall(vr1.deleted.contains),
        s"expired snapshots' segments reclaimed, got ${vr1.deleted}")
      assert(spark.read.format("graftshard").load(dir).count() == 10)
    }
  }

  test("a missing segment file fails loudly with its name") {
    withSegmentCap(2) {
      val dir = tmp()
      (0 until 4).foreach(i => appendOne(dir, i * 5L))
      val seg = ShardFormat.readManifest(dir).get.pagedSegments.head.name
      assert(new File(dir, seg).delete())
      val e = intercept[java.io.IOException] { ShardFormat.readManifest(dir) }
      assert(e.getMessage.contains(seg))
    }
  }

  test("compaction collapses a paged table back under the threshold: inline again, segments become garbage") {
    withSegmentCap(2) {
      val dir = tmp()
      (0 until 4).foreach(i => appendOne(dir, i * 5L))
      assert(segFiles(dir).nonEmpty)
      GraftShardMaintenance.compact(spark, dir)
      val m = ShardFormat.readManifest(dir).get
      assert(m.files.size <= 2 && m.pagedSegments.isEmpty,
        "compacted below the threshold: the root inlines again")
      GraftShardMaintenance.expireSnapshots(dir, keepLast = 1)
      val vr = GraftShardMaintenance.vacuum(dir, minAgeMs = 0L)
      assert(vr.deleted.exists(_.startsWith("_graft_manifest-seg-")),
        "orphaned segments reclaimed")
      assert(spark.read.format("graftshard").load(dir).count() == 20)
    }
  }

  test("segment rollups prune plan-time loading; pruned and full scans agree") {
    withSegmentCap(4) {
      val dir = tmp()
      // 6 appends of 5 rows each, disjoint clustered id ranges -> paged
      // root with multiple segments, each covering a distinct id band
      (0 until 6).foreach(i => appendOne(dir, i * 5L))
      val root = new File(dir, "_graft_manifest.json")
      val rootJson = new String(java.nio.file.Files.readAllBytes(root.toPath))
      assert(rootJson.contains("fileSegmentStats"),
        "paged roots must carry per-segment stat rollups")

      val full = ShardFormat.readManifest(dir).get
      // a point predicate on the last band: only the segment holding it
      // may load (plus none others — bands are disjoint and clustered)
      import org.apache.spark.sql.sources.{EqualTo, Filter}
      val preds: Array[Filter] = Array(EqualTo("id", 27L))
      val pruned = ShardFormat.readManifestForScan(dir,
        r => preds.forall(graft.sources.v2.ShardFilters.mayContain(_, r))).get
      assert(pruned.files.size < full.files.size,
        s"selective predicate must skip whole segments: " +
          s"${pruned.files.size} vs ${full.files.size}")
      assert(pruned.files.exists(fe =>
        fe.stats.get("id").exists { case (mn, mx, _) => mn <= 27L && 27L <= mx }),
        "the matching file must survive pruning")

      // end to end: the filtered query result is identical to a read
      // over the full manifest (the pruned face only feeds the scan)
      val got = spark.read.format("graftshard").load(dir)
        .where(col("id") === 27L).collect().map(r => (r.getLong(0), r.getLong(1)))
      assert(got.toSeq == Seq((27L, 54L)))
      assert(spark.read.format("graftshard").load(dir).count() == 30,
        "the unfiltered read still sees every row")

      // pre-rollup manifests degrade to the full read (no claim = load)
      val om = new com.fasterxml.jackson.databind.ObjectMapper()
      val node = om.readTree(root).asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
      node.remove("fileSegmentStats")
      java.nio.file.Files.write(root.toPath, om.writeValueAsBytes(node))
      val degraded = ShardFormat.readManifestForScan(dir,
        r => preds.forall(graft.sources.v2.ShardFilters.mayContain(_, r))).get
      assert(degraded.files.size == full.files.size,
        "a rollup-less root must load every segment")
    }
  }
}
