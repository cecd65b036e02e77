package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.ZOrder

/** Z-order layout: the Morton interleave kernel against a bit-level Scala
  * reference, and the actual file-skipping payoff — a z-ordered layout
  * keeps per-file min/max ranges narrow on BOTH layout columns, where a
  * linear sort leaves the secondary column spanning the whole domain in
  * every file. */
class ZOrderSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def mortonRef(a: Long, b: Long, bits: Int): Long = {
    var z = 0L
    for (i <- 0 until bits) {
      z |= ((a >> i) & 1L) << (2 * i)
      z |= ((b >> i) & 1L) << (2 * i + 1)
    }
    z
  }

  test("interleaveBits matches the bit-level Morton reference on exhaustive 6-bit pairs") {
    val rows = for (a <- 0L until 64L; b <- 0L until 64L) yield (a, b)
    val got = rows.toDF("a", "b")
      .select(col("a"), col("b"),
        ZOrder.interleaveBits(Seq(col("a"), col("b")), bits = 6).as("z"))
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toMap
    rows.foreach { case (a, b) =>
      assert(got((a, b)) == mortonRef(a, b, 6), s"mismatch at ($a, $b)")
    }
  }

  test("interleaveBits: three columns, disjoint bit positions, monotone in each arg at origin") {
    val df = Seq((1L, 0L, 0L), (0L, 1L, 0L), (0L, 0L, 1L), (7L, 7L, 7L))
      .toDF("a", "b", "c")
      .select(ZOrder.interleaveBits(Seq(col("a"), col("b"), col("c")), bits = 3).as("z"))
    val z = df.collect().map(_.getLong(0))
    // unit vectors land on distinct single bits 0,1,2; all-ones fills 9 bits
    assert(z.toSeq == Seq(1L, 2L, 4L, 511L))
  }

  test("z-ordered layout bounds BOTH columns per file; linear sort leaves one column unpruned") {
    // two independent uniform dimensions — the worst case for linear sort
    val n = 4096
    val data = spark.range(n).select(
      (col("id") * 2654435761L % 1024).as("x"), // decorrelated from y
      (col("id") % 1024).as("y"))
    val zDir = TestSpark.tempDir("graft_zorder")
    val linDir = TestSpark.tempDir("graft_linear")
    ZOrder.writeZOrdered(data, zDir, Seq("x", "y"), bits = 8, numFiles = 16)
    data.orderBy(col("x")).coalesce(1).repartitionByRange(16, col("x"))
      .sortWithinPartitions(col("x")).write.mode("overwrite").parquet(linDir)

    def fileSpans(dir: String): Seq[(Long, Long, Long, Long)] =
      spark.read.parquet(dir)
        .groupBy(input_file_name())
        .agg(min("x").as("minx"), max("x").as("maxx"),
          min("y").as("miny"), max("y").as("maxy"))
        .collect()
        .map(r => (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toSeq

    val zSpans = fileSpans(zDir)
    val linSpans = fileSpans(linDir)
    assert(zSpans.size >= 8, s"expected >=8 z-ordered files, got ${zSpans.size}")

    // a point-ish predicate on y (1/8 of the domain) — count files whose
    // [miny, maxy] overlaps it (what parquet min/max skipping consults)
    val (lo, hi) = (448L, 576L)
    val zHit = zSpans.count { case (_, _, mny, mxy) => mxy >= lo && mny <= hi }
    val linHit = linSpans.count { case (_, _, mny, mxy) => mxy >= lo && mny <= hi }
    // linear-on-x files all span ~the full y domain: no skipping at all
    assert(linHit == linSpans.size,
      s"expected linear layout to hit every file on y, hit $linHit/${linSpans.size}")
    // z-order keeps y ranges local: at least half the files are skippable
    assert(zHit * 2 <= zSpans.size,
      s"expected <=half the z-ordered files to overlap y in [$lo,$hi], got $zHit/${zSpans.size}")
    // and x stays prunable too (each file spans < the whole x domain)
    assert(zSpans.forall { case (mnx, mxx, _, _) => (mxx - mnx) < 1023 },
      "every z-ordered file spans the full x domain — curve not clustering x")
  }

  test("null layout values bucket to 0, not the top (least() skips nulls)") {
    // DIRECT bucket probe — a file-distribution proxy was green under the
    // broken behavior too (a review round caught the original fix as a
    // no-op with a live repro: least(null, n-1) = n-1)
    val df = Seq[(java.lang.Long, java.lang.Long)]((0L, 5L), (1L, null), (2L, 63L))
      .toDF("x", "y")
    val buckets = df
      .withColumn("b", ZOrder.bucket(col("y"), lit(0.0), lit(63.0), bits = 6))
      .collect().map(r => Option(r.get(1)) -> r.getLong(2)).toMap
    assert(buckets(Some(5L)) == 5L)
    assert(buckets(Some(63L)) == 63L)
    assert(buckets(None) == 0L, s"null must bucket to 0, got ${buckets(None)}")
    // all-null column: min/max are null -> every row buckets to 0
    val allNull = df.withColumn("b",
      ZOrder.bucket(col("y"), lit(null).cast("double"), lit(null).cast("double"), bits = 6))
      .select("b").collect().map(_.getLong(0)).toSet
    assert(allNull == Set(0L), s"null min/max must bucket to 0, got $allNull")
    // end-to-end: null rows are preserved through the layout write
    val data = spark.range(1024).select(
      col("id").as("x"),
      when(col("id") % 8 === 0, lit(null)).otherwise(col("id")).as("y"))
    val dir = TestSpark.tempDir("graft_zorder_null")
    ZOrder.writeZOrdered(data, dir, Seq("x", "y"), bits = 6, numFiles = 8)
    val back = spark.read.parquet(dir)
    assert(back.count() == 1024 && back.where(col("y").isNull).count() == 128)
  }
}
