package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.v2.{GraftShardMaintenance, ShardFormat}

/** Z-order clustering (`option("zorderBy", "a,b")` on the catalog
  * face): the write range-partitions + sorts by the Morton interleave
  * (resolved through the catalog's `zorder` function), so every shard
  * file covers a z-range = a box-ish region of the 2-D key space and
  * the manifest min/max on BOTH columns are tight. The pin that
  * matters: strip predicates on EITHER dimension prune files, where a
  * 1-D sorted layout prunes only its own column's strips. */
class GraftShardZOrderSpec extends AnyFunSuite {
  private lazy val spark = {
    val s = TestSpark.spark
    s.conf.set("spark.sql.catalog.zcat", classOf[graft.sources.v2.GraftCatalog].getName)
    s.conf.set("spark.sql.catalog.zcat.warehouse", warehouse)
    s
  }
  private lazy val warehouse = TestSpark.tempDir("graft_zorder_spec")

  // surviving/total file counts from the scan's plan description
  private def filesOf(df: DataFrame): (Int, Int) = {
    val plan = df.queryExecution.executedPlan.toString
    val m = "files=(\\d+)/(\\d+)".r.findFirstMatchIn(plan).getOrElse(
      fail(s"no graftshard scan in plan:\n$plan"))
    (m.group(1).toInt, m.group(2).toInt)
  }

  test("zorder function: SQL-visible, matches the shared definition; interleave is monotone per quadrant") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS zcat.fn")
    val got = spark.sql("SELECT zcat.zorder(3L, 5L), zcat.zorder(0L, 0L)").collect()(0)
    assert(got.getLong(0) == ShardFormat.zOrderOf(3L, 5L))
    assert(got.getLong(1) == ShardFormat.zOrderOf(0L, 0L))
    // z-order basics: (0,0) is the minimum; growing both coords grows z
    assert(ShardFormat.zOrderOf(0, 0) < ShardFormat.zOrderOf(1, 1))
    assert(ShardFormat.zOrderOf(1, 1) < ShardFormat.zOrderOf(2, 2))
    // clamping: negatives and >2^32 saturate, order stays total
    assert(ShardFormat.zOrderOf(-5, 0) == ShardFormat.zOrderOf(0, 0))
    assert(ShardFormat.zOrderOf(1L << 40, 0) == ShardFormat.zOrderOf(0xFFFFFFFFL, 0))
  }

  test("z-ordered layout prunes strip predicates on BOTH dimensions; 1-D sort only on its own") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS zcat.grid")
    spark.sql("DROP TABLE IF EXISTS zcat.grid.z")
    // 256x256 grid
    val grid = spark.range(0, 65536)
      .select((col("id") % 256).as("x"), expr("id DIV 256").as("y"), col("id").as("v"))
    grid.writeTo("zcat.grid.z").using("graftshard")
      .option("zorderBy", "x,y").option("writePartitions", "32").create()
    val zdir = s"$warehouse/grid/z"
    val nFiles = ShardFormat.readManifest(zdir).get.files.size
    assert(nFiles >= 8, s"need a multi-file layout to measure pruning, got $nFiles")

    def z() = spark.table("zcat.grid.z")
    // strip on x alone, strip on y alone — both must prune
    val (xs, xt) = filesOf(z().where(col("x") >= 64 && col("x") < 80))
    val (ys, yt) = filesOf(z().where(col("y") >= 64 && col("y") < 80))
    assert(xt == nFiles && yt == nFiles)
    assert(xs <= nFiles / 2, s"x-strip should prune z-order layout: $xs/$xt")
    assert(ys <= nFiles / 2, s"y-strip should prune z-order layout: $ys/$yt")
    // a 2-D box prunes harder than either strip
    val (bs, _) = filesOf(z().where(
      col("x") >= 64 && col("x") < 80 && col("y") >= 64 && col("y") < 80))
    assert(bs <= math.min(xs, ys), s"box $bs should not exceed strips $xs/$ys")
    // correctness of the box
    assert(z().where(col("x") >= 64 && col("x") < 80 &&
      col("y") >= 64 && col("y") < 80).count() == 16 * 16)

    // the 1-D control: same grid sorted by x only
    val xdir = TestSpark.tempDir("graft_zorder_1d") + "/t"
    grid.repartitionByRange(nFiles, col("x"))
      .sortWithinPartitions("x")
      .write.format("graftshard").mode("overwrite").save(xdir)
    def oneD() = spark.read.format("graftshard").load(xdir)
    val (oxs, oxt) = filesOf(oneD().where(col("x") >= 64 && col("x") < 80))
    val (oys, oyt) = filesOf(oneD().where(col("y") >= 64 && col("y") < 80))
    assert(oxs <= oxt / 2, s"1-D layout prunes its own column: $oxs/$oxt")
    assert(oys == oyt,
      s"1-D layout CANNOT prune the other column's strip: $oys/$oyt — " +
        "this is exactly what z-order buys")
  }

  test("z-order composes with group skipping: a 2-D box drops row groups inside surviving files") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS zcat.gs")
    spark.sql("DROP TABLE IF EXISTS zcat.gs.z")
    // 512x512 grid, TWO files -> multiple row groups per file, each a
    // z-range = a box-ish region; group stats on x AND y are tight boxes
    val grid = spark.range(0, 262144)
      .select((col("id") % 512).as("x"), expr("id DIV 512").as("y"), col("id").as("v"))
    grid.writeTo("zcat.gs.z").using("graftshard")
      .option("zorderBy", "x,y").option("writePartitions", "2").create()
    val zdir = s"$warehouse/gs/z"
    val m = ShardFormat.readManifest(zdir).get
    // read one file directly with a box skip predicate — groups whose
    // x/y boxes miss the query box are dropped whole
    val fe = m.files.head
    val box: ShardFormat.GroupStats => Boolean = gs =>
      !(gs.stats.get("x").exists { case (mn, mx, _) => mx >= 100 && mn <= 120 } &&
        gs.stats.get("y").exists { case (mn, mx, _) => mx >= 100 && mn <= 120 })
    val r = new ShardFormat.ShardReader(new java.io.File(zdir, fe.name),
      m.schema, Array(0, 1), skipGroup = box)
    val served = ShardReads.rows(r, 2).size.toLong
    assert(r.groupsSkipped > 0,
      s"a selective 2-D box must skip z-ordered row groups (served=$served)")
    assert(served < fe.rows, "some rows must be dropped with their groups")
    // end-to-end: the same box through the scan is exact
    val got = spark.table("zcat.gs.z")
      .where(col("x").between(100, 120) && col("y").between(100, 120)).count()
    assert(got == 21L * 21L)
    // and its groupsSkipped metric is exactly the direct reader's count
    // summed over the files the manifest stats do not prune
    def inBox(fe: ShardFormat.FileEntry): Boolean =
      Seq("x", "y").forall(c => fe.stats.get(c).forall { case (mn, mx, _) => mx >= 100 && mn <= 120 })
    val want = m.files.filter(inBox).map { f =>
      val fr = new ShardFormat.ShardReader(new java.io.File(zdir, f.name),
        m.schema, Array(0, 1), skipGroup = box)
      ShardReads.rows(fr, 2)
      fr.groupsSkipped.toLong
    }.sum
    val q = spark.table("zcat.gs.z")
      .where(col("x").between(100, 120) && col("y").between(100, 120)).select("v")
    assert(q.collect().length == 21 * 21)
    assert(want > 0 && TestSpark.scanMetric(q, "groupsSkipped") == want)
  }

  test("zorderBy is a table property: OPTIMIZE k-way z-merges (outputs stay z-runs); undeclared appends clear it") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS zcat.opt")
    spark.range(0, 4000).select(
      (col("id") % 64).as("x"), (col("id") / lit(64L)).cast("long").as("y"), col("id").as("v"))
      .writeTo("zcat.opt.t").using("graftshard")
      .option("zorderBy", "x,y").option("writePartitions", "8").create()
    val dir = s"$warehouse/opt/t"
    val m0 = ShardFormat.readManifest(dir).get
    assert(m0.zorderBy.contains(("x", "y")))
    assert(m0.files.size == 8)

    val report = GraftShardMaintenance.compact(spark, dir, targetBytes = Long.MaxValue)
    assert(report.groups == 1 && report.replaced.size == 8)
    val m1 = ShardFormat.readManifest(dir).get
    assert(m1.zorderBy.contains(("x", "y")), "OPTIMIZE must not drop the property")
    assert(m1.files.size == 1)

    // the output is ONE z-run: physical order (per _pos) is monotone in
    // the Morton value — the merge sorted, concatenation would not have
    val rows = spark.sql("SELECT _pos, x, y FROM zcat.opt.t").collect()
      .sortBy(_.getLong(0))
      .map(r => ShardFormat.zOrderOf(r.getLong(1), r.getLong(2)))
    assert(rows.length == 4000)
    assert(rows.sliding(2).forall(p => p.length < 2 || p(0) <= p(1)),
      "compacted z-table must stay one z-run per file")

    // an undeclared append breaks the every-file-is-a-z-run invariant:
    // the property clears (honest degradation, like sortedBy)
    spark.range(4000, 4100).select(
      (col("id") % 64).as("x"), (col("id") / lit(64L)).cast("long").as("y"), col("id").as("v"))
      .coalesce(1).writeTo("zcat.opt.t").append()
    assert(ShardFormat.readManifest(dir).get.zorderBy.isEmpty)
    assert(spark.table("zcat.opt.t").count() == 4100)
  }

  test("zorderBy is refused with partitionKey/sortWithinShards and on non-integral columns") {
    val dir = TestSpark.tempDir("graft_zorder_err") + "/t"
    val df = spark.range(10).select(col("id"), (col("id") % 3).as("k"),
      col("id").cast("string").as("s"))
    val e1 = intercept[Exception] {
      df.write.format("graftshard")
        .option("partitionKey", "k").option("zorderBy", "id,k")
        .mode("overwrite").save(dir)
    }
    assert(e1.getMessage.contains("mutually exclusive"), e1.getMessage)
    val e2 = intercept[Exception] {
      df.write.format("graftshard").option("zorderBy", "id,s")
        .mode("overwrite").save(dir)
    }
    assert(e2.getMessage.contains("integral"), e2.getMessage)
    val e3 = intercept[Exception] {
      df.write.format("graftshard").option("zorderBy", "id")
        .mode("overwrite").save(dir)
    }
    assert(e3.getMessage.contains("two columns"), e3.getMessage)
  }
}
