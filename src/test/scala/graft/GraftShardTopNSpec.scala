package graft

import java.io.File
import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.v2.ShardFormat

/** TopN pushdown ([[graft.sources.v2.GraftShardScanBuilder.pushTopN]]):
  * `ORDER BY col LIMIT k` cut to the fewest files whose manifest bounds
  * can hold a top-k row. Load-bearing pins: the cut really happens (a
  * corrupted out-of-region file is never opened), it is a SUPERSET cut
  * (Spark's TakeOrderedAndProject still sorts — results byte-exact),
  * null ordering on both sides (all-null files survive NULLS FIRST,
  * drop under NULLS LAST), merge-on-read conservatism, string bounds,
  * and the refusal surfaces (absorbed filters, equality deletes,
  * multi-column orders). */
class GraftShardTopNSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def tmp(): String = TestSpark.tempDir("graft_topn_spec") + "/t"

  private def scanOf(df: DataFrame): BatchScanExec =
    df.queryExecution.executedPlan
      .collect { case b: BatchScanExec => b }.headOption
      .getOrElse(fail(s"no BatchScanExec:\n${df.queryExecution.executedPlan}"))

  /** Four range-disjoint files: [0,250) [250,500) [500,750) [750,1000). */
  private def rangeTable(): String = {
    val dir = tmp()
    spark.range(0, 1000).select(col("id"), (col("id") * 7L).as("v"))
      .repartitionByRange(4, col("id"))
      .write.format("graftshard").mode("overwrite").save(dir)
    assert(ShardFormat.readManifest(dir).get.files.size == 4)
    dir
  }

  test("ASC topN cuts to the leading file and the result is byte-exact") {
    val dir = rangeTable()
    val q = spark.read.format("graftshard").load(dir).orderBy(col("id")).limit(5)
    val desc = scanOf(q).scan.description()
    assert(desc.contains("topN=5 by id") && desc.contains("files=1/4"),
      s"expected a 1-file cut: $desc")
    assert(q.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq ==
      (0L until 5L).map(id => (id, id * 7)))
  }

  test("DESC topN cuts to the trailing file; larger k spills into more files") {
    val dir = rangeTable()
    val q = spark.read.format("graftshard").load(dir)
      .orderBy(col("id").desc).limit(10)
    val desc = scanOf(q).scan.description()
    assert(desc.contains("topN=10 by id DESC") && desc.contains("files=1/4"), desc)
    assert(q.collect().map(_.getLong(0)).toSeq == (999L to 990L by -1))

    val wide = spark.read.format("graftshard").load(dir)
      .orderBy(col("id").desc).limit(300)
    assert(scanOf(wide).scan.description().contains("files=2/4"))
    assert(wide.count() == 300)
  }

  test("the cut really happens: a corrupted out-of-region file is never opened") {
    val dir = rangeTable()
    // corrupt the file holding the LARGEST ids
    val m = ShardFormat.readManifest(dir).get
    val victim = m.files.maxBy(_.stats("id")._2).name
    Files.write(new File(dir, victim).toPath, Array.fill[Byte](64)(0x5a))

    // ASC top-5 provably excludes it -> never opened -> succeeds
    val q = spark.read.format("graftshard").load(dir).orderBy(col("id")).limit(5)
    assert(q.collect().map(_.getLong(0)).toSeq == (0L until 5L))
    // DESC top-5 needs it -> the loud bad-magic error proves no wrong skip
    val e = intercept[Exception] {
      spark.read.format("graftshard").load(dir).orderBy(col("id").desc).limit(5).collect()
    }
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(e).exists(m => m.contains("magic") || m.contains("graftshard")),
      s"got: ${msgs(e)}")
  }

  test("NULLS FIRST keeps all-null files in the cut; NULLS LAST drops them") {
    val dir = tmp()
    // one all-null file + two value files
    Seq.fill(50)(Option.empty[Long]).toDF("k")
      .coalesce(1).write.format("graftshard").mode("overwrite").save(dir)
    spark.range(0, 100).select(col("id").as("k")).coalesce(1)
      .write.format("graftshard").mode("append").save(dir)
    spark.range(100, 200).select(col("id").as("k")).coalesce(1)
      .write.format("graftshard").mode("append").save(dir)

    // ASC default = NULLS FIRST: the all-null file IS the top
    val first = spark.read.format("graftshard").load(dir).orderBy(col("k")).limit(5)
    assert(scanOf(first).scan.description().contains("files=2/3"),
      scanOf(first).scan.description())
    assert(first.collect().forall(_.isNullAt(0)))

    // NULLS LAST: >= 5 value rows precede every null -> null file drops
    val last = spark.read.format("graftshard").load(dir)
      .orderBy(col("k").asc_nulls_last).limit(5)
    assert(scanOf(last).scan.description().contains("files=1/3"),
      scanOf(last).scan.description())
    assert(last.collect().map(_.getLong(0)).toSeq == (0L until 5L))
  }

  test("merge-on-read deletes: conservative cut, byte-exact result") {
    val warehouse = TestSpark.tempDir("graft_topn_mor")
    spark.conf.set("spark.sql.catalog.topncat", classOf[graft.sources.v2.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.topncat.warehouse", warehouse)
    spark.sql("CREATE NAMESPACE topncat.tn")
    spark.range(0, 400).select(col("id"), (col("id") % 10).as("v"))
      .repartitionByRange(4, col("id"))
      .writeTo("topncat.tn.t").using("graftshard").create()
    spark.conf.set("spark.graftshard.rowLevel.mode", "merge-on-read")
    try spark.sql("DELETE FROM topncat.tn.t WHERE id < 95")
    finally spark.conf.unset("spark.graftshard.rowLevel.mode")

    // the leading file has 100 physical rows but only 5 live: the cut
    // must price deletedRows and include the second file
    val q = spark.table("topncat.tn.t").orderBy(col("id")).limit(20)
    assert(q.collect().map(_.getLong(0)).toSeq == (95L until 115L))
  }

  test("string bounds drive the cut; a file whose bounds were dropped is always kept") {
    val dir = tmp()
    Seq("aa", "ab", "ac").toDF("s").coalesce(1)
      .write.format("graftshard").mode("overwrite").save(dir)
    Seq("ba", "bb", "bc").toDF("s").coalesce(1)
      .write.format("graftshard").mode("append").save(dir)
    // bounds dropped: one value past the 64-byte cap
    Seq("zz", "y" * 100).toDF("s").coalesce(1)
      .write.format("graftshard").mode("append").save(dir)
    val m = ShardFormat.readManifest(dir).get
    assert(m.files.count(_.strStats.contains("s")) == 2)

    val q = spark.read.format("graftshard").load(dir).orderBy(col("s")).limit(3)
    // file 2 (b*) is provably outside; the capped file has no claim and stays
    assert(scanOf(q).scan.description().contains("files=2/3"),
      scanOf(q).scan.description())
    assert(q.collect().map(_.getString(0)).toSeq == Seq("aa", "ab", "ac"))
  }

  test("refusals: absorbed filters, multi-column orders, equality deletes -> no cut, still correct") {
    val dir = rangeTable()
    val t = spark.read.format("graftshard").load(dir)

    // an absorbed filter COMPOSES with the cut: only files provably
    // all-match may count toward the prefix. v = id*7 is contiguous per
    // range file, so v > 3000 skips file 1 outright (stats), leaves
    // file 2 unprovable (it straddles 3000 — kept, counts nothing), and
    // proves files 3-4 all-match. File 3's 250 counted rows cover k=5
    // at threshold id=749, so file 4 (min id 750) provably holds no
    // filtered top-5 row and drops: 2 of 4 files planned
    val filtered = t.where(col("v") > 3000L).orderBy(col("id")).limit(5)
    val fdesc = scanOf(filtered).scan.description()
    assert(fdesc.contains("topN=5 by id") && fdesc.contains("files=2/4"),
      s"provable filters must compose with the cut: $fdesc")
    assert(filtered.collect().map(_.getLong(0)).toSeq == (429L until 434L))

    // an UNPROVABLE-everywhere filter contributes no counted file: the
    // cut silently stands down (every matching file is kept)
    val unprovable = t.where(col("v") % 2 === 0L || col("v") > 100L)
      .orderBy(col("id")).limit(5)
    assert(unprovable.collect().map(_.getLong(0)).toSeq ==
      Seq(0L, 2L, 4L, 6L, 8L))

    // multi-column order: the cut fires on the LEADING column alone
    // (sound under lexicographic order; Spark's full sort still runs)
    val multi = t.orderBy(col("v"), col("id")).limit(5)
    val mdesc = scanOf(multi).scan.description()
    assert(mdesc.contains("topN=5 by v") && mdesc.contains("files=1/4"), mdesc)
    assert(multi.collect().map(_.getLong(0)).toSeq == (0L until 5L))

    // a leading EXPRESSION (not a column) refuses
    val exprLead = t.orderBy((col("id") + 1L).asc, col("v")).limit(5)
    assert(!scanOf(exprLead).scan.description().contains("topN="))
    assert(exprLead.collect().map(_.getLong(0)).toSeq == (0L until 5L))

    // equality deletes live: physical counts lie, pushTopN refuses
    val up = tmp()
    spark.range(0, 100).select(col("id"), col("id").as("v"))
      .coalesce(1).write.format("graftshard").mode("overwrite").save(up)
    spark.range(0, 10).select(col("id"), (col("id") + 500L).as("v"))
      .coalesce(1).write.format("graftshard").mode("append")
      .option("upsertKey", "id").save(up)
    assert(ShardFormat.readManifest(up).get.equalityDeletes.nonEmpty)
    val uq = spark.read.format("graftshard").load(up).orderBy(col("v").desc).limit(3)
    assert(!scanOf(uq).scan.description().contains("topN="))
    assert(uq.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq ==
      Seq((9L, 509L), (8L, 508L), (7L, 507L)))
  }
}
