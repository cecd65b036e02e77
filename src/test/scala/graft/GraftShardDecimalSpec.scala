package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.FilterExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.v2.ShardFormat

/** DecimalType (precision <= 18) at rest: the UNSCALED long is the
  * stored value — every long path (codecs, stats, blooms, bulk batch
  * decode) carries over, and predicates rewrite into unscaled-long
  * space at the pushdown boundary, where literal scales differing from
  * the column's resolve exactly once (inexact equality = AlwaysFalse,
  * inexact range bounds snap to the grid). */
class GraftShardDecimalSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def tmp(): String = TestSpark.tempDir("graft_dec_spec") + "/t"

  /** price DECIMAL(10,2) = (id - 1000) / 4 dollars-ish: negatives,
    * exact cents, nulls every 17th. */
  private def frame(n: Long): DataFrame =
    spark.range(0, n).select(
      col("id"),
      when(col("id") % 17 =!= 0,
        ((col("id") - 1000L) * 25L).cast(DecimalType(10, 2)) / 100)
        .cast(DecimalType(10, 2)).as("price"),
      (col("id") % 7).as("grp"))

  test("roundtrip: decimals (negatives, nulls) equal the written rows exactly; scans stay columnar; schema keeps (p, s)") {
    val dir = tmp()
    frame(3000).write.format("graftshard").mode("overwrite").save(dir)
    val back = spark.read.format("graftshard").load(dir)
    assert(back.schema("price").dataType == DecimalType(10, 2))
    def canon(df: DataFrame): Seq[String] =
      df.select(col("id"), col("price").cast("string")).collect()
        .map(_.toString).sorted.toSeq
    assert(canon(back) == canon(frame(3000)))
    assert(back.queryExecution.executedPlan.toString.contains("ColumnarToRow"),
      "decimal scans must stay columnar")
    // a precision > 18 column refuses loudly at write time
    val e = intercept[Exception] {
      spark.range(5).select(col("id").cast(DecimalType(22, 2)).as("big"))
        .write.format("graftshard").mode("overwrite").save(tmp())
    }
    assert(e.getMessage.contains("unsupported column type"), e.getMessage)
  }

  test("pushdown in unscaled space: absorbed predicates match Spark exactly, incl. off-scale literals") {
    val dir = tmp()
    frame(4000).repartitionByRange(4, col("id"))
      .write.format("graftshard").mode("overwrite").save(dir)
    val t = spark.read.format("graftshard").load(dir)
    val oracle = frame(4000)
    for (pred <- Seq(
        col("price") === lit(BigDecimal("250.00")),   // exact cents
        col("price") === lit(BigDecimal("250.001")),  // off-grid: matches nothing
        col("price") > lit(BigDecimal("100.005")),    // off-grid range: snaps to 100.01
        col("price") >= lit(BigDecimal("-100.25")),
        col("price") < lit(BigDecimal("0")),
        col("price") <= lit(BigDecimal("499.999")),
        col("price").isin(BigDecimal("250.00"), BigDecimal("-250.00")),
        col("price").isNull, col("price").isNotNull)) {
      val got = t.where(pred).select("id").collect().map(_.getLong(0)).sorted.toSeq
      val exp = oracle.where(pred).select("id").collect().map(_.getLong(0)).sorted.toSeq
      assert(got == exp, s"predicate $pred: got ${got.size}, expected ${exp.size}")
    }
    val absorbed = t.where(col("price") > lit(BigDecimal("100.00")))
    assert(absorbed.queryExecution.executedPlan
      .collect { case f: FilterExec => f }.isEmpty,
      "decimal comparisons must absorb into the scan")
    // unscaled min/max stats prune whole files (id-range write = price-range files)
    val hi = t.where(col("price") >= lit(BigDecimal("600.00")))
    val desc = hi.queryExecution.executedPlan.collectLeaves().map(_.toString).mkString
    assert("files=1/4".r.findFirstIn(desc).isDefined, s"expected file skipping: $desc")
  }

  test("codecs, blooms and manifest MIN/MAX ride the unscaled longs") {
    val raw = tmp(); val packed = tmp()
    frame(30000).coalesce(1).write.format("graftshard").mode("overwrite").save(raw)
    frame(30000).coalesce(1).write.format("graftshard")
      .option("compression", "deflate").mode("overwrite").save(packed)
    def bytesOf(d: String) = new java.io.File(d).listFiles()
      .filter(_.getName.endsWith(".shard")).map(_.length).sum
    // monotone unscaled cents are delta-friendly
    assert(bytesOf(packed) < bytesOf(raw))
    assert(spark.read.format("graftshard").load(packed)
      .select(col("price").cast("string")).collect().map(_.toString).sorted.toSeq ==
      spark.read.format("graftshard").load(raw)
        .select(col("price").cast("string")).collect().map(_.toString).sorted.toSeq)

    // bloom sidecar on the decimal column; exact-cents probe hits
    val bdir = tmp()
    frame(2000).coalesce(1).write.format("graftshard")
      .option("bloomColumns", "price").mode("overwrite").save(bdir)
    assert(new java.io.File(bdir).listFiles().exists(_.getName.endsWith(".bloom")))
    val bt = spark.read.format("graftshard").load(bdir)
    assert(bt.where(col("price") === lit(BigDecimal("100.00"))).count() == 1) // id 1400

    // manifest-only MIN/MAX answers as Decimal (survives file deletion)
    val m = ShardFormat.readManifest(bdir).get
    assert(m.files.head.stats.contains("price"))
    val aggPlan = bt.agg(min("price"), max("price"))
      .queryExecution.executedPlan.toString
    assert(aggPlan.contains("pushedAggregates"), aggPlan)
    val r = bt.agg(min("price"), max("price")).collect().head
    // id 0 (price -250.00) is the null row (0 % 17 == 0): min is id 1
    assert(r.getDecimal(0) == new java.math.BigDecimal("-249.75"))
    assert(r.getDecimal(1) == new java.math.BigDecimal("249.75"))
  }

  test("DECIMAL(p <= 9) rides Spark's int-backed vectors: scan, filtered compact path, compaction") {
    val dir = tmp()
    // precision 7: Spark stores these in INT-backed column vectors,
    // while the shard decoder hands every decimal over as a long
    val df = spark.range(0, 3000).select(
      col("id"),
      when(col("id") % 13 =!= 0,
        ((col("id") - 1500L) * 25L).cast(DecimalType(7, 2)) / 100)
        .cast(DecimalType(7, 2)).as("p"))
    df.repartition(4).write.format("graftshard").mode("overwrite").save(dir)
    def canon(x: DataFrame): Seq[String] =
      x.select(col("id"), col("p").cast("string")).collect().map(_.toString).sorted.toSeq
    val back = spark.read.format("graftshard").load(dir)
    assert(back.schema("p").dataType == DecimalType(7, 2))
    assert(canon(back) == canon(df))
    // a filter plus _pos takes the compact path (typed per-cell copies)
    val pred = col("p") >= lit(BigDecimal("100.00")) || col("p").isNull
    assert(canon(back.where(pred).select(col("id"), col("p"), col("_pos"))) ==
      canon(df.where(pred)))
    // compaction reads every input through the same batch decode
    graft.sources.v2.GraftShardMaintenance.compact(spark, dir, targetBytes = Long.MaxValue)
    assert(ShardFormat.readManifest(dir).get.files.size == 1)
    assert(canon(spark.read.format("graftshard").load(dir)) == canon(df))
  }
}
