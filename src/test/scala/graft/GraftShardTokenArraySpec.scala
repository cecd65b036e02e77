package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.v2.ShardFormat

/** Integer-array columns at rest (`array<int>` / `array<long>` — tags
  * 12/13): the tokenized-corpus shape of a training pipeline. A
  * tokenizer's output is one id sequence PER DOCUMENT, and at 100 TB
  * the tokenized view is often larger than the text it came from — it
  * has to live in the lake, not in a driver-side artifact. Cells share
  * the embedding column's layout (count + packed elements, no element
  * bitmap, null elements refused at write), so stats-free var-width
  * machinery — chunk skipping, dict/deflate/RLE codecs, the columnar
  * batch decode, compaction — carries over. Pins: byte-exact roundtrip
  * vs a parquet oracle across codecs and null/empty cells, projection
  * skipping, IsNull pushdown,
  * compaction, and the null-element refusal. */
class GraftShardTokenArraySpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def tmp(): String = TestSpark.tempDir("graft_tokarr_spec") + "/t"

  private def plan(df: DataFrame): String = df.queryExecution.executedPlan.toString

  /** Variable-length token rows: empty cells (id%13=0), null cells
    * (id%7=0 for toks, id%5=0 for toks64), lengths 1..6 otherwise. */
  private def tokRows(lo: Long, n: Long) =
    spark.range(lo, lo + n).select(
      col("id"),
      when(col("id") % 13 === 0, expr("cast(array() as array<int>)"))
        .otherwise(when(col("id") % 7 =!= 0, expr(
          "transform(slice(array(1,2,3,4,5,6), 1, 1 + cast(id % 6 as int))," +
            " x -> cast(x * 31 + id % 97 as int))")))
        .as("toks"),
      when(col("id") % 5 =!= 0, expr(
        "transform(slice(array(1,2,3,4), 1, 1 + cast(id % 4 as int))," +
          " x -> x * 1000000007L + id)"))
        .as("toks64"))

  private def canon(df: DataFrame): Seq[(Long, Option[Seq[Int]], Option[Seq[Long]])] =
    df.collect().map { r =>
      (r.getLong(0),
        if (r.isNullAt(1)) None else Some(r.getSeq[Int](1).toList),
        if (r.isNullAt(2)) None else Some(r.getSeq[Long](2).toList))
    }.sortBy(_._1).toSeq

  test("token arrays roundtrip byte-exact across codecs, null and empty cells, against a Parquet copy of the written rows") {
    val dir = tmp()
    val oracle = tmp() + "_parquet"
    tokRows(0, 400).coalesce(1)
      .write.format("graftshard").mode("overwrite").save(dir)
    tokRows(400, 300).coalesce(1)
      .write.format("graftshard").option("compression", "dict").mode("append").save(dir)
    tokRows(700, 300).coalesce(1)
      .write.format("graftshard").option("compression", "deflate").mode("append").save(dir)
    tokRows(0, 1000).write.parquet(oracle)

    val m = ShardFormat.readManifest(dir).get
    assert(m.schema.fields.map(_.dataType.simpleString).toSeq ==
      Seq("bigint", "array<int>", "array<bigint>"))

    val t = spark.read.format("graftshard").load(dir)
    assert(plan(t).contains("ColumnarToRow"),
      s"token-array scans must stay columnar:\n${plan(t)}")
    val want = canon(spark.read.parquet(oracle))
    assert(canon(t) == want)
  }

  test("projection skips array chunks; pushed id filter keeps arrays columnar; IsNull pushes") {
    val dir = tmp()
    tokRows(0, 600).coalesce(2)
      .write.format("graftshard").mode("overwrite").save(dir)
    val t = spark.read.format("graftshard").load(dir)

    // arrays skipped entirely: only id decodes
    val proj = t.select("id")
    assert(plan(proj).contains("ColumnarToRow"))
    assert(proj.collect().map(_.getLong(0)).sorted.toSeq == (0L until 600L))

    // pushed range predicate on id with arrays projected
    val f = t.where(col("id") >= 500)
    assert(plan(f).contains("ColumnarToRow"),
      s"filtered token-array scans must stay columnar:\n${plan(f)}")
    assert(canon(f) == canon(tokRows(0, 600).where(col("id") >= 500)))

    // IsNull / IsNotNull are the pushable predicates on an array column
    val nulls = t.where(col("toks").isNull).select("id")
    assert(nulls.collect().map(_.getLong(0)).sorted.toSeq ==
      (0L until 600L).filter(id => id % 13 != 0 && id % 7 == 0))
    assert(t.where(col("toks").isNotNull).count() ==
      (0L until 600L).count(id => id % 13 == 0 || id % 7 != 0))
  }

  test("compaction rewrites token arrays byte-exact") {
    val dir = tmp()
    for (i <- 0 until 4)
      tokRows(i * 100, 100).coalesce(1)
        .write.format("graftshard")
        .mode(if (i == 0) "overwrite" else "append").save(dir)
    val before = canon(spark.read.format("graftshard").load(dir))
    val report = graft.sources.v2.GraftShardMaintenance.compact(spark, dir)
    assert(report.replaced.size >= 2, s"expected a real compaction: $report")
    assert(ShardFormat.readManifest(dir).get.files.size <
      4, "compaction must shrink the file count")
    assert(canon(spark.read.format("graftshard").load(dir)) == before)
  }

  test("null elements are refused at write with a clear task error") {
    val dir = tmp()
    val bad = spark.range(0, 10).select(
      col("id"), expr("array(1, cast(null as int), 3)").as("toks"))
    val e = intercept[Exception] {
      bad.write.format("graftshard").mode("overwrite").save(dir)
    }
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(e).exists(_.contains("null element in int array")),
      s"unexpected error chain: ${msgs(e)}")
  }

  test("RLE-eligible repeated arrays and single-row groups stay exact") {
    val dir = tmp()
    // constant arrays across a whole file: the var-width RLE form is
    // kept when smaller and must materialize back losslessly
    spark.range(0, 2000).select(
      col("id"),
      expr("array(7, 11, 13)").as("toks"),
      expr("array(42L)").as("toks64"))
      .coalesce(1).write.format("graftshard").mode("overwrite").save(dir)
    val t = spark.read.format("graftshard").load(dir)
    assert(plan(t).contains("ColumnarToRow"))
    val rows = t.collect()
    assert(rows.length == 2000)
    assert(rows.forall(r => r.getSeq[Int](1) == Seq(7, 11, 13) &&
      r.getSeq[Long](2) == Seq(42L)))
  }
}
