package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.plans.logical.{Join, MapPartitions}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.dedup.Dedup
import graft.text.Curation

/** The candidate joins' size gate ([[graft.core.SmallRelation.fits]]) on
  * the sf0.1 corpus (the byte copy the benchmark keeps in the repo), in the
  * shapes of d2 (blocked token-set PPJoin), d3 (MinHash-LSH over the
  * mutated corpus) and t18 (fuzzy decontamination): below each kernel's
  * ceiling (the full table for d2, a 500-doc slice for all three) the
  * in-task branch returns exactly the rows of the forced-distributed
  * branch, Jaccard bits included; building a frame runs no job; d2 written
  * runs at most 1 job; above a kernel's ceiling a raised broadcast
  * threshold still selects the distributed plan; and a 1-byte threshold
  * selects the distributed plans. */
class CandidateJoinGateSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val dir = "perfbench/data/sf0.1"
  private lazy val docs = spark.read.parquet(s"$dir/documents.parquet")
  /** The first 500 docs as a parquet file of their own, so the plan
    * estimate is the slice's bytes (a filter keeps its input's estimate). */
  private lazy val slice = {
    val path = TestSpark.tempDir("candidate_join_gate") + "/slice"
    docs.where(col("doc_id") < 500).write.parquet(path)
    spark.read.parquet(path)
  }

  /** documents ∪ a mutated copy of every %5 doc, as d3 and t18 read it. */
  private def mutated(d: DataFrame): DataFrame = {
    val base = d.select("doc_id", "text")
    base.unionAll(base.where(col("doc_id") % 5 === 0).select(
      (col("doc_id") + 1000000L).as("doc_id"),
      regexp_replace(col("text"), "^[^ ]+ ", "").as("text")))
      .repartition(spark.sparkContext.defaultParallelism)
  }

  private val shapes: Seq[(String, DataFrame => DataFrame)] = Seq(
    "d2" -> (d => Dedup.ngramJaccardPairs(
      d.withColumn("len_band", expr("n_chars div 64")),
      "doc_id", "text", blockCols = Seq("lang", "len_band"), threshold = 0.9)),
    "d3" -> (d => Dedup.minhashLsh(mutated(d), "doc_id", "text",
      shingleN = 3, k = 12, bands = 4, rows = 3, threshold = 0.5)),
    "t18" -> (d => Curation.decontaminateFuzzy(
      mutated(d).where(col("doc_id") >= 1000000L || col("doc_id") % 5 =!= 0),
      d.where(col("doc_id") % 5 === 0).select("doc_id", "text"),
      "doc_id", "text")))

  private def inTask(df: DataFrame): Boolean = {
    val plan = df.queryExecution.optimizedPlan
    plan.exists(_.isInstanceOf[MapPartitions]) && !plan.exists(_.isInstanceOf[Join])
  }

  /** Rows with every double replaced by its bit pattern, sorted. */
  private def bits(df: DataFrame): Seq[String] =
    df.collect().toSeq.map(r => Row.fromSeq(r.toSeq.map {
      case d: Double => java.lang.Double.doubleToRawLongBits(d)
      case o => o
    }).mkString(",")).sorted

  /** (shape, input) pairs below the shape's kernel ceiling. */
  private val belowCeiling: Seq[(String, String, () => DataFrame)] = Seq(
    ("d2", "full table", () => docs),
    ("d2", "500-doc slice", () => slice),
    ("d3", "500-doc slice", () => slice),
    ("t18", "500-doc slice", () => slice))

  for ((shape, label, input) <- belowCeiling)
    test(s"$shape shape, $label: in-task rows == distributed rows, jaccard bits included") {
      val op = shapes.toMap.apply(shape)
      val local = op(input())
      val dist = TestSpark.distributed(op(input()))
      assert(inTask(local), local.queryExecution.optimizedPlan.toString)
      assert(!inTask(dist))
      assert(local.schema == dist.schema)
      val got = bits(local)
      assert(got.nonEmpty)
      assert(got == bits(dist))
    }

  test("building each operator runs no job; d2 written in-task runs <= 1 job") {
    for ((shape, op) <- shapes) {
      var df: DataFrame = null
      assert(TestSpark.jobsOf { df = op(slice) } == 0, shape)
      assert(inTask(df), shape)
    }
    val jobs = TestSpark.jobsOf(SparkEntry.queries("d2_dedup_ngram_jaccard")(spark, dir)
      .write.format("noop").mode("overwrite").save())
    assert(jobs <= 1, s"d2 ran $jobs jobs")
  }

  test("above a kernel's ceiling a raised broadcast threshold still selects the distributed plan") {
    // 128 copies of the corpus under shifted ids: a plan estimate far
    // above every kernel's ceiling (the frame is only planned, never run)
    val copies = (0 until 128)
      .map(c => docs.withColumn("doc_id", col("doc_id") + c * 10000000L))
      .reduce(_ unionByName _)
    TestSpark.withConf("spark.sql.autoBroadcastJoinThreshold", (1L << 40).toString) {
      for ((shape, op) <- shapes) {
        assert(!inTask(op(copies)), shape)
        assert(inTask(op(slice)), shape)
      }
      // the LSH kernels' ceiling is below the full sf0.1 table
      for ((shape, op) <- shapes if shape != "d2")
        assert(!inTask(op(docs)), shape)
    }
  }

  test("a 1-byte broadcast threshold selects the distributed plans") {
    TestSpark.withConf("spark.sql.autoBroadcastJoinThreshold", "1") {
      for ((shape, op) <- shapes; input <- Seq(docs, slice))
        assert(!inTask(op(input)), shape)
    }
  }
}
