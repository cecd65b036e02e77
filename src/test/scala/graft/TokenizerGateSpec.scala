package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.pipeline.{Bpe, UnigramLm}
import graft.queries.ExtensionQueries

/** The tokenizer trainers' size gate on the sf0.1 corpus (the byte copy
  * the benchmark keeps in the repo). p8's and p19's training shapes give
  * identical output on the driver branch (default bound) and on the
  * distributed branch (bound 0), and the two queries stay within a fixed
  * number of Spark jobs on the driver branch. */
class TokenizerGateSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val dir = "perfbench/data/sf0.1"
  private lazy val docs = spark.read.parquet(s"$dir/documents.parquet").select("text")

  /** Runs a query the way the benchmark does: memoized models cleared,
    * the frame written to the noop sink. */
  private def queryJobs(name: String): Int = {
    ExtensionQueries.clearArtifactCaches()
    TestSpark.jobsOf(SparkEntry.queries(name)(spark, dir)
      .write.format("noop").mode("overwrite").save())
  }

  test("BPE, p8's shape: driver branch == distributed branch; p8 runs <= 7 jobs") {
    val local = Bpe.trainMerges(docs, "text", 20)
    val dist = Bpe.trainMerges(docs, "text", 20, maxDistinctWords = 0)
    assert(local.size == 20)
    assert(local == dist)
    val jobs = queryJobs("p8_bpe_train")
    assert(jobs <= 7, s"p8 ran $jobs jobs")
  }

  test("Unigram-LM, p19's shape: driver EM == distributed EM; p19 runs <= 10 jobs") {
    def train(bound: Long) = UnigramLm.train(docs, "text", vocabSize = 40,
      seedSize = 200, maxPieceLen = 6, maxDistinctWords = bound)
    val local = train(graft.pipeline.WordRelation.MaxDistinctWords)
    assert(local.nonEmpty)
    assert(local == train(0L))
    val jobs = queryJobs("p19_unigram_train")
    assert(jobs <= 10, s"p19 ran $jobs jobs")
  }
}
