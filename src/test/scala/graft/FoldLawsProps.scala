package graft

import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Properties, Test}

import graft.text.TextFunctions

/** ScalaCheck properties (SURVEY §5.2): the distributed-fold laws.
  * Partition-count invariance is exactly the monoid/merge correctness the
  * reference gets from `foldl`'s laws and Spark needs for partial
  * aggregation — if merge were wrong, repartitioning would change
  * answers. */
object FoldLawsProps extends Properties("FoldLaws") {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  // Spark jobs per property evaluation: keep the sample count modest.
  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(8)

  private val dataGen =
    Gen.nonEmptyListOf(Gen.zip(Gen.choose(0, 5), Gen.choose(-1000.0, 1000.0)))
  private val partsGen = Gen.choose(1, 9)

  property("groupBy sums/min/max/count are partition-invariant") =
    Prop.forAll(dataGen, partsGen, partsGen) { (data, p1, p2) =>
      def run(parts: Int) =
        data.toDF("k", "v").repartition(parts).groupBy("k")
          .agg(sum("v"), min("v"), max("v"), count(lit(1)))
          .collect().map(r => r.getInt(0) ->
            (r.getDouble(1), r.getDouble(2), r.getDouble(3), r.getLong(4))).toMap
      val a = run(p1)
      val b = run(p2)
      a.keySet == b.keySet && a.forall { case (k, (s1, mn1, mx1, c1)) =>
        val (s2, mn2, mx2, c2) = b(k)
        math.abs(s1 - s2) < 1e-6 && mn1 == mn2 && mx1 == mx2 && c1 == c2
      }
    }

  private val tokenGen = Gen.nonEmptyListOf(Gen.oneOf("a", "bb", "ccc", "dd", "e", "ff"))

  property("jaccard(a,a) == 1 and jaccard in [0,1]") =
    Prop.forAll(tokenGen, tokenGen) { (ta, tb) =>
      val r = Seq((ta.distinct, tb.distinct)).toDF("a", "b")
        .select(
          TextFunctions.jaccard(col("a"), col("a")).as("self"),
          TextFunctions.jaccard(col("a"), col("b")).as("cross"))
        .collect().head
      r.getDouble(0) == 1.0 && r.getDouble(1) >= 0.0 && r.getDouble(1) <= 1.0
    }

  property("simhash is deterministic and bounded by its bit width") =
    Prop.forAll(tokenGen) { toks =>
      val text = toks.mkString(" ")
      val fp = Seq(text, text).toDF("t")
        .select(TextFunctions.simhash(TextFunctions.tokens(col("t")), 16).as("fp"))
        .collect().map(_.getLong(0))
      fp(0) == fp(1) && fp(0) >= 0L && fp(0) < (1L << 16)
    }
}
