package graft

import org.apache.spark.sql.DataFrame
import org.scalacheck.{Gen, Prop, Properties, Test}

import graft.operators.AsOfJoin

/** Randomized differential: the physical as-of join (SortMergeAsOfJoinExec)
  * must agree with the composed face on arbitrary data INCLUDING null keys
  * and null times — the two faces implement the same contract through
  * entirely different machinery (window carry-forward vs streaming merge),
  * so agreement on randomized inputs pins the -infinity null-time rule,
  * the inclusive equal-time rule, and the tie-break order simultaneously.
  * Fixtures are parquet-backed so the plans carry real scans (the
  * recode-rule vacuous-test lesson, NOTES r8). */
object AsOfMergeProps extends Properties("AsOfMerge") {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  // 6 by default (each case round-trips two parquet fixtures — slow);
  // SPARK_GRAFT_PROPS_N=50+ escalates for a nightly-style deep run of
  // the operator with the most hand-rolled execution code in the tree
  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(
      sys.env.get("SPARK_GRAFT_PROPS_N").map(_.toInt).getOrElse(6))

  private def viaParquet(df: DataFrame, name: String): DataFrame = {
    val p = TestSpark.tempDir(s"graft_asofprops_$name") + "/t"
    df.write.mode("overwrite").parquet(p)
    spark.read.parquet(p)
  }

  private val keyGen = Gen.option(Gen.oneOf("A", "B", "C"))
  private val timeGen = Gen.frequency(9 -> Gen.choose(0L, 30L).map(Option(_)),
    1 -> Gen.const(Option.empty[Long]))
  private val leftGen = Gen.nonEmptyListOf(Gen.zip(keyGen, timeGen))
  private val rightGen = Gen.nonEmptyListOf(
    Gen.zip(keyGen, timeGen, Gen.choose(0L, 99L)))

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  property("backwardMerge == backward on random data with null keys/times") =
    Prop.forAll(leftGen, rightGen, Gen.option(Gen.choose(0L, 10L))) { (ls, rs, tol) =>
      val left = viaParquet(ls.zipWithIndex.map { case ((k, t), i) => (i.toLong, k, t) }
        .toDF("event_id", "k", "t"), "bl")
      val right = viaParquet(rs.toDF("rk", "rt", "ref"), "br")
      val composed = AsOfJoin.backward(left, right, "k", "rk", "t", "rt",
        rightPayload = Seq("ref"), rightTieBreak = Seq("ref"),
        tolerance = tol.map(_.toDouble))
      val merged = AsOfJoin.backwardMerge(left, right, "k", "rk", "t", "rt",
        rightPayload = Seq("ref"), rightTieBreak = Seq("ref"),
        tolerance = tol.map(_.toDouble))
      val (c, m) = (rows(composed), rows(merged))
      Prop(c == m) :| s"tol=$tol composed=$c merged=$m"
    }

  property("forwardMerge == forward on random data with null keys/times") =
    Prop.forAll(leftGen, rightGen) { (ls, rs) =>
      val left = viaParquet(ls.zipWithIndex.map { case ((k, t), i) => (i.toLong, k, t) }
        .toDF("event_id", "k", "t"), "fl")
      val right = viaParquet(rs.toDF("rk", "rt", "ref"), "fr")
      val composed = AsOfJoin.forward(left, right, "k", "rk", "t", "rt",
        rightPayload = Seq("ref"), rightTieBreak = Seq("ref"))
      val merged = AsOfJoin.forwardMerge(left, right, "k", "rk", "t", "rt",
        rightPayload = Seq("ref"), rightTieBreak = Seq("ref"))
      val (c, m) = (rows(composed), rows(merged))
      Prop(c == m) :| s"composed=$c merged=$m"
    }

  property("backwardMerge == brute force (independent of both Spark faces)") =
    Prop.forAll(leftGen, rightGen) { (ls, rs) =>
      val left = viaParquet(ls.zipWithIndex.map { case ((k, t), i) => (i.toLong, k, t) }
        .toDF("event_id", "k", "t"), "xl")
      val right = viaParquet(rs.toDF("rk", "rt", "ref"), "xr")
      val got = AsOfJoin.backwardMerge(left, right, "k", "rk", "t", "rt",
        rightPayload = Seq("ref"), rightTieBreak = Seq("ref"))
        .collect().map(r => r.getLong(0) -> Option(r.get(3)).map(_.asInstanceOf[Long])).toMap
      // brute force with null time = -infinity, null key matches nothing
      def leq(a: Option[Long], b: Option[Long]): Boolean = (a, b) match {
        case (None, _) => true
        case (_, None) => false
        case (Some(x), Some(y)) => x <= y
      }
      val want = ls.zipWithIndex.map { case ((k, t), i) =>
        val matches = rs.filter(r => r._1.isDefined && k.isDefined &&
          r._1 == k && leq(r._2, t))
        i.toLong -> (if (matches.isEmpty) None
                     else Some(matches.map(r => (r._2.getOrElse(Long.MinValue), r._3)).max._2))
      }.toMap
      Prop(got == want) :| s"got=$got want=$want"
    }
}
