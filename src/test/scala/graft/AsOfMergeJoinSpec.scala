package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.AsOfJoin

/** The physical as-of join (AsOfJoinNode -> AsOfJoinStrategy ->
  * SortMergeAsOfJoinExec): plan shape + value parity with the composed
  * face. Fixtures are parquet-backed (not LocalRelation) so the plans
  * exercised here have real scans under them — the lesson from the
  * recode-rule vacuous-test episode (NOTES r8). */
class AsOfMergeJoinSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def viaParquet(df: DataFrame, name: String): DataFrame = {
    val p = TestSpark.tempDir(s"graft_asofmerge_$name") + "/t"
    df.write.mode("overwrite").parquet(p)
    spark.read.parquet(p)
  }

  private lazy val left = viaParquet(Seq(
    (1L, "A", 5L), (2L, "A", 10L), (3L, "A", 25L),
    (4L, "B", 100L), (5L, "C", 50L)
  ).toDF("event_id", "k", "t"), "left")

  private lazy val right = viaParquet(Seq(
    ("A", 10L, 100L, 1.0), ("A", 20L, 200L, 2.0), ("A", 20L, 201L, 3.0),
    ("B", 90L, 300L, 9.0)
  ).toDF("rk", "rt", "ref_id", "v"), "right")

  private def sortedRows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  test("plans through SortMergeAsOfJoinExec: no window, narrow shuffles") {
    val out = AsOfJoin.backwardMerge(left, right, "k", "rk", "t", "rt",
      rightPayload = Seq("ref_id", "v"), rightTieBreak = Seq("ref_id"))
    val plan = out.queryExecution.executedPlan.toString
    assert(plan.contains("SortMergeAsOfJoin"), plan)
    assert(!plan.contains("Window"), plan)
    assert(!plan.contains("Union"), plan)
    // one exchange per side, none above the operator
    assert("Exchange hashpartitioning".r.findAllIn(plan).size == 2, plan)
  }

  test("backwardMerge == backward on the deterministic fixture") {
    val composed = AsOfJoin.backward(left, right, "k", "rk", "t", "rt",
      rightPayload = Seq("ref_id", "v"), rightTieBreak = Seq("ref_id"))
    val merged = AsOfJoin.backwardMerge(left, right, "k", "rk", "t", "rt",
      rightPayload = Seq("ref_id", "v"), rightTieBreak = Seq("ref_id"))
    assert(merged.columns.toSeq == composed.columns.toSeq)
    assert(sortedRows(merged) == sortedRows(composed))
  }

  test("specific values: inclusive equal-time, tie-break last, unmatched nulls") {
    val out = AsOfJoin.backwardMerge(left, right, "k", "rk", "t", "rt",
      rightPayload = Seq("ref_id", "v"), rightTieBreak = Seq("ref_id"))
      .collect().map(r => r.getLong(0) -> (Option(r.get(3)), Option(r.get(4)))).toMap
    assert(out(1L) == (None, None))
    assert(out(2L) == (Some(100L), Some(1.0)))
    assert(out(3L) == (Some(201L), Some(3.0)))
    assert(out(4L) == (Some(300L), Some(9.0)))
    assert(out(5L) == (None, None))
  }

  test("tolerance parity with the composed face") {
    for (tol <- Seq(Some(5.0), Some(0.0), None)) {
      val composed = AsOfJoin.backward(left, right, "k", "rk", "t", "rt",
        rightPayload = Seq("ref_id"), rightTieBreak = Seq("ref_id"), tolerance = tol)
      val merged = AsOfJoin.backwardMerge(left, right, "k", "rk", "t", "rt",
        rightPayload = Seq("ref_id"), rightTieBreak = Seq("ref_id"), tolerance = tol)
      assert(sortedRows(merged) == sortedRows(composed), s"tolerance=$tol")
    }
  }

  test("forwardMerge == forward") {
    val composed = AsOfJoin.forward(left, right, "k", "rk", "t", "rt",
      rightPayload = Seq("ref_id"), rightTieBreak = Seq("ref_id"))
    val merged = AsOfJoin.forwardMerge(left, right, "k", "rk", "t", "rt",
      rightPayload = Seq("ref_id"), rightTieBreak = Seq("ref_id"))
    assert(sortedRows(merged) == sortedRows(composed))
  }

  test("null keys and null times: parity with composed (-infinity time semantics)") {
    val l = viaParquet(Seq(
      (1L, Option("A"), Option(5L)), (2L, None, Option(10L)),
      (3L, Option("A"), None), (4L, Option("B"), Option(1L))
    ).toDF("event_id", "k", "t"), "null_left")
    val r = viaParquet(Seq(
      (Option("A"), Option(3L), 10L), (Option("A"), None, 20L),
      (None, Option(1L), 30L), (Option("B"), Option(9L), 40L)
    ).toDF("rk", "rt", "ref_id"), "null_right")
    val composed = AsOfJoin.backward(l, r, "k", "rk", "t", "rt",
      rightPayload = Seq("ref_id"), rightTieBreak = Seq("ref_id"))
    val merged = AsOfJoin.backwardMerge(l, r, "k", "rk", "t", "rt",
      rightPayload = Seq("ref_id"), rightTieBreak = Seq("ref_id"))
    assert(sortedRows(merged) == sortedRows(composed))
    val m = merged.collect().map(x => x.getLong(0) -> Option(x.get(3))).toMap
    assert(m(1L) == Some(10L)) // latest A-row at or before t=5 is rt=3 (null rt sorts earlier)
    assert(m(2L).isEmpty)      // null left key matches nothing
    assert(m(3L) == Some(20L)) // null left time sees only the null-time right row
    assert(m(4L).isEmpty)      // B's only right row is later (rt=9 > 1)
  }

  test("self-as-of: latest PREVIOUS row of the same key, shared lineage") {
    val ev = viaParquet(Seq(
      ("u1", 10L, 100L), ("u1", 20L, 200L), ("u1", 30L, 300L),
      ("u2", 5L, 500L)
    ).toDF("user", "ts", "val"), "self")
    // strictly-before via t-1 probe times on the left
    val probe = ev.select(col("user"), col("ts"), (col("ts") - 1).as("prev_t"))
    val composed = AsOfJoin.backward(probe, ev, "user", "user", "prev_t", "ts",
      rightPayload = Seq("val"), rightTieBreak = Seq("ts"))
    val merged = AsOfJoin.backwardMerge(probe, ev, "user", "user", "prev_t", "ts",
      rightPayload = Seq("val"), rightTieBreak = Seq("ts"))
    assert(sortedRows(merged) == sortedRows(composed))
    val m = merged.collect().map(x => (x.getString(0), x.getLong(1)) -> Option(x.get(3))).toMap
    assert(m(("u1", 10L)).isEmpty)
    assert(m(("u1", 20L)) == Some(100L))
    assert(m(("u1", 30L)) == Some(200L))
    assert(m(("u2", 5L)).isEmpty)
  }

  test("fractional equality keys are rejected (no NormalizeFloatingNumbers on custom nodes)") {
    val l = viaParquet(Seq((1.0, 5L, "a")).toDF("k", "t", "tag"), "frac_left")
    val r = viaParquet(Seq((1.0, 3L, 7.0)).toDF("rk", "rt", "p"), "frac_right")
    val e = intercept[IllegalArgumentException] {
      AsOfJoin.backwardMerge(l, r, "k", "rk", "t", "rt", rightPayload = Seq("p"))
    }
    assert(e.getMessage.contains("fractional key type"), e.getMessage)
  }

  test("column pruning reaches the scans through the custom node") {
    // only one payload column consumed -> the right scan must not read the
    // other payload column: Catalyst's generic ColumnPruning case prunes
    // any node's children to (node.references ++ parent references), and
    // AsOfJoinNode's key/time/tie expressions are its `references` — this
    // is what keeps a 200-column right table from being shuffled whole at
    // 100 TB when the query picks one field
    val out = AsOfJoin.backwardMerge(left, right, "k", "rk", "t", "rt",
      rightPayload = Seq("ref_id", "v"), rightTieBreak = Seq("ref_id"))
      .select("event_id", "ref_id")
    val scans = out.queryExecution.executedPlan.collectLeaves().map(_.toString)
    val rightScan = scans.find(_.contains("graft_asofmerge_right")).getOrElse(
      fail(s"no right scan in:\n${scans.mkString("\n")}"))
    assert(!rightScan.contains("v:double"), rightScan) // payload v pruned
    assert(rightScan.contains("rk"), rightScan)        // key survives
    val leftScan = scans.find(_.contains("graft_asofmerge_left")).getOrElse(
      fail(s"no left scan in:\n${scans.mkString("\n")}"))
    assert(!leftScan.contains("tag"), leftScan)        // unused left col pruned
  }

  test("count() prunes the composed face's window but not the custom node (bench caveat)") {
    // Under count(*) nothing references the window output, so Catalyst
    // removes the composed face's Window (then its Sort and Exchange) and
    // the query degenerates to a scan-count; the custom node is opaque to
    // that rewrite and always runs the full join. A count-based timing of
    // the two faces therefore compares a scan against a join — the honest
    // A/B consumes the payload (SCALE.md round-10 asof probe).
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Window => LWindow}
    val composed = AsOfJoin.backward(left, right, "k", "rk", "t", "rt",
      rightPayload = Seq("ref_id", "v"), rightTieBreak = Seq("ref_id"))
    val countPlan = composed.groupBy().count().queryExecution.optimizedPlan
    assert(countPlan.collect { case w: LWindow => w }.isEmpty, countPlan.toString)
    val merged = AsOfJoin.backwardMerge(left, right, "k", "rk", "t", "rt",
      rightPayload = Seq("ref_id", "v"), rightTieBreak = Seq("ref_id"))
    val mergedCountPlan = merged.groupBy().count().queryExecution.optimizedPlan
    assert(mergedCountPlan.collect {
      case n: graft.plans.AsOfJoinNode => n }.nonEmpty, mergedCountPlan.toString)
    assert(countPlan.collect { case a: Aggregate => a }.nonEmpty)
  }

  test("mixed key types coerce before partitioning (int keys vs long keys)") {
    val l = viaParquet(Seq((1, 5L, "a"), (2, 10L, "b")).toDF("k", "t", "tag"), "int_left")
    val r = viaParquet(Seq((1L, 3L, 7.0), (2L, 11L, 9.0)).toDF("rk", "rt", "p"), "long_right")
    val out = AsOfJoin.backwardMerge(l, r, "k", "rk", "t", "rt", rightPayload = Seq("p"))
      .collect().map(x => x.getInt(0) -> Option(x.get(3))).toMap
    assert(out(1) == Some(7.0))
    assert(out(2).isEmpty)
  }
}
