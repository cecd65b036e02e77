package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Scd2

class Scd2Spec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  // key, ts, seq (tie-break), attr
  private def log = Seq(
    (1L, 10L, 1L, "a"),
    (1L, 20L, 2L, "b"),
    (1L, 20L, 3L, "b2"), // tie at ts 20: seq 3 wins
    (1L, 30L, 4L, "c"),
    (2L, 15L, 5L, "x"),
    (3L, 5L, 6L, "only")
  ).toDF("k", "ts", "seq", "attr")

  test("fromChangeLog: versions chain per key, largest tie-break wins, open tail") {
    val dim = Scd2.fromChangeLog(log, "k", "ts", "seq")
      .select("k", "ts", "attr", "valid_from", "valid_to", "is_current")
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r).toMap
    assert(dim.size == 5, "tie loser must be dropped")
    assert(dim((1L, 10L)).getString(2) == "a" && dim((1L, 10L)).getLong(4) == 20L)
    assert(dim((1L, 20L)).getString(2) == "b2", "largest tie-break wins the instant")
    assert(dim((1L, 20L)).getLong(4) == 30L)
    assert(dim((1L, 30L)).isNullAt(4) && dim((1L, 30L)).getBoolean(5))
    assert(dim((2L, 15L)).getBoolean(5) && dim((3L, 5L)).getBoolean(5))
    assert(!dim((1L, 10L)).getBoolean(5) && !dim((1L, 20L)).getBoolean(5))
  }

  test("fromChangeLog: exact duplicate rows collapse to one version") {
    val dup = Seq((1L, 10L, 1L, "a"), (1L, 10L, 1L, "a")).toDF("k", "ts", "seq", "attr")
    assert(Scd2.fromChangeLog(dup, "k", "ts", "seq").count() == 1)
  }

  test("fromChangeLog: null-timestamp rows are dropped up front, position-independent") {
    // without the explicit filter, three-valued logic in the dedup
    // predicate would drop a null-ts row mid-run but KEEP one at the end
    val withNulls = Seq(
      (1L, Option(10L), 1L, "a"),
      (1L, Option.empty[Long], 2L, "ghost-mid"),
      (2L, Option.empty[Long], 3L, "ghost-only")
    ).toDF("k", "ts", "seq", "attr")
    val out = Scd2.fromChangeLog(withNulls, "k", "ts", "seq").collect()
    assert(out.length == 1 && out(0).getString(3) == "a")
  }

  test("applyChanges == full rebuild for every split point of the log") {
    val cols = Seq("k", "ts", "seq", "attr", "valid_from", "valid_to", "is_current")
    val expect = Scd2.fromChangeLog(log, "k", "ts", "seq")
      .select(cols.head, cols.tail: _*).collect().map(_.toSeq).toSet
    for (split <- 1L to 5L) {
      val hist = log.where(col("seq") <= split)
      val inc = log.where(col("seq") > split)
      val dim = Scd2.fromChangeLog(hist, "k", "ts", "seq")
      val out = Scd2.applyChanges(dim, inc, "k", "ts", "seq")
        .select(cols.head, cols.tail: _*).collect().map(_.toSeq).toSet
      assert(out == expect, s"increment after seq=$split diverged from full rebuild")
    }
  }

  test("applyChanges: open-row timestamp collision re-runs the tie-break") {
    val dim = Scd2.fromChangeLog(log, "k", "ts", "seq")
    // same ts as key 1's open row (30), larger seq: replaces it
    val inc = Seq((1L, 30L, 9L, "c9")).toDF("k", "ts", "seq", "attr")
    val out = Scd2.applyChanges(dim, inc, "k", "ts", "seq")
      .where(col("k") === 1 && col("ts") === 30)
      .select("attr", "is_current").collect()
    assert(out.length == 1 && out(0).getString(0) == "c9" && out(0).getBoolean(1))
    // smaller seq than the open row: the increment row loses, dim unchanged
    val incLose = Seq((1L, 30L, 0L, "c0")).toDF("k", "ts", "seq", "attr")
    val out2 = Scd2.applyChanges(dim, incLose, "k", "ts", "seq")
      .where(col("k") === 1 && col("ts") === 30)
      .select("attr").collect()
    assert(out2.length == 1 && out2(0).getString(0) == "c")
  }

  test("applyChanges: new key inserts; untouched keys pass through identically") {
    val dim = Scd2.fromChangeLog(log, "k", "ts", "seq")
    val inc = Seq((7L, 40L, 10L, "new")).toDF("k", "ts", "seq", "attr")
    val out = Scd2.applyChanges(dim, inc, "k", "ts", "seq")
    assert(out.where(col("k") === 7).count() == 1)
    val before = dim.where(col("k") =!= 7).collect().map(_.toSeq).toSet
    val after = out.where(col("k") =!= 7).collect().map(_.toSeq).toSet
    assert(before == after)
  }

  test("plan: fromChangeLog is ONE key shuffle + ONE window pass") {
    val dim = Scd2.fromChangeLog(log.repartition(4), "k", "ts", "seq")
    val p = dim.queryExecution.executedPlan.toString
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(exchanges == 1, s"expected a single key shuffle, got $exchanges:\n$p")
    val opt = dim.queryExecution.optimizedPlan.toString
    assert("Window \\[".r.findAllIn(opt).length == 1,
      s"expected a single window pass:\n$opt")
  }

  test("plan: applyChanges adds exactly one window (the rebuilt branch); history only filters") {
    // materialized dim (parquet-backed, as in production) so the plan shows
    // what happens to EXISTING history: reads + filters + joins, no Window
    val dir = TestSpark.tempDir("scd2dim")
    Scd2.fromChangeLog(log, "k", "ts", "seq").write.mode("overwrite").parquet(dir)
    val dim = spark.read.parquet(dir)
    val inc = Seq((1L, 40L, 11L, "d")).toDF("k", "ts", "seq", "attr")
    val opt = Scd2.applyChanges(dim, inc, "k", "ts", "seq")
      .queryExecution.optimizedPlan.toString
    assert("Window \\[".r.findAllIn(opt).length == 1,
      s"closed history must not be re-windowed:\n$opt")
  }
}
