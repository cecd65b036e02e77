package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.catalyst.expressions.AttributeReference
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{REBALANCE_PARTITIONS_BY_COL, ShuffleExchangeLike}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.mapreduce.{Assign, MapReduce, Reduce, Unpack}

/** Where the general Reduce's groups run, on the sf0.1 `lineitem` (the
  * byte copy the benchmark keeps in the repo) in q10's shape: per
  * (returnflag, linestatus) group, the top 2 rows by price. Over the test
  * session's 4 shuffle partitions, hash placement alone puts 3 of the 6
  * groups (about 300k rows) into one reduce task; the grouped exchange is a
  * rebalance on the key columns, so no reduce task reads more rows than the
  * largest group, and it is the plan's only exchange. */
class ReducePlacementSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val dir = "perfbench/data/sf0.1"
  private lazy val lineitem = spark.read.parquet(s"$dir/lineitem.parquet")
  private val keys = Seq("l_returnflag", "l_linestatus")

  private def q10Shape = MapReduce(lineitem, Unpack.NoOp,
    Assign.KeysAndData(keys, Seq("l_orderkey", "l_linenumber", "l_extendedprice")),
    Reduce.MakeRecsWithKey(
      StructType(Seq(
        StructField("l_orderkey", LongType, nullable = false),
        StructField("l_extendedprice", DoubleType, nullable = false))),
      rows => rows.toSeq.sortBy { r: Row => (-r.getDouble(2), r.getLong(0), r.getInt(1)) }
        .take(2).iterator.map(r => Seq[Any](r.getLong(0), r.getDouble(2)))))

  private def exchanges(p: SparkPlan): Seq[ShuffleExchangeLike] = p match {
    case a: AdaptiveSparkPlanExec => exchanges(a.executedPlan)
    case q: QueryStageExec => exchanges(q.plan)
    case e: ShuffleExchangeLike => e +: e.children.flatMap(exchanges)
    case other => other.children.flatMap(exchanges)
  }

  test("q10's shape: no reduce task reads more shuffle records than the largest group") {
    val groups = lineitem.groupBy(keys.map(col): _*).count().collect().map(_.getLong(2))
    assert(spark.conf.get("spark.sql.shuffle.partitions") == "4")
    assert(groups.length == 6, groups.mkString(","))
    var rows = Array.empty[Row]
    val stages = TestSpark.shuffleReads { rows = q10Shape.collect() }
    assert(rows.length == 2 * groups.length)
    assert(stages.size == 1, s"shuffle-reading stages: $stages")
    val perTask = stages.head
    assert(perTask.sum == groups.sum)
    assert(perTask.max <= groups.max,
      s"a reduce task read ${perTask.max} records; the largest group has ${groups.max}")
  }

  test("q10's shape: one exchange, a rebalance on the key columns") {
    val df = q10Shape
    df.collect()
    exchanges(df.queryExecution.executedPlan) match {
      case Seq(e) =>
        assert(e.shuffleOrigin == REBALANCE_PARTITIONS_BY_COL)
        e.outputPartitioning match {
          case h: HashPartitioning =>
            assert(h.expressions.collect { case a: AttributeReference => a.name } == keys)
          case other => fail(s"expected hash partitioning, got $other")
        }
      case found => fail(s"expected one exchange, found ${found.size}:\n${df.queryExecution.executedPlan}")
    }
  }
}
