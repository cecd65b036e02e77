package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.folds.NamedAgg
import graft.mapreduce.{Assign, MapReduce, Reduce, Unpack}

/** Per-operator specs for the Unpack/Assign/Reduce pipeline (reference
  * `src/Frames/MapReduce.hs`; SURVEY §2.1-2.3). */
class MapReduceSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def df = Seq(
    ("A", 1.0, 10.0), ("A", 2.0, 20.0), ("B", 3.0, 30.0), ("C", 4.0, 40.0)
  ).toDF("label", "x", "y")

  test("unpackFilterOnField keeps matching rows (reference MapReduce.hs:103-108)") {
    val out = MapReduce(df,
      Unpack.filterOnField("label")(_.isin("A", "B")),
      Assign.SplitOnKeys(Seq("label")),
      Reduce.FoldAndAddKey(Seq(NamedAgg("sum_x", sum(col("x"))))))
    assert(out.collect().map(r => (r.getString(0), r.getDouble(1))).toSet ==
      Set(("A", 3.0), ("B", 3.0)))
  }

  test("unpackGoodRows drops null rows AND projects (reference MapReduce.hs:112-116)") {
    val in = Seq[(String, java.lang.Double, java.lang.Double)](
      ("A", 1.0, 2.0), ("A", null, 3.0), ("B", 4.0, 5.0)
    ).toDF("label", "x", "y")
    val out = Unpack.GoodRows(Seq("label", "x"))(in)
    assert(out.columns.toSeq == Seq("label", "x"))
    assert(out.count() == 2)
  }

  test("unpackGoodRecRows drops null rows but keeps all columns (Maybe.hs:70-74)") {
    val in = Seq[(String, java.lang.Double, java.lang.Double)](
      ("A", 1.0, 2.0), ("A", null, 3.0)
    ).toDF("label", "x", "y")
    val out = Unpack.GoodRecRows(Seq("x"))(in)
    assert(out.columns.toSeq == Seq("label", "x", "y"))
    assert(out.count() == 1)
  }

  test("assign variants resolve key/data column sets (MapReduce.hs:120-149)") {
    val schema = df.schema
    assert(Assign.KeysAndData(Seq("label"), Seq("x")).resolve(schema) == (Seq("label"), Seq("x")))
    assert(Assign.Keys(Seq("label")).resolve(schema) == (Seq("label"), Seq("label", "x", "y")))
    assert(Assign.SplitOnKeys(Seq("label")).resolve(schema) == (Seq("label"), Seq("x", "y")))
    assert(Assign.SplitOnData(Seq("x", "y")).resolve(schema) == (Seq("label"), Seq("x", "y")))
  }

  test("assign validation fails fast on missing columns (SURVEY §7.4 eager checks)") {
    val e = intercept[IllegalArgumentException] {
      Assign.SplitOnKeys(Seq("nope")).resolve(df.schema)
    }
    assert(e.getMessage.contains("nope"))
  }

  test("reduceAndAddKey: arbitrary per-group Scala, one row per group (MapReduce.hs:152-159)") {
    val out = MapReduce(df, Unpack.NoOp,
      Assign.KeysAndData(Seq("label"), Seq("y")),
      Reduce.ReduceAndAddKey(
        StructType(Seq(StructField("max_y", DoubleType))),
        rows => Seq[Any](rows.map(_.getDouble(0)).max)))
    assert(out.collect().map(r => (r.getString(0), r.getDouble(1))).toSet ==
      Set(("A", 20.0), ("B", 30.0), ("C", 40.0)))
  }

  test("makeRecsWithKey: one group to many rows (MapReduce.hs:171-179)") {
    val out = MapReduce(df, Unpack.NoOp,
      Assign.KeysAndData(Seq("label"), Seq("x")),
      Reduce.MakeRecsWithKey(
        StructType(Seq(StructField("x2", DoubleType))),
        rows => rows.map(r => Seq[Any](r.getDouble(0) * 2))))
    assert(out.count() == 4)
    assert(out.where(col("label") === "A").collect().map(_.getDouble(1)).toSet == Set(2.0, 4.0))
  }

  test("makeRecsWithKeyM: Reader-style env built once per task, read per group (MapReduce.hs:183-191)") {
    MapReduceSpec.envInits.set(0)
    // 20 groups over 4 shuffle partitions: a per-GROUP init would count 20,
    // a once-per-TASK (Reader) init counts at most 4
    val wide = (0 until 20).map(g => (s"g$g", g.toDouble)).toDF("label", "x")
    val out = MapReduce(wide, Unpack.NoOp,
      Assign.KeysAndData(Seq("label"), Seq("x")),
      Reduce.MakeRecsWithKeyM[Double](
        StructType(Seq(StructField("scaled", DoubleType))),
        () => { MapReduceSpec.envInits.incrementAndGet(); 10.0 },
        (scale, rows) => rows.map(r => Seq[Any](r.getDouble(0) * scale))))
    assert(out.collect().map(r => (r.getString(0), r.getDouble(1))).toSet ==
      (0 until 20).map(g => (s"g$g", g * 10.0)).toSet)
    val inits = MapReduceSpec.envInits.get()
    assert(inits >= 1 && inits <= 4, s"env inits = $inits (expected once per task)")
  }

  test("unpack Transform chains as a category (flatMap unpack, Aggregation.hs:116-118)") {
    val u = Unpack.FilterRow(col("x") > 1.0)
      .andThen(Unpack.Transform(_.withColumn("x2", col("x") * 2)))
    val out = u(df)
    assert(out.columns.contains("x2") && out.count() == 3)
  }

  test("grouping treats null keys as equal (SURVEY §2.2 key-equality semantics)") {
    val in = Seq[(java.lang.Double, Double)]((null, 1.0), (null, 2.0), (1.0, 3.0))
      .toDF("k", "v")
    val out = MapReduce(in, Unpack.NoOp, Assign.SplitOnKeys(Seq("k")),
      Reduce.FoldAndAddKey(Seq(NamedAgg("s", sum(col("v"))))))
    val nullGroup = out.where(col("k").isNull).collect()
    assert(nullGroup.length == 1 && nullGroup.head.getDouble(1) == 3.0)
  }

  test("reduceAndAddKey groups null keys as one group") {
    val in = Seq[(java.lang.Double, Double)]((null, 1.0), (null, 2.0), (1.0, 3.0))
      .toDF("k", "v")
    val out = MapReduce(in, Unpack.NoOp, Assign.SplitOnKeys(Seq("k")),
      Reduce.ReduceAndAddKey(
        StructType(Seq(StructField("s", DoubleType))),
        rows => Seq[Any](rows.map(_.getDouble(0)).sum)))
    val nullGroup = out.where(col("k").isNull).collect()
    assert(nullGroup.length == 1 && nullGroup.head.getDouble(1) == 3.0)
    assert(out.count() == 2)
  }

  test("general Reduce with no keys: one group over all rows, one result row") {
    val sumY = Reduce.ReduceAndAddKey(
      StructType(Seq(StructField("sum_y", DoubleType))),
      rows => Seq[Any](rows.map(_.getDouble(0)).sum))
    val out = MapReduce(df, Unpack.NoOp, Assign.KeysAndData(Nil, Seq("y")), sumY)
    assert(out.columns.toSeq == Seq("sum_y"))
    assert(out.collect().map(_.getDouble(0)).toSeq == Seq(100.0))
    val recs = MapReduce(df, Unpack.NoOp, Assign.KeysAndData(Nil, Seq("x")),
      Reduce.MakeRecsWithKey(
        StructType(Seq(StructField("n", IntegerType))),
        rows => Iterator.single(Seq[Any](rows.size))))
    assert(recs.collect().map(_.getInt(0)).toSeq == Seq(4))
    val recsM = MapReduce(df, Unpack.NoOp, Assign.KeysAndData(Nil, Seq("x")),
      Reduce.MakeRecsWithKeyM[Int](
        StructType(Seq(StructField("n", IntegerType))),
        () => 10,
        (scale, rows) => Iterator.single(Seq[Any](rows.size * scale))))
    assert(recsM.collect().map(_.getInt(0)).toSeq == Seq(40))
  }

  test("general Reduce with no keys over an empty input yields no rows") {
    val out = MapReduce(df, Unpack.FilterRow(col("x") > 100.0),
      Assign.KeysAndData(Nil, Seq("y")),
      Reduce.ReduceAndAddKey(
        StructType(Seq(StructField("sum_y", DoubleType))),
        rows => Seq[Any](rows.map(_.getDouble(0)).sum)))
    assert(out.count() == 0)
  }

  /** 120k rows in 6 keys of 20k rows each, a third of them null keys when
    * `nullKeys` — each group far above a 16 KB advisory partition size. */
  private def groupedInput(nullKeys: Boolean) = spark.range(0, 120000, 1, 4).select(
    (if (nullKeys) when(col("id") % 3 === 0, lit(null)).otherwise(col("id") % 6)
     else col("id") % 6).cast("string").as("k"),
    col("id").cast("double").as("v"))

  private val countAndMax = Reduce.ReduceAndAddKey(
    StructType(Seq(StructField("n", LongType), StructField("max_v", DoubleType))),
    { rows =>
      var n = 0L
      var mx = Double.MinValue
      rows.foreach { r => n += 1; mx = math.max(mx, r.getDouble(0)) }
      Seq[Any](n, mx)
    })
  private val top2 = Reduce.MakeRecsWithKey(
    StructType(Seq(StructField("v", DoubleType))),
    rows => rows.map(_.getDouble(0)).toSeq.sorted.reverse.take(2).iterator.map(v => Seq[Any](v)))

  /** Every (case, rows) of the general Reduce over `groupedInput`: keyed,
    * null-key, no-key and empty, for both reduces. */
  private def generalReduceCases: Seq[(String, Seq[Row])] = {
    def rows(nullKeys: Boolean, keys: Seq[String], empty: Boolean, r: Reduce) =
      MapReduce(groupedInput(nullKeys), Unpack.FilterRow(if (empty) col("v") < 0 else lit(true)),
        Assign.KeysAndData(keys, Seq("v")), r).collect().toSeq.sortBy(_.toString)
    for {
      (name, nullKeys, keys, empty) <- Seq(
        ("keyed", false, Seq("k"), false), ("null-key", true, Seq("k"), false),
        ("no-key", false, Nil, false), ("empty", false, Seq("k"), true))
      (reduce, r) <- Seq("reduceAndAddKey" -> countAndMax, "makeRecsWithKey" -> top2)
    } yield (s"$name $reduce", rows(nullKeys, keys, empty, r))
  }

  test("general Reduce gives the same rows with AQE off, coalescing off and 16 KB partitions") {
    val expected = generalReduceCases
    // one row per key, every row counted once: rows equal to these under
    // a 16 KB advisory size mean the skew split divided no group
    for ((name, nKeys) <- Seq("keyed reduceAndAddKey" -> 6, "null-key reduceAndAddKey" -> 5)) {
      val rows = expected.find(_._1 == name).get._2
      assert(rows.map(_.get(0)).distinct.size == nKeys && rows.size == nKeys, name)
      assert(rows.map(_.getLong(1)).sum == 120000L, name)
    }
    assert(expected.find(_._1 == "empty makeRecsWithKey").get._2.isEmpty)
    for ((key, value) <- Seq(
      "spark.sql.adaptive.enabled" -> "false",
      "spark.sql.adaptive.coalescePartitions.enabled" -> "false",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "16k"))
      TestSpark.withConf(key, value) {
        generalReduceCases.zip(expected).foreach { case ((name, got), (_, want)) =>
          assert(got == want, s"$name under $key=$value")
        }
      }
  }

  test("general Reduce with coalescing off runs spark.sql.shuffle.partitions reduce tasks") {
    TestSpark.withConf("spark.sql.adaptive.coalescePartitions.enabled", "false") {
      val out = MapReduce(groupedInput(nullKeys = false), Unpack.NoOp,
        Assign.KeysAndData(Seq("k"), Seq("v")), countAndMax)
      val stages = TestSpark.shuffleReads(out.collect(): Unit)
      assert(stages.map(_.size) == Seq(spark.conf.get("spark.sql.shuffle.partitions").toInt))
    }
  }
}

object MapReduceSpec {
  /** Shared with executor-side closures (local mode = same JVM). */
  val envInits = new java.util.concurrent.atomic.AtomicInteger(0)
}
