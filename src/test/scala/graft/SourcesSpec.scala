package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.folds.NamedAgg
import graft.mapreduce.{Assign, MapReduce, Reduce, Unpack}
import graft.sources.Sources

/** The reference's end-to-end golden example, from raw CSV text to the
  * published output (`AddRowsByLabel.hs:122-131` nullable rows): bad cells
  * parse to null, sums skip them. */
class SourcesSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private val schema = StructType(Seq(
    StructField("label", StringType), StructField("x", DoubleType),
    StructField("y", DoubleType)))

  private def writeCsv(rows: String): String = {
    val dir = java.nio.file.Paths.get(TestSpark.tempDir("graft_csv"))
    Files.writeString(dir.resolve("data.csv"), rows)
    dir.toString
  }

  test("golden end-to-end: CSV bad cells -> null -> null-skipping group sums") {
    // the reference fixture verbatim (AddRowsByLabel.hs:146-155)
    val path = writeCsv("A,1,2\nZ,NaN,3\nA,4,lol\nZ,5,6\n")
    val df = Sources.readCsvNullable(spark, path, schema)
    val out = MapReduce(df, Unpack.NoOp, Assign.SplitOnKeys(Seq("label")),
      Reduce.FoldAndAddKey(Seq(NamedAgg("x", sum(col("x"))), NamedAgg("y", sum(col("y"))))))
      .collect().map(r => (r.getString(0), r.getDouble(1), r.getDouble(2))).toSet
    // golden output: {A, x 5.0, y 2.0}, {Z, x 5.0, y 9.0}
    assert(out == Set(("A", 5.0, 2.0), ("Z", 5.0, 9.0)))
  }

  test("cell-error columns: the Either functor convention keeps WHY a cell failed (Readme.md:19)") {
    // same reference fixture: "NaN" and "lol" fail Double parsing — the
    // Maybe interpretation (value column) is null, the error side column
    // carries the offending raw text; good cells carry no error
    val path = writeCsv("A,1,2\nZ,NaN,3\nA,4,lol\nZ,5,6\n")
    val df = Sources.readCsvWithCellErrors(spark, path, schema)
    assert(df.columns.toSeq == Seq("label", "x", "x__err", "y", "y__err"))
    val rows = df.collect().map(r => r.getString(0) -> r).toSeq
    val nanRow = rows.collectFirst { case ("Z", r) if r.isNullAt(1) => r }.get
    assert(nanRow.getString(2) == "NaN" && nanRow.getDouble(3) == 3.0 && nanRow.isNullAt(4))
    val lolRow = rows.collectFirst { case ("A", r) if r.isNullAt(3) => r }.get
    assert(lolRow.getDouble(1) == 4.0 && lolRow.isNullAt(2) && lolRow.getString(4) == "lol")
    // fully-parsed rows have null error columns
    val good = rows.collectFirst { case ("A", r) if !r.isNullAt(1) && !r.isNullAt(3) => r }.get
    assert(good.isNullAt(2) && good.isNullAt(4))
    // the Maybe interpretation is "drop the err columns" — and it agrees
    // with readCsvNullable exactly
    val asMaybe = df.select("label", "x", "y").collect().map(_.toSeq).toSet
    val nullable = Sources.readCsvNullable(spark, path, schema).collect().map(_.toSeq).toSet
    assert(asMaybe == nullable)
  }

  test("ieeeSpecials flag restores Spark's native NaN parsing") {
    val path = writeCsv("A,NaN,1\n")
    val strict = Sources.readCsvNullable(spark, path, schema).collect().head
    assert(strict.isNullAt(1))
    val ieee = Sources.readCsvNullable(spark, path, schema, ieeeSpecials = true).collect().head
    assert(ieee.getDouble(1).isNaN)
  }

  test("JSON lines: type-mismatched cells null out, garbage lines captured not fatal") {
    val dir = java.nio.file.Paths.get(TestSpark.tempDir("graft_json"))
    Files.writeString(dir.resolve("data.json"),
      """{"label":"A","x":1.5,"y":2.0}
        |{"label":"B","x":"not a number","y":3.0}
        |this line is not json at all
        |{"label":"C","x":4.0}
        |""".stripMargin)
    val df = Sources.readJsonNullable(spark, dir.toString, schema, keepCorrupt = true)
    val rows = df.collect()
    assert(rows.length == 4)
    val byLabel = rows.filter(!_.isNullAt(0)).map(r => r.getString(0) -> r).toMap
    assert(byLabel("A").getDouble(1) == 1.5)
    assert(byLabel("B").isNullAt(1) && byLabel("B").getDouble(2) == 3.0)
    assert(byLabel("C").getDouble(1) == 4.0 && byLabel("C").isNullAt(2))
    val corrupt = rows.filter(r => !r.isNullAt(3))
    assert(corrupt.length >= 1 &&
      corrupt.exists(_.getString(3).contains("not json at all")))
  }

  test("partitioned parquet sink enables partition pruning on read") {
    val dir = TestSpark.tempDir("graft_parq") + "/t"
    import spark.implicits._
    Sources.writePartitioned(
      Seq(("A", 1.0), ("B", 2.0), ("A", 3.0)).toDF("k", "v"), dir, Seq("k"))
    val pruned = Sources.readParquet(spark, dir).where(col("k") === "A")
    val scan = pruned.queryExecution.executedPlan.toString()
    assert(scan.contains("PartitionFilters") && scan.contains("isnotnull(k"))
    assert(pruned.count() == 2)
  }

  test("training-shard sink: one file per shard, pos-ordered within it, prunable") {
    val dir = TestSpark.tempDir("graft_shards") + "/t"
    import spark.implicits._
    val sharded = graft.pipeline.TrainingPrep.shuffleShard(
      (0L until 200L).toDF("doc_id"), "doc_id", nShards = 4)
    Sources.writeTrainingShards(sharded, dir)
    // one data file per shard directory (a reader's sequential scan)
    (0 until 4).foreach { sh =>
      val files = new java.io.File(s"$dir/shard=$sh")
        .listFiles().filter(_.getName.endsWith(".parquet"))
      assert(files.length == 1, s"shard $sh has ${files.length} files")
      // rows inside the file are physically in pos order: a single-file
      // read with no shuffle preserves storage order
      val pos = spark.read.parquet(files.head.getPath).select("pos")
        .collect().map(_.getLong(0)).toSeq
      assert(pos == pos.sorted && pos.nonEmpty)
    }
    // read of one shard prunes the others
    val one = Sources.readParquet(spark, dir).where(col("shard") === 2)
    assert(one.queryExecution.executedPlan.toString().contains("PartitionFilters"))
    assert(one.count() == sharded.where(col("shard") === 2).count())
  }

  test("compact: many small files become the computed target count, data identical") {
    import spark.implicits._
    val srcDir = TestSpark.tempDir("graft_small")
    val dstDir = TestSpark.tempDir("graft_compacted")
    val data = (0L until 2000L).map(i => (i, s"row$i")).toDF("id", "v")
    data.repartition(64).write.mode("overwrite").parquet(srcDir) // 64 tiny files
    def parquetFiles(d: String) =
      new java.io.File(d).listFiles().count(f => f.getName.endsWith(".parquet"))
    assert(parquetFiles(srcDir) == 64)
    val bytes = new java.io.File(srcDir).listFiles()
      .filter(_.getName.endsWith(".parquet")).map(_.length()).sum
    // target = half the total bytes -> expect exactly 2 output files
    val n = Sources.compact(spark, srcDir, dstDir, targetFileBytes = (bytes + 1) / 2)
    assert(n == 2 && parquetFiles(dstDir) == 2, s"got $n files, ${parquetFiles(dstDir)} on disk")
    val back = spark.read.parquet(dstDir)
    assert(back.count() == 2000L)
    assert(back.exceptAll(data).isEmpty && data.exceptAll(back).isEmpty)
  }

  test("readParquetMergeSchema: columns added over time come back, null before they existed") {
    import spark.implicits._
    val dir = TestSpark.tempDir("graft_evolve")
    Seq((1L, "a")).toDF("id", "v").write.mode("append").parquet(dir)
    Seq((2L, "b", 9.5)).toDF("id", "v", "score").write.mode("append").parquet(dir)
    val merged = Sources.readParquetMergeSchema(spark, dir)
    assert(merged.columns.toSet == Set("id", "v", "score"))
    val rows = merged.collect().map(r =>
      (r.getLong(0), r.getString(1), if (r.isNullAt(2)) None else Some(r.getDouble(2)))).toSet
    assert(rows == Set((1L, "a", None), (2L, "b", Some(9.5))))
    // the hazard, pinned deterministically: a reader that takes the
    // FIRST file's schema (what a plain read does when it samples that
    // footer — which footer wins is nondeterministic, so force it)
    // silently drops the late-added column
    val firstSchema = spark.read.schema("id LONG, v STRING").parquet(dir)
    assert(!firstSchema.columns.contains("score"))
    assert(firstSchema.count() == 2L) // both files read, score data gone
  }

  test("bucketed tables: equi-join on the bucket key runs with NO shuffle on either side") {
    import spark.implicits._
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force the join to show its shuffle needs
    try {
      val fact = (0L until 1000L).map(i => (i % 50, i)).toDF("k", "fv")
      val dim = (0L until 50L).map(k => (k, s"d$k")).toDF("k", "dv")
      Sources.writeBucketed(fact, "graft_bkt_fact", buckets = 4, bucketCols = Seq("k"))
      Sources.writeBucketed(dim, "graft_bkt_dim", buckets = 4, bucketCols = Seq("k"))
      val joined = spark.table("graft_bkt_fact").join(spark.table("graft_bkt_dim"), "k")
      joined.collect()
      val plan = joined.queryExecution.executedPlan.toString()
      assert(!plan.contains("Exchange"),
        s"bucketed co-located join must not shuffle:\n$plan")
      assert(joined.count() == 1000L)
      // same result as the unbucketed join
      assert(joined.groupBy("k").count().collect().forall(_.getLong(1) == 20L))
    } finally {
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      spark.sql("DROP TABLE IF EXISTS graft_bkt_fact")
      spark.sql("DROP TABLE IF EXISTS graft_bkt_dim")
    }
  }

  test("ORC round trip: rows identical, predicate pushed into the ORC scan") {
    import spark.implicits._
    val dir = TestSpark.tempDir("graft_orc")
    val data = (1L to 200L).map(i => (i, s"doc$i", i % 7)).toDF("id", "t", "v")
    Sources.writeOrc(data, dir)
    val back = Sources.readOrc(spark, dir)
    assert(back.collect().map(_.toSeq).toSet == data.collect().map(_.toSeq).toSet)
    val filtered = back.where($"v" > 3)
    filtered.collect()
    val plan = filtered.queryExecution.executedPlan.toString()
      .split("== Initial Plan ==").head
    assert(plan.contains("PushedFilters") && plan.contains("GreaterThan(v,3"),
      s"ORC scan missing pushdown:\n$plan")
    assert(filtered.count() == data.where($"v" > 3).count())
  }
}
