package graft

import java.nio.file.Files

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.hadoop.util.HadoopOutputFile
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.sql.AnalysisException
import org.apache.spark.sql.types.{LongType, StructField, StructType}
import org.scalatest.funsuite.AnyFunSuite

import graft.queries.Q

/** [[Q.table]] builds each table's schema on the driver from one Parquet
  * footer: the schema equals what `spark.read.parquet` infers, nullability
  * included, on every table of sf0.001 and of the benchmark's sf0.1 copy,
  * on 8-file copies and under both `nanosAsLong` settings; building the
  * frame runs no Spark job; every other layout takes Spark's own read. */
class QTableSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val tables = Seq("customer", "documents", "embeddings", "events",
    "lineitem", "nation", "orders", "part", "region", "supplier")
  /** The sf0.001 testdata and the sf0.1 byte copy the benchmark keeps. */
  private val dirs = Seq("/root/testdata/sf0.001", "perfbench/data/sf0.1")
  private val nanosAsLong = "spark.sql.legacy.parquet.nanosAsLong"

  private def inferred(path: String): StructType = spark.read.parquet(path).schema

  /** The schema of the frame Q.table builds for `path`, under the
    * session's current `nanosAsLong` (Q.table itself sets it to true). */
  private def viaFooter(path: String): Option[StructType] =
    Q.footerSchema(spark, path).map(spark.read.schema(_).parquet(path).schema)

  /** Footer schema == inferred schema for every table under `dir`, and
    * Q.table runs no job. */
  private def checkTables(dir: String): Unit =
    for (t <- tables) {
      val path = s"$dir/$t.parquet"
      assert(TestSpark.jobsOf(Q.table(spark, dir, t)) == 0, path)
      assert(Q.table(spark, dir, t).schema == inferred(path), path)
    }

  test("every sf0.001 and sf0.1 table: footer schema == inferred schema, no job") {
    dirs.foreach(checkTables)
  }

  test("8-file copies: footer schema == inferred schema, no job") {
    val dir = Files.createTempDirectory("qtable_8files").toString
    for (t <- tables)
      spark.read.parquet(s"${dirs(1)}/$t.parquet").repartition(8)
        .write.parquet(s"$dir/$t.parquet")
    assert(new java.io.File(s"$dir/lineitem.parquet").list().count(_.endsWith(".parquet")) == 8)
    checkTables(dir)
  }

  test("a directory whose files differ: the footer read is the first data file's, as inference's") {
    val dir = Files.createTempDirectory("qtable_first").toString
    val path = s"$dir/t.parquet"
    spark.range(3).selectExpr("id", "cast(id as string) as s").coalesce(1)
      .write.parquet(s"$dir/wide")
    spark.range(3).coalesce(1).write.parquet(s"$dir/narrow")
    Files.createDirectory(java.nio.file.Paths.get(path))
    def move(from: String, to: String): Unit = {
      val part = new java.io.File(s"$dir/$from").listFiles().find(_.getName.startsWith("part-")).get
      Files.move(part.toPath, java.nio.file.Paths.get(s"$path/$to"))
    }
    move("wide", "b.parquet")
    move("narrow", "a.parquet")
    assert(Q.table(spark, dir, "t").schema == inferred(path))
    assert(Q.table(spark, dir, "t").schema.fieldNames.toSeq == Seq("id"))
  }

  test("events under nanosAsLong true and false: footer schema == inferred schema") {
    for (v <- Seq("true", "false"); dir <- dirs)
      TestSpark.withConf(nanosAsLong, v) {
        val path = s"$dir/events.parquet"
        assert(viaFooter(path).contains(inferred(path)), s"$path nanosAsLong=$v")
      }
  }

  test("a TIMESTAMP(NANOS) column: BIGINT under nanosAsLong, rejected without it, as inference does") {
    val path = Files.createTempDirectory("qtable_nanos").toString + "/events.parquet"
    val schema = MessageTypeParser.parseMessageType(
      "message m { required int64 ts (TIMESTAMP(NANOS,false)); }")
    val w = ExampleParquetWriter.builder(HadoopOutputFile.fromPath(new Path(path), new Configuration()))
      .withType(schema).build()
    try w.write(new SimpleGroupFactory(schema).newGroup().append("ts", 1L))
    finally w.close()
    TestSpark.withConf(nanosAsLong, "true") {
      val want = StructType(Seq(StructField("ts", LongType)))
      assert(inferred(path) == want)
      assert(viaFooter(path).contains(want))
    }
    TestSpark.withConf(nanosAsLong, "false") {
      intercept[Exception](inferred(path))
      intercept[AnalysisException](Q.footerSchema(spark, path))
    }
  }

  test("other layouts take Spark's own read: missing path, no data file, subdirectories") {
    val dir = Files.createTempDirectory("qtable_other").toString
    intercept[AnalysisException](Q.table(spark, dir, "missing"))
    Files.createDirectory(java.nio.file.Paths.get(s"$dir/empty.parquet"))
    assert(Q.footerSchema(spark, s"$dir/empty.parquet").isEmpty)
    intercept[AnalysisException](Q.table(spark, dir, "empty"))
    spark.range(6).selectExpr("id", "id % 2 as k").write.partitionBy("k")
      .parquet(s"$dir/parted.parquet")
    assert(Q.footerSchema(spark, s"$dir/parted.parquet").isEmpty)
    assert(Q.table(spark, dir, "parted").schema == inferred(s"$dir/parted.parquet"))
    assert(Q.table(spark, dir, "parted").schema.fieldNames.toSeq == Seq("id", "k"))
  }
}
