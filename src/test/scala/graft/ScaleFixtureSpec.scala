package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class ScaleFixtureSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  private val src = "/root/testdata/sf0.001"

  private def tables(dir: String): Set[String] = {
    val s = Files.list(Paths.get(dir))
    try s.iterator.asScala.map(_.getFileName.toString).toSet finally s.close()
  }

  test("ScaleFixture: 10 distinct multi-file copies of the id tables, the rest unchanged") {
    val out = Files.createTempDirectory("scale-fixture").toString
    ScaleFixture.build(spark, src, out)
    assert(tables(out) == tables(src))

    val scaled = Map(
      "lineitem" -> Seq("l_orderkey"), "orders" -> Seq("o_orderkey"),
      "documents" -> Seq("doc_id"), "embeddings" -> Seq("vec_id"),
      "events" -> Seq("event_id", "user_id"))
    def read(dir: String, t: String) = spark.read.parquet(s"$dir/$t.parquet")
    for ((t, ids) <- scaled) {
      val (a, b) = (read(src, t), read(out, t))
      assert(b.schema == a.schema, t)
      assert(b.count() == ScaleFixture.Copies * a.count(), t)
      for (c <- ids)
        assert(b.select(c).distinct().count() ==
          ScaleFixture.Copies * a.select(c).distinct().count(), s"$t.$c")
      val files = Files.list(Paths.get(s"$out/$t.parquet"))
      val nFiles = try files.iterator.asScala
        .count(_.getFileName.toString.endsWith(".parquet")) finally files.close()
      assert(nFiles > 1, s"$t is $nFiles file(s)")
    }
    // salted copies share no document text; timestamps are not shifted
    assert(read(out, "documents").select("text").distinct().count() ==
      ScaleFixture.Copies * read(src, "documents").select("text").distinct().count())
    assert(read(out, "events").select(col("ts")).distinct().collect().toSet ==
      read(src, "events").select(col("ts")).distinct().collect().toSet)

    for (t <- tables(src).map(_.stripSuffix(".parquet")) -- scaled.keySet) {
      val (a, b) = (read(src, t), read(out, t))
      assert(b.schema == a.schema, t)
      assert(b.collect().toSeq == a.collect().toSeq, t)
    }
  }
}
