package graft

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions._

/** The 10× fixture: every table of `<srcDir>` written to `<outDir>`, the
  * tables with per-row ids as 10 distinct copies, every other table copied
  * byte for byte. [[Bench]] runs it through `SPARK_GRAFT_SF_DIR=<outDir>`.
  *
  * Run: `sbt "runMain graft.ScaleFixture <srcDir> <outDir>"`.
  *
  * Copy `c` (0..9) of a scaled table:
  *  - shifts its id columns by `c`·10^7, so ids stay unique across copies
  *    and the lineitem–orders join stays within a copy;
  *  - salts every whitespace-delimited token of `documents.text` with
  *    `c<c>_` (the `_` keeps salt c1 + token "2x" apart from salt c12 +
  *    token "x"): near-duplicates stay within a copy, so new data brings
  *    its own near-dups instead of duplicating the old ones;
  *  - sign-flips `embeddings` per (copy, dimension), an orthogonal
  *    transform: cosines within a copy are exact, across copies ~0;
  *  - keeps `events` timestamps: 10× the rows in the same window key space.
  *
  * One builder on purpose: two drifting variants of one fixture concept
  * are how a fix lands in one and not the other. The repartition before
  * each write is load-bearing: the source tables are single row groups,
  * so the copy cross join is ONE partition, and a single output file would
  * be read single-threaded — every downstream timing would measure the
  * parallelism floor, not the operator. A real corpus is many files. */
object ScaleFixture {
  val Copies = 10
  private val Shift = 10000000L

  /** Tables scaled by copy, with their id columns. */
  private val idCols = Map(
    "lineitem" -> Seq("l_orderkey"),
    "orders" -> Seq("o_orderkey"),
    "documents" -> Seq("doc_id"),
    "embeddings" -> Seq("vec_id"),
    "events" -> Seq("event_id", "user_id"))

  /** The per-copy salt of a scaled table's payload column. */
  private val salts: Map[String, (String, Column)] = Map(
    "documents" -> ("text" -> regexp_replace(col("text"),
      lit("(^|[ \\t\\n\\x0B\\f\\r])"), concat(lit("$1c"), col("copy"), lit("_")))),
    "embeddings" -> ("embedding" -> expr("transform(embedding, (x, d) -> " +
      "CAST(x * (CASE WHEN pmod(hash(copy, d), 2) = 0 THEN 1.0 ELSE -1.0 END) AS FLOAT))")))

  def main(args: Array[String]): Unit = args match {
    case Array(srcDir, outDir) =>
      val spark = Harness.session(Harness.cpus())
      try build(spark, srcDir, outDir) finally spark.stop()
    case _ =>
      System.err.println("usage: graft.ScaleFixture <srcDir> <outDir>")
      sys.exit(2)
  }

  def build(spark: SparkSession, srcDir: String, outDir: String): Unit = {
    val copies = spark.range(Copies).select(col("id").cast("int").as("copy"))
    val out = Paths.get(outDir)
    Files.createDirectories(out)
    val entries = Files.list(Paths.get(srcDir))
    val tables = try entries.iterator.asScala.toList.sortBy(_.toString) finally entries.close()
    tables.foreach { src =>
      val table = src.getFileName.toString.stripSuffix(".parquet")
      idCols.get(table) match {
        case Some(ids) =>
          val base = spark.read.parquet(src.toString)
          val shifted = ids.foldLeft(base.crossJoin(copies)) { (df, c) =>
            df.withColumn(c,
              (col(c) + col("copy").cast("long") * Shift).cast(base.schema(c).dataType))
          }
          salts.get(table).fold(shifted) { case (c, e) => shifted.withColumn(c, e) }
            .drop("copy")
            .repartition(Copies)
            .write.mode("overwrite").parquet(out.resolve(s"$table.parquet").toString)
        case None => copyTree(src, out.resolve(src.getFileName))
      }
    }
  }

  private def copyTree(from: Path, to: Path): Unit = {
    val walk = Files.walk(from)
    try walk.iterator.asScala.foreach { p =>
      val dest = to.resolve(from.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(dest)
      else Files.copy(p, dest, StandardCopyOption.REPLACE_EXISTING)
    }
    finally walk.close()
  }
}
