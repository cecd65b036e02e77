package graft.queries

import java.io.FileNotFoundException

import org.apache.hadoop.fs.Path
import org.apache.parquet.format.converter.ParquetMetadataConverter.SKIP_ROW_GROUPS
import org.apache.parquet.hadoop.Footer
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetFooterReader, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.types.StructType

/** One driver-checkable query: a Spark implementation plus (when the
  * semantics are SQL-expressible) the equivalent DuckDB oracle SQL. Column
  * names MUST match between the two — the driver's compare sorts columns by
  * name before hashing.
  *
  * ORACLE TYPE CHECKLIST (the driver compares both sides through pandas —
  * every row below hash-mismatches AT EQUAL VALUES if violated; the p1/d4
  * bug class). `tools/check.py --exact` enforces all of these:
  *   - DuckDB `sum(<integer expr>)` → HUGEINT → pandas float64. Cast every
  *     integer sum that SURFACES in the output: `sum(x)::BIGINT`. Window
  *     sums (`sum(x) OVER ...`) and `list_sum` over integers promote too.
  *     Sums over DOUBLE columns are safe.
  *   - `count(*)` is BIGINT (safe), but ARITHMETIC on counts
  *     (`count(*) * 2`, `c1 + c2`) can re-promote — cast the result.
  *   - No array/struct column may surface in a checked output — the
  *     driver's pandas canonicalizer cannot sort/hash array cells (the p6
  *     crash class). Stringify: `array_to_string(..., ' ')` / Spark
  *     `array_join`.
  *   - Floats are compared bit-for-bit; where engines legitimately differ
  *     in the last ulp, round BOTH sides identically (`round(x, 9)`).
  *   - DuckDB `extract(...)` is BIGINT; Spark date functions are INT —
  *     cast the Spark side to long (x31 precedent). */
final case class Q(
    name: String,
    fn: (SparkSession, String) => DataFrame,
    oracle: Option[String])

object Q {
  /** Table `name` of the testdata directory `dir`. The schema comes from
    * [[footerSchema]] on the driver: `s.read.parquet(path)` infers it in a
    * Spark job (`ParquetUtils.mergeSchemasInParallel`, a job even for one
    * file), about a third of the jobs a parity query runs at benchmark
    * scale. Nothing is cached across calls, so every timed query still
    * reads its footer.
    *
    * Both confs are set on every call, before the footer is read: the
    * converter takes `nanosAsLong` from the session conf, and sessions not
    * built by [[graft.Harness.session]] (the benchmark's, the specs') do
    * not set it. events.parquet has carried TIMESTAMP(NANOS) (BIGINT under
    * the legacy flag) and TIMESTAMP(MICROS) (TIMESTAMP_NTZ) across testdata
    * generations; Streaming.epochSeconds adapts per schema. UTC makes naive
    * timestamps match DuckDB's epoch_ns interpretation. */
  def table(s: SparkSession, dir: String, name: String): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    s.conf.set("spark.sql.session.timeZone", "UTC")
    val path = s"$dir/$name.parquet"
    footerSchema(s, path).fold(s.read.parquet(path))(s.read.schema(_).parquet(path))
  }

  /** The schema `s.read.parquet(path)` infers with `mergeSchema=false`,
    * built on the driver with no job, when `path` is one file or a flat
    * directory: the footer of the first data file by path (the one file
    * inference reads) through the session's converter, so the Spark
    * row-metadata key, `nanosAsLong`, INT96 and TIMESTAMP_NTZ inference
    * apply as they do there. `listed` is Spark's leaf filter. None for a
    * missing path (a glob included), subdirectories, summary files or no
    * data file: Spark's own read handles those. */
  private[graft] def footerSchema(s: SparkSession, path: String): Option[StructType] = {
    val conf = s.sessionState.newHadoopConf()
    val p = new Path(path)
    val fs = p.getFileSystem(conf)
    val status =
      try fs.getFileStatus(p)
      catch { case _: FileNotFoundException => return None }
    def listed(n: String) = !(n.startsWith(".") || n.endsWith("._COPYING_") ||
      n.startsWith("_") && !n.contains("=") &&
        !n.startsWith("_metadata") && !n.startsWith("_common_metadata"))
    val file =
      if (!status.isDirectory) Some(status)
      else {
        val leaves = fs.listStatus(p).filter(c => listed(c.getPath.getName))
        if (leaves.exists(c => c.isDirectory || c.getPath.getName.startsWith("_"))) None
        else leaves.sortBy(_.getPath.toString).headOption
      }
    file.map { f =>
      val meta = ParquetFooterReader.readFooter(HadoopInputFile.fromStatus(f, conf), SKIP_ROW_GROUPS)
      ParquetFileFormat.readSchemaFromFooter(new Footer(f.getPath, meta),
        new ParquetToSparkSchemaConverter(s.sessionState.conf))
    }
  }

  /** Scratch path for an in-plan at-rest artifact (index, tokenizer
    * model, round-trip file): unique per (query tag, JVM, testdata dir)
    * so concurrent Verify/Bench processes and different SFs never
    * collide, stable within a process so a query's build-then-read is
    * coherent. One definition — seven queries share the idiom. */
  def tmpArtifactPath(tag: String, dir: String): String =
    s"${sys.props("java.io.tmpdir")}/graft_${tag}_" +
      s"${ProcessHandle.current().pid()}_${Integer.toHexString(dir.hashCode)}"
}
