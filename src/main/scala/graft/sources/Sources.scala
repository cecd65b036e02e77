package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, FloatType, StructType}

/** Sources/sinks. The reference's only ingestion path is CSV parsing where
  * a cell that fails to parse becomes a null (`F.readRec`,
  * `/root/reference/examples/AddRowsByLabel.hs:146-155`: `"NaN"` and
  * `"lol"` both fail `Double` parsing and become `Nothing`). Everything
  * else here is the Spark-native source/sink surface the engine runs on.
  */
object Sources {

  /** CSV with the reference's bad-cell semantics: PERMISSIVE mode turns
    * malformed cells into nulls, and (by default) IEEE sentinels
    * "NaN"/"Infinity" also become null — Haskell's `read @Double` rejects
    * them, which is what the reference's golden fixture pins ("NaN" →
    * `Nothing`). Java's `parseDouble` accepts them, so the strict variant
    * nulls non-finite values after the parse (a codegen'd projection, not
    * a per-cell UDF). Set `ieeeSpecials = true` for Spark-native behavior. */
  def readCsvNullable(
      spark: SparkSession, path: String, schema: StructType,
      header: Boolean = false, ieeeSpecials: Boolean = false): DataFrame = {
    val parsed = spark.read
      .schema(schema)
      .option("mode", "PERMISSIVE")
      .option("header", header.toString)
      .csv(path)
    if (ieeeSpecials) parsed
    else {
      def finiteOrNull(c: Column) =
        when(isnan(c) || c === Double.PositiveInfinity || c === Double.NegativeInfinity,
          lit(null)).otherwise(c)
      val cols = schema.fields.toIndexedSeq.map { f =>
        f.dataType match {
          case DoubleType | FloatType => finiteOrNull(col(f.name)).as(f.name)
          case _ => col(f.name)
        }
      }
      parsed.select(cols: _*)
    }
  }

  /** ≙ the reference's generalized cell functor `f` beyond `Maybe` — an
    * `Either err a` cell that keeps WHY a cell failed to parse
    * (`/root/reference/Readme.md:19`, the `(forall a. f a -> Maybe a)`
    * interpreters at `src/Frames/Folds/General.hs:119`). Spark columns are
    * sum-type-free, so the convention is: the typed column is null on
    * failure (the `Maybe` interpretation comes free — read the value
    * column, ignore the rest), and a `<name>__err` side column carries the
    * raw text that failed to parse (null on success). This is the ingest-
    * debugging answer to "why did this cell become null": the
    * `_corrupt_record` path in [[readJsonNullable]] covers whole records,
    * this covers individual cells.
    *
    * Parse semantics match [[readCsvNullable]]'s strict default: IEEE
    * sentinels ("NaN", "Infinity") on float/double columns are parse
    * FAILURES, as in the reference's golden fixture. All projections are
    * codegen'd expressions (try_cast + when), no per-cell UDF. */
  def readCsvWithCellErrors(
      spark: SparkSession, path: String, schema: StructType,
      header: Boolean = false, ieeeSpecials: Boolean = false): DataFrame = {
    val rawSchema = StructType(schema.fields.map(f =>
      org.apache.spark.sql.types.StructField(f.name, org.apache.spark.sql.types.StringType,
        nullable = true)))
    val raw = spark.read
      .schema(rawSchema)
      .option("mode", "PERMISSIVE")
      .option("header", header.toString)
      .csv(path)
    val cols = schema.fields.toIndexedSeq.flatMap { f =>
      f.dataType match {
        case org.apache.spark.sql.types.StringType => Seq(col(f.name))
        case dt =>
          val casted = col(f.name).try_cast(dt)
          val typed =
            if (!ieeeSpecials && (dt == DoubleType || dt == FloatType))
              when(isnan(casted) || casted === Double.PositiveInfinity ||
                casted === Double.NegativeInfinity, lit(null)).otherwise(casted)
            else casted
          Seq(typed.as(f.name),
            when(col(f.name).isNotNull && typed.isNull, col(f.name)).as(s"${f.name}__err"))
      }
    }
    raw.select(cols: _*)
  }

  def readParquet(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(path)

  /** JSON-lines with an explicit schema and the same null-tolerant stance
    * as [[readCsvNullable]]: PERMISSIVE mode nulls cells whose JSON type
    * doesn't match the schema, and whole-record garbage lands in
    * `_corrupt_record` instead of failing the job — at 100 TB a scrape
    * always contains malformed lines, and a fail-fast read is unusable.
    * Schema is REQUIRED: inference is a second full scan of the data.
    *
    * Caveat (SPARK-21610 class): Spark disallows queries whose required
    * schema is ONLY `_corrupt_record` (e.g. a `count()` after filtering
    * on it — pruning drops every data column). Callers that filter on
    * the corrupt column and then aggregate must keep a data column in
    * the projection or persist the parsed relation first (x35 does the
    * latter through [[graft.CacheRegistry]]). */
  def readJsonNullable(
      spark: SparkSession, path: String, schema: StructType,
      keepCorrupt: Boolean = false): DataFrame = {
    val withCorrupt = new StructType(
      (schema.fields.toIndexedSeq :+
        org.apache.spark.sql.types.StructField(
          "_corrupt_record", org.apache.spark.sql.types.StringType)).toArray)
    val parsed = spark.read
      .schema(if (keepCorrupt) withCorrupt else schema)
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .json(path)
    parsed
  }

  /** Partitioned parquet sink — the layout that makes downstream reads
    * prune partitions (`PartitionFilters` in the scan) at 100 TB. */
  def writePartitioned(
      df: DataFrame, path: String, partitionCols: Seq[String],
      mode: SaveMode = SaveMode.Overwrite): Unit = {
    val w = df.write.mode(mode)
    (if (partitionCols.nonEmpty) w.partitionBy(partitionCols: _*) else w).parquet(path)
  }

  /** Training-shard sink: the storage layout for
    * [[graft.pipeline.TrainingPrep.shuffleShard]] output. One parquet
    * partition directory per shard, rows physically ordered by `pos`
    * inside it — so a training reader maps one shard to one sequential
    * scan (no sort, no shuffle at read time) and partition pruning gives
    * it exactly its shard's files. `repartition(shard)` puts each shard
    * in one task before the sort, so files per shard = 1 (plus Spark's
    * task retry suffixing), not one per upstream partition. */
  def writeTrainingShards(
      df: DataFrame, path: String,
      shardCol: String = "shard", posCol: String = "pos",
      mode: SaveMode = SaveMode.Overwrite): Unit =
    df.repartition(col(shardCol))
      .sortWithinPartitions(col(shardCol), col(posCol))
      .write.mode(mode)
      .partitionBy(shardCol)
      .parquet(path)

  /** Small-file compaction: rewrite a parquet directory into
    * ~`targetFileBytes` files — the operational fix for the many-small-
    * files problem every incremental/streaming writer creates (each scan
    * task then reads one well-sized file instead of thousands of tiny
    * ones; the NameNode/listing side benefits equally). File count is
    * computed from the directory's actual on-disk bytes. Shrinking the
    * file count uses `coalesce` (narrow, no shuffle); growing it — the
    * oversized-file split case — needs `repartition`'s shuffle, since
    * coalesce cannot increase partition count (it would silently write
    * fewer files than reported). Coalesce is chosen only when the target
    * is no smaller than `spark.sql.files.maxPartitionBytes`: a read split
    * never holds more than that, so the scan then has at least as many
    * splits as files to write. Reads through [[readParquetMergeSchema]]
    * so a schema-evolved directory keeps its late-added columns through
    * the rewrite (a plain read takes one footer's schema and would DROP
    * them — and incrementally-written directories are exactly the ones
    * compaction targets). Partition-directory layouts are flattened by
    * the rewrite; compact partition-by-partition if the layout must
    * survive. Writes to `destPath` (compact-then-swap is the
    * transactional pattern; compacting in place would race readers).
    * Returns the file count written. */
  def compact(
      spark: SparkSession, srcPath: String, destPath: String,
      targetFileBytes: Long = 128L * 1024 * 1024): Int = {
    require(targetFileBytes > 0, "compact: targetFileBytes must be > 0")
    val conf = spark.sparkContext.hadoopConfiguration
    val src = new org.apache.hadoop.fs.Path(srcPath)
    val fs = src.getFileSystem(conf)
    val bytes = fs.getContentSummary(src).getLength
    val nFiles = math.max(1, math.ceil(bytes.toDouble / targetFileBytes).toInt)
    val df = readParquetMergeSchema(spark, srcPath)
    val sized =
      if (targetFileBytes >= spark.sessionState.conf.filesMaxPartitionBytes) df.coalesce(nFiles)
      else df.repartition(nFiles)
    sized.write.mode(SaveMode.Overwrite).parquet(destPath)
    nFiles
  }

  /** Schema-evolution read: union the schemas of all parquet files under
    * `path` (columns added over time come back null for files written
    * before them) — the read side of append-only schema evolution. Plain
    * `spark.read.parquet` takes one file's schema and silently DROPS
    * later columns; `mergeSchema` pays one footer-read per file to get
    * the union, which is why it is an explicit entry point here rather
    * than a global default. */
  def readParquetMergeSchema(spark: SparkSession, path: String): DataFrame =
    spark.read.option("mergeSchema", "true").parquet(path)

  /** ORC at rest — Spark's second first-class columnar format (the one a
    * Hive-era lake already holds): same predicate-pushdown and
    * column-pruning story as parquet (PlanSpec asserts PushedFilters on
    * the ORC scan), so a pipeline reading inherited ORC pays no plan
    * penalty next to parquet. Write face overwrites (compact-then-swap
    * callers decide placement). */
  def writeOrc(df: DataFrame, path: String): Unit =
    df.write.mode(SaveMode.Overwrite).orc(path)

  def readOrc(spark: SparkSession, path: String): DataFrame =
    spark.read.orc(path)

  /** Bucketed table sink: pre-shuffles by `bucketCols` so equi-joins and
    * aggregations on those keys skip their shuffle entirely (the
    * co-located-join strategy for repeated 100 TB joins). Requires a
    * table name (bucketing metadata lives in the catalog).
    *
    * File-count contract (r15): `bucketBy.saveAsTable` emits one file per
    * bucket PER WRITE TASK holding that bucket's rows, so a child whose
    * partitioning is unrelated to the bucket key fans out to up to
    * tasks × buckets files, multiplying every later registry scan's open
    * cost. The fix is CONDITIONAL (r14 measured an unconditional
    * `repartition(buckets, key)` at +1.3–2.6 s per registry gate): peek at
    * the child's physical output partitioning, and skip the exchange when
    * it is already hash on exactly the bucket columns (same order — the
    * bucket id is order-sensitive murmur3) with a partition count n where
    * buckets % n == 0 — then bucket = pmod(h, buckets) refines
    * task = pmod(h, n), every bucket lands whole inside one task, and the
    * write emits exactly `buckets` files with no extra exchange (the
    * 32-core registry-gate path, and the 8-core driver rerun: 32 % 8 == 0).
    * AQE coalescing merges whole reducer partitions, so it cannot split a
    * bucket across tasks once the shuffle key is aligned. */
  def writeBucketed(
      df: DataFrame, table: String, buckets: Int, bucketCols: Seq[String],
      mode: SaveMode = SaveMode.Overwrite): Unit = {
    import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
    val plan = df.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.executedPlan // initial plan only — nothing executes here
      case p => p
    }
    val resolver = df.sparkSession.sessionState.analyzer.resolver
    val attrs = bucketCols.map(c => plan.output.find(a => resolver(a.name, c)))
    val aligned = plan.outputPartitioning match {
      case h: HashPartitioning =>
        h.numPartitions > 0 && buckets % h.numPartitions == 0 &&
        h.expressions.length == attrs.length && attrs.forall(_.isDefined) &&
        h.expressions.zip(attrs).forall { case (e, a) => e.semanticEquals(a.get) }
      case _ => false
    }
    val toWrite =
      if (aligned) df
      else df.repartition(buckets, bucketCols.map(org.apache.spark.sql.functions.col): _*)
    toWrite.write.mode(mode)
      .bucketBy(buckets, bucketCols.head, bucketCols.tail: _*)
      .sortBy(bucketCols.head, bucketCols.tail: _*)
      .saveAsTable(table)
  }
}
