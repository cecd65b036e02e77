package graft.sources.v2

import java.io.File
import java.util.OptionalLong

import org.apache.spark.sql.connector.expressions.{Expressions, SortDirection, SortOrder}
import org.apache.spark.sql.connector.distributions.{Distribution, Distributions}
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReaderFactory, Scan, ScanBuilder, Statistics, SupportsPushDownFilters, SupportsPushDownRequiredColumns, SupportsReportStatistics}
import org.apache.spark.sql.connector.write.{BatchWrite, DataWriterFactory, LogicalWriteInfo, PhysicalWriteInfo, RequiresDistributionAndOrdering, RowLevelOperation, RowLevelOperationBuilder, RowLevelOperationInfo, Write, WriteBuilder, WriterCommitMessage}
import org.apache.spark.sql.sources.Filter
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** The row-level-operations tier of `graftshard`: copy-on-write
  * DELETE / UPDATE / MERGE for exactly the predicates the
  * metadata-only surfaces refuse ([[GraftShardTable.deleteWhere]]
  * admits only provably file-aligned deletes; everything else lands
  * here as a DISTRIBUTED rewrite, never a driver-side one).
  *
  * The group-based (Iceberg copy-on-write) contract with Spark:
  *
  *   1. Spark rewrites `DELETE FROM t WHERE p` into a `ReplaceData`
  *      plan: read the AFFECTED GROUPS through
  *      [[RowLevelOperation.newScanBuilder]], keep the rows that
  *      survive (`NOT p` — or the updated/merged rows for
  *      UPDATE/MERGE), and write them back through
  *      [[RowLevelOperation.newWriteBuilder]].
  *   2. The condition is pushed to the scan for GROUP SELECTION ONLY:
  *      the scan must return EVERY row of every candidate file (a
  *      row-level filter here would delete non-matching rows of
  *      matched files when the write replaces them wholesale), so
  *      [[GraftShardCowScanBuilder.pushFilters]] uses the predicates
  *      for manifest-stats file skipping and reports them ALL as
  *      residual — Spark keeps its own Filter above the scan.
  *   3. The write's commit swaps files atomically: manifest files
  *      minus the SCANNED candidates plus the rewritten ones. The
  *      scanned set is the coordination point between the two halves,
  *      carried on this shared operation object (the scan records it
  *      when built, the commit consumes it) — the same shape Iceberg
  *      uses between `SparkCopyOnWriteScan` and its `RewriteFiles`.
  *
  * Why this scales: candidate selection is manifest-stats file
  * skipping (a `DELETE WHERE id = x` on a sorted/keyed 100 TB table
  * rewrites one file, not the corpus), the rewrite itself is an
  * ordinary distributed write of only the affected files' rows, and
  * untouched files are never opened, moved, or re-written — their
  * manifest entries (stats included) carry over byte-identical.
  *
  * Concurrency: the operation pins the manifest version it planned
  * against; a commit that finds the table at a different version
  * fails loudly (write-write conflict — the lake-standard answer)
  * rather than silently dropping a concurrent append's rows from the
  * rewrite. Orphaned rewrite output from a failed commit is invisible
  * (no manifest references it) and vacuum-reclaimable.
  *
  * Metadata-only deletes stay metadata-only: Spark's
  * `OptimizeMetadataOnlyDeleteFromTable` converts the rewrite back to
  * [[GraftShardTable.deleteWhere]] whenever `canDeleteWhere` proves
  * every file all-in-or-all-out, so this tier prices only the
  * predicates that genuinely need row rewrites.
  */
class GraftShardRowLevelBuilder(
    path: String,
    tableSchema: StructType,
    info: RowLevelOperationInfo)
    extends RowLevelOperationBuilder {
  override def build(): RowLevelOperation =
    new GraftShardRowLevelOperation(path, tableSchema, info.command)
}

class GraftShardRowLevelOperation(
    path: String,
    tableSchema: StructType,
    cmd: RowLevelOperation.Command)
    extends RowLevelOperation {

  /** Set by [[GraftShardCowScanBuilder.build]]: the manifest snapshot
    * the candidates were selected from, and their file names. Volatile
    * is formality — scan planning and commit both happen on the
    * driver. */
  @volatile private[v2] var configured: Option[(ShardFormat.Manifest, Seq[String])] = None

  override def command(): RowLevelOperation.Command = cmd

  override def description(): String =
    s"graftshard copy-on-write $cmd"

  /** `_shard_file` provenance is REQUIRED, not optional, and that is
    * load-bearing: Spark's group-based `ReplaceDataExec` applies its
    * row projection (which strips the internal `__row_operation`
    * column off the rewrite query) only on the with-metadata writing
    * path — with zero required metadata attributes the raw
    * `[__row_operation | row]` rows would reach the data writer and
    * be stored misaligned. Requiring the file column routes every
    * rewrite through `DataAndMetadataWritingSparkTask`, whose
    * `DataWriter.write(meta, row)` default hands the writer exactly
    * the projected data row. (Iceberg's copy-on-write operation
    * requires `_file` for the same reason.) */
  override def requiredMetadataAttributes()
      : Array[org.apache.spark.sql.connector.expressions.NamedReference] =
    Array(Expressions.column("_shard_file"))

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new GraftShardCowScanBuilder(this, path, tableSchema, options)

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new WriteBuilder {
      override def build(): Write = {
        val schema = info.schema()
        schema.fields.foreach { f =>
          require(ShardFormat.supported(f.dataType),
            s"graftshard: unsupported column type ${f.dataType.sql} for '${f.name}'")
        }
        val manifest = ShardFormat.readManifest(path)
        val spec = manifest.flatMap(_.partitioning)
        val sorted = manifest.flatMap(_.sortedBy)
        val maxOpen =
          Option(info.options.get("maxOpenWriters")).map(_.toInt).getOrElse(64)
        (spec, sorted) match {
          // sorted keyed/bucketed tables: declare the same distribution
          // + ordering as the original sorted write, so the rewrite
          // PRESERVES the zero-exchange-zero-sort layout instead of
          // degrading it (bucket transforms resolve through the table
          // catalog's FunctionCatalog — row-level ops are always
          // catalog-faced, so that is always available here)
          case (Some(sp), Some(s)) if schema.fieldNames.contains(s) =>
            new GraftShardCowWrite(GraftShardRowLevelOperation.this, path,
              schema, spec, Some(s), maxOpen) with RequiresDistributionAndOrdering {
              override def requiredDistribution(): Distribution =
                Distributions.clustered(Array(GraftShardTable.transformOf(sp)))
              override def requiredOrdering(): Array[SortOrder] = Array(
                Expressions.sort(GraftShardTable.transformOf(sp), SortDirection.ASCENDING),
                Expressions.sort(Expressions.column(s), SortDirection.ASCENDING))
            }
          case _ =>
            new GraftShardCowWrite(GraftShardRowLevelOperation.this, path,
              schema, spec, None, maxOpen)
        }
      }
    }
}

/** Candidate selection for the copy-on-write rewrite. The pushed
  * predicates prune FILES from manifest stats ([[ShardFilters
  * .mayContain]]); none are evaluated row-level (see the class note on
  * [[GraftShardRowLevelOperation]] — returning them as residual is
  * what keeps Spark's own row filter in the plan). */
class GraftShardCowScanBuilder(
    op: GraftShardRowLevelOperation,
    path: String,
    fullSchema: StructType,
    options: CaseInsensitiveStringMap)
    extends ScanBuilder with SupportsPushDownFilters
    with SupportsPushDownRequiredColumns {

  // ONE manifest read for the whole operation: candidates, conflict
  // pin, and the untouched-file carryover all come from this snapshot
  private val manifest: ShardFormat.Manifest =
    ShardFormat.readManifest(path).getOrElse(
      ShardFormat.Manifest(fullSchema, "", Nil))

  private var required: StructType = fullSchema
  private var candidates: Array[Filter] = Array.empty

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    candidates = filters.filter(ShardFilters.pushable(_, fullSchema))
    filters // ALL residual: group selection only, never row filtering
  }
  // reported as "pushed" for plan display; semantically these are
  // group filters (the residual above keeps row semantics with Spark)
  override def pushedFilters(): Array[Filter] = candidates

  override def build(): Scan = {
    val selected = manifest.files.filter(fe =>
      candidates.forall(ShardFilters.mayContain(_, fe)))
    op.configured = Some((manifest, selected.map(_.name)))
    val targetBytes = Option(options.get("targetPartitionBytes"))
      .map(_.toLong).getOrElse(128L * 1024 * 1024)
    new GraftShardCowScan(path, fullSchema, required, selected, candidates, targetBytes,
      manifest.resolution)
  }
}

class GraftShardCowScan(
    path: String,
    fullSchema: StructType,
    required: StructType,
    selected: Seq[ShardFormat.FileEntry],
    candidates: Array[Filter],
    targetBytes: Long,
    resolve: ShardFormat.ColumnResolution = ShardFormat.ColumnResolution.empty)
    extends Scan with Batch with SupportsReportStatistics {

  override def readSchema(): StructType = required
  override def toBatch: Batch = this

  override def description(): String =
    s"graftshard copy-on-write files=${selected.size} " +
      s"candidates=[${candidates.map(_.toString).sorted.mkString(", ")}]"

  override def estimateStatistics(): Statistics = new Statistics {
    override def sizeInBytes(): OptionalLong =
      OptionalLong.of(selected.map(_.bytes).sum)
    override def numRows(): OptionalLong =
      OptionalLong.of(selected.map(_.rows).sum)
  }

  override def planInputPartitions(): Array[InputPartition] =
    GraftShardScan.binPack(path, selected.map(ShardFormat.leanOf), targetBytes)

  // no pushed row filters: the reader must emit every row of every
  // candidate file (the write replaces those files wholesale)
  override def createReaderFactory(): PartitionReaderFactory =
    new GraftShardReaderFactory(fullSchema, required, Array.empty, resolve = resolve)
}

/** The rewrite's write half: an ordinary distributed shard write whose
  * COMMIT removes exactly the scanned candidate files and adds the
  * rewritten ones — untouched manifest entries carry over verbatim. */
class GraftShardCowWrite(
    op: GraftShardRowLevelOperation,
    path: String,
    schema: StructType,
    spec: Option[ShardFormat.PartSpec],
    sortCol: Option[String],
    maxOpenWriters: Int)
    extends Write with BatchWrite {

  override def toBatch: BatchWrite = this

  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory = {
    new File(path).mkdirs()
    // rewritten files keep the table's recorded compression — a DELETE
    // must not decay a deflate table's rewritten shards to raw — and
    // its bloom property (rewritten files regenerate their sidecars)
    val m = ShardFormat.readManifest(path)
    val codec = m.flatMap(_.compression).getOrElse("none")
    new GraftShardWriterFactory(path, schema, spec, maxOpenWriters, codec,
      ShardFormat.writeFieldIds(m, schema),
      m.map(_.bloomColumns).getOrElse(Nil),
      ndvCols = m.map(_.ndvColumns).getOrElse(Nil))
  }

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val committed = ShardFormat.dropEmpty(path,
      messages.toSeq.collect { case m: ShardCommitMessage => m.files }.flatten)
    val (pinned, scanned) = op.configured.getOrElse(
      throw new IllegalStateException(
        "graftshard: row-level commit without a configured scan — the " +
          "copy-on-write write cannot know which files it replaces"))
    ShardFormat.withCommitLock(path) {
    // write-write conflict detection: fail loudly — the lake answer
    val current = ShardFormat.readPinned(path, pinned, "row-level", "rewrite")
    val scannedSet = scanned.toSet
    val kept = current.files.filterNot(fe => scannedSet.contains(fe.name))
    // sortedBy survives when this rewrite declared the same ordering
    // (sortCol set) or added no files; an unsorted rewrite that adds
    // files honestly degrades the flag, like the append path
    val sortedBy: Option[String] =
      if (committed.isEmpty) current.sortedBy
      else sortCol.filter(current.sortedBy.contains)
    // scanned entries vanish mid-list: streaming prefix offsets die
    ShardFormat.commitNext(path, current,
      current.copy(files = kept ++ committed, sortedBy = sortedBy),
      "cow", freshGeneration = true)
    }
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit =
    messages.foreach {
      case m: ShardCommitMessage =>
        m.files.foreach(fe => ShardFormat.discard(path, fe.name))
      case _ => ()
    }
}
