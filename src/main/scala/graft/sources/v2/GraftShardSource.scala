package graft.sources.v2

import java.io.File
import java.util.OptionalLong

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.connector.catalog.{SupportsRead, SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.{Expression => V2Expression, Expressions, NamedReference, NullOrdering, SortDirection, SortOrder, Transform}
import org.apache.spark.sql.connector.expressions.aggregate.{Aggregation, Count, CountStar, Max, Min, Sum}
import org.apache.spark.sql.connector.metric.{CustomMetric, CustomSumMetric, CustomTaskMetric}
import org.apache.spark.sql.connector.read.colstats
import org.apache.spark.sql.connector.read.{Batch, HasPartitionKey, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder, Statistics, SupportsPushDownAggregates, SupportsPushDownFilters, SupportsPushDownLimit, SupportsPushDownRequiredColumns, SupportsPushDownTopN, SupportsReportOrdering, SupportsReportPartitioning, SupportsReportStatistics, SupportsRuntimeFiltering}
import org.apache.spark.sql.connector.read.partitioning.{KeyGroupedPartitioning, Partitioning, UnknownPartitioning}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset}
import org.apache.spark.sql.execution.vectorized.{Dictionary, OnHeapColumnVector, WritableColumnVector}
import org.apache.spark.sql.vectorized.{ColumnVector, ColumnarBatch}
import org.apache.spark.sql.connector.write.{LogicalWriteInfo, WriteBuilder}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types.{ArrayType, BinaryType, BooleanType, DataType, DateType, Decimal, DecimalType, DoubleType, FloatType, IntegerType, LongType, StringType, StructField, StructType, TimestampNTZType, TimestampType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** `graftshard` — a complete DataSourceV2 connector over the manifest
  * + binary-shard layout of [[ShardFormat]]: the §2.6 sources tier
  * taken to the full V2 surface instead of another format option on
  * the built-in readers.
  *
  * What it exercises, and why each matters at 100 TB:
  *   - `TableProvider` + `DataSourceRegister`: `spark.read.format
  *     ("graftshard").load(dir)` / `df.write.format("graftshard")
  *     .mode(...).save(dir)` with schema inference from the manifest
  *     (one driver-side read — never a file-listing + footer crawl).
  *   - `SupportsPushDownRequiredColumns`: the reader decodes only the
  *     columns the query needs (row-oriented shards: pruning saves
  *     decode + row width; the IO win is the next bullet — the
  *     scaladoc is honest about which is which).
  *   - `SupportsPushDownFilters`: comparison/null/IN/prefix predicates
  *     on integral, string and boolean columns are absorbed by the
  *     source. Integral AND string ones additionally prune WHOLE FILES
  *     from the manifest's min/max/null-count stats at planning time —
  *     zero file opens, the Iceberg/Delta data-skipping idea. String
  *     bounds are EXACT but cap-bounded per file (one value over
  *     [[ShardFormat.StrStatsMaxBytes]] drops that file's bounds —
  *     conservative, never wrong; the skipping currency is short
  *     low-cardinality keys: lang, source, category). Floating
  *     predicates are left to Spark (NaN ordering; see
  *     [[ShardFormat.statsEligible]]).
  *   - `SupportsReportStatistics`: post-pushdown size estimate from
  *     the surviving manifest entries, so Catalyst/AQE can pick
  *     broadcast sides from skipping-aware numbers, not raw dir size.
  *   - Bin-packed `InputPartition`s: surviving files are greedily
  *     packed to `targetPartitionBytes` (default 128 MiB), so 100k
  *     small shards do not become 100k tasks.
  *   - Speculation-safe V2 write with atomic manifest commit
  *     ([[GraftShardWriteBuilder]]).
  *
  * Pushed-filter semantics: the source evaluates pushed predicates
  * row-level (SQL three-valued logic — null comparisons drop the row)
  * and returns them as fully handled, so the Filter node above the
  * scan disappears for absorbed predicates (PlanSpec pins this; the
  * residual, e.g. a double comparison, stays above the scan).
  */
class GraftShardSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "graftshard"
  override def supportsExternalMetadata(): Boolean = true

  private def path(options: CaseInsensitiveStringMap): String = {
    val p = options.get("path")
    require(p != null && p.nonEmpty, "graftshard: a path is required")
    p
  }

  /** `option("versionAsOf", n)` pins the read to snapshot n — the
    * path-based half of time travel ([[GraftCatalog.loadTable]] with a
    * version/timestamp is the SQL half). */
  private def pinnedFor(p: String, versionAsOf: Option[String]): Option[ShardFormat.Manifest] =
    versionAsOf.map { v =>
      ShardFormat.readManifestVersion(p, v.toLong).getOrElse(
        throw new IllegalArgumentException(
          s"graftshard: no snapshot v$v under '$p' — available: " +
            s"${ShardFormat.listVersions(p).mkString(", ")}"))
    }

  /** `option("branch", name)` pins the read to a STAGED (write-audit-
    * publish) branch — the audit face. Mutually exclusive with time
    * travel; read-only like any pinned manifest. */
  private def branchFor(p: String, branch: Option[String]): Option[ShardFormat.Manifest] =
    branch.map { b =>
      ShardFormat.readBranch(p, b).getOrElse(
        throw new IllegalArgumentException(
          s"graftshard: no staged branch '$b' under '$p' — available: " +
            s"${ShardFormat.listBranches(p).mkString(", ")}"))
    }

  private def pinnedOrBranch(p: String, opts: CaseInsensitiveStringMap)
      : Option[ShardFormat.Manifest] = {
    val v = Option(opts.get("versionAsOf"))
    val b = Option(opts.get("branch"))
    require(v.isEmpty || b.isEmpty,
      "graftshard: branch and versionAsOf are mutually exclusive")
    branchFor(p, b).orElse(pinnedFor(p, v))
  }

  /** `option("changesFrom", v1).option("changesTo", v2)`: the change
    * data feed over `(v1, v2]` ([[GraftShardChanges]]). `changesTo`
    * defaults to the current version when only `changesFrom` is set.
    * `option("changesFromTimestamp", epochMs)` is the wall-clock start:
    * resolved to the newest committed version at or before the instant
    * ([[GraftShardChanges.resolveTimestamp]] — the `createdAtMs` anchor
    * TIMESTAMP AS OF already uses), mutually exclusive with
    * `changesFrom`. */
  private def changeRange(
      options: CaseInsensitiveStringMap, p: String): Option[(Long, Long, Boolean)] = {
    val fromTs = Option(options.get("changesFromTimestamp"))
    val fromV = Option(options.get("changesFrom"))
    require(fromTs.isEmpty || fromV.isEmpty,
      "graftshard: changesFrom and changesFromTimestamp are mutually exclusive")
    fromV.map(_.toLong)
      .orElse(fromTs.map(t => GraftShardChanges.resolveTimestamp(p, t.toLong)))
      .map { f =>
        val explicit = Option(options.get("changesTo")).map(_.toLong)
        val to = explicit.getOrElse(
          ShardFormat.readManifest(p).map(_.version).getOrElse(0L))
        (f, to, explicit.isDefined)
      }
  }

  override def inferSchema(options: CaseInsensitiveStringMap): StructType = {
    val p = path(options)
    changeRange(options, p) match {
      case Some((f, t, ex)) => new GraftShardChangesTable(p, f, t, ex).schema()
      case None =>
        pinnedOrBranch(p, options)
          .orElse(ShardFormat.readManifest(p)).map(_.schema).getOrElse {
          throw new IllegalArgumentException(
            s"graftshard: no ${ShardFormat.ManifestName} under '$p' — " +
              "write the table first or supply a schema")
        }
    }
  }

  override def getTable(
      schema: StructType,
      partitioning: Array[Transform],
      properties: java.util.Map[String, String]): Table = {
    val opts = new CaseInsensitiveStringMap(properties)
    val p = opts.get("path")
    require(p != null && p.nonEmpty, "graftshard: a path is required")
    changeRange(opts, p) match {
      case Some((f, t, ex)) =>
        require(opts.get("versionAsOf") == null && opts.get("branch") == null,
          "graftshard: changesFrom/changesTo exclude versionAsOf and branch")
        new GraftShardChangesTable(p, f, t, ex)
      case None =>
        new GraftShardTable(p, schema, pinnedOrBranch(p, opts))
    }
  }
}

/** `pinned`: a time-travel snapshot — the table exactly as committed at
  * that manifest version. Read-only: writes, deletes, and streaming
  * against a snapshot are refused (a snapshot is history, not a branch). */
class GraftShardTable(
    path: String,
    tableSchema: StructType,
    pinned: Option[ShardFormat.Manifest] = None)
    extends Table with SupportsRead with SupportsWrite
    with org.apache.spark.sql.connector.catalog.SupportsMetadataColumns
    with org.apache.spark.sql.connector.catalog.SupportsDelete
    with org.apache.spark.sql.connector.catalog.SupportsRowLevelOperations {
  override def name(): String =
    s"graftshard.`$path`" + pinned.map(m => s"@v${m.version}").getOrElse("")
  override def schema(): StructType = tableSchema

  /** The manifest's recorded config surfaced to SQL (`SHOW
    * TBLPROPERTIES` / `DESCRIBE TABLE EXTENDED`): read fresh per call
    * so property-recording writes and ALTERs show up on a live
    * handle; a time-travel snapshot reports ITS OWN commit's state. */
  override def properties(): java.util.Map[String, String] = {
    val props = new java.util.HashMap[String, String]()
    pinned.orElse(ShardFormat.readManifest(path)).foreach { m =>
      m.compression.foreach(props.put("compression", _))
      if (m.bloomColumns.nonEmpty)
        props.put("bloomColumns", m.bloomColumns.mkString(","))
      if (m.ndvColumns.nonEmpty)
        props.put("ndvColumns", m.ndvColumns.mkString(","))
      val branches = ShardFormat.listBranches(path)
      if (branches.nonEmpty) props.put("stagedBranches", branches.mkString(","))
      m.sortedBy.foreach(props.put("sortWithinShards", _))
      m.zorderBy.foreach { case (a, b) => props.put("zorderBy", s"$a,$b"): Unit }
      props.put("manifestVersion", m.version.toString)
      props.put("generation", m.generation)
      props.put("files", m.files.size.toString)
      if (m.pagedSegments.nonEmpty)
        props.put("manifestSegments", m.pagedSegments.size.toString)
      if (m.equalityDeletes.nonEmpty)
        props.put("equalityDeletes",
          s"${m.equalityDeletes.size} (${m.equalityDeletes.map(_.count).sum} keys)")
    }
    props
  }

  /** Metadata-only DELETE (the Iceberg shape): a delete is accepted iff
    * every manifest file is PROVABLY all-match (dropped) or no-match
    * (kept) under the predicate — decided from per-file stats, zero
    * file reads, atomic manifest swap. Partition-aligned deletes
    * (`WHERE key = v` on a keyed table, `WHERE id < split` on a
    * range-written one) always qualify: one file = one key. Anything
    * needing a row rewrite is REFUSED with Spark's standard error
    * rather than half-implemented driver-side — a 100 TB rewrite is a
    * distributed job (the row-level-operations tier), not a metadata
    * edit. Dropped files become vacuum-reclaimable garbage; the
    * generation bump invalidates streaming prefix offsets LOUDLY
    * (entries vanished mid-list — prefix indices would lie). */
  private def deletableUnder(m: ShardFormat.Manifest, filters: Array[Filter]): Boolean =
    filters.forall(ShardFilters.decidable(_, m.schema)) &&
      m.files.forall(ShardFilters.provablyAllInOrAllOut(filters, _))

  override def canDeleteWhere(filters: Array[Filter]): Boolean =
    pinned.isEmpty && ShardFormat.readManifest(path).exists(deletableUnder(_, filters))

  override def deleteWhere(filters: Array[Filter]): Unit =
    ShardFormat.withCommitLock(path) {
    // ONE manifest read: validate and edit the SAME snapshot — a
    // re-read after validation could admit a file appended in between
    // without proving it, a silent partial delete
    val m = (if (pinned.isEmpty) ShardFormat.readManifest(path) else None)
      .filter(deletableUnder(_, filters)).getOrElse(
        throw new IllegalArgumentException(
          s"graftshard: DELETE not provable from file stats at '$path' — only " +
            "deletes where every shard file is entirely in or entirely out " +
            "(partition-aligned predicates) are supported"))
    val kept = m.files.filterNot(fe => filters.forall(ShardFilters.mustMatchAll(_, fe)))
    ShardFormat.commitNext(path, m, m.copy(files = kept), "delete-metadata",
      freshGeneration = true)
    }

  /** Row provenance without a stored column: `SELECT _shard_file, ...`
    * surfaces which manifest entry produced each row — the lineage /
    * debugging handle a 100 TB corpus needs when one shard's rows look
    * wrong (follow up with stats from the manifest, re-read just that
    * file). Served by the reader from the file it is decoding; pruned
    * away like any column when unreferenced. */
  override def metadataColumns(): Array[org.apache.spark.sql.connector.catalog.MetadataColumn] =
    Array(
      new org.apache.spark.sql.connector.catalog.MetadataColumn {
        override def name(): String = "_shard_file"
        override def dataType(): DataType = StringType
        override def isNullable: Boolean = false
        override def comment(): String = "manifest-relative shard file name this row came from"
      },
      // PHYSICAL row ordinal within its shard file (counts rows the
      // reader skipped via filters or delete vectors too) — with
      // _shard_file this is the stable row id the merge-on-read delta
      // tier keys its delete vectors on
      new org.apache.spark.sql.connector.catalog.MetadataColumn {
        override def name(): String = "_pos"
        override def dataType(): DataType = LongType
        override def isNullable: Boolean = false
        override def comment(): String = "physical row ordinal within the shard file"
      })
  override def capabilities(): java.util.Set[TableCapability] =
    Set(TableCapability.BATCH_READ, TableCapability.BATCH_WRITE,
      TableCapability.TRUNCATE, TableCapability.OVERWRITE_BY_FILTER,
      TableCapability.OVERWRITE_DYNAMIC,
      TableCapability.MICRO_BATCH_READ, TableCapability.STREAMING_WRITE).asJava

  /** Key-partitioned tables surface their layout as an identity or
    * bucket transform — the catalog-level half of the
    * storage-partitioned-join contract (the scan's
    * [[KeyGroupedPartitioning]] is the other). A pinned snapshot
    * reports ITS layout, not the live table's (the current manifest may
    * have been re-keyed since). */
  override def partitioning(): Array[Transform] =
    pinned.map(_.partitioning)
      .getOrElse(ShardFormat.readManifest(path).flatMap(_.partitioning))
      .map(sp => Array(GraftShardTable.transformOf(sp))).getOrElse(Array.empty)

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new GraftShardScanBuilder(path, tableSchema, options, pinned)

  /** Copy-on-write DELETE / UPDATE / MERGE — the distributed-rewrite
    * tier for predicates [[deleteWhere]]'s provability rule refuses
    * ([[GraftShardRowLevelOperation]]). Metadata-only deletes still
    * short-circuit through [[canDeleteWhere]] (Spark's
    * OptimizeMetadataOnlyDeleteFromTable), so a provable DELETE never
    * pays a rewrite. */
  override def newRowLevelOperationBuilder(
      info: org.apache.spark.sql.connector.write.RowLevelOperationInfo)
      : org.apache.spark.sql.connector.write.RowLevelOperationBuilder = {
    require(pinned.isEmpty,
      s"graftshard: cannot ${info.command} a time-travel snapshot ${name()} — " +
        "snapshots are read-only history; operate on the current table")
    // the row-level tiers rewrite/ordinal-address PHYSICAL rows; with
    // live equality deletes a copy-on-write rewrite would resurrect
    // upserted-away rows (its writer factory knows nothing of them) —
    // refuse with the remedy rather than integrate a third tier badly
    require(ShardFormat.readManifest(path).forall(_.equalityDeletes.isEmpty),
      s"graftshard: cannot ${info.command} while equality deletes (upsert " +
        "commits) are live on this table — run GraftShardMaintenance.compact " +
        "(or CALL <catalog>.system.compact) to apply them first")
    // rewrite strategy: copy-on-write (default — rewrite candidate
    // files; zero read-side tax) vs merge-on-read (delete-vector
    // sidecars; KB-sized commits on TB-sized files, read-side skip tax
    // until compaction purges). Session-selectable, the Iceberg
    // write.delete.mode idea
    val mode = org.apache.spark.sql.internal.SQLConf.get
      .getConfString("spark.graftshard.rowLevel.mode", "copy-on-write")
    mode match {
      case "copy-on-write" => new GraftShardRowLevelBuilder(path, tableSchema, info)
      case "merge-on-read" =>
        () => new GraftShardDeltaOperation(path, tableSchema, info.command)
      case other => throw new IllegalArgumentException(
        s"graftshard: unknown spark.graftshard.rowLevel.mode '$other' — " +
          "use copy-on-write or merge-on-read")
    }
  }

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
    require(pinned.isEmpty,
      s"graftshard: cannot write to time-travel snapshot ${name()} — " +
        "snapshots are read-only history; write to the current table")
    new GraftShardWriteBuilder(path, info)
  }
}

object GraftShardTable {
  def transformOf(sp: ShardFormat.PartSpec): Transform = sp match {
    case ShardFormat.IdentityPart(c) => Expressions.identity(c)
    case ShardFormat.BucketPart(n, c) => Expressions.bucket(n, c)
    // Spark's own V2 time transforms: the write distribution clusters
    // by them and the scan's KeyGroupedPartitioning reports them, so
    // co-transformed tables storage-partition-join with zero shuffle
    case ShardFormat.TransformPart("hours", c) => Expressions.hours(c)
    case ShardFormat.TransformPart("days", c) => Expressions.days(c)
    case ShardFormat.TransformPart("months", c) => Expressions.months(c)
    case ShardFormat.TransformPart("years", c) => Expressions.years(c)
    case ShardFormat.TransformPart(u, _) => throw new IllegalStateException(
      s"graftshard: unknown transform unit '$u'")
  }
}

/** The manifest-answered aggregate: output schema (group column first,
  * then one field per aggregate function — the order
  * `V2ScanRelationPushDown` zips the scan output against), the
  * precomputed result rows, and a human-readable tag for the plan. */
final case class ShardAggResult(
    schema: StructType,
    rows: Seq[Array[Any]],
    description: String)

class GraftShardScanBuilder(
    path: String,
    fullSchema: StructType,
    options: CaseInsensitiveStringMap,
    pinned: Option[ShardFormat.Manifest] = None)
    extends ScanBuilder with SupportsPushDownFilters
    with SupportsPushDownRequiredColumns with SupportsPushDownAggregates
    with SupportsPushDownLimit with SupportsPushDownTopN {

  private var required: StructType = fullSchema
  private var pushed: Array[Filter] = Array.empty
  private var agg: Option[ShardAggResult] = None
  private var limit: Option[Int] = None
  private var topN: Option[TopNPush] = None

  /** LIMIT n stops the scan early: each partition reader emits at most
    * n rows, and — when no row-level filter was absorbed, so manifest
    * row counts are exact — the PLANNED FILE LIST is cut to the fewest
    * files whose rows cover n. At 100 TB that is `LIMIT 10` planning
    * one shard instead of 100k. Always PARTIALLY pushed: per-partition
    * caps can still sum past n, Spark's own Limit does the final cut. */
  override def pushLimit(l: Int): Boolean = { limit = Some(l); true }
  override def isPartiallyPushed(): Boolean = true

  /** `ORDER BY col LIMIT k` as a FILE CUT from manifest bounds (always
    * PARTIAL — Spark's TakeOrderedAndProject still runs, so the cut
    * only has to preserve a superset of the top k): choose the fewest
    * files whose guaranteed live rows cover k when ordered by their
    * trailing bound; every file whose leading bound sorts strictly
    * after that threshold provably holds no top-k row and is never
    * opened. At 100 TB this is `WHERE lang = 'en' ORDER BY ts DESC
    * LIMIT 100` planning a handful of time-clustered shards instead of
    * all of them. Sound only from EXACT per-file bounds with exact row
    * counts: absorbed row filters (static and runtime/DPP) gate which
    * files may COUNT toward the prefix — only provably-all-match ones
    * (see [[GraftShardScan]]'s cut) — and live equality deletes refuse
    * outright (which rows they kill is not knowable from the
    * manifest); merge-on-read vectors are priced conservatively
    * (`deletedRows` debits both the null and the value side); files
    * without a bound claim (untracked, or a string bound dropped by
    * the byte cap) are always kept. */
  override def pushTopN(orders: Array[SortOrder], l: Int): Boolean = {
    if (orders.isEmpty || manifest.equalityDeletes.nonEmpty)
      return false
    // multi-column orders cut on the LEADING column alone, which is
    // sound under lexicographic order: every counted row has lead-col
    // value at-or-before the threshold, so a row strictly past it sorts
    // after all k of them REGARDLESS of tiebreak columns — and the push
    // is partial, so Spark's full multi-column sort still runs
    val o = orders(0)
    val col = o.expression() match {
      case r: NamedReference if r.fieldNames.length == 1 => r.fieldNames()(0)
      case _ => return false
    }
    fullSchema.fields.find(_.name == col).map(_.dataType) match {
      case Some(dt) if ShardFormat.statsEligible(dt) || dt == StringType =>
        topN = Some(TopNPush(col, dt == StringType,
          o.direction() == SortDirection.DESCENDING,
          o.nullOrdering() == NullOrdering.NULLS_FIRST, l))
        true
      case _ => false
    }
  }

  // lazy on purpose: forced at build()/pushTopN/pushAggregation time,
  // AFTER pushFilters ran (the DSv2 pushdown order), so a filtered scan
  // loads only the manifest segments whose root-resident stat rollups
  // can intersect the predicates — plan-time driver memory O(matching
  // segments), not O(table). Time travel (pinned) and filterless scans
  // read in full; the pruned manifest feeds ONLY this scan, never a
  // commit (see ShardFormat.readManifestForScan).
  private lazy val manifest: ShardFormat.Manifest =
    pinned.orElse {
      if (pushed.isEmpty) ShardFormat.readManifest(path)
      else ShardFormat.readManifestForScan(path,
        rollup => pushed.forall(ShardFilters.mayContain(_, rollup)))
    }.getOrElse(ShardFormat.Manifest(fullSchema, "", Nil))

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    val (sup, residual) = filters.partition(ShardFilters.pushable(_, fullSchema))
    // decimal literals rewrite into unscaled-long space ONCE, here —
    // stats proofs, blooms, group skipping and the compiled evaluators
    // all see plain longs downstream
    pushed = sup.map(ShardFilters.normalizeDecimals(_, fullSchema))
    residual
  }
  override def pushedFilters(): Array[Filter] = pushed

  /** COUNT(*) / COUNT(col) / MIN(col) / MAX(col) over integral columns
    * — optionally grouped by the table's partition column — are
    * answered ENTIRELY from the manifest: zero shard files opened, the
    * Iceberg `count(*)`-from-metadata idea. Sound only when the source
    * absorbed no row-level filter (manifest stats are per-file totals;
    * a pushed predicate would make them overcounts), when every file
    * tracks the column (stats or all-null entry — min/max/null-count
    * coverage), and with exact per-group answers only when each file
    * belongs to one group (the keyed-write invariant). Complete
    * pushdown: Spark plans a Project over these rows, no re-agg. */
  // supportCompletePushDown then pushAggregation arrive back to back
  // with the same Aggregation — compute the manifest fold once, not
  // twice (O(files) driver work each at the ~1M-entry ceiling)
  private var lastComputed: Option[(Aggregation, Option[ShardAggResult])] = None
  private def computedFor(a: Aggregation): Option[ShardAggResult] =
    lastComputed match {
      case Some((prev, r)) if prev eq a => r
      case _ =>
        val r = computeAggregation(a)
        lastComputed = Some((a, r))
        r
    }

  override def supportCompletePushDown(aggregation: Aggregation): Boolean =
    computedFor(aggregation).isDefined

  override def pushAggregation(aggregation: Aggregation): Boolean = {
    agg = computedFor(aggregation)
    agg.isDefined
  }

  private def columnName(e: V2Expression): Option[String] = e match {
    case r: NamedReference if r.fieldNames.length == 1 => Some(r.fieldNames()(0))
    case _ => None
  }

  private def computeAggregation(a: Aggregation): Option[ShardAggResult] = {
    if (pushed.nonEmpty) return None
    val m = manifest
    // merge-on-read deletes: manifest rows/stats are PHYSICAL and would
    // overcount — refused, EXCEPT for pure COUNT(*) shapes, where the
    // live count is exactly rows − deletedRows per file (the vector's
    // cardinality is manifest-recorded; same arithmetic the numRows
    // statistic already reports). MIN/MAX/SUM/COUNT(col) stay refused: a
    // deleted row may be the extremum / a null, unknowable without the
    // vector. Equality deletes refuse everything — which OLDER rows a
    // key set kills is not knowable from the manifest at all.
    if (m.equalityDeletes.nonEmpty) return None
    if (m.files.exists(_.deletes.isDefined) &&
        !a.aggregateExpressions().forall(_.isInstanceOf[CountStar])) return None
    def colType(c: String): Option[DataType] =
      m.schema.fields.find(_.name == c).map(_.dataType)
    def integral(c: String): Boolean =
      colType(c).exists(dt => dt == LongType || dt == IntegerType ||
        dt == TimestampType || dt == TimestampNTZType || dt == DateType)
    def tracked(c: String): Boolean =
      m.files.forall(fe => fe.stats.contains(c) || fe.allNull.contains(c))
    // string bounds are conditional (byte cap): EVERY file must carry
    // them (or be all-null) or the pushdown refuses
    def strTracked(c: String): Boolean =
      colType(c).contains(StringType) &&
        m.files.forall(fe => fe.strStats.contains(c) || fe.allNull.contains(c))
    def box(dt: DataType, v: Long): Any =
      // timestamps answer as micros longs — InternalRow's own currency
      if (ShardFormat.physicalOf(dt) == LongType) Long.box(v) else Int.box(v.toInt)

    val groupCol: Option[Option[String]] = a.groupByExpressions() match {
      case Array() => Some(None)
      case Array(e) =>
        columnName(e).filter(c =>
          m.partitionColumn.contains(c) && m.files.forall(_.partition.isDefined))
          .map(c => Some(c))
      case _ => None
    }

    def minMax(col: Option[String], isMin: Boolean)
        : Option[(StructField, Seq[ShardFormat.FileEntry] => Any)] =
      col.filter(c => integral(c) && tracked(c)).map { c =>
        val dt = colType(c).get
        (StructField(s"${if (isMin) "min" else "max"}($c)", dt, nullable = true),
          (fes: Seq[ShardFormat.FileEntry]) => {
            val vals = fes.flatMap(_.stats.get(c)).map(s => if (isMin) s._1 else s._2)
            if (vals.isEmpty) null else box(dt, if (isMin) vals.min else vals.max)
          })
      }.orElse(col.flatMap(c =>
        colType(c).collect { case d: DecimalType if d.precision <= 18 => d }
          .filter(_ => tracked(c)).map { dt =>
        // decimal bounds are the unscaled longs; the answer re-wraps
        // them in catalyst's Decimal at the column's own (p, s)
        (StructField(s"${if (isMin) "min" else "max"}($c)", dt, nullable = true),
          (fes: Seq[ShardFormat.FileEntry]) => {
            val vals = fes.flatMap(_.stats.get(c)).map(s => if (isMin) s._1 else s._2)
            if (vals.isEmpty) null
            else Decimal(if (isMin) vals.min else vals.max, dt.precision, dt.scale)
          })
      })).orElse(col.filter(strTracked).map { c =>
        // string bounds are exact when present, so MIN/MAX fold from the
        // manifest; combined in UTF8String byte order (the engine's),
        // never JVM String order (UTF-16 code units diverge past BMP)
        (StructField(s"${if (isMin) "min" else "max"}($c)", StringType, nullable = true),
          (fes: Seq[ShardFormat.FileEntry]) => {
            val vals = fes.flatMap(_.strStats.get(c))
              .map(s => UTF8String.fromString(if (isMin) s._1 else s._2))
            if (vals.isEmpty) null
            else vals.reduce((a, b) =>
              if (isMin == (a.compareTo(b) <= 0)) a else b)
          })
      })

    val funcs: Seq[Option[(StructField, Seq[ShardFormat.FileEntry] => Any)]] =
      a.aggregateExpressions().toSeq.map {
        case _: CountStar => Some(
          (StructField("count(*)", LongType, nullable = false),
            (fes: Seq[ShardFormat.FileEntry]) =>
              Long.box(fes.map(fe => fe.rows - fe.deletedRows).sum)))
        case c: Count if !c.isDistinct =>
          columnName(c.column)
            .filter(cn => (integral(cn) && tracked(cn)) || strTracked(cn))
            .map { cn =>
              (StructField(s"count($cn)", LongType, nullable = false),
                (fes: Seq[ShardFormat.FileEntry]) => Long.box(fes.map { fe =>
                  fe.rows - fe.stats.get(cn).map(_._3)
                    .orElse(fe.strStats.get(cn).map(_._3))
                    .orElse(fe.allNull.get(cn)).getOrElse(0L)
                }.sum))
            }
        case mn: Min => minMax(columnName(mn.column), isMin = true)
        case mx: Max => minMax(columnName(mx.column), isMin = false)
        case sm: Sum if !sm.isDistinct =>
          // exact per-file sums recorded at write time; answered only
          // when EVERY file carries one (all-null files contribute 0
          // via allNull) — a file written before sums existed, or whose
          // sum overflowed, refuses the whole pushdown. The total is
          // added with addExact: a true overflow refuses too, and the
          // real scan then raises Spark's own ANSI arithmetic error.
          columnName(sm.column).filter(cn => integral(cn) &&
            m.files.forall(fe => fe.sums.contains(cn) || fe.allNull.contains(cn)))
            .filter { cn =>
              // overflow-safe at DECISION time for every subset the
              // evaluator can later see: the whole table and each
              // partition group (opposite-signed files can cancel
              // globally yet overflow within one group)
              def adds(fes: Seq[ShardFormat.FileEntry]): Boolean =
                scala.util.Try(fes.foldLeft(0L)((a, fe) =>
                  Math.addExact(a, fe.sums.getOrElse(cn, 0L)))).isSuccess
              adds(m.files) && m.files.groupBy(_.partition).values.forall(adds)
            }
            .map { cn =>
              (StructField(s"sum($cn)", LongType, nullable = true),
                (fes: Seq[ShardFormat.FileEntry]) => {
                  // SQL: SUM over zero non-null values is NULL
                  if (fes.forall(fe => !fe.stats.contains(cn))) null
                  else Long.box(fes.foldLeft(0L)((a, fe) =>
                    Math.addExact(a, fe.sums.getOrElse(cn, 0L))))
                })
            }
            .orElse(columnName(sm.column).flatMap { cn =>
              // DECIMAL SUM: per-file sums are exact UNSCALED longs
              // (unscaled order and arithmetic ARE decimal arithmetic
              // at the column's fixed scale), totals accumulate in
              // BigInteger — no long-overflow ceiling — and answer as
              // Spark's own sum result type, decimal(p+10, s). The
              // decision-time guard proves the total and every
              // partition group fit p+10 digits, so the evaluator can
              // never overflow what the type can carry.
              colType(cn).collect { case d: DecimalType if d.precision <= 18 => d }
                .filter(_ => m.files.forall(fe =>
                  fe.sums.contains(cn) || fe.allNull.contains(cn)))
                .filter { d =>
                  val rp = math.min(38, d.precision + 10)
                  def fits(fes: Seq[ShardFormat.FileEntry]): Boolean =
                    fes.foldLeft(java.math.BigInteger.ZERO)((a, fe) =>
                      a.add(java.math.BigInteger.valueOf(fe.sums.getOrElse(cn, 0L))))
                      .abs.toString.length <= rp
                  fits(m.files) && m.files.groupBy(_.partition).values.forall(fits)
                }
                .map { d =>
                  val rt = DecimalType(math.min(38, d.precision + 10), d.scale)
                  (StructField(s"sum($cn)", rt, nullable = true),
                    (fes: Seq[ShardFormat.FileEntry]) => {
                      if (fes.forall(fe => !fe.stats.contains(cn))) null
                      else {
                        val total = fes.foldLeft(java.math.BigInteger.ZERO)((a, fe) =>
                          a.add(java.math.BigInteger.valueOf(fe.sums.getOrElse(cn, 0L))))
                        Decimal(new java.math.BigDecimal(total, d.scale),
                          rt.precision, rt.scale)
                      }
                    })
                }
            })
        case _ => None
      }

    (groupCol, if (funcs.exists(_.isEmpty)) None else Some(funcs.flatten)) match {
      case (Some(gc), Some(fs)) =>
        val rows: Seq[Array[Any]] = gc match {
          case None => Seq(fs.map(_._2(m.files)).toArray[Any])
          case Some(c) =>
            val kdt = colType(c).get
            m.files.groupBy(_.partition.get).toSeq.sortBy(_._1).map { case (k, fes) =>
              (box(kdt, k) +: fs.map(_._2(fes))).toArray[Any]
            }
        }
        val schema = StructType(
          gc.map(c => StructField(c, colType(c).get, nullable = false)).toSeq ++ fs.map(_._1))
        Some(ShardAggResult(schema, rows,
          a.aggregateExpressions().mkString(", ") +
            gc.map(c => s" group by $c").getOrElse("")))
      case _ => None
    }
  }

  override def build(): Scan = {
    val targetBytes = Option(options.get("targetPartitionBytes"))
      .map(_.toLong).getOrElse(128L * 1024 * 1024)
    // streaming admission control (readStream options): cap each
    // micro-batch at N appended files and/or B bytes. Validated here —
    // plan time, with the option name — not at first trigger.
    val maxFiles = Option(options.get("maxFilesPerTrigger")).map(_.toInt)
    val maxBytes = Option(options.get("maxBytesPerTrigger")).map(_.toLong)
    maxFiles.foreach(n => require(n > 0,
      s"graftshard: maxFilesPerTrigger must be > 0, got $n"))
    maxBytes.foreach(b => require(b > 0,
      s"graftshard: maxBytesPerTrigger must be > 0, got $b"))
    new GraftShardScan(path, fullSchema, required, pushed, () => manifest, targetBytes,
      agg, limit, snapshot = pinned.isDefined,
      maxFilesPerTrigger = maxFiles, maxBytesPerTrigger = maxBytes,
      topN = topN,
      // LEAN plan eligibility: nothing about this scan needs the rich
      // per-file stat maps at plan time — no pushed row predicates, no
      // limit/TopN file cuts, no manifest-answered aggregate, no
      // time-travel pin. The scan then streams a paged manifest's
      // segments one at a time and retains only lean tuples +
      // statistic accumulators (see GraftShardScan.lean)
      leanEligible = pushed.isEmpty && limit.isEmpty && topN.isEmpty &&
        agg.isEmpty && pinned.isEmpty)
  }
}

/** A pushed `ORDER BY <col> LIMIT <k>` ([[GraftShardScanBuilder
  * .pushTopN]]): the file-cut inputs. `isString` selects the exact
  * string bounds (`strStats`, UTF8String byte order) over the integral
  * ones (`stats`, long order). */
final case class TopNPush(
    col: String,
    isString: Boolean,
    desc: Boolean,
    nullsFirst: Boolean,
    k: Int)

/** Both partition shapes carry (path, rows) per file; the keyed shape
  * adds the one partition value all its rows share — `HasPartitionKey`
  * is what lets Spark line partitions up across scans for a
  * storage-partitioned join. */
sealed trait ShardFilesPartition extends InputPartition {
  /** (shard path, physical rows, delete-vector sidecar path if any,
    * bloom-filter sidecar path if any, commit seq — the
    * equality-delete ordering). */
  def files: Array[(String, Long, Option[String], Option[String], Long)]
}
final case class ShardInputPartition(files: Array[(String, Long, Option[String], Option[String], Long)]) extends ShardFilesPartition
final case class ShardKeyedInputPartition(
    files: Array[(String, Long, Option[String], Option[String], Long)],
    key: Long,
    keyIsLong: Boolean) extends ShardFilesPartition with HasPartitionKey {
  override def partitionKey(): InternalRow =
    new GenericInternalRow(Array[Any](if (keyIsLong) Long.box(key) else Int.box(key.toInt)))
}
/** Aggregate-pushdown results computed on the driver from the manifest;
  * the single "partition" just replays them. */
final case class ShardAggRowsPartition(rows: Seq[Array[Any]]) extends InputPartition

class GraftShardScan(
    path: String,
    fullSchema: StructType,
    required: StructType,
    pushed: Array[Filter],
    manifestFn: () => ShardFormat.Manifest,
    targetBytes: Long,
    agg: Option[ShardAggResult],
    limit: Option[Int],
    snapshot: Boolean = false,
    maxFilesPerTrigger: Option[Int] = None,
    maxBytesPerTrigger: Option[Long] = None,
    topN: Option[TopNPush] = None,
    leanEligible: Boolean = false)
    extends Scan with Batch with SupportsReportStatistics
    with SupportsReportPartitioning with SupportsReportOrdering
    with SupportsRuntimeFiltering {

  /** RICH manifest — the full FileEntry list. Never forced on the lean
    * path (that is the point: at the 1M-entry ceiling the full list is
    * hundreds of MB of driver heap for stat maps this scan will not
    * consult). */
  private lazy val manifest: ShardFormat.Manifest = manifestFn()

  /** LEAN plan state, built by ONE streaming pass over a PAGED
    * manifest root when [[leanEligible]]: per file only the
    * [[ShardFormat.LeanFileEntry]] tuple partition planning needs,
    * plus running statistic accumulators (byte/row totals, per-column
    * NDV unions, null counts, integral bounds) — so a filterless
    * 1M-entry scan plans with bounded peak heap and produces the SAME
    * partitions as the rich path (identical order, identical
    * bin-packing). None when the root is inline (already small) or the
    * scan is not eligible. */
  private final class LeanColStats(
      val est: Long, val nulls: Option[Long], val minMax: Option[(Long, Long)],
      val kll: Option[org.apache.datasketches.kll.KllLongsSketch])
  private final class LeanState(
      val meta: ShardFormat.Manifest,
      val entries: Array[ShardFormat.LeanFileEntry],
      val totalBytes: Long,
      val liveRows: Long,
      val allKeyed: Boolean,
      val ndv: Map[String, LeanColStats])

  private lazy val lean: Option[LeanState] =
    if (!leanEligible) None
    else {
      val entries = Array.newBuilder[ShardFormat.LeanFileEntry]
      var totalBytes = 0L
      var liveRows = 0L
      var allKeyed = true
      var files = 0L
      final class Acc {
        val union = new org.apache.datasketches.hll.Union(ShardFormat.NdvLgK)
        var covered = 0L // files with a sketch (or fully-deleted)
        var nulls = 0L; var nullsCovered = 0L
        var min = Long.MaxValue; var max = Long.MinValue
        var anyBounded = false; var statsOrAllNull = 0L
        // merged KLL quantile sketch (integral columns; the histogram)
        var kll: org.apache.datasketches.kll.KllLongsSketch = null
        var kllCovered = 0L
      }
      val accs = scala.collection.mutable.LinkedHashMap.empty[String, Acc]
      val meta = ShardFormat.streamManifestForScan(path, _ => true, fe => {
        entries += ShardFormat.leanOf(fe)
        totalBytes += fe.bytes
        liveRows += fe.rows - fe.deletedRows
        if (fe.partition.isEmpty) allKeyed = false
        files += 1
        fe.ndv.foreach { case (c, sk) =>
          val a = accs.getOrElseUpdate(c, new Acc)
          a.union.update(org.apache.datasketches.hll.HllSketch.heapify(
            java.util.Base64.getDecoder.decode(sk)))
          a.covered += 1
          fe.kll.get(c).foreach { ks =>
            if (a.kll == null) a.kll = org.apache.datasketches.kll.KllLongsSketch
              .newHeapInstance(ShardFormat.KllK)
            a.kll.merge(org.apache.datasketches.kll.KllLongsSketch.heapify(
              org.apache.datasketches.memory.Memory.wrap(
                java.util.Base64.getDecoder.decode(ks))))
            a.kllCovered += 1
          }
          fe.stats.get(c).map(_._3)
            .orElse(fe.strStats.get(c).map(_._3))
            .orElse(fe.allNull.get(c)) match {
            case Some(n) => a.nulls += n; a.nullsCovered += 1
            case None => ()
          }
          fe.stats.get(c) match {
            case Some((lo, hi, _)) =>
              a.min = math.min(a.min, lo); a.max = math.max(a.max, hi)
              a.anyBounded = true; a.statsOrAllNull += 1
            case None => if (fe.allNull.contains(c)) a.statsOrAllNull += 1
          }
        }
      })
      meta.map { m =>
        val ndv = accs.collect {
          // same coverage contract as the rich path: a missing sketch
          // would make the union an undercount, so partial coverage
          // reports nothing (fully-deleted files are exempt there; the
          // lean accumulator cannot see that per file, so it simply
          // requires full coverage — strictly more conservative)
          case (c, a) if a.covered == files =>
            c -> new LeanColStats(
              math.max(1L, math.round(a.union.getEstimate)),
              if (a.nullsCovered == files) Some(a.nulls) else None,
              if (a.anyBounded && a.statsOrAllNull == files) Some((a.min, a.max))
              else None,
              if (a.kllCovered == files && a.kll != null && !a.kll.isEmpty)
                Some(a.kll)
              else None)
        }.toMap
        new LeanState(m, entries.result(), totalBytes, liveRows, allKeyed, ndv)
      }
    }

  /** Root-resident manifest metadata (schema, partitioning, equality
    * deletes, resolution, properties) — served without forcing the
    * rich entry list on the lean path. */
  private lazy val rootMeta: ShardFormat.Manifest =
    lean.map(_.meta).getOrElse(manifest)

  // lean selection memo: runtime filters re-stream WITH segment-rollup
  // pruning (the stats live transiently in the stream, never retained);
  // keyed by the runtime array instance (replaced wholesale in filter())
  private var leanSelCache: (Array[Filter], Array[ShardFormat.LeanFileEntry]) = null

  private def leanSelected(ls: LeanState): Array[ShardFormat.LeanFileEntry] =
    if (runtime.isEmpty) ls.entries
    else {
      val cached = leanSelCache
      if (cached != null && (cached._1 eq runtime)) cached._2
      else {
        val out = Array.newBuilder[ShardFormat.LeanFileEntry]
        val meta2 = ShardFormat.streamManifestForScan(path,
          rollup => runtime.forall(ShardFilters.mayContain(_, rollup)),
          fe => if (runtime.forall(ShardFilters.mayContain(_, fe)))
            out += ShardFormat.leanOf(fe))
        // snapshot guard: the re-stream reads the LIVE pointer — if a
        // commit moved it since planning, pruning against the new state
        // could drop files of OUR snapshot; fall back to the unpruned
        // plan-time list (sound: runtime filters only optimize)
        val sel = meta2 match {
          case Some(m2) if m2.version == ls.meta.version &&
            m2.generation == ls.meta.generation => out.result()
          case _ => ls.entries
        }
        leanSelCache = (runtime, sel)
        sel
      }
    }

  /** The per-consumer selection in LEAN tuples — single currency for
    * partition planning and size statistics on both paths. */
  private def selectedLean: Seq[ShardFormat.LeanFileEntry] = lean match {
    case Some(ls) => scala.collection.immutable.ArraySeq.unsafeWrapArray(leanSelected(ls))
    case None => selected.map(ShardFormat.leanOf)
  }

  /** Key-grouped mode: one `InputPartition` per partition-key value,
    * reported as [[KeyGroupedPartitioning]], so joins and group-bys on
    * the key plan WITHOUT an exchange (storage-partitioned join — at
    * 100 TB the shuffle this deletes is usually the whole cost of a
    * key-aligned join). Active when `spark.sql.sources.v2.bucketing
    * .enabled` holds (default TRUE on Spark 4 — grouped mode is the
    * out-of-the-box behavior; with it off Spark ignores reported
    * partitioning, so we keep bin-packing), the key column survives
    * column pruning (Spark must resolve the reported expression against
    * scan output), every file carries a key, and no aggregate was
    * pushed. Grouped scans do not volunteer for runtime filtering: a
    * DPP re-plan that dropped a key group would break the
    * one-partition-per-reported-key contract BatchScanExec checks; the
    * static manifest skipping still applies per group. */
  private lazy val groupedSpec: Option[ShardFormat.PartSpec] =
    if (agg.isDefined) None
    else rootMeta.partitioning.filter { sp =>
      org.apache.spark.sql.internal.SQLConf.get.v2BucketingEnabled &&
        required.fieldNames.contains(sp.column) &&
        (lean match {
          case Some(ls) => ls.entries.nonEmpty && ls.allKeyed
          case None =>
            manifest.files.nonEmpty && manifest.files.forall(_.partition.isDefined)
        })
    }

  /** Runtime (DPP-style) filters: Spark's PartitionPruning rule plants
    * a DynamicPruningExpression on this scan when it joins a selective
    * build side on one of `filterAttributes`; at execution the subquery
    * result arrives here as an In filter and BatchScanExec re-plans
    * partitions — broadcast-join keys prune whole shard files the same
    * way static predicates do, and row-level too. */
  private var runtime: Array[Filter] = Array.empty

  override def filterAttributes(): Array[NamedReference] =
    if (agg.isDefined || groupedSpec.isDefined) Array.empty
    // the REQUIRED (pruned) fields, not fullSchema: Spark resolves
    // these against the scan's OUTPUT (PartitionPruning.
    // getFilterableTableScan → V2ExpressionUtils.resolveRefs), so a
    // stats-eligible column the projection dropped would throw
    // "Unable to resolve" at plan time — and a runtime filter on a
    // non-output column could never be delivered anyway. Metadata
    // columns (_shard_file/_pos) are excluded: they are in `required`
    // but not in the table schema, and a runtime filter on them has
    // no manifest stats to prune with.
    else required.fields
      .filter(f => fullSchema.fields.exists(_.name == f.name) &&
        ShardFormat.statsEligible(f.dataType))
      .map(f => Expressions.column(f.name))

  override def filter(filters: Array[Filter]): Unit =
    runtime = filters.filter(ShardFilters.pushable(_, fullSchema))
      .map(ShardFilters.normalizeDecimals(_, fullSchema))

  /** Manifest entries surviving stats-based skipping (static + any
    * runtime filters delivered so far), then cut to the fewest files
    * covering a pushed LIMIT — sound only when no absorbed row filter
    * makes manifest row counts an overcount of what the reader emits. */
  private def selected: Seq[ShardFormat.FileEntry] = {
    val skipped = manifest.files.filter(fe =>
      (pushed ++ runtime).forall(ShardFilters.mayContain(_, fe)))
    val topCut = topNCut(skipped)
    limit.filter(_ => pushed.isEmpty && runtime.isEmpty &&
        !topCut.exists(_.deletes.isDefined) &&
        manifest.equalityDeletes.isEmpty) match {
      case Some(l) =>
        var acc = 0L
        topCut.takeWhile { fe => val need = acc < l; acc += fe.rows; need }
      case None => topCut
    }
  }

  /** The pushed-TopN file cut (see [[GraftShardScanBuilder.pushTopN]]
    * for the admission rules). Soundness argument: order known-bound files by the
    * bound FARTHEST forward in sort order (max for ASC, min for DESC)
    * and accumulate each file's guaranteed live in-region rows — a
    * lower bound, `rows − nulls − deletedRows` — plus, under NULLS
    * FIRST, every file's guaranteed live nulls (they sort before all
    * values). Once the accumulator reaches k at threshold T, at least
    * k live rows sort at-or-before T; any file whose NEAREST bound
    * sorts strictly after T (and whose nulls cannot sort first) holds
    * only rows provably outside the top k. The cut keeps a SUPERSET of
    * the top k; Spark's own TakeOrderedAndProject finishes the job. */
  private def topNCut(fes: Seq[ShardFormat.FileEntry]): Seq[ShardFormat.FileEntry] =
    topN match {
      case Some(t) =>
        // absorbed filters (static AND runtime/DPP) compose with the
        // cut: a file's guaranteed rows COUNT toward the prefix only
        // when every filter is PROVABLY all-match for it (all its rows
        // survive filtering — the REPLACE WHERE provability machinery);
        // unprovable files stay in the plan but contribute nothing, so
        // with no provable file the cut simply never fires. Exclusion
        // stays sound regardless: a dropped file's rows sort strictly
        // after >= k counted rows that all survive the filters, so they
        // cannot be in the FILTERED top k either.
        val filters = pushed ++ runtime
        def counted(fe: ShardFormat.FileEntry): Boolean =
          filters.forall(ShardFilters.mustMatchAll(_, fe))
        val cmp: (Any, Any) => Int =
          if (t.isString)
            (a, b) => a.asInstanceOf[UTF8String].compareTo(b.asInstanceOf[UTF8String])
          else (a, b) => java.lang.Long.compare(a.asInstanceOf[Long], b.asInstanceOf[Long])
        // "a sorts strictly before b" in the pushed order
        def before(a: Any, b: Any): Boolean =
          { val c = cmp(a, b); if (t.desc) c > 0 else c < 0 }
        def known(fe: ShardFormat.FileEntry): Option[(Any, Any, Long)] =
          if (t.isString) fe.strStats.get(t.col).map { case (mn, mx, n) =>
            (UTF8String.fromString(mn): Any, UTF8String.fromString(mx): Any, n) }
          else fe.stats.get(t.col).map { case (mn, mx, n) => (mn: Any, mx: Any, n) }
        def lead(b: (Any, Any, Long)): Any = if (t.desc) b._2 else b._1
        def tail(b: (Any, Any, Long)): Any = if (t.desc) b._1 else b._2
        // guaranteed LIVE nulls / value rows: deletedRows debits both
        // sides (a deleted row could be either — lower bounds only)
        def liveNulls(fe: ShardFormat.FileEntry): Long =
          known(fe).map(b => math.max(0L, b._3 - fe.deletedRows))
            .orElse(fe.allNull.get(t.col).map(_ =>
              math.max(0L, fe.rows - fe.deletedRows)))
            .getOrElse(0L)
        val nullCredit =
          if (t.nullsFirst) fes.filter(counted).map(liveNulls).sum else 0L
        val sortable = fes.filter(counted)
          .flatMap(fe => known(fe).map(b =>
            (tail(b), math.max(0L, fe.rows - b._3 - fe.deletedRows))))
          .sortWith((x, y) => before(x._1, y._1))
        var cum = nullCredit
        var threshold: Option[Any] = None
        val it = sortable.iterator
        while (threshold.isEmpty && it.hasNext) {
          val (tl, g) = it.next(); cum += g
          if (cum >= t.k) threshold = Some(tl)
        }
        threshold match {
          case None => fes
          case Some(th) => fes.filter { fe =>
            known(fe) match {
              case Some(b) =>
                !before(th, lead(b)) || (t.nullsFirst && b._3 > 0)
              case None =>
                // all-null file: in the running only under NULLS FIRST;
                // a file with no bound claim is always kept
                fe.allNull.get(t.col).isEmpty || t.nullsFirst
            }
          }
        }
      case _ => fes
    }

  override def readSchema(): StructType = agg.map(_.schema).getOrElse(required)
  override def toBatch: Batch = this

  override def description(): String = {
    val p = pushed.map(_.toString).sorted.mkString(", ")
    val a = agg.map(r => s" pushedAggregates=[${r.description}]").getOrElse("")
    val g = groupedSpec.map {
      case ShardFormat.IdentityPart(c) => s" keyGroupedBy=$c"
      case ShardFormat.BucketPart(n, c) => s" keyGroupedBy=bucket($n,$c)"
      case ShardFormat.TransformPart(u, c) => s" keyGroupedBy=$u($c)"
    }.getOrElse("")
    val l = limit.map(n => s" limit=$n").getOrElse("")
    val tn = topN.map(t => s" topN=${t.k} by ${t.col}" +
      s"${if (t.desc) " DESC" else ""}").getOrElse("")
    val total = lean.map(_.entries.length).getOrElse(manifest.files.size)
    s"graftshard files=${selectedLean.size}/$total pushed=[$p]$a$g$l$tn"
  }

  override def outputPartitioning(): Partitioning = groupedSpec match {
    case Some(sp) =>
      new KeyGroupedPartitioning(
        Array[V2Expression](GraftShardTable.transformOf(sp)),
        selectedLean.flatMap(_.partition).distinct.size)
    case None => new UnknownPartitioning(0)
  }

  /** Sorted keyed layout: when the manifest declares every file one
    * sorted run by `sortedBy` and each key group holds EXACTLY ONE file
    * (appends add runs — concatenated runs are not sorted, so the
    * report honestly degrades), the grouped scan's partitions are
    * ordered by (key, sortedBy). Windows and merge joins whose
    * requirements this satisfies skip their SortExec: zero exchange AND
    * zero sort from at-rest layout. */
  override def outputOrdering(): Array[SortOrder] =
    (groupedSpec, rootMeta.sortedBy) match {
      case (Some(sp), Some(s))
          if required.fieldNames.contains(s) &&
            selectedLean.groupBy(_.partition).forall(_._2.size == 1) =>
        sp match {
          // identity: (key, sortedBy) — satisfies a window's
          // partitionBy(key).orderBy(sortedBy) requirement outright
          case ShardFormat.IdentityPart(c) => Array(
            Expressions.sort(Expressions.column(c), SortDirection.ASCENDING),
            Expressions.sort(Expressions.column(s), SortDirection.ASCENDING))
          // bucket / time transform: within a partition the bucket id
          // (or unit ordinal) is constant, so rows of the single file
          // are sorted by sortedBy ALONE — the report that lets a
          // storage-partitioned merge join on the raw id (x44's shape)
          // skip BOTH SortExecs, not just the Exchanges. Reporting
          // (bucket(n,c), sortedBy) instead would satisfy nothing: no
          // consumer requires bucket-id or day-ordinal order.
          case _ => Array(
            Expressions.sort(Expressions.column(s), SortDirection.ASCENDING))
        }
      case _ => Array.empty
    }

  override def estimateStatistics(): Statistics = new Statistics {
    override def sizeInBytes(): OptionalLong = agg match {
      // the aggregate answer is manifest-resident: a handful of rows
      case Some(r) => OptionalLong.of(r.rows.size.toLong * 64)
      case None => lean match {
        case Some(ls) if runtime.isEmpty => OptionalLong.of(ls.totalBytes)
        case Some(ls) => OptionalLong.of(leanSelected(ls).map(_.bytes).sum)
        case None => OptionalLong.of(selected.map(_.bytes).sum)
      }
    }
    // exact only when every surviving row passes every pushed filter,
    // which we cannot know without reading — report rows for the
    // no-filter scan, AND when stats PROVE every pushed filter matches
    // every row of every selected file (the ubiquitous case: the
    // join-planner's own IsNotNull(k) over a null-free column — without
    // this carve-out, every equi-join input would lose its row count
    // and CBO could never size the aggregate above it)
    override def numRows(): OptionalLong = agg match {
      case Some(r) => OptionalLong.of(r.rows.size.toLong)
      case None => lean match {
        // lean path: pushed is empty by eligibility; same eq-delete
        // honesty rule as the rich path
        case Some(ls) if ls.meta.equalityDeletes.isEmpty =>
          if (runtime.isEmpty) OptionalLong.of(ls.liveRows)
          else OptionalLong.of(
            leanSelected(ls).map(fe => fe.rows - fe.deletedRows).sum)
        case Some(_) => OptionalLong.empty()
        case None =>
          // equality deletes make physical counts an overcount the
          // manifest cannot correct — report unknown, never a lie
          val provablyAll = pushed.isEmpty ||
            pushed.forall(f => selected.forall(ShardFilters.mustMatchAll(f, _)))
          if (provablyAll && manifest.equalityDeletes.isEmpty)
            OptionalLong.of(selected.map(fe => fe.rows - fe.deletedRows).sum)
          else OptionalLong.empty()
      }
    }

    /** Column statistics from the manifest alone — the CBO currency.
      * For each `ndvColumns` column whose sketch EVERY selected file
      * carries, the per-file HLLs union into the scan's distinct count
      * (a missing sketch would make the union an undercount, so partial
      * coverage reports nothing). Null counts and integral min/max ride
      * along exactly where the stats tier tracks them. Under pushed
      * filters the union is a sound overcount of the post-filter NDV,
      * tightened by the in-method caps (physical live rows; the
      * predicate's own value set when it targets the sketched column;
      * the uniform range fraction for integral spans) — still never an
      * undercount, so the planner can only keep a bigger estimate,
      * never broadcast something too large. This is what lets
      * `spark.sql.cbo.enabled` size a
      * GROUP BY's output by its key's true cardinality and flip the
      * join above it to broadcast (GraftShardNdvSpec). */
    override def columnStats()
        : java.util.Map[NamedReference, colstats.ColumnStatistics] = {
      val out = new java.util.HashMap[NamedReference, colstats.ColumnStatistics]()
      lean match {
        case Some(ls) =>
          // LEAN path: whole-selection accumulators from the streaming
          // pass (pushed is empty by eligibility; runtime filters cap
          // via the live-row bound and the predicate's own value set)
          if (agg.isEmpty && ls.entries.nonEmpty) {
            val physRows =
              if (runtime.isEmpty) ls.liveRows
              else leanSelected(ls).map(fe => fe.rows - fe.deletedRows).sum
            ls.ndv.foreach { case (c, cs) =>
              val eqBound = runtime.foldLeft(Long.MaxValue) {
                case (acc, org.apache.spark.sql.sources.EqualTo(`c`, _)) =>
                  math.min(acc, 1L)
                case (acc, org.apache.spark.sql.sources.In(`c`, vs)) =>
                  math.min(acc, vs.distinct.length.toLong)
                case (acc, _) => acc
              }
              val est = math.min(cs.est, math.min(physRows, eqBound))
              val dt = fullSchema.fields.find(_.name == c).map(_.dataType)
              def boxed(v: Long): Object = dt match {
                case Some(IntegerType) => Integer.valueOf(v.toInt)
                case _ => java.lang.Long.valueOf(v)
              }
              val integral = dt.exists(d => d == LongType || d == IntegerType)
              val histo: Option[colstats.Histogram] =
                cs.kll.map(sk => GraftShardScan.v2Histogram(sk, est))
              out.put(Expressions.column(c), new colstats.ColumnStatistics {
                override def distinctCount(): OptionalLong =
                  OptionalLong.of(math.max(1L, est))
                override def nullCount(): OptionalLong =
                  cs.nulls.map(OptionalLong.of).getOrElse(OptionalLong.empty())
                override def histogram(): java.util.Optional[colstats.Histogram] =
                  histo.map(java.util.Optional.of[colstats.Histogram])
                    .getOrElse(java.util.Optional.empty())
                override def min(): java.util.Optional[Object] =
                  if (integral)
                    cs.minMax.map(m => java.util.Optional.of(boxed(m._1)))
                      .getOrElse(java.util.Optional.empty())
                  else java.util.Optional.empty()
                override def max(): java.util.Optional[Object] =
                  if (integral)
                    cs.minMax.map(m => java.util.Optional.of(boxed(m._2)))
                      .getOrElse(java.util.Optional.empty())
                  else java.util.Optional.empty()
              })
            }
          }
          return out
        case None => ()
      }
      if (agg.isEmpty && selected.nonEmpty) {
        // FILTER-AWARE capping: the HLL union is the PRE-filter NDV of
        // the selected files — an overcount under pushed predicates that
        // can mis-size joins above selective filters (the round-13
        // gap). Two sound tighteners, never an undercount of the
        // post-filter truth: (a) the physical live row count of the
        // selection bounds any distinct count (also absorbs HLL's +4.6%
        // over-error on small selections); (b) a pushed predicate ON
        // the sketched column itself bounds its post-filter NDV by the
        // predicate's own value set (=1 for EqualTo, |values| for In)
        // or, for integral ranges, by the value-uniform span fraction
        // (the standard CBO assumption; capped below by 1).
        val physRows = selected.map(fe => fe.rows - fe.deletedRows).sum
        def filterBound(c: String, est: Long): Long = {
          val eqBound = (pushed ++ runtime).foldLeft(Long.MaxValue) {
            case (acc, org.apache.spark.sql.sources.EqualTo(`c`, _)) =>
              math.min(acc, 1L)
            case (acc, org.apache.spark.sql.sources.EqualNullSafe(`c`, v))
                if v != null => math.min(acc, 1L)
            case (acc, org.apache.spark.sql.sources.In(`c`, vs)) =>
              math.min(acc, vs.distinct.length.toLong)
            case (acc, _) => acc
          }
          // integral range fraction over the selection's min/max span
          val bounded = selected.filter(_.stats.contains(c))
          val rangeBound: Long =
            if (bounded.isEmpty || !selected.forall(fe =>
              fe.stats.contains(c) || fe.allNull.contains(c))) Long.MaxValue
            else {
              val lo = bounded.map(_.stats(c)._1).min
              val hi = bounded.map(_.stats(c)._2).max
              val span = (hi - lo + 1).toDouble
              def clampHi(v: Long) = math.min(v, hi)
              def clampLo(v: Long) = math.max(v, lo)
              def asLong(v: Any): Option[Long] = v match {
                case l: Long => Some(l)
                case i: Int => Some(i.toLong)
                case s: Short => Some(s.toLong)
                case b: Byte => Some(b.toLong)
                case _ => None
              }
              (pushed ++ runtime).foldLeft(Long.MaxValue) {
                case (acc, f) =>
                  val frac: Option[Double] = f match {
                    case org.apache.spark.sql.sources.LessThan(`c`, v) =>
                      asLong(v).map(l => (clampHi(l - 1) - lo + 1).toDouble / span)
                    case org.apache.spark.sql.sources.LessThanOrEqual(`c`, v) =>
                      asLong(v).map(l => (clampHi(l) - lo + 1).toDouble / span)
                    case org.apache.spark.sql.sources.GreaterThan(`c`, v) =>
                      asLong(v).map(l => (hi - clampLo(l + 1) + 1).toDouble / span)
                    case org.apache.spark.sql.sources.GreaterThanOrEqual(`c`, v) =>
                      asLong(v).map(l => (hi - clampLo(l) + 1).toDouble / span)
                    case _ => None
                  }
                  frac.map(fr => math.min(acc,
                    math.max(1L, math.ceil(est * math.max(0.0, math.min(1.0, fr))).toLong)))
                    .getOrElse(acc)
              }
            }
          math.min(eqBound, rangeBound)
        }
        manifest.ndvColumns.foreach { c =>
          if (selected.forall(fe => fe.ndv.contains(c) || fe.rows == fe.deletedRows)) {
            ShardFormat.ndvEstimate(
              selected.flatMap(_.ndv.get(c))).map(raw =>
                math.min(raw, math.min(physRows, filterBound(c, raw)))
              ).foreach { est =>
              def nullsOf(fe: ShardFormat.FileEntry): Option[Long] =
                fe.stats.get(c).map(_._3)
                  .orElse(fe.strStats.get(c).map(_._3))
                  .orElse(fe.allNull.get(c))
              val nulls: Option[Long] =
                if (selected.forall(nullsOf(_).isDefined))
                  Some(selected.flatMap(nullsOf).sum)
                else None
              // integral min/max: exact when every file carries stats
              // or is provably all-null for the column
              val dt = fullSchema.fields.find(_.name == c).map(_.dataType)
              val bounded = selected.filter(_.stats.contains(c))
              val minMax: Option[(Long, Long)] =
                if (bounded.nonEmpty && selected.forall(fe =>
                  fe.stats.contains(c) || fe.allNull.contains(c)))
                  Some((bounded.map(_.stats(c)._1).min, bounded.map(_.stats(c)._2).max))
                else None
              def boxed(v: Long): Object = dt match {
                case Some(IntegerType) => Integer.valueOf(v.toInt)
                case _ => java.lang.Long.valueOf(v)
              }
              // equi-height HISTOGRAM from the selection's merged KLL
              // (integral ndvColumns): CBO's range-selectivity currency
              // — FilterEstimation applies the predicate to the bins,
              // so the PRE-filter histogram of selected files is the
              // right thing to serve
              val histo: Option[colstats.Histogram] =
                if (selected.forall(fe => fe.kll.contains(c) || fe.rows == fe.deletedRows))
                  ShardFormat.kllMerged(selected.flatMap(_.kll.get(c)))
                    .map(sk => GraftShardScan.v2Histogram(sk, est))
                else None
              out.put(Expressions.column(c), new colstats.ColumnStatistics {
                override def distinctCount(): OptionalLong = OptionalLong.of(est)
                override def nullCount(): OptionalLong =
                  nulls.map(OptionalLong.of).getOrElse(OptionalLong.empty())
                override def min(): java.util.Optional[Object] =
                  if (dt.exists(d => d == LongType || d == IntegerType))
                    minMax.map(m => java.util.Optional.of(boxed(m._1)))
                      .getOrElse(java.util.Optional.empty())
                  else java.util.Optional.empty()
                override def max(): java.util.Optional[Object] =
                  if (dt.exists(d => d == LongType || d == IntegerType))
                    minMax.map(m => java.util.Optional.of(boxed(m._2)))
                      .getOrElse(java.util.Optional.empty())
                  else java.util.Optional.empty()
                override def histogram(): java.util.Optional[colstats.Histogram] =
                  histo.map(java.util.Optional.of[colstats.Histogram])
                    .getOrElse(java.util.Optional.empty())
              })
            }
          }
        }
      }
      out
    }
  }

  override def planInputPartitions(): Array[InputPartition] = agg match {
    case Some(r) => Array(ShardAggRowsPartition(r.rows))
    case None => groupedSpec match {
      case Some(sp) =>
        // partition-key row type: the raw column for identity, the bucket
        // id (the bound bucket function's IntegerType result) for bucket
        val keyIsLong = sp match {
          case ShardFormat.IdentityPart(c) =>
            fullSchema.fields(fullSchema.fieldIndex(c)).dataType == LongType
          // bucket ids and time-unit ordinals are the bound functions'
          // IntegerType results
          case _ => false
        }
        selectedLean.groupBy(_.partition.get).toSeq.sortBy(_._1).map { case (k, fes) =>
          ShardKeyedInputPartition(
            fes.map(fe => (new File(path, fe.name).getPath, fe.rows,
              fe.deletes.map(d => new File(path, d).getPath),
              fe.bloom.map(b => new File(path, b).getPath), fe.seq)).toArray,
            k, keyIsLong): InputPartition
        }.toArray
      case None => GraftShardScan.binPack(path, selectedLean, targetBytes)
    }
  }

  override def createReaderFactory(): PartitionReaderFactory = agg match {
    case Some(_) => new ShardAggRowsReaderFactory
    // runtime filters ride along row-level when already delivered; if
    // the factory was built first, rows stay correct (the join itself
    // still filters) — only the early-drop optimization is lost
    case None => new GraftShardReaderFactory(fullSchema, required, pushed ++ runtime, limit,
      rootMeta.resolution,
      rootMeta.equalityDeletes.map(d =>
        (d.column, new File(path, d.name).getPath, d.seq)))
  }

  override def supportedCustomMetrics(): Array[CustomMetric] =
    GraftShardScan.readMetrics

  override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream = {
    require(agg.isEmpty,
      "graftshard: aggregate pushdown is a batch-only surface")
    require(!snapshot,
      "graftshard: cannot stream a time-travel snapshot — a snapshot is a " +
        "fixed commit; stream the current table (offsets track its appends)")
    new GraftShardMicroBatchStream(path, fullSchema, required, pushed,
      maxFilesPerTrigger, maxBytesPerTrigger)
  }
}

/** Row groups the shard scan dropped whole on their header stats,
  * summed over tasks. */
class ShardGroupsSkippedMetric extends CustomSumMetric {
  override def name(): String = GraftShardScan.GroupsSkippedMetric
  override def description(): String = "row groups skipped"
}

/** Shard files the scan never opened because their bloom sidecar
  * proved no row matches, summed over tasks. */
class ShardBloomSkippedFilesMetric extends CustomSumMetric {
  override def name(): String = GraftShardScan.BloomSkippedFilesMetric
  override def description(): String = "files skipped by bloom filter"
}

object GraftShardScan {
  val GroupsSkippedMetric = "groupsSkipped"
  val BloomSkippedFilesMetric = "bloomSkippedFiles"

  /** The read-side counters every shard scan declares; the batch
    * reader reports them. */
  def readMetrics: Array[CustomMetric] =
    Array(new ShardGroupsSkippedMetric, new ShardBloomSkippedFilesMetric)

  private[v2] def taskMetric(metric: String, v: Long): CustomTaskMetric =
    new CustomTaskMetric {
      override def name(): String = metric
      override def value(): Long = v
    }

  /** DSv2 equi-height histogram over a merged KLL quantile sketch: 32
    * bins of equal row mass (height = non-null rows / 32), per-bin NDV
    * apportioned uniformly from the column's distinct estimate (the
    * same apportioning ANALYZE's equi-height histogram uses). Spark
    * converts this into the catalyst ColumnStat histogram that
    * FilterEstimation consumes under CBO — range selectivity from the
    * actual value distribution instead of min/max uniformity. */
  def v2Histogram(
      sk: org.apache.datasketches.kll.KllLongsSketch,
      totalNdv: Long): colstats.Histogram = {
    val nb = 32
    val perBin = math.max(1L, totalNdv / nb)
    val binArr: Array[colstats.HistogramBin] = (0 until nb).map { b =>
      val qLo = sk.getQuantile(b.toDouble / nb).toDouble
      val qHi = sk.getQuantile((b + 1).toDouble / nb).toDouble
      new colstats.HistogramBin {
        override def lo(): Double = qLo
        override def hi(): Double = qHi
        override def ndv(): Long = perBin
      }: colstats.HistogramBin
    }.toArray
    val h = sk.getN.toDouble / nb
    new colstats.Histogram {
      override def height(): Double = h
      override def bins(): Array[colstats.HistogramBin] = binArr
    }
  }

  /** Best-fit-decreasing pack to targetBytes — 100k tiny shards must
    * not become 100k tasks. Shared by the batch scan and the
    * copy-on-write scan ([[GraftShardCowScan]]).
    *
    * Open bins are indexed by REMAINING CAPACITY in a TreeMap, so
    * placing each file is one ceiling lookup + one re-insert: O(n log
    * bins) total. The original greedy first-fit scanned the whole bin
    * list per file (`indexWhere`) — O(n x bins), which the
    * PROBE-MANIFEST ceiling probe measured as minutes of DRIVER time
    * at 1M manifest entries (~500k mostly-full bins), i.e. planning
    * itself became the bottleneck exactly at the scale the manifest
    * design doc promises to handle. Best-fit also packs at least as
    * tightly as first-fit on the same descending order. */
  def binPack(
      path: String,
      selected: Seq[ShardFormat.LeanFileEntry],
      targetBytes: Long): Array[InputPartition] = {
    val bins = scala.collection.mutable.ArrayBuffer
      .empty[(scala.collection.mutable.ArrayBuffer[(String, Long, Option[String], Option[String], Long)], Long)]
    // remaining capacity -> indices of open bins with exactly that much
    val byRemaining = new java.util.TreeMap[Long, List[Int]]()
    def register(remaining: Long, idx: Int): Unit =
      if (remaining > 0)
        byRemaining.merge(remaining, List(idx), (a, b) => b ::: a)
    selected.sortBy(-_.bytes).foreach { fe =>
      val slice = (new File(path, fe.name).getPath, fe.rows,
        fe.deletes.map(d => new File(path, d).getPath),
        fe.bloom.map(b => new File(path, b).getPath), fe.seq)
      val e = byRemaining.ceilingEntry(fe.bytes)
      if (e == null) {
        bins += ((scala.collection.mutable.ArrayBuffer(slice), fe.bytes))
        register(targetBytes - fe.bytes, bins.length - 1)
      } else {
        val idx :: rest = e.getValue: @unchecked
        if (rest.isEmpty) byRemaining.remove(e.getKey)
        else byRemaining.put(e.getKey, rest)
        val (buf, sz) = bins(idx)
        buf += slice
        bins(idx) = (buf, sz + fe.bytes)
        register(e.getKey - fe.bytes, idx)
      }
    }
    bins.map(b => ShardInputPartition(b._1.toArray): InputPartition).toArray
  }
}

class ShardAggRowsReaderFactory extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val rows = partition.asInstanceOf[ShardAggRowsPartition].rows.iterator
    new PartitionReader[InternalRow] {
      private var current: InternalRow = _
      override def next(): Boolean =
        if (rows.hasNext) { current = new GenericInternalRow(rows.next()); true }
        else false
      override def get(): InternalRow = current
      override def close(): Unit = ()
    }
  }
}

/** Offset = (manifest generation, length of the committed-file list).
  * Commit order is append order ([[GraftShardBatchWrite.commit]] unions
  * `prior ++ committed`), so a prefix index IS a stable position in an
  * append-only table — no per-file bookkeeping in the checkpoint. The
  * generation pin catches the one way a prefix index lies: an overwrite
  * that later grows the NEW file list past the committed index would
  * otherwise silently skip the replaced prefix. */
final case class ShardOffset(generation: String, fileCount: Long) extends Offset {
  override def json: String = s"$generation:$fileCount"
}

object ShardOffset {
  def fromJson(json: String): ShardOffset = {
    val i = json.lastIndexOf(':')
    ShardOffset(json.substring(0, i), json.substring(i + 1).toLong)
  }
}

/** Streaming face of `graftshard`: each micro-batch reads the shard
  * files the manifest gained since the last committed offset — the
  * incremental corpus-ingestion shape (continuously appended training
  * shards consumed exactly once). Static pushed filters keep their
  * file-skipping power per batch: an appended file whose stats exclude
  * the predicate never becomes a task.
  *
  * Contract: the table must be APPEND-ONLY while streamed. An
  * overwrite swaps the manifest and invalidates prefix offsets; the
  * next batch detects the shrunken list and fails loudly rather than
  * re-reading files under reused indices (restart from a fresh
  * checkpoint after an overwrite).
  *
  * Admission control ([[SupportsAdmissionControl]]): `option(
  * "maxFilesPerTrigger", n)` / `option("maxBytesPerTrigger", b)` cap
  * each micro-batch — THE 100 TB bootstrap knob: without it the first
  * batch of a stream started against an existing table is the ENTIRE
  * table in one commit (no intra-batch checkpoint; one task failure
  * near the end loses everything). The file-count offset makes the
  * caps exact prefix cuts (manifest order, no directory listing); the
  * byte cap admits at least one file per batch so a shard larger than
  * the cap can never stall the stream (FileStreamSource's progress
  * rule). Trigger.AvailableNow composes through
  * [[org.apache.spark.sql.connector.read.streaming.SupportsTriggerAvailableNow]]
  * — WITHOUT it Spark's wrapper silently DISCARDS read limits for
  * AvailableNow runs and the bootstrap is one table-sized batch again:
  * the stream pins the end offset at query start, then drains to it in
  * capped batches. */
class GraftShardMicroBatchStream(
    path: String,
    fullSchema: StructType,
    required: StructType,
    pushed: Array[Filter],
    maxFilesPerTrigger: Option[Int] = None,
    maxBytesPerTrigger: Option[Long] = None)
    extends MicroBatchStream
    with org.apache.spark.sql.connector.read.streaming.SupportsTriggerAvailableNow {

  import org.apache.spark.sql.connector.read.streaming.{CompositeReadLimit, ReadAllAvailable, ReadLimit, ReadMaxBytes, ReadMaxFiles}

  private def manifest(): ShardFormat.Manifest =
    ShardFormat.readManifest(path).getOrElse(
      ShardFormat.Manifest(fullSchema, "", Nil))

  /** (generation, file count) without materializing a paged table's
    * entry list — offset math is all the streaming face needs per
    * trigger, and at the 1M-entry ceiling the full read is ~1.2 s and
    * hundreds of MB PER TRIGGER. Roots with per-segment counts answer
    * from the ROOT ALONE (O(1) per trigger); older paged roots stream
    * the segments; inline roots read normally. */
  private def genAndCount(): (String, Long) =
    ShardFormat.readManifestCount(path).getOrElse {
      var n = 0L
      ShardFormat.streamManifestForScan(path, _ => true, _ => n += 1) match {
        case Some(meta) => (meta.generation, n)
        case None =>
          val m = manifest()
          (m.generation, m.files.size.toLong)
      }
    }

  /** (generation, total count, bytes of entries `[from, total)`) —
    * what the byte-capped admission walk needs, lean. */
  private def tailBytes(from: Long): (String, Long, Array[Long]) = {
    val bytes = Array.newBuilder[Long]
    var idx = 0L
    ShardFormat.streamManifestForScan(path, _ => true, fe => {
      if (idx >= from) bytes += fe.bytes
      idx += 1
    }) match {
      case Some(meta) => (meta.generation, idx, bytes.result())
      case None =>
        val m = manifest()
        (m.generation, m.files.size.toLong,
          m.files.drop(from.toInt).map(_.bytes).toArray)
    }
  }

  // Trigger.AvailableNow: the end of THIS run, pinned at query start —
  // capped batches drain to here, then the query stops
  @volatile private var availableNowCap: Option[Long] = None
  override def prepareForTriggerAvailableNow(): Unit =
    availableNowCap = Some(genAndCount()._2)

  override def initialOffset(): Offset = ShardOffset("", 0L)
  override def latestOffset(): Offset = {
    val (gen, n) = genAndCount()
    ShardOffset(gen, n)
  }

  override def getDefaultReadLimit: ReadLimit =
    (maxFilesPerTrigger, maxBytesPerTrigger) match {
      case (Some(f), Some(b)) =>
        ReadLimit.compositeLimit(Array(ReadLimit.maxFiles(f), ReadLimit.maxBytes(b)))
      case (Some(f), None) => ReadLimit.maxFiles(f)
      case (None, Some(b)) => ReadLimit.maxBytes(b)
      case _ => ReadLimit.allAvailable()
    }

  /** End offset for the next batch: the committed prefix plus however
    * many appended files the limit admits (prefix cuts over manifest
    * order — never a directory listing). */
  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val from = start.asInstanceOf[ShardOffset].fileCount.toInt
    // lean: generation + total count + (only when a BYTE cap needs
    // them) the tail's sizes — never a paged table's materialized
    // entry list per trigger; file-count-only caps answer from the
    // root's segment counts alone
    def needsBytes(l: ReadLimit): Boolean = l match {
      case _: ReadMaxBytes => true
      case c: CompositeReadLimit => c.getReadLimits.exists(needsBytes)
      case _ => false
    }
    val (gen, total, tail) =
      if (needsBytes(limit)) tailBytes(from.toLong)
      else { val (g, n) = genAndCount(); (g, n, Array.emptyLongArray) }
    val ceiling = availableNowCap
      .map(c => math.min(c, total).toInt)
      .getOrElse(total.toInt)
    def admit(l: ReadLimit, upTo: Int): Int = l match {
      case _: ReadAllAvailable => upTo
      case f: ReadMaxFiles =>
        math.min(upTo.toLong, from.toLong + f.maxFiles()).toInt
      case b: ReadMaxBytes =>
        // at least one file per batch: a single shard larger than the
        // cap must advance the stream, not stall it forever
        var i = from
        var bytes = 0L
        while (i < upTo && (i == from || bytes + tail(i - from) <= b.maxBytes())) {
          bytes += tail(i - from); i += 1
        }
        i
      case c: CompositeReadLimit =>
        c.getReadLimits.foldLeft(upTo)((acc, rl) => math.min(acc, admit(rl, upTo)))
      case other => throw new UnsupportedOperationException(
        s"graftshard: unsupported read limit $other — use maxFilesPerTrigger / " +
          "maxBytesPerTrigger")
    }
    ShardOffset(gen, math.max(from, admit(limit, ceiling)).toLong)
  }

  override def reportLatestOffset(): Offset = latestOffset()

  override def deserializeOffset(json: String): Offset = ShardOffset.fromJson(json)

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val so = start.asInstanceOf[ShardOffset]
    val eo = end.asInstanceOf[ShardOffset]
    def overwritten(why: String) = throw new IllegalStateException(
      s"graftshard: $why at '$path' — the table was overwritten during a " +
        "streaming read (prefix offsets are only valid within one manifest " +
        "generation); restart from a fresh checkpoint")
    // lean: stream paged segments with GLOBAL index counting (segment
    // pruning would break prefix indices, so every segment is walked —
    // but the static pushed-filter skip runs transiently per entry and
    // only the batch's admitted partitions are retained)
    val out = Array.newBuilder[InputPartition]
    var idx = 0L
    val streamed = ShardFormat.streamManifestForScan(path, _ => true, fe => {
      if (idx >= so.fileCount && idx < eo.fileCount &&
          pushed.forall(ShardFilters.mayContain(_, fe)))
        out += ShardInputPartition(
          Array((new File(path, fe.name).getPath, fe.rows,
            fe.deletes.map(d => new File(path, d).getPath),
            fe.bloom.map(b => new File(path, b).getPath), fe.seq)))
      idx += 1
    })
    val (gen, total, parts) = streamed match {
      case Some(meta) => (meta.generation, idx, out.result())
      case None =>
        val m = manifest()
        (m.generation, m.files.size.toLong,
          m.files.slice(so.fileCount.toInt, eo.fileCount.toInt)
            .filter(fe => pushed.forall(ShardFilters.mayContain(_, fe)))
            .map(fe => ShardInputPartition(
              Array((new File(path, fe.name).getPath, fe.rows,
                fe.deletes.map(d => new File(path, d).getPath),
                fe.bloom.map(b => new File(path, b).getPath), fe.seq))): InputPartition)
            .toArray)
    }
    // "" = the stream's zero offset, valid against any generation
    if (so.generation.nonEmpty && so.generation != gen)
      overwritten(s"offset generation ${so.generation} != manifest $gen")
    if (eo.generation.nonEmpty && eo.generation != gen)
      overwritten(s"offset generation ${eo.generation} != manifest $gen")
    if (total < eo.fileCount)
      overwritten(s"manifest has $total files but the stream reached ${eo.fileCount}")
    parts
  }

  override def createReaderFactory(): PartitionReaderFactory = {
    val m = ShardFormat.readManifestMeta(path).getOrElse(manifest())
    // equality deletes are FIXED for the life of the stream (an upsert
    // commit turns the generation over, which fails the next batch
    // loudly), so the prefix batches apply one consistent delete set.
    // Micro-batch scans ride the same batch decode as batch reads
    // (MicroBatchScanExec shares DataSourceV2ScanExecBase's columnar
    // dispatch)
    new GraftShardReaderFactory(fullSchema, required, pushed,
      resolve = m.resolution,
      eqDeletes = m.equalityDeletes.map(d =>
        (d.column, new File(path, d.name).getPath, d.seq)))
  }

  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
}

class GraftShardReaderFactory(
    fullSchema: StructType,
    required: StructType,
    pushed: Array[Filter],
    limit: Option[Int] = None,
    resolve: ShardFormat.ColumnResolution = ShardFormat.ColumnResolution.empty,
    // equality deletes: (column, key-sidecar path, seq) — rows of files
    // with fileSeq < seq whose column value is in the sidecar are dead
    eqDeletes: Seq[(String, String, Long)] = Nil)
    extends PartitionReaderFactory {

  /** Every shard-file partition reads COLUMNAR: the shard format is
    * already columnar at rest (per-column chunks per row group), so
    * the scan decodes each group straight into column vectors — one
    * tight loop per column, zero per-value boxing — and Spark's
    * whole-stage codegen consumes the batch without a per-row
    * InternalRow. Every type a shard file can store has a batch
    * decoder ([[ShardFormat.supported]] refuses the rest at write
    * time), and the batch reader serves every scan shape: filters,
    * metadata columns, delete vectors, equality deletes, a pushed
    * LIMIT. Pinned by GraftShardColumnarReadSpec and the randomized
    * source props. */
  override def supportColumnarReads(partition: InputPartition): Boolean =
    partition.isInstanceOf[ShardFilesPartition]

  override def createColumnarReader(
      partition: InputPartition): PartitionReader[ColumnarBatch] = {
    val p = partition.asInstanceOf[ShardFilesPartition]
    new GraftShardColumnarPartitionReader(p.files, fullSchema, required, pushed,
      resolve, eqDeletes, limit)
  }

  /** The row face of the same batch decode ([[ShardBatchRows]]). */
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    new ShardBatchRows(createColumnarReader(partition))
}

/** Rows of a batch reader: each batch's `ColumnarBatch.rowIterator()`
  * in turn. A row is a VIEW into the reader's reused vectors, valid
  * until the next `next()` — a caller that holds one longer (a merge
  * buffer) must `copy()` it. Metrics pass through. */
final class ShardBatchRows(batches: PartitionReader[ColumnarBatch])
    extends PartitionReader[InternalRow] {
  private var rows: java.util.Iterator[InternalRow] = java.util.Collections.emptyIterator()
  private var row: InternalRow = _

  override def next(): Boolean = {
    while (!rows.hasNext) {
      if (!batches.next()) return false
      rows = batches.get().rowIterator()
    }
    row = rows.next()
    true
  }
  override def get(): InternalRow = row
  override def close(): Unit = batches.close()
  override def currentMetricsValues(): Array[CustomTaskMetric] =
    batches.currentMetricsValues()

  /** The rows as a Scala iterator, closing the reader at the end. It
    * advances only on `hasNext`, so the row `next()` returned stays
    * valid until then. */
  def iterator: Iterator[InternalRow] = new Iterator[InternalRow] {
    private var pending = false
    private var done = false
    override def hasNext: Boolean = {
      if (!pending && !done) {
        if (ShardBatchRows.this.next()) pending = true
        else { done = true; close() }
      }
      pending
    }
    override def next(): InternalRow = {
      if (!hasNext) throw new NoSuchElementException("graftshard: rows exhausted")
      pending = false
      row
    }
  }
}

/** THE shard-file reader: every read of a partition's shard files —
  * batch and streaming scans, the copy-on-write scan, compaction,
  * ANALYZE and the change feed — decodes whole row groups
  * column-at-a-time into reused `OnHeapColumnVector`s through
  * [[ShardFormat.ShardReader.nextBatch]]. Row consumers iterate its
  * batches through [[ShardBatchRows]].
  *
  * One SELECTION pass unifies everything row-level:
  *  - absorbed filters (static + runtime) run the compiled evaluators
  *    ([[ShardFilters.compile]]) over the staged batch;
  *  - merge-on-read delete-vector ordinals deselect rows via a single
  *    sorted pointer walking the monotone batch ordinals;
  *  - live equality deletes anti-filter over eq-only staging columns
  *    (fileSeq < delete.seq).
  * An all-match batch is exposed ZERO-COPY; survivors otherwise
  * compact into output vectors with typed per-column copies (no
  * boxing). Metadata columns are served by the compact path (`_pos` =
  * the row's physical ordinal, `_shard_file` = the current file), and
  * a pushed LIMIT caps emitted survivors per partition. File-level
  * bloom skipping and group-level stats skipping use the shared
  * [[ShardFilters]] helpers; both counts are reported as the scan's
  * custom metrics ([[GraftShardScan.readMetrics]]). */
class GraftShardColumnarPartitionReader(
    files: Array[(String, Long, Option[String], Option[String], Long)],
    fullSchema: StructType,
    required: StructType,
    pushed: Array[Filter],
    resolve: ShardFormat.ColumnResolution,
    eqDeletes: Seq[(String, String, Long)] = Nil,
    limit: Option[Int] = None)
    extends PartitionReader[ColumnarBatch] {

  private val MetaFileCol = "_shard_file"
  private val MetaPosCol = "_pos"
  private val fullIndex: Map[String, Int] = fullSchema.fieldNames.zipWithIndex.toMap
  private val dataCols: Array[String] =
    required.fieldNames.filterNot(c => c == MetaFileCol || c == MetaPosCol)
  private val filterCols: Array[String] =
    pushed.flatMap(_.references).distinct.filterNot(dataCols.contains)
  // equality-delete key columns decode like filter-only columns — the
  // anti-filter needs the value even when pruned away
  private val eqOnlyCols: Array[String] =
    eqDeletes.map(_._1).distinct
      .filterNot(c => dataCols.contains(c) || filterCols.contains(c)).toArray
  // staging layout: required data cols, then filter-only, then eq-only
  private val readCols: Array[String] = dataCols ++ filterCols ++ eqOnlyCols
  private val readIndices: Array[Int] = readCols.map(fullIndex)
  // staging vectors carry the LOGICAL types (Spark's vectorized readers
  // do the same: a TimestampType vector stores micros longs); every
  // decode/box/compact SWITCH below runs on the PHYSICAL types so
  // timestamps ride the long paths
  private val readLogicalTypes: Array[DataType] =
    readCols.map(c => fullSchema.fields(fullIndex(c)).dataType)
  private val readTypes: Array[DataType] =
    readLogicalTypes.map(ShardFormat.physicalOf)
  private val slotOf: Map[String, Int] = readCols.zipWithIndex.toMap
  // decimals of precision <= 9 live in INT-backed vectors (Spark's
  // layout, which getDecimal reads back); the decoder hands every
  // decimal over as its unscaled long
  private val intDecimal: Array[Boolean] = readTypes.map {
    case d: DecimalType => d.precision <= Decimal.MAX_INT_DIGITS
    case _ => false
  }
  private val capacity = ShardFormat.GroupMaxRows
  // output position -> staging slot; -1 = _shard_file, -2 = _pos
  private val outMap: Array[Int] = required.fieldNames.map {
    case MetaFileCol => -1
    case MetaPosCol => -2
    case c => slotOf(c)
  }
  private val hasMeta = outMap.exists(_ < 0)
  // pushed LIMIT: emit at most this many SURVIVING rows, then stop
  // decoding — per-partition, so always sound (Spark's Limit finishes)
  private val cap: Int = limit.getOrElse(Int.MaxValue)
  private var emitted: Int = 0

  private val staging: Array[OnHeapColumnVector] =
    readLogicalTypes.map(new OnHeapColumnVector(capacity, _))
  private val stagingBatch =
    new ColumnarBatch(staging.take(dataCols.length).toArray[ColumnVector])
  // the compact path exists when anything row-level can drop or reorder
  // output relative to staging: filters, delete vectors, equality
  // deletes — or metadata columns (which only this path can serve)
  private val mayCompact: Boolean =
    pushed.nonEmpty || files.exists(_._3.isDefined) || eqDeletes.nonEmpty || hasMeta
  private val output: Array[OnHeapColumnVector] =
    if (!mayCompact) Array.empty
    else required.fields.map(f => new OnHeapColumnVector(capacity, f.dataType))
  private val outputBatch: ColumnarBatch =
    if (!mayCompact) null else new ColumnarBatch(output.toArray[ColumnVector])

  // row-level evaluation: the compiled evaluators over a boxed view of
  // JUST the filter-referenced slots (1-2 columns in practice — the
  // required columns never box)
  private val evals: Array[Array[Any] => Boolean] =
    pushed.map(ShardFilters.compile(_, slotOf, fullSchema))
  private val filterSlots: Array[Int] =
    pushed.flatMap(_.references).distinct.map(slotOf)
  private val boxOf: Array[Int => Any] = filterSlots.map { s =>
    val vec = staging(s)
    readTypes(s) match {
      case LongType => (r: Int) => if (vec.isNullAt(r)) null else Long.box(vec.getLong(r))
      case IntegerType => (r: Int) => if (vec.isNullAt(r)) null else Int.box(vec.getInt(r))
      case BooleanType => (r: Int) => if (vec.isNullAt(r)) null else Boolean.box(vec.getBoolean(r))
      case DoubleType => (r: Int) => if (vec.isNullAt(r)) null else Double.box(vec.getDouble(r))
      case FloatType => (r: Int) => if (vec.isNullAt(r)) null else Float.box(vec.getFloat(r))
      case dec: DecimalType => (r: Int) =>
        if (vec.isNullAt(r)) null else vec.getDecimal(r, dec.precision, dec.scale)
      case StringType => (r: Int) => if (vec.isNullAt(r)) null else vec.getUTF8String(r)
      case BinaryType => (r: Int) => if (vec.isNullAt(r)) null else vec.getBinary(r)
      // only IsNull/IsNotNull are pushable on arrays — the evaluator
      // needs null-or-not, never the value
      case ArrayType(_, _) =>
        (r: Int) => if (vec.isNullAt(r)) null else vec.getArray(r)
      case other => throw new IllegalStateException(
        s"graftshard: filter over non-filterable type ${other.sql}")
    }
  }
  private val vals = new Array[Any](readCols.length)
  // per-eval referenced slots: what decides whether a predicate can be
  // DOMAIN-evaluated against a chunk dictionary (all refs = one slot)
  private val evalSlots: Array[Array[Int]] =
    pushed.map(_.references.distinct.map(slotOf))
  // DOMAIN-evaluated predicates, rebuilt per batch: for each filter
  // slot served by a dictionary THIS batch, the conjunction of every
  // pushed predicate referencing exactly that slot is evaluated ONCE
  // PER DISTINCT ENTRY (plus once for null) — the row loop then tests
  // a boolean per 1-2 B id instead of boxing a UTF8String per row.
  // Evaluating the dictionary's domain instead of the column is the
  // classic vectorized-engine move: a 64k-row group over a 1k-entry
  // lang/source column pays 1k predicate evaluations, not 64k.
  private var domSlots: Array[Int] = Array.empty
  private var domTables: Array[Array[Boolean]] = Array.empty
  private var domNullOk: Array[Boolean] = Array.empty
  private var rowEvals: Array[Array[Any] => Boolean] = evals

  /** Folds single-slot predicates onto their dictionary's domain for
    * the current batch; everything else stays row-evaluated. Called
    * once per batch (dictionaries are per-chunk, so the split can
    * change batch to batch). */
  private def prepareDomainEvals(): Unit = {
    var anyDict = false
    var i = 0
    while (i < filterSlots.length && !anyDict) {
      if (dictIds(filterSlots(i)) != null) anyDict = true
      i += 1
    }
    if (!anyDict) {
      domSlots = Array.empty; rowEvals = evals
      return
    }
    val bySlot = scala.collection.mutable.LinkedHashMap.empty[Int, List[Int]]
    val rest = Array.newBuilder[Array[Any] => Boolean]
    var e = 0
    while (e < evals.length) {
      val slots = evalSlots(e)
      if (slots.length == 1 && dictIds(slots(0)) != null)
        bySlot.updateWith(slots(0))(l => Some(e :: l.getOrElse(Nil))): Unit
      else rest += evals(e)
      e += 1
    }
    rowEvals = rest.result()
    domSlots = bySlot.keysIterator.toArray
    domTables = new Array[Array[Boolean]](domSlots.length)
    domNullOk = new Array[Boolean](domSlots.length)
    var d = 0
    while (d < domSlots.length) {
      val slot = domSlots(d)
      val dict = dictObj(slot).asInstanceOf[ShardChunkDictionary]
      val idx = bySlot(slot)
      val isStr = readTypes(slot) == StringType
      val tbl = new Array[Boolean](dict.entryCount)
      var k = 0
      while (k < tbl.length) {
        val bytes = dict.decodeToBinary(k)
        vals(slot) =
          if (isStr) org.apache.spark.unsafe.types.UTF8String.fromBytes(bytes)
          else bytes
        var ok = true
        idx.foreach(i => ok = ok && evals(i)(vals))
        tbl(k) = ok
        k += 1
      }
      vals(slot) = null
      var nullOk = true
      idx.foreach(i => nullOk = nullOk && evals(i)(vals))
      domTables(d) = tbl
      domNullOk(d) = nullOk
      d += 1
    }
  }
  private val selected = new Array[Boolean](capacity)
  // physical ordinal of the current batch's first staged row: staged
  // row r is ordinal batchStart + r — the _pos currency, and what keeps
  // it exact under DV/filter compaction
  private var batchStart = 0L

  private val groupSkip: ShardFormat.GroupStats => Boolean =
    ShardFilters.groupSkipper(pushed)
  private val bloomProbes: Array[(String, Array[Long])] =
    ShardFilters.bloomProbes(pushed)

  // equality deletes, loaded ONCE per task (the read-side tax of upsert
  // ingestion): (key slot, key set, delete seq), applied to files with
  // fileSeq < seq (an upsert's own inserts carry the delete's seq)
  private lazy val eqSets: Array[(Int, ShardFormat.EqKeySet, Long)] =
    eqDeletes.map { case (c, p, seq) =>
      (slotOf(c), ShardFormat.readEqKeySidecar(new File(p)), seq)
    }.toArray
  private var activeEq: Array[(Int, ShardFormat.EqKeySet)] = Array.empty
  // equality-delete DOMAIN tables (per batch): a string key set over a
  // dict-served slot tests one boolean per 1-2 B id instead of boxing
  // a UTF8String per row — the same fold the filter path uses. Key
  // sets over non-dict slots (or integral keys) stay in eqRowChecks.
  private var eqDomSlots: Array[Int] = Array.empty
  private var eqDomTables: Array[Array[Boolean]] = Array.empty
  private var eqRowChecks: Array[(Int, ShardFormat.EqKeySet)] = Array.empty

  /** Splits the file's active equality deletes into dictionary-domain
    * tables vs row checks for the current batch. */
  private def prepareEqDomain(): Unit = {
    var anyDict = false
    var i = 0
    while (i < activeEq.length && !anyDict) {
      val (slot, set) = activeEq(i)
      if (set.isString && dictIds(slot) != null) anyDict = true
      i += 1
    }
    if (!anyDict) {
      eqDomSlots = Array.empty; eqRowChecks = activeEq
      return
    }
    val ds = Array.newBuilder[Int]
    val dt = Array.newBuilder[Array[Boolean]]
    val rest = Array.newBuilder[(Int, ShardFormat.EqKeySet)]
    var e = 0
    while (e < activeEq.length) {
      val (slot, set) = activeEq(e)
      if (set.isString && dictIds(slot) != null) {
        val dict = dictObj(slot).asInstanceOf[ShardChunkDictionary]
        val tbl = new Array[Boolean](dict.entryCount)
        var k = 0
        while (k < tbl.length) {
          tbl(k) = set.contains(org.apache.spark.unsafe.types.UTF8String
            .fromBytes(dict.decodeToBinary(k)))
          k += 1
        }
        ds += slot; dt += tbl
      } else rest += ((slot, set))
      e += 1
    }
    eqDomSlots = ds.result(); eqDomTables = dt.result()
    eqRowChecks = rest.result()
  }

  /** True when the staged row at `r` is equality-deleted (null keys
    * never match — SQL semantics). */
  private def eqDeletedAt(r: Int): Boolean = {
    var d = 0
    while (d < eqDomSlots.length) {
      val slot = eqDomSlots(d)
      if (!staging(slot).isNullAt(r) &&
          eqDomTables(d)(dictIds(slot).getDictId(r))) return true
      d += 1
    }
    var i = 0
    while (i < eqRowChecks.length) {
      val (slot, set) = eqRowChecks(i)
      val vec = staging(slot)
      if (!vec.isNullAt(r)) {
        val hit = readTypes(slot) match {
          case LongType => !set.isString && set.contains(vec.getLong(r))
          case IntegerType => !set.isString && set.contains(vec.getInt(r).toLong)
          case StringType => set.isString && set.contains(vec.getUTF8String(r))
          case _ => false
        }
        if (hit) return true
      }
      i += 1
    }
    false
  }

  // dictionary-id vectors, one per staging slot that accepted a
  // dictionary offer for the CURRENT batch (codec-2 string chunks kept
  // encoded at rest): the vector reads through
  // WritableColumnVector.setDictionary — ids fill as small ints, each
  // distinct value materializes ONCE per chunk instead of once per cell
  private val dictIds = new Array[WritableColumnVector](readCols.length)
  // the Dictionary object mounted on each staging slot this batch —
  // WritableColumnVector has no public getter, and the COMPACT path
  // re-mounts the same object on the output vector to copy 1-2 B ids
  // instead of bytes per surviving cell
  private val dictObj = new Array[Dictionary](readCols.length)
  // per-OUTPUT-position dictionary-id vectors (compact path)
  private val outDictIds = new Array[WritableColumnVector](required.fields.length)

  /** One chunk's distinct string values behind Spark's vector
    * [[Dictionary]] face. Entries are shared (never mutated) — the
    * same no-copy contract Spark's parquet dictionary uses. */
  private final class ShardChunkDictionary(entries: Array[Array[Byte]])
      extends Dictionary {
    val entryCount: Int = entries.length
    override def decodeToBinary(id: Int): Array[Byte] = entries(id)
    override def decodeToInt(id: Int): Int =
      throw new UnsupportedOperationException("string dictionary")
    override def decodeToLong(id: Int): Long =
      throw new UnsupportedOperationException("string dictionary")
    override def decodeToFloat(id: Int): Float =
      throw new UnsupportedOperationException("string dictionary")
    override def decodeToDouble(id: Int): Double =
      throw new UnsupportedOperationException("string dictionary")
  }

  /** Resets the staging vectors for the next batch, dropping any
    * per-chunk dictionaries (reset() does NOT clear them — a stale
    * dictionary would misread the next chunk's plain cells). */
  private def resetStaging(): Unit = {
    var s = 0
    while (s < staging.length) {
      staging(s).reset()
      if (dictIds(s) != null) {
        staging(s).setDictionary(null); dictIds(s) = null; dictObj(s) = null
      }
      s += 1
    }
  }

  private val sink: ShardFormat.BatchSink = new ShardFormat.BatchSink {
    override def putNull(s: Int, r: Int): Unit = staging(s).putNull(r)
    override def putBoolean(s: Int, r: Int, v: Boolean): Unit = staging(s).putBoolean(r, v)
    override def putBytes(s: Int, r: Int, b: Array[Byte], off: Int, len: Int): Unit = {
      staging(s).putByteArray(r, b, off, len): Unit
    }
    override def putFloats(s: Int, r: Int, v: Array[Float], off: Int, len: Int): Unit = {
      val child = staging(s).arrayData()
      val start = child.appendFloats(len, v, off)
      staging(s).putArray(r, start, len)
    }
    override def putInts(s: Int, r: Int, v: Array[Int], off: Int, len: Int): Unit = {
      val child = staging(s).arrayData()
      val start = child.appendInts(len, v, off)
      staging(s).putArray(r, start, len)
    }
    override def putLongs(s: Int, r: Int, v: Array[Long], off: Int, len: Int): Unit = {
      val child = staging(s).arrayData()
      val start = child.appendLongs(len, v, off)
      staging(s).putArray(r, start, len)
    }
    override def setDictionary(s: Int, bytes: Array[Byte], offs: Array[Int],
        lens: Array[Int], count: Int): Boolean = readTypes(s) match {
      case StringType | BinaryType =>
        val entries = new Array[Array[Byte]](count)
        var k = 0
        while (k < count) {
          entries(k) = java.util.Arrays.copyOfRange(bytes, offs(k), offs(k) + lens(k))
          k += 1
        }
        val d = new ShardChunkDictionary(entries)
        staging(s).setDictionary(d)
        dictObj(s) = d
        dictIds(s) = staging(s).reserveDictionaryIds(capacity)
        true
      case _ => false // a widened/other type: take materialized cells
    }
    override def putDictId(s: Int, r: Int, id: Int): Unit =
      dictIds(s).putInt(r, id)
    // bulk fixed-width fills: one vector arraycopy + nNulls marks —
    // garbage at null positions is never read (accessors null-check)
    override def putLongsBulk(s: Int, n: Int, vals: Array[Long],
        nullRows: Array[Int], nNulls: Int): Unit = {
      if (!intDecimal(s)) staging(s).putLongs(0, n, vals, 0)
      else {
        var r = 0
        while (r < n) { staging(s).putInt(r, vals(r).toInt); r += 1 }
      }
      var k = 0
      while (k < nNulls) { staging(s).putNull(nullRows(k)); k += 1 }
    }
    override def putIntsBulk(s: Int, n: Int, vals: Array[Int],
        nullRows: Array[Int], nNulls: Int): Unit = {
      staging(s).putInts(0, n, vals, 0)
      var k = 0
      while (k < nNulls) { staging(s).putNull(nullRows(k)); k += 1 }
    }
    override def putDoublesBulk(s: Int, n: Int, vals: Array[Double],
        nullRows: Array[Int], nNulls: Int): Unit = {
      staging(s).putDoubles(0, n, vals, 0)
      var k = 0
      while (k < nNulls) { staging(s).putNull(nullRows(k)); k += 1 }
    }
    override def putFloatsBulk(s: Int, n: Int, vals: Array[Float],
        nullRows: Array[Int], nNulls: Int): Unit = {
      staging(s).putFloats(0, n, vals, 0)
      var k = 0
      while (k < nNulls) { staging(s).putNull(nullRows(k)); k += 1 }
    }
  }
  // typed compaction copies, one per OUTPUT position: (staging row,
  // output row) — metadata positions synthesize from the reader state
  private val compactPut: Array[(Int, Int) => Unit] =
    required.fields.indices.map { j =>
      if (!mayCompact) (_: Int, _: Int) => ()
      else outMap(j) match {
        case -1 => (_: Int, o: Int) => {
          val b = fileNameBytes
          output(j).putByteArray(o, b, 0, b.length): Unit
        }
        case -2 => (r: Int, o: Int) => output(j).putLong(o, batchStart + r)
        case s =>
          val st = staging(s)
          val out = output(j)
          readTypes(s) match {
            case _: DecimalType if intDecimal(s) => (r: Int, o: Int) =>
              if (st.isNullAt(r)) out.putNull(o) else out.putInt(o, st.getInt(r))
            case LongType | (_: DecimalType) => (r: Int, o: Int) =>
              // decimal vectors at precision 10-18 are long-backed: the
              // unscaled long copies straight across
              if (st.isNullAt(r)) out.putNull(o) else out.putLong(o, st.getLong(r))
            case IntegerType => (r: Int, o: Int) =>
              if (st.isNullAt(r)) out.putNull(o) else out.putInt(o, st.getInt(r))
            case DoubleType => (r: Int, o: Int) =>
              if (st.isNullAt(r)) out.putNull(o) else out.putDouble(o, st.getDouble(r))
            case FloatType => (r: Int, o: Int) =>
              if (st.isNullAt(r)) out.putNull(o) else out.putFloat(o, st.getFloat(r))
            case BooleanType => (r: Int, o: Int) =>
              if (st.isNullAt(r)) out.putNull(o) else out.putBoolean(o, st.getBoolean(r))
            case StringType | BinaryType => (r: Int, o: Int) =>
              if (st.isNullAt(r)) out.putNull(o)
              else if (st.hasDictionary) {
                // dictionary TRANSFER: survivors copy their 1-2 B id,
                // the output vector reads through the same chunk
                // dictionary the staging vector mounted
                if (!out.hasDictionary) {
                  out.setDictionary(dictObj(s))
                  outDictIds(j) = out.reserveDictionaryIds(capacity)
                }
                outDictIds(j).putInt(o, st.getDictionaryIds.getDictId(r))
              } else {
                val b = st.getBinary(r)
                out.putByteArray(o, b, 0, b.length): Unit
              }
            case ArrayType(FloatType, _) => (r: Int, o: Int) =>
              if (st.isNullAt(r)) out.putNull(o)
              else {
                val a = st.getArray(r).toFloatArray
                val child = out.arrayData()
                val start = child.appendFloats(a.length, a, 0)
                out.putArray(o, start, a.length)
              }
            case ArrayType(IntegerType, _) => (r: Int, o: Int) =>
              if (st.isNullAt(r)) out.putNull(o)
              else {
                val a = st.getArray(r).toIntArray
                val child = out.arrayData()
                val start = child.appendInts(a.length, a, 0)
                out.putArray(o, start, a.length)
              }
            case ArrayType(LongType, _) => (r: Int, o: Int) =>
              if (st.isNullAt(r)) out.putNull(o)
              else {
                val a = st.getArray(r).toLongArray
                val child = out.arrayData()
                val start = child.appendLongs(a.length, a, 0)
                out.putArray(o, start, a.length)
              }
            case other => throw new IllegalStateException(
              s"graftshard: columnar reader admitted unsupported type ${other.sql}")
          }
      }
    }.toArray

  private var fileIdx = -1
  private var reader: ShardFormat.ShardReader = _
  private var current: ColumnarBatch = _
  private var fileNameBytes: Array[Byte] = Array.emptyByteArray
  // merge-on-read: sorted delete-vector ordinals of the current file;
  // dvIdx walks them monotonically with the batch ordinals
  private var dv: Array[Long] = Array.emptyLongArray
  private var dvIdx: Int = 0
  // custom-metric counts: row groups skipped by the files already
  // closed (the open file's count is added on report), files skipped
  // whole by their bloom sidecar
  private var groupsSkippedClosed: Long = 0L
  private var bloomSkippedFiles: Long = 0L

  private def closeFile(): Unit = {
    groupsSkippedClosed += reader.groupsSkipped
    reader.close()
    reader = null
  }

  override def currentMetricsValues(): Array[CustomTaskMetric] = Array(
    GraftShardScan.taskMetric(GraftShardScan.GroupsSkippedMetric,
      groupsSkippedClosed + (if (reader == null) 0 else reader.groupsSkipped)),
    GraftShardScan.taskMetric(GraftShardScan.BloomSkippedFilesMetric, bloomSkippedFiles))

  override def next(): Boolean = {
    if (emitted >= cap) { close(); return false }
    while (true) {
      if (reader == null) {
        fileIdx += 1
        if (fileIdx >= files.length) return false
        if (ShardFilters.bloomSkipsFile(bloomProbes, files(fileIdx)._4, resolve.aliases)) {
          // the sidecar proves no row matches: never opened (the DV is
          // never opened either — deleted rows cannot match any better)
          bloomSkippedFiles += 1
        } else {
          val f = new File(files(fileIdx)._1)
          fileNameBytes = f.getName.getBytes(java.nio.charset.StandardCharsets.UTF_8)
          reader = new ShardFormat.ShardReader(
            f, fullSchema, readIndices, groupSkip, resolve)
          dv = files(fileIdx)._3
            .map(d => ShardFormat.readDeleteVector(new File(d)))
            .getOrElse(Array.emptyLongArray)
          dvIdx = 0
          val fileSeq = files(fileIdx)._5
          activeEq =
            if (eqDeletes.isEmpty) Array.empty
            else eqSets.collect { case (slot, set, seq) if fileSeq < seq => (slot, set) }
        }
      } else {
        resetStaging()
        val n = reader.nextBatch { rows =>
          require(rows <= capacity,
            s"graftshard: row group of $rows rows exceeds the vector " +
              s"capacity $capacity — not written by this library's writer")
          sink
        }
        if (n < 0) closeFile()
        if (n > 0) {
          if (evals.isEmpty && dv.isEmpty && activeEq.isEmpty && !hasMeta) {
            // every row survives: expose the staged vectors zero-copy,
            // truncated to the limit's remainder (a prefix subset is a
            // valid partial LIMIT answer — Spark's Limit finishes)
            val m = math.min(n, cap - emitted)
            stagingBatch.setNumRows(m)
            emitted += m
            current = stagingBatch
            return true
          }
          // batch ordinals are [start, start+n)
          batchStart = reader.ordinal - n + 1
          // unified selection: absorbed predicates AND merge-on-read
          // delete ordinals deselect staged rows the same way
          var kept = n
          java.util.Arrays.fill(selected, 0, n, true)
          if (dv.nonEmpty) {
            while (dvIdx < dv.length && dv(dvIdx) < batchStart) dvIdx += 1
            while (dvIdx < dv.length && dv(dvIdx) < batchStart + n) {
              selected((dv(dvIdx) - batchStart).toInt) = false
              kept -= 1
              dvIdx += 1
            }
          }
          if (evals.nonEmpty) prepareDomainEvals()
          if (activeEq.nonEmpty) prepareEqDomain()
          var r = 0
          while ((evals.nonEmpty || activeEq.nonEmpty) && r < n) {
            if (selected(r)) {
              var ok = true
              // dictionary-domain predicates: a boolean per id lookup
              var d = 0
              while (ok && d < domSlots.length) {
                val slot = domSlots(d)
                ok =
                  if (staging(slot).isNullAt(r)) domNullOk(d)
                  else domTables(d)(dictIds(slot).getDictId(r))
                d += 1
              }
              if (ok && rowEvals.nonEmpty) {
                var fi = 0
                while (fi < filterSlots.length) {
                  vals(filterSlots(fi)) = boxOf(fi)(r)
                  fi += 1
                }
                var e = 0
                while (ok && e < rowEvals.length) { ok = rowEvals(e)(vals); e += 1 }
              }
              if (ok && activeEq.nonEmpty && eqDeletedAt(r)) ok = false
              if (!ok) { selected(r) = false; kept -= 1 }
            }
            r += 1
          }
          if (kept == n && !hasMeta) {
            // every row matched: expose the staged vectors zero-copy
            val m = math.min(n, cap - emitted)
            stagingBatch.setNumRows(m)
            emitted += m
            current = stagingBatch
            return true
          }
          if (kept > 0) {
            {
              var j = 0
              while (j < output.length) {
                output(j).reset()
                if (outDictIds(j) != null) {
                  output(j).setDictionary(null); outDictIds(j) = null
                }
                j += 1
              }
            }
            val allowed = cap - emitted
            var o = 0
            r = 0
            while (r < n && o < allowed) {
              if (selected(r)) {
                var j = 0
                while (j < compactPut.length) {
                  compactPut(j)(r, o)
                  j += 1
                }
                o += 1
              }
              r += 1
            }
            if (o > 0) {
              outputBatch.setNumRows(o)
              emitted += o
              current = outputBatch
              return true
            }
          }
          // kept == 0: fall through to the next batch
        }
      }
    }
    false // unreachable
  }

  override def get(): ColumnarBatch = current
  // an early stop (cancellation, exception, upstream abort) leaves the
  // in-flight ShardReader open — close it here, not only at clean EOF
  override def close(): Unit = {
    if (reader != null) closeFile()
    staging.foreach(_.close())
    output.foreach(_.close())
  }
}

/** Pushability, file-level skipping, and row-level evaluation for the
  * supported filter subset. One definition serves all three so they
  * cannot drift: a filter is pushable iff `compile` can build an
  * evaluator for it, and `mayContain` is its sound relaxation over
  * manifest stats (never skips a file that could hold a match). */
object ShardFilters {

  /** Column types whose literals we compare row-level. Doubles/floats
    * stay with Spark: their NaN/-0.0 total order is engine-defined and
    * a half-matching reimplementation is a silent-wrongness class. */
  private def comparable(dt: DataType): Boolean = dt match {
    case LongType | IntegerType | StringType | BooleanType | TimestampType |
        TimestampNTZType | DateType => true
    case dt: DecimalType => dt.precision <= 18
    case _ => false
  }

  private def colType(name: String, schema: StructType): Option[DataType] =
    schema.fields.find(_.name == name).map(_.dataType)

  private def integral(c: String, schema: StructType): Boolean =
    colType(c, schema).exists(dt => dt == LongType || dt == IntegerType ||
      dt == TimestampType || dt == TimestampNTZType || dt == DateType)

  private def decimalCol(c: String, schema: StructType): Option[DecimalType] =
    colType(c, schema).collect { case d: DecimalType if d.precision <= 18 => d }

  private def stringCol(c: String, schema: StructType): Boolean =
    colType(c, schema).contains(StringType)

  /** Range comparisons are pushable on integral AND string columns —
    * strings compare in UTF8String's unsigned byte order (= Unicode
    * codepoint order), the order Spark's own comparisons use, so the
    * absorbed evaluation can never disagree with the engine's. */
  def pushable(f: Filter, schema: StructType): Boolean = f match {
    case EqualTo(c, v) => v != null && colType(c, schema).exists(comparable)
    case GreaterThan(c, v) => integral(c, schema) ||
      decimalCol(c, schema).isDefined ||
      (v.isInstanceOf[String] && stringCol(c, schema))
    case GreaterThanOrEqual(c, v) => integral(c, schema) ||
      decimalCol(c, schema).isDefined ||
      (v.isInstanceOf[String] && stringCol(c, schema))
    case LessThan(c, v) => integral(c, schema) ||
      decimalCol(c, schema).isDefined ||
      (v.isInstanceOf[String] && stringCol(c, schema))
    case LessThanOrEqual(c, v) => integral(c, schema) ||
      decimalCol(c, schema).isDefined ||
      (v.isInstanceOf[String] && stringCol(c, schema))
    case In(c, vs) => vs.forall(_ != null) && colType(c, schema).exists(comparable)
    case StringStartsWith(c, p) => p != null && stringCol(c, schema)
    case IsNull(c) => colType(c, schema).isDefined
    case IsNotNull(c) => colType(c, schema).isDefined
    case _ => false
  }

  /** Rewrites predicates over DECIMAL columns into the column's
    * UNSCALED-long space AT THE PUSHDOWN BOUNDARY, so every downstream
    * consumer — stats proofs (mayContain/mustMatchAll), group skipping,
    * bloom probes, the compiled row/batch evaluators — sees plain
    * longs and needs no scale context. Literal scales differing from
    * the column's resolve here, once: an inexact EQUALITY literal can
    * match nothing (AlwaysFalse); inexact RANGE bounds tighten to the
    * nearest representable grid point (`> v` between grid points is
    * `>= ceil(v)`, `< v` is `<= floor(v)`); out-of-range bounds clamp.
    * Non-decimal predicates pass through untouched. */
  def normalizeDecimals(f: Filter, schema: StructType): Filter = {
    def bd(v: Any): java.math.BigDecimal = v match {
      case b: java.math.BigDecimal => b
      case b: scala.math.BigDecimal => b.bigDecimal
      case d: Decimal => d.toJavaBigDecimal
      case n: Number => new java.math.BigDecimal(n.toString)
    }
    def exact(v: Any, dt: DecimalType): Option[Long] =
      try Some(bd(v).setScale(dt.scale, java.math.RoundingMode.UNNECESSARY)
        .unscaledValue().longValueExact())
      catch { case _: ArithmeticException => None }
    def clamp(b: java.math.BigInteger): Long =
      if (b.bitLength() >= 64)
        (if (b.signum() > 0) Long.MaxValue else Long.MinValue)
      else b.longValueExact()
    def floorOf(v: Any, dt: DecimalType): Long = clamp(
      bd(v).setScale(dt.scale, java.math.RoundingMode.FLOOR).unscaledValue())
    def ceilOf(v: Any, dt: DecimalType): Long = clamp(
      bd(v).setScale(dt.scale, java.math.RoundingMode.CEILING).unscaledValue())
    f match {
      case EqualTo(c, v) if v != null => decimalCol(c, schema) match {
        case Some(dt) =>
          exact(v, dt).map(l => EqualTo(c, Long.box(l)): Filter)
            .getOrElse(AlwaysFalse())
        case None => f
      }
      case In(c, vs) => decimalCol(c, schema) match {
        case Some(dt) =>
          val kept = vs.flatMap(v => exact(v, dt)).map(Long.box(_): Any)
          if (kept.isEmpty) AlwaysFalse() else In(c, kept)
        case None => f
      }
      case GreaterThan(c, v) => decimalCol(c, schema) match {
        case Some(dt) => exact(v, dt) match {
          case Some(l) => GreaterThan(c, Long.box(l))
          case None => GreaterThanOrEqual(c, Long.box(ceilOf(v, dt)))
        }
        case None => f
      }
      case GreaterThanOrEqual(c, v) => decimalCol(c, schema) match {
        case Some(dt) => GreaterThanOrEqual(c, Long.box(ceilOf(v, dt)))
        case None => f
      }
      case LessThan(c, v) => decimalCol(c, schema) match {
        case Some(dt) => exact(v, dt) match {
          case Some(l) => LessThan(c, Long.box(l))
          case None => LessThanOrEqual(c, Long.box(floorOf(v, dt)))
        }
        case None => f
      }
      case LessThanOrEqual(c, v) => decimalCol(c, schema) match {
        case Some(dt) => LessThanOrEqual(c, Long.box(floorOf(v, dt)))
        case None => f
      }
      case other => other
    }
  }

  /** Long value of a pushed integral-or-timestamp literal. DSv2 hands
    * TimestampType literals as java.sql.Timestamp (or java.time.Instant
    * under spark.sql.datetime.java8API.enabled) — both convert through
    * Spark's own DateTimeUtils, so absorbed comparisons and stats
    * proofs use exactly the engine's epoch-micros. */
  private def asLong(v: Any): Long = v match {
    case n: Number => n.longValue()
    case t: java.sql.Timestamp =>
      org.apache.spark.sql.catalyst.util.DateTimeUtils.fromJavaTimestamp(t)
    case i: java.time.Instant =>
      org.apache.spark.sql.catalyst.util.DateTimeUtils.instantToMicros(i)
    case d: java.time.LocalDateTime => // TIMESTAMP_NTZ literals
      org.apache.spark.sql.catalyst.util.DateTimeUtils.localDateTimeToMicros(d)
    case d: java.sql.Date => // DATE literals: days since epoch
      org.apache.spark.sql.catalyst.util.DateTimeUtils.fromJavaDate(d).toLong
    case d: java.time.LocalDate =>
      org.apache.spark.sql.catalyst.util.DateTimeUtils.localDateToDays(d).toLong
    case other => throw new IllegalArgumentException(s"not integral: $other")
  }


  /** Filters whose all-match/no-match question [[mustMatchAll]]/
    * [[mayContain]] can answer — the metadata-DELETE admission test. */
  def decidable(f: Filter, schema: StructType): Boolean = f match {
    case _: AlwaysTrue | _: AlwaysFalse => true
    case other => pushable(other, schema)
  }

  /** Filters whose [[mustMatchAll]] proof is EXACT from per-file stats:
    * every referenced column carries min/max/null-count (integral
    * types). For these, "stats cannot prove all-match" means "the file
    * really holds a non-matching or null row" — the REPLACE WHERE
    * commit check is entitled to reject on a failed proof. Boolean
    * columns carry no stats, and string bounds are only CONDITIONALLY
    * present (dropped past [[ShardFormat.StrStatsMaxBytes]]), so their
    * proofs can be vacuous and must not reject — string predicates
    * still get opportunistic metadata DELETEs via [[mustMatchAll]]/
    * [[mayContain]], they just can't ENTITLE a commit rejection. */
  def statsDecidable(f: Filter, schema: StructType): Boolean = f match {
    case _: AlwaysTrue | _: AlwaysFalse => true
    case other => decidable(other, schema) &&
      other.references.nonEmpty && other.references.forall(integral(_, schema))
  }

  /** The ONE admission rule for every metadata-only mutation (DELETE,
    * REPLACE WHERE — plan-time and commit-time): the file is provably
    * entirely inside the predicate (droppable/replaceable) or provably
    * entirely outside (keepable). Shared so the surfaces cannot drift. */
  def provablyAllInOrAllOut(filters: Array[Filter], fe: ShardFormat.FileEntry): Boolean =
    filters.forall(mustMatchAll(_, fe)) || !filters.forall(mayContain(_, fe))

  private def u8(s: String): UTF8String = UTF8String.fromString(s)

  /** PROOF that every row of the file satisfies the filter, from
    * per-file stats alone — the dual of [[mayContain]]. Conservative:
    * false whenever stats cannot prove it (booleans carry no stats; a
    * string file with a cap-exceeding value carries none; any null
    * makes a comparison UNKNOWN, so comparisons demand a zero null
    * count). String bounds are EXACT ([[ShardFormat.StrStatsMaxBytes]]
    * rule), so when present they prove just like integral ones — which
    * is what admits metadata-only DELETE / REPLACE WHERE on string
    * predicates over string-clustered layouts. */
  def mustMatchAll(f: Filter, fe: ShardFormat.FileEntry): Boolean = {
    def stat(c: String): Option[(Long, Long, Long)] = fe.stats.get(c)
    def sstat(c: String): Option[(UTF8String, UTF8String, Long)] =
      fe.strStats.get(c).map { case (mn, mx, nl) => (u8(mn), u8(mx), nl) }
    def nulls(c: String): Option[Long] =
      fe.stats.get(c).map(_._3).orElse(fe.strStats.get(c).map(_._3))
        .orElse(fe.allNull.get(c))
    f match {
      case _: AlwaysTrue => true
      case _: AlwaysFalse => false
      case EqualTo(c, v: String) =>
        sstat(c).exists { case (mn, mx, nl) =>
          nl == 0 && mn == mx && mn == u8(v) }
      case EqualTo(c, v) =>
        stat(c).exists { case (mn, mx, nl) => nl == 0 && mn == mx && mn == asLong(v) }
      case In(c, vs) if vs.forall(_.isInstanceOf[String]) =>
        sstat(c).exists { case (mn, mx, nl) =>
          nl == 0 && mn == mx && vs.exists(v => u8(v.asInstanceOf[String]) == mn) }
      case In(c, vs) =>
        stat(c).exists { case (mn, mx, nl) =>
          nl == 0 && mn == mx && vs.exists(v => asLong(v) == mn) }
      case GreaterThan(c, v: String) =>
        sstat(c).exists { case (mn, _, nl) => nl == 0 && mn.compareTo(u8(v)) > 0 }
      case GreaterThan(c, v) =>
        stat(c).exists { case (mn, _, nl) => nl == 0 && mn > asLong(v) }
      case GreaterThanOrEqual(c, v: String) =>
        sstat(c).exists { case (mn, _, nl) => nl == 0 && mn.compareTo(u8(v)) >= 0 }
      case GreaterThanOrEqual(c, v) =>
        stat(c).exists { case (mn, _, nl) => nl == 0 && mn >= asLong(v) }
      case LessThan(c, v: String) =>
        sstat(c).exists { case (_, mx, nl) => nl == 0 && mx.compareTo(u8(v)) < 0 }
      case LessThan(c, v) =>
        stat(c).exists { case (_, mx, nl) => nl == 0 && mx < asLong(v) }
      case LessThanOrEqual(c, v: String) =>
        sstat(c).exists { case (_, mx, nl) => nl == 0 && mx.compareTo(u8(v)) <= 0 }
      case LessThanOrEqual(c, v) =>
        stat(c).exists { case (_, mx, nl) => nl == 0 && mx <= asLong(v) }
      case StringStartsWith(c, p) =>
        // every string in [min, max] starts with p iff both bounds do
        sstat(c).exists { case (mn, mx, nl) =>
          nl == 0 && mn.startsWith(u8(p)) && mx.startsWith(u8(p)) }
      case IsNull(c) => nulls(c).contains(fe.rows)
      case IsNotNull(c) => nulls(c).contains(0L)
      case _ => false
    }
  }

  /** Sound file-level skip test from manifest stats. Integral and
    * (cap-bounded) string columns carry min/max; everything else —
    * including a string file whose bounds were dropped by the byte cap
    * — answers "may contain". */
  def mayContain(f: Filter, fe: ShardFormat.FileEntry): Boolean = {
    def range(c: String): Option[(Long, Long)] = fe.stats.get(c).map(s => (s._1, s._2))
    def srange(c: String): Option[(UTF8String, UTF8String)] =
      fe.strStats.get(c).map { case (mn, mx, _) => (u8(mn), u8(mx)) }
    def tracked(c: String): Boolean = fe.stats.contains(c) || fe.allNull.contains(c)
    def strTracked(c: String): Boolean = fe.strStats.contains(c) || fe.allNull.contains(c)
    def nulls(c: String): Long =
      fe.stats.get(c).map(_._3).orElse(fe.strStats.get(c).map(_._3))
        .orElse(fe.allNull.get(c)).getOrElse(0L)
    f match {
      case _: AlwaysTrue => true
      case _: AlwaysFalse => false
      case EqualTo(c, v: String) if strTracked(c) =>
        srange(c).exists { case (mn, mx) =>
          u8(v).compareTo(mn) >= 0 && u8(v).compareTo(mx) <= 0 }
      case EqualTo(c, v) if !v.isInstanceOf[String] && tracked(c) =>
        range(c).exists { case (mn, mx) => asLong(v) >= mn && asLong(v) <= mx }
      case GreaterThan(c, v: String) if strTracked(c) =>
        srange(c).exists(_._2.compareTo(u8(v)) > 0)
      case GreaterThan(c, v) if !v.isInstanceOf[String] && tracked(c) =>
        range(c).exists(_._2 > asLong(v))
      case GreaterThanOrEqual(c, v: String) if strTracked(c) =>
        srange(c).exists(_._2.compareTo(u8(v)) >= 0)
      case GreaterThanOrEqual(c, v) if !v.isInstanceOf[String] && tracked(c) =>
        range(c).exists(_._2 >= asLong(v))
      case LessThan(c, v: String) if strTracked(c) =>
        srange(c).exists(_._1.compareTo(u8(v)) < 0)
      case LessThan(c, v) if !v.isInstanceOf[String] && tracked(c) =>
        range(c).exists(_._1 < asLong(v))
      case LessThanOrEqual(c, v: String) if strTracked(c) =>
        srange(c).exists(_._1.compareTo(u8(v)) <= 0)
      case LessThanOrEqual(c, v) if !v.isInstanceOf[String] && tracked(c) =>
        range(c).exists(_._1 <= asLong(v))
      case In(c, vs) if vs.forall(_.isInstanceOf[String]) && strTracked(c) =>
        srange(c).exists { case (mn, mx) => vs.exists { v =>
          val s = u8(v.asInstanceOf[String])
          s.compareTo(mn) >= 0 && s.compareTo(mx) <= 0 } }
      case In(c, vs) if vs.forall(v => !v.isInstanceOf[String]) && tracked(c) =>
        range(c).exists { case (mn, mx) => vs.exists(v => asLong(v) >= mn && asLong(v) <= mx) }
      case StringStartsWith(c, p) if strTracked(c) =>
        // [min, max] intersects {s : s startsWith p} = [p, p∥∞) iff
        // max ≥ p and min < p∥∞ (i.e. min < p or min startsWith p)
        srange(c).exists { case (mn, mx) =>
          mx.compareTo(u8(p)) >= 0 && (mn.compareTo(u8(p)) < 0 || mn.startsWith(u8(p))) }
      case IsNull(c) if tracked(c) || strTracked(c) => nulls(c) > 0
      case IsNotNull(c) if tracked(c) || strTracked(c) => nulls(c) < fe.rows
      case _ => true
    }
  }

  /** Row-level evaluator against the reader's value-slot array.
    * Literals are normalized once (UTF8String for strings, Long for
    * integrals) — not per row. */
  def compile(f: Filter, slotOf: Map[String, Int], schema: StructType): Array[Any] => Boolean = {
    // decimal slots surface catalyst Decimal values (the batch
    // reader's boxOf vector read); predicates were rewritten
    // into unscaled-long space at the pushdown boundary
    // ([[normalizeDecimals]]), so the accessor unwraps to the unscaled
    // long and every comparison below is a plain long compare
    def access(c: String): Array[Any] => Any = {
      val slot = slotOf(c)
      if (colType(c, schema).exists(_.isInstanceOf[DecimalType]))
        vals => vals(slot) match {
          case null => null
          case d: Decimal => java.lang.Long.valueOf(d.toUnscaledLong)
          case other => other
        }
      else vals => vals(slot)
    }
    def norm(c: String, v: Any): Any = (colType(c, schema).get, v) match {
      case (StringType, s: String) => UTF8String.fromString(s)
      case (LongType, n: Number) => java.lang.Long.valueOf(n.longValue())
      case (IntegerType, n: Number) => java.lang.Integer.valueOf(n.intValue())
      case (TimestampType | TimestampNTZType, t) => java.lang.Long.valueOf(asLong(t))
      case (DateType, d) => java.lang.Integer.valueOf(asLong(d).toInt)
      case (_: DecimalType, n: Number) => java.lang.Long.valueOf(n.longValue())
      case (_, other) => other
    }
    // three-way comparator against the literal: integral via Long,
    // strings via UTF8String byte order (the engine's own order)
    def cmp(c: String, v: Any): (Array[Any], Int => Boolean) => Boolean =
      colType(c, schema).get match {
        case StringType =>
          val slot = slotOf(c)
          val lit = UTF8String.fromString(v.asInstanceOf[String])
          (vals, op) => vals(slot) match {
            case null => false
            case u: UTF8String => op(u.compareTo(lit))
            case other => throw new IllegalStateException(s"non-string in cmp: $other")
          }
        case _ =>
          val get = access(c)
          val lit = asLong(v)
          (vals, op) => get(vals) match {
            case null => false
            case n: Number => op(java.lang.Long.compare(n.longValue(), lit))
            case other => throw new IllegalStateException(s"non-numeric in cmp: $other")
          }
      }
    f match {
      case _: AlwaysTrue => _ => true
      case _: AlwaysFalse => _ => false // an inexact decimal equality
      case EqualTo(c, v) =>
        val get = access(c); val lit = norm(c, v)
        vals => { val a = get(vals); a != null && a == lit }
      case In(c, vs) =>
        val get = access(c); val lits = vs.map(norm(c, _)).toSet
        vals => { val a = get(vals); a != null && lits.contains(a) }
      case GreaterThan(c, v) => val e = cmp(c, v); vals => e(vals, _ > 0)
      case GreaterThanOrEqual(c, v) => val e = cmp(c, v); vals => e(vals, _ >= 0)
      case LessThan(c, v) => val e = cmp(c, v); vals => e(vals, _ < 0)
      case LessThanOrEqual(c, v) => val e = cmp(c, v); vals => e(vals, _ <= 0)
      case StringStartsWith(c, p) =>
        val slot = slotOf(c); val lit = UTF8String.fromString(p)
        vals => vals(slot) match {
          case null => false
          case u: UTF8String => u.startsWith(lit)
          case other => throw new IllegalStateException(s"non-string in startsWith: $other")
        }
      case IsNull(c) => val slot = slotOf(c); vals => vals(slot) == null
      case IsNotNull(c) => val slot = slotOf(c); vals => vals(slot) != null
      case other => throw new IllegalArgumentException(s"not pushable: $other")
    }
  }

  /** Bloom-testable REQUIRED conjuncts of the absorbed filters: for
    * each, (column, candidate hashes) — a file whose bloom contains
    * NONE of a conjunct's candidates provably holds no matching row.
    * Only top-level equality/IN on bloom-eligible literal types
    * qualifies (a null literal never equals anything; Or/Not conjuncts
    * don't require the column to take one of finitely many values).
    * Used by the batch reader's per-file bloom test. */
  def bloomProbes(pushed: Array[Filter]): Array[(String, Array[Long])] = {
    def hashOf(v: Any): Option[Long] = v match {
      case l: java.lang.Long => Some(ShardFormat.bloomHashLong(l.longValue()))
      case i: java.lang.Integer => Some(ShardFormat.bloomHashLong(i.longValue()))
      case s: java.lang.Short => Some(ShardFormat.bloomHashLong(s.longValue()))
      case b: java.lang.Byte => Some(ShardFormat.bloomHashLong(b.longValue()))
      case s: String => Some(ShardFormat.bloomHashBytes(
        s.getBytes(java.nio.charset.StandardCharsets.UTF_8)))
      case u: UTF8String => Some(ShardFormat.bloomHashBytes(u.getBytes))
      case b: Array[Byte] => Some(ShardFormat.bloomHashBytes(b))
      case t: java.sql.Timestamp => Some(ShardFormat.bloomHashLong(
        org.apache.spark.sql.catalyst.util.DateTimeUtils.fromJavaTimestamp(t)))
      case i: java.time.Instant => Some(ShardFormat.bloomHashLong(
        org.apache.spark.sql.catalyst.util.DateTimeUtils.instantToMicros(i)))
      case d: java.time.LocalDateTime => Some(ShardFormat.bloomHashLong(
        org.apache.spark.sql.catalyst.util.DateTimeUtils.localDateTimeToMicros(d)))
      case d: java.sql.Date => Some(ShardFormat.bloomHashLong(
        org.apache.spark.sql.catalyst.util.DateTimeUtils.fromJavaDate(d).toLong))
      case d: java.time.LocalDate => Some(ShardFormat.bloomHashLong(
        org.apache.spark.sql.catalyst.util.DateTimeUtils.localDateToDays(d).toLong))
      case _ => None
    }
    pushed.flatMap {
      case EqualTo(col, v) if v != null =>
        hashOf(v).map(h => col -> Array(h))
      case EqualNullSafe(col, v) if v != null =>
        hashOf(v).map(h => col -> Array(h))
      case In(col, vs) if vs != null && vs.nonEmpty =>
        val nonNull = vs.filter(_ != null)
        // a list that was ONLY nulls matches nothing, but that is the
        // stats tier's call — the bloom tier stays out of it
        if (nonNull.isEmpty) None
        else {
          val hs = nonNull.map(hashOf)
          // every candidate must be hashable, else the conjunct can't prove absence
          if (hs.exists(_.isEmpty)) None else Some(col -> hs.map(_.get))
        }
      case _ => None
    }
  }

  /** True when a file's bloom sidecar PROVES no row can match some
    * probe. Sidecar column names are write-time names — resolved
    * through the alias map. */
  def bloomSkipsFile(
      probes: Array[(String, Array[Long])],
      sidecar: Option[String],
      aliases: Map[String, String]): Boolean =
    probes.nonEmpty && sidecar.exists { p =>
      val side = ShardFormat.readBloomSidecar(new File(p))
      val byCurrent =
        if (aliases.isEmpty) side
        else side.map { case (n, b) => aliases.getOrElse(n, n) -> b }
      probes.exists { case (col, hs) =>
        byCurrent.get(col).exists(b => !hs.exists(b.mightContain))
      }
    }

  /** Within-file group skipping: a row group whose header stats
    * prove no row can match is dropped whole — the SAME [[mayContain]]
    * that prunes files from the manifest, over a synthetic one-group
    * FileEntry, so the two levels cannot drift. */
  def groupSkipper(pushed: Array[Filter]): ShardFormat.GroupStats => Boolean =
    if (pushed.isEmpty) _ => false
    else gs => {
      val fe = ShardFormat.FileEntry("", 0L, gs.rows.toLong, gs.stats, gs.allNull,
        strStats = gs.strStats)
      !pushed.forall(mayContain(_, fe))
    }
}
