package graft.sources.v2

import java.io.File

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.distributions.{Distribution, Distributions}
import org.apache.spark.sql.connector.expressions.{Expressions, SortDirection, SortOrder}
import org.apache.spark.sql.connector.write.{BatchWrite, DataWriter, DataWriterFactory, LogicalWriteInfo, PhysicalWriteInfo, RequiresDistributionAndOrdering, SupportsDynamicOverwrite, SupportsOverwrite, Write, WriteBuilder, WriterCommitMessage}
import org.apache.spark.sql.connector.write.streaming.{StreamingDataWriterFactory, StreamingWrite}
import org.apache.spark.sql.sources.{AlwaysTrue, Filter}
import org.apache.spark.sql.types.{IntegerType, LongType, StructType}

/** V2 write path for `graftshard`: each task streams its partition
  * into shard files under task-unique names, returns a commit
  * message carrying (name, bytes, rows, per-column stats) per file,
  * and the DRIVER publishes exactly the committed messages into the
  * manifest with an atomic rename ([[ShardFormat.writeManifest]]).
  *
  * That message-list-is-the-truth protocol is what makes the write
  * speculation-safe without any task-side rename dance: a speculative
  * duplicate or failed attempt leaves an orphan `.shard` file that NO
  * manifest references, so readers never see it (Spark's commit
  * coordinator already guarantees at most one committed attempt per
  * partition). Overwrite (`SupportsOverwrite`: truncate, or REPLACE
  * WHERE under the metadata-DELETE provability rule) is a manifest
  * swap — prior shards become unreferenced garbage for a vacuum with a
  * retention horizon, the standard lake trade; append unions the old
  * manifest's file list with the new messages at commit time (schema
  * equality enforced at PLAN time, not task 10k's stack trace).
  *
  * Key-partitioned writes (`option("partitionKey", col)`): each task
  * writes one file PER DISTINCT KEY VALUE it sees, so every committed
  * file carries exactly one key value — the invariant that lets the
  * read side report `KeyGroupedPartitioning` and plan joins/group-bys
  * on the key with zero exchange ([[GraftShardScan]]). The key column
  * must be integral and non-null (a clear task-side error names the
  * column otherwise); bucket layouts also admit STRING keys, hashed to
  * their raw long. Writer memory is one ~1 MiB buffer per open key
  * per task — `df.repartition(col)` first so each task sees few keys;
  * that is the same contract as Spark's own dynamic partition writes.
  */
class GraftShardWriteBuilder(path: String, info: LogicalWriteInfo)
    extends WriteBuilder with SupportsOverwrite with SupportsDynamicOverwrite {

  // DYNAMIC partition overwrite (`df.writeTo(t).overwritePartitions()`,
  // or INSERT OVERWRITE under partitionOverwriteMode=dynamic): replace
  // exactly the partitions the incoming data lands in, append nowhere
  // else — the daily re-materialization shape. Resolved at COMMIT time
  // from the written files' keys (one key per file, the keyed-write
  // invariant), so the replaced set is exact, not predicted.
  private var dynamic = false
  override def overwriteDynamicPartitions(): WriteBuilder = { dynamic = true; this }

  // None = append; Some(AlwaysTrue) = truncate (SupportsOverwrite's
  // default truncate() routes here); Some(other) = REPLACE WHERE — the
  // metadata-only partition replacement, admitted under exactly the
  // DELETE provability rule (every existing file provably all-match or
  // no-match from its stats)
  private var replaceFilters: Option[Array[Filter]] = None

  private def isTruncate(fs: Array[Filter]): Boolean =
    fs.isEmpty || fs.forall(_.isInstanceOf[AlwaysTrue])
  private def truncateRequested: Boolean = replaceFilters.exists(isTruncate)

  override def overwrite(filters: Array[Filter]): WriteBuilder = {
    replaceFilters = Some(filters)
    this
  }

  override def canOverwrite(filters: Array[Filter]): Boolean =
    isTruncate(filters) || {
      filters.forall(ShardFilters.decidable(_, info.schema())) &&
        ShardFormat.readManifest(path).forall(
          _.files.forall(ShardFilters.provablyAllInOrAllOut(filters, _)))
    }

  override def build(): Write = {
    val schema = info.schema()
    schema.fields.foreach { f =>
      require(ShardFormat.supported(f.dataType),
        s"graftshard: unsupported column type ${f.dataType.sql} for '${f.name}' " +
          "(supported: long, int, double, float, boolean, string, binary, " +
          "timestamp, timestamp_ntz, date, decimal(<=18), array<float>, " +
          "array<int>, array<long>)")
    }
    def validateKey(sp: ShardFormat.PartSpec): Unit = {
      val f = schema.fields.find(_.name == sp.column).getOrElse(throw new IllegalArgumentException(
        s"graftshard: partition key column '${sp.column}' not in write schema ${schema.simpleString}"))
      sp match {
        case ShardFormat.TransformPart(u, c) =>
          require(ShardFormat.TransformUnits(u),
            s"graftshard: unknown partitionTransform '$u' " +
              s"(supported: ${ShardFormat.TransformUnits.toSeq.sorted.mkString(", ")})")
          require(f.dataType == org.apache.spark.sql.types.TimestampType ||
              f.dataType == org.apache.spark.sql.types.TimestampNTZType,
            s"graftshard: partitionTransform '$u' needs a timestamp column, " +
              s"'$c' is ${f.dataType.sql}")
        case ShardFormat.BucketPart(_, c) =>
          // bucket admits strings: the key HASHES to its raw long, so
          // the manifest's partition value stays integral
          require(f.dataType == LongType || f.dataType == IntegerType ||
              f.dataType == org.apache.spark.sql.types.StringType,
            s"graftshard: bucket column '$c' must be long/int/string, " +
              s"got ${f.dataType.sql}")
        case _ =>
          require(f.dataType == LongType || f.dataType == IntegerType,
            s"graftshard: partition key column '${sp.column}' must be integral (long/int), " +
              s"got ${f.dataType.sql} — key-grouped reads compare manifest key values")
      }
    }
    // option("partitionKey", c) -> identity; add
    // option("partitionTransform", days|hours|months|years) for the
    // time-series layout over a timestamp key
    val optionSpec: Option[ShardFormat.PartSpec] =
      Option(info.options.get("partitionKey")).map { c =>
        Option(info.options.get("partitionTransform")).map(_.toLowerCase) match {
          case Some(u) => ShardFormat.TransformPart(u, c)
          case None => ShardFormat.IdentityPart(c)
        }
      }
    val existing = ShardFormat.readManifest(path)
    // the layout is a TABLE property: catalog-created tables carry their
    // (identity or bucket) spec in the manifest from createTable, and
    // INSERT OVERWRITE must keep it; an explicit write option overrides
    // on truncate, must MATCH on append
    val spec: Option[ShardFormat.PartSpec] =
      if (truncateRequested) optionSpec.orElse(existing.flatMap(_.partitioning))
      else existing match {
        case Some(m) =>
          optionSpec.foreach { os =>
            require(m.partitioning.contains(os),
              s"graftshard: append partitionKey $optionSpec does not match the " +
                s"existing table's ${m.partitioning} at '$path' — the " +
                "one-key-per-file invariant must hold across the whole manifest")
          }
          m.partitioning
        case None => optionSpec
      }
    spec.foreach(validateKey)
    if (!truncateRequested) existing.foreach { m =>
      // element containsNull is normalized away like top-level
      // nullability: the record format stores no element bitmap either
      // way (null elements fail the task), so a parquet-default
      // containsNull=true write must append onto a containsNull=false
      // table and vice versa
      def norm(dt: org.apache.spark.sql.types.DataType): org.apache.spark.sql.types.DataType =
        dt match {
          case org.apache.spark.sql.types.ArrayType(e, _) =>
            org.apache.spark.sql.types.ArrayType(e, containsNull = true)
          case other => other
        }
      val same = m.schema.fields.map(f => (f.name, norm(f.dataType))).toSeq ==
        schema.fields.map(f => (f.name, norm(f.dataType))).toSeq
      require(same,
        s"graftshard: append schema ${schema.simpleString} does not match " +
          s"existing table schema ${m.schema.simpleString} at '$path'")
    }
    // sorted layout (`option("sortWithinShards", col)` — or implied by a
    // catalog-table property): the WRITE declares
    // RequiresDistributionAndOrdering — Spark itself clusters rows by
    // the partition transform (the identity key, or bucket(n, col)
    // resolved through the table catalog's FunctionCatalog) and sorts
    // each task by (transform, sortCol), so every shard file is one
    // sorted run by construction (the writer never buffers). The scan
    // then reports that ordering and windows / merge joins over the
    // layout skip their SortExec too — zero exchange AND zero sort from
    // at-rest layout. Bucket transforms resolve only on the CATALOG
    // write face (a path-based write has no FunctionCatalog; Spark's
    // ordering resolution fails with the function name — use the
    // catalog face for bucket-sorted tables).
    val sortCol = Option(info.options.get("sortWithinShards")).map { c =>
      require(spec.isDefined,
        "graftshard: sortWithinShards requires a partitionKey or bucket " +
          "partitioning (each file = one partition value; the per-file " +
          "sort is within that value)")
      require(schema.fieldNames.contains(c),
        s"graftshard: sortWithinShards column '$c' not in write schema")
      c
    }
    // Z-ORDER layout (`option("zorderBy", "a,b")`, catalog face): the
    // write declares an ORDERED distribution on the Morton interleave
    // of the two columns (resolved through the catalog's `zorder`
    // function, codegen'd via its invoke magic), so Spark
    // range-partitions and sorts the rows by z-value — every shard file
    // covers one z-range, i.e. a RECTANGLE-ish region of the 2-D key
    // space, and the manifest's per-file min/max on BOTH columns become
    // tight boxes. A 2-D box predicate then prunes to the files whose
    // boxes intersect it — multi-column data skipping from layout
    // alone, where a 1-D sort gives tight boxes on one column and
    // useless full-range stats on the other. (Delta's OPTIMIZE ZORDER
    // idea, expressed as a declarative write property.)
    val zorderCols = Option(info.options.get("zorderBy")).map { s0 =>
      val cs = s0.split(',').map(_.trim).toSeq
      require(cs.length == 2,
        s"graftshard: zorderBy needs exactly two columns 'a,b', got '$s0'")
      require(spec.isEmpty && sortCol.isEmpty,
        "graftshard: zorderBy is mutually exclusive with partitionKey/" +
          "sortWithinShards (z-order IS the clustering)")
      cs.foreach { c =>
        val f = schema.fields.find(_.name == c).getOrElse(
          throw new IllegalArgumentException(
            s"graftshard: zorderBy column '$c' not in write schema"))
        require(f.dataType == LongType || f.dataType == IntegerType,
          s"graftshard: zorderBy column '$c' must be integral (long/int), " +
            s"got ${f.dataType.sql}")
      }
      cs
    }
    val replace = replaceFilters
    val maxOpen = Option(info.options.get("maxOpenWriters")).map(_.toInt).getOrElse(64)
    // chunk compression is OPT-IN (`option("compression", "deflate")`):
    // the storage/IO-vs-CPU trade belongs to the table owner. Text
    // corpora pay 3-5x storage raw; highly-compressible columns read
    // back slower when deflated (the inflate tax the probe measured) —
    // neither side should be imposed silently. Once chosen, though, the
    // choice is a TABLE property ([[ShardFormat.Manifest.compression]]):
    // appends and overwrites WITHOUT the option inherit it, so routine
    // ingestion can never silently decay a compressed table to raw; an
    // explicit option (incl. "none") overrides for this write.
    val codec = Option(info.options.get("compression")).map(_.toLowerCase) match {
      case Some(c @ ("none" | "dict" | "deflate")) => c
      case Some(other) => throw new IllegalArgumentException(
        s"graftshard: unknown compression '$other' (supported: none, dict, deflate)")
      case None => existing.flatMap(_.compression).getOrElse("none")
    }
    // per-file bloom sidecars, same table-property lifecycle as
    // compression: `option("bloomColumns", "doc_id,url")` records the
    // choice; optionless appends inherit it; an explicit "" clears it
    // for this write. Validated HERE (plan time, with column names) —
    // not 10k tasks deep.
    val bloomCols: Seq[String] = Option(info.options.get("bloomColumns")) match {
      case Some(s) => s.split(",").map(_.trim).filter(_.nonEmpty).toSeq
      case None => existing.map(_.bloomColumns).getOrElse(Nil)
    }
    bloomCols.foreach { c =>
      val f = schema.fields.find(_.name == c).getOrElse(
        throw new IllegalArgumentException(
          s"graftshard: bloomColumns column '$c' not in write schema"))
      require(ShardFormat.bloomEligible(f.dataType),
        s"graftshard: bloomColumns column '$c' must be long/int/string/binary " +
          s"(equality-lookup currency), got ${f.dataType.sql}")
    }
    // per-file NDV sketches, same lifecycle: `option("ndvColumns",
    // "k,user_id")` records the join/group-key columns whose distinct
    // counts the scan should report to the planner
    val ndvCols: Seq[String] = Option(info.options.get("ndvColumns")) match {
      case Some(str) => str.split(",").map(_.trim).filter(_.nonEmpty).toSeq
      case None => existing.map(_.ndvColumns).getOrElse(Nil)
    }
    ndvCols.foreach { c =>
      val f = schema.fields.find(_.name == c).getOrElse(
        throw new IllegalArgumentException(
          s"graftshard: ndvColumns column '$c' not in write schema"))
      require(ShardFormat.ndvEligible(f.dataType),
        s"graftshard: ndvColumns column '$c' must be long/int/string/binary " +
          s"(distinct-count currency), got ${f.dataType.sql}")
    }
    // UPSERT ingestion (`option("upsertKey", "id")`): the commit writes
    // its insert files PLUS an equality delete of the batch's keys
    // against all OLDER files — merging a CDC batch into a 100 TB table
    // is O(batch), zero scan, zero rewrite (Iceberg v2's equality
    // deletes). Readers pay the anti-filter until compaction applies it.
    val upsertKey = Option(info.options.get("upsertKey"))
    upsertKey.foreach { c =>
      val f = schema.fields.find(_.name == c).getOrElse(
        throw new IllegalArgumentException(
          s"graftshard: upsertKey column '$c' not in write schema"))
      require(ShardFormat.upsertKeyEligible(f.dataType),
        s"graftshard: upsertKey column '$c' must be long/int/string, " +
          s"got ${f.dataType.sql}")
      require(replaceFilters.isEmpty,
        "graftshard: upsertKey cannot combine with overwrite/REPLACE WHERE — " +
          "an upsert IS the replacement; use mode append")
      require(zorderCols.isEmpty,
        "graftshard: upsertKey cannot combine with zorderBy (upsert batches " +
          "append; re-cluster with compaction)")
    }
    if (dynamic) {
      require(replaceFilters.isEmpty,
        "graftshard: dynamic partition overwrite cannot combine with " +
          "truncate/REPLACE WHERE")
      require(spec.isDefined,
        "graftshard: dynamic partition overwrite needs a partitioned table " +
          "(identity or bucket) — an unpartitioned table has no partitions " +
          "to replace; use truncate or REPLACE WHERE")
      require(upsertKey.isEmpty && zorderCols.isEmpty,
        "graftshard: dynamic partition overwrite cannot combine with " +
          "upsertKey or zorderBy")
    }
    // write-audit-publish: `option("stageAs", "audit")` publishes the
    // commit as a BRANCH instead of moving the live pointer — readers
    // see nothing until CALL system.publish_branch. Streaming sinks
    // stage too (the audited-ingestion loop): epochs accumulate on the
    // branch chain, whose manifests carry the (queryId → epoch) replay
    // guard exactly like live ones, and publish_branch folds the
    // recorded epochs into the live manifest so a restarted stream
    // never replays published work
    val stageAs = Option(info.options.get("stageAs"))
    stageAs.foreach(b => ShardFormat.branchFile(path, b): Unit) // validate name
    val queryId = info.queryId()
    (sortCol, spec) match {
      case (Some(s), Some(sp)) =>
        new GraftShardWriteWithOrdering(path, schema, replace, sp, s, maxOpen, queryId,
          codec, bloomCols, upsertKey, dynamic, ndvCols, stageAs)
      case _ if zorderCols.isDefined =>
        val Seq(a, b) = zorderCols.get
        // writePartitions pins the range-partition count (0 = let Spark
        // + AQE size them — the production default; tests and targeted
        // layouts pin it)
        val nParts = Option(info.options.get("writePartitions"))
          .map(_.toInt).getOrElse(0)
        new GraftShardZOrderWrite(path, schema, replace, a, b, maxOpen, nParts, codec,
          bloomCols, ndvCols, stageAs)
      case _ =>
        // sortCol here is provably None: a defined sortWithinShards
        // requires a partition spec (the require above)
        new Write {
          override def toBatch: BatchWrite =
            new GraftShardBatchWrite(path, schema, replace, spec, sortCol = None,
              maxOpenWriters = maxOpen, codec = codec, bloomCols = bloomCols,
              upsertKey = upsertKey, dynamicOverwrite = dynamic, ndvCols = ndvCols,
              stageAs = stageAs)
          override def toStreaming: StreamingWrite =
            new GraftShardStreamingWrite(path, queryId,
              new GraftShardBatchWrite(path, schema, replace, spec, sortCol = None,
                maxOpenWriters = maxOpen, codec = codec, bloomCols = bloomCols,
                upsertKey = upsertKey, ndvCols = ndvCols, stageAs = stageAs),
              stageAs)
        }
    }
  }
}

/** The sorted-layout write: Spark is asked to cluster by the partition
  * transform (identity key or bucket) and sort each task by
  * (transform, sortCol) BEFORE rows reach the writer — keys arrive in
  * contiguous sorted runs, so the keyed writer's rotation yields one
  * sorted file per partition value even under the open-writer cap. */
class GraftShardWriteWithOrdering(
    path: String,
    schema: StructType,
    replace: Option[Array[Filter]],
    spec: ShardFormat.PartSpec,
    sortCol: String,
    maxOpenWriters: Int = 64,
    queryId: String = "",
    codec: String = "none",
    bloomCols: Seq[String] = Nil,
    upsertKey: Option[String] = None,
    dynamicOverwrite: Boolean = false,
    ndvCols: Seq[String] = Nil,
    stageAs: Option[String] = None)
    extends Write with RequiresDistributionAndOrdering {

  override def requiredDistribution(): Distribution =
    Distributions.clustered(Array(GraftShardTable.transformOf(spec)))

  override def requiredOrdering(): Array[SortOrder] = Array(
    Expressions.sort(GraftShardTable.transformOf(spec), SortDirection.ASCENDING),
    Expressions.sort(Expressions.column(sortCol), SortDirection.ASCENDING))

  override def toBatch: BatchWrite =
    new GraftShardBatchWrite(path, schema, replace, Some(spec), Some(sortCol),
      maxOpenWriters, codec, bloomCols, upsertKey, dynamicOverwrite,
      ndvCols = ndvCols, stageAs = stageAs)

  override def toStreaming: StreamingWrite =
    new GraftShardStreamingWrite(path, queryId,
      new GraftShardBatchWrite(path, schema, replace, Some(spec), Some(sortCol),
        maxOpenWriters, codec, bloomCols, upsertKey, ndvCols = ndvCols))
}

/** The z-ordered write (see the zorderBy note in
  * [[GraftShardWriteBuilder.build]]): ordered distribution + ordering
  * on `zorder(a, b)` — Spark range-partitions AND sorts by the Morton
  * value before rows reach the plain writer; the layout benefit lives
  * entirely in the manifest's per-file min/max boxes, so the scan
  * needs no new code and no flag. */
class GraftShardZOrderWrite(
    path: String,
    schema: StructType,
    replace: Option[Array[Filter]],
    colA: String,
    colB: String,
    maxOpenWriters: Int,
    numPartitions: Int = 0,
    codec: String = "none",
    bloomCols: Seq[String] = Nil,
    ndvCols: Seq[String] = Nil,
    stageAs: Option[String] = None)
    extends Write with RequiresDistributionAndOrdering {

  private def z: org.apache.spark.sql.connector.expressions.Expression =
    Expressions.apply("zorder", Expressions.column(colA), Expressions.column(colB))

  override def requiredNumPartitions(): Int = numPartitions

  override def requiredDistribution(): Distribution =
    Distributions.ordered(Array(Expressions.sort(z, SortDirection.ASCENDING)))

  override def requiredOrdering(): Array[SortOrder] =
    Array(Expressions.sort(z, SortDirection.ASCENDING))

  override def toBatch: BatchWrite =
    new GraftShardBatchWrite(path, schema, replace, None, None, maxOpenWriters, codec,
      bloomCols, zorderCols = Some((colA, colB)), ndvCols = ndvCols,
      stageAs = stageAs)
}

/** The streaming sink face: micro-batch epochs commit through the ONE
  * batch commit path ([[GraftShardBatchWrite.commitWith]]) with the
  * (queryId, epochId) recorded in the manifest — a post-recovery epoch
  * REPLAY is detected there and dropped (its files deleted) instead of
  * double-appending: exactly-once from the sink's side. Append mode
  * appends; Complete mode arrives as truncate (SupportsOverwrite
  * extends SupportsTruncate) and swaps the table each epoch. The
  * streaming READ face ([[GraftShardScan.toMicroBatchStream]]) composes:
  * graftshard tables can sit on both ends of a streaming pipeline.
  *
  * STAGED streaming (`option("stageAs", b)` on the sink — streaming
  * write-audit-publish): epochs land as BRANCH commits, invisible to
  * live readers until `CALL system.publish_branch`. The replay guard
  * then consults the BRANCH manifest (where the epochs were recorded),
  * falling back to live — which covers both the first staged epoch
  * (branch not yet forked; live's guard carried into the fork) and a
  * restart after publish (the branch pointer is gone, but the
  * published manifest carries the folded epochs). Dropping a staging
  * branch discards its epochs BY DESIGN: the stream's checkpoint still
  * counts them committed, so they will not re-emit — dropping staged
  * streamed data means losing it, exactly like dropping staged batch
  * data. */
class GraftShardStreamingWrite(
    path: String,
    queryId: String,
    batch: GraftShardBatchWrite,
    stageAs: Option[String] = None)
    extends StreamingWrite {

  override def createStreamingWriterFactory(
      info: PhysicalWriteInfo): StreamingDataWriterFactory = {
    val factory = batch.createBatchWriterFactory(info)
      .asInstanceOf[GraftShardWriterFactory]
    new GraftShardStreamingWriterFactory(factory)
  }

  override def commit(epochId: Long, messages: Array[WriterCommitMessage]): Unit = {
    val replayed = stageAs.flatMap(ShardFormat.readBranch(path, _))
      .orElse(ShardFormat.readManifest(path))
      .exists(_.streamCommits.get(queryId).exists(_ >= epochId))
    if (replayed) {
      // recovery re-ran an epoch the table already holds: drop its output
      batch.abort(messages)
    } else batch.commitWith(messages, Some(queryId -> epochId))
  }

  override def abort(epochId: Long, messages: Array[WriterCommitMessage]): Unit =
    batch.abort(messages)
}

class GraftShardStreamingWriterFactory(factory: GraftShardWriterFactory)
    extends StreamingDataWriterFactory {
  override def createWriter(
      partitionId: Int, taskId: Long, epochId: Long): DataWriter[InternalRow] =
    factory.createWriter(partitionId, taskId)
}

final case class ShardCommitMessage(
    files: Seq[ShardFormat.FileEntry],
    // upsert writes: (key-sidecar name, distinct keys) per task file —
    // the commit registers them as ONE equality delete at the new seq
    eqKeys: Seq[(String, Long)] = Nil)
    extends WriterCommitMessage

class GraftShardBatchWrite(
    path: String,
    schema: StructType,
    // None = append; Some(AlwaysTrue-only) = truncate; Some(other) =
    // REPLACE WHERE (metadata-only: existing files provably all-match
    // are dropped, provably no-match kept — re-proven at COMMIT time
    // against the manifest as it is then, not as it was planned)
    replace: Option[Array[Filter]],
    spec: Option[ShardFormat.PartSpec],
    sortCol: Option[String] = None,
    maxOpenWriters: Int = 64,
    codec: String = "none",
    bloomCols: Seq[String] = Nil,
    upsertKey: Option[String] = None,
    dynamicOverwrite: Boolean = false,
    zorderCols: Option[(String, String)] = None,
    ndvCols: Seq[String] = Nil,
    stageAs: Option[String] = None)
    extends BatchWrite {

  private def isTruncate: Boolean =
    replace.exists(fs => fs.isEmpty || fs.forall(_.isInstanceOf[AlwaysTrue]))

  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory = {
    new File(path).mkdirs()
    // v4 field ids: a truncate replaces every file, so ids restart
    // positional; any other write takes the manifest's (renames keep
    // ids stable, so plan-time ids stay valid through commit). Staged
    // writes onto an existing branch take the BRANCH's ids — the state
    // they accumulate on
    val ids = ShardFormat.writeFieldIds(
      if (isTruncate) None
      else stageAs.flatMap(ShardFormat.readBranch(path, _))
        .orElse(ShardFormat.readManifest(path)),
      schema)
    new GraftShardWriterFactory(path, schema, spec, maxOpenWriters, codec, ids,
      bloomCols, upsertKey, ndvCols)
  }

  override def commit(messages: Array[WriterCommitMessage]): Unit =
    commitWith(messages, streamEpoch = None)

  /** The one commit path, shared by the batch face and the streaming
    * sink ([[GraftShardStreamingWrite]] passes the (queryId, epochId)
    * it is publishing; batch passes None). `streamCommits` from the
    * current manifest always carries forward — a batch append between
    * two epochs must not amnesia the sink's replay guard. */
  private[v2] def commitWith(
      messages: Array[WriterCommitMessage],
      streamEpoch: Option[(String, Long)]): Unit =
    ShardFormat.withCommitLock(path) {
    val msgs = messages.toSeq.collect { case m: ShardCommitMessage => m }
    val eqSidecars = msgs.flatMap(_.eqKeys)
    val committed = ShardFormat.dropEmpty(path, msgs.flatMap(_.files))
    // generation: fresh whenever existing entries are replaced (truncate
    // or REPLACE WHERE — streaming prefix offsets die with them), carried
    // on pure appends. The time-travel version counts COMMITS and
    // survives all of them: an overwrite is a new snapshot of the same
    // table, not version 1 of a new one.
    //
    // STAGED commits accumulate: a write onto an EXISTING branch bases
    // on the branch's manifest (append/upsert/replace compose on the
    // staged state — the multi-micro-batch audit loop), not on live;
    // the first staged commit forks from live and records the fork
    // point (`branchBase`) for publish_branch's fast-forward check.
    val live = ShardFormat.readManifest(path)
    val staged = stageAs.flatMap(ShardFormat.readBranch(path, _))
    val current = staged.orElse(live)
    val branchBase: Option[Long] =
      stageAs.map(_ => staged.flatMap(_.branchBase)
        .getOrElse(live.map(_.version).getOrElse(0L)))
    // The manifest VERSION a staged chain carries is the version it
    // will PUBLISH as — the next live version (base + 1), pinned across
    // every staged micro-batch: N staged commits land as ONE live
    // commit, so live history stays gap-free (the change feed walks
    // consecutive snapshots, and the CAS commit protocol needs racing
    // committers to collide on the SAME version file). Live writes
    // bump normally.
    val newVersion = branchBase match {
      case Some(base) => base + 1
      case None       => current.map(_.version).getOrElse(0L) + 1
    }
    // ROW-LEVEL COMMIT SEQUENCE, decoupled from the manifest version:
    // an upsert's inserts land AT `newSeq`, its equality delete applies
    // strictly BELOW it, and the generation must turn over (old files'
    // LOGICAL content changed, so streaming prefix offsets over them
    // would replay deleted rows). Within a staged chain every
    // micro-batch needs its own seq while the manifest version stays
    // pinned at base+1, so the counter advances over the maximum seq
    // in sight (version, file stamps, delete stamps), never backward.
    val newSeq = current.map(m =>
      (m.version +: (m.files.map(_.seq) ++ m.equalityDeletes.map(_.seq))).max
    ).getOrElse(0L) + 1
    val isUpsert = upsertKey.isDefined && eqSidecars.nonEmpty
    val (prior, generation) = if (dynamicOverwrite) {
      // replace exactly the partitions the committed files land in;
      // everything else carries. Exact only when every existing file
      // carries a key — a mixed-era file (pre-evolution) could hold
      // rows of the replaced partitions, so it refuses loudly
      val cur = current.map(_.files).getOrElse(Nil)
      cur.foreach(fe => require(fe.partition.isDefined,
        s"graftshard: dynamic partition overwrite on a mixed-era table — " +
          s"file '${fe.name}' predates the current partition spec and may " +
          "hold rows of the replaced partitions; rewrite the table under " +
          "the current spec first"))
      val newParts = committed.flatMap(_.partition).toSet
      // empty input replaces nothing — every file carries, so the
      // logical prefix is intact and streaming readers keep their
      // offsets; only a real replacement turns the generation over
      val gen =
        if (newParts.isEmpty)
          current.map(_.generation).filter(_.nonEmpty)
            .getOrElse(ShardFormat.newGeneration())
        else ShardFormat.newGeneration()
      (cur.filterNot(fe => newParts.contains(fe.partition.get)), gen)
    } else replace match {
      case None =>
        (current.map(_.files).getOrElse(Nil),
          if (isUpsert) ShardFormat.newGeneration()
          else current.map(_.generation).filter(_.nonEmpty)
            .getOrElse(ShardFormat.newGeneration()))
      case Some(_) if isTruncate =>
        (Nil, ShardFormat.newGeneration())
      case Some(fs) =>
        val files = current.map(_.files).getOrElse(Nil)
        files.foreach { fe =>
          require(ShardFilters.provablyAllInOrAllOut(fs, fe),
            s"graftshard: REPLACE WHERE not provable from file stats for " +
              s"'${fe.name}' at commit time — only predicates where every " +
              "shard file is entirely in or entirely out are supported")
        }
        // soundness check on the NEW data, free from its stats: every
        // committed file must lie ENTIRELY inside the replaced region.
        // A row outside the region would survive a re-run of the same
        // replacement (and leave the file neither provably all-in nor
        // all-out, forfeiting every later metadata-only DELETE/REPLACE
        // that touches it) — fail loudly instead of committing it. The
        // proof is exact where stats can decide (integral predicate
        // columns — min/max/null-count always tracked); for the rest
        // (string/boolean equality, only admitted against empty tables)
        // the check degrades to the provable-no-match rejection.
        committed.foreach { fe =>
          fs.foreach { f =>
            if (ShardFilters.statsDecidable(f, schema))
              require(ShardFilters.mustMatchAll(f, fe),
                s"graftshard: REPLACE WHERE violation — written file '${fe.name}' " +
                  "holds rows outside the replacement predicate (stats " +
                  "cannot prove every row matches); append non-matching " +
                  "rows separately")
            else
              require(ShardFilters.mayContain(f, fe),
                s"graftshard: REPLACE WHERE violation — written file '${fe.name}' " +
                  "provably contains no row matching the replacement predicate")
          }
        }
        (files.filterNot(fe => fs.forall(ShardFilters.mustMatchAll(_, fe))),
          ShardFormat.newGeneration())
    }
    // whenever PRIOR files survive into the new manifest, the published
    // schema must stay at least as nullable as before: the plan-time
    // equality check ignores nullability (by design — appends from
    // non-null data are fine), but adopting a non-nullable write schema
    // over shards that HOLD nulls would let Catalyst fold IS NOT NULL
    // away and leak those nulls through filters
    val published =
      if (prior.isEmpty) schema
      else current.map { m =>
        StructType(schema.fields.zip(m.schema.fields).map { case (n, o) =>
          n.copy(nullable = n.nullable || o.nullable)
        })
      }.getOrElse(schema)
    // sortedBy survives only when EVERY file in the new manifest was
    // written under the same declared sort — an undeclared commit that
    // actually ADDS files clears the flag (honest degradation, never a
    // lie), but a commit that adds NOTHING (empty append, REPLACE WHERE
    // that only drops) leaves the surviving files exactly as sorted as
    // they were
    val priorSort = current.flatMap(_.sortedBy)
    val sortedBy: Option[String] =
      if (committed.isEmpty) { if (prior.isEmpty) sortCol else priorSort }
      else sortCol.filter(s => prior.isEmpty || priorSort.contains(s))
    // zorderBy is sortedBy's 2-D analog and follows its exact rule:
    // present only while EVERY file in the manifest was written under
    // the same declared z-order — the invariant compaction's z-merge
    // depends on (each input file must be one z-run)
    val priorZ = current.flatMap(_.zorderBy)
    val zorderBy: Option[(String, String)] =
      if (committed.isEmpty) { if (prior.isEmpty) zorderCols else priorZ }
      else zorderCols.filter(z => prior.isEmpty || priorZ.contains(z))
    val streamCommits =
      current.map(_.streamCommits).getOrElse(Map.empty) ++ streamEpoch
    // DROP COLUMN tombstones carry through appends/REPLACE WHERE (old
    // files with the dropped bytes survive) and clear on truncate
    // (every file replaced — re-adding the name is safe again)
    val droppedColumns =
      if (isTruncate) Nil
      else current.map(_.droppedColumns).getOrElse(Nil)
    val thisOperation =
      if (dynamicOverwrite) "replace"
      else replace match {
        case None => if (isUpsert) "upsert" else "append"
        case Some(_) if isTruncate => "overwrite"
        case Some(_) => "replace"
      }
    // A staged chain publishes as ONE commit, so its operation tag must
    // describe the WHOLE chain, not the last micro-batch: a staged
    // upsert keeps tainting the branch (the change feed must refuse the
    // published commit — a file diff cannot see which old rows its
    // equality deletes removed) until a truncate resets the staged
    // state entirely. Every other staged op composes into the
    // file-diff-safe class the last write already reports.
    val operation =
      if (!isTruncate && staged.exists(_.operation == "upsert")) "upsert"
      else thisOperation
    // equality deletes: carried through appends, cleared by truncate
    // (every file it applied to is gone), extended by upsert commits
    val equalityDeletes =
      (if (isTruncate) Nil else current.map(_.equalityDeletes).getOrElse(Nil)) ++
        (if (isUpsert)
          eqSidecars.map { case (n, c) => ShardFormat.EqDelete(n, upsertKey.get, newSeq, c) }
        else Nil)
    // upsert inserts carry the commit sequence so the delete spares them
    val stamped =
      if (isUpsert) committed.map(_.copy(seq = newSeq)) else committed
    // the table property: a truncate re-states it from THIS write's
    // resolved choice (build() already folded the existing property in,
    // so an optionless overwrite inherits, an explicit "none" clears);
    // appends/REPLACE WHERE keep the recorded property, or record it at
    // the first compressed write of a so-far-raw table
    val compression =
      if (isTruncate) Some(codec).filter(_ != "none")
      else current.flatMap(_.compression).orElse(Some(codec).filter(_ != "none"))
    // bloomColumns follows the compression property's exact lifecycle:
    // a truncate re-states it from this write's resolved choice (an
    // explicit "" clears it), appends keep the recorded property or
    // record it at the first configured write of a bloom-less table
    val bloomColumns =
      if (isTruncate) bloomCols
      else current.map(_.bloomColumns).filter(_.nonEmpty).getOrElse(bloomCols)
    val ndvColumns =
      if (isTruncate) ndvCols
      else current.map(_.ndvColumns).filter(_.nonEmpty).getOrElse(ndvCols)
    // field-id metadata: a truncate replaced every file, so ids restart
    // positional (Nil) and every alias/tombstone reservation clears —
    // matching the factory's positional write ids; any other commit
    // carries the table's ids and aliases forward unchanged
    val (fieldIds, lastFieldId, aliases) =
      if (isTruncate) (Nil, 0, Map.empty[String, Int])
      else current.map(m => (m.fieldIds, m.lastFieldId, m.aliases))
        .getOrElse((Nil, 0, Map.empty[String, Int]))
    val publishManifest: ShardFormat.Manifest => Unit = stageAs match {
      // staged: published as a BRANCH pointer (vN+1 content, live
      // pointer untouched); publish_branch re-validates the base under
      // the commit lock before making it the table
      case Some(b) => ShardFormat.writeBranch(path, b, _)
      case None => ShardFormat.writeManifest(path, _)
    }
    publishManifest(
      ShardFormat.Manifest(published, generation, prior ++ stamped, spec,
        version = newVersion,
        createdAtMs = System.currentTimeMillis(),
        sortedBy = sortedBy,
        streamCommits = streamCommits,
        droppedColumns = droppedColumns,
        operation = operation,
        compression = compression,
        fieldIds = fieldIds,
        lastFieldId = lastFieldId,
        aliases = aliases,
        bloomColumns = bloomColumns,
        ndvColumns = ndvColumns,
        zorderBy = zorderBy,
        equalityDeletes = equalityDeletes,
        branchBase = branchBase,
        // paged-manifest provenance rides through (prior entries keep
        // their reference identity, so an append reuses every segment)
        pagedSegments = current.map(_.pagedSegments).getOrElse(Nil)))
    }

  override def abort(messages: Array[WriterCommitMessage]): Unit =
    messages.foreach {
      case m: ShardCommitMessage => m.files.foreach(fe => ShardFormat.discard(path, fe.name))
      case _ => ()
    }
}

class GraftShardWriterFactory(
    path: String,
    schema: StructType,
    spec: Option[ShardFormat.PartSpec],
    maxOpenWriters: Int = 64,
    codec: String = "none",
    // manifest field ids for the write schema (v4 headers); empty =
    // positional — correct for fresh tables and direct callers
    fieldIds: Array[Int] = Array.emptyIntArray,
    bloomCols: Seq[String] = Nil,
    upsertKey: Option[String] = None,
    ndvCols: Seq[String] = Nil)
    extends DataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    spec match {
      case None =>
        new GraftShardDataWriter(path, schema, partitionId, taskId, codec, fieldIds,
          bloomCols, upsertKey, ndvCols)
      case Some(sp) =>
        new GraftShardKeyedDataWriter(path, schema, partitionId, taskId, sp,
          maxOpenWriters, codec, fieldIds, bloomCols, upsertKey, ndvCols)
    }
}

class GraftShardDataWriter(
    path: String, schema: StructType, partitionId: Int, taskId: Long,
    codec: String = "none", fieldIds: Array[Int] = Array.emptyIntArray,
    bloomCols: Seq[String] = Nil, upsertKey: Option[String] = None,
    ndvCols: Seq[String] = Nil)
    extends DataWriter[InternalRow] {

  // taskId disambiguates speculative attempts of the same partition;
  // the UUID guards against taskId reuse across retried stages
  private val name =
    f"part-$partitionId%05d-$taskId-${java.util.UUID.randomUUID().toString.take(8)}.shard"
  private val writer = {
    new File(path).mkdirs()
    new ShardFormat.ShardWriter(new File(path, name), schema, codec, fieldIds,
      bloomCols, upsertKey, ndvCols)
  }

  override def write(record: InternalRow): Unit = writer.write(record)

  override def commit(): WriterCommitMessage = {
    val done = writer.finish()
    ShardCommitMessage(Seq(done.entry), eqKeys = done.eqKeys.toSeq)
  }

  override def abort(): Unit = writer.abort()
  override def close(): Unit = ()
}

/** One shard file per distinct partition value seen by this task —
  * the key itself (identity) or `floorMod(key, n)` (bucket); the commit
  * message carries one [[ShardFormat.FileEntry]] per value with its
  * `partition` set. Null keys fail the task with the column name
  * — a keyed table with null keys cannot honor one-key-per-file.
  *
  * Memory contract: one open [[ShardFormat.ShardWriter]] (~1 MiB buffer
  * + a file handle) per open key. An identity key over a
  * high-cardinality column written WITHOUT a prior `repartition(col)`
  * would otherwise grow that unboundedly and die as an opaque
  * OOM/too-many-open-files 10k tasks deep — so open writers are capped
  * at `maxOpenWriters` (option, default 64): on overflow the
  * least-recently-written key's file is finished and recorded, and a
  * returning key simply opens a NEW file (multiple files per key are
  * fully supported by the keyed read — grouped partitions take a file
  * list). The one-key-per-FILE invariant is never violated; the only
  * cost of exceeding the cap is more, smaller files — and under the
  * sorted-write path keys arrive clustered, so rotation naturally
  * closes completed keys and still yields one file per key. */
class GraftShardKeyedDataWriter(
    path: String,
    schema: StructType,
    partitionId: Int,
    taskId: Long,
    spec: ShardFormat.PartSpec,
    maxOpenWriters: Int = 64,
    codec: String = "none",
    fieldIds: Array[Int] = Array.emptyIntArray,
    bloomCols: Seq[String] = Nil,
    upsertKey: Option[String] = None,
    ndvCols: Seq[String] = Nil)
    extends DataWriter[InternalRow] {

  require(maxOpenWriters >= 1,
    s"graftshard: maxOpenWriters must be >= 1, got $maxOpenWriters")
  private val keyIdx = schema.fieldIndex(spec.column)
  // timestamps arrive as micros longs in InternalRow — the long path;
  // string bucket keys hash to their raw long (stringKeyRaw)
  private val keyKind: Int = {
    val dt = schema.fields(keyIdx).dataType
    if (dt == LongType || dt == org.apache.spark.sql.types.TimestampType ||
      dt == org.apache.spark.sql.types.TimestampNTZType) 0
    else if (dt == org.apache.spark.sql.types.StringType) 2
    else 1 // int
  }
  private val attempt = java.util.UUID.randomUUID().toString.take(8)
  private val writers =
    scala.collection.mutable.LinkedHashMap.empty[Long, ShardFormat.ShardWriter]
  // files already finished by cap rotation — part of the commit message
  private val rotated = scala.collection.mutable.ArrayBuffer.empty[ShardFormat.FileEntry]
  // distinct names across rotations of the same key
  private var fileSeq = 0

  private val eqSidecars = Seq.newBuilder[(String, Long)]

  private def finishInto(key: Long, w: ShardFormat.ShardWriter): Unit = {
    val done = w.finish(Some(key))
    rotated += done.entry
    done.eqKeys.foreach(eqSidecars += _)
  }

  override def write(record: InternalRow): Unit = {
    if (record.isNullAt(keyIdx)) throw new IllegalArgumentException(
      s"graftshard: null value in partitionKey column '${spec.column}' — " +
        "key-partitioned tables require a non-null key on every row")
    val raw = keyKind match {
      case 0 => record.getLong(keyIdx)
      case 2 => ShardFormat.stringKeyRaw(record.getUTF8String(keyIdx).getBytes)
      case _ => record.getInt(keyIdx).toLong
    }
    val key = ShardFormat.partitionValueOf(spec, raw)
    val w = writers.get(key) match {
      case Some(open) =>
        // approximate LRU, paid only at the cap: below it, insertion
        // order stands in for recency (no per-row map churn)
        if (writers.size >= maxOpenWriters) {
          writers.remove(key); writers.put(key, open)
        }
        open
      case None =>
        if (writers.size >= maxOpenWriters) {
          val (ek, ew) = writers.head
          writers.remove(ek)
          finishInto(ek, ew)
        }
        fileSeq += 1
        val name = f"part-$partitionId%05d-$taskId-$attempt-k$key-$fileSeq.shard"
        val nw = new ShardFormat.ShardWriter(new File(path, name), schema, codec,
          fieldIds, bloomCols, upsertKey, ndvCols)
        writers.put(key, nw)
        nw
    }
    w.write(record)
  }

  override def commit(): WriterCommitMessage = {
    writers.foreach { case (key, w) => finishInto(key, w) }
    writers.clear()
    ShardCommitMessage(rotated.toSeq, eqKeys = eqSidecars.result())
  }

  override def abort(): Unit = {
    writers.values.foreach(_.abort())
    // rotated files are already closed — discard them by name
    rotated.foreach(fe => ShardFormat.discard(path, fe.name))
  }
  override def close(): Unit = ()
}
