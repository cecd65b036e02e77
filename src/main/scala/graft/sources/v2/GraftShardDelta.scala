package graft.sources.v2

import java.io.File

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.expressions.{Expressions, NamedReference}
import org.apache.spark.sql.connector.read.ScanBuilder
import org.apache.spark.sql.connector.write.{DeltaBatchWrite, DeltaWrite, DeltaWriteBuilder, DeltaWriter, DeltaWriterFactory, LogicalWriteInfo, PhysicalWriteInfo, RowLevelOperation, WriterCommitMessage}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** The MERGE-ON-READ row-level tier (`SupportsDelta` — the Iceberg v2
  * position-delete / Delta deletion-vector shape), selected by
  * `spark.graftshard.rowLevel.mode = merge-on-read`
  * ([[GraftShardTable.newRowLevelOperationBuilder]]; copy-on-write is
  * the default).
  *
  * Where copy-on-write REWRITES every candidate file, this tier writes
  * only what changed: DELETE records (file, physical ordinal) pairs —
  * the stable row id served by the scan's `_shard_file`/`_pos`
  * metadata columns — and commits them as immutable delete-vector
  * sidecars the reader skips ([[ShardFormat.writeDeleteVector]]);
  * UPDATE is delete + insert; inserts are ordinary shard files through
  * the ordinary keyed/plain writers. The 100 TB trade: deleting 100
  * rows from a 1 GB shard costs a KB-sized sidecar instead of a 1 GB
  * rewrite — read-side cost (vector load + skip) accrues until
  * compaction purges it ([[GraftShardMaintenance.compact]] treats any
  * file with a vector as a rewrite candidate regardless of size).
  *
  * Soundness around PHYSICAL manifest stats is enforced at the scan:
  * aggregate pushdown and the LIMIT file-cut refuse when vectors are
  * present, numRows subtracts them, min/max stay conservative.
  *
  * Commit discipline matches the other tiers: manifest-version pin →
  * loud write-write conflict; sidecars are immutable (a second delete
  * on the same file merges ordinals into a NEW sidecar, orphaning the
  * old one for vacuum); a fully-deleted file drops out of the manifest
  * entirely; the generation bumps (same file names, different visible
  * rows — streaming prefix offsets must die loudly). */
class GraftShardDeltaOperation(
    path: String,
    tableSchema: StructType,
    cmd: RowLevelOperation.Command)
    extends RowLevelOperation with org.apache.spark.sql.connector.write.SupportsDelta {

  /** Manifest pinned when Spark builds the scan — the commit's
    * conflict-detection anchor (driver-only state, like the CoW op). */
  @volatile private[v2] var pinned: Option[ShardFormat.Manifest] = None

  override def command(): RowLevelOperation.Command = cmd
  override def description(): String = s"graftshard merge-on-read $cmd"

  override def rowId(): Array[NamedReference] =
    Array(Expressions.column("_shard_file"), Expressions.column("_pos"))

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = {
    pinned = ShardFormat.readManifest(path)
    // the NORMAL scan builder: unlike copy-on-write (whole candidate
    // groups), a delta operation needs only the MATCHING rows, so
    // row-level filter absorption and file skipping both stay on
    new GraftShardScanBuilder(path, tableSchema, options, None)
  }

  override def newWriteBuilder(info: LogicalWriteInfo): DeltaWriteBuilder =
    new DeltaWriteBuilder {
      override def build(): DeltaWrite = {
        val schema = info.schema()
        val manifest = ShardFormat.readManifest(path)
        val maxOpen =
          Option(info.options.get("maxOpenWriters")).map(_.toInt).getOrElse(64)
        new GraftShardDeltaWrite(GraftShardDeltaOperation.this, path, schema,
          manifest.flatMap(_.partitioning), maxOpen)
      }
    }
}

/** Per-task message: ordinary insert files plus (file -> deleted
  * physical ordinals). */
final case class ShardDeltaCommitMessage(
    inserts: Seq[ShardFormat.FileEntry],
    deletes: Map[String, Seq[Long]])
    extends WriterCommitMessage

class GraftShardDeltaWrite(
    op: GraftShardDeltaOperation,
    path: String,
    schema: StructType,
    spec: Option[ShardFormat.PartSpec],
    maxOpenWriters: Int)
    extends DeltaWrite with DeltaBatchWrite {

  override def toBatch: DeltaBatchWrite = this

  override def createBatchWriterFactory(info: PhysicalWriteInfo): DeltaWriterFactory = {
    new File(path).mkdirs()
    // MoR insert files keep the table's recorded compression and bloom
    // property (their sidecars regenerate with the new data)
    val m = ShardFormat.readManifest(path)
    val codec = m.flatMap(_.compression).getOrElse("none")
    // a DELETE-only delta has an EMPTY write schema — no file is ever
    // written, and writeFieldIds over zero columns is safely empty
    new GraftShardDeltaWriterFactory(path, schema, spec, maxOpenWriters, codec,
      ShardFormat.writeFieldIds(m, schema),
      m.map(_.bloomColumns).getOrElse(Nil),
      m.map(_.ndvColumns).getOrElse(Nil))
  }

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val msgs = messages.toSeq.collect { case m: ShardDeltaCommitMessage => m }
    val inserts = ShardFormat.dropEmpty(path, msgs.flatMap(_.inserts))
    // per-file ordinals merged across tasks (a post-scan shuffle may
    // scatter one file's matches over several writers)
    val newDeletes: Map[String, Seq[Long]] =
      msgs.flatMap(_.deletes.toSeq).groupBy(_._1)
        .map { case (f, vs) => f -> vs.flatMap(_._2) }
    val pinned = op.pinned.getOrElse(
      throw new IllegalStateException(
        "graftshard: merge-on-read commit without a configured scan"))
    ShardFormat.withCommitLock(path) {
    val current = ShardFormat.readPinned(path, pinned, "merge-on-read", "delta")
    newDeletes.keys.foreach { f =>
      require(current.files.exists(_.name == f),
        s"graftshard: delete ordinals target unknown file '$f'")
    }
    val dirFile = new File(path)
    val updated = current.files.flatMap { fe =>
      newDeletes.get(fe.name) match {
        case None => Some(fe)
        case Some(ords) =>
          // merge with any existing vector into a NEW immutable sidecar
          val existing = fe.deletes
            .map(d => ShardFormat.readDeleteVector(new File(path, d)))
            .getOrElse(Array.emptyLongArray)
          val all = (existing ++ ords).distinct.sorted
          all.foreach(o => require(o >= 0 && o < fe.rows,
            s"graftshard: delete ordinal $o out of range for '${fe.name}' (${fe.rows} rows)"))
          if (all.length >= fe.rows) None // fully deleted: drop the file
          else Some(fe.copy(
            deletes = Some(ShardFormat.writeDeleteVector(dirFile, all)),
            deletedRows = all.length.toLong))
      }
    }
    // inserts degrade sortedBy honestly (new unsorted runs) — a
    // deletes-only commit preserves it (skipping keeps order)
    val sortedBy = if (inserts.isEmpty) current.sortedBy else None
    ShardFormat.commitNext(path, current,
      current.copy(files = updated ++ inserts, sortedBy = sortedBy),
      "mor", freshGeneration = true)
    }
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit =
    messages.foreach {
      case m: ShardDeltaCommitMessage =>
        m.inserts.foreach(fe => ShardFormat.discard(path, fe.name))
      case _ => ()
    }
}

class GraftShardDeltaWriterFactory(
    path: String,
    schema: StructType,
    spec: Option[ShardFormat.PartSpec],
    maxOpenWriters: Int,
    codec: String = "none",
    fieldIds: Array[Int] = Array.emptyIntArray,
    bloomCols: Seq[String] = Nil,
    ndvCols: Seq[String] = Nil)
    extends DeltaWriterFactory {

  override def createWriter(partitionId: Int, taskId: Long): DeltaWriter[InternalRow] =
    // LAZY: a DELETE-only operation has an EMPTY write schema (no data
    // columns flow), so the keyed writer's key lookup would fail — and
    // no insert ever arrives to need it
    new GraftShardDeltaWriter(() =>
      new GraftShardWriterFactory(path, schema, spec, maxOpenWriters, codec, fieldIds,
        bloomCols, ndvCols = ndvCols)
        .createWriter(partitionId, taskId))
}

/** Buffers (file -> ordinals) per task; inserts stream through the
  * ordinary data writer (keyed tables keep one-key-per-file). Rows
  * arrive per Spark's delta protocol: `delete(metadata, id)` with id =
  * (_shard_file, _pos), `update` = delete + insert, `insert(row)` with
  * the full data row. */
class GraftShardDeltaWriter(
    mkInserts: () => org.apache.spark.sql.connector.write.DataWriter[InternalRow])
    extends DeltaWriter[InternalRow] {

  private var inserts: org.apache.spark.sql.connector.write.DataWriter[InternalRow] = null

  private val deletes =
    scala.collection.mutable.Map.empty[String, scala.collection.mutable.ArrayBuffer[Long]]

  override def delete(metadata: InternalRow, id: InternalRow): Unit = {
    val file = id.getUTF8String(0).toString
    val pos = id.getLong(1)
    deletes.getOrElseUpdate(file, scala.collection.mutable.ArrayBuffer.empty) += pos
  }

  override def update(metadata: InternalRow, id: InternalRow, row: InternalRow): Unit = {
    delete(metadata, id)
    insert(row)
  }

  override def insert(row: InternalRow): Unit = {
    if (inserts == null) inserts = mkInserts()
    inserts.write(row)
  }

  override def commit(): WriterCommitMessage = {
    val ins =
      if (inserts == null) Nil
      else inserts.commit() match {
        case m: ShardCommitMessage => m.files
        case _ => Nil
      }
    ShardDeltaCommitMessage(ins, deletes.view.mapValues(_.toSeq).toMap)
  }

  override def abort(): Unit = if (inserts != null) inserts.abort()
  override def close(): Unit = if (inserts != null) inserts.close()
}
