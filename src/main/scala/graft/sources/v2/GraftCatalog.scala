package graft.sources.v2

import java.io.File

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.{NamespaceAlreadyExistsException, NoSuchFunctionException, NoSuchNamespaceException, NoSuchTableException, NonEmptyNamespaceException, TableAlreadyExistsException}
import org.apache.spark.sql.connector.catalog.{FunctionCatalog, Identifier, NamespaceChange, ProcedureCatalog, SupportsNamespaces, Table, TableCatalog, TableChange}
import org.apache.spark.sql.connector.catalog.functions.{BoundFunction, ScalarFunction, UnboundFunction}
import org.apache.spark.sql.connector.catalog.procedures.{BoundProcedure, ProcedureParameter, UnboundProcedure}
import org.apache.spark.sql.connector.expressions.{Literal => V2Literal, NamedReference, Transform}
import org.apache.spark.sql.connector.read.Scan
import org.apache.spark.sql.types.{BooleanType, IntegerType, LongType, StringType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** `GraftCatalog` — a V2 catalog plugin over a warehouse directory of
  * [[ShardFormat]] tables, the catalog face of `graftshard`:
  *
  * {{{
  * spark.sql.catalog.graftcat          = graft.sources.v2.GraftCatalog
  * spark.sql.catalog.graftcat.warehouse = /data/graft
  *
  * CREATE NAMESPACE graftcat.corpus;
  * CREATE TABLE graftcat.corpus.docs (doc_id BIGINT, text STRING)
  *   USING graftshard PARTITIONED BY (bucket(64, doc_id));
  * INSERT INTO graftcat.corpus.docs SELECT ...;
  * }}}
  *
  * What the catalog adds over the path-based `TableProvider`, and why
  * it matters at 100 TB: the `bucket(n, col)` transform. Identity
  * partitioning ([[GraftShardWriteBuilder]]'s `partitionKey` option)
  * wants a moderate-cardinality key; `bucket` partitions by
  * `floorMod(key, n)` so the HIGH-CARDINALITY join column itself —
  * doc_id, user_id — clusters the layout. Spark resolves the transform
  * through this catalog's `bucket` function ([[GraftBucketFunction]],
  * the [[FunctionCatalog]] half), so two tables bucketed the same way
  * storage-partition-join ON THAT COLUMN with zero exchange, and a
  * one-sided join shuffles only the unkeyed side BY EVALUATING the same
  * function (`spark.sql.sources.v2.bucketing.shuffle.enabled`) — one
  * bucket definition, used by the writer placing rows, the scan
  * reporting partitions, and the engine co-shuffling the other side.
  *
  * Tables are directories `warehouse/ns.../name`; a table EXISTS iff its
  * manifest does, so catalog metadata needs no second store and every
  * isolation property of the manifest protocol carries over verbatim.
  */
class GraftCatalog extends TableCatalog with SupportsNamespaces with FunctionCatalog
    with ProcedureCatalog {

  private var catalogName: String = _
  private var warehouse: String = _

  override def initialize(name: String, options: CaseInsensitiveStringMap): Unit = {
    catalogName = name
    warehouse = Option(options.get("warehouse")).getOrElse(
      throw new IllegalArgumentException(
        s"GraftCatalog '$name': the 'warehouse' option is required " +
          s"(spark.sql.catalog.$name.warehouse = <dir>)"))
  }
  override def name(): String = catalogName

  /** One path segment of an identifier; rejects separators and dot-dot
    * so an identifier can never escape the warehouse. */
  private def segment(s: String): String = {
    require(s.nonEmpty && !s.contains('/') && !s.contains('\\') && s != ".." && s != ".",
      s"GraftCatalog: illegal identifier segment '$s'")
    s
  }
  private def nsDir(ns: Array[String]): File =
    ns.foldLeft(new File(warehouse))((d, s) => new File(d, segment(s)))
  private def tableDir(ident: Identifier): File =
    new File(nsDir(ident.namespace), segment(ident.name))
  /** File.listFiles() returns NULL (not empty) on IO/permission errors
    * and races with concurrent deletes — every catalog listing goes
    * through this guard so callers get a catalog answer, not an NPE. */
  private def filesIn(d: File): Array[File] =
    Option(d.listFiles()).getOrElse(Array.empty)

  // ------------------------------------------------------------- tables

  override def listTables(namespace: Array[String]): Array[Identifier] = {
    val d = nsDir(namespace)
    if (!d.isDirectory) throw new NoSuchNamespaceException(namespace)
    filesIn(d).filter(f => ShardFormat.manifestFile(f.getPath).isFile)
      .map(f => Identifier.of(namespace, f.getName))
  }

  override def tableExists(ident: Identifier): Boolean =
    ShardFormat.manifestFile(tableDir(ident).getPath).isFile

  override def loadTable(ident: Identifier): Table = {
    val dir = tableDir(ident)
    ShardFormat.readManifest(dir.getPath) match {
      case Some(m) => new GraftShardTable(dir.getPath, m.schema)
      case None =>
        // metadata faces (`ns.t.files` / `ns.t.snapshots`): the trailing
        // segment names the face, the rest must be a real table — and a
        // REAL table with the face's name always shadows it (checked
        // above: the manifest read came first)
        if (ident.namespace.nonEmpty &&
            GraftShardMetadataTables.Names.contains(ident.name)) {
          val base = Identifier.of(ident.namespace.init, ident.namespace.last)
          val bdir = tableDir(base)
          if (ShardFormat.manifestFile(bdir.getPath).isFile)
            return new GraftShardMetadataTable(bdir.getPath, ident.name)
        }
        throw new NoSuchTableException(ident)
    }
  }

  /** `VERSION AS OF n`: the table exactly as committed at snapshot n
    * (read-only; see [[GraftShardTable]]). */
  override def loadTable(ident: Identifier, version: String): Table = {
    val dir = tableDir(ident).getPath
    if (!tableExists(ident)) throw new NoSuchTableException(ident)
    val v = scala.util.Try(version.toLong).getOrElse(
      throw new IllegalArgumentException(
        s"graftshard: version must be a snapshot number, got '$version'"))
    val m = ShardFormat.readManifestVersion(dir, v).getOrElse(
      throw new IllegalArgumentException(
        s"graftshard: no snapshot v$v of ${ident} — available: " +
          s"${ShardFormat.listVersions(dir).mkString(", ")} " +
          "(older snapshots may have been expired)"))
    new GraftShardTable(dir, m.schema, Some(m))
  }

  /** `TIMESTAMP AS OF t` (micros since epoch): the newest snapshot
    * committed at or before t. */
  override def loadTable(ident: Identifier, timestamp: Long): Table = {
    val dir = tableDir(ident).getPath
    if (!tableExists(ident)) throw new NoSuchTableException(ident)
    val tsMs = timestamp / 1000L
    val m = ShardFormat.listVersions(dir)
      .flatMap(v => ShardFormat.readManifestVersion(dir, v))
      .filter(_.createdAtMs <= tsMs)
      .sortBy(_.version).lastOption.getOrElse(
        throw new IllegalArgumentException(
          s"graftshard: no snapshot of ${ident} at or before " +
            s"${java.time.Instant.ofEpochMilli(tsMs)} — the table's history " +
            "starts later (or earlier snapshots were expired)"))
    new GraftShardTable(dir, m.schema, Some(m))
  }

  override def createTable(
      ident: Identifier,
      schema: StructType,
      partitions: Array[Transform],
      properties: java.util.Map[String, String]): Table = {
    if (tableExists(ident)) throw new TableAlreadyExistsException(ident)
    if (!nsDir(ident.namespace).isDirectory)
      throw new NoSuchNamespaceException(ident.namespace)
    schema.fields.foreach { f =>
      require(ShardFormat.supported(f.dataType),
        s"graftshard: unsupported column type ${f.dataType.sql} for '${f.name}'")
    }
    def column(ref: Seq[String]): StructField = {
      require(ref.length == 1,
        s"graftshard: nested partition references unsupported: ${ref.mkString(".")}")
      val c = ref.head
      schema.fields.find(_.name == c).getOrElse(throw new IllegalArgumentException(
        s"graftshard: partition column '$c' not in table schema"))
    }
    def keyColumn(ref: Seq[String]): String = {
      val f = column(ref)
      require(f.dataType == LongType || f.dataType == IntegerType,
        s"graftshard: partition column '${f.name}' must be integral (long/int), got ${f.dataType.sql}")
      f.name
    }
    def tsColumn(ref: Seq[String], unit: String): String = {
      val f = column(ref)
      require(f.dataType == org.apache.spark.sql.types.TimestampType ||
          f.dataType == org.apache.spark.sql.types.TimestampNTZType,
        s"graftshard: $unit() partitioning needs a timestamp column, " +
          s"'${f.name}' is ${f.dataType.sql}")
      f.name
    }
    def unsupported(ts: Seq[Transform]): Nothing = throw new UnsupportedOperationException(
      s"graftshard: unsupported partitioning ${ts.mkString(", ")} — " +
        "supported: unpartitioned, (identity column), (bucket(n, column)), " +
        "(days|hours|months|years(timestamp column))")
    val spec: Option[ShardFormat.PartSpec] = partitions.toSeq match {
      case Seq() => None
      case Seq(t) if t.name == "identity" && t.references.length == 1 =>
        Some(ShardFormat.IdentityPart(keyColumn(t.references()(0).fieldNames.toSeq)))
      case Seq(t) if ShardFormat.TransformUnits(t.name) && t.references.length == 1 =>
        Some(ShardFormat.TransformPart(t.name,
          tsColumn(t.references()(0).fieldNames.toSeq, t.name)))
      case Seq(t) if t.name == "bucket" =>
        val ns = t.arguments.collect { case l: V2Literal[_] =>
          l.value.asInstanceOf[Number].intValue }
        val refs = t.arguments.collect { case r: NamedReference => r }
        if (ns.length != 1 || refs.length != 1) unsupported(Seq(t))
        require(ns(0) > 0, s"graftshard: bucket needs n > 0, got ${ns(0)}")
        // bucket admits STRING keys too (hash-bucketed through
        // ShardFormat.stringKeyRaw) — the dedup-registry layout keyed
        // by URL / fingerprint; identity stays integral-only (the
        // manifest partition value IS the key there)
        val bf = column(refs(0).fieldNames.toSeq)
        require(bf.dataType == LongType ||
            bf.dataType == org.apache.spark.sql.types.IntegerType ||
            bf.dataType == org.apache.spark.sql.types.StringType,
          s"graftshard: bucket column '${bf.name}' must be long/int/string, " +
            s"got ${bf.dataType.sql}")
        Some(ShardFormat.BucketPart(ns(0), bf.name))
      case other => unsupported(other)
    }
    // TBLPROPERTIES ('compression' = 'deflate'): recorded in the
    // manifest at creation; every write path (appends, compaction,
    // row-level rewrites) then honors it without per-write options
    val compression = Option(properties.get("compression"))
      .map(_.toLowerCase).filterNot(_ == "none").map { c =>
        require(c == "deflate" || c == "dict",
          s"graftshard: unknown compression '$c' (supported: none, dict, deflate)")
        c
      }
    // TBLPROPERTIES ('bloomColumns' = 'doc_id,url'): per-file bloom
    // sidecars for equality/IN file skipping — same lifecycle as
    // compression (inherited by appends, honored by rewrites)
    val bloomColumns = Option(properties.get("bloomColumns")).toSeq
      .flatMap(_.split(",")).map(_.trim).filter(_.nonEmpty)
    bloomColumns.foreach { c =>
      val f = schema.fields.find(_.name == c).getOrElse(
        throw new IllegalArgumentException(
          s"graftshard: bloomColumns column '$c' not in table schema"))
      require(ShardFormat.bloomEligible(f.dataType),
        s"graftshard: bloomColumns column '$c' must be long/int/string/binary, " +
          s"got ${f.dataType.sql}")
    }
    // TBLPROPERTIES ('ndvColumns' = 'k,user_id'): per-file NDV sketches
    // for CBO column statistics — same lifecycle as bloomColumns
    val ndvColumns = Option(properties.get("ndvColumns")).toSeq
      .flatMap(_.split(",")).map(_.trim).filter(_.nonEmpty)
    ndvColumns.foreach { c =>
      val f = schema.fields.find(_.name == c).getOrElse(
        throw new IllegalArgumentException(
          s"graftshard: ndvColumns column '$c' not in table schema"))
      require(ShardFormat.ndvEligible(f.dataType),
        s"graftshard: ndvColumns column '$c' must be long/int/string/binary, " +
          s"got ${f.dataType.sql}")
    }
    val dir = tableDir(ident)
    ShardFormat.withCommitLock(dir.getPath) {
      if (tableExists(ident)) throw new TableAlreadyExistsException(ident)
      dir.mkdirs()
      ShardFormat.writeManifest(dir.getPath, ShardFormat.Manifest(
        schema, ShardFormat.newGeneration(), Nil, spec,
        version = 1L, createdAtMs = System.currentTimeMillis(),
        operation = "create", compression = compression,
        bloomColumns = bloomColumns, ndvColumns = ndvColumns))
    }
    new GraftShardTable(dir.getPath, schema)
  }

  /** Schema evolution, METADATA-ONLY in all four directions (no file is
    * touched): shard files are self-describing (a column header —
    * [[ShardFormat.MagicV4]]), so ADD COLUMN null-fills old files at
    * read time and DROP COLUMN byte-skips the stored bytes by the
    * header's type tag. Header columns carry FIELD IDS, which adds:
    *   - RENAME COLUMN: a manifest-only commit — the column keeps its
    *     id, the manifest's id→name entry changes, per-file stats keys
    *     are re-keyed to the new name, and the old name joins
    *     [[ShardFormat.Manifest.aliases]] so name-keyed bloom sidecars
    *     keep resolving. Time travel serves the old name from the old
    *     snapshot. The old name stays RESERVED (re-adding it would make
    *     old files' stored bytes ambiguous).
    *   - ALTER COLUMN TYPE, widening only (int→long, float→double):
    *     files keep their stored width; the reader widens at emit.
    * The manifest swap is a normal commit: version bump, new
    * time-travel snapshot (VERSION AS OF before the ALTER reads the old
    * schema), generation KEPT (no entries vanished). Refused: narrowing
    * or cross-kind type changes, dropping/renaming into a reserved or
    * previously-used name, dropping the partition/sort column (the
    * layout's spine), dropping to zero columns, and non-nullable adds
    * (old rows HAVE no value). */
  override def alterTable(ident: Identifier, changes: TableChange*): Table = {
    val dir = tableDir(ident)
    ShardFormat.withCommitLock(dir.getPath) {
    val m = ShardFormat.readManifest(dir.getPath).getOrElse(
      throw new NoSuchTableException(ident))
    def single(ref: Array[String]): String = {
      require(ref.length == 1,
        s"graftshard: nested columns are not supported: ${ref.mkString(".")}")
      ref.head
    }
    // names no column may take: metadata/CDF columns the readers serve
    val reserved = Set("_shard_file", "_pos",
      "_change_type", "_commit_version", "_commit_timestamp")
    // mutable evolution state; ids materialize on first use so a
    // manifest only gains explicit ids when an ALTER actually commits
    var sch = m.schema
    var tomb = m.droppedColumns
    var ids = m.fieldIdsOrPositional.toVector
    var lastId = m.lastFieldIdOr
    var aliases = m.aliases
    var files = m.files
    var part = m.partitioning
    var sorted = m.sortedBy
    var zorder = m.zorderBy
    var bloomC = m.bloomColumns
    var ndvC = m.ndvColumns
    var eqDel = m.equalityDeletes
    def requireFreshName(c: String, what: String): Unit = {
      require(!sch.fieldNames.contains(c),
        s"graftshard: column '$c' already exists")
      require(!reserved.contains(c),
        s"graftshard: '$c' is a reserved metadata column name")
      require(!tomb.contains(c),
        s"graftshard: cannot $what '$c' — existing files still store a " +
          "dropped column's bytes under that name and would resurrect " +
          "them instead of nulls; overwrite the table (or use a new name)")
    }
    changes.foreach {
      case add: TableChange.AddColumn =>
        val c = single(add.fieldNames)
        requireFreshName(c, "re-add dropped column")
        require(!aliases.contains(c),
          s"graftshard: cannot add column '$c' — it is a PAST name of a " +
            "renamed column, and existing files still store that column's " +
            "bytes under it; use a new name")
        require(ShardFormat.supported(add.dataType),
          s"graftshard: unsupported column type ${add.dataType.sql} for '$c'")
        require(add.isNullable,
          s"graftshard: ADD COLUMN '$c' must be nullable — existing rows " +
            "have no value for it")
        require(add.position() == null,
          "graftshard: ADD COLUMN positions are not supported (columns append)")
        sch = StructType(sch.fields :+
          org.apache.spark.sql.types.StructField(c, add.dataType, nullable = true))
        lastId += 1
        ids :+= lastId
      case del: TableChange.DeleteColumn =>
        val c = single(del.fieldNames)
        if (!sch.fieldNames.contains(c)) {
          if (!del.ifExists()) throw new IllegalArgumentException(
            s"graftshard: no such column '$c'")
        } else {
          part.foreach(sp => require(sp.column != c,
            s"graftshard: cannot drop partition column '$c' — it is the " +
              "table's at-rest layout; rewrite the table to re-partition"))
          sorted.foreach(s => require(s != c,
            s"graftshard: cannot drop sort column '$c' — it is the sorted " +
              "layout's spine; rewrite the table to re-sort"))
          require(sch.fields.length > 1,
            s"graftshard: cannot drop the last column '$c'")
          require(!m.equalityDeletes.exists(_.column == c),
            s"graftshard: cannot drop column '$c' — live equality deletes " +
              "(upsert commits) key on it and readers could no longer apply " +
              "them; compact the table first")
          val i = sch.fieldIndex(c)
          sch = StructType(sch.fields.patch(i, Nil, 1))
          ids = ids.patch(i, Nil, 1) // the id retires — never reused
          tomb :+= c
          // old sidecars keep the dropped column's filter under the
          // dead name; readers resolve by CURRENT name, so it is inert
          bloomC = bloomC.filterNot(_ == c)
          ndvC = ndvC.filterNot(_ == c)
          // the z-order property names live columns; dropping one
          // retires the property (files stay physically clustered —
          // only compaction's z-merge claim is given up)
          if (zorder.exists(z => z._1 == c || z._2 == c)) zorder = None
        }
      case ren: TableChange.RenameColumn =>
        val from = single(ren.fieldNames)
        val to = ren.newName
        require(sch.fieldNames.contains(from),
          s"graftshard: no such column '$from'")
        requireFreshName(to, "rename to")
        val i = sch.fieldIndex(from)
        aliases.get(to).foreach { id =>
          require(id == ids(i),
            s"graftshard: cannot rename '$from' to '$to' — '$to' is a PAST " +
              "name of a DIFFERENT column, and existing files still store " +
              "that column's bytes under it")
        }
        sch = StructType(sch.fields.updated(i, sch.fields(i).copy(name = to)))
        // old name resolves name-keyed sidecars to the id; renaming BACK to a
        // name the same id once had un-reserves it (it is current again)
        aliases = aliases - to + (from -> ids(i))
        // the manifest stays self-consistent under the CURRENT names:
        // per-file stats re-key (metadata-only — the manifest IS the
        // stats store), layout spine columns follow
        def rekey[V](s: Map[String, V]): Map[String, V] =
          s.map { case (k, v) => (if (k == from) to else k) -> v }
        files = files.map(fe => fe.copy(
          stats = rekey(fe.stats), allNull = rekey(fe.allNull),
          sums = rekey(fe.sums), strStats = rekey(fe.strStats),
          ndv = rekey(fe.ndv), kll = rekey(fe.kll)))
        part = part.map {
          case ShardFormat.IdentityPart(`from`) => ShardFormat.IdentityPart(to)
          case ShardFormat.BucketPart(n, `from`) => ShardFormat.BucketPart(n, to)
          case ShardFormat.TransformPart(u, `from`) => ShardFormat.TransformPart(u, to)
          case other => other
        }
        sorted = sorted.map(s => if (s == from) to else s)
        zorder = zorder.map { case (a, b) =>
          (if (a == from) to else a, if (b == from) to else b) }
        // the property follows the rename; existing sidecars keyed by
        // the OLD name resolve through the alias map at read time
        bloomC = bloomC.map(c => if (c == from) to else c)
        ndvC = ndvC.map(c => if (c == from) to else c)
        // equality deletes are manifest-resident (sidecars hold VALUES,
        // not names) — re-key like the stats maps
        eqDel = eqDel.map(d => if (d.column == from) d.copy(column = to) else d)
      case upd: TableChange.UpdateColumnType =>
        val c = single(upd.fieldNames)
        require(sch.fieldNames.contains(c),
          s"graftshard: no such column '$c'")
        val i = sch.fieldIndex(c)
        val old = sch.fields(i).dataType
        if (old != upd.newDataType) {
          require(ShardFormat.widensTo(old, upd.newDataType),
            s"graftshard: cannot change column '$c' from ${old.sql} to " +
              s"${upd.newDataType.sql} — only lossless widenings (int->long, " +
              "float->double) are supported; anything else would need a " +
              "table rewrite to stay honest")
          sch = StructType(sch.fields.updated(i, sch.fields(i).copy(dataType = upd.newDataType)))
        }
      case other => throw new UnsupportedOperationException(
        s"graftshard: unsupported ALTER TABLE change $other — supported: " +
          "ADD COLUMN (nullable, appended), DROP COLUMN (not the " +
          "partition/sort column), RENAME COLUMN (manifest-only via field " +
          "ids), ALTER COLUMN TYPE widening (int->long, float->double)")
    }
    ShardFormat.commitNext(dir.getPath, m, m.copy(
      schema = sch,
      droppedColumns = tomb,
      fieldIds = ids,
      lastFieldId = lastId,
      aliases = aliases,
      files = files,
      partitioning = part,
      sortedBy = sorted,
      zorderBy = zorder,
      bloomColumns = bloomC,
      ndvColumns = ndvC,
      equalityDeletes = eqDel), "alter", freshGeneration = false)
    new GraftShardTable(dir.getPath, sch)
    }
  }

  override def dropTable(ident: Identifier): Boolean = {
    val dir = tableDir(ident)
    val dropped = ShardFormat.withCommitLock(dir.getPath) {
      if (!ShardFormat.manifestFile(dir.getPath).isFile) false
      else {
        // never bulk-delete the commit.lock this very section holds (or
        // a steal tombstone mid-rename) — a concurrent process could
        // O_EXCL-acquire the freed path while the drop is still running,
        // and our release path would then contend with its fresh lock.
        // The lock is removed by withCommitLock's normal exit; the dir
        // itself is reaped below, after the release.
        filesIn(dir)
          .filterNot(_.getName.startsWith(ShardFormat.CommitLockName))
          .foreach(_.delete())
        true
      }
    }
    if (dropped) dir.delete() // best-effort: fails only if re-created
    dropped
  }

  override def renameTable(oldIdent: Identifier, newIdent: Identifier): Unit = {
    if (!tableExists(oldIdent)) throw new NoSuchTableException(oldIdent)
    if (tableExists(newIdent)) throw new TableAlreadyExistsException(newIdent)
    if (!nsDir(newIdent.namespace).isDirectory)
      throw new NoSuchNamespaceException(newIdent.namespace)
    if (!tableDir(oldIdent).renameTo(tableDir(newIdent)))
      throw new IllegalStateException(
        s"graftshard: cannot rename ${oldIdent} to ${newIdent}")
  }

  // --------------------------------------------------------- namespaces

  override def listNamespaces(): Array[Array[String]] = {
    val w = new File(warehouse)
    if (!w.isDirectory) Array.empty
    else filesIn(w).filter(_.isDirectory).map(f => Array(f.getName))
  }

  override def listNamespaces(namespace: Array[String]): Array[Array[String]] = {
    val d = nsDir(namespace)
    if (!d.isDirectory) throw new NoSuchNamespaceException(namespace)
    filesIn(d)
      .filter(f => f.isDirectory && !ShardFormat.manifestFile(f.getPath).isFile)
      .map(f => namespace :+ f.getName)
  }

  override def namespaceExists(namespace: Array[String]): Boolean =
    namespace.isEmpty || nsDir(namespace).isDirectory

  override def loadNamespaceMetadata(namespace: Array[String]): java.util.Map[String, String] = {
    if (!namespaceExists(namespace)) throw new NoSuchNamespaceException(namespace)
    Map.empty[String, String].asJava
  }

  override def createNamespace(
      namespace: Array[String],
      metadata: java.util.Map[String, String]): Unit = {
    if (namespaceExists(namespace)) throw new NamespaceAlreadyExistsException(namespace)
    nsDir(namespace).mkdirs(): Unit
  }

  override def alterNamespace(namespace: Array[String], changes: NamespaceChange*): Unit =
    throw new UnsupportedOperationException("graftshard: ALTER NAMESPACE is not supported")

  override def dropNamespace(namespace: Array[String], cascade: Boolean): Boolean = {
    val d = nsDir(namespace)
    if (!d.isDirectory) throw new NoSuchNamespaceException(namespace)
    val empty = filesIn(d).isEmpty
    if (!empty && !cascade)
      // Spark's DROP NAMESPACE caller handles this type (clear SQL error,
      // not an opaque IllegalStateException)
      throw new NonEmptyNamespaceException(namespace)
    def rm(f: File): Unit = {
      if (f.isDirectory) filesIn(f).foreach(rm)
      f.delete(): Unit
    }
    rm(d)
    true
  }

  // ---------------------------------------------------------- functions

  override def listFunctions(namespace: Array[String]): Array[Identifier] =
    if (namespace.isEmpty)
      (Seq("bucket", "zorder") ++ ShardFormat.TransformUnits.toSeq.sorted)
        .map(Identifier.of(Array.empty[String], _)).toArray
    else if (namespaceExists(namespace)) Array.empty
    else throw new NoSuchNamespaceException(namespace)

  override def loadFunction(ident: Identifier): UnboundFunction =
    if (ident.name == "bucket") GraftBucketFunction
    else if (ident.name == "zorder") GraftZOrderFunction
    else if (ShardFormat.TransformUnits(ident.name))
      new GraftTimeTransformFunction(ident.name)
    else throw new NoSuchFunctionException(ident)

  // --------------------------------------------------------- procedures

  /** The maintenance surface as SQL procedures (`CALL cat.system.X(...)`
    * — the Iceberg shape): `compact` (OPTIMIZE), `expire_snapshots`,
    * `vacuum`. The scheduled-job half of a lake lives in SQL at 100 TB
    * (an orchestrator issues CALLs; it does not link the library), and
    * each returns its report as rows so the job can alert on them. */
  private val procedureNames =
    Seq("compact", "expire_snapshots", "vacuum", "rollback", "set_partitioning", "analyze",
      "publish_branch", "drop_branch")

  override def listProcedures(namespace: Array[String]): Array[Identifier] =
    if (namespace.isEmpty || namespace.sameElements(Array("system")))
      procedureNames.map(n => Identifier.of(Array("system"), n)).toArray
    else Array.empty

  /** `namespace.table` → the table's directory (procedures take the
    * table as a STRING argument — CALL arguments are values, not
    * identifiers). */
  private def procTableDir(arg: String): String = {
    val parts = arg.split('.')
    require(parts.length == 2,
      s"graftshard: procedure table argument must be 'namespace.table', got '$arg'")
    val ident = Identifier.of(Array(parts(0)), parts(1))
    val d = tableDir(ident)
    if (!ShardFormat.manifestFile(d.getPath).isFile) throw new NoSuchTableException(ident)
    d.getPath
  }

  // Spark's InvokeProcedures admits ONLY LocalScan output — the report
  // is a handful of driver-resident rows anyway
  private def rowsScan(schema: StructType, rs: Seq[Array[Any]]): Scan =
    new org.apache.spark.sql.connector.read.LocalScan {
      override def readSchema(): StructType = schema
      override def rows(): Array[InternalRow] =
        rs.map(vs => new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(vs)
          : InternalRow).toArray
    }

  private def procedure(
      pname: String,
      params: Array[ProcedureParameter],
      out: StructType)(run: InternalRow => Seq[Array[Any]]): UnboundProcedure =
    new UnboundProcedure {
      override def name(): String = pname
      override def description(): String = s"graftshard maintenance: $pname"
      override def bind(inputType: StructType): BoundProcedure = new BoundProcedure {
        override def name(): String = pname
        override def description(): String = s"graftshard maintenance: $pname"
        override def parameters(): Array[ProcedureParameter] = params
        override def isDeterministic: Boolean = false
        override def call(input: InternalRow): java.util.Iterator[Scan] =
          java.util.Collections.singletonList(rowsScan(out, run(input))).iterator()
      }
    }

  override def loadProcedure(ident: Identifier): UnboundProcedure = {
    require(ident.namespace.sameElements(Array("system")),
      s"graftshard: unknown procedure namespace ${ident.namespace.mkString(".")} — " +
        "maintenance procedures live under 'system'")
    ident.name match {
      case "compact" => procedure(
        "compact",
        Array(
          ProcedureParameter.in("table", StringType)
            .comment("'namespace.table' to compact").build(),
          ProcedureParameter.in("target_bytes", LongType)
            .defaultValue((128L * 1024 * 1024).toString)
            .comment("target output shard size").build(),
          ProcedureParameter.in("partition", LongType)
            .defaultValue("NULL")
            .comment("compact only this partition key (default: whole table)").build()),
        StructType(Seq(
          StructField("groups", LongType, nullable = false),
          StructField("replaced_files", LongType, nullable = false),
          StructField("created_files", LongType, nullable = false)))) { in =>
        val r = GraftShardMaintenance.compact(
          org.apache.spark.sql.SparkSession.active,
          procTableDir(in.getUTF8String(0).toString), in.getLong(1),
          if (in.isNullAt(2)) None else Some(in.getLong(2)))
        Seq(Array[Any](r.groups.toLong, r.replaced.size.toLong, r.added.size.toLong))
      }
      case "analyze" => procedure(
        "analyze",
        Array(
          ProcedureParameter.in("table", StringType)
            .comment("'namespace.table' to analyze").build(),
          ProcedureParameter.in("columns", StringType)
            .defaultValue("'*'")
            .comment("comma-separated columns to sketch (NDV + KLL); '*' = all eligible")
            .build(),
          ProcedureParameter.in("blooms", BooleanType)
            .defaultValue("false")
            .comment("also backfill per-file bloom sidecars for the columns")
            .build()),
        StructType(Seq(
          StructField("files_analyzed", LongType, nullable = false),
          StructField("columns", StringType, nullable = false),
          StructField("new_version", LongType, nullable = false),
          StructField("bloom_files", LongType, nullable = false)))) { in =>
        val cols = in.getUTF8String(1).toString.split(",").map(_.trim)
          .filter(_.nonEmpty).toSeq
        val blooms = !in.isNullAt(2) && in.getBoolean(2)
        val r = GraftShardMaintenance.analyze(
          org.apache.spark.sql.SparkSession.active,
          procTableDir(in.getUTF8String(0).toString), cols, blooms)
        Seq(Array[Any](r.filesAnalyzed.toLong,
          org.apache.spark.unsafe.types.UTF8String.fromString(
            r.columns.mkString(",")), r.newVersion, r.bloomFiles.toLong))
      }
      case "expire_snapshots" => procedure(
        "expire_snapshots",
        Array(
          ProcedureParameter.in("table", StringType)
            .comment("'namespace.table' whose history to retire").build(),
          ProcedureParameter.in("keep_last", IntegerType)
            .defaultValue("1").comment("snapshots to retain").build(),
          ProcedureParameter.in("older_than_ms", LongType)
            .defaultValue("0")
            .comment("wall-clock guard: only snapshots at least this old expire").build()),
        StructType(Seq(
          StructField("expired_snapshots", LongType, nullable = false)))) { in =>
        val expired = GraftShardMaintenance.expireSnapshots(
          procTableDir(in.getUTF8String(0).toString), in.getInt(1), in.getLong(2))
        Seq(Array[Any](expired.size.toLong))
      }
      case "vacuum" => procedure(
        "vacuum",
        Array(
          ProcedureParameter.in("table", StringType)
            .comment("'namespace.table' to reclaim garbage under").build(),
          ProcedureParameter.in("min_age_ms", LongType)
            .defaultValue(GraftShardMaintenance.DefaultMinAgeMs.toString)
            .comment("age horizon — younger candidates are kept").build(),
          ProcedureParameter.in("dry_run", org.apache.spark.sql.types.BooleanType)
            .defaultValue("false")
            .comment("report reclaimable files without deleting").build()),
        StructType(Seq(
          StructField("deleted", LongType, nullable = false),
          StructField("kept_live", LongType, nullable = false),
          StructField("kept_recent", LongType, nullable = false)))) { in =>
        val r = GraftShardMaintenance.vacuum(
          procTableDir(in.getUTF8String(0).toString), in.getLong(1), in.getBoolean(2))
        Seq(Array[Any](r.deleted.size.toLong, r.keptLive.toLong, r.keptRecent.size.toLong))
      }
      case "rollback" => procedure(
        "rollback",
        Array(
          ProcedureParameter.in("table", StringType)
            .comment("'namespace.table' to roll back").build(),
          ProcedureParameter.in("version", LongType)
            .defaultValue("NULL")
            .comment("retained snapshot version to restore").build(),
          ProcedureParameter.in("timestamp_ms", LongType)
            .defaultValue("NULL")
            .comment("or: restore the newest snapshot at or before this wall-clock ms")
            .build()),
        StructType(Seq(
          StructField("previous_version", LongType, nullable = false),
          StructField("restored_version", LongType, nullable = false),
          StructField("new_version", LongType, nullable = false),
          StructField("files", LongType, nullable = false)))) { in =>
        val dir = procTableDir(in.getUTF8String(0).toString)
        val r = (in.isNullAt(1), in.isNullAt(2)) match {
          case (false, true) => GraftShardMaintenance.rollback(dir, in.getLong(1))
          case (true, false) => GraftShardMaintenance.rollbackToTimestamp(dir, in.getLong(2))
          case _ => throw new IllegalArgumentException(
            "graftshard: rollback needs exactly one of (version, timestamp_ms)")
        }
        Seq(Array[Any](r.fromVersion, r.restoredVersion, r.newVersion, r.files.toLong))
      }
      case "publish_branch" => procedure(
        "publish_branch",
        Array(
          ProcedureParameter.in("table", StringType)
            .comment("'namespace.table' whose staged branch to publish").build(),
          ProcedureParameter.in("branch", StringType)
            .comment("branch name (the write's stageAs option)").build()),
        StructType(Seq(
          StructField("published_version", LongType, nullable = false)))) { in =>
        val v = GraftShardMaintenance.publishBranch(
          procTableDir(in.getUTF8String(0).toString), in.getUTF8String(1).toString)
        Seq(Array[Any](v))
      }
      case "drop_branch" => procedure(
        "drop_branch",
        Array(
          ProcedureParameter.in("table", StringType)
            .comment("'namespace.table' whose staged branch to discard").build(),
          ProcedureParameter.in("branch", StringType)
            .comment("branch name to drop").build()),
        StructType(Seq(
          StructField("existed", org.apache.spark.sql.types.BooleanType,
            nullable = false)))) { in =>
        val existed = GraftShardMaintenance.dropBranch(
          procTableDir(in.getUTF8String(0).toString), in.getUTF8String(1).toString)
        Seq(Array[Any](existed))
      }
      case "set_partitioning" => procedure(
        "set_partitioning",
        Array(
          ProcedureParameter.in("table", StringType)
            .comment("'namespace.table' whose clustering spec to change").build(),
          ProcedureParameter.in("spec", StringType)
            .comment("'none', '<column>', or 'bucket(<n>, <column>)'").build()),
        StructType(Seq(
          StructField("spec", StringType, nullable = false),
          StructField("files_cleared", LongType, nullable = false),
          StructField("new_version", LongType, nullable = false)))) { in =>
        val r = GraftShardMaintenance.setPartitioning(
          procTableDir(in.getUTF8String(0).toString),
          GraftShardMaintenance.parsePartSpec(in.getUTF8String(1).toString))
        val shown = r.spec match {
          case None => "none"
          case Some(ShardFormat.IdentityPart(c)) => c
          case Some(ShardFormat.BucketPart(n, c)) => s"bucket($n, $c)"
          case Some(ShardFormat.TransformPart(u, c)) => s"$u($c)"
        }
        Seq(Array[Any](org.apache.spark.unsafe.types.UTF8String.fromString(shown),
          r.filesCleared.toLong, r.newVersion))
      }
      case other => throw new UnsupportedOperationException(
        s"graftshard: unknown procedure 'system.$other' — supported: " +
          procedureNames.mkString(", "))
    }
  }
}

/** The SQL-visible half of [[ShardFormat.zOrderOf]] — the write path
  * resolves the `zorder(a, b)` ordering transform through this
  * function ([[GraftShardZOrderWrite]]), and the `invoke` magic keeps
  * the per-row interleave inside codegen. */
object GraftZOrderFunction extends UnboundFunction {
  override def name(): String = "zorder"
  override def description(): String =
    "zorder(a, b): Morton bit-interleave of two integral keys (2-D clustering)"
  override def bind(inputType: StructType): BoundFunction = {
    require(inputType.fields.length == 2,
      s"zorder expects (a, b), got ${inputType.simpleString}")
    inputType.fields.foreach { f =>
      require(f.dataType == LongType || f.dataType == IntegerType,
        s"zorder: unsupported key type ${f.dataType.sql} (long/int)")
    }
    ZOrderLongFunction
  }
}

object ZOrderLongFunction extends ScalarFunction[java.lang.Long] {
  override def inputTypes(): Array[org.apache.spark.sql.types.DataType] =
    Array(LongType, LongType)
  override def resultType(): org.apache.spark.sql.types.DataType = LongType
  override def name(): String = "zorder"
  override def canonicalName(): String = "graftshard.zorder"
  override def isResultNullable: Boolean = false
  override def produceResult(input: InternalRow): java.lang.Long =
    ShardFormat.zOrderOf(input.getLong(0), input.getLong(1))
  def invoke(a: Long, b: Long): Long = ShardFormat.zOrderOf(a, b)
}

/** The SQL-visible half of [[ShardFormat.bucketOf]] — Spark resolves
  * `PARTITIONED BY (bucket(n, col))` through this function for
  * storage-partitioned joins, and EVALUATES it to co-shuffle the
  * unkeyed side of a one-sided join. Must stay value-identical to the
  * writer's placement or joins silently mis-align; the spec pins
  * function-vs-writer agreement on negative and int keys. */
object GraftBucketFunction extends UnboundFunction {
  override def name(): String = "bucket"
  override def description(): String =
    "bucket(n, key): graftshard bucket transform, floorMod(key, n)"
  override def bind(inputType: StructType): BoundFunction = {
    require(inputType.fields.length == 2,
      s"bucket expects (numBuckets, key), got ${inputType.simpleString}")
    inputType.fields(1).dataType match {
      case LongType => BucketLongFunction
      case IntegerType => BucketIntFunction
      case org.apache.spark.sql.types.StringType => BucketStringFunction
      case dt => throw new UnsupportedOperationException(
        s"bucket: unsupported key type ${dt.sql} (long/int/string)")
    }
  }
}

object BucketLongFunction extends ScalarFunction[Integer] {
  override def inputTypes(): Array[org.apache.spark.sql.types.DataType] =
    Array(IntegerType, LongType)
  override def resultType(): org.apache.spark.sql.types.DataType = IntegerType
  override def name(): String = "bucket"
  override def canonicalName(): String = "graftshard.bucket"
  override def isResultNullable: Boolean = false
  override def produceResult(input: InternalRow): Integer =
    ShardFormat.bucketOf(input.getLong(1), input.getInt(0))
  def invoke(numBuckets: Int, key: Long): Int = ShardFormat.bucketOf(key, numBuckets)
}

/** String keys hash through [[ShardFormat.stringKeyRaw]] — the same
  * bytes-hash the writer uses to place rows, so Spark's co-shuffle of
  * an unkeyed join side lands every row in the right bucket. */
object BucketStringFunction extends ScalarFunction[Integer] {
  override def inputTypes(): Array[org.apache.spark.sql.types.DataType] =
    Array(IntegerType, org.apache.spark.sql.types.StringType)
  override def resultType(): org.apache.spark.sql.types.DataType = IntegerType
  override def name(): String = "bucket"
  override def canonicalName(): String = "graftshard.bucket"
  override def isResultNullable: Boolean = false
  override def produceResult(input: InternalRow): Integer =
    ShardFormat.bucketOf(
      ShardFormat.stringKeyRaw(input.getUTF8String(1).getBytes), input.getInt(0))
  def invoke(numBuckets: Int, key: org.apache.spark.unsafe.types.UTF8String): Int =
    ShardFormat.bucketOf(ShardFormat.stringKeyRaw(key.getBytes), numBuckets)
}

/** The SQL-visible half of [[ShardFormat.transformValue]] — one
  * function per time unit, resolved by Spark for
  * `PARTITIONED BY (days(ts))` storage-partitioned joins and evaluated
  * to co-shuffle the untransformed side. Must stay value-identical to
  * the writer's placement (the same alignment contract bucket pins). */
final class GraftTimeTransformFunction(unit: String) extends UnboundFunction {
  override def name(): String = unit
  override def description(): String =
    s"$unit(ts): graftshard time transform — the $unit ordinal (UTC, floored) of a timestamp"
  override def bind(inputType: StructType): BoundFunction = {
    require(inputType.fields.length == 1,
      s"$unit expects (timestamp), got ${inputType.simpleString}")
    val dt = inputType.fields(0).dataType
    require(dt == org.apache.spark.sql.types.TimestampType ||
        dt == org.apache.spark.sql.types.TimestampNTZType,
      s"$unit: unsupported input ${dt.sql} (timestamp)")
    new GraftTimeTransformScalar(unit, dt)
  }
}

final class GraftTimeTransformScalar(
    unit: String, input: org.apache.spark.sql.types.DataType)
    extends ScalarFunction[Integer] {
  override def inputTypes(): Array[org.apache.spark.sql.types.DataType] =
    Array(input)
  override def resultType(): org.apache.spark.sql.types.DataType = IntegerType
  override def name(): String = unit
  override def canonicalName(): String = s"graftshard.$unit"
  override def isResultNullable: Boolean = false
  override def produceResult(input: InternalRow): Integer =
    ShardFormat.transformValue(unit, input.getLong(0)).toInt
  def invoke(micros: Long): Int = ShardFormat.transformValue(unit, micros).toInt
}

object BucketIntFunction extends ScalarFunction[Integer] {
  override def inputTypes(): Array[org.apache.spark.sql.types.DataType] =
    Array(IntegerType, IntegerType)
  override def resultType(): org.apache.spark.sql.types.DataType = IntegerType
  override def name(): String = "bucket"
  override def canonicalName(): String = "graftshard.bucket"
  override def isResultNullable: Boolean = false
  override def produceResult(input: InternalRow): Integer =
    ShardFormat.bucketOf(input.getInt(1).toLong, input.getInt(0))
  def invoke(numBuckets: Int, key: Int): Int = ShardFormat.bucketOf(key.toLong, numBuckets)
}
