package graft.sources.v2

import java.io.File

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.sources.Filter
import org.apache.spark.sql.types._

/** Maintenance for graftshard tables. The manifest protocol makes
  * garbage inevitable BY DESIGN: aborted/speculative task attempts and
  * every overwritten generation leave `.shard` files no manifest
  * references (readers never see them — isolation is already total; the
  * cost is only storage). `vacuum` reclaims them with the standard lake
  * retention trade: a file is deleted only when it is BOTH unreferenced
  * by the current manifest AND older than `minAgeMs`. The age horizon is
  * what makes this safe against the one race a reference check cannot
  * see — a write IN FLIGHT has produced files that no manifest lists
  * yet; anything younger than the horizon is left alone. Pick the
  * horizon longer than any plausible write/commit duration (the default
  * mirrors the common lake default of days, not minutes, because a
  * retried 100 TB backfill can hold files uncommitted for hours).
  */
object GraftShardMaintenance {

  final case class VacuumReport(
      deleted: Seq[String],
      keptLive: Int,
      keptRecent: Seq[String])

  val DefaultMinAgeMs: Long = 24L * 3600 * 1000

  /** Deletes unreferenced `.shard` files and stale manifest temp files
    * older than `minAgeMs` under `dir`. "Referenced" means by the
    * current manifest OR any retained time-travel snapshot — vacuum
    * never breaks a version that is still loadable; run
    * [[expireSnapshots]] first to retire history, THEN vacuum reclaims
    * what only expired snapshots referenced (the Iceberg
    * expire_snapshots → remove_orphan_files order). Never touches the
    * manifest, snapshot manifests, or any file they list. */
  def vacuum(
      dir: String,
      minAgeMs: Long = DefaultMinAgeMs,
      // dry run: report what WOULD be reclaimed, delete nothing — the
      // standard preflight before the first vacuum of a new retention
      // policy (a wrong horizon is unrecoverable otherwise)
      dryRun: Boolean = false): VacuumReport = {
    val m = ShardFormat.readManifest(dir).getOrElse(throw new IllegalArgumentException(
      s"graftshard: no ${ShardFormat.ManifestName} under '$dir' — not a graftshard table"))
    val manifests = (m +: ShardFormat.listVersions(dir)
      .flatMap(v => ShardFormat.readManifestVersion(dir, v))) ++
      // a STAGED branch's files are live until published or dropped —
      // reaping them would gut the commit an auditor is about to bless
      ShardFormat.listBranches(dir).flatMap(ShardFormat.readBranch(dir, _))
    val referenced = manifests.flatMap(_.files)
    // live = shard files AND their sidecars (merge-on-read delete
    // vectors, bloom filters) AND paged manifest segments of every
    // loadable version
    val live = (referenced.map(_.name) ++ referenced.flatMap(_.deletes) ++
      referenced.flatMap(_.bloom) ++
      manifests.flatMap(_.equalityDeletes.map(_.name)) ++
      manifests.flatMap(_.pagedSegments.map(_.name))).toSet
    val cutoff = System.currentTimeMillis() - minAgeMs
    val deleted = Seq.newBuilder[String]
    val keptRecent = Seq.newBuilder[String]
    var keptLive = 0
    def reclaimable(n: String): Boolean =
      n.endsWith(".shard") || n.endsWith(".dvs") || n.endsWith(".bloom") ||
        n.endsWith(".eqkeys") || n.startsWith("_graft_manifest-seg-")
    Option(new File(dir).listFiles()).getOrElse(Array.empty).foreach { f =>
      val n = f.getName
      val candidate =
        (reclaimable(n) && !live.contains(n)) ||
          n.startsWith(s"${ShardFormat.ManifestName}.tmp-")
      if (reclaimable(n) && live.contains(n)) keptLive += 1
      else if (candidate) {
        if (f.lastModified() <= cutoff) { if (dryRun || f.delete()) deleted += n }
        else keptRecent += n
      }
    }
    VacuumReport(deleted.result().sorted, keptLive, keptRecent.result().sorted)
  }

  /** Publishes staged branch `branch` as the table's next live commit
    * (the P of write-audit-publish). Under the commit lock the staged
    * manifest's BASE is re-validated — it was composed against
    * v(staged.version - 1), and any commit that landed since makes the
    * stage's view of the file list stale, so publishing would silently
    * drop those commits' files (the exact lost-update the lock chain
    * exists to prevent). A conflict refuses loudly; the staged files
    * stay on disk, so the fix is re-stage or drop. Returns the
    * published version. */
  def publishBranch(dir: String, branch: String): Long =
    ShardFormat.withCommitLock(dir) {
      val staged = ShardFormat.readBranch(dir, branch).getOrElse(
        throw new IllegalArgumentException(
          s"graftshard: no staged branch '$branch' under '$dir' — available: " +
            s"${ShardFormat.listBranches(dir).mkString(", ")}"))
      val cur = ShardFormat.readManifest(dir).getOrElse(
        throw new IllegalArgumentException(
          s"graftshard: no ${ShardFormat.ManifestName} under '$dir'"))
      // FAST-FORWARD publish: the branch may carry any number of staged
      // commits (branchBase = the live version it forked from); it
      // publishes iff the live pointer has not moved since the fork —
      // otherwise the branch no longer descends from the table and the
      // publish refuses loudly (pre-branchBase snapshots keep the old
      // exactly-one-commit check)
      val base = staged.branchBase.getOrElse(staged.version - 1)
      require(cur.version == base,
        s"graftshard: cannot publish branch '$branch' — staged against " +
          s"v$base but the table is now at v${cur.version}; " +
          "re-stage the write (its files are untouched) or drop the branch")
      ShardFormat.writeManifest(dir,
        staged.copy(createdAtMs = System.currentTimeMillis(), branchBase = None))
      ShardFormat.branchFile(dir, branch).delete()
      staged.version
    }

  /** Discards staged branch `branch` without publishing; its files
    * become ordinary vacuum garbage once past the age horizon. Returns
    * true when the branch existed. */
  def dropBranch(dir: String, branch: String): Boolean =
    ShardFormat.withCommitLock(dir) {
      ShardFormat.branchFile(dir, branch).delete()
    }

  final case class CompactReport(
      groups: Int,
      replaced: Seq[String],
      added: Seq[String])

  /** Compaction (the lake OPTIMIZE): merges small shard files into
    * ~`targetBytes` ones — the small-file problem is what a 100 TB
    * streaming/incremental ingestion actually accumulates (every
    * micro-batch append is its own file; a year of 1-minute batches is
    * 500k files whose per-file open/seek overhead dominates scans and
    * whose manifest entries crowd the driver).
    *
    * Planning is driver-side from the manifest alone: within each
    * partition value (keyed/bucketed tables — the one-key-per-FILE
    * invariant must survive, so only same-key files ever merge;
    * unkeyed tables form one pool), files under `targetBytes` are
    * greedily chunked into groups of >= 2. Execution is DISTRIBUTED —
    * one Spark task per output file, each streaming its group through
    * the shard codec (never a driver-side row loop). Sorted layouts
    * are PRESERVED: when the manifest declares `sortedBy`, each input
    * file is one sorted run and the task k-way-MERGES them (O(1)
    * memory). That restores the ONE-FILE-PER-KEY half of the sorted
    * contract: sorted-declared appends keep `sortedBy` but leave
    * multiple runs per key, which stops the scan's ordering report —
    * after compacting, windows/merge joins go back to zero-sort. (An
    * UNSORTED append clears the flag itself; compaction concatenates
    * then and cannot resurrect an ordering nobody declared.)
    *
    * Commit is the manifest swap with the same concurrency discipline
    * as the row-level tier: the plan pins the manifest; if any input
    * file is gone OR its delete-vector state changed (a concurrent
    * merge-on-read DELETE — publishing plan-time output would resurrect
    * its rows, see [[validateCommit]]), the commit fails loudly and the
    * new files are unreferenced vacuum garbage. A concurrent APPEND is
    * tolerated (its files carry over). Replaced
    * entries vanish mid-list, so the generation is bumped (streaming
    * prefix offsets die loudly). Old files become vacuum garbage,
    * never deleted inline (readers may be mid-scan). */
  def compact(
      spark: SparkSession,
      dir: String,
      targetBytes: Long = 128L * 1024 * 1024,
      // partition-scoped OPTIMIZE: only this key's files are candidates
      // (at 100 TB the maintenance job compacts the hot partition the
      // last hour of micro-batches fragmented, not the whole table —
      // O(partition) instead of O(table), and concurrent appends to
      // OTHER keys never conflict with the commit)
      onlyPartition: Option[Long] = None): CompactReport = {
    val m = ShardFormat.readManifest(dir).getOrElse(throw new IllegalArgumentException(
      s"graftshard: no ${ShardFormat.ManifestName} under '$dir' — not a graftshard table"))
    onlyPartition.foreach { p =>
      require(m.partitioning.isDefined,
        s"graftshard: partition-scoped compaction needs a partitioned table, " +
          s"but '$dir' is unpartitioned")
      require(m.files.exists(_.partition.contains(p)),
        s"graftshard: no files under partition $p at '$dir' — " +
          s"present keys: ${m.files.flatMap(_.partition).distinct.sorted.take(20).mkString(", ")}")
    }
    // a file subject to ANY live equality delete (strictly older than
    // the delete's seq) is a rewrite candidate regardless of size —
    // one compact pass applies and retires the read-side tax
    val maxEqSeq = (0L +: m.equalityDeletes.map(_.seq)).max
    val groups: Seq[(Option[Long], Seq[(String, Option[String], Long)])] =
      m.files.filter(fe => onlyPartition.forall(fe.partition.contains(_)))
        .groupBy(_.partition).toSeq.sortBy(_._1).flatMap { case (p, fes) =>
        // small files merge; files carrying merge-on-read delete
        // vectors or subject to equality deletes are candidates
        // REGARDLESS of size (a singleton rewrite purges the vector /
        // applies the deletes and restores full pushdown)
        def dirty(fe: ShardFormat.FileEntry): Boolean =
          fe.deletes.isDefined || fe.seq < maxEqSeq
        val small = fes.filter(fe => fe.bytes < targetBytes || dirty(fe))
        def keep(b: Seq[ShardFormat.FileEntry]): Boolean =
          b.size >= 2 || b.exists(dirty)
        if (small.isEmpty) Nil
        else {
          // greedy chunking to ~targetBytes, manifest order (sorted
          // runs of the same key merge in any order)
          val bins = Seq.newBuilder[Seq[ShardFormat.FileEntry]]
          var cur = Vector.empty[ShardFormat.FileEntry]; var sz = 0L
          small.foreach { fe =>
            if (cur.nonEmpty && sz + fe.bytes > targetBytes) {
              if (keep(cur)) bins += cur
              cur = Vector.empty; sz = 0L
            }
            cur :+= fe; sz += fe.bytes
          }
          if (keep(cur)) bins += cur
          bins.result().map(b => (p, b.map(fe => (fe.name, fe.deletes, fe.seq))))
        }
      }
    if (groups.isEmpty) return CompactReport(0, Nil, Nil)
    val schema = m.schema
    val sortIdx = m.sortedBy.map(schema.fieldIndex).getOrElse(-1)
    val sortType: DataType =
      if (sortIdx < 0) NullType else schema.fields(sortIdx).dataType
    // z-ordered table (every file one z-run — the manifest property's
    // invariant): k-way merge groups on the Morton value so the
    // OPTIMIZE pass PRESERVES the min/max-box clustering instead of
    // diffusing it by concatenation
    val zIdx: Option[(Int, Int)] =
      if (sortIdx >= 0) None
      else m.zorderBy.map { case (a, b) => (schema.fieldIndex(a), schema.fieldIndex(b)) }
    // the table's recorded compression survives maintenance: without
    // this, the routine OPTIMIZE pass would rewrite a deflate table RAW
    // and the at-rest saving would silently evaporate
    val codec = m.compression.getOrElse("none")
    // output is written under the manifest's field ids; inputs resolve
    // through the same id map
    val ids = ShardFormat.writeFieldIds(Some(m), schema)
    val resolve = m.resolution
    // bloom sidecars regenerate with the rewrite (the property is the
    // manifest's, so compacted files keep the table's pruning power)
    val bloomCols = m.bloomColumns
    val ndvCols = m.ndvColumns
    // compaction APPLIES equality deletes (the reader anti-filters each
    // member by its own seq); the output carries the max member seq, so
    // applied deletes no longer cover it and reapplication of any
    // later delete is an idempotent no-op
    val eqRefs = m.equalityDeletes.map(d =>
      (d.column, new File(dir, d.name).getPath, d.seq))
    val newEntries: Array[ShardFormat.FileEntry] =
      spark.sparkContext.parallelize(groups, groups.size).map { case (p, members) =>
        val name = s"compact-${java.util.UUID.randomUUID().toString.take(12)}.shard"
        val w = new ShardFormat.ShardWriter(new File(dir, name), schema, codec, ids,
          bloomCols, ndvCols = ndvCols)
        try {
          GraftShardMaintenance.streamGroup(dir, members, schema, sortIdx, sortType,
            resolve, eqRefs, zIdx)
            .foreach(w.write)
          w.finish(p).entry.copy(seq = members.map(_._3).max)
        } catch { case t: Throwable => w.abort(); throw t }
      }.collect()
    ShardFormat.withCommitLock(dir) {
    val current = ShardFormat.readManifest(dir).getOrElse(
      throw new IllegalStateException(s"graftshard: table at '$dir' vanished during compaction"))
    val replaced = groups.flatMap(_._2.map(_._1)).toSet
    validateCommit(m, current, replaced).foreach { reason =>
      newEntries.foreach(fe => ShardFormat.discard(dir, fe.name))
      throw new IllegalStateException(
        s"graftshard: concurrent commit detected at '$dir' — compaction planned " +
          s"against manifest v${m.version} but $reason " +
          s"(now v${current.version}); re-run (compaction output is " +
          "unreferenced and vacuum-reclaimable)")
    }
    val newFiles = current.files.filterNot(fe => replaced.contains(fe.name)) ++ newEntries
    // an equality delete RETIRES once no remaining file predates it —
    // its sidecar becomes vacuum garbage and the read-side tax is gone
    val liveEq = current.equalityDeletes.filter(d => newFiles.exists(_.seq < d.seq))
    ShardFormat.commitNext(dir, current,
      current.copy(files = newFiles, equalityDeletes = liveEq),
      "compact", freshGeneration = true)
    CompactReport(groups.size, replaced.toSeq.sorted, newEntries.map(_.name).toSeq.sorted)
    }
  }

  /** Commit-time concurrency check for [[compact]]: the compacted
    * output was built from the PLAN-time manifest, so it is publishable
    * only while every replaced input is byte-for-byte the row set the
    * plan saw. A name-only check is NOT enough: a merge-on-read DELETE
    * committing between plan and commit keeps the file name but swaps
    * its delete-vector sidecar — publishing output built from the
    * plan-time vector would silently RESURRECT the newly-deleted rows.
    * Pure appends are tolerated (their entries carry over untouched).
    * Returns the refusal reason, or None when the commit is safe. */
  private[graft] def validateCommit(
      planned: ShardFormat.Manifest,
      current: ShardFormat.Manifest,
      replaced: Set[String]): Option[String] = {
    val names = current.files.map(_.name).toSet
    if (!replaced.subsetOf(names))
      return Some("input files were replaced")
    val plannedBy = planned.files.map(fe => fe.name -> fe).toMap
    val moved = current.files.filter(fe => replaced.contains(fe.name)).filter { fe =>
      val p = plannedBy(fe.name)
      fe.deletes != p.deletes || fe.deletedRows != p.deletedRows
    }
    if (moved.nonEmpty)
      Some(s"input files' delete vectors changed " +
        s"[${moved.map(_.name).sorted.mkString(", ")}] — publishing would " +
        "resurrect the concurrently-deleted rows")
    // an UPSERT landing between plan and commit adds an equality delete
    // the compacted output never applied — same resurrection hazard
    else if (current.equalityDeletes != planned.equalityDeletes)
      Some("the table's equality deletes changed (a concurrent upsert " +
        "committed) — publishing would resurrect the upserted-away rows")
    else None
  }

  /** Task-side row stream for one compaction group: plain concatenation
    * for unsorted layouts; a k-way streaming merge on the sort column
    * (NULLS FIRST, matching the sorted write's ASC ordering) when the
    * manifest declares one — each input file is one sorted run, so the
    * merged output is too. */
  private[v2] def streamGroup(
      dir: String,
      names: Seq[(String, Option[String], Long)],
      schema: StructType,
      sortIdx: Int,
      sortType: DataType,
      resolve: ShardFormat.ColumnResolution = ShardFormat.ColumnResolution.empty,
      eqDeletes: Seq[(String, String, Long)] = Nil,
      zIdx: Option[(Int, Int)] = None)
      : Iterator[InternalRow] = {
    // the batch reader APPLIES the member's delete vector AND the
    // equality deletes covering its seq, so a compacted file is clean:
    // sidecar refs drop from the manifest and the old vectors become
    // vacuum garbage. Its rows are views into reused vectors
    def readerOf(nd: (String, Option[String], Long)): Iterator[InternalRow] =
      new ShardBatchRows(new GraftShardColumnarPartitionReader(
        Array((new File(dir, nd._1).getPath, 0L,
          nd._2.map(d => new File(dir, d).getPath), None, nd._3)),
        schema, schema, Array.empty[Filter], resolve, eqDeletes)).iterator
    if (sortIdx < 0 && zIdx.isEmpty) names.iterator.flatMap(readerOf)
    else {
      val lt: (InternalRow, InternalRow) => Boolean = if (sortIdx < 0) {
        // z-merge: each input file is one z-run (the zorderBy property's
        // invariant), keys compared exactly as the writer sorted them —
        // zOrderOf's sign-flipped signed order, NULLS FIRST (the scalar
        // function yields null when either input is null)
        val (ia, ib) = zIdx.get
        val aInt = schema.fields(ia).dataType == IntegerType
        val bInt = schema.fields(ib).dataType == IntegerType
        def key(r: InternalRow): Long = ShardFormat.zOrderOf(
          if (aInt) r.getInt(ia).toLong else r.getLong(ia),
          if (bInt) r.getInt(ib).toLong else r.getLong(ib))
        (a, b) => {
          val an = a.isNullAt(ia) || a.isNullAt(ib)
          val bn = b.isNullAt(ia) || b.isNullAt(ib)
          if (an || bn) an && !bn // nulls first
          else key(a) < key(b)
        }
      } else {
        def cmp(f: (InternalRow, Int) => Comparable[Any]): (InternalRow, InternalRow) => Boolean =
          (a, b) => {
            val an = a.isNullAt(sortIdx); val bn = b.isNullAt(sortIdx)
            if (an || bn) an && !bn // nulls first
            else f(a, sortIdx).compareTo(f(b, sortIdx).asInstanceOf[Any]) < 0
          }
        sortType match {
          case LongType => cmp((r, i) => Long.box(r.getLong(i)).asInstanceOf[Comparable[Any]])
          case IntegerType => cmp((r, i) => Int.box(r.getInt(i)).asInstanceOf[Comparable[Any]])
          case DoubleType => cmp((r, i) => Double.box(r.getDouble(i)).asInstanceOf[Comparable[Any]])
          case FloatType => cmp((r, i) => Float.box(r.getFloat(i)).asInstanceOf[Comparable[Any]])
          case BooleanType => cmp((r, i) => Boolean.box(r.getBoolean(i)).asInstanceOf[Comparable[Any]])
          case StringType => cmp((r, i) => r.getUTF8String(i).asInstanceOf[Comparable[Any]])
          case other => throw new IllegalStateException(
            s"graftshard: cannot merge-compact sortedBy column of type ${other.sql}")
        }
      }
      // k is the group size (a handful): linear scan over the heads. A
      // head is held while its reader advances, so it is a COPY — the
      // reader's own row is a view its next batch overwrites
      val heads = scala.collection.mutable.ArrayBuffer.from(
        names.map(readerOf).filter(_.hasNext).map(it => (it.next().copy(), it)))
      new Iterator[InternalRow] {
        override def hasNext: Boolean = heads.nonEmpty
        override def next(): InternalRow = {
          var best = 0
          var i = 1
          while (i < heads.length) {
            if (lt(heads(i)._1, heads(best)._1)) best = i
            i += 1
          }
          val (row, it) = heads(best)
          if (it.hasNext) heads(best) = (it.next().copy(), it)
          else heads.remove(best)
          row
        }
      }
    }
  }

  /** Retires time-travel history: keeps the newest `keepLast` snapshot
    * manifests (and ALWAYS the one the current pointer names), deletes
    * the rest. `olderThanMs > 0` adds a WALL-CLOCK guard — only
    * snapshots committed at least that long ago expire (the retention
    * horizon ops jobs schedule by: "keep 7 days" composes with "keep at
    * least N" instead of fighting it; a pre-versioning snapshot with no
    * recorded commit time counts as old). Shard files referenced only
    * by expired snapshots become vacuum-reclaimable. Returns the
    * expired version numbers. */
  def expireSnapshots(dir: String, keepLast: Int, olderThanMs: Long = 0L): Seq[Long] =
    ShardFormat.withCommitLock(dir) {
    require(keepLast >= 1, "graftshard: keepLast must be >= 1")
    require(olderThanMs >= 0L, "graftshard: olderThanMs must be >= 0")
    // the pointer must sit at the CAS head BEFORE any snapshot dies:
    // expiring a version between a lagging pointer and the head would
    // strand the contiguous roll-forward walk and silently regress the
    // table to the pointer's version
    ShardFormat.healPointer(dir)
    val current = ShardFormat.readManifest(dir).getOrElse(throw new IllegalArgumentException(
      s"graftshard: no ${ShardFormat.ManifestName} under '$dir' — not a graftshard table"))
    val versions = ShardFormat.listVersions(dir)
    val keep = versions.takeRight(keepLast).toSet + current.version
    val cutoff = System.currentTimeMillis() - olderThanMs
    val expired = versions.filterNot(keep).filter { v =>
      olderThanMs == 0L ||
        ShardFormat.readManifestVersion(dir, v).forall(_.createdAtMs <= cutoff)
    }
    expired.foreach(v => ShardFormat.versionFile(dir, v).delete())
    expired
    }

  final case class SetPartitioningReport(
      spec: Option[ShardFormat.PartSpec],
      filesCleared: Int,
      newVersion: Long)

  /** PARTITION EVOLUTION (`CALL system.set_partitioning`): change the
    * table's at-rest clustering spec as a METADATA-ONLY commit — new
    * writes cluster under the new spec, existing files stay exactly as
    * written. Old files' recorded key values are OLD-SPEC currency
    * (an identity key is not a bucket id), so the commit CLEARS them
    * rather than letting any consumer compare keys across specs; every
    * key-dependent fast path already degrades honestly on a file
    * without a key (storage-partitioned joins and the zero-sort
    * ordering report stand down, grouped aggregate pushdown refuses,
    * compaction pools unkeyed files separately) and none of them is a
    * correctness surface — pruning runs on column STATS, which survive
    * untouched. Rows never move: re-keying existing data is an
    * explicit rewrite (INSERT OVERWRITE under the new spec), not a
    * side effect of a metadata command — at 100 TB that distinction is
    * the whole point. Generation is kept (no logical row changed;
    * streaming prefix offsets stay valid) and the commit is tagged
    * "alter" (the change feed's no-row-change class). */
  def setPartitioning(
      dir: String, spec: Option[ShardFormat.PartSpec]): SetPartitioningReport =
    ShardFormat.withCommitLock(dir) {
    val m = ShardFormat.readManifest(dir).getOrElse(throw new IllegalArgumentException(
      s"graftshard: no ${ShardFormat.ManifestName} under '$dir' — not a graftshard table"))
    require(spec != m.partitioning,
      s"graftshard: table at '$dir' already has partitioning $spec — nothing to change")
    spec.foreach { sp =>
      val f = m.schema.fields.find(_.name == sp.column).getOrElse(
        throw new IllegalArgumentException(
          s"graftshard: partition column '${sp.column}' not in table schema " +
            m.schema.fieldNames.mkString("(", ", ", ")")))
      sp match {
        case ShardFormat.TransformPart(u, c) =>
          require(ShardFormat.TransformUnits(u),
            s"graftshard: unknown partition transform '$u'")
          require(f.dataType == org.apache.spark.sql.types.TimestampType ||
              f.dataType == org.apache.spark.sql.types.TimestampNTZType,
            s"graftshard: $u() partitioning needs a timestamp column, " +
              s"'$c' is ${f.dataType.sql}")
        case ShardFormat.BucketPart(n, c) =>
          require(n > 0, s"graftshard: bucket needs n > 0, got $n")
          // bucket admits string keys (hashed to the raw long)
          require(f.dataType == org.apache.spark.sql.types.LongType ||
              f.dataType == org.apache.spark.sql.types.IntegerType ||
              f.dataType == org.apache.spark.sql.types.StringType,
            s"graftshard: bucket column '$c' must be long/int/string, " +
              s"got ${f.dataType.sql}")
        case _ =>
          require(f.dataType == org.apache.spark.sql.types.LongType ||
              f.dataType == org.apache.spark.sql.types.IntegerType,
            s"graftshard: partition column '${sp.column}' must be integral " +
              s"(long/int), got ${f.dataType.sql}")
      }
    }
    val cleared = m.files.count(_.partition.isDefined)
    val files = m.files.map(fe =>
      if (fe.partition.isDefined) fe.copy(partition = None) else fe)
    val written = ShardFormat.commitNext(dir, m,
      m.copy(files = files, partitioning = spec), "alter", freshGeneration = false)
    SetPartitioningReport(spec, cleared, written.version)
    }

  final case class AnalyzeReport(
      filesAnalyzed: Int,
      columns: Seq[String],
      newVersion: Long,
      bloomFiles: Int = 0)

  /** `CALL system.analyze` — RETROACTIVE statistics backfill: computes
    * per-file NDV (HLL) and, for integral-physical columns, KLL
    * quantile sketches for EXISTING files and lands them as a
    * METADATA-ONLY commit, then records the columns in `ndvColumns` so
    * every future write sketches automatically. Today's alternative for
    * a table created without the property is a full data rewrite
    * (compaction regenerates sketches) — at 100 TB the whole point of
    * stats is to never need one. The sketch pass is DISTRIBUTED (one
    * Spark task per file through the ordinary batch reader with
    * the target columns pruned), sketches describe PHYSICAL rows
    * exactly like write-time sketches (the scan's rollup caps by live
    * rows separately), and the commit re-reads the manifest under the
    * lock: files compacted/deleted during the pass drop out, files
    * added during it stay un-sketched until their own write path (the
    * property is live from this commit on). Re-running overwrites the
    * targeted columns' sketches (idempotent).
    *
    * `blooms = true` ALSO backfills per-file bloom sidecars for the
    * target columns — retroactive point-lookup skipping on an existing
    * corpus, the index counterpart of the stats backfill. Each task
    * writes (or MERGES into, via tmp + atomic rename — a concurrent
    * reader always sees a complete sidecar) the file's fixed-name
    * `.bloom` sidecar; entries land under CURRENT column names, which
    * the read side's alias mapping passes through unchanged, and
    * existing entries that resolve to a re-analyzed column are
    * replaced, never duplicated. `bloomColumns` is recorded so future
    * writes build their own filters. */
  def analyze(
      spark: SparkSession,
      dir: String,
      columns: Seq[String],
      blooms: Boolean = false): AnalyzeReport = {
    require(columns.nonEmpty, "graftshard: analyze needs at least one column")
    val m0 = ShardFormat.readManifest(dir).getOrElse(throw new IllegalArgumentException(
      s"graftshard: no ${ShardFormat.ManifestName} under '$dir' — not a graftshard table"))
    // '*' = every eligible column — "just analyze the table": the
    // no-schema-knowledge spelling an orchestrator wants. Explicit
    // names still validate strictly (a typo must fail, not no-op).
    val named =
      if (columns == Seq("*"))
        m0.schema.fields.filter(f => ShardFormat.ndvEligible(f.dataType))
          .map(_.name).toSeq
      else columns
    require(named.nonEmpty,
      s"graftshard: analyze('*') found no eligible column in " +
        m0.schema.fieldNames.mkString("(", ", ", ")"))
    val targets = named.map { c =>
      val f = m0.schema.fields.find(_.name == c).getOrElse(
        throw new IllegalArgumentException(
          s"graftshard: analyze column '$c' not in table schema " +
            m0.schema.fieldNames.mkString("(", ", ", ")")))
      require(ShardFormat.ndvEligible(f.dataType),
        s"graftshard: analyze column '$c' must be long/int/string/binary/" +
          s"timestamp/date/decimal, got ${f.dataType.sql}")
      f
    }
    val schema = m0.schema
    val required = StructType(targets)
    val resolve = m0.resolution
    val names = m0.files.map(fe => (fe.name, fe.seq))
    val colNames = targets.map(_.name)
    val physTypes = targets.map(f => ShardFormat.physicalOf(f.dataType))
    val decs = targets.map { f => f.dataType match {
      case d: org.apache.spark.sql.types.DecimalType => Some((d.precision, d.scale))
      case _ => None
    } }
    // one task per file: open through the ordinary batch reader
    // (column-pruned, NO delete vectors — sketches are physical like
    // the writer's), fold each value into the accumulators, serialize
    val results: Map[String, (Map[String, String], Map[String, String], Option[String])] =
      spark.sparkContext.parallelize(names, math.max(1, names.size))
        .map { case (name, seq) =>
          val r = new ShardBatchRows(new GraftShardColumnarPartitionReader(
            Array((new File(dir, name).getPath, 0L, None, None, seq)),
            schema, required, Array.empty[Filter], resolve))
          val ndv = colNames.map(_ => new ShardFormat.NdvAcc).toArray
          val kll = physTypes.map {
            case LongType | IntegerType => Some(new ShardFormat.KllAcc)
            case _ => None
          }.toArray
          val blm =
            if (blooms) colNames.map(_ => new ShardFormat.BloomAcc).toArray
            else Array.empty[ShardFormat.BloomAcc]
          try {
            while (r.next()) {
              val row = r.get()
              var i = 0
              while (i < colNames.length) {
                if (!row.isNullAt(i)) physTypes(i) match {
                  case LongType =>
                    val v = row.getLong(i)
                    ndv(i).add(v); kll(i).foreach(_.add(v))
                    if (blooms) blm(i).add(ShardFormat.bloomHashLong(v))
                  case IntegerType =>
                    val v = row.getInt(i).toLong
                    ndv(i).add(v); kll(i).foreach(_.add(v))
                    if (blooms) blm(i).add(ShardFormat.bloomHashLong(v))
                  case StringType =>
                    val b = row.getUTF8String(i).getBytes
                    ndv(i).add(b)
                    if (blooms) blm(i).add(ShardFormat.bloomHashBytes(b))
                  case BinaryType =>
                    val b = row.getBinary(i)
                    ndv(i).add(b)
                    if (blooms) blm(i).add(ShardFormat.bloomHashBytes(b))
                  case _: org.apache.spark.sql.types.DecimalType =>
                    val (p, sc) = decs(i).get
                    val v = row.getDecimal(i, p, sc).toUnscaledLong
                    ndv(i).add(v)
                    if (blooms) blm(i).add(ShardFormat.bloomHashLong(v))
                  case other => throw new IllegalStateException(
                    s"graftshard: analyze over unexpected physical type $other")
                }
                i += 1
              }
            }
          } finally r.close()
          val ndvOut = colNames.zip(ndv.map(_.serialize())).toMap
          val kllOut = colNames.zip(kll).collect {
            case (c, Some(acc)) => c -> acc.serialize()
          }.toMap
          // bloom sidecar: merge with any existing entries (write-time
          // or prior analyze), replacing ones that resolve to a column
          // re-analyzed now; tmp + rename keeps concurrent reads whole
          val sidecar: Option[String] =
            if (!blooms) None
            else {
              val built = colNames.zip(blm).flatMap { case (c, acc) =>
                acc.build(ShardFormat.BloomFpp).map(c -> _)
              }
              val side = new File(dir, ShardFormat.bloomSidecarOf(name))
              val existing =
                if (side.exists()) ShardFormat.readBloomSidecar(side).toSeq
                else Nil
              val replaced = colNames
                .map(c => resolve.aliases.getOrElse(c, c)).toSet ++ colNames
              val kept = existing.filterNot { case (n, _) =>
                replaced.contains(resolve.aliases.getOrElse(n, n)) || replaced.contains(n)
              }
              val merged = kept ++ built
              if (merged.isEmpty) None
              else {
                // the tmp name ENDS IN .bloom so a crash-stranded one is
                // ordinary (unreferenced) vacuum garbage
                val tmpF = new File(dir, name + s".tmp-$seq.bloom")
                ShardFormat.writeBloomSidecar(tmpF, merged)
                if (!tmpF.renameTo(side)) throw new java.io.IOException(
                  s"graftshard: analyze could not publish bloom sidecar $side")
                Some(side.getName)
              }
            }
          name -> (ndvOut, kllOut, sidecar)
        }.collect().toMap
    ShardFormat.withCommitLock(dir) {
      val m = ShardFormat.readManifest(dir).getOrElse(throw new IllegalStateException(
        s"graftshard: table at '$dir' vanished during analyze"))
      val updated = m.files.map { fe =>
        results.get(fe.name).fold(fe) { case (ndv, kll, sidecar) =>
          fe.copy(ndv = fe.ndv ++ ndv, kll = fe.kll ++ kll,
            bloom = sidecar.orElse(fe.bloom))
        }
      }
      val written = ShardFormat.commitNext(dir, m, m.copy(
        files = updated,
        ndvColumns = (m.ndvColumns ++ colNames).distinct,
        bloomColumns =
          if (blooms) (m.bloomColumns ++ colNames).distinct else m.bloomColumns),
        "alter", freshGeneration = false)
      AnalyzeReport(results.size, colNames, written.version,
        bloomFiles = results.values.count(_._3.isDefined))
    }
  }

  /** [[rollback]] addressed by WALL CLOCK (the ops-schedule currency —
    * "restore to before the 3am job"): resolves the newest RETAINED
    * snapshot committed at or before `tsMs`, then rolls back to it.
    * Same resolution rule as `TIMESTAMP AS OF`. */
  def rollbackToTimestamp(dir: String, tsMs: Long): RollbackReport = {
    val versions = ShardFormat.listVersions(dir)
    val target = versions
      .flatMap(v => ShardFormat.readManifestVersion(dir, v))
      .filter(_.createdAtMs <= tsMs)
      .sortBy(_.version).lastOption.getOrElse(
        throw new IllegalArgumentException(
          s"graftshard: no retained snapshot of '$dir' at or before " +
            s"${java.time.Instant.ofEpochMilli(tsMs)} — the table's history " +
            "starts later (or earlier snapshots were expired)"))
    rollback(dir, target.version)
  }

  /** Parses a procedure-argument spec string: `none`, `<column>`
    * (identity), or `bucket(<n>, <column>)`. */
  def parsePartSpec(s: String): Option[ShardFormat.PartSpec] = {
    val t = s.trim
    if (t.equalsIgnoreCase("none")) None
    else {
      val b = "(?i)bucket\\s*\\(\\s*(\\d+)\\s*,\\s*([^)\\s]+)\\s*\\)".r
      val tr = "(?i)(hours|days|months|years)\\s*\\(\\s*([^)\\s]+)\\s*\\)".r
      t match {
        case b(n, c) => Some(ShardFormat.BucketPart(n.toInt, c))
        case tr(u, c) => Some(ShardFormat.TransformPart(u.toLowerCase, c))
        case c if c.nonEmpty && !c.contains("(") => Some(ShardFormat.IdentityPart(c))
        case other => throw new IllegalArgumentException(
          s"graftshard: cannot parse partitioning spec '$other' — expected " +
            "'none', '<column>', 'bucket(<n>, <column>)', or " +
            "'days|hours|months|years(<timestamp column>)'")
      }
    }
  }

  final case class RollbackReport(
      fromVersion: Long,
      restoredVersion: Long,
      newVersion: Long,
      files: Int)

  /** Rollback: republish the table state of retained snapshot
    * `toVersion` as a NEW commit — the bad commits stay in history
    * (still time-travelable until expired), the pointer moves FORWARD
    * to a manifest whose content is the old state. This is the
    * operational undo every 100 TB lake needs after a bad backfill:
    * metadata-only (zero bytes rewritten — the old shard files are
    * still on disk because vacuum keeps every retained snapshot's
    * files live), O(manifest) driver cost, and safe against readers
    * mid-scan (nothing is deleted).
    *
    * What does NOT roll back: `streamCommits` (a streaming sink's
    * highest committed epoch per query) carries over from the CURRENT
    * manifest — rolling it back would let a post-recovery replay of an
    * already-committed epoch double-append; the rollback's discard of
    * those epochs' ROWS is the user's explicit choice, but exactly-once
    * accounting never rewinds. The generation turns over (prefix
    * offsets of streaming READERS die loudly — the file list they
    * indexed is gone) and the time-travel version keeps counting
    * commits. */
  def rollback(dir: String, toVersion: Long): RollbackReport =
    ShardFormat.withCommitLock(dir) {
    val current = ShardFormat.readManifest(dir).getOrElse(throw new IllegalArgumentException(
      s"graftshard: no ${ShardFormat.ManifestName} under '$dir' — not a graftshard table"))
    require(toVersion != current.version,
      s"graftshard: table at '$dir' is already at v$toVersion — nothing to roll back")
    val target = ShardFormat.readManifestVersion(dir, toVersion).getOrElse(
      throw new IllegalArgumentException(
        s"graftshard: snapshot v$toVersion of '$dir' is not loadable — it was " +
          "expired or never committed; retained versions: " +
          ShardFormat.listVersions(dir).mkString(", ")))
    // every file and sidecar the restored state references must still
    // exist — vacuum keeps retained-snapshot files live, so a miss
    // means external tampering; fail loudly rather than publish a
    // pointer to missing bytes
    val needed = target.files.map(_.name) ++ target.files.flatMap(_.deletes) ++
      target.files.flatMap(_.bloom) ++ target.equalityDeletes.map(_.name)
    val missing = needed.filterNot(n => new File(dir, n).isFile)
    require(missing.isEmpty,
      s"graftshard: cannot roll back '$dir' to v$toVersion — referenced " +
        s"files are missing from disk [${missing.sorted.mkString(", ")}]")
    val written = ShardFormat.commitNext(dir, current,
      target.copy(streamCommits = current.streamCommits), "rollback",
      freshGeneration = true)
    RollbackReport(current.version, toVersion, written.version, target.files.size)
    }
}
