package graft.sources.v2

import java.io.{BufferedInputStream, BufferedOutputStream, DataInputStream, DataOutputStream, EOFException, File, FileInputStream, FileOutputStream}
import java.nio.charset.StandardCharsets

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.{ArrayNode, ObjectNode}

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** On-disk format for the `graftshard` DataSourceV2 connector
  * ([[GraftShardSource]]): columnar binary shard files plus one
  * JSON `_graft_manifest.json` that is the SINGLE source of truth for
  * what the table contains — schema, committed file list, and per-file
  * column statistics (row count, min/max/null-count for integral
  * columns).
  *
  * The manifest is the design: readers plan ONLY from it, so
  *   - uncommitted / aborted / speculative task files in the directory
  *     are invisible (commit = atomic manifest rename, the
  *     Iceberg/Delta isolation idea at its smallest),
  *   - file skipping needs zero file opens: pushed min/max predicates
  *     prune whole shards at PLANNING time from manifest stats — at
  *     100 TB that is the difference between "open 100k files to read
  *     their footers" and one manifest read,
  *   - overwrite is a manifest swap; stale shards become unreferenced
  *     garbage for a vacuum with a retention horizon (documented, not
  *     implemented — single-box tests have no concurrent readers).
  *
  * Scale ceiling, half-retired in round 12: the manifest is PAGED
  * once the file list outgrows [[SegmentEntries]] — the root lists
  * immutable segment files and each commit re-serializes only dirty
  * segments ([[planSegments]]: append = one new segment; PROBE-MANIFEST
  * measures the 1M-entry append commit at 0.25 s paged vs 13.6 s
  * monolithic). What remains O(files): plan-time driver MEMORY (every
  * consumer materializes the full entry list — measured 1.2 s /
  * ~400 MB to read 1M entries, fine at the 100 TB ≈ 800k-shard
  * design point); past that the remaining upgrade is segment-level
  * min/max in the root for lazy segment pruning (Iceberg's
  * manifest-list shape), which none of the reader/writer contracts
  * here preclude.
  *
  * File encoding (big-endian throughout), format v4 — the only format
  * written and the only one read: magic, self-describing column header
  * (count, then type tag, field id and name per column), then COLUMNAR
  * row groups until EOF — each group is [rowCount:4B][group stats][per
  * column in header order: codec:1B, storedBytes:4B, rawBytes:4B, the
  * chunk: null bitmap (ceil(rows/8), bit set = null), then the packed
  * non-null values, encoded by the chunk's codec]. Raw values:
  * long/double 8B, int/float 4B, boolean 1B, string/binary 4B length +
  * bytes, float-array 4B count + 4B per element. Column pruning skips
  * unwanted chunks with ONE skip per column per group — on an object
  * store, a ranged GET never issued. Physical row order is the
  * `_pos`/delete-vector contract.
  */
object ShardFormat {

  // The v4 magic. The self-describing header ([tag, fieldId, name] per
  // column; the name is a debugging aid) is what makes ADD/DROP COLUMN
  // metadata-only: a reader under the current table schema projects any
  // file's columns, null-fills added columns old files lack, and
  // byte-skips dropped columns whose type the table no longer knows.
  // Readers resolve columns BY ID against the manifest's id→name map
  // ([[Manifest.fieldIds]]), which is what makes RENAME COLUMN a
  // manifest-only commit (Iceberg's field-id indirection): old files
  // keep their bytes and their ids; only the manifest's id→name entry
  // changes. Type widening (int→long, float→double) rides the same
  // header: the file keeps its STORED type; the reader decodes the
  // stored width and widens to the table type at emit — per-file, zero
  // rewrite. A file with any other magic fails to open.
  val MagicV4: Array[Byte] = "GRFTSHD4".getBytes(StandardCharsets.US_ASCII)
  // group flush thresholds: bounded writer/reader memory (one group
  // buffered at a time), large enough that chunk skips amortize
  val GroupMaxRows = 65536
  val GroupMaxBytes: Long = 4L * 1024 * 1024
  val ManifestName = "_graft_manifest.json"
  val Version = 1

  /** Types the codec supports; anything else is rejected at write-plan
    * time with a clear error (not at task time, 10k tasks deep).
    * Float arrays are accepted with EITHER containsNull flag — parquet
    * list columns arrive containsNull=true by default — but the record
    * format stores no element bitmap, so a null ELEMENT still fails the
    * writing task with a clear error. */
  def supported(dt: DataType): Boolean = dt match {
    case LongType | IntegerType | DoubleType | FloatType | BooleanType |
        StringType | BinaryType | TimestampType | TimestampNTZType |
        DateType => true
    case dt: DecimalType => dt.precision <= 18 // stored as the unscaled long
    case ArrayType(FloatType, _) => true
    // token-id sequences — the tokenized-corpus column of a training
    // pipeline (and any per-row id list). Same cell shape as the
    // embedding column: count + packed elements, no element bitmap.
    case ArrayType(IntegerType | LongType, _) => true
    case _ => false
  }

  /** PHYSICAL storage type of a column: timestamps store as their
    * epoch-micros LONG — Spark's own InternalRow representation — and
    * share every long code path (codecs, stats, blooms, NDV/KLL, bulk
    * decode, upsert keys). Only the self-describing file header (tag 8)
    * and the schema keep the logical type; micros order IS timestamp
    * order, so every stats/skipping proof carries over unchanged. */
  def physicalOf(dt: DataType): DataType = dt match {
    case TimestampType | TimestampNTZType => LongType
    case DateType => IntegerType // days-since-epoch, InternalRow's own rep
    case other => other
  }

  /** Integral columns carry min/max/nulls stats in the manifest (the
    * file-skipping currency). Floating types are excluded on purpose:
    * NaN ordering differs across engines and a NaN-poisoned max would
    * skip files wrongly. */
  def statsEligible(dt: DataType): Boolean = dt match {
    case LongType | IntegerType | TimestampType | TimestampNTZType |
        DateType => true
    // unscaled order IS decimal order at the column's fixed scale —
    // the pushdown boundary rewrites decimal literals into unscaled
    // space, so every proof below compares plain longs
    case dt: DecimalType => dt.precision <= 18
    case _ => false
  }

  /** String columns carry EXACT min/max bounds — but only while every
    * non-null value in the file stays ≤ [[StrStatsMaxBytes]] bytes; ONE
    * longer value drops the column's string stats for that file (the
    * sum-overflow "no lie" rule). Exactness over Iceberg's
    * truncate-and-increment: truncated bounds can only prune
    * ([[GraftShardSource]] `mayContain`), exact bounds also PROVE
    * (`mustMatchAll`) — which is what admits metadata-only DELETE /
    * REPLACE WHERE on string predicates. The cap costs nothing real:
    * skipping currency lives in short low-cardinality keys (lang,
    * source, category — the corpus-curation filters); a long text
    * column's bounds would be dead weight in an O(files) manifest. */
  def strStatsEligible(dt: DataType): Boolean = dt == StringType
  val StrStatsMaxBytes = 64

  /** String bounds are serialized through java.lang.String, which maps
    * invalid UTF-8 byte sequences to U+FFFD — the re-encoded bound can
    * then MISORDER against the actual unsigned-byte order the stats
    * promise (e.g. a max starting 0xF0 shrinks to 0xEF 0xBF 0xBD),
    * making pruning/provability unsound for non-UTF-8 payloads. A bound
    * is serializable only when its bytes survive the round trip; a
    * failing bound drops the column's string stats for that file/group
    * (conservative, never wrong — same rule as the byte cap). */
  def utf8RoundTrips(u: UTF8String): Boolean =
    java.util.Arrays.equals(u.getBytes, u.toString.getBytes(StandardCharsets.UTF_8))

  // ------------------------------------------------------------- blooms

  /** Columns a per-file BLOOM FILTER may be configured on (the
    * `bloomColumns` table property): equality-lookup currency —
    * min/max stats prune sorted/clustered columns, but a point lookup
    * (`WHERE doc_id = x`) on an UNSORTED high-cardinality column scans
    * every file at 100 TB without one. Floats are excluded (NaN/-0.0
    * equality is engine-defined), booleans are pointless (two values
    * never prune). Integral hashes go through the value AS LONG, so an
    * int→long widen keeps every existing sidecar valid. */
  def bloomEligible(dt: DataType): Boolean = dt match {
    case LongType | IntegerType | StringType | BinaryType | TimestampType |
        TimestampNTZType | DateType => true
    case dt: DecimalType => dt.precision <= 18 // hashed as the unscaled long
    case _ => false
  }
  /** Target false-positive rate (~9.6 bits/distinct value). */
  val BloomFpp = 0.01
  /** A file tracking more value-run hashes than this drops its bloom
    * (absent sidecar = no claim, never a lie — the sum-overflow rule).
    * 8M × 8 B = 64 MiB writer-side worst case, ~9.6 MiB at rest. */
  val BloomMaxHashes: Int = 8 << 20
  val BloomMagic: Array[Byte] = "GRFTBLM1".getBytes(StandardCharsets.US_ASCII)

  /** Murmur3's 64-bit finalizer: the avalanche behind both bloom hash
    * functions (stable — sidecars outlive JVMs). */
  private def fmix64(x0: Long): Long = {
    var x = x0
    x ^= x >>> 33; x *= 0xff51afd7ed558ccdL
    x ^= x >>> 33; x *= 0xc4ceb9fe1a85ec53L
    x ^= x >>> 33; x
  }
  /** Bloom hash of an integral value — always of the LONG value, so
    * int columns and int→long widened columns hash identically. */
  def bloomHashLong(v: Long): Long = fmix64(v ^ 0x9e3779b97f4a7c15L)
  /** Bloom hash of string/binary bytes (strings hash their UTF-8
    * bytes — the write side hashes UTF8String views, the probe side
    * hashes the filter literal's re-encoding; both are the same bytes
    * by definition of the column's content). */
  def bloomHashBytes(b: Array[Byte]): Long = {
    var h = 0xcbf29ce484222325L // FNV-1a 64
    var i = 0
    while (i < b.length) { h ^= (b(i) & 0xffL); h *= 0x100000001b3L; i += 1 }
    fmix64(h)
  }

  /** One column's bloom filter: k probe positions by double hashing
    * (Kirsch–Mitzenmacher) over a word-aligned bit array. */
  final class Bloom(val k: Int, val words: Array[Long]) {
    private val bits: Long = words.length.toLong * 64
    def set(h: Long): Unit = {
      val h2 = fmix64(h) | 1L
      var combined = h
      var i = 0
      while (i < k) {
        val pos = (combined & Long.MaxValue) % bits
        words((pos >>> 6).toInt) |= 1L << (pos & 63)
        combined += h2; i += 1
      }
    }
    def mightContain(h: Long): Boolean = {
      val h2 = fmix64(h) | 1L
      var combined = h
      var i = 0
      while (i < k) {
        val pos = (combined & Long.MaxValue) % bits
        if ((words((pos >>> 6).toInt) & (1L << (pos & 63))) == 0L) return false
        combined += h2; i += 1
      }
      true
    }
  }
  object Bloom {
    /** Sized for `n` distinct values at `fpp`: bits = -n·ln(fpp)/ln²2,
      * k = (bits/n)·ln2 — the textbook optimum. */
    def sized(n: Long, fpp: Double): Bloom = {
      val ln2 = math.log(2)
      val bits = math.max(64L, math.ceil(-n.toDouble * math.log(fpp) / (ln2 * ln2)).toLong)
      val words = new Array[Long](((bits + 63) / 64).toInt)
      val k = math.max(1, math.round(bits.toDouble / n.toDouble * ln2).toInt)
      new Bloom(k, words)
    }
  }

  // --------------------------------------------------------- ndv sketches

  /** Columns a per-file NDV (distinct-count) SKETCH may be configured
    * on (the `ndvColumns` table property): join/group-key currency —
    * min/max and row counts size a RELATION, but the planner's
    * cardinality question for `GROUP BY k` or a join build side is "how
    * many DISTINCT k", which no existing stat answers. Per-file HLL
    * sketches (Apache DataSketches, lgK=[[NdvLgK]]: RSE ≈
    * 1.04/sqrt(2^lgK) ≈ ±4.6%, ≤ ~550 B compact at rest — deliberately
    * small: one sketch PER FILE PER COLUMN rides the manifest, so at
    * the 1M-entry ceiling lgK=12's ~4 KB would cost gigabytes of
    * manifest for a ±2% gain that broadcast-threshold decisions never
    * need) merge associatively, so the SCAN can roll up exactly the
    * selected files at plan time and report
    * `ColumnStatistics.distinctCount` through DSv2 — which is what lets
    * CBO size an aggregate's output by its grouping key's NDV and flip
    * the join above it to broadcast. Same eligibility as blooms;
    * integral values sketch AS LONG, so an int→long widen keeps every
    * existing sketch valid; strings/binary sketch their UTF-8 bytes. */
  def ndvEligible(dt: DataType): Boolean = bloomEligible(dt)
  val NdvLgK = 9

  /** Writer-side accumulator for one column's NDV sketch. */
  final class NdvAcc {
    private val sk = new org.apache.datasketches.hll.HllSketch(NdvLgK)
    def add(v: Long): Unit = sk.update(v)
    def add(b: Array[Byte]): Unit = { sk.update(b): Unit }
    def serialize(): String =
      java.util.Base64.getEncoder.encodeToString(sk.toCompactByteArray)
  }

  /** Per-file QUANTILE sketch (KLL over longs) for INTEGRAL
    * `ndvColumns` — the equi-height HISTOGRAM currency. NDV answers
    * "how many distinct k"; what it cannot answer is "how are the
    * values DISTRIBUTED" — the cardinality question for a range
    * predicate over a skewed column (ids 99% in one decade), where
    * min/max-uniform estimation is off by orders of magnitude. KLL
    * sketches merge associatively like the HLLs, so the scan builds
    * the SELECTION's quantile function at plan time and serves an
    * equi-height histogram through DSv2
    * `ColumnStatistics.histogram()`, which Spark converts into the
    * catalyst ColumnStat histogram CBO's FilterEstimation consumes.
    * k=[[KllK]] gives ~1.7% normalized rank error at ≤ ~1.4 KB
    * serialized — heavier than the HLL's ~550 B, which is why the
    * sketch rides the SAME opt-in (`ndvColumns`) instead of being
    * unconditional. */
  val KllK = 128
  final class KllAcc {
    private val sk =
      org.apache.datasketches.kll.KllLongsSketch.newHeapInstance(KllK)
    def add(v: Long): Unit = sk.update(v)
    def serialize(): String =
      java.util.Base64.getEncoder.encodeToString(sk.toByteArray)
  }

  /** Union of serialized per-file KLL sketches; None when empty. */
  def kllMerged(sketches: Seq[String])
      : Option[org.apache.datasketches.kll.KllLongsSketch] =
    if (sketches.isEmpty) None
    else {
      val m = org.apache.datasketches.kll.KllLongsSketch.newHeapInstance(KllK)
      sketches.foreach { s =>
        m.merge(org.apache.datasketches.kll.KllLongsSketch.heapify(
          org.apache.datasketches.memory.Memory.wrap(
            java.util.Base64.getDecoder.decode(s))))
      }
      if (m.isEmpty) None else Some(m)
    }


  /** Rolled-up NDV estimate of the UNION of per-file sketches. */
  def ndvEstimate(sketches: Seq[String]): Option[Long] =
    if (sketches.isEmpty) None
    else {
      val u = new org.apache.datasketches.hll.Union(NdvLgK)
      sketches.foreach { s =>
        u.update(org.apache.datasketches.hll.HllSketch.heapify(
          java.util.Base64.getDecoder.decode(s)))
      }
      Some(math.max(1L, math.round(u.getEstimate)))
    }

  /** Writer-side accumulator for one column's bloom: value hashes are
    * collected (run-deduped — the keyed layout's constant key column
    * costs ONE entry), then sorted/deduped at file close so the filter
    * is sized for the TRUE distinct count, not the row count. Exceeding
    * [[BloomMaxHashes]] drops the bloom for this file (no claim). */
  final class BloomAcc {
    private var arr = new Array[Long](1024)
    private var n = 0
    private var last = 0L
    private var hasLast = false
    private var dropped = false
    def add(h: Long): Unit = if (!dropped) {
      if (hasLast && h == last) return
      last = h; hasLast = true
      if (n == arr.length) {
        if (n >= BloomMaxHashes) { dropped = true; arr = null; return }
        arr = java.util.Arrays.copyOf(arr, n << 1)
      }
      arr(n) = h; n += 1
    }
    def build(fpp: Double): Option[Bloom] =
      if (dropped || n == 0) None
      else {
        java.util.Arrays.sort(arr, 0, n)
        var d = 1
        var i = 1
        while (i < n) { if (arr(i) != arr(i - 1)) d += 1; i += 1 }
        val b = Bloom.sized(d.toLong, fpp)
        i = 0
        while (i < n) { b.set(arr(i)); i += 1 }
        Some(b)
      }
  }

  /** Bloom sidecar (next to its shard file, referenced by
    * [[FileEntry.bloom]] — the delete-vector pattern): magic, column
    * count, then per column [name:UTF][k:4B][words:4B][words×8B].
    * Column names are the WRITE-TIME names; readers map them through
    * [[ColumnResolution.aliases]]. */
  def writeBloomSidecar(file: File, cols: Seq[(String, Bloom)]): Unit = {
    val out = new DataOutputStream(
      new BufferedOutputStream(new FileOutputStream(file), 1 << 16))
    try {
      out.write(BloomMagic)
      out.writeShort(cols.length)
      cols.foreach { case (name, b) =>
        out.writeUTF(name)
        out.writeInt(b.k)
        out.writeInt(b.words.length)
        var i = 0
        while (i < b.words.length) { out.writeLong(b.words(i)); i += 1 }
      }
    } finally out.close()
  }

  def readBloomSidecar(file: File): Map[String, Bloom] = {
    val in = new DataInputStream(
      new BufferedInputStream(new FileInputStream(file), 1 << 16))
    try {
      val magic = new Array[Byte](BloomMagic.length)
      in.readFully(magic)
      if (!java.util.Arrays.equals(magic, BloomMagic))
        throw new java.io.IOException(
          s"graftshard: bad bloom-sidecar magic in $file")
      val count = in.readUnsignedShort()
      val b = Map.newBuilder[String, Bloom]
      var c = 0
      while (c < count) {
        val name = in.readUTF()
        val k = in.readInt()
        val wn = in.readInt()
        if (k <= 0 || wn <= 0 || wn > (1 << 26))
          throw new java.io.IOException(
            s"graftshard: corrupt bloom sidecar $file (k=$k, words=$wn)")
        val words = new Array[Long](wn)
        var i = 0
        while (i < wn) { words(i) = in.readLong(); i += 1 }
        b += name -> new Bloom(k, words)
        c += 1
      }
      b.result()
    } finally in.close()
  }

  /** Running exact min/max/nulls for one string column of one shard
    * file; `dropped` once any value exceeds the byte cap. Comparison is
    * UTF8String's unsigned byte order = Unicode codepoint order — the
    * same order Spark's own string comparisons use, so bounds and
    * predicates can never disagree. */
  final class StrStats {
    var min: UTF8String = null
    var max: UTF8String = null
    var nulls: Long = 0L
    var nonNull: Long = 0L
    var dropped: Boolean = false
    def update(v: UTF8String): Unit = {
      nonNull += 1
      if (!dropped) {
        if (v.numBytes() > StrStatsMaxBytes) { dropped = true; min = null; max = null }
        else {
          // v may view a reused task buffer — copy on retention
          if (min == null || v.compareTo(min) < 0) min = v.copy()
          if (max == null || v.compareTo(max) > 0) max = v.copy()
        }
      }
    }
  }

  // ---------------------------------------------------------------- codec

  /** Running min/max/nulls for one integral column of one shard file. */
  final class ColStats {
    var min: Long = Long.MaxValue
    var max: Long = Long.MinValue
    var nulls: Long = 0L
    var nonNull: Long = 0L
    // running sum for SUM pushdown; dropped (not clamped) on overflow —
    // a lying sum is worse than no sum
    var sum: Long = 0L
    var sumOverflow: Boolean = false
    def update(v: Long): Unit = {
      if (v < min) min = v
      if (v > max) max = v
      nonNull += 1
      if (!sumOverflow) {
        try sum = Math.addExact(sum, v)
        catch { case _: ArithmeticException => sumOverflow = true }
      }
    }
  }

  final case class FileEntry(
      name: String,
      bytes: Long,
      rows: Long,
      // col -> (min, max, nulls); entry absent when the file has no
      // non-null values for the column (min/max undefined)
      stats: Map[String, (Long, Long, Long)],
      // cols tracked but all-null in this file: (nulls only)
      allNull: Map[String, Long],
      // when the table is partitioned ([[Manifest.partitionColumn]]):
      // the single key value every row of this file carries — the
      // storage-partitioned-join currency (one file = one key)
      partition: Option[Long] = None,
      // merge-on-read deletes: name of this file's delete-vector
      // sidecar (sorted physical row ordinals the reader skips) and how
      // many ordinals it holds. `rows`/`stats` stay PHYSICAL — every
      // consumer that needs live counts must subtract `deletedRows`
      // (statistics) or refuse (aggregate pushdown, limit file-cut)
      deletes: Option[String] = None,
      deletedRows: Long = 0L,
      // col -> exact sum of its non-null values (SUM pushdown); absent
      // when the file has no non-null values or the sum overflowed
      sums: Map[String, Long] = Map.empty,
      // string col -> (exact min, exact max, nulls); absent when any
      // value exceeded StrStatsMaxBytes or the file has no non-null
      // values (all-null string columns land in `allNull`)
      strStats: Map[String, (String, String, Long)] = Map.empty,
      // name of this file's BLOOM-FILTER sidecar (one file holds every
      // configured column's filter — [[Manifest.bloomColumns]]); absent
      // when no bloom was configured at write time, the file predates
      // the property, or every configured column dropped its filter
      // (too many distinct values / all null). Readers test absorbed
      // equality/IN predicates against it BEFORE opening the shard —
      // executor-side, one small read per task, never a driver loop
      bloom: Option[String] = None,
      // commit SEQUENCE this file was added at (= the committing
      // manifest's version) — the equality-delete ordering currency:
      // an [[Manifest.EqDelete]] applies to a file iff `seq < delete
      // .seq` (strictly OLDER files), which is what lets an UPSERT
      // commit's own inserts carry the same keys it deletes. 0 on
      // pre-upsert files (every delete applies — correct: they ARE
      // older than any upsert)
      seq: Long = 0L,
      // col -> base64 HLL sketch of the file's distinct values
      // ([[Manifest.ndvColumns]]); merged at plan time into the scan's
      // reported `ColumnStatistics.distinctCount`
      ndv: Map[String, String] = Map.empty,
      // col -> base64 KLL quantile sketch (INTEGRAL ndvColumns only):
      // merged at plan time into the scan's reported equi-height
      // HISTOGRAM — CBO's range-selectivity currency ([[KllAcc]])
      kll: Map[String, String] = Map.empty)

  /** The table's at-rest clustering: every shard file holds rows of ONE
    * partition value — the key itself (identity) or `floorMod(key, n)`
    * (bucket). Identity suits moderate-cardinality keys (tenant, date,
    * derived bucket column); `Bucket` is the high-cardinality path: the
    * join column itself partitions the table, and Spark resolves the
    * transform through [[GraftCatalog]]'s `bucket` function for
    * storage-partitioned joins ON that column. */
  sealed trait PartSpec { def column: String }
  final case class IdentityPart(column: String) extends PartSpec
  final case class BucketPart(numBuckets: Int, column: String) extends PartSpec
  /** Time-transform clustering over a TIMESTAMP column (Iceberg's
    * hidden-partitioning units): the partition value is the unit
    * ordinal of the micros key — days/hours via flooring division,
    * months/years via proleptic calendar months/years since 1970.
    * Every partition face (one-value-per-file invariant, dynamic
    * overwrite, storage-partitioned joins via Spark's own
    * KeyGroupedPartitioning over days(ts), compaction pooling) rides
    * the recorded long ordinal exactly like an identity key. */
  final case class TransformPart(unit: String, column: String) extends PartSpec

  val TransformUnits: Set[String] = Set("hours", "days", "months", "years")
  val MicrosPerHour: Long = 3600L * 1000000L
  val MicrosPerDay: Long = 24L * MicrosPerHour

  /** Unit ordinal of an epoch-micros instant (UTC, floored — negative
    * instants land in the earlier unit, matching Spark/Iceberg). */
  def transformValue(unit: String, micros: Long): Long = unit match {
    case "hours" => Math.floorDiv(micros, MicrosPerHour)
    case "days" => Math.floorDiv(micros, MicrosPerDay)
    case "months" =>
      val d = java.time.LocalDate.ofEpochDay(Math.floorDiv(micros, MicrosPerDay))
      (d.getYear - 1970).toLong * 12 + (d.getMonthValue - 1)
    case "years" =>
      java.time.LocalDate.ofEpochDay(Math.floorDiv(micros, MicrosPerDay)).getYear - 1970L
    case other => throw new IllegalArgumentException(
      s"graftshard: unknown partition transform '$other' " +
        s"(supported: ${TransformUnits.toSeq.sorted.mkString(", ")})")
  }

  /** Partition value of a raw key under `spec` — the key itself
    * (identity), its bucket, or its time-unit ordinal (micros key). */
  def partitionValueOf(spec: PartSpec, raw: Long): Long = spec match {
    case IdentityPart(_) => raw
    case BucketPart(n, _) => bucketOf(raw, n).toLong
    case TransformPart(u, _) => transformValue(u, raw)
  }

  /** `generation` changes on every truncate/overwrite commit and is
    * carried through appends — streaming offsets embed it so a prefix
    * index can never be silently reused against a swapped file list
    * ([[ShardOffset]]). `partitioning`: when set, every file entry
    * carries the one partition value all its rows share; the scan
    * reports `KeyGroupedPartitioning` over it so joins and group-bys on
    * the key plan with ZERO exchange (Spark's storage-partitioned join,
    * `spark.sql.sources.v2.bucketing.enabled`). */
  final case class Manifest(
      schema: StructType,
      generation: String,
      files: Seq[FileEntry],
      partitioning: Option[PartSpec] = None,
      // time travel: every commit bumps `version` and ALSO writes an
      // immutable `_graft_manifest-v<version>.json` snapshot next to the
      // pointer; `createdAtMs` anchors TIMESTAMP AS OF
      version: Long = 0L,
      createdAtMs: Long = 0L,
      // every file's rows are sorted by this column (the write declared
      // RequiresDistributionAndOrdering, so Spark delivered them sorted);
      // cleared by any commit that does not re-declare it
      sortedBy: Option[String] = None,
      // streaming-sink exactly-once: highest epoch committed per
      // streaming queryId. A replayed epoch (post-recovery re-commit)
      // is detected here and dropped instead of double-appending.
      // Bounded by the number of distinct queries that ever wrote the
      // table — not by epochs
      streamCommits: Map[String, Long] = Map.empty,
      // tombstones for DROP COLUMN: existing files still STORE the
      // dropped column's bytes under its name, so re-ADDing that name
      // would resurrect old values instead of nulls — refused until a
      // truncate/overwrite replaces every file (which clears this)
      droppedColumns: Seq[String] = Nil,
      // what kind of commit produced this snapshot — the change-data-
      // feed admission currency ([[GraftShardChanges]]): "append",
      // "overwrite" (truncate/full overwrite), "replace" (REPLACE
      // WHERE), "delete-metadata", "mor" (delete vectors / MoR
      // update), "cow" (row-level rewrite — CDF refuses: rewritten
      // files mix changed and unchanged rows), "compact"/"alter"/
      // "create" (no row changes). "" on pre-CDF manifests (refused)
      operation: String = "",
      // chunk compression as a TABLE property ("deflate"): recorded at
      // create / first compressed write, inherited by appends without
      // an explicit option, and honored by every file-REWRITING path —
      // compaction, copy-on-write, merge-on-read inserts. Without this
      // the first OPTIMIZE pass would silently rewrite a 3.7×-compressed
      // 100 TB table raw. An explicit write option always overrides for
      // that write; per-chunk codec bytes keep mixed files readable.
      compression: Option[String] = None,
      // field ids, parallel to schema.fields — the RENAME/WIDENING
      // indirection (format v4): a column's id is assigned once (at
      // CREATE or ADD COLUMN) and never reused; v4 file headers key
      // columns by id, so a rename only edits this manifest's id→name
      // mapping. Nil = positional 1..n (a table no ALTER has touched
      // never renamed, so position IS identity for it); materialized to an explicit
      // list by the first ALTER that needs it
      fieldIds: Seq[Int] = Nil,
      // high-water mark for id assignment; ids of dropped columns are
      // retired forever (0 = derive from fieldIds/positional)
      lastFieldId: Int = 0,
      // every PAST name of a field id (RENAME appends old→id): bloom
      // sidecars key columns by their write-time NAME, and so does a
      // reader given no field ids, so a renamed column's old names
      // resolve through this map. Names stay reserved even after the
      // id is dropped — re-ADDing one would make old files' stored
      // bytes ambiguous between the old column and the new one
      aliases: Map[String, Int] = Map.empty,
      // BLOOM FILTERS as a table property: columns every write builds
      // per-file bloom sidecars for ([[FileEntry.bloom]]). Same
      // lifecycle as `compression`: recorded at create / first
      // configured write, inherited by optionless appends, honored by
      // compaction and row-level rewrites, re-keyed on RENAME, dropped
      // with DROP COLUMN. Point lookups and IN-list probes on these
      // columns skip whole files the stats tier cannot (unsorted
      // high-cardinality equality — THE missing pruning at 100 TB)
      bloomColumns: Seq[String] = Nil,
      // per-file NDV sketches for ([[FileEntry.ndv]]) — the CBO
      // column-statistics currency. Same lifecycle as `bloomColumns`:
      // recorded at create / first configured write, inherited by
      // optionless appends, honored by compaction and row-level
      // rewrites, re-keyed on RENAME, dropped with DROP COLUMN
      ndvColumns: Seq[String] = Nil,
      // Z-ORDER clustering as a table property (the same lifecycle rule
      // as `sortedBy`, which it is the 2-D analog of): present only
      // while EVERY file was written z-sorted on these two columns —
      // that invariant is what lets compaction K-WAY MERGE group
      // members on the Morton value (each input is one z-run) instead
      // of concatenating, so the routine OPTIMIZE pass preserves the
      // min/max-box clustering instead of silently diffusing it. An
      // undeclared append clears the flag (honest degradation); a
      // z-ordered truncate re-states it
      zorderBy: Option[(String, String)] = None,
      // EQUALITY DELETES (the Iceberg-v2 idea; the streaming-upsert
      // currency): each entry is one commit's "delete every OLDER row
      // whose <column> value appears in <sidecar>" — an UPSERT commit
      // (`option("upsertKey", col)`) writes its insert files PLUS these
      // key sidecars, so merging a CDC batch into a 100 TB table is
      // O(batch), zero scan, zero rewrite. Readers anti-filter rows of
      // files with `file.seq < delete.seq` against the key sets (the
      // read-side tax); compaction APPLIES them and retires entries no
      // remaining file predates. Stats stay PHYSICAL: aggregate
      // pushdown, limit file-cuts, exact row statistics, CDF, and
      // row-level operations all REFUSE while any entry is live
      // (compact first) — a lying fast path is worse than no fast path
      equalityDeletes: Seq[EqDelete] = Nil,
      // WAP branches (write-audit-publish): the LIVE version this
      // branch forked from. Set by the first staged commit, carried by
      // every later staged commit onto the same branch (staged writes
      // accumulate — the multi-micro-batch audit loop), consulted by
      // publish_branch: fast-forward iff the live pointer still sits
      // at this version, refuse otherwise (a concurrent live commit
      // means the branch no longer descends from the table). None on
      // live manifests and pre-branch snapshots
      branchBase: Option[Long] = None,
      // PAGED-MANIFEST provenance, populated by the READER when the
      // root carries `fileSegments` instead of an inline `files` array:
      // which immutable segment file each run of entries came from, in
      // order, holding the ORIGINAL FileEntry references. Never
      // serialized itself — [[writeManifest]] uses the references to
      // reuse untouched segments at commit (identity compare: any
      // fe.copy marks its segment dirty), so an APPEND to a 1M-file
      // table writes ONE new segment + a root of segment names instead
      // of re-serializing 300 MB of entries twice. Nil on inline
      // manifests and on manifests assembled in memory
      pagedSegments: Seq[PagedSegment] = Nil) {
    /** The identity partition column, when that is the spec (the
      * group-by-pushdown and legacy surfaces). */
    def partitionColumn: Option[String] =
      partitioning.collect { case IdentityPart(c) => c }
    /** Field ids, explicit or positional (see [[fieldIds]]). */
    def fieldIdsOrPositional: Seq[Int] =
      if (fieldIds.nonEmpty) fieldIds else (1 to schema.fields.length)
    /** The id high-water mark, derived when never materialized. */
    def lastFieldIdOr: Int =
      if (lastFieldId > 0) lastFieldId
      else fieldIdsOrPositional.foldLeft(0)(math.max)
    /** How a READER maps any file's columns to this manifest's schema:
      * past name → current name (live ids only — an alias of a dropped
      * id stays unresolvable, which is exactly "skip the column"), and
      * the id list for v4 headers. */
    def resolution: ColumnResolution = {
      val ids = fieldIdsOrPositional
      val byId = ids.zipWithIndex.toMap
      ColumnResolution(
        aliases.flatMap { case (old, id) =>
          byId.get(id).map(i => old -> schema.fields(i).name) },
        ids.toArray)
    }
  }

  /** One immutable manifest segment as READ from disk: its file name
    * and the entries it contributed, in order, by reference
    * ([[Manifest.pagedSegments]]). */
  final case class PagedSegment(
      name: String, entries: IndexedSeq[FileEntry],
      // the root-resident stat rollup over `entries` (a synthetic
      // FileEntry named after the segment): what lets a SCAN-side read
      // skip parsing the whole segment when pushed predicates provably
      // cannot match any of its files. None on pre-rollup manifests
      rollup: Option[FileEntry] = None)

  /** One equality delete: "every row of a file with `fileSeq < seq`
    * whose `column` value appears in sidecar `name` is deleted". The
    * sidecar holds the EXACT key values (typed); `count` is its size —
    * the planner's memory forecast for the reader-side key set. */
  final case class EqDelete(name: String, column: String, seq: Long, count: Long)

  /** Entries per manifest segment once a table outgrows the inline
    * `files` array. 10k entries ≈ 3 MB of JSON per segment: big enough
    * that a 1M-file table is ~100 root-listed names, small enough that
    * the dirty-segment rewrite after a row-level delete is milliseconds.
    * The production constant; specs shrink [[segmentMaxEntries]] to
    * exercise paging without writing 10k real shard files. */
  val SegmentEntries = 10000
  @volatile private[graft] var segmentMaxEntries: Int = SegmentEntries
  /** Serializes save-shrink-restore windows over [[segmentMaxEntries]]
    * (a process global): parallel test suites and the x73 gate both
    * pin small caps — unsynchronized windows could interleave their
    * restores and strand a tiny cap process-wide. Production never
    * mutates the cap, so the lock costs nothing outside tests. */
  private[graft] val segmentCapLock = new Object

  // ----------------------------------------------------- equality keys

  /** Columns an upsert key may be (`option("upsertKey", col)`):
    * equality over exact values — integral (compared as long, so an
    * int→long widen keeps old sidecars valid) or string (UTF-8 bytes,
    * Spark's own equality). */
  def upsertKeyEligible(dt: DataType): Boolean = dt match {
    case LongType | IntegerType | StringType | TimestampType |
        TimestampNTZType | DateType => true
    case _ => false
  }

  val EqKeysMagic: Array[Byte] = "GRFTEQK1".getBytes(StandardCharsets.US_ASCII)

  /** Writer-side accumulator for one file's upsert keys: EXACT distinct
    * values (run-deduped inline, sorted/deduped at close). Unlike the
    * bloom accumulator there is no drop-above-a-cap — an upsert
    * commit's delete set must be exact or the commit must fail; the
    * set is bounded by the BATCH being upserted, not the table. */
  final class EqKeyAcc(isString: Boolean) {
    private var longs = if (isString) null else new Array[Long](1024)
    private val strings =
      if (isString) new java.util.HashSet[UTF8String]() else null
    private var n = 0
    private var lastL = 0L
    private var hasLast = false
    def add(v: Long): Unit = {
      if (hasLast && v == lastL) return
      lastL = v; hasLast = true
      if (n == longs.length) longs = java.util.Arrays.copyOf(longs, n << 1)
      longs(n) = v; n += 1
    }
    def add(u: UTF8String): Unit = { strings.add(u.copy()): Unit }
    /** (distinct count, sidecar writer) — None when no keys were seen. */
    def write(file: File): Option[Long] = {
      val out = new DataOutputStream(
        new BufferedOutputStream(new FileOutputStream(file), 1 << 16))
      try {
        out.write(EqKeysMagic)
        if (isString) {
          if (strings.isEmpty) { out.close(); file.delete(); return None }
          out.writeByte(1)
          out.writeInt(strings.size())
          strings.forEach { u =>
            val b = u.getBytes
            out.writeInt(b.length); out.write(b)
          }
          Some(strings.size().toLong)
        } else {
          if (n == 0) { out.close(); file.delete(); return None }
          java.util.Arrays.sort(longs, 0, n)
          var d = 0
          var i = 0
          while (i < n) {
            if (d == 0 || longs(i) != longs(d - 1)) { longs(d) = longs(i); d += 1 }
            i += 1
          }
          out.writeByte(0)
          out.writeInt(d)
          i = 0
          while (i < d) { out.writeLong(longs(i)); i += 1 }
          Some(d.toLong)
        }
      } finally out.close()
    }
  }

  /** The loaded key set of one equality-delete sidecar: O(1) membership
    * for the reader's anti-filter. */
  final class EqKeySet(
      val longs: Array[Long], // sorted, when the key is integral
      val strings: java.util.HashSet[UTF8String]) {
    def contains(v: Long): Boolean =
      java.util.Arrays.binarySearch(longs, v) >= 0
    def contains(u: UTF8String): Boolean = strings.contains(u)
    def isString: Boolean = strings != null
  }

  def readEqKeySidecar(file: File): EqKeySet = {
    val in = new DataInputStream(
      new BufferedInputStream(new FileInputStream(file), 1 << 16))
    try {
      val magic = new Array[Byte](EqKeysMagic.length)
      in.readFully(magic)
      if (!java.util.Arrays.equals(magic, EqKeysMagic))
        throw new java.io.IOException(
          s"graftshard: bad equality-key sidecar magic in $file")
      val tag = in.readByte()
      val count = in.readInt()
      if (count < 0) throw new java.io.IOException(
        s"graftshard: corrupt equality-key sidecar $file (count=$count)")
      if (tag == 0) {
        val a = new Array[Long](count)
        var i = 0
        while (i < count) { a(i) = in.readLong(); i += 1 }
        new EqKeySet(a, null)
      } else {
        val s = new java.util.HashSet[UTF8String](count * 2)
        var i = 0
        while (i < count) {
          val len = in.readInt()
          if (len < 0) throw new java.io.IOException(
            s"graftshard: corrupt equality-key sidecar $file (len=$len)")
          val b = new Array[Byte](len)
          in.readFully(b)
          s.add(UTF8String.fromBytes(b)): Unit
          i += 1
        }
        new EqKeySet(null, s)
      }
    } finally in.close()
  }

  /** Serializable column-resolution context for [[ShardReader]]s: how a
    * file's self-described columns map onto the table schema under
    * renames (aliases: past name → current name) and v4 field ids
    * (fieldIds: parallel to the table schema). Empty = resolve by name
    * only (right when no rename ever happened). */
  final case class ColumnResolution(
      aliases: Map[String, String],
      fieldIds: Array[Int])
  object ColumnResolution {
    val empty: ColumnResolution = ColumnResolution(Map.empty, Array.emptyIntArray)
  }

  /** The two lossless promotions ALTER COLUMN TYPE admits: the reader
    * decodes the file's STORED width and widens at emit, manifest
    * min/max/sum stats are Long-based already, and order is preserved —
    * so skipping, provability, and pushdown all stay sound. */
  def widensTo(stored: DataType, table: DataType): Boolean =
    (stored == IntegerType && table == LongType) ||
      (stored == FloatType && table == DoubleType)

  /** Manifest field ids for a WRITE schema, matched by name (a write
    * schema is plan-checked to name-match the table on every
    * non-truncating path); positional for a fresh or truncated table
    * (`current = None`). Ids must come from the manifest, never be
    * re-derived positionally against an evolved table — after a DROP,
    * positions and ids diverge and a drifted id would resurrect the
    * dropped column's bytes under v4 resolution. */
  def writeFieldIds(current: Option[Manifest], schema: StructType): Array[Int] =
    current match {
      case Some(m) =>
        val byName = m.schema.fieldNames.zip(m.fieldIdsOrPositional).toMap
        schema.fields.map(f => byName.getOrElse(f.name,
          throw new IllegalArgumentException(
            s"graftshard: write column '${f.name}' has no field id in the " +
              s"table manifest (${m.schema.simpleString}) — the write schema " +
              "must match the table schema")))
      case None => Array.tabulate(schema.fields.length)(_ + 1)
    }

  /** The one bucket function of the `graftshard` layout, shared by the
    * writer (placing rows) and [[GraftCatalog]]'s SQL-visible `bucket`
    * (Spark evaluates it to co-shuffle the unkeyed side of a join):
    * non-negative floorMod, defined for int/long keys. One definition —
    * a drifted reimplementation would silently mis-join. */
  def bucketOf(key: Long, numBuckets: Int): Int =
    java.lang.Math.floorMod(key, numBuckets.toLong).toInt

  /** Raw key of a STRING bucket column: the same 64-bit byte hash the
    * blooms use, fed through [[bucketOf]]. One definition shared by
    * the writer (placing rows) and [[GraftCatalog]]'s SQL-visible
    * `bucket` string overload (Spark evaluates it to co-shuffle the
    * unkeyed side of a join) — a drifted reimplementation would
    * silently mis-join. String keys are the dedup-registry shape
    * (URL, doc fingerprint, content hash) where identity partitioning
    * is impossible (manifest partition values are longs) but hash
    * bucketing is exactly right. */
  def stringKeyRaw(utf8: Array[Byte]): Long = bloomHashBytes(utf8)

  /** Morton (Z-order) interleave for 2-D clustering: bit-interleaves
    * the low 32 bits of each key (clamped to [0, 2^32) — ids, bucket
    * ids, timestamps-in-seconds all fit; values outside saturate, which
    * only coarsens locality at the extremes, never breaks the order's
    * totality), sign-flipped so SIGNED long comparison equals unsigned
    * z-value order. One definition shared by the SQL-visible `zorder`
    * function and the writer's ordering — drift would silently
    * de-cluster the layout. */
  def zOrderOf(a: Long, b: Long): Long = {
    def clamp(x: Long): Long =
      if (x < 0L) 0L else if (x > 0xFFFFFFFFL) 0xFFFFFFFFL else x
    def spread(x0: Long): Long = {
      var v = x0 & 0xFFFFFFFFL
      v = (v | (v << 16)) & 0x0000FFFF0000FFFFL
      v = (v | (v << 8)) & 0x00FF00FF00FF00FFL
      v = (v | (v << 4)) & 0x0F0F0F0F0F0F0F0FL
      v = (v | (v << 2)) & 0x3333333333333333L
      v = (v | (v << 1)) & 0x5555555555555555L
      v
    }
    ((spread(clamp(a)) << 1) | spread(clamp(b))) ^ Long.MinValue
  }

  // ------------------------------------------------- delete vectors (MoR)

  private val DvMagic: Array[Byte] = "GRFTDV1\u0000".getBytes(StandardCharsets.US_ASCII)

  /** Writes a delete-vector sidecar (sorted distinct physical row
    * ordinals) under a fresh name; sidecars are IMMUTABLE — merging
    * with an existing vector writes a new file and orphans the old one
    * (vacuum's problem, by design). */
  def writeDeleteVector(dir: File, ordinals: Array[Long]): String = {
    java.util.Arrays.sort(ordinals)
    val name = s"dv-${java.util.UUID.randomUUID().toString.take(12)}.dvs"
    val out = new DataOutputStream(
      new BufferedOutputStream(new FileOutputStream(new File(dir, name)), 1 << 16))
    try {
      out.write(DvMagic)
      out.writeLong(ordinals.length.toLong)
      var i = 0
      var prev = -1L
      while (i < ordinals.length) {
        require(ordinals(i) != prev, s"duplicate delete ordinal ${ordinals(i)}")
        out.writeLong(ordinals(i)); prev = ordinals(i); i += 1
      }
    } finally out.close()
    name
  }

  /** Reads a sidecar back: sorted ordinals. */
  def readDeleteVector(file: File): Array[Long] = {
    val in = new DataInputStream(
      new BufferedInputStream(new FileInputStream(file), 1 << 16))
    try {
      val hdr = new Array[Byte](DvMagic.length)
      in.readFully(hdr)
      if (!java.util.Arrays.equals(hdr, DvMagic))
        throw new java.io.IOException(s"graftshard: bad delete-vector magic in $file")
      val n = in.readLong().toInt
      val a = new Array[Long](n)
      var i = 0
      while (i < n) { a(i) = in.readLong(); i += 1 }
      a
    } finally in.close()
  }

  // column type tags for the self-describing file header
  private def typeTag(dt: DataType): Byte = dt match {
    case LongType => 0; case IntegerType => 1; case DoubleType => 2
    case FloatType => 3; case BooleanType => 4; case StringType => 5
    case BinaryType => 6; case ArrayType(FloatType, _) => 7
    case TimestampType => 8
    case TimestampNTZType => 9
    case DateType => 10
    case _: DecimalType => 11 // (precision, scale) bytes follow the tag
    case ArrayType(IntegerType, _) => 12
    case ArrayType(LongType, _) => 13
    case other => throw new IllegalStateException(s"unreachable: $other")
  }
  private def typeOfTag(tag: Byte): DataType = tag match {
    case 0 => LongType; case 1 => IntegerType; case 2 => DoubleType
    case 3 => FloatType; case 4 => BooleanType; case 5 => StringType
    case 6 => BinaryType; case 7 => ArrayType(FloatType, containsNull = false)
    case 8 => TimestampType
    case 9 => TimestampNTZType
    case 10 => DateType
    case 12 => ArrayType(IntegerType, containsNull = false)
    case 13 => ArrayType(LongType, containsNull = false)
    // tag 11 (decimal) never reaches here: its (precision, scale)
    // bytes are consumed at the header-parse sites
    case other => throw new java.io.IOException(s"graftshard: unknown type tag $other")
  }

  // ---------------------------------------------- chunk dictionary codec
  // codec 2: [bitmap][dictCount:4B][per entry: len:4B + bytes][indices,
  // 1B each when dictCount <= 256 else 2B]. Entries appear in first-seen
  // order; indices reference them per non-null value in row order. The
  // decoder reconstructs the RAW chunk layout, so the reader's cursor
  // machinery never sees the codec. Capped at DictMaxEntries distinct
  // values — past that the chunk is not dictionary-shaped and the
  // encoder bails early instead of scanning on.
  val DictMaxEntries = 4096

  private def readIntBE(a: Array[Byte], p: Int): Int =
    ((a(p) & 0xFF) << 24) | ((a(p + 1) & 0xFF) << 16) |
      ((a(p + 2) & 0xFF) << 8) | (a(p + 3) & 0xFF)
  private def writeIntBE(a: Array[Byte], p: Int, v: Int): Unit = {
    a(p) = (v >>> 24).toByte; a(p + 1) = (v >>> 16).toByte
    a(p + 2) = (v >>> 8).toByte; a(p + 3) = v.toByte
  }

  /** Dictionary-encodes one raw string chunk; null when the chunk is
    * not dictionary-shaped (too many distinct values, or the encoding
    * would not shrink it — an encoding is kept ONLY when smaller). */
  private def dictEncode(raw: Array[Byte], bitmapLen: Int): Array[Byte] = {
    val dict = new java.util.LinkedHashMap[java.nio.ByteBuffer, Integer]()
    val indices = new java.util.ArrayList[Integer]()
    var pos = bitmapLen
    var dictValueBytes = 0L
    while (pos < raw.length) {
      val len = readIntBE(raw, pos)
      val bb = java.nio.ByteBuffer.wrap(raw, pos + 4, len)
      var idx = dict.get(bb)
      if (idx == null) {
        if (dict.size >= DictMaxEntries) return null
        idx = Integer.valueOf(dict.size)
        dict.put(bb, idx)
        dictValueBytes += 4L + len
      }
      indices.add(idx)
      pos += 4 + len
    }
    val n = indices.size
    val idxWidth = if (dict.size <= 256) 1 else 2
    val size = bitmapLen + 4L + dictValueBytes + n.toLong * idxWidth
    if (size >= raw.length) return null
    val out = new Array[Byte](size.toInt)
    System.arraycopy(raw, 0, out, 0, bitmapLen)
    var p = bitmapLen
    writeIntBE(out, p, dict.size); p += 4
    val it = dict.keySet().iterator()
    while (it.hasNext) {
      val bb = it.next()
      val len = bb.remaining()
      writeIntBE(out, p, len)
      System.arraycopy(bb.array(), bb.position(), out, p + 4, len)
      p += 4 + len
    }
    var k = 0
    while (k < n) {
      val idx = indices.get(k).intValue()
      if (idxWidth == 1) out(p) = idx.toByte
      else { out(p) = (idx >>> 8).toByte; out(p + 1) = idx.toByte }
      p += idxWidth
      k += 1
    }
    out
  }

  /** A codec-2 chunk kept in DICTIONARY form instead of reconstructed:
    * `bytes` is the encoded chunk as stored (null bitmap at
    * `[0, bitmapLen)` — same prefix layout as a raw chunk, so null
    * tests index it directly); entry k's payload is
    * `bytes[offs(k), offs(k)+lens(k))`; ids start at `idxPos`,
    * `idxWidth` bytes each, ONE PER NON-NULL cell in row order. This is
    * what lets the batch read serve a low-cardinality string column as
    * O(dict) entry materializations + O(rows) small-int ids instead of
    * O(rows) byte-array copies — the parquet-dictionary shape. */
  final class DictChunk(
      val bytes: Array[Byte], val bitmapLen: Int, val rawLen: Int,
      val offs: Array[Int], val lens: Array[Int], val count: Int,
      val idxWidth: Int, val idxPos: Int)

  /** Validates a codec-2 chunk's header and index section; the single
    * shared parse for both the reconstructing decode and the
    * kept-encoded batch path. */
  private def parseDictChunk(
      c: Array[Byte], bitmapLen: Int, rawLen: Int, file: File): DictChunk = {
    def corrupt(what: String): Nothing =
      throw new java.io.IOException(s"graftshard: corrupt dictionary chunk in $file ($what)")
    if (c.length < bitmapLen + 4) corrupt("truncated header")
    var p = bitmapLen
    val count = readIntBE(c, p); p += 4
    if (count < 0 || count > DictMaxEntries) corrupt(s"entry count $count")
    val offs = new Array[Int](count)
    val lens = new Array[Int](count)
    var k = 0
    while (k < count) {
      if (p + 4 > c.length) corrupt("truncated entry")
      lens(k) = readIntBE(c, p); offs(k) = p + 4
      if (lens(k) < 0 || offs(k) + lens(k) > c.length) corrupt(s"entry $k length ${lens(k)}")
      p += 4 + lens(k); k += 1
    }
    val idxWidth = if (count <= 256) 1 else 2
    val idxPos = p
    // every id must be in range and the ids must reconstruct exactly
    // rawLen bytes — validated here so BOTH consumers inherit it
    var o = bitmapLen
    while (p < c.length) {
      if (p + idxWidth > c.length) corrupt("truncated index")
      val idx =
        if (idxWidth == 1) c(p) & 0xFF
        else ((c(p) & 0xFF) << 8) | (c(p + 1) & 0xFF)
      p += idxWidth
      if (idx >= count) corrupt(s"index $idx of $count")
      o += 4 + lens(idx)
      if (o > rawLen) corrupt("overflow")
    }
    if (o != rawLen) corrupt(s"short decode ($o of $rawLen)")
    new DictChunk(c, bitmapLen, rawLen, offs, lens, count, idxWidth, idxPos)
  }

  private def dictMaterialize(dm: DictChunk): Array[Byte] = {
    val c = dm.bytes
    val b = new Array[Byte](dm.rawLen)
    System.arraycopy(c, 0, b, 0, dm.bitmapLen)
    var p = dm.idxPos
    var o = dm.bitmapLen
    while (p < c.length) {
      val idx =
        if (dm.idxWidth == 1) c(p) & 0xFF
        else ((c(p) & 0xFF) << 8) | (c(p + 1) & 0xFF)
      p += dm.idxWidth
      writeIntBE(b, o, dm.lens(idx))
      System.arraycopy(c, dm.offs(idx), b, o + 4, dm.lens(idx))
      o += 4 + dm.lens(idx)
    }
    b
  }

  // ------------------------------------------------------ chunk RLE codec
  // codec 3: [bitmap][runCount:4B][per run: repeat:4B + one value CELL in
  // the raw encoding]. A cell is the type's packed form (8B long/double,
  // 4B int/float, 1B bool, 4B len + bytes for string/binary, 4B count +
  // 4B×count for float arrays), so decode is "write the cell `repeat`
  // times" — a byte copy, no inflate tax. This is where the at-rest
  // layouts pay off twice: a KEYED table's key column is CONSTANT within
  // every file (one run per group — 64k×8B → ~20B), and lang-clustered /
  // sorted low-cardinality columns collapse to a handful of runs. Kept
  // ONLY when smaller, like every other encoding.

  /** Fixed cell width for a type, or -1 when cells are self-delimited. */
  private def cellWidth(dt: DataType): Int = dt match {
    case LongType | DoubleType => 8
    case _: DecimalType => 8
    case IntegerType | FloatType => 4
    case BooleanType => 1
    case _ => -1
  }

  /** Length of the cell starting at `p` (raw encoding). */
  private def cellLen(raw: Array[Byte], p: Int, dt: DataType): Int = dt match {
    case StringType | BinaryType => 4 + readIntBE(raw, p)
    case ArrayType(FloatType | IntegerType, _) => 4 + 4 * readIntBE(raw, p)
    case ArrayType(LongType, _) => 4 + 8 * readIntBE(raw, p)
    case other => cellWidth(other)
  }

  /** RLE-encodes one raw chunk's value section; null when the encoding
    * would not shrink it (an encoding is kept ONLY when smaller). */
  private def rleEncode(raw: Array[Byte], bitmapLen: Int, dt: DataType): Array[Byte] = {
    // runs as (cellOffset, cellLen, repeat)
    var runOff = -1; var runLen = 0; var repeat = 0
    var nRuns = 0
    var outValBytes = 0L
    val runs = new java.util.ArrayList[Array[Int]]()
    var pos = bitmapLen
    while (pos < raw.length) {
      val len = cellLen(raw, pos, dt)
      val same = runOff >= 0 && runLen == len && {
        var i = 0
        var eq = true
        while (eq && i < len) { eq = raw(runOff + i) == raw(pos + i); i += 1 }
        eq
      }
      if (same) repeat += 1
      else {
        if (runOff >= 0) { runs.add(Array(runOff, runLen, repeat)); outValBytes += 4L + runLen; nRuns += 1 }
        runOff = pos; runLen = len; repeat = 1
      }
      pos += len
    }
    if (runOff >= 0) { runs.add(Array(runOff, runLen, repeat)); outValBytes += 4L + runLen; nRuns += 1 }
    val size = bitmapLen + 4L + outValBytes
    if (size >= raw.length) return null
    val out = new Array[Byte](size.toInt)
    System.arraycopy(raw, 0, out, 0, bitmapLen)
    var p = bitmapLen
    writeIntBE(out, p, nRuns); p += 4
    val it = runs.iterator()
    while (it.hasNext) {
      val r = it.next()
      writeIntBE(out, p, r(2))
      System.arraycopy(raw, r(0), out, p + 4, r(1))
      p += 4 + r(1)
    }
    out
  }

  /** Inverse of [[rleEncode]]: reconstructs the raw chunk layout. */
  private def rleDecode(
      c: Array[Byte], bitmapLen: Int, rawLen: Int, dt: DataType, file: File): Array[Byte] = {
    def corrupt(what: String): Nothing =
      throw new java.io.IOException(s"graftshard: corrupt RLE chunk in $file ($what)")
    val b = new Array[Byte](rawLen)
    if (c.length < bitmapLen + 4) corrupt("truncated header")
    System.arraycopy(c, 0, b, 0, bitmapLen)
    var p = bitmapLen
    val nRuns = readIntBE(c, p); p += 4
    if (nRuns < 0) corrupt(s"run count $nRuns")
    var o = bitmapLen
    var k = 0
    while (k < nRuns) {
      if (p + 4 > c.length) corrupt("truncated run")
      val repeat = readIntBE(c, p); p += 4
      if (repeat <= 0) corrupt(s"run repeat $repeat")
      if (p >= c.length) corrupt("missing cell")
      val len = cellLen(c, p, dt)
      if (len < 0 || p + len > c.length) corrupt(s"cell length $len")
      var r = 0
      while (r < repeat) {
        if (o + len > rawLen) corrupt("overflow")
        System.arraycopy(c, p, b, o, len)
        o += len; r += 1
      }
      p += len; k += 1
    }
    if (p != c.length) corrupt(s"trailing bytes (${c.length - p})")
    if (o != rawLen) corrupt(s"short decode ($o of $rawLen)")
    b
  }

  // ----------------------------------------------- chunk delta-varint codec
  // codec 4: [bitmap][count:4B][zigzag-varint deltas, first value from 0]
  // for integral chunks (long/int). The SORTED layouts make id columns
  // near-consecutive — delta 1 is ONE byte instead of 8 (measured ~7.5×
  // on a sorted id chunk) — and zigzag keeps arbitrary (unsorted,
  // negative) values correct, just not smaller. Decode rebuilds the raw
  // fixed-width chunk: one pass, no inflate tax. Kept ONLY when smaller,
  // same rule as every other encoding.

  private def zigzag(v: Long): Long = (v << 1) ^ (v >> 63)
  private def unzigzag(v: Long): Long = (v >>> 1) ^ -(v & 1L)

  /** Delta-varint-encodes one raw integral chunk; null when it would
    * not shrink (random/spread values inflate past fixed width). */
  private def deltaEncode(raw: Array[Byte], bitmapLen: Int, dt: DataType): Array[Byte] = {
    val width = dt match {
      case LongType => 8; case IntegerType => 4
      case _: DecimalType => 8
      case _ => return null
    }
    val n = (raw.length - bitmapLen) / width
    if (n == 0) return null
    val out = new Array[Byte](raw.length - 1) // give up unless strictly smaller
    // a tiny chunk can't even fit the count header under the shrink cap
    if (out.length < bitmapLen + 4) return null
    System.arraycopy(raw, 0, out, 0, bitmapLen)
    var p = bitmapLen
    writeIntBE(out, p, n); p += 4
    var prev = 0L
    var i = 0
    while (i < n) {
      val pos = bitmapLen + i * width
      val v =
        if (width == 8)
          ((raw(pos) & 0xFFL) << 56) | ((raw(pos + 1) & 0xFFL) << 48) |
            ((raw(pos + 2) & 0xFFL) << 40) | ((raw(pos + 3) & 0xFFL) << 32) |
            ((raw(pos + 4) & 0xFFL) << 24) | ((raw(pos + 5) & 0xFFL) << 16) |
            ((raw(pos + 6) & 0xFFL) << 8) | (raw(pos + 7) & 0xFFL)
        else readIntBE(raw, pos).toLong
      var z = zigzag(v - prev)
      prev = v
      // varint: 7 bits per byte, high bit = continuation
      var continue = true
      while (continue) {
        if (p >= out.length) return null // not shrinking — bail
        val b = (z & 0x7FL).toInt
        z >>>= 7
        continue = z != 0L
        out(p) = (if (continue) b | 0x80 else b).toByte
        p += 1
      }
      i += 1
    }
    java.util.Arrays.copyOf(out, p)
  }

  /** Inverse of [[deltaEncode]]: reconstructs the raw chunk layout. */
  private def deltaDecode(
      c: Array[Byte], bitmapLen: Int, rawLen: Int, dt: DataType, file: File): Array[Byte] = {
    def corrupt(what: String): Nothing =
      throw new java.io.IOException(s"graftshard: corrupt delta chunk in $file ($what)")
    val width = dt match {
      case LongType => 8; case IntegerType => 4
      case _: DecimalType => 8
      case other => corrupt(s"non-integral type ${other.sql}")
    }
    val b = new Array[Byte](rawLen)
    if (c.length < bitmapLen + 4) corrupt("truncated header")
    System.arraycopy(c, 0, b, 0, bitmapLen)
    var p = bitmapLen
    val n = readIntBE(c, p); p += 4
    if (n < 0 || bitmapLen + n.toLong * width != rawLen) corrupt(s"count $n for rawLen $rawLen")
    var prev = 0L
    var i = 0
    while (i < n) {
      var z = 0L
      var shift = 0
      var continue = true
      while (continue) {
        if (p >= c.length) corrupt("truncated varint")
        if (shift > 63) corrupt("varint overflow")
        val byte = c(p); p += 1
        z |= (byte & 0x7FL) << shift
        shift += 7
        continue = (byte & 0x80) != 0
      }
      val v = prev + unzigzag(z)
      prev = v
      val pos = bitmapLen + i * width
      if (width == 8) {
        b(pos) = (v >>> 56).toByte; b(pos + 1) = (v >>> 48).toByte
        b(pos + 2) = (v >>> 40).toByte; b(pos + 3) = (v >>> 32).toByte
        b(pos + 4) = (v >>> 24).toByte; b(pos + 5) = (v >>> 16).toByte
        b(pos + 6) = (v >>> 8).toByte; b(pos + 7) = v.toByte
      } else writeIntBE(b, pos, v.toInt)
      i += 1
    }
    if (p != c.length) corrupt(s"trailing bytes (${c.length - p})")
    b
  }

  /** Per-column group buffer for the shard writer: a null bitmap over the
    * group's rows plus the packed non-null values. */
  private final class ColBuf {
    var bitmap = new Array[Byte](GroupMaxRows / 8)
    val bytes = new java.io.ByteArrayOutputStream(1 << 14)
    val values = new DataOutputStream(bytes)
    def setNull(rowInGroup: Int): Unit =
      bitmap(rowInGroup >> 3) = (bitmap(rowInGroup >> 3) | (1 << (rowInGroup & 7))).toByte
    def reset(): Unit = {
      java.util.Arrays.fill(bitmap, 0.toByte)
      bytes.reset()
    }
  }

  /** One row group's integral-column stats, parsed from the group
    * header — the within-file skipping currency: a reader given the
    * scan's absorbed predicates drops whole groups (all chunks skipped,
    * zero value decodes) exactly like the manifest drops whole files.
    * On a sorted / z-ordered layout the groups are sub-ranges, so a
    * selective predicate over a 128 MiB shard decodes only the groups
    * its range touches. */
  final case class GroupStats(
      rows: Int,
      stats: Map[String, (Long, Long, Long)],
      allNull: Map[String, Long],
      strStats: Map[String, (String, String, Long)] = Map.empty)

  /** Writes one shard file (format v4, columnar row groups); the
    * caller feeds [[InternalRow]]s in the full table schema. Rows are
    * buffered per column and flushed as a group at [[GroupMaxRows]] /
    * [[GroupMaxBytes]] — bounded memory, one group in flight. Not
    * thread-safe (one per Spark task). */
  /** `codec`: "none" (raw), "dict" (the no-inflate-tax encodings: a
    * per-chunk dictionary for string columns AND run-length cells for
    * every column — low-cardinality keys, constant keyed/clustered
    * columns), or "deflate" (dict AND rle AND deflate candidates per
    * chunk, smallest wins). Every chunk records its own codec byte, so
    * mixed files/groups are always readable regardless of how the
    * table property evolves.
    *
    * `fieldIds`: the manifest's ids for the columns being written
    * (parallel to `schema.fields`); empty = positional 1..n, which is
    * exactly right for a fresh table and for direct/test callers. */
  final class ShardWriter(
      file: File, schema: StructType, codec: String = "none",
      fieldIds: Array[Int] = Array.emptyIntArray,
      bloomCols: Seq[String] = Nil,
      upsertKey: Option[String] = None,
      ndvCols: Seq[String] = Nil) {
    require(codec == "none" || codec == "dict" || codec == "deflate",
      s"graftshard: unknown chunk codec mode '$codec'")
    require(fieldIds.isEmpty || fieldIds.length == schema.fields.length,
      s"graftshard: ${fieldIds.length} field ids for ${schema.fields.length} columns")
    // encode/stats/codec decisions run on the PHYSICAL types
    // (timestamps are longs below the header); the header records the
    // LOGICAL tag so the file reads back under its declared type
    private val fields = schema.fields.map(f => f.copy(dataType = physicalOf(f.dataType)))
    private val out = new DataOutputStream(
      new BufferedOutputStream(new FileOutputStream(file), 1 << 20))
    out.write(MagicV4)
    // self-describing column header: the file, not the manifest, is the
    // truth about its own layout (see the MagicV4 note). The id
    // is the durable identity (rename-proof); the name is a debug aid.
    out.writeShort(fields.length)
    schema.fields.zipWithIndex.foreach { case (f, i) =>
      out.writeByte(typeTag(f.dataType).toInt)
      f.dataType match {
        case dt: DecimalType =>
          out.writeByte(dt.precision); out.writeByte(dt.scale): Unit
        case _ => ()
      }
      out.writeInt(if (fieldIds.isEmpty) i + 1 else fieldIds(i))
      out.writeUTF(f.name)
    }
    private var rowCount = 0L
    private val stats: Array[ColStats] =
      fields.map(f => if (statsEligible(f.dataType)) new ColStats else null)
    private val sstats: Array[StrStats] =
      fields.map(f => if (strStatsEligible(f.dataType)) new StrStats else null)
    private val cols: Array[ColBuf] = fields.map(_ => new ColBuf)
    // per-GROUP stats for integral AND string columns (reset each
    // flush) — written into the group header for within-file skipping
    private val gstats: Array[ColStats] =
      fields.map(f => if (statsEligible(f.dataType)) new ColStats else null)
    private val gsstats: Array[StrStats] =
      fields.map(f => if (strStatsEligible(f.dataType)) new StrStats else null)
    // per-file bloom accumulators for configured, eligible columns
    // (build() validated names/types up front — an unknown or
    // ineligible name here means a direct caller, so just skip it)
    private val blooms: Array[BloomAcc] =
      fields.map(f =>
        if (bloomCols.contains(f.name) && bloomEligible(f.dataType)) new BloomAcc
        else null)
    // per-file NDV sketch accumulators for configured, eligible columns
    private val ndvs: Array[NdvAcc] =
      fields.map(f =>
        if (ndvCols.contains(f.name) && ndvEligible(f.dataType)) new NdvAcc
        else null)
    // per-file KLL quantile sketches ride the same opt-in, INTEGRAL
    // columns only (the histogram face is numeric) — [[KllAcc]]
    private val klls: Array[KllAcc] =
      fields.map(f =>
        if (ndvCols.contains(f.name) &&
          (f.dataType == LongType || f.dataType == IntegerType)) new KllAcc // fields are physical: timestamps arrive as LongType
        else null)
    // upsert-key collection: the EXACT distinct keys this file inserts
    // (they become the commit's equality delete against older files)
    private val eqKeys: Array[EqKeyAcc] =
      fields.map(f =>
        if (upsertKey.contains(f.name) && upsertKeyEligible(f.dataType))
          new EqKeyAcc(f.dataType == StringType)
        else null)
    private var groupRows = 0
    private var groupBytes = 0L

    def write(row: InternalRow): Unit = {
      var i = 0
      while (i < fields.length) {
        if (row.isNullAt(i)) {
          if (eqKeys(i) != null) throw new IllegalArgumentException(
            s"graftshard: null value in upsertKey column '${fields(i).name}' — " +
              "an upsert needs a non-null key on every row (null never " +
              "equality-matches, so the old row could never be replaced)")
          cols(i).setNull(groupRows)
          if (stats(i) != null) { stats(i).nulls += 1; gstats(i).nulls += 1 }
          if (sstats(i) != null) { sstats(i).nulls += 1; gsstats(i).nulls += 1 }
        } else {
          val values = cols(i).values
          fields(i).dataType match {
            case LongType =>
              val v = row.getLong(i); values.writeLong(v)
              stats(i).update(v); gstats(i).update(v)
              if (blooms(i) != null) blooms(i).add(bloomHashLong(v))
              if (ndvs(i) != null) ndvs(i).add(v)
              if (klls(i) != null) klls(i).add(v)
              if (eqKeys(i) != null) eqKeys(i).add(v)
              groupBytes += 8
            case IntegerType =>
              val v = row.getInt(i); values.writeInt(v)
              stats(i).update(v.toLong); gstats(i).update(v.toLong)
              if (blooms(i) != null) blooms(i).add(bloomHashLong(v.toLong))
              if (ndvs(i) != null) ndvs(i).add(v.toLong)
              if (klls(i) != null) klls(i).add(v.toLong)
              if (eqKeys(i) != null) eqKeys(i).add(v.toLong)
              groupBytes += 4
            case DoubleType => values.writeDouble(row.getDouble(i)); groupBytes += 8
            case FloatType => values.writeFloat(row.getFloat(i)); groupBytes += 4
            case BooleanType => values.writeBoolean(row.getBoolean(i)); groupBytes += 1
            case StringType =>
              val u = row.getUTF8String(i)
              sstats(i).update(u)
              gsstats(i).update(u)
              if (eqKeys(i) != null) eqKeys(i).add(u)
              val b = u.getBytes
              values.writeInt(b.length); values.write(b)
              if (blooms(i) != null) blooms(i).add(bloomHashBytes(b))
              if (ndvs(i) != null) ndvs(i).add(b)
              groupBytes += 4L + b.length
            case BinaryType =>
              val b = row.getBinary(i)
              values.writeInt(b.length); values.write(b)
              if (blooms(i) != null) blooms(i).add(bloomHashBytes(b))
              if (ndvs(i) != null) ndvs(i).add(b)
              groupBytes += 4L + b.length
            case dec: DecimalType =>
              // compact decimals (precision <= 18): the UNSCALED long
              // is the stored value — 8 bytes, every long codec, and
              // unscaled order = decimal order at the column's scale,
              // so min/max stats and skipping proofs carry over
              val v = row.getDecimal(i, dec.precision, dec.scale).toUnscaledLong
              values.writeLong(v)
              stats(i).update(v); gstats(i).update(v)
              if (blooms(i) != null) blooms(i).add(bloomHashLong(v))
              if (ndvs(i) != null) ndvs(i).add(v)
              groupBytes += 8
            case ArrayType(FloatType, _) =>
              val arr = row.getArray(i)
              val n = arr.numElements()
              values.writeInt(n)
              var j = 0
              while (j < n) {
                if (arr.isNullAt(j)) throw new IllegalArgumentException(
                  s"graftshard: null element in float array column '${fields(i).name}' — " +
                    "the record format stores no element bitmap; coalesce or drop null elements first")
                values.writeFloat(arr.getFloat(j)); j += 1
              }
              groupBytes += 4L + 4L * n
            case ArrayType(IntegerType, _) =>
              val arr = row.getArray(i)
              val n = arr.numElements()
              values.writeInt(n)
              var j = 0
              while (j < n) {
                if (arr.isNullAt(j)) throw new IllegalArgumentException(
                  s"graftshard: null element in int array column '${fields(i).name}' — " +
                    "the record format stores no element bitmap; coalesce or drop null elements first")
                values.writeInt(arr.getInt(j)); j += 1
              }
              groupBytes += 4L + 4L * n
            case ArrayType(LongType, _) =>
              val arr = row.getArray(i)
              val n = arr.numElements()
              values.writeInt(n)
              var j = 0
              while (j < n) {
                if (arr.isNullAt(j)) throw new IllegalArgumentException(
                  s"graftshard: null element in long array column '${fields(i).name}' — " +
                    "the record format stores no element bitmap; coalesce or drop null elements first")
                values.writeLong(arr.getLong(j)); j += 1
              }
              groupBytes += 4L + 8L * n
            case dt => throw new IllegalStateException(s"unreachable: $dt")
          }
        }
        i += 1
      }
      rowCount += 1
      groupRows += 1
      if (groupRows >= GroupMaxRows || groupBytes >= GroupMaxBytes) flushGroup()
    }

    private def flushGroup(): Unit = {
      if (groupRows > 0) {
        out.writeInt(groupRows)
        // group-stats section, BEFORE the chunks, so a reader can drop
        // the whole group without touching a value: per column one flag
        // byte — 0 none, 1 integral (min/max/nulls), 2 all-null
        // (nulls), 3 string (min/max UTF, nulls; absent past the cap —
        // the same exactness rule as the file-level bounds)
        var i = 0
        while (i < cols.length) {
          val g = gstats(i)
          val t = gsstats(i)
          if (g != null && g.nonNull > 0) {
            out.writeByte(1)
            out.writeLong(g.min); out.writeLong(g.max); out.writeLong(g.nulls)
          } else if (t != null && t.nonNull > 0 && !t.dropped &&
              utf8RoundTrips(t.min) && utf8RoundTrips(t.max)) {
            out.writeByte(3)
            out.writeUTF(t.min.toString); out.writeUTF(t.max.toString)
            out.writeLong(t.nulls)
          } else if (t != null && t.nonNull > 0) {
            out.writeByte(0) // cap-dropped or non-UTF-8 bounds: no claim
          } else if (g != null && g.nulls > 0) {
            out.writeByte(2); out.writeLong(g.nulls)
          } else if (t != null && t.nonNull == 0 && t.nulls > 0) {
            out.writeByte(2); out.writeLong(t.nulls)
          } else out.writeByte(0)
          if (g != null) {
            g.min = Long.MaxValue; g.max = Long.MinValue
            g.nulls = 0L; g.nonNull = 0L; g.sum = 0L; g.sumOverflow = false
          }
          if (t != null) {
            t.min = null; t.max = null
            t.nulls = 0L; t.nonNull = 0L; t.dropped = false
          }
          i += 1
        }
        val bitmapLen = (groupRows + 7) / 8
        i = 0
        while (i < cols.length) {
          val c = cols(i)
          // chunk = [codec:1B][storedLen:4B][rawLen:4B][payload]
          // codec 0 = raw; codec 1 = DEFLATE; codec 2 = per-chunk string
          // DICTIONARY; codec 3 = RLE over value cells. Variable-width
          // columns (string/binary/array — where text corpora pay 3-5×
          // storage) deflate at speed-biased level 1; string columns
          // additionally try a dictionary (distinct values + 1-2B
          // indices — where parquet's dictionary encoding wins on
          // low-cardinality keys like lang/source); EVERY column type
          // tries RLE (keyed layouts make the key column constant per
          // file; sorted/clustered low-cardinality columns collapse to
          // runs). Dict and RLE decode as byte copies — NO inflate tax.
          // The smallest candidate wins, raw included — an encoding is
          // kept ONLY when it shrinks the chunk; random fixed-width
          // numerics fail the shrink test and stay raw at the cost of
          // one linear scan. Skipped chunks skip ENCODED bytes, so
          // group/column skipping and compression compound.
          val raw = {
            val b = new java.io.ByteArrayOutputStream(bitmapLen + c.bytes.size())
            b.write(c.bitmap, 0, bitmapLen)
            c.bytes.writeTo(b)
            b.toByteArray
          }
          val dictEncoded: Array[Byte] =
            if (codec == "none" || !stringCol(i)) null
            else dictEncode(raw, bitmapLen)
          val rleEncoded: Array[Byte] =
            if (codec == "none") null
            else rleEncode(raw, bitmapLen, fields(i).dataType)
          val deltaEncoded: Array[Byte] =
            if (codec == "none") null
            else deltaEncode(raw, bitmapLen, fields(i).dataType)
          // best cheap-decodable candidate (null = raw is best); codec
          // byte per winner: 2 dict, 3 rle, 4 delta-varint
          val light: Array[Byte] =
            Seq(dictEncoded, rleEncoded, deltaEncoded).filter(_ != null) match {
              case Nil => null
              case cands => cands.minBy(_.length)
            }
          val compressed: Array[Byte] =
            if (codec != "deflate" || !compressible(i)) null
            else {
              val cap = if (light == null) raw.length else light.length
              val d = new java.util.zip.Deflater(1)
              d.setInput(raw); d.finish()
              val buf = new Array[Byte](cap) // give up past the best-so-far
              val n = d.deflate(buf)
              val done = d.finished()
              d.end()
              if (done && n < cap) java.util.Arrays.copyOf(buf, n) else null
            }
          if (compressed != null) {
            out.writeByte(1)
            out.writeInt(compressed.length); out.writeInt(raw.length)
            out.write(compressed)
          } else if (light != null) {
            out.writeByte(
              if (light eq rleEncoded) 3
              else if (light eq deltaEncoded) 4
              else 2)
            out.writeInt(light.length); out.writeInt(raw.length)
            out.write(light)
          } else {
            out.writeByte(0)
            out.writeInt(raw.length); out.writeInt(raw.length)
            out.write(raw)
          }
          c.reset()
          i += 1
        }
        groupRows = 0
        groupBytes = 0L
      }
    }

    private val compressible: Array[Boolean] = fields.map(_.dataType match {
      case StringType | BinaryType | ArrayType(_, _) => true
      case _ => false
    })
    private val stringCol: Array[Boolean] = fields.map(_.dataType == StringType)

    /** Closes the file, writes its sidecars and returns its manifest
      * entry (`partition` is the key every row carries on a keyed
      * table) with the upsert-key sidecar, if any. */
    def finish(partition: Option[Long] = None): WrittenShard = {
      flushGroup()
      out.close()
      val present = Map.newBuilder[String, (Long, Long, Long)]
      val allNull = Map.newBuilder[String, Long]
      val sm = Map.newBuilder[String, Long]
      val ss = Map.newBuilder[String, (String, String, Long)]
      var i = 0
      while (i < fields.length) {
        val s = stats(i)
        if (s != null) {
          if (s.nonNull > 0) {
            present += fields(i).name -> ((s.min, s.max, s.nulls))
            if (!s.sumOverflow) sm += fields(i).name -> s.sum
          }
          else allNull += fields(i).name -> s.nulls
        }
        val t = sstats(i)
        if (t != null) {
          if (t.nonNull > 0) {
            if (!t.dropped && utf8RoundTrips(t.min) && utf8RoundTrips(t.max))
              ss += fields(i).name -> ((t.min.toString, t.max.toString, t.nulls))
          } else allNull += fields(i).name -> t.nulls
        }
        i += 1
      }
      // one bloom sidecar holds every configured column's filter
      // ([[FileEntry.bloom]]); absent when no column produced one
      val built = fields.indices.flatMap { j =>
        Option(blooms(j)).flatMap(_.build(BloomFpp)).map(fields(j).name -> _)
      }
      val bloom = if (built.isEmpty) None else {
        val side = bloomSidecarOf(file.getName)
        writeBloomSidecar(new File(file.getParentFile, side), built)
        Some(side)
      }
      // the upsert-key sidecar and its distinct-key count: the commit's
      // equality delete against older files ([[Manifest.equalityDeletes]])
      val eqKeySidecar = fields.indices.find(eqKeys(_) != null).flatMap { j =>
        val side = eqKeysSidecarOf(file.getName)
        eqKeys(j).write(new File(file.getParentFile, side)).map(side -> _)
      }
      WrittenShard(
        FileEntry(file.getName, file.length(), rowCount, present.result(), allNull.result(),
          partition, sums = sm.result(), strStats = ss.result(), bloom = bloom,
          ndv = fields.indices.collect {
            case j if ndvs(j) != null => fields(j).name -> ndvs(j).serialize()
          }.toMap,
          kll = fields.indices.collect {
            case j if klls(j) != null => fields(j).name -> klls(j).serialize()
          }.toMap),
        eqKeySidecar)
    }

    /** Closes and deletes the file and any sidecar it wrote. */
    def abort(): Unit = {
      out.close()
      discard(file.getParent, file.getName)
    }
  }

  /** A finished [[ShardWriter]]: its manifest entry and, on an upsert
    * write, its key sidecar's (name, distinct-key count). */
  final case class WrittenShard(entry: FileEntry, eqKeys: Option[(String, Long)])

  /** The written entries worth committing: empty-partition shards carry
    * no information, so their files are discarded here. */
  def dropEmpty(dir: String, written: Seq[FileEntry]): Seq[FileEntry] = {
    val (kept, empty) = written.partition(_.rows > 0)
    empty.foreach(fe => discard(dir, fe.name))
    kept
  }

  def bloomSidecarOf(shard: String): String = shard + ".bloom"
  def eqKeysSidecarOf(shard: String): String = shard + ".eqkeys"

  /** Deletes a written, never-committed shard file together with its
    * bloom and upsert-key sidecars (a missing one is a no-op) — how
    * every empty-file drop, conflict refusal, replay drop and abort
    * removes write output. */
  def discard(dir: String, shard: String): Unit = {
    new File(dir, bloomSidecarOf(shard)).delete()
    new File(dir, eqKeysSidecarOf(shard)).delete()
    new File(dir, shard).delete(): Unit
  }

  /** Columnar batch consumer for [[ShardReader.nextBatch]]: `slot` is
    * the output column (position in the reader's `readIndices`), `row`
    * is 0-based within the batch. Kept engine-agnostic so the format
    * layer never depends on Spark's vector classes — the V2 scan wraps
    * `OnHeapColumnVector`s in one. */
  trait BatchSink {
    def putNull(slot: Int, row: Int): Unit
    def putBoolean(slot: Int, row: Int, v: Boolean): Unit
    def putBytes(slot: Int, row: Int, b: Array[Byte], off: Int, len: Int): Unit
    /** One `array<float>` cell (the embedding-column shape). `v` is a
      * shared scratch buffer — consume `[off, off+len)` before returning. */
    def putFloats(slot: Int, row: Int, v: Array[Float], off: Int, len: Int): Unit
    /** One `array<int>` cell (token-id sequences). Same scratch-buffer
      * contract as [[putFloats]]. */
    def putInts(slot: Int, row: Int, v: Array[Int], off: Int, len: Int): Unit
    /** One `array<long>` cell. Same scratch-buffer contract as [[putFloats]]. */
    def putLongs(slot: Int, row: Int, v: Array[Long], off: Int, len: Int): Unit

    /** Offer THIS batch's dictionary for `slot` (a string column whose
      * chunk was stored codec-2 and kept encoded): entry k's bytes are
      * `bytes[offs(k), offs(k)+lens(k))`. Return true to receive the
      * column as [[putDictId]] ids (one per NON-NULL row, interleaved
      * with [[putNull]]) — O(count) entry materializations instead of
      * O(rows) per-cell byte copies; return false (the default) to
      * receive materialized [[putBytes]] cells as usual. Offered at
      * most once per slot per batch, before that slot's values. */
    def setDictionary(slot: Int, bytes: Array[Byte], offs: Array[Int],
        lens: Array[Int], count: Int): Boolean = false

    /** One dictionary id for a slot whose [[setDictionary]] offer was
      * accepted in this batch. */
    def putDictId(slot: Int, row: Int, id: Int): Unit =
      throw new UnsupportedOperationException(
        "graftshard: putDictId without an accepted dictionary")

    // ---- fixed-width columns arrive decoded whole-group: `vals` is
    // ROW-ALIGNED for rows [0, n) — vals(r) is row r's value, null rows
    // hold garbage; `nullRows[0, nNulls)` lists the null row ordinals
    // to mark. The Spark sink maps these onto one
    // WritableColumnVector.put{Longs,Ints,Doubles,Floats} arraycopy +
    // nNulls null marks — the decode loop never crosses a per-cell
    // virtual call. Decimals arrive as their unscaled longs.
    def putLongsBulk(slot: Int, n: Int, vals: Array[Long],
        nullRows: Array[Int], nNulls: Int): Unit
    def putIntsBulk(slot: Int, n: Int, vals: Array[Int],
        nullRows: Array[Int], nNulls: Int): Unit
    def putDoublesBulk(slot: Int, n: Int, vals: Array[Double],
        nullRows: Array[Int], nNulls: Int): Unit
    def putFloatsBulk(slot: Int, n: Int, vals: Array[Float],
        nullRows: Array[Int], nNulls: Int): Unit
  }

  /** Sequential reader over one shard file, decoding only the columns
    * in `readIndices` (indices into the TABLE schema, ascending); other
    * columns are skipped a whole column CHUNK at a time, one seek-sized
    * skip per row group (the columnar IO win). Emits values in physical
    * row order (the `_pos` / delete-vector contract). Only format v4
    * ([[MagicV4]]) is read; any other magic fails with an IOException
    * naming the file.
    *
    * The file's OWN column header drives decoding (schema evolution):
    * a wanted table column the file lacks (added after the file was
    * written) is null-filled; a file column the table no longer has
    * (dropped) is skipped using the header's type tag. Column matching:
    * BY FIELD ID against `resolve.fieldIds` (rename-proof) when the
    * caller passes them; otherwise by name, with `resolve.aliases`
    * mapping a renamed column's past names to its current one. When
    * both sides have a column, the types must agree OR widen losslessly
    * (int→long, float→double — the file's stored width is decoded and
    * widened at emit); anything else fails loudly. */
  final class ShardReader(
      file: File,
      schema: StructType,
      readIndices: Array[Int],
      // group-skip test over a group's header stats: true =
      // no row in the group can match the scan's absorbed predicates —
      // all its chunks are skipped unread. Callers that depend on
      // DENSE ordinals must keep the default and count rows themselves,
      // or use [[ordinal]], which stays exact across skipped groups.
      skipGroup: GroupStats => Boolean = _ => false,
      resolve: ColumnResolution = ColumnResolution.empty) {
    private val in = new DataInputStream(
      new BufferedInputStream(new FileInputStream(file), 1 << 20))
    locally {
      val hdr = new Array[Byte](MagicV4.length)
      val complete =
        try { in.readFully(hdr); true }
        catch { case _: EOFException => false }
      if (!complete || !java.util.Arrays.equals(hdr, MagicV4)) {
        in.close()
        throw new java.io.IOException(
          s"graftshard: bad magic in $file — not a shard file (only shard " +
            "format v4 is read)")
      }
    }
    // decode switches run on PHYSICAL types (a timestamp file column
    // decodes through every long path); resolution below compares
    // physical-vs-physical, which also makes the mapping total
    private val header: Array[(StructField, Int)] =
      Array.fill(in.readUnsignedShort()) {
        val tag = in.readByte()
        val dt =
          if (tag == 11)
            DecimalType(in.readUnsignedByte(), in.readUnsignedByte())
          else physicalOf(typeOfTag(tag))
        val id = in.readInt()
        (StructField(in.readUTF(), dt), id)
      }
    private val fields: Array[StructField] = header.map(_._1)
    private val fileIds: Array[Int] = header.map(_._2)
    // file-column index -> index into the TABLE schema, -1 when the
    // table no longer has the column (dropped — skip by stored type)
    private val target: Array[Int] = {
      val tableIdx = schema.fieldNames.zipWithIndex.toMap
      if (resolve.fieldIds.nonEmpty) {
        val byId = resolve.fieldIds.zipWithIndex.toMap
        fileIds.map(id => byId.getOrElse(id, -1))
      } else fields.map { f =>
        tableIdx.get(resolve.aliases.getOrElse(f.name, f.name)) match {
          case Some(ti) => ti
          case None => -1
        }
      }
    }
    // widening per file column: 0 = none, 1 = int→long, 2 = float→double
    private val widen: Array[Int] = fields.indices.toArray.map { i =>
      val ti = target(i)
      if (ti < 0) 0
      else {
        def norm(dt: DataType): DataType = dt match {
          case ArrayType(e, _) => ArrayType(e, containsNull = false)
          case d => d
        }
        val stored = fields(i).dataType
        val table = physicalOf(schema.fields(ti).dataType)
        if (norm(stored) == norm(table)) 0
        else if (stored == IntegerType && table == LongType) 1
        else if (stored == FloatType && table == DoubleType) 2
        else throw new IllegalArgumentException(
          s"graftshard: column '${fields(i).name}' stored as ${stored.sql} in " +
            s"$file but the table declares ${table.sql} — only int→long and " +
            "float→double widen; other type changes are not supported")
      }
    }
    // the table-schema name of each file column (group stats are keyed
    // by it, so skip predicates written against CURRENT names hold on
    // files written before a rename); unresolved columns keep the
    // stored name, which no table-side predicate references
    private val canon: Array[String] = fields.indices.toArray.map { i =>
      if (target(i) >= 0) schema.fields(target(i)).name else fields(i).name
    }
    // file-column index -> slot in the output array, -1 when skipped
    private val slot: Array[Int] = {
      val outOf = readIndices.zipWithIndex.toMap // table index -> output slot
      target.map(ti => if (ti < 0) -1 else outOf.getOrElse(ti, -1))
    }
    // wanted table columns the file lacks: null-filled every record
    private val missingSlots: Array[Int] = {
      val present = target.filter(_ >= 0).toSet
      readIndices.zipWithIndex.collect {
        case (ti, o) if !present.contains(ti) => o
      }
    }

    // ---- group state: one group's chunk bytes in flight for the wanted
    // columns (others were skipped as whole chunks at load time), each
    // decoded whole into the sink by the next nextBatch call
    private val gChunk = new Array[Array[Byte]](fields.length)
    // non-null when column i's current chunk is codec-2, kept in
    // dictionary form; gChunk(i) then aliases the ENCODED buffer (its
    // bitmap prefix is layout-identical)
    private val gDict = new Array[DictChunk](fields.length)
    // 3/4 when column i's current chunk is kept RLE/delta-ENCODED
    // (fixed-width numeric types only): the bulk decode expands runs /
    // varints STRAIGHT into the typed scratch — never reconstructing
    // the raw fixed-width layout first. 0 = raw or materialized
    private val gKept = new Array[Int](fields.length)
    // exact physical ordinal of the LAST row of the batch nextBatch
    // returned — counts rows inside skipped groups too, so delete-vector
    // / _pos consumers stay correct under group skipping
    private var physOrdinal = -1L
    private var skippedGroups = 0

    /** Physical ordinal (0-based, counts skipped-group rows) of the last
      * row of the batch the last `nextBatch` produced: that batch holds
      * ordinals `[ordinal - n + 1, ordinal]`. */
    def ordinal: Long = physOrdinal
    /** Row groups dropped by the `skipGroup` predicate so far. */
    def groupsSkipped: Int = skippedGroups

    /** COLUMNAR batch decode, the one way a shard file is read: loads
      * the next row group and writes its wanted columns into the sink
      * COLUMN-AT-A-TIME — one tight loop per column over the group's
      * chunk bytes, zero boxing for primitives. `begin(n)` is called
      * once with the batch's row count to obtain the sink (so the
      * caller can size/reset its vectors); returns n, or -1 at clean
      * EOF (the file is then closed). */
    def nextBatch(begin: Int => BatchSink): Int = {
      val n = loadGroup()
      if (n < 0) return -1
      val sink = begin(n)
      var ms = 0
      while (ms < missingSlots.length) {
        val s = missingSlots(ms)
        var r = 0
        while (r < n) { sink.putNull(s, r); r += 1 }
        ms += 1
      }
      var i = 0
      while (i < fields.length) {
        val s = slot(i)
        if (s >= 0) {
          val dm = gDict(i)
          if (dm != null &&
              sink.setDictionary(s, dm.bytes, dm.offs, dm.lens, dm.count)) {
            // serve ids straight from the encoded index section —
            // O(count) entry work on the sink side, 1-2 B per row here
            // (ids exist only for non-null cells)
            val chunk = dm.bytes
            var p = dm.idxPos
            var r = 0
            while (r < n) {
              if ((chunk(r >> 3) & (1 << (r & 7))) != 0) sink.putNull(s, r)
              else {
                val id =
                  if (dm.idxWidth == 1) chunk(p) & 0xFF
                  else ((chunk(p) & 0xFF) << 8) | (chunk(p + 1) & 0xFF)
                sink.putDictId(s, r, id)
                p += dm.idxWidth
              }
              r += 1
            }
          } else {
            if (dm != null) materializeDict(i) // sink declined the offer
            // whole-group decode in tight array loops (no per-cell
            // stream reads, bulk sink fills): kept RLE/delta chunks
            // expand straight into the typed scratch; raw/materialized
            // chunks bulk-read the packed cells
            gKept(i) match {
              case 3 => bulkDecodeRuns(i, n, fields(i), widen(i), sink, s)
              case 4 => bulkDecodeDeltas(i, n, fields(i), widen(i), sink, s)
              case _ => bulkDecode(gChunk(i), n, fields(i), widen(i), sink, s)
            }
          }
        }
        i += 1
      }
      physOrdinal += n
      n
    }

    // bulk-decode scratch, sized to the largest group seen; null rows
    // hold garbage in the row-aligned value arrays (the sink marks them)
    private var bulkLongs: Array[Long] = Array.emptyLongArray
    private var bulkInts: Array[Int] = Array.emptyIntArray
    private var bulkDoubles: Array[Double] = Array.emptyDoubleArray
    private var bulkFloats: Array[Float] = Array.emptyFloatArray
    private var bulkNullRows: Array[Int] = Array.emptyIntArray

    private def readLongBE(b: Array[Byte], p: Int): Long =
      ((b(p) & 0xFFL) << 56) | ((b(p + 1) & 0xFFL) << 48) |
        ((b(p + 2) & 0xFFL) << 40) | ((b(p + 3) & 0xFFL) << 32) |
        ((b(p + 4) & 0xFFL) << 24) | ((b(p + 5) & 0xFFL) << 16) |
        ((b(p + 6) & 0xFFL) << 8) | (b(p + 7) & 0xFFL)
    private def readInt4BE(b: Array[Byte], p: Int): Int =
      ((b(p) & 0xFF) << 24) | ((b(p + 1) & 0xFF) << 16) |
        ((b(p + 2) & 0xFF) << 8) | (b(p + 3) & 0xFF)

    /** WHOLE-GROUP decode of one column straight off the raw chunk
      * bytes into bulk sink fills — no per-cell DataInputStream reads
      * (8 virtual byte reads + stream bookkeeping per long), no per-
      * cell sink calls for fixed-width types. Cells are DENSE (non-null
      * rows only, row order) after the `(n+7)/8`-byte null bitmap;
      * values scatter into a row-aligned scratch that one bulk put
      * copies out. Handles the stored-width widenings (int→long,
      * float→double) in the same loops. Every storable type has a case
      * ([[ShardFormat.supported]]); anything else fails loudly. */
    private def bulkDecode(
        chunk: Array[Byte], n: Int, field: StructField, w: Int,
        sink: BatchSink, s: Int): Unit = {
      val bitmapLen = (n + 7) / 8
      // null ordinals first: dense cells scatter to row positions
      val nNulls = scanNulls(chunk, n)
      var r = 0
      var p = bitmapLen
      // the STORED width comes first: `field` is the
      // FILE header's column, so a widened column arrives as the
      // narrower stored type with w set — the sink's slot is the
      // TABLE's (wider) type
      if (w == 1) { // stored int, table long
        if (bulkLongs.length < n) bulkLongs = new Array[Long](n)
        var k = 0; r = 0
        while (r < n) {
          if (k < nNulls && bulkNullRows(k) == r) k += 1
          else { bulkLongs(r) = readInt4BE(chunk, p).toLong; p += 4 }
          r += 1
        }
        sink.putLongsBulk(s, n, bulkLongs, bulkNullRows, nNulls)
      } else if (w == 2) { // stored float, table double
        if (bulkDoubles.length < n) bulkDoubles = new Array[Double](n)
        var k = 0; r = 0
        while (r < n) {
          if (k < nNulls && bulkNullRows(k) == r) k += 1
          else {
            bulkDoubles(r) =
              java.lang.Float.intBitsToFloat(readInt4BE(chunk, p)).toDouble
            p += 4
          }
          r += 1
        }
        sink.putDoublesBulk(s, n, bulkDoubles, bulkNullRows, nNulls)
      } else field.dataType match {
        case LongType | (_: DecimalType) => // decimals: unscaled longs
          if (bulkLongs.length < n) bulkLongs = new Array[Long](n)
          var k = 0; r = 0
          while (r < n) {
            if (k < nNulls && bulkNullRows(k) == r) k += 1
            else { bulkLongs(r) = readLongBE(chunk, p); p += 8 }
            r += 1
          }
          sink.putLongsBulk(s, n, bulkLongs, bulkNullRows, nNulls)
        case IntegerType =>
          if (bulkInts.length < n) bulkInts = new Array[Int](n)
          var k = 0; r = 0
          while (r < n) {
            if (k < nNulls && bulkNullRows(k) == r) k += 1
            else { bulkInts(r) = readInt4BE(chunk, p); p += 4 }
            r += 1
          }
          sink.putIntsBulk(s, n, bulkInts, bulkNullRows, nNulls)
        case DoubleType =>
          if (bulkDoubles.length < n) bulkDoubles = new Array[Double](n)
          var k = 0; r = 0
          while (r < n) {
            if (k < nNulls && bulkNullRows(k) == r) k += 1
            else {
              bulkDoubles(r) = java.lang.Double.longBitsToDouble(readLongBE(chunk, p))
              p += 8
            }
            r += 1
          }
          sink.putDoublesBulk(s, n, bulkDoubles, bulkNullRows, nNulls)
        case FloatType =>
          if (bulkFloats.length < n) bulkFloats = new Array[Float](n)
          var k = 0; r = 0
          while (r < n) {
            if (k < nNulls && bulkNullRows(k) == r) k += 1
            else {
              bulkFloats(r) = java.lang.Float.intBitsToFloat(readInt4BE(chunk, p))
              p += 4
            }
            r += 1
          }
          sink.putFloatsBulk(s, n, bulkFloats, bulkNullRows, nNulls)
        case ArrayType(FloatType, _) =>
          // embedding columns: per CELL one tight intBitsToFloat loop
          // over the chunk bytes (the cursor path paid a stream read
          // PER ELEMENT — 64-256 of them per cell)
          var k = 0; r = 0
          while (r < n) {
            if (k < nNulls && bulkNullRows(k) == r) { sink.putNull(s, r); k += 1 }
            else {
              val len = readInt4BE(chunk, p); p += 4
              if (floatScratch.length < len) floatScratch = new Array[Float](len)
              var j = 0
              while (j < len) {
                floatScratch(j) = java.lang.Float.intBitsToFloat(readInt4BE(chunk, p))
                p += 4; j += 1
              }
              sink.putFloats(s, r, floatScratch, 0, len)
            }
            r += 1
          }
        case ArrayType(IntegerType, _) =>
          // token-id columns: same per-cell tight loop as embeddings
          var k = 0; r = 0
          while (r < n) {
            if (k < nNulls && bulkNullRows(k) == r) { sink.putNull(s, r); k += 1 }
            else {
              val len = readInt4BE(chunk, p); p += 4
              if (intScratch.length < len) intScratch = new Array[Int](len)
              var j = 0
              while (j < len) {
                intScratch(j) = readInt4BE(chunk, p)
                p += 4; j += 1
              }
              sink.putInts(s, r, intScratch, 0, len)
            }
            r += 1
          }
        case ArrayType(LongType, _) =>
          var k = 0; r = 0
          while (r < n) {
            if (k < nNulls && bulkNullRows(k) == r) { sink.putNull(s, r); k += 1 }
            else {
              val len = readInt4BE(chunk, p); p += 4
              if (longScratch.length < len) longScratch = new Array[Long](len)
              var j = 0
              while (j < len) {
                longScratch(j) = readLongBE(chunk, p)
                p += 8; j += 1
              }
              sink.putLongs(s, r, longScratch, 0, len)
            }
            r += 1
          }
        case StringType | BinaryType =>
          // variable-width cells served DIRECT from the chunk buffer —
          // no per-cell byte[] allocation, no stream; putBytes copies
          // straight from the chunk into the sink's storage (its
          // consume-before-return contract makes the shared buffer safe)
          var k = 0; r = 0
          while (r < n) {
            if (k < nNulls && bulkNullRows(k) == r) { sink.putNull(s, r); k += 1 }
            else {
              val len = readInt4BE(chunk, p); p += 4
              sink.putBytes(s, r, chunk, p, len)
              p += len
            }
            r += 1
          }
        case BooleanType =>
          var k = 0; r = 0
          while (r < n) {
            if (k < nNulls && bulkNullRows(k) == r) { sink.putNull(s, r); k += 1 }
            else { sink.putBoolean(s, r, chunk(p) != 0); p += 1 }
            r += 1
          }
        case other => throw new IllegalStateException(
          s"graftshard: nextBatch over unsupported column type ${other.sql} " +
            s"('${field.name}')")
      }
    }

    /** Reconstructs a dictionary-form chunk into the raw layout — for
      * a sink that declines the dictionary and takes cells. */
    private def materializeDict(i: Int): Unit = {
      gChunk(i) = dictMaterialize(gDict(i))
      gDict(i) = null
    }

    /** Fixed-width numeric types the kept-encoded (RLE/delta) batch
      * decode serves directly. */
    private def fixedNumeric(dt: DataType): Boolean = dt match {
      case LongType | IntegerType | DoubleType | FloatType => true
      case _: DecimalType => true // unscaled longs
      case _ => false
    }

    /** Null ordinals of rows [0, n) into [[bulkNullRows]]; count. */
    private def scanNulls(chunk: Array[Byte], n: Int): Int = {
      if (bulkNullRows.length < n) bulkNullRows = new Array[Int](n)
      var nNulls = 0
      var r = 0
      while (r < n) {
        if ((chunk(r >> 3) & (1 << (r & 7))) != 0) {
          bulkNullRows(nNulls) = r; nNulls += 1
        }
        r += 1
      }
      nNulls
    }

    // backward dense→row-aligned scatter (safe in-place: the target
    // position is always >= the dense position); no-op when null-free
    private def scatterLongs(chunk: Array[Byte], n: Int, dense: Int): Unit = {
      if (dense == n) return
      var di = dense - 1
      var r = n - 1
      while (r >= 0) {
        if ((chunk(r >> 3) & (1 << (r & 7))) == 0) {
          bulkLongs(r) = bulkLongs(di); di -= 1
        }
        r -= 1
      }
    }
    private def scatterInts(chunk: Array[Byte], n: Int, dense: Int): Unit = {
      if (dense == n) return
      var di = dense - 1
      var r = n - 1
      while (r >= 0) {
        if ((chunk(r >> 3) & (1 << (r & 7))) == 0) {
          bulkInts(r) = bulkInts(di); di -= 1
        }
        r -= 1
      }
    }
    private def scatterDoubles(chunk: Array[Byte], n: Int, dense: Int): Unit = {
      if (dense == n) return
      var di = dense - 1
      var r = n - 1
      while (r >= 0) {
        if ((chunk(r >> 3) & (1 << (r & 7))) == 0) {
          bulkDoubles(r) = bulkDoubles(di); di -= 1
        }
        r -= 1
      }
    }
    private def scatterFloats(chunk: Array[Byte], n: Int, dense: Int): Unit = {
      if (dense == n) return
      var di = dense - 1
      var r = n - 1
      while (r >= 0) {
        if ((chunk(r >> 3) & (1 << (r & 7))) == 0) {
          bulkFloats(r) = bulkFloats(di); di -= 1
        }
        r -= 1
      }
    }

    /** Expands a kept RLE chunk's runs STRAIGHT into the typed scratch
      * (dense `Arrays.fill` per run — a 64k-row constant key column is
      * ONE fill), scatters to row positions, and hands the sink one
      * bulk fill. Fixed-width numerics only (loadGroup's keep rule). */
    private def bulkDecodeRuns(i: Int, n: Int, field: StructField, w: Int,
        sink: BatchSink, s: Int): Unit = {
      val c = gChunk(i)
      val bitmapLen = (n + 7) / 8
      def corrupt(what: String): Nothing =
        throw new java.io.IOException(s"graftshard: corrupt RLE chunk in $file ($what)")
      val nNulls = scanNulls(c, n)
      val dense = n - nNulls
      var p = bitmapLen
      if (p + 4 > c.length) corrupt("truncated header")
      val nRuns = readInt4BE(c, p); p += 4
      val cellW = if (w == 1 || w == 2) 4 else field.dataType match {
        case LongType | DoubleType => 8
        case _: DecimalType => 8
        case _ => 4
      }
      var d = 0
      var k = 0
      if (w == 1 || field.dataType == LongType ||
          field.dataType.isInstanceOf[DecimalType]) {
        if (bulkLongs.length < n) bulkLongs = new Array[Long](n)
        while (k < nRuns) {
          if (p + 4 + cellW > c.length) corrupt("truncated run")
          val rep = readInt4BE(c, p); p += 4
          if (rep <= 0 || d + rep > dense) corrupt(s"run repeat $rep")
          val v = if (w == 1) readInt4BE(c, p).toLong else readLongBE(c, p)
          p += cellW
          java.util.Arrays.fill(bulkLongs, d, d + rep, v)
          d += rep; k += 1
        }
        if (d != dense) corrupt(s"short decode ($d of $dense)")
        scatterLongs(c, n, dense)
        sink.putLongsBulk(s, n, bulkLongs, bulkNullRows, nNulls)
      } else if (w == 2 || field.dataType == DoubleType) {
        if (bulkDoubles.length < n) bulkDoubles = new Array[Double](n)
        while (k < nRuns) {
          if (p + 4 + cellW > c.length) corrupt("truncated run")
          val rep = readInt4BE(c, p); p += 4
          if (rep <= 0 || d + rep > dense) corrupt(s"run repeat $rep")
          val v =
            if (w == 2) java.lang.Float.intBitsToFloat(readInt4BE(c, p)).toDouble
            else java.lang.Double.longBitsToDouble(readLongBE(c, p))
          p += cellW
          java.util.Arrays.fill(bulkDoubles, d, d + rep, v)
          d += rep; k += 1
        }
        if (d != dense) corrupt(s"short decode ($d of $dense)")
        scatterDoubles(c, n, dense)
        sink.putDoublesBulk(s, n, bulkDoubles, bulkNullRows, nNulls)
      } else if (field.dataType == IntegerType) {
        if (bulkInts.length < n) bulkInts = new Array[Int](n)
        while (k < nRuns) {
          if (p + 4 + cellW > c.length) corrupt("truncated run")
          val rep = readInt4BE(c, p); p += 4
          if (rep <= 0 || d + rep > dense) corrupt(s"run repeat $rep")
          val v = readInt4BE(c, p); p += cellW
          java.util.Arrays.fill(bulkInts, d, d + rep, v)
          d += rep; k += 1
        }
        if (d != dense) corrupt(s"short decode ($d of $dense)")
        scatterInts(c, n, dense)
        sink.putIntsBulk(s, n, bulkInts, bulkNullRows, nNulls)
      } else { // FloatType
        if (bulkFloats.length < n) bulkFloats = new Array[Float](n)
        while (k < nRuns) {
          if (p + 4 + cellW > c.length) corrupt("truncated run")
          val rep = readInt4BE(c, p); p += 4
          if (rep <= 0 || d + rep > dense) corrupt(s"run repeat $rep")
          val v = java.lang.Float.intBitsToFloat(readInt4BE(c, p)); p += cellW
          java.util.Arrays.fill(bulkFloats, d, d + rep, v)
          d += rep; k += 1
        }
        if (d != dense) corrupt(s"short decode ($d of $dense)")
        scatterFloats(c, n, dense)
        sink.putFloatsBulk(s, n, bulkFloats, bulkNullRows, nNulls)
      }
    }

    /** Decodes a kept delta-varint chunk STRAIGHT into the typed
      * scratch (one zigzag-varint loop over the chunk bytes — no
      * stream, no raw reconstruction), scatters, bulk-fills. Integral
      * types only (the encoder's own admission). */
    private def bulkDecodeDeltas(i: Int, n: Int, field: StructField, w: Int,
        sink: BatchSink, s: Int): Unit = {
      val c = gChunk(i)
      val bitmapLen = (n + 7) / 8
      def corrupt(what: String): Nothing =
        throw new java.io.IOException(s"graftshard: corrupt delta chunk in $file ($what)")
      val nNulls = scanNulls(c, n)
      val dense = n - nNulls
      var p = bitmapLen
      if (p + 4 > c.length) corrupt("truncated header")
      val cnt = readInt4BE(c, p); p += 4
      if (cnt != dense) corrupt(s"count $cnt for $dense non-null rows")
      val storedInt = w == 1 || field.dataType == IntegerType
      val asLongs = w == 1 || field.dataType == LongType
      if (asLongs) { if (bulkLongs.length < n) bulkLongs = new Array[Long](n) }
      else { if (bulkInts.length < n) bulkInts = new Array[Int](n) }
      var prev = 0L
      var d = 0
      while (d < dense) {
        var z = 0L
        var shift = 0
        var continue = true
        while (continue) {
          if (p >= c.length) corrupt("truncated varint")
          if (shift > 63) corrupt("varint overflow")
          val byte = c(p); p += 1
          z |= (byte & 0x7FL) << shift
          shift += 7
          continue = (byte & 0x80) != 0
        }
        val v = prev + unzigzag(z)
        prev = v
        // replicate the raw layout's stored-width truncation exactly
        if (asLongs) bulkLongs(d) = if (storedInt) v.toInt.toLong else v
        else bulkInts(d) = v.toInt
        d += 1
      }
      if (p != c.length) corrupt(s"trailing bytes (${c.length - p})")
      if (asLongs) {
        scatterLongs(c, n, dense)
        sink.putLongsBulk(s, n, bulkLongs, bulkNullRows, nNulls)
      } else {
        scatterInts(c, n, dense)
        sink.putIntsBulk(s, n, bulkInts, bulkNullRows, nNulls)
      }
    }

    // reused across cells of the batch decode's array columns
    private var floatScratch: Array[Float] = Array.emptyFloatArray
    private var intScratch: Array[Int] = Array.emptyIntArray
    private var longScratch: Array[Long] = Array.emptyLongArray

    /** Loads the next row group the skip predicate keeps; its row
      * count, or -1 at clean EOF (the file is then closed). */
    private def loadGroup(): Int = {
      while (true) {
        val rows =
          try in.readInt()
          catch { case _: EOFException => in.close(); return -1 }
        // group-stats section (see the writer's flushGroup)
        val present = Map.newBuilder[String, (Long, Long, Long)]
        val allNull = Map.newBuilder[String, Long]
        val strs = Map.newBuilder[String, (String, String, Long)]
        var i = 0
        while (i < fields.length) {
          in.readByte() match {
            case 0 => ()
            case 1 =>
              present += canon(i) -> ((in.readLong(), in.readLong(), in.readLong()))
            case 2 => allNull += canon(i) -> in.readLong()
            case 3 =>
              strs += canon(i) -> ((in.readUTF(), in.readUTF(), in.readLong()))
            case other =>
              throw new java.io.IOException(
                s"graftshard: corrupt group stats flag $other in $file")
          }
          i += 1
        }
        val skip = skipGroup(
          GroupStats(rows, present.result(), allNull.result(), strs.result()))
        val bitmapLen = (rows + 7) / 8
        i = 0
        while (i < fields.length) {
          val codec = in.readByte()
          val storedLen = in.readInt()
          val rawLen = in.readInt()
          gDict(i) = null
          gKept(i) = 0
          if (skip || slot(i) < 0) in.skipFully(storedLen.toLong)
          else {
            val buf = codec match {
              case 0 =>
                val b = new Array[Byte](storedLen); in.readFully(b); b
              case 1 =>
                val c = new Array[Byte](storedLen); in.readFully(c)
                val b = new Array[Byte](rawLen)
                val inf = new java.util.zip.Inflater()
                inf.setInput(c)
                var off = 0
                var stalled = false
                while (off < rawLen && !inf.finished() && !stalled) {
                  val k = inf.inflate(b, off, rawLen - off)
                  // a truncated/corrupt chunk makes inflate return 0 with
                  // needsInput/needsDictionary set while finished() stays
                  // false — break out and raise instead of spinning forever
                  if (k == 0 && (inf.needsInput() || inf.needsDictionary())) stalled = true
                  else off += k
                }
                inf.end()
                if (off != rawLen) throw new java.io.IOException(
                  s"graftshard: short inflate ($off of $rawLen) in $file — corrupt chunk")
                b
              case 2 =>
                val c = new Array[Byte](storedLen); in.readFully(c)
                // keep the dictionary form: nextBatch serves it as
                // (entries, ids) — see [[DictChunk]]; the encoded
                // buffer's bitmap prefix serves the null tests
                gDict(i) = parseDictChunk(c, bitmapLen, rawLen, file)
                c
              case 3 =>
                val c = new Array[Byte](storedLen); in.readFully(c)
                if (fixedNumeric(fields(i).dataType)) {
                  // keep the RUN form: nextBatch expands runs straight
                  // into the typed scratch — never the raw fixed-width
                  // reconstruction (bitmap prefix shared)
                  gKept(i) = 3
                  c
                } else rleDecode(c, bitmapLen, rawLen, fields(i).dataType, file)
              case 4 =>
                val c = new Array[Byte](storedLen); in.readFully(c)
                // delta only ever encodes integral chunks; keep in kind
                if (fields(i).dataType == LongType || fields(i).dataType == IntegerType) {
                  gKept(i) = 4
                  c
                } else deltaDecode(c, bitmapLen, rawLen, fields(i).dataType, file)
              case other => throw new java.io.IOException(
                s"graftshard: unknown chunk codec $other in $file")
            }
            gChunk(i) = buf // bitmap prefix; the null test indexes it directly
          }
          i += 1
        }
        if (!skip) return rows
        physOrdinal += rows // the ordinal contract: skipped rows count
        skippedGroups += 1
      }
      -1 // unreachable
    }

    def close(): Unit = in.close()

    /** DataInputStream.skipBytes may skip fewer bytes than asked
      * (buffered boundary); loop to the full count. */
    implicit private class SkipFully(s: DataInputStream) {
      def skipFully(n: Long): Unit = {
        var left = n
        while (left > 0) {
          val k = s.skip(left)
          if (k <= 0) { s.readByte(); left -= 1 } // forces EOF detection
          else left -= k
        }
      }
    }
  }

  // ------------------------------------------------------------- manifest

  // one shared instance: ObjectMapper construction is expensive and the
  // configured instance is thread-safe; vacuum / TIMESTAMP AS OF read
  // O(retained versions) manifests per call
  private val mapper = new ObjectMapper()

  /** Per-table COMMIT LOCK, two layers deep; every read-compose-publish
    * section takes it, so concurrent committers serialize instead of
    * losing updates (two appends reading v5 and both publishing v6
    * would silently drop one commit's files — the classic lost update).
    *
    *  1. JVM monitor, keyed by absolute directory: parallel ingestion
    *     jobs, two streaming queries on the same sink, a maintenance
    *     CALL racing an append inside ONE driver. Reentrant (depth
    *     counter) — a commit section composed of smaller locked pieces
    *     keeps the table.
    *  2. O_EXCL lock FILE `<dir>/commit.lock`, created atomically
    *     (`Files.createFile` = O_CREAT|O_EXCL) by the monitor's first
    *     entrant and deleted on exit: two SEPARATE drivers — the normal
    *     production shape of an ingest job plus a compaction job —
    *     serialize through the filesystem. Atomic-exclusive create is
    *     the one primitive every POSIX filesystem (and NFSv3+) gets
    *     right; deliberately NOT `FileChannel.lock`, whose fcntl table
    *     is unreliable under containerized/virtualized filesystems
    *     (measured here: a child process's lock invisible to its
    *     parent's kernel view).
    *
    * Crash safety — a committer dying while holding the lock must not
    * wedge the table, so the lock file records `pid@host ts` and a
    * waiter STEALS it when either
    *  - the recorded pid is dead (checked via ProcessHandle when the
    *    hostname matches ours — the multi-driver-one-host shape), or
    *  - the file is older than [[CommitLeaseMs]] (the cross-host
    *    fallback; a commit section is sub-second even at 1M manifest
    *    entries, so a minute-stale lock is a corpse, not a commit).
    * The steal itself is raced through an atomic RENAME to a
    * uuid-suffixed tombstone — exactly one stealer wins the rename, so
    * two waiters can never free-then-recreate over each other. A holder
    * alive-but-paused past the lease can still be stolen from (the
    * inherent lease tradeoff), but that costs only WORK, never data:
    * the commit's linearization point is the version-snapshot CAS link
    * ([[writeManifestImpl]]), so of two committers composed against the
    * same base exactly one lands and the other loses loudly — with no
    * dependence on this lease or any clock. Raise
    * `graft.shard.commitLeaseMs` if stop-the-world pauses that long
    * are routine and the wasted compose work matters. */
  private final class TableLock {
    var depth = 0
    var held: File = _
    var heldToken: String = _ // the exact `pid@host ts` we wrote
  }
  private val commitLocks =
    new java.util.concurrent.ConcurrentHashMap[String, TableLock]()
  val CommitLockName = "commit.lock"
  def CommitLeaseMs: Long =
    java.lang.Long.getLong("graft.shard.commitLeaseMs", 60000L)
  private lazy val hostName: String =
    try java.net.InetAddress.getLocalHost.getHostName
    catch { case scala.util.control.NonFatal(_) => "unknown-host" }

  def withCommitLock[A](dir: String)(body: => A): A = {
    val abs = new File(dir).getAbsolutePath
    val tl = commitLocks.computeIfAbsent(abs, _ => new TableLock)
    tl.synchronized {
      if (tl.depth == 0) {
        val (f, token) = acquireProcessLock(abs)
        tl.held = f; tl.heldToken = token
      }
      tl.depth += 1
      try body
      finally {
        tl.depth -= 1
        if (tl.depth == 0) {
          // Release ONLY our own lock. If the lease expired mid-section
          // (a >CommitLeaseMs pause) a waiter may have stolen the lock
          // and a NEW holder's file may sit at this path — deleting it
          // blindly would admit a third committer into the new holder's
          // critical section. Re-read and compare against the exact
          // token we wrote; on mismatch (or vanished file) the lock was
          // stolen: log and leave the new holder's file alone.
          if (tl.held != null) {
            val mine =
              try {
                val txt = new String(
                  java.nio.file.Files.readAllBytes(tl.held.toPath), "UTF-8")
                txt == tl.heldToken
              } catch { case scala.util.control.NonFatal(_) => false }
            if (mine) tl.held.delete()
            else System.err.println(
              s"graftshard: commit.lock at ${tl.held} was stolen during " +
              "this section (lease expired under a long pause); leaving " +
              "the current holder's lock in place")
            tl.held = null; tl.heldToken = null
          }
        }
      }
    }
  }

  /** Blocks until this process owns `<absDir>/commit.lock`; returns the
    * lock file and the exact token written into it (the release path
    * compares the file against the token so a stolen lock is never
    * deleted out from under its new holder). */
  private def acquireProcessLock(absDir: String): (File, String) = {
    val d = new File(absDir)
    if (!d.isDirectory) d.mkdirs() // first commit into a fresh table dir
    val lock = new File(d, CommitLockName)
    val me = s"${ProcessHandle.current().pid()}@$hostName ${System.currentTimeMillis()}"
    while (true) {
      try {
        java.nio.file.Files.createFile(lock.toPath) // atomic O_EXCL
        java.nio.file.Files.write(lock.toPath, me.getBytes("UTF-8"))
        return (lock, me)
      } catch {
        case _: java.nio.file.FileAlreadyExistsException =>
          if (holderIsGone(lock)) {
            // exactly one stealer wins this rename; the losers loop
            val tomb = new File(d,
              s"$CommitLockName.stale-${java.util.UUID.randomUUID().toString.take(8)}")
            try {
              java.nio.file.Files.move(lock.toPath, tomb.toPath)
              tomb.delete(): Unit
            } catch { case _: java.io.IOException => () }
          } else Thread.sleep(10)
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** True when the lock's recorded holder is provably dead (same-host
    * pid check) or the file has outlived the lease. A file we cannot
    * parse yet (holder between create and write) is only ever reaped by
    * the lease. */
  private def holderIsGone(lock: File): Boolean = {
    val mtime = lock.lastModified()
    if (mtime == 0L) return false // vanished — retry the create instead
    if (System.currentTimeMillis() - mtime > CommitLeaseMs) return true
    try {
      val txt = new String(java.nio.file.Files.readAllBytes(lock.toPath), "UTF-8")
      txt.split(' ').headOption.map(_.split('@')) match {
        case Some(Array(pid, host)) if host == hostName =>
          !ProcessHandle.of(pid.toLong).map[Boolean](_.isAlive).orElse(false)
        case _ => false // foreign host or unparsable: lease decides
      }
    } catch { case scala.util.control.NonFatal(_) => false }
  }

  /** FENCE for the lease-steal window: every pointer/branch publish
    * that runs INSIDE a commit section re-reads the lock file first and
    * REFUSES when the token no longer matches — the holder was paused
    * past [[CommitLeaseMs]] (GC, cgroup freeze, VM migration) and a
    * waiter stole the lock; publishing anyway would overwrite the
    * stealer's commit with a manifest composed against pre-steal state
    * (the silent lost update the whole protocol exists to prevent).
    * The check applies only when the CURRENT thread is inside
    * withCommitLock for this table (Thread.holdsLock — direct
    * writeManifest callers outside a section are not fenced, and a
    * concurrent section in this JVM is never blocked on). This is a
    * FAST-FAIL courtesy, not the guard: the commit's linearization
    * point is the version-snapshot CAS link in [[writeManifestImpl]],
    * which a stale committer loses unconditionally — the fence just
    * saves it the serialization work and gives a clearer message. */
  private def fenceHeldLock(dir: String): Unit = {
    val tl = commitLocks.get(new File(dir).getAbsolutePath)
    if (tl != null && Thread.holdsLock(tl) && tl.held != null) {
      val ok =
        try new String(
          java.nio.file.Files.readAllBytes(tl.held.toPath), "UTF-8") == tl.heldToken
        catch { case scala.util.control.NonFatal(_) => false }
      if (!ok) throw new java.util.ConcurrentModificationException(
        s"graftshard: commit fenced — commit.lock in $dir was stolen " +
          "(this committer paused past graft.shard.commitLeaseMs and a " +
          "waiter took over); abandoning the publish to protect the new " +
          "holder's commits. Re-run the write — its data files are " +
          "unreferenced and will be vacuumed.")
    }
  }

  def manifestFile(dir: String): File = new File(dir, ManifestName)

  /** Immutable per-commit snapshot written next to the pointer. Its
    * CREATION (a hard link of the fully-written temp — POSIX's
    * conditional PUT) is the commit's linearization point; see
    * [[writeManifestImpl]]. */
  def versionFile(dir: String, version: Long): File =
    new File(dir, s"$ManifestName-v$version")

  /** The highest version reachable from `from` by contiguous +1 probes
    * over the immutable snapshots. Commits always target base+1 (staged
    * chains publish as ONE version — [[GraftShardWrite]] pins the
    * branch manifest at branchBase+1), so committed history is gap-free
    * above any pointer the table ever published and the walk cannot
    * stop short. Cost when the pointer is fresh: ONE File.exists. */
  private def headVersionFrom(dir: String, from: Long): Long = {
    var v = from
    while (versionFile(dir, v + 1).isFile) v += 1
    v
  }

  /** Resolves the TRUE head manifest of `dir`: the pointer, unless
    * CAS-committed snapshots exist past its version — a committer that
    * crashed (or was fenced) between the version link and the pointer
    * refresh leaves the pointer lagging, and the link is the commit.
    * Returns the head's file and its parsed root; the fresh-pointer
    * fast path reuses the single parse. A missing pointer with
    * snapshots on disk (crash during the table's FIRST commit) resolves
    * to the newest snapshot present. */
  private def liveRoot(
      dir: String): Option[(File, com.fasterxml.jackson.databind.JsonNode)] = {
    val mf = manifestFile(dir)
    if (mf.isFile) {
      val root = mapper.readTree(mf)
      val pv = root.path("manifestVersion").asLong(0L)
      val head = headVersionFrom(dir, pv)
      if (head > pv) {
        val hf = versionFile(dir, head)
        Some((hf, mapper.readTree(hf)))
      } else Some((mf, root))
    } else {
      var best = -1L
      Option(new File(dir).listFiles()).getOrElse(Array.empty).foreach { f =>
        val n = f.getName
        if (n.startsWith(s"$ManifestName-v"))
          scala.util.Try(n.stripPrefix(s"$ManifestName-v").toLong)
            .foreach(v => if (v > best) best = v)
      }
      if (best < 0L) None
      else {
        val hf = versionFile(dir, best)
        Some((hf, mapper.readTree(hf)))
      }
    }
  }

  /** Repairs a lagging pointer to the CAS head. Call inside the commit
    * lock. [[GraftShardMaintenance.expireSnapshots]] MUST run this
    * before deleting anything: expiring a snapshot between a stale
    * pointer and the head would strand the contiguous roll-forward walk
    * and silently regress the table to the pointer's version. Ordinary
    * commits heal as a side effect (every publish refreshes the
    * pointer), so this is the maintenance-path belt-and-braces. */
  def healPointer(dir: String): Unit = {
    val mf = manifestFile(dir)
    if (!mf.isFile) return
    val pv =
      try mapper.readTree(mf).path("manifestVersion").asLong(0L)
      catch { case scala.util.control.NonFatal(_) => return }
    val head = headVersionFrom(dir, pv)
    if (head > pv) {
      val tmp = new File(dir, s"$ManifestName.tmp-${java.util.UUID.randomUUID()}")
      java.nio.file.Files.copy(versionFile(dir, head).toPath, tmp.toPath)
      if (!tmp.renameTo(mf)) { tmp.delete(); () }
    }
  }

  // ------------------------------------------------- branches (WAP)

  /** A BRANCH pointer: a complete manifest published under
    * `_graft_manifest.json.branch-<name>` instead of the live pointer —
    * the write-audit-publish staging area. Invisible to every ordinary
    * reader (the live pointer is the only truth they consult); read
    * explicitly via `option("branch", name)`; made live atomically by
    * `CALL system.publish_branch` (which re-validates the base version
    * under the commit lock) or discarded by `drop_branch`. Vacuum
    * treats a branch's files as LIVE while the branch exists. */
  def branchFile(dir: String, name: String): File = {
    require(name.nonEmpty && name.forall(c =>
      c.isLetterOrDigit || c == '_' || c == '-'),
      s"graftshard: branch name '$name' must be [A-Za-z0-9_-]+")
    new File(dir, s"$ManifestName.branch-$name")
  }

  def readBranch(dir: String, name: String): Option[Manifest] =
    readManifestFile(branchFile(dir, name))

  def listBranches(dir: String): Seq[String] = {
    val prefix = s"$ManifestName.branch-"
    Option(new File(dir).listFiles()).getOrElse(Array.empty).toSeq
      .map(_.getName).filter(_.startsWith(prefix))
      .map(_.stripPrefix(prefix)).sorted
  }

  def readManifest(dir: String): Option[Manifest] =
    liveRoot(dir).flatMap { case (f, root) => readManifestParsed(f, root) }

  /** SCAN-ONLY pruned read: segments whose root-resident stat rollup
    * proves `keep` false are never parsed — `files` holds only the
    * surviving segments' entries, so plan-time driver memory is
    * O(matching segments), not O(table), under a selective pushed
    * predicate. NEVER feed the result into a commit (read-compose-
    * publish over a pruned list would drop every pruned file from the
    * table); every commit section reads its own full [[readManifest]].
    * Pre-rollup manifests and inline (non-paged) manifests degrade to
    * the full read. */
  def readManifestForScan(dir: String, keep: FileEntry => Boolean): Option[Manifest] =
    liveRoot(dir).flatMap { case (f, root) => readManifestParsed(f, root, keep) }

  /** The newest COMMITTED version: the CAS head. The version-snapshot
    * LINK is the commit ([[writeManifestImpl]]); the pointer is a
    * roll-forward hint that [[liveRoot]] repairs past, so a crash
    * between the link and the pointer refresh hides nothing. */
  private def committedVersion(dir: String): Long =
    liveRoot(dir).map(_._2.path("manifestVersion").asLong(0L)).getOrElse(-1L)

  /** Time travel: the manifest exactly as committed at `version`.
    * Every snapshot on disk at or below the head is committed by
    * construction (the link IS the commit). */
  def readManifestVersion(dir: String, version: Long): Option[Manifest] =
    if (version > committedVersion(dir)) None
    else readManifestFile(versionFile(dir, version))

  /** All COMMITTED snapshot versions present on disk, ascending,
    * ceilinged at the CAS head. */
  def listVersions(dir: String): Seq[Long] = {
    val ceiling = committedVersion(dir)
    Option(new File(dir).listFiles()).getOrElse(Array.empty).toSeq
      .map(_.getName)
      .collect { case n if n.startsWith(s"$ManifestName-v") =>
        n.stripPrefix(s"$ManifestName-v") }
      .flatMap(v => scala.util.Try(v.toLong).toOption)
      .filter(_ <= ceiling)
      .sorted
  }

  /** Lean per-file scan tuple — everything partition planning and
    * size statistics need, roughly an order of magnitude lighter than
    * [[FileEntry]] (no stats/sums/strStats/ndv maps). The currency of
    * the streaming filterless plan path: at the 1M-entry manifest
    * ceiling, retaining these instead of full entries is the
    * difference between ~hundreds of MB and tens of MB of driver
    * heap while producing the SAME input partitions. */
  final case class LeanFileEntry(
      name: String,
      bytes: Long,
      rows: Long,
      deletedRows: Long,
      partition: Option[Long],
      deletes: Option[String],
      bloom: Option[String],
      seq: Long)

  def leanOf(fe: FileEntry): LeanFileEntry =
    LeanFileEntry(fe.name, fe.bytes, fe.rows, fe.deletedRows,
      fe.partition, fe.deletes, fe.bloom, fe.seq)

  /** STREAMING scan read over a PAGED manifest: parses the root, then
    * visits every file entry of every kept segment ONE SEGMENT AT A
    * TIME — live heap O(root + one segment) plus whatever `f` retains.
    * Returns the root manifest with `files = Nil` and
    * `pagedSegments = Nil` (schema, partitioning, equality deletes,
    * resolution, properties all intact). None when the root is NOT
    * paged — inline entry lists are below [[segmentMaxEntries]] by
    * construction, so the materializing read is already bounded. Only
    * for SCANS: a commit must hold the full list (and its segment
    * provenance) to re-serialize dirty segments. */
  def streamManifestForScan(
      dir: String,
      segKeep: FileEntry => Boolean,
      f: FileEntry => Unit): Option[Manifest] = {
    val (mf, root) = liveRoot(dir) match {
      case Some(fr) => fr
      case None => return None
    }
    if (!root.has("fileSegments")) return None
    val rollups: Map[String, FileEntry] =
      readEntries(root.get("fileSegmentStats")).map(r => r.name -> r).toMap
    root.get("fileSegments").forEach { n =>
      val segName = n.asText()
      val rollup = rollups.get(segName)
      if (rollup.isEmpty || segKeep(rollup.get)) {
        val segFile = new File(mf.getParentFile, segName)
        if (!segFile.isFile)
          throw new java.io.IOException(
            s"graftshard: manifest segment '$segName' referenced by " +
              s"${mf.getName} is missing — the table directory is corrupt " +
              "or was partially copied")
        readEntries(mapper.readTree(segFile).get("files")).foreach(f)
      }
    }
    Some(parseRootMeta(root))
  }

  /** Root-only (generation, total file count) of a PAGED manifest
    * whose root carries per-segment entry counts — the streaming
    * face's per-trigger offset currency at O(root) cost. None when
    * the root is inline (small — read it) or predates the counts
    * array (stream the segments). */
  def readManifestCount(dir: String): Option[(String, Long)] = {
    val root = liveRoot(dir) match {
      case Some((_, r)) => r
      case None => return None
    }
    if (!root.has("fileSegments") || !root.has("fileSegmentCounts")) return None
    val segs = root.get("fileSegments")
    val counts = root.get("fileSegmentCounts")
    if (counts.size != segs.size) return None // drifted root: stream
    val gen = if (root.has("generation")) root.get("generation").asText() else ""
    var total = 0L
    counts.forEach(n => total += n.asLong())
    Some((gen, total))
  }

  /** Root-only read of a PAGED manifest (files = Nil): everything a
    * consumer that needs no entry list wants — schema, resolution,
    * equality deletes, properties — without parsing a single segment.
    * None when the root is inline (use readManifest; it is small). */
  def readManifestMeta(dir: String): Option[Manifest] = {
    val root = liveRoot(dir) match {
      case Some((_, r)) => r
      case None => return None
    }
    if (!root.has("fileSegments")) return None
    Some(parseRootMeta(root))
  }

  private def readManifestFile(
      f: File, segKeep: FileEntry => Boolean = null): Option[Manifest] = {
    if (!f.isFile) return None
    readManifestParsed(f, mapper.readTree(f), segKeep)
  }

  /** [[readManifestFile]] over an already-parsed root — what lets the
    * head-resolving reads ([[liveRoot]]) avoid a second JSON parse of
    * the pointer in the common fresh-pointer case. */
  private def readManifestParsed(
      f: File, root: com.fasterxml.jackson.databind.JsonNode,
      segKeep: FileEntry => Boolean = null): Option[Manifest] = {
    val meta = parseRootMeta(root)
    // inline `files` array (small tables) or `fileSegments` (paged:
    // the root lists immutable segment files in order — the full entry
    // list is their concatenation, and each segment's provenance is
    // kept for commit-time reuse)
    val (files: Seq[FileEntry], paged: Seq[PagedSegment]) =
      if (root.has("fileSegments")) {
        // root-resident per-segment rollups (absent on pre-rollup
        // manifests): parsed with the ordinary entry reader — a rollup
        // IS a synthetic FileEntry named after its segment
        val rollups: Map[String, FileEntry] =
          readEntries(root.get("fileSegmentStats")).map(r => r.name -> r).toMap
        val segs = Seq.newBuilder[PagedSegment]
        root.get("fileSegments").forEach { n =>
          val segName = n.asText()
          val rollup = rollups.get(segName)
          // scan-side pruning: a segment whose rollup proves no file
          // can match is never even OPENED (no rollup = no claim = read)
          if (segKeep == null || rollup.isEmpty || segKeep(rollup.get)) {
            val segFile = new File(f.getParentFile, segName)
            if (!segFile.isFile)
              throw new java.io.IOException(
                s"graftshard: manifest segment '$segName' referenced by " +
                  s"${f.getName} is missing — the table directory is corrupt " +
                  "or was partially copied")
            val segRoot = mapper.readTree(segFile)
            val entries = readEntries(segRoot.get("files"))
            segs += PagedSegment(segName, entries.toIndexedSeq, rollup)
          }
        }
        val all = segs.result()
        (all.flatMap(_.entries), all)
      } else (readEntries(root.get("files")), Nil)
    Some(meta.copy(files = files, pagedSegments = paged))
  }

  /** Every root-resident manifest field EXCEPT the entry list (files =
    * Nil, pagedSegments = Nil) — shared by the materializing read and
    * the streaming scan read so the two can never drift. */
  private def parseRootMeta(root: com.fasterxml.jackson.databind.JsonNode): Manifest = {
    val schema = DataType.fromJson(root.get("schema").asText()).asInstanceOf[StructType]
    val generation =
      if (root.has("generation")) root.get("generation").asText() else ""
    val partitioning: Option[PartSpec] =
      if (root.has("partitionBucket")) {
        val b = root.get("partitionBucket")
        Some(BucketPart(b.get("numBuckets").asInt(), b.get("column").asText()))
      } else if (root.has("partitionTransform")) {
        val t = root.get("partitionTransform")
        Some(TransformPart(t.get("unit").asText(), t.get("column").asText()))
      } else if (root.has("partitionColumn"))
        Some(IdentityPart(root.get("partitionColumn").asText()))
      else None
    val version = if (root.has("manifestVersion")) root.get("manifestVersion").asLong() else 0L
    val createdAt = if (root.has("createdAtMs")) root.get("createdAtMs").asLong() else 0L
    val sortedBy = if (root.has("sortedBy")) Some(root.get("sortedBy").asText()) else None
    val streamCommits = {
      val b = Map.newBuilder[String, Long]
      val sc = root.get("streamCommits")
      if (sc != null) sc.fields().forEachRemaining(e => b += e.getKey -> e.getValue.asLong())
      b.result()
    }
    val dropped = {
      val b = Seq.newBuilder[String]
      val dc = root.get("droppedColumns")
      if (dc != null) dc.forEach(n => b += n.asText())
      b.result()
    }
    val operation =
      if (root.has("operation")) root.get("operation").asText() else ""
    val compression =
      if (root.has("compression")) Some(root.get("compression").asText()) else None
    val fieldIds = {
      val b = Seq.newBuilder[Int]
      val fi = root.get("fieldIds")
      if (fi != null) fi.forEach(n => b += n.asInt())
      b.result()
    }
    val lastFieldId =
      if (root.has("lastFieldId")) root.get("lastFieldId").asInt() else 0
    val aliases = {
      val b = Map.newBuilder[String, Int]
      val al = root.get("columnAliases")
      if (al != null) al.fields().forEachRemaining(e => b += e.getKey -> e.getValue.asInt())
      b.result()
    }
    val bloomColumns = {
      val b = Seq.newBuilder[String]
      val bc = root.get("bloomColumns")
      if (bc != null) bc.forEach(n => b += n.asText())
      b.result()
    }
    val ndvColumns = {
      val b = Seq.newBuilder[String]
      val nc = root.get("ndvColumns")
      if (nc != null) nc.forEach(n => b += n.asText())
      b.result()
    }
    val equalityDeletes = {
      val b = Seq.newBuilder[EqDelete]
      val ed = root.get("equalityDeletes")
      if (ed != null) ed.forEach { n =>
        b += EqDelete(n.get("name").asText(), n.get("column").asText(),
          n.get("seq").asLong(), n.get("count").asLong())
      }
      b.result()
    }
    val zorderBy = {
      val z = root.get("zorderBy")
      if (z != null && z.size() == 2) Some((z.get(0).asText(), z.get(1).asText()))
      else None
    }
    val branchBase =
      if (root.has("branchBase")) Some(root.get("branchBase").asLong()) else None
    Manifest(schema, generation, Nil, partitioning, version,
      createdAt, sortedBy, streamCommits, dropped, operation, compression,
      fieldIds, lastFieldId, aliases, bloomColumns, ndvColumns, zorderBy,
      equalityDeletes = equalityDeletes, branchBase = branchBase,
      pagedSegments = Nil)
  }

  /** Parses one manifest `files` array (root-inline or segment file). */
  private def readEntries(arr: com.fasterxml.jackson.databind.JsonNode): Seq[FileEntry] = {
    val files = Seq.newBuilder[FileEntry]
    if (arr != null) arr.forEach { fn =>
      val present = Map.newBuilder[String, (Long, Long, Long)]
      val allNull = Map.newBuilder[String, Long]
      val sums = Map.newBuilder[String, Long]
      val strs = Map.newBuilder[String, (String, String, Long)]
      val stats = fn.get("stats")
      if (stats != null) stats.fields().forEachRemaining { e =>
        val v = e.getValue
        if (v.has("min")) {
          present += e.getKey -> ((v.get("min").asLong(), v.get("max").asLong(), v.get("nulls").asLong()))
          if (v.has("sum")) sums += e.getKey -> v.get("sum").asLong()
        }
        else if (v.has("smin"))
          strs += e.getKey -> ((v.get("smin").asText(), v.get("smax").asText(), v.get("nulls").asLong()))
        else allNull += e.getKey -> v.get("nulls").asLong()
      }
      val partition =
        if (fn.has("partition")) Some(fn.get("partition").asLong()) else None
      val deletes =
        if (fn.has("deletes")) Some(fn.get("deletes").asText()) else None
      val deletedRows =
        if (fn.has("deletedRows")) fn.get("deletedRows").asLong() else 0L
      val bloom =
        if (fn.has("bloom")) Some(fn.get("bloom").asText()) else None
      val seq = if (fn.has("seq")) fn.get("seq").asLong() else 0L
      val ndv = Map.newBuilder[String, String]
      val nd = fn.get("ndv")
      if (nd != null) nd.fields().forEachRemaining { e =>
        ndv += e.getKey -> e.getValue.asText()
      }
      val kll = Map.newBuilder[String, String]
      val kl = fn.get("kll")
      if (kl != null) kl.fields().forEachRemaining { e =>
        kll += e.getKey -> e.getValue.asText()
      }
      files += FileEntry(fn.get("name").asText(), fn.get("bytes").asLong(),
        fn.get("rows").asLong(), present.result(), allNull.result(), partition,
        deletes, deletedRows, sums.result(), strs.result(), bloom, seq,
        ndv.result(), kll.result())
    }
    files.result()
  }

  /** Atomic CAS publish. The commit's linearization point is the
    * CREATE-EXCLUSIVE of the immutable `_graft_manifest-v<version>`
    * snapshot (a hard link of the fully-written temp — POSIX link(2)
    * fails atomically on an existing target, the filesystem's
    * conditional PUT; on an object store this is a PUT with
    * If-None-Match). Exactly one committer can claim each version, so
    * lost updates are impossible WITHOUT relying on the lock lease or
    * any clock. The live pointer is then refreshed by temp+rename as a
    * roll-forward HINT — readers ([[liveRoot]]) probe past a lagging
    * pointer, so a crash between link and refresh hides nothing. Every
    * commit is time-travelable until [[GraftShardMaintenance
    * .expireSnapshots]] retires it. */
  def writeManifest(dir: String, m: Manifest): Unit =
    writeManifestImpl(dir, m, branch = None)

  /** A fresh table generation: streaming prefix offsets taken under any
    * other generation are refused. */
  def newGeneration(): String = java.util.UUID.randomUUID().toString.take(8)

  /** The one step that mints a live table version: `next`, the caller's
    * edit of `read` (the manifest it read under the commit lock), is
    * published as version `read.version + 1`, stamped now and tagged
    * `operation`. `freshGeneration` turns the generation over (entries
    * vanished, or changed content under the same names, so streaming
    * prefix offsets must die loudly); otherwise `read`'s carries.
    * Returns the manifest written. The batch write path mints its own
    * (staged chains pin their version — [[GraftShardBatchWrite]]). */
  def commitNext(dir: String, read: Manifest, next: Manifest, operation: String,
      freshGeneration: Boolean): Manifest = {
    val m = next.copy(
      version = read.version + 1,
      createdAtMs = System.currentTimeMillis(),
      generation = if (freshGeneration) newGeneration() else read.generation,
      operation = operation)
    writeManifest(dir, m)
    m
  }

  /** The live manifest a row-level commit planned against `pinned`
    * (read under the commit lock), refusing when any commit landed in
    * between: committing over another version would silently exclude a
    * concurrent append's rows from the rewrite, or resurrect
    * concurrently deleted files. `operation` and `output` name the
    * statement and its written files in the error. */
  def readPinned(dir: String, pinned: Manifest, operation: String, output: String): Manifest = {
    val current = readManifest(dir).getOrElse(
      throw new IllegalStateException(
        s"graftshard: table at '$dir' vanished during a $operation operation"))
    if (current.version != pinned.version || current.generation != pinned.generation)
      throw new IllegalStateException(
        s"graftshard: concurrent commit detected at '$dir' — the $operation " +
          s"operation planned against manifest v${pinned.version} but found " +
          s"v${current.version} at commit; re-run the statement ($output " +
          "output is unreferenced and vacuum-reclaimable)")
    current
  }

  /** Publishes `m` as BRANCH `name` — the staged (non-live) half of
    * write-audit-publish. No version snapshot, no pointer move: readers
    * of the live table cannot see it. Paged segments ARE written (the
    * staged manifest must be self-contained for audit reads and for
    * identity-reuse at publish time). */
  def writeBranch(dir: String, name: String, m: Manifest): Unit =
    writeManifestImpl(dir, m, branch = Some(name))

  private def writeManifestImpl(dir: String, m: Manifest, branch: Option[String]): Unit = {
    val om = mapper
    val root = om.createObjectNode()
    root.put("version", Version)
    root.put("schema", m.schema.json)
    root.put("generation", m.generation)
    root.put("manifestVersion", m.version)
    root.put("createdAtMs", m.createdAtMs)
    if (m.operation.nonEmpty) root.put("operation", m.operation): Unit
    m.compression.foreach(root.put("compression", _))
    if (m.fieldIds.nonEmpty) {
      require(m.fieldIds.length == m.schema.fields.length,
        s"graftshard: ${m.fieldIds.length} field ids for " +
          s"${m.schema.fields.length} schema columns — refusing to publish " +
          "a manifest whose id list has drifted from its schema")
      val fi = root.putArray("fieldIds")
      m.fieldIds.foreach(fi.add)
      root.put("lastFieldId", m.lastFieldIdOr): Unit
    }
    if (m.aliases.nonEmpty) {
      val al = root.putObject("columnAliases")
      m.aliases.foreach { case (n, id) => al.put(n, id): Unit }
    }
    if (m.bloomColumns.nonEmpty) {
      val bc = root.putArray("bloomColumns")
      m.bloomColumns.foreach(bc.add)
    }
    if (m.ndvColumns.nonEmpty) {
      val nc = root.putArray("ndvColumns")
      m.ndvColumns.foreach(nc.add)
    }
    m.zorderBy.foreach { case (a, b) =>
      val z = root.putArray("zorderBy")
      z.add(a); z.add(b): Unit
    }
    if (m.equalityDeletes.nonEmpty) {
      val ed = root.putArray("equalityDeletes")
      m.equalityDeletes.foreach { d =>
        val n = ed.addObject()
        n.put("name", d.name); n.put("column", d.column)
        n.put("seq", d.seq); n.put("count", d.count): Unit
      }
    }
    m.sortedBy.foreach(root.put("sortedBy", _))
    m.branchBase.foreach(root.put("branchBase", _))
    if (m.streamCommits.nonEmpty) {
      val sc = root.putObject("streamCommits")
      m.streamCommits.foreach { case (q, e) => sc.put(q, e): Unit }
    }
    if (m.droppedColumns.nonEmpty) {
      val dc = root.putArray("droppedColumns")
      m.droppedColumns.foreach(dc.add)
    }
    m.partitioning.foreach {
      case IdentityPart(c) => root.put("partitionColumn", c): Unit
      case BucketPart(n, c) =>
        val b = root.putObject("partitionBucket")
        b.put("numBuckets", n); b.put("column", c): Unit
      case TransformPart(u, c) =>
        val t = root.putObject("partitionTransform")
        t.put("unit", u); t.put("column", c): Unit
    }
    // file entries: inline for small tables (the readable, zero-extra-
    // file default); PAGED into immutable segment files once the list
    // outgrows a segment — the commit then re-serializes ONLY dirty
    // segments (see [[planSegments]]) and the root shrinks to a list of
    // segment names, so append cost is O(new files), not O(table)
    if (m.files.size <= segmentMaxEntries) {
      val arr: ArrayNode = root.putArray("files")
      m.files.foreach(fe => writeEntry(arr.addObject(), fe))
    } else {
      val refs = planSegments(dir, m)
      val arr: ArrayNode = root.putArray("fileSegments")
      refs.foreach { case (n, _, _) => arr.add(n): Unit }
      // per-segment stat rollups, aligned with fileSegments: what lets
      // a scan-side read SKIP parsing a whole segment when pushed
      // predicates provably cannot match any file in it
      val st: ArrayNode = root.putArray("fileSegmentStats")
      refs.foreach { case (_, r, _) => writeEntry(st.addObject(), r) }
      // per-segment ENTRY COUNTS, aligned with fileSegments: what lets
      // the streaming face's offset math (generation, file count) read
      // the ROOT ALONE per trigger instead of parsing every segment —
      // O(1) instead of O(table) at the 1M-entry ceiling
      val ct: ArrayNode = root.putArray("fileSegmentCounts")
      refs.foreach { case (_, _, c) => ct.add(c): Unit }
    }
    val bytes = om.writerWithDefaultPrettyPrinter().writeValueAsBytes(root)
    def writeTmp(): File = {
      // a full write to a temp name first: a crash mid-write must never
      // leave a truncated manifest that poisons every later
      // listVersions walk (vacuum, TIMESTAMP AS OF)
      val tmp = new File(dir, s"$ManifestName.tmp-${java.util.UUID.randomUUID()}")
      val w = new FileOutputStream(tmp)
      try w.write(bytes)
      finally w.close()
      tmp
    }
    def publish(target: File): Unit = {
      val tmp = writeTmp()
      if (!tmp.renameTo(target)) {
        tmp.delete()
        throw new java.io.IOException(
          s"graftshard: cannot publish ${target.getName} in $dir")
      }
    }
    fenceHeldLock(dir) // fast-fail: a lease-stolen section must not publish
    branch match {
      case Some(b) =>
        publish(branchFile(dir, b)) // staged: no snapshot, no pointer
      case None if m.version > 0 =>
        // CAS COMMIT POINT: hard-link the fully-written temp onto the
        // immutable snapshot path. link(2) fails atomically with EEXIST
        // when the version was already claimed — the filesystem's
        // conditional PUT (the object-store translation is a PUT with
        // If-None-Match), so two committers racing for base+1 can never
        // both land: exactly one link wins, and a committer paused past
        // the lock lease whose lock was stolen loses HERE even in the
        // microsecond window after the fence check above. The lock
        // chain remains the throughput mechanism (it serializes
        // compose work so the CAS almost never fires); this is the
        // correctness mechanism that needs no clock.
        val tmp = writeTmp()
        try {
          try java.nio.file.Files.createLink(
            versionFile(dir, m.version).toPath, tmp.toPath)
          catch {
            case _: java.nio.file.FileAlreadyExistsException =>
              throw new java.util.ConcurrentModificationException(
                s"graftshard: commit CAS lost — v${m.version} in $dir was " +
                  "already claimed by a concurrent committer (this section " +
                  "composed against a stale base: a lease steal or a cross-" +
                  "host race). Re-run the write — its data files are " +
                  "unreferenced and will be vacuumed.")
          }
        } finally { tmp.delete(); () }
        // The pointer is a ROLL-FORWARD HINT from here on: the commit
        // above is durable, so a failed refresh must neither delete the
        // snapshot (readers may already see it via [[liveRoot]]) nor
        // fail the write (the classic committed-but-reported-failed
        // ambiguity would make callers re-run and double-append).
        try publish(manifestFile(dir))
        catch {
          case scala.util.control.NonFatal(e) =>
            System.err.println(
              s"graftshard: v${m.version} committed but the pointer in " +
                s"$dir could not be refreshed (${e.getMessage}); readers " +
                "roll forward and the next commit heals it")
        }
      case None =>
        publish(manifestFile(dir)) // versionless bootstrap manifests
    }
  }

  /** One manifest entry → its JSON node (root-inline or segment). */
  private def writeEntry(fn: ObjectNode, fe: FileEntry): Unit = {
    fn.put("name", fe.name)
    fn.put("bytes", fe.bytes)
    fn.put("rows", fe.rows)
    fe.partition.foreach(fn.put("partition", _))
    fe.deletes.foreach { d =>
      fn.put("deletes", d); fn.put("deletedRows", fe.deletedRows): Unit
    }
    fe.bloom.foreach(fn.put("bloom", _))
    if (fe.seq != 0L) fn.put("seq", fe.seq): Unit
    if (fe.ndv.nonEmpty) {
      val nd = fn.putObject("ndv")
      fe.ndv.foreach { case (c, sk) => nd.put(c, sk): Unit }
    }
    if (fe.kll.nonEmpty) {
      val kl = fn.putObject("kll")
      fe.kll.foreach { case (c, sk) => kl.put(c, sk): Unit }
    }
    val st = fn.putObject("stats")
    fe.stats.foreach { case (c, (mn, mx, nl)) =>
      val cn = st.putObject(c)
      cn.put("min", mn); cn.put("max", mx); cn.put("nulls", nl)
      fe.sums.get(c).foreach(cn.put("sum", _)): Unit
    }
    fe.strStats.foreach { case (c, (mn, mx, nl)) =>
      val cn = st.putObject(c)
      cn.put("smin", mn); cn.put("smax", mx); cn.put("nulls", nl): Unit
    }
    fe.allNull.foreach { case (c, nl) => st.putObject(c).put("nulls", nl): Unit }
  }

  /** Plans the paged root's segment list for `m.files`, reusing every
    * UNTOUCHED segment of the manifest the commit was derived from and
    * writing fresh immutable segment files for everything else.
    *
    * "Untouched" is an IDENTITY check: a run of entries reuses its
    * original segment only when the segment's entire entry list appears
    * contiguously, in order, as the SAME objects ([[Manifest
    * .pagedSegments]] holds the references the reader produced). Every
    * mutation path breaks identity by construction — `fe.copy` (MoR
    * delete-vector swaps, rename re-keys), removal (compaction, CoW,
    * REPLACE WHERE, metadata DELETE) — so reuse can never publish stale
    * bytes, while the dominant commit (APPEND: `prior ++ committed`)
    * passes every prior reference through and writes exactly one new
    * segment. Segment files are written BEFORE the root publishes, so
    * an unreferenced segment from a crashed commit is plain vacuum
    * garbage no reader ever sees. */
  /** Stat rollup over one segment's entries, as a synthetic
    * [[FileEntry]] named after the segment — the shape
    * [[ShardFilters.mayContain]] already understands, so segment-level
    * pruning and file-level pruning share one proof. Conservative by
    * construction: a column appears only when EVERY entry tracks it
    * (stats or an all-null marker), so an untracked column answers
    * "may contain"; string bounds compare in UTF8String byte order,
    * the same order the per-file bounds were computed in. */
  def segmentRollup(name: String, entries: Seq[FileEntry]): FileEntry = {
    def u8le(a: String, b: String): Boolean =
      UTF8String.fromString(a).compareTo(UTF8String.fromString(b)) <= 0
    val intCols = entries.flatMap(e => e.stats.keySet ++ e.allNull.keySet).distinct
    val stats = intCols.flatMap { c =>
      val tracked = entries.forall(e => e.stats.contains(c) || e.allNull.contains(c))
      val bounded = entries.filter(_.stats.contains(c))
      if (!tracked || bounded.isEmpty) None
      else {
        val nulls = entries.map(e =>
          e.stats.get(c).map(_._3).getOrElse(e.allNull(c))).sum
        Some(c -> ((bounded.map(_.stats(c)._1).min,
          bounded.map(_.stats(c)._2).max, nulls)))
      }
    }.toMap
    val allNull = (entries.flatMap(_.allNull.keySet).distinct
      .filter(c => entries.forall(_.allNull.contains(c)))
      .map(c => c -> entries.map(_.allNull(c)).sum)).toMap
    val strCols = entries.flatMap(e => e.strStats.keySet).distinct
    val strStats = strCols.flatMap { c =>
      val tracked = entries.forall(e => e.strStats.contains(c) || e.allNull.contains(c))
      val bounded = entries.filter(_.strStats.contains(c))
      if (!tracked || bounded.isEmpty) None
      else {
        val nulls = entries.map(e =>
          e.strStats.get(c).map(_._3).getOrElse(e.allNull(c))).sum
        Some(c -> ((bounded.map(_.strStats(c)._1).reduce((a, b) => if (u8le(a, b)) a else b),
          bounded.map(_.strStats(c)._2).reduce((a, b) => if (u8le(a, b)) b else a),
          nulls)))
      }
    }.toMap
    FileEntry(name, entries.map(_.bytes).sum, entries.map(_.rows).sum,
      stats, allNull, strStats = strStats,
      deletedRows = entries.map(_.deletedRows).sum)
  }

  private def planSegments(dir: String, m: Manifest): Seq[(String, FileEntry, Int)] = {
    val files = m.files.toIndexedSeq
    val segOf = new java.util.IdentityHashMap[FileEntry, PagedSegment]()
    m.pagedSegments.foreach(s => s.entries.foreach(e => segOf.put(e, s)))
    val out = Seq.newBuilder[(String, FileEntry, Int)]
    val pending = scala.collection.mutable.ArrayBuffer.empty[FileEntry]
    def flush(): Unit = if (pending.nonEmpty) {
      val name = s"_graft_manifest-seg-${java.util.UUID.randomUUID().toString.take(12)}.json"
      val seg = mapper.createObjectNode()
      seg.put("version", Version)
      val arr = seg.putArray("files")
      pending.foreach(fe => writeEntry(arr.addObject(), fe))
      val w = new FileOutputStream(new File(dir, name))
      try w.write(mapper.writeValueAsBytes(seg))
      finally w.close()
      out += ((name, segmentRollup(name, pending.toSeq), pending.size))
      pending.clear()
    }
    var i = 0
    while (i < files.length) {
      val e = files(i)
      val s = segOf.get(e)
      val n = if (s == null) 0 else s.entries.length
      var intact = s != null && i + n <= files.length
      var j = 0
      while (intact && j < n) {
        intact = files(i + j) eq s.entries(j)
        j += 1
      }
      if (intact && n > 0) {
        flush() // preserve global order around the reused run
        // reuse the segment's recorded rollup; a pre-rollup manifest's
        // segment computes one now (entries are in memory regardless)
        out += ((s.name,
          s.rollup.getOrElse(segmentRollup(s.name, s.entries)), n))
        i += n
      } else {
        pending += e
        if (pending.size >= segmentMaxEntries) flush()
        i += 1
      }
    }
    flush()
    out.result()
  }
}
