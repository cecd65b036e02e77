package graft

import java.io.{BufferedOutputStream, DataOutputStream, File, FileOutputStream}
import java.nio.charset.StandardCharsets

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.v2.ShardFormat

/** Shard format v4 (columnar row groups): multi-group roundtrip,
  * delete-vector ordinals crossing group boundaries, group skipping,
  * the chunk codecs, and the reader's refusal of corrupt chunks and of
  * any file magic other than v4 — the corrupt files are hand-encoded
  * byte by byte against the format spec. */
class GraftShardColumnarSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def tmp(): String = TestSpark.tempDir("graft_columnar_spec") + "/t"

  test("multi-group roundtrip: row counts past GroupMaxRows, pruning, filters, order") {
    val dir = tmp()
    val n = ShardFormat.GroupMaxRows * 2 + 1234 // forces 3+ groups per file
    spark.range(0, n.toLong)
      .select(col("id"),
        concat(lit("p"), col("id") % 97).as("s"),
        when(col("id") % 5 =!= 0, col("id") * 3L).as("maybe"))
      .coalesce(1)
      .write.format("graftshard").mode("overwrite").save(dir)
    val t = spark.read.format("graftshard").load(dir)
    assert(t.count() == n.toLong)
    // order: physical order is write order (the _pos contract)
    val firstIds = t.select("id").limit(5).collect().map(_.getLong(0)).toSeq
    assert(firstIds == (0L until 5L))
    // values across group boundaries
    val probe = t.where(col("id").isin(0L, ShardFormat.GroupMaxRows.toLong,
        (2 * ShardFormat.GroupMaxRows + 7).toLong))
      .select("id", "s", "maybe").collect()
      .map(r => (r.getLong(0), r.getString(1), if (r.isNullAt(2)) null else r.getLong(2)))
      .toSet
    def exp(id: Long) = (id, s"p${id % 97}", if (id % 5 != 0) Long.box(id * 3) else null)
    assert(probe == Set(exp(0), exp(ShardFormat.GroupMaxRows.toLong),
      exp(2L * ShardFormat.GroupMaxRows + 7)))
    // pruned read decodes only the wanted chunk (correctness face)
    assert(t.select(sum(col("maybe"))).collect()(0).getLong(0) ==
      (0L until n.toLong).filter(_ % 5 != 0).map(_ * 3).sum)
  }

  test("delete vectors select the right physical ordinals across group boundaries") {
    val wh = TestSpark.tempDir("graft_columnar_mor")
    spark.conf.set("spark.sql.catalog.colcat", classOf[graft.sources.v2.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.colcat.warehouse", wh)
    spark.sql("CREATE NAMESPACE colcat.g")
    val n = ShardFormat.GroupMaxRows + 500
    spark.range(0, n.toLong).select(col("id"), (col("id") * 2L).as("v"))
      .coalesce(1).writeTo("colcat.g.t").using("graftshard").create()
    spark.conf.set("spark.graftshard.rowLevel.mode", "merge-on-read")
    try spark.sql(s"DELETE FROM colcat.g.t WHERE id % 3 = 1")
    finally spark.conf.unset("spark.graftshard.rowLevel.mode")
    val left = spark.table("colcat.g.t").select("id").collect().map(_.getLong(0)).toSet
    assert(left == (0L until n.toLong).filterNot(_ % 3 == 1).toSet)
  }

  test("group skipping: sorted multi-group file drops groups whole; ordinals stay exact") {
    val dir = tmp()
    val n = ShardFormat.GroupMaxRows * 3
    // sorted by id -> each group is a contiguous id range
    spark.range(0, n.toLong).select(col("id"), (col("id") * 2L).as("v"))
      .coalesce(1)
      .write.format("graftshard").mode("overwrite").save(dir)
    val m = ShardFormat.readManifest(dir).get
    val f = new java.io.File(dir, m.files.head.name)
    // direct reader: predicate matches only the LAST group's range
    val lo = 2L * ShardFormat.GroupMaxRows + 10
    val r = new ShardFormat.ShardReader(f, m.schema, Array(0, 1),
      skipGroup = gs => gs.stats.get("id").exists(_._2 < lo))
    val got = ShardReads.rows(r, 2).map { case (vals, ordinal) => (vals(0), ordinal) }
    assert(r.groupsSkipped == 2, s"expected 2 skipped groups, got ${r.groupsSkipped}")
    // first served row: ordinal = its physical position despite the gaps
    assert(got.head._2 == 2L * ShardFormat.GroupMaxRows)
    assert(got.head._1.asInstanceOf[Long] == 2L * ShardFormat.GroupMaxRows)
    assert(got.length == ShardFormat.GroupMaxRows)

    // end-to-end: absorbed range predicate over the scan gives exact
    // answers (groups before the range are dropped whole inside)
    val t = spark.read.format("graftshard").load(dir)
    val sel = t.where(col("id") >= lo).agg(count(lit(1)), min(col("id")), max(col("v")))
      .collect()(0)
    assert((sel.getLong(0), sel.getLong(1), sel.getLong(2)) ==
      ((n - lo, lo, 2L * (n - 1))))
    // the scan publishes the same count as its groupsSkipped metric
    val scan = t.where(col("id") >= lo).select("id")
    assert(scan.collect().length == n - lo)
    assert(TestSpark.scanMetric(scan, "groupsSkipped") == 2L)
  }

  test("group skipping composes with delete vectors: dv catch-up across skipped groups") {
    val wh = TestSpark.tempDir("graft_gskip_mor")
    spark.conf.set("spark.sql.catalog.gscat", classOf[graft.sources.v2.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.gscat.warehouse", wh)
    spark.sql("CREATE NAMESPACE gscat.g")
    val n = ShardFormat.GroupMaxRows * 2 + 100
    spark.range(0, n.toLong).select(col("id"), (col("id") % 13).as("v"))
      .coalesce(1).writeTo("gscat.g.t").using("graftshard").create()
    // deletes land in EVERY group, including ones a later filter skips
    spark.conf.set("spark.graftshard.rowLevel.mode", "merge-on-read")
    try spark.sql("DELETE FROM gscat.g.t WHERE id % 1000 = 3")
    finally spark.conf.unset("spark.graftshard.rowLevel.mode")
    // filter range sits in the LAST group: earlier groups (and their dv
    // ordinals) are skipped; the dv pointer must catch up, not wedge
    val lo = 2L * ShardFormat.GroupMaxRows
    val got = spark.table("gscat.g.t").where(col("id") >= lo)
      .select("id").collect().map(_.getLong(0)).toSet
    val expect = (lo until n.toLong).filterNot(_ % 1000 == 3).toSet
    assert(got == expect)
    // and without the filter: full-table dv semantics intact
    assert(spark.table("gscat.g.t").count() ==
      (0L until n.toLong).count(_ % 1000 != 3))
  }

  test("string group stats: a lang-sorted file drops groups on string predicates") {
    val dir = tmp()
    val n = ShardFormat.GroupMaxRows * 3
    // sorted by lang -> each group covers a lang sub-range
    spark.range(0, n.toLong)
      .select(col("id"),
        element_at(lit(Array("de", "en", "fr", "ja")),
          (col("id") * 4 / n + 1).cast("int")).as("lang"))
      .repartitionByRange(1, col("lang"), col("id"))
      .sortWithinPartitions("lang", "id")
      .write.format("graftshard").mode("overwrite").save(dir)
    val m = ShardFormat.readManifest(dir).get
    val f = new java.io.File(dir, m.files.head.name)
    // direct reader: lang = 'ja' can only live in the tail group(s)
    val ja = org.apache.spark.unsafe.types.UTF8String.fromString("ja")
    val r = new ShardFormat.ShardReader(f, m.schema, Array(0, 1),
      skipGroup = gs => !gs.strStats.get("lang").exists { case (mn, mx, _) =>
        ja.compareTo(org.apache.spark.unsafe.types.UTF8String.fromString(mn)) >= 0 &&
          ja.compareTo(org.apache.spark.unsafe.types.UTF8String.fromString(mx)) <= 0 })
    val served = ShardReads.rows(r, 2).size.toLong
    assert(r.groupsSkipped > 0, s"lang bounds must skip groups (served=$served)")
    assert(served < n, "some rows must be dropped with their groups")
    // end-to-end: absorbed string equality gives exact answers
    val t = spark.read.format("graftshard").load(dir)
    assert(t.where(col("lang") === "ja").count() == n.toLong - (n * 3L / 4))
    assert(t.where(col("lang") === "en").count() == (n * 2L / 4) - (n / 4))
    // groupsSkipped metric, exact: groups hold ids [0, G), [G, 2G),
    // [2G, 3G) and 'ja' is ids >= 2.25G, so only the last group can
    // match; 'de' (ids < 0.75G) only the first
    def skipped(lang: String): Long = {
      val q = t.where(col("lang") === lang).select("id")
      q.collect()
      TestSpark.scanMetric(q, "groupsSkipped")
    }
    assert(r.groupsSkipped == 2)
    assert(skipped("ja") == 2L && skipped("de") == 2L && skipped("en") == 1L)
  }

  test("opt-in chunk compression: deflate roundtrips exactly, shrinks text, skips still work") {
    val dir = tmp()
    val n = ShardFormat.GroupMaxRows + 2000 // multi-group
    val df = spark.range(0, n.toLong)
      .select(col("id"),
        // repetitive text: the corpus shape deflate pays for
        concat(lit("the quick brown fox jumps over the lazy dog "),
          col("id") % 7).as("text"),
        when(col("id") % 11 =!= 0, concat(lit("tag"), col("id") % 3)).as("maybe_s"),
        (col("id") * 2L).as("v"))
    df.coalesce(1).write.format("graftshard")
      .option("compression", "deflate").mode("overwrite").save(dir)
    val raw = tmp()
    df.coalesce(1).write.format("graftshard").mode("overwrite").save(raw)
    def bytes(d: String) = ShardFormat.readManifest(d).get.files.map(_.bytes).sum
    assert(bytes(dir) < bytes(raw) / 3,
      s"repetitive text must deflate well: ${bytes(dir)} vs ${bytes(raw)}")
    // exact roundtrip incl. nulls
    val t = spark.read.format("graftshard").load(dir)
    assert(t.count() == n.toLong)
    val probe = t.where(col("id").isin(0L, (ShardFormat.GroupMaxRows + 1).toLong))
      .collect().map(r => (r.getLong(0), r.getString(1),
        if (r.isNullAt(2)) null else r.getString(2), r.getLong(3))).toSet
    def exp(id: Long) = (id, s"the quick brown fox jumps over the lazy dog ${id % 7}",
      if (id % 11 != 0) s"tag${id % 3}" else null, id * 2)
    assert(probe == Set(exp(0), exp(ShardFormat.GroupMaxRows + 1L)))
    // group skipping still works over compressed chunks (skips skip the
    // COMPRESSED bytes — integral group stats are codec-independent)
    assert(t.where(col("id") >= (n - 100).toLong).count() == 100)
    // numerics stay raw by design even under deflate (fixed-width
    // random values don't compress — spec pins the ratio claim holds
    // because of the TEXT chunks, not magic)
    // unknown codec refuses at plan time
    val e = intercept[Exception] {
      df.limit(1).write.format("graftshard").option("compression", "zstd")
        .mode("overwrite").save(tmp())
    }
    assert(e.getMessage.contains("unknown compression"), e.getMessage)
  }

  test("a corrupt/truncated deflate chunk raises instead of spinning forever") {
    val dir = tmp()
    new File(dir).mkdirs()
    val f = new File(dir, "corrupt.shard")
    val out = new DataOutputStream(new BufferedOutputStream(new FileOutputStream(f)))
    out.write(ShardFormat.MagicV4)
    out.writeShort(1)
    out.writeByte(5); out.writeInt(1); out.writeUTF("s") // tag 5 = string, field id 1
    out.writeInt(1)    // group rows
    out.writeByte(0)   // no group stats claim
    // chunk: a VALID deflate stream truncated mid-way — the inflater
    // consumes all input, returns 0 with needsInput, finished() stays
    // false: exactly the stall the reader must turn into an IOException
    val raw = new Array[Byte](1 + 4 + 5) // bitmap + len + "hello"
    raw(0) = 0; raw(4) = 5
    "hello".getBytes(StandardCharsets.UTF_8).copyToArray(raw, 5)
    val d = new java.util.zip.Deflater(1)
    d.setInput(raw); d.finish()
    val buf = new Array[Byte](64)
    val m = d.deflate(buf); d.end()
    val truncated = java.util.Arrays.copyOf(buf, math.max(1, m / 2))
    out.writeByte(1) // codec 1 = deflate
    out.writeInt(truncated.length); out.writeInt(raw.length)
    out.write(truncated)
    out.close()
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("s", org.apache.spark.sql.types.StringType)))
    val r = new ShardFormat.ShardReader(f, schema, Array(0))
    val e = intercept[java.io.IOException] { ShardReads.rows(r, 1) }
    assert(e.getMessage.contains("short inflate"), e.getMessage)
  }

  test("non-UTF-8 string bounds drop the column's stats; the bytes still roundtrip") {
    import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
    import org.apache.spark.unsafe.types.UTF8String
    val dir = tmp()
    new File(dir).mkdirs()
    val f = new File(dir, "bin.shard")
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("bad", org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("good", org.apache.spark.sql.types.StringType)))
    val w = new ShardFormat.ShardWriter(f, schema)
    // 0xF0 alone is an invalid UTF-8 sequence: java.lang.String would
    // re-encode it as U+FFFD (0xEF 0xBF 0xBD), MISORDERING the bound
    val invalid = UTF8String.fromBytes(Array(0xF0.toByte))
    w.write(new GenericInternalRow(Array[Any](invalid, UTF8String.fromString("aa"))))
    w.write(new GenericInternalRow(Array[Any](UTF8String.fromString("ok"), UTF8String.fromString("zz"))))
    val fe = w.finish().entry
    assert(fe.rows == 2L)
    // the poisoned column claims nothing; the clean column keeps exact bounds
    assert(!fe.strStats.contains("bad"), s"strStats must drop non-UTF-8 bounds: ${fe.strStats}")
    assert(fe.strStats.get("good").map(s => (s._1, s._2)) == Some(("aa", "zz")))
    // the payload itself is byte-exact either way
    val r = new ShardFormat.ShardReader(f, schema, Array(0, 1))
    val (vals, _) = ShardReads.rows(r, 2).head
    assert(java.util.Arrays.equals(vals(0).asInstanceOf[Array[Byte]], Array(0xF0.toByte)))
  }

  test("dictionary codec: low-cardinality string chunks shrink with no inflate tax; exact roundtrip") {
    val dir = tmp()
    val raw = tmp()
    val n = ShardFormat.GroupMaxRows + 2000 // multi-group
    // lang/source: the low-cardinality skipping currency dictionary
    // encoding exists for; rnd: high-cardinality — the encoder must BAIL
    // there (DictMaxEntries), leaving the chunk raw
    val df = spark.range(0, n.toLong).select(col("id"),
      element_at(lit(Array("de", "en", "fr", "ja", "pt")),
        (col("id") % 5 + 1).cast("int")).as("lang"),
      when(col("id") % 11 =!= 0, concat(lit("src-"), col("id") % 17)).as("source"),
      md5(col("id").cast("string")).as("rnd"))
    df.coalesce(1).write.format("graftshard")
      .option("compression", "dict").mode("overwrite").save(dir)
    df.coalesce(1).write.format("graftshard").mode("overwrite").save(raw)
    def bytes(d: String) = ShardFormat.readManifest(d).get.files.map(_.bytes).sum
    assert(ShardFormat.readManifest(dir).get.compression == Some("dict"))
    // lang ~6B -> 1B and source ~9B -> 1B per row; rnd/id unchanged
    assert(bytes(dir) < bytes(raw) * 9 / 10,
      s"dict must shrink low-cardinality strings: ${bytes(dir)} vs raw ${bytes(raw)}")
    // exact roundtrip incl. nulls, across group boundaries
    val t = spark.read.format("graftshard").load(dir)
    assert(t.count() == n.toLong)
    val probe = t.where(col("id").isin(0L, (ShardFormat.GroupMaxRows + 1).toLong, 11L))
      .collect().map(r => (r.getLong(0), r.getString(1),
        if (r.isNullAt(2)) null else r.getString(2), r.getString(3))).toSet
    def md5hex(s: String) = {
      val d = java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
      d.map("%02x".format(_)).mkString
    }
    def exp(id: Long) = (id, Seq("de", "en", "fr", "ja", "pt")((id % 5).toInt),
      if (id % 11 != 0) s"src-${id % 17}" else null, md5hex(id.toString))
    assert(probe == Set(exp(0), exp(ShardFormat.GroupMaxRows + 1L), exp(11)))
    // string-stats skipping is codec-independent (stats precede encoding)
    assert(t.where(col("lang") === "ja").count() == (0L until n.toLong).count(_ % 5 == 3))
    // under "deflate" the dictionary is a CANDIDATE: smallest encoding
    // wins per chunk, so deflate mode can only be <= dict mode on the
    // dict-shaped columns and everything still roundtrips (x56's hash)
    val both = tmp()
    df.coalesce(1).write.format("graftshard")
      .option("compression", "deflate").mode("overwrite").save(both)
    assert(bytes(both) <= bytes(dir),
      s"deflate mode (dict+deflate candidates) must not lose to dict-only: " +
        s"${bytes(both)} vs ${bytes(dir)}")
    assert(spark.read.format("graftshard").load(both).count() == n.toLong)
  }

  test("RLE codec: constant/run-shaped chunks collapse; random columns bail; exact roundtrip") {
    val dir = tmp()
    val raw = tmp()
    val n = ShardFormat.GroupMaxRows + 2000 // multi-group
    // the keyed-layout shape without the keyed writer: shard_key constant
    // per sorted run, flag long runs, id strictly increasing (no runs —
    // RLE must BAIL and keep it raw), rnd high-cardinality strings
    val df = spark.range(0, n.toLong).select(
      col("id"),
      lit(7L).as("shard_key"),                       // constant: one run per group
      (col("id") >= n / 2).as("flag"),               // two runs total
      when(col("id") % 13 =!= 0, col("id") % 3).as("trit"), // short runs + nulls
      md5(col("id").cast("string")).as("rnd"))
    df.coalesce(1).write.format("graftshard")
      .option("compression", "dict").mode("overwrite").save(dir)
    df.coalesce(1).write.format("graftshard").mode("overwrite").save(raw)
    def bytes(d: String) = ShardFormat.readManifest(d).get.files.map(_.bytes).sum
    // the run-shaped columns must reclaim at least their width: shard_key
    // 8B/row -> ~12B/group and flag 1B/row -> two runs, i.e. >= 9B/row of
    // the ~61B/row total. RLE itself must BAIL on id (strictly
    // increasing), trit (cycle 0,1,2 — runs of ONE, each 4B dearer than
    // the cell) and rnd (random); id and trit then shrink further via the
    // delta-varint candidate, so the bound is a floor, not an equality
    assert(bytes(dir) <= bytes(raw) - 9L * n + 4096,
      s"RLE must collapse constant/run chunks: ${bytes(dir)} vs raw ${bytes(raw)}")
    val t = spark.read.format("graftshard").load(dir)
    assert(t.count() == n.toLong)
    // exact roundtrip at group boundaries, run boundaries, and nulls
    val probe = t.where(col("id").isin(0L, (n / 2 - 1).toLong, (n / 2).toLong,
        (ShardFormat.GroupMaxRows + 1).toLong, 13L))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2),
        if (r.isNullAt(3)) null else r.getLong(3), r.getString(4))).toSet
    def md5hex(s: String) = {
      val d = java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
      d.map("%02x".format(_)).mkString
    }
    def exp(id: Long) = (id, 7L, id >= n / 2,
      if (id % 13 != 0) java.lang.Long.valueOf(id % 3) else null, md5hex(id.toString))
    assert(probe == Set(exp(0), exp(n / 2 - 1L), exp(n / 2L),
      exp(ShardFormat.GroupMaxRows + 1L), exp(13)))
    // integral stats skipping is codec-independent (stats precede encoding)
    assert(t.where(col("shard_key") === 8L).count() == 0L)
    // a KEYED table stores its key column as pure redundancy — under
    // "dict" the RLE candidate reclaims it (one run per group)
    val keyed = tmp(); val keyedRaw = tmp()
    val kdf = spark.range(0, n.toLong)
      .select(col("id"), (col("id") % 4).as("k"), md5(col("id").cast("string")).as("rnd"))
      .repartition(col("k"))
    kdf.write.format("graftshard").option("partitionKey", "k")
      .option("compression", "dict").mode("overwrite").save(keyed)
    kdf.write.format("graftshard").option("partitionKey", "k")
      .mode("overwrite").save(keyedRaw)
    assert(bytes(keyed) < bytes(keyedRaw),
      s"keyed table: RLE must reclaim the constant key column: " +
        s"${bytes(keyed)} vs ${bytes(keyedRaw)}")
    assert(spark.read.format("graftshard").load(keyed)
      .groupBy(col("k")).count().collect().map(r => (r.getLong(0), r.getLong(1))).toSet ==
      (0L until 4L).map(k => (k, (0L until n.toLong).count(_ % 4 == k).toLong)).toSet)
  }

  test("delta-varint codec: sorted/cyclic integral chunks shrink; random values bail; exact roundtrip") {
    val dir = tmp()
    val raw = tmp()
    val n = ShardFormat.GroupMaxRows + 2000 // multi-group
    // id: sorted long (delta 1 -> 1B/value, ~8x); near: sorted with
    // nulls (bitmap + deltas over the NON-NULL subsequence); wide:
    // extreme jumps incl. Long.MIN/MAX (wrap-around arithmetic must
    // roundtrip, size may bail); rnd: random 64-bit (must bail)
    val df = spark.range(0, n.toLong).select(
      col("id"),
      when(col("id") % 7 =!= 0, col("id") * 2).as("near"),
      when(col("id") % 3 === 0, lit(Long.MinValue))
        .when(col("id") % 3 === 1, lit(Long.MaxValue))
        .otherwise(col("id")).as("wide"),
      xxhash64(col("id")).as("rnd"))
    df.coalesce(1).write.format("graftshard")
      .option("compression", "dict").mode("overwrite").save(dir)
    df.coalesce(1).write.format("graftshard").mode("overwrite").save(raw)
    def bytes(d: String) = ShardFormat.readManifest(d).get.files.map(_.bytes).sum
    // id must reclaim >= 6B/row of its 8; near similar on its non-null
    // 6/7; rnd stays full width (varints of random deltas are ~10B —
    // the encoder bails). 13B/row is a conservative floor.
    assert(bytes(dir) <= bytes(raw) - 13L * n,
      s"delta-varint must shrink sorted integral chunks: ${bytes(dir)} vs raw ${bytes(raw)}")
    val t = spark.read.format("graftshard").load(dir)
    assert(t.count() == n.toLong)
    val probe = t.where(col("id").isin(0L, 6L, 7L, (ShardFormat.GroupMaxRows + 1).toLong,
        (n - 1).toLong))
      .collect().map(r => (r.getLong(0),
        if (r.isNullAt(1)) null else java.lang.Long.valueOf(r.getLong(1)),
        r.getLong(2), r.getLong(3))).toSet
    def xxh(id: Long) = spark.range(id, id + 1).select(xxhash64(col("id")))
      .collect()(0).getLong(0)
    def exp(id: Long) = (id,
      if (id % 7 != 0) java.lang.Long.valueOf(id * 2) else null,
      if (id % 3 == 0) Long.MinValue else if (id % 3 == 1) Long.MaxValue else id,
      xxh(id))
    assert(probe == Set(exp(0), exp(6), exp(7),
      exp(ShardFormat.GroupMaxRows + 1L), exp(n - 1L)))
    // stats skipping is codec-independent (stats precede encoding):
    // an out-of-range id predicate plans ZERO files
    assert(t.where(col("id") === (n + 5).toLong).count() == 0L)
  }

  test("a corrupt delta chunk raises the corrupt-chunk error") {
    val dir = tmp()
    new File(dir).mkdirs()
    val f = new File(dir, "delta-corrupt.shard")
    val out = new DataOutputStream(new BufferedOutputStream(new FileOutputStream(f)))
    out.write(ShardFormat.MagicV4)
    out.writeShort(1)
    out.writeByte(0); out.writeInt(1); out.writeUTF("id") // tag 0 = long, field id 1
    out.writeInt(2)    // group rows
    out.writeByte(0)   // no group stats claim
    // codec 4 chunk: count says 2 longs but only one varint follows
    val payload = new java.io.ByteArrayOutputStream()
    val pd = new DataOutputStream(payload)
    pd.writeByte(0x00)  // bitmap
    pd.writeInt(2)      // two values claimed
    pd.writeByte(0x02)  // zigzag(1) = 2 -> value 1; second varint MISSING
    val p = payload.toByteArray
    out.writeByte(4); out.writeInt(p.length); out.writeInt(1 + 16)
    out.write(p)
    out.close()
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id", org.apache.spark.sql.types.LongType)))
    val r = new ShardFormat.ShardReader(f, schema, Array(0))
    val e = intercept[java.io.IOException] { ShardReads.rows(r, 1) }
    assert(e.getMessage.contains("corrupt delta chunk"), e.getMessage)
  }

  test("a corrupt RLE chunk raises the corrupt-chunk error, never a hang or silent row") {
    val dir = tmp()
    new File(dir).mkdirs()
    val f = new File(dir, "rle-corrupt.shard")
    val out = new DataOutputStream(new BufferedOutputStream(new FileOutputStream(f)))
    out.write(ShardFormat.MagicV4)
    out.writeShort(1)
    out.writeByte(0); out.writeInt(1); out.writeUTF("id") // tag 0 = long, field id 1
    out.writeInt(4)    // group rows
    out.writeByte(0)   // no group stats claim
    // codec 3 chunk claiming 4 longs (rawLen 1+32) but carrying a run
    // that overflows: repeat=9 of one long cell
    val payload = new java.io.ByteArrayOutputStream()
    val pd = new DataOutputStream(payload)
    pd.writeByte(0x00)      // bitmap (1B for 4 rows)
    pd.writeInt(1)          // one run
    pd.writeInt(9)          // repeat 9 > 4 rows -> overflow
    pd.writeLong(42L)
    val p = payload.toByteArray
    out.writeByte(3); out.writeInt(p.length); out.writeInt(1 + 32)
    out.write(p)
    out.close()
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id", org.apache.spark.sql.types.LongType)))
    val r = new ShardFormat.ShardReader(f, schema, Array(0))
    val e = intercept[java.io.IOException] { ShardReads.rows(r, 1) }
    assert(e.getMessage.contains("corrupt RLE chunk"), e.getMessage)
  }

  test("a non-shard file fails loudly with the magic error") {
    val dir = tmp()
    new File(dir).mkdirs()
    val f = new File(dir, "junk.shard")
    val w = new FileOutputStream(f); w.write("NOTSHARD".getBytes); w.close()
    val e = intercept[Exception] {
      new ShardFormat.ShardReader(f,
        org.apache.spark.sql.types.StructType(Seq.empty), Array.empty)
    }
    assert(e.getMessage.contains("bad magic"), e.getMessage)
    // the retired formats fail the same way, naming the file: a v1 file
    // (headerless) and v2/v3 files with a well-formed one-column header
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id", org.apache.spark.sql.types.LongType)))
    for (v <- 1 to 3) {
      val old = new File(dir, s"v$v.shard")
      val out = new DataOutputStream(new BufferedOutputStream(new FileOutputStream(old)))
      out.write(s"GRFTSHD$v".getBytes(StandardCharsets.US_ASCII))
      if (v > 1) { out.writeShort(1); out.writeByte(0); out.writeUTF("id") }
      out.writeByte(0x00); out.writeLong(7L) // one v1/v2 row: bitmap, value
      out.close()
      val ev = intercept[java.io.IOException] {
        new ShardFormat.ShardReader(old, schema, Array(0))
      }
      assert(ev.getMessage.contains("bad magic") &&
        ev.getMessage.contains(old.getPath) &&
        ev.getMessage.contains("only shard format v4 is read"), ev.getMessage)
    }
  }
}
