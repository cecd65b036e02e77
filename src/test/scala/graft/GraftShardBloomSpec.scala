package graft

import java.io.File

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.v2.{GraftShardMaintenance, ShardFormat}

/** Per-file BLOOM-FILTER sidecars (`bloomColumns` table property): the
  * file-skipping tier min/max stats cannot provide — equality and IN
  * probes on UNSORTED high-cardinality columns. Every shard file gets
  * one sidecar holding a filter per configured column; the reader
  * tests absorbed equality conjuncts against it BEFORE opening the
  * shard (executor-side, one small read per file — never a driver
  * loop over sidecars).
  *
  * Load-bearing pins:
  *   - the skip is REAL: a corrupted shard file whose bloom proves
  *     absence is never opened (the query succeeds; a full scan would
  *     throw), for long, string, and IN-list probes;
  *   - the skip is SOUND: present values are always found (blooms
  *     have false positives, never false negatives — unit-pinned);
  *   - property lifecycle = compression's: recorded at first
  *     configured write, inherited by optionless appends, regenerated
  *     by compaction and row-level rewrites, re-keyed on RENAME
  *     (old sidecars resolve through the alias map), dropped with
  *     DROP COLUMN, cleared by truncate, vacuumed with its shard;
  *   - ineligible columns (float/double/bool/array) are refused at
  *     plan time with the column name. */
class GraftShardBloomSpec extends AnyFunSuite {
  private lazy val spark = {
    val s = TestSpark.spark
    s.conf.set("spark.sql.catalog.blmcat", classOf[graft.sources.v2.GraftCatalog].getName)
    s.conf.set("spark.sql.catalog.blmcat.warehouse", warehouse)
    s
  }
  private lazy val warehouse = TestSpark.tempDir("graft_bloom_spec")

  private def tmp(): String = TestSpark.tempDir("graft_bloom_spec") + "/t"

  /** Overwrites a shard file with garbage so any attempt to OPEN it
    * throws (bad magic) — the observable proof a bloom skip happened. */
  private def corrupt(dir: String, name: String): Unit = {
    val out = new java.io.FileOutputStream(new File(dir, name))
    try out.write("NOTASHRD".getBytes("US-ASCII"))
    finally out.close()
  }

  /** The two-file fixture every skip test uses: file A holds ODD ids,
    * file B EVEN ids — their min/max ranges fully overlap, so the
    * stats tier can never prune either and only the bloom can. */
  private def writeParity(dir: String): Unit = {
    val odd = spark.range(0, 500).select((col("id") * 2 + 1).as("id"))
      .select(col("id"), concat(lit("doc-"), col("id")).as("key"),
        (col("id") * 3).as("v"))
    val even = spark.range(0, 500).select((col("id") * 2).as("id"))
      .select(col("id"), concat(lit("doc-"), col("id")).as("key"),
        (col("id") * 3).as("v"))
    odd.coalesce(1).write.format("graftshard")
      .option("bloomColumns", "id,key")
      .mode("overwrite").save(dir)
    even.coalesce(1).write.format("graftshard")
      .mode("append").save(dir) // optionless: inherits the property
  }

  private def fileHolding(dir: String, idParity: Long): ShardFormat.FileEntry = {
    val m = ShardFormat.readManifest(dir).get
    m.files.find(fe => fe.stats("id")._1 % 2 == idParity).get
  }

  test("bloom unit: no false negatives, false-positive rate near target") {
    val acc = new ShardFormat.BloomAcc
    (0 until 20000).foreach(i => acc.add(ShardFormat.bloomHashLong(i.toLong * 7)))
    val b = acc.build(ShardFormat.BloomFpp).get
    (0 until 20000).foreach { i =>
      assert(b.mightContain(ShardFormat.bloomHashLong(i.toLong * 7)),
        s"false negative at ${i * 7}")
    }
    val fp = (0 until 20000).count(i =>
      b.mightContain(ShardFormat.bloomHashLong(1000000L + i)))
    assert(fp < 20000 * ShardFormat.BloomFpp * 3,
      s"$fp false positives in 20000 probes — far above the 1% target")
  }

  test("bloom unit: string hashing matches between UTF8String writes and String probes") {
    val acc = new ShardFormat.BloomAcc
    val values = Seq("en", "doc-äöü-1", "", "日本語", "x" * 300)
    values.foreach(v => acc.add(ShardFormat.bloomHashBytes(
      org.apache.spark.unsafe.types.UTF8String.fromString(v).getBytes)))
    val b = acc.build(ShardFormat.BloomFpp).get
    values.foreach { v =>
      assert(b.mightContain(ShardFormat.bloomHashBytes(
        v.getBytes(java.nio.charset.StandardCharsets.UTF_8))))
    }
  }

  test("equality on a long column skips a file the stats tier cannot (corrupt-file proof)") {
    val dir = tmp()
    writeParity(dir)
    val m = ShardFormat.readManifest(dir).get
    assert(m.bloomColumns == Seq("id", "key"),
      "first configured write records the property")
    assert(m.files.forall(_.bloom.isDefined),
      "the optionless append inherited the property (both files have sidecars)")
    // ranges overlap: stats alone cannot prune the odd file for an even id
    val odd = fileHolding(dir, 1L)
    corrupt(dir, odd.name)
    // id=500 is even: lives in the intact file; the odd file's bloom
    // proves absence, so the corrupted shard is never opened
    val rows = spark.read.format("graftshard").load(dir)
      .where(col("id") === 500L).select("id", "v").collect()
    assert(rows.map(r => (r.getLong(0), r.getLong(1))).toSeq == Seq((500L, 1500L)))
    // soundness the other way: without the corrupt file the present
    // value IS found (no false skip)
    val dir2 = tmp()
    writeParity(dir2)
    assert(spark.read.format("graftshard").load(dir2)
      .where(col("id") === 501L).count() == 1)
  }

  test("equality and IN on a string column skip through the sidecar") {
    val dir = tmp()
    writeParity(dir)
    corrupt(dir, fileHolding(dir, 1L).name)
    // string equality: doc-500 is even-file-resident
    val r1 = spark.read.format("graftshard").load(dir)
      .where(col("key") === "doc-500").select("id").collect()
    assert(r1.map(_.getLong(0)).toSeq == Seq(500L))
    // IN-list: every candidate even (absent from the odd file's bloom)
    val r2 = spark.read.format("graftshard").load(dir)
      .where(col("key").isin("doc-500", "doc-502", "doc-nope")).select("id")
      .collect().map(_.getLong(0)).sorted
    assert(r2.toSeq == Seq(500L, 502L))
    // a fully-absent IN over BOTH files: blooms prove both empty — the
    // corrupt file is still never opened
    assert(spark.read.format("graftshard").load(dir)
      .where(col("key").isin("doc-nope", "doc-nada")).count() == 0)
  }

  test("a probe with a candidate IN the corrupt file opens it and fails loudly (no wrong skip)") {
    val dir = tmp()
    writeParity(dir)
    corrupt(dir, fileHolding(dir, 1L).name)
    val e = intercept[Exception] {
      spark.read.format("graftshard").load(dir)
        .where(col("id") === 501L).collect()
    }
    def messages(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ messages(t.getCause)
    assert(messages(e).exists(_.contains("bad magic")),
      s"expected the corrupt file to be OPENED for a present-value probe: ${messages(e)}")
  }

  test("compaction regenerates sidecars; the skip keeps working on compacted files") {
    val dir = tmp()
    writeParity(dir)
    GraftShardMaintenance.compact(spark, dir)
    val m = ShardFormat.readManifest(dir).get
    assert(m.bloomColumns == Seq("id", "key"), "property survives compaction")
    assert(m.files.forall(_.bloom.isDefined), "compacted files carry fresh sidecars")
    assert(spark.read.format("graftshard").load(dir)
      .where(col("id") === 500L).count() == 1)
    // sidecars of replaced files are vacuum garbage; live ones are kept
    GraftShardMaintenance.expireSnapshots(dir, keepLast = 1)
    val vr = GraftShardMaintenance.vacuum(dir, minAgeMs = 0L)
    assert(vr.deleted.exists(_.endsWith(".bloom")),
      "replaced files' sidecars are reclaimed")
    val onDisk = Option(new File(dir).listFiles()).get.map(_.getName)
      .filter(_.endsWith(".bloom")).toSet
    assert(m.files.flatMap(_.bloom).toSet.subsetOf(onDisk),
      "live sidecars survive vacuum")
  }

  test("merge-on-read DELETE: the bloom keeps a deleted value's file candidate (false positive only) and the DV drops the row") {
    spark.sql("CREATE NAMESPACE blmcat.mor")
    spark.sql("CREATE TABLE blmcat.mor.t (id BIGINT, v BIGINT) USING graftshard " +
      "TBLPROPERTIES ('bloomColumns' = 'id')")
    spark.sql("INSERT INTO blmcat.mor.t SELECT id, id * 2 FROM range(0, 100)")
    val prev = spark.conf.getOption("spark.graftshard.rowLevel.mode")
    spark.conf.set("spark.graftshard.rowLevel.mode", "merge-on-read")
    try spark.sql("DELETE FROM blmcat.mor.t WHERE id = 50")
    finally prev match {
      case Some(v) => spark.conf.set("spark.graftshard.rowLevel.mode", v)
      case None => spark.conf.unset("spark.graftshard.rowLevel.mode")
    }
    // the sidecar still contains 50's hash — the file is opened, the
    // delete vector removes the row: zero rows, zero errors
    assert(spark.table("blmcat.mor.t").where(col("id") === 50L).count() == 0)
    assert(spark.table("blmcat.mor.t").where(col("id") === 51L).count() == 1)
    val dir = s"$warehouse/mor/t"
    val m = ShardFormat.readManifest(dir).get
    assert(m.files.forall(_.bloom.isDefined))
  }

  test("RENAME COLUMN: property re-keys; pre-rename sidecars resolve through the alias map") {
    spark.sql("CREATE NAMESPACE blmcat.ren")
    spark.sql("CREATE TABLE blmcat.ren.t (id BIGINT, v BIGINT) USING graftshard " +
      "TBLPROPERTIES ('bloomColumns' = 'id')")
    spark.sql("INSERT INTO blmcat.ren.t SELECT id * 2 + 1, id FROM range(0, 200)")
    spark.sql("INSERT INTO blmcat.ren.t SELECT id * 2, id FROM range(0, 200)")
    spark.sql("ALTER TABLE blmcat.ren.t RENAME COLUMN id TO doc_id")
    val dir = s"$warehouse/ren/t"
    val m = ShardFormat.readManifest(dir).get
    assert(m.bloomColumns == Seq("doc_id"), "property followed the rename")
    // corrupt the odd file: a probe on the NEW name over an OLD sidecar
    // (which stores the OLD name) must still prove absence via aliases
    val odd = m.files.find(fe => fe.stats("doc_id")._1 % 2 == 1).get
    corrupt(dir, odd.name)
    assert(spark.table("blmcat.ren.t").where(col("doc_id") === 100L).count() == 1)
    // inserts after the rename write sidecars under the new name
    spark.sql("INSERT INTO blmcat.ren.t VALUES (100000, 1)")
    val m2 = ShardFormat.readManifest(dir).get
    assert(m2.files.forall(_.bloom.isDefined))
    assert(spark.table("blmcat.ren.t").where(col("doc_id") === 100000L).count() == 1)
  }

  test("DROP COLUMN removes it from the property; truncate clears; explicit empty option clears for the write") {
    spark.sql("CREATE NAMESPACE blmcat.drop")
    spark.sql("CREATE TABLE blmcat.drop.t (id BIGINT, tag STRING) USING graftshard " +
      "TBLPROPERTIES ('bloomColumns' = 'id,tag')")
    spark.sql("INSERT INTO blmcat.drop.t VALUES (1, 'a'), (2, 'b')")
    spark.sql("ALTER TABLE blmcat.drop.t DROP COLUMN tag")
    val dir = s"$warehouse/drop/t"
    assert(ShardFormat.readManifest(dir).get.bloomColumns == Seq("id"))
    // truncate with an explicit empty option clears the property
    val dir2 = tmp()
    spark.range(0, 10).write.format("graftshard")
      .option("bloomColumns", "id").mode("overwrite").save(dir2)
    assert(ShardFormat.readManifest(dir2).get.bloomColumns == Seq("id"))
    spark.range(0, 10).write.format("graftshard")
      .option("bloomColumns", "").mode("overwrite").save(dir2)
    val m2 = ShardFormat.readManifest(dir2).get
    assert(m2.bloomColumns.isEmpty && m2.files.forall(_.bloom.isEmpty))
  }

  test("ineligible or unknown columns are refused at plan time") {
    val dir = tmp()
    val df = spark.range(0, 10).select(col("id"), (col("id") * 1.5).as("score"))
    val e1 = intercept[Exception] {
      df.write.format("graftshard").option("bloomColumns", "score")
        .mode("overwrite").save(dir)
    }
    assert(e1.getMessage.contains("score"))
    val e2 = intercept[Exception] {
      df.write.format("graftshard").option("bloomColumns", "nope")
        .mode("overwrite").save(dir)
    }
    assert(e2.getMessage.contains("nope"))
  }

  test("all-null and empty files produce no sidecar; null-holding columns still bloom their non-nulls") {
    val dir = tmp()
    spark.range(0, 100)
      .select(when(col("id") % 2 === 0, col("id")).as("id"), col("id").as("v"))
      .coalesce(1)
      .write.format("graftshard").option("bloomColumns", "id")
      .mode("overwrite").save(dir)
    val m = ShardFormat.readManifest(dir).get
    assert(m.files.forall(_.bloom.isDefined), "non-null values exist: sidecar written")
    assert(spark.read.format("graftshard").load(dir)
      .where(col("id") === 50L).count() == 1)
    assert(spark.read.format("graftshard").load(dir)
      .where(col("id").isNull).count() == 50, "IS NULL is untouched by blooms")
    // an all-null bloom column: no filter to write — no sidecar, no claim
    val dir2 = tmp()
    spark.range(0, 10)
      .select(lit(null).cast("long").as("id"), col("id").as("v")).coalesce(1)
      .write.format("graftshard").option("bloomColumns", "id")
      .mode("overwrite").save(dir2)
    assert(ShardFormat.readManifest(dir2).get.files.forall(_.bloom.isEmpty))
    assert(spark.read.format("graftshard").load(dir2)
      .where(col("id") === 1L).count() == 0)
  }

  test("int->long widening keeps existing sidecars valid (hashes are value-as-long)") {
    spark.sql("CREATE NAMESPACE blmcat.widen")
    spark.sql("CREATE TABLE blmcat.widen.t (id INT, v BIGINT) USING graftshard " +
      "TBLPROPERTIES ('bloomColumns' = 'id')")
    spark.sql("INSERT INTO blmcat.widen.t SELECT CAST(id * 2 + 1 AS INT), id FROM range(0, 100)")
    spark.sql("INSERT INTO blmcat.widen.t SELECT CAST(id * 2 AS INT), id FROM range(0, 100)")
    spark.sql("ALTER TABLE blmcat.widen.t ALTER COLUMN id TYPE BIGINT")
    val dir = s"$warehouse/widen/t"
    val odd = ShardFormat.readManifest(dir).get.files
      .find(fe => fe.stats("id")._1 % 2 == 1).get
    corrupt(dir, odd.name)
    // the probe literal is now a LONG; the sidecar hashed INT values —
    // both go through bloomHashLong(value), so the skip still fires
    assert(spark.table("blmcat.widen.t").where(col("id") === 100L).count() == 1)
  }
}
