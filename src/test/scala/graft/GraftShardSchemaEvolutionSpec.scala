package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.v2.ShardFormat

/** Schema evolution on graftshard — METADATA-ONLY in all four
  * directions, carried by the self-describing shard files: ADD COLUMN
  * null-fills old files at read time, DROP COLUMN byte-skips stored
  * bytes by the header's type tag, RENAME COLUMN edits only the
  * manifest (the file header's field ids), and widening (int→long,
  * float→double) decodes the
  * file's stored width and widens at emit. Pins: no file is rewritten,
  * time travel preserves the pre-ALTER schema and names, the
  * drop-then-re-add and rename-name-reuse resurrection traps are
  * refused via tombstones/alias reservations (released by truncate),
  * and narrowing / cross-kind type changes stay refused. */
class GraftShardSchemaEvolutionSpec extends AnyFunSuite {
  private lazy val spark = {
    val s = TestSpark.spark
    s.conf.set("spark.sql.catalog.evcat", classOf[graft.sources.v2.GraftCatalog].getName)
    s.conf.set("spark.sql.catalog.evcat.warehouse", warehouse)
    s
  }
  private lazy val warehouse = TestSpark.tempDir("graft_evolution_spec")

  private def shardSnapshot(dir: String): Map[String, Long] =
    Option(new java.io.File(dir).listFiles()).getOrElse(Array.empty)
      .filter(_.getName.endsWith(".shard"))
      .map(f => f.getName -> f.lastModified()).toMap

  test("ADD COLUMN: old files read as null, no file touched, time travel keeps the old schema") {
    spark.sql("CREATE NAMESPACE evcat.add")
    spark.sql("CREATE TABLE evcat.add.t (id BIGINT, v BIGINT) USING graftshard")
    spark.sql("INSERT INTO evcat.add.t SELECT id, id * 2 FROM range(0, 20)")
    val dir = s"$warehouse/add/t"
    val filesBefore = shardSnapshot(dir)
    val vBefore = ShardFormat.readManifest(dir).get.version
    val genBefore = ShardFormat.readManifest(dir).get.generation

    spark.sql("ALTER TABLE evcat.add.t ADD COLUMN lang STRING")
    assert(shardSnapshot(dir) == filesBefore, "ADD COLUMN must touch no file")
    val altered = ShardFormat.readManifest(dir).get
    assert(altered.operation == "alter" && altered.generation == genBefore,
      "ALTER changes no row: an alter commit that keeps streaming offsets")
    val t = spark.table("evcat.add.t")
    assert(t.schema.fieldNames.toSeq == Seq("id", "v", "lang"))
    assert(t.where(col("lang").isNull).count() == 20, "old rows read as null")

    // new rows carry the column; mixed reads and filters are sound
    spark.sql("INSERT INTO evcat.add.t VALUES (100, 200, 'en'), (101, 202, 'de')")
    assert(spark.table("evcat.add.t").count() == 22)
    assert(spark.table("evcat.add.t").where(col("lang") === "en")
      .collect().map(_.getLong(0)).toSeq == Seq(100L))
    // a filter on the new column drops old (null) rows, never errors
    assert(spark.table("evcat.add.t").where(col("lang") =!= "zz").count() == 2)

    // time travel: the pre-ALTER snapshot still has the 2-column schema
    val old = spark.sql(s"SELECT * FROM evcat.add.t VERSION AS OF $vBefore")
    assert(old.schema.fieldNames.toSeq == Seq("id", "v"))
    assert(old.count() == 20)
  }

  test("DROP COLUMN: metadata-only, bytes skipped; re-add refused (tombstone); truncate releases it") {
    spark.sql("CREATE NAMESPACE evcat.drop")
    spark.sql("CREATE TABLE evcat.drop.t (id BIGINT, junk STRING, v BIGINT) USING graftshard")
    spark.sql("INSERT INTO evcat.drop.t VALUES (1, 'a', 10), (2, 'b', 20)")
    val dir = s"$warehouse/drop/t"
    val filesBefore = shardSnapshot(dir)

    spark.sql("ALTER TABLE evcat.drop.t DROP COLUMN junk")
    assert(shardSnapshot(dir) == filesBefore, "DROP COLUMN must touch no file")
    val t = spark.table("evcat.drop.t")
    assert(t.schema.fieldNames.toSeq == Seq("id", "v"))
    assert(t.collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq ==
      Seq((1L, 10L), (2L, 20L)))

    // resurrection trap: old files still store 'junk' — re-adding the
    // name must be refused while any of them might survive
    val e = intercept[Exception] {
      spark.sql("ALTER TABLE evcat.drop.t ADD COLUMN junk STRING")
    }
    assert(e.getMessage.contains("resurrect"), e.getMessage)
    // a DIFFERENT name is fine
    spark.sql("ALTER TABLE evcat.drop.t ADD COLUMN junk2 STRING")

    // truncate replaces every file -> tombstone clears -> re-add works
    spark.sql("INSERT OVERWRITE evcat.drop.t SELECT id, id, CAST(NULL AS STRING) FROM range(0, 3)")
    assert(ShardFormat.readManifest(dir).get.droppedColumns.isEmpty)
    spark.sql("ALTER TABLE evcat.drop.t ADD COLUMN junk STRING")
    assert(spark.table("evcat.drop.t").where(col("junk").isNotNull).count() == 0,
      "no resurrected values after the truncate")
  }

  test("refusals: narrowing, name reuse, non-nullable add, dropping the partition or sort column") {
    spark.sql("CREATE NAMESPACE evcat.refuse")
    spark.sql("""CREATE TABLE evcat.refuse.t (id BIGINT, k BIGINT, v BIGINT)
      USING graftshard PARTITIONED BY (k)""")
    spark.range(0, 10).select(col("id"), (col("id") % 2).as("k"), col("id").as("v"))
      .writeTo("evcat.refuse.t").option("sortWithinShards", "id").overwrite(lit(true))

    def refused(sql: String, needle: String): Unit = {
      val e = intercept[Exception] { spark.sql(sql) }
      assert(e.getMessage.toLowerCase.contains(needle), s"$sql => ${e.getMessage}")
    }
    // narrowing is refused by Spark itself (not an up-cast) before the
    // catalog sees it; an up-cast the format cannot widen (bigint ->
    // string) reaches the catalog and is refused there
    refused("ALTER TABLE evcat.refuse.t ALTER COLUMN v TYPE INT", "not supported")
    refused("ALTER TABLE evcat.refuse.t ALTER COLUMN v TYPE STRING", "lossless")
    refused("ALTER TABLE evcat.refuse.t ADD COLUMN c BIGINT NOT NULL", "nullable")
    refused("ALTER TABLE evcat.refuse.t DROP COLUMN k", "partition column")
    refused("ALTER TABLE evcat.refuse.t DROP COLUMN id", "sort column")
    // reserved metadata names can never be taken
    refused("ALTER TABLE evcat.refuse.t RENAME COLUMN v TO _pos", "reserved")
    refused("ALTER TABLE evcat.refuse.t ADD COLUMN _shard_file STRING", "reserved")
    // name-reuse traps: a dropped column's name cannot return via RENAME
    // (old files still store its bytes under that name) ...
    spark.sql("ALTER TABLE evcat.refuse.t ADD COLUMN junk BIGINT")
    spark.sql("INSERT INTO evcat.refuse.t VALUES (100, 0, 100, 1)")
    spark.sql("ALTER TABLE evcat.refuse.t DROP COLUMN junk")
    refused("ALTER TABLE evcat.refuse.t RENAME COLUMN v TO junk", "resurrect")
    // ... and a renamed column's PAST name stays reserved against both
    // ADD and a rename of a DIFFERENT column
    spark.sql("ALTER TABLE evcat.refuse.t RENAME COLUMN v TO w")
    refused("ALTER TABLE evcat.refuse.t ADD COLUMN v BIGINT", "past name")
    refused("ALTER TABLE evcat.refuse.t RENAME COLUMN id TO v", "different column")
    // renaming BACK to a name the same column once had is fine
    spark.sql("ALTER TABLE evcat.refuse.t RENAME COLUMN w TO v")
    // the table is untouched by any of it
    assert(spark.table("evcat.refuse.t").count() == 11)
    assert(spark.table("evcat.refuse.t").where(col("v") === 100L).count() == 1)
  }

  test("RENAME COLUMN: manifest-only — old files resolve, stats re-key, time travel keeps old names") {
    spark.sql("CREATE NAMESPACE evcat.ren")
    spark.sql("""CREATE TABLE evcat.ren.t (id BIGINT, k BIGINT, score BIGINT)
      USING graftshard PARTITIONED BY (k)""")
    spark.range(0, 40).select(col("id"), (col("id") % 4).as("k"), (col("id") * 10).as("score"))
      .writeTo("evcat.ren.t").append()
    val dir = s"$warehouse/ren/t"
    val filesBefore = shardSnapshot(dir)
    val vBefore = ShardFormat.readManifest(dir).get.version

    spark.sql("ALTER TABLE evcat.ren.t RENAME COLUMN score TO points")
    assert(shardSnapshot(dir) == filesBefore, "RENAME COLUMN must touch no file")
    // pre-rename (v4-by-id / alias-by-name) files serve the new name
    val t = spark.table("evcat.ren.t")
    assert(t.schema.fieldNames.toSeq == Seq("id", "k", "points"))
    assert(t.agg(sum(col("points"))).collect()(0).getLong(0) == (0L until 40L).map(_ * 10).sum)
    // per-file stats re-keyed: skipping and pushdown still fire on the
    // NEW name with zero file reads
    val m = ShardFormat.readManifest(dir).get
    assert(m.files.forall(fe => fe.stats.contains("points") && !fe.stats.contains("score")))
    val mn = spark.table("evcat.ren.t").agg(min(col("points")), max(col("points"))).collect()(0)
    assert(mn.getLong(0) == 0L && mn.getLong(1) == 390L)

    // appends after the rename mix v4 files of both name eras
    spark.sql("INSERT INTO evcat.ren.t VALUES (1000, 0, 777)")
    assert(spark.table("evcat.ren.t").where(col("points") === 777L)
      .collect().map(_.getLong(0)).toSeq == Seq(1000L))
    assert(spark.table("evcat.ren.t").count() == 41)

    // renaming the PARTITION column follows the layout spine
    spark.sql("ALTER TABLE evcat.ren.t RENAME COLUMN k TO bucket_key")
    assert(ShardFormat.readManifest(dir).get.partitionColumn.contains("bucket_key"))
    assert(spark.table("evcat.ren.t").where(col("bucket_key") === 0L).count() == 11)

    // time travel serves the OLD names from the old snapshot
    val old = spark.sql(s"SELECT * FROM evcat.ren.t VERSION AS OF $vBefore")
    assert(old.schema.fieldNames.toSeq == Seq("id", "k", "score"))
    assert(old.count() == 40)

    // compaction (the format-upgrade path) under the post-rename schema:
    // rows identical, manifest keyed by current names
    graft.sources.v2.GraftShardMaintenance.compact(spark, dir)
    assert(spark.table("evcat.ren.t").agg(sum(col("points"))).collect()(0).getLong(0) ==
      (0L until 40L).map(_ * 10).sum + 777L)
  }

  test("ALTER COLUMN TYPE widening: old files decode stored width, new files store wide; narrowing refused") {
    spark.sql("CREATE NAMESPACE evcat.widen")
    spark.sql("CREATE TABLE evcat.widen.t (id BIGINT, n INT, x FLOAT) USING graftshard")
    spark.sql("INSERT INTO evcat.widen.t VALUES (1, 100, CAST(1.5 AS FLOAT)), (2, -7, CAST(2.5 AS FLOAT))")
    val dir = s"$warehouse/widen/t"
    val filesBefore = shardSnapshot(dir)

    spark.sql("ALTER TABLE evcat.widen.t ALTER COLUMN n TYPE BIGINT")
    spark.sql("ALTER TABLE evcat.widen.t ALTER COLUMN x TYPE DOUBLE")
    assert(shardSnapshot(dir) == filesBefore, "widening must touch no file")
    val t = spark.table("evcat.widen.t")
    assert(t.schema("n").dataType == org.apache.spark.sql.types.LongType)
    assert(t.schema("x").dataType == org.apache.spark.sql.types.DoubleType)
    // old files decode their stored 4-byte values, widened at emit
    assert(t.where(col("id") === 1L).collect()(0).getLong(1) == 100L)
    assert(t.where(col("id") === 2L).collect()(0).getDouble(2) == 2.5d)

    // post-widening appends hold values only the wide type can: both
    // eras aggregate together and integral stats stay sound (Long-based
    // min/max survive the widen — pushdown still answers from metadata)
    spark.sql(s"INSERT INTO evcat.widen.t VALUES (3, ${Long.MaxValue}, 1e300)")
    val agg = spark.table("evcat.widen.t").agg(max(col("n")), min(col("n")), max(col("x"))).collect()(0)
    assert(agg.getLong(0) == Long.MaxValue && agg.getLong(1) == -7L && agg.getDouble(2) == 1e300)
    // file skipping on the widened column: an equality on the old era's
    // range must still find its row (no pruning lie from stale stats)
    assert(spark.table("evcat.widen.t").where(col("n") === -7L).count() == 1)
    // narrowing back is refused (Spark's own up-cast rule)
    val e = intercept[Exception] {
      spark.sql("ALTER TABLE evcat.widen.t ALTER COLUMN n TYPE INT")
    }
    assert(e.getMessage.toLowerCase.contains("not supported"), e.getMessage)
  }

  test("evolved column: stats-based surfaces stay sound (no pruning lies, aggregates refuse)") {
    spark.sql("CREATE NAMESPACE evcat.stats")
    spark.sql("CREATE TABLE evcat.stats.t (id BIGINT) USING graftshard")
    spark.sql("INSERT INTO evcat.stats.t SELECT id FROM range(0, 100)")
    spark.sql("ALTER TABLE evcat.stats.t ADD COLUMN score BIGINT")
    spark.sql("INSERT INTO evcat.stats.t VALUES (1000, 7)")
    // filter on the evolved column: old files have no stats for it, so
    // they cannot be pruned — and their null rows must drop row-level
    assert(spark.table("evcat.stats.t").where(col("score") === 7L)
      .collect().map(_.getLong(0)).toSeq == Seq(1000L))
    // min/max/count(col) pushdown requires stats in EVERY file — the
    // evolved column refuses pushdown but still answers correctly
    val agg = spark.table("evcat.stats.t")
      .agg(count(col("score")).as("n"), min(col("score")).as("mn")).collect()(0)
    assert(agg.getLong(0) == 1L && agg.getLong(1) == 7L)
    assert(spark.table("evcat.stats.t").count() == 101)
  }
}
