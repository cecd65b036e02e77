package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Columnar batch reads ([[graft.sources.v2.GraftShardReaderFactory
  * .supportColumnarReads]]): scans decode shard row groups
  * column-at-a-time into reused vectors — INCLUDING filters, metadata
  * columns, embeddings, merge-on-read delete vectors, live equality
  * deletes, and pushed LIMITs (the row path remains only behind the
  * columnarRead=false option, which these tests use as the reference).
  * Pins: the batch path is byte-exact vs the row path across
  * every scalar type, null pattern, and chunk codec (incl. the
  * round-14 kept-encoded dictionary/RLE/delta forms and the bulk
  * whole-group decode); it ACTUALLY engages (ColumnarToRow in the
  * plan); rename and widening resolve inside the batch decode. */
class GraftShardColumnarReadSpec extends AnyFunSuite {
  private lazy val spark = {
    val s = TestSpark.spark
    s.conf.set("spark.sql.catalog.colcat", classOf[graft.sources.v2.GraftCatalog].getName)
    s.conf.set("spark.sql.catalog.colcat.warehouse", warehouse)
    s
  }
  private lazy val warehouse = Files.createTempDirectory("graft_colread_spec").toString
  import spark.implicits._

  private def tmp(): String =
    Files.createTempDirectory("graft_colread_spec").toString + "/t"

  private def plan(df: DataFrame): String = df.queryExecution.executedPlan.toString

  private def wideRows(lo: Long, n: Long) =
    spark.range(lo, lo + n).select(
      col("id"),
      when(col("id") % 7 =!= 0, col("id").cast("int")).as("i"),
      when(col("id") % 5 =!= 0, col("id") * 0.5).as("d"),
      (col("id") * 0.25).cast("float").as("fl"),
      (col("id") % 2 === 0).as("b"),
      when(col("id") % 3 =!= 0, concat(lit("s"), col("id"))).as("s"),
      encode(concat(lit("b"), col("id")), "UTF-8").as("bin"))

  test("plain scans engage the batch path and read back byte-exact across types, nulls, codecs") {
    val dir = tmp()
    wideRows(0, 400).coalesce(1)
      .write.format("graftshard").mode("overwrite").save(dir)
    wideRows(400, 300).coalesce(1)
      .write.format("graftshard").option("compression", "dict").mode("append").save(dir)
    wideRows(700, 300).coalesce(1)
      .write.format("graftshard").option("compression", "deflate").mode("append").save(dir)

    val t = spark.read.format("graftshard").load(dir)
    assert(plan(t).contains("ColumnarToRow"),
      s"plain scan must go columnar:\n${plan(t)}")
    val got = t.collect().map(r => (
      r.getLong(0),
      if (r.isNullAt(1)) null else r.getInt(1),
      if (r.isNullAt(2)) null else r.getDouble(2),
      r.getFloat(3), r.getBoolean(4),
      if (r.isNullAt(5)) null else r.getString(5),
      new String(r.getAs[Array[Byte]](6), "UTF-8"))).sortBy(_._1)
    val want = (0L until 1000L).map { id => (
      id,
      if (id % 7 == 0) null else id.toInt,
      if (id % 5 == 0) null else id * 0.5,
      (id * 0.25).toFloat, id % 2 == 0,
      if (id % 3 == 0) null else s"s$id",
      s"b$id")}
    assert(got.toSeq == want)
    // projection stays columnar and exact
    val proj = t.select("s", "i")
    assert(plan(proj).contains("ColumnarToRow"))
    assert(proj.collect().length == 1000)
  }

  test("metadata columns and LIMIT stay columnar, exact against the row path") {
    val dir = tmp()
    wideRows(0, 200).coalesce(2)
      .write.format("graftshard").mode("overwrite").save(dir)
    val t = spark.read.format("graftshard").load(dir)

    // _shard_file and _pos synthesize on the compact path
    val meta = t.select(col("_shard_file"), col("_pos"), col("id"))
    assert(plan(meta).contains("ColumnarToRow"),
      s"metadata projections must stay columnar:\n${plan(meta)}")
    def canon(df: org.apache.spark.sql.DataFrame): Seq[(String, Long, Long)] =
      df.collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).sorted.toSeq
    val got = canon(meta)
    assert(got.size == 200)
    assert(canon(spark.read.format("graftshard").option("columnarRead", "false")
      .load(dir).select(col("_shard_file"), col("_pos"), col("id"))) == got)

    // _pos stays the PHYSICAL ordinal under filtering (gaps preserved)
    val fm = t.where(col("id") % 7 === 0).select(col("_pos"), col("id"))
    assert(plan(fm).contains("ColumnarToRow"))
    val gotF = fm.collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    val wantF = spark.read.format("graftshard").option("columnarRead", "false")
      .load(dir).where(col("id") % 7 === 0).select(col("_pos"), col("id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    assert(gotF == wantF)

    // pushed LIMIT caps per partition on the batch path too
    val lim = t.limit(5)
    assert(plan(lim).contains("ColumnarToRow"),
      s"LIMIT scans must stay columnar:\n${plan(lim)}")
    assert(lim.collect().length == 5)
    assert(t.where(col("id") >= 100).limit(3).collect()
      .forall(_.getLong(0) >= 100))
  }

  test("merge-on-read delete vectors stay columnar: deselected like filter misses") {
    // enough rows to span several row groups, so the sorted-vector
    // pointer walks across batch boundaries (and group skipping under
    // an added filter still lines the ordinals up).
    // NOTE the suite-UNIQUE catalog name: suites run in parallel on one
    // shared session, and a catalog name two suites both configure is
    // CACHED with whichever warehouse initialized first — mixing its
    // table writes with this suite's direct-path reads would race
    spark.conf.set("spark.sql.catalog.colreadmor",
      classOf[graft.sources.v2.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.colreadmor.warehouse", warehouse)
    spark.sql("CREATE NAMESPACE colreadmor.mor")
    // 150k rows in one file ≈ 4.5 MB > GroupMaxBytes: several row
    // groups, so the pointer genuinely crosses batch boundaries
    spark.range(0, 150000).select(col("id"), (col("id") % 97).as("v"),
      concat(lit("s"), col("id")).as("s"))
      .coalesce(1).writeTo("colreadmor.mor.t").using("graftshard").create()
    spark.conf.set("spark.graftshard.rowLevel.mode", "merge-on-read")
    try {
      spark.sql("DELETE FROM colreadmor.mor.t WHERE id % 4 = 0")
      spark.sql("DELETE FROM colreadmor.mor.t WHERE id >= 149990") // a dense tail run
    } finally spark.conf.unset("spark.graftshard.rowLevel.mode")

    val mt = spark.table("colreadmor.mor.t")
    assert(plan(mt).contains("ColumnarToRow"),
      s"MoR scans must stay columnar:\n${plan(mt)}")
    val live = (0L until 149990L).filterNot(_ % 4 == 0)
    assert(mt.count() == live.size)
    assert(mt.agg(sum("id")).head.getLong(0) == live.sum)

    // DV + absorbed filter compose in one selection pass
    val f = mt.where(col("v") < 10)
    assert(plan(f).contains("ColumnarToRow"))
    val gotF = f.collect().map(_.getLong(0)).sorted.toSeq
    val wantF = live.filter(_ % 97 < 10)
    assert(gotF == wantF)

    // byte-exact vs the row path on the full projection
    val dir = s"$warehouse/mor/t"
    val viaRow = spark.read.format("graftshard")
      .option("columnarRead", "false").load(dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).sorted.toSeq
    val viaBatch = spark.read.format("graftshard").load(dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).sorted.toSeq
    assert(viaBatch == viaRow)
  }

  test("filtered scans stay columnar: all-match, partial, and zero-match batches equal the row path") {
    val dir = tmp()
    wideRows(0, 400).coalesce(1)
      .write.format("graftshard").mode("overwrite").save(dir)
    wideRows(400, 300).coalesce(1)
      .write.format("graftshard").option("compression", "dict").mode("append").save(dir)
    wideRows(700, 300).coalesce(1)
      .write.format("graftshard").option("compression", "deflate").mode("append").save(dir)
    val t = spark.read.format("graftshard").load(dir)
    val rowT = spark.read.format("graftshard")
      .option("columnarRead", "false").load(dir)

    // one predicate per shape: integral range (partial match), string
    // equality (sparse match), IsNull, In, StringStartsWith, and a
    // conjunction — each must engage the batch path AND agree with the
    // row path exactly
    val preds = Seq(
      col("id") >= 250L && col("id") < 800L,
      col("s") === "s124",
      col("i").isNull,
      col("id").isin(3L, 999L, 500L),
      col("s").startsWith("s99"),
      col("id") >= 100L && col("s").isNotNull && col("i") > 200)
    def canon(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.collect().map(r => (0 until r.length).map(i =>
        if (r.isNullAt(i)) "null"
        else r.get(i) match {
          case b: Array[Byte] => new String(b, "UTF-8")
          case v => v.toString
        }).mkString("|")).sorted.toSeq
    for (p <- preds) {
      val c = t.where(p)
      assert(plan(c).contains("ColumnarToRow"),
        s"filtered scan must stay columnar for $p:\n${plan(c)}")
      assert(canon(c) == canon(rowT.where(p)), s"columnar vs row mismatch for $p")
    }

    // zero-match everywhere (stats prune most; any surviving batch
    // compacts to nothing): no rows, no crash
    assert(t.where(col("id") === -5L).count() == 0)

    // filter-only column pruned from output: s is referenced by the
    // predicate but not projected
    val proj = t.where(col("s") === "s124").select("id", "d")
    assert(plan(proj).contains("ColumnarToRow"))
    assert(proj.collect().map(_.getLong(0)).toSeq == Seq(124L))
  }

  test("array<float> embeddings decode columnar, with nulls and filters") {
    val dir = tmp()
    spark.range(0, 200)
      .select(col("id"),
        when(col("id") % 9 =!= 0,
          array(col("id").cast("float"), (col("id") * 2).cast("float"))).as("v"),
        concat(lit("doc"), col("id")).as("s"))
      .coalesce(1).write.format("graftshard").mode("overwrite").save(dir)
    val t = spark.read.format("graftshard").load(dir)
    assert(plan(t).contains("ColumnarToRow"),
      s"embedding projection must engage the batch path:\n${plan(t)}")
    val got = t.collect().map(r => (
      r.getLong(0),
      if (r.isNullAt(1)) null else r.getSeq[Float](1).toList,
      r.getString(2))).sortBy(_._1)
    val want = (0L until 200L).map(id => (
      id,
      if (id % 9 == 0) null else List(id.toFloat, (id * 2).toFloat),
      s"doc$id"))
    assert(got.toSeq == want)

    // filtered embedding scan (the 100 TB curation shape): columnar,
    // exact against the row path
    val f = t.where(col("id") % 2 === 0 || col("id") < 20)
    val fc = t.where(col("id") >= 20L && col("id") < 40L)
    assert(plan(fc).contains("ColumnarToRow"))
    val a = fc.collect().map(r =>
      (r.getLong(0), if (r.isNullAt(1)) null else r.getSeq[Float](1).toList)).sortBy(_._1)
    val b = spark.read.format("graftshard").option("columnarRead", "false").load(dir)
      .where(col("id") >= 20L && col("id") < 40L).collect().map(r =>
      (r.getLong(0), if (r.isNullAt(1)) null else r.getSeq[Float](1).toList)).sortBy(_._1)
    assert(a.toSeq == b.toSeq)
    assert(f.count() == 110)
  }

  test("bloom-pruned filtered columnar scan stays exact") {
    val dir = tmp()
    spark.range(0, 300).select(col("id"), concat(lit("k"), col("id") % 50).as("k"))
      .coalesce(3).write.format("graftshard")
      .option("bloomColumns", "k").mode("overwrite").save(dir)
    val t = spark.read.format("graftshard").load(dir)
    val hit = t.where(col("k") === "k7")
    assert(plan(hit).contains("ColumnarToRow"))
    assert(hit.collect().map(_.getLong(0)).sorted.toSeq ==
      (0L until 300L).filter(_ % 50 == 7))
    assert(t.where(col("k") === "nope").count() == 0)
  }

  test("rename and int->long widening resolve inside the batch decode") {
    spark.sql("CREATE NAMESPACE colcat.evo")
    spark.sql("CREATE TABLE colcat.evo.t (id BIGINT, n INT) USING graftshard")
    spark.range(0, 100).select(col("id"), col("id").cast("int").as("n"))
      .coalesce(1).writeTo("colcat.evo.t").append()
    spark.sql("ALTER TABLE colcat.evo.t RENAME COLUMN n TO m")
    spark.sql("ALTER TABLE colcat.evo.t ALTER COLUMN m TYPE BIGINT")
    spark.range(100, 200).select(col("id"), col("id") + 3000000000L)
      .toDF("id", "m").coalesce(1).writeTo("colcat.evo.t").append()

    val t = spark.table("colcat.evo.t")
    assert(plan(t).contains("ColumnarToRow"),
      s"evolution is metadata-only — the batch path must still engage:\n${plan(t)}")
    val got = t.collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    val want = (0L until 100L).map(id => (id, id)) ++
      (100L until 200L).map(id => (id, id + 3000000000L))
    assert(got.toSeq == want)
  }

  test("equality deletes (upsert ingestion) stay columnar and match the row path") {
    val dir = tmp()
    spark.range(0, 5000).select(col("id"), (col("id") * 10).as("v"),
      concat(lit("r"), col("id")).as("s"))
      .coalesce(2).write.format("graftshard").mode("overwrite").save(dir)
    // two stacked upserts: later keys override, eq-deletes anti-filter
    // every OLDER file
    spark.range(0, 800).select(col("id"), lit(-1L).as("v"), lit("u1").as("s"))
      .coalesce(1).write.format("graftshard").option("upsertKey", "id")
      .mode("append").save(dir)
    spark.range(400, 600).select(col("id"), lit(-2L).as("v"), lit("u2").as("s"))
      .coalesce(1).write.format("graftshard").option("upsertKey", "id")
      .mode("append").save(dir)

    val t = spark.read.format("graftshard").load(dir)
    assert(plan(t).contains("ColumnarToRow"),
      s"live equality deletes must stay columnar:\n${plan(t)}")
    def canon(df: org.apache.spark.sql.DataFrame): Seq[(Long, Long, String)] =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).sorted.toSeq
    val got = canon(t)
    assert(got.size == 5000, s"${got.size}")
    assert(got.count(_._2 == -2L) == 200 && got.count(_._2 == -1L) == 600)
    assert(canon(spark.read.format("graftshard")
      .option("columnarRead", "false").load(dir)) == got)

    // eq-delete key pruned from the projection: the anti-filter still
    // needs the key value (eq-only staging column)
    val proj = t.select("v")
    assert(plan(proj).contains("ColumnarToRow"))
    assert(proj.collect().map(_.getLong(0)).count(_ == -2L) == 200)

    // filter + eq-delete compose in one selection pass
    val f = t.where(col("id") < 500)
    assert(plan(f).contains("ColumnarToRow"))
    assert(canon(f) == got.filter(_._1 < 500))
  }

  test("kept RLE/delta chunks decode direct with nulls: constant doubles/floats, run longs, delta ints, all scatter exact") {
    val dir = tmp()
    // shapes that make each codec WIN its chunk, with nulls sprinkled
    // so the dense->row-aligned scatter runs on every type:
    //  - cd/cf: constant double/float -> RLE (one run per chunk)
    //  - rl: long in few repeated runs, null every 11th -> RLE + nulls
    //  - di: increasing int, null every 7th -> delta-varint + nulls
    //  - dl: increasing long -> delta, null-free (the bulk fast path)
    spark.range(0, 120000).select(
      col("id"),
      lit(2.5).as("cd"),
      lit(1.5f).as("cf"),
      when(col("id") % 11 =!= 0,
        (col("id") / 10000L).cast("long") * 100L).as("rl"),
      when(col("id") % 7 =!= 0, col("id").cast("int")).as("di"),
      (col("id") * 3).as("dl"))
      .coalesce(1).write.format("graftshard")
      .option("compression", "dict").mode("overwrite").save(dir)

    val t = spark.read.format("graftshard").load(dir)
    val rowT = spark.read.format("graftshard")
      .option("columnarRead", "false").load(dir)
    assert(plan(t).contains("ColumnarToRow"))
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getDouble(1), r.getFloat(2),
        if (r.isNullAt(3)) null else r.getLong(3),
        if (r.isNullAt(4)) null else r.getInt(4),
        r.getLong(5))).sortBy(_._1).toSeq
    val got = canon(t)
    assert(got.size == 120000)
    assert(got == canon(rowT), "kept-codec batch decode must equal the row path")
    // decoded VALUES, not just parity
    assert(got(34) == ((34L, 2.5, 1.5f, 0L, 34, 102L)))
    assert(got(33)._4 == null) // 33 % 11 == 0
    assert(got(35)._5 == null) // 35 % 7 == 0
    assert(got(110001) == ((110001L, 2.5, 1.5f, 1100L, 110001, 330003L)))
    // aggregates over the kept columns (sum over delta ints exercises
    // the widen-free int scatter; avg over RLE doubles the fill)
    val a = t.agg(sum("di"), avg("cd"), sum("rl"), sum("dl")).head
    val b = rowT.agg(sum("di"), avg("cd"), sum("rl"), sum("dl")).head
    assert(a == b)
    // filtered: kept chunks under the selection pass (boxOf reads the
    // staged vectors the bulk fills populated)
    val f = t.where(col("rl") === 500L).count()
    assert(f == rowT.where(col("rl") === 500L).count() && f > 0)
  }

  test("dictionary-at-rest strings serve through vector dictionaries: 1B/2B ids, nulls, filters, dict+raw chunks in one scan") {
    val dir = tmp()
    // chunk shapes the codec picks differently PER CHUNK: `lo` has <256
    // distinct values (1-byte ids), `hi` has ~1200 (2-byte ids), `uniq`
    // is all-distinct (dict encoder bails -> raw within a dict write),
    // and `lo` is null every 9th row (ids exist only for non-null cells)
    def mk(a: Long, n: Long) = spark.range(a, a + n).select(
      col("id"),
      when(col("id") % 9 =!= 0, concat(lit("k"), col("id") % 50)).as("lo"),
      concat(lit("v"), col("id") % 1200).as("hi"),
      concat(lit("u"), col("id")).as("uniq"))
    // first file RAW (table default), second DICT: one scan mixes
    // dictionary-form and materialized chunks for the same columns
    mk(0, 30000).coalesce(1)
      .write.format("graftshard").mode("overwrite").save(dir)
    mk(30000, 170000).coalesce(1)
      .write.format("graftshard").option("compression", "dict")
      .mode("append").save(dir)

    val t = spark.read.format("graftshard").load(dir)
    val rowT = spark.read.format("graftshard")
      .option("columnarRead", "false").load(dir)
    assert(plan(t).contains("ColumnarToRow"),
      s"dict-at-rest scans must stay columnar:\n${plan(t)}")
    def canon(df: org.apache.spark.sql.DataFrame): Seq[(Long, String, String, String)] =
      df.collect().map(r => (r.getLong(0),
        if (r.isNullAt(1)) null else r.getString(1),
        r.getString(2), r.getString(3))).sortBy(_._1).toSeq
    val got = canon(t)
    assert(got.size == 200000)
    assert(got == canon(rowT))
    // spot-check the decoded VALUES, not just batch-vs-row agreement
    assert(got(30001) == ((30001L, s"k${30001 % 50}", s"v${30001 % 1200}", "u30001")))
    assert(got(30006)._2 == null) // 30006 % 9 == 0 -> null behind the dict

    // filters EVALUATE against dictionary-backed vectors (boxOf reads
    // through getUTF8String) and survivors COMPACT out of them
    val f = t.where(col("lo") === "k7").select(col("id"), col("hi"))
    assert(plan(f).contains("ColumnarToRow"))
    val gotF = f.collect().map(r => (r.getLong(0), r.getString(1))).sorted.toSeq
    val wantF = rowT.where(col("lo") === "k7").select(col("id"), col("hi"))
      .collect().map(r => (r.getLong(0), r.getString(1))).sorted.toSeq
    assert(gotF == wantF && gotF.nonEmpty)

    // aggregation over a dict column (the curation GROUP BY lang shape)
    val agg = t.groupBy("lo").count().collect()
      .map(r => (if (r.isNullAt(0)) null else r.getString(0), r.getLong(1))).sortBy(t => s"${t._1}").toSeq
    val aggRow = rowT.groupBy("lo").count().collect()
      .map(r => (if (r.isNullAt(0)) null else r.getString(0), r.getLong(1))).sortBy(t => s"${t._1}").toSeq
    assert(agg == aggRow)
  }

  test("dict-column predicates evaluate on the DICTIONARY DOMAIN: every pushed shape, mixed slots, nulls, raw+dict batches") {
    val dir = tmp()
    // lang: nullable, 40 distinct (domain-evaluable); src: 300 distinct
    // (second dict slot); score: numeric (never dict -> row-evaluated)
    def mk(a: Long, n: Long) = spark.range(a, a + n).select(
      col("id"),
      when(col("id") % 7 =!= 0, concat(lit("lang"), col("id") % 40)).as("lang"),
      concat(lit("s"), col("id") % 300).as("src"),
      (col("id") % 100).as("score"))
    // first file RAW: the same task must re-split domain vs row evals
    // per batch (a raw batch has no dictionary to fold onto)
    mk(0, 20000).coalesce(1)
      .write.format("graftshard").mode("overwrite").save(dir)
    mk(20000, 80000).coalesce(1)
      .write.format("graftshard").option("compression", "dict")
      .mode("append").save(dir)
    val t = spark.read.format("graftshard").load(dir)
    val rowT = spark.read.format("graftshard")
      .option("columnarRead", "false").load(dir)
    def chk(p: org.apache.spark.sql.Column, wantRows: Boolean = true): Unit = {
      val a = t.where(p).collect().map(_.toString).sorted.toSeq
      val b = rowT.where(p).collect().map(_.toString).sorted.toSeq
      assert(a == b, s"batch vs row disagree under $p")
      if (wantRows) assert(a.nonEmpty, s"vacuous check: $p matched nothing")
    }
    chk(col("lang") === "lang7")
    chk(col("lang").isin("lang1", "lang2", "lang39"))
    chk(col("lang").isNull)                             // nullOk face
    chk(col("lang").isNotNull)
    chk(col("lang") >= "lang30")                        // string range
    chk(col("lang") === "lang3" && col("src") === "s123")  // two dict slots
    chk(col("lang") === "lang3" && col("score") > 50L)  // dict + row eval
    chk(col("lang") === "never", wantRows = false)      // all-false table
  }

  test("string-key equality deletes over dict chunks test the dictionary domain, exact vs the row path") {
    val dir = tmp()
    // 500 distinct keys over 50k rows: the key column dict-encodes, so
    // the upsert's eq-delete key set folds onto the chunk dictionary
    spark.range(0, 50000).select(
      concat(lit("doc"), col("id") % 500).as("k"),
      col("id").as("v"))
      .coalesce(1).write.format("graftshard")
      .option("compression", "dict").mode("overwrite").save(dir)
    Seq(("doc7", -7L), ("doc13", -13L)).toDF("k", "v")
      .coalesce(1).write.format("graftshard")
      .option("compression", "dict").option("upsertKey", "k")
      .mode("append").save(dir)
    val t = spark.read.format("graftshard").load(dir)
    val rowT = spark.read.format("graftshard")
      .option("columnarRead", "false").load(dir)
    assert(plan(t).contains("ColumnarToRow"), plan(t))
    val got = t.collect().map(r => (r.getString(0), r.getLong(1))).sorted.toSeq
    assert(got == rowT.collect().map(r => (r.getString(0), r.getLong(1))).sorted.toSeq)
    // 100 base rows deleted per upserted key, one insert each
    assert(got.size == 50000 - 200 + 2)
    assert(got.count(_._1 == "doc7") == 1 && got.contains(("doc7", -7L)))
    // composed with a domain-evaluated filter on the same column
    val f = t.where(col("k").isin("doc7", "doc8"))
    val gotF = f.collect().map(r => (r.getString(0), r.getLong(1))).sorted.toSeq
    val wantF = rowT.where(col("k").isin("doc7", "doc8"))
      .collect().map(r => (r.getString(0), r.getLong(1))).sorted.toSeq
    assert(gotF == wantF && gotF.size == 1 + 100)
  }
}
