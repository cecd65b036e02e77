package graft


import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.v2.ShardFormat

/** Per-file NDV sketches (`ndvColumns` table property →
  * [[ShardFormat.FileEntry.ndv]] → the scan's
  * `ColumnStatistics.distinctCount`): the manifest answers the
  * planner's cardinality question — "how many DISTINCT k" — that
  * min/max and row counts cannot. Pins: the rolled-up estimate tracks
  * the exact distinct count within HLL error across multi-file tables;
  * the property rides the bloom lifecycle (inherited by appends,
  * re-keyed on rename, carried through compaction); and the headline —
  * under CBO, a GROUP BY's output is sized by its key's NDV, flipping
  * the join above it to BROADCAST where size-only estimation keeps a
  * shuffle. */
class GraftShardNdvSpec extends AnyFunSuite {
  private lazy val spark = {
    val s = TestSpark.spark
    s.conf.set("spark.sql.catalog.ndvcat", classOf[graft.sources.v2.GraftCatalog].getName)
    s.conf.set("spark.sql.catalog.ndvcat.warehouse", warehouse)
    s
  }
  private lazy val warehouse = TestSpark.tempDir("graft_ndv_spec")

  private def tmp(): String = TestSpark.tempDir("graft_ndv_spec") + "/t"

  test("rolled-up estimate tracks exact distinct counts across files and types") {
    val dir = tmp()
    // 3 files, overlapping key ranges — a SUM of per-file NDVs would
    // say 3000; the union must say ~1500
    for (i <- 0 until 3)
      spark.range(i * 500, i * 500 + 1000)
        .select(col("id"), concat(lit("u"), col("id") % 97).as("user"))
        .coalesce(1).write.format("graftshard")
        .option("ndvColumns", "id,user").mode(if (i == 0) "overwrite" else "append")
        .save(dir)
    val m = ShardFormat.readManifest(dir).get
    assert(m.ndvColumns == Seq("id", "user"))
    assert(m.files.forall(fe => fe.ndv.contains("id") && fe.ndv.contains("user")))
    val idEst = ShardFormat.ndvEstimate(m.files.map(_.ndv("id"))).get
    val userEst = ShardFormat.ndvEstimate(m.files.map(_.ndv("user"))).get
    // lgK=9 RSE is ~4.6%; 3 sigma keeps the pin deterministic
    assert(math.abs(idEst - 2000) < 2000 * 0.14, s"id NDV $idEst vs 2000")
    assert(math.abs(userEst - 97) < 10, s"user NDV $userEst vs 97")

    // property surfaces and appends inherit without the option
    spark.range(5000, 5100).select(col("id"), lit("u1").as("user"))
      .coalesce(1).write.format("graftshard").mode("append").save(dir)
    val m2 = ShardFormat.readManifest(dir).get
    assert(m2.files.forall(_.ndv.contains("id")),
      "optionless appends must inherit the property")
  }

  test("CBO sizes a GROUP BY by its key's NDV and flips the join to broadcast") {
    val dim = tmp()
    val fact = tmp()
    // dim: 1M rows, ~24 MB — far over the broadcast threshold by size,
    // but only 50 distinct keys
    spark.range(0, 1000000)
      .select((col("id") % 50).as("k"), col("id").as("v"),
        concat(lit("pad_"), col("id")).as("pad"))
      .coalesce(2).write.format("graftshard")
      .option("ndvColumns", "k").mode("overwrite").save(dim)
    // fact must ALSO be over the broadcast threshold by size, so the
    // only broadcastable relation is the NDV-sized aggregate
    spark.range(0, 1000000)
      .select((col("id") % 50).as("k"), col("id").as("m"),
        concat(lit("pad_"), col("id")).as("fpad"))
      .coalesce(2).write.format("graftshard").mode("overwrite").save(fact)

    // built fresh per toggle: logical-plan statistics are CACHED on the
    // plan nodes, so a DataFrame constructed once would keep its
    // first-computed stats across the conf flip
    def q = spark.read.format("graftshard").load(fact)
      .join(spark.read.format("graftshard").load(dim)
        .groupBy("k").agg(sum("v").as("sv")), "k")

    def planOf(cbo: Boolean): String = {
      spark.conf.set("spark.sql.cbo.enabled", cbo.toString)
      try q.queryExecution.executedPlan.toString
      finally spark.conf.set("spark.sql.cbo.enabled", "false")
    }
    val sizeOnly = planOf(cbo = false)
    assert(!sizeOnly.contains("BroadcastHashJoin"),
      s"size-only estimation must NOT broadcast the 24 MB-derived agg:\n$sizeOnly")
    val withNdv = planOf(cbo = true)
    assert(withNdv.contains("BroadcastHashJoin"),
      s"NDV(k)=50 must size the agg output at ~50 rows and broadcast:\n$withNdv")

    // results identical either way
    val a = q.collect().map(_.toString).sorted.toSeq
    spark.conf.set("spark.sql.cbo.enabled", "true")
    val b = try q.collect().map(_.toString).sorted.toSeq
    finally spark.conf.set("spark.sql.cbo.enabled", "false")
    assert(a == b)
  }

  test("filter-aware NDV: a filtered scan's distinctCount is capped by rows and by the predicate's own shape") {
    val dir = tmp()
    // 200k rows, id 0..200k (NDV(id) ~ 200k), k = id % 1000; clustered
    // id ranges so a range predicate prunes files AND bounds the span
    for (i <- 0 until 4)
      spark.range(i * 50000L, (i + 1) * 50000L)
        .select(col("id"), (col("id") % 1000).as("k"))
        .coalesce(1).write.format("graftshard")
        .option("ndvColumns", "id,k")
        .mode(if (i == 0) "overwrite" else "append").save(dir)

    import org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation
    def scanStats(df: org.apache.spark.sql.DataFrame) = {
      val scan = df.queryExecution.optimizedPlan.collectFirst {
        case r: DataSourceV2ScanRelation => r.scan
      }.get
      scan.asInstanceOf[org.apache.spark.sql.connector.read.SupportsReportStatistics]
        .estimateStatistics()
    }
    def ndvOf(st: org.apache.spark.sql.connector.read.Statistics, c: String): Option[Long] = {
      import scala.jdk.CollectionConverters._
      st.columnStats().asScala.collectFirst {
        case (ref, cs) if ref.describe() == c && cs.distinctCount().isPresent =>
          cs.distinctCount().getAsLong
      }
    }

    val t = () => spark.read.format("graftshard").load(dir)
    // unfiltered: NDV(id) ~ 200k (HLL error band)
    val full = ndvOf(scanStats(t()), "id").get
    assert(math.abs(full - 200000) < 200000 * 0.14, s"full NDV $full")

    // range filter on id: only file 0 survives (50k rows) AND the span
    // fraction bounds further — reported NDV must be <= the selection's
    // physical rows and track the 10k-value span
    val ranged = scanStats(t().where(col("id") < 10000L))
    val rNdv = ndvOf(ranged, "id").get
    assert(rNdv <= 50000, s"capped by selected files' rows: $rNdv")
    assert(rNdv <= 10000 + 1500, s"range fraction must bound the estimate: $rNdv")

    // equality on k: post-filter NDV(k) is exactly 1
    assert(ndvOf(scanStats(t().where(col("k") === 7L)), "k").contains(1L))
    // IN-list on k: bounded by the list size
    val inNdv = ndvOf(scanStats(t().where(col("k").isin(1L, 2L, 3L))), "k").get
    assert(inNdv <= 3, s"IN-list bound: $inNdv")
    // a filter on ANOTHER column must not shrink k's NDV below the
    // row cap (sound overcount retained)
    val other = ndvOf(scanStats(t().where(col("id") < 10000L)), "k").get
    assert(other <= 10000 && other >= 900, s"other-column filter: $other")
  }

  test("equi-height histograms from per-file KLL sketches reach CBO and reflect skew") {
    val dir = tmp()
    // SKEWED column: 95% of values in [0, 100), a 5% tail at 1M+ —
    // exactly where min/max-uniform selectivity is off by ~10^4
    for (i <- 0 until 2)
      spark.range(i * 100000L, (i + 1) * 100000L)
        .select(col("id"),
          when(col("id") % 20 =!= 0, col("id") % 100)
            .otherwise(col("id") % 100 + 1000000L).as("v"))
        .coalesce(1).write.format("graftshard")
        .option("ndvColumns", "v").mode(if (i == 0) "overwrite" else "append")
        .save(dir)
    val m = ShardFormat.readManifest(dir).get
    assert(m.files.forall(_.kll.contains("v")), "per-file KLL sketches must land")

    import org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation
    val df = spark.read.format("graftshard").load(dir)
    val scan = df.queryExecution.optimizedPlan.collectFirst {
      case r: DataSourceV2ScanRelation => r.scan
    }.get
    val st = scan.asInstanceOf[org.apache.spark.sql.connector.read.SupportsReportStatistics]
      .estimateStatistics()
    import scala.jdk.CollectionConverters._
    val cs = st.columnStats().asScala.collectFirst {
      case (r, c) if r.describe() == "v" => c
    }.get
    assert(cs.histogram().isPresent, "histogram must be served")
    val h = cs.histogram().get()
    assert(h.bins().length == 32)
    assert(h.height() == 200000.0 / 32)
    // bins are monotone and sit inside the column's bounds
    h.bins().foreach(b => assert(b.lo() <= b.hi()))
    assert(h.bins().head.lo() >= 0.0 && h.bins().last.hi() <= 1000099.0)
    // SKEW: >= 90% of equal-mass bins live in the dense [0, 100) range
    val dense = h.bins().count(_.hi() < 100.0)
    assert(dense >= 28, s"skew must concentrate the bins: $dense/32 dense")
    // the tail bins must reach the 1M outliers
    assert(h.bins().last.hi() >= 1000000.0)

    // catalyst consumption: under CBO the optimized plan's attribute
    // stats carry the histogram (Spark's transformV2Stats conversion)
    spark.conf.set("spark.sql.cbo.enabled", "true")
    try {
      val df2 = spark.read.format("graftshard").load(dir)
      val stats = df2.queryExecution.optimizedPlan.stats
      val vAttr = df2.queryExecution.optimizedPlan.output.find(_.name == "v").get
      val colStat = stats.attributeStats.get(vAttr)
      assert(colStat.exists(_.histogram.isDefined),
        s"catalyst ColumnStat must carry the histogram: $colStat")
    } finally spark.conf.set("spark.sql.cbo.enabled", "false")
  }

  test("lifecycle: catalog property, rename re-key, compaction carry-through") {
    spark.sql("CREATE NAMESPACE ndvcat.a")
    spark.sql("CREATE TABLE ndvcat.a.t (id BIGINT, grp STRING) USING graftshard " +
      "TBLPROPERTIES ('ndvColumns' = 'grp')")
    spark.range(0, 600).select(col("id"), concat(lit("g"), col("id") % 13).as("grp"))
      .coalesce(2).createOrReplaceTempView("ndv_src")
    spark.sql("INSERT INTO ndvcat.a.t SELECT id, grp FROM ndv_src")
    val dir = s"$warehouse/a/t"
    val m = ShardFormat.readManifest(dir).get
    assert(m.ndvColumns == Seq("grp"))
    assert(m.files.forall(_.ndv.contains("grp")))
    val props = spark.sql("SHOW TBLPROPERTIES ndvcat.a.t").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(props.get("ndvColumns").contains("grp"))

    // rename re-keys both the property and every entry's sketch map
    spark.sql("ALTER TABLE ndvcat.a.t RENAME COLUMN grp TO cohort")
    val mr = ShardFormat.readManifest(dir).get
    assert(mr.ndvColumns == Seq("cohort"))
    assert(mr.files.forall(_.ndv.contains("cohort")))
    val est = ShardFormat.ndvEstimate(mr.files.map(_.ndv("cohort"))).get
    assert(math.abs(est - 13) <= 2, s"cohort NDV $est vs 13")

    // compaction rewrites files and regenerates their sketches
    graft.sources.v2.GraftShardMaintenance.compact(spark, dir)
    val mc = ShardFormat.readManifest(dir).get
    assert(mc.files.nonEmpty && mc.files.forall(_.ndv.contains("cohort")),
      "compacted files must carry fresh sketches")
    val estC = ShardFormat.ndvEstimate(mc.files.map(_.ndv("cohort"))).get
    assert(math.abs(estC - 13) <= 2, s"post-compaction NDV $estC vs 13")
  }

  test("ANALYZE backfills sketches for an existing table as a metadata-only commit") {
    val dir = tmp()
    // created WITHOUT ndvColumns: no sketches anywhere, and a rename
    // in the history so analyze must resolve mixed-era file headers
    for (i <- 0 until 3)
      spark.range(i * 400, i * 400 + 800)
        .select(col("id"), concat(lit("u"), col("id") % 41).as("user"),
          (col("id") % 1000).cast("decimal(9,2)").as("amt"))
        .coalesce(1).write.format("graftshard")
        .mode(if (i == 0) "overwrite" else "append").save(dir)
    val before = ShardFormat.readManifest(dir).get
    assert(before.ndvColumns.isEmpty && before.files.forall(_.ndv.isEmpty))
    val fileNames = before.files.map(_.name).toSet

    val r = graft.sources.v2.GraftShardMaintenance.analyze(
      spark, dir, Seq("id", "user", "amt"))
    assert(r.filesAnalyzed == 3 && r.newVersion == before.version + 1)
    val after = ShardFormat.readManifest(dir).get
    // metadata-only: the data files are untouched, same names
    assert(after.files.map(_.name).toSet == fileNames)
    assert(after.operation == "alter" && after.generation == before.generation,
      "analyze changes no row: an alter commit that keeps streaming offsets")
    assert(after.ndvColumns.toSet == Set("id", "user", "amt"))
    assert(after.files.forall(fe => fe.ndv.contains("id") &&
      fe.ndv.contains("user") && fe.ndv.contains("amt")))
    // integral-physical columns get KLL too; decimals NDV-only
    assert(after.files.forall(_.kll.contains("id")))
    assert(after.files.forall(fe => !fe.kll.contains("user") && !fe.kll.contains("amt")))
    val idEst = ShardFormat.ndvEstimate(after.files.map(_.ndv("id"))).get
    val userEst = ShardFormat.ndvEstimate(after.files.map(_.ndv("user"))).get
    assert(math.abs(idEst - 1600) < 1600 * 0.14, s"id NDV $idEst vs 1600")
    assert(math.abs(userEst - 41) <= 5, s"user NDV $userEst vs 41")
    // the property is LIVE: an optionless append sketches itself
    spark.range(5000, 5100)
      .select(col("id"), lit("u1").as("user"),
        lit(java.math.BigDecimal.valueOf(1L)).cast("decimal(9,2)").as("amt"))
      .coalesce(1).write.format("graftshard").mode("append").save(dir)
    val m2 = ShardFormat.readManifest(dir).get
    assert(m2.files.forall(_.ndv.contains("id")),
      "appends after analyze must inherit the property")
    // re-analyze is idempotent and overwrites targeted sketches
    val r2 = graft.sources.v2.GraftShardMaintenance.analyze(spark, dir, Seq("id"))
    assert(r2.filesAnalyzed == 4)
    // refusals: unknown column, ineligible type
    val e = intercept[IllegalArgumentException] {
      graft.sources.v2.GraftShardMaintenance.analyze(spark, dir, Seq("nope"))
    }
    assert(e.getMessage.contains("not in table schema"))
    // '*' expands to every eligible column (the no-schema-knowledge
    // spelling; the SQL procedure defaults `columns` to it)
    val rStar = graft.sources.v2.GraftShardMaintenance.analyze(spark, dir, Seq("*"))
    assert(rStar.columns.toSet == Set("id", "user", "amt"), s"star: $rStar")
  }

  test("ANALYZE blooms=true backfills sidecars: retroactive point-lookup skipping (corrupt-file proof)") {
    val dir = tmp()
    // parity layout with fully overlapping ranges, created with NO
    // bloom/ndv configuration — only a backfilled bloom can prune
    spark.range(0, 500).select((col("id") * 2 + 1).as("id"))
      .select(col("id"), concat(lit("doc-"), col("id")).as("key"), (col("id") * 3).as("v"))
      .coalesce(1).write.format("graftshard").mode("overwrite").save(dir)
    spark.range(0, 500).select((col("id") * 2).as("id"))
      .select(col("id"), concat(lit("doc-"), col("id")).as("key"), (col("id") * 3).as("v"))
      .coalesce(1).write.format("graftshard").mode("append").save(dir)
    val before = ShardFormat.readManifest(dir).get
    assert(before.bloomColumns.isEmpty && before.files.forall(_.bloom.isEmpty))

    val r = graft.sources.v2.GraftShardMaintenance.analyze(
      spark, dir, Seq("id", "key"), blooms = true)
    assert(r.filesAnalyzed == 2 && r.bloomFiles == 2, s"report: $r")
    val after = ShardFormat.readManifest(dir).get
    assert(after.bloomColumns.toSet == Set("id", "key"))
    assert(after.files.forall(_.bloom.isDefined),
      "every analyzed file must reference its backfilled sidecar")
    assert(after.files.map(_.name).toSet == before.files.map(_.name).toSet,
      "no data file changes")

    // the property is live: an optionless append builds its own sidecar
    spark.range(2000, 2010)
      .select(col("id"), concat(lit("doc-"), col("id")).as("key"), (col("id") * 3).as("v"))
      .coalesce(1).write.format("graftshard").mode("append").save(dir)
    assert(ShardFormat.readManifest(dir).get.files.forall(_.bloom.isDefined))

    // MERGE: a later id-only analyze rebuilds sidecars but keeps the
    // key column's existing claims (merge, never a silent drop)
    val r2 = graft.sources.v2.GraftShardMaintenance.analyze(
      spark, dir, Seq("id"), blooms = true)
    assert(r2.bloomFiles >= 2, s"re-analyze must rebuild sidecars: $r2")

    // corrupt the odd file: lookups for values provably absent from it
    // must never open it — only the backfilled bloom can prove that
    // (the two files' id ranges fully overlap, so stats cannot)
    val odd = after.files.find(_.name == before.files.head.name).get
    val out = new java.io.FileOutputStream(new java.io.File(dir, odd.name))
    try out.write("NOTASHRD".getBytes("US-ASCII")) finally out.close()
    val rows = spark.read.format("graftshard").load(dir)
      .where(col("id") === 500L).select("id", "v").collect()
    assert(rows.map(x => (x.getLong(0), x.getLong(1))).toSeq == Seq((500L, 1500L)))
    // string probe: the key claims survived the id-only re-analyze
    val srows = spark.read.format("graftshard").load(dir)
      .where(col("key") === "doc-500").select("v").collect()
    assert(srows.map(_.getLong(0)).toSeq == Seq(1500L),
      "the key column's claims must survive a later id-only analyze")
  }
}
