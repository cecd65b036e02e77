package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.v2.{GraftBucketFunction, ShardFormat}
import org.apache.spark.sql.types.{IntegerType, LongType, StructField, StructType}

/** The `GraftCatalog` face: SQL DDL/DML against warehouse-resident
  * graftshard tables, and the `bucket(n, col)` transform — the
  * high-cardinality storage-partitioned-join path that identity keys
  * cannot give (one file per identity value). The headline pin: two
  * tables bucketed the same way JOIN ON THE RAW ID COLUMN with zero
  * exchange. */
class GraftCatalogSpec extends AnyFunSuite {
  private lazy val spark = {
    val s = TestSpark.spark
    s.conf.set("spark.sql.catalog.graftcat", classOf[graft.sources.v2.GraftCatalog].getName)
    s.conf.set("spark.sql.catalog.graftcat.warehouse", warehouse)
    s
  }
  private lazy val warehouse = TestSpark.tempDir("graft_catalog_spec")

  private def withBucketing[A](body: => A): A = {
    val confs = Seq(
      "spark.sql.sources.v2.bucketing.enabled" -> "true",
      "spark.sql.sources.v2.bucketing.pushPartValues.enabled" -> "true",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")
    val before = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally before.foreach { case (k, v) =>
      v.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
  }

  test("DDL + DML roundtrip: create bucketed table, insert, read back, layout on disk") {
    spark.sql("CREATE NAMESPACE graftcat.corpus")
    spark.sql("""CREATE TABLE graftcat.corpus.docs (doc_id BIGINT, n_chars BIGINT)
      USING graftshard PARTITIONED BY (bucket(8, doc_id))""")
    spark.sql(
      "INSERT INTO graftcat.corpus.docs SELECT id, id * 3 FROM range(0, 100)")
    val back = spark.sql("SELECT * FROM graftcat.corpus.docs")
    assert(back.count() == 100)
    assert(back.where(col("doc_id") === 17L).collect().map(_.getLong(1)).toSeq == Seq(51L))
    val m = ShardFormat.readManifest(s"$warehouse/corpus/docs").get
    assert(m.partitioning.contains(ShardFormat.BucketPart(8, "doc_id")))
    assert(m.files.forall(_.partition.isDefined))
    assert(m.files.map(_.partition.get).toSet.subsetOf((0L until 8L).toSet))
    // SHOW TABLES sees it; DROP removes the directory
    assert(spark.sql("SHOW TABLES IN graftcat.corpus").collect()
      .exists(_.getString(1) == "docs"))
  }

  test("bucket-sorted layout: SPJ merge join on the raw id with zero Exchange AND zero Sort") {
    withBucketing {
      spark.sql("CREATE NAMESPACE IF NOT EXISTS graftcat.bsort")
      spark.sql("""CREATE TABLE graftcat.bsort.a (id BIGINT, va BIGINT)
        USING graftshard PARTITIONED BY (bucket(8, id))""")
      spark.sql("""CREATE TABLE graftcat.bsort.b (id BIGINT, vb BIGINT)
        USING graftshard PARTITIONED BY (bucket(8, id))""")
      // the bucket transform resolves through the catalog's
      // FunctionCatalog in the WRITE's RequiresDistributionAndOrdering:
      // rows arrive clustered by bucket and sorted by (bucket, id), so
      // every shard file is one sorted run on the raw id
      spark.range(0, 400).select(col("id"), (col("id") * 2L).as("va"))
        .writeTo("graftcat.bsort.a").option("sortWithinShards", "id").append()
      spark.range(100, 300).select(col("id"), (col("id") * 5L).as("vb"))
        .writeTo("graftcat.bsort.b").option("sortWithinShards", "id").append()
      val ma = ShardFormat.readManifest(s"$warehouse/bsort/a").get
      assert(ma.sortedBy.contains("id"), s"declared sort must be recorded: $ma")
      assert(ma.files.groupBy(_.partition).forall(_._2.size == 1),
        "sorted bucket write must yield one file per bucket")
      def joined() = spark.table("graftcat.bsort.a")
        .join(spark.table("graftcat.bsort.b"), "id")
        .select(col("id"), col("va"), col("vb"))
      val rows = joined().collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      assert(rows.sorted.toSeq == (100L until 300L).map(i => (i, i * 2, i * 5)))
      val live = joined().queryExecution.executedPlan.toString
        .split("== Initial Plan ==").head
      assert(live.contains("SortMergeJoin"), live)
      assert(!live.contains("Exchange"),
        s"bucket-aligned join on the raw id must not shuffle:\n$live")
      // "Sort [" is SortExec's render; SortMergeJoin's own name does not
      // match it — the at-rest layout must satisfy the merge join's
      // ordering requirement on BOTH sides
      assert(!live.contains("Sort ["),
        s"sorted bucket layout must satisfy the merge join's ordering:\n$live")

      // an UNSORTED append honestly degrades: flag cleared, Sort returns
      spark.range(400, 410).select(col("id"), (col("id") * 2L).as("va"))
        .writeTo("graftcat.bsort.a").append()
      assert(ShardFormat.readManifest(s"$warehouse/bsort/a").get.sortedBy.isEmpty)
      val degraded = joined().queryExecution.executedPlan.toString
        .split("== Initial Plan ==").head
      assert(degraded.contains("Sort ["),
        s"unsorted append must bring the Sort back:\n$degraded")
    }
  }

  test("bucketed SPJ: row-level join ON THE ID COLUMN with zero exchange") {
    withBucketing {
      spark.sql("CREATE NAMESPACE IF NOT EXISTS graftcat.spj")
      spark.sql("""CREATE TABLE graftcat.spj.a (id BIGINT, va BIGINT)
        USING graftshard PARTITIONED BY (bucket(8, id))""")
      spark.sql("""CREATE TABLE graftcat.spj.b (id BIGINT, vb BIGINT)
        USING graftshard PARTITIONED BY (bucket(8, id))""")
      spark.sql("INSERT INTO graftcat.spj.a SELECT id, id * 2 FROM range(0, 200)")
      spark.sql("INSERT INTO graftcat.spj.b SELECT id, id * 5 FROM range(100, 300)")
      val joined = spark.sql(
        """SELECT a.id, va, vb FROM graftcat.spj.a a
           JOIN graftcat.spj.b b ON a.id = b.id""")
      val rows = joined.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      assert(rows.sorted.toSeq == (100L until 200L).map(i => (i, i * 2, i * 5)))
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin"), plan)
      assert(!plan.contains("Exchange"),
        s"bucket-aligned join on the raw id must not shuffle:\n$plan")
      assert(plan.contains("keyGroupedBy=bucket(8,id)"), plan)
    }
  }

  test("STRING-bucketed SPJ: dedup-registry shape joins on the url with zero exchange") {
    withBucketing {
      spark.sql("CREATE NAMESPACE IF NOT EXISTS graftcat.strspj")
      spark.sql("""CREATE TABLE graftcat.strspj.a (url STRING, va BIGINT)
        USING graftshard PARTITIONED BY (bucket(8, url))""")
      spark.sql("""CREATE TABLE graftcat.strspj.b (url STRING, vb BIGINT)
        USING graftshard PARTITIONED BY (bucket(8, url))""")
      spark.sql("""INSERT INTO graftcat.strspj.a
        SELECT concat('https://ex.com/', id), id * 2 FROM range(0, 200)""")
      spark.sql("""INSERT INTO graftcat.strspj.b
        SELECT concat('https://ex.com/', id), id * 5 FROM range(100, 300)""")
      // every file carries exactly one bucket id; the writer's placement
      // agrees with the SQL-visible bucket(8, url) overload
      val m = ShardFormat.readManifest(s"$warehouse/strspj/a").get
      assert(m.partitioning.contains(ShardFormat.BucketPart(8, "url")))
      assert(m.files.forall(_.partition.isDefined))
      val placed = spark.sql(
        """SELECT url, graftcat.system.bucket(8, url) AS b
           FROM graftcat.strspj.a""").collect()
        .map(r => (r.getString(0), r.getInt(1))).toMap
      val byFile = spark.read.format("graftshard")
        .load(s"$warehouse/strspj/a")
        .select(col("url"), col("_shard_file")).collect()
        .map(r => (r.getString(0), r.getString(1)))
      val filePart = m.files.map(fe => fe.name -> fe.partition.get).toMap
      assert(byFile.forall { case (url, f) => filePart(f) == placed(url).toLong },
        "rows must sit in the file of their SQL-visible bucket")
      // the join on the raw string key: zero exchange
      val joined = spark.sql(
        """SELECT a.url, va, vb FROM graftcat.strspj.a a
           JOIN graftcat.strspj.b b ON a.url = b.url""")
      val rows = joined.collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      assert(rows.sorted.toSeq ==
        (100L until 200L).map(i => (s"https://ex.com/$i", i * 2, i * 5)).sorted)
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin"), plan)
      assert(!plan.contains("Exchange"),
        s"string-bucket-aligned join on the url must not shuffle:\n$plan")
      // refusal: identity partitioning stays integral-only
      val e = intercept[Exception] {
        spark.sql("""CREATE TABLE graftcat.strspj.bad (url STRING, v BIGINT)
          USING graftshard PARTITIONED BY (url)""")
      }
      assert(e.getMessage.contains("must be integral"), e.getMessage)
    }
  }

  test("one-sided bucketed join co-shuffles the unbucketed side BY OUR FUNCTION") {
    withBucketing {
      val shuffleKey = "spark.sql.sources.v2.bucketing.shuffle.enabled"
      val before = spark.conf.getOption(shuffleKey)
      spark.conf.set(shuffleKey, "true")
      try {
        spark.sql("CREATE NAMESPACE IF NOT EXISTS graftcat.oneside")
        spark.sql("""CREATE TABLE graftcat.oneside.fact (id BIGINT, v BIGINT)
          USING graftshard PARTITIONED BY (bucket(8, id))""")
        spark.sql("INSERT INTO graftcat.oneside.fact SELECT id, id * 7 FROM range(0, 160)")
        val deltaDir = warehouse + "/_delta_parquet"
        spark.range(0, 160).select(col("id"), (col("id") % 3).as("tag"))
          .write.mode("overwrite").parquet(deltaDir)
        val delta = spark.read.parquet(deltaDir)
        val joined = spark.table("graftcat.oneside.fact").join(delta, "id")
        assert(joined.count() == 160)
        val plan = joined.queryExecution.executedPlan.toString
          .split("== Initial Plan ==")(0)
        // exactly one exchange, on the parquet delta, keyed by evaluating
        // graftshard's own bucket function over the delta's id column
        assert("Exchange".r.findAllIn(plan).size == 1, plan)
        assert(plan.contains("Exchange keygroupedpartitioning"), plan)
      } finally before.fold(spark.conf.unset(shuffleKey))(spark.conf.set(shuffleKey, _))
    }
  }

  test("one-sided STRING-bucketed join co-shuffles the parquet side by our string hash") {
    withBucketing {
      val shuffleKey = "spark.sql.sources.v2.bucketing.shuffle.enabled"
      val before = spark.conf.getOption(shuffleKey)
      spark.conf.set(shuffleKey, "true")
      try {
        spark.sql("CREATE NAMESPACE IF NOT EXISTS graftcat.stroneside")
        spark.sql("""CREATE TABLE graftcat.stroneside.fact (url STRING, v BIGINT)
          USING graftshard PARTITIONED BY (bucket(8, url))""")
        spark.sql("""INSERT INTO graftcat.stroneside.fact
          SELECT concat('u', id), id * 7 FROM range(0, 160)""")
        val deltaDir = warehouse + "/_strdelta_parquet"
        spark.range(0, 160).select(concat(lit("u"), col("id")).as("url"),
          (col("id") % 3).as("tag"))
          .write.mode("overwrite").parquet(deltaDir)
        val delta = spark.read.parquet(deltaDir)
        val joined = spark.table("graftcat.stroneside.fact").join(delta, "url")
        // row-level correctness THROUGH the keyed shuffle: Spark
        // evaluated BucketStringFunction on the parquet side, so a
        // drifted hash would misroute rows and lose matches
        assert(joined.count() == 160)
        val plan = joined.queryExecution.executedPlan.toString
          .split("== Initial Plan ==")(0)
        assert("Exchange".r.findAllIn(plan).size == 1, plan)
        assert(plan.contains("Exchange keygroupedpartitioning"), plan)
      } finally before.fold(spark.conf.unset(shuffleKey))(spark.conf.set(shuffleKey, _))
    }
  }

  test("bucket function: SQL-visible values agree with the writer's placement") {
    // bind for long and int keys; negative keys land in [0, n)
    val longFn = GraftBucketFunction.bind(StructType(Seq(
      StructField("n", IntegerType), StructField("k", LongType))))
    val intFn = GraftBucketFunction.bind(StructType(Seq(
      StructField("n", IntegerType), StructField("k", IntegerType))))
    assert(longFn.resultType() == IntegerType && intFn.resultType() == IntegerType)
    for (k <- Seq(-17L, -1L, 0L, 5L, 123456789L); n <- Seq(1, 8, 64)) {
      val expected = ShardFormat.bucketOf(k, n)
      assert(expected >= 0 && expected < n)
      val viaLong = longFn.asInstanceOf[
        org.apache.spark.sql.connector.catalog.functions.ScalarFunction[Integer]]
        .produceResult(org.apache.spark.sql.catalyst.InternalRow(n, k))
      assert(viaLong == expected, s"bucket($n, $k)")
    }
    // the writer placed rows by the same function: every file's rows
    // re-hash to that file's bucket (checked via the id ranges per file)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graftcat.fnchk")
    spark.sql("""CREATE TABLE graftcat.fnchk.t (id BIGINT)
      USING graftshard PARTITIONED BY (bucket(4, id))""")
    spark.sql("INSERT INTO graftcat.fnchk.t SELECT id - 50 FROM range(0, 100)")
    val m = ShardFormat.readManifest(s"$warehouse/fnchk/t").get
    m.files.foreach { fe =>
      val b = fe.partition.get
      val (mn, mx) = (fe.stats("id")._1, fe.stats("id")._2)
      assert(ShardFormat.bucketOf(mn, 4) == b && ShardFormat.bucketOf(mx, 4) == b)
    }
  }

  test("INSERT OVERWRITE keeps the declared bucket layout") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graftcat.ow")
    spark.sql("""CREATE TABLE graftcat.ow.t (id BIGINT, v BIGINT)
      USING graftshard PARTITIONED BY (bucket(4, id))""")
    spark.sql("INSERT INTO graftcat.ow.t SELECT id, id FROM range(0, 40)")
    spark.sql("INSERT OVERWRITE graftcat.ow.t SELECT id, id * 9 FROM range(0, 20)")
    val m = ShardFormat.readManifest(s"$warehouse/ow/t").get
    assert(m.partitioning.contains(ShardFormat.BucketPart(4, "id")))
    assert(m.files.forall(_.partition.isDefined))
    assert(spark.table("graftcat.ow.t").count() == 20)
  }

  test("metadata DELETE: partition-aligned drops whole files; unaligned predicates rewrite (copy-on-write)") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graftcat.del")
    spark.sql("""CREATE TABLE graftcat.del.t (id BIGINT, k BIGINT, v BIGINT)
      USING graftshard PARTITIONED BY (k)""")
    spark.sql("INSERT INTO graftcat.del.t SELECT id, id % 4, id * 7 FROM range(0, 100)")
    val dir = s"$warehouse/del/t"
    val before = ShardFormat.readManifest(dir).get
    val genBefore = before.generation
    val nFilesBefore = before.files.size

    // one key = whole files, provable from min==max stats: metadata drop
    spark.sql("DELETE FROM graftcat.del.t WHERE k = 1")
    val after = ShardFormat.readManifest(dir).get
    assert(spark.table("graftcat.del.t").count() == 75)
    assert(spark.table("graftcat.del.t").where(col("k") === 1L).count() == 0)
    assert(after.files.size < nFilesBefore)
    // dropped entries leave garbage for vacuum, never touched inline
    assert(new java.io.File(dir).listFiles().count(_.getName.endsWith(".shard")) == nFilesBefore)
    // prefix offsets died with the entries: generation must change
    assert(after.generation != genBefore)

    // a predicate that splits files needs a row rewrite — served by the
    // copy-on-write tier (GraftShardRowLevelSpec pins its mechanics)
    spark.sql("DELETE FROM graftcat.del.t WHERE v > 10")
    assert(spark.table("graftcat.del.t").count() ==
      (0L until 100L).count(id => id % 4 != 1 && id * 7 <= 10))
    assert(spark.table("graftcat.del.t").where(col("v") > 10L).count() == 0)

    // unqualified DELETE (and SQL TRUNCATE) drop everything
    spark.sql("DELETE FROM graftcat.del.t")
    assert(spark.table("graftcat.del.t").count() == 0)
    assert(ShardFormat.readManifest(dir).get.files.isEmpty)
  }

  test("REPLACE WHERE: metadata-only partition replacement; violations fail loudly") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graftcat.rw")
    spark.sql("""CREATE TABLE graftcat.rw.t (id BIGINT, k BIGINT, v BIGINT)
      USING graftshard PARTITIONED BY (k)""")
    spark.sql("INSERT INTO graftcat.rw.t SELECT id, id % 4, id FROM range(0, 100)")
    val dir = s"$warehouse/rw/t"
    val genBefore = ShardFormat.readManifest(dir).get.generation

    // replace ONE key's files with recomputed rows: the other keys'
    // files are untouched manifest entries
    spark.sql("""INSERT INTO graftcat.rw.t REPLACE WHERE k = 2
      SELECT id, 2L, id * 100 FROM range(0, 10)""")
    val t = spark.table("graftcat.rw.t")
    assert(t.count() == 85) // 75 untouched + 10 replacement rows
    assert(t.where(col("k") === 2L).agg(sum("v")).collect()(0).getLong(0) ==
      (0L until 10L).map(_ * 100).sum)
    assert(t.where(col("k") =!= 2L).agg(sum("v")).collect()(0).getLong(0) ==
      (0L until 100L).filter(_ % 4 != 2).sum)
    // replaced entries invalidate prefix offsets: generation changed
    assert(ShardFormat.readManifest(dir).get.generation != genBefore)

    // unprovable predicate (splits files) is refused
    val e = intercept[Exception] {
      spark.sql("""INSERT INTO graftcat.rw.t REPLACE WHERE v > 10
        SELECT id, id % 4, id FROM range(0, 5)""")
    }
    assert(e.getMessage.toLowerCase.contains("replace") ||
      e.getMessage.toLowerCase.contains("overwrite"), e.getMessage)

    // a provable violation — replacement rows that provably do NOT
    // match the predicate — fails the commit instead of landing
    val bad = intercept[Exception] {
      spark.sql("""INSERT INTO graftcat.rw.t REPLACE WHERE k = 1
        SELECT id, 3L, id FROM range(0, 5)""")
    }
    def messages(x: Throwable): Seq[String] =
      Option(x).toSeq.flatMap(y => Option(y.getMessage).toSeq ++ messages(y.getCause))
    assert(messages(bad).exists(_.contains("REPLACE WHERE violation")), bad.getMessage)
    assert(spark.table("graftcat.rw.t").count() == 85, "failed replace must change nothing")

    // a STRADDLING file — some rows in the region, some out — must fail
    // too, not just a provably-no-match one: committed rows outside the
    // region would survive a re-run of the same replacement and leave
    // the file opaque to every later metadata-only mutation
    spark.sql("CREATE TABLE graftcat.rw.s (id BIGINT, v BIGINT) USING graftshard")
    spark.sql("INSERT INTO graftcat.rw.s SELECT id, id FROM range(0, 200)")
    val straddle = intercept[Exception] {
      // one task → one file spanning ids 50..149, region is id < 100
      spark.range(50, 150).coalesce(1)
        .select(col("id"), (col("id") * 2L).as("v"))
        .writeTo("graftcat.rw.s").overwrite(col("id") < 100L)
    }
    assert(messages(straddle).exists(m =>
      m.contains("REPLACE WHERE violation") && m.contains("outside")), straddle.getMessage)
    assert(spark.table("graftcat.rw.s").count() == 200, "failed replace must change nothing")
    // the all-inside replacement commits fine
    spark.range(0, 60).coalesce(1).select(col("id"), (col("id") * 2L).as("v"))
      .writeTo("graftcat.rw.s").overwrite(col("id") < 100L)
    assert(spark.table("graftcat.rw.s").count() == 160) // 100 replaced by 60
  }

  test("DROP NAMESPACE: non-empty without CASCADE raises Spark's catalog error; cascade removes") {
    spark.sql("CREATE NAMESPACE graftcat.dropns")
    spark.sql("CREATE TABLE graftcat.dropns.t (id BIGINT) USING graftshard")
    val e = intercept[Exception] { spark.sql("DROP NAMESPACE graftcat.dropns") }
    // Spark surfaces NonEmptyNamespaceException as SCHEMA_NOT_EMPTY
    assert(e.getMessage.contains("SCHEMA_NOT_EMPTY") ||
      e.isInstanceOf[org.apache.spark.sql.catalyst.analysis.NonEmptyNamespaceException],
      e.toString)
    spark.sql("DROP NAMESPACE graftcat.dropns CASCADE")
    assert(!spark.sql("SHOW NAMESPACES IN graftcat").collect()
      .map(_.getString(0)).contains("dropns"))
  }

  test("time travel: VERSION AS OF / TIMESTAMP AS OF read committed history; snapshots are read-only") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graftcat.tt")
    spark.sql("CREATE TABLE graftcat.tt.t (id BIGINT) USING graftshard") // v1: empty
    spark.sql("INSERT INTO graftcat.tt.t SELECT id FROM range(0, 10)")   // v2
    spark.sql("INSERT INTO graftcat.tt.t SELECT id FROM range(10, 30)")  // v3
    spark.sql("INSERT OVERWRITE graftcat.tt.t SELECT id FROM range(0, 5)") // v4
    assert(spark.table("graftcat.tt.t").count() == 5)
    assert(spark.sql("SELECT * FROM graftcat.tt.t VERSION AS OF 1").count() == 0)
    assert(spark.sql("SELECT * FROM graftcat.tt.t VERSION AS OF 2").count() == 10)
    assert(spark.sql("SELECT * FROM graftcat.tt.t VERSION AS OF 3").count() == 30)
    assert(spark.sql("SELECT * FROM graftcat.tt.t VERSION AS OF 4").count() == 5)
    // values, not just counts: v3 held the pre-overwrite union
    assert(spark.sql("SELECT sum(id) FROM graftcat.tt.t VERSION AS OF 3")
      .collect()(0).getLong(0) == (0L until 30L).sum)
    // TIMESTAMP AS OF after every commit resolves to the newest snapshot
    val after = java.time.LocalDateTime.ofInstant(
      java.time.Instant.now().plusSeconds(60), java.time.ZoneOffset.UTC)
      .format(java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss"))
    assert(spark.sql(s"SELECT * FROM graftcat.tt.t TIMESTAMP AS OF '$after'").count() == 5)
    val early = intercept[Exception] {
      spark.sql("SELECT * FROM graftcat.tt.t TIMESTAMP AS OF '1999-01-01 00:00:00'").collect()
    }
    assert(early.getMessage.contains("no snapshot"), early.getMessage)
    val noV = intercept[Exception] {
      spark.sql("SELECT * FROM graftcat.tt.t VERSION AS OF 99").collect()
    }
    assert(noV.getMessage.contains("no snapshot"), noV.getMessage)
    // snapshots are history, not branches: writes are refused
    val cat = new graft.sources.v2.GraftCatalog
    cat.initialize("snapchk", new org.apache.spark.sql.util.CaseInsensitiveStringMap(
      java.util.Map.of("warehouse", warehouse)))
    val snap = cat.loadTable(
      org.apache.spark.sql.connector.catalog.Identifier.of(Array("tt"), "t"), "2")
    val refused = intercept[Exception] {
      snap.asInstanceOf[org.apache.spark.sql.connector.catalog.SupportsWrite]
        .newWriteBuilder(null)
    }
    assert(refused.getMessage.contains("read-only"), refused.getMessage)
  }

  test("catalog errors: missing namespace, duplicate table, unsupported partitioning, drop") {
    val noNs = intercept[Exception] {
      spark.sql("CREATE TABLE graftcat.nope.t (id BIGINT) USING graftshard")
    }
    assert(noNs.getMessage.toLowerCase.contains("namespace") ||
      noNs.getMessage.contains("SCHEMA_NOT_FOUND"), noNs.getMessage)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graftcat.err")
    spark.sql("CREATE TABLE graftcat.err.t (id BIGINT) USING graftshard")
    val dup = intercept[Exception] {
      spark.sql("CREATE TABLE graftcat.err.t (id BIGINT) USING graftshard")
    }
    assert(dup.getMessage.contains("already exists") ||
      dup.getMessage.contains("TABLE_OR_VIEW_ALREADY_EXISTS"), dup.getMessage)
    val badPart = intercept[Exception] {
      spark.sql("""CREATE TABLE graftcat.err.bad (id BIGINT, s STRING)
        USING graftshard PARTITIONED BY (id, s)""")
    }
    assert(badPart.getMessage.contains("unsupported partitioning"), badPart.getMessage)
    spark.sql("DROP TABLE graftcat.err.t")
    assert(!new java.io.File(s"$warehouse/err/t").exists())
    val gone = intercept[Exception] { spark.table("graftcat.err.t").collect() }
    assert(gone.getMessage.contains("TABLE_OR_VIEW_NOT_FOUND") ||
      gone.getMessage.toLowerCase.contains("not found"), gone.getMessage)
  }

  test("SHOW TBLPROPERTIES surfaces the manifest's recorded config; snapshots report their own") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graftcat.props")
    spark.sql("CREATE TABLE graftcat.props.t (id BIGINT, s STRING) USING graftshard " +
      "TBLPROPERTIES ('compression' = 'dict', 'bloomColumns' = 'id')")
    spark.sql("INSERT INTO graftcat.props.t VALUES (1, 'a')")
    def props(sql: String): Map[String, String] =
      spark.sql(sql).collect().map(r => r.getString(0) -> r.getString(1)).toMap
    val p = props("SHOW TBLPROPERTIES graftcat.props.t")
    assert(p.get("compression").contains("dict"), p.toString)
    assert(p.get("bloomColumns").contains("id"), p.toString)
    assert(p.get("files").contains("1"), p.toString)
    val v = p("manifestVersion").toLong
    // a later write bumps what the LIVE handle reports...
    spark.sql("INSERT INTO graftcat.props.t VALUES (3, 'c')")
    val p2 = props("SHOW TBLPROPERTIES graftcat.props.t")
    assert(p2("manifestVersion").toLong == v + 1 && p2("files") == "2", p2.toString)
    // ...while a time-travel snapshot reports its own commit's state
    // (loadTable(ident, version) — SHOW TBLPROPERTIES has no AS OF form)
    val cat = spark.sessionState.catalogManager.catalog("graftcat")
      .asInstanceOf[graft.sources.v2.GraftCatalog]
    val snap = cat.loadTable(
      org.apache.spark.sql.connector.catalog.Identifier.of(Array("props"), "t"),
      v.toString).properties()
    assert(snap.get("manifestVersion").toLong == v && snap.get("files") == "1",
      snap.toString)
  }

  test("CALL procedures: compact / expire_snapshots / vacuum run the maintenance surface from SQL") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graftcat.maint")
    spark.sql("CREATE TABLE graftcat.maint.t (id BIGINT, v BIGINT) USING graftshard")
    (0 until 6).foreach { i =>
      spark.sql(s"INSERT INTO graftcat.maint.t SELECT id, id * 2 FROM range(${i * 10}, ${i * 10 + 10})")
    }
    val dir = s"$warehouse/maint/t"
    val filesBefore = graft.sources.v2.ShardFormat.readManifest(dir).get.files.size
    assert(filesBefore >= 6)
    // OPTIMIZE from SQL, report as rows
    val c = spark.sql("CALL graftcat.system.compact('maint.t')").collect()
    assert(c.length == 1 && c(0).getLong(1) == filesBefore.toLong,
      s"compact report: ${c.toSeq}")
    assert(spark.table("graftcat.maint.t").count() == 60)
    assert(graft.sources.v2.ShardFormat.readManifest(dir).get.files.size < filesBefore)
    // retire history, then reclaim the replaced files
    val e = spark.sql("CALL graftcat.system.expire_snapshots('maint.t', keep_last => 1)").collect()
    assert(e.length == 1 && e(0).getLong(0) >= 1L, s"expire report: ${e.toSeq}")
    val v = spark.sql("CALL graftcat.system.vacuum('maint.t', min_age_ms => 0L)").collect()
    assert(v.length == 1 && v(0).getLong(0) >= filesBefore.toLong, s"vacuum report: ${v.toSeq}")
    assert(spark.table("graftcat.maint.t").count() == 60, "maintenance never loses rows")
    // discovery + refusals carry names
    val listed = spark.sessionState.catalogManager.catalog("graftcat")
      .asInstanceOf[graft.sources.v2.GraftCatalog]
      .listProcedures(Array("system")).map(_.name).toSet
    assert(listed == Set("compact", "expire_snapshots", "vacuum",
      "rollback", "set_partitioning", "analyze", "publish_branch", "drop_branch"))
    val bad = intercept[Exception] { spark.sql("CALL graftcat.system.nope('maint.t')").collect() }
    assert(bad.getMessage.contains("nope"), bad.getMessage)
    val badTable = intercept[Exception] {
      spark.sql("CALL graftcat.system.vacuum('maint.missing', min_age_ms => 0L)").collect()
    }
    assert(badTable.getMessage.contains("missing") ||
      badTable.getMessage.contains("TABLE_OR_VIEW_NOT_FOUND"), badTable.getMessage)
  }
}
