package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.plans.{Recode, RecodeFn}

/** The [[graft.plans.CollapseRecodeUdf]] optimizer rule, before/after:
  * a filter on a UDF-recoded column is opaque to Catalyst (nothing
  * reaches the scan), while the same query through the declarative
  * [[RecodeFn]] collapses to CaseWhen, folds to a raw-column predicate,
  * and arrives at the parquet scan as a pushed filter. Value semantics
  * must be identical either way (null, mapped, unmapped-with-default,
  * unmapped-identity). */
class RecodeRuleSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._
  private val sf = "/root/testdata/sf0.001"

  /** Value-parity fixtures MUST NOT be LocalRelations: Catalyst's
    * ConvertToLocalRelation batch evaluates Filter/Project over a
    * LocalRelation eagerly — with the raw UDF, BEFORE the injected
    * optimizer rule ever runs — so a local-Seq-backed parity test is
    * vacuous (it compares the UDF against itself; a deliberately broken
    * rewrite passed it, which is how this round-trip was discovered).
    * A parquet round trip forces the plan through the optimizer batch
    * that carries the rewrite. */
  private def parquetBacked(df: org.apache.spark.sql.DataFrame, tag: String)
      : org.apache.spark.sql.DataFrame = {
    val p = TestSpark.tempDir(s"graft_recodespec_$tag") + "/t"
    df.write.mode("overwrite").parquet(p)
    spark.read.parquet(p)
  }

  private val mapping = Seq("src0" -> "crawl", "src1" -> "crawl", "src2" -> "print")

  private def executedPlan(df: org.apache.spark.sql.DataFrame): String = {
    df.collect()
    df.queryExecution.executedPlan.toString().split("== Initial Plan ==").head
  }

  test("before: an opaque recode UDF blocks pushdown of a filter on the recoded column") {
    // identical mapping but as an ANONYMOUS function — the rule's marker
    // class is absent, so this is what every legacy UDF recode looks like
    val m = mapping.toMap
    val opaque = udf((s: String) => if (s == null) null else m.getOrElse(s, "other"))
    val df = spark.read.parquet(s"$sf/documents.parquet")
      .withColumn("cat", opaque(col("source")))
      .where(col("cat") === "crawl")
      .select("doc_id", "source", "cat")
    val p = executedPlan(df)
    assert(p.contains("PushedFilters: []") || !p.contains("EqualTo(source"),
      s"opaque UDF unexpectedly pushed a source predicate:\n$p")
  }

  test("after: the declarative recode collapses to CaseWhen and the filter is pushed to the scan") {
    val rec = Recode.recodeUdf(mapping, default = Some("other"))
    val df = spark.read.parquet(s"$sf/documents.parquet")
      .withColumn("cat", rec(col("source")))
      .where(col("cat") === "crawl")
      .select("doc_id", "source", "cat")
    val optimized = df.queryExecution.optimizedPlan.toString()
    assert(!optimized.contains("UDF"), s"rule did not fire, ScalaUDF survived:\n$optimized")
    val p = executedPlan(df)
    // the folded predicate on the RAW column must reach the parquet scan
    assert(p.contains("PushedFilters: [") && p.contains("(source,"),
      s"no raw-column predicate reached the scan:\n$p")
    // and the rows must be exactly the mapped keys
    val got = df.select("source").distinct().as[String].collect().toSet
    assert(got == Set("src0", "src1"))
  }

  test("value semantics identical with and without the rule (null / mapped / unmapped)") {
    val data = parquetBacked(Seq[(java.lang.Long, String)]((1L, "src0"), (2L, "src2"),
      (3L, "unknown"), (4L, null)).toDF("id", "source"), "vals")
    val m = mapping.toMap
    // default = Some("other")
    val opaque = udf((s: String) => if (s == null) null else m.getOrElse(s, "other"))
    val declared = Recode.recodeUdf(mapping, default = Some("other"))
    val a = data.withColumn("cat", opaque(col("source")))
      .orderBy("id").select("cat").as[String].collect().toSeq
    val b = data.withColumn("cat", declared(col("source")))
      .orderBy("id").select("cat").as[String].collect().toSeq
    assert(a == b, s"udf=$a rule=$b")
    assert(b == Seq("crawl", "print", "other", null))
    // default = None → identity passthrough for unmapped keys
    val idUdf = udf((s: String) => if (s == null) null else m.getOrElse(s, s))
    val idDecl = Recode.recodeUdf(mapping, default = None)
    val c = data.withColumn("cat", idUdf(col("source")))
      .orderBy("id").select("cat").as[String].collect().toSeq
    val d = data.withColumn("cat", idDecl(col("source")))
      .orderBy("id").select("cat").as[String].collect().toSeq
    assert(c == d, s"udf=$c rule=$d")
    assert(d == Seq("crawl", "print", "unknown", null))
    // the comparison rewrite (recodeEq) must agree with the UDF filter for
    // every value class: a mapped value, the default value, an identity-
    // passthrough value, and a value nothing maps to
    for (v <- Seq("crawl", "print", "other", "unknown", "nothing")) {
      val viaUdf = data.where(opaque(col("source")) === v)
        .select("id").as[Long].collect().toSet
      val viaRule = data.where(declared(col("source")) === v)
        .select("id").as[Long].collect().toSet
      assert(viaUdf == viaRule, s"default=Some: v=$v udf=$viaUdf rule=$viaRule")
      val viaIdUdf = data.where(idUdf(col("source")) === v)
        .select("id").as[Long].collect().toSet
      val viaIdRule = data.where(idDecl(col("source")) === v)
        .select("id").as[Long].collect().toSet
      assert(viaIdUdf == viaIdRule, s"default=None: v=$v udf=$viaIdUdf rule=$viaIdRule")
    }
  }

  test("IN-list on the recoded column rewrites and pushes to the scan") {
    val rec = Recode.recodeUdf(mapping, default = Some("other"))
    val df = spark.read.parquet(s"$sf/documents.parquet")
      .withColumn("cat", rec(col("source")))
      .where(col("cat").isin("crawl", "print"))
      .select("doc_id", "source")
    val optimized = df.queryExecution.optimizedPlan.toString()
    assert(!optimized.contains("UDF"), s"IN rewrite did not fire:\n$optimized")
    val p = executedPlan(df)
    assert(p.contains("PushedFilters: [") && p.contains("(source,"),
      s"no raw-column predicate reached the scan:\n$p")
    assert(df.select("source").distinct().as[String].collect().toSet ==
      Set("src0", "src1", "src2"))
  }

  test("IN-list value semantics identical with and without the rule") {
    val data = parquetBacked(Seq[(java.lang.Long, String)]((1L, "src0"), (2L, "src2"),
      (3L, "unknown"), (4L, null)).toDF("id", "source"), "inlist")
    val m = mapping.toMap
    val opaque = udf((s: String) => if (s == null) null else m.getOrElse(s, "other"))
    val declared = Recode.recodeUdf(mapping, default = Some("other"))
    for (vs <- Seq(Seq("crawl"), Seq("print", "other"), Seq("nothing"),
        Seq("crawl", "print", "other"))) {
      val a = data.where(opaque(col("source")).isin(vs: _*))
        .select("id").as[Long].collect().toSet
      val b = data.where(declared(col("source")).isin(vs: _*))
        .select("id").as[Long].collect().toSet
      assert(a == b, s"vs=$vs udf=$a rule=$b")
    }
    // a null in the IN list is outside the comparison rewrite's guard
    // (null vs false on a miss is observable outside Filter) — must fall
    // through to the CaseWhen rewrite with identical filter results
    val a = data.where(opaque(col("source")).isin("crawl", null))
      .select("id").as[Long].collect().toSet
    val b = data.where(declared(col("source")).isin("crawl", null))
      .select("id").as[Long].collect().toSet
    assert(a == b, s"null-in-list: udf=$a rule=$b")
  }

  test("empty mapping: every non-null key takes the default, null stays null") {
    // the degenerate recode (constant-except-null) — Catalyst folds an
    // empty In to plain FALSE, so this shape needs its own disjunct
    // (RecodeRuleProps found the divergence; pinned here deterministically)
    val data = parquetBacked(Seq[(java.lang.Long, String)]((1L, "x"), (2L, null))
      .toDF("id", "source"), "emptymap")
    val opaque = udf((s: String) => if (s == null) null else "b")
    val declared = Recode.recodeUdf(Seq.empty, Some("b"))
    for (v <- Seq("b", "zz")) {
      val a = data.where(opaque(col("source")) === v).select("id").as[Long].collect().toSet
      val b = data.where(declared(col("source")) === v).select("id").as[Long].collect().toSet
      assert(a == b, s"filter v=$v: udf=$a rule=$b")
      val c = data.where(!(opaque(col("source")) === v)).select("id").as[Long].collect().toSet
      val d = data.where(!(declared(col("source")) === v)).select("id").as[Long].collect().toSet
      assert(c == d, s"negated v=$v: udf=$c rule=$d")
      val e = data.where(opaque(col("source")).isin(v, "q")).select("id").as[Long].collect().toSet
      val f = data.where(declared(col("source")).isin(v, "q")).select("id").as[Long].collect().toSet
      assert(e == f, s"isin v=$v: udf=$e rule=$f")
    }
  }

  test("RecodeFn rejects duplicate mapping keys (first-match ambiguity)") {
    intercept[IllegalArgumentException] {
      RecodeFn(Seq("a" -> "x", "a" -> "y"), None)
    }
  }

  test("RecodeFn rejects null keys, values, and Some(null) default (post-analysis literals)") {
    intercept[IllegalArgumentException] { RecodeFn(Seq("a" -> null), None) }
    intercept[IllegalArgumentException] { RecodeFn(Seq((null: String) -> "x"), None) }
    intercept[IllegalArgumentException] { RecodeFn(Seq("a" -> "x"), Some(null)) }
  }

  test("null key yields NULL (not false) through the comparison rewrite — negation and projection") {
    // the comparison rewrite replaces recode(k) = 'v' OUTSIDE Filter
    // contexts too, where null vs false is observable; and under a
    // NEGATED filter !(recode = v), a null that degraded to false would
    // wrongly KEEP the null row
    val data = parquetBacked(Seq[(java.lang.Long, String)]((1L, "src0"), (2L, "unknown"),
      (3L, null)).toDF("id", "source"), "nullkey")
    val m = mapping.toMap
    val opaque = udf((s: String) => if (s == null) null else m.getOrElse(s, "other"))
    val declared = Recode.recodeUdf(mapping, default = Some("other"))
    // v = default value: exercises the Not(In) disjunct; v = unmatched:
    // exercises the empty-disjunct fallback; v = mapped value: the hit path
    for (v <- Seq("other", "zzz", "crawl")) {
      val a = data.where(!(opaque(col("source")) === v))
        .select("id").as[Long].collect().toSet
      val b = data.where(!(declared(col("source")) === v))
        .select("id").as[Long].collect().toSet
      assert(a == b, s"negated filter v=$v: udf=$a rule=$b")
      assert(!b.contains(3L), s"null row must be dropped by a negated filter (v=$v)")
      val c = data.select(col("id"), (opaque(col("source")) === v).as("hit"))
        .orderBy("id").collect().map(r => (r.getLong(0), r.get(1))).toSeq
      val d = data.select(col("id"), (declared(col("source")) === v).as("hit"))
        .orderBy("id").collect().map(r => (r.getLong(0), r.get(1))).toSeq
      assert(c == d, s"projected comparison v=$v: udf=$c rule=$d")
      assert(d.last == ((3L, null)), s"projected null row must be null, not false (v=$v)")
    }
  }
}
