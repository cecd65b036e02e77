package graft

import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Properties, Test}

/** Randomized soundness law for the TopN file cut
  * ([[graft.sources.v2.GraftShardScanBuilder.pushTopN]]): for ANY
  * multi-file table (overlapping bounds, ties, nulls, all-null files,
  * string values past the 64-byte bounds cap — the no-claim files) and
  * ANY (direction × null-ordering × k), `ORDER BY col LIMIT k` through
  * the graftshard scan must return the same top-k key multiset as the
  * in-memory model. The fixture spec pins the known edges and that the
  * cut HAPPENS; this walks the bound-geometry space where an unsound
  * cut would silently drop a qualifying row — the one failure mode a
  * partial pushdown can have.
  *
  * SPARK_GRAFT_PROPS_N=50+ escalates for a nightly-style deep run. */
object GraftShardTopNProps extends Properties("GraftShardTopN") {
  private lazy val spark = TestSpark.spark

  // one file = a list of optional keys (None = null); small value range
  // forces ties and overlapping min/max boxes across files
  private val fileGen: Gen[List[Option[Long]]] = for {
    n <- Gen.chooseNum(0, 25)
    vs <- Gen.listOfN(n, Gen.frequency(
      8 -> Gen.chooseNum(-20L, 20L).map(Some(_)),
      1 -> Gen.const(None: Option[Long]),
      1 -> Gen.const(Some(7L)))) // a heavy tie value
  } yield vs

  private val caseGen
      : Gen[(List[List[Option[Long]]], Boolean, Boolean, Int, Boolean, Option[Long])] =
    for {
      nFiles <- Gen.chooseNum(1, 6)
      files <- Gen.listOfN(nFiles, fileGen)
      desc <- Gen.oneOf(true, false)
      nullsFirst <- Gen.oneOf(true, false)
      k <- Gen.chooseNum(1, 40)
      asString <- Gen.oneOf(true, false)
      // an absorbed `key >= thr` filter (long tables only): fuzzes the
      // provably-all-match counting rule — files straddling thr count
      // nothing, files entirely above count fully, nulls never match
      thr <- Gen.option(Gen.chooseNum(-15L, 15L))
    } yield (files, desc, nullsFirst, k, asString, if (asString) None else thr)

  // long -> fixed-width sortable string; ~1/15 values exceed the
  // 64-byte bounds cap, dropping that FILE's string stats (the
  // no-claim-always-kept path)
  private def str(v: Long): String = {
    val base = f"s${v + 1000}%05d"
    if (v % 15 == 0) base + ("x" * 80) else base
  }

  property("ORDER BY col LIMIT k through the file cut equals the in-memory top-k for any geometry") =
    Prop.forAll(caseGen) { case (files, desc, nullsFirst, k, asString, thr) =>
      import spark.implicits._
      val dir = TestSpark.tempDir("graft_topn_props") + "/t"
      var first = true
      files.foreach { vs =>
        val df =
          if (asString) vs.map(_.map(str)).toDF("key")
          else vs.toDF("key")
        df.coalesce(1).write.format("graftshard")
          .mode(if (first) "overwrite" else "append").save(dir)
        first = false
      }
      if (files.forall(_.isEmpty)) Prop.passed
      else {
        val order = (desc, nullsFirst) match {
          case (false, true) => col("key").asc_nulls_first
          case (false, false) => col("key").asc_nulls_last
          case (true, true) => col("key").desc_nulls_first
          case (true, false) => col("key").desc_nulls_last
        }
        val base = spark.read.format("graftshard").load(dir)
        val got = thr.fold(base)(t => base.where(col("key") >= t))
          .orderBy(order).limit(k).collect()
          .map(r => if (r.isNullAt(0)) null
            else if (asString) r.getString(0) else Long.box(r.getLong(0)))
          .toList

        // in-memory model: same ordering, applied to the raw values
        // (a filtered query drops nulls — SQL: null >= t is not true)
        val all = thr match {
          case None => files.flatten
          case Some(t) => files.flatten.filter(_.exists(_ >= t))
        }
        val model: List[Any] =
          if (asString) {
            val (ns, vs) = all.partition(_.isEmpty)
            val sorted0 = vs.map(v => str(v.get)).sorted
            val sorted = if (desc) sorted0.reverse else sorted0
            val withNulls =
              if (nullsFirst) ns.map(_ => null: Any) ++ sorted
              else sorted.map(identity[Any]) ++ ns.map(_ => null: Any)
            withNulls.take(k)
          } else {
            val (ns, vs) = all.partition(_.isEmpty)
            val sorted0 = vs.map(_.get).sorted
            val sorted = if (desc) sorted0.reverse else sorted0
            val withNulls: List[Any] =
              if (nullsFirst) ns.map(_ => null: Any) ++ sorted.map(Long.box)
              else sorted.map(Long.box(_): Any) ++ ns.map(_ => null: Any)
            withNulls.take(k)
          }
        val ok = got == model
        if (!ok) println(s"TOPN-PROPS FAIL files=$files desc=$desc " +
          s"nullsFirst=$nullsFirst k=$k str=$asString thr=$thr\n got=$got\n want=$model")
        ok: Prop
      }
    }

  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(sys.env.get("SPARK_GRAFT_PROPS_N").map(_.toInt).getOrElse(15))
}
