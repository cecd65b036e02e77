package graft

import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Properties, Test}

/** Randomized upsert law for graftshard: a fresh table walks an
  * arbitrary sequence of unique-key appends, CDC upserts (random mixes
  * of existing and new keys), compactions, and expire+vacuum passes —
  * and at every checkpoint the table must read back exactly the
  * latest-value-per-key model. The fixture spec (GraftShardUpsertSpec)
  * pins the known edges; this walks the SEQUENCE space, where
  * equality-delete bugs live: seq ordering across stacked upserts,
  * deletes half-applied by a compaction, retirement dropping a delete
  * some file still needs, vacuum reclaiming a sidecar a reader wants.
  * Codec and bloom configuration are randomized so the sidecar tiers
  * compose under fuzz, not just in fixtures.
  *
  * SPARK_GRAFT_PROPS_N=50+ escalates for a nightly-style deep run. */
object GraftShardUpsertProps extends Properties("GraftShardUpsert") {
  private lazy val spark = TestSpark.spark

  private sealed trait Op
  private final case class AppendNew(n: Int) extends Op
  private final case class Upsert(existing: Int, fresh: Int) extends Op
  private case object Compact extends Op
  private case object ExpireVacuum extends Op

  private val opGen: Gen[Op] = Gen.frequency(
    3 -> Gen.chooseNum(1, 12).map(AppendNew(_)),
    5 -> (for { e <- Gen.chooseNum(0, 8); f <- Gen.chooseNum(0, 4) } yield Upsert(e, f)),
    2 -> Gen.const(Compact),
    1 -> Gen.const(ExpireVacuum))

  private val seqGen: Gen[(Long, List[Op], String, Boolean)] = for {
    seed <- Gen.long
    n <- Gen.chooseNum(4, 12)
    ops <- Gen.listOfN(n, opGen)
    codec <- Gen.oneOf("none", "dict", "deflate")
    bloom <- Gen.oneOf(true, false)
  } yield (seed, ops, codec, bloom)

  property("any append/upsert/compact/vacuum sequence reads back latest-per-key") =
    Prop.forAll(seqGen) { case (seed, ops, codec, bloom) =>
      val s = spark
      import s.implicits._
      val rnd = new scala.util.Random(seed)
      val dir = TestSpark.tempDir("graft_upsert_props") + "/t"
      val model = scala.collection.mutable.LinkedHashMap.empty[Long, Long]
      var nextKey = 0L
      def freshKeys(n: Int): Seq[Long] = {
        val ks = (nextKey until nextKey + n); nextKey += n; ks
      }
      def write(rows: Seq[(Long, Long)], upsert: Boolean): Unit = {
        var w = rows.toDF("id", "v").coalesce(1 + rnd.nextInt(2))
          .write.format("graftshard").mode("append")
        if (upsert) w = w.option("upsertKey", "id")
        w.save(dir)
        rows.foreach { case (k, v) => model(k) = v }
      }
      // the create write carries the randomized table properties
      {
        val ks = freshKeys(3).map(k => (k, rnd.nextLong()))
        var w = ks.toDF("id", "v").coalesce(1)
          .write.format("graftshard").mode("overwrite")
          .option("compression", codec)
        if (bloom) w = w.option("bloomColumns", "id")
        w.save(dir)
        ks.foreach { case (k, v) => model(k) = v }
      }
      def check(where: String): Prop = {
        val got = s.read.format("graftshard").load(dir)
          .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
        val want = model.toSeq.sorted
        Prop(got == want) :| s"$where: got(${got.size})=${got.take(6)} want(${want.size})=${want.take(6)}"
      }
      val stepProps = ops.map {
        case AppendNew(n) =>
          write(freshKeys(n).map(k => (k, rnd.nextLong())), upsert = false)
          Prop.passed
        case Upsert(e, f) =>
          val existing = rnd.shuffle(model.keys.toVector).take(e)
          val keys = (existing ++ freshKeys(f)).distinct
          if (keys.isEmpty) Prop.passed
          else { write(keys.map(k => (k, rnd.nextLong())), upsert = true); Prop.passed }
        case Compact =>
          graft.sources.v2.GraftShardMaintenance.compact(s, dir, targetBytes = 1L << 20)
          check("after compact")
        case ExpireVacuum =>
          graft.sources.v2.GraftShardMaintenance.expireSnapshots(dir, keepLast = 1)
          graft.sources.v2.GraftShardMaintenance.vacuum(dir, minAgeMs = 0L)
          check("after expire+vacuum")
      }
      // point lookups through the whole sidecar stack (bloom + equality
      // deletes): a random existing key answers its LATEST value
      val pointProp =
        if (model.isEmpty) Prop.passed
        else {
          val k = model.keys.toVector(rnd.nextInt(model.size))
          val got = s.read.format("graftshard").load(dir)
            .where(col("id") === k).collect().map(_.getLong(1)).toSeq
          Prop(got == Seq(model(k))) :| s"point lookup $k: got $got want ${model(k)}"
        }
      val all = stepProps.foldLeft(check("final") && pointProp)(_ && _)
      all
    }

  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(
      sys.env.get("SPARK_GRAFT_PROPS_N").map(_.toInt).getOrElse(6))
}
