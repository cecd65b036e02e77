package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Properties, Test}

import graft.sources.v2.{GraftShardMaintenance, ShardFormat}

/** Randomized interaction law for the round-12 maintenance tier: a
  * fresh table walks an arbitrary sequence of appends, dynamic
  * partition overwrites, partition evolutions, re-keying rewrites,
  * compactions (whole and partition-scoped), ROLLBACKS to random
  * retained versions, and expire+vacuum passes — and after every op
  * the table must read back exactly the in-memory model, with model
  * snapshots keyed by manifest version so a rollback's restored state
  * is checked against what THAT version actually held. The fixture
  * specs pin each feature's edges; this walks the cross-feature
  * sequence space where the bugs live: a rollback across an evolution,
  * a dynamic overwrite after a rollback, vacuum racing a restored
  * version's files, compaction of a rolled-back mixed-era table.
  *
  * SPARK_GRAFT_PROPS_N=30+ escalates for a nightly-style deep run. */
object GraftShardMaintenanceProps extends Properties("GraftShardMaintenance") {
  private lazy val spark = {
    val s = TestSpark.spark
    s.conf.set("spark.sql.catalog.mpcat", classOf[graft.sources.v2.GraftCatalog].getName)
    s.conf.set("spark.sql.catalog.mpcat.warehouse", warehouse)
    s
  }
  private lazy val warehouse = TestSpark.tempDir("graft_maint_props")
  private val walk = new AtomicInteger(0)

  private sealed trait Op
  private final case class Append(n: Int) extends Op
  private final case class DynOverwrite(part: Int, n: Int) extends Op
  private case object Evolve extends Op // toggle unpartitioned <-> identity(k)
  private final case class Rewrite(n: Int) extends Op // truncate under current spec
  private final case class CompactOp(scoped: Boolean) extends Op
  private final case class Rollback(pick: Int) extends Op
  private case object ExpireVacuum extends Op
  private final case class Analyze(blooms: Boolean) extends Op // round-14 backfill

  private val opGen: Gen[Op] = Gen.frequency(
    5 -> Gen.chooseNum(1, 10).map(Append(_)),
    3 -> (for { p <- Gen.chooseNum(0, 3); n <- Gen.chooseNum(0, 6) } yield DynOverwrite(p, n)),
    2 -> Gen.const(Evolve),
    2 -> Gen.chooseNum(1, 8).map(Rewrite(_)),
    2 -> Gen.oneOf(true, false).map(CompactOp(_)),
    3 -> Gen.chooseNum(0, 100).map(Rollback(_)),
    1 -> Gen.const(ExpireVacuum),
    2 -> Gen.oneOf(true, false).map(Analyze(_)))

  private val seqGen: Gen[List[Op]] = for {
    n <- Gen.chooseNum(6, 14)
    ops <- Gen.listOfN(n, opGen)
  } yield ops

  property("any append/dyn-overwrite/evolve/rollback/compact/vacuum walk reads back the model") =
    Prop.forAll(seqGen) { ops =>
      import spark.implicits._
      val ns = s"w${walk.incrementAndGet()}"
      spark.sql(s"CREATE NAMESPACE IF NOT EXISTS mpcat.$ns")
      val tbl = s"mpcat.$ns.t"
      val dir = s"$warehouse/$ns/t"
      // model: rows as (id, k, v); snapshots of the model per version
      var model = Vector.empty[(Long, Long, Long)]
      var nextId = 0L
      var snaps = Map.empty[Long, Vector[(Long, Long, Long)]]

      def fresh(n: Int, fixedK: Option[Long]): Vector[(Long, Long, Long)] = {
        val rows = (0 until n).toVector.map { i =>
          val id = nextId + i
          (id, fixedK.getOrElse(id % 4), id * 7L)
        }
        nextId += n
        rows
      }
      def df(rows: Vector[(Long, Long, Long)]) =
        rows.toDF("id", "k", "v").coalesce(1)
      def manifest() = ShardFormat.readManifest(dir)
      def keyedClean: Boolean = manifest().exists(m =>
        m.partitioning.isDefined && m.files.nonEmpty &&
          m.files.forall(_.partition.isDefined))
      def record(): Unit = manifest().foreach(m => snaps += m.version -> model)
      def check(label: String): Prop = {
        val got = spark.table(tbl)
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted.toVector
        val ok = got == model.sorted
        if (!ok) println(s"MAINT-PROPS FAIL after $label: got ${got.size} rows, " +
          s"want ${model.size}\n ops=$ops")
        ok: Prop
      }

      // seed: a small unpartitioned table
      val seed = fresh(5, None)
      df(seed).writeTo(tbl).using("graftshard").create()
      model = seed
      record()

      val results = ops.map {
        case Append(n) =>
          val rows = fresh(n, None)
          if (rows.nonEmpty) {
            df(rows).writeTo(tbl).append()
            model ++= rows
            record()
          }
          check(s"append($n)")
        case DynOverwrite(p, n) =>
          if (!keyedClean) Prop.passed // refusal path pinned in the fixture spec
          else {
            val rows = fresh(n, Some(p.toLong))
            df(rows).writeTo(tbl).overwritePartitions()
            if (rows.nonEmpty) model = model.filterNot(_._2 == p.toLong) ++ rows
            record()
            check(s"dyn($p,$n)")
          }
        case Evolve =>
          val m = manifest().get
          val to = if (m.partitioning.isDefined) None
            else Some(ShardFormat.IdentityPart("k"))
          GraftShardMaintenance.setPartitioning(dir, to)
          record()
          check("evolve")
        case Rewrite(n) =>
          val rows = fresh(n, None)
          df(rows).writeTo(tbl).overwrite(lit(true))
          model = rows
          record()
          check(s"rewrite($n)")
        case CompactOp(scoped) =>
          val m = manifest().get
          if (scoped && keyedClean) {
            val p = m.files.flatMap(_.partition).headOption
            p.foreach(k => GraftShardMaintenance.compact(spark, dir, onlyPartition = Some(k)))
          } else if (!scoped) GraftShardMaintenance.compact(spark, dir)
          record() // a no-op compact commits nothing; record() re-keys same version
          check(s"compact($scoped)")
        case Rollback(pick) =>
          val retained = ShardFormat.listVersions(dir)
            .filter(v => snaps.contains(v) && v != manifest().get.version)
          if (retained.isEmpty) Prop.passed
          else {
            val target = retained(pick % retained.size)
            GraftShardMaintenance.rollback(dir, target)
            model = snaps(target)
            record()
            check(s"rollback($target)")
          }
        case ExpireVacuum =>
          GraftShardMaintenance.expireSnapshots(dir, keepLast = 2)
          GraftShardMaintenance.vacuum(dir, minAgeMs = 0L)
          val retained = ShardFormat.listVersions(dir).toSet
          snaps = snaps.view.filterKeys(retained).toMap
          check("expire+vacuum")
        case Analyze(blooms) =>
          if (manifest().exists(_.files.isEmpty)) Prop.passed
          else {
            // retroactive backfill mid-walk: metadata-only (model
            // unchanged), composes with every later op — appends
            // inherit the property, compaction regenerates sketches,
            // a rollback to a pre-analyze version restores stat-less
            // state, vacuum keeps referenced sidecars
            GraftShardMaintenance.analyze(spark, dir, Seq("id", "k", "v"), blooms)
            record()
            // a bloom-backfilled point lookup must stay SOUND: every
            // model row remains findable through the sidecar probe
            val probe = model.headOption.forall { case (id, _, v) =>
              spark.table(tbl).where(col("id") === id)
                .collect().exists(_.getLong(2) == v)
            }
            if (!probe) println(s"MAINT-PROPS ANALYZE PROBE FAIL ops=$ops")
            (probe: Prop) && check(s"analyze($blooms)")
          }
      }
      results.foldLeft(Prop.passed)(_ && _)
    }

  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(sys.env.get("SPARK_GRAFT_PROPS_N").map(_.toInt).getOrElse(8))
}
