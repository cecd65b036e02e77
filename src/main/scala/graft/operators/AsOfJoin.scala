package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.analysis.TypeCoercion
import org.apache.spark.sql.catalyst.expressions.Attribute
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.expressions.{Window, WindowSpec}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.GraftSqlBridge
import org.apache.spark.sql.types._

import graft.plans.AsOfJoinNode

/** Distributed as-of (point-in-time) join — the canonical "operator Spark
  * lacks", composed from built-ins (preference order (a) of the build
  * brief): for every left row, attach the latest right row with the same
  * key whose time is ≤ the left row's time. The backbone of
  * feature-generation pipelines ("state of the account when the event
  * happened").
  *
  * Algorithm (the scalable formulation — NOT a range join, which explodes
  * to |left|·|right-per-key| intermediates):
  *   1. tag both sides and union them on (key, time, side);
  *   2. one shuffle on key, one in-partition sort by (time, side, tie);
  *   3. running `last(payload, ignoreNulls)` carries the most recent
  *      right payload forward; right rows sort before left rows at equal
  *      times (side 0 < 1) so "≤" is inclusive;
  *   4. keep left rows.
  * Cost: one shuffle per side + a linear window pass — the same plan
  * shape at 100 TB, with skewed keys handled by AQE or pre-salting.
  *
  * Precision: the sort key stays in the time column's NATIVE numeric
  * family — integral times sort as long, timestamps as epoch micros
  * (long), never as double. A double key would silently merge nanosecond
  * epochs (~1.7e18 > 2^53, beyond double's 53-bit mantissa): two distinct
  * times compare equal and the carry-forward picks the wrong row.
  */
object AsOfJoin {

  /** Normalize a time column to an exactly-ordered sortable key:
    * integral → long (exact), fractional → double (caller's own
    * precision), decimal kept, timestamp → epoch micros (long, exact),
    * date → epoch days (long). */
  private def timeKey(df: DataFrame, timeCol: String): (Column, DataType) =
    df.schema(timeCol).dataType match {
      case ByteType | ShortType | IntegerType | LongType =>
        (col(timeCol).cast(LongType), LongType)
      case FloatType | DoubleType => (col(timeCol).cast(DoubleType), DoubleType)
      case d: DecimalType => (col(timeCol), d)
      case TimestampType => (unix_micros(col(timeCol)), LongType)
      case DateType => (unix_date(col(timeCol)).cast(LongType), LongType)
      case other =>
        throw new IllegalArgumentException(s"asOf: unsupported time type $other for $timeCol")
    }

  /** Common key type across the two sides. Mixing an integral time with a
    * fractional one forces double — rejected beyond 2^53 where double
    * cannot represent the integral side exactly (the caller should align
    * units instead). */
  private def widen(lt: DataType, rt: DataType): DataType = (lt, rt) match {
    case (a, b) if a == b => a
    case (LongType, DoubleType) | (DoubleType, LongType) => DoubleType
    case (a, b) =>
      throw new IllegalArgumentException(s"asOf: incompatible time types $a / $b")
  }

  /** Tolerance in the normalized key's units (the time column's own units
    * for numerics; MICROSECONDS for timestamps, days for dates). For long
    * keys the comparison casts the tolerance down (truncation = floor for
    * tol ≥ 0, exact for integral gaps) instead of widening the gap to
    * double. */
  private def gapWithin(gap: Column, tol: Double, tt: DataType): Column =
    gap <= lit(tol).cast(tt)

  /** The shared prologue of [[backward]] and [[nearest]]: one union of
    * both sides tagged with the equality key `__k`, the normalized time
    * `__t` (widened to one type, also returned) and `__side` (right 0
    * sorts before left 1 at equal time), each side null-padded to the
    * other's columns, with the window ordering the union is scanned
    * under (partitioned by key, ordered by time, side, then the tie
    * columns, also returned). */
  private def taggedUnion(
      left: DataFrame, right: DataFrame,
      leftKey: String, rightKey: String,
      leftTime: String, rightTime: String,
      rightPayload: Seq[String], rightTieBreak: Seq[String])
      : (DataFrame, WindowSpec, DataType, Seq[String]) = {
    require(rightPayload.nonEmpty, "asOf: need at least one right payload column")
    val collisions = rightPayload.toSet.intersect(left.columns.toSet)
    require(collisions.isEmpty, s"asOf: right payload collides with left columns: $collisions")

    val rightTypes = right.schema
    val tieCols = rightTieBreak.map(c => s"__tie_$c")
    val (lKey, lt) = timeKey(left, leftTime)
    val (rKey, rt) = timeKey(right, rightTime)
    val tt = widen(lt, rt)
    // The payload travels as ONE struct so the carry-forward is whole-row:
    // per-column carries would stitch together fields from different right
    // rows whenever a payload value is legitimately null. The matched
    // right time rides along as `__rt` for the tolerance check.
    val payloadType = StructType(
      rightPayload.map(c => rightTypes(c)) :+ StructField("__rt", tt))

    val lPadded = rightTieBreak
      .foldLeft(
        left
          .withColumn("__k", col(leftKey))
          .withColumn("__t", lKey.cast(tt))
          .withColumn("__side", lit(1))
          .withColumn("__r", lit(null).cast(payloadType))) { (df, c) =>
        df.withColumn(s"__tie_$c", lit(null).cast(rightTypes(c).dataType))
      }

    // SQL join semantics: a null key never matches — drop null-key right
    // rows (left null-key rows then see no candidates and keep nulls).
    val r = right
      .where(col(rightKey).isNotNull)
      .select(
        col(rightKey).as("__k") +:
          rKey.cast(tt).as("__t") +:
          lit(0).as("__side") +:
          struct(rightPayload.map(col) :+ rKey.cast(tt).as("__rt"): _*).as("__r") +:
          rightTieBreak.map(c => col(c).as(s"__tie_$c")): _*)
    val rPadded = left.columns.foldLeft(r)((df, c) =>
      df.withColumn(c, lit(null).cast(left.schema(c).dataType)))

    val w = Window.partitionBy("__k")
      .orderBy((col("__t").asc +: col("__side").asc +: tieCols.map(col(_).asc)): _*)
    (lPadded.unionByName(rPadded), w, tt, tieCols)
  }

  /** @param left        event/probe side (all its columns are kept)
    * @param right       state/quote side
    * @param leftKey     equality key column on `left`
    * @param rightKey    equality key column on `right`
    * @param leftTime    epoch-comparable time column on `left`
    * @param rightTime   epoch-comparable time column on `right`
    * @param rightPayload right columns to attach (must not collide with
    *                    left column names)
    * @param rightTieBreak orders right rows sharing (key, time); the LAST
    *                    by this ordering wins (deterministic results)
    * @param tolerance   max allowed leftTime - rightTime gap (in the
    *                    normalized time units — see [[gapWithin]]); the
    *                    as-of winner is the CLOSEST candidate, so
    *                    filtering it is exact, not a fallback search
    */
  def backward(
      left: DataFrame, right: DataFrame,
      leftKey: String, rightKey: String,
      leftTime: String, rightTime: String,
      rightPayload: Seq[String], rightTieBreak: Seq[String] = Nil,
      tolerance: Option[Double] = None): DataFrame = {
    val (unioned, w, tt, tieCols) = taggedUnion(left, right, leftKey, rightKey,
      leftTime, rightTime, rightPayload, rightTieBreak)
    val carried = unioned.withColumn("__r", last(col("__r"), ignoreNulls = true)
      .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))

    val inTolerance = tolerance match {
      case None      => col("__r").isNotNull
      case Some(tol) => col("__r").isNotNull &&
        gapWithin(col("__t") - col("__r").getField("__rt"), tol, tt)
    }
    val withPayload = rightPayload.foldLeft(carried)((df, c) =>
      df.withColumn(c, when(inTolerance, col("__r").getField(c))))
    withPayload
      .where(col("__side") === 1)
      .drop("__k", "__t", "__side", "__r")
      .drop(tieCols: _*)
  }

  /** [[backward]] through the custom PHYSICAL operator
    * (`graft.plans.SortMergeAsOfJoinExec`, planned by the
    * `AsOfJoinStrategy` that `GraftExtensions` injects — requires the
    * session to be built with
    * `spark.sql.extensions=graft.plans.GraftExtensions`). Same results
    * as [[backward]] (pinned by AsOfMergeProps differential tests), a
    * different cost shape: each side shuffles only its OWN columns
    * instead of the null-padded union superset, and the window pass is
    * replaced by a streaming per-partition merge with O(1) state.
    *
    * Measured (SCALE.md round-10 asof probe, payload consumed, warm,
    * local[32]): the merge face matches or beats the composed face in
    * every cell — 2.0x faster on a narrow 100k-left (0.33 vs 0.67 s),
    * 1.07-1.34x faster at 1M x 1.5M rows narrow and wide. The round-9
    * "7x slower" verdict was a count()-measurement artifact: under
    * count(*) Catalyst prunes the composed face's entire
    * Window+Sort+Exchange (nothing references the window output — the
    * query degenerates to a scan-count) while this node always runs the
    * real join; AsOfMergeJoinSpec pins both halves of that asymmetry.
    * Column pruning DOES reach through the node (Catalyst's generic
    * ColumnPruning case prunes children to key/time/tie + consumed
    * payload — spec-pinned), so a narrow projection over a wide right
    * table still prunes its scan and shuffle. Remaining caveats: the
    * node is invisible to AQE's skew-join splitting (pre-salt a
    * known-skewed key upstream), filters above it do not push through
    * (filter the inputs instead), and fractional equality keys are
    * rejected (no NormalizeFloatingNumbers on custom nodes). */
  def backwardMerge(
      left: DataFrame, right: DataFrame,
      leftKey: String, rightKey: String,
      leftTime: String, rightTime: String,
      rightPayload: Seq[String], rightTieBreak: Seq[String] = Nil,
      tolerance: Option[Double] = None): DataFrame = {
    require(rightPayload.nonEmpty, "asOf: need at least one right payload column")
    val collisions = rightPayload.toSet.intersect(left.columns.toSet)
    require(collisions.isEmpty, s"asOf: right payload collides with left columns: $collisions")
    val reserved = Seq("__asof_k", "__asof_t")
    require(!reserved.exists(left.columns.contains),
      s"asOf merge: left must not contain reserved columns ${reserved.mkString(", ")}")

    val (lKey, ltType) = timeKey(left, leftTime)
    val (rKey, rtType) = timeKey(right, rightTime)
    val tt = widen(ltType, rtType)
    // Both key columns are cast to one common type BEFORE the node: the
    // two sides hash-partition independently, and hash(5: Int) !=
    // hash(5L) — a type mismatch would send equal keys to different
    // partitions and silently drop matches.
    val lkType = left.schema(leftKey).dataType
    val rkType = right.schema(rightKey).dataType
    val kt =
      if (lkType == rkType) lkType
      else TypeCoercion.findTightestCommonType(lkType, rkType).getOrElse(
        throw new IllegalArgumentException(
          s"asOf merge: incompatible key types $lkType / $rkType"))
    // Float/double EQUALITY keys are rejected: the custom node hashes and
    // compares raw key bits (NormalizeFloatingNumbers only fires on
    // Join/Window/Aggregate, not on AsOfJoinNode), so 0.0 vs -0.0 and
    // differing NaN bit patterns would land in different partitions and
    // compare unequal — silently diverging from [[backward]], whose
    // window partitioning IS normalized. Use [[backward]], or cast the
    // key to an exact type first.
    require(kt != FloatType && kt != DoubleType,
      s"asOf merge: fractional key type $kt is not supported (0.0/-0.0 and NaN " +
        "bit patterns would partition and compare inconsistently); use " +
        "AsOfJoin.backward or cast the key to an integral/string/decimal type")

    val l2 = left
      .withColumn("__asof_k", col(leftKey).cast(kt))
      .withColumn("__asof_t", lKey.cast(tt))
    // The right side is re-projected under MANGLED aliases (never equal
    // to the source attribute names): a fresh-but-same-name alias is
    // exactly what the optimizer's RemoveRedundantAliases strips, and
    // stripping one on a self-as-of (left and right sharing lineage)
    // would re-introduce duplicate attribute ids across the node's two
    // children — renaming aliases are never redundant, so the children's
    // outputs stay disjoint through optimization.
    val payloadAliases = rightPayload.zipWithIndex.map { case (c, i) => (c, s"__asof_p$i") }
    val tieAliases = rightTieBreak.zipWithIndex.map { case (c, i) => (c, s"__asof_x$i") }
    val r2 = right
      .where(col(rightKey).isNotNull)
      .select(
        col(rightKey).cast(kt).as("__asof_rk") +:
          rKey.cast(tt).as("__asof_rt") +:
          (payloadAliases ++ tieAliases).map { case (c, a) => col(c).as(a) }: _*)

    val lPlan = l2.queryExecution.analyzed
    val rPlan = r2.queryExecution.analyzed
    def a(p: LogicalPlan, n: String): Attribute = p.output.find(_.name == n)
      .getOrElse(throw new IllegalStateException(s"asOf merge: lost helper column $n"))
    val node = AsOfJoinNode(lPlan, rPlan,
      a(lPlan, "__asof_k"), a(lPlan, "__asof_t"),
      a(rPlan, "__asof_rk"), a(rPlan, "__asof_rt"),
      tieAliases.map { case (_, al) => a(rPlan, al) })
    val joinedDf = GraftSqlBridge.ofRows(left.sparkSession, node)

    // Matched = right key attached (never null for a matched row: the
    // exec skips null-key right rows). Tolerance mirrors [[backward]]:
    // the as-of winner is the closest candidate, so filtering it is
    // exact; a null gap (null time on either side) fails the check.
    val matched = col("__asof_rk").isNotNull
    val attach = tolerance match {
      case None      => matched
      case Some(tol) => matched && gapWithin(col("__asof_t") - col("__asof_rt"), tol, tt)
    }
    joinedDf.select(
      left.columns.map(col).toSeq ++
        payloadAliases.map { case (c, al) => when(attach, col(al)).as(c) }: _*)
  }

  /** [[forward]] through the physical merge operator: [[backwardMerge]]
    * over negated normalized times (negating a long stays a long). */
  def forwardMerge(
      left: DataFrame, right: DataFrame,
      leftKey: String, rightKey: String,
      leftTime: String, rightTime: String,
      rightPayload: Seq[String], rightTieBreak: Seq[String] = Nil,
      tolerance: Option[Double] = None): DataFrame = {
    val (lKey, _) = timeKey(left, leftTime)
    val (rKey, _) = timeKey(right, rightTime)
    val lNeg = left.withColumn("__negt", -lKey)
    val rNeg = right.withColumn("__negt", -rKey)
    backwardMerge(lNeg, rNeg, leftKey, rightKey, "__negt", "__negt",
      rightPayload, rightTieBreak, tolerance)
      .drop("__negt")
  }

  /** Nearest as-of: for every left row, the right row with the same key
    * closest in time, either direction; ties (equal gap) go to the
    * backward candidate. ONE shuffle and ONE sort: the backward candidate
    * is running `last(payload) ignoreNulls` over (unbounded preceding,
    * current) and the forward candidate is `first(payload) ignoreNulls`
    * over (current, unbounded following) — two frames over the same
    * sorted partition. (A right row at the left row's exact time sorts
    * before it, so it is the backward candidate with gap 0 — the minimum
    * possible — which is also the nearest-tie rule; the forward frame
    * being strictly-after therefore never loses a match.)
    * `tolerance` bounds the absolute gap (units per [[gapWithin]]). */
  def nearest(
      left: DataFrame, right: DataFrame,
      leftKey: String, rightKey: String,
      leftTime: String, rightTime: String,
      rightPayload: Seq[String], rightTieBreak: Seq[String] = Nil,
      tolerance: Option[Double] = None): DataFrame = {
    val (unioned, w, tt, tieCols) = taggedUnion(left, right, leftKey, rightKey,
      leftTime, rightTime, rightPayload, rightTieBreak)
    val back = last(col("__r"), ignoreNulls = true)
      .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
    val fwd = first(col("__r"), ignoreNulls = true)
      .over(w.rowsBetween(Window.currentRow, Window.unboundedFollowing))
    val carried = unioned
      .withColumn("__rb", back)
      .withColumn("__rf", fwd)

    def gapOk(gap: Column): Column = tolerance match {
      case None      => lit(true)
      case Some(tol) => gapWithin(gap, tol, tt)
    }
    val gb = col("__t") - col("__rb").getField("__rt")
    val gf = col("__rf").getField("__rt") - col("__t")
    val backOk = col("__rb").isNotNull && gapOk(gb)
    val fwdOk = col("__rf").isNotNull && gapOk(gf)
    val chosen = when(backOk && (!fwdOk || gb <= gf), col("__rb"))
      .when(fwdOk, col("__rf"))
    val withChosen = carried.withColumn("__rc", chosen)
    val withPayload = rightPayload.foldLeft(withChosen)((df, c) =>
      df.withColumn(c, col("__rc").getField(c)))
    withPayload
      .where(col("__side") === 1)
      .drop("__k", "__t", "__side", "__r", "__rb", "__rf", "__rc")
      .drop(tieCols: _*)
  }

  /** Forward as-of: for every left row, the EARLIEST right row with the
    * same key at-or-after the left time (ties: last by `rightTieBreak`
    * wins, as in [[backward]]). Implemented as [[backward]] over negated
    * normalized times — same single-shuffle plan, same native-type
    * precision (negating a long stays a long). `tolerance` bounds
    * rightTime - leftTime. */
  def forward(
      left: DataFrame, right: DataFrame,
      leftKey: String, rightKey: String,
      leftTime: String, rightTime: String,
      rightPayload: Seq[String], rightTieBreak: Seq[String] = Nil,
      tolerance: Option[Double] = None): DataFrame = {
    val (lKey, _) = timeKey(left, leftTime)
    val (rKey, _) = timeKey(right, rightTime)
    val lNeg = left.withColumn("__negt", -lKey)
    val rNeg = right.withColumn("__negt", -rKey)
    backward(lNeg, rNeg, leftKey, rightKey, "__negt", "__negt",
      rightPayload, rightTieBreak, tolerance)
      .drop("__negt")
  }
}
