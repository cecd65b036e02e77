package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Interval (range) join without an equi key, via temporal banding — the
  * missing member of the temporal-join family next to [[AsOfJoin]] (the
  * reference has no joins at all; SURVEY §2.8).
  *
  * A naive point-in-interval join is a cross product with a range filter —
  * Catalyst can only run it as BroadcastNestedLoopJoin, quadratic work. The
  * banded form buckets time into `bucketWidth`-sized bands: each point
  * lands in exactly one band, each interval replicates to the bands it
  * covers (span/bucketWidth + 1 copies), the join is a plain equi-join on
  * the band, and exact containment filters survivors. Work scales with
  * true match density, shuffles are on band keys.
  *
  * Because a point belongs to exactly ONE band, every (point, interval)
  * match is produced exactly once — no post-join dedup.
  *
  * Choosing `bucketWidth` ≈ the typical interval span keeps replication
  * O(1) per interval. Hot bands (points clustering in time) are AQE
  * skew-join territory; pathological clustering can add a salt dimension.
  */
object RangeJoin {

  /** The banding arithmetic (`floor((end-1)/W)` for the exclusive
    * endpoint) is exact ONLY on integral domains — on a DOUBLE column
    * an interval like [0.5, 2.3) would silently never replicate into
    * its final band and matches would be LOST. Enforce the documented
    * contract loudly instead: reject non-integral endpoint/point
    * columns up front (scale-0 decimals — exact integral values, the
    * common JDBC-ingest shape — are accepted; banding computes on their
    * long cast). Fractional or timestamp domains must be cast to long
    * units (epoch seconds/micros) by the caller, which also pins which
    * granularity the bucketWidth is in. */
  private def requireIntegral(df: DataFrame, colName: String, op: String): Unit = {
    import org.apache.spark.sql.types._
    // resolve the name the way Spark's analyzer does (case-insensitive by
    // default) rather than the exact-match schema(...) lookup
    val field = df.schema.fields.find(_.name.equalsIgnoreCase(colName))
      .getOrElse(throw new IllegalArgumentException(
        s"$op: column '$colName' not found in ${df.schema.fieldNames.mkString(", ")}"))
    field.dataType match {
      case ByteType | ShortType | IntegerType | LongType => ()
      // exact integral values — but only while they FIT a long: the band
      // arithmetic runs on cast('long'), and under non-ANSI mode an
      // out-of-range decimal casts to NULL, nulling the band and silently
      // dropping matches — the exact loss mode this guard exists to stop.
      // precision ≤ 18 < log10(Long.MaxValue) guarantees the cast is exact.
      case d: DecimalType if d.scale == 0 && d.precision <= 18 => ()
      case d: DecimalType if d.scale == 0 => throw new IllegalArgumentException(
        s"$op: column '$colName' is ${d.simpleString}, whose values can exceed the long " +
          "range the banding arithmetic computes in (cast would yield null and silently " +
          "drop matches); reduce precision to <= 18 or cast to bigint with an explicit " +
          "range check first")
      case dt => throw new IllegalArgumentException(
        s"$op: column '$colName' must be an integral type for exact banding, found $dt; " +
          "cast fractional/timestamp domains to long units (e.g. epoch seconds) first")
    }
  }

  /** Spread a SMALL input across the session's cores before the band
    * explode + join multiply it (r15, guide §2.5 "input skew: one huge
    * unsplittable file ... repartition immediately after the read"): a
    * single-row-group parquet file scans as ONE non-empty task, and the
    * banded join's candidate stream (tens of millions of condition
    * evaluations from a few hundred thousand input rows) then runs
    * single-threaded — measured 5.6 s → sub-second at sf0.1 parallelism.
    * Conditional so it can never hurt at scale: only fires when the
    * optimizer's size estimate says the exchange is pocket change
    * (≤ 16 MB/core); a 100 TB relation keeps its thousands of partitions
    * and never pays a shuffle. An input already read from at least one
    * file per core is left alone too (x36 over an 8-file copy of sf0.1
    * on local[4]: 1.79 s without the exchange, 1.97 s with it, medians of
    * 12). The file count stands
    * in for the scan's partition count, which would build the input's RDD
    * and, under AQE, run its upstream shuffles while the query is still
    * being built; `inputFiles` reads only the cached file listing.
    * Value-neutral: repartition changes row placement, never the row set. */
  private def spread(df: DataFrame): DataFrame = {
    val target = df.sparkSession.sparkContext.defaultParallelism
    val bytes = df.queryExecution.optimizedPlan.stats.sizeInBytes
    if (bytes <= BigInt(target.toLong * 16L * 1024 * 1024) && df.inputFiles.length < target)
      df.repartition(target)
    else df
  }

  /** Join each point row to every interval row with
    * `start <= point < end` (half-open, INTEGRAL domain — epoch
    * seconds/ns, genomic coordinates). Because the end is exclusive, an
    * interval's last member is `end - 1`, so it bands to
    * `floor((end-1)/bucketWidth)` — banding through `floor(end/
    * bucketWidth)` would mint a useless extra replica whenever the
    * endpoint sits exactly on a bucket boundary. Zero-length intervals
    * `[s, s)` are EMPTY sets and are dropped up front (they can contain
    * no point). Output = point columns ++ interval columns (names must
    * not clash). */
  def pointInInterval(
      points: DataFrame, pointCol: String,
      intervals: DataFrame, startCol: String, endCol: String,
      bucketWidth: Long): DataFrame = {
    require(bucketWidth > 0, "pointInInterval: bucketWidth must be positive")
    requireIntegral(points, pointCol, "pointInInterval")
    requireIntegral(intervals, startCol, "pointInInterval")
    requireIntegral(intervals, endCol, "pointInInterval")
    // band arithmetic on a long cast: identity for native integrals, and
    // the form `sequence` accepts for scale-0 decimals (whose division
    // would otherwise stay DECIMAL); the exactness predicate below still
    // compares the raw columns
    // points are NOT spread: the probe side does O(n) hash lookups with
    // no band explosion, so a degenerate scan layout costs little there —
    // x10 measured the unconditional point-side spread as a net loss
    // (0.79 → 1.16 s); only the exploding interval side multiplies work
    val p = points.withColumn("__band",
      floor(col(pointCol).cast("long") / bucketWidth))
    val iv = spread(intervals)
      .where(col(startCol) < col(endCol))
      .withColumn("__band",
        explode(sequence(
          floor(col(startCol).cast("long") / bucketWidth),
          floor((col(endCol).cast("long") - 1) / bucketWidth))))
    p.join(iv, Seq("__band"))
      .where(col(pointCol) >= col(startCol) && col(pointCol) < col(endCol))
      .drop("__band")
  }

  /** Interval × interval OVERLAP join (the genomics / ad-session shape):
    * every (left, right) pair whose half-open INTEGRAL ranges truly
    * intersect. Same banding trick as [[pointInInterval]] — an interval
    * occupies bands `floor(s/W) .. floor((e-1)/W)` (exclusive endpoint) —
    * with the classic exactly-once rule for pairs that share SEVERAL
    * bands: a pair is emitted only in the band holding the overlap's
    * START, `floor(max(ls, rs) / bucketWidth)`. That band lies inside
    * both intervals' band spans: overlap implies max(ls,rs) < min(le,re),
    * hence (integral domain) max(ls,rs) <= le-1 and <= re-1, so no match
    * is lost and none duplicates; no post-join dedup shuffle. Zero-length
    * intervals `[s, s)` are empty sets — the bare `ls < re && rs < le`
    * predicate would wrongly emit one against any interval containing s
    * (the intersection is empty), so they are dropped up front on BOTH
    * sides. Replication stays span/bucketWidth + 1 per row, the join is
    * a plain band equi-join. Column names must not clash. */
  def intervalOverlap(
      left: DataFrame, leftStart: String, leftEnd: String,
      right: DataFrame, rightStart: String, rightEnd: String,
      bucketWidth: Long): DataFrame = {
    require(bucketWidth > 0, "intervalOverlap: bucketWidth must be positive")
    requireIntegral(left, leftStart, "intervalOverlap")
    requireIntegral(left, leftEnd, "intervalOverlap")
    requireIntegral(right, rightStart, "intervalOverlap")
    requireIntegral(right, rightEnd, "intervalOverlap")
    def banded(df: DataFrame, s: String, e: String): DataFrame =
      spread(df).where(col(s) < col(e))
        .withColumn("__band",
          explode(sequence(
            floor(col(s).cast("long") / bucketWidth),
            floor((col(e).cast("long") - 1) / bucketWidth))))
    banded(left, leftStart, leftEnd).join(banded(right, rightStart, rightEnd), Seq("__band"))
      .where(col(leftStart) < col(rightEnd) && col(rightStart) < col(leftEnd) &&
        col("__band") === floor(
          greatest(col(leftStart).cast("long"), col(rightStart).cast("long")) / bucketWidth))
      .drop("__band")
  }
}
