package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoders}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import graft.dedup.MinHash

/** Structured Streaming surface (SURVEY §2.10: the reference's fold model —
  * incremental step + associative merge — is exactly Spark's streaming
  * partial-aggregation contract, so the batch agg layer runs on streams
  * unchanged).
  *
  * Every transform here takes a DataFrame and works in BOTH batch and
  * streaming execution: the driver's correctness gate runs them as batch
  * queries over the `events` parquet; the test suite runs the same code
  * over a `MemoryStream` with watermarks. That one-definition/two-runtimes
  * property is the design goal — it is how a 100 TB backfill and the live
  * stream share one query definition.
  */
object Streaming {

  /** events.ts arrives as BIGINT nanoseconds (TESTDATA parquet is
    * nanos; read with nanosAsLong). → TimestampType seconds. */
  def nanosToTimestamp(tsNanos: String): org.apache.spark.sql.Column =
    timestamp_seconds(expr(s"$tsNanos div 1000000000"))

  /** Epoch seconds from an event-time column, whatever its physical type:
    * BIGINT nanoseconds (parquet TIMESTAMP(NANOS) read back under
    * `nanosAsLong` — the original TESTDATA encoding), TIMESTAMP, or
    * TIMESTAMP_NTZ (naive micros, interpreted in the session time zone —
    * query sessions pin UTC, matching DuckDB's `epoch_ns` on naive
    * timestamps). Both paths FLOOR-divide (`unix_seconds` floor-divides
    * micros), so the two physical encodings of one instant agree exactly. */
  def epochSeconds(df: DataFrame, tsCol: String = "ts"): Column =
    df.schema(tsCol).dataType match {
      // (ts - pmod(ts, 1e9)) div 1e9 is floorDiv in pure long arithmetic:
      // plain `div` truncates toward zero, which disagrees with the
      // timestamp branch (and DuckDB's epoch_ns floor) on pre-1970
      // instants; a double division would lose precision past 2^53 ns
      case org.apache.spark.sql.types.LongType =>
        expr(s"($tsCol - pmod($tsCol, 1000000000)) div 1000000000")
      case _ => unix_seconds(col(tsCol).cast(org.apache.spark.sql.types.TimestampType))
    }

  /** Whole-second event-time column (TimestampType) from `tsCol` —
    * sub-second precision truncated so batch, streaming, and the
    * seconds-granularity oracles all agree regardless of the source's
    * physical encoding. */
  def eventTime(df: DataFrame, tsCol: String = "ts"): Column =
    timestamp_seconds(epochSeconds(df, tsCol))

  /** Tumbling or sliding event-time window aggregation with a watermark:
    * count + sum per (window, event_type). `slide` = None tumbles; Some
    * overlaps — each event lands in len/slide windows (Spark's window()
    * assigns them all at once; state per open window, expired by the
    * watermark). Emits `window_start_s` as epoch seconds (a timezone-free
    * representation for cross-engine comparison). */
  def windowedEventAgg(
      events: DataFrame, windowLen: String, watermark: String,
      slide: Option[String] = None): DataFrame =
    events
      .withColumn("event_time", eventTime(events, "ts"))
      .withWatermark("event_time", watermark)
      .groupBy(
        slide.fold(window(col("event_time"), windowLen))(
          s => window(col("event_time"), windowLen, s)).as("w"),
        col("event_type"))
      .agg(count(lit(1)).as("n_events"), sum(col("value")).as("sum_value"))
      .select(
        unix_timestamp(col("w.start")).as("window_start_s"),
        col("event_type"), col("n_events"), col("sum_value"))

  /** Streaming heavy hitters per event-time window — the mergeable-sketch
    * family meets streaming: the Space-Saving summary
    * ([[graft.folds.Aggregators.spaceSaving]]) as the ONE stateful
    * aggregation, so state per open window is `capacity` entries no
    * matter how many events arrive (an exact windowed top-k would hold
    * every distinct key). Exact — and therefore batch-oracle-checkable —
    * whenever `capacity` ≥ the window's distinct keys (the t13 regime);
    * otherwise the documented Space-Saving overestimate bounds apply.
    * Batch and streaming share this definition (one definition, two
    * runtimes). Output: (window_start_s, rank, event_type, est_count). */
  def windowedHeavyHitters(
      events: DataFrame, windowLen: String, watermark: String,
      capacity: Int = 64, topN: Int = 5): DataFrame = {
    val hh = graft.folds.Aggregators.asColumn(
      graft.folds.Aggregators.spaceSaving(capacity, topN), col("event_type"))(
      org.apache.spark.sql.Encoders.STRING)
    events
      .withColumn("event_time", eventTime(events, "ts"))
      .withWatermark("event_time", watermark)
      .groupBy(window(col("event_time"), windowLen).as("w"))
      .agg(hh.as("__hh"))
      .select(unix_timestamp(col("w.start")).as("window_start_s"),
        posexplode(col("__hh")).as(Seq("__i", "__e")))
      .select(col("window_start_s"), (col("__i") + 1).cast("int").as("rank"),
        col("__e._1").as("event_type"), col("__e._2").as("est_count"))
  }

  /** Streaming dedup: first occurrence per key within the watermark bound —
    * the streaming face of exact dedup. `dropDuplicatesWithinWatermark`
    * keys the state store by `keyCols` alone (a re-delivered event with a
    * slightly different timestamp — the normal at-least-once duplicate —
    * is still dropped) and expires state by the watermark. */
  def streamingDedup(events: DataFrame, watermark: String, keyCols: Seq[String]): DataFrame =
    events
      .withColumn("event_time", eventTime(events, "ts"))
      .withWatermark("event_time", watermark)
      .dropDuplicatesWithinWatermark(keyCols)

  /** `event_time` duplicates ts_s as a timestamp: the watermark is defined
    * on it, and the watermark ATTRIBUTE must still be present in the input
    * of `flatMapGroupsWithState` for event-time timeouts to be legal —
    * dropping the column would drop the watermark tag with it. */
  final case class SessionInput(
      user_id: Long, ts_s: Long, value: Double, event_time: java.sql.Timestamp)

  /** One closed session — same shape and column names as the batch window
    * sessionization (x14), so the two share one oracle. `session_seq`
    * starts at 0 per user (the running count of gap-triggered session
    * starts, matching `sum(new_sess)` in the window formulation). */
  final case class SessionOut(
      user_id: Long, session_seq: Long, n_events: Long,
      sum_value: Double, start_s: Long, end_s: Long)
  /** Internal open-session state (public: the state-store codegen
    * instantiates it from generated code outside this object). */
  final case class OpenSession(
      seq: Long, n: Long, sum: Double, startS: Long, endS: Long)

  /** sum_value rounded exactly like `round(sum(value), 9)` (shortest
    * decimal repr, HALF_UP) so batch/stream/oracle all hash-agree despite
    * accumulation-order ULP noise. */
  private def round9(x: Double): Double =
    java.math.BigDecimal.valueOf(x).setScale(9, java.math.RoundingMode.HALF_UP).doubleValue

  /** Custom sessionization state machine via `flatMapGroupsWithState` — the
    * `KeyValueGroupedDataset` custom-state escape hatch (the streaming
    * analog of the reference's arbitrary per-group folds). Sessions split
    * after `gapSeconds` of event-time inactivity.
    *
    * DETERMINISTIC, unlike a processing-time formulation: session
    * boundaries depend only on event times. In streaming execution a
    * session is emitted when it is CLOSED — either a later event of the
    * same user arrives past the gap (inline split) or the event-time
    * watermark passes `end_s + gapSeconds` (`EventTimeTimeout`). In batch
    * execution the input is complete, so every session is final: the tail
    * session per user is emitted too, making batch output identical to the
    * batch window sessionization (x14) — which is the oracle.
    *
    * `events` needs (ts: nanos long, user_id: long, value: double). */
  def sessionizeEventTime(
      events: DataFrame, gapSeconds: Long, watermark: String): Dataset[SessionOut] = {
    val isStreaming = events.isStreaming
    val typed = events
      .withColumn("event_time", eventTime(events, "ts"))
      .withWatermark("event_time", watermark)
      .select(col("user_id"), epochSeconds(events, "ts").as("ts_s"), col("value"),
        col("event_time"))
      .as[SessionInput](Encoders.product[SessionInput])
    implicit val stateEnc = Encoders.product[OpenSession]
    implicit val outEnc = Encoders.product[SessionOut]
    typed
      .groupByKey(_.user_id)(Encoders.scalaLong)
      .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.EventTimeTimeout)(
        (userId: Long, rows: Iterator[SessionInput], state: GroupState[OpenSession]) => {
          def emit(o: OpenSession): SessionOut =
            SessionOut(userId, o.seq, o.n, round9(o.sum), o.startS, o.endS)
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator.single(emit(s))
          } else {
            // gap splits depend only on ts_s, and (sum, min, max, count)
            // are order-invariant within a session up to ULPs round9
            // absorbs — so the output is deterministic although the
            // iterator order isn't
            val sorted = rows.toArray.sortBy(_.ts_s)
            val closed = Seq.newBuilder[SessionOut]
            var open = state.getOption
            for (e <- sorted) {
              open = open match {
                case None => Some(OpenSession(0L, 1L, e.value, e.ts_s, e.ts_s))
                case Some(o) if e.ts_s - o.endS > gapSeconds =>
                  closed += emit(o)
                  Some(OpenSession(o.seq + 1, 1L, e.value, e.ts_s, e.ts_s))
                case Some(o) =>
                  Some(o.copy(n = o.n + 1, sum = o.sum + e.value,
                    endS = math.max(o.endS, e.ts_s)))
              }
            }
            open match {
              case Some(o) if isStreaming =>
                state.update(o)
                // close when the watermark passes the gap bound (must stay
                // strictly above the current watermark)
                state.setTimeoutTimestamp(
                  math.max((o.endS + gapSeconds) * 1000L + 1L,
                    state.getCurrentWatermarkMs() + 1L))
                closed.result().iterator
              case Some(o) => // batch: input complete — the tail is final
                (closed.result() :+ emit(o)).iterator
              case None => closed.result().iterator
            }
          }
        })
  }

  /** Watermarked stream-stream interval join: pair each left event with
    * the right events of the same user landing within `windowSeconds` at
    * or after it. The time-range join condition plus BOTH watermarks is
    * what makes the state store bounded in streaming execution: a buffered
    * right event can be evicted once the left watermark passes
    * `r_time`, a left event once the right watermark passes
    * `l_time + windowSeconds`. In batch the same definition is a plain
    * equi+range join (watermarks are no-ops) — one definition, two
    * runtimes, like the rest of this module. */
  def eventIntervalJoin(
      left: DataFrame, right: DataFrame,
      watermark: String, windowSeconds: Long): DataFrame = {
    val l = left
      .withColumn("l_time", eventTime(left, "ts"))
      .withWatermark("l_time", watermark)
      .select(col("event_id").as("l_event_id"), col("user_id").as("l_user"),
        col("l_time"), col("value").as("l_value"))
    val r = right
      .withColumn("r_time", eventTime(right, "ts"))
      .withWatermark("r_time", watermark)
      .select(col("event_id").as("r_event_id"), col("user_id").as("r_user"),
        col("r_time"), col("value").as("r_value"))
    l.join(r,
      col("l_user") === col("r_user") &&
        col("r_time") >= col("l_time") &&
        col("r_time") <= col("l_time") + expr(s"INTERVAL $windowSeconds SECONDS"))
  }

  /** Streaming NEAR-dup detection: the minhash-LSH band registry.
    *
    * Each document's LSH band keys ([[graft.text.TextFunctions]] minhash
    * machinery — same family as batch d3) are exploded; the registry maps
    * every band key to the document that claimed it first. An incoming
    * document is a near-duplicate candidate iff it claims NO new band key,
    * i.e. its id never appears as a `keep_id` — which a downstream
    * consumer checks with an anti join against its own batch.
    *
    * Two runtimes, one band computation:
    *  - STREAMING: `dropDuplicatesWithinWatermark("band_key")` — state is
    *    one row per band key inside the watermark horizon (bounded), and
    *    "first" means first ARRIVAL — the real semantics of an append-only
    *    ingest stream. Caller must have a watermark on `events` already.
    *  - BATCH (complete input): "first" = smallest id — deterministic and
    *    order-independent, which is what a backfill needs (and what the
    *    DuckDB oracle replicates). Identical to the streaming answer
    *    whenever arrival order follows id order.
    *
    * At scale the registry state/shuffle is keyed by band_key (md5 —
    * uniform, no skew); each doc contributes `bands` rows, so state is
    * `bands ×` the within-watermark doc count, independent of corpus size.
    */
  def minhashBandRegistry(
      docs: DataFrame, idCol: String, textCol: String,
      shingleN: Int, k: Int, bands: Int, rows: Int): DataFrame = {
    import graft.text.TextFunctions._
    require(bands * rows == k, "minhashBandRegistry: bands*rows must equal k")
    // Band keys computed PER ROW with higher-order functions (the batch
    // d3 operator aggregates signatures across exploded shingle rows
    // instead — fine there, but here it would add a second stateful
    // stage to the streaming query). Same hash family as d3
    // (graft.dedup.MinHash), so the same oracle CTEs verify it.
    // tokens as a real column: element_at inside the shingle lambda would
    // otherwise re-evaluate split() once per element access
    val withH32 = docs
      .withColumn("__toks", tokens(col(textCol)))
      .where(size(col("__toks")) >= shingleN)
      .withColumn("h32s", transform(wordShingles(col("__toks"), shingleN), sh => MinHash.h32(sh)))
    val hashes = MinHash.hashes(k)
    val bandKeyCols = MinHash.bandKeys(bands, rows)(s =>
      array_min(transform(col("h32s"), hashes(s))))
    val exploded = withH32
      .withColumn("band_key", explode(array(bandKeyCols: _*)))
    if (docs.isStreaming)
      exploded
        .dropDuplicatesWithinWatermark(Seq("band_key"))
        .select(col("band_key"), col(idCol).as("keep_id"))
    else
      exploded.groupBy(col("band_key")).agg(min(col(idCol)).as("keep_id"))
  }

  /** Latest-state-by-key: materialize the current row per key from a
    * (possibly out-of-order) change stream — the streaming face of
    * [[graft.operators.CdcMerge]]'s upsert half, and the standard CDC
    * materialized view. One mergeable aggregate: `max(struct(orderCols,
    * payloadCols))` compares lexicographically on the order columns
    * first, so the winner per key is deterministic whenever `orderCols`
    * is a total order within the key (pass a tiebreaker column if the
    * version alone can collide). Works identically in batch and in
    * streaming update/complete mode — max satisfies the zero/reduce/
    * merge contract, so out-of-order and re-delivered changes converge
    * to the same answer. State is one struct per key, not per change. */
  def latestByKey(
      changes: DataFrame, keyCols: Seq[String],
      orderCols: Seq[String], payloadCols: Seq[String]): DataFrame = {
    require(keyCols.nonEmpty && orderCols.nonEmpty,
      "latestByKey: need key and order columns")
    val ordered = (orderCols ++ payloadCols).map(col)
    changes
      .groupBy(keyCols.map(col): _*)
      .agg(max(struct(ordered: _*)).as("__latest"))
      .select(keyCols.map(col) ++ (orderCols ++ payloadCols).map(c =>
        col(s"__latest.$c").as(c)): _*)
  }

  /** [[latestByKey]]'s mirror: the FIRST row per key under `orderCols` —
    * the deterministic batch face of first-occurrence dedup
    * ([[streamingDedup]] keeps the first ARRIVAL, which equals this
    * whenever delivery respects event-time order; StreamingSpec pins the
    * equivalence). Same min(struct) shape: one struct per key crosses the
    * shuffle, map-side combined, monoid-mergeable. */
  def firstByKey(
      changes: DataFrame, keyCols: Seq[String],
      orderCols: Seq[String], payloadCols: Seq[String]): DataFrame = {
    require(keyCols.nonEmpty && orderCols.nonEmpty,
      "firstByKey: need key and order columns")
    val ordered = (orderCols ++ payloadCols).map(col)
    changes
      .groupBy(keyCols.map(col): _*)
      .agg(min(struct(ordered: _*)).as("__first"))
      .select(keyCols.map(col) ++ (orderCols ++ payloadCols).map(c =>
        col(s"__first.$c").as(c)): _*)
  }
}
