package graft.aggregation

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.core.SchemaOps
import graft.folds.NamedAgg

/** Key-recoding aggregation (reference `Frames.Aggregation`,
  * `src/Frames/Aggregation.hs`): re-map fine-grained key columns to coarse
  * key columns (age → age band, date → decade) and aggregate the data over
  * the merged groups. The whole pattern compiles to ONE `select` (the
  * recode) + ONE `groupBy().agg()` (one shuffle) — the reference's General
  * variant nests an outer group-by around an inner map-reduce
  * (`src/Frames/Aggregation/General.hs:191-196`), which SURVEY §2.4 flags
  * as an artifact; we intentionally emit the flat single-shuffle plan.
  */
object Aggregation {

  /** ≙ `RecordKeyMap k k'` (reference `src/Frames/Aggregation.hs:63`): a
    * recoding from `consumed` old key columns to new key columns, each new
    * column an aliased expression over the old ones. */
  final case class KeyRecode(consumed: Seq[String], produced: Seq[(String, Column)]) {
    def producedNames: Seq[String] = produced.map(_._1)
  }

  /** ≙ `keyMap` (reference `src/Frames/Aggregation.hs:78-83`): lift a
    * single-column recode expression `from → to`. Prefer native
    * `when/otherwise` expressions over UDFs so the recode stays inside
    * whole-stage codegen and constant-foldable. */
  def keyMap(from: String, to: String)(f: Column => Column): KeyRecode =
    KeyRecode(Seq(from), Seq(to -> f(col(from))))

  /** ≙ `combineKeyAggregations` (reference
    * `src/Frames/Aggregation.hs:68-74`): product of two recoders over
    * disjoint column sets. */
  def combineKeyAggregations(a: KeyRecode, b: KeyRecode): KeyRecode = {
    SchemaOps.requireDisjoint(a.consumed, b.consumed, "combineKeyAggregations(consumed)")
    SchemaOps.requireDisjoint(a.producedNames, b.producedNames, "combineKeyAggregations(produced)")
    KeyRecode(a.consumed ++ b.consumed, a.produced ++ b.produced)
  }

  /** The identity recode on `cols` (the reference uses `id` for the
    * constant keys in `aggregateFold`, `src/Frames/Aggregation.hs:136`). */
  def idRecode(cols: Seq[String]): KeyRecode =
    KeyRecode(cols, cols.map(c => c -> col(c)))

  /** ≙ `aggregateAllFold` (reference `src/Frames/Aggregation.hs:109-121`):
    * recode all keys, drop the old key columns, group by the new keys,
    * aggregate `dataAggs`. One shuffle. */
  def aggregateAllFold(df: DataFrame, recode: KeyRecode, dataAggs: Seq[NamedAgg]): DataFrame = {
    SchemaOps.requireSubset(df.schema, recode.consumed, "aggregateAllFold(recode)")
    require(dataAggs.nonEmpty, "aggregateAllFold: need at least one aggregate")
    val keep = SchemaOps.complement(df.schema, recode.consumed)
    SchemaOps.requireDisjoint(recode.producedNames, keep, "aggregateAllFold(produced vs kept)")
    val projected = df.select(recode.produced.map { case (n, e) => e.as(n) } ++ keep.map(col): _*)
    projected
      .groupBy(recode.producedNames.map(col): _*)
      .agg(dataAggs.head.column, dataAggs.tail.map(_.column): _*)
  }

  /** ≙ `aggregateFold @k` (reference `src/Frames/Aggregation.hs:130-136`):
    * hold constant key columns `constKeys` fixed, recode the remaining keys,
    * group by `constKeys ++ recoded`. Implemented exactly as the reference's
    * definition — the product of the identity recode on `constKeys` with
    * `recode` — but compiled flat (single groupBy, no nested grouping). */
  def aggregateFold(
      df: DataFrame, constKeys: Seq[String], recode: KeyRecode, dataAggs: Seq[NamedAgg]): DataFrame =
    aggregateAllFold(df, combineKeyAggregations(idRecode(constKeys), recode), dataAggs)
}
