package graft.mapreduce

import org.apache.spark.sql.{Column, DataFrame, Encoders, Row}
import org.apache.spark.sql.catalyst.expressions.GenericRowWithSchema
import org.apache.spark.sql.functions._
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.StructType

import graft.core.SchemaOps
import graft.folds.NamedAgg

/** The Unpack stage: row → 0..n rows, i.e. filter / flatMap (reference
  * `MR.Unpack`, constructors at `src/Frames/MapReduce.hs:98-116`). Every
  * variant compiles to a native DataFrame transformation so Catalyst can
  * push predicates into the scan — the reference relies on the USER placing
  * the filter before grouping (manual pushdown, SURVEY §4.1); here the
  * optimizer does it regardless.
  */
sealed trait Unpack {
  def apply(df: DataFrame): DataFrame
  /** Compose: `this` then `next` (unpacks form a category). */
  def andThen(next: Unpack): Unpack = Unpack.Chain(this, next)
}

object Unpack {

  /** ≙ `unpackNoOp` (reference `src/Frames/MapReduce/General.hs:136-138`). */
  case object NoOp extends Unpack {
    def apply(df: DataFrame): DataFrame = df
  }

  /** ≙ `unpackFilterRow` (reference `src/Frames/MapReduce.hs:98-100`) —
    * whole-row predicate, expressed as a Catalyst `Column` so it stays
    * pushdown-eligible (not an opaque closure). */
  final case class FilterRow(pred: Column) extends Unpack {
    def apply(df: DataFrame): DataFrame = df.filter(pred)
  }

  /** ≙ `unpackFilterOnField @t` (reference `src/Frames/MapReduce.hs:103-108`):
    * predicate on one named column. */
  def filterOnField(field: String)(pred: Column => Column): Unpack =
    FilterRow(pred(col(field)))

  /** ≙ `unpackFilterOnGoodField` (reference
    * `src/Frames/MapReduce/General.hs:154-161`): keep row iff the field is
    * non-null AND passes the predicate. */
  def filterOnGoodField(field: String)(pred: Column => Column): Unpack =
    FilterRow(col(field).isNotNull && pred(col(field)))

  /** ≙ monomorphic `unpackGoodRows` (reference
    * `src/Frames/MapReduce.hs:112-116`): keep rows with no nulls in `cols`,
    * and project to `cols` (`F.recMaybe . F.rcast` does both). */
  final case class GoodRows(cols: Seq[String]) extends Unpack {
    def apply(df: DataFrame): DataFrame = {
      SchemaOps.requireSubset(df.schema, cols, "unpackGoodRows")
      df.na.drop("any", cols).select(cols.map(col): _*)
    }
  }

  /** ≙ `unpackGoodRecRows` (reference `src/Frames/MapReduce/Maybe.hs:70-74`):
    * drop rows with nulls in `cols` but keep ALL columns. */
  final case class GoodRecRows(cols: Seq[String]) extends Unpack {
    def apply(df: DataFrame): DataFrame = {
      SchemaOps.requireSubset(df.schema, cols, "unpackGoodRecRows")
      df.na.drop("any", cols)
    }
  }

  /** ≙ raw `MR.Unpack` row→rows (flatMap; used by the reference for
    * re-keying at `src/Frames/Aggregation.hs:116-118`). 1→n expansions
    * should prefer `explode`/`select`; this is the general escape hatch. */
  final case class Transform(f: DataFrame => DataFrame) extends Unpack {
    def apply(df: DataFrame): DataFrame = f(df)
  }

  final case class Chain(first: Unpack, second: Unpack) extends Unpack {
    def apply(df: DataFrame): DataFrame = second(first(df))
  }
}

/** The Assign stage: pick grouping-key columns and data columns (reference
  * `src/Frames/MapReduce.hs:120-149`). Resolution against the runtime schema
  * replaces the reference's type-level `rcast` / `RDeleteAll`.
  */
sealed trait Assign {
  /** → (key columns, data columns) resolved against `schema`. */
  def resolve(schema: StructType): (Seq[String], Seq[String])
}

object Assign {

  /** ≙ `assignKeysAndData` (reference `src/Frames/MapReduce.hs:120-125`):
    * independent key and data column subsets. */
  final case class KeysAndData(keys: Seq[String], data: Seq[String]) extends Assign {
    def resolve(schema: StructType): (Seq[String], Seq[String]) = {
      SchemaOps.requireSubset(schema, keys, "assignKeysAndData(keys)")
      SchemaOps.requireSubset(schema, data, "assignKeysAndData(data)")
      (keys, data)
    }
  }

  /** ≙ `assignKeys` (reference `src/Frames/MapReduce.hs:128-133`): key =
    * `keys`, data = the ENTIRE row (keys included). */
  final case class Keys(keys: Seq[String]) extends Assign {
    def resolve(schema: StructType): (Seq[String], Seq[String]) = {
      SchemaOps.requireSubset(schema, keys, "assignKeys")
      (keys, schema.fieldNames.toSeq)
    }
  }

  /** ≙ `splitOnKeys` (reference `src/Frames/MapReduce.hs:136-141`): key =
    * `keys`, data = complement (`RDeleteAll ks rs`). */
  final case class SplitOnKeys(keys: Seq[String]) extends Assign {
    def resolve(schema: StructType): (Seq[String], Seq[String]) = {
      SchemaOps.requireSubset(schema, keys, "splitOnKeys")
      (keys, SchemaOps.complement(schema, keys))
    }
  }

  /** ≙ `splitOnData` (reference `src/Frames/MapReduce.hs:144-149`, added
    * v0.4.0.0): data = `data`, key = complement. */
  final case class SplitOnData(data: Seq[String]) extends Assign {
    def resolve(schema: StructType): (Seq[String], Seq[String]) = {
      SchemaOps.requireSubset(schema, data, "splitOnData")
      (SchemaOps.complement(schema, data), data)
    }
  }
}

/** The Reduce stage: (key, grouped rows) → result rows with key columns
  * re-attached (reference `src/Frames/MapReduce.hs:152-191`). Three powers,
  * three very different costs at scale:
  *
  *  - [[Reduce.FoldAndAddKey]] → `groupBy().agg()` — hash aggregate with
  *    map-side partial aggregation; the ONLY variant that avoids shuffling
  *    raw rows. Always prefer it.
  *  - [[Reduce.ReduceAndAddKey]] (one output row per group) and
  *    [[Reduce.MakeRecsWithKey]] / [[Reduce.MakeRecsWithKeyM]] (many, e.g.
  *    per-group top-k) → arbitrary Scala per group, both through
  *    `MapReduce.grouped`'s `flatMapGroups`: a full shuffle of the
  *    projected rows and a sort of each reduce task's rows by key (the perf
  *    cliff documented in SURVEY §7.4). Cases expressible as window
  *    functions should use those instead.
  *
  * The grouped shuffle is a rebalance on the key columns into more buckets
  * than the session has task slots, so adaptive execution can give a few
  * large groups a task each instead of letting hash placement stack them
  * into one task's sort (see `MapReduce.grouped`). Rows are not grouped in
  * an in-heap hash map to skip that sort: the map would hold every row of
  * a task outside Spark's memory accounting, lowering the tracked peak
  * without lowering the memory used, where the sort spills.
  */
sealed trait Reduce

object Reduce {

  /** ≙ `foldAndAddKey` (reference `src/Frames/MapReduce.hs:162-167`): the
    * per-group fold is a list of named aggregate expressions, run in ONE
    * pass / ONE shuffle. Spark re-attaches key columns automatically. */
  final case class FoldAndAddKey(aggs: Seq[NamedAgg]) extends Reduce

  /** ≙ `reduceAndAddKey` (reference `src/Frames/MapReduce.hs:152-159`):
    * arbitrary (rows of the group) → one result tuple, with `outSchema`
    * describing the result columns (key columns are prepended by the
    * engine). */
  final case class ReduceAndAddKey(outSchema: StructType, f: Iterator[Row] => Seq[Any]) extends Reduce

  /** ≙ `makeRecsWithKey` (reference `src/Frames/MapReduce.hs:171-179`):
    * arbitrary (rows of the group) → MANY result tuples; key columns
    * prepended to each. */
  final case class MakeRecsWithKey(outSchema: StructType, f: Iterator[Row] => Iterator[Seq[Any]]) extends Reduce

  /** ≙ `makeRecsWithKeyM` / `ReduceM` (reference
    * `src/Frames/MapReduce.hs:183-191`): the monadic reduce. An arbitrary
    * monad does not distribute — effect ORDER across groups is undefined
    * on a cluster, which is why no reference call site instantiates one
    * (SURVEY §3.4). The two monads that DO make distributed sense are
    * covered:
    *  - Reader (per-task environment — a codec, model handle, connection):
    *    THIS variant. `init` builds the environment lazily ONCE per task
    *    (deserialized closure), every group's reduce reads it — the
    *    distributed meaning of `ReduceM (Reader env)`.
    *  - Identity (pure): use [[MakeRecsWithKey]].
    * True output effects (IO) belong in `df.foreachPartition` AFTER the
    * query — the documented recipe, not a Reduce. */
  final case class MakeRecsWithKeyM[C](
      outSchema: StructType,
      init: () => C,
      f: (C, Iterator[Row]) => Iterator[Seq[Any]]) extends Reduce {
    /** Serializable once-per-task lazy environment. */
    private class Env extends Serializable {
      @transient lazy val value: C = init()
    }
    private[mapreduce] def run: Iterator[Row] => Iterator[Seq[Any]] = {
      val env = new Env
      rows => f(env.value, rows)
    }
  }
}

/** ≙ `mapReduceFold` + `concatFold` + `MR.fold` (reference
  * `Readme.md:117`, `src/Frames/MapReduce.hs:203-205`): compose the three
  * stages into one DataFrame transformation chain. The result is a LAZY
  * logical plan — Catalyst applies pushdown/pruning across stage
  * boundaries, which is why the composer does no manual optimization.
  */
object MapReduce {

  def apply(df: DataFrame, unpack: Unpack, assign: Assign, reduce: Reduce): DataFrame = {
    val unpacked = unpack(df)
    val (keys, data) = assign.resolve(unpacked.schema)
    reduce match {
      case Reduce.FoldAndAddKey(aggs) =>
        require(aggs.nonEmpty, "foldAndAddKey: need at least one aggregate")
        // Single agg call = single-pass multi-aggregation (SURVEY §3.3).
        // No explicit projection to `data`: Catalyst's ColumnPruning keeps
        // only the columns the aggregates reference.
        if (keys.isEmpty)
          unpacked.agg(aggs.head.column, aggs.tail.map(_.column): _*)
        else
          unpacked.groupBy(keys.map(col): _*).agg(aggs.head.column, aggs.tail.map(_.column): _*)

      case Reduce.ReduceAndAddKey(outSchema, f) =>
        grouped(unpacked, keys, data, outSchema)((it: Iterator[Row]) => Iterator.single(f(it)))

      case Reduce.MakeRecsWithKey(outSchema, f) =>
        grouped(unpacked, keys, data, outSchema)(f)

      case m @ Reduce.MakeRecsWithKeyM(outSchema, _, _) =>
        grouped(unpacked, keys, data, outSchema)(m.run)
    }
  }

  /** Shared grouped `flatMapGroups` path for the arbitrary-Scala
    * reduces. Projects to keys ++ data FIRST (the reference's assign does
    * this projection too, `src/Frames/MapReduce.hs:124`) — with an opaque
    * closure downstream, Catalyst cannot prune columns for us, so we must.
    *
    * With keys, the rows are first rebalanced on the key columns
    * ([[spread]]): a group's rows still meet in one task, and
    * `flatMapGroups` reuses that exchange. Adaptive execution drops the
    * empty buckets and merges small ones up to about the total over the
    * cores. Its skew split never divides a group: a split read would not
    * satisfy the grouping's distribution, so adaptive execution keeps the
    * unsplit one.
    *
    * With no key columns every row is in one group: the rows are moved to
    * a single partition and `f` runs once over all of them (Spark's
    * grouped operators reject an empty grouping). An empty input yields no
    * rows, as in the keyed path — the reference groups into a `Map`, which
    * has no entry without rows. */
  private def grouped(
      df: DataFrame, keys: Seq[String], data: Seq[String], outSchema: StructType)(
      f: Iterator[Row] => Iterator[Seq[Any]]): DataFrame = {
    // Physical projection carries each column once; the reducer's data rows
    // follow `data` EXACTLY as Assign resolved it (keys included when the
    // Assign variant includes them, e.g. Assign.Keys) — fieldIndex maps a
    // key-named data column back to the single physical copy.
    val extraCols = data.filterNot(keys.contains)
    val projected = df.select((keys ++ extraCols).map(col): _*)
    val keySchema = StructType(keys.map(projected.schema(_)))
    val fullSchema = StructType(keySchema.fields ++ outSchema.fields)
    val dataIdx = data.map(projected.schema.fieldIndex).toArray
    val dataSchema = StructType(data.map(projected.schema(_)))

    val outEnc = Encoders.row(fullSchema)
    val toData = (r: Row) => new GenericRowWithSchema(dataIdx.map(r.get), dataSchema): Row

    if (keys.isEmpty)
      projected.repartition(1).mapPartitions { rows =>
        if (rows.isEmpty) Iterator.empty
        else f(rows.map(toData)).map(cells => new GenericRowWithSchema(cells.toArray, fullSchema): Row)
      }(outEnc).toDF()
    else
      // Group on the key COLUMNS, not a key closure: Catalyst groups the
      // projected rows directly, with no AppendColumns step deserialising
      // and re-serialising every row to compute the key. The value rows are
      // the full projection — a value encoder over the data columns alone
      // fails analysis (its deserializer must bind every input column).
      spread(projected, keys)
        .groupBy(keys.map(col): _*)
        .as[Row, Row](Encoders.row(keySchema), Encoders.row(projected.schema))
        .flatMapGroups { (k: Row, rows: Iterator[Row]) =>
          f(rows.map(toData)).map { cells =>
            new GenericRowWithSchema((k.toSeq ++ cells).toArray, fullSchema): Row
          }
        }(outEnc)
  }

  /** `df` rebalanced on `keys` into more buckets than task slots when
    * adaptive coalescing is on: `spark.sql.shuffle.partitions`, raised to
    * its default of 200 — enough that hash placement rarely puts two large
    * groups in one bucket, and still at most
    * `spark.shuffle.sort.bypassMergeThreshold` (200), so the map side keeps
    * its bypass writer. Without coalescing every bucket would run as a
    * task (and without adaptive execution Spark ignores the hint), so `df`
    * is returned as it is and the grouping plans its own hash exchange
    * over `spark.sql.shuffle.partitions`. */
  private def spread(df: DataFrame, keys: Seq[String]): DataFrame = {
    val conf = df.sparkSession.sessionState.conf
    if (conf.adaptiveExecutionEnabled && conf.coalesceShufflePartitionsEnabled) {
      val n = math.max(conf.numShufflePartitions, SQLConf.SHUFFLE_PARTITIONS.defaultValue.get)
      df.hint("rebalance", n +: keys.map(col): _*)
    } else df
  }
}
