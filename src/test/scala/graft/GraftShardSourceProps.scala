package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._
import org.scalacheck.{Gen, Prop, Properties, Test}

/** Randomized roundtrip law for the graftshard record codec — the most
  * hand-rolled byte-level code in the tree ([[graft.sources.v2
  * .ShardFormat.ShardWriter]] / the partition reader). The fixture
  * spec (GraftShardSourceSpec) pins the known edge cases; this
  * property walks the value space: nulls in any column, empty/unicode
  * strings, empty binary, NaN/±Inf doubles and floats, Long/Int
  * extremes, and empty float arrays. Write → read → canonical
  * equality, bit-level for floating point (NaN ≠ NaN under ==, so
  * values compare via raw bits).
  *
  * SPARK_GRAFT_PROPS_N=50+ escalates for a nightly-style deep run. */
object GraftShardSourceProps extends Properties("GraftShardSource") {
  private lazy val spark = TestSpark.spark

  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(
      sys.env.get("SPARK_GRAFT_PROPS_N").map(_.toInt).getOrElse(6))

  private val schema = StructType(Seq(
    StructField("c_long", LongType, nullable = true),
    StructField("c_int", IntegerType, nullable = true),
    StructField("c_double", DoubleType, nullable = true),
    StructField("c_float", FloatType, nullable = true),
    StructField("c_bool", BooleanType, nullable = true),
    StructField("c_str", StringType, nullable = true),
    StructField("c_bin", BinaryType, nullable = true),
    StructField("c_vec", ArrayType(FloatType, containsNull = false), nullable = true),
    // round-14 type tier: epoch-micros longs (ts), epoch-day ints
    // (date), unscaled longs (decimal <= 18) behind their own tags
    StructField("c_ts", TimestampType, nullable = true),
    StructField("c_date", DateType, nullable = true),
    StructField("c_dec", DecimalType(10, 3), nullable = true),
    // round-14 token-array tier: tags 12/13 share the embedding cell
    // layout; the law walks empty arrays, extremes, and null cells
    StructField("c_toks", ArrayType(IntegerType, containsNull = false), nullable = true),
    StructField("c_toks64", ArrayType(LongType, containsNull = false), nullable = true)))

  private def opt[A](g: Gen[A]): Gen[Any] =
    Gen.frequency(4 -> g.map(_.asInstanceOf[Any]), 1 -> Gen.const(null: Any))

  private val longGen = Gen.oneOf(
    Gen.const(Long.MinValue), Gen.const(Long.MaxValue), Gen.const(0L),
    Gen.chooseNum(-1000000L, 1000000L))
  private val intGen = Gen.oneOf(
    Gen.const(Int.MinValue), Gen.const(Int.MaxValue), Gen.chooseNum(-1000, 1000))
  private val doubleGen = Gen.oneOf(
    Gen.const(Double.NaN), Gen.const(Double.PositiveInfinity),
    Gen.const(Double.NegativeInfinity), Gen.const(-0.0),
    Gen.chooseNum(-1e12, 1e12), Gen.const(Double.MinPositiveValue))
  private val floatGen = Gen.oneOf(
    Gen.const(Float.NaN), Gen.const(Float.PositiveInfinity),
    Gen.const(-0.0f), Gen.chooseNum(-1e6f, 1e6f))
  private val strGen = Gen.oneOf(
    Gen.const(""), Gen.alphaNumStr.map(_.take(40)),
    Gen.const("héllо wörld ☃ 😀"), // accents, snowman, emoji
    Gen.listOfN(5, Gen.choose('\u0100', '\ud7ff')).map(_.mkString)) // BMP, no surrogates
  private val binGen = Gen.oneOf(
    Gen.const(Array.empty[Byte]),
    Gen.listOfN(16, Gen.choose(Byte.MinValue, Byte.MaxValue)).map(_.toArray))
  private val vecGen = Gen.oneOf(
    Gen.const(Seq.empty[Float]),
    Gen.listOfN(4, floatGen).map(_.toSeq))
  private val tsGen = Gen.oneOf(
    Gen.const(0L), Gen.const(-1L), // epoch boundary, pre-epoch floor
    Gen.chooseNum(-1000000000000L, 2000000000000000L)) // ~1969..2033 micros
    .map(org.apache.spark.sql.catalyst.util.DateTimeUtils.toJavaTimestamp)
  private val dateGen = Gen.oneOf(
    Gen.const(0), Gen.const(-1), Gen.chooseNum(-50000, 50000))
    .map(d => java.sql.Date.valueOf(java.time.LocalDate.ofEpochDay(d.toLong)))
  private val decGen = Gen.oneOf(
    Gen.const(9999999999L), Gen.const(-9999999999L), Gen.const(0L), // (10,3) extremes
    Gen.chooseNum(-1000000L, 1000000L))
    .map(u => new java.math.BigDecimal(java.math.BigInteger.valueOf(u), 3))

  private val toksGen = Gen.oneOf(
    Gen.const(Seq.empty[Int]),
    Gen.listOfN(5, intGen).map(_.toSeq))
  private val toks64Gen = Gen.oneOf(
    Gen.const(Seq.empty[Long]),
    Gen.listOfN(3, longGen).map(_.toSeq))

  private val rowGen: Gen[Row] = for {
    l <- opt(longGen); i <- opt(intGen); d <- opt(doubleGen); f <- opt(floatGen)
    b <- opt(Gen.oneOf(true, false)); s <- opt(strGen); bin <- opt(binGen)
    v <- opt(vecGen); ts <- opt(tsGen); dt <- opt(dateGen); dec <- opt(decGen)
    tk <- opt(toksGen); tk64 <- opt(toks64Gen)
  } yield Row(l, i, d, f, b, s, bin, v, ts, dt, dec, tk, tk64)

  private val dfGen = Gen.chooseNum(0, 25).flatMap(n => Gen.listOfN(n, rowGen))
  // chunk codec mode randomized per write: the dict and deflate encoders
  // must be invisible to every reader-visible law (codec 2 is the
  // newest hand-rolled byte code — the value space walks its dictionary
  // build, bail-out, and decode paths incl. empty/unicode strings)
  private val codecGen = Gen.oneOf("none", "dict", "deflate")

  /** Canonical form: floating point by raw bits (NaN-stable), binary by
    * seq, arrays elementwise by float bits. */
  private def canon(r: Row): Seq[Any] = Seq(
    r.get(0), r.get(1),
    Option(r.get(2)).map(d => java.lang.Double.doubleToLongBits(
      d.asInstanceOf[Double])).orNull,
    Option(r.get(3)).map(f => java.lang.Float.floatToIntBits(
      f.asInstanceOf[Float])).orNull,
    r.get(4), r.get(5),
    Option(r.get(6)).map(_.asInstanceOf[Array[Byte]].toSeq).orNull,
    Option(r.get(7)).map(_.asInstanceOf[scala.collection.Seq[Float]]
      .map(java.lang.Float.floatToIntBits).toSeq).orNull,
    // temporal/decimal by string: stable across the boxed flavors
    Option(r.get(8)).map(_.toString).orNull,
    Option(r.get(9)).map(_.toString).orNull,
    Option(r.get(10)).map(_.toString).orNull,
    // integer arrays are exact — elementwise by value
    Option(r.get(11)).map(_.asInstanceOf[scala.collection.Seq[Int]].toSeq).orNull,
    Option(r.get(12)).map(_.asInstanceOf[scala.collection.Seq[Long]].toSeq).orNull)

  private lazy val dirBase = TestSpark.tempDir("graft_shardprops") + "/t"
  private var n = 0

  property("write -> read roundtrip over the full supported value space") =
    Prop.forAll(dfGen, codecGen) { (rows, codec) =>
      n += 1
      val dir = s"${dirBase}_$n"
      val df = spark.createDataFrame(
        spark.sparkContext.parallelize(rows, numSlices = math.max(1, rows.size / 7)),
        schema)
      df.write.format("graftshard").option("compression", codec)
        .mode("overwrite").save(dir)
      val back = spark.read.format("graftshard").load(dir)
      val exp = rows.map(canon).sortBy(_.toString())
      val got = back.collect().toSeq.map(canon).sortBy(_.toString())
      val ok = got == exp
      if (!ok) println(s"MISMATCH dir=$dir codec=$codec\n  exp=$exp\n  got=$got")
      // raw-bits check against the written rows: the batch decode covers
      // the FULL schema (array<float> included) and FILTERED scans —
      // both must be value-identical to what was written, for every
      // random payload and codec
      val scalarCols = schema.fieldNames.filterNot(_ == "c_vec")
      // raw-bits view: strictly exact AND NaN-safe (Scala's Any == on
      // boxed floats is numeric, so NaN != NaN would flag equal cells)
      def normed(df: org.apache.spark.sql.DataFrame): Seq[Seq[Any]] =
        df.selectExpr(scalarCols: _*).collect().toSeq
          .map(_.toSeq.map {
            case b: Array[Byte] => b.toSeq
            case f: java.lang.Float => java.lang.Float.floatToRawIntBits(f)
            case d: java.lang.Double => java.lang.Double.doubleToRawLongBits(d)
            case x => x
          }).sortBy(_.toString())
      val viaBatch = normed(spark.read.format("graftshard").load(dir))
      val written = normed(df)
      val abOk = viaBatch == written
      if (!abOk) println(s"COLREAD MISMATCH dir=$dir codec=$codec\n" +
        s"  batch=$viaBatch\n  written=$written")
      // filtered (absorbed predicates evaluate against the decoded
      // batch): a value-dependent range, a null-test conjunct, and an
      // IsNull — each must match Spark's own filter over the written
      // rows exactly, INCLUDING the vector column riding along
      import org.apache.spark.sql.functions.col
      def canonAll(df: org.apache.spark.sql.DataFrame): Seq[Seq[Any]] =
        df.collect().toSeq.map(canon).sortBy(_.toString())
      val pivot = rows.flatMap(r => Option(r.get(0)).map(_.asInstanceOf[Long]))
        .sorted.drop(rows.size / 3).headOption.getOrElse(0L)
      val preds = Seq(
        col("c_long") >= pivot,
        col("c_str").isNotNull && col("c_long") < pivot,
        col("c_int").isNull,
        // the round-14 types: decimal in unscaled space (off-grid
        // literal), timestamp nullness, a date range
        col("c_dec") >= BigDecimal("0.0005"),
        col("c_ts").isNotNull && col("c_date") < java.sql.Date.valueOf("2000-01-01"))
      val fOk = preds.forall { p =>
        val fb = canonAll(spark.read.format("graftshard").load(dir).where(p))
        val fr = canonAll(df.where(p))
        val same = fb == fr
        if (!same) println(s"FILTERED COLREAD MISMATCH dir=$dir codec=$codec pred=$p\n" +
          s"  batch=$fb\n  written=$fr")
        same
      }
      ok && abOk && fOk
    }
}
