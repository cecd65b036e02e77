package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._
import org.scalacheck.{Gen, Prop, Properties, Test}

/** Randomized schema-evolution law for graftshard: a fresh table walks
  * an arbitrary LEGAL sequence of appends, ADD/DROP/RENAME COLUMN,
  * int→long widenings, and compactions, and at every step the table
  * must read back exactly what an in-memory model says it holds —
  * values keyed by column IDENTITY (the field-id semantics), not by
  * name, so a renamed column must keep serving its old files' bytes
  * and a widened column must serve both eras' widths.
  *
  * The fixture spec (GraftShardSchemaEvolutionSpec) pins the known edge
  * cases and the refusal surfaces; this property walks the SEQUENCE
  * space — evolution bugs live in the interaction of operations
  * (rename after drop after append after widen), which no fixture
  * enumerates. Names are fresh-by-construction (never reused), so every
  * generated sequence is legal and a refusal here is a real bug.
  *
  * SPARK_GRAFT_PROPS_N=50+ escalates for a nightly-style deep run. */
object GraftShardEvolutionProps extends Properties("GraftShardEvolution") {
  private lazy val spark = {
    val s = TestSpark.spark
    s.conf.set("spark.sql.catalog.evprops", classOf[graft.sources.v2.GraftCatalog].getName)
    s.conf.set("spark.sql.catalog.evprops.warehouse", warehouse)
    s.sql("CREATE NAMESPACE IF NOT EXISTS evprops.fuzz")
    s
  }
  private lazy val warehouse = TestSpark.tempDir("graft_evolution_props")

  // column identity is positional-at-birth: the model tracks (name,
  // type) per live column and appends values by position
  private sealed trait ColType { def ddl: String }
  private case object CInt extends ColType { def ddl = "INT" }
  private case object CLong extends ColType { def ddl = "BIGINT" }
  private case object CStr extends ColType { def ddl = "STRING" }

  private final case class Col(name: String, tpe: ColType)

  private sealed trait Op
  private final case class Append(seed: Long, n: Int) extends Op
  private final case class Add(tpe: ColType) extends Op
  private final case class Drop(pick: Int) extends Op
  private final case class Rename(pick: Int) extends Op
  private final case class Widen(pick: Int) extends Op
  private case object Compact extends Op

  private val opGen: Gen[Op] = Gen.frequency(
    5 -> (for { s <- Gen.long; n <- Gen.chooseNum(1, 8) } yield Append(s, n)),
    2 -> Gen.oneOf[ColType](CInt, CLong, CStr).map(Add(_)),
    2 -> Gen.chooseNum(0, 1000).map(Drop(_)),
    3 -> Gen.chooseNum(0, 1000).map(Rename(_)),
    2 -> Gen.chooseNum(0, 1000).map(Widen(_)),
    1 -> Gen.const(Compact))

  private val seqGen: Gen[(Long, List[Op], String)] = for {
    seed <- Gen.long
    n <- Gen.chooseNum(4, 12)
    ops <- Gen.listOfN(n, opGen)
    // the chunk codecs must be invisible to evolution: a delta/RLE/dict-
    // encoded int chunk read under a widened/renamed schema is exactly
    // the interaction no fixture enumerates
    codec <- Gen.oneOf("none", "dict", "deflate")
  } yield (seed, ops, codec)

  private def valueFor(t: ColType, rnd: scala.util.Random): Any = t match {
    case _ if rnd.nextInt(5) == 0 => null
    case CInt => Int.box(rnd.nextInt(2001) - 1000)
    // post-widen appends must exercise values only BIGINT can hold
    case CLong => Long.box(
      if (rnd.nextBoolean()) rnd.nextLong() else (rnd.nextInt(2001) - 1000).toLong)
    case CStr => "s" + rnd.nextInt(100)
  }

  private def sparkType(t: ColType): DataType = t match {
    case CInt => IntegerType; case CLong => LongType; case CStr => StringType
  }

  /** Canonical row for order-free comparison: ints widen to Long so a
    * widened column compares across eras; nulls sort stably. */
  private def canon(vals: Seq[Any]): Seq[Any] = vals.map {
    case i: Int => Long.box(i.toLong)
    case i: java.lang.Integer => Long.box(i.toLong)
    case other => other
  }
  private def sortKey(r: Seq[Any]): String = r.map(String.valueOf).mkString("")

  property("any legal evolution sequence reads back exactly the model") =
    Prop.forAll(seqGen) { case (seed, ops, codec) =>
      val s = spark
      val rnd = new scala.util.Random(seed)
      val tbl = s"evprops.fuzz.t${java.util.UUID.randomUUID().toString.take(8)}"
      val dir = s"$warehouse/fuzz/${tbl.split('.').last}"
      var cols = Vector(Col("c0", CLong), Col("c1", CInt), Col("c2", CStr))
      var nextName = 3
      var rows = Vector.empty[Vector[Any]] // parallel to cols
      s.sql(s"CREATE TABLE $tbl (${cols.map(c => s"${c.name} ${c.tpe.ddl}").mkString(", ")}) " +
        s"USING graftshard TBLPROPERTIES ('compression' = '$codec')")
      def freshName(): String = { val n = s"c$nextName"; nextName += 1; n }
      def doAppend(n: Int): Unit = {
        val newRows = Vector.fill(n)(cols.map(c => valueFor(c.tpe, rnd)))
        val schema = StructType(cols.map(c =>
          StructField(c.name, sparkType(c.tpe), nullable = true)))
        val df = s.createDataFrame(
          java.util.Arrays.asList(newRows.map(r => Row(r: _*)): _*), schema)
        df.coalesce(1).writeTo(tbl).append()
        rows ++= newRows
      }
      doAppend(3) // every table starts with a pre-evolution era
      ops.foreach {
        case Append(_, n) => doAppend(n)
        case Add(t) =>
          val c = freshName()
          s.sql(s"ALTER TABLE $tbl ADD COLUMN $c ${t.ddl}")
          cols :+= Col(c, t)
          rows = rows.map(_ :+ null)
        case Drop(p) if cols.length > 1 =>
          val i = p % cols.length
          s.sql(s"ALTER TABLE $tbl DROP COLUMN ${cols(i).name}")
          cols = cols.patch(i, Nil, 1)
          rows = rows.map(r => r.patch(i, Nil, 1))
        case Drop(_) => ()
        case Rename(p) =>
          val i = p % cols.length
          val c = freshName()
          s.sql(s"ALTER TABLE $tbl RENAME COLUMN ${cols(i).name} TO $c")
          cols = cols.updated(i, cols(i).copy(name = c))
        case Widen(p) =>
          cols.zipWithIndex.collect { case (Col(n, CInt), i) => (n, i) } match {
            case ints if ints.nonEmpty =>
              val (n, i) = ints(p % ints.length)
              s.sql(s"ALTER TABLE $tbl ALTER COLUMN $n TYPE BIGINT")
              cols = cols.updated(i, cols(i).copy(tpe = CLong))
              rows = rows.map(r => r.updated(i,
                Option(r(i)).map(v => Long.box(v.asInstanceOf[Int].toLong)).orNull))
            case _ => ()
          }
        case Compact =>
          graft.sources.v2.GraftShardMaintenance.compact(s, dir, targetBytes = 1L << 20): Unit
      }
      val got = s.table(tbl).collect().toVector
        .map(r => canon((0 until r.length).map(r.get)))
        .sortBy(sortKey)
      val want = rows.map(canon).sortBy(sortKey)
      val schemaOk = s.table(tbl).schema.fields.map(f => (f.name, f.dataType)).toSeq ==
        cols.map(c => (c.name, sparkType(c.tpe))).toSeq
      s.sql(s"DROP TABLE $tbl")
      Prop(schemaOk && got == want) :| {
        s"cols=${cols.mkString(",")} schemaOk=$schemaOk\n got(${got.size})=${got.take(5)}\nwant(${want.size})=${want.take(5)}"
      }
    }

  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(
      sys.env.get("SPARK_GRAFT_PROPS_N").map(_.toInt).getOrElse(6))
}
