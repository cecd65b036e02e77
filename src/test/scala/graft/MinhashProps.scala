package graft

import java.nio.charset.StandardCharsets
import java.security.MessageDigest

import org.scalacheck.{Gen, Prop, Properties, Test}

import graft.dedup.Dedup

/** Randomized equivalence: the distributed MinHash-LSH pipeline (one md5
  * per shingle → multiply-mod universal hash family → band keys → bucket
  * join → exact-Jaccard verify) must agree with a direct single-machine
  * replication of the identical algorithm. Guards the hash-family
  * arithmetic (32-bit prefix parse, overflow-free multiply-mod) and the
  * banding against regressions. */
object MinhashProps extends Properties("MinhashLsh") {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(6)

  private val shingleN = 3
  private val k = 12
  private val bands = 4
  private val rows = 3
  private val threshold = 0.5
  private val P = 4294967291L

  private val wordGen = Gen.oneOf("red", "green", "blue", "cyan", "teal", "pink")
  private val docGen = Gen.chooseNum(3, 10).flatMap(n => Gen.listOfN(n, wordGen))
  private val corpusGen = Gen.chooseNum(2, 10).flatMap(n => Gen.listOfN(n, docGen))

  private def md5hex(s: String): String =
    MessageDigest.getInstance("MD5")
      .digest(s.getBytes(StandardCharsets.UTF_8))
      .map("%02x".format(_)).mkString

  private def signature(shingles: List[String]): Seq[Long] = {
    val h32s = shingles.map(sh => java.lang.Long.parseLong(md5hex(sh).take(8), 16))
    (0 until k).map { s =>
      val a = ((s * 2654435761L) % 2147483647L) + 1L
      val b = (s * 2246822519L) % P
      h32s.map(h => (a * h + b) % P).min
    }
  }

  property("minhashLsh == single-machine replication of the same algorithm") =
    Prop.forAll(corpusGen) { docs =>
      val df = docs.zipWithIndex.map { case (ws, i) => (i.toLong, ws.mkString(" ")) }
        .toDF("doc_id", "text")
      // both branches of the size gate: the in-task LSH kernel (these
      // fixtures fit) and the forced distributed plan
      def got = Dedup.minhashLsh(df, "doc_id", "text", shingleN, k, bands, rows, threshold)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet

      val sets = docs.zipWithIndex.collect {
        case (ws, i) if ws.length >= shingleN =>
          (i.toLong, ws.sliding(shingleN).map(_.mkString(" ")).toList.distinct)
      }
      val bandKeys = sets.map { case (id, sh) =>
        val sig = signature(sh)
        id -> (0 until bands).map(b =>
          md5hex(sig.slice(b * rows, (b + 1) * rows).mkString("|")))
      }.toMap
      val want = (for {
        (ia, sa) <- sets; (ib, sb) <- sets if ia < ib
        if (0 until bands).exists(b => bandKeys(ia)(b) == bandKeys(ib)(b))
        j = (sa.toSet & sb.toSet).size.toDouble / (sa.toSet | sb.toSet).size
        if j >= threshold
      } yield (ia, ib, j)).toSet
      val (inTask, dist) = (got, TestSpark.distributed(got))
      Prop(inTask == want && dist == want) :| s"inTask=$inTask distributed=$dist want=$want"
    }
}
