package graft.dedup

import java.nio.charset.StandardCharsets
import java.security.MessageDigest

import scala.collection.mutable

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

/** In-memory kernels behind the candidate joins' one-task branch (taken
  * when [[graft.core.SmallRelation.fits]] holds): each runs over every row
  * of its relation inside one `mapPartitions` call and returns exactly the
  * pairs the distributed plan returns, so the two branches are
  * interchangeable. Pair ids come back unordered, `(u, v)`; callers order
  * them with Spark's own `least`/`greatest` and `<`, so the id order is
  * Spark's for every id type (UTF-8 byte order for strings) without a
  * driver-side reimplementation. */
private[graft] object InTaskJoins {

  /** Plan-estimate ceiling of [[ppjoin]]'s input (the token-set relation)
    * for [[graft.core.SmallRelation.fits]]. Measured on d2's shape over
    * 1–32 distinct copies of the sf0.1 corpus (local[4], 4-core Xeon):
    * the kernel beat the distributed PPJoin at every size, from 0.25 vs
    * 0.89 s at 0.05 MB to 2.4 vs 13.6 s at 4.2 MB and 8.7 vs 57.6 s at
    * 19.1 MB, the largest measured; the ceiling stays inside the measured
    * range. */
  val PpjoinMaxBytes: Long = 16L * 1024 * 1024

  /** Plan-estimate ceiling of [[lsh]]'s inputs for
    * [[graft.core.SmallRelation.fits]]. Measured on d3's and t18's shapes
    * over 500-doc to 20,000-doc corpora (local[4], 4-core Xeon): the
    * one-task branch builds every shingle set in one thread and won only
    * on small inputs — d3 0.75 vs 1.02 s at 0.05 MB and 0.43 vs 0.51 s at
    * 0.10 MB, t18 0.57 vs 0.89 s at 0.08 MB and even at 0.15 MB — then lost
    * from 0.2 MB on (d3 1.15 vs 0.58 s, t18 1.33 vs 0.72 s on the full
    * sf0.1 table), while the distributed plan stays near its launch floor. */
  val LshMaxBytes: Long = 128L * 1024

  /** The distributed plans join on their key columns with SQL equi-join
    * semantics; the kernels key hash maps on these values instead, so a
    * kernel only runs for atomic key types whose JVM values compare the
    * way Spark's join keys do (after [[keyOf]]); strings only under the
    * default binary collation. Floating-point keys are excluded: Spark
    * normalizes NaN and -0.0 in join and grouping keys, and boxed JVM
    * equality does not (NaN != NaN). */
  def atomicKey(dt: DataType): Boolean = dt match {
    case st: StringType => st == StringType
    case FloatType | DoubleType => false
    case _: NumericType | BooleanType | BinaryType | DateType | TimestampType |
         TimestampNTZType => true
    case _ => false
  }

  /** JVM value → hash-map key with Spark's key equality (binary by
    * content). */
  def keyOf(v: Any): Any = v match {
    case b: Array[Byte] => b.toSeq
    case o => o
  }

  private def ceilT(x: Double, t: Double): Long = math.ceil(x * t - 1e-9).toLong

  // ------------------------------------------------------------ PPJoin

  /** Prefix-filtered exact Jaccard self-join within blocks, the in-memory
    * form of `Dedup.pairsFromTokenSets`, over (id, block columns …,
    * token set) rows with `nBlock` block columns. A block holding a null
    * never matches, as in a SQL equi-join, and a null or empty token set
    * contributes no rows, as under the distributed explode.
    *
    * Candidates use the same rules as the distributed plan: prefix length
    * `n − ⌈t·n⌉ + 1` under one global token order (rarest first, by the
    * in-task frequencies — any consistent order gives the same exact
    * result), the length filter, and the per-shared-token positional
    * filter. An inverted index over prefix tokens yields them; no block is
    * compared all-pairs. Survivors are verified with
    * `inter / (|a| + |b| − inter)`, the same double `TextFunctions.jaccard`
    * computes on distinct sets. Returns (u, v, jaccard). */
  def ppjoin(in: Iterator[Row], nBlock: Int, t: Double): Iterator[Row] = {
    val ids = mutable.ArrayBuffer.empty[Any]
    val blocks = mutable.ArrayBuffer.empty[Seq[Any]]
    val sets = mutable.ArrayBuffer.empty[Seq[String]]
    val freq = mutable.HashMap.empty[String, Int]
    in.foreach { r =>
      val blk = (1 to nBlock).map(i => keyOf(r.get(i)))
      val toks = r.getSeq[String](nBlock + 1)
      if (toks != null && toks.nonEmpty && !blk.contains(null)) {
        ids += r.get(0); blocks += blk; sets += toks
        toks.foreach(tk => freq.update(tk, freq.getOrElse(tk, 0) + 1))
      }
    }
    // global order: rarest first, ties by token; ranks make every
    // comparison below an Int compare
    val rank = freq.toArray
      .sortWith((x, y) => x._2 < y._2 || (x._2 == y._2 && x._1 < y._1))
      .iterator.map(_._1).zipWithIndex.toMap
    val ordered = sets.map(s => s.map(rank).toArray.sorted)
    val alphaF = t / (1.0 + t)
    val out = mutable.ArrayBuffer.empty[Row]
    ordered.indices.groupBy(blocks).valuesIterator.foreach { members =>
      // index: token rank -> (doc, position) of every prefix occurrence
      // seen so far in this block
      val index = mutable.HashMap.empty[Int, mutable.ArrayBuffer[Long]]
      members.foreach { x =>
        val xs = ordered(x)
        val n = xs.length
        val pref = math.max(0, math.min(n, (n - ceilT(n, t) + 1).toInt))
        val cand = mutable.HashSet.empty[Int]
        var i = 0
        while (i < pref) {
          index.get(xs(i)).foreach(_.foreach { e =>
            val y = (e >>> 32).toInt
            val j = e.toInt
            val m = ordered(y).length
            if (!cand.contains(y) &&
                math.min(n, m) >= ceilT(math.max(n, m), t) &&
                math.min(i, j) + 1 + math.min(n - i - 1, m - j - 1) >=
                  math.ceil((n + m) * alphaF - 1e-9).toLong)
              cand += y
          })
          i += 1
        }
        cand.foreach { y =>
          val ys = ordered(y)
          val inter = overlap(xs, ys)
          val j = inter.toDouble / (n + ys.length - inter).toDouble
          if (j >= t) out += Row(ids(y), ids(x), j)
        }
        i = 0
        while (i < pref) {
          index.getOrElseUpdate(xs(i), mutable.ArrayBuffer.empty[Long]) +=
            (x.toLong << 32) | i.toLong
          i += 1
        }
      }
    }
    out.iterator
  }

  /** Size of the intersection of two ascending distinct Int arrays. */
  private def overlap(a: Array[Int], b: Array[Int]): Int = {
    var i = 0; var j = 0; var n = 0
    while (i < a.length && j < b.length) {
      if (a(i) == b(j)) { n += 1; i += 1; j += 1 }
      else if (a(i) < b(j)) i += 1
      else j += 1
    }
    n
  }

  // --------------------------------------------------------- MinHash-LSH

  private val P = 4294967291L

  /** One relation's docs for [[lsh]]: shingle sets merged per id (as the
    * distributed `groupBy(id)` merges repeated ids), null ids dropped
    * (they can never pass the distributed plans' id comparison or id
    * join). Shingles are interned into `dict` so both relations of a
    * cross join share token ids and every shingle is hashed once. */
  final class LshSide {
    private val byKey = mutable.HashMap.empty[Any, Int]
    val ids = mutable.ArrayBuffer.empty[Any]
    val sets = mutable.ArrayBuffer.empty[mutable.HashSet[Int]]
    def add(id: Any, shingles: Seq[String], dict: ShingleDict): Unit =
      if (id != null && shingles != null && shingles.nonEmpty) {
        val d = byKey.getOrElseUpdate(keyOf(id), {
          ids += id; sets += mutable.HashSet.empty[Int]; ids.length - 1
        })
        shingles.foreach(s => sets(d) += dict.intern(s))
      }
  }

  /** Shingle → dense id, with the 32-bit hash of each distinct shingle:
    * the first 4 bytes of `md5(shingle)` read unsigned — the same value as
    * `conv(substring(md5(shingle), 1, 8), 16, 10)` in `Dedup.minhashDocAgg`. */
  final class ShingleDict {
    private val md5 = MessageDigest.getInstance("MD5")
    private val ids = mutable.HashMap.empty[String, Int]
    val h32 = mutable.ArrayBuffer.empty[Long]
    def intern(s: String): Int = ids.getOrElseUpdate(s, {
      val d = md5.digest(s.getBytes(StandardCharsets.UTF_8))
      h32 += ((d(0) & 0xffL) << 24) | ((d(1) & 0xffL) << 16) | ((d(2) & 0xffL) << 8) | (d(3) & 0xffL)
      h32.length - 1
    })
  }

  /** Band key of one doc: (band, the md5 of the band's `|`-joined decimal
    * signature values) — `Dedup.bandKeyCols` bit for bit, with
    * `mh_s = min((a_s·h32 + b_s) mod P)` over the doc's shingles. */
  private def bandKeys(
      set: mutable.HashSet[Int], dict: ShingleDict, md5: MessageDigest,
      k: Int, bands: Int, rows: Int): Array[(Int, Seq[Byte])] = {
    val sig = Array.fill(k)(Long.MaxValue)
    set.foreach { sh =>
      val h = dict.h32(sh)
      var s = 0
      while (s < k) {
        val a = ((s * 2654435761L) % 2147483647L) + 1L
        val b = (s * 2246822519L) % P
        val v = (a * h + b) % P
        if (v < sig(s)) sig(s) = v
        s += 1
      }
    }
    Array.tabulate(bands) { b =>
      val str = (b * rows until (b + 1) * rows).map(i => sig(i).toString).mkString("|")
      (b, md5.digest(str.getBytes(StandardCharsets.UTF_8)).toSeq)
    }
  }

  private def jaccard(a: mutable.HashSet[Int], b: mutable.HashSet[Int]): Double = {
    val (small, large) = if (a.size <= b.size) (a, b) else (b, a)
    val inter = small.count(large.contains)
    inter.toDouble / (a.size + b.size - inter).toDouble
  }

  /** MinHash-LSH candidates verified by exact shingle Jaccard — the one
    * kernel behind both `Dedup.minhashLsh` (`probe` eq `build`: pairs
    * within one relation) and `Curation.decontaminateFuzzy` (`probe` =
    * corpus, `build` = benchmark). Candidates share a band key in the same
    * band (a hash map over `build`'s keys); each distinct candidate pair
    * is verified once and kept at Jaccard ≥ `t` as
    * `emit(probeDoc, buildDoc, jaccard)`. */
  def lsh(
      probe: LshSide, build: LshSide, dict: ShingleDict,
      k: Int, bands: Int, rows: Int, t: Double)(
      emit: (Int, Int, Double) => Unit): Unit = {
    val md5 = MessageDigest.getInstance("MD5")
    val self = probe eq build
    val buildKeys = build.sets.map(bandKeys(_, dict, md5, k, bands, rows))
    val buckets = mutable.HashMap.empty[(Int, Seq[Byte]), mutable.ArrayBuffer[Int]]
    buildKeys.indices.foreach(d => buildKeys(d).foreach(key =>
      buckets.getOrElseUpdate(key, mutable.ArrayBuffer.empty[Int]) += d))
    probe.sets.indices.foreach { p =>
      val keys = if (self) buildKeys(p) else bandKeys(probe.sets(p), dict, md5, k, bands, rows)
      val cand = mutable.HashSet.empty[Int]
      keys.foreach(key => buckets.get(key).foreach(cand ++= _))
      // within one relation each pair once, from its later doc
      cand.foreach { d =>
        if (!self || d < p) {
          val j = jaccard(probe.sets(p), build.sets(d))
          if (j >= t) emit(p, d, j)
        }
      }
    }
  }

  /** Schema of the kernels' unordered pair rows. */
  def pairSchema(idType: DataType): StructType = StructType(Seq(
    StructField("u", idType), StructField("v", idType),
    StructField("jaccard", DoubleType)))

  /** `Dedup.minhashLsh`'s kernel over (id, shingle set) rows → (u, v, jaccard). */
  def minhashPairs(
      in: Iterator[Row], k: Int, bands: Int, rows: Int, t: Double): Iterator[Row] = {
    val dict = new ShingleDict
    val docs = new LshSide
    in.foreach(r => docs.add(r.get(0), r.getSeq[String](1), dict))
    val out = mutable.ArrayBuffer.empty[Row]
    lsh(docs, docs, dict, k, bands, rows, t)((x, y, j) => out += Row(docs.ids(x), docs.ids(y), j))
    out.iterator
  }

  /** `Curation.decontaminateFuzzy`'s kernel over (is_bench, corpus id,
    * bench id, shingle set) rows → (corpus id, n_bench_matches,
    * max_jaccard) per corpus doc with at least one verified match. */
  def decontaminate(
      in: Iterator[Row], k: Int, bands: Int, rows: Int, t: Double): Iterator[Row] = {
    val dict = new ShingleDict
    val corpus = new LshSide
    val bench = new LshSide
    in.foreach(r =>
      if (r.getBoolean(0)) bench.add(r.get(2), r.getSeq[String](3), dict)
      else corpus.add(r.get(1), r.getSeq[String](3), dict))
    val n = new Array[Long](corpus.ids.length)
    val best = new Array[Double](corpus.ids.length)
    lsh(corpus, bench, dict, k, bands, rows, t) { (c, _, j) =>
      n(c) += 1
      if (n(c) == 1 || j > best(c)) best(c) = j
    }
    corpus.ids.indices.iterator.filter(n(_) > 0).map(c => Row(corpus.ids(c), n(c), best(c)))
  }
}
