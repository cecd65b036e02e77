package graft.dedup

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** The one MinHash hash family behind every MinHash-LSH path: the batch
  * operators ([[Dedup.minhashLsh]], [[Dedup.buildBandRegistry]],
  * `Curation.decontaminateFuzzy`), their in-task kernel ([[InTaskJoins.lsh]])
  * and the streaming band registry. ONE md5 per shingle; the k per-seed
  * hashes are a multiply-mod universal family over its 32-bit prefix:
  *   mh_s = min over the doc's shingles of (a_s·h32 + b_s) mod P,
  *   a_s = (s·2654435761 mod 2147483647) + 1,  b_s = s·2246822519 mod P,
  *   P = 4294967291 (the largest prime < 2^32).
  * a_s ∈ [1, 2^31) so a_s·h32 + b_s < 2^63 — no overflow, identical
  * wrap-free arithmetic in any engine (the DuckDB oracles of d3/st4/t18
  * repeat it). Band b's key is the md5 of the `|`-joined decimal values
  * mh_{b·rows} .. mh_{(b+1)·rows-1}. */
private[graft] object MinHash {
  val P = 4294967291L

  /** The seeds (a_s, b_s) for s = 0 until k. */
  def seeds(k: Int): (Array[Long], Array[Long]) = (
    Array.tabulate(k)(s => ((s * 2654435761L) % 2147483647L) + 1L),
    Array.tabulate(k)(s => (s * 2246822519L) % P))

  /** A shingle's 32-bit hash: the first 8 hex digits of its md5. */
  def h32(shingle: Column): Column =
    conv(substring(md5(shingle), 1, 8), 16, 10).cast("long")

  /** The same value from an md5 digest: its first 4 bytes, unsigned. */
  def h32(digest: Array[Byte]): Long =
    ((digest(0) & 0xffL) << 24) | ((digest(1) & 0xffL) << 16) |
      ((digest(2) & 0xffL) << 8) | (digest(3) & 0xffL)

  /** The k per-seed hashes of an h32 value, as column functions. */
  def hashes(k: Int): IndexedSeq[Column => Column] = {
    val (a, b) = seeds(k)
    (0 until k).map(s => (h: Column) => (lit(a(s)) * h + lit(b(s))) % lit(P))
  }

  /** The signature aggregates mh0..mh{k-1} over an h32 column. */
  def signatureAggs(k: Int, h32: Column): Seq[Column] =
    hashes(k).zipWithIndex.map { case (f, s) => min(f(h32)).as(s"mh$s") }

  /** The `bands` band-key columns, given each seed's signature value. */
  def bandKeys(bands: Int, rows: Int)(mh: Int => Column): Seq[Column] =
    (0 until bands).map(b =>
      md5(concat_ws("|", (b * rows until (b + 1) * rows).map(mh): _*)))

  /** [[bandKeys]] over the mh0..mh{k-1} columns of [[signatureAggs]]. */
  def bandKeyCols(bands: Int, rows: Int): Seq[Column] =
    bandKeys(bands, rows)(i => col(s"mh$i"))

  /** The string band b's key hashes, from a signature computed in the JVM. */
  def bandString(sig: Array[Long], b: Int, rows: Int): String =
    (b * rows until (b + 1) * rows).map(i => sig(i).toString).mkString("|")
}
