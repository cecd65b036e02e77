package graft

import graft.sources.v2.ShardFormat

/** Drains a [[ShardFormat.ShardReader]] through `nextBatch`, for specs
  * that check decoded values and physical ordinals below the scan: each
  * row's values boxed in read-slot order (strings and binaries as their
  * bytes, arrays as Scala arrays, nulls as null) with its ordinal. */
object ShardReads {
  def rows(r: ShardFormat.ShardReader, width: Int): Vector[(Array[Any], Long)] = {
    val out = Vector.newBuilder[(Array[Any], Long)]
    var batch: Array[Array[Any]] = Array.empty
    val sink = new ShardFormat.BatchSink {
      private def put(s: Int, r: Int, v: Any): Unit = batch(r)(s) = v
      private def bulk(s: Int, n: Int, v: Int => Any, nullRows: Array[Int], nNulls: Int): Unit = {
        var r = 0
        while (r < n) { put(s, r, v(r)); r += 1 }
        var k = 0
        while (k < nNulls) { put(s, nullRows(k), null); k += 1 }
      }
      override def putNull(s: Int, r: Int): Unit = put(s, r, null)
      override def putLongsBulk(s: Int, n: Int, v: Array[Long], nr: Array[Int], nn: Int): Unit =
        bulk(s, n, v(_), nr, nn)
      override def putIntsBulk(s: Int, n: Int, v: Array[Int], nr: Array[Int], nn: Int): Unit =
        bulk(s, n, v(_), nr, nn)
      override def putDoublesBulk(s: Int, n: Int, v: Array[Double], nr: Array[Int], nn: Int): Unit =
        bulk(s, n, v(_), nr, nn)
      override def putFloatsBulk(s: Int, n: Int, v: Array[Float], nr: Array[Int], nn: Int): Unit =
        bulk(s, n, v(_), nr, nn)
      override def putBoolean(s: Int, r: Int, v: Boolean): Unit = put(s, r, v)
      override def putBytes(s: Int, r: Int, b: Array[Byte], off: Int, len: Int): Unit =
        put(s, r, b.slice(off, off + len))
      override def putFloats(s: Int, r: Int, v: Array[Float], off: Int, len: Int): Unit =
        put(s, r, v.slice(off, off + len))
      override def putInts(s: Int, r: Int, v: Array[Int], off: Int, len: Int): Unit =
        put(s, r, v.slice(off, off + len))
      override def putLongs(s: Int, r: Int, v: Array[Long], off: Int, len: Int): Unit =
        put(s, r, v.slice(off, off + len))
    }
    def next(): Int = r.nextBatch { n => batch = Array.fill(n)(new Array[Any](width)); sink }
    var n = next()
    while (n >= 0) {
      val first = r.ordinal - n + 1
      var i = 0
      while (i < n) { out += ((batch(i), first + i)); i += 1 }
      n = next()
    }
    out.result()
  }
}
