package graft.functions

import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.unsafe.types.UTF8String

/** Row-level kernels behind the `graft_shingles` / `graft_minhash` native
  * expressions (see [[graft.plans.WordShingles]] /
  * [[graft.plans.MinHashes]]). Higher-order functions (`transform`,
  * `filter`, `array_min`) evaluate their lambda INTERPRETED per array
  * element in Spark, and the r06 noop-isolated measurement put the
  * shingle HOF chain at ~9 s of the sf0.1 bench's q_lsh_jaccard (vs
  * 0.3 s for tokenization): per-element interpreted expression dispatch
  * plus slice/concat_ws allocations dominated the whole dedup family.
  * These kernels do the same work in one tight loop per ROW.
  *
  * Semantics are bit-identical to the Catalyst forms they replace
  * (ShingleExprSpec pins the identity):
  * - shingleArray == array_distinct(filter(transform(toks, (x,i) =>
  *   when(i <= size-n, concat_ws(" ", slice(toks, i+1, n)))), notNull)):
  *   first-occurrence order, null tokens skipped by concat_ws.
  * - minhashArray(sh, k)(i) == array_min(transform(sh, x =>
  *   md5(concat("seed<i>:", x)))): lowercase-hex md5, binary min (hex is
  *   byte-order monotone, so the min is taken on digest bytes), null
  *   elements skipped, null result for an empty array — exactly
  *   array_min's semantics.
  */
object Shingles {

  private val Space = UTF8String.fromString(" ")

  def shingleArray(toks: ArrayData, n: Int): ArrayData = {
    val len = toks.numElements()
    val m = len - n + 1
    if (m <= 0) return new GenericArrayData(new Array[Any](0))
    val seen = new java.util.LinkedHashSet[UTF8String](math.min(m * 2, 1 << 16))
    var i = 0
    while (i < m) {
      val parts = new Array[UTF8String](n)
      var j = 0
      // a null token stays a null part, which concatWs skips — same as
      // concat_ws over a slice, whatever ArrayData holds the tokens
      while (j < n) {
        parts(j) = if (toks.isNullAt(i + j)) null else toks.getUTF8String(i + j)
        j += 1
      }
      seen.add(UTF8String.concatWs(Space, parts: _*))
      i += 1
    }
    new GenericArrayData(seen.toArray(new Array[AnyRef](seen.size())).asInstanceOf[Array[Any]])
  }

  private val prefixCache =
    new java.util.concurrent.ConcurrentHashMap[Int, Array[Array[Byte]]]()

  private def seedPrefixes(k: Int): Array[Array[Byte]] =
    prefixCache.computeIfAbsent(k, kk =>
      Array.tabulate(kk)(i => s"seed$i:".getBytes(java.nio.charset.StandardCharsets.UTF_8)))

  private def unsignedLess(a: Array[Byte], b: Array[Byte]): Boolean = {
    var i = 0
    while (i < a.length && i < b.length) {
      val d = (a(i) & 0xff) - (b(i) & 0xff)
      if (d != 0) return d < 0
      i += 1
    }
    a.length < b.length
  }

  private val HexDigits = "0123456789abcdef".toCharArray

  private def hex(bytes: Array[Byte]): String = {
    val out = new Array[Char](bytes.length * 2)
    var i = 0
    while (i < bytes.length) {
      out(2 * i) = HexDigits((bytes(i) >> 4) & 0xf)
      out(2 * i + 1) = HexDigits(bytes(i) & 0xf)
      i += 1
    }
    new String(out)
  }

  def minhashArray(shingles: ArrayData, k: Int): ArrayData = {
    val mins = new Array[Array[Byte]](k)
    val md = java.security.MessageDigest.getInstance("MD5")
    val prefixes = seedPrefixes(k)
    val ne = shingles.numElements()
    var j = 0
    while (j < ne) {
      val s = shingles.getUTF8String(j)
      if (s != null) { // array_min skips nulls
        val sb = s.getBytes
        var i = 0
        while (i < k) {
          md.reset()
          md.update(prefixes(i))
          md.update(sb)
          val d = md.digest()
          if (mins(i) == null || unsignedLess(d, mins(i))) mins(i) = d
          i += 1
        }
      }
      j += 1
    }
    val out = new Array[Any](k)
    var i = 0
    while (i < k) {
      out(i) = if (mins(i) == null) null else UTF8String.fromString(hex(mins(i)))
      i += 1
    }
    new GenericArrayData(out)
  }
}
