package graft.functions

import org.apache.spark.sql.Encoder
import org.apache.spark.sql.expressions.Aggregator

/** Count-Min sketch over a string key column, as a typed
  * [[Aggregator]] — the custom-aggregation tier of the engine's
  * extension surface (buffer = one `depth × width` counter array,
  * merged element-wise, so partial aggregation and AQE work exactly as
  * for any algebraic aggregate).
  *
  * Hashing is the engine's PORTABLE md5 family, pair-generated à la
  * Kirsch–Mitzenmacher ("Less Hashing, Same Performance", ESA 2006):
  * ONE md5 per key yields two 28-bit words `h1` (hex chars 1-7) and
  * `h2` (hex chars 8-14), and row `i` uses `(h1 + i·h2) mod width`.
  * One digest instead of `depth` digests per row — the hash is the
  * dominant per-row cost at scale — and still bit-identical to the SQL
  * spelling used by expressions and the DuckDB oracle, so a sketch
  * built by this aggregator can be probed (and verified) from plain
  * SQL. Estimate for a key = min over rows of its counter; always an
  * overestimate, never under (the CMS guarantee).
  */
final class CountMinSketchAgg(val depth: Int, val width: Int)
    extends Aggregator[String, Array[Long], Seq[Long]] {

  override def zero: Array[Long] = new Array[Long](depth * width)

  override def reduce(buf: Array[Long], key: String): Array[Long] = {
    val (h1, h2) = CountMinSketchAgg.hashPair(key)
    var i = 0
    while (i < depth) {
      buf(i * width + ((h1 + i.toLong * h2) % width).toInt) += 1L
      i += 1
    }
    buf
  }

  override def merge(a: Array[Long], b: Array[Long]): Array[Long] = {
    var i = 0
    while (i < a.length) { a(i) += b(i); i += 1 }
    a
  }

  override def finish(buf: Array[Long]): Seq[Long] = buf.toSeq

  override def bufferEncoder: Encoder[Array[Long]] =
    org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[Long]]()
  override def outputEncoder: Encoder[Seq[Long]] =
    org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[Long]]()
}

object CountMinSketchAgg {

  private val tlMd5: ThreadLocal[java.security.MessageDigest] =
    ThreadLocal.withInitial(() => java.security.MessageDigest.getInstance("MD5"))

  /** The two hash words of `key`: h1 = value of md5-hex chars 1-7,
    * h2 = value of chars 8-14 forced ODD (`| 1`). The odd-forcing
    * matters with power-of-two moduli: an even h2 shares a factor with
    * the width, so the i·h2 strides revisit cells — in the worst case
    * (h2 ≡ 0 mod width, ~1/width of keys) every row would collapse to
    * ONE cell and the depth guarantee to a single hash row. An odd h2
    * is a unit mod 2^w: all `depth` cells stay distinct.
    *
    * Same arithmetic as
    * `CAST('0x'||substr(md5(key),1,7) AS BIGINT)` /
    * `...substr(md5(key),8,7)... | 1` in DuckDB and [[hashPairCols]]
    * in Spark SQL.
    */
  def hashPair(key: String): (Long, Long) = {
    val md = tlMd5.get()
    md.reset()
    val d = md.digest(key.getBytes("UTF-8"))
    // hex chars 1-7 = bytes 0-2 + high nibble of byte 3, big-endian
    val h1 = ((d(0) & 0xffL) << 20) | ((d(1) & 0xffL) << 12) |
      ((d(2) & 0xffL) << 4) | ((d(3) & 0xf0L) >> 4)
    // hex chars 8-14 = low nibble of byte 3 + bytes 4-6
    val h2 = ((d(3) & 0x0fL) << 24) | ((d(4) & 0xffL) << 16) |
      ((d(5) & 0xffL) << 8) | (d(6) & 0xffL)
    (h1, h2 | 1L)
  }

  /** [[hashPair]] as Columns — THE portable spelling, shared by every
    * in-plan probe (CMS estimate, Bloom membership) so the recipe that
    * must stay bit-identical to the JVM path lives in one place.
    */
  def hashPairCols(key: org.apache.spark.sql.Column)
      : (org.apache.spark.sql.Column, org.apache.spark.sql.Column) = {
    import org.apache.spark.sql.functions._
    val hex = md5(key.cast("binary"))
    val h1 = conv(substring(hex, 1, 7), 16, 10).cast("long")
    val h2 = conv(substring(hex, 8, 7), 16, 10).cast("long").bitwiseOR(1L)
    (h1, h2)
  }

  /** Row `i`'s counter index for `key` under the pair-generated family. */
  def cell(i: Int, key: String, width: Int): Int = {
    val (h1, h2) = hashPair(key)
    ((h1 + i.toLong * h2) % width).toInt
  }
}
