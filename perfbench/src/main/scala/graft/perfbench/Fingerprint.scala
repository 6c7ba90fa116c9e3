package graft.perfbench

import java.security.MessageDigest
import org.apache.spark.sql.Row
import org.apache.spark.sql.types.StructType

/** Order-insensitive fingerprint of a full query result.
  *
  * Each row is rendered canonically and hashed; the row hashes are summed
  * (mod 2^64) and xor-ed, so the fingerprint is a multiset hash: it does
  * not depend on row order (ties under the final sort may come back in any
  * order), but any changed, missing or extra row changes it. Floating
  * values are rounded to 10 (double) or 6 (float) significant digits, so
  * the last-bit drift of a re-ordered floating sum does not count as a
  * different result. Timestamps and dates render independently of the
  * JVM's default time zone.
  */
object Fingerprint {
  def of(schema: StructType, rows: Iterable[Row]): String = {
    val md = MessageDigest.getInstance("MD5")
    var sum = 0L
    var xor = 0L
    var n = 0L
    rows.foreach { r =>
      val d = md.digest(render(r).getBytes("UTF-8"))
      val h = java.nio.ByteBuffer.wrap(d).getLong
      sum += h
      xor ^= java.lang.Long.rotateLeft(h, 17) * 0x9E3779B97F4A7C15L
      n += 1
    }
    val shape = schema.fields.map(f => s"${f.name}:${f.dataType.simpleString}")
      .mkString(",")
    val s = java.util.Arrays.hashCode(md.digest(shape.getBytes("UTF-8")))
    f"$n%d-$sum%016x$xor%016x-$s%08x"
  }

  def render(v: Any): String = v match {
    case null => "∅"
    case d: Double =>
      if (d.isNaN || d.isInfinite) d.toString
      else if (d == 0.0) "0"
      else String.format(java.util.Locale.ROOT, "%.9e", Double.box(d))
    case f: Float =>
      if (f.isNaN || f.isInfinite) f.toString
      else if (f == 0.0f) "0"
      else String.format(java.util.Locale.ROOT, "%.5e", Double.box(f.toDouble))
    case b: java.math.BigDecimal => b.stripTrailingZeros.toPlainString
    case b: BigDecimal => b.bigDecimal.stripTrailingZeros.toPlainString
    case t: java.sql.Timestamp => t.toInstant.toString
    case d: java.sql.Date => d.toLocalDate.toString
    case b: Array[Byte] => b.map("%02x".format(_)).mkString("0x", "", "")
    case r: Row => (0 until r.length).map(i => render(r.get(i))).mkString("{", "|", "}")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => render(k) + "=" + render(x) }.sorted
        .mkString("<", ",", ">")
    case s: scala.collection.Seq[_] => s.map(render).mkString("[", ",", "]")
    case other => other.toString
  }
}
