package perfbench

import java.math.{MathContext, RoundingMode}
import java.security.MessageDigest

import org.apache.spark.sql.Row

/** Order-insensitive result digests: the row count plus the sum (mod
  * 2^64) of a 64-bit hash of each row's canonical text. A sum, unlike
  * XOR, keeps duplicate rows. Canonical text rounds floating-point
  * values to [[FloatDigits]] significant digits (so accumulation-order
  * noise in the last ulps cannot flip a digest), writes -0.0 as 0.0,
  * encodes null distinctly from every value, and renders timestamps
  * as epoch microseconds so the JVM's time zone cannot leak in. */
object Digest {
  val FloatDigits = 6
  private val mc = new MathContext(FloatDigits, RoundingMode.HALF_EVEN)

  final case class Value(rows: Long, hash: Long) {
    override def toString: String = f"$rows:$hash%016x"
  }

  def parse(s: String): Value = {
    val Array(n, h) = s.split(":")
    Value(n.toLong, java.lang.Long.parseUnsignedLong(h, 16))
  }

  def canonical(v: Any): String = v match {
    case null => "␀"
    case d: Double => canonicalDouble(d)
    case f: Float => canonicalDouble(f.toDouble)
    case b: java.math.BigDecimal => canonicalDecimal(b)
    case b: BigDecimal => canonicalDecimal(b.bigDecimal)
    case t: java.sql.Timestamp =>
      "t" + (t.getTime / 1000 * 1000000L + t.getNanos / 1000)
    case t: java.time.Instant =>
      "t" + (t.getEpochSecond * 1000000L + t.getNano / 1000)
    case d: java.sql.Date => "d" + d.toLocalDate.toEpochDay
    case d: java.time.LocalDate => "d" + d.toEpochDay
    case b: Array[Byte] => b.map(x => f"$x%02x").mkString("x", "", "")
    case r: Row => r.toSeq.map(canonical).mkString("(", ",", ")")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => canonical(k) + "->" + canonical(x) }
        .sorted.mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(canonical).mkString("[", ",", "]")
    case s: String => "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
    case other => other.toString
  }

  private def canonicalDouble(d: Double): String =
    if (d.isNaN || d.isInfinite) d.toString
    else if (d == 0.0) "0"
    else canonicalDecimal(new java.math.BigDecimal(d).round(mc))

  private def canonicalDecimal(b: java.math.BigDecimal): String =
    if (b.signum == 0) "0" else b.stripTrailingZeros.toPlainString

  def rowHash(canonicalRow: String): Long = {
    val md = MessageDigest.getInstance("MD5")
    val h = md.digest(canonicalRow.getBytes("UTF-8"))
    java.nio.ByteBuffer.wrap(h, 0, 8).getLong
  }

  def of(rows: Iterable[Row]): Value = {
    var n = 0L
    var sum = 0L
    rows.foreach { r => n += 1; sum += rowHash(canonical(r)) }
    Value(n, sum)
  }
}
