package perfbench

import java.math.{BigDecimal => JBigDecimal, MathContext, RoundingMode}
import java.security.MessageDigest

import org.apache.spark.sql.Row

/**
 * Order-independent fingerprint of a query result, computed the same way by
 * `oracle.py` over DuckDB's rows: columns sorted by name, each value in a
 * canonical text form (numbers rounded to 9 significant digits, so the last
 * bits of a parallel floating-point sum do not matter), each row's MD5
 * folded into a 64-bit sum.
 */
object Canon {
  private val mc = new MathContext(9, RoundingMode.HALF_EVEN)

  def number(d: JBigDecimal): String =
    if (d.signum == 0) "0" else d.round(mc).stripTrailingZeros.toPlainString

  def value(v: Any): String = v match {
    case null => "\\N"
    case b: Boolean => if (b) "true" else "false"
    case d: Double =>
      if (d.isNaN) "nan" else if (d.isInfinite) (if (d > 0) "inf" else "-inf") else number(new JBigDecimal(d))
    case f: Float => value(f.toDouble)
    case n: Byte => n.toString
    case n: Short => n.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case d: JBigDecimal => number(d)
    case d: scala.math.BigDecimal => number(d.bigDecimal)
    case s: String => s
    case b: Array[Byte] => b.map(x => f"${x & 0xff}%02x").mkString
    case r: Row => (0 until r.length).map(i => value(r.get(i))).mkString("{", ",", "}")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => value(k) + ":" + value(x) }.sorted.mkString("<", ",", ">")
    case xs: scala.collection.Seq[_] => xs.map(value).mkString("[", ",", "]")
    case other => other.toString
  }

  /** (row count, fingerprint as 16 hex digits). */
  def fingerprint(columns: Seq[String], rows: Seq[Row]): (Long, String) = {
    val order = columns.indices.sortBy(columns(_))
    val md = MessageDigest.getInstance("MD5")
    var sum = 0L
    rows.foreach { r =>
      val line = order.map(i => value(r.get(i))).mkString("\u001f")
      val h = md.digest(line.getBytes("UTF-8"))
      sum += java.nio.ByteBuffer.wrap(h, 0, 8).getLong
    }
    (rows.size.toLong, f"$sum%016x")
  }
}
