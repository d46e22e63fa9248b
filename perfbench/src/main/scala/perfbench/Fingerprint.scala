package perfbench

import java.math.{MathContext, RoundingMode}
import java.security.MessageDigest

import org.apache.spark.sql.Row

/** Order-insensitive result fingerprint, normalized like the repository's
  * DuckDB replay (`tools/oracle_check.py`): columns sorted by name, every
  * cell rendered as Python's `str` would render the DuckDB value (floats
  * as `%.9g`, NULL as "NULL"), rows sorted. `perfbench/tools/catalog_refs.py`
  * computes the same digest from DuckDB results. */
final case class Fingerprint(rows: Long, columns: Seq[String], sha256: String)

object Fingerprint {

  def of(columns: Seq[String], rows: Seq[Row]): Fingerprint = {
    val order = columns.zipWithIndex.sortBy(_._1)
    val cells = rows.map(r => order.map { case (_, i) => cell(r.get(i)) })
      .sorted(Ordering.Implicits.seqOrdering[Seq, String])
    val text = (order.map(_._1).mkString("\u001f") +: cells.map(_.mkString("\u001f")))
      .mkString("\n")
    val md = MessageDigest.getInstance("SHA-256").digest(text.getBytes("UTF-8"))
    Fingerprint(rows.size.toLong, order.map(_._1), md.map("%02x".format(_)).mkString)
  }

  def cell(v: Any): String = v match {
    case null => "NULL"
    case b: Boolean => if (b) "True" else "False"
    case d: Double => g9(d)
    case f: Float => g9(f.toDouble)
    case d: java.math.BigDecimal => g9(d.doubleValue)
    case d: scala.math.BigDecimal => g9(d.toDouble)
    case x @ (_: Long | _: Int | _: Short | _: Byte | _: String) => x.toString
    case other => throw new IllegalArgumentException(
      s"no normalization for ${other.getClass.getName}")
  }

  /** Python's `f"{v:.9g}"`. */
  def g9(v: Double): String =
    if (v.isNaN) "NaN"
    else if (v.isInfinite) (if (v > 0) "inf" else "-inf")
    else if (v == 0.0) (if (1.0 / v < 0) "-0" else "0")
    else {
      val bd = new java.math.BigDecimal(v).round(new MathContext(9, RoundingMode.HALF_EVEN))
      val exp = bd.precision - bd.scale - 1
      if (exp < -4 || exp >= 9) {
        val digits = bd.unscaledValue.abs.toString.reverse.dropWhile(_ == '0').reverse
        val mant = if (digits.length > 1) s"${digits.head}.${digits.tail}" else digits
        val sign = if (bd.signum < 0) "-" else ""
        f"$sign${mant}e${if (exp < 0) "-" else "+"}${math.abs(exp)}%02d"
      } else bd.stripTrailingZeros.toPlainString
    }
}
