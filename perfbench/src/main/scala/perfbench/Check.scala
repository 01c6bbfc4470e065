package perfbench

import java.math.{BigDecimal, MathContext}

import org.apache.spark.sql.Row

/** Order-sensitive comparison of two collected results, with the
  * result check's float rule: doubles compare at 12 significant digits.
  */
object Check {
  private val Digits = new MathContext(12)

  def cell(v: Any): String = v match {
    case null => "None"
    case d: Double if d.isNaN => "nan"
    case d: Double if d.isInfinite => d.toString
    case d: Double => new BigDecimal(d).round(Digits).stripTrailingZeros.toString
    case f: Float => cell(f.toDouble)
    case r: Row => r.toSeq.map(cell).mkString("(", ",", ")")
    case xs: scala.collection.Seq[_] => xs.map(cell).mkString("[", ",", "]")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => cell(k) + ":" + cell(x) }.sorted.mkString("{", ",", "}")
    case b: Array[Byte] => b.map("%02x".format(_)).mkString
    case o => o.toString
  }

  def row(r: Row): String = r.toSeq.map(cell).mkString("|")

  /** None when the two results match row for row, else the first difference. */
  def compare(got: Seq[String], want: Seq[String]): Option[String] =
    if (got.size != want.size) Some(s"rows ${got.size} != expected ${want.size}")
    else got.indices.find(i => got(i) != want(i)).map(i =>
      s"row $i differs: ${got(i).take(120)} != ${want(i).take(120)}")
}
