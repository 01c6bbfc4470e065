package perfbench

/** Minimal JSON writer for the harness's raw output (maps, sequences,
  * strings, numbers, booleans; NaN and infinities become null).
  */
object Json {
  def write(v: Any): String = {
    val sb = new StringBuilder
    def str(s: String): Unit = {
      sb.append('"')
      s.foreach {
        case '"' => sb.append("\\\"")
        case '\\' => sb.append("\\\\")
        case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
        case c => sb.append(c)
      }
      sb.append('"')
    }
    def go(v: Any): Unit = v match {
      case null | None => sb.append("null")
      case Some(x) => go(x)
      case s: String => str(s)
      case b: Boolean => sb.append(b)
      case d: Double => if (d.isNaN || d.isInfinite) sb.append("null") else sb.append(d)
      case f: Float => go(f.toDouble)
      case n: Int => sb.append(n)
      case n: Long => sb.append(n)
      case m: scala.collection.Map[_, _] =>
        sb.append('{')
        m.toSeq.zipWithIndex.foreach { case ((k, x), i) =>
          if (i > 0) sb.append(',')
          str(k.toString); sb.append(':'); go(x)
        }
        sb.append('}')
      case xs: Iterable[_] =>
        sb.append('[')
        xs.zipWithIndex.foreach { case (x, i) => if (i > 0) sb.append(','); go(x) }
        sb.append(']')
      case other => str(other.toString)
    }
    go(v)
    sb.toString
  }
}
