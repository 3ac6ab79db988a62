package perfbench

import java.util.{ArrayList => JList}

import org.apache.spark.sql.Row

/** Byte-faithful JSON form of result cells, read back by check.py.
  *
  * The rules are those of tools/check_oracle.py's `canon`: floats are
  * compared on their IEEE-754 bits (so -0.0 and +0.0 differ, and every
  * NaN is one value), integers by value whatever their width, booleans
  * apart from integers, and arrays element by element. Tagged pairs
  * keep the types apart in JSON: `["f", "<hex bits>"]` for a float,
  * `["ts", micros]` for a timestamp, `["a", [...]]` for an array. */
object Cells {
  private val CanonicalNaN = java.lang.Double.doubleToRawLongBits(Double.NaN)

  private def tag(t: String, v: AnyRef): JList[AnyRef] = {
    val l = new JList[AnyRef](2); l.add(t); l.add(v); l
  }

  private def float(d: Double): AnyRef = {
    val bits = if (d.isNaN) CanonicalNaN else java.lang.Double.doubleToRawLongBits(d)
    tag("f", f"$bits%016x")
  }

  private def micros(i: java.time.Instant): java.lang.Long =
    i.getEpochSecond * 1000000L + i.getNano / 1000

  def cell(v: Any): AnyRef = v match {
    case null => null
    case b: Boolean => java.lang.Boolean.valueOf(b)
    case d: Double => float(d)
    case f: Float => float(f.toDouble)
    case n: Byte => java.lang.Long.valueOf(n.toLong)
    case n: Short => java.lang.Long.valueOf(n.toLong)
    case n: Int => java.lang.Long.valueOf(n.toLong)
    case n: Long => java.lang.Long.valueOf(n)
    case s: String => s
    case d: java.math.BigDecimal => tag("dec", d.stripTrailingZeros.toPlainString)
    case t: java.sql.Timestamp => tag("ts", micros(t.toInstant))
    case t: java.time.LocalDateTime => tag("ts", micros(t.toInstant(java.time.ZoneOffset.UTC)))
    case d: java.sql.Date => tag("date", d.toLocalDate.toString)
    case b: Array[Byte] => tag("b", b.map(x => f"$x%02x").mkString)
    case r: Row => tag("s", list(r.toSeq))
    case s: scala.collection.Seq[_] => tag("a", list(s))
    case other => other.toString
  }

  private def list(xs: Iterable[Any]): JList[AnyRef] = {
    val l = new JList[AnyRef]()
    xs.foreach(x => l.add(cell(x)))
    l
  }

  def rows(rs: Array[Row]): JList[AnyRef] = {
    val l = new JList[AnyRef](rs.length)
    rs.foreach(r => l.add(list(r.toSeq)))
    l
  }
}
