package perfbench

import org.apache.spark.sql.Row

/** Canonical form of collected results: JSON-ready values whose Python
  * parse matches DuckDB's Python values (dates and timestamps as ISO
  * strings, decimals as doubles, floats widened exactly). */
object Results {
  def value(v: Any): Any = v match {
    case null => null
    case d: java.lang.Double => d.doubleValue
    case f: java.lang.Float => f.doubleValue
    case b: java.math.BigDecimal => b.doubleValue
    case b: scala.math.BigDecimal => b.toDouble
    case d: java.sql.Date => d.toString
    case d: java.time.LocalDate => d.toString
    case t: java.sql.Timestamp => iso(t.toLocalDateTime)
    case t: java.time.LocalDateTime => iso(t)
    case t: java.time.Instant => iso(java.time.LocalDateTime.ofInstant(t, java.time.ZoneOffset.UTC))
    case a: Array[Byte] => a.map(b => f"${b & 0xff}%02x").mkString
    case r: Row => r.toSeq.map(value)
    case s: scala.collection.Seq[_] => s.map(value)
    case m: scala.collection.Map[_, _] => m.map { case (k, x) => k.toString -> value(x) }
    case o => o
  }

  private def iso(t: java.time.LocalDateTime): String = {
    val base = t.withNano(0).format(java.time.format.DateTimeFormatter.ISO_LOCAL_DATE_TIME)
    if (t.getNano == 0) base else f"$base.${t.getNano / 1000}%06d"
  }

  def rows(rs: Array[Row]): Seq[Seq[Any]] = rs.toSeq.map(r => r.toSeq.map(value))

  /** Order-insensitive digest of a result. */
  def hash(rs: Array[Row]): String = {
    val lines = rows(rs).map(Io.json).sorted
    val md = java.security.MessageDigest.getInstance("SHA-1")
    lines.foreach { l => md.update(l.getBytes("UTF-8")); md.update('\n'.toByte) }
    md.digest().map(b => f"${b & 0xff}%02x").mkString
  }

  def answer(cols: Seq[String], rs: Array[Row]): Map[String, Any] =
    Map("cols" -> cols, "rows" -> rows(rs))
}
