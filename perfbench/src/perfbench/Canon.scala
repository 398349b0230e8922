package perfbench

import java.security.MessageDigest
import org.apache.spark.sql.Row

/** Engine-neutral result digest. `oracle.py` computes the same digest over
  * DuckDB rows, so a Spark result and its DuckDB restatement compare by
  * one string. Cells follow the repo's oracle compare: columns by name,
  * rows as a multiset, integral numbers equal across integer/decimal/
  * double types, other doubles bit-exact (with -0.0 folded into 0.0). */
object Canon {

  def cell(v: Any): String = v match {
    case null => "\\N"
    case b: Boolean => if (b) "true" else "false"
    case d: Double => double(d)
    case f: Float => double(f.toDouble)
    case b: java.math.BigDecimal => decimal(b)
    case b: scala.math.BigDecimal => decimal(b.bigDecimal)
    case n: Long => n.toString
    case n: Int => n.toString
    case n: Short => n.toString
    case n: Byte => n.toString
    case d: java.sql.Date => d.toLocalDate.toString
    case d: java.time.LocalDate => d.toString
    case t: java.sql.Timestamp => t.toLocalDateTime.toString
    case s: String => escape(s)
    case other => escape(other.toString)
  }

  private def double(d: Double): String =
    if (!d.isNaN && !d.isInfinite && d == math.rint(d) && math.abs(d) < 9.007199254740992e15)
      d.toLong.toString
    else f"${java.lang.Double.doubleToLongBits(if (d == 0.0) 0.0 else d)}%016x"

  private def decimal(b: java.math.BigDecimal): String = {
    val s = b.stripTrailingZeros()
    if (s.scale <= 0) s.toBigIntegerExact.toString else s.toPlainString
  }

  private def escape(s: String): String =
    s.replace("\\", "\\\\").replace("\n", "\\n").replace("\u001f", "\\u001f")

  /** sha256 over the sorted column names and the sorted canonical rows. */
  def digest(columns: Seq[String], rows: Seq[Row]): String = {
    val order = columns.zipWithIndex.sortBy(_._1)
    val lines = rows.map(r => order.map { case (_, i) => cell(r.get(i)) }
      .mkString("\u001f")).sorted
    val md = MessageDigest.getInstance("SHA-256")
    md.update(order.map(_._1).mkString("\u001f").getBytes("UTF-8"))
    lines.foreach { l => md.update("\n".getBytes("UTF-8")); md.update(l.getBytes("UTF-8")) }
    md.digest().map(b => f"$b%02x").mkString
  }
}

/** Minimal JSON writer for the result file (maps, sequences, numbers,
  * strings, booleans, null). */
object Json {
  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => apply(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case s: String => quote(s)
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case other => quote(other.toString)
  }

  private def quote(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
