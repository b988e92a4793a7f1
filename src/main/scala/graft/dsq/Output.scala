package graft.dsq

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.types._

/** Output renderers (reference §2.2 K1–K3: main.go:90-182).
  *
  * JSON framing is `[{row},\n{row}]`; object keys sorted alphabetically
  * (Go's map marshal); numbers render Go-style (whole doubles without
  * ".0"). The pretty table matches tablewriter's box format with columns
  * sorted alphabetically and a `(N rows)` footer.
  *
  * Rows come through `toLocalIterator`, one partition per job. `json`
  * writes each row as it arrives, so the CLI holds one partition of
  * the result; `prettyTable` holds every row, since it sizes the columns
  * before it prints. Both write into the caller's `Appendable` (the CLI
  * passes a buffered writer over stdout).
  */
object Output {

  /** Go-style JSON value rendering. */
  def renderValue(v: Any): String = v match {
    case null => "null"
    case s: String => renderString(s)
    case d: Double => renderDouble(d)
    case f: Float => renderDouble(f.toDouble)
    case d: java.math.BigDecimal => d.toPlainString
    case b: Boolean => if (b) "true" else "false"
    case t: java.sql.Timestamp => renderString(t.toInstant.toString)
    case d: java.sql.Date => renderString(d.toString)
    case b: Array[Byte] =>
      renderString(java.util.Base64.getEncoder.encodeToString(b))
    // non-flattened results (split(), collect_list, named_struct, maps)
    // must still render as valid JSON
    case seq: scala.collection.Seq[_] =>
      seq.map(renderValue).mkString("[", ",", "]")
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, v) => renderString(String.valueOf(k)) + ":" + renderValue(v) }
        .mkString("{", ",", "}")
    case r: org.apache.spark.sql.Row =>
      r.schema.fieldNames.zipWithIndex.sortBy(_._1)
        .map { case (f, i) => renderString(f) + ":" + renderValue(r.get(i)) }
        .mkString("{", ",", "}")
    case other => other.toString
  }

  def renderDouble(d: Double): String =
    if (d.isNaN || d.isInfinite) "null"
    else if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
    else {
      val s = d.toString
      // Go prints 1.0E7 as 1e+07; both parse as JSON — keep Java's form
      s
    }

  def renderString(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"' => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case '\n' => sb.append("\\n")
      case '\r' => sb.append("\\r")
      case '\t' => sb.append("\\t")
      case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
      case c => sb.append(c)
    }
    sb.append('"').toString
  }

  /** K1: JSON array of objects, `[{...},\n{...}]`, keys sorted. */
  def json(df: DataFrame, out: Appendable): Unit = {
    val names = df.schema.fieldNames
    val order = names.zipWithIndex.sortBy(_._1)
    val it = df.toLocalIterator()
    it.hasNext // runs the first job, so a query that fails writes nothing
    out.append('[')
    var first = true
    while (it.hasNext) {
      val row = it.next()
      if (!first) out.append(",\n")
      first = false
      out.append('{')
      var firstK = true
      order.foreach { case (name, i) =>
        if (!firstK) out.append(',')
        firstK = false
        out.append(renderString(name)).append(':')
          .append(renderValue(row.get(i)))
      }
      out.append('}')
    }
    out.append(']')
  }

  /** Cell text for the pretty table (raw strings, Go-style numbers). */
  private def cellText(v: Any): String = v match {
    case null => ""
    case s: String => s
    case d: Double => renderDouble(d)
    case f: Float => renderDouble(f.toDouble)
    case other => other.toString
  }

  private def isNumeric(dt: DataType): Boolean = dt match {
    case _: NumericType => true
    case _ => false
  }

  /** K2: tablewriter-style ASCII box, columns alphabetical, `(N rows)`
    * footer (reference main.go:130-181).
    */
  def prettyTable(df: DataFrame, out: Appendable): Unit = {
    val fields = df.schema.fields.zipWithIndex.sortBy(_._1.name)
    val header = fields.map(_._1.name)
    val rows = {
      val it = df.toLocalIterator()
      val buf = scala.collection.mutable.ArrayBuffer[Array[String]]()
      while (it.hasNext) {
        val r = it.next()
        buf += fields.map { case (_, i) => cellText(r.get(i)) }
      }
      buf.toSeq
    }
    val widths = fields.zipWithIndex.map { case ((f, _), ci) =>
      math.max(f.name.length, rows.foldLeft(0)((m, r) => math.max(m, r(ci).length)))
    }
    def sep(): Unit = {
      widths.foreach(w => out.append('+').append("-" * (w + 2)))
      out.append("+\n")
    }
    def centered(s: String, w: Int): String = {
      val total = w + 2 - s.length
      val left = total / 2
      (" " * left) + s + (" " * (total - left))
    }
    sep()
    header.zip(widths).foreach { case (h, w) =>
      out.append('|').append(centered(h, w))
    }
    out.append("|\n")
    sep()
    rows.foreach { r =>
      fields.zip(widths).zipWithIndex.foreach { case (((f, _), w), ci) =>
        val cell = r(ci)
        val padded =
          if (isNumeric(f.dataType))
            " " + (" " * (w - cell.length)) + cell + " "
          else
            " " + cell + (" " * (w - cell.length)) + " "
        out.append('|').append(padded)
      }
      out.append("|\n")
    }
    sep()
    val n = rows.length
    out.append(s"($n ${if (n == 1) "row" else "rows"})\n")
  }
}
