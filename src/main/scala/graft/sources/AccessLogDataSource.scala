package graft.sources

import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** DataSourceV2 source for Apache/nginx access logs (Common and
  * Combined Log Format — the grammar the CLI path reads through,
  * `dsq/Readers.accessLog`), on the shared line-source stack
  * ([[LineSource]]): line-aligned byte-range splits, parse-time column
  * pruning, 3VL filter pushdown, and size statistics.
  *
  * {{{
  *   spark.read.format("graft-accesslog")
  *     .option("combined", "true")       // nginx combined (+2 columns)
  *     .load("/var/log/nginx")
  * }}}
  *
  * The schema is FIXED by the format (no sampling): `status` and
  * `body_bytes` land typed as bigint (a `-` body size → null, the CLF
  * convention); everything else is string. Lines that don't match the
  * grammar are rejected at parse time (a count of them belongs to a
  * metrics hook, not to the row stream).
  */
class AccessLogDataSource extends LineSource(AccessLogFormat)

object AccessLogFormat extends LineFormat {
  override def name: String = "graft-accesslog"
  override def fixedColumns: Boolean = true

  private val base =
    "^(\\S+) (\\S+) (\\S+) \\[([^\\]]*)\\] \"([^\"]*)\" (\\S+) (\\S+)"

  private def isCombined(options: CaseInsensitiveStringMap): Boolean =
    Option(options.get("combined")).exists(_.toBoolean)

  /** The format's columns, in grammar order: seven Common Log Format
    * fields, plus referer and user agent when `combined`.
    */
  def schemaFor(combined: Boolean): StructType =
    StructType((Seq(
      "remote_addr" -> StringType, "remote_ident" -> StringType,
      "remote_user" -> StringType, "time" -> StringType,
      "request" -> StringType, "status" -> LongType,
      "body_bytes" -> LongType) ++ (if (combined)
      Seq("referer" -> StringType, "user_agent" -> StringType)
    else Nil)).map { case (n, t) => StructField(n, t, nullable = true) })

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    schemaFor(isCombined(options))

  override def parser(schema: StructType,
      options: CaseInsensitiveStringMap): String => Array[Any] = {
    val combined = isCombined(options)
    val re = (if (combined) base + " \"([^\"]*)\" \"([^\"]*)\".*$"
      else base + ".*$").r
    // grammar group of each parsed field
    val full = schemaFor(combined).fieldNames
    val slots = schema.fieldNames.map(full.indexOf(_) + 1)
    val types = schema.fields.map(_.dataType)
    line => re.findFirstMatchIn(line) match {
      case None => null // non-matching line: rejected, not a row
      case Some(m) => Array.tabulate[Any](slots.length) { i =>
        val g = m.group(slots(i))
        types(i) match {
          // CLF writes '-' for "no value" (body_bytes of a 304, etc.)
          case LongType =>
            if (g == "-") null else scala.util.Try(g.toLong).getOrElse(null)
          case _ => UTF8String.fromString(g)
        }
      }
    }
  }
}
