package graft.sources

import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** DataSourceV2 source for the Apache error-log format (reference
  * `text/apache2error`, README.md:609), on the shared line-source stack
  * ([[LineSource]]): line-aligned byte-range splits, parse-time column
  * pruning, 3VL filter pushdown, size statistics.
  *
  * {{{
  *   spark.read.format("graft-apacheerror").load("/var/log/apache2")
  * }}}
  *
  * The schema is FIXED by the grammar — five string columns
  * (time, level, pid, client, message). The `[pid …]`/`[client …]`
  * sections are optional in real logs; an absent section yields ""
  * (Go's regexp submatch convention, which the reference's table shows
  * and the golden pipes pin). A line that doesn't match the grammar at
  * all ALSO yields an all-"" row — the `regexp_extract` no-match
  * convention of the previous CLI path, kept for byte-exact parity
  * (contrast the access-log source, whose grammar anchors the whole
  * line and rejects non-matching ones).
  */
class ApacheErrorDataSource extends LineSource(ApacheErrorFormat)

private[sources] object ApacheErrorFormat extends LineFormat {
  override def name: String = "graft-apacheerror"
  override def fixedColumns: Boolean = true

  private val fieldNames = Seq("time", "level", "pid", "client", "message")

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    StructType(fieldNames.map(StructField(_, StringType, nullable = true)))

  override def parser(schema: StructType,
      options: CaseInsensitiveStringMap): String => Array[Any] = {
    val re = ("^\\[([^\\]]*)\\] \\[([^\\]]*)\\] (?:\\[pid ([^\\]]*)\\] )?" +
      "(?:\\[client ([^\\]]*)\\] )?(.*)$").r
    val slots = schema.fieldNames.map(fieldNames.indexOf(_) + 1)
    line => {
      val m = re.findFirstMatchIn(line).orNull
      // no match / absent optional section → "" (regexp_extract + Go
      // submatch convention; see class scaladoc)
      Array.tabulate[Any](slots.length) { i =>
        val g = if (m == null) null else m.group(slots(i))
        UTF8String.fromString(if (g == null) "" else g)
      }
    }
  }
}
