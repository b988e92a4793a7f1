package graft.sources

import scala.collection.mutable
import scala.util.Try

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReaderFactory}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** DataSourceV2 file source for logfmt (`key=value` lines — the
  * reference ingests this format via its per-line Go parser,
  * README.md "logfmt"; graft's `dsq/Readers.logfmt` reads through this
  * source). This source makes logfmt a first-class Spark format:
  *
  * {{{
  *   spark.read.format("graft-logfmt").load("/logs/app")     // or .schema(s)
  * }}}
  *
  * Spark-native properties the RDD-through-JSON path can't offer:
  *   - **Byte-range splitting**: each file is chunked at
  *     `maxSplitBytes` (default 128 MiB) and chunks align to line
  *     boundaries with the classic split contract (a line belongs to
  *     the chunk containing its first byte; a chunk with start > 0
  *     discards its leading partial line, and a reader keeps consuming
  *     while the line START is ≤ its end). A 100 GB logfmt file
  *     parallelizes across executors with no driver involvement.
  *   - **Column pruning**: `SupportsPushDownRequiredColumns` reaches the
  *     reader, which materializes only requested keys — pruning happens
  *     at parse time, not as a projection after full materialization.
  *   - **Typed schema inference** from a bounded sample (first
  *     `sampleLines` lines, default 1000): bare `true`/`false` →
  *     boolean, integral → bigint, decimal/exponent → double, anything
  *     quoted or mixed → string; keys sorted for determinism. A
  *     user-supplied schema skips sampling entirely.
  *
  * Values follow the reference's logfmt semantics: quoted values are
  * JSON-unescaped strings, bare values typed by the JSON-number grammar
  * ([[LogfmtParse]]). The split, pruning and pushdown machinery is the
  * shared line-source stack ([[LineSource]]); only logfmt streams.
  */
class LogfmtDataSource extends LineSource(LogfmtFormat)

private[sources] object LogfmtFormat extends LineFormat {
  override def name: String = "graft-logfmt"
  override def fixedColumns: Boolean = false
  override def streaming: Boolean = true

  override def parser(schema: StructType,
      options: CaseInsensitiveStringMap): String => Array[Any] = {
    // (schema index, type) per key — parse touches only required fields
    val wanted: Map[String, (Int, DataType)] =
      schema.fields.zipWithIndex.map { case (f, i) =>
        f.name -> ((i, f.dataType))
      }.toMap
    val n = schema.length
    line => {
      val values = new Array[Any](n)
      for (m <- LogfmtParse.token.findAllMatchIn(line)) {
        wanted.get(m.group(1)).foreach { case (i, dt) =>
          values(i) = LogfmtParse.convert(m.group(2), dt)
        }
      }
      values
    }
  }

  /** Bare-token type lattice: Boolean and Long lift to Double only
    * among numbers; any other mixture (or any quoted value) is String.
    */
  private def widen(a: DataType, b: DataType): DataType = (a, b) match {
    case (x, y) if x == y => x
    case (LongType, DoubleType) | (DoubleType, LongType) => DoubleType
    case _ => StringType
  }

  private def tokenType(raw: String): DataType =
    if (raw.startsWith("\"")) StringType
    else if (raw == "true" || raw == "false") BooleanType
    else if (LogfmtParse.isIntToken(raw) && Try(raw.toLong).isSuccess)
      LongType
    else if (LogfmtParse.isNumToken(raw)) DoubleType
    else StringType

  /** Folds one line's keys into `types`, widening a key seen before. */
  private def foldLine(types: mutable.Map[String, DataType],
      line: String): Unit =
    for (m <- LogfmtParse.token.findAllMatchIn(line)) {
      val t = tokenType(m.group(2))
      types.update(m.group(1),
        types.get(m.group(1)).map(widen(_, t)).getOrElse(t))
    }

  private def toSchema(types: collection.Map[String, DataType]): StructType =
    StructType(types.toSeq.sortBy(_._1).map { case (k, t) =>
      StructField(k, t, nullable = true)
    })

  override def inferSchema(options: CaseInsensitiveStringMap): StructType = {
    val conf = LineSource.hadoopConf()
    val files = LineSource.listFiles(this, options, conf)
    val sampleLines =
      Option(options.get("sampleLines")).map(_.toInt).getOrElse(1000)
    // whole-file union semantics (the CLI contract: a key first seen on
    // the LAST line still gets a column) must not mean a single-threaded
    // driver read of every byte before the distributed scan even starts
    // — at sampleLines=max, run the inference as a small Spark job
    // instead (see inferDistributed)
    if (sampleLines == Int.MaxValue) {
      SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession)
        .foreach { spark => return inferDistributed(spark, files) }
    }
    val types = mutable.Map.empty[String, DataType]
    var remaining = sampleLines
    files.iterator.takeWhile(_ => remaining > 0).foreach { st =>
      val in = st.getPath.getFileSystem(conf).open(st.getPath)
      try {
        val br = new java.io.BufferedReader(
          new java.io.InputStreamReader(in,
            java.nio.charset.StandardCharsets.UTF_8))
        var line = br.readLine()
        while (line != null && remaining > 0) {
          foldLine(types, line)
          remaining -= 1
          line = br.readLine()
        }
      } finally in.close()
    }
    toSchema(types)
  }

  /** Whole-file key/type union as a distributed job: each partition
    * folds its lines into a key→type map (map-side, no shuffle of
    * lines), the driver merges the tiny maps in a commutative reduce
    * (the lattice bool/long < double < string makes widen
    * order-independent). Reads the data once in parallel instead of
    * once sequentially on the driver — the actual row scan still happens
    * in the DSv2 reader afterwards, so the file is read twice either
    * way; this makes the first pass parallel.
    */
  private def inferDistributed(spark: SparkSession,
      files: Seq[org.apache.hadoop.fs.FileStatus]): StructType = {
    if (files.isEmpty) return StructType(Nil)
    val merged = spark.read.textFile(files.map(_.getPath.toString): _*).rdd
      .mapPartitions { it =>
        val m = mutable.Map.empty[String, DataType]
        it.foreach(foldLine(m, _))
        Iterator.single(m.toMap)
      }
      .fold(Map.empty[String, DataType]) { (a, b) =>
        (a.keySet ++ b.keySet).iterator.map { k =>
          k -> ((a.get(k), b.get(k)) match {
            case (Some(x), Some(y)) => widen(x, y)
            case (x, y) => x.orElse(y).get
          })
        }.toMap
      }
    toSchema(merged)
  }
}

/** Offset for the logfmt stream: the highest file NAME ingested. The
  * contract is append-ordered naming (log-rotation style `name-<ts>` /
  * `batch-NNN`) — a new file must sort above every already-committed
  * one, which also makes the offset a single compact string in the
  * checkpoint log rather than an ever-growing seen-files set.
  */
private[sources] case class LogfmtOffset(maxName: String) extends Offset {
  override def json(): String = {
    // full JSON string escaping — a control character (e.g. a newline in
    // a hostile file name) must not serialize invalid JSON into the
    // checkpoint offset log, or query restart breaks
    val sb = new StringBuilder
    maxName.foreach {
      case '\\' => sb.append("\\\\")
      case '"' => sb.append("\\\"")
      case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
      case c => sb.append(c)
    }
    s"""{"maxName":"$sb"}"""
  }
}

/** Micro-batch streaming over a logfmt directory: each trigger ingests
  * every file whose name sorts above the committed high-watermark,
  * split into the same line-aligned chunks as the batch path (same
  * reader factory, same pushed filters and pruning). Offsets live in
  * the standard checkpoint log, so a restarted query resumes exactly
  * where it stopped — the gate drives two separate runs through one
  * checkpoint and requires the union to equal the batch read.
  */
private[sources] class LogfmtMicroBatchStream(scan: LineScan)
    extends MicroBatchStream {

  override def initialOffset(): Offset = LogfmtOffset("")

  override def latestOffset(): Offset = {
    val names = scan.listFiles(mustExist = false).map(_.getPath.getName)
    LogfmtOffset(if (names.isEmpty) "" else names.max)
  }

  override def deserializeOffset(json: String): Offset = {
    // minimal parse of {"maxName":"..."}; LogfmtParse.unquote is the
    // exact inverse of LogfmtOffset.json's escaping (full JSON escapes
    // incl. \uXXXX control characters)
    val m = """"maxName"\s*:\s*"((?:[^"\\]|\\.)*)"""".r
      .findFirstMatchIn(json)
    LogfmtOffset(
      m.map(g => LogfmtParse.unquote("\"" + g.group(1) + "\""))
        .getOrElse(""))
  }

  override def planInputPartitions(start: Offset,
      end: Offset): Array[InputPartition] = {
    val lo = start.asInstanceOf[LogfmtOffset].maxName
    val hi = end.asInstanceOf[LogfmtOffset].maxName
    LineSource.chunksOf(
      scan.listFiles(mustExist = false).filter { st =>
        val n = st.getPath.getName
        n > lo && n <= hi
      },
      LineSource.splitBytesOf(scan.options))
  }

  override def createReaderFactory(): PartitionReaderFactory =
    scan.createReaderFactory()

  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
}

private[sources] object LogfmtParse {
  /** The logfmt token grammar: a key, `=`, then a quoted value with
    * backslash escapes or a bare run of non-space characters. A token
    * without `=` matches nothing and is skipped.
    */
  val token = "([A-Za-z0-9_.-]+)=(\"(?:[^\"\\\\]|\\\\.)*\"|\\S*)".r

  /** JSON-number grammar for bare tokens — the SAME check gates both
    * schema inference (tokenType) and value conversion (convert), so an
    * out-of-grammar token like `0123` or `+5` is a string under an
    * inferred schema AND degrades to null under a user/sampled numeric
    * schema, never silently parsing as a number in one path only.
    */
  private val intRe = java.util.regex.Pattern.compile("-?(0|[1-9]\\d*)")
  private val numRe = java.util.regex.Pattern
    .compile("-?(0|[1-9]\\d*)(\\.\\d+)?([eE][+-]?\\d+)?")
  def isIntToken(raw: String): Boolean = intRe.matcher(raw).matches()
  def isNumToken(raw: String): Boolean = numRe.matcher(raw).matches()

  /** JSON-style unescape of a quoted logfmt value (go-logfmt quotes
    * with strconv semantics, so a quoted value decodes as a JSON string).
    */
  def unquote(raw: String): String = {
    val s = raw.substring(1, raw.length - 1)
    if (!s.contains('\\')) return s
    val sb = new StringBuilder(s.length)
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '\\' && i + 1 < s.length) {
        s.charAt(i + 1) match {
          case '"' => sb.append('"'); i += 2
          case '\\' => sb.append('\\'); i += 2
          case '/' => sb.append('/'); i += 2
          case 'b' => sb.append('\b'); i += 2
          case 'f' => sb.append('\f'); i += 2
          case 'n' => sb.append('\n'); i += 2
          case 'r' => sb.append('\r'); i += 2
          case 't' => sb.append('\t'); i += 2
          case 'u' if i + 6 <= s.length &&
              Try(Integer.parseInt(s.substring(i + 2, i + 6), 16))
                .isSuccess =>
            sb.append(Integer.parseInt(s.substring(i + 2, i + 6), 16)
              .toChar)
            i += 6
          case other => sb.append(other); i += 2
        }
      } else { sb.append(c); i += 1 }
    }
    sb.toString
  }

  /** Convert one raw token to the required Catalyst value; type
    * mismatches (sample missed a shape) degrade to null, not failure.
    */
  def convert(raw: String, dt: DataType): Any = {
    val quoted = raw.startsWith("\"")
    dt match {
      case StringType =>
        UTF8String.fromString(if (quoted) unquote(raw) else raw)
      case LongType =>
        if (quoted || !isIntToken(raw)) null
        else Try(raw.toLong).getOrElse(null)
      case DoubleType =>
        if (quoted || !isNumToken(raw)) null
        else Try(raw.toDouble).getOrElse(null)
      case BooleanType => raw match {
        case "true" => true
        case "false" => false
        case _ => null
      }
      case _ => null
    }
  }
}
