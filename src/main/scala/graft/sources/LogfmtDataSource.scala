package graft.sources

import java.util

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Try

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.{AnalysisException, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.sources
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** Hadoop `Configuration` is not `Serializable`; connectors ship it to
  * executors via write/readFields. Self-contained equivalent of the
  * pattern Spark's own file sources use, so the reader factory works on
  * any `FileSystem` scheme (file://, hdfs://, s3a://) with the driver's
  * full conf (credentials, endpoints) intact.
  */
final class SerializableHadoopConf(@transient var value: Configuration)
    extends Serializable {
  private def writeObject(out: java.io.ObjectOutputStream): Unit = {
    out.defaultWriteObject()
    value.write(out)
  }
  private def readObject(in: java.io.ObjectInputStream): Unit = {
    in.defaultReadObject()
    value = new Configuration(false)
    value.readFields(in)
  }
}

/** DataSourceV2 file source for logfmt (`key=value` lines — the
  * reference ingests this format via its per-line Go parser,
  * README.md "logfmt"; graft's `dsq/Readers.logfmt` covers the CLI
  * path). This source makes logfmt a first-class Spark format:
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
  * Values follow the reference's logfmt semantics (quoted values are
  * JSON-escaped, bare values typed) — the same contract as
  * `Logfmt.lineToJson`, minus the JSON round-trip.
  */
class LogfmtDataSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "graft-logfmt"

  override def supportsExternalMetadata(): Boolean = true

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    LogfmtDataSource.inferSchema(options)

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table =
    new LogfmtTable(schema,
      new CaseInsensitiveStringMap(properties))
}

object LogfmtDataSource {

  private[sources] def hadoopConf(): Configuration =
    Try(SparkSession.active.sessionState.newHadoopConf())
      .getOrElse(new Configuration())

  /** The data files under `path` (a file, a directory or a glob), in
    * path order. A path that matches nothing fails with Spark's own
    * `PATH_NOT_FOUND`, naming the path, as the built-in file sources do
    * on a batch read — not a zero-column empty table. The micro-batch
    * stream lists with `mustExist = false`: a directory that does not
    * exist yet holds no new files.
    */
  private[sources] def listFiles(options: CaseInsensitiveStringMap,
      conf: Configuration, mustExist: Boolean = true): Seq[FileStatus] = {
    val path = Option(options.get("path")).getOrElse(
      throw new IllegalArgumentException(
        "graft-logfmt: 'path' option is required"))
    val p = new Path(path)
    val fs = p.getFileSystem(conf)
    val matched = Option(fs.globStatus(p)).getOrElse(Array.empty).toSeq
    if (matched.isEmpty && mustExist)
      throw new AnalysisException("PATH_NOT_FOUND",
        Map("path" -> fs.makeQualified(p).toString))
    val expanded = matched.flatMap { st =>
      if (st.isDirectory)
        fs.listStatus(st.getPath).toSeq.filter(_.isFile)
      else Seq(st)
    }
    // _SUCCESS etc. are writer bookkeeping, never data
    expanded.filterNot(_.getPath.getName.startsWith("_"))
      .sortBy(_.getPath.toString)
  }

  /** Split-size option, validated once for every planner below: zero
    * would make the chunk stride loop throw an opaque
    * IllegalArgumentException and a negative value would silently plan
    * ZERO partitions (empty scan instead of an error).
    */
  private[sources] def splitBytesOf(options: CaseInsensitiveStringMap): Long = {
    val v = Option(options.get("maxSplitBytes")).map(_.toLong)
      .getOrElse(128L * 1024 * 1024)
    require(v > 0, s"maxSplitBytes must be positive, got $v")
    v
  }

  /** The one file→line-aligned-chunks planner shared by the logfmt batch
    * scan, the logfmt micro-batch stream, and the access-log scan.
    */
  private[sources] def chunksOf(files: Seq[FileStatus],
      splitBytes: Long): Array[InputPartition] =
    files.flatMap { st =>
      val len = st.getLen
      if (len == 0) Seq.empty
      else (0L until len by splitBytes).map { off =>
        LogfmtChunk(st.getPath.toString, off,
          math.min(splitBytes, len - off))
      }
    }.toArray

  /** Bare-token type lattice: Boolean and Long lift to Double only
    * among numbers; any other mixture (or any quoted value) is String.
    */
  private def widen(a: DataType, b: DataType): DataType = (a, b) match {
    case (x, y) if x == y => x
    case (LongType, DoubleType) | (DoubleType, LongType) => DoubleType
    case _ => StringType
  }

  private def bareType(raw: String): DataType =
    if (raw == "true" || raw == "false") BooleanType
    else if (LogfmtParse.isIntToken(raw) && Try(raw.toLong).isSuccess)
      LongType
    else if (LogfmtParse.isNumToken(raw)) DoubleType
    else StringType

  private[sources] def inferSchema(
      options: CaseInsensitiveStringMap): StructType = {
    val conf = hadoopConf()
    val sampleLines =
      Option(options.get("sampleLines")).map(_.toInt).getOrElse(1000)
    // whole-file union semantics (the CLI contract: a key first seen on
    // the LAST line still gets a column) must not mean a single-threaded
    // driver read of every byte before the distributed scan even starts
    // — at sampleLines=max, run the inference as a small Spark job
    // instead: per-partition key→type maps, widened in a commutative
    // reduce (the type lattice bool/long < double < string makes widen
    // order-independent)
    if (sampleLines == Int.MaxValue) {
      org.apache.spark.sql.SparkSession.getActiveSession
        .orElse(org.apache.spark.sql.SparkSession.getDefaultSession)
        .foreach { spark => return inferDistributed(spark, options, conf) }
    }
    val types = mutable.LinkedHashMap.empty[String, DataType]
    var remaining = sampleLines
    listFiles(options, conf).iterator.takeWhile(_ => remaining > 0)
      .foreach { st =>
        val fs = st.getPath.getFileSystem(conf)
        val in = fs.open(st.getPath)
        try {
          val br = new java.io.BufferedReader(
            new java.io.InputStreamReader(in,
              java.nio.charset.StandardCharsets.UTF_8))
          var line = br.readLine()
          while (line != null && remaining > 0) {
            for (m <- LogfmtParse.token.findAllMatchIn(line)) {
              val k = m.group(1)
              val raw = m.group(2)
              val t =
                if (raw.startsWith("\"")) StringType else bareType(raw)
              types.update(k, types.get(k).map(widen(_, t)).getOrElse(t))
            }
            remaining -= 1
            line = br.readLine()
          }
        } finally in.close()
      }
    StructType(types.toSeq.sortBy(_._1).map { case (k, t) =>
      StructField(k, t, nullable = true)
    })
  }

  /** Whole-file key/type union as a distributed job: each partition
    * folds its lines into a key→type map (map-side, no shuffle of
    * lines), the driver merges the tiny maps. Reads the data once in
    * parallel instead of once sequentially on the driver — the actual
    * row scan still happens in the DSv2 reader afterwards, so the file
    * is read twice either way; this makes the first pass parallel.
    */
  private def inferDistributed(spark: org.apache.spark.sql.SparkSession,
      options: CaseInsensitiveStringMap,
      conf: Configuration): StructType = {
    val paths = listFiles(options, conf).map(_.getPath.toString)
    if (paths.isEmpty) return StructType(Nil)
    val merged = spark.read.textFile(paths: _*).rdd
      .mapPartitions { it =>
        val m = mutable.Map.empty[String, DataType]
        it.foreach { line =>
          for (tok <- LogfmtParse.token.findAllMatchIn(line)) {
            val k = tok.group(1)
            val raw = tok.group(2)
            val t = if (raw.startsWith("\"")) StringType else bareType(raw)
            m.update(k, m.get(k).map(widen(_, t)).getOrElse(t))
          }
        }
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
    StructType(merged.toSeq.sortBy(_._1).map { case (k, t) =>
      StructField(k, t, nullable = true)
    })
  }
}

private[sources] class LogfmtTable(tableSchema: StructType,
    options: CaseInsensitiveStringMap) extends Table with SupportsRead {
  override def name(): String =
    s"graft-logfmt:${Option(options.get("path")).getOrElse("?")}"
  override def schema(): StructType = tableSchema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ,
      TableCapability.MICRO_BATCH_READ)
  override def newScanBuilder(
      caseInsensitiveOptions: CaseInsensitiveStringMap): ScanBuilder = {
    // .load(path) lands in the table properties; scan options can
    // override sampling/split tuning at read time
    val merged = new util.HashMap[String, String](options.asCaseSensitiveMap())
    merged.putAll(caseInsensitiveOptions.asCaseSensitiveMap())
    new LogfmtScanBuilder(tableSchema, new CaseInsensitiveStringMap(merged))
  }
}

private[sources] class LogfmtScanBuilder(fullSchema: StructType,
    options: CaseInsensitiveStringMap)
    extends ScanBuilder with SupportsPushDownRequiredColumns
    with SupportsPushDownFilters {
  private var required: StructType = fullSchema
  private var pushed: Array[sources.Filter] = Array.empty
  override def pruneColumns(requiredSchema: StructType): Unit =
    // keep only logfmt fields (metadata columns stay virtual)
    required = StructType(
      requiredSchema.filter(f => fullSchema.fieldNames.contains(f.name)))
  override def pushFilters(
      filters: Array[sources.Filter]): Array[sources.Filter] = {
    val (accepted, residual) = filters.partition(
      LogfmtFilters.supported(_, fullSchema))
    pushed = accepted
    residual
  }
  override def pushedFilters(): Array[sources.Filter] = pushed
  override def build(): Scan = new LogfmtScan(required, options, pushed,
    fullSchema)
}

/** One line-aligned byte range of one file. */
private[sources] case class LogfmtChunk(path: String, start: Long,
    length: Long) extends InputPartition

private[sources] class LogfmtScan(requiredSchema: StructType,
    options: CaseInsensitiveStringMap,
    pushedFilters: Array[sources.Filter] = Array.empty,
    fullSchema: StructType = StructType(Nil))
    extends Scan with Batch with SupportsReportStatistics {
  override def readSchema(): StructType = requiredSchema

  /** Size-on-disk statistics so the optimizer can make broadcast /
    * join-strategy decisions about this source exactly as it does for
    * the built-in file formats (sizeInBytes = sum of file lengths,
    * scaled by the column-pruning ratio).
    */
  override def estimateStatistics(): Statistics = {
    val conf = LogfmtDataSource.hadoopConf()
    val bytes = LogfmtDataSource.listFiles(options, conf)
      .map(_.getLen).sum
    val ratio =
      if (fullSchema.isEmpty || fullSchema.length == 0) 1.0
      else math.max(1, requiredSchema.length).toDouble / fullSchema.length
    new Statistics {
      override def sizeInBytes(): java.util.OptionalLong =
        java.util.OptionalLong.of(math.max(1L, (bytes * ratio).toLong))
      override def numRows(): java.util.OptionalLong =
        java.util.OptionalLong.empty()
    }
  }
  override def description(): String =
    s"graft-logfmt ReadSchema: ${requiredSchema.simpleString}, " +
      s"PushedFilters: [${pushedFilters.mkString(", ")}]"
  override def toBatch: Batch = this

  /** Streaming tier of the same source: file-name high-watermark
    * micro-batches (see [[LogfmtMicroBatchStream]]).
    */
  override def toMicroBatchStream(
      checkpointLocation: String): org.apache.spark.sql.connector.read
      .streaming.MicroBatchStream =
    new LogfmtMicroBatchStream(this, options)

  /** Parse schema = required ∪ filter-referenced fields: a fully-pushed
    * filter's column may be pruned from the output, but the reader still
    * needs its value to evaluate the predicate.
    */
  private def parseSchema: StructType = {
    val refs = pushedFilters.flatMap(_.references).distinct
    val extra = refs.filterNot(requiredSchema.fieldNames.contains)
      .flatMap(n => fullSchema.fields.find(_.name == n))
    StructType(requiredSchema.fields ++ extra)
  }

  override def planInputPartitions(): Array[InputPartition] = {
    val conf = LogfmtDataSource.hadoopConf()
    LogfmtDataSource.chunksOf(LogfmtDataSource.listFiles(options, conf),
      LogfmtDataSource.splitBytesOf(options))
  }

  override def createReaderFactory(): PartitionReaderFactory = {
    val conf = new SerializableHadoopConf(LogfmtDataSource.hadoopConf())
    val schema = parseSchema
    val nOut = requiredSchema.length
    val filters = pushedFilters
    new PartitionReaderFactory {
      override def createReader(
          partition: InputPartition): PartitionReader[InternalRow] =
        new LogfmtPartitionReader(
          partition.asInstanceOf[LogfmtChunk], schema, conf.value,
          filters, nOut)
    }
  }
}

/** Streams one chunk: seek to `start`, discard the leading partial line
  * when start > 0 (it belongs to the previous chunk), then emit every
  * line whose first byte lies within [start, end]. Uses Hadoop's
  * byte-counting `LineReader` so position tracking is exact across
  * multi-byte UTF-8 and both newline conventions. Format-specific
  * readers implement `parseLine` (null = reject the line — pushed
  * filters or unparseable input — before any row reaches the engine).
  */
private[sources] abstract class ChunkLineReader(chunk: LogfmtChunk,
    conf: Configuration) extends PartitionReader[InternalRow] {

  protected def parseLine(line: String): InternalRow

  private val end = chunk.start + chunk.length
  private val path = new Path(chunk.path)
  private val in = path.getFileSystem(conf).open(path)
  private val lines = new org.apache.hadoop.util.LineReader(in, conf)
  private val buf = new org.apache.hadoop.io.Text()
  private var pos: Long = {
    in.seek(chunk.start)
    var p = chunk.start
    if (chunk.start != 0) p += lines.readLine(buf)
    p
  }
  private var row: InternalRow = _

  final override def next(): Boolean = {
    // a line is ours iff it STARTS at or before `end` (the chunk owning
    // byte `end` reads it via its discarded-first-line rule)
    while (pos <= end) {
      val n = lines.readLine(buf)
      if (n == 0) return false
      pos += n
      row = parseLine(buf.toString)
      if (row != null) return true
    }
    false
  }

  final override def get(): InternalRow = row
  final override def close(): Unit = in.close()
}

private[sources] class LogfmtPartitionReader(chunk: LogfmtChunk,
    schema: StructType, conf: Configuration,
    filters: Array[sources.Filter] = Array.empty, nOutput: Int = -1)
    extends ChunkLineReader(chunk, conf) {

  private val nOut = if (nOutput < 0) schema.length else nOutput

  // (schema index, type) per key — parse touches only required fields
  private val wanted: Map[String, (Int, DataType)] =
    schema.fields.zipWithIndex.map { case (f, i) =>
      f.name -> ((i, f.dataType))
    }.toMap

  private val fieldIdx: Map[String, Int] =
    schema.fieldNames.zipWithIndex.toMap

  override protected def parseLine(line: String): InternalRow = {
    val values = new Array[Any](schema.length)
    for (m <- LogfmtParse.token.findAllMatchIn(line)) {
      wanted.get(m.group(1)).foreach { case (i, dt) =>
        values(i) = LogfmtParse.convert(m.group(2), dt)
      }
    }
    if (!filters.forall(LogfmtFilters.eval(_, k =>
        fieldIdx.get(k).map(values(_)).orNull))) return null
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      if (nOut == values.length) values
      else java.util.Arrays.copyOfRange(
        values.asInstanceOf[Array[AnyRef]], 0, nOut)
        .asInstanceOf[Array[Any]])
  }
}

/** Offset for the logfmt stream: the highest file NAME ingested. The
  * contract is append-ordered naming (log-rotation style `name-<ts>` /
  * `batch-NNN`) — a new file must sort above every already-committed
  * one, which also makes the offset a single compact string in the
  * checkpoint log rather than an ever-growing seen-files set.
  */
private[sources] case class LogfmtOffset(maxName: String)
    extends org.apache.spark.sql.connector.read.streaming.Offset {
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
private[sources] class LogfmtMicroBatchStream(scan: LogfmtScan,
    options: CaseInsensitiveStringMap)
    extends org.apache.spark.sql.connector.read.streaming.MicroBatchStream {
  import org.apache.spark.sql.connector.read.streaming.Offset

  private val conf = LogfmtDataSource.hadoopConf()

  override def initialOffset(): Offset = LogfmtOffset("")

  override def latestOffset(): Offset = {
    val names = LogfmtDataSource.listFiles(options, conf, mustExist = false)
      .map(_.getPath.getName)
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
    LogfmtDataSource.chunksOf(
      LogfmtDataSource.listFiles(options, conf, mustExist = false).filter { st =>
        val n = st.getPath.getName
        n > lo && n <= hi
      },
      LogfmtDataSource.splitBytesOf(options))
  }

  override def createReaderFactory(): PartitionReaderFactory =
    scan.createReaderFactory()

  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
}

/** Exact interpreter for the v1 `sources.Filter` tree over parsed
  * logfmt values. A filter accepted by `supported` is FULLY handled at
  * parse time (Spark drops its re-evaluation), so the comparison
  * semantics here must match Catalyst's: null never satisfies anything
  * except IsNull, and comparisons are typed (UTF8String vs String,
  * exact integer vs widened double).
  */
private[sources] object LogfmtFilters {
  import org.apache.spark.sql.sources._

  def supported(f: Filter, schema: StructType): Boolean = {
    def known(attr: String): Boolean = schema.fieldNames.contains(attr)
    f match {
      case EqualTo(a, _) => known(a)
      case GreaterThan(a, _) => known(a)
      case GreaterThanOrEqual(a, _) => known(a)
      case LessThan(a, _) => known(a)
      case LessThanOrEqual(a, _) => known(a)
      case In(a, _) => known(a)
      case IsNull(a) => known(a)
      case IsNotNull(a) => known(a)
      case StringStartsWith(a, _) => known(a)
      case StringEndsWith(a, _) => known(a)
      case StringContains(a, _) => known(a)
      case And(l, r) => supported(l, schema) && supported(r, schema)
      case Or(l, r) => supported(l, schema) && supported(r, schema)
      case Not(c) => supported(c, schema)
      case _ => false
    }
  }

  private def cmp(x: Any, lit: Any): Option[Int] = (x, lit) match {
    case (null, _) | (_, null) => None
    // binary UTF8String order — matches Catalyst, which differs from
    // String.compareTo (UTF-16 code units) above the BMP
    case (a: UTF8String, b: String) =>
      Some(a.compareTo(UTF8String.fromString(b)))
    case (a: java.lang.Long, b: Number) =>
      Some(java.lang.Long.compare(a, b.longValue()))
    case (a: java.lang.Double, b: Number) =>
      Some(java.lang.Double.compare(a, b.doubleValue()))
    case (a: java.lang.Boolean, b: java.lang.Boolean) =>
      Some(a.compareTo(b))
    case _ => None
  }

  private def str(x: Any): Option[String] = x match {
    case s: UTF8String => Some(s.toString)
    case _ => None
  }

  /** SQL three-valued logic: None = UNKNOWN (a null reached a
    * comparison). `Not(UNKNOWN)` stays UNKNOWN — the one case a
    * two-valued interpreter gets wrong and silently un-drops rows.
    */
  private def tri(f: Filter, get: String => Any): Option[Boolean] =
    f match {
      case sources.EqualTo(a, v) => cmp(get(a), v).map(_ == 0)
      case sources.GreaterThan(a, v) => cmp(get(a), v).map(_ > 0)
      case sources.GreaterThanOrEqual(a, v) => cmp(get(a), v).map(_ >= 0)
      case sources.LessThan(a, v) => cmp(get(a), v).map(_ < 0)
      case sources.LessThanOrEqual(a, v) => cmp(get(a), v).map(_ <= 0)
      case sources.In(a, vs) =>
        val rs = vs.map(v => cmp(get(a), v).map(_ == 0))
        if (rs.exists(_.contains(true))) Some(true)
        else if (rs.exists(_.isEmpty)) None
        else Some(false)
      case sources.IsNull(a) => Some(get(a) == null)
      case sources.IsNotNull(a) => Some(get(a) != null)
      case sources.StringStartsWith(a, p) =>
        str(get(a)).map(_.startsWith(p))
      case sources.StringEndsWith(a, p) => str(get(a)).map(_.endsWith(p))
      case sources.StringContains(a, p) => str(get(a)).map(_.contains(p))
      case sources.And(l, r) => (tri(l, get), tri(r, get)) match {
        case (Some(false), _) | (_, Some(false)) => Some(false)
        case (Some(true), Some(true)) => Some(true)
        case _ => None
      }
      case sources.Or(l, r) => (tri(l, get), tri(r, get)) match {
        case (Some(true), _) | (_, Some(true)) => Some(true)
        case (Some(false), Some(false)) => Some(false)
        case _ => None
      }
      case sources.Not(c) => tri(c, get).map(!_)
      case _ => Some(false)
    }

  /** A row survives a WHERE only on TRUE (UNKNOWN filters out). */
  def eval(f: Filter, get: String => Any): Boolean =
    tri(f, get).contains(true)
}

private[sources] object LogfmtParse {
  /** Same token grammar as the CLI path (dsq/Readers.Logfmt). */
  val token = "([A-Za-z0-9_.-]+)=(\"(?:[^\"\\\\]|\\\\.)*\"|\\S*)".r

  /** JSON-number grammar for bare tokens — the SAME check gates both
    * schema inference (bareType) and value conversion (convert), so an
    * out-of-grammar token like `0123` or `+5` is a string under an
    * inferred schema AND degrades to null under a user/sampled numeric
    * schema, never silently parsing as a number in one path only.
    */
  private val intRe = java.util.regex.Pattern.compile("-?(0|[1-9]\\d*)")
  private val numRe = java.util.regex.Pattern
    .compile("-?(0|[1-9]\\d*)(\\.\\d+)?([eE][+-]?\\d+)?")
  def isIntToken(raw: String): Boolean = intRe.matcher(raw).matches()
  def isNumToken(raw: String): Boolean = numRe.matcher(raw).matches()

  /** JSON-style unescape of a quoted logfmt value (go-logfmt quotes with
    * strconv semantics; `Logfmt.lineToJson` passes these through to the
    * JSON parser — this is that decode, inlined).
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
