package graft.sources

import java.util

import scala.util.Try

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{AnalysisException, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.read.streaming.MicroBatchStream
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

/** What one line-oriented log format supplies to the shared source
  * stack ([[LineSource]]); everything else — listing, line-aligned
  * byte-range splits, parse-time column pruning, 3VL filter pushdown,
  * size statistics — is the stack's.
  */
private[sources] trait LineFormat extends Serializable {
  /** The `spark.read.format(...)` short name. */
  def name: String

  /** The schema of a read without `.schema(...)`. */
  def inferSchema(options: CaseInsensitiveStringMap): StructType

  /** True when the grammar fixes the columns: a user schema may
    * re-order, prune or re-type them, but a name outside the grammar
    * has no value to bind and fails the read.
    */
  def fixedColumns: Boolean

  /** Only streaming formats get `MICRO_BATCH_READ`. */
  def streaming: Boolean = false

  /** Built on the driver, run per line on the executors: the values of
    * `schema`'s fields, in its order, or null to reject the line.
    */
  def parser(schema: StructType,
      options: CaseInsensitiveStringMap): String => Array[Any]
}

/** The DataSourceV2 provider of one [[LineFormat]]. A registered
  * subclass does no work in its constructor: Spark creates every
  * registered provider on each `spark.read.format(...)` lookup.
  */
private[sources] abstract class LineSource(format: LineFormat)
    extends TableProvider with DataSourceRegister {
  override def shortName(): String = format.name
  override def supportsExternalMetadata(): Boolean = true
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    format.inferSchema(options)

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table = {
    val opts = new CaseInsensitiveStringMap(properties)
    // fail at load(): a fixed-schema format lists no files until a job
    LineSource.pathOf(format, opts)
    if (format.fixedColumns) {
      // indexOf+1 == 0 would silently bind group(0) — the whole raw line
      val legal = format.inferSchema(opts).fieldNames.toSet
      val unknown = schema.fieldNames.filterNot(legal.contains)
      require(unknown.isEmpty,
        s"${format.name}: unknown column(s) ${unknown.mkString(", ")}; " +
          s"the format defines ${legal.mkString(", ")}")
    }
    new LineTable(format, schema, opts)
  }
}

private[sources] object LineSource {

  def hadoopConf(): Configuration =
    Try(SparkSession.active.sessionState.newHadoopConf())
      .getOrElse(new Configuration())

  def pathOf(format: LineFormat, options: CaseInsensitiveStringMap): String =
    Option(options.get("path")).getOrElse(
      throw new IllegalArgumentException(
        s"${format.name}: 'path' option is required"))

  /** The data files under `path` (a file, a directory or a glob), in
    * path order. A path that matches nothing fails with Spark's own
    * `PATH_NOT_FOUND`, naming the path, as the built-in file sources do
    * on a batch read — not a zero-column empty table. The micro-batch
    * stream lists with `mustExist = false`: a directory that does not
    * exist yet holds no new files.
    */
  def listFiles(format: LineFormat, options: CaseInsensitiveStringMap,
      conf: Configuration, mustExist: Boolean = true): Seq[FileStatus] = {
    val p = new Path(pathOf(format, options))
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

  /** Split-size option, validated once for every planner: zero would
    * make the chunk stride loop throw an opaque IllegalArgumentException
    * and a negative value would silently plan ZERO partitions (empty
    * scan instead of an error).
    */
  def splitBytesOf(options: CaseInsensitiveStringMap): Long = {
    val v = Option(options.get("maxSplitBytes")).map(_.toLong)
      .getOrElse(128L * 1024 * 1024)
    require(v > 0, s"maxSplitBytes must be positive, got $v")
    v
  }

  /** The one file→line-aligned-chunks planner of the batch scan and the
    * logfmt micro-batch stream.
    */
  def chunksOf(files: Seq[FileStatus],
      splitBytes: Long): Array[InputPartition] =
    files.flatMap { st =>
      val len = st.getLen
      if (len == 0) Seq.empty
      else (0L until len by splitBytes).map { off =>
        LineChunk(st.getPath.toString, off, math.min(splitBytes, len - off))
      }
    }.toArray
}

private[sources] class LineTable(format: LineFormat, tableSchema: StructType,
    options: CaseInsensitiveStringMap) extends Table with SupportsRead {
  override def name(): String = s"${format.name}:${options.get("path")}"
  override def schema(): StructType = tableSchema
  override def capabilities(): util.Set[TableCapability] =
    if (format.streaming)
      util.EnumSet.of(TableCapability.BATCH_READ,
        TableCapability.MICRO_BATCH_READ)
    else util.EnumSet.of(TableCapability.BATCH_READ)
  override def newScanBuilder(
      caseInsensitiveOptions: CaseInsensitiveStringMap): ScanBuilder = {
    // .load(path) lands in the table properties; scan options can
    // override sampling/split tuning at read time
    val merged = new util.HashMap[String, String](options.asCaseSensitiveMap())
    merged.putAll(caseInsensitiveOptions.asCaseSensitiveMap())
    new LineScanBuilder(format, tableSchema,
      new CaseInsensitiveStringMap(merged))
  }
}

private[sources] class LineScanBuilder(format: LineFormat,
    fullSchema: StructType, options: CaseInsensitiveStringMap)
    extends ScanBuilder with SupportsPushDownRequiredColumns
    with SupportsPushDownFilters {
  private var required: StructType = fullSchema
  private var pushed: Array[sources.Filter] = Array.empty
  override def pruneColumns(requiredSchema: StructType): Unit =
    // keep only format fields (metadata columns stay virtual)
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
  override def build(): Scan =
    new LineScan(format, required, options, pushed, fullSchema)
}

/** One line-aligned byte range of one file. */
private[sources] case class LineChunk(path: String, start: Long,
    length: Long) extends InputPartition

private[sources] class LineScan(format: LineFormat,
    requiredSchema: StructType, val options: CaseInsensitiveStringMap,
    pushedFilters: Array[sources.Filter], fullSchema: StructType)
    extends Scan with Batch with SupportsReportStatistics {
  override def readSchema(): StructType = requiredSchema
  override def description(): String =
    s"${format.name} ReadSchema: ${requiredSchema.simpleString}, " +
      s"PushedFilters: [${pushedFilters.mkString(", ")}]"
  override def toBatch: Batch = this

  /** Streaming tier, reached only through a table with
    * `MICRO_BATCH_READ` (see [[LogfmtMicroBatchStream]]).
    */
  override def toMicroBatchStream(
      checkpointLocation: String): MicroBatchStream =
    new LogfmtMicroBatchStream(this)

  /** Size-on-disk statistics so the optimizer can make broadcast /
    * join-strategy decisions about this source exactly as it does for
    * the built-in file formats (sizeInBytes = sum of file lengths,
    * scaled by the column-pruning ratio).
    */
  override def estimateStatistics(): Statistics = {
    val bytes = listFiles(mustExist = true).map(_.getLen).sum
    val ratio =
      if (fullSchema.isEmpty) 1.0
      else math.max(1, requiredSchema.length).toDouble / fullSchema.length
    new Statistics {
      override def sizeInBytes(): util.OptionalLong =
        util.OptionalLong.of(math.max(1L, (bytes * ratio).toLong))
      override def numRows(): util.OptionalLong = util.OptionalLong.empty()
    }
  }

  private[sources] def listFiles(mustExist: Boolean): Seq[FileStatus] =
    LineSource.listFiles(format, options, LineSource.hadoopConf(), mustExist)

  override def planInputPartitions(): Array[InputPartition] =
    LineSource.chunksOf(listFiles(mustExist = true),
      LineSource.splitBytesOf(options))

  /** Parse schema = required ∪ filter-referenced fields: a fully-pushed
    * filter's column may be pruned from the output, but the reader still
    * needs its value to evaluate the predicate.
    */
  override def createReaderFactory(): PartitionReaderFactory = {
    val extra = pushedFilters.flatMap(_.references).distinct
      .filterNot(requiredSchema.fieldNames.contains)
      .flatMap(n => fullSchema.fields.find(_.name == n))
    val parseSchema = StructType(requiredSchema.fields ++ extra)
    new LineReaderFactory(new SerializableHadoopConf(LineSource.hadoopConf()),
      format.parser(parseSchema, options), parseSchema.fieldNames,
      pushedFilters, requiredSchema.length)
  }
}

private[sources] class LineReaderFactory(conf: SerializableHadoopConf,
    parse: String => Array[Any], names: Array[String],
    filters: Array[sources.Filter], nOut: Int)
    extends PartitionReaderFactory {
  override def createReader(
      partition: InputPartition): PartitionReader[InternalRow] =
    new ChunkLineReader(partition.asInstanceOf[LineChunk], conf.value,
      parse, names, filters, nOut)
}

/** Streams one chunk: seek to `start`, discard the leading partial line
  * when start > 0 (it belongs to the previous chunk), then emit every
  * line whose first byte lies within [start, end]. Uses Hadoop's
  * byte-counting `LineReader` so position tracking is exact across
  * multi-byte UTF-8 and both newline conventions. Each line is parsed
  * into the parse schema (`names`), checked against the pushed filters,
  * and cut to the first `nOut` (output) columns; a line the parser
  * rejects or a filter drops never reaches the engine.
  */
private[sources] final class ChunkLineReader(chunk: LineChunk,
    conf: Configuration, parse: String => Array[Any], names: Array[String],
    filters: Array[sources.Filter], nOut: Int)
    extends PartitionReader[InternalRow] {

  private val fieldIdx: Map[String, Int] = names.zipWithIndex.toMap
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

  private def toRow(line: String): InternalRow = {
    val values = parse(line)
    if (values == null || !filters.forall(LogfmtFilters.eval(_, k =>
        fieldIdx.get(k).map(values(_)).orNull))) null
    else new GenericInternalRow(
      if (nOut == values.length) values else values.take(nOut))
  }

  override def next(): Boolean = {
    // a line is ours iff it STARTS at or before `end` (the chunk owning
    // byte `end` reads it via its discarded-first-line rule)
    while (pos <= end) {
      val n = lines.readLine(buf)
      if (n == 0) return false
      pos += n
      row = toRow(buf.toString)
      if (row != null) return true
    }
    false
  }

  override def get(): InternalRow = row
  override def close(): Unit = in.close()
}

/** Exact interpreter for the v1 `sources.Filter` tree over parsed
  * line values. A filter accepted by `supported` is FULLY handled at
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
