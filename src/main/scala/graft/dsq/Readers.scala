package graft.dsq

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.types.{StringType, StructType}
import scala.jdk.CollectionConverters._

/** File-format readers (reference §2.1 S1–S17). Each returns the RAW
  * parsed DataFrame (nested types intact) — `Flatten` then normalizes to
  * the dsq table model. Columnar formats (parquet/orc) use Spark's
  * vectorized readers; text formats are line-parallel; only the
  * inherently-small formats (xlsx/ods/yaml/avro-without-plugin) parse on
  * the driver, mirroring the single-file CLI workloads they serve.
  */
object Readers {

  /** extension or full MIME string → internal type key (reference
    * resolveContentType main.go:29-35: anything containing a path
    * separator is taken verbatim as a MIME name, so `-s text/csv` and
    * `-s csv` are equivalent; the pipe-only log formats are documented
    * ONLY by MIME type — README.md:596-612 format table).
    */
  def mimeOf(ext: String): Option[String] = ext.toLowerCase match {
    case "csv" | "text/csv" => Some("csv")
    case "tsv" | "tab" | "text/tab-separated-values" => Some("tsv")
    case "json" | "application/json" => Some("json")
    case "ndjson" | "jsonl" | "application/jsonlines" => Some("jsonl")
    case "cjson" | "application/jsonconcat" => Some("cjson")
    case "parquet" => Some("parquet")
    case "orc" => Some("orc")
    case "avro" | "application/avro" => Some("avro")
    case "yaml" | "yml" | "application/yaml" => Some("yaml")
    case "xlsx" | "xls" | "application/vnd.ms-excel" => Some("xlsx")
    case "ods" | "application/vnd.oasis.opendocument.spreadsheet" => Some("ods")
    case "logfmt" | "text/logfmt" => Some("logfmt")
    case "apache2error" | "text/apache2error" => Some("apache2error")
    case "apache2access" | "text/apache2access" => Some("apache2access")
    case "nginxaccess" | "text/nginxaccess" => Some("nginxaccess")
    case _ => None
  }

  def extensionOf(path: String): String = {
    val name = new java.io.File(path).getName
    val i = name.lastIndexOf('.')
    if (i < 0) "" else name.substring(i + 1)
  }

  /** Read `path` as format `mime`. Throws DsqError for unknown formats. */
  def read(spark: SparkSession, path: String, mime: String): DataFrame =
    mime match {
      case "csv" => csv(spark, path, sep = ",")
      case "tsv" => csv(spark, path, sep = "\t")
      case "json" => jsonArray(spark, path)
      case "jsonl" => spark.read.json(path)
      case "cjson" => cjson(spark, path)
      case "parquet" => spark.read.parquet(path)
      case "orc" => spark.read.orc(path)
      case "avro" => avro(spark, path)
      case "yaml" => yaml(spark, path)
      case "xlsx" => Excel.readXlsx(spark, path, sheet = None)
      case "ods" => Excel.readOds(spark, path, sheet = None)
      case "logfmt" => logfmt(spark, path)
      case "apache2error" => apacheError(spark, path)
      case "apache2access" => accessLog(spark, path, combined = false)
      case "nginxaccess" => accessLog(spark, path, combined = true)
      case other => throw DsqError(s"Unknown mimetype: $other.")
    }

  /** All values strings (reference README.md:552-556); an empty field,
    * quoted or not, is "", not null. Spark's parser makes any empty field
    * null whatever `nullValue` is set to, so nulls are mapped back.
    */
  def csv(spark: SparkSession, path: String, sep: String): DataFrame =
    spark.read
      .option("header", "true")
      .option("inferSchema", "false")
      .option("sep", sep)
      .csv(path)
      .na.fill("")

  /** Whole-file JSON array of objects (reference main.go:252-259 rejects
    * anything else with NotAnArrayOfObjectsError). */
  def jsonArray(spark: SparkSession, path: String): DataFrame = {
    requireTopLevelArray(path)
    val df = spark.read.option("multiLine", "true").json(path)
    if (df.schema.fieldNames.contains("_corrupt_record"))
      throw DsqError(s"Input is not an array of objects: $path.")
    df
  }

  /** Cheap structural check: first non-whitespace byte must be '['. */
  private def requireTopLevelArray(path: String): Unit = {
    val in = new java.io.FileInputStream(path)
    try {
      var b = in.read()
      while (b != -1 && Character.isWhitespace(b)) b = in.read()
      if (b != '[') throw DsqError(s"Input is not an array of objects: $path.")
    } finally in.close()
  }

  /** `{N, "a.b"}` path addressing (reference README.md:245-302): the file
    * is one top-level object; walk the dot path to an array of objects.
    * Path traverses objects only, never arrays.
    */
  def jsonPath(spark: SparkSession, path: String, objPath: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val top = spark.read.option("multiLine", "true").json(path)
    val target = objPath.split("\\.").foldLeft(null: org.apache.spark.sql.Column) {
      (acc, seg) => if (acc == null) col("`" + seg + "`") else acc.getField(seg)
    }
    top.select(explode(target).as("row")).select("row.*")
  }

  /** Concatenated JSON values ({}{} or ][) — split with a quote-aware
    * depth tokenizer, line-distributed per file via wholeTextFiles.
    */
  def cjson(spark: SparkSession, path: String): DataFrame = {
    import spark.implicits._
    val values: Dataset[String] = spark.sparkContext.wholeTextFiles(path)
      .flatMap { case (_, text) => splitConcatenatedJson(text) }.toDS()
    spark.read.json(values)
  }

  private[dsq] def splitConcatenatedJson(text: String): Seq[String] = {
    val out = Seq.newBuilder[String]
    var depth = 0; var inStr = false; var esc = false; var start = -1
    var i = 0
    while (i < text.length) {
      val c = text.charAt(i)
      if (inStr) {
        if (esc) esc = false
        else if (c == '\\') esc = true
        else if (c == '"') inStr = false
      } else c match {
        case '"' => inStr = true
        case '{' | '[' => if (depth == 0) start = i; depth += 1
        case '}' | ']' =>
          depth -= 1
          if (depth == 0 && start >= 0) {
            out += text.substring(start, i + 1); start = -1
          }
        case _ =>
      }
      i += 1
    }
    out.result()
  }

  /** Avro via the avro-core jar (no spark-avro plugin in this distro):
    * GenericRecord.toString is plain JSON → spark.read.json. Driver-side
    * decode, appropriate for CLI-sized files; a cluster deployment would
    * add the spark-avro package and keep this signature.
    */
  def avro(spark: SparkSession, path: String): DataFrame = {
    import spark.implicits._
    import org.apache.avro.file.DataFileReader
    import org.apache.avro.generic.{GenericDatumReader, GenericRecord}
    val reader = new DataFileReader[GenericRecord](
      new java.io.File(path), new GenericDatumReader[GenericRecord]())
    val rows = try reader.iterator().asScala.map(_.toString).toVector
    finally reader.close()
    spark.read.json(spark.createDataset(rows))
  }

  /** YAML via SnakeYAML (ships in Spark's jars): parse → JSON rows. */
  def yaml(spark: SparkSession, path: String): DataFrame = {
    import spark.implicits._
    val y = new org.yaml.snakeyaml.Yaml()
    val doc = y.load[Object](new java.io.FileInputStream(path))
    val items = doc match {
      case l: java.util.List[_] => l.asScala.toVector
      case other => throw DsqError(s"Input is not an array of objects: $path.")
    }
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val rows = items.map(mapper.writeValueAsString)
    spark.read.json(spark.createDataset(rows))
  }

  /** logfmt (reference go-logfmt; test scripts/test.py:193-199): key=value
    * tokens, quoted values unescaped, bare values typed (number/bool).
    * Reads via the graft-logfmt DataSourceV2 source, so the CLI path
    * inherits line-aligned byte-range splits, parse-time column pruning,
    * and 3VL filter pushdown instead of a textFile→JSON round-trip.
    * sampleLines=max keeps the CLI's whole-file schema-union semantics
    * (a key first appearing on the last line still gets a column, as the
    * JSON-inference path guaranteed); the source runs that union as a
    * distributed per-partition fold, not a driver-side sequential read.
    */
  def logfmt(spark: SparkSession, path: String): DataFrame =
    spark.read.format("graft-logfmt")
      .option("sampleLines", Int.MaxValue.toString)
      .load(path)

  /** Apache error log (reference text/apache2error). Reads via the
    * graft-apacheerror DataSourceV2 source (line-aligned splits,
    * parse-time pruning, 3VL filter pushdown — same chunk framework as
    * logfmt/accesslog); the source keeps the old regexp_extract
    * conventions byte-exact (absent optional sections and non-matching
    * lines yield "", never a dropped row).
    */
  def apacheError(spark: SparkSession, path: String): DataFrame =
    spark.read.format("graft-apacheerror").load(path)

  /** Apache/nginx access log, Common (+Combined for nginx) Log Format.
    * Reads via the graft-accesslog DataSourceV2 source (splits, pruning,
    * pushdown — same chunk framework as logfmt). The CLI keeps dsq's
    * all-string table model by supplying an all-string schema: the
    * source's reader types values by the REQUESTED schema, so `status`
    * stays "200" and a CLF `-` body size stays "-", exactly as the
    * golden pipes expect.
    */
  def accessLog(spark: SparkSession, path: String, combined: Boolean): DataFrame =
    spark.read.format("graft-accesslog")
      .option("combined", combined.toString)
      .schema(StructType(graft.sources.AccessLogFormat.schemaFor(combined)
        .fields.map(_.copy(dataType = StringType))))
      .load(path)
}

/** Engine-level error with the reference's exact message strings. */
final case class DsqError(message: String) extends RuntimeException(message)
