package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{QueryDef, Scratch, Tables}
import graft.dsq.{DsqOptions, Engine, Flatten, Readers}
import graft.streaming.Streams

/** Source-format coverage under the driver's DuckDB gate (SURVEY §2.1):
  * each query writes a driver table out in a text format, reads it back
  * through the dsq ingestion path (all-string CSV → convert-numbers,
  * JSONL flatten, logfmt parse, dialect-translated SQL), and the oracle
  * recomputes the same result from the parquet original.
  */
object Formats {

  private def t(s: SparkSession, dir: String, n: String): DataFrame =
    Tables.load(s, dir, n)


  /** Driver-side fixture writers for the formats Spark has no native
    * writer for (cjson/avro/yaml/xlsx/ods — all inherently CLI-sized;
    * the readers they exercise parse on the driver too). Each writes a
    * single file from a ≤25-row dimension table.
    */
  private def esc(s: String): String = s
    .replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")
    .replace("\"", "&quot;")

  private def writeFile(path: String, content: String): String = {
    val f = new java.io.File(path)
    f.getParentFile.mkdirs()
    java.nio.file.Files.writeString(f.toPath, content)
    path
  }

  private def writeZip(path: String, entries: Seq[(String, String)]): String = {
    new java.io.File(path).getParentFile.mkdirs()
    val zos = new java.util.zip.ZipOutputStream(
      new java.io.FileOutputStream(path))
    try entries.foreach { case (n, content) =>
      zos.putNextEntry(new java.util.zip.ZipEntry(n))
      zos.write(content.getBytes("UTF-8"))
      zos.closeEntry()
    } finally zos.close()
    path
  }

  private def writeXlsx(path: String, rows: Seq[Seq[String]]): String = {
    val sheetXml =
      """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>""" +
        """<worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"><sheetData>""" +
        rows.map(r => "<row>" + r.map(v =>
          s"""<c t="inlineStr"><is><t>${esc(v)}</t></is></c>""").mkString +
          "</row>").mkString +
        "</sheetData></worksheet>"
    val workbookXml =
      """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>""" +
        """<workbook xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main" """ +
        """xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships">""" +
        """<sheets><sheet name="Sheet1" sheetId="1" r:id="rId1"/></sheets></workbook>"""
    writeZip(path, Seq(
      "xl/workbook.xml" -> workbookXml,
      "xl/worksheets/sheet1.xml" -> sheetXml))
  }

  private def writeOds(path: String, rows: Seq[Seq[String]]): String = {
    val contentXml =
      """<?xml version="1.0" encoding="UTF-8"?>""" +
        """<office:document-content """ +
        """xmlns:office="urn:oasis:names:tc:opendocument:xmlns:office:1.0" """ +
        """xmlns:table="urn:oasis:names:tc:opendocument:xmlns:table:1.0" """ +
        """xmlns:text="urn:oasis:names:tc:opendocument:xmlns:text:1.0">""" +
        """<office:body><office:spreadsheet><table:table table:name="Sheet1">""" +
        rows.map(r => "<table:table-row>" + r.map(v =>
          """<table:table-cell office:value-type="string"><text:p>""" +
            esc(v) + "</text:p></table:table-cell>").mkString +
          "</table:table-row>").mkString +
        "</table:table></office:spreadsheet></office:body></office:document-content>"
    writeZip(path, Seq("content.xml" -> contentXml))
  }

  private def writeAvroNation(path: String, rows: Seq[(Long, String, Long)]): String = {
    import org.apache.avro.SchemaBuilder
    import org.apache.avro.file.DataFileWriter
    import org.apache.avro.generic.{GenericData, GenericDatumWriter, GenericRecord}
    new java.io.File(path).getParentFile.mkdirs()
    val schema = SchemaBuilder.record("nation").fields()
      .requiredLong("n_nationkey")
      .requiredString("n_name")
      .requiredLong("n_regionkey")
      .endRecord()
    val w = new DataFileWriter(new GenericDatumWriter[GenericRecord](schema))
    w.create(schema, new java.io.File(path))
    try rows.foreach { case (k, name, rk) =>
      val rec = new GenericData.Record(schema)
      rec.put("n_nationkey", k); rec.put("n_name", name)
      rec.put("n_regionkey", rk)
      w.append(rec)
    } finally w.close()
    path
  }

  val all: Seq[QueryDef] = Seq(

    QueryDef("f01_csv_roundtrip",
      """SELECT CAST(n_nationkey AS BIGINT) AS n_nationkey, n_name,
        |  CAST(n_regionkey AS BIGINT) AS n_regionkey
        |FROM nation""".stripMargin) { (s, dir) =>
      val out = Scratch.dir(s, "nation_csv")
      t(s, dir, "nation").coalesce(1).write.mode("overwrite")
        .option("header", "true").csv(out)
      Streams.withConf(s, "spark.sql.ansi.enabled", "false") {
        Flatten.convertNumbers(Flatten(Readers.csv(s, out, ",")))
          .select("n_nationkey", "n_name", "n_regionkey")
      }
    },

    QueryDef("f02_tsv_roundtrip",
      """SELECT CAST(r_regionkey AS BIGINT) AS r_regionkey, r_name
        |FROM region""".stripMargin) { (s, dir) =>
      val out = Scratch.dir(s, "region_tsv")
      t(s, dir, "region").coalesce(1).write.mode("overwrite")
        .option("header", "true").option("sep", "\t").csv(out)
      Streams.withConf(s, "spark.sql.ansi.enabled", "false") {
        Flatten.convertNumbers(Flatten(Readers.csv(s, out, "\t")))
          .select("r_regionkey", "r_name")
      }
    },

    QueryDef("f03_jsonl_roundtrip",
      """SELECT s_suppkey, s_name, CAST(s_nationkey AS BIGINT) AS s_nationkey,
        |  s_acctbal
        |FROM supplier""".stripMargin) { (s, dir) =>
      val out = Scratch.dir(s, "supplier_jsonl")
      t(s, dir, "supplier").coalesce(1).write.mode("overwrite").json(out)
      Streams.withConf(s, "spark.sql.ansi.enabled", "false") {
        Flatten(s.read.json(out))
          .select("s_suppkey", "s_name", "s_nationkey", "s_acctbal")
      }
    },

    QueryDef("f04_json_nested_flatten",
      """SELECT c_custkey AS id, c_name AS "info.name",
        |  c_mktsegment AS "info.seg"
        |FROM customer""".stripMargin) { (s, dir) =>
      val out = Scratch.dir(s, "customer_nested")
      t(s, dir, "customer")
        .select(col("c_custkey").as("id"),
          struct(col("c_name").as("name"), col("c_mktsegment").as("seg"))
            .as("info"))
        .coalesce(1).write.mode("overwrite").json(out)
      Streams.withConf(s, "spark.sql.ansi.enabled", "false") {
        Flatten(s.read.json(out)).select(col("id"),
          col("`info.name`"), col("`info.seg`"))
      }
    },

    QueryDef("f05_logfmt_roundtrip",
      """SELECT CAST(event_id AS BIGINT) AS event_id, event_type,
        |  CAST(user_id AS BIGINT) AS user_id
        |FROM events WHERE event_type = 'signup'""".stripMargin) { (s, dir) =>
      val out = Scratch.dir(s, "events_logfmt")
      t(s, dir, "events").filter(col("event_type") === "signup")
        .select(concat(
          lit("event_id="), col("event_id"),
          lit(" event_type="), col("event_type"),
          lit(" user_id="), col("user_id")).as("value"))
        .coalesce(1).write.mode("overwrite").text(out)
      Streams.withConf(s, "spark.sql.ansi.enabled", "false") {
        Readers.logfmt(s, out)
          .select("event_id", "event_type", "user_id")
      }
    },

    // f09–f14 (VERDICT r5 task 5): the formats previously pinned only by
    // byte-exact goldens get their own DuckDB oracle rows — write a
    // fixture from a driver table, read it back through the dsq
    // ingestion path, and let the oracle recompute from the parquet
    // original. cjson/avro/yaml carry native JSON types; xlsx/ods are
    // all-string sheets normalized through convert-numbers like CSV.

    QueryDef("f09_cjson_roundtrip",
      """SELECT CAST(n_nationkey AS BIGINT) AS n_nationkey, n_name,
        |  CAST(n_regionkey AS BIGINT) AS n_regionkey
        |FROM nation""".stripMargin) { (s, dir) =>
      val rows = t(s, dir, "nation")
        .select(to_json(struct(col("n_nationkey"), col("n_name"),
          col("n_regionkey"))))
        .collect().map(_.getString(0))
      val file = writeFile(Scratch.dir(s, "nation_cjson") + "/nation.cjson",
        rows.mkString("")) // concatenated {}{}{} — no separators
      Streams.withConf(s, "spark.sql.ansi.enabled", "false") {
        Flatten(Readers.cjson(s, file))
          .select("n_nationkey", "n_name", "n_regionkey")
      }
    },

    QueryDef("f10_orc_roundtrip",
      """SELECT CAST(r_regionkey AS BIGINT) AS r_regionkey, r_name
        |FROM region""".stripMargin) { (s, dir) =>
      val out = Scratch.dir(s, "region_orc")
      t(s, dir, "region").select("r_regionkey", "r_name")
        .coalesce(1).write.mode("overwrite").orc(out)
      Streams.withConf(s, "spark.sql.ansi.enabled", "false") {
        Readers.read(s, out, "orc")
          .select(col("r_regionkey").cast("long").as("r_regionkey"),
            col("r_name"))
      }
    },

    QueryDef("f11_avro_roundtrip",
      """SELECT CAST(n_nationkey AS BIGINT) AS n_nationkey, n_name,
        |  CAST(n_regionkey AS BIGINT) AS n_regionkey
        |FROM nation""".stripMargin) { (s, dir) =>
      val rows = t(s, dir, "nation").collect().map(r => (
        r.getAs[Number]("n_nationkey").longValue(),
        r.getAs[String]("n_name"),
        r.getAs[Number]("n_regionkey").longValue()))
      val file = writeAvroNation(Scratch.dir(s, "nation_avro") + "/nation.avro",
        rows.toSeq)
      Streams.withConf(s, "spark.sql.ansi.enabled", "false") {
        Flatten(Readers.avro(s, file))
          .select("n_nationkey", "n_name", "n_regionkey")
      }
    },

    QueryDef("f12_yaml_roundtrip",
      """SELECT CAST(r_regionkey AS BIGINT) AS r_regionkey, r_name
        |FROM region""".stripMargin) { (s, dir) =>
      import scala.jdk.CollectionConverters._
      val items: java.util.List[Object] = t(s, dir, "region")
        .collect().map { r =>
          val m = new java.util.LinkedHashMap[String, Object]()
          m.put("r_regionkey",
            java.lang.Long.valueOf(r.getAs[Number]("r_regionkey").longValue()))
          m.put("r_name", r.getAs[String]("r_name"))
          m: Object
        }.toList.asJava
      val file = writeFile(Scratch.dir(s, "region_yaml") + "/region.yaml",
        new org.yaml.snakeyaml.Yaml().dump(items))
      Streams.withConf(s, "spark.sql.ansi.enabled", "false") {
        Flatten(Readers.yaml(s, file)).select("r_regionkey", "r_name")
      }
    },

    QueryDef("f13_xlsx_roundtrip",
      """SELECT CAST(n_nationkey AS BIGINT) AS n_nationkey, n_name,
        |  CAST(n_regionkey AS BIGINT) AS n_regionkey
        |FROM nation""".stripMargin) { (s, dir) =>
      val data = t(s, dir, "nation").collect().map(r => Seq(
        r.getAs[Number]("n_nationkey").longValue().toString,
        r.getAs[String]("n_name"),
        r.getAs[Number]("n_regionkey").longValue().toString)).toSeq
      val file = writeXlsx(Scratch.dir(s, "nation_xlsx") + "/nation.xlsx",
        Seq("n_nationkey", "n_name", "n_regionkey") +: data)
      Streams.withConf(s, "spark.sql.ansi.enabled", "false") {
        Flatten.convertNumbers(Flatten(Readers.read(s, file, "xlsx")))
          .select("n_nationkey", "n_name", "n_regionkey")
      }
    },

    QueryDef("f14_ods_roundtrip",
      """SELECT CAST(r_regionkey AS BIGINT) AS r_regionkey, r_name
        |FROM region""".stripMargin) { (s, dir) =>
      val data = t(s, dir, "region").collect().map(r => Seq(
        r.getAs[Number]("r_regionkey").longValue().toString,
        r.getAs[String]("r_name"))).toSeq
      val file = writeOds(Scratch.dir(s, "region_ods") + "/region.ods",
        Seq("r_regionkey", "r_name") +: data)
      Streams.withConf(s, "spark.sql.ansi.enabled", "false") {
        Flatten.convertNumbers(Flatten(Readers.read(s, file, "ods")))
          .select("r_regionkey", "r_name")
      }
    },

    // Full dsq pipeline: {} macro + quoted identifiers + REGEXP + || concat
    // through Dialect.translate and the SQLite-affinity session.
    QueryDef("f06_dsq_dialect",
      """SELECT n_name || '-x' AS tagged FROM nation
        |WHERE regexp_matches(n_name, '^NATION_1[0-9]$')""".stripMargin) { (s, dir) =>
      val out = Scratch.dir(s, "nation_dsq_csv")
      t(s, dir, "nation").coalesce(1).write.mode("overwrite")
        .option("header", "true").csv(out)
      val file = new java.io.File(out).listFiles()
        .find(_.getName.endsWith(".csv")).get.getPath
      Streams.withConf(s, "spark.sql.ansi.enabled", "false") {
        val engine = new Engine(s)
        engine.runQuery(Seq(file), Seq(None),
          """SELECT "n_name" || '-x' AS tagged FROM {} WHERE "n_name" REGEXP '^NATION_1[0-9]$'""",
          DsqOptions())
      }
    },

    // DataSourceV2 logfmt: the same events-as-logfmt shape as f05, read
    // through `spark.read.format("graft-logfmt")` instead of the CLI
    // path — typed inference (event_id/user_id land as bigint directly),
    // 64 KiB byte-range splits so the chunk/boundary contract is live in
    // the gate, and a pruned 3-of-4-column projection.
    QueryDef("f15_logfmt_dsv2",
      """SELECT CAST(event_id AS BIGINT) AS event_id, event_type,
        |  CAST(user_id AS BIGINT) AS user_id
        |FROM events WHERE event_type = 'click'""".stripMargin) { (s, dir) =>
      val out = Scratch.dir(s, "events_logfmt_v2")
      t(s, dir, "events").filter(col("event_type") === "click")
        .select(concat(
          lit("event_id="), col("event_id"),
          lit(" event_type="), col("event_type"),
          lit(" user_id="), col("user_id"),
          lit(" value="), col("value")).as("value"))
        .coalesce(1).write.mode("overwrite").text(out)
      s.read.format("graft-logfmt")
        .option("maxSplitBytes", (64 * 1024).toString)
        .load(out)
        .select("event_id", "event_type", "user_id")
    },

    // The SQL extension surface end-to-end: a plain-SQL user (no
    // DataFrame code) calls the injected graft_* functions — the native
    // codegen'd CosineSimilarity and NfcNormalize — through
    // spark.sql over temp views, and DuckDB replays both with its own
    // built-ins. Proves the SparkSessionExtensions/registerAll path,
    // SQL name resolution, and the expressions' cross-engine semantics
    // in one gate.
    QueryDef("f16_sql_extension",
      """SELECT a.vec_id,
        |  ROUND(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
        |    CAST(b.embedding AS DOUBLE[])), 6) AS cos_next
        |FROM embeddings a JOIN embeddings b ON b.vec_id = a.vec_id + 1
        |WHERE a.vec_id < 200""".stripMargin) { (s, dir) =>
      org.apache.spark.sql.graft.GraftExtensions.registerAll(s)
      t(s, dir, "embeddings").createOrReplaceTempView("graft_f16_e")
      s.sql(
        """SELECT a.vec_id,
          |  ROUND(graft_cosine(a.embedding, b.embedding), 6) AS cos_next
          |FROM graft_f16_e a JOIN graft_f16_e b
          |  ON b.vec_id = a.vec_id + 1
          |WHERE a.vec_id < 200""".stripMargin)
    },

    // Second DSv2 source on the shared chunk framework: Common Log
    // Format lines synthesized from events, read back through
    // graft-accesslog with 32 KiB splits, a pushed status filter, and
    // the CLF '-'-means-null body-bytes convention — the oracle
    // recomputes every field from the originating table.
    QueryDef("f17_accesslog_dsv2",
      """SELECT '10.0.0.' || CAST(user_id AS VARCHAR) AS remote_addr,
        |  'GET /e/' || CAST(event_id AS VARCHAR) || ' HTTP/1.1'
        |    AS request,
        |  CAST(200 + (event_id % 3) * 100 AS BIGINT) AS status,
        |  CASE WHEN event_id % 7 = 0 THEN NULL
        |    ELSE CAST(event_id AS BIGINT) END AS body_bytes
        |FROM events WHERE event_id % 3 = 0""".stripMargin) { (s, dir) =>
      val out = Scratch.dir(s, "events_accesslog_v2")
      t(s, dir, "events")
        .select(concat(
          lit("10.0.0."), col("user_id"),
          lit(" - u"), col("user_id"),
          lit(" [01/Jan/2024:00:00:00 +0000] \"GET /e/"), col("event_id"),
          lit(" HTTP/1.1\" "),
          (lit(200) + (col("event_id") % 3) * 100).cast("string"),
          lit(" "),
          when(col("event_id") % 7 === 0, lit("-"))
            .otherwise(col("event_id").cast("string"))).as("value"))
        .coalesce(1).write.mode("overwrite").text(out)
      s.read.format("graft-accesslog")
        .option("maxSplitBytes", (32 * 1024).toString)
        .load(out)
        .filter(col("status") === 200)
        .select("remote_addr", "request", "status", "body_bytes")
    },

    // The ASOF JOIN SQL surface end-to-end: a plain-SQL user writes
    // DuckDB/kdb `ASOF LEFT JOIN` syntax and gets the custom
    // AsOfJoinExec streaming merge — parser rewrite → marker →
    // resolution rule → custom exec, all through spark.sql over temp
    // views (requires the GraftExtensions session hook, which Verify/
    // Bench/Cli sessions install). Same events-shaped query and the
    // same native DuckDB ASOF LEFT JOIN oracle as x27, so the SQL path
    // is value-checked against both the DataFrame path and a third
    // engine.
    QueryDef("f18_asof_sql",
      """WITH r AS (
        |  SELECT user_id, ts,
        |    CAST(MAX(CAST(value AS DECIMAL(18,3))) AS DOUBLE) AS purchase_value
        |  FROM events WHERE event_type = 'purchase' GROUP BY 1, 2),
        |l AS (
        |  SELECT user_id, event_id, ts FROM events WHERE event_type = 'click')
        |SELECT l.user_id, l.event_id, l.ts,
        |  r.ts AS purchase_ts, r.purchase_value
        |FROM l ASOF LEFT JOIN r
        |  ON l.user_id = r.user_id AND l.ts >= r.ts""".stripMargin) {
      (s, dir) =>
        t(s, dir, "events").createOrReplaceTempView("graft_f18_events")
        s.sql(
          """WITH r AS (
            |  SELECT user_id AS r_uid, ts AS purchase_ts,
            |    CAST(MAX(CAST(value AS DECIMAL(18,3))) AS DOUBLE)
            |      AS purchase_value
            |  FROM graft_f18_events WHERE event_type = 'purchase'
            |  GROUP BY 1, 2),
            |l AS (
            |  SELECT user_id, event_id, ts FROM graft_f18_events
            |  WHERE event_type = 'click')
            |SELECT l.user_id, l.event_id, l.ts,
            |  r.purchase_ts, r.purchase_value
            |FROM l ASOF LEFT JOIN r
            |  ON l.user_id = r.r_uid AND l.ts >= r.purchase_ts"""
            .stripMargin)
    }
  )
}
