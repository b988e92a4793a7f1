package graft.sources

import java.nio.file.Files

import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.types._

import graft.dsq.SparkSpec

/** The DataSourceV2 logfmt source: inference, value decode, split
  * contract, column pruning, and agreement with the CLI reader path.
  */
class LogfmtSourceSpec extends SparkSpec {

  private def writeLogfmt(name: String, lines: Seq[String]): String = {
    val dir = Files.createTempDirectory(s"graft_dsv2_$name")
    Files.writeString(dir.resolve("part-000.logfmt"),
      lines.mkString("", "\n", "\n"))
    dir.toString
  }

  test("schema inference: bool/long/double lattice, quoted stays string") {
    val dir = writeLogfmt("infer", Seq(
      """level=info code=200 ratio=0.5 ok=true msg="hi there"""",
      """level=warn code=404 ratio=2 ok=false msg="bye"""",
      // code goes long→string on a non-numeric, ratio widens long→double
      """level=error code=abc ratio=7 extra=1"""))
    val df = spark.read.format("graft-logfmt").load(dir)
    val types = df.schema.fields.map(f => f.name -> f.dataType).toMap
    assert(df.schema.fieldNames.toSeq == df.schema.fieldNames.sorted.toSeq)
    assert(types("level") == StringType)
    assert(types("code") == StringType)   // 200, 404, abc → mixed
    assert(types("ratio") == DoubleType)  // 0.5, 2, 7 → widened
    assert(types("ok") == BooleanType)
    assert(types("msg") == StringType)
    assert(types("extra") == LongType)
    val rows = df.orderBy("code").collect()
    assert(rows.length == 3)
    val first = df.filter(df("code") === "200").head()
    assert(first.getAs[String]("msg") == "hi there")
    assert(first.getAs[Boolean]("ok"))
    assert(first.getAs[Double]("ratio") == 0.5)
  }

  test("quoted-value unescape matches the JSON contract") {
    val dir = writeLogfmt("esc", Seq(
      """m="a \"quoted\" part" t="tab\there" u="snow☃man" p="back\\slash""""))
    val r = spark.read.format("graft-logfmt").load(dir).head()
    assert(r.getAs[String]("m") == """a "quoted" part""")
    assert(r.getAs[String]("t") == "tab\there")
    assert(r.getAs[String]("u") == "snow☃man")
    assert(r.getAs[String]("p") == """back\slash""")
  }

  test("missing keys are null; type mismatches degrade to null") {
    val dir = writeLogfmt("nulls", Seq(
      "a=1 b=x", "b=y", "a=2"))
    val df = spark.read.format("graft-logfmt").load(dir)
    val rows = df.collect().map(r =>
      (Option(r.get(r.fieldIndex("a"))), Option(r.get(r.fieldIndex("b")))))
      .toSet
    assert(rows == Set((Some(1L), Some("x")), (None, Some("y")),
      (Some(2L), None)))
  }

  test("byte-range splits: many chunks, no lost or duplicated lines") {
    // ~6000 lines ≈ 200 KB; 4 KiB chunks → ~50 partitions, every chunk
    // boundary lands mid-line somewhere
    val lines = (0 until 6000).map(i =>
      s"""id=$i kind=k${i % 7} note="row number $i of the split test"""")
    val dir = writeLogfmt("split", lines)
    val whole = spark.read.format("graft-logfmt").load(dir)
    val split = spark.read.format("graft-logfmt")
      .option("maxSplitBytes", "4096").load(dir)
    assert(split.rdd.getNumPartitions > 10,
      s"expected many chunks, got ${split.rdd.getNumPartitions}")
    assert(whole.rdd.getNumPartitions == 1)
    val a = whole.collect().map(_.toString).sorted
    val b = split.collect().map(_.toString).sorted
    assert(a.length == 6000 && b.toSeq == a.toSeq)
    // ids exactly 0..5999 — nothing dropped at any boundary
    assert(split.agg(org.apache.spark.sql.functions.sum("id")).head.getLong(0)
      == (0 until 6000).map(_.toLong).sum)
  }

  test("column pruning reaches the scan (parse-time, not projection)") {
    val dir = writeLogfmt("prune", (0 until 50).map(i =>
      s"""a=$i b=x$i c=y$i d="wide payload $i""""))
    val df = spark.read.format("graft-logfmt").load(dir).select("b")
    val scans = df.queryExecution.executedPlan.collect {
      case s: BatchScanExec => s
    }
    assert(scans.nonEmpty, "no BatchScanExec in plan")
    val read = scans.head.scan.readSchema()
    assert(read.fieldNames.toSeq == Seq("b"),
      s"scan not pruned: ${read.simpleString}")
    assert(df.collect().map(_.getString(0)).toSet ==
      (0 until 50).map(i => s"x$i").toSet)
  }

  test("filter pushdown: scan-level reject, Filter node gone, 3VL nulls") {
    val dir = writeLogfmt("push", Seq(
      "a=1 b=x c=1.5", "a=2 b=y c=2.5", "a=3 c=3.5", "b=z c=0.5"))
    val df = spark.read.format("graft-logfmt").load(dir)
    import org.apache.spark.sql.functions.col

    // fully-pushed equality: no FilterExec survives in the plan
    val eq = df.filter(col("a") === 2)
    val plan = eq.queryExecution.executedPlan.toString
    assert(!plan.contains("Filter ("), s"filter not fully pushed:\n$plan")
    assert(plan.contains("PushedFilters"), s"no pushed filters:\n$plan")
    assert(eq.collect().map(_.getAs[String]("b")).toSeq == Seq("y"))

    // range + string predicates, filter column pruned from the output
    assert(df.filter(col("c") > 1.0 && col("c") < 3.0).select("b")
      .collect().map(r => Option(r.getString(0))).toSet ==
      Set(Some("x"), Some("y")))
    assert(df.filter(col("b").startsWith("x")).count() == 1)
    assert(df.filter(col("b").isin("x", "z")).count() == 2)

    // three-valued logic: NOT(a = 2) must NOT resurrect null-a rows
    val notEq = df.filter(!(col("a") === 2))
    assert(notEq.collect().map(r =>
      Option(r.get(r.fieldIndex("a")))).toSet == Set(Some(1L), Some(3L)))
    // differential: every pushed shape equals the collect-then-filter truth
    val all = df.collect().map(r => (Option(r.get(0)).map(_.asInstanceOf[Long]),
      Option(r.getString(1)), Option(r.get(2)).map(_.asInstanceOf[Double])))
    assert(df.filter(col("a") >= 2).count() ==
      all.count(_._1.exists(_ >= 2L)))
    assert(df.filter(col("b").isNull).count() == all.count(_._2.isEmpty))
  }

  test("statistics: size-on-disk reaches the optimizer, broadcast picked") {
    val dir = writeLogfmt("stats", (0 until 40).map(i => s"id=$i tag=t$i"))
    val df = spark.read.format("graft-logfmt").load(dir)
    val scan = df.queryExecution.executedPlan.collect {
      case s: BatchScanExec => s.scan
    }.head
    val stats = scan.asInstanceOf[
      org.apache.spark.sql.connector.read.SupportsReportStatistics]
      .estimateStatistics()
    val fileBytes = new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".logfmt")).map(_.length).sum
    assert(stats.sizeInBytes.getAsLong == fileBytes,
      s"${stats.sizeInBytes} != $fileBytes")
    // a KB-sized source joined to a big table must broadcast
    import org.apache.spark.sql.functions.col
    val big = spark.range(100000).withColumnRenamed("id", "id2")
    val joined = big.join(df, col("id2") === col("id"))
    val plan = joined.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"small DSv2 side not broadcast:\n$plan")
    assert(joined.count() == 40)
  }

  test("seeded fuzz: random content x random split sizes never loses a line") {
    val rnd = new scala.util.Random(1234)
    for (trial <- 1 to 4) {
      // random line lengths incl. empty-ish and long lines, multi-byte
      // chars, so split boundaries land everywhere interesting
      val lines = (0 until 500).map { i =>
        val pad = "x" * rnd.nextInt(120)
        val uni = if (i % 17 == 0) " é☃" else ""
        s"id=$i v=${rnd.nextInt(1000)} pad=$pad$uni"
      }
      val dir = writeLogfmt(s"fuzz$trial", lines)
      val whole = spark.read.format("graft-logfmt").load(dir)
        .selectExpr("id", "v").collect().map(_.toString).sorted.toSeq
      for (split <- Seq(64 + rnd.nextInt(200), 1024 + rnd.nextInt(2048))) {
        val chunked = spark.read.format("graft-logfmt")
          .option("maxSplitBytes", split.toString).load(dir)
          .selectExpr("id", "v").collect().map(_.toString).sorted.toSeq
        assert(chunked == whole,
          s"trial $trial split=$split: ${chunked.size} vs ${whole.size}")
      }
    }
  }

  test("edge cases: empty file, missing path, user-supplied schema") {
    // an empty data file contributes zero chunks, not a crash
    val dir = Files.createTempDirectory("graft_dsv2_edge")
    Files.writeString(dir.resolve("a.logfmt"), "k=1\n")
    Files.writeString(dir.resolve("b.logfmt"), "")
    val df = spark.read.format("graft-logfmt").load(dir.toString)
    assert(df.count() == 1)
    // missing path option → a clear error naming the format read, not
    // an NPE
    for (f <- Seq("graft-logfmt", "graft-accesslog", "graft-apacheerror")) {
      val e = intercept[IllegalArgumentException] {
        spark.read.format(f).option("sampleLines", "10").load()
      }
      assert(e.getMessage == s"$f: 'path' option is required", e.getMessage)
    }
    // user schema skips sampling and wins over inference
    import org.apache.spark.sql.types._
    val forced = spark.read.format("graft-logfmt")
      .schema(StructType(Seq(StructField("k", StringType))))
      .load(dir.toString)
    assert(forced.schema.fieldNames.toSeq == Seq("k"))
    assert(forced.head().getString(0) == "1")
  }

  test("batch read of a path that matches nothing fails naming the path") {
    val missing = Files.createTempDirectory("graft_dsv2_missing")
      .resolve("absent.logfmt").toString
    def pathNotFound(read: => Any): Unit = {
      val e = intercept[org.apache.spark.sql.AnalysisException](read)
      assert(e.getCondition == "PATH_NOT_FOUND", e.getMessage)
      assert(e.getMessage.contains(missing), e.getMessage)
    }
    pathNotFound(spark.read.format("graft-logfmt").load(missing))
    pathNotFound(spark.read.format("graft-logfmt")
      .option("sampleLines", Int.MaxValue.toString).load(missing))
    pathNotFound(spark.read.format("graft-logfmt")
      .schema("level STRING").load(missing).count())
    pathNotFound(spark.read.format("graft-apacheerror").load(missing).count())
    pathNotFound(spark.read.format("graft-accesslog").load(missing).count())
    // the micro-batch stream still reads a missing directory as no files
    val opts = new org.apache.spark.sql.util.CaseInsensitiveStringMap(
      java.util.Map.of("path", missing))
    val stream = new LogfmtMicroBatchStream(
      new LineScan(LogfmtFormat, StructType(Nil), opts, Array.empty, StructType(Nil)))
    assert(stream.latestOffset() == LogfmtOffset(""))
  }

  test("only graft-logfmt streams: readStream on the fixed-schema formats fails") {
    val dir = writeLogfmt("nostream", Seq("k=1"))
    for (f <- Seq("graft-accesslog", "graft-apacheerror")) {
      val e = intercept[UnsupportedOperationException](
        spark.readStream.format(f).load(dir))
      assert(e.getMessage.contains("does not support streamed reading"),
        e.getMessage)
    }
    assert(spark.readStream.format("graft-logfmt")
      .schema("k BIGINT").load(dir).isStreaming)
  }

  test("sampleLines=max: distributed whole-file union sees a last-line key") {
    // the CLI contract: at sampleLines=Int.MaxValue every line
    // contributes to the schema — since this runs as a Spark job (not a
    // driver-side sequential read), a key first appearing on the FINAL
    // line of a 3000-line file must still get a column, typed by the
    // same widen lattice
    val dir = Files.createTempDirectory("graft_dsv2_union")
    val lines = (1 to 2999).map(i => s"k=$i common=x") :+
      "k=3000 late_key=7.5 common=x"
    Files.writeString(dir.resolve("big.logfmt"),
      lines.mkString("", "\n", "\n"))
    val df = spark.read.format("graft-logfmt")
      .option("sampleLines", Int.MaxValue.toString).load(dir.toString)
    assert(df.schema.fieldNames.toSeq == Seq("common", "k", "late_key"))
    assert(df.schema("late_key").dataType ==
      org.apache.spark.sql.types.DoubleType)
    assert(df.schema("k").dataType == org.apache.spark.sql.types.LongType)
    val late = df.filter(org.apache.spark.sql.functions.col("late_key")
      .isNotNull).collect()
    assert(late.length == 1 && late.head.getAs[Double]("late_key") == 7.5)
    // default bounded sampling (first 1000 lines) must NOT see it —
    // proves the union path is really the distributed one, not a wider
    // default
    val sampled = spark.read.format("graft-logfmt").load(dir.toString)
    assert(!sampled.schema.fieldNames.contains("late_key"))
  }

  test("maxSplitBytes <= 0 errors clearly instead of planning zero chunks") {
    val dir = writeLogfmt("badsplit", Seq("k=1"))
    for (bad <- Seq("0", "-8")) {
      val e = intercept[Exception] {
        spark.read.format("graft-logfmt")
          .option("maxSplitBytes", bad).load(dir).count()
      }
      def msgs(t: Throwable): Seq[String] =
        if (t == null) Nil
        else Option(t.getMessage).toSeq ++ msgs(t.getCause)
      assert(msgs(e).exists(_.contains("maxSplitBytes must be positive")),
        s"opaque failure for maxSplitBytes=$bad: $e")
    }
  }

  test("inference and conversion share one number grammar (0123/+5 stay null)") {
    // '0123' and '+5' are outside the JSON-number grammar: inference
    // makes such a column a STRING, and under a forced numeric schema
    // the same tokens degrade to null — never a silent toLong parse
    val dir = writeLogfmt("grammar", Seq("v=0123 w=+5 x=42 neg=-4 bare"))
    val inferred = spark.read.format("graft-logfmt").load(dir)
    assert(inferred.schema("v").dataType == StringType)
    assert(inferred.schema("w").dataType == StringType)
    assert(inferred.schema("x").dataType == LongType)
    // a negative integer is in the grammar; a token with no '=' is skipped
    assert(inferred.schema("neg").dataType == LongType)
    assert(inferred.head().getAs[Long]("neg") == -4L)
    assert(!inferred.schema.fieldNames.contains("bare"))
    val forced = spark.read.format("graft-logfmt")
      .schema(StructType(Seq(
        StructField("v", LongType), StructField("w", LongType),
        StructField("x", DoubleType))))
      .load(dir)
    val r = forced.head()
    assert(r.isNullAt(0) && r.isNullAt(1),
      s"out-of-grammar tokens parsed as numbers: $r")
    assert(r.getDouble(2) == 42.0)
  }

  test("stream offset JSON survives control characters in file names") {
    // a newline or tab in a (hostile) file name must round-trip through
    // the checkpoint offset log as valid JSON
    for (name <- Seq("a\nb", "t\tc", "q\"uote", "back\\slash", "plain")) {
      val off = LogfmtOffset(name)
      val json = off.json()
      // valid JSON per Jackson
      val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
      val parsed = mapper.readTree(json).get("maxName").asText()
      assert(parsed == name, s"Jackson decode mismatch for $name: $json")
      // and the stream's own decoder agrees
      val back = new LogfmtMicroBatchStream(
        new LineScan(LogfmtFormat, StructType(Nil),
          new org.apache.spark.sql.util.CaseInsensitiveStringMap(
            java.util.Map.of("path", "/nonexistent")),
          Array.empty, StructType(Nil)))
        .deserializeOffset(json)
      assert(back.asInstanceOf[LogfmtOffset].maxName == name)
    }
  }

  test("agrees with the CLI logfmt reader on the reference fixture shape") {
    val dir = writeLogfmt("agree", Seq(
      """at=info method=GET path=/ host=h1 status=200 elapsed=12.3""",
      """at=error method=POST path=/x host=h2 status=500 elapsed=0.7""",
      """at=info method=GET path="/a b" host=h1 status=204 elapsed=3"""))
    val v2 = spark.read.format("graft-logfmt").load(dir)
      .selectExpr("at", "method", "path", "host",
        "CAST(status AS BIGINT) AS status",
        "CAST(elapsed AS DOUBLE) AS elapsed")
    val cli = graft.dsq.Readers.logfmt(spark, dir)
      .selectExpr("at", "method", "path", "host",
        "CAST(status AS BIGINT) AS status",
        "CAST(elapsed AS DOUBLE) AS elapsed")
    assert(v2.collect().map(_.toString).sorted.toSeq ==
      cli.collect().map(_.toString).sorted.toSeq)
  }
}
