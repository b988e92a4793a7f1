package graft.dsq

import org.apache.spark.sql.functions._

/** Unit tests for Flatten, convert-numbers, Output rendering and Shape. */
class UnitSpec extends SparkSpec {

  test("flatten: nested objects, arrays, booleans") {
    import spark.implicits._
    val df = spark.read.json(Seq(
      """{"a": 1, "o": {"x": "s", "y": {"z": true}}, "arr": [1,2], "k.d": 5}""").toDS())
    val flat = Flatten(df)
    assert(flat.schema.fieldNames.toSet ==
      Set("a", "o.x", "o.y.z", "arr", "k\\.d"))
    val row = flat.collect()(0)
    assert(row.getAs[String]("arr") == "[1,2]")
    assert(row.getAs[Int]("o.y.z") == 1) // boolean → 0/1
  }

  test("errorText: a null or empty message renders as the class name") {
    assert(Cli.errorText(new NullPointerException()) ==
      "java.lang.NullPointerException")
    assert(Cli.errorText(new RuntimeException("")) ==
      "java.lang.RuntimeException")
    assert(Cli.errorText(new IllegalStateException("no such column: x")) ==
      "no such column: x")
  }

  test("convertNumbers: integral vs double vs mixed columns") {
    import spark.implicits._
    val df = Seq(("1", "1.5", "x", "+1"), ("02", "2", "2", "0003.5"))
      .toDF("ints", "dbls", "mixed", "plus")
    val out = Flatten.convertNumbers(df)
    assert(out.schema("ints").dataType.typeName == "long")
    assert(out.schema("dbls").dataType.typeName == "double")
    assert(out.schema("mixed").dataType.typeName == "string")
    assert(out.schema("plus").dataType.typeName == "double")
    val r = out.collect().map(r => (r.getLong(0), r.getDouble(1))).toSet
    assert(r == Set((1L, 1.5), (2L, 2.0)))
  }

  test("json output: Go-style numbers, sorted keys, framing") {
    import spark.implicits._
    val df = Seq((1.0, 2.5, "x"), (3.0, -0.5, "y"))
      .toDF("b_whole", "a_frac", "c_str")
    val sb = new java.lang.StringBuilder
    Output.json(df, sb)
    assert(sb.toString ==
      """[{"a_frac":2.5,"b_whole":1,"c_str":"x"},
        |{"a_frac":-0.5,"b_whole":3,"c_str":"y"}]""".stripMargin)
  }

  test("json output escapes control characters") {
    import spark.implicits._
    val df = Seq(Tuple1("a\"b\\c\nd\te")).toDF("s")
    val sb = new java.lang.StringBuilder
    Output.json(df, sb)
    assert(sb.toString == "[{\"s\":\"a\\\"b\\\\c\\nd\\te\"}]")
  }

  test("pretty table: 0 rows footer") {
    import spark.implicits._
    val df = Seq((1, "x")).toDF("n", "s").filter(col("n") > 99)
    val sb = new java.lang.StringBuilder
    Output.prettyTable(df, sb)
    assert(sb.toString.endsWith("(0 rows)\n"))
  }

  test("shape: CSV is all strings; timestamps render as string") {
    val csvShape = Shape.ofTable(
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("a",
          org.apache.spark.sql.types.StringType))))
    assert(Shape.toPretty(csvShape) ==
      "Array of\n  Object of\n    a of\n      string\n")
  }

  test("shape JSON escapes a tab in a key as \\t, like the data output") {
    val shape = Shape.Arr(Shape.Obj(Seq("a\tb" -> Shape.Scalar("string"))))
    val json = Shape.toJson(shape)
    assert(json.contains("\"a\\tb\""), json)
    val node = new com.fasterxml.jackson.databind.ObjectMapper().readTree(json)
    assert(node.get("array").get("object").fieldNames().next() == "a\tb")
  }

  test("json output renders arrays and structs as JSON") {
    import spark.implicits._
    val df = Seq((1, Seq("a", "b"))).toDF("n", "parts")
    val sb = new java.lang.StringBuilder
    Output.json(df, sb)
    assert(sb.toString == """[{"n":1,"parts":["a","b"]}]""")
  }

  test("cjson splitter handles concatenated values with nested strings") {
    val vals = Readers.splitConcatenatedJson(
      """{"a": "}{"}[1,2]{"b": {"c": [3]}}""")
    assert(vals == Seq("""{"a": "}{"}""", "[1,2]", """{"b": {"c": [3]}}"""))
  }

  test("apache/nginx access and error log readers") {
    val d = java.nio.file.Files.createTempDirectory("logs")
    val access = d.resolve("a.log")
    java.nio.file.Files.writeString(access,
      "1.2.3.4 - frank [10/Oct/2000:13:55:36 -0700] \"GET /x.gif HTTP/1.0\" 200 2326\n" +
      "5.6.7.8 - - [10/Oct/2000:13:55:37 -0700] \"POST /y HTTP/1.1\" 404 -\n")
    val a = Readers.accessLog(spark, access.toString, combined = false).collect()
    assert(a(0).getAs[String]("remote_addr") == "1.2.3.4")
    assert(a(0).getAs[String]("request") == "GET /x.gif HTTP/1.0")
    assert(a(0).getAs[String]("status") == "200")
    assert(a(1).getAs[String]("body_bytes") == "-")
    val nginx = d.resolve("n.log")
    java.nio.file.Files.writeString(nginx,
      "9.9.9.9 - - [10/Oct/2000:13:55:36 -0700] \"GET / HTTP/1.1\" 200 512 \"http://ref\" \"curl/7.1\"\n")
    val n = Readers.accessLog(spark, nginx.toString, combined = true).collect()
    assert(n(0).getAs[String]("referer") == "http://ref")
    assert(n(0).getAs[String]("user_agent") == "curl/7.1")
    val err = d.resolve("e.log")
    java.nio.file.Files.writeString(err,
      "[Fri Sep 09 10:42:29.902022 2011] [core:error] [pid 35708] [client 72.15.99.187] File does not exist\n")
    val e = Readers.apacheError(spark, err.toString).collect()
    assert(e(0).getAs[String]("level") == "core:error")
    assert(e(0).getAs[String]("pid") == "35708")
    assert(e(0).getAs[String]("message") == "File does not exist")
  }

  test("content-hash cache: hit avoids re-ingest and is invalidated by change") {
    val tmp = java.nio.file.Files.createTempFile("cachetest", ".csv")
    // unique content per run — cache keys are content hashes, and a
    // previous run's cache dir in $TMP would make the first call a hit
    val salt = java.util.UUID.randomUUID().toString.take(8)
    java.nio.file.Files.writeString(tmp, s"a,b\n1,$salt\n")
    def mkCache() = new ContentHashCache(spark, Seq(tmp.toString), enabled = true)
    val made = ContentHashCache.dirFor(Seq(tmp.toString), false)
    try {
      var ingests = 0
      def ingest() = { ingests += 1
        Flatten(Readers.csv(spark, tmp.toString, ",")) }
      val c1 = mkCache()
      c1.getOrIngest("t_0", () => ingest()).collect()
      c1.getOrIngest("t_0", () => ingest()).collect()
      assert(ingests == 1) // second call hits parquet
      val before = mkCache().cacheDir
      java.nio.file.Files.writeString(tmp, s"a,b\n2,$salt\n")
      assert(mkCache().cacheDir != before) // content change → new key
    } finally {
      graft.Scratch.rmTree(made.toFile)
      java.nio.file.Files.deleteIfExists(tmp)
    }
  }
}
