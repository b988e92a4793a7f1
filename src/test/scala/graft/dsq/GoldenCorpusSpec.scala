package graft.dsq

/** Port of the reference golden CLI corpus (reference scripts/test.py) —
  * each case cites the test.py block it mirrors.
  */
class GoldenCorpusSpec extends SparkSpec {

  // FIXTURES.md §5
  private lazy val regr36 =
    SparkSpec.fixture("regr/36.json", """[{"a":1,"b":2,"c":[1,2]}]""")

  // test.py:117-125 — COUNT(1)=1000 per format
  for (fmt <- Seq("csv", "tsv", "parquet", "json", "jsonl", "xlsx", "ods")) {
    test(s"SQL count for $fmt file") {
      val out = run(Seq(refFixture(s"userdata.$fmt")), "SELECT COUNT(1) AS c FROM {}")
      assert(canonJson(out) == canonJson("""[{"c":1000}]"""))
    }
  }

  test("Join two file-tables (test.py:134-138)") {
    val out = run(Seq(refFixture("join/users.csv"), refFixture("join/ages.json")),
      "select {0}.name, {1}.age from {0} join {1} on {0}.id = {1}.id")
    assert(canonJson(out) == canonJson(
      """[{"age":88,"name":"Ted"},
        |{"age":56,"name":"Marjory"},
        |{"age":33,"name":"Micah"}]""".stripMargin))
  }

  test("Extract nested values (test.py:141-145)") {
    val out = run(Seq(refFixture("nested/nested.json")),
      """select name, "location.city" city, "location.address.number" address_number from {}""")
    assert(canonJson(out) == canonJson(
      """[{"address_number":1002,"city":"Toronto","name":"Agarrah"},
        |{"address_number":19,"city":"Mexico City","name":"Minoara"},
        |{"address_number":12,"city":"New London","name":"Fontoon"}]""".stripMargin))
  }

  test("Does not allow querying on non-array data (test.py:148-150)") {
    // content from SURVEY.md §1.1
    val f = SparkSpec.fixture("bad/not_an_array.json", """{"a": 1}""")
    val e = intercept[DsqError] {
      run(Seq(f), "SELECT * FROM {}")
    }
    assert(e.message == s"Input is not an array of objects: $f.")
  }

  test("Supports filtering with REGEXP (test.py:153-155)") {
    val out = run(Seq(refFixture("nested/nested.json")),
      "SELECT * FROM {} WHERE name REGEXP 'A.*'")
    assert(canonJson(out) == canonJson(
      """[{"location.address.number":1002,"location.city":"Toronto","name":"Agarrah"}]"""))
  }

  test("Supports table aliases (test.py:158-160)") {
    val out = run(Seq(refFixture("nested/nested.json")),
      "SELECT * FROM {} u WHERE u.name REGEXP 'A.*'")
    assert(canonJson(out) == canonJson(
      """[{"location.address.number":1002,"location.city":"Toronto","name":"Agarrah"}]"""))
  }

  test("Supports path specification (test.py:163-165)") {
    val out = run(Seq(refFixture("path/path.json")),
      "SELECT * FROM {0, 'data.data2'} ORDER BY id DESC")
    assert(canonJson(out) == canonJson(
      """[{"id":4,"name":"Minh2"},{"id":2,"name":"Corah2"}]"""))
  }

  test("Supports path specification shorthand (test.py:168-170)") {
    val out = run(Seq(refFixture("path/path.json")),
      "SELECT * FROM {'data.data'} ORDER BY id DESC")
    assert(canonJson(out) == canonJson(
      """[{"id":3,"name":"Minh"},{"id":1,"name":"Corah"}]"""))
  }

  test("Supports Excel with multiple sheets (test.py:173-175)") {
    val out = run(Seq(refFixture("excel/multiple-sheets.xlsx")),
      """SELECT COUNT(1) AS n FROM {0, "Sheet2"}""")
    assert(canonJson(out) == canonJson("""[{"n": 682}]"""))
  }

  test("Supports ORC files (test.py:178-180)") {
    val out = run(Seq(refFixture("orc/test_data.orc")),
      """SELECT COUNT(*) FROM {} WHERE _col8="China"""")
    assert(canonJson(out) == canonJson("""[{"COUNT(*)":189}]"""))
  }

  test("Supports Avro files (test.py:183-185)") {
    val out = run(Seq(refFixture("avro/test_data.avro")),
      """SELECT COUNT(*) FROM {} WHERE country="Sweden"""")
    assert(canonJson(out) == canonJson("""[{"COUNT(*)":25}]"""))
  }

  test("Supports YAML files (test.py:188-190)") {
    val out = run(Seq(refFixture("yaml/userdata.yaml")),
      "SELECT COUNT(*) FROM {} WHERE activated=false")
    assert(canonJson(out) == canonJson("""[{"COUNT(*)":3}]"""))
  }

  test("Supports LogFmt log files (test.py:193-199)") {
    val out = run(Seq(refFixture("logfmt/log.logfmt")), "SELECT level FROM {}")
    assert(canonJson(out) == canonJson(
      """[{"level":"debug"},
        |{"level":"info"},
        |{"level":"warning"},
        |{"level":"debug"},
        |{"level":"panic"}]""".stripMargin))
  }

  test("Pretty column order alphabetical (test.py:207-215)") {
    val out = engine.run(Seq(refFixture("path/path.json")), Seq(None),
      Some("""SELECT name, id FROM {"data.data"}"""),
      DsqOptions(pretty = true))
    assert(out.trim ==
      """+----+-------+
        || id | name  |
        |+----+-------+
        ||  1 | Corah |
        ||  3 | Minh  |
        |+----+-------+
        |(2 rows)""".stripMargin)
  }

  test("Pretty works even without query (test.py:218-225)") {
    val out = engine.run(Seq(regr36), Seq(None), None,
      DsqOptions(pretty = true))
    assert(out.trim ==
      """+---+---+-------+
        || a | b |   c   |
        |+---+---+-------+
        || 1 | 2 | [1,2] |
        |+---+---+-------+
        |(1 row)""".stripMargin)
  }

  test("Pretty prints schema (test.py:228-239)") {
    val out = engine.run(Seq(regr36), Seq(None), None,
      DsqOptions(pretty = true, schema = true))
    assert(out.trim ==
      """Array of
        |  Object of
        |    a of
        |      number
        |    b of
        |      number
        |    c of
        |      Array of
        |        number""".stripMargin)
  }

  test("Prints schema as JSON (test.py:242-266)") {
    val out = engine.run(Seq(regr36), Seq(None), None,
      DsqOptions(schema = true))
    assert(canonJson(out) == canonJson(
      """{"kind":"array","array":{"kind":"object","object":{
        |"a":{"kind":"scalar","scalar":"number"},
        |"b":{"kind":"scalar","scalar":"number"},
        |"c":{"kind":"array","array":{"kind":"scalar","scalar":"number"}}}}}""".stripMargin))
  }

  test("Run simple query from sql file (test.py:270-276)") {
    val q = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(refFixture("sql/simple.sql"))), "UTF-8")
    val out = run(Seq(refFixture("userdata.json")), q)
    assert(canonJson(out) == canonJson(
      """[{" Name ":"Michelle Yost"},
        |{" Name ":"Guadalupe Schimmel II"},
        |{" Name ":"Corey Beier"}]""".stripMargin))
  }

  test("Mode support (test.py:328-330)") {
    val out = run(Seq(refFixture("userdata.json")),
      "SELECT mode(Activated) mostly_activated FROM {}")
    assert(canonJson(out) == canonJson("""[{"mostly_activated":1}]"""))
  }

  test("URL functions (test.py:333-336)") {
    val out = run(Seq(refFixture("basic_logs.csv")),
      "SELECT url_host(request) host, count(1) count FROM {} group by host")
    assert(canonJson(out) == canonJson("""[{"host":"age.com","count":2}]"""))
  }

  test("URL functions, split_part (test.py:338-340)") {
    val out = run(Seq(refFixture("basic_logs.csv")),
      """SELECT split_part(url_host(request), ".", -1) host, count(1) count FROM {} group by host""")
    assert(canonJson(out) == canonJson("""[{"host":"com","count":2}]"""))
  }

  test("No number conversion, with query (test.py:343-350)") {
    val out = run(Seq(convertCsv), "SELECT * FROM {}")
    assert(out ==
      """[{"test":"1"},
        |{"test":"1.1"},
        |{"test":"+1"},
        |{"test":"01"},
        |{"test":"001"},
        |{"test":"0001.1"}]""".stripMargin)
  }

  test("Number conversion, with query (test.py:352-359)") {
    val out = run(Seq(convertCsv), "SELECT * FROM {}",
      DsqOptions(convertNumbers = true))
    assert(out ==
      """[{"test":1},
        |{"test":1.1},
        |{"test":1},
        |{"test":1},
        |{"test":1},
        |{"test":1.1}]""".stripMargin)
  }

  test("No number conversion, no query (test.py:362-369)") {
    val out = engine.run(Seq(convertCsv), Seq(None), None, DsqOptions())
    assert(out ==
      """[{"test":"1"},
        |{"test":"1.1"},
        |{"test":"+1"},
        |{"test":"01"},
        |{"test":"001"},
        |{"test":"0001.1"}]""".stripMargin)
  }

  test("Number conversion, no query (test.py:371-377)") {
    val out = engine.run(Seq(convertCsv), Seq(None), None,
      DsqOptions(convertNumbers = true))
    assert(out ==
      """[{"test":1},
        |{"test":1.1},
        |{"test":1},
        |{"test":1},
        |{"test":1},
        |{"test":1.1}]""".stripMargin)
  }

  test("No number conversion, does alphabet ordering (test.py:379-381)") {
    val out = run(Seq(refFixture("csv/numberconvert.csv")),
      """select * from {} where score > "90"""")
    assert(canonJson(out) == canonJson("""[{"Score": "95", "Name": "Rainer"}]"""))
  }

  test("Number conversion, number ordering (test.py:383-386)") {
    val out = run(Seq(refFixture("csv/numberconvert.csv")),
      """select * from {} where score > "90"""",
      DsqOptions(convertNumbers = true))
    assert(canonJson(out) == canonJson(
      """[{"Name":"Rainer","Score":95},
        |{"Name":"Fountainer","Score":100}]""".stripMargin))
  }

  test("Concatenated JSON end-to-end (S5)") {
    val f = java.nio.file.Files.createTempFile("cjson-test", ".cjson")
    java.nio.file.Files.writeString(f,
      """{"a": 1, "b": "x"}{"a": 2, "b": "y"}
        |{"a": 3, "b": "z"}""".stripMargin)
    val out = run(Seq(f.toString), "SELECT COUNT(1) AS n, SUM(a) AS s FROM {}")
    assert(canonJson(out) == canonJson("""[{"n":3,"s":6}]"""))
  }

  // test.py:289-325 — the cache block: cold import warns, warm run is
  // correct+quiet+fast, content change re-imports
  test("Caching: cold import, warm correctness+speed, re-import on change") {
    val f = java.nio.file.Files.createTempFile("cache-golden", ".csv")
    // unique content per run: the cache is content-hash keyed and
    // persists in tmpdir, so reused content would make the cold run warm
    val tag = java.lang.Long.toHexString(System.nanoTime())
    java.nio.file.Files.writeString(f, s"a,b\n1,x$tag\n2,y\n3,z\n")
    // the view dirs of both contents and the input go at the end
    val dirs = scala.collection.mutable.Buffer(
      ContentHashCache.dirFor(Seq(f.toString), convertNumbers = true))
    try {
      val q = "SELECT COUNT(1) AS n, SUM(a) AS s FROM {}"
      val opts = DsqOptions(cacheEnabled = true, convertNumbers = true)
      def runCaptured(): (String, String, Long) = {
        val errBuf = new java.io.ByteArrayOutputStream()
        val oldErr = System.err
        System.setErr(new java.io.PrintStream(errBuf, true, "UTF-8"))
        try {
          val t0 = System.nanoTime()
          val out = run(Seq(f.toString), q, opts)
          (out, errBuf.toString("UTF-8"), (System.nanoTime() - t0) / 1000000)
        } finally System.setErr(oldErr)
      }
      val (cold, coldErr, coldMs) = runCaptured()
      assert(coldErr.contains("Cache invalid, re-import required."),
        s"first import did not warn: $coldErr")
      val (warm, warmErr, warmMs) = runCaptured()
      assert(canonJson(warm) == canonJson("""[{"n":3,"s":6}]"""))
      assert(canonJson(cold) == canonJson(warm))
      assert(!warmErr.contains("Cache invalid"),
        s"warm run re-imported: $warmErr")
      // the reference's within_seconds=5 bound, with a relative escape
      // hatch so a loaded CI host can't flake an otherwise-correct run
      assert(warmMs < math.max(5000L, coldMs * 3),
        s"cached re-query took ${warmMs}ms (cold ${coldMs}ms)")
      // change the file → content hash changes → re-import warning + new data
      java.nio.file.Files.writeString(f, s"a,b\n1,x$tag\n2,y\n3,z\n4,w\n")
      dirs += ContentHashCache.dirFor(Seq(f.toString), convertNumbers = true)
      val (changed, changedErr, _) = runCaptured()
      assert(canonJson(changed) == canonJson("""[{"n":4,"s":10}]"""))
      assert(changedErr.contains("Cache invalid, re-import required."),
        s"no re-import after content change: $changedErr")
    } finally {
      dirs.foreach(d => graft.Scratch.rmTree(d.toFile))
      java.nio.file.Files.deleteIfExists(f)
    }
  }

  // README.md:389-403 — `->` returns a JSON fragment (strings stay
  // quoted), `->>` returns raw text
  test("Arrow operator string fidelity: -> keeps quotes, ->> strips them") {
    val f = java.nio.file.Files.createTempFile("arrow-golden", ".json")
    java.nio.file.Files.writeString(f,
      """[{"id": 1, "tags": ["alpha", "beta"]}]""")
    val frag = run(Seq(f.toString), "SELECT tags->0 AS t FROM {}")
    assert(canonJson(frag) == canonJson("""[{"t":"\"alpha\""}]"""))
    val text = run(Seq(f.toString), "SELECT tags->>0 AS t FROM {}")
    assert(canonJson(text) == canonJson("""[{"t":"alpha"}]"""))
  }

  // README.md:453-490 — Avro unions render as "Varied of", byte-exact
  test("Avro union schema renders Varied of (README.md:453-490)") {
    val out = engine.run(Seq(refFixture("avro/test_data.avro")), Seq(None), None,
      DsqOptions(pretty = true, schema = true))
    assert(out.trim ==
      """Array of
        |  Object of
        |    birthdate of
        |      string
        |    cc of
        |      Varied of
        |        Object of
        |          long of
        |            number or
        |        Unknown
        |    comments of
        |      string
        |    country of
        |      string
        |    email of
        |      string
        |    first_name of
        |      string
        |    gender of
        |      string
        |    id of
        |      number
        |    ip_address of
        |      string
        |    last_name of
        |      string
        |    registration_dttm of
        |      string
        |    salary of
        |      Varied of
        |        Object of
        |          double of
        |            number or
        |        Unknown
        |    title of
        |      string""".stripMargin)
  }

  // README.md:445-490 — mixed-type JSON columns vote per key over the
  // 100-row sample and disagreement renders "Varied of" with the same
  // grammar as the Avro unions above (branches " or"-joined, Unknown
  // last); a key missing from some rows and an explicit null both
  // contribute the Unknown branch
  test("Mixed-type JSON schema renders Varied of (README.md:445-490)") {
    val f = java.nio.file.Files.createTempFile("mixed_shape", ".json")
    java.nio.file.Files.writeString(f,
      """[
        |  {"a": 1, "b": "x", "c": [1, 2]},
        |  {"a": "one", "b": "y", "c": [3, "four"], "d": true},
        |  {"a": 2, "b": null}
        |]""".stripMargin)
    val out = engine.run(Seq(f.toString), Seq(None), None,
      DsqOptions(pretty = true, schema = true))
    assert(out.trim ==
      """Array of
        |  Object of
        |    a of
        |      Varied of
        |        number or
        |        string
        |    b of
        |      Varied of
        |        string or
        |        Unknown
        |    c of
        |      Varied of
        |        Array of
        |          Varied of
        |            number or
        |            string or
        |        Unknown
        |    d of
        |      Varied of
        |        boolean or
        |        Unknown""".stripMargin, s"got:\n$out")
    // JSON rendering of the same shape round-trips the varied grammar
    val j = engine.run(Seq(f.toString), Seq(None), None,
      DsqOptions(schema = true))
    assert(canonJson(j).contains("\"kind\":\"varied\""), j)
    java.nio.file.Files.delete(f)
  }

  test("Mixed-type cjson schema: varied vote over concatenated values") {
    val f = java.nio.file.Files.createTempFile("mixed_shape", ".cjson")
    java.nio.file.Files.writeString(f,
      """{"a": 1}{"a": "two"}
        |{"a": 3}""".stripMargin)
    val out = engine.run(Seq(f.toString), Seq(None), None,
      DsqOptions(pretty = true, schema = true))
    assert(out.trim ==
      """Array of
        |  Object of
        |    a of
        |      Varied of
        |        number or
        |        string""".stripMargin, s"got:\n$out")
    java.nio.file.Files.delete(f)
  }

  test("Mixed-type JSONL schema samples first 100 rows only") {
    val f = java.nio.file.Files.createTempFile("mixed_shape", ".jsonl")
    // rows 1-100 agree (number); row 101's string must NOT flip the vote
    val lines = (1 to 100).map(i => s"""{"v": $i}""") :+ """{"v": "s"}"""
    java.nio.file.Files.write(f,
      lines.mkString("\n").getBytes("UTF-8"))
    val out = engine.run(Seq(f.toString), Seq(None), None,
      DsqOptions(pretty = true, schema = true))
    assert(out.trim ==
      """Array of
        |  Object of
        |    v of
        |      number""".stripMargin, s"got:\n$out")
    java.nio.file.Files.delete(f)
  }

  // regressions
  test("regr #36 arrow operator (test.py:392-394)") {
    val out = run(Seq(regr36), "SELECT c->1 AS secondc FROM {}")
    assert(canonJson(out) == canonJson("""[{"secondc": "2"}]"""))
  }

  test("regr #36 array-to-string (test.py:396-398)") {
    val out = run(Seq(regr36), "SELECT * FROM {}")
    assert(canonJson(out) == canonJson("""[{"a": 1, "b": 2, "c": "[1,2]"}]"""))
  }

  test("regr #67 empty nested array (test.py:400-402)") {
    // FIXTURES.md §5
    val f = SparkSpec.fixture("regr/67.jsonl", """{"foo":[]}""")
    val out = run(Seq(f), "SELECT COUNT(1) AS count FROM {}")
    assert(canonJson(out) == canonJson("""[{"count": 1}]"""))
  }

  test("regr #74 near-duplicate column names (test.py:404-406)") {
    // header from FIXTURES.md §5, row from the golden below
    val f = SparkSpec.fixture("regr/74.csv", "\"a\",\"a b\"\n1,2\n")
    val out = run(Seq(f), "SELECT * FROM {}")
    assert(canonJson(out) == canonJson("""[{"a": "1", "a b": "2"}]"""))
  }

  // Divergence golden: the reference advertises `xls` (README.md:605) but
  // excelize only parses OOXML ZIP containers — a BIFF .xls is an OLE2
  // compound file. We sniff the OLE2 magic and fail with a precise error
  // instead of a ZIP stack trace.
  test("legacy binary .xls (OLE2/BIFF) fails with a precise DsqError") {
    val f = java.nio.file.Files.createTempFile("legacy", ".xls")
    try {
      // OLE2 magic + a little BIFF-ish padding
      java.nio.file.Files.write(f,
        Array(0xD0, 0xCF, 0x11, 0xE0, 0xA1, 0xB1, 0x1A, 0xE1, 0x00, 0x00)
          .map(_.toByte))
      val e = intercept[DsqError] {
        run(Seq(f.toString), "SELECT COUNT(1) AS c FROM {}")
      }
      assert(e.message ==
        s"Legacy binary .xls (OLE2/BIFF) is not supported: ${f.toString}. " +
          "Save the workbook as .xlsx and retry.")
    } finally java.nio.file.Files.deleteIfExists(f)
  }

  test("non-ZIP non-OLE2 spreadsheet still fails with the generic error") {
    val f = java.nio.file.Files.createTempFile("not_a_zip", ".xlsx")
    try {
      java.nio.file.Files.writeString(f, "this is not a spreadsheet")
      val e = intercept[DsqError] {
        run(Seq(f.toString), "SELECT COUNT(1) AS c FROM {}")
      }
      assert(e.message == s"Invalid spreadsheet file (not a ZIP): ${f.toString}.")
    } finally java.nio.file.Files.deleteIfExists(f)
  }
}
