package graft.dsq

import org.scalatest.funsuite.AnyFunSuite

/** CLI flag/error surface (reference main.go:341-432, §2.6 A7/A8). */
class CliSpec extends AnyFunSuite {

  test("query detection: last arg with a space") {
    val Right(a) = Cli.parse(Array("f.csv", "SELECT * FROM {}")): @unchecked
    assert(a.files == Seq("f.csv"))
    assert(a.query == Some("SELECT * FROM {}"))
  }

  test("single space-containing arg stays a file (reference parity)") {
    val Right(a) = Cli.parse(Array("my data.csv")): @unchecked
    assert(a.files == Seq("my data.csv") && a.query.isEmpty)
  }

  test("-f disables query-vs-file heuristic") {
    // FIXTURES.md §1
    val sql = SparkSpec.fixture("sql/simple.sql",
      """SELECT " Name " FROM {} LIMIT 3""")
    val Right(a) = Cli.parse(Array("-f", sql, "my data.csv")): @unchecked
    assert(a.files == Seq("my data.csv"))
    assert(a.query.exists(_.contains("SELECT")))
  }

  test("-f with missing file gives a clean error") {
    assert(Cli.parse(Array("x.csv", "-f", "/nope.sql"))
      == Left("SQL file does not exist: /nope.sql."))
  }

  test("no query: all args are files") {
    val Right(a) = Cli.parse(Array("f.csv")): @unchecked
    assert(a.files == Seq("f.csv") && a.query.isEmpty)
  }

  test("flags set options") {
    val Right(a) = Cli.parse(Array("-p", "-n", "-C", "f.csv")): @unchecked
    assert(a.opts.pretty && a.opts.convertNumbers && a.opts.cacheEnabled)
  }

  test("-i implies pretty + cache") {
    val Right(a) = Cli.parse(Array("-i", "f.csv")): @unchecked
    assert(a.opts.interactive && a.opts.pretty && a.opts.cacheEnabled)
  }

  test("-s without value errors") {
    assert(Cli.parse(Array("f.csv", "-s")) == Left("Must specify stdin mimetype."))
  }

  test("-f without value errors") {
    assert(Cli.parse(Array("f.csv", "-f")) == Left("Must specify a SQL file."))
  }

  test("-f with empty SQL file errors") {
    val sql = SparkSpec.fixture("sql/empty.sql", "")
    assert(Cli.parse(Array("f.csv", "-f", sql)) == Left("SQL file is empty."))
  }

  test("-v prints version string") {
    assert(Cli.parse(Array("-v")) == Left(s"dsq ${BuildInfo.version}"))
    assert(Cli.parse(Array("-v")).swap.exists(_.matches("dsq \\d+\\.\\d+\\.\\d+")))
  }

  test("DSQ_NO_SQLITE_WRITER env is accepted case-insensitively (main.go:344)") {
    val Right(a) = Cli.parse(Array("f.csv"),
      Map("DSQ_NO_SQLITE_WRITER" -> "TRUE")): @unchecked
    assert(a.opts.noSqliteWriter)
    val Right(b) = Cli.parse(Array("f.csv"), Map.empty): @unchecked
    assert(!b.opts.noSqliteWriter)
    val Right(c) = Cli.parse(Array("--no-sqlite-writer", "f.csv"),
      Map.empty): @unchecked
    assert(c.opts.noSqliteWriter)
  }

  test("env defaults: DSQ_CACHE / DSQ_CONVERT_NUMBERS case-insensitive") {
    val Right(a) = Cli.parse(Array("f.csv"),
      Map("DSQ_CACHE" -> "True", "DSQ_CONVERT_NUMBERS" -> "true")): @unchecked
    assert(a.opts.cacheEnabled && a.opts.convertNumbers)
  }

  test("-v and -h exit 0; usage errors exit 1 (reference main.go:369-373)") {
    val Left(versionMsg) = Cli.parse(Array("-v")): @unchecked
    assert(Cli.exitCodeFor(versionMsg) == 0)
    val Left(helpMsg) = Cli.parse(Array("-h")): @unchecked
    assert(Cli.exitCodeFor(helpMsg) == 0)
    val Left(errMsg) = Cli.parse(Array("f.csv", "-s")): @unchecked
    assert(Cli.exitCodeFor(errMsg) == 1)
  }
}

/** Driven pipe matrix (reference test.py:117-125 runs every format both
  * as a file arg and as `cat f | dsq -s fmt`): stdin slurp + mimetype
  * override + query-vs-file detection with the stdin file prepended
  * (main.go:484-506 ordering — a single query arg after -s is a query).
  */
class CliPipeSpec extends SparkSpec {

  // REPL parity vs the reference's readline behavior (main.go:268-326):
  // completion and history only engage on a REAL terminal, so this test
  // drives the CLI as a subprocess under a pseudo-terminal
  // (`script -qec`), types with actual TAB keys, and checks the
  // completed line echo, the query result, `exit` → "bye", and
  // incremental history-file APPEND (the pre-seeded line survives).
  test("pty REPL: tab completion, history append, exit prints bye") {
    assume(new java.io.File("/usr/bin/script").exists(),
      "util-linux script not available")
    import scala.jdk.CollectionConverters._
    val dir = java.nio.file.Files.createTempDirectory("graft_pty")
    val csv = dir.resolve("t.csv")
    java.nio.file.Files.writeString(csv, "a,b\n1,2\n3,4\n")
    java.nio.file.Files.writeString(dir.resolve("dsq_history"),
      "SELECT 99 FROM {}\n")
    val jvmArgs = java.lang.management.ManagementFactory.getRuntimeMXBean
      .getInputArguments.asScala
      .filter(a => a.startsWith("--add-opens") ||
        a.startsWith("--add-exports") || a.startsWith("--enable-native"))
    val cmd = (Seq("java") ++ jvmArgs ++ Seq(
      s"-Duser.home=$dir", "-Xmx2g", "-cp",
      System.getProperty("java.class.path"),
      "graft.dsq.Cli", "-i", csv.toString)).mkString(" ")
    val pb = new ProcessBuilder("script", "-qec", cmd, "/dev/null")
    pb.redirectErrorStream(true)
    val p = pb.start()
    val buf = new java.lang.StringBuilder
    val collector = new Thread(() => {
      val in = p.getInputStream
      val arr = new Array[Byte](4096)
      var n = in.read(arr)
      while (n >= 0) {
        buf.synchronized { buf.append(new String(arr, 0, n, "UTF-8")) }
        n = in.read(arr)
      }
    })
    collector.setDaemon(true)
    collector.start()
    def awaitOutput(sub: String, timeoutMs: Long): Boolean = {
      val deadline = System.currentTimeMillis() + timeoutMs
      while (System.currentTimeMillis() < deadline) {
        if (buf.synchronized(buf.toString).contains(sub)) return true
        Thread.sleep(200)
      }
      false
    }
    try {
      val w = new java.io.OutputStreamWriter(p.getOutputStream, "UTF-8")
      // jline renders the prompt through escape sequences (no literal
      // "dsq> " in the byte stream); the bracketed-paste enable it emits
      // right before each read is the reliable prompt-shown marker
      assert(awaitOutput("[?2004h", 120000),
        s"no prompt:\n${buf.synchronized(buf.toString)}")
      // two completions mid-line: SEL<TAB> → "SELECT ", FR<TAB> → "FROM "
      w.write("SEL\tcount(a) AS n FR\t{}\n"); w.flush()
      assert(awaitOutput("(1 row)", 120000),
        s"no result:\n${buf.synchronized(buf.toString)}")
      w.write("exit\n"); w.flush()
      assert(awaitOutput("bye", 30000),
        s"no bye:\n${buf.synchronized(buf.toString)}")
      p.waitFor(30, java.util.concurrent.TimeUnit.SECONDS)
      val out = buf.synchronized(buf.toString)
      // the query only parses if BOTH tabs expanded (the raw line was
      // "SEL\tcount(a) AS n FR\t{}"): a rendered result table is the
      // semantic proof of completion
      assert(out.contains("| n |") && out.contains("| 2 |"),
        s"query result missing — completion did not expand:\n$out")
      val hist = java.nio.file.Files.readString(dir.resolve("dsq_history"))
      assert(hist.contains("SELECT 99 FROM {}"),
        s"pre-seeded history line lost (truncate, not append): $hist")
      // jline records the ACCEPTED line (timestamp-prefixed): its text
      // carries the tab-expanded keywords, proving completion again
      assert(hist.contains("SELECT count(a) AS n FROM {}"),
        s"session line not appended to history: $hist")
      assert(hist.indexOf("SELECT 99") < hist.indexOf("count(a)"),
        s"append order wrong: $hist")
    } finally {
      p.destroyForcibly()
    }
  }

  private def runCli(argv: Array[String], stdinFile: String): (Int, String) = {
    val oldIn = System.in
    val outBuf = new java.io.ByteArrayOutputStream()
    try {
      System.setIn(new java.io.FileInputStream(stdinFile))
      val code = Console.withOut(new java.io.PrintStream(outBuf, true, "UTF-8")) {
        val Right(args) = Cli.parse(argv): @unchecked
        Cli.run(args)
      }
      (code, outBuf.toString("UTF-8"))
    } finally System.setIn(oldIn)
  }

  for (fmt <- Seq("csv", "tsv", "parquet", "json", "jsonl", "xlsx", "ods")) {
    test(s"pipe: cat userdata.$fmt | dsq -s $fmt query") {
      val (code, out) = runCli(
        Array("-s", fmt, "SELECT COUNT(1) AS c FROM {}"),
        refFixture(s"userdata.$fmt"))
      assert(code == 0, s"exit $code, out: $out")
      assert(canonJson(out) == canonJson("""[{"c":1000}]"""))
    }
  }

  // the remaining -s types, each against its reference fixture (counts
  // from the corresponding file-arg goldens) — with these, EVERY format
  // the engine reads is also proven through the stdin path
  for ((fmt, file, n) <- Seq(
    ("orc", "orc/test_data.orc", 1000),
    ("avro", "avro/test_data.avro", 1000),
    ("yaml", "yaml/userdata.yaml", 5),
    ("logfmt", "logfmt/log.logfmt", 5))) {
    test(s"pipe: cat $file | dsq -s $fmt query") {
      val (code, out) = runCli(
        Array("-s", fmt, "SELECT COUNT(1) AS c FROM {}"), refFixture(file))
      assert(code == 0, s"exit $code, out: $out")
      assert(canonJson(out) == canonJson(s"""[{"c":$n}]"""))
    }
  }

  // resolveContentType parity (main.go:29-35): the full MIME strings from
  // the README format table (README.md:596-612) resolve to the same
  // readers as the bare extensions.
  for ((mime, fmt) <- Seq(
    ("text/csv", "csv"),
    ("text/tab-separated-values", "tsv"),
    ("application/json", "json"),
    ("application/jsonlines", "jsonl"),
    ("application/vnd.ms-excel", "xlsx"),
    ("application/vnd.oasis.opendocument.spreadsheet", "ods"))) {
    test(s"pipe: full-MIME -s $mime matches -s $fmt") {
      val (code, out) = runCli(
        Array("-s", mime, "SELECT COUNT(1) AS c FROM {}"),
        refFixture(s"userdata.$fmt"))
      assert(code == 0, s"exit $code, out: $out")
      assert(canonJson(out) == canonJson("""[{"c":1000}]"""))
    }
  }

  test("pipe: full-MIME -s text/logfmt and application/yaml resolve") {
    val (c1, o1) = runCli(
      Array("-s", "text/logfmt", "SELECT COUNT(1) AS c FROM {}"),
      refFixture("logfmt/log.logfmt"))
    assert(c1 == 0 && canonJson(o1) == canonJson("""[{"c":5}]"""))
    val (c2, o2) = runCli(
      Array("-s", "application/yaml", "SELECT COUNT(1) AS c FROM {}"),
      refFixture("yaml/userdata.yaml"))
    assert(c2 == 0 && canonJson(o2) == canonJson("""[{"c":5}]"""))
  }

  test("pipe: concatenated JSON via -s cjson") {
    val f = java.nio.file.Files.createTempFile("pipe_cjson", ".cjson")
    try {
      java.nio.file.Files.writeString(f,
        """{"a": 1}{"a": 2}
          |{"a": 3}""".stripMargin)
      val (code, out) = runCli(
        Array("-s", "cjson", "SELECT COUNT(1) AS c FROM {}"), f.toString)
      assert(code == 0, s"exit $code, out: $out")
      assert(canonJson(out) == canonJson("""[{"c":3}]"""))
    } finally java.nio.file.Files.deleteIfExists(f)
  }

  test("pipe: unknown -s mimetype fails with the exact error") {
    val errBuf = new java.io.ByteArrayOutputStream()
    val oldErr = System.err
    System.setErr(new java.io.PrintStream(errBuf, true, "UTF-8"))
    try {
      val (code, _) = runCli(
        Array("-s", "nope", "SELECT COUNT(1) AS c FROM {}"),
        convertCsv)
      assert(code == 1)
      assert(errBuf.toString("UTF-8").contains("Unknown mimetype: nope."))
    } finally System.setErr(oldErr)
  }

  // S12–S14 golden pipes (reference README.md: apache2error /
  // apache2access / nginxaccess are stdin-only formats — no extension
  // maps to them, so `-s` is the only way in, exactly how the reference
  // ships them).
  private def withFixture(content: String)(body: String => Unit): Unit = {
    val f = java.nio.file.Files.createTempFile("graft_log", ".txt")
    try {
      java.nio.file.Files.writeString(f, content)
      body(f.toString)
    } finally java.nio.file.Files.deleteIfExists(f)
  }

  test("pipe: apache2error parses time/level/pid/client/message (S12)") {
    withFixture(
      "[Fri Sep 09 10:42:29.902022 2011] [core:error] " +
        "[pid 35708:tid 4328636416] [client 72.15.99.187] " +
        "File does not exist: /usr/local/apache2/htdocs/favicon.ico\n" +
        "[Fri Sep 09 10:42:31.000000 2011] [mpm_event:notice] " +
        "AH00489: Apache/2.4.52 configured\n") { path =>
      val (code, out) = runCli(
        Array("-s", "apache2error",
          "SELECT level, client, message FROM {} WHERE level LIKE '%error%'"),
        path)
      assert(code == 0, s"exit $code, out: $out")
      assert(canonJson(out) == canonJson(
        """[{"client":"72.15.99.187","level":"core:error",
          |"message":"File does not exist: /usr/local/apache2/htdocs/favicon.ico"}]"""
          .stripMargin))
    }
  }

  test("pipe: -s text/apache2error — the README-documented MIME-only form " +
    "(README.md:609, no file extension exists for this format)") {
    withFixture(
      "[Fri Sep 09 10:42:29.902022 2011] [core:error] " +
        "[pid 35708:tid 4328636416] [client 72.15.99.187] " +
        "File does not exist: /usr/local/apache2/htdocs/favicon.ico\n") { path =>
      val (code, out) = runCli(
        Array("-s", "text/apache2error",
          "SELECT level, client FROM {} WHERE level LIKE '%error%'"), path)
      assert(code == 0, s"exit $code, out: $out")
      assert(canonJson(out) == canonJson(
        """[{"client":"72.15.99.187","level":"core:error"}]"""))
    }
  }

  test("pipe: -s text/apache2access and text/nginxaccess MIME forms") {
    withFixture(
      "127.0.0.1 - frank [10/Oct/2000:13:55:36 -0700] " +
        "\"GET /apache_pb.gif HTTP/1.0\" 200 2326\n") { path =>
      val (code, out) = runCli(
        Array("-s", "text/apache2access",
          "SELECT remote_addr, status FROM {}"), path)
      assert(code == 0, s"exit $code, out: $out")
      assert(canonJson(out) == canonJson(
        """[{"remote_addr":"127.0.0.1","status":"200"}]"""))
    }
    withFixture(
      "127.0.0.1 - james [09/May/2018:16:00:39 +0000] " +
        "\"GET /report HTTP/1.0\" 200 123 \"http://example.com/start\" " +
        "\"Mozilla/5.0\"\n") { path =>
      val (code, out) = runCli(
        Array("-s", "text/nginxaccess", "SELECT referer FROM {}"), path)
      assert(code == 0, s"exit $code, out: $out")
      assert(canonJson(out) == canonJson(
        """[{"referer":"http://example.com/start"}]"""))
    }
  }

  test("pipe: unknown full-MIME -s fails with the exact error") {
    val errBuf = new java.io.ByteArrayOutputStream()
    val oldErr = System.err
    System.setErr(new java.io.PrintStream(errBuf, true, "UTF-8"))
    try {
      val (code, _) = runCli(
        Array("-s", "text/unknownformat", "SELECT 1 FROM {}"),
        convertCsv)
      assert(code == 1)
      assert(errBuf.toString("UTF-8")
        .contains("Unknown mimetype: text/unknownformat."))
    } finally System.setErr(oldErr)
  }

  test("pipe: apache2access parses Common Log Format fields (S13)") {
    withFixture(
      "127.0.0.1 - frank [10/Oct/2000:13:55:36 -0700] " +
        "\"GET /apache_pb.gif HTTP/1.0\" 200 2326\n" +
        "10.0.0.2 - - [10/Oct/2000:13:55:38 -0700] " +
        "\"POST /form HTTP/1.1\" 404 -\n") { path =>
      val (code, out) = runCli(
        Array("-s", "apache2access",
          "SELECT remote_addr, remote_user, request, status, body_bytes " +
            "FROM {} ORDER BY remote_addr"),
        path)
      assert(code == 0, s"exit $code, out: $out")
      assert(canonJson(out) == canonJson(
        """[{"body_bytes":"-","remote_addr":"10.0.0.2","remote_user":"-",
          |"request":"POST /form HTTP/1.1","status":"404"},
          |{"body_bytes":"2326","remote_addr":"127.0.0.1","remote_user":"frank",
          |"request":"GET /apache_pb.gif HTTP/1.0","status":"200"}]""".stripMargin))
    }
  }

  test("pipe: nginxaccess parses Combined Log Format incl. referer/UA (S14)") {
    withFixture(
      "127.0.0.1 - james [09/May/2018:16:00:39 +0000] " +
        "\"GET /report HTTP/1.0\" 200 123 \"http://example.com/start\" " +
        "\"Mozilla/5.0 (X11; Linux x86_64)\"\n") { path =>
      val (code, out) = runCli(
        Array("-s", "nginxaccess",
          "SELECT remote_addr, request, status, referer, user_agent FROM {}"),
        path)
      assert(code == 0, s"exit $code, out: $out")
      assert(canonJson(out) == canonJson(
        """[{"referer":"http://example.com/start","remote_addr":"127.0.0.1",
          |"request":"GET /report HTTP/1.0","status":"200",
          |"user_agent":"Mozilla/5.0 (X11; Linux x86_64)"}]""".stripMargin))
    }
  }

  test("pipe without query dumps the stdin table (S16)") {
    val (code, out) = runCli(Array("-s", "csv"), convertCsv)
    assert(code == 0)
    assert(canonJson(out) == canonJson(
      """[{"test":"1"},{"test":"1.1"},{"test":"+1"},
        |{"test":"01"},{"test":"001"},{"test":"0001.1"}]""".stripMargin))
  }

  test("bare piped data without -s errors No input files. (main.go:523)") {
    val errBuf = new java.io.ByteArrayOutputStream()
    val oldErr = System.err
    System.setErr(new java.io.PrintStream(errBuf, true, "UTF-8"))
    try {
      val (code, _) = runCli(Array[String](), convertCsv)
      assert(code == 1)
      assert(errBuf.toString("UTF-8").contains("No input files."))
    } finally System.setErr(oldErr)
  }

  test("no arguments errors No input files. (test.py:128-131)") {
    val errBuf = new java.io.ByteArrayOutputStream()
    val oldErr = System.err
    System.setErr(new java.io.PrintStream(errBuf, true, "UTF-8"))
    try {
      val Right(args) = Cli.parse(Array[String]()): @unchecked
      assert(Cli.run(args) == 1)
      assert(errBuf.toString("UTF-8").contains("No input files."))
    } finally System.setErr(oldErr)
  }

  test("CLI SQL reaches the graft_* native functions through the dialect") {
    val (code, out) = runCli(
      Array("-s", "csv",
        "SELECT graft_jaccard_sorted(array(1L, 2L, 3L), array(2L, 3L, 4L))" +
          " AS j FROM {} LIMIT 1"),
      convertCsv)
    assert(code == 0, s"exit $code, out: $out")
    assert(canonJson(out) == canonJson("""[{"j":0.5}]"""))
  }

  test("over-deep arrow chain fails with the exact DsqError on stderr") {
    val errBuf = new java.io.ByteArrayOutputStream()
    val oldErr = System.err
    System.setErr(new java.io.PrintStream(errBuf, true, "UTF-8"))
    try {
      val deep = "SELECT test" +
        (1 to 9).map(i => s"->'k$i'").mkString + " FROM {}"
      val Right(args) = Cli.parse(Array(convertCsv, deep)): @unchecked
      assert(Cli.run(args) == 1)
      assert(errBuf.toString("UTF-8") ==
        "Unsupported JSON arrow chain depth (max 5); " +
          "use a single '$.a.b.…' path instead.\n")
    } finally System.setErr(oldErr)
  }

  test("--verbose logs per-file ingest on stderr; silent without (main.go:353)") {
    val errBuf = new java.io.ByteArrayOutputStream()
    val oldErr = System.err
    System.setErr(new java.io.PrintStream(errBuf, true, "UTF-8"))
    try {
      val (code, _) = runCli(
        Array("--verbose", "-s", "csv", "SELECT COUNT(1) AS c FROM {}"),
        convertCsv)
      assert(code == 0)
      val err = errBuf.toString("UTF-8")
      assert(err.contains("Ingested") && err.contains("as csv:")
        && err.contains("6 rows"), s"verbose stderr was: $err")
      errBuf.reset()
      val (code2, _) = runCli(
        Array("-s", "csv", "SELECT COUNT(1) AS c FROM {}"), convertCsv)
      assert(code2 == 0)
      assert(!errBuf.toString("UTF-8").contains("Ingested"),
        s"non-verbose run logged: $errBuf")
    } finally System.setErr(oldErr)
  }

  test("--verbose -C: second run logs Cache hit, not Ingested") {
    val f = java.nio.file.Files.createTempFile("verbose_cache", ".csv")
    // unique content per run: the cache is keyed by content SHA-1 under
    // /tmp, which outlives test JVMs — identical bytes would make the
    // FIRST run a stale-cache hit
    java.nio.file.Files.writeString(f,
      s"a,b\n1,${System.nanoTime()}\n3,4\n")
    val errBuf = new java.io.ByteArrayOutputStream()
    val oldErr = System.err
    System.setErr(new java.io.PrintStream(errBuf, true, "UTF-8"))
    try {
      val q = "SELECT COUNT(1) AS c FROM {}"
      val (c1, _) = runCli(Array("--verbose", "-C", f.toString, q),
        f.toString)
      assert(c1 == 0)
      val first = errBuf.toString("UTF-8")
      assert(first.contains("Ingested") && first.contains("2 rows"),
        s"first run: $first")
      assert(!first.contains("Cache hit"), s"first run: $first")
      errBuf.reset()
      val (c2, _) = runCli(Array("--verbose", "-C", f.toString, q),
        f.toString)
      assert(c2 == 0)
      val second = errBuf.toString("UTF-8")
      // the hit is reported as such (and still row-counted — parquet
      // footer counts, no source re-parse)
      assert(second.contains("Cache hit") && second.contains("2 rows"),
        s"second run: $second")
      assert(!second.contains("Ingested"), s"second run: $second")
    } finally {
      System.setErr(oldErr)
      graft.Scratch.rmTree(ContentHashCache.dirFor(Seq(f.toString), false).toFile)
      java.nio.file.Files.deleteIfExists(f)
    }
  }

  test("-D cache path reflects -n, matching the dir a -C -n run uses") {
    def dumpDir(extra: String*): String = {
      val outBuf = new java.io.ByteArrayOutputStream()
      Console.withOut(new java.io.PrintStream(outBuf, true, "UTF-8")) {
        val Right(a) = Cli.parse(
          (extra ++ Seq("-D", convertCsv)).toArray, Map.empty): @unchecked
        assert(Cli.run(a) == 0)
      }
      outBuf.toString("UTF-8").trim
    }
    val plain = dumpDir()
    val converted = dumpDir("-n")
    assert(converted == plain + "-n",
      s"-D with -n must print the optsKey-suffixed dir: $plain vs $converted")
  }

  // test.py:306-311 — the cache is CONTENT-hash keyed, so a warm import
  // made from a file is a hit when the same bytes arrive via stdin
  test("Caching from pipe after caching from file is a cache hit (test.py:306-311)") {
    val f = java.nio.file.Files.createTempFile("cache-pipe", ".csv")
    val tag = java.lang.Long.toHexString(System.nanoTime())
    java.nio.file.Files.writeString(f, s"a,b\n1,p$tag\n2,q\n")
    val q = "SELECT COUNT(1) AS n FROM {}"
    val errBuf = new java.io.ByteArrayOutputStream()
    val oldErr = System.err
    System.setErr(new java.io.PrintStream(errBuf, true, "UTF-8"))
    try {
      // cold import from the file argument
      val Right(a1) = Cli.parse(Array("-C", f.toString, q)): @unchecked
      Console.withOut(new java.io.PrintStream(
        new java.io.ByteArrayOutputStream()))(Cli.run(a1))
      assert(errBuf.toString("UTF-8").contains("Cache invalid"))
      errBuf.reset()
      // same bytes piped through stdin → content hash matches → warm
      val (code, out) = runCli(Array("-C", "-s", "csv", q), f.toString)
      assert(code == 0)
      assert(canonJson(out) == canonJson("""[{"n":2}]"""))
      assert(!errBuf.toString("UTF-8").contains("Cache invalid"),
        s"pipe run re-imported: $errBuf")
    } finally {
      System.setErr(oldErr)
      graft.Scratch.rmTree(ContentHashCache.dirFor(Seq(f.toString), false).toFile)
      java.nio.file.Files.deleteIfExists(f)
    }
  }

  test("a piped -s run deletes its stdin copy, with and without -C") {
    val f = java.nio.file.Files.createTempFile("stdin-leak", ".csv")
    val tag = java.lang.Long.toHexString(System.nanoTime())
    java.nio.file.Files.writeString(f, s"a,b\n1,p$tag\n")
    val tmp = new java.io.File(System.getProperty("java.io.tmpdir"))
    def stdinCopies(): Int =
      tmp.listFiles().count(_.getName.startsWith("dsq-stdin"))
    val before = stdinCopies()
    val oldErr = System.err
    System.setErr(new java.io.PrintStream(new java.io.ByteArrayOutputStream()))
    try {
      for (flags <- Seq(Seq("-s", "csv"), Seq("-C", "-s", "csv"))) {
        val (code, out) =
          runCli((flags :+ "SELECT COUNT(1) AS n FROM {}").toArray, f.toString)
        assert(code == 0, s"exit $code, out: $out")
        assert(stdinCopies() == before, s"$flags left a dsq-stdin copy")
      }
      // a failing query removes its copy too
      val (code, _) = runCli(Array("-s", "csv", "SELECT nope FROM {}"),
        f.toString)
      assert(code == 1)
      assert(stdinCopies() == before, "a failed run left a dsq-stdin copy")
    } finally {
      System.setErr(oldErr)
      graft.Scratch.rmTree(ContentHashCache.dirFor(Seq(f.toString), false).toFile)
      java.nio.file.Files.deleteIfExists(f)
    }
  }
}

/** strftime / date UDF logic. */
class StdlibSpec extends AnyFunSuite {
  test("strftime formats") {
    assert(Stdlib.strftime("%Y-%m-%d %H:%M:%S", "2021-03-05T07:08:09", Nil)
      == Some("2021-03-05 07:08:09"))
    assert(Stdlib.strftime("%j", "2021-02-01", Nil) == Some("032"))
    assert(Stdlib.strftime("%s", "1970-01-02", Nil) == Some("86400"))
    assert(Stdlib.strftime("100%%", "1970-01-02", Nil) == Some("100%"))
  }

  test("strftime modifiers") {
    assert(Stdlib.strftime("%Y-%m-%d", "2021-03-05", Seq("+2 days"))
      == Some("2021-03-07"))
    assert(Stdlib.strftime("%Y-%m-%d", "2021-03-05", Seq("start of month"))
      == Some("2021-03-01"))
    assert(Stdlib.strftime("%Y-%m-%d", "86400", Seq("unixepoch"))
      == Some("1970-01-02"))
  }

  test("jsonFrag: fragments, arrays, malformed paths") {
    assert(Stdlib.jsonFrag("""{"a":{"b":"x"}}""", "$.a.b") == "\"x\"")
    assert(Stdlib.jsonFrag("""{"a":{"b":"x"}}""", "$.a") == """{"b":"x"}""")
    assert(Stdlib.jsonFrag("[1,2]", "$[1]") == "2")
    assert(Stdlib.jsonFrag("""{"a":1}""", "$.missing") == null)
    // SQLite: a present null-valued key yields the fragment text 'null'
    assert(Stdlib.jsonFrag("""{"a":null}""", "$.a") == "null")
    // SQLite: c->'' is NULL, never the whole document
    assert(Stdlib.jsonFrag("""{"a":1}""", "$.") == null)
    assert(Stdlib.jsonFrag("not json", "$.a") == null)
  }

  test("best-effort date parsing formats") {
    def y(s: String) = Stdlib.bestEffortParts(s).map(_.getYear)
    assert(y("2021-10-18T04:23:27.810Z") == Some(2021))
    assert(y("2021-10-18 04:23:27") == Some(2021))
    assert(y("10/18/2021") == Some(2021))
    assert(y("Oct 18, 2021") == Some(2021))
    assert(y("18 Oct 2021") == Some(2021))
    assert(y("1634530000") == Some(2021)) // epoch seconds
    assert(y("not a date") == None)
    assert(y("") == None)
  }
}
