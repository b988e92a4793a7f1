package graft.dsq

import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths, StandardCopyOption}

/** CLI shell mirroring the reference's flag/env/error surface
  * (main.go:341-432 getArgs, 436-461 HELP, §2.6 A7/A8).
  */
object Cli {

  final case class Args(
      files: Seq[String] = Nil,
      query: Option[String] = None,
      opts: DsqOptions = DsqOptions(),
      mimes: Map[Int, String] = Map.empty)

  val help: String =
    """dsq - commandline SQL engine for data files (Spark edition)
      |
      |Usage: dsq [file...] $query
      |       dsq $file [query]
      |
      |Flags:
      |  -p, --pretty            Pretty print results
      |  -s, --stdin TYPE        Read file from stdin with file type TYPE
      |  -c, --schema            Print schema instead of data
      |  -f, --file FILE         Read SQL from FILE
      |  -C, --cache             Cache imported data
      |  -D, --cache-file        Print the cache location and exit
      |  -i, --interactive       Start an interactive REPL
      |  -n, --convert-numbers   Detect and convert numeric-looking values
      |  -v, --version           Print version and exit
      |  -h, --help              Show this help
      |      --verbose           Verbose logging
      |      --no-sqlite-writer  (compat no-op)
      |""".stripMargin

  def parse(argv: Array[String],
      env: Map[String, String] = sys.env): Either[String, Args] = {
    var a = Args()
    var rest = List.empty[String]
    var i = 0
    // env defaults are case-insensitive "true" (reference main.go:343-345;
    // DSQ_NO_SQLITE_WRITER is honored for surface parity and, like the
    // flag, is a no-op in this engine — there is no sqlite writer)
    def envTrue(k: String) = env.get(k).exists(_.equalsIgnoreCase("true"))
    var opts = DsqOptions(
      cacheEnabled = envTrue("DSQ_CACHE"),
      convertNumbers = envTrue("DSQ_CONVERT_NUMBERS"),
      noSqliteWriter = envTrue("DSQ_NO_SQLITE_WRITER"))
    while (i < argv.length) {
      argv(i) match {
        case "-p" | "--pretty" => opts = opts.copy(pretty = true)
        case "-c" | "--schema" => opts = opts.copy(schema = true)
        case "-C" | "--cache" => opts = opts.copy(cacheEnabled = true)
        case "-D" | "--cache-file" => opts = opts.copy(dumpCacheFile = true)
        case "-i" | "--interactive" =>
          opts = opts.copy(interactive = true, pretty = true,
            cacheEnabled = true)
        case "-n" | "--convert-numbers" => opts = opts.copy(convertNumbers = true)
        case "--verbose" => opts = opts.copy(verbose = true)
        case "--no-sqlite-writer" => opts = opts.copy(noSqliteWriter = true)
        case "-v" | "--version" => return Left(s"dsq ${BuildInfo.version}")
        case "-h" | "--help" => return Left(help)
        case "-s" | "--stdin" =>
          if (i + 1 >= argv.length) return Left("Must specify stdin mimetype.")
          opts = opts.copy(stdinType = Some(argv(i + 1))); i += 1
        case "-f" | "--file" =>
          if (i + 1 >= argv.length) return Left("Must specify a SQL file.")
          opts = opts.copy(sqlFile = Some(argv(i + 1))); i += 1
        case other => rest = other :: rest
      }
      i += 1
    }
    rest = rest.reverse
    // query detection: last non-flag arg containing a space — only when
    // no -f file is given and there is more than one arg, so a single
    // space-containing file path stays a file (reference main.go:502-521).
    // The reference prepends the stdin temp file BEFORE this length
    // check (main.go:484-506), so with `-s type` a single remaining arg
    // is already the second file and stays query-eligible:
    // `cat f.csv | dsq -s csv "SELECT …"` runs the query, not a dump.
    val effectiveLen = rest.length + (if (opts.stdinType.isDefined) 1 else 0)
    val (files, query) =
      if (opts.sqlFile.isEmpty && effectiveLen > 1 && rest.nonEmpty &&
        rest.last.contains(" ")) (rest.init, Some(rest.last))
      else (rest, None)
    val sqlQuery = opts.sqlFile match {
      case Some(f) =>
        val path = Paths.get(f)
        if (!Files.exists(path)) return Left(s"SQL file does not exist: $f.")
        val content = new String(Files.readAllBytes(path), "UTF-8")
        if (content.trim.isEmpty) return Left("SQL file is empty.")
        Some(content)
      case None => query
    }
    Right(Args(files, sqlQuery, opts))
  }

  def buildSession(): SparkSession =
    graft.LocalSession(sys.env.getOrElse("DSQ_SPARK_MASTER", "local[*]"),
      sys.env.getOrElse("DSQ_SHUFFLE_PARTITIONS", "32"), "ERROR",
      "spark.app.name" -> "dsq")

  /** A buffered writer over `Console.out`. Each full buffer reaches the
    * stream as one `print`, so the stream's own charset encodes the text
    * exactly as a single `print` of all of it would.
    */
  private[dsq] def consoleWriter(): java.io.Writer = {
    val ps = Console.out
    new java.io.BufferedWriter(new java.io.Writer {
      def write(c: Array[Char], off: Int, len: Int): Unit =
        ps.print(new String(c, off, len))
      def flush(): Unit = ps.flush()
      def close(): Unit = ps.flush()
    }, 1 << 16)
  }

  /** What an unexpected failure prints: its message, or its class name
    * when it has none (an NPE would otherwise print "null").
    */
  private[dsq] def errorText(e: Throwable): String =
    Option(e.getMessage).filter(_.nonEmpty).getOrElse(e.getClass.getName)

  /** help and version are successful exits (reference main.go:369-373);
    * every other Left from parse is a usage error.
    */
  private[dsq] def exitCodeFor(msg: String): Int =
    if (msg == help || msg == s"dsq ${BuildInfo.version}") 0 else 1

  def main(argv: Array[String]): Unit = {
    parse(argv) match {
      case Left(msg) =>
        System.err.println(msg)
        sys.exit(exitCodeFor(msg))
      case Right(args) => sys.exit(run(args))
    }
  }

  def run(args: Args): Int = {
    var files = args.files
    var mimes: Seq[Option[String]] = files.map(_ => None)
    // the stdin copy lives as long as this run (or `-i` session) does
    var stdinCopy: Option[java.nio.file.Path] = None
    try {
      // stdin slurp (reference main.go:484-499). Resolve the type FIRST —
      // `-s` accepts both bare extensions and full MIME strings
      // (resolveContentType main.go:29-35), and a slash can't appear in a
      // temp-file suffix, so the tmp file carries the resolved key.
      args.opts.stdinType.foreach { t =>
        val mime = Readers.mimeOf(t).getOrElse(
          throw DsqError(s"Unknown mimetype: $t."))
        val tmp = Files.createTempFile("dsq-stdin", s".$mime")
        stdinCopy = Some(tmp)
        Files.copy(System.in, tmp, StandardCopyOption.REPLACE_EXISTING)
        files = tmp.toString +: files
        mimes = Some(mime) +: mimes
      }
      if (files.isEmpty) {
        System.err.println("No input files.")
        return 1
      }
      if (args.opts.dumpCacheFile) {
        println(ContentHashCache.dirFor(files, args.opts.convertNumbers))
        return 0
      }
      val engine = new Engine(buildSession())
      if (args.opts.interactive) return Repl.loop(engine, files, mimes, args.opts)
      val out = consoleWriter()
      try {
        engine.run(files, mimes, args.query, args.opts, out)
        out.write(System.lineSeparator())
      } finally out.flush()
      0
    } catch {
      case DsqError(msg) => System.err.println(msg); 1
      case e: Exception => System.err.println(errorText(e)); 1
    } finally stdinCopy.foreach(Files.deleteIfExists)
  }
}

/** REPL (reference main.go:268-326): jline3 line reader, history at
  * ~/dsq_history, keyword completion, `exit` → "bye".
  */
object Repl {
  def loop(engine: Engine, files: Seq[String], mimes: Seq[Option[String]],
      opts: DsqOptions): Int = {
    import org.jline.reader.{LineReaderBuilder, EndOfFileException, UserInterruptException}
    import org.jline.reader.impl.completer.StringsCompleter
    val reader = LineReaderBuilder.builder()
      .completer(new StringsCompleter(
        "SELECT", "FROM", "WHERE", "AND", "OR", "IN", "JOIN"))
      .variable(org.jline.reader.LineReader.HISTORY_FILE,
        Paths.get(sys.props.getOrElse("user.home", "."), "dsq_history"))
      // append each accepted line to the file as it is entered — the
      // reference's readline lib (chzyer/readline HistoryFile) persists
      // incrementally, so a killed session still keeps its history
      .option(org.jline.reader.LineReader.Option.HISTORY_INCREMENTAL, true)
      .build()
    while (true) {
      val line =
        try reader.readLine("dsq> ")
        catch {
          case _: EndOfFileException => return 0
          case _: UserInterruptException => return 0
        }
      val q = if (line == null) "" else line.trim
      if (q == "exit") { println("bye"); return 0 }
      if (q.nonEmpty) {
        try {
          val df = engine.runQuery(files, mimes, q, opts)
          val out = Cli.consoleWriter()
          Output.prettyTable(df, out)
          out.flush()
        } catch {
          case DsqError(msg) => System.err.println(msg)
          case e: Exception => System.err.println(Cli.errorText(e))
        } finally engine.releaseCaches()
      }
    }
    0
  }
}
