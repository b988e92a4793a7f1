package graft.dsq

import graft.Scratch
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.{DataType, StructType}
import java.nio.file.{Files, Paths}
import java.nio.file.attribute.{BasicFileAttributes, FileTime}
import scala.collection.mutable

/** Options mirroring the reference CLI surface (main.go:341-432, §2.6 A7). */
final case class DsqOptions(
    pretty: Boolean = false,
    schema: Boolean = false,
    convertNumbers: Boolean = false,
    cacheEnabled: Boolean = false,
    stdinType: Option[String] = None,
    sqlFile: Option[String] = None,
    dumpCacheFile: Boolean = false,
    interactive: Boolean = false,
    verbose: Boolean = false,
    // accepted via --no-sqlite-writer AND DSQ_NO_SQLITE_WRITER env
    // (main.go:344); a no-op here — there is no sqlite fast-path writer
    noSqliteWriter: Boolean = false)

/** The dsq-compatible engine: files → readers → flatten → temp views
  * `t_N` → dialect-translated `spark.sql` → renderers. (Reference query
  * lifecycle §3; ours swaps SQLite for Catalyst.)
  */
final class Engine(val spark: SparkSession) {

  // frames persisted for the verbose row count (cache-disabled path):
  // the SAME cached scan feeds the query, then must be RELEASED once
  // the run has rendered — a one-shot CLI would not care, but a REPL or
  // a shared test session must not accumulate block-manager entries
  private val persistedForRun =
    scala.collection.mutable.Buffer.empty[org.apache.spark.sql.DataFrame]

  /** Unpersist everything cached for the last run's verbose counts. */
  def releaseCaches(): Unit = {
    persistedForRun.foreach(_.unpersist(blocking = false))
    persistedForRun.clear()
  }

  // the -C cache's hashes and resolved views, kept for this engine's
  // lifetime so a REPL query re-hashes and re-resolves no input
  private val cacheMemo = new ContentHashCache.Memo
  Stdlib.register(spark)
  // the native pipeline expressions as SQL functions (graft_cosine,
  // graft_simhash, …) — the CLI's SQL surface gets the same codegen'd
  // hot paths the library API uses
  org.apache.spark.sql.graft.GraftExtensions.registerAll(spark)
  // dsq runs the forgiving SQLite affinity model — ANSI off for this
  // session so string/number coercions behave dynamically (main driver
  // sessions keep their own setting).
  spark.conf.set("spark.sql.ansi.enabled", "false")

  /** Ingest one file (with optional explicit mime), returning the RAW
    * parsed frame (pre-flatten). */
  def readRaw(path: String, mimeOverride: Option[String]): DataFrame = {
    val mime = mimeOverride
      .orElse(Readers.mimeOf(Readers.extensionOf(path)))
      .getOrElse(throw DsqError(
        s"Unknown mimetype for file: $path."))
    Readers.read(spark, path, mime)
  }

  /** Ingest + flatten + optional convert-numbers. */
  def readTable(path: String, mimeOverride: Option[String],
      convertNumbers: Boolean): DataFrame = {
    val flat = Flatten(readRaw(path, mimeOverride))
    if (convertNumbers) Flatten.convertNumbers(flat) else flat
  }

  /** `--verbose` per-file ingest progress on stderr (the reference sets
    * runner.Verbose, main.go:353-355, and the runner logs each file as it
    * transforms it, row-counted). The row count never costs a second
    * source scan: a cache-backed frame (hit OR fresh write) counts from
    * parquet footers, and an uncached frame is persisted so the counting
    * scan is the SAME scan the query then reuses. A content-hash cache
    * hit is reported as "Cache hit", not "Ingested" — nothing was
    * re-parsed.
    */
  private def ingestLogged(opts: DsqOptions, path: String,
      mimeOverride: Option[String], view: String,
      cache: ContentHashCache)(ingest: () => DataFrame): DataFrame = {
    if (!opts.verbose) return cache.getOrIngest(view, ingest)
    val mime = mimeOverride
      .orElse(Readers.mimeOf(Readers.extensionOf(path))).getOrElse("?")
    val t0 = System.nanoTime()
    val (df0, status) = cache.getOrIngestStatus(view, ingest)
    val (df, rows) = status match {
      case None =>
        val p = df0.persist()
        persistedForRun += p // released after the run renders
        (p, p.count())
      case Some(_) => (df0, df0.count()) // parquet footer count
    }
    val secs = (System.nanoTime() - t0) / 1e9
    val line = status match {
      case Some(true) =>
        f"Cache hit for $path as $mime: $rows rows in $secs%.3fs."
      case _ => f"Ingested $path as $mime: $rows rows in $secs%.3fs."
    }
    System.err.println(line)
    df
  }

  /** Register `files` as views t_0..t_n (plus any path-addressed
    * sub-tables the query references) and run the translated query.
    */
  def runQuery(files: Seq[String], mimes: Seq[Option[String]],
      query: String, opts: DsqOptions): DataFrame = {
    val (macroReplaced, refs) = Dialect.extractTableRefs(query)
    val cache = new ContentHashCache(spark, files, opts.cacheEnabled,
      opts.convertNumbers, cacheMemo)

    var allColumns = Set.empty[String]
    refs.foreach { r =>
      if (r.index >= files.length) throw DsqError(s"No such table: {${r.index}}.")
    }
    // base tables: only files referenced without a path (a path-only file
    // may be a top-level JSON object, not an array of objects)
    val bareIdx = refs.filter(_.path.isEmpty).map(_.index).toSet
    files.indices.filter(i => bareIdx.contains(i) || refs.isEmpty).foreach { i =>
      val df = ingestLogged(opts, files(i), mimes.lift(i).flatten, s"t_$i", cache)(
        () => readTable(files(i), mimes.lift(i).flatten, opts.convertNumbers))
      df.createOrReplaceTempView(s"t_$i")
      allColumns ++= df.schema.fieldNames
    }
    // path-addressed sub-tables: JSON object path, or sheet name for
    // spreadsheet formats (reference README.md:286-298)
    refs.filter(_.path.isDefined).foreach { r =>
      val file = files(r.index)
      val mime = mimes.lift(r.index).flatten
        .orElse(Readers.mimeOf(Readers.extensionOf(file)))
      val df0 = ingestLogged(opts, file, mime, Dialect.viewName(r), cache)(() => {
        val raw = mime match {
          case Some("xlsx") => Excel.readXlsx(spark, file, sheet = r.path)
          case Some("ods") => Excel.readOds(spark, file, sheet = r.path)
          case Some("json") | None => Readers.jsonPath(spark, file, r.path.get)
          case Some(other) => throw DsqError(
            s"Path addressing is not supported for $other files.")
        }
        val flat = Flatten(raw)
        if (opts.convertNumbers) Flatten.convertNumbers(flat) else flat
      })
      df0.createOrReplaceTempView(Dialect.viewName(r))
      allColumns ++= df0.schema.fieldNames
    }

    val translated = Dialect.translate(macroReplaced, allColumns)
    var out = spark.sql(translated)
    // verbatim SQLite-style output labels (e.g. "COUNT(*)")
    Dialect.outputLabels(macroReplaced) match {
      case Some(labels) if labels.length == out.schema.length =>
        out = out.toDF(labels: _*)
      case _ =>
    }
    out
  }

  /** No-query passthrough (reference justDumpResults main.go:579,661-665):
    * dump the FIRST file as JSON/pretty/schema into `out`. */
  def dumpFile(file: String, mime: Option[String], opts: DsqOptions,
      out: Appendable): Unit = {
    if (opts.schema) {
      val resolved = mime.orElse(Readers.mimeOf(Readers.extensionOf(file)))
      // Avro carries a declared schema with unions; Spark's JSON-inference
      // path erases them, so shape avro files from the container schema
      // (renders "Varied of …" like the reference). JSON-family files go
      // through the 100-row sampled vote so mixed-type columns render
      // Varied instead of Spark's coerced union type.
      val shape = resolved match {
        case Some("avro") => Shape.ofAvroFile(file)
        case Some(m @ ("json" | "jsonl" | "cjson" | "yaml")) =>
          Shape.ofJsonFileSampled(file, m)
        case _ => Shape.ofTable(readRaw(file, mime).schema)
      }
      if (opts.pretty) out.append(Shape.toPretty(shape))
      else out.append(Shape.toJson(shape))
    } else {
      val flat = readTable(file, mime, opts.convertNumbers)
      if (opts.pretty) Output.prettyTable(flat, out)
      else Output.json(flat, out)
    }
  }

  /** Full one-shot run, rendered into `out` as the rows arrive. */
  def run(files: Seq[String], mimes: Seq[Option[String]],
      queryOpt: Option[String], opts: DsqOptions, out: Appendable): Unit =
    queryOpt match {
      case Some(q) if !opts.schema =>
        try {
          val df = runQuery(files, mimes, q, opts)
          if (opts.pretty) Output.prettyTable(df, out) else Output.json(df, out)
        } finally releaseCaches()
      case _ => dumpFile(files.head, mimes.headOption.flatten, opts, out)
    }

  /** [[run]] into a string. */
  def run(files: Seq[String], mimes: Seq[Option[String]],
      queryOpt: Option[String], opts: DsqOptions): String = {
    val sb = new java.lang.StringBuilder
    run(files, mimes, queryOpt, opts, sb)
    sb.toString
  }
}

/** Ingest cache keyed by SHA-1 of all file contents (reference
  * main.go:184-206,526-568; README caching): flattened tables
  * materialize as parquet under $TMPDIR/dsqspark-cache-<sha1>/<view>;
  * a hit re-reads columnar parquet instead of re-parsing the source —
  * the same ~13× cold/warm gap the reference exploits, but columnar.
  *
  * A view is written into a staging dir inside the cache dir together
  * with its schema ([[ContentHashCache.SchemaFile]]), then renamed onto
  * `<view>` in one step, so a reader never sees a half-written view and
  * two writers of one view both end up reading the one that won. A hit
  * reads the parquet with that schema, so it runs no Spark job.
  *
  * `memo` carries resolved state across instances: the REPL makes one
  * instance per query but one memo per [[Engine]], so an unchanged input
  * is neither re-hashed nor re-resolved.
  */
final class ContentHashCache(spark: SparkSession, files: Seq[String],
    enabled: Boolean, convertNumbers: Boolean = false,
    memo: ContentHashCache.Memo = new ContentHashCache.Memo) {

  lazy val cacheDir: java.nio.file.Path = memo.dirFor(files, convertNumbers)

  private var warnedInvalid = false

  def getOrIngest(view: String, ingest: () => DataFrame): DataFrame =
    getOrIngestStatus(view, ingest)._1

  /** As [[getOrIngest]], plus how the frame was produced: None = cache
    * disabled (raw ingest plan), Some(true) = content-hash hit (parquet
    * re-read, nothing parsed), Some(false) = ingested and written.
    */
  def getOrIngestStatus(view: String,
      ingest: () => DataFrame): (DataFrame, Option[Boolean]) = {
    if (!enabled) return (ingest(), None)
    val target = cacheDir.resolve(view)
    if (ContentHashCache.published(target)) {
      (memo.frame(target, ContentHashCache.readView(spark, target)), Some(true))
    } else {
      if (!warnedInvalid) {
        System.err.println("Cache invalid, re-import required.")
        warnedInvalid = true
      }
      memo.drop(target)
      ContentHashCache.publish(ingest(), target)
      (memo.frame(target, ContentHashCache.readView(spark, target)), Some(false))
    }
  }
}

object ContentHashCache {

  /** The flattened schema (`StructType.json`) beside a view's parquet.
    * Spark's file listing skips `_`-prefixed names.
    */
  val SchemaFile = "_schema.json"

  /** `$TMPDIR/dsqspark-cache-<sha1 of all file contents>`, suffixed
    * `-n` under `-n`: option flags that change ingestion output are part
    * of the key. `dsq -D` prints this without building a session.
    */
  def dirFor(files: Seq[String],
      convertNumbers: Boolean): java.nio.file.Path = {
    val md = java.security.MessageDigest.getInstance("SHA-1")
    files.foreach { f =>
      val in = new java.io.BufferedInputStream(new java.io.FileInputStream(f))
      try {
        val buf = new Array[Byte](1 << 16)
        var n = in.read(buf)
        while (n > 0) { md.update(buf, 0, n); n = in.read(buf) }
      } finally in.close()
    }
    val hash = md.digest().map("%02x".format(_)).mkString
    val suffix = if (convertNumbers) "-n" else ""
    Paths.get(sys.props.getOrElse("java.io.tmpdir", "/tmp"),
      s"dsqspark-cache-$hash$suffix")
  }

  /** Whether the view dir `target` is complete: Spark's `_SUCCESS` and
    * the schema are both there. A dir without the schema was written by
    * an older, in-place writer and is ingested again.
    */
  private def published(target: java.nio.file.Path): Boolean =
    Files.exists(target.resolve("_SUCCESS")) &&
      Files.exists(target.resolve(SchemaFile))

  /** A published view, read with its recorded schema: no Spark job. */
  private def readView(spark: SparkSession,
      target: java.nio.file.Path): DataFrame = {
    val schema = DataType.fromJson(Files.readString(target.resolve(SchemaFile)))
    spark.read.schema(schema.asInstanceOf[StructType]).parquet(target.toString)
  }

  /** Publish `df` and its schema at `target` ([[graft.Scratch.publish]]:
    * staging dir + atomic rename; a racing writer's view is kept).
    */
  private def publish(df: DataFrame, target: java.nio.file.Path): Unit =
    Scratch.publish(target, published) { staging =>
      df.write.parquet(staging.toString)
      Files.writeString(staging.resolve(SchemaFile), df.schema.json)
    }

  /** What a REPL session keeps between queries. Each input list's cache
    * dir is re-hashed only when a file's path, size, mtime or file key
    * changed; each view dir's frame is resolved once, and dropped when
    * the view has gone and is written again. Not thread-safe, like
    * [[Engine]].
    */
  final class Memo {
    private type Stamp = (Long, FileTime, AnyRef)
    private val dirs = mutable.Map.empty[(Seq[String], Boolean),
      (Seq[Stamp], java.nio.file.Path)]
    private val frames = mutable.Map.empty[java.nio.file.Path, DataFrame]

    def dirFor(files: Seq[String],
        convertNumbers: Boolean): java.nio.file.Path = {
      val paths = files.map(f => Paths.get(f).toAbsolutePath.toString)
      val stamps = paths.map { p =>
        val a = Files.readAttributes(Paths.get(p), classOf[BasicFileAttributes])
        (a.size, a.lastModifiedTime, a.fileKey): Stamp
      }
      dirs.get((paths, convertNumbers)) match {
        case Some((seen, dir)) if seen == stamps => dir
        case old =>
          // the views of the content this list used to have are dead now
          old.foreach { case (_, gone) =>
            frames.filterInPlace((view, _) => !view.startsWith(gone))
          }
          val dir = ContentHashCache.dirFor(files, convertNumbers)
          dirs((paths, convertNumbers)) = (stamps, dir)
          dir
      }
    }

    /** The frame resolved for the published view `target`. */
    def frame(target: java.nio.file.Path, resolve: => DataFrame): DataFrame =
      frames.getOrElseUpdate(target, resolve)

    /** Forget `target`'s frame: its view is gone and is written again. */
    def drop(target: java.nio.file.Path): Unit = frames.remove(target)
  }
}
