package graftbench

import graft.dsq.{Cli, ContentHashCache, Dialect, DsqError, Engine, Flatten, Output}
import org.apache.spark.scheduler._
import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

/** Traced replay of one benchmark workload in a single JVM.
  *
  * It calls the same public functions the dsq CLI and REPL call, in the
  * order `Engine.runQuery` calls them, and records a span around each
  * call: session build, engine init, cache hash / read / write, ingest
  * read / flatten, dialect, analysis, physical planning and render.
  * A SparkListener registered here counts jobs, stages, tasks, task time
  * and bytes, snapshotted at every span boundary. Spans stay in memory
  * and are written out as JSON when the replay ends; `layers.py` turns
  * them into per-layer metrics.
  *
  * Usage: Trace <spec-file> <out-json> <render-dir>
  *
  * Spec lines: `render json|pretty`, `cache 0|1`, `file <path>`,
  * `warmup <query>`, `query <query>`. Warm-up queries run first and are
  * traced but flagged, so per-query figures can leave them out.
  */
object Trace {

  private val nano0 = System.nanoTime()
  private val epochNs0 = System.currentTimeMillis() * 1000000L
  private def now(): Long = epochNs0 + (System.nanoTime() - nano0)

  /** Counter order in every snapshot: the listener's counts, then the
    * bytes this process has read so far.
    */
  val counterNames: Seq[String] = Seq("jobs", "stages", "tasks", "task_ns",
    "task_cpu_ns", "input_bytes", "shuffle_bytes", "read_bytes")

  final class Counts extends SparkListener {
    val c: Array[AtomicLong] = Array.fill(counterNames.length - 1)(new AtomicLong)
    private val starts = new java.util.concurrent.ConcurrentHashMap[Int, Long]
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long)]

    override def onJobStart(e: SparkListenerJobStart): Unit = {
      c(0).incrementAndGet(); starts.put(e.jobId, e.time)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(starts.remove(e.jobId)).foreach(s => jobs.add((s, e.time)))
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      c(1).incrementAndGet()
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      c(2).incrementAndGet()
      val m = e.taskMetrics
      if (m != null) {
        c(3).addAndGet(m.executorRunTime * 1000000L)
        c(4).addAndGet(m.executorCpuTime)
        c(5).addAndGet(m.inputMetrics.bytesRead)
        c(6).addAndGet(m.shuffleWriteMetrics.bytesWritten)
      }
    }
    def snapshot(): Array[Long] = c.map(_.get)
  }

  final case class Span(id: Int, parent: Int, op: Int, var name: String,
      start: Long, c0: Array[Long], var end: Long = 0L,
      var c1: Array[Long] = Array.empty)

  private val spans = ArrayBuffer.empty[Span]
  private var stack = List(-1)
  private var counts: Counts = _
  private var drain: () => Unit = () => ()

  private val procIo = Paths.get("/proc/self/io")

  /** Bytes read through read(2) by any thread of this process (`rchar`
    * of /proc/self/io, page-cache hits included); 0 where the kernel
    * does not provide it.
    */
  private def readBytes(): Long =
    try {
      Files.readAllLines(procIo).asScala.collectFirst {
        case l if l.startsWith("rchar:") => l.substring(6).trim.toLong
      }.getOrElse(0L)
    } catch { case _: java.io.IOException => 0L }

  private def snap(): Array[Long] = {
    drain()
    val listened =
      if (counts == null) Array.fill(counterNames.length - 1)(0L) else counts.snapshot()
    listened :+ readBytes()
  }

  /** Time `body` as span `name` under the innermost open span. */
  def span[T](name: String, op: Int)(body: => T): T = {
    val s = Span(spans.length, stack.head, op, name, now(), snap())
    spans += s
    stack = s.id :: stack
    try body
    finally {
      stack = stack.tail
      s.c1 = snap(); s.end = now()
    }
  }

  private def lastSpanNamed(name: String): Span =
    spans.findLast(_.name == name).get

  def main(argv: Array[String]): Unit = {
    val mainAt = System.currentTimeMillis()
    val spec = Files.readAllLines(Paths.get(argv(0)), UTF_8).asScala.toSeq
    val out = Paths.get(argv(1))
    val renderDir = Paths.get(argv(2))
    def values(key: String) =
      spec.filter(_.startsWith(key + " ")).map(_.substring(key.length + 1))
    val files = values("file")
    val cacheOn = values("cache").headOption.contains("1")
    val pretty = values("render").headOption.contains("pretty")
    val queries = values("warmup").map(q => (q, true)) ++
      values("query").map(q => (q, false))

    val spark = span("session.build", -1)(Cli.buildSession())
    counts = new Counts
    spark.sparkContext.addSparkListener(counts)
    drain = () => org.apache.spark.GraftBenchBus.drain(spark.sparkContext)
    val engine = span("engine.init", -1)(new Engine(spark))

    val ops = ArrayBuffer.empty[String]
    queries.zipWithIndex.foreach { case ((q, warm), op) =>
      val rendered = span("op", op) {
        // Engine.runQuery, call by call, for bare `{N}` references
        val (macroReplaced, refs) =
          span("dialect", op)(Dialect.extractTableRefs(q))
        if (refs.exists(_.path.isDefined))
          throw DsqError("path-addressed tables are not replayed")
        val cache = new ContentHashCache(spark, files, cacheOn)
        if (cacheOn) span("cache.hash", op)(cache.cacheDir)
        var columns = Set.empty[String]
        val used = refs.map(_.index).toSet
        files.indices.filter(i => used.contains(i) || refs.isEmpty).foreach { i =>
          val df = span("cache.get", op) {
            val (df, status) = cache.getOrIngestStatus(s"t_$i", () => {
              val raw = span("ingest.read", op)(engine.readRaw(files(i), None))
              span("ingest.flatten", op)(Flatten(raw))
            })
            lastSpanNamed("cache.get").name = status match {
              case Some(true) => "cache.read"
              case Some(false) => "cache.write"
              case None => "cache.off"
            }
            df
          }
          df.createOrReplaceTempView(s"t_$i")
          columns ++= df.schema.fieldNames
        }
        val (translated, labels) = span("dialect", op)(
          (Dialect.translate(macroReplaced, columns),
            Dialect.outputLabels(macroReplaced)))
        val df = span("plan.analyze", op) {
          val d = spark.sql(translated)
          labels match {
            case Some(l) if l.length == d.schema.length => d.toDF(l: _*)
            case _ => d
          }
        }
        span("plan.physical", op)(df.queryExecution.executedPlan)
        span("render", op) {
          val sb = new java.lang.StringBuilder
          if (pretty) Output.prettyTable(df, sb) else Output.json(df, sb)
          sb.toString
        }
      }
      engine.releaseCaches()
      val file = renderDir.resolve(s"op$op.out")
      Files.write(file, rendered.getBytes(UTF_8))
      ops += s"""{"op":$op,"warmup":$warm,"out":${str(file.toString)}}"""
    }

    val rt = ManagementFactory.getRuntimeMXBean
    val heapPeak = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map(_.getPeakUsage.getUsed).sum
    val cpuNs = ManagementFactory.getOperatingSystemMXBean match {
      case os: com.sun.management.OperatingSystemMXBean => os.getProcessCpuTime
      case _ => -1L
    }
    val jvm = Seq(
      "start_ms" -> rt.getStartTime,
      "main_ms" -> mainAt,
      "classes_loaded" -> ManagementFactory.getClassLoadingMXBean.getTotalLoadedClassCount,
      "jit_ms" -> ManagementFactory.getCompilationMXBean.getTotalCompilationTime,
      "gc_ms" -> ManagementFactory.getGarbageCollectorMXBeans.asScala
        .map(_.getCollectionTime).sum,
      "cpu_ns" -> cpuNs,
      "heap_peak_bytes" -> heapPeak)
    val spanJson = spans.map { s =>
      s"""{"id":${s.id},"parent":${s.parent},"op":${s.op},"name":${str(s.name)},""" +
        s""""start_ns":${s.start},"end_ns":${s.end},""" +
        s""""c0":${s.c0.mkString("[", ",", "]")},"c1":${s.c1.mkString("[", ",", "]")}}"""
    }
    val jobJson = counts.jobs.asScala.toSeq.sortBy(_._1)
      .map { case (s, e) => s"[$s,$e]" }
    val json =
      s"""{"counters":${counterNames.map(str).mkString("[", ",", "]")},""" +
        s""""jvm":{${jvm.map { case (k, v) => s"${str(k)}:$v" }.mkString(",")}},""" +
        s""""ops":${ops.mkString("[", ",", "]")},""" +
        s""""jobs_ms":${jobJson.mkString("[", ",", "]")},""" +
        s""""spans":${spanJson.mkString("[\n", ",\n", "]")}}"""
    Files.write(out, json.getBytes(UTF_8))
    spark.stop()
  }

  private def str(s: String): String = Output.renderString(s)
}
