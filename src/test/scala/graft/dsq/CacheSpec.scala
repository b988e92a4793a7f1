package graft.dsq

import java.nio.file.{Files, Path}
import java.nio.file.attribute.FileTime
import java.util.concurrent.{CyclicBarrier, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._

import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import graft.Scratch

/** The `-C` cache across queries: one memo per [[Engine]], views
  * published by rename with their schema, so a hit runs no Spark job.
  */
class CacheSpec extends SparkSpec {

  private val cached = DsqOptions(cacheEnabled = true)

  // every cache dir a test made, removed when the suite ends: their
  // content-hash names never recur, so nothing else would remove them
  private val made = scala.collection.mutable.Set.empty[Path]

  override def afterAll(): Unit = {
    made.foreach(d => Scratch.rmTree(d.toFile))
    super.afterAll()
  }

  /** `body`'s result and the Spark jobs started while it ran. */
  private def jobsDuring[T](body: => T): (T, Int) = {
    val jobs = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    ListenerBusDrain(spark.sparkContext)
    spark.sparkContext.addSparkListener(listener)
    try {
      val out = body
      ListenerBusDrain(spark.sparkContext)
      (out, jobs.get)
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  /** A CSV of `body` plus a row `0,<random>`, so that no earlier run
    * has cached its content: the cache dir is keyed by content and
    * outlives the JVM.
    */
  private def freshCsv(body: String): Path = {
    val f = Files.createTempFile("cache-spec", ".csv")
    f.toFile.deleteOnExit()
    Files.writeString(f, s"a,b\n$body\n0,${java.util.UUID.randomUUID()}\n")
    cacheDirOf(f)
    f
  }

  private def answer(e: Engine, f: Path): String = {
    cacheDirOf(f) // a rewritten input has a new one
    val df = e.runQuery(Seq(f.toString), Seq(None),
      "SELECT COUNT(*) AS n, SUM(CAST(a AS INT)) AS s FROM {}", cached)
    val sb = new java.lang.StringBuilder
    Output.json(df, sb)
    try canonJson(sb.toString) finally e.releaseCaches()
  }

  private def expect(n: Int, s: Int) = canonJson(s"""[{"n":$n,"s":$s}]""")

  private def cacheDirOf(f: Path): Path = {
    val dir = ContentHashCache.dirFor(Seq(f.toString), convertNumbers = false)
    made += dir
    dir
  }

  test("a repeat -C query runs no Spark job before the query's own jobs") {
    val f = freshCsv("1,x\n2,y\n3,z")
    val e = new Engine(spark)
    val (_, firstJobs) = jobsDuring(e.runQuery(Seq(f.toString), Seq(None),
      "SELECT * FROM {}", cached))
    assert(firstJobs > 0, "the first query should write the view")
    val (df, jobs) = jobsDuring(e.runQuery(Seq(f.toString), Seq(None),
      "SELECT COUNT(*) AS n FROM {}", cached))
    assert(jobs == 0, s"$jobs Spark jobs ran inside runQuery on a repeat")
    assert(df.collect().head.getLong(0) == 4L)
  }

  test("a first hit in a fresh Engine runs no Spark job: the view's schema is recorded") {
    val f = freshCsv("1,x\n2,y")
    assert(answer(new Engine(spark), f) == expect(3, 3))
    val fresh = new Engine(spark)
    val (df, jobs) = jobsDuring(fresh.runQuery(Seq(f.toString), Seq(None),
      "SELECT a FROM {} ORDER BY a", cached))
    assert(jobs == 0, s"$jobs Spark jobs ran inside runQuery on a first hit")
    assert(df.collect().map(_.getString(0)).toSeq == Seq("0", "1", "2"))
  }

  test("rewriting an input between queries, with a new size or mtime, gives the new answer") {
    val f = freshCsv("1,x")
    val e = new Engine(spark)
    assert(answer(e, f) == expect(2, 1))
    // a new size
    Files.writeString(f, Files.readString(f) + "5,y\n")
    assert(answer(e, f) == expect(3, 6))
    // the same size, a new mtime
    val before = Files.getLastModifiedTime(f).toMillis
    Files.writeString(f, Files.readString(f).replace("5,y", "6,y"))
    Files.setLastModifiedTime(f, FileTime.fromMillis(before + 10000))
    assert(answer(e, f) == expect(3, 7))
  }

  test("the memo keeps an input's hash while its stamp holds, and a view's frame") {
    val f = freshCsv("1,x")
    val memo = new ContentHashCache.Memo
    def cache() = new ContentHashCache(spark, Seq(f.toString), enabled = true,
      memo = memo)
    val first = cache()
    val df = first.getOrIngest("t_0",
      () => Flatten(Readers.csv(spark, f.toString, ",")))
    assert(cache().getOrIngest("t_0",
      () => fail("a published view was ingested again")) eq df)
    // same size, mtime and file: the content is not read again
    val stamp = Files.getLastModifiedTime(f)
    Files.writeString(f, Files.readString(f).replace("1,x", "2,x"))
    Files.setLastModifiedTime(f, stamp)
    assert(cache().cacheDir == first.cacheDir)
    Files.setLastModifiedTime(f, FileTime.fromMillis(stamp.toMillis + 10000))
    assert(cacheDirOf(f) != first.cacheDir && cache().cacheDir == cacheDirOf(f))
  }

  test("deleting the cache dir between queries re-ingests and answers correctly") {
    val f = freshCsv("4,x")
    val e = new Engine(spark)
    assert(answer(e, f) == expect(2, 4))
    val dir = cacheDirOf(f)
    assert(Files.exists(dir.resolve("t_0/_SUCCESS")))
    Scratch.rmTree(dir.toFile)
    assert(answer(e, f) == expect(2, 4))
    assert(Files.exists(dir.resolve("t_0/_SUCCESS")))
  }

  test("a published view holds its parquet, _SUCCESS and schema, and reads back the inferred schema") {
    import spark.implicits._
    val f = freshCsv("1,x")
    val dir = cacheDirOf(f)
    val df = Seq((1L, 2.5, "s", true, Seq(1, 2))).toDF("l", "d", "s", "b", "arr")
    val flat = Flatten(df.withColumn("o", org.apache.spark.sql.functions
      .struct($"l".as("x"), $"s".as("y"))))
    val hit = new ContentHashCache(spark, Seq(f.toString), enabled = true)
    hit.getOrIngest("t_0", () => flat)
    val again = new ContentHashCache(spark, Seq(f.toString), enabled = true)
      .getOrIngestStatus("t_0", () => fail("a published view was ingested again"))
    assert(again._2 == Some(true))
    assert(again._1.schema == spark.read.parquet(dir.resolve("t_0").toString).schema)
    assert(again._1.collect().toSeq == flat.collect().toSeq)
    val names = dir.resolve("t_0").toFile.list().toSet
    assert(names.contains("_SUCCESS") && names.contains(ContentHashCache.SchemaFile))
    assert(dir.toFile.list().toSeq == Seq("t_0"))
  }

  test("a view dir without its schema (an older writer's) is ingested again") {
    val f = freshCsv("7,x")
    val view = cacheDirOf(f).resolve("t_0")
    assert(answer(new Engine(spark), f) == expect(2, 7))
    Files.delete(view.resolve(ContentHashCache.SchemaFile))
    assert(answer(new Engine(spark), f) == expect(2, 7))
    assert(Files.exists(view.resolve(ContentHashCache.SchemaFile)))
  }

  test("two concurrent -C ingests of one file both give the sequential result and leave no staging dir") {
    val f = freshCsv("1,x\n2,y\n3,z")
    val sequential = Readers.csv(spark, f.toString, ",").collect().toSet
    // both ingests start only when both have missed, so both write
    val bothMissed = new CyclicBarrier(2)
    val pool = Executors.newFixedThreadPool(2)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutorService(pool)
    try {
      val runs = (0 until 2).map { _ =>
        Future {
          new ContentHashCache(spark, Seq(f.toString), enabled = true)
            .getOrIngestStatus("t_0", () => {
              bothMissed.await(60, TimeUnit.SECONDS)
              Flatten(Readers.csv(spark, f.toString, ","))
            })
        }
      }
      val results = runs.map(Await.result(_, 2.minutes))
      assert(results.map(_._2) == Seq(Some(false), Some(false)))
      results.foreach(r => assert(r._1.collect().toSet == sequential))
    } finally pool.shutdownNow()
    assert(cacheDirOf(f).toFile.list().toSeq == Seq("t_0"),
      "a staging dir was left beside the view")
  }
}
