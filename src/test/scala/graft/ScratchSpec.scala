package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.{CyclicBarrier, Executors}
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._

import org.apache.hadoop.fs.{Path => HPath}
import org.apache.spark.sql.functions._
import graft.dsq.SparkSpec
import graft.pipeline.Dedup
import graft.streaming.Streams

/** One scratch scope per run: what a scope hands out, where its
  * barriers land, what is left after it closes, and the footer probe
  * behind the barrier readers.
  */
class ScratchSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  private def exists(p: HPath): Boolean = Files.exists(Paths.get(p.toUri))

  test("two threads, each in its own scope, run s09, x22 and p25 at " +
    "once and both get the sequential rows") {
    val gates = Seq("s09_stream_index_append", "x22_incremental_scan",
      "p25_dedup_components")
    def rows(): Seq[Seq[String]] = Scratch.scoped(spark) {
      gates.map(g => SparkEntry.queries(g)(spark, sf).collect()
        .map(_.toString).toSeq.sorted)
    }
    val want = rows()
    assert(want.forall(_.nonEmpty))
    val pool = Executors.newFixedThreadPool(2)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    val start = new CyclicBarrier(2)
    try {
      val runs = Seq.fill(2)(Future { start.await(); rows() })
      runs.foreach(r => assert(Await.result(r, 15.minutes) == want))
    } finally pool.shutdown()
  }

  test("a throwing body: the exception reaches the caller and nothing " +
    "of the scope is left on disk") {
    val boom = new IllegalStateException("boom in scope")
    var scope: Scratch.Scope = null
    var barrier: HPath = null
    val e = intercept[IllegalStateException] {
      Scratch.scoped(spark) {
        scope = Scratch.current(spark)
        // the first of `dirs` is made empty, the side dir stays absent
        val Seq(src, side) = Scratch.dirs(spark, "src", "side")
        assert(Files.isDirectory(Paths.get(src)))
        assert(!Files.exists(Paths.get(side)))
        spark.range(3).write.parquet(side)
        barrier = Dedup.materializeBarrierAt(spark.range(3).toDF("id"),
          "boom")._2
        assert(Files.exists(Paths.get(side)) && exists(barrier))
        throw boom
      }
    }
    assert(e eq boom)
    assert(!Files.exists(scope.root), s"scope root left: ${scope.root}")
    assert(!exists(barrier), s"barrier left: $barrier")
    assert(scope.barrierDirs.isEmpty)
    assert(Scratch.current(spark) ne scope)
  }

  test("a barrier written inside a Streams.replay perBatch body lands " +
    "in the caller's scope") {
    val made = scala.collection.mutable.ArrayBuffer[HPath]()
    Scratch.scoped(spark) {
      val scope = Scratch.current(spark)
      val Seq(src) = Scratch.dirs(spark, "replay_src")
      Streams.writeSingle(spark.range(0, 3).toDF("id"), src, "batch_a")
      Streams.writeSingle(spark.range(3, 6).toDF("id"), src, "batch_b")
      Streams.replay(spark, src) { (batch, _) =>
        val dir = Dedup.materializeBarrierAt(batch, "in-batch")._2
        made.synchronized { made += dir }
      }
      assert(made.size == 2)
      assert(made.forall(scope.barrierDirs.contains),
        s"perBatch barriers outside the caller's scope: $made")
      assert(made.forall(exists))
    }
    assert(!made.exists(exists), s"barriers left after close: $made")
  }

  test("the footer probe matches Spark's count/min/max on a multi-file " +
    "barrier, an empty barrier and an all-null column") {
    Scratch.scoped(spark) {
      val df = spark.range(0, 1000).select(col("id"),
        (col("id") * 7 % 101 - 50).as("v"),
        lit(null).cast("long").as("nul")).repartition(4)
      val (b, dir) = Dedup.materializeBarrierAt(df, "probe")
      assert(Dedup.parquetFooters(spark, dir)(_ => ()).size > 1,
        "barrier is not multi-file")
      val s = b.agg(count(lit(1)), min("v"), max("v"), max("nul")).head()
      assert(Dedup.barrierRowCount(spark, dir) == s.getLong(0))
      assert(Dedup.barrierColumnMinMaxLong(spark, dir, "v") ==
        Some((s.getLong(1), s.getLong(2))))
      assert(Dedup.barrierColumnMaxLong(spark, dir, "v") == Some(s.getLong(2)))
      // all null: Spark's max is null; min/max says None, max says
      // "every row group null" as Long.MinValue
      assert(s.isNullAt(3))
      assert(Dedup.barrierColumnMinMaxLong(spark, dir, "nul").isEmpty)
      assert(Dedup.barrierColumnMaxLong(spark, dir, "nul") ==
        Some(Long.MinValue))
      // empty: no row group at all
      val (e, edir) = Dedup.materializeBarrierAt(df.limit(0), "probe-empty")
      val es = e.agg(count(lit(1)), max("v")).head()
      assert(es.getLong(0) == 0L && es.isNullAt(1))
      assert(Dedup.barrierRowCount(spark, edir) == 0L)
      assert(Dedup.barrierColumnMinMaxLong(spark, edir, "v").isEmpty)
      assert(Dedup.barrierColumnMaxLong(spark, edir, "v").isEmpty)
    }
  }
}
