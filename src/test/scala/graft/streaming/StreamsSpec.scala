package graft.streaming

import org.apache.spark.sql.functions._

/** The shared file-stream replay behind the staged streaming gates. */
class StreamsSpec extends graft.dsq.SparkSpec {

  private val partsKey = "spark.sql.shuffle.partitions"

  /** Two single-file batches staged in a fresh dir: ids 10-12 in
    * `batch_b`, stamped OLDER than `batch_a`'s ids 0-2, so replay in
    * mtime order differs from name order.
    */
  private def staged(): String = {
    val dir = java.nio.file.Files.createTempDirectory("streams-spec").toString
    Streams.writeSingle(spark.range(0, 3).toDF("id"), dir, "batch_a")
    Streams.writeSingle(spark.range(10, 13).toDF("id"), dir, "batch_b")
    val now = System.currentTimeMillis()
    new java.io.File(dir, "batch_b.parquet").setLastModified(now - 60000L)
    new java.io.File(dir, "batch_a.parquet").setLastModified(now - 30000L)
    dir
  }

  /** Run `body` with the session's shuffle partitions at 7 (above the
    * stream bound of 4 for a tiny source), restoring the spec default.
    */
  private def withSessionParts(body: => Unit): Unit = {
    val prev = spark.conf.get(partsKey)
    spark.conf.set(partsKey, "7")
    try body finally spark.conf.set(partsKey, prev)
  }

  test("replay: one perBatch call per staged file, ids 0 and 1 in mtime " +
    "order, shuffle partitions bounded inside and restored after") {
    val dir = staged()
    withSessionParts {
      val seen = scala.collection.mutable.ArrayBuffer[(Long, Seq[Long], String)]()
      Streams.replay(spark, dir) { (batch, batchId) =>
        val ids = batch.select(col("id")).collect().map(_.getLong(0)).toSeq
        seen.synchronized {
          seen += ((batchId, ids.sorted, batch.sparkSession.conf.get(partsKey)))
        }
      }
      assert(seen.toSeq == Seq(
        (0L, Seq(10L, 11L, 12L), "4"),
        (1L, Seq(0L, 1L, 2L), "4")))
      assert(spark.conf.get(partsKey) == "7")
    }
    graft.Scratch.rmTree(new java.io.File(dir))
  }

  test("replay: a throwing perBatch reaches the caller and shuffle " +
    "partitions are restored") {
    val dir = staged()
    withSessionParts {
      val boom = new IllegalStateException("boom in perBatch")
      val e = intercept[Exception] {
        Streams.replay(spark, dir) { (_, _) => throw boom }
      }
      val causes = Iterator.iterate[Throwable](e)(_.getCause)
        .takeWhile(_ != null).toSeq
      assert(causes.contains(boom), s"boom not in the cause chain of $e")
      assert(spark.conf.get(partsKey) == "7")
    }
    graft.Scratch.rmTree(new java.io.File(dir))
  }
}
