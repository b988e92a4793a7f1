package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import graft.Scratch.rmTree

/** Mutable per-user state for the flatMapGroupsWithState operator
  * (top-level so Spark can derive a Product encoder). */
final case class UserState(n: Long, sumCents: Long, maxCents: Long)

/** Structured Streaming operators over the events table (extension tier —
  * the reference has no streaming, SURVEY §2.5; this is the same operator
  * set exposed over readStream).
  *
  * Each pipeline is defined against an unbounded DataFrame, so it runs
  * identically from a Kafka/file source in production; here the driver
  * gate executes it with an AvailableNow trigger into a memory sink and
  * compares against the batch oracle. Watermarks bound state; the
  * aggregations are standard hash-agg with partial combine per
  * micro-batch at scale.
  */
object Streams {

  /** Streaming source over the driver's events parquet (nanos ts → µs). */
  def eventsStream(spark: SparkSession, dir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val schema = spark.read.parquet(s"$dir/events.parquet").schema
    val raw = spark.readStream.schema(schema)
      .option("pathGlobFilter", "events.parquet")
      .parquet(dir)
    // same dtype normalization as Tables.load (nanos-as-long → µs LTZ,
    // NTZ → LTZ): watermarks require TIMESTAMP, not TIMESTAMP_NTZ
    graft.Tables.normalizeTs(raw)
  }

  /** Tumbling event-time window aggregation with a watermark. */
  def hourlyCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,3)")).cast("double").as("sum_value"))
      .select(col("w.start").as("hour"), col("event_type"),
        col("n"), col("sum_value"))

  /** Gap-based session windows per user (session_window = the streaming
    * analog of the batch lag/cumsum sessionization in p15_sessionize).
    */
  def userSessions(events: DataFrame, gap: String = "30 minutes"): DataFrame =
    events
      .withWatermark("ts", "1 hour")
      .groupBy(session_window(col("ts"), gap).as("w"), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"), col("w.start").as("sess_start"),
        col("w.end").as("sess_end"), col("n_events"))

  /** Per-user running statistics via flatMapGroupsWithState — the custom
    * arbitrary-state operator (GroupState survives across micro-batches;
    * with AvailableNow's single batch the final state equals the batch
    * aggregate, which is what the oracle checks).
    */
  def userRunningStats(events: DataFrame): DataFrame = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val spark = events.sparkSession
    import spark.implicits._
    events
      .select(col("user_id"),
        // exact cents so state accumulation is order-independent
        round(col("value") * 100).cast("long").as("cents"))
      .as[(Long, Long)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[UserState, (Long, Long, Double, Double)](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (uid: Long, rows: Iterator[(Long, Long)], state: GroupState[UserState]) =>
          val prev = state.getOption.getOrElse(UserState(0L, 0L, Long.MinValue))
          var n = prev.n; var sum = prev.sumCents; var mx = prev.maxCents
          rows.foreach { case (_, cents) =>
            n += 1; sum += cents; if (cents > mx) mx = cents
          }
          state.update(UserState(n, sum, mx))
          Iterator((uid, n, sum / 100.0, mx / 100.0))
      }
      .toDF("user_id", "n_events", "sum_value", "max_value")
  }

  /** Streaming exact dedup on event_id: duplicates arriving within the
    * watermark horizon of the first occurrence are dropped and the
    * dedup state for ids older than the watermark is evicted (plain
    * dropDuplicates would keep every id forever — unbounded state on an
    * unbounded stream).
    */
  def dedupStream(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "1 hour")
      .dropDuplicatesWithinWatermark("event_id")

  /** Stream-stream interval self-join: purchases within 5 minutes
    * strictly after a click by the same user. Watermarks plus the
    * time-range predicate let Spark bound the join state on BOTH sides
    * (a buffered click is droppable once the purchase watermark passes
    * click_ts + 5 min) — the unbounded-state hazard of stream joins
    * handled the way production requires. Inner joins emit matches as
    * both sides arrive, so the AvailableNow result equals the batch
    * interval join (x04's bucketed shape is the batch analog).
    */
  def clickPurchaseJoin(events: DataFrame): DataFrame = {
    val clicks = events.filter(col("event_type") === "click")
      .select(col("user_id"), col("event_id").as("click_id"),
        col("ts").as("c_ts"))
      .withWatermark("c_ts", "1 hour")
    val purchases = events.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("event_id").as("purchase_id"),
        col("ts").as("p_ts"))
      .withWatermark("p_ts", "1 hour")
    clicks.join(purchases,
      col("user_id") === col("p_user") &&
        col("p_ts") > col("c_ts") &&
        col("p_ts") <= col("c_ts") + expr("INTERVAL 5 MINUTES"))
      .select(col("user_id"), col("click_id"), col("purchase_id"))
  }

  /** LEFT OUTER stream-stream interval join: every click comes out,
    * matched purchases attached, null-padded otherwise. The outer side
    * is the part the inner join (s05) can't express: Spark holds each
    * click in state until the watermark proves no matching purchase can
    * still arrive (both sides watermarked + a two-sided time-range
    * condition, so state is bounded), THEN emits the null row. Matched
    * rows stream out immediately; null rows flush on watermark advance —
    * the consumer contract is "a click is confirmed purchase-less one
    * watermark delay after its join window closes", which is exactly
    * the semantics a funnel/abandonment pipeline wants at scale.
    */
  def clickPurchaseLeftJoin(events: DataFrame): DataFrame = {
    val clicks = events.filter(col("event_type") === "click")
      .select(col("user_id"), col("event_id").as("click_id"),
        col("ts").as("c_ts"))
      .withWatermark("c_ts", "1 hour")
    val purchases = events.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"),
        col("event_id").as("purchase_id"), col("ts").as("p_ts"))
      .withWatermark("p_ts", "1 hour")
    clicks.join(purchases,
      col("user_id") === col("p_user") &&
        col("p_ts") > col("c_ts") &&
        col("p_ts") <= col("c_ts") + expr("INTERVAL 5 MINUTES"),
      "left_outer")
      .select(col("user_id"), col("click_id"), col("c_ts"),
        col("purchase_id"))
  }

  /** Stream-static enrichment join: each streaming event is joined to a
    * STATIC per-user profile (here: the user's all-time average event
    * value, computed batch-side). Stream-static inner joins are
    * stateless — the static side is broadcast to every micro-batch, no
    * watermark required — which is the standard shape for dimension
    * enrichment of a firehose at scale (the static side refreshes by
    * swapping the snapshot, not by joining stream-to-stream).
    */
  def enrichWithUserProfile(events: DataFrame,
      profile: DataFrame): DataFrame =
    events
      .select(col("event_id"), col("user_id"),
        col("value").cast("double").as("value"))
      .join(broadcast(profile), Seq("user_id"))

  /** Batch-side per-user profile for [[enrichWithUserProfile]]: decimal
    * sum / count so the double is engine-portable.
    */
  def userProfile(eventsBatch: DataFrame): DataFrame =
    eventsBatch.groupBy("user_id")
      .agg((sum(col("value").cast("decimal(18,3)")).cast("double") /
        count(lit(1))).as("avg_value"))

  /** Streaming incremental dedup against a static history — the
    * streaming form of `Dedup.incrementalDupFlags`, and entirely
    * STATELESS: the history's content-hash Bloom filter (built batch-
    * side, ~bytes per million rows) probes every streamed event in a
    * codegen'd expression, bloom-negative rows short-circuit to
    * is_dup=false with no join at all, and only the positive sliver
    * takes the broadcast exact-verify join that kills false positives.
    * No watermark, no state store — at firehose scale the per-event
    * cost is one hash + one bit-probe, and the filter refreshes by
    * swapping the broadcast snapshot (the s06 pattern).
    */
  def dedupAgainstHistory(events: DataFrame, historyHashes: DataFrame,
      filterBytes: Array[Byte]): DataFrame = {
    import org.apache.spark.sql.graft.VectorExpressions
    val keyed = events.select(col("event_id"),
      md5(concat_ws("|", col("event_type"),
        col("user_id").cast("string"), col("props"))).as("h"))
      .withColumn("bloom_hit",
        VectorExpressions.bloomMightContain(col("h"), filterBytes))
    val positives = keyed.filter(col("bloom_hit"))
      .join(broadcast(historyHashes.withColumn("confirmed", lit(true))),
        Seq("h"), "left")
      .select(col("event_id"),
        coalesce(col("confirmed"), lit(false)).as("is_dup"))
    val negatives = keyed.filter(!col("bloom_hit"))
      .select(col("event_id"), lit(false).as("is_dup"))
    positives.unionAll(negatives)
  }

  /** Batch-side history fixture for [[dedupAgainstHistory]]: distinct
    * content hashes of the events before `splitId`, plus the serialized
    * Bloom filter over them.
    */
  def historyFixture(eventsBatch: DataFrame,
      splitId: Long): (DataFrame, Array[Byte]) = {
    val hashes = eventsBatch.filter(col("event_id") < splitId)
      .select(md5(concat_ws("|", col("event_type"),
        col("user_id").cast("string"), col("props"))).as("h"))
      .distinct()
    val bf = hashes.stat.bloomFilter("h", 100000, 0.01)
    val bos = new java.io.ByteArrayOutputStream()
    bf.writeTo(bos)
    (hashes, bos.toByteArray)
  }

  /** Micro-batch shuffle-partition bound, derived from the staged
    * source's per-batch volume (optimization guide §2.2): AQE partition
    * coalescing is DISABLED inside Structured Streaming, so the reduce
    * partition count must be right up front — clamp(ceil(largest staged
    * file / 64 MB), 4, session value). One staged file IS one
    * micro-batch for every gate source (maxFilesPerTrigger=1, or
    * AvailableNow's per-file batching), so the largest file bounds any
    * single batch's input; 64 MB of (compressed) source per reduce task
    * keeps post-shuffle partitions inside the guide's 100 MB–1 GB band.
    * The floor 4 preserves the gate-scale value (state-store count
    * stays partition-order-invariant by the split-merge fuzz
    * contracts); the ceiling is the session's batch parallelism.
    */
  def streamShufflePartitions(spark: SparkSession,
      srcPath: String): Int = {
    val sess = spark.conf.get("spark.sql.shuffle.partitions").toInt
    val f = new java.io.File(srcPath)
    val batchBytes: Long =
      if (f.isFile) f.length()
      else Option(f.listFiles()).toSeq.flatten
        .filter(x => x.isFile && !x.getName.startsWith("_") &&
          !x.getName.startsWith("."))
        .map(_.length()).reduceOption(_ max _).getOrElse(0L)
    val target = 64L << 20
    val need = ((batchBytes + target - 1) / target).toInt
    math.max(4, math.min(if (sess <= 0) 4 else sess, need))
  }

  /** Run `body` with SQL conf `key` (one with a default) set to
    * `value`, restoring the previous value afterwards, also when `body`
    * throws.
    */
  def withConf[T](spark: SparkSession, key: String, value: String)(
      body: => T): T = {
    val prev = spark.conf.get(key)
    spark.conf.set(key, value)
    try body finally spark.conf.set(key, prev)
  }

  /** Run `body` (a streaming query start + await) with
    * `spark.sql.shuffle.partitions` bounded by
    * [[streamShufflePartitions]] for the source at `srcPath`. State-store
    * count = shuffle partitions, and without AQE every micro-batch
    * aggregation otherwise runs the session's full reduce width over a
    * few thousand rows — pure scheduler overhead × shuffles × batches.
    * Partition count never changes a result (every carried state is
    * partition-order-independent — the split-merge seam fuzz specs).
    * The session value is restored after the stream completes, so
    * publish-time batch plans keep the session's parallelism (and AQE).
    */
  def withStreamShuffle[T](spark: SparkSession, srcPath: String)(
      body: => T): T =
    withConf(spark, "spark.sql.shuffle.partitions",
      streamShufflePartitions(spark, srcPath).toString)(body)

  /** Fan a staged micro-batch out to the session's cores BEFORE
    * per-row decode/tokenize work (optimization guide §2.6 — idle
    * capacity): the gate fixtures stage each micro-batch as ONE small
    * parquet file, so the batch arrives as a single input split and a
    * downstream mapPartitions decoder (ImageIO, RIFF parse, GVID
    * demux) runs its whole batch on ONE core while 31 sit idle — and
    * the single-file sig writes previously used coalesce(1), which is
    * narrow and dragged the decode into the writer task too. The
    * round-robin exchange moves each payload exactly once (§8: a
    * payload shuffle is fine when it is the move that feeds idle
    * cores; decode throughput is MB/s, shuffle is GB/s). A batch that
    * already has at least as many splits as cores is left alone — a
    * production-volume micro-batch of many files never pays a payload
    * shuffle. Row sets are unchanged (order-independence is the
    * split-merge fuzz contract every streaming gate pins).
    */
  def fanOutBatch(df: DataFrame): DataFrame =
    graft.pipeline.Dedup.fanOutScan(df)

  /** Execute a streaming pipeline to completion (AvailableNow) into a
    * memory sink under [[withStreamShuffle]] and return the
    * materialized result.
    */
  def runToMemory(spark: SparkSession, df: DataFrame, name: String,
      outputMode: String = "complete", srcPath: String = ""): DataFrame =
    withStreamShuffle(spark, srcPath) {
      df.writeStream
        .format("memory")
        .queryName(name)
        .outputMode(outputMode)
        .trigger(Trigger.AvailableNow())
        .start()
        .awaitTermination()
      spark.table(name)
    }

  /** The file-stream source consumes whole files, so each staged ingest
    * batch must land as ONE parquet file in the watched dir.
    */
  def writeSingle(df: DataFrame, srcDir: String, name: String): Unit = {
    val tmp = s"$srcDir/_$name"
    df.coalesce(1).write.mode("overwrite").parquet(tmp)
    val part = new java.io.File(tmp).listFiles()
      .find(_.getName.endsWith(".parquet")).get
    java.nio.file.Files.move(part.toPath,
      java.nio.file.Paths.get(srcDir, s"$name.parquet"))
    rmTree(new java.io.File(tmp))
  }

  /** Single-pass ingest staging (optimization guide §2.4 — remove
    * redundant passes): lands n single-file batches `batch_<b>.parquet`,
    * b in [lo, lo + n), in ONE pass instead of one filtered rescan of
    * the source per batch. The rows are partitioned by the batch key on
    * write (one writer task — no less parallel than a per-batch
    * coalesce(1)) and each partition's file is moved to its batch name;
    * rows whose key falls outside the range are dropped. File mtimes
    * are stamped ascending in b, 1 s apart, so the file-stream source
    * (which orders by modification time, then path) replays the
    * batches in key order. A batch key absent from the data (possible
    * at the smallest SFs) still lands a schema-only parquet file.
    */
  def writeSplitSingle(df: DataFrame, batchExpr: Column, n: Int,
      srcDir: String, lo: Int = 0): Unit = {
    val tmp = s"$srcDir/_split"
    df.withColumn("bsplit", batchExpr.cast("long")).coalesce(1)
      .write.mode("overwrite").partitionBy("bsplit").parquet(tmp)
    val t0 = System.currentTimeMillis()
    (lo until lo + n).foreach { b =>
      val dst = java.nio.file.Paths.get(srcDir, s"batch_$b.parquet")
      Option(new java.io.File(tmp, s"bsplit=$b").listFiles()).toSeq
        .flatten.find(_.getName.endsWith(".parquet")) match {
        case Some(part) => java.nio.file.Files.move(part.toPath, dst)
        case None =>
          writeSingle(df.filter(batchExpr.cast("long") === b).limit(0),
            srcDir, s"batch_$b")
      }
      dst.toFile.setLastModified(t0 + b * 1000L)
      ()
    }
    rmTree(new java.io.File(tmp))
  }

  /** File-stream source over a staged dir: `filesPerTrigger` staged
    * parquet files per micro-batch (one file = one batch by default),
    * in mtime order, with the schema read from the staged files.
    */
  def fileStream(spark: SparkSession, srcDir: String,
      filesPerTrigger: Int = 1): DataFrame =
    spark.readStream.schema(spark.read.parquet(srcDir).schema)
      .option("maxFilesPerTrigger", filesPerTrigger.toString)
      .option("pathGlobFilter", "*.parquet")
      .parquet(srcDir)

  /** Replay the files staged under `srcDir` as a stream and hand each
    * micro-batch with its batch id to `perBatch` (foreachBatch, run to
    * completion with AvailableNow under [[withStreamShuffle]]). Batch
    * ids count from 0 in mtime order. A `perBatch` that throws stops
    * the stream; the failure reaches the caller as the
    * StreamingQueryException it causes.
    */
  def replay(spark: SparkSession, srcDir: String, filesPerTrigger: Int = 1)(
      perBatch: (DataFrame, Long) => Unit): Unit =
    withStreamShuffle(spark, srcDir) {
      fileStream(spark, srcDir, filesPerTrigger).writeStream
        .foreachBatch(perBatch)
        .trigger(Trigger.AvailableNow())
        .start()
        .awaitTermination()
    }
}
