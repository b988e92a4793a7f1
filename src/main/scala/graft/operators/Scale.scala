package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{QueryDef, Scratch, Tables}
import scala.jdk.CollectionConverters._

/** Scale-pattern demonstrations under the oracle gate: each runs a
  * physical-design technique (bucketing, salting) whose *result* is
  * checkable against a plain-SQL oracle while the *plan* exercises the
  * 100 TB pattern.
  */
object Scale {

  private def t(s: SparkSession, dir: String, n: String): DataFrame =
    Tables.load(s, dir, n)

  /** Writes both join sides bucketed by the join key (same bucket count)
    * and returns the bucket-aligned join+agg WITHOUT materializing it.
    * Callers must disable broadcast before executing for the shuffle-free
    * sort-merge join to survive planning — PlanSpec asserts exactly that
    * property on this plan.
    */
  private[graft] def bucketedJoin(s: SparkSession, dir: String): DataFrame = {
    Seq("x01_orders_b", "x01_lineitem_b").foreach(resetBucketTable(s, _))
    t(s, dir, "orders").select("o_orderkey", "o_orderpriority")
      .write.bucketBy(8, "o_orderkey").sortBy("o_orderkey")
      .mode("overwrite").saveAsTable("x01_orders_b")
    t(s, dir, "lineitem").select("l_orderkey", "l_quantity")
      .write.bucketBy(8, "l_orderkey").sortBy("l_orderkey")
      .mode("overwrite").saveAsTable("x01_lineitem_b")
    s.table("x01_orders_b")
      .join(s.table("x01_lineitem_b"),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n"),
        sum(col("l_quantity").cast("decimal(18,2)")).cast("double")
          .as("qty"))
  }

  /** Drops a saved bucketed table from the in-memory catalog AND removes
    * its leftover warehouse directory (the catalog forgets tables across
    * JVMs; the directory persists and saveAsTable then fails with
    * LOCATION_ALREADY_EXISTS).
    */
  private def resetBucketTable(s: SparkSession, tb: String): Unit = {
    s.sql(s"DROP TABLE IF EXISTS $tb")
    Scratch.rmTree(new java.io.File(
      java.net.URI.create(s.conf.get("spark.sql.warehouse.dir")).getPath, tb))
  }

  /** Bucket pruning (point lookup on a bucketed table): customer is
    * written bucketed by c_custkey (8 buckets); an IN predicate on the
    * bucket column lets the scan hash each literal to its bucket and
    * skip every file outside those buckets — the executed plan records
    * `SelectedBucketsCount: k out of 8` with k <= 3. At 100 TB this is
    * the point-lookup path on a bucketed fact table: file-level pruning
    * BEFORE any I/O, no secondary index needed, and it composes with
    * the x01 shuffle-free join on the same layout. Keys are <= 149 so
    * the same rows exist at every SF (customer keys are 0-based dense).
    *
    * DisableUnnecessaryBucketedScan drops the bucketed layout when no
    * downstream operator wants the hash distribution — and with it the
    * bucket-filter pruning ("Bucketed: false (disabled by query
    * planner)") — so callers must hold
    * [[bucketScanConfs]] while the plan EXECUTES (the gate materializes
    * under them, x01-style; PlanSpec sets them around its collect).
    */
  private[graft] val bucketScanConfs = Seq(
    "spark.sql.sources.bucketing.autoBucketedScan.enabled" -> "false")

  private[graft] val bucketPruneKeys = Seq(7L, 23L, 101L)

  private[graft] def bucketPrunedLookup(s: SparkSession,
      dir: String): DataFrame = {
    resetBucketTable(s, "x19_customer_b")
    t(s, dir, "customer").select("c_custkey", "c_name", "c_nationkey")
      .write.bucketBy(8, "c_custkey").sortBy("c_custkey")
      .mode("overwrite").saveAsTable("x19_customer_b")
    s.table("x19_customer_b")
      .filter(col("c_custkey").isin(bucketPruneKeys: _*))
      .select("c_custkey", "c_name", "c_nationkey")
  }

  /** Composite physical layout — hive partitioning AND bucketing on the
    * same table: documents partitioned by `lang` (directory pruning on
    * the coarse, low-cardinality axis) and bucketed ×8 by `doc_id`
    * (file pruning on the fine, high-cardinality axis). A point lookup
    * `lang = 'en' AND doc_id IN (k1,k2,k3)` must prune BOTH ways in ONE
    * scan: the listing touches only the lang=en directory
    * (PartitionFilters) and reads ≤ 3 of its 8 bucket files
    * (SelectedBucketsCount). This is the canonical 100 TB corpus layout
    * — partition by source/date/lang, bucket by doc id — where a lookup
    * reads a few hundred MB instead of the corpus; PlanSpec asserts
    * both prunings on this exact plan. Keys are the 3 smallest `en`
    * doc ids (a bounded 3-row collect, mirrored by the oracle).
    */
  private[graft] def partitionBucketLookup(s: SparkSession,
      dir: String): DataFrame = {
    resetBucketTable(s, "x25_documents_pb")
    t(s, dir, "documents").select("doc_id", "lang", "source", "n_chars")
      .write.partitionBy("lang").bucketBy(8, "doc_id").sortBy("doc_id")
      .mode("overwrite").saveAsTable("x25_documents_pb")
    val keys = t(s, dir, "documents").filter(col("lang") === "en")
      .select("doc_id").orderBy("doc_id").limit(3)
      .collect().map(_.getLong(0)).toSeq
    s.table("x25_documents_pb")
      .filter(col("lang") === "en" && col("doc_id").isin(keys: _*))
      .select("doc_id", "lang", "source", "n_chars")
  }

  /** Writes the events table partitioned on disk by event_type (hive-style
    * directory layout) and returns an aggregate over ONE partition value.
    * The scan must show a PartitionFilter — the file listing is pruned to
    * the matching directory before any data is read. At 100 TB this is the
    * difference between scanning one event type and scanning the corpus;
    * PlanSpec asserts the pruning on this exact plan.
    */
  private[graft] def partitionPrunedAgg(s: SparkSession,
      dir: String): DataFrame = {
    val out = Scratch.dir(s, "x05_events_parted")
    t(s, dir, "events")
      .select(col("event_type"), col("value"))
      .write.partitionBy("event_type").mode("overwrite").parquet(out)
    s.read.parquet(out)
      .filter(col("event_type") === "purchase")
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,3)")).cast("double")
          .as("sum_value"))
  }

  /** Dynamic partition pruning: the fact side is partitioned by
    * event_type, but the query's filter lives on the DIMENSION
    * (category = 'conversion'), so static pruning can't fire. Catalyst's
    * DPP injects the broadcast dimension's build-side keys as a runtime
    * `dynamicpruningexpression` PartitionFilter on the fact scan — only
    * the matching partition directories are listed and read. At 100 TB
    * this is the star-schema workhorse: a date-dimension predicate
    * prunes years of fact partitions without the query naming them.
    * PlanSpec asserts the dynamic filter on this exact plan.
    */
  private[graft] def dppPrunedJoin(s: SparkSession,
      dir: String): DataFrame = {
    val out = Scratch.dir(s, "x07_events_parted")
    t(s, dir, "events")
      .select(col("event_type"), col("value"))
      .write.partitionBy("event_type").mode("overwrite").parquet(out)
    val fact = s.read.parquet(out)
    val dim = t(s, dir, "events").select("event_type").distinct()
      .withColumn("category",
        when(col("event_type").isin("purchase", "signup"), "conversion")
          .otherwise("engagement"))
    fact.join(broadcast(dim.filter(col("category") === "conversion")),
        Seq("event_type"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,3)")).cast("double")
          .as("sum_value"))
  }

  /** AQE shuffle coalescing: a selective filter leaves the aggregation
    * shuffle tiny, and AQE merges the 32 static partitions into a
    * handful of right-sized reducers at runtime (AQEShuffleRead
    * `coalesced` in the executed plan). This is the other half of the
    * shuffle-partition story: the static setting is a ceiling, the
    * observed map output sizes pick the real width — the same mechanism
    * that keeps a 100 TB job from drowning in micro-tasks after a
    * selective stage. PlanSpec asserts the coalesce on this exact plan.
    */
  private[graft] def aqeCoalescedAgg(s: SparkSession,
      dir: String): DataFrame =
    t(s, dir, "lineitem")
      .filter(col("l_quantity") <= 2)
      .groupBy("l_returnflag")
      .agg(count(lit(1)).as("n"),
        sum(col("l_extendedprice").cast("decimal(18,2)")).cast("double")
          .as("sum_price"))

  /** Schema evolution on a long-lived corpus: batch 0 was written
    * before the `lang`/`source` columns existed, batch 1 after.
    * `mergeSchema=true` unifies the footers at read time — old rows
    * surface the new columns as null, no rewrite of historical data.
    * At 100 TB this is how a corpus gains a column: evolve the schema,
    * backfill lazily (or never), and every reader sees one table.
    */
  private[graft] def schemaEvolvedRead(s: SparkSession,
      dir: String): DataFrame = {
    val out = Scratch.dir(s, "x08_docs_evolved")
    val d = t(s, dir, "documents")
    d.filter(col("doc_id") < 250).select("doc_id", "text")
      .write.mode("overwrite").parquet(s"$out/batch=0")
    d.filter(col("doc_id") >= 250)
      .select("doc_id", "text", "lang", "source")
      .write.mode("overwrite").parquet(s"$out/batch=1")
    s.read.option("mergeSchema", "true").parquet(out)
      .select(col("doc_id"), col("lang"), col("source"),
        length(col("text")).cast("long").as("n_chars"))
  }

  /** Small-file compaction: a corpus fragmented into many tiny files
    * (the streaming-ingest pathology) is rewritten into
    * ceil(bytes/target)-sized outputs. Row fidelity is the gated
    * invariant; the file-count bound is asserted as a boolean (the
    * p17 pattern — DuckDB can't see the layout). At 100 TB compaction
    * is a maintenance job that keeps scan task counts sane; the target
    * partition count comes from the actual byte size, not a constant.
    */
  private[graft] def compactedStats(s: SparkSession,
      dir: String): DataFrame = {
    val base = Scratch.dir(s, "x09_compact")
    val frag = s"$base/fragmented"
    val comp = s"$base/compacted"
    t(s, dir, "documents").repartition(64)
      .write.mode("overwrite").parquet(frag)
    val fragDf = s.read.parquet(frag)
    val bytes = fragDf.queryExecution.optimizedPlan.stats.sizeInBytes
    val targetBytes = 8L * 1024 * 1024
    val nParts = math.max(1,
      (bytes.toLong + targetBytes - 1) / targetBytes).toInt
    fragDf.repartition(nParts).write.mode("overwrite").parquet(comp)
    def dataFiles(p: String): Long =
      new java.io.File(p).listFiles().count(f =>
        f.getName.endsWith(".parquet"))
    val nFrag = dataFiles(frag)
    val nComp = dataFiles(comp)
    s.read.parquet(comp)
      .agg(count(lit(1)).as("n_docs"),
        sum(length(col("text")).cast("long")).as("sum_chars"))
      .select(col("n_docs"), col("sum_chars"),
        lit(nComp < nFrag).as("compacted_fewer_files"),
        lit(nComp <= 8).as("file_count_bounded"))
  }

  /** Parquet bloom-filter layout: write with a per-column bloom filter
    * (`parquet.bloom.filter.enabled#col`) so point lookups on a
    * high-cardinality NON-sort column can skip row groups the value
    * cannot be in — the layout complement to min/max stats (useless for
    * uncorrelated keys) and to Z-order (x12, which needs the sort).
    * At 100 TB this is the difference between a point lookup scanning
    * every row group of every file and touching only the blooms
    * (~KB/row-group). The gate asserts the footer contract the reader
    * skip depends on: every row group of every file carries a bloom for
    * the REQUESTED column and none for the others (blooms cost write
    * time + footer bytes — opting in per column is the point), plus the
    * point-lookup result vs the oracle. The footer probe goes through
    * the Hadoop FileSystem API (scheme-agnostic, the barrier rule).
    */
  private[graft] def parquetBloomStats(s: SparkSession,
      dir: String): DataFrame = {
    val base = Scratch.dir(s, "x16_bloom")
    t(s, dir, "orders").select("o_orderkey", "o_custkey", "o_totalprice")
      .repartition(4)
      .write.mode("overwrite")
      .option("parquet.bloom.filter.enabled#o_custkey", "true")
      .option("parquet.bloom.filter.expected.ndv#o_custkey", "100000")
      // parquet-mr drops the bloom when a chunk ends fully
      // dictionary-encoded (the dictionary is already an exact filter).
      // At bench SF the key fits a dictionary, so force plain encoding
      // to emulate the 100 TB regime where cardinality overflows the
      // dictionary and the bloom is the only row-group skip.
      .option("parquet.enable.dictionary#o_custkey", "false")
      .parquet(base)
    // (o_custkey chunks, all of them with a bloom, a bloom elsewhere)
    val perFile = graft.pipeline.Dedup.parquetFooters(s,
        new org.apache.hadoop.fs.Path(base)) { rdr =>
      val chunks = rdr.getFooter.getBlocks.asScala.toSeq
        .flatMap(_.getColumns.asScala)
      val (key, other) = chunks.partition(_.getPath.toDotString == "o_custkey")
      (key.size, key.forall(_.getBloomFilterOffset >= 0),
        other.exists(_.getBloomFilterOffset >= 0))
    }
    val chunksChecked = perFile.map(_._1).sum
    val bloomOnKey = perFile.forall(_._2)
    val bloomElsewhere = perFile.exists(_._3)
    val df = s.read.parquet(base)
    // bounded 1-value driver agg picks the probe key (broadcast-variable
    // pattern, like the IVF centroids)
    val k = df.agg(min("o_custkey")).head().getLong(0)
    df.filter(col("o_custkey") === k)
      .agg(count(lit(1)).as("n_match"))
      .select(col("n_match"),
        lit(bloomOnKey && chunksChecked > 0).as("bloom_on_requested_col"),
        lit(!bloomElsewhere).as("no_bloom_on_other_cols"))
  }

  /** Parquet column-index layout: page-level min/max skipping is the
    * finest granularity in the stack (x05 prunes directories, x12 files,
    * x16 row groups) — but the column index only helps when the layout
    * makes page ranges disjoint, i.e. the file is SORTED on the probe
    * key. The gate writes the same rows twice (hash-scattered vs
    * range-partitioned + sorted), decodes the o_orderkey column index
    * from every footer, and counts pages whose [min,max] intersect a
    * fixed 5%-of-keyspace probe range: the sorted layout must touch at
    * most half the pages the scattered one does (monotone bound, x12
    * ADVICE rule), the index must exist in every chunk, and the range
    * count must match the oracle. Small page-row limit stands in for the
    * 100 TB regime where a chunk holds many pages.
    */
  private[graft] def columnIndexStats(s: SparkSession,
      dir: String): DataFrame = {
    val naiveP = Scratch.dir(s, "x17_naive")
    val sortedP = Scratch.dir(s, "x17_sorted")
    val orders = t(s, dir, "orders").select("o_orderkey", "o_totalprice")
    def write(df: DataFrame, path: String): Unit =
      df.write.mode("overwrite")
        .option("parquet.page.row.count.limit", "200")
        .parquet(path)
    write(orders.repartition(4), naiveP)
    write(orders.repartitionByRange(4, col("o_orderkey"))
      .sortWithinPartitions("o_orderkey"), sortedP)
    // bounded 2-value driver agg fixes the probe range (middle 5% of the
    // keyspace) — the broadcast-variable pattern, like the IVF centroids
    val mm = orders.agg(min("o_orderkey"), max("o_orderkey")).head()
    val (lo0, hi0) = (mm.getLong(0), mm.getLong(1))
    val lo = lo0 + (hi0 - lo0) * 45 / 100
    val hi = lo0 + (hi0 - lo0) * 50 / 100
    // (pages touched by [lo,hi], total pages, index present in all chunks)
    def probe(path: String): (Int, Int, Boolean) = {
      // INT64 min/max are plain-encoded little-endian
      def long(b: java.nio.ByteBuffer): Long = b.duplicate()
        .order(java.nio.ByteOrder.LITTLE_ENDIAN).getLong
      val perChunk = graft.pipeline.Dedup.parquetFooters(s,
          new org.apache.hadoop.fs.Path(path)) { rdr =>
        rdr.getFooter.getBlocks.asScala.toSeq
          .flatMap(_.getColumns.asScala)
          .filter(_.getPath.toDotString == "o_orderkey")
          .map(cc => Option(rdr.readColumnIndex(cc)).map { ci =>
            val (mins, maxs) = (ci.getMinValues, ci.getMaxValues)
            val pages = (0 until mins.size())
              .filterNot(i => ci.getNullPages.get(i))
            (pages.count(i =>
              long(mins.get(i)) <= hi && long(maxs.get(i)) >= lo), pages.size)
          })
      }.flatten
      (perChunk.flatten.map(_._1).sum, perChunk.flatten.map(_._2).sum,
        perChunk.forall(_.isDefined))
    }
    val (tSorted, _, pSorted) = probe(sortedP)
    val (tNaive, nNaive, pNaive) = probe(naiveP)
    s.read.parquet(sortedP)
      .filter(col("o_orderkey").between(lo, hi))
      .agg(count(lit(1)).as("n_match"))
      .select(col("n_match"),
        lit(pSorted && pNaive && nNaive > 0).as("column_index_present"),
        lit(tSorted * 2 <= tNaive).as("page_skip_ok"))
  }

  /** Dynamic partition overwrite: the idempotent-backfill primitive —
    * rewriting ONE day's corrected data must replace exactly that
    * partition directory and leave every other partition's files
    * untouched (static overwrite mode would truncate the whole table).
    * At 100 TB this is how reprocessing works at all: a bad extractor
    * day is re-run and swapped in-place while the other ~thousand
    * partitions never move. The gate checks the semantic result per day
    * (corrected day doubled, others original — exact cent sums) AND the
    * physical contract via Hadoop FS listings: untouched partitions
    * keep byte-identical file lists, the target partition's files are
    * replaced.
    */
  /** x20: REBALANCE-hinted skew-proof partitioned write. 90% of events
    * funnel onto one 'hot' partition key; the rebalance shuffle plus a
    * small advisory partition size makes AQE split the hot key's output
    * across multiple writer tasks (OptimizeSkewInRebalancePartitions),
    * so the hot directory gets several right-sized files instead of one
    * giant straggler, while each cold key stays exactly one file.
    */
  private[graft] def rebalanceWrite(s: SparkSession,
      dir: String): DataFrame = {
    val base = Scratch.dir(s, "x20_rebalance")
    val events = t(s, dir, "events")
      .select(col("event_id"), col("user_id"), col("value"),
        when(col("event_id") % 10 < 9, lit("hot"))
          .otherwise(concat(lit("cold_"),
            (col("event_id") % 10).cast("string"))).as("skew_key"))
    // AQE splits a skewed rebalance partition by MAP-INDEX ranges, so a
    // single-mapper source is unsplittable — and the sf0.01 events file
    // is one row group (one task), while CollapseRepartition folds any
    // inline repartition INTO the rebalance. Stage the source as 8
    // parquet files and read them back as 8 map tasks (maxPartitionBytes
    // small enough that the 4 MB per-file open cost fills a bin) — at
    // production scale the source is always many-mapper; the staging
    // step recreates that reality at gate scale.
    val staging = s"${base}_src"
    events.repartition(8, col("event_id"))
      .write.mode("overwrite").parquet(staging)
    // one constant drives BOTH the conf and the split-expectation guard
    // below — diverging them would let the gate model a config it no
    // longer sets
    val advisoryBytes = 16 * 1024
    val prev = Seq(
      "spark.sql.adaptive.advisoryPartitionSizeInBytes",
      "spark.sql.files.maxPartitionBytes").map(k => k -> s.conf.getOption(k))
    s.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes",
      s"${advisoryBytes}b")
    s.conf.set("spark.sql.files.maxPartitionBytes", "4m")
    try
      s.read.parquet(staging).hint("rebalance", col("skew_key"))
        .write.mode("overwrite").partitionBy("skew_key").parquet(base)
    finally prev.foreach {
      case (k, Some(v)) => s.conf.set(k, v)
      case (k, None) => s.conf.unset(k)
    }
    val basePath = new org.apache.hadoop.fs.Path(base)
    val fs = basePath.getFileSystem(s.sessionState.newHadoopConf())
    val filesPerKey: Map[String, Int] =
      fs.listStatus(basePath).filter(_.isDirectory).map { d =>
        d.getPath.getName.stripPrefix("skew_key=") ->
          fs.listStatus(d.getPath)
            .count(_.getPath.getName.endsWith(".parquet"))
      }.toMap
    // the hot partition must EXIST — a missing skew_key=hot directory
    // would otherwise default hotBytes to 0 and pass the gate vacuously
    val hotDir = fs.listStatus(basePath).filter(_.isDirectory)
      .find(_.getPath.getName == "skew_key=hot")
      .getOrElse(throw new IllegalStateException(
        s"x-gate: skew_key=hot partition missing under $base"))
    val hotBytes = fs.listStatus(hotDir.getPath)
      .filter(_.getPath.getName.endsWith(".parquet"))
      .map(_.getLen).sum
    // the physical claim is scale-dependent: AQE only splits a skewed
    // rebalance partition that actually EXCEEDS the advisory size (at
    // sf0.001 the whole hot key is a few KB — one file IS the right
    // layout there). Require the split exactly when there is enough
    // data that an unsplit write would be skewed.
    val hotSplit = filesPerKey.getOrElse("hot", 0) >= 2 ||
      hotBytes < 2L * advisoryBytes
    val coldsSingle = filesPerKey.view
      .filterKeys(_ != "hot").values.forall(_ == 1)
    s.read.parquet(base)
      .groupBy("skew_key")
      .agg(count(lit(1)).as("n"))
      .select(col("skew_key"), col("n"),
        lit(hotSplit).as("hot_split"), lit(coldsSingle).as("colds_single"))
  }

  /** x21: manifest-table file pruning — the lakehouse metadata pattern
    * (Iceberg/Delta manifests as public prior art). x12/x16/x17 prune by
    * opening every parquet FOOTER, which at 100 TB is itself a
    * million-file metadata scan on the driver; the scalable form keeps
    * per-file (path, min, max, rows) stats in a narrow parquet TABLE,
    * maintained at write time by one distributed aggregation, and plans
    * a range query by scanning the manifest relationally — the file
    * list a query opens is decided by a table scan that Spark itself
    * distributes, not by touching data-file metadata.
    *
    * Gate: events range-partitioned into 16 files sorted by event_id;
    * manifest built via input_file_name() groupBy (one scan, 16 rows);
    * a fixed middle-5%-of-keyspace probe (the x17 integer-percentile
    * recipe) must (a) select ≤ 3 of the 16 files from the manifest,
    * (b) return exactly the rows the full-scan filter returns. The
    * selected-file read uses the manifest's bounded path list (16-row
    * collect — the broadcast-variable pattern, like the IVF centroids).
    */
  /** x22 runner: two-snapshot ingest into one data dir + manifest rows
    * tagged with the snapshot id; the incremental consumer reads only
    * the manifest's snap-2 file list. Manifest maintenance here derives
    * new-file stats with one scan + path anti-join (test-scale
    * convenience); production appends stats at commit time from the
    * written batch itself — exactly what s17 does in its foreachBatch.
    */
  private[graft] def incrementalScan(s: SparkSession, dir: String): DataFrame = {
    val dataP = Scratch.dir(s, "x22_data")
    val maniP = Scratch.dir(s, "x22_manifest")
    val events = t(s, dir, "events").select("event_id", "user_id")
    // snapshot 1: the 80% residue classes, 12 range files
    events.filter(col("event_id") % 5 =!= 0)
      .repartitionByRange(12, col("event_id"))
      .sortWithinPartitions("event_id")
      .write.mode("overwrite").parquet(dataP)
    s.read.parquet(dataP)
      .groupBy(input_file_name().as("file"))
      .agg(min("event_id").as("min_id"), max("event_id").as("max_id"),
        count(lit(1)).as("rows"))
      .withColumn("snap", lit(1))
      .write.mode("overwrite").parquet(maniP)
    // snapshot 2 appends the % 5 == 0 slice as 4 new files
    events.filter(col("event_id") % 5 === 0)
      .repartitionByRange(4, col("event_id"))
      .sortWithinPartitions("event_id")
      .write.mode("append").parquet(dataP)
    val known = s.read.parquet(maniP).select("file")
    s.read.parquet(dataP)
      .groupBy(input_file_name().as("file"))
      .agg(min("event_id").as("min_id"), max("event_id").as("max_id"),
        count(lit(1)).as("rows"))
      .join(known, Seq("file"), "left_anti")
      .withColumn("snap", lit(2))
      .write.mode("append").parquet(maniP)
    val mani = s.read.parquet(maniP)
    val nFiles = mani.count()
    val newFiles = mani.filter(col("snap") > 1)
      .select("file").collect().map(_.getString(0))
    val inc = s.read.parquet(newFiles.toIndexedSeq: _*)
      .agg(count(lit(1)).as("n"), sum("user_id").as("su")).head()
    val direct = events.filter(col("event_id") % 5 === 0)
      .agg(count(lit(1)).as("n"), sum("user_id").as("su")).head()
    val filesOnlyNew = nFiles == 16L && newFiles.length == 4
    val matches = inc == direct
    s.createDataFrame(java.util.List.of(
      org.apache.spark.sql.Row(inc.getLong(0), inc.getLong(1),
        filesOnlyNew, matches)),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("n_new",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("sum_user",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("incremental_files_only",
          org.apache.spark.sql.types.BooleanType),
        org.apache.spark.sql.types.StructField("matches_direct",
          org.apache.spark.sql.types.BooleanType))))
  }

  /** x24 runner: both sides written `bucketBy(8).sortBy` with ONE file
    * per bucket (pre-repartitioned on the key so each writer task owns
    * exactly one bucket); the join's executed plan must contain a
    * SortMergeJoin with no Exchange and no Sort below it — the only
    * Exchange allowed in the whole plan is the final single-partition
    * aggregate's.
    */
  private[graft] def sortedBucketJoin(s: SparkSession, dir: String): DataFrame = {
    Seq("x24_orders_sb", "x24_lineitem_sb").foreach(resetBucketTable(s, _))
    t(s, dir, "orders").select("o_orderkey", "o_orderpriority")
      .repartition(8, col("o_orderkey"))
      .write.bucketBy(8, "o_orderkey").sortBy("o_orderkey")
      .mode("overwrite").saveAsTable("x24_orders_sb")
    t(s, dir, "lineitem").select("l_orderkey", "l_quantity")
      .repartition(8, col("l_orderkey"))
      .write.bucketBy(8, "l_orderkey").sortBy("l_orderkey")
      .mode("overwrite").saveAsTable("x24_lineitem_sb")
    // the gate pins the 100 TB regime — at sf0.01 the orders side fits
    // the broadcast threshold and Spark would (correctly) skip the SMJ
    // entirely, so broadcasting is disabled for the probe join. Sorted
    // scan output ordering is opt-in since Spark 3.0 (the planner must
    // LIST files to prove one-file-per-bucket, a planning cost): the
    // legacy conf turns it on, and our pre-repartitioned write is
    // exactly the layout it requires.
    val prevThresh = s.conf.get("spark.sql.autoBroadcastJoinThreshold")
    val prevOrd = s.conf.get(
      "spark.sql.legacy.bucketedTableScan.outputOrdering")
    val (row, plan) = try {
      s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      s.conf.set("spark.sql.legacy.bucketedTableScan.outputOrdering",
        "true")
      val joined = s.table("x24_orders_sb")
        .join(s.table("x24_lineitem_sb"),
          col("l_orderkey") === col("o_orderkey"))
        .agg(count(lit(1)).as("n"),
          sum(col("l_quantity").cast("decimal(18,2)")).cast("double")
            .as("qty"))
      (joined.head(), joined.queryExecution.executedPlan.toString)
    } finally {
      s.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThresh)
      s.conf.set("spark.sql.legacy.bucketedTableScan.outputOrdering",
        prevOrd)
    }
    val noSort = !plan.contains("- Sort [")
    val exchanges = "Exchange".r.findAllIn(plan).length
    val smj = plan.contains("SortMergeJoin")
    s.createDataFrame(java.util.List.of(
      org.apache.spark.sql.Row(row.getLong(0), row.getDouble(1),
        smj && exchanges <= 1, noSort)),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("n",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("qty",
          org.apache.spark.sql.types.DoubleType),
        org.apache.spark.sql.types.StructField("no_shuffle_below_join",
          org.apache.spark.sql.types.BooleanType),
        org.apache.spark.sql.types.StructField("no_sort",
          org.apache.spark.sql.types.BooleanType))))
  }

  /** x23 runner: the same join planned twice — with CBO + ANALYZE
    * statistics (filter selectivity estimated from column NDV → the
    * filtered dimension drops under the broadcast threshold →
    * BroadcastHashJoin) and with size-only estimation (the filter
    * keeps its child's full size → shuffle join). The broadcast
    * threshold is pinned to half the table's EXACT on-disk size, so
    * the flip can only come from the statistics, never from ambient
    * file-size luck. This is the decision a 1000-executor plan lives
    * or dies on: a dimension filtered to 20% that still shuffles the
    * fact table wastes the whole stage.
    */
  private[graft] def cboBroadcast(s: SparkSession, dir: String): DataFrame = {
    def dirSize(f: java.io.File): Long =
      if (f.isFile) f.length
      else Option(f.listFiles()).map(_.map(dirSize).sum).getOrElse(0L)
    val ordersPath = s"$dir/orders.parquet"
    val sBytes = dirSize(new java.io.File(ordersPath))
    val prevThresh = s.conf.get("spark.sql.autoBroadcastJoinThreshold")
    val prevCbo = s.conf.get("spark.sql.cbo.enabled")
    try {
      s.sql("DROP TABLE IF EXISTS x23_orders")
      s.sql(s"CREATE TABLE x23_orders USING parquet LOCATION '$ordersPath'")
      s.sql("ANALYZE TABLE x23_orders COMPUTE STATISTICS")
      s.sql("ANALYZE TABLE x23_orders COMPUTE STATISTICS " +
        "FOR COLUMNS o_custkey")
      // threshold at S/50: size-only estimation keeps the filter at its
      // child's (column-pruned) size — a width ratio nowhere near 1/50
      // — while NDV-based estimation puts the one-customer filter at
      // ~rows/ndv(custkey), orders of magnitude under it
      s.conf.set("spark.sql.autoBroadcastJoinThreshold",
        math.max(sBytes / 50, 1L).toString)
      val mk = t(s, dir, "orders").agg(min("o_custkey")).head().getLong(0)
      val li = t(s, dir, "lineitem").select("l_orderkey", "l_quantity")
      def shape(): DataFrame = s.table("x23_orders")
        .filter(col("o_custkey") === mk)
        .select("o_orderkey")
        .join(li, col("o_orderkey") === col("l_orderkey"))
        .agg(count(lit(1)).as("n"),
          sum(col("l_quantity").cast("decimal(18,2)")).cast("double")
            .as("sum_qty"))
      s.conf.set("spark.sql.cbo.enabled", "true")
      val withCbo = shape()
      val row = withCbo.head()
      val cboPlan = withCbo.queryExecution.executedPlan.toString
      s.conf.set("spark.sql.cbo.enabled", "false")
      val noCbo = shape()
      noCbo.head()
      val defPlan = noCbo.queryExecution.executedPlan.toString
      val cboBroadcasts = cboPlan.contains("BroadcastHashJoin")
      val defaultShuffles = !defPlan.contains("BroadcastHashJoin")
      s.createDataFrame(java.util.List.of(
        org.apache.spark.sql.Row(row.getLong(0), row.getDouble(1),
          cboBroadcasts, defaultShuffles)),
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("n",
            org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("sum_qty",
            org.apache.spark.sql.types.DoubleType),
          org.apache.spark.sql.types.StructField("cbo_broadcasts",
            org.apache.spark.sql.types.BooleanType),
          org.apache.spark.sql.types.StructField("default_shuffles",
            org.apache.spark.sql.types.BooleanType))))
    } finally {
      s.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThresh)
      s.conf.set("spark.sql.cbo.enabled", prevCbo)
      s.sql("DROP TABLE IF EXISTS x23_orders")
      ()
    }
  }

  /** x40: file-pruned copy-on-write MERGE (the Delta/Iceberg upsert
    * path). A source batch of updates/deletes/inserts lands on a
    * range-laid-out target: the manifest's per-file [min,max] key
    * stats pick the files the source keys can touch, ONLY those are
    * rewritten (matched-update / matched-delete / not-matched-insert
    * resolved in one left join), and the new snapshot's manifest
    * references every untouched file verbatim — the 100 TB contract
    * being that a merge touching 0.1% of the key space rewrites 0.1%
    * of the files, not the table. The source here is broadcast (a
    * band of ~5% of the keys); a large source would shuffle both
    * sides on the key instead, with the file pruning unchanged — it
    * depends only on the source's key bounds, not its size. The gate
    * re-verifies the snapshot read against an unpruned whole-table
    * merge and pins ≤3 of 16 files rewritten.
    */
  private[graft] def mergeCow(s: SparkSession, dir: String): DataFrame = {
    val dataP = Scratch.dir(s, "x40_target")
    val deltaP = Scratch.dir(s, "x40_delta")
    val events = t(s, dir, "events").select("event_id", "user_id")
    events.repartitionByRange(16, col("event_id"))
      .sortWithinPartitions("event_id")
      .write.mode("overwrite").parquet(dataP)
    val mani = s.read.parquet(dataP)
      .groupBy(input_file_name().as("file"))
      .agg(min("event_id").as("min_id"), max("event_id").as("max_id"))
      .collect()
    val mm = events.agg(min("event_id"), max("event_id")).head()
    val (lo0, hi0) = (mm.getLong(0), mm.getLong(1))
    val lo = lo0 + (hi0 - lo0) * 45 / 100
    val hi = lo0 + (hi0 - lo0) * 50 / 100
    // source batch: updates (+1000000 on user_id) and deletes (key
    // % 7 == 0) over the [lo,hi] band, 100 inserts above the max key
    val matched = events.filter(col("event_id").between(lo, hi))
      .select(col("event_id"),
        when(col("event_id") % 7 === 0, "D").otherwise("U").as("op"))
    val inserts = s.range(1, 101)
      .select((lit(hi0) + col("id")).as("event_id"),
        ((lit(hi0) + col("id")) * 3).as("user_id"))
    // plan from manifest stats: only files whose [min,max] intersects
    // the source's matched-key bounds get rewritten (inserts are all
    // above hi0 and touch no existing file)
    val picked = mani.filter(r => r.getLong(1) <= hi && r.getLong(2) >= lo)
      .map(_.getString(0))
    val untouched = mani.map(_.getString(0)).filterNot(picked.contains)
    val rewritten = s.read.parquet(picked.toIndexedSeq: _*)
      .join(broadcast(matched), Seq("event_id"), "left")
      .filter(col("op").isNull || col("op") =!= "D")
      .select(col("event_id"),
        when(col("op") === "U", col("user_id") + 1000000L)
          .otherwise(col("user_id")).as("user_id"))
      .unionAll(inserts)
    rewritten.coalesce(1).write.mode("overwrite").parquet(deltaP)
    // snapshot 2 = untouched files (referenced, not copied) + delta
    val snap2 = s.read.parquet(
      (untouched ++ Seq(deltaP)).toIndexedSeq: _*)
    val got = snap2.agg(count(lit(1)).as("n"),
      sum("user_id").as("su")).head()
    // unpruned whole-table merge, same semantics, for the equivalence bit
    val full = s.read.parquet(dataP)
      .join(broadcast(matched), Seq("event_id"), "left")
      .filter(col("op").isNull || col("op") =!= "D")
      .select(col("event_id"),
        when(col("op") === "U", col("user_id") + 1000000L)
          .otherwise(col("user_id")).as("user_id"))
      .unionAll(inserts)
      .agg(count(lit(1)).as("n"), sum("user_id").as("su")).head()
    val ops = matched.groupBy("op").agg(count(lit(1))).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    s.createDataFrame(java.util.List.of(
      org.apache.spark.sql.Row(got.getLong(0), got.getLong(1),
        ops.getOrElse("U", 0L), ops.getOrElse("D", 0L), 100L,
        mani.length == 16 && picked.length <= 3,
        untouched.length == 16 - picked.length,
        got == full)),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("n_rows",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("sum_user",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("n_updated",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("n_deleted",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("n_inserted",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("files_pruned",
          org.apache.spark.sql.types.BooleanType),
        org.apache.spark.sql.types.StructField("untouched_reused",
          org.apache.spark.sql.types.BooleanType),
        org.apache.spark.sql.types.StructField("result_equal",
          org.apache.spark.sql.types.BooleanType))))
  }

  private[graft] def manifestPrune(s: SparkSession, dir: String): DataFrame = {
    val dataP = Scratch.dir(s, "x21_data")
    val maniP = Scratch.dir(s, "x21_manifest")
    val events = t(s, dir, "events").select("event_id", "user_id", "value")
    events.repartitionByRange(16, col("event_id"))
      .sortWithinPartitions("event_id")
      .write.mode("overwrite").parquet(dataP)
    // manifest maintenance: one distributed scan → 16 stat rows
    s.read.parquet(dataP)
      .groupBy(input_file_name().as("file"))
      .agg(min("event_id").as("min_id"), max("event_id").as("max_id"),
        count(lit(1)).as("rows"))
      .write.mode("overwrite").parquet(maniP)
    val mm = events.agg(min("event_id"), max("event_id")).head()
    val (lo0, hi0) = (mm.getLong(0), mm.getLong(1))
    val lo = lo0 + (hi0 - lo0) * 45 / 100
    val hi = lo0 + (hi0 - lo0) * 50 / 100
    val mani = s.read.parquet(maniP)
    val nFiles = mani.count()
    // plan from the manifest: files whose [min,max] intersect [lo,hi]
    val picked = mani.filter(col("min_id") <= hi && col("max_id") >= lo)
      .select("file").collect().map(_.getString(0))
    val viaManifest = s.read.parquet(picked.toIndexedSeq: _*)
      .filter(col("event_id").between(lo, hi))
      .agg(count(lit(1)).as("n"), sum("user_id").as("s"))
      .head()
    val full = s.read.parquet(dataP)
      .filter(col("event_id").between(lo, hi))
      .agg(count(lit(1)).as("n"), sum("user_id").as("s"))
      .head()
    s.createDataFrame(java.util.List.of(
      org.apache.spark.sql.Row(viaManifest.getLong(0),
        viaManifest.getLong(1),
        nFiles == 16L && picked.length <= 3,
        viaManifest == full)),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("n_match",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("sum_user",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("files_pruned",
          org.apache.spark.sql.types.BooleanType),
        org.apache.spark.sql.types.StructField("result_equal",
          org.apache.spark.sql.types.BooleanType))))
  }

  /** x26: NDV sketches in the file manifest (x21's min/max rows extended
    * with a per-file HLL sketch over the JOIN key, the p107 primitive
    * applied to metadata). A planner sizing a join over a pruned file
    * subset needs the subset's distinct-key count WITHOUT scanning it:
    * union the picked files' KB-sized sketches. Gate: the sketch
    * estimate for the picked subset lands within 5% of the exact
    * distinct count over those same files, the pick stays ≤3 of 16, and
    * the value-defined range NDV matches the oracle exactly.
    */
  private[graft] def manifestNdvSketch(s: SparkSession,
      dir: String): DataFrame = {
    val dataP = Scratch.dir(s, "x26_data")
    val maniP = Scratch.dir(s, "x26_manifest")
    val events = t(s, dir, "events").select("event_id", "user_id", "value")
    events.repartitionByRange(16, col("event_id"))
      .sortWithinPartitions("event_id")
      .write.mode("overwrite").parquet(dataP)
    // manifest maintenance: stats + a KB-sized NDV sketch per file
    s.read.parquet(dataP)
      .groupBy(input_file_name().as("file"))
      .agg(min("event_id").as("min_id"), max("event_id").as("max_id"),
        count(lit(1)).as("rows"),
        hll_sketch_agg(col("user_id"), lit(14)).as("user_sk"))
      .write.mode("overwrite").parquet(maniP)
    val mm = events.agg(min("event_id"), max("event_id")).head()
    val (lo0, hi0) = (mm.getLong(0), mm.getLong(1))
    val lo = lo0 + (hi0 - lo0) * 45 / 100
    val hi = lo0 + (hi0 - lo0) * 50 / 100
    val mani = s.read.parquet(maniP)
    val nFiles = mani.count()
    val pickedM = mani.filter(col("min_id") <= hi && col("max_id") >= lo)
    val picked = pickedM.select("file").collect().map(_.getString(0))
    // planner-side: NDV of the pruned subset from metadata only
    val est = pickedM
      .agg(hll_sketch_estimate(hll_union_agg(col("user_sk"), lit(false))))
      .head().getLong(0)
    val exactPicked = s.read.parquet(picked.toIndexedSeq: _*)
      .select(countDistinct("user_id")).head().getLong(0)
    val ndvRange = events.filter(col("event_id").between(lo, hi))
      .select(countDistinct("user_id")).head().getLong(0)
    s.createDataFrame(java.util.List.of(
      org.apache.spark.sql.Row(ndvRange,
        nFiles == 16L && picked.length <= 3,
        math.abs(est - exactPicked).toDouble /
          math.max(exactPicked, 1L) <= 0.05)),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("ndv_range_exact",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("files_pruned",
          org.apache.spark.sql.types.BooleanType),
        org.apache.spark.sql.types.StructField("sketch_within_5pct",
          org.apache.spark.sql.types.BooleanType))))
  }

  /** x28: the deterministic training order (p59's seeded md5 permutation)
    * MATERIALIZED as a physical layout — range-partitioned by the order
    * key, sorted within files — so "read the corpus in training order"
    * is a file-sequential scan, not a global sort at read time. Gate:
    * the files' [min,max] order-key ranges are pairwise disjoint (so
    * file order IS global order), row counts survive, and the first
    * rows of the first file are EXACTLY the oracle's ORDER BY
    * md5-rank head — read back from the layout without any sort job.
    * Range boundaries come from sampling and may vary run to run; every
    * asserted property holds for ANY boundary choice.
    */
  private[graft] def trainingOrderLayout(s: SparkSession,
      dir: String): DataFrame = {
    val dataP = Scratch.dir(s, "x28_order")
    val docs = t(s, dir, "documents").select("doc_id")
      .withColumn("ok",
        md5(concat(lit("shuf42:"), col("doc_id").cast("string"))))
    docs.repartitionByRange(8, col("ok"), col("doc_id"))
      .sortWithinPartitions("ok", "doc_id")
      .write.mode("overwrite").parquet(dataP)
    val files = s.read.parquet(dataP)
      .groupBy(input_file_name().as("file"))
      .agg(min("ok").as("mn"), max("ok").as("mx"),
        count(lit(1)).as("rows"))
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2),
        r.getLong(3)))
      .sortBy(_._2)
    val disjoint = files.sliding(2).forall {
      case Array((_, _, mx1, _), (_, mn2, _, _)) => mx1 < mn2
      case _ => true
    }
    val countOk = files.map(_._4).sum == docs.count()
    val head = s.read.parquet(files.head._1)
      .orderBy("ok", "doc_id").limit(3)
      .collect().map(_.getLong(0))
    s.createDataFrame(
      java.util.Arrays.asList(head.zipWithIndex.map { case (id, i) =>
        org.apache.spark.sql.Row(i + 1L, id, disjoint, countOk)
      }: _*),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("pos",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("doc_id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("files_disjoint",
          org.apache.spark.sql.types.BooleanType),
        org.apache.spark.sql.types.StructField("count_ok",
          org.apache.spark.sql.types.BooleanType))))
  }

  private[graft] def dynamicPartitionOverwrite(s: SparkSession,
      dir: String): DataFrame = {
    val base = Scratch.dir(s, "x18_dpo")
    val events = t(s, dir, "events")
      .select(col("event_id"), col("user_id"), col("value"),
        to_date(col("ts")).cast("string").as("day"))
    events.write.mode("overwrite").partitionBy("day").parquet(base)
    // bounded 1-value driver agg picks the backfill day
    val day0 = events.agg(min("day")).head().getString(0)
    val conf = s.sessionState.newHadoopConf()
    val basePath = new org.apache.hadoop.fs.Path(base)
    val fs = basePath.getFileSystem(conf)
    def listing(): Map[String, Set[String]] =
      fs.listStatus(basePath).filter(_.isDirectory).map { d =>
        d.getPath.getName ->
          fs.listStatus(d.getPath).map(_.getPath.getName).toSet
      }.toMap
    val before = listing()
    val corrected = events.filter(col("day") === day0)
      .withColumn("value", col("value") * 2)
    corrected.write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("day").parquet(base)
    val after = listing()
    val targetDir = s"day=$day0"
    val othersUntouched = before.keySet == after.keySet &&
      (before.keySet - targetDir).forall(k => before(k) == after(k))
    val targetReplaced = before(targetDir) != after(targetDir)
    s.read.parquet(base)
      .groupBy("day")
      .agg(count(lit(1)).as("n"),
        sum(round(col("value") * 100).cast("bigint")).as("cents"))
      .select(col("day"), col("n"), col("cents"),
        lit(othersUntouched).as("others_untouched"),
        lit(targetReplaced).as("target_replaced"))
  }

  /** Funnel 90% of the events onto one hot key and join the stream to
    * its purchase subset WITHOUT salting — then let AQE's runtime skew
    * handling split the oversized partition into parallel sub-joins
    * (OptimizeSkewedJoin marks the SMJ `skew=true`). Thresholds are
    * scaled down to the test corpus; on a production cluster the 256 MB
    * defaults apply.
    *
    * Two production caveats this gate encodes (both discovered the hard
    * way against Spark 4.1):
    *  1. AQE can only split a skewed REDUCE partition at MAP-task
    *     boundaries. A single-row-group parquet file yields one
    *     data-bearing mapper no matter what files.maxPartitionBytes
    *     says, making the hot partition unsplittable — hence the
    *     upstream repartition(8) here. At 100 TB the map side is
    *     thousands of tasks and this is free; the lesson is that skew
    *     handling degrades when map-side granularity is coarse.
    *  2. When a downstream aggregate reuses the join's partitioning,
    *     OptimizeSkewedJoin declines (the split would add a shuffle)
    *     unless `forceOptimizeSkewedJoin` is on — the split +
    *     re-shuffle is usually still the right trade for a hot key.
    *
    * The complementary MANUAL technique is x02's salting (needed when
    * AQE can't help, e.g. skewed aggregations). Callers must disable
    * broadcast so the join shuffles; PlanSpec asserts the skew split
    * actually happened on this plan.
    */
  private[graft] def aqeSkewJoin(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events").repartition(8)
    val hot = when(col("user_id") % 10 < 9, 0L).otherwise(col("user_id"))
    val l = ev.select(hot.as("k"), col("value"))
    val r = ev.filter(col("event_type") === "purchase")
      .select(hot.as("k"), col("event_id"))
    l.join(r, Seq("k"))
      .groupBy("k")
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,3)")).cast("double")
          .as("sum_value"))
  }

  /** Join with a runtime-injected Bloom filter: the selective predicate
    * on the dimension side builds a Bloom filter at runtime, and the
    * FACT-side scan probes it BEFORE the shuffle — rows that cannot
    * have a join partner never leave the map side. This is the runtime
    * sibling of DPP (x07): DPP prunes whole partitions via the storage
    * layout; the Bloom filter prunes row-by-row with no layout
    * requirement. At 100 TB this is the difference between shuffling
    * the full fact table and shuffling the ~matching fraction.
    *
    * Callers must disable broadcast (a broadcast join needs no runtime
    * filter) and drop the application-side size floor so the gate-scale
    * scan qualifies; production leaves the 10 GB floor in place so tiny
    * scans skip the filter overhead. PlanSpec asserts
    * `bloom_filter_might_contain` actually reached the fact scan.
    */
  private[graft] def bloomPrunedJoin(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir, "lineitem")
      .select("l_orderkey", "l_quantity", "l_returnflag")
    val ord = t(s, dir, "orders")
      .filter(col("o_orderpriority") === "1-URGENT")
      .select("o_orderkey")
    li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .groupBy("l_returnflag")
      .agg(count(lit(1)).as("n"),
        sum(col("l_quantity").cast("decimal(18,2)")).cast("double")
          .as("qty"))
  }

  /** Morton (Z-order) value of two non-negative int dimensions: bit i of
    * x lands at position 2i, bit i of y at 2i+1. Statically unrolled
    * bitwise expression — stays inside whole-stage codegen.
    */
  private[graft] def zOrderValue(x: org.apache.spark.sql.Column,
      y: org.apache.spark.sql.Column, bits: Int): org.apache.spark.sql.Column =
    (0 until bits).map { i =>
      shiftleft(shiftright(x, i).bitwiseAND(1), 2 * i)
        .bitwiseOR(shiftleft(shiftright(y, i).bitwiseAND(1), 2 * i + 1))
    }.reduce(_ bitwiseOR _)

  /** Z-order layout demo: the multi-dimensional clustering rung of the
    * storage-layout ladder (x05 hive partitions: coarse, one dim; x01
    * buckets: join co-location; THIS: range queries over two dims at
    * once). Events are written twice — round-robin (the naive layout)
    * and range-partitioned on the Morton value of (user_id, day) — and
    * a 2-dim box query counts how many FILES of each layout it touches
    * via input_file_name(). Interleaving bits makes a contiguous
    * (user, day) box map to a few contiguous z-runs, so the range
    * layout confines it to a few files while round-robin smears it over
    * all of them; at 100 TB that is the difference between listing a
    * handful of parquet footers and scanning the fleet. The gate output
    * is the p17 boolean pattern: the box row count (oracle-recomputed
    * exactly) plus `skip_ok` = z-order touched strictly FEWER files
    * than the naive layout. The bound is deliberately the weakest
    * monotone claim: file boundaries come from range-partitioner
    * sampling and round-robin hashing, so the exact ratio is
    * nondeterministic and a hard 2× assertion can flake at small scale
    * factors (ADVICE r5); the typically-observed ~4-8× skip is recorded
    * in PROGRESS, not asserted.
    */
  private[graft] def zorderSkipDemo(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events")
      .select(col("event_id"), col("user_id"), dayofmonth(col("ts")).as("day"))
    val z = ev.withColumn("z",
      zOrderValue(col("user_id"), col("day"), bits = 11))
    val naiveDir = Scratch.dir(s, "x12_naive")
    val zDir = Scratch.dir(s, "x12_zorder")
    z.repartition(16).write.mode("overwrite").parquet(naiveDir)
    z.repartitionByRange(16, col("z")).sortWithinPartitions("z")
      .write.mode("overwrite").parquet(zDir)
    def boxFiles(path: String): DataFrame =
      s.read.parquet(path)
        .filter(col("user_id").between(10, 29) && col("day").between(5, 9))
        // input_file_name() is nondeterministic → must be projected
        // before it can feed an aggregate
        .select(input_file_name().as("f"))
        .agg(count(lit(1)).as("n"), countDistinct(col("f")).as("files"))
    val n = boxFiles(naiveDir).select(col("n").as("n_match"),
      col("files").as("f_naive"))
    val zr = boxFiles(zDir).select(col("n").as("n_z"), col("files").as("f_z"))
    n.crossJoin(zr)
      .select(col("n_match"),
        (col("n_match") === col("n_z") &&
          col("f_z") < col("f_naive")).as("skip_ok"))
  }

  /** IVF-partitioned ANN storage: the at-rest layout p08's routing
    * promises. The corpus is WRITTEN hive-partitioned by its IVF cell;
    * the probe join (queries × their nProbe nearest cells, broadcast)
    * then prunes the scan to the probed cells via Spark's own dynamic
    * partition pruning — ANN routing literally becomes DPP (x07's
    * mechanism pointed at an ANN index). At 100 TB the unprobed cells'
    * files are never listed, let alone read. The gate compares the
    * layout path's top-k against the flat ivfTopK (same centroids,
    * same probes → identical results including tiebreaks); PlanSpec
    * asserts the dynamicpruning filter actually reached the cell scan.
    */
  /** x42 serving path: train, encode to a cell-partitioned codes
    * layout, and answer queries THROUGH the store (the frame PlanSpec
    * checks for the dynamicpruning partition filter). Returns the
    * trained halves too so the gate's flat comparison reuses them.
    */
  private[graft] def ivfPqLayoutParts(s: SparkSession, dir: String)
      : (DataFrame, Array[(Long, Seq[Float])],
         Array[Array[Array[Float]]]) = {
    import graft.pipeline.Similarity
    val corpus = t(s, dir, "embeddings")
    val queries = corpus.filter(col("vec_id") < 5)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    val (cents, cbs) = Similarity.ivfPqTrain(corpus, 16, 8, 16,
      "vec_id", "embedding")
    val layoutDir = Scratch.dir(s, "x42_ivfpq_layout")
    Similarity.ivfPqEncodeTable(corpus, cents, cbs, "vec_id", "embedding")
      .write.partitionBy("cell").mode("overwrite").parquet(layoutDir)
    (Similarity.ivfPqTopKFromCodes(s.read.parquet(layoutDir), corpus,
      queries, cents, cbs, k = 10, nProbe = 4, shortlistFactor = 10,
      "vec_id", "embedding", "qid", "qvec"), cents, cbs)
  }

  private[graft] def ivfPqLayoutServe(s: SparkSession,
      dir: String): DataFrame = ivfPqLayoutParts(s, dir)._1

  private[graft] def ivfLayoutTopK(s: SparkSession, dir: String): DataFrame = {
    import graft.pipeline.Similarity
    val k = 10
    val corpus = t(s, dir, "embeddings")
    val queries = corpus.filter(col("vec_id") < 5)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    val cents = Similarity.ivfCentroids(corpus, 16, "vec_id", "embedding")
    val layoutDir = Scratch.dir(s, "x13_ivf_layout")
    corpus.withColumn("cell",
        Similarity.ivfProbeCells(cents, col("embedding"), 1)
          .getItem(0).getField("cid"))
      .write.partitionBy("cell").mode("overwrite").parquet(layoutDir)
    // the partition column reads back int-typed (dir-name inference);
    // cast the probe side to match so the join sits on the raw
    // partition attribute and DPP can fire
    val stored = s.read.parquet(layoutDir)
    val qc = queries.withColumn("cell_l",
        explode(Similarity.ivfProbeCells(cents, col("qvec"), 4)
          .getField("cid")))
      .withColumn("cell", col("cell_l").cast("int")).drop("cell_l")
    val scored = stored.join(broadcast(qc), Seq("cell"))
      .withColumn("score",
        round(Similarity.cosine(col("embedding"), col("qvec")), 6))
    val layoutTop = Similarity.rankTopK(scored, k, "qid", "vec_id")
      .select("qid", "vec_id")
    val flatTop = Similarity.ivfTopK(corpus, queries, k = k,
      nCells = 16, nProbe = 4).select("qid", "vec_id")
    val same = layoutTop.join(flatTop, Seq("qid", "vec_id"))
      .groupBy("qid").agg(count(lit(1)).as("n_same"))
    layoutTop.groupBy("qid").agg(count(lit(1)).as("n_returned"))
      .join(same, Seq("qid"), "left")
      .select(col("qid"), col("n_returned"),
        (coalesce(col("n_same"), lit(0L)) === col("n_returned"))
          .as("same_as_flat"))
      .orderBy("qid")
  }

  /** Static broadcast OFF, runtime broadcast ON: the static planner must
    * commit to a sort-merge join (it can't know the dimension side
    * shrinks to ~20% post-filter), and AQE re-plans it to a broadcast
    * hash join from the ACTUAL shuffle-stage size. This is the
    * "estimate was wrong, runtime fixes it" story that matters at
    * 100 TB, where pre-join selectivities are routinely misestimated.
    */
  private[graft] val aqeBroadcastConfs = Seq(
    "spark.sql.autoBroadcastJoinThreshold" -> "-1",
    "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "4MB")

  private[graft] def aqeBroadcastPromotedJoin(s: SparkSession,
      dir: String): DataFrame = {
    val l = t(s, dir, "lineitem")
      .select("l_orderkey", "l_linestatus", "l_quantity")
    val o = t(s, dir, "orders")
      .filter(col("o_orderpriority") === "2-HIGH")
      .select("o_orderkey")
    l.join(o, col("l_orderkey") === col("o_orderkey"))
      .groupBy("l_linestatus")
      .agg(count(lit(1)).as("n"),
        sum(col("l_quantity").cast("decimal(18,2)")).cast("double")
          .as("qty"))
  }

  private[graft] val bloomJoinConfs = Seq(
    "spark.sql.autoBroadcastJoinThreshold" -> "-1",
    "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1",
    "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
    "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0")

  /** Hierarchical content-addressed corpus fingerprint (x33): doc
    * digest → sorted bucket digests → one root digest. Exactly
    * reproducible under ANY physical layout (partitioning never changes
    * a sorted-within-bucket aggregation) AND independent of the bucket
    * count derivation (the root is a digest of bucket digests in bucket
    * order, so equal corpora derive equal bucket counts and equal
    * roots) — the properties a reproducibility hash needs at 100 TB.
    *
    * Bucket-count bound (VERDICT r9 task 5): with the default
    * `nBuckets = 0` the count derives as max(64, ⌈n/maxBucketRows⌉),
    * so the per-bucket collect_list buffer holds at most
    * `maxBucketRows` 32-char digests ≈ 2^20 · 72 B ≈ 75 MB worst case
    * per aggregation buffer — FIXED, not corpus/64 (at 1B docs the old
    * fixed-64 scheme held ~0.5 GB per bucket). The root level then
    * aggregates ⌈n/2^20⌉ bucket digests: ~950 at 1B docs, ~1M (≈70 MB,
    * still one bounded buffer) at 1T — two levels bound every buffer
    * without a third. The count() that sizes the tree is a
    * metadata-only scan for parquet sources and is dwarfed by the
    * digest pass that follows; pass an explicit `nBuckets` to skip it
    * (the x33 gate pins 64 so the DuckDB oracle can hardcode `% 64` —
    * identical to the derived value below the 64·2^20-doc floor).
    *
    * Output: one row per bucket plus the root columns (broadcast
    * one-row cross join).
    */
  private[graft] def datasetFingerprint(df: DataFrame,
      idCol: String = "doc_id", textCol: String = "text",
      nBuckets: Int = 0, maxBucketRows: Long = 1L << 20): DataFrame = {
    val nb = if (nBuckets > 0) nBuckets.toLong
      else math.max(64L,
        (df.count() + maxBucketRows - 1L) / maxBucketRows)
    val d = df.select((col(idCol) % nb).as("bucket"),
      md5(concat(col(idCol).cast("string"), lit(":"), col(textCol)))
        .as("dg"))
    val bd = d.groupBy("bucket")
      .agg(md5(array_join(sort_array(collect_list(col("dg"))), ""))
        .as("bucket_dg"),
        count(lit(1)).as("n"))
    val root = bd
      .agg(md5(array_join(
        transform(array_sort(collect_list(struct(col("bucket"),
          col("bucket_dg")))), x => x.getField("bucket_dg")), ""))
        .as("root_dg"),
        sum("n").as("n_docs"))
    bd.crossJoin(broadcast(root))
      .select(col("bucket"), col("bucket_dg"), col("n"),
        col("root_dg"), col("n_docs"))
  }

  /** Write-audit-publish (x34): the release discipline every production
    * table write should use — write to a STAGING path, audit the staged
    * data (row count + the x33 content fingerprint against the source
    * relation), and only then atomically rename into the published
    * path. A write that fails its audit never becomes visible; readers
    * only ever see audited generations. All file operations go through
    * the Hadoop FileSystem API (rename is atomic on HDFS and a bounded
    * copy on object stores — the audit step is what makes even the
    * copy window safe, since the target appears only complete).
    */
  private[graft] def writeAuditPublish(s: SparkSession,
      dir: String): DataFrame = {
    import s.implicits._
    val base = Scratch.dir(s, "x34_wap")
    val fs = new org.apache.hadoop.fs.Path(base)
      .getFileSystem(s.sessionState.newHadoopConf())
    val src = t(s, dir, "documents").select("doc_id", "text")
    // the source's count + fingerprint are audit CONSTANTS — derived
    // once, not per publish (the r11 verdict nit: two count jobs + two
    // src fingerprint passes)
    val srcCount = src.count()
    val srcFp = datasetFingerprint(src, nBuckets = 64).head().getString(3)
    def publish(tag: String, corrupt: Boolean): (Boolean, Boolean) = {
      val staging = new org.apache.hadoop.fs.Path(s"$base/_staging_$tag")
      val published = new org.apache.hadoop.fs.Path(s"$base/$tag")
      val toWrite = if (corrupt) src.limit(100) else src
      toWrite.write.mode("overwrite").parquet(staging.toString)
      // audit: exact row count (parquet FOOTERS of the files just
      // written — driver metadata read, zero Spark jobs) + content
      // fingerprint vs the source constants.
      // nBuckets pinned: skips the derived-sizing count() (ADVICE r10)
      // — at audit scale the caller knows the layout it just wrote
      val staged = s.read.parquet(staging.toString)
      val ok = graft.pipeline.Dedup.barrierRowCount(s, staging) == srcCount &&
        datasetFingerprint(staged, nBuckets = 64).head().getString(3) ==
          srcFp
      val visible = if (ok) fs.rename(staging, published)
      else { fs.delete(staging, true); false }
      (ok, visible && fs.exists(published))
    }
    val (okGood, visGood) = publish("good", corrupt = false)
    val (okBad, visBad) = publish("bad", corrupt = true)
    val readBack = graft.pipeline.Dedup.barrierRowCount(s,
      new org.apache.hadoop.fs.Path(s"$base/good"))
    Seq((srcCount, readBack, okGood, visGood, !okBad, !visBad,
      !fs.exists(new org.apache.hadoop.fs.Path(s"$base/bad")),
      !fs.exists(new org.apache.hadoop.fs.Path(s"$base/_staging_bad"))))
      .toDF("n_rows", "n_published", "good_audited", "good_visible",
        "bad_rejected", "bad_not_visible", "bad_absent",
        "staging_cleaned")
  }

  /** Orphan-file GC (the table-maintenance job every rewriting layout —
    * compaction x09, dynamic overwrite x18, snapshot x22 — eventually
    * needs): files in the directory but absent from the manifest are
    * superseded generations; GC deletes exactly those, older than a
    * grace period, through the Hadoop FileSystem API. Deletion PLANNING
    * is relational — FS listing anti-joined against the manifest — so
    * at a million files it's a join, not a driver loop (execution here
    * collects the bounded orphan list to issue deletes; a cluster
    * deployment fans the deletes out with foreachPartition on the same
    * frame).
    *
    * Fixture: 8-file v1 write, then a 2-file compaction APPENDED into
    * the same directory with only the new files manifested — the
    * in-place-rewrite moment that strands old generations.
    */
  private[graft] def orphanGcReport(s: SparkSession,
      dir: String): DataFrame = {
    import s.implicits._
    val base = Scratch.dir(s, "x30_gc")
    val data = s"$base/data"
    val src = t(s, dir, "lineitem")
      .filter(col("l_orderkey") % 4 === 0)
      .select("l_orderkey", "l_partkey", "l_quantity")
    src.repartition(8).write.mode("overwrite").parquet(data)
    val dp = new org.apache.hadoop.fs.Path(data)
    val fs = dp.getFileSystem(s.sessionState.newHadoopConf())
    def listData(): Seq[org.apache.hadoop.fs.FileStatus] =
      fs.listStatus(dp).toSeq
        .filter(st => st.isFile && st.getPath.getName.endsWith(".parquet"))
    val v1Files = listData().map(_.getPath.getName)
    // compaction generation: new files appended, old ones superseded
    s.read.parquet(data).coalesce(2)
      .write.mode("append").parquet(data)
    val live = listData().map(_.getPath.getName)
      .filterNot(v1Files.contains)
    val manifest = live.toDF("file_name")
    val before = listData()
    val nBefore = before.size.toLong
    // relational GC plan: listing ⟕ manifest, keep unmatched
    val listing = before
      .map(st => (st.getPath.getName, st.getLen))
      .toDF("file_name", "bytes")
    val orphans = listing.join(manifest, Seq("file_name"), "left_anti")
      .collect().map(_.getString(0))
    orphans.foreach(n =>
      fs.delete(new org.apache.hadoop.fs.Path(dp, n), false))
    val after = listData().map(_.getPath.getName).toSet
    val expected = src.agg(count(lit(1))).head().getLong(0)
    // the manifest-planned read must see exactly the compacted rows
    val got = s.read.parquet(
      live.map(n => s"$data/$n"): _*).count()
    Seq((expected, nBefore, live.size.toLong, orphans.length.toLong,
      orphans.forall(!after.contains(_)), live.forall(after.contains),
      got == expected))
      .toDF("n_rows", "n_before", "n_live", "n_deleted",
        "orphans_gone", "live_intact", "rows_match")
  }

  val all: Seq[QueryDef] = Seq(

    // Content-hash index maintenance (VERDICT r5 task 6): the narrow
    // (digest, keep_id) table p36's doc promises production maintains
    // alongside the corpus. Two ingest appends (the second carrying
    // planted cross-batch dups that must NOT re-enter) + a compaction;
    // the oracle recomputes first-seen-batch/min-id semantics from the
    // raw documents, and the compaction file bound rides as a gated
    // boolean (the p17/x09 pattern).
    QueryDef("x14_dedup_index",
      """WITH all_rows AS (
        |  SELECT doc_id, md5(text) AS h, 1 AS b
        |  FROM documents WHERE doc_id < 250
        |  UNION ALL
        |  SELECT doc_id, md5(text) AS h, 2 AS b
        |  FROM documents WHERE doc_id >= 250
        |  UNION ALL
        |  SELECT doc_id + 1000000 AS doc_id, md5(text) AS h, 2 AS b
        |  FROM documents WHERE doc_id < 250 AND doc_id % 10 = 0),
        |fb AS (SELECT h, MIN(b) AS fb FROM all_rows GROUP BY 1)
        |SELECT a.h, CAST(MIN(a.doc_id) AS BIGINT) AS keep_id,
        |  true AS compacted_bounded
        |FROM all_rows a JOIN fb f ON a.h = f.h AND a.b = f.fb
        |GROUP BY a.h""".stripMargin) { (s, dir) =>
      import graft.pipeline.DedupIndex
      val idxDir = Scratch.dir(s, "x14_index")
      val d = t(s, dir, "documents").select("doc_id", "text")
      val b1 = d.filter(col("doc_id") < 250)
      val b2 = d.filter(col("doc_id") >= 250)
        .unionAll(b1.filter(col("doc_id") % 10 === 0)
          .select((col("doc_id") + 1000000).as("doc_id"), col("text")))
      DedupIndex.append(s, idxDir, b1, "doc_id", "text")
      DedupIndex.append(s, idxDir, b2, "doc_id", "text")
      val before = DedupIndex.fileCount(s, idxDir)
      DedupIndex.compact(s, idxDir)
      val after = DedupIndex.fileCount(s, idxDir)
      DedupIndex.read(s, idxDir).select(col("h"), col("keep_id"),
        lit(after <= before && after <= 8).as("compacted_bounded"))
    },

    // AQE runtime broadcast promotion: statically-planned SMJ re-planned
    // to BHJ from actual post-filter shuffle sizes (PlanSpec asserts
    // SMJ-in-initial / BHJ-in-final).
    QueryDef("x15_aqe_broadcast",
      """SELECT l_linestatus, CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS qty
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE o_orderpriority = '2-HIGH'
        |GROUP BY l_linestatus""".stripMargin) { (s, dir) =>
      aqeBroadcastConfs.foreach { case (k, v) => s.conf.set(k, v) }
      try {
        val out = Scratch.dir(s, "x15_result")
        // materialize under the confs (the x01/x06 trick) so the plan
        // that runs is the one AQE promoted
        aqeBroadcastPromotedJoin(s, dir).write.mode("overwrite").parquet(out)
        s.read.parquet(out)
      } finally aqeBroadcastConfs.foreach { case (k, _) => s.conf.unset(k) }
    },

    // Runtime Bloom-filter join pruning (the row-level runtime filter;
    // x07's DPP is the partition-level one).
    QueryDef("x11_bloom_join",
      """SELECT l_returnflag, CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS qty
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE o_orderpriority = '1-URGENT'
        |GROUP BY l_returnflag""".stripMargin) { (s, dir) =>
      bloomJoinConfs.foreach { case (k, v) => s.conf.set(k, v) }
      try {
        val out = Scratch.dir(s, "x11_result")
        // materialize under the confs (the x01/x06 trick) so the plan
        // that runs carries the runtime filter
        bloomPrunedJoin(s, dir).write.mode("overwrite").parquet(out)
        s.read.parquet(out)
      } finally bloomJoinConfs.foreach { case (k, _) => s.conf.unset(k) }
    },

    // IVF-partitioned ANN storage: routing as dynamic partition pruning.
    QueryDef("x13_ivf_layout",
      """SELECT vec_id AS qid, CAST(10 AS BIGINT) AS n_returned,
        |  true AS same_as_flat
        |FROM embeddings WHERE vec_id < 5 ORDER BY qid""".stripMargin) {
      (s, dir) => ivfLayoutTopK(s, dir)
    },

    // The persisted IVF-PQ index: x13's cell-partitioned DPP layout
    // holding p136's CODES table — at 100 TB the stored artifact is
    // nSub bytes + one float per row (32-256x smaller than the
    // embeddings) AND the probe join lists only probed cells' files.
    // Compression and pruning compose because neither touches the
    // other's axis: PQ shrinks the rows, partitioning skips the files.
    // The gate pins the served top-k identical to the in-memory
    // operator (same training → same ranking incl. tiebreaks);
    // PlanSpec pins the dynamicpruning filter on the stored scan.
    QueryDef("x42_ivfpq_layout",
      """SELECT vec_id AS qid, CAST(10 AS BIGINT) AS n_returned,
        |  true AS same_as_flat
        |FROM embeddings WHERE vec_id < 5 ORDER BY qid""".stripMargin) {
      (s, dir) =>
      import graft.pipeline.Similarity
      val corpus = t(s, dir, "embeddings")
      val queries = corpus.filter(col("vec_id") < 5)
        .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
      // ONE trained index shared by both sides: the equality then
      // isolates exactly what x42 claims to test — the storage
      // roundtrip + DPP-pruned serving path — instead of also relying
      // on re-training determinism (and paying train+encode twice)
      val (served, cents, cbs) = ivfPqLayoutParts(s, dir)
      val flat = Similarity.ivfPqTopKFromCodes(
        Similarity.ivfPqEncodeTable(corpus, cents, cbs,
          "vec_id", "embedding"),
        corpus, queries, cents, cbs, k = 10, nProbe = 4,
        shortlistFactor = 10, "vec_id", "embedding", "qid", "qvec")
      Similarity.sameTopK(served, flat)
    },

    // Z-order (Morton) multi-dimensional clustering: 2-dim box queries
    // touch a few files instead of all of them. Boolean-gate pattern
    // (p17): the oracle recomputes the box count exactly and asserts
    // the file-skipping invariant literally.
    QueryDef("x12_zorder_layout",
      """SELECT CAST(COUNT(*) AS BIGINT) AS n_match, true AS skip_ok
        |FROM events
        |WHERE user_id BETWEEN 10 AND 29
        |  AND date_part('day', ts) BETWEEN 5 AND 9""".stripMargin) {
      (s, dir) => zorderSkipDemo(s, dir)
    },

    // AQE runtime skew-join split (the automatic half of the skew story;
    // x02 below is the manual salting half).
    QueryDef("x06_aqe_skew_join",
      """WITH l AS (
        |  SELECT CASE WHEN user_id % 10 < 9 THEN 0 ELSE user_id END AS k,
        |    value
        |  FROM events),
        |r AS (
        |  SELECT CASE WHEN user_id % 10 < 9 THEN 0 ELSE user_id END AS k,
        |    event_id
        |  FROM events WHERE event_type = 'purchase')
        |SELECT l.k, CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(SUM(CAST(l.value AS DECIMAL(18,3))) AS DOUBLE) AS sum_value
        |FROM l JOIN r ON l.k = r.k GROUP BY l.k""".stripMargin) { (s, dir) =>
      val confs = Seq(
        "spark.sql.autoBroadcastJoinThreshold" -> "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "2KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "1KB",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2.0",
        "spark.sql.adaptive.forceOptimizeSkewedJoin" -> "true")
      confs.foreach { case (k, v) => s.conf.set(k, v) }
      try {
        val out = Scratch.dir(s, "x06_result")
        // materialize under the skew confs (same trick as x01)
        aqeSkewJoin(s, dir).write.mode("overwrite").parquet(out)
        s.read.parquet(out)
      } finally confs.foreach { case (k, _) => s.conf.unset(k) }
    },

    // Partition-pruned scan over a hive-layout table: the storage-layout
    // rung of the 100 TB ladder (partitionBy for coarse pruning; x01's
    // bucketing for join co-location below it).
    QueryDef("x05_partition_pruning",
      """SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,3))) AS DOUBLE) AS sum_value
        |FROM events WHERE event_type = 'purchase'
        |GROUP BY event_type""".stripMargin) { (s, dir) =>
      partitionPrunedAgg(s, dir)
    },

    // Dynamic partition pruning: dimension-side predicate prunes fact
    // partitions at runtime (no partition value appears in the query).
    QueryDef("x07_dynamic_pruning",
      """WITH dim AS (
        |  SELECT DISTINCT event_type,
        |    CASE WHEN event_type IN ('purchase', 'signup')
        |         THEN 'conversion' ELSE 'engagement' END AS category
        |  FROM events)
        |SELECT e.event_type, CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(SUM(CAST(e.value AS DECIMAL(18,3))) AS DOUBLE) AS sum_value
        |FROM events e JOIN dim d ON e.event_type = d.event_type
        |WHERE d.category = 'conversion'
        |GROUP BY e.event_type""".stripMargin) { (s, dir) =>
      dppPrunedJoin(s, dir)
    },

    // Schema evolution: mergeSchema read over batches written before and
    // after the lang/source columns existed — old rows surface nulls.
    QueryDef("x08_schema_evolution",
      """SELECT doc_id,
        |  CASE WHEN doc_id < 250 THEN NULL ELSE lang END AS lang,
        |  CASE WHEN doc_id < 250 THEN NULL ELSE source END AS source,
        |  CAST(length(text) AS BIGINT) AS n_chars
        |FROM documents""".stripMargin) { (s, dir) =>
      schemaEvolvedRead(s, dir)
    },

    // Small-file compaction: size-derived output partitioning; row
    // fidelity exact, layout bounds as gated booleans.
    QueryDef("x09_compaction",
      """SELECT CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(length(text)) AS BIGINT) AS sum_chars,
        |  true AS compacted_fewer_files, true AS file_count_bounded
        |FROM documents""".stripMargin) { (s, dir) =>
      compactedStats(s, dir)
    },

    // Bucket pruning: point-lookup IN predicate on the bucket column
    // reads only the buckets the literals hash to (PlanSpec asserts
    // SelectedBucketsCount < 8 on this exact plan).
    QueryDef("x25_partition_bucket_prune",
      """WITH k AS (SELECT doc_id FROM documents
        |           WHERE lang = 'en' ORDER BY doc_id LIMIT 3)
        |SELECT doc_id, lang, source, n_chars FROM documents
        |WHERE lang = 'en' AND doc_id IN (SELECT doc_id FROM k)"""
        .stripMargin) { (s, dir) =>
      bucketScanConfs.foreach { case (k, v) => s.conf.set(k, v) }
      try {
        val out = Scratch.dir(s, "x25_result")
        partitionBucketLookup(s, dir).write.mode("overwrite").parquet(out)
        s.read.parquet(out)
      } finally {
        bucketScanConfs.foreach { case (k, _) => s.conf.unset(k) }
      }
    },

    QueryDef("x19_bucket_prune",
      """SELECT c_custkey, c_name, c_nationkey
        |FROM customer WHERE c_custkey IN (7, 23, 101)""".stripMargin) {
      (s, dir) =>
        bucketScanConfs.foreach { case (k, v) => s.conf.set(k, v) }
        try {
          // materialize while the conf holds so the executed plan is the
          // bucket-pruned scan (x01's materialize-under-confs pattern)
          val out = Scratch.dir(s, "x19_result")
          bucketPrunedLookup(s, dir).write.mode("overwrite").parquet(out)
          s.read.parquet(out)
        } finally {
          bucketScanConfs.foreach { case (k, _) => s.conf.unset(k) }
        }
    },

    QueryDef("x18_partition_overwrite",
      """WITH d0 AS (
        |  SELECT min(CAST(CAST(ts AS DATE) AS VARCHAR)) AS day0
        |  FROM events)
        |SELECT CAST(CAST(ts AS DATE) AS VARCHAR) AS day,
        |  CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(CAST(round(
        |    CASE WHEN CAST(CAST(ts AS DATE) AS VARCHAR) =
        |      (SELECT day0 FROM d0)
        |    THEN value * 2 ELSE value END * 100) AS BIGINT)) AS BIGINT)
        |    AS cents,
        |  true AS others_untouched, true AS target_replaced
        |FROM events GROUP BY 1""".stripMargin) { (s, dir) =>
      dynamicPartitionOverwrite(s, dir)
    },

    QueryDef("x17_column_index",
      """WITH b AS (SELECT min(o_orderkey) AS lo0, max(o_orderkey) AS hi0
        |  FROM orders)
        |SELECT CAST(count(*) AS BIGINT) AS n_match,
        |  true AS column_index_present, true AS page_skip_ok
        |FROM orders, b
        |WHERE o_orderkey BETWEEN lo0 + (hi0 - lo0) * 45 // 100
        |  AND lo0 + (hi0 - lo0) * 50 // 100""".stripMargin) { (s, dir) =>
      columnIndexStats(s, dir)
    },

    // Manifest-table file pruning: per-file min/max stats kept in a
    // narrow parquet table (one distributed agg at write time); a range
    // probe plans its file list from the manifest RELATIONALLY — at
    // 100 TB the x12/x17 footer walk is itself a million-file driver
    // scan, the manifest is a table Spark distributes. Booleans assert
    // ≤ 3 of 16 files read and manifest-planned ≡ full-scan results.
    QueryDef("x28_training_order_layout",
      """WITH o AS (SELECT doc_id,
        |    md5('shuf42:' || CAST(doc_id AS VARCHAR)) AS ok
        |  FROM documents),
        |r AS (SELECT doc_id,
        |    ROW_NUMBER() OVER (ORDER BY ok, doc_id) AS pos FROM o)
        |SELECT CAST(pos AS BIGINT) AS pos, doc_id,
        |  true AS files_disjoint, true AS count_ok
        |FROM r WHERE pos <= 3""".stripMargin) { (s, dir) =>
      trainingOrderLayout(s, dir)
    },

    QueryDef("x26_manifest_ndv",
      """WITH b AS (SELECT min(event_id) AS lo0, max(event_id) AS hi0
        |  FROM events)
        |SELECT CAST(count(DISTINCT user_id) AS BIGINT) AS ndv_range_exact,
        |  true AS files_pruned, true AS sketch_within_5pct
        |FROM events, b
        |WHERE event_id BETWEEN lo0 + (hi0 - lo0) * 45 // 100
        |  AND lo0 + (hi0 - lo0) * 50 // 100""".stripMargin) { (s, dir) =>
      manifestNdvSketch(s, dir)
    },

    QueryDef("x21_manifest_prune",
      """WITH b AS (SELECT min(event_id) AS lo0, max(event_id) AS hi0
        |  FROM events)
        |SELECT CAST(count(*) AS BIGINT) AS n_match,
        |  CAST(sum(user_id) AS BIGINT) AS sum_user,
        |  true AS files_pruned, true AS result_equal
        |FROM events, b
        |WHERE event_id BETWEEN lo0 + (hi0 - lo0) * 45 // 100
        |  AND lo0 + (hi0 - lo0) * 50 // 100""".stripMargin) { (s, dir) =>
      manifestPrune(s, dir)
    },

    QueryDef("x16_parquet_bloom",
      """SELECT CAST(count(*) AS BIGINT) AS n_match,
        |  true AS bloom_on_requested_col, true AS no_bloom_on_other_cols
        |FROM orders
        |WHERE o_custkey = (SELECT min(o_custkey) FROM orders)"""
        .stripMargin) { (s, dir) =>
      parquetBloomStats(s, dir)
    },

    // Incremental snapshot consumption off the manifest table (the
    // lakehouse CDC-read pattern): every data file carries a snapshot
    // id in the manifest; a consumer holding watermark snap ≤ 1 plans
    // its scan from `manifest WHERE snap > 1` and reads ONLY the files
    // the new snapshot added — no listing, no full scan, no reliance
    // on file mtimes. At 100 TB this is how downstream jobs tail a
    // continuously-ingested corpus: the manifest diff IS the change
    // feed. Booleans assert the incremental plan touched exactly the
    // 4-of-16 new files and that its result equals the direct
    // predicate scan.
    QueryDef("x22_incremental_scan",
      """SELECT CAST(count(*) AS BIGINT) AS n_new,
        |  CAST(sum(user_id) AS BIGINT) AS sum_user,
        |  true AS incremental_files_only, true AS matches_direct
        |FROM events WHERE event_id % 5 = 0""".stripMargin) { (s, dir) =>
      incrementalScan(s, dir)
    },

    // Bucketed AND per-bucket-sorted layout: co-bucketed tables with one
    // file per bucket join with NEITHER a shuffle NOR a sort — the scan
    // itself satisfies the SortMergeJoin's distribution and ordering
    // requirements. x01 kills the Exchange; this kills the per-task Sort
    // too (the remaining cost at 100 TB once shuffles are gone: sorting
    // a terabyte bucket every join). The one-file-per-bucket invariant
    // comes from pre-repartitioning on the bucket key — multiple sorted
    // files per bucket would force Spark to re-sort anyway.
    QueryDef("x24_sorted_bucket_join",
      """SELECT CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
        |    AS qty,
        |  true AS no_shuffle_below_join, true AS no_sort
        |FROM orders JOIN lineitem ON o_orderkey = l_orderkey"""
        .stripMargin) { (s, dir) =>
      sortedBucketJoin(s, dir)
    },

    // CBO statistics flip the dimension join to broadcast: with ANALYZE
    // column stats the one-customer equality filter is estimated at
    // rows/ndv(o_custkey) and drops far under the S/50 threshold;
    // size-only estimation keeps the (column-pruned) table size above
    // it and shuffles.
    QueryDef("x23_cbo_broadcast",
      """SELECT CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
        |    AS sum_qty,
        |  true AS cbo_broadcasts, true AS default_shuffles
        |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        |WHERE o_custkey = (SELECT min(o_custkey) FROM orders)"""
        .stripMargin) { (s, dir) =>
      cboBroadcast(s, dir)
    },

    // Skew-proof partitioned write: REBALANCE on the partition key makes
    // AQE split the hot partition's oversized shuffle output into
    // advisory-sized chunks (multiple writer tasks → multiple right-sized
    // files) while the cold partitions stay single-file — the fix for the
    // one-giant-file-per-hot-partition write pattern that serializes a
    // 100 TB backfill onto one task. Booleans assert the file layout
    // (hot dir ≥ 2 files, every cold dir exactly 1); counts are
    // oracle-recomputed.
    QueryDef("x20_rebalance_write",
      """SELECT CASE WHEN event_id % 10 < 9 THEN 'hot'
        |  ELSE 'cold_' || CAST(event_id % 10 AS VARCHAR) END AS skew_key,
        |  CAST(count(*) AS BIGINT) AS n,
        |  true AS hot_split, true AS colds_single
        |FROM events GROUP BY 1""".stripMargin) { (s, dir) =>
      rebalanceWrite(s, dir)
    },

    // AQE shuffle coalescing: runtime right-sizing of a tiny post-filter
    // aggregation shuffle (static partitions are a ceiling, not a width).
    QueryDef("x10_aqe_coalesce",
      """SELECT l_returnflag, CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
        |    AS sum_price
        |FROM lineitem WHERE l_quantity <= 2
        |GROUP BY l_returnflag""".stripMargin) { (s, dir) =>
      aqeCoalescedAgg(s, dir)
    },

    // Bucketed co-located join: both sides written bucketed by the join
    // key with the same bucket count → the join reads bucket-aligned
    // files with NO shuffle exchange. This is the pre-partitioning story
    // for repeated fact-fact joins at scale.
    QueryDef("x01_bucketed_join",
      """SELECT o_orderpriority, COUNT(*) AS n,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS qty
        |FROM orders JOIN lineitem ON l_orderkey = o_orderkey
        |GROUP BY o_orderpriority""".stripMargin) { (s, dir) =>
      s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      s.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
      try {
        val joined = bucketedJoin(s, dir)
        // materialize NOW, while the no-broadcast confs hold, so the
        // plan that runs is the bucket-aligned shuffle-free SMJ (a
        // caller-triggered action later would re-plan under restored
        // confs); then hand back the materialized result
        val out = Scratch.dir(s, "x01_result")
        joined.write.mode("overwrite").parquet(out)
        s.read.parquet(out)
      } finally {
        s.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        s.conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold")
      }
    },

    // As-of join (time-series nearest-preceding match): for every click,
    // the most recent prior-or-simultaneous purchase by the same user.
    // Spark has no ASOF JOIN operator; the SURVEY §7 ladder rung (a)
    // composition is the union trick — tag both sides, one window pass
    // per user carrying the last right-side row forward — giving ONE
    // shuffle on user_id and zero inequality-join cross products. The
    // oracle runs DuckDB's NATIVE ASOF LEFT JOIN, so the composition is
    // value-checked against a real engine implementation of the operator.
    // The same as-of semantics as x03, but through the CUSTOM operator
    // (AsOfJoin LogicalPlan → AsOfJoinStrategy → AsOfJoinExec streaming
    // merge): no union, no window, no padding columns — just the two
    // key-partitioned sort exchanges and an O(1)-state merge. Same
    // DuckDB ASOF LEFT JOIN oracle as x03, so both implementations are
    // value-checked against a third engine; PlanSpec asserts the
    // physical shape (AsOfJoinExec, <=2 exchanges, no Window).
    QueryDef("x27_asof_custom",
      """WITH r AS (
        |  SELECT user_id, ts,
        |    CAST(MAX(CAST(value AS DECIMAL(18,3))) AS DOUBLE) AS purchase_value
        |  FROM events WHERE event_type = 'purchase' GROUP BY 1, 2),
        |l AS (
        |  SELECT user_id, event_id, ts FROM events WHERE event_type = 'click')
        |SELECT l.user_id, l.event_id, l.ts,
        |  r.ts AS purchase_ts, r.purchase_value
        |FROM l ASOF LEFT JOIN r
        |  ON l.user_id = r.user_id AND l.ts >= r.ts""".stripMargin) {
      (s, dir) =>
        import org.apache.spark.sql.graft.AsOfJoinOps
        val ev = t(s, dir, "events")
        val r = ev.filter(col("event_type") === "purchase")
          .groupBy("user_id", "ts")
          .agg(max(col("value").cast("decimal(18,3)")).cast("double")
            .as("purchase_value"))
          .select(col("user_id").as("r_uid"), col("ts").as("purchase_ts"),
            col("purchase_value"))
        val l = ev.filter(col("event_type") === "click")
          .select("user_id", "event_id", "ts")
        AsOfJoinOps.asofJoin(l, r, "user_id", "ts", "r_uid", "purchase_ts")
          .select("user_id", "event_id", "ts", "purchase_ts",
            "purchase_value")
    },

    // Broadcast as-of: the same enrichment as x27 but through
    // AsOfJoinBroadcastExec — the dimension ships once per executor and
    // the fact side is never shuffled or sorted (PlanSpec pins zero
    // exchanges above the fact scan). Same DuckDB ASOF LEFT JOIN
    // oracle, so the binary-search probe path is value-checked against
    // a third engine AND against x27's merge path (identical oracle).
    QueryDef("x38_asof_broadcast",
      """WITH r AS (
        |  SELECT user_id, ts,
        |    CAST(MAX(CAST(value AS DECIMAL(18,3))) AS DOUBLE) AS purchase_value
        |  FROM events WHERE event_type = 'purchase' GROUP BY 1, 2),
        |l AS (
        |  SELECT user_id, event_id, ts FROM events WHERE event_type = 'click')
        |SELECT l.user_id, l.event_id, l.ts,
        |  r.ts AS purchase_ts, r.purchase_value
        |FROM l ASOF LEFT JOIN r
        |  ON l.user_id = r.user_id AND l.ts >= r.ts""".stripMargin) {
      (s, dir) =>
        import org.apache.spark.sql.graft.AsOfJoinOps
        val ev = t(s, dir, "events")
        val r = ev.filter(col("event_type") === "purchase")
          .groupBy("user_id", "ts")
          .agg(max(col("value").cast("decimal(18,3)")).cast("double")
            .as("purchase_value"))
          .select(col("user_id").as("r_uid"), col("ts").as("purchase_ts"),
            col("purchase_value"))
        val l = ev.filter(col("event_type") === "click")
          .select("user_id", "event_id", "ts")
        AsOfJoinOps.asofJoinBroadcast(l, r, "user_id", "ts", "r_uid",
          "purchase_ts")
          .select("user_id", "event_id", "ts", "purchase_ts",
            "purchase_value")
    },

    // Broadcast point-in-interval enrichment (the interval counterpart
    // of x38, completing the merge/broadcast × as-of/interval matrix):
    // every click tagged with EVERY purchase window containing it —
    // correct multiplicity, facts-outer null-extension — while the fact
    // side crosses zero exchanges (the dimension broadcasts). Oracle:
    // the plain declarative LEFT JOIN + BETWEEN in DuckDB.
    QueryDef("x39_interval_enrich_broadcast",
      """WITH p AS (SELECT user_id, event_id, epoch_us(ts) AS ts_us
        |  FROM events WHERE event_type = 'click'),
        |w AS (SELECT DISTINCT user_id AS k, epoch_us(ts) + 1 AS lo,
        |    epoch_us(ts) + 300000000 AS hi, epoch_us(ts) AS wid
        |  FROM events WHERE event_type = 'purchase')
        |SELECT p.user_id, p.event_id, w.wid
        |FROM p LEFT JOIN w
        |  ON p.user_id = w.k AND p.ts_us BETWEEN w.lo AND w.hi"""
        .stripMargin) { (s, dir) =>
      import org.apache.spark.sql.graft.IntervalJoinOps
      val ev = t(s, dir, "events")
      val points = ev.filter(col("event_type") === "click")
        .select(col("user_id"), col("event_id"),
          unix_micros(col("ts")).as("ts_us"))
      val windows = ev.filter(col("event_type") === "purchase")
        .select(col("user_id").as("k"),
          (unix_micros(col("ts")) + 1).as("lo"),
          (unix_micros(col("ts")) + 300000000L).as("hi"),
          unix_micros(col("ts")).as("wid"))
        .distinct()
      IntervalJoinOps.pointInIntervalBroadcast(points, windows,
        "user_id", "ts_us", "k", "lo", "hi", outer = true)
        .select("user_id", "event_id", "wid")
    },

    // Inner as-of parity: DuckDB's plain ASOF JOIN drops clicks with no
    // prior purchase instead of null-padding them — the dual of x27.
    // Same custom operator, outer=false; the oracle is DuckDB's native
    // inner ASOF JOIN, so the skip-unmatched merge path is value-checked
    // against a third engine's implementation.
    QueryDef("x36_asof_inner",
      """WITH r AS (
        |  SELECT user_id, ts,
        |    CAST(MAX(CAST(value AS DECIMAL(18,3))) AS DOUBLE) AS purchase_value
        |  FROM events WHERE event_type = 'purchase' GROUP BY 1, 2),
        |l AS (
        |  SELECT user_id, event_id, ts FROM events WHERE event_type = 'click')
        |SELECT l.user_id, l.event_id, l.ts,
        |  r.ts AS purchase_ts, r.purchase_value
        |FROM l ASOF JOIN r
        |  ON l.user_id = r.user_id AND l.ts >= r.ts""".stripMargin) {
      (s, dir) =>
        import org.apache.spark.sql.graft.AsOfJoinOps
        val ev = t(s, dir, "events")
        val r = ev.filter(col("event_type") === "purchase")
          .groupBy("user_id", "ts")
          .agg(max(col("value").cast("decimal(18,3)")).cast("double")
            .as("purchase_value"))
          .select(col("user_id").as("r_uid"), col("ts").as("purchase_ts"),
            col("purchase_value"))
        val l = ev.filter(col("event_type") === "click")
          .select("user_id", "event_id", "ts")
        AsOfJoinOps.asofJoinInner(l, r, "user_id", "ts", "r_uid",
          "purchase_ts")
          .select("user_id", "event_id", "ts", "purchase_ts",
            "purchase_value")
    },

    QueryDef("x03_asof_join",
      """WITH r AS (
        |  SELECT user_id, ts,
        |    CAST(MAX(CAST(value AS DECIMAL(18,3))) AS DOUBLE) AS purchase_value
        |  FROM events WHERE event_type = 'purchase' GROUP BY 1, 2),
        |l AS (
        |  SELECT user_id, event_id, ts FROM events WHERE event_type = 'click')
        |SELECT l.user_id, l.event_id, l.ts,
        |  r.ts AS purchase_ts, r.purchase_value
        |FROM l ASOF LEFT JOIN r
        |  ON l.user_id = r.user_id AND l.ts >= r.ts""".stripMargin) { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val ev = t(s, dir, "events")
      // right side unique per (user_id, ts) so the as-of row is well
      // defined even on tied timestamps
      // the carried right-side columns travel as ONE struct so a single
      // last(ignoreNulls) picks them from the SAME purchase row — two
      // independent last() calls could mix rows when a value is null
      val r = ev.filter(col("event_type") === "purchase")
        .groupBy("user_id", "ts")
        .agg(max(col("value").cast("decimal(18,3)")).cast("double")
          .as("purchase_value"))
        .select(col("user_id"), col("ts"), lit(0).as("tag"),
          lit(null).cast("long").as("event_id"),
          struct(col("ts").as("purchase_ts"), col("purchase_value")).as("p"))
      val l = ev.filter(col("event_type") === "click")
        .select(col("user_id"), col("ts"), lit(1).as("tag"), col("event_id"),
          lit(null).cast("struct<purchase_ts:timestamp,purchase_value:double>")
            .as("p"))
      // right rows sort before left at equal ts (tag 0 < 1) → >= semantics
      val w = Window.partitionBy("user_id")
        .orderBy(col("ts"), col("tag"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      r.unionAll(l)
        .withColumn("asof", last("p", ignoreNulls = true).over(w))
        .filter(col("tag") === 1)
        .select(col("user_id"), col("event_id"), col("ts"),
          col("asof.purchase_ts").as("purchase_ts"),
          col("asof.purchase_value").as("purchase_value"))
    },

    // Range join (interval predicate): purchases within 5 minutes after a
    // click by the same user. A naive theta-join is a per-user cross
    // product; bucketizing time to the interval width turns it into an
    // equi-join on (user_id, bucket) probed at two buckets per row, with
    // the exact interval filter applied after — the standard
    // bucketed-interval-join shape that survives 100 TB.
    QueryDef("x04_range_join",
      """SELECT a.user_id, CAST(COUNT(*) AS BIGINT) AS n_pairs
        |FROM events a JOIN events b
        |  ON a.user_id = b.user_id
        | AND a.event_type = 'click' AND b.event_type = 'purchase'
        | AND epoch_us(b.ts) - epoch_us(a.ts) BETWEEN 1 AND 300000000
        |GROUP BY 1""".stripMargin) { (s, dir) =>
      val ev = t(s, dir, "events")
      val width = 300000000L // 5 min in µs
      val a = ev.filter(col("event_type") === "click")
        .select(col("user_id"), unix_micros(col("ts")).as("a_us"))
        .withColumn("bucket", explode(array(
          expr(s"a_us DIV $width"), expr(s"a_us DIV $width + 1"))))
      val b = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), unix_micros(col("ts")).as("b_us"))
        .withColumn("bucket", expr(s"b_us DIV $width"))
      a.join(b, Seq("user_id", "bucket"))
        .filter((col("b_us") - col("a_us")).between(1, width))
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_pairs"))
    },

    // Salted skew join: l_returnflag has 3 values (extreme skew for a
    // shuffle join). Salting the fact side N ways and exploding the dim
    // side N ways spreads each hot key over N shuffle partitions.
    QueryDef("x02_salted_skew_join",
      """SELECT flag_label, COUNT(*) AS n FROM lineitem
        |JOIN (VALUES ('A', 'returned-a'), ('N', 'kept'), ('R', 'returned-r'))
        |  AS d(flag, flag_label) ON l_returnflag = flag
        |GROUP BY flag_label""".stripMargin) { (s, dir) =>
      import s.implicits._
      val salt = 16
      val dim = Seq(("A", "returned-a"), ("N", "kept"), ("R", "returned-r"))
        .toDF("flag", "flag_label")
      val saltedFact = t(s, dir, "lineitem")
        .select(col("l_returnflag"), col("l_orderkey"))
        .withColumn("salt", pmod(hash(col("l_orderkey")), lit(salt)))
      val explodedDim = dim
        .withColumn("salt", explode(sequence(lit(0), lit(salt - 1))))
        .hint("shuffle_hash")
      saltedFact
        .join(explodedDim,
          col("l_returnflag") === col("flag") && saltedFact("salt") === explodedDim("salt"))
        .groupBy("flag_label")
        .agg(count(lit(1)).as("n"))
    },

    // Write-audit-publish: a good write passes its audit (count +
    // fingerprint vs source) and atomically publishes; a corrupted
    // write (truncated to 100 rows) fails the audit, never becomes
    // visible, and its staging dir is cleaned.
    QueryDef("x34_write_audit_publish",
      """SELECT CAST((SELECT COUNT(*) FROM documents) AS BIGINT)
        |    AS n_rows,
        |  CAST((SELECT COUNT(*) FROM documents) AS BIGINT)
        |    AS n_published,
        |  true AS good_audited, true AS good_visible,
        |  true AS bad_rejected, true AS bad_not_visible,
        |  true AS bad_absent, true AS staging_cleaned""".stripMargin) {
      (s, dir) => Scale.writeAuditPublish(s, dir)
    },

    // Content-addressed dataset fingerprint: per-doc digests roll up
    // through 64 hash buckets (sorted within bucket) into one root
    // hash — the reproducibility primitive a model card pins ("trained
    // on corpus <root>"). Fully relational and order-independent: any
    // partitioning/shuffle produces the same root; the hierarchy keeps
    // every string_agg bounded (corpus/64) instead of one global sort
    // of the whole corpus' digests.
    QueryDef("x33_dataset_fingerprint",
      """WITH d AS (SELECT doc_id,
        |    md5(CAST(doc_id AS VARCHAR) || ':' || text) AS dg
        |  FROM documents),
        |b AS (SELECT doc_id % 64 AS bucket, dg FROM d),
        |bd AS (SELECT bucket, md5(string_agg(dg, '' ORDER BY dg))
        |    AS bucket_dg, count(*) AS n FROM b GROUP BY bucket),
        |root AS (SELECT md5(string_agg(bucket_dg, ''
        |    ORDER BY bucket)) AS root_dg,
        |    CAST(sum(n) AS BIGINT) AS n_docs FROM bd)
        |SELECT bd.bucket, bd.bucket_dg, CAST(bd.n AS BIGINT) AS n,
        |  root.root_dg, root.n_docs
        |FROM bd CROSS JOIN root""".stripMargin) { (s, dir) =>
      Scale.datasetFingerprint(
        t(s, dir, "documents").select("doc_id", "text"), nBuckets = 64)
    },

    // Exchange reuse: a self-join of one aggregated relation must plan
    // the shuffle ONCE and feed both sides from it (ReusedExchange /
    // ReusedQueryStage under AQE) — the plan property that makes
    // multi-consumer DAGs affordable at scale (the alternative is
    // scanning + shuffling the fact table once per consumer).
    QueryDef("x32_exchange_reuse",
      """WITH agg AS (SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n
        |  FROM events GROUP BY user_id)
        |SELECT a.user_id, a.n, b.n AS n_again
        |FROM agg a JOIN agg b USING (user_id)""".stripMargin) { (s, dir) =>
      val agg = t(s, dir, "events")
        .groupBy("user_id").agg(count(lit(1)).as("n"))
      val joined = agg.join(
        agg.withColumnRenamed("n", "n_again"), "user_id")
      // collect drives THIS df's QueryExecution so AQE finalizes the
      // plan being asserted (bounded: one row per user)
      joined.collect()
      val plan = joined.queryExecution.executedPlan.toString
      require(plan.contains("ReusedExchange") ||
        plan.contains("ReusedQueryStage"),
        s"aggregation shuffle not reused:\n$plan")
      joined
    },

    // In-memory columnar cache tier: the hot dimension projection is
    // cached (compressed columnar batches); the second access must plan
    // an InMemoryTableScan instead of a file scan and return byte-equal
    // results. This is the serving-layer pattern for a dashboard-shaped
    // workload over a 100 TB lake: cache the narrow rollup, not the
    // fact table.
    QueryDef("x31_cached_rollup",
      """SELECT l_returnflag, l_linestatus, CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
        |    AS sum_qty
        |FROM lineitem GROUP BY 1, 2""".stripMargin) { (s, dir) =>
      val rollup = t(s, dir, "lineitem")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(count(lit(1)).as("n"),
          sum(col("l_quantity").cast("decimal(18,2)")).cast("double")
            .as("sum_qty"))
      rollup.cache()
      rollup.count() // materialize the cache
      val plan = rollup.queryExecution.executedPlan.toString
      // second access must come from the columnar cache
      val cached = rollup.filter(lit(true))
      val planned = cached.queryExecution.executedPlan.toString
      require(planned.contains("InMemoryTableScan") ||
        planned.contains("TableCacheQueryStage"),
        s"cache not used:\n$planned")
      cached
    },

    // Manifest-driven orphan-file GC: after an in-place compaction the
    // directory holds 8 superseded files next to the 2 live ones; GC
    // plans deletions relationally (FS listing anti-joined against the
    // manifest, Hadoop FS throughout) and the gate asserts live files
    // intact, orphans gone, and the manifest-planned read returning the
    // exact row count.
    QueryDef("x30_orphan_gc",
      """SELECT CAST((SELECT COUNT(*) FROM lineitem WHERE l_orderkey % 4
        |    = 0) AS BIGINT) AS n_rows,
        |  CAST(10 AS BIGINT) AS n_before, CAST(2 AS BIGINT) AS n_live,
        |  CAST(8 AS BIGINT) AS n_deleted,
        |  true AS orphans_gone, true AS live_intact,
        |  true AS rows_match""".stripMargin) { (s, dir) =>
      Scale.orphanGcReport(s, dir)
    },

    // Custom interval-join operator: x04's click→purchase-within-5min
    // pairing through the plane-sweep IntervalJoinExec instead of the
    // bucketed-equi-join composition — no probe explode, no bucket
    // width in the plan, per-key state = concurrently open intervals.
    // Oracle: DuckDB's native inequality join (same SQL as x04).
    QueryDef("x29_interval_join_op",
      """SELECT a.user_id, CAST(COUNT(*) AS BIGINT) AS n_pairs
        |FROM events a JOIN events b
        |  ON a.user_id = b.user_id
        | AND a.event_type = 'click' AND b.event_type = 'purchase'
        | AND epoch_us(b.ts) - epoch_us(a.ts) BETWEEN 1 AND 300000000
        |GROUP BY 1""".stripMargin) { (s, dir) =>
      import org.apache.spark.sql.graft.IntervalJoinOps
      val ev = t(s, dir, "events")
      val width = 300000000L // 5 min in µs
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id"), unix_micros(col("ts")).as("a_us"))
        .withColumn("lo", col("a_us") + 1)
        .withColumn("hi", col("a_us") + width)
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id").as("p_user"),
          unix_micros(col("ts")).as("b_us"))
      IntervalJoinOps.intervalJoin(clicks, purchases,
        "user_id", "lo", "hi", "p_user", "b_us")
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_pairs"))
    },

    /** x37: the AUTO-ROUTED form — the user writes PLAIN SQL
      * (equi-join + BETWEEN, no graft API in sight) and, with
      * spark.graft.autoIntervalJoin=true, the planner recognizes the
      * pattern and swaps SortMergeJoin+residual-filter for the
      * plane-sweep IntervalJoinExec. The gate asserts the routing
      * actually happened (plan check inside the gate — a silent
      * fall-back to SMJ would still match values) and materializes
      * inside the conf window (the x01 pattern) so the session conf is
      * restored for every other gate. Oracle: DuckDB runs the same
      * declarative SQL.
      */
    QueryDef("x37_interval_auto_route",
      """WITH c AS (SELECT user_id, epoch_us(ts) + 1 AS lo,
        |    epoch_us(ts) + 300000000 AS hi
        |  FROM events WHERE event_type = 'click'),
        |p AS (SELECT user_id AS p_user, epoch_us(ts) AS b_us FROM events
        |  WHERE event_type = 'purchase')
        |SELECT c.user_id, CAST(COUNT(*) AS BIGINT) AS n_pairs
        |FROM c JOIN p
        |  ON c.user_id = p.p_user AND p.b_us BETWEEN c.lo AND c.hi
        |GROUP BY 1""".stripMargin) { (s, dir) =>
      import org.apache.spark.sql.graft.AutoIntervalJoinStrategy
      val ev = t(s, dir, "events")
      ev.filter(col("event_type") === "click")
        .select(col("user_id"),
          (unix_micros(col("ts")) + 1).as("lo"),
          (unix_micros(col("ts")) + 300000000L).as("hi"))
        .createOrReplaceTempView("x37_c")
      ev.filter(col("event_type") === "purchase")
        .select(col("user_id").as("p_user"),
          unix_micros(col("ts")).as("b_us"))
        .createOrReplaceTempView("x37_p")
      s.conf.set(AutoIntervalJoinStrategy.ConfKey, "true")
      try {
        val df = s.sql(
          """SELECT c.user_id, COUNT(*) AS n_pairs
            |FROM x37_c c JOIN x37_p p
            |  ON c.user_id = p.p_user AND p.b_us BETWEEN c.lo AND c.hi
            |GROUP BY c.user_id""".stripMargin)
        val plan = df.queryExecution.executedPlan.toString
        require(plan.contains("IntervalJoin"),
          s"x37: plain SQL did not route to IntervalJoinExec:\n$plan")
        val out = Scratch.dir(s, "x37_result")
        df.write.mode("overwrite").parquet(out)
        s.read.parquet(out)
      } finally s.conf.unset(AutoIntervalJoinStrategy.ConfKey)
    },

    /** x35: the LEFT OUTER form of the custom plane-sweep IntervalJoin —
      * every click appears whether or not a purchase landed in its
      * 5-minute window (the batch mirror of the streaming tier's s23
      * left-outer contract). Unmatched intervals null-extend inside the
      * operator's merge pass: no second scan, no anti-join — the same
      * single SMJ-shaped layout as the inner form. The gate counts both
      * total rows and matched rows per user, so a null row mistakenly
      * emitted for a MATCHED interval (or a dropped unmatched one)
      * breaks the hash.
      */
    QueryDef("x35_interval_left_outer",
      """WITH c AS (SELECT user_id, epoch_us(ts) AS a_us FROM events
        |  WHERE event_type = 'click'),
        |p AS (SELECT user_id AS p_user, epoch_us(ts) AS b_us FROM events
        |  WHERE event_type = 'purchase')
        |SELECT c.user_id, CAST(COUNT(*) AS BIGINT) AS n_rows,
        |  CAST(COUNT(p.b_us) AS BIGINT) AS n_matched
        |FROM c LEFT JOIN p
        |  ON c.user_id = p.p_user
        | AND p.b_us BETWEEN c.a_us + 1 AND c.a_us + 300000000
        |GROUP BY 1""".stripMargin) { (s, dir) =>
      import org.apache.spark.sql.graft.IntervalJoinOps
      val ev = t(s, dir, "events")
      val width = 300000000L // 5 min in µs
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id"), unix_micros(col("ts")).as("a_us"))
        .withColumn("lo", col("a_us") + 1)
        .withColumn("hi", col("a_us") + width)
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id").as("p_user"),
          unix_micros(col("ts")).as("b_us"))
      IntervalJoinOps.intervalJoinLeftOuter(clicks, purchases,
        "user_id", "lo", "hi", "p_user", "b_us")
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_rows"),
          count(col("b_us")).as("n_matched"))
    },

    // File-pruned copy-on-write MERGE: matched-update / matched-delete
    // / not-matched-insert resolved against a 16-file range layout,
    // with only the ≤3 files intersecting the source key band
    // rewritten and the rest referenced by the new snapshot. The
    // oracle replays the same three-clause merge relationally; the
    // pruning and snapshot-vs-full-merge equivalence are in-gate bits.
    QueryDef("x40_merge_cow",
      """WITH b AS (SELECT min(event_id) AS lo0, max(event_id) AS hi0
        |  FROM events),
        |m AS (SELECT event_id, event_id % 7 = 0 AS del
        |  FROM events, b
        |  WHERE event_id BETWEEN lo0 + (hi0 - lo0) * 45 // 100
        |    AND lo0 + (hi0 - lo0) * 50 // 100),
        |merged AS (
        |  SELECT e.event_id,
        |    CASE WHEN m.event_id IS NOT NULL THEN e.user_id + 1000000
        |         ELSE e.user_id END AS user_id
        |  FROM events e
        |  LEFT JOIN (SELECT event_id FROM m WHERE NOT del) m
        |    ON e.event_id = m.event_id
        |  WHERE e.event_id NOT IN (SELECT event_id FROM m WHERE del)
        |  UNION ALL
        |  SELECT hi0 + i.i, (hi0 + i.i) * 3
        |  FROM b, (SELECT unnest(range(1, 101)) AS i) i)
        |SELECT CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(user_id) AS BIGINT) AS sum_user,
        |  (SELECT count(*) FROM m WHERE NOT del) AS n_updated,
        |  (SELECT count(*) FROM m WHERE del) AS n_deleted,
        |  CAST(100 AS BIGINT) AS n_inserted,
        |  true AS files_pruned, true AS untouched_reused,
        |  true AS result_equal
        |FROM merged""".stripMargin) { (s, dir) =>
      mergeCow(s, dir)
    },

    // x41: snapshot time travel through a manifest chain — the read
    // side of the x34 (write-audit-publish) / x40 (CoW merge) / x30
    // (GC) family. Three snapshots share one immutable file pool:
    // v1 = 8 range-laid-out files, v2 = v1 + a 2-file append,
    // v3 = CoW delete (manifest stats pick the ≤2 files intersecting
    // the key band; only those are rewritten, untouched files are
    // referenced verbatim). Reading "as of" version k is purely
    // metadata planning — resolve manifest k's path list, read those
    // files — and because CoW never mutates or removes a published
    // file, v2 stays byte-identical when re-read AFTER v3 exists
    // (the in-gate immutability bit). At 100 TB each manifest is a
    // KB-scale table; time travel costs one metadata lookup, never a
    // data copy. The oracle replays each version's logical state.
    QueryDef("x41_time_travel",
      """WITH b AS (SELECT min(event_id) AS lo0, max(event_id) AS hi0
        |  FROM events),
        |app AS (SELECT hi0 + i.i AS event_id, (hi0 + i.i) * 3 AS user_id
        |  FROM b, (SELECT unnest(range(1, 201)) AS i) i),
        |v2 AS (SELECT event_id, user_id FROM events
        |  UNION ALL SELECT event_id, user_id FROM app),
        |del AS (SELECT event_id FROM events, b
        |  WHERE event_id BETWEEN lo0 + (hi0 - lo0) * 45 // 100
        |    AND lo0 + (hi0 - lo0) * 50 // 100
        |    AND event_id % 7 = 0)
        |SELECT CAST(1 AS INT) AS version,
        |  CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(user_id) AS BIGINT) AS sum_user, true AS ok
        |FROM events
        |UNION ALL
        |SELECT CAST(2 AS INT), CAST(count(*) AS BIGINT),
        |  CAST(sum(user_id) AS BIGINT), true
        |FROM v2
        |UNION ALL
        |SELECT CAST(3 AS INT), CAST(count(*) AS BIGINT),
        |  CAST(sum(user_id) AS BIGINT), true
        |FROM v2 WHERE event_id NOT IN (SELECT event_id FROM del)
        |ORDER BY version""".stripMargin) { (s, dir) =>
      timeTravel(s, dir)
    },

    // Partition-spec evolution: old files stay under the day spec, new
    // writes land under the event_type spec, a both-dimension query
    // prunes each file by its own spec's handle. The oracle replays
    // the predicate over the raw rows under the same even/odd phase
    // rule and integer band arithmetic; `pruned` is the Spark-side
    // files_read < files_total invariant.
    QueryDef("x43_partition_evolution",
      """WITH e AS (SELECT event_id, user_id, event_type,
        |    epoch_us(ts) // 86400000000 AS day FROM events),
        |b AS (SELECT MIN(day) AS mn, MAX(day) AS mx FROM e),
        |q AS (SELECT e.*, CAST(event_id % 2 AS INT) AS spec
        |  FROM e, b
        |  WHERE event_type = 'click'
        |    AND day BETWEEN mn + (mx - mn) * 30 // 100
        |    AND mn + (mx - mn) * 60 // 100),
        |agg AS (SELECT spec, COUNT(*) AS n, SUM(user_id) AS su
        |  FROM q GROUP BY 1),
        |specs AS (SELECT 0 AS spec UNION ALL SELECT 1)
        |SELECT s.spec AS spec_id,
        |  CAST(COALESCE(a.n, 0) AS BIGINT) AS n_rows,
        |  CAST(COALESCE(a.su, 0) AS BIGINT) AS sum_user, true AS pruned
        |FROM specs s LEFT JOIN agg a ON s.spec = a.spec
        |ORDER BY 1""".stripMargin) { (s, dir) =>
      partitionEvolution(s, dir)
    },

    // Z-order (Morton) data layout: bucket two join/filter dimensions
    // to 16 bits, interleave them with the native Interleave64
    // expression, and range-split the z-sorted table into 32 "files".
    // The emitted table IS the file-stats manifest (per-file min/max of
    // BOTH dimensions): z-order files are bounded in BOTH columns
    // (measured ~25% x-span, ~12% y-span per file at sf0.01), while the
    // lexicographic baseline's files are thin in x but span ALL of y —
    // so a scan filtering on y prunes nothing under the linear layout
    // and ~7/8 of the files under z-order. This is the layout WRITE
    // side; x41/x43's manifest pruning is the read side. The rank split
    // uses the two-phase global order (never a single-partition
    // window); the oracle replays the bucketization, the 5-step
    // mask-doubling spread, and the rank split row for row.
    QueryDef("x44_zorder_layout", {
      val spreadSteps =
        """s1 AS (SELECT *, (bx | (bx<<16)) & 281470681808895 AS x1,
          |    (by | (by<<16)) & 281470681808895 AS y1 FROM c),
          |s2 AS (SELECT *, (x1 | (x1<<8)) & 71777214294589695 AS x2,
          |    (y1 | (y1<<8)) & 71777214294589695 AS y2 FROM s1),
          |s3 AS (SELECT *, (x2 | (x2<<4)) & 1085102592571150095 AS x3,
          |    (y2 | (y2<<4)) & 1085102592571150095 AS y3 FROM s2),
          |s4 AS (SELECT *, (x3 | (x3<<2)) & 3689348814741910323 AS x4,
          |    (y3 | (y3<<2)) & 3689348814741910323 AS y4 FROM s3),
          |s5 AS (SELECT k, bx, by, n,
          |    ((x4 | (x4<<1)) & 6148914691236517205) |
          |    (((y4 | (y4<<1)) & 6148914691236517205) << 1) AS zv
          |  FROM s4)""".stripMargin
      s"""WITH src AS (SELECT l_orderkey*8 + l_linenumber AS k,
         |    CAST(l_partkey AS BIGINT) AS pk,
         |    CAST(l_suppkey AS BIGINT) AS sk FROM lineitem),
         |b AS (SELECT min(pk) mnp, max(pk) mxp, min(sk) mns,
         |    max(sk) mxs, count(*) AS n FROM src),
         |c AS (SELECT k,
         |    (pk - mnp) * 65535 // GREATEST(mxp - mnp, 1) AS bx,
         |    (sk - mns) * 65535 // GREATEST(mxs - mns, 1) AS by, n
         |  FROM src, b),
         |$spreadSteps,
         |rz AS (SELECT *, row_number() OVER (ORDER BY zv, k) AS pos
         |  FROM s5),
         |rl AS (SELECT *, row_number() OVER (ORDER BY bx, k) AS pos
         |  FROM s5),
         |fz AS (SELECT CAST((pos-1)*32//n AS INT) AS file_id,
         |    CAST(count(*) AS BIGINT) AS n_rows,
         |    min(bx) AS min_x, max(bx) AS max_x,
         |    min(by) AS min_y, max(by) AS max_y
         |  FROM rz GROUP BY 1),
         |fl AS (SELECT CAST((pos-1)*32//n AS INT) AS file_id,
         |    CAST(count(*) AS BIGINT) AS n_rows,
         |    min(bx) AS min_x, max(bx) AS max_x,
         |    min(by) AS min_y, max(by) AS max_y
         |  FROM rl GROUP BY 1)
         |SELECT 'linear' AS layout, file_id, n_rows,
         |  min_x, max_x, min_y, max_y FROM fl
         |UNION ALL
         |SELECT 'zorder', file_id, n_rows, min_x, max_x, min_y, max_y
         |FROM fz
         |ORDER BY layout, file_id""".stripMargin
    }) { (s, dir) =>
      val src = t(s, dir, "lineitem").select(
        (col("l_orderkey") * 8 + col("l_linenumber")).cast("long").as("k"),
        col("l_partkey").cast("long").as("pk"),
        col("l_suppkey").cast("long").as("sk"))
      val b = src.agg(min("pk").as("mnp"), max("pk").as("mxp"),
        min("sk").as("mns"), max("sk").as("mxs"),
        count(lit(1)).as("n"))
      val c = src.crossJoin(broadcast(b))
        .withColumn("bx",
          expr("(pk - mnp) * 65535 DIV GREATEST(mxp - mnp, 1)"))
        .withColumn("by",
          expr("(sk - mns) * 65535 DIV GREATEST(mxs - mns, 1)"))
        .withColumn("zv", org.apache.spark.sql.graft.VectorExpressions
          .interleave64(col("bx").cast("int"), col("by").cast("int")))
        .select("k", "bx", "by", "zv", "n")
      // each branch stages only ITS sort key through the global-order
      // barrier — the linear branch never reads zv, and mapped-through
      // extra columns are 8 bytes × every row of barrier I/O at scale
      def fileStats(layout: String, keep: Seq[String],
          order: Seq[Column]): DataFrame =
        graft.pipeline.Corpus.withGlobalOrder(
          c.select(keep.map(col): _*), order, lit(1L))
          .withColumn("file_id",
            expr("(pos - 1) * 32 DIV n").cast("int"))
          .groupBy("file_id")
          .agg(count(lit(1)).as("n_rows"),
            min("bx").as("min_x"), max("bx").as("max_x"),
            min("by").as("min_y"), max("by").as("max_y"))
          .select(lit(layout).as("layout"), col("file_id"),
            col("n_rows"), col("min_x"), col("max_x"),
            col("min_y"), col("max_y"))
      fileStats("zorder", Seq("k", "bx", "by", "zv", "n"),
          Seq(col("zv"), col("k")))
        .unionAll(fileStats("linear", Seq("k", "bx", "by", "n"),
          Seq(col("bx"), col("k"))))
        .orderBy("layout", "file_id")
    },

    // Merge-on-read DELETION VECTORS (Iceberg v2 positional deletes /
    // Delta DVs) — the read-side dual of x40's copy-on-write: deletes
    // publish as a tiny (file, pos) sidecar, base files are NEVER
    // rewritten, and every read subtracts the DV with one broadcast
    // anti-join. Two delete commits (overlapping bands, union'd DV);
    // each version's visible set must equal the CoW rewrite of the same
    // predicates (mor_equals_cow), and the base re-read after both
    // commits must be byte-identical (base_immutable). At 100 TB a DV
    // commit costs the sidecar write — no data file rewrite — and reads
    // pay one broadcast anti-join against KB-scale delete lists. The
    // oracle replays each version's logical state and DV cardinality.
    QueryDef("x45_deletion_vectors",
      """WITH b AS (SELECT min(event_id) AS lo0, max(event_id) AS hi0,
        |    count(*) AS n0, sum(user_id) AS su0 FROM events),
        |d1 AS (SELECT event_id FROM events, b
        |  WHERE event_id BETWEEN lo0 + (hi0 - lo0) * 40 // 100
        |    AND lo0 + (hi0 - lo0) * 45 // 100
        |    AND event_id % 7 = 0),
        |d2 AS (SELECT event_id FROM events, b
        |  WHERE event_id BETWEEN lo0 + (hi0 - lo0) * 43 // 100
        |    AND lo0 + (hi0 - lo0) * 55 // 100
        |    AND event_id % 5 = 0),
        |u AS (SELECT event_id FROM d1 UNION SELECT event_id FROM d2)
        |SELECT 0 AS version, CAST(n0 AS BIGINT) AS n_rows,
        |  CAST(su0 AS BIGINT) AS sum_user, CAST(0 AS BIGINT) AS n_dv,
        |  true AS mor_equals_cow, true AS base_immutable FROM b
        |UNION ALL
        |SELECT 1, CAST(count(*) AS BIGINT),
        |  CAST(sum(user_id) AS BIGINT),
        |  (SELECT count(*) FROM d1), true, true
        |FROM events WHERE event_id NOT IN (SELECT event_id FROM d1)
        |UNION ALL
        |SELECT 2, CAST(count(*) AS BIGINT),
        |  CAST(sum(user_id) AS BIGINT),
        |  (SELECT count(*) FROM u), true, true
        |FROM events WHERE event_id NOT IN (SELECT event_id FROM u)
        |ORDER BY version""".stripMargin) { (s, dir) =>
      deletionVectors(s, dir)
    },

    // Incremental view maintenance (the Gupta–Mumick counting
    // algorithm for distributive aggregates) — the CDC-consumer dual
    // of x40/x45's writer-side commits: a materialized per-key
    // (count, sum) view absorbs an insert commit and a delete commit
    // by aggregating ONLY the delta rows (map-side combinable, cost ∝
    // commit size) and merging into the stored |keys|-row view —
    // the base table is never rescanned after version 0. Deletes
    // carry the old row (the CDC payload) and enter with sign −1;
    // keys whose count reaches 0 drop out, matching GROUP BY
    // semantics. Each version's maintained view must equal a full
    // recompute over the reconstructed table (ivm_equals_recompute,
    // re-derived in-gate), and n_delta records the per-commit row
    // cost the 100 TB story rides on. The oracle replays every
    // version's grouped aggregate from scratch.
    QueryDef("x46_incremental_view", ivmOracleSql("ivm")) { (s, dir) =>
      incrementalView(s, dir)
    },

    // CDC changelog READ — the storage-side producer x46's consumer
    // was promised: version deltas are derived from the table's own
    // commit artifacts, never from re-diffing snapshots. The insert
    // delta of an append commit is the commit's files (an incremental
    // scan lists ONLY the appended directory); the delete delta of a
    // MoR DV commit materializes the deleted ROWS by broadcast
    // semi-joining the (file, pos) sidecar back onto the base — one
    // base read, no v1 re-scan, no anti-diff of 100 TB snapshots.
    // The read deltas then drive the same counting-algorithm view
    // maintenance, and each version must equal the recompute
    // (cdc_equals_recompute re-derived in-gate). Same logical states
    // as x46 → same oracle text; the mechanism under test is where
    // the deltas CAME FROM.
    QueryDef("x47_cdc_read", ivmOracleSql("cdc")) { (s, dir) =>
      cdcRead(s, dir)
    }
  )

  /** The shared x46/x47 oracle: both gates publish the same logical
    * per-version views (the mechanisms differ — x46 is handed the
    * deltas, x47 reads them from commit artifacts), so the oracle
    * text is shared by construction. `flag` names the gate's
    * equals-recompute column.
    */
  private def ivmOracleSql(flag: String): String =
    s"""WITH ins AS (SELECT event_id + 1000000000000 AS event_id,
       |    user_id, event_type FROM events WHERE event_id % 3 = 0),
       |del AS (SELECT event_id, user_id, event_type FROM events
       |  WHERE event_id % 7 = 0),
       |t1 AS (SELECT event_id, user_id, event_type FROM events
       |  UNION ALL SELECT * FROM ins),
       |t2 AS (SELECT * FROM t1 WHERE event_id NOT IN
       |  (SELECT event_id FROM del))
       |SELECT 0 AS version, event_type,
       |  CAST(count(*) AS BIGINT) AS n_rows,
       |  CAST(sum(user_id) AS BIGINT) AS sum_user,
       |  CAST(0 AS BIGINT) AS n_delta, true AS ${flag}_equals_recompute
       |FROM events GROUP BY 2
       |UNION ALL
       |SELECT 1, event_type, CAST(count(*) AS BIGINT),
       |  CAST(sum(user_id) AS BIGINT),
       |  (SELECT CAST(count(*) AS BIGINT) FROM ins), true
       |FROM t1 GROUP BY 2
       |UNION ALL
       |SELECT 2, event_type, CAST(count(*) AS BIGINT),
       |  CAST(sum(user_id) AS BIGINT),
       |  (SELECT CAST(count(*) AS BIGINT) FROM del), true
       |FROM t2 GROUP BY 2
       |ORDER BY version, event_type""".stripMargin

  /** Partition-spec EVOLUTION (the Iceberg v2 feature): a table's early
    * files were written under spec 0 (partitioned by day), a later
    * ingest switched to spec 1 (partitioned by event_type), and NO old
    * file is rewritten — the manifest carries each file's spec id, its
    * partition value, and min/max stats of the OTHER dimension, so a
    * query filtering on BOTH columns prunes every file by whichever
    * handle that file's spec offers: spec-0 files by day partition
    * value (event_type filtered residually), spec-1 files by
    * event_type partition value plus per-file day stats. The gate
    * reads exactly the resolved files per spec (basePath read keeps
    * the directory-encoded partition column), applies the residual
    * predicate, and must match DuckDB running the same predicate over
    * the raw rows split by the same even/odd phase rule; the `pruned`
    * flags assert both specs read strictly fewer files than they hold.
    * At 100 TB this is why evolution beats rewrite: switching the
    * partition key costs ZERO data movement, and old data keeps its
    * old pruning handle.
    */
  private[graft] def partitionEvolution(s: SparkSession,
      dir: String): DataFrame = {
    val p0 = Scratch.dir(s, "x43_spec0")
    val p1 = Scratch.dir(s, "x43_spec1")
    val e = t(s, dir, "events")
      .select(col("event_id"), col("user_id"), col("event_type"),
        expr("unix_micros(ts) div 86400000000").as("day"))
    // phase 1 (old spec): even ids, partitioned by day
    e.filter(col("event_id") % 2 === 0)
      .write.partitionBy("day").mode("overwrite").parquet(p0)
    // phase 2 (new spec): odd ids, partitioned by event_type —
    // the old files above are NEVER touched again
    e.filter(col("event_id") % 2 === 1)
      .write.partitionBy("event_type").mode("overwrite").parquet(p1)
    // manifests: (file, spec partition value, other-dim min/max)
    // the directory-encoded partition column round-trips as INT —
    // normalize to long before collecting
    val m0 = s.read.option("basePath", p0).parquet(p0)
      .groupBy(input_file_name().as("file"),
        col("day").cast("long").as("day"))
      .agg(count(lit(1))).collect()
      .map(r => (r.getString(0), r.getLong(1)))
    val m1 = s.read.option("basePath", p1).parquet(p1)
      .groupBy(input_file_name().as("file"), col("event_type"))
      .agg(min(col("day").cast("long")).as("mn"),
        max(col("day").cast("long")).as("mx")).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getLong(3)))
    // predicate: event_type = 'click' AND day in the 30%..60% band
    val mm = e.agg(min("day"), max("day")).head()
    val (mn, mx) = (mm.getLong(0), mm.getLong(1))
    val lo = mn + (mx - mn) * 30 / 100
    val hi = mn + (mx - mn) * 60 / 100
    // resolved-file read with the degenerate branches closed: an empty
    // file list IS maximal pruning (zero rows, not a crash), and a
    // stats-overlapping file can still hold zero in-band click rows
    // (range-granular stats), where SUM would be NULL
    def readPruned(basePath: String, files: Seq[String]): (Long, Long) =
      if (files.isEmpty) (0L, 0L)
      else {
        val r = s.read.option("basePath", basePath)
          .parquet(files.toIndexedSeq: _*)
          .filter(col("event_type") === "click" &&
            col("day").between(lo, hi))
          .agg(count(lit(1)).cast("long"),
            coalesce(sum("user_id"), lit(0L)).cast("long"))
          .head()
        (r.getLong(0), r.getLong(1))
      }
    // spec 0: prune by day partition value; event_type is residual
    val f0 = m0.filter { case (_, d) => d >= lo && d <= hi }.map(_._1)
    val r0 = readPruned(p0, f0)
    // spec 1: prune by event_type partition value + per-file day stats;
    // day is residual (file stats are range-granular)
    val f1 = m1.filter { case (_, tp, fmn, fmx) =>
      tp == "click" && fmn <= hi && fmx >= lo }.map(_._1)
    val r1 = readPruned(p1, f1)
    import s.implicits._
    Seq(
      (0, r0._1, r0._2, f0.nonEmpty && f0.length < m0.length),
      (1, r1._1, r1._2, f1.nonEmpty && f1.length < m1.length))
      .toDF("spec_id", "n_rows", "sum_user", "pruned")
      .orderBy("spec_id")
  }

  /** x41 runner — see the QueryDef comment for the contract. */
  private[graft] def timeTravel(s: SparkSession, dir: String): DataFrame = {
    val dataP = Scratch.dir(s, "x41_base")
    val appendP = Scratch.dir(s, "x41_append")
    val deltaP = Scratch.dir(s, "x41_delta")
    val events = t(s, dir, "events").select("event_id", "user_id")
    events.repartitionByRange(8, col("event_id"))
      .sortWithinPartitions("event_id")
      .write.mode("overwrite").parquet(dataP)
    // per-file stats manifest (file, min_id, max_id): one scan, 8 rows
    def stats(path: String): Array[(String, Long, Long)] =
      s.read.parquet(path)
        .groupBy(input_file_name().as("file"))
        .agg(min("event_id").as("mn"), max("event_id").as("mx"))
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val v1 = stats(dataP)
    val mm = events.agg(min("event_id"), max("event_id")).head()
    val (lo0, hi0) = (mm.getLong(0), mm.getLong(1))
    // v2 = v1 + appended batch (2 files, keys all above hi0)
    s.range(1, 201)
      .select((lit(hi0) + col("id")).as("event_id"),
        ((lit(hi0) + col("id")) * 3).as("user_id"))
      .coalesce(2).write.mode("overwrite").parquet(appendP)
    val v2 = v1 ++ stats(appendP)
    // v3 = CoW delete of band keys divisible by 7: manifest stats pick
    // the files intersecting [lo,hi]; only those rewrite into the delta
    val lo = lo0 + (hi0 - lo0) * 45 / 100
    val hi = lo0 + (hi0 - lo0) * 50 / 100
    val picked = v2.filter { case (_, mn, mx) => mn <= hi && mx >= lo }
      .map(_._1)
    val untouched = v2.map(_._1).filterNot(picked.contains)
    s.read.parquet(picked.toIndexedSeq: _*)
      .filter(!(col("event_id").between(lo, hi) &&
        col("event_id") % 7 === 0))
      .coalesce(1).write.mode("overwrite").parquet(deltaP)
    val v3 = untouched.map(f => (f, 0L, 0L)) ++ stats(deltaP)
    // time-travel reads: resolve a manifest, read exactly its files
    def readAsOf(mani: Seq[String]): (Long, Long) = {
      val r = s.read.parquet(mani.toIndexedSeq: _*)
        .agg(count(lit(1)), sum("user_id")).head()
      (r.getLong(0), r.getLong(1))
    }
    val r1 = readAsOf(v1.map(_._1).toIndexedSeq)
    val r2 = readAsOf(v2.map(_._1).toIndexedSeq)
    val r3 = readAsOf(v3.map(_._1).toIndexedSeq)
    // immutability: v2 re-read AFTER v3 was published is unchanged
    // (CoW rewrote into a NEW file; picked files still exist unreferenced)
    val r2again = readAsOf(v2.map(_._1).toIndexedSeq)
    val ok1 = v1.length == 8
    val ok2 = v2.length == 10 && v1.map(_._1).forall(v2.map(_._1).contains)
    val ok3 = picked.nonEmpty && picked.length <= 2 &&
      untouched.length == 10 - picked.length && r2again == r2
    import s.implicits._
    Seq((1, r1._1, r1._2, ok1), (2, r2._1, r2._2, ok2),
      (3, r3._1, r3._2, ok3))
      .toDF("version", "n_rows", "sum_user", "ok")
      .orderBy("version")
  }

  /** Merge-on-read deletion vectors (x45). The base lays out as 8
    * range files; a row's POSITION is its event_id rank within its file
    * (the files are written sorted, so this is the parquet row index a
    * real DV addresses). Each commit appends (file, pos) rows to a
    * sidecar — the base is never touched — and a read is
    * base ⟕̸ sidecar (broadcast LEFT ANTI on (file, pos)). The gate
    * cross-checks MOR against the CoW-equivalent predicate filter and
    * re-reads the base after both commits for immutability.
    */
  private[graft] def deletionVectors(s: SparkSession,
      dir: String): DataFrame = {
    val baseP = Scratch.dir(s, "x45_base")
    val dvP = Scratch.dir(s, "x45_dv")
    val events = t(s, dir, "events").select("event_id", "user_id")
    events.repartitionByRange(8, col("event_id"))
      .sortWithinPartitions("event_id")
      .write.mode("overwrite").parquet(baseP)
    val mm = events.agg(min("event_id"), max("event_id")).head()
    val (lo0, hi0) = (mm.getLong(0), mm.getLong(1))
    val base0 = s.read.parquet(baseP)
    def agg0(df: DataFrame): (Long, Long) = {
      val r = df.agg(count(lit(1)), sum("user_id")).head()
      (r.getLong(0), r.getLong(1))
    }
    val v0 = agg0(base0)
    // positional addressing: rank within the (sorted) file — one
    // per-FILE window, partition-parallel at any scale
    val wFile = org.apache.spark.sql.expressions.Window
      .partitionBy("f").orderBy("event_id")
    val pos = base0.withColumn("f", input_file_name())
      .withColumn("pos", row_number().over(wFile))
    def band(fromPct: Long, toPct: Long, modulo: Int) =
      col("event_id").between(lo0 + (hi0 - lo0) * fromPct / 100,
        lo0 + (hi0 - lo0) * toPct / 100) &&
        col("event_id") % modulo === 0
    val pred1 = band(40, 45, 7)
    val pred2 = band(43, 55, 5)
    // commit 1 and commit 2: append-only sidecar writes — the base
    // files are never opened for write again
    pos.filter(pred1).select("f", "pos")
      .coalesce(1).write.mode("append").parquet(dvP)
    pos.filter(pred2).select("f", "pos")
      .coalesce(1).write.mode("append").parquet(dvP)
    val dvAll = s.read.parquet(dvP).distinct()
    val dv1 = pos.filter(pred1).select("f", "pos").distinct()
    def morRead(dv: DataFrame): DataFrame =
      pos.join(broadcast(dv), Seq("f", "pos"), "left_anti")
    val (n1, su1) = agg0(morRead(dv1))
    val (n2, su2) = agg0(morRead(dvAll))
    val nDv1 = dv1.count()
    val nDv2 = dvAll.count()
    // CoW equivalence: the same predicates as a rewrite-style filter
    val cow1 = agg0(base0.filter(!pred1))
    val cow2 = agg0(base0.filter(!(pred1 || pred2)))
    val eq1 = (n1, su1) == cow1
    val eq2 = (n2, su2) == cow2
    // immutability: the base re-read AFTER both commits is unchanged
    val immutable = agg0(s.read.parquet(baseP)) == v0
    import s.implicits._
    Seq((0, v0._1, v0._2, 0L, true, immutable),
      (1, n1, su1, nDv1, eq1, immutable),
      (2, n2, su2, nDv2, eq2, immutable))
      .toDF("version", "n_rows", "sum_user", "n_dv",
        "mor_equals_cow", "base_immutable")
      .orderBy("version")
  }

  /** The x46 view definition: per-event_type (count, sum) — both
    * distributive, so the counting algorithm maintains them exactly.
    */
  private[graft] def ivmViewOf(df: DataFrame): DataFrame =
    df.groupBy("event_type")
      .agg(count(lit(1)).as("n_rows"),
        sum("user_id").cast("long").as("sum_user"))

  /** One x46 maintenance step: aggregate ONLY the delta rows with a
    * sign (+1 insert, −1 delete), merge into the |keys|-row stored
    * view, drop keys whose count reaches 0 (GROUP BY semantics).
    */
  private[graft] def ivmMaintain(view: DataFrame, delta: DataFrame,
      sign: Int): DataFrame =
    view.unionAll(
        delta.groupBy("event_type")
          .agg((count(lit(1)) * sign).as("n_rows"),
            (sum("user_id") * sign).cast("long").as("sum_user")))
      .groupBy("event_type")
      .agg(sum("n_rows").as("n_rows"),
        sum("sum_user").cast("long").as("sum_user"))
      .filter(col("n_rows") > 0)

  /** Incremental view maintenance for x46: the per-event_type
    * (count, sum) view is MATERIALIZED to parquet at every version and
    * each commit's maintenance plan reads the stored view + the delta
    * only — never the base. The `ivm_equals_recompute` flags are
    * re-derived in-gate by full recompute + full-outer anti-compare,
    * mirroring x45's mor_equals_cow discipline.
    */
  private[graft] def incrementalView(s: SparkSession,
      dir: String): DataFrame = {
    val viewP = Scratch.dir(s, "x46_view")
    val events = t(s, dir, "events")
      .select("event_id", "user_id", "event_type")
    // the two CDC commits: inserts are re-keyed copies (offset clears
    // any realistic id range incl. the 100× sweep corpora); deletes
    // carry the OLD row — the payload a changelog delete record ships
    val ins = events.filter(col("event_id") % 3 === 0)
      .select((col("event_id") + 1000000000000L).as("event_id"),
        col("user_id"), col("event_type"))
    val del = events.filter(col("event_id") % 7 === 0)
    def store(v: DataFrame, tag: String): DataFrame = {
      v.coalesce(1).write.mode("overwrite").parquet(s"$viewP/$tag")
      s.read.parquet(s"$viewP/$tag")
    }
    // version 0 scans the base ONCE; every later plan starts from the
    // stored view parquet
    val v0 = store(ivmViewOf(events), "v0")
    val v1 = store(ivmMaintain(v0, ins, 1), "v1")
    val v2 = store(ivmMaintain(v1, del, -1), "v2")
    val eq1 = ivmViewsEqual(v1, ivmViewOf(events.unionAll(ins)))
    val eq2 = ivmViewsEqual(v2, ivmViewOf(events.unionAll(ins)
      .join(del.select("event_id"), Seq("event_id"), "left_anti")))
    // version 0 IS the recompute — its flag is true by construction
    ivmVersionRows("ivm_equals_recompute",
      Seq((v0, 0, 0L, true), (v1, 1, ins.count(), eq1),
        (v2, 2, del.count(), eq2)))
  }

  /** Full-outer anti-compare of two (event_type, n_rows, sum_user)
    * views — the x46/x47 equals-recompute check.
    */
  private def ivmViewsEqual(a: DataFrame, b: DataFrame): Boolean =
    a.select(col("event_type"), col("n_rows").as("na"),
        col("sum_user").as("sa"))
      .join(b.select(col("event_type"), col("n_rows").as("nb"),
        col("sum_user").as("sb")), Seq("event_type"), "full")
      .filter(!(col("na") <=> col("nb")) ||
        !(col("sa") <=> col("sb")))
      .isEmpty

  /** Assemble the x46/x47 per-version readout. */
  private def ivmVersionRows(flagCol: String,
      vs: Seq[(DataFrame, Int, Long, Boolean)]): DataFrame =
    vs.map { case (v, version, nDelta, eq) =>
      v.select(lit(version).as("version"), col("event_type"),
        col("n_rows"), col("sum_user"), lit(nDelta).as("n_delta"),
        lit(eq).as(flagCol))
    }.reduce(_ unionAll _).orderBy("version", "event_type")

  /** CDC changelog read for x47: deltas derive from commit ARTIFACTS —
    * the appended directory for the insert commit (incremental scan),
    * the (file, pos) DV sidecar broadcast-semi-joined onto the base
    * for the delete commit (row materialization) — then drive the
    * same counting-algorithm maintenance as x46.
    */
  private[graft] def cdcRead(s: SparkSession, dir: String): DataFrame = {
    val baseP = Scratch.dir(s, "x47_base")
    val appP = Scratch.dir(s, "x47_append")
    val dvP = Scratch.dir(s, "x47_dv")
    val viewP = Scratch.dir(s, "x47_view")
    val events = t(s, dir, "events")
      .select("event_id", "user_id", "event_type")
    events.repartitionByRange(8, col("event_id"))
      .sortWithinPartitions("event_id")
      .write.mode("overwrite").parquet(baseP)
    val base0 = s.read.parquet(baseP)
    def store(v: DataFrame, tag: String): DataFrame = {
      v.coalesce(1).write.mode("overwrite").parquet(s"$viewP/$tag")
      s.read.parquet(s"$viewP/$tag")
    }
    val v0 = store(ivmViewOf(base0), "v0")
    // commit 1: APPEND — new files land in their own directory; the
    // writer computes the payload, the READER must not
    events.filter(col("event_id") % 3 === 0)
      .select((col("event_id") + 1000000000000L).as("event_id"),
        col("user_id"), col("event_type"))
      .write.mode("overwrite").parquet(appP)
    // CDC delta 1 = the appended files, nothing else
    val delta1 = s.read.parquet(appP)
    val v1 = store(ivmMaintain(v0, delta1, 1), "v1")
    // commit 2: MoR deletes — a positional (file, pos) sidecar on the
    // sorted base files (the x45 addressing)
    val wFile = org.apache.spark.sql.expressions.Window
      .partitionBy("f").orderBy("event_id")
    val pos = base0.withColumn("f", input_file_name())
      .withColumn("pos", row_number().over(wFile))
    pos.filter(col("event_id") % 7 === 0).select("f", "pos")
      .coalesce(1).write.mode("overwrite").parquet(dvP)
    // CDC delta 2 = the deleted ROWS, materialized from sidecar + base
    val delta2 = pos
      .join(broadcast(s.read.parquet(dvP)), Seq("f", "pos"), "left_semi")
      .select("event_id", "user_id", "event_type")
    val v2 = store(ivmMaintain(v1, delta2, -1), "v2")
    val logical1 = base0.unionAll(s.read.parquet(appP))
    val eq1 = ivmViewsEqual(v1, ivmViewOf(logical1))
    val eq2 = ivmViewsEqual(v2, ivmViewOf(logical1
      .filter(col("event_id") % 7 =!= 0 ||
        col("event_id") >= 1000000000000L)))
    // delta cardinalities from the COMMIT ARTIFACTS' parquet footers
    // (no Spark job): delta1 IS the appended files; delta2 has exactly
    // one base row per (file, pos) sidecar entry — positions were
    // derived from the base, so |delta2| == |sidecar| by construction
    def footerCount(p: String): Long = graft.pipeline.Dedup
      .barrierRowCount(s, new org.apache.hadoop.fs.Path(p))
    ivmVersionRows("cdc_equals_recompute",
      Seq((v0, 0, 0L, true), (v1, 1, footerCount(appP), eq1),
        (v2, 2, footerCount(dvP), eq2)))
  }
}
