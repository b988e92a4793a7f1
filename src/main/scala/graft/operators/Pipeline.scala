package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{QueryDef, Tables}
import graft.pipeline.{Clustering, Corpus, Dedup, Fuzzy, Multimodal, Retrieval, Similarity, TextAnalysis}

/** Training-data pipeline operators (dedup, similarity search, text
  * analysis, multimodal) wired to the driver tables.
  *
  * The near-dup queries plant deterministic duplicates (copies of
  * driver-table documents with a perturbation) so the operator's output
  * is non-empty and self-validating: every planted pair must be found.
  */
object Pipeline {

  private def t(s: SparkSession, dir: String, n: String): DataFrame =
    Tables.load(s, dir, n)

  /** The planted perceptual-media corpus the p187 and p189 gates share:
    * every 4th document renders a smooth picture plus two honest
    * variants under new ids — a 2× resize (+1000000) and a JPEG
    * re-encode (+2000000). Returns (selected base ids, media). ONE
    * definition so the planted offsets/formats can never desynchronize
    * between the two gates. The tiny id list fans out BEFORE the
    * mapPartitions encoders — a 5000-row parquet is one input split,
    * which would serialize every render/decode onto one core (measured
    * 11.4 s → 2.3 s).
    */
  private def plantedPerceptualMedia(s: SparkSession,
      dir: String): (DataFrame, DataFrame) = Planted.imageMedia(s, dir)

  /** The planted perceptual-AUDIO corpus p191/p192 share: every 4th
    * document renders a smooth synthetic sound as real WAV bytes plus
    * two honest variants under new ids — the SAME sound sampled at 2×
    * the rate (+1000000, a true resample) and requantized to 8-bit
    * (+2000000). Same shape discipline as [[plantedPerceptualMedia]]
    * (one definition, id fan-out before the mapPartitions encoders).
    */
  private def plantedAudioMedia(s: SparkSession,
      dir: String): (DataFrame, DataFrame) = Planted.audioMedia(s, dir)

  /** The planted perceptual-VIDEO corpus p193/p194 share: every 4th
    * document renders a smooth morphing clip plus three honest variants
    * under new ids — antialiased half resolution (+1000000), half the
    * frame rate (+2000000), and a brightness cut to 216/256 (+3000000).
    */
  private def plantedVideoMedia(s: SparkSession,
      dir: String): (DataFrame, DataFrame) = Planted.videoMedia(s, dir)

  /** documents ∪ perturbed copies (id + 1e6, one token appended). */
  private def docsWithPlants(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents").select("doc_id", "text")
    d.unionAll(d.filter(col("doc_id") % 10 === 0)
      .select((col("doc_id") + 1000000).as("doc_id"),
        concat(col("text"), lit(" appended")).as("text")))
  }

  /** Near-dup pair graph + converged component labels for the planted
    * corpus, computed ONCE per (session, dir) in the current
    * [[graft.Scratch]] scope and fanned out to every consumer — p25
    * (components), p38 (representatives), p51 (split). The r5-advice
    * sharing form: a production DAG materializes the pair table and its
    * closure once; re-deriving them per consumer re-paid the minhash +
    * banding + verify + propagation cost three times in the same JVM.
    * Both tables are barrier-backed (or exact-stats local relations on
    * the driver union-find path); the memo lives in the scope that holds
    * those barriers, so it can never outlive them.
    */
  private def nearDupGraph(s: SparkSession,
      dir: String): (DataFrame, DataFrame) =
    graft.Scratch.current(s).memo(("nearDupGraph", s, dir)) {
      val pairs = Dedup.minhashPairs(docsWithPlants(s, dir), "doc_id",
        "text", k = 64, bands = 16, threshold = 0.5)
      (pairs, Dedup.components(pairs))
    }

  /** embeddings ∪ slightly-scaled copies (cosine with original ≈ 1). */
  private def vecsWithPlants(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "embeddings").select("vec_id", "embedding")
    e.unionAll(e.filter(col("vec_id") % 25 === 0)
      .select((col("vec_id") + 1000000).as("vec_id"),
        transform(col("embedding"),
          x => (x * lit(1.001f)).cast("float")).as("embedding")))
  }

  /** Gap-based sessionization over (user_id, event_id, ts): a gap of
    * >= `gapMinutes` starts a new session — the same half-open rule as
    * Spark's `session_window` (s02), so batch and streaming agree. The
    * gap compare runs on epoch microseconds (integer, engine-portable).
    * Distributed shape: one shuffle on user_id shared by both window
    * functions and the final aggregation — no extra exchange.
    */
  def sessionize(events: DataFrame, gapMinutes: Int = 30): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val gapUs = gapMinutes * 60L * 1000000L
    val byTime = Window.partitionBy("user_id").orderBy("ts", "event_id")
    val running = Window.partitionBy("user_id").orderBy("ts", "event_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    events
      .withColumn("new_sess",
        when(unix_micros(col("ts")) - lag(unix_micros(col("ts")), 1).over(byTime) >=
          lit(gapUs), 1).otherwise(0))
      .withColumn("sess_id", sum("new_sess").over(running))
      .groupBy("user_id", "sess_id")
      .agg(count(lit(1)).as("n_events"),
        min("ts").as("sess_start"), max("ts").as("sess_end"))
  }

  /** Ordered-funnel conversion over an event stream: step i's cohort is
    * the users whose FIRST qualifying event strictly follows their step
    * i−1 anchor time (first-match semantics, microsecond granularity —
    * integer, engine-portable). Output: one row per step with the
    * surviving-user count and the conversion rate from the previous
    * step. Distributed shape: per step one filtered scan + user-keyed
    * partial-agg min, equi-joined to the previous ≤1-row-per-user
    * anchor frame — no window over the full event stream, no products;
    * the final rate window runs over #steps rows. At 100 TB each
    * anchor frame is at most one row per user and joins shuffle only
    * (user_id, anchor) pairs.
    */
  def funnelSteps(events: DataFrame,
      steps: Seq[String]): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val anchors = steps.tail.scanLeft(
      events.filter(col("event_type") === steps.head)
        .groupBy("user_id")
        .agg(min(unix_micros(col("ts"))).as("anchor_us"))) { (prev, st) =>
      events.filter(col("event_type") === st)
        .select(col("user_id"), unix_micros(col("ts")).as("us"))
        .join(prev, "user_id")
        .filter(col("us") > col("anchor_us"))
        .groupBy("user_id").agg(min("us").as("anchor_us"))
    }
    funnelRates(steps.zip(anchors).zipWithIndex.map {
      case ((st, df), i) =>
        df.agg(count(lit(1)).cast("long").as("n_users"))
          .select(lit(s"${i + 1}_$st").as("step"), col("n_users"))
    }.reduce(_ unionAll _))
  }

  /** (step, n_users) → + conv_rate from the previous step (lag window
    * over the #steps-row summary). Shared by p142 and the streaming
    * funnel so both report through identical arithmetic.
    */
  private[graft] def funnelRates(counts: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // the frame is #steps rows by construction (one summary row per
    // funnel step); the NON-FOLDABLE constant key states that
    // boundedness in the plan and silences WindowExec's no-partition
    // warning (a literal key was constant-folded out — VERDICT r10)
    val w = Window.partitionBy(Corpus.boundedKey(col("step")))
      .orderBy("step")
    counts.withColumn("conv_rate",
      round(col("n_users").cast("double") /
        coalesce(lag(col("n_users"), 1).over(w),
          col("n_users")).cast("double"), 6))
      .orderBy("step")
  }

  /** OHLC bar downsampling of a value stream: per (series, hour
    * bucket) the opening/closing values (earliest/latest event by the
    * deterministic (us, event_id) order — selected via orderable-STRUCT
    * min/max, which partial-aggregates map-side like any min/max, no
    * window over the stream), the high/low extremes, and the count.
    * Values pass through untouched (same parquet doubles both engines).
    * At 100 TB: one partial-agg groupBy; output bounded by
    * series × buckets.
    */
  def ohlcBars(events: DataFrame,
      bucketUs: Long = 3600000000L): DataFrame =
    events.filter(col("value").isNotNull)
      .select(col("event_type"), col("event_id"), col("value").as("v"),
        unix_micros(col("ts")).as("us"))
      .withColumn("hr", expr(s"us div $bucketUs"))
      .groupBy("event_type", "hr")
      .agg(
        min(struct(col("us"), col("event_id"), col("v")))
          .getField("v").as("open"),
        max(col("v")).as("high"),
        min(col("v")).as("low"),
        max(struct(col("us"), col("event_id"), col("v")))
          .getField("v").as("close"),
        count(lit(1)).cast("long").as("n_events"))
      .orderBy("event_type", "hr")

  /** Weekly retention-cohort matrix: users cohorted by first-seen week,
    * each (cohort, week-offset) cell counting the distinct users active
    * that many weeks later, with the retention fraction against the
    * cohort size. Distributed shape: one (user, week) distinct + a
    * user-keyed min for the cohort assignment, then a two-phase
    * count_distinct per cell — output bounded by weeks², never by
    * users or events.
    */
  def retentionCohorts(events: DataFrame,
      weekUs: Long = 604800000000L): DataFrame = {
    val uw = events.select(col("user_id"),
        expr(s"unix_micros(ts) div $weekUs").as("wk"))
      .distinct()
    val first = uw.groupBy("user_id").agg(min("wk").as("cohort"))
    val sizes = first.groupBy("cohort")
      .agg(count(lit(1)).cast("long").as("cohort_n"))
    uw.join(first, "user_id")
      .groupBy(col("cohort"), (col("wk") - col("cohort")).as("offset"))
      .agg(count_distinct(col("user_id")).cast("long").as("n_active"))
      .join(sizes, "cohort")
      .select(col("cohort"), col("offset"), col("n_active"),
        col("cohort_n"),
        round(col("n_active").cast("double") /
          col("cohort_n").cast("double"), 6).as("retention"))
      .orderBy("cohort", "offset")
  }

  /** Distributed triangle count by node-ordered orientation (the
    * classic MapReduce formulation — Suri & Vassilvitskii WWW'11): on
    * the undirected co-occurrence graph, orient every edge a→b with
    * a < b; wedges are the (a<b<c) join of oriented edges on the
    * middle node and each triangle closes exactly one wedge, so the
    * count is one equi-join + one semi-join — no enumeration of
    * unordered permutations. At 100 TB the orientation bounds the
    * wedge join by out-degree (a production variant orients by degree
    * to cap skew; id order is the deterministic gate form) and every
    * join is key-partitioned.
    */
  def triangleCount(edges: DataFrame): DataFrame = {
    val e = edges.select(least(col("a"), col("b")).as("a"),
        greatest(col("a"), col("b")).as("b"))
      .filter(col("a") < col("b")).distinct()
    val nEdges = e.agg(count(lit(1)).cast("long").as("n_edges"))
    val wedges = e.select(col("a"), col("b").as("m"))
      .join(e.select(col("a").as("m"), col("b").as("c")), "m")
      .select(col("a"), col("m"), col("c"))
    val nWedges = wedges.agg(count(lit(1)).cast("long").as("n_wedges"))
    val nTri = wedges.join(e.select(col("a"), col("b").as("c")),
        Seq("a", "c"), "left_semi")
      .agg(count(lit(1)).cast("long").as("n_triangles"))
    nEdges.crossJoin(nWedges).crossJoin(nTri)
  }

  /** Time-series gap fill: resample a (series, ts, value) stream to a
    * regular per-series bucket grid (default hourly), forward-filling
    * each empty bucket with the last observed value. "Last" inside a
    * bucket is the deterministic (us, event_id) max, selected via
    * orderable-STRUCT max exactly like [[ohlcBars]]'s close. Distributed
    * shape: events collapse to one row per (series, bucket) in a
    * partial-agg groupBy FIRST, so the window that does the filling runs
    * over the bounded grid (series × time-span buckets), never over raw
    * events — at 100 TB the fill cost is fixed by the calendar, not the
    * data volume, and the grid explode is a per-series sequence() whose
    * length the span bounds.
    */
  def gapFill(events: DataFrame,
      bucketUs: Long = 3600000000L): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val obs = events.filter(col("value").isNotNull)
      .select(col("event_type").as("series"), col("event_id"),
        col("value").as("v"), unix_micros(col("ts")).as("us"))
      .withColumn("hr", expr(s"us div $bucketUs"))
      .groupBy("series", "hr")
      .agg(max(struct(col("us"), col("event_id"), col("v")))
        .getField("v").as("v_last"))
    val grid = obs.groupBy("series")
      .agg(min("hr").as("mn"), max("hr").as("mx"))
      .select(col("series"),
        explode(sequence(col("mn"), col("mx"))).as("hr"))
    grid.join(obs, Seq("series", "hr"), "left")
      .select(col("series"), col("hr"),
        last(col("v_last"), ignoreNulls = true)
          .over(Window.partitionBy("series").orderBy("hr")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow))
          .as("value"),
        col("v_last").isNotNull.as("observed"))
      .orderBy("series", "hr")
  }

  /** Time-series LINEAR interpolation over the per-series bucket grid —
    * [[gapFill]]'s forward fill is a step function; this lerps each
    * empty bucket between its nearest observed neighbors:
    * v = prev_v + (next_v − prev_v) · (hr − prev_hr) / (next_hr −
    * prev_hr), written in exactly that operation order so the IEEE
    * doubles match an ANSI oracle bit-for-bit before the final
    * round-6. Observed buckets keep their own (deterministic
    * (us, event_id)-last) value. The grid spans each series' observed
    * min..max bucket, so every gap has both neighbors — no
    * extrapolation branch. Distributed shape identical to [[gapFill]]:
    * events collapse to one row per (series, bucket) map-side FIRST,
    * and the two neighbor windows (last-non-null backward,
    * first-non-null forward) run over the bounded calendar grid, never
    * over raw events.
    */
  def interpolateLinear(events: DataFrame,
      bucketUs: Long = 3600000000L): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val obs = events.filter(col("value").isNotNull)
      .select(col("event_type").as("series"), col("event_id"),
        col("value").as("v"), unix_micros(col("ts")).as("us"))
      .withColumn("hr", expr(s"us div $bucketUs"))
      .groupBy("series", "hr")
      .agg(max(struct(col("us"), col("event_id"), col("v")))
        .getField("v").as("v_last"))
    val grid = obs.groupBy("series")
      .agg(min("hr").as("mn"), max("hr").as("mx"))
      .select(col("series"),
        explode(sequence(col("mn"), col("mx"))).as("hr"))
    val wPrev = Window.partitionBy("series").orderBy("hr")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wNext = Window.partitionBy("series").orderBy("hr")
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    val obsHr = when(col("v_last").isNotNull, col("hr"))
    grid.join(obs, Seq("series", "hr"), "left")
      .select(col("series"), col("hr"), col("v_last"),
        last(obsHr, ignoreNulls = true).over(wPrev).as("phr"),
        last(col("v_last"), ignoreNulls = true).over(wPrev).as("pv"),
        first(obsHr, ignoreNulls = true).over(wNext).as("nhr"),
        first(col("v_last"), ignoreNulls = true).over(wNext).as("nv"))
      .select(col("series"), col("hr"),
        round(when(col("v_last").isNotNull, col("v_last"))
          .otherwise(col("pv") + (col("nv") - col("pv")) *
            (col("hr") - col("phr")) / (col("nhr") - col("phr"))), 6)
          .as("value"),
        col("v_last").isNotNull.as("observed"))
      .orderBy("series", "hr")
  }

  /** Session-scoped Markov transition matrix over the event stream: for
    * each user, consecutive event pairs (ordered by the deterministic
    * (ts, event_id) key) whose gap is under `gapMinutes` — the same
    * half-open rule as [[sessionize]], so a transition never crosses a
    * session boundary — counted into a (from_type → to_type) matrix
    * with the row-conditional probability. The user-journey model
    * behind next-action prediction and funnel diagnostics. Distributed
    * shape: ONE user-keyed shuffle shared by the lead() pair window,
    * then a partial-aggregated groupBy whose output is bounded by
    * |event types|² — never by users or events; the probability window
    * runs over that tiny matrix.
    */
  def eventTransitions(events: DataFrame,
      gapMinutes: Int = 30): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val gapUs = gapMinutes * 60L * 1000000L
    val byTime = Window.partitionBy("user_id").orderBy("ts", "event_id")
    events
      .select(col("user_id"), col("event_type"), col("ts"),
        col("event_id"))
      .withColumn("to_type", lead(col("event_type"), 1).over(byTime))
      .withColumn("gap_us",
        lead(unix_micros(col("ts")), 1).over(byTime) -
          unix_micros(col("ts")))
      .filter(col("to_type").isNotNull && col("gap_us") < gapUs)
      .groupBy(col("event_type").as("from_type"), col("to_type"))
      .agg(count(lit(1)).cast("long").as("n"))
      .withColumn("p", round(col("n") /
        sum(col("n")).over(Window.partitionBy("from_type")), 6))
      .orderBy("from_type", "to_type")
  }

  /** Top-k frequent session paths — sequential-pattern mining at the
    * cheap, high-value end (length-3 contiguous event-type paths; the
    * n-gram analogue of [[eventTransitions]]' bigrams): within each
    * user's (ts, event_id) order, every window of three consecutive
    * events whose BOTH gaps are under the [[sessionize]] rule counts
    * its "a>b>c" path; output is the top-k paths by (count DESC, path).
    * Distributed shape: the SAME single user-keyed window shuffle as
    * transitions (two lead() columns ride it), a partial-aggregated
    * groupBy bounded by |types|³, and a bounded-heap top-k.
    */
  def topEventPaths(events: DataFrame, k: Int = 20,
      gapMinutes: Int = 30): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val gapUs = gapMinutes * 60L * 1000000L
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    // all four leads in ONE projection so Catalyst fuses them into a
    // single Window node (chained withColumn left three sequential
    // window passes over the same sorted partition)
    events
      .select(col("user_id"), col("event_type"), col("ts"),
        col("event_id"))
      .select(col("event_type"),
        lead(col("event_type"), 1).over(w).as("t2"),
        lead(col("event_type"), 2).over(w).as("t3"),
        (lead(unix_micros(col("ts")), 1).over(w) -
          unix_micros(col("ts"))).as("g1"),
        (lead(unix_micros(col("ts")), 2).over(w) -
          lead(unix_micros(col("ts")), 1).over(w)).as("g2"))
      // all three types non-null: concat_ws silently SKIPS a null
      // component ("A>C") where SQL's || nulls the whole path — guard
      // so a null event_type can never silently shorten a path
      .filter(col("event_type").isNotNull && col("t2").isNotNull &&
        col("t3").isNotNull && col("g1") < gapUs && col("g2") < gapUs)
      .select(concat_ws(">", col("event_type"), col("t2"), col("t3"))
        .as("path"))
      .groupBy("path").agg(count(lit(1)).cast("long").as("cnt"))
      .orderBy(col("cnt").desc, col("path")).limit(k)
  }

  /** Last-touch conversion attribution: every `convType` event credits
    * the user's most recent PRECEDING non-conversion event — strictly
    * earlier in the deterministic (ts, event_id) order and within the
    * [[sessionize]] gap — and conversions with no in-gap touch credit
    * the "(none)" channel. Output is the per-channel conversion count
    * and share: the marketing / funnel-diagnostics attribution report
    * (first-touch and multi-touch are the same window with first()/
    * collect over the frame). Distributed shape: ONE user-keyed
    * shuffle for the ignore-nulls last-touch window, then a
    * partial-aggregated groupBy bounded by |event types|.
    */
  def lastTouchAttribution(events: DataFrame,
      convType: String = "purchase", gapMinutes: Int = 30): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val gapUs = gapMinutes * 60L * 1000000L
    val before = Window.partitionBy("user_id").orderBy("ts", "event_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    val touch = when(col("event_type") =!= convType,
      struct(unix_micros(col("ts")).as("us"), col("event_id"),
        col("event_type").as("tp")))
    events
      .select(col("user_id"), col("event_type"), col("ts"),
        col("event_id"))
      .withColumn("prev", last(touch, ignoreNulls = true).over(before))
      .filter(col("event_type") === convType)
      .select(when(col("prev").isNotNull &&
          unix_micros(col("ts")) - col("prev.us") < gapUs,
          col("prev.tp")).otherwise(lit("(none)")).as("channel"))
      .groupBy("channel")
      .agg(count(lit(1)).cast("long").as("n_conversions"))
      .withColumn("share", round(col("n_conversions") /
        sum(col("n_conversions")).over(
          Window.partitionBy(Corpus.boundedKey(col("channel")))), 6))
      .orderBy("channel")
  }

  /** Key-skew diagnostics for a prospective shuffle key — the report a
    * pipeline owner reads BEFORE keying a 100 TB join or aggregation on
    * a column (x02's salting and AQE's skew split are the cures; this
    * is the diagnosis). One row per top-`topK` key (deterministic
    * (count DESC, key) order) carrying the global stats as constant
    * columns: total rows, exact key NDV, the key's share, the skew
    * ratio max/avg, and the integer salt-bucket suggestion
    * ceil(max_cnt · n_keys / n_rows) — computed in DOUBLE (exact under
    * 2^53, overflow-safe beyond, identical IEEE rounding in both
    * engines). Distributed shape: ONE key-keyed
    * partial-agg shuffle builds the count table (NDV-sized, never
    * row-sized); the top-k is a bounded heap (TakeOrderedAndProject)
    * and the summary is a second tiny aggregate over the counts; the
    * 1-row summary joins back by broadcast.
    */
  def skewReport(df: DataFrame, keyCol: String,
      topK: Int = 20): DataFrame = {
    val counts = df.groupBy(col(keyCol).as("key"))
      .agg(count(lit(1)).cast("long").as("cnt"))
    val summary = counts.agg(
      sum("cnt").cast("long").as("n_rows"),
      count(lit(1)).cast("long").as("n_keys"),
      max("cnt").cast("long").as("max_cnt"))
    val top = counts.orderBy(col("cnt").desc, col("key")).limit(topK)
    // sort on the TYPED key before the display cast — a string sort
    // would order tied counts lexicographically while the oracle (and
    // the top-k cut above) order them natively. max_cnt·n_keys runs in
    // DOUBLE: an int64 product overflows (silently in Spark, loudly in
    // DuckDB) once max·NDV passes 2^63, which a 100 TB table can reach;
    // the double stays exact under 2^53 and both engines round the
    // same product identically beyond it.
    top.crossJoin(broadcast(summary))
      .orderBy(col("cnt").desc, col("key"))
      .select(col("key").cast("string").as("key"), col("cnt"),
        round(col("cnt").cast("double") / col("n_rows"), 6).as("share"),
        col("n_rows"), col("n_keys"),
        round(col("max_cnt").cast("double") * col("n_keys") /
          col("n_rows"), 6).as("skew_ratio"),
        ceil(col("max_cnt").cast("double") * col("n_keys") /
          col("n_rows")).cast("long").as("salt_buckets"))
  }

  /** All point pairs within Euclidean `r` with the rounded distance —
    * the reporting wrapper over [[Clustering.gridPairs]] (the grid-cell
    * neighbor join; scale argument there).
    */
  def gridNeighborPairs(points: DataFrame, r: Double): DataFrame =
    Clustering.gridPairs(points, r)
      .select(col("id_a"), col("id_b"),
        round(sqrt(col("d2")), 6).as("dist"))
      .orderBy("id_a", "id_b")

  /** Rolling z-score anomaly detection over per-(series, bucket) event
    * rates: counts on the gap-free grid (empty buckets count 0, so the
    * trailing window is time-aligned), z against the mean/stddev of the
    * 24 PRECEDING buckets (current excluded — the suspect must not
    * contaminate its own baseline), flagged at |z| >= `zThresh` once
    * `minPrev` baseline buckets exist. A synthetic burst of `burstN`
    * events is planted `burstOffset` buckets into `burstSeries` so the
    * positive branch is exercised and self-validating (the plant MUST
    * flag). Distributed shape mirrors [[gapFill]]: raw events collapse
    * to per-bucket counts map-side, every window runs over the bounded
    * calendar grid. z compares on the ROUNDED value so the flag is
    * engine-deterministic.
    */
  def rollingAnomaly(events: DataFrame, bucketUs: Long = 3600000000L,
      burstSeries: String = "click", burstOffset: Long = 100L,
      burstN: Long = 300L, zThresh: Double = 3.0,
      minPrev: Int = 12): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val cnt = events
      .select(col("event_type").as("series"),
        expr(s"unix_micros(ts) div $bucketUs").as("hr"))
      .groupBy("series", "hr").agg(count(lit(1)).cast("long").as("n0"))
    val grid = cnt.groupBy("series")
      .agg(min("hr").as("mn"), max("hr").as("mx"))
      .select(col("series"),
        explode(sequence(col("mn"), col("mx"))).as("hr"), col("mn"))
    val n = grid.join(cnt, Seq("series", "hr"), "left")
      .select(col("series"), col("hr"),
        (coalesce(col("n0"), lit(0L)) +
          when(col("series") === burstSeries &&
            col("hr") === col("mn") + burstOffset, lit(burstN))
            .otherwise(lit(0L))).as("n"))
    val w = Window.partitionBy("series").orderBy("hr")
      .rowsBetween(-24, -1)
    n.select(col("series"), col("hr"), col("n"),
        count(lit(1)).over(w).as("n_prev"),
        avg(col("n")).over(w).as("mu0"),
        stddev_samp(col("n").cast("double")).over(w).as("sd0"))
      .withColumn("z0",
        when(col("n_prev") >= minPrev && col("sd0") > 0,
          round((col("n") - col("mu0")) / col("sd0"), 6)))
      .select(col("series"), col("hr"), col("n"),
        round(col("mu0"), 6).as("mu"),
        round(col("sd0"), 6).as("sd"),
        col("z0").as("z"),
        coalesce(abs(col("z0")) >= zThresh, lit(false)).as("is_anomaly"))
      .orderBy("series", "hr")
  }

  /** A/B experiment readout: users are assigned a variant by the
    * reproducible md5 rule ([[Corpus]]'s split idiom — first hex digit
    * < '8' → A, ~50/50), conversion = at least one `convType` event,
    * and the report is the two-proportion z-test a growth team reads:
    * per-variant exposures and conversions (exact distinct-user longs),
    * the rates, the pooled-proportion z statistic, and the |z| ≥ 1.96
    * verdict. Conversion = at least `minConv` `convType` events (the
    * dense synthetic corpus gives every user SOME purchase, so a
    * ≥1 definition saturates at p = 1 — a real lesson: a degenerate
    * pooled proportion zeroes the standard error, so z is guarded to
    * NULL and significant to false whenever se = 0 or a variant is
    * empty, on both engines). All doubles derive from exact int64
    * counts in a pinned operation order. Distributed
    * shape: ONE user-keyed aggregate collapses events to a
    * (user, converted) row map-side first, then a single scalar
    * aggregate with conditional sums — no shuffle wider than user ids,
    * output is one row.
    */
  def abReadout(events: DataFrame, convType: String = "purchase",
      minConv: Int = 1): DataFrame = {
    val users = events.groupBy("user_id")
      .agg(when(sum(when(col("event_type") === convType, 1L)
        .otherwise(0L)) >= minConv, 1L).otherwise(0L).as("conv"))
      .withColumn("va",
        substring(md5(col("user_id").cast("string")), 1, 1) < "8")
    val counts = users.agg(
      sum(when(col("va"), 1L).otherwise(0L)).cast("long").as("n_a"),
      sum(when(col("va"), col("conv")).otherwise(0L)).cast("long")
        .as("conv_a"),
      sum(when(!col("va"), 1L).otherwise(0L)).cast("long").as("n_b"),
      sum(when(!col("va"), col("conv")).otherwise(0L)).cast("long")
        .as("conv_b"))
    // ANSI mode throws on ANY division by zero (doubles included), and
    // a when() CONDITION is still evaluated — so every division sits
    // strictly under its own guard
    val ra = when(col("n_a") > 0,
      col("conv_a").cast("double") / col("n_a"))
    val rb = when(col("n_b") > 0,
      col("conv_b").cast("double") / col("n_b"))
    val p = (col("conv_a") + col("conv_b")).cast("double") /
      (col("n_a") + col("n_b"))
    val se = when(col("n_a") > 0 && col("n_b") > 0,
      sqrt(p * (lit(1.0) - p) *
        (lit(1.0) / col("n_a") + lit(1.0) / col("n_b"))))
    val z = when(se > 0, (ra - rb) / se)
    counts.select(col("n_a"), col("conv_a"), round(ra, 6).as("rate_a"),
      col("n_b"), col("conv_b"), round(rb, 6).as("rate_b"),
      round(z, 6).as("z"),
      coalesce(abs(z) >= 1.96, lit(false)).as("significant"))
  }

  /** Trimmed-mean A/B readout (the robust companion to [[abReadout]]):
    * the metric is each user's event count, arms split by the p163 md5
    * convention, and each arm drops its top and bottom `trimPct`% of
    * users before the mean — the readout teams reach for on
    * heavy-tailed metrics, where one whale user swings a raw mean but
    * can move a trimmed mean by at most one rank slot. Trim bounds are
    * EXACT integer ranks (lo = n·trimPct div 100; keep lo < rank ≤
    * n − lo), so both engines cut at identical users — no float
    * quantile boundary to disagree on.
    *
    * Distributed shape: one user-keyed partial-agg collapse, then ONE
    * [[Corpus.withGlobalOrder]] rank over (arm, x, user_id) minus
    * per-arm offsets (the p63 composition — an arm is HALF the corpus,
    * so an arm-partitioned window sort would put half the users in one
    * task). Means are exact DECIMAL(28,0) integer sums over the kept
    * band; every division guarded.
    */
  def trimmedReadout(events: DataFrame, trimPct: Int = 5): DataFrame = {
    require(trimPct >= 0 && trimPct < 50, s"bad trimPct $trimPct")
    val users = events.groupBy("user_id")
      .agg(count(lit(1)).cast("long").as("x"))
      .withColumn("arm",
        when(substring(md5(col("user_id").cast("string")), 1, 1) < "8",
          "A").otherwise("B"))
    val ranked = Corpus.withGlobalOrder(
      users.select(col("arm"), col("user_id"), col("x")),
      Seq(col("arm"), col("x"), col("user_id")), lit(1L))
    val offs = ranked.groupBy("arm")
      .agg(min("pos").as("_p0"), count(lit(1)).cast("long").as("n"))
    val kept = col("rk") > col("lo") && col("rk") <= col("n") - col("lo")
    ranked.join(broadcast(offs), Seq("arm"))
      .withColumn("rk", col("pos") - col("_p0") + lit(1L))
      .withColumn("lo", expr(s"(n * $trimPct) div 100"))
      .groupBy("arm")
      .agg(max(col("n")).as("n_users"),
        max(col("lo")).as("n_trim"),
        coalesce(sum(when(kept, 1L).otherwise(0L)), lit(0L))
          .as("n_kept"),
        sum(col("x").cast("decimal(28,0)")).as("_sx"),
        sum(when(kept, col("x")).otherwise(0L).cast("decimal(28,0)"))
          .as("_sxt"))
      .select(col("arm"), col("n_users"), col("n_trim"), col("n_kept"),
        round(when(col("n_users") > 0,
          col("_sx").cast("double") / col("n_users").cast("double")), 6)
          .as("mean_raw"),
        round(when(col("n_kept") > 0,
          col("_sxt").cast("double") / col("n_kept").cast("double")), 6)
          .as("mean_trimmed"))
      .orderBy("arm")
  }

  /** Cohen's kappa between two boolean labelers over the same corpus —
    * the agreement readout a weak-supervision pipeline runs before
    * trusting a new labeling function (raw agreement flatters: two
    * labelers that both say "keep" 95% of the time agree 90%+ by
    * chance; kappa = (p_o − p_e)/(1 − p_e) corrects for that chance
    * floor). The 2×2 confusion is ONE scalar aggregate of exact int64
    * cell counts; p_o/p_e/kappa are a fixed double expression tree
    * over those counts, mirrored term-for-term by the oracle. Guard:
    * p_e = 1 ⟺ both labelers constant — kappa undefined (0/0) → NULL,
    * `guarded` true. The p_e = 1 test is EXACT in int64:
    * n·n − (a1·b1 + (n−a1)(n−b1)) == 0, no float equality.
    */
  def labelerKappa(df: DataFrame, labelA: Column,
      labelB: Column): DataFrame = {
    val cells = df.select(labelA.as("la"), labelB.as("lb"))
      .agg(
        coalesce(sum(when(col("la") && col("lb"), 1L).otherwise(0L)),
          lit(0L)).cast("long").as("n11"),
        coalesce(sum(when(col("la") && !col("lb"), 1L).otherwise(0L)),
          lit(0L)).cast("long").as("n10"),
        coalesce(sum(when(!col("la") && col("lb"), 1L).otherwise(0L)),
          lit(0L)).cast("long").as("n01"),
        coalesce(sum(when(!col("la") && !col("lb"), 1L).otherwise(0L)),
          lit(0L)).cast("long").as("n00"))
    val n = col("n11") + col("n10") + col("n01") + col("n00")
    val a1 = col("n11") + col("n10") // labeler A yes
    val b1 = col("n11") + col("n01") // labeler B yes
    // chance-agreement numerator in exact int64: pe = (a1·b1 +
    // a0·b0)/n²; pe=1 ⟺ n² − that numerator == 0
    val peNum = a1 * b1 + (n - a1) * (n - b1)
    val ok = (n > 0) && (n * n - peNum > 0)
    val po = (col("n11") + col("n00")).cast("double") / n.cast("double")
    val pe = peNum.cast("double") / (n * n).cast("double")
    cells.select(col("n11"), col("n10"), col("n01"), col("n00"),
      n.cast("long").as("n"),
      round(when(n > 0, po), 6).as("p_observed"),
      round(when(n > 0, pe), 6).as("p_chance"),
      round(when(ok, (po - pe) / (lit(1.0) - pe)), 6).as("kappa"),
      coalesce(!ok, lit(true)).as("guarded"))
  }

  /** Minimum-detectable-effect / power readout for the [[abReadout]]
    * experiment at its CURRENT sample sizes — the "how small a lift
    * could this test even see" table a team consults before reading
    * the z score (an insignificant result on an underpowered test is
    * silence, not evidence). At 80% power and α = 0.05 two-sided:
    * MDE_abs = (z_{α/2} + z_β)·SE = (1.959964 + 0.841621)·
    * √(p̂(1−p̂)(1/n_a + 1/n_b)) with p̂ the pooled conversion rate.
    * One user-keyed collapse + one scalar aggregate (the p163 plan);
    * every division and √ guarded; `powered_for_observed` says whether
    * the observed |rate gap| clears the MDE — the readout's verdict.
    */
  def mdeReadout(events: DataFrame, convType: String = "purchase",
      minConv: Int = 1): DataFrame = {
    val users = events.groupBy("user_id")
      .agg(when(sum(when(col("event_type") === convType, 1L)
        .otherwise(0L)) >= minConv, 1L).otherwise(0L).as("conv"))
      .withColumn("va",
        substring(md5(col("user_id").cast("string")), 1, 1) < "8")
    val counts = users.agg(
      coalesce(sum(when(col("va"), 1L).otherwise(0L)), lit(0L))
        .cast("long").as("n_a"),
      coalesce(sum(when(col("va"), col("conv")).otherwise(0L)), lit(0L))
        .cast("long").as("conv_a"),
      coalesce(sum(when(!col("va"), 1L).otherwise(0L)), lit(0L))
        .cast("long").as("n_b"),
      coalesce(sum(when(!col("va"), col("conv")).otherwise(0L)),
        lit(0L)).cast("long").as("conv_b"))
    val ok = col("n_a") > 0 && col("n_b") > 0
    val p = when(ok, (col("conv_a") + col("conv_b")).cast("double") /
      (col("n_a") + col("n_b")).cast("double"))
    val se = when(ok, sqrt(p * (lit(1.0) - p) *
      (lit(1.0) / col("n_a") + lit(1.0) / col("n_b"))))
    val mde = lit(1.959964 + 0.841621) * se
    val ra = when(col("n_a") > 0,
      col("conv_a").cast("double") / col("n_a"))
    val rb = when(col("n_b") > 0,
      col("conv_b").cast("double") / col("n_b"))
    val mdeRel = when(ok && p > 0, mde / p)
    counts.select(col("n_a"), col("conv_a"), col("n_b"), col("conv_b"),
      round(p, 6).as("rate_pooled"),
      round(mde, 6).as("mde_abs"),
      round(mdeRel, 6).as("mde_rel"),
      coalesce(abs(ra - rb) >= mde, lit(false))
        .as("powered_for_observed"),
      coalesce(!ok, lit(true)).as("guarded"))
  }

  /** Percentile-bootstrap confidence interval for a corpus mean with
    * DETERMINISTIC Poisson resampling: each of B replicas reweights
    * every row by a Poisson(1) draw w = F⁻¹(u) where u derives from
    * md5(id:replica) — the standard "online bootstrap" trick (a
    * Poisson(1) count per row ≈ sampling with replacement) made
    * engine-portable and re-run-stable because the randomness is a
    * pure hash function of the data, not RNG state. Replica means are
    * swx_b / sw_b over EXACT int64 sums (w ≤ 9, so w·x stays int64);
    * the 90% CI picks the rank-⌈0.05B⌉ and rank-⌈0.95B⌉ replica means
    * by exact rank over the B-row replica table (bounded window on
    * [[Corpus.boundedKey]]). The inverse-CDF thresholds are literal
    * constants written identically in the oracle, so the CASE cuts at
    * bit-identical doubles in both engines.
    *
    * Distributed shape: one narrow (x, id) scan exploded ×B into
    * (replica, w·x, w) terms that partial-aggregate map-side to B
    * rows — the amplification never crosses the shuffle unreduced.
    */
  def bootstrapCi(df: DataFrame, xCol: String, idCol: String = "doc_id",
      b: Int = 40): DataFrame = {
    require(b >= 20 && b <= 1000, s"bad replica count $b")
    // cumulative Poisson(1): P(X <= k), k = 0..8 (else 9)
    val cuts = Seq(
      0.36787944117144233, 0.7357588823428847, 0.9196986029286058,
      0.9810118431238462, 0.9963401531726563, 0.9994058151824183,
      0.9999167588507119, 0.9999897508033253, 0.9999988747974020)
    val u = conv(substring(md5(concat(col(idCol).cast("string"),
      lit(":"), col("_b").cast("string"))), 1, 8), 16, 10)
      .cast("double") / 4294967296.0
    val w = cuts.zipWithIndex.foldRight(lit(9L): Column) {
      case ((t, k), acc) => when(u < t, k.toLong).otherwise(acc) }
    val reps = df
      .select(col(idCol), col(xCol).cast("long").as("_x"),
        explode(sequence(lit(0), lit(b - 1))).as("_b"))
      .select(col("_b"), (w * col("_x")).as("_wx"), w.as("_w"))
      .groupBy("_b")
      .agg(sum("_wx").cast("long").as("swx"),
        sum("_w").cast("long").as("sw"))
      .select(col("_b"),
        round(when(col("sw") > 0,
          col("swx").cast("double") / col("sw").cast("double")), 6)
          .as("m"))
    val loR = math.ceil(0.05 * b).toLong
    val hiR = math.ceil(0.95 * b).toLong
    val wR = org.apache.spark.sql.expressions.Window
      .partitionBy(Corpus.boundedKey(col("_b")))
      .orderBy(col("m"), col("_b"))
    val ci = reps.withColumn("rk", row_number().over(wR).cast("long"))
      .agg(max(when(col("rk") === loR, col("m"))).as("ci_lo"),
        max(when(col("rk") === hiR, col("m"))).as("ci_hi"),
        count(lit(1)).cast("long").as("n_replicas"))
    val full = df.agg(
      coalesce(count(lit(1)), lit(0L)).cast("long").as("n"),
      round(when(count(lit(1)) > 0,
        sum(col(xCol).cast("long")).cast("double") /
          count(lit(1)).cast("double")), 6).as("mean_full"))
    full.crossJoin(broadcast(ci))
      .select(col("n"), col("mean_full"), col("n_replicas"),
        col("ci_lo"), col("ci_hi"),
        coalesce(col("ci_lo") <= col("mean_full") &&
          col("mean_full") <= col("ci_hi"), lit(false))
          .as("mean_in_ci"))
  }

  /** k-variant experiment readout ([[abReadout]] generalized past two
    * arms): users assign by md5 hex digit mod k (deterministic,
    * engine-portable, independent of any data column), conversion is
    * `minConv` events of `convType`, and the readout is Pearson's
    * chi-square over the 2×k converted/not contingency table against
    * the α=0.05 critical value for df = k−1. The saturation guards are
    * INTEGER-exact: every expected cell must clear `minExpected`
    * (e_cell ≥ m ⟺ n_i·tc ≥ m·tn in int64 — no float compare can
    * disagree between engines), else the statistic is NULL and
    * `significant` false; the statistic itself is built as a FIXED
    * left-to-right sum over the k pivoted variant columns, so its IEEE
    * rounding is identical in any engine and under any partitioning
    * (a float sum across grouped rows would re-associate).
    *
    * Distributed shape: one user-keyed partial-agg groupBy, then a
    * single 2k-counter scalar aggregate; every expected count, guard,
    * and chi term is a projection over that one row. Nothing row-wide
    * ever crosses a second shuffle at any scale.
    */
  def chiSquareReadout(events: DataFrame, convType: String = "purchase",
      k: Int = 3, minConv: Int = 1, minExpected: Long = 5L,
      critOverride: Option[Double] = None): DataFrame = {
    require(k >= 2 && k <= 16, s"k=$k not in [2,16] (one hex digit)")
    // upper-tail chi-square critical values at α=0.05, df = k−1
    val critTable = Map(1 -> 3.841, 2 -> 5.991, 3 -> 7.815, 4 -> 9.488,
      5 -> 11.070)
    val crit = critOverride.getOrElse {
      require(critTable.contains(k - 1),
        s"no built-in α=0.05 critical value for df=${k - 1}; pass critOverride")
      critTable(k - 1)
    }
    chiSquareFromConv(events.groupBy("user_id")
      .agg(when(sum(when(col("event_type") === convType, 1L)
        .otherwise(0L)) >= minConv, 1L).otherwise(0L).as("conv")),
      k, minExpected, crit)
  }

  /** [[chiSquareReadout]]'s readout stage over PRE-COMPUTED per-user
    * conversion flags (`user_id`, `conv` ∈ {0,1}) — the seam the s38
    * streaming mirror shares: its carried state is per-user partial
    * conversion-event counts, which merge by sum and threshold into
    * exactly this table, so the streamed readout flows through the
    * identical arithmetic as the batch gate.
    */
  private[graft] def chiSquareFromConv(flags: DataFrame, k: Int,
      minExpected: Long, crit: Double): DataFrame = {
    val users = flags
      .withColumn("variant",
        conv(substring(md5(col("user_id").cast("string")), 1, 1),
          16, 10).cast("int") % k)
    // coalesce to 0: an EMPTY flags input makes ungrouped SUMs NULL,
    // which would propagate NULL through tn/ok and break the
    // "guarded=true on failed guards" contract (ADVICE r10)
    val aggs = (0 until k).flatMap { i => Seq(
      coalesce(sum(when(col("variant") === i, 1L).otherwise(0L)),
        lit(0L)).cast("long").as(s"n_$i"),
      coalesce(sum(when(col("variant") === i, col("conv"))
        .otherwise(0L)), lit(0L)).cast("long").as(s"conv_$i")) }
    val pivot = users.agg(aggs.head, aggs.tail: _*)
      .withColumn("tn",
        (0 until k).map(i => col(s"n_$i")).reduce(_ + _).cast("long"))
      .withColumn("tc",
        (0 until k).map(i => col(s"conv_$i")).reduce(_ + _).cast("long"))
    val ok = (0 until k).map { i =>
      (col(s"n_$i") * col("tc") >= lit(minExpected) * col("tn")) &&
        (col(s"n_$i") * (col("tn") - col("tc")) >=
          lit(minExpected) * col("tn"))
    }.reduce(_ && _) && (col("tn") > 0)
    val tnD = col("tn").cast("double")
    val tcD = col("tc").cast("double")
    val chi = (0 until k).map { i =>
      val ni = col(s"n_$i").cast("double")
      val ci = col(s"conv_$i").cast("double")
      val e1 = ni * tcD / tnD
      val e0 = ni * (tnD - tcD) / tnD
      (ci - e1) * (ci - e1) / e1 +
        ((ni - ci) - e0) * ((ni - ci) - e0) / e0
    }.reduce(_ + _)
    // significance compares the ROUNDED statistic so a boundary case
    // can't flip on the 7th decimal between engines
    val chi2 = when(ok, round(chi, 6))
    val perVariant = (0 until k).flatMap { i => Seq(
      col(s"n_$i"), col(s"conv_$i"),
      round(when(col(s"n_$i") > 0,
        col(s"conv_$i").cast("double") / col(s"n_$i")), 6)
        .as(s"rate_$i")) }
    pivot.select(perVariant ++ Seq(
      chi2.as("chi2"), lit(k - 1).as("df"),
      coalesce(chi2 >= crit, lit(false)).as("significant"),
      coalesce(!ok, lit(true)).as("guarded")): _*)
  }

  /** CUPED variance-reduced A/B readout (Deng et al., WSDM 2013): the
    * conversion metric is adjusted by a PRE-EXPERIMENT covariate — each
    * user's count of `covType` events — via
    * ŷ_arm = ȳ_arm − θ·(x̄_arm − x̄), θ = Cov(x,y)/Var(x) pooled, which
    * removes the covariate-explained variance (`var_reduction` = θ²·
    * Var(x)/Var(y) = 1 − Var(y−θx)/Var(y)) and tightens the z test the
    * plain [[abReadout]] runs on raw rates.
    *
    * Determinism discipline (the p163/p164 house rules): every moment
    * is assembled from EXACT int64 sums (n, Σy, Σx, Σx², Σxy per arm —
    * y is a 0/1 flag so Σy² = Σy) that commute under any partitioning;
    * the double arithmetic after is one fixed expression tree mirrored
    * operation-for-operation in the oracle, all scale factors carried
    * as n²-scaled moments so nothing divides early. Guards: both arms
    * non-empty, Var(x) > 0 (θ undefined on a constant covariate — the
    * gate's second scenario pins that branch with a covType absent
    * from the corpus), Var(y) > 0, residual variance > 0; any failure
    * → NULL stats, `significant` false, `guarded` true.
    *
    * Distributed shape: identical to p163 — one user-keyed partial-agg
    * groupBy, one 10-counter scalar aggregate, then projections.
    */
  def cupedReadout(events: DataFrame, convType: String = "purchase",
      covType: String = "view", minConv: Int = 1): DataFrame = {
    val users = events.groupBy("user_id").agg(
      when(sum(when(col("event_type") === convType, 1L)
        .otherwise(0L)) >= minConv, 1L).otherwise(0L).as("y"),
      sum(when(col("event_type") === covType, 1L).otherwise(0L))
        .as("x"))
      .withColumn("va",
        substring(md5(col("user_id").cast("string")), 1, 1) < "8")
    val s = users.agg(
      sum(when(col("va"), 1L).otherwise(0L)).cast("long").as("n_a"),
      sum(when(!col("va"), 1L).otherwise(0L)).cast("long").as("n_b"),
      sum(when(col("va"), col("y")).otherwise(0L)).cast("long")
        .as("sy_a"),
      sum(when(!col("va"), col("y")).otherwise(0L)).cast("long")
        .as("sy_b"),
      sum(when(col("va"), col("x")).otherwise(0L)).cast("long")
        .as("sx_a"),
      sum(when(!col("va"), col("x")).otherwise(0L)).cast("long")
        .as("sx_b"),
      sum(when(col("va"), col("x") * col("x")).otherwise(0L))
        .cast("long").as("sxx_a"),
      sum(when(!col("va"), col("x") * col("x")).otherwise(0L))
        .cast("long").as("sxx_b"),
      sum(when(col("va"), col("x") * col("y")).otherwise(0L))
        .cast("long").as("sxy_a"),
      sum(when(!col("va"), col("x") * col("y")).otherwise(0L))
        .cast("long").as("sxy_b"))
    val naD = col("n_a").cast("double")
    val nbD = col("n_b").cast("double")
    val nD = (col("n_a") + col("n_b")).cast("double")
    val sxD = (col("sx_a") + col("sx_b")).cast("double")
    val syD = (col("sy_a") + col("sy_b")).cast("double")
    val sxxD = (col("sxx_a") + col("sxx_b")).cast("double")
    val sxyD = (col("sxy_a") + col("sxy_b")).cast("double")
    // n²-scaled central moments — the n² cancels in θ, and se carries
    // it explicitly, so no mean is ever divided out early
    val varX = nD * sxxD - sxD * sxD
    val covXY = nD * sxyD - sxD * syD
    val varY = nD * syD - syD * syD // y ∈ {0,1} ⇒ Σy² = Σy
    val ok = col("n_a") > 0 && col("n_b") > 0 &&
      varX > 0 && varY > 0
    // every division sits strictly under a guard (ANSI throws on
    // double division by zero where DuckDB nulls — the p161/ADVICE
    // crash class; an arm can be empty when few users exist): the raw
    // θ expression is only ever evaluated inside when(ok, …) branches
    val theta0 = covXY / varX
    val theta = when(ok, theta0)
    val varD = when(ok, varY - theta0 * covXY) // n²·Var(y − θx)
    val rateA = when(col("n_a") > 0,
      col("sy_a").cast("double") / naD)
    val rateB = when(col("n_b") > 0,
      col("sy_b").cast("double") / nbD)
    val adjDiff = when(ok, (col("sy_a").cast("double") / naD -
      col("sy_b").cast("double") / nbD) -
      theta0 * (col("sx_a").cast("double") / naD -
        col("sx_b").cast("double") / nbD))
    val se = when(varD > 0,
      sqrt(varD / (nD * nD) * (lit(1.0) / naD + lit(1.0) / nbD)))
    val z = when(se > 0, adjDiff / se)
    s.select(col("n_a"), col("n_b"),
      round(rateA, 6).as("rate_a"), round(rateB, 6).as("rate_b"),
      round(theta, 6).as("theta"),
      round(adjDiff, 6).as("adj_diff"),
      round(when(ok, lit(1.0) - varD / varY), 6).as("var_reduction"),
      round(z, 6).as("z_adj"),
      coalesce(abs(z) >= 1.96, lit(false)).as("significant"),
      not(coalesce(se > 0, lit(false))).as("guarded"))
  }

  /** Group-sequential experiment monitor (O'Brien–Fleming bounds): the
    * p163 two-proportion z evaluated at `looks` interim cuts of the
    * experiment's week range, each compared against its published OBF
    * critical value (4.049/2.863/2.337/2.024 for K=4 at two-sided
    * α=0.05) — the peeking-safe readout a growth team checks weekly
    * without inflating false positives. A user enters the population
    * at the look containing their FIRST event; conversion at look k
    * counts only `convType` events up to that cut, so early looks see
    * genuinely less data, exactly like a live experiment.
    *
    * Determinism: cuts are integer week arithmetic off the corpus
    * min/max; all 4·4 counters are exact int64 conditional sums
    * computed in ONE scalar aggregate over the per-user pivot (one
    * corpus scan — the look rows then EXPLODE out of the single
    * pivoted row, never re-running the aggregate); each z is the p163
    * expression form (sqrt is IEEE-correctly-rounded, so the doubles
    * are engine-identical); boundaries are literals.
    *
    * Distributed shape: one user-keyed partial-agg groupBy (the cuts
    * ride a broadcast 1-row range table), one 16-counter scalar
    * aggregate, one explode of a 1-row array — p163's plan with wider
    * counters.
    */
  /** The pooled two-proportion z (p163's expression form) over four
    * counter columns — the seam [[sequentialReadout]] and the s39
    * streaming monitor share, so an interim look computed live at
    * ingest carries bit-identical arithmetic to the batch gate's.
    */
  private[graft] def twoPropZ(na: Column, ca: Column, nb: Column,
      cb: Column): Column = {
    val ra = when(na > 0, ca.cast("double") / na)
    val rb = when(nb > 0, cb.cast("double") / nb)
    val p = (ca + cb).cast("double") / (na + nb)
    val se = when(na > 0 && nb > 0,
      sqrt(p * (lit(1.0) - p) * (lit(1.0) / na + lit(1.0) / nb)))
    when(se > 0, (ra - rb) / se)
  }

  /** One-row per-look counter pivot shared by [[sequentialReadout]]
    * (p167) and [[alwaysValidReadout]] (p188): the per-user week pivot
    * under the weekly cut schedule, collapsed to 4·looks exact int64
    * counters (+ the cuts) in ONE scalar aggregate — a schedule or
    * censoring fix lands once for both monitors. The conversion
    * threshold may differ by arm (minConvA/minConvB) — that is the
    * always-valid gate's planted-effect scenario; the group-sequential
    * caller passes them equal.
    */
  private def lookCounterPivot(events: DataFrame, convType: String,
      looks: Int, minConvA: Int, minConvB: Int): DataFrame = {
    val ev = events.select(col("user_id"), col("event_type"),
      expr("unix_micros(ts) div 604800000000").as("wk"))
    val rng = ev.agg(min("wk").as("mn"), max("wk").as("mx"))
    def cutExpr(k: Int): Column =
      col("mn") +
        expr(s"((mx - mn + 1) * $k + ${looks - 1}) div $looks") - 1
    val userAggs = Seq(min(col("wk")).as("fw")) ++
      (1 to looks).map(k =>
        sum(when(col("event_type") === convType &&
          col("wk") <= cutExpr(k), 1L).otherwise(0L)).as(s"p_$k")) ++
      Seq(min(col("mn")).as("mn"), min(col("mx")).as("mx"))
    val users = ev.crossJoin(broadcast(rng))
      .groupBy("user_id").agg(userAggs.head, userAggs.tail: _*)
      .withColumn("va",
        substring(md5(col("user_id").cast("string")), 1, 1) < "8")
    val thr = when(col("va"), lit(minConvA)).otherwise(lit(minConvB))
    val sums = (1 to looks).flatMap { k => Seq(
      sum(when(col("va") && col("fw") <= cutExpr(k), 1L)
        .otherwise(0L)).cast("long").as(s"na_$k"),
      sum(when(col("va") && col("fw") <= cutExpr(k) &&
        col(s"p_$k") >= thr, 1L).otherwise(0L)).cast("long")
        .as(s"ca_$k"),
      sum(when(!col("va") && col("fw") <= cutExpr(k), 1L)
        .otherwise(0L)).cast("long").as(s"nb_$k"),
      sum(when(!col("va") && col("fw") <= cutExpr(k) &&
        col(s"p_$k") >= thr, 1L).otherwise(0L)).cast("long")
        .as(s"cb_$k"))
    } ++ (1 to looks).map(k => max(cutExpr(k)).as(s"cut_$k"))
    users.agg(sums.head, sums.tail: _*)
  }

  def sequentialReadout(events: DataFrame,
      convType: String = "purchase", minConv: Int = 1, looks: Int = 4,
      boundaries: Seq[Double] = Seq(4.049, 2.863, 2.337, 2.024))
      : DataFrame = {
    require(boundaries.length == looks,
      s"need $looks boundaries, got ${boundaries.length}")
    val piv = lookCounterPivot(events, convType, looks, minConv, minConv)
    def zExpr(k: Int): Column = twoPropZ(col(s"na_$k"), col(s"ca_$k"),
      col(s"nb_$k"), col(s"cb_$k"))
    // stage z_k ONCE in a projection under the explode (r15): the old
    // form re-inlined the z expression into every struct field AND
    // k-quadratically into the first_crossing folds, blowing the
    // generated method past janino's 64 KB limit (the r14 verdict's
    // test-tail stack) — the whole 1-row explode then ran interpreted.
    // Same expressions, same values; the explode now references plain
    // attributes.
    val pivZ = (1 to looks).foldLeft(piv)((d, k) =>
      d.withColumn(s"z_$k", zExpr(k)))
    val crossed = (1 to looks).map(k =>
      coalesce(abs(col(s"z_$k")) >= boundaries(k - 1), lit(false)))
    pivZ.select(explode(array((1 to looks).map { k =>
        struct(lit(k).as("look"), col(s"cut_$k").as("wk_cut"),
          col(s"na_$k").as("n_a"), col(s"ca_$k").as("conv_a"),
          col(s"nb_$k").as("n_b"), col(s"cb_$k").as("conv_b"),
          round(col(s"z_$k"), 6).as("z"),
          lit(boundaries(k - 1)).as("boundary"),
          crossed(k - 1).as("crossed"),
          (1 until k).map(j => !crossed(j - 1))
            .foldLeft(crossed(k - 1))(_ && _).as("first_crossing"))
      }: _*)).as("r"))
      .select(col("r.*"))
      .orderBy("look")
  }

  /** The mixture-SPRT always-valid p-value at one observation point
    * (Johari/Koomen/Pekelis/Walsh "Peeking at A/B Tests", KDD 2017;
    * Howard/Ramdas line of work) — the seam [[alwaysValidReadout]] and
    * the s44 streaming monitor share, so a live look carries
    * bit-identical arithmetic to the batch gate's. Two-proportion
    * normal approximation with a N(0, τ²) mixture over the effect:
    * Λ = √(V/(V+τ²)) · exp(θ̂²τ² / (2V(V+τ²))), p = min(1, 1/Λ).
    * The RUNNING MIN of p over looks is valid at ANY stopping time —
    * no fixed look count, no spending function (the restriction
    * [[sequentialReadout]]'s O'Brien–Fleming bounds carry). Empty arm
    * or V = 0 → NULL (guarded). sqrt/division are IEEE-identical
    * cross-engine; the one exp is JVM Math vs libm, so cross-engine
    * agreement is "within the 6-dp compare grid, verified at three
    * SFs" (the fdrBh convention), not bit-for-bit.
    */
  private[graft] def msprtPNow(na: Column, ca: Column, nb: Column,
      cb: Column, tauSq: Double): Column = {
    val naD = na.cast("double"); val nbD = nb.cast("double")
    val theta = ca.cast("double") / naD - cb.cast("double") / nbD
    val p = (ca + cb).cast("double") / (na + nb)
    val v = p * (lit(1.0) - p) * (lit(1.0) / naD + lit(1.0) / nbD)
    val lam = sqrt(v / (v + tauSq)) *
      exp(theta * theta * lit(tauSq) / (lit(2.0) * v * (v + lit(tauSq))))
    when(na > 0 && nb > 0 && v > 0, least(lit(1.0), lit(1.0) / lam))
  }

  /** Always-valid (mSPRT) experiment readout — the modern replacement
    * for fixed-look group-sequential monitoring: the always-valid
    * p-value process lets the team peek after EVERY micro-batch and
    * stop whenever p_always ≤ α, with the type-I guarantee holding at
    * any data-dependent stopping time (no K-look calendar, no OBF
    * spending schedule). Evaluated here at the p167 weekly cuts purely
    * as observation points — the guarantee does not depend on them —
    * over the same per-user conversion pivot ([[lookCounterPivot]]).
    * The conversion threshold may differ by arm: the planted-effect
    * scenario (12 vs 16 on a ~13-events/user corpus) must drive
    * p_always through the α boundary, the honest-null scenario must
    * not.
    *
    * Distributed shape: p167's exactly — one user-keyed partial-agg
    * groupBy, ONE 4·looks-counter scalar aggregate, looks explode from
    * the single pivoted row; the running min is least() over the
    * pivot's own columns, never a window.
    */
  def alwaysValidReadout(events: DataFrame,
      convType: String = "purchase", minConvA: Int = 14,
      minConvB: Int = 14, looks: Int = 4, tauSq: Double = 0.01,
      alpha: Double = 0.05): DataFrame = {
    val piv = lookCounterPivot(events, convType, looks, minConvA,
      minConvB)
    def pNow(k: Int): Column = msprtPNow(col(s"na_$k"), col(s"ca_$k"),
      col(s"nb_$k"), col(s"cb_$k"), tauSq)
    def theta(k: Int): Column =
      when(col(s"na_$k") > 0 && col(s"nb_$k") > 0,
        col(s"ca_$k").cast("double") / col(s"na_$k").cast("double") -
          col(s"cb_$k").cast("double") / col(s"nb_$k").cast("double"))
    // stage pnow_k ONCE under the explode — the sequentialReadout
    // janino note above; the running-min pAv otherwise re-inlines the
    // full mSPRT expression k-quadratically
    val pivP = (1 to looks).foldLeft(piv)((d, k) =>
      d.withColumn(s"pnow_$k", pNow(k)))
    def pAv(k: Int): Column =
      if (k == 1) col("pnow_1")
      else least((1 to k).map(j => col(s"pnow_$j")): _*)
    pivP.select(explode(array((1 to looks).map { k =>
        struct(lit(k).as("look"), col(s"cut_$k").as("wk_cut"),
          col(s"na_$k").as("n_a"), col(s"ca_$k").as("conv_a"),
          col(s"nb_$k").as("n_b"), col(s"cb_$k").as("conv_b"),
          round(theta(k), 6).as("theta"),
          round(col(s"pnow_$k"), 6).as("p_now"),
          round(pAv(k), 6).as("p_always"),
          coalesce(pAv(k) <= alpha, lit(false)).as("rejected"),
          col(s"pnow_$k").isNull.as("guarded"))
      }: _*)).as("r"))
      .select(col("r.*"))
      .orderBy("look")
  }

  /** Bot-signature detection by inter-event PERIODICITY: for each user
    * with at least `minGaps` inter-event gaps, the share of gaps
    * (rounded down to seconds) equal to the user's MOST COMMON gap —
    * automation fires on a timer, so its top-gap share approaches 1,
    * while organic activity spreads. `is_bot` flags share ≥
    * `shareThresh`. Chosen over a variance test deliberately: variance
    * of µs-scale int64 gaps needs Σg² (overflows int64) or doubles
    * (engine-divergent), while the mode share is pure counting — exact
    * int64 everywhere, one division at the end. Mode tiebreak is
    * (count DESC, gap ASC) via orderable-struct max. Distributed
    * shape: one user-keyed window shuffle for the gaps, a
    * (user, gap_s) partial-agg count whose cardinality is bounded by
    * distinct per-user gap values, and a per-user rollup.
    */
  def botSignature(events: DataFrame, minGaps: Int = 5,
      shareThresh: Double = 0.8): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    val gaps = events
      .select(col("user_id"), col("ts"), col("event_id"))
      .withColumn("g",
        lead(unix_micros(col("ts")), 1).over(w) - unix_micros(col("ts")))
      .filter(col("g").isNotNull)
      .select(col("user_id"), expr("g div 1000000").as("gap_s"))
    gaps.groupBy("user_id", "gap_s")
      .agg(count(lit(1)).cast("long").as("cnt"))
      .groupBy("user_id")
      .agg(sum("cnt").cast("long").as("n_gaps"),
        max(struct(col("cnt"), (-col("gap_s")).as("ng")))
          .as("top"))
      .filter(col("n_gaps") >= minGaps)
      .select(col("user_id"), col("n_gaps"),
        (-col("top.ng")).as("top_gap_s"),
        round(col("top.cnt") / col("n_gaps"), 6).as("top_share"),
        (col("top.cnt") / col("n_gaps") >= shareThresh).as("is_bot"))
      .orderBy("user_id")
  }

  /** Funnel time-to-convert distribution: for each adjacent step pair
    * of the p142 funnel, the per-user latency between the two
    * first-match anchors (strict '>' sequencing at µs granularity,
    * identical to [[funnelSteps]]), summarized as count / min / exact
    * interpolated p50 and p90 / max. The report a growth team reads
    * next to the conversion rates: WHERE users convert is p142, HOW
    * LONG they take is this. Percentiles are exact DISCRETE (type-1)
    * quantiles — the element at rank ceil(p·n), selected from the
    * sorted delta array — because interpolated quantiles of µs-scale
    * int64s live at the double's ulp (~1e-4 at 1e12) where Spark's and
    * DuckDB's algebraically-equal interpolation formulas round
    * differently; element selection is integer-exact in both engines.
    * Distributed shape: the anchor chain is p142's (per step one
    * filtered scan + user-keyed min join), derived exactly ONCE per
    * step pair at the barrier write; rank selection rides
    * [[Corpus.withGlobalOrderStaged]] (the p63/p149 two-phase idiom) —
    * the deltas are range-partitioned on (d, user_id), per-partition
    * counts lift to the driver (nParts rows), and the elements at
    * ranks ceil(0.5·n) / ceil(0.9·n) are picked by a position
    * predicate. The count/min/max summary reads the barrier's parquet
    * FOOTERS (no extra job); a zero-conversion pair reclaims its
    * barrier immediately. No
    * stage ever materializes the delta population into a single row:
    * at 100 TB the largest single-task state is one range partition of
    * (user_id, d) pairs, not hundreds of millions of longs in one
    * aggregation buffer. A step pair with ZERO converting users emits
    * n_users=0 with NULL min/quantile/max — matching the oracle's
    * NULL list indexing — instead of tripping element_at's 1-based
    * bound (ceil(0·p)=0 throws in Spark, returns NULL in DuckDB).
    */
  def funnelTimeToConvert(events: DataFrame,
      steps: Seq[String] = Seq("view", "click", "purchase")): DataFrame = {
    val ev = events.select(col("user_id"), col("event_type"),
      unix_micros(col("ts")).as("us"))
    // each anchor frame is consumed by BOTH adjacent step pairs (and by
    // the next anchor's derivation), and as a lazy plan every consumer
    // would re-execute the whole upstream chain — the last anchor's
    // subtree alone scans `events` once per preceding step, ~8 scans
    // total for 3 steps. Stage each anchor behind a tiny (user_id, a)
    // barrier as it is derived, so `events` is scanned exactly once per
    // step and the pair joins read KB-scale parquet.
    val anchorsAt = steps.tail.scanLeft(
      graft.pipeline.Dedup.materializeBarrierAt(
        ev.filter(col("event_type") === steps.head)
          .groupBy("user_id").agg(min(col("us")).as("a")),
        "funnel-anchor")) { case ((prev, _), st) =>
      graft.pipeline.Dedup.materializeBarrierAt(
        ev.filter(col("event_type") === st)
          .join(prev.select(col("user_id"), col("a").as("pa")), "user_id")
          .filter(col("us") > col("pa"))
          .groupBy("user_id").agg(min(col("us")).as("a"),
            min(col("pa")).as("pa0"))
          .select(col("user_id"), col("a")),
        "funnel-anchor")
    }
    val anchors = anchorsAt.map(_._1)
    val pairs = steps.zip(steps.tail).zip(anchors.zip(anchors.tail))
    val out = pairs.map { case ((s1, s2), (f1, f2)) =>
      val deltas = f1.select(col("user_id"), col("a").as("a1"))
        .join(f2.select(col("user_id"), col("a").as("a2")), "user_id")
        .select(col("user_id"), (col("a2") - col("a1")).as("d"))
      // the anchor chain derives ONCE — at the barrier write inside
      // withGlobalOrderStaged (ADVICE r10: it used to re-derive for
      // the summary and again for each crossJoined consumer)
      val (ranked, dir) = Corpus.withGlobalOrderStaged(deltas,
        Seq(col("d"), col("user_id")), lit(1L))
      // the 1-row summary comes from the barrier's parquet FOOTERS —
      // row count + int64 d min/max — zero extra jobs at any scale
      // (agg-job fallback if a writer ever omits column stats)
      val n = graft.pipeline.Dedup.barrierRowCount(f1.sparkSession, dir)
      if (n == 0L) {
        // zero converting users: reclaim the empty barrier now and
        // emit the oracle-matching NULL row
        graft.Scratch.release(dir)
        val z = lit(null).cast("long")
        f1.sparkSession.range(1)
          .select(lit(s"$s1>$s2").as("step_pair"), lit(0L).as("n_users"),
            z.as("min_us"), z.as("p50_us"), z.as("p90_us"),
            z.as("max_us"))
      } else {
        val (minUs, maxUs) = graft.pipeline.Dedup
          .barrierColumnMinMaxLong(f1.sparkSession, dir, "d")
          .getOrElse {
            val r = f1.sparkSession.read.parquet(dir.toString)
              .agg(min("d").cast("long"), max("d").cast("long")).head()
            (r.getLong(0), r.getLong(1))
          }
        // rank-ceil(p·n) elements selected by position predicate —
        // max(when(...)) touches at most one non-null row per quantile
        val r50 = math.ceil(n * 0.5).toLong
        val r90 = math.ceil(n * 0.9).toLong
        ranked.agg(
          max(when(col("pos") === r50, col("d"))).cast("long")
            .as("p50_us"),
          max(when(col("pos") === r90, col("d"))).cast("long")
            .as("p90_us"))
          .select(lit(s"$s1>$s2").as("step_pair"),
            lit(n).as("n_users"), lit(minUs).as("min_us"),
            col("p50_us"), col("p90_us"), lit(maxUs).as("max_us"))
      }
    }.reduce(_ unionAll _).orderBy("step_pair")
    // every consumer of the anchor barriers (the next anchor's write,
    // the delta barriers inside withGlobalOrderStaged) has executed
    // eagerly by here — the returned plan reads only the staged-order
    // barriers and driver-side literals, so the anchor scratch is dead;
    // reclaim it now instead of at JVM exit (ADVICE r14: repeated
    // construction in bench loops accumulated the dirs), mirroring the
    // zero-conversion reclaim above.
    anchorsAt.foreach { case (_, d) =>
      graft.Scratch.release(d) }
    out
  }

  /** Seasonal (hour-of-day) anomaly baseline — the third member of the
    * anomaly triple: [[rollingAnomaly]] compares against the recent
    * past, s33's monitor against a static global mean, and this
    * against the SAME HOUR OF DAY in the training half, so a regular
    * daily peak stops being an anomaly and a burst at an off-peak hour
    * flags harder. Counts ride the zero-filled grid; the per-(series,
    * hod) baseline is fit from exact integer sums over the first
    * `trainHours` grid hours (mu = s1/nb, var = (s2 − s1·mu)/(nb−1) —
    * bit-identical doubles in any engine or partition order); the
    * serving half z-flags at |z| ≥ `zThresh`, with a planted burst
    * exercising the positive branch. Distributed shape: per-bucket
    * counts collapse map-side FIRST, every aggregate and window runs
    * over the bounded calendar grid, and the 24-row-per-series
    * baseline joins back by broadcast.
    */
  def seasonalAnomaly(events: DataFrame, bucketUs: Long = 3600000000L,
      trainHours: Int = 360, burstSeries: String = "click",
      burstOffset: Long = 500L, burstN: Long = 300L,
      zThresh: Double = 3.0): DataFrame = {
    val cnt = events
      .select(col("event_type").as("series"),
        expr(s"unix_micros(ts) div $bucketUs").as("hr"))
      .groupBy("series", "hr").agg(count(lit(1)).cast("long").as("n0"))
    val grid = cnt.groupBy("series")
      .agg(min("hr").as("mn"), max("hr").as("mx"))
      .select(col("series"),
        explode(sequence(col("mn"), col("mx"))).as("hr"), col("mn"))
    val filled = grid.join(cnt, Seq("series", "hr"), "left")
      .select(col("series"), col("hr"), col("mn"),
        (col("hr") % 24).as("hod"),
        (coalesce(col("n0"), lit(0L)) +
          when(col("series") === burstSeries &&
            col("hr") === col("mn") + burstOffset, lit(burstN))
            .otherwise(lit(0L))).as("n"))
    val base = filled.filter(col("hr") < col("mn") + trainHours)
      .groupBy("series", "hod").agg(
        count(lit(1)).cast("long").as("nb"),
        sum(col("n")).cast("long").as("s1"),
        sum(col("n") * col("n")).cast("long").as("s2"))
    val mu0 = col("s1").cast("double") / col("nb")
    val sd0 = sqrt(greatest(
      (col("s2").cast("double") -
        col("s1").cast("double") * (col("s1").cast("double") /
          col("nb"))) / (col("nb") - 1), lit(0.0)))
    val stats = base.select(col("series"), col("hod"),
      mu0.as("mu0"), sd0.as("sd0"))
    filled.filter(col("hr") >= col("mn") + trainHours)
      .join(broadcast(stats), Seq("series", "hod"))
      .withColumn("z0",
        when(col("sd0") > 0, round((col("n") - col("mu0")) /
          col("sd0"), 6)))
      .select(col("series"), col("hr"), col("hod").cast("long")
          .as("hod"),
        col("n"), round(col("mu0"), 6).as("mu"),
        round(col("sd0"), 6).as("sd"), col("z0").as("z"),
        coalesce(abs(col("z0")) >= zThresh, lit(false)).as("is_anomaly"))
      .orderBy("series", "hr")
  }

  /** CUSUM mean-shift change-point detection (Page 1954) over the
    * per-(series, bucket) event rate — the anomaly triple flags single
    * outlier buckets; this detects a SUSTAINED level shift long before
    * any one bucket z-flags. Entirely EXACT int64, scaled by the
    * training-bucket count so no division ever happens: with training
    * sums (nb, s1), each serving bucket contributes
    * d_t = n_t·nb − s1 − k·nb and S_t = max(0, S_{t−1} + d_t); the
    * alarm fires at the first bucket with S_t ≥ threshold·nb. A
    * synthetic +`shiftN`/bucket level shift is planted `shiftOffset`
    * buckets in so the positive branch is exercised and
    * self-validating. Output: one row per series with its training
    * stats, the alarm bucket (null = no shift), and the max CUSUM.
    *
    * Distributed shape: buckets collapse map-side first; the fold is a
    * per-series aggregate() over the sort_array'd (hr, n) grid — the
    * SAME calendar-bounded-array argument as [[gapFill]]: the array
    * length is fixed by the time span, never by event volume, so the
    * sequential recurrence (inherently order-dependent) runs inside
    * one codegen'd expression per series instead of a window no engine
    * could parallelize anyway.
    */
  def cusumShift(events: DataFrame, bucketUs: Long = 3600000000L,
      trainHours: Int = 360, k: Long = 1L, threshold: Long = 50L,
      shiftSeries: String = "click", shiftOffset: Long = 600L,
      shiftN: Long = 5L): DataFrame = {
    val cnt = events
      .select(col("event_type").as("series"),
        expr(s"unix_micros(ts) div $bucketUs").as("hr"))
      .groupBy("series", "hr").agg(count(lit(1)).cast("long").as("n0"))
    cusumFromCounts(cnt, trainHours, k, threshold, shiftSeries,
      shiftOffset, shiftN)
  }

  /** p160's report from a PRE-AGGREGATED (series, hr, n0) count table
    * — the stage everything after the initial per-bucket collapse runs
    * on. Shared by [[cusumShift]] and the s37 streaming mirror (whose
    * carried state IS such a partial-count table), so both report
    * through identical arithmetic — the merge-safety the s37 fuzz spec
    * pins: per-batch counts summed then folded must equal the one-shot
    * fold because counting commutes and the fold only sees the merged
    * grid.
    */
  private[graft] def cusumFromCounts(cnt: DataFrame, trainHours: Int,
      k: Long, threshold: Long, shiftSeries: String, shiftOffset: Long,
      shiftN: Long): DataFrame = {
    val grid = cnt.groupBy("series")
      .agg(min("hr").as("mn"), max("hr").as("mx"))
      .select(col("series"),
        explode(sequence(col("mn"), col("mx"))).as("hr"), col("mn"))
    val filled = grid.join(cnt, Seq("series", "hr"), "left")
      .select(col("series"), col("hr"), col("mn"),
        (coalesce(col("n0"), lit(0L)) +
          when(col("series") === shiftSeries &&
            col("hr") >= col("mn") + shiftOffset, lit(shiftN))
            .otherwise(lit(0L))).as("n"))
    val base = filled.filter(col("hr") < col("mn") + trainHours)
      .groupBy("series").agg(
        count(lit(1)).cast("long").as("nb"),
        sum(col("n")).cast("long").as("s1"))
    val serving = filled.filter(col("hr") >= col("mn") + trainHours)
      .groupBy("series")
      .agg(sort_array(collect_list(struct(col("hr"), col("n"))))
        .as("buckets"))
    serving.join(base, "series")
      .withColumn("fold", expr(
        s"""aggregate(buckets,
           |  named_struct('s', 0L, 'mx', 0L,
           |               'alarm', CAST(null AS BIGINT)),
           |  (a, b) -> named_struct(
           |    's', greatest(0L, a.s + b.n * nb - s1 - $k * nb),
           |    'mx', greatest(a.mx,
           |      greatest(0L, a.s + b.n * nb - s1 - $k * nb)),
           |    'alarm', coalesce(a.alarm,
           |      CASE WHEN greatest(0L, a.s + b.n * nb - s1 - $k * nb)
           |        >= $threshold * nb THEN b.hr END)))""".stripMargin))
      .select(col("series"), col("nb"), col("s1"),
        col("fold.alarm").as("alarm_hr"),
        col("fold.mx").as("max_cusum_scaled"),
        col("fold.alarm").isNotNull.as("shift_detected"))
      .orderBy("series")
  }

  // ---- DuckDB mirrors of the planted corpus + shingle/gram sets --------
  // The LSH operators are hash-based, but their VERIFIED outputs (true
  // Jaccard over shingle/gram sets >= threshold) are engine-portable:
  // Jaccard over xxhash'd shingle sets equals Jaccard over the string
  // sets barring a 2^-64 collision, so DuckDB can recompute the exact
  // expected pair list exhaustively at gate scale. That makes the oracle
  // strictly stronger than a rows-only check: it also proves the banded
  // LSH candidate stage has perfect recall on this corpus.
  private val corpusSql =
    """corpus AS (
      |  SELECT doc_id, text FROM documents
      |  UNION ALL
      |  SELECT doc_id + 1000000 AS doc_id, text || ' appended' AS text
      |  FROM documents WHERE doc_id % 10 = 0)""".stripMargin

  /** Word-n-shingle sets per doc (mirrors ShingleHashes: whitespace
    * tokens, n-token windows, whole-token-list when shorter, distinct)
    * as `toks`/`sh` CTE bodies over a `corpus` CTE.
    */
  private def shingleCtes(n: Int): String =
    s"""toks AS (
       |  SELECT doc_id,
       |    CASE WHEN length(regexp_replace(text, '^\\s+|\\s+$$', '', 'g')) = 0
       |         THEN ['']
       |         ELSE string_split_regex(
       |                regexp_replace(text, '^\\s+|\\s+$$', '', 'g'), '\\s+')
       |    END AS tk
       |  FROM corpus),
       |sh AS (
       |  SELECT doc_id,
       |    list_distinct(CASE WHEN len(tk) < $n
       |      THEN [array_to_string(tk, chr(31))]
       |      ELSE [array_to_string(tk[i:i+${n - 1}], chr(31))
       |            for i in generate_series(1, len(tk)-${n - 1})]
       |      END) AS s
       |  FROM toks)""".stripMargin

  private val shingleSql = shingleCtes(3)

  /** Full 2-iteration exact-int64 Lloyd re-derivation (p54's oracle;
    * s11 routes a STREAM against the same centroids, so it shares the
    * oracle — streaming routing must equal the batch assignment).
    */
  private[operators] val kmeansAssignSql: String =
    """WITH q AS (SELECT vec_id, list_transform(embedding,
      |             x -> CAST(round(CAST(x AS DOUBLE)*1000) AS BIGINT))
      |             AS qv
      |           FROM embeddings),
      |u AS (SELECT vec_id, unnest(qv) AS v, unnest(range(len(qv))) AS i
      |      FROM q),
      |c0 AS (SELECT vec_id AS cid, i, v AS cv FROM u WHERE vec_id < 10),
      |d1 AS (SELECT u.vec_id, c0.cid,
      |         sum((u.v - c0.cv)*(u.v - c0.cv)) AS d
      |       FROM u JOIN c0 USING (i) GROUP BY 1, 2),
      |a1 AS (SELECT vec_id, cid FROM (
      |         SELECT vec_id, cid,
      |           ROW_NUMBER() OVER (PARTITION BY vec_id
      |                              ORDER BY d, cid) AS rn
      |         FROM d1) WHERE rn = 1),
      |c1 AS (SELECT a1.cid, u.i,
      |         CAST(floor(CAST(sum(u.v) AS DOUBLE)/count(*)) AS BIGINT)
      |           AS cv
      |       FROM a1 JOIN u USING (vec_id) GROUP BY 1, 2),
      |d2 AS (SELECT u.vec_id, c1.cid,
      |         sum((u.v - c1.cv)*(u.v - c1.cv)) AS d
      |       FROM u JOIN c1 USING (i) GROUP BY 1, 2),
      |a2 AS (SELECT vec_id, cid, d FROM (
      |         SELECT vec_id, cid, d,
      |           ROW_NUMBER() OVER (PARTITION BY vec_id
      |                              ORDER BY d, cid) AS rn
      |         FROM d2) WHERE rn = 1)
      |SELECT vec_id, CAST(cid AS BIGINT) AS cluster,
      |  CAST(d AS BIGINT) AS dist
      |FROM a2""".stripMargin

  /** Shared BM25 oracle CTEs (p85 top-k, s16 streaming router): `sc` is
    * the per-(query, doc) scored relation — the exact SQL mirror of
    * [[graft.pipeline.Retrieval.bm25Scores]] over the documents table
    * with queries = first 30 tokens of docs 0-4.
    */
  private[operators] val bm25ScoredCtes =
    """WITH toks AS (
      |  SELECT doc_id,
      |    CASE WHEN length(regexp_replace(text, '^\s+|\s+$', '', 'g')) = 0
      |         THEN CAST([] AS VARCHAR[])
      |         ELSE string_split_regex(
      |           lower(regexp_replace(text, '^\s+|\s+$', '', 'g')), '\s+')
      |    END AS tk
      |  FROM documents),
      |post AS (SELECT doc_id AS id, t AS term, count(*) AS tf
      |         FROM (SELECT doc_id, unnest(tk) AS t FROM toks)
      |         GROUP BY 1, 2),
      |dl AS (SELECT id, sum(tf) AS dl FROM post GROUP BY 1),
      |dft AS (SELECT term, count(*) AS df FROM post GROUP BY 1),
      |scal AS (SELECT (SELECT count(*) FROM documents) AS n_docs,
      |                (SELECT sum(tf) FROM post) AS total_tokens),
      |qt AS (SELECT DISTINCT qid, term FROM
      |         (SELECT doc_id AS qid, unnest(tk[1:30]) AS term
      |          FROM toks WHERE doc_id < 5)),
      |sc AS (SELECT q.qid, p.id,
      |    round(sum(
      |      ln(1 + (s.n_docs - d.df + 0.5) / (d.df + 0.5))
      |        * p.tf * 2.2
      |        / (p.tf + 1.2 * (0.25 + 0.75 * l.dl /
      |            (CAST(s.total_tokens AS DOUBLE) / s.n_docs)))), 6)
      |      AS score
      |  FROM post p JOIN qt q USING (term) JOIN dft d USING (term)
      |  JOIN dl l ON l.id = p.id CROSS JOIN scal s
      |  GROUP BY 1, 2)""".stripMargin

  /** Shared p107/s22 oracle: exact distinct counts + the asserted sketch
    * booleans (merged union ≈ whole sketch; estimate within 5% of exact).
    */
  private[operators] val profileMergeSql =
    """SELECT 'doc_id' AS col_name,
      |  CAST(count(DISTINCT doc_id) AS BIGINT) AS n_exact,
      |  true AS merged_close, true AS est_within_5pct FROM documents
      |UNION ALL
      |SELECT 'lang', CAST(count(DISTINCT lang) AS BIGINT), true, true
      |FROM documents
      |UNION ALL
      |SELECT 'source', CAST(count(DISTINCT source) AS BIGINT), true, true
      |FROM documents""".stripMargin

  /** Shared p102/s21 plant: cosmetic variants of the same logical URLs
    * appended to disjoint doc sets (scheme-default port, case, tracking
    * params, fragment, slash-before-query, trailing slash / bare `?`).
    */
  private[operators] def urlPlanted(docs: DataFrame): DataFrame = {
    val k = (col("doc_id") % 5).cast("string")
    docs.select(col("doc_id"),
      concat(col("text"),
        when(col("doc_id") % 7 === 0,
          concat(lit(" https://Site"), k, lit(".Example.com:443/P"), k,
            lit("/?utm_source=feed&utm_campaign=x&id="), k, lit("#sec")))
          .otherwise(lit("")),
        when(col("doc_id") % 7 === 3,
          concat(lit(" https://site"), k, lit(".example.com/P"), k,
            lit("?id="), k)).otherwise(lit("")),
        when(col("doc_id") % 11 === 4,
          lit(" http://Tracker.example.org:80/a/b/")).otherwise(lit("")),
        when(col("doc_id") % 11 === 8,
          lit(" http://tracker.example.org/a/b?")).otherwise(lit("")))
        .as("text"))
  }

  /** Shared p102/s21 oracle: full RE2 replay of the plant + the
    * canonicalization rewrite chain + the per-URL rollup.
    */
  private[operators] val urlCanonSql =
    """WITH corpus AS (
      |  SELECT doc_id, text
      |    || CASE WHEN doc_id % 7 = 0
      |         THEN ' https://Site' || CAST(doc_id % 5 AS VARCHAR)
      |           || '.Example.com:443/P' || CAST(doc_id % 5 AS VARCHAR)
      |           || '/?utm_source=feed&utm_campaign=x&id='
      |           || CAST(doc_id % 5 AS VARCHAR) || '#sec'
      |         ELSE '' END
      |    || CASE WHEN doc_id % 7 = 3
      |         THEN ' https://site' || CAST(doc_id % 5 AS VARCHAR)
      |           || '.example.com/P' || CAST(doc_id % 5 AS VARCHAR)
      |           || '?id=' || CAST(doc_id % 5 AS VARCHAR)
      |         ELSE '' END
      |    || CASE WHEN doc_id % 11 = 4
      |         THEN ' http://Tracker.example.org:80/a/b/' ELSE '' END
      |    || CASE WHEN doc_id % 11 = 8
      |         THEN ' http://tracker.example.org/a/b?' ELSE '' END
      |    AS text
      |  FROM documents),
      |u AS (SELECT doc_id, unnest(regexp_extract_all(text,
      |    'https?://[A-Za-z0-9.:/?&=#_%+~-]+')) AS url FROM corpus),
      |c AS (SELECT doc_id,
      |    lower(regexp_extract(url, '^(https?)://', 1)) AS scheme,
      |    lower(regexp_extract(url, '^https?://([^/?#]+)', 1)) AS hostport,
      |    regexp_extract(url, '^https?://[^/?#]+(.*)$', 1) AS rest
      |  FROM u),
      |n AS (SELECT doc_id, scheme || '://'
      |    || CASE WHEN scheme = 'http'
      |         THEN regexp_replace(hostport, ':80$', '')
      |         ELSE regexp_replace(hostport, ':443$', '') END
      |    || regexp_replace(regexp_replace(regexp_replace(regexp_replace(
      |         regexp_replace(regexp_replace(rest,
      |           '#.*$', '', 'g'),
      |           '[?&](utm_[A-Za-z]+|fbclid|gclid)=[^&#]*', '', 'g'),
      |           '^([^?&]*)&', '\1?', 'g'),
      |           '/\?', '?', 'g'),
      |           '\?$', '', 'g'),
      |           '/$', '', 'g') AS canonical_url
      |  FROM c)
      |SELECT canonical_url, CAST(count(*) AS BIGINT) AS n_occurrences,
      |  CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs
      |FROM n GROUP BY 1""".stripMargin

  private[operators] val minhashPairsSql =
    s"""WITH $corpusSql,
       |$shingleSql,
       |pairs AS (
       |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       |    CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) /
       |      len(list_distinct(list_concat(a.s, b.s))) AS j
       |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id)
       |SELECT id_a, id_b, round(j, 6) AS jaccard
       |FROM pairs WHERE j >= 0.5""".stripMargin

  /** ANN recall gate (the p17 boolean pattern): the approximate top-k is
    * scored in-engine against the exact brute-force top-k (the p06
    * operator, itself hash-gated against DuckDB), and the oracle asserts
    * the per-query booleans plus the query-id set and result sizes it CAN
    * recompute. Both rankings tie-break on (score desc, vec_id), so the
    * intersection is well defined.
    */
  private[graft] val annRecallFloor = 0.9
  /** Single source of truth for the ANN gates' k: the operator calls, the
    * gate's recall denominator, and the oracle's expected n_returned all
    * derive from it, so changing k at one site cannot skew the others.
    */
  private[graft] val annK = 10
  private val annRecallOracle =
    s"""SELECT vec_id AS qid, CAST($annK AS BIGINT) AS n_returned,
       |  true AS recall_ok
       |FROM embeddings WHERE vec_id < 5""".stripMargin

  /** ANN gate corpus: embeddings ∪ 10 deterministically-jittered copies
    * of each query vector (per-coordinate ±10% scaling from xxhash64 →
    * cosine ≈ 0.998). The driver's synthetic embeddings are direction-
    * uniform — their top-10 cosine neighbors sit barely above the noise
    * floor, which no sublinear index can separate (recall ≈ scanned
    * fraction, information-theoretically). ANN's contract is "find the
    * TRUE near neighbors when they exist", so the gate plants them; the
    * in-engine brute-force ground truth adapts automatically.
    */
  private[graft] def annCorpusWithPlants(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "embeddings").select("vec_id", "embedding")
    val plants = e.filter(col("vec_id") < 5)
      .select(col("vec_id").as("qid"), col("embedding").as("emb"))
      .withColumn("j", explode(sequence(lit(0), lit(9))))
      .select(
        (lit(2000000L) + col("qid") * 100 + col("j")).as("vec_id"),
        zip_with(col("emb"), sequence(lit(0), size(col("emb")) - 1),
          (x, i) => (x.cast("double") * (lit(1.0) + lit(0.1) *
            (xxhash64(col("qid"), col("j"), i).cast("double") /
              lit(Long.MaxValue.toDouble)))).cast("float")).as("embedding"))
    e.unionAll(plants)
  }

  private[graft] def annRecallGate(approx: DataFrame, exact: DataFrame,
      k: Int): DataFrame = {
    val hits = approx.select("qid", "vec_id")
      .join(exact.select("qid", "vec_id"), Seq("qid", "vec_id"))
      .groupBy("qid").agg(count(lit(1)).as("n_hit"))
    approx.groupBy("qid").agg(count(lit(1)).as("n_returned"))
      .join(hits, Seq("qid"), "left")
      .select(col("qid"), col("n_returned"),
        (coalesce(col("n_hit"), lit(0L)).cast("double") / k.toDouble
          >= annRecallFloor).as("recall_ok"))
      .orderBy("qid")
  }

  /** Benjamini–Hochberg FDR readout across a FAMILY of conversion
    * metrics — the multiple-testing correction a team applies when one
    * experiment reads out k metrics at once (at α = 0.05 per metric,
    * five independent nulls produce a false "win" 23% of the time; BH
    * bounds the expected false-discovery RATE at q). Per metric: the
    * p163 two-proportion pooled z between the md5 arms; two-sided
    * p-value via the Abramowitz–Stegun 26.2.17 normal-tail polynomial
    * (literal coefficients + one exp — no erf library dependence; the
    * exp itself is JVM Math vs the oracle's libm, not guaranteed
    * identically rounded, so cross-engine agreement is "within the
    * 6-dp compare grid, verified at three SFs", not bit-for-bit); then
    * the BH step-up over the m' valid metrics: reject all p-ranks ≤
    * k* = max{k : p_(k) ≤ k·q/m'}. A metric whose z is degenerate
    * (empty arm or zero pooled variance) is excluded from the family
    * (rank NULL, `guarded` true) — m' counts only testable metrics.
    *
    * Distributed shape: one user-keyed collapse carrying ALL metric
    * flags (one shuffle regardless of family size), one scalar
    * aggregate with 2+2m counters, then the family explodes from that
    * single row — every window is over the m-row family table on a
    * [[Corpus.boundedKey]] partition (m is a literal list, never data
    * cardinality). The step-up "largest k" rule is a suffix max over
    * ranks ≥ i, evaluated as a running max in rank-descending order.
    */
  def fdrBh(events: DataFrame, metrics: Seq[String],
      q: Double = 0.10, minCount: Int = 14): DataFrame = {
    require(metrics.nonEmpty && metrics == metrics.distinct.sorted,
      s"metrics must be a sorted distinct list: $metrics")
    // conversion = "did ≥ minCount events of the type": an ENGAGEMENT
    // cut, not mere presence — at this corpus's density (~13 events
    // per user per type) presence is 100% in both arms, se = 0, and
    // every metric would degenerate to the guarded branch
    val users = events.groupBy("user_id")
      .agg(
        when(sum(when(col("event_type") === metrics.head, 1L)
          .otherwise(0L)) >= minCount, 1L).otherwise(0L)
          .as(s"c_${metrics.head}"),
        metrics.tail.map(m =>
          when(sum(when(col("event_type") === m, 1L)
            .otherwise(0L)) >= minCount, 1L).otherwise(0L)
            .as(s"c_$m")): _*)
      .withColumn("va",
        substring(md5(col("user_id").cast("string")), 1, 1) < "8")
    val aggs = Seq(
      coalesce(sum(when(col("va"), 1L).otherwise(0L)), lit(0L))
        .cast("long").as("n_a"),
      coalesce(sum(when(!col("va"), 1L).otherwise(0L)), lit(0L))
        .cast("long").as("n_b")) ++
      metrics.flatMap(m => Seq(
        coalesce(sum(when(col("va"), col(s"c_$m")).otherwise(0L)),
          lit(0L)).cast("long").as(s"ca_$m"),
        coalesce(sum(when(!col("va"), col(s"c_$m")).otherwise(0L)),
          lit(0L)).cast("long").as(s"cb_$m")))
    val counts = users.agg(aggs.head, aggs.tail: _*)
    val fam = counts.select(col("n_a"), col("n_b"),
      explode(array(metrics.map(m => struct(lit(m).as("metric"),
        col(s"ca_$m").as("conv_a"), col(s"cb_$m").as("conv_b"))): _*))
        .as("t"))
      .select(col("t.metric").as("metric"), col("n_a"),
        col("t.conv_a").as("conv_a"), col("n_b"),
        col("t.conv_b").as("conv_b"))
    val armsOk = col("n_a") > 0 && col("n_b") > 0
    val ra = when(col("n_a") > 0,
      col("conv_a").cast("double") / col("n_a"))
    val rb = when(col("n_b") > 0,
      col("conv_b").cast("double") / col("n_b"))
    val pp = when(armsOk, (col("conv_a") + col("conv_b"))
      .cast("double") / (col("n_a") + col("n_b")))
    val se = when(armsOk, sqrt(pp * (lit(1.0) - pp) *
      (lit(1.0) / col("n_a") + lit(1.0) / col("n_b"))))
    val z = when(se > 0, (ra - rb) / se)
    val az = abs(z)
    // A&S 26.2.17: 1−Φ(x) = φ(x)·t·(b1 + t(b2 + t(b3 + t(b4 + t·b5))))
    // with t = 1/(1 + 0.2316419x); |error| < 7.5e-8, far below the
    // 6-dp compare grid. √(2π) written as the same literal both sides.
    val tt = lit(1.0) / (lit(1.0) + lit(0.2316419) * az)
    val poly = tt * (lit(0.319381530) + tt * (lit(-0.356563782) +
      tt * (lit(1.781477937) + tt * (lit(-1.821255978) +
        tt * lit(1.330274429)))))
    val pRaw = when(se > 0, lit(2.0) * exp(-az * az / lit(2.0)) /
      lit(2.5066282746310002) * poly)
    val scored = fam.select(col("metric"), col("n_a"), col("conv_a"),
      col("n_b"), col("conv_b"), round(z, 6).as("z"), pRaw.as("_p"))
    val wOrd = org.apache.spark.sql.expressions.Window
      .partitionBy(Corpus.boundedKey(col("metric")))
    val ranked = scored
      .withColumn("_rn", row_number().over(
        wOrd.orderBy(col("_p").asc_nulls_last, col("metric")))
        .cast("long"))
      .withColumn("m_tested",
        sum(when(col("_p").isNotNull, 1L).otherwise(0L))
          .over(wOrd.orderBy(col("metric"))
            .rowsBetween(org.apache.spark.sql.expressions.Window
              .unboundedPreceding,
              org.apache.spark.sql.expressions.Window
                .unboundedFollowing)).cast("long"))
      .withColumn("rank", when(col("_p").isNotNull, col("_rn")))
    val thresh = when(col("rank").isNotNull && col("m_tested") > 0,
      col("rank").cast("double") * lit(q) /
        col("m_tested").cast("double"))
    val stepped = ranked
      .withColumn("_bh", thresh)
      .withColumn("_ok",
        when(col("_p").isNotNull && col("_p") <= col("_bh"), 1)
          .otherwise(0))
      .withColumn("rejected",
        max(col("_ok")).over(wOrd
          .orderBy(col("rank").desc_nulls_first)
          .rowsBetween(org.apache.spark.sql.expressions.Window
            .unboundedPreceding, 0)) === 1 && col("_p").isNotNull)
    stepped.select(col("metric"), col("n_a"), col("conv_a"),
      col("n_b"), col("conv_b"), col("z"),
      round(col("_p"), 6).as("p_value"), col("rank"), col("m_tested"),
      round(col("_bh"), 6).as("bh_threshold"), col("rejected"),
      col("_p").isNull.as("guarded"))
      .orderBy("metric")
  }

  /** Split-conformal calibration readout — the distribution-free
    * prediction-interval machinery (Vovk et al.; Angelopoulos & Bates
    * survey) a data team uses to turn ANY point predictor into one
    * with a finite-sample coverage guarantee: on a held-out
    * calibration split, take the k-th smallest nonconformity score
    * with k = ⌈(n_cal+1)(1−α)⌉; the interval "score ≤ q̂" then covers
    * a fresh exchangeable point with probability ≥ 1−α. Here the
    * predictor is the calibration-mean of `n_chars` (exact int64 sum
    * → one double division) and the score is the absolute residual;
    * the readout reports q̂ and the realized coverage on the test
    * split. k > n_cal (α too small for the split size) is the
    * degenerate branch: q̂ undefined → NULL, `guarded` true.
    *
    * Distributed shape: one scalar-aggregate fit pass, then the k-th
    * order statistic via [[Corpus.withGlobalOrder]] rank selection
    * over (residual, id) — the p63/p161 idiom; no per-key window ever
    * holds more than one range partition — and one test-side counting
    * aggregate against the broadcast q̂.
    */
  def conformalCalibration(docs: DataFrame, alpha: Double = 0.1)
      : DataFrame = {
    require(alpha > 0 && alpha < 1, s"bad alpha $alpha")
    val base = docs.select(col("doc_id"),
      col("n_chars").cast("long").as("x"),
      (substring(md5(col("doc_id").cast("string")), 1, 1) < "c")
        .as("cal"))
    // the 1-row fit barriers once (the logreg-w idiom): it has ~4
    // downstream consumers (residual scoring, q̂ selection, coverage,
    // the report row) and an un-materialized scalar aggregate would
    // re-scan the corpus for each of them
    val fit = Dedup.materializeBarrier(base.agg(
      coalesce(sum(when(col("cal"), 1L).otherwise(0L)), lit(0L))
        .cast("long").as("n_cal"),
      coalesce(sum(when(!col("cal"), 1L).otherwise(0L)), lit(0L))
        .cast("long").as("n_test"),
      sum(when(col("cal"), col("x")).cast("decimal(38,0)"))
        .as("s_cal"))
      .withColumn("k_rank",
        when(col("n_cal") > 0,
          ceil((col("n_cal") + 1L).cast("double") *
            lit(1.0 - alpha)).cast("long")))
      .withColumn("mean_cal",
        when(col("n_cal") > 0,
          col("s_cal").cast("double") / col("n_cal").cast("double"))),
      "conformal-fit")
    val scoredCal = base.filter(col("cal"))
      .crossJoin(broadcast(fit.select("mean_cal")))
      .select(col("doc_id"),
        abs(col("x").cast("double") - col("mean_cal")).as("resid"))
    val ranked = Corpus.withGlobalOrder(scoredCal,
      Seq(col("resid"), col("doc_id")), lit(1L))
    val qhat = ranked.crossJoin(broadcast(fit.select("k_rank")))
      .agg(max(when(col("pos") === col("k_rank"), col("resid")))
        .as("q_hat"))
    val cover = base.filter(!col("cal"))
      .crossJoin(broadcast(fit.select("mean_cal")))
      .crossJoin(broadcast(qhat.select(col("q_hat").as("_qh"))))
      .agg(coalesce(sum(when(abs(col("x").cast("double") -
        col("mean_cal")) <= col("_qh"), 1L).otherwise(0L)), lit(0L))
        .cast("long").as("n_cov"))
    fit.crossJoin(broadcast(qhat)).crossJoin(broadcast(cover)).select(
      col("n_cal"), col("n_test"), col("k_rank"),
      round(col("q_hat"), 6).as("q_hat"),
      when(col("q_hat").isNotNull, col("n_cov")).as("n_covered"),
      round(when(col("q_hat").isNotNull && col("n_test") > 0,
        col("n_cov").cast("double") / col("n_test").cast("double")),
        6).as("coverage"),
      (col("q_hat").isNull || col("n_test") === 0).as("guarded"))
  }

  /** [[conformalCalibration]]'s publish readout from a merged
    * (`x`, `cal`, `c`) value histogram — the seam the s45 streaming
    * mirror and its merge-property spec share. Every quantity is
    * derived from the histogram EXACTLY: mean from the decimal
    * Σ(x·c), the k-th smallest residual by weighted rank over the
    * bounded histogram (the value whose cumulative count first
    * reaches k — the batch gate's per-doc tiebreak reorders only
    * EQUAL residuals, so the rank-k VALUE is identical), coverage by
    * weighted count.
    */
  private[graft] def conformalFromHist(hist: DataFrame,
      alpha: Double = 0.1): DataFrame = {
    require(alpha > 0 && alpha < 1, s"bad alpha $alpha")
    val fit = hist.agg(
      coalesce(sum(when(col("cal"), col("c")).otherwise(0L)),
        lit(0L)).cast("long").as("n_cal"),
      coalesce(sum(when(!col("cal"), col("c")).otherwise(0L)),
        lit(0L)).cast("long").as("n_test"),
      sum(when(col("cal"),
        col("x").cast("decimal(38,0)") * col("c"))).as("s_cal"))
      .withColumn("k_rank", when(col("n_cal") > 0,
        ceil((col("n_cal") + 1L).cast("double") * lit(1.0 - alpha))
          .cast("long")))
      .withColumn("mean_cal", when(col("n_cal") > 0,
        col("s_cal").cast("double") / col("n_cal").cast("double")))
    val calHist = hist.filter(col("cal"))
      .crossJoin(broadcast(fit.select("mean_cal")))
      .select(col("x"), col("c"),
        abs(col("x").cast("double") - col("mean_cal")).as("resid"))
    val ranked = Corpus.withGlobalOrder(calHist,
      Seq(col("resid"), col("x")), col("c"))
    val qhat = ranked.crossJoin(broadcast(fit.select("k_rank")))
      .agg(max(when(col("cum") - col("c") < col("k_rank") &&
        col("k_rank") <= col("cum"), col("resid"))).as("q_hat"))
    val cover = hist.filter(!col("cal"))
      .crossJoin(broadcast(fit.select("mean_cal")))
      .crossJoin(broadcast(qhat.select(col("q_hat").as("_qh"))))
      .agg(coalesce(sum(when(abs(col("x").cast("double") -
        col("mean_cal")) <= col("_qh"), col("c")).otherwise(0L)),
        lit(0L)).cast("long").as("n_cov"))
    fit.crossJoin(broadcast(qhat)).crossJoin(broadcast(cover))
      .select(col("n_cal"), col("n_test"), col("k_rank"),
        round(col("q_hat"), 6).as("q_hat"),
        when(col("q_hat").isNotNull, col("n_cov")).as("n_covered"),
        round(when(col("q_hat").isNotNull && col("n_test") > 0,
          col("n_cov").cast("double") / col("n_test").cast("double")),
          6).as("coverage"),
        (col("q_hat").isNull || col("n_test") === 0).as("guarded"))
  }

  /** Kaplan–Meier retention curve with right-censoring — "what share
    * of users are still active t hours after their first event?", the
    * survival readout behind every retention chart. A user's observed
    * lifetime is last_event − first_event in whole hours (hour grain:
    * at this corpus's month span a day grain collapses every user
    * into 3–4 duration rows with zero churn); users whose last event
    * falls within `censorHours` of the corpus end are right-CENSORED
    * (still active — their true lifetime exceeds the observation
    * window), so they leave the at-risk set without counting as
    * churn. Product-limit estimator over the distinct lifetime hours:
    * S(t) = Π_{s ≤ t} (1 − churned_s / at_risk_s), with at_risk_s =
    * N − Σ_{dur < s} n (never a second scan).
    *
    * Determinism: the product is exp(Σ ln(1 − d/r)) accumulated in
    * duration order — a cumulative window both engines evaluate
    * sequentially over the SAME ascending rows. ln/exp go through JVM
    * Math vs the oracle's libm, which are not guaranteed identically
    * rounded, so the cross-engine claim is "agrees within the 6-dp
    * compare grid, verified at three SFs", not bit-for-bit (a value
    * sitting exactly on a rounding boundary could flip; the integer
    * churned/at_risk counters ARE exact). A row where churned == at_risk
    * (everyone left) zeroes survival from that row on via an exact
    * integer flag, never via ln(0).
    *
    * Distributed shape: one user-keyed collapse (min/max ts — partial
    * agg), a global max (scalar, broadcast), then a duration-keyed
    * aggregate whose row count is bounded by the corpus HOUR SPAN,
    * not its size — every window sits on that bounded table under a
    * [[Corpus.boundedKey]] partition.
    */
  /** Per-user lifetime rows shared by [[kaplanMeier]] and [[logRank]]
    * — ONE definition of the scaffolding both estimators depend on
    * (first/last collapse, broadcast corpus max, the `censorHours`
    * right-censor cut, the hour grain): a censoring or grain fix lands
    * once, not in two copies that can desynchronize. The md5 arm
    * column is projected here too; Catalyst prunes it for the
    * single-population Kaplan–Meier caller.
    */
  private def userLifetimes(events: DataFrame,
      censorHours: Int): DataFrame = {
    require(censorHours >= 0, s"bad censorHours $censorHours")
    val us = events.groupBy("user_id").agg(
      min(unix_micros(col("ts"))).as("fw"),
      max(unix_micros(col("ts"))).as("lw"))
    val mx = events.agg(max(unix_micros(col("ts"))).as("mxu"))
    us.crossJoin(broadcast(mx))
      .select(expr("(lw - fw) div 3600000000").as("dur"),
        (col("lw") > col("mxu") - lit(censorHours * 3600000000L))
          .as("cens"),
        (substring(md5(col("user_id").cast("string")), 1, 1) < "8")
          .as("arm_a"))
  }

  def kaplanMeier(events: DataFrame, censorHours: Int = 12): DataFrame = {
    val W = org.apache.spark.sql.expressions.Window
    val durs = userLifetimes(events, censorHours)
      .groupBy("dur").agg(
        count(lit(1)).cast("long").as("n_all"),
        sum(when(!col("cens"), 1L).otherwise(0L)).cast("long")
          .as("churned"),
        sum(when(col("cens"), 1L).otherwise(0L)).cast("long")
          .as("censored"))
    val w = W.partitionBy(Corpus.boundedKey(col("dur")))
      .orderBy(col("dur"))
    val cum = durs
      .withColumn("_before", coalesce(sum(col("n_all"))
        .over(w.rowsBetween(W.unboundedPreceding, -1)), lit(0L)))
      .withColumn("_n", sum(col("n_all"))
        .over(w.rowsBetween(W.unboundedPreceding,
          W.unboundedFollowing)))
      .withColumn("at_risk", (col("_n") - col("_before")).cast("long"))
    // churned < at_risk ⇒ the ln argument is strictly positive; the
    // churned == at_risk terminal row is handled by the integer flag
    val lnTerm = when(col("churned") < col("at_risk"),
      log(lit(1.0) - col("churned").cast("double") /
        col("at_risk").cast("double"))).otherwise(lit(0.0))
    val zf = max(when(col("churned") === col("at_risk"), 1)
      .otherwise(0)).over(w.rowsBetween(W.unboundedPreceding, 0))
    val sv = when(zf === 1, lit(0.0))
      .otherwise(exp(sum(lnTerm)
        .over(w.rowsBetween(W.unboundedPreceding, 0))))
    cum.select(col("dur").as("t_hours"), col("at_risk"),
      col("churned"), col("censored"),
      round(when(col("at_risk") > 0,
        col("churned").cast("double") / col("at_risk")), 6)
        .as("hazard"),
      round(sv, 6).as("survival"))
      .orderBy("t_hours")
  }

  /** One-way ANOVA F readout across corpus sources — "does mean doc
    * length differ by source more than within-source noise explains?",
    * the first question a mixture owner asks before reweighting (a
    * large F on length/quality metrics means per-source pipelines are
    * drifting apart). Classic decomposition: SSB = Σ_g S_g²/n_g −
    * S²/N, SSW = Q − Σ_g S_g²/n_g with S_g = Σx, Q_g = Σx² per group;
    * F = (SSB/(k−1)) / (SSW/(N−k)), effect size η² = SSB/(SSB+SSW).
    *
    * Determinism & overflow: per-group sums accumulate as
    * DECIMAL(38,0) (exact past int64 — Σx² at 100 TB with x ~ 3·10³
    * crosses 9.2·10¹⁸; DuckDB's SUM(BIGINT) is already HUGEINT); the
    * per-group s_g²/n_g term is computed in double then pinned to
    * DECIMAL(38,12) before the cross-group sum (the p174 gradient-sum
    * trick), so the only float summation is order-independent and the
    * oracle replays it term for term. Every division sits under a
    * guard (k ≥ 2, N > k, SSW > 0 — a constant metric degenerates to
    * the guarded row, exercised by the gate's second scenario).
    *
    * Distributed shape: one corpus scan → |sources|-row hash aggregate
    * (partial map-side combine) → scalar aggregate over those rows.
    * No window, no join, nothing keyed wider than the group column —
    * the p163/p165 experiment-readout plan family.
    */
  def anovaF(df: DataFrame, xCol: String, groupCol: String): DataFrame = {
    val dec = "decimal(38,0)"
    val groups = df.groupBy(groupCol).agg(
      count(lit(1)).cast("long").as("n_g"),
      sum(col(xCol).cast(dec)).as("s_g"),
      // cast FIRST, square in decimal: (x*x).cast(dec) squares in the
      // input long type, silently wrapping past 2^63 in non-ANSI Spark
      // while the oracle's HUGEINT stays exact (ADVICE r11)
      sum(col(xCol).cast(dec) * col(xCol)).as("q_g"))
    val sgD = col("s_g").cast("double")
    val s = groups.agg(
      count(lit(1)).cast("long").as("k_groups"),
      coalesce(sum(col("n_g")), lit(0L)).cast("long").as("n"),
      sum(col("s_g")).cast("double").as("s_all"),
      sum(col("q_g")).cast("double").as("q_all"),
      // Σ_g s_g²/n_g: each double term pinned to 12 dp so the sum is
      // exact decimal arithmetic — order-independent across groups
      sum((sgD * sgD / col("n_g").cast("double"))
        .cast("decimal(38,12)")).cast("double").as("ssb_part"))
    val nD = col("n").cast("double")
    val kD = col("k_groups").cast("double")
    val ssb = col("ssb_part") - col("s_all") * col("s_all") / nD
    val ssw = col("q_all") - col("ssb_part")
    val ok = col("k_groups") >= 2 && col("n") > col("k_groups") &&
      ssw > 0
    val fStat = when(ok,
      (ssb / (kD - 1.0)) / (ssw / (nD - kD)))
    val etaSq = when(col("n") > 0 && ssb + ssw > 0, ssb / (ssb + ssw))
    s.select(col("k_groups"), col("n"),
      round(when(col("n") > 0, ssb), 6).as("ssb"),
      round(when(col("n") > 0, ssw), 6).as("ssw"),
      when(col("k_groups") >= 1, col("k_groups") - 1L).as("df1"),
      when(col("n") >= col("k_groups"),
        col("n") - col("k_groups")).as("df2"),
      round(fStat, 6).as("f_stat"),
      round(etaSq, 6).as("eta_sq"),
      coalesce(!ok, lit(true)).as("guarded"))
  }

  /** Log-rank test between the md5 experiment arms on user lifetimes —
    * "did the treatment change RETENTION?", the survival companion to
    * [[kaplanMeier]] the way p169's AUC companions the p97 classifier.
    * Standard Mantel–Haenszel form over the distinct lifetime hours:
    * at each duration d with r_a/r_b at risk and o_d total churn,
    * E_a += o_d·r_a/n_d and V += o_d·(r_a/n_d)·(1−r_a/n_d)·
    * (n_d−o_d)/(n_d−1); z = (O_a−E_a)/√V. Censoring as in
    * [[kaplanMeier]]: users whose last event falls within
    * `censorHours` of the corpus end leave the risk set silently.
    *
    * Determinism: at-risk counts are exact int64 (N_arm − prefix sum);
    * each E/V term is ONE fixed-shape double expression of those
    * integers, pinned to DECIMAL(38,12) before the cross-row sum (the
    * p178 trick), so the only float summation is order-independent
    * and DuckDB replays it term for term. V ≤ 0 (no churn anywhere —
    * e.g. a censor window covering the corpus) → z NULL, guarded.
    *
    * Distributed shape: one user-keyed collapse (min/max/arm), one
    * global max (broadcast scalar), a duration-keyed aggregate bounded
    * by the corpus HOUR SPAN carrying both arms' counters, prefix sums
    * under a [[Corpus.boundedKey]] window over that bounded table, and
    * a final scalar aggregate. Nothing keyed wider than user_id ever
    * shuffles.
    */
  def logRank(events: DataFrame, censorHours: Int = 12): DataFrame = {
    val W = org.apache.spark.sql.expressions.Window
    val durs = userLifetimes(events, censorHours)
      .groupBy("dur").agg(
        sum(when(col("arm_a"), 1L).otherwise(0L)).cast("long")
          .as("all_a"),
        sum(when(!col("arm_a"), 1L).otherwise(0L)).cast("long")
          .as("all_b"),
        sum(when(col("arm_a") && !col("cens"), 1L).otherwise(0L))
          .cast("long").as("churn_a"),
        sum(when(!col("arm_a") && !col("cens"), 1L).otherwise(0L))
          .cast("long").as("churn_b"))
    val w = W.partitionBy(Corpus.boundedKey(col("dur")))
      .orderBy(col("dur"))
    val whole = w.rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
    val cum = durs
      .withColumn("r_a", (sum(col("all_a")).over(whole) -
        coalesce(sum(col("all_a"))
          .over(w.rowsBetween(W.unboundedPreceding, -1)), lit(0L)))
        .cast("long"))
      .withColumn("r_b", (sum(col("all_b")).over(whole) -
        coalesce(sum(col("all_b"))
          .over(w.rowsBetween(W.unboundedPreceding, -1)), lit(0L)))
        .cast("long"))
    val dTot = col("churn_a") + col("churn_b")
    val nTot = col("r_a") + col("r_b")
    val dD = dTot.cast("double"); val nD = nTot.cast("double")
    val raD = col("r_a").cast("double")
    // E/V terms written as ONE expression shape each, replayed
    // verbatim in the oracle; the n_d = 1 row carries zero variance
    val eTerm = when(dTot > 0 && nTot > 0,
      (dD * raD / nD).cast("decimal(38,12)"))
      .otherwise(lit(0).cast("decimal(38,12)"))
    val vTerm = when(dTot > 0 && nTot > 1,
      (dD * (raD / nD) * (lit(1.0) - raD / nD) *
        (nD - dD) / (nD - lit(1.0))).cast("decimal(38,12)"))
      .otherwise(lit(0).cast("decimal(38,12)"))
    val s = cum.agg(
      coalesce(sum(col("all_a")), lit(0L)).cast("long").as("n_a"),
      coalesce(sum(col("all_b")), lit(0L)).cast("long").as("n_b"),
      coalesce(sum(col("churn_a")), lit(0L)).cast("long").as("o_a"),
      coalesce(sum(col("churn_b")), lit(0L)).cast("long").as("o_b"),
      sum(eTerm).cast("double").as("e_a"),
      sum(vTerm).cast("double").as("v"))
    val z = when(col("v") > 0,
      (col("o_a").cast("double") - col("e_a")) / sqrt(col("v")))
    s.select(col("n_a"), col("n_b"), col("o_a"), col("o_b"),
      round(col("e_a"), 6).as("e_a"), round(col("v"), 6).as("v"),
      round(z, 6).as("z"),
      round(z * z, 6).as("chi_sq"),
      coalesce(!(col("v") > 0), lit(true)).as("guarded"))
  }

  /** Mann–Whitney rank-sum test between the md5 arms on a per-user
    * integer metric — the nonparametric A/B readout for metrics whose
    * distribution is too skewed for a mean test (p170's trimmed mean
    * treats the symptom; the rank test ignores magnitudes entirely).
    * Midrank convention for ties, tie-corrected normal approximation:
    * with tie-group sizes t over n users, V = (n_a·n_b/12)·((n+1) −
    * Σ(t³−t)/(n(n−1))); z = (U_a − n_a·n_b/2)/√V.
    *
    * Exactness: everything through 2·R_a (the DOUBLED midrank sum —
    * the s41/p169 trick keeps midranks integral) and Σ(t³−t) is exact
    * DECIMAL(38,0) arithmetic over the value histogram; the only float
    * work is the final fixed-shape V/z expression of those integers,
    * replayed verbatim by the oracle. All-tied input (one value group)
    * makes the tie term exactly n³−n ⇒ V = 0 ⇒ z NULL, guarded.
    *
    * Distributed shape: input is a per-user relation (already one row
    * per user); one value-keyed histogram aggregate (|distinct metric
    * values| rows — bounded by the metric's range, not the corpus),
    * the two-phase [[Corpus.withGlobalOrder]] rank over that histogram
    * (no single-task sort of it either), one scalar aggregate.
    */
  def rankSumReadout(users: DataFrame, xCol: String): DataFrame = {
    val d38 = "decimal(38,0)"
    val armed = users.select(col(xCol).cast("long").as("x"),
      (substring(md5(col("user_id").cast("string")), 1, 1) < "8")
        .as("arm_a"))
    val hist = armed.groupBy("x").agg(
      count(lit(1)).cast("long").as("c"),
      sum(when(col("arm_a"), 1L).otherwise(0L)).cast("long").as("ca"))
    val ranked = Corpus.withGlobalOrder(hist, Seq(col("x")), col("c"))
    val s = ranked.agg(
      coalesce(sum(col("ca")), lit(0L)).cast("long").as("n_a"),
      coalesce(sum(col("c") - col("ca")), lit(0L)).cast("long")
        .as("n_b"),
      // 2·R_a = Σ ca·(2·below + c + 1); below = cum − c
      coalesce(sum(col("ca").cast(d38) *
        ((col("cum") - col("c")) * 2 + col("c") + 1).cast(d38)),
        lit(0).cast(d38)).as("r2a"),
      coalesce(sum((col("c").cast(d38) * col("c") * col("c")) -
        col("c").cast(d38)), lit(0).cast(d38)).as("t_ties"))
    val naD = col("n_a").cast("double"); val nbD = col("n_b").cast("double")
    val nD = (col("n_a") + col("n_b")).cast("double")
    // 2·U_a = 2·R_a − n_a(n_a+1); exact decimal before the halving
    val u2 = col("r2a") - (col("n_a").cast(d38) * (col("n_a") + 1))
    val armsOk = col("n_a") > 0 && col("n_b") > 0
    val v = when(armsOk && nD > 1,
      naD * nbD / lit(12.0) * ((nD + 1.0) -
        col("t_ties").cast("double") / (nD * (nD - 1.0))))
    val z = when(v > 0,
      (u2.cast("double") - naD * nbD) / lit(2.0) / sqrt(v))
    // r2_a / tie_term ship as DOUBLE, not long: the exact DECIMAL(38,0)
    // internals can exceed int64 under heavy ties at ~1e9 users
    // (Σ c³−c ~ 1e27), where a long cast silently wraps in non-ANSI
    // Spark while the oracle's HUGEINT→BIGINT cast errors — the double
    // readout is the same round-to-nearest in both engines (ADVICE r11)
    s.select(col("n_a"), col("n_b"),
      col("r2a").cast("double").as("r2_a"),
      round(u2.cast("double") / lit(2.0), 6).as("u_a"),
      col("t_ties").cast("double").as("tie_term"),
      round(v, 6).as("v"), round(z, 6).as("z"),
      coalesce(!(v > 0), lit(true)).as("guarded"))
  }

  /** Difference-in-differences readout — the two-period causal
    * estimate for a launch that was NOT randomized: compare each arm's
    * before→after change in per-user event volume, so any level
    * difference between the arms and any common time trend cancel;
    * what remains is the treatment effect under the parallel-trends
    * assumption. Cells are (arm × period) with period split at the
    * integer midpoint of the corpus µs span; the estimate is
    * (ȳ_postA − ȳ_preA) − (ȳ_postB − ȳ_preB) with a Welch-style
    * SE = √(Σ_cells s²_c/n_c) from the four per-cell sample variances.
    *
    * Exactness: per-cell (n, Σx, Σx²) are exact int64/DECIMAL(38,0)
    * sums of integer event counts (a user absent from a period counts
    * 0 — the per-user collapse carries both periods, so absence is an
    * exact zero, not a dropped row); every mean/variance is a
    * fixed-shape float expression of those integers, replayed
    * verbatim. Any cell with n < 2 or an SE of exactly 0 → estimate
    * NULL, guarded (the gate's second scenario collapses the span so
    * every event lands in one period → two empty cells).
    *
    * Distributed shape: one global (min, max) scalar (broadcast), one
    * user-keyed collapse carrying both periods' counts, one 12-counter
    * scalar aggregate. No window, no shuffled join.
    */
  def didReadout(events: DataFrame, cutUs: Option[Long] = None)
      : DataFrame = {
    val d38 = "decimal(38,0)"
    val span = events.agg(min(unix_micros(col("ts"))).as("mn"),
      max(unix_micros(col("ts"))).as("mx"))
      .select(cutUs.map(lit(_)).getOrElse(
        col("mn") + expr("(mx - mn) div 2")).as("cut"))
    val users = events.crossJoin(broadcast(span))
      .groupBy("user_id").agg(
        sum(when(unix_micros(col("ts")) < col("cut"), 1L)
          .otherwise(0L)).cast("long").as("pre"),
        sum(when(unix_micros(col("ts")) >= col("cut"), 1L)
          .otherwise(0L)).cast("long").as("post"))
      .withColumn("arm_a",
        substring(md5(col("user_id").cast("string")), 1, 1) < "8")
    // 12 counters: (n, Σx, Σx²) per (arm × period) cell — n is the
    // USER count per arm (identical for that arm's two periods; a
    // user inactive in a period contributes an exact zero). Each term
    // is pinned to DECIMAL(38,0) BEFORE the sum (the anovaF/olsReadout
    // idiom, and the oracle's HUGEINT accumulation): a LongType Σx²
    // crosses 9.2·10¹⁸ at ~10⁹ users × ~10⁵ events per period and
    // would throw under ANSI where the oracle succeeds.
    def cellAggs(p: Column, arm: String): Seq[Column] = Seq(
      coalesce(sum(when(p, 1L).otherwise(0L)), lit(0L)).cast("long")
        .as(s"n_$arm"),
      coalesce(sum(when(p, col("pre").cast(d38))), lit(0).cast(d38))
        .as(s"s_${arm}_pre"),
      coalesce(sum(when(p, col("pre").cast(d38) * col("pre"))),
        lit(0).cast(d38)).as(s"q_${arm}_pre"),
      coalesce(sum(when(p, col("post").cast(d38))), lit(0).cast(d38))
        .as(s"s_${arm}_post"),
      coalesce(sum(when(p, col("post").cast(d38) * col("post"))),
        lit(0).cast(d38)).as(s"q_${arm}_post"))
    val aggs = cellAggs(col("arm_a"), "a") ++
      cellAggs(!col("arm_a"), "b")
    val m = users.agg(aggs.head, aggs.tail: _*)
    // per-cell mean and sample variance from the exact moments; the
    // variance shape (q − s²/n)/(n − 1) is replayed verbatim
    def mean(arm: String, per: String) =
      col(s"s_${arm}_$per").cast("double") /
        col(s"n_$arm").cast("double")
    def sVar(arm: String, per: String) = {
      val nD = col(s"n_$arm").cast("double")
      (col(s"q_${arm}_$per").cast("double") -
        col(s"s_${arm}_$per").cast("double") *
          col(s"s_${arm}_$per").cast("double") / nD) / (nD - 1.0)
    }
    val ok = col("n_a") >= 2 && col("n_b") >= 2
    val did = when(ok, (mean("a", "post") - mean("a", "pre")) -
      (mean("b", "post") - mean("b", "pre")))
    val seSq = when(ok,
      (sVar("a", "pre") + sVar("a", "post")) /
        col("n_a").cast("double") +
      (sVar("b", "pre") + sVar("b", "post")) /
        col("n_b").cast("double"))
    val se = when(seSq > 0, sqrt(seSq))
    val z = when(se > 0, did / se)
    m.select(col("n_a"), col("n_b"),
      round(when(ok, mean("a", "pre")), 6).as("mean_a_pre"),
      round(when(ok, mean("a", "post")), 6).as("mean_a_post"),
      round(when(ok, mean("b", "pre")), 6).as("mean_b_pre"),
      round(when(ok, mean("b", "post")), 6).as("mean_b_post"),
      round(did, 6).as("did"),
      round(se, 6).as("se"),
      round(z, 6).as("z"),
      coalesce(!(se > 0), lit(true)).as("guarded"))
  }

  /** Ordinary-least-squares simple regression of a per-user metric on
    * another — "does activity SPAN predict event VOLUME?", the
    * bivariate companion to [[anovaF]]. Closed form from the five
    * moment sums: slope = (nΣxy − ΣxΣy)/(nΣx² − (Σx)²), r² =
    * dxy²/(dxx·dyy), and the slope t-stat from the residual variance
    * identity SSE·n = dyy − dxy²/dxx.
    *
    * Exactness: all five moments and the three cross-determinants
    * (dxx, dxy, dyy) are exact DECIMAL(38,0) integer arithmetic
    * (n ≤ 10⁹ users × x,y ≤ 10⁶ keeps every product under 10³⁸); the
    * float work is fixed-shape expressions of those integers, replayed
    * verbatim. dxx = 0 (constant regressor) ⇒ every estimate NULL,
    * guarded — the gate's second scenario.
    *
    * Distributed shape: ONE scalar aggregate over the per-user
    * relation (map-side partial combine); no join, no window.
    */
  def olsReadout(users: DataFrame, xCol: String, yCol: String)
      : DataFrame = {
    val d38 = "decimal(38,0)"
    val base = users.select(col(xCol).cast("long").as("x"),
      col(yCol).cast("long").as("y"))
    val m = base.agg(
      count(lit(1)).cast("long").as("n"),
      coalesce(sum(col("x").cast(d38)), lit(0).cast(d38)).as("sx"),
      coalesce(sum(col("y").cast(d38)), lit(0).cast(d38)).as("sy"),
      coalesce(sum(col("x").cast(d38) * col("x")), lit(0).cast(d38))
        .as("sxx"),
      coalesce(sum(col("x").cast(d38) * col("y")), lit(0).cast(d38))
        .as("sxy"),
      coalesce(sum(col("y").cast(d38) * col("y")), lit(0).cast(d38))
        .as("syy"))
    val nDec = col("n").cast(d38)
    val dxx = (nDec * col("sxx") - col("sx") * col("sx"))
      .cast("double")
    val dxy = (nDec * col("sxy") - col("sx") * col("sy"))
      .cast("double")
    val dyy = (nDec * col("syy") - col("sy") * col("sy"))
      .cast("double")
    val ok = col("n") >= 2 && dxx > 0
    val slope = when(ok, dxy / dxx)
    val intercept = when(ok,
      (col("sy").cast("double") - dxy / dxx * col("sx").cast("double"))
        / col("n").cast("double"))
    val r2 = when(ok && dyy > 0, dxy * dxy / (dxx * dyy))
    // slope t-stat: var(slope) = (dyy − dxy²/dxx) / ((n−2)·dxx)
    val vs = when(ok && col("n") > 2,
      (dyy - dxy * dxy / dxx) / ((col("n").cast("double") - 2.0) * dxx))
    val t = when(vs > 0, dxy / dxx / sqrt(vs))
    m.select(col("n"),
      round(slope, 6).as("slope"),
      round(intercept, 6).as("intercept"),
      round(r2, 6).as("r_sq"),
      round(t, 6).as("t_stat"),
      coalesce(!ok, lit(true)).as("guarded"))
  }

  /** Sample-ratio-mismatch (SRM) guardrail — the FIRST check every
    * experimentation platform runs before reading any metric: does the
    * observed arm split match the designed ratio? A mismatch means the
    * assignment itself is broken (bot filtering, logging loss,
    * redirect asymmetry) and every downstream readout is invalid.
    * One-sample χ² with df = 1: (n_a−E_a)²/E_a + (n_b−E_b)²/E_b vs the
    * α = 0.001 critical value 10.827566170662733 (SRM convention uses
    * a strict α — a 5% false-alarm rate on a gate this routine would
    * page constantly).
    *
    * Exactness: arm counts are exact int64; E and χ² are fixed-shape
    * float expressions of those integers, replayed verbatim. n = 0 →
    * guarded.
    *
    * Distributed shape: ONE scalar aggregate over the per-user
    * relation. `armHexLt` selects arm A as md5-first-hex < that char —
    * the gate's alarm scenario assigns by '4' (a real 25% split) while
    * still DECLARING expectedA = 0.5, which is exactly what a broken
    * ramp looks like.
    */
  def srmCheck(users: DataFrame, armHexLt: String = "8",
      expectedA: Double = 0.5): DataFrame = {
    require(expectedA > 0 && expectedA < 1, s"bad expectedA $expectedA")
    val s = users.agg(
      coalesce(sum(when(
        substring(md5(col("user_id").cast("string")), 1, 1) < armHexLt,
        1L).otherwise(0L)), lit(0L)).cast("long").as("n_a"),
      count(lit(1)).cast("long").as("n"))
    val nD = col("n").cast("double")
    val ea = nD * lit(expectedA)
    val eb = nD * lit(1.0 - expectedA)
    val naD = col("n_a").cast("double")
    val nbD = (col("n") - col("n_a")).cast("double")
    val chi = when(col("n") > 0,
      (naD - ea) * (naD - ea) / ea + (nbD - eb) * (nbD - eb) / eb)
    s.select(col("n_a"), (col("n") - col("n_a")).as("n_b"),
      round(lit(expectedA), 6).as("expected_a"),
      round(chi, 6).as("chi_sq"),
      coalesce(chi > lit(10.827566170662733), lit(false))
        .as("srm_detected"),
      coalesce(!(col("n") > 0), lit(true)).as("guarded"))
  }

  /** The Kaplan–Meier oracle, shared VERBATIM by the batch gate (p176)
    * and its streaming mirror (s42) — the mirror's contract is "equal
    * to the batch oracle row for row", so the SQL must be one string,
    * not two copies that can drift (the p91Ctes lesson).
    */
  private[graft] val kmOracleSql =
    """WITH mx AS (SELECT MAX(epoch_us(ts)) AS mxu FROM events),
      |u AS (SELECT user_id, MIN(epoch_us(ts)) AS fw,
      |    MAX(epoch_us(ts)) AS lw FROM events GROUP BY 1),
      |d AS (SELECT (lw - fw) // 3600000000 AS dur,
      |    lw > mxu - 43200000000 AS cens FROM u CROSS JOIN mx),
      |g AS (SELECT dur, CAST(COUNT(*) AS BIGINT) AS n_all,
      |    CAST(SUM(CASE WHEN NOT cens THEN 1 ELSE 0 END) AS BIGINT)
      |      AS churned,
      |    CAST(SUM(CASE WHEN cens THEN 1 ELSE 0 END) AS BIGINT)
      |      AS censored
      |  FROM d GROUP BY 1),
      |c AS (SELECT *, COALESCE(SUM(n_all) OVER (ORDER BY dur
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
      |      AS bef,
      |    SUM(n_all) OVER () AS n FROM g),
      |r AS (SELECT *, CAST(n - bef AS BIGINT) AS at_risk FROM c),
      |s AS (SELECT *,
      |    SUM(CASE WHEN churned < at_risk THEN
      |        ln(1.0 - CAST(churned AS DOUBLE) / at_risk)
      |      ELSE 0.0 END) OVER (ORDER BY dur ROWS BETWEEN
      |      UNBOUNDED PRECEDING AND CURRENT ROW) AS lnsum,
      |    MAX(CASE WHEN churned = at_risk THEN 1 ELSE 0 END)
      |      OVER (ORDER BY dur ROWS BETWEEN UNBOUNDED PRECEDING
      |      AND CURRENT ROW) AS zf
      |  FROM r)
      |SELECT dur AS t_hours, at_risk, churned, censored,
      |  round(CASE WHEN at_risk > 0 THEN
      |    CAST(churned AS DOUBLE) / at_risk END, 6) AS hazard,
      |  round(CASE WHEN zf = 1 THEN 0.0 ELSE exp(lnsum) END, 6)
      |    AS survival
      |FROM s ORDER BY 1""".stripMargin

  /** Single-scenario (censorHours = 12) log-rank oracle — the s55
    * streaming mirror's replay: the p180 CTE chain without the
    * scenario axis, term-for-term the same E/V decimal-pinned
    * formulas.
    */
  private[graft] val logRankOracleSql =
    """WITH mx AS (SELECT MAX(epoch_us(ts)) AS mxu FROM events),
      |u AS (SELECT user_id, MIN(epoch_us(ts)) AS fw,
      |    MAX(epoch_us(ts)) AS lw FROM events GROUP BY 1),
      |d AS (SELECT (lw - fw) // 3600000000 AS dur,
      |    lw > mxu - 43200000000 AS cens,
      |    substring(md5(CAST(user_id AS VARCHAR)), 1, 1) < '8'
      |      AS arm_a
      |  FROM u CROSS JOIN mx),
      |g AS (SELECT dur,
      |    CAST(SUM(CASE WHEN arm_a THEN 1 ELSE 0 END) AS BIGINT)
      |      AS all_a,
      |    CAST(SUM(CASE WHEN NOT arm_a THEN 1 ELSE 0 END) AS BIGINT)
      |      AS all_b,
      |    CAST(SUM(CASE WHEN arm_a AND NOT cens THEN 1 ELSE 0 END)
      |      AS BIGINT) AS churn_a,
      |    CAST(SUM(CASE WHEN NOT arm_a AND NOT cens THEN 1 ELSE 0
      |      END) AS BIGINT) AS churn_b
      |  FROM d GROUP BY 1),
      |c AS (SELECT *,
      |    CAST(SUM(all_a) OVER () -
      |      COALESCE(SUM(all_a) OVER (ORDER BY dur ROWS BETWEEN
      |        UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
      |      AS r_a,
      |    CAST(SUM(all_b) OVER () -
      |      COALESCE(SUM(all_b) OVER (ORDER BY dur ROWS BETWEEN
      |        UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
      |      AS r_b
      |  FROM g),
      |t AS (SELECT *, churn_a + churn_b AS d_tot, r_a + r_b AS n_tot
      |  FROM c),
      |e AS (SELECT
      |    CAST(COALESCE(SUM(all_a), 0) AS BIGINT) AS n_a,
      |    CAST(COALESCE(SUM(all_b), 0) AS BIGINT) AS n_b,
      |    CAST(COALESCE(SUM(churn_a), 0) AS BIGINT) AS o_a,
      |    CAST(COALESCE(SUM(churn_b), 0) AS BIGINT) AS o_b,
      |    CAST(SUM(CASE WHEN d_tot > 0 AND n_tot > 0 THEN
      |      CAST(CAST(d_tot AS DOUBLE) * CAST(r_a AS DOUBLE) /
      |        CAST(n_tot AS DOUBLE) AS DECIMAL(38,12))
      |      ELSE CAST(0 AS DECIMAL(38,12)) END) AS DOUBLE) AS e_a,
      |    CAST(SUM(CASE WHEN d_tot > 0 AND n_tot > 1 THEN
      |      CAST(CAST(d_tot AS DOUBLE) *
      |        (CAST(r_a AS DOUBLE) / CAST(n_tot AS DOUBLE)) *
      |        (1.0 - CAST(r_a AS DOUBLE) / CAST(n_tot AS DOUBLE)) *
      |        (CAST(n_tot AS DOUBLE) - CAST(d_tot AS DOUBLE)) /
      |        (CAST(n_tot AS DOUBLE) - 1.0) AS DECIMAL(38,12))
      |      ELSE CAST(0 AS DECIMAL(38,12)) END) AS DOUBLE) AS v
      |  FROM t)
      |SELECT n_a, n_b, o_a, o_b,
      |  round(e_a, 6) AS e_a, round(v, 6) AS v,
      |  round(CASE WHEN v > 0 THEN
      |    (CAST(o_a AS DOUBLE) - e_a) / sqrt(v) END, 6) AS z,
      |  round(CASE WHEN v > 0 THEN
      |    ((CAST(o_a AS DOUBLE) - e_a) / sqrt(v)) *
      |    ((CAST(o_a AS DOUBLE) - e_a) / sqrt(v)) END, 6) AS chi_sq,
      |  NOT (v > 0) AS guarded
      |FROM e""".stripMargin

  /** Shared BPE oracle CTE chain (p196 / p197 / the s51 streaming
    * mirror): tok/v0 word-frequency prep plus `merges` unrolled rounds
    * — p{k} pair counts, b{k} deterministic argmax, v{k} doubled-space
    * rewrite. Callers append their own final SELECT over b{k} / v{k}.
    */
  private[operators] def bpeOracleCtes(merges: Int): String = {
    def round(k: Int): String =
      s"""p$k AS (SELECT pair, CAST(sum(cnt) AS BIGINT) AS freq FROM (
         |    SELECT unnest(list_transform(
         |        range(1, len(string_split(seq, ' '))),
         |        i -> string_split(seq, ' ')[i] || ' ' ||
         |          string_split(seq, ' ')[i+1])) AS pair, cnt
         |    FROM v${k - 1}
         |    WHERE len(string_split(seq, ' ')) >= 2)
         |  GROUP BY 1),
         |b$k AS (SELECT pair, freq FROM p$k
         |  ORDER BY freq DESC, pair LIMIT 1),
         |v$k AS (SELECT trim(replace(replace(
         |    ' ' || replace(seq, ' ', '  ') || ' ',
         |    ' ' || replace(pair, ' ', '  ') || ' ',
         |    ' ' || replace(pair, ' ', '') || ' '),
         |    '  ', ' ')) AS seq, w, cnt FROM v${k - 1}, b$k)""".stripMargin
    val rounds = (1 to merges).map(round).mkString(",\n")
    // tok keeps doc_id and v{k} keeps the word key w so p198 can join
    // documents back to the final vocab level (unused by p196/p197)
    s"""WITH tok AS (
       |  SELECT doc_id, unnest(string_split_regex(w, '\\s+')) AS token
       |  FROM (SELECT doc_id, lower(regexp_replace(text,
       |      '^\\s+|\\s+$$', '', 'g')) AS w FROM documents)
       |  WHERE length(w) > 0),
       |v0 AS (SELECT token AS w,
       |    trim(regexp_replace(token, '(.)', '\\1 ', 'g')) AS seq,
       |    CAST(count(*) AS BIGINT) AS cnt FROM tok
       |  GROUP BY 1, 2),
       |$rounds""".stripMargin
  }

  /** The full p196 oracle — also s51's verbatim (stream == batch is
    * enforced by sharing the TEXT, not by keeping two copies equal by
    * hand).
    */
  private[operators] def bpeTrainOracleSql(merges: Int): String = {
    val selects = (1 to merges)
      .map(k => s"SELECT $k AS step, pair, freq FROM b$k")
      .mkString("\nUNION ALL\n")
    s"""${bpeOracleCtes(merges)}
       |$selects
       |ORDER BY step""".stripMargin
  }

  /** The full p198 oracle — also s52's verbatim. */
  private[operators] def bpeEncodeOracleSql(merges: Int): String =
    s"""${bpeOracleCtes(merges)},
       |enc AS (SELECT w, len(string_split(seq, ' ')) AS n
       |  FROM v$merges)
       |SELECT t.doc_id, CAST(count(*) AS BIGINT) AS n_words,
       |  CAST(sum(e.n) AS BIGINT) AS n_bpe
       |FROM tok t JOIN enc e ON t.token = e.w
       |WHERE t.doc_id % 23 = 0
       |GROUP BY 1 ORDER BY 1""".stripMargin

  // p91's oracle, split so p184 can re-derive the same weights as a CTE
  private val p91Ctes =
    """tok AS (
      |  SELECT doc_id, unnest(string_split_regex(w, '\s+')) AS token
      |  FROM (SELECT doc_id,
      |          lower(regexp_replace(text, '^\s+|\s+$', '', 'g')) AS w
      |        FROM documents)
      |  WHERE length(w) > 0),
      |bk AS (SELECT doc_id,
      |    (strpos('0123456789abcdef', substr(md5(token), 1, 1)) - 1) * 16
      |      + strpos('0123456789abcdef', substr(md5(token), 2, 1)) - 1
      |      AS bucket
      |  FROM tok),
      |raw AS (SELECT bucket, count(*) AS rc FROM bk GROUP BY 1),
      |tgt AS (SELECT bucket, count(*) AS tc FROM bk
      |        WHERE doc_id % 7 = 0 GROUP BY 1),
      |tot AS (SELECT (SELECT sum(rc) FROM raw) AS rt,
      |               (SELECT sum(tc) FROM tgt) AS tt),
      |w AS (SELECT b.doc_id,
      |    ln(COALESCE(t.tc, 0) + 1) - ln(r.rc + 1) AS w
      |  FROM bk b JOIN raw r USING (bucket)
      |  LEFT JOIN tgt t USING (bucket)),
      |sc AS (SELECT doc_id, count(*) AS n_tokens, sum(w) AS s
      |       FROM w GROUP BY 1)""".stripMargin
  private val p91Select =
    """SELECT d.doc_id,
      |  CAST(COALESCE(sc.n_tokens, 0) AS BIGINT) AS n_tokens,
      |  round(COALESCE(sc.s + sc.n_tokens * (ln(t.rt + 256)
      |    - ln(t.tt + 256)), 0), 6) AS score
      |FROM documents d LEFT JOIN sc USING (doc_id)
      |CROSS JOIN tot t""".stripMargin

  val all: Seq[QueryDef] = Seq(

    // ---- deduplication -------------------------------------------------
    QueryDef("p01_dedup_exact",
      """SELECT md5(text) AS content_hash, MIN(doc_id) AS keep_id,
        |  COUNT(*) AS dupes
        |FROM documents GROUP BY 1""".stripMargin) { (s, dir) =>
      Dedup.exact(t(s, dir, "documents"), "doc_id", "text")
    },

    // Repeated-span removal: the corpus' planted exact/near-dup docs
    // give real cross-doc 50-char repeats; the gate hashes the CLEANED
    // text (md5), so the cut boundaries must be byte-exact. The oracle
    // re-derives anchors with the same window/stride definition and
    // performs the identical running-max-cursor cut as window functions
    // + ordered string_agg (a different mechanism than Spark's fold —
    // the x03 different-engine pattern); counts are exact int64.
    QueryDef("p80_span_removal",
      """WITH d AS (SELECT doc_id, text FROM documents),
        |w AS (SELECT doc_id, text,
        |    unnest(range(0, length(text) - 49, 1)) AS st
        |  FROM d WHERE length(text) >= 50),
        |w2 AS (SELECT doc_id, st, substr(text, st + 1, 50) AS w FROM w),
        |dup AS (SELECT w FROM w2 GROUP BY w HAVING count(*) >= 2),
        |occ AS (SELECT doc_id, st FROM w2
        |  WHERE w IN (SELECT w FROM dup)),
        |o2 AS (SELECT doc_id, st,
        |    coalesce(max(st + 50) OVER (PARTITION BY doc_id ORDER BY st
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS cur
        |  FROM occ),
        |agg AS (SELECT o2.doc_id,
        |    string_agg(CASE WHEN st > cur
        |      THEN substr(d.text, cur + 1, st - cur) ELSE '' END,
        |      '' ORDER BY st) AS head_pieces,
        |    max(st + 50) AS maxend,
        |    count(*) AS n_anchors
        |  FROM o2 JOIN d USING (doc_id) GROUP BY o2.doc_id),
        |cleaned AS (SELECT d.doc_id, length(d.text) AS orig_cp,
        |    coalesce(a.head_pieces, '')
        |      || substr(d.text, coalesce(a.maxend, 0) + 1) AS clean,
        |    coalesce(a.n_anchors, 0) AS n_anchors
        |  FROM d LEFT JOIN agg a USING (doc_id))
        |SELECT doc_id, CAST(orig_cp AS BIGINT) AS orig_cp,
        |  CAST(length(clean) AS BIGINT) AS clean_cp,
        |  CAST(n_anchors AS BIGINT) AS n_dup_anchors,
        |  CAST(orig_cp - length(clean) AS BIGINT) AS removed_cp,
        |  md5(clean) AS clean_dg
        |FROM cleaned""".stripMargin) { (s, dir) =>
      Dedup.repeatedSpanRemoval(t(s, dir, "documents"))
    },

    // Winnowed (stride=4) span removal: the throughput mode of p80.
    // The oracle re-derives the ENTIRE winnowing selection — per-
    // position polynomial hash (base 257 mod 2^61−1 over code points,
    // the exact WinnowAnchorHashes hash, replayed in HUGEINT), window-
    // min over every 4 consecutive positions with leftmost tie-break
    // (min over h·2^32+st), distinct anchors — then the same exact-
    // string dup filter and running-max cut as p80. clean_dg md5s pin
    // the cut boundaries byte-exact, so any drift in hash, selection,
    // tie-break, or cut shows up as a hash mismatch.
    QueryDef("p80w_winnow_span_removal",
      """WITH d AS (SELECT doc_id, text FROM documents),
        |dl AS (SELECT doc_id, text FROM d WHERE length(text) >= 50),
        |pr AS (
        |  WITH RECURSIVE p(k, v) AS (
        |    SELECT 0, CAST(1 AS HUGEINT)
        |    UNION ALL
        |    SELECT k + 1, (v * 257) % 2305843009213693951
        |    FROM p WHERE k < 49)
        |  SELECT list(v ORDER BY k) AS pl FROM p),
        |cps AS (SELECT doc_id, text,
        |    [CAST(unicode(c) AS HUGEINT) for c in string_split(text, '')]
        |      AS cp
        |  FROM dl),
        |pos AS (SELECT doc_id, cp,
        |    unnest(range(0, length(text) - 49, 1)) AS st
        |  FROM cps),
        |ph AS (SELECT doc_id, st,
        |    CAST(list_sum([cp[CAST(st + i AS INT)] *
        |        pl[CAST(51 - i AS INT)] for i in generate_series(1, 50)])
        |      % 2305843009213693951 AS BIGINT) AS h
        |  FROM pos, pr),
        |wn AS (SELECT doc_id,
        |    min(CAST(h AS HUGEINT) * 4294967296 + st) OVER
        |      (PARTITION BY doc_id ORDER BY st
        |       ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS mk,
        |    count(*) OVER (PARTITION BY doc_id ORDER BY st
        |       ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS cnt
        |  FROM ph),
        |anch AS (SELECT DISTINCT doc_id,
        |    CAST(mk % 4294967296 AS BIGINT) AS st
        |  FROM wn WHERE cnt = 4),
        |w2 AS (SELECT a.doc_id, a.st,
        |    substr(dl.text, CAST(a.st AS INT) + 1, 50) AS w
        |  FROM anch a JOIN dl USING (doc_id)),
        |dup AS (SELECT w FROM w2 GROUP BY w HAVING count(*) >= 2),
        |occ AS (SELECT doc_id, st FROM w2
        |  WHERE w IN (SELECT w FROM dup)),
        |o2 AS (SELECT doc_id, st,
        |    coalesce(max(st + 50) OVER (PARTITION BY doc_id ORDER BY st
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS cur
        |  FROM occ),
        |agg AS (SELECT o2.doc_id,
        |    string_agg(CASE WHEN st > cur
        |      THEN substr(d.text, CAST(cur AS INT) + 1,
        |                  CAST(st - cur AS INT))
        |      ELSE '' END, '' ORDER BY st) AS head_pieces,
        |    max(st + 50) AS maxend,
        |    count(*) AS n_anchors
        |  FROM o2 JOIN d USING (doc_id) GROUP BY o2.doc_id),
        |cleaned AS (SELECT d.doc_id, length(d.text) AS orig_cp,
        |    coalesce(a.head_pieces, '')
        |      || substr(d.text, CAST(coalesce(a.maxend, 0) AS INT) + 1)
        |      AS clean,
        |    coalesce(a.n_anchors, 0) AS n_anchors
        |  FROM d LEFT JOIN agg a USING (doc_id))
        |SELECT doc_id, CAST(orig_cp AS BIGINT) AS orig_cp,
        |  CAST(length(clean) AS BIGINT) AS clean_cp,
        |  CAST(n_anchors AS BIGINT) AS n_dup_anchors,
        |  CAST(orig_cp - length(clean) AS BIGINT) AS removed_cp,
        |  md5(clean) AS clean_dg
        |FROM cleaned""".stripMargin) { (s, dir) =>
      Dedup.repeatedSpanRemoval(t(s, dir, "documents"), stride = 4)
    },

    // Release n-gram novelty: v2 is the p68/s13 release construction
    // (drops %11, rewrites %7 with a ' v2' suffix, adds %13 copies), so
    // the novelty fraction is nonzero but small — exactly the shape a
    // re-crawl-plus-edit release produces. The oracle re-derives both
    // distinct gram sets as STRINGS (vs Spark's 64-bit shingle hashes;
    // equality at 2⁻⁶⁴ — the p04 argument) and the NOT-IN count.
    QueryDef("p84_release_novelty",
      """WITH v1 AS (SELECT doc_id, text FROM documents),
        |v2 AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 7 = 0 THEN text || ' v2' ELSE text END
        |      AS text
        |  FROM documents WHERE doc_id % 11 <> 0
        |  UNION ALL
        |  SELECT doc_id + 5000000 AS doc_id, text FROM documents
        |  WHERE doc_id % 13 = 0),
        |corpus AS (SELECT 1 AS gen, text FROM v1
        |  UNION ALL SELECT 2 AS gen, text FROM v2),
        |toks AS (SELECT gen,
        |    CASE WHEN length(regexp_replace(text, '^\s+|\s+$', '', 'g')) = 0
        |         THEN ['']
        |         ELSE string_split_regex(
        |                regexp_replace(text, '^\s+|\s+$', '', 'g'), '\s+')
        |    END AS tk
        |  FROM corpus),
        |sh AS (SELECT gen,
        |    unnest(list_distinct(CASE WHEN len(tk) < 5
        |      THEN [array_to_string(tk, chr(31))]
        |      ELSE [array_to_string(tk[i:i+4], chr(31))
        |            for i in generate_series(1, len(tk)-4)]
        |      END)) AS g
        |  FROM toks),
        |g1 AS (SELECT DISTINCT g FROM sh WHERE gen = 1),
        |g2 AS (SELECT DISTINCT g FROM sh WHERE gen = 2),
        |nn AS (SELECT count(*) AS n_new FROM g2
        |  WHERE g NOT IN (SELECT g FROM g1))
        |SELECT CAST((SELECT count(*) FROM g2) AS BIGINT) AS n_grams_v2,
        |  CAST(nn.n_new AS BIGINT) AS n_new,
        |  round(CAST(nn.n_new AS DOUBLE) /
        |    (SELECT count(*) FROM g2), 6) AS novelty_frac
        |FROM nn""".stripMargin) { (s, dir) =>
      val v1 = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val v2 = v1.filter(col("doc_id") % 11 =!= 0)
        .select(col("doc_id"),
          when(col("doc_id") % 7 === 0, concat(col("text"), lit(" v2")))
            .otherwise(col("text")).as("text"))
        .unionAll(v1.filter(col("doc_id") % 13 === 0)
          .select((col("doc_id") + 5000000L).as("doc_id"), col("text")))
      Corpus.releaseNovelty(v1, v2)
    },

    // Feature-hashed doc vectors: every ±1 sign comes from a hex digit
    // of md5(token), so the oracle replays all 16 exact-int64
    // components from the same tokenization — any divergence in
    // tokenize, hash, sign rule, or the (id, dim) rollup flips a value.
    QueryDef("p83_feature_hash_vec",
      """WITH tok AS (
        |  SELECT doc_id, unnest(string_split_regex(w, '\s+')) AS token
        |  FROM (SELECT doc_id,
        |          lower(regexp_replace(text, '^\s+|\s+$', '', 'g')) AS w
        |        FROM documents)
        |  WHERE length(w) > 0),
        |sg AS (SELECT doc_id, j,
        |    CASE WHEN substr(md5(token), CAST(j + 1 AS INT), 1)
        |      IN ('8','9','a','b','c','d','e','f')
        |    THEN 1 ELSE -1 END AS sgn
        |  FROM tok CROSS JOIN (SELECT unnest(range(0, 16)) AS j))
        |SELECT doc_id, CAST(j AS INT) AS dim,
        |  CAST(sum(sgn) AS BIGINT) AS v
        |FROM sg GROUP BY doc_id, j""".stripMargin) { (s, dir) =>
      Similarity.featureHashVectors(t(s, dir, "documents"))
    },

    // Benchmark span scrub: every 50th doc (mod 7) plays the benchmark;
    // the rest is the training corpus. The corpus' planted dup clusters
    // straddle the split, so real contaminated spans get cut; the md5
    // of the scrubbed text pins byte-exact boundaries. Oracle: same
    // window definition, membership via IN (bench window set), same
    // running-max cut as p80's mirror.
    QueryDef("p82_benchmark_scrub", benchmarkScrubSql) { (s, dir) =>
      val docs = t(s, dir, "documents")
      Dedup.benchmarkSpanRemoval(
        docs.filter(col("doc_id") % 50 =!= 7),
        docs.filter(col("doc_id") % 50 === 7))
    },

    // Winnowed (stride=4) benchmark scrub — p80w's throughput mode
    // applied to the decontamination op (the one a release pipeline
    // runs over the full train corpus): BOTH sides select winnowing
    // anchors with the same oracle-replayable polynomial hash, so the
    // DuckDB side re-derives the anchor selection for bench AND train
    // (one union CTE with a side tag), intersects anchor strings, and
    // performs the identical cut — clean_dg md5s pin every boundary.
    QueryDef("p82w_winnow_benchmark_scrub",
      """WITH d AS (SELECT doc_id, text FROM documents
        |  WHERE doc_id % 50 <> 7),
        |b AS (SELECT doc_id, text FROM documents WHERE doc_id % 50 = 7),
        |pr AS (
        |  WITH RECURSIVE p(k, v) AS (
        |    SELECT 0, CAST(1 AS HUGEINT)
        |    UNION ALL
        |    SELECT k + 1, (v * 257) % 2305843009213693951
        |    FROM p WHERE k < 49)
        |  SELECT list(v ORDER BY k) AS pl FROM p),
        |u AS (SELECT 0 AS side, doc_id, text FROM d
        |    WHERE length(text) >= 50
        |  UNION ALL SELECT 1 AS side, doc_id, text FROM b
        |    WHERE length(text) >= 50),
        |cps AS (SELECT side, doc_id, text,
        |    [CAST(unicode(c) AS HUGEINT) for c in string_split(text, '')]
        |      AS cp
        |  FROM u),
        |pos AS (SELECT side, doc_id, cp,
        |    unnest(range(0, length(text) - 49, 1)) AS st
        |  FROM cps),
        |ph AS (SELECT side, doc_id, st,
        |    CAST(list_sum([cp[CAST(st + i AS INT)] *
        |        pl[CAST(51 - i AS INT)] for i in generate_series(1, 50)])
        |      % 2305843009213693951 AS BIGINT) AS h
        |  FROM pos, pr),
        |wn AS (SELECT side, doc_id,
        |    min(CAST(h AS HUGEINT) * 4294967296 + st) OVER
        |      (PARTITION BY side, doc_id ORDER BY st
        |       ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS mk,
        |    count(*) OVER (PARTITION BY side, doc_id ORDER BY st
        |       ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS cnt
        |  FROM ph),
        |anch AS (SELECT DISTINCT side, doc_id,
        |    CAST(mk % 4294967296 AS BIGINT) AS st
        |  FROM wn WHERE cnt = 4),
        |aw AS (SELECT a.side, a.doc_id, a.st,
        |    substr(u.text, CAST(a.st AS INT) + 1, 50) AS w
        |  FROM anch a JOIN u USING (side, doc_id)),
        |bw AS (SELECT DISTINCT w FROM aw WHERE side = 1),
        |occ AS (SELECT doc_id, st FROM aw
        |  WHERE side = 0 AND w IN (SELECT w FROM bw)),
        |o2 AS (SELECT doc_id, st,
        |    coalesce(max(st + 50) OVER (PARTITION BY doc_id ORDER BY st
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS cur
        |  FROM occ),
        |agg AS (SELECT o2.doc_id,
        |    string_agg(CASE WHEN st > cur
        |      THEN substr(d.text, CAST(cur AS INT) + 1,
        |                  CAST(st - cur AS INT))
        |      ELSE '' END, '' ORDER BY st) AS head_pieces,
        |    max(st + 50) AS maxend,
        |    count(*) AS n_anchors
        |  FROM o2 JOIN d USING (doc_id) GROUP BY o2.doc_id),
        |cleaned AS (SELECT d.doc_id, length(d.text) AS orig_cp,
        |    coalesce(a.head_pieces, '')
        |      || substr(d.text, CAST(coalesce(a.maxend, 0) AS INT) + 1)
        |      AS clean,
        |    coalesce(a.n_anchors, 0) AS n_anchors
        |  FROM d LEFT JOIN agg a USING (doc_id))
        |SELECT doc_id, CAST(orig_cp AS BIGINT) AS orig_cp,
        |  CAST(length(clean) AS BIGINT) AS clean_cp,
        |  CAST(n_anchors AS BIGINT) AS n_hit_anchors,
        |  CAST(orig_cp - length(clean) AS BIGINT) AS removed_cp,
        |  md5(clean) AS clean_dg
        |FROM cleaned""".stripMargin) { (s, dir) =>
      val docs = t(s, dir, "documents")
      Dedup.benchmarkSpanRemoval(
        docs.filter(col("doc_id") % 50 =!= 7),
        docs.filter(col("doc_id") % 50 === 7),
        stride = 4)
    },

    // Domain-blocklist filter: URLs planted on every 7th doc (5 rotating
    // hosts, 2 of them blocklisted) plus a deep-subdomain URL on every
    // 11th-mod-3 doc that must match site1.example.com through TWO
    // subdomain levels. Spark matches via suffix-chain explosion +
    // broadcast equi-join; the oracle re-derives blocking with a LIKE
    // '%.'||s scan — two different mechanisms that must agree exactly,
    // including blocked_by = min matching entry and the NULL for clean
    // docs. Lookalike prefixes (notsiteN..., ...example.com.evil.com)
    // can't match either side: the explode only cuts at label
    // boundaries, the LIKE anchors the suffix end.
    QueryDef("p79_domain_blocklist",
      """WITH corpus AS (
        |  SELECT doc_id, text
        |    || CASE WHEN doc_id % 7 = 0
        |         THEN ' see https://site' || CAST(doc_id % 5 AS VARCHAR)
        |           || '.example.com/p' || CAST(doc_id AS VARCHAR)
        |         ELSE '' END
        |    || CASE WHEN doc_id % 11 = 3
        |         THEN ' ref https://deep.sub.site1.example.com/x'
        |           || ' and https://ok.org/y'
        |         ELSE '' END AS text
        |  FROM documents),
        |u AS (SELECT doc_id,
        |    unnest(regexp_extract_all(text,
        |      'https?://([A-Za-z0-9.-]+)', 1)) AS host
        |  FROM corpus),
        |m AS (SELECT doc_id, min(s) AS blocked_by
        |  FROM u, (VALUES ('site1.example.com'), ('site3.example.com'),
        |    ('badhost.net')) b(s)
        |  WHERE host = s OR host LIKE '%.' || s
        |  GROUP BY doc_id)
        |SELECT c.doc_id,
        |  CAST(len(regexp_extract_all(c.text,
        |    'https?://([A-Za-z0-9.-]+)', 1)) AS BIGINT) AS n_urls,
        |  m.blocked_by IS NOT NULL AS blocked, m.blocked_by
        |FROM corpus c LEFT JOIN m USING (doc_id)""".stripMargin) {
      (s, dir) =>
        val planted = t(s, dir, "documents").select(col("doc_id"),
          concat(col("text"),
            when(col("doc_id") % 7 === 0,
              concat(lit(" see https://site"),
                (col("doc_id") % 5).cast("string"),
                lit(".example.com/p"), col("doc_id").cast("string")))
              .otherwise(lit("")),
            when(col("doc_id") % 11 === 3,
              lit(" ref https://deep.sub.site1.example.com/x" +
                " and https://ok.org/y"))
              .otherwise(lit(""))).as("text"))
        Corpus.domainBlocklist(planted,
          Seq("site1.example.com", "site3.example.com", "badhost.net"))
    },

    // Unsafe-wordlist page filter (C4 bad-words rule): placeholder
    // blockwords are planted with punctuation, case variants, and
    // repeats (multiset hits), plus two lookalikes that MUST NOT match
    // ("quuxly-ish" — internal hyphen survives the edge-strip;
    // "zorblaxxy" — token equality, not substring). The oracle replays
    // the identical tokenize → edge-punct-strip → casefold → list
    // probe in DuckDB (RE2 [[:punct:]] == Java \p{Punct} == ASCII
    // punctuation; both engines strip ALL edge runs via the 'g' flag /
    // Java's replace-all default).
    QueryDef("p101_unsafe_words",
      """WITH corpus AS (
        |  SELECT doc_id, text
        |    || CASE WHEN doc_id % 13 = 0 THEN ' Zorblax.' ELSE '' END
        |    || CASE WHEN doc_id % 17 = 2
        |         THEN ' Fnord fnord FNORD!' ELSE '' END
        |    || CASE WHEN doc_id % 29 = 5
        |         THEN ' quuxly-ish zorblaxxy (quuxly)' ELSE '' END AS text
        |  FROM documents),
        |toks AS (SELECT doc_id,
        |    CASE WHEN length(regexp_replace(text, '^\s+|\s+$', '', 'g')) = 0
        |         THEN CAST([] AS VARCHAR[])
        |         ELSE list_transform(string_split_regex(
        |                regexp_replace(text, '^\s+|\s+$', '', 'g'), '\s+'),
        |              t -> lower(regexp_replace(t,
        |                '^[[:punct:]]+|[[:punct:]]+$', '', 'g')))
        |    END AS tk
        |  FROM corpus),
        |st AS (SELECT doc_id, len(tk) AS n_tokens,
        |    len(list_filter(tk, t -> list_contains(
        |      ['zorblax', 'fnord', 'quuxly'], t))) AS bad_hits,
        |    len(list_intersect(list_distinct(tk),
        |      ['zorblax', 'fnord', 'quuxly'])) AS bad_distinct
        |  FROM toks)
        |SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
        |  CAST(bad_hits AS BIGINT) AS bad_hits,
        |  CAST(bad_distinct AS BIGINT) AS bad_distinct,
        |  ROUND(CASE WHEN n_tokens = 0 THEN 0.0
        |    ELSE CAST(bad_hits AS DOUBLE) / n_tokens END, 6) AS bad_frac,
        |  bad_hits > 0 AS flagged
        |FROM st""".stripMargin) { (s, dir) =>
      val planted = t(s, dir, "documents").select(col("doc_id"),
        concat(col("text"),
          when(col("doc_id") % 13 === 0, lit(" Zorblax."))
            .otherwise(lit("")),
          when(col("doc_id") % 17 === 2, lit(" Fnord fnord FNORD!"))
            .otherwise(lit("")),
          when(col("doc_id") % 29 === 5,
            lit(" quuxly-ish zorblaxxy (quuxly)"))
            .otherwise(lit(""))).as("text"))
      TextAnalysis.unsafeWordStats(planted,
        Seq("zorblax", "fnord", "quuxly"))
    },

    // Crawl URL canonicalization: cosmetic variants of the same page URL
    // are planted across distinct doc sets — uppercase host + default
    // :443 port + tracking params + fragment + slash-before-query on one
    // arm, the clean form on the other; an http :80 + trailing-slash
    // pair on a second host — and the canonicalizer must collapse each
    // pair to ONE url. The oracle replays the identical rewrite chain in
    // RE2 (classes + bounded repetition only; '\1' vs '$1' is the only
    // dialect difference). The oracle SQL and the plant expression are
    // shared with s21 (streaming URL-index maintenance), whose
    // accumulated store must equal this batch relation exactly.
    QueryDef("p102_url_canonicalize", urlCanonSql) { (s, dir) =>
      Corpus.canonicalUrls(urlPlanted(t(s, dir, "documents")))
    },

    // Fixed-k per-source deterministic sample: ranks are md5-derived so
    // the oracle's ROW_NUMBER window (fine at oracle scale) and the
    // bounded-heap aggregate (the shape that survives a dominant source
    // at 100 TB) must produce the identical (source, rank, doc_id)
    // table. 13-hex scores are double-exact, so heap order == int order.
    QueryDef("p103_source_sample",
      """WITH h AS (SELECT source, doc_id,
        |    CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 13)
        |      AS BIGINT) AS hv
        |  FROM documents),
        |r AS (SELECT source, doc_id,
        |    ROW_NUMBER() OVER (PARTITION BY source ORDER BY hv, doc_id)
        |      AS rank
        |  FROM h)
        |SELECT source, CAST(rank AS BIGINT) AS rank, doc_id
        |FROM r WHERE rank <= 50""".stripMargin) { (s, dir) =>
      Corpus.perSourceSample(t(s, dir, "documents"), k = 50)
    },

    // Near-dup threshold calibration: sweep counts over the SAME verified
    // pair table p02 gates (one LSH pass at the loosest threshold), so
    // the oracle reuses p02's exact-Jaccard pair CTE and re-filters per
    // threshold. Comparisons run on the rounded jaccard in BOTH engines.
    QueryDef("p104_threshold_calibration",
      s"""WITH $corpusSql,
         |$shingleSql,
         |pairs AS (
         |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         |    CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) /
         |      len(list_distinct(list_concat(a.s, b.s))) AS j
         |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id),
         |p AS (SELECT id_b, round(j, 6) AS jaccard
         |      FROM pairs WHERE j >= 0.5)
         |SELECT CAST(t.threshold AS DOUBLE) AS threshold,
         |  CAST(count(*) AS BIGINT) AS n_pairs,
         |  CAST(count(DISTINCT id_b) AS BIGINT) AS n_docs_removed
         |FROM p, (VALUES (0.5), (0.6), (0.7), (0.8), (0.9)) t(threshold)
         |WHERE p.jaccard >= t.threshold
         |GROUP BY 1""".stripMargin) { (s, dir) =>
      Dedup.thresholdCalibration(
        Dedup.minhashPairs(docsWithPlants(s, dir), "doc_id", "text",
          k = 64, bands = 16, threshold = 0.5),
        Seq(0.5, 0.6, 0.7, 0.8, 0.9))
    },

    // Canary-string audit: three marker strings planted across the
    // corpus, one doc set carrying a DOUBLE occurrence (the occurrence
    // arithmetic must count copies, not docs). Containment is raw
    // substring (strpos / instr) — no tokenization — and the oracle
    // replays the plant + the length-difference occurrence count.
    QueryDef("p105_canary_audit",
      """WITH corpus AS (
        |  SELECT doc_id, source, text
        |    || CASE WHEN doc_id % 37 = 1
        |         THEN ' CANARY-' || CAST(doc_id % 3 AS VARCHAR) || '-f00d'
        |         ELSE '' END
        |    || CASE WHEN doc_id % 41 = 2
        |         THEN ' CANARY-0-f00d CANARY-0-f00d' ELSE '' END AS text
        |  FROM documents),
        |hits AS (SELECT c.canary, doc_id, source,
        |    (length(text) - length(replace(text, c.canary, '')))
        |      // length(c.canary) AS n
        |  FROM corpus, (VALUES ('CANARY-0-f00d'), ('CANARY-1-f00d'),
        |    ('CANARY-2-f00d')) c(canary)
        |  WHERE strpos(text, c.canary) > 0)
        |SELECT canary, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(n) AS BIGINT) AS n_occurrences,
        |  CAST(count(DISTINCT source) AS BIGINT) AS n_sources
        |FROM hits GROUP BY 1""".stripMargin) { (s, dir) =>
      val planted = t(s, dir, "documents").select(col("doc_id"),
        col("source"),
        concat(col("text"),
          when(col("doc_id") % 37 === 1,
            concat(lit(" CANARY-"), (col("doc_id") % 3).cast("string"),
              lit("-f00d"))).otherwise(lit("")),
          when(col("doc_id") % 41 === 2,
            lit(" CANARY-0-f00d CANARY-0-f00d")).otherwise(lit("")))
          .as("text"))
      TextAnalysis.canaryHits(planted,
        Seq("CANARY-0-f00d", "CANARY-1-f00d", "CANARY-2-f00d"))
    },

    // Per-source dedup savings: the corpus' own planted exact-dup
    // clusters give real savings numbers; the oracle replays digest →
    // keep-lowest-id → per-source doc/token rollup with the shared
    // whitespace token count.
    QueryDef("p106_dedup_savings",
      """WITH tk AS (SELECT doc_id, source, md5(text) AS dg,
        |    CASE WHEN length(regexp_replace(text, '^\s+|\s+$', '', 'g')) = 0
        |         THEN 0
        |         ELSE len(string_split_regex(
        |           regexp_replace(text, '^\s+|\s+$', '', 'g'), '\s+')) END
        |      AS nt
        |  FROM documents),
        |k AS (SELECT dg, min(doc_id) AS keep_id FROM tk GROUP BY 1)
        |SELECT source, CAST(count(*) AS BIGINT) AS docs_total,
        |  CAST(sum(CASE WHEN doc_id = keep_id THEN 1 ELSE 0 END) AS BIGINT)
        |    AS docs_kept,
        |  CAST(sum(nt) AS BIGINT) AS tokens_total,
        |  CAST(sum(CASE WHEN doc_id = keep_id THEN nt ELSE 0 END) AS BIGINT)
        |    AS tokens_kept,
        |  ROUND(1.0 -
        |    CAST(sum(CASE WHEN doc_id = keep_id THEN nt ELSE 0 END)
        |      AS DOUBLE) / sum(nt), 6) AS token_savings
        |FROM tk JOIN k USING (dg) GROUP BY 1""".stripMargin) { (s, dir) =>
      Corpus.dedupSavings(t(s, dir, "documents"))
    },

    // Sharded-profile merge gate: the oracle recomputes the exact
    // distinct counts and asserts the two sketch booleans (merged
    // union ≈ whole-corpus sketch; estimate within 5% of exact) that
    // the engine computes from real HLL sketches. Oracle shared with
    // s22, whose per-BATCH sketch store must satisfy the same gate.
    QueryDef("p107_profile_merge", profileMergeSql) { (s, dir) =>
      Corpus.shardedProfileGate(t(s, dir, "documents"),
        Seq("doc_id", "lang", "source"))
    },

    // Marginal novelty in corpus order: the corpus' planted dup clusters
    // make late copies score ~0 while their first member scores high.
    // Spark counts via 64-bit shingle hashes, the oracle via string
    // shingles — identical counts absent xxhash64 collisions (≈1e-10 at
    // gate scale; the p02 hash-vs-string pattern).
    QueryDef("p108_novelty_contribution",
      s"""WITH corpus AS (SELECT doc_id, text FROM documents),
         |$shingleSql,
         |e AS (SELECT doc_id, unnest(s) AS g FROM sh),
         |f AS (SELECT g, min(doc_id) AS first_id FROM e GROUP BY 1)
         |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_shingles,
         |  CAST(sum(CASE WHEN first_id = doc_id THEN 1 ELSE 0 END)
         |    AS BIGINT) AS n_novel,
         |  ROUND(CAST(sum(CASE WHEN first_id = doc_id THEN 1 ELSE 0 END)
         |    AS DOUBLE) / count(*), 6) AS novelty_frac
         |FROM e JOIN f USING (g) GROUP BY 1""".stripMargin) { (s, dir) =>
      Corpus.noveltyContribution(t(s, dir, "documents"))
    },

    // Code-vs-prose router: an 8-line code block (7 `;`/`{`/`}` line
    // endings, 7 keyword tokens) is planted on one doc set — those docs
    // must trip ≥2 of 5 votes regardless of how much prose precedes the
    // block (the absolute n_code_lines signal exists exactly for that);
    // unplanted prose stays below. The oracle replays every signal:
    // chr(10) line split, RE2 line-ending/indent classes, the tokenize
    // mirror for keyword hits, symbol-class density.
    QueryDef("p109_code_detect",
      """WITH corpus AS (
        |  SELECT doc_id, text || CASE WHEN doc_id % 23 = 4
        |    THEN chr(10) || 'function calc(x) {'
        |      || chr(10) || '  var y = x + 1;'
        |      || chr(10) || '  return y * 2;'
        |      || chr(10) || '}'
        |      || chr(10) || 'import os'
        |      || chr(10) || 'class Foo {'
        |      || chr(10) || '  public int z = 3;'
        |      || chr(10) || '}'
        |    ELSE '' END AS text
        |  FROM documents),
        |s AS (SELECT doc_id,
        |    string_split(text, chr(10)) AS ln,
        |    CASE WHEN length(regexp_replace(text, '^\s+|\s+$', '', 'g')) = 0
        |         THEN CAST([] AS VARCHAR[])
        |         ELSE string_split_regex(
        |           regexp_replace(text, '^\s+|\s+$', '', 'g'), '\s+')
        |    END AS tk,
        |    length(text) AS nc,
        |    length(text) - length(regexp_replace(text,
        |      '[(){};=<>]', '', 'g')) AS nsym
        |  FROM corpus),
        |g AS (SELECT doc_id,
        |    len(ln) AS n_lines,
        |    len(list_filter(ln, l -> regexp_matches(l, '[;{}]\s*$')))
        |      AS n_code,
        |    len(list_filter(ln, l -> regexp_matches(l, '^(  |\t)')))
        |      AS n_indent,
        |    len(list_filter(tk, t -> list_contains(
        |      ['function', 'var', 'return', 'import', 'class',
        |       'public', 'def', 'const', 'void', 'int'], t))) AS kw,
        |    CASE WHEN nc = 0 THEN 0.0
        |         ELSE CAST(nsym AS DOUBLE) / nc END AS symden
        |  FROM s),
        |v AS (SELECT doc_id, n_lines, n_code, kw, symden,
        |    CAST(CAST(n_code AS DOUBLE) / n_lines >= 0.3 AS BIGINT)
        |    + CAST(n_code >= 5 AS BIGINT)
        |    + CAST(CAST(n_indent AS DOUBLE) / n_lines >= 0.25 AS BIGINT)
        |    + CAST(kw >= 3 AS BIGINT)
        |    + CAST(symden >= 0.05 AS BIGINT) AS votes
        |  FROM g)
        |SELECT doc_id, CAST(n_lines AS BIGINT) AS n_lines,
        |  CAST(n_code AS BIGINT) AS n_code_lines,
        |  CAST(kw AS BIGINT) AS kw_hits,
        |  ROUND(symden, 6) AS sym_density,
        |  votes AS code_votes, votes >= 2 AS is_code
        |FROM v""".stripMargin) { (s, dir) =>
      val codeBlock = "\nfunction calc(x) {\n  var y = x + 1;" +
        "\n  return y * 2;\n}\nimport os\nclass Foo {" +
        "\n  public int z = 3;\n}"
      val planted = t(s, dir, "documents").select(col("doc_id"),
        concat(col("text"),
          when(col("doc_id") % 23 === 4, lit(codeBlock))
            .otherwise(lit(""))).as("text"))
      TextAnalysis.codeSignals(planted)
    },

    // Unicode script profile: a multilingual corpus is synthesized by
    // appending a per-doc repeated snippet in one of four non-Latin
    // scripts (repeat factor 1..40, so dominance actually flips on the
    // longer plants — all five dominant branches are live). Counts come
    // from the native one-pass ScriptCounts expression; the oracle
    // re-counts every class with RE2 literal-range character classes
    // (numerically identical BMP intervals) and mirrors the greatest()
    // + fixed-priority CASE verbatim. All counts exact int64; the one
    // double (script_frac) is a division of exact ints + ROUND 6.
    QueryDef("p78_script_profile",
      """WITH corpus AS (
        |  SELECT doc_id, text || ' ' || repeat(
        |    CASE doc_id % 4
        |      WHEN 0 THEN 'مرحبا بالعالم '
        |      WHEN 1 THEN 'привет мир '
        |      WHEN 2 THEN '你好世界おはよう '
        |      ELSE 'αβγδ εζη 123 ' END,
        |    CAST(1 + doc_id % 40 AS INT)) AS text
        |  FROM documents),
        |c AS (SELECT doc_id,
        |    length(text) AS n_cp,
        |    length(regexp_replace(text,
        |      '[^A-Za-z\x{00C0}-\x{024F}]', '', 'g')) AS latin_n,
        |    length(regexp_replace(text,
        |      '[^\x{0400}-\x{04FF}]', '', 'g')) AS cyrillic_n,
        |    length(regexp_replace(text,
        |      '[^\x{0370}-\x{03FF}]', '', 'g')) AS greek_n,
        |    length(regexp_replace(text,
        |      '[^\x{4E00}-\x{9FFF}\x{3040}-\x{30FF}]', '', 'g')) AS cjk_n,
        |    length(regexp_replace(text,
        |      '[^\x{0600}-\x{06FF}]', '', 'g')) AS arabic_n,
        |    length(regexp_replace(text, '[^0-9]', '', 'g')) AS digit_n
        |  FROM corpus),
        |m AS (SELECT *,
        |    greatest(latin_n, cyrillic_n, greek_n, cjk_n, arabic_n) AS mx
        |  FROM c)
        |SELECT doc_id, CAST(n_cp AS BIGINT) AS n_cp,
        |  CAST(latin_n AS BIGINT) AS latin_n,
        |  CAST(cyrillic_n AS BIGINT) AS cyrillic_n,
        |  CAST(greek_n AS BIGINT) AS greek_n,
        |  CAST(cjk_n AS BIGINT) AS cjk_n,
        |  CAST(arabic_n AS BIGINT) AS arabic_n,
        |  CAST(digit_n AS BIGINT) AS digit_n,
        |  CASE WHEN mx = 0 THEN 'other'
        |       WHEN latin_n = mx THEN 'latin'
        |       WHEN cyrillic_n = mx THEN 'cyrillic'
        |       WHEN greek_n = mx THEN 'greek'
        |       WHEN cjk_n = mx THEN 'cjk'
        |       ELSE 'arabic' END AS dominant,
        |  CASE WHEN n_cp = 0 THEN 0.0
        |       ELSE round((latin_n + cyrillic_n + greek_n + cjk_n
        |         + arabic_n) / CAST(n_cp AS DOUBLE), 6) END AS script_frac
        |FROM m""".stripMargin) { (s, dir) =>
      val planted = t(s, dir, "documents").select(col("doc_id"),
        concat(col("text"), lit(" "),
          expr("""repeat(CASE CAST(doc_id % 4 AS INT)
            WHEN 0 THEN 'مرحبا بالعالم '
            WHEN 1 THEN 'привет мир '
            WHEN 2 THEN '你好世界おはよう '
            ELSE 'αβγδ εζη 123 ' END,
            CAST(1 + doc_id % 40 AS INT))""")).as("text"))
      TextAnalysis.scriptProfile(planted)
    },

    // HTML extraction: synthetic pages wrap each document in a template
    // with nav links, script/style blocks, and entities; the md5 of the
    // extracted text is the gate (byte-exact extraction parity), plus
    // link count and density. The oracle runs the IDENTICAL regex
    // pipeline — patterns chosen inside the Java∩RE2 intersection.
    QueryDef("p75_html_extract",
      """WITH pages AS (
        |  SELECT doc_id,
        |    '<html><head><style>p{color:red}</style>' ||
        |    '<script>var x=1;</script></head><body>' ||
        |    '<nav><a href="/">Home</a> | <a href="/a">About</a></nav>' ||
        |    '<p>' || text || '</p>' ||
        |    '<footer>Contact us &amp; &lt;3 &nbsp;</footer>' ||
        |    '</body></html>' AS html
        |  FROM documents),
        |x AS (
        |  SELECT doc_id, html,
        |    trim(regexp_replace(
        |      replace(replace(replace(replace(
        |        regexp_replace(
        |          regexp_replace(
        |            regexp_replace(html, '(?s)<script[^>]*>.*?</script>',
        |              '', 'g'),
        |            '(?s)<style[^>]*>.*?</style>', '', 'g'),
        |          '<[^>]*>', ' ', 'g'),
        |        '&nbsp;', ' '), '&lt;', '<'), '&gt;', '>'),
        |        '&amp;', '&'),
        |      '\s+', ' ', 'g')) AS clean
        |  FROM pages)
        |SELECT doc_id, md5(clean) AS dg,
        |  CAST(length(clean) AS BIGINT) AS clean_len,
        |  CAST((length(html) - length(replace(html, '<a ', ''))) // 3
        |    AS BIGINT) AS n_links,
        |  round((length(html) - length(replace(html, '<a ', ''))) / 3
        |    * 1.0 / greatest(length(clean), 1), 6) AS link_density
        |FROM x""".stripMargin) { (s, dir) =>
      val page = concat(
        lit("<html><head><style>p{color:red}</style>" +
          "<script>var x=1;</script></head><body>" +
          "<nav><a href=\"/\">Home</a> | <a href=\"/a\">About</a></nav>" +
          "<p>"), col("text"),
        lit("</p><footer>Contact us &amp; &lt;3 &nbsp;</footer>" +
          "</body></html>"))
      val docs = t(s, dir, "documents").select(col("doc_id"),
        page.as("html"))
      val clean = TextAnalysis.htmlMainText(col("html"))
      val nLinks = ((length(col("html")) -
        length(regexp_replace(col("html"), "<a ", ""))) / 3).cast("long")
      docs.select(col("doc_id"), md5(clean).as("dg"),
        length(clean).cast("long").as("clean_len"),
        nLinks.as("n_links"),
        round(nLinks * 1.0 /
          greatest(length(clean), lit(1)), 6).as("link_density"))
    },

    // Per-language OOV rate vs the p21 top-100 vocabulary — deterministic
    // vocab cut (count desc, token asc; unique pairs → unique boundary).
    QueryDef("p77_oov_by_lang",
      """WITH toks AS (
        |  SELECT lang,
        |    CASE WHEN length(regexp_replace(text, '^\s+|\s+$', '', 'g'))
        |           = 0 THEN CAST([] AS VARCHAR[])
        |         ELSE string_split_regex(
        |           lower(regexp_replace(text, '^\s+|\s+$', '', 'g')),
        |           '\s+')
        |    END AS tk
        |  FROM documents),
        |tok AS (SELECT lang, unnest(tk) AS t FROM toks),
        |v AS (SELECT t AS token FROM tok GROUP BY 1
        |      ORDER BY count(*) DESC, token LIMIT 100)
        |SELECT lang, CAST(count(*) AS BIGINT) AS n_tokens,
        |  CAST(sum(CASE WHEN t IN (SELECT token FROM v) THEN 0 ELSE 1
        |    END) AS BIGINT) AS n_oov,
        |  round(sum(CASE WHEN t IN (SELECT token FROM v) THEN 0 ELSE 1
        |    END) * 1.0 / count(*), 6) AS oov_rate
        |FROM tok GROUP BY lang""".stripMargin) { (s, dir) =>
      Corpus.oovRateByLang(
        t(s, dir, "documents").select("lang", "text"))
    },

    // End-to-end ingest pipeline: raw HTML pages → main-text extraction
    // (p75) → quality cascade (p67 rules on the EXTRACTED text) → exact
    // dedup → one summary row. The capstone composition a crawl
    // pipeline runs as a single DAG — each stage narrow until the final
    // digest distinct; the oracle replays every stage inline.
    QueryDef("p76_ingest_pipeline",
      """WITH pages AS (
        |  SELECT doc_id, lang,
        |    '<html><head><style>p{color:red}</style>' ||
        |    '<script>var x=1;</script></head><body>' ||
        |    '<nav><a href="/">Home</a> | <a href="/a">About</a></nav>' ||
        |    '<p>' || text || '</p>' ||
        |    '<footer>Contact us &amp; &lt;3 &nbsp;</footer>' ||
        |    '</body></html>' AS html
        |  FROM documents),
        |x AS (
        |  SELECT doc_id, lang,
        |    trim(regexp_replace(
        |      replace(replace(replace(replace(
        |        regexp_replace(
        |          regexp_replace(
        |            regexp_replace(html, '(?s)<script[^>]*>.*?</script>',
        |              '', 'g'),
        |            '(?s)<style[^>]*>.*?</style>', '', 'g'),
        |          '<[^>]*>', ' ', 'g'),
        |        '&nbsp;', ' '), '&lt;', '<'), '&gt;', '>'),
        |        '&amp;', '&'),
        |      '\s+', ' ', 'g')) AS clean
        |  FROM pages),
        |m AS (
        |  SELECT doc_id, clean,
        |    CASE WHEN length(regexp_replace(clean, '^\s+|\s+$', '', 'g'))
        |           = 0 THEN 0
        |         ELSE len(string_split_regex(
        |           regexp_replace(clean, '^\s+|\s+$', '', 'g'), '\s+'))
        |    END AS nt,
        |    length(clean) AS nc,
        |    CASE WHEN length(clean) = 0 THEN 0.0
        |         ELSE (length(clean) -
        |           length(regexp_replace(clean, '[A-Za-z]', '', 'g')))
        |           * 1.0 / length(clean) END AS alpha,
        |    CAST(len(string_split(clean, chr(10))) -
        |      len(list_distinct(string_split(clean, chr(10)))) AS DOUBLE)
        |      / len(string_split(clean, chr(10))) AS dlf,
        |    lang
        |  FROM x),
        |k AS (
        |  SELECT doc_id, clean, nc FROM m
        |  WHERE NOT (nt < 15) AND NOT (dlf > 0.3) AND NOT (nc > 500)
        |    AND NOT (alpha < 0.81) AND lang IN ('en', 'de', 'fr', 'es')),
        |u AS (SELECT DISTINCT md5(clean) AS dg, nc FROM k)
        |SELECT CAST((SELECT count(*) FROM pages) AS BIGINT) AS n_input,
        |  CAST((SELECT count(*) FROM k) AS BIGINT) AS n_kept,
        |  CAST((SELECT count(*) FROM u) AS BIGINT) AS n_unique,
        |  CAST((SELECT coalesce(sum(nc), 0) FROM u) AS BIGINT)
        |    AS chars_unique""".stripMargin) { (s, dir) =>
      val page = concat(
        lit("<html><head><style>p{color:red}</style>" +
          "<script>var x=1;</script></head><body>" +
          "<nav><a href=\"/\">Home</a> | <a href=\"/a\">About</a></nav>" +
          "<p>"), col("text"),
        lit("</p><footer>Contact us &amp; &lt;3 &nbsp;</footer>" +
          "</body></html>"))
      val pages = t(s, dir, "documents").select(col("doc_id"),
        col("lang"), page.as("html"))
      val extracted = pages.select(col("doc_id"), col("lang"),
        TextAnalysis.htmlMainText(col("html")).as("clean"))
      val cascaded = TextAnalysis.qualityCascade(extracted,
        textCol = "clean")
      val kept = extracted.join(
        cascaded.filter(col("reason") === "keep").select("doc_id"),
        Seq("doc_id"))
      val uniq = kept
        .select(md5(col("clean")).as("dg"),
          length(col("clean")).cast("long").as("nc"))
        .distinct()
      pages.agg(count(lit(1)).as("n_input"))
        .crossJoin(kept.agg(count(lit(1)).as("n_kept")))
        .crossJoin(uniq.agg(count(lit(1)).as("n_unique"),
          coalesce(sum("nc"), lit(0L)).as("chars_unique")))
    },

    // Duplication histogram (the dedup-CDF figure): cluster sizes from
    // digest counts, log10-binned by digit count (exact integer binning,
    // p71's rule) so the output stays ≤ ~6 rows however big the corpus —
    // planted 10-copy clusters light up the multi-digit bins. Reads:
    // "how much of the corpus sits in how-big duplicate clusters".
    QueryDef("p74_dup_histogram",
      """WITH corpus AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 4000000 + k * 1000000 AS doc_id, text
        |  FROM documents CROSS JOIN (SELECT unnest(range(9)) AS k)
        |  WHERE doc_id % 50 = 0),
        |cl AS (SELECT md5(text) AS dg, count(*) AS sz FROM corpus
        |       GROUP BY 1)
        |SELECT CAST(length(CAST(sz AS VARCHAR)) AS BIGINT)
        |    AS size_digits,
        |  CAST(count(*) AS BIGINT) AS n_clusters,
        |  CAST(sum(sz) AS BIGINT) AS n_docs
        |FROM cl GROUP BY 1""".stripMargin) { (s, dir) =>
      val docs = t(s, dir, "documents").select("doc_id", "text")
      val copies = docs.filter(col("doc_id") % 50 === 0)
        .crossJoin(s.range(9).select(col("id").as("k")))
        .select((col("doc_id") + 4000000L + col("k") * 1000000L)
          .as("doc_id"), col("text"))
      val corpus = docs.unionAll(copies)
      corpus.select(md5(col("text")).as("dg"))
        .groupBy("dg").agg(count(lit(1)).as("sz"))
        .select(length(col("sz").cast("string")).cast("long")
          .as("size_digits"), col("sz"))
        .groupBy("size_digits")
        .agg(count(lit(1)).as("n_clusters"), sum("sz").as("n_docs"))
    },

    QueryDef("p02_dedup_minhash", minhashPairsSql) { (s, dir) =>
      Dedup.minhashPairs(docsWithPlants(s, dir), "doc_id", "text",
        k = 64, bands = 16, threshold = 0.5)
        .orderBy("id_a", "id_b")
    },

    // DuckDB cannot recompute simhash, but it can gate the INVARIANT (the
    // p17 boolean pattern): the chunk-pigeonhole LSH must find exactly the
    // pairs an exhaustive all-pairs hamming scan finds — computed in-engine
    // at gate scale, asserted `true` by the oracle — plus corpus counts the
    // oracle recomputes for real.
    QueryDef("p03_dedup_simhash",
      """WITH c AS (
        |  SELECT doc_id FROM documents
        |  UNION ALL
        |  SELECT doc_id + 1000000 FROM documents WHERE doc_id % 10 = 0)
        |SELECT CAST(count(*) AS BIGINT) AS n_corpus_docs,
        |  CAST(count(*) FILTER (doc_id >= 1000000) AS BIGINT)
        |    AS n_planted_docs,
        |  true AS lsh_equals_brute
        |FROM c""".stripMargin) { (s, dir) =>
      val corpus = docsWithPlants(s, dir)
      val lshPairs = Dedup.simhashPairs(corpus, "doc_id", "text",
        maxHamming = 3).select("id_a", "id_b")
      // exhaustive ground truth over the (tiny) signature table — gate-
      // scale verification only; production uses the pigeonhole join
      val sig = corpus.select(col("doc_id").as("id"),
        Dedup.simhash(col("text")).as("sig"))
      val brute = sig.select(col("id").as("id_a"), col("sig").as("sig_a"))
        .crossJoin(sig.select(col("id").as("id_b"), col("sig").as("sig_b")))
        .filter(col("id_a") < col("id_b"))
        .filter(bit_count(col("sig_a").bitwiseXOR(col("sig_b"))) <= 3)
        .select("id_a", "id_b")
      val nDiff = brute.except(lshPairs).unionAll(lshPairs.except(brute))
        .agg(count(lit(1)).as("n_diff"))
      corpus.agg(
        count(lit(1)).as("n_corpus_docs"),
        sum(when(col("doc_id") >= 1000000, 1).otherwise(0)).cast("long")
          .as("n_planted_docs"))
        .crossJoin(nDiff)
        .select(col("n_corpus_docs"), col("n_planted_docs"),
          (col("n_diff") === 0).as("lsh_equals_brute"))
    },

    // exhaustive char-4-gram Jaccard in DuckDB; the size-ratio join guard
    // is lossless (j >= 0.5 needs |A|,|B| within 2x) and halves the work
    QueryDef("p04_dedup_ngram",
      s"""WITH $corpusSql,
         |grams AS (
         |  SELECT doc_id,
         |    list_distinct([text[i:i+3]
         |      for i in generate_series(1, greatest(length(text)-3, 1))]) AS g
         |  FROM corpus),
         |pairs AS (
         |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         |    CAST(len(list_intersect(a.g, b.g)) AS DOUBLE) /
         |      len(list_distinct(list_concat(a.g, b.g))) AS j
         |  FROM grams a JOIN grams b
         |    ON a.doc_id < b.doc_id
         |   AND len(a.g) <= 2 * len(b.g) AND len(b.g) <= 2 * len(a.g))
         |SELECT id_a, id_b, round(j, 6) AS jaccard
         |FROM pairs WHERE j >= 0.5""".stripMargin) { (s, dir) =>
      Dedup.ngramJaccardPairs(docsWithPlants(s, dir), "doc_id", "text",
        n = 4, threshold = 0.5)
        .orderBy("id_a", "id_b")
    },

    // exhaustive all-pairs cosine in DuckDB over the same planted corpus
    // (the p02/p04 pattern): float scaling is IEEE-identical in both
    // engines, cosine matches after ROUND 6 (proven by p06), so the
    // oracle proves the banded hyperplane LSH candidate stage recalled
    // every above-threshold pair IN THIS CORPUS. That is a property of
    // the data as well as the code: 8-band × 16-row LSH recall at the
    // 0.98 boundary is ~0.97 in expectation, so a borderline pair could
    // redden the gate without any defect — the plants sit at cosine ≈
    // 0.998 where per-band agreement is effectively 1, and the driver
    // corpus has no natural pairs near the threshold.
    QueryDef("p05_dedup_embed",
      """WITH corpus AS (
        |  SELECT vec_id, embedding FROM embeddings
        |  UNION ALL
        |  SELECT vec_id + 1000000 AS vec_id,
        |    list_transform(embedding,
        |      x -> CAST(x * CAST(1.001 AS FLOAT) AS FLOAT)) AS embedding
        |  FROM embeddings WHERE vec_id % 25 = 0),
        |pairs AS (
        |  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        |    ROUND(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
        |                                 CAST(b.embedding AS DOUBLE[])), 6)
        |      AS cos
        |  FROM corpus a JOIN corpus b ON a.vec_id < b.vec_id)
        |SELECT id_a, id_b, cos FROM pairs WHERE cos >= 0.98""".stripMargin) {
      (s, dir) =>
        Similarity.embeddingNearDupPairs(vecsWithPlants(s, dir),
          threshold = 0.98, bands = 8, rowsPerBand = 16)
          .orderBy("id_a", "id_b")
    },

    // exact-dedup materialization: corpus with only the kept rows
    QueryDef("p16_dedup_materialize",
      """SELECT d.doc_id, d.lang, d.source FROM documents d
        |JOIN (SELECT md5(text) AS h, MIN(doc_id) AS keep FROM documents
        |      GROUP BY 1) k
        |  ON d.doc_id = k.keep""".stripMargin) { (s, dir) =>
      val docs = t(s, dir, "documents")
      val keep = Dedup.exact(docs, "doc_id", "text")
        .select(col("keep_id").as("doc_id"))
      docs.join(keep, Seq("doc_id"), "left_semi")
        .select("doc_id", "lang", "source")
    },

    // sketch-based distinct counting (HLL++). The sketch estimate itself
    // is engine-specific, so the gated columns are the exact counts plus
    // within-5%-of-exact booleans: DuckDB asserts `true`, and the Spark
    // side computes them for real — if the HLL++ estimate ever drifted
    // past its rsd bound the gate goes red.
    QueryDef("p17_approx_distinct",
      """SELECT CAST(count(DISTINCT l_partkey) AS BIGINT) AS exact_parts,
        |  CAST(count(DISTINCT l_suppkey) AS BIGINT) AS exact_supps,
        |  true AS approx_parts_ok, true AS approx_supps_ok
        |FROM lineitem""".stripMargin) { (s, dir) =>
      def within5pct(approx: Column, exact: Column): Column =
        abs(approx.cast("double") - exact) <= exact * 0.05
      t(s, dir, "lineitem").agg(
        count_distinct(col("l_partkey")).as("exact_parts"),
        count_distinct(col("l_suppkey")).as("exact_supps"),
        approx_count_distinct(col("l_partkey")).as("ap"),
        approx_count_distinct(col("l_suppkey")).as("as_"))
        .select(col("exact_parts"), col("exact_supps"),
          within5pct(col("ap"), col("exact_parts")).as("approx_parts_ok"),
          within5pct(col("as_"), col("exact_supps")).as("approx_supps_ok"))
    },

    // Mergeable quantile sketch vs exact percentiles (the p17 boolean
    // pattern): approx_percentile is a partial-aggregatable GK sketch —
    // the 100 TB story is sketch-merge across executors instead of a
    // global sort. Exact percentiles run over integer cents so the
    // quarter-fraction interpolation is identical IEEE math in Spark and
    // DuckDB; the oracle recomputes those and asserts the sketch's 1%
    // bound as a literal true.
    QueryDef("p27_approx_quantiles",
      """SELECT
        |  CAST(quantile_cont(CAST(ROUND(l_extendedprice * 100) AS BIGINT),
        |    0.5) / 100.0 AS DOUBLE) AS p50,
        |  CAST(quantile_cont(CAST(ROUND(l_extendedprice * 100) AS BIGINT),
        |    0.9) / 100.0 AS DOUBLE) AS p90,
        |  CAST(quantile_cont(CAST(ROUND(l_extendedprice * 100) AS BIGINT),
        |    0.99) / 100.0 AS DOUBLE) AS p99,
        |  true AS approx_within_1pct
        |FROM lineitem""".stripMargin) { (s, dir) =>
      val cents = round(col("l_extendedprice") * 100).cast("bigint")
      t(s, dir, "lineitem").select(cents.as("c"))
        .agg(
          expr("percentile(c, 0.5)").as("e50"),
          expr("percentile(c, 0.9)").as("e90"),
          expr("percentile(c, 0.99)").as("e99"),
          expr("approx_percentile(c, array(0.5D, 0.9D, 0.99D), 10000)")
            .as("ap"))
        .select(
          (col("e50") / 100.0).as("p50"),
          (col("e90") / 100.0).as("p90"),
          (col("e99") / 100.0).as("p99"),
          (abs(col("ap").getItem(0) - col("e50")) <= col("e50") * 0.01 &&
            abs(col("ap").getItem(1) - col("e90")) <= col("e90") * 0.01 &&
            abs(col("ap").getItem(2) - col("e99")) <= col("e99") * 0.01)
            .as("approx_within_1pct"))
    },

    // Token-window chunking (context-window prep): each document splits
    // into 64-token chunks with 16 tokens of overlap, stride 48. Integer
    // chunk-count math (no FP ceil), the explode is the only row
    // multiplier, and the oracle recomputes every chunk boundary, token
    // count and the first/last token strings from DuckDB's own tokenizer.
    QueryDef("p28_chunk_documents",
      """WITH b AS (
        |  SELECT doc_id,
        |    string_split_regex(
        |      regexp_replace(text, '^\s+|\s+$', '', 'g'), '\s+') AS tk
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, tk, len(tk) AS n,
        |    (greatest(len(tk) - 16, 1) + 47) // 48 AS n_chunks
        |  FROM b),
        |e AS (
        |  SELECT doc_id, tk, n,
        |    unnest(generate_series(0, n_chunks - 1)) AS chunk_id
        |  FROM c)
        |SELECT doc_id, CAST(chunk_id AS BIGINT) AS chunk_id,
        |  CAST(least(64, n - chunk_id * 48) AS BIGINT) AS n_tokens,
        |  tk[chunk_id * 48 + 1] AS first_tok,
        |  tk[least(chunk_id * 48 + 64, n)] AS last_tok
        |FROM e""".stripMargin) { (s, dir) =>
      val chunkSz = 64
      val overlap = 16
      val stride = chunkSz - overlap
      t(s, dir, "documents")
        .select(col("doc_id"),
          split(regexp_replace(col("text"), "^\\s+|\\s+$", ""), "\\s+")
            .as("tk"))
        .withColumn("n", size(col("tk")).cast("long"))
        .withColumn("chunk_id", explode(sequence(lit(0L),
          expr(s"(greatest(n - $overlap, 1) + ${stride - 1}) DIV $stride")
            - 1)))
        .select(col("doc_id"), col("chunk_id"),
          least(lit(chunkSz), col("n") - col("chunk_id") * stride)
            .cast("long").as("n_tokens"),
          element_at(col("tk"),
            (col("chunk_id") * stride + 1).cast("int")).as("first_tok"),
          element_at(col("tk"),
            least(col("chunk_id") * stride + chunkSz, col("n")).cast("int"))
            .as("last_tok"))
    },

    // Gopher repetition rule: top-bigram share of each document's word
    // bigrams; DuckDB recomputes counts, fraction and the keep boolean.
    QueryDef("p31_repetition_signal",
      """WITH b AS (
        |  SELECT doc_id,
        |    CASE WHEN length(tr) = 0 THEN CAST([] AS VARCHAR[])
        |         ELSE string_split_regex(tr, '\s+') END AS tk
        |  FROM (SELECT doc_id,
        |          regexp_replace(text, '^\s+|\s+$', '', 'g') AS tr
        |        FROM documents)),
        |g AS (
        |  SELECT doc_id,
        |    unnest(list_transform(generate_series(1, len(tk) - 1),
        |      i -> tk[i] || ' ' || tk[i + 1])) AS gram
        |  FROM b WHERE len(tk) >= 2),
        |c AS (SELECT doc_id, gram, count(*) AS n FROM g GROUP BY 1, 2)
        |SELECT doc_id,
        |  CAST(sum(n) AS BIGINT) AS n_bigrams,
        |  CAST(count(*) AS BIGINT) AS n_distinct_bigrams,
        |  round(CAST(max(n) AS DOUBLE) / sum(n), 6) AS top_bigram_frac,
        |  round(CAST(max(n) AS DOUBLE) / sum(n), 6) <= 0.05 AS rep_ok
        |FROM c GROUP BY doc_id""".stripMargin) { (s, dir) =>
      TextAnalysis.repetitionSignal(t(s, dir, "documents"))
    },

    // Int8 scalar quantization of the embedding column (4× storage cut
    // for ANN serving): per-vector scale = max|x|/127, code =
    // round(x/scale). float→double is exact and round() is half-away in
    // BOTH engines, so the oracle recomputes the integer code sum and
    // min/max code EXACTLY — any quantization drift reddens the hash.
    QueryDef("p29_quantize_embeddings",
      """WITH s AS (
        |  SELECT vec_id,
        |    list_max(list_transform(embedding,
        |      x -> abs(CAST(x AS DOUBLE)))) / 127 AS sc,
        |    embedding
        |  FROM embeddings),
        |q AS (
        |  SELECT vec_id, sc,
        |    CASE WHEN sc = 0 THEN list_transform(embedding, x -> 0)
        |         ELSE list_transform(embedding,
        |           x -> CAST(round(CAST(x AS DOUBLE) / sc) AS BIGINT))
        |    END AS codes
        |  FROM s)
        |SELECT vec_id, round(sc, 6) AS scale,
        |  CAST(list_aggregate(codes, 'sum') AS BIGINT) AS sum_codes,
        |  CAST(list_aggregate(codes, 'min') AS BIGINT) AS min_code,
        |  CAST(list_aggregate(codes, 'max') AS BIGINT) AS max_code
        |FROM q""".stripMargin) { (s, dir) =>
      val sc = array_max(transform(col("embedding"),
        x => abs(x.cast("double")))) / 127
      val codes = when(col("sc") === 0,
        transform(col("embedding"), _ => lit(0L)))
        .otherwise(transform(col("embedding"),
          x => round(x.cast("double") / col("sc")).cast("long")))
      t(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding"), sc.as("sc"))
        .withColumn("codes", codes)
        .select(col("vec_id"), round(col("sc"), 6).as("scale"),
          aggregate(col("codes"), lit(0L), (a, x) => a + x).as("sum_codes"),
          array_min(col("codes")).as("min_code"),
          array_max(col("codes")).as("max_code"))
    },

    // Gopher/C4-style line-structure quality rules; every signal AND the
    // composite keep decision recomputed by the oracle. Per-row scalar
    // doubles → ROUND 6 (the determinism rule for per-row math). The
    // driver corpus is single-line (n_lines = 1 everywhere), which would
    // leave the duplicate-line and bullet signals untested — so the gate
    // plants multi-line variants (2 duplicate lines + 2 bullet lines)
    // for every 10th doc, exercising every branch of the rule set.
    QueryDef("p30_quality_rules",
      """WITH corpus AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 2000000 AS doc_id,
        |    text || chr(10) || text || chr(10) ||
        |      '- bullet item' || chr(10) || '- bullet item' AS text
        |  FROM documents WHERE doc_id % 10 = 0),
        |b AS (
        |  SELECT doc_id, text,
        |    string_split(text, chr(10)) AS ln,
        |    CASE WHEN length(regexp_replace(text, '^\s+|\s+$', '', 'g')) = 0
        |         THEN CAST([] AS VARCHAR[])
        |         ELSE string_split_regex(
        |           regexp_replace(text, '^\s+|\s+$', '', 'g'), '\s+')
        |    END AS tk
        |  FROM corpus),
        |m AS (
        |  SELECT doc_id,
        |    CAST(len(ln) AS BIGINT) AS n_lines,
        |    round(CAST(len(ln) - len(list_distinct(ln)) AS DOUBLE)
        |      / len(ln), 6) AS dup_line_frac,
        |    round(CAST(len(list_filter(ln,
        |      l -> regexp_matches(l, '^\s*[-*]'))) AS DOUBLE)
        |      / len(ln), 6) AS bullet_frac,
        |    CASE WHEN len(tk) = 0 THEN CAST(0.0 AS DOUBLE)
        |         ELSE round(CAST(list_aggregate(list_transform(tk,
        |           t -> length(t)), 'sum') AS DOUBLE) / len(tk), 6)
        |    END AS mean_word_len,
        |    regexp_matches(text, '[.!?"]\s*$') AS ends_terminal
        |  FROM b)
        |SELECT m.*,
        |  (dup_line_frac <= 0.3 AND bullet_frac <= 0.9
        |   AND mean_word_len BETWEEN 3 AND 10 AND ends_terminal) AS keep
        |FROM m""".stripMargin) { (s, dir) =>
      val docs = t(s, dir, "documents").select("doc_id", "text")
      val planted = docs.filter(col("doc_id") % 10 === 0)
        .select((col("doc_id") + 2000000L).as("doc_id"),
          concat(col("text"), lit("\n"), col("text"),
            lit("\n- bullet item\n- bullet item")).as("text"))
      TextAnalysis.lineQualityRules(docs.unionAll(planted))
    },

    // near-dup pipeline end-to-end: find pairs, drop the higher id of
    // each. DuckDB recomputes the exhaustive pair list and the same
    // anti-join arithmetic — including that every planted copy is gone.
    QueryDef("p18_dedup_pipeline",
      s"""WITH $corpusSql,
         |$shingleSql,
         |pairs AS (
         |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
         |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
         |  WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) /
         |        len(list_distinct(list_concat(a.s, b.s))) >= 0.5),
         |kept AS (
         |  SELECT doc_id FROM corpus
         |  WHERE doc_id NOT IN (SELECT id_b FROM pairs))
         |SELECT CAST(count(*) AS BIGINT) AS n_docs_kept,
         |  CAST(count(*) FILTER (doc_id >= 1000000) AS BIGINT)
         |    AS plants_surviving
         |FROM kept""".stripMargin) { (s, dir) =>
      val planted = docsWithPlants(s, dir)
      val pairs = Dedup.minhashPairs(planted, "doc_id", "text",
        k = 64, bands = 16, threshold = 0.5)
      Dedup.applyPairs(planted, "doc_id", pairs)
        .agg(count(lit(1)).as("n_docs_kept"),
          sum(when(col("doc_id") >= 1000000, 1).otherwise(0)).cast("long")
            .as("plants_surviving"))
    },

    // Incremental (batch-vs-corpus) dedup: Bloom prefilter + exact
    // verification (Dedup.incrementalDupFlags). Corpus = doc_id < 250;
    // batch = the rest ∪ exact copies of every 10th corpus doc (the
    // planted dups — the driver corpus has no natural cross-split
    // duplicates). The prefilter cannot produce false negatives and the
    // verify join kills false positives, so the per-row flags match the
    // oracle's plain IN-subquery exactly.
    QueryDef("p36_incremental_dedup",
      """WITH corpus AS (
        |  SELECT md5(text) AS h FROM documents WHERE doc_id < 250),
        |batch AS (
        |  SELECT doc_id, md5(text) AS h FROM documents WHERE doc_id >= 250
        |  UNION ALL
        |  SELECT doc_id + 1000000 AS doc_id, md5(text) AS h
        |  FROM documents WHERE doc_id < 250 AND doc_id % 10 = 0)
        |SELECT b.doc_id, (b.h IN (SELECT h FROM corpus)) AS is_dup
        |FROM batch b""".stripMargin) { (s, dir) =>
      val d = t(s, dir, "documents").select("doc_id", "text")
      val corpus = d.filter(col("doc_id") < 250)
      val batch = d.filter(col("doc_id") >= 250)
        .unionAll(corpus.filter(col("doc_id") % 10 === 0)
          .select((col("doc_id") + 1000000).as("doc_id"), col("text")))
      // production shape (r5 task 6 closed): the corpus side is the
      // content-hash INDEX maintained by DedupIndex (x14), so the
      // single corpus-side pass reads ~36 B/doc of index instead of
      // re-hashing the document text on every ingest
      val idxDir = graft.Scratch.dir(s, "p36_index")
      graft.pipeline.DedupIndex.append(s, idxDir, corpus, "doc_id", "text")
      Dedup.incrementalDupFlagsAgainst(batch,
        graft.pipeline.DedupIndex.read(s, idxDir).select("h"),
        "doc_id", "text")
    },

    // ---- similarity search --------------------------------------------
    QueryDef("p06_sim_brute",
      """WITH q AS (SELECT vec_id AS qid, embedding AS qvec
        |           FROM embeddings WHERE vec_id < 5),
        |scored AS (
        |  SELECT q.qid, e.vec_id,
        |    ROUND(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
        |                                 CAST(q.qvec AS DOUBLE[])), 6) AS score
        |  FROM embeddings e CROSS JOIN q),
        |ranked AS (
        |  SELECT qid, vec_id, score,
        |    ROW_NUMBER() OVER (PARTITION BY qid
        |                       ORDER BY score DESC, vec_id) AS rank
        |  FROM scored)
        |SELECT qid, vec_id, score, CAST(rank AS BIGINT) AS rank
        |FROM ranked WHERE rank <= 10""".stripMargin) { (s, dir) =>
      val corpus = t(s, dir, "embeddings")
      val queries = corpus.filter(col("vec_id") < 5)
        .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
      Similarity.bruteForceTopK(corpus, queries, k = 10)
        .withColumn("rank", col("rank").cast("long"))
    },

    QueryDef("p07_sim_lsh", annRecallOracle) { (s, dir) =>
      val corpus = annCorpusWithPlants(s, dir)
      val queries = corpus.filter(col("vec_id") < 5)
        .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
      annRecallGate(
        Similarity.lshTopK(corpus, queries, k = annK, nPlanes = 8),
        Similarity.bruteForceTopK(corpus, queries, k = annK), k = annK)
    },

    QueryDef("p08_sim_ivf", annRecallOracle) { (s, dir) =>
      val corpus = annCorpusWithPlants(s, dir)
      val queries = corpus.filter(col("vec_id") < 5)
        .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
      annRecallGate(
        Similarity.ivfTopK(corpus, queries, k = annK, nCells = 16, nProbe = 4),
        Similarity.bruteForceTopK(corpus, queries, k = annK), k = annK)
    },

    // Product-quantized ANN (Jégou et al. TPAMI 2011, the FAISS memory
    // path): 8×16-entry codebooks compress each 64-dim vector to 8
    // small codes; the ADC scan scores code tables only (no float
    // vectors), a 10×k shortlist is reranked exactly. Same planted-
    // neighbor recall contract as p07/p08.
    QueryDef("p135_sim_pq", annRecallOracle) { (s, dir) =>
      val corpus = annCorpusWithPlants(s, dir)
      val queries = corpus.filter(col("vec_id") < 5)
        .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
      annRecallGate(
        Similarity.pqTopK(corpus, queries, k = annK,
          nSub = 8, nCodes = 16, shortlistFactor = 10),
        Similarity.bruteForceTopK(corpus, queries, k = annK), k = annK)
    },

    // IVF-PQ: coarse cells prune the scan to nProbe/nCells of the
    // codes table AND the codes keep PQ's 32-256x compression — the
    // composition (FAISS's IVFPQ) is the layout that actually serves
    // 100 TB. Residuals against the probed centroid are what the codes
    // encode; scoring recombines by linearity of the dot product. Same
    // planted-neighbor recall contract as p07/p08/p135.
    QueryDef("p136_sim_ivfpq", annRecallOracle) { (s, dir) =>
      val corpus = annCorpusWithPlants(s, dir)
      val queries = corpus.filter(col("vec_id") < 5)
        .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
      annRecallGate(
        Similarity.ivfPqTopK(corpus, queries, k = annK,
          nCells = 16, nProbe = 4, nSub = 8, nCodes = 16,
          shortlistFactor = 10),
        Similarity.bruteForceTopK(corpus, queries, k = annK), k = annK)
    },

    // Eval-release audit capstone: an md5 rule carves out ~1/16 of the
    // corpus as the eval set, the train side is span-scrubbed against
    // it, and the engine RE-VERIFIES zero residual 50-char overlap on
    // the actual cleaned text (not assumed from the algorithm). The
    // corpus' planted dup clusters straddle the split, so real
    // contamination is cut. The oracle replays split + scrub (the p82
    // mirror with the p114 split rule) and the release totals.
    QueryDef("p114_eval_release_audit",
      """WITH d AS (SELECT doc_id, text FROM documents
        |  WHERE substring(md5('ev:' || CAST(doc_id AS VARCHAR)), 1, 1)
        |    <> '0'),
        |b AS (SELECT doc_id, text FROM documents
        |  WHERE substring(md5('ev:' || CAST(doc_id AS VARCHAR)), 1, 1)
        |    = '0'),
        |bw AS (SELECT DISTINCT substr(text, st + 1, 50) AS w FROM (
        |  SELECT text, unnest(range(0, length(text) - 49, 1)) AS st
        |  FROM b WHERE length(text) >= 50)),
        |w2 AS (SELECT doc_id, st, substr(text, st + 1, 50) AS w FROM (
        |  SELECT doc_id, text,
        |    unnest(range(0, length(text) - 49, 1)) AS st
        |  FROM d WHERE length(text) >= 50)),
        |occ AS (SELECT doc_id, st FROM w2
        |  WHERE w IN (SELECT w FROM bw)),
        |o2 AS (SELECT doc_id, st,
        |    coalesce(max(st + 50) OVER (PARTITION BY doc_id ORDER BY st
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS cur
        |  FROM occ),
        |agg AS (SELECT o2.doc_id,
        |    string_agg(CASE WHEN st > cur
        |      THEN substr(d.text, cur + 1, st - cur) ELSE '' END,
        |      '' ORDER BY st) AS head_pieces,
        |    max(st + 50) AS maxend,
        |    count(*) AS n_anchors
        |  FROM o2 JOIN d USING (doc_id) GROUP BY o2.doc_id),
        |cleaned AS (SELECT d.doc_id, length(d.text) AS orig_cp,
        |    coalesce(a.head_pieces, '')
        |      || substr(d.text, coalesce(a.maxend, 0) + 1) AS clean,
        |    coalesce(a.n_anchors, 0) AS n_anchors
        |  FROM d LEFT JOIN agg a USING (doc_id))
        |SELECT CAST((SELECT count(*) FROM d) AS BIGINT) AS n_train,
        |  CAST((SELECT count(*) FROM b) AS BIGINT) AS n_eval,
        |  CAST(sum(CASE WHEN n_anchors > 0 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS docs_cut,
        |  CAST(sum(orig_cp - length(clean)) AS BIGINT) AS removed_cp_total,
        |  CAST(0 AS BIGINT) AS n_leaks, true AS leak_free
        |FROM cleaned""".stripMargin) { (s, dir) =>
      val docs = t(s, dir, "documents").select("doc_id", "text")
      val h = substring(
        md5(concat(lit("ev:"), col("doc_id").cast("string"))), 1, 1)
      Dedup.benchmarkScrubAudit(
        docs.filter(h =!= "0"), docs.filter(h === "0"))
    },

    // Markdown structure profile: a small markdown block (heading, two
    // list items, two table rows, a link, one fenced code block) is
    // planted on one doc set; those docs must clear the 2-of-5 vote and
    // unplanted prose must not. Every signal is replayed in RE2.
    QueryDef("p113_markdown_profile",
      """WITH corpus AS (
        |  SELECT doc_id, text || CASE WHEN doc_id % 31 = 7
        |    THEN chr(10) || '# Title'
        |      || chr(10) || '- item one'
        |      || chr(10) || '- item two'
        |      || chr(10) || '| a | b |'
        |      || chr(10) || '| 1 | 2 |'
        |      || chr(10) || 'see [link](https://x.y) here'
        |      || chr(10) || '```' || chr(10) || 'x = 1' || chr(10) || '```'
        |    ELSE '' END AS text
        |  FROM documents),
        |s AS (SELECT doc_id, text, string_split(text, chr(10)) AS ln
        |  FROM corpus),
        |g AS (SELECT doc_id,
        |    len(list_filter(ln, l -> regexp_matches(l, '^#{1,6} ')))
        |      AS n_headings,
        |    len(list_filter(ln, l -> regexp_matches(l, '^ {0,3}[-*+] ')))
        |      AS n_list_items,
        |    len(list_filter(ln, l -> regexp_matches(l, '^\|')))
        |      AS n_table_rows,
        |    len(regexp_extract_all(text, '\[[^\]]*\]\([^)]*\)')) AS n_links,
        |    (length(text) - length(replace(text, '```', ''))) // 3
        |      AS n_fences
        |  FROM s),
        |v AS (SELECT doc_id, n_headings, n_list_items, n_table_rows,
        |    n_links, n_fences,
        |    CAST(n_headings >= 1 AS BIGINT) + CAST(n_list_items >= 2 AS BIGINT)
        |    + CAST(n_table_rows >= 2 AS BIGINT) + CAST(n_links >= 1 AS BIGINT)
        |    + CAST(n_fences >= 2 AS BIGINT) AS votes
        |  FROM g)
        |SELECT doc_id, CAST(n_headings AS BIGINT) AS n_headings,
        |  CAST(n_list_items AS BIGINT) AS n_list_items,
        |  CAST(n_table_rows AS BIGINT) AS n_table_rows,
        |  CAST(n_links AS BIGINT) AS n_links,
        |  CAST(n_fences AS BIGINT) AS n_fences,
        |  votes AS md_votes, votes >= 2 AS is_markdown
        |FROM v""".stripMargin) { (s, dir) =>
      val mdBlock = "\n# Title\n- item one\n- item two\n| a | b |" +
        "\n| 1 | 2 |\nsee [link](https://x.y) here\n```\nx = 1\n```"
      val planted = t(s, dir, "documents").select(col("doc_id"),
        concat(col("text"),
          when(col("doc_id") % 31 === 7, lit(mdBlock))
            .otherwise(lit(""))).as("text"))
      TextAnalysis.markdownSignals(planted)
    },

    // Compression-ratio filter: zlib sizes are engine-internal (DuckDB
    // has no deflate), so the gate uses the p03 invariant pattern — the
    // oracle recomputes corpus/plant counts exactly and asserts the
    // separation booleans the engine derives from real deflate sizes:
    // every planted spam doc flags, and NO unplanted doc does (natural
    // prose ≥ ~0.4 vs spam ~0.02 — the 0.25 threshold has 1.6×/12×
    // margins either side).
    QueryDef("p112_compress_ratio",
      """WITH c AS (SELECT doc_id FROM documents)
        |SELECT CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(count(*) FILTER (doc_id % 19 = 6) AS BIGINT) AS n_planted,
        |  true AS planted_all_flagged,
        |  true AS clean_none_flagged
        |FROM c""".stripMargin) { (s, dir) =>
      val planted = t(s, dir, "documents").select(col("doc_id"),
        concat(col("text"),
          when(col("doc_id") % 19 === 6,
            concat(lit(" "), repeat(lit("spam "), 200)))
            .otherwise(lit(""))).as("text"))
      val sig = TextAnalysis.compressionSignal(planted)
        .withColumn("is_planted", col("doc_id") % 19 === 6)
      sig.agg(
        count(lit(1)).as("n_docs"),
        sum(when(col("is_planted"), 1L).otherwise(0L)).as("n_planted"),
        min(when(col("is_planted"), col("degenerate"))).as("pf"),
        max(when(!col("is_planted"), col("degenerate"))).as("cf"))
        .select(col("n_docs"), col("n_planted"),
          col("pf").as("planted_all_flagged"),
          (!col("cf")).as("clean_none_flagged"))
    },

    // Water-filling mixture allocation: the corpus is skewed on purpose
    // (short-named sources keep all docs, long-named keep ~1/11) so the
    // sqrt-temperature weights OVERALLOCATE the small sources and the
    // cap-and-redistribute rounds actually fire. The oracle unrolls the
    // three rounds with the same decimal-exact Σw / int64 Σcapped-avail
    // and identical double expression trees.
    QueryDef("p111_mix_waterfill",
      """WITH corpus AS (
        |  SELECT doc_id, source, text FROM documents
        |  WHERE length(source) = 4 OR doc_id % 11 = 0),
        |tk AS (SELECT source, CAST(sum(CASE
        |    WHEN length(regexp_replace(text, '^\s+|\s+$', '', 'g')) = 0
        |    THEN 0
        |    ELSE len(string_split_regex(
        |      regexp_replace(text, '^\s+|\s+$', '', 'g'), '\s+')) END)
        |    AS BIGINT) AS avail
        |  FROM corpus GROUP BY 1),
        |b AS (SELECT CAST(sum(avail) AS DOUBLE) * 0.5 AS budget FROM tk),
        |w AS (SELECT source, avail,
        |    CAST(pow(avail, 0.5) AS DECIMAL(28,12)) AS wd FROM tk),
        |r1 AS (SELECT source, avail, wd,
        |    (SELECT budget FROM b) * CAST(wd AS DOUBLE) /
        |      CAST((SELECT sum(wd) FROM w) AS DOUBLE) AS prop
        |  FROM w),
        |s1 AS (SELECT source, avail, wd, prop >= avail AS capped FROM r1),
        |c2 AS (SELECT
        |    CAST(sum(CASE WHEN capped THEN avail ELSE 0 END) AS DOUBLE)
        |      AS usedcap,
        |    CAST(sum(CASE WHEN NOT capped THEN wd
        |         ELSE CAST(0 AS DECIMAL(28,12)) END) AS DOUBLE) AS wsum
        |  FROM s1),
        |r2 AS (SELECT source, avail, wd, capped,
        |    CASE WHEN capped THEN CAST(avail AS DOUBLE)
        |         ELSE ((SELECT budget FROM b) - (SELECT usedcap FROM c2))
        |           * CAST(wd AS DOUBLE) / (SELECT wsum FROM c2) END AS prop
        |  FROM s1),
        |s2 AS (SELECT source, avail, wd,
        |    capped OR prop >= avail AS capped FROM r2),
        |c3 AS (SELECT
        |    CAST(sum(CASE WHEN capped THEN avail ELSE 0 END) AS DOUBLE)
        |      AS usedcap,
        |    CAST(sum(CASE WHEN NOT capped THEN wd
        |         ELSE CAST(0 AS DECIMAL(28,12)) END) AS DOUBLE) AS wsum
        |  FROM s2),
        |r3 AS (SELECT source, avail, wd, capped,
        |    CASE WHEN capped THEN CAST(avail AS DOUBLE)
        |         ELSE ((SELECT budget FROM b) - (SELECT usedcap FROM c3))
        |           * CAST(wd AS DOUBLE) / (SELECT wsum FROM c3) END AS prop
        |  FROM s2)
        |SELECT source, avail, ROUND(CAST(wd AS DOUBLE), 6) AS weight,
        |  ROUND(LEAST(prop, CAST(avail AS DOUBLE)), 6) AS alloc_tokens,
        |  capped OR prop >= avail AS capped
        |FROM r3""".stripMargin) { (s, dir) =>
      Corpus.mixWaterfill(t(s, dir, "documents")
        .filter(length(col("source")) === 4 || col("doc_id") % 11 === 0))
    },

    // ANN tuning curve (the p104 calibration idea for the IVF index):
    // sweep nProbe over ONE centroid layout and gate the properties an
    // index owner tunes against — recall is non-decreasing in nProbe
    // (candidate supersets can only add exact-top members) and the
    // widest probe clears the p08 recall floor. Recall values are
    // engine-internal (DuckDB can't replay IVF), so the gate emits the
    // boolean pattern annRecallOracle established. The four probe runs
    // share the corpus/queries/centroids; hit counts are bounded scalar
    // jobs (50 pairs each).
    QueryDef("p110_ann_tuning_curve",
      """SELECT CAST(p AS BIGINT) AS n_probe,
        |  CAST(5 AS BIGINT) AS n_queries,
        |  true AS monotone_ok, true AS floor_ok
        |FROM (VALUES (1), (2), (4), (8)) t(p)""".stripMargin) { (s, dir) =>
      val corpus = annCorpusWithPlants(s, dir)
      val queries = corpus.filter(col("vec_id") < 5)
        .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
      val exact = Similarity.bruteForceTopK(corpus, queries, k = annK)
        .select("qid", "vec_id")
      val probes = Seq(1, 2, 4, 8)
      val recalls = probes.map { p =>
        val hits = Similarity.ivfTopK(corpus, queries, k = annK,
          nCells = 16, nProbe = p)
          .select("qid", "vec_id").join(exact, Seq("qid", "vec_id"))
          .count()
        p -> hits.toDouble / (5 * annK)
      }
      val monotone = recalls.map(_._2).sliding(2)
        .forall(w => w.last >= w.head - 1e-9)
      val floorOk = recalls.last._2 >= annRecallFloor
      import s.implicits._
      recalls.map { case (p, _) => (p.toLong, 5L, monotone, floorOk) }
        .toDF("n_probe", "n_queries", "monotone_ok", "floor_ok")
    },

    // Projected-space ANN (p48's JL projection as an actual search
    // path): shortlist in the 256-dim projected space, exact rerank of
    // the shortlist on full vectors — same recall gate as p07/p08.
    QueryDef("p49_sim_projected", annRecallOracle) { (s, dir) =>
      val corpus = annCorpusWithPlants(s, dir)
      val queries = corpus.filter(col("vec_id") < 5)
        .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
      annRecallGate(
        Similarity.projectedTopK(corpus, queries, k = annK,
          outDim = 256, shortlistFactor = 4),
        Similarity.bruteForceTopK(corpus, queries, k = annK), k = annK)
    },

    // ---- text analysis ------------------------------------------------
    // Trim with a whitespace-class regexp, not trim(): DuckDB's trim strips
    // spaces only while the Spark side strips all leading/trailing whitespace.
    QueryDef("p09_text_tokens",
      """WITH b AS (
        |  SELECT doc_id, text,
        |    regexp_replace(text, '^\s+|\s+$', '', 'g') AS wtext
        |  FROM documents)
        |SELECT doc_id, CAST(length(text) AS BIGINT) AS n_chars,
        |  CAST(CASE WHEN length(wtext) = 0 THEN 0
        |       ELSE len(string_split_regex(wtext, '\s+')) END AS BIGINT)
        |    AS n_tokens
        |FROM b""".stripMargin) { (s, dir) =>
      t(s, dir, "documents").select(
        col("doc_id"),
        length(col("text")).cast("long").as("n_chars"),
        TextAnalysis.tokenCount(col("text")).cast("long").as("n_tokens"))
    },

    QueryDef("p10_text_quality",
      s"""WITH base AS (
         |  SELECT doc_id, text,
         |    CAST(length(text) AS BIGINT) AS n_chars,
         |    CASE WHEN length(regexp_replace(text, '^\\s+|\\s+$$', '', 'g')) = 0
         |         THEN CAST([] AS VARCHAR[])
         |         ELSE string_split_regex(
         |           regexp_replace(text, '^\\s+|\\s+$$', '', 'g'), '\\s+') END AS toks,
         |    CAST(length(text) -
         |      length(regexp_replace(text, '[[:punct:]]', '', 'g')) AS BIGINT)
         |      AS n_punct
         |  FROM documents),
         |m AS (
         |  SELECT doc_id, n_chars, n_punct,
         |    CAST(len(toks) AS BIGINT) AS n_tokens,
         |    CAST(len(list_filter(toks, t -> list_contains(
         |      [${TextAnalysis.stopwordsEn.map("'" + _ + "'").mkString(",")}],
         |      t))) AS BIGINT) AS n_stopwords
         |  FROM base)
         |SELECT doc_id, n_chars, n_tokens, n_punct, n_stopwords,
         |  CASE WHEN n_tokens = 0 THEN 0.0
         |       ELSE (n_chars - (n_tokens - 1)) / n_tokens END AS avg_token_len,
         |  CASE WHEN n_chars = 0 THEN 0.0
         |       ELSE n_punct / n_chars END AS punct_ratio,
         |  CASE WHEN n_tokens = 0 THEN 0.0
         |       ELSE n_stopwords / n_tokens END AS stopword_ratio,
         |  (least(n_tokens / 50.0, 1.0) +
         |   CASE WHEN (CASE WHEN n_tokens = 0 THEN 0.0
         |              ELSE (n_chars - (n_tokens - 1)) / n_tokens END)
         |        BETWEEN 3.0 AND 10.0 THEN 1.0 ELSE 0.0 END +
         |   least((CASE WHEN n_tokens = 0 THEN 0.0
         |          ELSE n_stopwords / n_tokens END) * 5.0, 1.0) +
         |   (1.0 - least((CASE WHEN n_chars = 0 THEN 0.0
         |            ELSE n_punct / n_chars END) * 10.0, 1.0))) / 4.0
         |    AS quality_score
         |FROM m""".stripMargin) { (s, dir) =>
      TextAnalysis.withQuality(t(s, dir, "documents"))
        .select("doc_id", "n_chars", "n_tokens", "n_punct", "n_stopwords",
          "avg_token_len", "punct_ratio", "stopword_ratio", "quality_score")
    },

    // stopword-vote language ID is plain set arithmetic — DuckDB mirrors
    // the tokenizer, the four multiset stopword counts, the CJK codepoint
    // test, and the fold's later-wins-only-on-strictly-greater tie-break
    QueryDef("p11_text_langid",
      s"""WITH $langPredCtes
         |SELECT doc_id, lang, lang_pred FROM pred""".stripMargin) {
      (s, dir) =>
      TextAnalysis.withLanguage(t(s, dir, "documents"))
        .select("doc_id", "lang", "lang_pred")
        .orderBy("doc_id")
    },

    // the chained-xxhash64 fingerprint itself is not DuckDB-expressible;
    // its INVARIANTS are: it must be a pure function of text (distinct
    // (text, fp) pairs == distinct texts) and collision-free on the
    // corpus (distinct fps == distinct texts). The oracle recomputes the
    // text-side counts for real and asserts the booleans.
    QueryDef("p12_text_fingerprint",
      """SELECT CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(count(DISTINCT text) AS BIGINT) AS n_distinct_texts,
        |  true AS fp_function_of_text,
        |  true AS fp_collision_free
        |FROM documents""".stripMargin) { (s, dir) =>
      t(s, dir, "documents")
        .select(col("doc_id"), col("text"),
          TextAnalysis.fingerprint(col("text")).as("fingerprint"))
        .agg(
          count(lit(1)).as("n_docs"),
          count_distinct(col("text")).as("n_distinct_texts"),
          (count_distinct(struct(col("text"), col("fingerprint"))) ===
            count_distinct(col("text"))).as("fp_function_of_text"),
          (count_distinct(col("fingerprint")) ===
            count_distinct(col("text"))).as("fp_collision_free"))
    },

    QueryDef("p19_token_bpe",
      s"""SELECT doc_id,
         |  CAST(len(regexp_extract_all(text,
         |    '${graft.pipeline.TextAnalysis.bpeTokenPattern}')) AS BIGINT)
         |    AS n_bpe_tokens
         |FROM documents""".stripMargin) { (s, dir) =>
      t(s, dir, "documents").select(col("doc_id"),
        TextAnalysis.bpeTokenCount(col("text")).cast("long")
          .as("n_bpe_tokens"))
    },

    // duplicate-cluster ids via iterative min-label propagation; the
    // oracle recomputes them from the exhaustive pair set with a
    // recursive transitive-closure CTE (min reachable id = component)
    QueryDef("p25_dedup_components",
      s"""WITH RECURSIVE $corpusSql,
         |$shingleSql,
         |pairs AS (
         |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
         |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
         |  WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) /
         |        len(list_distinct(list_concat(a.s, b.s))) >= 0.5),
         |edges AS (
         |  SELECT id_a AS a, id_b AS b FROM pairs
         |  UNION ALL SELECT id_b, id_a FROM pairs),
         |reach(src, dst) AS (
         |  SELECT a, a FROM edges
         |  UNION
         |  SELECT r.src, e.b FROM reach r JOIN edges e ON r.dst = e.a)
         |SELECT src AS doc_id, CAST(MIN(dst) AS BIGINT) AS comp
         |FROM reach GROUP BY src""".stripMargin) { (s, dir) =>
      // p25 IS the closure benchmark: it recomputes label propagation
      // every run over the shared pair barrier (minhash cost is p02's
      // benchmark; converged-label REUSE is p38/p51's fan-out shape)
      Dedup.components(nearDupGraph(s, dir)._1).orderBy("doc_id")
    },

    // Leakage-safe train/val/test split: p22's md5 split rule keyed by
    // the near-dup CLUSTER id, so near-copies can never straddle
    // train and eval. The oracle recomputes the clusters with the p25
    // transitive-closure CTE and applies the identical split CASE to
    // the cluster key — full per-document assignment equality, which
    // subsumes the no-straddle invariant.
    QueryDef("p51_split_leakage_safe",
      s"""WITH RECURSIVE $corpusSql,
         |$shingleSql,
         |pairs AS (
         |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
         |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
         |  WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) /
         |        len(list_distinct(list_concat(a.s, b.s))) >= 0.5),
         |edges AS (
         |  SELECT id_a AS a, id_b AS b FROM pairs
         |  UNION ALL SELECT id_b, id_a FROM pairs),
         |reach(src, dst) AS (
         |  SELECT a, a FROM edges
         |  UNION
         |  SELECT r.src, e.b FROM reach r JOIN edges e ON r.dst = e.a),
         |comp AS (
         |  SELECT src AS doc_id, MIN(dst) AS comp FROM reach GROUP BY src),
         |keyed AS (
         |  SELECT c.doc_id,
         |    CAST(coalesce(k.comp, c.doc_id) AS VARCHAR) AS ck
         |  FROM corpus c LEFT JOIN comp k ON c.doc_id = k.doc_id)
         |SELECT doc_id,
         |  CASE WHEN substring(md5(ck), 1, 1) < 'd' THEN 'train'
         |       WHEN substring(md5(ck), 1, 1) < 'f' THEN 'val'
         |       ELSE 'test' END AS split
         |FROM keyed""".stripMargin) { (s, dir) =>
      val corpus = docsWithPlants(s, dir)
      Corpus.splitByClusterFrom(corpus, "doc_id", nearDupGraph(s, dir)._2)
        .orderBy("doc_id")
    },

    // Exact-substring duplication signal (fixed-50-char window hashes):
    // every 20th doc gets the same boilerplate sentence appended, so its
    // interior windows repeat corpus-wide; natural exact dupes repeat
    // wholesale. The oracle regenerates the windows with substr over
    // generate_series — window-hash equality equals window-string
    // equality barring a 2^-64 collision (the p04 argument).
    QueryDef("p39_repeated_substrings",
      """WITH c AS (
        |  SELECT doc_id, text || CASE WHEN doc_id % 20 = 0
        |    THEN ' Subscribe to our newsletter for updates and follow our page for more daily content.'
        |    ELSE '' END AS text
        |  FROM documents),
        |w0 AS (
        |  SELECT doc_id, unnest([substr(text, i, 50)
        |    FOR i IN range(1, greatest(length(text) - 48, 2))]) AS wt
        |  FROM c),
        |w AS (SELECT DISTINCT doc_id, wt FROM w0),
        |shared AS (
        |  SELECT wt FROM w GROUP BY wt HAVING count(*) >= 2),
        |rep AS (
        |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_repeated
        |  FROM w WHERE wt IN (SELECT wt FROM shared) GROUP BY doc_id),
        |tot AS (
        |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_windows
        |  FROM w GROUP BY doc_id)
        |SELECT t.doc_id, t.n_windows,
        |  coalesce(r.n_repeated, 0) AS n_repeated,
        |  coalesce(r.n_repeated, 0) / CAST(t.n_windows AS DOUBLE)
        |    AS repeated_frac
        |FROM tot t LEFT JOIN rep r ON t.doc_id = r.doc_id""".stripMargin) {
      (s, dir) =>
      val boiler = " Subscribe to our newsletter for updates and follow" +
        " our page for more daily content."
      val c = t(s, dir, "documents").select(col("doc_id"),
        concat(col("text"), when(col("doc_id") % 20 === 0, lit(boiler))
          .otherwise(lit(""))).as("text"))
      Dedup.repeatedWindowStats(c, "doc_id", "text", n = 50)
        .orderBy("doc_id")
    },

    // Quality-aware cluster representatives: p25's components + p10's
    // quality score composed — per duplicate cluster keep the HIGHEST-
    // quality member, not the smallest id. The oracle rebuilds clusters
    // with the recursive closure CTE and the quality score with p10's
    // exact arithmetic, then ranks with the same (score desc, id) window.
    QueryDef("p38_cluster_reps",
      s"""WITH RECURSIVE $corpusSql,
         |$shingleSql,
         |pairs AS (
         |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
         |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
         |  WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) /
         |        len(list_distinct(list_concat(a.s, b.s))) >= 0.5),
         |edges AS (
         |  SELECT id_a AS a, id_b AS b FROM pairs
         |  UNION ALL SELECT id_b, id_a FROM pairs),
         |reach(src, dst) AS (
         |  SELECT a, a FROM edges
         |  UNION
         |  SELECT r.src, e.b FROM reach r JOIN edges e ON r.dst = e.a),
         |comp AS (
         |  SELECT src AS doc_id, MIN(dst) AS comp FROM reach GROUP BY src),
         |qbase AS (
         |  SELECT doc_id,
         |    CAST(length(text) AS BIGINT) AS n_chars,
         |    CASE WHEN length(regexp_replace(text, '^\\s+|\\s+$$', '', 'g')) = 0
         |         THEN CAST([] AS VARCHAR[])
         |         ELSE string_split_regex(
         |           regexp_replace(text, '^\\s+|\\s+$$', '', 'g'), '\\s+') END
         |      AS toks,
         |    CAST(length(text) -
         |      length(regexp_replace(text, '[[:punct:]]', '', 'g')) AS BIGINT)
         |      AS n_punct
         |  FROM corpus),
         |qm AS (
         |  SELECT doc_id, n_chars, n_punct,
         |    CAST(len(toks) AS BIGINT) AS n_tokens,
         |    CAST(len(list_filter(toks, t -> list_contains(
         |      [${TextAnalysis.stopwordsEn.map("'" + _ + "'").mkString(",")}],
         |      t))) AS BIGINT) AS n_stopwords
         |  FROM qbase),
         |q AS (
         |  SELECT doc_id,
         |    (least(n_tokens / 50.0, 1.0) +
         |     CASE WHEN (CASE WHEN n_tokens = 0 THEN 0.0
         |                ELSE (n_chars - (n_tokens - 1)) / n_tokens END)
         |          BETWEEN 3.0 AND 10.0 THEN 1.0 ELSE 0.0 END +
         |     least((CASE WHEN n_tokens = 0 THEN 0.0
         |            ELSE n_stopwords / n_tokens END) * 5.0, 1.0) +
         |     (1.0 - least((CASE WHEN n_chars = 0 THEN 0.0
         |              ELSE n_punct / n_chars END) * 10.0, 1.0))) / 4.0
         |      AS quality_score
         |  FROM qm),
         |ranked AS (
         |  SELECT coalesce(k.comp, q.doc_id) AS comp, q.doc_id,
         |    row_number() OVER (
         |      PARTITION BY coalesce(k.comp, q.doc_id)
         |      ORDER BY q.quality_score DESC, q.doc_id) AS rn,
         |    count(*) OVER (PARTITION BY coalesce(k.comp, q.doc_id))
         |      AS n_members
         |  FROM q LEFT JOIN comp k ON q.doc_id = k.doc_id)
         |SELECT CAST(comp AS BIGINT) AS comp,
         |  CAST(doc_id AS BIGINT) AS rep_id,
         |  CAST(n_members AS BIGINT) AS n_members
         |FROM ranked WHERE rn = 1""".stripMargin) { (s, dir) =>
      val planted = docsWithPlants(s, dir)
      val scored = TextAnalysis.withQuality(planted)
        .select("doc_id", "quality_score")
      Dedup.representativesFrom(scored, "doc_id", nearDupGraph(s, dir)._2,
        "quality_score")
        .orderBy("comp")
    },

    // ---- corpus preparation -------------------------------------------
    // Deterministic PII plants (every 7th doc gets an email + phone) so
    // redaction has non-trivial work; both engines build the same corpus.
    QueryDef("p20_pii_redact",
      s"""WITH c AS (
         |  SELECT doc_id,
         |    text || CASE WHEN doc_id % 7 = 0
         |      THEN ' contact u' || doc_id || '@example.com or 555-123-4567'
         |      ELSE '' END AS text
         |  FROM documents)
         |SELECT doc_id,
         |  CAST(len(regexp_extract_all(text, '${Corpus.emailPattern}')) AS BIGINT)
         |    AS n_emails,
         |  CAST(len(regexp_extract_all(text, '${Corpus.phonePattern}')) AS BIGINT)
         |    AS n_phones,
         |  md5(regexp_replace(regexp_replace(text,
         |    '${Corpus.emailPattern}', '<EMAIL>', 'g'),
         |    '${Corpus.phonePattern}', '<PHONE>', 'g')) AS redacted_md5
         |FROM c""".stripMargin) { (s, dir) =>
      val planted = t(s, dir, "documents").select(col("doc_id"),
        concat(col("text"), when(col("doc_id") % 7 === 0,
          concat(lit(" contact u"), col("doc_id").cast("string"),
            lit("@example.com or 555-123-4567"))).otherwise(lit("")))
          .as("text"))
      Corpus.withPiiRedacted(planted)
        .select(col("doc_id"), col("n_emails"), col("n_phones"),
          md5(col("redacted")).as("redacted_md5"))
    },

    QueryDef("p21_vocab_topk",
      """WITH toks AS (
        |  SELECT CASE WHEN length(regexp_replace(text, '^\s+|\s+$', '', 'g')) = 0
        |         THEN CAST([] AS VARCHAR[])
        |         ELSE string_split_regex(
        |           lower(regexp_replace(text, '^\s+|\s+$', '', 'g')), '\s+')
        |    END AS tk
        |  FROM documents)
        |SELECT t.t AS token, CAST(count(*) AS BIGINT) AS n
        |FROM (SELECT unnest(tk) AS t FROM toks) t
        |GROUP BY 1 ORDER BY n DESC, token LIMIT 100""".stripMargin) { (s, dir) =>
      Corpus.vocabTopK(t(s, dir, "documents"), k = 100)
    },

    // Text canonicalization before content hashing: NFC + lowercase +
    // whitespace collapse (TextAnalysis.canonicalText). Every 5th doc
    // gets a DECOMPOSED accent appended (e + U+0301) — NFC composes it,
    // so its canonical digest differs from a naive lower/trim digest;
    // both engines implement the same Unicode normalization, so the
    // md5s agree exactly.
    QueryDef("p44_canonicalize",
      """WITH c AS (
        |  SELECT doc_id, text || CASE WHEN doc_id % 5 = 0
        |    THEN ' cafe' || chr(769) ELSE '' END AS text
        |  FROM documents),
        |n AS (
        |  SELECT doc_id, text,
        |    nfc_normalize(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))))
        |      AS norm
        |  FROM c)
        |SELECT doc_id, md5(norm) AS norm_md5,
        |  (norm <> text) AS changed,
        |  (doc_id % 5 = 0) AS composed
        |FROM n""".stripMargin) { (s, dir) =>
      val c = t(s, dir, "documents").select(col("doc_id"),
        concat(col("text"), when(col("doc_id") % 5 === 0,
          lit(" cafe\u0301")).otherwise(lit(""))).as("text"))
      c.withColumn("norm", TextAnalysis.canonicalText(col("text")))
        .select(col("doc_id"), md5(col("norm")).as("norm_md5"),
          (col("norm") =!= col("text")).as("changed"),
          (col("doc_id") % 5 === 0).as("composed"))
        .orderBy("doc_id")
    },

    // Sparse token-count cosine via an inverted index with df-pruning —
    // the sparse-vector sibling of the dense LSH family (p05–p08); the
    // df cap bounds every token's join bucket, the scale contract
    // documented on the operator. All sums are exact int64 (order-
    // independent) and the single float divide/sqrt is IEEE-identical
    // in both engines, so the oracle is a full hash gate, not a
    // rows-only check. The planted copies (one token appended) share
    // virtually their whole token multiset → cosine ≈ 1 survives the
    // threshold, proving the join path end-to-end.
    QueryDef("p45_sparse_cosine",
      s"""WITH $corpusSql,
         |toks AS (
         |  SELECT doc_id,
         |    unnest(CASE WHEN length(
         |        regexp_replace(text, '^\\s+|\\s+$$', '', 'g')) = 0
         |      THEN CAST([] AS VARCHAR[])
         |      ELSE string_split_regex(
         |        lower(regexp_replace(text, '^\\s+|\\s+$$', '', 'g')), '\\s+')
         |    END) AS token
         |  FROM corpus),
         |tf AS (
         |  SELECT doc_id, token, count(*) AS tf FROM toks GROUP BY 1, 2),
         |keep AS (
         |  SELECT token FROM tf GROUP BY token HAVING count(*) <= 100),
         |p AS (SELECT tf.* FROM tf JOIN keep USING (token)),
         |norms AS (SELECT doc_id, sum(tf * tf) AS ss FROM p GROUP BY 1),
         |dots AS (
         |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         |    sum(a.tf * b.tf) AS num
         |  FROM p a JOIN p b ON a.token = b.token AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2),
         |scored AS (
         |  SELECT id_a, id_b,
         |    CAST(num AS DOUBLE) /
         |      sqrt(CAST(na.ss * nb.ss AS DOUBLE)) AS cosine
         |  FROM dots
         |  JOIN norms na ON na.doc_id = id_a
         |  JOIN norms nb ON nb.doc_id = id_b)
         |SELECT id_a, id_b, round(cosine, 6) AS cosine
         |FROM scored WHERE cosine >= 0.8
         |ORDER BY id_a, id_b""".stripMargin) { (s, dir) =>
      Similarity.sparseCosinePairs(docsWithPlants(s, dir), "doc_id", "text",
        threshold = 0.8, maxDf = 100)
        .orderBy("id_a", "id_b")
    },

    // JL random-projection distortion gate (the p43 sketch-quality
    // pattern): project consecutive-id embedding pairs — real non-
    // parallel geometry, NOT the scaled plants whose cosine a linear
    // map preserves trivially — to 256 dims and assert the projected
    // cosine sits within 0.30 of the exact one. Components are seeded
    // hashes, so the distortion values are deterministic numbers, not
    // draws: measured max over ALL consecutive pairs is ~0.20 at both
    // gate SFs (sampled-pairs max ~0.12); 64 dims showed tail pairs at
    // 0.44, which is why the gate sits at 256. The oracle recomputes
    // the exact cosines (p05/p06-proven IEEE-identical) and asserts
    // the bound literally.
    QueryDef("p48_random_projection",
      """SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        |  ROUND(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
        |                               CAST(b.embedding AS DOUBLE[])), 6)
        |    AS cos,
        |  true AS distortion_ok
        |FROM embeddings a JOIN embeddings b ON b.vec_id = a.vec_id + 1
        |WHERE a.vec_id % 25 = 0 ORDER BY id_a""".stripMargin) { (s, dir) =>
      val e = t(s, dir, "embeddings")
      val outDim = 256
      val a = e.filter(col("vec_id") % 25 === 0)
        .select(col("vec_id").as("id_a"), col("embedding").as("va"))
      val b = e.select((col("vec_id") - 1).as("id_a"),
        col("vec_id").as("id_b"), col("embedding").as("vb"))
      a.join(b, Seq("id_a"))
        .withColumn("cos", round(Similarity.cosine(col("va"), col("vb")), 6))
        .withColumn("cos_p", Similarity.cosine(
          Similarity.randomProjection(col("va"), outDim),
          Similarity.randomProjection(col("vb"), outDim)))
        .select(col("id_a"), col("id_b"), col("cos"),
          (abs(col("cos_p") - col("cos")) <= 0.30).as("distortion_ok"))
        .orderBy("id_a")
    },

    // Multimodal content dedup end-to-end: binary media → deterministic
    // feature vectors (the featureStub standing in for model inference;
    // identical bytes ⇒ identical features) → banded hyperplane LSH
    // pairs. Every 20th doc's media is duplicated verbatim under a new
    // id, and the gate asserts each planted copy pair is found at
    // cosine ≈ 1 — the "find duplicate images by content" pipeline with
    // the decode stub swapped for a real encoder at production. DuckDB
    // cannot recompute hash-seeded features, so this is the p17 boolean
    // pattern: the oracle recomputes the planted id set and asserts
    // `found` literally.
    QueryDef("p50_mm_dedup",
      """SELECT doc_id, doc_id + 1000000 AS copy_id, true AS found
        |FROM documents WHERE doc_id % 20 = 0 ORDER BY doc_id""".stripMargin) {
      (s, dir) =>
        // the render barriers ONCE: the union's plant branch otherwise
        // re-executes the whole mapPartitions render for its 5% slice
        // (a filter cannot push below an opaque render; guide §1.2)
        val media = Dedup.materializeBarrier(
          Multimodal.withSyntheticMedia(
            t(s, dir, "documents").select("doc_id", "text")),
          "p50-media")
        val plants = media.filter(col("doc_id") % 20 === 0)
          .select((col("doc_id") + 1000000).as("doc_id"), col("text"),
            col("media"))
        val corpus = media.unionAll(plants).select("doc_id", "media")
        val feats = Multimodal.featureStub(corpus, dim = 16)
        val pairs = Similarity.embeddingNearDupPairs(
          feats.select(col("doc_id").as("vec_id"),
            col("features").as("embedding")),
          threshold = 0.9999, bands = 8, rowsPerBand = 16)
        // roster ids re-derived ARITHMETICALLY from the documents table
        // (the Planted.dedupRoster lesson): selecting ids off `media`
        // re-executed the whole mapPartitions render — a third full
        // image-encode pass that column pruning cannot remove
        t(s, dir, "documents").filter(col("doc_id") % 20 === 0)
          .select(col("doc_id"), (col("doc_id") + 1000000).as("copy_id"))
          .join(pairs.select(col("id_a").as("doc_id"),
            col("id_b").as("copy_id"), col("cos")),
            Seq("doc_id", "copy_id"), "left")
          .select(col("doc_id"), col("copy_id"),
            (coalesce(col("cos"), lit(0.0)) >= 0.9999).as("found"))
          .orderBy("doc_id")
    },

    // Cross-source content-overlap matrix: planted re-crawl source
    // ('replant' carries every 10th doc verbatim) must overlap every
    // original source it drew from; natural exact dups across sources
    // surface too. All counts exact integers → full hash gate.
    QueryDef("p47_source_overlap",
      """WITH c AS (
        |  SELECT text, source FROM documents
        |  UNION ALL
        |  SELECT text, 'replant' AS source
        |  FROM documents WHERE doc_id % 7 = 0),
        |d AS (SELECT DISTINCT md5(text) AS dg, source FROM c),
        |ps AS (SELECT source, count(*) AS n FROM d GROUP BY 1),
        |pairs AS (
        |  SELECT a.source AS src_a, b.source AS src_b,
        |    count(*) AS shared_docs
        |  FROM d a JOIN d b ON a.dg = b.dg AND a.source < b.source
        |  GROUP BY 1, 2)
        |SELECT src_a, src_b, CAST(shared_docs AS BIGINT) AS shared_docs,
        |  CAST(pa.n AS BIGINT) AS n_a, CAST(pb.n AS BIGINT) AS n_b
        |FROM pairs
        |JOIN ps pa ON pa.source = src_a
        |JOIN ps pb ON pb.source = src_b
        |ORDER BY src_a, src_b""".stripMargin) { (s, dir) =>
      val src = t(s, dir, "documents")
      val c = src.select(col("text"), col("source"))
        .unionAll(src.filter(col("doc_id") % 7 === 0)
          .select(col("text"), lit("replant").as("source")))
      Corpus.sourceOverlap(c).orderBy("src_a", "src_b")
    },

    // Edit-distance similarity join (PassJoin segment pigeonhole +
    // exact levenshtein verify) over fixed-width 30-char document keys,
    // with planted single-substitution typos. The oracle is the
    // EXHAUSTIVE all-pairs levenshtein at gate scale, so — like
    // p02/p04 — it proves the candidate stage has perfect recall here;
    // unlike LSH, PassJoin's recall is a theorem, so this holds on any
    // corpus, not just this one. dist is exact integer → full hash gate.
    QueryDef("p46_fuzzy_join",
      """WITH keys AS (
        |  SELECT doc_id, substr(text, 1, 30) AS k FROM documents
        |  WHERE length(substr(text, 1, 30)) = 30
        |  UNION ALL
        |  SELECT doc_id + 1000000 AS doc_id,
        |    substr(text, 1, 4) || 'q' || substr(text, 6, 25) AS k
        |  FROM documents
        |  WHERE doc_id % 10 = 0 AND length(substr(text, 1, 30)) = 30),
        |pairs AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |    levenshtein(a.k, b.k) AS dist
        |  FROM keys a JOIN keys b ON a.doc_id < b.doc_id)
        |SELECT id_a, id_b, CAST(dist AS BIGINT) AS dist
        |FROM pairs WHERE dist <= 2 ORDER BY id_a, id_b""".stripMargin) {
      (s, dir) =>
        val src = t(s, dir, "documents")
        val base = src
          .select(col("doc_id"), substring(col("text"), 1, 30).as("k"))
          .filter(length(col("k")) === 30)
        val plants = src.filter(col("doc_id") % 10 === 0)
          .select((col("doc_id") + 1000000).as("doc_id"),
            concat(substring(col("text"), 1, 4), lit("q"),
              substring(col("text"), 6, 25)).as("k"))
          .filter(length(col("k")) === 30)
        Fuzzy.editDistancePairs(base.unionAll(plants), "doc_id", "k",
            maxDist = 2)
          .withColumn("dist", col("dist").cast("long"))
          .orderBy("id_a", "id_b")
    },

    // MinHash estimator accuracy: the sketch-quality gate for the dedup
    // family (the p17 boolean pattern — HLL p17, quantiles p27, CMS
    // p40). For every verified pair, the k=64 signature-agreement
    // fraction must sit within 0.25 of the exact Jaccard (Hoeffding:
    // P(|est−j| > 0.25) ≤ 2e^{-2·64·0.0625} ≈ 7e-4 per pair, and the
    // seeded hashes make it deterministic). The oracle recomputes the
    // exact pairs and asserts the bound literally.
    QueryDef("p43_minhash_estimate",
      s"""WITH $corpusSql,
         |$shingleSql,
         |pairs AS (
         |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         |    CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) /
         |      len(list_distinct(list_concat(a.s, b.s))) AS j
         |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id)
         |SELECT id_a, id_b, round(j, 6) AS jaccard, true AS est_ok
         |FROM pairs WHERE j >= 0.5""".stripMargin) { (s, dir) =>
      import org.apache.spark.sql.graft.VectorExpressions
      val k = 64
      val planted = docsWithPlants(s, dir)
      val sigs = planted.select(col("doc_id"),
        VectorExpressions.minhashFromHashes(
          VectorExpressions.shingleHashes(col("text"), 3), k).as("mh"))
      Dedup.minhashPairs(planted, "doc_id", "text",
          k = k, bands = 16, threshold = 0.5)
        .join(sigs.select(col("doc_id").as("id_a"), col("mh").as("mh_a")),
          Seq("id_a"))
        .join(sigs.select(col("doc_id").as("id_b"), col("mh").as("mh_b")),
          Seq("id_b"))
        .withColumn("est",
          aggregate(zip_with(col("mh_a"), col("mh_b"),
            (x, y) => when(x === y, 1).otherwise(0)),
            lit(0), (acc, v) => acc + v).cast("double") / k)
        .select(col("id_a"), col("id_b"), col("jaccard"),
          (abs(col("est") - col("jaccard")) <= 0.25).as("est_ok"))
        .orderBy("id_a", "id_b")
    },

    // Per-source dedup audit report: the data-governance rollup every
    // corpus ingest publishes — how much of each source is exact-
    // duplicate content. Composes p01's digest groupBy with a source
    // rollup; dup = any doc whose text already exists under a smaller id.
    QueryDef("p42_dedup_audit",
      """WITH d AS (
        |  SELECT doc_id, source, md5(text) AS h FROM documents),
        |k AS (SELECT h, min(doc_id) AS keep FROM d GROUP BY h)
        |SELECT d.source, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(count(*) FILTER (d.doc_id <> k.keep) AS BIGINT) AS n_dups,
        |  round(count(*) FILTER (d.doc_id <> k.keep)
        |    / CAST(count(*) AS DOUBLE), 6) AS dup_frac
        |FROM d JOIN k ON d.h = k.h
        |GROUP BY 1""".stripMargin) { (s, dir) =>
      val d = t(s, dir, "documents")
        .select(col("doc_id"), col("source"), md5(col("text")).as("h"))
      val k = d.groupBy("h").agg(min("doc_id").as("keep"))
      d.join(k, Seq("h"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("doc_id") =!= col("keep"), 1L).otherwise(0L))
            .as("n_dups"))
        .select(col("source"), col("n_docs"), col("n_dups"),
          round(col("n_dups").cast("double") / col("n_docs"), 6)
            .as("dup_frac"))
    },

    // Per-doc keyword extraction by tf/df (TextAnalysis.keywords): the
    // score is a single IEEE division (bit-identical across engines,
    // unlike ln), so the oracle gates the exact top-3 ranks.
    QueryDef("p41_keywords",
      """WITH toks AS (
        |  SELECT doc_id,
        |    CASE WHEN length(regexp_replace(text, '^\s+|\s+$', '', 'g')) = 0
        |         THEN CAST([] AS VARCHAR[])
        |         ELSE string_split_regex(
        |           lower(regexp_replace(text, '^\s+|\s+$', '', 'g')), '\s+')
        |    END AS tk
        |  FROM documents),
        |tf AS (
        |  SELECT doc_id, t.t AS token, CAST(count(*) AS BIGINT) AS tf
        |  FROM (SELECT doc_id, unnest(tk) AS t FROM toks) t
        |  GROUP BY 1, 2),
        |d AS (
        |  SELECT token, CAST(count(*) AS BIGINT) AS df_docs
        |  FROM tf GROUP BY 1),
        |r AS (
        |  SELECT tf.doc_id, tf.token, tf.tf, d.df_docs,
        |    tf.tf / CAST(d.df_docs AS DOUBLE) AS s,
        |    row_number() OVER (
        |      PARTITION BY tf.doc_id
        |      ORDER BY tf.tf / CAST(d.df_docs AS DOUBLE) DESC, tf.token)
        |      AS rank
        |  FROM tf JOIN d ON tf.token = d.token)
        |SELECT doc_id, token, tf, df_docs, round(s, 6) AS score, rank
        |FROM r WHERE rank <= 3""".stripMargin) { (s, dir) =>
      TextAnalysis.keywords(t(s, dir, "documents"), "doc_id", "text", k = 3)
        .orderBy("doc_id", "rank")
    },

    // Heavy hitters via Count-Min prefilter + exact verify
    // (Corpus.heavyHitters): tokens at >= 0.2% of all occurrences. CMS
    // only overestimates, so the prefilter drops no true heavy hitter
    // and the exact count filter kills impostors — the oracle is the
    // plain exact-count SQL with the same ceil'd threshold.
    QueryDef("p40_heavy_hitters",
      """WITH toks AS (
        |  SELECT CASE WHEN length(regexp_replace(text, '^\s+|\s+$', '', 'g')) = 0
        |         THEN CAST([] AS VARCHAR[])
        |         ELSE string_split_regex(
        |           lower(regexp_replace(text, '^\s+|\s+$', '', 'g')), '\s+')
        |    END AS tk
        |  FROM documents),
        |counts AS (
        |  SELECT t.t AS token, CAST(count(*) AS BIGINT) AS n
        |  FROM (SELECT unnest(tk) AS t FROM toks) t GROUP BY 1),
        |thr AS (
        |  SELECT CAST(ceil(sum(n) * 0.002) AS BIGINT) AS v FROM counts)
        |SELECT token, n FROM counts, thr WHERE n >= thr.v""".stripMargin) {
      (s, dir) =>
      Corpus.heavyHitters(t(s, dir, "documents"), minFraction = 0.002)
        .orderBy("token")
    },

    // md5-hash split: both engines agree on md5 of the id's decimal text
    QueryDef("p22_train_test_split",
      """SELECT doc_id,
        |  CASE WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 1) < 'd'
        |       THEN 'train'
        |       WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 1) < 'f'
        |       THEN 'val' ELSE 'test' END AS split
        |FROM documents""".stripMargin) { (s, dir) =>
      t(s, dir, "documents")
        .select(col("doc_id"), Corpus.splitColumn(col("doc_id")).as("split"))
        .orderBy("doc_id")
    },

    QueryDef("p23_pack_sequences",
      """WITH n AS (
        |  SELECT source, doc_id,
        |    CAST(CASE WHEN length(regexp_replace(text, '^\s+|\s+$', '', 'g')) = 0
        |         THEN 0
        |         ELSE len(string_split_regex(
        |           regexp_replace(text, '^\s+|\s+$', '', 'g'), '\s+'))
        |    END AS BIGINT) AS n_tok
        |  FROM documents),
        |c AS (
        |  SELECT source, n_tok,
        |    SUM(n_tok) OVER (PARTITION BY source ORDER BY doc_id
        |                     ROWS BETWEEN UNBOUNDED PRECEDING
        |                     AND CURRENT ROW) AS cum
        |  FROM n)
        |SELECT source, CAST((cum - n_tok) // 2048 AS BIGINT) AS bin,
        |  CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(SUM(n_tok) AS BIGINT) AS n_tokens
        |FROM c GROUP BY 1, 2""".stripMargin) { (s, dir) =>
      Corpus.packSequences(t(s, dir, "documents"), budget = 2048)
    },

    // deterministic hash sampling at 20%: per-language sampled counts
    // must match the oracle's identical hex-threshold predicate exactly
    QueryDef("p26_sample_stratified",
      """SELECT lang,
        |  CAST(COUNT(*) AS BIGINT) AS n_total,
        |  CAST(COUNT(*) FILTER (
        |    substring(md5(CAST(doc_id AS VARCHAR)), 1, 8) < '33333333')
        |    AS BIGINT) AS n_sampled
        |FROM documents GROUP BY lang""".stripMargin) { (s, dir) =>
      val docs = t(s, dir, "documents")
      docs.groupBy("lang").agg(
        count(lit(1)).as("n_total"),
        count(when(Corpus.sampleHash(col("doc_id"), 0.2), 1)).as("n_sampled"))
    },

    // quality-weighted importance resampling (p26's hash sampling with a
    // PER-ROW rate): keep probability derives from a quality signal
    // (here length-based, capped at 1), the Dolma/FineWeb-style mixing
    // knob. Both engines compute the identical hex-threshold compare,
    // so per-row flags match exactly.
    QueryDef("p53_importance_resample",
      """SELECT doc_id,
        |  round(least(1.0, n_chars / 3000.0), 6) AS rate,
        |  CASE WHEN least(1.0, n_chars / 3000.0) >= 1.0 THEN true
        |       WHEN least(1.0, n_chars / 3000.0) <= 0.0 THEN false
        |       ELSE substring(md5(CAST(doc_id AS VARCHAR)), 1, 8) <
        |         lower(lpad(hex(CAST(floor(
        |           least(1.0, n_chars / 3000.0) * 4294967296) AS BIGINT)),
        |           8, '0'))
        |  END AS kept
        |FROM documents""".stripMargin) { (s, dir) =>
      val rate = least(lit(1.0), col("n_chars") / 3000.0)
      t(s, dir, "documents")
        .select(col("doc_id"), round(rate, 6).as("rate"),
          Corpus.importanceKeep(col("doc_id"), rate).as("kept"))
    },

    // Exact-k weighted sampling without replacement (Efraimidis-
    // Spirakis): "exactly 500 documents, probability proportional to
    // length" — the exact-count mixture ask p53's Bernoulli rates
    // can't express. Lowers to TakeOrderedAndProject over a per-row
    // key; the oracle re-derives the md5 uniform positionally and
    // replays the same round-then-tiebreak ranking.
    QueryDef("p137_weighted_sample",
      """WITH h AS (SELECT doc_id, n_chars AS w,
        |    substring(md5('ws:' || CAST(doc_id AS VARCHAR)), 1, 8) AS hx
        |  FROM documents WHERE n_chars > 0),
        |v AS (SELECT doc_id, w,
        |    (strpos('0123456789abcdef', substring(hx,1,1)) - 1) * 268435456.0
        |  + (strpos('0123456789abcdef', substring(hx,2,1)) - 1) * 16777216.0
        |  + (strpos('0123456789abcdef', substring(hx,3,1)) - 1) * 1048576.0
        |  + (strpos('0123456789abcdef', substring(hx,4,1)) - 1) * 65536.0
        |  + (strpos('0123456789abcdef', substring(hx,5,1)) - 1) * 4096.0
        |  + (strpos('0123456789abcdef', substring(hx,6,1)) - 1) * 256.0
        |  + (strpos('0123456789abcdef', substring(hx,7,1)) - 1) * 16.0
        |  + (strpos('0123456789abcdef', substring(hx,8,1)) - 1) AS hv
        |  FROM h)
        |SELECT doc_id, CAST(w AS BIGINT) AS weight,
        |  round(ln((hv + 1) / 4294967296.0) / w, 6) + 0.0 AS key
        |FROM v ORDER BY key DESC, doc_id LIMIT 500""".stripMargin) {
      (s, dir) =>
      Corpus.weightedSampleK(t(s, dir, "documents"), k = 500,
        weightCol = "n_chars")
    },

    // Declarative data-contract validation (Deequ shape): uniqueness,
    // domain, range, not-null and referential checks each lower to a
    // partial aggregate or key-only anti-join; the oracle recomputes
    // every count as independent SQL. `pass` booleans are value-checked
    // (not asserted) — a violation the engine missed flips the row.
    // Functional-dependency profile over lineitem: three violated
    // candidates (an order spans suppliers and return flags; even the
    // (orderkey, linenumber) pair is non-unique in this corpus) and
    // the de-facto row key (orderkey, partkey, suppkey) which holds.
    // The oracle recomputes each pair's distinct-dependent counts
    // independently. The sixth pair maps onto a NULL-BEARING dependent
    // (returnflag with 'N' nulled out) so the null-equality convention
    // — a NULL dependent counts as one extra distinct value, making
    // {x, NULL} violate — is pinned cross-engine, not just by the
    // local spec (ADVICE r9: lineitem itself has no NULLs, so the
    // plain pairs agree with an unadjusted COUNT(DISTINCT) trivially).
    // With 'N' nulled out, {N}-only orders profile nd=1 via the NULL
    // value alone and {A,N} orders violate through it.
    QueryDef("p155_fd_profile",
      """WITH f1 AS (SELECT l_orderkey AS k,
        |    COUNT(DISTINCT l_suppkey) AS nd FROM lineitem GROUP BY 1),
        |f2 AS (SELECT l_orderkey AS k,
        |    COUNT(DISTINCT l_returnflag) AS nd FROM lineitem GROUP BY 1),
        |f3 AS (SELECT l_orderkey AS ka, l_linenumber AS kb,
        |    COUNT(DISTINCT l_quantity) AS nd FROM lineitem GROUP BY 1, 2),
        |f5 AS (SELECT l_orderkey AS ka, l_partkey AS kb, l_suppkey AS kc,
        |    COUNT(DISTINCT l_quantity) AS nd FROM lineitem
        |  GROUP BY 1, 2, 3),
        |f4 AS (SELECT l_suppkey AS k,
        |    COUNT(DISTINCT l_returnflag) AS nd FROM lineitem GROUP BY 1),
        |f6 AS (SELECT l_orderkey AS k,
        |    COUNT(DISTINCT NULLIF(l_returnflag, 'N'))
        |    + MAX(CASE WHEN NULLIF(l_returnflag, 'N') IS NULL
        |        THEN 1 ELSE 0 END) AS nd
        |  FROM lineitem GROUP BY 1),
        |r AS (
        |  SELECT 'l_orderkey' AS determinant, 'l_suppkey' AS dependent,
        |    CAST(COUNT(*) AS BIGINT) AS n_keys,
        |    CAST(SUM(CASE WHEN nd > 1 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_violating
        |  FROM f1
        |  UNION ALL
        |  SELECT 'l_orderkey', 'l_returnflag', CAST(COUNT(*) AS BIGINT),
        |    CAST(SUM(CASE WHEN nd > 1 THEN 1 ELSE 0 END) AS BIGINT)
        |  FROM f2
        |  UNION ALL
        |  SELECT 'l_orderkey,l_linenumber', 'l_quantity',
        |    CAST(COUNT(*) AS BIGINT),
        |    CAST(SUM(CASE WHEN nd > 1 THEN 1 ELSE 0 END) AS BIGINT)
        |  FROM f3
        |  UNION ALL
        |  SELECT 'l_suppkey', 'l_returnflag', CAST(COUNT(*) AS BIGINT),
        |    CAST(SUM(CASE WHEN nd > 1 THEN 1 ELSE 0 END) AS BIGINT)
        |  FROM f4
        |  UNION ALL
        |  SELECT 'l_orderkey,l_partkey,l_suppkey', 'l_quantity',
        |    CAST(COUNT(*) AS BIGINT),
        |    CAST(SUM(CASE WHEN nd > 1 THEN 1 ELSE 0 END) AS BIGINT)
        |  FROM f5
        |  UNION ALL
        |  SELECT 'l_orderkey', 'dep_null', CAST(COUNT(*) AS BIGINT),
        |    CAST(SUM(CASE WHEN nd > 1 THEN 1 ELSE 0 END) AS BIGINT)
        |  FROM f6)
        |SELECT determinant, dependent, n_keys, n_violating,
        |  n_violating = 0 AS holds
        |FROM r ORDER BY 1, 2""".stripMargin) { (s, dir) =>
      graft.pipeline.Contracts.fdProfile(
        t(s, dir, "lineitem").withColumn("dep_null",
          expr("nullif(l_returnflag, 'N')")), Seq(
        (Seq("l_orderkey"), "l_suppkey"),
        (Seq("l_orderkey"), "l_returnflag"),
        (Seq("l_orderkey", "l_linenumber"), "l_quantity"),
        (Seq("l_suppkey"), "l_returnflag"),
        (Seq("l_orderkey", "l_partkey", "l_suppkey"), "l_quantity"),
        (Seq("l_orderkey"), "dep_null")))
    },

    QueryDef("p138_data_contract",
      """SELECT check_name, checked, violations, violations = 0 AS pass
        |FROM (
        |  SELECT 'orders_pk_unique' AS check_name,
        |    (SELECT COUNT(*) FROM orders) AS checked,
        |    (SELECT COUNT(*) - COUNT(DISTINCT o_orderkey) FROM orders)
        |      AS violations
        |  UNION ALL SELECT 'orders_status_domain',
        |    (SELECT COUNT(*) FROM orders),
        |    (SELECT COUNT(*) FROM orders
        |     WHERE o_orderstatus NOT IN ('O','F','P'))
        |  UNION ALL SELECT 'orders_price_positive',
        |    (SELECT COUNT(*) FROM orders),
        |    (SELECT COUNT(*) FROM orders WHERE o_totalprice <= 0)
        |  UNION ALL SELECT 'orders_fk_customer',
        |    (SELECT COUNT(*) FROM orders),
        |    (SELECT COUNT(*) FROM orders WHERE o_custkey NOT IN
        |      (SELECT c_custkey FROM customer))
        |  UNION ALL SELECT 'lineitem_fk_orders',
        |    (SELECT COUNT(*) FROM lineitem),
        |    (SELECT COUNT(*) FROM lineitem WHERE l_orderkey NOT IN
        |      (SELECT o_orderkey FROM orders))
        |  UNION ALL SELECT 'lineitem_qty_range',
        |    (SELECT COUNT(*) FROM lineitem),
        |    (SELECT COUNT(*) FROM lineitem
        |     WHERE l_quantity NOT BETWEEN 1 AND 50)
        |  UNION ALL SELECT 'customer_acctbal_notnull',
        |    (SELECT COUNT(*) FROM customer),
        |    (SELECT COUNT(*) FROM customer WHERE c_acctbal IS NULL)
        |) ORDER BY check_name""".stripMargin) { (s, dir) =>
      graft.pipeline.Contracts.dataContract(t(s, dir, "orders"),
        t(s, dir, "customer"), t(s, dir, "lineitem"))
    },

    // k-anonymity / l-diversity release report over the customer
    // quasi-identifiers (nation, segment): group sizes, suppression
    // verdict at k=10, and distinct sensitive-bucket counts — the
    // Sweeney/Machanavajjhala guards a metadata release runs. One
    // partial-agg groupBy over a 3-column projection.
    QueryDef("p139_k_anonymity",
      """SELECT c_nationkey, c_mktsegment,
        |  CAST(COUNT(*) AS BIGINT) AS group_n,
        |  COUNT(*) >= 10 AS kept,
        |  CAST(COUNT(DISTINCT CAST(FLOOR(CAST(c_acctbal AS DOUBLE)
        |    / 1000.0) AS BIGINT)) AS BIGINT) AS l_div
        |FROM customer GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin) {
      (s, dir) =>
      graft.pipeline.Contracts.kAnonymity(t(s, dir, "customer"),
        Seq("c_nationkey", "c_mktsegment"),
        floor(col("c_acctbal").cast("double") / 1000.0).cast("long"),
        k = 10)
    },

    // Hybrid retrieval by reciprocal-rank fusion (Cormack SIGIR'09):
    // the p85 BM25 top-10 fused with the p06 dense cosine top-10 for
    // the same query identities (doc_id < 5 text queries ↔ vec_id < 5
    // embedding queries). The fusion join is k-bounded per query — the
    // retrievers carry all corpus-scale cost. Oracle replays BOTH
    // rankings (the p85 BM25 CTEs + the p06 cosine scan) and the
    // 1/(60+rank) arithmetic; rrf doubles are sums of exact
    // small-integer reciprocals, identical across engines.
    QueryDef("p140_hybrid_rrf",
      s"""$bm25ScoredCtes,
        |srk AS (SELECT qid, id, ROW_NUMBER() OVER (PARTITION BY qid
        |    ORDER BY score DESC, id) AS rank FROM sc),
        |sp AS (SELECT qid, id, rank FROM srk WHERE rank <= 10),
        |dq AS (SELECT vec_id AS qid, embedding AS qvec
        |  FROM embeddings WHERE vec_id < 5),
        |dsc AS (SELECT dq.qid, e.vec_id AS id,
        |    ROUND(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
        |                                 CAST(dq.qvec AS DOUBLE[])), 6)
        |      AS score
        |  FROM embeddings e CROSS JOIN dq),
        |drk AS (SELECT qid, id, ROW_NUMBER() OVER (PARTITION BY qid
        |    ORDER BY score DESC, id) AS rank FROM dsc),
        |dn AS (SELECT qid, id, rank FROM drk WHERE rank <= 10),
        |fu AS (SELECT COALESCE(sp.qid, dn.qid) AS qid,
        |    COALESCE(sp.id, dn.id) AS id,
        |    ROUND(COALESCE(CAST(1 AS DOUBLE) / (60 + sp.rank), 0)
        |        + COALESCE(CAST(1 AS DOUBLE) / (60 + dn.rank), 0), 6)
        |      AS rrf
        |  FROM sp FULL OUTER JOIN dn
        |    ON sp.qid = dn.qid AND sp.id = dn.id),
        |fr AS (SELECT qid, id, rrf, ROW_NUMBER() OVER (PARTITION BY qid
        |    ORDER BY rrf DESC, id) AS rank FROM fu)
        |SELECT qid, id AS doc_id, rrf, CAST(rank AS BIGINT) AS rank
        |FROM fr WHERE rank <= 10""".stripMargin) { (s, dir) =>
      val docs = t(s, dir, "documents")
      val queries = docs.filter(col("doc_id") < 5)
        .select(col("doc_id").as("qid"),
          concat_ws(" ", slice(TextAnalysis.tokens(lower(col("text"))),
            1, 30)).as("qtext"))
      val sparse = Retrieval.bm25TopK(docs, queries, k = 10)
        .select(col("qid"), col("doc_id").as("id"), col("rank"))
      val emb = t(s, dir, "embeddings")
      val qv = emb.filter(col("vec_id") < 5)
        .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
      val dense = Similarity.bruteForceTopK(emb, qv, k = 10)
        .select(col("qid"), col("vec_id").as("id"), col("rank"))
      Retrieval.rrfFuse(sparse, dense, k = 10)
        .select(col("qid"), col("id").as("doc_id"), col("rrf"),
          col("rank").cast("long").as("rank"))
    },

    // ColBERT-style MaxSim late interaction (Khattab & Zaharia
    // SIGIR'20): each embedding as 4 contiguous 16-dim sub-vectors,
    // score = Σ_i max_j cos(q_i, d_j). Per-slice cosines quantize to
    // exact micro-units before max/sum, so the oracle's
    // group-aggregation order can't drift the double sum — the same
    // determinism discipline as the decimal-cast SUMs.
    QueryDef("p141_maxsim_topk",
      """WITH sub0 AS (SELECT vec_id, embedding,
        |    unnest(range(0, 4)) AS i FROM embeddings),
        |sub AS (SELECT vec_id, i,
        |    list_slice(embedding, i * 16 + 1, i * 16 + 16) AS sv
        |  FROM sub0),
        |q AS (SELECT vec_id AS qid, i AS qi, sv AS qs FROM sub
        |  WHERE vec_id < 5),
        |d AS (SELECT vec_id AS id, i AS di, sv AS ds FROM sub),
        |pr AS (SELECT q.qid, d.id, q.qi,
        |    MAX(CAST(ROUND(list_cosine_similarity(
        |      CAST(d.ds AS DOUBLE[]), CAST(q.qs AS DOUBLE[])) * 1000000)
        |      AS BIGINT)) AS m
        |  FROM q CROSS JOIN d GROUP BY 1, 2, 3),
        |sc AS (SELECT qid, id,
        |    CAST(SUM(m) AS DOUBLE) / 1000000 AS score
        |  FROM pr GROUP BY 1, 2),
        |rk AS (SELECT qid, id, score,
        |    ROW_NUMBER() OVER (PARTITION BY qid
        |                       ORDER BY score DESC, id) AS rank
        |  FROM sc)
        |SELECT qid, id AS vec_id, score, CAST(rank AS BIGINT) AS rank
        |FROM rk WHERE rank <= 10""".stripMargin) { (s, dir) =>
      val corpus = t(s, dir, "embeddings")
      val queries = corpus.filter(col("vec_id") < 5)
        .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
      Similarity.maxSimTopK(corpus, queries, nSub = 4, k = 10)
        .withColumn("rank", col("rank").cast("long"))
    },

    // Ordered funnel view → click → purchase with strict first-match
    // sequencing: a user converts at step i only with a qualifying
    // event strictly after their step i−1 anchor. The oracle replays
    // the progressive min-anchor joins at microsecond granularity.
    QueryDef("p142_funnel_steps",
      """WITH s1 AS (SELECT user_id, MIN(epoch_us(ts)) AS a
        |  FROM events WHERE event_type = 'view' GROUP BY 1),
        |s2 AS (SELECT e.user_id, MIN(epoch_us(e.ts)) AS a
        |  FROM events e JOIN s1 ON e.user_id = s1.user_id
        |  WHERE e.event_type = 'click' AND epoch_us(e.ts) > s1.a
        |  GROUP BY 1),
        |s3 AS (SELECT e.user_id, MIN(epoch_us(e.ts)) AS a
        |  FROM events e JOIN s2 ON e.user_id = s2.user_id
        |  WHERE e.event_type = 'purchase' AND epoch_us(e.ts) > s2.a
        |  GROUP BY 1),
        |c AS (
        |  SELECT '1_view' AS step,
        |    CAST((SELECT COUNT(*) FROM s1) AS BIGINT) AS n_users
        |  UNION ALL SELECT '2_click',
        |    CAST((SELECT COUNT(*) FROM s2) AS BIGINT)
        |  UNION ALL SELECT '3_purchase',
        |    CAST((SELECT COUNT(*) FROM s3) AS BIGINT))
        |SELECT step, n_users,
        |  ROUND(CAST(n_users AS DOUBLE)
        |    / CAST(COALESCE(LAG(n_users) OVER (ORDER BY step), n_users)
        |           AS DOUBLE), 6) AS conv_rate
        |FROM c ORDER BY step""".stripMargin) { (s, dir) =>
      funnelSteps(t(s, dir, "events"), Seq("view", "click", "purchase"))
    },

    // OHLC hourly bars per event series: open/close via the
    // deterministic (us, event_id) order. The oracle selects the same
    // rows by ROW_NUMBER — a different mechanism (window) than Spark's
    // orderable-struct min/max (partial agg), so the selection
    // semantics are cross-checked, not just the arithmetic.
    QueryDef("p143_ohlc_bars",
      """WITH e AS (SELECT event_type, event_id,
        |    epoch_us(ts) AS us, epoch_us(ts) // 3600000000 AS hr,
        |    value AS v
        |  FROM events WHERE value IS NOT NULL),
        |r AS (SELECT event_type, hr, us, event_id, v,
        |    ROW_NUMBER() OVER (PARTITION BY event_type, hr
        |                       ORDER BY us, event_id) AS rn_a,
        |    ROW_NUMBER() OVER (PARTITION BY event_type, hr
        |                       ORDER BY us DESC, event_id DESC) AS rn_d
        |  FROM e)
        |SELECT event_type, hr,
        |  MAX(CASE WHEN rn_a = 1 THEN v END) AS open,
        |  MAX(v) AS high, MIN(v) AS low,
        |  MAX(CASE WHEN rn_d = 1 THEN v END) AS close,
        |  CAST(COUNT(*) AS BIGINT) AS n_events
        |FROM r GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin) { (s, dir) =>
      ohlcBars(t(s, dir, "events"))
    },

    // Weekly retention cohorts: first-seen week → distinct-active by
    // week offset + retention fraction. Output bounded by weeks², not
    // users; the oracle replays the cohort assignment and counts.
    QueryDef("p144_retention_cohorts",
      """WITH uw AS (SELECT DISTINCT user_id,
        |    epoch_us(ts) // 604800000000 AS wk FROM events),
        |f AS (SELECT user_id, MIN(wk) AS cohort FROM uw GROUP BY 1),
        |sz AS (SELECT cohort, CAST(COUNT(*) AS BIGINT) AS cohort_n
        |  FROM f GROUP BY 1),
        |act AS (SELECT f.cohort, uw.wk - f.cohort AS offset,
        |    CAST(COUNT(DISTINCT uw.user_id) AS BIGINT) AS n_active
        |  FROM uw JOIN f ON uw.user_id = f.user_id GROUP BY 1, 2)
        |SELECT a.cohort, a.offset, a.n_active, sz.cohort_n,
        |  ROUND(CAST(a.n_active AS DOUBLE) / CAST(sz.cohort_n AS DOUBLE),
        |    6) AS retention
        |FROM act a JOIN sz ON a.cohort = sz.cohort
        |ORDER BY 1, 2""".stripMargin) { (s, dir) =>
      retentionCohorts(t(s, dir, "events"))
    },

    // Triangle count on the supplier co-occurrence graph (suppliers
    // sharing an order are adjacent), restricted to high-quantity
    // lineitems so the graph is SPARSE — unfiltered, co-occurrence over
    // every order yields the complete graph at gate SFs (every wedge
    // closes, wedge count cubic in suppliers), which neither exercises
    // the closing test nor scales. The oracle closes wedges with
    // EXISTS — a different mechanism than the engine's semi-join —
    // and recounts edges/wedges independently.
    QueryDef("p145_triangle_count",
      """WITH os AS (SELECT DISTINCT l_orderkey AS o, l_suppkey AS s
        |  FROM lineitem WHERE l_quantity >= 48),
        |e AS (SELECT DISTINCT x.s AS a, y.s AS b
        |  FROM os x JOIN os y ON x.o = y.o AND x.s < y.s),
        |w AS (SELECT e1.a, e1.b AS m, e2.b AS c
        |  FROM e e1 JOIN e e2 ON e1.b = e2.a)
        |SELECT
        |  (SELECT CAST(COUNT(*) AS BIGINT) FROM e) AS n_edges,
        |  (SELECT CAST(COUNT(*) AS BIGINT) FROM w) AS n_wedges,
        |  (SELECT CAST(COUNT(*) AS BIGINT) FROM w
        |   WHERE EXISTS (SELECT 1 FROM e
        |                 WHERE e.a = w.a AND e.b = w.c)) AS n_triangles"""
        .stripMargin) { (s, dir) =>
      val os = t(s, dir, "lineitem")
        .filter(col("l_quantity") >= 48)
        .select(col("l_orderkey").as("o"), col("l_suppkey").as("sv"))
        .distinct()
      val edges = os.join(os.select(col("o"), col("sv").as("sw")), "o")
        .filter(col("sv") < col("sw"))
        .select(col("sv").as("a"), col("sw").as("b"))
      triangleCount(edges)
    },

    // Hourly gap fill with forward fill: the oracle re-derives the
    // per-series calendar grid (range over the observed span) and fills
    // with IGNORE NULLS last_value; values pass through untouched, so
    // both engines compare the same parquet doubles.
    QueryDef("p146_gap_fill",
      """WITH e AS (SELECT event_type AS series, epoch_us(ts) AS us,
        |    event_id, epoch_us(ts) // 3600000000 AS hr, value AS v
        |  FROM events WHERE value IS NOT NULL),
        |r AS (SELECT series, hr, v,
        |    ROW_NUMBER() OVER (PARTITION BY series, hr
        |                       ORDER BY us DESC, event_id DESC) AS rn
        |  FROM e),
        |obs AS (SELECT series, hr, v AS v_last FROM r WHERE rn = 1),
        |span AS (SELECT series, MIN(hr) AS mn, MAX(hr) AS mx
        |  FROM obs GROUP BY 1),
        |grid AS (SELECT series, unnest(range(mn, mx + 1)) AS hr FROM span)
        |SELECT g.series, g.hr,
        |  last_value(o.v_last IGNORE NULLS) OVER (
        |    PARTITION BY g.series ORDER BY g.hr
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS value,
        |  o.v_last IS NOT NULL AS observed
        |FROM grid g LEFT JOIN obs o
        |  ON g.series = o.series AND g.hr = o.hr
        |ORDER BY 1, 2""".stripMargin) { (s, dir) =>
      gapFill(t(s, dir, "events"))
    },

    // Grid-bucketed spatial neighbor join: pseudo-coordinates derived
    // from event_id by exact integer arithmetic (identical in both
    // engines), all pairs within Euclidean r=2 on a 100x100 plane. The
    // oracle is the naive quadratic self-join — proving the 3x3 cell
    // join loses no boundary pair and duplicates none.
    QueryDef("p147_grid_neighbor_join",
      """WITH p AS (SELECT event_id AS id,
        |    CAST(event_id * 73 % 1000 AS DOUBLE) / 10 AS x,
        |    CAST(event_id * 151 % 1000 AS DOUBLE) / 10 AS y
        |  FROM events WHERE event_id % 20 = 0)
        |SELECT a.id AS id_a, b.id AS id_b,
        |  round(sqrt((a.x - b.x) * (a.x - b.x) +
        |             (a.y - b.y) * (a.y - b.y)), 6) AS dist
        |FROM p a JOIN p b ON a.id < b.id
        |  AND (a.x - b.x) * (a.x - b.x) +
        |      (a.y - b.y) * (a.y - b.y) <= 4.0
        |ORDER BY 1, 2""".stripMargin) { (s, dir) =>
      val pts = t(s, dir, "events")
        .filter(col("event_id") % 20 === 0)
        .select(col("event_id").as("id"),
          ((col("event_id") * 73 % 1000).cast("double") / 10).as("x"),
          ((col("event_id") * 151 % 1000).cast("double") / 10).as("y"))
      gridNeighborPairs(pts, r = 2.0)
    },

    // Rolling z-score anomaly flags over hourly event rates with a
    // planted 300-event burst 100 hours into the click series; the
    // oracle replays the zero-filled grid, the 24-PRECEDING frame
    // stats, and the rounded-z threshold.
    QueryDef("p148_rolling_anomaly",
      """WITH c AS (SELECT event_type AS series,
        |    epoch_us(ts) // 3600000000 AS hr,
        |    CAST(COUNT(*) AS BIGINT) AS n0 FROM events GROUP BY 1, 2),
        |span AS (SELECT series, MIN(hr) AS mn, MAX(hr) AS mx
        |  FROM c GROUP BY 1),
        |grid AS (SELECT series, unnest(range(mn, mx + 1)) AS hr, mn
        |  FROM span),
        |n AS (SELECT g.series, g.hr,
        |    COALESCE(c.n0, 0) +
        |    CASE WHEN g.series = 'click' AND g.hr = g.mn + 100
        |         THEN 300 ELSE 0 END AS n
        |  FROM grid g LEFT JOIN c
        |    ON g.series = c.series AND g.hr = c.hr),
        |w AS (SELECT series, hr, n,
        |    COUNT(*) OVER f AS n_prev,
        |    AVG(n) OVER f AS mu0,
        |    STDDEV_SAMP(n) OVER f AS sd0
        |  FROM n WINDOW f AS (PARTITION BY series ORDER BY hr
        |    ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING))
        |SELECT series, hr, CAST(n AS BIGINT) AS n,
        |  round(mu0, 6) AS mu, round(sd0, 6) AS sd,
        |  CASE WHEN n_prev >= 12 AND sd0 > 0
        |       THEN round((n - mu0) / sd0, 6) END AS z,
        |  COALESCE(CASE WHEN n_prev >= 12 AND sd0 > 0
        |    THEN abs(round((n - mu0) / sd0, 6)) >= 3.0 END, FALSE)
        |    AS is_anomaly
        |FROM w ORDER BY 1, 2""".stripMargin) { (s, dir) =>
      rollingAnomaly(t(s, dir, "events"))
    },

    // Sorted-neighborhood record linkage over the planted corpus: the
    // oracle replays the prefix-key global order, the w=3 window
    // candidates, and exact token-set Jaccard (hash-vs-string set
    // equality is the p04 2^-64 argument); the planted suffix copies
    // share their original's 32-char prefix, so sort blocking finds
    // them without any hashing.
    QueryDef("p149_sorted_neighborhood",
      s"""WITH $corpusSql,
         |${shingleCtes(1)},
         |keyed AS (SELECT doc_id, substring(text, 1, 32) AS bk
         |  FROM corpus),
         |ord AS (SELECT doc_id,
         |    ROW_NUMBER() OVER (ORDER BY bk, doc_id) AS pos FROM keyed),
         |cand AS (SELECT a.doc_id AS ida, b.doc_id AS idb
         |  FROM ord a JOIN ord b
         |    ON b.pos BETWEEN a.pos + 1 AND a.pos + 3),
         |j AS (SELECT least(ida, idb) AS id_a, greatest(ida, idb) AS id_b,
         |    len(list_intersect(sa.s, sb.s)) /
         |      len(list_distinct(list_concat(sa.s, sb.s))) AS jac
         |  FROM cand JOIN sh sa ON sa.doc_id = ida
         |    JOIN sh sb ON sb.doc_id = idb)
         |SELECT id_a, id_b, round(jac, 6) AS jaccard
         |FROM j WHERE jac >= 0.5 ORDER BY 1, 2""".stripMargin) { (s, dir) =>
      Fuzzy.sortedNeighborhoodPairs(docsWithPlants(s, dir),
        "doc_id", "text")
    },

    // DBSCAN over a pseudo-random plane: 1-in-5 ids, QUADRATIC prime
    // scatter (a linear id*prime map is a rank-1 lattice whose minimum
    // point separation exceeds eps — zero pairs, all noise; the
    // quadratic term breaks the lattice, Weyl-style), eps=2, minPts=4
    // → 870 cores / 2000 points at the gate SF, with border and noise
    // both populated. The oracle re-derives the full semantics naively:
    // quadratic eps-graph, degree threshold, transitive closure of the
    // core-core graph (recursive CTE seeded with (id, id) so isolated
    // cores keep their singleton cluster), min-core-cluster border
    // assignment — proving the grid join + components composition
    // loses no boundary pair and labels identically.
    QueryDef("p150_dbscan",
      """WITH RECURSIVE p AS (SELECT event_id AS id,
        |    CAST((event_id * event_id * 73 + event_id * 7919)
        |      % 100000 AS DOUBLE) / 1000 AS x,
        |    CAST((event_id * event_id * 151 + event_id * 104729)
        |      % 100000 AS DOUBLE) / 1000 AS y
        |  FROM events WHERE event_id % 5 = 0),
        |nb AS (SELECT a.id AS ia, b.id AS ib FROM p a JOIN p b
        |  ON a.id <> b.id
        |  AND (a.x - b.x) * (a.x - b.x) +
        |      (a.y - b.y) * (a.y - b.y) <= 4.0),
        |core AS (SELECT ia AS id FROM nb GROUP BY 1
        |  HAVING COUNT(*) >= 3),
        |ce AS (SELECT ia, ib FROM nb
        |  WHERE ia IN (SELECT id FROM core)
        |    AND ib IN (SELECT id FROM core)),
        |reach(src, dst) AS (
        |  SELECT id, id FROM core
        |  UNION
        |  SELECT r.src, e.ib FROM reach r JOIN ce e ON r.dst = e.ia),
        |comp AS (SELECT src AS id, MIN(dst) AS cl FROM reach GROUP BY 1),
        |border AS (SELECT n.ia AS id, MIN(c.cl) AS cl
        |  FROM nb n JOIN comp c ON n.ib = c.id
        |  WHERE n.ia NOT IN (SELECT id FROM core) GROUP BY 1)
        |SELECT p.id,
        |  CASE WHEN co.cl IS NOT NULL THEN 'core'
        |       WHEN bo.cl IS NOT NULL THEN 'border'
        |       ELSE 'noise' END AS role,
        |  CAST(COALESCE(co.cl, bo.cl) AS BIGINT) AS cluster_id
        |FROM p LEFT JOIN comp co ON p.id = co.id
        |  LEFT JOIN border bo ON p.id = bo.id
        |ORDER BY 1""".stripMargin) { (s, dir) =>
      val pts = t(s, dir, "events")
        .filter(col("event_id") % 5 === 0)
        .select(col("event_id").as("id"),
          (((col("event_id") * col("event_id") * 73 +
            col("event_id") * 7919) % 100000).cast("double") / 1000)
            .as("x"),
          (((col("event_id") * col("event_id") * 151 +
            col("event_id") * 104729) % 100000).cast("double") / 1000)
            .as("y"))
      Clustering.dbscanGrid(pts, eps = 2.0, minPts = 4)
    },

    // Linear interpolation on the hourly grid: the oracle replays the
    // per-bucket deterministic-last collapse, both IGNORE-NULLS
    // neighbor windows, and the lerp in the identical IEEE operation
    // order before the shared round-6.
    QueryDef("p151_interpolate",
      """WITH e AS (SELECT event_type AS series, epoch_us(ts) AS us,
        |    event_id, epoch_us(ts) // 3600000000 AS hr, value AS v
        |  FROM events WHERE value IS NOT NULL),
        |r AS (SELECT series, hr, v,
        |    ROW_NUMBER() OVER (PARTITION BY series, hr
        |                       ORDER BY us DESC, event_id DESC) AS rn
        |  FROM e),
        |obs AS (SELECT series, hr, v AS v_last FROM r WHERE rn = 1),
        |span AS (SELECT series, MIN(hr) AS mn, MAX(hr) AS mx
        |  FROM obs GROUP BY 1),
        |grid AS (SELECT series, unnest(range(mn, mx + 1)) AS hr
        |  FROM span),
        |j AS (SELECT g.series, g.hr, o.v_last
        |  FROM grid g LEFT JOIN obs o
        |    ON g.series = o.series AND g.hr = o.hr),
        |w AS (SELECT series, hr, v_last,
        |    last_value(CASE WHEN v_last IS NOT NULL THEN hr END
        |      IGNORE NULLS) OVER wp AS phr,
        |    last_value(v_last IGNORE NULLS) OVER wp AS pv,
        |    first_value(CASE WHEN v_last IS NOT NULL THEN hr END
        |      IGNORE NULLS) OVER wn AS nhr,
        |    first_value(v_last IGNORE NULLS) OVER wn AS nv
        |  FROM j
        |  WINDOW wp AS (PARTITION BY series ORDER BY hr
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
        |  wn AS (PARTITION BY series ORDER BY hr
        |    ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))
        |SELECT series, hr,
        |  round(CASE WHEN v_last IS NOT NULL THEN v_last
        |    ELSE pv + (nv - pv) * (hr - phr) / (nhr - phr) END, 6)
        |    AS value,
        |  v_last IS NOT NULL AS observed
        |FROM w ORDER BY 1, 2""".stripMargin) { (s, dir) =>
      interpolateLinear(t(s, dir, "events"))
    },

    // A/B readout: md5 hash assignment (~50/50), conversion = at
    // least 14 purchases (the ≥1 form saturates at p = 1 on this
    // dense corpus and zeroes the standard error); the oracle replays
    // assignment, counts, and the pooled z in the identical IEEE
    // order, with the same se/empty-variant guards. The uniform
    // corpus gives a near-zero z — the honest null result.
    QueryDef("p163_ab_readout",
      """WITH u AS (SELECT user_id,
        |    CASE WHEN SUM(CASE WHEN event_type = 'purchase'
        |                  THEN 1 ELSE 0 END) >= 14
        |         THEN 1 ELSE 0 END AS conv,
        |    substring(md5(CAST(user_id AS VARCHAR)), 1, 1) < '8' AS va
        |  FROM events GROUP BY user_id),
        |c AS (SELECT
        |    CAST(SUM(CASE WHEN va THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
        |    CAST(SUM(CASE WHEN va THEN conv ELSE 0 END) AS BIGINT)
        |      AS conv_a,
        |    CAST(SUM(CASE WHEN NOT va THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_b,
        |    CAST(SUM(CASE WHEN NOT va THEN conv ELSE 0 END) AS BIGINT)
        |      AS conv_b
        |  FROM u),
        |e AS (SELECT *,
        |    CASE WHEN n_a > 0 THEN CAST(conv_a AS DOUBLE) / n_a END
        |      AS ra,
        |    CASE WHEN n_b > 0 THEN CAST(conv_b AS DOUBLE) / n_b END
        |      AS rb,
        |    CASE WHEN n_a > 0 AND n_b > 0 THEN
        |      sqrt(CAST(conv_a + conv_b AS DOUBLE) / (n_a + n_b) *
        |        (1.0 - CAST(conv_a + conv_b AS DOUBLE) / (n_a + n_b)) *
        |        (1.0 / n_a + 1.0 / n_b)) END AS se
        |  FROM c)
        |SELECT n_a, conv_a, round(ra, 6) AS rate_a,
        |  n_b, conv_b, round(rb, 6) AS rate_b,
        |  round(CASE WHEN se > 0 THEN (ra - rb) / se END, 6) AS z,
        |  COALESCE(abs(CASE WHEN se > 0 THEN (ra - rb) / se END)
        |    >= 1.96, false) AS significant
        |FROM e""".stripMargin) { (s, dir) =>
      abReadout(t(s, dir, "events"), minConv = 14)
    },

    // k=3 chi-square readout over three scenarios: the raw corpus
    // (md5 arms are exchangeable → small stat, unguarded), a planted
    // lift (every variant-2 user pushed over the conversion bar →
    // significant), and an 8-user slice (tn ≤ 9 makes BOTH expected
    // cells of some arm < 5 by pigeonhole → guarded NULL). The oracle
    // replays the integer guards and the fixed-association float sum
    // term by term — parenthesization mirrors the Scala reduce, so the
    // IEEE result is bit-identical.
    QueryDef("p164_chi_square",
      """WITH evs AS (
        |  SELECT '1_full' AS scenario, user_id, event_type FROM events
        |  UNION ALL
        |  SELECT '2_planted', user_id, event_type FROM events
        |  UNION ALL
        |  SELECT '2_planted', u.user_id, 'purchase' AS event_type
        |  FROM (SELECT DISTINCT user_id FROM events
        |        WHERE (strpos('0123456789abcdef',
        |            substring(md5(CAST(user_id AS VARCHAR)), 1, 1)) - 1)
        |          % 3 = 2) u,
        |       (SELECT unnest(range(0, 14)) AS i)
        |  UNION ALL
        |  SELECT '3_sparse', user_id, event_type FROM events
        |  WHERE user_id < 8),
        |u AS (SELECT scenario, user_id,
        |    CASE WHEN SUM(CASE WHEN event_type = 'purchase'
        |                  THEN 1 ELSE 0 END) >= 14
        |         THEN 1 ELSE 0 END AS conv,
        |    (strpos('0123456789abcdef',
        |        substring(md5(CAST(user_id AS VARCHAR)), 1, 1)) - 1)
        |      % 3 AS v
        |  FROM evs GROUP BY 1, 2),
        |c AS (SELECT scenario,
        |    CAST(SUM(CASE WHEN v = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_0,
        |    CAST(SUM(CASE WHEN v = 0 THEN conv ELSE 0 END) AS BIGINT)
        |      AS conv_0,
        |    CAST(SUM(CASE WHEN v = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_1,
        |    CAST(SUM(CASE WHEN v = 1 THEN conv ELSE 0 END) AS BIGINT)
        |      AS conv_1,
        |    CAST(SUM(CASE WHEN v = 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_2,
        |    CAST(SUM(CASE WHEN v = 2 THEN conv ELSE 0 END) AS BIGINT)
        |      AS conv_2
        |  FROM u GROUP BY 1),
        |g AS (SELECT *, n_0 + n_1 + n_2 AS tn,
        |    conv_0 + conv_1 + conv_2 AS tc FROM c),
        |e AS (SELECT *,
        |    (n_0 * tc >= 5 * tn AND n_0 * (tn - tc) >= 5 * tn AND
        |     n_1 * tc >= 5 * tn AND n_1 * (tn - tc) >= 5 * tn AND
        |     n_2 * tc >= 5 * tn AND n_2 * (tn - tc) >= 5 * tn AND
        |     tn > 0) AS ok,
        |    CAST(tn AS DOUBLE) AS tnd, CAST(tc AS DOUBLE) AS tcd,
        |    CAST(n_0 AS DOUBLE) AS n0d, CAST(conv_0 AS DOUBLE) AS c0d,
        |    CAST(n_1 AS DOUBLE) AS n1d, CAST(conv_1 AS DOUBLE) AS c1d,
        |    CAST(n_2 AS DOUBLE) AS n2d, CAST(conv_2 AS DOUBLE) AS c2d
        |  FROM g),
        |f AS (SELECT *,
        |    n0d * tcd / tnd AS e10, n0d * (tnd - tcd) / tnd AS e00,
        |    n1d * tcd / tnd AS e11, n1d * (tnd - tcd) / tnd AS e01,
        |    n2d * tcd / tnd AS e12, n2d * (tnd - tcd) / tnd AS e02
        |  FROM e),
        |x AS (SELECT *,
        |    CASE WHEN ok THEN round(
        |      (((c0d - e10) * (c0d - e10) / e10
        |          + (n0d - c0d - e00) * (n0d - c0d - e00) / e00)
        |       + ((c1d - e11) * (c1d - e11) / e11
        |          + (n1d - c1d - e01) * (n1d - c1d - e01) / e01))
        |      + ((c2d - e12) * (c2d - e12) / e12
        |          + (n2d - c2d - e02) * (n2d - c2d - e02) / e02), 6)
        |    END AS chi2
        |  FROM f)
        |SELECT scenario, n_0, conv_0,
        |  round(CASE WHEN n_0 > 0 THEN c0d / n_0 END, 6) AS rate_0,
        |  n_1, conv_1,
        |  round(CASE WHEN n_1 > 0 THEN c1d / n_1 END, 6) AS rate_1,
        |  n_2, conv_2,
        |  round(CASE WHEN n_2 > 0 THEN c2d / n_2 END, 6) AS rate_2,
        |  chi2, 2 AS df,
        |  COALESCE(chi2 >= 5.991, false) AS significant,
        |  NOT ok AS guarded
        |FROM x ORDER BY scenario""".stripMargin) { (s, dir) =>
      val ev = t(s, dir, "events")
        .select(col("user_id"), col("event_type"))
      val planted = ev.select("user_id").distinct()
        .filter(conv(substring(md5(col("user_id").cast("string")),
          1, 1), 16, 10).cast("int") % 3 === 2)
        .crossJoin(broadcast(s.range(14)))
        .select(col("user_id"), lit("purchase").as("event_type"))
      def run(df: DataFrame, label: String): DataFrame =
        chiSquareReadout(df, minConv = 14)
          .select((Seq(lit(label).as("scenario")) ++
            (0 until 3).flatMap(i =>
              Seq(col(s"n_$i"), col(s"conv_$i"), col(s"rate_$i"))) ++
            Seq(col("chi2"), col("df"), col("significant"),
              col("guarded"))): _*)
      run(ev, "1_full")
        .unionAll(run(ev.unionAll(planted), "2_planted"))
        .unionAll(run(ev.filter(col("user_id") < 8), "3_sparse"))
        .orderBy("scenario")
    },

    // CUPED readout over two scenarios: the raw corpus (view-count
    // covariate — correlated with conversion through user activity, so
    // var_reduction is real) and a covariate ABSENT from the corpus
    // (Var(x)=0 → θ undefined → guarded NULLs). The oracle mirrors the
    // int64 moment sums and the fixed double expression tree CTE by
    // CTE.
    QueryDef("p165_cuped",
      """WITH u1 AS (SELECT user_id,
        |    CASE WHEN SUM(CASE WHEN event_type = 'purchase'
        |                  THEN 1 ELSE 0 END) >= 14
        |         THEN 1 ELSE 0 END AS y,
        |    SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS x,
        |    substring(md5(CAST(user_id AS VARCHAR)), 1, 1) < '8' AS va
        |  FROM events GROUP BY user_id),
        |u2 AS (SELECT user_id,
        |    CASE WHEN SUM(CASE WHEN event_type = 'purchase'
        |                  THEN 1 ELSE 0 END) >= 14
        |         THEN 1 ELSE 0 END AS y,
        |    SUM(CASE WHEN event_type = 'nosuchtype'
        |        THEN 1 ELSE 0 END) AS x,
        |    substring(md5(CAST(user_id AS VARCHAR)), 1, 1) < '8' AS va
        |  FROM events GROUP BY user_id),
        |uu AS (SELECT '1_full' AS scenario, y, x, va FROM u1
        |  UNION ALL SELECT '2_novar', y, x, va FROM u2),
        |c AS (SELECT scenario,
        |    CAST(SUM(CASE WHEN va THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
        |    CAST(SUM(CASE WHEN NOT va THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_b,
        |    CAST(SUM(CASE WHEN va THEN y ELSE 0 END) AS BIGINT) AS sy_a,
        |    CAST(SUM(CASE WHEN NOT va THEN y ELSE 0 END) AS BIGINT)
        |      AS sy_b,
        |    CAST(SUM(CASE WHEN va THEN x ELSE 0 END) AS BIGINT) AS sx_a,
        |    CAST(SUM(CASE WHEN NOT va THEN x ELSE 0 END) AS BIGINT)
        |      AS sx_b,
        |    CAST(SUM(CASE WHEN va THEN x * x ELSE 0 END) AS BIGINT)
        |      AS sxx_a,
        |    CAST(SUM(CASE WHEN NOT va THEN x * x ELSE 0 END) AS BIGINT)
        |      AS sxx_b,
        |    CAST(SUM(CASE WHEN va THEN x * y ELSE 0 END) AS BIGINT)
        |      AS sxy_a,
        |    CAST(SUM(CASE WHEN NOT va THEN x * y ELSE 0 END) AS BIGINT)
        |      AS sxy_b
        |  FROM uu GROUP BY 1),
        |m AS (SELECT *,
        |    CAST(n_a AS DOUBLE) AS nad, CAST(n_b AS DOUBLE) AS nbd,
        |    CAST(n_a + n_b AS DOUBLE) AS nd,
        |    CAST(sx_a + sx_b AS DOUBLE) AS sxd,
        |    CAST(sy_a + sy_b AS DOUBLE) AS syd,
        |    CAST(sxx_a + sxx_b AS DOUBLE) AS sxxd,
        |    CAST(sxy_a + sxy_b AS DOUBLE) AS sxyd
        |  FROM c),
        |v AS (SELECT *,
        |    nd * sxxd - sxd * sxd AS varx,
        |    nd * sxyd - sxd * syd AS covxy,
        |    nd * syd - syd * syd AS vary,
        |    (n_a > 0 AND n_b > 0 AND nd * sxxd - sxd * sxd > 0
        |      AND nd * syd - syd * syd > 0) AS ok
        |  FROM m),
        |t AS (SELECT *, CASE WHEN ok THEN covxy / varx END AS theta
        |  FROM v),
        |w AS (SELECT *, vary - theta * covxy AS vard,
        |    (CAST(sy_a AS DOUBLE) / nad - CAST(sy_b AS DOUBLE) / nbd)
        |      - theta * (CAST(sx_a AS DOUBLE) / nad
        |                 - CAST(sx_b AS DOUBLE) / nbd) AS adjdiff
        |  FROM t),
        |sx AS (SELECT *, CASE WHEN vard > 0 THEN
        |      sqrt(vard / (nd * nd) * (1.0 / nad + 1.0 / nbd)) END AS se
        |  FROM w),
        |zt AS (SELECT *, CASE WHEN se > 0 THEN adjdiff / se END AS z
        |  FROM sx)
        |SELECT scenario, n_a, n_b,
        |  round(CASE WHEN n_a > 0 THEN CAST(sy_a AS DOUBLE) / nad END,
        |    6) AS rate_a,
        |  round(CASE WHEN n_b > 0 THEN CAST(sy_b AS DOUBLE) / nbd END,
        |    6) AS rate_b,
        |  round(theta, 6) AS theta,
        |  round(adjdiff, 6) AS adj_diff,
        |  round(CASE WHEN ok THEN 1.0 - vard / vary END, 6)
        |    AS var_reduction,
        |  round(z, 6) AS z_adj,
        |  COALESCE(abs(z) >= 1.96, false) AS significant,
        |  NOT COALESCE(se > 0, false) AS guarded
        |FROM zt ORDER BY scenario""".stripMargin) { (s, dir) =>
      val ev = t(s, dir, "events")
        .select(col("user_id"), col("event_type"))
      def run(covType: String, label: String): DataFrame =
        cupedReadout(ev, minConv = 14, covType = covType)
          .select((Seq(lit(label).as("scenario")) ++ Seq("n_a", "n_b",
            "rate_a", "rate_b", "theta", "adj_diff", "var_reduction",
            "z_adj", "significant", "guarded").map(col)): _*)
      run("view", "1_full").unionAll(run("nosuchtype", "2_novar"))
        .orderBy("scenario")
    },

    // Stratified sample with exact largest-remainder allocation: the
    // oracle replays the int64 apportionment (base = B·c div C,
    // leftovers by remainder rank), the per-stratum md5 draw order,
    // and the under-fill cap, row for row.
    QueryDef("p166_stratified_sample",
      """WITH c AS (SELECT source AS s, CAST(COUNT(*) AS BIGINT) AS c
        |  FROM documents GROUP BY 1),
        |t AS (SELECT CAST(SUM(c) AS BIGINT) AS tc FROM c),
        |b AS (SELECT s, c, 200 * c // tc AS b, 200 * c % tc AS r
        |  FROM c, t),
        |a AS (SELECT s, c, b, r,
        |    CASE WHEN ROW_NUMBER() OVER (ORDER BY r DESC, s)
        |      <= 200 - (SELECT SUM(b) FROM b) THEN 1 ELSE 0 END AS extra
        |  FROM b),
        |al AS (SELECT s AS source,
        |    CAST(LEAST(b + extra, c) AS BIGINT) AS n_alloc FROM a),
        |d AS (SELECT source, doc_id,
        |    md5('strat:' || CAST(doc_id AS VARCHAR)) AS draw
        |  FROM documents),
        |rk AS (SELECT source, doc_id,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY source
        |      ORDER BY draw, doc_id) AS BIGINT) AS rank_in_stratum
        |  FROM d)
        |SELECT rk.source, rk.doc_id, rk.rank_in_stratum, al.n_alloc
        |FROM rk JOIN al USING (source)
        |WHERE rk.rank_in_stratum <= al.n_alloc
        |ORDER BY 1, 3""".stripMargin) { (s, dir) =>
      Corpus.stratifiedSample(
        t(s, dir, "documents").select("doc_id", "source"), budget = 200)
    },

    // Mixture reweighting: the recipe gives source srcN the target
    // share (1 + N%3)/39 (indices deterministic in both engines); the
    // oracle replays the whitespace token mass, the shares, and the
    // guarded weight = tgt·total/n_tokens term for term.
    QueryDef("p168_mixture_weights",
      """WITH tk AS (
        |  SELECT source,
        |    CAST(CASE WHEN length(w) = 0 THEN 0
        |         ELSE len(string_split_regex(w, '\s+')) END AS BIGINT)
        |      AS nt
        |  FROM (SELECT source,
        |          regexp_replace(text, '^\s+|\s+$', '', 'g') AS w
        |        FROM documents)),
        |per AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |    CAST(SUM(nt) AS BIGINT) AS n_tokens
        |  FROM tk GROUP BY 1),
        |tot AS (SELECT CAST(SUM(n_tokens) AS BIGINT) AS tot FROM per),
        |j AS (SELECT per.*, tot.tot,
        |    CAST(1 + CAST(regexp_extract(source, 'src(\d+)', 1) AS INT)
        |      % 3 AS DOUBLE) / CAST(39 AS DOUBLE) AS tgt
        |  FROM per, tot)
        |SELECT source, n_docs, n_tokens,
        |  round(CASE WHEN tot > 0
        |    THEN CAST(n_tokens AS DOUBLE) / CAST(tot AS DOUBLE) END, 6)
        |    AS nat_share,
        |  round(tgt, 6) AS tgt_share,
        |  round(CASE WHEN n_tokens > 0
        |    THEN tgt * CAST(tot AS DOUBLE) / CAST(n_tokens AS DOUBLE)
        |    END, 6) AS weight,
        |  COALESCE(CASE WHEN n_tokens > 0
        |    THEN tgt * CAST(tot AS DOUBLE) / CAST(n_tokens AS DOUBLE)
        |    END > 1.0, false) AS upsampled
        |FROM j ORDER BY source""".stripMargin) { (s, dir) =>
      val recipe = (0 until 20).map(n =>
        s"src$n" -> (1 + n % 3) / 39.0).toMap
      Corpus.mixtureWeights(
        t(s, dir, "documents").select("source", "text"), recipe)
    },

    // Classifier evaluation (AUC + calibration) for the p97 quality
    // model: the oracle replays the 3-step GD training (the p97 CTE
    // skeleton), the 6-decimal sigmoid scores, the midrank Mann-
    // Whitney rank sum in DECIMAL(18,0) products, and the reliability
    // bins. Scenario 2 (label 'zz' — absent) pins the degenerate
    // no-positives guard; scenario 3 (steps=0 → every p=0.5) pins the
    // all-tied midrank path at exactly auc=0.5.
    QueryDef("p169_classifier_eval",
      """WITH f AS (
        |  SELECT CASE WHEN lang = 'en' THEN 1.0 ELSE 0.0 END AS y,
        |    CASE WHEN lang = 'zz' THEN 1 ELSE 0 END AS y_zz,
        |    1.0 AS x0,
        |    ln(1.0 + CAST(nt AS DOUBLE)) AS x1,
        |    CAST(length(text) AS DOUBLE) / CAST(nt AS DOUBLE) AS x2
        |  FROM (SELECT lang, text, CASE
        |      WHEN length(regexp_replace(text, '^\s+|\s+$', '', 'g')) = 0
        |      THEN 0
        |      ELSE len(string_split_regex(
        |        regexp_replace(text, '^\s+|\s+$', '', 'g'), '\s+'))
        |      END AS nt
        |    FROM documents)
        |  WHERE nt > 0),
        |n AS (SELECT count(*) AS m FROM f),
        |ws0 AS (SELECT 0.0 AS w0, 0.0 AS w1, 0.0 AS w2),
        |g1 AS (SELECT
        |    CAST(sum(CAST((1.0/(1.0+exp(-(w0*x0+w1*x1+w2*x2))) - y)*x0
        |      AS DECIMAL(28,12))) AS DOUBLE) AS g0,
        |    CAST(sum(CAST((1.0/(1.0+exp(-(w0*x0+w1*x1+w2*x2))) - y)*x1
        |      AS DECIMAL(28,12))) AS DOUBLE) AS g1,
        |    CAST(sum(CAST((1.0/(1.0+exp(-(w0*x0+w1*x1+w2*x2))) - y)*x2
        |      AS DECIMAL(28,12))) AS DOUBLE) AS g2
        |  FROM f CROSS JOIN ws0),
        |ws1 AS (SELECT w0 - 1.0*(g0/CAST(m AS DOUBLE)) AS w0,
        |    w1 - 1.0*(g1/CAST(m AS DOUBLE)) AS w1,
        |    w2 - 1.0*(g2/CAST(m AS DOUBLE)) AS w2
        |  FROM g1 CROSS JOIN ws0 CROSS JOIN n),
        |g2 AS (SELECT
        |    CAST(sum(CAST((1.0/(1.0+exp(-(w0*x0+w1*x1+w2*x2))) - y)*x0
        |      AS DECIMAL(28,12))) AS DOUBLE) AS g0,
        |    CAST(sum(CAST((1.0/(1.0+exp(-(w0*x0+w1*x1+w2*x2))) - y)*x1
        |      AS DECIMAL(28,12))) AS DOUBLE) AS g1,
        |    CAST(sum(CAST((1.0/(1.0+exp(-(w0*x0+w1*x1+w2*x2))) - y)*x2
        |      AS DECIMAL(28,12))) AS DOUBLE) AS g2
        |  FROM f CROSS JOIN ws1),
        |ws2 AS (SELECT w0 - 1.0*(g0/CAST(m AS DOUBLE)) AS w0,
        |    w1 - 1.0*(g1/CAST(m AS DOUBLE)) AS w1,
        |    w2 - 1.0*(g2/CAST(m AS DOUBLE)) AS w2
        |  FROM g2 CROSS JOIN ws1 CROSS JOIN n),
        |g3 AS (SELECT
        |    CAST(sum(CAST((1.0/(1.0+exp(-(w0*x0+w1*x1+w2*x2))) - y)*x0
        |      AS DECIMAL(28,12))) AS DOUBLE) AS g0,
        |    CAST(sum(CAST((1.0/(1.0+exp(-(w0*x0+w1*x1+w2*x2))) - y)*x1
        |      AS DECIMAL(28,12))) AS DOUBLE) AS g1,
        |    CAST(sum(CAST((1.0/(1.0+exp(-(w0*x0+w1*x1+w2*x2))) - y)*x2
        |      AS DECIMAL(28,12))) AS DOUBLE) AS g2
        |  FROM f CROSS JOIN ws2),
        |ws3 AS (SELECT w0 - 1.0*(g0/CAST(m AS DOUBLE)) AS w0,
        |    w1 - 1.0*(g1/CAST(m AS DOUBLE)) AS w1,
        |    w2 - 1.0*(g2/CAST(m AS DOUBLE)) AS w2
        |  FROM g3 CROSS JOIN ws2 CROSS JOIN n),
        |sc AS (
        |  SELECT '1_en' AS scenario, CAST(y AS BIGINT) AS yl,
        |    round(1.0/(1.0+exp(-(w0*x0+w1*x1+w2*x2))), 6) AS p
        |  FROM f CROSS JOIN ws3
        |  UNION ALL
        |  SELECT '2_nopos', y_zz, 0.5 FROM f
        |  UNION ALL
        |  SELECT '3_const', CAST(y AS BIGINT), 0.5 FROM f),
        |g AS (SELECT scenario, p, CAST(count(*) AS BIGINT) AS c,
        |    CAST(sum(yl) AS BIGINT) AS np
        |  FROM sc GROUP BY 1, 2),
        |o AS (SELECT scenario, p, c, np,
        |    CAST(COALESCE(SUM(c) OVER (PARTITION BY scenario ORDER BY p
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS BIGINT) AS below
        |  FROM g),
        |tt AS (SELECT scenario,
        |    COALESCE(SUM(CAST(np AS DECIMAL(18,0)) *
        |      CAST(below*2 + c + 1 AS DECIMAL(18,0))),
        |      CAST(0 AS DECIMAL(18,0))) AS r2,
        |    CAST(COALESCE(SUM(np), 0) AS DECIMAL(18,0)) AS npos,
        |    CAST(COALESCE(SUM(c - np), 0) AS DECIMAL(18,0)) AS nneg
        |  FROM o GROUP BY 1),
        |su AS (SELECT scenario,
        |    round(CASE WHEN npos > 0 AND nneg > 0 THEN
        |      CAST(r2 - npos*(npos+1) AS DOUBLE) /
        |      CAST(npos*nneg*2 AS DOUBLE) END, 6) AS auc,
        |    CAST(npos AS BIGINT) AS n_pos,
        |    CAST(nneg AS BIGINT) AS n_neg,
        |    NOT (npos > 0 AND nneg > 0) AS guarded
        |  FROM tt),
        |b AS (SELECT scenario,
        |    CAST(least(floor(p*10), 9) AS INT) AS bin,
        |    CAST(count(*) AS BIGINT) AS n_bin,
        |    round(CAST(sum(CAST(p AS DECIMAL(28,12))) AS DOUBLE) /
        |      CAST(count(*) AS DOUBLE), 6) AS mean_p,
        |    round(CAST(sum(yl) AS DOUBLE) / CAST(count(*) AS DOUBLE), 6)
        |      AS frac_pos
        |  FROM sc GROUP BY 1, 2)
        |SELECT b.scenario, b.bin, b.n_bin, b.mean_p, b.frac_pos,
        |  su.n_pos, su.n_neg, su.auc, su.guarded
        |FROM b JOIN su USING (scenario)
        |ORDER BY 1, 2""".stripMargin) { (s, dir) =>
      val docs = t(s, dir, "documents")
      // ONE tokenizing corpus pass shared by all three scenarios (the
      // p184 gate-level-barrier lesson; guide §1.2): each scenario's
      // label derives from the barrier's raw lang column, so the
      // per-scenario fit/readout is unchanged while the corpus is
      // scanned once instead of three times
      val lf = TextAnalysis.logregLangFeats(docs, "lang", "text")
      def run(steps: Int, posLang: String, label: String): DataFrame =
        TextAnalysis.classifierEvalFromLangFeats(lf, steps = steps,
            lr = 1.0, nBins = 10, posLang = posLang)
          .select(lit(label).as("scenario"), col("bin"), col("n_bin"),
            col("mean_p"), col("frac_pos"), col("n_pos"), col("n_neg"),
            col("auc"), col("guarded"))
      run(3, "en", "1_en")
        .unionAll(run(0, "zz", "2_nopos"))
        .unionAll(run(0, "en", "3_const"))
        .orderBy("scenario", "bin")
    },

    // Trimmed-mean robust readout: the oracle replays the md5 arm
    // split, the exact per-arm (x, user_id) ranks, the integer trim
    // bounds, and both decimal-sum means term for term.
    QueryDef("p170_trimmed_readout",
      """WITH u AS (SELECT user_id, CAST(COUNT(*) AS BIGINT) AS x,
        |    CASE WHEN substring(md5(CAST(user_id AS VARCHAR)), 1, 1)
        |      < '8' THEN 'A' ELSE 'B' END AS arm
        |  FROM events GROUP BY 1),
        |r AS (SELECT arm, x,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY arm
        |      ORDER BY x, user_id) AS BIGINT) AS rk,
        |    CAST(COUNT(*) OVER (PARTITION BY arm) AS BIGINT) AS n
        |  FROM u),
        |t AS (SELECT arm, rk, x, n, (n * 5) // 100 AS lo FROM r)
        |SELECT arm, CAST(MAX(n) AS BIGINT) AS n_users,
        |  CAST(MAX(lo) AS BIGINT) AS n_trim,
        |  CAST(SUM(CASE WHEN rk > lo AND rk <= n - lo
        |    THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
        |  round(CAST(SUM(CAST(x AS DECIMAL(28,0))) AS DOUBLE) /
        |    CAST(MAX(n) AS DOUBLE), 6) AS mean_raw,
        |  round(CAST(SUM(CASE WHEN rk > lo AND rk <= n - lo
        |      THEN CAST(x AS DECIMAL(28,0))
        |      ELSE CAST(0 AS DECIMAL(28,0)) END) AS DOUBLE) /
        |    CAST(SUM(CASE WHEN rk > lo AND rk <= n - lo
        |      THEN 1 ELSE 0 END) AS DOUBLE), 6) AS mean_trimmed
        |FROM t GROUP BY arm ORDER BY arm""".stripMargin) { (s, dir) =>
      trimmedReadout(t(s, dir, "events").select("user_id"))
    },

    // Labeler agreement: scenario 1 pits a char-threshold labeler
    // against a token-threshold labeler (correlated but not identical
    // → a real kappa); scenario 2 makes both labelers constant-true,
    // pinning the exact-int64 p_e=1 guard. The oracle replays the
    // confusion cells and the fixed kappa tree.
    QueryDef("p171_labeler_kappa",
      """WITH tk AS (SELECT n_chars,
        |    CAST(CASE WHEN length(w) = 0 THEN 0
        |         ELSE len(string_split_regex(w, '\s+')) END AS BIGINT)
        |      AS nt
        |  FROM (SELECT n_chars,
        |          regexp_replace(text, '^\s+|\s+$', '', 'g') AS w
        |        FROM documents)),
        |l AS (SELECT n_chars >= 300 AS la, nt >= 55 AS lb FROM tk),
        |c AS (SELECT
        |    CAST(SUM(CASE WHEN la AND lb THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n11,
        |    CAST(SUM(CASE WHEN la AND NOT lb THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n10,
        |    CAST(SUM(CASE WHEN NOT la AND lb THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n01,
        |    CAST(SUM(CASE WHEN NOT la AND NOT lb THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n00
        |  FROM l),
        |k AS (SELECT *, n11 + n10 + n01 + n00 AS n,
        |    n11 + n10 AS a1, n11 + n01 AS b1 FROM c),
        |e AS (SELECT *, a1*b1 + (n - a1)*(n - b1) AS pe_num,
        |    CAST(n11 + n00 AS DOUBLE) / CAST(n AS DOUBLE) AS po,
        |    CAST(a1*b1 + (n - a1)*(n - b1) AS DOUBLE) /
        |      CAST(n*n AS DOUBLE) AS pe
        |  FROM k),
        |r AS (SELECT '1_real' AS scenario, n11, n10, n01, n00, n,
        |    round(po, 6) AS p_observed, round(pe, 6) AS p_chance,
        |    round(CASE WHEN n > 0 AND n*n - pe_num > 0
        |      THEN (po - pe) / (1.0 - pe) END, 6) AS kappa,
        |    NOT (n > 0 AND n*n - pe_num > 0) AS guarded
        |  FROM e),
        |c2 AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM documents)
        |SELECT * FROM r
        |UNION ALL
        |SELECT '2_const', n, CAST(0 AS BIGINT), CAST(0 AS BIGINT),
        |  CAST(0 AS BIGINT), n, 1.0, 1.0, NULL, true FROM c2
        |ORDER BY 1""".stripMargin) { (s, dir) =>
      import graft.pipeline.TextAnalysis
      val docs = t(s, dir, "documents")
      val real = labelerKappa(docs,
          col("n_chars") >= 300,
          TextAnalysis.tokenCount(col("text")) >= 55)
        .select((lit("1_real").as("scenario") +: Seq("n11", "n10",
          "n01", "n00", "n", "p_observed", "p_chance", "kappa",
          "guarded").map(col)): _*)
      val const = labelerKappa(docs, lit(true), lit(true))
        .select((lit("2_const").as("scenario") +: Seq("n11", "n10",
          "n01", "n00", "n", "p_observed", "p_chance", "kappa",
          "guarded").map(col)): _*)
      real.unionAll(const).orderBy("scenario")
    },

    // MDE/power readout: the oracle replays the md5 split, the pooled
    // rate, the (z_a/2 + z_b)·SE minimum detectable effect, and the
    // powered-for-observed verdict term for term.
    QueryDef("p172_mde_readout",
      """WITH u AS (SELECT user_id,
        |    CASE WHEN SUM(CASE WHEN event_type = 'purchase'
        |      THEN 1 ELSE 0 END) >= 1 THEN 1 ELSE 0 END AS conv,
        |    substring(md5(CAST(user_id AS VARCHAR)), 1, 1) < '8' AS va
        |  FROM events GROUP BY user_id),
        |c AS (SELECT
        |    CAST(SUM(CASE WHEN va THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
        |    CAST(SUM(CASE WHEN va THEN conv ELSE 0 END) AS BIGINT)
        |      AS conv_a,
        |    CAST(SUM(CASE WHEN NOT va THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_b,
        |    CAST(SUM(CASE WHEN NOT va THEN conv ELSE 0 END) AS BIGINT)
        |      AS conv_b
        |  FROM u),
        |e AS (SELECT *,
        |    CASE WHEN n_a > 0 AND n_b > 0 THEN
        |      CAST(conv_a + conv_b AS DOUBLE) / CAST(n_a + n_b AS DOUBLE)
        |    END AS p FROM c),
        |m AS (SELECT *,
        |    CASE WHEN n_a > 0 AND n_b > 0 THEN
        |      (1.959964 + 0.841621) * sqrt(p * (1.0 - p) *
        |        (1.0 / n_a + 1.0 / n_b)) END AS mde,
        |    CASE WHEN n_a > 0 THEN CAST(conv_a AS DOUBLE) / n_a END
        |      AS ra,
        |    CASE WHEN n_b > 0 THEN CAST(conv_b AS DOUBLE) / n_b END
        |      AS rb
        |  FROM e)
        |SELECT n_a, conv_a, n_b, conv_b,
        |  round(p, 6) AS rate_pooled,
        |  round(mde, 6) AS mde_abs,
        |  round(CASE WHEN n_a > 0 AND n_b > 0 AND p > 0
        |    THEN mde / p END, 6) AS mde_rel,
        |  COALESCE(abs(ra - rb) >= mde, false) AS powered_for_observed,
        |  NOT (n_a > 0 AND n_b > 0) AS guarded
        |FROM m""".stripMargin) { (s, dir) =>
      mdeReadout(t(s, dir, "events")
        .select("user_id", "event_type"))
    },

    // Deterministic Poisson bootstrap: the oracle replays the md5
    // uniform (s30's hex-digit expansion — exact powers of 16, exact
    // /2^32), the identical inverse-CDF literals, the int64 replica
    // sums, and the rank-2/rank-38 CI picks over the 40 replicas.
    QueryDef("p173_bootstrap_ci",
      """WITH bb AS (SELECT unnest(range(40)) AS b),
        |d AS (SELECT doc_id, CAST(n_chars AS BIGINT) AS x
        |  FROM documents),
        |h AS (SELECT x, b,
        |    substring(md5(CAST(doc_id AS VARCHAR) || ':' ||
        |      CAST(b AS VARCHAR)), 1, 8) AS hx
        |  FROM d CROSS JOIN bb),
        |uu AS (SELECT x, b,
        |   ((strpos('0123456789abcdef', substring(hx,1,1)) - 1) * 268435456.0
        |  + (strpos('0123456789abcdef', substring(hx,2,1)) - 1) * 16777216.0
        |  + (strpos('0123456789abcdef', substring(hx,3,1)) - 1) * 1048576.0
        |  + (strpos('0123456789abcdef', substring(hx,4,1)) - 1) * 65536.0
        |  + (strpos('0123456789abcdef', substring(hx,5,1)) - 1) * 4096.0
        |  + (strpos('0123456789abcdef', substring(hx,6,1)) - 1) * 256.0
        |  + (strpos('0123456789abcdef', substring(hx,7,1)) - 1) * 16.0
        |  + (strpos('0123456789abcdef', substring(hx,8,1)) - 1))
        |    / 4294967296.0 AS u
        |  FROM h),
        |p AS (SELECT x, b, CASE
        |    WHEN u < 0.36787944117144233 THEN 0
        |    WHEN u < 0.7357588823428847 THEN 1
        |    WHEN u < 0.9196986029286058 THEN 2
        |    WHEN u < 0.9810118431238462 THEN 3
        |    WHEN u < 0.9963401531726563 THEN 4
        |    WHEN u < 0.9994058151824183 THEN 5
        |    WHEN u < 0.9999167588507119 THEN 6
        |    WHEN u < 0.9999897508033253 THEN 7
        |    WHEN u < 0.9999988747974020 THEN 8
        |    ELSE 9 END AS w FROM uu),
        |m AS (SELECT b, round(CASE WHEN SUM(w) > 0 THEN
        |    CAST(SUM(w * x) AS DOUBLE) / CAST(SUM(w) AS DOUBLE) END, 6)
        |    AS m
        |  FROM p GROUP BY 1),
        |r AS (SELECT m, ROW_NUMBER() OVER (ORDER BY m, b) AS rk FROM m),
        |ci AS (SELECT MAX(CASE WHEN rk = 2 THEN m END) AS ci_lo,
        |    MAX(CASE WHEN rk = 38 THEN m END) AS ci_hi,
        |    CAST(COUNT(*) AS BIGINT) AS n_replicas FROM r),
        |f AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
        |    round(CAST(SUM(CAST(n_chars AS BIGINT)) AS DOUBLE) /
        |      CAST(COUNT(*) AS DOUBLE), 6) AS mean_full
        |  FROM documents)
        |SELECT f.n, f.mean_full, ci.n_replicas, ci.ci_lo, ci.ci_hi,
        |  COALESCE(ci.ci_lo <= f.mean_full AND
        |    f.mean_full <= ci.ci_hi, false) AS mean_in_ci
        |FROM f CROSS JOIN ci""".stripMargin) { (s, dir) =>
      bootstrapCi(t(s, dir, "documents").select("doc_id", "n_chars"),
        "n_chars")
    },

    // Operating points: the oracle replays a 1-step GD fit (the p97
    // CTE skeleton truncated — 1 step keeps the scores in a range the
    // 0.01…0.09 cuts actually bisect; 3 steps drives every score to
    // ~1e-5 and the table degenerates), the 6-decimal scores, all 27
    // confusion counters, and the guarded precision/recall/F1 tree.
    QueryDef("p174_operating_points",
      """WITH f AS (
        |  SELECT CASE WHEN lang = 'en' THEN 1.0 ELSE 0.0 END AS y,
        |    1.0 AS x0,
        |    ln(1.0 + CAST(nt AS DOUBLE)) AS x1,
        |    CAST(length(text) AS DOUBLE) / CAST(nt AS DOUBLE) AS x2
        |  FROM (SELECT lang, text, CASE
        |      WHEN length(regexp_replace(text, '^\s+|\s+$', '', 'g')) = 0
        |      THEN 0
        |      ELSE len(string_split_regex(
        |        regexp_replace(text, '^\s+|\s+$', '', 'g'), '\s+'))
        |      END AS nt
        |    FROM documents)
        |  WHERE nt > 0),
        |n AS (SELECT count(*) AS m FROM f),
        |ws0 AS (SELECT 0.0 AS w0, 0.0 AS w1, 0.0 AS w2),
        |g1 AS (SELECT
        |    CAST(sum(CAST((1.0/(1.0+exp(-(w0*x0+w1*x1+w2*x2))) - y)*x0
        |      AS DECIMAL(28,12))) AS DOUBLE) AS g0,
        |    CAST(sum(CAST((1.0/(1.0+exp(-(w0*x0+w1*x1+w2*x2))) - y)*x1
        |      AS DECIMAL(28,12))) AS DOUBLE) AS g1,
        |    CAST(sum(CAST((1.0/(1.0+exp(-(w0*x0+w1*x1+w2*x2))) - y)*x2
        |      AS DECIMAL(28,12))) AS DOUBLE) AS g2
        |  FROM f CROSS JOIN ws0),
        |ws1 AS (SELECT w0 - 1.0*(g0/CAST(m AS DOUBLE)) AS w0,
        |    w1 - 1.0*(g1/CAST(m AS DOUBLE)) AS w1,
        |    w2 - 1.0*(g2/CAST(m AS DOUBLE)) AS w2
        |  FROM g1 CROSS JOIN ws0 CROSS JOIN n),
        |sc AS (SELECT CAST(y AS BIGINT) AS yl,
        |    round(1.0/(1.0+exp(-(w0*x0+w1*x1+w2*x2))), 6) AS p
        |  FROM f CROSS JOIN ws1),
        |th AS (SELECT unnest([0.01, 0.02, 0.03, 0.04, 0.05, 0.06,
        |    0.07, 0.08, 0.09]) AS threshold),
        |c AS (SELECT threshold,
        |    CAST(COALESCE(SUM(CASE WHEN p >= threshold THEN yl
        |      ELSE 0 END), 0) AS BIGINT) AS tp,
        |    CAST(COALESCE(SUM(CASE WHEN p >= threshold THEN 1 - yl
        |      ELSE 0 END), 0) AS BIGINT) AS fp,
        |    CAST(COALESCE(SUM(CASE WHEN p < threshold AND yl = 1
        |      THEN 1 ELSE 0 END), 0) AS BIGINT) AS fn
        |  FROM th LEFT JOIN sc ON true GROUP BY 1)
        |SELECT threshold, tp, fp, fn,
        |  round(CASE WHEN tp + fp > 0
        |    THEN CAST(tp AS DOUBLE) / (tp + fp) END, 6) AS prec,
        |  round(CASE WHEN tp + fn > 0
        |    THEN CAST(tp AS DOUBLE) / (tp + fn) END, 6) AS rec,
        |  round(CASE WHEN
        |      (CASE WHEN tp + fp > 0
        |         THEN CAST(tp AS DOUBLE) / (tp + fp) END) +
        |      (CASE WHEN tp + fn > 0
        |         THEN CAST(tp AS DOUBLE) / (tp + fn) END) > 0
        |    THEN 2.0 *
        |      (CAST(tp AS DOUBLE) / (tp + fp)) *
        |      (CAST(tp AS DOUBLE) / (tp + fn)) /
        |      ((CAST(tp AS DOUBLE) / (tp + fp)) +
        |       (CAST(tp AS DOUBLE) / (tp + fn))) END, 6) AS f1
        |FROM c ORDER BY 1""".stripMargin) { (s, dir) =>
      TextAnalysis.operatingPoints(t(s, dir, "documents"), steps = 1,
        ths = (1 to 9).map(_ / 100.0))
    },

    // One-way ANOVA by source: the oracle replays the exact HUGEINT
    // moment sums, the DECIMAL(38,12)-pinned Σs_g²/n_g cross-group
    // sum, the SSB/SSW decomposition, and the guarded F/η² tree.
    // Scenario 2 feeds a constant metric (SSW = 0 → guarded).
    QueryDef("p178_anova_f",
      """WITH d AS (SELECT scenario, source,
        |    CASE WHEN scenario = '1_real' THEN n_chars ELSE 1 END AS x
        |  FROM documents CROSS JOIN
        |    (SELECT unnest(['1_real', '2_const']) AS scenario)),
        |g AS (SELECT scenario, source,
        |    CAST(COUNT(*) AS BIGINT) AS n_g,
        |    SUM(CAST(x AS HUGEINT)) AS s_g,
        |    SUM(CAST(x AS HUGEINT) * CAST(x AS HUGEINT)) AS q_g
        |  FROM d GROUP BY 1, 2),
        |s AS (SELECT scenario,
        |    CAST(COUNT(*) AS BIGINT) AS k_groups,
        |    CAST(COALESCE(SUM(n_g), 0) AS BIGINT) AS n,
        |    CAST(SUM(s_g) AS DOUBLE) AS s_all,
        |    CAST(SUM(q_g) AS DOUBLE) AS q_all,
        |    CAST(SUM(CAST(CAST(s_g AS DOUBLE) * CAST(s_g AS DOUBLE) /
        |      CAST(n_g AS DOUBLE) AS DECIMAL(38,12))) AS DOUBLE)
        |      AS ssb_part
        |  FROM g GROUP BY 1),
        |e AS (SELECT *,
        |    ssb_part - s_all * s_all / CAST(n AS DOUBLE) AS ssb,
        |    q_all - ssb_part AS ssw FROM s),
        |f AS (SELECT *,
        |    k_groups >= 2 AND n > k_groups AND ssw > 0 AS ok FROM e)
        |SELECT scenario, k_groups, n,
        |  round(CASE WHEN n > 0 THEN ssb END, 6) AS ssb,
        |  round(CASE WHEN n > 0 THEN ssw END, 6) AS ssw,
        |  CASE WHEN k_groups >= 1 THEN k_groups - 1 END AS df1,
        |  CASE WHEN n >= k_groups THEN n - k_groups END AS df2,
        |  round(CASE WHEN ok THEN (ssb / (k_groups - 1.0)) /
        |    (ssw / (CAST(n AS DOUBLE) - k_groups)) END, 6) AS f_stat,
        |  round(CASE WHEN n > 0 AND ssb + ssw > 0
        |    THEN ssb / (ssb + ssw) END, 6) AS eta_sq,
        |  NOT ok AS guarded
        |FROM f ORDER BY 1""".stripMargin) { (s, dir) =>
      val docs = t(s, dir, "documents")
      val outCols = Seq("k_groups", "n", "ssb", "ssw", "df1", "df2",
        "f_stat", "eta_sq", "guarded").map(col)
      val real = anovaF(docs.select(col("source"), col("n_chars")),
          "n_chars", "source")
        .select(lit("1_real").as("scenario") +: outCols: _*)
      val const = anovaF(docs.select(col("source"),
          lit(1L).as("c1")), "c1", "source")
        .select(lit("2_const").as("scenario") +: outCols: _*)
      real.unionAll(const).orderBy("scenario")
    },

    // BH-FDR across the 5-metric family: the oracle replays the
    // md5 arms, per-metric pooled z, the A&S tail polynomial term
    // for term, the (p, metric) rank, and the step-up suffix max.
    QueryDef("p175_fdr_bh",
      """WITH mm AS (SELECT unnest(['click', 'error', 'purchase',
        |    'signup', 'view']) AS metric),
        |uu AS (SELECT DISTINCT user_id FROM events),
        |u AS (SELECT user_id,
        |    substring(md5(CAST(user_id AS VARCHAR)), 1, 1) < '8' AS va
        |  FROM uu),
        |tot AS (SELECT
        |    CAST(COALESCE(SUM(CASE WHEN va THEN 1 ELSE 0 END), 0)
        |      AS BIGINT) AS n_a,
        |    CAST(COALESCE(SUM(CASE WHEN NOT va THEN 1 ELSE 0 END), 0)
        |      AS BIGINT) AS n_b FROM u),
        |um AS (SELECT user_id, event_type AS metric FROM events
        |  GROUP BY 1, 2 HAVING COUNT(*) >= 14),
        |cm AS (SELECT mm.metric,
        |    CAST(COALESCE(SUM(CASE WHEN u.va THEN 1 ELSE 0 END), 0)
        |      AS BIGINT) AS conv_a,
        |    CAST(COALESCE(SUM(CASE WHEN NOT u.va THEN 1 ELSE 0 END),
        |      0) AS BIGINT) AS conv_b
        |  FROM mm LEFT JOIN um ON um.metric = mm.metric
        |    LEFT JOIN u ON um.user_id = u.user_id
        |  GROUP BY 1),
        |base AS (SELECT metric, n_a, conv_a, n_b, conv_b
        |  FROM cm CROSS JOIN tot),
        |zz AS (SELECT *, CASE WHEN n_a > 0 AND n_b > 0 THEN
        |    CAST(conv_a + conv_b AS DOUBLE) / (n_a + n_b) END AS pp
        |  FROM base),
        |ss AS (SELECT *, CASE WHEN n_a > 0 AND n_b > 0 THEN
        |    sqrt(pp * (1.0 - pp) * (1.0 / n_a + 1.0 / n_b)) END AS se
        |  FROM zz),
        |zv AS (SELECT *, CASE WHEN se > 0 THEN
        |    (CAST(conv_a AS DOUBLE) / n_a -
        |     CAST(conv_b AS DOUBLE) / n_b) / se END AS z FROM ss),
        |tv AS (SELECT *, CASE WHEN se > 0 THEN
        |    1.0 / (1.0 + 0.2316419 * abs(z)) END AS t FROM zv),
        |pv AS (SELECT *, CASE WHEN se > 0 THEN
        |    2.0 * exp(-abs(z) * abs(z) / 2.0) / 2.5066282746310002 *
        |    (t * (0.319381530 + t * (-0.356563782 +
        |      t * (1.781477937 + t * (-1.821255978 +
        |        t * 1.330274429))))) END AS p_raw FROM tv),
        |rk AS (SELECT *,
        |    ROW_NUMBER() OVER (ORDER BY p_raw ASC NULLS LAST, metric)
        |      AS rn,
        |    SUM(CASE WHEN p_raw IS NOT NULL THEN 1 ELSE 0 END)
        |      OVER () AS m_eff FROM pv),
        |ok AS (SELECT *,
        |    CASE WHEN p_raw IS NOT NULL THEN rn END AS rank,
        |    CASE WHEN p_raw IS NOT NULL AND m_eff > 0 THEN
        |      CAST(rn AS DOUBLE) * 0.10 / m_eff END AS bh,
        |    CASE WHEN p_raw IS NOT NULL AND m_eff > 0 AND
        |      p_raw <= CAST(rn AS DOUBLE) * 0.10 / m_eff
        |      THEN 1 ELSE 0 END AS okf FROM rk),
        |rej AS (SELECT *, MAX(okf) OVER (ORDER BY rank DESC NULLS
        |      FIRST ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      = 1 AND p_raw IS NOT NULL AS rejected FROM ok)
        |SELECT metric, n_a, conv_a, n_b, conv_b,
        |  round(z, 6) AS z, round(p_raw, 6) AS p_value,
        |  CAST(rank AS BIGINT) AS rank,
        |  CAST(m_eff AS BIGINT) AS m_tested,
        |  round(bh, 6) AS bh_threshold, rejected,
        |  p_raw IS NULL AS guarded
        |FROM rej ORDER BY metric""".stripMargin) { (s, dir) =>
      fdrBh(t(s, dir, "events").select("user_id", "event_type"),
        Seq("click", "error", "purchase", "signup", "view"))
    },

    // Kaplan–Meier retention: the oracle replays the per-user
    // lifetime hours, the 12-hour censoring cut off the corpus max,
    // the
    // N − cumulative at-risk identity, and the exp(Σ ln) product in
    // the same ascending-duration cumulative window.
    QueryDef("p176_kaplan_meier", kmOracleSql) { (s, dir) =>
      kaplanMeier(t(s, dir, "events").select("user_id", "ts"))
    },

    // Log-rank test: the oracle replays the arm split, per-duration
    // two-arm counters, the N − prefix at-risk identity, and the
    // decimal-pinned E/V term sums. Scenario 2 censors the whole
    // corpus (no churn → V = 0 → guarded).
    QueryDef("p180_log_rank",
      """WITH sc AS (SELECT unnest(['1_real', '2_frozen']) AS scenario,
        |    unnest([43200000000, 3600000000000000000]) AS cut),
        |mx AS (SELECT MAX(epoch_us(ts)) AS mxu FROM events),
        |u AS (SELECT user_id, MIN(epoch_us(ts)) AS fw,
        |    MAX(epoch_us(ts)) AS lw FROM events GROUP BY 1),
        |d AS (SELECT scenario, (lw - fw) // 3600000000 AS dur,
        |    lw > mxu - cut AS cens,
        |    substring(md5(CAST(user_id AS VARCHAR)), 1, 1) < '8'
        |      AS arm_a
        |  FROM u CROSS JOIN mx CROSS JOIN sc),
        |g AS (SELECT scenario, dur,
        |    CAST(SUM(CASE WHEN arm_a THEN 1 ELSE 0 END) AS BIGINT)
        |      AS all_a,
        |    CAST(SUM(CASE WHEN NOT arm_a THEN 1 ELSE 0 END) AS BIGINT)
        |      AS all_b,
        |    CAST(SUM(CASE WHEN arm_a AND NOT cens THEN 1 ELSE 0 END)
        |      AS BIGINT) AS churn_a,
        |    CAST(SUM(CASE WHEN NOT arm_a AND NOT cens THEN 1 ELSE 0
        |      END) AS BIGINT) AS churn_b
        |  FROM d GROUP BY 1, 2),
        |c AS (SELECT *,
        |    CAST(SUM(all_a) OVER (PARTITION BY scenario) -
        |      COALESCE(SUM(all_a) OVER (PARTITION BY scenario
        |        ORDER BY dur ROWS BETWEEN UNBOUNDED PRECEDING AND
        |        1 PRECEDING), 0) AS BIGINT) AS r_a,
        |    CAST(SUM(all_b) OVER (PARTITION BY scenario) -
        |      COALESCE(SUM(all_b) OVER (PARTITION BY scenario
        |        ORDER BY dur ROWS BETWEEN UNBOUNDED PRECEDING AND
        |        1 PRECEDING), 0) AS BIGINT) AS r_b
        |  FROM g),
        |t AS (SELECT *, churn_a + churn_b AS d_tot, r_a + r_b AS n_tot
        |  FROM c),
        |e AS (SELECT scenario,
        |    CAST(COALESCE(SUM(all_a), 0) AS BIGINT) AS n_a,
        |    CAST(COALESCE(SUM(all_b), 0) AS BIGINT) AS n_b,
        |    CAST(COALESCE(SUM(churn_a), 0) AS BIGINT) AS o_a,
        |    CAST(COALESCE(SUM(churn_b), 0) AS BIGINT) AS o_b,
        |    CAST(SUM(CASE WHEN d_tot > 0 AND n_tot > 0 THEN
        |      CAST(CAST(d_tot AS DOUBLE) * CAST(r_a AS DOUBLE) /
        |        CAST(n_tot AS DOUBLE) AS DECIMAL(38,12))
        |      ELSE CAST(0 AS DECIMAL(38,12)) END) AS DOUBLE) AS e_a,
        |    CAST(SUM(CASE WHEN d_tot > 0 AND n_tot > 1 THEN
        |      CAST(CAST(d_tot AS DOUBLE) *
        |        (CAST(r_a AS DOUBLE) / CAST(n_tot AS DOUBLE)) *
        |        (1.0 - CAST(r_a AS DOUBLE) / CAST(n_tot AS DOUBLE)) *
        |        (CAST(n_tot AS DOUBLE) - CAST(d_tot AS DOUBLE)) /
        |        (CAST(n_tot AS DOUBLE) - 1.0) AS DECIMAL(38,12))
        |      ELSE CAST(0 AS DECIMAL(38,12)) END) AS DOUBLE) AS v
        |  FROM t GROUP BY 1)
        |SELECT scenario, n_a, n_b, o_a, o_b,
        |  round(e_a, 6) AS e_a, round(v, 6) AS v,
        |  round(CASE WHEN v > 0 THEN
        |    (CAST(o_a AS DOUBLE) - e_a) / sqrt(v) END, 6) AS z,
        |  round(CASE WHEN v > 0 THEN
        |    ((CAST(o_a AS DOUBLE) - e_a) / sqrt(v)) *
        |    ((CAST(o_a AS DOUBLE) - e_a) / sqrt(v)) END, 6) AS chi_sq,
        |  NOT (v > 0) AS guarded
        |FROM e ORDER BY 1""".stripMargin) { (s, dir) =>
      val ev = t(s, dir, "events").select("user_id", "ts")
      val outCols = Seq("n_a", "n_b", "o_a", "o_b", "e_a", "v", "z",
        "chi_sq", "guarded").map(col)
      val real = logRank(ev, censorHours = 12)
        .select(lit("1_real").as("scenario") +: outCols: _*)
      val frozen = logRank(ev, censorHours = 1000000000)
        .select(lit("2_frozen").as("scenario") +: outCols: _*)
      real.unionAll(frozen).orderBy("scenario")
    },

    // Mann-Whitney rank sum on events-per-user: the oracle replays the
    // md5 arms, the value histogram, the doubled midrank sum and the
    // tie term in HUGEINT, and the fixed-shape V/z floats. Scenario 2
    // feeds a constant metric — one tie group, V exactly 0, guarded.
    QueryDef("p181_rank_sum",
      """WITH sc AS (SELECT unnest(['1_real', '2_const']) AS scenario),
        |u AS (SELECT user_id, CAST(COUNT(*) AS BIGINT) AS x1
        |  FROM events GROUP BY 1),
        |d AS (SELECT scenario,
        |    CASE WHEN scenario = '1_real' THEN x1 ELSE 1 END AS x,
        |    substring(md5(CAST(user_id AS VARCHAR)), 1, 1) < '8'
        |      AS arm_a
        |  FROM u CROSS JOIN sc),
        |h AS (SELECT scenario, x, CAST(COUNT(*) AS BIGINT) AS c,
        |    CAST(SUM(CASE WHEN arm_a THEN 1 ELSE 0 END) AS BIGINT)
        |      AS ca
        |  FROM d GROUP BY 1, 2),
        |o AS (SELECT *, CAST(COALESCE(SUM(c) OVER (
        |      PARTITION BY scenario ORDER BY x ROWS BETWEEN UNBOUNDED
        |      PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS below
        |  FROM h),
        |t AS (SELECT scenario,
        |    CAST(COALESCE(SUM(ca), 0) AS BIGINT) AS n_a,
        |    CAST(COALESCE(SUM(c - ca), 0) AS BIGINT) AS n_b,
        |    COALESCE(SUM(CAST(ca AS HUGEINT) *
        |      (below * 2 + c + 1)), 0) AS r2a,
        |    COALESCE(SUM(CAST(c AS HUGEINT) * c * c - c), 0) AS t_ties
        |  FROM o GROUP BY 1),
        |e AS (SELECT *, r2a - CAST(n_a AS HUGEINT) * (n_a + 1) AS u2,
        |    CAST(n_a AS DOUBLE) AS nad, CAST(n_b AS DOUBLE) AS nbd,
        |    CAST(n_a + n_b AS DOUBLE) AS nd FROM t),
        |v AS (SELECT *, CASE WHEN n_a > 0 AND n_b > 0 AND nd > 1 THEN
        |    nad * nbd / 12.0 * ((nd + 1.0) -
        |      CAST(t_ties AS DOUBLE) / (nd * (nd - 1.0))) END AS v
        |  FROM e)
        |SELECT scenario, n_a, n_b, CAST(r2a AS DOUBLE) AS r2_a,
        |  round(CAST(u2 AS DOUBLE) / 2.0, 6) AS u_a,
        |  CAST(t_ties AS DOUBLE) AS tie_term,
        |  round(v, 6) AS v,
        |  round(CASE WHEN v > 0 THEN
        |    (CAST(u2 AS DOUBLE) - nad * nbd) / 2.0 / sqrt(v) END, 6)
        |    AS z,
        |  COALESCE(NOT (v > 0), TRUE) AS guarded
        |FROM v ORDER BY 1""".stripMargin) { (s, dir) =>
      val perUser = t(s, dir, "events").groupBy("user_id")
        .agg(count(lit(1)).cast("long").as("x1"))
      val outCols = Seq("n_a", "n_b", "r2_a", "u_a", "tie_term", "v",
        "z", "guarded").map(col)
      val real = rankSumReadout(perUser.select(col("user_id"),
          col("x1")), "x1")
        .select(lit("1_real").as("scenario") +: outCols: _*)
      val const = rankSumReadout(perUser.select(col("user_id"),
          lit(1L).as("c1")), "c1")
        .select(lit("2_const").as("scenario") +: outCols: _*)
      real.unionAll(const).orderBy("scenario")
    },

    // Difference-in-differences: the oracle replays the integer
    // midpoint cut, the per-user two-period counts (absence = exact
    // zero), the 12 HUGEINT cell moments, and the fixed-shape
    // mean/variance/DiD/SE/z floats. Scenario 2 keeps only the
    // lowest-id user — one arm empty → every estimate NULL, guarded.
    QueryDef("p183_did_readout",
      """WITH sc AS (SELECT unnest(['1_real', '2_single']) AS scenario),
        |base AS (SELECT scenario, user_id, epoch_us(ts) AS us
        |  FROM events CROSS JOIN sc
        |  WHERE scenario = '1_real' OR
        |    user_id = (SELECT MIN(user_id) FROM events)),
        |ct AS (SELECT scenario, MIN(us) + (MAX(us) - MIN(us)) // 2
        |    AS cut FROM base GROUP BY 1),
        |u AS (SELECT b.scenario, b.user_id,
        |    CAST(SUM(CASE WHEN b.us < ct.cut THEN 1 ELSE 0 END)
        |      AS BIGINT) AS pre,
        |    CAST(SUM(CASE WHEN b.us >= ct.cut THEN 1 ELSE 0 END)
        |      AS BIGINT) AS post
        |  FROM base b JOIN ct USING (scenario) GROUP BY 1, 2),
        |a AS (SELECT *, substring(md5(CAST(user_id AS VARCHAR)), 1, 1)
        |    < '8' AS arm_a FROM u),
        |m AS (SELECT scenario,
        |    CAST(COALESCE(SUM(CASE WHEN arm_a THEN 1 ELSE 0 END), 0)
        |      AS BIGINT) AS n_a,
        |    COALESCE(SUM(CASE WHEN arm_a THEN CAST(pre AS HUGEINT)
        |      END), 0) AS s_a_pre,
        |    COALESCE(SUM(CASE WHEN arm_a THEN CAST(pre AS HUGEINT) *
        |      pre END), 0) AS q_a_pre,
        |    COALESCE(SUM(CASE WHEN arm_a THEN CAST(post AS HUGEINT)
        |      END), 0) AS s_a_post,
        |    COALESCE(SUM(CASE WHEN arm_a THEN CAST(post AS HUGEINT) *
        |      post END), 0) AS q_a_post,
        |    CAST(COALESCE(SUM(CASE WHEN NOT arm_a THEN 1 ELSE 0 END),
        |      0) AS BIGINT) AS n_b,
        |    COALESCE(SUM(CASE WHEN NOT arm_a THEN
        |      CAST(pre AS HUGEINT) END), 0) AS s_b_pre,
        |    COALESCE(SUM(CASE WHEN NOT arm_a THEN
        |      CAST(pre AS HUGEINT) * pre END), 0) AS q_b_pre,
        |    COALESCE(SUM(CASE WHEN NOT arm_a THEN
        |      CAST(post AS HUGEINT) END), 0) AS s_b_post,
        |    COALESCE(SUM(CASE WHEN NOT arm_a THEN
        |      CAST(post AS HUGEINT) * post END), 0) AS q_b_post
        |  FROM a GROUP BY 1),
        |e AS (SELECT *,
        |    CAST(n_a AS DOUBLE) AS nad, CAST(n_b AS DOUBLE) AS nbd,
        |    n_a >= 2 AND n_b >= 2 AS ok FROM m),
        |f AS (SELECT *,
        |    CASE WHEN ok THEN
        |      (CAST(s_a_post AS DOUBLE) / nad -
        |       CAST(s_a_pre AS DOUBLE) / nad) -
        |      (CAST(s_b_post AS DOUBLE) / nbd -
        |       CAST(s_b_pre AS DOUBLE) / nbd) END AS did,
        |    CASE WHEN ok THEN
        |      (((CAST(q_a_pre AS DOUBLE) - CAST(s_a_pre AS DOUBLE) *
        |         CAST(s_a_pre AS DOUBLE) / nad) / (nad - 1.0)) +
        |       ((CAST(q_a_post AS DOUBLE) - CAST(s_a_post AS DOUBLE) *
        |         CAST(s_a_post AS DOUBLE) / nad) / (nad - 1.0))) /
        |        nad +
        |      (((CAST(q_b_pre AS DOUBLE) - CAST(s_b_pre AS DOUBLE) *
        |         CAST(s_b_pre AS DOUBLE) / nbd) / (nbd - 1.0)) +
        |       ((CAST(q_b_post AS DOUBLE) - CAST(s_b_post AS DOUBLE) *
        |         CAST(s_b_post AS DOUBLE) / nbd) / (nbd - 1.0))) /
        |        nbd END AS se_sq
        |  FROM e),
        |g AS (SELECT *, CASE WHEN se_sq > 0 THEN sqrt(se_sq) END
        |    AS se FROM f)
        |SELECT scenario, n_a, n_b,
        |  round(CASE WHEN ok THEN CAST(s_a_pre AS DOUBLE) / nad END,
        |    6) AS mean_a_pre,
        |  round(CASE WHEN ok THEN CAST(s_a_post AS DOUBLE) / nad END,
        |    6) AS mean_a_post,
        |  round(CASE WHEN ok THEN CAST(s_b_pre AS DOUBLE) / nbd END,
        |    6) AS mean_b_pre,
        |  round(CASE WHEN ok THEN CAST(s_b_post AS DOUBLE) / nbd END,
        |    6) AS mean_b_post,
        |  round(did, 6) AS did, round(se, 6) AS se,
        |  round(CASE WHEN se > 0 THEN did / se END, 6) AS z,
        |  COALESCE(NOT (se > 0), TRUE) AS guarded
        |FROM g ORDER BY 1""".stripMargin) { (s, dir) =>
      val ev = t(s, dir, "events").select("user_id", "ts")
      val outCols = Seq("n_a", "n_b", "mean_a_pre", "mean_a_post",
        "mean_b_pre", "mean_b_post", "did", "se", "z", "guarded")
        .map(col)
      val mn = ev.agg(min(col("user_id")).as("mu"))
      val single = ev.crossJoin(broadcast(mn))
        .filter(col("user_id") === col("mu"))
        .select("user_id", "ts")
      val real = didReadout(ev)
        .select(lit("1_real").as("scenario") +: outCols: _*)
      val one = didReadout(single)
        .select(lit("2_single").as("scenario") +: outCols: _*)
      real.unionAll(one).orderBy("scenario")
    },

    // OLS of event volume on activity span: the oracle replays the
    // per-user (span hours, count) pairs, the five HUGEINT moments,
    // the cross-determinants, and the fixed-shape slope/r2/t floats.
    // Scenario 2 regresses on a constant (dxx = 0 → guarded).
    QueryDef("p182_ols_readout",
      """WITH sc AS (SELECT unnest(['1_real', '2_const']) AS scenario),
        |u AS (SELECT user_id,
        |    (MAX(epoch_us(ts)) - MIN(epoch_us(ts))) // 3600000000
        |      AS span_h,
        |    CAST(COUNT(*) AS BIGINT) AS y FROM events GROUP BY 1),
        |d AS (SELECT scenario,
        |    CASE WHEN scenario = '1_real' THEN span_h ELSE 1 END AS x,
        |    y FROM u CROSS JOIN sc),
        |m AS (SELECT scenario, CAST(COUNT(*) AS BIGINT) AS n,
        |    COALESCE(SUM(CAST(x AS HUGEINT)), 0) AS sx,
        |    COALESCE(SUM(CAST(y AS HUGEINT)), 0) AS sy,
        |    COALESCE(SUM(CAST(x AS HUGEINT) * x), 0) AS sxx,
        |    COALESCE(SUM(CAST(x AS HUGEINT) * y), 0) AS sxy,
        |    COALESCE(SUM(CAST(y AS HUGEINT) * y), 0) AS syy
        |  FROM d GROUP BY 1),
        |e AS (SELECT *, CAST(n * sxx - sx * sx AS DOUBLE) AS dxx,
        |    CAST(n * sxy - sx * sy AS DOUBLE) AS dxy,
        |    CAST(n * syy - sy * sy AS DOUBLE) AS dyy FROM m),
        |f AS (SELECT *, n >= 2 AND dxx > 0 AS ok FROM e),
        |g AS (SELECT *, CASE WHEN ok AND n > 2 THEN
        |    (dyy - dxy * dxy / dxx) /
        |    ((CAST(n AS DOUBLE) - 2.0) * dxx) END AS vs FROM f)
        |SELECT scenario, n,
        |  round(CASE WHEN ok THEN dxy / dxx END, 6) AS slope,
        |  round(CASE WHEN ok THEN (CAST(sy AS DOUBLE) -
        |    dxy / dxx * CAST(sx AS DOUBLE)) / CAST(n AS DOUBLE)
        |    END, 6) AS intercept,
        |  round(CASE WHEN ok AND dyy > 0 THEN
        |    dxy * dxy / (dxx * dyy) END, 6) AS r_sq,
        |  round(CASE WHEN vs > 0 THEN dxy / dxx / sqrt(vs) END, 6)
        |    AS t_stat,
        |  NOT ok AS guarded
        |FROM g ORDER BY 1""".stripMargin) { (s, dir) =>
      val perUser = t(s, dir, "events").groupBy("user_id")
        .agg(expr("(max(unix_micros(ts)) - min(unix_micros(ts))) " +
          "div 3600000000").as("span_h"),
          count(lit(1)).cast("long").as("y"))
      val outCols = Seq("n", "slope", "intercept", "r_sq", "t_stat",
        "guarded").map(col)
      val real = olsReadout(perUser, "span_h", "y")
        .select(lit("1_real").as("scenario") +: outCols: _*)
      val const = olsReadout(perUser.select(col("user_id"),
          lit(1L).as("c1"), col("y")), "c1", "y")
        .select(lit("2_const").as("scenario") +: outCols: _*)
      real.unionAll(const).orderBy("scenario")
    },

    // Split-conformal calibration: the oracle replays the md5 split,
    // the exact-sum calibration mean, the ⌈(n+1)(1−α)⌉ rank, the
    // (resid, doc_id) order statistic, and the test-side coverage.
    // Scenario 2 runs a 20-doc slice at α = 0.03125 — α < 1/(n_cal+1)
    // makes k exceed n_cal, exercising the guarded branch. Both α
    // complements (0.9, 0.96875) are exactly-representable doubles
    // written identically in both engines.
    QueryDef("p177_conformal",
      """WITH sc AS (SELECT unnest(['1_real', '2_small']) AS scenario),
        |d AS (SELECT scenario, doc_id, CAST(n_chars AS BIGINT) AS x,
        |    substring(md5(CAST(doc_id AS VARCHAR)), 1, 1) < 'c' AS cal
        |  FROM documents CROSS JOIN sc
        |  WHERE scenario = '1_real' OR doc_id < 20),
        |f AS (SELECT scenario,
        |    CAST(COALESCE(SUM(CASE WHEN cal THEN 1 ELSE 0 END), 0)
        |      AS BIGINT) AS n_cal,
        |    CAST(COALESCE(SUM(CASE WHEN NOT cal THEN 1 ELSE 0 END), 0)
        |      AS BIGINT) AS n_test,
        |    SUM(CASE WHEN cal THEN CAST(x AS HUGEINT) END) AS s_cal
        |  FROM d GROUP BY 1),
        |k AS (SELECT *,
        |    CASE WHEN n_cal > 0 THEN CAST(ceil(
        |      CAST(n_cal + 1 AS DOUBLE) *
        |      CAST(CASE WHEN scenario = '1_real' THEN 0.9
        |        ELSE 0.96875 END AS DOUBLE)) AS BIGINT) END AS k_rank,
        |    CASE WHEN n_cal > 0 THEN CAST(s_cal AS DOUBLE) / n_cal
        |      END AS mean_cal
        |  FROM f),
        |r AS (SELECT d.scenario, d.doc_id,
        |    abs(CAST(d.x AS DOUBLE) - k.mean_cal) AS resid
        |  FROM d JOIN k USING (scenario) WHERE d.cal),
        |rr AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY scenario
        |    ORDER BY resid, doc_id) AS pos FROM r),
        |q AS (SELECT k.scenario,
        |    MAX(CASE WHEN rr.pos = k.k_rank THEN rr.resid END)
        |      AS q_hat
        |  FROM k LEFT JOIN rr USING (scenario) GROUP BY 1),
        |c AS (SELECT d.scenario, CAST(COALESCE(SUM(CASE WHEN
        |      abs(CAST(d.x AS DOUBLE) - k.mean_cal) <= q.q_hat
        |      THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_cov
        |  FROM d JOIN k USING (scenario) JOIN q USING (scenario)
        |  WHERE NOT d.cal GROUP BY 1)
        |SELECT k.scenario, k.n_cal, k.n_test, k.k_rank,
        |  round(q.q_hat, 6) AS q_hat,
        |  CASE WHEN q.q_hat IS NOT NULL THEN COALESCE(c.n_cov, 0)
        |    END AS n_covered,
        |  round(CASE WHEN q.q_hat IS NOT NULL AND k.n_test > 0 THEN
        |    CAST(COALESCE(c.n_cov, 0) AS DOUBLE) / k.n_test END, 6)
        |    AS coverage,
        |  q.q_hat IS NULL OR k.n_test = 0 AS guarded
        |FROM k JOIN q USING (scenario) LEFT JOIN c USING (scenario)
        |ORDER BY 1""".stripMargin) { (s, dir) =>
      val docs = t(s, dir, "documents").select("doc_id", "n_chars")
      val outCols = Seq("n_cal", "n_test", "k_rank", "q_hat",
        "n_covered", "coverage", "guarded").map(col)
      val real = conformalCalibration(docs, 0.1)
        .select(lit("1_real").as("scenario") +: outCols: _*)
      val small = conformalCalibration(docs.filter(col("doc_id") < 20),
          0.03125)
        .select(lit("2_small").as("scenario") +: outCols: _*)
      real.unionAll(small).orderBy("scenario")
    },

    // Isotonic calibration: the oracle replays the p174 1-step fit
    // and 6-dp scores, the centile binning (1-step scores live in
    // 0.01-0.09; decile bins would collapse to one), the prefix sums,
    // and the minimax ŷ_i = max_{j≤i} min_{k≥i} span-mean identity
    // over the bounded bin table.
    QueryDef("p179_isotonic",
      """WITH f AS (
        |  SELECT CASE WHEN lang = 'en' THEN 1.0 ELSE 0.0 END AS y,
        |    1.0 AS x0,
        |    ln(1.0 + CAST(nt AS DOUBLE)) AS x1,
        |    CAST(length(text) AS DOUBLE) / CAST(nt AS DOUBLE) AS x2
        |  FROM (SELECT lang, text, CASE
        |      WHEN length(regexp_replace(text, '^\s+|\s+$', '', 'g'))
        |        = 0 THEN 0
        |      ELSE len(string_split_regex(
        |        regexp_replace(text, '^\s+|\s+$', '', 'g'), '\s+'))
        |      END AS nt
        |    FROM documents)
        |  WHERE nt > 0),
        |n AS (SELECT count(*) AS m FROM f),
        |ws0 AS (SELECT 0.0 AS w0, 0.0 AS w1, 0.0 AS w2),
        |g1 AS (SELECT
        |    CAST(sum(CAST((1.0/(1.0+exp(-(w0*x0+w1*x1+w2*x2))) - y)*x0
        |      AS DECIMAL(28,12))) AS DOUBLE) AS g0,
        |    CAST(sum(CAST((1.0/(1.0+exp(-(w0*x0+w1*x1+w2*x2))) - y)*x1
        |      AS DECIMAL(28,12))) AS DOUBLE) AS g1,
        |    CAST(sum(CAST((1.0/(1.0+exp(-(w0*x0+w1*x1+w2*x2))) - y)*x2
        |      AS DECIMAL(28,12))) AS DOUBLE) AS g2
        |  FROM f CROSS JOIN ws0),
        |ws1 AS (SELECT w0 - 1.0*(g0/CAST(m AS DOUBLE)) AS w0,
        |    w1 - 1.0*(g1/CAST(m AS DOUBLE)) AS w1,
        |    w2 - 1.0*(g2/CAST(m AS DOUBLE)) AS w2
        |  FROM g1 CROSS JOIN ws0 CROSS JOIN n),
        |sc AS (SELECT CAST(y AS BIGINT) AS yl,
        |    round(1.0/(1.0+exp(-(w0*x0+w1*x1+w2*x2))), 6) AS p
        |  FROM f CROSS JOIN ws1),
        |b AS (SELECT CAST(least(floor(p * 100), 99) AS BIGINT)
        |    AS bin, yl FROM sc),
        |g AS (SELECT bin, CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(COALESCE(SUM(yl), 0) AS BIGINT) AS pos
        |  FROM b GROUP BY 1),
        |pr AS (SELECT *, COALESCE(SUM(n) OVER (ORDER BY bin ROWS
        |      BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS pre_n,
        |    COALESCE(SUM(pos) OVER (ORDER BY bin ROWS BETWEEN
        |      UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS pre_pos
        |  FROM g),
        |cu AS (SELECT *, pre_n + n AS cum_n, pre_pos + pos AS cum_pos
        |  FROM pr),
        |sp AS (SELECT j.bin AS j, k.bin AS k,
        |    CASE WHEN k.cum_n - j.pre_n > 0 THEN
        |      CAST(k.cum_pos - j.pre_pos AS DOUBLE) /
        |      (k.cum_n - j.pre_n) END AS rate
        |  FROM cu j JOIN cu k ON j.bin <= k.bin),
        |mm AS (SELECT i.bin, i.n, i.pos, sp.j, MIN(sp.rate) AS mnr
        |  FROM cu i JOIN sp ON sp.j <= i.bin AND i.bin <= sp.k
        |  GROUP BY 1, 2, 3, 4),
        |ff AS (SELECT bin, n, pos, MAX(mnr) AS fitted
        |  FROM mm GROUP BY 1, 2, 3)
        |SELECT bin, n, pos,
        |  round(CASE WHEN n > 0 THEN CAST(pos AS DOUBLE) / n END, 6)
        |    AS raw_rate,
        |  round(fitted, 6) AS fitted_rate
        |FROM ff ORDER BY 1""".stripMargin) { (s, dir) =>
      TextAnalysis.isotonicCalibration(t(s, dir, "documents"),
        steps = 1, nBins = 100)
    },

    // Group-sequential monitor: the oracle replays the integer week
    // cuts, the per-look population/conversion counters, the p163 z
    // at each look, the OBF literal boundaries, and the
    // first-crossing logic (via a window over the 4 look rows —
    // different mechanism, same booleans).
    QueryDef("p167_sequential_monitor",
      """WITH ev AS (SELECT user_id, event_type,
        |    epoch_us(ts) // 604800000000 AS wk FROM events),
        |rng AS (SELECT MIN(wk) AS mn, MAX(wk) AS mx FROM ev),
        |u AS (SELECT user_id, MIN(wk) AS fw,
        |    SUM(CASE WHEN event_type = 'purchase' AND wk <=
        |      mn + ((mx - mn + 1) * 1 + 3) // 4 - 1
        |      THEN 1 ELSE 0 END) AS p_1,
        |    SUM(CASE WHEN event_type = 'purchase' AND wk <=
        |      mn + ((mx - mn + 1) * 2 + 3) // 4 - 1
        |      THEN 1 ELSE 0 END) AS p_2,
        |    SUM(CASE WHEN event_type = 'purchase' AND wk <=
        |      mn + ((mx - mn + 1) * 3 + 3) // 4 - 1
        |      THEN 1 ELSE 0 END) AS p_3,
        |    SUM(CASE WHEN event_type = 'purchase' AND wk <=
        |      mn + ((mx - mn + 1) * 4 + 3) // 4 - 1
        |      THEN 1 ELSE 0 END) AS p_4,
        |    MIN(mn) AS mn, MIN(mx) AS mx,
        |    substring(md5(CAST(user_id AS VARCHAR)), 1, 1) < '8' AS va
        |  FROM ev, rng GROUP BY user_id),
        |c AS (SELECT
        |    CAST(SUM(CASE WHEN va AND fw <=
        |      mn + ((mx - mn + 1) * 1 + 3) // 4 - 1
        |      THEN 1 ELSE 0 END) AS BIGINT) AS na_1,
        |    CAST(SUM(CASE WHEN va AND fw <=
        |      mn + ((mx - mn + 1) * 1 + 3) // 4 - 1 AND p_1 >= 14
        |      THEN 1 ELSE 0 END) AS BIGINT) AS ca_1,
        |    CAST(SUM(CASE WHEN NOT va AND fw <=
        |      mn + ((mx - mn + 1) * 1 + 3) // 4 - 1
        |      THEN 1 ELSE 0 END) AS BIGINT) AS nb_1,
        |    CAST(SUM(CASE WHEN NOT va AND fw <=
        |      mn + ((mx - mn + 1) * 1 + 3) // 4 - 1 AND p_1 >= 14
        |      THEN 1 ELSE 0 END) AS BIGINT) AS cb_1,
        |    CAST(SUM(CASE WHEN va AND fw <=
        |      mn + ((mx - mn + 1) * 2 + 3) // 4 - 1
        |      THEN 1 ELSE 0 END) AS BIGINT) AS na_2,
        |    CAST(SUM(CASE WHEN va AND fw <=
        |      mn + ((mx - mn + 1) * 2 + 3) // 4 - 1 AND p_2 >= 14
        |      THEN 1 ELSE 0 END) AS BIGINT) AS ca_2,
        |    CAST(SUM(CASE WHEN NOT va AND fw <=
        |      mn + ((mx - mn + 1) * 2 + 3) // 4 - 1
        |      THEN 1 ELSE 0 END) AS BIGINT) AS nb_2,
        |    CAST(SUM(CASE WHEN NOT va AND fw <=
        |      mn + ((mx - mn + 1) * 2 + 3) // 4 - 1 AND p_2 >= 14
        |      THEN 1 ELSE 0 END) AS BIGINT) AS cb_2,
        |    CAST(SUM(CASE WHEN va AND fw <=
        |      mn + ((mx - mn + 1) * 3 + 3) // 4 - 1
        |      THEN 1 ELSE 0 END) AS BIGINT) AS na_3,
        |    CAST(SUM(CASE WHEN va AND fw <=
        |      mn + ((mx - mn + 1) * 3 + 3) // 4 - 1 AND p_3 >= 14
        |      THEN 1 ELSE 0 END) AS BIGINT) AS ca_3,
        |    CAST(SUM(CASE WHEN NOT va AND fw <=
        |      mn + ((mx - mn + 1) * 3 + 3) // 4 - 1
        |      THEN 1 ELSE 0 END) AS BIGINT) AS nb_3,
        |    CAST(SUM(CASE WHEN NOT va AND fw <=
        |      mn + ((mx - mn + 1) * 3 + 3) // 4 - 1 AND p_3 >= 14
        |      THEN 1 ELSE 0 END) AS BIGINT) AS cb_3,
        |    CAST(SUM(CASE WHEN va AND fw <=
        |      mn + ((mx - mn + 1) * 4 + 3) // 4 - 1
        |      THEN 1 ELSE 0 END) AS BIGINT) AS na_4,
        |    CAST(SUM(CASE WHEN va AND fw <=
        |      mn + ((mx - mn + 1) * 4 + 3) // 4 - 1 AND p_4 >= 14
        |      THEN 1 ELSE 0 END) AS BIGINT) AS ca_4,
        |    CAST(SUM(CASE WHEN NOT va AND fw <=
        |      mn + ((mx - mn + 1) * 4 + 3) // 4 - 1
        |      THEN 1 ELSE 0 END) AS BIGINT) AS nb_4,
        |    CAST(SUM(CASE WHEN NOT va AND fw <=
        |      mn + ((mx - mn + 1) * 4 + 3) // 4 - 1 AND p_4 >= 14
        |      THEN 1 ELSE 0 END) AS BIGINT) AS cb_4,
        |    CAST(MAX(mn + ((mx - mn + 1) * 1 + 3) // 4 - 1) AS BIGINT)
        |      AS cut_1,
        |    CAST(MAX(mn + ((mx - mn + 1) * 2 + 3) // 4 - 1) AS BIGINT)
        |      AS cut_2,
        |    CAST(MAX(mn + ((mx - mn + 1) * 3 + 3) // 4 - 1) AS BIGINT)
        |      AS cut_3,
        |    CAST(MAX(mn + ((mx - mn + 1) * 4 + 3) // 4 - 1) AS BIGINT)
        |      AS cut_4
        |  FROM u),
        |l AS (
        |  SELECT 1 AS look, cut_1 AS wk_cut, na_1 AS n_a, ca_1 AS conv_a,
        |    nb_1 AS n_b, cb_1 AS conv_b, CAST(4.049 AS DOUBLE) AS bnd
        |  FROM c
        |  UNION ALL SELECT 2, cut_2, na_2, ca_2, nb_2, cb_2,
        |    CAST(2.863 AS DOUBLE) FROM c
        |  UNION ALL SELECT 3, cut_3, na_3, ca_3, nb_3, cb_3,
        |    CAST(2.337 AS DOUBLE) FROM c
        |  UNION ALL SELECT 4, cut_4, na_4, ca_4, nb_4, cb_4,
        |    CAST(2.024 AS DOUBLE) FROM c),
        |e AS (SELECT *,
        |    CASE WHEN n_a > 0 THEN CAST(conv_a AS DOUBLE) / n_a END
        |      AS ra,
        |    CASE WHEN n_b > 0 THEN CAST(conv_b AS DOUBLE) / n_b END
        |      AS rb,
        |    CASE WHEN n_a > 0 AND n_b > 0 THEN
        |      sqrt(CAST(conv_a + conv_b AS DOUBLE) / (n_a + n_b) *
        |        (1.0 - CAST(conv_a + conv_b AS DOUBLE) / (n_a + n_b)) *
        |        (1.0 / n_a + 1.0 / n_b)) END AS se
        |  FROM l),
        |zt AS (SELECT *,
        |    CASE WHEN se > 0 THEN (ra - rb) / se END AS z,
        |    COALESCE(abs(CASE WHEN se > 0 THEN (ra - rb) / se END)
        |      >= bnd, false) AS crossed
        |  FROM e)
        |SELECT look, wk_cut, n_a, conv_a, n_b, conv_b,
        |  round(z, 6) AS z, bnd AS boundary, crossed,
        |  (crossed AND COALESCE(SUM(CASE WHEN crossed THEN 1 ELSE 0 END)
        |    OVER (ORDER BY look
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
        |    0) = 0) AS first_crossing
        |FROM zt ORDER BY look""".stripMargin) { (s, dir) =>
      sequentialReadout(t(s, dir, "events"), minConv = 14)
    },

    // Bot-signature periodicity: a synthetic 50-event bot firing every
    // 60 s exactly is planted next to the organic users; the oracle
    // replays the gap window, the second rounding, the (count DESC,
    // gap ASC) mode, and the share — the plant must flag, and at this
    // corpus no organic user may.
    QueryDef("p162_bot_signature",
      """WITH ev AS (
        |  SELECT user_id, ts, event_id FROM events
        |  UNION ALL
        |  SELECT 9999999 AS user_id,
        |    make_timestamp(1500000000000000 + i * 60000000) AS ts,
        |    990000000 + i AS event_id
        |  FROM (SELECT unnest(range(0, 50)) AS i)),
        |g AS (SELECT user_id,
        |    (lead(epoch_us(ts)) OVER (PARTITION BY user_id
        |       ORDER BY epoch_us(ts), event_id) - epoch_us(ts))
        |      // 1000000 AS gap_s
        |  FROM ev),
        |gc AS (SELECT user_id, gap_s, CAST(COUNT(*) AS BIGINT) AS cnt
        |  FROM g WHERE gap_s IS NOT NULL GROUP BY 1, 2),
        |r AS (SELECT user_id, gap_s, cnt,
        |    SUM(cnt) OVER (PARTITION BY user_id) AS n_gaps,
        |    ROW_NUMBER() OVER (PARTITION BY user_id
        |      ORDER BY cnt DESC, gap_s ASC) AS rn
        |  FROM gc)
        |SELECT user_id, CAST(n_gaps AS BIGINT) AS n_gaps,
        |  CAST(gap_s AS BIGINT) AS top_gap_s,
        |  round(cnt / CAST(n_gaps AS DOUBLE), 6) AS top_share,
        |  cnt / CAST(n_gaps AS DOUBLE) >= 0.8 AS is_bot
        |FROM r WHERE rn = 1 AND n_gaps >= 5
        |ORDER BY 1""".stripMargin) { (s, dir) =>
      val ev = t(s, dir, "events")
        .select(col("user_id"), col("ts"), col("event_id"))
      val plant = s.range(50).select(
        lit(9999999L).as("user_id"),
        expr("timestamp_micros(1500000000000000 + id * 60000000)")
          .as("ts"),
        (lit(990000000L) + col("id")).as("event_id"))
      botSignature(ev.unionByName(plant))
    },

    // Funnel time-to-convert: the oracle replays the progressive
    // first-match anchors (s32's CTEs) and selects the same
    // rank-ceil(p·n) DISCRETE quantile elements from the sorted delta
    // list — integer-exact on both engines (interpolated quantiles of
    // 1e12-µs int64s diverge at the double's ulp).
    QueryDef("p161_funnel_latency",
      """WITH s1 AS (SELECT user_id, MIN(epoch_us(ts)) AS a
        |  FROM events WHERE event_type = 'view' GROUP BY 1),
        |s2 AS (SELECT e.user_id, MIN(epoch_us(e.ts)) AS a
        |  FROM events e JOIN s1 ON e.user_id = s1.user_id
        |  WHERE e.event_type = 'click' AND epoch_us(e.ts) > s1.a
        |  GROUP BY 1),
        |s3 AS (SELECT e.user_id, MIN(epoch_us(e.ts)) AS a
        |  FROM events e JOIN s2 ON e.user_id = s2.user_id
        |  WHERE e.event_type = 'purchase' AND epoch_us(e.ts) > s2.a
        |  GROUP BY 1),
        |d12 AS (SELECT s2.a - s1.a AS d FROM s1
        |  JOIN s2 ON s1.user_id = s2.user_id),
        |d23 AS (SELECT s3.a - s2.a AS d FROM s2
        |  JOIN s3 ON s2.user_id = s3.user_id)
        |SELECT 'view>click' AS step_pair,
        |  CAST(COUNT(*) AS BIGINT) AS n_users,
        |  CAST(MIN(d) AS BIGINT) AS min_us,
        |  CAST(list_sort(list(d))[CAST(ceil(COUNT(*) * 0.5) AS INT)]
        |    AS BIGINT) AS p50_us,
        |  CAST(list_sort(list(d))[CAST(ceil(COUNT(*) * 0.9) AS INT)]
        |    AS BIGINT) AS p90_us,
        |  CAST(MAX(d) AS BIGINT) AS max_us
        |FROM d12
        |UNION ALL
        |SELECT 'click>purchase', CAST(COUNT(*) AS BIGINT),
        |  CAST(MIN(d) AS BIGINT),
        |  CAST(list_sort(list(d))[CAST(ceil(COUNT(*) * 0.5) AS INT)]
        |    AS BIGINT),
        |  CAST(list_sort(list(d))[CAST(ceil(COUNT(*) * 0.9) AS INT)]
        |    AS BIGINT),
        |  CAST(MAX(d) AS BIGINT)
        |FROM d23
        |ORDER BY step_pair""".stripMargin) { (s, dir) =>
      funnelTimeToConvert(t(s, dir, "events"))
    },

    // CUSUM mean-shift detection with a planted +5/bucket level shift
    // 600 grid hours into the click series; the oracle replays the
    // integer-scaled recurrence step by step with a recursive CTE
    // (different mechanism than Spark's aggregate() fold — the x03
    // pattern), including the first-alarm bucket and running max.
    QueryDef("p160_cusum_shift",
      """WITH RECURSIVE c AS (SELECT event_type AS series,
        |    epoch_us(ts) // 3600000000 AS hr,
        |    CAST(COUNT(*) AS BIGINT) AS n0 FROM events GROUP BY 1, 2),
        |span AS (SELECT series, MIN(hr) AS mn, MAX(hr) AS mx
        |  FROM c GROUP BY 1),
        |grid AS (SELECT series, unnest(range(mn, mx + 1)) AS hr, mn
        |  FROM span),
        |filled AS (SELECT g.series, g.hr, g.mn,
        |    COALESCE(c.n0, 0) +
        |    CASE WHEN g.series = 'click' AND g.hr >= g.mn + 600
        |         THEN 5 ELSE 0 END AS n
        |  FROM grid g LEFT JOIN c
        |    ON g.series = c.series AND g.hr = c.hr),
        |base AS (SELECT series, CAST(COUNT(*) AS BIGINT) AS nb,
        |    CAST(SUM(n) AS BIGINT) AS s1
        |  FROM filled WHERE hr < mn + 360 GROUP BY 1),
        |sv AS (SELECT f.series, f.hr, f.n, b.nb, b.s1,
        |    ROW_NUMBER() OVER (PARTITION BY f.series ORDER BY f.hr)
        |      AS rn
        |  FROM filled f JOIN base b ON f.series = b.series
        |  WHERE f.hr >= f.mn + 360),
        |rec(series, rn, s, mx, alarm) AS (
        |  SELECT series, rn,
        |    greatest(0, n * nb - s1 - 1 * nb),
        |    greatest(0, n * nb - s1 - 1 * nb),
        |    CASE WHEN greatest(0, n * nb - s1 - 1 * nb) >= 50 * nb
        |         THEN hr END
        |  FROM sv WHERE rn = 1
        |  UNION ALL
        |  SELECT v.series, v.rn,
        |    greatest(0, r.s + v.n * v.nb - v.s1 - 1 * v.nb),
        |    greatest(r.mx,
        |      greatest(0, r.s + v.n * v.nb - v.s1 - 1 * v.nb)),
        |    COALESCE(r.alarm,
        |      CASE WHEN greatest(0, r.s + v.n * v.nb - v.s1 - 1 * v.nb)
        |           >= 50 * v.nb THEN v.hr END)
        |  FROM rec r JOIN sv v
        |    ON v.series = r.series AND v.rn = r.rn + 1),
        |fin AS (SELECT series, MAX(rn) AS mr FROM rec GROUP BY 1)
        |SELECT b.series, b.nb, b.s1,
        |  CAST(r.alarm AS BIGINT) AS alarm_hr,
        |  CAST(r.mx AS BIGINT) AS max_cusum_scaled,
        |  r.alarm IS NOT NULL AS shift_detected
        |FROM rec r JOIN fin l ON r.series = l.series AND r.rn = l.mr
        |JOIN base b ON b.series = r.series
        |ORDER BY 1""".stripMargin) { (s, dir) =>
      cusumShift(t(s, dir, "events"))
    },

    // Seasonal hour-of-day anomaly baseline with a planted burst 500
    // grid hours in; the oracle replays the zero-filled grid, the
    // per-(series, hod) exact-integer baseline, and the rounded-z flag.
    QueryDef("p159_seasonal_anomaly",
      """WITH c AS (SELECT event_type AS series,
        |    epoch_us(ts) // 3600000000 AS hr,
        |    CAST(COUNT(*) AS BIGINT) AS n0 FROM events GROUP BY 1, 2),
        |span AS (SELECT series, MIN(hr) AS mn, MAX(hr) AS mx
        |  FROM c GROUP BY 1),
        |grid AS (SELECT series, unnest(range(mn, mx + 1)) AS hr, mn
        |  FROM span),
        |filled AS (SELECT g.series, g.hr, g.mn, g.hr % 24 AS hod,
        |    COALESCE(c.n0, 0) +
        |    CASE WHEN g.series = 'click' AND g.hr = g.mn + 500
        |         THEN 300 ELSE 0 END AS n
        |  FROM grid g LEFT JOIN c
        |    ON g.series = c.series AND g.hr = c.hr),
        |base AS (SELECT series, hod, CAST(COUNT(*) AS BIGINT) AS nb,
        |    CAST(SUM(n) AS BIGINT) AS s1,
        |    CAST(SUM(n * n) AS BIGINT) AS s2
        |  FROM filled WHERE hr < mn + 360 GROUP BY 1, 2),
        |stats AS (SELECT series, hod,
        |    CAST(s1 AS DOUBLE) / nb AS mu0,
        |    sqrt(greatest((CAST(s2 AS DOUBLE) -
        |      CAST(s1 AS DOUBLE) * (CAST(s1 AS DOUBLE) / nb)) / (nb - 1),
        |      0.0)) AS sd0
        |  FROM base)
        |SELECT f.series, f.hr, CAST(f.hod AS BIGINT) AS hod,
        |  CAST(f.n AS BIGINT) AS n,
        |  round(t.mu0, 6) AS mu, round(t.sd0, 6) AS sd,
        |  CASE WHEN t.sd0 > 0 THEN round((f.n - t.mu0) / t.sd0, 6) END
        |    AS z,
        |  COALESCE(CASE WHEN t.sd0 > 0
        |    THEN abs(round((f.n - t.mu0) / t.sd0, 6)) >= 3.0 END, FALSE)
        |    AS is_anomaly
        |FROM filled f JOIN stats t
        |  ON f.series = t.series AND f.hod = t.hod
        |WHERE f.hr >= f.mn + 360
        |ORDER BY 1, 2""".stripMargin) { (s, dir) =>
      seasonalAnomaly(t(s, dir, "events"))
    },

    // Deletion audit: users with user_id % 97 = 3 exercise the
    // right-to-be-forgotten scrub; the oracle recomputes every
    // accounting column independently from the raw rows.
    QueryDef("p158_deletion_audit",
      """WITH del AS (SELECT DISTINCT user_id FROM events
        |  WHERE user_id % 97 = 3),
        |m AS (SELECT COUNT(*) AS n_match FROM events
        |  WHERE user_id % 97 = 3)
        |SELECT CAST((SELECT COUNT(*) FROM events) AS BIGINT) AS n_before,
        |  CAST(m.n_match AS BIGINT) AS n_deleted,
        |  CAST((SELECT COUNT(*) FROM events) - m.n_match AS BIGINT)
        |    AS n_after,
        |  CAST((SELECT COUNT(*) FROM del) AS BIGINT) AS n_keys_matched,
        |  CAST(0 AS BIGINT) AS residual,
        |  true AS clean
        |FROM m""".stripMargin) { (s, dir) =>
      val ev = t(s, dir, "events")
      graft.pipeline.Contracts.deletionAudit(ev, "user_id",
        ev.filter(col("user_id") % 97 === 3).select("user_id"))
    },

    // Top-20 session trigram paths: the oracle replays the two-lead
    // windows, the both-gaps-in-session filter, and the
    // (cnt DESC, path) cut.
    QueryDef("p157_event_paths",
      """WITH o AS (SELECT user_id, event_type, event_id,
        |    epoch_us(ts) AS us FROM events),
        |l AS (SELECT event_type AS t1,
        |    lead(event_type, 1) OVER w AS t2,
        |    lead(event_type, 2) OVER w AS t3,
        |    lead(us, 1) OVER w - us AS g1,
        |    lead(us, 2) OVER w - lead(us, 1) OVER w AS g2
        |  FROM o WINDOW w AS (PARTITION BY user_id ORDER BY us,
        |    event_id)),
        |p AS (SELECT t1 || '>' || t2 || '>' || t3 AS path FROM l
        |  WHERE t1 IS NOT NULL AND t2 IS NOT NULL AND t3 IS NOT NULL
        |    AND g1 < 1800000000 AND g2 < 1800000000)
        |SELECT path, CAST(COUNT(*) AS BIGINT) AS cnt
        |FROM p GROUP BY 1
        |ORDER BY cnt DESC, path LIMIT 20""".stripMargin) { (s, dir) =>
      topEventPaths(t(s, dir, "events"))
    },

    // Last-touch attribution: purchases credit the last preceding
    // non-purchase event within the session gap; the oracle replays
    // the ignore-nulls preceding window, the gap rule, and the share
    // arithmetic.
    QueryDef("p156_attribution",
      """WITH o AS (SELECT user_id, event_type, event_id,
        |    epoch_us(ts) AS us FROM events),
        |m AS (SELECT user_id, event_type, us,
        |    last_value(CASE WHEN event_type <> 'purchase'
        |      THEN event_type END IGNORE NULLS) OVER w AS ptype,
        |    last_value(CASE WHEN event_type <> 'purchase'
        |      THEN us END IGNORE NULLS) OVER w AS pus
        |  FROM o WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
        |c AS (SELECT CASE WHEN ptype IS NOT NULL
        |      AND us - pus < 1800000000
        |    THEN ptype ELSE '(none)' END AS channel
        |  FROM m WHERE event_type = 'purchase'),
        |g AS (SELECT channel, CAST(COUNT(*) AS BIGINT) AS n_conversions
        |  FROM c GROUP BY 1)
        |SELECT channel, n_conversions,
        |  round(n_conversions /
        |    CAST(SUM(n_conversions) OVER () AS DOUBLE), 6) AS share
        |FROM g ORDER BY 1""".stripMargin) { (s, dir) =>
      lastTouchAttribution(t(s, dir, "events"))
    },

    // Key-skew diagnostics over events.user_id: the oracle replays the
    // exact count table, the (cnt DESC, key) numeric-tiebreak top-20,
    // and the overflow-safe DOUBLE ceil salt suggestion; share and
    // skew_ratio divide in the same IEEE order before the shared
    // round-6.
    QueryDef("p154_skew_report",
      """WITH c AS (SELECT user_id AS k,
        |    CAST(COUNT(*) AS BIGINT) AS cnt FROM events GROUP BY 1),
        |s AS (SELECT CAST(SUM(cnt) AS BIGINT) AS n_rows,
        |    CAST(COUNT(*) AS BIGINT) AS n_keys,
        |    CAST(MAX(cnt) AS BIGINT) AS max_cnt FROM c),
        |t AS (SELECT k, cnt FROM c ORDER BY cnt DESC, k LIMIT 20)
        |SELECT CAST(t.k AS VARCHAR) AS key, t.cnt,
        |  round(CAST(t.cnt AS DOUBLE) / s.n_rows, 6) AS share,
        |  s.n_rows, s.n_keys,
        |  round(CAST(s.max_cnt AS DOUBLE) * s.n_keys / s.n_rows, 6)
        |    AS skew_ratio,
        |  CAST(ceil(CAST(s.max_cnt AS DOUBLE) * s.n_keys / s.n_rows)
        |    AS BIGINT) AS salt_buckets
        |FROM t CROSS JOIN s
        |ORDER BY t.cnt DESC, t.k""".stripMargin) { (s, dir) =>
      skewReport(t(s, dir, "events"), "user_id")
    },

    // Session-scoped Markov transitions: the oracle replays the
    // (ts, event_id)-ordered lead pairs, the strict sub-gap filter
    // (sessionize's rule), and the row-conditional probability.
    QueryDef("p152_markov_transitions",
      """WITH o AS (SELECT user_id, event_type, event_id,
        |    epoch_us(ts) AS us FROM events),
        |l AS (SELECT event_type AS ft,
        |    lead(event_type) OVER w AS tt,
        |    lead(us) OVER w - us AS gap
        |  FROM o WINDOW w AS (PARTITION BY user_id ORDER BY us,
        |    event_id)),
        |f AS (SELECT ft, tt FROM l
        |  WHERE tt IS NOT NULL AND gap < 1800000000),
        |c AS (SELECT ft AS from_type, tt AS to_type,
        |    CAST(COUNT(*) AS BIGINT) AS n FROM f GROUP BY 1, 2)
        |SELECT from_type, to_type, n,
        |  round(n / CAST(SUM(n) OVER (PARTITION BY from_type)
        |    AS DOUBLE), 6) AS p
        |FROM c ORDER BY 1, 2""".stripMargin) { (s, dir) =>
      eventTransitions(t(s, dir, "events"))
    },

    // benchmark = every 100th doc; a corpus doc is contaminated iff it
    // shares a 13-token window with any benchmark doc
    QueryDef("p24_contamination",
      s"""WITH corpus AS (SELECT doc_id, text FROM documents),
         |bench AS (SELECT doc_id, text FROM documents WHERE doc_id % 100 = 0),
         |${shingleCtes(13)}
         |SELECT c.doc_id,
         |  EXISTS (SELECT 1 FROM sh b JOIN bench ON b.doc_id = bench.doc_id
         |          WHERE len(list_intersect(c.s, b.s)) > 0) AS contaminated
         |FROM sh c""".stripMargin) { (s, dir) =>
      val docs = t(s, dir, "documents")
      Corpus.contaminated(docs, docs.filter(col("doc_id") % 100 === 0), n = 13)
        .orderBy("doc_id")
    },

    // contamination as a thresholdable FRACTION (p24's boolean is this
    // at "> 0"): share of each doc's distinct 13-gram windows that
    // occur in the benchmark set — the decontamination-policy score.
    // Hash-vs-string window equality is the p04 argument (2^-64).
    QueryDef("p52_contamination_frac",
      s"""WITH corpus AS (SELECT doc_id, text FROM documents),
         |${shingleCtes(13)},
         |bg AS (SELECT DISTINCT unnest(s) AS g FROM sh
         |       WHERE doc_id % 100 = 0),
         |bl AS (SELECT list(g) AS gs FROM bg)
         |SELECT c.doc_id,
         |  CAST(len(c.s) AS BIGINT) AS n_windows,
         |  CAST(len(list_intersect(c.s, bl.gs)) AS BIGINT) AS n_hit,
         |  round(len(list_intersect(c.s, bl.gs)) / len(c.s), 6)
         |    AS contaminated_frac
         |FROM sh c CROSS JOIN bl""".stripMargin) { (s, dir) =>
      val docs = t(s, dir, "documents")
      Corpus.contaminationFraction(docs,
        docs.filter(col("doc_id") % 100 === 0), n = 13)
        .orderBy("doc_id")
    },

    // cross-document paragraph dedup (boilerplate removal): the driver
    // corpus is single-paragraph, so the gate plants a 100-doc boilerplate
    // footer (removed at minDocs=3) and a 2-doc rare footer (kept — below
    // threshold), exercising both sides of the cut; the oracle recomputes
    // the full split/count/strip/reassemble and the md5 of every cleaned
    // document
    QueryDef("p32_paragraph_dedup",
      """WITH corpus AS (
        |  SELECT doc_id,
        |    text ||
        |    CASE WHEN doc_id % 5 = 0
        |         THEN chr(10) || chr(10) || 'subscribe to our newsletter today'
        |         ELSE '' END ||
        |    CASE WHEN doc_id % 250 = 1
        |         THEN chr(10) || chr(10) || 'rare footer appearing twice'
        |         ELSE '' END AS text
        |  FROM documents),
        |b AS (SELECT doc_id, string_split(text, chr(10) || chr(10)) AS ps
        |      FROM corpus),
        |e AS (SELECT doc_id, ps, unnest(generate_series(1, len(ps))) AS pos
        |      FROM b),
        |x AS (SELECT doc_id, pos, ps[pos] AS para FROM e),
        |boiler AS (SELECT para FROM x
        |           GROUP BY para HAVING count(DISTINCT doc_id) >= 3),
        |k AS (SELECT doc_id, pos, para FROM x
        |      WHERE para NOT IN (SELECT para FROM boiler)),
        |r AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_kept,
        |        string_agg(para, chr(10) || chr(10) ORDER BY pos) AS cleaned
        |      FROM k GROUP BY doc_id)
        |SELECT b.doc_id,
        |  CAST(len(b.ps) AS BIGINT) AS n_paras,
        |  CAST(coalesce(r.n_kept, 0) AS BIGINT) AS n_kept,
        |  CAST(len(b.ps) - coalesce(r.n_kept, 0) AS BIGINT) AS n_removed,
        |  md5(coalesce(r.cleaned, '')) AS clean_md5
        |FROM b LEFT JOIN r ON b.doc_id = r.doc_id""".stripMargin) { (s, dir) =>
      val corpus = t(s, dir, "documents").select(col("doc_id"),
        concat(col("text"),
          when(col("doc_id") % 5 === 0,
            lit("\n\nsubscribe to our newsletter today")).otherwise(lit("")),
          when(col("doc_id") % 250 === 1,
            lit("\n\nrare footer appearing twice")).otherwise(lit("")))
          .as("text"))
      Corpus.paragraphDedup(corpus, minDocs = 3).orderBy("doc_id")
    },

    // mixture-weight data mixing: even-suffixed sources sampled at 25%,
    // odd at 75% (thresholds 0x40000000 / 0xc0000000 are exact in both
    // engines); the oracle recomputes the salted-hash predicate and the
    // exact per-source sampled counts
    QueryDef("p33_mix_sources",
      """SELECT source,
        |  CAST(count(*) AS BIGINT) AS n_total,
        |  CAST(count(*) FILTER (
        |    substring(md5(source || ':' || CAST(doc_id AS VARCHAR)), 1, 8) <
        |    CASE WHEN CAST(substring(source, 4) AS BIGINT) % 2 = 0
        |         THEN '40000000' ELSE 'c0000000' END) AS BIGINT)
        |    AS n_sampled
        |FROM documents GROUP BY source""".stripMargin) { (s, dir) =>
      val docs = t(s, dir, "documents")
      // the weight map is driver-side config in a real pipeline; built
      // here from the (tiny, bounded) distinct source set
      val weights = docs.select("source").distinct().collect()
        .map(_.getString(0))
        .map(s0 => s0 ->
          (if (s0.drop(3).toLong % 2 == 0) 0.25 else 0.75)).toMap
      val mixed = Corpus.mixSources(docs, weights)
      docs.groupBy("source").agg(count(lit(1)).as("n_total"))
        .join(mixed.groupBy("source").agg(count(lit(1)).as("n_sampled")),
          Seq("source"), "left")
        .select(col("source"), col("n_total"),
          coalesce(col("n_sampled"), lit(0L)).as("n_sampled"))
        .orderBy("source")
    },

    // deterministic shard assignment (8 shards): the oracle recomputes
    // shard = (high-32-bits-of-md5 × 8) >> 32 with exact integer
    // arithmetic in both engines, plus per-shard counts and a per-shard
    // balance bound (no shard above 2× the ideal share — md5 uniformity
    // makes this hold deterministically on the fixed corpus)
    QueryDef("p34_shard_assign",
      """WITH s AS (
        |  SELECT (CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8)
        |            AS BIGINT) * 8) // 4294967296 AS shard
        |  FROM documents),
        |c AS (SELECT shard, CAST(count(*) AS BIGINT) AS n_docs
        |      FROM s GROUP BY shard),
        |t AS (SELECT CAST(sum(n_docs) AS DOUBLE) AS total FROM c)
        |SELECT shard, n_docs,
        |  n_docs <= 2.0 * total / 8 AS balanced
        |FROM c, t""".stripMargin) { (s, dir) =>
      val sharded = Corpus.shardBy(t(s, dir, "documents"), nShards = 8)
      val counts = sharded.groupBy("shard")
        .agg(count(lit(1)).as("n_docs"))
      val total = counts.agg(sum("n_docs").cast("double").as("total"))
      counts.crossJoin(total)
        .select(col("shard"), col("n_docs"),
          (col("n_docs") <= lit(2.0) * col("total") / 8).as("balanced"))
        .orderBy("shard")
    },

    // char-entropy quality signal: entropy is a sequential fold over the
    // char-sorted histogram in BOTH engines (binary collation on the sort,
    // identical fold order), so the only divergence is libm log2 ulps —
    // absorbed by ROUND 6 (the per-row scalar-math determinism rule)
    QueryDef("p35_char_entropy",
      """WITH ch AS (
        |  SELECT doc_id, unnest([substring(text, i, 1)
        |    for i in generate_series(1, length(text))]) AS c
        |  FROM documents),
        |h AS (SELECT doc_id, c, CAST(count(*) AS DOUBLE) AS cnt
        |      FROM ch GROUP BY 1, 2),
        |e AS (SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS n_chars,
        |        CAST(count(*) AS BIGINT) AS n_distinct_chars,
        |        list(cnt ORDER BY c) AS counts
        |      FROM h GROUP BY doc_id),
        |s AS (SELECT doc_id, n_chars, n_distinct_chars,
        |        round(-list_aggregate(list_transform(counts,
        |          x -> x / n_chars * log2(x / n_chars)), 'sum'), 6)
        |          AS entropy_bits
        |      FROM e)
        |SELECT doc_id, n_chars, n_distinct_chars, entropy_bits,
        |  entropy_bits >= 2.0 AS entropy_ok
        |FROM s""".stripMargin) { (s, dir) =>
      TextAnalysis.charEntropy(t(s, dir, "documents")).orderBy("doc_id")
    },

    // One-pass column profiling (Corpus.profile) over an events
    // projection with deterministic nulls planted (the driver tables
    // are null-free, and a profiler gate that never sees a null proves
    // nothing). Exact stats are recomputed by DuckDB; the HLL++
    // estimate is gated by the p17 within-5% boolean pattern.
    QueryDef("p37_profile_columns",
      """WITH src AS (
        |  SELECT event_id, user_id,
        |    CASE WHEN value < 10 THEN NULL ELSE event_type END
        |      AS event_type,
        |    CASE WHEN event_id % 7 = 0 THEN NULL ELSE user_id END
        |      AS maybe_user
        |  FROM events)
        |SELECT 'event_type' AS "column",
        |  CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(count(*) - count(event_type) AS BIGINT) AS n_nulls,
        |  CAST(count(DISTINCT event_type) AS BIGINT) AS n_distinct,
        |  CAST(min(event_type) AS VARCHAR) AS min_value,
        |  CAST(max(event_type) AS VARCHAR) AS max_value,
        |  true AS approx_distinct_ok
        |FROM src
        |UNION ALL
        |SELECT 'maybe_user', CAST(count(*) AS BIGINT),
        |  CAST(count(*) - count(maybe_user) AS BIGINT),
        |  CAST(count(DISTINCT maybe_user) AS BIGINT),
        |  CAST(min(maybe_user) AS VARCHAR),
        |  CAST(max(maybe_user) AS VARCHAR), true
        |FROM src
        |UNION ALL
        |SELECT 'user_id', CAST(count(*) AS BIGINT),
        |  CAST(count(*) - count(user_id) AS BIGINT),
        |  CAST(count(DISTINCT user_id) AS BIGINT),
        |  CAST(min(user_id) AS VARCHAR),
        |  CAST(max(user_id) AS VARCHAR), true
        |FROM src""".stripMargin) { (s, dir) =>
      val src = t(s, dir, "events").select(
        col("event_id"), col("user_id"),
        when(col("value") < 10, lit(null)).otherwise(col("event_type"))
          .as("event_type"),
        when(col("event_id") % 7 === 0, lit(null)).otherwise(col("user_id"))
          .as("maybe_user"))
      Corpus.profile(src, Seq("event_type", "maybe_user", "user_id"))
    },

    // ---- multimodal ---------------------------------------------------
    // Real-decode oracle gate: 2/3 of the rows carry REAL PNG/JPEG payloads
    // (encoded in-engine by ImageIO) whose dimensions are pure arithmetic in
    // doc_id — so DuckDB predicts the decoded format/width/height (and the
    // resize math) exactly, proving the ImageIO header-decode path end to
    // end. The remaining 1/3 carry raw text bytes no image reader accepts;
    // their stub fallback is asserted via range/byte-count invariants the
    // oracle checks as a literal `true` (the p17 boolean pattern — the stub's
    // 64-step rolling hash would overflow DuckDB's checked BIGINT).
    QueryDef("p13_mm_decode",
      """WITH m AS (
        |  SELECT doc_id, doc_id % 3 AS kind,
        |    16 + (doc_id * 7) % 97 AS ew,
        |    16 + (doc_id * 13) % 71 AS eh
        |  FROM documents)
        |SELECT doc_id,
        |  CASE WHEN kind = 0 THEN 'png' WHEN kind = 1 THEN 'jpeg' END
        |    AS format,
        |  CASE WHEN kind < 2 THEN CAST(ew AS BIGINT) END AS width,
        |  CASE WHEN kind < 2 THEN CAST(eh AS BIGINT) END AS height,
        |  CASE WHEN kind < 2 THEN CAST(floor(ew * least(CAST(1.0 AS DOUBLE),
        |    CAST(64.0 AS DOUBLE) / CAST(greatest(ew, eh) AS DOUBLE)))
        |    AS BIGINT) END AS resized_w,
        |  CASE WHEN kind < 2 THEN CAST(floor(eh * least(CAST(1.0 AS DOUBLE),
        |    CAST(64.0 AS DOUBLE) / CAST(greatest(ew, eh) AS DOUBLE)))
        |    AS BIGINT) END AS resized_h,
        |  true AS decode_ok
        |FROM m""".stripMargin) { (s, dir) =>
      val docs = t(s, dir, "documents").select("doc_id", "text")
      val decoded = Multimodal.resizeMeta(
        Multimodal.withDecodedMeta(Multimodal.withSyntheticMedia(docs)),
        maxDim = 64)
      val full = Multimodal.featureStub(
        Multimodal.frameSample(decoded), dim = 8)
      val isImage = col("doc_id") % 3 < 2
      full.select(
        col("doc_id"),
        when(isImage, col("meta.format")).as("format"),
        when(isImage, col("meta.width").cast("long")).as("width"),
        when(isImage, col("meta.height").cast("long")).as("height"),
        when(isImage, col("resized.width").cast("long")).as("resized_w"),
        when(isImage, col("resized.height").cast("long")).as("resized_h"),
        when(isImage,
          col("meta.n_bytes") > 8 && size(col("frames")) >= 1 &&
            size(col("features")) === 8)
          .otherwise(
            col("meta.format").isin("png", "jpeg", "webp") &&
              col("meta.width").between(64, 1983) &&
              col("meta.height").between(64, 1143) &&
              col("meta.n_bytes") === length(col("media")).cast("long"))
          .as("decode_ok"))
        .orderBy("doc_id")
    },

    // ---- event-time analytics (batch form of the streaming ops) -------
    QueryDef("p14_events_window",
      """SELECT date_trunc('hour', ts) AS hour, event_type,
        |  COUNT(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,3))) AS DOUBLE) AS sum_value
        |FROM events GROUP BY 1, 2""".stripMargin) { (s, dir) =>
      t(s, dir, "events")
        .groupBy(date_trunc("hour", col("ts")).as("hour"), col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast("decimal(18,3)")).cast("double")
            .as("sum_value"))
    },

    // Gap rule is >= (a gap of exactly 30 min starts a new session), matching
    // Spark session_window's half-open [start, start+gap) semantics so the
    // batch and streaming (s02) sessionizers agree. The gap compare runs on
    // epoch microseconds — integer arithmetic, identical in any engine.
    // sess_id must be cast on the oracle side: DuckDB's windowed SUM(int)
    // yields HUGEINT (int128) which canonicalizes differently from Spark's
    // BIGINT even when every value is equal.
    QueryDef("p15_sessionize",
      """WITH gaps AS (
        |  SELECT user_id, event_id, ts,
        |    CASE WHEN epoch_us(ts) - LAG(epoch_us(ts))
        |              OVER (PARTITION BY user_id ORDER BY ts, event_id)
        |              >= 1800000000
        |         THEN 1 ELSE 0 END AS new_sess
        |  FROM events),
        |sess AS (
        |  SELECT user_id, ts,
        |    CAST(SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |                             ROWS BETWEEN UNBOUNDED PRECEDING
        |                             AND CURRENT ROW) AS BIGINT) AS sess_id
        |  FROM gaps)
        |SELECT user_id, sess_id, COUNT(*) AS n_events,
        |  MIN(ts) AS sess_start, MAX(ts) AS sess_end
        |FROM sess GROUP BY user_id, sess_id""".stripMargin) { (s, dir) =>
      sessionize(t(s, dir, "events"))
    },

    // Distributed Lloyd's k-means (k=10, 2 iterations, seeded from the 10
    // smallest vec_ids) in EXACT int64 arithmetic over round(x*1000)
    // quantized codes — assignment, floor-div centroid update, and final
    // (cluster, dist) all hash-match the oracle's full re-derivation
    // bit-for-bit (the p29/p45 exact-integer pattern). One aggregation
    // job per iteration; the corpus never shuffles, only k×dim sufficient
    // statistics do.
    QueryDef("p54_kmeans_assign", kmeansAssignSql) { (s, dir) =>
      graft.pipeline.Clustering.kmeansAssign(
        t(s, dir, "embeddings"), k = 10, iters = 2)
    },

    // Simplified silhouette over the p54 clustering: the oracle replays
    // the full Lloyd chain (same CTEs as p54), keeps the (d, cid) rank
    // per vector, and derives a (rn=1), b (rn=2), and (b−a)/max(a,b)
    // in the identical IEEE operation order — any drift in centroids,
    // assignment, tie-break, or the score arithmetic flips a value.
    QueryDef("p153_silhouette",
      """WITH q AS (SELECT vec_id, list_transform(embedding,
        |             x -> CAST(round(CAST(x AS DOUBLE)*1000) AS BIGINT))
        |             AS qv
        |           FROM embeddings),
        |u AS (SELECT vec_id, unnest(qv) AS v, unnest(range(len(qv))) AS i
        |      FROM q),
        |c0 AS (SELECT vec_id AS cid, i, v AS cv FROM u WHERE vec_id < 10),
        |d1 AS (SELECT u.vec_id, c0.cid,
        |         sum((u.v - c0.cv)*(u.v - c0.cv)) AS d
        |       FROM u JOIN c0 USING (i) GROUP BY 1, 2),
        |a1 AS (SELECT vec_id, cid FROM (
        |         SELECT vec_id, cid,
        |           ROW_NUMBER() OVER (PARTITION BY vec_id
        |                              ORDER BY d, cid) AS rn
        |         FROM d1) WHERE rn = 1),
        |c1 AS (SELECT a1.cid, u.i,
        |         CAST(floor(CAST(sum(u.v) AS DOUBLE)/count(*)) AS BIGINT)
        |           AS cv
        |       FROM a1 JOIN u USING (vec_id) GROUP BY 1, 2),
        |d2 AS (SELECT u.vec_id, c1.cid,
        |         sum((u.v - c1.cv)*(u.v - c1.cv)) AS d
        |       FROM u JOIN c1 USING (i) GROUP BY 1, 2),
        |rk AS (SELECT vec_id, cid, d,
        |         ROW_NUMBER() OVER (PARTITION BY vec_id
        |                            ORDER BY d, cid) AS rn
        |       FROM d2),
        |ab AS (SELECT vec_id,
        |    max(CASE WHEN rn = 1 THEN cid END) AS cluster,
        |    sqrt(CAST(max(CASE WHEN rn = 1 THEN d END) AS DOUBLE)) AS a,
        |    sqrt(CAST(max(CASE WHEN rn = 2 THEN d END) AS DOUBLE)) AS b
        |  FROM rk WHERE rn <= 2 GROUP BY 1)
        |SELECT vec_id, CAST(cluster AS BIGINT) AS cluster,
        |  round(a, 6) AS a_dist, round(b, 6) AS b_dist,
        |  round(CASE WHEN greatest(a, b) > 0
        |    THEN (b - a) / greatest(a, b) ELSE 0.0 END, 6) AS silhouette
        |FROM ab ORDER BY 1""".stripMargin) { (s, dir) =>
      graft.pipeline.Clustering.silhouetteSimplified(
        t(s, dir, "embeddings"), k = 10, iters = 2)
    },

    // SemDeDup (Abbas et al. 2023): semantic near-dup pairs by cosine,
    // computed ONLY within a p54 k-means cluster — the clustering caps
    // the pairwise work (Σ n_c² with k scaling with the corpus), which
    // is the whole trick at 100 TB. Cosine is exact-int64 dot products
    // pushed through IEEE-deterministic double ops (cast/sqrt/divide),
    // so the 0.95 threshold compare and round-6 output match the oracle
    // bitwise; the oracle re-derives the clustering AND the pairs.
    QueryDef("p55_semantic_dedup",
      """WITH corpus AS (
        |  SELECT vec_id, embedding FROM embeddings
        |  UNION ALL
        |  SELECT vec_id + 1000000 AS vec_id,
        |    list_transform(embedding,
        |      x -> CAST(x * CAST(1.001 AS FLOAT) AS FLOAT)) AS embedding
        |  FROM embeddings WHERE vec_id % 25 = 0),
        |q AS (SELECT vec_id, list_transform(embedding,
        |             x -> CAST(round(CAST(x AS DOUBLE)*1000) AS BIGINT))
        |             AS qv
        |           FROM corpus),
        |u AS (SELECT vec_id, unnest(qv) AS v, unnest(range(len(qv))) AS i
        |      FROM q),
        |c0 AS (SELECT vec_id AS cid, i, v AS cv FROM u WHERE vec_id < 10),
        |d1 AS (SELECT u.vec_id, c0.cid,
        |         sum((u.v - c0.cv)*(u.v - c0.cv)) AS d
        |       FROM u JOIN c0 USING (i) GROUP BY 1, 2),
        |a1 AS (SELECT vec_id, cid FROM (
        |         SELECT vec_id, cid,
        |           ROW_NUMBER() OVER (PARTITION BY vec_id
        |                              ORDER BY d, cid) AS rn
        |         FROM d1) WHERE rn = 1),
        |c1 AS (SELECT a1.cid, u.i,
        |         CAST(floor(CAST(sum(u.v) AS DOUBLE)/count(*)) AS BIGINT)
        |           AS cv
        |       FROM a1 JOIN u USING (vec_id) GROUP BY 1, 2),
        |d2 AS (SELECT u.vec_id, c1.cid,
        |         sum((u.v - c1.cv)*(u.v - c1.cv)) AS d
        |       FROM u JOIN c1 USING (i) GROUP BY 1, 2),
        |a2 AS (SELECT vec_id, cid FROM (
        |         SELECT vec_id, cid,
        |           ROW_NUMBER() OVER (PARTITION BY vec_id
        |                              ORDER BY d, cid) AS rn
        |         FROM d2) WHERE rn = 1),
        |p AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b, a.cid
        |      FROM a2 a JOIN a2 b ON a.cid = b.cid
        |                         AND a.vec_id < b.vec_id),
        |dots AS (SELECT p.id_a, p.id_b, p.cid, sum(ua.v * ub.v) AS num
        |         FROM p JOIN u ua ON ua.vec_id = p.id_a
        |                JOIN u ub ON ub.vec_id = p.id_b AND ub.i = ua.i
        |         GROUP BY 1, 2, 3),
        |ss AS (SELECT vec_id, sum(v*v) AS ss FROM u GROUP BY 1)
        |SELECT CAST(d.cid AS BIGINT) AS cluster, d.id_a, d.id_b,
        |  round(CAST(d.num AS DOUBLE) /
        |        sqrt(CAST(sa.ss*sb.ss AS DOUBLE)), 6) AS cosine
        |FROM dots d JOIN ss sa ON sa.vec_id = d.id_a
        |            JOIN ss sb ON sb.vec_id = d.id_b
        |WHERE CAST(d.num AS DOUBLE) /
        |      sqrt(CAST(sa.ss*sb.ss AS DOUBLE)) >= 0.95""".stripMargin) {
      (s, dir) =>
      graft.pipeline.Clustering.semanticDedupPairs(
        vecsWithPlants(s, dir), k = 10, iters = 2, threshold = 0.95)
    },

    // Token-budget corpus selection ("best B tokens"): quality-ranked
    // (n_chars proxy, doc_id tiebreak) running token total, kept while
    // ≤ 15000 — roughly half the ~27k-token corpus, so both branches of
    // `selected` are exercised at every SF. The oracle's windowed SUM is
    // the semantics; the Spark side computes the same totals with the
    // scalable two-phase prefix sum (range partition + barrier + driver
    // offsets), NOT a single-partition window.
    QueryDef("p56_token_budget",
      """WITH tk AS (
        |  SELECT doc_id, n_chars,
        |    CAST(CASE WHEN length(w) = 0 THEN 0
        |         ELSE len(string_split_regex(w, '\s+')) END AS BIGINT)
        |      AS n_tokens
        |  FROM (SELECT doc_id, n_chars,
        |          regexp_replace(text, '^\s+|\s+$', '', 'g') AS w
        |        FROM documents)),
        |c AS (
        |  SELECT doc_id, n_tokens,
        |    SUM(n_tokens) OVER (ORDER BY n_chars DESC, doc_id
        |                        ROWS BETWEEN UNBOUNDED PRECEDING
        |                        AND CURRENT ROW) AS cum
        |  FROM tk)
        |SELECT doc_id, n_tokens, CAST(cum AS BIGINT) AS cum_tokens,
        |  cum <= 15000 AS selected
        |FROM c""".stripMargin) { (s, dir) =>
      Corpus.tokenBudgetSelect(t(s, dir, "documents"), budget = 15000L)
    },

    // Deterministic global training-order shuffle: position = rank under
    // ORDER BY md5('shuf42:' || doc_id) — an RNG-free permutation any
    // engine and any re-run agrees on. Same two-phase prefix machinery
    // as p56 (value = 1), so the "global sort" never serializes through
    // one task.
    QueryDef("p59_shuffle_order",
      """SELECT doc_id,
        |  CAST(ROW_NUMBER() OVER (
        |    ORDER BY md5('shuf42:' || CAST(doc_id AS VARCHAR)), doc_id)
        |    AS BIGINT) AS pos
        |FROM documents""".stripMargin) { (s, dir) =>
      Corpus.shuffleOrder(t(s, dir, "documents"))
    },

    // Unigram LM quality proxy (KenLM-perplexity stand-in): mean log
    // document-frequency of each doc's tokens. Corpus DF and the
    // per-doc mean are both fully re-derived by the oracle; ln/avg are
    // the only floats → ROUND 6.
    QueryDef("p57_lm_score",
      """WITH tok AS (
        |  SELECT doc_id, unnest(string_split_regex(w, '\s+')) AS token
        |  FROM (SELECT doc_id,
        |          regexp_replace(text, '^\s+|\s+$', '', 'g') AS w
        |        FROM documents)
        |  WHERE length(w) > 0),
        |dfq AS (SELECT token, count(DISTINCT doc_id) AS tdf
        |        FROM tok GROUP BY 1)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
        |  round(avg(ln(tdf)), 6) AS lm_score
        |FROM tok JOIN dfq USING (token)
        |GROUP BY doc_id""".stripMargin) { (s, dir) =>
      TextAnalysis.lmScore(t(s, dir, "documents"))
    },

    // Bigram LM quality proxy: the oracle rebuilds the identical
    // tokenize → zipped-bigram → count → smoothed-log pipeline (p62's
    // parallel-unnest zip), so every count and the per-doc mean must
    // agree to ROUND 6. Docs with < 2 tokens: n_bigrams 0, NULL score.
    QueryDef("p81_bigram_lm",
      """WITH toks AS (
        |  SELECT doc_id,
        |    CASE WHEN length(regexp_replace(text, '^\s+|\s+$', '', 'g')) = 0
        |         THEN CAST([] AS VARCHAR[])
        |         ELSE string_split_regex(
        |           lower(regexp_replace(text, '^\s+|\s+$', '', 'g')), '\s+')
        |    END AS tk
        |  FROM documents),
        |uni AS (SELECT t AS w1, count(*) AS c1
        |        FROM (SELECT unnest(tk) AS t FROM toks) GROUP BY 1),
        |voc AS (SELECT count(*) AS v FROM uni),
        |bg AS (SELECT doc_id,
        |    unnest(CASE WHEN len(tk) < 2 THEN CAST([] AS VARCHAR[])
        |           ELSE tk[1:len(tk)-1] END) AS w1,
        |    unnest(CASE WHEN len(tk) < 2 THEN CAST([] AS VARCHAR[])
        |           ELSE tk[2:len(tk)] END) AS w2
        |  FROM toks),
        |pc AS (SELECT w1, w2, count(*) AS c12 FROM bg GROUP BY 1, 2),
        |sc AS (SELECT b.doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
        |    round(avg(ln(CAST(p.c12 + 1 AS DOUBLE) /
        |      CAST(u.c1 + t.v AS DOUBLE))), 6) AS bigram_lm
        |  FROM bg b JOIN pc p USING (w1, w2)
        |  JOIN uni u USING (w1), voc t
        |  GROUP BY b.doc_id)
        |SELECT d.doc_id, coalesce(s.n_bigrams, 0) AS n_bigrams,
        |  s.bigram_lm
        |FROM documents d LEFT JOIN sc s USING (doc_id)"""
        .stripMargin) { (s, dir) =>
      TextAnalysis.bigramLmScore(t(s, dir, "documents"))
    },

    // Asymmetric containment dedup: ordered pairs where ≥ 80% of a's
    // distinct 5-token shingles occur in b — catches quoted-inside /
    // superset dupes that symmetric Jaccard misses. The planted copies
    // ("text || ' appended'") are exact containment cases: orig-in-copy
    // = 1.0 and copy-in-orig = (W-4)/(W-3). Exhaustive oracle over the
    // same corpus; 64-bit shingle-hash equality = string equality at
    // 2⁻⁶⁴ (the p04 argument).
    QueryDef("p58_containment",
      s"""WITH $corpusSql,
         |${shingleCtes(5)},
         |e AS (SELECT doc_id, unnest(s) AS g FROM sh),
         |p AS (SELECT ea.doc_id AS id_a, eb.doc_id AS id_b,
         |        CAST(count(*) AS BIGINT) AS n_shared
         |      FROM e ea JOIN e eb USING (g)
         |      WHERE ea.doc_id != eb.doc_id GROUP BY 1, 2),
         |nc AS (SELECT doc_id, CAST(len(s) AS BIGINT) AS n_sh FROM sh)
         |SELECT p.id_a, p.id_b, p.n_shared,
         |  round(p.n_shared / nc.n_sh, 6) AS containment
         |FROM p JOIN nc ON nc.doc_id = p.id_a
         |WHERE p.n_shared / nc.n_sh >= 0.8""".stripMargin) { (s, dir) =>
      Dedup.containmentPairs(docsWithPlants(s, dir), n = 5, threshold = 0.8)
    },

    // Mutual-kNN semantic components (k-means-free clustering): exact
    // all-pairs quantized cosine (bit-identical doubles from exact int64
    // inputs, so per-vector rank order matches the oracle EXACTLY),
    // k=5 neighbors, mutual-edge symmetrization, transitive closure.
    // Oracle re-derives the whole chain incl. a recursive-CTE closure;
    // singletons resolve to their own id on both sides.
    QueryDef("p60_mutual_knn",
      """WITH RECURSIVE q AS (SELECT vec_id, list_transform(embedding,
        |             x -> CAST(round(CAST(x AS DOUBLE)*1000) AS BIGINT))
        |             AS qv
        |           FROM embeddings),
        |u AS (SELECT vec_id, unnest(qv) AS v, unnest(range(len(qv))) AS i
        |      FROM q),
        |ss AS (SELECT vec_id, sum(v*v) AS ss FROM u GROUP BY 1),
        |dots AS (SELECT ua.vec_id AS id_a, ub.vec_id AS id_b,
        |           sum(ua.v * ub.v) AS num
        |         FROM u ua JOIN u ub USING (i)
        |         WHERE ua.vec_id != ub.vec_id GROUP BY 1, 2),
        |sc AS (SELECT d.id_a, d.id_b,
        |         CAST(d.num AS DOUBLE) /
        |           sqrt(CAST(sa.ss*sb.ss AS DOUBLE)) AS score
        |       FROM dots d JOIN ss sa ON sa.vec_id = d.id_a
        |                   JOIN ss sb ON sb.vec_id = d.id_b),
        |kn AS (SELECT id_a, id_b FROM (
        |         SELECT id_a, id_b,
        |           ROW_NUMBER() OVER (PARTITION BY id_a
        |                              ORDER BY score DESC, id_b) AS rn
        |         FROM sc) WHERE rn <= 5),
        |me AS (SELECT a.id_a AS a, a.id_b AS b
        |       FROM kn a JOIN kn b ON a.id_a = b.id_b AND a.id_b = b.id_a
        |       WHERE a.id_a < a.id_b),
        |edges AS (SELECT a, b FROM me UNION ALL SELECT b, a FROM me),
        |reach(src, dst) AS (
        |  SELECT a, a FROM edges
        |  UNION
        |  SELECT r.src, e.b FROM reach r JOIN edges e ON r.dst = e.a),
        |cmp AS (SELECT src AS vec_id, MIN(dst) AS comp
        |        FROM reach GROUP BY src)
        |SELECT q.vec_id,
        |  CAST(coalesce(cmp.comp, q.vec_id) AS BIGINT) AS comp
        |FROM q LEFT JOIN cmp ON cmp.vec_id = q.vec_id""".stripMargin) {
      (s, dir) =>
      graft.pipeline.Clustering.mutualKnnComponents(
        t(s, dir, "embeddings"), k = 5)
    },

    // Per-domain corpus stats (domain blocklists / crawl budgeting):
    // URLs planted on every 7th doc across 5 domains, host extraction
    // and all three aggregates re-derived by the oracle. The regex
    // subset (classes + bounded repetition) evaluates identically in
    // Java regex and RE2; avg over int64 n_chars is exact-rational →
    // ROUND 6 matches.
    QueryDef("p61_url_domains",
      """WITH corpus AS (
        |  SELECT doc_id,
        |    text || CASE WHEN doc_id % 7 = 0
        |      THEN ' see https://site' || CAST(doc_id % 5 AS VARCHAR) ||
        |           '.example.com/p' || CAST(doc_id AS VARCHAR)
        |      ELSE '' END AS text
        |  FROM documents),
        |c2 AS (SELECT doc_id, text, length(text) AS n_chars FROM corpus),
        |e AS (SELECT doc_id, n_chars,
        |        unnest(regexp_extract_all(text,
        |          'https?://[A-Za-z0-9.-]+', 0)) AS url
        |      FROM c2),
        |d AS (SELECT doc_id, n_chars,
        |        regexp_extract(url, 'https?://([A-Za-z0-9.-]+)', 1)
        |          AS domain
        |      FROM e)
        |SELECT domain, CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
        |  CAST(count(*) AS BIGINT) AS n_urls,
        |  round(avg(n_chars), 6) AS avg_chars
        |FROM d GROUP BY domain""".stripMargin) { (s, dir) =>
      val planted = t(s, dir, "documents").select(col("doc_id"),
        concat(col("text"),
          when(col("doc_id") % 7 === 0,
            concat(lit(" see https://site"),
              (col("doc_id") % 5).cast("string"),
              lit(".example.com/p"), col("doc_id").cast("string")))
            .otherwise(lit(""))).as("text"))
        .withColumn("n_chars", length(col("text")).cast("long"))
      Corpus.domainStats(planted)
    },

    // PMI-style collocation mining: every count (pair, unigram, corpus
    // total) is exact int64 and the lift is ONE double division of
    // exact integers + ROUND 6, so the oracle re-derives the full
    // output including scores. The DuckDB bigram mirror zips two list
    // slices via parallel unnest — positionally identical to the Spark
    // zip_with over the same slices.
    QueryDef("p62_collocations",
      """WITH toks AS (
        |  SELECT CASE WHEN length(regexp_replace(text, '^\s+|\s+$', '', 'g')) = 0
        |         THEN CAST([] AS VARCHAR[])
        |         ELSE string_split_regex(
        |           lower(regexp_replace(text, '^\s+|\s+$', '', 'g')), '\s+')
        |    END AS tk
        |  FROM documents),
        |uni AS (SELECT t AS w, count(*) AS n_w
        |        FROM (SELECT unnest(tk) AS t FROM toks) GROUP BY 1),
        |tot AS (SELECT CAST(sum(n_w) AS BIGINT) AS n_total FROM uni),
        |bg AS (SELECT
        |    unnest(CASE WHEN len(tk) < 2 THEN CAST([] AS VARCHAR[])
        |           ELSE tk[1:len(tk)-1] END) AS w1,
        |    unnest(CASE WHEN len(tk) < 2 THEN CAST([] AS VARCHAR[])
        |           ELSE tk[2:len(tk)] END) AS w2
        |  FROM toks),
        |pc AS (SELECT w1, w2, count(*) AS n_pair FROM bg
        |       GROUP BY 1, 2 HAVING count(*) >= 25)
        |SELECT p.w1, p.w2, CAST(p.n_pair AS BIGINT) AS n_pair,
        |  CAST(u1.n_w AS BIGINT) AS n_w1, CAST(u2.n_w AS BIGINT) AS n_w2,
        |  round(CAST(p.n_pair * t.n_total AS DOUBLE) /
        |        CAST(u1.n_w * u2.n_w AS DOUBLE), 6) AS lift
        |FROM pc p JOIN uni u1 ON u1.w = p.w1
        |JOIN uni u2 ON u2.w = p.w2, tot t""".stripMargin) { (s, dir) =>
      TextAnalysis.collocations(t(s, dir, "documents"), minCount = 25)
    },

    // Per-source percentile normalization: rank_in_source is re-derived
    // by the oracle's per-source ROW_NUMBER — proving the global-order
    // machinery (range partition + per-source offsets) produces exactly
    // the per-source window result without the per-source sort.
    QueryDef("p63_source_percentile",
      """WITH r AS (
        |  SELECT doc_id, source,
        |    ROW_NUMBER() OVER (PARTITION BY source
        |                       ORDER BY n_chars, doc_id) - 1 AS rk,
        |    COUNT(*) OVER (PARTITION BY source) AS n
        |  FROM documents)
        |SELECT doc_id, source, CAST(rk AS BIGINT) AS rank_in_source,
        |  CASE WHEN n = 1 THEN 0.0
        |       ELSE round(CAST(rk AS DOUBLE) / (n - 1), 6) END AS pct
        |FROM r""".stripMargin) { (s, dir) =>
      Corpus.perSourcePercentile(t(s, dir, "documents"), col("n_chars"))
    },

    // Domain-authority PageRank over the co-citation graph. Every 3rd
    // doc is planted with TWO domain mentions so co-citation edges
    // exist; the oracle replays all 3 power iterations in exact-int64
    // (integer div, order-independent sums) — bit-identical ranks.
    QueryDef("p64_domain_pagerank",
      """WITH corpus AS (
        |  SELECT doc_id, text || CASE WHEN doc_id % 3 = 0
        |    THEN ' https://site' || CAST(doc_id % 5 AS VARCHAR) ||
        |         '.example.com/a https://site' ||
        |         CAST((doc_id % 7) % 5 AS VARCHAR) || '.example.com/b'
        |    ELSE '' END AS text
        |  FROM documents),
        |m AS (SELECT DISTINCT doc_id AS id,
        |        regexp_extract(url, 'https?://([A-Za-z0-9.-]+)', 1)
        |          AS domain
        |      FROM (SELECT doc_id, unnest(regexp_extract_all(text,
        |              'https?://[A-Za-z0-9.-]+', 0)) AS url
        |            FROM corpus)),
        |e AS (SELECT a.domain AS src, b.domain AS dst,
        |        CAST(count(*) AS BIGINT) AS w
        |      FROM m a JOIN m b ON a.id = b.id AND a.domain <> b.domain
        |      GROUP BY 1, 2),
        |ow AS (SELECT src, CAST(sum(w) AS BIGINT) AS ow FROM e GROUP BY 1),
        |n AS (SELECT DISTINCT domain FROM m),
        |r0 AS (SELECT domain, CAST(1000000 AS BIGINT) AS r FROM n),
        |c1 AS (SELECT e.dst AS domain,
        |         CAST(sum(r0.r * e.w // ow.ow) AS BIGINT) AS cs
        |       FROM r0 JOIN e ON r0.domain = e.src
        |       JOIN ow ON e.src = ow.src GROUP BY 1),
        |r1 AS (SELECT n.domain,
        |         CAST(150000 + coalesce(c1.cs, 0) * 85 // 100 AS BIGINT)
        |           AS r
        |       FROM n LEFT JOIN c1 USING (domain)),
        |c2 AS (SELECT e.dst AS domain,
        |         CAST(sum(r1.r * e.w // ow.ow) AS BIGINT) AS cs
        |       FROM r1 JOIN e ON r1.domain = e.src
        |       JOIN ow ON e.src = ow.src GROUP BY 1),
        |r2 AS (SELECT n.domain,
        |         CAST(150000 + coalesce(c2.cs, 0) * 85 // 100 AS BIGINT)
        |           AS r
        |       FROM n LEFT JOIN c2 USING (domain)),
        |c3 AS (SELECT e.dst AS domain,
        |         CAST(sum(r2.r * e.w // ow.ow) AS BIGINT) AS cs
        |       FROM r2 JOIN e ON r2.domain = e.src
        |       JOIN ow ON e.src = ow.src GROUP BY 1),
        |r3 AS (SELECT n.domain,
        |         CAST(150000 + coalesce(c3.cs, 0) * 85 // 100 AS BIGINT)
        |           AS r
        |       FROM n LEFT JOIN c3 USING (domain))
        |SELECT domain, r AS rank_micros FROM r3""".stripMargin) {
      (s, dir) =>
      val planted = t(s, dir, "documents").select(col("doc_id"),
        concat(col("text"),
          when(col("doc_id") % 3 === 0,
            concat(lit(" https://site"), (col("doc_id") % 5).cast("string"),
              lit(".example.com/a https://site"),
              ((col("doc_id") % 7) % 5).cast("string"),
              lit(".example.com/b")))
            .otherwise(lit(""))).as("text"))
      Corpus.domainRank(planted, iterations = 3)
    },

    // Content-defined chunk dedup (CDC): boundaries from the native
    // gear-hash expression, so DuckDB cannot re-derive them — the gate
    // follows the p50 pattern: Spark computes INVARIANT BOOLEANS that
    // must hold (every planted doc shares an interior chunk of the
    // planted passage despite a different preceding prefix in every
    // doc — the alignment-immunity CDC exists for; no unplanted doc
    // does; chunks reassemble to the exact text), and the oracle
    // re-derives the counts and asserts the booleans literally.
    QueryDef("p66_cdc_dedup",
      """SELECT CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(count(*) FILTER (doc_id % 4 = 0) AS BIGINT) AS n_planted,
        |  true AS planted_all_hit, true AS others_none_hit,
        |  true AS reassembly_ok
        |FROM documents""".stripMargin) { (s, dir) =>
      import org.apache.spark.sql.graft.VectorExpressions
      val boiler = (0 until 80)
        .map(i => s"boilerseg$i chunkmark$i").mkString(" ")
      val planted = t(s, dir, "documents").select(col("doc_id"),
        concat(col("text"),
          when(col("doc_id") % 4 === 0, lit(" " + boiler))
            .otherwise(lit(""))).as("text"))
      val ch = Dedup.cdcChunkTable(planted)
      // interior chunks of the standalone passage (first/last depend on
      // the splice context; interior ones are the alignment-proof core)
      val bch = s.range(1).select(posexplode(
        VectorExpressions.cdcChunks(lit(boiler), 32, 6))
        .as(Seq("i", "c")))
      val interior = bch
        .crossJoin(broadcast(bch.agg(max("i").as("mx"))))
        .filter(col("i") > 0 && col("i") < col("mx")).select("c")
      val hits = ch.join(broadcast(interior), ch("chunk") === col("c"),
          "left_semi")
        .select("doc_id").distinct().withColumn("hit", lit(true))
      val perDoc = planted.select("doc_id")
        .join(hits, Seq("doc_id"), "left")
        .select((col("doc_id") % 4 === 0).as("p"),
          coalesce(col("hit"), lit(false)).as("hit"))
      val reOk = ch.groupBy("doc_id")
        .agg(array_join(transform(
          array_sort(collect_list(struct(col("chunk_idx"), col("chunk")))),
          x => x("chunk")), "").as("re"))
        .join(planted, Seq("doc_id"))
        .agg(bool_and(col("re") === col("text")).as("reassembly_ok"))
      perDoc.agg(count(lit(1)).as("n_docs"),
          count(when(col("p"), 1)).as("n_planted"),
          bool_and(!col("p") || col("hit")).as("planted_all_hit"),
          bool_and(col("p") || !col("hit")).as("others_none_hit"))
        .crossJoin(broadcast(reOk))
        .select(col("n_docs"), col("n_planted"), col("planted_all_hit"),
          col("others_none_hit"), col("reassembly_ok"))
    },

    // Quality cascade with reason attribution: every branch is live on
    // this corpus (too_short from the nt<15 tail, repetitive_lines from
    // the planted line-doubled docs, too_long from the nc>500 tail,
    // low_alpha from the alpha tail, lang_filtered from zh docs) and
    // the oracle re-derives signals, cascade order, and rounded values.
    // C4 line-level cleaning: planted docs make every rule branch live
    // (a javascript line that passes the punctuation+words test but is
    // name-blocked, a lorem-ipsum page, a curly-brace page); the oracle
    // replays line split, filter, and page gates in DuckDB list lambdas.
    QueryDef("p69_c4_clean",
      """WITH corpus AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 7000000 AS doc_id,
        |    text || chr(10) || 'check the javascript widget now.' AS text
        |  FROM documents WHERE doc_id % 17 = 0
        |  UNION ALL
        |  SELECT doc_id + 8000000 AS doc_id, text || ' lorem ipsum'
        |    AS text
        |  FROM documents WHERE doc_id % 19 = 0
        |  UNION ALL
        |  SELECT doc_id + 9000000 AS doc_id, text || ' {' AS text
        |  FROM documents WHERE doc_id % 23 = 0),
        |d AS (SELECT doc_id, text, string_split(text, chr(10)) AS ls
        |  FROM corpus),
        |k AS (SELECT doc_id, text, len(ls) AS n_lines,
        |  list_filter(ls, l -> right(rtrim(l), 1) IN ('.', '!', '?', '"')
        |    AND len(list_filter(string_split(l, ' '), w -> w <> '')) >= 4
        |    AND NOT contains(lower(l), 'javascript')) AS kept
        |  FROM d)
        |SELECT doc_id, CAST(n_lines AS BIGINT) AS n_lines,
        |  CAST(len(kept) AS BIGINT) AS n_kept,
        |  (len(kept) >= 3 AND NOT contains(lower(text), 'lorem ipsum')
        |    AND NOT contains(text, '{')) AS keep,
        |  CAST(coalesce(length(array_to_string(kept, chr(10))), 0)
        |    AS BIGINT) AS clean_len
        |FROM k""".stripMargin) { (s, dir) =>
      val docs = t(s, dir, "documents").select("doc_id", "text")
      def planted(mod: Long, shift: Long, suffix: Column) =
        docs.filter(col("doc_id") % mod === 0)
          .select((col("doc_id") + shift).as("doc_id"),
            concat(col("text"), suffix).as("text"))
      val corpus = docs
        .unionAll(planted(17, 7000000L,
          lit("\ncheck the javascript widget now.")))
        .unionAll(planted(19, 8000000L, lit(" lorem ipsum")))
        .unionAll(planted(23, 9000000L, lit(" {")))
      TextAnalysis.c4Clean(corpus)
    },

    // Per-source KL drift: p/q ratios over exact counts, one rounded
    // Σ per source; the oracle mirrors the expression shape exactly
    // (same division order) so the round-6 doubles agree.
    QueryDef("p70_source_divergence",
      """WITH tok AS (
        |  SELECT source, unnest(string_split_regex(w, '\s+')) AS token
        |  FROM (SELECT source,
        |          regexp_replace(text, '^\s+|\s+$', '', 'g') AS w
        |        FROM documents)
        |  WHERE length(w) > 0),
        |st AS (SELECT source, token, count(*) AS c_st
        |       FROM tok GROUP BY 1, 2),
        |s AS (SELECT source, sum(c_st) AS n_s FROM st GROUP BY 1),
        |t AS (SELECT token, sum(c_st) AS c_t FROM st GROUP BY 1),
        |n AS (SELECT sum(n_s) AS big_n FROM s)
        |SELECT st.source, CAST(sum(c_st) AS BIGINT) AS n_tokens,
        |  round(sum((c_st / n_s) * ln((c_st / n_s) / (c_t / big_n))), 6)
        |    AS kl
        |FROM st JOIN s USING (source) JOIN t USING (token) CROSS JOIN n
        |GROUP BY st.source""".stripMargin) { (s, dir) =>
      Corpus.sourceDivergence(
        t(s, dir, "documents").select("source", "text"))
    },

    // Temperature sampling: rates derived on the tiny source-count
    // table, keep decisions via the p53 md5-threshold rule on the
    // ROUNDED rate — the oracle replays the whole derivation with the
    // same expression order.
    QueryDef("p72_temperature_sample",
      """WITH s AS (SELECT source, count(*) AS n_s FROM documents
        |  GROUP BY 1),
        |p AS (SELECT source, n_s,
        |    pow(n_s / (SELECT sum(n_s) FROM s), 0.3) AS pa FROM s),
        |pp AS (SELECT source, n_s,
        |    pa / (SELECT sum(pa) FROM p) AS pr FROM p),
        |r AS (SELECT source, n_s, round(pr *
        |    (SELECT min(n_s / pr) FROM pp) / n_s, 6) AS rate FROM pp)
        |SELECT d.source, CAST(n_s AS BIGINT) AS n_s, rate,
        |  CAST(sum(CASE WHEN rate >= 1.0 THEN 1
        |    WHEN rate <= 0.0 THEN 0
        |    WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 8) <
        |      lower(lpad(hex(CAST(floor(rate * 4294967296) AS BIGINT)),
        |        8, '0')) THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
        |FROM documents d JOIN r USING (source)
        |GROUP BY d.source, n_s, rate""".stripMargin) { (s, dir) =>
      Corpus.temperatureSample(
        t(s, dir, "documents").select("source", "doc_id"))
    },

    // Release drift (PSI over length bins): same v1/v2 construction as
    // p68; digit-count bins are exact in both engines, so the only
    // doubles are the smoothed ratios inside the rounded term.
    QueryDef("p71_snapshot_drift",
      """WITH v2 AS (
        |  SELECT CASE WHEN doc_id % 7 = 0 THEN text || ' v2'
        |    ELSE text END AS text
        |  FROM documents WHERE doc_id % 11 <> 0
        |  UNION ALL
        |  SELECT text FROM documents WHERE doc_id % 13 = 0),
        |h1 AS (SELECT length(CAST(length(text) AS VARCHAR)) AS bin,
        |         count(*) AS c1 FROM documents GROUP BY 1),
        |h2 AS (SELECT length(CAST(length(text) AS VARCHAR)) AS bin,
        |         count(*) AS c2 FROM v2 GROUP BY 1),
        |j AS (SELECT coalesce(h1.bin, h2.bin) AS bin,
        |        coalesce(c1, 0) AS c1, coalesce(c2, 0) AS c2
        |      FROM h1 FULL OUTER JOIN h2 ON h1.bin = h2.bin),
        |t AS (SELECT sum(c1) AS n1, sum(c2) AS n2, count(*) AS nb
        |      FROM j)
        |SELECT CAST(bin AS BIGINT) AS bin, CAST(c1 AS BIGINT) AS c1,
        |  CAST(c2 AS BIGINT) AS c2,
        |  round(((c1 + 1) / (n1 + nb) - (c2 + 1) / (n2 + nb)) *
        |    ln(((c1 + 1) / (n1 + nb)) / ((c2 + 1) / (n2 + nb))), 6)
        |    AS psi_term
        |FROM j CROSS JOIN t""".stripMargin) { (s, dir) =>
      val v1 = t(s, dir, "documents").select("doc_id", "text")
      val kept = v1.filter(col("doc_id") % 11 =!= 0)
        .select(col("doc_id"),
          when(col("doc_id") % 7 === 0, concat(col("text"), lit(" v2")))
            .otherwise(col("text")).as("text"))
      val added = v1.filter(col("doc_id") % 13 === 0)
      Corpus.snapshotDrift(v1, kept.unionAll(added))
    },

    // Snapshot diff (release deltas): v2 removes every 11th doc, edits
    // every 7th survivor, adds a copy of every 13th — all four statuses
    // live; the oracle replays the construction and the digest compare
    // (DuckDB md5 == Spark md5).
    QueryDef("p68_snapshot_diff",
      """WITH v1 AS (SELECT doc_id, text FROM documents),
        |v2 AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 7 = 0 THEN text || ' v2' ELSE text END
        |      AS text
        |  FROM documents WHERE doc_id % 11 <> 0
        |  UNION ALL
        |  SELECT doc_id + 5000000 AS doc_id, text FROM documents
        |  WHERE doc_id % 13 = 0),
        |a AS (SELECT doc_id, md5(text) AS dga FROM v1),
        |b AS (SELECT doc_id, md5(text) AS dgb FROM v2)
        |SELECT coalesce(a.doc_id, b.doc_id) AS doc_id,
        |  CASE WHEN b.doc_id IS NULL THEN 'removed'
        |       WHEN a.doc_id IS NULL THEN 'added'
        |       WHEN dga <> dgb THEN 'changed'
        |       ELSE 'unchanged' END AS status
        |FROM a FULL OUTER JOIN b ON a.doc_id = b.doc_id""".stripMargin) {
      (s, dir) =>
      val v1 = t(s, dir, "documents").select("doc_id", "text")
      val kept = v1.filter(col("doc_id") % 11 =!= 0)
        .select(col("doc_id"),
          when(col("doc_id") % 7 === 0, concat(col("text"), lit(" v2")))
            .otherwise(col("text")).as("text"))
      val added = v1.filter(col("doc_id") % 13 === 0)
        .select((col("doc_id") + 5000000L).as("doc_id"), col("text"))
      Corpus.snapshotDiff(v1, kept.unionAll(added))
    },

    // Filter impact report: what each cascade rule costs in docs /
    // tokens / chars — the report a pipeline owner reads before
    // loosening a threshold. The oracle nests the SHARED p67 SQL as a
    // CTE (one cascade definition, two gates); exact int64 sums + one
    // rounded share.
    QueryDef("p73_filter_impact",
      s"""WITH casc AS (${Pipeline.qualityCascadeSql})
         |SELECT reason, CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(n_tokens) AS BIGINT) AS tokens,
         |  CAST(sum(n_chars) AS BIGINT) AS chars,
         |  round(sum(n_chars) * 1.0 /
         |    (SELECT sum(n_chars) FROM casc), 6) AS char_share
         |FROM casc GROUP BY reason""".stripMargin) { (s, dir) =>
      val docs = t(s, dir, "documents").select("doc_id", "text", "lang")
      val planted = docs.filter(col("doc_id") % 9 === 0)
        .select((col("doc_id") + 3000000L).as("doc_id"),
          concat(col("text"), lit("\n"), col("text")).as("text"),
          col("lang"))
      val casc = TextAnalysis.qualityCascade(docs.unionAll(planted))
      val byReason = casc.groupBy("reason")
        .agg(count(lit(1)).as("n_docs"), sum("n_tokens").as("tokens"),
          sum("n_chars").as("chars"))
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(Corpus.boundedKey(col("reason")))
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      byReason.select(col("reason"), col("n_docs"), col("tokens"),
        col("chars"),
        round(col("chars") * 1.0 / sum("chars").over(w), 6)
          .as("char_share"))
    },

    QueryDef("p67_quality_cascade", Pipeline.qualityCascadeSql) { (s, dir) =>
      val docs = t(s, dir, "documents").select("doc_id", "text", "lang")
      val planted = docs.filter(col("doc_id") % 9 === 0)
        .select((col("doc_id") + 3000000L).as("doc_id"),
          concat(col("text"), lit("\n"), col("text")).as("text"),
          col("lang"))
      TextAnalysis.qualityCascade(docs.unionAll(planted))
    },

    // Tokenizer fertility by language: all three sums exact int64, the
    // ratio one double division + ROUND 6.
    QueryDef("p65_lang_fertility",
      """WITH t AS (
        |  SELECT lang,
        |    CASE WHEN length(regexp_replace(text, '^\s+|\s+$', '', 'g')) = 0
        |         THEN 0
        |         ELSE len(string_split_regex(
        |           regexp_replace(text, '^\s+|\s+$', '', 'g'), '\s+'))
        |    END AS nt,
        |    length(text) AS nc
        |  FROM documents)
        |SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(nt) AS BIGINT) AS n_tokens,
        |  CAST(sum(nc) AS BIGINT) AS n_chars,
        |  round(CAST(sum(nc) AS DOUBLE) / CAST(sum(nt) AS DOUBLE), 6)
        |    AS chars_per_token
        |FROM t GROUP BY lang""".stripMargin) { (s, dir) =>
      TextAnalysis.fertilityByLang(t(s, dir, "documents"))
    },

    // ---- retrieval tier (p85-p88) --------------------------------------

    // Okapi BM25 top-k: queries are the first 30 tokens of docs 0-4; the
    // oracle recomputes the identical formula (idf = ln(1+(N-df+.5)/(df+.5)),
    // same multiplication order), both sides ROUND 6 before the
    // (score desc, doc_id) rank cut — the p81 float-portability rule.
    QueryDef("p85_bm25_topk",
      s"""$bm25ScoredCtes,
        |rk AS (SELECT qid, id AS doc_id, score,
        |    ROW_NUMBER() OVER (PARTITION BY qid
        |                       ORDER BY score DESC, id) AS rank
        |  FROM sc)
        |SELECT qid, doc_id, score, CAST(rank AS BIGINT) AS rank
        |FROM rk WHERE rank <= 10""".stripMargin) { (s, dir) =>
      val docs = t(s, dir, "documents")
      val queries = docs.filter(col("doc_id") < 5)
        .select(col("doc_id").as("qid"),
          concat_ws(" ", slice(TextAnalysis.tokens(lower(col("text"))),
            1, 30)).as("qtext"))
      Retrieval.bm25TopK(docs, queries, k = 10)
        .withColumn("rank", col("rank").cast("long"))
    },

    // RM3 pseudo-relevance feedback: expansion terms from the BM25
    // top-10 feedback docs, query terms anti-joined out, exact-integer
    // counts with a (cnt desc, term) deterministic cut.
    QueryDef("p89_query_expansion",
      s"""$bm25ScoredCtes,
        |rk AS (SELECT qid, id, score,
        |    ROW_NUMBER() OVER (PARTITION BY qid
        |                       ORDER BY score DESC, id) AS rank
        |  FROM sc),
        |top AS (SELECT qid, id FROM rk WHERE rank <= 10),
        |ft AS (SELECT t.qid, u.term, count(*) AS cnt
        |  FROM top t
        |  JOIN (SELECT doc_id, unnest(tk) AS term FROM toks) u
        |    ON u.doc_id = t.id
        |  GROUP BY 1, 2),
        |fx AS (SELECT f.qid, f.term, f.cnt FROM ft f
        |  LEFT JOIN qt q ON q.qid = f.qid AND q.term = f.term
        |  WHERE q.term IS NULL),
        |er AS (SELECT qid, term, cnt,
        |    ROW_NUMBER() OVER (PARTITION BY qid
        |                       ORDER BY cnt DESC, term) AS rank
        |  FROM fx)
        |SELECT qid, term, CAST(cnt AS BIGINT) AS cnt,
        |  CAST(rank AS BIGINT) AS rank
        |FROM er WHERE rank <= 5""".stripMargin) { (s, dir) =>
      val docs = t(s, dir, "documents")
      val queries = docs.filter(col("doc_id") < 5)
        .select(col("doc_id").as("qid"),
          concat_ws(" ", slice(TextAnalysis.tokens(lower(col("text"))),
            1, 30)).as("qtext"))
      Retrieval.queryExpansionTerms(docs, queries, k = 10, expandN = 5)
    },

    // Retrieval eval harness: recall@10 / MRR@10 / nDCG@10 of the BM25
    // ranking against a term-containment gold set (≥ 4/5 of the query's
    // distinct terms, integer cross-multiply). Gold and pred both derive
    // from the shared `sc`/`qt`/`post` CTEs, so the oracle replays the
    // whole eval: ranking, gold membership, and the metric arithmetic
    // (exact-int hits/ranks; DCG/ratios rounded 6).
    QueryDef("p90_retrieval_eval",
      s"""$bm25ScoredCtes,
        |rk AS (SELECT qid, id, score,
        |    ROW_NUMBER() OVER (PARTITION BY qid
        |                       ORDER BY score DESC, id) AS rank
        |  FROM sc),
        |pred AS (SELECT qid, id, rank FROM rk WHERE rank <= 10),
        |qn AS (SELECT qid, count(*) AS qn FROM qt GROUP BY 1),
        |gold AS (SELECT m.qid, m.id FROM
        |    (SELECT q.qid, p.id, count(*) AS m
        |     FROM post p JOIN qt q USING (term) GROUP BY 1, 2) m
        |  JOIN qn USING (qid)
        |  WHERE m.m * 5 >= qn.qn * 4),
        |gn AS (SELECT qid, count(*) AS n_gold FROM gold GROUP BY 1),
        |h AS (SELECT p.qid, count(*) AS hits, min(p.rank) AS first_hit,
        |    sum(1.0 / log2(p.rank + 1)) AS dcg
        |  FROM pred p JOIN gold g ON g.qid = p.qid AND g.id = p.id
        |  GROUP BY 1)
        |SELECT gn.qid, CAST(gn.n_gold AS BIGINT) AS n_gold,
        |  CAST(COALESCE(h.hits, 0) AS BIGINT) AS hits,
        |  round(COALESCE(h.hits, 0) / CAST(gn.n_gold AS DOUBLE), 6)
        |    AS recall,
        |  round(COALESCE(CAST(1 AS DOUBLE) / h.first_hit, 0), 6) AS mrr,
        |  round(COALESCE(h.dcg, 0) / list_sum(list_transform(
        |      range(1, least(10, gn.n_gold) + 1),
        |      r -> 1.0 / log2(r + 1))), 6) AS ndcg
        |FROM gn LEFT JOIN h USING (qid)""".stripMargin) { (s, dir) =>
      val docs = t(s, dir, "documents")
      val queries = docs.filter(col("doc_id") < 5)
        .select(col("doc_id").as("qid"),
          concat_ws(" ", slice(TextAnalysis.tokens(lower(col("text"))),
            1, 30)).as("qtext"))
      Retrieval.rankingMetrics(
        Retrieval.bm25TopK(docs, queries, k = 10),
        Retrieval.termContainmentGold(docs, queries, num = 4, den = 5),
        k = 10)
    },

    // DSIR importance weights: target = every 7th doc standing in for
    // the curated seed corpus (production would use a quality-gated
    // subset, e.g. the p67 cascade's survivors — the id-rule keeps the
    // oracle focused on the weighting math). The oracle replays bucket
    // assignment from DuckDB's md5 via hex-digit arithmetic and the
    // exact same smoothing/normalizer expression; scores rounded 6.
    QueryDef("p91_importance_weights",
      s"WITH $p91Ctes\n$p91Select") { (s, dir) =>
      val docs = t(s, dir, "documents")
      Corpus.importanceWeights(docs, docs.filter(col("doc_id") % 7 === 0))
    },

    // Importance-weight health diagnostics over the p91 weights: the
    // oracle re-derives the identical scores, exponentiates, and
    // replays the max-NORMALIZED DECIMAL(38,12)-pinned Σw'/Σw'², ESS,
    // max-share, and the 10×-mean heavy count. Scenario 2 runs on an
    // empty slice (Σw'² = 0 → guarded); scenario 3 plants a 1e30
    // weight — the magnitude that overflowed the old raw-w pin
    // (ADVICE r11) — and must read out the degenerate ESS ≈ 1 loudly
    // instead of NULL-dropping the term.
    QueryDef("p184_weight_diag",
      s"""WITH $p91Ctes,
         |wt AS ($p91Select),
         |sc2 AS (SELECT unnest(['1_real', '2_empty', '3_extreme'])
         |  AS scenario),
         |ex AS (SELECT scenario, exp(score) AS w FROM wt CROSS JOIN sc2
         |  WHERE scenario IN ('1_real', '3_extreme')
         |  UNION ALL SELECT '3_extreme' AS scenario, 1e30 AS w),
         |m0 AS (SELECT s2.scenario,
         |    CAST(COUNT(ex.w) AS BIGINT) AS n,
         |    MAX(ABS(ex.w)) AS mwa, MAX(ex.w) AS mw
         |  FROM sc2 s2 LEFT JOIN ex ON ex.scenario = s2.scenario
         |  GROUP BY 1),
         |m AS (SELECT m0.scenario, m0.n, m0.mwa, m0.mw,
         |    CAST(COALESCE(SUM(CAST(CASE WHEN m0.mwa > 0 THEN
         |      ex.w / m0.mwa END AS DECIMAL(38,12))),
         |      CAST(0 AS DECIMAL(38,12))) AS DOUBLE) AS swn,
         |    CAST(COALESCE(SUM(CAST(CASE WHEN m0.mwa > 0 THEN
         |      (ex.w / m0.mwa) * (ex.w / m0.mwa) END
         |      AS DECIMAL(38,12))),
         |      CAST(0 AS DECIMAL(38,12))) AS DOUBLE) AS sw2n
         |  FROM m0 LEFT JOIN ex ON ex.scenario = m0.scenario
         |  GROUP BY 1, 2, 3, 4),
         |h AS (SELECT m.scenario,
         |    CAST(COALESCE(SUM(CASE WHEN ex.w >
         |      10.0 * m.mwa * m.swn / CAST(m.n AS DOUBLE)
         |      THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_heavy
         |  FROM m LEFT JOIN ex ON ex.scenario = m.scenario
         |  GROUP BY 1)
         |SELECT m.scenario, m.n,
         |  round(COALESCE(m.mwa * m.swn, 0.0), 6) AS sum_w,
         |  round(CASE WHEN m.sw2n > 0 THEN m.swn * m.swn / m.sw2n
         |    END, 6) AS ess,
         |  round(CASE WHEN m.sw2n > 0 AND m.n > 0 THEN
         |    m.swn * m.swn / m.sw2n / CAST(m.n AS DOUBLE) END, 6)
         |    AS ess_frac,
         |  round(CASE WHEN m.swn > 0 THEN m.mw / m.mwa / m.swn END, 6)
         |    AS max_share,
         |  h.n_heavy,
         |  COALESCE(NOT (m.sw2n > 0), TRUE) AS guarded
         |FROM m JOIN h USING (scenario)
         |ORDER BY 1""".stripMargin) { (s, dir) =>
      val docs = t(s, dir, "documents")
      // the p91 weight derivation (tokenizing corpus scan) barriers
      // ONCE at the gate level: scenarios 1 and 3 both consume it, and
      // without this each weightDiagnostics call re-derived it (the
      // r12 bench caught p184 at 2.3× after scenario 3 landed)
      val wts = Dedup.materializeBarrier(
        Corpus.importanceWeights(docs,
            docs.filter(col("doc_id") % 7 === 0))
          .select(exp(col("score")).as("w")), "p184-weights")
      val outCols = Seq("n", "sum_w", "ess", "ess_frac", "max_share",
        "n_heavy", "guarded").map(col)
      val real = Corpus.weightDiagnostics(wts, "w")
        .select(lit("1_real").as("scenario") +: outCols: _*)
      val empty = Corpus.weightDiagnostics(wts.filter(lit(false)), "w")
        .select(lit("2_empty").as("scenario") +: outCols: _*)
      val extreme = Corpus.weightDiagnostics(
        wts.unionAll(s.range(1).select(lit(1.0e30).as("w"))), "w")
        .select(lit("3_extreme").as("scenario") +: outCols: _*)
      real.unionAll(empty).unionAll(extreme).orderBy("scenario")
    },

    // Sample-ratio-mismatch guardrail: the oracle replays the arm
    // counts and the fixed-shape df=1 χ² against the α=0.001 critical
    // value. Scenario 2 ASSIGNS by hex '4' (a real 25% split) while
    // declaring 50% — the broken-ramp shape SRM exists to catch.
    QueryDef("p185_srm_check",
      """WITH sc AS (SELECT unnest(['1_healthy', '2_broken']) AS
        |    scenario, unnest(['8', '4']) AS cut),
        |u AS (SELECT DISTINCT user_id FROM events),
        |m AS (SELECT scenario,
        |    CAST(COALESCE(SUM(CASE WHEN
        |      substring(md5(CAST(user_id AS VARCHAR)), 1, 1) < cut
        |      THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_a,
        |    CAST(COUNT(*) AS BIGINT) AS n
        |  FROM u CROSS JOIN sc GROUP BY scenario),
        |e AS (SELECT *, CAST(n AS DOUBLE) * 0.5 AS ea,
        |    CAST(n AS DOUBLE) * 0.5 AS eb,
        |    CAST(n_a AS DOUBLE) AS nad,
        |    CAST(n - n_a AS DOUBLE) AS nbd FROM m),
        |f AS (SELECT *, CASE WHEN n > 0 THEN
        |    (nad - ea) * (nad - ea) / ea +
        |    (nbd - eb) * (nbd - eb) / eb END AS chi FROM e)
        |SELECT scenario, n_a, CAST(n - n_a AS BIGINT) AS n_b,
        |  round(0.5, 6) AS expected_a,
        |  round(chi, 6) AS chi_sq,
        |  COALESCE(chi > 10.827566170662733, FALSE) AS srm_detected,
        |  COALESCE(NOT (n > 0), TRUE) AS guarded
        |FROM f ORDER BY 1""".stripMargin) { (s, dir) =>
      val users = t(s, dir, "events").select("user_id").distinct()
      val outCols = Seq("n_a", "n_b", "expected_a", "chi_sq",
        "srm_detected", "guarded").map(col)
      val healthy = srmCheck(users, armHexLt = "8", expectedA = 0.5)
        .select(lit("1_healthy").as("scenario") +: outCols: _*)
      val broken = srmCheck(users, armHexLt = "4", expectedA = 0.5)
        .select(lit("2_broken").as("scenario") +: outCols: _*)
      healthy.unionAll(broken).orderBy("scenario")
    },

    // Perceptual dHash ARITHMETIC replay: the oracle recomputes the
    // native DHash64 expression's 9×8 integer average-pool and
    // cross-multiplied brightness compares from the same arithmetic
    // pixel grid (gray derives from (x·31 + y·7 + doc_id) byte
    // extraction — DuckDB can't decode PNG, so this gate pins the hash
    // MATH bit-for-bit while p187 pins the end-to-end codec path).
    // Every step is integer — pool membership via the inverse index
    // bx = (9x+8)//w, compares as sum_l·cnt_r > sum_r·cnt_l — so the
    // 64 bits match exactly; the hash ships as two uint32 halves to
    // keep both engines out of int64 sign territory. Full hash gate.
    QueryDef("p186_dhash_replay",
      """WITH d AS (SELECT doc_id,
        |    CAST(16 + (doc_id*7) % 97 AS BIGINT) AS w,
        |    CAST(16 + (doc_id*13) % 71 AS BIGINT) AS h
        |  FROM documents),
        |px AS (SELECT doc_id, w, h, u.i % w AS x, u.i // w AS y
        |  FROM d, LATERAL (SELECT unnest(range(0, d.w*d.h)) AS i) u),
        |lum AS (SELECT doc_id, w, h, x, y,
        |    ((x*31 + y*7 + doc_id) & 16777215) AS v FROM px),
        |lum2 AS (SELECT doc_id, w, h, x, y,
        |    ((v >> 16) & 255) * 299 + ((v >> 8) & 255) * 587 +
        |      (v & 255) * 114 AS luma
        |  FROM lum),
        |cells AS (SELECT doc_id, (9*x+8)//w AS bx, (8*y+7)//h AS by,
        |    SUM(luma) AS s, COUNT(*) AS c
        |  FROM lum2 GROUP BY 1, 2, 3),
        |bits AS (SELECT a.doc_id, a.by*8 + a.bx AS k,
        |    CASE WHEN a.s * b.c > b.s * a.c THEN 1 ELSE 0 END AS bit
        |  FROM cells a JOIN cells b ON b.doc_id = a.doc_id
        |    AND b.by = a.by AND b.bx = a.bx + 1
        |  WHERE a.bx < 8)
        |SELECT doc_id,
        |  CAST(SUM(CASE WHEN k >= 32 THEN
        |    bit * (1::BIGINT << CAST(k - 32 AS INT)) ELSE 0 END)
        |    AS BIGINT) AS hash_hi,
        |  CAST(SUM(CASE WHEN k < 32 THEN
        |    bit * (1::BIGINT << CAST(k AS INT)) ELSE 0 END)
        |    AS BIGINT) AS hash_lo
        |FROM bits GROUP BY 1 ORDER BY doc_id""".stripMargin) {
      (s, dir) =>
        val d = Multimodal.withArithmeticGray(
          t(s, dir, "documents").select(col("doc_id"),
            (lit(16) + (col("doc_id") * 7) % 97).cast("int").as("w"),
            (lit(16) + (col("doc_id") * 13) % 71).cast("int").as("h")))
        val dh = org.apache.spark.sql.graft.VectorExpressions
          .dhash64(col("gray"), col("w"), col("h"))
        d.select(col("doc_id"),
          call_function("shiftrightunsigned", dh, lit(32)).as("hash_hi"),
          dh.bitwiseAND(lit(0xFFFFFFFFL)).as("hash_lo"))
          .orderBy("doc_id")
    },

    // Perceptual image near-dup END-TO-END: every 4th doc renders a
    // genuinely smooth picture (bilinear 10×10 lattice — real PNG
    // bytes), and two honest variants are planted under new ids: the
    // SAME picture re-rendered at 2× (true resize, +1000000) and
    // JPEG-encoded (true requantization, +2000000). Byte/exact-digest
    // dedup (p50) cannot pair any of these; the decode → dHash →
    // hamming-pigeonhole path must find every pair at hamming ≤ 8
    // (measured: resize ≤ 8, jpeg ≤ 2, while DIFFERENT pictures sit
    // ≥ 14 apart). DuckDB can't decode codecs, so — the p17/p50
    // boolean pattern — the oracle recomputes the planted id set and
    // asserts `found` literally.
    QueryDef("p187_perceptual_neardup",
      """SELECT doc_id, doc_id + 1000000 AS copy_id,
        |  'resize2x' AS kind, true AS found
        |FROM documents WHERE doc_id % 4 = 0
        |UNION ALL
        |SELECT doc_id, doc_id + 2000000 AS copy_id,
        |  'jpeg' AS kind, true AS found
        |FROM documents WHERE doc_id % 4 = 0
        |ORDER BY doc_id, copy_id""".stripMargin) { (s, dir) =>
      val (sel, media) = plantedPerceptualMedia(s, dir)
      val pairs = Dedup.perceptualPairs(media, "doc_id", "media",
        maxHamming = 8)
      val expected = sel.select(col("doc_id"),
          (col("doc_id") + 1000000L).as("copy_id"),
          lit("resize2x").as("kind"))
        .unionAll(sel.select(col("doc_id"),
          (col("doc_id") + 2000000L).as("copy_id"),
          lit("jpeg").as("kind")))
      expected.join(pairs.select(col("id_a").as("doc_id"),
          col("id_b").as("copy_id"), col("hamming")),
          Seq("doc_id", "copy_id"), "left")
        .select(col("doc_id"), col("copy_id"), col("kind"),
          col("hamming").isNotNull.as("found"))
        .orderBy("doc_id", "copy_id")
    },

    // Perceptual dedup END-TO-END: the full "one copy of every
    // picture" pipeline — decode → dHash → multi-block hamming pairs
    // (p187's plan) → connected components → keep each cluster's
    // minimum id. Every planted trio (original, 2× resize, JPEG
    // re-encode) must collapse to ONE surviving row, the original:
    // cluster labels are exactly predictable because different
    // pictures sit ≥ 11 bits apart (measured over the full sf0.1 seed
    // range) while variants sit ≤ 8 — so the oracle replays the
    // planted structure as a full hash gate, not a boolean one.
    QueryDef("p189_perceptual_dedup",
      """SELECT doc_id, doc_id AS comp, true AS kept
        |FROM documents WHERE doc_id % 4 = 0
        |UNION ALL
        |SELECT doc_id + 1000000 AS doc_id, doc_id AS comp,
        |  false AS kept
        |FROM documents WHERE doc_id % 4 = 0
        |UNION ALL
        |SELECT doc_id + 2000000 AS doc_id, doc_id AS comp,
        |  false AS kept
        |FROM documents WHERE doc_id % 4 = 0
        |ORDER BY doc_id""".stripMargin) { (s, dir) =>
      val (sel, media) = plantedPerceptualMedia(s, dir)
      val pairs = Dedup.perceptualPairs(media, "doc_id", "media",
        maxHamming = 8)
      val labels = Dedup.components(pairs)
      // survivors are the per-cluster minima (comp == own id);
      // unpaired rows keep themselves — full cluster semantics, the
      // [[Dedup.components]] contract. The id roster is re-derived
      // ARITHMETICALLY from sel — media.select("doc_id") would
      // re-execute the whole mapPartitions render a second time
      // (mapPartitions cannot be column-pruned)
      Planted.dedupRoster(sel, Seq(0L, 1000000L, 2000000L), labels)
    },

    // Perceptual AUDIO hash ARITHMETIC replay: the oracle recomputes
    // the native AudioHash64 expression — 33 equal-count frames over an
    // arithmetic PCM sequence (s(i) = ((id·31 + i·17) mod 4001) − 2000,
    // which DuckDB regenerates exactly), int64 sum-of-squares energies
    // compared by cross-multiplication (HUGEINT on the oracle side,
    // 128-bit products on the Spark side), and raw zero-crossing counts
    // — so all 64 bits match exactly; the hash ships as two uint32
    // halves, the p186 convention. Full hash gate; p191 pins the
    // end-to-end WAV codec path.
    QueryDef("p190_audiohash_replay",
      """WITH d AS (SELECT doc_id,
        |    CAST(330 + (doc_id % 7) * 33 AS BIGINT) AS n
        |  FROM documents),
        |s AS (SELECT doc_id, n, u.i AS i,
        |    ((doc_id*31 + u.i*17) % 4001) - 2000 AS v
        |  FROM d, LATERAL (SELECT unnest(range(0, d.n)) AS i) u),
        |f AS (SELECT doc_id, i // (n // 33) AS k, v,
        |    lead(v) OVER (PARTITION BY doc_id ORDER BY i) AS nxt,
        |    (i+1) // (n // 33) AS k_next
        |  FROM s),
        |agg AS (SELECT doc_id, k,
        |    SUM(CAST(v AS HUGEINT) * v) AS e, COUNT(*) AS c,
        |    SUM(CASE WHEN k_next = k AND v * nxt < 0
        |      THEN 1 ELSE 0 END) AS z
        |  FROM f GROUP BY 1, 2),
        |bits AS (SELECT a.doc_id, a.k,
        |    CASE WHEN a.e * b.c > b.e * a.c THEN 1 ELSE 0 END AS ebit,
        |    CASE WHEN a.z > b.z THEN 1 ELSE 0 END AS zbit
        |  FROM agg a JOIN agg b ON b.doc_id = a.doc_id
        |    AND b.k = a.k + 1)
        |SELECT doc_id,
        |  CAST(SUM(zbit * (1::BIGINT << CAST(k AS INT)))
        |    AS BIGINT) AS hash_hi,
        |  CAST(SUM(ebit * (1::BIGINT << CAST(k AS INT)))
        |    AS BIGINT) AS hash_lo
        |FROM bits GROUP BY 1 ORDER BY doc_id""".stripMargin) {
      (s, dir) =>
        val d = Multimodal.withArithmeticPcm(
          t(s, dir, "documents").select(col("doc_id"),
            (lit(330) + (col("doc_id") % 7) * 33).cast("int").as("n"))
            .repartition(32))
        val ah = org.apache.spark.sql.graft.VectorExpressions
          .audiohash64(col("pcm"))
        d.select(col("doc_id"),
          call_function("shiftrightunsigned", ah, lit(32)).as("hash_hi"),
          ah.bitwiseAND(lit(0xFFFFFFFFL)).as("hash_lo"))
          .orderBy("doc_id")
    },

    // Perceptual AUDIO near-dup END-TO-END: every 4th doc renders a
    // smooth synthetic sound as real RIFF/WAVE bytes, with two honest
    // variants planted under new ids: the SAME sound sampled at 16 kHz
    // (true 2× resample, +1000000) and requantized to 8-bit PCM
    // (+2000000). Byte-level dedup can pair none of these; the WAV
    // parse → AudioHash64 → hamming-pigeonhole path must find every
    // pair at hamming ≤ 8 (measured over the full sf0.1 seed range:
    // resample ≤ 3, requant ≤ 6, different sounds ≥ 13 apart). DuckDB
    // can't parse WAV, so — the p187 pattern — the oracle recomputes
    // the planted id set and asserts `found` literally.
    QueryDef("p191_audio_neardup",
      """SELECT doc_id, doc_id + 1000000 AS copy_id,
        |  'resample2x' AS kind, true AS found
        |FROM documents WHERE doc_id % 4 = 0
        |UNION ALL
        |SELECT doc_id, doc_id + 2000000 AS copy_id,
        |  'requant8' AS kind, true AS found
        |FROM documents WHERE doc_id % 4 = 0
        |ORDER BY doc_id, copy_id""".stripMargin) { (s, dir) =>
      val (sel, media) = plantedAudioMedia(s, dir)
      val pairs = Dedup.audioPairs(media, "doc_id", "media",
        maxHamming = 8)
      val expected = sel.select(col("doc_id"),
          (col("doc_id") + 1000000L).as("copy_id"),
          lit("resample2x").as("kind"))
        .unionAll(sel.select(col("doc_id"),
          (col("doc_id") + 2000000L).as("copy_id"),
          lit("requant8").as("kind")))
      expected.join(pairs.select(col("id_a").as("doc_id"),
          col("id_b").as("copy_id"), col("hamming")),
          Seq("doc_id", "copy_id"), "left")
        .select(col("doc_id"), col("copy_id"), col("kind"),
          col("hamming").isNotNull.as("found"))
        .orderBy("doc_id", "copy_id")
    },

    // Perceptual AUDIO dedup END-TO-END: parse → AudioHash64 → multi-
    // block hamming pairs → connected components → keep each cluster's
    // minimum id. Every planted trio (original, 2× resample, 8-bit
    // requant) collapses to ONE surviving row; cluster labels are
    // exactly predictable because different sounds sit ≥ 13 bits apart
    // while variants sit ≤ 6 — a full hash gate, the p189 pattern.
    QueryDef("p192_audio_dedup",
      """SELECT doc_id, doc_id AS comp, true AS kept
        |FROM documents WHERE doc_id % 4 = 0
        |UNION ALL
        |SELECT doc_id + 1000000 AS doc_id, doc_id AS comp,
        |  false AS kept
        |FROM documents WHERE doc_id % 4 = 0
        |UNION ALL
        |SELECT doc_id + 2000000 AS doc_id, doc_id AS comp,
        |  false AS kept
        |FROM documents WHERE doc_id % 4 = 0
        |ORDER BY doc_id""".stripMargin) { (s, dir) =>
      val (sel, media) = plantedAudioMedia(s, dir)
      val pairs = Dedup.audioPairs(media, "doc_id", "media",
        maxHamming = 8)
      val labels = Dedup.components(pairs)
      Planted.dedupRoster(sel, Seq(0L, 1000000L, 2000000L), labels)
    },

    // Perceptual VIDEO near-dup END-TO-END: every 4th doc renders a
    // smooth MORPHING clip (24 frames, the bilinear lattice surface
    // drifting 35% toward a second lattice), with three honest variants
    // planted under new ids: antialiased half resolution (+1000000),
    // half the frame rate (+2000000 — different nframes, same content
    // times), and brightness 216/256 (+3000000). The demux → sample 8
    // frames at fixed time fractions → per-frame dHash → temporal
    // majority vote → hamming-pigeonhole path must find every
    // (original, variant) pair at hamming ≤ 6 (full sf0.1 seed range:
    // halfres ≤ 2, halfrate ≤ 3, dim ≤ 2; different clips ≥ 9 apart —
    // the master-grid band, 3-bit margin each way). The oracle
    // recomputes the planted id set and asserts `found` literally.
    QueryDef("p193_video_neardup",
      """SELECT doc_id, doc_id + 1000000 AS copy_id,
        |  'halfres' AS kind, true AS found
        |FROM documents WHERE doc_id % 4 = 0
        |UNION ALL
        |SELECT doc_id, doc_id + 2000000 AS copy_id,
        |  'halfrate' AS kind, true AS found
        |FROM documents WHERE doc_id % 4 = 0
        |UNION ALL
        |SELECT doc_id, doc_id + 3000000 AS copy_id,
        |  'dim' AS kind, true AS found
        |FROM documents WHERE doc_id % 4 = 0
        |ORDER BY doc_id, copy_id""".stripMargin) { (s, dir) =>
      val (sel, media) = plantedVideoMedia(s, dir)
      val pairs = Dedup.videoPairs(media, "doc_id", "media",
        maxHamming = 6)
      val expected = sel.select(col("doc_id"),
          (col("doc_id") + 1000000L).as("copy_id"),
          lit("halfres").as("kind"))
        .unionAll(sel.select(col("doc_id"),
          (col("doc_id") + 2000000L).as("copy_id"),
          lit("halfrate").as("kind")))
        .unionAll(sel.select(col("doc_id"),
          (col("doc_id") + 3000000L).as("copy_id"),
          lit("dim").as("kind")))
      expected.join(pairs.select(col("id_a").as("doc_id"),
          col("id_b").as("copy_id"), col("hamming")),
          Seq("doc_id", "copy_id"), "left")
        .select(col("doc_id"), col("copy_id"), col("kind"),
          col("hamming").isNotNull.as("found"))
        .orderBy("doc_id", "copy_id")
    },

    // Perceptual VIDEO dedup END-TO-END: every planted QUAD (original,
    // half-res, half-rate, dimmed) collapses to one surviving row, the
    // original — demux → temporal majority dHash → pairs → components →
    // per-cluster minimum. Full hash gate (labels exactly predictable:
    // variants ≤ 3 bits from their source, different clips ≥ 9;
    // threshold 6 centers the band).
    QueryDef("p194_video_dedup",
      """SELECT doc_id, doc_id AS comp, true AS kept
        |FROM documents WHERE doc_id % 4 = 0
        |UNION ALL
        |SELECT doc_id + 1000000 AS doc_id, doc_id AS comp,
        |  false AS kept
        |FROM documents WHERE doc_id % 4 = 0
        |UNION ALL
        |SELECT doc_id + 2000000 AS doc_id, doc_id AS comp,
        |  false AS kept
        |FROM documents WHERE doc_id % 4 = 0
        |UNION ALL
        |SELECT doc_id + 3000000 AS doc_id, doc_id AS comp,
        |  false AS kept
        |FROM documents WHERE doc_id % 4 = 0
        |ORDER BY doc_id""".stripMargin) { (s, dir) =>
      val (sel, media) = plantedVideoMedia(s, dir)
      val pairs = Dedup.videoPairs(media, "doc_id", "media",
        maxHamming = 6)
      val labels = Dedup.components(pairs)
      Planted.dedupRoster(sel, Seq(0L, 1000000L, 2000000L, 3000000L),
        labels)
    },

    // CROSS-MODAL frame-grab detection END-TO-END: every 4th doc
    // renders a clip AND a real PNG still of that clip's source frame
    // 13 at 2× the clip resolution (+1000000) — the image-that-is-a-
    // video-frame duplicate no single-modality dedup can see. The clip
    // demux keeps its 8 sampled frames' dHashes as separate signatures
    // (a clip-level majority vote blurs a single still past the band;
    // frame-level sits ≤ 2 own / ≥ 9 cross over the full sf0.1 seed
    // range), the image pipeline decodes the PNG, and ONE hammingPairs
    // pass over the packed (id·16 + frame | id·16 + 15) space finds
    // every planted pair at hamming ≤ 6. The oracle recomputes the
    // planted id set and
    // asserts `found` literally (the p187 pattern).
    // Distributed BPE tokenizer training: the first 10 merge rules
    // learned from the corpus (subword-nmt algorithm, no end-of-word
    // marker). The oracle replays ALL of it independently — word-freq
    // table, 10 unrolled rounds of pair counting, the (freq DESC, pair)
    // argmax, and the space-doubling replace() that makes left-to-right
    // non-overlapping replacement equal BPE's greedy merge application
    // — so a single divergent merge choice anywhere fails the gate.
    QueryDef("p196_bpe_train", bpeTrainOracleSql(10)) { (s, dir) =>
      graft.pipeline.TextAnalysis.bpeTrain(t(s, dir, "documents"), 10)
    },

    // BPE training with INCREMENTAL pair-count maintenance (the x46
    // counting-IVM discipline applied to BPE's own loop — subword-nmt's
    // production form: one full count, then per-merge neighborhood
    // deltas over the AFFECTED words only). Must learn bit-identical
    // merges to p196's recount form, against the SAME unrolled DuckDB
    // oracle — a divergent maintained count anywhere shifts an argmax
    // and fails the gate.
    QueryDef("p205_bpe_train_incremental", bpeTrainOracleSql(10)) {
      (s, dir) =>
        graft.pipeline.TextAnalysis.bpeTrainIncremental(
          t(s, dir, "documents"), 10)
    },

    // BPE compression curve: the exact weighted symbol count at every
    // merge level 0..10 — the tokens-per-word trajectory (integer
    // numerator/denominator, no float ratio). Rides the same oracle
    // CTE chain as p196, so the two gates cross-check: a wrong merge
    // choice breaks p196, a wrong APPLICATION (right pair, wrong
    // rewrite) shifts these counts even when the next argmax happens
    // to agree.
    QueryDef("p197_bpe_curve", {
      // HAVING count(*) > 0: a global aggregate over an empty v_k
      // (pair supply exhausted before 10 merges) would emit a
      // (step, NULL, NULL) row while bpeCompressionCurve stops
      // emitting levels at exhaustion — the guard mirrors the
      // implementation's early stop (unreachable on the standard
      // documents fixture, but p196's empty-b_k side already handles
      // exhaustion and the two gates share the CTE chain)
      val selects = (0 to 10).map(k =>
        s"""SELECT $k AS step,
           |  CAST(sum(cnt * len(string_split(seq, ' '))) AS BIGINT)
           |    AS n_symbols,
           |  CAST(sum(cnt) AS BIGINT) AS n_words FROM v$k
           |HAVING count(*) > 0""".stripMargin)
        .mkString("\nUNION ALL\n")
      s"""${bpeOracleCtes(10)}
         |$selects
         |ORDER BY step""".stripMargin
    }) { (s, dir) =>
      graft.pipeline.TextAnalysis.bpeCompressionCurve(
        t(s, dir, "documents"), 10)
    },

    // BPE fertility by language (the multilingual tokenizer-equity
    // readout: languages whose fertility — subwords per word — runs
    // hot are under-served by the learned merges and pay more compute
    // per token of meaning). Stratifies the trained encode (p198) by
    // the corpus's language label and rolls up exact integer
    // (n_words, n_bpe) per language; the division is left to the
    // reader so the gate stays float-free. (The stopword-vote
    // PREDICTOR collapses this synthetic corpus to en/unknown — p11
    // gates that replay — so the ground-truth stratum is the
    // informative one here.) The doc-keyed join of two per-doc tables
    // is the right 100 TB shape: both sides are already collapsed far
    // below corpus size.
    QueryDef("p199_bpe_fertility", {
      s"""${bpeOracleCtes(10)},
         |enc AS (SELECT w, len(string_split(seq, ' ')) AS n FROM v10),
         |j AS (SELECT t.doc_id, e.n FROM tok t
         |  JOIN enc e ON t.token = e.w)
         |SELECT d.lang, CAST(count(*) AS BIGINT) AS n_words,
         |  CAST(sum(j.n) AS BIGINT) AS n_bpe
         |FROM j JOIN documents d ON j.doc_id = d.doc_id
         |GROUP BY 1 ORDER BY 1""".stripMargin
    }) { (s, dir) =>
      val docs = t(s, dir, "documents")
      val enc = graft.pipeline.TextAnalysis.bpeEncodeCounts(docs, 10)
      enc.join(docs.select("doc_id", "lang"), Seq("doc_id"))
        .groupBy("lang")
        .agg(sum("n_words").as("n_words"), sum("n_bpe").as("n_bpe"))
        .orderBy("lang")
    },

    // BPE ENCODING at corpus scale: the word key rides through the
    // training rewrites, so the final vocab level IS the word →
    // subword map; encoding is a BROADCAST of that compact vocab
    // against the exploded token stream — map-side join, zero extra
    // corpus passes (the production shape: train once, encode 100 TB).
    // Per-document exact (n_words, n_bpe) for a deterministic subset.
    QueryDef("p198_bpe_encode", bpeEncodeOracleSql(10)) { (s, dir) =>
      graft.pipeline.TextAnalysis.bpeEncodeCounts(
          t(s, dir, "documents"), 10)
        .filter(col("doc_id") % 23 === 0)
        .orderBy("doc_id")
    },

    // Audio snippet containment: a short clip that IS a segment of a
    // longer recording (rendered independently at 2× the sample rate,
    // so the pair must match through the AudioHash64 band, never byte
    // equality). Windowed recording hashes + whole-snippet hash ride
    // one pigeonhole pass over the packed sub-id space — the audio
    // analog of p195's frame grab.
    QueryDef("p200_audio_snippet",
      """SELECT doc_id AS rec_id, doc_id + 1000000 AS snippet_id,
        |  true AS found
        |FROM documents WHERE doc_id % 4 = 0
        |ORDER BY rec_id""".stripMargin) { (s, dir) =>
      val (sel, recs, snips) = Planted.audioSnippetCorpus(s, dir)
      val pairs = Dedup.audioSnippetPairs(snips, "doc_id", "media",
        recs, "doc_id", "media")
      sel.select(col("doc_id").as("rec_id"),
          (col("doc_id") + 1000000L).as("snippet_id"))
        .join(pairs, Seq("snippet_id", "rec_id"), "left")
        .select(col("rec_id"), col("snippet_id"),
          col("hamming").isNotNull.as("found"))
        .orderBy("rec_id")
    },

    // Crop-robust image matching: a CROPPED repost (grid cell
    // q = (doc div 4) mod 4 of a 2×2 grid, independently re-rendered
    // at 2× the cell's native size — the resize relationship) escapes
    // the whole-image hash by construction (p187's path finds none of
    // these: a crop shifts every pool boundary). The two-level
    // anchor path — HvHash64 candidates over per-cell PoolGrid72
    // grids through the pigeonhole, exact grid-L1 verify — must find
    // every planted crop. DuckDB can't decode PNG, so the oracle
    // recomputes the planted id set and asserts `found` literally
    // (the p187 pattern); the margin spec re-measures the bands per
    // build.
    QueryDef("p201_crop_robust",
      """SELECT doc_id, doc_id + 1000000 AS copy_id, true AS found
        |FROM documents WHERE doc_id % 4 = 0
        |ORDER BY doc_id""".stripMargin) { (s, dir) =>
      val (sel, media) = Planted.cropCorpus(s, dir)
      val pairs = Dedup.cropRobustPairs(media, "doc_id", "media")
      sel.select(col("doc_id"), (col("doc_id") + 1000000L).as("copy_id"))
        .join(pairs.select(col("id_a").as("doc_id"),
            col("id_b").as("copy_id"), col("hamming")),
          Seq("doc_id", "copy_id"), "left")
        .select(col("doc_id"), col("copy_id"),
          col("hamming").isNotNull.as("found"))
        .orderBy("doc_id")
    },

    // MISALIGNED audio snippet containment: the snippet's position in
    // the recording does NOT align with any equal-slice window
    // boundary (segments planted at half-window offsets), so the
    // hopDiv=1 form finds none of these by construction — only the
    // sliding half-hop windows (audioSnippetPairs' default hopDiv=2)
    // put a span over the snippet content. Same boolean oracle
    // pattern as p200; the margin spec measures the sliding bands.
    QueryDef("p202_audio_snippet_misaligned",
      """SELECT doc_id AS rec_id, doc_id + 1000000 AS snippet_id,
        |  true AS found
        |FROM documents WHERE doc_id % 4 = 0
        |ORDER BY rec_id""".stripMargin) { (s, dir) =>
      val (sel, recs, snips) = Planted.audioSnippetMisalignedCorpus(s, dir)
      val pairs = Dedup.audioSnippetPairs(snips, "doc_id", "media",
        recs, "doc_id", "media")
      sel.select(col("doc_id").as("rec_id"),
          (col("doc_id") + 1000000L).as("snippet_id"))
        .join(pairs, Seq("snippet_id", "rec_id"), "left")
        .select(col("rec_id"), col("snippet_id"),
          col("hamming").isNotNull.as("found"))
        .orderBy("rec_id")
    },

    // Exact-signature pre-collapse at work (the production composition
    // for re-post-heavy corpora): 3 byte-identical re-posts per
    // picture plus one honest 2× resize. The pigeonhole pair join runs
    // over DISTINCT signatures (PlanSpec pins the sig-keyed aggregate
    // under it), and the expansion accounting is exact and
    // oracle-checkable: per source, C(3,2) = 3 within-group pairs at
    // hamming 0 and 3 expanded member×resize pairs — classified by id
    // OFFSET, not hamming, so a seed whose resize lands at distance 0
    // (joining the exact group: 6 within-group pairs, 3 of which touch
    // the resize id) counts identically.
    QueryDef("p203_exact_precollapse",
      """SELECT doc_id, CAST(3 AS BIGINT) AS n_exact_pairs,
        |  CAST(3 AS BIGINT) AS n_near_pairs
        |FROM documents WHERE doc_id % 4 = 0
        |ORDER BY doc_id""".stripMargin) { (s, dir) =>
      val (sel, media) = Planted.exactRepostCorpus(s, dir)
      val dec = Multimodal.withDecodedGray(media, "media")
        .filter(col("gray").isNotNull)
      val sigs = dec.select(col("doc_id").as("id"),
        org.apache.spark.sql.graft.VectorExpressions.dhash64(
          col("gray"), col("img_w"), col("img_h")).as("sig"))
      val pairs = Dedup.hammingPairsCollapsed(sigs, maxHamming = 8,
        multiIndex = 3)
      val counted = pairs
        .select(pmod(col("id_a"), lit(1000000L)).as("doc_id"),
          (col("id_a") >= 3000000L || col("id_b") >= 3000000L)
            .as("near"))
        .groupBy("doc_id")
        .agg(sum(when(col("near"), 0L).otherwise(1L))
            .as("n_exact_pairs"),
          sum(when(col("near"), 1L).otherwise(0L)).as("n_near_pairs"))
      sel.select("doc_id").join(counted, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("n_exact_pairs"), lit(0L)).as("n_exact_pairs"),
          coalesce(col("n_near_pairs"), lit(0L)).as("n_near_pairs"))
        .orderBy("doc_id")
    },

    // Video snippet containment: a short clip that IS one segment of a
    // 4-segment long video, re-rendered at half resolution — the p200
    // analog for video. The long side's 32 time-fraction samples land
    // on exactly the source frames the snippet's own 8 samples pick
    // (the congruence in videoSnippetPairs' scaladoc), both sides'
    // per-frame dHashes ride one pigeonhole pass over the 64-slot
    // packed sub-id space, and the bipartite collapse yields
    // (snippet, video, min hamming). Boolean oracle, the p200 pattern.
    QueryDef("p204_video_snippet",
      """SELECT doc_id AS video_id, doc_id + 1000000 AS snippet_id,
        |  true AS found
        |FROM documents WHERE doc_id % 4 = 0
        |ORDER BY video_id""".stripMargin) { (s, dir) =>
      val (sel, longs, snips) = Planted.videoSnippetCorpus(s, dir)
      val pairs = Dedup.videoSnippetPairs(snips, "doc_id", "media",
        longs, "doc_id", "media")
      sel.select(col("doc_id").as("video_id"),
          (col("doc_id") + 1000000L).as("snippet_id"))
        .join(pairs, Seq("snippet_id", "video_id"), "left")
        .select(col("video_id"), col("snippet_id"),
          col("hamming").isNotNull.as("found"))
        .orderBy("video_id")
    },

    QueryDef("p195_frame_grab",
      """SELECT doc_id AS clip_id, doc_id + 1000000 AS image_id,
        |  true AS found
        |FROM documents WHERE doc_id % 4 = 0
        |ORDER BY clip_id""".stripMargin) { (s, dir) =>
      val (sel, clips, grabs) = Planted.frameGrabCorpus(s, dir)
      val pairs = Dedup.frameGrabPairs(grabs, "doc_id", "media",
        clips, "doc_id", "media", maxHamming = 6)
      sel.select(col("doc_id").as("clip_id"),
          (col("doc_id") + 1000000L).as("image_id"))
        .join(pairs, Seq("image_id", "clip_id"), "left")
        .select(col("clip_id"), col("image_id"),
          col("hamming").isNotNull.as("found"))
        .orderBy("clip_id")
    },

    // Always-valid (mSPRT) experiment readout: the oracle replays the
    // per-user weekly pivot, the 16 exact counters per scenario, the
    // mixture-likelihood Λ term for term, and the running-min
    // always-valid p (window MIN and Spark's least() both skip NULLs).
    // Scenario 1 is the honest md5 null (must never reject); scenario
    // 2 plants an effect by thresholding conversion at 12 for arm A vs
    // 16 for arm B — p_always must cross α = 0.05.
    QueryDef("p188_always_valid", {
      def counters(thrA: Int, thrB: Int): String = {
        val thr = s"CASE WHEN va THEN $thrA ELSE $thrB END"
        (1 to 4).map { k =>
          val cut = s"mn + ((mx - mn + 1) * $k + 3) // 4 - 1"
          s"""    CAST(SUM(CASE WHEN va AND fw <= $cut
             |      THEN 1 ELSE 0 END) AS BIGINT) AS na_$k,
             |    CAST(SUM(CASE WHEN va AND fw <= $cut AND p_$k >= $thr
             |      THEN 1 ELSE 0 END) AS BIGINT) AS ca_$k,
             |    CAST(SUM(CASE WHEN NOT va AND fw <= $cut
             |      THEN 1 ELSE 0 END) AS BIGINT) AS nb_$k,
             |    CAST(SUM(CASE WHEN NOT va AND fw <= $cut AND
             |      p_$k >= $thr THEN 1 ELSE 0 END) AS BIGINT) AS cb_$k,
             |    CAST(MAX($cut) AS BIGINT) AS cut_$k""".stripMargin
        }.mkString(",\n")
      }
      def lookRows(cte: String, scen: String): String =
        (1 to 4).map { k =>
          s"""  SELECT '$scen' AS scenario, $k AS look, cut_$k AS wk_cut,
             |    na_$k AS n_a, ca_$k AS conv_a, nb_$k AS n_b,
             |    cb_$k AS conv_b FROM $cte""".stripMargin
        }.mkString("\n  UNION ALL\n")
      s"""WITH ev AS (SELECT user_id, event_type,
         |    epoch_us(ts) // 604800000000 AS wk FROM events),
         |rng AS (SELECT MIN(wk) AS mn, MAX(wk) AS mx FROM ev),
         |u AS (SELECT user_id, MIN(wk) AS fw,
         |${(1 to 4).map { k =>
        s"""    SUM(CASE WHEN event_type = 'purchase' AND wk <=
           |      mn + ((mx - mn + 1) * $k + 3) // 4 - 1
           |      THEN 1 ELSE 0 END) AS p_$k,""".stripMargin
      }.mkString("\n")}
         |    MIN(mn) AS mn, MIN(mx) AS mx,
         |    substring(md5(CAST(user_id AS VARCHAR)), 1, 1) < '8' AS va
         |  FROM ev, rng GROUP BY user_id),
         |c1 AS (SELECT
         |${counters(14, 14)}
         |  FROM u),
         |c2 AS (SELECT
         |${counters(12, 16)}
         |  FROM u),
         |l AS (
         |${lookRows("c1", "1_null")}
         |  UNION ALL
         |${lookRows("c2", "2_effect")}),
         |e AS (SELECT *,
         |    CASE WHEN n_a > 0 AND n_b > 0 THEN
         |      CAST(conv_a AS DOUBLE) / n_a -
         |      CAST(conv_b AS DOUBLE) / n_b END AS th,
         |    CAST(conv_a + conv_b AS DOUBLE) / (n_a + n_b) *
         |      (1.0 - CAST(conv_a + conv_b AS DOUBLE) / (n_a + n_b)) *
         |      (1.0 / n_a + 1.0 / n_b) AS v
         |  FROM l),
         |pp AS (SELECT *,
         |    CASE WHEN n_a > 0 AND n_b > 0 AND v > 0 THEN
         |      least(1.0, 1.0 / (sqrt(v / (v + 0.01)) *
         |        exp(th * th * 0.01 / (2.0 * v * (v + 0.01))))) END
         |      AS p_now
         |  FROM e),
         |w AS (SELECT *, MIN(p_now) OVER (PARTITION BY scenario
         |      ORDER BY look ROWS BETWEEN UNBOUNDED PRECEDING AND
         |      CURRENT ROW) AS p_always
         |  FROM pp)
         |SELECT scenario, look, wk_cut, n_a, conv_a, n_b, conv_b,
         |  round(th, 6) AS theta, round(p_now, 6) AS p_now,
         |  round(p_always, 6) AS p_always,
         |  COALESCE(p_always <= 0.05, false) AS rejected,
         |  p_now IS NULL AS guarded
         |FROM w ORDER BY scenario, look""".stripMargin
    }) { (s, dir) =>
      val ev = t(s, dir, "events")
      val outCols = Seq("look", "wk_cut", "n_a", "conv_a", "n_b",
        "conv_b", "theta", "p_now", "p_always", "rejected",
        "guarded").map(col)
      val nul = alwaysValidReadout(ev, minConvA = 14, minConvB = 14)
        .select(lit("1_null").as("scenario") +: outCols: _*)
      val eff = alwaysValidReadout(ev, minConvA = 12, minConvB = 16)
        .select(lit("2_effect").as("scenario") +: outCols: _*)
      nul.unionAll(eff).orderBy("scenario", "look")
    },

    // Cross-document near-dup paragraphs: corpus = documents + a planted
    // 17-token boilerplate paragraph (3 variants) on every 40th doc —
    // cross-variant word-3-gram Jaccard 14/16 = 0.875 ≥ 0.6, so the
    // plants pair across docs; the oracle recomputes the exact relational
    // set arithmetic over gram STRINGS (Spark joins gram HASHES — equal
    // counts at 2⁻⁶⁴, the p04 argument).
    QueryDef("p86_paragraph_neardup",
      """WITH corpus AS (
        |  SELECT doc_id, text ||
        |    CASE WHEN doc_id % 40 = 0
        |         THEN chr(10) || chr(10) ||
        |           'shared boilerplate paragraph about retrieval ' ||
        |           'augmented training data pipelines quality filtering ' ||
        |           'deduplication and sampling strategies variant ' ||
        |           CAST(doc_id % 3 AS VARCHAR)
        |         ELSE '' END AS text
        |  FROM documents),
        |b AS (SELECT doc_id, string_split(text, chr(10) || chr(10)) AS ps
        |      FROM corpus),
        |e AS (SELECT doc_id, ps, unnest(generate_series(1, len(ps))) AS pos
        |      FROM b),
        |x AS (SELECT doc_id, pos, ps[pos] AS para FROM e
        |      WHERE length(regexp_replace(ps[pos], '^\s+|\s+$', '', 'g'))
        |            > 0),
        |tk AS (SELECT doc_id, pos,
        |    string_split_regex(
        |      lower(regexp_replace(para, '^\s+|\s+$', '', 'g')), '\s+') AS t
        |  FROM x),
        |g AS (SELECT doc_id, pos,
        |    list_distinct(list_transform(generate_series(1, len(t) - 2),
        |      i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS grams
        |  FROM tk WHERE len(t) >= 5),
        |sh AS (SELECT doc_id, pos, unnest(grams) AS gr FROM g),
        |sz AS (SELECT doc_id, pos, len(grams) AS n_sh FROM g),
        |pr AS (SELECT a.doc_id AS doc_a, a.pos AS pos_a,
        |    b.doc_id AS doc_b, b.pos AS pos_b, count(*) AS inter
        |  FROM sh a JOIN sh b ON a.gr = b.gr AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2, 3, 4),
        |j AS (SELECT pr.doc_a, pr.pos_a, pr.doc_b, pr.pos_b, pr.inter,
        |    sa.n_sh AS n_a, sb.n_sh AS n_b
        |  FROM pr
        |  JOIN sz sa ON sa.doc_id = pr.doc_a AND sa.pos = pr.pos_a
        |  JOIN sz sb ON sb.doc_id = pr.doc_b AND sb.pos = pr.pos_b)
        |SELECT doc_a, pos_a, doc_b, pos_b,
        |  round(CAST(inter AS DOUBLE) / (n_a + n_b - inter), 6) AS jaccard
        |FROM j
        |WHERE CAST(inter AS DOUBLE) / (n_a + n_b - inter) >= 0.6"""
        .stripMargin) { (s, dir) =>
      val docs = t(s, dir, "documents").select(col("doc_id"),
        concat(col("text"), when(col("doc_id") % 40 === 0,
          concat(lit("\n\nshared boilerplate paragraph about retrieval " +
            "augmented training data pipelines quality filtering " +
            "deduplication and sampling strategies variant "),
            (col("doc_id") % 3).cast("string")))
          .otherwise(lit(""))).as("text"))
      Retrieval.paragraphNearDupPairs(docs, n = 3, threshold = 0.6,
        minTokens = 5)
    },

    // Hard-negative mining: corpus = embeddings + exact copies of the 5
    // query vectors (score 1.0 = the "positive/duplicate band"); the
    // ≤ 0.99 cut drops self-matches and the planted positives, leaving
    // the hardest sub-threshold neighbors — all SQL-expressible, so the
    // oracle recomputes the full ranking (no boolean gate needed).
    QueryDef("p87_hard_negatives",
      """WITH c AS (
        |  SELECT vec_id, embedding FROM embeddings
        |  UNION ALL
        |  SELECT vec_id + 2000000, embedding FROM embeddings
        |  WHERE vec_id < 5),
        |q AS (SELECT vec_id AS qid, embedding AS qvec
        |      FROM embeddings WHERE vec_id < 5),
        |scored AS (
        |  SELECT q.qid, c.vec_id,
        |    ROUND(list_cosine_similarity(CAST(c.embedding AS DOUBLE[]),
        |                                 CAST(q.qvec AS DOUBLE[])), 6)
        |      AS score
        |  FROM c CROSS JOIN q),
        |f AS (SELECT * FROM scored WHERE score <= 0.99),
        |ranked AS (
        |  SELECT qid, vec_id, score,
        |    ROW_NUMBER() OVER (PARTITION BY qid
        |                       ORDER BY score DESC, vec_id) AS rank
        |  FROM f)
        |SELECT qid, vec_id, score, CAST(rank AS BIGINT) AS rank
        |FROM ranked WHERE rank <= 10""".stripMargin) { (s, dir) =>
      val e = t(s, dir, "embeddings").select("vec_id", "embedding")
      val plants = e.filter(col("vec_id") < 5)
        .select((col("vec_id") + 2000000L).as("vec_id"), col("embedding"))
      val queries = e.filter(col("vec_id") < 5)
        .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
      Retrieval.hardNegativeTopK(e.unionAll(plants), queries,
        k = 10, maxScore = 0.99)
        .withColumn("rank", col("rank").cast("long"))
    },

    // One BPE merge-round statistic: adjacent char-pair counts weighted
    // by word frequency, top 20 by (count desc, pair asc) — exact int64
    // counts, binary string collation in both engines, deterministic cut.
    QueryDef("p88_bpe_pair_stats",
      """WITH toks AS (
        |  SELECT CASE
        |    WHEN length(regexp_replace(text, '^\s+|\s+$', '', 'g')) = 0
        |    THEN CAST([] AS VARCHAR[])
        |    ELSE string_split_regex(
        |      lower(regexp_replace(text, '^\s+|\s+$', '', 'g')), '\s+')
        |    END AS tk
        |  FROM documents),
        |w AS (SELECT t AS w, count(*) AS wc
        |      FROM (SELECT unnest(tk) AS t FROM toks) GROUP BY 1),
        |p AS (SELECT wc, unnest(
        |    CASE WHEN length(w) < 2 THEN CAST([] AS VARCHAR[])
        |         ELSE list_transform(generate_series(1, length(w) - 1),
        |                             i -> w[i:i+1]) END) AS pair
        |  FROM w),
        |c AS (SELECT pair, CAST(sum(wc) AS BIGINT) AS n
        |      FROM p GROUP BY 1)
        |SELECT pair, n FROM c ORDER BY n DESC, pair LIMIT 20"""
        .stripMargin) { (s, dir) =>
      Retrieval.bpePairStats(t(s, dir, "documents"), topN = 20)
    },

    // Full iterative BPE training, 3 merge rounds: the oracle replays
    // the training loop exactly — same sentinel string encoding
    // (chr(30)-prefixed, space-suffixed symbols), same greedy
    // non-overlapping left-to-right `replace` merge application, same
    // (n desc, pair asc) argmax — unrolled one CTE block per round.
    QueryDef("p92_bpe_train",
      """WITH toks AS (
        |  SELECT CASE
        |    WHEN length(regexp_replace(text, '^\s+|\s+$', '', 'g')) = 0
        |    THEN CAST([] AS VARCHAR[])
        |    ELSE string_split_regex(
        |      lower(regexp_replace(text, '^\s+|\s+$', '', 'g')), '\s+')
        |    END AS tk
        |  FROM documents),
        |w AS (SELECT t AS w, count(*) AS wc
        |      FROM (SELECT unnest(tk) AS t FROM toks)
        |      WHERE NOT contains(t, chr(30)) GROUP BY 1),
        |e0 AS (SELECT wc,
        |    regexp_replace(w, '([\s\S])', chr(30) || '\1 ', 'g') AS enc
        |  FROM w),
        |p1 AS (SELECT pair, CAST(sum(wc) AS BIGINT) AS n FROM (
        |    SELECT wc, unnest(list_transform(generate_series(1, len(s) - 1),
        |        i -> substr(s[i], 2) || ' ' || substr(s[i+1], 2))) AS pair
        |    FROM (SELECT wc,
        |            list_filter(string_split(enc, ' '),
        |                        x -> length(x) > 0) AS s
        |          FROM e0)
        |    WHERE len(s) >= 2) GROUP BY 1),
        |b1 AS (SELECT 1 AS step, pair, n FROM p1
        |       ORDER BY n DESC, pair LIMIT 1),
        |e1 AS (SELECT wc, replace(enc,
        |    chr(30) || split_part(pair, ' ', 1) || ' ' || chr(30) ||
        |      split_part(pair, ' ', 2) || ' ',
        |    chr(30) || split_part(pair, ' ', 1) ||
        |      split_part(pair, ' ', 2) || ' ') AS enc
        |  FROM e0 CROSS JOIN b1),
        |p2 AS (SELECT pair, CAST(sum(wc) AS BIGINT) AS n FROM (
        |    SELECT wc, unnest(list_transform(generate_series(1, len(s) - 1),
        |        i -> substr(s[i], 2) || ' ' || substr(s[i+1], 2))) AS pair
        |    FROM (SELECT wc,
        |            list_filter(string_split(enc, ' '),
        |                        x -> length(x) > 0) AS s
        |          FROM e1)
        |    WHERE len(s) >= 2) GROUP BY 1),
        |b2 AS (SELECT 2 AS step, pair, n FROM p2
        |       ORDER BY n DESC, pair LIMIT 1),
        |e2 AS (SELECT wc, replace(enc,
        |    chr(30) || split_part(pair, ' ', 1) || ' ' || chr(30) ||
        |      split_part(pair, ' ', 2) || ' ',
        |    chr(30) || split_part(pair, ' ', 1) ||
        |      split_part(pair, ' ', 2) || ' ') AS enc
        |  FROM e1 CROSS JOIN b2),
        |p3 AS (SELECT pair, CAST(sum(wc) AS BIGINT) AS n FROM (
        |    SELECT wc, unnest(list_transform(generate_series(1, len(s) - 1),
        |        i -> substr(s[i], 2) || ' ' || substr(s[i+1], 2))) AS pair
        |    FROM (SELECT wc,
        |            list_filter(string_split(enc, ' '),
        |                        x -> length(x) > 0) AS s
        |          FROM e2)
        |    WHERE len(s) >= 2) GROUP BY 1),
        |b3 AS (SELECT 3 AS step, pair, n FROM p3
        |       ORDER BY n DESC, pair LIMIT 1)
        |SELECT CAST(step AS BIGINT) AS step, pair, n FROM (
        |  SELECT * FROM b1 UNION ALL SELECT * FROM b2
        |  UNION ALL SELECT * FROM b3)""".stripMargin) { (s, dir) =>
      Retrieval.bpeTrainMerges(t(s, dir, "documents"), steps = 3)
    },

    // Heaps'-law vocabulary growth over 16 id-range buckets: cumulative
    // docs / token occurrences / distinct types, types counted by
    // first-occurrence bucket (token-keyed min) so no per-prefix
    // distinct job exists anywhere.
    QueryDef("p93_vocab_growth",
      """WITH mx AS (SELECT max(doc_id) AS max_id FROM documents),
        |bkt AS (SELECT doc_id * 16 // (max_id + 1) AS bucket, doc_id,
        |          text
        |        FROM documents CROSS JOIN mx),
        |dc AS (SELECT bucket, count(*) AS n_docs FROM bkt GROUP BY 1),
        |tok AS (SELECT bucket, unnest(CASE
        |    WHEN length(regexp_replace(text, '^\s+|\s+$', '', 'g')) = 0
        |    THEN CAST([] AS VARCHAR[])
        |    ELSE string_split_regex(
        |      lower(regexp_replace(text, '^\s+|\s+$', '', 'g')), '\s+')
        |    END) AS token
        |  FROM bkt),
        |tc AS (SELECT bucket, count(*) AS n_tokens FROM tok GROUP BY 1),
        |nt AS (SELECT bucket, count(*) AS n_new_types FROM (
        |    SELECT token, min(bucket) AS bucket FROM tok GROUP BY 1)
        |  GROUP BY 1),
        |cum AS (SELECT dc.bucket,
        |    sum(dc.n_docs) OVER wdw AS cum_docs,
        |    sum(COALESCE(tc.n_tokens, 0)) OVER wdw AS cum_tokens,
        |    sum(COALESCE(nt.n_new_types, 0)) OVER wdw AS cum_types
        |  FROM dc LEFT JOIN tc USING (bucket) LEFT JOIN nt USING (bucket)
        |  WINDOW wdw AS (ORDER BY bucket
        |                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
        |SELECT CAST(bucket AS BIGINT) AS bucket,
        |  CAST(cum_docs AS BIGINT) AS cum_docs,
        |  CAST(cum_tokens AS BIGINT) AS cum_tokens,
        |  CAST(cum_types AS BIGINT) AS cum_types,
        |  round(ln(cum_types) / ln(cum_tokens), 6) AS heaps
        |FROM cum""".stripMargin) { (s, dir) =>
      Corpus.vocabGrowth(t(s, dir, "documents"), buckets = 16)
    },

    // Positional phrase search: queries = tokens 5..7 of docs 0-7; the
    // oracle replays the anchor identity (pos − offset) over 1-based
    // positions — the anchor DIFFERENCE is base-independent, so it
    // equals Spark's 0-based first_pos exactly.
    QueryDef("p94_phrase_search",
      """WITH tokd AS (
        |  SELECT doc_id, CASE
        |    WHEN length(regexp_replace(text, '^\s+|\s+$', '', 'g')) = 0
        |    THEN CAST([] AS VARCHAR[])
        |    ELSE string_split_regex(
        |      lower(regexp_replace(text, '^\s+|\s+$', '', 'g')), '\s+')
        |    END AS tk
        |  FROM documents),
        |pe AS (SELECT doc_id AS id, tk,
        |         unnest(generate_series(1, len(tk))) AS pos
        |       FROM tokd),
        |post AS (SELECT id, tk[pos] AS term, pos FROM pe),
        |q AS (SELECT doc_id AS qid, tk[5:7] AS qtk
        |      FROM tokd WHERE doc_id < 8),
        |qe AS (SELECT qid, qtk, unnest(generate_series(1, len(qtk))) AS i
        |       FROM q),
        |qt AS (SELECT qid, qtk[i] AS term, i FROM qe),
        |ql AS (SELECT qid, count(*) AS n_terms FROM qt GROUP BY 1),
        |a AS (SELECT qt.qid, post.id, post.pos - qt.i AS anchor,
        |        count(*) AS hits
        |      FROM post JOIN qt USING (term) GROUP BY 1, 2, 3),
        |m AS (SELECT a.qid, a.id, a.anchor FROM a JOIN ql USING (qid)
        |      WHERE a.hits = ql.n_terms)
        |SELECT qid, id AS doc_id, CAST(count(*) AS BIGINT) AS n_matches,
        |  CAST(min(anchor) AS BIGINT) AS first_pos
        |FROM m GROUP BY 1, 2""".stripMargin) { (s, dir) =>
      val docs = t(s, dir, "documents")
      val queries = docs.filter(col("doc_id") < 8)
        .select(col("doc_id").as("qid"),
          concat_ws(" ", slice(
            graft.pipeline.TextAnalysis.tokens(lower(col("text"))),
            5, 3)).as("qtext"))
      Retrieval.phraseMatches(docs, queries)
    },

    // Held-out trigram stupid-backoff LM: counts trained on the even
    // doc_ids, every doc scored — the CCNet perplexity-filter shape.
    // The oracle replays the identical expression tree (same ratio
    // parenthesization, same α² literal product) so the doubles match
    // bit-for-bit before ROUND 6.
    QueryDef("p95_backoff_lm",
      """WITH toks AS (
        |  SELECT doc_id, CASE
        |    WHEN length(regexp_replace(text, '^\s+|\s+$', '', 'g')) = 0
        |    THEN CAST([] AS VARCHAR[])
        |    ELSE string_split_regex(
        |      lower(regexp_replace(text, '^\s+|\s+$', '', 'g')), '\s+')
        |    END AS tk
        |  FROM documents),
        |tr AS (SELECT tk FROM toks WHERE doc_id % 2 = 0),
        |uni AS (SELECT t AS w, count(*) AS c
        |        FROM (SELECT unnest(tk) AS t FROM tr) GROUP BY 1),
        |tot AS (SELECT CAST(sum(c) AS BIGINT) AS n, count(*) AS v
        |        FROM uni),
        |bg AS (SELECT w1, w2, count(*) AS c FROM (
        |    SELECT
        |      unnest(CASE WHEN len(tk) < 2 THEN CAST([] AS VARCHAR[])
        |             ELSE tk[1:len(tk)-1] END) AS w1,
        |      unnest(CASE WHEN len(tk) < 2 THEN CAST([] AS VARCHAR[])
        |             ELSE tk[2:len(tk)] END) AS w2
        |    FROM tr) GROUP BY 1, 2),
        |tg AS (SELECT w1, w2, w3, count(*) AS c FROM (
        |    SELECT
        |      unnest(CASE WHEN len(tk) < 3 THEN CAST([] AS VARCHAR[])
        |             ELSE tk[1:len(tk)-2] END) AS w1,
        |      unnest(CASE WHEN len(tk) < 3 THEN CAST([] AS VARCHAR[])
        |             ELSE tk[2:len(tk)-1] END) AS w2,
        |      unnest(CASE WHEN len(tk) < 3 THEN CAST([] AS VARCHAR[])
        |             ELSE tk[3:len(tk)] END) AS w3
        |    FROM tr) GROUP BY 1, 2, 3),
        |sp AS (SELECT doc_id,
        |      unnest(CASE WHEN len(tk) < 3 THEN CAST([] AS VARCHAR[])
        |             ELSE tk[1:len(tk)-2] END) AS w1,
        |      unnest(CASE WHEN len(tk) < 3 THEN CAST([] AS VARCHAR[])
        |             ELSE tk[2:len(tk)-1] END) AS w2,
        |      unnest(CASE WHEN len(tk) < 3 THEN CAST([] AS VARCHAR[])
        |             ELSE tk[3:len(tk)] END) AS w3
        |    FROM toks),
        |j AS (SELECT sp.doc_id, tg.c AS c123, b12.c AS c12, b23.c AS c23,
        |        u2.c AS c2, u3.c AS c3
        |      FROM sp
        |      LEFT JOIN tg ON tg.w1 = sp.w1 AND tg.w2 = sp.w2
        |                  AND tg.w3 = sp.w3
        |      LEFT JOIN bg b12 ON b12.w1 = sp.w1 AND b12.w2 = sp.w2
        |      LEFT JOIN bg b23 ON b23.w1 = sp.w2 AND b23.w2 = sp.w3
        |      LEFT JOIN uni u2 ON u2.w = sp.w2
        |      LEFT JOIN uni u3 ON u3.w = sp.w3),
        |sc AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_trigrams,
        |    round(avg(ln(CASE
        |      WHEN c123 IS NOT NULL
        |      THEN CAST(c123 AS DOUBLE) / CAST(c12 AS DOUBLE)
        |      WHEN c23 IS NOT NULL
        |      THEN 0.4 * (CAST(c23 AS DOUBLE) / CAST(c2 AS DOUBLE))
        |      ELSE (0.4 * 0.4) * (CAST(COALESCE(c3, 0) + 1 AS DOUBLE) /
        |        CAST(t.n + t.v + 1 AS DOUBLE)) END)), 6) AS backoff_lm,
        |    round(avg(CASE WHEN c123 IS NOT NULL THEN 0.0 ELSE 1.0 END),
        |      6) AS backoff_frac
        |  FROM j, tot t GROUP BY doc_id)
        |SELECT d.doc_id, COALESCE(s.n_trigrams, 0) AS n_trigrams,
        |  s.backoff_lm, s.backoff_frac
        |FROM documents d LEFT JOIN sc s USING (doc_id)"""
        .stripMargin) { (s, dir) =>
      val docs = t(s, dir, "documents")
      TextAnalysis.stupidBackoffScore(docs,
        docs.filter(col("doc_id") % 2 === 0))
    },

    // CCNet head/middle/tail bucketing: per-language thirds by held-out
    // LM score (p95's chain re-derived in the oracle), scoreless docs
    // pushed last by a +1e18 sentinel, bucket = rank·3 // n, ties on
    // doc_id — fully deterministic cut.
    QueryDef("p96_ppl_buckets",
      """WITH toks AS (
        |  SELECT doc_id, CASE
        |    WHEN length(regexp_replace(text, '^\s+|\s+$', '', 'g')) = 0
        |    THEN CAST([] AS VARCHAR[])
        |    ELSE string_split_regex(
        |      lower(regexp_replace(text, '^\s+|\s+$', '', 'g')), '\s+')
        |    END AS tk
        |  FROM documents),
        |tr AS (SELECT tk FROM toks WHERE doc_id % 2 = 0),
        |uni AS (SELECT t AS w, count(*) AS c
        |        FROM (SELECT unnest(tk) AS t FROM tr) GROUP BY 1),
        |tot AS (SELECT CAST(sum(c) AS BIGINT) AS n, count(*) AS v
        |        FROM uni),
        |bg AS (SELECT w1, w2, count(*) AS c FROM (
        |    SELECT
        |      unnest(CASE WHEN len(tk) < 2 THEN CAST([] AS VARCHAR[])
        |             ELSE tk[1:len(tk)-1] END) AS w1,
        |      unnest(CASE WHEN len(tk) < 2 THEN CAST([] AS VARCHAR[])
        |             ELSE tk[2:len(tk)] END) AS w2
        |    FROM tr) GROUP BY 1, 2),
        |tg AS (SELECT w1, w2, w3, count(*) AS c FROM (
        |    SELECT
        |      unnest(CASE WHEN len(tk) < 3 THEN CAST([] AS VARCHAR[])
        |             ELSE tk[1:len(tk)-2] END) AS w1,
        |      unnest(CASE WHEN len(tk) < 3 THEN CAST([] AS VARCHAR[])
        |             ELSE tk[2:len(tk)-1] END) AS w2,
        |      unnest(CASE WHEN len(tk) < 3 THEN CAST([] AS VARCHAR[])
        |             ELSE tk[3:len(tk)] END) AS w3
        |    FROM tr) GROUP BY 1, 2, 3),
        |sp AS (SELECT doc_id,
        |      unnest(CASE WHEN len(tk) < 3 THEN CAST([] AS VARCHAR[])
        |             ELSE tk[1:len(tk)-2] END) AS w1,
        |      unnest(CASE WHEN len(tk) < 3 THEN CAST([] AS VARCHAR[])
        |             ELSE tk[2:len(tk)-1] END) AS w2,
        |      unnest(CASE WHEN len(tk) < 3 THEN CAST([] AS VARCHAR[])
        |             ELSE tk[3:len(tk)] END) AS w3
        |    FROM toks),
        |j AS (SELECT sp.doc_id, tg.c AS c123, b12.c AS c12, b23.c AS c23,
        |        u2.c AS c2, u3.c AS c3
        |      FROM sp
        |      LEFT JOIN tg ON tg.w1 = sp.w1 AND tg.w2 = sp.w2
        |                  AND tg.w3 = sp.w3
        |      LEFT JOIN bg b12 ON b12.w1 = sp.w1 AND b12.w2 = sp.w2
        |      LEFT JOIN bg b23 ON b23.w1 = sp.w2 AND b23.w2 = sp.w3
        |      LEFT JOIN uni u2 ON u2.w = sp.w2
        |      LEFT JOIN uni u3 ON u3.w = sp.w3),
        |sc AS (SELECT doc_id,
        |    round(avg(ln(CASE
        |      WHEN c123 IS NOT NULL
        |      THEN CAST(c123 AS DOUBLE) / CAST(c12 AS DOUBLE)
        |      WHEN c23 IS NOT NULL
        |      THEN 0.4 * (CAST(c23 AS DOUBLE) / CAST(c2 AS DOUBLE))
        |      ELSE (0.4 * 0.4) * (CAST(COALESCE(c3, 0) + 1 AS DOUBLE) /
        |        CAST(t.n + t.v + 1 AS DOUBLE)) END)), 6) AS backoff_lm
        |  FROM j, tot t GROUP BY doc_id),
        |r AS (SELECT d.doc_id, d.lang, s.backoff_lm,
        |    ROW_NUMBER() OVER (PARTITION BY d.lang
        |      ORDER BY COALESCE(-s.backoff_lm, 1e18), d.doc_id) - 1 AS rk,
        |    COUNT(*) OVER (PARTITION BY d.lang) AS n
        |  FROM documents d LEFT JOIN sc s USING (doc_id))
        |SELECT doc_id, lang, backoff_lm,
        |  CASE (rk * 3) // n WHEN 0 THEN 'head' WHEN 1 THEN 'middle'
        |       ELSE 'tail' END AS ppl_bucket
        |FROM r""".stripMargin) { (s, dir) =>
      val docs = t(s, dir, "documents")
      TextAnalysis.perplexityBuckets(docs,
        docs.filter(col("doc_id") % 2 === 0))
    },

    // In-engine logistic regression, 3 full-batch GD steps: per-row
    // gradient terms cast to DECIMAL(28,12) BEFORE summing (decimal
    // addition is associative → the Σ is partition-order-independent
    // and engine-portable); accuracy thresholds on z ≥ 0 so exp never
    // decides a boundary. The oracle unrolls all three steps with the
    // bit-identical expression tree.
    QueryDef("p97_logreg_quality",
      """WITH f AS (
        |  SELECT CASE WHEN lang = 'en' THEN 1.0 ELSE 0.0 END AS y,
        |    1.0 AS x0,
        |    ln(1.0 + CAST(nt AS DOUBLE)) AS x1,
        |    CAST(length(text) AS DOUBLE) / CAST(nt AS DOUBLE) AS x2
        |  FROM (SELECT lang, text, CASE
        |      WHEN length(regexp_replace(text, '^\s+|\s+$', '', 'g')) = 0
        |      THEN 0
        |      ELSE len(string_split_regex(
        |        regexp_replace(text, '^\s+|\s+$', '', 'g'), '\s+'))
        |      END AS nt
        |    FROM documents)
        |  WHERE nt > 0),
        |n AS (SELECT count(*) AS m FROM f),
        |ws0 AS (SELECT 0.0 AS w0, 0.0 AS w1, 0.0 AS w2),
        |g1 AS (SELECT
        |    CAST(sum(CAST((1.0/(1.0+exp(-(w0*x0+w1*x1+w2*x2))) - y)*x0
        |      AS DECIMAL(28,12))) AS DOUBLE) AS g0,
        |    CAST(sum(CAST((1.0/(1.0+exp(-(w0*x0+w1*x1+w2*x2))) - y)*x1
        |      AS DECIMAL(28,12))) AS DOUBLE) AS g1,
        |    CAST(sum(CAST((1.0/(1.0+exp(-(w0*x0+w1*x1+w2*x2))) - y)*x2
        |      AS DECIMAL(28,12))) AS DOUBLE) AS g2
        |  FROM f CROSS JOIN ws0),
        |ws1 AS (SELECT w0 - 1.0*(g0/CAST(m AS DOUBLE)) AS w0,
        |    w1 - 1.0*(g1/CAST(m AS DOUBLE)) AS w1,
        |    w2 - 1.0*(g2/CAST(m AS DOUBLE)) AS w2
        |  FROM g1 CROSS JOIN ws0 CROSS JOIN n),
        |g2 AS (SELECT
        |    CAST(sum(CAST((1.0/(1.0+exp(-(w0*x0+w1*x1+w2*x2))) - y)*x0
        |      AS DECIMAL(28,12))) AS DOUBLE) AS g0,
        |    CAST(sum(CAST((1.0/(1.0+exp(-(w0*x0+w1*x1+w2*x2))) - y)*x1
        |      AS DECIMAL(28,12))) AS DOUBLE) AS g1,
        |    CAST(sum(CAST((1.0/(1.0+exp(-(w0*x0+w1*x1+w2*x2))) - y)*x2
        |      AS DECIMAL(28,12))) AS DOUBLE) AS g2
        |  FROM f CROSS JOIN ws1),
        |ws2 AS (SELECT w0 - 1.0*(g0/CAST(m AS DOUBLE)) AS w0,
        |    w1 - 1.0*(g1/CAST(m AS DOUBLE)) AS w1,
        |    w2 - 1.0*(g2/CAST(m AS DOUBLE)) AS w2
        |  FROM g2 CROSS JOIN ws1 CROSS JOIN n),
        |g3 AS (SELECT
        |    CAST(sum(CAST((1.0/(1.0+exp(-(w0*x0+w1*x1+w2*x2))) - y)*x0
        |      AS DECIMAL(28,12))) AS DOUBLE) AS g0,
        |    CAST(sum(CAST((1.0/(1.0+exp(-(w0*x0+w1*x1+w2*x2))) - y)*x1
        |      AS DECIMAL(28,12))) AS DOUBLE) AS g1,
        |    CAST(sum(CAST((1.0/(1.0+exp(-(w0*x0+w1*x1+w2*x2))) - y)*x2
        |      AS DECIMAL(28,12))) AS DOUBLE) AS g2
        |  FROM f CROSS JOIN ws2),
        |ws3 AS (SELECT w0 - 1.0*(g0/CAST(m AS DOUBLE)) AS w0,
        |    w1 - 1.0*(g1/CAST(m AS DOUBLE)) AS w1,
        |    w2 - 1.0*(g2/CAST(m AS DOUBLE)) AS w2
        |  FROM g3 CROSS JOIN ws2 CROSS JOIN n),
        |acc AS (SELECT
        |    CAST(sum(CASE WHEN ((w0*x0+w1*x1+w2*x2) >= 0) = (y = 1.0)
        |      THEN 1 ELSE 0 END) AS DOUBLE) / CAST(count(*) AS DOUBLE)
        |      AS a
        |  FROM f CROSS JOIN ws3)
        |SELECT 'bias' AS feature, round(w0, 6) AS weight FROM ws3
        |UNION ALL
        |SELECT 'log_tokens', round(w1, 6) FROM ws3
        |UNION ALL
        |SELECT 'chars_per_token', round(w2, 6) FROM ws3
        |UNION ALL
        |SELECT 'train_acc', round(a, 6) FROM acc"""
        .stripMargin) { (s, dir) =>
      TextAnalysis.logregQuality(t(s, dir, "documents"), steps = 3)
    },

    // Tokenizer-apply audit: the p92 training chain carried one step
    // further (the final merge applied too), then corpus compression +
    // a round-trip identity over the encoded vocabulary — stripping
    // sentinels and separators must reproduce every word byte-exactly.
    QueryDef("p98_bpe_apply",
      """WITH toks AS (
        |  SELECT CASE
        |    WHEN length(regexp_replace(text, '^\s+|\s+$', '', 'g')) = 0
        |    THEN CAST([] AS VARCHAR[])
        |    ELSE string_split_regex(
        |      lower(regexp_replace(text, '^\s+|\s+$', '', 'g')), '\s+')
        |    END AS tk
        |  FROM documents),
        |w AS (SELECT t AS w, count(*) AS wc
        |      FROM (SELECT unnest(tk) AS t FROM toks)
        |      WHERE NOT contains(t, chr(30)) GROUP BY 1),
        |e0 AS (SELECT wc, w,
        |    regexp_replace(w, '([\s\S])', chr(30) || '\1 ', 'g') AS enc
        |  FROM w),
        |p1 AS (SELECT pair, CAST(sum(wc) AS BIGINT) AS n FROM (
        |    SELECT wc, unnest(list_transform(generate_series(1, len(s) - 1),
        |        i -> substr(s[i], 2) || ' ' || substr(s[i+1], 2))) AS pair
        |    FROM (SELECT wc,
        |            list_filter(string_split(enc, ' '),
        |                        x -> length(x) > 0) AS s
        |          FROM e0)
        |    WHERE len(s) >= 2) GROUP BY 1),
        |b1 AS (SELECT pair FROM p1 ORDER BY n DESC, pair LIMIT 1),
        |e1 AS (SELECT wc, w, replace(enc,
        |    chr(30) || split_part(pair, ' ', 1) || ' ' || chr(30) ||
        |      split_part(pair, ' ', 2) || ' ',
        |    chr(30) || split_part(pair, ' ', 1) ||
        |      split_part(pair, ' ', 2) || ' ') AS enc
        |  FROM e0 CROSS JOIN b1),
        |p2 AS (SELECT pair, CAST(sum(wc) AS BIGINT) AS n FROM (
        |    SELECT wc, unnest(list_transform(generate_series(1, len(s) - 1),
        |        i -> substr(s[i], 2) || ' ' || substr(s[i+1], 2))) AS pair
        |    FROM (SELECT wc,
        |            list_filter(string_split(enc, ' '),
        |                        x -> length(x) > 0) AS s
        |          FROM e1)
        |    WHERE len(s) >= 2) GROUP BY 1),
        |b2 AS (SELECT pair FROM p2 ORDER BY n DESC, pair LIMIT 1),
        |e2 AS (SELECT wc, w, replace(enc,
        |    chr(30) || split_part(pair, ' ', 1) || ' ' || chr(30) ||
        |      split_part(pair, ' ', 2) || ' ',
        |    chr(30) || split_part(pair, ' ', 1) ||
        |      split_part(pair, ' ', 2) || ' ') AS enc
        |  FROM e1 CROSS JOIN b2),
        |p3 AS (SELECT pair, CAST(sum(wc) AS BIGINT) AS n FROM (
        |    SELECT wc, unnest(list_transform(generate_series(1, len(s) - 1),
        |        i -> substr(s[i], 2) || ' ' || substr(s[i+1], 2))) AS pair
        |    FROM (SELECT wc,
        |            list_filter(string_split(enc, ' '),
        |                        x -> length(x) > 0) AS s
        |          FROM e2)
        |    WHERE len(s) >= 2) GROUP BY 1),
        |b3 AS (SELECT pair FROM p3 ORDER BY n DESC, pair LIMIT 1),
        |e3 AS (SELECT wc, w, replace(enc,
        |    chr(30) || split_part(pair, ' ', 1) || ' ' || chr(30) ||
        |      split_part(pair, ' ', 2) || ' ',
        |    chr(30) || split_part(pair, ' ', 1) ||
        |      split_part(pair, ' ', 2) || ' ') AS enc
        |  FROM e2 CROSS JOIN b3),
        |st AS (SELECT wc, w,
        |    len(list_filter(string_split(enc, ' '),
        |                    x -> length(x) > 0)) AS ns,
        |    replace(replace(enc, chr(30), ''), ' ', '') = w AS rt
        |  FROM e3)
        |SELECT CAST(sum(wc) AS BIGINT) AS total_words,
        |  CAST(count(*) AS BIGINT) AS distinct_words,
        |  CAST(sum(wc * ns) AS BIGINT) AS total_symbols,
        |  CAST(sum(wc * length(w)) AS BIGINT) AS total_chars,
        |  round(CAST(sum(wc * ns) AS DOUBLE) /
        |    CAST(sum(wc) AS DOUBLE), 6) AS symbols_per_word,
        |  sum(CASE WHEN rt THEN 0 ELSE 1 END) = 0 AS roundtrip_ok
        |FROM st""".stripMargin) { (s, dir) =>
      Retrieval.bpeApplyStats(t(s, dir, "documents"), steps = 3)
    },

    // Per-source datasheet: volumes, exact-dup rate, language mix with
    // a deterministic dominant language (count desc, lang asc — the
    // oracle's ROW_NUMBER replays Spark's min(struct(−cnt, lang))).
    QueryDef("p99_corpus_report",
      """WITH b AS (
        |  SELECT source, lang, md5(text) AS dg, length(text) AS nc,
        |    CASE
        |      WHEN length(regexp_replace(text, '^\s+|\s+$', '', 'g')) = 0
        |      THEN 0
        |      ELSE len(string_split_regex(
        |        regexp_replace(text, '^\s+|\s+$', '', 'g'), '\s+'))
        |    END AS nt
        |  FROM documents),
        |a AS (SELECT source,
        |    CAST(count(*) AS BIGINT) AS n_docs,
        |    CAST(sum(nt) AS BIGINT) AS n_tokens,
        |    CAST(sum(nc) AS BIGINT) AS n_chars,
        |    CAST(count(DISTINCT dg) AS BIGINT) AS n_distinct_texts,
        |    round(1.0 - CAST(count(DISTINCT dg) AS DOUBLE) /
        |      CAST(count(*) AS DOUBLE), 6) AS dup_rate,
        |    round(CAST(sum(nt) AS DOUBLE) / CAST(count(*) AS DOUBLE), 6)
        |      AS mean_tokens
        |  FROM b GROUP BY 1),
        |l AS (SELECT source, lang, count(*) AS c FROM b GROUP BY 1, 2),
        |lt AS (SELECT source, lang AS top_lang FROM (
        |    SELECT source, lang,
        |      ROW_NUMBER() OVER (PARTITION BY source
        |                         ORDER BY c DESC, lang) AS rn
        |    FROM l) WHERE rn = 1),
        |nl AS (SELECT source, CAST(count(*) AS BIGINT) AS n_langs
        |       FROM l GROUP BY 1)
        |SELECT a.*, nl.n_langs, lt.top_lang
        |FROM a JOIN lt USING (source) JOIN nl USING (source)"""
        .stripMargin) { (s, dir) =>
      Corpus.corpusReport(t(s, dir, "documents"))
    },

    // kNN label propagation: every 3rd vector carries a synthetic seed
    // label; the others (capped for the oracle's all-pairs replay) are
    // classified by 5-NN majority vote — ranking ties on id, vote ties
    // on (count desc, label asc), both replayed exactly.
    QueryDef("p100_knn_classify",
      """WITH lab AS (
        |  SELECT vec_id, embedding,
        |    'c' || CAST(vec_id % 5 AS VARCHAR) AS label
        |  FROM embeddings WHERE vec_id % 3 = 0),
        |q AS (SELECT vec_id AS qid, embedding AS qvec
        |      FROM embeddings WHERE vec_id % 3 <> 0 AND vec_id < 150),
        |sc AS (SELECT q.qid, l.vec_id, l.label,
        |    ROUND(list_cosine_similarity(CAST(l.embedding AS DOUBLE[]),
        |                                 CAST(q.qvec AS DOUBLE[])), 6)
        |      AS score
        |  FROM lab l CROSS JOIN q),
        |rk AS (SELECT qid, vec_id, label,
        |    ROW_NUMBER() OVER (PARTITION BY qid
        |                       ORDER BY score DESC, vec_id) AS rn
        |  FROM sc),
        |v AS (SELECT qid, label, count(*) AS votes FROM rk
        |      WHERE rn <= 5 GROUP BY 1, 2),
        |best AS (SELECT qid, label, votes,
        |    ROW_NUMBER() OVER (PARTITION BY qid
        |                       ORDER BY votes DESC, label) AS rn
        |  FROM v)
        |SELECT qid, label, CAST(votes AS BIGINT) AS votes
        |FROM best WHERE rn = 1""".stripMargin) { (s, dir) =>
      val e = t(s, dir, "embeddings").select("vec_id", "embedding")
      val labeled = e.filter(col("vec_id") % 3 === 0)
        .withColumn("label",
          concat(lit("c"), (col("vec_id") % 5).cast("string")))
      val queries = e.filter(col("vec_id") % 3 =!= 0 && col("vec_id") < 150)
        .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
      graft.pipeline.Similarity.knnClassify(labeled, queries, k = 5)
    },

    // Flesch readability: sentences = [.!?]+ runs floored at 1,
    // syllables = [aeiouy]+ vowel-group runs floored at the word count
    // (per-word sum == corpus count because vowel runs never span a
    // token boundary). The oracle replays the identical IEEE-double
    // expression tree, so flesch matches bit-exactly after ROUND 4.
    QueryDef("p115_readability",
      """WITH b AS (SELECT doc_id, text,
        |    CASE WHEN length(regexp_replace(text, '^\s+|\s+$', '', 'g'))
        |           = 0 THEN 0
        |         ELSE len(string_split_regex(
        |           regexp_replace(text, '^\s+|\s+$', '', 'g'), '\s+'))
        |    END AS nw,
        |    greatest(len(regexp_extract_all(text, '[.!?]+')), 1) AS ns,
        |    len(regexp_extract_all(lower(text), '[aeiouy]+')) AS vg
        |  FROM documents),
        |c AS (SELECT doc_id, nw, ns, greatest(vg, nw) AS nsyl FROM b),
        |f AS (SELECT doc_id, nw, ns, nsyl,
        |    CASE WHEN nw = 0 THEN NULL ELSE
        |      round(206.835
        |        - 1.015 * (CAST(nw AS DOUBLE) / CAST(ns AS DOUBLE))
        |        - 84.6 * (CAST(nsyl AS DOUBLE) / CAST(nw AS DOUBLE)), 4)
        |    END AS flesch
        |  FROM c)
        |SELECT doc_id, CAST(nw AS BIGINT) AS n_words,
        |  CAST(ns AS BIGINT) AS n_sentences,
        |  CAST(nsyl AS BIGINT) AS n_syllables, flesch,
        |  (flesch IS NOT NULL AND flesch >= 50.0) AS easy_read
        |FROM f""".stripMargin) { (s, dir) =>
      TextAnalysis.readabilitySignals(
        t(s, dir, "documents").select("doc_id", "text"))
    },

    // Encoding-damage audit: a mojibake block (Latin-1-decoded UTF-8
    // digraphs, C1 bytes, two U+FFFD, one BEL) is planted on one doc
    // set; all four signals must fire there and the oracle recounts
    // every signal with chr()-built literals + the same length-diff
    // trick.
    QueryDef("p116_encoding_damage",
      """WITH corpus AS (
        |  SELECT doc_id, text || CASE WHEN doc_id % 23 = 5
        |    THEN ' caf' || chr(195)||chr(169) || ' ' || chr(195)||chr(168)
        |      || ' ' || chr(195)||chr(188) || ' '
        |      || chr(226)||chr(128)||chr(153) || ' '
        |      || chr(65533)||chr(65533) || ' ' || chr(7)
        |    ELSE '' END AS text
        |  FROM documents),
        |g AS (SELECT doc_id,
        |    length(text) - length(replace(text, chr(65533), ''))
        |      AS n_replacement,
        |    length(text) - length(regexp_replace(text,
        |      '[\x00-\x08\x0B\x0C\x0E-\x1F]', '', 'g')) AS n_ctrl,
        |    length(text) - length(regexp_replace(text,
        |      '[\x80-\x9F]', '', 'g')) AS n_c1,
        |    (length(text) - length(replace(text, chr(195), '')))
        |      + (length(text) - length(replace(text, chr(226), '')))
        |      AS n_mojibake
        |  FROM corpus)
        |SELECT doc_id, CAST(n_replacement AS BIGINT) AS n_replacement,
        |  CAST(n_ctrl AS BIGINT) AS n_ctrl, CAST(n_c1 AS BIGINT) AS n_c1,
        |  CAST(n_mojibake AS BIGINT) AS n_mojibake,
        |  (n_replacement >= 1 OR n_ctrl >= 1 OR n_c1 >= 2
        |    OR n_mojibake >= 3) AS is_damaged
        |FROM g""".stripMargin) { (s, dir) =>
      val dmg = " caf\u00C3\u00A9 \u00C3\u00A8 \u00C3\u00BC" +
        " \u00E2\u0080\u0099 \uFFFD\uFFFD \u0007"
      val planted = t(s, dir, "documents").select(col("doc_id"),
        concat(col("text"),
          when(col("doc_id") % 23 === 5, lit(dmg)).otherwise(lit("")))
          .as("text"))
      TextAnalysis.encodingSignals(planted)
    },

    // Chat-format router: a five-line dialogue block (2 User / 2
    // Assistant / 1 System) is planted on one doc set; those docs must
    // clear the 3-of-4 vote. Line counts + the balance signal are
    // replayed with list_filter over the same anchored RE2 patterns.
    QueryDef("p117_chat_detect",
      """WITH corpus AS (
        |  SELECT doc_id, text || CASE WHEN doc_id % 29 = 3
        |    THEN chr(10) || 'User: hi there'
        |      || chr(10) || 'Assistant: hello'
        |      || chr(10) || 'User: how are you?'
        |      || chr(10) || 'Assistant: fine thanks'
        |      || chr(10) || 'System: end of chat'
        |    ELSE '' END AS text
        |  FROM documents),
        |s AS (SELECT doc_id, string_split(text, chr(10)) AS ln
        |  FROM corpus),
        |g AS (SELECT doc_id,
        |    len(list_filter(ln, l -> regexp_matches(l,
        |      '^(User|Assistant|System|Human|AI|Q|A): '))) AS role_l,
        |    len(list_filter(ln, l -> regexp_matches(l,
        |      '^(User|Human|Q): '))) AS q_l,
        |    len(list_filter(ln, l -> regexp_matches(l,
        |      '^(Assistant|AI|A): '))) AS a_l
        |  FROM s),
        |v AS (SELECT doc_id, role_l, q_l, a_l,
        |    (q_l >= 1 AND a_l >= 1 AND abs(q_l - a_l) <= 1) AS balanced
        |  FROM g),
        |w AS (SELECT doc_id, role_l, q_l, a_l, balanced,
        |    CAST(role_l >= 4 AS BIGINT) + CAST(q_l >= 2 AS BIGINT)
        |    + CAST(a_l >= 2 AS BIGINT) + CAST(balanced AS BIGINT)
        |      AS votes
        |  FROM v)
        |SELECT doc_id, CAST(role_l AS BIGINT) AS n_role_lines,
        |  CAST(q_l AS BIGINT) AS n_q_lines,
        |  CAST(a_l AS BIGINT) AS n_a_lines, balanced AS qa_balanced,
        |  votes AS chat_votes, votes >= 3 AS is_chat
        |FROM w""".stripMargin) { (s, dir) =>
      val chat = "\nUser: hi there\nAssistant: hello" +
        "\nUser: how are you?\nAssistant: fine thanks" +
        "\nSystem: end of chat"
      val planted = t(s, dir, "documents").select(col("doc_id"),
        concat(col("text"),
          when(col("doc_id") % 29 === 3, lit(chat)).otherwise(lit("")))
          .as("text"))
      TextAnalysis.chatSignals(planted)
    },

    // License/compliance router: three header shapes (MIT+SPDX, GPL,
    // Apache+SPDX) are planted on disjoint doc sets; marker counts and
    // the copyleft>permissive>spdx classification are replayed with the
    // same length-diff and line-filter arithmetic.
    QueryDef("p118_license_detect",
      """WITH corpus AS (
        |  SELECT doc_id, CASE
        |    WHEN doc_id % 37 = 4 THEN '// Copyright 2024 Example Corp'
        |      || chr(10) || '// SPDX-License-Identifier: MIT'
        |      || chr(10) || 'MIT License' || chr(10)
        |    WHEN doc_id % 37 = 11 THEN '# Copyright (c) 2020 Someone'
        |      || chr(10) || 'This is free software under the '
        |      || 'GNU General Public License v3 (GPL-3.0).' || chr(10)
        |    WHEN doc_id % 37 = 18 THEN '/* Copyright 2019 Acme */'
        |      || chr(10) || 'Licensed under the Apache License, Version 2.0'
        |      || chr(10) || 'SPDX-License-Identifier: Apache-2.0' || chr(10)
        |    ELSE '' END || text AS text
        |  FROM documents),
        |g AS (SELECT doc_id,
        |    (length(text) - length(replace(text,
        |      'SPDX-License-Identifier:', ''))) // 24 AS spdx,
        |    (length(text) - length(replace(text, 'MIT License', ''))) // 11
        |    + (length(text) - length(replace(text, 'Apache License', '')))
        |      // 14
        |    + (length(text) - length(replace(text, 'BSD 3-Clause', '')))
        |      // 12 AS permissive,
        |    (length(text) - length(replace(text,
        |      'GNU General Public License', ''))) // 26
        |    + (length(text) - length(replace(text, 'GPL-3.0', ''))) // 7
        |    + (length(text) - length(replace(text, 'GPL-2.0', ''))) // 7
        |      AS copyleft,
        |    len(list_filter(string_split(text, chr(10)),
        |      l -> regexp_matches(l, '^\s*(//|#|/\*)? *[Cc]opyright ')))
        |      AS cr
        |  FROM corpus)
        |SELECT doc_id, CAST(spdx AS BIGINT) AS n_spdx,
        |  CAST(permissive AS BIGINT) AS n_permissive,
        |  CAST(copyleft AS BIGINT) AS n_copyleft,
        |  CAST(cr AS BIGINT) AS n_copyright_lines,
        |  CASE WHEN copyleft >= 1 THEN 'copyleft'
        |       WHEN permissive >= 1 THEN 'permissive'
        |       WHEN spdx >= 1 THEN 'spdx-other'
        |       ELSE 'none' END AS license_class
        |FROM g""".stripMargin) { (s, dir) =>
      val hdrMit = "// Copyright 2024 Example Corp\n" +
        "// SPDX-License-Identifier: MIT\nMIT License\n"
      val hdrGpl = "# Copyright (c) 2020 Someone\n" +
        "This is free software under the " +
        "GNU General Public License v3 (GPL-3.0).\n"
      val hdrApache = "/* Copyright 2019 Acme */\n" +
        "Licensed under the Apache License, Version 2.0\n" +
        "SPDX-License-Identifier: Apache-2.0\n"
      val planted = t(s, dir, "documents").select(col("doc_id"),
        concat(
          when(col("doc_id") % 37 === 4, lit(hdrMit))
            .when(col("doc_id") % 37 === 11, lit(hdrGpl))
            .when(col("doc_id") % 37 === 18, lit(hdrApache))
            .otherwise(lit("")),
          col("text")).as("text"))
      TextAnalysis.licenseSignals(planted)
    },

    // Numeric-content router: a price-list block (26 numeric tokens, 11
    // currency/percent marks) is planted on one doc set; every count,
    // fraction, and the 2-of-4 vote are replayed in RE2.
    QueryDef("p119_numeric_profile",
      """WITH corpus AS (
        |  SELECT doc_id, text || CASE WHEN doc_id % 41 = 9
        |    THEN ' Price list: $1,234.56 $2.00 $3.99 $44.10 $5 6% 7% 8%'
        |      || ' 9,999 10.5 11 12 13 14 15 16 17 18 19 20 21.5 22,000'
        |      || ' £23 €24 25%'
        |    ELSE '' END AS text
        |  FROM documents),
        |b AS (SELECT doc_id, text,
        |    CASE WHEN length(regexp_replace(text, '^\s+|\s+$', '', 'g'))
        |           = 0 THEN []
        |         ELSE string_split_regex(
        |           regexp_replace(text, '^\s+|\s+$', '', 'g'), '\s+')
        |    END AS toks
        |  FROM corpus),
        |g AS (SELECT doc_id,
        |    length(text) - length(regexp_replace(text, '[0-9]', '', 'g'))
        |      AS nd,
        |    length(text) AS nc,
        |    len(toks) AS nt,
        |    len(list_filter(toks, t -> regexp_matches(t,
        |      '^[-+$€£]?[0-9][0-9,.]*%?$'))) AS nnum,
        |    length(text) - length(regexp_replace(text, '[$€£%]', '', 'g'))
        |      AS ncur
        |  FROM b),
        |v AS (SELECT doc_id, nd, nnum, ncur,
        |    CASE WHEN nc = 0 THEN 0.0
        |         ELSE CAST(nd AS DOUBLE) / CAST(nc AS DOUBLE) END AS df,
        |    CASE WHEN nt = 0 THEN 0.0
        |         ELSE CAST(nnum AS DOUBLE) / CAST(nt AS DOUBLE) END AS nf
        |  FROM g),
        |w AS (SELECT doc_id, nd, nnum, ncur, df, nf,
        |    CAST(df >= 0.15 AS BIGINT) + CAST(nf >= 0.3 AS BIGINT)
        |    + CAST(nnum >= 20 AS BIGINT) + CAST(ncur >= 5 AS BIGINT)
        |      AS votes
        |  FROM v)
        |SELECT doc_id, CAST(nd AS BIGINT) AS n_digits,
        |  CAST(nnum AS BIGINT) AS n_numeric_tokens,
        |  CAST(ncur AS BIGINT) AS n_currency_marks,
        |  round(df, 6) AS digit_frac, round(nf, 6) AS numeric_token_frac,
        |  votes AS numeric_votes, votes >= 2 AS is_numeric_heavy
        |FROM w""".stripMargin) { (s, dir) =>
      val numBlock = " Price list: $1,234.56 $2.00 $3.99 $44.10 $5" +
        " 6% 7% 8% 9,999 10.5 11 12 13 14 15 16 17 18 19 20 21.5 22,000" +
        " £23 €24 25%"
      val planted = t(s, dir, "documents").select(col("doc_id"),
        concat(col("text"),
          when(col("doc_id") % 41 === 9, lit(numBlock)).otherwise(lit("")))
          .as("text"))
      TextAnalysis.numericSignals(planted)
    },

    // Winnowing (MOSS) fingerprint dedup: k=8/w=4 window-min selection
    // with the ≥11-char shared-substring detection guarantee. The
    // oracle replays the FULL selection — positional md5 8-grams,
    // per-window min over the zero-padded (hash, position) composite,
    // distinct per-doc hashes, pair counts — so every selected
    // fingerprint must match bit-for-bit. Planted near-copies (shared
    // ~800-char prefix) must surface with large n_shared.
    QueryDef("p120_winnow_pairs",
      """WITH corpus AS (
        |  SELECT doc_id, text FROM documents WHERE doc_id % 5 = 0
        |  UNION ALL
        |  SELECT doc_id + 1000000 AS doc_id, text || ' appended' AS text
        |  FROM documents WHERE doc_id % 10 = 0),
        |pos AS (
        |  SELECT doc_id, text, unnest(range(0, length(text) - 7, 1)) AS p
        |  FROM corpus WHERE length(text) >= 11),
        |g AS (SELECT doc_id, p, md5(substr(text, p + 1, 8)) AS h
        |  FROM pos),
        |win AS (
        |  SELECT doc_id, unnest(range(0, length(text) - 10, 1)) AS j
        |  FROM corpus WHERE length(text) >= 11),
        |sel AS (
        |  SELECT w.doc_id, w.j,
        |    min(g.h || lpad(CAST(g.p AS VARCHAR), 10, '0')) AS key
        |  FROM win w JOIN g ON g.doc_id = w.doc_id
        |    AND g.p BETWEEN w.j AND w.j + 3
        |  GROUP BY 1, 2),
        |fp AS (SELECT DISTINCT doc_id, substr(key, 1, 32) AS h FROM sel),
        |rare AS (SELECT h FROM fp GROUP BY h HAVING count(*) <= 50),
        |fpk AS (SELECT fp.* FROM fp JOIN rare USING (h)),
        |pairs AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n
        |  FROM fpk a JOIN fpk b ON a.h = b.h AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2)
        |SELECT id_a, id_b, CAST(n AS BIGINT) AS n_shared
        |FROM pairs WHERE n >= 20""".stripMargin) { (s, dir) =>
      val d = t(s, dir, "documents").select("doc_id", "text")
        .filter(col("doc_id") % 5 === 0)
      val plants = d.filter(col("doc_id") % 10 === 0)
        .select((col("doc_id") + 1000000).as("doc_id"),
          concat(col("text"), lit(" appended")).as("text"))
      Dedup.winnowPairs(d.unionAll(plants), k = 8, w = 4, minShared = 20,
        maxDf = 50)
    },

    // Boilerplate line removal: a newsletter-footer line planted on
    // every 7th doc crosses the df>=10 rule and must vanish from every
    // carrier; the oracle replays digest selection AND the positional
    // rebuild, gated by md5 of the cleaned text.
    QueryDef("p121_boilerplate_lines",
      """WITH corpus AS (
        |  SELECT doc_id, text || CASE WHEN doc_id % 7 = 2
        |    THEN chr(10) ||
        |      'Subscribe to our newsletter today for more content'
        |    ELSE '' END AS text
        |  FROM documents),
        |el AS (SELECT DISTINCT doc_id, md5(trim(l)) AS dg FROM (
        |    SELECT doc_id, unnest(string_split(text, chr(10))) AS l
        |    FROM corpus)
        |  WHERE length(trim(l)) >= 10),
        |cm AS (SELECT dg FROM (
        |    SELECT dg, count(*) AS cnt FROM el GROUP BY dg
        |    HAVING count(*) >= 10
        |    ORDER BY cnt DESC, dg LIMIT 1000)),
        |s AS (SELECT doc_id, string_split(text, chr(10)) AS ln
        |  FROM corpus),
        |lp AS (SELECT doc_id, ln,
        |    unnest(range(1, len(ln) + 1)) AS pos
        |  FROM s),
        |l2 AS (SELECT doc_id, pos, ln[pos] AS l FROM lp),
        |keep AS (SELECT doc_id, pos, l FROM l2
        |  WHERE NOT (length(trim(l)) >= 10
        |    AND md5(trim(l)) IN (SELECT dg FROM cm))),
        |cl AS (SELECT doc_id, count(*) AS n_kept,
        |    string_agg(l, chr(10) ORDER BY pos) AS clean
        |  FROM keep GROUP BY doc_id)
        |SELECT s.doc_id, CAST(len(s.ln) AS BIGINT) AS n_lines,
        |  CAST(len(s.ln) - coalesce(cl.n_kept, 0) AS BIGINT) AS n_removed,
        |  md5(coalesce(cl.clean, '')) AS clean_dg
        |FROM s LEFT JOIN cl ON s.doc_id = cl.doc_id""".stripMargin) {
      (s, dir) =>
      val footer = "\nSubscribe to our newsletter today for more content"
      val planted = t(s, dir, "documents").select(col("doc_id"),
        concat(col("text"),
          when(col("doc_id") % 7 === 2, lit(footer)).otherwise(lit("")))
          .as("text"))
      Corpus.boilerplateLineRemoval(planted, minDf = 10, minLen = 10,
        topK = 1000)
    },

    // Rare-token privacy audit: five per-doc-unique uid tokens planted
    // on one doc set are guaranteed df=1, so those docs must flag; the
    // oracle recomputes the full df table, the rare join-back, and the
    // deterministic min-token evidence pointer.
    QueryDef("p122_rare_token_audit",
      """WITH corpus AS (
        |  SELECT doc_id, text || CASE WHEN doc_id % 13 = 6
        |    THEN ' uid-' || CAST(doc_id AS VARCHAR) || '-a'
        |      || ' uid-' || CAST(doc_id AS VARCHAR) || '-b'
        |      || ' uid-' || CAST(doc_id AS VARCHAR) || '-c'
        |      || ' uid-' || CAST(doc_id AS VARCHAR) || '-d'
        |      || ' uid-' || CAST(doc_id AS VARCHAR) || '-e'
        |    ELSE '' END AS text
        |  FROM documents),
        |tk AS (SELECT DISTINCT doc_id, tok FROM (
        |    SELECT doc_id, unnest(CASE
        |      WHEN length(regexp_replace(text, '^\s+|\s+$', '', 'g')) = 0
        |      THEN []
        |      ELSE string_split_regex(
        |        regexp_replace(text, '^\s+|\s+$', '', 'g'), '\s+')
        |      END) AS tok
        |    FROM corpus)),
        |rare AS (SELECT tok FROM tk GROUP BY tok
        |  HAVING count(DISTINCT doc_id) <= 2),
        |pd AS (SELECT doc_id, count(*) AS nr, min(tok) AS ex
        |  FROM tk JOIN rare USING (tok) GROUP BY doc_id),
        |nd AS (SELECT doc_id, count(*) AS ndt FROM tk GROUP BY doc_id)
        |SELECT c.doc_id,
        |  CAST(coalesce(nd.ndt, 0) AS BIGINT) AS n_distinct_tokens,
        |  CAST(coalesce(pd.nr, 0) AS BIGINT) AS n_rare_tokens,
        |  pd.ex AS example_rare,
        |  coalesce(pd.nr, 0) >= 5 AS is_risky
        |FROM corpus c LEFT JOIN pd USING (doc_id)
        |LEFT JOIN nd USING (doc_id)""".stripMargin) { (s, dir) =>
      val id = col("doc_id").cast("string")
      val uids = concat(
        lit(" uid-"), id, lit("-a"), lit(" uid-"), id, lit("-b"),
        lit(" uid-"), id, lit("-c"), lit(" uid-"), id, lit("-d"),
        lit(" uid-"), id, lit("-e"))
      val planted = t(s, dir, "documents").select(col("doc_id"),
        concat(col("text"),
          when(col("doc_id") % 13 === 6, uids).otherwise(lit("")))
          .as("text"))
      Corpus.rareTokenAudit(planted, maxDf = 2, riskThreshold = 5)
    },

    // Curriculum staging: easiest-first global readability order cut
    // into 4 contiguous stages. The oracle replays the p115 flesch tree
    // and mirrors the distributed two-phase rank with ROW_NUMBER, so
    // every rank and stage boundary must agree exactly.
    QueryDef("p123_curriculum_stages",
      """WITH b AS (SELECT doc_id,
        |    CASE WHEN length(regexp_replace(text, '^\s+|\s+$', '', 'g'))
        |           = 0 THEN 0
        |         ELSE len(string_split_regex(
        |           regexp_replace(text, '^\s+|\s+$', '', 'g'), '\s+'))
        |    END AS nw,
        |    greatest(len(regexp_extract_all(text, '[.!?]+')), 1) AS ns,
        |    len(regexp_extract_all(lower(text), '[aeiouy]+')) AS vg
        |  FROM documents),
        |f AS (SELECT doc_id,
        |    CASE WHEN nw = 0 THEN NULL ELSE
        |      round(206.835
        |        - 1.015 * (CAST(nw AS DOUBLE) / CAST(ns AS DOUBLE))
        |        - 84.6 * (CAST(greatest(vg, nw) AS DOUBLE)
        |            / CAST(nw AS DOUBLE)), 4)
        |    END AS flesch
        |  FROM b),
        |r AS (SELECT doc_id, flesch,
        |    ROW_NUMBER() OVER (ORDER BY
        |      coalesce(flesch, -1000000000.0) DESC, doc_id) AS pos
        |  FROM f)
        |SELECT doc_id, flesch, CAST(pos AS BIGINT) AS curriculum_rank,
        |  CAST(((pos - 1) * 4) // (SELECT count(*) FROM documents) + 1
        |    AS BIGINT) AS stage
        |FROM r""".stripMargin) { (s, dir) =>
      Corpus.curriculumStages(
        t(s, dir, "documents").select("doc_id", "text"), nStages = 4)
    },

    // Anchor-based bitext mining: each planted doc gets three
    // doc-specific anchors (a name-shaped token via digit→letter
    // translate, a number, a percentage) and a synthetic 'xx'-language
    // counterpart carrying the same anchors — every planted pair must
    // align (df=2, 3 shared anchors, different langs), and the oracle
    // replays anchor extraction, df pruning, and pair counting.
    QueryDef("p124_bitext_anchors",
      """WITH a AS (SELECT doc_id,
        |    ' Zanchor' || translate(CAST(doc_id AS VARCHAR),
        |      '0123456789', 'abcdefghij')
        |    || ' ' || CAST(90000 + doc_id AS VARCHAR)
        |    || ' ' || CAST(doc_id AS VARCHAR) || '.5%' AS anchors
        |  FROM documents),
        |base AS (
        |  SELECT d.doc_id, d.lang,
        |    d.text || CASE WHEN d.doc_id % 17 = 5 THEN a.anchors
        |      ELSE '' END AS text
        |  FROM documents d JOIN a USING (doc_id)
        |  UNION ALL
        |  SELECT d.doc_id + 2000000 AS doc_id, 'xx' AS lang,
        |    'traduction placeholder' || a.anchors AS text
        |  FROM documents d JOIN a USING (doc_id)
        |  WHERE d.doc_id % 17 = 5),
        |tk AS (SELECT DISTINCT doc_id, lang, tok FROM (
        |    SELECT doc_id, lang, unnest(CASE
        |      WHEN length(regexp_replace(text, '^\s+|\s+$', '', 'g')) = 0
        |      THEN []
        |      ELSE string_split_regex(
        |        regexp_replace(text, '^\s+|\s+$', '', 'g'), '\s+')
        |      END) AS tok
        |    FROM base)),
        |an AS (SELECT * FROM tk
        |  WHERE regexp_matches(tok, '^[0-9][0-9.,%]*$')
        |     OR regexp_matches(tok, '^[A-Z][a-z]{3,}$')),
        |rare AS (SELECT tok FROM an GROUP BY tok
        |  HAVING count(DISTINCT doc_id) <= 4),
        |ra AS (SELECT an.* FROM an JOIN rare USING (tok)),
        |pairs AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |    a.lang AS lang_a, b.lang AS lang_b, count(*) AS n
        |  FROM ra a JOIN ra b ON a.tok = b.tok
        |    AND a.doc_id < b.doc_id AND a.lang <> b.lang
        |  GROUP BY 1, 2, 3, 4)
        |SELECT id_a, id_b, lang_a, lang_b, CAST(n AS BIGINT) AS n_shared
        |FROM pairs WHERE n >= 3""".stripMargin) { (s, dir) =>
      val d = t(s, dir, "documents").select("doc_id", "lang", "text")
      val anchors = concat(
        lit(" Zanchor"), translate(col("doc_id").cast("string"),
          "0123456789", "abcdefghij"),
        lit(" "), (col("doc_id") + 90000).cast("string"),
        lit(" "), col("doc_id").cast("string"), lit(".5%"))
      val planted = d.select(col("doc_id"), col("lang"),
        concat(col("text"),
          when(col("doc_id") % 17 === 5, anchors).otherwise(lit("")))
          .as("text"))
      val counterparts = d.filter(col("doc_id") % 17 === 5)
        .select((col("doc_id") + 2000000).as("doc_id"),
          lit("xx").as("lang"),
          concat(lit("traduction placeholder"), anchors).as("text"))
      Corpus.anchorAlignPairs(planted.unionAll(counterparts),
        maxDf = 4, minShared = 3)
    },

    // Synthetic/templated-text detector: one doc set is REPLACED by a
    // 20-sentence two-template loop (tiny type-token ratio, zero
    // sentence-length variance, 10x exact repeats) and must trip all
    // three votes; natural prose must not. The oracle replays every
    // signal with the identical IEEE-double association order.
    QueryDef("p125_synthetic_detect",
      """WITH corpus AS (
        |  SELECT doc_id, CASE WHEN doc_id % 43 = 7
        |    THEN repeat('The item is good. The item is fine. ', 10)
        |    ELSE text END AS text
        |  FROM documents),
        |b AS (SELECT doc_id,
        |    CASE WHEN length(regexp_replace(text, '^\s+|\s+$', '', 'g'))
        |           = 0 THEN []
        |         ELSE string_split_regex(
        |           regexp_replace(text, '^\s+|\s+$', '', 'g'), '\s+')
        |    END AS toks,
        |    list_filter(string_split_regex(text, '[.!?]+'),
        |      s -> length(trim(s)) > 0) AS sents
        |  FROM corpus),
        |c AS (SELECT doc_id, len(toks) AS ntok,
        |    len(list_distinct(toks)) AS ndis, sents,
        |    list_transform(sents,
        |      s -> len(string_split_regex(trim(s), '\s+'))) AS lens
        |  FROM b),
        |d AS (SELECT doc_id, ntok, ndis, sents, len(lens) AS ns,
        |    list_sum(lens) AS s1,
        |    list_sum(list_transform(lens, x -> x * x)) AS s2
        |  FROM c),
        |e AS (SELECT doc_id, ntok,
        |    CASE WHEN ntok = 0 THEN NULL
        |      ELSE round(CAST(ndis AS DOUBLE) / CAST(ntok AS DOUBLE), 6)
        |    END AS ttr,
        |    CASE WHEN ns = 0
        |        OR CAST(s1 AS DOUBLE) / CAST(ns AS DOUBLE) = 0.0
        |      THEN NULL
        |      ELSE round(sqrt(greatest(
        |          CAST(s2 AS DOUBLE) / CAST(ns AS DOUBLE)
        |          - (CAST(s1 AS DOUBLE) / CAST(ns AS DOUBLE))
        |            * (CAST(s1 AS DOUBLE) / CAST(ns AS DOUBLE)), 0.0))
        |        / (CAST(s1 AS DOUBLE) / CAST(ns AS DOUBLE)), 6)
        |    END AS cv,
        |    CASE WHEN len(sents) = 0 THEN 0
        |      ELSE list_max(list_transform(
        |        list_distinct(list_transform(sents, s -> trim(s))),
        |        s -> len(list_filter(sents, x -> trim(x) = s))))
        |    END AS mrep
        |  FROM d),
        |v AS (SELECT doc_id, ntok, ttr, cv, mrep,
        |    CAST(coalesce(ttr, 1.0) <= 0.5 AS BIGINT)
        |    + CAST(coalesce(cv, 1.0) <= 0.25 AS BIGINT)
        |    + CAST(mrep >= 3 AS BIGINT) AS votes
        |  FROM e)
        |SELECT doc_id, CAST(ntok AS BIGINT) AS n_tokens,
        |  ttr AS type_token_ratio, cv AS sentence_len_cv,
        |  CAST(mrep AS BIGINT) AS max_sentence_repeat,
        |  votes AS synthetic_votes,
        |  (ntok >= 30 AND votes >= 2) AS is_suspect
        |FROM v""".stripMargin) { (s, dir) =>
      val template = "The item is good. The item is fine. " * 10
      val planted = t(s, dir, "documents").select(col("doc_id"),
        when(col("doc_id") % 43 === 7, lit(template))
          .otherwise(col("text")).as("text"))
      TextAnalysis.syntheticSignals(planted)
    },

    // Semantic decontamination: the eval set is drawn FROM the corpus
    // (vec_id % 50 = 3), so each eval member's corpus copy must score
    // max_cos = 1.0 and flag; the oracle replays the full cross-score,
    // the (score desc, eval_id asc) evidence tiebreak, and the
    // threshold.
    QueryDef("p126_semantic_decontam", semanticDecontamSql) { (s, dir) =>
      val e = t(s, dir, "embeddings").select("vec_id", "embedding")
      val evalSet = e.filter(col("vec_id") % 50 === 3)
        .select(col("vec_id").as("eval_id"),
          col("embedding").as("evec"))
      Similarity.semanticContamination(e, evalSet, threshold = 0.98)
    },

    // Multimodal metadata-consistency audit (the mislabeled-asset
    // detector: a catalog's declared dimensions vs what the bytes
    // actually decode to). Media is real PNG/JPEG with id-derived
    // dimensions; declared width is corrupted on one doc set, and the
    // engine's REAL header decode must catch exactly those — the
    // oracle predicts both sides from the construction formulas.
    QueryDef("p127_mm_metadata_audit",
      """WITH m AS (SELECT doc_id,
        |    16 + (doc_id * 7) % 97 AS ew, 16 + (doc_id * 13) % 71 AS eh
        |  FROM documents WHERE doc_id % 3 < 2)
        |SELECT doc_id,
        |  CAST(ew + CASE WHEN doc_id % 11 = 4 THEN 7 ELSE 0 END
        |    AS BIGINT) AS declared_w,
        |  CAST(eh AS BIGINT) AS declared_h,
        |  CAST(ew AS BIGINT) AS decoded_w,
        |  CAST(eh AS BIGINT) AS decoded_h,
        |  CASE WHEN doc_id % 11 = 4 THEN 'mismatch' ELSE 'ok' END
        |    AS status
        |FROM m""".stripMargin) { (s, dir) =>
      val docs = t(s, dir, "documents").select("doc_id", "text")
        .filter(col("doc_id") % 3 < 2)
      val m = Multimodal.withDecodedMeta(
        Multimodal.withSyntheticMedia(docs))
      val ew = (lit(16) + (col("doc_id") * 7) % 97).cast("long")
      val eh = (lit(16) + (col("doc_id") * 13) % 71).cast("long")
      val dw = ew + when(col("doc_id") % 11 === 4, 7L).otherwise(0L)
      m.select(col("doc_id"),
        dw.as("declared_w"), eh.as("declared_h"),
        col("meta.width").cast("long").as("decoded_w"),
        col("meta.height").cast("long").as("decoded_h"),
        when(dw === col("meta.width").cast("long") &&
          eh === col("meta.height").cast("long"), lit("ok"))
          .otherwise(lit("mismatch")).as("status"))
    },

    // Contrastive triplets: every near-dup pair becomes (anchor,
    // positive) and the negative is the anchor's md5-ring successor,
    // falling through to the second successor when the first shares the
    // anchor's cluster. The oracle re-derives pairs (exhaustive
    // Jaccard), the recursive-CTE closure, the ring order, and both
    // fallthrough branches.
    QueryDef("p128_contrastive_triplets",
      s"""WITH RECURSIVE $corpusSql,
         |$shingleSql,
         |pairs AS (
         |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
         |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
         |  WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) /
         |        len(list_distinct(list_concat(a.s, b.s))) >= 0.5),
         |edges AS (
         |  SELECT id_a AS a, id_b AS b FROM pairs
         |  UNION ALL SELECT id_b, id_a FROM pairs),
         |reach(src, dst) AS (
         |  SELECT a, a FROM edges
         |  UNION
         |  SELECT r.src, e.b FROM reach r JOIN edges e ON r.dst = e.a),
         |comp AS (
         |  SELECT src AS doc_id, MIN(dst) AS comp FROM reach GROUP BY src),
         |lab AS (SELECT c.doc_id AS id, coalesce(k.comp, c.doc_id) AS lb
         |  FROM corpus c LEFT JOIN comp k ON c.doc_id = k.doc_id),
         |tot AS (SELECT count(*) AS n FROM corpus),
         |ord AS (SELECT id, lb, ROW_NUMBER() OVER (ORDER BY
         |    md5('cp:' || CAST(id AS VARCHAR)), id) AS pos FROM lab),
         |succ AS (SELECT o.id, o.lb, s1.id AS n1, s1.lb AS lb1,
         |    s2.id AS n2, s2.lb AS lb2
         |  FROM ord o
         |  JOIN ord s1 ON s1.pos =
         |    ((o.pos - 1 + 1) % (SELECT n FROM tot)) + 1
         |  JOIN ord s2 ON s2.pos =
         |    ((o.pos - 1 + 2) % (SELECT n FROM tot)) + 1)
         |SELECT p.id_a AS anchor, p.id_b AS positive,
         |  CAST(CASE WHEN s.lb1 <> s.lb THEN s.n1
         |       WHEN s.lb2 <> s.lb THEN s.n2 END AS BIGINT) AS negative,
         |  (CASE WHEN s.lb1 <> s.lb THEN s.n1
         |       WHEN s.lb2 <> s.lb THEN s.n2 END) IS NULL AS no_negative
         |FROM pairs p JOIN succ s ON s.id = p.id_a""".stripMargin) {
      (s, dir) =>
      val (pairs, labels) = nearDupGraph(s, dir)
      Corpus.contrastiveTriplets(docsWithPlants(s, dir), pairs, labels)
    },

    // Classifier-agreement audit: Cohen's kappa between the declared
    // lang label and the stopword-vote detector, with the chance floor
    // from exact count products. Shares p11's prediction mirror; the
    // oracle replays the full confusion-marginal arithmetic with the
    // identical division order.
    QueryDef("p129_label_agreement",
      s"""WITH $langPredCtes,
         |cm AS (SELECT lang, lang_pred, count(*) AS n FROM pred
         |  GROUP BY 1, 2),
         |rw AS (SELECT lang, sum(n) AS rn FROM cm GROUP BY 1),
         |cl AS (SELECT lang_pred, sum(n) AS cn FROM cm GROUP BY 1),
         |pe AS (SELECT coalesce(sum(rn * cn), 0) AS pe_num
         |  FROM rw JOIN cl ON rw.lang = cl.lang_pred),
         |ag AS (SELECT count(*) AS n_total,
         |    count(*) FILTER (lang = lang_pred) AS n_agree FROM pred)
         |SELECT CAST(n_total AS BIGINT) AS n_total,
         |  CAST(n_agree AS BIGINT) AS n_agree,
         |  round(CAST(n_agree AS DOUBLE) / CAST(n_total AS DOUBLE), 6)
         |    AS po,
         |  round(CAST(pe_num AS DOUBLE) /
         |    (CAST(n_total AS DOUBLE) * CAST(n_total AS DOUBLE)), 6)
         |    AS pe,
         |  CASE WHEN CAST(pe_num AS DOUBLE) /
         |      (CAST(n_total AS DOUBLE) * CAST(n_total AS DOUBLE)) = 1.0
         |    THEN NULL
         |    ELSE round((CAST(n_agree AS DOUBLE) / CAST(n_total AS DOUBLE)
         |      - CAST(pe_num AS DOUBLE) /
         |        (CAST(n_total AS DOUBLE) * CAST(n_total AS DOUBLE)))
         |      / (1.0 - CAST(pe_num AS DOUBLE) /
         |        (CAST(n_total AS DOUBLE) * CAST(n_total AS DOUBLE))), 6)
         |  END AS kappa
         |FROM ag CROSS JOIN pe""".stripMargin) { (s, dir) =>
      TextAnalysis.langAgreementReport(t(s, dir, "documents"))
    },

    // Hash-integrity audit: planted exact dups give distinct-text <
    // n_docs so the countDistincts measure something real; the oracle
    // recomputes the md5 side exactly and the xxhash64 boolean follows
    // the p03 invariant pattern (engine-computed, asserted true).
    QueryDef("p130_hash_integrity",
      """WITH corpus AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 2000000 AS doc_id, text FROM documents
        |  WHERE doc_id % 9 = 0)
        |SELECT CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(count(DISTINCT text) AS BIGINT) AS n_distinct_text,
        |  CAST(count(DISTINCT md5(text)) AS BIGINT) AS n_distinct_md5,
        |  true AS md5_injective, true AS xx_injective
        |FROM corpus""".stripMargin) { (s, dir) =>
      val d = t(s, dir, "documents").select("doc_id", "text")
      val corpus = d.unionAll(d.filter(col("doc_id") % 9 === 0)
        .select((col("doc_id") + 2000000).as("doc_id"), col("text")))
      Corpus.hashIntegrityReport(corpus)
    },

    // Sentence-aware chunking: no chunk boundary ever splits a
    // sentence; the oracle replays the sentence split, the exclusive
    // windowed cumsum, the DIV-budget assignment, and the ordered
    // '. '-joined chunk digests.
    QueryDef("p131_sentence_chunks", sentenceChunksSql) { (s, dir) =>
      Corpus.sentenceChunks(
        t(s, dir, "documents").select("doc_id", "text"), maxTokens = 64)
    },

    // Chunk-level dedup (the RAG-index dedup: identical chunks from
    // different documents collapse to one canonical entry before
    // embedding — planted exact-copy docs make every one of their
    // chunks a duplicate). Canonical = min (doc_id, chunk_id) per
    // digest; the oracle nests the full p131 chunking replay.
    QueryDef("p132_chunk_dedup",
      """WITH corpus AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 2000000 AS doc_id, text FROM documents
        |  WHERE doc_id % 9 = 0),
        |s0 AS (SELECT doc_id,
        |    list_filter(string_split_regex(text, '[.!?]+'),
        |      s -> length(trim(s)) > 0) AS sents
        |  FROM corpus),
        |s1 AS (SELECT doc_id, sents FROM s0 WHERE len(sents) > 0),
        |lp AS (SELECT doc_id, sents,
        |    unnest(range(1, len(sents) + 1)) AS p FROM s1),
        |l2 AS (SELECT doc_id, p - 1 AS pos, trim(sents[p]) AS sent,
        |    len(string_split_regex(trim(sents[p]), '\s+')) AS nt
        |  FROM lp),
        |c AS (SELECT doc_id, pos, sent, nt,
        |    coalesce(SUM(nt) OVER (PARTITION BY doc_id ORDER BY pos
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS cb
        |  FROM l2),
        |k AS (SELECT doc_id, pos, sent, nt, cb // 64 AS chunk_id FROM c),
        |ch AS (SELECT doc_id, chunk_id,
        |    md5(string_agg(sent, '. ' ORDER BY pos)) AS chunk_dg
        |  FROM k GROUP BY 1, 2)
        |SELECT chunk_dg, CAST(min(doc_id * 100000 + chunk_id) AS BIGINT)
        |    AS canon_key,
        |  CAST(count(*) AS BIGINT) AS n_copies
        |FROM ch GROUP BY 1""".stripMargin) { (s, dir) =>
      val d = t(s, dir, "documents").select("doc_id", "text")
      val corpus = d.unionAll(d.filter(col("doc_id") % 9 === 0)
        .select((col("doc_id") + 2000000).as("doc_id"), col("text")))
      Corpus.sentenceChunks(corpus, maxTokens = 64)
        .groupBy("chunk_dg")
        .agg(min(col("doc_id") * 100000 + col("chunk_id"))
          .as("canon_key"),
          count(lit(1)).as("n_copies"))
    },

    // Source attribution: "generations" are 300-char excerpts of corpus
    // docs; winnowing fingerprints on both sides, a df-pruned corpus
    // index, and the best-source rollup must point each excerpt back to
    // its origin. The oracle replays BOTH winnowing selections plus the
    // (n desc, src asc) tiebreak and the coverage division.
    QueryDef("p133_source_attribution",
      """WITH corpus AS (SELECT doc_id, text FROM documents
        |  WHERE doc_id % 5 = 0),
        |q AS (SELECT doc_id AS qid, substr(text, 101, 300) AS qtext
        |  FROM documents WHERE doc_id % 20 = 0),
        |cpos AS (SELECT doc_id, text,
        |    unnest(range(0, length(text) - 7, 1)) AS p
        |  FROM corpus WHERE length(text) >= 11),
        |cg AS (SELECT doc_id, p, md5(substr(text, p + 1, 8)) AS h
        |  FROM cpos),
        |cwin AS (SELECT doc_id,
        |    unnest(range(0, length(text) - 10, 1)) AS j
        |  FROM corpus WHERE length(text) >= 11),
        |csel AS (SELECT w.doc_id, w.j,
        |    min(g.h || lpad(CAST(g.p AS VARCHAR), 10, '0')) AS key
        |  FROM cwin w JOIN cg g ON g.doc_id = w.doc_id
        |    AND g.p BETWEEN w.j AND w.j + 3
        |  GROUP BY 1, 2),
        |cfp AS (SELECT DISTINCT doc_id AS src_id, substr(key, 1, 32)
        |    AS h FROM csel),
        |rare AS (SELECT h FROM cfp GROUP BY h HAVING count(*) <= 50),
        |idx AS (SELECT cfp.* FROM cfp JOIN rare USING (h)),
        |qpos AS (SELECT qid, qtext,
        |    unnest(range(0, length(qtext) - 7, 1)) AS p
        |  FROM q WHERE length(qtext) >= 11),
        |qg AS (SELECT qid, p, md5(substr(qtext, p + 1, 8)) AS h
        |  FROM qpos),
        |qwin AS (SELECT qid,
        |    unnest(range(0, length(qtext) - 10, 1)) AS j
        |  FROM q WHERE length(qtext) >= 11),
        |qsel AS (SELECT w.qid, w.j,
        |    min(g.h || lpad(CAST(g.p AS VARCHAR), 10, '0')) AS key
        |  FROM qwin w JOIN qg g ON g.qid = w.qid
        |    AND g.p BETWEEN w.j AND w.j + 3
        |  GROUP BY 1, 2),
        |qfp AS (SELECT DISTINCT qid, substr(key, 1, 32) AS h FROM qsel),
        |qs AS (SELECT qid, count(*) AS n_qfp FROM qfp GROUP BY qid),
        |m AS (SELECT qid, src_id, count(*) AS n
        |  FROM qfp JOIN idx USING (h) GROUP BY 1, 2),
        |r AS (SELECT qid, src_id, n, ROW_NUMBER() OVER (
        |    PARTITION BY qid ORDER BY n DESC, src_id) AS rn FROM m)
        |SELECT r.qid, CAST(r.src_id AS BIGINT) AS src_id,
        |  CAST(r.n AS BIGINT) AS n_shared,
        |  round(CAST(r.n AS DOUBLE) / CAST(qs.n_qfp AS DOUBLE), 6)
        |    AS coverage
        |FROM r JOIN qs ON qs.qid = r.qid WHERE r.rn = 1""".stripMargin) {
      (s, dir) =>
      val d = t(s, dir, "documents").select("doc_id", "text")
      val corpus = d.filter(col("doc_id") % 5 === 0)
      val queries = d.filter(col("doc_id") % 20 === 0)
        .select(col("doc_id").as("qid"),
          substring(col("text"), 101, 300).as("qtext"))
      Dedup.attributeSources(corpus, queries, k = 8, w = 4, maxDf = 50)
    },

    // Duplication-aware loss weighting (soft dedup: keep every copy but
    // weight it 1/n_copies, so each distinct CONTENT contributes one
    // unit of gradient regardless of replication — the alternative to
    // hard dropping when dedup confidence is low). Exact-dup plants
    // give real multi-copy groups; weights replay as a digest-count
    // join.
    QueryDef("p134_soft_dedup_weights",
      """WITH corpus AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 2000000 AS doc_id, text FROM documents
        |  WHERE doc_id % 6 = 1),
        |g AS (SELECT md5(text) AS dg, count(*) AS c FROM corpus
        |  GROUP BY 1)
        |SELECT c0.doc_id, CAST(g.c AS BIGINT) AS n_copies,
        |  round(1.0 / CAST(g.c AS DOUBLE), 6) AS weight
        |FROM corpus c0 JOIN g ON md5(c0.text) = g.dg""".stripMargin) {
      (s, dir) =>
      val d = t(s, dir, "documents").select("doc_id", "text")
      val corpus = d.unionAll(d.filter(col("doc_id") % 6 === 1)
        .select((col("doc_id") + 2000000).as("doc_id"), col("text")))
      val g = corpus.groupBy(md5(col("text")).as("dg"))
        .agg(count(lit(1)).as("c"))
      corpus.select(col("doc_id"), md5(col("text")).as("dg"))
        .join(g, "dg")
        .select(col("doc_id"), col("c").as("n_copies"),
          round(lit(1.0) / col("c").cast("double"), 6).as("weight"))
    }
  )

  /** p11's stopword-vote language mirror as CTEs ending in
    * `pred(doc_id, lang, lang_pred)` — shared by p11 and the
    * classifier-agreement audit (p129).
    */
  private[operators] lazy val langPredCtes: String = {
    def lst(ws: Seq[String]) = ws.map("'" + _ + "'").mkString("[", ",", "]")
    s"""toks AS (
       |  SELECT doc_id, lang,
       |    CASE WHEN length(regexp_replace(text, '^\\s+|\\s+$$', '', 'g')) = 0
       |         THEN CAST([] AS VARCHAR[])
       |         ELSE string_split_regex(
       |           lower(regexp_replace(text, '^\\s+|\\s+$$', '', 'g')), '\\s+')
       |    END AS tk,
       |    length(text) -
       |      length(regexp_replace(text, '[\\x{4e00}-\\x{9fff}]', '', 'g')) AS cjk
       |  FROM documents),
       |s AS (
       |  SELECT doc_id, lang, cjk,
       |    len(list_filter(tk, t -> list_contains(${lst(TextAnalysis.stopwordsEn)}, t))) AS s_en,
       |    len(list_filter(tk, t -> list_contains(${lst(TextAnalysis.stopwordsDe)}, t))) AS s_de,
       |    len(list_filter(tk, t -> list_contains(${lst(TextAnalysis.stopwordsFr)}, t))) AS s_fr,
       |    len(list_filter(tk, t -> list_contains(${lst(TextAnalysis.stopwordsEs)}, t))) AS s_es
       |  FROM toks),
       |pred AS (
       |  SELECT doc_id, lang,
       |    CASE WHEN cjk > 0 THEN 'zh'
       |         WHEN greatest(s_en, s_de, s_fr, s_es) = 0 THEN 'unknown'
       |         WHEN s_en >= s_de AND s_en >= s_fr AND s_en >= s_es THEN 'en'
       |         WHEN s_de >= s_fr AND s_de >= s_es THEN 'de'
       |         WHEN s_fr >= s_es THEN 'fr'
       |         ELSE 'es' END AS lang_pred
       |  FROM s)""".stripMargin
  }

  /** p131's oracle, shared with the streaming chunk-index job (s27):
    * chunking is per-doc, so per-batch outputs union to the batch
    * relation.
    */
  private[operators] lazy val sentenceChunksSql: String =
    """WITH s0 AS (SELECT doc_id,
      |    list_filter(string_split_regex(text, '[.!?]+'),
      |      s -> length(trim(s)) > 0) AS sents
      |  FROM documents),
      |s1 AS (SELECT doc_id, sents FROM s0 WHERE len(sents) > 0),
      |lp AS (SELECT doc_id, sents,
      |    unnest(range(1, len(sents) + 1)) AS p FROM s1),
      |l2 AS (SELECT doc_id, p - 1 AS pos, trim(sents[p]) AS sent,
      |    len(string_split_regex(trim(sents[p]), '\s+')) AS nt
      |  FROM lp),
      |c AS (SELECT doc_id, pos, sent, nt,
      |    coalesce(SUM(nt) OVER (PARTITION BY doc_id ORDER BY pos
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
      |      AS cb
      |  FROM l2),
      |k AS (SELECT doc_id, pos, sent, nt, cb // 64 AS chunk_id FROM c)
      |SELECT doc_id, CAST(chunk_id AS BIGINT) AS chunk_id,
      |  CAST(count(*) AS BIGINT) AS n_sentences,
      |  CAST(sum(nt) AS BIGINT) AS n_tokens,
      |  md5(string_agg(sent, '. ' ORDER BY pos)) AS chunk_dg
      |FROM k GROUP BY 1, 2""".stripMargin

  /** p126's oracle, shared with the streaming decontamination job
    * (s25): batches partition the corpus by vector, so the per-batch
    * best-match rows union to exactly the batch relation.
    */
  private[operators] lazy val semanticDecontamSql: String =
    """WITH ev AS (SELECT vec_id AS eval_id, embedding AS evec
      |  FROM embeddings WHERE vec_id % 50 = 3),
      |sc AS (SELECT e.vec_id, ev.eval_id,
      |    ROUND(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
      |      CAST(ev.evec AS DOUBLE[])), 6) AS score
      |  FROM embeddings e CROSS JOIN ev),
      |r AS (SELECT vec_id, eval_id, score,
      |    ROW_NUMBER() OVER (PARTITION BY vec_id
      |      ORDER BY score DESC, eval_id) AS rn
      |  FROM sc)
      |SELECT vec_id, CAST(eval_id AS BIGINT) AS top_eval_id,
      |  score AS max_cos, score >= 0.98 AS contaminated
      |FROM r WHERE rn = 1""".stripMargin

  /** p67's oracle, shared with the streaming ingest filter (s12): the
    * stream is a stateless narrow map, so its accumulated output must
    * equal the batch cascade exactly.
    */
  // lazy: referenced from `all` above (and Streaming.all), which would
  // otherwise read this slot before its initializer runs
  private[operators] lazy val qualityCascadeSql: String =
      """WITH corpus AS (
        |  SELECT doc_id, text, lang FROM documents
        |  UNION ALL
        |  SELECT doc_id + 3000000 AS doc_id,
        |    text || chr(10) || text AS text, lang
        |  FROM documents WHERE doc_id % 9 = 0),
        |b AS (
        |  SELECT doc_id, lang, length(text) AS nc,
        |    CASE WHEN length(regexp_replace(text, '^\s+|\s+$', '', 'g')) = 0
        |         THEN 0
        |         ELSE len(string_split_regex(
        |           regexp_replace(text, '^\s+|\s+$', '', 'g'), '\s+'))
        |    END AS nt,
        |    length(regexp_replace(text, '[A-Za-z]', '', 'g')) AS nonalpha,
        |    string_split(text, chr(10)) AS ln
        |  FROM corpus),
        |m AS (
        |  SELECT doc_id, lang, nt, nc,
        |    CASE WHEN nc = 0 THEN 0.0
        |         ELSE (nc - nonalpha) * 1.0 / nc END AS alpha,
        |    CAST(len(ln) - len(list_distinct(ln)) AS DOUBLE) / len(ln)
        |      AS dlf
        |  FROM b)
        |SELECT doc_id, CAST(nt AS BIGINT) AS n_tokens,
        |  CAST(nc AS BIGINT) AS n_chars,
        |  round(alpha, 6) AS alpha_frac, round(dlf, 6) AS dup_line_frac,
        |  CASE WHEN nt < 15 THEN 'too_short'
        |       WHEN dlf > 0.3 THEN 'repetitive_lines'
        |       WHEN nc > 500 THEN 'too_long'
        |       WHEN alpha < 0.81 THEN 'low_alpha'
        |       WHEN lang NOT IN ('en', 'de', 'fr', 'es')
        |         THEN 'lang_filtered'
        |       ELSE 'keep' END AS reason
        |FROM m""".stripMargin

  /** p82's oracle, shared with the streaming scrub gate (s15): the
    * stream accumulated over all micro-batches must equal the batch
    * scrub row-for-row, so both gates check against ONE definition.
    */
  private[operators] lazy val benchmarkScrubSql: String =
    """WITH d AS (SELECT doc_id, text FROM documents
      |  WHERE doc_id % 50 <> 7),
      |b AS (SELECT text FROM documents WHERE doc_id % 50 = 7),
      |bw AS (SELECT DISTINCT substr(text, st + 1, 50) AS w FROM (
      |  SELECT text, unnest(range(0, length(text) - 49, 1)) AS st
      |  FROM b WHERE length(text) >= 50)),
      |w2 AS (SELECT doc_id, st, substr(text, st + 1, 50) AS w FROM (
      |  SELECT doc_id, text,
      |    unnest(range(0, length(text) - 49, 1)) AS st
      |  FROM d WHERE length(text) >= 50)),
      |occ AS (SELECT doc_id, st FROM w2
      |  WHERE w IN (SELECT w FROM bw)),
      |o2 AS (SELECT doc_id, st,
      |    coalesce(max(st + 50) OVER (PARTITION BY doc_id ORDER BY st
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
      |      AS cur
      |  FROM occ),
      |agg AS (SELECT o2.doc_id,
      |    string_agg(CASE WHEN st > cur
      |      THEN substr(d.text, cur + 1, st - cur) ELSE '' END,
      |      '' ORDER BY st) AS head_pieces,
      |    max(st + 50) AS maxend,
      |    count(*) AS n_anchors
      |  FROM o2 JOIN d USING (doc_id) GROUP BY o2.doc_id),
      |cleaned AS (SELECT d.doc_id, length(d.text) AS orig_cp,
      |    coalesce(a.head_pieces, '')
      |      || substr(d.text, coalesce(a.maxend, 0) + 1) AS clean,
      |    coalesce(a.n_anchors, 0) AS n_anchors
      |  FROM d LEFT JOIN agg a USING (doc_id))
      |SELECT doc_id, CAST(orig_cp AS BIGINT) AS orig_cp,
      |  CAST(length(clean) AS BIGINT) AS clean_cp,
      |  CAST(n_anchors AS BIGINT) AS n_hit_anchors,
      |  CAST(orig_cp - length(clean) AS BIGINT) AS removed_cp,
      |  md5(clean) AS clean_dg
      |FROM cleaned""".stripMargin
}
