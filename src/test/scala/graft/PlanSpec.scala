package graft

import graft.dsq.SparkSpec

/** Physical-plan assertions: the properties that make these queries
  * survive a 100× scale-up are checked in CI, not just eyeballed —
  * filter pushdown to the parquet scan, broadcast joins for dimension
  * tables, top-k as TakeOrderedAndProject (no global sort), and
  * whole-stage codegen coverage. Plans are taken AFTER execution so AQE
  * re-planning is included (what actually ran, not the static guess).
  */
class PlanSpec extends SparkSpec {
  private val sf = "/root/testdata/sf0.001"

  private def executed(name: String): String = {
    val df = SparkEntry.queries(name)(spark, sf)
    // collect() drives THIS df's QueryExecution, so AQE finalizes the
    // plan we assert on (a separate writer would leave it un-executed);
    // results at sf0.001 are tiny
    df.collect()
    df.queryExecution.executedPlan.toString
  }

  test("CLI logfmt/accesslog paths ride the DSv2 sources with pruned readSchema") {
    // the CLI readers (dsq/Readers.logfmt / accessLog) must inherit the
    // DSv2 framework — byte-range splits, parse-time pruning — not the
    // old textFile→JSON round-trip (VERDICT r7 task 2)
    val dir = java.nio.file.Files.createTempDirectory("cli_dsv2").toString
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(dir, "a.logfmt"),
      "level=info msg=\"hello\" code=7\nlevel=warn msg=\"bye\" code=9\n")
    val lf = graft.dsq.Readers.logfmt(spark, dir + "/a.logfmt")
      .select("level")
    lf.collect()
    val lfPlan = lf.queryExecution.executedPlan.toString
    assert(lfPlan.contains("graft-logfmt ReadSchema: struct<level:string>"),
      s"CLI logfmt not on the pruned DSv2 scan:\n$lfPlan")

    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(dir, "b.access"),
      "127.0.0.1 - u [10/Oct/2000:13:55:36 -0700] \"GET / HTTP/1.0\" 200 99\n")
    val al = graft.dsq.Readers.accessLog(spark, dir + "/b.access",
      combined = false).select("status")
    al.collect()
    val alPlan = al.queryExecution.executedPlan.toString
    assert(alPlan.contains("graft-accesslog ReadSchema: struct<status:string>"),
      s"CLI accesslog not on the pruned DSv2 scan:\n$alPlan")

    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(dir, "c.errlog"),
      "[Fri Sep 09 10:42:29 2011] [core:error] [client 1.2.3.4] nope\n")
    val ae = graft.dsq.Readers.apacheError(spark, dir + "/c.errlog")
      .select("level")
    ae.collect()
    val aePlan = ae.queryExecution.executedPlan.toString
    assert(aePlan.contains("graft-apacheerror ReadSchema: struct<level:string>"),
      s"CLI apacheError not on the pruned DSv2 scan:\n$aePlan")
  }

  test("q02: filter is pushed into the parquet scan") {
    val p = executed("q02_filter_agg")
    val pushed = p.linesIterator.filter(_.contains("PushedFilters: [")).toSeq
    assert(pushed.nonEmpty, s"no PushedFilters in plan:\n$p")
    assert(pushed.exists(!_.contains("PushedFilters: []")),
      s"empty pushdown — scan reads everything:\n${pushed.mkString("\n")}")
  }

  test("q02: scan is pruned to referenced columns only") {
    val p = executed("q02_filter_agg")
    val scans = p.linesIterator.filter(_.contains("FileScan parquet")).toSeq
    assert(scans.nonEmpty)
    // q02 aggregates two measures under two predicates — a scan carrying
    // all 16 lineitem columns would mean pruning is broken
    assert(!scans.exists(_.contains("l_comment")),
      s"unpruned scan:\n${scans.mkString("\n")}")
  }

  test("q03: dimension sides broadcast (no shuffle of the fact table for the join)") {
    val p = executed("q03_join_topk")
    assert(p.contains("BroadcastHashJoin"), s"no broadcast join:\n$p")
  }

  test("q05: ORDER BY + LIMIT runs as TakeOrderedAndProject, not a global sort") {
    val p = executed("q05_sort_limit")
    assert(p.contains("TakeOrderedAndProject"), s"top-k not fused:\n$p")
  }

  test("q01: aggregation stays inside whole-stage codegen") {
    val p = executed("q01_agg")
    assert(p.contains("WholeStageCodegen") || p.contains("*("),
      s"no codegen span:\n$p")
  }

  test("p04: Jaccard verification joins broadcast the signature table") {
    val p = executed("p04_dedup_ngram")
    assert(p.contains("BroadcastHashJoin"), s"verify joins shuffled:\n$p")
    assert(p.contains("sortedlongjaccard"),
      s"native Jaccard expression missing from plan:\n$p")
  }

  test("p32: boilerplate membership is a broadcast anti-join, not a shuffled one") {
    val p = executed("p32_paragraph_dedup")
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftAnti"),
      s"boilerplate anti-join not broadcast:\n$p")
  }

  test("p35: char entropy is a narrow per-row fold — zero Exchanges") {
    // the raw operator, not the gate (whose orderBy adds a legitimate
    // range-partition Exchange for presentation only)
    val df = graft.pipeline.TextAnalysis.charEntropy(
      spark.read.parquet(s"$sf/documents.parquet"))
    df.collect()
    val p = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==")(0)
    assert(!p.contains("Exchange"), s"entropy plan shuffles:\n$p")
  }

  test("x01: bucketed join runs shuffle-free (no Exchange on the join key)") {
    // same no-broadcast confs the gate query sets, so the SMJ materializes
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    try {
      val df = graft.operators.Scale.bucketedJoin(spark, sf)
      df.collect()
      val p = df.queryExecution.executedPlan.toString
      assert(p.contains("SortMergeJoin"), s"bucketed join not SMJ:\n$p")
      // the only legal Exchange is the final groupBy(o_orderpriority);
      // any Exchange carrying the join key means bucketing was ignored
      val keyExchanges = p.linesIterator.filter(l =>
        l.contains("Exchange") && l.toLowerCase.contains("orderkey")).toSeq
      assert(keyExchanges.isEmpty,
        s"join-key shuffle under bucketing:\n${keyExchanges.mkString("\n")}")
    } finally {
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      spark.conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold")
    }
  }

  test("p78: script profile is a narrow projection — zero Exchanges") {
    val p = executed("p78_script_profile")
    assert(!p.contains("Exchange"), s"script profile shuffled:\n$p")
    assert(p.contains("scriptcounts"),
      s"native ScriptCounts missing from plan:\n$p")
  }

  test("p80: span removal — hash prefilter broadcasts, text shuffles once") {
    val p = executed("p80_span_removal")
    assert(p.contains("BroadcastHashJoin"),
      s"dup-hash prefilter not broadcast:\n$p")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"span removal fell back to a product join:\n$p")
    // the full text may cross at most the one rewrite join (id-keyed);
    // window strings must never ride a shuffle unfiltered
    val pFinal = p.split("== Initial Plan ==")(0)
    val textExchanges = pFinal.linesIterator.filter(l =>
      l.contains("Exchange") && l.contains("text#")).toSeq
    assert(textExchanges.size <= 1,
      s"text crosses >1 shuffle:\n${textExchanges.mkString("\n")}")
  }

  test("x38: broadcast as-of — fact side crosses no exchange and no sort") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    import org.apache.spark.sql.graft.AsOfJoinOps
    // no repartition here: any Exchange in the plan must then belong to
    // the exec's own requirements, which is exactly what's being denied
    val facts = (1 to 500).map(i => (i % 7L, i.toLong, (i * 13 % 97).toLong))
      .toDF("k", "eid", "ts")
    val dim = Seq((1L, 10L, "a"), (1L, 50L, "b"), (2L, 5L, "c"))
      .toDF("dk", "dts", "v")
    val out = AsOfJoinOps.asofJoinBroadcast(facts, dim, "k", "ts", "dk", "dts")
    out.collect()
    val p = out.queryExecution.executedPlan.toString
    assert(p.contains("AsOfJoinBroadcast"), s"broadcast exec not planned:\n$p")
    val exchanges = p.linesIterator.filter(_.contains("Exchange")).toSeq
    assert(exchanges.nonEmpty && exchanges.forall(_.contains("BroadcastExchange")),
      s"fact side shuffled:\n${exchanges.mkString("\n")}")
    assert(!p.contains("Sort "), s"a sort appeared:\n$p")
    // and it agrees with the shuffle exec on the same data
    val a = out.select("eid", "v").collect().map(_.toString).sorted.toSeq
    val b = AsOfJoinOps.asofJoin(facts, dim, "k", "ts", "dk", "dts")
      .select("eid", "v").collect().map(_.toString).sorted.toSeq
    assert(a == b)
  }

  test("x39: broadcast interval enrich — fact side crosses no exchange, no sort") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    import org.apache.spark.sql.graft.IntervalJoinOps
    // same denial as x38: with no repartition on the fact side, any
    // Exchange in the executed plan must be the exec's own requirement
    val points = (1 to 500).map(i => (i % 7L, i.toLong, (i * 13 % 97).toLong))
      .toDF("k", "pid", "ts")
    val windows = Seq((1L, 5L, 20L, "a"), (1L, 15L, 40L, "b"),
      (2L, 0L, 96L, "c")).toDF("wk", "lo", "hi", "v")
    val out = IntervalJoinOps.pointInIntervalBroadcast(points, windows,
      "k", "ts", "wk", "lo", "hi", outer = true)
    out.collect()
    val p = out.queryExecution.executedPlan.toString
    assert(p.contains("IntervalEnrichBroadcast"),
      s"broadcast enrich exec not planned:\n$p")
    val exchanges = p.linesIterator.filter(_.contains("Exchange")).toSeq
    assert(exchanges.nonEmpty && exchanges.forall(_.contains("BroadcastExchange")),
      s"fact side shuffled:\n${exchanges.mkString("\n")}")
    assert(!p.contains("Sort "), s"a sort appeared:\n$p")
    // and it agrees with the declarative BETWEEN left join on the same data
    val a = out.select("pid", "v").collect()
      .map(r => (r.getLong(0), if (r.isNullAt(1)) "-" else r.getString(1)))
      .sorted.toSeq
    val b = points.join(windows,
        col("k") === col("wk") && col("ts").between(col("lo"), col("hi")),
        "left")
      .select("pid", "v").collect()
      .map(r => (r.getLong(0), if (r.isNullAt(1)) "-" else r.getString(1)))
      .sorted.toSeq
    assert(a == b)
  }

  test("p137: weighted top-k lowers to TakeOrderedAndProject — no global sort") {
    import spark.implicits._
    // the SURVEY row claims the E-S key ranking never sorts the corpus;
    // pin it: TakeOrderedAndProject present, no Sort node, no range
    // partitioning exchange in the executed plan
    val docs = (1 to 2000).map(i => (i.toLong, (i % 50 + 1).toLong))
      .toDF("doc_id", "weight")
    val out = graft.pipeline.Corpus.weightedSampleK(docs, 25, "weight")
    out.collect()
    val p = out.queryExecution.executedPlan.toString
    assert(p.contains("TakeOrderedAndProject"),
      s"weighted sample did not lower to top-k:\n$p")
    assert(!p.contains("Sort ") && !p.contains("rangepartitioning"),
      s"a global sort appeared:\n$p")
  }

  test("p147: grid neighbor join is an equi-join on cells, never a product") {
    // the SURVEY row's whole point: the oracle is the naive quadratic
    // self-join, the Spark side must NOT be — candidates meet through a
    // key-partitioned equi-join on the (cx, cy) cell, so no cartesian
    // or nested-loop node may appear anywhere in the executed plan
    val p = executed("p147_grid_neighbor_join")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"neighbor join fell back to a product join:\n$p")
    assert(p.contains("HashJoin") || p.contains("SortMergeJoin"),
      s"no equi-join on the cell key:\n$p")
  }

  test("p146/p148: calendar windows sit above a per-bucket collapse") {
    // the scale claim for both gap fill and rolling anomaly: raw events
    // collapse to one row per (series, bucket) in a partial HashAggregate
    // FIRST, and every Window runs over the bounded sequence() grid —
    // so the plan must show the grid Generate and keyed aggregation, and
    // no product join may sneak into the grid/counts outer join
    for (name <- Seq("p146_gap_fill", "p148_rolling_anomaly")) {
      val p = executed(name)
      assert(p.contains("Window"), s"$name: no window node:\n$p")
      assert(p.contains("HashAggregate"),
        s"$name: no keyed per-bucket collapse:\n$p")
      assert(p.contains("sequence("),
        s"$name: calendar grid sequence() missing:\n$p")
      assert(!p.contains("CartesianProduct") &&
        !p.contains("BroadcastNestedLoopJoin"),
        s"$name: product join appeared:\n$p")
    }
  }

  test("p150: DBSCAN stays equi-joined — no product anywhere in the DAG") {
    // grid eps-graph, degree/core filters, border assignment and the
    // final role join are ALL key-partitioned equi-joins; any cartesian
    // or nested-loop fallback would be the all-pairs plan the operator
    // exists to avoid
    val p = executed("p150_dbscan")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"DBSCAN fell back to a product join:\n$p")
    assert(p.contains("HashJoin") || p.contains("SortMergeJoin"),
      s"no equi-join in the DBSCAN DAG:\n$p")
  }

  test("p151/p152: calendar lerp and transitions keep the bounded shapes") {
    // p151 mirrors p146's claim (collapse first, windows over the grid);
    // p152's only wide ops are the user-keyed lead window and the
    // types^2 aggregate — no join at all may appear
    val p1 = executed("p151_interpolate")
    assert(p1.contains("Window") && p1.contains("HashAggregate") &&
      p1.contains("sequence("),
      s"p151: grid/collapse/window shape broken:\n$p1")
    assert(!p1.contains("CartesianProduct") &&
      !p1.contains("BroadcastNestedLoopJoin"),
      s"p151: product join appeared:\n$p1")
    val p2 = executed("p152_markov_transitions")
    assert(p2.contains("Window") && p2.contains("HashAggregate"),
      s"p152: lead window / matrix aggregate missing:\n$p2")
    assert(!p2.contains("Join"), s"p152: unexpected join:\n$p2")
  }

  test("p153: silhouette is a narrow map — zero shuffles over the corpus") {
    // the k x dim centroids are driver literals; scoring must not
    // exchange, join, or window the corpus (training runs in
    // kmeansCentroids BEFORE this plan and is not part of it)
    val p = executed("p153_silhouette")
    assert(!p.contains("Join"), s"p153: a join appeared:\n$p")
    assert(!p.contains("Window"), s"p153: a window appeared:\n$p")
    // the only allowed exchange is the output orderBy's range partition
    // (AQE's toString repeats the plan in its Initial Plan section, so
    // assert on the exchange KIND, not a line count)
    p.linesIterator.filter(_.contains("Exchange")).foreach { l =>
      assert(l.contains("rangepartitioning"),
        s"p153: non-orderBy exchange over the corpus: $l\n$p")
    }
  }

  test("p154/p156/p157: diagnostics keep the one-shuffle shapes") {
    // p154: bounded-heap top-k over the NDV-sized counts, the 1-row
    // summary joins by broadcast — never a shuffled join or a window
    val p = executed("p154_skew_report")
    assert(p.contains("TakeOrderedAndProject"),
      s"p154: top-k did not lower to a bounded heap:\n$p")
    assert(!p.contains("Window"), s"p154: a window appeared:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      s"p154: summary join shuffled instead of broadcast:\n$p")
    // p156/p157: the event stream crosses exactly ONE user-keyed
    // exchange — Spark may split same-spec window expressions into
    // several Window nodes, but they all ride that single shuffle;
    // every other exchange is over the types-bounded rollup. No join
    // anywhere. (AQE's toString repeats the plan in its Initial Plan
    // section, so count within the final plan only.)
    for (name <- Seq("p156_attribution", "p157_event_paths")) {
      val q = executed(name)
      assert(!q.contains("Join"), s"$name: unexpected join:\n$q")
      val finalPlan = q.split("== Initial Plan ==").head
      val userExchanges = finalPlan.linesIterator.count(l =>
        l.contains("Exchange hashpartitioning(user_id"))
      assert(userExchanges == 1,
        s"$name: expected 1 user-keyed exchange, saw $userExchanges:\n$q")
      assert(finalPlan.contains("windowspecdefinition(user_id"),
        s"$name: the event-stream window is not user-keyed:\n$q")
    }
  }

  test("p158: deletion audit is key-only anti/semi probes, no product") {
    // five narrow probes of the key projection against the key set
    // (measured faster than a mark-once left join — see the scaladoc);
    // the 1-row report crossJoin may ride a broadcast nested loop, but
    // a non-broadcast product or a row-wide shuffle would be a bug
    val p = executed("p158_deletion_audit")
    assert(!p.contains("CartesianProduct"),
      s"p158: non-broadcast product appeared:\n$p")
    assert(p.contains("LeftAnti"), s"p158: scrub is not an anti-join:\n$p")
    assert(p.contains("LeftSemi"),
      s"p158: residual/accounting probe is not a semi-join:\n$p")
    val finalPlan = p.split("== Initial Plan ==").head
    assert(!finalPlan.linesIterator.exists(l =>
      l.contains("Exchange hashpartitioning") && !l.contains("user_id")),
      s"p158: a non-key exchange appeared:\n$p")
  }

  test("p159/p160: seasonal baseline broadcasts, CUSUM folds the grid " +
      "— no window over raw events in either") {
    // p159: raw events collapse to (series, hr) counts map-side FIRST;
    // the 24-row-per-series hod baseline joins back by BROADCAST; the
    // z-flag is a per-row projection — no Window anywhere, no product
    val p = executed("p159_seasonal_anomaly")
    assert(!p.contains("Window"), s"p159: a window appeared:\n$p")
    assert(!p.contains("CartesianProduct"),
      s"p159: non-broadcast product appeared:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"p159: hod baseline did not join by broadcast:\n$p")
    // p160: the recurrence is an aggregate() fold over the per-series
    // calendar grid (bounded by grid hours, never by event count) — no
    // Window node, no product; the only array aggregate rides the grid
    val q = executed("p160_cusum_shift")
    assert(!q.contains("Window"), s"p160: a window appeared:\n$q")
    assert(!q.contains("CartesianProduct"),
      s"p160: non-broadcast product appeared:\n$q")
  }

  test("p161: funnel latency — rank selection, no single-row array " +
      "aggregate anywhere") {
    // the r9 scale defect: sort_array(collect_list(d)) materialized
    // every per-user delta into ONE aggregation buffer. The rewrite
    // selects ranks via withGlobalOrder (range partition + barrier +
    // per-pid window + broadcast offsets): the plan must carry NO array
    // aggregate at all, and the quantile picks must ride a range
    // partitioning, not a single-partition sort
    val p = executed("p161_funnel_latency")
    assert(!p.contains("collect_list") && !p.contains("sort_array"),
      s"p161: an array aggregate reappeared:\n$p")
    // the range partition + write ran in the barrier job; the final
    // plan must read the globalorder barrier and rank within _pid
    assert(p.contains("graft-globalorder"),
      s"p161: no globalorder barrier scan — rank selection rewritten?:\n$p")
    assert(p.contains("windowspecdefinition(_pid"),
      s"p161: quantile rank is not a per-partition window:\n$p")
    assert(!p.contains("CartesianProduct"),
      s"p161: non-broadcast product appeared:\n$p")
  }

  test("p23: sequence packing cumsum is two-phase — no per-source " +
      "window over the corpus") {
    // greedy packing's only sequential quantity is an associative
    // prefix sum; the r11 rewrite rides withGlobalOrder (range
    // partition + barrier + per-_pid window + broadcast per-source
    // offsets) so no single task ever holds a whole source
    val p = executed("p23_pack_sequences")
    assert(p.contains("graft-globalorder"),
      s"p23: no globalorder barrier scan — cumsum rewritten?:\n$p")
    assert(p.contains("windowspecdefinition(_pid"),
      s"p23: cumsum is not a per-partition window:\n$p")
    assert(!p.contains("windowspecdefinition(source"),
      s"p23: a full-source window reappeared:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      s"p23: offset join shuffled instead of broadcast:\n$p")
  }

  test("p162/p163: bot signature counts, A/B readout is one scalar agg") {
    // p162: pure counting — the gap window rides ONE user-keyed
    // exchange, aggregation is (user, gap) counts then a per-user
    // rollup; no arrays, no joins
    val p = executed("p162_bot_signature")
    assert(!p.contains("Join"), s"p162: unexpected join:\n$p")
    assert(!p.contains("collect_list") && !p.contains("sort_array"),
      s"p162: an array aggregate appeared:\n$p")
    assert(p.contains("windowspecdefinition(user_id"),
      s"p162: the gap window is not user-keyed:\n$p")
    val pf = p.split("== Initial Plan ==").head
    val userEx = pf.linesIterator.count(
      _.contains("Exchange hashpartitioning(user_id"))
    assert(userEx == 1,
      s"p162: expected 1 user-keyed exchange, saw $userEx:\n$p")
    // p163: per-user conversion flags collapse through one user-keyed
    // exchange into a single 4-counter scalar aggregate — no Window,
    // no Join, nothing row-wide past the groupBy
    val q = executed("p163_ab_readout")
    assert(!q.contains("Join"), s"p163: unexpected join:\n$q")
    assert(!q.contains("Window"), s"p163: a window appeared:\n$q")
    val qf = q.split("== Initial Plan ==").head
    assert(!qf.linesIterator.exists(l =>
      l.contains("Exchange hashpartitioning") && !l.contains("user_id")),
      s"p163: a non-user exchange appeared:\n$q")
  }

  test("p165: CUPED is unioned scalar aggregates — no join, no window") {
    // both scenarios: one user-keyed groupBy collapsing to a 10-counter
    // scalar aggregate; every moment/guard/θ term is a projection
    val p = executed("p165_cuped")
    assert(!p.contains("Join"), s"p165: unexpected join:\n$p")
    assert(!p.contains("Window"), s"p165: a window appeared:\n$p")
    val pf = p.split("== Initial Plan ==").head
    assert(!pf.linesIterator.exists(l =>
      l.contains("Exchange hashpartitioning") && !l.contains("user_id")),
      s"p165: a non-user exchange appeared:\n$p")
  }

  test("p166/p167: sampling allocation and sequential monitor keep " +
      "bounded shapes") {
    // p166: the per-doc draw rides the two-phase withGlobalOrder rank
    // (per-_pid window + broadcast offsets) — NO window partitioned by
    // the stratum column may rank the corpus-sized relation (a stratum
    // is a source; that shape is one source = one task, the p63/p103
    // defect class). Allocation + offset joins broadcast; no product.
    val p = executed("p166_stratified_sample")
    assert(p.contains("windowspecdefinition(_pid"),
      s"p166: draw rank is not the per-partition global-order window:\n$p")
    assert(!p.contains("windowspecdefinition(source"),
      s"p166: a full-stratum window reappeared:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      s"p166: allocation join shuffled instead of broadcast:\n$p")
    assert(!p.contains("CartesianProduct"),
      s"p166: non-broadcast product appeared:\n$p")
    // p167: one user-keyed exchange, one scalar aggregate, the look
    // rows explode from ONE pivoted row — no window, no shuffled join
    val q = executed("p167_sequential_monitor")
    assert(!q.contains("Window"), s"p167: a window appeared:\n$q")
    assert(!q.contains("SortMergeJoin") && !q.contains("ShuffledHashJoin"),
      s"p167: a shuffled join appeared:\n$q")
    val qf = q.split("== Initial Plan ==").head
    assert(!qf.linesIterator.exists(l =>
      l.contains("Exchange hashpartitioning") && !l.contains("user_id")),
      s"p167: a non-user exchange appeared:\n$q")
    assert(qf.contains("Generate explode"),
      s"p167: look rows are not exploding from the pivoted row:\n$q")
  }

  test("p168: mixture weights — source rollup, broadcast recipe, no " +
      "shuffled join") {
    val p = executed("p168_mixture_weights")
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      s"p168: recipe join shuffled instead of broadcast:\n$p")
    assert(!p.contains("Window"), s"p168: a window appeared:\n$p")
    assert(!p.contains("CartesianProduct"),
      s"p168: non-broadcast product appeared:\n$p")
    val pf = p.split("== Initial Plan ==").head
    assert(!pf.linesIterator.exists(l =>
      l.contains("Exchange hashpartitioning") && !l.contains("source")),
      s"p168: a non-source exchange appeared:\n$p")
  }

  test("p169: classifier eval ranks distinct scores via the two-phase " +
      "cumsum — no corpus window, no shuffled join") {
    // the midrank AUC ranks the |distinct p| score groups through
    // withGlobalOrder (barrier + per-_pid window + broadcast offsets);
    // summaries join back by broadcast; no array aggregates anywhere
    val p = executed("p169_classifier_eval")
    assert(p.contains("graft-globalorder"),
      s"p169: no globalorder barrier scan — rank path rewritten?:\n$p")
    assert(p.contains("windowspecdefinition(_pid"),
      s"p169: score rank is not a per-partition window:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      s"p169: a shuffled join appeared:\n$p")
    assert(!p.contains("CartesianProduct"),
      s"p169: non-broadcast product appeared:\n$p")
    assert(!p.contains("collect_list") && !p.contains("sort_array"),
      s"p169: an array aggregate appeared:\n$p")
  }

  test("p170: trimmed readout ranks via the two-phase cumsum — no " +
      "arm-partitioned window over the user population") {
    // an arm is HALF the corpus: an arm-keyed window sort would put
    // half the users in one task; the trim ranks must ride the
    // withGlobalOrder barrier + per-_pid window + broadcast offsets
    val p = executed("p170_trimmed_readout")
    assert(p.contains("graft-globalorder"),
      s"p170: no globalorder barrier scan — rank path rewritten?:\n$p")
    assert(p.contains("windowspecdefinition(_pid"),
      s"p170: trim rank is not a per-partition window:\n$p")
    assert(!p.contains("windowspecdefinition(arm"),
      s"p170: an arm-partitioned window appeared:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      s"p170: offset join shuffled instead of broadcast:\n$p")
    assert(!p.contains("CartesianProduct"),
      s"p170: non-broadcast product appeared:\n$p")
  }

  test("p171/p172: agreement and MDE readouts are scalar aggregates — " +
      "no window, no shuffled join") {
    // p171: two unioned 4-counter scalar aggregates over one corpus
    // scan each; p172: one user-keyed collapse + one scalar aggregate
    // (the p163 plan)
    val p = executed("p171_labeler_kappa")
    assert(!p.contains("Window"), s"p171: a window appeared:\n$p")
    assert(!p.contains("Join"), s"p171: unexpected join:\n$p")
    val q = executed("p172_mde_readout")
    assert(!q.contains("Window"), s"p172: a window appeared:\n$q")
    assert(!q.contains("Join"), s"p172: unexpected join:\n$q")
    val qf = q.split("== Initial Plan ==").head
    assert(!qf.linesIterator.exists(l =>
      l.contains("Exchange hashpartitioning") && !l.contains("user_id")),
      s"p172: a non-user exchange appeared:\n$q")
  }

  test("p173: bootstrap replicas collapse map-side — explode feeds a " +
      "partial aggregate, CI joins by broadcast") {
    // the xB row amplification must partial-aggregate BEFORE the _b
    // exchange (HashAggregate below Exchange hashpartitioning(_b)),
    // so only B rows per partition cross the shuffle
    val p = executed("p173_bootstrap_ci")
    assert(p.contains("Generate explode"),
      s"p173: replica fan-out is not an explode:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      s"p173: a shuffled join appeared:\n$p")
    assert(!p.contains("CartesianProduct"),
      s"p173: non-broadcast product appeared:\n$p")
    val pf = p.split("== Initial Plan ==").head
    val exIdx = pf.linesIterator.indexWhere(l =>
      l.contains("Exchange hashpartitioning(_b"))
    val aggBelow = pf.linesIterator.drop(exIdx + 1)
      .exists(_.contains("HashAggregate"))
    assert(exIdx >= 0 && aggBelow,
      s"p173: no partial aggregate below the _b exchange:\n$p")
  }

  test("p174: operating points — 27 counters in one scalar aggregate, " +
      "rows explode from one pivoted row") {
    val p = executed("p174_operating_points")
    assert(!p.contains("Window"), s"p174: a window appeared:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      s"p174: a shuffled join appeared:\n$p")
    assert(p.contains("Generate explode"),
      s"p174: cut rows are not exploding from the pivoted row:\n$p")
    assert(!p.contains("CartesianProduct"),
      s"p174: non-broadcast product appeared:\n$p")
  }

  test("p164: chi-square scenarios are unioned scalar aggregates — the " +
      "only join is the planted broadcast product") {
    // each scenario: one user-keyed groupBy collapsing to a 2k-counter
    // scalar aggregate; the planted-purchase fan-out rides a broadcast
    // nested loop (14-row range side) — never a shuffled join, window,
    // or non-broadcast product
    val p = executed("p164_chi_square")
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      s"p164: a shuffled join appeared:\n$p")
    assert(!p.contains("Window"), s"p164: a window appeared:\n$p")
    assert(!p.contains("CartesianProduct"),
      s"p164: non-broadcast product appeared:\n$p")
    val pf = p.split("== Initial Plan ==").head
    assert(!pf.linesIterator.exists(l =>
      l.contains("Exchange hashpartitioning") && !l.contains("user_id")),
      s"p164: a non-user exchange appeared:\n$p")
  }

  test("p80w: winnowed span removal keeps the p80 plan discipline") {
    // the stride path swaps CharGramPosHashes for WinnowAnchorHashes but
    // must keep the same shuffle shape: broadcast hash prefilter, no
    // product joins, text crossing at most the one id-keyed rewrite join
    val p = executed("p80w_winnow_span_removal")
    assert(p.contains("BroadcastHashJoin"),
      s"dup-hash prefilter not broadcast:\n$p")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"winnowed span removal fell back to a product join:\n$p")
    val pFinal = p.split("== Initial Plan ==")(0)
    val textExchanges = pFinal.linesIterator.filter(l =>
      l.contains("Exchange") && l.contains("text#")).toSeq
    assert(textExchanges.size <= 1,
      s"text crosses >1 shuffle:\n${textExchanges.mkString("\n")}")
  }

  test("p135: PQ ANN — float vectors never cross an exchange") {
    // the ADC scan scores the codes table against broadcast query
    // tables; full vectors are read only on the rerank's map side
    // (broadcast shortlist semi-join). Any Exchange carrying the
    // embedding column would void the compression story.
    val p = executed("p135_sim_pq")
    val pFinal = p.split("== Initial Plan ==")(0)
    val vecExchanges = pFinal.linesIterator.filter(l =>
      l.contains("Exchange") && !l.contains("BroadcastExchange") &&
        l.contains("embedding#")).toSeq
    assert(vecExchanges.isEmpty,
      s"embeddings crossed a shuffle:\n${vecExchanges.mkString("\n")}")
    assert(!p.contains("CartesianProduct"),
      s"PQ scoring fell back to a cartesian product:\n$p")
  }

  test("p136: IVF-PQ — cell-pruned code scan, vectors never shuffle") {
    // the probe side joins the codes table on `cell` (equi-join, not a
    // cross join over every code row), probes ride a broadcast, and
    // float vectors appear only on the rerank's map side
    val p = executed("p136_sim_ivfpq")
    val pFinal = p.split("== Initial Plan ==")(0)
    val vecExchanges = pFinal.linesIterator.filter(l =>
      l.contains("Exchange") && !l.contains("BroadcastExchange") &&
        l.contains("embedding#")).toSeq
    assert(vecExchanges.isEmpty,
      s"embeddings crossed a shuffle:\n${vecExchanges.mkString("\n")}")
    assert(!p.contains("CartesianProduct"),
      s"IVF-PQ scoring fell back to a cartesian product:\n$p")
    assert(pFinal.contains("BroadcastHashJoin"),
      s"cell probe join not broadcast:\n$p")
  }

  test("p79: blocklist membership is a broadcast join; text never shuffles") {
    val p = executed("p79_domain_blocklist")
    assert(p.contains("BroadcastHashJoin"),
      s"blocklist join not broadcast:\n$p")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"suffix match fell back to a product join:\n$p")
    // the doc-side rollup and final join carry ids only — no Exchange
    // row should include the text column
    val textExchanges = p.linesIterator.filter(l =>
      l.contains("Exchange") && l.contains("text#")).toSeq
    assert(textExchanges.isEmpty,
      s"text column crosses a shuffle:\n${textExchanges.mkString("\n")}")
  }

  test("x19: IN predicate on the bucket column prunes buckets before I/O") {
    graft.operators.Scale.bucketScanConfs.foreach {
      case (k, v) => spark.conf.set(k, v)
    }
    val p = try {
      val df = graft.operators.Scale.bucketPrunedLookup(spark, sf)
      df.collect()
      df.queryExecution.executedPlan.toString
    } finally {
      graft.operators.Scale.bucketScanConfs.foreach {
        case (k, _) => spark.conf.unset(k)
      }
    }
    val sel = p.linesIterator
      .flatMap("""SelectedBucketsCount: (\d+) out of (\d+)""".r
        .findFirstMatchIn(_)).toSeq
    assert(sel.nonEmpty, s"no bucket pruning in plan:\n$p")
    val (k, n) = (sel.head.group(1).toInt, sel.head.group(2).toInt)
    assert(n == 8 && k <= 3,
      s"expected <=3 of 8 buckets selected, got $k of $n:\n$p")
  }

  test("p101/p109: wordlist filter and code router are zero-shuffle projections") {
    for (name <- Seq("p101_unsafe_words", "p109_code_detect")) {
      val p = executed(name)
      val exchanges = p.split("== Initial Plan ==")(0).linesIterator
        .filter(_.contains("Exchange")).toSeq
      assert(exchanges.isEmpty,
        s"$name shuffles:\n${exchanges.mkString("\n")}\n$p")
    }
  }

  test("p106/p108: text never crosses a shuffle (digest/hash columns only)") {
    for (name <- Seq("p106_dedup_savings", "p108_novelty_contribution")) {
      val p = executed(name)
      val textExchanges = p.linesIterator.filter(l =>
        l.contains("Exchange") && l.contains("text#")).toSeq
      assert(textExchanges.isEmpty,
        s"$name shuffles text:\n${textExchanges.mkString("\n")}")
    }
  }

  test("x25: composite layout prunes partitions AND buckets in one scan") {
    graft.operators.Scale.bucketScanConfs.foreach {
      case (k, v) => spark.conf.set(k, v)
    }
    val p = try {
      val df = graft.operators.Scale.partitionBucketLookup(spark, sf)
      df.collect()
      df.queryExecution.executedPlan.toString
    } finally {
      graft.operators.Scale.bucketScanConfs.foreach {
        case (k, _) => spark.conf.unset(k)
      }
    }
    // directory axis: only the lang=en partition is listed
    assert(p.matches("(?s).*PartitionFilters: \\[[^\\]]*lang[^\\]]*=" +
      "[^\\]]*en[^\\]]*\\].*"),
      s"no lang partition pruning in plan:\n$p")
    // file axis: <=3 of the 8 bucket files inside it are read
    val sel = p.linesIterator
      .flatMap("""SelectedBucketsCount: (\d+) out of (\d+)""".r
        .findFirstMatchIn(_)).toSeq
    assert(sel.nonEmpty, s"no bucket pruning in plan:\n$p")
    val (k, n) = (sel.head.group(1).toInt, sel.head.group(2).toInt)
    assert(n == 8 && k <= 3,
      s"expected <=3 of 8 buckets selected, got $k of $n:\n$p")
  }

  test("x27: custom AsOfJoinExec runs — no window, no union, SMJ-shaped shuffles") {
    val p = executed("x27_asof_custom")
    // SparkPlan rendering strips the Exec suffix: the node prints as
    // "AsOfJoin <leftKey>: <type>, ..."
    assert(p.contains("AsOfJoin "), s"custom operator not planned:\n$p")
    val pFinal = p.split("== Initial Plan ==")(0)
    assert(!pFinal.contains("Window") && !pFinal.contains("Union"),
      s"as-of fell back to the window composition:\n$p")
    // two join-side exchanges + the purchase pre-agg's (user_id, ts)
    // exchange (x03's composition needs the same pre-agg)
    val exchanges = pFinal.linesIterator
      .filter(_.contains("Exchange hashpartitioning")).size
    assert(exchanges <= 3, s"more shuffles than an SMJ needs:\n$p")
  }

  test("p131: sentence chunking is a zero-shuffle projection") {
    val p = executed("p131_sentence_chunks")
    val pFinal = p.split("== Initial Plan ==")(0)
    assert(!pFinal.contains("Exchange"),
      s"chunk fold should keep text in place:\n$pFinal")
  }

  test("x29: custom IntervalJoinExec runs — no explode, no product join") {
    val p = executed("x29_interval_join_op")
    assert(p.contains("IntervalJoin "), s"custom operator not planned:\n$p")
    val pFinal = p.split("== Initial Plan ==")(0)
    // the composition this replaces explodes probe rows into two
    // width-buckets; the sweep needs neither
    assert(!pFinal.contains("Generate explode") &&
      !pFinal.contains("CartesianProduct") &&
      !pFinal.contains("BroadcastNestedLoopJoin"),
      s"interval join fell back to explode/product:\n$p")
    val exchanges = pFinal.linesIterator
      .filter(_.contains("Exchange hashpartitioning")).size
    assert(exchanges <= 3, s"more shuffles than an SMJ needs:\n$p")
  }

  test("x03: as-of join = single user_id window shuffle, no nested-loop/cartesian") {
    val p = executed("x03_asof_join")
    assert(!p.contains("BroadcastNestedLoopJoin") &&
      !p.contains("CartesianProduct"),
      s"as-of composition fell back to a product join:\n$p")
    // the asof itself is ONE shuffle: the window over user_id. The only
    // other Exchange allowed is the purchase-side (user_id, ts) pre-agg.
    // (AdaptiveSparkPlan.toString appends the pre-AQE "Initial Plan" —
    // count only what actually ran.)
    val pFinal = p.split("== Initial Plan ==")(0)
    val windowShuffles = pFinal.linesIterator.filter(l =>
      l.contains("Exchange") &&
        l.matches(""".*hashpartitioning\(user_id#\d+L?, \d+\).*""")).toSeq
    assert(windowShuffles.size == 1,
      s"expected exactly one user_id shuffle:\n$pFinal")
    val exchanges = pFinal.linesIterator.filter(_.contains("Exchange ")).toSeq
    assert(exchanges.size <= 2,
      s"as-of join shuffles more than (pre-agg + window):\n${exchanges.mkString("\n")}")
  }

  test("x04: range join is an equi-join on (user_id, bucket), not a theta join") {
    val p = executed("x04_range_join")
    assert(!p.contains("BroadcastNestedLoopJoin") &&
      !p.contains("CartesianProduct"),
      s"interval bucketing fell back to a product join:\n$p")
    // the join must key on (user_id, bucket) — an equi form any of the
    // three hash-based strategies can execute
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin") ||
      p.contains("BroadcastHashJoin"), s"no equi-join operator:\n$p")
  }

  test("x05: scan reads only the filtered partition directory") {
    val df = graft.operators.Scale.partitionPrunedAgg(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    val pf = p.linesIterator.find(_.contains("PartitionFilters: ["))
      .getOrElse(fail(s"no PartitionFilters in plan:\n$p"))
    assert(pf.contains("event_type"),
      s"partition filter not pushed to the listing:\n$pf")
    // the pruned column never reaches the data scan
    assert(!p.contains("PushedFilters: [IsNotNull(event_type)"),
      s"partition column leaked into data filters:\n$p")
  }

  test("x06: AQE splits the skewed join partition (skew=true in the SMJ)") {
    val confs = Seq(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "2KB",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "1KB",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2.0",
      "spark.sql.adaptive.forceOptimizeSkewedJoin" -> "true")
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      // sf0.01: the hot key's partition must actually exceed the scaled
      // threshold for OptimizeSkewedJoin to engage
      val df = graft.operators.Scale.aqeSkewJoin(spark, "/root/testdata/sf0.01")
      df.collect()
      val p = df.queryExecution.executedPlan.toString
        .split("== Initial Plan ==")(0)
      assert(p.contains("skew=true"),
        s"AQE did not split the skewed partition:\n$p")
    } finally confs.foreach { case (k, _) => spark.conf.unset(k) }
  }

  test("x15: AQE promotes the statically-planned SMJ to a broadcast join") {
    graft.operators.Scale.aqeBroadcastConfs.foreach {
      case (k, v) => spark.conf.set(k, v)
    }
    try {
      val df = graft.operators.Scale.aqeBroadcastPromotedJoin(
        spark, "/root/testdata/sf0.001")
      df.collect()
      val parts = df.queryExecution.executedPlan.toString
        .split("== Initial Plan ==")
      assert(parts(0).contains("BroadcastHashJoin"),
        s"final plan not promoted to broadcast:\n${parts(0)}")
      assert(parts.length > 1 && parts(1).contains("SortMergeJoin"),
        "initial plan was already a broadcast join — nothing was promoted" +
          s":\n${parts.lift(1).getOrElse("")}")
    } finally graft.operators.Scale.aqeBroadcastConfs.foreach {
      case (k, _) => spark.conf.unset(k)
    }
  }

  test("p54: final k-means assignment is a narrow map — zero exchanges") {
    val p = executed("p54_kmeans_assign")
    assert(!p.contains("Exchange"),
      s"assignment against the centroid literal should not shuffle:\n$p")
  }

  test("p55: SemDeDup pair join is cluster-keyed, never a cross product") {
    val p = executed("p55_semantic_dedup")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"pairwise stage fell back to an all-pairs join:\n$p")
  }

  test("p56: global prefix sum avoids the single-partition window") {
    val p = executed("p56_token_budget")
    assert(!p.contains("Exchange SinglePartition"),
      s"global cumsum serialized through one partition:\n$p")
    assert(p.contains("RunningWindowFunction") || p.contains("Window"),
      s"no window stage found:\n$p")
  }

  test("p58: containment pair counts are partially aggregated") {
    val p = executed("p58_containment")
    assert(p.contains("partial_count"),
      s"pair-count groupBy is not map-side combined:\n$p")
    assert(!p.contains("CartesianProduct"),
      s"containment join fell back to a cross product:\n$p")
  }

  test("x02: salted join honors the shuffle_hash hint (no broadcast, no SMJ sort)") {
    val p = executed("x02_salted_skew_join")
    assert(p.contains("ShuffledHashJoin"),
      s"salted join did not run as shuffled hash join:\n$p")
  }

  test("p02: minhash pipeline uses the parquet barrier, not cache") {
    val p = executed("p02_dedup_minhash")
    assert(!p.contains("InMemoryRelation") && !p.contains("InMemoryTableScan"),
      s"plan-lifetime cache found (persist leak):\n$p")
  }

  test("minhash sketch path: dup membership is a local relation, no second barrier") {
    // a dup-carrying corpus under the sketch caps must take the
    // observed-sketch path: membership arrives driver-side with the
    // signature write and plans as an exact-stats LocalTableScan —
    // there is no aggregated dup barrier (graft-lsh-dups) to scan and
    // the expansion joins broadcast it
    import org.apache.spark.sql.functions._
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select("doc_id", "text")
    val planted = docs.unionAll(docs.limit(5)
      .select((col("doc_id") + 9000).as("doc_id"), col("text")))
    val df = graft.pipeline.Dedup.minhashPairs(planted, "doc_id", "text",
      k = 64, bands = 16, threshold = 0.5)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("graft-lsh-dups"),
      s"aggregated dup barrier present — sketch did not resolve:\n$p")
    assert(p.contains("LocalTableScan"),
      s"no local membership relation in plan:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"expansion joins not broadcast:\n$p")
  }

  test("p36: bloom probe is codegen'd, verify joins broadcast, corpus never sort-merge-joined") {
    val p = executed("p36_incremental_dedup")
    assert(p.contains("BloomMightContain") ||
      p.contains("bloommightcontain"),
      s"bloom prefilter missing from the plan:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"verify join not broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"corpus side shuffled into an SMJ:\n$p")
  }

  test("x07: dimension predicate prunes fact partitions at runtime (DPP filter in the scan)") {
    val p = executed("x07_dynamic_pruning")
    assert(p.toLowerCase.contains("dynamicpruning"),
      s"no dynamic partition pruning filter on the fact scan:\n$p")
  }

  test("p40: the Count-Min prefilter probes before the exact-count shuffle") {
    val p = executed("p40_heavy_hitters")
    val lower = p.toLowerCase
    assert(lower.contains("countminestimate"),
      s"CMS prefilter missing from the plan:\n$p")
    // the probe must sit below (= execute before) the first aggregation
    // exchange, so the shuffle only carries candidate occurrences
    val probeIdx = lower.indexOf("countminestimate")
    val exchangeIdx = lower.indexOf("exchange hashpartitioning(token")
    assert(exchangeIdx == -1 || probeIdx > exchangeIdx,
      "prefilter is above the token shuffle (plan prints top-down, " +
        s"so the probe must appear AFTER the exchange line):\n$p")
  }

  test("x08: merged read keeps old-batch rows with null evolved columns") {
    val df = SparkEntry.queries("x08_schema_evolution")(spark, sf)
    val rows = df.collect()
    val old = rows.filter(_.getLong(0) < 250)
    val newer = rows.filter(_.getLong(0) >= 250)
    assert(old.nonEmpty && old.forall(r => r.isNullAt(1) && r.isNullAt(2)))
    assert(newer.nonEmpty && newer.forall(r => !r.isNullAt(1)))
  }

  test("x09: compaction preserves rows and actually shrinks the file count") {
    val out = SparkEntry.queries("x09_compaction")(spark, sf).head()
    assert(out.getBoolean(2), "compaction did not reduce file count")
    assert(out.getBoolean(3), "compacted layout exceeds the file bound")
    val expected = spark.read
      .parquet(s"$sf/documents.parquet").count()
    assert(out.getLong(0) == expected)
  }

  test("x10: AQE coalesces the post-filter aggregation shuffle at runtime") {
    val p = executed("x10_aqe_coalesce")
    assert(p.contains("AQEShuffleRead") && p.contains("coalesced"),
      s"no runtime shuffle coalesce in the executed plan:\n$p")
  }

  test("p06: top-k is a partial-aggregable bounded heap, not a per-query window sort") {
    val p = executed("p06_sim_brute")
    // the row_number window form would show WindowExec + a Sort of every
    // scored corpus row inside one reduce partition per query
    assert(!p.contains("Window"), s"per-query window survived:\n$p")
    assert(p.contains("topkpairs"), s"TopKPairs aggregate missing:\n$p")
    // partial aggregation must happen below the qid shuffle: the
    // ObjectHashAggregate pair (partial_topkpairs before the Exchange)
    // is what bounds the shuffle to k rows per query per map partition
    assert(p.contains("partial_topkpairs"),
      s"no map-side partial top-k — every scored row crosses the shuffle:\n$p")
  }

  test("p49: both top-k stages are bounded heaps, no per-query window") {
    val p = executed("p49_sim_projected")
    assert(!p.contains("Window"), s"per-query window in projected ANN:\n$p")
    assert(p.contains("partial_topkpairs"),
      s"shortlist/rerank not partial-aggregable:\n$p")
  }

  test("p47: source-overlap joins stay equi-join with partial aggregation") {
    val p = executed("p47_source_overlap")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"),
      s"overlap matrix fell back to a cross product:\n$p")
    assert(p.contains("Partial") || p.contains("partial_count"),
      s"no map-side partial aggregation:\n$p")
  }

  test("p45: tf and dot-product aggregations are map-side partial (sparse cosine)") {
    val p = executed("p45_sparse_cosine")
    // the inverted-index shape lives or dies on partial aggregation:
    // per-(id,token) tf and per-(id_a,id_b) dot products must combine
    // below their shuffles, or every token occurrence crosses the wire
    assert(p.contains("partial_count") || p.contains("Partial"),
      s"no map-side partial aggregation:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"),
      s"sparse cosine fell back to a cross product:\n$p")
  }

  test("x13: IVF probe prunes the cell-partitioned scan via DPP") {
    val df = operators.Scale.ivfLayoutTopK(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    // the layout-side scan must carry a dynamicpruning PartitionFilter
    // on the cell column — ANN routing surfacing as partition pruning
    val pruned = p.linesIterator.filter(l =>
      l.contains("PartitionFilters") && l.contains("dynamicpruning")).toSeq
    assert(pruned.nonEmpty, s"no DPP on the cell-partitioned scan:\n$p")
    assert(pruned.exists(_.contains("cell")),
      s"DPP filter not on the cell column:\n${pruned.mkString("\n")}")
  }

  test("x42: IVF-PQ probe prunes the cell-partitioned CODES scan via DPP") {
    Scratch.scoped(spark) {
      val df = operators.Scale.ivfPqLayoutServe(spark, sf)
      df.collect()
      val p = df.queryExecution.executedPlan.toString
      val pruned = p.linesIterator.filter(l =>
        l.contains("PartitionFilters") && l.contains("dynamicpruning")).toSeq
      assert(pruned.nonEmpty, s"no DPP on the codes scan:\n$p")
      assert(pruned.exists(_.contains("cell")),
        s"DPP filter not on the cell column:\n${pruned.mkString("\n")}")
      // and the stored artifact must be codes-only: no float vector
      // column in the layout schema
      val Seq(layoutDir) = Scratch.current(spark).root.toFile.listFiles()
        .filter(_.getName.startsWith("x42_ivfpq_layout")).toSeq
      val layout = spark.read.parquet(layoutDir.toString)
      assert(layout.columns.toSet == Set("cell", "vec_id", "codes", "rnorm"),
        s"layout not codes-only: ${layout.columns.mkString(",")}")
    }
  }

  test("x12: Morton interleave matches the reference bit math") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    def ref(x: Int, y: Int, bits: Int): Long =
      (0 until bits).map(i =>
        (((x >> i) & 1).toLong << (2 * i)) |
          (((y >> i) & 1).toLong << (2 * i + 1))).reduce(_ | _)
    val pts = Seq((0, 0), (1, 0), (0, 1), (1, 1), (3, 3), (1500, 29),
      (2047, 31), (7, 0), (0, 7)) ++
      (0 until 50).map(i => (i * 37 % 2048, i * 13 % 32))
    val got = pts.toDF("x", "y")
      .select(col("x"), col("y"),
        operators.Scale.zOrderValue(col("x").cast("long"),
          col("y").cast("long"), 11).as("z"))
      .collect().map(r => ((r.getInt(0), r.getInt(1)), r.getLong(2))).toMap
    for ((x, y) <- pts)
      assert(got((x, y)) == ref(x, y, 11), s"z($x, $y) mismatch")
    // locality sanity: the canonical first quad ordering 0,1,2,3
    assert(Seq(got((0, 0)), got((1, 0)), got((0, 1)), got((1, 1))) ==
      Seq(0L, 1L, 2L, 3L))
  }

  test("x11: runtime Bloom filter probes the fact side before the shuffle") {
    operators.Scale.bloomJoinConfs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val df = operators.Scale.bloomPrunedJoin(spark, sf)
      df.collect()
      val p = df.queryExecution.executedPlan.toString
      // creation side: bloom_filter_agg over the filtered dimension keys;
      // application side: a might_contain probe sitting in the FACT
      // scan's filter (on l_orderkey), i.e. before the join shuffle
      assert(p.contains("bloom_filter_agg"),
        s"runtime bloom filter not built:\n$p")
      assert(p.linesIterator.exists(l =>
          l.contains("might_contain") && l.contains("l_orderkey")),
        s"bloom probe did not reach the fact side:\n$p")
    } finally operators.Scale.bloomJoinConfs.foreach {
      case (k, _) => spark.conf.unset(k)
    }
  }

  test("p46: candidates equi-join on hashed segment keys, never a cross product") {
    val p = executed("p46_fuzzy_join")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"),
      s"ed-join fell back to a cross product:\n$p")
    // the key generation must be the native expression (codegen'd one-
    // pass loop), not an interpreted HigherOrderFunction tower
    assert(p.contains("passjoinkeys") || p.contains("PassJoinKeys"),
      s"native PassJoinKeys expression missing:\n$p")
    assert(!p.contains("transform(transform"),
      s"interpreted nested transforms survived:\n$p")
  }

  test("p67: quality cascade is a narrow projection — zero Exchanges") {
    val df = graft.pipeline.TextAnalysis.qualityCascade(
      spark.read.parquet(s"$sf/documents.parquet"))
    df.collect()
    val p = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==")(0)
    assert(!p.contains("Exchange"), s"cascade plan shuffles:\n$p")
  }

  test("p62: pair counts partially aggregate BEFORE the unigram joins") {
    val p = executed("p62_collocations")
    // the ONE BroadcastNestedLoopJoin is the designed 1-row scalar-total
    // broadcast; anything beyond it (or any unbroadcast cartesian)
    // means a real cross product crept in
    assert(!p.contains("CartesianProduct"),
      s"collocations fell back to a cross product:\n$p")
    val finalPlan = p.split("== Initial Plan ==")(0)
    assert(finalPlan.sliding("BroadcastNestedLoopJoin".length)
      .count(_ == "BroadcastNestedLoopJoin") <= 1,
      s"more than the scalar-total broadcast cross:\n$finalPlan")
    // minCount prune must run on the partial-aggregated pair table
    assert(p.linesIterator.exists(_.contains("partial_count")),
      s"pair counting is not map-side partial:\n$p")
  }

  test("p64: PageRank rounds are equi-joins over the edge table, no cross product") {
    val p = executed("p64_domain_pagerank")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"),
      s"PageRank iteration fell back to a cross product:\n$p")
  }

  test("p66: chunk table is explode + partial-aggregated digest count") {
    val p = executed("p66_cdc_dedup")
    assert(p.toLowerCase.contains("cdcchunks"),
      s"native CdcChunks expression missing from plan:\n$p")
    assert(!p.contains("CartesianProduct"),
      s"chunk stats fell back to a cross product:\n$p")
  }

  test("p68: snapshot diff is an id equi-join over digest projections") {
    val df = SparkEntry.queries("p68_snapshot_diff")(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("FullOuter"), s"expected a full-outer join:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"),
      s"diff fell back to a non-equi join:\n$p")
    // the join consumes md5 digests computed BELOW the exchange — the
    // projection that shuffles carries (id, 16-byte digest), not text
    assert(p.contains("md5"), s"digest projection missing:\n$p")
  }

  test("x16: blooms land on the requested column only, point lookup matches") {
    val row = SparkEntry.queries("x16_parquet_bloom")(spark, sf).head()
    assert(row.getBoolean(1), "o_custkey chunk missing its bloom filter")
    assert(row.getBoolean(2), "bloom written on a column that did not opt in")
    assert(row.getLong(0) > 0, "point lookup returned no rows")
  }

  test("p69: C4 cleaning is a narrow projection — zero Exchanges") {
    val df = SparkEntry.queries("p69_c4_clean")(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("Exchange"), s"C4 cleaning shuffled:\n$p")
  }

  test("p70: marginals are windows over ONE tokenize — corpus scanned twice, not 4x") {
    val df = SparkEntry.queries("p70_source_divergence")(spark, sf)
    df.collect()
    // AQE's toString repeats the tree under "== Initial Plan ==" —
    // count only the final plan
    val p = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    val scans = p.linesIterator.count(_.contains("FileScan parquet"))
    assert(scans <= 2, s"expected <=2 document scans, got $scans:\n$p")
    val explodes = p.linesIterator.count(_.contains("Generate explode"))
    assert(explodes == 1, s"expected exactly 1 tokenize explode, got $explodes:\n$p")
  }

  test("p76: capstone DAG stays narrow — extraction/cascade add no shuffle") {
    val df = SparkEntry.queries("p76_ingest_pipeline")(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    // only the digest distinct and the summary aggregates may SHUFFLE
    // (broadcasts — keep-join, 1-row summary sides — are intended);
    // regex extraction and cascade are projections fused into the scans
    val shuffles = p.linesIterator.count(l =>
      l.contains("Exchange hashpartitioning") ||
        l.contains("Exchange SinglePartition"))
    assert(shuffles <= 4, s"capstone gained a shuffle ($shuffles):\n$p")
    assert(!p.contains("CartesianProduct"), s"unexpected cartesian:\n$p")
  }

  test("x17: sorted layout makes the column index prune pages") {
    val row = SparkEntry.queries("x17_column_index")(spark, sf).head()
    assert(row.getBoolean(1), "column index absent from some chunk")
    assert(row.getBoolean(2),
      "sorted layout touched more than half the pages the scattered one did")
    assert(row.getLong(0) > 0, "range probe returned no rows")
  }

  test("p85: BM25 broadcasts query terms; top-k is a bounded heap, no window") {
    val p = executed("p85_bm25_topk")
    assert(!p.contains("Window"), s"per-query window sort in BM25:\n$p")
    assert(p.contains("partial_topkpairs"),
      s"no map-side partial top-k:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"query-term join is not broadcast — corpus postings would shuffle:\n$p")
    // the one-row N/avgdl scalars legitimately ride a broadcast
    // nested-loop cross join; a non-broadcast cartesian would be a bug
    assert(!p.contains("CartesianProduct"),
      s"BM25 fell back to a non-broadcast cross product:\n$p")
  }

  test("p86: paragraph pairs are shingle equi-joins with partial counts") {
    val p = executed("p86_paragraph_neardup")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"),
      s"paragraph near-dup fell back to a cross product:\n$p")
    assert(p.contains("partial_count"),
      s"pair counts not map-side partial:\n$p")
  }

  test("p87: hard-negative top-k is a bounded heap, no window") {
    val p = executed("p87_hard_negatives")
    assert(!p.contains("Window"), s"per-query window sort:\n$p")
    assert(p.contains("partial_topkpairs"),
      s"no map-side partial top-k:\n$p")
  }

  test("p88: BPE top-20 is TakeOrderedAndProject over partial-agg counts") {
    val p = executed("p88_bpe_pair_stats")
    assert(p.contains("TakeOrderedAndProject"),
      s"top-N cut is a global sort, not a bounded take:\n$p")
    assert(p.contains("partial_sum") || p.contains("Partial"),
      s"pair counts not map-side partial:\n$p")
  }

  test("p89: feedback docs broadcast; expansion rank windows a k-bounded relation") {
    val p = executed("p89_query_expansion")
    // the per-query rank window is legal ONLY because its input is
    // bounded by k feedback docs' vocabulary per query — but the
    // corpus-side joins must broadcast the tiny side, never shuffle
    // the postings for it, and nothing may fall to a cross product
    assert(p.contains("BroadcastHashJoin"),
      s"feedback top-k join not broadcast:\n$p")
    assert(!p.contains("CartesianProduct"),
      s"expansion fell back to a cross product:\n$p")
  }

  test("p90: eval metrics partial-aggregate; no corpus-sized window or cross product") {
    val p = executed("p90_retrieval_eval")
    assert(!p.contains("Window"),
      s"metrics computed via a window instead of aggregates:\n$p")
    assert(!p.contains("CartesianProduct"),
      s"eval fell back to a cross product:\n$p")
    assert(p.contains("partial_count") || p.contains("Partial"),
      s"hit counts not map-side partial:\n$p")
  }

  test("p91: DSIR bucket tables broadcast into the token stream") {
    val p = executed("p91_importance_weights")
    assert(p.contains("BroadcastHashJoin"),
      s"256-row bucket tables shuffled the token stream:\n$p")
    assert(!p.contains("CartesianProduct"),
      s"importance scoring fell back to a non-broadcast cross product:\n$p")
    assert(p.contains("partial_count") || p.contains("partial_sum"),
      s"bucket counts not map-side partial:\n$p")
  }

  test("p92: BPE rounds read the vocab barrier; argmax rides a 1-row broadcast") {
    val p = executed("p92_bpe_train")
    // the only joins are the best-pair rewrite cross joins — every one
    // must be a 1-row BroadcastNestedLoopJoin, never a shuffled
    // CartesianProduct; pair counts must partial-aggregate
    assert(!p.contains("CartesianProduct"),
      s"best-pair rewrite shuffled a cross product:\n$p")
    assert(p.contains("partial_sum") || p.contains("Partial"),
      s"pair counts not map-side partial:\n$p")
    // rounds run over the materialized barrier, not the raw corpus: the
    // executed plan must scan barrier parquet (graft-bpe-vocab dirs),
    // not documents.parquet
    assert(p.contains("graft-bpe-vocab"),
      s"rounds recompute from the corpus instead of the barrier:\n$p")
    assert(!p.contains("documents.parquet"),
      s"final union still re-reads the corpus:\n$p")
  }

  test("p99: datasheet language branch never reads text; no window; partial aggs") {
    val p = executed("p99_corpus_report")
    assert(!p.contains("Window"),
      s"dominant language computed via a window, not min(struct):\n$p")
    val scans = p.linesIterator.filter(_.contains("FileScan parquet")).toSeq
    assert(scans.exists(l => l.contains("documents") && !l.contains("text")),
      s"no text-pruned scan — the language branch reads text:\n" +
        scans.mkString("\n"))
    assert(p.contains("partial_count") || p.contains("Partial"),
      s"volume aggregates not map-side partial:\n$p")
  }

  test("p94: phrase terms broadcast into the postings; anchors partial-aggregate") {
    val p = executed("p94_phrase_search")
    assert(p.contains("BroadcastHashJoin"),
      s"query terms shuffled the postings:\n$p")
    assert(!p.contains("CartesianProduct"),
      s"phrase match fell back to a cross product:\n$p")
    assert(p.contains("partial_count") || p.contains("Partial"),
      s"anchor hits not map-side partial:\n$p")
    assert(!p.contains("Window"),
      s"anchor reduction uses a window instead of aggregates:\n$p")
  }

  test("p95: backoff scoring is count-table joins, no cross product, partial aggs") {
    val p = executed("p95_backoff_lm")
    assert(!p.contains("CartesianProduct"),
      s"LM scoring fell back to a cross product:\n$p")
    assert(p.contains("partial_count") || p.contains("Partial"),
      s"n-gram counts not map-side partial:\n$p")
    assert(!p.contains("Window"),
      s"per-doc averaging uses a window instead of aggregates:\n$p")
  }

  private def noShuffledJoin(name: String, p: String): Unit = {
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      s"$name: a shuffled join appeared:\n$p")
    assert(!p.contains("CartesianProduct"),
      s"$name: non-broadcast product appeared:\n$p")
  }

  test("p175: the metric family explodes from one scalar-aggregate " +
      "row; every window rides a bounded synthetic key") {
    // one user-keyed collapse carries ALL metric flags; the 2+2m
    // counters pivot to a single row; the m-row family explodes from
    // it, so the BH rank/step-up windows never see data cardinality
    val p = executed("p175_fdr_bh")
    noShuffledJoin("p175", p)
    val pf = p.split("== Initial Plan ==").head
    assert(pf.contains("Generate explode"),
      s"p175: family rows are not exploding from the pivoted row:\n$p")
    assert(!pf.linesIterator.exists(l =>
      l.contains("Exchange hashpartitioning") && !l.contains("user_id")),
      s"p175: a non-user exchange appeared:\n$p")
    val wins = pf.linesIterator
      .filter(_.contains("windowspecdefinition(")).toSeq
    assert(wins.nonEmpty && wins.forall(
      _.contains("windowspecdefinition(_w")),
      s"p175: a window partitioned by a data column appeared:\n$p")
  }

  test("p176: survival windows run over the hour-span-bounded " +
      "duration table, never the user relation") {
    // user collapse → |hour-span|-row duration aggregate; the
    // product-limit cumulative windows ride that bounded table under
    // the non-foldable constant key; the corpus max joins by broadcast
    val p = executed("p176_kaplan_meier")
    noShuffledJoin("p176", p)
    val pf = p.split("== Initial Plan ==").head
    val wins = pf.linesIterator
      .filter(_.contains("windowspecdefinition(")).toSeq
    assert(wins.nonEmpty && wins.forall(
      _.contains("windowspecdefinition(_w")),
      s"p176: a window partitioned by a data column appeared:\n$p")
    assert(!pf.linesIterator.exists(l =>
      l.contains("Exchange hashpartitioning") &&
        !(l.contains("user_id") || l.contains("(dur") ||
          l.contains("(_w"))),
      s"p176: an exchange outside user/duration keys appeared:\n$p")
  }

  test("p177: conformal quantile rides the two-phase global-order " +
      "rank; fit scalars broadcast") {
    val p = executed("p177_conformal")
    noShuffledJoin("p177", p)
    assert(p.contains("graft-globalorder"),
      s"p177: no globalorder barrier scan — rank path rewritten?:\n$p")
    assert(p.contains("windowspecdefinition(_pid"),
      s"p177: residual rank is not a per-partition window:\n$p")
    val pf = p.split("== Initial Plan ==").head
    assert(!pf.linesIterator.exists(l =>
      l.contains("Exchange hashpartitioning") && !l.contains("_pid")),
      s"p177: a non-_pid exchange appeared:\n$p")
  }

  test("p178: ANOVA is a source rollup into a scalar aggregate — no " +
      "window, no join") {
    val p = executed("p178_anova_f")
    assert(!p.contains("Join"), s"p178: unexpected join:\n$p")
    assert(!p.contains("Window"), s"p178: a window appeared:\n$p")
    val pf = p.split("== Initial Plan ==").head
    assert(!pf.linesIterator.exists(l =>
      l.contains("Exchange hashpartitioning") && !l.contains("source")),
      s"p178: a non-source exchange appeared:\n$p")
  }

  test("p180: log-rank rides p176's bounded-duration shape — user " +
      "collapse, broadcast corpus max, windows on the bounded key") {
    val p = executed("p180_log_rank")
    noShuffledJoin("p180", p)
    val pf = p.split("== Initial Plan ==").head
    val wins = pf.linesIterator
      .filter(_.contains("windowspecdefinition(")).toSeq
    assert(wins.nonEmpty && wins.forall(
      _.contains("windowspecdefinition(_w")),
      s"p180: a window partitioned by a data column appeared:\n$p")
    assert(!pf.linesIterator.exists(l =>
      l.contains("Exchange hashpartitioning") &&
        !(l.contains("user_id") || l.contains("(dur") ||
          l.contains("(_w"))),
      s"p180: an exchange outside user/duration keys appeared:\n$p")
  }

  test("p181/p182: rank-sum rides the two-phase histogram rank; OLS " +
      "is one scalar aggregate") {
    // p181: user collapse → |distinct metric| histogram → global-order
    // rank over the histogram (never a single-task sort of it) →
    // scalar aggregate; offsets join back by broadcast
    val p = executed("p181_rank_sum")
    noShuffledJoin("p181", p)
    assert(p.contains("graft-globalorder"),
      s"p181: no globalorder barrier scan — rank path rewritten?:\n$p")
    assert(p.contains("windowspecdefinition(_pid"),
      s"p181: histogram rank is not a per-partition window:\n$p")
    val pf = p.split("== Initial Plan ==").head
    assert(!pf.linesIterator.exists(l =>
      l.contains("Exchange hashpartitioning") &&
        !(l.contains("user_id") || l.contains("(x") ||
          l.contains("_pid"))),
      s"p181: an exchange outside user/value keys appeared:\n$p")
    // p182: one user collapse + ONE scalar moment aggregate
    val q = executed("p182_ols_readout")
    assert(!q.contains("Join"), s"p182: unexpected join:\n$q")
    assert(!q.contains("Window"), s"p182: a window appeared:\n$q")
    val qf = q.split("== Initial Plan ==").head
    assert(!qf.linesIterator.exists(l =>
      l.contains("Exchange hashpartitioning") && !l.contains("user_id")),
      s"p182: a non-user exchange appeared:\n$q")
  }

  test("p183: DiD is a user collapse into one 12-counter scalar " +
      "aggregate; the span cut broadcasts") {
    val p = executed("p183_did_readout")
    noShuffledJoin("p183", p)
    assert(!p.contains("Window"), s"p183: a window appeared:\n$p")
    val pf = p.split("== Initial Plan ==").head
    assert(!pf.linesIterator.exists(l =>
      l.contains("Exchange hashpartitioning") && !l.contains("user_id")),
      s"p183: a non-user exchange appeared:\n$p")
  }

  test("p184/p185: weight diagnostics barrier once then scan thrice; " +
      "SRM is one scalar aggregate") {
    // p184: the p91 weight derivation (bucket tables broadcast into
    // the token stream) runs ONCE into a barrier; the three diagnostic
    // aggregates (max for normalization, pinned sums, heavy count)
    // each scan the barrier against broadcast scalars from the prior
    val p = executed("p184_weight_diag")
    noShuffledJoin("p184", p)
    assert(!p.contains("Window"), s"p184: a window appeared:\n$p")
    assert(p.contains("graft-weight-diag"),
      s"p184: weights not barriered — derivation re-runs per scan:\n$p")
    // p185: per-user distinct + ONE scalar aggregate
    val q = executed("p185_srm_check")
    assert(!q.contains("Join"), s"p185: unexpected join:\n$q")
    assert(!q.contains("Window"), s"p185: a window appeared:\n$q")
    val qf = q.split("== Initial Plan ==").head
    assert(!qf.linesIterator.exists(l =>
      l.contains("Exchange hashpartitioning") && !l.contains("user_id")),
      s"p185: a non-user exchange appeared:\n$q")
  }

  test("p179: isotonic minimax joins are broadcast products of the " +
      "bounded bin table; windows ride the bounded key") {
    val p = executed("p179_isotonic")
    noShuffledJoin("p179", p)
    val pf = p.split("== Initial Plan ==").head
    val wins = pf.linesIterator
      .filter(_.contains("windowspecdefinition(")).toSeq
    assert(wins.nonEmpty && wins.forall(
      _.contains("windowspecdefinition(_w")),
      s"p179: a window partitioned by a data column appeared:\n$p")
    // every exchange is over the ≤B-row bin table (prefix sums, the
    // B²/B³ minimax groupings) — nothing keyed by document columns
    assert(!pf.linesIterator.exists(l =>
      l.contains("Exchange hashpartitioning") &&
        !(l.contains("(bin") || l.contains("(_w"))),
      s"p179: an exchange outside the bin table appeared:\n$p")
  }

  test("p188: always-valid monitor keeps p167's shape — no window, " +
      "user-keyed exchanges only, looks explode from one pivoted row") {
    // the running-min always-valid p is least() over the single
    // pivot row's own columns — a window here would mean the look
    // table went through a shuffle it never needs
    val p = executed("p188_always_valid")
    assert(!p.contains("Window"), s"p188: a window appeared:\n$p")
    // only the broadcast 1-row week-range table may join
    noShuffledJoin("p188", p)
    val pf = p.split("== Initial Plan ==").head
    assert(!pf.linesIterator.exists(l =>
      l.contains("Exchange hashpartitioning") && !l.contains("user_id")),
      s"p188: a non-user exchange appeared:\n$p")
  }

  test("p186/p187: dHash is a native expression; perceptual pairs ride " +
      "the chunk-pigeonhole equi-join, never an all-pairs product") {
    // p186: straight projection — the 64-bit hash is computed by the
    // codegen'd DHash64 expression per row, no join, no aggregation
    val p = executed("p186_dhash_replay")
    assert(p.contains("dhash64"),
      s"p186: native DHash64 missing from the plan:\n$p")
    assert(!p.contains("Join"), s"p186: unexpected join:\n$p")
    // p187: after the mapPartitions decode only (id, sig) longs flow;
    // candidates come from the (chunk, ckey) equi-join — a product
    // join here is the all-pairs scale killer this gate exists to ban.
    // The planted-pair readout joins broadcast (bounded id lists).
    val q = executed("p187_perceptual_neardup")
    // r15: the signature stage runs inside the (id, sig) barrier write
    // (a separate query execution — the p201 cropAnchorSigs
    // convention), so the native dHash is pinned on the sig-stage plan
    val sigPlan187 = graft.pipeline.Multimodal.withDecodedGray(
      graft.pipeline.Multimodal.withSmoothMedia(
        spark.range(2).selectExpr("id AS doc_id", "id AS seed"),
        "seed", "png", 1).select("doc_id", "media"), "media")
      .filter(org.apache.spark.sql.functions.col("gray").isNotNull)
      .select(org.apache.spark.sql.graft.VectorExpressions.dhash64(
        org.apache.spark.sql.functions.col("gray"),
        org.apache.spark.sql.functions.col("img_w"),
        org.apache.spark.sql.functions.col("img_h")).as("sig"))
      .queryExecution.executedPlan.toString
    assert(sigPlan187.contains("dhash64"),
      s"p187: native DHash64 missing from the sig plan:\n$sigPlan187")
    assert(!q.contains("CartesianProduct") &&
      !q.contains("BroadcastNestedLoopJoin"),
      s"p187: perceptual pairs fell back to a product join:\n$q")
    // the image bytes must never cross a shuffle — only signatures do
    val qf = q.split("== Initial Plan ==").head
    assert(!qf.linesIterator.exists(l =>
      l.contains("Exchange") && l.contains("media#")),
      s"p187: media bytes crossed a shuffle:\n$q")
    // p189: the end-to-end dedup composition (pairs → components →
    // canonical corpus) keeps the same guarantees — cluster labels
    // come back as a broadcastable relation, never a product join
    val r = executed("p189_perceptual_dedup")
    assert(!r.contains("CartesianProduct") &&
      !r.contains("BroadcastNestedLoopJoin"),
      s"p189: dedup composition fell back to a product join:\n$r")
    val rf = r.split("== Initial Plan ==").head
    assert(!rf.linesIterator.exists(l =>
      l.contains("Exchange") && l.contains("media#")),
      s"p189: media bytes crossed a shuffle:\n$r")
  }

  test("p201: crop anchors are native PoolGrid72/HvHash64 behind the " +
      "barrier; candidates ride the pigeonhole; the verify is the " +
      "native L1; media/pixels never shuffle") {
    val p = executed("p201_crop_robust")
    // the verify level must be the native expression, applied AFTER
    // the candidate equi-join (never to all pairs)
    assert(p.contains("longabsdiffsum"),
      s"p201: native LongAbsDiffSum verify missing from the plan:\n$p")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"p201: crop pairs fell back to a product join:\n$p")
    val pf = p.split("== Initial Plan ==").head
    assert(!pf.linesIterator.exists(l =>
      l.contains("Exchange") &&
        (l.contains("media#") || l.contains("gray#"))),
      s"p201: media bytes or pixels crossed a shuffle:\n$p")
    // the signature stage runs inside the barrier write (a separate
    // query execution, the x44 convention) — pin the native grid+hash
    // expressions on its own plan
    val sigPlan = graft.pipeline.Dedup.cropAnchorSigs(
      graft.pipeline.Multimodal.withSmoothMedia(
        spark.range(2).selectExpr("id AS doc_id", "id AS seed"),
        "seed", "png", 1).select("doc_id", "media"),
      "doc_id", "media", 2)
      .queryExecution.executedPlan.toString
    assert(sigPlan.contains("poolgrid72") && sigPlan.contains("hvhash64"),
      s"p201: native PoolGrid72/HvHash64 missing from the sig plan:\n" +
        sigPlan)
  }

  test("p203: the pigeonhole pair join's input is |distinct sigs| — " +
      "the sig-keyed pre-collapse aggregate sits under it; no product " +
      "join anywhere") {
    val p = executed("p203_exact_precollapse")
    // the representative aggregate (groupBy sig → min id) must feed
    // the exploded candidate join — THE point of the composition: e
    // exact copies cost 1 pigeonhole row, not e (and not e² candidate
    // pairs)
    assert(p.contains("keys=[sig"),
      s"p203: sig-keyed pre-collapse aggregate missing:\n$p")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"p203: a product join appeared:\n$p")
    val pf = p.split("== Initial Plan ==").head
    assert(!pf.linesIterator.exists(l =>
      l.contains("Exchange") &&
        (l.contains("media#") || l.contains("gray#"))),
      s"p203: media bytes or pixels crossed a shuffle:\n$p")
  }

  test("p204: video containment rides the pigeonhole over the packed " +
      "64-slot space — per-frame dHash native, no product join, no " +
      "media/pixels through an exchange") {
    val p = executed("p204_video_snippet")
    assert(p.contains("dhash64"),
      s"p204: native DHash64 missing from the plan:\n$p")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"p204: containment pairs fell back to a product join:\n$p")
    val pf = p.split("== Initial Plan ==").head
    assert(!pf.linesIterator.exists(l =>
      l.contains("Exchange") &&
        (l.contains("media#") || l.contains("gray#"))),
      s"p204: media bytes or pixels crossed a shuffle:\n$p")
  }

  test("x44: z-order layout — native interleave in the plan; the rank " +
      "split rides the two-phase global order, never a global window") {
    val p = executed("x44_zorder_layout")
    // the z-value is computed inside the global-order BARRIER write (a
    // separate query execution), so the gate's final plan can't show
    // it — pin the expression's codegen path on its own plan instead
    import spark.implicits._
    // (a literal source constant-folds straight to a LocalTableScan —
    // range() keeps the projection live)
    val zPlan = spark.range(2)
      .select(org.apache.spark.sql.graft.VectorExpressions
        .interleave64(
          org.apache.spark.sql.functions.col("id").cast("int"),
          org.apache.spark.sql.functions.lit(3)).as("z"))
      .queryExecution.executedPlan.toString
    assert(zPlan.contains("interleave64"),
      s"x44: native Interleave64 not in the expression plan:\n$zPlan")
    val pf = p.split("== Initial Plan ==").head
    // every window is partitioned by the stage-local _pid (the
    // withGlobalOrder two-phase rank) — a single-partition window here
    // would serialize the 100 TB sort onto one task
    assert(!pf.linesIterator.exists(l =>
      l.contains("Window") && !l.contains("_pid")),
      s"x44: a window not keyed by _pid appeared:\n$p")
    // the min/max/count scalar joins broadcast — never a shuffle of
    // the fact table against a 1-row relation
    assert(!pf.contains("CartesianProduct"),
      s"x44: scalar join fell back to a product:\n$p")
  }

  test("x46: the published plan reads only the materialized view " +
      "parquet — the base table never appears after version 0") {
    val p = executed("x46_incremental_view")
    val pf = p.split("== Initial Plan ==").head
    // every FileScan in the final plan is a stored x46_view snapshot;
    // a scan of the events table here would mean maintenance re-read
    // the base — the exact cost the gate exists to rule out at 100 TB
    val scans = pf.linesIterator.filter(_.contains("FileScan")).toSeq
    assert(scans.nonEmpty && scans.forall(_.contains("x46_view")),
      s"x46: publish read something besides the stored views:\n$p")
    assert(!pf.contains("CartesianProduct") &&
      !pf.contains("BroadcastNestedLoopJoin"),
      s"x46: a product join appeared:\n$p")
  }

  test("p198: BPE encode joins the token stream against a BROADCAST " +
      "of the trained vocab — never a shuffle of the corpus") {
    val p = executed("p198_bpe_encode")
    val pf = p.split("== Initial Plan ==").head
    assert(pf.contains("BroadcastHashJoin"),
      s"p198: vocab join is not broadcast:\n$p")
    assert(!pf.contains("SortMergeJoin") &&
      !pf.contains("CartesianProduct"),
      s"p198: corpus-side shuffle join appeared:\n$p")
  }

  test("x47: the published plan reads only the materialized view " +
      "parquet — deltas were consumed at maintenance time, from " +
      "commit artifacts") {
    val p = executed("x47_cdc_read")
    val pf = p.split("== Initial Plan ==").head
    val scans = pf.linesIterator.filter(_.contains("FileScan")).toSeq
    assert(scans.nonEmpty && scans.forall(_.contains("x47_view")),
      s"x47: publish read something besides the stored views:\n$p")
    assert(!pf.contains("CartesianProduct") &&
      !pf.contains("BroadcastNestedLoopJoin"),
      s"x47: a product join appeared:\n$p")
  }

  test("p190/p191/p193: audio + video hashes are native expressions; " +
      "pairs ride the pigeonhole equi-join; media bytes never shuffle") {
    // p190: straight projection — the codegen'd AudioHash64 per row,
    // no join, no aggregation (the p186 shape for sound)
    val p = executed("p190_audiohash_replay")
    assert(p.contains("audiohash64"),
      s"p190: native AudioHash64 missing from the plan:\n$p")
    assert(!p.contains("Join"), s"p190: unexpected join:\n$p")
    // p191: after the WAV parse only (id, sig) longs flow — a product
    // join is the all-pairs scale killer this family bans
    val q = executed("p191_audio_neardup")
    // r15: the sig stage runs inside the barrier write — pin the
    // native hash on the sig-stage plan (the p187/p201 convention)
    val sigPlan191 = graft.pipeline.Multimodal.withDecodedPcm(
      graft.pipeline.Multimodal.withSyntheticWav(
        spark.range(2).selectExpr("id AS doc_id", "id AS seed"),
        "seed", 8000, 16).select("doc_id", "media"), "media")
      .filter(org.apache.spark.sql.functions.col("pcm").isNotNull)
      .select(org.apache.spark.sql.graft.VectorExpressions.audiohash64(
        org.apache.spark.sql.functions.col("pcm")).as("sig"))
      .queryExecution.executedPlan.toString
    assert(sigPlan191.contains("audiohash64"),
      s"p191: native AudioHash64 missing from the sig plan:\n$sigPlan191")
    assert(!q.contains("CartesianProduct") &&
      !q.contains("BroadcastNestedLoopJoin"),
      s"p191: audio pairs fell back to a product join:\n$q")
    val qf = q.split("== Initial Plan ==").head
    assert(!qf.linesIterator.exists(l =>
      l.contains("Exchange") && l.contains("media#")),
      s"p191: audio bytes crossed a shuffle:\n$q")
    // p193: per-frame dHash feeds the temporal majority vote; the
    // groupBy shuffles 8 (id, fsig) longs per clip — never pixels
    // (gray#) and never the clip bytes (media#)
    val r = executed("p193_video_neardup")
    // r15: the per-frame dHash + majority vote run inside the (id,
    // sig) barrier write — pin both on the sig-stage plan (the
    // p187/p201 convention); the majority vote sits in the aggregate's
    // RESULT projection, which the physical toString elides, so it is
    // pinned on the ANALYZED logical plan (planning only).
    val sigFrames = graft.pipeline.Multimodal.withDecodedFrames(
      graft.pipeline.Multimodal.withSyntheticVideoMedia(
        spark.range(2).selectExpr("id AS doc_id", "id AS seed"),
        "seed", 1, 1, 256).select("doc_id", "media"), "media")
      .filter(org.apache.spark.sql.functions.col("gray").isNotNull)
      .select(org.apache.spark.sql.functions.col("doc_id"),
        org.apache.spark.sql.graft.VectorExpressions.dhash64(
          org.apache.spark.sql.functions.col("gray"),
          org.apache.spark.sql.functions.col("img_w"),
          org.apache.spark.sql.functions.col("img_h")).as("fsig"))
      .groupBy("doc_id")
      .agg(org.apache.spark.sql.graft.VectorExpressions.majorityhash64(
        org.apache.spark.sql.functions.collect_list(
          org.apache.spark.sql.functions.col("fsig"))).as("sig"))
    val sigPlan193 = sigFrames.queryExecution.executedPlan.toString
    assert(sigPlan193.contains("dhash64"),
      s"p193: native DHash64 missing from the sig plan:\n$sigPlan193")
    val rl = sigFrames.queryExecution.analyzed.toString
    assert(rl.contains("majorityhash64"),
      s"p193: native MajorityHash64 missing from the sig plan:\n$rl")
    assert(!r.contains("CartesianProduct") &&
      !r.contains("BroadcastNestedLoopJoin"),
      s"p193: video pairs fell back to a product join:\n$r")
    val rf = r.split("== Initial Plan ==").head
    assert(!rf.linesIterator.exists(l =>
      l.contains("Exchange") &&
        (l.contains("media#") || l.contains("gray#"))),
      s"p193: clip bytes or pixels crossed a shuffle:\n$r")
    // p195: cross-modal pairs ride the SAME pigeonhole equi-join over
    // the packed sub-id space — never a product, never media/pixels
    // through an exchange
    val x = executed("p195_frame_grab")
    assert(x.contains("dhash64"),
      s"p195: native DHash64 missing from the plan:\n$x")
    assert(!x.contains("CartesianProduct") &&
      !x.contains("BroadcastNestedLoopJoin"),
      s"p195: cross-modal pairs fell back to a product join:\n$x")
    val xf = x.split("== Initial Plan ==").head
    assert(!xf.linesIterator.exists(l =>
      l.contains("Exchange") &&
        (l.contains("media#") || l.contains("gray#"))),
      s"p195: media bytes or pixels crossed a shuffle:\n$x")
  }
}
