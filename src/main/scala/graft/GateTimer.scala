package graft

/** Generic gate timer for scale validation: runs named SparkEntry
  * queries against a given table dir (e.g. a ScaleGen 10× output) and
  * prints one JSON line of per-gate seconds. Complements Bench (fixed
  * entry list at the driver's SF) by letting ANY gate be timed at ANY
  * scale — the tool behind SCALE_VALIDATION.md's 10× columns.
  *
  * Usage: runMain graft.GateTimer <dir> <name1,name2,...> [runs]
  * Names are prefixes (p137 matches p137_weighted_sample). Reports the
  * min over `runs` executions (default 2).
  */
object GateTimer {
  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val prefixes = args(1).split(",").toSeq
    val runs = args.lift(2).map(_.toInt).getOrElse(2)
    val spark = LocalSession(
      s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")}]", "32", "WARN")
    val selected = SparkEntry.queries.filter { case (n, _) =>
      prefixes.exists(n.startsWith) }.toSeq.sortBy(_._1)
    if (selected.isEmpty) {
      System.err.println(s"no gate matches prefixes: ${prefixes.mkString(",")}")
      spark.stop(); sys.exit(2)
    }
    val fields = selected.map { case (name, fn) =>
      var best = Double.MaxValue
      var rows = -1L
      for (_ <- 0 until runs) {
        val t0 = System.nanoTime()
        // materialize EVERY column through the noop sink (the Bench
        // convention): a count() here would let Catalyst prune the
        // per-row expressions the gate exists to measure (column
        // pruning drops scoring projections, EliminateSorts drops
        // ordering), silently under-timing projection-shaped gates
        // one scratch scope per run: its barriers and staged dirs are
        // gone once the run's rows are counted
        try Scratch.scoped(spark) {
          val df = fn(spark, dir)
          df.write.format("noop").mode("overwrite").save()
          best = best.min((System.nanoTime() - t0) / 1e9)
          if (rows < 0) rows = df.count()
        } catch {
          // a gate that fails at this scale must not kill the sweep —
          // record it loudly (sec stays MaxValue → reported -1) and
          // move on (the r11 full-100x sweep died on one gate)
          case e: Throwable =>
            System.err.println(
              s"[gatetimer] $name FAILED: ${e.getMessage}")
        }
      }
      if (best == Double.MaxValue) s""""$name":{"sec":-1,"rows":-1}"""
      else f""""$name":{"sec":$best%.2f,"rows":$rows}"""
    }
    println(s"""{"dir":"$dir",${fields.mkString(",")}}""")
    spark.stop()
  }
}
