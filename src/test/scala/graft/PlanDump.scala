package graft

/** Dev tool (not a spec): dump the AQE-final executed plans of named
  * gates to a file for shape inspection — the scratch behind the
  * PlanSpec pins. Usage:
  *   Test/runMain graft.PlanDump [-d sfDir] [-o outFile] [-f] name1 …
  * Defaults: sfDir = $SPARK_GRAFT_SF_DIR or /root/testdata/sf0.001,
  * outFile = java.io.tmpdir/plans.txt. With -f, dumps the
  * explain("formatted") text (the plans/rNN evidence-file format)
  * instead of executedPlan.toString.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    var sf = sys.env.getOrElse("SPARK_GRAFT_SF_DIR",
      "/root/testdata/sf0.001")
    var out = new java.io.File(
      sys.props.getOrElse("java.io.tmpdir", "/tmp"),
      "plans.txt").toString
    val names = scala.collection.mutable.ListBuffer[String]()
    var formatted = false
    var i = 0
    while (i < args.length) {
      args(i) match {
        case "-d" => sf = args(i + 1); i += 2
        case "-o" => out = args(i + 1); i += 2
        case "-f" => formatted = true; i += 1
        case n => names += n; i += 1
      }
    }
    require(names.nonEmpty, "usage: PlanDump [-d sfDir] [-o out] names…")
    val spark = LocalSession("local[8]", "8", "WARN")
    val w = new java.io.PrintWriter(out)
    names.foreach { name =>
      val df = SparkEntry.queries(name)(spark, sf)
      w.println(s"==== $name ====")
      if (formatted)
        // pre-execution formatted plan — the plans/rNN evidence-file
        // style (construction side effects still run; the readout
        // query itself is not executed)
        w.println(df.queryExecution.explainString(
          org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted")))
      else {
        df.collect()
        w.println(df.queryExecution.executedPlan.toString)
      }
    }
    w.close()
    println(s"wrote ${names.size} plans to $out")
    spark.stop()
  }
}
