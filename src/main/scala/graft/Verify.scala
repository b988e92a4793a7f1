package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args.take(2)
    // optional 3rd arg: comma-separated query-name prefixes (local iteration)
    val only: Option[Set[String]] =
      if (args.length > 2) Some(args(2).split(",").toSet) else None
    def selected(name: String): Boolean =
      only.forall(_.exists(name.startsWith))
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = LocalSession(s"local[$cpus]", cpus, "WARN")
    new java.io.File(outDir).mkdirs()
    // A query that throws must be LOUD, not just absent: in round 6 the
    // regenerated events.parquet (µs → TIMESTAMP_NTZ) broke six queries and
    // their rows silently vanished from CORRECTNESS instead of going red.
    // Failures still don't abort the dump (one bad query must not zero the
    // round), but they are listed in _failed.json next to the results.
    // One scratch scope for the whole dump: p25/p38/p51 share one
    // near-dup graph, and nothing of it is left once the dump is written.
    val failed = scala.collection.mutable.ListBuffer[String]()
    Scratch.scoped(spark) {
      SparkEntry.queries.filter(kv => selected(kv._1)).foreach { case (name, fn) =>
        try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        catch { case e: Throwable =>
          failed += name
          System.err.println(s"[verify] $name FAILED: ${e.getMessage}")
        }
      }
    }
    Files.writeString(Paths.get(s"$outDir/_failed.json"),
      failed.map(n => "\"" + n + "\"").mkString("[", ",", "]"))
    if (failed.nonEmpty)
      System.err.println(
        s"[verify] ${failed.size} queries FAILED: ${failed.mkString(", ")}")
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in the SQL would otherwise make a json.load of this
    // file fail.
    def q(s: String): String = graft.dsq.Output.renderString(s)
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
