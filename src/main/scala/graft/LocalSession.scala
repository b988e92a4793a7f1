package graft

import org.apache.spark.sql.SparkSession

/** The one local-session builder behind graft's mains, the dsq CLI and
  * the specs: `master`, `partitions` shuffle partitions, the UI off, UTC
  * session time and the graft SQL extensions, plus any `extra` confs;
  * the log level is set once the session exists.
  */
object LocalSession {
  def apply(master: String, partitions: String, logLevel: String,
      extra: (String, String)*): SparkSession = {
    val builder = SparkSession.builder()
      .master(master)
      .config("spark.sql.shuffle.partitions", partitions)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions",
        "org.apache.spark.sql.graft.GraftExtensions")
    extra.foreach { case (k, v) => builder.config(k, v) }
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel(logLevel)
    spark
  }
}
