package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** One-off 10× corpus generator for the sf1 validation story (VERDICT r4
  * task 8): the driver ships sf0.1 as the largest scale factor, so the
  * skew/barrier claims in the dedup family are validated on a generated
  * 10× documents/embeddings corpus instead.
  *
  * Scaling is NOT plain replication — that would only create exact-dup
  * clusters. Each of the 10 copies k:
  *   - k == 0: the original rows, ids unchanged;
  *   - k odd:  byte-exact copies under new ids → 10-copy exact-dup
  *     clusters on half the corpus, the hot-bucket shape the exact-dup
  *     pre-collapse exists for;
  *   - k even (k>0): near-dup mutants — a per-copy marker token is
  *     appended, so shingle Jaccard stays high (long docs) but content
  *     digests differ → the LSH verify stage keeps real work.
  * Embeddings replicate with a deterministic per-copy jitter on one
  * coordinate (keeps cosine ≈ 1 → near-dup candidates survive banding)
  * plus offset ids. All other sf0.1 tables are copied through unchanged
  * so the full 30-entry bench runs against the output dir.
  *
  * Usage: runMain graft.ScaleGen [srcDir] [outDir] [factor]
  */
object ScaleGen {
  def main(args: Array[String]): Unit = {
    val src = args.headOption.getOrElse("/root/testdata/sf0.1")
    val out = args.lift(1).getOrElse("/tmp/graft_sf1")
    val factor = args.lift(2).map(_.toInt).getOrElse(10)
    val spark = SparkSession.builder()
      .master(s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")}]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val docs = Tables.load(spark, src, "documents")
    val nDocs = docs.count()
    // shift quantum = max(id)+1, matching the orderkey/event_id handling
    // below — a row-count quantum would collide copies with originals if
    // ids were ever sparse or non-zero-based (ADVICE r5)
    val docQuantum = docs.agg(max("doc_id")).head().getLong(0) + 1
    val docsScaled = (0 until factor).map { k =>
      val shifted = docs
        .withColumn("doc_id", col("doc_id") + lit(k * docQuantum))
      if (k == 0) docs
      else if (k % 2 == 1) shifted // byte-exact copy: exact-dup cluster member
      else shifted // near-dup mutant: marker keeps Jaccard high, digest differs
        .withColumn("text", concat(col("text"), lit(s" copymark$k")))
        .withColumn("n_chars", col("n_chars") + lit(s" copymark$k".length))
    }.reduce(_ unionAll _)

    val embs = Tables.load(spark, src, "embeddings")
    val nEmbs = embs.count()
    val embQuantum = embs.agg(max("vec_id")).head().getLong(0) + 1
    val embsScaled = (0 until factor).map { k =>
      if (k == 0) embs
      else embs
        .withColumn("vec_id", col("vec_id") + lit(k * embQuantum))
        // jitter coordinate 0 by k*1e-4: cosine vs the original stays
        // ≈ 1, so scaled corpora keep genuine near-dup structure
        .withColumn("embedding",
          transform(col("embedding"), (x, i) =>
            when(i === 0, x + lit(k * 1e-4f)).otherwise(x)))
    }.reduce(_ unionAll _)

    new java.io.File(out).mkdirs()
    docsScaled.repartition(32)
      .write.mode("overwrite").parquet(s"$out/documents.parquet")
    embsScaled.repartition(32)
      .write.mode("overwrite").parquet(s"$out/embeddings.parquet")

    // scale the transactional tables too, preserving join integrity:
    // l_orderkey/o_orderkey shift together (lineitem→orders joins keep
    // matching), event_id shifts (unique ids for window tiebreaks),
    // customer/supplier/part/nation/region stay — dimensions don't grow
    // 10× when facts do, which is exactly the broadcast-join story
    def shifted(name: String, keyCol: String, quantum: Long): Unit = {
      val src0 = Tables.load(spark, src, name)
      val scaled = (0 until factor).map { k =>
        src0.withColumn(keyCol, col(keyCol) + lit(k * quantum))
      }.reduce(_ unionAll _)
      scaled.repartition(32)
        .write.mode("overwrite").parquet(s"$out/$name.parquet")
    }
    // ONE shift quantum shared by both sides of the orderkey join —
    // independently-derived maxes could misalign the copies
    val orderQuantum = Tables.load(spark, src, "orders")
      .agg(max("o_orderkey")).head().getLong(0) + 1
    shifted("lineitem", "l_orderkey", orderQuantum)
    shifted("orders", "o_orderkey", orderQuantum)
    // events must land as a single FILE named events.parquet — the
    // streaming source globs for that exact file name, and a directory
    // of part files would silently stream zero rows
    val eventQuantum = Tables.load(spark, src, "events")
      .agg(max("event_id")).head().getLong(0) + 1
    val ev0 = Tables.load(spark, src, "events")
    val evScaled = (0 until factor).map { k =>
      ev0.withColumn("event_id", col("event_id") + lit(k * eventQuantum))
    }.reduce(_ unionAll _)
    val evTmp = s"$out/_events_tmp"
    evScaled.coalesce(1).write.mode("overwrite").parquet(evTmp)
    Scratch.rmTree(new java.io.File(out, "events.parquet")) // stale file OR dir
    val partStream = java.nio.file.Files.list(java.nio.file.Paths.get(evTmp))
    var moved = false
    try {
      val part = partStream.iterator()
      while (part.hasNext && !moved) {
        val f = part.next()
        if (f.getFileName.toString.endsWith(".parquet")) {
          java.nio.file.Files.move(f,
            java.nio.file.Paths.get(out, "events.parquet"))
          moved = true
        }
      }
    } finally partStream.close()
    require(moved, "no part file produced for events")
    Scratch.rmTree(new java.io.File(evTmp))

    // pass the remaining tables through untouched (hard copy, not
    // symlink: the bench keys its ingest fixtures on lineitem mtime)
    for (t <- Seq("region", "nation", "customer", "supplier", "part")) {
      val from = java.nio.file.Paths.get(src, s"$t.parquet")
      val to = java.nio.file.Paths.get(out, s"$t.parquet")
      if (java.nio.file.Files.exists(from) &&
          !java.nio.file.Files.exists(to)) {
        if (java.nio.file.Files.isDirectory(from)) {
          java.nio.file.Files.walk(from).forEach { p =>
            val dst = to.resolve(from.relativize(p))
            if (java.nio.file.Files.isDirectory(p))
              java.nio.file.Files.createDirectories(dst)
            else java.nio.file.Files.copy(p, dst)
          }
        } else java.nio.file.Files.copy(from, to)
      }
    }
    println(s"""{"scaled":"$out","factor":$factor,"docs":${nDocs * factor},"embs":${nEmbs * factor}}""")
    spark.stop()
  }
}
