package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Edit-distance string-similarity join — the fuzzy-matching operator a
  * training-data pipeline needs for entity resolution and typo-cluster
  * dedup over short strings (titles, names, URLs).
  *
  * Candidate generation is the PassJoin segment pigeonhole (Li, Deng,
  * Feng — ICDE 2011 family of partition-based ed-joins, public
  * literature): partition every string into d+1 contiguous segments; if
  * ed(r, s) <= d with |s| <= |r|, then r contains a contiguous substring
  * equal to SOME segment of s, starting within ±d of that segment's
  * position (each of the ≤ d edits shifts positions by at most one, and
  * d+1 segments cannot all contain an edit). So:
  *
  *   - index side: each string emits its d+1 (len, seg_idx, segment)
  *     keys — O(d) keys per string;
  *   - probe side: each string emits, for every candidate partner
  *     length l' in [len-d, len] and every segment of l', the
  *     substrings at start positions within ±d of the segment start —
  *     O(d² · (2d+1)) keys per string, constant for fixed d;
  *   - candidates are the EQUI-join of probe keys against index keys —
  *     the same distributed shape as every other dedup family member
  *     (banded LSH, simhash pigeonhole): no similarity scan, documents
  *     only meet in a shuffle partition when a segment key collides.
  *
  * Verification is exact `levenshtein` on the candidate pairs only.
  * Unlike the LSH families this candidate stage has GUARANTEED recall
  * (the pigeonhole is a theorem, not a probability), which is why it is
  * the right tool at small d even though its key fan-out grows with d.
  *
  * Scale notes: keys carry only (id, hashed segment), never the corpus
  * text; the verify join fetches strings by id afterwards. Strings
  * with fewer than d+1 characters cannot carve d+1 non-empty segments
  * and emit no PassJoin keys; their pairs are rescued by a direct
  * length-bucketed join (see [[candidates]]) — a partner of a ≤d-char
  * string is itself ≤2d chars, so after pre-collapse both length
  * classes are bounded by the alphabet, never by the corpus.
  * Byte-identical strings — the hot-key case, since equal strings
  * collide on EVERY segment — are collapsed to one representative
  * before keying and expanded afterwards, exactly like the exact-dup
  * pre-collapse in [[Dedup]]: the in-bucket join is bounded by DISTINCT
  * string counts, and a million-copy title cluster contributes one row
  * to the candidate join instead of a million.
  *
  * Unicode contract: segment boundaries (native PassJoinKeys) measure
  * UTF-16 code units while the exact verify counts code points, so a
  * single astral-plane (non-BMP) edit can shift a string across the
  * probed partner-length window and miss a true pair. Inputs are
  * assumed BMP-only (every fixture and gate here is); segmenting by
  * code points is the lift if that contract ever breaks.
  */
object Fuzzy {

  /** PassJoin candidates + exact verify over a (id, s) table that is
    * assumed duplicate-light (the pre-collapsed representative set).
    * Key generation is the native codegen'd [[org.apache.spark.sql
    * .graft.PassJoinKeys]] expression: each (partner_len, seg_idx,
    * piece) 3-tuple is hashed to one long, so the candidate shuffle
    * carries (id, long) only — a hash collision can only add a
    * candidate, which the exact verify removes.
    */
  private[pipeline] def rawPairs(base: DataFrame, d: Int): DataFrame = {
    val strs = base.select(col("id"), col("s"))
    candidates(base, d)
      .join(strs.select(col("id").as("id_a"), col("s").as("s_a")), Seq("id_a"))
      .join(strs.select(col("id").as("id_b"), col("s").as("s_b")), Seq("id_b"))
      .withColumn("dist", levenshtein(col("s_a"), col("s_b")))
      .filter(col("dist") <= d)
      .select("id_a", "id_b", "dist")
  }

  /** Candidate pairs only (no verify) — exposed for the boundedness
    * spec, which counts these under a planted mega-cluster.
    */
  private[pipeline] def candidates(base: DataFrame, d: Int): DataFrame = {
    import org.apache.spark.sql.graft.VectorExpressions.passJoinKeys
    val indexed = base.select(col("id").as("id_s"),
      explode(passJoinKeys(col("s"), d, probe = false)).as("key"))
    val probes = base.select(col("id").as("id_r"),
      explode(passJoinKeys(col("s"), d, probe = true)).as("key"))
    // equi-join on the hashed key; orient shorter-indexed vs
    // longer-probe (equal lengths pair both ways → distinct)
    val segPairs = probes.join(indexed, Seq("key"))
      .filter(col("id_r") =!= col("id_s"))
      .select(least(col("id_r"), col("id_s")).as("id_a"),
        greatest(col("id_r"), col("id_s")).as("id_b"))
    // Short-string rescue (ADVICE r5): a string with ≤ d chars cannot
    // carve d+1 non-empty segments and emits no keys above, so ALL its
    // pairs would be dropped. Any true partner differs by ≤ d chars of
    // length, i.e. is ≤ 2d chars — both length classes are bounded by
    // the alphabet (|Σ|^d resp. |Σ|^2d DISTINCT strings, and the caller
    // pre-collapses exact copies), so a direct per-length-bucket join is
    // constant-bounded at any corpus size. Shorts probe every partner
    // length within ±d; partners index their own length.
    val shortProbe = base.filter(length(col("s")) <= d)
      .select(col("id").as("id_r"), explode(sequence(
        greatest(length(col("s")) - d, lit(0)),
        length(col("s")) + d)).as("lb"))
    val shortIndex = base.filter(length(col("s")) <= 2 * d)
      .select(col("id").as("id_s"), length(col("s")).as("lb"))
    val shortPairs = shortProbe.join(shortIndex, Seq("lb"))
      .filter(col("id_r") =!= col("id_s"))
      .select(least(col("id_r"), col("id_s")).as("id_a"),
        greatest(col("id_r"), col("id_s")).as("id_b"))
    segPairs.unionAll(shortPairs).distinct()
  }

  /** All unordered pairs (id_a < id_b) with levenshtein(s_a, s_b) <=
    * maxDist, via exact-dup pre-collapse around the PassJoin join.
    *
    * Semantics are identical to keying every copy: members of an
    * identical-string cluster share every segment key, so candidate and
    * verify decisions for cross-cluster pairs match the uncollapsed
    * plan, and intra-cluster pairs have distance exactly 0. The dup
    * index materializes through the same temp-parquet barrier as the
    * LSH family so its size stats drive the expansion-join strategy,
    * and a dup-free corpus skips the collapse machinery entirely via
    * the footer-count probe.
    */
  def editDistancePairs(df: DataFrame, idCol: String, strCol: String,
      maxDist: Int = 2): DataFrame = {
    val d = maxDist
    val base = df.select(col(idCol).as("id"), col(strCol).as("s"))
    // collapse engages for every multi-member cluster (see the measured
    // rationale on Dedup.CollapseThreshold: verify cost scales with
    // copies², so leaving small clusters to the key path loses at scale).
    // Like Dedup.lshCollapsedPairs, only the tiny CLUSTER index (one row
    // per multi-member string) is materialized — one aggregate job whose
    // output IS the barrier write; membership is re-derived on demand as
    // a join against it, planned from the index's parquet stats.
    val (dupClustersRaw, dupDir) = Dedup.materializeBarrierAt(
      base.groupBy("s")
        .agg(min(col("id")).as("rep"), count(lit(1)).as("n"))
        .filter(col("n") >= Dedup.CollapseThreshold)
        .select("s", "rep", "n"),
      "fuzzy-dups")
    val nClusters = Dedup.barrierRowCount(df.sparkSession, dupDir)
    if (nClusters == 0) {
      graft.Scratch.release(dupDir)
      return rawPairs(base, d)
    }
    // broadcast-shape the membership view from footer metadata (see
    // Dedup.lshCollapsedPairs: membership ≤ clusters × max(n), zero
    // jobs; above the bound stats/AQE planning takes over)
    val maxN = Dedup.barrierColumnMaxLong(df.sparkSession, dupDir, "n")
      .getOrElse(Long.MaxValue)
    val small = maxN > 0 &&
      nClusters <= Dedup.MemberBroadcastBound / maxN
    def hinted(df: DataFrame): DataFrame = if (small) broadcast(df) else df
    val dupClusters = hinted(dupClustersRaw.select("s", "rep"))
    val dupMembers = hinted(base.join(dupClusters, Seq("s"))
      .select(col("id"), col("rep")))
    // representatives: strings with no multi-member cluster, or the
    // member that IS the representative — one left join, no anti-join
    val repPairs = rawPairs(
      base.join(dupClusters.withColumnRenamed("rep", "dup_rep"),
          Seq("s"), "left")
        .filter(col("dup_rep").isNull || col("id") === col("dup_rep"))
        .drop("dup_rep"),
      d)
    // cross-cluster: expanded members inherit their representatives'
    // verified distance (identical strings ⇒ identical value); a
    // singleton rep is absent from dupMembers and keeps its own id
    val cross = repPairs
      .join(dupMembers.select(col("rep").as("id_a"), col("id").as("ma")),
        Seq("id_a"), "left")
      .join(dupMembers.select(col("rep").as("id_b"), col("id").as("mb")),
        Seq("id_b"), "left")
      .select(
        least(coalesce(col("ma"), col("id_a")),
          coalesce(col("mb"), col("id_b"))).as("id_a"),
        greatest(coalesce(col("ma"), col("id_a")),
          coalesce(col("mb"), col("id_b"))).as("id_b"),
        col("dist"))
    // intra-cluster: identical strings, distance 0 — always <= maxDist
    val intra = dupMembers.select(col("rep"), col("id").as("id_a"))
      .join(dupMembers.select(col("rep"), col("id").as("id_b")), Seq("rep"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"), lit(0).as("dist"))
    cross.unionAll(intra)
  }

  /** Sorted-neighborhood record linkage (Hernández & Stolfo SIGMOD'95):
    * sort the corpus by a lexicographic blocking key (a text prefix —
    * typo'd/suffixed variants of a record sort adjacent), slide a
    * window of `w` over the GLOBAL order, and verify each in-window
    * pair by word-set Jaccard. The complement to hash blocking
    * ([[Dedup]]'s LSH families) and segment blocking
    * ([[editDistancePairs]]): sort blocking catches variants that
    * share a prefix but differ enough in token content that banding
    * misses them, at exactly n·w candidate pairs.
    *
    * Distributed shape: the global position comes from
    * [[Corpus.withGlobalOrder]] (range partition + per-partition
    * offsets — no single-partition window at any scale), and the
    * neighborhood expansion is an EQUI-join on pos+k (k ≤ w), so
    * candidates are key-partitioned like every other family. Verify
    * intersects sorted token-hash sets (native expression, the
    * p02/p04 2^-64 hash-equality argument), never strings.
    */
  def sortedNeighborhoodPairs(df: DataFrame, idCol: String,
      textCol: String, keyLen: Int = 32, w: Int = 3,
      threshold: Double = 0.5): DataFrame = {
    import org.apache.spark.sql.graft.VectorExpressions
    val keyed = df.select(col(idCol).as("id"), col(textCol).as("t"))
      .withColumn("bk", substring(col("t"), 1, keyLen))
      .withColumn("sh", VectorExpressions.shingleHashes(col("t"), 1))
      .select("id", "bk", "sh")
    val ordered = Corpus.withGlobalOrder(keyed,
        Seq(col("bk"), col("id")), lit(1L))
      .select(col("id"), col("sh"), col("pos"))
    val lhs = ordered
      .select(col("id").as("ida"), col("sh").as("s_a"), col("pos"))
      .withColumn("k", explode(sequence(lit(1L), lit(w.toLong))))
      .select(col("ida"), col("s_a"), (col("pos") + col("k")).as("pos_b"))
    val rhs = ordered.select(col("id").as("idb"), col("sh").as("s_b"),
      col("pos").as("pos_b"))
    lhs.join(rhs, "pos_b")
      .withColumn("jac", VectorExpressions.sortedJaccardAtLeast(
        col("s_a"), col("s_b"), threshold))
      .filter(col("jac") >= threshold)
      .select(least(col("ida"), col("idb")).as("id_a"),
        greatest(col("ida"), col("idb")).as("id_b"),
        round(col("jac"), 6).as("jaccard"))
      .orderBy("id_a", "id_b")
  }
}
