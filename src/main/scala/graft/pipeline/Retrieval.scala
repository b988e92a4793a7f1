package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Sparse lexical retrieval + retrieval-adjacent mining operators for the
  * training-data tier (reference scope: none — the dsq reference is a
  * batch SQL CLI, /root/reference/README.md; this extends SURVEY §2.7's
  * LLM-pipeline operators with the retrieval primitives a data-curation
  * stack needs: BM25 scoring for query-based corpus audit, and
  * hard-negative mining for contrastive training sets).
  *
  * Scale design: BM25 is the inverted-index pattern end-to-end — the
  * postings table is the only large intermediate, every join is keyed by
  * term, the query side is tiny and broadcast, and the final top-k runs
  * through the bounded-heap TopKPairs aggregate (≤ k rows per query per
  * partition cross the shuffle, no per-query sort of the corpus). At
  * 100 TB the postings build is a single explode + partial-aggregated
  * groupBy, and scoring touches only postings whose term appears in some
  * query — the term-keyed semi-join prunes the corpus scan the same way
  * p24's contamination check does.
  */
object Retrieval {

  import TextAnalysis.tokens

  /** Per-document postings: one row per (id, term, tf), plus doc length
    * in tokens. Lowercased whitespace tokenization (the p81 convention).
    */
  private def postings(docs: DataFrame, idCol: String,
      textCol: String): DataFrame =
    docs.select(col(idCol).as("id"), explode(tokens(lower(col(textCol))))
        .as("term"))
      .groupBy("id", "term").agg(count(lit(1)).as("tf"))

  /** Okapi BM25 top-k retrieval: score = Σ_t idf(t) · tf·(k1+1) /
    * (tf + k1·(1 − b + b·dl/avgdl)), idf = ln(1 + (N − df + ½)/(df + ½))
    * (the always-positive BM25+ idf). Scores are rounded to 6 decimals
    * before ranking (the p81 float-portability rule) and ties break on
    * doc id, so the top-k cut is deterministic and engine-portable.
    *
    * `queries`: (qid, qtext). Query terms are the DISTINCT tokens of
    * `qtext` — set semantics, each matching term scored once.
    *
    * Distributed shape: postings groupBy (term-keyed, partial-agg); df
    * groupBy (term-keyed); the scalar N/avgdl ride a one-row broadcast
    * crossJoin (no collect); query terms broadcast into the postings
    * join so the corpus-side shuffle carries only matching terms; final
    * per-query top-k is the bounded-heap aggregate, never a window sort.
    */
  /** Per-(query, doc) BM25 scores — the relation under [[bm25TopK]]'s
    * rank cut. `statsFrom` supplies the corpus statistics (df, N,
    * avgdl): by default the scored docs themselves; the streaming
    * router (s16) passes the static corpus snapshot so per-batch
    * scoring is stateless and batch-order-independent.
    */
  def bm25Scores(docs: DataFrame, queries: DataFrame,
      statsFrom: DataFrame = null,
      k1: Double = 1.2, b: Double = 0.75,
      idCol: String = "doc_id", textCol: String = "text",
      qidCol: String = "qid", qtextCol: String = "qtext"): DataFrame =
    bm25ScoresAgainst(docs, queries,
      bm25Stats(Option(statsFrom).getOrElse(docs), idCol, textCol),
      k1, b, idCol, textCol, qidCol, qtextCol)

  /** Corpus statistics table for BM25: one row per term — (term, df,
    * n_docs, total_tokens). The "one-off stats job" of the streaming
    * router: materialize this once (it's a narrow vocab-sized table),
    * then score any number of batches against it with
    * [[bm25ScoresAgainst]] — no per-batch corpus scan. N counts ALL
    * docs (empty docs have no postings but are documents), total
    * tokens over the same denominator — both exact-int.
    */
  def bm25Stats(statsDocs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    val statsPost = postings(statsDocs, idCol, textCol)
    statsPost.groupBy("term").agg(count(lit(1)).as("df"))
      .crossJoin(broadcast(statsDocs.agg(count(lit(1)).as("n_docs"))
        .crossJoin(statsPost.agg(sum("tf").as("total_tokens")))))
  }

  /** One-pass per-term stats — (term, df, toks) — the thing the stats
    * JOB materializes: unlike [[bm25Stats]] (whose plan re-derives the
    * corpus postings for the total-tokens scalar), everything
    * corpus-wide is recoverable from THIS vocab-sized table plus a
    * metadata-cheap doc count: total_tokens = Σ toks. See
    * [[bm25StatsFromTerms]] for the reassembly.
    */
  def bm25TermStats(statsDocs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame =
    postings(statsDocs, idCol, textCol)
      .groupBy("term").agg(count(lit(1)).as("df"), sum("tf").as("toks"))

  /** Reassemble the [[bm25ScoresAgainst]] stats shape from a persisted
    * [[bm25TermStats]] table + the corpus doc count (empty docs carry
    * no postings, so N must be supplied, not derived). Both inputs are
    * vocab-sized or scalar — no corpus scan.
    */
  def bm25StatsFromTerms(termStats: DataFrame, nDocs: Long): DataFrame =
    termStats.select(col("term"), col("df"))
      .crossJoin(broadcast(
        termStats.agg(sum("toks").as("total_tokens"))
          .withColumn("n_docs", lit(nDocs))))

  /** BM25 scoring of `docs` against a PRECOMPUTED stats table (from
    * [[bm25Stats]], possibly persisted and read back): per-doc length
    * comes from the scored docs themselves (a per-doc property), every
    * corpus-wide quantity from the stats table — so scoring a stream's
    * micro-batch is stateless and never rescans the reference corpus.
    */
  def bm25ScoresAgainst(docs: DataFrame, queries: DataFrame,
      stats: DataFrame,
      k1: Double = 1.2, b: Double = 0.75,
      idCol: String = "doc_id", textCol: String = "text",
      qidCol: String = "qid", qtextCol: String = "qtext"): DataFrame = {
    val post = postings(docs, idCol, textCol)
    val dl = post.groupBy("id").agg(sum("tf").as("dl"))
    val qTerms = queries
      .select(col(qidCol).as("qid"),
        explode(tokens(lower(col(qtextCol)))).as("term"))
      .distinct()
    post
      .join(broadcast(qTerms), Seq("term"))
      .join(stats, Seq("term"))
      .join(dl, Seq("id"))
      .withColumn("avgdl",
        col("total_tokens").cast("double") / col("n_docs").cast("double"))
      .withColumn("idf",
        log(lit(1.0) + (col("n_docs").cast("double") - col("df") + 0.5) /
          (col("df").cast("double") + 0.5)))
      .withColumn("w",
        col("idf") * col("tf").cast("double") * (k1 + 1.0) /
          (col("tf").cast("double") +
            lit(k1) * (lit(1.0 - b) + lit(b) * col("dl").cast("double") /
              col("avgdl"))))
      .groupBy("qid", "id")
      .agg(round(sum("w"), 6).as("score"))
      .select(col("qid"), col("id").as(idCol), col("score"))
  }

  def bm25TopK(docs: DataFrame, queries: DataFrame, k: Int = 10,
      k1: Double = 1.2, b: Double = 0.75,
      idCol: String = "doc_id", textCol: String = "text",
      qidCol: String = "qid", qtextCol: String = "qtext"): DataFrame =
    Similarity.rankTopK(
      bm25Scores(docs, queries, null, k1, b, idCol, textCol, qidCol,
        qtextCol),
      k, "qid", idCol)

  /** Retrieval-quality metrics (binary relevance): per query, recall@k,
    * MRR@k, and nDCG@k of a predicted ranking against a gold relevant
    * set. The offline-eval harness every retrieval/dedup index needs —
    * run it per release to detect ranking drift (the p07/p08 recall
    * gates are the ANN special case; this is the general scorer).
    *
    * Determinism: hits/first-hit/rank arithmetic is exact-integer; the
    * DCG sum (≤ k terms of 1/log2(rank+1)) and the final ratios are
    * rounded to 6 decimals (the p81 float-portability rule).
    *
    * Distributed shape: `pred` is ≤ k rows per query and `gold` is the
    * (small) relevant set — the join is qid+id-keyed and every
    * aggregate partial-combines; the metrics relation is bounded by
    * #queries, never corpus-sized. IDCG is computed inline with a
    * higher-order fold over sequence(1, min(k, n_gold)) — no driver
    * loop, no lookup-table join.
    */
  def rankingMetrics(pred: DataFrame, gold: DataFrame, k: Int,
      qidCol: String = "qid", idCol: String = "doc_id",
      rankCol: String = "rank"): DataFrame = {
    val goldN = gold.groupBy(qidCol).agg(count(lit(1)).as("n_gold"))
    val hits = pred.filter(col(rankCol) <= k)
      .join(gold, Seq(qidCol, idCol))
      .groupBy(qidCol)
      .agg(count(lit(1)).as("hits"),
        min(col(rankCol)).as("first_hit"),
        sum(lit(1.0) / log2(col(rankCol).cast("double") + 1.0)).as("dcg"))
    val idcg = aggregate(
      sequence(lit(1), least(lit(k), col("n_gold")).cast("int")),
      lit(0.0), (acc, r) => acc + lit(1.0) / log2(r.cast("double") + 1.0))
    goldN.join(hits, Seq(qidCol), "left")
      .select(col(qidCol),
        col("n_gold").cast("long").as("n_gold"),
        coalesce(col("hits"), lit(0L)).cast("long").as("hits"),
        round(coalesce(col("hits"), lit(0L)).cast("double") /
          col("n_gold").cast("double"), 6).as("recall"),
        round(coalesce(lit(1.0) / col("first_hit").cast("double"),
          lit(0.0)), 6).as("mrr"),
        round(coalesce(col("dcg"), lit(0.0)) / idcg, 6).as("ndcg"))
  }

  /** Gold relevant set by query-term containment: docs holding at least
    * `num`/`den` of the query's DISTINCT terms (integer cross-multiply —
    * no float threshold, so 24-of-30 at 4/5 can't fall to a 0.8·30 =
    * 24.000000000000004 binary-fraction artifact). The query's source
    * doc always qualifies at containment 1, planted dup-cluster copies
    * follow it, so gold sets are non-degenerate on the test corpus.
    * Same inverted-index shape as BM25: postings join broadcast query
    * terms, count matched terms per (qid, doc), threshold against the
    * broadcast per-query term count.
    */
  def termContainmentGold(docs: DataFrame, queries: DataFrame,
      num: Int = 4, den: Int = 5,
      idCol: String = "doc_id", textCol: String = "text",
      qidCol: String = "qid", qtextCol: String = "qtext"): DataFrame = {
    val qTerms = queries
      .select(col(qidCol).as("qid"),
        explode(tokens(lower(col(qtextCol)))).as("term"))
      .distinct()
    val qn = qTerms.groupBy("qid").agg(count(lit(1)).as("qn"))
    postings(docs, idCol, textCol)
      .join(broadcast(qTerms), Seq("term"))
      .groupBy("qid", "id").agg(count(lit(1)).as("m"))
      .join(broadcast(qn), Seq("qid"))
      .filter(col("m") * den >= col("qn") * num)
      .select(col("qid"), col("id").as(idCol))
  }

  /** Hard-negative mining for contrastive training: per query, the top-k
    * most-similar corpus vectors whose cosine is AT MOST `maxScore` —
    * near the decision boundary but below the positive/duplicate band
    * (the standard dense-retrieval negative-sampling recipe: exclude the
    * positives and their near-duplicates, keep the hardest of the rest).
    * Self-matches and planted exact copies score 1.0 and fall out of the
    * ≤ maxScore band by construction. Same broadcast-scan + bounded-heap
    * shape as [[Similarity.bruteForceTopK]]; in production the scan side
    * is an ANN shortlist (p07/p08/p49) instead of the full corpus.
    */
  def hardNegativeTopK(corpus: DataFrame, queries: DataFrame, k: Int = 10,
      maxScore: Double = 0.99,
      idCol: String = "vec_id", vecCol: String = "embedding",
      qidCol: String = "qid", qvecCol: String = "qvec"): DataFrame = {
    val scored = corpus.select(col(idCol), col(vecCol))
      .crossJoin(broadcast(queries.select(col(qidCol), col(qvecCol))))
      .withColumn("score",
        round(Similarity.cosine(col(vecCol), col(qvecCol)), 6))
      .filter(col("score") <= maxScore)
    Similarity.rankTopK(scored, k, qidCol, idCol)
  }

  /** Paragraph table: one row per (id, pos, para), split on blank lines
    * (the p32 convention), 1-based pos, empty/blank paragraphs dropped.
    */
  def paragraphTable(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame =
    docs.select(col(idCol),
        posexplode(split(col(textCol), "\n\n")).as(Seq("pos0", "para")))
      .filter(length(regexp_replace(col("para"), "^\\s+|\\s+$", "")) > 0)
      .select(col(idCol), (col("pos0") + 1).as("pos"), col("para"))

  /** Word n-gram shingle hashes over a MATERIALIZED token-array column
    * (hash-equality = string-equality at 2⁻⁶⁴, the p04 argument). The
    * token array must be a stored attribute, NOT an inline
    * tokens(lower(...)) expression: Catalyst's project collapse inlines
    * a projected alias into the transform lambda, and a tokenize
    * expression there re-runs the regex split for EVERY gram index —
    * O(len²) re-tokenization that cost 30 s at sf0.1 before the
    * token-array barrier below.
    */
  private def gramHashes(tk: Column, n: Int): Column =
    array_distinct(transform(
      sequence(lit(1), size(tk) - (n - 1)),
      i => xxhash64(concat_ws(" ", slice(tk, i, lit(n))))))

  /** Qualifying paragraphs with their token arrays (doc, pos, tk) —
    * the caller materializes this (barrier/cache) before deriving gram
    * sets, so tokenization runs exactly once per paragraph.
    */
  private def paragraphToks(docs: DataFrame, minTokens: Int,
      idCol: String, textCol: String): DataFrame =
    paragraphTable(docs, idCol, textCol)
      .select(col(idCol).as("doc"), col("pos"),
        tokens(lower(col("para"))).as("tk"))
      .filter(size(col("tk")) >= minTokens)

  /** Distinct word-n-gram shingle hashes per qualifying paragraph:
    * (doc, pos, grams). Spec/diagnostic entry point — production paths
    * go through the token-array barrier in paragraphNearDupPairs.
    */
  private[graft] def paragraphGrams(docs: DataFrame, n: Int,
      minTokens: Int, idCol: String, textCol: String): DataFrame =
    paragraphToks(docs, minTokens, idCol, textCol)
      .select(col("doc"), col("pos"), gramHashes(col("tk"), n).as("grams"))
      .filter(size(col("grams")) > 0)

  /** Cross-document near-duplicate PARAGRAPHS: exact word-3-gram Jaccard
    * ≥ `threshold` between paragraphs of DIFFERENT documents. Fills the
    * granularity gap between p32 (exact paragraph dedup — catches only
    * byte-identical boilerplate) and p02/p04 (document-level near-dup —
    * misses a copied paragraph inside an otherwise-novel doc). This is
    * the Dolma/RefinedWeb paragraph-dedup shape.
    *
    * EXACT output (identical to all-pairs — the oracle mirrors all-pairs
    * in SQL) at sub-quadratic cost via the PPJoin prefix filter
    * (Chaudhuri et al. ICDE'06, Xiao et al. WWW'08): order each
    * paragraph's shingle set by ascending global document frequency
    * (rarest first, (df, g) tiebreak for a total order) and index only
    * the first |X| − ⌈t·|X|⌉ + 1 shingles. Any pair with J ≥ t has
    * |A∩B| ≥ t·max(|A|,|B|), and two sets sharing that much overlap
    * MUST collide inside these prefixes — no false negatives. The
    * boilerplate 3-grams every paragraph contains ("the of the"…) are
    * the most frequent, land in the un-indexed suffixes, and stop
    * generating candidate pairs: the naive inverted index was 33 s at
    * sf0.1 (df² blowup on common shingles), the prefix filter cuts the
    * candidate join to near-linear. Candidates are then verified with
    * an exact array_intersect over the two full gram sets (keyed joins
    * on paragraph identity, per-pair linear merge).
    *
    * Every shuffle is keyed (gram df, prefix gram, paragraph identity);
    * paragraph text itself never shuffles.
    */
  def paragraphNearDupPairs(docs: DataFrame, n: Int = 3,
      threshold: Double = 0.6, minTokens: Int = 5,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val (paras, cands) =
      paragraphCandidates(docs, n, threshold, minTokens, idCol, textCol)
    verifyCandidates(paras, cands, threshold)
  }

  /** (paragraph gram table, PPJoin candidate pairs) — the front half
    * of [[paragraphNearDupPairs]].
    */
  private def paragraphCandidates(docs: DataFrame, n: Int,
      threshold: Double, minTokens: Int, idCol: String,
      textCol: String): (DataFrame, DataFrame) = {
    require(minTokens >= n, s"minTokens ($minTokens) must be >= n ($n)")
    require(threshold > 0 && threshold <= 1,
      s"threshold ($threshold) must be in (0, 1]")
    // The paragraph table feeds the df count, the prefix index AND both
    // verify sides — as a lazy plan the split+tokenize subtree would
    // re-execute for each consumer, and worse, project collapse inlines
    // the tokenize INTO the gram lambda (O(len²) per-element re-split:
    // 30 s at sf0.1). Materialize the TOKEN ARRAYS once behind a barrier
    // (the Dedup signature-barrier pattern: parquet scratch,
    // scheme-agnostic via graft.barrier.dir); downstream gram hashing is
    // then cheap array arithmetic over a stored attribute.
    // fan the gate-scale single-split docs scan out before the regex
    // split+tokenize (r15, guide §2.6): the barrier write otherwise
    // runs the whole tokenization on one core (JobProf: 1-task jobs)
    val toks = Dedup.materializeBarrier(
      paragraphToks(Dedup.fanOutScan(docs), minTokens, idCol, textCol),
      "paratoks")
    val paras = toks
      .select(col("doc"), col("pos"), gramHashes(col("tk"), n).as("grams"))
      .filter(size(col("grams")) > 0)
    val sh = paras.select(col("doc"), col("pos"),
      explode(col("grams")).as("g"))
    val dfT = sh.groupBy("g").agg(count(lit(1)).as("gdf"))
    // rarest-first canonical order per paragraph, then the prefix cut:
    // keep |X| - ceil(t*|X|) + 1 entries
    val prefixes = sh.join(dfT, Seq("g"))
      .groupBy("doc", "pos")
      .agg(sort_array(collect_list(struct(col("gdf"), col("g"))))
        .as("ordered"))
      .select(col("doc"), col("pos"), size(col("ordered")).as("n_sh"),
        explode(slice(transform(col("ordered"), e => e.getField("g")),
          lit(1),
          (size(col("ordered")) - ceil(lit(threshold) *
            size(col("ordered"))).cast("int") + 1))).as("g"))
    // PPJoin length filter: J ≥ t ⟹ I ≥ t·U ≥ t·max(|A|,|B|) and
    // I ≤ min(|A|,|B|), so min ≥ t·max — size-incompatible collisions
    // are dropped before the distinct
    val cands = prefixes.select(col("g"), col("doc").as("doc_a"),
        col("pos").as("pos_a"), col("n_sh").as("n_a"))
      .join(prefixes.select(col("g"), col("doc").as("doc_b"),
        col("pos").as("pos_b"), col("n_sh").as("n_b")), Seq("g"))
      .filter(col("doc_a") < col("doc_b"))
      .filter(least(col("n_a"), col("n_b")).cast("double") >=
        lit(threshold) * greatest(col("n_a"), col("n_b")).cast("double"))
      .select("doc_a", "pos_a", "doc_b", "pos_b")
      .distinct()
    (paras, cands)
  }

  /** Exact verification: fetch both full gram sets by paragraph key,
    * intersect per pair (linear in paragraph size, candidates bounded).
    */
  private def verifyCandidates(paras: DataFrame, cands: DataFrame,
      threshold: Double): DataFrame =
    cands
      .join(paras.select(col("doc").as("doc_a"), col("pos").as("pos_a"),
        col("grams").as("grams_a")), Seq("doc_a", "pos_a"))
      .join(paras.select(col("doc").as("doc_b"), col("pos").as("pos_b"),
        col("grams").as("grams_b")), Seq("doc_b", "pos_b"))
      .withColumn("inter",
        size(array_intersect(col("grams_a"), col("grams_b"))))
      .withColumn("jaccard", col("inter").cast("double") /
        (size(col("grams_a")) + size(col("grams_b")) - col("inter"))
          .cast("double"))
      .filter(col("jaccard") >= threshold)
      .select(col("doc_a"), col("pos_a"), col("doc_b"), col("pos_b"),
        round(col("jaccard"), 6).as("jaccard"))

  /** Naive all-pairs inverted-index form — the spec's ground truth for
    * the prefix filter's no-false-negatives guarantee. Quadratic in
    * shingle document frequency; never use at scale.
    */
  private[pipeline] def paragraphNearDupPairsNaive(docs: DataFrame,
      n: Int = 3, threshold: Double = 0.6, minTokens: Int = 5,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val paras = paragraphGrams(docs, n, minTokens, idCol, textCol)
    val sh = paras.select(col("doc"), col("pos"),
      explode(col("grams")).as("g"))
    val sizes = paras.select(col("doc"), col("pos"),
      size(col("grams")).as("n_sh"))
    sh.select(col("g"), col("doc").as("doc_a"), col("pos").as("pos_a"))
      .join(sh.select(col("g"), col("doc").as("doc_b"),
        col("pos").as("pos_b")), Seq("g"))
      .filter(col("doc_a") < col("doc_b"))
      .groupBy("doc_a", "pos_a", "doc_b", "pos_b")
      .agg(count(lit(1)).as("inter"))
      .join(sizes.select(col("doc").as("doc_a"), col("pos").as("pos_a"),
        col("n_sh").as("n_a")), Seq("doc_a", "pos_a"))
      .join(sizes.select(col("doc").as("doc_b"), col("pos").as("pos_b"),
        col("n_sh").as("n_b")), Seq("doc_b", "pos_b"))
      .withColumn("jaccard", col("inter").cast("double") /
        (col("n_a") + col("n_b") - col("inter")).cast("double"))
      .filter(col("jaccard") >= threshold)
      .select(col("doc_a"), col("pos_a"), col("doc_b"), col("pos_b"),
        round(col("jaccard"), 6).as("jaccard"))
  }

  /** RM3-style pseudo-relevance feedback: per query, the top
    * `expandN` expansion terms mined from its BM25 top-`k` documents —
    * term occurrence counts over the feedback docs' tokens, the query's
    * own terms excluded, cut by (count desc, term asc). The classic
    * query-expansion recipe (Lavrenko & Croft SIGIR'01 relevance models,
    * counts in place of the smoothed probabilities so the driver gate
    * stays exact-integer deterministic).
    *
    * Distributed shape: the feedback set is k docs per query (tiny) —
    * it broadcasts into the corpus join, so only the feedback docs'
    * text is ever tokenized twice; term counts partial-aggregate; the
    * final rank is a window over a relation bounded by k docs'
    * vocabulary per query, NOT corpus-sized (the s08 argument for
    * post-aggregation windows).
    */
  def queryExpansionTerms(docs: DataFrame, queries: DataFrame,
      k: Int = 10, expandN: Int = 5,
      k1: Double = 1.2, b: Double = 0.75,
      idCol: String = "doc_id", textCol: String = "text",
      qidCol: String = "qid", qtextCol: String = "qtext"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val top = bm25TopK(docs, queries, k, k1, b, idCol, textCol,
      qidCol, qtextCol).select(col("qid"), col(idCol))
    val qTerms = queries
      .select(col(qidCol).as("qid"),
        explode(tokens(lower(col(qtextCol)))).as("term"))
      .distinct()
    val feedbackTokens = docs
      .join(broadcast(top), Seq(idCol))
      .select(col("qid"), explode(tokens(lower(col(textCol)))).as("term"))
    val counts = feedbackTokens
      .groupBy("qid", "term").agg(count(lit(1)).as("cnt"))
      .join(broadcast(qTerms), Seq("qid", "term"), "left_anti")
    counts
      .withColumn("rank", row_number().over(
        Window.partitionBy("qid").orderBy(col("cnt").desc, col("term"))))
      .filter(col("rank") <= expandN)
      .select(col("qid"), col("term"), col("cnt"),
        col("rank").cast("long").as("rank"))
  }

  /** One BPE merge-round statistic: corpus-wide counts of adjacent
    * character pairs inside words, weighted by word frequency — the
    * argmax of this table IS the first BPE merge (Sennrich et al.,
    * ACL'16); re-running over merged symbols iterates the training
    * loop. Top `topN` pairs by (count desc, pair asc) — exact integer
    * counts, deterministic cut.
    *
    * Distributed shape: tokens → word-frequency groupBy collapses the
    * corpus to DISTINCT words before the character explode (the
    * pair-generation work scales with vocabulary, not corpus size);
    * pair counts partial-aggregate; the final top-N is a
    * TakeOrderedAndProject over #distinct-pairs rows.
    */
  def bpePairStats(docs: DataFrame, topN: Int = 20,
      textCol: String = "text"): DataFrame = {
    val words = docs
      .select(explode(tokens(lower(col(textCol)))).as("w"))
      .groupBy("w").agg(count(lit(1)).as("wc"))
    words
      .select(col("wc"), explode(
        when(length(col("w")) < 2, array().cast("array<string>"))
          .otherwise(transform(sequence(lit(1), length(col("w")) - 1),
            i => col("w").substr(i, lit(2))))).as("pair"))
      .groupBy("pair").agg(sum("wc").as("n"))
      .orderBy(col("n").desc, col("pair"))
      .limit(topN)
  }

  /** Exact phrase search over a positional inverted index: for each
    * (qid, phrase) find every document containing the phrase as a
    * contiguous token run, with occurrence count and first position.
    *
    * The classic positional-postings identity: explode both sides to
    * (term, offset) rows, join on term, and reduce each candidate hit
    * to its implied anchor = pos − offset; an anchor holding ALL
    * `len(phrase)` offsets is a match. One corpus-sized explode, one
    * term-keyed join against the broadcast query terms (the corpus
    * shuffle carries only postings whose term occurs in some phrase —
    * semi-join pruning, as in BM25 scoring), then partial-aggregable
    * groupBys on (qid, id, anchor) and (qid, id). No per-document scan
    * of phrase windows, no substring matching over text at join time.
    */
  def phraseMatches(docs: DataFrame, queries: DataFrame,
      idCol: String = "doc_id", textCol: String = "text",
      qidCol: String = "qid", qtextCol: String = "qtext"): DataFrame = {
    val post = docs.select(col(idCol).as("id"),
        posexplode(tokens(lower(col(textCol)))).as(Seq("pos", "term")))
    val qt = queries.select(col(qidCol).as("qid"),
        posexplode(tokens(lower(col(qtextCol)))).as(Seq("i", "term")))
    val qlen = qt.groupBy("qid").agg(count(lit(1)).as("n_terms"))
    post.join(broadcast(qt), Seq("term"))
      .groupBy(col("qid"), col("id"), (col("pos") - col("i")).as("anchor"))
      .agg(count(lit(1)).as("hits"))
      .join(broadcast(qlen), Seq("qid"))
      .filter(col("hits") === col("n_terms"))
      .groupBy("qid", "id")
      .agg(count(lit(1)).as("n_matches"), min("anchor").as("first_pos"))
      .select(col("qid"), col("id").as(idCol),
        col("n_matches").cast("long").as("n_matches"),
        col("first_pos").cast("long").as("first_pos"))
  }

  /** Sentinel marking the start of each symbol in the string-encoded
    * symbol sequence (U+001E RECORD SEPARATOR — not in `\s`, so it can
    * never appear inside a whitespace-token; words containing it are
    * dropped from the vocabulary on both the Spark and oracle side).
    */
  private val Sen = "\u001E"

  /** Full iterative BPE tokenizer training (Sennrich et al., ACL'16),
    * `steps` merge rounds: each round counts adjacent-symbol pairs over
    * the word-frequency-collapsed vocabulary, picks the argmax by
    * (count desc, "left right" string asc), and applies the merge to
    * every word. Returns one row per learned merge:
    * (step, pair "left right", n = weighted pair count at merge time).
    *
    * Symbol sequences are encoded as strings — each symbol written as
    * `\u001E<sym><space>` — so a merge application is a single
    * non-overlapping left-to-right `replace` of
    * `\u001Ea \u001Eb ` with `\u001Eab `. That encoding makes greedy
    * merge application exact: the per-symbol sentinel prevents
    * mid-symbol matches and the per-symbol trailing space means a
    * replacement never consumes the delimiter of the symbol that
    * follows, so "a b a b" merges to "ab ab" in one pass (a plain
    * space-joined encoding would eat the separator and miss the second
    * occurrence). DuckDB's `replace` has identical non-overlapping
    * left-to-right semantics, which is what lets the oracle replay
    * training exactly.
    *
    * Distributed shape: ONE corpus-wide tokenize+groupBy collapses the
    * corpus to its distinct-word vocabulary, materialized as a barrier;
    * every merge round is then a vocabulary-sized job (pair explode →
    * partial-aggregated count → 1-row TakeOrdered broadcast-joined back
    * for the rewrite), re-materialized per round so round r+1 reads a
    * flat barrier instead of an r-deep replace chain. Work per round
    * scales with |vocab|, not corpus size — the classic BPE-training
    * layout. No driver-side collect: the argmax row rides a broadcast
    * cross join into the rewrite expression.
    */
  def bpeTrainMerges(docs: DataFrame, steps: Int = 3,
      textCol: String = "text"): DataFrame =
    bpeTrainLoop(docs, steps, textCol)._1.reduce(_ unionAll _)

  /** The training loop shared by [[bpeTrainMerges]] and
    * [[bpeApplyStats]]: returns (one 1-row merge DataFrame per step,
    * the FINAL encoded vocabulary barrier carrying (wc, w, enc)). Note
    * the final vocabulary has the last merge applied too — the apply
    * stats measure the tokenizer the full training run produced.
    */
  private def bpeTrainLoop(docs: DataFrame, steps: Int,
      textCol: String): (Seq[DataFrame], DataFrame) = {
    val words = docs
      .select(explode(tokens(lower(col(textCol)))).as("w"))
      .filter(!col("w").contains(Sen))
      .groupBy("w").agg(count(lit(1)).as("wc"))
    // "␞c " per character; [\s\S] (not `.`) so the Java and RE2 oracle
    // engines agree on line-terminator codepoints inside words.
    var vocab = Dedup.materializeBarrier(
      words.select(col("wc"), col("w"),
        regexp_replace(col("w"), "([\\s\\S])", Sen + "$1 ").as("enc")),
      "bpe-vocab")
    val merges = Seq.newBuilder[DataFrame]
    for (step <- 1 to steps) {
      val syms = filter(split(col("enc"), " "), x => length(x) > 0)
      val pairCounts = vocab
        .select(col("wc"), explode(
          when(size(syms) < 2, array().cast("array<string>"))
            .otherwise(transform(sequence(lit(1), size(syms) - 1),
              i => concat(substring(element_at(syms, i), 2, 1 << 24),
                lit(" "),
                substring(element_at(syms, i + 1), 2, 1 << 24)))))
          .as("pair"))
        .groupBy("pair").agg(sum("wc").as("n"))
      val best = pairCounts.orderBy(col("n").desc, col("pair")).limit(1)
      merges += best.select(lit(step.toLong).as("step"), col("pair"),
        col("n").cast("long").as("n"))
      val a = substring_index(col("pair"), " ", 1)
      val b = substring_index(col("pair"), " ", -1)
      vocab = Dedup.materializeBarrier(
        vocab.crossJoin(broadcast(best.select(col("pair"))))
          .select(col("wc"), col("w"),
            replace(col("enc"),
              concat(lit(Sen), a, lit(" "), lit(Sen), b, lit(" ")),
              concat(lit(Sen), a, b, lit(" "))).as("enc")),
        s"bpe-vocab-$step")
    }
    (merges.result(), vocab)
  }

  /** Tokenizer-apply audit over the trained BPE vocabulary: corpus-level
    * compression (weighted symbols per word before/after the merges)
    * plus a round-trip identity gate — stripping the sentinels and
    * separators from every encoded word must reproduce the word
    * exactly, or the merge application corrupted a token. All counts
    * are exact int64 over the vocab barrier (one narrow scan); the
    * single ratio is one double division + ROUND 6.
    */
  def bpeApplyStats(docs: DataFrame, steps: Int = 3,
      textCol: String = "text"): DataFrame = {
    val (_, vocab) = bpeTrainLoop(docs, steps, textCol)
    val syms = filter(split(col("enc"), " "), x => length(x) > 0)
    vocab
      .select(col("wc"), col("w"), size(syms).cast("long").as("ns"),
        (replace(replace(col("enc"), lit(Sen)), lit(" ")) === col("w"))
          .as("rt"))
      .agg(sum("wc").cast("long").as("total_words"),
        count(lit(1)).as("distinct_words"),
        sum(col("wc") * col("ns")).cast("long").as("total_symbols"),
        sum(col("wc") * length(col("w"))).cast("long").as("total_chars"),
        round(sum(col("wc") * col("ns")).cast("double") /
          sum("wc").cast("double"), 6).as("symbols_per_word"),
        (sum(when(col("rt"), 0L).otherwise(1L)) === 0L)
          .as("roundtrip_ok"))
  }

  /** Reciprocal-rank fusion of two per-query rankings (Cormack et al.,
    * SIGIR 2009): rrf(d) = Σ_lists 1/(c + rank_list(d)), a document
    * absent from one list contributing 0 from it. Inputs are
    * (qid, id, rank) frames — typically two top-k retriever outputs —
    * so the full-outer fusion join is k-bounded per query regardless of
    * corpus size; the retrievers carry the scale cost. Output:
    * (qid, id, rrf, rank) with the (rrf desc, id) deterministic
    * tiebreak; rrf rounded once AFTER the sum (the operands are exact
    * reciprocals of small integers, identical across engines).
    */
  def rrfFuse(a: DataFrame, b: DataFrame, k: Int, c: Int = 60,
      qidCol: String = "qid", idCol: String = "id",
      rankCol: String = "rank"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    def side(df: DataFrame, out: String): DataFrame =
      df.select(col(qidCol), col(idCol),
        col(rankCol).cast("long").as(out))
    val fused = side(a, "r_a").join(side(b, "r_b"),
        Seq(qidCol, idCol), "full_outer")
      .select(col(qidCol), col(idCol),
        round(coalesce(lit(1.0) / (lit(c) + col("r_a")), lit(0.0)) +
          coalesce(lit(1.0) / (lit(c) + col("r_b")), lit(0.0)), 6)
          .as("rrf"))
    fused.withColumn("rank", row_number().over(
        Window.partitionBy(qidCol).orderBy(col("rrf").desc, col(idCol))))
      .filter(col("rank") <= k)
  }
}
