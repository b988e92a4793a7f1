package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis operators for large-scale training-data pipelines:
  * tokenization, quality scoring, language ID, document fingerprinting.
  *
  * Everything is built from native Catalyst expressions (split /
  * higher-order array functions / xxhash64) — no UDFs, so the whole
  * pipeline stays inside whole-stage codegen and scales linearly with
  * input partitions: per-row narrow transforms, zero shuffles.
  */
object TextAnalysis {

  /** Strip ALL leading/trailing whitespace (Spark's trim removes only
    * spaces — a trailing newline/tab would otherwise yield a phantom
    * empty token from split's keep-trailing-empties behavior).
    */
  private def wstrim(text: Column): Column =
    regexp_replace(text, "^\\s+|\\s+$", "")

  /** Whitespace tokenization; empty/blank text → empty array (not [""]). */
  def tokens(text: Column): Column =
    when(length(wstrim(text)) === 0, array().cast("array<string>"))
      .otherwise(split(wstrim(text), "\\s+"))

  def tokenCount(text: Column): Column = size(tokens(text))

  /** ASCII-punctuation character count. */
  def punctCount(text: Column): Column =
    length(text) - length(regexp_replace(text, "[\\p{Punct}]", ""))

  // Tiny embedded stopword lists (public, standard closed-class words).
  val stopwordsEn: Seq[String] = Seq(
    "the", "a", "an", "and", "or", "of", "to", "in", "is", "it", "that",
    "for", "on", "with", "as", "this", "was", "are", "be", "at", "by")
  val stopwordsDe: Seq[String] = Seq(
    "der", "die", "das", "und", "oder", "von", "zu", "im", "ist", "es",
    "dass", "für", "auf", "mit", "als", "ein", "eine", "war", "sind", "bei")
  val stopwordsFr: Seq[String] = Seq(
    "le", "la", "les", "et", "ou", "de", "à", "dans", "est", "il",
    "que", "pour", "sur", "avec", "comme", "un", "une", "était", "sont", "par")
  val stopwordsEs: Seq[String] = Seq(
    "el", "la", "los", "las", "y", "o", "de", "a", "en", "es",
    "que", "para", "sobre", "con", "como", "un", "una", "era", "son", "por")

  /** Count of tokens present in `words` (multiset: duplicates counted). */
  def stopwordHits(toks: Column, words: Seq[String]): Column = {
    val set = array(words.map(lit): _*)
    size(filter(toks, t => array_contains(set, t)))
  }

  /** Quality metrics: lengths, ratios, and a composite score in [0,1].
    * Pure per-row scalar math — deterministic across engines.
    */
  def withQuality(df: DataFrame, textCol: String = "text"): DataFrame = {
    val text = col(textCol)
    df.withColumn("toks", tokens(text))
      .withColumn("n_chars", length(text).cast("long"))
      .withColumn("n_tokens", size(col("toks")).cast("long"))
      .withColumn("n_punct", punctCount(text).cast("long"))
      .withColumn("n_stopwords",
        stopwordHits(col("toks"), stopwordsEn).cast("long"))
      .withColumn("avg_token_len",
        when(col("n_tokens") === 0, lit(0.0))
          .otherwise((col("n_chars") - (col("n_tokens") - 1)).cast("double")
            / col("n_tokens")))
      .withColumn("punct_ratio",
        when(col("n_chars") === 0, lit(0.0))
          .otherwise(col("n_punct").cast("double") / col("n_chars")))
      .withColumn("stopword_ratio",
        when(col("n_tokens") === 0, lit(0.0))
          .otherwise(col("n_stopwords").cast("double") / col("n_tokens")))
      .withColumn("quality_score",
        // heuristic: enough tokens, sane word length, some stopwords,
        // not punctuation-soup — each clamped to [0,1], averaged.
        (least(col("n_tokens").cast("double") / 50.0, lit(1.0)) +
          when(col("avg_token_len").between(3.0, 10.0), 1.0).otherwise(0.0) +
          least(col("stopword_ratio") * 5.0, lit(1.0)) +
          (lit(1.0) - least(col("punct_ratio") * 10.0, lit(1.0)))) / 4.0)
      .drop("toks")
  }

  /** Gopher/C4-style line-structure quality rules: repetition and
    * formatting signals a web-scale corpus filter keys on — duplicate-line
    * fraction, bullet-line fraction, mean word length, terminal
    * punctuation — plus the composite keep decision. All native array
    * expressions over the line/token lists (per-row narrow transforms, no
    * shuffle); every column is recomputable by an independent SQL engine.
    */
  def lineQualityRules(df: DataFrame, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    val lines = split(col(textCol), "\n")
    val toks = tokens(col(textCol))
    val nLines = size(lines).cast("long")
    val nToks = size(toks)
    val dupFrac = round((nLines - size(array_distinct(lines)))
      .cast("double") / nLines, 6)
    val bulletFrac = round(size(filter(lines,
      l => l.rlike("^\\s*[-*]"))).cast("double") / nLines, 6)
    val meanWordLen = when(nToks === 0, lit(0.0)).otherwise(round(
      aggregate(toks, lit(0L), (acc, t) => acc + length(t).cast("long"))
        .cast("double") / nToks, 6))
    val endsTerminal = col(textCol).rlike("[.!?\"]\\s*$")
    df.select(col(idCol),
      nLines.as("n_lines"),
      dupFrac.as("dup_line_frac"),
      bulletFrac.as("bullet_frac"),
      meanWordLen.as("mean_word_len"),
      endsTerminal.as("ends_terminal"))
      .withColumn("keep",
        col("dup_line_frac") <= 0.3 && col("bullet_frac") <= 0.9 &&
          col("mean_word_len").between(3.0, 10.0) && col("ends_terminal"))
  }

  /** C4-style line-level cleaning (Raffel et al. 2020, the public C4
    * recipe): keep only lines that end in terminal punctuation, carry at
    * least four words, and don't mention javascript; then gate the
    * document on ≥3 surviving lines and the page-level lorem-ipsum /
    * curly-brace blocklist. Returns per-doc counts, the keep decision,
    * and the cleaned length — a pure narrow projection (split → filter
    * → rejoin inside one codegen'd expression tree), zero shuffles at
    * any scale.
    */
  def c4Clean(df: DataFrame, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    val lines = split(col(textCol), "\n")
    val keptLines = filter(lines, l => {
      val t = rtrim(l)
      substring(t, -1, 1).isin(".", "!", "?", "\"") &&
        size(filter(split(l, " "), w => w =!= "")) >= 4 &&
        !contains(lower(l), lit("javascript"))
    })
    val nKept = size(keptLines).cast("long")
    df.select(col(idCol),
      size(lines).cast("long").as("n_lines"),
      nKept.as("n_kept"),
      (nKept >= 3 &&
        !contains(lower(col(textCol)), lit("lorem ipsum")) &&
        !contains(col(textCol), lit("{"))).as("keep"),
      length(array_join(keptLines, "\n")).cast("long").as("clean_len"))
  }

  /** HTML main-text extraction (simplified trafilatura shape): drop
    * script/style blocks, strip tags, decode the common entities,
    * collapse whitespace. Runs as the native single-pass
    * `HtmlMainText` expression (three indexOf scans, zero regex
    * machinery); [[htmlMainTextRegex]] is the 7-stage regex reference
    * form the equivalence spec checks it against, and its patterns stay
    * in the Java-regex ∩ RE2 intersection so the DuckDB oracle runs the
    * IDENTICAL expressions. Narrow codegen'd projection either way.
    */
  def htmlMainText(html: Column): Column = {
    import org.apache.spark.sql.graft.VectorExpressions
    VectorExpressions.htmlMainText(html)
  }

  /** The regex-chain reference form of [[htmlMainText]] (see there). */
  private[pipeline] def htmlMainTextRegex(html: Column): Column = {
    val noScript = regexp_replace(html,
      "(?s)<script[^>]*>.*?</script>", "")
    val noStyle = regexp_replace(noScript,
      "(?s)<style[^>]*>.*?</style>", "")
    val noTags = regexp_replace(noStyle, "<[^>]*>", " ")
    val decoded = regexp_replace(regexp_replace(regexp_replace(
      regexp_replace(noTags, "&nbsp;", " "), "&lt;", "<"),
      "&gt;", ">"), "&amp;", "&")
    trim(regexp_replace(decoded, "\\s+", " "))
  }

  /** Gopher-style repetition signal: the fraction of a document's word
    * bigrams taken by its single most frequent bigram (plus bigram
    * count/distinct count). High top-bigram share = looping/template
    * text. Two hash aggregations on (doc_id[, gram]) — map-side partial
    * combine keeps the shuffle proportional to DISTINCT grams. Documents
    * with fewer than two tokens have no bigrams and produce no row (the
    * oracle mirrors the same rule).
    */
  def repetitionSignal(df: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", maxTopFrac: Double = 0.05): DataFrame = {
    val tk = tokens(col(textCol))
    df.select(col(idCol), tk.as("tk"))
      .filter(size(col("tk")) >= 2)
      .select(col(idCol), explode(transform(
        sequence(lit(0), size(col("tk")) - 2),
        i => concat(element_at(col("tk"), i + 1), lit(" "),
          element_at(col("tk"), i + 2)))).as("gram"))
      .groupBy(idCol, "gram").agg(count(lit(1)).as("n"))
      .groupBy(idCol).agg(
        sum("n").as("n_bigrams"),
        count(lit(1)).as("n_distinct_bigrams"),
        max("n").as("mx"))
      .select(col(idCol),
        col("n_bigrams").cast("long").as("n_bigrams"),
        col("n_distinct_bigrams"),
        round(col("mx").cast("double") / col("n_bigrams"), 6)
          .as("top_bigram_frac"),
        (round(col("mx").cast("double") / col("n_bigrams"), 6)
          <= maxTopFrac).as("rep_ok"))
  }

  /** Char-level Shannon entropy (bits/char): low entropy flags
    * degenerate/repetitive text (CCNet/Gopher-style quality signal) that
    * length or punctuation ratios miss. One (id, char) shuffle for the
    * histogram; the per-document entropy is a SEQUENTIAL fold over the
    * char-sorted count list — a parallel double sum would be
    * order-dependent and engine-divergent, the ordered fold plus ROUND 6
    * is reproducible anywhere (the p10/p30 determinism rule).
    */
  def charEntropy(df: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", minBits: Double = 2.0): DataFrame = {
    // native one-pass expression (ordered fold matches the oracle's
    // char-sorted histogram math exactly); interpreted HOF folds measured
    // ~3.5× slower and explode+groupBy amplifies the corpus into the
    // shuffle ~40× — whole-stage codegen CSE evaluates the struct once
    // despite the three field extractions
    val st = org.apache.spark.sql.graft.VectorExpressions
      .charEntropyStats(col(textCol))
    df.select(col(idCol), st.as("s"))
      .select(col(idCol),
        col("s.n_chars").as("n_chars"),
        col("s.n_distinct_chars").as("n_distinct_chars"),
        round(col("s.entropy_bits"), 6).as("entropy_bits"))
      .withColumn("entropy_ok", col("entropy_bits") >= minBits)
  }

  /** Unicode script profile: per-document counts of six fixed BMP script
    * classes (latin / cyrillic / greek / cjk / arabic / digit) over ONE
    * native code-point pass ([[org.apache.spark.sql.graft.ScriptCounts]]),
    * plus the dominant script and the script-character coverage fraction.
    * Script is the multilingual router's first cut — it needs no model,
    * never false-positives across scripts, and at 100 TB it's a narrow
    * zero-shuffle projection (PlanSpec asserts no Exchange). Dominant is
    * a fixed-priority CASE over the five letter scripts (latin > cyrillic
    * > greek > cjk > arabic on ties — deterministic, mirrored verbatim by
    * the oracle), 'other' when no script char occurs at all.
    */
  def scriptProfile(df: DataFrame, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    val st = org.apache.spark.sql.graft.VectorExpressions
      .scriptCounts(col(textCol))
    val named = Seq("latin", "cyrillic", "greek", "cjk", "arabic")
    val base = df.select(col(idCol), st.as("s"))
      .select(col(idCol) +: ("n_cp" +: named.map(_ + "_n") :+ "digit_n")
        .map(f => col(s"s.$f").as(f)): _*)
    val scriptTotal = named.map(n => col(n + "_n")).reduce(_ + _)
    // dominant: first script (in fixed order) whose count equals the max
    val maxN = greatest(named.map(n => col(n + "_n")): _*)
    val dom = named.foldRight(lit("other")) { (n, els) =>
      when(col(n + "_n") === maxN && maxN > 0, lit(n)).otherwise(els)
    }
    base
      .withColumn("dominant", dom)
      .withColumn("script_frac",
        when(col("n_cp") === 0, lit(0.0))
          .otherwise(round(scriptTotal.cast("double") /
            col("n_cp").cast("double"), 6)))
  }

  /** n-gram-free heuristic language ID: stopword-hit voting over four
    * Latin-script lists + CJK codepoint detection for zh. Deterministic
    * tie-break by fixed language order (en,de,fr,es).
    */
  def withLanguage(df: DataFrame, textCol: String = "text",
      outCol: String = "lang_pred"): DataFrame = {
    val toks = tokens(lower(col(textCol)))
    val cjk = size(split(col(textCol), "")) -
      size(split(regexp_replace(col(textCol), "[\\x{4e00}-\\x{9fff}]", ""), ""))
    // argmax as ONE expression tree: zip the four scores with their
    // labels and fold keeping the first maximum (strict >, so the
    // earlier language wins ties — same decision order as the oracle's
    // CASE chain), with the unknown rule in the aggregate's finish.
    // The previous when()-fold form duplicated each stopword scan up
    // to ~16x through the nested acc references (HOFs get no
    // subexpression elimination) — measured 7.6 s at sf0.1 for p129
    // vs ~1.3 s with each score evaluated exactly once here.
    val sArr = array(
      stopwordHits(toks, stopwordsEn), stopwordHits(toks, stopwordsDe),
      stopwordHits(toks, stopwordsFr), stopwordHits(toks, stopwordsEs))
    val langs = array(lit("en"), lit("de"), lit("fr"), lit("es"))
    val zipped = zip_with(sArr, langs,
      (sc, l) => struct(sc.as("s"), l.as("l")))
    val pick = aggregate(zipped,
      struct(lit(-1).as("s"), lit("unknown").as("l")),
      (acc, x) => when(x.getField("s") > acc.getField("s"), x)
        .otherwise(acc),
      acc => when(acc.getField("s") === 0, lit("unknown"))
        .otherwise(acc.getField("l")))
    df.withColumn(outCol, when(cjk > 0, "zh").otherwise(pick))
  }

  /** BPE-ish subword-boundary token count: letter runs, digit runs, and
    * punctuation runs each count as one token (GPT2-style pretokenizer
    * simplified to the RE2∩Java-safe subset so a DuckDB oracle can
    * recompute it).
    */
  val bpeTokenPattern: String = " ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9\\s]+"

  def bpeTokenCount(text: Column): Column =
    size(regexp_extract_all(text, lit(bpeTokenPattern), lit(0)))

  /** Rolling-hash fingerprint over the token stream: chained xxhash64
    * (hash of previous state + next token). Order-sensitive — permuted
    * documents get different prints — and overflow-free under ANSI mode.
    */
  def fingerprint(text: Column): Column =
    aggregate(tokens(text), lit(0L), (acc, t) => xxhash64(acc, t))

  /** The BPE word-frequency table: one corpus pass (map-side
    * combinable token count), then each distinct word char-splits into
    * a space-separated symbol sequence — the compact table every merge
    * round runs on. At 100 TB the corpus pass is the only full scan;
    * the vocab is orders of magnitude smaller than the corpus.
    */
  def bpeVocab(df: DataFrame, textCol: String = "text"): DataFrame =
    df.select(explode(tokens(lower(col(textCol)))).as("w"))
      .groupBy("w").agg(count(lit(1)).as("cnt"))
      .select(col("w"), bpeSeqOf(col("w")).as("seq"), col("cnt"))

  /** A word's initial BPE symbol sequence: its characters joined by
    * single spaces (one definition, shared with the s51 mirror).
    */
  def bpeSeqOf(w: Column): Column =
    trim(regexp_replace(w, "(.)", "$1 "))

  /** Distributed BPE tokenizer training (Sennrich/Haddow/Birch ACL'16,
    * the subword-nmt algorithm; no end-of-word marker): learn the
    * first `merges` merge rules from the corpus. Each round counts
    * adjacent symbol pairs over the vocab (weighted by word count,
    * partial-aggregable), takes the argmax under the deterministic
    * (freq DESC, pair ASC) order — the one driver-side row per round —
    * and applies the merge to every sequence with pure string algebra:
    * double the symbol separators, replace " a b " with " ab ", then
    * collapse. The doubling makes left-to-right non-overlapping
    * replace() equal BPE's greedy merge application ("a a a" → "aa a")
    * because adjacent occurrences never share a separator space.
    *
    * Each round's vocab materializes through a barrier (the
    * [[Dedup.components]] discipline) so round k's plan reads one
    * compact parquet instead of re-deriving k-1 rewrite rounds; the
    * previous level releases eagerly. Returns (step, pair, freq) —
    * the learned merge table in order.
    */
  def bpeTrain(df: DataFrame, merges: Int,
      textCol: String = "text"): DataFrame =
    bpeTrainFromVocab(bpeVocab(df, textCol), merges)

  /** [[bpeTrain]] from a prebuilt (seq, cnt) vocab — the seam the
    * streaming mirror (s51) publishes through: per-batch word-count
    * partials sum-merge into exactly this table, so stream == batch
    * holds by construction of the merge.
    */
  private[graft] def bpeTrainFromVocab(vocab0: DataFrame,
      merges: Int, localBound: Long = LocalBpeBound): DataFrame = {
    val s = vocab0.sparkSession
    import s.implicits._
    val (learned, _, dir) =
      bpeLoop(vocab0, merges, localBound)((_, _) => ())
    graft.Scratch.release(dir)
    learned.toDF("step", "pair", "freq")
  }

  /** [[bpeTrain]] with INCREMENTAL pair-count maintenance — the
    * production form of subword-nmt's loop (its `get_pair_statistics`
    * runs once; every merge after updates counts from the merged
    * pair's neighborhoods only), re-expressed as the x46 counting-IVM
    * discipline applied to BPE's own training loop: the (pair, freq)
    * table is a maintained VIEW over the vocab, and each round costs
    * a signed delta derived from the AFFECTED words alone.
    *
    * Per round, against the recount form's full explode (every
    * adjacent pair of every word, shuffled and re-aggregated — the
    * dominant cost, repeated `merges` times):
    *  1. argmax reads the maintained pair table (no recount);
    *  2. affected words are found by a SUBSTRING SCAN of the barriered
    *     vocab (the doubled-space pattern " a  b " — exactly the
    *     rewrite's own match, so "affected" and "rewritten" cannot
    *     disagree), no explode, no shuffle;
    *  3. only affected words explode: old pairs at −cnt, new pairs at
    *     +cnt, sum-merged into the pair view with exact integer
    *     cancellation (zero rows drop — counts are non-negative by
    *     construction, so the x46 retraction-ordering caveat does not
    *     arise inside one synchronous loop);
    *  4. the next vocab is unchanged ∪ rewritten — unchanged words are
    *     never rewritten, re-encoded, or shuffled.
    * A production 32k-merge run is 32k sequential rounds either way;
    * what this form removes is the full-corpus pair recount and
    * full-vocab rewrite from every one of them (the r13 verdict's
    * task 4). Learned merges are BIT-IDENTICAL to [[bpeTrain]]'s — the
    * maintained counts equal the recount by induction, so the
    * deterministic (freq DESC, pair ASC) argmax picks the same pair
    * every round (a spec asserts sequence equality; p205 pins it
    * against the same unrolled DuckDB oracle as p196).
    */
  def bpeTrainIncremental(df: DataFrame, merges: Int,
      textCol: String = "text"): DataFrame =
    bpeTrainIncrementalFromVocab(bpeVocab(df, textCol), merges)

  private[graft] def bpeTrainIncrementalFromVocab(vocab0: DataFrame,
      merges: Int, localBound: Long = LocalBpeBound): DataFrame = {
    val s = vocab0.sparkSession
    import s.implicits._
    val pairsOf = expr(
      "transform(sequence(1, size(split(seq, ' ')) - 1), " +
        "i -> concat(element_at(split(seq, ' '), i), ' ', " +
        "element_at(split(seq, ' '), i + 1)))")
    var (vocab, vdir) = Dedup.materializeBarrierAt(vocab0, "bpei-v0")
    // small-vocab fast path (see [[LocalBpeBound]]): the maintained-
    // count induction makes the incremental and recount argmax
    // sequences identical, so the local loop IS both forms' result;
    // the distributed incremental delta below is the at-scale path
    if (Dedup.barrierRowCount(s, vdir) <= localBound) {
      val (learned, _, d) = bpeLoopLocal(vocab, vdir, merges)((_, _) => ())
      graft.Scratch.release(d)
      return learned.toDF("step", "pair", "freq")
    }
    // the one full pair count — paid once, like get_pair_statistics
    var (pc, pdir) = Dedup.materializeBarrierAt(
      vocab.filter(size(split(col("seq"), " ")) >= 2)
        .select(explode(pairsOf).as("pair"), col("cnt"))
        .groupBy("pair").agg(sum("cnt").as("freq")),
      "bpei-pc0")
    val learned = Seq.newBuilder[(Int, String, Long)]
    var step = 0
    var exhausted = false
    while (step < merges && !exhausted) {
      step += 1
      val top = pc.filter(col("freq") > 0)
        .orderBy(col("freq").desc, col("pair")).limit(1).take(1)
      if (top.isEmpty) exhausted = true
      else {
        val best = top.head
        val (pair, freq) = (best.getString(0), best.getLong(1))
        learned += ((step, pair, freq))
        val doubled = concat(lit(" "),
          replace(col("seq"), lit(" "), lit("  ")), lit(" "))
        val pattern = " " + pair.replace(" ", "  ") + " "
        val hit = instr(doubled, lit(pattern)) > 0
        // rewrite IN PLACE in the original column order — the
        // unchanged ∪ rewritten union below is positional, so a
        // seq-first projection would silently swap columns
        val rewritten = vocab.filter(hit).select(
          vocab.columns.toSeq.map {
            case "seq" => trim(replace(replace(doubled, lit(pattern),
              lit(" " + pair.replace(" ", "") + " ")),
              lit("  "), lit(" "))).as("seq")
            case c => col(c)
          }: _*)
        // next vocab = unchanged ∪ rewritten, IN PLACE in the original
        // column order (the union is positional) — one barrier per
        // round, the recount form's own budget; the rewritten rows'
        // delta below reads them back from THIS barrier rather than
        // paying a second rewrite barrier
        val (nv, nvdir) = Dedup.materializeBarrierAt(
          vocab.filter(!hit)
            .withColumn("_rw", lit(false))
            .unionAll(rewritten.withColumn("_rw", lit(true))),
          s"bpei-v$step")
        // signed neighborhood delta: old pairs retract, new pairs
        // assert — only affected words explode
        val delta = vocab.filter(hit)
          .filter(size(split(col("seq"), " ")) >= 2)
          .select(explode(pairsOf).as("pair"), (-col("cnt")).as("cnt"))
          .unionAll(nv.filter(col("_rw"))
            .filter(size(split(col("seq"), " ")) >= 2)
            .select(explode(pairsOf).as("pair"), col("cnt")))
        // the maintained view is vocab-bounded and shrinks as merges
        // consume pairs — compact files keep the per-round barrier
        // overhead flat (32 shard files dominated the round cost at
        // small SF)
        val pcNext = pc.select(col("pair"), col("freq").as("cnt"))
          .unionAll(delta)
          .groupBy("pair").agg(sum("cnt").as("freq"))
          .filter(col("freq") =!= 0)
          .coalesce(4)
        val (npc, npdir) = Dedup.materializeBarrierAt(pcNext,
          s"bpei-pc$step")
        graft.Scratch.release(pdir)
        pc = npc; pdir = npdir
        graft.Scratch.release(vdir)
        vocab = nv.drop("_rw"); vdir = nvdir
      }
    }
    graft.Scratch.release(pdir)
    graft.Scratch.release(vdir)
    learned.result().toDF("step", "pair", "freq")
  }

  /** BPE ENCODING at corpus scale (p198): train on the corpus once
    * (the word key rides through every rewrite, so the final vocab IS
    * the word → subword-sequence map), then encode by broadcasting the
    * compact trained vocab against the exploded token stream — a
    * map-side join, zero extra corpus passes. Returns per-document
    * (n_words, n_bpe) exact counts.
    */
  def bpeEncodeCounts(df: DataFrame, merges: Int,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val toks = df.select(col(idCol),
      explode(tokens(lower(col(textCol)))).as("w"))
    // the final level's barrier backs the returned plan — left live
    // for the global barrier reset (the components() discipline)
    val vocabN = bpeFinalVocab(bpeVocab(df, textCol), merges)
    toks.join(
        broadcast(vocabN.select(col("w"),
          size(split(col("seq"), " ")).as("n"))),
        Seq("w"))
      .groupBy(idCol)
      .agg(count(lit(1)).as("n_words"), sum("n").as("n_bpe"))
  }

  /** BPE compression curve (p197): the exact weighted symbol count of
    * the vocab at every merge level 0..merges — the tokens-per-word
    * trajectory a tokenizer-budget decision reads. Integer-exact
    * (numerator n_symbols and denominator n_words, never a float
    * ratio); each level costs one tiny aggregate over the already-
    * barriered vocab.
    */
  def bpeCompressionCurve(df: DataFrame, merges: Int,
      textCol: String = "text"): DataFrame = {
    val s = df.sparkSession
    import s.implicits._
    val levels = Seq.newBuilder[(Int, Long, Long)]
    // local-path hook: the same exact integer sums computed from the
    // rows directly (size(split(seq, ' ')) == split(" ", -1).length —
    // no leading/trailing/double separators by construction), skipping
    // a per-level LocalRelation aggregate job
    val rowsHook = (lvl: Int, rows: Array[org.apache.spark.sql.Row],
        seqIdx: Int, cntIdx: Int) => {
      var ns = 0L; var nw = 0L
      rows.foreach { r =>
        val c = r.getAs[Number](cntIdx).longValue()
        ns += c * r.getString(seqIdx).split(" ", -1).length
        nw += c
      }
      levels += ((lvl, ns, nw))
      ()
    }
    val (_, _, dir) = bpeLoop(bpeVocab(df, textCol), merges,
      onLevelRows = rowsHook) { (lvl, v) =>
      val r = v.agg(
        sum(expr("cnt * size(split(seq, ' '))")).as("ns"),
        sum("cnt").as("nw")).head()
      // empty corpus → null sums: report exact zeros, don't NPE
      levels += ((lvl, if (r.isNullAt(0)) 0L else r.getLong(0),
        if (r.isNullAt(1)) 0L else r.getLong(1)))
    }
    graft.Scratch.release(dir)
    levels.result().toDF("step", "n_symbols", "n_words")
  }

  /** Train on a prebuilt (w, seq, cnt) vocab and return the FINAL
    * vocab level — the word → subword map the s52 mirror broadcasts at
    * publish. The final barrier stays live behind the returned plan
    * (global reset reclaims it).
    */
  private[graft] def bpeFinalVocab(vocab0: DataFrame, merges: Int,
      localBound: Long = LocalBpeBound): DataFrame =
    bpeLoop(vocab0, merges, localBound)((_, _) => ())._2

  /** The shared BPE training loop: barrier-materialized vocab per
    * level, deterministic argmax, doubled-space merge application.
    * Columns besides `seq` (word keys, counts) ride through every
    * rewrite untouched. `onLevel` fires for level 0 and after every
    * merge (the p197 hook). Returns the learned (step, pair, freq)
    * merges in order, the final vocab, and its still-live barrier dir
    * — the CALLER releases it (or leaves it to the global reset when
    * the returned plan reads it).
    */
  /** Vocab-row bound under which the BPE merge loop runs DRIVER-LOCAL
    * (the [[Dedup.components]] LocalCcBound discipline): the vocab is
    * bounded by |distinct words|, orders of magnitude below corpus
    * size, and each distributed round costs 2+ whole Spark jobs
    * (argmax + barrier) of pure scheduling overhead when the vocab is
    * small — measured 3–6 s per BPE gate at sf0.1 for work a single
    * thread finishes in milliseconds (optimization guide §1.2: fix the
    * algorithm's constant passes before per-task work). The local loop
    * reproduces the distributed semantics BIT-EXACTLY: same pair
    * counting, same (freq DESC, pair ASC) argmax under UTF8 binary
    * order (Spark's string ordering — NOT Java String order, which
    * diverges on supplementary characters), same doubled-separator
    * left-to-right replace, same space-only trim. A spec asserts
    * local == forced-distributed merge-for-merge. Production vocabs
    * past the bound (a 100 TB corpus's ~10M-word vocab) keep the
    * distributed loop.
    */
  private[graft] val LocalBpeBound = 200000L

  /** Unsigned UTF-8 byte order — Spark's UTF8String binary comparison,
    * which the distributed argmax's `pair ASC` tiebreak uses.
    */
  private def utf8Less(a: String, b: String): Boolean = {
    val x = a.getBytes("UTF-8"); val y = b.getBytes("UTF-8")
    val n = math.min(x.length, y.length)
    var i = 0
    while (i < n) {
      val d = (x(i) & 0xFF) - (y(i) & 0xFF)
      if (d != 0) return d < 0
      i += 1
    }
    x.length < y.length
  }

  /** Space-only trim (Spark's `trim` default trims ' ' alone; Java
    * String.trim strips all chars <= U+0020 and would corrupt a word
    * whose first char is a control character).
    */
  private def trimSpaces(s: String): String = {
    var i = 0; var j = s.length
    while (i < j && s.charAt(i) == ' ') i += 1
    while (j > i && s.charAt(j - 1) == ' ') j -= 1
    s.substring(i, j)
  }

  /** The driver-local BPE loop behind [[bpeLoop]]'s small-vocab fast
    * path: operates on the collected vocab rows, rewriting only `seq`
    * (all other columns ride through, as in the distributed form) and
    * re-surfacing each level to `onLevel` as a local DataFrame so the
    * p197 curve hook runs unchanged.
    */
  private def bpeLoopLocal(vocab: DataFrame,
      dir: org.apache.hadoop.fs.Path, merges: Int,
      onLevelRows: (Int, Array[org.apache.spark.sql.Row], Int, Int)
        => Unit = null)(
      onLevel: (Int, DataFrame) => Unit): (Seq[(Int, String, Long)],
        DataFrame, org.apache.hadoop.fs.Path) = {
    val s = vocab.sparkSession
    val schema = vocab.schema
    val seqIdx = schema.fieldIndex("seq")
    val cntIdx = schema.fieldIndex("cnt")
    var rows: Array[org.apache.spark.sql.Row] = vocab.collect()
    def df(rs: Array[org.apache.spark.sql.Row]): DataFrame =
      s.createDataFrame(java.util.Arrays.asList(rs: _*), schema)
    // the level hook: driver-side consumers (the p197 curve) take the
    // rows directly — a per-level LocalRelation aggregate job would
    // otherwise cost ~0.1 s × (merges + 1) of pure scheduling
    def fire(lvl: Int): Unit =
      if (onLevelRows != null) onLevelRows(lvl, rows, seqIdx, cntIdx)
      else onLevel(lvl, df(rows))
    fire(0)
    val learned = Seq.newBuilder[(Int, String, Long)]
    var step = 0
    var exhausted = false
    while (step < merges && !exhausted) {
      step += 1
      val counts = new scala.collection.mutable.HashMap[String, Long]
      rows.foreach { r =>
        val syms = r.getString(seqIdx).split(" ", -1)
        if (syms.length >= 2) {
          val c = r.getAs[Number](cntIdx).longValue()
          var i = 0
          while (i < syms.length - 1) {
            val p = syms(i) + " " + syms(i + 1)
            counts.update(p, counts.getOrElse(p, 0L) + c)
            i += 1
          }
        }
      }
      if (counts.isEmpty) exhausted = true
      else {
        var bestPair: String = null
        var bestFreq = 0L
        counts.foreach { case (p, f) =>
          if (bestPair == null || f > bestFreq ||
            (f == bestFreq && utf8Less(p, bestPair))) {
            bestPair = p; bestFreq = f
          }
        }
        learned += ((step, bestPair, bestFreq))
        // the distributed rewrite verbatim: double every separator,
        // replace the doubled pattern left-to-right non-overlapping
        // (Java String.replace == Spark StringReplace semantics),
        // collapse, space-trim
        val pattern = " " + bestPair.replace(" ", "  ") + " "
        val mergedRep = " " + bestPair.replace(" ", "") + " "
        rows = rows.map { r =>
          val doubled =
            " " + r.getString(seqIdx).replace(" ", "  ") + " "
          val out = trimSpaces(
            doubled.replace(pattern, mergedRep).replace("  ", " "))
          if (out == r.getString(seqIdx)) r
          else org.apache.spark.sql.Row.fromSeq(
            r.toSeq.updated(seqIdx, out))
        }
        fire(step)
      }
    }
    (learned.result(), df(rows), dir)
  }

  private def bpeLoop(vocab0: DataFrame, merges: Int,
      localBound: Long = LocalBpeBound,
      onLevelRows: (Int, Array[org.apache.spark.sql.Row], Int, Int)
        => Unit = null)(
      onLevel: (Int, DataFrame) => Unit): (Seq[(Int, String, Long)],
        DataFrame, org.apache.hadoop.fs.Path) = {
    val pairsOf = expr(
      "transform(sequence(1, size(split(seq, ' ')) - 1), " +
        "i -> concat(element_at(split(seq, ' '), i), ' ', " +
        "element_at(split(seq, ' '), i + 1)))")
    var (vocab, dir) =
      Dedup.materializeBarrierAt(vocab0, "bpe-v0")
    if (Dedup.barrierRowCount(vocab0.sparkSession, dir) <= localBound)
      return bpeLoopLocal(vocab, dir, merges, onLevelRows)(onLevel)
    onLevel(0, vocab)
    val learned = Seq.newBuilder[(Int, String, Long)]
    var step = 0
    var exhausted = false
    while (step < merges && !exhausted) {
      step += 1
      val top = vocab
        .filter(size(split(col("seq"), " ")) >= 2)
        .select(explode(pairsOf).as("pair"), col("cnt"))
        .groupBy("pair").agg(sum("cnt").as("freq"))
        .orderBy(col("freq").desc, col("pair")).limit(1)
        .take(1)
      if (top.isEmpty) {
        // the pair supply ran dry before `merges` rounds (every word
        // is one symbol): stop early, exactly like subword-nmt
        exhausted = true
      } else {
        val best = top.head
        val (pair, freq) = (best.getString(0), best.getLong(1))
        learned += ((step, pair, freq))
        val doubled = concat(lit(" "),
          replace(col("seq"), lit(" "), lit("  ")), lit(" "))
        // the search pattern lives in DOUBLED space: "a b" → " a  b "
        val others = vocab.columns.filterNot(_ == "seq").map(col)
        val next = vocab.select(
          trim(replace(replace(doubled,
            lit(" " + pair.replace(" ", "  ") + " "),
            lit(" " + pair.replace(" ", "") + " ")),
            lit("  "), lit(" "))).as("seq") +: others.toSeq: _*)
        val (nv, nd) = Dedup.materializeBarrierAt(next, s"bpe-v$step")
        graft.Scratch.release(dir)
        vocab = nv; dir = nd
        onLevel(step, vocab)
      }
    }
    (learned.result(), vocab, dir)
  }
  /** Per-document keyword extraction by tf/df score: tokens frequent IN
    * this doc but rare ACROSS docs rank first (TF-IDF's ordering with a
    * rational score instead of a log — ln(x) is not bit-identical
    * across engines' libm, tf/df's single IEEE division is, so the
    * cross-engine oracle can gate the exact ranks).
    *
    * Scale shape: one token explode, two partial-aggregable counts
    * (per-doc tf, then vocabulary df from the tf table — NOT a second
    * corpus pass), a vocabulary-keyed join, one doc-keyed window.
    */
  def keywords(df: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", k: Int = 3): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val toks = df.select(col(idCol),
      explode(tokens(lower(col(textCol)))).as("token"))
    val tf = toks.groupBy(idCol, "token").agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy("token").agg(count(lit(1)).as("df_docs"))
    val w = Window.partitionBy(idCol)
      .orderBy(col("score_raw").desc, col("token"))
    tf.join(dfreq, Seq("token"))
      .withColumn("score_raw", col("tf").cast("double") / col("df_docs"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col(idCol), col("token"), col("tf"), col("df_docs"),
        round(col("score_raw"), 6).as("score"), col("rank"))
  }
  /** Canonical text form for content hashing: NFC-normalize, lowercase,
    * collapse whitespace runs, trim. Canonicalization BEFORE digesting
    * is what lets exact dedup unify byte-different renderings of the
    * same content (composed vs decomposed accents, case, ragged
    * whitespace). Narrow codegen'd transform — the NFC pass
    * short-circuits on already-normalized (e.g. pure-ASCII) text.
    */
  def canonicalText(text: Column): Column = {
    import org.apache.spark.sql.graft.VectorExpressions
    VectorExpressions.nfcNormalize(
      lower(trim(regexp_replace(text, "\\s+", " "))))
  }

  /** Unigram language-model quality proxy: per document, the mean
    * log(document frequency) of its tokens — the cheap stand-in for a
    * KenLM-style perplexity filter (rare-token-heavy documents score
    * low, boilerplate scores high). Corpus DF is a partial-aggregable
    * count-distinct; the token→df join shuffles on token with map-side
    * combined tf rows, never full text. Per-doc mean of ≤ thousands of
    * doubles → ROUND 6 (the per-row-math determinism rule).
    */
  def lmScore(df: DataFrame, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    val tok = df.select(col(idCol).as("id"),
      explode(tokens(col(textCol))).as("token"))
    val dfreq = tok.groupBy("token").agg(countDistinct("id").as("tdf"))
    tok.join(dfreq, Seq("token"))
      .groupBy("id")
      .agg(count(lit(1)).as("n_tokens"),
        round(avg(log(col("tdf"))), 6).as("lm_score"))
      .select(col("id").as(idCol), col("n_tokens"), col("lm_score"))
  }

  /** Bigram language-model quality proxy (the CCNet/KenLM-shaped step
    * up from [[lmScore]]'s unigram DF): per document, the mean over
    * adjacent lowercase token pairs of
    * ln((c(w1,w2) + 1) / (c(w1) + V)) — add-one-smoothed conditional
    * log-probability under corpus-wide counts, V = unigram vocabulary
    * size. Natural text scores near the corpus ceiling; shuffled or
    * rare-continuation text drops toward ln(1/(c+V)). Every count is an
    * exact int64; each term is ONE double division of exact ints inside
    * ln; the per-doc mean rides avg + ROUND 6 (the p57 rule). Shape:
    * one tokenize feeds bigram AND unigram partial-aggregated counts;
    * both count joins ship (token-key, count) pairs, never text; V is
    * a one-row broadcast crossJoin (no collect); the final rollup is an
    * id-keyed partial agg. Docs with < 2 tokens carry n_bigrams = 0 and
    * a NULL score (no smoothing prior can rank an empty context).
    */
  def bigramLmScore(df: DataFrame, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    val toks = df.select(col(idCol).as("id"),
      tokens(lower(col(textCol))).as("tk"))
    val bg = toks.select(col("id"),
      explode(when(size(col("tk")) < 2,
        array().cast("array<struct<w1:string,w2:string>>"))
        .otherwise(zip_with(
          slice(col("tk"), lit(1), size(col("tk")) - 1),
          slice(col("tk"), lit(2), size(col("tk")) - 1),
          (a, b) => struct(a.as("w1"), b.as("w2"))))).as("bg"))
      .select(col("id"), col("bg.w1").as("w1"), col("bg.w2").as("w2"))
    val uni = toks.select(explode(col("tk")).as("w1"))
      .groupBy("w1").agg(count(lit(1)).as("c1"))
    val vocab = uni.agg(count(lit(1)).as("v"))
    val pair = bg.groupBy("w1", "w2").agg(count(lit(1)).as("c12"))
    val scored = bg.join(pair, Seq("w1", "w2")).join(uni, Seq("w1"))
      .crossJoin(broadcast(vocab))
      .groupBy("id")
      .agg(count(lit(1)).as("n_bigrams"),
        round(avg(log((col("c12") + 1).cast("double") /
          (col("c1") + col("v")).cast("double"))), 6).as("bigram_lm"))
    df.select(col(idCol)).join(scored, col(idCol) === col("id"), "left")
      .select(col(idCol),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        col("bigram_lm"))
  }

  /** Trigram stupid-backoff LM scoring (Brants et al., EMNLP'07)
    * against a SEPARATE training corpus — the held-out perplexity
    * filter of the CCNet pipeline: train n-gram counts on a trusted
    * subset, score every document, filter/bucket on the score. Per
    * scoring position i (trigram w1 w2 w3):
    *   S = c(w1w2w3)/c(w1w2)                 if the trigram was seen,
    *     = α · c(w2w3)/c(w2)                 else if the bigram was,
    *     = α² · (c(w3)+1)/(N+V+1)            otherwise (add-one floor,
    *                                          so unseen words never
    *                                          yield ln 0).
    * Output per doc: n_trigrams, backoff_lm = round(avg(ln S), 6), and
    * backoff_frac = fraction of positions that missed the trigram
    * table (a drift signal in its own right: rising backoff_frac means
    * the corpus is sliding away from the training distribution).
    *
    * Distributed shape: counts are three partial-aggregable groupBys
    * over the train tokenization (zip_with slices, no posexplode
    * self-joins); scoring is the exploded trigram relation left-joined
    * to the count tables on gram-component keys; N/V ride a one-row
    * broadcast crossJoin. All ratios are single double-divisions of
    * exact int64 counts in an identical expression tree on both
    * engines (the p81 float rule). At 100 TB the count tables are
    * vocab-sized — broadcastable or shuffle-joined on term keys —
    * and nothing driver-side materializes.
    */
  def stupidBackoffScore(docs: DataFrame, train: DataFrame,
      alpha: Double = 0.4, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame =
    stupidBackoffScoreWith(docs, backoffStats(train, textCol), alpha,
      idCol, textCol)

  /** The four LM count tables [[stupidBackoffScoreWith]] scores
    * against: (uni, bi, tri, totals). The streaming router (s20)
    * materializes these ONCE from the static reference corpus and
    * scores every micro-batch against them — the stats job runs once,
    * batches never rescan the training corpus (the s16 BM25 pattern).
    */
  def backoffStats(train: DataFrame, textCol: String = "text")
      : (DataFrame, DataFrame, DataFrame, DataFrame) = {
    val trToks = train.select(tokens(lower(col(textCol))).as("tk"))
    val uni = trToks.select(explode(col("tk")).as("w"))
      .groupBy("w").agg(count(lit(1)).as("c"))
    val totals = uni.agg(sum("c").as("n"), count(lit(1)).as("v"))
    val bi = trToks.select(explode(bi2(col("tk"))).as("g"))
      .groupBy(col("g.w1").as("w1"), col("g.w2").as("w2"))
      .agg(count(lit(1)).as("c"))
    val tri = trToks.select(explode(tri3(col("tk"))).as("g"))
      .groupBy(col("g.w1").as("w1"), col("g.w2").as("w2"),
        col("g.w3").as("w3"))
      .agg(count(lit(1)).as("c"))
    (uni, bi, tri, totals)
  }

  /** Materialize [[backoffStats]] as parquet barriers so repeated
    * scoring (one call per micro-batch) reads flat vocab-sized tables
    * instead of re-deriving the counts from the corpus every batch.
    */
  def backoffStatsMaterialized(train: DataFrame,
      textCol: String = "text")
      : (DataFrame, DataFrame, DataFrame, DataFrame) = {
    val (uni, bi, tri, totals) = backoffStats(train, textCol)
    (Dedup.materializeBarrier(uni, "lm-uni"),
      Dedup.materializeBarrier(bi, "lm-bi"),
      Dedup.materializeBarrier(tri, "lm-tri"),
      Dedup.materializeBarrier(totals, "lm-totals"))
  }

  private def tri3(t: Column): Column =
      when(size(t) < 3,
        array().cast("array<struct<w1:string,w2:string,w3:string>>"))
        .otherwise(zip_with(
          slice(t, lit(1), size(t) - 2),
          zip_with(slice(t, lit(2), size(t) - 2),
            slice(t, lit(3), size(t) - 2),
            (b, c) => struct(b.as("w2"), c.as("w3"))),
          (a, bc) => struct(a.as("w1"), bc("w2").as("w2"),
            bc("w3").as("w3"))))

  private def bi2(t: Column): Column =
    when(size(t) < 2, array().cast("array<struct<w1:string,w2:string>>"))
      .otherwise(zip_with(slice(t, lit(1), size(t) - 1),
        slice(t, lit(2), size(t) - 1),
        (a, b) => struct(a.as("w1"), b.as("w2"))))

  /** Score `docs` against precomputed [[backoffStats]] tables. */
  def stupidBackoffScoreWith(docs: DataFrame,
      stats: (DataFrame, DataFrame, DataFrame, DataFrame),
      alpha: Double = 0.4, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    val (uni, bi, tri, totals) = stats
    val toks = docs.select(col(idCol).as("id"),
      tokens(lower(col(textCol))).as("tk"))
    val sp = toks.select(col("id"), explode(tri3(col("tk"))).as("g"))
      .select(col("id"), col("g.w1").as("w1"), col("g.w2").as("w2"),
        col("g.w3").as("w3"))
    val joined = sp
      .join(tri.withColumnRenamed("c", "c123"), Seq("w1", "w2", "w3"),
        "left")
      .join(bi.withColumnRenamed("c", "c12"), Seq("w1", "w2"), "left")
      .join(bi.select(col("w1").as("w2"), col("w2").as("w3"),
        col("c").as("c23")), Seq("w2", "w3"), "left")
      .join(uni.select(col("w").as("w2"), col("c").as("c2")), Seq("w2"),
        "left")
      .join(uni.select(col("w").as("w3"), col("c").as("c3")), Seq("w3"),
        "left")
      .crossJoin(broadcast(totals))
    val scored = joined
      .withColumn("s",
        when(col("c123").isNotNull,
          col("c123").cast("double") / col("c12").cast("double"))
          .when(col("c23").isNotNull,
            lit(alpha) * (col("c23").cast("double") /
              col("c2").cast("double")))
          .otherwise(lit(alpha * alpha) *
            ((coalesce(col("c3"), lit(0L)) + 1).cast("double") /
              (col("n") + col("v") + 1).cast("double"))))
      .groupBy("id")
      .agg(count(lit(1)).as("n_trigrams"),
        round(avg(log(col("s"))), 6).as("backoff_lm"),
        round(avg(when(col("c123").isNotNull, 0.0).otherwise(1.0)), 6)
          .as("backoff_frac"))
    docs.select(col(idCol)).join(scored, col(idCol) === col("id"), "left")
      .select(col(idCol),
        coalesce(col("n_trigrams"), lit(0L)).as("n_trigrams"),
        col("backoff_lm"), col("backoff_frac"))
  }

  /** In-engine logistic-regression quality classifier: full-batch
    * gradient descent, `steps` rounds, trained to predict a cheap
    * binary label (here: is-English, the langid-distillation shape —
    * swap the label column for human ratings or cascade verdicts in
    * production) from two text features (ln(1+tokens), chars/token)
    * plus bias. Returns the learned weights and training accuracy.
    *
    * Determinism is the whole trick: a float Σ over the corpus is
    * partition-order-dependent, so each row's gradient contribution is
    * cast to DECIMAL(28,12) FIRST and summed exactly (decimal addition
    * is associative) — the sum is bit-identical on any partitioning
    * and in the DuckDB oracle. Step 1's σ(0)=0.5 is exact; later steps'
    * exp() is the same IEEE double on both engines for identical
    * inputs. Accuracy thresholds on z ≥ 0 (not σ ≥ ½), avoiding exp at
    * the decision boundary entirely.
    *
    * Distributed shape: the feature table is one narrow corpus scan
    * materialized as a barrier; each GD step is ONE partial-aggregable
    * job over it (three decimal sums), and the weight vector rides a
    * 1-row broadcast crossJoin into the next step — no driver-side
    * collect, no per-step corpus rescan. The classic "ML on the
    * engine" layout: at 100 TB each epoch is a single map-reduce.
    */
  /** Shared fit behind [[logregQuality]] and [[classifierEval]]: the
    * 3-feature logistic regression (bias, log tokens, chars/token;
    * label = `posLang`) trained by `steps` full-batch GD steps.
    * Returns the feature barrier and the broadcast 1-row weight table.
    * All the determinism discipline lives here: per-row gradient terms
    * cast to DECIMAL(28,12) BEFORE summing (decimal addition is
    * associative → partition-order-independent and engine-portable).
    */
  /** The tokenizing corpus pass of [[logregFit]], materialized ONCE as
    * a (lang, x0, x1, x2) barrier: the label column is kept raw so
    * DIFFERENT scenarios (posLang values) can derive their y from the
    * same barrier instead of re-tokenizing the corpus per scenario
    * (optimization guide §1.2 — p169's three scenarios paid three
    * regexp-tokenization passes for one corpus; measured in r14).
    */
  private[graft] def logregLangFeats(docs: DataFrame, langCol: String,
      textCol: String): DataFrame = {
    val nt = tokenCount(col(textCol))
    // NOT fanned out (r15, measured): the write-side tokenize gains
    // from parallelism, but the fit loop scans this barrier once per
    // gradient step — a 32-file barrier made every step a 32-task job
    // and the family read 13-28% slower; the single-split write keeps
    // the barrier one file, which is what the iterative consumer wants
    Dedup.materializeBarrier(
      docs.filter(nt > 0).select(
        col(langCol).as("_lang"),
        lit(1.0).as("x0"),
        log(lit(1.0) + nt.cast("double")).as("x1"),
        (length(col(textCol)).cast("double") / nt.cast("double"))
          .as("x2")),
      "logreg-feats")
  }

  private[graft] def logregFit(docs: DataFrame, steps: Int, lr: Double,
      posLang: String, langCol: String, textCol: String,
      localBound: Int = LocalLogregBound): (DataFrame, DataFrame) =
    logregFitFromLangFeats(logregLangFeats(docs, langCol, textCol),
      steps, lr, posLang, localBound)

  /** Row bound under which the gradient loop runs DRIVER-LOCAL (the
    * r14 BPE LocalBpeBound discipline): 2M (y, x0, x1, x2) rows is
    * ~64 MB on the driver, far under any sane driver heap. Past the
    * bound the distributed loop below runs unchanged; `localBound = 0`
    * forces it (the local==distributed pinning spec).
    */
  private[graft] val LocalLogregBound = 2000000

  private[graft] def logregFitFromLangFeats(langFeats: DataFrame,
      steps: Int, lr: Double, posLang: String,
      localBound: Int = LocalLogregBound): (DataFrame, DataFrame) = {
    val spark = langFeats.sparkSession
    // y is a cheap projection over the barrier — bit-identical to the
    // old barrier-held y (same when() expression over the same lang)
    val feats = langFeats.select(
      when(col("_lang") === posLang, 1.0).otherwise(0.0).as("y"),
      col("x0"), col("x1"), col("x2"))
    import spark.implicits._
    // Bounded DRIVER-LOCAL loop (guide §1.2: the per-step work is a
    // fixed-size agg over a small barrier, but each step paid an agg
    // job + a 1-row barrier write + a read-back — pure scheduling; at
    // gate scale the fits were ~60 jobs of ~50 ms each). The local
    // arithmetic is BIT-EXACT to the distributed form: the gradient
    // accumulators are the same double→DECIMAL(28,12) HALF_UP casts
    // summed exactly (decimal addition is order-independent, which is
    // WHY the distributed form could use it), z/sig/update are the
    // same IEEE expressions in the same association order, and a
    // non-finite product is skipped exactly like Spark's
    // double→decimal cast yielding null into sum. A spec pins local ==
    // forced-distributed weights bit-for-bit. Corpora past the bound
    // keep the distributed loop unchanged.
    val localRows: Array[org.apache.spark.sql.Row] =
      if (localBound <= 0) null
      else {
        val r = feats.limit(localBound + 1).collect()
        // empty corpus falls through to the distributed form so the
        // null-propagating sum-of-nothing semantics stay identical
        if (r.length > localBound || r.isEmpty) null else r
      }
    if (localRows != null) {
      def dec12(v: Double): java.math.BigDecimal =
        java.math.BigDecimal.valueOf(v)
          .setScale(12, java.math.RoundingMode.HALF_UP)
      val m = localRows.length.toDouble
      var w0 = 0.0; var w1 = 0.0; var w2 = 0.0
      for (_ <- 1 to steps) {
        var g0 = java.math.BigDecimal.ZERO
        var g1 = java.math.BigDecimal.ZERO
        var g2 = java.math.BigDecimal.ZERO
        var i = 0
        while (i < localRows.length) {
          val r = localRows(i)
          val y = r.getDouble(0)
          val x0 = r.getDouble(1); val x1 = r.getDouble(2)
          val x2 = r.getDouble(3)
          val z = w0 * x0 + w1 * x1 + w2 * x2
          val sig = 1.0 / (1.0 + math.exp(-z))
          val d = sig - y
          val v0 = d * x0; val v1 = d * x1; val v2 = d * x2
          if (java.lang.Double.isFinite(v0)) g0 = g0.add(dec12(v0))
          if (java.lang.Double.isFinite(v1)) g1 = g1.add(dec12(v1))
          if (java.lang.Double.isFinite(v2)) g2 = g2.add(dec12(v2))
          i += 1
        }
        w0 = w0 - lr * (g0.doubleValue / m)
        w1 = w1 - lr * (g1.doubleValue / m)
        w2 = w2 - lr * (g2.doubleValue / m)
      }
      return (feats, broadcast(Seq((w0, w1, w2)).toDF("w0", "w1", "w2")))
    }
    val m = feats.agg(count(lit(1)).as("m"))
    var w: DataFrame = broadcast(
      Seq((0.0, 0.0, 0.0)).toDF("w0", "w1", "w2"))
    for (_ <- 1 to steps) {
      val wPrev = w
      val z = col("w0") * col("x0") + col("w1") * col("x1") +
        col("w2") * col("x2")
      val sig = lit(1.0) / (lit(1.0) + exp(-z))
      def g(k: Int) =
        sum(((sig - col("y")) * col(s"x$k")).cast("decimal(28,12)"))
          .cast("double").as(s"g$k")
      val grads = feats.crossJoin(wPrev).agg(g(0), g(1), g(2))
      val next = grads.crossJoin(wPrev).crossJoin(broadcast(m)).select(
        (col("w0") - lit(lr) * (col("g0") / col("m").cast("double")))
          .as("w0"),
        (col("w1") - lit(lr) * (col("g1") / col("m").cast("double")))
          .as("w1"),
        (col("w2") - lit(lr) * (col("g2") / col("m").cast("double")))
          .as("w2"))
      // 1-row barrier: keeps each step's plan flat (and the weights
      // computed once, not re-derived by every downstream branch)
      w = broadcast(Dedup.materializeBarrier(next, "logreg-w"))
    }
    (feats, w)
  }

  def logregQuality(docs: DataFrame, steps: Int = 3, lr: Double = 1.0,
      langCol: String = "lang", textCol: String = "text"): DataFrame = {
    val (feats, w) = logregFit(docs, steps, lr, "en", langCol, textCol)
    val zF = col("w0") * col("x0") + col("w1") * col("x1") +
      col("w2") * col("x2")
    val acc = feats.crossJoin(w)
      .agg((sum(when((zF >= 0) === (col("y") === 1.0), 1L).otherwise(0L))
        .cast("double") / count(lit(1)).cast("double")).as("a"))
    val weights = w.select(
      explode(map(
        lit("bias"), round(col("w0"), 6),
        lit("log_tokens"), round(col("w1"), 6),
        lit("chars_per_token"), round(col("w2"), 6)))
        .as(Seq("feature", "weight")))
    weights.unionAll(acc.select(lit("train_acc").as("feature"),
      round(col("a"), 6).as("weight")))
  }

  /** AUC + calibration readout for the [[logregQuality]] classifier —
    * the evaluation half of the train→evaluate loop (VERDICT r10
    * task 5). AUC is the EXACT-rank Mann-Whitney statistic with
    * midrank tie handling: group rows by (6-decimal-rounded) score,
    * rank the distinct-score groups via [[Corpus.withGlobalOrder]]
    * (below_s = exclusive prefix count), and use
    * 2·R_pos = Σ_s n_pos(s)·(2·below_s + c_s + 1) so every rank sum is
    * exact integer arithmetic — no trapezoid floats, no per-row window
    * over the corpus. The Σ terms are DECIMAL(18,0)×DECIMAL(18,0)
    * products (≤37 digits, exact in both engines up to ~10^12 rows —
    * int64 would overflow at ~10^9); only the final
    * (2R_pos − n_pos(n_pos+1)) / (2·n_pos·n_neg) division is floating.
    * Degenerate inputs (no positives or no negatives) → NULL auc,
    * `guarded` true; an all-tied score column (steps=0 → w=0 → every
    * p=0.5) lands exactly at auc=0.5 through the midrank path.
    *
    * The reliability table buckets predicted probability into `nBins`
    * equal-width bins (last bin closed): per bin the row count, mean
    * predicted p (DECIMAL(28,12) fixed-association sum / n), and the
    * observed positive fraction — the curve a calibration plot draws.
    *
    * Distributed shape: one feature scan into a (p, y) projection, one
    * |distinct p|-keyed partial-agg groupBy, the two-phase global
    * cumsum over that (already reduced) table, one nBins-row groupBy,
    * and 1-row broadcast summaries. Nothing corpus-wide crosses a
    * second shuffle; no window ever partitions by a data-sized key.
    */
  def classifierEval(docs: DataFrame, steps: Int = 3, lr: Double = 1.0,
      nBins: Int = 10, posLang: String = "en",
      langCol: String = "lang", textCol: String = "text"): DataFrame =
    classifierEvalFromLangFeats(
      logregLangFeats(docs, langCol, textCol), steps, lr, nBins, posLang)

  /** [[classifierEval]] over a PRE-TOKENIZED [[logregLangFeats]] barrier
    * — the multi-scenario entry point (p169 runs three scenarios over
    * ONE corpus pass; each scenario's y/fit/readout is unchanged).
    */
  private[graft] def classifierEvalFromLangFeats(langFeats: DataFrame,
      steps: Int, lr: Double, nBins: Int, posLang: String): DataFrame = {
    require(nBins >= 2 && nBins <= 1000, s"bad nBins $nBins")
    val (feats, w) = logregFitFromLangFeats(langFeats, steps, lr, posLang)
    val z = col("w0") * col("x0") + col("w1") * col("x1") +
      col("w2") * col("x2")
    // 6-decimal rounding BEFORE ranking/binning: the comparison and
    // tie structure can't flip on an exp ulp between engines
    val scored = feats.crossJoin(w)
      .select(col("y").cast("long").as("yl"),
        round(lit(1.0) / (lit(1.0) + exp(-z)), 6).as("p"))
    val summ = midrankAuc(scored)
    val bins = scored.groupBy(
        least(floor(col("p") * nBins), lit(nBins - 1).cast("long"))
          .cast("int").as("bin"))
      .agg(count(lit(1)).cast("long").as("n_bin"),
        round(sum(col("p").cast("decimal(28,12)")).cast("double") /
          count(lit(1)).cast("double"), 6).as("mean_p"),
        round(sum(col("yl")).cast("double") /
          count(lit(1)).cast("double"), 6).as("frac_pos"))
    bins.crossJoin(broadcast(summ)).orderBy("bin")
  }

  /** The exact-rank Mann-Whitney AUC core behind [[classifierEval]]:
    * input is a (`yl` ∈ {0,1}, `p`) relation; output one row of
    * (auc, n_pos, n_neg, guarded). See classifierEval for the midrank
    * algebra and the DECIMAL(18,0) exactness argument. Kept separate
    * so the midrank math is fuzz-testable against naive O(n²)
    * pair counting on arbitrary tied inputs.
    */
  private[graft] def midrankAuc(scored: DataFrame): DataFrame =
    midrankAucFromCounts(scored.groupBy("p").agg(
      count(lit(1)).cast("long").as("c"),
      sum(col("yl")).cast("long").as("np")))

  /** [[midrankAuc]]'s readout stage over a PRE-AGGREGATED score
    * histogram (`p`, `c`, `np`) — the seam the s41 streaming mirror
    * shares: its carried state is per-batch (score, count, positives)
    * partials, which merge by sum into exactly this table, so the
    * streamed AUC flows through the identical rank arithmetic as the
    * batch gate.
    */
  private[graft] def midrankAucFromCounts(g: DataFrame): DataFrame = {
    val ordered = Corpus.withGlobalOrder(g, Seq(col("p")), col("c"))
    val d18 = "decimal(18,0)"
    val tot = ordered.agg(
      coalesce(sum(col("np").cast(d18) *
        ((col("cum") - col("c")) * 2 + col("c") + 1).cast(d18)),
        lit(0).cast(d18)).as("r2"),
      coalesce(sum(col("np")), lit(0L)).cast(d18).as("npos"),
      coalesce(sum(col("c") - col("np")), lit(0L)).cast(d18).as("nneg"))
    val okC = col("npos") > 0 && col("nneg") > 0
    tot.select(
      round(when(okC,
        (col("r2") - col("npos") * (col("npos") + 1)).cast("double") /
          (col("npos") * col("nneg") * 2).cast("double")), 6).as("auc"),
      col("npos").cast("long").as("n_pos"),
      col("nneg").cast("long").as("n_neg"),
      coalesce(!okC, lit(true)).as("guarded"))
  }

  /** Classifier operating points ([[classifierEval]]'s companion): the
    * precision / recall / F1 table at the nine decision thresholds
    * 0.1 … 0.9 — the readout that turns "AUC 0.52" into "at cut 0.3
    * you keep X% of good docs and let through Y% of bad ones", which
    * is what a filtering pipeline actually tunes. All 27 confusion
    * counters (tp/fp/fn per threshold) collapse in ONE scalar
    * aggregate over one scan of the scored relation — the p167
    * pivoted-counter trick — and the 9 report rows explode from that
    * single row; every ratio is a guarded division of exact int64
    * counts. Threshold literals are written identically in the oracle,
    * and scores are 6-decimal-rounded before comparing, so no cut can
    * flip on a float ulp between engines.
    */
  def operatingPoints(docs: DataFrame, steps: Int = 3, lr: Double = 1.0,
      posLang: String = "en", langCol: String = "lang",
      textCol: String = "text",
      ths: Seq[Double] = (1 to 9).map(_ / 10.0)): DataFrame = {
    require(ths.nonEmpty && ths.size <= 64, s"bad cut count ${ths.size}")
    val (feats, w) = logregFit(docs, steps, lr, posLang, langCol, textCol)
    val z = col("w0") * col("x0") + col("w1") * col("x1") +
      col("w2") * col("x2")
    val scored = feats.crossJoin(w)
      .select(col("y").cast("long").as("yl"),
        round(lit(1.0) / (lit(1.0) + exp(-z)), 6).as("p"))
    val aggs = ths.zipWithIndex.flatMap { case (t, i) => Seq(
      coalesce(sum(when(col("p") >= t, col("yl")).otherwise(0L)),
        lit(0L)).cast("long").as(s"tp_$i"),
      coalesce(sum(when(col("p") >= t, lit(1L) - col("yl"))
        .otherwise(0L)), lit(0L)).cast("long").as(s"fp_$i"),
      coalesce(sum(when(col("p") < t && col("yl") === 1L, 1L)
        .otherwise(0L)), lit(0L)).cast("long").as(s"fn_$i")) }
    val pivot = scored.agg(aggs.head, aggs.tail: _*)
    val rows = pivot.select(explode(array(
      ths.zipWithIndex.map { case (t, i) => struct(
        lit(t).as("threshold"), col(s"tp_$i").as("tp"),
        col(s"fp_$i").as("fp"), col(s"fn_$i").as("fn")) }: _*))
      .as("pt")).select(col("pt.*"))
    val prec = when(col("tp") + col("fp") > 0,
      col("tp").cast("double") / (col("tp") + col("fp")).cast("double"))
    val rec = when(col("tp") + col("fn") > 0,
      col("tp").cast("double") / (col("tp") + col("fn")).cast("double"))
    val f1 = when(prec + rec > 0,
      lit(2.0) * prec * rec / (prec + rec))
    // "prec"/"rec", not "precision"/"recall": PRECISION is a reserved
    // type keyword in ANSI SQL / DuckDB, and the oracle must alias the
    // same names
    rows.select(col("threshold"), col("tp"), col("fp"), col("fn"),
        round(prec, 6).as("prec"), round(rec, 6).as("rec"),
        round(f1, 6).as("f1"))
      .orderBy("threshold")
  }

  /** Isotonic (pool-adjacent-violators) calibration of the quality
    * classifier over score bins — the post-hoc step that turns a
    * model's raw sigmoid into an honest probability (a score of 0.03
    * should mean "3% of such docs are positive"; a 1-step logreg's
    * raw sigmoid usually doesn't). PAV is the classic sequential
    * pooling algorithm, but its solution has a CLOSED FORM — the
    * minimax identity ŷ_i = max_{j≤i} min_{k≥i} mean(y over bins
    * j..k) (Robertson–Wright–Dykstra, Order Restricted Statistical
    * Inference §1.4) — which needs no sequential state at all: with
    * B score bins it is two bounded joins over a ≤B-row table.
    *
    * Exactness: bin rates are exact int64 (pos, n) prefix sums; every
    * span mean is ONE double division of those integers, and min/max
    * over doubles is order-free — no float accumulation anywhere, so
    * the oracle replays bit-identical values.
    *
    * Distributed shape: one corpus scan → B-row hash aggregate
    * (partial combine); prefix sums ride a [[Corpus.boundedKey]]
    * window over ≤B rows; the span/minimax joins are broadcast
    * products of that B-row table (B² spans, B³ join rows — literal
    * constants, never data cardinality).
    */
  def isotonicCalibration(docs: DataFrame, steps: Int = 1,
      lr: Double = 1.0, posLang: String = "en",
      langCol: String = "lang", textCol: String = "text",
      nBins: Int = 100): DataFrame = {
    require(nBins >= 2 && nBins <= 256, s"bad bin count $nBins")
    val (feats, w) = logregFit(docs, steps, lr, posLang, langCol,
      textCol)
    val z = col("w0") * col("x0") + col("w1") * col("x1") +
      col("w2") * col("x2")
    val scored = feats.crossJoin(w).select(
      col("y").cast("long").as("yl"),
      round(lit(1.0) / (lit(1.0) + exp(-z)), 6).as("p"))
    val bins = scored
      .select(least(floor(col("p") * nBins), lit(nBins - 1L))
        .cast("long").as("bin"), col("yl"))
      .groupBy("bin").agg(count(lit(1)).cast("long").as("n"),
        coalesce(sum(col("yl")), lit(0L)).cast("long").as("pos"))
    pavFit(bins)
  }

  /** The minimax PAV core of [[isotonicCalibration]], over an already
    * bounded `(bin, n, pos)` table — separated so the spec can feed a
    * synthetic violating bin profile (the corpus' own bins may come
    * out monotone, leaving the pooling path unexercised). Same
    * closed-form identity and exactness argument as the caller doc.
    */
  private[graft] def pavFit(bins: DataFrame): DataFrame = {
    val W = org.apache.spark.sql.expressions.Window
    val wb = W.partitionBy(Corpus.boundedKey(col("bin")))
      .orderBy(col("bin"))
    val pre = bins
      .withColumn("pre_n", coalesce(sum(col("n"))
        .over(wb.rowsBetween(W.unboundedPreceding, -1)), lit(0L)))
      .withColumn("pre_pos", coalesce(sum(col("pos"))
        .over(wb.rowsBetween(W.unboundedPreceding, -1)), lit(0L)))
      .withColumn("cum_n", col("pre_n") + col("n"))
      .withColumn("cum_pos", col("pre_pos") + col("pos"))
    // spans j..k over nonempty bins: mean = (cum_k − pre_j) ratio of
    // exact int64 sums; the span always contains bin j ⇒ denominator
    // strictly positive (the when() keeps ANSI division total)
    val spans = pre.select(col("bin").as("j"), col("pre_n").as("jn"),
        col("pre_pos").as("jp"))
      .crossJoin(pre.select(col("bin").as("k"), col("cum_n").as("kn"),
        col("cum_pos").as("kp")))
      .filter(col("j") <= col("k"))
      .select(col("j"), col("k"),
        when(col("kn") - col("jn") > 0,
          (col("kp") - col("jp")).cast("double") /
            (col("kn") - col("jn")).cast("double")).as("rate"))
    val fitted = pre.select(col("bin"), col("n"), col("pos"))
      .join(spans,
        col("j") <= col("bin") && col("bin") <= col("k"))
      .groupBy("bin", "n", "pos", "j")
      .agg(min(col("rate")).as("mnr"))
      .groupBy("bin", "n", "pos")
      .agg(max(col("mnr")).as("fitted"))
    fitted.select(col("bin"), col("n"), col("pos"),
      round(when(col("n") > 0,
        col("pos").cast("double") / col("n").cast("double")), 6)
        .as("raw_rate"),
      round(col("fitted"), 6).as("fitted_rate"))
      .orderBy("bin")
  }

  /** Score a document relation with an already-fit [[logregFit]]
    * weight row (offline-trained model, online scoring — the s41
    * streaming evaluation shape): recompute the three features inline
    * (no barrier; the caller streams batches) and emit the (label,
    * 6-decimal sigmoid) pairs [[midrankAuc]] consumes.
    */
  private[graft] def logregScore(docs: DataFrame, w: DataFrame,
      posLang: String = "en", langCol: String = "lang",
      textCol: String = "text"): DataFrame = {
    val nt = tokenCount(col(textCol))
    val feats = docs.filter(nt > 0).select(
      when(col(langCol) === posLang, 1L).otherwise(0L).as("yl"),
      lit(1.0).as("x0"),
      log(lit(1.0) + nt.cast("double")).as("x1"),
      (length(col(textCol)).cast("double") / nt.cast("double"))
        .as("x2"))
    val z = col("w0") * col("x0") + col("w1") * col("x1") +
      col("w2") * col("x2")
    feats.crossJoin(w)
      .select(col("yl"),
        round(lit(1.0) / (lit(1.0) + exp(-z)), 6).as("p"))
  }

  /** CCNet-style head/middle/tail perplexity bucketing (Wenzek et al.,
    * LREC'20): rank each language's documents by held-out LM score
    * (best first) and split into thirds — "head" trains verbatim,
    * "middle" gets sampled, "tail" gets dropped or re-filtered. Scores
    * come from [[stupidBackoffScore]]; scoreless docs (< 3 tokens)
    * sort last via a +∞ sentinel (COALESCE is engine-portable where
    * bare NULL ordering is not). Bucket = rank·3 div n in exact
    * integer arithmetic; ties break on doc id, so the cut is
    * deterministic.
    *
    * Scale shape: ranking rides the global-order machinery (range
    * partition + per-partition offsets — p63's pattern) instead of a
    * per-language window sort, so one language dominating the corpus
    * cannot serialize ranking onto one task.
    */
  def perplexityBuckets(docs: DataFrame, train: DataFrame,
      alpha: Double = 0.4, idCol: String = "doc_id",
      langCol: String = "lang", textCol: String = "text"): DataFrame = {
    val scored = stupidBackoffScore(docs, train, alpha, idCol, textCol)
      .select(col(idCol), col("backoff_lm"))
    val base = docs.select(col(idCol), col(langCol))
      .join(scored, Seq(idCol), "left")
      .withColumn("_o", coalesce(col("backoff_lm") * -1, lit(1e18)))
    val ordered = Corpus.withGlobalOrder(base,
      Seq(col(langCol), col("_o"), col(idCol)), lit(1L))
    val offs = ordered.groupBy(langCol)
      .agg(min("pos").as("_p0"), count(lit(1)).as("_n"))
    ordered.join(broadcast(offs), Seq(langCol))
      .select(col(idCol), col(langCol), col("backoff_lm"),
        when(expr("(pos - _p0) * 3 div _n") === 0, "head")
          .when(expr("(pos - _p0) * 3 div _n") === 1, "middle")
          .otherwise("tail").as("ppl_bucket"))
  }

  /** PMI-style collocation extraction: adjacent lowercase token bigrams
    * whose co-occurrence count clears `minCount`, scored by pointwise
    * lift = P(w1 w2) / (P(w1)·P(w2)) = n_pair·N / (n_w1·n_w2) — the
    * standard phrase-mining signal (multi-word expressions score high,
    * chance adjacencies score ~1). Distributed shape: one explode →
    * partial-aggregable pair count, minCount-pruned BEFORE the two
    * unigram joins (the pair table collapses from O(tokens) to the rare
    * survivors, so both joins ship only survivor keys); unigram counts
    * are a second partial agg over the same tokenization. The scalar
    * corpus size N rides a one-row broadcast crossJoin — no collect.
    * All counts are exact int64; lift is one double division of exact
    * integers + ROUND 6, engine-portable. Bigrams come from a
    * zip_with over two array slices — narrow, codegen'd, no
    * posexplode self-join.
    */
  def collocations(df: DataFrame, minCount: Long = 5,
      textCol: String = "text"): DataFrame = {
    val toks = df.select(tokens(lower(col(textCol))).as("tk"))
    val uni = toks.select(explode(col("tk")).as("w"))
      .groupBy("w").agg(count(lit(1)).as("n_w"))
    val total = uni.agg(sum("n_w").as("n_total"))
    val pairs = toks
      .select(explode(when(size(col("tk")) < 2,
        array().cast("array<struct<w1:string,w2:string>>"))
        .otherwise(zip_with(
          slice(col("tk"), lit(1), size(col("tk")) - 1),
          slice(col("tk"), lit(2), size(col("tk")) - 1),
          (a, b) => struct(a.as("w1"), b.as("w2"))))).as("bg"))
      .select(col("bg.w1").as("w1"), col("bg.w2").as("w2"))
      .groupBy("w1", "w2").agg(count(lit(1)).as("n_pair"))
      .filter(col("n_pair") >= minCount)
    pairs
      .join(uni.select(col("w").as("w1"), col("n_w").as("n_w1")), Seq("w1"))
      .join(uni.select(col("w").as("w2"), col("n_w").as("n_w2")), Seq("w2"))
      .crossJoin(broadcast(total))
      .select(col("w1"), col("w2"), col("n_pair"), col("n_w1"),
        col("n_w2"),
        round((col("n_pair") * col("n_total")).cast("double") /
          (col("n_w1") * col("n_w2")).cast("double"), 6).as("lift"))
  }

  /** Quality-filter cascade with REASON ATTRIBUTION: evaluate the
    * ordered rule list and tag each document with the FIRST rule it
    * fails (or `keep`) — the Dolma/RedPajama-style shape where the
    * output of filtering is not just a keep bit but an auditable
    * reason histogram (which rule is doing the cutting, per source, is
    * the first question a curation review asks). All signals are
    * narrow per-row expressions (token count, char count, alpha
    * fraction, duplicate-line fraction) — one codegen'd projection, no
    * shuffle at all; the reason histogram downstream is one
    * partial-aggregable groupBy. Comparisons run on the raw doubles
    * (single divisions of exact ints — engine-portable); outputs are
    * rounded for display.
    */
  def qualityCascade(df: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", langCol: String = "lang",
      allowedLangs: Seq[String] = Seq("en", "de", "fr", "es")): DataFrame = {
    val nt = tokenCount(col(textCol)).cast("long")
    val nc = length(col(textCol)).cast("long")
    val alpha = when(nc === 0, lit(0.0)).otherwise(
      (nc - length(regexp_replace(col(textCol), "[A-Za-z]", "")))
        .cast("double") / nc)
    val ln = split(col(textCol), "\n")
    val dlf = (size(ln) - size(array_distinct(ln))).cast("double") / size(ln)
    df.select(col(idCol), col(langCol), nt.as("nt"), nc.as("nc"),
        alpha.as("alpha"), dlf.as("dlf"))
      .select(col(idCol), col("nt").as("n_tokens"), col("nc").as("n_chars"),
        round(col("alpha"), 6).as("alpha_frac"),
        round(col("dlf"), 6).as("dup_line_frac"),
        when(col("nt") < 15, "too_short")
          .when(col("dlf") > 0.3, "repetitive_lines")
          .when(col("nc") > 500, "too_long")
          .when(col("alpha") < 0.81, "low_alpha")
          .when(!col(langCol).isin(allowedLangs: _*), "lang_filtered")
          .otherwise("keep").as("reason"))
  }

  /** Unsafe-wordlist page filter (the C4 "bad words" rule, Raffel et al.
    * 2020 §2.2: drop any page containing a blocklisted word). Matching
    * is word-boundary BY CONSTRUCTION — whitespace tokenize, strip
    * leading/trailing ASCII punctuation, casefold — so "class" can
    * never match a blocklisted "ass" and "zorblaxx" never matches
    * "zorblax" (substring regexes get both wrong).
    *
    * Scale shape: the list rides along as a literal array (a broadcast
    * in cluster terms) and is probed by a codegen'd higher-order
    * `filter` — a per-row narrow projection with ZERO shuffles, linear
    * in corpus bytes. The explode + join + re-agg alternative would
    * shuffle every (doc, token) pair just to count hits; at realistic
    * list sizes (hundreds to a few thousand entries) the bounded
    * in-loop probe is strictly cheaper.
    */
  def unsafeWordStats(df: DataFrame, words: Seq[String],
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val set = array(words.map(w => lit(w.toLowerCase)): _*)
    val norm = transform(tokens(col(textCol)),
      t => lower(regexp_replace(t, "^[\\p{Punct}]+|[\\p{Punct}]+$", "")))
    df.select(col(idCol), norm.as("toks"))
      .select(col(idCol),
        size(col("toks")).cast("long").as("n_tokens"),
        size(filter(col("toks"), t => array_contains(set, t)))
          .cast("long").as("bad_hits"),
        size(array_intersect(array_distinct(col("toks")), set))
          .cast("long").as("bad_distinct"))
      .withColumn("bad_frac",
        round(when(col("n_tokens") === 0, lit(0.0))
          .otherwise(col("bad_hits").cast("double") /
            col("n_tokens").cast("double")), 6))
      .withColumn("flagged", col("bad_hits") > 0)
  }

  /** Compression-ratio quality signal (Gopher / RefinedWeb): degenerate
    * repetitive text (scraped boilerplate, keyword stuffing, template
    * spam) deflates an order of magnitude better than prose — natural
    * text sits ≥ ~0.4, `spam spam spam …` at ~0.02 — so a single
    * threshold separates them with a wide margin. One zero-shuffle
    * projection over the native [[org.apache.spark.sql.graft
    * .DeflateSize]] expression (codegen'd, one streaming pass per doc).
    */
  def compressionSignal(df: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", flagBelow: Double = 0.25): DataFrame = {
    import org.apache.spark.sql.graft.VectorExpressions
    val nb = octet_length(col(textCol)).cast("long")
    val cb = VectorExpressions.deflateSize(col(textCol))
    val ratio = when(nb === 0, lit(1.0))
      .otherwise(cb.cast("double") / nb.cast("double"))
    df.select(col(idCol),
      nb.as("n_bytes"), cb.as("deflate_bytes"),
      round(ratio, 6).as("compress_ratio"),
      (ratio < flagBelow).as("degenerate"))
  }

  /** Markdown structure profile (format-aware routing: markdown wants
    * structure-preserving extraction, prose wants p75's HTML path,
    * code wants p109's router): per-doc counts of headings, list
    * items, table rows, links, and fenced code blocks, voted 2-of-5
    * into `is_markdown`. Zero-shuffle regex projection; every pattern
    * is classes + bounded repetition (Java ≡ RE2).
    */
  def markdownSignals(df: DataFrame, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    val text = col(textCol)
    val ln = split(text, "\n")
    def nMatch(p: String): Column =
      size(filter(ln, l => l.rlike(p))).cast("long")
    val headings = nMatch("^#{1,6} ")
    val listItems = nMatch("^ {0,3}[-*+] ")
    val tableRows = nMatch("^\\|")
    val links = size(regexp_extract_all(text,
      lit("""\[[^\]]*\]\([^)]*\)"""), lit(0))).cast("long")
    val fences = ((length(text) -
      length(regexp_replace(text, "```", ""))) / 3).cast("long")
    val votes = (headings >= 1).cast("long") +
      (listItems >= 2).cast("long") +
      (tableRows >= 2).cast("long") +
      (links >= 1).cast("long") +
      (fences >= 2).cast("long")
    df.select(col(idCol),
      headings.as("n_headings"), listItems.as("n_list_items"),
      tableRows.as("n_table_rows"), links.as("n_links"),
      fences.as("n_fences"), votes.as("md_votes"),
      (votes >= 2).as("is_markdown"))
  }

  /** Canary-string audit (the memorization-probe pattern: plant unique
    * marker strings in training data, then track exactly where they
    * ended up — which docs, how many copies, how many sources). Raw
    * substring containment, NOT tokenized — a canary embedded mid-token
    * must still count. Scale shape: the canary list explodes per row
    * (|canaries| narrow copies, no shuffle), misses are filtered before
    * the rollup, and only (canary, id, source, n) hit rows — never the
    * text — reach the single partial-aggregable groupBy.
    */
  def canaryHits(df: DataFrame, canaries: Seq[String],
      idCol: String = "doc_id", srcCol: String = "source",
      textCol: String = "text"): DataFrame = {
    val cs = array(canaries.map(lit): _*)
    df.select(col(idCol).as("id"), col(srcCol).as("src"),
        col(textCol).as("txt"), explode(cs).as("canary"))
      .filter(instr(col("txt"), col("canary")) > 0)
      .select(col("canary"), col("id"), col("src"),
        ((length(col("txt")) -
          length(expr("replace(txt, canary, '')"))) /
          length(col("canary"))).cast("long").as("n"))
      .groupBy("canary")
      .agg(count(lit(1)).as("n_docs"),
        sum("n").as("n_occurrences"),
        countDistinct("src").as("n_sources"))
  }

  /** Code-vs-prose detection (the router in front of separate code/text
    * tokenization and mixing weights): five cheap structural signals —
    * `;`/`{`/`}` line endings (fraction AND absolute count, so a code
    * block appended to long prose still trips), indented-line fraction,
    * programming-keyword token hits, symbol density — voted 2-of-5 into
    * `is_code`. Pure per-row regex/array arithmetic: zero shuffles,
    * whole-stage codegen, text never leaves its partition.
    */
  def codeSignals(df: DataFrame, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    val text = col(textCol)
    val ln = split(text, "\n")
    val nLines = size(ln)
    val nCode = size(filter(ln, l => l.rlike("[;{}]\\s*$")))
    val nIndent = size(filter(ln, l => l.rlike("^(  |\\t)")))
    val kws = array(Seq("function", "var", "return", "import", "class",
      "public", "def", "const", "void", "int").map(lit): _*)
    val kwHits = size(filter(tokens(text), t => array_contains(kws, t)))
    val nc = length(text)
    val symDen = when(nc === 0, lit(0.0)).otherwise(
      (nc - length(regexp_replace(text, "[(){};=<>]", "")))
        .cast("double") / nc.cast("double"))
    val codeFrac = nCode.cast("double") / nLines.cast("double")
    val indentFrac = nIndent.cast("double") / nLines.cast("double")
    val votes = (codeFrac >= 0.3).cast("long") +
      (nCode >= 5).cast("long") +
      (indentFrac >= 0.25).cast("long") +
      (kwHits >= 3).cast("long") +
      (symDen >= 0.05).cast("long")
    df.select(col(idCol),
      nLines.cast("long").as("n_lines"),
      nCode.cast("long").as("n_code_lines"),
      kwHits.cast("long").as("kw_hits"),
      round(symDen, 6).as("sym_density"),
      votes.as("code_votes"),
      (votes >= 2).as("is_code"))
  }

  /** Tokenizer fertility per language: chars-per-token by lang bucket —
    * the table a tokenizer audit reads to spot languages the vocabulary
    * serves poorly (high chars/token = heavy fragmentation for BPE, or
    * here the whitespace proxy of it). ONE partial-aggregable groupBy
    * over per-row token/char counts; the ratio is a double division of
    * exact int64 sums + ROUND 6.
    */
  def fertilityByLang(df: DataFrame, langCol: String = "lang",
      textCol: String = "text"): DataFrame =
    df.select(col(langCol),
      tokenCount(col(textCol)).cast("long").as("nt"),
      length(col(textCol)).cast("long").as("nc"))
      .groupBy(langCol)
      .agg(count(lit(1)).as("n_docs"),
        sum("nt").as("n_tokens"),
        sum("nc").as("n_chars"),
        round(sum("nc").cast("double") / sum("nt").cast("double"), 6)
          .as("chars_per_token"))

  /** Flesch reading-ease readability (grade-level routing / curriculum
    * signal). Corpus-scale approximations, both deterministic and
    * RE2-replayable: sentences = runs of terminal punctuation `[.!?]+`
    * (floored at 1), syllables = vowel-group runs `[aeiouy]+` of the
    * lowercased text floored at the word count (vowel runs never span a
    * word boundary — the separator is a non-vowel — so the corpus total
    * equals the per-word sum; the floor supplies the ≥1-syllable-per-
    * word rule without per-word iteration). The score keeps the
    * canonical Flesch coefficients; arithmetic is IEEE double in a fixed
    * association order so an engine replaying the same tree matches
    * bit-exactly. Zero shuffles — a narrow codegen'd projection.
    */
  def readabilitySignals(df: DataFrame, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    val text = col(textCol)
    val nWords = tokenCount(text).cast("long")
    val nSent = greatest(
      size(regexp_extract_all(text, lit("[.!?]+"), lit(0))).cast("long"),
      lit(1L))
    val nSyl = greatest(
      size(regexp_extract_all(lower(text), lit("[aeiouy]+"), lit(0)))
        .cast("long"),
      nWords)
    val flesch = when(nWords === 0, lit(null).cast("double")).otherwise(
      round(
        lit(206.835)
          - lit(1.015) * (nWords.cast("double") / nSent.cast("double"))
          - lit(84.6) * (nSyl.cast("double") / nWords.cast("double")),
        4))
    df.select(col(idCol),
      nWords.as("n_words"), nSent.as("n_sentences"),
      nSyl.as("n_syllables"), flesch.as("flesch"),
      (flesch.isNotNull && flesch >= 50.0).as("easy_read"))
  }

  /** Encoding-damage detection (mojibake / control-character audit — the
    * filter in front of any web-crawl ingest): per-doc counts of
    * U+FFFD replacement chars, C0 control chars (tab/newline/CR exempt),
    * C1 control chars, and the two classic UTF-8-read-as-Latin-1
    * signatures ('Ã' + 'â€'). Counts use the length-difference trick
    * (exact, no regex backtracking); any single strong signal flags the
    * doc — unlike the 2-of-N routing votes, one replacement char is
    * already proof of a decode error. Zero shuffles.
    */
  def encodingSignals(df: DataFrame, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    val text = col(textCol)
    def nOf(lit1: String): Column =
      ((length(text) - length(replace(text, lit(lit1), lit("")))) /
        lit1.length).cast("long")
    def nClass(pat: String): Column =
      (length(text) - length(regexp_replace(text, pat, ""))).cast("long")
    val nRepl = nOf("�")
    val nCtrl = nClass("[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F]")
    val nC1 = nClass("[\\x80-\\x9F]")
    val nMoj = nOf("Ã") + nOf("â")
    df.select(col(idCol),
      nRepl.as("n_replacement"), nCtrl.as("n_ctrl"),
      nC1.as("n_c1"), nMoj.as("n_mojibake"),
      (nRepl >= 1 || nCtrl >= 1 || nC1 >= 2 || nMoj >= 3)
        .as("is_damaged"))
  }

  /** License / usage-restriction detection (the compliance router a
    * code-corpus pipeline runs before mixing: copyleft text needs
    * different handling than permissive). Exact marker counts via the
    * length-difference trick — SPDX tags, permissive markers (MIT /
    * Apache / BSD), copyleft markers (GPL long + short form) — plus
    * copyright-comment lines, classified with copyleft > permissive >
    * spdx-only precedence. Zero shuffles; every count is replayable
    * with replace()/list_filter in any engine.
    */
  def licenseSignals(df: DataFrame, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    val text = col(textCol)
    def nOf(marker: String): Column =
      ((length(text) - length(replace(text, lit(marker), lit("")))) /
        marker.length).cast("long")
    val spdx = nOf("SPDX-License-Identifier:")
    val permissive = nOf("MIT License") + nOf("Apache License") +
      nOf("BSD 3-Clause")
    val copyleft = nOf("GNU General Public License") + nOf("GPL-3.0") +
      nOf("GPL-2.0")
    val copyrightLines = size(filter(split(text, "\n"),
      l => l.rlike("^\\s*(//|#|/\\*)? *[Cc]opyright ")))
      .cast("long")
    val cls = when(copyleft >= 1, lit("copyleft"))
      .when(permissive >= 1, lit("permissive"))
      .when(spdx >= 1, lit("spdx-other"))
      .otherwise(lit("none"))
    df.select(col(idCol),
      spdx.as("n_spdx"), permissive.as("n_permissive"),
      copyleft.as("n_copyleft"), copyrightLines.as("n_copyright_lines"),
      cls.as("license_class"))
  }

  /** Numeric-content profile (routes tables-of-numbers / financial dumps
    * away from the prose pipeline — high digit mass with low prose mass
    * is a strong boilerplate/data-dump signal): exact digit count,
    * numeric-token fraction, currency/percent marker counts, voted
    * 2-of-4 into `is_numeric_heavy`. Zero shuffles, RE2-portable.
    */
  def numericSignals(df: DataFrame, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    val text = col(textCol)
    val nDigits =
      (length(text) - length(regexp_replace(text, "[0-9]", "")))
        .cast("long")
    val nChars = length(text).cast("long")
    val toks = tokens(text)
    val nTok = size(toks).cast("long")
    val nNumTok = size(filter(toks,
      t => t.rlike("^[-+$€£]?[0-9][0-9,.]*%?$"))).cast("long")
    val nCurrency = (length(text) -
      length(regexp_replace(text, "[$€£%]", ""))).cast("long")
    val digitFrac = when(nChars === 0, lit(0.0))
      .otherwise(nDigits.cast("double") / nChars.cast("double"))
    val numTokFrac = when(nTok === 0, lit(0.0))
      .otherwise(nNumTok.cast("double") / nTok.cast("double"))
    val votes = (digitFrac >= 0.15).cast("long") +
      (numTokFrac >= 0.3).cast("long") +
      (nNumTok >= 20).cast("long") +
      (nCurrency >= 5).cast("long")
    df.select(col(idCol),
      nDigits.as("n_digits"), nNumTok.as("n_numeric_tokens"),
      nCurrency.as("n_currency_marks"),
      round(digitFrac, 6).as("digit_frac"),
      round(numTokFrac, 6).as("numeric_token_frac"),
      votes.as("numeric_votes"), (votes >= 2).as("is_numeric_heavy"))
  }

  /** Classifier agreement audit (Cohen's kappa between the declared
    * `lang` label and the stopword-vote detector): the standard check
    * before trusting EITHER signal for routing/mixing — raw agreement
    * (po) overstates quality when one class dominates; kappa subtracts
    * the chance-agreement floor pe = Σ_c p_row(c)·p_col(c). Counts are
    * exact int64 (pe's numerator is a sum of count products, no
    * intermediate doubles); every division happens once, in a fixed
    * order, and only the published values are rounded.
    */
  def langAgreementReport(df: DataFrame): DataFrame = {
    val pred = withLanguage(df).select("doc_id", "lang", "lang_pred")
    val cm = pred.groupBy("lang", "lang_pred")
      .agg(count(lit(1)).as("n"))
    val rw = cm.groupBy("lang").agg(sum("n").as("rn"))
    val cl = cm.groupBy("lang_pred").agg(sum("n").as("cn"))
    val pe = rw.join(cl, rw("lang") === cl("lang_pred"))
      .agg(coalesce(sum(col("rn") * col("cn")), lit(0L)).as("pe_num"))
    val ag = pred.agg(count(lit(1)).as("n_total"),
      sum(when(col("lang") === col("lang_pred"), 1L).otherwise(0L))
        .as("n_agree"))
    val nT = col("n_total").cast("double")
    val po = col("n_agree").cast("double") / nT
    val peD = col("pe_num").cast("double") / (nT * nT)
    ag.crossJoin(broadcast(pe))
      .select(col("n_total"), col("n_agree"),
        round(po, 6).as("po"), round(peD, 6).as("pe"),
        when(peD === 1.0, lit(null).cast("double"))
          .otherwise(round((po - peD) / (lit(1.0) - peD), 6))
          .as("kappa"))
  }

  /** Templated/synthetic-text heuristics (the filter against
    * model-generated or mail-merge contamination): type-token ratio,
    * coefficient of variation of sentence lengths (natural prose is
    * bursty, templates are metronomic), and the maximum exact-repeat
    * count of a sentence, voted 2-of-3 into `is_suspect` behind a
    * ≥ 30-token support guard. All per-row HOF arithmetic over one
    * tokenize + one sentence split — zero shuffles, and every double
    * is a fixed-order IEEE tree an oracle can replay bit-exactly.
    */
  def syntheticSignals(df: DataFrame, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    val text = col(textCol)
    val toks = tokens(text)
    val nTok = size(toks).cast("long")
    val ttr = when(nTok === 0, lit(null).cast("double")).otherwise(
      round(size(array_distinct(toks)).cast("double") /
        nTok.cast("double"), 6))
    val sents = filter(split(text, "[.!?]+"),
      s => length(trim(s)) > 0)
    val lens = transform(sents, s => size(split(trim(s), "\\s+")))
    val n = size(lens).cast("double")
    val sum1 = aggregate(lens, lit(0L), (a, x) => a + x).cast("double")
    val sum2 = aggregate(lens, lit(0L), (a, x) => a + x * x)
      .cast("double")
    val mean = sum1 / n
    val varr = greatest(sum2 / n - mean * mean, lit(0.0))
    val cv = when(size(lens) === 0 || mean === 0.0,
      lit(null).cast("double"))
      .otherwise(round(sqrt(varr) / mean, 6))
    val maxRep = when(size(sents) === 0, lit(0L)).otherwise(
      array_max(transform(array_distinct(transform(sents, trim(_))),
        s => size(filter(sents, x => trim(x) === s)))).cast("long"))
    val votes = (coalesce(ttr, lit(1.0)) <= 0.5).cast("long") +
      (coalesce(cv, lit(1.0)) <= 0.25).cast("long") +
      (maxRep >= 3).cast("long")
    df.select(col(idCol),
      nTok.as("n_tokens"), ttr.as("type_token_ratio"),
      cv.as("sentence_len_cv"), maxRep.as("max_sentence_repeat"),
      votes.as("synthetic_votes"),
      (nTok >= 30 && votes >= 2).as("is_suspect"))
  }

  /** Chat/instruction-format detection (the router that sends dialogue
    * data to a turn-structured parser instead of the prose pipeline):
    * counts role-marker lines (`User:`/`Human:`/`Q:` vs `Assistant:`/
    * `AI:`/`A:` plus `System:`), plus a balance signal (alternating
    * dialogue has |questions − answers| ≤ 1 with both present), voted
    * 3-of-4 into `is_chat`. Line anchors + literal alternations only —
    * Java regex ≡ RE2. Zero shuffles.
    */
  def chatSignals(df: DataFrame, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    val text = col(textCol)
    val ln = split(text, "\n")
    def nMatch(p: String): Column =
      size(filter(ln, l => l.rlike(p))).cast("long")
    val roleLines = nMatch("^(User|Assistant|System|Human|AI|Q|A): ")
    val qLines = nMatch("^(User|Human|Q): ")
    val aLines = nMatch("^(Assistant|AI|A): ")
    val balanced = qLines >= 1 && aLines >= 1 &&
      abs(qLines - aLines) <= 1
    val votes = (roleLines >= 4).cast("long") +
      (qLines >= 2).cast("long") + (aLines >= 2).cast("long") +
      balanced.cast("long")
    df.select(col(idCol),
      roleLines.as("n_role_lines"), qLines.as("n_q_lines"),
      aLines.as("n_a_lines"), balanced.as("qa_balanced"),
      votes.as("chat_votes"), (votes >= 3).as("is_chat"))
  }
}
