package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis operators for a large-scale training-data pipeline over the
  * `documents` table: tokenization, quality scoring, language-ID scoring,
  * document fingerprinting. All are pure column expressions (whole-stage
  * codegen'd, no UDFs) so they run at scan speed and scale linearly — the
  * per-document work is embarrassingly parallel with zero shuffles.
  *
  * Determinism: every function here has an exact SQL twin in DuckDB
  * (`string_split_regex` / `list_filter` / `md5`), used by the oracle.
  */
object TextAnalysis {

  /** Lower-cased whitespace tokenization. `trim` kills empty edge tokens
    * for interior-separated text; the explicit empty-string removal covers
    * the one case trim cannot — EMPTY or whitespace-only text, where both
    * Spark's split and DuckDB's string_split_regex return [""] and every
    * downstream metric would count a phantom token (token_count 1, two
    * blank docs Jaccard-matching at 1.0 via the "" shingle). The oracle
    * twins apply the identical list_filter.
    */
  def words(text: Column): Column =
    array_remove(split(lower(trim(text)), "\\s+"), "")

  def tokenCount(text: Column): Column = size(words(text)).cast("long")

  /** Stopword profiles for the language scorer. Deliberately small, public
    * common-word lists; scoring = occurrence count in the token stream.
    */
  val langProfiles: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "of", "and", "in", "to", "is"),
    "de" -> Seq("der", "die", "das", "und", "ist", "von"),
    "es" -> Seq("el", "la", "de", "y", "los", "es"),
    "fr" -> Seq("le", "la", "et", "les", "des", "est"),
    "zh" -> Seq("的", "是", "在", "了", "和"))

  /** Count of tokens contained in `vocab` (with multiplicity), over an
    * already-computed word array. The HOF `filter` evaluates OUTSIDE
    * whole-stage codegen's subexpression elimination, so callers that
    * inline `words(text)` here re-split the text interpreted per doc per
    * call — bind the split to a projected column once instead
    * ([[qualityMetrics]]/[[langIdOf]]/[[gopherRules]] all do).
    */
  def vocabHitsOf(w: Column, vocab: Seq[String]): Column = {
    val arr = array(vocab.map(lit): _*)
    size(filter(w, x => array_contains(arr, x))).cast("long")
  }

  /** N-gram-heuristic language ID: score each profile by stopword hits,
    * pick the argmax with a fixed tiebreak order (profile declaration
    * order). Returns (score columns ×5, predicted) — callers select what
    * they need.
    */
  /** [[langId]] over an already-computed word array — five vocab probes
    * share ONE split instead of re-splitting the text per language
    * (see [[vocabHitsOf]] on why inlining defeats codegen CSE).
    */
  def langIdOf(w: Column): Column = {
    // argmax with first-listed tie-break as ONE array_max over
    // (score, -index, label) structs: each language's probe is evaluated
    // exactly once per doc. The previous when-chain referenced every
    // score inside a greatest() per CASE level — up to ~30 interpreted
    // filter evaluations per doc, since HOFs sit outside codegen CSE.
    // Struct ordering is field-by-field, so ties on score fall to the
    // unique -index (highest = first listed), never to the label.
    // Null text (null word array) stays null like the when-chain: every
    // probe was null there, so no CASE branch ever fired.
    val entries = langProfiles.zipWithIndex.map { case ((l, vocab), i) =>
      struct(vocabHitsOf(w, vocab).as("s"), lit(-i).as("p"), lit(l).as("l"))
    }
    when(w.isNull, lit(null).cast("string"))
      .otherwise(array_max(array(entries: _*)).getField("l"))
  }

  def langId(text: Column): Column = langIdOf(words(text))

  /** [[qualityMetrics]] against a pre-projected word-array column — the
    * shape [[graft.pipeline.CorpusPipeline.annotate]] composes with
    * [[langIdOf]] so the whole annotation battery splits each text once.
    */
  def qualityMetricsOf(df: DataFrame, textCol: String, w: Column): DataFrame = {
    val t = col(textCol)
    val nTok = size(w).cast("long")
    df.withColumn("n_chars_m", length(t).cast("long"))
      .withColumn("token_count", nTok)
      .withColumn("avg_word_len",
        length(regexp_replace(trim(t), "\\s+", "")).cast("double") / nTok)
      .withColumn("unique_ratio", size(array_distinct(w)).cast("double") / nTok)
      .withColumn("stopword_ratio",
        vocabHitsOf(w, langProfiles.head._2).cast("double") / nTok)
      .withColumn("punct_count",
        (length(t) - length(regexp_replace(t, "[.,;:!?]", ""))).cast("long"))
  }

  /** Quality metrics (length / punctuation / stopword / uniqueness ratios).
    * All ratios are double divisions of exact integer counts — identical
    * across engines. The word split is PROJECTED once (`__qm_w`) rather
    * than inlined: the stopword probe is a higher-order function whose
    * interpreted evaluation would otherwise re-split every doc.
    */
  def qualityMetrics(df: DataFrame, textCol: String): DataFrame =
    qualityMetricsOf(df.withColumn("__qm_w", words(col(textCol))),
      textCol, col("__qm_w")).drop("__qm_w")

  /** Composite quality score in [0,1]-ish: favors mid-length docs with
    * diverse vocabulary — a plain arithmetic blend, fully deterministic.
    */
  def qualityScore(df: DataFrame, textCol: String): DataFrame =
    qualityMetrics(df, textCol).withColumn("quality_score",
      least(col("token_count").cast("double") / lit(100.0), lit(1.0)) * lit(0.5)
        + col("unique_ratio") * lit(0.5))

  /** Gopher quality-filter rules (Rae et al. 2021, arXiv:2112.11446
    * §A1.1.2 — the heuristic battery most web-corpus pipelines start
    * from), each surfaced as its own boolean column plus the conjunction:
    *
    *  - `r_word_count`:    50 ≤ words ≤ 100000
    *  - `r_mean_word_len`: mean word length in [3, 10]
    *  - `r_symbol_ratio`:  (# + …) symbols per word ≤ 0.1
    *  - `r_bullet_lines`:  ≤ 90% of lines start with a bullet (- or *)
    *  - `r_ellipsis_lines`: ≤ 30% of lines end with an ellipsis
    *  - `r_alpha_words`:   ≥ 80% of words contain an alphabetic char
    *  - `r_stopwords`:     ≥ 2 distinct hits from the 8-stopword probe
    *
    * Pure column expressions (codegen'd, zero shuffle), each with an
    * exact DuckDB twin: the ratios divide exact integer counts, so the
    * flags are bit-identical across engines. Word counts reuse [[words]];
    * line metrics split on newline without dropping blanks (a blank line
    * neither starts with a bullet nor ends with an ellipsis).
    */
  val gopherStopwords: Seq[String] =
    Seq("the", "be", "to", "of", "and", "that", "have", "with")

  def gopherRules(df: DataFrame, textCol: String): DataFrame = {
    val t = col(textCol)
    // the word and line splits feed THREE higher-order filters each
    // evaluated outside codegen CSE: project both once per doc
    // (results unchanged — same expressions over the same arrays)
    val in = df.withColumn("__go_w", words(t))
      .withColumn("__go_l", split(t, "\n"))
    val w = col("__go_w")
    val nTok = size(w).cast("long")
    val lines = col("__go_l")
    val nLines = size(lines).cast("long")
    val bulletLines = size(filter(lines, l =>
      trim(l).startsWith("-") || trim(l).startsWith("*"))).cast("long")
    val ellipsisLines = size(filter(lines, l =>
      trim(l).endsWith("...") || trim(l).endsWith("…"))).cast("long")
    val alphaWords = size(filter(w, x => x.rlike("[a-z]"))).cast("long")
    // Rae et al. 2021 §A1.1.2 counts '#' and ellipses — BOTH the single
    // char '…' and the ASCII three-dot "..." (one symbol per occurrence;
    // non-overlapping, so the length delta of removing "..." is 3×count).
    val symbolCount =
      ((length(t) - length(regexp_replace(t, "[#…]", ""))) +
        (length(t) - length(regexp_replace(t, "\\.\\.\\.", ""))) / 3)
        .cast("long")
    val stopHits = size(filter(array(gopherStopwords.map(lit): _*),
      s => array_contains(w, s))).cast("long")
    val meanLen =
      length(regexp_replace(trim(t), "\\s+", "")).cast("double") / nTok
    in.withColumn("r_word_count", nTok.between(50L, 100000L))
      .withColumn("r_mean_word_len",
        nTok > 0L && meanLen >= 3.0 && meanLen <= 10.0)
      .withColumn("r_symbol_ratio",
        nTok > 0L && symbolCount.cast("double") / nTok <= 0.1)
      .withColumn("r_bullet_lines",
        bulletLines.cast("double") / nLines <= 0.9)
      .withColumn("r_ellipsis_lines",
        ellipsisLines.cast("double") / nLines <= 0.3)
      .withColumn("r_alpha_words",
        nTok > 0L && alphaWords.cast("double") / nTok >= 0.8)
      .withColumn("r_stopwords", stopHits >= 2L)
      .withColumn("gopher_pass",
        col("r_word_count") && col("r_mean_word_len") &&
          col("r_symbol_ratio") && col("r_bullet_lines") &&
          col("r_ellipsis_lines") && col("r_alpha_words") &&
          col("r_stopwords"))
      .drop("__go_w", "__go_l")
  }

  /** Whitespace-normalized md5 fingerprint (document identity for exact
    * dedup; SQL twin: `md5(regexp_replace(lower(trim(text)),'\s+',' '))`).
    */
  def fingerprint(text: Column): Column =
    md5(regexp_replace(lower(trim(text)), "\\s+", " "))

  /** One row per character trigram of the lowercased text (docs shorter
    * than 3 chars emit none). Codegen-friendly: explode(sequence) +
    * expression-arg substring — no higher-order functions on the per-doc
    * hot path — and the projection prunes to (id, trigram) before any
    * shuffle.
    */
  def charTrigrams(df: DataFrame, idCol: String, textCol: String): DataFrame =
    Spread.toCores(df.select(col(idCol), lower(col(textCol)).as("__t")))
      .filter(length(col("__t")) >= 3)
      .select(col(idCol), col("__t"),
        explode(sequence(lit(1), length(col("__t")) - 2)).as("__i"))
      .select(col(idCol), expr("substring(__t, __i, 3)").as("trigram"))

  /** Corpus trigram frequency model: trigram → occurrence count. The
    * vocabulary is bounded (character trigrams), so the model stays small
    * no matter the corpus size — broadcastable state, same role as a
    * KenLM table in CCNet-style filtering.
    */
  def trigramModel(df: DataFrame, idCol: String, textCol: String): DataFrame =
    charTrigrams(df, idCol, textCol).groupBy("trigram")
      .agg(count(lit(1)).as("c"))

  /** Frequency-based fluency score — the shape of perplexity filtering
    * (CCNet) with a bit-exact formulation: score = mean corpus frequency
    * of the doc's trigrams, i.e. Σ count(trigram) / n_trigrams. Docs made
    * of rare trigrams (gibberish, wrong language, binary junk) score low;
    * integer sums + ONE IEEE division keep it oracle-exact, unlike
    * log-prob scores whose ln() differs across engines at ulp level.
    * The model is broadcast (bounded vocab); the only shuffle is the
    * per-doc aggregation.
    */
  def fluencyScore(df: DataFrame, idCol: String, textCol: String,
                   model: DataFrame): DataFrame =
    fluencyFromTrigrams(charTrigrams(df, idCol, textCol), idCol, model)

  private def fluencyFromTrigrams(tg: DataFrame, idCol: String,
                                  model: DataFrame): DataFrame =
    // left join: a doc whose trigrams are ALL absent from the model (the
    // gibberish this filter exists to catch) must surface with fluency 0,
    // not vanish from the output
    tg.join(broadcast(model), Seq("trigram"), "left")
      .groupBy(idCol)
      .agg(count(lit(1)).as("n_trigrams"),
        (sum(coalesce(col("c"), lit(0L))).cast("double") / count(lit(1)))
          .as("fluency"))

  /** Self-scored corpus fluency: build the model from the SAME corpus being
    * scored, materializing the trigram explode once (localCheckpoint)
    * instead of recomputing it for the model and the scoring pass —
    * measured ~2× on the explode-dominated plan. Results are identical to
    * `fluencyScore(df, …, trigramModel(df, …))`.
    */
  def fluencySelfScore(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val tg = charTrigrams(df, idCol, textCol).localCheckpoint()
    fluencyFromTrigrams(tg, idCol,
      tg.groupBy("trigram").agg(count(lit(1)).as("c")))
  }

  /** Non-cryptographic rolling-hash fingerprint over the whitespace-
    * normalized text ([[graft.functions.RollingHash]] — a codegen'd
    * polynomial hash; cheaper than md5 when cryptographic strength isn't
    * needed, e.g. shard-local dedup keys).
    */
  def rollingFingerprint(text: Column): Column =
    graft.functions.RollingHash.rolling_hash(
      regexp_replace(lower(trim(text)), "\\s+", " "))

  /** BPE-ish token estimate: word-piece count via a regex that splits words,
    * digits and punctuation the way byte-pair tokenizers approximately do.
    */
  def tokenEstimate(text: Column): Column =
    size(filter(split(lower(trim(text)), "(?=[^a-z0-9])|(?<=[^a-z0-9])"),
      p => p =!= "" && p =!= " ")).cast("long")

  /** PII scrubbing — the redaction pass every training-data pipeline runs
    * before packing shards: emails, international-ish phone numbers and
    * bare URLs are replaced with stable tags. Pure `regexp_replace` chain
    * (codegen'd, zero shuffle, linear scan); patterns are RE2-compatible so
    * the DuckDB oracle applies the identical pipeline.
    */
  def scrubPii(text: Column): Column = {
    val email = regexp_replace(text,
      "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}", "<EMAIL>")
    val phone = regexp_replace(email,
      "\\+?[0-9][0-9()\\- ]{6,}[0-9]", "<PHONE>")
    // \\S, not [^ ]: a URL at end of line must not swallow the newline
    // and the first word of the next line into the <URL> tag
    regexp_replace(phone, "https?://\\S+", "<URL>")
  }

  /** Gopher-style repetition metrics: the fraction of duplicate word
    * bigrams (1 − distinct/total) and the most-frequent-word share. High
    * values flag boilerplate/spam for quality filtering. Exact arithmetic
    * on integer counts — oracle-identical.
    */
  def repetitionMetrics(df: DataFrame, textCol: String): DataFrame = {
    val w = words(col(textCol))
    // zip_with pads the shorter side with null; concat_ws would silently
    // skip the null, so gate on it explicitly to drop the trailing pair
    val bigrams = filter(
      zip_with(w, slice(w, lit(2), greatest(size(w) - 1, lit(0))),
        (x, y) => when(y.isNotNull, concat_ws(" ", x, y))),
      (b: Column) => b.isNotNull)
    val nBi = size(bigrams)
    val topShare = {
      // most frequent token count / token count as a SINGLE pass over the
      // sorted token array (longest equal run). The naive per-distinct
      // filter scan is O(distinct × total) interpreted work per document —
      // a 100k-word doc with 30k distinct words runs ~3e9 comparisons in
      // one row's evaluation; the sort+run form is O(n log n) and exact.
      val best = aggregate(array_sort(w),
        struct(lit("").as("prev"), lit(0).as("run"), lit(0).as("best")),
        (acc, x) => {
          val run = when(x === acc.getField("prev"),
            acc.getField("run") + 1).otherwise(lit(1))
          struct(x.as("prev"), run.as("run"),
            greatest(acc.getField("best"), run).as("best"))
        },
        acc => acc.getField("best"))
      when(size(w) > 0, best.cast("double") / size(w)).otherwise(lit(0.0))
    }
    df.withColumn("dup_bigram_frac",
        when(nBi > 0,
          lit(1.0) - size(array_distinct(bigrams)).cast("double") / nBi)
          .otherwise(lit(0.0)))
      .withColumn("top_word_share", topShare)
  }
}
