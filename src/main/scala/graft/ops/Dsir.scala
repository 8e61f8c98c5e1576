package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** DSIR — Data Selection via Importance Resampling (Xie et al. 2023,
  * arXiv:2302.03169): pick raw-corpus documents whose hashed-n-gram
  * distribution matches a small TARGET corpus (the "train on data that
  * looks like your eval/domain" selection step of modern LM pipelines).
  *
  * Pipeline (the paper's, Spark-first):
  *  1. features: unigram+bigram word n-grams hashed into `buckets`
  *     (xxhash64, codegen'd) — a fixed-width bag-of-ngrams;
  *  2. two bucket histograms (one groupBy each over target and raw),
  *     Laplace-smoothed into log-ratios DISTRIBUTED (a histogram join;
  *     only the two scalar totals visit the driver) — the table is
  *     `buckets`-bounded, never corpus-bounded;
  *  3. per-document importance weight log w = Σ_tokens [log p̂_target(b) −
  *     log p̂_raw(b)] via a join against the ratio table (broadcast under
  *     `broadcastBuckets`, else a shuffle join on the 8-byte bucket key),
  *     then one groupBy(doc). The log-ratios are quantized
  *     to DECIMAL(20,12) before summing, so the per-doc weight is exact
  *     and independent of aggregation order — the engine's documents-
  *     pipeline determinism contract;
  *  4. Gumbel-top-k resampling: rank by log w + Gumbel(g), g derived from
  *     a seeded per-doc hash — the paper's sampling-without-replacement
  *     trick, deterministic here like every sampler in [[Sampling]].
  *
  * At 100 TB: histograms are two map-side-combined aggs to `buckets`
  * cells; scoring is explode → broadcast lookup → one re-agg by doc id
  * (the only shuffle, pre-aggregated map-side); selection is a TakeOrdered
  * top-k, never a global sort.
  */
object Dsir {

  /** Unigram + bigram n-gram strings of `text` — the one feature
    * construction both bucket hashers map over. Empty/one-word docs
    * degrade gracefully (no bigrams).
    */
  private def ngramStrings(text: Column): Column = {
    val ws = TextAnalysis.words(text)
    val bis = when(size(ws) >= 2,
      zip_with(slice(ws, lit(1), size(ws) - 1), slice(ws, lit(2), size(ws) - 1),
        (a, b) => concat_ws(" ", a, b)))
      .otherwise(array().cast("array<string>"))
    concat(ws, bis)
  }

  /** Hashed unigram+bigram bucket ids for `text` (long array, values in
    * [0, buckets)).
    */
  def ngramBuckets(text: Column, buckets: Int): Column =
    transform(ngramStrings(text), g => pmod(xxhash64(g), lit(buckets.toLong)))

  /** [[ngramBuckets]] with ENGINE-INDEPENDENT bucket ids: the 52-bit
    * md5-prefix integer (the q73a trick) mod `buckets`, reproducible in
    * any engine with md5. Production keeps xxhash64 (one hash instruction
    * vs a full digest per n-gram); this variant exists so the DSIR
    * machinery has a bit-exact cross-engine anchor.
    */
  def ngramBucketsMd5(text: Column, buckets: Int): Column =
    transform(ngramStrings(text), g =>
      pmod(conv(substring(md5(g), 1, 13), 16, 10).cast("long"),
        lit(buckets.toLong)))

  /** Shared plumbing of both weight flavors: histograms → distributed
    * per-bucket term table (broadcast under `broadcastBuckets`) →
    * scoring join → per-doc exact DECIMAL(28,12) sum, with the exploded
    * raw (id, bucket) rows CACHED (persist keeps lineage: a lost
    * executor recomputes its blocks) so the corpus is tokenized+hashed
    * once, not twice — `term` builds one bucket's quantized contribution
    * from (smoothed target count, raw count, totP, totQ).
    *
    * Returns (weights, release). Callers MUST release once they have
    * materialized what they need: Dataset caches register in the
    * session's CacheManager, a strong reference no GC ever clears — an
    * unreleased cache leaks executor storage for the session lifetime.
    */
  private def weightsCore(raw: DataFrame, idCol: String, textCol: String,
      target: DataFrame, targetTextCol: String, buckets: Int,
      broadcastBuckets: Long, bucketFn: (Column, Int) => Column,
      term: (Column, Column, Column, Column) => Column,
      outCol: String, cache: Boolean,
      spreadInput: Boolean = false): (DataFrame, () => Unit) = {
    // cache = false (the standalone weight functions): no persist at all —
    // paying the materialization only to release it unused would be
    // strictly worse than the two-pass recompute
    // spreadInput: every flavor now spreads a narrow scan over the cores
    // ([[Spread.toCores]]) — originally only the CPU-dominant md5 flavor
    // won from it, but once the fixed per-job overheads fell (schema
    // cache + fork-free local fs) the xxhash flavor's three sequential
    // one-task stages became its whole cost and the spread wins there too
    // (r14 re-measure; the spread stays a no-op on wide scans either way)
    val rawIn = raw.select(col(idCol), col(textCol))
    val rawBuckets0 = (if (spreadInput) Spread.toCores(rawIn) else rawIn)
      .select(col(idCol), explode(bucketFn(col(textCol), buckets)).as("bucket"))
    val rawBuckets =
      if (cache) rawBuckets0.persist(
        org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      else rawBuckets0
    val pHist = target
      .select(explode(bucketFn(col(targetTextCol), buckets)).as("bucket"))
      .groupBy("bucket").agg(count(lit(1)).as("cnt"))
    val qHist = rawBuckets.groupBy("bucket").agg(count(lit(1)).as("cnt"))
    // the two smoothing totals ride the PLAN as a broadcast one-row cross
    // join instead of two driver-blocking head() actions (guide §5: the
    // driver should do almost no data work — each head() was a full extra
    // job and a barrier before the weights query could even be planned).
    // Arithmetic is unchanged: the same exact Long sum, widened to double,
    // plus `buckets` — now evaluated inside the term expression, and the
    // qHist exchange is shared with the ratio join via reuse.
    def totalCol(h: DataFrame, name: String): DataFrame =
      h.agg((coalesce(sum(col("cnt")), lit(0L)).cast("double") +
        lit(buckets.toDouble)).as(name))
    val tots = broadcast(
      totalCol(qHist, "__totQ").crossJoin(totalCol(pHist, "__totP")))
    // every scored n-gram comes from `raw`, so its bucket is in the raw
    // histogram by construction: a LEFT join from qHist covers the whole
    // scoring domain (target-only buckets never match a scored row).
    // `cast(decimal)` rounds HALF_UP — same quantization the driver-side
    // BigDecimal.setScale gave, bit-identical weights.
    val ratioRaw = qHist.join(
        pHist.withColumnRenamed("cnt", "p_cnt"), Seq("bucket"), "left")
      .crossJoin(tots)
      .select(col("bucket"),
        term(coalesce(col("p_cnt"), lit(0L)), col("cnt"),
          col("__totP"), col("__totQ"))
          .cast("decimal(20,12)").as("term"))
    val ratio =
      if (buckets.toLong <= broadcastBuckets) broadcast(ratioRaw) else ratioRaw
    val weights = rawBuckets
      .join(ratio, "bucket")
      .groupBy(idCol)
      .agg(sum(col("term")).cast("decimal(28,12)").as(outCol))
      .unionByName( // empty AND null docs: no exploded rows, weight 0
        // (size() of a null array is null, never 0 — test null explicitly
        // or the doc would vanish from the weight table entirely)
        raw.filter(col(textCol).isNull ||
            size(TextAnalysis.words(col(textCol))) <= 0)
          .select(col(idCol), lit(BigDecimal(0).bigDecimal)
            .cast("decimal(28,12)").as(outCol)))
    (weights, () => { if (cache) rawBuckets.unpersist(false); () })
  }

  /** The paper's Laplace(+1)-smoothed log-ratio term. */
  private def logRatioTerm(p: Column, q: Column,
      totP: Column, totQ: Column): Column =
    log((p + lit(1L)).cast("double") / totP) -
      log((q + lit(1L)).cast("double") / totQ)

  /** The oracle twin's LINEAR smoothed-probability difference — every
    * step an exactly-rounded IEEE op, so any engine reproduces it
    * bit-exactly (ln() is not bit-portable across libm implementations:
    * a 1-ulp difference at a HALF_UP rounding boundary would flip a
    * quantized digit).
    */
  private def linearTerm(p: Column, q: Column,
      totP: Column, totQ: Column): Column =
    ((p + lit(1L)).cast("double") / totP) -
      ((q + lit(1L)).cast("double") / totQ)

  /** Per-document importance weights against `target`: (idCol, log_w)
    * with log_w an exact DECIMAL(28,12) sum of quantized per-ngram
    * log-ratios — higher means "more target-like". Documents with no
    * recognized n-gram (empty text) weigh 0.
    *
    * Standalone form: NO token cache (the returned frame re-tokenizes
    * per pass; the caller controls its own materialization) — the
    * end-to-end [[select]]/[[selectMd5Linear]] scope a cache around
    * their selection instead.
    */
  def importanceWeights(raw: DataFrame, idCol: String, textCol: String,
                        target: DataFrame, targetTextCol: String,
                        buckets: Int = 8192,
                        broadcastBuckets: Long = 4L * 1000 * 1000): DataFrame = {
    val (w, _) = weightsCore(raw, idCol, textCol, target, targetTextCol,
      buckets, broadcastBuckets, ngramBuckets, logRatioTerm, "log_w",
      cache = false)
    w
  }

  /** Gumbel-top-k selection over importance weights (the paper's
    * resampling): keep the `k` docs maximizing `log_w + Gumbel(seed, id)`
    * — deterministic via the seeded-hash uniform, like every sampler in
    * [[Sampling]]. With `noise = false` this is plain top-k by weight.
    */
  def resample(weighted: DataFrame, idCol: String, k: Int,
               seed: Long = 42L, noise: Boolean = true): DataFrame = {
    val u = (pmod(xxhash64(col(idCol), lit(seed)), lit(1000000000L))
      .cast("double") + lit(0.5)) / lit(1e9)
    val gumbel = if (noise) -log(-log(u)) else lit(0.0)
    val keyed = weighted.withColumn("__g",
      col("log_w").cast("double") + gumbel)
    keyed.orderBy(col("__g").desc, col(idCol)).limit(k).drop("__g")
  }

  /** A k-row selection pinned as driver-local rows — releasing the token
    * cache must not force the downstream join to recompute the whole
    * scoring pipeline, and k is small by definition.
    */
  private def materializeSmall(df: DataFrame): DataFrame = {
    val rows = java.util.Arrays.asList(df.collect(): _*)
    df.sparkSession.createDataFrame(rows, df.schema)
  }

  /** End-to-end DSIR: weights + resample, returning the selected raw rows
    * with their weights attached. The token cache lives exactly as long
    * as the selection takes to materialize.
    */
  def select(raw: DataFrame, idCol: String, textCol: String,
             target: DataFrame, targetTextCol: String, k: Int,
             buckets: Int = 8192, seed: Long = 42L): DataFrame = {
    val (w, release) = weightsCore(raw, idCol, textCol, target, targetTextCol,
      buckets, 4L * 1000 * 1000, ngramBuckets, logRatioTerm, "log_w",
      cache = true, spreadInput = true)
    try raw.join(materializeSmall(resample(w, idCol, k, seed)), Seq(idCol))
    finally release()
  }

  /** End-to-end oracle-twin DSIR: md5-linear weights + noise-free top-k
    * (exact-weight order, id tiebreak — the Gumbel path stays on
    * [[select]], whose `-ln(-ln(u))` is engine-seeded).
    */
  def selectMd5Linear(raw: DataFrame, idCol: String, textCol: String,
                      target: DataFrame, targetTextCol: String, k: Int,
                      buckets: Int = 8192): DataFrame = {
    val (w, release) = weightsCore(raw, idCol, textCol, target, targetTextCol,
      buckets, 4L * 1000 * 1000, ngramBucketsMd5, linearTerm, "w",
      cache = true, spreadInput = true)
    try raw.join(
      materializeSmall(w.orderBy(col("w").desc, col(idCol)).limit(k)),
      Seq(idCol))
    finally release()
  }
}
