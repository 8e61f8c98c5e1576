package lakebench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.pipeline.CorpusPipeline

/** `corpus_dedup`: operator CPU and shuffle. Each pass runs the whole
  * corpus pipeline (quality → language id → exact and near dedup → split →
  * managed-table write) over a seeded corpus into a fresh warehouse.
  */
final class CorpusDedup(spark: SparkSession, work: String, seed: Long, small: Boolean)
    extends Workload {
  val Docs: Int = if (small) 600 else 3000
  val minOps: Int = if (small) 2 else 3
  val latencyKinds = Set("pass")
  val maxOps = 40
  val MinQuality = 0.5
  val TrainPct = 90

  private val dataDir = s"$work/data/corpus_s$seed" + (if (small) "_small" else "")
  private var corpus: Inputs.Corpus = _
  private var docs: DataFrame = _
  private var last: CorpusPipeline = _
  private var lastWh = ""
  /** Per pass: (rows, order-independent hash) of the written corpus. */
  private val passes = mutable.ArrayBuffer.empty[(Long, BigDecimal)]

  private val outCols = Seq("doc_id", "text", "source", "lang_pred", "split")

  def prepare(): Unit = {
    corpus = Inputs.writeCorpus(spark, dataDir, seed, Docs)
    docs = spark.read.parquet(s"$dataDir/documents.parquet")
  }

  /** Warm-up: the pipeline over an eighth of the corpus. */
  def setup(): Unit = {
    val wh = s"$work/wh/corpus_setup"
    Workloads.clean(wh)
    new CorpusPipeline(spark, wh).run(docs.filter(col("doc_id") < Docs / 8), "doc_id", "text",
      minQuality = MinQuality, trainPct = TrainPct)
    Workloads.clean(wh)
  }

  def op(i: Int, tr: Tracer): (String, Long) = {
    val wh = s"$work/wh/corpus_pass_$i"
    Workloads.clean(wh)
    val p = new CorpusPipeline(spark, wh)
    tr.span("pipeline.corpus_run") {
      p.run(docs, "doc_id", "text", minQuality = MinQuality, trainPct = TrainPct)
    }
    last = p
    lastWh = wh
    ("pass", Docs.toLong)
  }

  override def afterOp(i: Int): Unit = {
    passes += Oracle.digest(last.corpus.read, outCols)
    if (i > 0) Workloads.clean(s"$work/wh/corpus_pass_${i - 1}")
  }

  override def tableFacts(): Map[String, Double] =
    Workloads.tableFacts(Seq(last.corpus, last.signatureStore))

  def storedPerLive(): Double =
    Inputs.dirBytes(lastWh).toDouble / Workloads.liveBytes(Seq(last.corpus, last.signatureStore))

  // ---- checks: what an independent computation can establish -------------

  private def words(t: String): Array[String] = t.trim.toLowerCase.split("\\s+").filter(_.nonEmpty)

  /** The pipeline's documented score: length term plus vocabulary diversity. */
  private def quality(t: String): Double = {
    val w = words(t)
    if (w.isEmpty) 0.0
    else math.min(w.length / 100.0, 1.0) * 0.5 + w.distinct.length.toDouble / w.length * 0.5
  }

  private def compare(out: DataFrame, passDigests: Seq[(Long, BigDecimal)]): Seq[String] = {
    val problems = mutable.ArrayBuffer.empty[String]
    if (passDigests.distinct.size > 1) problems += s"passes disagree: ${passDigests.distinct}"
    val n = corpus.texts.length
    val passQ = (0 until n).map(i => quality(corpus.texts(i)) >= MinQuality)
    // exact dedup keeps the lowest id of each normalized text among the
    // documents that pass the quality filter
    val norm = corpus.texts.map(t => words(t).mkString(" "))
    val exactKeep = (0 until n).filter(passQ).groupBy(norm(_)).values.map(_.min).toSet
    // documents with no planted copy and no copy of their own relation are
    // unique: near dedup has nothing to merge them with, so they must stay
    val related = corpus.copyOf.filter(_ >= 0).toSet
    val mustKeep = (0 until n).filter(i => passQ(i) && corpus.kind(i) == "good" && !related(i))
    val rows = out.select("doc_id", "text", "split").collect()
    val ids = rows.map(_.getLong(0).toInt)
    if (ids.distinct.length != ids.length) problems += "duplicate doc_id in output"
    val lowKept = ids.filter(i => !passQ(i))
    if (lowKept.nonEmpty) problems += s"quality filter let through ${lowKept.take(5).toSeq}"
    val notExactKeeper = ids.filter(i => passQ(i) && !exactKeep(i))
    if (notExactKeeper.nonEmpty) problems += s"exact duplicates kept: ${notExactKeeper.take(5).toSeq}"
    val missing = mustKeep.filterNot(ids.toSet)
    if (missing.nonEmpty) problems += s"unique documents dropped: ${missing.take(5)}"
    val textChanged = rows.filter(r => r.getString(1) != corpus.texts(r.getLong(0).toInt))
    if (textChanged.nonEmpty) problems += s"text altered for ${textChanged.take(3).map(_.getLong(0)).toSeq}"
    // split: a content hash of the id, computed here by plain Spark
    import spark.implicits._
    val expSplit = ids.toSeq.map(_.toLong).toDF("doc_id")
      .select(col("doc_id"), when(pmod(xxhash64(col("doc_id")), lit(100)) < TrainPct, "train")
        .otherwise("test").as("split"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val badSplit = rows.filter(r => expSplit(r.getLong(0)) != r.getString(2))
    if (badSplit.nonEmpty) problems += s"split wrong for ${badSplit.take(3).map(_.getLong(0)).toSeq}"
    problems.toSeq
  }

  def check(): Seq[String] = compare(last.corpus.read, passes.toSeq)

  def corruptions(): Seq[(String, Boolean, () => Seq[String])] = {
    val out = last.corpus.read
    val rows = out.select("doc_id").orderBy("doc_id").collect().map(_.getLong(0))
    val keeper = rows.find(i => corpus.kind(i.toInt) == "good" && !corpus.copyOf.contains(i.toInt)).get
    Seq(
      ("corpus.control_accepted", false, () => compare(out, passes.toSeq)),
      ("corpus.row_dropped", true, () => compare(out.filter(col("doc_id") =!= keeper), passes.toSeq)),
      ("corpus.split_altered", true, () => compare(out.withColumn("split",
        when(col("doc_id") === keeper, when(col("split") === "train", "test").otherwise("train"))
          .otherwise(col("split"))), passes.toSeq)),
      ("corpus.passes_disagree", true, () => compare(out, passes.toSeq :+ ((0L, BigDecimal(1))))))
  }

  def inputFacts: Map[String, Any] = Map(
    "docs" -> Docs, "low_quality" -> corpus.count("low"),
    "planted_exact_dups" -> corpus.count("exact"), "planted_near_dups" -> corpus.count("near"),
    "planted_dup_share" -> (corpus.count("exact") + corpus.count("near")).toDouble / Docs,
    "input_bytes" -> Inputs.dirBytes(s"$dataDir/documents.parquet"),
    "passes_run" -> passes.size,
    "output_docs" -> passes.headOption.map(_._1).getOrElse(0L))

  def named(samples: Seq[Sample], storedPerLive: Double): Seq[(String, Double, String)] = Seq(
    ("corpus.pass_p50_s", Main.median(samples.map(_.ms)) / 1000.0, "s"),
    ("corpus.docs_per_s", samples.map(_.items).sum / (samples.map(_.ms).sum / 1000.0), "docs/s"))
}
