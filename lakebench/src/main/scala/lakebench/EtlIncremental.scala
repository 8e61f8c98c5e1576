package lakebench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.model.Tables
import graft.pipeline.Medallion

/** `etl_incremental`: the write path. Setup builds bronze, silver and gold
  * with the medallion pipeline and runs cycle 0 as a warm-up. The operations then repeat a period of three
  * cycles and one maintenance pass: a cycle MERGEs a seeded batch into the
  * bronze lineitem and orders tables (notebook cell 17), runs the
  * incremental MERGE into silver (cell 19) and refreshes gold (cell 20); a
  * maintenance pass compacts silver and clusters the daily mart (cells
  * 21/25). Maintenance is its own operation type, so every cycle does the
  * same work and the cycle median compares like with like.
  *
  * The pass calls `ManagedTable.compactSmall` on silver, not
  * `Medallion.runMaintain`: the latter's whole-table `compact` commits
  * silver unpartitioned, and the next month-partitioned MERGE then loses
  * silver rows (README.md, "Known defect").
  */
final class EtlIncremental(spark: SparkSession, work: String, seed: Long, small: Boolean)
    extends Workload {
  private val scale = if (small) Inputs.Small else Inputs.Full
  /** A batch's share of the base table, from the reference's silver load
    * (BASELINE.md): 2 M new rows merged into an 11 M-row table in 5 batches,
    * 400 k rows or 3.6 % of the table a batch. Base and batch orders draw
    * their line counts alike, so the share holds for orders and rows.
    */
  private val BatchShare = 0.036
  /** The reference's batches are all inserts. 50 orders of each batch are
    * updates instead (an assumption, not a measured share): spread over the
    * 24 month partitions they touch most of them, so copy-on-write MERGE
    * rewrites files.
    */
  private val UpdOrders = 50
  /** Batch 0 is the warm-up cycle of `setup`; the loop runs at most 9 more. */
  private val shape = Inputs.EtlShape(newOrders = math.round(BatchShare * scale.orders).toInt - UpdOrders,
    updOrders = UpdOrders, cycles = 10)
  /** Operations per period: three cycles and one maintenance pass. */
  val Period = 4
  /** Two periods a run whatever `--seconds` says, so the cycle median
    * takes six samples and every run does the same work on any host.
    */
  val minOps: Int = 2 * Period
  /** Maintenance has one sample a period, too few for a steady median; its
    * cost reaches the gate through the per-period throughput, and
    * `compare.py` gates its median over runs (`etl.maintain_p50_s`).
    */
  val latencyKinds = Set("cycle")
  override val opQuantum: Int = Period
  val maxOps: Int = (shape.cycles - 1) / (Period - 1) * Period

  private val baseDir = Inputs.baseDir(work, scale)
  private val batchDir = s"$work/data/etl_batches_s$seed" + (if (small) "_small" else "")
  private var wh = ""
  private var med: Medallion = _
  private var cyclesRun = 0
  private var batchRows: Map[Long, (Long, Long, Long)] = Map.empty // cycle → (li, orders, bytes)

  def prepare(): Unit = {
    Inputs.writeBase(spark, baseDir, scale)
    Inputs.writeEtlBatches(spark, batchDir, seed, scale, shape)
    val li = spark.read.parquet(s"$batchDir/lineitem").groupBy("cycle").count().collect()
      .map(r => r.getInt(0).toLong -> r.getLong(1)).toMap
    val or = spark.read.parquet(s"$batchDir/orders").groupBy("cycle").count().collect()
      .map(r => r.getInt(0).toLong -> r.getLong(1)).toMap
    batchRows = li.keys.map(c => c -> (li(c), or(c),
      Inputs.dirBytes(s"$batchDir/lineitem/cycle=$c") + Inputs.dirBytes(s"$batchDir/orders/cycle=$c"))).toMap
  }

  /** The build the loop uses, then cycle 0 as a warm-up, so the timed
    * cycles compare compiled code with compiled code instead of the first
    * one paying the JIT's first compilation. The warm-up batch is checked
    * like the others.
    */
  def setup(): Unit = {
    wh = s"$work/wh/etl"
    med = Workloads.medallion(spark, wh, baseDir)
    cycle(0, new Tracer(false))
    cyclesRun = 1
  }

  /** Cycle `c`: its batch MERGEd into bronze, the incremental silver MERGE,
    * the gold refresh.
    */
  private def cycle(c: Int, tr: Tracer): Unit = {
    val li = spark.read.parquet(s"$batchDir/lineitem/cycle=$c").drop("is_new")
    val or = spark.read.parquet(s"$batchDir/orders/cycle=$c").drop("is_new")
    tr.span("table.merge") { med.bronzeLineitem.merge(li, Seq("l_orderkey", "l_linenumber")) }
    tr.span("table.merge") { med.bronzeOrders.merge(or, Seq("o_orderkey")) }
    tr.span("pipeline.incremental") { med.runIncremental(li, or) }
    tr.span("pipeline.gold") { med.runGold() }
  }

  def op(i: Int, tr: Tracer): (String, Long) =
    // maintenance third in the period, so the period's last cycle MERGEs
    // into the maintained layout and pays whatever maintenance leaves it
    if (i % Period == 2) {
      // runMaintain's two steps, with silver compacted in its partitions
      tr.span("table.compact") { med.silverTxn.compactSmall() }
      tr.span("table.cluster") { med.goldDaily.cluster("date") }
      ("maintain", 0L)
    } else {
      val c = cyclesRun
      cycle(c, tr)
      cyclesRun = c + 1
      val (l, o, _) = batchRows(c.toLong)
      ("cycle", l + o)
    }

  private def tables = Seq(med.bronzeLineitem, med.bronzeOrders, med.bronzeCustomer,
    med.silverTxn, med.goldClient, med.goldDaily, med.goldFraud)

  override def tableFacts(): Map[String, Double] = Workloads.tableFacts(tables)

  def storedPerLive(): Double = Inputs.dirBytes(wh).toDouble / Workloads.liveBytes(tables)

  private def expected(n: Int) = {
    val base = (Tables.lineitem(spark, baseDir), Tables.orders(spark, baseDir),
      Tables.customer(spark, baseDir))
    val bl = spark.read.parquet(s"$batchDir/lineitem").filter(col("cycle") < n)
    val bo = spark.read.parquet(s"$batchDir/orders").filter(col("cycle") < n)
    val li = Oracle.upserted(base._1, bl, Seq("l_orderkey", "l_linenumber")).cache()
    val or = Oracle.upserted(base._2, bo, Seq("o_orderkey")).cache()
    val maxBaseDate = scale.lastDay.toString
    // daily_metrics appends only dates it has not seen: base dates keep the
    // values of the initial build; each cycle's new day arrives complete
    val daily = Oracle.dailyMetrics(base._1, base._2)
      .unionByName(Oracle.dailyMetrics(li, or).filter(col("date") > lit(maxBaseDate).cast("date")))
    Map(
      "silver" -> Oracle.silver(li, or),
      "client_stats" -> Oracle.clientStats(li, or, base._3),
      "daily_metrics" -> daily,
      "fraud_analysis" -> Oracle.fraudAnalysis(li, or, base._3))
  }

  private def actual: Map[String, DataFrame] = Map(
    "silver" -> med.silverTxn.read, "client_stats" -> med.goldClient.read,
    "daily_metrics" -> med.goldDaily.read, "fraud_analysis" -> med.goldFraud.read)

  private def compare(act: Map[String, DataFrame]): Seq[String] = {
    val exp = expected(cyclesRun)
    exp.keys.toSeq.sorted.flatMap(k => Oracle.diff(k, act(k), exp(k), exp(k).columns.toSeq))
  }

  def check(): Seq[String] = compare(actual)

  /** Built on the oracle's own tables, which the checks must accept, so the
    * self-test holds whether or not the engine's output is correct.
    */
  def corruptions(): Seq[(String, Boolean, () => Seq[String])] = {
    val e = expected(cyclesRun)
    Seq(
      ("etl.control_accepted", false, () => compare(e)),
      ("etl.silver_row_dropped", true, () => compare(e + ("silver" -> Workloads.dropOne(e("silver"))))),
      ("etl.silver_value_altered", true, () => compare(e + ("silver" ->
        Workloads.alterOne(e("silver"), "amount", col("amount") + lit(0.01))))),
      ("etl.gold_row_dropped", true, () => compare(e + ("client_stats" -> Workloads.dropOne(e("client_stats"))))),
      ("etl.gold_value_altered", true, () => compare(e + ("daily_metrics" ->
        Workloads.alterOne(e("daily_metrics"), "transactions_count", col("transactions_count") + 1)))))
  }

  def inputFacts: Map[String, Any] = {
    val used = (0 until cyclesRun).map(c => batchRows(c.toLong))
    Map(
      "base_orders" -> scale.orders, "base_customers" -> scale.customers,
      "batch_share_of_base" -> BatchShare,
      "batch_new_orders" -> shape.newOrders, "batch_update_orders_max" -> shape.updOrders,
      "cycles_run" -> cyclesRun, "ops_per_period" -> s"${Period - 1} cycles + 1 maintenance",
      "batch_lineitem_rows_mean" -> Main.median(used.map(_._1.toDouble)),
      "batch_orders_rows_mean" -> Main.median(used.map(_._2.toDouble)),
      "batch_bytes_median" -> Main.median(used.map(_._3.toDouble)),
      "insert_update_mix" -> s"${shape.newOrders}:${shape.updOrders}",
      "update_key_skew" -> "uniform over base keys",
      "new_order_dates" -> "90% latest 60 days, 10% one new day per cycle")
  }

  def named(samples: Seq[Sample], storedPerLive: Double): Seq[(String, Double, String)] = Seq(
    ("etl.cycle_p50_s", Main.median(samples.filter(_.kind == "cycle").map(_.ms)) / 1000.0, "s"),
    ("etl.maintain_p50_s", Main.median(samples.filter(_.kind == "maintain").map(_.ms)) / 1000.0, "s"),
    ("etl.rows_per_s", samples.map(_.items).sum / (samples.map(_.ms).sum / 1000.0), "rows/s"),
    ("etl.stored_bytes_per_live_byte", storedPerLive, "ratio"))
}
