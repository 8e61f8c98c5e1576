package lakebench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.model.Tables
import graft.pipeline.Medallion

/** `lake_reads`: snapshot loading, file skipping and planning. Setup builds
  * silver and gold, fragments silver with small appends and publishes the
  * gold marts to the catalog. The client then repeats a fixed period of
  * point lookups (Zipf-skewed keys, some misses), date-window range scans
  * with an amount threshold, `spark.sql` top-k queries over gold or a
  * metadata-only count/min/max over silver, and one tiny append; the seed
  * picks the parameters.
  */
final class LakeReads(spark: SparkSession, work: String, seed: Long, small: Boolean)
    extends Workload {
  private val scale = if (small) Inputs.Small else Inputs.Full
  /** Small appends before the loop. The reference's silver table holds
    * 19,803 files for 11.0 M rows (BASELINE.md), 1.8 files per 1,000 rows;
    * base silver here is 96 files for 80 k rows and a 40-row append adds
    * about 19, so 3 appends bring it to about 1.9 per 1,000.
    */
  val FragmentAppends: Int = if (small) 2 else 3
  /** The operation types of one period, in order: the mix is fixed, and the
    * seed picks only keys, windows, thresholds and query parameters, so
    * every run's per-type medians cover the same kinds of work.
    */
  private val PeriodKinds = Vector("point", "range", "point", "sql", "point", "range",
    "point", "sql", "range", "point", "append")
  val AppendEvery: Int = PeriodKinds.size
  val AppendRows = 40
  val minOps: Int = if (small) 20 else 110
  val latencyKinds = Set("point", "range", "sql", "append")
  override def opQuantum: Int = AppendEvery
  val maxOps = 1000
  private val appendBatches = FragmentAppends + maxOps / AppendEvery + 1

  private val baseDir = Inputs.baseDir(work, scale)
  private val appendDir = s"$work/data/reads_appends_s$seed" + (if (small) "_small" else "")
  private var wh = ""
  private var med: Medallion = _

  sealed trait ROp { def kind: String }
  final case class Point(key: Long) extends ROp { val kind = "point" }
  final case class Range(lo: java.sql.Date, hi: java.sql.Date, minAmount: java.math.BigDecimal)
      extends ROp { val kind = "range" }
  final case class Sql(q: Int, text: String, params: Seq[Any]) extends ROp { val kind = "sql" }
  final case class Append(seq: Int) extends ROp { val kind = "append" }

  private val rnd = new java.util.SplittableRandom(seed * 31 + 7)
  private val zipfCdf: Array[Double] = {
    val w = (1 to scale.orders.toInt).map(r => 1.0 / math.pow(r, 1.1))
    val tot = w.sum
    w.scanLeft(0.0)(_ + _).tail.map(_ / tot).toArray
  }
  private val segments = Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
  private def day(i: Int) = java.sql.Date.valueOf(Inputs.StartDate.plusDays(i.toLong))

  private var points, ranges, sqls = 0

  private def nextOp(i: Int, appendsDone: Int): ROp = PeriodKinds(i % AppendEvery) match {
    case "append" => Append(FragmentAppends + appendsDone)
    case "point" =>
      points += 1
      // every tenth lookup misses: a key above every stored key
      if (points % 10 == 0) Point(scale.orders * 5 + rnd.nextInt(1000))
      else {
        val rank = java.util.Arrays.binarySearch(zipfCdf, rnd.nextDouble()) match {
          case x if x >= 0 => x; case x => -x - 1
        }
        Point((rank.toLong * 7907L + (seed & 0xfff)) % scale.orders)
      }
    case "range" =>
      ranges += 1
      val len = Seq(1, 7, 30)(ranges % 3)
      val lo = rnd.nextInt(scale.days - len)
      Range(day(lo), day(lo + len - 1), new java.math.BigDecimal(rnd.nextInt(60000)))
    case _ =>
      sqls += 1
      sqls % 4 match {
        case 0 =>
          val seg = segments(rnd.nextInt(segments.size)); val k = 5 + rnd.nextInt(20)
          Sql(0, s"SELECT c_custkey, c_name, total_amount FROM lb_gold_client_stats " +
            s"WHERE c_mktsegment = '$seg' ORDER BY total_amount DESC, c_custkey LIMIT $k", Seq(seg, k))
        case 1 =>
          val len = 7 + rnd.nextInt(60); val lo = rnd.nextInt(scale.days - len); val k = 5 + rnd.nextInt(10)
          Sql(1, s"SELECT date, daily_volume_rub, suspicious_count FROM lb_gold_daily_metrics " +
            s"WHERE date BETWEEN DATE'${day(lo)}' AND DATE'${day(lo + len)}' " +
            s"ORDER BY daily_volume_rub DESC, date LIMIT $k", Seq(day(lo), day(lo + len), k))
        case 2 =>
          val m = rnd.nextInt(50); val k = 3 + rnd.nextInt(5)
          Sql(2, s"SELECT l_returnflag, c_mktsegment, fraud_count, total_fraud_amount " +
            s"FROM lb_gold_fraud_analysis WHERE fraud_count >= $m " +
            s"ORDER BY total_fraud_amount DESC, l_returnflag, c_mktsegment LIMIT $k", Seq(m, k))
        case _ =>
          Sql(3, "SELECT count(*) AS n, min(transaction_date) AS lo, max(transaction_date) AS hi " +
            s"FROM parquet.`${med.silverTxn.path}`", Nil)
      }
  }

  /** Per executed read: the op, the append batches visible to it, and the
    * answer it returned: a digest of the rows for point and range scans,
    * the rows themselves for the small SQL answers.
    */
  private final case class Done(op: ROp, visible: Int, digest: (Long, Long), rows: Seq[Row],
                                filesScanned: Int)
  private val done = mutable.ArrayBuffer.empty[Done]
  private var appendsDone = 0
  /** The last op's answer, digested after the timing stops. */
  private var pending: Option[(ROp, Int, DataFrame, Array[Row])] = None

  def prepare(): Unit = {
    Inputs.writeBase(spark, baseDir, scale)
    Inputs.writeSilverAppends(spark, appendDir, seed, scale, appendBatches, AppendRows)
  }

  private def appendBatch(seq: Int): DataFrame =
    spark.read.parquet(s"$appendDir/appends/seq=$seq")

  /** A cold build: with 10 to 50 samples of each operation type in a run,
    * the per-type medians absorb the first, slower operations.
    */
  def setup(): Unit = {
    wh = s"$work/wh/reads"
    med = Workloads.medallion(spark, wh, baseDir)
    (0 until FragmentAppends).foreach(s => med.silverTxn.append(appendBatch(s), Seq("ship_month")))
    med.goldClient.publishCatalog("lb_gold_client_stats")
    med.goldDaily.publishCatalog("lb_gold_daily_metrics")
    med.goldFraud.publishCatalog("lb_gold_fraud_analysis")
  }

  def op(i: Int, tr: Tracer): (String, Long) = {
    val o = nextOp(i, appendsDone)
    val visible = FragmentAppends + appendsDone
    // every answer is executed in full and delivered to the client
    o match {
      case Point(k) =>
        val df = tr.span("table.read_point") { med.silverTxn.readPoint("l_orderkey", k) }
        pending = Some((o, visible, df, tr.span("exec.collect") { df.collect() }))
      case Range(lo, hi, amt) =>
        val df = tr.span("table.read_where") {
          med.silverTxn.readWhere("transaction_date", lo, hi).filter(col("amount") >= lit(amt))
        }
        pending = Some((o, visible, df, tr.span("exec.collect") { df.collect() }))
      case Sql(_, text, _) =>
        val df = tr.span("sql.parse_analyze") { spark.sql(text) }
        pending = Some((o, visible, df, tr.span("exec.collect") { df.collect() }))
      case Append(seq) =>
        tr.span("table.append") { med.silverTxn.append(appendBatch(seq), Seq("ship_month")) }
        appendsDone += 1
    }
    (o.kind, 1L)
  }

  override def afterOp(i: Int): Unit = pending.foreach { case (o, v, df, rows) =>
    done += (o match {
      case _: Sql => Done(o, v, (0L, 0L), rows.toSeq, 0)
      case _ => Done(o, v, Oracle.digestRows(rows.toSeq, silverCols), null, df.inputFiles.length)
    })
    pending = None
  }

  override def tableFacts(): Map[String, Double] = {
    val f = Workloads.tableFacts(Seq(med.silverTxn))
    val scanned = done.filter(_.rows == null).map(_.filesScanned.toDouble).toSeq
    f ++ Map(
      "table.files_scanned" -> Main.median(scanned),
      "table.skip_kept_ratio" -> Main.median(scanned) / f("table.files_live"))
  }

  def storedPerLive(): Double =
    Inputs.dirBytes(wh).toDouble / Workloads.liveBytes(Seq(med.bronzeLineitem, med.bronzeOrders,
      med.bronzeCustomer, med.silverTxn, med.goldClient, med.goldDaily, med.goldFraud))

  // ---- checks ------------------------------------------------------------

  private lazy val silverCols = Seq("l_orderkey", "l_linenumber", "client_id", "amount",
    "transaction_date", "ship_month", "is_suspicious")

  /** Expected silver rows with the append batch they arrived in (-1: base). */
  private def expectedSilver: DataFrame = {
    val base = Oracle.silver(Tables.lineitem(spark, baseDir), Tables.orders(spark, baseDir))
      .withColumn("seq", lit(-1L))
    base.unionByName(spark.read.parquet(s"$appendDir/appends").select(silverCols.map(col) :+ col("seq"): _*))
  }

  /** op → digest of the rows a plain-Spark filter over the expected silver
    * returns for each point and range read.
    */
  private def expectedScans(): Map[Int, (Long, Long)] = {
    import spark.implicits._
    val silver = expectedSilver
    val pts = done.zipWithIndex.collect { case (Done(Point(k), v, _, _, _), j) => (j, k, v) }
      .toSeq.toDF("op", "key", "visible")
    val rgs = done.zipWithIndex.collect { case (Done(Range(lo, hi, a), v, _, _, _), j) =>
      (j, lo, hi, new java.math.BigDecimal(a.toString).setScale(2), v) }.toSeq
      .toDF("op", "lo", "hi", "min_amount", "visible")
    val p = silver.join(broadcast(pts), silver("l_orderkey") === pts("key") && silver("seq") < pts("visible"))
    val r = silver.join(broadcast(rgs), silver("transaction_date").between(rgs("lo"), rgs("hi")) &&
      silver("amount") >= rgs("min_amount") && silver("seq") < rgs("visible"))
    p.select(col("op") +: silverCols.map(col): _*)
      .unionByName(r.select(col("op") +: silverCols.map(col): _*))
      .collect().toSeq.groupBy(_.getInt(0))
      .map { case (j, rows) => j -> Oracle.digestRows(rows, silverCols) }
  }

  /** Expected answer of a SQL op, evaluated in plain Scala over the
    * oracle's gold marts and the per-batch silver aggregates.
    */
  private def expectedSql(d: Done, gold: Map[String, Seq[Row]],
                          silverBySeq: Seq[(Int, Long, java.sql.Date, java.sql.Date)]): Seq[Seq[Any]] = {
    val o = d.op.asInstanceOf[Sql]
    def desc(r: Row, c: String) = -r.getAs[Double](c)
    o.q match {
      case 0 =>
        gold("client").filter(_.getAs[String]("c_mktsegment") == o.params(0))
          .sortBy(r => (desc(r, "total_amount"), r.getAs[Long]("c_custkey")))
          .take(o.params(1).asInstanceOf[Int])
          .map(r => Seq(r.getAs[Long]("c_custkey"), r.getAs[String]("c_name"), r.getAs[Double]("total_amount")))
      case 1 =>
        val (lo, hi) = (o.params(0).asInstanceOf[java.sql.Date], o.params(1).asInstanceOf[java.sql.Date])
        gold("daily").filter { r => val x = r.getAs[java.sql.Date]("date"); !x.before(lo) && !x.after(hi) }
          .sortBy(r => (desc(r, "daily_volume_rub"), r.getAs[java.sql.Date]("date").getTime))
          .take(o.params(2).asInstanceOf[Int])
          .map(r => Seq(r.getAs[java.sql.Date]("date"), r.getAs[Double]("daily_volume_rub"),
            r.getAs[Long]("suspicious_count")))
      case 2 =>
        gold("fraud").filter(_.getAs[Long]("fraud_count") >= o.params(0).asInstanceOf[Int])
          .sortBy(r => (desc(r, "total_fraud_amount"), r.getAs[String]("l_returnflag"),
            Option(r.getAs[String]("c_mktsegment"))))
          .take(o.params(1).asInstanceOf[Int])
          .map(r => Seq(r.getAs[String]("l_returnflag"), r.getAs[String]("c_mktsegment"),
            r.getAs[Long]("fraud_count"), r.getAs[Double]("total_fraud_amount")))
      case _ =>
        val vis = silverBySeq.filter(_._1 < d.visible)
        Seq(Seq(vis.map(_._2).sum, vis.map(_._3).minBy(_.getTime), vis.map(_._4).maxBy(_.getTime)))
    }
  }

  private def compare(scans: Map[Int, (Long, Long)], sqlRows: Map[Int, Seq[Row]]): Seq[String] = {
    val exp = expectedScans()
    val li = Tables.lineitem(spark, baseDir)
    val or = Tables.orders(spark, baseDir)
    val cu = Tables.customer(spark, baseDir)
    val gold = Map("client" -> Oracle.clientStats(li, or, cu), "daily" -> Oracle.dailyMetrics(li, or),
      "fraud" -> Oracle.fraudAnalysis(li, or, cu)).map { case (k, df) => k -> df.collect().toSeq }
    val silverBySeq = expectedSilver.groupBy("seq")
      .agg(count(lit(1)), min("transaction_date"), max("transaction_date")).collect()
      .map(r => (r.getAs[Number](0).intValue, r.getLong(1), r.getDate(2), r.getDate(3))).toSeq
    val out = mutable.ArrayBuffer.empty[String]
    done.zipWithIndex.foreach { case (d, j) =>
      if (d.rows == null) {
        val a = scans(j); val e = exp.getOrElse(j, (0L, 0L))
        if (a != e) out += s"read op $j ${d.op}: engine (rows, hash) $a, expected $e"
      } else {
        val e = expectedSql(d, gold, silverBySeq).map(_.map(String.valueOf))
        val a = sqlRows(j).map(_.toSeq.map(String.valueOf))
        if (a != e) out += s"sql op $j ${d.op}: engine $a, expected $e"
      }
    }
    out.toSeq
  }

  private def scanAnswers: Map[Int, (Long, Long)] =
    done.zipWithIndex.filter(_._1.rows == null).map { case (d, j) => j -> d.digest }.toMap
  private def sqlAnswers: Map[Int, Seq[Row]] =
    done.zipWithIndex.filter(_._1.rows != null).map { case (d, j) => j -> d.rows }.toMap

  def check(): Seq[String] = compare(scanAnswers, sqlAnswers)

  def corruptions(): Seq[(String, Boolean, () => Seq[String])] = {
    val scans = scanAnswers
    val sql = sqlAnswers
    val nonEmpty = scans.filter(_._2._1 > 0).keys.toSeq.sorted
    val sqlNonEmpty = sql.filter(_._2.nonEmpty).keys.toSeq.sorted
    def withScan(f: ((Long, Long)) => (Long, Long)) = () =>
      nonEmpty.headOption.fold(Seq("no non-empty scan to corrupt"))(j =>
        compare(scans + (j -> f(scans(j))), sql))
    Seq(
      ("reads.control_accepted", false, () => compare(scans, sql)),
      // a digest is (rows, sum of row hashes): a dropped row lowers the
      // count, an altered value changes the hash sum
      ("reads.scan_row_dropped", true, withScan { case (n, h) => (n - 1, h) }),
      ("reads.scan_value_altered", true, withScan { case (n, h) => (n, h + 1) }),
      ("reads.sql_row_dropped", true, () => sqlNonEmpty.headOption.fold(Seq("no sql answer to corrupt"))(j =>
        compare(scans, sql + (j -> sql(j).drop(1))))))
  }

  def inputFacts: Map[String, Any] = Map(
    "base_orders" -> scale.orders, "fragment_appends" -> FragmentAppends,
    "append_every" -> AppendEvery, "append_rows" -> AppendRows,
    "point_key_skew" -> "zipf s=1.1 over base keys, every 10th lookup a miss",
    "range_windows_days" -> "1, 7, 30 in turn; amount threshold 0-60000",
    "op_period" -> PeriodKinds.mkString(","),
    "sql_rotation" -> "client top-k, daily top-k, fraud top-k, silver count/min/max",
    "reads_run" -> done.size, "appends_run" -> appendsDone,
    "append_bytes_median" -> Main.median((FragmentAppends until FragmentAppends + appendsDone)
      .map(q => Inputs.dirBytes(s"$appendDir/appends/seq=$q").toDouble)),
    "files_scanned_median" -> Main.median(done.filter(_.rows == null).map(_.filesScanned.toDouble).toSeq))

  def named(samples: Seq[Sample], storedPerLive: Double): Seq[(String, Double, String)] = {
    def p50(k: String) = Main.median(samples.filter(_.kind == k).map(_.ms))
    val reads = samples.filter(s => s.kind != "append").map(_.ms)
    Seq(
      ("read.point_p50_ms", p50("point"), "ms"),
      ("read.range_p50_ms", p50("range"), "ms"),
      ("read.sql_p50_ms", p50("sql"), "ms"),
      ("read.p90_ms", Main.pct(reads, 0.9), "ms"),
      ("read.append_p50_ms", p50("append"), "ms"),
      ("read.ops_per_s", samples.size / (samples.map(_.ms).sum / 1000.0), "ops/s"))
  }
}
