package graft.pipeline

import graft.SparkSpec
import graft.model.Tables
import org.apache.spark.sql.functions._

class MedallionSpec extends SparkSpec {

  private val sfDir = "/root/testdata/sf0.001"

  test("full medallion flow: counts reconcile at every layer") {
    val wh = tmpDir("medallion") + "/wh"
    val m = new Medallion(spark, wh, sfDir)
    m.runBronze()
    m.runSilver()
    m.runGold()
    val a = m.audit()
    val nLineitem = Tables.lineitem(spark, sfDir).count()
    val nCustWithOrders = Tables.customer(spark, sfDir).count()
    assert(a("bronze_lineitem") == nLineitem)
    assert(a("silver_transactions") == nLineitem) // inner join keeps all (fk integrity)
    assert(a("gold_client_stats") == nCustWithOrders)
    assert(a("gold_daily_metrics") > 0 && a("gold_fraud_analysis") > 0)
  }

  test("observed silver write collects audit metrics in-flight (no re-scan)") {
    val m = new Medallion(spark, tmpDir("medallion-obs") + "/wh", sfDir)
    m.runBronze()
    val metrics = m.runSilverObserved()
    val silver = m.silverTxn.read
    assert(metrics("rows") == silver.count())
    assert(metrics("suspicious_rows") ==
      silver.filter(col("is_suspicious")).count())
    val total = silver.agg(sum(col("amount")).cast("double")).head.getDouble(0)
    assert(math.abs(metrics("total_amount").asInstanceOf[Double] - total) < 1e-6)
  }

  test("incremental merge is idempotent and adds only new keys") {
    val wh = tmpDir("medallion-inc") + "/wh"
    val m = new Medallion(spark, wh, sfDir)
    m.runBronze(); m.runSilver()
    val n0 = m.silverTxn.read.count()
    // re-deliver a subset (dup keys) -> no growth
    val li = Tables.lineitem(spark, sfDir).filter(col("l_orderkey") % 10 === 0)
    m.runIncremental(li, Tables.orders(spark, sfDir))
    assert(m.silverTxn.read.count() == n0)
    // partition pruning still works after merge
    val months = m.silverTxn.read.select("ship_month").distinct().count()
    assert(months > 10)
  }

  test("gold refresh is incremental: second run adds no daily rows") {
    val wh = tmpDir("medallion-gold") + "/wh"
    val m = new Medallion(spark, wh, sfDir)
    m.runBronze(); m.runSilver(); m.runGold()
    val n1 = m.goldDaily.read.count()
    m.runGold() // re-run: anti-join append should add nothing, merge idempotent
    assert(m.goldDaily.read.count() == n1)
    assert(m.goldClient.read.count() == Tables.customer(spark, sfDir).count())
  }

  test("maintenance preserves results (reference cell 26 A/B invariance)") {
    val wh = tmpDir("medallion-maint") + "/wh"
    val m = new Medallion(spark, wh, sfDir)
    m.runBronze(); m.runSilver(); m.runGold()
    val before = m.silverTxn.read.agg(count(lit(1)), sum("amount")).collect()(0)
    val dailyBefore = m.goldDaily.read.orderBy("date").collect().toSeq
    m.runMaintain()
    assert(m.silverTxn.read.agg(count(lit(1)), sum("amount")).collect()(0) == before)
    assert(m.goldDaily.read.orderBy("date").collect().toSeq == dailyBefore)
  }

  test("a partitioned MERGE after maintenance keeps every silver row; " +
      "OPTIMIZE keeps the month partitioning") {
    val wh = tmpDir("medallion-maint-merge") + "/wh"
    val m = new Medallion(spark, wh, sfDir)
    m.runBronze(); m.runSilver(); m.runGold() // runMaintain clusters gold
    m.runMaintain()
    val li = Tables.lineitem(spark, sfDir)
    val or = Tables.orders(spark, sfDir)
    // the batch mixes updates spread over many months (every 7th order's
    // lines repriced, so MERGE rewrites files in many partitions) with new
    // orders keyed above the current maximum
    val maxKey = or.agg(max(col("o_orderkey").cast("long"))).head.getLong(0)
    val updLi = li.filter(col("l_orderkey") % 7 === 0)
      .withColumn("l_extendedprice", col("l_extendedprice") + 1)
    val newOr = or.orderBy("o_orderkey").limit(20)
      .withColumn("o_orderkey", col("o_orderkey") + maxKey)
    val newLi = li.join(newOr.select((col("o_orderkey") - maxKey).as("k")),
        col("l_orderkey") === col("k"))
      .drop("k").withColumn("l_orderkey", col("l_orderkey") + maxKey)
    val batchLi = updLi.unionByName(newLi)
    val allOr = or.unionByName(newOr)
    m.runIncremental(batchLi, allOr)
    // plain-Spark recomputation of MERGE's source-wins upsert
    val keys = Seq("l_orderkey", "l_linenumber")
    val batch = m.silverTransactions(batchLi, allOr)
    val expected = m.silverTransactions(li, or)
      .join(batch.select(keys.map(col): _*), keys, "left_anti")
      .unionByName(batch)
    val got = m.silverTxn.read.select(expected.columns.map(col): _*)
    assert(got.count() == expected.count(), "silver lost or duplicated rows")
    assert(got.exceptAll(expected).isEmpty && expected.exceptAll(got).isEmpty,
      "silver differs from the recomputation")
    val optimize = m.silverTxn.history().filter(col("operation") === "OPTIMIZE")
      .select("partitionColumns").collect().map(_.getSeq[String](0).toSeq)
    assert(optimize.nonEmpty, "runMaintain committed no OPTIMIZE")
    assert(optimize.forall(_ == Seq("ship_month")),
      s"OPTIMIZE dropped the partitioning: ${optimize.toSeq}")
  }
}
