package lakebench

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Independent plain-Spark statements of what the engine's outputs must
  * be. Nothing here calls `graft.*`: the expected tables are recomputed
  * from the raw generated parquet, and the formulas are written out from
  * the pipeline's documented semantics, not imported from it.
  */
object Oracle {

  /** Upsert semantics: the latest cycle's row wins for every key a batch
    * touches; untouched base rows stay.
    */
  def upserted(base: DataFrame, batches: DataFrame, keys: Seq[String]): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*).orderBy(col("cycle").desc)
    val latest = batches.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).drop("__rn", "cycle", "is_new")
    base.join(latest.select(keys.map(col): _*), keys, "left_anti")
      .unionByName(latest)
  }

  private def suspicious(price: Column, flag: Column): Column =
    price > 5000.0 && (flag === "A" || flag === "R")

  /** Exact sum of a double column: decimal(18,6) partial sums, cast back. */
  private def exactSum(c: Column): Column = sum(c.cast("decimal(18,6)")).cast("double")

  def silver(li: DataFrame, or: DataFrame): DataFrame =
    li.join(or, li("l_orderkey") === or("o_orderkey"))
      .select(
        li("l_orderkey"), li("l_linenumber"), or("o_custkey").as("client_id"),
        li("l_extendedprice").cast("decimal(18,2)").as("amount"),
        to_date(or("o_orderdate")).as("transaction_date"),
        date_format(or("o_orderdate"), "yyyy-MM").as("ship_month"),
        suspicious(li("l_extendedprice"), li("l_returnflag")).as("is_suspicious"))

  def clientStats(li: DataFrame, or: DataFrame, cu: DataFrame): DataFrame =
    li.join(or, li("l_orderkey") === or("o_orderkey"))
      .join(cu, or("o_custkey") === cu("c_custkey"))
      .groupBy(cu("c_custkey"), cu("c_name"), cu("c_mktsegment"))
      .agg(exactSum(li("l_extendedprice")).as("total_amount"),
        (exactSum(li("l_extendedprice")) / count(li("l_extendedprice"))).as("avg_amount"),
        count(lit(1)).as("transactions_count"))

  def dailyMetrics(li: DataFrame, or: DataFrame): DataFrame = {
    val t = li.join(or, li("l_orderkey") === or("o_orderkey"))
      .select(to_date(or("o_orderdate")).as("date"), li("l_extendedprice").as("p"),
        li("l_returnflag").as("f"))
      .withColumn("rub", col("p") * (lit(1.0) + dayofmonth(col("date")).cast("double") * lit(0.01)))
      .withColumn("s", suspicious(col("p"), col("f")))
    t.groupBy("date").agg(
      exactSum(col("rub")).as("daily_volume_rub"),
      (exactSum(col("rub")) / count(lit(1))).as("avg_transaction_rub"),
      count(lit(1)).as("transactions_count"),
      sum(when(col("s"), 1L).otherwise(0L)).as("suspicious_count"),
      exactSum(when(col("s"), col("rub")).otherwise(lit(0.0))).as("suspicious_volume_rub"))
  }

  def fraudAnalysis(li: DataFrame, or: DataFrame, cu: DataFrame): DataFrame =
    li.filter(suspicious(li("l_extendedprice"), li("l_returnflag")))
      .join(or, li("l_orderkey") === or("o_orderkey"))
      .join(cu, or("o_custkey") === cu("c_custkey"), "left")
      .groupBy(li("l_returnflag"), cu("c_mktsegment"))
      .agg(count(lit(1)).as("fraud_count"),
        (exactSum(li("l_extendedprice")) / count(lit(1))).as("avg_fraud_amount"),
        exactSum(li("l_extendedprice")).as("total_fraud_amount"))

  /** Order-independent row hash over the named columns, as strings, so the
    * engine's and the oracle's physical types need not match exactly.
    */
  def rowHash(cols: Seq[String]): Column =
    xxhash64(cols.sorted.map(c => coalesce(col(c).cast("string"), lit("\u0000"))): _*)

  /** (rows, wrapping sum of row hashes) of collected rows over `cols`. */
  def digestRows(rows: Seq[org.apache.spark.sql.Row], cols: Seq[String]): (Long, Long) =
    (rows.size.toLong, rows.iterator.map { r =>
      scala.util.hashing.MurmurHash3.stringHash(cols.map(c => String.valueOf(r.getAs[Any](c))).mkString("\u0001")).toLong
    }.sum)

  /** Exact sum of row hashes (decimal, so ANSI mode never overflows). */
  def hashSum(h: Column): Column = coalesce(sum(h.cast("decimal(38,0)")), lit(0).cast("decimal(38,0)"))

  /** Compares two tables by digest over `cols`; an empty result means
    * equal.
    */
  def diff(name: String, actual: DataFrame, expected: DataFrame,
           cols: Seq[String]): Seq[String] = {
    val (a, e) = (digest(actual, cols), digest(expected, cols))
    if (a == e) Nil
    else Seq(s"$name: ${a._1} rows (hash sum ${a._2}), expected ${e._1} rows (hash sum ${e._2})")
  }

  /** (rows, hash sum) of `df` over `cols`: equal digests mean equal
    * multisets up to a 64-bit hash collision.
    */
  def digest(df: DataFrame, cols: Seq[String]): (Long, BigDecimal) = {
    val r = df.agg(count(lit(1)), hashSum(rowHash(cols))).collect()(0)
    (r.getLong(0), BigDecimal(r.getDecimal(1)))
  }
}
