package lakebench

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions._

/** Input generation. The base tables are fixed (generated from `BaseSeed`
  * once per checkout), as the repository's star-schema test data is; what
  * a run sends the engine on top of them (ETL batches, appends, the read
  * mix, the corpus) is a function of the workload seed, which the engine
  * never sees. Seeded inputs are written again by every run, even for a
  * seed run before: writing them warms the session, so a cached copy would
  * make that run's set-up slower than the others'. The tables have the
  * TPC-H-like shape of that test data (lineitem, orders, customer) at a
  * size chosen so a run fits the benchmark's time budget.
  */
object Inputs {
  val StartDate: java.time.LocalDate = java.time.LocalDate.of(1995, 1, 1)
  val BaseSeed = 0L
  /** A prime: `key * Stride mod days` visits every day of the span. */
  private val Stride = 7919L

  /** Base table size; orders are dated over `days` days from StartDate. */
  final case class Scale(orders: Long, customers: Long, days: Int) {
    def lastDay: java.time.LocalDate = StartDate.plusDays(days - 1L)
  }
  /** The timed tables, sized by the run budget. */
  val Full = Scale(20000, 2000, 730)
  /** Self-test runs. */
  val Small = Scale(4000, 500, 730)

  /** Deterministic hash of (seed, salt, key columns) in [0, m). */
  def h(seed: Long, salt: Int, m: Long, cs: Column*): Column =
    pmod(xxhash64((lit(seed) +: lit(salt) +: cs): _*), lit(m))

  def dateOf(dayIdx: Column): Column = date_add(lit(StartDate.toString).cast("date"), dayIdx.cast("int"))

  def lines(seed: Long, key: Column): Column = h(seed, 2, 7, key) + 1

  /** Order columns as a pure function of the key, so an update batch can
    * rebuild an existing order exactly, changing only what it updates.
    */
  def orderCols(seed: Long, k: Column, dayIdx: Column, customers: Long,
                version: Column): Seq[Column] = Seq(
    k.as("o_orderkey"),
    h(seed, 1, customers, k).as("o_custkey"),
    element_at(array(lit("F"), lit("O"), lit("P")), (h(seed, 3, 3, k, version) + 1).cast("int")).as("o_orderstatus"),
    (h(seed, 4, 50000000L, k, version) / 100.0 + 1000.0).as("o_totalprice"),
    dateOf(dayIdx).cast("timestamp").as("o_orderdate"),
    element_at(array(lit("1-URGENT"), lit("2-HIGH"), lit("3-MEDIUM"), lit("4-NOT SPECIFIED"), lit("5-LOW")),
      (h(seed, 5, 5, k, version) + 1).cast("int")).as("o_orderpriority"))

  /** Lineitem columns for (order key, line number); `version` varies the
    * price and return flag between the base row and its updates.
    */
  def lineCols(seed: Long, k: Column, ln: Column, dayIdx: Column, version: Column): Seq[Column] = Seq(
    k.as("l_orderkey"),
    h(seed, 10, 20000L, k, ln).as("l_partkey"),
    h(seed, 11, 1000L, k, ln).as("l_suppkey"),
    ln.cast("int").as("l_linenumber"),
    (h(seed, 12, 50, k, ln) + 1).cast("double").as("l_quantity"),
    (h(seed, 13, 10400000L, k, ln, version) / 100.0 + 900.0).as("l_extendedprice"),
    (h(seed, 14, 11, k, ln) / 100.0).as("l_discount"),
    (h(seed, 15, 9, k, ln) / 100.0).as("l_tax"),
    element_at(array(lit("A"), lit("N"), lit("R")), (h(seed, 16, 3, k, ln, version) + 1).cast("int")).as("l_returnflag"),
    element_at(array(lit("O"), lit("F")), (h(seed, 17, 2, k, ln) + 1).cast("int")).as("l_linestatus"),
    dateOf(dayIdx + h(seed, 18, 120, k, ln) + 1).cast("timestamp").as("l_shipdate"))

  def baseDay(seed: Long, k: Column, days: Int): Column =
    pmod(k * lit(Stride) + lit(seed & 0xffff), lit(days.toLong))

  /** Where the base tables of `s` live (shared by runs and workloads). */
  def baseDir(work: String, s: Scale): String =
    s"$work/data/base_${s.orders}_${s.customers}_${s.days}"

  private def done(dir: String): Boolean = Files.exists(Paths.get(dir, "_DONE"))
  private def markDone(dir: String): Unit = {
    Files.createDirectories(Paths.get(dir))
    Files.write(Paths.get(dir, "_DONE"), Array.emptyByteArray)
  }

  /** Writes lineitem/orders/customer parquet under `dir` (once). */
  def writeBase(spark: SparkSession, dir: String, s: Scale): Unit =
    if (!done(dir)) {
      val seed = BaseSeed
      val v0 = lit(0L)
      val orders = spark.range(s.orders).select(
        orderCols(seed, col("id"), baseDay(seed, col("id"), s.days), s.customers, v0): _*)
      orders.coalesce(2).write.mode("overwrite").parquet(s"$dir/orders.parquet")
      spark.range(s.orders)
        .select(col("id").as("k"), baseDay(seed, col("id"), s.days).as("d"),
          explode(sequence(lit(1L), lines(seed, col("id")))).as("ln"))
        .select(lineCols(seed, col("k"), col("ln"), col("d"), v0): _*)
        .coalesce(4).write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
      spark.range(s.customers).select(
        col("id").as("c_custkey"),
        format_string("Customer#%09d", col("id")).as("c_name"),
        h(seed, 20, 25, col("id")).cast("int").as("c_nationkey"),
        (h(seed, 21, 1100000L, col("id")) / 100.0 - 999.0).as("c_acctbal"),
        element_at(array(Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY").map(lit): _*),
          (h(seed, 22, 5, col("id")) + 1).cast("int")).as("c_mktsegment"))
        .coalesce(1).write.mode("overwrite").parquet(s"$dir/customer.parquet")
      markDone(dir)
    }

  final case class EtlShape(newOrders: Int, updOrders: Int, cycles: Int)

  /** ETL batches for cycles 0 until `cycles`, partitioned by `cycle`. Each
    * batch holds new orders keyed above the base key range, dated in the
    * latest two months (plus one new day per cycle), and updates to
    * existing orders spread over the whole date range; updated orders keep
    * their customer, date and lines and change price, status, priority and
    * return flags. `seed` picks the keys, dates and new values; the order
    * structure comes from the base tables' seed.
    */
  def writeEtlBatches(spark: SparkSession, dir: String, seed: Long, base: Scale,
                      e: EtlShape): Unit = {
    val cyc = spark.range(e.cycles).select(col("id").as("cycle"))
    val ver = col("cycle") + 1 + lit(seed * 1000)
    val maxDay = lit((base.days - 1).toLong)
    val newKeys = cyc.crossJoin(spark.range(e.newOrders).select(col("id").as("j")))
      .select(col("cycle"), col("j"),
        (lit(base.orders) + col("cycle") * e.newOrders + col("j")).as("k"))
      .withColumn("d", when(col("j") % 10 === 0, maxDay + col("cycle") + 1)
        .otherwise(maxDay - h(seed, 30, 60, col("k"))))
    val updKeys = cyc.crossJoin(spark.range(e.updOrders).select(col("id").as("j")))
      .select(col("cycle"), h(seed, 31, base.orders, col("cycle"), col("j")).as("k"))
      .distinct()
      .withColumn("d", baseDay(BaseSeed, col("k"), base.days))
    val keys = newKeys.select("cycle", "k", "d").withColumn("is_new", lit(true))
      .unionByName(updKeys.withColumn("is_new", lit(false)))
    keys.select((col("cycle") +: col("is_new") +:
        orderCols(BaseSeed, col("k"), col("d"), base.customers, ver)): _*)
      .repartition(col("cycle")).write.mode("overwrite").partitionBy("cycle")
      .parquet(s"$dir/orders")
    keys.select(col("cycle"), col("is_new"), col("k"), col("d"),
        explode(sequence(lit(1L), lines(BaseSeed, col("k")))).as("ln"))
      .select((col("cycle") +: col("is_new") +:
        lineCols(BaseSeed, col("k"), col("ln"), col("d"), ver)): _*)
      .repartition(col("cycle")).write.mode("overwrite").partitionBy("cycle")
      .parquet(s"$dir/lineitem")
  }

  /** Silver-shaped rows for the small appends of `lake_reads`: `appends`
    * batches of `rows` rows each, keyed above every existing order key and
    * dated anywhere in the range, so each append lands small files in
    * several month partitions.
    */
  def writeSilverAppends(spark: SparkSession, dir: String, seed: Long, base: Scale,
                         appends: Int, rows: Int): Unit = {
    spark.range(appends.toLong * rows).select(col("id"),
        (col("id") / rows).cast("long").as("seq"),
        (lit(base.orders * 2) + col("id")).as("l_orderkey"),
        lit(1).as("l_linenumber"),
        h(seed, 40, base.customers, col("id")).as("client_id"),
        (h(seed, 41, 10400000L, col("id")) / 100.0 + 900.0).cast("decimal(18,2)").as("amount"),
        dateOf(h(seed, 42, base.days, col("id"))).as("transaction_date"))
      .withColumn("ship_month", date_format(col("transaction_date"), "yyyy-MM"))
      .withColumn("is_suspicious", col("amount") > 5000 && h(seed, 43, 3, col("id")) =!= 1)
      .drop("id")
      .repartition(col("seq")).write.mode("overwrite").partitionBy("seq")
      .parquet(dir + "/appends")
  }

  // ---- corpus ------------------------------------------------------------

  /** The generated corpus with its ground truth, which stays with the
    * benchmark: `kind` is good/low/exact/near, `copyOf` the source
    * document of a planted copy (-1 otherwise).
    */
  final case class Corpus(texts: Array[String], kind: Array[String], copyOf: Array[Int]) {
    def count(k: String): Int = kind.count(_ == k)
  }

  private val stop = Map(
    "en" -> Array("the", "a", "of", "and", "in", "to", "is"),
    "de" -> Array("der", "die", "das", "und", "ist", "von"),
    "es" -> Array("el", "la", "de", "y", "los", "es"),
    "fr" -> Array("le", "la", "et", "les", "des", "est"))
  private val langs = Array("en", "en", "de", "es", "fr")

  /** A seeded corpus: fresh documents of 30–90 words over a 3,000-word
    * vocabulary with language stopwords mixed in, plus planted shares of
    * low-quality documents (short and repetitive), exact duplicates
    * (copies differing only in case and whitespace) and near-duplicates
    * (copies with one word replaced).
    */
  def writeCorpus(spark: SparkSession, dir: String, seed: Long, n: Int): Corpus = {
    val rnd = new java.util.SplittableRandom(seed * 7919L + 17)
    def word(): String = "w" + Integer.toString(rnd.nextInt(3000), 36)
    val texts = new Array[String](n)
    val kinds = new Array[String](n)
    val copyOf = Array.fill(n)(-1)
    for (i <- 0 until n) {
      val r = rnd.nextInt(100)
      if (i > 20 && r < 8) {
        // exact duplicate of an earlier good document
        var j = rnd.nextInt(i)
        while (kinds(j) != "good") j = rnd.nextInt(i)
        texts(i) = "  " + texts(j).toUpperCase.replace(" ", "   ") + " "
        kinds(i) = "exact"; copyOf(i) = j
      } else if (i > 20 && r < 20) {
        var j = rnd.nextInt(i)
        while (kinds(j) != "good") j = rnd.nextInt(i)
        val ws = texts(j).split(" ")
        ws(rnd.nextInt(ws.length)) = word()
        texts(i) = ws.mkString(" ")
        kinds(i) = "near"; copyOf(i) = j
      } else if (r < 30) {
        val w = word()
        texts(i) = Array.fill(3 + rnd.nextInt(6))(w).mkString(" ")
        kinds(i) = "low"
      } else {
        val lang = langs(rnd.nextInt(langs.length))
        val sw = stop(lang)
        val len = 30 + rnd.nextInt(61)
        texts(i) = Array.fill(len)(
          if (rnd.nextInt(5) == 0) sw(rnd.nextInt(sw.length)) else word()).mkString(" ")
        kinds(i) = "good"
      }
    }
    import spark.implicits._
    (0 until n).map(i => (i.toLong, texts(i), s"src${i % 7}"))
      .toDF("doc_id", "text", "source").coalesce(2)
      .write.mode("overwrite").parquet(dir + "/documents.parquet")
    Corpus(texts, kinds, copyOf)
  }

  /** Total bytes of the regular files under `dir`. */
  def dirBytes(dir: String): Long = {
    val p = Paths.get(dir)
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum()
      finally s.close()
    }
  }
}
