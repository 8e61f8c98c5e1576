package lakebench

import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** What a workload gives the closed-loop client. */
trait Workload {
  /** Timed operations the ledger (traced counters) covers; the timed loop
    * runs at least this many, so every run measures the same prefix.
    */
  def minOps: Int
  /** The loop stops only after a multiple of this many timed operations,
    * so every run measures the same mix of operation types.
    */
  def opQuantum: Int = 1
  /** Operation types whose medians make up `op_p50_ms`. */
  def latencyKinds: Set[String]
  def maxOps: Int
  /** Seeded inputs, written before any timing starts. */
  def prepare(): Unit
  /** Warms up and builds the initial state, once per run; timed for `setup_s`. */
  def setup(): Unit
  /** Runs operation `i` and returns (kind, items it processed). */
  def op(i: Int, tr: Tracer): (String, Long)
  /** Work after an operation that the timing leaves out. */
  def afterOp(i: Int): Unit = ()
  /** Layer facts at the end of the ledger window (traced runs). */
  def tableFacts(): Map[String, Double] = Map.empty
  /** Output checks: an empty list means correct. */
  def check(): Seq[String]
  /** Self-test cases: (name, whether the checks must reject it, the checks
    * run on that variant of the outputs). Each workload has one control
    * that must pass and corrupted variants (a dropped row, an altered
    * value) that must be rejected.
    */
  def corruptions(): Seq[(String, Boolean, () => Seq[String])]
  def inputFacts: Map[String, Any]
  /** Workload-specific end-to-end figures: name → (value, unit). */
  def named(samples: Seq[Sample], storedPerLive: Double): Seq[(String, Double, String)]
  /** Stored bytes ÷ live data bytes of the workload's warehouse, taken at
    * the end of the ledger window so every run measures the same state.
    */
  def storedPerLive(): Double
}

final case class Sample(op: Int, kind: String, ms: Double, items: Long, ok: Boolean,
                        startNs: Long, endNs: Long, bytesRead: Long, bytesWritten: Long)

object Main {
  final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
                        work: String, out: String, selftest: Boolean)

  def parse(a: Array[String]): Args = {
    val m = a.sliding(2, 2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    Args(m("workload"), m("seed").toLong, m("seconds").toInt, m.get("trace").contains("1"),
      m("work"), m("out"), m.get("selftest").contains("1"))
  }

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  /** Nearest-rank percentile. */
  def pct(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) Double.NaN
    else { val s = xs.sorted; s(math.min(s.size - 1, math.ceil(p * s.size).toInt - 1).max(0)) }

  /** The fixed-work host probe `graft.Bench` calibrates with: a 100M range
    * sum, pure CPU. Median of three, seconds.
    */
  def probe(spark: SparkSession): Double =
    median((1 to 3).map { _ =>
      val t0 = System.nanoTime()
      spark.range(100000000L).selectExpr("sum(id)").collect()
      (System.nanoTime() - t0) / 1e9
    })

  def retainedHeapMb(): Double = {
    val rt = Runtime.getRuntime
    (1 to 3).foreach { _ => System.gc(); Thread.sleep(150) }
    (rt.totalMemory - rt.freeMemory) / 1048576.0
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val t0 = System.nanoTime()
    val cores = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors().toString).toInt
    val b = graft.GraftSession.builder("lakebench", Some(s"local[$cores]"), Some(cores))
      .config("spark.local.dir", s"${a.work}/tmp")
      .config("spark.sql.warehouse.dir", s"${a.work}/catalog")
    if (a.trace) b.config("spark.hadoop.fs.file.impl", classOf[CountingLocalFileSystem].getName)
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val ok = try { run(spark, a, t0, cores); true }
      catch { case e: Throwable => e.printStackTrace(); false }
    spark.stop()
    // exit explicitly: engine threads left behind must not keep the JVM up
    sys.exit(if (ok) 0 else 1)
  }

  def run(spark: SparkSession, a: Args, t0: Long, cores: Int): Unit = {
    val tr = new Tracer(a.trace)
    val wl: Workload = a.workload match {
      case "etl_incremental" => new EtlIncremental(spark, a.work, a.seed, a.selftest)
      case "lake_reads" => new LakeReads(spark, a.work, a.seed, a.selftest)
      case "corpus_dedup" => new CorpusDedup(spark, a.work, a.seed, a.selftest)
      case other => sys.error(s"unknown workload $other")
    }
    val sessionS = (System.nanoTime() - t0) / 1e9

    val p0 = System.nanoTime()
    wl.prepare()
    val prepareS = (System.nanoTime() - p0) / 1e9
    val s0 = System.nanoTime()
    wl.setup()
    val buildS = (System.nanoTime() - s0) / 1e9
    val setupS = sessionS + buildS

    val host0 = (Runtime.getRuntime.availableProcessors(),
      java.lang.management.ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage,
      probe(spark))

    if (a.trace) {
      spark.sparkContext.addSparkListener(tr.sparkListener)
      spark.listenerManager.register(tr.queryListener)
      CountingLocalFileSystem.counters = tr.counters
    }
    val sc = spark.sparkContext
    val samples = mutable.ArrayBuffer.empty[Sample]
    var busyNs = 0L
    var tableFacts = Map.empty[String, Double]
    var storedPerLive = Double.NaN
    val limitNs = a.seconds * 1000000000L
    var i = 0
    while ((busyNs < limitNs || i < wl.minOps || i % wl.opQuantum != 0) && i < wl.maxOps) {
      CurrentOp.id = i
      sc.setLocalProperty(CurrentOp.Property, i.toString)
      val (br0, bw0) = if (a.trace) CountingLocalFileSystem.bytes() else (0L, 0L)
      val s0 = tr.nowNs
      val n0 = System.nanoTime()
      val (kind, items, ok) =
        try { val (k, n) = wl.op(i, tr); (k, n, true) }
        catch {
          case e: Throwable =>
            System.err.println(s"[lakebench] op $i failed: $e")
            e.printStackTrace()
            ("failed", 0L, false)
        }
      val ns = System.nanoTime() - n0
      val s1 = tr.nowNs
      busyNs += ns
      if (a.trace) org.apache.spark.LakebenchBus.drain(sc)
      val (br1, bw1) = if (a.trace) CountingLocalFileSystem.bytes() else (0L, 0L)
      samples += Sample(i, kind, ns / 1e6, items, ok, s0, s1, br1 - br0, bw1 - bw0)
      CurrentOp.id = -1
      sc.setLocalProperty(CurrentOp.Property, null)
      if (i == wl.minOps - 1) {
        storedPerLive = wl.storedPerLive()
        if (a.trace) tableFacts = wl.tableFacts()
      }
      wl.afterOp(i)
      i += 1
    }
    if (a.trace) {
      CountingLocalFileSystem.counters = null
      spark.sparkContext.removeSparkListener(tr.sparkListener)
      spark.listenerManager.unregister(tr.queryListener)
    }
    val heapMb = retainedHeapMb()
    val host1 = (java.lang.management.ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage,
      probe(spark))

    val c0 = System.nanoTime()
    def guarded(f: => Seq[String]): Seq[String] =
      try f catch { case e: Throwable => e.printStackTrace(); Seq(s"check crashed: $e") }
    val problems = guarded(wl.check())
    val selftest: Seq[(String, Boolean)] =
      if (!a.selftest) Nil
      else wl.corruptions().map { case (name, reject, f) => name -> (guarded(f()).nonEmpty == reject) }
    val checkS = (System.nanoTime() - c0) / 1e9
    problems.take(20).foreach(p => System.err.println(s"[lakebench] check: $p"))

    val okSamples = samples.filter(_.ok).toSeq
    val kindMedians = wl.latencyKinds.toSeq.map(k => median(okSamples.filter(_.kind == k).map(_.ms)))
    val opP50 = math.exp(kindMedians.map(math.log).sum / kindMedians.size)
    // throughput per operation period (every period has the same mix),
    // median over periods; failed operations count their time
    val itemsPerS = median(samples.toSeq.grouped(wl.opQuantum).map(p =>
      p.filter(_.ok).map(_.items).sum / (p.map(_.ms).sum / 1000.0)).toSeq)
    val failed = samples.count(!_.ok)
    val generic = Seq(
      ("setup_s", setupS, "s"),
      ("op_p50_ms", opP50, "ms"),
      ("items_per_s", itemsPerS, "1/s"),
      ("retained_heap_mb", heapMb, "MB"),
      ("stored_bytes_per_live_byte", storedPerLive, "ratio"))
    val named = Seq(
      ("setup_s", setupS, "s"),
      ("failed_op_share", failed.toDouble / samples.size, "ratio"),
      ("retained_heap_mb", heapMb, "MB")) ++ wl.named(okSamples, storedPerLive)

    val out = new Json
    out.obj {
      out.field("workload", a.workload); out.field("seed", a.seed)
      out.field("seconds", a.seconds); out.field("trace", a.trace)
      out.field("correct", problems.isEmpty && failed == 0)
      out.field("attempted", samples.size); out.field("failed", failed)
      out.field("problems", problems)
      out.field("ledger_ops", wl.minOps)
      out.objField("metrics") { generic.foreach { case (n, v, u) => out.metric(n, v, u) } }
      out.objField("named") { named.foreach { case (n, v, u) => out.metric(n, v, u) } }
      out.objField("timing") {
        out.field("session_s", sessionS); out.field("prepare_s", prepareS)
        out.field("build_s", buildS); out.field("check_s", checkS)
        out.field("busy_s", busyNs / 1e9)
      }
      out.objField("host") {
        out.field("nproc", host0._1); out.field("spark_cores", cores)
        out.field("loadavg_start", host0._2); out.field("loadavg_end", host1._1)
        out.field("probe_s_start", host0._3); out.field("probe_s_end", host1._2)
      }
      out.objField("inputs") { wl.inputFacts.foreach { case (k, v) => out.field(k, v) } }
      out.objField("selftest") { selftest.foreach { case (k, v) => out.field(k, v) } }
      out.objField("table_facts") { tableFacts.foreach { case (k, v) => out.field(k, v) } }
      out.arrField("samples") {
        samples.foreach { s =>
          out.item {
            out.obj {
              out.field("op", s.op); out.field("kind", s.kind); out.field("ms", s.ms)
              out.field("items", s.items); out.field("ok", s.ok)
              out.field("start_ns", s.startNs); out.field("end_ns", s.endNs)
              if (a.trace) {
                out.field("io.bytes_read", s.bytesRead); out.field("io.bytes_written", s.bytesWritten)
                out.objField("counters") { tr.counters.forOp(s.op).foreach { case (k, v) => out.field(k, v) } }
              }
            }
          }
        }
      }
      if (a.trace) {
        import scala.jdk.CollectionConverters._
        out.arrField("spans") {
          tr.spans.foreach { s =>
            out.item(out.raw(s"""[${s.id},${s.parent},${s.op},"${s.name}",${s.startNs},${s.endNs}]"""))
          }
        }
        out.arrField("jobs") {
          tr.jobIntervals.asScala.toSeq.sortBy(_._1).foreach { case (_, (op, st, en)) =>
            out.item(out.raw(s"[$op,$st,$en]"))
          }
        }
        out.arrField("planning") {
          tr.planning.asScala.toSeq.sortBy(_._1).foreach { case (st, ms) =>
            out.item(out.raw(s"[$st,$ms]"))
          }
        }
      }
    }
    Files.createDirectories(Paths.get(a.out).getParent)
    Files.write(Paths.get(a.out), out.result.getBytes("UTF-8"))
  }
}

/** Minimal JSON writer for the run artifact. */
final class Json {
  private val sb = new StringBuilder
  private var first = true
  def result: String = sb.toString
  private def sep(): Unit = { if (!first) sb.append(','); first = false }
  private def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"; case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""
  private def value(v: Any): String = v match {
    case null => "null"
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => value(f.toDouble)
    case n @ (_: Int | _: Long) => n.toString
    case b: Boolean => b.toString
    case s: Seq[_] => s.map(value).mkString("[", ",", "]")
    case m: Map[_, _] => m.map { case (k, x) => str(k.toString) + ":" + value(x) }.mkString("{", ",", "}")
    case o => str(o.toString)
  }
  def raw(s: String): Unit = sb.append(s)
  def obj(body: => Unit): Unit = { sb.append('{'); first = true; body; sb.append('}'); first = false }
  def field(k: String, v: Any): Unit = { sep(); sb.append(str(k)).append(':').append(value(v)) }
  def objField(k: String)(body: => Unit): Unit = { sep(); sb.append(str(k)).append(':'); obj(body) }
  def arrField(k: String)(body: => Unit): Unit = {
    sep(); sb.append(str(k)).append(":["); first = true; body; sb.append(']'); first = false
  }
  def item(body: => Unit): Unit = { sep(); body; first = false }
  def metric(n: String, v: Double, u: String): Unit =
    objField(n) { field("value", v); field("unit", u) }
}
