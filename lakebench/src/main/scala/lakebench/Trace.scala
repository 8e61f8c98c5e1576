package lakebench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable

import org.apache.hadoop.fs.{FSDataInputStream, FSDataOutputStream, FileStatus, Path}
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval around a call the benchmark makes into a layer.
  * `op` is the client operation the span belongs to; `parent` is -1 for the
  * operation's own span. Times are epoch nanoseconds.
  */
final case class Span(id: Int, parent: Int, op: Int, name: String,
                      startNs: Long, endNs: Long)

/** The operation that work on any thread is attributed to. The client is a
  * single closed-loop thread, so at most one operation is open at a time;
  * Spark jobs additionally carry it as a local property.
  */
object CurrentOp {
  @volatile var id: Int = -1
  val Property = "lakebench.op"
}

/** Per-operation counters filled by the Spark listeners and the counting
  * filesystem. Keys are counter names, values summed per operation id.
  */
final class Counters {
  private val m = new ConcurrentHashMap[(Int, String), java.lang.Double]()
  def add(op: Int, key: String, v: Double): Unit =
    if (op >= 0) m.merge((op, key), v, (a, b) => a + b)
  def forOp(op: Int): Map[String, Double] = {
    val b = Map.newBuilder[String, Double]
    m.forEach((k, v) => if (k._1 == op) b += k._2 -> v.doubleValue)
    b.result()
  }
}

/** Span recorder plus the Spark-side listeners of a traced run. Spans stay
  * in memory and are written out once, after the timed window.
  */
final class Tracer(val enabled: Boolean) {
  private val baseEpochNs = System.currentTimeMillis() * 1000000L
  private val baseNano = System.nanoTime()
  def nowNs: Long = baseEpochNs + (System.nanoTime() - baseNano)

  val spans = mutable.ArrayBuffer.empty[Span]
  val counters = new Counters
  /** Spark job wall intervals per operation, epoch ms. */
  val jobIntervals = new ConcurrentHashMap[Int, (Int, Long, Long)]()
  /** Planning phase durations (ms) with their epoch-ms start. */
  val planning = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Double)]()

  private var stack: List[Int] = Nil

  /** Time `body` as a span of the current operation. */
  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = spans.size
      spans += Span(id, stack.headOption.getOrElse(-1), CurrentOp.id, name, nowNs, 0L)
      stack = id :: stack
      try body
      finally {
        stack = stack.tail
        spans(id) = spans(id).copy(endNs = nowNs)
      }
    }

  val sparkListener: SparkListener = new SparkListener {
    private val stageOp = new ConcurrentHashMap[Int, Int]()
    private def opOf(props: java.util.Properties): Int =
      Option(props).flatMap(p => Option(p.getProperty(CurrentOp.Property)))
        .map(_.toInt).getOrElse(CurrentOp.id)
    override def onJobStart(j: SparkListenerJobStart): Unit = {
      val op = opOf(j.properties)
      j.stageInfos.foreach(s => stageOp.put(s.stageId, op))
      jobIntervals.put(j.jobId, (op, j.time, -1L))
      counters.add(op, "spark.jobs", 1)
    }
    override def onJobEnd(j: SparkListenerJobEnd): Unit =
      jobIntervals.computeIfPresent(j.jobId, (_, v) => (v._1, v._2, j.time))
    override def onStageSubmitted(s: SparkListenerStageSubmitted): Unit = {
      val op = Option(stageOp.get(s.stageInfo.stageId)).map(_.intValue)
        .getOrElse(opOf(s.properties))
      stageOp.put(s.stageInfo.stageId, op)
      counters.add(op, "spark.stages", 1)
    }
    override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
      val op = Option(stageOp.get(t.stageId)).map(_.intValue).getOrElse(CurrentOp.id)
      counters.add(op, "spark.tasks", 1)
      val m = t.taskMetrics
      if (m != null) {
        counters.add(op, "spark.task_ms", m.executorRunTime.toDouble)
        counters.add(op, "spark.task_cpu_ms", m.executorCpuTime / 1e6)
        counters.add(op, "spark.gc_ms", m.jvmGCTime.toDouble)
        counters.add(op, "spark.shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
        counters.add(op, "spark.shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead.toDouble)
        counters.add(op, "spark.input_bytes", m.inputMetrics.bytesRead.toDouble)
        counters.add(op, "spark.output_bytes", m.outputMetrics.bytesWritten.toDouble)
        counters.add(op, "spark.spill_bytes", (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
      }
    }
  }

  /** Catalyst phase timings of every executed query, attributed to
    * operations by when planning started (the callback arrives later, on
    * the listener thread).
    */
  val queryListener: QueryExecutionListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
      record(qe)
    private def record(qe: QueryExecution): Unit = {
      val ph = qe.tracker.phases
      if (ph.nonEmpty) {
        val start = ph.values.map(_.startTimeMs).min
        planning.add((start, ph.values.map(_.durationMs).sum.toDouble))
      }
    }
  }
}

/** `file:` filesystem that counts metadata and data calls per operation.
  * Registered (via `spark.hadoop.fs.file.impl`) in traced runs only; it
  * extends the engine's own local filesystem, so behaviour is unchanged.
  */
class CountingLocalFileSystem extends graft.io.FastLocalFileSystem {
  import CountingLocalFileSystem.bump

  override def create(f: Path, permission: org.apache.hadoop.fs.permission.FsPermission,
      overwrite: Boolean, bufferSize: Int, replication: Short, blockSize: Long,
      progress: org.apache.hadoop.util.Progressable): FSDataOutputStream = {
    bump(0)
    super.create(f, permission, overwrite, bufferSize, replication, blockSize, progress)
  }
  override def create(f: Path, overwrite: Boolean, bufferSize: Int, replication: Short,
      blockSize: Long, progress: org.apache.hadoop.util.Progressable): FSDataOutputStream = {
    bump(0)
    super.create(f, overwrite, bufferSize, replication, blockSize, progress)
  }
  override def createNonRecursive(f: Path, permission: org.apache.hadoop.fs.permission.FsPermission,
      flags: java.util.EnumSet[org.apache.hadoop.fs.CreateFlag], bufferSize: Int,
      replication: Short, blockSize: Long,
      progress: org.apache.hadoop.util.Progressable): FSDataOutputStream = {
    bump(0)
    super.createNonRecursive(f, permission, flags, bufferSize, replication, blockSize, progress)
  }
  override def rename(src: Path, dst: Path): Boolean = { bump(1); super.rename(src, dst) }
  override def delete(p: Path, recursive: Boolean): Boolean = { bump(2); super.delete(p, recursive) }
  override def open(f: Path, bufferSize: Int): FSDataInputStream = { bump(3); super.open(f, bufferSize) }
  override def listStatus(f: Path): Array[FileStatus] = { bump(4); super.listStatus(f) }
  override def getFileStatus(f: Path): FileStatus = { bump(5); super.getFileStatus(f) }
}

object CountingLocalFileSystem {
  val Kinds = Array("io.create_calls", "io.rename_calls", "io.delete_calls",
    "io.open_calls", "io.list_calls", "io.status_calls")
  @volatile var counters: Counters = null
  private def bump(kind: Int): Unit = {
    val c = counters
    if (c != null) c.add(CurrentOp.id, Kinds(kind), 1)
  }

  /** Bytes moved through every `file:` filesystem instance so far. */
  def bytes(): (Long, Long) = {
    import scala.jdk.CollectionConverters._
    val st = org.apache.hadoop.fs.FileSystem.getAllStatistics.asScala
      .filter(_.getScheme == "file")
    (st.map(_.getBytesRead).sum, st.map(_.getBytesWritten).sum)
  }
}
