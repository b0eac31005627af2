package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicLong, DoubleAdder}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FSDataOutputStream, FileStatus, LocatedFileStatus, LocalFileSystem, Path, RemoteIterator}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{CommandResultExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
import org.apache.spark.sql.util.QueryExecutionListener

/** One interval on the benchmark's timeline. Times are epoch milliseconds
  * (fractional), so benchmark spans and Spark job events share one clock. */
final case class Span(id: Long, name: String, start: Double, end: Double, parent: Long, op: Int)

/** Named counters that only ever grow; per-operation values are deltas of
  * two snapshots taken with the listener bus drained. */
final class Counters {
  private val m = new ConcurrentHashMap[String, DoubleAdder]()
  def add(k: String, v: Double): Unit = m.computeIfAbsent(k, _ => new DoubleAdder).add(v)
  def snapshot(): Map[String, Double] = m.asScala.view.mapValues(_.sum()).toMap
}

object Counters {
  def delta(a: Map[String, Double], b: Map[String, Double]): Map[String, Double] =
    b.map { case (k, v) => k -> (v - a.getOrElse(k, 0.0)) }
}

/** Store operations by kind under the target root. Hadoop 3.4's
  * `RawLocalFileSystem` keeps no per-operation counters, so the traced run
  * registers [[CountingFileSystem]] for `file:` and counts here. */
object FsCounters {
  @volatile var root: String = ""
  @volatile var enabled: Boolean = false
  val counts = new ConcurrentHashMap[String, AtomicLong]()
  val Kinds: Seq[String] = Seq("list", "status", "rename", "create", "delete", "mkdirs")
  def hit(kind: String, p: Path): Unit =
    if (enabled && root.nonEmpty && p != null && p.toUri.getPath.startsWith(root))
      counts.computeIfAbsent(kind, _ => new AtomicLong).incrementAndGet()
  def snapshot(): Map[String, Double] =
    Kinds.map(k => s"store.fs.$k" -> Option(counts.get(k)).map(_.get.toDouble).getOrElse(0.0)).toMap
}

/** The local filesystem with every public entry point the store uses
  * counted in [[FsCounters]]; behaviour is the stock `LocalFileSystem`'s. */
class CountingFileSystem extends LocalFileSystem {
  override def listStatus(f: Path): Array[FileStatus] = { FsCounters.hit("list", f); super.listStatus(f) }
  override def listLocatedStatus(f: Path): RemoteIterator[LocatedFileStatus] = {
    FsCounters.hit("list", f); super.listLocatedStatus(f)
  }
  override def getFileStatus(f: Path): FileStatus = { FsCounters.hit("status", f); super.getFileStatus(f) }
  override def rename(src: Path, dst: Path): Boolean = { FsCounters.hit("rename", src); super.rename(src, dst) }
  override def delete(f: Path, recursive: Boolean): Boolean = { FsCounters.hit("delete", f); super.delete(f, recursive) }
  override def mkdirs(f: Path, permission: FsPermission): Boolean = { FsCounters.hit("mkdirs", f); super.mkdirs(f, permission) }
  override def create(f: Path, permission: FsPermission, overwrite: Boolean, bufferSize: Int,
      replication: Short, blockSize: Long, progress: Progressable): FSDataOutputStream = {
    FsCounters.hit("create", f)
    super.create(f, permission, overwrite, bufferSize, replication, blockSize, progress)
  }
}

/**
 * The traced run's recorder: benchmark spans around calls into each layer,
 * Spark job intervals from a `SparkListener`, executor task metrics, and
 * per-query planning time and write metrics from a `QueryExecutionListener`.
 * Everything stays in memory until [[writeSpans]] at the end of the run.
 * When `active` is false (untraced operations) spans cost one branch.
 */
final class Tracer(spark: SparkSession) {
  @volatile var active = false
  /** Writes under this prefix count as store writes (the ledger's apart). */
  @volatile var targetRoot = "/"
  private var op = -1
  private val nextId = new AtomicLong(1)
  private val spans = ArrayBuffer.empty[Span]
  private val stack = scala.collection.mutable.Stack[Long]()
  private val jobStarts = new ConcurrentHashMap[Int, java.lang.Long]()
  private val jobSpans = new java.util.concurrent.ConcurrentLinkedQueue[(Double, Double)]()
  val counters = new Counters

  private val t0Nano = System.nanoTime()
  private val t0Ms = System.currentTimeMillis().toDouble
  def nowMs: Double = t0Ms + (System.nanoTime() - t0Nano) / 1e6

  def span[T](name: String)(body: => T): T =
    if (!active) body
    else {
      val id = nextId.getAndIncrement()
      val parent = stack.headOption.getOrElse(0L)
      val start = nowMs
      stack.push(id)
      try body
      finally {
        stack.pop()
        spans.synchronized(spans += Span(id, name, start, nowMs, parent, op))
      }
    }

  /** A span whose interval was measured elsewhere (e.g. from ledger
    * times), attached under the operation's latest span named `parentName`. */
  def record(name: String, start: Double, end: Double, parentName: String): Unit =
    spans.synchronized {
      val parent = spans.reverseIterator.find(s => s.op == op && s.name == parentName).map(_.id)
      spans += Span(nextId.getAndIncrement(), name, start, end, parent.getOrElse(0L), op)
    }

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = jobStarts.put(e.jobId, e.time)
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobStarts.remove(e.jobId)).foreach(s => jobSpans.add((s.toDouble, e.time.toDouble)))
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = counters.add("exec.stages", 1)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      counters.add("exec.tasks", 1)
      val m = e.taskMetrics
      if (m != null) {
        counters.add("exec.cpu_s", m.executorCpuTime / 1e9)
        counters.add("exec.run_s", m.executorRunTime / 1e3)
        counters.add("exec.gc_s", m.jvmGCTime / 1e3)
        counters.add("exec.shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead.toDouble)
        counters.add("exec.shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
        counters.add("exec.spill_bytes", (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
        counters.add("exec.input_bytes", m.inputMetrics.bytesRead.toDouble)
      }
    }
  }

  private def writeCommands(plan: SparkPlan): Seq[DataWritingCommandExec] = plan match {
    case d: DataWritingCommandExec => Seq(d)
    case a: AdaptiveSparkPlanExec => writeCommands(a.executedPlan)
    case c: CommandResultExec => writeCommands(c.commandPhysicalPlan)
    case p => p.children.flatMap(writeCommands)
  }

  private val queryListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      query(qe)
      writeCommands(qe.executedPlan).foreach { d =>
        d.cmd match {
          case c: InsertIntoHadoopFsRelationCommand =>
            val path = c.outputPath.toUri.getPath
            def metric(k: String) = d.metrics.get(k).map(_.value.toDouble).getOrElse(0.0)
            if (path.contains(s"/${Main.LedgerTable}")) {
              counters.add("ledger.writes", 1)
              counters.add("ledger.write_s", durationNs / 1e9)
            } else if (path.startsWith(targetRoot)) {
              counters.add("store.files_written", metric("numFiles"))
              counters.add("store.bytes_written", metric("numOutputBytes"))
              counters.add("store.rows_written", metric("numOutputRows"))
            }
          case _ =>
        }
      }
    }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = query(qe)
    private def query(qe: QueryExecution): Unit = {
      counters.add("plan.queries", 1)
      counters.add("plan.s", qe.tracker.phases.values.map(_.durationMs).sum / 1e3)
    }
  }

  /** Start tracing operation `opIndex`: attach the listeners and take the
    * counter baseline with the listener bus drained. */
  def begin(opIndex: Int): Map[String, Double] = {
    op = opIndex
    // events still queued from untraced work must not reach the listener
    org.apache.spark.perfbench.ListenerBus.drain(spark.sparkContext)
    spark.sparkContext.addSparkListener(listener)
    spark.listenerManager.register(queryListener)
    FsCounters.enabled = true
    active = true
    baseline()
  }

  /** Stop tracing: drain the bus so every event of the operation's jobs has
    * been counted, then detach and return the operation's counter deltas. */
  def end(base: Map[String, Double]): Map[String, Double] = {
    val after = baseline()
    active = false
    FsCounters.enabled = false
    spark.listenerManager.unregister(queryListener)
    spark.sparkContext.removeSparkListener(listener)
    Counters.delta(base, after)
  }

  private def baseline(): Map[String, Double] = {
    org.apache.spark.perfbench.ListenerBus.drain(spark.sparkContext)
    collectJobSpans()
    counters.snapshot() ++ FsCounters.snapshot()
  }

  private def collectJobSpans(): Unit = {
    var j = jobSpans.poll()
    while (j != null) {
      spans.synchronized(spans += Span(nextId.getAndIncrement(), "spark.job", j._1, j._2, -1L, op))
      j = jobSpans.poll()
    }
  }

  /** Write every span as one JSON line. A job's parent is the innermost
    * benchmark span that was open when the job started (events arrive on
    * the listener thread, after the fact, so the link is made here). */
  def writeSpans(path: String): Unit = {
    val bench = spans.filter(_.parent >= 0).toSeq
    val linked = spans.toSeq.map { s =>
      if (s.parent >= 0) s
      else {
        val host = bench.filter(b => b.op == s.op && b.start <= s.start && s.start <= b.end)
        s.copy(parent = if (host.isEmpty) 0L else host.maxBy(_.start).id)
      }
    }
    val w = new java.io.PrintWriter(path, "UTF-8")
    try linked.sortBy(_.start).foreach { s =>
      w.println(Main.json.writeValueAsString(Map("id" -> s.id, "name" -> s.name, "start_ms" -> s.start,
        "end_ms" -> s.end, "parent" -> s.parent, "op" -> s.op)))
    } finally w.close()
  }
}
