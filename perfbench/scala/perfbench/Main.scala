package perfbench

import java.io.File
import java.lang.management.ManagementFactory

import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** Settings shared by every workload of one run. `scale` shrinks or grows
  * the generated inputs (1.0 = the benchmark's sizes). */
final case class Ctx(spark: SparkSession, seed: Long, scale: Double, tracer: Tracer) {
  def scaled(n: Int): Int = math.max(1, math.round(n * scale).toInt)
}

/** Outcome of one closed-loop operation; `durS` covers only the call into
  * graft, never input preparation or output checks. */
final case class OpResult(durS: Double, ok: Boolean, rows: Long, detail: String = "",
    extra: Map[String, Double] = Map.empty)

final case class Check(name: String, ok: Boolean, detail: String)

/** One workload: seeded inputs, a closed-loop schedule of operation kinds,
  * and output checks that never call the layer under test for the expected
  * side. */
abstract class Workload(val ctx: Ctx) {
  def spark: SparkSession = ctx.spark
  def t: Tracer = ctx.tracer
  /** Generate the inputs (and any state the first timed operation needs)
    * under `dir`; called several times, the last call's state is used. */
  def setup(dir: String): Unit
  /** Generated sizes, printed next to the metrics. */
  def inputs: Seq[(String, Any)]
  /** Operation kinds run untimed before measuring (JIT, codegen caches). */
  def warmup: Seq[String]
  /** True when the generated inputs allow no further operation. */
  def exhausted: Boolean = false
  /** Every operation kind the closed loop runs. */
  def kinds: Seq[String]
  /** Operations of `kind` a run measures at least, however long they take. */
  def minSamples(kind: String): Int = 1
  /** The next operation kind of the closed loop. */
  def nextKind(): String
  def run(kind: String): OpResult
  /** Extra per-layer counters for a traced operation, taken after its
    * counters are read (may run Spark jobs of its own). */
  def afterTraced(kind: String): Map[String, Double] = Map.empty
  def checks(): Seq[Check]
  /** Root whose bytes on disk are reported as `target_mb`. */
  def targetRoot: String

  protected def timed[T](body: => T): (T, Double) = {
    val s = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - s) / 1e9)
  }
}

object Main {
  val LedgerTable = "tbl_dw_copy_logs"
  /** Input generations per run; `setup_s` counts their median. */
  val Setups = 3

  /** Writes the raw result and the span lines (Scala maps and sequences). */
  val json: com.fasterxml.jackson.databind.ObjectMapper =
    new com.fasterxml.jackson.databind.ObjectMapper()
      .registerModule(com.fasterxml.jackson.module.scala.DefaultScalaModule)

  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = args("workload")
    val seed = args("seed").toLong
    val seconds = args("seconds").toDouble
    val trace = args("trace") == "1"
    val cores = args("cores").toInt
    val scale = args.getOrElse("scale", "1").toDouble
    val work = new File(args("work")).getAbsolutePath

    val builder = graft.io.Sessions.builder(s"local[$cores]", cores)
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
    if (trace) builder.config("spark.hadoop.fs.file.impl", classOf[CountingFileSystem].getName)
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    // JVM start to a usable session, as the runtime saw it
    val sessionS = ManagementFactory.getRuntimeMXBean.getUptime / 1e3

    val tracer = new Tracer(spark)
    val ctx = Ctx(spark, seed, scale, tracer)
    val w: Workload = workload match {
      case "nightly_sync" => new Nightly(ctx)
      case "backfill_sync" => new Backfill(ctx)
      case "curate_corpus" => new Curate(ctx)
      case other => throw new IllegalArgumentException(s"unknown workload '$other'")
    }

    val setupS = (1 to Setups).map { i =>
      val dir = s"$work/setup-$i"
      val s = System.nanoTime()
      w.setup(dir)
      val d = (System.nanoTime() - s) / 1e9
      if (i > 1) deleteTree(new File(s"$work/setup-${i - 1}"))
      d
    }
    FsCounters.root = new File(w.targetRoot).getAbsolutePath + "/"
    tracer.targetRoot = FsCounters.root

    var attempted = 0
    var failed = 0
    val failures = ArrayBuffer.empty[String]
    def attempt(kind: String): OpResult = {
      attempted += 1
      val r = try w.run(kind) catch {
        case NonFatal(e) => OpResult(0.0, ok = false, 0L, s"$kind threw $e")
      }
      if (!r.ok) { failed += 1; failures += s"$kind: ${r.detail}" }
      r
    }

    // the traced run also warms up, untraced, every kind the workload does
    // not, so that its traced and untraced samples are both warm
    (if (trace) w.warmup ++ w.kinds.filterNot(w.warmup.contains) else w.warmup).foreach(attempt)
    val ops = ArrayBuffer.empty[Map[String, Any]]
    val perKind = scala.collection.mutable.Map.empty[String, Int].withDefaultValue(0)
    // every kind gets its minimum samples, even past `seconds`. The traced
    // run takes 2n + 1 of each kind and traces the odd-numbered ones, so
    // every traced operation sits between two untraced ones and the
    // overhead (traced minus untraced medians) cancels state that grows
    // from one operation to the next, such as the target's history
    def needed(k: String): Int = if (trace) 2 * w.minSamples(k) + 1 else w.minSamples(k)
    val loopStart = System.nanoTime()
    while (((System.nanoTime() - loopStart) / 1e9 < seconds || w.kinds.exists(k => perKind(k) < needed(k))) &&
        !w.exhausted) {
      val kind = w.nextKind()
      val traced = trace && perKind(kind) % 2 == 1
      perKind(kind) += 1
      val base = if (traced) tracer.begin(ops.size) else Map.empty[String, Double]
      val r = tracer.span(s"op.$kind")(attempt(kind))
      val counters = if (traced) tracer.end(base) ++ w.afterTraced(kind) else Map.empty[String, Double]
      ops += Map("kind" -> kind, "dur_s" -> r.durS, "ok" -> r.ok, "rows" -> r.rows,
        "traced" -> traced, "counters" -> (counters ++ r.extra))
    }

    val loopS = (System.nanoTime() - loopStart) / 1e9
    val checksStart = System.nanoTime()
    val checks = try w.checks() catch {
      case NonFatal(e) => Seq(Check("checks", ok = false, s"threw $e"))
    }
    val checksS = (System.nanoTime() - checksStart) / 1e9
    checks.filterNot(_.ok).foreach(c => failures += s"check ${c.name}: ${c.detail}")
    attempted += checks.size
    failed += checks.count(!_.ok)

    val targetBytes = treeBytes(new File(w.targetRoot))
    (1 to 3).foreach { _ => System.gc(); Thread.sleep(100) }
    val heapBytes = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed

    val spansFile = args.get("spans")
    if (trace) spansFile.foreach(tracer.writeSpans)
    val result = json.writeValueAsString(Map(
      "workload" -> workload, "seed" -> seed, "trace" -> trace, "cores" -> cores,
      "seconds" -> seconds, "session_s" -> sessionS, "setup_gen_s" -> setupS,
      "loop_s" -> loopS, "checks_s" -> checksS,
      "inputs" -> w.inputs.toMap, "ops" -> ops.toSeq, "attempted" -> attempted, "failed" -> failed,
      "failures" -> failures.toSeq, "checks" -> checks.map(c => Map("name" -> c.name, "ok" -> c.ok,
        "detail" -> c.detail)),
      "target_bytes" -> targetBytes, "heap_retained_bytes" -> heapBytes))
    val out = new java.io.PrintWriter(args("result"), "UTF-8")
    try out.println(result) finally out.close()
    spark.stop()
  }

  def treeBytes(f: File): Long =
    if (f.isDirectory) Option(f.listFiles).toSeq.flatten.map(treeBytes).sum
    else if (f.isFile) f.length() else 0L

  def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles).toSeq.flatten.foreach(deleteTree)
    f.delete()
  }
}
