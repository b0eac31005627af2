package graft

import java.nio.file.Path

import org.apache.spark.sql.SparkSession

/** One shared local session for the whole test JVM (Test / fork := true). */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = graft.io.Sessions.builder("local[4]", 4).appName("graft-tests").getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
  val Sf0001 = "/root/testdata/sf0.001"

  /** Block until the listener bus has delivered every event posted so far,
    * so a listener's counts cover every job already run (`listenerBus` is
    * Spark-private, hence the reflection). */
  def drainListenerBus(): Unit = {
    val bus = classOf[org.apache.spark.SparkContext].getMethod("listenerBus")
      .invoke(spark.sparkContext)
    bus.getClass.getMethod("waitUntilEmpty").invoke(bus); ()
  }

  /** Runs `body` and returns (jobs run, jobs in which some task read files
    * under `path`). A job reads `path` when one of its tasks reports a
    * metric of a file scan located there: the scan nodes come from the
    * SQL execution events, a cached plan's scan included, so a job served
    * from a cache or a checkpoint does not count, while one that
    * recomputes a refreshed cache does. Needs static plans (adaptive
    * execution off): an adaptive cached plan re-plans its scans into
    * nodes no execution event names. */
  def jobsScanning(path: String)(body: => Unit): (Int, Int) = {
    import org.apache.spark.scheduler._
    import org.apache.spark.sql.execution.SparkPlanInfo
    import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
    val scanMetrics = java.util.concurrent.ConcurrentHashMap.newKeySet[Long]()
    val jobOfStage = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val scanning = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    def note(p: SparkPlanInfo): Unit = {
      if (p.metadata.get("Location").exists(_.contains(path)))
        p.metrics.foreach(m => scanMetrics.add(m.accumulatorId))
      p.children.foreach(note)
    }
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        jobs.incrementAndGet()
        e.stageIds.foreach(jobOfStage.put(_, e.jobId))
      }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        if (e.taskInfo.accumulables.exists(a => scanMetrics.contains(a.id)))
          scanning.add(jobOfStage.get(e.stageId))
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart => note(s.sparkPlanInfo)
        case _ =>
      }
    }
    drainListenerBus()
    spark.sparkContext.addSparkListener(listener)
    try { body; drainListenerBus() } finally spark.sparkContext.removeSparkListener(listener)
    (jobs.get(), scanning.size)
  }

  /** A fresh temp dir, deleted recursively when the test JVM ends. */
  def tempDir(prefix: String): Path = graft.io.TempDirs.create(prefix)
}
