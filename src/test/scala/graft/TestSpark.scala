package graft

import java.nio.file.{Files, Path}
import java.util.concurrent.ConcurrentLinkedQueue

import org.apache.spark.sql.SparkSession

/** One shared local session for the whole test JVM (Test / fork := true). */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = graft.io.Sessions.builder("local[4]", 4).appName("graft-tests").getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
  val Sf0001 = "/root/testdata/sf0.001"

  private val tempDirs = new ConcurrentLinkedQueue[Path]()

  // priority 20 runs after Spark's own shutdown hook (40), so the session
  // has stopped writing into these dirs before they go, and before Hadoop
  // closes its filesystems (10)
  org.apache.hadoop.util.ShutdownHookManager.get().addShutdownHook(
    () => tempDirs.forEach(d => org.apache.commons.io.FileUtils.deleteQuietly(d.toFile)), 20)

  /** Block until the listener bus has delivered every event posted so far,
    * so a listener's counts cover every job already run (`listenerBus` is
    * Spark-private, hence the reflection). */
  def drainListenerBus(): Unit = {
    val bus = classOf[org.apache.spark.SparkContext].getMethod("listenerBus")
      .invoke(spark.sparkContext)
    bus.getClass.getMethod("waitUntilEmpty").invoke(bus); ()
  }

  /** A fresh temp dir, deleted recursively when the test JVM ends. */
  def tempDir(prefix: String): Path = {
    val d = Files.createTempDirectory(prefix)
    tempDirs.add(d)
    d
  }
}
