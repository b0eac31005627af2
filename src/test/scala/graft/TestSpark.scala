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

  /** A fresh temp dir, deleted recursively when the test JVM ends. */
  def tempDir(prefix: String): Path = graft.io.TempDirs.create(prefix)
}
