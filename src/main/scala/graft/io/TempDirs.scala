package graft.io

import java.nio.file.{Files, Path}
import java.util.concurrent.ConcurrentLinkedQueue

/** Temp dirs that last as long as the JVM: gate fixture stores, staged
  * inputs and test scratch dirs. Each is deleted recursively when the JVM
  * ends, so runs do not pile them up under the system temp dir. */
object TempDirs {
  private val dirs = new ConcurrentLinkedQueue[Path]()

  // priority 20 runs after Spark's own shutdown hook (40), so the session
  // has stopped writing into these dirs before they go, and before Hadoop
  // closes its filesystems (10)
  org.apache.hadoop.util.ShutdownHookManager.get().addShutdownHook(
    () => dirs.forEach(d => org.apache.commons.io.FileUtils.deleteQuietly(d.toFile)), 20)

  /** A fresh temp dir named `<prefix><random>`, deleted recursively when
    * the JVM ends. */
  def create(prefix: String): Path = {
    val d = Files.createTempDirectory(prefix)
    dirs.add(d)
    d
  }
}
