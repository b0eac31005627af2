package graft.gates

import java.nio.file.{Files, Path}

import org.apache.spark.sql.{DataFrame, SparkSession}

/**
 * A per-JVM gate fixture (r19 verdict item 3): a handful of gates pay a
 * corpus-DETERMINISTIC certification or index-build cost per invocation —
 * the sharpen gate's two brute-force oracle searches, the BM25 gates'
 * persisted-index builds — which is certification/bench hygiene, not
 * operator cost. A `Fixture` builds that fixed side ONCE per process and sf
 * dir; the OPERATOR under test still runs fresh on every invocation and is
 * certified against the cached side, so results are bit-identical and a
 * fresh JVM (`Verify`) still pays and certifies the full build.
 * Cached values are plain JVM values and store DIRECTORIES — never live
 * DataFrames, so the bench's per-query `Dedup.unpersistAll` cannot
 * invalidate them. Each [[Gate]] declares the fixtures its body reads, and
 * `Bench` prewarms the selected gates' declared fixtures in its untimed
 * warmup so steady-state s/q tracks operator cost.
 */
final class Fixture[A] private (get: (SparkSession, String) => A) {

  /** The fixture for sf dir `d`, built on first use in this JVM. */
  def apply(s: SparkSession, d: String): A = get(s, d)

  /** A fresh mutable store over a copy of this cached store directory — the
    * cached base stays pristine, so a gate that grows or rewrites the store
    * mutates only its own copy. */
  def storeCopy(s: SparkSession, d: String, prefix: String)(
      implicit isDir: A <:< String): graft.store.TableStore = {
    val src = Path.of(isDir(apply(s, d)))
    val dst = graft.io.TempDirs.create(prefix)
    // the store fixtures are small local trees; copying is milliseconds
    // next to the Spark jobs a rebuild costs
    val walk = Files.walk(src)
    try walk.forEach { p: Path =>
      val t = dst.resolve(src.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(t)
      else Files.copy(p, t, java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      ()
    } finally walk.close()
    new graft.store.TableStore(s, dst.toString)
  }
}

object Fixture {
  private val cache = new java.util.concurrent.ConcurrentHashMap[String, AnyRef]()

  private def cached[T](key: String)(build: => T): T =
    cache.computeIfAbsent(key, _ => build.asInstanceOf[AnyRef]).asInstanceOf[T]

  /** A fixture cached under `key` (one entry per sf dir). */
  def apply[A](key: String)(build: (SparkSession, String) => A): Fixture[A] =
    new Fixture((s, d) => cached(s"$key:$d")(build(s, d)))

  /** Parquet materialization of a corpus-deterministic DERIVED frame SHARED
    * by several gates (r20 wave 2): the frame is built once per JVM by the
    * same function the gates called inline, written to a temp parquet
    * dir, and each consumer gate re-reads it as a plain scan. Only frames
    * that are (a) bit-deterministic and (b) certified by their OWN gate (or
    * pure input staging) are cached this way — the operator each consuming
    * gate certifies still runs fresh per invocation. */
  def frame(key: String, prefix: String)(
      build: (SparkSession, String) => DataFrame): Fixture[DataFrame] =
    new Fixture((s, d) => s.read.parquet(cached(s"frame:$key:$d") {
      val dir = graft.io.TempDirs.create(prefix).toString
      build(s, d).write.mode("overwrite").parquet(dir)
      dir
    }))

  /** Test seam: forget every cached fixture, so the next use rebuilds it. */
  private[graft] def clearCache(): Unit = cache.clear()

  /** Test seam: the cache keys built so far (`<key>:<sf dir>`). */
  private[graft] def cachedKeys: Set[String] = {
    import scala.jdk.CollectionConverters._
    cache.keySet.asScala.toSet
  }
}
