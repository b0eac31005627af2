package graft.store

import java.io.IOException

import scala.util.control.NonFatal

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** A second writer raced an in-flight rewrite of the same table. The losing
  * writer's data was NOT published and the winning writer's swap proceeds
  * untouched — retry after the winner finishes (the reference inherited this
  * exclusion from SQL Server's transactions, `TableCopyService.cs:89,170`). */
final class ConcurrentWriteException(msg: String, cause: Throwable = null)
  extends RuntimeException(msg, cause)

/** How a [[TableStore]] PUBLISHES new table state. Reads are mode-agnostic:
  * both layouts are recognized on disk, so a store in either mode reads
  * tables written by the other. */
sealed trait CommitMode
object CommitMode {
  /** Publish via two atomic directory renames. Correct on filesystems with
    * atomic rename (local FS, HDFS); the cheapest protocol there. */
  case object Rename extends CommitMode
  /** Publish via immutable generation directories plus an atomic
    * create-if-absent commit marker — the object-store protocol, where
    * "rename" is a non-atomic copy-then-delete and the rename swap could
    * expose a torn table. */
  case object Pointer extends CommitMode
  /** [[Rename]] on schemes with atomic rename (file/hdfs/viewfs),
    * [[Pointer]] everywhere else (s3a, gs, abfs, wasb, oss, …). */
  case object Auto extends CommitMode
}

/**
 * Directory-per-table parquet store with atomic publish.
 *
 * Stands in for the reference's target SQL Server database plus its
 * delete+bulk-insert transaction (`TableCopyService.cs:89,170`): readers of a
 * table must never observe a half-refreshed state. With no transactional
 * table format on the classpath, atomicity comes from one of two publish
 * protocols, chosen by [[CommitMode]]:
 *
 * '''Rename mode''' (local FS / HDFS fast path, SURVEY.md §4.4):
 *  1. write the new state to `<table>.tmp-<nonce>` (Spark job; crash here
 *     leaves the current state untouched),
 *  2. rename current `<table>` → `<table>.old-<nonce>` (atomic),
 *  3. rename `<table>.tmp-<nonce>` → `<table>` (atomic publish),
 *  4. delete the `.old` dir (best-effort cleanup).
 * A crash between 2 and 3 is recovered by [[recover]]: if `<table>` is
 * missing but an `.old` dir exists, the old state is renamed back.
 *
 * '''Pointer mode''' (object stores, where 100 TB actually lives and rename
 * is a non-atomic copy+delete — the Iceberg/Delta-style manifest-pointer
 * protocol, re-derived here over plain files):
 *  1. write the new state to an immutable `<table>/_gen-<nonce>/` directory
 *     (crash here leaves an unreferenced dir no reader ever sees),
 *  2. publish by atomically creating `<table>/_commit.<n>` (create with
 *     overwrite=false is the store's compare-and-set; n = highest existing
 *     marker + 1). The marker's content is a tiny manifest mapping the table
 *     (or each date partition) to its generation directory.
 * Readers resolve the highest fully-written marker and read exactly the
 * directories it names — there is NO window in which a reader can observe a
 * missing or half-copied table, and a reader that resolved its generation
 * before a publish keeps reading that generation (the previous generation is
 * retained until the next commit). Generation dirs are `_`-prefixed, so a
 * bare `spark.read.parquet(<table>)` that bypasses the protocol fails loudly
 * instead of silently unioning generations.
 *
 * At 100 TB both protocols hold: the publish step is O(1) metadata
 * operations regardless of data volume, and the expensive step (writing the
 * new generation) is a fully parallel distributed write.
 */
final class TableStore(spark: SparkSession, root: String,
    commitMode: CommitMode = CommitMode.Auto,
    lockTtlMs: Long = TableStore.DefaultLockTtlMs,
    appendLockWaitMs: Long = TableStore.DefaultAppendWaitMs,
    keepGenerations: Int = TableStore.DefaultKeepGenerations,
    statsColumns: Seq[String] = Nil,
    /** Run-level snapshot retention, independent of per-table
      * `keepGenerations` (0 = inherit it): how many `_run.<n>` markers
      * survive, and therefore how far back the multi-table time-travel
      * window reaches. Decoupled because the two windows serve different
      * consumers — a table may churn hourly (small `keepGenerations`) while
      * nightly run snapshots must stay reproducible for a week. Every
      * generation a retained snapshot pins survives per-table vacuum. */
    keepSnapshots: Int = 0,
    /** Auto-compaction threshold for append-grown index tables (0 = off):
      * when a grower's post-append data-file count exceeds this, the table
      * is folded back into its clustered layout — see
      * [[maybeAutoCompactClustered]]. Opt-in because compaction cost is a
      * full table rewrite: size it so the rewrite amortizes over the
      * appends it absorbs (≥ several × the build's file count). */
    val autoCompactFiles: Int = 0) {

  require(keepGenerations >= 2,
    s"keepGenerations must be >= 2 (current + previous, the reader-isolation minimum): $keepGenerations")
  require(keepSnapshots >= 0, s"keepSnapshots must be >= 0 (0 = inherit keepGenerations): $keepSnapshots")
  require(autoCompactFiles >= 0, s"autoCompactFiles must be >= 0 (0 = off): $autoCompactFiles")

  /** Resolved snapshot-marker retention (see `keepSnapshots`). */
  private val snapshotRetention: Int = if (keepSnapshots > 0) keepSnapshots else keepGenerations

  private val log = org.slf4j.LoggerFactory.getLogger(classOf[TableStore])

  private def fs: FileSystem = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Pointer commits when the root's filesystem lacks atomic rename. */
  private val pointerMode: Boolean = commitMode match {
    case CommitMode.Pointer => true
    case CommitMode.Rename => false
    case CommitMode.Auto =>
      val scheme = Option(new Path(root).toUri.getScheme).getOrElse("file")
      !Set("file", "hdfs", "viewfs").contains(scheme)
  }

  def tablePath(table: String): String = s"$root/$table"

  /** Committed data exists: in the pointer layout a crashed first write
    * leaves a generation dir but no marker — that table does NOT exist. */
  def exists(table: String): Boolean = {
    val dir = new Path(tablePath(table))
    if (!fs.exists(dir)) false
    else if (listMarkers(table).nonEmpty) currentManifest(table).isDefined
    else {
      // marker-less: the rename layout exists as a directory; a dir holding
      // ONLY uncommitted generation dirs is a crashed first pointer write
      val children = fs.listStatus(dir)
      children.isEmpty || children.exists(s => !s.getPath.getName.startsWith("_gen-"))
    }
  }

  def read(table: String): DataFrame = resolveRead(table, mergeSchemas = false)

  /** Read an append-evolved table with schema merging: a table whose later
    * appends added columns (the CDC-source-gained-a-field case) has mixed
    * parquet footers, and a plain read takes ONE footer's schema — silently
    * dropping the new column or the old rows' view of it depending on which
    * file wins. `mergeSchema` unions all footers (old rows read NULL for
    * later columns). Footer-merge cost scales with file count, not bytes —
    * pair evolving tables with [[compact]] to keep it bounded. */
  def readEvolved(table: String): DataFrame = resolveRead(table, mergeSchemas = true)

  // ---------------------------------------------------------------------
  // Pointer-layout plumbing (generation dirs + commit markers)
  // ---------------------------------------------------------------------

  private val MarkerPrefix = "_commit."
  /** Manifest entry name meaning "the whole table lives in this gen dir". */
  private val WholeTable = "*"

  /** A commit marker's content: (entry name, generation dir) pairs, where the
    * name is [[WholeTable]] or a `col=value` partition. */
  private type Manifest = Seq[(String, String)]

  private def markerIndex(name: String): Option[Long] =
    if (name.startsWith(MarkerPrefix)) name.stripPrefix(MarkerPrefix).toLongOption else None

  /** All commit markers (valid or partial), highest index first. */
  private def listMarkers(table: String): Seq[(Long, Path)] = {
    val dir = new Path(tablePath(table))
    if (!fs.exists(dir)) Nil
    else fs.listStatus(dir).toSeq
      .flatMap(s => markerIndex(s.getPath.getName).map(_ -> s.getPath))
      .sortBy(-_._1)
  }

  /** Write one sidecar. Every sidecar this store keeps — commit manifests,
    * run snapshots, `_stats`, commit meta, `_bucketspec` and `_idem.*`
    * markers — shares this plain-text layout: a `graft-<kind> v1` header,
    * then one tab-separated row per line, no trailing newline. `counted`
    * kinds append their row count to the header, so a torn write reads as
    * torn instead of as a shorter file. `exclusive` creates through
    * [[createAtomically]] (the commit CAS) and returns false when `p`
    * already exists; a failed content write then removes the half-written
    * file before rethrowing. */
  private def writeSidecar(p: Path, kind: String, rows: Seq[Seq[String]],
      counted: Boolean = false, exclusive: Boolean = false): Boolean = {
    val header = s"graft-$kind v1" + (if (counted) s" ${rows.size}" else "")
    val bytes = (header +: rows.map(_.mkString("\t"))).mkString("\n").getBytes("UTF-8")
    val out =
      if (!exclusive) fs.create(p, true)
      else try createAtomically(p) catch { case _: IOException => return false }
    try { try out.write(bytes) finally out.close() } catch {
      case e: IOException => if (exclusive) fs.delete(p, false); throw e
    }
    true
  }

  /** Read a [[writeSidecar]] file: its rows, each split into `width` fields
    * (lines of another arity are dropped). `None` when the file is missing
    * or unreadable, its header names another kind, or a counted kind's
    * declared count disagrees with its rows (a torn write). */
  private def readSidecar(p: Path, kind: String, width: Int = 2,
      counted: Boolean = false): Option[Seq[Array[String]]] = {
    val text = try {
      val in = fs.open(p)
      try new String(in.readAllBytes(), "UTF-8") finally in.close()
    } catch { case _: IOException => return None }
    val lines = text.split("\n").toSeq.filter(_.nonEmpty)
    val header = s"graft-$kind v1"
    lines.headOption.filter(_.startsWith(header)).flatMap { h =>
      val rows = lines.tail.map(_.split("\t", width)).filter(_.length == width)
      if (!counted || h.stripPrefix(header).trim.toIntOption.contains(rows.size)) Some(rows)
      else None
    }
  }

  /** Parse a marker's manifest. `None` for a partially-written marker (the
    * header carries the entry count, so a truncated read is detectable —
    * readers then fall back to the previous generation instead of silently
    * seeing a subset of partitions). */
  private def parseManifest(p: Path): Option[Manifest] =
    readSidecar(p, "manifest", counted = true).map(_.map(r => r(0) -> r(1)))

  /** The directories a manifest's entries name that exist: a whole
    * generation dir, or one partition dir inside it. */
  private def entryDirs(table: String, entries: Manifest): Seq[Path] = {
    val dir = new Path(tablePath(table))
    entries.map { case (name, g) =>
      if (name == WholeTable) new Path(dir, g) else new Path(dir, s"$g/$name")
    }.distinct.filter(fs.exists(_))
  }

  /** Every distinct generation dir a manifest references exists. A complete
    * marker naming a vanished dir is the footprint of the lock-break race
    * (a TTL-breaking writer's recover() deleted an in-flight writer's gen
    * dir between that writer's existence check and marker create); readers
    * skip past it to the previous good generation instead of throwing on
    * every read until the next publish. Checked per DISTINCT dir, not per
    * entry — a partition-scoped manifest has one entry per day but only a
    * handful of generation dirs, so this stays O(generations) metadata
    * calls at 100 TB. */
  private def manifestDirsExist(table: String, entries: Manifest): Boolean = {
    val dir = new Path(tablePath(table))
    entries.map(_._2).distinct.forall(g => fs.exists(new Path(dir, g)))
  }

  /** Highest fully-committed manifest whose generation dirs all exist. */
  private def currentManifest(table: String): Option[(Long, Manifest)] =
    listMarkers(table).iterator
      .flatMap { case (n, p) => parseManifest(p).map(n -> _) }
      .find { case (_, entries) => manifestDirsExist(table, entries) }

  /** [[currentManifest]]'s entries, or raise: `op` found no state to read. */
  private def committedEntries(table: String, op: String): Manifest =
    currentManifest(table).map(_._2).getOrElse(throw new IOException(
      s"$op('$table'): no fully-committed generation marker found"))

  /** TRUE atomic create-if-absent — the CAS every lock/marker arbiter in
    * this store leans on. On HDFS-like filesystems `create(f, overwrite =
    * false)` is an atomic server-side namespace operation, but Hadoop's
    * local filesystems implement it as `exists()` THEN `new
    * FileOutputStream` — check-then-act, so two racing writers can BOTH
    * "win" (the second silently truncating the first): a doubly-acquired
    * writer lock, then two commits at the same marker index, one append
    * silently lost. Local paths go through java.nio's `Files.createFile`
    * (O_CREAT|O_EXCL — a real kernel CAS) first; the winner then re-opens
    * its own zero-byte file for content. Throws [[IOException]] iff the
    * path already exists, matching the HDFS contract callers expect. */
  private def createAtomically(p: Path): org.apache.hadoop.fs.FSDataOutputStream =
    if (fs.getScheme == "file") {
      val local = java.nio.file.Paths.get(p.toUri.getPath)
      // hadoop's create() makes parent dirs implicitly; match that here or a
      // first-ever lock/marker under a fresh root throws NoSuchFileException
      // — which callers would misread as "another writer holds the lock"
      if (local.getParent != null) java.nio.file.Files.createDirectories(local.getParent)
      try java.nio.file.Files.createFile(local)
      catch {
        case e: java.nio.file.FileAlreadyExistsException =>
          throw new IOException(s"$p already exists", e)
      }
      fs.create(p, true) // the O_EXCL create made the path ours; open content
    } else fs.create(p, false)

  /** Publish `entries` as the table's next generation: atomic
    * create-if-absent of `_commit.<n>`. The marker create is the commit
    * arbiter — even if the writer lock was wrongly broken, at most one
    * racing writer's marker lands and the loser fails loudly here. Returns
    * normally iff the marker is published: every earlier failure leaves
    * nothing published, and the audit and retention steps after it never
    * throw. Reached only through [[publishPointer]]. */
  private def commitPointer(table: String, entries: Manifest, op: String): Unit = {
    val dir = new Path(tablePath(table))
    // a broken-lock recover() may have deleted an in-flight writer's gen dir;
    // refuse to publish a manifest naming a missing directory
    entries.map(_._2).distinct.foreach { g =>
      if (!fs.exists(new Path(dir, g)))
        throw new IOException(
          s"$op('$table'): generation dir $g vanished before commit " +
            "(writer lock was broken by another writer?) — nothing was published")
    }
    // next index ranges over ALL markers, including partial ones, so a
    // concurrent writer mid-marker-write is never overwritten
    val next = (0L +: listMarkers(table).map(_._1)).max + 1
    val marker = new Path(dir, s"$MarkerPrefix$next")
    if (!writeSidecar(marker, "manifest", entries.map { case (n, g) => Seq(n, g) },
        counted = true, exclusive = true))
      throw new ConcurrentWriteException(
        s"$op('$table'): commit marker ${marker.getName} already exists — lost the publish " +
          "race to another writer; this writer's generation was not published")
    // the pre-create existence check above is check-then-act: a competing
    // writer that TTL-broke our lock can recover() away a gen dir between
    // the check and the marker create, leaving a well-formed marker naming
    // missing dirs at the top of the chain. Re-verify AFTER the marker is
    // durable and retract it on failure — and readers additionally skip
    // such manifests ([[manifestDirsExist]]), so even a crash inside this
    // window never wedges read().
    entries.map(_._2).distinct.foreach { g =>
      if (!fs.exists(new Path(dir, g))) {
        fs.delete(marker, false)
        throw new ConcurrentWriteException(
          s"$op('$table'): generation dir $g vanished during commit (writer lock was " +
            "broken by another writer) — marker retracted, nothing was published")
      }
    }
    // best-effort audit sidecar for history(): the operation that committed
    // this generation PLUS its publish-time metrics (rows / files / bytes of
    // the full post-commit table state), so history() answers from sidecars
    // with zero Spark jobs instead of a count job per retained generation.
    // Rows come from parquet footer record counts — driver-side ranged
    // reads, parallelized, no data scanned. ("_commit.<n>.meta" never
    // parses as a marker index, so readers ignore it.) The commit itself
    // never fails on meta problems: a lost sidecar just downgrades that
    // generation's history row to the recomputation path.
    try {
      val metrics = try {
        val files = entryDirs(table, entries).flatMap(listDataFiles)
        val rows = inParallel(files.map(_.getPath))(footerRowCount).sum
        Seq(Seq("rows", s"$rows"), Seq("files", s"${files.size}"),
          Seq("bytes", s"${files.map(_.getLen).sum}"))
      } catch { case NonFatal(e) =>
        log.warn(s"commit metrics for $table/$next failed — sidecar records op only: $e"); Nil
      }
      writeSidecar(new Path(dir, s"$MarkerPrefix$next.meta"), "commitmeta", Seq("op", op) +: metrics)
    } catch { case NonFatal(e) => log.warn(s"commit meta for $table/$next failed: $e") }
    cleanupGenerations(table)
  }

  /** All data files under `p`, recursively (one level of parallel fan-out
    * over subdirs — the partitioned-generation shape). */
  private def listDataFiles(p: Path): Seq[org.apache.hadoop.fs.FileStatus] = {
    val children = fs.listStatus(p).toSeq
    val (dirs, rest) = children.partition(_.isDirectory)
    rest.filter(isDataFile) ++ inParallel(dirs.map(_.getPath))(listDataFiles).flatten
  }

  /** Exact row count of one parquet file from its footer — a single small
    * ranged read of trailing metadata, no data pages touched. */
  private def footerRowCount(file: Path): Long = {
    val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
      file, spark.sparkContext.hadoopConfiguration)
    val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
    try r.getRecordCount finally r.close()
  }

  /** Map `f` over `items` on a bounded thread pool, preserving order. The
    * driver-side metadata walks here (listStatus fans, footer reads) are
    * RPC-latency-bound on an object store — serial walks over a
    * 2.4 k-partition table turn a millisecond operation into minutes; a
    * 16-wide fan keeps them proportional to depth, not width. Sized to the
    * work (no pool for 0/1 items); exceptions propagate to the caller. */
  private def inParallel[A, B](items: Seq[A], parallelism: Int = 16)(f: A => B): Seq[B] =
    if (items.lengthCompare(2) < 0) items.map(f)
    else {
      val pool = java.util.concurrent.Executors.newFixedThreadPool(
        math.min(parallelism, items.size))
      try {
        import scala.jdk.CollectionConverters._
        val tasks = items.map { a =>
          new java.util.concurrent.Callable[B] { def call(): B = f(a) }
        }
        pool.invokeAll(tasks.asJava).asScala.toSeq.map { fut =>
          try fut.get() catch {
            case e: java.util.concurrent.ExecutionException => throw e.getCause
          }
        }
      } finally pool.shutdown()
    }

  /** Delete a commit marker together with its audit sidecar. */
  private def deleteMarker(p: Path): Unit = {
    fs.delete(p, false)
    fs.delete(new Path(p.getParent, p.getName + ".meta"), false)
  }

  /** The audit sidecar recorded at commit time for marker `n`, as a key →
    * value map (`op`, and on metrics-bearing commits `rows`/`files`/`bytes`).
    * Empty when the sidecar is missing or unreadable. */
  private def markerMeta(table: String, n: Long): Map[String, String] =
    readSidecar(new Path(tablePath(table), s"$MarkerPrefix$n.meta"), "commitmeta")
      .fold(Map.empty[String, String])(_.map(r => r(0) -> r(1)).toMap)

  /** Best-effort retention: keep the `keepGenerations` highest-indexed
    * COMMITTED markers (≥ current + previous, so a reader that resolved just
    * before a publish still has its files — and, beyond 2, a
    * [[readGeneration]] time-travel window) and every gen dir any of them
    * references; delete older committed markers, unreferenced `_gen-*` dirs,
    * and dead partial markers. Retention counts committed markers ONLY: a
    * writer crash between marker create and content write leaves a partial
    * marker, and counting it toward `keepGenerations` would let one piece of
    * garbage permanently evict the previous committed generation — breaking
    * the current+previous reader-isolation minimum. A partial marker BELOW
    * the newest committed index can never be completed (writers index above
    * all markers and write content immediately after create), so it is
    * dropped; a partial at the top of the chain may be a concurrent writer
    * mid-content-write and is left alone. */
  private def cleanupGenerations(table: String, orphanGraceMs: Long = lockTtlMs): Unit =
    try {
      val (dropMarkers, dropDirs) = vacuumPlan(table, keepGenerations, orphanGraceMs)
      dropMarkers.foreach(deleteMarker)
      dropDirs.foreach(fs.delete(_, true))
    } catch { case NonFatal(e) => log.warn(s"cleanupGenerations('$table') failed: $e") }

  /** What retention at `keep` would delete: (markers to drop, gen dirs to
    * drop). Shared by publish-time [[cleanupGenerations]] and operator
    * [[vacuum]]. Unreferenced `_gen-*` dirs younger than `orphanGraceMs`
    * are NOT orphans — they are an in-flight append's data written outside
    * the writer lock (see [[append]]), awaiting its manifest commit; only
    * dirs stale past the grace (a crashed writer's leftover, same horizon
    * as the lock TTL) are reaped. [[recover]] passes 0: it is documented
    * to run only with no writers live, and must reclaim a just-crashed
    * writer's dir immediately. */
  private def vacuumPlan(table: String, keep: Int,
      orphanGraceMs: Long = lockTtlMs): (Seq[Path], Seq[Path]) = {
    val dir = new Path(tablePath(table))
    if (!fs.exists(dir)) return (Nil, Nil)
    val parsed = listMarkers(table).map { case (n, p) => (n, p, parseManifest(p)) }
    val committed = parsed.collect { case (n, p, Some(m)) => (n, p, m) }
    // retained snapshots pin generations past the per-table window: a
    // snapshot reader must never resolve to vacuumed dirs
    val pinned = snapshotPinnedGens(table)
    val (window, beyond) = committed.splitAt(keep)
    val kept = window ++ beyond.filter(c => pinned.contains(c._1))
    val dropCommitted = beyond.filterNot(c => pinned.contains(c._1))
    val referenced = kept.flatMap(_._3.map(_._2)).toSet
    val newestCommitted = committed.headOption.map(_._1).getOrElse(Long.MinValue)
    val deadPartials = parsed.collect { case (n, p, None) if n < newestCommitted => p }
    val now = System.currentTimeMillis
    // a dir referenced by SOME committed marker (even one being dropped) was
    // published and retired — reap immediately; a dir referenced by NO
    // marker at all is either an in-flight append's (outside-lock write,
    // fresh → grace) or a crashed writer's (stale → reap)
    val everReferenced = committed.flatMap(_._3.map(_._2)).toSet
    val orphanDirs = fs.listStatus(dir).toSeq
      .filter { s =>
        val name = s.getPath.getName
        name.startsWith("_gen-") && !referenced.contains(name) &&
          (everReferenced.contains(name) || now - s.getModificationTime > orphanGraceMs)
      }
      .map(_.getPath)
    (dropCommitted.map(_._2) ++ deadPartials, orphanDirs)
  }

  /** Mode-agnostic read resolution: a table with commit markers reads the
    * manifest's directories; a marker-less dir is the rename layout and
    * reads directly. Partition-scoped manifests rebuild the partition
    * column from each entry's `col=value` name (cast to date — the only
    * partition type [[overwriteDatePartitions]] produces). */
  private def resolveRead(table: String, mergeSchemas: Boolean): DataFrame =
    if (listMarkers(table).isEmpty) {
      val reader = if (mergeSchemas) spark.read.option("mergeSchema", "true") else spark.read
      reader.parquet(tablePath(table))
    } else readEntries(table, committedEntries(table, "read"), mergeSchemas)

  /** Read exactly the directories one manifest names. An EMPTY manifest is
    * a legitimate committed state (a windowed delete can cover every
    * remaining partition): it reads as an empty frame with the schema of
    * the most recent prior generation, instead of exploding inside
    * `spark.read.parquet()` with a zero-path AnalysisException far from
    * the cause. */
  private def readEntries(table: String, entries: Manifest,
      mergeSchemas: Boolean): DataFrame = {
    import org.apache.spark.sql.functions.col
    if (entries.isEmpty) {
      val prior = listMarkers(table).iterator
        .flatMap { case (_, p) => parseManifest(p) }
        .find(es => es.nonEmpty && manifestDirsExist(table, es))
        .getOrElse(throw new IOException(
          s"read('$table'): table is empty and no retained generation records a schema"))
      return spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        readEntries(table, prior, mergeSchemas).schema)
    }
    val dir = tablePath(table)
    def reader = if (mergeSchemas) spark.read.option("mergeSchema", "true") else spark.read
    val (whole, parts) = entries.partition(_._1 == WholeTable)
    if (parts.isEmpty) reader.parquet(whole.map(e => s"$dir/${e._2}"): _*)
    else if (whole.isEmpty) {
      // ONE read per GENERATION, not per partition (r19 verdict item 6):
      // each spark.read.parquet call costs a driver listing + footer pass,
      // so a 2.4k-partition manifest used to plan 2.4k reads plus a
      // 2.4k-deep union — pure driver round-trips. With basePath, Spark
      // materializes the `col=value` dir as the partition column for ALL of
      // a generation's entries in one relation; the explicit date cast
      // keeps the previous (inference-independent) column type. Manifests
      // span >1 generation only at the changed-partition sliver, so the
      // remaining union is over a handful of relations.
      val c = parts.head._1.split("=", 2)(0)
      parts.find(_._1.split("=", 2)(0) != c).foreach { bad =>
        throw new IllegalStateException(
          s"read('$table'): manifest mixes partition columns '$c' and '${bad._1}'")
      }
      val dfs = parts.groupBy(_._2).toSeq.sortBy(_._1).map { case (gen, es) =>
        reader.option("basePath", s"$dir/$gen")
          .parquet(es.map { case (partName, _) => s"$dir/$gen/$partName" }: _*)
          .withColumn(c, col(c).cast("date"))
      }
      dfs.reduce(_.unionByName(_, allowMissingColumns = mergeSchemas))
    } else throw new IllegalStateException(
      s"read('$table'): manifest mixes whole-table and partition entries")
  }

  /** Committed generation indexes of a pointer-layout table, newest first —
    * the [[readGeneration]] time-travel surface. Partial markers (a writer
    * crashed mid-manifest) are excluded. Rename-layout tables keep no
    * history: empty. */
  def generations(table: String): Seq[Long] =
    listMarkers(table).collect { case (n, p) if parseManifest(p).isDefined => n }

  /** Time-travel read: the table exactly as of committed generation `gen`
    * (an index from [[generations]]). The snapshot is immutable — later
    * publishes never touch a retained generation's dirs. Generations
    * outside the retention window ([[cleanupGenerations]] keeps the
    * `keepGenerations` newest; size it at construction) are vacuumed and
    * raise. The reproducible-training-run / audit path: pin the generation
    * a job read, re-read it bit-identically later. */
  def readGeneration(table: String, gen: Long): DataFrame =
    readEntries(table, manifestAt(table, gen, "readGeneration"), mergeSchemas = false)

  // ---------------------------------------------------------------------
  // Data skipping (per-file min/max stats in the generation dir)
  // ---------------------------------------------------------------------

  private val StatsFile = "_stats"

  /** Types whose min/max round-trip through a string and compare safely. */
  private def statsOrderable(dt: org.apache.spark.sql.types.DataType): Boolean = {
    import org.apache.spark.sql.types._
    dt match {
      case ByteType | ShortType | IntegerType | LongType | FloatType | DoubleType |
           StringType | DateType | TimestampType | TimestampNTZType => true
      case _: DecimalType => true
      case _ => false
    }
  }

  /** Collect per-file min/max for `statsColumns` into `<genDir>/_stats`,
    * pre-commit (the sidecar is part of the immutable generation, and its
    * `_` prefix hides it from parquet readers). One column-pruned parallel
    * pass over the fresh generation — it reads ONLY the stats columns, and
    * the result is one row per file (driver-bounded, like any manifest).
    * An engine owning its write path would fold this into the writer's
    * parquet footer metrics; reading footers back is the refinement, this
    * is the behavior. Collection failure downgrades to "no stats" (reads
    * stay correct, just unpruned). */
  private def writeStats(genDir: Path): Unit = {
    import org.apache.spark.sql.functions.{col, input_file_name, max, min}
    if (statsColumns.isEmpty) return
    try {
      val df = spark.read.parquet(genDir.toString)
      val cols = statsColumns.distinct
        .filter(df.columns.contains).filter(c => statsOrderable(df.schema(c).dataType))
      if (cols.isEmpty) return
      val aggs = cols.flatMap(c => Seq(
        min(col(c)).cast("string").as(s"__mn_$c"), max(col(c)).cast("string").as(s"__mx_$c")))
      val aggRows = df.select(input_file_name().as("__f") +: cols.map(col): _*)
        .groupBy("__f").agg(aggs.head, aggs.tail: _*).collect()
      val prefix = genDir.getName + "/"
      def enc(s: String) = java.net.URLEncoder.encode(s, "UTF-8")
      val rows = aggRows.toSeq.flatMap { r =>
        val full = r.getString(0)
        val rel = full.substring(full.lastIndexOf(prefix) + prefix.length)
        cols.flatMap { c =>
          val (mn, mx) = (r.getAs[String](s"__mn_$c"), r.getAs[String](s"__mx_$c"))
          // all-NULL file: no line; the reader keeps unknown files (and a
          // range predicate never matches NULL anyway)
          if (mn == null || mx == null) None
          else Some(Seq(enc(rel), enc(c), df.schema(c).dataType.catalogString, enc(mn), enc(mx)))
        }
      }
      writeSidecar(new Path(genDir, StatsFile), "stats", rows, counted = true)
    } catch {
      case NonFatal(e) =>
        log.warn(s"stats collection for $genDir failed — generation publishes without " +
          s"data-skipping stats: $e")
    }
  }

  /** Parse `<genDir>/_stats`: (relativeFile, column) → (dtype, min, max).
    * `None` when absent or torn (header carries the line count). */
  private def loadStats(genDir: Path): Option[Map[(String, String), (String, String, String)]] = {
    def dec(s: String) = java.net.URLDecoder.decode(s, "UTF-8")
    readSidecar(new Path(genDir, StatsFile), "stats", width = 5, counted = true).map(_.map {
      case Array(f, c, dt, mn, mx) => (dec(f), dec(c)) -> ((dt, dec(mn), dec(mx)))
    }.toMap)
  }

  /** A caller-supplied read bound is usable for pruning under the column's
    * recorded stats dtype ONLY if comparing it via [[statCompare]] agrees
    * with Spark's own coercion in the residual filter. The trap is a
    * STRING-statted column with a numeric bound: `statCompare` would compare
    * lexicographically (mx="20" < lo="5" prunes a file whose value 20
    * numerically matches) while `read().filter` coerces numerically and
    * keeps the row — silent row loss. Numeric dtypes accept anything that
    * parses as a number (Spark coerces a numeric-looking string bound the
    * same way); temporal dtypes accept their java.sql/java.time types or a
    * string their parser round-trips; string dtypes accept ONLY strings.
    * `false` → the caller must skip pruning (read + filter stays correct). */
  private def boundTyped(dtype: String, v: Any): Boolean = {
    def num = scala.util.Try(BigDecimal(v.toString)).isSuccess
    dtype match {
      case "tinyint" | "smallint" | "int" | "bigint" | "float" | "double" => num
      case d if d.startsWith("decimal") => num
      case "date" => v match {
        case _: java.sql.Date | _: java.time.LocalDate => true
        case s: String => scala.util.Try(java.sql.Date.valueOf(s)).isSuccess
        case _ => false
      }
      case "timestamp" | "timestamp_ntz" => v match {
        case _: java.sql.Timestamp | _: java.time.LocalDateTime => true
        case s: String =>
          scala.util.Try(java.sql.Timestamp.valueOf(s.replace('T', ' '))).isSuccess
        case _ => false
      }
      case "string" => v.isInstanceOf[String]
      case _ => false
    }
  }

  /** Compare two stat strings under the column's recorded type. `None` =
    * unparseable (NaN, unknown type) — callers must keep the file. */
  private def statCompare(dtype: String, a: String, b: String): Option[Int] =
    scala.util.Try[Int] {
      dtype match {
        case "tinyint" | "smallint" | "int" | "bigint" | "float" | "double" =>
          BigDecimal(a).compare(BigDecimal(b))
        case d if d.startsWith("decimal") => BigDecimal(a).compare(BigDecimal(b))
        case "date" => java.sql.Date.valueOf(a).compareTo(java.sql.Date.valueOf(b))
        case "timestamp" | "timestamp_ntz" =>
          java.sql.Timestamp.valueOf(a.replace('T', ' '))
            .compareTo(java.sql.Timestamp.valueOf(b.replace('T', ' ')))
        case "string" => a.compareTo(b)
      }
    }.toOption

  /** One generation's share of a pruned read: `paths` (files or partition
    * subdirs) opened under `basePath` (so Spark's partition-column
    * inference still sees the `col=value` dir names), plus kept/total FILE
    * counts for the evidence surface. */
  private case class PruneUnit(basePath: String, paths: Seq[String], kept: Int, total: Int)

  private def isDataFile(s: org.apache.hadoop.fs.FileStatus): Boolean =
    s.isFile && !s.getPath.getName.startsWith("_") && !s.getPath.getName.startsWith(".")

  /** One file survives ALL bounds it has usable stats for. Missing stats,
    * missing sidecar, or a bound whose runtime type mismatches the recorded
    * dtype ([[boundTyped]] — a mistyped bound would prune lexicographically
    * while the residual filter coerces by value) ⇒ keep. */
  private def fileSurvives(stats: Option[Map[(String, String), (String, String, String)]],
      key: String, bounds: Seq[(String, Any, Any)]): Boolean =
    bounds.forall { case (column, lo, hi) =>
      stats.flatMap(_.get((key, column))) match {
        case Some((dt, mn, mx)) if boundTyped(dt, lo) && boundTyped(dt, hi) =>
          // keep unless the file's range provably misses [lo, hi]
          !(statCompare(dt, mx, lo.toString).exists(_ < 0) ||
            statCompare(dt, mn, hi.toString).exists(_ > 0))
        case _ => true
      }
    }

  /** A `col=value` partition directory survives a bound on its partition
    * column. The value's compare dtype is inferred from its FORM (date,
    * numeric, else string — mirroring Spark's partition-type inference that
    * the residual filter will coerce under); an uninterpretable pairing
    * keeps the partition. The null partition never matches a range. */
  private def partitionSurvives(value: String, bounds: Seq[(String, Any, Any)]): Boolean =
    bounds.forall { case (_, lo, hi) =>
      if (value == "__HIVE_DEFAULT_PARTITION__") false
      else {
        val dtype =
          if (scala.util.Try(java.sql.Date.valueOf(value)).isSuccess) "date"
          else if (scala.util.Try(BigDecimal(value)).isSuccess) "bigint"
          else "string"
        if (!boundTyped(dtype, lo) || !boundTyped(dtype, hi)) true
        else !(statCompare(dtype, value, lo.toString).exists(_ < 0) ||
          statCompare(dtype, value, hi.toString).exists(_ > 0))
      }
    }

  /** Prune one generation dir for `bounds`, composing partition-dir pruning
    * (coarse axis: any `col=value` dir on the path decides without listing
    * its subtree — works at ANY nesting depth) with per-file min/max
    * skipping (fine axis: `_stats` keys are `sub/dirs/file` relative
    * paths). `onlyParts` restricts to a partition-scoped manifest's named
    * partitions. `exhaustive = false` (the read path) SKIPS pruned
    * subtrees without listing them at all — on a 2.4 k-partition table a
    * 7-day band lists 7 dirs, not 2 400 — at the cost of `total` counting
    * only the subtrees it visited; [[pruneEvidence]] passes `true` for
    * honest kept/total accounting. */
  private def pruneGen(genDir: Path, bounds: Seq[(String, Any, Any)],
      onlyParts: Option[Seq[String]], exhaustive: Boolean): PruneUnit = {
    val stats = loadStats(genDir)
    var kept = 0
    var total = 0
    val paths = Seq.newBuilder[String]
    // Level-synchronous walk: each round lists every frontier directory IN
    // PARALLEL (the listStatus RPCs dominate on an object store — a WIDE
    // band where most of a 2.4 k-partition table survives pruning would
    // otherwise serialize 2.4 k round-trips), then folds the listings
    // single-threaded (cheap CPU: stats lookups and counter bumps). Narrow
    // bands still never list a pruned subtree — a pruned `col=value` dir
    // drops out of the frontier without being visited (except in
    // exhaustive mode, which walks everything for honest kept/total).
    // relDir "" = the gen dir itself; pruned = an ancestor partition dir
    // already failed its bound (only reachable in exhaustive mode).
    final case class Node(relDir: String, pruned: Boolean)
    def children(n: Node): (Node, Seq[org.apache.hadoop.fs.FileStatus]) = {
      val p = if (n.relDir.isEmpty) genDir else new Path(genDir, n.relDir)
      n -> fs.listStatus(p).toSeq
    }
    var frontier: Seq[Node] = onlyParts match {
      case None => Seq(Node("", pruned = false))
      case Some(parts) => parts.filter(p => fs.exists(new Path(genDir, p))).flatMap { part =>
        val Array(pcol, pval) = part.split("=", 2)
        val childPruned = !partitionSurvives(pval, bounds.filter(_._1 == pcol))
        if (!childPruned || exhaustive) Some(Node(part, childPruned)) else None
      }
    }
    while (frontier.nonEmpty) {
      val next = Seq.newBuilder[Node]
      inParallel(frontier)(children).foreach { case (node, listed) =>
        val subdirs = listed.filter(s => s.isDirectory && s.getPath.getName.contains("="))
        val files = listed.filter(isDataFile)
        total += files.size
        if (!node.pruned && files.nonEmpty) {
          // leaf files: apply stats for every bound not already decided by a
          // partition dir on this path (stats on partition columns are
          // per-file constants and agree, so re-checking them is harmless)
          val surviving = files.filter { f =>
            val key = if (node.relDir.isEmpty) f.getPath.getName
              else s"${node.relDir}/${f.getPath.getName}"
            fileSurvives(stats, key, bounds)
          }
          if (stats.isEmpty && node.relDir.isEmpty && subdirs.isEmpty) {
            // flat generation without a stats sidecar: whole-dir read
            kept += files.size
            paths += genDir.toString
          } else {
            kept += surviving.size
            paths ++= surviving.map(_.getPath.toString)
          }
        }
        subdirs.foreach { sd =>
          val name = sd.getPath.getName
          val Array(pcol, pval) = name.split("=", 2)
          val childPruned = node.pruned || !partitionSurvives(pval, bounds.filter(_._1 == pcol))
          if (!childPruned || exhaustive)
            next += Node(if (node.relDir.isEmpty) name else s"${node.relDir}/$name", childPruned)
        }
      }
      frontier = next.result()
    }
    PruneUnit(genDir.toString, paths.result(), kept, total)
  }

  /** The pruning decision for one read: per-generation read units plus
    * kept/total file counts. `None` = stats-based pruning does not apply
    * (rename layout) — fall back to a plain filtered read. `asOf` resolves
    * a retained generation instead of the current manifest (the time-travel
    * × data-skipping composition). */
  private def prunePlan(table: String, bounds: Seq[(String, Any, Any)],
      asOf: Option[Long] = None, exhaustive: Boolean = false): Option[(Seq[PruneUnit], Int, Int)] = {
    if (!pointerMode || listMarkers(table).isEmpty) return None
    val entries = asOf.fold(committedEntries(table, "readWhere"))(manifestAt(table, _, "readWhere"))
    val dir = tablePath(table)
    val (whole, parts) = entries.partition(_._1 == WholeTable)
    val units =
      if (parts.isEmpty)
        whole.map(_._2).distinct.map(g => pruneGen(new Path(s"$dir/$g"), bounds, None, exhaustive))
      else if (whole.isEmpty)
        parts.groupBy(_._2).toSeq.sortBy(_._1).map { case (g, es) =>
          pruneGen(new Path(s"$dir/$g"), bounds, Some(es.map(_._1)), exhaustive)
        }
      else throw new IllegalStateException(
        s"readWhere('$table'): manifest mixes whole-table and partition entries")
    Some((units, units.map(_.kept).sum, units.map(_.total).sum))
  }

  /** Range read with manifest-stats data skipping: every `(column, lo, hi)`
    * bound is an inclusive BETWEEN, ANDed. Files whose recorded min/max
    * provably miss any bound are never opened — at 100 TB, on a
    * [[atomicOverwriteClustered]] layout, a narrow band touches a handful
    * of files instead of the whole table, BEFORE Spark lists or plans a
    * single pruned file (parquet row-group skipping starts a footer-read
    * too late to save the open). Pruning COMPOSES three axes:
    *
    *  - partition-dir pruning: a bound on the partition column skips whole
    *    `col=value` subdirs by name (the coarse date axis),
    *  - per-file stats inside partition subdirs: `_stats` keys carry the
    *    subdir prefix, so a bound on a NON-partition column skips files
    *    within every surviving partition (the fine key axis),
    *  - multi-column intersection: with a [[atomicOverwriteZOrdered]]
    *    layout, bounds on BOTH z-order dimensions each shrink the kept set.
    *
    * Bounds are compared under the column's recorded type; files or
    * generations without usable stats are read and filtered (correct, just
    * unpruned), so the result ALWAYS equals `read(table)` under the same
    * filters. Stats exist when the store was built with `statsColumns`
    * covering the bound columns. */
  def readWhere(table: String, bounds: Seq[(String, Any, Any)]): DataFrame =
    prunedRead(table, bounds, asOf = None, () => read(table))

  private def prunedRead(table: String, bounds: Seq[(String, Any, Any)], asOf: Option[Long],
      fallback: () => DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.{col, lit}
    require(bounds.nonEmpty, "readWhere needs at least one (column, lo, hi) bound")
    def residual(d: DataFrame) = bounds.foldLeft(d) { case (acc, (c, lo, hi)) =>
      acc.filter(col(c) >= lit(lo) && col(c) <= lit(hi))
    }
    prunePlan(table, bounds, asOf) match {
      case None => residual(fallback())
      case Some((units, _, _)) =>
        val frames = units.filter(_.paths.nonEmpty).map { u =>
          spark.read.option("basePath", u.basePath).parquet(u.paths: _*)
        }
        if (frames.isEmpty) residual(fallback()).filter(lit(false))
        // allowMissingColumns: an append-evolved table's generations carry
        // different footers — the union takes [[readEvolved]] semantics
        // (old generations read NULL for later columns; a range bound never
        // matches NULL, so the filter semantics are unchanged) instead of
        // crashing where a plain read() would have silently taken one
        // arbitrary footer's schema
        else residual(frames.reduce(_.unionByName(_, allowMissingColumns = true)))
    }
  }

  /** Single-bound convenience form of [[readWhere]]. */
  def readWhere(table: String, column: String, lo: Any, hi: Any): DataFrame =
    readWhere(table, Seq((column, lo, hi)))

  /** [[readWhere]] against a retained generation ([[readGeneration]]'s
    * time-travel surface with the same file skipping): the audit/backfill
    * shape "re-read last week's snapshot, but only this key band" pays for
    * the band, not the snapshot. Result ≡ `readGeneration(table,
    * gen).filter(bounds)`. */
  def readGenerationWhere(table: String, gen: Long,
      bounds: Seq[(String, Any, Any)]): DataFrame =
    prunedRead(table, bounds, asOf = Some(gen), () => readGeneration(table, gen))

  /** [[readWhere]] through a run-level snapshot's pin for `table` — the
    * consistent multi-table view composed with file skipping. */
  def readSnapshotWhere(id: Long, table: String,
      bounds: Seq[(String, Any, Any)]): DataFrame = {
    val gen = snapshotEntries(id).getOrElse(table, throw new IllegalArgumentException(
      s"readSnapshotWhere($id, '$table'): snapshot does not pin this table"))
    readGenerationWhere(table, gen, bounds)
  }

  /** (files kept, files total) that [[readWhere]] with these bounds would
    * plan — the pruning evidence surface for tests and ops. Dirs read
    * whole (no stats, nested partitioning) count all their files on both
    * sides. */
  def pruneEvidence(table: String, bounds: Seq[(String, Any, Any)]): (Int, Int) =
    prunePlan(table, bounds, exhaustive = true) match {
      case None => val n = read(table).inputFiles.length; (n, n)
      case Some((_, kept, total)) => (kept, total)
    }

  /** Single-bound convenience form of [[pruneEvidence]]. */
  def pruneEvidence(table: String, column: String, lo: Any, hi: Any): (Int, Int) =
    pruneEvidence(table, Seq((column, lo, hi)))

  // ---------------------------------------------------------------------
  // Run-level snapshots (multi-table consistent reads)
  // ---------------------------------------------------------------------

  private val SnapshotPrefix = "_run."

  /** Whether this store can publish run-level snapshots ([[publishSnapshot]]
    * is pointer-mode only: rename-layout tables keep no generation history
    * to pin). Callers dispatching long work should check this FIRST — a
    * post-run publishSnapshot require failure would discard the run. */
  def supportsSnapshots: Boolean = pointerMode

  /** All snapshot markers at the store root, highest id first. */
  private def listSnapshotMarkers(): Seq[(Long, Path)] = {
    val r = new Path(root)
    if (!fs.exists(r)) Nil
    else fs.listStatus(r).toSeq
      .flatMap { s =>
        val n = s.getPath.getName
        if (n.startsWith(SnapshotPrefix)) n.stripPrefix(SnapshotPrefix).toLongOption.map(_ -> s.getPath)
        else None
      }.sortBy(-_._1)
  }

  /** Parse one snapshot marker: table → pinned generation index. `None` for
    * a torn write (header carries the entry count, like table manifests). */
  private def parseSnapshot(p: Path): Option[Map[String, Long]] =
    readSidecar(p, "snapshot", counted = true).flatMap { rows =>
      val pins = rows.flatMap(r => r(1).toLongOption.map(r(0) -> _))
      Option.when(pins.size == rows.size)(pins.toMap)
    }

  /** Generations of `table` pinned by any RETAINED snapshot — [[cleanupGenerations]]
    * must not vacuum these even when they fall outside the per-table
    * retention window, or a snapshot reader would resolve to deleted dirs. */
  private def snapshotPinnedGens(table: String): Set[Long] =
    listSnapshotMarkers().take(snapshotRetention)
      .flatMap { case (_, p) => parseSnapshot(p).toSeq.flatMap(_.get(table)) }.toSet

  /**
   * Atomically publish a RUN-LEVEL snapshot: one marker pinning every listed
   * table to its current committed generation. Per-table publishes stay
   * independent (reference parity: the source system commits per table,
   * `TableCopyService.cs:89,170`), but a downstream consumer that resolves
   * through the snapshot sees a CONSISTENT multi-table set — mid-run it
   * keeps reading the previous snapshot (all tables' old generations);
   * after the single marker create it sees all new ones. Nothing in
   * between, ever: the marker create is the same create-if-absent CAS as a
   * table commit. Pointer-mode only (rename-layout tables keep no
   * generation history to pin). Retention: the newest `keepGenerations`
   * snapshot markers survive, and every generation they pin is protected
   * from per-table vacuum. Returns the snapshot id.
   */
  def publishSnapshot(tables: Seq[String]): Long = {
    require(pointerMode, "publishSnapshot requires CommitMode.Pointer (rename-layout " +
      "tables keep no generation history to pin)")
    require(tables.nonEmpty, "publishSnapshot needs at least one table")
    // pin through currentManifest, NOT generations().head: the newest marker
    // may be a lock-break footprint (well-formed manifest, vanished dirs)
    // that read() already skips — pinning it would wedge every readSnapshot
    val pins = tables.distinct.sorted.map { t =>
      val m = currentManifest(t)
      require(m.isDefined, s"publishSnapshot: table '$t' has no committed generation " +
        "with intact generation dirs")
      t -> m.get._1
    }
    val next = (0L +: listSnapshotMarkers().map(_._1)).max + 1
    val marker = new Path(root, s"$SnapshotPrefix$next")
    if (!writeSidecar(marker, "snapshot", pins.map { case (t, g) => Seq(t, s"$g") },
        counted = true, exclusive = true))
      throw new ConcurrentWriteException(
        s"publishSnapshot: marker ${marker.getName} already exists — lost the race to a " +
          "concurrent snapshot publisher")
    // the pins were resolved BEFORE the marker existed, so a concurrent
    // publish's retention pass could have vacuumed a to-be-pinned generation
    // in that window (it cannot see an uncreated snapshot marker). Re-verify
    // each pin AFTER the marker is durable and retract on failure —
    // mirroring commitPointer's post-create re-check.
    val broken = pins.filterNot { case (t, g) =>
      scala.util.Try(manifestAt(t, g, "publishSnapshot")).toOption.exists(manifestDirsExist(t, _))
    }
    if (broken.nonEmpty) {
      fs.delete(marker, false)
      throw new ConcurrentWriteException(
        s"publishSnapshot: pinned generation(s) vanished during publish " +
          s"(${broken.map { case (t, g) => s"$t@$g" }.mkString(", ")}) — marker retracted; " +
          "a concurrent publish's retention raced this snapshot, retry")
    }
    // best-effort retention of the snapshot chain itself (its own knob:
    // snapshotRetention, decoupled from per-table keepGenerations)
    try listSnapshotMarkers().drop(snapshotRetention).foreach { case (_, p) => fs.delete(p, false) }
    catch { case e: IOException => log.warn(s"snapshot retention failed: $e") }
    next
  }

  /** Committed snapshot ids, newest first (torn markers excluded). */
  def snapshots(): Seq[Long] =
    listSnapshotMarkers().collect { case (n, p) if parseSnapshot(p).isDefined => n }

  /** The table → generation pins of snapshot `id`. */
  def snapshotEntries(id: Long): Map[String, Long] =
    listSnapshotMarkers().collectFirst { case (n, p) if n == id => parseSnapshot(p) }.flatten
      .getOrElse(throw new IllegalArgumentException(
        s"snapshotEntries($id): no committed snapshot _run.$id — available: " +
          s"[${snapshots().mkString(", ")}]"))

  /** Read `table` exactly as the run that published snapshot `id` left it,
    * regardless of publishes since — the consistent-input surface for
    * medallion sproc steps (O1) and reproducible downstream jobs. */
  def readSnapshot(id: Long, table: String): DataFrame = {
    val gen = snapshotEntries(id).getOrElse(table, throw new IllegalArgumentException(
      s"readSnapshot($id, '$table'): snapshot does not pin this table — it pins " +
        s"[${snapshotEntries(id).keys.toSeq.sorted.mkString(", ")}]"))
    readGeneration(table, gen)
  }

  /** The committed manifest of marker `gen`, or raise with the available
    * window. */
  private def manifestAt(table: String, gen: Long, op: String): Manifest =
    listMarkers(table).collectFirst { case (n, p) if n == gen => parseManifest(p) }.flatten
      .getOrElse(throw new IllegalArgumentException(
        s"$op('$table', $gen): no committed marker _commit.$gen — available: " +
          s"[${generations(table).mkString(", ")}] (retention keeps the $keepGenerations newest)"))

  /** The manifest entries that DIFFER between two retained generations:
    * (only in `fromGen`, only in `toGen`). An entry (partition or append
    * dir) referenced by BOTH manifests names the same immutable files on
    * both sides — its rows cancel exactly in a multiset diff, so it never
    * needs to be scanned. This is what makes [[generationDiff]] incremental:
    * a one-partition change on a 2.4 k-partition table diffs one partition. */
  private def diffEntries(table: String, fromGen: Long, toGen: Long)
      : (Manifest, Manifest) = {
    val fromE = manifestAt(table, fromGen, "generationDiff")
    val toE = manifestAt(table, toGen, "generationDiff")
    val shared = fromE.toSet.intersect(toE.toSet)
    (fromE.filterNot(shared), toE.filterNot(shared))
  }

  /** Multiset row diff between two retained generations: what a consumer
    * that processed `fromGen` must apply to catch up to `toGen` — the
    * incremental-consumer surface over the storage layer (reference analog:
    * the changed-key scan, `TableUpdateService.cs:81-88` — find what
    * changed without rescanning the world — lifted from a source column
    * convention to the table's own commit history). Rows only in `toGen`
    * tag `insert`, rows only in `fromGen` tag `delete` (an update = delete
    * + insert; duplicates diff by multiplicity — `exceptAll`).
    *
    * MANIFEST-AWARE: generation dirs (and partition entries) referenced
    * identically by both manifests are skipped before any scan or shuffle —
    * their immutable files contribute the same multiset to both sides and
    * cancel exactly under `exceptAll`. The scan (and the two hash-shuffles
    * behind `exceptAll`) therefore covers only CHANGED entries: a
    * one-partition overwrite on a date-partitioned 100 TB table diffs one
    * partition's files; an append chain diffs just the appended dirs
    * (before-side empty — the delete branch short-circuits to empty without
    * a job). Result ≡ the full `readGeneration(to) exceptAll
    * readGeneration(from)` oracle; [[generationDiffEvidence]] exposes the
    * skip ratio. */
  def generationDiff(table: String, fromGen: Long, toGen: Long): DataFrame = {
    import org.apache.spark.sql.functions.{col, lit}
    val (onlyFrom, onlyTo) = diffEntries(table, fromGen, toGen)
    // mergeSchemas: a side spanning an evolved append chain must present the
    // union of its own footers' columns, not one arbitrary footer's
    val before = readEntries(table, onlyFrom, mergeSchemas = true)
    val after = readEntries(table, onlyTo, mergeSchemas = true)
    // Align by the UNION of names: a column present on one side only (added
    // or removed by schema evolution) null-fills on the other, so an
    // evolved row surfaces as delete+insert with the added column intact —
    // instead of the added column silently vanishing from the insert side
    // (old behavior: project onto the before-side's columns). A name
    // carried by both sides at DIFFERENT types is refused loudly HERE, at
    // the cause, not as an opaque union/exceptAll analysis error.
    // Compared through stripNullability: append's drift guard permits
    // nullability-only differences between generations (array containsNull,
    // struct-field nullable), so they must not trip this refusal — two
    // healthy generations of the same table can legally disagree on flags.
    val conflicts = before.schema.flatMap { f =>
      after.schema.find(_.name == f.name).collect {
        case a if stripNullability(a.dataType) != stripNullability(f.dataType) =>
          s"${f.name}: ${f.dataType} -> ${a.dataType}"
      }
    }
    if (conflicts.nonEmpty) throw new IllegalStateException(
      s"generationDiff('$table', $fromGen, $toGen): column type changed between generations " +
        s"— ${conflicts.mkString("; ")}; cast the table to stable types before diffing")
    val names = before.columns ++ after.columns.filterNot(before.columns.contains(_))
    def typeOf(n: String) =
      before.schema.find(_.name == n).orElse(after.schema.find(_.name == n)).get.dataType
    def aligned(df: DataFrame) = df.select(names.toIndexedSeq.map { n =>
      if (df.columns.contains(n)) col(n) else lit(null).cast(typeOf(n)).as(n)
    }: _*)
    val b = aligned(before)
    val a = aligned(after)
    a.exceptAll(b).withColumn("__change", lit("insert"))
      .unionByName(b.exceptAll(a).withColumn("__change", lit("delete")))
  }

  /** (data files the incremental [[generationDiff]] will scan, data files
    * both manifests reference in total) — the pruning-evidence surface for
    * the diff path, mirroring [[pruneEvidence]]. A one-partition change on
    * an N-partition table must report scanned ≪ total. */
  def generationDiffEvidence(table: String, fromGen: Long, toGen: Long): (Int, Int) = {
    def files(es: Manifest): Int =
      inParallel(entryDirs(table, es))(p => listDataFiles(p).size).sum
    // totals come from the commit audit sidecars — recorded once at publish,
    // O(1) to read back — so the evidence call no longer walks every file of
    // both manifests (it exists to PROVE the diff scan is a sliver of the
    // table; listing the whole table to say so defeated the point at scale).
    // A generation committed before sidecar metrics existed (or whose
    // sidecar was lost) falls back to the listing, for that side only.
    def total(gen: Long): Int = {
      val entries = manifestAt(table, gen, "generationDiffEvidence") // validates gen
      markerMeta(table, gen).get("files").flatMap(_.toIntOption)
        .getOrElse(files(entries))
    }
    val (onlyFrom, onlyTo) = diffEntries(table, fromGen, toGen)
    (files(onlyFrom) + files(onlyTo), total(fromGen) + total(toGen))
  }

  // ---------------------------------------------------------------------
  // History + explicit vacuum (the storage-side mirror of the run ledger)
  // ---------------------------------------------------------------------

  /** Data-file count and byte volume under `p`, recursively (sidecars and
    * hidden files excluded). */
  private def duData(p: Path): (Long, Long) =
    fs.listStatus(p).toSeq.map { s =>
      if (s.isDirectory) duData(s.getPath)
      else if (isDataFile(s)) (1L, s.getLen)
      else (0L, 0L)
    }.foldLeft((0L, 0L)) { case ((f1, b1), (f2, b2)) => (f1 + f2, b1 + b2) }

  /** Per-generation audit trail of a pointer-layout table, newest first:
    * generation index, the operation that committed it, commit time (marker
    * modification time), data-file count, byte volume, and exact row count.
    * Metrics come straight from the commit's audit sidecar — recorded once
    * at publish ([[commitPointer]]), so this is a pure metadata read: NO
    * Spark job, no file listing, regardless of table size (pinned by
    * `TableStoreSpec`). Generations committed before sidecar metrics
    * existed (or whose sidecar was lost) fall back to recomputation: a
    * recursive listing for files/bytes plus one footer-metadata count job.
    * The storage-side mirror of the run ledger (S8): the ledger says what a
    * run DID, history says what the table IS, generation by generation.
    * Rename-layout tables keep no history: empty. */
  def history(table: String): DataFrame = {
    val sp = spark
    import sp.implicits._
    val rows = listMarkers(table).flatMap { case (n, p) =>
      parseManifest(p).map { entries =>
        val meta = markerMeta(table, n)
        val recorded = for {
          r <- meta.get("rows").flatMap(_.toLongOption)
          f <- meta.get("files").flatMap(_.toLongOption)
          b <- meta.get("bytes").flatMap(_.toLongOption)
        } yield (f, b, r)
        val (nFiles, nBytes, nRows) = recorded.getOrElse {
          val (f, b) = entryDirs(table, entries).map(duData)
            .foldLeft((0L, 0L)) { case ((f1, b1), (f2, b2)) => (f1 + f2, b1 + b2) }
          val r = try readEntries(table, entries, mergeSchemas = false).count()
            catch { case NonFatal(_) => -1L }
          (f, b, r)
        }
        (n, meta.getOrElse("op", "unknown"),
          new java.sql.Timestamp(fs.getFileStatus(p).getModificationTime),
          nFiles, nBytes, nRows)
      }
    }
    rows.toDF("generation", "op", "committed_at", "n_files", "size_bytes", "n_rows")
  }

  /** Explicit retention: delete committed generations beyond the `keep`
    * newest (snapshot-pinned generations always survive), dead partial
    * markers, and unreferenced `_gen-*` dirs. `dryRun = true` only REPORTS
    * the plan — nothing is touched. Returns one row per affected object:
    * (kind: marker|generation, name, action: deleted|would_delete). The
    * publish path already enforces `keepGenerations` automatically; this
    * is the operator-invoked form for reclaiming a time-travel window
    * early. Deletion runs under the writer lock, which serializes it with
    * rewrites and commits; dry-run is lock-free. An in-flight generation
    * dir is kept safe by [[vacuumPlan]]'s orphan grace, not by the lock.
    * `keep >= 2` keeps the current + previous reader-isolation minimum. */
  def vacuum(table: String, keep: Int, dryRun: Boolean = false): DataFrame = {
    require(keep >= 2,
      s"vacuum keep must be >= 2 (current + previous, the reader-isolation minimum): $keep")
    val sp = spark
    import sp.implicits._
    def rows(dropMarkers: Seq[Path], dropDirs: Seq[Path], action: String) =
      (dropMarkers.map(p => ("marker", p.getName, action)) ++
        dropDirs.map(p => ("generation", p.getName, action)))
        .toDF("kind", "name", "action")
    if (dryRun) {
      val (dropMarkers, dropDirs) = vacuumPlan(table, keep)
      rows(dropMarkers, dropDirs, "would_delete")
    } else {
      // the orphan grace (`lockTtlMs` in vacuumPlan) is what protects every
      // in-flight gen dir, including a pointer append's, whose data is
      // written outside the lock; the lock serializes this vacuum with
      // rewrites and commits, so its plan and deletes see one table state
      val lock = acquireWriteLock(table, "vacuum")
      try {
        val (dropMarkers, dropDirs) = vacuumPlan(table, keep)
        dropMarkers.foreach(deleteMarker)
        dropDirs.foreach(fs.delete(_, true))
        rows(dropMarkers, dropDirs, "deleted")
      } finally fs.delete(lock, false)
    }
  }

  // ---------------------------------------------------------------------
  // Writes
  // ---------------------------------------------------------------------

  /** `dt` with every nullable/containsNull/valueContainsNull flag forced
    * permissive, recursively. Nullability is metadata, not a value type: a
    * freshly-computed frame carries tighter flags than the parquet
    * round-trip of the same data, so any check that means "same type"
    * across a write boundary must compare THROUGH this — [[append]]'s
    * drift guard and [[generationDiff]]'s conflict check both do, or a
    * nullability-only difference the writer legally produced would read
    * back as a type change. */
  private def stripNullability(dt: org.apache.spark.sql.types.DataType)
      : org.apache.spark.sql.types.DataType = {
    import org.apache.spark.sql.types.{ArrayType, MapType, StructType}
    dt match {
      case ArrayType(e, _) => ArrayType(stripNullability(e), containsNull = true)
      case MapType(k, v, _) =>
        MapType(stripNullability(k), stripNullability(v), valueContainsNull = true)
      case StructType(fields) => StructType(fields.map(f =>
        f.copy(dataType = stripNullability(f.dataType), nullable = true)))
      case other => other
    }
  }

  /** Append rows (the reference's plain `SqlBulkCopy` append path,
    * `TableCopyService.cs:121,144-170`); used for pure-append facts,
    * streaming sinks, index growers and the run ledger's folds (one
    * generation per many records; a single record never comes here — see
    * [[graft.ledger.Ledger]]). Takes the writer lock (waiting up to
    * `appendLockWaitMs` — appends serialize fine, unlike rewrites where
    * failing fast is the right call):
    * an unlocked append racing a rewrite can land its files in a retired
    * directory and be silently lost, and two concurrent append jobs race on
    * the shared `_temporary` staging dir. In pointer mode each append is its
    * own atomically-published generation (the manifest accumulates dirs;
    * [[compact]] folds them).
    *
    * Cache hazard: a rename-mode append, plain or keyed
    * ([[appendIdempotent]]), changes the live table dir, so Spark refreshes
    * every cached frame whose plan reads that table, and the next use
    * recomputes it from scratch. A caller that reuses a frame derived from
    * the table across appends must `localCheckpoint` it instead (see
    * [[graft.ext.Dedup.appendToLshIndex]]). A pointer-mode append writes a
    * fresh `_gen-*` dir and refreshes nothing. */
  def append(table: String, df: DataFrame): Unit = {
    refuseIfCatalogBucketed(table, "append")
    if (!pointerMode) {
      val lock = acquireWriteLock(table, "append", waitMs = appendLockWaitMs)
      try {
        checkAppendDrift(table, df)
        df.write.mode("append").parquet(tablePath(table))
      } finally fs.delete(lock, false)
    } else
      // Pointer-mode appends hold the writer lock only around the O(1)
      // manifest commit, NOT around the data write: each append's files go
      // to a private immutable `_gen-*` dir no reader or other writer
      // touches, so N parallel dim copies write concurrently and their
      // commits serialize for milliseconds each — instead of the whole
      // append train serializing on `appendLockWaitMs`. An in-flight
      // (written-but-uncommitted) gen dir is protected from a concurrent
      // committer's orphan sweep by the `lockTtlMs` grace in [[vacuumPlan]];
      // if a racing rewrite replaces the table before our commit, the
      // append lands ON TOP of the new state (the manifest is re-read under
      // the lock), which is the append-after-rewrite linearization.
      publishPointer(table, "append", append = true)(writeGeneration(df)) { (current, fresh) =>
        Some(appendBase(table, "append", df, current) ++ fresh)
      }
  }

  /** ADDITIVE-only schema guard shared by the append paths, run under the
    * writer lock where the table state can no longer move — so it decides:
    * its read failures propagate, since appending into a table whose state
    * cannot be read deepens whatever is wrong before it surfaces at some
    * distant read. A new column reads as NULL for old rows through
    * [[readEvolved]], but a TYPE CHANGE on an existing column would poison
    * the table with irreconcilable footers that explode at READ time
    * (mergeSchema failure), far from the write that caused it; fail here,
    * at the cause, instead. The baseline is the EVOLVED (union) schema, not
    * one arbitrary footer's: on a multi-generation table a column added by
    * an earlier evolved append may be absent from the footer a plain read
    * happens to infer from, and a later append with that column at a
    * different type would slip past a single-footer check. Nullability is
    * NOT drift ([[stripNullability]]). Skipped for a first append (no
    * current state to drift from). Pointer appends write their data before
    * the lock, so a refused append has paid for its write — the price of
    * one mergeSchema read per append instead of two. */
  private def checkAppendDrift(table: String, df: DataFrame): Unit = if (exists(table)) {
    val current = readEvolved(table).schema
    val drifted = df.schema.flatMap { f =>
      current.find(_.name == f.name).collect {
        case c if stripNullability(c.dataType) != stripNullability(f.dataType) =>
          s"${f.name}: ${c.dataType} -> ${f.dataType}"
      }
    }
    if (drifted.nonEmpty) throw new IllegalArgumentException(
      s"append('$table'): column type drift is not appendable — ${drifted.mkString("; ")}; " +
        "cast the batch to the table's types (new columns are fine, type changes are not)")
  }

  /** The manifest a pointer append extends, validated under the writer
    * lock: whole-table generations only, and no column type drift. */
  private def appendBase(table: String, op: String, df: DataFrame, current: Manifest): Manifest = {
    if (current.exists(_._1 != WholeTable)) throw new IllegalStateException(
      s"$op('$table'): table has partition-scoped generations; append through " +
        "overwriteDatePartitions (or compact first)")
    checkAppendDrift(table, df)
    current
  }

  private def sanitizeIdemKey(key: String): String = {
    require(key.nonEmpty && key.length <= 128, s"idempotency key must be 1-128 chars: '$key'")
    key.map(c => if (c.isLetterOrDigit || c == '-' || c == '_') c else '_')
  }

  /** Has `appendIdempotent(table, _, key)` already committed? Pointer mode
    * answers from the current manifest (the gen-dir name carries the key);
    * rename mode from the key marker file. */
  def idempotentKeyCommitted(table: String, key: String): Boolean = {
    val k = sanitizeIdemKey(key)
    // pointer mode also honors `_idem.<k>` markers: compaction folds the
    // keyed gen dirs into one plain generation and materializes the keys it
    // retired as markers (see [[atomicOverwriteAs]] carryIdemKeys) — without
    // them, a post-compaction replay of an old batch would re-append
    if (pointerMode)
      currentManifest(table).exists(_._2.exists(_._2.startsWith(s"_gen-idem-$k."))) ||
        fs.exists(new Path(tablePath(table), s"_idem.$k"))
    else fs.exists(new Path(tablePath(table), s"_idem.$k"))
  }

  /** Every idempotency key committed to `table`, from both records (gen-dir
    * names in the current manifest and `_idem.*` markers). */
  private def committedIdemKeys(table: String): Set[String] = {
    val dir = new Path(tablePath(table))
    val markers =
      if (!fs.exists(dir)) Set.empty[String]
      else fs.globStatus(new Path(dir, "_idem.*")).map(_.getPath.getName.drop(6)).toSet
    val fromManifest =
      if (!pointerMode) Set.empty[String]
      else currentManifest(table).toSeq.flatMap(_._2).map(_._2)
        .filter(_.startsWith("_gen-idem-"))
        .map(g => g.drop("_gen-idem-".length).takeWhile(_ != '.')).toSet
    markers ++ fromManifest
  }

  /**
   * EXACTLY-ONCE append keyed by `key`: a second call with the same key is
   * a no-op (returns false), no matter where a previous attempt crashed —
   * the primitive an at-least-once caller (Structured Streaming's
   * `foreachBatch`, whose micro-batch replays on any crash between the sink
   * write and the checkpoint commit) needs to make its sink writes
   * idempotent; `key` is typically the micro-batch id (the Delta
   * `txnAppId`/`txnVersion` discipline, one key per logical batch).
   *
   * Pointer mode: the batch writes to a fresh `_gen-idem-<key>.<nonce>`
   * dir and the KEY RIDES THE COMMITTED GEN-DIR NAME, so "was this batch
   * committed" is a manifest read and commit-or-skip is arbitrated by the
   * same O_EXCL marker create as every other pointer commit — the key
   * check re-runs under the writer lock, and an uncommitted dir from a
   * crashed attempt is unreachable garbage the orphan sweep reclaims.
   *
   * Rename mode: the batch stages to a hidden `_idem_stage.<key>` dir,
   * then moves into the table under DETERMINISTIC names
   * (`idem-<key>-<i>.parquet`) with any same-key leftovers from a crashed
   * attempt deleted first (all under the writer lock), and finally the
   * `_idem.<key>` marker commits the key. Every crash window replays
   * clean: before the marker, a replay re-deletes and re-moves (no
   * duplicate can survive because stale files are removed by NAME before
   * the fresh set lands); after the marker, the key check skips.
   */
  def appendIdempotent(table: String, df: DataFrame, key: String): Boolean = {
    refuseIfCatalogBucketed(table, "appendIdempotent")
    val k = sanitizeIdemKey(key)
    if (idempotentKeyCommitted(table, k)) return false
    if (pointerMode)
      publishPointer(table, "appendIdempotent", append = true, genName = s"_gen-idem-$k.${nonce()}")(
          writeGeneration(df)) { (current, fresh) =>
        // decisive under-lock re-check must see BOTH key records: the
        // manifest's keyed gen dirs AND the `_idem.<k>` markers — a
        // concurrent same-key commit followed by a compaction (which
        // retires keyed gen dirs into markers) between our fast pre-check
        // and this lock acquisition would otherwise slip a duplicate in
        if (current.exists(_._2.startsWith(s"_gen-idem-$k.")) ||
            fs.exists(new Path(tablePath(table), s"_idem.$k"))) None // lost the key race
        else Some(appendBase(table, "appendIdempotent", df, current) ++ fresh)
      }
    else {
      val dir = new Path(tablePath(table))
      val marker = new Path(dir, s"_idem.$k")
      val lock = acquireWriteLock(table, "appendIdempotent", waitMs = appendLockWaitMs)
      try {
        if (fs.exists(marker)) return false // decisive re-check under the lock
        checkAppendDrift(table, df)
        val stage = new Path(dir, s"_idem_stage.$k")
        df.write.mode("overwrite").parquet(stage.toString)
        // remove a crashed attempt's partial move by NAME, then land the
        // fresh set — both orderings of crash-and-replay converge
        fs.globStatus(new Path(dir, s"idem-$k-*")).foreach(s => fs.delete(s.getPath, false))
        listDataFiles(stage).zipWithIndex.foreach { case (s, i) =>
          val ext = s.getPath.getName.dropWhile(_ != '.')
          if (!fs.rename(s.getPath, new Path(dir, s"idem-$k-$i$ext")))
            throw new IOException(s"appendIdempotent('$table'): rename of ${s.getPath} failed")
        }
        fs.delete(stage, true)
        if (!writeSidecar(marker, "idem", Seq(Seq("key", k)), exclusive = true))
          throw new ConcurrentWriteException(
            s"appendIdempotent('$table'): key $k was committed concurrently")
        // the files arrived by rename, which Spark never sees: refresh the
        // cached plans over the table as a plain append's write does
        spark.catalog.refreshByPath(dir.toString)
        true
      } finally fs.delete(lock, false)
    }
  }

  private def nonce(): String = java.util.UUID.randomUUID.toString.take(8)

  /** Test seam: invoked by pointer-mode appends after their data write but
    * before they take the writer lock — the window where a concurrent
    * rewrite can change the state the append lands on. Production no-op. */
  private[store] var beforeAppendCommit: String => Unit = _ => ()

  /** Writer mutual exclusion: atomically create `<table>.lock`
    * ([[createAtomically]] — a real CAS on every filesystem) and fail loudly
    * with [[ConcurrentWriteException]] if another writer holds it. Without
    * this, two racing [[atomicOverwrite]]s both complete and the LAST swap
    * silently discards the first writer's data — a lost update with no
    * error anywhere (the reference got this exclusion for free from SQL
    * Server transactions).
    *
    * Self-healing: a lock whose modification time is older than `lockTtlMs`
    * is a crashed writer's leftover — it is broken with a logged warning and
    * the table [[recover]]ed before this writer proceeds. Size the TTL above
    * the longest expected rewrite: breaking a live-but-slow writer's lock
    * makes THAT writer fail loudly at publish time (its temp/generation dir
    * is recovered away and the commit arbiter refuses a vanished dir) —
    * never a silent lost update. `waitMs` > 0 retries on contention before
    * failing (appends serialize; rewrites fail fast with waitMs = 0). */
  private def acquireWriteLock(table: String, op: String, waitMs: Long = 0L): Path = {
    val lock = new Path(tablePath(table) + ".lock")
    def conflict(cause: Throwable) = throw new ConcurrentWriteException(
      s"$op('$table'): another writer holds ${lock.getName} — concurrent rewrites of one " +
        "table lose the first writer's data; retry after it finishes " +
        s"(a crashed writer's lock self-heals after ${lockTtlMs / 1000}s, or run recover)", cause)
    val deadline = System.currentTimeMillis + waitMs
    var acquired: Path = null
    while (acquired == null) {
      val heldAgeMs: Option[Long] =
        try {
          if (fs.exists(lock)) Some(System.currentTimeMillis - fs.getFileStatus(lock).getModificationTime)
          else None
        } catch { case _: java.io.FileNotFoundException => None } // released between exists and stat
      heldAgeMs match {
        case Some(age) if lockTtlMs > 0 && age > lockTtlMs =>
          log.warn(s"$op('$table'): breaking stale writer lock (age ${age}ms > TTL ${lockTtlMs}ms) " +
            "and recovering the table — the previous writer is presumed crashed")
          // two writers arriving at the same expired lock may BOTH reach this
          // branch and run recovery concurrently: that is benign by design —
          // recover() is idempotent deletes/renames, and mutual exclusion is
          // restored immediately after, when both loop back to the
          // create-if-absent below and exactly one wins the CAS. The loser
          // waits or fails with ConcurrentWriteException; it never proceeds.
          // TTL-sized orphan grace: OUR OWN append may have an in-flight
          // uncommitted gen dir (written pre-lock) that grace 0 would reap.
          recoverWith(table, orphanGraceMs = lockTtlMs)
        case Some(_) if System.currentTimeMillis < deadline => Thread.sleep(100)
        case Some(_) => conflict(null)
        case None =>
          val created = try Some(createAtomically(lock)) catch {
            case e: IOException => // lost the create race
              if (System.currentTimeMillis < deadline) { Thread.sleep(100); None }
              else conflict(e)
          }
          created.foreach { out =>
            // metadata write failing must NOT leave our own lock behind
            // masquerading as a concurrent writer
            try { out.writeUTF(s"$op@${java.time.Instant.now()}"); out.close() } catch {
              case e: IOException =>
                fs.delete(lock, false)
                throw new IOException(s"$op('$table'): failed to write lock metadata", e)
            }
            acquired = lock
          }
      }
    }
    acquired
  }

  /** Atomically replace the table's state with `df` (protocols above).
    * `df` MAY be derived from the table's own current state — it is fully
    * materialized into the new temp/generation dir before the publish step.
    * Guarded at this funnel (and [[append]]/[[overwriteDatePartitions]]) so
    * EVERY rewrite path refuses catalog-bucketed tables, not just the
    * convenience wrappers. Rewrites of one table are mutually exclusive
    * ([[acquireWriteLock]]): a racing second writer fails loudly instead of
    * silently clobbering the first. */
  def atomicOverwrite(table: String, df: DataFrame, partitionBy: Seq[String] = Nil): Unit =
    atomicOverwriteAs(table, df, partitionBy, "atomicOverwrite")

  /** [[atomicOverwrite]] with the operation name wrappers like [[compact]]
    * want recorded in the commit audit sidecar ([[history]]'s `op`). */
  private def atomicOverwriteAs(table: String, df: DataFrame, partitionBy: Seq[String],
      op: String, carryIdemKeys: Boolean = false): Unit = {
    refuseIfCatalogBucketed(table, op)
    if (pointerMode) publishPointer(table, op) { gen =>
      // compaction (carryIdemKeys) retires keyed `_gen-idem-*` dirs from
      // the manifest; materialize their keys as `_idem.*` markers FIRST —
      // the markers assert an already-true fact, so writing them before
      // the commit leaves every crash window consistent
      if (carryIdemKeys) committedIdemKeys(table).foreach { k =>
        val m = new Path(gen.getParent, s"_idem.$k")
        if (!fs.exists(m)) writeSidecar(m, "idem", Seq(Seq("key", k)))
      }
      writeGeneration(df, partitionBy)(gen)
    } { (_, fresh) => Some(fresh) }
    else {
      val lock = acquireWriteLock(table, op)
      try {
        val nn = nonce()
        val live = new Path(tablePath(table))
        val tmp = new Path(tablePath(table) + s".tmp-$nn")
        val old = new Path(tablePath(table) + s".old-$nn")
        writeGeneration(df, partitionBy)(tmp)
        // compaction must not forget exactly-once keys: copy the `_idem.*`
        // markers into the about-to-publish dir BEFORE the swap, so both
        // crash outcomes (old state, new state) retain every key
        if (carryIdemKeys && fs.exists(live))
          fs.globStatus(new Path(live, "_idem.*")).foreach { s =>
            val name = s.getPath.getName
            writeSidecar(new Path(tmp, name), "idem", Seq(Seq("key", name.drop(6))))
          }
        val hadLive = fs.exists(live)
        if (hadLive && !fs.rename(live, old))
          throw new IOException(s"atomicOverwrite: could not retire $live")
        if (!fs.rename(tmp, live)) {
          // roll back: restore the old state before failing
          if (hadLive) fs.rename(old, live)
          throw new IOException(s"atomicOverwrite: could not publish $tmp as $live")
        }
        if (hadLive) fs.delete(old, true)
      } finally fs.delete(lock, false)
    }
  }

  /** Write `df` as one whole-table generation into `dir` — the data step of
    * every pointer rewrite and append (and of a rename-mode rewrite's temp
    * dir). Returns the manifest entry the generation provides. */
  private def writeGeneration(df: DataFrame, partitionBy: Seq[String] = Nil)(
      dir: Path): Seq[String] = {
    (if (partitionBy.nonEmpty) df.write.partitionBy(partitionBy: _*) else df.write)
      .mode("overwrite").parquet(dir.toString)
    Seq(WholeTable)
  }

  /** The one pointer-mode publish path: every pointer writer reaches
    * [[commitPointer]] through here. Its steps are the commit boundaries a
    * crash can fall between, in order:
    *  1. write gen: `write` fills a fresh `_gen-*` dir and names the
    *     manifest entries it provides; then its `_stats`,
    *  2. lock: the writer lock is held around the write for rewrites, and
    *     only around steps 3-4 for appends (`append`, see [[append]]),
    *  3. validate or merge: `next` maps the current manifest (passed by
    *     name, so a rewrite that ignores it reads no marker) and the fresh
    *     entries to the manifest to publish; it refuses by throwing and
    *     skips by returning `None`,
    *  4. marker CAS, then commit meta and retention ([[commitPointer]]).
    * Every exit that does not publish — failed write, refusal, skip, lost
    * race — reclaims the generation dir (and a table dir this call
    * created). Returns whether it published. */
  private def publishPointer(table: String, op: String, append: Boolean = false,
      genName: String = s"_gen-${nonce()}")(write: Path => Seq[String])(
      next: (=> Manifest, Manifest) => Option[Manifest]): Boolean = {
    def locked[A](body: => A): A = {
      val lock = acquireWriteLock(table, op, waitMs = if (append) appendLockWaitMs else 0L)
      try body finally fs.delete(lock, false)
    }
    def publish(): Boolean = {
      val dir = new Path(tablePath(table))
      val created = !fs.exists(dir)
      if (created) fs.mkdirs(dir)
      val gen = new Path(dir, genName)
      var published = false
      try {
        val fresh = write(gen).map(_ -> genName)
        writeStats(gen)
        def commit(): Unit = {
          lazy val current = currentManifest(table).map(_._2).getOrElse(Nil)
          next(current, fresh).foreach { m => commitPointer(table, m, op); published = true }
        }
        if (append) { beforeAppendCommit(table); locked(commit()) } else commit()
      } finally if (!published) {
        fs.delete(gen, true)
        // a failed first publish leaves no empty dir for exists() to take
        // as a table; a racing writer's files keep it (non-recursive)
        if (created) try fs.delete(dir, false) catch { case _: IOException => () }
      }
      published
    }
    if (append) publish() else locked(publish())
  }

  /**
   * Partition-scoped overwrite — the 100 TB shape of the windowed reload:
   * replace ONLY the date partitions named in `days`, leaving every other
   * partition untouched. `df` must contain `partCol` (a `date` column); it is
   * written `partitionBy(partCol)` into a new temp/generation dir, then:
   *
   *  - rename mode: each affected `partCol=<day>` directory is swapped into
   *    the live table (retire-then-publish per day; a crash mid-way leaves
   *    some days new and some old, never a torn single day — the same
   *    guarantee as Hive/Spark dynamic partition overwrite, with leftover
   *    `.retired-*` dirs restored by [[recover]]),
   *  - pointer mode: the next manifest maps each UNTOUCHED partition to the
   *    generation dir that already holds it and each affected day to the new
   *    generation; one atomic marker create publishes the whole window (no
   *    per-day crash window at all — the stronger guarantee object storage
   *    needs, since it has no atomic rename to lean on).
   *
   * Every day in `days` has its live partition replaced or dropped (windowed
   * DELETE covers days that end up with zero fresh rows). Cost is
   * proportional to the WINDOW's data, not the table: a one-week reload of a
   * 10-year 100 TB fact table touches ~0.2% of the files and no shuffle.
   */
  def overwriteDatePartitions(table: String, df: DataFrame, partCol: String,
      days: Seq[java.time.LocalDate]): Unit = {
    refuseIfCatalogBucketed(table, "overwriteDatePartitions")
    if (pointerMode) overwriteDatePartitionsPointer(table, df, partCol, days)
    else {
      val lock = acquireWriteLock(table, "overwriteDatePartitions")
      try overwriteDatePartitionsLocked(table, df, partCol, days) finally fs.delete(lock, false)
    }
  }

  private def overwriteDatePartitionsLocked(table: String, df: DataFrame, partCol: String,
      days: Seq[java.time.LocalDate]): Unit = {
    val nn = nonce()
    val live = new Path(tablePath(table))
    val tmp = new Path(tablePath(table) + s".tmp-$nn")
    df.write.partitionBy(partCol).mode("overwrite").parquet(tmp.toString)
    val f = fs
    if (!f.exists(live)) f.mkdirs(live)
    def renameOrThrow(from: Path, to: Path): Unit =
      if (!f.rename(from, to))
        throw new IOException(s"overwriteDatePartitions: rename $from -> $to failed")
    // validate BEFORE mutating anything: fresh data outside the declared day
    // list means the caller's list was incomplete — failing after partial
    // publication would leave the table half-mutated
    val declared = days.map(d => s"$partCol=$d").toSet
    val undeclared = f.listStatus(tmp).map(_.getPath.getName)
      .filter(n => n.startsWith(s"$partCol=") && !declared.contains(n))
    if (undeclared.nonEmpty)
      throw new IOException(
        s"overwriteDatePartitions: fresh data for ${undeclared.mkString(", ")} " +
          "not covered by the declared day list — nothing was modified")
    // per-day retire-then-publish keeps the crash window per partition
    // minimal; a leftover .retired-* dir is restored by recover() if its
    // live partition is missing
    val retired = scala.collection.mutable.ListBuffer.empty[Path]
    days.foreach { d =>
      val p = new Path(live, s"$partCol=$d")
      if (f.exists(p)) {
        val old = new Path(live, s".retired-$nn-$partCol=$d")
        renameOrThrow(p, old)
        retired += old
      }
      val freshPart = new Path(tmp, s"$partCol=$d")
      if (f.exists(freshPart)) renameOrThrow(freshPart, p)
    }
    retired.foreach(f.delete(_, true))
    f.delete(tmp, true)
  }

  private def overwriteDatePartitionsPointer(table: String, df: DataFrame, partCol: String,
      days: Seq[java.time.LocalDate]): Unit = {
    val declared = days.map(d => s"$partCol=$d").toSet
    publishPointer(table, "overwriteDatePartitions") { gen =>
      df.write.partitionBy(partCol).mode("overwrite").parquet(gen.toString)
      val freshParts = fs.listStatus(gen).map(_.getPath.getName)
        .filter(_.startsWith(s"$partCol=")).toSeq
      val undeclared = freshParts.filterNot(declared.contains)
      if (undeclared.nonEmpty)
        throw new IOException(
          s"overwriteDatePartitions: fresh data for ${undeclared.mkString(", ")} " +
            "not covered by the declared day list — nothing was modified")
      // [[publishPointer]]'s `_stats` then keys files `partCol=day/file`:
      // partition-dir pruning composes with file-level skipping in readWhere
      freshParts
    } { (current, fresh) =>
      // expand the previous manifest to per-partition entries so untouched
      // partitions keep pointing at the generation dirs that already hold them
      val (whole, parts) = current.partition(_._1 == WholeTable)
      val prev =
        if (whole.isEmpty) parts
        else if (parts.isEmpty && whole.size == 1) {
          val subs = fs.listStatus(new Path(tablePath(table), whole.head._2))
            .map(_.getPath.getName).toSeq
          val stray = subs.filter(s => !s.startsWith(s"$partCol=") &&
            !s.startsWith("_") && !s.startsWith("."))
          if (stray.nonEmpty) throw new IllegalStateException(
            s"overwriteDatePartitions('$table'): existing generation is not partitioned " +
              s"by $partCol (found ${stray.take(3).mkString(", ")})")
          subs.filter(_.startsWith(s"$partCol=")).map(_ -> whole.head._2)
        } else throw new IllegalStateException(
          s"overwriteDatePartitions('$table'): table has accumulated append generations; " +
            "compact it before a partition-scoped overwrite")
      Some(prev.filterNot { case (p, _) => declared.contains(p) } ++ fresh)
    }
  }

  /**
   * Bucketed write: hash-cluster the table's FILES on `bucketCol` into
   * `numBuckets` buckets, registered in the session catalog (bucket layout
   * is catalog metadata — readers must come back through [[readBucketed]],
   * not a bare path read, to see it). Data lives under this store's root as
   * an external table, so the directory layout stays ours.
   *
   * Pointer mode keeps the layout WITHOUT a durable catalog (an
   * object-store deployment has none): the spec is persisted INSIDE the
   * immutable generation as a `_bucketspec` sidecar and the files go
   * through the same lock + atomic-marker protocol as any rewrite. Spark's
   * bucketed writer only runs through `saveAsTable`, so the write detours
   * through a throwaway session-catalog entry pointed at the generation dir
   * (external ⇒ dropping it keeps the files, which carry their bucket ids
   * in their names); the entry is gone before the commit marker lands.
   * Readers rebuild an equivalent catalog shim from the sidecar
   * ([[readBucketed]]), so the zero-Exchange join layout round-trips
   * through a fresh session with no catalog state at all.
   *
   * This is the 100 TB co-location primitive: two tables bucketed on the
   * same key with the same bucket count join with NO shuffle on either side
   * (each scan already reports `HashPartitioning(bucketCol, numBuckets)`),
   * and a `groupBy(bucketCol)` aggregates with no exchange. For a fact table
   * joined on the same key every day (orders ⋈ customer, events ⋈ users),
   * paying one clustered write amortizes the per-query shuffle away —
   * the layout replaces the network. `sortCols` additionally sorts within
   * each bucket file (sorted-bucket scans skip the sort before a
   * sort-merge join when one file per bucket).
   *
   * Plan contract pinned by `TableStoreSpec`: co-bucketed join plans contain
   * zero Exchange operators and equal the plain join's result.
   */
  def writeBucketed(table: String, df: DataFrame, bucketCol: String, numBuckets: Int,
      sortCols: Seq[String] = Nil): Unit = {
    require(numBuckets > 0, s"numBuckets must be positive: $numBuckets")
    def save(path: String, ident: String): Unit = {
      val w = df.write.mode("overwrite").format("parquet").option("path", path)
        .bucketBy(numBuckets, bucketCol)
      (if (sortCols.nonEmpty) w.sortBy(sortCols.head, sortCols.tail: _*) else w).saveAsTable(ident)
    }
    if (!pointerMode) save(tablePath(table), table)
    else publishPointer(table, "writeBucketed") { gen =>
      val tmpIdent = s"graft_bktwrite_${nonce()}"
      try save(gen.toString, tmpIdent)
      finally // external: bucket-named files remain; a failed write must
        spark.sql(s"DROP TABLE IF EXISTS `$tmpIdent`") // not leak the entry
      def enc(s: String) = java.net.URLEncoder.encode(s, "UTF-8")
      writeSidecar(new Path(gen, BucketSpecFile), "bucketspec", Seq(
        Seq("numBuckets", s"$numBuckets"), Seq("bucketCol", enc(bucketCol)),
        Seq("sortCols", sortCols.map(enc).mkString(","))))
      Seq(WholeTable)
    } { (_, fresh) => Some(fresh) }
  }

  private val BucketSpecFile = "_bucketspec"

  /** Parse a generation's `_bucketspec`: (numBuckets, bucketCol, sortCols). */
  private def loadBucketSpec(genDir: Path): Option[(Int, String, Seq[String])] = {
    def dec(s: String) = java.net.URLDecoder.decode(s, "UTF-8")
    readSidecar(new Path(genDir, BucketSpecFile), "bucketspec").flatMap { rows =>
      val kv = rows.map(r => r(0) -> r(1)).toMap
      for { n <- kv.get("numBuckets").flatMap(_.toIntOption); c <- kv.get("bucketCol") }
        yield (n, dec(c), kv.getOrElse("sortCols", "").split(",").toSeq.filter(_.nonEmpty).map(dec))
    }
  }

  /**
   * Range-clustered atomic write: globally range-partition `df` on
   * `clusterCols` (sampled boundaries, `numFiles` disjoint key ranges) and
   * sort within each range, so every output file covers a DISJOINT,
   * internally-sorted slice of the cluster-key space. Parquet footer
   * min/max stats then let any equality or range predicate on the cluster
   * key skip whole files and row groups at scan time.
   *
   * This is the within-partition data-skipping layout for the 100 TB fact
   * table, complementary to the two other layouts here: `partitionBy`
   * prunes directories on the coarse axis (date), [[writeBucketed]]
   * co-locates equi-join keys, and range-clustering makes selective scans
   * on an ordered key (order id, user id, timestamp) read ~selectivity ×
   * table instead of all of it — no catalog dependency, plain parquet
   * readers benefit. Disjointness + skip behavior pinned by
   * `TableStoreSpec`.
   */
  def atomicOverwriteClustered(table: String, df: DataFrame,
      clusterCols: Seq[String], numFiles: Int): Unit = {
    require(clusterCols.nonEmpty, "atomicOverwriteClustered needs at least one cluster column")
    require(numFiles > 0, s"numFiles must be positive: $numFiles")
    val cols = clusterCols.map(org.apache.spark.sql.functions.col)
    atomicOverwriteAs(table,
      df.repartitionByRange(numFiles, cols: _*).sortWithinPartitions(cols: _*),
      Nil, "atomicOverwriteClustered")
  }

  /**
   * Z-order (Morton-curve) clustered atomic write over TWO numeric key
   * columns: each column is min-max normalized to a `bits`-bit integer grid
   * and the bits interleaved into one z-value; files are then range-split
   * and sorted on z. Because the Morton curve preserves locality in BOTH
   * dimensions, every file covers a compact rectangle-ish region of the
   * (colA, colB) space — parquet footer min/max stats on the ORIGINAL
   * columns then skip files for selective predicates on EITHER column,
   * where a plain range-cluster ([[atomicOverwriteClustered]]) serves only
   * its leading column. The layout for a 100 TB fact table filtered
   * sometimes by customer and sometimes by order range.
   *
   * The normalization bounds come from one tiny min/max aggregation
   * (driver-side scalars, not data). Constant columns normalize to 0 and
   * the curve degrades to a 1-D range cluster on the other key.
   */
  def atomicOverwriteZOrdered(table: String, df: DataFrame, colA: String, colB: String,
      numFiles: Int, bits: Int = 16): Unit = {
    import org.apache.spark.sql.functions._
    require(numFiles > 0, s"numFiles must be positive: $numFiles")
    require(bits >= 1 && bits <= 31, s"bits must be in [1,31]: $bits")
    Seq(colA, colB).foreach { c =>
      require(df.columns.contains(c), s"atomicOverwriteZOrdered: no such column: $c")
      require(df.schema(c).dataType.isInstanceOf[org.apache.spark.sql.types.NumericType],
        s"atomicOverwriteZOrdered: $c must be numeric, is ${df.schema(c).dataType}")
    }
    val mm = df.agg(
      min(col(colA).cast("double")), max(col(colA).cast("double")),
      min(col(colB).cast("double")), max(col(colB).cast("double"))).head()
    require(!mm.anyNull, "atomicOverwriteZOrdered: empty input or all-null key column")
    val top = (1L << bits) - 1
    def gridded(c: String, lo: Double, hi: Double) =
      if (hi <= lo) lit(0L)
      else least(lit(top), greatest(lit(0L),
        floor((col(c).cast("double") - lit(lo)) / lit(hi - lo) * lit(top.toDouble)).cast("long")))
    val na = gridded(colA, mm.getDouble(0), mm.getDouble(1))
    val nb = gridded(colB, mm.getDouble(2), mm.getDouble(3))
    val z = (0 until bits).foldLeft(lit(0L)) { (acc, i) =>
      acc.bitwiseOR(shiftleft(shiftright(na, i).bitwiseAND(lit(1L)), 2 * i + 1))
        .bitwiseOR(shiftleft(shiftright(nb, i).bitwiseAND(lit(1L)), 2 * i))
    }
    val zCol = graft.ops.Ops.freshName(df.columns.toSet, "__z")
    atomicOverwriteAs(table,
      df.withColumn(zCol, z)
        .repartitionByRange(numFiles, col(zCol))
        .sortWithinPartitions(col(zCol))
        .select(df.columns.toIndexedSeq.map(col): _*),
      Nil, "atomicOverwriteZOrdered")
  }

  /** Refuse to rewrite a table whose files back a catalog-registered BUCKETED
    * definition at this store's path: a plain repartition rewrite would leave
    * non-bucket-named files under a bucket spec, failing `readBucketed` /
    * `spark.table` reads or silently invalidating the shuffle-free join
    * contract the spec advertises. Such tables must be rewritten through
    * [[writeBucketed]] so layout and metadata stay in agreement. */
  private def refuseIfCatalogBucketed(table: String, op: String): Unit = {
    val cat = spark.sessionState.catalog
    val ident = org.apache.spark.sql.catalyst.TableIdentifier(table)
    if (cat.tableExists(ident)) {
      val meta = cat.getTableMetadata(ident)
      val ours = fs.makeQualified(new Path(tablePath(table)))
      if (meta.bucketSpec.isDefined && fs.makeQualified(new Path(meta.location)) == ours)
        throw new IllegalStateException(
          s"$op('$table'): the catalog registers this path as a bucketed table " +
            s"(${meta.bucketSpec.get}); rewrite it via writeBucketed instead — " +
            "a plain rewrite would orphan the bucket spec")
    }
  }

  /** The `col=value` partition-column chain of the table's CURRENT layout
    * (outermost first; empty = unpartitioned). Pointer mode reads the
    * manifest (partition-scoped entry names, else the gen dir's subdir
    * chain); rename mode chases the live dir's subdirs. */
  private def partitionColumns(table: String): Seq[String] = {
    def chase(p: Path): Seq[String] =
      fs.listStatus(p).find(s => s.isDirectory && s.getPath.getName.contains("=")) match {
        case Some(sub) => sub.getPath.getName.split("=", 2)(0) +: chase(sub.getPath)
        case None => Nil
      }
    if (!fs.exists(new Path(tablePath(table)))) Nil
    else if (listMarkers(table).isEmpty) chase(new Path(tablePath(table)))
    else currentManifest(table) match {
      case None => Nil
      case Some((_, entries)) =>
        val (whole, parts) = entries.partition(_._1 == WholeTable)
        if (parts.nonEmpty)
          parts.head._1.split("=", 2)(0) +: chase(new Path(s"${tablePath(table)}/${parts.head._2}/${parts.head._1}"))
        else whole.headOption.map(e => chase(new Path(tablePath(table), e._2))).getOrElse(Nil)
    }
  }

  /** Small-file compaction: rewrite the table as ~`targetFiles` files with
    * an atomic swap. Append-heavy tables (streaming sinks, micro-batch
    * upserts, pure-append facts) accrete one-file-per-batch; at scale the
    * file count — not the byte count — dominates scan planning and open()
    * overhead, so
    * periodic compaction is part of the table lifecycle. Readers see the
    * old state until the single atomic publish. In pointer mode compaction
    * also folds accumulated append generations back into one. A
    * PARTITIONED layout is preserved ([[partitionColumns]]; the rewrite
    * hash-clusters on the partition chain so each partition converges to
    * ~one file) — compaction must never silently de-partition a table and
    * strand the next windowed overwrite. Catalog-bucketed tables are
    * refused ([[refuseIfCatalogBucketed]]). */
  def compact(table: String, targetFiles: Int): Unit = {
    require(targetFiles > 0, s"targetFiles must be positive: $targetFiles")
    // readEvolved, NOT read: compacting an append-evolved table through a
    // single-footer read would rewrite every file with whichever footer won
    // schema inference — silently and permanently dropping the evolved
    // column's data. The merged read makes compaction the operation that
    // HEALS a mixed-schema table into one uniform footer.
    val pcols = partitionColumns(table)
    val df = readEvolved(table)
    val compacted =
      if (pcols.isEmpty) df.repartition(targetFiles)
      else df.repartition(targetFiles,
        pcols.map(org.apache.spark.sql.functions.col): _*)
    atomicOverwriteAs(table, compacted, pcols, "compact", carryIdemKeys = true)
  }

  /** Clustered small-file compaction — [[compact]] for a range-clustered
    * table ([[atomicOverwriteClustered]] layout). Incremental appends land
    * OUTSIDE the clustered layout (a growing LSH/IVF index adds one
    * generation per ingest batch — [[graft.ext.Similarity.appendToIndex]],
    * [[graft.ext.Dedup.appendToLshIndex]]), so probe-time file skipping
    * loosens with every batch: a probe's `list IN (...)` filter still prunes
    * row groups, but every appended file must be opened. Re-clustering folds
    * all generations back into `numFiles` disjoint sorted files and restores
    * the build-time skip contract; plain [[compact]] would merge the files
    * but DESTROY the clustering (hash repartition), silently degrading every
    * later probe to a full-file read. Reads merged footers (heals evolved
    * schemas) and swaps atomically like [[compact]]. */
  def compactClustered(table: String, clusterCols: Seq[String], numFiles: Int): Unit = {
    require(clusterCols.nonEmpty, "compactClustered needs at least one cluster column")
    require(numFiles > 0, s"numFiles must be positive: $numFiles")
    val cols = clusterCols.map(org.apache.spark.sql.functions.col)
    atomicOverwriteAs(table,
      readEvolved(table).repartitionByRange(numFiles, cols: _*).sortWithinPartitions(cols: _*),
      Nil, "compactClustered", carryIdemKeys = true)
  }

  /** Data files currently reachable through `table`'s committed state —
    * the growth signal auto-compaction thresholds on. Pointer mode walks
    * the current manifest's generation dirs; rename mode the live dir.
    * Driver-side metadata listing only (no footers opened). */
  def dataFileCount(table: String): Int = {
    if (!exists(table)) return 0
    val dir = new Path(tablePath(table))
    if (pointerMode)
      currentManifest(table).toSeq.flatMap(_._2).map(_._2).distinct
        .map(g => new Path(dir, g)).filter(fs.exists(_))
        .map(listDataFiles(_).size).sum
    else listDataFiles(dir).size
  }

  /**
   * Opt-in auto-compaction for append-grown clustered tables (LSH/IVF
   * index segments): when the store was built with `autoCompactFiles > 0`
   * and `table`'s reachable data-file count exceeds it, fold the table
   * back into `numFiles` range-clustered files ([[compactClustered]] —
   * restores the build-time footer-skip layout AND carries exactly-once
   * append keys). Returns whether a compaction ran. Called by the index
   * growers ([[graft.ext.Dedup.appendToLshIndex]],
   * [[graft.ext.Similarity.appendToIndex]]) after each append, so hundreds
   * of ingest batches cannot silently degrade probe time; the threshold
   * bounds the rewrite frequency (each compaction buys `autoCompactFiles −
   * numFiles` further appends before the next).
   */
  def maybeAutoCompactClustered(table: String, clusterCols: Seq[String],
      numFiles: Int): Boolean = {
    val run = autoCompactFiles > 0 && dataFileCount(table) > autoCompactFiles
    if (run) compactClustered(table, clusterCols, numFiles)
    run
  }

  /** [[maybeAutoCompactClustered]] for unclustered append chains (the LSH
    * shingle-set table): plain [[compact]] to `targetFiles`. */
  def maybeAutoCompact(table: String, targetFiles: Int): Boolean = {
    val run = autoCompactFiles > 0 && dataFileCount(table) > autoCompactFiles
    if (run) compact(table, targetFiles)
    run
  }

  /** Partition-scoped small-file compaction — the date-partitioned form of
    * [[compact]]: rewrite ONLY the named `partCol=<day>` partitions, one
    * file per day, leaving every other partition's files untouched. The
    * shape a micro-batch CDC target needs ([[graft.streaming.EventStream]]
    * accretes a file per batch per day): a 100 TB table compacts its few
    * hot days for the cost of those days, never a full rewrite. Reads
    * merged footers like [[compact]], so compaction also heals a
    * mixed-schema day into one uniform footer. Atomic via
    * [[overwriteDatePartitions]] (same crash guarantee + writer lock). */
  def compactDatePartitions(table: String, partCol: String,
      days: Seq[java.time.LocalDate], filesPerDay: Int = 1): Unit = {
    import org.apache.spark.sql.functions.{col, lit, pmod, xxhash64}
    require(days.nonEmpty, "compactDatePartitions needs at least one day")
    require(filesPerDay > 0, s"filesPerDay must be positive: $filesPerDay")
    // hash-repartition on (day, row-content salt) into days×filesPerDay
    // tasks: each day's rows spread across ≤ filesPerDay tasks, so the
    // partitionBy write emits ≤ filesPerDay files per day and a hot day's
    // bytes stream through filesPerDay parallel writers, not one (a task
    // co-locating two days still writes each day separately). filesPerDay
    // = 1 is the tightest layout; size it to the day's volume at scale.
    val slice = readEvolved(table)
      .filter(col(partCol).isin(days.map(java.sql.Date.valueOf): _*))
    val salt = pmod(xxhash64(slice.columns.toIndexedSeq.map(col): _*), lit(filesPerDay))
    overwriteDatePartitions(table,
      slice.repartition(days.size * filesPerDay, col(partCol), salt),
      partCol, days)
  }

  /** Read a [[writeBucketed]] table with its bucket layout visible to the
    * planner. Rename mode: through the session catalog (`spark.table` — the
    * spec rides on the catalog entry; a path read would silently lose the
    * shuffle-free join property). Pointer mode: the generation's
    * `_bucketspec` sidecar is the source of truth — a per-generation
    * catalog SHIM (`CREATE TABLE … CLUSTERED BY … LOCATION <genDir>`,
    * external, session-scoped, idempotent) is rebuilt on demand, so a fresh
    * session with an empty catalog still gets the zero-Exchange plan.
    * Reading a generation that was NOT bucket-published (a plain rewrite
    * superseded the layout, or appends accumulated extra generations) fails
    * loudly instead of silently downgrading the join contract. */
  def readBucketed(table: String): DataFrame =
    if (!pointerMode) spark.table(table)
    else {
      val entries = committedEntries(table, "readBucketed")
      val gens = entries.map(_._2).distinct
      if (entries.exists(_._1 != WholeTable) || gens.size != 1)
        throw new IllegalStateException(
          s"readBucketed('$table'): current state spans ${gens.size} generation dirs — " +
            "appends/partition overwrites break the bucket layout; re-publish via writeBucketed")
      val genDir = new Path(tablePath(table), gens.head)
      val (n, bucketCol, sortCols) = loadBucketSpec(genDir).getOrElse(
        throw new IllegalStateException(
          s"readBucketed('$table'): current generation carries no _bucketspec — the table " +
            "was last published by a plain rewrite; re-publish via writeBucketed " +
            "(plain read() remains available)"))
      // shim name is generation-scoped: a new publish gets a new shim and a
      // reader pinned to an old resolution keeps its own
      val ident = s"graft_bkt_${table}_${gens.head.stripPrefix("_gen-")}"
      if (!spark.catalog.tableExists(ident)) {
        val schema = spark.read.parquet(genDir.toString).schema
        val sorted = if (sortCols.nonEmpty)
          s"SORTED BY (${sortCols.map(c => s"`$c`").mkString(", ")}) " else ""
        spark.sql(s"CREATE TABLE IF NOT EXISTS `$ident` (${schema.toDDL}) USING parquet " +
          s"CLUSTERED BY (`$bucketCol`) ${sorted}INTO $n BUCKETS LOCATION '$genDir'")
      }
      spark.table(ident)
    }

  /** Crash recovery, layout-agnostic (each pass is a no-op for the other
    * layout). Rename layout: restore `<table>` from the most recently
    * modified `.old-` dir if the live dir is missing; restore any
    * `.retired-*` partition dir whose live partition is missing
    * (partition-scoped overwrite crash); drop remaining stale
    * `.tmp-`/`.old-`/`.retired-` dirs. Pointer layout: drop partial commit
    * markers and `_gen-*` dirs no retained manifest references (a crash
    * before the marker create leaves exactly such an orphan — readers never
    * saw it). Always clears the writer lock a crashed writer left behind;
    * ONLY run recovery when no writer is live — it releases the mutual
    * exclusion. */
  def recover(table: String): Unit = recoverWith(table, orphanGraceMs = 0L)

  /** [[recover]] with an orphan-dir grace window. The explicit-`recover`
    * grace is 0 (documented: no writers live, so every unreferenced dir is
    * a crashed writer's). The STALE-LOCK BREAK path must NOT use 0: a
    * pointer-mode append writes its generation dir BEFORE taking the lock,
    * so the writer that breaks a crashed peer's lock has its own fresh
    * uncommitted dir on disk — a grace-0 sweep would reap it and fail the
    * very append that healed the table (observed in the TTL stress of
    * BASELINE.md, "store concurrency stress"). The crashed peer's leftover
    * is older than the TTL by definition, so the TTL-sized grace still
    * reclaims it. */
  private def recoverWith(table: String, orphanGraceMs: Long): Unit = {
    val f = fs
    val live = new Path(tablePath(table))
    val parent = new Path(root)
    if (!f.exists(parent)) return
    f.delete(new Path(tablePath(table) + ".lock"), false) // stale writer lock
    val leftovers = f.listStatus(parent)
      .filter(s => s.getPath.getName.startsWith(s"$table.tmp-") ||
        s.getPath.getName.startsWith(s"$table.old-"))
    if (!f.exists(live)) {
      // newest retired snapshot by modification time, NOT by name (nonces
      // are random — lexicographic order would restore an arbitrary one)
      val olds = leftovers.filter(_.getPath.getName.startsWith(s"$table.old-"))
        .sortBy(_.getModificationTime)
      olds.lastOption.foreach(o => f.rename(o.getPath, live))
    }
    leftovers.map(_.getPath).filter(p => f.exists(p) && p != live).foreach(f.delete(_, true))
    if (f.exists(live)) {
      // partition-scoped crash: .retired-<nonce>-<partCol>=<day> inside the table dir
      f.listStatus(live).map(_.getPath).filter(_.getName.startsWith(".retired-")).foreach { r =>
        val partName = r.getName.replaceFirst("^\\.retired-[^-]+-", "")
        val target = new Path(live, partName)
        if (!f.exists(target)) f.rename(r, target) else f.delete(r, true)
      }
      // pointer layout: drop partial markers AND complete markers whose
      // referenced dirs are missing (the lock-break race footprint — readers
      // already skip them, recovery retires them permanently), then orphaned
      // generation dirs
      val markers = listMarkers(table)
      if (markers.nonEmpty) {
        markers.foreach { case (_, p) =>
          parseManifest(p) match {
            case None => deleteMarker(p)
            case Some(entries) if !manifestDirsExist(table, entries) => deleteMarker(p)
            case _ => ()
          }
        }
        // grace 0 only for explicit recover (no writers live); the
        // lock-break path passes the TTL so the breaking writer's own
        // in-flight dir survives — see [[recoverWith]]
        cleanupGenerations(table, orphanGraceMs = orphanGraceMs)
      }
    }
  }
}

object TableStore {
  /** Stale-lock TTL: a writer lock older than this is presumed crashed and
    * self-heals. Must exceed the longest expected single rewrite. */
  val DefaultLockTtlMs: Long = 30L * 60 * 1000
  /** How long [[TableStore.append]] waits for the writer lock before
    * failing (appends serialize; rewrites fail fast instead). */
  val DefaultAppendWaitMs: Long = 30L * 1000
  /** Pointer-mode retention: how many committed generations (markers + the
    * gen dirs they reference) survive cleanup. 2 = current + previous, the
    * minimum that keeps an in-flight reader's resolved generation alive
    * across one publish; raise it to widen the [[TableStore.readGeneration]]
    * time-travel window at the cost of retained storage. */
  val DefaultKeepGenerations: Int = 2
}
