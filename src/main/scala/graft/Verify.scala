package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. Dumps are
  * `.coalesce(1)` — gate-only at sf0.01; a production-scale dump would
  * serialize through one task (use TableStore for real writes). */
object Verify {

  /** Known-good physical types for gated dumps. Anything outside this set —
    * above all legacy INT96 timestamps (what LTZ `date_trunc` day keys used
    * to write, the 3-round hash-red root cause) or a non-NTZ / non-micros
    * timestamp annotation — fails the query loudly HERE instead of
    * surfacing as an opaque driver hash mismatch a round later. */
  private[graft] def assertBoringPhysicalTypes(dir: String, name: String): Unit = {
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
    import org.apache.parquet.schema.LogicalTypeAnnotation
    import org.apache.parquet.schema.LogicalTypeAnnotation.TimeUnit
    val parts = new java.io.File(s"$dir/$name").listFiles()
      .filter(f => f.getName.endsWith(".parquet"))
    require(parts.nonEmpty, s"$name: dump directory holds no parquet part files")
    parts.foreach { f =>
      val reader = ParquetFileReader.open(HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(f.getPath), new org.apache.hadoop.conf.Configuration()))
      try reader.getFooter.getFileMetaData.getSchema.getColumns.forEach { cd =>
        val pt = cd.getPrimitiveType
        val path = cd.getPath.mkString(".")
        require(pt.getPrimitiveTypeName != PrimitiveTypeName.INT96,
          s"$name/$path: legacy INT96 timestamp written — cast the column to timestamp_ntz")
        pt.getLogicalTypeAnnotation match {
          case t: LogicalTypeAnnotation.TimestampLogicalTypeAnnotation =>
            require(!t.isAdjustedToUTC && t.getUnit == TimeUnit.MICROS,
              s"$name/$path: timestamp written as ${t} — gate dumps must be micros-NTZ")
          case _ => ()
        }
      } finally reader.close()
    }
  }

  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    // one source of session truth (graft.io.Sessions): nanosAsLong for the
    // ns-timestamp events fixture, UTC, AQE on — same settings as Main/tests
    val spark = graft.io.Sessions.builder(s"local[$cpus]", cpus.toInt).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // local-iteration subset (comma-separated query names); the driver never
    // sets this, so the gate itself always runs the full surface
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(',').map(_.trim).toSet)
    def selected(name: String) = only.forall(_.contains(name))
    // a leaked SPARK_GRAFT_ONLY must never masquerade as a full gate run:
    // banner on stderr AND a stamp file in the artifact dir, so both the
    // console log and the dump directory say the surface was narrowed
    only.foreach { names =>
      val banner = s"SUBSET RUN: SPARK_GRAFT_ONLY narrowed the gate to " +
        s"${names.size} quer${if (names.size == 1) "y" else "ies"}: " +
        names.toSeq.sorted.mkString(", ")
      System.err.println(s"[verify] $banner")
      Files.writeString(Paths.get(s"$outDir/SUBSET_RUN.txt"), banner + "\n")
    }
    if (only.isEmpty) // a stale stamp from a previous subset run in a reused
      Files.deleteIfExists(Paths.get(s"$outDir/SUBSET_RUN.txt")) // outDir lies
    SparkEntry.queries.filter(kv => selected(kv._1)).foreach { case (name, fn) =>
      // an earlier run's dump in a reused outDir must not outlive a gate
      // that now fails: the checker would score the stale dump as ok
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(s"$outDir/$name"))
      try {
        fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        assertBoringPhysicalTypes(outDir, name)
      } catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      } finally graft.ext.Dedup.unpersistAll() // no cache leaks across queries
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql.filter(kv => selected(kv._1))
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
