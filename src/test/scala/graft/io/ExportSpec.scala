package graft.io

import graft.TestSpark
import org.scalatest.funsuite.AnyFunSuite

class ExportSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("jsonlShards: record cap splits shards; hostile strings round-trip; gzip reads back") {
    // strings that stress JSON escaping: quotes, backslashes, newlines,
    // unicode, tabs — plus NULLs in both column types
    val rows = Seq(
      (1L, """he said "hi" \ bye"""),
      (2L, "line1\nline2\ttabbed"),
      (3L, "unicode: é中文 😀"),
      (4L, null.asInstanceOf[String]),
      (5L, "")) ++ (6L to 25L).map(i => (i, s"filler $i"))
    val df = rows.toDF("id", "text")
    val dir = TestSpark.tempDir("export-spec").toString + "/out"
    Export.jsonlShards(df.repartition(1), dir, maxRecordsPerShard = 10)
    val files = new java.io.File(dir).listFiles().filter(_.getName.endsWith(".json"))
    assert(files.length >= 3, s"25 rows at cap 10 must roll >= 3 shards: ${files.length}")
    val back = Export.readJsonl(spark, dir, df.schema)
      .as[(Long, Option[String])].collect().toSet
    assert(back == rows.map { case (i, t) => (i, Option(t)) }.toSet)
    // gzip variant round-trips identically
    val gzDir = TestSpark.tempDir("export-spec-gz").toString + "/out"
    Export.jsonlShards(df, gzDir, 10, compression = Some("gzip"))
    assert(new java.io.File(gzDir).listFiles().exists(_.getName.endsWith(".json.gz")))
    val backGz = Export.readJsonl(spark, gzDir, df.schema)
      .as[(Long, Option[String])].collect().toSet
    assert(backGz == back)
  }

  test("csvShards: RFC-4180 dialect round-trips hostile strings; null != empty; TSV variant") {
    // CSV's classic fidelity traps: embedded delimiters, doubled quotes,
    // quoted newlines (multiLine read), the \N-vs-empty-string distinction,
    // unicode, and a field that literally starts with the quote char
    val rows = Seq(
      (1L, """he said "hi", then "bye""""),
      (2L, "line1\nline2,with,commas"),
      (3L, "unicode: é中文 😀"),
      (4L, null.asInstanceOf[String]),
      (5L, ""),
      (6L, "\"leading quote"),
      (7L, "trailing backslash \\")) ++ (8L to 25L).map(i => (i, s"filler $i"))
    val df = rows.toDF("id", "text")
    val dir = TestSpark.tempDir("export-csv").toString + "/out"
    Export.csvShards(df.repartition(1), dir, maxRecordsPerShard = 10)
    val files = new java.io.File(dir).listFiles().filter(_.getName.endsWith(".csv"))
    assert(files.length >= 3, s"25 rows at cap 10 must roll >= 3 shards: ${files.length}")
    val back = Export.readCsv(spark, dir, df.schema)
      .as[(Long, Option[String])].collect().toSet
    assert(back == rows.map { case (i, t) => (i, Option(t)) }.toSet,
      s"CSV round-trip diverged: ${back.toSeq.sortBy(_._1).take(8)}")
    // the dialect on the wire is RFC 4180: doubled quotes, not backslashes
    val raw = files.toSeq.flatMap(f =>
      scala.io.Source.fromFile(f, "UTF-8").getLines().toList)
    assert(raw.exists(_.contains("\"\"hi\"\"")), "embedded quotes must be doubled on the wire")
    // gzip + tab-delimited variant round-trips identically
    val tsvDir = TestSpark.tempDir("export-tsv").toString + "/out"
    Export.csvShards(df, tsvDir, 10, compression = Some("gzip"), delimiter = "\t")
    assert(new java.io.File(tsvDir).listFiles().exists(_.getName.endsWith(".csv.gz")))
    val backTsv = Export.readCsv(spark, tsvDir, df.schema, delimiter = "\t")
      .as[(Long, Option[String])].collect().toSet
    assert(backTsv == back)
  }

  test("orcShards: timestamps and doubles round-trip bit-identically; shards roll; zstd") {
    import org.apache.spark.sql.functions._
    // micros-NTZ timestamps (incl. a sub-millisecond value), NaN/negative
    // doubles, NULLs — the values cross-format round-trips classically lose
    val df = spark.range(25)
      .select(col("id"),
        when(col("id") === 4, lit(null).cast("timestamp_ntz"))
          .otherwise(timestamp_micros(lit(1700000000000123L) + col("id"))
            .cast("timestamp_ntz")).as("ts"),
        when(col("id") === 5, lit(Double.NaN))
          .when(col("id") === 6, lit(null).cast("double"))
          .otherwise(col("id") * -1.5e-7).as("v"))
    val dir = TestSpark.tempDir("export-orc").toString + "/out"
    Export.orcShards(df.repartition(1), dir, maxRecordsPerShard = 10,
      compression = Some("zstd"))
    val files = new java.io.File(dir).listFiles().filter(_.getName.endsWith(".orc"))
    assert(files.length >= 3, s"25 rows at cap 10 must roll >= 3 shards: ${files.length}")
    val back = Export.readOrc(spark, dir)
    // nullability is metadata, not a value type (file formats relax it);
    // the VALUE types must survive exactly
    assert(back.schema.fields.map(f => (f.name, f.dataType)).toSeq ==
      df.schema.fields.map(f => (f.name, f.dataType)).toSeq,
      s"ORC footer must preserve value types exactly: ${back.schema} vs ${df.schema}")
    val a = df.orderBy("id").collect().toSeq
    val b = back.orderBy("id").collect().toSeq
    assert(a.zip(b).forall { case (x, y) => x == y }, s"value drift: ${a.diff(b).take(3)}")
  }

  test("WET: byte-exact round-trip of multibyte + blank-line content; raw-stream dialects") {
    // the two killers of line-based WET parsers: multi-byte UTF-8 (byte
    // Content-Length != char count) and a BLANK LINE inside the content
    // (indistinguishable from the header terminator without byte framing)
    val rows = Seq(
      ("u:1", "2024-01-01T00:00:00Z", "en", "plain ascii text"),
      ("u:2", "2024-01-01T00:00:00Z", "zh", "多字节 é 😀 content"),
      ("u:3", "2024-01-01T00:00:00Z", null.asInstanceOf[String],
        "para one\n\npara two after a blank line"),
      ("u:4", "2024-01-01T00:00:00Z", "de", ""))
    val df = rows.toDF("uri", "wdate", "lang", "text")
    val dir = TestSpark.tempDir("export-wet").toString + "/out"
    Warc.writeWet(df, dir, "uri", "wdate", "lang", "text", maxRecordsPerShard = 2)
    assert(new java.io.File(dir).listFiles().exists(_.getName.endsWith(".txt.gz")))
    val back = Warc.readWet(spark, dir)
      .as[(String, String, Option[String], String)].collect().toSet
    assert(back == rows.map { case (u, d2, l, t) => (u, d2, Option(l), t) }.toSet,
      s"WET round-trip diverged: $back")
    // hand-framed raw streams: CRLF and bare-LF header dialects both parse
    def stream(nl: String): Array[Byte] = {
      val body = "héllo\n\nwörld" // 14 chars, 16 UTF-8 bytes
      val len = body.getBytes("UTF-8").length
      (s"WARC/1.0${nl}WARC-Target-URI: u:x${nl}Content-Length: $len$nl$nl" +
        body + nl + nl).getBytes("UTF-8")
    }
    Seq("\r\n", "\n").foreach { nl =>
      val rec = Warc.parseWetStream("test", stream(nl)).toSeq
      assert(rec.map(r => (r.uri, r.text)) == Seq(("u:x", "héllo\n\nwörld")),
        s"dialect '$nl' mis-framed: $rec")
    }
    // a truncated stream fails loudly with position info, never silently drops
    val truncated = stream("\r\n").dropRight(8)
    val e = intercept[IllegalArgumentException](
      Warc.parseWetStream("test", truncated).toSeq)
    assert(e.getMessage.contains("overruns"), e.getMessage)
  }
}
