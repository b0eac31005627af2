package graft.io

import graft.TestSpark
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class TablesSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("load normalizes every ts representation to identical micros-NTZ values") {
    // the r13 environment lesson, pinned batch-side: the SAME events must
    // load identically whether the parquet carries ts as ns-epoch int64,
    // µs TIMESTAMP (LTZ), or µs TIMESTAMP_NTZ — a regenerated fixture must
    // never shift values or types
    val canonical = Tables.load(spark, TestSpark.Sf0001, "events").limit(100)
    assert(canonical.schema("ts").dataType ==
      org.apache.spark.sql.types.TimestampNTZType)
    def staged(write: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame)
        : Set[(Long, java.time.LocalDateTime)] = {
      val d = TestSpark.tempDir("graft-tables-rep")
      write(canonical.select(col("event_id"), col("ts")))
        .write.parquet(s"$d/events.parquet")
      Tables.load(spark, d.toString, "events")
        .select("event_id", "ts").as[(Long, java.time.LocalDateTime)].collect().toSet
    }
    val fromNs = staged(df => df.withColumn("ts",
      unix_micros(col("ts").cast("timestamp")) * 1000))
    val fromLtz = staged(df => df.withColumn("ts", col("ts").cast("timestamp")))
    val fromNtz = staged(identity)
    val expect = canonical.select(col("event_id"), col("ts"))
      .as[(Long, java.time.LocalDateTime)].collect().toSet
    assert(expect.nonEmpty)
    assert(fromNs == expect, "ns-long staging diverged")
    assert(fromLtz == expect, "LTZ-micros staging diverged")
    assert(fromNtz == expect, "NTZ staging diverged")
    // an unreadable representation refuses loudly, naming the type
    val d = TestSpark.tempDir("graft-tables-bad")
    canonical.withColumn("ts", col("ts").cast("string"))
      .write.parquet(s"$d/events.parquet")
    val e = intercept[IllegalArgumentException](Tables.load(spark, d.toString, "events"))
    assert(e.getMessage.contains("unsupported events.ts representation"), e.getMessage)
  }
}
