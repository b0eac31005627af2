package graft.ext

import graft.TestSpark
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class CachesSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("trackCheckpoint is durable under a checkpoint dir, local without; one input run either way") {
    val ns = spark.newSession() // static plans (see TestSpark.jobsScanning)
    ns.conf.set("spark.sql.adaptive.enabled", "false")
    val path = TestSpark.tempDir("graft-caches-ckpt").resolve("in").toString
    spark.range(200).select(col("id"), (col("id") % 7).as("g")).write.parquet(path)
    // a fresh frame per call: a reused one would also reuse its shuffle output
    def in = ns.read.parquet(path).repartition(3, col("g"))
    val expect = (0L until 200L).map(i => (i, i % 7)).toSet
    val sc = spark.sparkContext
    assert(sc.getCheckpointDir.isEmpty, "fixture assumes no ambient checkpoint dir")
    val dir = TestSpark.tempDir("graft-caches-dur").toString
    def checkpointed(): (org.apache.spark.sql.DataFrame, Int) = {
      var out: Option[org.apache.spark.sql.DataFrame] = None
      val (_, scans) = TestSpark.jobsScanning(path) { out = Some(Caches.trackCheckpoint(in)) }
      (out.get, scans)
    }
    sc.setCheckpointDir(dir)
    try {
      val (durable, scans) = checkpointed()
      assert(scans == 1, s"the durable checkpoint ran its input $scans times")
      assert(Caches.checkpointRdd(durable).get.getCheckpointFile.isDefined, "not a durable checkpoint")
      assert(durable.as[(Long, Long)].collect().toSet == expect)
    } finally {
      sc.setCheckpointDir(null) // restore the single-box default for every other suite
      Dedup.unpersistAll()
    }
    val (local, scans) = checkpointed()
    assert(scans == 1, s"the local checkpoint ran its input $scans times")
    val rdd = Caches.checkpointRdd(local).get
    assert(rdd.getCheckpointFile.isEmpty && sc.getPersistentRDDs.contains(rdd.id))
    assert(local.as[(Long, Long)].collect().toSet == expect)
    Dedup.unpersistAll()
    assert(!sc.getPersistentRDDs.contains(rdd.id), "unpersistAll kept the local checkpoint")
  }
}
