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

  test("no iterative operator leaks a round: unpersistAll leaves nothing the call persisted") {
    val sc = spark.sparkContext
    // RDDs the operator persisted that survive its consumption + unpersistAll
    def leftover(run: => Unit): Int = {
      val before = sc.getPersistentRDDs.keySet
      run
      Dedup.unpersistAll()
      (sc.getPersistentRDDs.keySet.toSet -- before).size
    }
    // c is dangling (the rank loops run their mass job); d reaches a, b, c
    val edges = Seq(("a", "b", 3.0), ("a", "c", 1.0), ("b", "a", 1.0),
      ("b", "c", 1.0), ("d", "a", 2.0)).toDF("s", "t", "w")
    val seeds = Seq("d").toDF("id")
    val chain = (0L until 64L).map(i => (i, i + 1)).toDF("a", "b")
    val docs = Seq((1, "low lower lowest slow"), (2, "newer newest wider low"))
      .toDF("id", "text")
    val counts = Seq[(String, () => Unit)](
      "pageRank" -> (() => Graphs.pageRank(edges, "s", "t", 5, weightCol = Some("w"),
        localEdgeLimit = 0L).collect()),
      "trustRank" -> (() => Graphs.trustRank(edges, "s", "t", seeds, "id", 5,
        weightCol = Some("w"), localEdgeLimit = 0L).collect()),
      "hits" -> (() => Graphs.hits(edges, "s", "t", 5, Some("w"), localEdgeLimit = 0L).collect()),
      "labelPropagation" -> (() => Graphs.labelPropagation(edges, "s", "t", 3, Some("w"),
        localEdgeLimit = 0L).collect()),
      "seededDistances" -> (() => Graphs.seededDistances(edges, "s", "t", seeds, "id", 4,
        localEdgeLimit = 0L).collect()),
      "kCore" -> (() => Graphs.kCore(edges, "s", "t", k = 2, rounds = 3).collect()),
      "connectedComponents" -> (() => Dedup.connectedComponents(chain, "a", "b",
        localEdgeLimit = 0L).collect()),
      "connectedComponents throwing" -> (() => intercept[IllegalStateException](
        Dedup.connectedComponents(chain, "a", "b", maxIter = 1, localEdgeLimit = 0L))),
      "bpeTrain" -> (() => TextAnalysis.bpeTrain(docs, "id", "text", 6,
        checkpointEvery = 2).collect())
    ).map { case (name, run) => name -> leftover(run()) }
    assert(counts.forall(_._2 == 0), s"persisted RDDs left per operator: ${counts.mkString(", ")}")
  }
}
