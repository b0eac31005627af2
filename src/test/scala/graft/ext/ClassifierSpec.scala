package graft.ext

import graft.TestSpark
import org.scalatest.funsuite.AnyFunSuite

class ClassifierSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def toyCorpus = (0 until 40).map { i =>
    if (i % 2 == 0) (i.toLong, "good clean prose text", 1)
    else (i.toLong, "spam junk noise garbage", 0)
  }.toDF("doc_id", "text", "label")

  test("hashedFeatures: normalized counts, bias slot, NULL text absent") {
    val docs = Seq((1L, "a a b"), (2L, null.asInstanceOf[String])).toDF("doc_id", "text")
    val f = Classifier.hashedFeatures(docs, "doc_id", "text", 8)
      .as[(Long, Seq[Double])].collect().toMap
    assert(f.keySet == Set(1L)) // NULL text emits no features
    val v = f(1L)
    assert(v.length == 9 && v.last == 1.0) // dim + bias
    assert(math.abs(v.sum - (1.0 + 1.0)) < 1e-12) // counts sum to 1 + bias 1
    assert(v.count(_ > 0) <= 3) // at most two token slots + bias
  }

  test("trainLogistic separates a separable toy corpus; scores order correctly") {
    val feats = Classifier.hashedFeatures(toyCorpus, "doc_id", "text", 32)
      .join(toyCorpus.select("doc_id", "label"), Seq("doc_id"))
    val model = Classifier.trainLogistic(feats, "label", steps = 30, learningRate = 5.0)
    Dedup.unpersistAll()
    assert(model.trainAccuracy == 1.0, s"separable corpus must fit: ${model.trainAccuracy}")
    assert(model.trainLogLoss < 0.5, s"loss should have dropped: ${model.trainLogLoss}")
    val scores = Classifier.score(
      Classifier.hashedFeatures(toyCorpus, "doc_id", "text", 32), model, "doc_id")
      .join(toyCorpus.select("doc_id", "label"), Seq("doc_id"))
      .select("label", "score").as[(Int, Double)].collect()
    val pos = scores.filter(_._1 == 1).map(_._2).min
    val neg = scores.filter(_._1 == 0).map(_._2).max
    assert(pos > 0.5 && neg < 0.5, s"scores must separate at 0.5: min-pos $pos, max-neg $neg")
  }

  test("adam + diagonal preconditioning separates the toy corpus in few steps") {
    val feats = Classifier.hashedFeatures(toyCorpus, "doc_id", "text", 32)
      .join(toyCorpus.select("doc_id", "label"), Seq("doc_id"))
    val model = Classifier.trainLogistic(feats, "label", steps = 12,
      learningRate = 0.3, optimizer = "adam")
    Dedup.unpersistAll()
    assert(model.trainAccuracy == 1.0,
      s"separable corpus must fit in 12 adam steps: ${model.trainAccuracy}")
  }

  test("sampled-step mode: deterministic (same slices, same model) and still fits") {
    // 400 docs so a 500-permille slice holds ~200 docs per step — enough
    // gradient SNR for the toy problem
    val corpus = (0 until 400).map { i =>
      if (i % 2 == 0) (i.toLong, "good clean prose text", 1)
      else (i.toLong, "spam junk noise garbage", 0)
    }.toDF("doc_id", "text", "label")
    def train() = {
      val feats = Classifier.hashedFeatures(corpus, "doc_id", "text", 32)
        .join(corpus.select("doc_id", "label"), Seq("doc_id"))
      val m = Classifier.trainLogistic(feats, "label", steps = 12,
        learningRate = 0.3, samplePermille = 500, optimizer = "adam")
      Dedup.unpersistAll()
      m
    }
    val (a, b) = (train(), train())
    assert(a.trainAccuracy == 1.0, s"sampled adam must still fit: ${a.trainAccuracy}")
    // hash-selected slices carry no RNG state: training twice is bit-stable
    assert(a.weights.sameElements(b.weights), "sampled training must be deterministic")
    // final metrics are full-batch even in sampled mode: with a perfectly
    // duplicated corpus any sub-batch metric would also be 1.0, so pin the
    // log-loss too (identical across the two runs => measured on the same
    // full batch with the same weights)
    assert(a.trainLogLoss == b.trainLogLoss)
  }

  test("newton (IRLS) fits the toy corpus in 4 steps and beats adam's loss") {
    val feats = Classifier.hashedFeatures(toyCorpus, "doc_id", "text", 32)
      .join(toyCorpus.select("doc_id", "label"), Seq("doc_id"))
    val model = Classifier.trainLogistic(feats, "label", steps = 4,
      learningRate = 0.3, optimizer = "newton")
    Dedup.unpersistAll()
    assert(model.trainAccuracy == 1.0,
      s"separable corpus must fit in 3 newton iterations: ${model.trainAccuracy}")
    assert(model.trainLogLoss < 0.1, s"newton loss: ${model.trainLogLoss}")
    // the dim² guard: high-dim hashing models must refuse the gram path
    val wide = Classifier.hashedFeatures(toyCorpus, "doc_id", "text", 4096)
      .join(toyCorpus.select("doc_id", "label"), Seq("doc_id"))
    val e = intercept[IllegalArgumentException](
      Classifier.trainLogistic(wide, "label", steps = 4, learningRate = 0.3,
        optimizer = "newton"))
    Dedup.unpersistAll()
    assert(e.getMessage.contains("dim"), e.getMessage)
  }

  test("auto optimizer routes on the measured dim crossover; wide models leave the gram path") {
    // moderate dim → the IRLS path, with the caller's steps
    val feats = Classifier.hashedFeatures(toyCorpus, "doc_id", "text", 32)
      .join(toyCorpus.select("doc_id", "label"), Seq("doc_id"))
    val small = Classifier.trainLogistic(feats, "label", steps = 4,
      learningRate = 0.3, samplePermille = 0, optimizer = "auto")
    Dedup.unpersistAll()
    assert(small.optimizerUsed == "newton",
      s"dim 33 is far below the crossover: ${small.optimizerUsed}")
    assert(small.steps == 4 && small.trainAccuracy == 1.0)
    // the bounds are measurement-derived constants (BASELINE.md round 20:
    // newton 24.3 s vs sampled-adam 45.3 s at 30x/dim 129 → dim* ≈ 240);
    // a silent move invalidates that evidence
    assert(Classifier.NewtonAutoMaxDim == 200 &&
      Classifier.NewtonSmallCorpusRows == 20000L,
      "crossover bounds moved — re-derive the 30x fork evidence before accepting")
    // a wide hashing model must route off the dim² gram even on a corpus
    // small enough for the job-overhead carve-out (4096 > the hard 2048)
    val wide = Classifier.hashedFeatures(toyCorpus, "doc_id", "text", 4096)
      .join(toyCorpus.select("doc_id", "label"), Seq("doc_id"))
    val wideModel = Classifier.trainLogistic(wide, "label", steps = 2,
      learningRate = 0.3, samplePermille = 0, optimizer = "auto")
    Dedup.unpersistAll()
    assert(wideModel.optimizerUsed == "adam",
      s"dim 4097 must refuse the gram path under auto: ${wideModel.optimizerUsed}")
    // auto's adam branch converts steps by the ~7x equivalence (floor 40)
    assert(wideModel.steps == 40, s"adam branch steps: ${wideModel.steps}")
  }

  test("training accuracy is partitioning-stable") {
    def acc(parts: Int): Double = {
      val c = toyCorpus.repartition(parts)
      val feats = Classifier.hashedFeatures(c, "doc_id", "text", 32)
        .join(c.select("doc_id", "label"), Seq("doc_id"))
      val m = Classifier.trainLogistic(feats, "label", steps = 15, learningRate = 5.0)
      Dedup.unpersistAll()
      m.trainAccuracy
    }
    assert(acc(1) == acc(11))
  }
}
