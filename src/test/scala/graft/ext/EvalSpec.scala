package graft.ext

import graft.TestSpark
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class EvalSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("aucBinary: hand-computed values, including midranks for ties") {
    // perfect separation
    val perfect = Seq((1.0, false, 1L), (2.0, false, 2L), (3.0, true, 3L), (4.0, true, 4L))
      .toDF("s", "y", "id")
    val p = Eval.aucBinary(perfect, col("s"), col("y"), col("id")).head()
    assert(p.getAs[Long]("n_pos") == 2 && p.getAs[Long]("n_neg") == 2)
    assert(p.getAs[Double]("auc") == 1.0)

    // perfectly inverted
    val inv = Eval.aucBinary(perfect, col("s"), !col("y"), col("id")).head()
    assert(inv.getAs[Double]("auc") == 0.0)

    // ties across classes: scores 1,2,2,3 with labels 0,0,1,1.
    // ranks: 1, midrank 2.5, midrank 2.5, 4 → R+ = 2.5 + 4 = 6.5,
    // AUC = (6.5 − 2·3/2) / (2·2) = 3.5/4 = 0.875
    val tied = Seq((1.0, false, 1L), (2.0, false, 2L), (2.0, true, 3L), (3.0, true, 4L))
      .toDF("s", "y", "id")
    val t = Eval.aucBinary(tied, col("s"), col("y"), col("id")).head()
    assert(t.getAs[Double]("auc") == 0.875)

    // all-tied scores → AUC exactly 0.5 regardless of labels
    val flat = Seq((7.0, false, 1L), (7.0, true, 2L), (7.0, false, 3L), (7.0, true, 4L))
      .toDF("s", "y", "id")
    assert(Eval.aucBinary(flat, col("s"), col("y"), col("id"))
      .head().getAs[Double]("auc") == 0.5)

    // null scores are excluded, not counted in either class
    val withNull = Seq((Some(1.0), false, 1L), (None, true, 2L), (Some(2.0), true, 3L))
      .toDF("s", "y", "id")
    val n = Eval.aucBinary(withNull, col("s"), col("y"), col("id")).head()
    assert(n.getAs[Long]("n_pos") == 1 && n.getAs[Long]("n_neg") == 1)
    assert(n.getAs[Double]("auc") == 1.0)
  }

  test("aucBinary: single-class input raises instead of emitting NaN/Infinity") {
    // AUC is undefined without both classes — the guard must fire loudly
    // (the ksStatistic posture), never divide to NaN (r17 advice)
    val allPos = Seq((1.0, true, 1L), (2.0, true, 2L)).toDF("s", "y", "id")
    intercept[Exception](Eval.aucBinary(allPos, col("s"), col("y"), col("id")).head())
    val allNeg = Seq((1.0, false, 1L), (2.0, false, 2L)).toDF("s", "y", "id")
    intercept[Exception](Eval.aucBinary(allNeg, col("s"), col("y"), col("id")).head())
    // empty scored input (all scores NULL) raises too, not a NULL-sum row
    val empty = Seq((Option.empty[Double], true, 1L)).toDF("s", "y", "id")
    intercept[Exception](Eval.aucBinary(empty, col("s"), col("y"), col("id")).head())
  }

  test("calibrationBins: bin edges, clamping, exact means") {
    // max = 10 → score = v/10; v=10 lands in the clamped top bin
    val df = Seq((1.0, false), (1.5, false), (5.0, true), (10.0, true))
      .toDF("v", "y")
    val bins = Eval.calibrationBins(df, col("v"), col("y"), bins = 10)
      .orderBy("bin").collect()
    assert(bins.map(_.getAs[Int]("bin")).toSeq == Seq(1, 5, 9))
    val b1 = bins(0)
    assert(b1.getAs[Long]("n") == 2)
    // mean_score = ((1.0+1.5)/2)/10 = 0.125
    assert(b1.getAs[Double]("mean_score") == 0.125)
    assert(b1.getAs[Double]("frac_pos") == 0.0)
    assert(bins(2).getAs[Double]("frac_pos") == 1.0)
    assert(bins(2).getAs[Double]("mean_score") == 1.0)

    // a dead scorer (all-zero scores → max = 0) refuses loudly instead of
    // silently piling NaN rows into bin 0
    val dead = Seq((0.0, true), (0.0, false)).toDF("v", "y")
    intercept[Exception](
      Eval.calibrationBins(dead, col("v"), col("y")).collect())
  }

  test("classificationReport: hand-computed P/R/F1, absent-class NULLs, never-predicted class") {
    // gold a×4 (3 right, 1 → b), gold b×2 (1 right, 1 → c), gold c×1 (→ a)
    val pairs = Seq(("a", "a"), ("a", "a"), ("a", "a"), ("a", "b"),
      ("b", "b"), ("b", "c"), ("c", "a")).toDF("g", "p")
    val rep = Eval.classificationReport(pairs, col("g"), col("p"))
      .collect().map(r => r.getAs[String]("label") -> r).toMap
    val a = rep("a")
    // a: tp=3, n_gold=4, n_pred=4 → P=0.75 R=0.75 F1=2·3/8=0.75
    assert(a.getAs[Long]("tp") == 3 && a.getAs[Long]("n_gold") == 4 &&
      a.getAs[Long]("n_pred") == 4)
    assert(a.getAs[Double]("precision") == 0.75 &&
      a.getAs[Double]("recall") == 0.75 && a.getAs[Double]("f1") == 0.75)
    // b: tp=1, n_gold=2, n_pred=2 → 0.5 across the board
    assert(rep("b").getAs[Double]("f1") == 0.5)
    // c: tp=0, n_gold=1, n_pred=1 → all-zero ratios, defined (supports > 0)
    val cRow = rep("c")
    assert(cRow.getAs[Long]("tp") == 0 && cRow.getAs[Double]("f1") == 0.0)
    // a label only ever PREDICTED (never gold): recall undefined → NULL
    val skew = Seq(("x", "y"), ("x", "x")).toDF("g", "p")
    val yRow = Eval.classificationReport(skew, col("g"), col("p"))
      .collect().map(r => r.getAs[String]("label") -> r).toMap.apply("y")
    assert(yRow.getAs[Long]("n_gold") == 0)
    assert(yRow.isNullAt(yRow.fieldIndex("recall")))
    assert(yRow.getAs[Double]("precision") == 0.0)
  }

  test("rankAgreement: perfect/reversed/mixed tau, head cut, validation") {
    // one group, scores aligned: s2 = s1 → tau = 1
    val aligned = Seq((1L, 40.0, 4.0), (2L, 30.0, 3.0), (3L, 20.0, 2.0), (4L, 10.0, 1.0))
      .map { case (i, a, b) => ("g", i, a, b) }.toDF("g", "id", "s1", "s2")
    def tau(df: org.apache.spark.sql.DataFrame, head: Int = 50): (Long, Long, Double) = {
      val r = Eval.rankAgreement(df, col("g"), col("s1"), col("s2"), col("id"), head).head()
      (r.getAs[Long]("n_pairs"), r.getAs[Long]("concordant"), r.getAs[Double]("tau"))
    }
    assert(tau(aligned) == (6L, 6L, 1.0))
    // reversed: s2 = −s1 → tau = −1
    val reversed = aligned.withColumn("s2", -col("s2"))
    assert(tau(reversed) == (6L, 0L, -1.0))
    // one swap in 4: rank2 = 1,2,4,3 → discordant pair (3,4) only →
    // tau = (2·5 − 6)/6 = 0.666667
    val swapped = Seq(("g", 1L, 40.0, 4.0), ("g", 2L, 30.0, 3.0),
      ("g", 3L, 20.0, 1.0), ("g", 4L, 10.0, 2.0)).toDF("g", "id", "s1", "s2")
    assert(tau(swapped) == (6L, 5L, 0.666667))
    // head cut: head=2 keeps the top-2 by s1 only → 1 pair
    assert(tau(swapped, head = 2) == (1L, 1L, 1.0))
    intercept[IllegalArgumentException](
      Eval.rankAgreement(aligned, col("g"), col("s1"), col("s2"), col("id"), 1))
    intercept[IllegalArgumentException](
      Eval.rankAgreement(aligned, col("g"), col("s1"), col("s2"), col("id"), 1001))
  }

  test("cohensKappa: textbook 2x2 case and degenerate perfect agreement") {
    // cells: (a,a)=45 (a,b)=15 (b,a)=5 (b,b)=35 → pred margins a=60 b=40,
    // gold margins a=50 b=50, diag=80 → p_o=0.8,
    // p_e=(60·50+40·50)/10000=0.5, κ=(0.8−0.5)/(1−0.5)=0.6
    val tb = Seq.fill(45)(("a", "a")) ++ Seq.fill(15)(("a", "b")) ++
      Seq.fill(5)(("b", "a")) ++ Seq.fill(35)(("b", "b"))
    val k = Eval.cohensKappa(tb.toDF("p", "g"), col("p"), col("g")).head()
    assert(k.getAs[Long]("n") == 100)
    assert(k.getAs[Double]("p_observed") == 0.8)
    assert(k.getAs[Double]("p_expected") == 0.5)
    assert(k.getAs[Double]("kappa") == 0.6)

    // perfect agreement → κ = 1
    val perfect = Seq(("x", "x"), ("y", "y"), ("z", "z")).toDF("p", "g")
    assert(Eval.cohensKappa(perfect, col("p"), col("g"))
      .head().getAs[Double]("kappa") == 1.0)

    // null labels excluded; the surviving single cell saturates chance
    // agreement (p_e = 1) → κ is undefined and surfaces as NULL
    val withNull = Seq((Some("a"), Some("a")), (None, Some("a")), (Some("b"), None))
      .toDF("p", "g")
    val nk = Eval.cohensKappa(withNull, col("p"), col("g")).head()
    assert(nk.getAs[Long]("n") == 1)
    assert(nk.isNullAt(nk.fieldIndex("kappa")))
  }

  test("aucBinary is partitioning-invariant under heavy score ties; the planted separation holds") {
    // 100-way tied scores (the midrank path under tie pressure); positives
    // concentrate in the upper half of the scores
    val n = 20000L
    val s = pmod(col("id") * 2654435761L, lit(100L))
    def scored(parts: Int) = spark.range(n).repartition(parts).select(col("id"), s.as("s"),
      (pmod(col("id") * 1099511627L, lit(1000L)) <
        (lit(150L) + when(s >= 50, 500L).otherwise(0L))).as("y"))
    def auc(parts: Int) = Eval.aucBinary(scored(parts), col("s"), col("y"), col("id"))
      .as[(Long, Long, Double)].head()
    val (a, b) = (auc(8), auc(3))
    assert(a == b, s"AUC moved with partitioning: $a vs $b")
    assert(a._1 + a._2 == n, "every row classified")
    assert(a._3 > 0.6 && a._3 < 0.9, s"planted separation direction lost: ${a._3}")
  }
}
