package graft.ext

import graft.TestSpark
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class TimeSeriesSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def fixture = Seq(
    (1L, "2024-01-01", 2L, 10.0),
    (1L, "2024-01-04", 1L, 40.0),
    (2L, "2024-01-02", 5L, 7.0))
    .toDF("k", "day", "n", "v")
    .withColumn("day", col("day").cast("timestamp_ntz"))

  test("dailyGridFill fills per-key gaps: fill cols carried forward, others null") {
    val got = TimeSeries.dailyGridFill(fixture, "k", "day", Seq("v"))
      .select(col("k"), col("day").cast("string"), col("n"), col("v"))
      .as[(Long, String, Option[Long], Double)].collect().toSet
    assert(got == Set(
      (1L, "2024-01-01 00:00:00", Some(2L), 10.0),
      (1L, "2024-01-02 00:00:00", None, 10.0), // fabricated: v forward-filled, n null
      (1L, "2024-01-03 00:00:00", None, 10.0),
      (1L, "2024-01-04 00:00:00", Some(1L), 40.0),
      (2L, "2024-01-02 00:00:00", Some(5L), 7.0))) // dense key: untouched
  }

  test("dailyGridFill plan: ONE window operator, no join against a fabricated grid") {
    val plan = TimeSeries.dailyGridFill(fixture, "k", "day", Seq("v"))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Join"), s"grid fill must not join:\n$plan")
    // the lead() and the ignore-nulls running fill share partitioning and
    // ordering, so they must land in a single Window operator (one shuffle);
    // string-count because AQE wraps the un-executed plan
    assert(plan.split("\\bWindow \\[").length - 1 == 1,
      s"expected exactly one Window operator:\n$plan")
    assert(plan.split("\\bExchange ").length - 1 == 1,
      s"expected exactly one Exchange:\n$plan")
  }

  test("dailyGridFill: observed NULL fill value is carried past (IGNORE NULLS)") {
    val daily = Seq(
      (1L, "2024-01-01", Some(10.0)),
      (1L, "2024-01-02", None), // observed day, null metric → filled from Jan 1
      (1L, "2024-01-04", Some(40.0)))
      .toDF("k", "day", "v")
      .withColumn("day", col("day").cast("timestamp_ntz"))
    val got = TimeSeries.dailyGridFill(daily, "k", "day", Seq("v"))
      .select(col("day").cast("string"), col("v"))
      .as[(String, Option[Double])].collect().toMap
    assert(got == Map(
      "2024-01-01 00:00:00" -> Some(10.0),
      "2024-01-02 00:00:00" -> Some(10.0),
      "2024-01-03 00:00:00" -> Some(10.0), // gap day generated by the null row
      "2024-01-04 00:00:00" -> Some(40.0)))
  }

  test("dailyGridFill fails loudly on NULL days and duplicate (key, day) rows") {
    // a NULL day would silently vanish through explode(sequence(NULL, …));
    // a duplicate day would surface as an opaque sequence-bounds task error
    val nullDay = fixture.unionByName(
      Seq((1L, null.asInstanceOf[String], 9L, 9.0)).toDF("k", "day", "n", "v")
        .withColumn("day", col("day").cast("timestamp_ntz")))
    val e1 = intercept[Exception](
      TimeSeries.dailyGridFill(nullDay, "k", "day", Seq("v")).collect())
    assert(e1.getMessage != null && e1.getMessage.contains("NULL day"),
      s"expected the named NULL-day error, got: ${e1.getMessage}")
    val dup = fixture.unionByName(fixture.limit(1))
    val e2 = intercept[Exception](
      TimeSeries.dailyGridFill(dup, "k", "day", Seq("v")).collect())
    assert(e2.getMessage != null && e2.getMessage.contains("duplicate"),
      s"expected the named duplicate error, got: ${e2.getMessage}")
  }

  test("dailyGridFill rejects unknown or key/day fill columns") {
    intercept[IllegalArgumentException](
      TimeSeries.dailyGridFill(fixture, "k", "day", Seq("nope")))
    intercept[IllegalArgumentException](
      TimeSeries.dailyGridFill(fixture, "k", "day", Seq("day")))
    intercept[IllegalArgumentException](
      TimeSeries.dailyGridFill(fixture, "nope", "day", Nil))
  }

  test("property: dailyGridFill equals naive per-key grid + ignore-nulls ffill") {
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    val base = java.time.LocalDate.of(2024, 3, 1)
    // per key: a sparse set of observed day offsets, each with a nullable value
    val genSeries = Gen.mapOf(Gen.zip(Gen.choose(0, 2),
      Gen.mapOf(Gen.zip(Gen.choose(0, 10), Gen.option(Gen.choose(1, 99))))))
      .map(_.toSeq.flatMap { case (k, days) =>
        days.toSeq.map { case (off, v) => (k.toLong, base.plusDays(off), v) } })
      .suchThat(_.nonEmpty)
    val prop = Prop.forAll(genSeries) { rows =>
      val df = rows.map { case (k, d, v) =>
        (k, java.sql.Date.valueOf(d), v.map(_.toDouble)) }.toDF("k", "day", "v")
      val gotRows = TimeSeries.dailyGridFill(df, "k", "day", Seq("v"))
        .as[(Long, java.sql.Date, Option[Double])].collect()
      val got = gotRows.toSet
      // set-compare alone would hide duplicate grid rows
      assert(gotRows.length == got.size, "grid emitted duplicate rows")
      val want = rows.groupBy(_._1).flatMap { case (k, obs) =>
        val (d0, d1) = (obs.map(_._2).min, obs.map(_._2).max)
        Iterator.iterate(d0)(_.plusDays(1)).takeWhile(!_.isAfter(d1)).map { d =>
          // last non-null value among observed days <= d
          val fill = obs.filter(o => !o._2.isAfter(d)).sortBy(_._2.toEpochDay)
            .flatMap(_._3).lastOption.map(_.toDouble)
          (k, java.sql.Date.valueOf(d), fill)
        }.toSeq
      }.toSet
      got == want
    }
    assert(SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(8), prop).passed)
  }

  test("truncatedEwma: matches the scalar truncated kernel, renormalizes series heads") {
    val rows = Seq(
      (1L, 1, 10.0), (1L, 2, 20.0), (1L, 3, 30.0), (1L, 4, 40.0), (1L, 5, 0.0),
      (2L, 1, 5.0), (2L, 7, 7.0)) // key 2: order is by the order col, gaps irrelevant
    val df = rows.toDF("k", "t", "x")
    val got = TimeSeries.truncatedEwma(df, "k", "t", "x", alpha = 0.3, taps = 3)
      .select("k", "t", "ewma").as[(Long, Int, Double)].collect()
      .map { case (k, t, e) => (k, t) -> e }.toMap
    val coefs = Array.iterate(0.3, 3)(_ * 0.7)
    def ref(xs: Seq[Double], i: Int): Double = {
      val present = (0 until 3).filter(j => i - j >= 0)
      present.map(j => coefs(j) * xs(i - j)).sum / present.map(coefs).sum
    }
    for ((k, series) <- rows.groupBy(_._1)) {
      val ordered = series.sortBy(_._2)
      ordered.zipWithIndex.foreach { case ((_, t, _), i) =>
        val want = ref(ordered.map(_._3), i)
        assert(math.abs(got((k, t)) - want) < 1e-12, s"($k,$t)")
      }
    }
    // head row is exactly its own value (single present tap renormalizes to 1)
    assert(got((1L, 1)) == 10.0 && got((2L, 1)) == 5.0)
    intercept[IllegalArgumentException](TimeSeries.truncatedEwma(df, "k", "t", "x", alpha = 0.0))
    intercept[IllegalArgumentException](TimeSeries.truncatedEwma(df, "k", "t", "x", taps = 0))
  }

  test("dailyGridFill with date-typed days and no fill cols") {
    val d = fixture.withColumn("day", col("day").cast("date"))
    val got = TimeSeries.dailyGridFill(d, "k", "day", Nil)
      .select(col("k"), col("day").cast("string"), col("n"), col("v"))
      .as[(Long, String, Option[Long], Option[Double])].collect().toSet
    assert(got.size == 5)
    assert(got.contains((1L, "2024-01-02", None, None))) // nothing filled
    assert(got.contains((1L, "2024-01-04", Some(1L), Some(40.0))))
  }

  test("theilSenTrend: median slope survives an outlier day, gap days count as zeros, maxDays refuses") {
    def day(i: Int) = java.time.LocalDateTime.of(2024, 3, 1 + i, 12, 0)
    // key "lin": counts 2,4,6,8,10 over 5 days with day 2 spiked to 60 —
    // OLS would bend toward the spike; the pairwise-slope median stays 2.
    val counts = Seq(2, 4, 60, 8, 10)
    val rows = counts.zipWithIndex.flatMap { case (n, i) =>
      Seq.fill(n)(("lin", day(i)))
    }
    val got = TimeSeries.theilSenTrend(rows.toDF("k", "ts"), "k", "ts")
      .select(col("n_pairs"), col("slope")).as[(Long, Double)].head()
    assert(got._1 == 10) // 5 days → 10 pairs
    assert(got._2 == 2.0, s"robust slope should ignore the spike: ${got._2}")

    // gap day: observations on days 0 and 2 only → grid fills day 1 with
    // a REAL zero; slopes over (d,x) = (0,3),(1,0),(2,3): -3, 0, 3 → 0
    val gappy = Seq.fill(3)(("g", day(0))) ++ Seq.fill(3)(("g", day(2)))
    val g = TimeSeries.theilSenTrend(gappy.toDF("k", "ts"), "k", "ts")
      .select(col("n_pairs"), col("slope")).as[(Long, Double)].head()
    assert(g == ((3L, 0.0)))

    // day-span guard fails loudly instead of squaring silently
    val wide = Seq(("w", day(0)), ("w", java.time.LocalDateTime.of(2024, 6, 1, 0, 0)))
    intercept[Exception] {
      TimeSeries.theilSenTrend(wide.toDF("k", "ts"), "k", "ts", maxDays = 30)
        .collect()
    }
    intercept[IllegalArgumentException](
      TimeSeries.theilSenTrend(gappy.toDF("k", "ts"), "k", "ts", maxDays = 1))
  }

  test("cusumShift: closed form == brute-force recursion; sustained shift alarms, stable feed stays quiet") {
    // one event row per (day, count) unit so the operator's own daily
    // aggregation builds the series: key "shift" runs 10 days at 10/day
    // then 10 days at 16/day (+6, never a one-day spike); key "flat"
    // holds 13/day for 20 days (same total mass)
    def day(i: Int) = java.time.LocalDateTime.of(2024, 3, 1 + i, 12, 0)
    val rows = (0 until 20).flatMap { i =>
      val nShift = if (i < 10) 10 else 16
      Seq.fill(nShift)(("shift", day(i))) ++ Seq.fill(13)(("flat", day(i)))
    }
    val df = rows.toDF("event_type", "ts")
    val got = TimeSeries.cusumShift(df, "event_type", "ts",
        slackPerDay = 2L, threshold = 5.0)
      .select(col("event_type"), col("day").cast("string"), col("n_events"),
        col("cusum"), col("shift_alarm"))
      .as[(String, String, Long, Double, Boolean)].collect()
      .groupBy(_._1).view.mapValues(_.sortBy(_._2)).toMap

    // brute-force reference: S_i = max(0, S_{i-1} + (x - mean - slack))
    def ref(xs: Seq[Int]): Seq[Double] = {
      val mean = xs.sum.toDouble / xs.size
      xs.scanLeft(0.0)((s, x) => math.max(0.0, s + (x - mean - 2.0))).tail
    }
    for ((k, xs) <- Map("shift" -> (Seq.fill(10)(10) ++ Seq.fill(10)(16)),
        "flat" -> Seq.fill(20)(13))) {
      val want = ref(xs)
      val gotK = got(k)
      assert(gotK.map(_._3).toSeq == xs.map(_.toLong), s"$k counts")
      gotK.zip(want).foreach { case ((_, d, _, c, _), w) =>
        assert(math.abs(c - w) < 1e-6, s"$k $d: got $c want $w")
      }
    }
    // the shifted key alarms in its second half and never in the first
    val shiftAlarms = got("shift").map(_._5).toSeq
    assert(!shiftAlarms.take(10).exists(identity), "no alarm before the shift")
    assert(shiftAlarms.drop(10).count(identity) >= 5, "sustained shift must alarm")
    // the flat key never alarms (slack absorbs zero drift)
    assert(!got("flat").exists(_._5))

    // gap days densify to REAL zero-count days (a dead feed drains the
    // chart instead of freezing it)
    val gappy = Seq(("g", day(0)), ("g", day(0)), ("g", day(3)))
      .toDF("event_type", "ts")
    val dense = TimeSeries.cusumShift(gappy, "event_type", "ts")
      .select(col("day").cast("string"), col("n_events"))
      .as[(String, Long)].collect().sortBy(_._1)
    assert(dense.length == 4)
    assert(dense.map(_._2).toSeq == Seq(2L, 0L, 0L, 1L))

    intercept[IllegalArgumentException](
      TimeSeries.cusumShift(df, "event_type", "ts", slackPerDay = -1L))
    intercept[IllegalArgumentException](
      TimeSeries.cusumShift(df, "event_type", "ts", threshold = 0.0))
  }
}
