package graft.ext

import graft.TestSpark
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class TextMultimodalSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("token stats + quality on a known document") {
    val df = Seq((1L, "the quick brown fox, the end.")).toDF("doc_id", "text")
    val stats = TextAnalysis.tokenStats(df).as[(Long, Int, Int, Int)].head()
    assert(stats == ((1L, 6, 5, 8))) // bpe-ish: 6 words + ',' + '.'
    val q = TextAnalysis.quality(df).select("n_tokens", "stopword_ratio").as[(Int, Double)].head()
    assert(q._1 == 6)
    assert(q._2 == 2.0 / 6.0) // "the" twice
  }

  test("lexiconScreen: exact lowercased token match, dup entries collapse, boundary keeps") {
    val docs = Seq(
      (1L, "BAD bad word here"),        // 2/4 blocked -> drop
      (2L, "clean text only here"),     // 0/4 -> keep
      (3L, "badness is not bad word"),  // substring "badness" no; token "bad" yes: 1/5
      (4L, "one bad in twenty tokens of perfectly ordinary filler text that keeps going on and on and on yes forever")) // 1/20 = 0.05 boundary -> keep
      .toDF("doc_id", "text")
    // doubled lexicon entry and mixed case must not change counts
    val lex = Seq("bad", "BAD", "Bad").toDF("word")
    val got = TextAnalysis.lexiconScreen(docs, lex, maxRatio = 0.05)
      .as[(Long, Long, Long, Double, Boolean)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4, r._5))).toMap
    assert(got(1L) == ((4L, 2L, 0.5, false)))
    assert(got(2L) == ((4L, 0L, 0.0, true)))
    // "badness" is not a token match; "bad" is
    assert(got(3L) == ((5L, 1L, 0.2, false)))
    // exactly at maxRatio: keep (<=)
    assert(got(4L)._1 == 20L && got(4L)._2 == 1L && got(4L)._4)
    // empty lexicon screens nothing out
    val none = TextAnalysis.lexiconScreen(docs, Seq.empty[String].toDF("word"))
      .as[(Long, Long, Long, Double, Boolean)].collect()
    assert(none.forall(r => r._3 == 0L && r._5))
    intercept[IllegalArgumentException](
      TextAnalysis.lexiconScreen(docs, lex, maxRatio = -0.1))
  }

  test("repetition: duplicate trigrams raise the ratio; short docs score 0") {
    val df = Seq(
      (1L, "a b c a b c a b c"), // 7 trigrams, 3 distinct (abc,bca,cab)
      (2L, "w x y z"),           // 2 trigrams, both distinct
      (3L, "just two")           // < n tokens → single whole-text gram
    ).toDF("doc_id", "text")
    val got = TextAnalysis.repetition(df).orderBy("doc_id")
      .as[(Long, Int, Int, Double)].collect().toSeq
    assert(got == Seq(
      (1L, 7, 3, 1.0 - 3.0 / 7), (2L, 2, 2, 0.0), (3L, 1, 1, 0.0)))
  }

  test("repetitionTopGram: argmax with total-order tie-break; short/NULL docs emit zero") {
    val df = Seq(
      // "a b" x3 of 6 bigrams; chars = len("a b a b a b c d") = 15
      (1L, "a b a b a b c d"),
      // tie on count (every bigram once): longest wins, then gram desc —
      // bigrams: "xx yy", "yy z", "z xx" -> len 5 beats len 4s
      (2L, "xx yy z xx"),
      (3L, "single"),                 // 1 token < n -> zero row
      (4L, null.asInstanceOf[String]) // NULL text -> zero row
    ).toDF("doc_id", "text")
    val got = TextAnalysis.repetitionTopGram(df).orderBy("doc_id")
      .as[(Long, Option[String], Long, Double)].collect().toSeq
    assert(got == Seq(
      (1L, Some("a b"), 3L, 3.0 * 3 / 15),
      (2L, Some("xx yy"), 1L, 5.0 / 10),
      (3L, None, 0L, 0.0),
      (4L, None, 0L, 0.0)), got.toString)
  }

  test("chunkWindows: overlapping windows cover every token; short tail kept") {
    // 7 tokens, chunk 3, stride 2 → starts 0,2,4,6 → lengths 3,3,3,1
    val df = Seq((1L, "t0 t1 t2 t3 t4 t5 t6")).toDF("doc_id", "text")
    val out = TextAnalysis.chunkWindows(df, chunkTokens = 3, stride = 2)
      .orderBy("chunk_id")
      .select("chunk_id", "chunk_text", "n_chunk_tokens")
      .as[(Int, String, Int)].collect().toSeq
    assert(out == Seq(
      (0, "t0 t1 t2", 3), (1, "t2 t3 t4", 3), (2, "t4 t5 t6", 3), (3, "t6", 1)))
    // single short doc → exactly one (short) chunk
    val one = TextAnalysis.chunkWindows(Seq((1L, "a b")).toDF("doc_id", "text"),
      chunkTokens = 5, stride = 5)
      .select("chunk_id", "chunk_text", "n_chunk_tokens").as[(Int, String, Int)].collect().toSeq
    assert(one == Seq((0, "a b", 2)))
  }

  test("normalize: lowercases, strips punctuation, collapses whitespace, trims") {
    val df = Seq((1L, "  Héllo,  WORLD!!  it's   42. ")).toDF("doc_id", "text")
    val out = df.select(TextAnalysis.normalize(col("text"))).as[String].head()
    // non-[a-z0-9] (accented chars included) become spaces, runs collapse
    assert(out == "h llo world it s 42")
    assert(df.select(TextAnalysis.normalize(lit(""))).as[String].head() == "")
  }

  test("redactPii: emails, phones, IPv4 replaced; near-misses untouched") {
    val df = Seq((1L,
      "mail a.b+c@ex-1.org or bob@sub.example.co.uk call 415-555-0134 " +
        "from 10.0.3.77 but not 1234-555-0134 or v1.2.3 or a@b")).toDF("doc_id", "text")
    val out = df.select(TextAnalysis.redactPii(col("text"))).as[String].head()
    assert(out == "mail <EMAIL> or <EMAIL> call <PHONE> " +
      "from <IP> but not 1234-555-0134 or v1.2.3 or a@b")
  }

  test("langId picks the marker-richest language with fixed tie-break") {
    val df = Seq(
      (1L, "the cat is on the mat"),
      (2L, "der hund und die katze ist da"),
      (3L, "zz yy xx")).toDF("doc_id", "text") // no markers → tie → 'en' first
    val got = TextAnalysis.langId(df).select("doc_id", "pred_lang").as[(Long, String)].collect().toMap
    assert(got(1L) == "en" && got(2L) == "de" && got(3L) == "en")
  }

  test("fingerprint is order- and duplication-insensitive") {
    val df = Seq((1L, "b a c a"), (2L, "c b a"), (3L, "c b a d")).toDF("doc_id", "text")
    val fp = TextAnalysis.fingerprint(df).as[(Long, String)].collect().toMap
    assert(fp(1L) == fp(2L))
    assert(fp(1L) != fp(3L))
  }

  test("multimodal: synthetic media round-trips through partition-wise decode") {
    val docs = Seq((1L, "hello world"), (2L, "")).toDF("doc_id", "text")
    val feats = Multimodal.extractFeatures(spark, Multimodal.withSyntheticMedia(docs))
      .collect().map(f => f.id -> f).toMap
    assert(feats(1L).nBytes == 11L)
    assert(feats(1L).headByte == 'h'.toInt)
    assert(feats(2L).nBytes == 0L && feats(2L).headByte == -1)
    // checksum is the real CRC32 of the payload bytes
    val crc = new java.util.zip.CRC32
    crc.update("hello world".getBytes("UTF-8"))
    assert(feats(1L).checksum == crc.getValue)
  }

  test("decodeReal: the JDK codecs decode PNG and WAV; undecodable fails loudly") {
    import Multimodal.{MediaMeta, decodeReal}
    // a 3x2 PNG with a known top-left pixel, encoded by the same JDK codec
    val img = new java.awt.image.BufferedImage(3, 2, java.awt.image.BufferedImage.TYPE_INT_RGB)
    img.setRGB(0, 0, 0x112233)
    img.setRGB(2, 1, 0xFFFFFF)
    val png = {
      val b = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", b)
      b.toByteArray
    }
    val pf = decodeReal(7L, png, MediaMeta("image/png", 3, 2, 0))
    // headByte is a DECODED-pixel fact (blue channel of (0,0)), not a raw
    // byte — the thing the fake decoder cannot produce
    assert(pf.id == 7L && pf.frameCount == 1 && pf.headByte == 0x33)
    assert(pf.nBytes == png.length.toLong)
    // a 100-frame 8 kHz mono 16-bit WAV written by the JDK's own encoder
    val fmt = new javax.sound.sampled.AudioFormat(8000f, 16, 1, true, false)
    val ais = new javax.sound.sampled.AudioInputStream(
      new java.io.ByteArrayInputStream(new Array[Byte](200)), fmt, 100)
    val wav = {
      val b = new java.io.ByteArrayOutputStream()
      javax.sound.sampled.AudioSystem.write(ais, javax.sound.sampled.AudioFileFormat.Type.WAVE, b)
      b.toByteArray
    }
    val wf = decodeReal(8L, wav, MediaMeta("audio/wav", 0, 0, 0))
    assert(wf.frameCount == 100) // PCM sample frames from the fmt chunk, not byte math
    assert(wf.headByte == 'R'.toInt) // RIFF magic
    // loud failures beat silent byte noise: unknown mime, corrupt payload
    intercept[IllegalArgumentException](
      decodeReal(9L, Array[Byte](1, 2, 3), MediaMeta("video/mp4", 0, 0, 0)))
    intercept[IllegalArgumentException](
      decodeReal(10L, Array[Byte](1, 2, 3), MediaMeta("image/png", 0, 0, 0)))
  }

  test("extractFeatures runs the real codec partition-wise over binary columns") {
    import Multimodal.{MediaMeta, MediaRow}
    def png(rgb: Int): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(2, 2, java.awt.image.BufferedImage.TYPE_INT_RGB)
      (0 until 2).foreach(x => (0 until 2).foreach(y => img.setRGB(x, y, rgb)))
      val b = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", b)
      b.toByteArray
    }
    val media = spark.createDataset(Seq(
      MediaRow(1L, png(0x0000AA), MediaMeta("image/png", 2, 2, 0)),
      MediaRow(2L, png(0x00BB00), MediaMeta("image/png", 2, 2, 0)))).toDF().repartition(2)
    val got = Multimodal.extractFeatures(spark, media, Multimodal.decodeReal)
      .collect().map(f => f.id -> f.headByte).toMap
    assert(got == Map(1L -> 0xAA, 2L -> 0x00)) // decoded blue channels
  }

  test("resize stride-samples oversized payloads and passes small ones through") {
    val big = Array.tabulate[Byte](1000)(i => (i % 251).toByte)
    val out = Multimodal.resizeFake(big, 8, 8)
    assert(out.length == 64)
    val stride = 1000.0 / 64
    (0 until 64).foreach(i => assert(out(i) == big((i * stride).toInt)))
    val small = Array[Byte](1, 2, 3)
    assert(Multimodal.resizeFake(small, 8, 8).toSeq == Seq[Byte](1, 2, 3))
    // partition-wise stage: payload capped, metadata rewritten, ids intact
    val docs = Seq((1L, "x" * 500), (2L, "short")).toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("s"))
      .withColumn("n_chars", length(col("text")))
    val resized = Multimodal.resize(spark, Multimodal.withSyntheticMedia(docs), 4, 4).collect()
    assert(resized.map(_.id).toSet == Set(1L, 2L))
    resized.foreach { r =>
      assert(r.payload.length <= 16)
      assert(r.meta.width == 4 && r.meta.height == 4)
    }
    assert(resized.find(_.id == 2L).get.payload.length == 5) // under budget: untouched
    // two individually-valid dims whose Int product overflows negative must
    // behave as a pass-through budget, not throw NegativeArraySizeException
    assert(Multimodal.resizeFake(small, 65536, 65536).toSeq == Seq[Byte](1, 2, 3))
  }

  test("frame sampling yields ceil-ish windows over the payload") {
    val docs = Seq((1L, "x" * 200)).toDF("doc_id", "text")
    val frames = Multimodal.sampleFrames(Multimodal.withSyntheticMedia(docs), 32, 2)
    // 200 bytes / (32*2) = 3 full strides → frames 0,1,2
    assert(frames.count() == 3)
    assert(frames.agg(max(length(col("frame")))).head().getInt(0) <= 32)
  }

  test("averageHash64: deterministic, off-grid perturbation invariant, on-grid flips bits") {
    val base = Multimodal.encodePngDeterministicLarge(7L, perturb = false)
    assert(Multimodal.averageHash64(base) == Multimodal.averageHash64(base))
    // the twin flips pixel (1,1) — off the >=16px sample grid — same hash
    val twin = Multimodal.encodePngDeterministicLarge(7L, perturb = true)
    assert(!base.sameElements(twin))
    assert(Multimodal.averageHash64(base) == Multimodal.averageHash64(twin))
    // blanking an entire sampled region must move at least one bit
    val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(base))
    for (x <- 0 until img.getWidth; y <- 0 until img.getHeight if x < 6 && y < 6)
      img.setRGB(x, y, 0xFFFFFF)
    val out = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", out)
    assert(Multimodal.averageHash64(base) != Multimodal.averageHash64(out.toByteArray))
  }

  test("hammingPairs: exact recall at distance <= 3, distant prints never pair") {
    val fps = Seq(
      (1L, 0L), (2L, 1L),                      // distance 1 -> pair
      (3L, 0x0707L),                           // distance 5 from id 1 -> no pair with 1
      (4L, 0x0706L), (5L, -1L)                 // 4 is distance 1 from 3; 5 far from all
    ).toDF("doc_id", "fp")
    val got = graft.ext.Dedup.hammingPairs(fps, "doc_id", "fp", 3)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(got == Set((1L, 2L), (3L, 4L)))
  }

  test("tfidf: N is distinct-doc based, so an every-doc token weighs exactly 0") {
    // doc 1 appears TWICE — count(*)-based N would be 3 and give 'common'
    // (present in both distinct docs) a nonzero weight (ADVICE r5)
    val df = Seq((1L, "x common"), (1L, "x common"), (2L, "common y")).toDF("doc_id", "text")
    val m = TextAnalysis.tfidf(df, k = 10).as[(String, Long, Long, Double)]
      .collect().map(r => r._1 -> r).toMap
    assert(m("common")._4 == 0.0)
    assert(m("common")._2 == 2L) // doc_freq: both distinct docs
    assert(m("y")._4 == 0.6931)  // 1 · ln(2/1) rounded to 4
    assert(m("x")._4 == 1.3863)  // term_freq 2 (dup rows), doc_freq 1
  }

  test("Profiling.profile: null/distinct counts in one pass; unknown columns rejected") {
    val df = Seq((Option(1L), Option("a")), (Option(2L), None), (None, Option("a")))
      .toDF("k", "v")
    val got = Profiling.profile(df, Seq("k", "v"))
      .as[(String, Long, Long, Long)].collect().map(r => r._1 -> r).toMap
    assert(got("k") == ("k", 3L, 1L, 2L))
    assert(got("v") == ("v", 3L, 1L, 1L)) // distinct excludes nulls
    intercept[IllegalArgumentException](Profiling.profile(df, Seq("nope")))
    // empty frame: zero rows, zero nulls, zero distinct — no NPE/null metrics
    val empty = Profiling.profile(df.filter(lit(false)), Seq("k"))
      .as[(String, Long, Long, Long)].collect()
    assert(empty.toSeq == Seq(("k", 0L, 0L, 0L)))
  }

  test("Profiling.profile: hostile column names (quotes, backticks, dots) resolve exactly") {
    val df = Seq((1L, "a"), (2L, "b"), (2L, null))
      .toDF("k`odd", "v'quote.dot")
    val got = Profiling.profile(df, Seq("k`odd", "v'quote.dot"))
      .as[(String, Long, Long, Long)].collect().map(r => r._1 -> r).toMap
    assert(got("k`odd") == ("k`odd", 3L, 0L, 2L))
    assert(got("v'quote.dot") == ("v'quote.dot", 3L, 1L, 2L))
    val ap = Profiling.approxProfile(df, Seq("v'quote.dot"), Nil).collect()
    assert(ap.head.getString(0) == "v'quote.dot" && ap.head.getLong(2) == 2L)
  }

  test("Profiling.histogram: closed top edge, null exclusion, constant and empty inputs") {
    val df = Seq(Some(0.0), Some(2.5), Some(5.0), Some(10.0), None).toDF("x")
    val got = Profiling.histogram(df, "x", 4)
      .as[(Int, Double, Double, Long)].collect().sortBy(_._1).toSeq
    // width 2.5 over [0,10]: 0→bin0, 2.5→bin1, 5→bin2, 10 (the max) → bin3
    assert(got == Seq((0, 0.0, 2.5, 1L), (1, 2.5, 5.0, 1L),
      (2, 5.0, 7.5, 1L), (3, 7.5, 10.0, 1L)))
    // constant column: a single bucket holding every non-null row
    val const = Profiling.histogram(Seq(7.0, 7.0).toDF("x"), "x", 4)
      .as[(Int, Double, Double, Long)].collect().toSeq
    assert(const == Seq((0, 7.0, 8.0, 2L)))
    assert(Profiling.histogram(df.filter(lit(false)), "x", 4).count() == 0)
    intercept[IllegalArgumentException](Profiling.histogram(df, "nope", 4))
    intercept[IllegalArgumentException](Profiling.histogram(df, "x", 0))
    // NaN excluded alongside NULL: Spark sorts NaN above every double, so an
    // unfenced max() would yield NaN-width bins (DuckDB divergence)
    val withNan = Seq(0.0, 5.0, 10.0, Double.NaN).toDF("x")
    assert(Profiling.histogram(withNan, "x", 4)
      .as[(Int, Double, Double, Long)].collect().sortBy(_._1).toSeq ==
      Seq((0, 0.0, 2.5, 1L), (2, 5.0, 7.5, 1L), (3, 7.5, 10.0, 1L)))
  }

  test("Profiling.psiDrift: identical halves score 0, a shift scores positive, edges clamp") {
    val ref = (0 until 100).map(i => Tuple1((i % 10).toDouble)).toDF("value")
    // identical distribution: p == q in every bin -> every contrib exactly 0
    val same = Profiling.psiDrift(ref, ref, "value", 10)
      .agg(sum(abs($"psi_contrib"))).as[Double].head()
    assert(same == 0.0)
    // shifted distribution scores strictly positive
    val cur = (0 until 100).map(i => Tuple1((i % 5).toDouble)).toDF("value")
    val psi = Profiling.psiDrift(ref, cur, "value", 10)
      .agg(sum($"psi_contrib")).as[Double].head()
    assert(psi > 0.1, s"a halved support must register drift: $psi")
    // out-of-range current values clamp into the edge bins, never vanish
    // (100 rows so the Laplace pseudo-counts (0.5 x 10 bins) don't dominate)
    val far = (0 until 100).map(i => Tuple1(if (i % 2 == 0) -100.0 else 1000.0)).toDF("value")
    val edges = Profiling.psiDrift(ref, far, "value", 10)
      .filter($"bin" === 0 || $"bin" === 9).agg(sum($"p_cur")).as[Double].head()
    assert(edges > 0.9, s"all far mass in edge bins (smoothed): $edges")
    // reference with no usable values refuses loudly
    intercept[IllegalArgumentException](Profiling.psiDrift(
      Seq(Tuple1(Option.empty[Double])).toDF("value"), ref, "value", 10))
    // ±Infinity is excluded like NaN, not clamped into edge bins: infinite
    // inputs on either side must not move any bin's share (they would
    // diverge across engines — floor(inf) overflows an int cast pre-clamp)
    val inf = ref.union(Seq(Tuple1(Double.PositiveInfinity),
      Tuple1(Double.NegativeInfinity), Tuple1(Double.NaN)).toDF("value"))
    val viaInf = Profiling.psiDrift(inf, inf, "value", 10)
      .agg(sum(abs($"psi_contrib"))).as[Double].head()
    assert(viaInf == 0.0, s"non-finite rows must drop out cleanly: $viaInf")
  }

  test("Profiling.histogram and psiDrift: bins pinned on NaN and ±Infinity input") {
    def hist(xs: Double*) = Profiling.histogram(xs.toDF("x"), "x", 4)
      .as[(Int, Double, Double, Long)].collect().sortBy(_._1).toSeq
    // NaN rows drop out; an infinite bound makes the width infinite, so
    // every value floors to bin 0 (∞/∞ is NaN, which floors to 0) and the
    // edges lo + 0·∞ come out NaN
    val pos = hist(0.0, 5.0, 10.0, Double.PositiveInfinity, Double.NaN)
    assert(pos.map(h => (h._1, h._4)) == Seq((0, 4L)))
    assert(pos.head._2.isNaN && pos.head._3 == Double.PositiveInfinity)
    val neg = hist(Double.NegativeInfinity, 0.0, 5.0, 10.0, Double.NaN)
    assert(neg.map(h => (h._1, h._4)) == Seq((0, 4L)))
    assert(neg.head._2.isNaN && neg.head._3.isNaN)
    // finite values below zero bin from their own minimum: the lower clamp
    // never binds on the frame the edges came from
    assert(hist(-7.5, -2.5, 0.0, 2.5, Double.NaN) ==
      Seq((0, -7.5, -5.0, 1L), (2, -2.5, 0.0, 1L), (3, 0.0, 2.5, 2L)))
    // psiDrift: non-finite values on either side move neither the edges
    // nor any count; out-of-range current values clamp into the edge bins
    val nonFinite = Seq(Double.PositiveInfinity, Double.NegativeInfinity, Double.NaN)
    val ref = ((0 until 10).map(_.toDouble) ++ nonFinite).toDF("value")
    val cur = (Seq(0.0, 4.5, 9.0, 20.0, -5.0) ++ nonFinite).toDF("value")
    val got = Profiling.psiDrift(ref, cur, "value", 3)
      .as[(Int, Double, Double, Double)].collect().sortBy(_._1).toSeq
    // ref edges [0, 9], width 3: ref counts 3/3/4 (9 closes the top bin);
    // cur 0 and −5 → bin 0, 4.5 → bin 1, 9 and 20 → bin 2
    val pRef = Seq(3L, 3L, 4L).map(c => (c + 0.5) / (10 + 0.5 * 3))
    val pCur = Seq(2L, 1L, 2L).map(c => (c + 0.5) / (5 + 0.5 * 3))
    assert(got.map(_._1) == Seq(0, 1, 2))
    assert(got.map(_._2) == pRef && got.map(_._3) == pCur)
  }

  test("Profiling.madOutliers: flags by modified z-score; stddev masking resisted; mad=0 groups drop") {
    // group g: 19 values tightly around 10 plus one wild point. Interpolated
    // med = 11, MAD = 1 -> the 100 scores 0.6745*89/1 = 60.0, everything
    // else < 3.5. A mean/stddev z-score on the same data drags the mean to
    // 14.5 — one more wild point and it would mask; median/MAD don't move.
    val g = (Seq.fill(9)(9.0) ++ Seq.fill(10)(11.0) ++ Seq(100.0))
      .zipWithIndex.map { case (v, i) => ("g", s"r$i", v) }
    // group c is majority-constant: MAD = 0, so even its deviant row must
    // NOT flag (the group drops entirely rather than scoring ±Inf)
    val c = Seq(("c", "c0", 5.0), ("c", "c1", 5.0), ("c", "c2", 5.0), ("c", "c3", 99.0))
    val df = (g ++ c).toDF("k", "id", "value")
    val got = Profiling.madOutliers(df, Seq("k"), "value", carryCols = Seq("id"))
      .as[(String, String, Double, Double)].collect()
    assert(got.map(_._2).toSet == Set("r19"))
    val z = got.head._4
    assert(math.abs(z - 0.6745 * 89.0 / 1.0) < 1e-9, s"robust z: $z")
    // negative outliers flag on |z|; k tightens/loosens the screen
    val neg = (g :+ (("g", "lo", -80.0))).toDF("k", "id", "value")
    val both = Profiling.madOutliers(neg, Seq("k"), "value", carryCols = Seq("id"))
      .as[(String, String, Double, Double)].collect()
    assert(both.map(_._2).toSet == Set("r19", "lo"))
    assert(both.find(_._2 == "lo").get._4 < 0.0)
    assert(Profiling.madOutliers(df, Seq("k"), "value", Seq("id"), k = 100.0).isEmpty)
    intercept[IllegalArgumentException](
      Profiling.madOutliers(df, Seq("k"), "value", Nil, k = 0.0))
    intercept[IllegalArgumentException](
      Profiling.madOutliers(df, Nil, "value"))
  }

  test("Profiling.approxProfile: sketch estimates track exact answers on fixtures") {
    val ev = graft.io.Tables.load(spark, graft.TestSpark.Sf0001, "events")
    val rows = Profiling.approxProfile(ev, Seq("user_id", "event_type"), Seq("value"))
      .collect().map(r => r.getString(0) -> r).toMap
    val exactUsers = ev.select(countDistinct(col("user_id"))).as[Long].head()
    val estUsers = rows("user_id").getLong(2)
    assert(math.abs(estUsers - exactUsers).toDouble / exactUsers < 0.1,
      s"HLL user_id estimate $estUsers vs exact $exactUsers")
    // tiny cardinalities resolve exactly (HLL sparse mode)
    assert(rows("event_type").getLong(2) == 5)
    val exactP50 = ev.select(expr("percentile(value, 0.5)")).as[Double].head()
    val p50 = rows("value").getDouble(3)
    assert(math.abs(p50 - exactP50) / math.max(1.0, math.abs(exactP50)) < 0.05,
      s"approx p50 $p50 vs exact $exactP50")
    assert(rows("value").getDouble(4) >= p50, "p99 below p50")
    assert(rows.values.forall(_.getLong(1) == ev.count()))
  }

  test("SqlStepRegistry substitutes window placeholders") {
    val reg = new graft.proc.SqlStepRegistry(Map(
      "s" -> "SELECT TIMESTAMP '{start_ts}' AS a, TIMESTAMP '{end_ts}' AS b, DATE '{start_date}' AS c"))
    val sql = reg.sqlFor("s", java.time.LocalDate.of(2024, 1, 5), java.time.LocalDate.of(2024, 1, 9))
    assert(sql.contains("2024-01-05 00:00:00.000") && sql.contains("2024-01-09 23:59:59.997")
      && sql.contains("DATE '2024-01-05'"))
    assertThrows[NoSuchElementException](reg.sqlFor("nope", java.time.LocalDate.now(), java.time.LocalDate.now()))
  }

  test("unigramSurprisal: exact unigram math; rare tokens score higher; NULL text absent") {
    // corpus tokens: a,a,a,b -> N=4, freq(a)=3, freq(b)=1
    val corpus = Seq((1L, "a a"), (2L, "a b"), (3L, null.asInstanceOf[String]))
      .toDF("doc_id", "text")
    val got = TextAnalysis.unigramSurprisal(corpus, "doc_id", "text")
      .as[(Long, Long, Double)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    val lnA = math.log(4.0 / 3.0)
    assert(got.keySet == Set(1L, 2L)) // NULL-text doc emits no tokens
    assert(got(1L)._1 == 2L && math.abs(got(1L)._2 - lnA) < 1e-12)
    assert(got(2L)._1 == 2L && math.abs(got(2L)._2 - (lnA + math.log(4.0)) / 2) < 1e-12)
    assert(got(2L)._2 > got(1L)._2) // the rare-token doc is more surprising
  }

  test("bigramSurprisal: exact Stupid-Backoff math across seen/backoff/OOV; short docs absent") {
    // reference tokens: a b | a c -> c(a)=2 c(b)=1 c(c)=1, N=4 V=3;
    // reference bigrams: (a,b)=1, (a,c)=1
    val ref = Seq((1L, "a b"), (2L, "a c")).toDF("doc_id", "text")
    val docs = Seq(
      (10L, "a b"),   // seen bigram: s = cb/c(a) = 1/2
      (11L, "b a"),   // unseen, a in vocab: s = 0.4*(2+1)/(4+3)
      (12L, "a z"),   // unseen, z OOV:      s = 0.4*(0+1)/(4+3)
      (13L, "a b c"), // mixed: ln2 then (b,c) unseen -> 0.4*(1+1)/7
      (14L, "a"),     // one token: no bigrams, absent
      (15L, null.asInstanceOf[String])).toDF("doc_id", "text")
    val got = TextAnalysis.bigramSurprisal(docs, ref, "doc_id", "text")
      .as[(Long, Long, Double)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    assert(got.keySet == Set(10L, 11L, 12L, 13L))
    assert(got(10L) == ((1L, math.log(2.0))))
    assert(math.abs(got(11L)._2 - -math.log(0.4 * 3 / 7)) < 1e-12)
    assert(math.abs(got(12L)._2 - -math.log(0.4 / 7)) < 1e-12)
    assert(got(13L)._1 == 2L &&
      math.abs(got(13L)._2 - (math.log(2.0) - math.log(0.4 * 2 / 7)) / 2) < 1e-12)
    // word salad FROM common words is what the bigram order catches: "b a"
    // backs off (surprising) where unigram surprisal scores it like "a b"
    assert(got(11L)._2 > got(10L)._2)
    // alpha=1 removes the backoff penalty scalar but not the backoff itself
    val a1 = TextAnalysis.bigramSurprisal(docs, ref, "doc_id", "text", alpha = 1.0)
      .as[(Long, Long, Double)].collect().map(r => r._1 -> r._3).toMap
    assert(math.abs(a1(11L) - -math.log(3.0 / 7)) < 1e-12)
    assertThrows[IllegalArgumentException](
      TextAnalysis.bigramSurprisal(docs, ref, "doc_id", "text", alpha = 0.0))
  }

  test("bm25: exact formula, saturation, length normalization, ties, query dedup") {
    val corpus = Seq((1L, "x x y"), (2L, "x z"),
      (3L, null.asInstanceOf[String])).toDF("doc_id", "text")
    // N=3 (null doc counts), avgdl = (3+2)/2 = 2.5 (null doc does not)
    val idfX = math.log((3 - 2 + 0.5) / (2 + 0.5) + 1.0)
    def s(tf: Long, dl: Long) =
      idfX * (tf * 2.2) / (tf + 1.2 * (0.25 + 0.75 * dl / 2.5))
    val got = TextAnalysis.bm25(corpus, "x q", topK = 10)
      .as[(Long, Double)].collect().toMap
    assert(got.keySet == Set(1L, 2L)) // q unseen anywhere; doc 3 cannot match
    assert(got(1L) == math.rint(s(2, 3) * 1e6) / 1e6)
    assert(got(2L) == math.rint(s(1, 2) * 1e6) / 1e6)
    // query-term dedup: "x x" scores identically to "x"
    val once = TextAnalysis.bm25(corpus, "x", topK = 10).as[(Long, Double)].collect().toMap
    val twice = TextAnalysis.bm25(corpus, "x x", topK = 10).as[(Long, Double)].collect().toMap
    assert(once == twice)
    // saturation: doubling tf far less than doubles the score (k1 finite)...
    assert(got(1L) < 2 * got(2L) * s(1, 3) / s(1, 2)) // tf 2 vs 1 at equal length
    // ...and k1=0 collapses the tf term entirely: score == idf for ANY tf
    val k0 = TextAnalysis.bm25(corpus, "x", k1 = 0.0, topK = 10)
      .as[(Long, Double)].collect().toMap
    assert(k0(1L) == k0(2L) && k0(1L) == math.rint(idfX * 1e6) / 1e6)
    // b=0 removes length normalization: same tf => same score despite dl
    val b0 = TextAnalysis.bm25(Seq((1L, "x a a a a a a"), (2L, "x b")).toDF("doc_id", "text"),
      "x", b = 0.0, topK = 10).as[(Long, Double)].collect().toMap
    assert(b0(1L) == b0(2L))
    // deterministic cutoff: three identical docs, topK=2 keeps the lower ids
    val ties = TextAnalysis.bm25(
      Seq((7L, "x"), (5L, "x"), (9L, "x")).toDF("doc_id", "text"), "x", topK = 2)
      .as[(Long, Double)].collect().map(_._1).toSet
    assert(ties == Set(5L, 7L))
    intercept[IllegalArgumentException](TextAnalysis.bm25(corpus, "  "))
    intercept[IllegalArgumentException](TextAnalysis.bm25(corpus, "x", b = 1.5))
    intercept[IllegalArgumentException](TextAnalysis.bm25(corpus, "x", topK = 0))
  }

  test("htmlExtract: tags/scripts/comments stripped, entities decoded, block tags become lines") {
    val rows = Seq(
      (1L, "<html><body><p>Hello   <b>world</b></p></body></html>"),
      (2L, "<p>keep</p><script type=\"a\">drop this</script><SCRIPT>and this</SCRIPT>tail"),
      (3L, "<style>p{x}</style>text <!-- gone\nacross lines --> here"),
      (4L, "a &amp; b &lt;i&gt; &quot;q&quot; &#39;s&#39; x&nbsp;y"),
      (5L, "&amp;lt; stays encoded once"), // &amp; decodes LAST -> literal "&lt;"
      (6L, null.asInstanceOf[String]),
      // block boundaries: <br>/<BR/> and </li> each end a line; runs of
      // blocks collapse to ONE newline, leading/trailing newlines trim
      (7L, "a b c.<br>d e f.<BR/>g h i."),
      (8L, "<ul><li>one two.</li><li>three four.</li></ul><div>tail here</div>"))
    val got = TextAnalysis.htmlExtract(rows.toDF("doc_id", "html"))
      .as[(Long, String, Option[Int], Option[Int])].collect()
      .map { case (k, t, nl, n) => k -> ((t, nl, n)) }.toMap
    assert(got(1L) == ("Hello world", Some(1), Some(11)))
    assert(got(2L) == ("keep\ntail", Some(2), Some(9))) // </p> ends the line
    assert(got(3L) == ("text here", Some(1), Some(9)))
    assert(got(4L) == ("a & b <i> \"q\" 's' x y", Some(1), Some(21)))
    assert(got(5L) == ("&lt; stays encoded once", Some(1), Some(23)))
    assert(got(6L)._1 == null && got(6L)._2.isEmpty && got(6L)._3.isEmpty)
    assert(got(7L) == ("a b c.\nd e f.\ng h i.", Some(3), Some(20)))
    assert(got(8L) == ("one two.\nthree four.\ntail here", Some(3), Some(30)))
  }

  test("htmlLinks: pos is true document order across mixed quote styles, empty href kept") {
    val rows = Seq(
      (1L, "<a href=\"https://a.com/1\">x</a> mid <A  HREF='http://b.net/2'>y</A>" +
        "<a class=\"z\" href=\"\">e</a>"),
      (2L, "no links here"),
      (3L, null.asInstanceOf[String]))
    val got = TextAnalysis.htmlLinks(rows.toDF("doc_id", "html"))
      .as[(Long, Long, String)].collect().toSeq
    // a single-quoted href between two double-quoted ones keeps its
    // document position (the r18 two-group concat numbered it last)
    assert(got.sortBy(r => (r._1, r._2)) == Seq(
      (1L, 0L, "https://a.com/1"), (1L, 1L, "http://b.net/2"), (1L, 2L, "")))
  }

  test("persisted text index: build/load/search ≡ in-memory bm25; grow keeps frozen stats") {
    val corpus = Seq((1L, "x x y"), (2L, "x z"),
      (3L, null.asInstanceOf[String])).toDF("doc_id", "text")
    val store = new graft.store.TableStore(spark,
      TestSpark.tempDir("graft-fts-spec").toString)
    val built = TextAnalysis.buildTextIndex(store, "fts", corpus)
    graft.ext.Dedup.unpersistAll()
    assert(built.nDocs == 3L && built.avgdl == 2.5)
    // reload path: the stats survive storage round-trip exactly
    val idx = TextAnalysis.loadTextIndex(store, "fts")
    assert(idx == built)
    val mem = TextAnalysis.bm25(corpus, "x q", topK = 10)
      .as[(Long, Double)].collect().toMap
    val viaIndex = TextAnalysis.searchTextIndex(store, idx, "x q", topK = 10)
      .as[(Long, Double)].collect().toMap
    graft.ext.Dedup.unpersistAll()
    assert(viaIndex == mem, "fresh index search must equal the in-memory operator")
    // grow: appended docs are searchable with true tf/dl; stats stay frozen
    TextAnalysis.appendToTextIndex(store, idx,
      Seq((4L, "x x x")).toDF("doc_id", "text"))
    graft.ext.Dedup.unpersistAll()
    val grown = TextAnalysis.searchTextIndex(store, idx, "x", topK = 10)
      .as[(Long, Double)].collect().toMap
    assert(grown.keySet == Set(1L, 2L, 4L))
    // frozen contract, computed by hand: N=3, avgdl=2.5 from the BUILD
    // slice; df(x)=3 after the append delta sums in
    val idfX = math.log((3 - 3 + 0.5) / (3 + 0.5) + 1.0)
    def sc(tf: Long, dl: Long) =
      idfX * (tf * 2.2) / (tf + 1.2 * (0.25 + 0.75 * dl / 2.5))
    assert(grown(4L) == math.rint(sc(3, 3) * 1e6) / 1e6)
    assert(grown(1L) == math.rint(sc(2, 3) * 1e6) / 1e6) // "x x y": tf=2, dl=3
    intercept[IllegalArgumentException](TextAnalysis.searchTextIndex(store, idx, "  "))
  }

  test("charEntropy: hand-derived values, degenerate and absent docs") {
    val got = TextAnalysis.charEntropy(
      Seq((1L, "aabb"), (2L, "aaaa"), (3L, "abcd"), (4L, ""),
        (5L, null.asInstanceOf[String])).toDF("doc_id", "text"))
      .as[(Long, Double)].collect().toMap
    def r6(x: Double) = math.rint(x * 1e6) / 1e6
    assert(got.keySet == Set(1L, 2L, 3L)) // empty and NULL absent
    assert(got(1L) == r6(math.log(2))) // ln4 - (2ln2 + 2ln2)/4
    assert(got(2L) == 0.0) // single repeated char
    assert(got(3L) == r6(math.log(4))) // uniform over 4 chars = max
    // ordering: uniform beats skewed beats constant
    assert(got(3L) > got(1L) && got(1L) > got(2L))
  }

  test("winnowFingerprints: coverage, shared-run guarantee, rightmost ties, short docs") {
    // window coverage: consecutive selected positions can never gap by more
    // than `window` (every window of grams contributes its min)
    val doc = (1 to 60).map(i => s"t${i % 17}").mkString(" ")
    val fp = TextAnalysis.winnowFingerprints(
      Seq((1L, doc)).toDF("doc_id", "text"), k = 5, window = 4)
      .as[(Long, Long, Long)].collect().sortBy(_._2)
    assert(fp.nonEmpty)
    fp.sliding(2).foreach {
      case Array(a, b) => assert(b._2 - a._2 <= 4, s"coverage gap ${a._2}->${b._2}")
      case _ =>
    }
    // the paper's guarantee: docs sharing a run of >= k + w - 1 tokens
    // share at least one fingerprint HASH
    val shared = (1 to 8).map(i => s"s$i").mkString(" ") // 8 >= 5 + 4 - 1
    val a = s"alpha beta gamma $shared delta"
    val b = s"$shared omega psi chi phi"
    val two = TextAnalysis.winnowFingerprints(
      Seq((1L, a), (2L, b)).toDF("doc_id", "text"), k = 5, window = 4)
      .as[(Long, Long, Long)].collect()
    val h1 = two.filter(_._1 == 1L).map(_._3).toSet
    val h2 = two.filter(_._1 == 2L).map(_._3).toSet
    assert((h1 & h2).nonEmpty, "shared 8-token run must share a fingerprint")
    // identical grams everywhere: rightmost tie wins, so the selection is
    // exactly positions w-1 .. m-1
    val same = TextAnalysis.winnowFingerprints(
      Seq((1L, Seq.fill(10)("x").mkString(" "))).toDF("doc_id", "text"), k = 2, window = 3)
      .as[(Long, Long, Long)].collect().map(_._2).sorted
    assert(same.toSeq == (2L to 8L)) // m = 9 grams, positions 2..8
    // < k tokens (and NULL) yield nothing; k <= tokens < k+w-1 yields the
    // single all-gram minimum
    val shorts = TextAnalysis.winnowFingerprints(
      Seq((1L, "a b c"), (2L, null.asInstanceOf[String]), (3L, "a b c d e f"))
        .toDF("doc_id", "text"), k = 5, window = 4)
      .as[(Long, Long, Long)].collect()
    assert(!shorts.exists(r => r._1 == 1L || r._1 == 2L))
    assert(shorts.count(_._1 == 3L) == 1) // 2 grams, one partial window
    // deterministic under repartitioning
    val docsDf = graft.io.Tables.load(spark, TestSpark.Sf0001, "documents")
    val x = TextAnalysis.winnowFingerprints(docsDf).as[(Long, Long, Long)].collect().toSet
    val y = TextAnalysis.winnowFingerprints(docsDf.repartition(13))
      .as[(Long, Long, Long)].collect().toSet
    assert(x == y && x.nonEmpty)
    intercept[IllegalArgumentException](TextAnalysis.winnowFingerprints(docsDf, k = 0))
    intercept[IllegalArgumentException](TextAnalysis.winnowFingerprints(docsDf, window = 0))
  }

  test("collocations: exact PMI, minCount pruning, rounded-rank cutoff, null hygiene") {
    // corpus: "a b" x3, "a c" x2, "b b", plus a null doc.
    // Unigrams: a=5, b=5, c=2; bigrams: (a,b)=3, (a,c)=2, (b,b)=1
    val corpus = Seq((1L, "a b"), (2L, "a b"), (3L, "a b"), (4L, "a c"),
      (5L, "a c"), (6L, "b b"), (7L, null.asInstanceOf[String])).toDF("doc_id", "text")
    // nu = 12 tokens, nb = 6 bigrams
    def pmi(c12: Long, c1: Long, c2: Long) =
      math.rint(math.log((c12 / 6.0) / ((c1 / 12.0) * (c2 / 12.0))) * 1e6) / 1e6
    val got = TextAnalysis.collocations(corpus, minCount = 2L, topK = 10)
      .as[(String, String, Long, Double)].collect()
    // (b,b) pruned at minCount=2; both survivors carry the hand-derived PMI
    assert(got.map(r => (r._1, r._2)).toSet == Set(("a", "b"), ("a", "c")))
    val byPair = got.map(r => (r._1, r._2) -> ((r._3, r._4))).toMap
    assert(byPair(("a", "b")) == ((3L, pmi(3, 5, 5))))
    assert(byPair(("a", "c")) == ((2L, pmi(2, 5, 2))))
    // rarer pair has higher PMI (the Church–Hanks point)
    assert(byPair(("a", "c"))._2 > byPair(("a", "b"))._2)
    // cutoff: topK=1 keeps the higher-PMI pair
    val top1 = TextAnalysis.collocations(corpus, minCount = 2L, topK = 1)
      .as[(String, String, Long, Double)].collect()
    assert(top1.map(r => (r._1, r._2)).toSeq == Seq(("a", "c")))
    // PMI ties rank by (w1, w2): two pairs with identical counts everywhere
    val tied = TextAnalysis.collocations(
      Seq((1L, "p q"), (2L, "p q"), (3L, "r s"), (4L, "r s")).toDF("doc_id", "text"),
      minCount = 2L, topK = 1).as[(String, String, Long, Double)].collect()
    assert(tied.map(r => (r._1, r._2)).toSeq == Seq(("p", "q")))
    intercept[IllegalArgumentException](TextAnalysis.collocations(corpus, minCount = 0L))
    intercept[IllegalArgumentException](TextAnalysis.collocations(corpus, topK = 0))
  }

  test("vocabDivergence: exact smoothed KL/JS; zero on identical corpora; JS symmetric and bounded") {
    // a: x x y (Na=3), b: x z (Nb=2); union vocab {x,y,z} V=3
    // p = (2+1)/6, (1+1)/6, (0+1)/6; q = (1+1)/5, (0+1)/5, (1+1)/5
    val a = Seq((1L, "x x"), (2L, "y")).toDF("doc_id", "text")
    val b = Seq((3L, "x z")).toDF("doc_id", "text")
    val p = Seq(3.0 / 6, 2.0 / 6, 1.0 / 6)
    val q = Seq(2.0 / 5, 1.0 / 5, 2.0 / 5)
    def kl(x: Seq[Double], y: Seq[Double]) =
      x.zip(y).map { case (pi, qi) => pi * math.log(pi / qi) }.sum
    val js = (kl(p, p.zip(q).map(t => (t._1 + t._2) / 2)) +
      kl(q, p.zip(q).map(t => (t._1 + t._2) / 2))) / 2
    val got = TextAnalysis.vocabDivergence(a, b).as[(Double, Double, Double)].head()
    assert(math.abs(got._1 - kl(p, q)) < 1e-6 && math.abs(got._2 - kl(q, p)) < 1e-6)
    assert(math.abs(got._3 - js) < 1e-6)
    assert(got._3 >= 0 && got._3 <= math.log(2.0) + 1e-12) // JS in [0, ln 2]
    // identical corpora: every divergence exactly zero
    val same = TextAnalysis.vocabDivergence(a, a).as[(Double, Double, Double)].head()
    assert(same == ((0.0, 0.0, 0.0)))
    // JS is symmetric; the KLs swap
    val rev = TextAnalysis.vocabDivergence(b, a).as[(Double, Double, Double)].head()
    assert(rev._3 == got._3 && rev._1 == got._2 && rev._2 == got._1)
    // disjoint vocabularies stay finite (the add-one point)
    val dis = TextAnalysis.vocabDivergence(
      Seq((1L, "x")).toDF("doc_id", "text"), Seq((2L, "z")).toDF("doc_id", "text"))
      .as[(Double, Double, Double)].head()
    assert(dis._1 > 0 && java.lang.Double.isFinite(dis._1) && dis._3 <= math.log(2.0))
  }

  test("bpeTrain learns Sennrich's classic merge order; bpeSegment reassembles words") {
    // 5x low, 2x lower, 6x newest, 3x widest — the paper's worked example.
    // Pair counts: (e,s)=(s,t)=(t,</w>)=9 tie -> lexicographic left wins.
    val corpus = Seq(
      (1L, Seq.fill(5)("low").mkString(" ")),
      (2L, Seq.fill(2)("lower").mkString(" ")),
      (3L, Seq.fill(6)("newest").mkString(" ")),
      (4L, Seq.fill(3)("widest").mkString(" "))).toDF("doc_id", "text")
    val merges = TextAnalysis.bpeTrain(corpus, "doc_id", "text", 5)
    val got = merges.orderBy("rank").as[(Int, String, String, Long)].collect().toSeq
    assert(got == Seq(
      (0, "e", "s", 9L), (1, "es", "t", 9L), (2, "est", "</w>", 9L),
      (3, "l", "o", 7L), (4, "lo", "w", 7L)))
    val seg = TextAnalysis.bpeSegment(
      Seq((9L, "low newest")).toDF("doc_id", "text"), merges, "doc_id", "text")
      .as[(Long, Seq[String])].head()
    assert(seg == ((9L, Seq("low", "</w>", "n", "e", "w", "est</w>"))))
    // conservation: tokens concatenated and stripped of markers == the text
    val joined = seg._2.mkString.replace("</w>", " ").trim
    assert(joined == "low newest")
  }

  test("bpeTrain stops early when no pair reaches minPairCount") {
    val corpus = Seq((1L, "ab cd")).toDF("doc_id", "text")
    // every adjacent pair occurs once; minPairCount=2 -> zero merges
    assert(TextAnalysis.bpeTrain(corpus, "doc_id", "text", 10).count() == 0L)
  }

  test("bpe property: segmentation conserves every document for random corpora and merge counts") {
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    val genWord = Gen.choose(1, 5).flatMap(n => Gen.stringOfN(n, Gen.oneOf('a', 'b', 'c')))
    val genDoc = Gen.choose(1, 8).flatMap(n => Gen.listOfN(n, genWord)).map(_.mkString(" "))
    val genCorpus = Gen.resize(10, Gen.nonEmptyListOf(genDoc))
      .map(_.zipWithIndex.map { case (t, i) => (i.toLong, t) })
    val prop = Prop.forAll(genCorpus, Gen.choose(1, 12)) { (corpus, merges) =>
      val df = corpus.toDF("doc_id", "text")
      val table = TextAnalysis.bpeTrain(df, "doc_id", "text", merges, minPairCount = 1L)
      val seg = TextAnalysis.bpeSegment(df, table, "doc_id", "text")
        .as[(Long, Seq[String])].collect().toMap
      corpus.forall { case (id, text) =>
        seg(id).mkString.replace("</w>", " ").trim ==
          text.split("\\s+").mkString(" ")
      }
    }
    assert(SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(6), prop).passed)
  }

  test("bpeTrain is partitioning-invariant (total-order argmax tie-break)") {
    val docs = (0 until 40).map(i => (i.toLong, s"alpha beta gam${i % 4} delta"))
      .toDF("doc_id", "text")
    def merges(df: org.apache.spark.sql.DataFrame) =
      TextAnalysis.bpeTrain(df, "doc_id", "text", 6)
        .orderBy("rank").as[(Int, String, String, Long)].collect().toSeq
    assert(merges(docs.repartition(1)) == merges(docs.repartition(13)))
  }

  test("crossEntropyDiff: hand-computed Moore-Lewis scores with add-one smoothing") {
    // raw: d1 "a a b", d2 "c"; target: d1 only. Joint vocab {a,b,c} V=3,
    // N_raw=4, N_tgt=3. Every d1 token scores ln((c_t+1)/6) - ln((c_r+1)/7):
    // a: ln(3/6)-ln(3/7) = ln(7/6); b: ln(2/6)-ln(2/7) = ln(7/6) -> avg ln(7/6).
    // d2's 'c' is target-unseen: ln(1/6)-ln(2/7) = ln(7/12) < 0.
    val raw = Seq((1L, "a a b"), (2L, "c")).toDF("doc_id", "text")
    val got = TextAnalysis.crossEntropyDiff(raw, raw.filter($"doc_id" === 1L), "doc_id", "text")
      .orderBy("doc_id").as[(Long, Long, Double)].collect().toSeq
    assert(got.map(r => (r._1, r._2)) == Seq((1L, 3L), (2L, 1L)))
    assert(math.abs(got(0)._3 - math.log(7.0 / 6.0)) < 1e-12)
    assert(math.abs(got(1)._3 - math.log(7.0 / 12.0)) < 1e-12)
  }

  test("noveltyScores: 0 for covered text, 1 for unseen, exact fraction in between") {
    val ref = Seq((100L, "a b c d e")).toDF("doc_id", "text") // grams {abc,bcd,cde}
    val corpus = Seq(
      (1L, "a b c d e"),     // all 3 grams seen -> novelty 0
      (2L, "p q r s"),       // grams {pqr,qrs}, none seen -> novelty 1
      (3L, "a b c p q r"),   // grams {abc,bcp,cpq,pqr}: 1 of 4 seen -> 0.75
      (4L, "a b"))           // short doc: single whole-doc shingle, unseen -> 1
      .toDF("doc_id", "text")
    val got = TextAnalysis.noveltyScores(corpus, ref, "doc_id", "text", n = 3)
      .as[(Long, Long, Long, Double)].collect().toSet
    assert(got == Set(
      (1L, 3L, 3L, 0.0), (2L, 2L, 0L, 1.0), (3L, 4L, 1L, 0.75), (4L, 1L, 0L, 1.0)))
    Dedup.unpersistAll()
  }

  test("crossEntropyDiff over the fixture corpus: every score finite; the target slice outscores the rest") {
    // the target is one source's docs; two added docs use only tokens the
    // target never saw, which add-one smoothing must keep finite
    val raw = graft.io.Tables.load(spark, TestSpark.Sf0001, "documents")
      .filter(col("text").isNotNull).select("doc_id", "text", "source")
      .unionByName(Seq((-1L, "zzq qqv unseen", "novel"), (-2L, "only novel words", "novel"))
        .toDF("doc_id", "text", "source"))
    val inTarget = col("source") === "src0"
    val (tgt, rest, bad) = TextAnalysis.crossEntropyDiff(raw, raw.filter(inTarget), "doc_id", "text")
      .join(raw.select("doc_id", "source"), "doc_id")
      .agg(avg(when(inTarget, col("ce_diff"))), avg(when(!inTarget, col("ce_diff"))),
        sum(when(col("ce_diff").isNull || isnan(col("ce_diff")) ||
          abs(col("ce_diff")) === Double.PositiveInfinity, 1L).otherwise(0L)))
      .as[(Double, Double, Long)].head()
    Dedup.unpersistAll()
    assert(bad == 0L, s"$bad non-finite ce_diff scores")
    assert(tgt > rest, f"target slice must outscore the rest: $tgt%.4f <= $rest%.4f")
  }
}
