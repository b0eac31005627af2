package org.apache.spark.sql.graftx

import org.apache.spark.sql.catalyst.expressions.{BoundReference, GenericInternalRow}
import org.apache.spark.sql.catalyst.expressions.codegen.GenerateUnsafeProjection
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DoubleType, FloatType, LongType}
import org.scalatest.funsuite.AnyFunSuite

/**
 * Every native expression must COMPILE under projection codegen — not just
 * produce correct results through the interpreted `nullSafeEval` fallback.
 * `GenerateUnsafeProjection.generate` throws if janino rejects the generated
 * Java, so each test pins compilability AND codegen == interpreted output.
 * A wrong FQCN inside a hand-written `doGenCode` string once compiled fine
 * in Scala but failed at janino time on every run, silently degrading to
 * interpreted eval; that hazard is gone by construction now that every
 * `doGenCode` emits one call to its companion's kernel through
 * `classOf[X].getName`, but a kernel signature janino cannot resolve would
 * still fail only here. The last test runs every expression inside a real
 * whole-stage-codegen plan against the same query run interpreted, over
 * the array classes real plans pass (Columnar from parquet, Unsafe and
 * Generic built in the same stage) and null rows.
 */
class CodegenSpec extends AnyFunSuite {

  private val longArray = ArrayType(LongType)
  private val doubleArray = ArrayType(DoubleType)

  private def row(values: Any*) = new GenericInternalRow(values.toArray)
  private def longs(xs: Long*) = new GenericArrayData(xs.toArray)
  private def doubles(xs: Double*) = new GenericArrayData(xs.toArray)

  test("VectorDot codegen compiles and matches interpreted eval") {
    val e = VectorDot(BoundReference(0, doubleArray, nullable = true),
      BoundReference(1, doubleArray, nullable = true))
    val in = row(doubles(1.0, 2.0, 3.0), doubles(4.0, 5.0, 6.0))
    val proj = GenerateUnsafeProjection.generate(Seq(e)) // throws on janino failure
    assert(proj(in).getDouble(0) == e.eval(in).asInstanceOf[Double])
    assert(proj(in).getDouble(0) == 32.0)
  }

  test("SortedIntersectCount codegen compiles and matches interpreted eval") {
    val e = SortedIntersectCount(BoundReference(0, longArray, nullable = true),
      BoundReference(1, longArray, nullable = true))
    val in = row(longs(1L, 3L, 5L, 9L), longs(2L, 3L, 9L, 11L))
    val proj = GenerateUnsafeProjection.generate(Seq(e))
    assert(proj(in).getInt(0) == e.eval(in).asInstanceOf[Int])
    assert(proj(in).getInt(0) == 2)
  }

  test("SimHash64 codegen compiles and matches interpreted eval") {
    val e = SimHash64(BoundReference(0, longArray, nullable = true))
    val in = row(longs(0x0F0FL, 0x0F0FL, 0xF000L))
    val proj = GenerateUnsafeProjection.generate(Seq(e))
    assert(proj(in).getLong(0) == e.eval(in).asInstanceOf[Long])
  }

  test("VectorNormalize codegen compiles, matches interpreted eval, both input widths") {
    // double input
    val ed = VectorNormalize(BoundReference(0, doubleArray, nullable = true))
    val ind = row(doubles(3.0, 4.0))
    val projd = GenerateUnsafeProjection.generate(Seq(ed))
    val gotD = projd(ind).getArray(0).toDoubleArray()
    assert(gotD.sameElements(ed.eval(ind).asInstanceOf[ArrayData].toDoubleArray()))
    assert(gotD.sameElements(Array(0.6, 0.8)))
    // float input: the cast folds into the read
    val ef = VectorNormalize(BoundReference(0, ArrayType(FloatType), nullable = true))
    val inf = row(new GenericArrayData(Array(3.0f, 4.0f)))
    val projf = GenerateUnsafeProjection.generate(Seq(ef))
    val gotF = projf(inf).getArray(0).toDoubleArray()
    assert(gotF.sameElements(ef.eval(inf).asInstanceOf[ArrayData].toDoubleArray()))
    assert(gotF.sameElements(Array(0.6, 0.8)))
    // zero vector → zeros, never NaN (would poison cos-desc rankings)
    val zin = row(doubles(0.0, 0.0, 0.0))
    assert(projd(zin).getArray(0).toDoubleArray().sameElements(Array(0.0, 0.0, 0.0)))
  }

  test("MinHashSignature codegen compiles and matches interpreted eval") {
    val e = MinHashSignature(BoundReference(0, longArray, nullable = true), 32)
    val in = row(longs(11L, 22L, 33L, 44L))
    val proj = GenerateUnsafeProjection.generate(Seq(e))
    val fromCodegen = proj(in).getArray(0).toLongArray()
    val interp = e.eval(in).asInstanceOf[ArrayData].toLongArray()
    assert(fromCodegen.sameElements(interp))
    assert(fromCodegen.length == 32)
  }

  test("CentroidSims codegen compiles, matches interpreted eval, dots and angles") {
    val m = Array(Array(1.0, 0.0), Array(0.6, 0.8))
    val in = row(doubles(0.6, 0.8))
    val dotsE = CentroidSims(BoundReference(0, doubleArray, nullable = true), m, asAngles = false)
    val dotsProj = GenerateUnsafeProjection.generate(Seq(dotsE))
    val gotDots = dotsProj(in).getArray(0).toDoubleArray()
    assert(gotDots.sameElements(dotsE.eval(in).asInstanceOf[ArrayData].toDoubleArray()))
    assert(gotDots.sameElements(Array(0.6, 1.0)))
    val angE = CentroidSims(BoundReference(0, doubleArray, nullable = true), m, asAngles = true)
    val angProj = GenerateUnsafeProjection.generate(Seq(angE))
    val gotAng = angProj(in).getArray(0).toDoubleArray()
    assert(gotAng.sameElements(angE.eval(in).asInstanceOf[ArrayData].toDoubleArray()))
    assert(gotAng(0) == math.acos(0.6) && gotAng(1) == 0.0) // clamp holds 1.0000...1 at 0
    // the motivating case: nlist x dim big enough that the CreateArray
    // formulation overflowed janino's 64 KB method limit — this must compile
    val wide = Array.tabulate(16, 1024)((c, i) => (c * 1024 + i) / 16384.0)
    val wideE = CentroidSims(BoundReference(0, doubleArray, nullable = true), wide, asAngles = true)
    GenerateUnsafeProjection.generate(Seq(wideE)) // throws on janino failure
  }

  test("SignBandKeys codegen compiles, matches interpreted eval, band separation") {
    // 2 bands x 2 rows: v=(1,0) signs = (+,-,+,+) -> band0 packed=0b01, band1 packed=0b11
    val planes = Array(Array(1.0, 0.0), Array(-1.0, 0.5), Array(0.5, 0.0), Array(2.0, -1.0))
    val e = SignBandKeys(BoundReference(0, doubleArray, nullable = true), planes, 2, 2)
    val in = row(doubles(1.0, 0.0))
    val proj = GenerateUnsafeProjection.generate(Seq(e))
    val got = proj(in).getArray(0).toLongArray()
    assert(got.sameElements(e.eval(in).asInstanceOf[ArrayData].toLongArray()))
    assert(got.length == 2 && got(0) != got(1)) // band mixing separates equal sign patterns? no:
    // packed differs (01 vs 11) AND band ordinal mixes; equal packed across bands must differ too
    val e2 = SignBandKeys(BoundReference(0, doubleArray, nullable = true),
      Array(Array(1.0, 0.0), Array(1.0, 0.0), Array(1.0, 0.0), Array(1.0, 0.0)), 2, 2)
    val got2 = e2.eval(in).asInstanceOf[ArrayData].toLongArray()
    assert(got2(0) != got2(1), "identical sign patterns in different bands must not share buckets")
    // the motivating case: 144 planes x dim 512 must still compile
    val wide = Array.tabulate(144, 512)((p, i) => ((p * 512 + i) % 97 - 48) / 48.0)
    GenerateUnsafeProjection.generate(Seq(
      SignBandKeys(BoundReference(0, doubleArray, nullable = true), wide, 12, 12)))
  }

  test("BpeMergeAdjacent codegen compiles, matches interpreted eval, left-to-right non-overlap") {
    import org.apache.spark.sql.types.StringType
    import org.apache.spark.unsafe.types.UTF8String
    def u(s: String) = UTF8String.fromString(s)
    def syms(xs: String*) = new GenericArrayData(xs.map(u).toArray)
    val e = BpeMergeAdjacent(
      BoundReference(0, ArrayType(StringType), nullable = true),
      BoundReference(1, StringType, nullable = true),
      BoundReference(2, StringType, nullable = true))
    // [a a a] merging (a,a) -> [aa a]: the published non-overlap contract
    val in = row(syms("a", "a", "a"), u("a"), u("a"))
    val proj = GenerateUnsafeProjection.generate(Seq(e))
    def strings(a: ArrayData) = (0 until a.numElements()).map(a.getUTF8String(_).toString)
    assert(strings(proj(in).getArray(0)) == Seq("aa", "a"))
    assert(strings(e.eval(in).asInstanceOf[ArrayData]) == Seq("aa", "a"))
    val in2 = row(syms("l", "o", "w", "</w>"), u("l"), u("o"))
    assert(strings(proj(in2).getArray(0)) == Seq("lo", "w", "</w>"))
  }

  test("UnicodeNormalize codegen compiles, matches interpreted eval, composes and reorders") {
    import org.apache.spark.sql.types.StringType
    import org.apache.spark.unsafe.types.UTF8String
    def u(s: String) = UTF8String.fromString(s)
    val e = UnicodeNormalize(BoundReference(0, StringType, nullable = true), "NFC")
    val proj = GenerateUnsafeProjection.generate(Seq(e)) // throws on janino failure
    // decomposed e + U+0301 composes to U+00E9
    val in = row(u("café"))
    assert(proj(in).getUTF8String(0).toString == "caf\u00E9")
    assert(e.eval(in).asInstanceOf[UTF8String].toString == "caf\u00E9")
    // out-of-canonical-order marks (dot above ccc 230 before dot below ccc
    // 220) must reorder, then the dot below composes: e -> U+1EB9 + U+0307
    val in2 = row(u("e\u0307\u0323"))
    assert(proj(in2).getUTF8String(0).toString == "\u1EB9\u0307")
    // already-NFC text passes through unchanged (and eval takes the
    // zero-copy isNormalized fast path: SAME UTF8String instance back)
    val plain = u("plain ascii caf\u00E9")
    assert(proj(row(plain)).getUTF8String(0).toString == plain.toString)
    assert(e.eval(row(plain)).asInstanceOf[UTF8String] eq plain)
    // pure ASCII takes the no-decode fast path: identity without Normalizer
    val ascii = u("plain ascii only")
    assert(e.eval(row(ascii)).asInstanceOf[UTF8String] eq ascii)
    assert(proj(row(ascii)).getUTF8String(0).toString == ascii.toString)
    // NULL in, NULL out; bad form refused at construction
    assert(e.eval(row(null)) == null)
    assertThrows[IllegalArgumentException](
      UnicodeNormalize(BoundReference(0, StringType, nullable = true), "NFX"))
  }

  test("JaroWinkler codegen compiles, matches interpreted eval and the DuckDB reference values") {
    import org.apache.spark.sql.types.StringType
    import org.apache.spark.unsafe.types.UTF8String
    def u(s: String) = UTF8String.fromString(s)
    val e = JaroWinkler(BoundReference(0, StringType, nullable = true),
      BoundReference(1, StringType, nullable = true))
    val proj = GenerateUnsafeProjection.generate(Seq(e)) // throws on janino failure
    def jw(a: String, b: String): Double = {
      val in = row(u(a), u(b))
      val c = proj(in).getDouble(0)
      assert(c == e.eval(in).asInstanceOf[Double], s"codegen != eval for ($a,$b)")
      c
    }
    // every ASCII expected value below was probed from DuckDB's
    // jaro_winkler_similarity — the independent implementation the
    // dedup_name_linkage oracle compares against (the two kernels agree
    // exactly on ASCII; see the non-ASCII divergence case at the end)
    assert(math.abs(jw("martha", "marhta") - 0.9611111111111111) < 1e-15)
    assert(math.abs(jw("dixon", "dicksonx") - 0.8133333333333332) < 1e-15)
    assert(math.abs(jw("dwayne", "duane") - 0.84) < 1e-15)
    assert(math.abs(jw("hello", "h") - 0.76) < 1e-15)
    // crate/trace: no common prefix → no boost even though jaro > 0.7
    assert(math.abs(jw("crate", "trace") - 0.7333333333333334) < 1e-15)
    // below the 0.7 boost threshold: common prefix must NOT boost
    assert(math.abs(jw("aaabbb", "aaaccc") - 0.6666666666666666) < 1e-15)
    // ODD half-transposition count truncates (integer division): a 3-cycle
    // in the matched sequence gives t = 3/2 = 1, not 1.5
    assert(math.abs(jw("xyzaaaaa", "yzxaaaaa") - 0.9583333333333334) < 1e-15)
    // match window floor(max/2)-1: length-2 swaps cannot match at all
    assert(jw("ab", "ba") == 0.0)
    // empty-either → 0 (DuckDB semantics, NOT the both-empty=1 variant)
    assert(jw("", "") == 0.0)
    assert(jw("a", "") == 0.0)
    assert(jw("abc", "abc") == 1.0)
    // code points, not UTF-16 units: astral pair compares as one character
    assert(jw("a😀b", "a😀b") == 1.0)
    // CODE-POINT semantics on multibyte text (the rapidfuzz convention):
    // café/cafe = jaro (3/4+3/4+1)/3 = 5/6, boosted by prefix 3 →
    // 5/6 + 0.3·1/6 = 0.8833…  — DuckDB's BYTE-based comparator gives
    // 0.8483 here (the 2-byte é counts twice in its lengths); the two
    // agree exactly on ASCII, which is all the linkage oracle compares
    assert(math.abs(jw("café", "cafe") - (5.0 / 6 + 0.3 * (1 - 5.0 / 6))) < 1e-15)
    // NULL propagation
    assert(e.eval(row(null, u("x"))) == null)
    assert(e.eval(row(u("x"), null)) == null)
  }

  test("every native expression: whole-stage codegen == interpreted over parquet, same-stage and null arrays") {
    import org.apache.spark.sql.{Column, DataFrame, SparkSession}
    import org.apache.spark.sql.execution.{ProjectExec, WholeStageCodegenExec}
    import org.apache.spark.sql.functions._
    import TextFunctions._
    import VectorFunctions._
    val spark = graft.TestSpark.spark
    import spark.implicits._
    val path = graft.TestSpark.tempDir("graftx-parity").resolve("in").toString
    Seq(
      (1L, Some(Seq(0.6, 0.8, 0.0)), Some(Seq(1.0, -2.0, 3.0)), Some(Seq(3.0f, 4.0f)),
        Some(Seq(1L, 3L, 5L, 9L)), Some(Seq(2L, 3L, 9L)), Some(Seq("l", "o", "w", "</w>")),
        Some("l"), Some("o")),
      (2L, Some(Seq(-0.1, 0.2, -0.3)), Some(Seq(0.0, 0.0, 0.0)), Some(Seq(0.0f, 0.0f)),
        Some(Seq(-7L, 15L, 240L)), Some(Seq(-7L, 240L)), Some(Seq("a", "a", "a")),
        Some("cafe\u0301"), Some("caf\u00E9")),
      (3L, Some(Seq.empty[Double]), Some(Seq(1.0)), Some(Seq.empty[Float]),
        Some(Seq.empty[Long]), Some(Seq(4L)), Some(Seq.empty[String]), Some(""), Some("martha")),
      (4L, Some(Seq(1.0, 1.0, 1.0)), None, None, Some(Seq(8L)), None, Some(Seq("x")), None,
        Some("marhta")),
      (5L, None, None, None, None, None, None, None, None)
    ).toDF("id", "a", "b", "f", "h1", "h2", "syms", "s1", "s2").write.parquet(path)

    val m = Array(Array(1.0, 0.0, 0.0), Array(0.6, 0.8, 0.0))
    val planes = Array.tabulate(6, 3)((p, i) => ((p * 3 + i) % 5 - 2) / 2.0)
    def kernels(tag: String, a: Column, b: Column, f: Column, h1: Column, h2: Column,
        syms: Column, s1: Column, s2: Column): Seq[Column] = Seq(
      vec_dot(a, b), vec_normalize(a), vec_normalize(f), centroid_dots(a, m),
      centroid_angles(a, m), sign_band_keys(a, planes, 2, 3), sorted_intersect_count(h1, h2),
      simhash64(h1), minhash_signature(h1, 16), bpe_merge_adjacent(syms, s1, s2),
      unicode_normalize(s1, "NFC"), jaro_winkler(s1, s2)
    ).zipWithIndex.map { case (c, i) => c.as(s"${tag}_$i") }
    def in(c: String) = col(c)
    // arrays as parquet hands them over, and arrays built in the same
    // codegen stage (`array`; `when` keeps a null input row null)
    def sameStage(c: String, elems: Column*) = when(col(c).isNotNull, array(elems: _*))
    def direct(s: SparkSession): DataFrame = s.read.parquet(path).select(col("id") +:
      (kernels("pq", in("a"), in("b"), in("f"), in("h1"), in("h2"), in("syms"), in("s1"), in("s2")) ++
        kernels("built",
          sameStage("a", size(col("a")).cast("double"), lit(-0.5), lit(0.25)),
          sameStage("b", lit(2.0), size(col("b")).cast("double"), lit(-1.0)),
          sameStage("f", size(col("f")).cast("float"), lit(1.5f)),
          sameStage("h1", size(col("h1")).cast("long"), lit(100L)),
          sameStage("h2", lit(-3L), size(col("h2")).cast("long")),
          sameStage("syms", coalesce(col("s1"), lit("a")), coalesce(col("s2"), lit("b")), lit("a")),
          col("s1"), col("s2"))): _*)
    // arrays a higher-order function builds (GenericArrayData on both paths)
    def lambdas(s: SparkSession): DataFrame = s.read.parquet(path).select(col("id") +:
      kernels("hof", transform(col("a"), x => x * 2.0), transform(col("b"), x => x - 1.0),
        transform(col("f"), x => x * 2.0f), transform(col("h1"), x => x + 1L),
        transform(col("h2"), x => x + 1L), transform(col("syms"), x => upper(x)),
        upper(col("s1")), upper(col("s2"))): _*)

    val codegen = spark.newSession()
    codegen.conf.set("spark.sql.codegen.wholeStage", "true")
    codegen.conf.set("spark.sql.codegen.factoryMode", "CODEGEN_ONLY")
    codegen.conf.set("spark.sql.codegen.fallback", "false") // a janino failure fails the query
    val interpreted = spark.newSession()
    interpreted.conf.set("spark.sql.codegen.wholeStage", "false")
    interpreted.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")

    val staged = direct(codegen)
    val inStage = staged.queryExecution.executedPlan.collect { case w: WholeStageCodegenExec =>
      w.child.collect { case p: ProjectExec => p.projectList }.flatten
    }.flatten.flatMap(_.collect {
      case e if e.getClass.getPackage.getName == "org.apache.spark.sql.graftx" =>
        e.getClass.getSimpleName
    }).toSet
    assert(inStage == Set("VectorDot", "VectorNormalize", "CentroidSims", "SignBandKeys",
      "SortedIntersectCount", "SimHash64", "MinHashSignature", "BpeMergeAdjacent",
      "UnicodeNormalize", "JaroWinkler"), staged.queryExecution.executedPlan)
    for ((label, q) <- Seq("parquet/array" -> direct _, "transform" -> lambdas _)) {
      val got = q(codegen).collect().toSeq.sortBy(_.getLong(0))
      val want = q(interpreted).collect().toSeq.sortBy(_.getLong(0))
      assert(got.size == 5 && got == want, s"$label: codegen $got != interpreted $want")
      // a null input row yields null from every kernel
      assert(got.last.toSeq.tail.forall(_ == null), s"$label: ${got.last}")
    }
  }
}
