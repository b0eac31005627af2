// Lives under org.apache.spark.sql so it can see the private[sql] pieces a
// native expression needs (AbstractDataType, classic.ExpressionUtils) — the
// standard packaging for out-of-tree Catalyst expressions.
//
// Same one-kernel shape as VectorExpressions.scala: the arithmetic lives in
// one static method on the companion, called by `nullSafeEval` and emitted
// as one call by `doGenCode`.
package org.apache.spark.sql.graftx

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, ExpectsInputTypes, Expression, TernaryExpression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.types.{AbstractDataType, ArrayType, DataType, DoubleType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/**
 * One BPE merge step applied to a symbol sequence: every LEFT-TO-RIGHT,
 * NON-OVERLAPPING adjacent occurrence of `(left, right)` in the
 * `array<string>` is replaced by their concatenation — the inner loop of
 * byte-pair-encoding vocabulary induction (Sennrich et al. 2016,
 * arXiv:1508.07909) and of applying a learned merge table to new text.
 *
 * Left-to-right non-overlap is the published contract: on symbols
 * `[a a a]` merging `(a, a)` yields `[aa a]`, not `[a aa]` and not
 * `[aa aa]`. A higher-order-function equivalent does not exist (the scan
 * is stateful — consuming a pair advances two positions), and a Scala UDF
 * here would box every symbol of every word type per merge round; this
 * expression stays inside whole-stage codegen, calling the tight
 * UTF8String loop of [[BpeMergeAdjacent.merge]].
 */
case class BpeMergeAdjacent(first: Expression, second: Expression, third: Expression)
    extends TernaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] =
    Seq(ArrayType(StringType), StringType, StringType)
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "bpe_merge_adjacent"

  override def nullSafeEval(arr: Any, l: Any, r: Any): Any = BpeMergeAdjacent.merge(
    arr.asInstanceOf[ArrayData], l.asInstanceOf[UTF8String], r.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (arr, l, r) => s"${classOf[BpeMergeAdjacent].getName}.merge($arr, $l, $r)")

  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression, newThird: Expression): Expression =
    copy(first = newFirst, second = newSecond, third = newThird)
}

object BpeMergeAdjacent {
  def merge(xs: ArrayData, l: UTF8String, r: UTF8String): ArrayData = {
    val n = xs.numElements()
    val out = new java.util.ArrayList[UTF8String](n)
    var i = 0
    while (i < n) {
      val cur = xs.getUTF8String(i)
      if (i + 1 < n && cur.equals(l) && xs.getUTF8String(i + 1).equals(r)) {
        out.add(UTF8String.concat(l, r))
        i += 2
      } else {
        out.add(cur)
        i += 1
      }
    }
    new GenericArrayData(out.toArray)
  }
}

/**
 * Unicode canonical/compatibility normalization (NFC/NFD/NFKC/NFKD) — the
 * repair step a crawl pipeline applies after encoding screening and before
 * fingerprint/dedup (ftfy normalizes to NFC; utf8proc-based stacks do the
 * same), so that `café` typed precomposed (U+00E9) and decomposed
 * (`e` + U+0301) hash identically. Spark has NO built-in for this; a Scala
 * UDF would pay serialization per row. The JDK's `java.text.Normalizer` is
 * the reference implementation surface, called from the static
 * [[UnicodeNormalize.normalize]] kernel with two fast paths: pure-ASCII
 * input (one byte per code point — and ASCII is invariant under every
 * normal form) returns the INPUT UTF8String without even decoding to
 * UTF-16, and already-normal non-ASCII text returns it after one
 * `isNormalized` check, so only rows that actually change pay the
 * normalize allocation.
 *
 * `form` is a plan-time constant (validated at construction), not a child
 * expression, so codegen inlines the enum constant.
 */
case class UnicodeNormalize(child: Expression, form: String)
    extends UnaryExpression with ExpectsInputTypes {
  require(UnicodeNormalize.Forms(form),
    s"form must be one of ${UnicodeNormalize.Forms.toSeq.sorted.mkString("/")}: $form")

  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
  override def dataType: DataType = StringType
  override def prettyName: String = "unicode_normalize"

  @transient private lazy val resolvedForm = java.text.Normalizer.Form.valueOf(form)

  override def nullSafeEval(input: Any): Any =
    UnicodeNormalize.normalize(input.asInstanceOf[UTF8String], resolvedForm)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"${classOf[UnicodeNormalize].getName}.normalize($c, java.text.Normalizer.Form.$form)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object UnicodeNormalize {
  val Forms: Set[String] = Set("NFC", "NFD", "NFKC", "NFKD")

  def normalize(u: UTF8String, form: java.text.Normalizer.Form): UTF8String =
    // pure-ASCII fast path with NO decode at all: one byte per code point
    // means ASCII, and ASCII is invariant under all four normal forms —
    // the corpus majority never leaves UTF8String
    if (u.numBytes == u.numChars) u
    else {
      val s = u.toString
      if (java.text.Normalizer.isNormalized(s, form)) u
      else UTF8String.fromString(java.text.Normalizer.normalize(s, form))
    }
}

/**
 * Jaro–Winkler similarity between two strings in [0, 1] — the standard
 * record-linkage comparator (Winkler 1990, the census name-matching
 * heuristic): Jaro similarity (matches within a ⌊max(l₁,l₂)/2⌋−1 window,
 * transposition penalty) boosted by up to 4 code points of common prefix
 * when the base similarity exceeds 0.7.
 *
 * Semantics pinned to the standard implementation family, verified
 * case-by-case in `CodegenSpec`: either side empty → 0.0; transposition
 * count is ⌊half-transpositions / 2⌋ (INTEGER division — an odd
 * half-count truncates); the prefix boost applies iff jaro > 0.7 on the
 * computed double; comparison is by UNICODE CODE POINT (the rapidfuzz
 * convention — 'é' is ONE edit unit). NOTE: DuckDB's
 * `jaro_winkler_similarity` is BYTE-based (probed:
 * `('café','cafe')` → 0.8483 there vs 0.8833 here, because the
 * two-byte é counts twice in its lengths); the two agree exactly on
 * ASCII — which is what the `dedup_name_linkage` oracle cross-checks —
 * and diverge by design on multibyte text, where code-point semantics
 * is the better linkage comparator (spec pins the café case to OUR
 * value and documents the divergence).
 *
 * Spark ships no string-similarity comparator beyond `levenshtein`, and a
 * Scala UDF here would pay per-row boxing on the O(n·window) hot loop of
 * every blocked candidate pair — this stays inside whole-stage codegen by
 * emitting a call to the static [[JaroWinkler.score]] kernel (the same
 * compiled-once-JIT-inlined shape Spark's own `levenshtein` uses via
 * `UTF8String.levenshteinDistance`).
 */
case class JaroWinkler(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] = Seq(StringType, StringType)
  override def dataType: DataType = DoubleType
  override def prettyName: String = "jaro_winkler"

  override def nullSafeEval(a: Any, b: Any): Any =
    JaroWinkler.score(a.asInstanceOf[UTF8String], b.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"${classOf[JaroWinkler].getName}.score($a, $b)")

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): Expression = copy(left = newLeft, right = newRight)
}

object JaroWinkler {

  /** The kernel: code-point Jaro–Winkler, rapidfuzz/DuckDB-compatible.
    * Static so generated code calls it without boxing or dispatch. */
  def score(a: UTF8String, b: UTF8String): Double = {
    val c1 = toCodePoints(a)
    val c2 = toCodePoints(b)
    val l1 = c1.length
    val l2 = c2.length
    if (l1 == 0 || l2 == 0) return 0.0
    val window = math.max(0, math.max(l1, l2) / 2 - 1)
    val m1 = new Array[Boolean](l1)
    val m2 = new Array[Boolean](l2)
    var m = 0
    var i = 0
    while (i < l1) {
      val hi = math.min(l2 - 1, i + window)
      var j = math.max(0, i - window)
      var found = false
      while (j <= hi && !found) {
        if (!m2(j) && c1(i) == c2(j)) {
          m1(i) = true; m2(j) = true; m += 1; found = true
        }
        j += 1
      }
      i += 1
    }
    if (m == 0) return 0.0
    var half = 0
    var j = 0
    i = 0
    while (i < l1) {
      if (m1(i)) {
        while (!m2(j)) j += 1
        if (c1(i) != c2(j)) half += 1
        j += 1
      }
      i += 1
    }
    val t = half / 2 // integer truncation — the pinned standard behavior
    val md = m.toDouble
    val jaro = (md / l1 + md / l2 + (md - t) / md) / 3.0
    if (jaro <= 0.7) return jaro
    var p = 0
    val pMax = math.min(4, math.min(l1, l2))
    while (p < pMax && c1(p) == c2(p)) p += 1
    jaro + p * 0.1 * (1.0 - jaro)
  }

  private def toCodePoints(u: UTF8String): Array[Int] = {
    val s = u.toString
    val n = s.codePointCount(0, s.length)
    val out = new Array[Int](n)
    var ci = 0
    var k = 0
    while (k < n) {
      val cp = s.codePointAt(ci)
      out(k) = cp
      ci += Character.charCount(cp)
      k += 1
    }
    out
  }
}

/** Column wrappers for the text expressions. */
object TextFunctions {
  def bpe_merge_adjacent(symbols: Column, left: Column, right: Column): Column =
    ExpressionUtils.column(BpeMergeAdjacent(
      ExpressionUtils.expression(symbols),
      ExpressionUtils.expression(left),
      ExpressionUtils.expression(right)))

  def unicode_normalize(text: Column, form: String): Column =
    ExpressionUtils.column(UnicodeNormalize(ExpressionUtils.expression(text), form))

  def jaro_winkler(a: Column, b: Column): Column =
    ExpressionUtils.column(JaroWinkler(
      ExpressionUtils.expression(a), ExpressionUtils.expression(b)))
}
