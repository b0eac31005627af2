// Lives under org.apache.spark.sql so it can see the private[sql] pieces a
// native expression needs (AbstractDataType, classic.ExpressionUtils) — the
// standard packaging for out-of-tree Catalyst expressions.
//
// One kernel per expression: each expression's arithmetic lives in ONE
// static method on its companion object. `nullSafeEval` calls it and
// `doGenCode` emits one call to it (`defineCodeGen` over
// `classOf[X].getName`, plan constants such as seed tables and matrices
// passed through `ctx.addReferenceObj`), so the interpreted and the
// generated path cannot drift apart, and the JIT compiles each loop once
// (the shape of Spark's own `levenshtein`). Kernels read `ArrayData` and
// never assume one array class: Unsafe, Generic and Columnar arrays all
// arrive. A primitive array result is `UnsafeArrayData.fromPrimitiveArray`.
package org.apache.spark.sql.graftx

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, ExpectsInputTypes, Expression, UnaryExpression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.types.{AbstractDataType, ArrayType, DataType, DoubleType, FloatType, IntegerType, LongType, TypeCollection}

/**
 * Native Catalyst expression for dense-vector dot products.
 *
 * The built-in route (`aggregate(zip_with(a, b, _*_), 0d, _+_)`) allocates an
 * intermediate array and evaluates an interpreted lambda per element — on an
 * O(n²) similarity-pair scan that is the entire runtime. This expression
 * participates in whole-stage codegen: the generated Java is one call to the
 * static [[VectorDot.dot]] kernel, a tight primitive loop over the two
 * `ArrayData`s (no allocation, no virtual lambda calls), which benchmarked
 * ~40× faster on the embedding near-dup pair scan.
 *
 * Inputs are dense `array<double>` (cast `array<float>` embeddings first);
 * null elements are not expected (dense embeddings) and are treated as
 * whatever `ArrayData.getDouble` yields for them.
 */
case class VectorDot(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(DoubleType), ArrayType(DoubleType))
  override def dataType: DataType = DoubleType
  override def prettyName: String = "vector_dot"

  override def nullSafeEval(a: Any, b: Any): Any =
    VectorDot.dot(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"${classOf[VectorDot].getName}.dot($a, $b)")

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object VectorDot {
  /** Σ xᵢ·yᵢ over the shorter length, summed in element order. */
  def dot(x: ArrayData, y: ArrayData): Double = {
    val n = math.min(x.numElements(), y.numElements())
    var s = 0.0
    var i = 0
    while (i < n) {
      s += x.getDouble(i) * y.getDouble(i)
      i += 1
    }
    s
  }

  /** The same sum against a plan-constant matrix row (bit-identical to
    * [[dot]] on that row as an array). */
  def dot(row: Array[Double], v: ArrayData): Double = {
    val n = math.min(row.length, v.numElements())
    var s = 0.0
    var i = 0
    while (i < n) { s += row(i) * v.getDouble(i); i += 1 }
    s
  }
}

/**
 * Codegen'd intersection size of two SORTED `array<bigint>` columns (one
 * sorted-merge pass, no allocation). Backs the exact-Jaccard verification of
 * the dedup similarity joins, where `array_intersect`/`array_union` on
 * generic arrays (hash-set per pair, per row) is the dominant cost.
 * Inputs MUST be sorted ascending and duplicate-free (see
 * `graft.ext.Dedup.hashedShingleSets`).
 */
case class SortedIntersectCount(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(LongType), ArrayType(LongType))
  override def dataType: DataType = IntegerType
  override def prettyName: String = "sorted_intersect_count"

  override def nullSafeEval(a: Any, b: Any): Any =
    SortedIntersectCount.count(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"${classOf[SortedIntersectCount].getName}.count($a, $b)")

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object SortedIntersectCount {
  def count(x: ArrayData, y: ArrayData): Int = {
    var i = 0
    var j = 0
    var c = 0
    while (i < x.numElements() && j < y.numElements()) {
      val xv = x.getLong(i)
      val yv = y.getLong(j)
      if (xv == yv) { c += 1; i += 1; j += 1 }
      else if (xv < yv) i += 1
      else j += 1
    }
    c
  }
}

/**
 * Codegen'd 64-bit SimHash over an `array<bigint>` of element hashes: bit k
 * of the result is set iff more elements have bit k set than clear. Replaces
 * an explode + 64-sum-aggregate shuffle with a single per-row pass — SimHash
 * becomes a pure map over the corpus (no shuffle at all until blocking).
 */
case class SimHash64(child: Expression) extends UnaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(LongType))
  override def dataType: DataType = LongType
  override def prettyName: String = "simhash64"

  override def nullSafeEval(a: Any): Any = SimHash64.fingerprint(a.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, a => s"${classOf[SimHash64].getName}.fingerprint($a)")

  override protected def withNewChildInternal(newChild: Expression): Expression = copy(child = newChild)
}

object SimHash64 {
  def fingerprint(x: ArrayData): Long = {
    val votes = new Array[Int](64)
    var i = 0
    while (i < x.numElements()) {
      val h = x.getLong(i)
      var b = 0
      while (b < 64) {
        votes(b) += (if (((h >>> b) & 1L) == 1L) 1 else -1)
        b += 1
      }
      i += 1
    }
    var fp = 0L
    var b = 0
    while (b < 64) {
      if (votes(b) > 0) fp |= (1L << b)
      b += 1
    }
    fp
  }
}

/**
 * Codegen'd MinHash signature over an `array<bigint>` of element hashes:
 * `numHashes` independent min-hashes, hash family `mix(h ^ seed_i)` with a
 * splitmix64-style finalizer (public-domain mixing constants). One per-row
 * pass replacing an explode + N-min-aggregate shuffle; the signature array
 * feeds LSH banding downstream. The seed table travels into generated code
 * as one plan reference.
 */
case class MinHashSignature(child: Expression, numHashes: Int)
    extends UnaryExpression with ExpectsInputTypes {
  require(numHashes > 0 && numHashes <= 512, "numHashes must be in 1..512")

  override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(LongType))
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "minhash_signature"

  private lazy val seeds: Array[Long] = MinHashSignature.seedTable(numHashes)

  override def nullSafeEval(a: Any): Any =
    MinHashSignature.signature(a.asInstanceOf[ArrayData], seeds)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val seedsRef = ctx.addReferenceObj("seeds", seeds, "long[]")
    defineCodeGen(ctx, ev, a => s"${classOf[MinHashSignature].getName}.signature($a, $seedsRef)")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression = copy(child = newChild)
}

object MinHashSignature {
  /** splitmix64 finalizer (public-domain constants). */
  def mix(z0: Long): Long = {
    var z = z0
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  /** splitmix64 seeds, one per hash function (deterministic). */
  def seedTable(numHashes: Int): Array[Long] = {
    val out = new Array[Long](numHashes)
    var x = 0x9E3779B97F4A7C15L
    var i = 0
    while (i < numHashes) {
      x += 0x9E3779B97F4A7C15L
      out(i) = mix(x)
      i += 1
    }
    out
  }

  /** Per seed, the least `mix(h ^ seed)` over the element hashes. */
  def signature(x: ArrayData, seeds: Array[Long]): ArrayData = {
    val sig = Array.fill(seeds.length)(Long.MaxValue)
    var i = 0
    while (i < x.numElements()) {
      val h = x.getLong(i)
      var k = 0
      while (k < seeds.length) {
        val v = mix(h ^ seeds(k))
        if (v < sig(k)) sig(k) = v
        k += 1
      }
      i += 1
    }
    UnsafeArrayData.fromPrimitiveArray(sig)
  }
}

/**
 * Codegen'd unit normalization of a dense vector: `array<float>` or
 * `array<double>` in, unit-norm `array<double>` out (the zero vector maps to
 * all-zeros, NOT NaN — a zero embedding must score 0 against everything, not
 * poison top-k rankings; see `Similarity.unitized`).
 *
 * Exists because the composed route — `cast` to double + `transform(v,
 * x -> x / norm)` — contains a higher-order lambda, and HigherOrderFunction
 * has no codegen: its presence makes the WHOLE projection fall back to
 * interpreted evaluation (boxed elements, virtual calls — including every
 * other expression in the projection, such as the array cast). Measured on
 * a 20 k-vector dim-1024 replica corpus that fallback was the dominant cost
 * of the IVF path (BASELINE.md, "Round-6 similarity-path codegen fix").
 * This expression is one tight primitive loop, folds the float→double
 * cast into the read, and keeps the projection inside whole-stage codegen.
 * Arithmetic is IDENTICAL to the composed route
 * (in-order sum of squares, per-element divide), so gated oracle results are
 * bit-unchanged.
 */
case class VectorNormalize(child: Expression)
    extends UnaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] =
    Seq(TypeCollection(ArrayType(FloatType), ArrayType(DoubleType)))
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def prettyName: String = "vector_normalize"

  private def isFloat: Boolean =
    child.dataType.asInstanceOf[ArrayType].elementType == FloatType

  override def nullSafeEval(a: Any): Any = VectorNormalize.unit(a.asInstanceOf[ArrayData], isFloat)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, a => s"${classOf[VectorNormalize].getName}.unit($a, $isFloat)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object VectorNormalize {
  def unit(x: ArrayData, isFloat: Boolean): ArrayData = {
    val n = x.numElements()
    val out = new Array[Double](n)
    var s = 0.0
    var i = 0
    while (i < n) {
      val v = if (isFloat) x.getFloat(i).toDouble else x.getDouble(i)
      out(i) = v
      s += v * v
      i += 1
    }
    val norm = math.sqrt(s)
    if (norm > 0.0) {
      var j = 0
      while (j < n) { out(j) /= norm; j += 1 }
    }
    UnsafeArrayData.fromPrimitiveArray(out)
  }
}

/**
 * All-centroids similarity of one vector against a LITERAL centroid matrix
 * in a single expression: returns `array<double>` of either the dot
 * products or (with `asAngles`) `acos(clamp(dot))` angles, one per matrix
 * row, summed in element order (bit-identical to a [[VectorDot]] per row).
 *
 * Exists for CODEGEN SIZE, not just speed: the alternative — a
 * `CreateArray` of `nlist` inline `acos(dot(v, typedLit(centroid)))`
 * children — generates O(nlist × surrounding-projection) Java that at
 * nlist=16 × dim=1024 blows janino's 64 KB method limit, silently dropping
 * the WHOLE stage (the entire pair-scan dot-product loop included) to
 * interpreted eval. Here the matrix travels as ONE plan reference
 * (`double[][]`) and the generated code is one kernel call regardless of
 * `nlist × dim`.
 */
case class CentroidSims(child: Expression, matrix: Array[Array[Double]], asAngles: Boolean)
    extends UnaryExpression with ExpectsInputTypes {
  require(matrix.nonEmpty, "centroid matrix must be non-empty")

  override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(DoubleType))
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def prettyName: String = if (asAngles) "centroid_angles" else "centroid_dots"

  override def nullSafeEval(a: Any): Any =
    CentroidSims.sims(a.asInstanceOf[ArrayData], matrix, asAngles)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val m = ctx.addReferenceObj("centroids", matrix, "double[][]")
    defineCodeGen(ctx, ev, a => s"${classOf[CentroidSims].getName}.sims($a, $m, $asAngles)")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression = copy(child = newChild)
}

object CentroidSims {
  def sims(v: ArrayData, matrix: Array[Array[Double]], asAngles: Boolean): ArrayData = {
    val out = new Array[Double](matrix.length)
    var c = 0
    while (c < matrix.length) {
      val s = VectorDot.dot(matrix(c), v)
      out(c) = if (asAngles) math.acos(math.max(-1.0, math.min(1.0, s))) else s
      c += 1
    }
    UnsafeArrayData.fromPrimitiveArray(out)
  }
}

/**
 * Banded sign-random-projection bucket keys in one expression: for each of
 * `bands` bands, the signs of `rowsPerBand` hyperplane dot products are
 * packed into a long and mixed with the band ordinal (splitmix64 over
 * `packed XOR band·golden`, [[MinHashSignature.mix]]) so bands never share
 * buckets. Returns `array<long>` of the `bands` bucket keys.
 *
 * Same codegen-size rationale as [[CentroidSims]]: the previous
 * formulation — `bands × rowsPerBand` inline `when(dot(v, typedLit(plane))
 * ≥ 0, …)` children — generates O(bands × rowsPerBand ×
 * surrounding-projection) Java and overflows janino's 64 KB method limit
 * at production widths (144 planes × dim ≥ 128), silently dropping the
 * whole band-projection stage to interpreted eval. Here the plane matrix
 * is ONE plan reference and the generated code is one kernel call.
 *
 * Vectors colliding in a band collide under ANY key mixing (equal packed
 * signs ⇒ equal key), so the LSH recall contract is a function of the
 * planes alone — the mixing only decorrelates accidental cross-pattern
 * bucket collisions.
 */
case class SignBandKeys(child: Expression, planes: Array[Array[Double]],
    bands: Int, rowsPerBand: Int)
    extends UnaryExpression with ExpectsInputTypes {
  require(bands > 0 && rowsPerBand > 0 && rowsPerBand <= 62,
    s"bands/rowsPerBand must be positive (rowsPerBand <= 62): $bands x $rowsPerBand")
  require(planes.length == bands * rowsPerBand,
    s"need ${bands * rowsPerBand} planes, got ${planes.length}")

  override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(DoubleType))
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "sign_band_keys"

  override def nullSafeEval(a: Any): Any =
    SignBandKeys.keys(a.asInstanceOf[ArrayData], planes, bands, rowsPerBand)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val m = ctx.addReferenceObj("planes", planes, "double[][]")
    defineCodeGen(ctx, ev,
      a => s"${classOf[SignBandKeys].getName}.keys($a, $m, $bands, $rowsPerBand)")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression = copy(child = newChild)
}

object SignBandKeys {
  def keys(v: ArrayData, planes: Array[Array[Double]], bands: Int, rowsPerBand: Int): ArrayData = {
    val out = new Array[Long](bands)
    var b = 0
    while (b < bands) {
      var packed = 0L
      var j = 0
      while (j < rowsPerBand) {
        if (VectorDot.dot(planes(b * rowsPerBand + j), v) >= 0) packed |= (1L << j)
        j += 1
      }
      out(b) = MinHashSignature.mix(packed ^ (b * 0x9E3779B97F4A7C15L))
      b += 1
    }
    UnsafeArrayData.fromPrimitiveArray(out)
  }
}

object VectorFunctions {
  /** Codegen'd dot product of two `array<double>` columns. */
  def vec_dot(a: Column, b: Column): Column =
    ExpressionUtils.column(VectorDot(ExpressionUtils.expression(a), ExpressionUtils.expression(b)))

  /** Codegen'd |a ∩ b| for sorted duplicate-free `array<bigint>` columns. */
  def sorted_intersect_count(a: Column, b: Column): Column =
    ExpressionUtils.column(SortedIntersectCount(ExpressionUtils.expression(a), ExpressionUtils.expression(b)))

  /** Codegen'd per-row SimHash over element hashes. */
  def simhash64(a: Column): Column =
    ExpressionUtils.column(SimHash64(ExpressionUtils.expression(a)))

  /** Codegen'd per-row MinHash signature (`numHashes` longs) over element hashes. */
  def minhash_signature(a: Column, numHashes: Int): Column =
    ExpressionUtils.column(MinHashSignature(ExpressionUtils.expression(a), numHashes))

  /** Codegen'd unit normalization (float/double array → unit double array). */
  def vec_normalize(a: Column): Column =
    ExpressionUtils.column(VectorNormalize(ExpressionUtils.expression(a)))

  /** Codegen'd all-centroid dot products against a literal matrix. */
  def centroid_dots(v: Column, matrix: Array[Array[Double]]): Column =
    ExpressionUtils.column(CentroidSims(ExpressionUtils.expression(v), matrix, asAngles = false))

  /** Codegen'd all-centroid angles `acos(clamp(dot))` against a literal matrix. */
  def centroid_angles(v: Column, matrix: Array[Array[Double]]): Column =
    ExpressionUtils.column(CentroidSims(ExpressionUtils.expression(v), matrix, asAngles = true))

  /** Codegen'd banded sign-random-projection bucket keys. */
  def sign_band_keys(v: Column, planes: Array[Array[Double]], bands: Int,
      rowsPerBand: Int): Column =
    ExpressionUtils.column(SignBandKeys(ExpressionUtils.expression(v), planes, bands, rowsPerBand))
}
