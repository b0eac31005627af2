// Lives under org.apache.spark.sql so it can see the private[sql] pieces a
// native expression needs (AbstractDataType, classic.ExpressionUtils) — the
// standard packaging for out-of-tree Catalyst expressions.
package org.apache.spark.sql.graftx

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, ExpectsInputTypes, Expression, UnaryExpression}
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
 * participates in whole-stage codegen: the generated Java is a tight primitive
 * loop over the two `ArrayData`s (no allocation, no virtual lambda calls),
 * which benchmarked ~40× faster on the embedding near-dup pair scan.
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

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var s = 0.0
    var i = 0
    while (i < n) {
      s += x.getDouble(i) * y.getDouble(i)
      i += 1
    }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val s = ctx.freshName("s")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $s = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $s += $a.getDouble($i) * $b.getDouble($i);
         |}
         |${ev.value} = $s;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
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

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
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

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val j = ctx.freshName("j")
      val c = ctx.freshName("c")
      val xv = ctx.freshName("xv")
      val yv = ctx.freshName("yv")
      s"""
         |int $i = 0; int $j = 0; int $c = 0;
         |while ($i < $a.numElements() && $j < $b.numElements()) {
         |  long $xv = $a.getLong($i);
         |  long $yv = $b.getLong($j);
         |  if ($xv == $yv) { $c++; $i++; $j++; }
         |  else if ($xv < $yv) { $i++; } else { $j++; }
         |}
         |${ev.value} = $c;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
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

  override def nullSafeEval(a: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
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

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val votes = ctx.freshName("votes")
      val i = ctx.freshName("i")
      val b = ctx.freshName("b")
      val h = ctx.freshName("h")
      val fp = ctx.freshName("fp")
      s"""
         |int[] $votes = new int[64];
         |for (int $i = 0; $i < $a.numElements(); $i++) {
         |  long $h = $a.getLong($i);
         |  for (int $b = 0; $b < 64; $b++) {
         |    $votes[$b] += (((($h >>> $b) & 1L) == 1L) ? 1 : -1);
         |  }
         |}
         |long $fp = 0L;
         |for (int $b = 0; $b < 64; $b++) {
         |  if ($votes[$b] > 0) $fp |= (1L << $b);
         |}
         |${ev.value} = $fp;
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression = copy(child = newChild)
}

/**
 * Codegen'd MinHash signature over an `array<bigint>` of element hashes:
 * `numHashes` independent min-hashes, hash family `mix(h ^ seed_i)` with a
 * splitmix64-style finalizer (public-domain mixing constants). One per-row
 * pass replacing an explode + N-min-aggregate shuffle; the signature array
 * feeds LSH banding downstream.
 */
case class MinHashSignature(child: Expression, numHashes: Int)
    extends UnaryExpression with ExpectsInputTypes {
  require(numHashes > 0 && numHashes <= 512, "numHashes must be in 1..512")

  override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(LongType))
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "minhash_signature"

  /** splitmix64 seeds, one per hash function (deterministic). */
  private lazy val seeds: Array[Long] = {
    val out = new Array[Long](numHashes)
    var x = 0x9E3779B97F4A7C15L
    var i = 0
    while (i < numHashes) {
      x += 0x9E3779B97F4A7C15L
      out(i) = MinHashSignature.mix(x)
      i += 1
    }
    out
  }

  override def nullSafeEval(a: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val sig = Array.fill(numHashes)(Long.MaxValue)
    var i = 0
    while (i < x.numElements()) {
      val h = x.getLong(i)
      var k = 0
      while (k < numHashes) {
        val v = MinHashSignature.mix(h ^ seeds(k))
        if (v < sig(k)) sig(k) = v
        k += 1
      }
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(sig)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val seedsRef = ctx.addReferenceObj("seeds", seeds, "long[]")
      val sig = ctx.freshName("sig")
      val i = ctx.freshName("i")
      val k = ctx.freshName("k")
      val h = ctx.freshName("h")
      val v = ctx.freshName("v")
      s"""
         |long[] $sig = new long[$numHashes];
         |java.util.Arrays.fill($sig, Long.MAX_VALUE);
         |for (int $i = 0; $i < $a.numElements(); $i++) {
         |  long $h = $a.getLong($i);
         |  for (int $k = 0; $k < $numHashes; $k++) {
         |    long $v = org.apache.spark.sql.graftx.MinHashSignature.mix($h ^ $seedsRef[$k]);
         |    if ($v < $sig[$k]) $sig[$k] = $v;
         |  }
         |}
         |${ev.value} = org.apache.spark.sql.catalyst.expressions.UnsafeArrayData.fromPrimitiveArray($sig);
       """.stripMargin
    })

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

  override def nullSafeEval(a: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
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
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val n = ctx.freshName("n")
      val out = ctx.freshName("out")
      val s = ctx.freshName("s")
      val i = ctx.freshName("i")
      val j = ctx.freshName("j")
      val norm = ctx.freshName("norm")
      val read = if (isFloat) s"(double) $a.getFloat($i)" else s"$a.getDouble($i)"
      s"""
         |int $n = $a.numElements();
         |double[] $out = new double[$n];
         |double $s = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $out[$i] = $read;
         |  $s += $out[$i] * $out[$i];
         |}
         |double $norm = java.lang.Math.sqrt($s);
         |if ($norm > 0.0) {
         |  for (int $j = 0; $j < $n; $j++) { $out[$j] /= $norm; }
         |}
         |${ev.value} = org.apache.spark.sql.catalyst.expressions.UnsafeArrayData.fromPrimitiveArray($out);
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
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
 * (`double[][]`) and the generated code is a fixed ~10-line nested loop
 * regardless of `nlist × dim`.
 */
case class CentroidSims(child: Expression, matrix: Array[Array[Double]], asAngles: Boolean)
    extends UnaryExpression with ExpectsInputTypes {
  require(matrix.nonEmpty, "centroid matrix must be non-empty")

  override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(DoubleType))
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def prettyName: String = if (asAngles) "centroid_angles" else "centroid_dots"

  override def nullSafeEval(a: Any): Any = {
    val v = a.asInstanceOf[ArrayData]
    val out = new Array[Double](matrix.length)
    var c = 0
    while (c < matrix.length) {
      val row = matrix(c)
      val n = math.min(row.length, v.numElements())
      var s = 0.0
      var i = 0
      while (i < n) { s += row(i) * v.getDouble(i); i += 1 }
      out(c) = if (asAngles) math.acos(math.max(-1.0, math.min(1.0, s))) else s
      c += 1
    }
    org.apache.spark.sql.catalyst.expressions.UnsafeArrayData.fromPrimitiveArray(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val m = ctx.addReferenceObj("centroids", matrix, "double[][]")
      val out = ctx.freshName("out")
      val c = ctx.freshName("c")
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val s = ctx.freshName("s")
      val row = ctx.freshName("row")
      val store = if (asAngles)
        s"$out[$c] = java.lang.Math.acos(java.lang.Math.max(-1.0, java.lang.Math.min(1.0, $s)));"
      else s"$out[$c] = $s;"
      s"""
         |double[] $out = new double[${matrix.length}];
         |for (int $c = 0; $c < ${matrix.length}; $c++) {
         |  double[] $row = $m[$c];
         |  int $n = java.lang.Math.min($row.length, $a.numElements());
         |  double $s = 0.0;
         |  for (int $i = 0; $i < $n; $i++) { $s += $row[$i] * $a.getDouble($i); }
         |  $store
         |}
         |${ev.value} = org.apache.spark.sql.catalyst.expressions.UnsafeArrayData.fromPrimitiveArray($out);
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression = copy(child = newChild)
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
 * is ONE plan reference and the loop is fixed-size.
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

  override def nullSafeEval(a: Any): Any = {
    val v = a.asInstanceOf[ArrayData]
    val out = new Array[Long](bands)
    var b = 0
    while (b < bands) {
      var packed = 0L
      var j = 0
      while (j < rowsPerBand) {
        val row = planes(b * rowsPerBand + j)
        val n = math.min(row.length, v.numElements())
        var s = 0.0
        var i = 0
        while (i < n) { s += row(i) * v.getDouble(i); i += 1 }
        if (s >= 0) packed |= (1L << j)
        j += 1
      }
      out(b) = MinHashSignature.mix(packed ^ (b * 0x9E3779B97F4A7C15L))
      b += 1
    }
    org.apache.spark.sql.catalyst.expressions.UnsafeArrayData.fromPrimitiveArray(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val m = ctx.addReferenceObj("planes", planes, "double[][]")
      val out = ctx.freshName("out")
      val b = ctx.freshName("b")
      val j = ctx.freshName("j")
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val s = ctx.freshName("s")
      val row = ctx.freshName("row")
      val packed = ctx.freshName("packed")
      s"""
         |long[] $out = new long[$bands];
         |for (int $b = 0; $b < $bands; $b++) {
         |  long $packed = 0L;
         |  for (int $j = 0; $j < $rowsPerBand; $j++) {
         |    double[] $row = $m[$b * $rowsPerBand + $j];
         |    int $n = java.lang.Math.min($row.length, $a.numElements());
         |    double $s = 0.0;
         |    for (int $i = 0; $i < $n; $i++) { $s += $row[$i] * $a.getDouble($i); }
         |    if ($s >= 0) $packed |= (1L << $j);
         |  }
         |  $out[$b] = org.apache.spark.sql.graftx.MinHashSignature.mix(
         |    $packed ^ ($b * 0x9E3779B97F4A7C15L));
         |}
         |${ev.value} = org.apache.spark.sql.catalyst.expressions.UnsafeArrayData.fromPrimitiveArray($out);
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression = copy(child = newChild)
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
