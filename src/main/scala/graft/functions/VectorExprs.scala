package graft.functions

import org.apache.spark.sql.{Column, GraftExpressionBridge => ExpressionUtils}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression, XXH64}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType, IntegerType, LongType}

/** Single-pass vector kernels as custom Catalyst expressions.
  *
  * The composable `zip_with` + `aggregate` cosine in
  * `graft.pipeline.Similarity` is the semantic reference (kept as the
  * test oracle), but it materializes an intermediate product array and
  * dispatches an interpreted lambda per element — and a full cosine
  * needs three such trees (dot, |a|, |b|). `CosineSimExpr` computes all
  * three accumulators in ONE loop over the raw `ArrayData` with zero
  * allocations per row. Element types float and double are both read
  * natively (no upfront array cast/copy).
  */
object VectorExprs {

  def cosineSim(a: Column, b: Column): Column =
    ExpressionUtils.column(
      CosineSimExpr(ExpressionUtils.expression(a),
                    ExpressionUtils.expression(b)))

  def lshSig(emb: Column, nPlanes: Int, portable: Boolean = false): Column =
    ExpressionUtils.column(
      LshSigExpr(ExpressionUtils.expression(emb), nPlanes, portable))

  /** Product-quantization encode: per subspace s, the code of the
    * nearest codeword by squared L2 (ties to the lower code). */
  def pqEncode(emb: Column, codebooks: Array[Array[Array[Double]]])
      : Column =
    ExpressionUtils.column(
      PqEncodeExpr(ExpressionUtils.expression(emb),
                   codebooks.map(_.map(_.toIndexedSeq).toIndexedSeq)
                     .toIndexedSeq))

  /** The `nProbe` nearest centroids by squared L2, ascending (ties to
    * the lower cell id) — `nProbe = 1` is plain cell assignment. */
  def nearestCells(emb: Column, centroids: Array[Array[Double]],
                   nProbe: Int): Column =
    ExpressionUtils.column(
      NearestCellsExpr(ExpressionUtils.expression(emb),
                       centroids.map(_.toIndexedSeq).toIndexedSeq,
                       nProbe))

  /** Nearest cell by EXACT integer squared L2 over 1e-6-quantized
    * components: the vector quantizes element-wise to
    * `floor(x * 1e6)` (a BIGINT) and the distance to a quantized
    * centroid is `sum((q_d - qc_d)^2)` in 64-bit integer arithmetic —
    * no float enters the ranking, so any IEEE-compliant engine (the
    * DuckDB correctness oracle included) reproduces the assignment
    * bit-exactly regardless of fold order, FMA contraction, or
    * codegen quirks. `floor(x * 1e6)` itself is deterministic: it is
    * one IEEE multiply + floor of the same double on every engine.
    * Ties break to the lower cell id. This is the k-means assignment
    * kernel ([[graft.pipeline.Similarity.kmeansCentroids]]).
    */
  def nearestCellQ(emb: Column, qcentroids: Array[Array[Long]]): Column =
    ExpressionUtils.column(
      NearestCellQExpr(ExpressionUtils.expression(emb),
                       qcentroids.map(_.toIndexedSeq).toIndexedSeq))

  /** [[nearestCellQ]] that also returns the winning distance:
    * `array(cell, d2)` as longs — the per-vector evidence for
    * distance-rank operators (centroid-distance outlier flagging)
    * under the same exact-integer determinism contract. */
  def nearestCellD2Q(emb: Column,
                     qcentroids: Array[Array[Long]]): Column =
    ExpressionUtils.column(
      NearestCellD2QExpr(ExpressionUtils.expression(emb),
                         qcentroids.map(_.toIndexedSeq).toIndexedSeq))

  /** Lehmer-style plane component shared by the native expression and the
    * HOF reference: quadratic mix then a Park-Miller (minstd, 48271) step,
    * all mod 2^31-1 — plain 64-bit integer arithmetic, so an external SQL
    * engine (the correctness oracle) reproduces the exact bits.
    */
  private[graft] def portablePlaneComponent(p: Long, i: Long): Double = {
    val P = 2147483647L
    val m = (p * 1315423911L + i * 2654435761L + 97531L) % P
    val h = (((m * m) % P) * 48271L) % P
    h * 2.0 / P - 1.0
  }
}

/** cosine(a, b) = dot/(|a||b|), 0.0 when either norm is 0 or any element
  * is null (a null element nulls that side's norm, so the HOF
  * `when(na > 0 && nb > 0, ...)` predicate falls to `otherwise(0.0)`),
  * null on length mismatch (zip_with null-pads, nulling the product
  * while both norms stay defined).
  */
final case class CosineSimExpr(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_cosine"
  // returns null on array-length mismatch even when both inputs are
  // non-null, so nullability must not derive from the children
  override def nullable: Boolean = true

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CosineSimExpr =
    copy(left = newLeft, right = newRight)

  private def elemIsFloat(e: Expression): Boolean = e.dataType match {
    case ArrayType(FloatType, _) => true
    case ArrayType(DoubleType, _) => false
    case t => throw new IllegalArgumentException(
      s"graft_cosine expects array<float|double>, got $t")
  }

  @transient private lazy val leftFloat = elemIsFloat(left)
  @transient private lazy val rightFloat = elemIsFloat(right)

  /** Boxed kernel shared by interpreted eval and generated code — stays
    * inside whole-stage codegen (a `CodegenFallback` would materialize
    * the full input row per call in the ANN scan hot path). */
  def kernel(a: ArrayData, b: ArrayData): java.lang.Double = {
    val r = nullSafeEval(a, b)
    if (r == null) null else java.lang.Double.valueOf(r.asInstanceOf[Double])
  }

  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("cosExpr", this, getClass.getName)
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"""java.lang.Double r = $ref.kernel($a, $b);
         |if (r == null) { ${ev.isNull} = true; }
         |else { ${ev.value} = r.doubleValue(); }""".stripMargin)
  }

  override def nullSafeEval(a: Any, b: Any): Any = {
    val aa = a.asInstanceOf[ArrayData]
    val bb = b.asInstanceOf[ArrayData]
    val na = aa.numElements()
    val nb = bb.numElements()
    val n = math.min(na, nb)
    var dot = 0.0
    var sa = 0.0
    var sb = 0.0
    var i = 0
    while (i < na) {
      if (aa.isNullAt(i)) return 0.0
      val x = if (leftFloat) aa.getFloat(i).toDouble else aa.getDouble(i)
      sa += x * x
      i += 1
    }
    i = 0
    while (i < nb) {
      if (bb.isNullAt(i)) return 0.0
      val y = if (rightFloat) bb.getFloat(i).toDouble else bb.getDouble(i)
      sb += y * y
      i += 1
    }
    if (na != nb) return null // zip_with null-padding -> null product
    i = 0
    while (i < n) {
      val x = if (leftFloat) aa.getFloat(i).toDouble else aa.getDouble(i)
      val y = if (rightFloat) bb.getFloat(i).toDouble else bb.getDouble(i)
      dot += x * y
      i += 1
    }
    val prod = math.sqrt(sa) * math.sqrt(sb)
    if (math.sqrt(sa) > 0 && math.sqrt(sb) > 0) dot / prod else 0.0
  }
}

/** nPlanes-bit random-hyperplane LSH signature: bit p = sign of
  * dot(x, h_p), with h_{p,i} = xxhash64(p, i) / Long.MaxValue — the
  * exact values of `graft.HofReferences.lshSignature` (Spark's
  * multi-argument xxhash64 folds seed 42 through hashInt per argument).
  * With `portable = true` the plane components come from
  * `VectorExprs.portablePlaneComponent` instead (integer-arithmetic
  * Lehmer mix, reproducible in plain SQL by the correctness oracle).
  * The hyperplane matrix is derived once per observed dimension and
  * cached in the expression instance; each row is then one loop of
  * nPlanes x dim multiplies with no hashing, no intermediate arrays, no
  * lambda dispatch. A null element nulls every projection (bit falls to
  * 0), giving signature 0 like the HOF form.
  */
final case class LshSigExpr(child: Expression, nPlanes: Int,
                            portable: Boolean = false)
    extends UnaryExpression {

  // a LongType signature holds at most 64 plane bits; 1L << p for p >= 64
  // wraps mod 64 and would silently XOR-corrupt the low bits
  require(nPlanes >= 1 && nPlanes <= 64,
          s"graft_lsh_sig supports 1..64 hyperplanes, got $nPlanes")

  override def dataType: DataType = LongType
  override def prettyName: String = "graft_lsh_sig"

  override protected def withNewChildInternal(newChild: Expression)
      : LshSigExpr = copy(child = newChild)

  /** Unboxed kernel for generated code (see CosineSimExpr.kernel). */
  def kernel(arr: ArrayData): Long =
    nullSafeEval(arr).asInstanceOf[Long]

  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("lshExpr", this, getClass.getName)
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $ref.kernel($c);")
  }

  @transient private lazy val elemFloat = child.dataType match {
    case ArrayType(FloatType, _) => true
    case ArrayType(DoubleType, _) => false
    case t => throw new IllegalArgumentException(
      s"graft_lsh_sig expects array<float|double>, got $t")
  }

  // hyperplanes for the dimension seen at runtime (embeddings in one
  // column share a dimension; recomputed only if it ever changes)
  @transient private var cachedDim: Int = -1
  @transient private var cachedPlanes: Array[Array[Double]] = _

  private def planesFor(dim: Int): Array[Array[Double]] = {
    if (dim != cachedDim) {
      val m = Array.ofDim[Double](nPlanes, dim)
      var p = 0
      while (p < nPlanes) {
        val seedP = XXH64.hashInt(p, 42L)
        var i = 0
        while (i < dim) {
          m(p)(i) =
            if (portable) VectorExprs.portablePlaneComponent(p.toLong, i.toLong)
            else XXH64.hashInt(i, seedP).toDouble / Long.MaxValue.toDouble
          i += 1
        }
        p += 1
      }
      cachedPlanes = m
      cachedDim = dim
    }
    cachedPlanes
  }

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val n = arr.numElements()
    val planes = planesFor(n)
    var sig = 0L
    var p = 0
    while (p < nPlanes) {
      val h = planes(p)
      var proj = 0.0
      var i = 0
      while (i < n) {
        if (arr.isNullAt(i)) return 0L
        val v = if (elemFloat) arr.getFloat(i).toDouble else arr.getDouble(i)
        proj += v * h(i)
        i += 1
      }
      if (proj >= 0) sig |= 1L << p
      p += 1
    }
    sig
  }
}

/** PQ encode as ONE native loop: for each of the m subspaces, the code
  * of the nearest codeword by squared L2, ties to the lower code — the
  * exact argmin of the HOF reference form in
  * `graft.pipeline.Similarity` (array_sort over (d2, c) structs), which
  * dispatched ~m x ksub x dsub interpreted lambda calls per row and
  * dominated the IVF-PQ encode pass. Codebooks are driver constants
  * held in the expression (flattened to primitive arrays once).
  * Rows whose length differs from m x dsub use the overlapping prefix
  * (missing components contribute 0 distance); a null element yields
  * all-zero codes, mirroring the zero-signature convention of
  * `LshSigExpr`.
  */
final case class PqEncodeExpr(
    child: Expression,
    codebooks: IndexedSeq[IndexedSeq[IndexedSeq[Double]]])
    extends UnaryExpression {

  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def prettyName: String = "graft_pq_encode"

  override protected def withNewChildInternal(newChild: Expression)
      : PqEncodeExpr = copy(child = newChild)

  @transient private lazy val elemFloat = child.dataType match {
    case ArrayType(FloatType, _) => true
    case ArrayType(DoubleType, _) => false
    case t => throw new IllegalArgumentException(
      s"graft_pq_encode expects array<float|double>, got $t")
  }

  @transient private lazy val cb: Array[Array[Array[Double]]] =
    codebooks.map(_.map(_.toArray).toArray).toArray

  def kernel(arr: ArrayData): ArrayData =
    nullSafeEval(arr).asInstanceOf[ArrayData]

  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("pqExpr", this, getClass.getName)
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $ref.kernel($c);")
  }

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val n = arr.numElements()
    val m = cb.length
    val dsub = cb(0)(0).length
    val x = new Array[Double](n)
    var i = 0
    while (i < n) {
      if (arr.isNullAt(i))
        return org.apache.spark.sql.catalyst.util.ArrayData
          .toArrayData(new Array[Int](m))
      x(i) = if (elemFloat) arr.getFloat(i).toDouble else arr.getDouble(i)
      i += 1
    }
    val codes = new Array[Int](m)
    var s = 0
    while (s < m) {
      val off = s * dsub
      val cws = cb(s)
      var bestD = Double.PositiveInfinity
      var bestC = 0
      var c = 0
      while (c < cws.length) {
        val w = cws(c)
        var d2 = 0.0
        var j = 0
        while (j < dsub) {
          val xi = off + j
          if (xi < n) { val d = x(xi) - w(j); d2 += d * d }
          else { d2 += w(j) * w(j) }
          j += 1
        }
        if (d2 < bestD) { bestD = d2; bestC = c }
        c += 1
      }
      codes(s) = bestC
      s += 1
    }
    org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(codes)
  }
}

/** The `nProbe` nearest centroids by squared L2, ascending, ties to the
  * lower cell id — the exact prefix of the HOF reference
  * (`array_sort` over (d2, cell) structs) without the full sort or the
  * interpreted per-element lambdas. `nProbe = 1` is the corpus-side
  * cell assignment. A null element yields cells 0..nProbe-1 (the HOF
  * null-d2 edge is data the testdata never carries; the convention
  * mirrors `PqEncodeExpr`). Extra vector components beyond the centroid
  * dimension are ignored; missing ones contribute the centroid's own
  * squared component.
  */
final case class NearestCellsExpr(child: Expression,
                                  centroids: IndexedSeq[IndexedSeq[Double]],
                                  nProbe: Int)
    extends UnaryExpression {

  require(nProbe >= 1 && nProbe <= centroids.length,
          s"nProbe $nProbe out of range 1..${centroids.length}")

  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def prettyName: String = "graft_nearest_cells"

  override protected def withNewChildInternal(newChild: Expression)
      : NearestCellsExpr = copy(child = newChild)

  @transient private lazy val elemFloat = child.dataType match {
    case ArrayType(FloatType, _) => true
    case ArrayType(DoubleType, _) => false
    case t => throw new IllegalArgumentException(
      s"graft_nearest_cells expects array<float|double>, got $t")
  }

  @transient private lazy val ctr: Array[Array[Double]] =
    centroids.map(_.toArray).toArray

  def kernel(arr: ArrayData): ArrayData =
    nullSafeEval(arr).asInstanceOf[ArrayData]

  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("cellsExpr", this, getClass.getName)
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $ref.kernel($c);")
  }

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val n = arr.numElements()
    val nl = ctr.length
    val d2s = new Array[Double](nl)
    var anyNull = false
    var l = 0
    while (l < nl && !anyNull) {
      val w = ctr(l)
      var d2 = 0.0
      var j = 0
      while (j < w.length) {
        if (j < n) {
          if (arr.isNullAt(j)) { anyNull = true }
          else {
            val v = if (elemFloat) arr.getFloat(j).toDouble
                    else arr.getDouble(j)
            val d = v - w(j)
            d2 += d * d
          }
        } else d2 += w(j) * w(j)
        j += 1
      }
      d2s(l) = d2
      l += 1
    }
    val out = new Array[Int](nProbe)
    if (anyNull) {
      var i = 0
      while (i < nProbe) { out(i) = i; i += 1 }
    } else {
      // selection of the nProbe smallest (d2, cell) without a full sort
      val taken = new Array[Boolean](nl)
      var i = 0
      while (i < nProbe) {
        var bestD = Double.PositiveInfinity
        var bestL = -1
        var c = 0
        while (c < nl) {
          if (!taken(c) && d2s(c) < bestD) { bestD = d2s(c); bestL = c }
          c += 1
        }
        taken(bestL) = true
        out(i) = bestL
        i += 1
      }
    }
    org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(out)
  }
}

/** Nearest cell id by EXACT integer squared L2 over 1e-6-quantized
  * components (see [[VectorExprs.nearestCellQ]] for the determinism
  * contract). A null element yields cell 0 (the same convention as
  * [[NearestCellsExpr]]'s nProbe=1 null edge). Extra vector components
  * beyond the centroid dimension are ignored; missing ones contribute
  * the centroid's own squared quantized component.
  *
  * Magnitude bound: components in [-B, B] quantize to |q| <= B*1e6, so
  * a d-dimensional distance is <= d * (2*B*1e6)^2 — for the engine's
  * unit-scale embeddings (B ~ 1, d = 64) that is ~2.6e14, far inside
  * Long range; overflow needs B*sqrt(d) > ~48e3.
  */
final case class NearestCellQExpr(child: Expression,
                                  qcentroids: IndexedSeq[IndexedSeq[Long]])
    extends UnaryExpression {

  require(qcentroids.nonEmpty, "qcentroids must be non-empty")

  override def dataType: DataType = IntegerType
  override def prettyName: String = "graft_nearest_cells_q"

  override protected def withNewChildInternal(newChild: Expression)
      : NearestCellQExpr = copy(child = newChild)

  @transient private lazy val elemFloat = child.dataType match {
    case ArrayType(FloatType, _) => true
    case ArrayType(DoubleType, _) => false
    case t => throw new IllegalArgumentException(
      s"graft_nearest_cells_q expects array<float|double>, got $t")
  }

  @transient private lazy val ctr: Array[Array[Long]] =
    qcentroids.map(_.toArray).toArray

  def kernel(arr: ArrayData): Int =
    nullSafeEval(arr).asInstanceOf[Int]

  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("cellQExpr", this, getClass.getName)
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $ref.kernel($c);")
  }

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val n = arr.numElements()
    val qx = new Array[Long](n)
    var i = 0
    while (i < n) {
      if (arr.isNullAt(i)) return 0
      val v = if (elemFloat) arr.getFloat(i).toDouble else arr.getDouble(i)
      qx(i) = math.floor(v * 1e6).toLong
      i += 1
    }
    var bestD = Long.MaxValue
    var bestC = 0
    var c = 0
    while (c < ctr.length) {
      val w = ctr(c)
      var d2 = 0L
      var j = 0
      while (j < w.length) {
        val d = (if (j < n) qx(j) else 0L) - w(j)
        d2 += d * d
        j += 1
      }
      if (d2 < bestD) { bestD = d2; bestC = c }
      c += 1
    }
    bestC
  }
}

/** [[NearestCellQExpr]] returning `array(cell, d2)` (both longs): the
  * winning cell id AND its exact integer squared distance, for
  * operators that rank on the distance itself (per-cluster outlier
  * flagging). A null element yields `array(0, 0)` (the cell-0
  * convention; a null vector carries no distance evidence). Same
  * magnitude bound as [[NearestCellQExpr]].
  */
final case class NearestCellD2QExpr(child: Expression,
                                    qcentroids: IndexedSeq[IndexedSeq[Long]])
    extends UnaryExpression {

  require(qcentroids.nonEmpty, "qcentroids must be non-empty")

  override def dataType: DataType =
    ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_nearest_cell_d2_q"

  override protected def withNewChildInternal(newChild: Expression)
      : NearestCellD2QExpr = copy(child = newChild)

  @transient private lazy val elemFloat = child.dataType match {
    case ArrayType(FloatType, _) => true
    case ArrayType(DoubleType, _) => false
    case t => throw new IllegalArgumentException(
      s"graft_nearest_cell_d2_q expects array<float|double>, got $t")
  }

  @transient private lazy val ctr: Array[Array[Long]] =
    qcentroids.map(_.toArray).toArray

  def kernel(arr: ArrayData): ArrayData =
    nullSafeEval(arr).asInstanceOf[ArrayData]

  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("cellD2QExpr", this, getClass.getName)
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $ref.kernel($c);")
  }

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val n = arr.numElements()
    val qx = new Array[Long](n)
    var i = 0
    var isNull = false
    while (i < n && !isNull) {
      if (arr.isNullAt(i)) isNull = true
      else {
        val v = if (elemFloat) arr.getFloat(i).toDouble
                else arr.getDouble(i)
        qx(i) = math.floor(v * 1e6).toLong
        i += 1
      }
    }
    if (isNull)
      return org.apache.spark.sql.catalyst.util.ArrayData
        .toArrayData(Array(0L, 0L))
    var bestD = Long.MaxValue
    var bestC = 0
    var c = 0
    while (c < ctr.length) {
      val w = ctr(c)
      var d2 = 0L
      var j = 0
      while (j < w.length) {
        val d = (if (j < n) qx(j) else 0L) - w(j)
        d2 += d * d
        j += 1
      }
      if (d2 < bestD) { bestD = d2; bestC = c }
      c += 1
    }
    org.apache.spark.sql.catalyst.util.ArrayData
      .toArrayData(Array(bestC.toLong, bestD))
  }
}
