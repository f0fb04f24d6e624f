package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType, IntegerType}

/** Native codegen'd vector kernels over `array<float>` embeddings —
  * replacing the interpreted `aggregate(zip_with(...))` /
  * `aggregate(transform(...))` folds in VectorOps (same 100x-class win as
  * [[SimHash64]]; HOF lambdas evaluate interpreted per element).
  *
  * Semantics match the HOF formulation bit-for-bit: float -> double widening
  * (exact), strict left-to-right double accumulation — identical to the
  * DuckDB oracle's sequential list_sum — and, when the array type admits
  * null elements, a null element poisons the result to NULL exactly like
  * the `zip_with`/`aggregate` fold. The input type check REQUIRES
  * ARRAY<FLOAT> on both sides: array<double>/array<int> arguments are an
  * analysis error, never a silent memory reinterpretation. Edge divergence
  * (documented, not fired by any declared query — embeddings are
  * fixed-dim): on MISMATCHED lengths the kernel truncates to the shorter
  * array where `zip_with` null-pads the longer one and yields NULL.
  *
  * Registered as `graft_dot_f(a, b)` and `graft_norm_f(a)` by
  * [[graft.plans.GraftExtensions]].
  */
object VectorKernels {
  def dot(a: ArrayData, b: ArrayData): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var acc = 0.0
    var i = 0
    while (i < n) {
      acc += a.getFloat(i).toDouble * b.getFloat(i).toDouble
      i += 1
    }
    acc
  }

  def norm(a: ArrayData): Double = {
    val n = a.numElements()
    var acc = 0.0
    var i = 0
    while (i < n) {
      val v = a.getFloat(i).toDouble
      acc += v * v
      i += 1
    }
    math.sqrt(acc)
  }

  /** Null-element-aware variants (used when containsNull): any null element
    * -> null result, matching the HOF fold's NULL poisoning. */
  def dotBoxed(a: ArrayData, b: ArrayData): java.lang.Double = {
    val n = math.min(a.numElements(), b.numElements())
    var acc = 0.0
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      acc += a.getFloat(i).toDouble * b.getFloat(i).toDouble
      i += 1
    }
    acc
  }

  def normBoxed(a: ArrayData): java.lang.Double = {
    val n = a.numElements()
    var acc = 0.0
    var i = 0
    while (i < n) {
      if (a.isNullAt(i)) return null
      val v = a.getFloat(i).toDouble
      acc += v * v
      i += 1
    }
    math.sqrt(acc)
  }

  /** Mixed float x double dot product — the centroid kernel: embeddings stay
    * ARRAY<FLOAT>, trained centroids are driver-side ARRAY<DOUBLE> literals.
    * Bit-identical to `aggregate(zip_with(e, c, (x, w) -> CAST(x AS DOUBLE)
    * * w), 0.0D, (acc, v) -> acc + v)` (exact widening, strict left-to-right
    * accumulation). */
  def dotFD(a: ArrayData, b: ArrayData): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var acc = 0.0
    var i = 0
    while (i < n) {
      acc += a.getFloat(i).toDouble * b.getDouble(i)
      i += 1
    }
    acc
  }

  def dotFDBoxed(a: ArrayData, b: ArrayData): java.lang.Double = {
    val n = math.min(a.numElements(), b.numElements())
    var acc = 0.0
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      acc += a.getFloat(i).toDouble * b.getDouble(i)
      i += 1
    }
    acc
  }

  /** Centroid ranking for IVF ANN: all centroid indices ordered by
    * (cosine distance to the embedding, index). `cents` is the centroid
    * matrix flattened row-major. Bit-identical to the struct formulation it
    * replaces (`array_sort(array(struct(1.0 - dot/(vn*cNorm), idx), ...))`):
    * same double operations in the same order, zero norms score the max
    * distance 2.0 (never NaN), ties break on the lower index (stable sort
    * from ascending-index start; 1.0 - x never yields -0.0, so primitive
    * comparison == Spark's struct double ordering on this domain). */
  def centroidRanks(v: ArrayData, cents: Array[Double], dim: Int, nc: Int): ArrayData = {
    val n = v.numElements()
    var vn = 0.0
    var i = 0
    while (i < n) { val x = v.getFloat(i).toDouble; vn += x * x; i += 1 }
    vn = math.sqrt(vn)
    val dist = new Array[Double](nc)
    var c = 0
    while (c < nc) {
      val off = c * dim
      var dot = 0.0
      var cn = 0.0
      var j = 0
      val m = math.min(dim, n)
      while (j < m) { dot += v.getFloat(j).toDouble * cents(off + j); j += 1 }
      j = 0
      while (j < dim) { val w = cents(off + j); cn += w * w; j += 1 }
      cn = math.sqrt(cn)
      dist(c) = if (cn == 0.0 || vn == 0.0) 2.0 else 1.0 - dot / (vn * cn)
      c += 1
    }
    val idx = Array.tabulate(nc)(identity)
    var a = 1
    while (a < nc) {
      val id = idx(a)
      val d = dist(id)
      var b = a - 1
      while (b >= 0 && dist(idx(b)) > d) { idx(b + 1) = idx(b); b -= 1 }
      idx(b + 1) = id
      a += 1
    }
    new GenericArrayData(idx)
  }

  /** Product-quantization code assignment: for each of the `m` subspaces
    * (subDim dims each, laid out consecutively), the index of the L2-nearest
    * codebook centroid. `cb` is the m x k x subDim codebook tensor flattened
    * row-major. Bit-identical to the HOF formulation it replaces
    * (`array_sort(array(struct(l2_fold, idx), ...))[0].idx` per subspace):
    * same (x - w)^2 left-to-right double folds, ties to the LOWER index
    * (strict `<` keeps the first minimum). Vector elements past
    * m * subDim are ignored; a vector SHORTER than m * subDim throws —
    * silently truncating here while the HOF reference null-pads via
    * zip_with would yield different codes on malformed data, so both
    * paths fail loudly instead. */
  def pqCodes(v: ArrayData, cb: Array[Double], m: Int, k: Int, subDim: Int): ArrayData = {
    val n = v.numElements()
    if (n < m * subDim)
      throw new IllegalArgumentException(
        s"graft_pq_codes: embedding has $n elements, needs m*subDim = ${m * subDim}")
    val codes = new Array[Int](m)
    var j = 0
    while (j < m) {
      val off = j * subDim
      var best = 0
      var bestD = Double.PositiveInfinity
      var c = 0
      while (c < k) {
        val cOff = (j * k + c) * subDim
        var d = 0.0
        var i = 0
        while (i < subDim && off + i < n) {
          val x = v.getFloat(off + i).toDouble - cb(cOff + i)
          d += x * x
          i += 1
        }
        if (d < bestD) { bestD = d; best = c }
        c += 1
      }
      codes(j) = best
      j += 1
    }
    new GenericArrayData(codes)
  }

  private[functions] def elementsNullable(dt: DataType): Boolean = dt match {
    case ArrayType(_, cn) => cn
    case _ => false
  }
}

/** `graft_pq_codes(embedding, array(array(array(...))))` — per-subspace
  * L2-nearest codebook indices; see [[VectorKernels.pqCodes]]. Like
  * [[CentroidRanks]], the codebook tensor is a foldable literal folded into
  * a constructor param at function-build time, so re-planning reuses the
  * compiled class with the flattened tensor as a reference object. */
case class PqCodes(child: Expression, codebooks: Seq[Seq[Seq[Double]]])
    extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"graft_pq_codes requires an ARRAY<FLOAT> argument, got ${other.catalogString}")
  }

  private val m: Int = codebooks.size
  private val k: Int = if (codebooks.isEmpty) 0 else codebooks.head.size
  private val subDim: Int =
    if (codebooks.isEmpty || codebooks.head.isEmpty) 0 else codebooks.head.head.length
  @transient private lazy val flat: Array[Double] =
    codebooks.flatten.flatten.toArray

  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def prettyName: String = "graft_pq_codes"

  override protected def nullSafeEval(input: Any): Any =
    VectorKernels.pqCodes(input.asInstanceOf[ArrayData], flat, m, k, subDim)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("pqcb", flat, "double[]")
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.VectorKernels.pqCodes($c, $ref, $m, $k, $subDim)")
  }

  override protected def withNewChildInternal(newChild: Expression): PqCodes =
    copy(child = newChild)
}

/** `graft_centroid_ranks(embedding, array(array(...), ...))` — centroid
  * indices ordered by cosine distance; see [[VectorKernels.centroidRanks]].
  * The centroid matrix is a FOLDABLE literal evaluated at function-build
  * time into a plain constructor param, so the generated code is one stable
  * static call with the flattened matrix as a reference object — re-planning
  * each Lloyd iteration reuses the compiled class instead of recompiling an
  * 8-struct sort tree with new literals. */
case class CentroidRanks(child: Expression, centroids: Seq[Seq[Double]])
    extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"graft_centroid_ranks requires an ARRAY<FLOAT> argument, got ${other.catalogString}")
  }

  private val dim: Int = if (centroids.isEmpty) 0 else centroids.head.length
  @transient private lazy val flat: Array[Double] = centroids.flatten.toArray

  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def prettyName: String = "graft_centroid_ranks"

  override protected def nullSafeEval(input: Any): Any =
    VectorKernels.centroidRanks(input.asInstanceOf[ArrayData], flat, dim, centroids.size)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("cents", flat, "double[]")
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.VectorKernels.centroidRanks($c, $ref, $dim, ${centroids.size})")
  }

  override protected def withNewChildInternal(newChild: Expression): CentroidRanks =
    copy(child = newChild)
}

/** `graft_dot_fd(array<float>, array<double>)` — see [[VectorKernels.dotFD]]. */
case class DotProductFD(left: Expression, right: Expression) extends BinaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(FloatType, _), ArrayType(DoubleType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case _ => TypeCheckResult.TypeCheckFailure(
        s"graft_dot_fd requires (ARRAY<FLOAT>, ARRAY<DOUBLE>) arguments, got " +
          s"${left.dataType.catalogString}, ${right.dataType.catalogString}")
    }

  private def boxed: Boolean =
    VectorKernels.elementsNullable(left.dataType) ||
      VectorKernels.elementsNullable(right.dataType)

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = super.nullable || boxed
  override def prettyName: String = "graft_dot_fd"

  override protected def nullSafeEval(a: Any, b: Any): Any =
    if (boxed) VectorKernels.dotFDBoxed(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
    else VectorKernels.dotFD(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    if (!boxed)
      defineCodeGen(ctx, ev, (a, b) => s"graft.functions.VectorKernels.dotFD($a, $b)")
    else nullSafeCodeGen(ctx, ev, (a, b) => {
      // freshName: two kernel calls in one codegen scope must not collide.
      val r = ctx.freshName("r")
      s"""
         |java.lang.Double $r = graft.functions.VectorKernels.dotFDBoxed($a, $b);
         |if ($r == null) { ${ev.isNull} = true; } else { ${ev.value} = $r.doubleValue(); }
       """.stripMargin
    })

  override protected def withNewChildrenInternal(l: Expression, r: Expression): DotProductFD =
    copy(left = l, right = r)
}

case class DotProductF(left: Expression, right: Expression) extends BinaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(FloatType, _), ArrayType(FloatType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case _ => TypeCheckResult.TypeCheckFailure(
        s"graft_dot_f requires two ARRAY<FLOAT> arguments, got " +
          s"${left.dataType.catalogString}, ${right.dataType.catalogString}")
    }

  private def boxed: Boolean =
    VectorKernels.elementsNullable(left.dataType) ||
      VectorKernels.elementsNullable(right.dataType)

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = super.nullable || boxed
  override def prettyName: String = "graft_dot_f"

  override protected def nullSafeEval(a: Any, b: Any): Any =
    if (boxed) VectorKernels.dotBoxed(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
    else VectorKernels.dot(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    if (!boxed)
      defineCodeGen(ctx, ev, (a, b) => s"graft.functions.VectorKernels.dot($a, $b)")
    else nullSafeCodeGen(ctx, ev, (a, b) => {
      val r = ctx.freshName("r")
      s"""
         |java.lang.Double $r = graft.functions.VectorKernels.dotBoxed($a, $b);
         |if ($r == null) { ${ev.isNull} = true; } else { ${ev.value} = $r.doubleValue(); }
       """.stripMargin
    })

  override protected def withNewChildrenInternal(l: Expression, r: Expression): DotProductF =
    copy(left = l, right = r)
}

case class NormF(child: Expression) extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"graft_norm_f requires an ARRAY<FLOAT> argument, got ${other.catalogString}")
  }

  private def boxed: Boolean = VectorKernels.elementsNullable(child.dataType)

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = super.nullable || boxed
  override def prettyName: String = "graft_norm_f"

  override protected def nullSafeEval(input: Any): Any =
    if (boxed) VectorKernels.normBoxed(input.asInstanceOf[ArrayData])
    else VectorKernels.norm(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    if (!boxed)
      defineCodeGen(ctx, ev, c => s"graft.functions.VectorKernels.norm($c)")
    else nullSafeCodeGen(ctx, ev, c => {
      val r = ctx.freshName("r")
      s"""
         |java.lang.Double $r = graft.functions.VectorKernels.normBoxed($c);
         |if ($r == null) { ${ev.isNull} = true; } else { ${ev.value} = $r.doubleValue(); }
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): NormF =
    copy(child = newChild)
}
