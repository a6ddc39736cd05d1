package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftBridge
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, FloatType, IntegerType, LongType}

/** Fused PQ code-assignment kernels.
  *
  * The Column reference spelling ([[graft.operators.Pq]]'s
  * `codeArrayRef`) builds, PER ROW, m `greatest`-over-ksub trees of
  * `struct(dotFloat(slice(e, …), lit(centroid)) * 2 − lit(offset), −ci)`
  * — m·ksub dot kernels each re-slicing the embedding (one array copy per
  * CENTROID), m·ksub struct allocations, and an expression tree large
  * enough that Catalyst analysis + codegen compile dominate small scans
  * (the AbiWordArrayExpr lesson: a giant literal tree costs per QUERY
  * what this kernel costs once). This expression walks the embedding
  * once, no slices, no structs, identical arithmetic:
  *
  *  - per subspace j, per centroid ci: s = dot(e[j·subDim ..], c)·2 − off,
  *    dot = left-to-right IEEE-double accumulation over
  *    min(subDim, |e|−j·subDim, |c|) elements — exactly
  *    `dotFloat(slice(e, j·subDim+1, subDim), lit(c))`;
  *  - winner = max score under Spark's double ordering (NaN greatest,
  *    ±0.0 equal — `nanSafeCompareDoubles`, the ordering the reference
  *    spelling's struct-compare `greatest` uses), ties → LOWEST ci
  *    (the struct's −ci tiebreak);
  *  - the residual variant reads its per-(cid, j, ci) offset table —
  *    2·(cent_subᵢ·c) + ‖c‖², the algebraic fold of quantizing x−cent —
  *    from a driver-precomputed table indexed by the row's cid, exactly
  *    the `element_at(lit(map), cid)` lookups of the reference spelling.
  *
  * Totality: NULL embedding → NULL (the reference spelling degenerates to
  * all-null scores there; unreachable — every caller encodes corpus rows
  * whose embeddings are non-null, PqSpec's parity pins real rows). A cid
  * absent from the table → NULL (unreachable: lists are built from the
  * same centroid set). An empty sub-codebook throws when the expression
  * is built. PqKernelSpec pins row-for-row parity against the
  * reference Column spelling on corpus-shaped, short, empty and NaN/Inf
  * vectors.
  */
object PqCodesImpl {

  /** Spark's `nanSafeCompareDoubles` ordering, the one struct comparison
    * and `greatest` use: NaN == NaN, NaN greater than everything,
    * -0.0 == 0.0.
    */
  private def gtNanSafe(x: Double, y: Double): Boolean = {
    val xn = java.lang.Double.isNaN(x)
    val yn = java.lang.Double.isNaN(y)
    if ((xn && yn) || (x == y)) false
    else if (xn) true
    else if (yn) false
    else x > y
  }

  /** An empty sub-codebook has no argmax to assign: reject it when the
    * expression is built (callers return an empty result before building
    * one for an empty corpus).
    */
  def requireNonEmpty(codebooks: Seq[Seq[Array[Float]]]): Unit =
    require(codebooks.forall(_.nonEmpty),
      s"PQ codebook has an empty sub-codebook: sizes ${codebooks.map(_.size).mkString(",")}")

  /** cb(j)(ci) = centroid; off(j)(ci) = the score offset subtracted after
    * the ×2 (flat: ‖c‖²; residual: 2·(cent_sub·c) + ‖c‖²).
    */
  def codes(e: ArrayData, cb: Array[Array[Array[Float]]], subDim: Int,
            off: Array[Array[Double]]): ArrayData = {
    val m = cb.length
    val n = e.numElements()
    val out = new Array[Int](m)
    var j = 0
    while (j < m) {
      val cbj = cb(j)
      val offj = off(j)
      val start = j * subDim
      val rem = n - start
      val len = if (rem < 0) 0 else if (rem > subDim) subDim else rem
      var best = 0
      var bestS = 0.0d
      var ci = 0
      while (ci < cbj.length) {
        val c = cbj(ci)
        val d = if (len < c.length) len else c.length
        var acc = 0.0d
        var i = 0
        while (i < d) {
          acc += e.getFloat(start + i).toDouble * c(i).toDouble
          i += 1
        }
        val s = acc * 2.0d - offj(ci)
        if (ci == 0 || gtNanSafe(s, bestS)) { bestS = s; best = ci }
        ci += 1
      }
      out(j) = best
      j += 1
    }
    new GenericArrayData(out)
  }

  def codesResidual(e: ArrayData, cid: Long, cb: Array[Array[Array[Float]]],
                    subDim: Int, cids: Array[Long],
                    offByCid: Array[Array[Array[Double]]]): ArrayData = {
    var idx = -1
    var k = 0
    while (idx < 0 && k < cids.length) {
      if (cids(k) == cid) idx = k
      k += 1
    }
    if (idx < 0) null // unreachable: lists carry cids from the same cents
    else codes(e, cb, subDim, offByCid(idx))
  }
}

case class PqCodesExpr(child: Expression, codebooks: Seq[Seq[Array[Float]]],
                       subDim: Int, offsets: Seq[Array[Double]])
    extends UnaryExpression {
  PqCodesImpl.requireNonEmpty(codebooks)
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "graft_pq_codes"
  @transient private lazy val cbArr = codebooks.map(_.toArray).toArray
  @transient private lazy val offArr = offsets.toArray
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<float>, got ${other.simpleString}")
  }
  override protected def nullSafeEval(input: Any): Any =
    PqCodesImpl.codes(input.asInstanceOf[ArrayData], cbArr, subDim, offArr)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cbRef = ctx.addReferenceObj("pqCodebooks", cbArr, "float[][][]")
    val offRef = ctx.addReferenceObj("pqOffsets", offArr, "double[][]")
    nullSafeCodeGen(ctx, ev, c => s"""
      ${ev.value} = graft.functions.PqCodesImpl.codes($c, $cbRef, $subDim, $offRef);
      ${ev.isNull} = (${ev.value} == null);
    """)
  }
  override protected def withNewChildInternal(newChild: Expression): PqCodesExpr =
    copy(child = newChild)
}

case class PqCodesResidualExpr(left: Expression, right: Expression,
                               codebooks: Seq[Seq[Array[Float]]], subDim: Int,
                               cids: Array[Long],
                               offsetsByCid: Seq[Seq[Array[Double]]])
    extends BinaryExpression {
  PqCodesImpl.requireNonEmpty(codebooks)
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "graft_pq_codes_residual"
  @transient private lazy val cbArr = codebooks.map(_.toArray).toArray
  @transient private lazy val offArr = offsetsByCid.map(_.toArray).toArray
  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(FloatType, _), LongType) => TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires (array<float>, bigint), got " +
          s"${l.simpleString} / ${r.simpleString}")
    }
  override protected def nullSafeEval(e: Any, cid: Any): Any =
    PqCodesImpl.codesResidual(e.asInstanceOf[ArrayData], cid.asInstanceOf[Long],
      cbArr, subDim, cids, offArr)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cbRef = ctx.addReferenceObj("pqCodebooks", cbArr, "float[][][]")
    val cidsRef = ctx.addReferenceObj("pqCids", cids, "long[]")
    val offRef = ctx.addReferenceObj("pqOffsetsByCid", offArr, "double[][][]")
    nullSafeCodeGen(ctx, ev, (e, cid) => s"""
      ${ev.value} = graft.functions.PqCodesImpl.codesResidual($e, $cid, $cbRef, $subDim, $cidsRef, $offRef);
      ${ev.isNull} = (${ev.value} == null);
    """)
  }
  override protected def withNewChildrenInternal(l: Expression, r: Expression): PqCodesResidualExpr =
    copy(left = l, right = r)
}

/** Fused SQ8 encode: codes + dequantized norm in ONE walk of the
  * embedding, replacing two interpreted HOF layers per row (zip_with over
  * sequence literals for the codes, aggregate-of-zip_with for the norm —
  * both CodegenFallback). Bit-equal to the Column reference spelling
  * ([[graft.operators.Pq.sq8EncodeRef]]; PqKernelSpec pins parity),
  * including its edge arms:
  *
  *  - zip_with pads the SHORTER side with nulls, and the null arm
  *    collapses to code 0 through the null-skipping greatest/least — so
  *    missing or null elements encode as 0 and the code array length is
  *    max(|e|, dim);
  *  - round() on doubles is BigDecimal HALF_UP (±Inf/NaN pass through),
  *    the int cast is Java narrowing (NaN → 0, out-of-range clamps), then
  *    clamp to [0, 255]. ONE documented divergence: under ANSI the
  *    reference's double→int cast THROWS on NaN/±Inf/out-of-range —
  *    unreachable from the norm-filtered float corpus — where this kernel
  *    clamps (the PqCodesExpr null-arm totality precedent);
  *  - a vector LONGER than dim poisons the norm aggregate with a null
  *    pair (acc + null), so dnorm is NULL there — replicated.
  */
object Sq8EncodeImpl {
  def eval(arr: ArrayData, mins: Array[Float], scales: Array[Float]): InternalRow = {
    val dim = mins.length
    val len = arr.numElements()
    val outLen = math.max(len, dim)
    val codes = new Array[Int](outLen)
    var i = 0
    while (i < outLen) {
      if (i < dim && i < len && !arr.isNullAt(i)) {
        val d = (arr.getFloat(i).toDouble - mins(i).toDouble) / scales(i).toDouble
        val r =
          if (java.lang.Double.isNaN(d) || java.lang.Double.isInfinite(d)) d
          else java.math.BigDecimal.valueOf(d)
            .setScale(0, java.math.RoundingMode.HALF_UP).doubleValue()
        var c = r.toInt // Java narrowing: NaN → 0, out-of-range clamps
        if (c < 0) c = 0
        if (c > 255) c = 255
        codes(i) = c
      } // else: zip_with null arm → greatest(null, 0) → 0
      i += 1
    }
    val dnorm: Any =
      if (len > dim) null // the reference aggregate hits a null pair
      else {
        var acc = 0.0d
        var j = 0
        while (j < dim) {
          val v = mins(j).toDouble + codes(j).toDouble * scales(j).toDouble
          acc += java.lang.Math.pow(v, 2.0)
          j += 1
        }
        java.lang.Math.sqrt(acc)
      }
    InternalRow(new GenericArrayData(codes), dnorm)
  }
}

case class Sq8EncodeExpr(child: Expression, mins: Array[Float],
                         scales: Array[Float]) extends UnaryExpression {
  override def dataType: DataType = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("codes",
      ArrayType(IntegerType, containsNull = false), nullable = false),
    org.apache.spark.sql.types.StructField("dnorm",
      org.apache.spark.sql.types.DoubleType, nullable = true)))
  override def nullable: Boolean = child.nullable
  override def prettyName: String = "graft_sq8_encode"
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<float>, got ${other.simpleString}")
  }
  override protected def nullSafeEval(input: Any): Any =
    Sq8EncodeImpl.eval(input.asInstanceOf[ArrayData], mins, scales)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val minsRef = ctx.addReferenceObj("sq8Mins", mins, "float[]")
    val scalesRef = ctx.addReferenceObj("sq8Scales", scales, "float[]")
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.Sq8EncodeImpl.eval($c, $minsRef, $scalesRef)")
  }
  override protected def withNewChildInternal(newChild: Expression): Sq8EncodeExpr =
    copy(child = newChild)
}

object PqOps {

  /** One-pass SQ8 (codes, dnorm) struct — see [[Sq8EncodeImpl]]. */
  def sq8Encode(e: Column, mins: Array[Float], scales: Array[Float]): Column =
    GraftBridge.column(Sq8EncodeExpr(GraftBridge.expression(e), mins, scales))

  /** All m PQ codes of `e` in one codegen'd pass — argmax_ci of
    * dot(e_subⱼ, c)·2 − ‖c‖² per subspace, ties → lowest ci; bit-equal to
    * the `greatest`-tree reference spelling (PqKernelSpec).
    */
  def pqCodes(e: Column, codebooks: Seq[Seq[Array[Float]]], subDim: Int,
              offsets: Seq[Array[Double]]): Column =
    GraftBridge.column(PqCodesExpr(GraftBridge.expression(e), codebooks,
      subDim, offsets))

  /** Residual PQ codes — same kernel with the per-(cid, j, ci) offset
    * table (the algebraic fold of quantizing x − centroid).
    */
  def pqCodesResidual(e: Column, cid: Column,
                      codebooks: Seq[Seq[Array[Float]]], subDim: Int,
                      cids: Array[Long],
                      offsetsByCid: Seq[Seq[Array[Double]]]): Column =
    GraftBridge.column(PqCodesResidualExpr(GraftBridge.expression(e),
      GraftBridge.expression(cid), codebooks, subDim, cids, offsetsByCid))
}
