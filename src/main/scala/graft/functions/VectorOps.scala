package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}

/** Native vector kernels for the similarity/dedup hot paths.
  *
  * The composable alternative (`aggregate(zip_with(a, b, ...))`) allocates an
  * intermediate array per row pair and evaluates lambda closures outside
  * whole-stage codegen. These expressions read both `ArrayData` buffers
  * directly in a primitive loop with `doGenCode`, so an O(n^2) candidate
  * scan stays allocation-free and JIT-compiled — the difference between a
  * feasible and an infeasible brute-force pass at scale.
  *
  * Inputs may be array<float> or array<double>; accumulation is always in
  * double, summed sequentially in index order (bit-identical to the
  * sequential `aggregate(...)` fold and to the DuckDB oracle formulation).
  */
trait VectorArrayHelpers { self: Expression =>
  protected def checkVec(dt: DataType, name: String): TypeCheckResult = dt match {
    case ArrayType(DoubleType, _) | ArrayType(FloatType, _) =>
      TypeCheckResult.TypeCheckSuccess
    case other =>
      TypeCheckResult.TypeCheckFailure(
        s"$name requires array<double> or array<float>, got $other")
  }
}

/** Σ a(i)*b(i), in index order. Arrays must be same length (min is used). */
case class DotProduct(left: Expression, right: Expression)
    extends BinaryExpression with VectorArrayHelpers {

  override def dataType: DataType = DoubleType

  override def checkInputDataTypes(): TypeCheckResult = {
    val l = checkVec(left.dataType, prettyName)
    if (l.isFailure) l else checkVec(right.dataType, prettyName)
  }

  private lazy val leftIsFloat = left.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }
  private lazy val rightIsFloat = right.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }

  override def nullSafeEval(l: Any, r: Any): Any =
    VectorKernels.dot(l.asInstanceOf[ArrayData], r.asInstanceOf[ArrayData],
      leftIsFloat, rightIsFloat)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.functions.VectorKernels.dot($a, $b, $leftIsFloat, $rightIsFloat);")

  override protected def withNewChildrenInternal(l: Expression, r: Expression): DotProduct =
    copy(left = l, right = r)

  override def prettyName: String = "vec_dot"
}

/** sqrt(Σ x(i)^2), in index order. */
case class L2Norm(child: Expression)
    extends UnaryExpression with VectorArrayHelpers {

  override def dataType: DataType = DoubleType

  override def checkInputDataTypes(): TypeCheckResult =
    checkVec(child.dataType, prettyName)

  private lazy val isFloat = child.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }

  override def nullSafeEval(v: Any): Any =
    VectorKernels.l2norm(v.asInstanceOf[ArrayData], isFloat)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.VectorKernels.l2norm($c, $isFloat);")

  override protected def withNewChildInternal(newChild: Expression): L2Norm =
    copy(child = newChild)

  override def prettyName: String = "vec_l2norm"
}

object VectorKernels {

  def dot(a: ArrayData, b: ArrayData, aFloat: Boolean, bFloat: Boolean): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var acc = 0.0
    var i = 0
    if (!aFloat && !bFloat) {
      while (i < n) { acc += a.getDouble(i) * b.getDouble(i); i += 1 }
    } else if (aFloat && bFloat) {
      while (i < n) { acc += a.getFloat(i).toDouble * b.getFloat(i).toDouble; i += 1 }
    } else {
      while (i < n) {
        val x = if (aFloat) a.getFloat(i).toDouble else a.getDouble(i)
        val y = if (bFloat) b.getFloat(i).toDouble else b.getDouble(i)
        acc += x * y
        i += 1
      }
    }
    acc
  }

  /** Dot of a plain float array against an ArrayData of floats (used by the
    * CosineTopK physical operator where the query side is a JVM array). */
  def dotFloatsArray(a: Array[Float], b: ArrayData): Double = {
    val n = math.min(a.length, b.numElements())
    var acc = 0.0
    var i = 0
    while (i < n) { acc += a(i).toDouble * b.getFloat(i).toDouble; i += 1 }
    acc
  }

  def l2normFloats(a: Array[Float]): Double = {
    var acc = 0.0
    var i = 0
    while (i < a.length) { val x = a(i).toDouble; acc += x * x; i += 1 }
    math.sqrt(acc)
  }

  def l2norm(a: ArrayData, aFloat: Boolean): Double = {
    val n = a.numElements()
    var acc = 0.0
    var i = 0
    if (aFloat) while (i < n) { val x = a.getFloat(i).toDouble; acc += x * x; i += 1 }
    else while (i < n) { val x = a.getDouble(i); acc += x * x; i += 1 }
    math.sqrt(acc)
  }
}
