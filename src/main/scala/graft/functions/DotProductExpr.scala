package graft.functions

import org.apache.spark.sql.{Column, GraftColumnBridge, SparkSession}
import org.apache.spark.sql.catalyst.analysis.FunctionRegistry
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType}

/** Native Catalyst expression for the double-array dot product — the
  * inner loop of every similarity/ANN/near-dup operator
  * (`VectorOps`). The composed HOF form
  * `aggregate(zip_with(a, b, _*_), 0.0, _+_)` evaluates its lambda
  * per element through the interpreter (higher-order functions never
  * enter whole-stage codegen); this expression is one static call
  * inside the generated code with a tight primitive loop.
  *
  * Summation is the same sequential index-ordered fold as the HOF
  * form and DuckDB's `list_dot_product`, so results stay
  * bit-identical and the DuckDB oracles hold. Null elements do not
  * occur in embedding vectors (the HOF form would yield null; this
  * one reads primitives), and mismatched lengths truncate to the
  * shorter side.
  */
case class DotProduct(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def prettyName: String = "dot_product"

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    def ok(t: DataType): Boolean = t match {
      case ArrayType(DoubleType, _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType))
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"dot_product needs two array<double> arguments, got " +
          s"${left.dataType.simpleString} and ${right.dataType.simpleString}")
  }

  override protected def nullSafeEval(l: Any, r: Any): Any =
    DotProduct.dot(l.asInstanceOf[ArrayData], r.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      (a, b) => s"graft.functions.DotProduct$$.MODULE$$.dot($a, $b)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DotProduct =
    copy(left = newLeft, right = newRight)
}

object DotProduct {

  /** index-ordered primitive fold (same order as the HOF form and
    * DuckDB's list_dot_product — bit-identical doubles)
    */
  def dot(a: ArrayData, b: ArrayData): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var s = 0.0
    var i = 0
    while (i < n) {
      s += a.getDouble(i) * b.getDouble(i)
      i += 1
    }
    s
  }

  def apply(a: Column, b: Column): Column =
    GraftColumnBridge.column(DotProduct(
      GraftColumnBridge.expression(a), GraftColumnBridge.expression(b)))

  private val builder: FunctionRegistry.FunctionBuilder = {
    case Seq(a, b) => DotProduct(a, b)
    case exprs => throw new IllegalArgumentException(
      s"dot_product requires exactly 2 arguments, got ${exprs.length}")
  }

  /** register `dot_product` for SQL use on an existing session */
  def register(spark: SparkSession): Unit =
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "dot_product", builder, "built-in")
}
