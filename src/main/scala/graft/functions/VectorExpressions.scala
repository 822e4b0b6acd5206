package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{AbstractDataType, ArrayType, DataType, DoubleType}

/** Codegen'd dot product over two array<double> columns.
  *
  * This is the one place (SURVEY.md §4.2) where built-in operators
  * genuinely can't keep up: `aggregate(zip_with(a,b,*),0.0,+)` is
  * semantically right but higher-order functions run INTERPRETED — per
  * element: a lambda-variable write, an eval call, a boxed add. For
  * pairwise similarity that cost multiplies by |pairs|·dim (the sf0.1
  * bench spent 143 s of 209 s there). This expression compiles to a
  * tight primitive loop inside WholeStageCodegen.
  *
  * Numerics: ascending-index sequential fold, exactly like the
  * higher-order formulation and DuckDB's list_dot_product — results are
  * bit-identical, so oracle queries can use it freely. Null-safe at the
  * column level (null array → null); element nulls are the caller's
  * responsibility (embeddings never contain them).
  */
case class DotProduct(left: Expression, right: Expression)
    extends BinaryExpression {

  override def nullIntolerant: Boolean = true
  override def dataType: DataType = DoubleType
  override def prettyName: String = "vec_dot"

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    def ok(t: DataType) = t match {
      case ArrayType(DoubleType, _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType))
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires two array<double> arguments, " +
          s"got ${left.dataType.sql} and ${right.dataType.sql}")
  }

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = DotProduct.checkedDim(x.numElements(), y.numElements())
    var s = 0.0
    var i = 0
    while (i < n) { s += x.getDouble(i) * y.getDouble(i); i += 1 }
    s
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (x, y) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val s = ctx.freshName("s")
      s"""
         |int $n = graft.functions.DotProduct.checkedDim(
         |  $x.numElements(), $y.numElements());
         |double $s = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $s += $x.getDouble($i) * $y.getDouble($i);
         |}
         |${ev.value} = $s;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DotProduct =
    copy(left = newLeft, right = newRight)
}

object DotProduct {
  /** Both engines must fail identically on malformed input: DuckDB's
    * list_dot_product errors on length mismatch, so a silent
    * min-length fold here would turn an upstream dimension bug into a
    * plausible-but-wrong similarity. Called from generated code via the
    * companion's static forwarder.
    */
  def checkedDim(nx: Int, ny: Int): Int = {
    if (nx != ny)
      throw new IllegalArgumentException(
        s"vec_dot: array dimensions differ ($nx vs $ny)")
    nx
  }
}

/** Column-API entry points for the native vector expressions. */
object VectorFunctions {
  import org.apache.spark.sql.graft.ColumnBridge

  /** Codegen'd dot product of two array<double> columns. */
  def vecDot(a: Column, b: Column): Column =
    ColumnBridge.column(
      DotProduct(ColumnBridge.expression(a), ColumnBridge.expression(b)))
}
