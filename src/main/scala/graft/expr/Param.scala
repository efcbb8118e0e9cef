package graft.expr

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryComparison, Cast, Expression, In, LeafExpression, Literal}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode, JavaCode}
import org.apache.spark.sql.graftshim.ColumnShim
import org.apache.spark.sql.types.DataType

/** A per-request value that generated code reads from the plan's reference
  * array: Spark writes a primitive literal (an interval, a zoom shift, a
  * month) into the Java source, so each new value compiles a new class.
  * Not foldable, so the optimizer never turns it back into a literal.
  */
case class ParamExpr(value: Any, dataType: DataType) extends LeafExpression {
  override def foldable: Boolean = false
  override def nullable: Boolean = value == null
  override def eval(input: InternalRow): Any = value
  override def toString: String = s"param($value)"

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    if (value == null) ExprCode.forNullValue(dataType)
    else {
      val ref = ctx.addReferenceObj("param", value, CodeGenerator.boxedType(dataType))
      val javaType = CodeGenerator.javaType(dataType)
      val read = if (CodeGenerator.isPrimitiveType(dataType)) s"$ref.${javaType}Value()" else ref
      ExprCode.forNonNullValue(JavaCode.expression(read, dataType))
    }
}

object Param {
  /** `value` (a number, string or boolean) as a parameter of its literal's type. */
  def apply(value: Any): Column = ColumnShim.column(param(Literal(value)))

  /** `df` where `predicate` holds, the literals its comparisons and IN lists
    * read as parameters: for a widget state over a pinned in-memory frame
    * (a parquet scan wants the literals, to push the predicate down).
    */
  def filter(df: DataFrame, predicate: Column): DataFrame =
    df.where(ColumnShim.column(df.select(predicate.as("_p")).queryExecution.analyzed.expressions.head
      .children.head.transform {
        case in: In => in.copy(list = in.list.map(param))
        case c: BinaryComparison => c.withNewChildren(c.children.map(param))
      }))

  private def param(e: Expression): Expression = e match {
    case Literal(v, t) => ParamExpr(v, t)
    case c @ Cast(Literal(_, _), _, _, _) => c.withNewChildren(c.children.map(param))
    case other => other
  }
}
