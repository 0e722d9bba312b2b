package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, EmptyBlock, ExprCode, FalseLiteral, JavaCode, TrueLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.graft.shim
import org.apache.spark.sql.types.DataType

/** A constant that stays out of the generated code's text: codegen reads
  * the (foldable) child's value from the stage's reference array
  * (`ctx.addReferenceObj`) instead of writing it as a Java literal.
  *
  * Catalyst writes a folded constant into the stage source. A value that
  * changes per run, such as the micro-batch timestamp `current_timestamp()`
  * becomes in a stream, then makes every batch's source differ, so every
  * batch recompiles its stage with Janino and runs it cold. Behind this
  * wrapper the source is the same each batch and `CodeGenerator`'s cache
  * returns the class already compiled. The wrapper is not foldable, so the
  * optimizer leaves it in place; its value is exactly the child's. A child
  * that is not yet a constant when code is generated generates its own.
  */
case class ConstantRef(child: Expression) extends UnaryExpression {

  override def dataType: DataType = child.dataType
  override def nullable: Boolean = child.nullable
  override def foldable: Boolean = false
  override def prettyName: String = "constant_ref"

  override def eval(input: InternalRow): Any = child.eval(input)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    if (!child.foldable) child.genCode(ctx)
    else child.eval() match {
      case null =>
        ev.copy(code = EmptyBlock, isNull = TrueLiteral,
          value = JavaCode.defaultLiteral(dataType))
      case v =>
        val javaType = CodeGenerator.javaType(dataType)
        val ref = ctx.addReferenceObj("constant", v, CodeGenerator.boxedType(dataType))
        val read = if (CodeGenerator.isPrimitiveType(dataType)) s"$ref.${javaType}Value()" else ref
        ev.copy(code = code"$javaType ${ev.value} = $read;", isNull = FalseLiteral)
    }

  override protected def withNewChildInternal(newChild: Expression): ConstantRef =
    copy(child = newChild)
}

object ConstantFunctions {
  def constant_ref(c: Column): Column = shim.column(ConstantRef(shim.expression(c)))
}
