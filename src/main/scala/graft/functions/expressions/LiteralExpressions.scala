package graft.functions.expressions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, CodeGenerator, ExprCode, JavaCode}
import org.apache.spark.sql.types.DataType

/** Passes its child's value through unchanged, but when the child is a
  * literal at code generation time the generated code reads the value from
  * the generated class's `references` array instead of spelling it out.
  *
  * Whole-stage codegen reuses a compiled class only when the generated
  * source is identical. A streaming query rewrites `current_timestamp()`
  * into the micro-batch's timestamp literal after optimization, so an
  * inlined value makes every batch's source different and Janino compiles
  * the whole stage again on each trigger. Read from `references`, the
  * value changes per batch while the source and the compiled class stay
  * the same.
  *
  * Not foldable: constant folding would otherwise replace the wrapper by
  * its literal child before code generation. A non-literal child generates
  * its own code.
  */
case class LiteralByReference(child: Expression) extends UnaryExpression {

  override def dataType: DataType = child.dataType

  override def nullable: Boolean = child.nullable

  override def foldable: Boolean = false

  override def eval(input: InternalRow): Any = child.eval(input)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    child match {
      case Literal(v, dt) if v != null =>
        val ref = ctx.addReferenceObj("literal", v, CodeGenerator.boxedType(dt))
        val value =
          if (CodeGenerator.isPrimitiveType(dt)) s"$ref.${CodeGenerator.javaType(dt)}Value()"
          else ref
        ExprCode.forNonNullValue(JavaCode.expression(value, dt))
      case _ => child.genCode(ctx)
    }

  override protected def withNewChildInternal(newChild: Expression): LiteralByReference =
    copy(child = newChild)

  override def prettyName: String = "literal_by_reference"
}
