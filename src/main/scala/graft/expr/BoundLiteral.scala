package graft.expr

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{LeafExpression, Literal}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.types.{DataType, DoubleType, LongType}

/** A long or double constant that generated code reads from the
  * references array instead of inlining. Spark writes a numeric
  * `Literal` into the Java source, so a filter compiled into whole-stage
  * codegen is new source — a Janino compile and cold JIT code — for
  * every distinct number; read through a reference, the source is the
  * same for every value and Spark's codegen cache compiles it once. Not
  * foldable: constant folding would turn it back into an inlined
  * `Literal`. */
final case class BoundLiteral(value: Any, dataType: DataType)
    extends LeafExpression {
  require(dataType == LongType || dataType == DoubleType,
    s"BoundLiteral holds a long or a double, not $dataType")

  override def foldable: Boolean = false
  override def nullable: Boolean = false
  override def eval(input: InternalRow): Any = value

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode = {
    val jt = CodeGenerator.javaType(dataType)
    val ref = ctx.addReferenceObj("bound", value,
      CodeGenerator.boxedType(dataType))
    ev.copy(code = code"final $jt ${ev.value} = $ref.${jt}Value();",
      isNull = FalseLiteral)
  }

  override def sql: String = Literal(value, dataType).sql
  override def toString: String = Literal(value, dataType).toString
}

object BoundLiteral {
  /** `v` (a Long or a Double) as a Column read through a reference. */
  def column(v: Any): Column =
    org.apache.spark.sql.graft.ColumnBridge.column(v match {
      case l: Long => BoundLiteral(l, LongType)
      case d: Double => BoundLiteral(d, DoubleType)
      case other => throw new IllegalArgumentException(
        s"BoundLiteral holds a long or a double, not $other")
    })
}
