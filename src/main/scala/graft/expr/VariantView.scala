package graft.expr

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, TimeZoneAwareExpression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.expressions.variant.{VariantCastArgs, VariantGet}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._
import org.apache.spark.types.variant.{Variant, VariantUtil}
import org.apache.spark.unsafe.types.{UTF8String, VariantVal}

/** One MQL-bracketed view of a VARIANT value: the value as the view's
  * type where MQL compares it as that type, else null. The child is
  * usually `variant_get(root, path, 'variant')`, which Spark can push
  * into a Parquet scan and share between the views of one field. The
  * view reads the value's type id once and converts the value itself.
  *
  * Each kind returns what a `schema_of_variant` type test guarding a
  * `try_variant_get` cast returns (VariantViewSpec compares the two):
  *  - `intNum` (LONG): an integer, or a DECIMAL whose schema scale is
  *    0 (a whole number: `5.0` parses to DECIMAL and counts); null
  *    past the 64-bit range.
  *  - `num` (DOUBLE): any integer, DECIMAL, FLOAT or DOUBLE.
  *  - `str` (STRING) and `bool` (BOOLEAN): that type only.
  *  - `typeName` (STRING): the MQL `$type` name — "string", "bool",
  *    "long" (integers and whole DECIMALs), "double" (FLOAT, DOUBLE,
  *    other DECIMALs), "array", "null" (JSON null); null otherwise.
  *  - `varr` (ARRAY<VARIANT>) and `arr` (ARRAY<STRING>): an array, its
  *    elements cast as `try_variant_get` casts them; null otherwise. */
final case class VariantView(child: Expression, kind: String,
    timeZoneId: Option[String] = None)
    extends UnaryExpression with TimeZoneAwareExpression {
  require(VariantView.Kinds.contains(kind), s"unknown variant view: $kind")

  override def dataType: DataType = VariantView.Kinds(kind)
  override def nullable: Boolean = true
  // the zone is read by `arr` only: a date or timestamp element cast to
  // a string
  override def withTimeZone(tz: String): VariantView =
    copy(timeZoneId = Some(tz))

  @transient private lazy val castArgs =
    VariantCastArgs(failOnError = false, timeZoneId, zoneId)

  override protected def nullSafeEval(input: Any): Any = {
    val v = input.asInstanceOf[VariantVal]
    kind match {
      case "intNum" => VariantBracket.intNum(v)
      case "num" => VariantBracket.num(v)
      case "str" => VariantBracket.str(v)
      case "bool" => VariantBracket.bool(v)
      case "typeName" => VariantBracket.typeName(v)
      case _ => VariantBracket.array(v, dataType, castArgs)
    }
  }

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode = {
    val c = child.genCode(ctx)
    val out = ctx.freshName("view")
    val helper = "graft.expr.VariantBracket"
    val call = dataType match {
      case _: ArrayType =>
        val to = ctx.addReferenceObj("viewType", dataType,
          classOf[DataType].getName)
        val args = ctx.addReferenceObj("castArgs", castArgs)
        s"$helper.array(${c.value}, $to, $args)"
      case _ => s"$helper.$kind(${c.value})"
    }
    val value = dataType match {
      case LongType => s"$out.longValue()"
      case DoubleType => s"$out.doubleValue()"
      case BooleanType => s"$out.booleanValue()"
      case _ => out
    }
    ev.copy(code = code"""
      ${c.code}
      ${CodeGenerator.boxedType(dataType)} $out =
        ${c.isNull} ? null : $call;
      boolean ${ev.isNull} = $out == null;
      ${CodeGenerator.javaType(dataType)} ${ev.value} = ${ev.isNull} ?
        ${CodeGenerator.defaultValue(dataType)} : $value;
    """)
  }

  override def toString: String = s"mql_$kind($child)"
  override def sql: String = s"mql_$kind(${child.sql})"

  override protected def withNewChildInternal(c: Expression): VariantView =
    copy(child = c)
}

object VariantView {
  private[expr] val Kinds: Map[String, DataType] = Map(
    "intNum" -> LongType, "num" -> DoubleType, "str" -> StringType,
    "bool" -> BooleanType, "typeName" -> StringType,
    "varr" -> ArrayType(VariantType), "arr" -> ArrayType(StringType))

  /** The `kind` view of the VARIANT column `v`. */
  def column(v: Column, kind: String): Column =
    org.apache.spark.sql.graft.ColumnBridge.column(VariantView(
      org.apache.spark.sql.graft.ColumnBridge.expression(v), kind))
}

/** [[VariantView]]'s conversions, called from its generated code: each
  * returns null where the view does not bracket the value. */
object VariantBracket {
  import VariantUtil.Type

  private val stringName = UTF8String.fromString("string")
  private val boolName = UTF8String.fromString("bool")
  private val longName = UTF8String.fromString("long")
  private val doubleName = UTF8String.fromString("double")
  private val arrayName = UTF8String.fromString("array")
  private val nullName = UTF8String.fromString("null")

  private def of(v: VariantVal) = new Variant(v.getValue, v.getMetadata)

  /** Whether `schema_of_variant` prints `d` (trailing zeros already
    * stripped) as DECIMAL(p,0): it prints a negative scale as 0. */
  private def wholeNumber(d: java.math.BigDecimal): Boolean = d.scale <= 0

  def intNum(vv: VariantVal): java.lang.Long = {
    val v = of(vv)
    v.getType match {
      case Type.LONG => java.lang.Long.valueOf(v.getLong)
      case Type.DECIMAL =>
        val d = v.getDecimal
        if (!wholeNumber(d)) null
        else try java.lang.Long.valueOf(d.toBigInteger.longValueExact)
        catch { case _: ArithmeticException => null }
      case _ => null
    }
  }

  def num(vv: VariantVal): java.lang.Double = {
    val v = of(vv)
    v.getType match {
      case Type.LONG => java.lang.Double.valueOf(v.getLong.toDouble)
      case Type.DOUBLE => java.lang.Double.valueOf(v.getDouble)
      case Type.FLOAT => java.lang.Double.valueOf(v.getFloat.toDouble)
      case Type.DECIMAL => java.lang.Double.valueOf(v.getDecimal.doubleValue)
      case _ => null
    }
  }

  def str(vv: VariantVal): UTF8String = {
    val v = of(vv)
    if (v.getType == Type.STRING) UTF8String.fromString(v.getString)
    else null
  }

  def bool(vv: VariantVal): java.lang.Boolean = {
    val v = of(vv)
    if (v.getType == Type.BOOLEAN) java.lang.Boolean.valueOf(v.getBoolean)
    else null
  }

  def typeName(vv: VariantVal): UTF8String = {
    val v = of(vv)
    v.getType match {
      case Type.STRING => stringName
      case Type.BOOLEAN => boolName
      case Type.LONG => longName
      case Type.DOUBLE | Type.FLOAT => doubleName
      case Type.DECIMAL =>
        if (wholeNumber(v.getDecimal)) longName else doubleName
      case Type.ARRAY => arrayName
      case Type.NULL => nullName
      case _ => null
    }
  }

  def array(vv: VariantVal, to: DataType,
      args: VariantCastArgs): ArrayData = {
    val v = of(vv)
    if (v.getType == Type.ARRAY)
      VariantGet.cast(v, to, args).asInstanceOf[ArrayData]
    else null
  }
}
