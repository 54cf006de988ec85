package graft.functions

import com.ibm.icu.lang.UCharacter
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expression for lower-casing a UTF8_BINARY string,
  * returning exactly what Spark's `lower` returns there (its default
  * ICU case mapping): ASCII-only input is lower-cased byte by byte, any
  * other through ICU's root-locale `UCharacter.toLowerCase`.
  *
  * Spark 4.1 routes `lower` through `CollationAwareUTF8String`, whose
  * static initializer title-cases all 1,114,112 code points; a JVM's
  * first `lower` therefore costs over a second, paid inside the first
  * link job of a cold build. This expression calls the same two case
  * mappings without loading that class. */
case class LowerExpression(child: Expression) extends UnaryExpression {

  override def dataType: DataType = StringType
  override def checkInputDataTypes() =
    if (child.dataType == StringType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"lowercase requires STRING, got ${child.dataType}")

  override def nullSafeEval(input: Any): Any =
    LowerExpression.evalUtf8(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.LowerExpression.evalUtf8($c)")

  override protected def withNewChildInternal(newChild: Expression): LowerExpression =
    copy(child = newChild)

  override def prettyName: String = "lowercase"
}

object LowerExpression {
  /** Static entry used by both interpreted and generated code. */
  def evalUtf8(s: UTF8String): UTF8String =
    if (s.isFullAscii) s.toLowerCaseAscii
    else UTF8String.fromString(UCharacter.toLowerCase(s.toValidString))

  /** Column-API surface (Spark 4 classic bridge). */
  def lower(c: Column): Column =
    org.apache.spark.sql.graftbridge.Bridge.column(
      LowerExpression(org.apache.spark.sql.graftbridge.Bridge.expression(c)))
}
