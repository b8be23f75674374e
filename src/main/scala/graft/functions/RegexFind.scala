package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Unanchored regex `find` over a string column, with the compiled
  * `java.util.regex.Pattern` bound as a reference object.
  *
  * Spark's `rlike` with a literal pattern inlines the pattern text into the
  * generated Java (`Pattern.compile("^GCM-3[0-4]", 0)`), so every distinct
  * search pattern compiles its own copy of the filter stage. Here the source
  * names only `references[i]`: every pattern of one stage shape shares one
  * compiled class. Semantics are `rlike`'s: `Matcher.find`, inline
  * `(?imsux)` flags honoured, a null cell gives null (a filter drops it).
  */
case class RegexFind(child: Expression, regex: String) extends UnaryExpression {

  @transient private lazy val pattern = java.util.regex.Pattern.compile(regex)

  override def dataType: DataType = BooleanType

  override def prettyName: String = "regex_find"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case _: StringType => TypeCheckResult.TypeCheckSuccess
    case other         => TypeCheckResult.TypeCheckFailure(s"regex_find expects a string, got $other")
  }

  def find(s: UTF8String): Boolean = pattern.matcher(s.toString).find()

  override def nullSafeEval(v: Any): Any = find(v.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("regexFind", this, classOf[RegexFind].getName)
    nullSafeCodeGen(ctx, ev, s => s"${ev.value} = $ref.find($s);")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object RegexFind {
  import org.apache.spark.sql.GraftColumnBridge.{column, expression}

  /** `c` contains a match of `regex` (see [[RegexFind]]). */
  def regexFind(c: Column, regex: String): Column = column(RegexFind(expression(c), regex))
}
