package org.apache.spark.sql.graft

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{DynamicPruning, Expression, LeafExpression, Literal, PlanExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, CodeGenerator, ExprCode, JavaCode}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{ColumnarRule, FilterExec, SparkPlan}
import org.apache.spark.sql.types._

/** A filter constant whose generated code does not hold its value.
  *
  * Spark's `Literal` writes boolean, integral, floating, date and
  * timestamp values into the generated Java source, so `k = 39415` and
  * `k = 39416` are two source texts, and the JVM-wide compile cache
  * (keyed by source) runs Janino for each. This expression's code reads
  * the value once, at init, from the generated class's `references`
  * array into a field, so every constant of one statement shape shares
  * one compiled class.
  *
  * It is the wrapped `Literal` in every other respect: it evaluates,
  * prints (`toString`, `sql`) and compares as that literal, so plans
  * that differ in a constant never canonicalize equal, and plan text is
  * unchanged.
  */
case class ReferencedLiteral(literal: Literal) extends LeafExpression {
  require(ReferencedLiteral.covers(literal))

  override def dataType: DataType = literal.dataType
  override def nullable: Boolean = false
  override def foldable: Boolean = true
  override def eval(input: InternalRow): Any = literal.value
  override def toString: String = literal.toString
  override def sql: String = literal.sql

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val javaType = CodeGenerator.javaType(dataType)
    val boxed = ctx.addReferenceObj("literal", literal.value, CodeGenerator.boxedType(dataType))
    val field = ctx.addMutableState(javaType, "literal",
      v => s"$v = $boxed.${javaType}Value();")
    ExprCode.forNonNullValue(JavaCode.global(field, dataType))
  }
}

object ReferencedLiteral {
  /** A non-null literal of a type whose value `Literal.doGenCode`
    * writes into the source.
    */
  def covers(l: Literal): Boolean = l.value != null && (l.dataType match {
    case BooleanType | ByteType | ShortType | IntegerType | LongType | FloatType |
         DoubleType | DateType | TimestampType | TimestampNTZType => true
    case _ => false
  })
}

/** Replaces each covered literal in a `FilterExec` condition
  * with a [[ReferencedLiteral]]. It runs on physical plans only (before
  * whole-stage codegen, on every query and adaptive stage), so the
  * optimizer, the scan's pushed, partition and data filters, and the
  * skipping index all still see real literals. Dynamic-pruning and
  * subquery expressions are left whole: later rules match on their
  * exact shape.
  */
object ReferenceFilterLiterals extends Rule[SparkPlan] {
  override def apply(plan: SparkPlan): SparkPlan = plan.transformUp {
    case f: FilterExec =>
      val c = reference(f.condition)
      if (c eq f.condition) f else f.copy(condition = c)
  }

  private def reference(e: Expression): Expression = e match {
    case l: Literal if ReferencedLiteral.covers(l) => ReferencedLiteral(l)
    case _: DynamicPruning | _: PlanExpression[_] => e
    case _ => e.mapChildren(reference)
  }
}

/** The columnar-rule slot: Spark runs it on every finished physical
  * plan and adaptive stage, before `CollapseCodegenStages`.
  */
object ReferenceFilterLiteralsRule extends ColumnarRule {
  override def preColumnarTransitions: Rule[SparkPlan] = ReferenceFilterLiterals
}
