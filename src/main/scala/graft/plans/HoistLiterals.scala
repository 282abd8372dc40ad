package graft.plans

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{LeafExpression, Literal}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, CodeGenerator,
  ExprCode, JavaCode}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{FilterExec, SparkPlan}
import org.apache.spark.sql.types._

/** Physical-plan rule: every non-null literal in a `FilterExec` condition
  * whose value Spark's `Literal` writes into the generated Java source
  * (`> 23L`) becomes a [[HoistedLiteral]], which reads the value from the
  * generated class's `references` array instead — the way Spark already
  * passes string and decimal literals.
  *
  * Why: the codegen cache is keyed by the generated source, so a filter
  * whose bounds change per call compiles a new class per call. The sync
  * loop's `block > last AND block <= latest` recompiled three whole-stage
  * classes per batch (78 Janino compiles per 16-batch sync); with the
  * bounds hoisted every batch after the first reuses the compiled classes.
  *
  * The rewrite runs after planning: the optimizer, parquet filter pushdown
  * (`PushedFilters`) and partition pruning still see plain literals, and
  * the `Filter` line of `explain` is unchanged.
  *
  * Registered through `GraftExtensions` (injectColumnar, as a
  * pre-transition rule): the columnar rules run before whole-stage
  * codegen both in the non-adaptive preparations and on every adaptive
  * query stage.
  */
object HoistLiterals extends Rule[SparkPlan] {

  /** Types whose non-null `Literal` codegen inlines the value. */
  private def inlined(t: DataType): Boolean = t match {
    case BooleanType | ByteType | ShortType | IntegerType | DateType | LongType |
        TimestampType | TimestampNTZType | FloatType | DoubleType |
        _: YearMonthIntervalType | _: DayTimeIntervalType => true
    case _ => false
  }

  def apply(plan: SparkPlan): SparkPlan = plan.transformUp {
    case f: FilterExec => f.transformExpressions {
      case l: Literal if l.value != null && inlined(l.dataType) => HoistedLiteral(l)
    }
  }
}

/** A literal whose generated code reads its value from the plan's
  * `references` array into a field, once per generated-class instance,
  * so the source does not depend on the value. `eval`, `toString` and
  * `sql` are the wrapped literal's. */
final case class HoistedLiteral(literal: Literal) extends LeafExpression {
  override def dataType: DataType = literal.dataType
  override def nullable: Boolean = false
  override def foldable: Boolean = true
  override def eval(input: InternalRow): Any = literal.value
  override def toString: String = literal.toString
  override def sql: String = literal.sql

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val javaType = CodeGenerator.javaType(dataType)
    val ref = ctx.addReferenceObj("literal", literal.value)
    val field = ctx.addMutableState(javaType, "hoistedLiteral",
      v => s"$v = $ref.${javaType}Value();")
    ExprCode.forNonNullValue(JavaCode.global(field, dataType))
  }
}
