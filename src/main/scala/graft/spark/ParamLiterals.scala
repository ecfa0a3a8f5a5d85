package graft.spark

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryComparison, Expression, LeafExpression, Literal}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, CodeGenerator, EmptyBlock, ExprCode, FalseLiteral, JavaCode}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{ColumnarRule, FilterExec, SparkPlan}
import org.apache.spark.sql.types._

/** A non-null primitive constant whose generated code reads its value from
  * the codegen references array instead of inlining it. Two filters that
  * differ only in such a constant generate identical Java source, so the
  * second one hits the codegen cache (and runs a JIT-warm class) instead
  * of compiling a fresh one. It prints exactly like the literal it
  * replaces: plan text is unchanged. */
case class ParamLiteral(value: Any, dataType: DataType) extends LeafExpression {
  override def nullable: Boolean = false
  // not foldable: no later rule may evaluate it back into the source
  override def foldable: Boolean = false
  override def eval(input: InternalRow): Any = value
  override def toString: String = Literal(value, dataType).toString
  override def sql: String = Literal(value, dataType).sql

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val javaType = CodeGenerator.javaType(dataType)
    val ref = ctx.addReferenceObj("param", value, CodeGenerator.boxedType(dataType))
    val field = ctx.addMutableState(javaType, "param",
      v => s"$v = $ref.${javaType}Value();")
    ev.copy(code = EmptyBlock, isNull = FalseLiteral,
      value = JavaCode.global(field, dataType))
  }
}

object ParamLiteral {
  /** Types whose Java representation is a primitive. */
  private def primitive(dt: DataType): Boolean = dt match {
    case BooleanType | ByteType | ShortType | IntegerType | LongType |
         FloatType | DoubleType | DateType | TimestampType |
         TimestampNTZType => true
    case _ => false
  }

  /** `cond` with every non-null primitive literal operand of a comparison
    * turned into a [[ParamLiteral]]. */
  def parameterize(cond: Expression): Expression = cond.transformUp {
    case c: BinaryComparison if c.children.exists {
        case Literal(v, dt) => v != null && primitive(dt)
        case _ => false
      } =>
      c.withNewChildren(c.children.map {
        case Literal(v, dt) if v != null && primitive(dt) => ParamLiteral(v, dt)
        case other => other
      })
  }
}

/** The `injectColumnar` rule, placed after [[GraftColumnarRule]]: it
  * parameterizes the literals of `FilterExec` conditions. Scans keep their
  * own filters (parquet pushdown is untouched), and a filter the columnar
  * kernel already absorbed is no longer a `FilterExec`. */
case class GraftParamLiteralRule() extends ColumnarRule {
  override def preColumnarTransitions: Rule[SparkPlan] = new Rule[SparkPlan] {
    override val ruleName: String = "graft.ParamLiterals"
    override def apply(plan: SparkPlan): SparkPlan = plan.transformUp {
      case f: FilterExec =>
        val cond = ParamLiteral.parameterize(f.condition)
        if (cond.fastEquals(f.condition)) f else f.copy(condition = cond)
    }
  }
}
