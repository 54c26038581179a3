package graft.plans

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode, JavaCode}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{FilterExec, ProjectExec, SparkPlan}
import org.apache.spark.sql.types._

/** A non-null primitive literal that generated code reads from the
  * class's `references` array, through a field the constructor sets,
  * instead of inlining it into the Java source (`value == 13L`). The
  * source then no longer depends on the value, so one compiled class
  * serves every parameter of a query shape: Spark's codegen cache is
  * keyed by the source, and `WHERE k = 13` and `WHERE k = 14` share it.
  * Plan text is the literal's own. */
case class BoundLiteral(lit: Literal) extends LeafExpression {
  override def dataType: DataType = lit.dataType
  override def nullable: Boolean = false
  override def eval(input: InternalRow): Any = lit.value
  override def toString: String = lit.toString
  override def sql: String = lit.sql

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val javaType = CodeGenerator.javaType(dataType)
    val ref = ctx.addReferenceObj("bound", lit.value, CodeGenerator.boxedType(dataType))
    val field = ctx.addMutableState(javaType, "boundLiteral",
      v => s"$v = $ref.${javaType}Value();", forceInline = true)
    ExprCode.forNonNullValue(JavaCode.global(field, dataType))
  }
}

/** Replaces the direct literal children of comparisons, `IN` and
  * `+ - * %` inside filter conditions and projections with
  * [[BoundLiteral]]s, so a point lookup or a CDC statement with a new
  * key reuses its compiled stage. The scope is narrow on purpose: many
  * expressions need a foldable child (LIKE and regex patterns, window
  * frame bounds, `lag` offsets, `round` scale), and those are left
  * alone. It runs on the physical plan, after pushdown and pruning
  * have seen the real literals, and before `CollapseCodegenStages`;
  * [[PhysicalRules]] installs it. */
object HoistLiterals extends Rule[SparkPlan] {
  override def apply(plan: SparkPlan): SparkPlan = plan.transformUp {
    case f: FilterExec =>
      val c = hoist(f.condition)
      if (c eq f.condition) f else f.copy(condition = c)
    case p: ProjectExec =>
      val ps = p.projectList.map(e => hoist(e).asInstanceOf[NamedExpression])
      if (ps.zip(p.projectList).forall { case (a, b) => a eq b }) p
      else p.copy(projectList = ps)
  }

  private def hoist(e: Expression): Expression = e.transformUp {
    case op @ (_: EqualTo | _: EqualNullSafe | _: LessThan | _: LessThanOrEqual |
        _: GreaterThan | _: GreaterThanOrEqual | _: In |
        _: Add | _: Subtract | _: Multiply | _: Remainder) =>
      op.mapChildren {
        case l: Literal if l.value != null && bindable(l.dataType) => BoundLiteral(l)
        case c => c
      }
  }

  private def bindable(dt: DataType): Boolean = dt match {
    case ByteType | ShortType | IntegerType | LongType | FloatType | DoubleType |
        DateType | TimestampType | TimestampNTZType => true
    case _ => false
  }
}
