package graft.plans

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryComparison, Expression, LeafExpression, Literal}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode, JavaCode}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.{FileSourceScanExec, FilterExec, SparkPlan, SparkStrategy}
import org.apache.spark.sql.execution.datasources.FileSourceStrategy
import org.apache.spark.sql.types.DataType

/** A constant whose value reaches generated code through the class's
  * `references` array instead of its source text.
  *
  * `Literal.doGenCode` writes a primitive value straight into the Java
  * it generates (`ts >= 1704445200000000L`), so two plans that differ
  * only in a constant compile to two classes. This leaf generates the
  * same text for every value: a field filled from `references` when the
  * class is initialized. Non-foldable, so no rule turns it back into a
  * `Literal`; only primitive types are allowed, because every other type
  * already travels through `references`.
  */
case class ParamLiteral(value: Any, dataType: DataType) extends LeafExpression {
  require(value != null && CodeGenerator.isPrimitiveType(dataType),
    s"ParamLiteral takes a non-null primitive value, got $value: $dataType")

  override def foldable: Boolean = false
  override def nullable: Boolean = false
  override def eval(input: InternalRow): Any = value
  override def toString: String = s"param(${Literal(value, dataType)})"

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val javaType = CodeGenerator.javaType(dataType)
    val ref = ctx.addReferenceObj("param", value, CodeGenerator.boxedType(dataType))
    val field = ctx.addMutableState(javaType, "param", v => s"$v = $ref.${javaType}Value();")
    ExprCode.forNonNullValue(JavaCode.global(field, dataType))
  }
}

/** Planner strategy: plan file scans with Spark's `FileSourceStrategy`,
  * then move the primitive constants of the comparisons in the
  * `FilterExec` directly above each scan into [[ParamLiteral]]s.
  *
  * A scheduled run plans the same query every tick with new cursor-window
  * bounds. With the bounds written into the generated code, every tick
  * misses Spark's codegen cache, compiles its filter stages again and
  * runs the new classes interpreted until the JIT catches up. With the
  * bounds as parameters the code text repeats from tick to tick and the
  * compiled classes are reused.
  *
  * Only the row-level `FilterExec` changes. The scan's partition and data
  * filters, and so the `PushedFilters` behind parquet row-group pruning,
  * keep the real literals.
  */
object ScanFilterParamStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] =
    FileSourceStrategy(plan).map(_.transformUp {
      case f @ FilterExec(condition, _: FileSourceScanExec) =>
        f.copy(condition = parameterize(condition))
    })

  private def parameterize(condition: Expression): Expression =
    condition.transformUp {
      case c: BinaryComparison => c.withNewChildren(c.children.map {
        case Literal(v, t) if v != null && CodeGenerator.isPrimitiveType(t) => ParamLiteral(v, t)
        case e => e
      })
    }
}
