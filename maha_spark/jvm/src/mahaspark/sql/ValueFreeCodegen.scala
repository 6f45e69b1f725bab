package mahaspark.sql

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.expressions.{BinaryComparison, Expression, In, Literal}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode, JavaCode}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.trees.TreeNode
import org.apache.spark.sql.execution.{ColumnarRule, FilterExec, SparkPlan}
import org.apache.spark.sql.types._

/**
 * Session extension registered through `spark.sql.extensions`: it injects
 * [[ReferenceFilterValues]] as a pre-columnar-transition rule, which
 * `ApplyColumnarRulesAndInsertTransitions` runs right before
 * `CollapseCodegenStages`, both in the non-adaptive preparations and in
 * adaptive execution's per-stage rules.
 */
class MahaSparkExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(extensions: SparkSessionExtensions): Unit =
    extensions.injectColumnar(_ => new ColumnarRule {
      override def preColumnarTransitions: Rule[SparkPlan] =
        ReferenceFilterValues
    })
}

/**
 * A non-null primitive [[Literal]] whose generated code reads its value
 * from the generated class's `references[]` instead of inlining it.
 *
 * `Literal.doGenCode` writes date, timestamp and numeric values into the
 * Java source (`x >= 820454400000000L`), and Spark caches compiled classes
 * by their source text, so two queries that differ only in such a value
 * compile two classes with Janino. Here the value lives in a primitive
 * field set once from the references array when the class is
 * instantiated: the source is the same for every value, the compiled
 * class is reused, and the per-row code reads a field.
 *
 * Only code generation changes. Evaluation, `equals`, `hashCode`,
 * canonicalization and printing are `Literal`'s, so plans print and
 * compare exactly as with the plain literal.
 */
class ReferencedLiteral(v: Any, t: DataType) extends Literal(v, t) {
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val javaType = CodeGenerator.javaType(dataType)
    val boxed = ctx.addReferenceObj(
      "literal", value, CodeGenerator.boxedType(dataType))
    val field = ctx.addMutableState(
      javaType, "literal", name => s"$name = $boxed.${javaType}Value();")
    ExprCode.forNonNullValue(JavaCode.global(field, dataType))
  }
}

/**
 * Physical-plan rule: inside `FilterExec` conditions, replace each non-null
 * literal of a type whose value `Literal.doGenCode` inlines, and that is a
 * direct operand of a comparison or an `IN` list, with an equal
 * [[ReferencedLiteral]].
 *
 * That is where request values land (day bounds, filter values, HAVING
 * thresholds), so the whole-stage classes of requests that differ only in
 * those values have the same source and compile once. Scan nodes keep
 * their plain literals: partition pruning, Parquet pushdown and cached
 * batch pruning match on them, and a scan is a leaf this rule never
 * enters.
 *
 * Rebuilt nodes are copied through [[withChildren]]: the new literal
 * equals the old one, so Spark's own `withNewChildren`, `mapChildren` and
 * `transform` (which compare children with `fastEquals`) would keep the
 * old node.
 */
object ReferenceFilterValues extends Rule[SparkPlan] {
  private val Inlined: Set[DataType] = Set(
    BooleanType, ByteType, ShortType, IntegerType, LongType, FloatType,
    DoubleType, DateType, TimestampType, TimestampNTZType)

  override def apply(plan: SparkPlan): SparkPlan =
    withChildren(plan, plan.children.map(apply)) match {
      case filter: FilterExec =>
        val condition = referValues(filter.condition)
        if (condition eq filter.condition) {
          filter
        } else {
          val rewritten = filter.copy(condition = condition)
          rewritten.copyTagsFrom(filter)
          rewritten
        }
      case node => node
    }

  private def referValues(e: Expression): Expression = {
    val operands = e.isInstanceOf[BinaryComparison] || e.isInstanceOf[In]
    withChildren(e, e.children.map {
      case l: Literal if operands && isInlined(l) =>
        new ReferencedLiteral(l.value, l.dataType)
      case child => referValues(child)
    })
  }

  private def isInlined(l: Literal): Boolean =
    !l.isInstanceOf[ReferencedLiteral] && l.value != null &&
      Inlined.contains(l.dataType)

  /**
   * `node` with `children` in place of its children, which are compared by
   * reference. Children held directly or in a `Seq` constructor argument
   * are replaced; one held elsewhere (an `Option`, a tuple) stays as it
   * was, which only leaves its literals inlined. `makeCopy` keeps the
   * node's tags.
   */
  private def withChildren[T <: TreeNode[T]](node: T, children: Seq[T]): T = {
    val swaps = node.children.zip(children).filter { case (old, now) =>
      old ne now
    }
    def swap(arg: Any): Any = arg match {
      case ref: AnyRef =>
        swaps.collectFirst { case (old, now) if old eq ref => now }
          .getOrElse(arg)
      case _ => arg
    }
    if (swaps.isEmpty) {
      node
    } else {
      node.makeCopy(node.productIterator.map {
        case args: Seq[_] => args.map(swap)
        case arg => swap(arg)
      }.map(_.asInstanceOf[AnyRef]).toArray)
    }
  }
}
