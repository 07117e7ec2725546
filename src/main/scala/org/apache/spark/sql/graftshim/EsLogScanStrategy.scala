package org.apache.spark.sql.graftshim

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{AttributeSet, Expression, LeafExpression, Literal, NamedExpression, PredicateHelper}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode, JavaCode}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan, Project}
import org.apache.spark.sql.execution.{FilterExec, ProjectExec, SparkPlan, SparkStrategy}
import org.apache.spark.sql.execution.columnar.{InMemoryRelation, InMemoryTableScanExec}
import org.apache.spark.sql.execution.datasources.{FileSourceStrategy, HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.types.{DataType, LongType}

/** A Long constant that generated code reads instead of inlining. A
  * [[Literal]] compiles to its value (`39L`), so a filter over offset
  * `[40, 60)` and one over `[60, 80)` are two Java sources, and each is a
  * Janino compile where the query is planned and again in every executor
  * (the codegen cache is keyed by class loader and source text). This
  * loads its value once per generated object from the plan's `references`
  * into a field, so the source is the same whatever the value.
  *
  * Non-foldable, so no optimizer rule turns it back into a literal. Its
  * value is part of its equality, so two plans that differ only in their
  * parameters never canonicalize as equal (no wrong exchange reuse). */
case class LongParam(value: Long) extends LeafExpression {
  override def dataType: DataType = LongType
  override def nullable: Boolean = false
  override def foldable: Boolean = false
  override def prettyName: String = "param"
  override def eval(input: InternalRow): Any = value

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val boxed = ctx.addReferenceObj("param", java.lang.Long.valueOf(value), "java.lang.Long")
    val field = ctx.addMutableState(CodeGenerator.JAVA_LONG, "param",
      v => s"$v = $boxed.longValue();")
    ExprCode.forNonNullValue(JavaCode.global(field, LongType))
  }
}

/** Plans a filtered eslog scan with [[LongParam]]s in place of the Long
  * literals of its row filter, so every range read of one plan shape runs
  * the same generated class: fetch and `fetchByTime` ranges,
  * `format("eslog")` bounds, the streaming source's micro-batches, export's
  * range reads and user filters over an eslog frame.
  *
  * It matches a deterministic Filter, under at most one Project, directly
  * over a manifest relation ([[EsLogManifestFileIndex]]) or over a cached
  * single-relation eslog frame (a [[graft.eslog.HotCache]] entry). Only the
  * exact row filter evaluated per row, the `FilterExec` condition, is
  * parameterized:
  *  - over a manifest relation it delegates to Spark's `FileSourceStrategy`,
  *    so manifest pruning in `listFiles` and Parquet's `PushedFilters` still
  *    see the literal predicates;
  *  - over a cached frame it builds the plan Spark's `InMemoryScans` builds,
  *    and the in-memory scan keeps the literal predicates, so it still skips
  *    cached batches by their offset stats. Spark compiles those predicates
  *    into a stats filter per scan, so a hot read still compiles that one
  *    class for each new range.
  *
  * It reads no session: the planner that calls it plans the rest. Any other
  * shape gets nothing from here and plans as before. */
object EsLogScanStrategy extends SparkStrategy with PredicateHelper {

  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case Filtered(_, _, EsLogFiles()) => FileSourceStrategy(plan).map(parameterize)
    case Filtered(projects, cond, m: InMemoryRelation)
        if cond.deterministic && EsLogFiles.unapply(m.cacheBuilder.logicalPlan) =>
      val needed = AttributeSet(projects.flatMap(_.references)) ++ cond.references
      val scan = InMemoryTableScanExec(m.output.filter(needed.contains),
        splitConjunctivePredicates(cond), m)
      val filter = FilterExec(params(cond), scan)
      (if (projects.map(_.toAttribute) == filter.output) filter
       else ProjectExec(projects, filter)) :: Nil
    case _ => Nil
  }

  /** Adds the strategy to `spark`'s planner once. */
  def register(spark: SparkSession): Unit =
    GraftShims.registerOnce(spark)(_.extraStrategies.contains(this))(
      e => e.extraStrategies = e.extraStrategies :+ this)

  private def parameterize(plan: SparkPlan): SparkPlan = plan.transform {
    case f: FilterExec => f.copy(condition = params(f.condition))
  }

  private def params(e: Expression): Expression = e.transform {
    case Literal(v: Long, LongType) => LongParam(v)
  }

  /** The output, condition and leaf of a Filter, or of a Project directly
    * over a Filter. */
  private object Filtered {
    def unapply(plan: LogicalPlan): Option[(Seq[NamedExpression], Expression, LogicalPlan)] =
      plan match {
        case Project(projects, Filter(cond, leaf)) => Some((projects, cond, leaf))
        case Filter(cond, leaf) => Some((leaf.output, cond, leaf))
        case _ => None
      }
  }

  /** A relation over a stream manifest. */
  private object EsLogFiles {
    def unapply(plan: LogicalPlan): Boolean = plan match {
      case LogicalRelation(HadoopFsRelation(_: EsLogManifestFileIndex, _, _, _, _, _), _, _, _, _) => true
      case _ => false
    }
  }
}
