package graft.plans

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan, Window, WindowGroupLimit}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy}

/** Rewrites `Filter(row_number_col <= k, Window(row_number() over (...)))`
  * into the bounded [[TopKPerGroup]] operator. Semantics are preserved
  * exactly: same rows, same rank values (the DuckDB oracle for
  * q_window_topk keeps validating the rewritten plan row-for-row). */
object RewriteTopKWindow extends Rule[LogicalPlan] {

  private def boundFrom(cond: Expression, rankAttr: Attribute): Option[Int] =
    cond match {
      case LessThanOrEqual(a: Attribute, Literal(k: Int, _))
        if a.semanticEquals(rankAttr) => Some(k)
      case LessThan(a: Attribute, Literal(k: Int, _))
        if a.semanticEquals(rankAttr) => Some(k - 1)
      case GreaterThanOrEqual(Literal(k: Int, _), a: Attribute)
        if a.semanticEquals(rankAttr) => Some(k)
      // rn = 1 (latest-record-wins compaction) is top-1
      case EqualTo(a: Attribute, Literal(1, _))
        if a.semanticEquals(rankAttr) => Some(1)
      case EqualTo(Literal(1, _), a: Attribute)
        if a.semanticEquals(rankAttr) => Some(1)
      case _ => None
    }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformUp {
    case f @ Filter(cond, w: Window) if w.windowExpressions.size == 1 =>
      w.windowExpressions.head match {
        case alias @ Alias(WindowExpression(RowNumber(), _), _)
          // empty partitionSpec = a GLOBAL top-k: ClusteredDistribution
          // can't express it (needs AllTuples) and Spark already handles
          // it via Limit pushdown — leave it alone
          if w.orderSpec.nonEmpty && w.partitionSpec.nonEmpty =>
          boundFrom(cond, alias.toAttribute) match {
            case Some(k) if k > 0 =>
              // Spark's own InferWindowGroupLimit may already have inserted
              // its sort-based partial pushdown below the window; our
              // bounded heaps subsume it, so unwrap it.
              val base = w.child match {
                case wgl: WindowGroupLimit => wgl.child
                case c => c
              }
              TopKPerGroup(w.partitionSpec, w.orderSpec, k, alias.toAttribute, base)
            case _ => f
          }
        case _ => f
      }
  }
}

/** Lowers [[TopKPerGroup]] to the two-phase exec pair; EnsureRequirements
  * inserts the (candidate-only) shuffle between them. */
object TopKStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case TopKPerGroup(group, order, k, rank, child) =>
      TopKFinalExec(group, order, k, rank,
        TopKLocalExec(group, order, k, planLater(child))) :: Nil
    case _ => Nil
  }
}

/** Register on a session builder with `withExtensions(new GraftExtensions)`
  * — or after the fact with the companion's `install` (the experimental
  * hooks), which lets graft accelerate sessions it did not create;
  * every `SparkEntry.queries` lane does the latter. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    e.injectOptimizerRule(_ => RewriteTopKWindow)
    e.injectPlannerStrategy(_ => TopKStrategy)
  }
}

object GraftExtensions {
  /** Idempotently add the rewrite + strategy to an existing session. */
  def install(spark: SparkSession): Unit = {
    if (!spark.experimental.extraOptimizations.contains(RewriteTopKWindow)) {
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ RewriteTopKWindow
    }
    if (!spark.experimental.extraStrategies.contains(TopKStrategy)) {
      spark.experimental.extraStrategies =
        spark.experimental.extraStrategies :+ TopKStrategy
    }
  }
}
