package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}

/** Shared audit: which expressions in a query's FINAL adaptive plan are
  * `CodegenFallback` — i.e. evaluated interpreted (row-at-a-time
  * reflection) even inside a WholeStageCodegen stage. A graft kernel
  * showing up here means its `doGenCode` stopped being used; a new
  * built-in showing up in a hot path is a 10×-class slowdown at scale
  * that an rc-0 bench at sf0.1 can hide. Consumed by the
  * `CodegenFallbackSpec` pin and `Probe fallback`.
  */
object FallbackAudit {
  /** The physical plan of `df` with the adaptive wrapper unwrapped: the
    * FINAL adaptive plan once `df` has executed (AQE finalizes it on
    * execution), the initial one before. Plan pins and probes read
    * scans, exchanges and kernels from this tree.
    */
  def finalPlan(df: DataFrame): SparkPlan = finalPlan(df.queryExecution)

  /** [[finalPlan]] of a QueryExecution, e.g. one a listener was handed. */
  def finalPlan(qe: QueryExecution): SparkPlan =
    qe.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }

  /** Distinct fully-qualified class names of CodegenFallback expressions
    * in the final adaptive plan of an EXECUTED DataFrame (collect first —
    * AQE finalizes the plan on execution).
    */
  def fallbackClasses(df: DataFrame): Set[String] = {
    df.collect()
    val out = collection.mutable.Set[String]()
    def walkE(e: Expression): Unit = {
      if (e.isInstanceOf[CodegenFallback]) out += e.getClass.getName
      e.children.foreach(walkE)
    }
    def walkP(p: SparkPlan): Unit = {
      p.expressions.foreach(walkE)
      p match {
        case q: QueryStageExec => walkP(q.plan)
        case a: AdaptiveSparkPlanExec => walkP(a.executedPlan)
        case _ => ()
      }
      p.subqueries.foreach(walkP)
      p.children.foreach(walkP)
    }
    walkP(finalPlan(df))
    out.toSet
  }
}
