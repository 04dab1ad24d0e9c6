package graft

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import graft.tools.FallbackAudit

/** Codegen pin for the WHOLE registry (round-10 verdict "what's wrong
  * #3"): nothing asserts that registry queries never silently degrade to
  * interpreted evaluation — at 100× scale a silent fallback is a
  * 10×-class regression that an rc-0 bench at sf0.1 masks. Two failure
  * classes, both pinned here:
  *
  *  1. Whole-stage/projection codegen COMPILE failure (the janino-64KB
  *     oversized-literal class): normally Spark logs one ERROR line and
  *     re-plans interpreted. This suite runs every query in a session
  *     with `spark.sql.codegen.fallback=false`, so any compile failure
  *     THROWS and fails the test instead of hiding.
  *  2. `CodegenFallback` EXPRESSIONS (interpreted row-at-a-time even
  *     inside a codegen'd stage): every graft kernel implements
  *     `doGenCode`, so any graft class appearing here means a kernel
  *     lost its codegen path; built-in fallbacks are pinned to the
  *     vetted allowlist below — a NEW interpreted built-in sneaking into
  *     a query is a visible diff, not a silent slowdown.
  *
  * `graft.tools.Probe fallback` is the matching diagnostic (run it at
  * sf0.01 to reproduce the audit outside ScalaTest; this suite uses
  * sf0.001 so the pin stays cheap — the fallback EXPRESSION SET of a
  * plan is scale-independent even where AQE's join strategy is not, and
  * a probe run at sf0.01 is how the allowlist below was gathered).
  */
class CodegenFallbackSpec extends AnyFunSuite with Matchers {

  lazy val spark = {
    val s = TestSpark.spark.newSession()
    s.conf.set("spark.sql.codegen.fallback", "false")
    // function registration is per-session; callNative registers on
    // SparkSession.active, which under ScalaTest is the base session
    graft.plans.GraftExtensions.register(s)
    s
  }
  val sf = "/root/testdata/sf0.001"

  /** Interpreted-by-design Catalyst built-ins observed across the
    * registry (the fallback probe at sf0.01, round 11), each with why it is
    * acceptable where it appears:
    *  - higher-order functions (ArrayFilter/Transform/Aggregate/Sort and
    *    their lambda scaffolding): per-element lambdas over bounded
    *    per-row arrays. The corpus-scale hot paths use fused native
    *    kernels instead (ShingleHash/SimHash64/GopherStats/...); the HOF
    *    forms remain in oracle-replayable faces and small-array plumbing
    *    (e.g. top-k candidate lists), where per-element interpretation
    *    is bounded by k, not by the corpus.
    *  - PivotFirst/CollectList/Percentile/ScalaAggregator: aggregate
    *    IMPERATIVE buffers — evaluated inside Object/Sort aggregate
    *    operators by design (no codegen exists for them in Spark);
    *    CollectList/Percentile sit on bounded per-group state
    *    (render-budgeted pivots, the 1-row quantile pair), ScalaAggregator
    *    is the documented custom-fold surface (Agg.CustomFold).
    *  - JsonToStructs (from_json in q_events_props): schema-bound row
    *    parse, interpreted in Spark by design.
    */
  val allowedBuiltins: Set[String] = Set(
    "org.apache.spark.sql.catalyst.expressions.NamedLambdaVariable",
    "org.apache.spark.sql.catalyst.expressions.LambdaFunction",
    "org.apache.spark.sql.catalyst.expressions.ArrayFilter",
    "org.apache.spark.sql.catalyst.expressions.ArrayTransform",
    "org.apache.spark.sql.catalyst.expressions.ArrayAggregate",
    "org.apache.spark.sql.catalyst.expressions.ArraySort",
    "org.apache.spark.sql.catalyst.expressions.aggregate.PivotFirst",
    "org.apache.spark.sql.catalyst.expressions.aggregate.CollectList",
    "org.apache.spark.sql.catalyst.expressions.aggregate.Percentile",
    "org.apache.spark.sql.catalyst.expressions.JsonToStructs",
    "org.apache.spark.sql.execution.aggregate.ScalaAggregator")

  test("no registry query hits codegen fallback: compile failures throw, " +
    "graft kernels stay codegen'd, built-ins match the vetted allowlist") {
    val offenders = collection.mutable.ListBuffer[String]()
    // the bench-only kernel twins are audited too: they ARE the fused
    // production flavors, exactly where a silent interpreted fallback
    // costs 10x at scale while the oracle faces stay green
    (Queries.registry ++ Queries.kernelTwins).toSeq.sortBy(_._1)
      .foreach { case (name, q) =>
      val fb =
        try FallbackAudit.fallbackClasses(q(spark, sf))
        catch {
          case e: Throwable =>
            offenders += s"$name: FAILED under codegen.fallback=false " +
              s"(silent-interpreted would have hidden this): ${e.getMessage}"
            Set.empty[String]
        }
      fb.filter(_.startsWith("graft.")).foreach(c =>
        offenders += s"$name: graft kernel evaluated INTERPRETED: $c")
      (fb -- allowedBuiltins).filterNot(_.startsWith("graft."))
        .foreach(c => offenders += s"$name: unvetted interpreted built-in: $c")
    }
    withClue(offenders.mkString("\n", "\n", "\n")) {
      offenders shouldBe empty
    }
  }
}
