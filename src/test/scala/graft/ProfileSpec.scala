package graft

import org.apache.spark.sql.{functions => F}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import graft.operators.Profile
import graft.tools.FallbackAudit

/** One-pass profiler (operators/Profile.scala): stat correctness against
  * directly-computed values, null/all-null edges, and the ONE-SCAN plan
  * pin — the operator's scale claim is that profiling N columns costs a
  * single pass, so a second scan appearing in the plan is a regression.
  * The registry face (q_profile) is DuckDB-oracle-checked end to end.
  */
class ProfileSpec extends AnyFunSuite with Matchers {

  lazy val spark = TestSpark.spark
  private val sf = "/root/testdata/sf0.001"

  test("profile stats match directly-computed values (incl. nulls)") {
    val ev = Tables.events(spark, sf)
    val out = Profile.profile(ev,
        Seq("event_id", "user_id", "event_type"), k = 64)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getDouble(3),
          r.getString(4), r.getString(5))).toMap
    out.keySet shouldBe Set("event_id", "user_id", "event_type")
    val n = ev.count()
    for (c <- out.keys) {
      val (nRows, nNulls, est, minV, maxV) = out(c)
      nRows shouldBe n
      nNulls shouldBe ev.filter(F.col(c).isNull).count()
      minV shouldBe ev.agg(F.min(F.col(c)).cast("string")).head().getString(0)
      maxV shouldBe ev.agg(F.max(F.col(c)).cast("string")).head().getString(0)
      val exact = ev.filter(F.col(c).isNotNull).select(c).distinct().count()
      if (exact < 64) est shouldBe exact.toDouble
      else math.abs(est - exact) / exact.toDouble should be < 0.5
    }
  }

  test("all-null column: est_distinct 0.0, null extremes; refusals") {
    import spark.implicits._
    val df = Seq((1L, "a"), (2L, "b"), (3L, "b"))
      .toDF("id", "s").withColumn("z", F.lit(null).cast("string"))
    val rows = Profile.profile(df, Seq("id", "s", "z"))
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getDouble(3),
          Option(r.getString(4)), Option(r.getString(5)))).toMap
    rows("z") shouldBe ((3L, 3L, 0.0, None, None))
    rows("s") shouldBe ((3L, 0L, 2.0, Some("a"), Some("b")))
    rows("id") shouldBe ((3L, 0L, 3.0, Some("1"), Some("3")))
    an[IllegalArgumentException] should be thrownBy
      Profile.profile(df, Seq.empty)
    val e = intercept[IllegalArgumentException] {
      Profile.profile(df, Seq("id", "nope"))
    }
    e.getMessage should include("nope")
  }

  test("profiling 4 columns reads the table EXACTLY once (one-scan pin)") {
    val out = Profile.profile(Tables.events(spark, sf),
      Seq("event_id", "user_id", "event_type", "props"))
    out.collect()
    val scans = collection.mutable.ArrayBuffer[FileSourceScanExec]()
    def walk(p: SparkPlan): Unit = {
      p match {
        case s: FileSourceScanExec => scans += s
        case q: QueryStageExec => walk(q.plan)
        case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
        case _ => ()
      }
      p.subqueries.foreach(walk)
      p.children.foreach(walk)
    }
    walk(FallbackAudit.finalPlan(out))
    scans should have size 1
    // and the scan reads ONLY the profiled columns
    scans.head.schema.fieldNames.toSet shouldBe
      Set("event_id", "user_id", "event_type", "props")
  }
}
