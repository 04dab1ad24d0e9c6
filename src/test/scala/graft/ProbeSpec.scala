package graft

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import graft.tools.Probe

/** Shape of `Probe time`'s [[graft.tools.QueryRun]] record on two cheap
  * queries at sf0.001: every JSON field present, the phase split inside
  * the rep's wall time, and shuffle bytes that tell a scan-only plan from
  * an aggregating one.
  */
class ProbeSpec extends AnyFunSuite with Matchers {

  lazy val spark = TestSpark.spark
  val sf = "/root/testdata/sf0.001"
  val fields = Seq("probe", "q", "sf", "rep", "cold", "wall_s", "build_s",
    "plan_s", "exec_s", "jobs", "stages", "task_cpu_s", "shuffle_write_mb",
    "per_stage")

  test("Probe time record: fields, phase split, jobs and shuffle bytes") {
    val runs = Seq("q_select", "q_groupagg_sum")
      .flatMap(Probe.time(spark, _, sf, reps = 2))
    runs.map(r => (r.q, r.rep, r.cold)) shouldBe Seq(
      ("q_select", 1, true), ("q_select", 2, false),
      ("q_groupagg_sum", 1, true), ("q_groupagg_sum", 2, false))
    runs.foreach { r =>
      info(r.json)
      val j = JsonSchema.parse(r.json)
      fields.foreach(f => withClue(s"${r.q} rep ${r.rep}: $f ") {
        j.has(f) shouldBe true
      })
      j.get("per_stage").size shouldBe r.stages.size
      r.jobs should be >= 1L
      (r.buildNs + r.planNs + r.execNs) should be <= r.wallNs
      val mb = j.get("shuffle_write_mb").asDouble
      if (r.q == "q_select") mb shouldBe 0.0
      else mb should be > 0.0
    }
  }
}
