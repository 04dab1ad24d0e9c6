package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.internal.SQLConf

import graft.{Queries, SparkEntry}

/** One timed execution of a bench-registry query: the phase split in
  * nanoseconds and the listener figures of everything the rep ran
  * (eager jobs inside the builder included). Rep 1 is the cold one.
  */
final case class QueryRun(q: String, sf: String, rep: Int, wallNs: Long,
    buildNs: Long, planNs: Long, execNs: Long, jobs: Long, taskCpuNs: Long,
    shuffleWriteBytes: Long, stages: Seq[StageRun]) {
  def cold: Boolean = rep == 1

  def json: String = {
    def sec(ns: Long) = f"${ns / 1e9}%.3f"
    val perStage = stages.map(s =>
      s"""{"id":${s.id},"ms":${s.ms},"tasks":${s.tasks},"cpu_ms":${s.cpuMs}}""")
    s"""{"probe":"time","q":${SparkEntry.jsonString(q)},""" +
      s""""sf":${SparkEntry.jsonString(sf)},"rep":$rep,"cold":$cold,""" +
      s""""wall_s":${sec(wallNs)},"build_s":${sec(buildNs)},""" +
      s""""plan_s":${sec(planNs)},"exec_s":${sec(execNs)},"jobs":$jobs,""" +
      s""""stages":${stages.size},"task_cpu_s":${sec(taskCpuNs)},""" +
      f""""shuffle_write_mb":${shuffleWriteBytes / 1e6}%.6f,""" +
      s""""per_stage":${perStage.mkString("[", ",", "]")}}"""
  }
}

/** The one diagnostic main over `Queries.benchRegistry`:
  *
  *   Probe <mode> <names|all|regex> [sfDir[,sfDir…]] [reps]
  *
  * `names` is a comma-separated list of registry names, run in the order
  * given; `all` is every entry, sorted; anything else is a regex, and the
  * names it finds run sorted. Each mode runs once per (sf dir, query),
  * sf dirs outermost. `sfDir` defaults to the driver's sf0.1 and `reps`
  * to 3. The session is Bench's (`SparkEntry.localSession` at a default
  * of 32 cpus, noop sink), so times compare with Bench's.
  *
  *  - `time` prints one JSON [[QueryRun]] line per (query, sf, rep):
  *    `build_s` (frame construction, with any eager fit or collect jobs
  *    inside the builder), `plan_s` (analysis, optimization and physical
  *    planning, by forcing `executedPlan`), `exec_s` (the noop write of
  *    the planned frame; AQE re-plans each stage inside it, and the write
  *    command re-optimizes its wrapper, so `plan_s` bounds the planning of
  *    the static tree only), then jobs, stages, task CPU, shuffle-write MB
  *    ([[ShuffleMeter]]'s figure) and per-stage (id, ms, tasks, cpu_ms).
  *    The listener bus is asynchronous, so the [[Meter]] is drained after
  *    the timed section stops: the wait never rides a time. Rep 1 is
  *    marked cold. Names run in the order given, so a cheap query listed
  *    first absorbs the fresh JVM's session and JIT warm-up and the next
  *    query's rep 1 shows its own plan-specific cold cost (janino,
  *    artifact caches). Passing several sf dirs gives a scaling curve:
  *    plan structure can prove "no cartesian, no unbounded collect", but
  *    only measured bytes and times across scales show a stage whose work
  *    grows superlinearly (`tools/shuffle_ledger.py` renders the bytes).
  *  - `plan` executes the query `reps` times and prints the FINAL adaptive
  *    plan of the last execution, each node with its non-zero SQL metrics
  *    (the stand-in for the SQL tab with the UI off). Use it, not
  *    `explain`, for scan counts and ReusedExchange: the static plan shows
  *    duplicated subtrees that AQE's stage cache may run once.
  *  - `explain` prints the static `explain("formatted")` plan; nothing
  *    executes.
  *  - `fallback` runs each query with `spark.sql.codegen.fallback=false`
  *    (a janino compile failure throws instead of silently interpreting
  *    the stage) and prints its [[FallbackAudit]] classes.
  */
object Probe {
  private val DefaultSf = "/root/testdata/sf0.1"
  private val Usage =
    "usage: Probe <time|plan|explain|fallback> <names|all|regex> " +
      "[sfDir[,sfDir…]] [reps]"

  /** Registry names selected by `spec` (see the scaladoc above). */
  def select(spec: String): Seq[String] = {
    val reg = Queries.benchRegistry
    val listed = spec.split(",").toSeq
    if (spec == "all") reg.keys.toSeq.sorted
    else if (listed.forall(reg.contains)) listed
    else {
      val p = spec.r.pattern
      val hits = reg.keys.toSeq.sorted.filter(p.matcher(_).find())
      require(hits.nonEmpty, s"no bench-registry query is named or matches '$spec'")
      hits
    }
  }

  /** `reps` metered executions of `name` at `sf`; see `time` above. */
  def time(spark: SparkSession, name: String, sf: String,
      reps: Int): Seq[QueryRun] = {
    val fn = Queries.benchRegistry(name)
    (1 to reps).map { rep =>
      val ((t0, t1, t2, t3), m) = ShuffleMeter.metered(spark) {
        val t0 = System.nanoTime()
        val df = fn(spark, sf)
        val t1 = System.nanoTime()
        df.queryExecution.executedPlan
        val t2 = System.nanoTime()
        df.write.format("noop").mode("overwrite").save()
        (t0, t1, t2, System.nanoTime())
      }
      QueryRun(name, sf, rep, t3 - t0, t1 - t0, t2 - t1, t3 - t2, m.jobs,
        m.taskCpuNs, m.shuffleWriteBytes, m.stages)
    }
  }

  /** The final adaptive plan of `df` (executed by the caller), one node
    * a line, each with its non-zero SQL metrics.
    */
  private def planWithMetrics(df: DataFrame): String = {
    val out = new StringBuilder
    def walk(p: SparkPlan, depth: Int): Unit = {
      val metrics = p.metrics.toSeq.filter(_._2.value > 0).sortBy(_._1)
        .map { case (k, m) =>
          k + "=" + (m.metricType match {
            case "timing" => s"${m.value}ms"
            case "nsTiming" => s"${m.value / 1000000}ms"
            case "size" => s"${m.value}B"
            case _ => m.value.toString
          })
        }
      out ++= "  " * depth + p.simpleString(SQLConf.get.maxToStringFields) +
        (if (metrics.isEmpty) "" else metrics.mkString(" [", ", ", "]")) + "\n"
      p match {
        case a: AdaptiveSparkPlanExec => walk(a.executedPlan, depth + 1)
        case s: QueryStageExec => walk(s.plan, depth + 1)
        case _ => p.children.foreach(walk(_, depth + 1))
      }
      p.subqueries.foreach(walk(_, depth + 1))
    }
    walk(FallbackAudit.finalPlan(df), 0)
    out.toString
  }

  def main(args: Array[String]): Unit = {
    require(args.length >= 2, Usage)
    val mode = args(0)
    require(Set("time", "plan", "explain", "fallback")(mode), Usage)
    val names = select(args(1))
    val sfDirs = (if (args.length > 2) args(2) else DefaultSf).split(",").toSeq
    val reps = if (args.length > 3) args(3).toInt else 3
    require(reps >= 1, Usage)
    val spark =
      if (mode == "fallback")
        SparkEntry.localSession("32", "spark.sql.codegen.fallback" -> "false")
      else SparkEntry.localSession("32")
    try for (sf <- sfDirs; name <- names) mode match {
      case "time" => time(spark, name, sf, reps).foreach(r => println(r.json))
      case "plan" =>
        val fn = Queries.benchRegistry(name)
        // collect executes THIS QueryExecution, so its metrics are the ones walked
        val df = (1 to reps).map { _ => val d = fn(spark, sf); d.collect(); d }.last
        println(s"==== $name @ $sf: final adaptive plan ====")
        print(planWithMetrics(df))
      case "explain" =>
        println(s"==== $name @ $sf: static plan ====")
        Queries.benchRegistry(name)(spark, sf).explain("formatted")
      case "fallback" =>
        val line =
          try {
            val fb = FallbackAudit.fallbackClasses(Queries.benchRegistry(name)(spark, sf))
            if (fb.isEmpty) "-" else fb.toSeq.sorted.mkString(", ")
          } catch {
            case e: Throwable =>
              s"EXECUTION FAILED under codegen.fallback=false: ${e.getMessage}"
          }
        println(s"[fallback] $name: $line")
    } finally spark.stop()
  }
}
