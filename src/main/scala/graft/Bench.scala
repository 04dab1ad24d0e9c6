package graft

import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}

/** Benchmark main (driver contract): runs the headline queries on
  * `SPARK_GRAFT_SF_DIR` and prints ONE JSON line to stdout:
  * `{"metric":"total","value":N,"unit":"sec","queries":{...},"sf":...}`.
  *
  * Each query runs four times (one cold + three warm) and the MEDIAN of
  * the three warm reps is reported, so the gate measures the query plan —
  * not JVM/session bring-up, not a single warm sample's GC/scheduler
  * noise, and (unlike a min) not only the best case, which would mask a
  * persistent-but-intermittent regression (see BENCH_HISTORY's round-11
  * methodology note; per-rep wmin/wmax spread lands in
  * bench_detail.json). A failing query
  * contributes `-1` (never a fake success time). The line is also written
  * to `bench_out.json` as a belt-and-braces channel in case stdout is
  * wrapped by a build tool.
  *
  * CONTENTION-EVIDENT: the q1_agg ambient control is re-timed every 15
  * queries through the run (plus once before and once after); its
  * samples land in `bench_detail.json` (`control`, with run
  * `positions` since r18) and its min/median in the stdout line
  * (`ctl_min`/`ctl_med`). `tools/bench_flags.py` judges each flag
  * POSITION-LOCALLY against the control samples bracketing its run
  * position (plus the per-query load stamp when the run is bursty),
  * auto-annotates ambient flags, and declares the artifact
  * self-invalidating when the control's median crosses the flag
  * threshold — so a bench run on a loaded box reports its own
  * invalidity instead of manufacturing 74 phantom regressions (the
  * r16 driver artifact) or 26 hand-adjudicated ones (the r17).
  *
  * The driver harvests the line from a bounded LOG TAIL. Three rounds of
  * `"parsed": null` proved the per-query map doesn't fit ON ONE LINE: at
  * 91+ queries even 3-decimal rounding overflows the tail window and the
  * harvested text starts mid-key. So stdout carries the compact totals
  * line — `{"metric","value","unit","load","n_queries","sf"}` — printed
  * TWICE (before and after the file writes, so it is the literal last
  * line of output and survives any tail cut), while the full per-query
  * map lives in `bench_out.json` and per-query {cold, warm} pairs in
  * `bench_detail.json`. Since r19 stdout ALSO carries one compact
  * `{"metric":"q","name",...}` line per query just before the totals
  * line (round-18 verdict: give the driver per-query visibility) — a
  * tail cut loses whole leading lines, never the parse. `"load"` is the 1-minute system load average at
  * bench start (-1 where the JVM can't read it): two driver rounds ran
  * contended enough to inflate shuffle-heavy queries 13-64× vs idle
  * re-runs, and the load field + cold/warm detail makes such a run
  * self-diagnosing instead of a phantom regression.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val load = java.lang.management.ManagementFactory
      .getOperatingSystemMXBean.getSystemLoadAverage
    val spark = SparkEntry.localSession("32")

    def timeOnce(fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): Double = {
      val t0 = System.nanoTime()
      fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }

    // (name, cold, warm reps, per-query load) where warm = MEDIAN of the
    // warm reps: single warm samples on sub-second queries have a noise
    // band wider than the >1.3× regression threshold (BENCH_HISTORY's
    // round-10-item-2 re-bench: q_append 0.34–0.87 across reps on
    // untouched code), so a one-sample warm keeps raising phantom runbook
    // flags — but the min of N systematically reports the best case and
    // can mask a persistent-but-noisy regression (added GC pressure that
    // hits most reps). The median absorbs one outlier in either direction
    // while still moving when the typical rep moves; the per-rep spread
    // (wmin/wmax) lands in bench_detail.json so a wide band is visible
    // when triaging a flag. Two adjudication aids (round-12 verdict #5 —
    // the r12 driver artifact ran at load 4 and only the TOTAL line
    // carried it): the 1-min load is stamped per query at its own start,
    // and a rep set whose wmax/wmin spread exceeds 3× (the contended-
    // scheduler signature) earns TWO extra warm reps so the reported
    // median rests on five samples where it is least trustworthy. Still
    // real end-to-end executions, never a fabricated time. A failure is
    // (-1, all -1).
    def loadNow(): Double = java.lang.management.ManagementFactory
      .getOperatingSystemMXBean.getSystemLoadAverage

    // Ambient-contention control (round-16 verdict #1: two driver rounds
    // in a row produced bench artifacts whose flags were pure run
    // contention, and adjudication burned the top of both following
    // rounds). q1_agg — the runbook's historical control — is re-timed
    // once every `CtlEvery` registry queries plus once before and once
    // after the run, and the sample set lands in bench_detail.json
    // (`control`) and the stdout totals line (`ctl_min`/`ctl_med`). The
    // reader's contract (tools/bench_flags.py): a flag whose ratio vs
    // history is at or below the CONTROL's ratio vs its own history cell
    // is the run's ambient slowdown, not a regression — and a control
    // ratio past the flag threshold marks the whole artifact
    // self-invalidating. Each sample is warm-then-measure: the ~15
    // intervening queries evict the control's file pages / JIT state,
    // so a single-shot execution reads the re-warm cost on top of
    // ambient (observed 0.45-0.7 vs 0.28 back-to-back IN THE SAME idle
    // run) and would overstate the ambient ratio ~2x against the
    // history cell, which is a back-to-back warm median; the first
    // execution re-warms, the second is the sample. No further
    // smoothing — per-sample drift across the run is the signal. Known
    // trade: the control IS a registry query, so by the time q1_agg's
    // own registry slot runs its plan is warm — its recorded "cold"
    // cell in bench_detail.json is another warm rep, not a cold
    // execution. Acceptable: q1_agg's cold/warm self-diagnosis signal
    // is the one sacrificed to gain the ambient signal for all 100+
    // others (and its true cold lives in every `Probe time` rep 1).
    // Sample positions are stamped alongside the samples (r18,
    // round-17 verdict #1): tools/bench_flags.py judges each flag
    // against the control samples BRACKETING its run position, so the
    // artifact self-adjudicates positionally instead of averaging a
    // mid-run contention burst into one global ratio. A failed sample
    // records -1 (never silently dropped — that would shift the
    // position alignment the reader depends on). Control sampling
    // catches NonFatal only: an OutOfMemoryError/fatal VM error must
    // crash the bench rather than let a corrupted JVM keep producing
    // an artifact that merely looks control-less (r17 ADVICE).
    val CtlEvery = 15
    val controlName = "q1_agg"
    val controlFn = Queries.benchRegistry(controlName)
    val ctlSamples = scala.collection.mutable.ArrayBuffer[(Int, Double)]()
    def sampleControl(pos: Int): Unit =
      try {
        timeOnce(controlFn) // re-warm (see header comment)
        ctlSamples += ((pos, timeOnce(controlFn)))
      } catch { case scala.util.control.NonFatal(_) => ctlSamples += ((pos, -1.0)) }
    try timeOnce(controlFn) // one cold exec: samples measure the plan,
    catch { case scala.util.control.NonFatal(_) => () } // not session bring-up
    sampleControl(0)
    val results: Seq[(String, Double, Seq[Double], Double)] =
      Queries.benchRegistry.toSeq.zipWithIndex.map { case ((name, fn), i) =>
        if (i > 0 && i % CtlEvery == 0) sampleControl(i)
        val qLoad = loadNow()
        try {
          val c = timeOnce(fn)
          val ws3 = Seq.fill(3)(timeOnce(fn))
          val ws =
            if (ws3.max / math.max(ws3.min, 1e-9) > 3.0)
              ws3 ++ Seq.fill(2)(timeOnce(fn))
            else ws3
          (name, c, ws, qLoad)
        } catch {
          case e: Throwable =>
            System.err.println(s"[bench] $name FAILED: ${e.getMessage}")
            (name, -1.0, Seq(-1.0), qLoad)
        }
      }
    sampleControl(results.size)
    def median(ws: Seq[Double]): Double = ws.sorted.apply(ws.size / 2)
    def r3(v: Double): String =
      if (v < 0) "-1" else BigDecimal(v).setScale(3, BigDecimal.RoundingMode.HALF_UP).toString
    val qs = results
      .map { case (k, _, ws, _) => SparkEntry.jsonString(k) + ":" + r3(median(ws)) }
      .mkString("{", ",", "}")
    val total = results.map(r => median(r._3)).filter(_ >= 0).sum
    val sfNum = "sf([0-9.]+)".r.findFirstMatchIn(sfDir).map(_.group(1)).getOrElse("0")
    val ctl = ctlSamples.toSeq.map(_._2).filter(_ >= 0)
    val (ctlMin, ctlMed) =
      if (ctl.isEmpty) (-1.0, -1.0) else (ctl.min, median(ctl))
    // compact stdout line: NO per-query map (overflows the driver's log
    // tail at 91+ queries — the "parsed": null failure mode); full map
    // goes to bench_out.json. ctl_min/ctl_med carry the interleaved
    // ambient control so even a tail-harvested artifact self-reports
    // run contention.
    val line =
      s"""{"metric":"total","value":${r3(total)},"unit":"sec","load":${r3(load)},"n_queries":${results.size},"ctl_min":${r3(ctlMin)},"ctl_med":${r3(ctlMed)},"sf":$sfNum}"""
    val fullLine =
      s"""{"metric":"total","value":${r3(total)},"unit":"sec","load":${r3(load)},"queries":$qs,"sf":$sfNum}"""
    // CHUNKED per-query lines (round-18 verdict #1/next-round #2): the
    // driver's PERF comparison had no per-query visibility because the
    // single-line map overflows its bounded log tail ("parsed": null,
    // three rounds running). One compact line per query is tail-safe —
    // whatever the tail window keeps parses line-by-line, and the totals
    // line below stays the LITERAL last line either way. Additive only:
    // the totals-line contract and bench_out.json/bench_detail.json are
    // unchanged, as is the timing loop.
    results.foreach { case (k, c, ws, _) =>
      println(s"""{"metric":"q","name":${SparkEntry.jsonString(k)},"warm":${r3(median(ws))},"cold":${r3(c)}}""")
    }
    println(line)
    try {
      Files.writeString(Paths.get("bench_out.json"), fullLine + "\n")
      // samples + positions are written UNFILTERED and aligned (a
      // failed sample keeps its -1 slot): bench_flags.py's bracketing
      // lookup depends on the alignment and skips non-positive values
      val ctlJson =
        s"""{"name":${SparkEntry.jsonString(controlName)},"every":$CtlEvery,"min":${r3(ctlMin)},"median":${r3(ctlMed)},"samples":[${ctlSamples.map(s => r3(s._2)).mkString(",")}],"positions":[${ctlSamples.map(_._1).mkString(",")}]}"""
      val detail = results.zipWithIndex
        .map { case ((k, c, ws, qLoad), i) =>
          SparkEntry.jsonString(k) + ":{\"cold\":" + r3(c) +
            ",\"warm\":" + r3(median(ws)) +
            ",\"wmin\":" + r3(ws.min) + ",\"wmax\":" + r3(ws.max) +
            ",\"load\":" + r3(qLoad) + ",\"reps\":" + ws.size +
            ",\"pos\":" + i + "}"
        }
        .mkString("{\"load\":" + r3(load) + ",\"control\":" + ctlJson +
          ",\"queries\":{", ",", "}}")
      Files.writeString(Paths.get("bench_detail.json"), detail + "\n")
    } catch { case _: Throwable => () }
    // printed again as the LITERAL last line before shutdown: the tail
    // harvest keeps the end of the log, so the final occurrence is the
    // one that must parse
    println(line)
    spark.stop()
  }
}
