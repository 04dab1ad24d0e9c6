package graftbench

import java.io.{File, PrintWriter}
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

/** One call into a public function of graft. `call` gets a tag unique to
  * the round (batch ids must not repeat) and returns what the function
  * returned: a DataFrame is collected by the action; a String or rows are
  * the result as is; Unit is an eager write with no output. `layer` names
  * the module the call is attributed to in the traced run.
  */
final case class Op(name: String, layer: String, ordered: Boolean = false)(
    val call: String => Any)

/** What a workload's set-up gets: the session, the generated inputs, a
  * directory for its stores, and two side channels: outputs for the
  * checker that no op returns (written to `outputs` at once), and layer
  * timings taken in set-up (index builds).
  */
final class Ctx(val spark: SparkSession, val in: String, val dir: String,
    outputs: Path) {
  val setupLayers = mutable.Map[String, Double]()
  def record(name: String, rows: Seq[Seq[Any]]): Unit =
    Bench.writeRows(outputs.resolve(s"$name.jsonl"), rows)
  def timed[T](layer: String)(body: => T): T = {
    val t0 = System.nanoTime
    val r = body
    setupLayers(layer) = (System.nanoTime - t0) / 1e9
    r
  }
}

trait Workload {
  /** Build the initial state and return the ops of one round. */
  def setup(ctx: Ctx): Seq[Op]
  /** Directory whose files are the workload's stores, if it has any. */
  def storeRoot(ctx: Ctx): Option[String] = None
  /** Input bytes of the data the stores hold (space amplification base). */
  def storedInputBytes(ctx: Ctx): Long = 0L
  /** Rounds run in set-up, before the timed ones, so those run warm. */
  def warmupRounds: Int = 1
}

/** One round's figures: per-layer sums (traced), result rows, op wall and
  * CPU seconds, the largest heap an op left live, and the summed
  * listener/JMX deltas of the ops (traced). */
final case class Round(layers: Map[String, Double], outRows: Long, wall: Double,
    cpu: Double, peak: Long, opsSnap: Snap)

object Bench {
  val Workloads: Map[String, Workload] = Map(
    "kframe_reshape" -> Reshape, "store_lifecycle" -> StoreLife)

  final class OpStat {
    var attempts, threw = 0
    var error: String = ""
    val seconds = mutable.Buffer[Double]()
  }

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).map(a => a(0).stripPrefix("--") -> a(1)).toMap
    val (in, out, work) = (opt("in"), opt("out"), opt("work"))
    val seconds = opt("seconds").toDouble
    val traced = opt("trace") == "1"
    val cores = opt("cores").toInt

    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graftbench")
      .config("spark.sql.shuffle.partitions", (2 * cores).toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val names = opt("workload").split(",").toSeq
    val outputs = Files.createDirectories(Paths.get(out, "outputs", "rounds")).getParent
    if (names.size > 1) {
      // class-data archive recording: each workload's set-up and one round
      for (n <- names) {
        val ctx = new Ctx(spark, s"$in/$n/inputs", s"$work/$n", outputs)
        for (op <- Workloads(n).setup(ctx)) op.call("r") match {
          case df: DataFrame => df.collect()
          case _ => ()
        }
      }
      spark.stop()
      return
    }
    val workload = Workloads(names.head)
    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val meter = new Meter(spark.sparkContext)

    val stats = mutable.LinkedHashMap[String, OpStat]()
    val ctx = new Ctx(spark, in, s"$work/state", outputs)

    /** One round: every op once, each after a forced full collection. The
      * op times and CPU exclude those collections. The collection after an
      * op runs while its result is still held; the round's peak is the
      * largest heap in use after one of them: what the program keeps live
      * plus the op's result. Each op's output is written out after that,
      * for the checker: the first warm-up round's as `<op>.jsonl`, every
      * other round's under `rounds/`. Traced rounds also sum each op's
      * listener and JMX deltas and split them into phases.
      */
    def round(ops: Seq[Op], tag: String, file: String => Path): Round = {
      val layers = mutable.Map[String, Double]().withDefaultValue(0.0)
      var outRows = 0L
      var wall, cpu = 0.0
      var peak = 0L
      var opsSnap = Snap.Zero
      meter.retainedHeap()
      for (op <- ops) {
        val st = stats.getOrElseUpdate(op.name, new OpStat)
        st.attempts += 1
        val filesBefore = if (traced && op.layer == "store.write")
          storeFiles(workload.storeRoot(ctx)) else Map.empty[String, Long]
        val before = if (traced) Some(meter.snap()) else None
        val (t0, c0) = (System.nanoTime, meter.processCpu)
        try {
          val res = op.call(tag)
          val afterBuild = before.map(_ => meter.snap())
          val (rows, afterPlan) = res match {
            case df: DataFrame =>
              val planned = if (traced) {
                df.queryExecution.executedPlan
                if (op.layer == "store.read") {
                  layers("store.files_read") += df.inputFiles.length
                  layers("store.reads") += 1
                }
                Some(meter.snap())
              } else None
              (df.collect().toSeq.map(rowValues), planned)
            case s: String => (Seq(Seq(s)), afterBuild)
            case rs: Seq[_] => (rs.asInstanceOf[Seq[Seq[Any]]], afterBuild)
            case () => (Nil, afterBuild)
          }
          for (b <- before; ab <- afterBuild; ap <- afterPlan) {
            val end = meter.snap()
            attribute(layers, op, ab - b, ap - ab, end - ap, end - b)
            opsSnap = opsSnap + (end - b)
            // a streaming op returns the number of micro-batches it committed
            if (op.layer == "streaming")
              layers("streaming.batches") += rows.head.head.asInstanceOf[Long]
          }
          val s = (System.nanoTime - t0) / 1e9
          wall += s
          cpu += meter.processCpu - c0
          st.seconds += s
          outRows += rows.size
          if (op.layer == "store.write" && traced) {
            val after = storeFiles(workload.storeRoot(ctx))
            val fresh = after.keySet -- filesBefore.keySet
            layers("store.files_written") += fresh.size
            layers("store.write_mb") += fresh.toSeq.map(after).sum / 1e6
          }
          peak = math.max(peak, meter.retainedHeap())   // `rows` is still held
          writeRows(file(op.name), rows)
        } catch {
          case NonFatal(e) =>
            st.threw += 1
            if (st.error.isEmpty) st.error = s"${e.getClass.getName}: ${e.getMessage}"
              .take(600)
            meter.retainedHeap()
        }
      }
      Round(layers.toMap, outRows, wall, cpu, peak, opsSnap)
    }

    // set-up: session start, inputs, initial stores and indexes, and the
    // warm-up rounds, so the timed rounds run warm
    val sessionS = (System.currentTimeMillis - jvmStart) / 1e3
    val ops = workload.setup(ctx)
    val stateS = (System.currentTimeMillis - jvmStart) / 1e3
    for (j <- 0 until workload.warmupRounds)
      round(ops, s"w$j", name =>
        outputs.resolve(if (j == 0) s"$name.jsonl" else s"rounds/$name.w$j.jsonl"))
    val setupS = (System.currentTimeMillis - jvmStart) / 1e3

    // timed pass: at least one round, then whole rounds as long as one more,
    // as long as the last, ends within `seconds`
    val rounds = mutable.Buffer[Round]()
    val shuffles = mutable.Buffer[Double]()
    val passStart = System.nanoTime
    var last = 0.0
    while (rounds.isEmpty || (System.nanoTime - passStart) / 1e9 + last <= seconds) {
      val (s0, r0) = (meter.snap(), System.nanoTime)
      val i = rounds.size
      rounds += round(ops, s"t$i", name => outputs.resolve(s"rounds/$name.$i.jsonl"))
      shuffles += (meter.snap() - s0).shWrite / 1e6
      last = (System.nanoTime - r0) / 1e9
    }
    val walls = rounds.map(_.wall).toSeq

    val e2e = Map(
      "pass_s" -> median(walls), "cpu_s" -> median(rounds.map(_.cpu).toSeq),
      "shuffle_mb" -> median(shuffles.toSeq),
      "peak_heap_mb" -> median(rounds.map(_.peak / 1e6).toSeq),
      "setup_s" -> setupS)
    val layerOut: Map[String, Double] =
      if (!traced) Map.empty
      else {
        val layerRounds = rounds.map(r => roundLayers(r, workload, ctx))
        val keys = layerRounds.flatMap(_.keys).distinct
        keys.map(k => k -> median(layerRounds.map(_.getOrElse(k, 0.0)).toSeq)).toMap ++
          ctx.setupLayers +
          ("trace.pass_s" -> median(walls))
      }

    val opsJson = ops.map { op =>
      val s = stats(op.name)
      s"""{"name": ${Json.str(op.name)}, "ordered": ${op.ordered}, """ +
        s""""attempts": ${s.attempts}, "threw": ${s.threw}, """ +
        s""""median_s": ${Json.num(median(s.seconds.toSeq))}, "error": ${Json.str(s.error)}}"""
    }.mkString("[", ", ", "]")
    val result = s"""{"timed_rounds": ${rounds.size}, "ops": $opsJson, """ +
      s""""round_walls": ${walls.map(Json.num).mkString("[", ", ", "]")}, """ +
      s""""session_s": ${Json.num(sessionS)}, "state_s": ${Json.num(stateS - sessionS)}, """ +
      s""""warmup_s": ${Json.num(setupS - stateS)}, """ +
      s""""e2e": ${Json.obj(e2e)}, "layers": ${Json.obj(layerOut)}}"""
    Files.write(Paths.get(out, "result.json"), result.getBytes("UTF-8"))
    spark.stop()
  }

  /** Layers whose ops call into the `operators` module (Dedup, Selection,
    * Similarity, Sketches); their build phase is also `operators.build_s`. */
  private val OperatorLayers = Set("operators", "store.write", "store.read", "ann")

  /** Per-op phase attribution (traced run): build = the call, plan =
    * forcing the executed plan, exec = the action.
    */
  private def attribute(layers: mutable.Map[String, Double], op: Op,
      build: Snap, plan: Snap, exec: Snap, all: Snap): Unit = {
    layers("plans.plan_s") += plan.wall
    layers("exec.exec_s") += exec.wall
    if (OperatorLayers(op.layer)) {
      layers("operators.build_s") += build.wall
      layers("operators.eager_jobs") += build.jobs
    }
    op.layer match {
      case "core" => layers("core.build_s") += build.wall
      case "render" => layers("core.render_s") += all.wall
      case "viz" => layers("viz.emit_s") += all.wall
      case "operators" => ()
      case "store.write" => layers("store.write_s") += all.wall
      case "store.read" => layers("store.read_s") += all.wall
      case "streaming" => layers("streaming.batch_s") += all.wall
      case "ann" => layers("ann.probe_s") += all.wall
      case other => sys.error(s"unknown layer $other")
    }
  }

  private def roundLayers(r: Round, wl: Workload, ctx: Ctx): Map[String, Double] = {
    val (l, d, outRows) = (r.layers, r.opsSnap, r.outRows)
    val disk = storeFiles(wl.storeRoot(ctx)).values.sum
    val userBytes = wl.storedInputBytes(ctx)
    l - "store.files_read" - "store.reads" ++ Map(
      "exec.task_cpu_s" -> d.taskCpu, "exec.task_run_s" -> d.taskRun,
      "exec.driver_cpu_s" -> (d.cpu - d.taskCpu), "exec.gc_s" -> d.gc,
      "exec.jobs" -> d.jobs.toDouble, "exec.stages" -> d.stages.toDouble,
      "exec.tasks" -> d.tasks.toDouble,
      "shuffle.write_mb" -> d.shWrite / 1e6, "shuffle.read_mb" -> d.shRead / 1e6,
      "shuffle.spill_mb" -> d.spill / 1e6,
      "scan.read_mb" -> d.inBytes / 1e6, "scan.rows" -> d.inRecs.toDouble,
      "scan.rows_per_out_row" -> d.inRecs.toDouble / math.max(outRows, 1L),
      "store.files_per_read" -> l.getOrElse("store.files_read", 0.0) /
        math.max(l.getOrElse("store.reads", 0.0), 1.0),
      "store.disk_mb" -> disk / 1e6,
      "store.space_amp" -> (if (userBytes > 0) disk.toDouble / userBytes else 0.0))
  }

  /** Regular files under `root` with their sizes. */
  def storeFiles(root: Option[String]): Map[String, Long] = root match {
    case Some(dir) if new File(dir).exists =>
      val s = Files.walk(Paths.get(dir))
      try s.filter(Files.isRegularFile(_)).toArray.toSeq.map { p =>
        val q = p.asInstanceOf[Path]
        q.toString -> Files.size(q)
      }.toMap
      finally s.close()
    case _ => Map.empty
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  def rowValues(r: Row): Seq[Any] = r.toSeq.map(plain)

  private def plain(v: Any): Any = v match {
    case r: Row => rowValues(r)
    case s: scala.collection.Seq[_] => s.toSeq.map(plain)
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => Seq(plain(k), plain(x)) }
        .sortBy(_.head.toString)
    case f: Float => f.toDouble
    case i: Int => i.toLong
    case s: Short => s.toLong
    case b: Byte => b.toLong
    case d: java.math.BigDecimal => d.doubleValue
    case other => other
  }

  def writeRows(path: Path, rows: Seq[Seq[Any]]): Unit = {
    val w = new PrintWriter(path.toFile, "UTF-8")
    try rows.foreach(r => w.println(Json.value(r)))
    finally w.close()
  }
}

/** Minimal JSON writer for result rows and the result record. */
object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
  def obj(m: Map[String, Double]): String =
    m.toSeq.sortBy(_._1).map { case (k, v) => s"${str(k)}: ${num(v)}" }
      .mkString("{", ", ", "}")
  def value(v: Any): String = v match {
    case null => "null"
    case s: String => str(s)
    case d: Double => num(d)
    case l: Long => l.toString
    case b: Boolean => b.toString
    case s: Seq[_] => s.map(value).mkString("[", ", ", "]")
    case a: Array[Byte] => a.map(b => b & 0xff).mkString("[", ", ", "]")
    case other => str(other.toString)
  }
}
