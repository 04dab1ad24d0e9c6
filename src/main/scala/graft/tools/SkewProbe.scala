package graft.tools

import org.apache.spark.sql.{functions => F}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Diagnostic: synthesize a hot-key join (90% of fact rows on ONE key)
  * and time three strategies — plain shuffle join under AQE skew-split,
  * the same with AQE skew handling OFF (the pre-adaptive baseline), and
  * `Relational.saltedJoin` — printing each strategy's RUNTIME plan skew
  * markers. The runtime-optimized plan is only visible on the
  * QueryExecution that actually ran, so a listener captures it from the
  * timed write itself. Evidence base for the skew guidance in
  * `Relational.saltedJoin`'s scaladoc and the SkewJoinSpec pin.
  * Usage: SkewProbe [rows] [saltFactor]
  */
object SkewProbe {
  @volatile var lastPlan: String = ""

  def main(args: Array[String]): Unit = {
    val n = if (args.length > 0) args(0).toLong else 2000000L
    val saltF = if (args.length > 1) args(1).toInt else 8
    val spark = graft.SparkEntry.localSession("8",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "1MB",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "512KB")

    spark.listenerManager.register(new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution,
          durationNs: Long): Unit =
        lastPlan = FallbackAudit.finalPlan(qe).toString
      override def onFailure(funcName: String, qe: QueryExecution,
          exception: Exception): Unit = ()
    })

    def fact = spark.range(n).select(
      F.when(F.col("id") % 10 < 9, 0L).otherwise(F.col("id") % 997)
        .as("key"),
      F.concat(F.lit("payload-"), F.col("id")).as("pl"))
    def dim = spark.range(997).select(F.col("id").as("key"),
      F.concat(F.lit("attr-"), F.col("id")).as("attr"))

    def time(tag: String)(f: => org.apache.spark.sql.DataFrame): Unit = {
      (1 to 3).foreach { i =>
        val df = f
        lastPlan = "" // capture THIS write's plan, not a stale one
        val t0 = System.nanoTime()
        df.write.format("noop").mode("overwrite").save()
        println(f"[skew] $tag rep$i ${(System.nanoTime() - t0) / 1e9}%.2fs")
        if (i == 1) {
          // QueryExecutionListener delivery is async; a short bounded
          // wait is enough for a diagnostic
          val deadline = System.nanoTime() + 5e9.toLong
          while (lastPlan.isEmpty && System.nanoTime() < deadline)
            Thread.sleep(50)
          val p = lastPlan
          println(s"[skew] $tag: skewMarks=" +
            "skew=true".r.findAllIn(p).size +
            " aqeReads=" + "AQEShuffleRead".r.findAllIn(p).size +
            " saltInKeys=" + p.contains("__salt"))
          p.linesIterator.filter(l => l.contains("Join") ||
            l.contains("ShuffleRead")).foreach(l =>
            println("[skew]   " + l.trim.take(150)))
        }
      }
    }

    time("plain+aqeSkew") { fact.join(dim, Seq("key")) }
    spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "false")
    time("plain-noSkewHandling") { fact.join(dim, Seq("key")) }
    time("salted-noSkewHandling") {
      graft.extras.Relational.saltedJoin(
        graft.core.KFrame.wrap(fact), graft.core.KFrame.wrap(dim),
        Seq("key"), saltF).toDF
    }
    spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
    time("salted+aqeSkew") {
      graft.extras.Relational.saltedJoin(
        graft.core.KFrame.wrap(fact), graft.core.KFrame.wrap(dim),
        Seq("key"), saltF).toDF
    }
    spark.stop()
  }
}
