package graft

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers
import org.apache.spark.sql.{functions => F}

import graft.sources.Layout

/** Storage-layout tests: bucketed joins must be exchange-free, partitioned
  * reads must show partition pruning in the scan — the plan-shape
  * assertions that make the 100 TB layout claims falsifiable.
  */
class LayoutSpec extends AnyFunSuite with Matchers {

  lazy val spark = TestSpark.spark
  val sf = "/root/testdata/sf0.001"

  private def dropTable(name: String): Unit = {
    spark.sql(s"DROP TABLE IF EXISTS $name")
    val loc = new java.io.File(s"spark-warehouse/$name")
    if (loc.exists()) {
      def rm(f: java.io.File): Unit = {
        if (f.isDirectory) f.listFiles().foreach(rm)
        f.delete()
      }
      rm(loc)
    }
  }

  test("same-bucketing tables join with no Exchange on either side") {
    dropTable("orders_b")
    dropTable("lineitem_b")
    Layout.writeBucketed(Tables.orders(spark, sf),
      "orders_b", Seq("o_orderkey"), numBuckets = 4)
    Layout.writeBucketed(
      Tables.lineitem(spark, sf).withColumnRenamed("l_orderkey", "o_orderkey"),
      "lineitem_b", Seq("o_orderkey"), numBuckets = 4)
    // Disable auto-broadcast so the sort-merge path is visible: at test
    // scale the planner would broadcast these tiny tables, hiding the
    // bucketing effect under test (at real scale neither side broadcasts).
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val joined = Layout.bucketedJoin(spark, "orders_b", "lineitem_b", Seq("o_orderkey"))
      val plan = joined.queryExecution.executedPlan.toString
      withClue(plan.take(2000)) {
        (plan should not).include("Exchange")
        plan should include("SortMergeJoin")
      }
      joined.count() shouldBe Tables.lineitem(spark, sf).count()
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("partition filter prunes directories (PartitionFilters in scan)") {
    val dir = java.nio.file.Files.createTempDirectory("graft-part").toString
    val events = Layout.withDatePartition(Tables.events(spark, sf), "ts")
    Layout.writePartitioned(events, dir, Seq("p_date"))
    val read = spark.read.parquet(dir)
      .filter(F.col("p_date") === "2024-01-03")
    val scan = read.queryExecution.executedPlan.toString
    // the predicate must be INSIDE the PartitionFilters list (an empty
    // list + post-scan Filter would also contain both substrings)
    scan should include regex """PartitionFilters: \[[^\]]*p_date"""
    // pruned read returns exactly that day's events
    val want = events.filter(F.col("p_date") === "2024-01-03").count()
    read.count() shouldBe want
    want should be > 0L
  }

  test("JSONL round-trip preserves the documents rows") {
    import graft.sources.JsonlSource
    val dir = java.nio.file.Files.createTempDirectory("jsonl").toString
    val docs = Tables.documents(spark, sf).select("doc_id", "text", "lang")
    JsonlSource.writeJsonl(docs, s"$dir/docs")
    val back = JsonlSource.readJsonlClean(spark, s"$dir/docs",
      org.apache.spark.sql.types.StructType.fromDDL(
        "doc_id BIGINT, text STRING, lang STRING"))
    val a = docs.collect().map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet
    val b = back.collect().map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet
    b shouldBe a
  }

  test("JSONL malformed lines: quarantined lenient, fatal strict, dropped clean") {
    import graft.sources.JsonlSource
    val dir = java.nio.file.Files.createTempDirectory("jsonl").toString
    val f = java.nio.file.Paths.get(dir, "mixed.jsonl")
    java.nio.file.Files.writeString(f,
      """{"doc_id": 1, "text": "ok one"}
        |this line is not json at all
        |{"doc_id": 3, "text": "ok three"}
        |{"doc_id": 4, "text": BROKEN}
        |""".stripMargin)
    val schema = org.apache.spark.sql.types.StructType.fromDDL(
      "doc_id BIGINT, text STRING")
    val lenient = JsonlSource.readJsonl(spark, f.toString, schema)
    lenient.count() shouldBe 4
    // NB: Spark disallows queries touching ONLY the corrupt column of a
    // raw JSON scan — always carry a real field alongside it
    val corrupt = lenient.filter(F.col(JsonlSource.CorruptCol).isNotNull)
      .select(F.col("doc_id"), F.col(JsonlSource.CorruptCol))
      .collect().map(_.getString(1))
    corrupt.toSet shouldBe Set("this line is not json at all",
      """{"doc_id": 4, "text": BROKEN}""")
    JsonlSource.readJsonlClean(spark, f.toString, schema)
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq shouldBe Seq(1L, 3L)
    // regression: the clean face used to be a corrupt-column filter, so a
    // zero-data-column query (count) pruned the scan to the corrupt col
    // alone and died with QUERY_ONLY_CORRUPT_RECORD_COLUMN
    JsonlSource.readJsonlClean(spark, f.toString, schema).count() shouldBe 2
    an[Exception] should be thrownBy
      JsonlSource.readJsonlStrict(spark, f.toString, schema).collect()
  }

  /** Messages Spark's `DataSource` logger emits at WARN while `body` runs
    * (the suite's session logs at ERROR, so the logger is raised to WARN
    * for the capture only).
    */
  private def dataSourceWarns(body: => Unit): Seq[String] = {
    import org.apache.logging.log4j.{Level, LogManager}
    import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
    import org.apache.logging.log4j.core.appender.AbstractAppender
    import org.apache.logging.log4j.core.config.{LoggerConfig, Property}
    val name = "org.apache.spark.sql.execution.datasources.DataSource"
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val app = new AbstractAppender("graft-warn-capture", null, null, true,
        Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit =
        if (e.getLevel.isMoreSpecificThan(Level.WARN))
          seen.add(e.getMessage.getFormattedMessage)
    }
    app.start()
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    val cfg = ctx.getConfiguration
    val prior = Option(cfg.getLoggers.get(name))
    val lc = new LoggerConfig(name, Level.WARN, false)
    lc.addAppender(app, Level.WARN, null)
    cfg.addLogger(name, lc)
    ctx.updateLoggers()
    try body
    finally {
      cfg.removeLogger(name)
      prior.foreach(cfg.addLogger(name, _))
      ctx.updateLoggers()
      app.stop()
    }
    seen.toArray(Array.empty[String]).toSeq
  }

  test("sidecar reads log no 'All paths were ignored' WARN (NB model " +
    "save + score, IVF-PQ build + probe)") {
    import graft.operators.{Selection, Similarity}
    val docs = Tables.documents(spark, sf).limit(200)
      .withColumn("lab", F.col("lang") === "en")
    val emb = Tables.embeddings(spark, sf)
    val nb = java.nio.file.Files.createTempDirectory("graft-warn-nb")
      .toString + "/model"
    val ivf = java.nio.file.Files.createTempDirectory("graft-warn-ivf")
      .toString + "/index"
    def ignored(ws: Seq[String]) = ws.filter(_.contains("All paths were ignored"))
    val warns = dataSourceWarns {
      Selection.saveNbModel(docs, "doc_id", "text", "lab", nb,
        numBuckets = 4096)
      Selection.scoreWithNbModel(spark, nb, docs, "doc_id", "text").collect()
      Similarity.buildIvfPqIndex(emb, "vec_id", "embedding", ivf, dim = 64,
        nCentroids = 4, m = 8, ksub = 16)
      Similarity.probeIvfPqIndex(spark, ivf, emb.limit(5), "vec_id",
        "embedding", k = 3, nProbe = 2, shortlist = 10).collect()
    }
    ignored(warns) shouldBe empty
    // the capture sees the WARN a directory read of a sidecar gives
    ignored(dataSourceWarns {
      spark.read.parquet(s"$nb/_params").collect()
    }) should not be empty
  }
}
