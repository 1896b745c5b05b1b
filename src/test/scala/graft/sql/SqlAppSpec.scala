package graft.sql

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession
import VeloSqlParser.ParseException

/** SQL application files: annotation metadata, `${VAR}` resolution, and
  * end-to-end execution (reference: src/velostream/sql/app_parser.rs,
  * tests/unit/sql/system/node_identification_test.rs).
  */
class SqlAppSpec extends AnyFunSuite with SparkTestSession {

  private val env = Map(
    "TEST_CLUSTER" -> "cluster1",
    "TEST_APP_NODE" -> "node-42",
    "TEST_APP_REGION" -> "eu-west-1")
  private def lookup(k: String): Option[String] = env.get(k)

  test("resolvePattern: ${VAR}, ${VAR:default}, priority chains, unresolved spec kept") {
    assert(SqlApp.resolvePattern("plain-text", lookup) == "plain-text")
    assert(SqlApp.resolvePattern("aws-${TEST_CLUSTER}-prod", lookup) == "aws-cluster1-prod")
    assert(SqlApp.resolvePattern("${MISSING_VAR:fallback}", lookup) == "fallback")
    assert(SqlApp.resolvePattern("${MISSING_VAR|TEST_CLUSTER}", lookup) == "cluster1")
    assert(SqlApp.resolvePattern("${A|B:dflt}", lookup) == "dflt")
    assert(SqlApp.resolvePattern("${UNDEFINED_VAR}", lookup) == "UNDEFINED_VAR")
    assert(SqlApp.resolvePattern("a-${TEST_CLUSTER}-b-${TEST_APP_NODE}", lookup)
      == "a-cluster1-b-node-42")
    // NODE_ID special case: hostname fallback, never empty
    assert(SqlApp.resolvePattern("${NODE_ID}", lookup).nonEmpty)
  }

  test("application metadata annotations parse (node_id/env substitution per reference tests)") {
    val app = SqlApp.parse(
      """-- SQL Application: Multi-Region App
        |-- Version: 2.1.0
        |-- Description: regional pipeline
        |-- Author: data-eng
        |-- Dependencies: orders, customers
        |-- Tag: team: analytics
        |-- @phase: production
        |-- @sla.latency.p99: 250ms
        |-- @observability.metrics.enabled: true
        |-- @observability.profiling.enabled: dev
        |-- @deployment.node_id: prod-${TEST_APP_NODE}
        |-- @deployment.node_name: Production DataCenter 1 Server 5
        |-- @deployment.region: ${TEST_APP_REGION}
        |
        |CREATE STREAM test_stream AS SELECT * FROM kafka_topic;
        |""".stripMargin, lookup)
    val m = app.metadata
    assert(m.name == "Multi-Region App" && m.version == "2.1.0")
    assert(m.description.contains("regional pipeline") && m.author.contains("data-eng"))
    assert(m.dependencies == Vector("orders", "customers"))
    assert(m.tags == Map("team" -> "analytics"))
    assert(m.phase.contains("production") && m.slaLatencyP99.contains("250ms"))
    assert(m.observabilityMetrics.contains(true) && m.observabilityProfiling.contains("dev"))
    assert(m.deploymentNodeId.contains("prod-node-42"))
    assert(m.deploymentNodeName.contains("Production DataCenter 1 Server 5"))
    assert(m.deploymentRegion.contains("eu-west-1"))
    assert(app.statements.length == 1)
  }

  test("missing application name is an error; missing version defaults to 1.0.0") {
    intercept[ParseException](SqlApp.parse("SELECT 1;", lookup))
    val app = SqlApp.parse("-- SQL Application: X\nSELECT 1", lookup)
    assert(app.metadata.version == "1.0.0")
  }

  test("per-statement Name/Property annotations attach to the following statement") {
    val app = SqlApp.parse(
      """-- SQL Application: Props App
        |
        |-- Name: monitor
        |-- Property: buffer.size = 1000
        |-- Property: timeout = 30s
        |SELECT * FROM orders WHERE amount > ${THRESHOLD:100};
        |
        |-- @name: second
        |SELECT 1;
        |""".stripMargin, lookup)
    val Seq(s1, s2) = app.statements.toSeq
    assert(s1.name.contains("monitor"))
    assert(s1.properties == Map("buffer.size" -> "1000", "timeout" -> "30s"))
    // env substitution also applies inside statement text
    assert(s1.sql.contains("amount > 100"))
    assert(s2.name.contains("second") && s2.properties.isEmpty && s2.order == 1)
    // ';' inside string literals must not split
    val app2 = SqlApp.parse(
      "-- SQL Application: Y\nSELECT 'a;b' AS x FROM t; SELECT 2", lookup)
    assert(app2.statements.length == 2)
    assert(app2.statements.head.sql.contains("'a;b'"))
  }

  test("@metric / @partition-count / @sticky-partition-id statement annotations") {
    val app = SqlApp.parse(
      """-- SQL Application: Annotated
        |
        |-- @metric: events_total
        |-- @metric: high_value_orders_total
        |-- @metric: 123_invalid
        |-- @partition-count: 16
        |-- @sticky-partition-id: 3
        |SELECT * FROM orders;
        |
        |-- @partition-count: not_a_number
        |-- @partition-count: 0
        |SELECT 1
        |""".stripMargin, lookup)
    val Seq(s1, s2) = app.statements.toSeq
    assert(s1.metrics.map(_.name) == Vector("events_total", "high_value_orders_total")) // invalid name dropped
    assert(s1.partitionCount.contains(16) && s1.stickyPartitionId.contains(3))
    assert(s2.partitionCount.isEmpty) // non-numeric and non-positive ignored
  }

  test("metric annotations with type/help/labels collect prometheus counters (sql_metrics_integration_test.rs)") {
    import spark.implicits._
    val ctx = new VeloContext(spark)
    ctx.register("market_data", Seq(
      ("AAPL", "NYSE", 300L, 100L), ("AAPL", "NYSE", 250L, 100L),
      ("GOOGL", "NASDAQ", 900L, 400L), ("MSFT", "NYSE", 150L, 100L))
      .toDF("symbol", "exchange", "volume", "avg_volume"))
    val (app, _) = SqlApp.run(ctx,
      """-- SQL Application: Metrics Demo
        |
        |-- @metric: test_volume_spikes_total
        |-- @metric_type: counter
        |-- @metric_help: "Total number of volume spikes detected"
        |-- @metric_labels: symbol, exchange
        |CREATE STREAM volume_spikes AS
        |SELECT symbol, exchange, volume, avg_volume
        |FROM market_data
        |WHERE volume > avg_volume * 2
        |""".stripMargin, lookup)
    val spec = app.statements.head.metrics.head
    assert(spec == SqlApp.MetricSpec("test_volume_spikes_total", "counter",
      Some("Total number of volume spikes detected"), Vector("symbol", "exchange")))
    val text = ctx.prometheusText
    assert(text.contains("# TYPE test_volume_spikes_total counter"))
    assert(text.contains("# HELP test_volume_spikes_total Total number of volume spikes detected"))
    assert(text.contains("""test_volume_spikes_total{exchange="NYSE",symbol="AAPL"} 2"""))
    assert(text.contains("""test_volume_spikes_total{exchange="NASDAQ",symbol="GOOGL"} 1"""))
    assert(!text.contains("MSFT")) // no spike → no series
  }

  test("gauge and histogram metrics collect with field/buckets (reference annotations.rs)") {
    import spark.implicits._
    val ctx = new VeloContext(spark)
    // single partition: keeps gauge's last-write-wins deterministic here
    ctx.register("ticks", Seq(
      ("AAPL", 150.0, 300L), ("GOOGL", 2800.0, 900L), ("AAPL", 152.5, 700L),
      ("GOOGL", 2790.0, 40000L))
      .toDF("symbol", "price", "total_volume").coalesce(1))
    val (app, _) = SqlApp.run(ctx,
      """-- SQL Application: Gauges
        |
        |-- @metric: current_price
        |-- @metric_type: gauge
        |-- @metric_field: price
        |-- @metric_labels: symbol
        |-- @metric: tick_volume_distribution
        |-- @metric_type: histogram
        |-- @metric_help: "Distribution of volume per tick"
        |-- @metric_field: total_volume
        |-- @metric_buckets: 100, 500, 1000, 5000, 10000, 50000
        |SELECT symbol, price, total_volume FROM ticks
        |""".stripMargin, lookup)
    val Seq(g, h) = app.statements.head.metrics.toSeq
    assert(g == SqlApp.MetricSpec("current_price", "gauge", None, Vector("symbol"), Some("price")))
    assert(h.buckets == Vector(100.0, 500.0, 1000.0, 5000.0, 10000.0, 50000.0))

    val text = ctx.prometheusText
    assert(text.contains("# TYPE current_price gauge"))
    assert(text.contains("""current_price{symbol="GOOGL"} 2790"""))
    assert(text.contains("# TYPE tick_volume_distribution histogram"))
    // cumulative le-buckets over all 4 ticks: ≤500 → 1, ≤1000 → 3, ≤50000 → 4
    assert(text.contains("""tick_volume_distribution_bucket{le="500"} 1"""))
    assert(text.contains("""tick_volume_distribution_bucket{le="1000"} 3"""))
    assert(text.contains("""tick_volume_distribution_bucket{le="50000"} 4"""))
    assert(text.contains("""tick_volume_distribution_bucket{le="+Inf"} 4"""))
    assert(text.contains("tick_volume_distribution_sum 41900"))
    assert(text.contains("tick_volume_distribution_count 4"))

    // counter with a field increments by the field value
    SqlApp.run(ctx,
      """-- SQL Application: FieldCounter
        |-- @metric: volume_total
        |-- @metric_type: counter
        |-- @metric_field: total_volume
        |SELECT total_volume FROM ticks
        |""".stripMargin, lookup)
    assert(ctx.prometheusText.contains("volume_total 41900"))

    // gauge without @metric_field is rejected (reference validate_annotation)
    val e = intercept[ParseException](SqlApp.parse(
      """-- SQL Application: Bad
        |-- @metric: naked_gauge
        |-- @metric_type: gauge
        |SELECT 1
        |""".stripMargin, lookup))
    assert(e.getMessage.contains("requires @metric_field"))
    // descending buckets rejected
    intercept[ParseException](SqlApp.parse(
      """-- SQL Application: Bad2
        |-- @metric: bad_hist
        |-- @metric_type: histogram
        |-- @metric_field: v
        |-- @metric_buckets: 100, 50
        |SELECT 1
        |""".stripMargin, lookup))
  }

  test("streaming job @metrics ride the job's micro-batches (observe + listener)") {
    import spark.implicits._
    implicit val sq: org.apache.spark.sql.classic.SQLContext =
      spark.sqlContext.asInstanceOf[org.apache.spark.sql.classic.SQLContext]
    val in = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, Double)]
    val ctx = new VeloContext(spark)
    ctx.register("metered_events", in.toDF().toDF("id", "amount"))
    in.addData(Seq((1L, 10.0), (2L, 30.0)))
    SqlApp.run(ctx,
      """-- SQL Application: StreamMetrics
        |-- @metric: metered_rows_total
        |-- @metric_type: counter
        |-- @metric: metered_amount_total
        |-- @metric_type: counter
        |-- @metric_field: amount
        |-- @metric: metered_last_amount
        |-- @metric_type: gauge
        |-- @metric_field: amount
        |START JOB meter AS SELECT id, amount FROM metered_events
        |""".stripMargin, lookup)
    def metricValue(name: String): Option[Double] = {
      val re = (java.util.regex.Pattern.quote(name) + """\{job="meter"\} ([0-9.]+)""").r
      re.findFirstMatchIn(ctx.prometheusText).map(_.group(1).toDouble)
    }
    def awaitMetric(name: String, expect: Double): Unit = {
      ctx.jobManager.awaitIdle("meter")
      val deadline = System.nanoTime() + 15L * 1000000000L
      while (!metricValue(name).contains(expect) && System.nanoTime() < deadline)
        Thread.sleep(100) // listener events are delivered asynchronously
      assert(metricValue(name).contains(expect), s"$name=${metricValue(name)}")
    }
    awaitMetric("metered_rows_total", 2.0)
    assert(metricValue("metered_amount_total").contains(40.0))
    // counters ACCUMULATE across micro-batches; the gauge tracks the last value
    in.addData(Seq((3L, 2.5)))
    awaitMetric("metered_rows_total", 3.0)
    assert(metricValue("metered_amount_total").contains(42.5))
    assert(metricValue("metered_last_amount").contains(2.5))
    assert(ctx.prometheusText.contains("# TYPE metered_rows_total counter"))
    // non-finite values spell Prometheus's +Inf/-Inf/NaN — Scala's
    // "Infinity" rendering made the whole scrape unparseable (r14 review)
    ctx.recordMetricSeries("inf_gauge", "gauge", None,
      Vector(("", Map("k" -> "a"), Double.PositiveInfinity),
        ("", Map("k" -> "b"), Double.NegativeInfinity),
        ("", Map("k" -> "c"), Double.NaN)))
    val nfText = ctx.prometheusText
    assert(nfText.contains("""inf_gauge{k="a"} +Inf"""), nfText.linesIterator.filter(_.contains("inf_gauge")).mkString("|"))
    assert(nfText.contains("""inf_gauge{k="b"} -Inf"""))
    assert(nfText.contains("""inf_gauge{k="c"} NaN"""))
    ctx.sql("STOP JOB meter")
  }

  test("labeled streaming counters aggregate per micro-batch in the changelog job") {
    import spark.implicits._
    implicit val sq: org.apache.spark.sql.classic.SQLContext =
      spark.sqlContext.asInstanceOf[org.apache.spark.sql.classic.SQLContext]
    val in = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(String, Double)]
    val ctx = new VeloContext(spark)
    ctx.register("labeled_events", in.toDF().toDF("symbol", "amount"))
    in.addData(Seq(("AAPL", 1.0), ("MSFT", 2.0), ("AAPL", 3.0)))
    SqlApp.run(ctx,
      """-- SQL Application: LabeledStream
        |-- @metric: by_symbol_total
        |-- @metric_type: counter
        |-- @metric_labels: symbol
        |START JOB labeler AS SELECT symbol, amount FROM labeled_events EMIT CHANGES
        |""".stripMargin, lookup)
    def series: Map[String, Double] = {
      val re = """by_symbol_total\{job="labeler",symbol="([A-Z]+)"\} ([0-9.]+)""".r
      re.findAllMatchIn(ctx.prometheusText).map(m => m.group(1) -> m.group(2).toDouble).toMap
    }
    def awaitSeries(expect: Map[String, Double]): Unit = {
      ctx.jobManager.awaitIdle("labeler")
      val deadline = System.nanoTime() + 15L * 1000000000L
      while (series != expect && System.nanoTime() < deadline) Thread.sleep(100)
      assert(series == expect)
    }
    awaitSeries(Map("AAPL" -> 2.0, "MSFT" -> 1.0))
    in.addData(Seq(("AAPL", 9.0)))
    awaitSeries(Map("AAPL" -> 3.0, "MSFT" -> 1.0)) // accumulates across batches
    ctx.sql("STOP JOB labeler")
  }

  test("DEPLOY resets streaming counters — a fresh epoch re-reads the source, totals must not double-count") {
    import spark.implicits._
    implicit val sq: org.apache.spark.sql.classic.SQLContext =
      spark.sqlContext.asInstanceOf[org.apache.spark.sql.classic.SQLContext]
    val in = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, Double)]
    val ctx = new VeloContext(spark)
    ctx.register("epoch_events", in.toDF().toDF("id", "amount"))
    in.addData(Seq((1L, 1.0), (2L, 2.0), (3L, 3.0)))
    SqlApp.run(ctx,
      """-- SQL Application: EpochMetrics
        |-- @metric: epoch_rows_total
        |-- @metric_type: counter
        |START JOB epocher AS SELECT id, amount FROM epoch_events
        |""".stripMargin, lookup)
    def metricValue: Option[Double] = {
      val re = """epoch_rows_total\{job="epocher"\} ([0-9.]+)""".r
      re.findFirstMatchIn(ctx.prometheusText).map(_.group(1).toDouble)
    }
    def awaitMetric(expect: Double): Unit = {
      ctx.jobManager.awaitIdle("epocher")
      val deadline = System.nanoTime() + 15L * 1000000000L
      while (!metricValue.contains(expect) && System.nanoTime() < deadline)
        Thread.sleep(100)
      assert(metricValue.contains(expect), s"epoch_rows_total=$metricValue")
    }
    awaitMetric(3.0)
    // DEPLOY starts a fresh checkpoint epoch, so the new query re-reads
    // all 3 rows from the MemoryStream. The sink holds exactly one copy;
    // the counter must report 3 (one epoch's total), not 3+3.
    ctx.sql("DEPLOY JOB epocher VERSION '2.0.0' AS SELECT id, amount * 2 AS amount FROM epoch_events")
    awaitMetric(3.0)
    in.addData(Seq((4L, 4.0)))
    awaitMetric(4.0)
    ctx.sql("STOP JOB epocher")
  }

  test("a micro-batch with no gauge data retains the last real value instead of resetting to 0") {
    import spark.implicits._
    implicit val sq: org.apache.spark.sql.classic.SQLContext =
      spark.sqlContext.asInstanceOf[org.apache.spark.sql.classic.SQLContext]
    val in = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, Option[Double])]
    val ctx = new VeloContext(spark)
    ctx.register("gauge_events", in.toDF().toDF("id", "amount"))
    in.addData(Seq((1L, Some(42.0))))
    SqlApp.run(ctx,
      """-- SQL Application: GaugeRetention
        |-- @metric: gr_rows_total
        |-- @metric_type: counter
        |-- @metric: gr_last_amount
        |-- @metric_type: gauge
        |-- @metric_field: amount
        |START JOB gaugey AS SELECT id, amount FROM gauge_events
        |""".stripMargin, lookup)
    def metricValue(name: String): Option[Double] = {
      val re = (java.util.regex.Pattern.quote(name) + """\{job="gaugey"\} ([0-9.]+)""").r
      re.findFirstMatchIn(ctx.prometheusText).map(_.group(1).toDouble)
    }
    def awaitCounter(expect: Double): Unit = {
      ctx.jobManager.awaitIdle("gaugey")
      val deadline = System.nanoTime() + 15L * 1000000000L
      while (!metricValue("gr_rows_total").contains(expect) && System.nanoTime() < deadline)
        Thread.sleep(100)
      assert(metricValue("gr_rows_total").contains(expect))
    }
    awaitCounter(1.0)
    assert(metricValue("gr_last_amount").contains(42.0))
    // A batch whose gauge field is entirely null observes a null value
    // (last ignoreNulls). The counter reaching 2 proves the listener
    // processed that batch's event — same synchronized block decides
    // both metrics — so asserting the gauge afterwards is race-free.
    in.addData(Seq((2L, None)))
    awaitCounter(2.0)
    assert(metricValue("gr_last_amount").contains(42.0),
      s"gauge was reset by an empty observation: ${metricValue("gr_last_amount")}")
    ctx.sql("STOP JOB gaugey")
  }

  test("@partition-count applies as repartition(n) on the statement result") {
    import spark.implicits._
    val ctx = new VeloContext(spark)
    ctx.register("pc_t", Seq.tabulate(100)(i => (i.toLong, i * 1.0)).toDF("id", "v"))
    val (_, results) = SqlApp.run(ctx,
      """-- SQL Application: PC
        |-- @partition-count: 7
        |SELECT id, v FROM pc_t
        |""".stripMargin, lookup)
    assert(results.head.rdd.getNumPartitions == 7)
    assert(results.head.count() == 100)
  }

  test("an application runs end-to-end against a VeloContext (jobs included)") {
    import spark.implicits._
    val ctx = new VeloContext(spark)
    ctx.register("orders_app", Seq((1L, 50.0), (2L, 500.0), (3L, 5000.0)).toDF("id", "amount"))
    val (app, results) = SqlApp.run(ctx,
      """-- SQL Application: Order Analytics
        |-- Version: 1.0.0
        |-- @deployment.region: ${TEST_APP_REGION:us-east-1}
        |
        |-- Name: big_orders
        |CREATE TABLE big_app_orders AS SELECT id, amount FROM orders_app WHERE amount > ${MIN_AMT:100};
        |
        |-- Name: monitor_job
        |START JOB app_monitor AS SELECT id, amount * 2 AS doubled FROM big_app_orders;
        |
        |SHOW JOBS
        |""".stripMargin, lookup)
    assert(app.metadata.deploymentRegion.contains("eu-west-1"))
    assert(results.length == 3)
    assert(spark.table("big_app_orders").count() == 2)
    assert(spark.table("app_monitor_out").count() == 2)
    val jobs = results.last.collect().map(_.getAs[String]("job_name")).toSeq
    assert(jobs == Seq("app_monitor"))
    ctx.sql("STOP JOB app_monitor")
  }

  test("application restart continuity: re-running the app over a durable root RESUMES each job exactly-once (stream_job_server.rs deployment recovery)") {
    import spark.implicits._
    // the reference's server restart re-deploys the whole application
    // and each job's consumer group resumes from its committed offsets;
    // here the same app text re-run over the same graft.jobs.stateRoot
    // must RESUME each DEPLOY'd job's checkpoint epoch — not open a
    // fresh blue-green epoch and re-read the source from scratch
    val stateRoot = java.nio.file.Files.createTempDirectory("graft_app_restart").toString
    val srcDir = java.nio.file.Files.createTempDirectory("graft_app_restart_src").toString
    Seq((1L, 1.0), (2L, 2.0)).toDF("id", "v").write.mode("append").parquet(srcDir)
    val schema = spark.read.parquet(srcDir).schema
    val appText =
      """-- SQL Application: RestartContinuity
        |-- Version: 1.0.0
        |
        |-- Name: doubler
        |DEPLOY JOB app_double VERSION '1.0.0' AS SELECT id, v * 2 AS v2 FROM app_events;
        |
        |-- Name: summer
        |DEPLOY JOB app_sum VERSION '1.0.0' AS SELECT id, v + 100 AS v100 FROM app_events
        |""".stripMargin
    def newServer(): (org.apache.spark.sql.SparkSession, VeloContext) = {
      val s = spark.newSession()
      s.conf.set("graft.jobs.stateRoot", stateRoot)
      val c = new VeloContext(s)
      c.register("app_events", s.readStream.schema(schema).parquet(srcDir))
      (s, c)
    }
    def sink(c: VeloContext, name: String, col2: String): Seq[(Long, Double)] =
      c.jobManager.sinkDf(name).collect()
        .map(r => (r.getAs[Long]("id"), r.getAs[Double](col2))).sorted.toSeq

    // "server" #1: deploy the app, commit the first two rows, then CRASH
    // (queries killed out from under the manager — no drain, no STOP)
    val (s1, ctx1) = newServer()
    SqlApp.run(ctx1, appText)
    ctx1.jobManager.awaitIdle("app_double"); ctx1.jobManager.awaitIdle("app_sum")
    assert(sink(ctx1, "app_double", "v2") == Seq((1L, 2.0), (2L, 4.0)))
    s1.streams.active.filter(q => Option(q.name).exists(_.startsWith("graft-job-app_")))
      .foreach(_.stop())
    // data arriving while the "server" is down
    Seq((3L, 3.0)).toDF("id", "v").write.mode("append").parquet(srcDir)

    // "server" #2: SAME app text — each job resumes its epoch: the
    // already-committed file is skipped, the new file processes once
    val (_, ctx2) = newServer()
    SqlApp.run(ctx2, appText)
    ctx2.jobManager.awaitIdle("app_double"); ctx2.jobManager.awaitIdle("app_sum")
    assert(sink(ctx2, "app_double", "v2") == Seq((1L, 2.0), (2L, 4.0), (3L, 6.0)))
    assert(sink(ctx2, "app_sum", "v100") == Seq((1L, 101.0), (2L, 102.0), (3L, 103.0)))
    // and the epoch did NOT bump: the app's first deploy opened ckpt-1
    // (a job's very first DEPLOY bumps from the initial epoch 0); the
    // re-run must still be on it — a fresh blue-green deploy would have
    // opened ckpt-2
    for (n <- Seq("app_double", "app_sum")) {
      assert(new java.io.File(s"$stateRoot/$n/ckpt-1").exists)
      assert(!new java.io.File(s"$stateRoot/$n/ckpt-2").exists,
        s"$n redeployed a fresh epoch instead of resuming the recovered one")
    }
    Seq("app_double", "app_sum").foreach(n => ctx2.sql(s"STOP JOB $n"))

    // "server" #3: ONE job's body changed — that job (and only it) gets
    // a fresh epoch and re-reads from scratch; the other still resumes
    val (_, ctx3) = newServer()
    SqlApp.run(ctx3, appText.replace("v * 2", "v * 10"))
    ctx3.jobManager.awaitIdle("app_double"); ctx3.jobManager.awaitIdle("app_sum")
    assert(sink(ctx3, "app_double", "v2") == Seq((1L, 10.0), (2L, 20.0), (3L, 30.0)))
    assert(new java.io.File(s"$stateRoot/app_double/ckpt-2").exists,
      "a changed body must NOT resume the old body's offsets/state")
    assert(!new java.io.File(s"$stateRoot/app_sum/ckpt-2").exists)
    Seq("app_double", "app_sum").foreach(n => ctx3.sql(s"STOP JOB $n"))
  }

  test("diamond CTAS dependencies load in parallel waves, results identical to sequential (parallel_loader.rs)") {
    import spark.implicits._
    val ctx = new VeloContext(spark)
    ctx.register("raw_wave", Seq((1L, 10.0), (2L, 200.0), (3L, 3000.0)).toDF("id", "amount"))
    val appText =
      """-- SQL Application: Wave Loader
        |
        |CREATE TABLE wave_small AS SELECT id, amount FROM raw_wave WHERE amount < 1000;
        |CREATE TABLE wave_big AS SELECT id, amount FROM raw_wave WHERE amount >= 1000;
        |CREATE TABLE wave_union AS
        |  SELECT id, amount FROM wave_small UNION ALL SELECT id, amount FROM wave_big;
        |
        |SELECT COUNT(*) AS n FROM wave_union
        |""".stripMargin
    var waves = Vector.empty[(Int, Seq[String])]
    val (_, results) = SqlApp.run(ctx, appText, lookup,
      onWave = (w, members) => waves.synchronized { waves :+= (w -> members) })
    // the diamond executes in exactly 2 waves: the independent branches
    // together, then the statement that reads both
    assert(waves.length == 2, waves)
    assert(waves(0)._2.toSet == Set("wave_small", "wave_big"))
    assert(waves(1)._2 == Seq("wave_union"))
    // results identical to sequential semantics
    assert(spark.table("wave_small").count() == 2)
    assert(spark.table("wave_big").count() == 1)
    assert(spark.table("wave_union").count() == 3)
    assert(results.last.collect().head.getLong(0) == 3L)
    // and the barrier statement ran AFTER the run, in order
    assert(results.length == 4)
    // load-progress monitoring: every wave-loaded table reported rows +
    // wall into the metrics registry (progress_monitoring.rs analog),
    // discoverable through the prometheus exposition
    val prom = ctx.prometheusText
    assert(prom.contains("graft_table_load_rows"), prom)
    Seq("wave_small", "wave_big", "wave_union").foreach(t =>
      assert(prom.contains(s"""table="$t""""), s"missing $t in:\n$prom"))
    assert(prom.contains("graft_table_load_seconds"))
  }

  test("multi-line string literals survive splitting: ';' and '--' inside them are data") {
    import spark.implicits._
    val ctx = new VeloContext(spark)
    ctx.register("raw_lit", Seq(Tuple1(1L)).toDF("id"))
    val (_, results) = SqlApp.run(ctx,
      "-- SQL Application: Literal App\n" +
        "\n" +
        "CREATE TABLE lit_t AS SELECT id, 'hello\n" +
        "; -- @bogus: v\n" +
        "world' AS c FROM raw_lit;\n", lookup)
    // one statement, not three corrupted halves; literal content intact
    assert(results.length == 1)
    val c = spark.table("lit_t").collect().head.getString(1)
    assert(c.contains(";") && c.contains("@bogus") && c.contains("world"))
    // ...and the literal's '-- @bogus' line did NOT pollute app metadata
    val app = SqlApp.parse(
      "-- SQL Application: Literal App\n\nCREATE TABLE t AS SELECT 'x\n-- @fake_key: v\ny' AS c FROM s;\n",
      lookup)
    assert(!app.metadata.extra.contains("fake_key"))
    // a literal line that also CLOSES the quote: its prefix is still
    // literal content — the end-of-line quote state must not reclassify
    // it as app metadata
    val app2 = SqlApp.parse(
      "-- SQL Application: Closer App\n\nCREATE TABLE t AS SELECT 'x\n-- @owner: hacker'\n AS c FROM s;\n",
      lookup)
    assert(!app2.metadata.extra.contains("owner"))
    // a non-metric annotation whose key merely STARTS with 'metric'
    // ('-- @metrics.port') must land in extra like '@job.port' would —
    // the old bare '-- @metric' exclusion swallowed it entirely (r14
    // review); the true metric-spec forms stay excluded
    val app3 = SqlApp.parse(
      "-- SQL Application: Metricish App\n-- @metrics.port: 9090\n" +
        "-- @metric: orders_total\n-- @metric_help: h\n\nSELECT 1;\n",
      lookup)
    assert(app3.metadata.extra.get("metrics.port").contains("9090"), app3.metadata.extra.toString)
    assert(!app3.metadata.extra.keys.exists(_.startsWith("metric:")))
    assert(!app3.metadata.extra.contains("metric_help"))
  }

  test("a CTAS re-creating a table stays strictly ordered (write-after-read barrier)") {
    import spark.implicits._
    val ctx = new VeloContext(spark)
    ctx.register("raw_war", Seq((1L, 1.0), (2L, 2.0)).toDF("id", "v"))
    SqlApp.run(ctx,
      """-- SQL Application: WAR Order
        |
        |CREATE TABLE war_t AS SELECT id, v FROM raw_war;
        |CREATE TABLE war_reader AS SELECT id, v * 10 AS v10 FROM war_t;
        |CREATE TABLE war_t2 AS SELECT id, v10 FROM war_reader WHERE id = 1;
        |""".stripMargin, lookup)
    // war_reader must have read the FIRST war_t (sequential semantics);
    // the chain forces 3 levels even though all three are CTAS
    assert(spark.table("war_reader").count() == 2)
    assert(spark.table("war_t2").collect().map(_.getDouble(1)).toSeq == Seq(10.0))
  }

  test("@job_mode/@batch_size/@num_partitions/@partitioning_strategy parse per statement (annotation_parser.rs:204-208)") {
    val app = SqlApp.parse(
      """-- SQL Application: JobCfg
        |
        |-- @job_mode: transactional
        |-- @batch_size: 500
        |-- @num_partitions: 8
        |-- @partitioning_strategy: always_hash
        |START JOB a AS SELECT * FROM t;
        |
        |-- @partitioning_strategy: bogus
        |-- @num_partitions: -2
        |START JOB b AS SELECT * FROM t;
        |""".stripMargin, lookup)
    val a = app.statements(0)
    assert(a.jobMode.contains("transactional") && a.batchSize.contains(500))
    assert(a.numPartitions.contains(8) && a.partitioningStrategy.contains("hash"))
    // unknown strategy / non-positive count are ignored, as the reference's are
    val b = app.statements(1)
    assert(b.partitioningStrategy.isEmpty && b.numPartitions.isEmpty)
  }

  test("@num_partitions shapes the job's sink; hash strategy co-locates each PRIMARY KEY") {
    import spark.implicits._
    implicit val sq: org.apache.spark.sql.classic.SQLContext =
      spark.sqlContext.asInstanceOf[org.apache.spark.sql.classic.SQLContext]
    val in = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, Double)]
    val ctx = new VeloContext(spark)
    ctx.register("part_events", in.toDF().toDF("id", "v"))
    in.addData((1 to 12).map(i => ((i % 4).toLong, i.toDouble)))
    SqlApp.run(ctx,
      """-- SQL Application: PartCfg
        |
        |-- @num_partitions: 3
        |START JOB rr AS SELECT id, v FROM part_events;
        |
        |-- @num_partitions: 2
        |-- @partitioning_strategy: hash
        |START JOB keyed AS SELECT id PRIMARY KEY, v FROM part_events;
        |""".stripMargin, lookup)
    ctx.jobManager.awaitIdle("rr")
    ctx.jobManager.awaitIdle("keyed")
    // roundrobin over 12 rows → exactly 3 sink files in the micro-batch
    assert(ctx.jobManager.sinkDf("rr").inputFiles.length == 3)
    // hash on the PRIMARY KEY: all of a key's records share one file
    import org.apache.spark.sql.functions.input_file_name
    val keyed = ctx.jobManager.sinkDf("keyed").withColumn("f", input_file_name()).collect()
    assert(keyed.length == 12)
    keyed.groupBy(_.getAs[Long]("id")).foreach { case (id, rows) =>
      assert(rows.map(_.getAs[String]("f")).distinct.length == 1, s"key $id split across files")
    }
    ctx.sql("STOP JOB rr")
    ctx.sql("STOP JOB keyed")
  }

  test("@metric_condition and @metric_sample_rate parse; out-of-range rates reject (annotations.rs:294-321)") {
    val app = SqlApp.parse(
      """-- SQL Application: Cond
        |-- @metric: big_orders_total
        |-- @metric_type: counter
        |-- @metric_condition: amount > 100
        |-- @metric_sample_rate: 0.25
        |SELECT * FROM t;
        |""".stripMargin, lookup)
    val m = app.statements.head.metrics.head
    assert(m.condition.contains("amount > 100"))
    assert(m.sampleRate == 0.25)
    intercept[ParseException] {
      SqlApp.parse("-- SQL Application: X\n-- @metric: a\n-- @metric_sample_rate: 1.5\nSELECT 1;\n", lookup)
    }
    intercept[ParseException] {
      SqlApp.parse("-- SQL Application: X\n-- @metric: a\n-- @metric_sample_rate: lots\nSELECT 1;\n", lookup)
    }
  }

  test("@metric_condition narrows the metric's records; sampling is deterministic and replay-stable") {
    import spark.implicits._
    def collect(): String = {
      val ctx = new VeloContext(spark)
      ctx.register("orders_m",
        (1 to 1000).map(i => (i.toLong, (i % 200).toDouble)).toDF("id", "amount"))
      SqlApp.run(ctx,
        """-- SQL Application: CondMetrics
          |-- @metric: big_amount_total
          |-- @metric_type: counter
          |-- @metric_condition: amount >= 150
          |-- @metric: sampled_rows_total
          |-- @metric_type: counter
          |-- @metric_sample_rate: 0.5
          |-- @metric: none_rows_total
          |-- @metric_type: counter
          |-- @metric_sample_rate: 0.0
          |CREATE STREAM order_feed AS SELECT id, amount FROM orders_m
          |""".stripMargin, lookup)
      ctx.prometheusText
    }
    val text = collect()
    def value(t: String, name: String): Double =
      (java.util.regex.Pattern.quote(name) + """ ([0-9.]+)""").r
        .findFirstMatchIn(t).get.group(1).toDouble
    // amount cycles 0..199 over 1000 rows → exactly 250 rows >= 150
    assert(value(text, "big_amount_total") == 250.0)
    // rate 0.0 → the hash test admits nothing
    assert(value(text, "none_rows_total") == 0.0)
    // rate 0.5 over a full-row hash: about half, and EXACTLY reproducible
    val n = value(text, "sampled_rows_total")
    assert(n > 350 && n < 650, s"sampled $n of 1000 at rate 0.5")
    assert(value(collect(), "sampled_rows_total") == n) // replay samples identically
  }

  test("streaming @metric_condition gates observe-collected counters on the job's own batches") {
    import spark.implicits._
    implicit val sq: org.apache.spark.sql.classic.SQLContext =
      spark.sqlContext.asInstanceOf[org.apache.spark.sql.classic.SQLContext]
    val in = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, Double)]
    val ctx = new VeloContext(spark)
    ctx.register("cond_events", in.toDF().toDF("id", "amount"))
    in.addData(Seq((1L, 10.0), (2L, 3.0), (3L, 30.0)))
    SqlApp.run(ctx,
      """-- SQL Application: CondStream
        |-- @metric: big_events_total
        |-- @metric_type: counter
        |-- @metric_condition: amount > 5
        |START JOB condjob AS SELECT id, amount FROM cond_events
        |""".stripMargin, lookup)
    def metricValue(): Option[Double] = {
      val re = """big_events_total\{job="condjob"\} ([0-9.]+)""".r
      re.findFirstMatchIn(ctx.prometheusText).map(_.group(1).toDouble)
    }
    ctx.jobManager.awaitIdle("condjob")
    val deadline = System.nanoTime() + 15L * 1000000000L
    while (!metricValue().contains(2.0) && System.nanoTime() < deadline)
      Thread.sleep(100) // listener events are delivered asynchronously
    assert(metricValue().contains(2.0)) // amounts 10 and 30 match; 3 does not
    ctx.sql("STOP JOB condjob")
  }

  test("block comments hide ';' and quotes from the splitter; trailing inline comment is not a statement") {
    import spark.implicits._
    val ctx = new VeloContext(spark)
    ctx.register("bc_src", Seq(Tuple1(1L)).toDF("id"))
    // a ';' and an apostrophe inside /* */ must not split the statement
    // or poison the quote state of later lines; the inline '-- done'
    // after the final ';' must not become a bogus empty statement
    val (_, results) = SqlApp.run(ctx,
      "-- SQL Application: Block Comment App\n" +
        "\n" +
        "CREATE TABLE bc_t AS SELECT id /* don't; split */ FROM bc_src;\n" +
        "SELECT id FROM bc_t; -- done\n", lookup)
    assert(results.length == 2)
    assert(spark.table("bc_t").count() == 1)
  }

  test("r15 review: '--' inside a kafka:// URI is not a comment; condition resolves \\${VAR}; NaN buckets reject") {
    // (1) double dash is legal in Kafka topic names and the dialect
    // tokenizer consumes it as a URI character — the splitter treated
    // it as a comment, merging the two statements
    val app = SqlApp.parse(
      "-- SQL Application: Uri App\n" +
        "CREATE STREAM s1 AS SELECT * FROM kafka://my--topic; SELECT 1 AS x;\n")
    assert(app.statements.length == 2, app.statements.map(_.sql).toString)
    assert(!app.statements.head.sql.contains("SELECT 1"), app.statements.head.sql)
    // a NON-URI double dash is still a comment (tokenizer parity): the
    // ';' inside it must NOT split — one statement, comment text kept
    // verbatim for the tokenizer to strip
    val app2 = SqlApp.parse("-- SQL Application: C\nSELECT 1 AS x -- note; SELECT 2\n;")
    assert(app2.statements.length == 1, app2.statements.map(_.sql).toString)
    // (2) @metric_condition resolves ${VAR} like statement SQL does
    val appC = SqlApp.parse(
      "-- SQL Application: Cond\n" +
        "-- @metric: m\n" +
        "-- @metric_condition: region = '${TEST_CLUSTER}'\n" +
        "SELECT 1 AS region;\n", lookup)
    assert(appC.statements.head.metrics.head.condition.contains("region = 'cluster1'"),
      appC.statements.head.metrics.toString)
    // (3) NaN/Infinity bucket boundaries reject (every NaN comparison
    // is false, so the ascending check silently passed)
    for (bad <- Seq("100, NaN, 500", "1, Infinity"))
      assert(intercept[ParseException](SqlApp.parse(
        s"-- SQL Application: B\n-- @metric: h\n-- @metric_type: histogram\n" +
          s"-- @metric_buckets: $bad\nSELECT 1 AS v;\n"))
        .getMessage.contains("buckets"), bad)
  }

  test("r15 review: a failed statement detaches only what IT attached") {
    import spark.implicits._
    val ctx = new VeloContext(spark)
    ctx.register("det_src", Seq(Tuple1(1L)).toDF("id"))
    // stmt 1: metrics attached by a SUCCESSFUL job statement
    SqlApp.run(ctx,
      "-- SQL Application: Det\n-- @metric: det_m\nSTART JOB detjob AS SELECT id FROM det_src;\n")
    assert(ctx.jobManager.hasAttachedMetrics("detjob"))
    // stmt 2: a FAILING statement that attaches only a job config must
    // not wipe the earlier metrics on cleanup
    intercept[Exception](SqlApp.run(ctx,
      "-- SQL Application: Det2\n-- @num_partitions: 2\nSTART JOB detjob AS SELECT bogus FROM det_src;\n"))
    assert(!ctx.jobManager.hasAttachedJobConfig("detjob"),
      "the failed statement's own config must detach")
    assert(ctx.jobManager.hasAttachedMetrics("detjob"),
      "metrics attached by an earlier successful statement must survive")
    ctx.sql("STOP JOB detjob")
  }

  test("a dependent of a QUOTED ctas name waits for its producer's wave") {
    import spark.implicits._
    val ctx = new VeloContext(spark)
    ctx.register("qd_src", Seq(Tuple1(1L), Tuple1(2L)).toDF("id"))
    // producer declared with a backtick-quoted name; the dependent
    // references it bare — unstripped, both land in wave 0 and race
    var waves = Vector.empty[Seq[String]]
    val (_, results) = SqlApp.run(ctx,
      "-- SQL Application: Quoted Dep App\n\n" +
        "CREATE TABLE `qd_base` AS SELECT id FROM qd_src;\n" +
        "CREATE TABLE qd_child AS SELECT id FROM qd_base;\n", lookup,
      onWave = (_, members) => waves.synchronized { waves :+= members })
    assert(results.length == 2)
    // two waves, child strictly after its producer
    assert(waves.length == 2, waves.toString)
    assert(spark.table("qd_child").count() == 2)
  }

  test("NODE_ID mid-chain does not shadow a SET later link; mid-chain default does not short-circuit") {
    assert(SqlApp.resolvePattern("${NODE_ID|TEST_CLUSTER}", lookup) == "cluster1")
    // mid-chain default must not win over the last link's default
    assert(SqlApp.resolvePattern("${MISSING_VAR:mid|OTHER_MISSING:last}", lookup) == "last")
  }

  test("a labeled GAUGE on a changelog job is collected (r14 review: the foreachBatch gate matched counters only)") {
    import spark.implicits._
    implicit val sq: org.apache.spark.sql.classic.SQLContext =
      spark.sqlContext.asInstanceOf[org.apache.spark.sql.classic.SQLContext]
    val in = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(String, Double)]
    val ctx = new VeloContext(spark)
    ctx.register("gauge_events", in.toDF().toDF("symbol", "amount"))
    in.addData(Seq(("AAPL", 1.0), ("AAPL", 3.0), ("MSFT", 7.0)))
    SqlApp.run(ctx,
      """-- SQL Application: LabeledGauge
        |-- @metric: last_amount_by_symbol
        |-- @metric_type: gauge
        |-- @metric_field: amount
        |-- @metric_labels: symbol
        |START JOB gauger AS SELECT symbol, amount FROM gauge_events EMIT CHANGES
        |""".stripMargin, lookup)
    def series: Map[String, Double] = {
      val re = """last_amount_by_symbol\{job="gauger",symbol="([A-Z]+)"\} ([0-9.]+)""".r
      re.findAllMatchIn(ctx.prometheusText).map(m => m.group(1) -> m.group(2).toDouble).toMap
    }
    ctx.jobManager.awaitIdle("gauger")
    val deadline = System.nanoTime() + 15L * 1000000000L
    while (series.isEmpty && System.nanoTime() < deadline) Thread.sleep(100)
    assert(series.get("MSFT").contains(7.0),
      s"the labeled gauge must be collected, got $series")
    ctx.sql("STOP JOB gauger")
  }

  test("sampled metrics over a map-bearing result; cased label names (r14 review)") {
    import spark.implicits._
    val ctx2 = new VeloContext(spark)
    // _headers-style MAP column + @metric_sample_rate: the sampling hash
    // must skip the unhashable map instead of failing analysis
    ctx2.register("hdr_src",
      Seq((1L, "a"), (2L, "b"), (3L, "a")).toDF("id", "Region")
        .withColumn("_headers", org.apache.spark.sql.functions.map(
          org.apache.spark.sql.functions.lit("k"), org.apache.spark.sql.functions.lit("v"))))
    val res = SqlApp.run(ctx2,
      """-- SQL Application: MapSample
        |-- @metric: sampled_rows
        |-- @metric_type: counter
        |-- @metric_sample_rate: 0.5
        |CREATE TABLE hdr_snap AS SELECT id, Region, _headers FROM hdr_src
        |""".stripMargin, lookup)
    assert(res._2.nonEmpty)
    assert(ctx2.prometheusText.contains("sampled_rows"),
      "the sampled metric must be collected over a map-bearing result")

    // a @metric_labels casing variant of the column must not crash the
    // collection after the aggregation already succeeded
    val res2 = SqlApp.run(ctx2,
      """-- SQL Application: CasedLabel
        |-- @metric: rows_by_region
        |-- @metric_type: counter
        |-- @metric_labels: REGION
        |CREATE TABLE lbl_snap AS SELECT id, Region FROM hdr_src
        |""".stripMargin, lookup)
    assert(res2._2.nonEmpty)
    val text = ctx2.prometheusText
    assert(text.contains("rows_by_region"), "cased label collection must succeed")
  }

  test("r17 review: two statements sharing a metric NAME keep both series (registry slices)") {
    import spark.implicits._
    val ctx = new VeloContext(spark)
    ctx.register("slice_src", Seq(("eu", 1L), ("us", 2L), ("us", 3L)).toDF("region", "id"))
    // pre-fix the second statement's push REPLACED the first's series
    // wholesale (same metric name), so region="eu" vanished from
    // /metrics the moment the second statement ran
    SqlApp.run(ctx,
      """-- SQL Application: Slices
        |-- @metric: slice_rows_total
        |-- @metric_labels: region
        |-- @metric_condition: region = 'eu'
        |CREATE TABLE slice_eu AS SELECT * FROM slice_src WHERE region = 'eu';
        |
        |-- @metric: slice_rows_total
        |-- @metric_labels: region
        |-- @metric_condition: region = 'us'
        |CREATE TABLE slice_us AS SELECT * FROM slice_src WHERE region = 'us';
        |""".stripMargin, lookup)
    val text = ctx.prometheusText
    assert(text.contains("""slice_rows_total{region="eu"} 1"""), text)
    assert(text.contains("""slice_rows_total{region="us"} 2"""), text)
    // ONE header block for the shared name (exposition format rule)
    assert("# TYPE slice_rows_total".r.findAllIn(text).length == 1)
  }

  test("r17 review: a failed statement RESTORES the prior attach under the same kind") {
    import spark.implicits._
    val ctx = new VeloContext(spark)
    ctx.register("rst_src", Seq(Tuple1(1L)).toDF("id"))
    SqlApp.run(ctx,
      "-- SQL Application: Rst\n-- @metric: rst_m1\nSTART JOB rstjob AS SELECT id FROM rst_src;\n")
    assert(ctx.jobManager.attachedMetrics("rstjob").exists(_.exists(_.name == "rst_m1")))
    // a FAILING statement that attaches metrics m2 for the SAME job:
    // pre-fix the kind-scoped detach REMOVED the specs entirely, so the
    // live job's listener silently stopped accumulating rst_m1
    intercept[Exception](SqlApp.run(ctx,
      "-- SQL Application: Rst2\n-- @metric: rst_m2\nSTART JOB rstjob AS SELECT bogus FROM rst_src;\n"))
    val specs = ctx.jobManager.attachedMetrics("rstjob")
    assert(specs.exists(_.exists(_.name == "rst_m1")),
      s"prior metrics must be restored, got $specs")
    assert(!specs.exists(_.exists(_.name == "rst_m2")),
      "the failed statement's own specs must not survive")
    ctx.sql("STOP JOB rstjob")
  }

  test("r17 review: an unlabeled gauge over zero matching rows emits NO series, not 0") {
    import spark.implicits._
    val ctx = new VeloContext(spark)
    ctx.register("g0_src", Seq((1L, 10.0), (2L, 20.0)).toDF("id", "depth"))
    SqlApp.run(ctx,
      """-- SQL Application: GaugeEmpty
        |-- @metric: g0_depth
        |-- @metric_type: gauge
        |-- @metric_field: depth
        |-- @metric_condition: id > 100
        |CREATE TABLE g0_out AS SELECT * FROM g0_src;
        |""".stripMargin, lookup)
    val text = ctx.prometheusText
    // pre-fix: num(null) => 0.0 fabricated `g0_depth 0` — a value never
    // present in the data (the streaming listener's stated gauge rule:
    // retain, never reset to 0)
    assert(!text.contains("g0_depth 0"), text)
    // a counter over the same empty input IS honestly 0 — only gauges
    // must stay silent
  }

  test("r17 review: resolvePattern survives an all-bar var spec (keeps the spec text)") {
    // pre-fix: "|".split('|') is EMPTY and links.last threw
    // NoSuchElementException through the validator's pre-deploy gate
    assert(SqlApp.resolvePattern("x${|}y", lookup) == "x|y")
    assert(SqlApp.resolvePattern("${||}", lookup) == "||")
  }

  test("r17 review: a URI path glob '/' + '*' does not open a block comment in the splitters") {
    // 'file://sink_dir/*': the tokenizer consumes the '/' as a URI
    // character, so the splitter must not swallow the rest of the app
    // as comment text — pre-fix the ';' vanished and both statements
    // merged (the r15 '--'-in-URI class, block-comment arm)
    val app = SqlApp.parse(
      "-- SQL Application: Glob\n" +
        "SELECT 1 AS a FROM file://sink_dir/*;\n" +
        "SELECT 2 AS b;\n")
    assert(app.statements.length == 2, app.statements.map(_.sql))
    assert(app.statements(1).sql.trim == "SELECT 2 AS b")
    val split = VeloContext.splitStatements(
      "SELECT 1 AS a FROM file://sink_dir/*; SELECT 2 AS b")
    assert(split == Seq("SELECT 1 AS a FROM file://sink_dir/*", "SELECT 2 AS b"), split)
    // a REAL block comment separated from the URI still comments
    val split2 = VeloContext.splitStatements(
      "SELECT 1 AS a FROM file://d /* c; */; SELECT 2 AS b")
    assert(split2.length == 2, split2)
  }

  test("r17 review: uncollectable streaming-job metric specs warn at launch") {
    import spark.implicits._
    implicit val sq: org.apache.spark.sql.classic.SQLContext =
      spark.sqlContext.asInstanceOf[org.apache.spark.sql.classic.SQLContext]
    val in = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, Double)]
    val ctx = new VeloContext(spark)
    ctx.register("warn_events", in.toDF().toDF("id", "ms"))
    in.addData(Seq((1L, 10.0)))
    val buf = new java.io.ByteArrayOutputStream()
    val prev = System.err
    // a labeled spec on a final-row STREAMING job is collected by
    // nothing (observe() cannot group, and only a changelog sink has a
    // per-batch hook) — pre-fix such a spec was accepted silently and
    // never appeared in /metrics
    try {
      System.setErr(new java.io.PrintStream(buf, true))
      SqlApp.run(ctx,
        """-- SQL Application: WarnLabeled
          |-- @metric: warn_latency
          |-- @metric_type: counter
          |-- @metric_labels: id
          |START JOB warnjob AS SELECT id, ms FROM warn_events
          |""".stripMargin, lookup)
    } finally System.setErr(prev)
    ctx.sql("STOP JOB warnjob")
    val err = buf.toString
    assert(err.contains("warn_latency") && err.contains("will not be collected"), err)
  }

  test("an annotation is a whole-line comment outside literals and block comments; it attaches to the next statement") {
    def one(body: String): SqlApp.AppStatement = {
      val app = SqlApp.parse("-- SQL Application: Ann\n" + body, lookup)
      assert(app.statements.length == 1, app.statements.map(_.sql))
      app.statements.head
    }
    // an empty fragment carries the annotation to the next statement
    val carried = one("-- @name: first\n;\nSELECT 1 AS a;")
    assert(carried.name.contains("first") && carried.sql == "SELECT 1 AS a")
    // inside a block comment: no annotation, and the text keeps the comment
    val hidden = one("/* start\n-- @name: hidden\n*/ SELECT 1 AS a;")
    assert(hidden.name.isEmpty && hidden.sql == "/* start\n-- @name: hidden\n*/ SELECT 1 AS a")
    // after code on its line: an inline comment, kept in the text
    val inline = one("SELECT 1 AS a -- @name: inline\n;")
    assert(inline.name.isEmpty && inline.sql == "SELECT 1 AS a -- @name: inline")
    // mid-statement: it names that statement and leaves its text
    val mid = one("SELECT 1 AS a\n-- @name: mid\nFROM t;")
    assert(mid.name.contains("mid") && mid.sql == "SELECT 1 AS a\nFROM t")
    // an unterminated literal or block comment runs to the end of the
    // file and stays a statement, so its parse error shows with its text
    val open = SqlApp.parse("-- SQL Application: Ann\nSELECT 1 AS a;\nSELECT 'x;\n-- @name: y\nSELECT 2;", lookup)
    assert(open.statements.map(_.sql) == Seq("SELECT 1 AS a", "SELECT 'x;\n-- @name: y\nSELECT 2;"))
    assert(open.statements(1).name.isEmpty)
    assert(intercept[ParseException](VeloSqlParser.parse(open.statements(1).sql))
      .getMessage.contains("unterminated string"))
    val openBlock = one("SELECT 1 AS a /* c; -- @name: z\n")
    assert(openBlock.name.isEmpty && openBlock.sql == "SELECT 1 AS a /* c; -- @name: z")
  }

  /** Poll `ctx`'s exposition text until it holds every line of `expect`
    * (listener events arrive asynchronously), then assert it does. */
  private def awaitLines(ctx: VeloContext, jobs: Seq[String], expect: Set[String]): Unit = {
    jobs.foreach(ctx.jobManager.awaitIdle)
    def missing = expect -- ctx.prometheusText.linesIterator.toSet
    val deadline = System.nanoTime() + 15L * 1000000000L
    while (missing.nonEmpty && System.nanoTime() < deadline) Thread.sleep(100)
    assert(missing.isEmpty, s"missing $missing in:\n${ctx.prometheusText}")
  }

  test("a labeled changelog job and an unlabeled final-row job sharing a metric name both keep their series") {
    import spark.implicits._
    implicit val sq: org.apache.spark.sql.classic.SQLContext =
      spark.sqlContext.asInstanceOf[org.apache.spark.sql.classic.SQLContext]
    val a = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(String, Double)]
    val b = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, Double)]
    val ctx = new VeloContext(spark)
    ctx.register("shared_a", a.toDF().toDF("symbol", "amount"))
    ctx.register("shared_b", b.toDF().toDF("id", "amount"))
    a.addData(Seq(("AAPL", 1.0), ("MSFT", 2.0), ("AAPL", 3.0)))
    b.addData(Seq((1L, 1.0), (2L, 2.0)))
    // both collectors push the name into the one streaming registry
    // slice; pre-fix each replaced it with only its own jobs' series
    SqlApp.run(ctx,
      """-- SQL Application: SharedName
        |-- @metric: shared_total
        |-- @metric_labels: symbol
        |START JOB ajob AS SELECT symbol, amount FROM shared_a EMIT CHANGES;
        |
        |-- @metric: shared_total
        |START JOB bjob AS SELECT id, amount FROM shared_b;
        |""".stripMargin, lookup)
    val jobs = Seq("ajob", "bjob")
    awaitLines(ctx, jobs, Set("""shared_total{job="ajob",symbol="AAPL"} 2""",
      """shared_total{job="ajob",symbol="MSFT"} 1""", """shared_total{job="bjob"} 2"""))
    b.addData(Seq((3L, 3.0)))
    awaitLines(ctx, jobs, Set("""shared_total{job="ajob",symbol="AAPL"} 2""",
      """shared_total{job="ajob",symbol="MSFT"} 1""", """shared_total{job="bjob"} 3"""))
    a.addData(Seq(("MSFT", 4.0)))
    awaitLines(ctx, jobs, Set("""shared_total{job="ajob",symbol="AAPL"} 2""",
      """shared_total{job="ajob",symbol="MSFT"} 2""", """shared_total{job="bjob"} 3"""))
    ctx.sql("STOP JOB ajob")
    ctx.sql("STOP JOB bjob")
  }

  test("streaming histograms: unlabeled through observe() on a final-row job, labeled per label on a changelog job") {
    import spark.implicits._
    implicit val sq: org.apache.spark.sql.classic.SQLContext =
      spark.sqlContext.asInstanceOf[org.apache.spark.sql.classic.SQLContext]
    val fin = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(String, Double)]
    val chg = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(String, Double)]
    val ctx = new VeloContext(spark)
    ctx.register("hist_final", fin.toDF().toDF("symbol", "ms"))
    ctx.register("hist_changes", chg.toDF().toDF("symbol", "ms"))
    fin.addData(Seq(("AAPL", 50.0), ("MSFT", 300.0)))
    chg.addData(Seq(("AAPL", 50.0), ("MSFT", 300.0)))
    SqlApp.run(ctx,
      """-- SQL Application: StreamHist
        |-- @metric: lat_ms
        |-- @metric_type: histogram
        |-- @metric_field: ms
        |-- @metric_buckets: 100, 500
        |START JOB histfinal AS SELECT symbol, ms FROM hist_final;
        |
        |-- @metric: lat_by_symbol_ms
        |-- @metric_type: histogram
        |-- @metric_field: ms
        |-- @metric_labels: symbol
        |-- @metric_buckets: 100, 500
        |START JOB histchanges AS SELECT symbol, ms FROM hist_changes EMIT CHANGES;
        |""".stripMargin, lookup)
    val jobs = Seq("histfinal", "histchanges")
    awaitLines(ctx, jobs, Set(
      """lat_ms_bucket{job="histfinal",le="100"} 1""", """lat_ms_bucket{job="histfinal",le="500"} 2""",
      """lat_ms_bucket{job="histfinal",le="+Inf"} 2""",
      """lat_ms_sum{job="histfinal"} 350""", """lat_ms_count{job="histfinal"} 2""",
      """lat_by_symbol_ms_bucket{job="histchanges",le="100",symbol="AAPL"} 1""",
      """lat_by_symbol_ms_bucket{job="histchanges",le="100",symbol="MSFT"} 0""",
      """lat_by_symbol_ms_bucket{job="histchanges",le="500",symbol="MSFT"} 1""",
      """lat_by_symbol_ms_sum{job="histchanges",symbol="MSFT"} 300""",
      """lat_by_symbol_ms_count{job="histchanges",symbol="AAPL"} 1"""))
    assert(ctx.prometheusText.contains("# TYPE lat_ms histogram"))
    // a second batch adds to every sample of its series
    fin.addData(Seq(("AAPL", 700.0)))
    chg.addData(Seq(("AAPL", 700.0)))
    awaitLines(ctx, jobs, Set(
      """lat_ms_bucket{job="histfinal",le="100"} 1""", """lat_ms_bucket{job="histfinal",le="500"} 2""",
      """lat_ms_bucket{job="histfinal",le="+Inf"} 3""",
      """lat_ms_sum{job="histfinal"} 1050""", """lat_ms_count{job="histfinal"} 3""",
      """lat_by_symbol_ms_bucket{job="histchanges",le="500",symbol="AAPL"} 1""",
      """lat_by_symbol_ms_bucket{job="histchanges",le="+Inf",symbol="AAPL"} 2""",
      """lat_by_symbol_ms_sum{job="histchanges",symbol="AAPL"} 750""",
      """lat_by_symbol_ms_count{job="histchanges",symbol="MSFT"} 1"""))
    ctx.sql("STOP JOB histfinal")
    ctx.sql("STOP JOB histchanges")
  }

  test("a multi-line literal reads the same value through SqlApp.run and executeScript") {
    val ctx = new VeloContext(spark)
    val viaApp = SqlApp.run(ctx, "-- SQL Application: Crlf\r\nSELECT 'a\r\nb' AS s;\r\n", lookup)
      ._2.head.collect().head.getString(0)
    val viaScript = ctx.executeScript("SELECT 'a\r\nb' AS s;\r\n").head.collect().head.getString(0)
    assert(viaApp == "a\r\nb" && viaScript == viaApp, (viaApp, viaScript))
  }
}
