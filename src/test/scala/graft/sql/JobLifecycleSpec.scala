package graft.sql

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession
import VeloSqlParser._

/** The reference's job-lifecycle SQL surface (ast.rs:306-366,
  * src/velostream/server/): START/STOP/PAUSE/RESUME/DEPLOY/ROLLBACK JOB
  * driven end-to-end as SQL text against a live streaming source, plus
  * the SHOW/DESCRIBE discovery surface (ast.rs:471-496).
  */
class JobLifecycleSpec extends AnyFunSuite with SparkTestSession {

  private def memInput(): (MemoryStream[(Long, Double)], VeloContext) = {
    import spark.implicits._
    implicit val sq: org.apache.spark.sql.classic.SQLContext =
      spark.sqlContext.asInstanceOf[org.apache.spark.sql.classic.SQLContext]
    val in = MemoryStream[(Long, Double)]
    val ctx = new VeloContext(spark)
    ctx.register("live_events", in.toDF().toDF("id", "v"))
    (in, ctx)
  }

  test("streaming job: START processes, PAUSE retains state, RESUME continues exactly-once") {
    val (in, ctx) = memInput()
    in.addData(Seq((1L, 1.0), (2L, 2.0)))
    ctx.sql("START JOB doubler AS SELECT id, v * 2 AS v2 FROM live_events")
    ctx.jobManager.awaitIdle("doubler")
    assert(ctx.jobManager.sinkDf("doubler").count() == 2)

    val paused = ctx.sql("PAUSE JOB doubler").collect().head
    assert(paused.getAs[String]("status") == "PAUSED")
    assert(!paused.getAs[Boolean]("is_active"))

    // data arriving while paused…
    in.addData(Seq((3L, 3.0)))

    // …is processed exactly once after RESUME (same checkpoint + sink)
    val resumed = ctx.sql("RESUME JOB doubler").collect().head
    assert(resumed.getAs[String]("status") == "RUNNING")
    ctx.jobManager.awaitIdle("doubler")
    val rows = ctx.jobManager.sinkDf("doubler").collect()
      .map(r => (r.getAs[Long]("id"), r.getAs[Double]("v2"))).sorted
    assert(rows.toSeq == Seq((1L, 2.0), (2L, 4.0), (3L, 6.0)))

    val stopped = ctx.sql("STOP JOB doubler").collect().head
    assert(stopped.getAs[String]("status") == "STOPPED")
    assert(spark.streams.active.forall(_.name != "graft-job-doubler"))
  }

  test("streaming CSAS INTO a declared file sink lands at the DECLARED path (INTO contract)") {
    val (in, ctx) = memInput()
    in.addData(Seq((1L, 10.0), (2L, 20.0)))
    val dir = java.nio.file.Files.createTempDirectory("graft_into").toString
    ctx.sql(s"CREATE SINK live_out WITH (path = 'file://$dir/live.parquet')")
    // the job's continuous writeStream IS the sink write: it must target
    // the declared sink location, not only the job's internal epoch dir
    ctx.sql(
      """START JOB into_job AS CREATE STREAM enriched AS
         SELECT id, v * 2 AS v2 FROM live_events INTO live_out""")
    ctx.jobManager.awaitIdle("into_job")
    try {
      val out = spark.read.parquet(s"$dir/live.parquet")
      assert(out.count() == 2)
      assert(out.columns.sorted.toSeq == Seq("id", "v2"))
      // the job's own output surface reads the same declared location
      assert(ctx.jobManager.sinkDf("into_job").count() == 2)
    } finally ctx.sql("STOP JOB into_job")
  }

  test("DEPLOY with a declared INTO sink: fresh epoch's batches survive stale _spark_metadata") {
    val (in, ctx) = memInput()
    in.addData(Seq((1L, 1.0), (2L, 2.0)))
    val dir = java.nio.file.Files.createTempDirectory("graft_into_epoch").toString
    ctx.sql(s"CREATE SINK epoch_out WITH (path = 'file://$dir/out.parquet')")
    ctx.sql(
      """DEPLOY JOB epochy VERSION '1.0.0' AS CREATE STREAM s1 AS
         SELECT id, v * 2 AS o FROM live_events INTO epoch_out""")
    ctx.jobManager.awaitIdle("epochy")
    assert(spark.read.parquet(s"$dir/out.parquet").collect()
      .map(_.getAs[Double]("o")).sorted.toSeq == Seq(2.0, 4.0))

    // v2 bumps the epoch: its fresh checkpoint restarts batchIds at 0,
    // and the declared dir's v1 _spark_metadata claims those ids already
    // committed — without the epoch-entry reset, FileStreamSink silently
    // drops v2's first batches and readers keep seeing v1 rows mixed in.
    // The declared location must hold exactly v2's re-read output.
    ctx.sql(
      """DEPLOY JOB epochy VERSION '2.0.0' AS CREATE STREAM s2 AS
         SELECT id, v * 10 AS o FROM live_events INTO epoch_out""")
    ctx.jobManager.awaitIdle("epochy")
    assert(spark.read.parquet(s"$dir/out.parquet").collect()
      .map(_.getAs[Double]("o")).sorted.toSeq == Seq(10.0, 20.0))

    // PAUSE/RESUME re-enters the SAME epoch: the declared sink must NOT
    // be reset — the same checkpoint continues offset-exact on top of it
    ctx.sql("PAUSE JOB epochy")
    in.addData(Seq((3L, 3.0)))
    ctx.sql("RESUME JOB epochy")
    ctx.jobManager.awaitIdle("epochy")
    assert(spark.read.parquet(s"$dir/out.parquet").collect()
      .map(_.getAs[Double]("o")).sorted.toSeq == Seq(10.0, 20.0, 30.0))
    ctx.sql("STOP JOB epochy")
  }

  test("ROLLBACK after a FAILED deploy relaunches the last-good version instead of dead-ending") {
    val (in, ctx) = memInput()
    in.addData(Seq((1L, 1.0)))
    ctx.sql("START JOB recov AS SELECT id, v FROM live_events")
    ctx.jobManager.awaitIdle("recov")
    // a deploy whose body passes the (batch-semantics) validator but
    // dies at writeStream.start(): sorting is unsupported on append
    // streams, so the launch itself throws after v1 was already halted
    intercept[Exception](ctx.sql(
      "DEPLOY JOB recov VERSION '2.0.0' AS SELECT id, v FROM live_events ORDER BY id"))
    // old behavior: 'no previous version' (v1 IS current, nothing earlier)
    ctx.sql("ROLLBACK JOB recov")
    val st = ctx.sql("SHOW STATUS recov").collect().head
    assert(st.getAs[String]("status") == "RUNNING")
    assert(st.getAs[String]("version") == "1.0.0")
    ctx.sql("STOP JOB recov")
  }

  test("ROLLBACK after a failed deploy relaunches the LAST-GOOD version, not one two steps back") {
    val (in, ctx) = memInput()
    in.addData(Seq((1L, 1.0)))
    ctx.sql("START JOB skiptest AS SELECT id, v FROM live_events")
    ctx.jobManager.awaitIdle("skiptest")
    ctx.sql("DEPLOY JOB skiptest VERSION '2.0.0' AS SELECT id, v * 2 AS v2 FROM live_events")
    ctx.jobManager.awaitIdle("skiptest")
    // v3 fails at launch — current stays at last-good v2
    intercept[Exception](ctx.sql(
      "DEPLOY JOB skiptest VERSION '3.0.0' AS SELECT id, v FROM live_events ORDER BY id"))
    ctx.sql("ROLLBACK JOB skiptest")
    val st = ctx.sql("SHOW STATUS skiptest").collect().head
    // the old filter(_.seq < cur.seq) skipped v2 and landed on v1
    assert(st.getAs[String]("version") == "2.0.0", st.toString)
    assert(st.getAs[String]("status") == "RUNNING")
    ctx.sql("STOP JOB skiptest")
  }

  test("driver restart: a NEW context over the durable state root resumes exactly-once") {
    import spark.implicits._
    val stateRoot = java.nio.file.Files.createTempDirectory("graft_restart_root").toString
    val srcDir = java.nio.file.Files.createTempDirectory("graft_restart_src").toString
    Seq((1L, 1.0), (2L, 2.0)).toDF("id", "v").write.mode("append").parquet(srcDir)
    val schema = spark.read.parquet(srcDir).schema

    // "server" #1: its own session + context, durable job-state root
    val s1 = spark.newSession()
    s1.conf.set("graft.jobs.stateRoot", stateRoot)
    val ctx1 = new VeloContext(s1)
    ctx1.register("file_events", s1.readStream.schema(schema).parquet(srcDir))
    ctx1.sql("START JOB durable AS SELECT id, v * 2 AS v2 FROM file_events")
    ctx1.jobManager.awaitIdle("durable")
    assert(ctx1.jobManager.sinkDf("durable").count() == 2)
    // crash, not shutdown: kill the query OUT FROM UNDER the manager —
    // no drain, no STOP, the registry never learns the query died
    s1.streams.active.filter(_.name == "graft-job-durable").foreach(_.stop())
    // data arriving while the "server" is down
    Seq((3L, 3.0)).toDF("id", "v").write.mode("append").parquet(srcDir)

    // "server" #2: fresh session, fresh context, SAME state root + body
    val s2 = spark.newSession()
    s2.conf.set("graft.jobs.stateRoot", stateRoot)
    val ctx2 = new VeloContext(s2)
    ctx2.register("file_events", s2.readStream.schema(schema).parquet(srcDir))
    ctx2.sql("START JOB durable AS SELECT id, v * 2 AS v2 FROM file_events")
    ctx2.jobManager.awaitIdle("durable")
    // exactly-once continuity: the recovered checkpoint's offsets skip
    // the already-committed file, the new file processes once — no
    // replayed (1,2) duplicates, no dropped (3)
    val rows = ctx2.jobManager.sinkDf("durable").collect()
      .map(r => (r.getAs[Long]("id"), r.getAs[Double]("v2"))).sorted.toSeq
    assert(rows == Seq((1L, 2.0), (2L, 4.0), (3L, 6.0)), rows.toString)
    ctx2.sql("STOP JOB durable")

    // restart with a DIFFERENT body: the epoch fingerprint mismatches,
    // so the job gets a FRESH epoch (re-reads the source from scratch)
    // instead of resuming the old body's offsets/state
    val s3 = spark.newSession()
    s3.conf.set("graft.jobs.stateRoot", stateRoot)
    val ctx3 = new VeloContext(s3)
    ctx3.register("file_events", s3.readStream.schema(schema).parquet(srcDir))
    ctx3.sql("START JOB durable AS SELECT id, v * 10 AS v10 FROM file_events")
    ctx3.jobManager.awaitIdle("durable")
    val fresh = ctx3.jobManager.sinkDf("durable").collect()
      .map(r => (r.getAs[Long]("id"), r.getAs[Double]("v10"))).sorted.toSeq
    assert(fresh == Seq((1L, 10.0), (2L, 20.0), (3L, 30.0)), fresh.toString)
    ctx3.sql("STOP JOB durable")
  }

  test("a durable root stamped by a pre-canonical build still resumes (legacy fingerprint fallback)") {
    import spark.implicits._
    val stateRoot = java.nio.file.Files.createTempDirectory("graft_legacy_root").toString
    val srcDir = java.nio.file.Files.createTempDirectory("graft_legacy_src").toString
    Seq((1L, 1.0), (2L, 2.0)).toDF("id", "v").write.mode("append").parquet(srcDir)
    val schema = spark.read.parquet(srcDir).schema
    val s1 = spark.newSession()
    s1.conf.set("graft.jobs.stateRoot", stateRoot)
    val ctx1 = new VeloContext(s1)
    ctx1.register("file_events", s1.readStream.schema(schema).parquet(srcDir))
    ctx1.sql("START JOB legacyfp AS SELECT id, v FROM file_events")
    ctx1.jobManager.awaitIdle("legacyfp")
    s1.streams.active.filter(_.name == "graft-job-legacyfp").foreach(_.stop())
    // rewrite the epoch stamps with the LEGACY formula (MD5 of the
    // statement's toString — what builds before the injective
    // canonical() rendering wrote to disk)
    val body = VeloSqlParser.parse("SELECT id, v FROM file_events")
    val legacy = java.security.MessageDigest.getInstance("MD5")
      .digest(body.toString.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val jobRoot = new java.io.File(stateRoot, "legacyfp")
    val stamps = jobRoot.listFiles().filter(_.getName.matches("body-\\d+\\.fp"))
    assert(stamps.nonEmpty, jobRoot.listFiles().map(_.getName).mkString(","))
    stamps.foreach { f =>
      java.nio.file.Files.write(f.toPath, legacy.getBytes("UTF-8"))
      // drop Hadoop's checksum sidecar: the direct overwrite invalidates
      // it, and a stale .crc makes readMeta see a ChecksumException
      // (i.e. no stamp at all) instead of the legacy content
      new java.io.File(jobRoot, s".${f.getName}.crc").delete()
    }
    Seq((3L, 3.0)).toDF("id", "v").write.mode("append").parquet(srcDir)

    val s2 = spark.newSession()
    s2.conf.set("graft.jobs.stateRoot", stateRoot)
    val ctx2 = new VeloContext(s2)
    ctx2.register("file_events", s2.readStream.schema(schema).parquet(srcDir))
    ctx2.sql("START JOB legacyfp AS SELECT id, v FROM file_events")
    ctx2.jobManager.awaitIdle("legacyfp")
    // row equality alone can't distinguish resume from a fresh-epoch
    // re-read — the epoch stamp set can: a false mismatch would bump
    // the epoch and write a NEW body-<n+1>.fp
    val after = jobRoot.listFiles().map(_.getName).filter(_.matches("body-\\d+\\.fp")).sorted
    assert(after.toSeq == stamps.map(_.getName).sorted.toSeq,
      s"legacy stamp was not accepted — epoch bumped: ${after.mkString(",")}")
    val rows = ctx2.jobManager.sinkDf("legacyfp").collect()
      .map(r => (r.getAs[Long]("id"), r.getAs[Double]("v"))).sorted.toSeq
    assert(rows == Seq((1L, 1.0), (2L, 2.0), (3L, 3.0)), rows.toString)
    ctx2.sql("STOP JOB legacyfp")
  }

  test("takeover fencing: the superseded manager stands down instead of restart ping-pong") {
    import spark.implicits._
    val stateRoot = java.nio.file.Files.createTempDirectory("graft_fence_root").toString
    val srcDir = java.nio.file.Files.createTempDirectory("graft_fence_src").toString
    Seq((1L, 1.0)).toDF("id", "v").write.mode("append").parquet(srcDir)
    val schema = spark.read.parquet(srcDir).schema
    def newServer(): (org.apache.spark.sql.SparkSession, VeloContext) = {
      val s = spark.newSession()
      s.conf.set("graft.jobs.stateRoot", stateRoot)
      val c = new VeloContext(s)
      c.register("fence_events", s.readStream.schema(schema).parquet(srcDir))
      (s, c)
    }
    val (_, ctx1) = newServer()
    ctx1.sql("START JOB fencer AS SELECT id, v FROM fence_events")
    ctx1.jobManager.awaitIdle("fencer")
    // manager B takes over the same root + body: its launch stamps the
    // owner file and (same fingerprint) resumes the epoch; Spark's
    // stopActiveRunOnRestart stops A's run on the shared checkpoint
    val (_, ctx2) = newServer()
    ctx2.sql("START JOB fencer AS SELECT id, v FROM fence_events")
    ctx2.jobManager.awaitIdle("fencer")
    // A's supervision must FENCE (stand down), not auto-restart — a
    // restart would stop B's query and the two would ping-pong
    ctx1.jobManager.superviseOnce(autoRestart = true)
    val stA = ctx1.sql("SHOW STATUS fencer").collect().head
    assert(stA.getAs[String]("status") == "STOPPED", stA.toString)
    assert(Option(stA.getAs[String]("error")).exists(_.contains("fenced")), stA.toString)
    // B's query is still the live one
    val stB = ctx2.sql("SHOW STATUS fencer").collect().head
    assert(stB.getAs[String]("status") == "RUNNING")
    ctx2.sql("STOP JOB fencer")
  }

  test("r17 advice: a FAILED launch does not take ownership (owner stamped post-success only)") {
    import spark.implicits._
    val stateRoot = java.nio.file.Files.createTempDirectory("graft_ownfence_root").toString
    val srcDir = java.nio.file.Files.createTempDirectory("graft_ownfence_src").toString
    Seq((1L, 1.0)).toDF("id", "v").write.mode("append").parquet(srcDir)
    val schema = spark.read.parquet(srcDir).schema
    def newServer(): (org.apache.spark.sql.SparkSession, VeloContext) = {
      val s = spark.newSession()
      s.conf.set("graft.jobs.stateRoot", stateRoot)
      val c = new VeloContext(s)
      c.register("own_events", s.readStream.schema(schema).parquet(srcDir))
      (s, c)
    }
    val (s1, ctx1) = newServer()
    ctx1.sql("START JOB ownfence AS SELECT id, v FROM own_events")
    ctx1.jobManager.awaitIdle("ownfence")
    val ownerFile = java.nio.file.Paths.get(stateRoot, "ownfence", "owner")
    assert(java.nio.file.Files.exists(ownerFile), "successful launch must stamp ownership")
    val ownerA = new String(java.nio.file.Files.readAllBytes(ownerFile))
    // manager B recovers the same root and STARTs a DIFFERENT body that
    // dies at writeStream.start() (a streaming ORDER BY).
    // Pre-fix the owner stamp was written BEFORE start(), and
    // revertEpochBump does not restore it — B's doomed launch
    // permanently fenced the live owner A out of auto-restart.
    val (_, ctx2) = newServer()
    intercept[Exception](ctx2.sql(
      "START JOB ownfence AS SELECT id, v FROM own_events ORDER BY v"))
    assert(new String(java.nio.file.Files.readAllBytes(ownerFile)) == ownerA,
      "a FAILED launch overwrote the live manager's ownership stamp")
    // and A really does keep supervision rights: kill its query out
    // from under it — superviseOnce must auto-restart, not stand down
    s1.streams.active.find(_.name == "graft-job-ownfence").foreach(_.stop())
    ctx1.jobManager.superviseOnce(autoRestart = true)
    val stA = ctx1.sql("SHOW STATUS ownfence").collect().head
    assert(stA.getAs[String]("status") == "RUNNING",
      s"live owner was fenced out of auto-restart: $stA")
    ctx1.sql("STOP JOB ownfence")
  }

  test("job names are path segments: separators and '..' are rejected at the gate") {
    val (_, ctx) = memInput()
    for (bad <- Seq("`../evil`", "`a/b`", "`a\\\\b`")) {
      val e = intercept[ParseException](
        ctx.sql(s"START JOB $bad AS SELECT id, v FROM live_events"))
      assert(e.getMessage.contains("path-safe"), s"$bad: ${e.getMessage}")
    }
  }

  test("body fingerprints are injective: delimiter-ambiguous prop maps do not collide (canonical rendering)") {
    // toString renders both of these as `Map(a -> x, b -> y)` — a
    // collision would let a DIFFERENT statement resume a recovered
    // checkpoint on restart
    val m1 = Map("a" -> "x, b -> y")
    val m2 = Map("a" -> "x", "b" -> "y")
    assert(m1.toString == m2.toString, "precondition: toString really is ambiguous here")
    assert(JobManager.canonical(m1) != JobManager.canonical(m2))
    // and stays order-insensitive for maps (iteration order must not
    // flip the fingerprint across JVMs)
    assert(JobManager.canonical(Map("k1" -> "v1", "k2" -> "v2"))
      == JobManager.canonical(Map("k2" -> "v2", "k1" -> "v1")))
  }

  test("ROLLBACK after a RUNTIME death targets the previous version, not the one that died") {
    val (in, ctx) = memInput()
    in.addData(Seq((1L, 1.0)))
    ctx.sql("DEPLOY JOB rundeath VERSION '1.0.0' AS SELECT id, v FROM live_events")
    ctx.jobManager.awaitIdle("rundeath")
    // v2 LAUNCHES fine (the poison row arrives later), then dies at
    // runtime — the opposite failure mode of the failed-deploy tests
    // above: here `current` IS the doomed version
    ctx.sql(
      "DEPLOY JOB rundeath VERSION '2.0.0' AS SELECT id, assert_true(v < 5.0) AS chk FROM live_events")
    ctx.jobManager.awaitIdle("rundeath")
    in.addData(Seq((2L, 99.0)))
    val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
    while (spark.streams.active.exists(_.name == "graft-job-rundeath")
      && System.nanoTime() < deadline) Thread.sleep(50)
    assert(!spark.streams.active.exists(_.name == "graft-job-rundeath"),
      "v2 should have died on the poison row")
    ctx.jobManager.superviseOnce(autoRestart = false) // records the death: FAILED
    // keying the bare-ROLLBACK fast-path on status == "FAILED" would
    // relaunch the just-died v2; the launchFailed flag distinguishes
    // launch failures (current = last-good) from runtime deaths
    ctx.sql("ROLLBACK JOB rundeath")
    val st = ctx.sql("SHOW STATUS rundeath").collect().head
    assert(st.getAs[String]("version") == "1.0.0", st.toString)
    assert(st.getAs[String]("status") == "RUNNING")
    ctx.sql("STOP JOB rundeath")
  }

  test("a failed REDEPLOY of an existing version does not shadow the last-good body") {
    val (in, ctx) = memInput()
    in.addData(Seq((1L, 1.0)))
    ctx.sql("DEPLOY JOB shadow VERSION '1.0.0' AS SELECT id, v FROM live_events")
    ctx.jobManager.awaitIdle("shadow")
    ctx.sql("DEPLOY JOB shadow VERSION '2.0.0' AS SELECT id, v * 2 AS v2 FROM live_events")
    ctx.jobManager.awaitIdle("shadow")
    // redeploy of the SAME version string with a doomed body: the old
    // record() evicted the good 2.0.0 entry BEFORE the launch failed,
    // leaving ROLLBACK TO '2.0.0' pointing at the doomed body forever
    intercept[Exception](ctx.sql(
      "DEPLOY JOB shadow VERSION '2.0.0' AS SELECT id, v FROM live_events ORDER BY id"))
    ctx.sql("ROLLBACK JOB shadow VERSION '2.0.0'")
    val st = ctx.sql("SHOW STATUS shadow").collect().head
    assert(st.getAs[String]("status") == "RUNNING", st.toString)
    assert(st.getAs[String]("version") == "2.0.0")
    // the GOOD 2.0.0 body (v*2) is the one running
    in.addData(Seq((2L, 5.0)))
    ctx.jobManager.awaitIdle("shadow")
    val out = ctx.jobManager.sinkDf("shadow")
    assert(out.columns.contains("v2"))
    ctx.sql("STOP JOB shadow")
  }

  test("a rejected START leaves no phantom job in the registry") {
    val (_, ctx) = memInput()
    intercept[Exception](ctx.sql("START JOB ghost AS SELECT nope FROM live_events"))
    // the old ordering registered the Job (temp dir included) before the
    // gate threw: SHOW JOBS listed it and hasJob suppressed the
    // validator's unknown-job warnings
    assert(!ctx.jobManager.hasJob("ghost"))
    assert(!ctx.sql("SHOW JOBS").collect().exists(_.getAs[String]("job_name") == "ghost"))
  }

  test("a rejected DEPLOY of a new job name leaves no phantom job in the registry") {
    val (_, ctx) = memInput()
    // the malformed limit rejects the statement; DEPLOY used to register
    // the Job before its limit parse and admission gate ran
    intercept[Exception](ctx.sql("DEPLOY JOB ghost2 VERSION '1' AS SELECT id, v FROM live_events " +
      "WITH ('max_total_memory' = 'lots')"))
    assert(!ctx.jobManager.hasJob("ghost2"))
    assert(!ctx.sql("SHOW JOBS").collect().exists(_.getAs[String]("job_name") == "ghost2"))
  }

  test("DEPLOY new version switches the pipeline; ROLLBACK returns to the previous one") {
    val (in, ctx) = memInput()
    in.addData(Seq((1L, 1.0), (2L, 2.0)))
    ctx.sql("DEPLOY JOB scaler VERSION '1.0.0' AS SELECT id, v * 2 AS sv FROM live_events")
    ctx.jobManager.awaitIdle("scaler")
    assert(ctx.jobManager.sinkDf("scaler").collect().map(_.getAs[Double]("sv")).sorted.toSeq
      == Seq(2.0, 4.0))

    // v2 deploys into a FRESH sink/checkpoint epoch → reprocesses from
    // offset 0 with the new logic (blue-green: old sink untouched)
    ctx.sql("DEPLOY JOB scaler VERSION '2.0.0' AS SELECT id, v * 3 AS sv FROM live_events STRATEGY BLUE_GREEN")
    ctx.jobManager.awaitIdle("scaler")
    assert(ctx.jobManager.sinkDf("scaler").collect().map(_.getAs[Double]("sv")).sorted.toSeq
      == Seq(3.0, 6.0))

    val versions = ctx.sql("SHOW VERSIONS scaler").collect()
      .map(r => (r.getAs[String]("version"), r.getAs[Boolean]("is_current"))).toMap
    assert(versions == Map("1.0.0" -> false, "2.0.0" -> true))

    ctx.sql("ROLLBACK JOB scaler")
    ctx.jobManager.awaitIdle("scaler")
    val st = ctx.sql("SHOW STATUS scaler").collect().head
    assert(st.getAs[String]("version") == "1.0.0")
    assert(st.getAs[String]("status") == "RUNNING")
    assert(ctx.jobManager.sinkDf("scaler").collect().map(_.getAs[Double]("sv")).sorted.toSeq
      == Seq(2.0, 4.0))
    ctx.sql("STOP JOB scaler FORCE")
  }

  test("batch job body materializes a standing view; SHOW JOBS/METRICS report it") {
    import spark.implicits._
    val ctx = new VeloContext(spark)
    ctx.register("orders_t", Seq((1L, 10.0), (2L, 250.0), (3L, 300.0)).toDF("id", "amount"))
    ctx.sql("START JOB bigspend AS SELECT id, amount FROM orders_t WHERE amount > 100")
    assert(spark.table("bigspend_out").count() == 2)

    val jobs = ctx.sql("SHOW JOBS").collect().map(r =>
      (r.getAs[String]("job_name"), r.getAs[String]("status"))).toMap
    assert(jobs("bigspend") == "RUNNING")

    val m = ctx.sql("SHOW METRICS bigspend").collect().head
    assert(m.getAs[Long]("sink_rows") == 2L)

    // a second START while running must be rejected
    intercept[ParseException] {
      ctx.sql("START JOB bigspend AS SELECT id FROM orders_t")
    }
    ctx.sql("STOP JOB bigspend")
  }

  test("two jobs run concurrently over the same source (multi-job server model)") {
    val (in, ctx) = memInput()
    in.addData(Seq((1L, 1.0), (2L, 4.0), (3L, 9.0)))
    ctx.sql("START JOB doubles AS SELECT id, v * 2 AS o FROM live_events")
    ctx.sql("START JOB bigs AS SELECT id, v AS o FROM live_events WHERE v > 3")
    ctx.jobManager.awaitIdle("doubles")
    ctx.jobManager.awaitIdle("bigs")
    assert(ctx.jobManager.sinkDf("doubles").count() == 3)
    assert(ctx.jobManager.sinkDf("bigs").count() == 2)
    val statuses = ctx.sql("SHOW JOBS").collect()
      .map(r => r.getAs[String]("job_name") -> r.getAs[String]("status")).toMap
    assert(statuses == Map("doubles" -> "RUNNING", "bigs" -> "RUNNING"))
    // stopping one leaves the other live
    ctx.sql("STOP JOB doubles")
    in.addData(Seq((4L, 16.0)))
    ctx.jobManager.awaitIdle("bigs")
    assert(ctx.jobManager.sinkDf("bigs").count() == 3)
    assert(ctx.jobManager.sinkDf("doubles").count() == 3) // stopped — unchanged
    ctx.sql("STOP JOB bigs")
  }

  test("a deployable SQL application script drives declarations, jobs, and discovery") {
    val (in, ctx) = memInput()
    in.addData(Seq((1L, 5.0), (2L, 50.0)))
    // the reference's .sql app shape: declarations + jobs in one script
    val results = ctx.executeScript(
      """-- raw sink declaration (config the deployment layer resolves)
        CREATE SINK alerts_topic WITH ('topic' = 'alerts', 'format' = 'json');

        -- standing transformation
        CREATE STREAM spikes AS SELECT id, v FROM live_events WHERE v > 10;

        -- named job over the derived stream
        START JOB spike_monitor AS SELECT id, v * 100 AS pct FROM spikes;

        SHOW JOBS""")
    assert(results.length == 4)
    ctx.jobManager.awaitIdle("spike_monitor")
    val sink = ctx.jobManager.sinkDf("spike_monitor").collect()
    assert(sink.map(_.getAs[Double]("pct")).toSeq == Seq(5000.0))
    val shown = results.last.collect().map(_.getAs[String]("job_name")).toSeq
    assert(shown == Seq("spike_monitor"))
    ctx.sql("STOP JOB spike_monitor")
  }

  test("START after STOP with a DIFFERENT body gets a fresh checkpoint/sink epoch (no mixing)") {
    val (in, ctx) = memInput()
    in.addData(Seq((1L, 1.0), (2L, 2.0)))
    ctx.sql("START JOB evolving AS SELECT id, v * 2 AS o FROM live_events")
    ctx.jobManager.awaitIdle("evolving")
    assert(ctx.jobManager.sinkDf("evolving").collect().map(_.getAs[Double]("o")).sorted.toSeq
      == Seq(2.0, 4.0))
    ctx.sql("STOP JOB evolving")

    // new body → must NOT resume the old query's checkpoint or append to
    // its sink: the fresh epoch reprocesses from offset 0 with v*10 only
    ctx.sql("START JOB evolving AS SELECT id, v * 10 AS o FROM live_events")
    ctx.jobManager.awaitIdle("evolving")
    assert(ctx.jobManager.sinkDf("evolving").collect().map(_.getAs[Double]("o")).sorted.toSeq
      == Seq(10.0, 20.0))
    ctx.sql("STOP JOB evolving")

    // same body restarted → SAME epoch (offset-exact continuation, no rework)
    in.addData(Seq((3L, 3.0)))
    ctx.sql("START JOB evolving AS SELECT id, v * 10 AS o FROM live_events")
    ctx.jobManager.awaitIdle("evolving")
    assert(ctx.jobManager.sinkDf("evolving").collect().map(_.getAs[Double]("o")).sorted.toSeq
      == Seq(10.0, 20.0, 30.0))
    ctx.sql("STOP JOB evolving")
  }

  test("EMIT CHANGES inside a CTE job body takes the changelog path (not the append sink)") {
    val (in, ctx) = memInput()
    in.addData(Seq((1L, 1.0), (1L, 2.0)))
    // an unrecursed emitOf would route this to the Append file sink and
    // die at start (unwatermarked streaming aggregate in append mode)
    ctx.sql(
      """START JOB cte_changes AS WITH src AS (SELECT id, v FROM live_events)
         SELECT id, COUNT(*) AS n FROM src GROUP BY id EMIT CHANGES""")
    ctx.jobManager.awaitIdle("cte_changes")
    val out = ctx.jobManager.sinkDf("cte_changes")
    // the changelog sink tags each trigger's updates with _batch_id
    assert(out.columns.contains("_batch_id"))
    assert(out.where(col("id") === 1L).orderBy(col("_batch_id").desc)
      .select("n").collect().head.getLong(0) == 2L)
    ctx.sql("STOP JOB cte_changes FORCE")
  }

  test("batch relaunch hygiene: streaming relaunch drops the stale view; batch jobs don't hold admission slots") {
    val (in, ctx) = memInput()
    in.addData(Seq((7L, 7.0)))
    // batch body first: materializes batch_then_stream_out
    ctx.register("batch_src", spark.range(3).toDF("id"))
    ctx.sql("START JOB batch_then_stream AS SELECT id FROM batch_src")
    assert(spark.catalog.tableExists("batch_then_stream_out"))
    ctx.sql("STOP JOB batch_then_stream")
    // relaunch STREAMING under the same name: the stale _out view (and
    // its pinned cache) must go — scrapes would otherwise read
    // pre-deploy data forever
    ctx.sql("START JOB batch_then_stream AS SELECT id, v FROM live_events")
    assert(!spark.catalog.tableExists("batch_then_stream_out"))
    ctx.sql("STOP JOB batch_then_stream FORCE")
    // admission: completed batch materializations must not consume
    // concurrent_operations slots forever
    ctx.sql("START JOB batch_a AS SELECT id FROM batch_src")
    val started = ctx.sql(
      """START JOB gated_stream AS SELECT id, v FROM live_events
         WITH ('max_concurrent_operations' = '1')""").collect().head
    assert(started.getAs[String]("status") == "RUNNING",
      "a finished batch job blocked a streaming admission")
    ctx.sql("STOP JOB gated_stream FORCE")
    ctx.sql("STOP JOB batch_a")
  }

  test("a query that dies with an error surfaces it in SHOW STATUS instead of a clean STOPPED") {
    val (in, ctx) = memInput()
    in.addData(Seq((1L, 1.0)))
    // assert_true raises once v >= 5 arrives → the streaming query fails
    ctx.sql("START JOB fragile AS SELECT id, assert_true(v < 5.0) AS chk FROM live_events")
    ctx.jobManager.awaitIdle("fragile")
    in.addData(Seq((2L, 99.0)))
    ctx.sql("STOP JOB fragile")
    val st = ctx.sql("SHOW STATUS fragile").collect().head
    assert(st.getAs[String]("status") == "STOPPED")
    assert(st.getAs[String]("error").nonEmpty) // the failure is not swallowed
  }

  test("a bad DEPLOY is rejected by the analyzer gate and the running version survives") {
    val (in, ctx) = memInput()
    in.addData(Seq((1L, 1.0)))
    ctx.sql("DEPLOY JOB guarded VERSION '1.0.0' AS SELECT id, v FROM live_events")
    ctx.jobManager.awaitIdle("guarded")
    // bogus column → rejected BEFORE the running v1 is stopped
    val e = intercept[ParseException] {
      ctx.sql("DEPLOY JOB guarded VERSION '2.0.0' AS SELECT nonexistent_col FROM live_events")
    }
    assert(e.getMessage.contains("rejected"))
    val st = ctx.sql("SHOW STATUS guarded").collect().head
    assert(st.getAs[String]("version") == "1.0.0")
    assert(st.getAs[String]("status") == "RUNNING" && st.getAs[Boolean]("is_active"))
    ctx.sql("STOP JOB guarded")
  }

  test("lifecycle statement grammar parses the reference surface") {
    def p(s: String): VeloStatement = VeloSqlParser.parse(s)
    assert(p("START JOB order_monitor AS SELECT * FROM orders WHERE amount > 100")
      .isInstanceOf[StartJob])
    // reference synonym + props
    p("start query test as select * from orders") match {
      case StartJob(n, _, _) => assert(n == "test")
      case other => fail(s"$other")
    }
    p("START JOB m AS SELECT * FROM orders WITH ('buffer.size' = '1000', 'timeout' = '30s')") match {
      case StartJob(_, _, props) =>
        assert(props == Map("buffer.size" -> "1000", "timeout" -> "30s"))
      case other => fail(s"$other")
    }
    assert(p("STOP JOB m FORCE") == StopJob("m", force = true))
    assert(p("STOP JOB m") == StopJob("m", force = false))
    assert(p("PAUSE JOB m") == PauseJob("m"))
    assert(p("RESUME JOB m") == ResumeJob("m"))
    p("DEPLOY JOB analytics VERSION '2.1.0' AS SELECT * FROM orders STRATEGY CANARY(25)") match {
      case DeployJob("analytics", "2.1.0", _, _, Canary(25)) =>
      case other => fail(s"$other")
    }
    p("DEPLOY JOB p VERSION '1.5.2' AS SELECT * FROM orders WHERE x = 'v' STRATEGY ROLLING") match {
      case DeployJob(_, _, Select(s), _, Rolling) => assert(s.where.nonEmpty)
      case other => fail(s"$other")
    }
    p("DEPLOY JOB q VERSION '1.0.1' AS SELECT * FROM alerts STRATEGY REPLACE") match {
      case DeployJob(_, _, _, _, Replace) =>
      case other => fail(s"$other")
    }
    // default strategy is BLUE_GREEN, default version 1.0.0
    p("DEPLOY JOB test AS SELECT * FROM orders") match {
      case DeployJob("test", "1.0.0", _, _, BlueGreen) =>
      case other => fail(s"$other")
    }
    assert(p("ROLLBACK JOB analytics VERSION '1.5.0'") == RollbackJob("analytics", Some("1.5.0")))
    assert(p("ROLLBACK JOB analytics") == RollbackJob("analytics", None))
    // SHOW JOB STATUS alias and the bare reference forms
    assert(p("SHOW JOB STATUS analytics") == Show("STATUS", Some("analytics")))
    assert(p("SHOW STATUS") == Show("STATUS", None))
    assert(p("SHOW METRICS analytics") == Show("METRICS", Some("analytics")))
    assert(p("SHOW VERSIONS order_monitor") == Show("VERSIONS", Some("order_monitor")))
    assert(p("SHOW STREAMS LIKE 'order%'") == Show("STREAMS", Some("order%")))
    assert(p("SHOW TABLES LIKE 'user_*'") == Show("TABLES", Some("user_*")))
    assert(p("SHOW TOPICS") == Show("TOPICS", None))
    assert(p("SHOW FUNCTIONS") == Show("FUNCTIONS", None))
    assert(p("SHOW SCHEMA orders") == Show("SCHEMA", Some("orders")))
    assert(p("SHOW PROPERTIES STREAM orders") == Show("PROPERTIES", Some("orders")))
    assert(p("SHOW PARTITIONS orders") == Show("PARTITIONS", Some("orders")))
    assert(p("LIST STREAMS") == Show("STREAMS", None))
    assert(p("DESCRIBE orders") == Describe("orders"))
    intercept[ParseException](p("STOP JOB"))
    intercept[ParseException](p("START JOB AS SELECT * FROM orders"))
    intercept[ParseException](p("SHOW INVALID"))
  }

  test("SHOW SCHEMA / DESCRIBE / SHOW PARTITIONS / TOPICS / PROPERTIES resolve") {
    import spark.implicits._
    val ctx = new VeloContext(spark)
    ctx.registerStreamLike("ev", Seq((1L, "a", 1.5), (2L, "b", 2.5), (9L, "c", 0.5))
      .toDF("eid", "etype", "val")
      .withColumn("ts", timestamp_seconds(col("eid"))), "ts", "eid", partitions = 4)
    val schema = ctx.sql("SHOW SCHEMA ev").collect()
      .map(r => r.getAs[String]("column_name") -> r.getAs[String]("data_type")).toMap
    assert(schema("eid") == "bigint" && schema("_headers") == "map<string,string>")
    assert(ctx.sql("DESCRIBE ev").collect().length == schema.size)

    val parts = ctx.sql("SHOW PARTITIONS ev").collect()
    assert(parts.map(_.getAs[Long]("n_records")).sum == 3L)

    ctx.sql("CREATE STREAM raw_orders WITH ('topic' = 'orders-topic', 'format' = 'json')")
    val topics = ctx.sql("SHOW TOPICS").collect()
      .map(r => (r.getAs[String]("topic"), r.getAs[String]("kind"))).toMap
    assert(topics == Map("raw_orders" -> "STREAM"))
    val props = ctx.sql("SHOW PROPERTIES STREAM raw_orders").collect()
      .map(r => r.getAs[String]("key") -> r.getAs[String]("value")).toMap
    assert(props == Map("topic" -> "orders-topic", "format" -> "json"))

    val fns = ctx.sql("SHOW FUNCTIONS LIKE 'minhash%'").collect().map(_.getAs[String]("function"))
    assert(fns.contains("minhash_sig")) // the engine's own kernels are registered

    val likeT = ctx.sql("SHOW TABLES LIKE 'ev'").collect().map(_.getAs[String]("name"))
    assert(likeT.toSeq == Seq("ev"))
  }

  test("SELECT DISTINCT parses and deduplicates through the dialect") {
    import spark.implicits._
    val ctx = new VeloContext(spark)
    ctx.register("dup_t", Seq(("a", 1), ("a", 1), ("b", 2), ("b", 3)).toDF("k", "n"))
    VeloSqlParser.parse("SELECT DISTINCT k FROM dup_t") match {
      case Select(s) => assert(s.distinct)
      case other => fail(s"$other")
    }
    assert(ctx.sql("SELECT DISTINCT k FROM dup_t").collect().map(_.getString(0)).sorted.toSeq
      == Seq("a", "b"))
    assert(ctx.sql("SELECT DISTINCT k, n FROM dup_t").count() == 3)
    // DISTINCT composes with the dialect's windowed GROUP BY machinery
    assert(ctx.explainSql("SELECT DISTINCT k FROM dup_t").startsWith("SELECT DISTINCT"))
  }

  test("a FAILED start with a new body does not abandon the old body's checkpoint (r14 review)") {
    val (in, ctx) = memInput()
    in.addData(Seq((1L, 1.0), (2L, 2.0)))
    ctx.sql("START JOB resilient AS SELECT id, v * 2 AS o FROM live_events")
    ctx.jobManager.awaitIdle("resilient")
    assert(ctx.jobManager.sinkDf("resilient").collect().map(_.getAs[Double]("o")).sorted.toSeq
      == Seq(2.0, 4.0))
    ctx.sql("STOP JOB resilient")

    // a DIFFERENT body that fails AT LAUNCH: before the r14 fix the
    // epoch had already bumped, so the next start of the ORIGINAL body
    // ran on the failed epoch's empty checkpoint and re-read the source
    // from scratch. The body must pass the VALIDATOR gate (which runs
    // before any state change — an unresolved column never reaches the
    // bump) and die in launch itself: an INTO sink whose path cannot be
    // created does exactly that (ParentNotDirectoryException from
    // writeStream.start)
    ctx.sql("CREATE SINK start_bad_sink WITH (path = 'file:///dev/null/nope.parquet')")
    intercept[Exception](ctx.sql(
      "START JOB resilient AS SELECT id, v * 3 AS o FROM live_events INTO start_bad_sink"))

    // the ORIGINAL body resumes its intact epoch offset-exact: only the
    // NEW record is reprocessed, pre-failure sink rows survive
    in.addData(Seq((3L, 3.0)))
    ctx.sql("START JOB resilient AS SELECT id, v * 2 AS o FROM live_events")
    ctx.jobManager.awaitIdle("resilient")
    assert(ctx.jobManager.sinkDf("resilient").collect().map(_.getAs[Double]("o")).sorted.toSeq
      == Seq(2.0, 4.0, 6.0),
      "the original body must continue its own epoch, not reprocess from scratch on a fresh one")
    ctx.sql("STOP JOB resilient")
  }

  /** Epoch directories under a durable job root — the DIRECT witness of
    * a reverted (or leaked) speculative epoch bump; the sink VALUES
    * alone cannot discriminate (an abandoned-checkpoint re-read of a
    * deterministic body reproduces the same output in the new epoch's
    * sink). */
  private def ckptEpochs(stateRoot: String, job: String): Seq[String] =
    Option(new java.io.File(stateRoot, job).list()).toSeq.flatten
      .filter(_.startsWith("ckpt-")).sorted

  test("a FAILED deploy does not abandon the old body's checkpoint (r14 review follow-up)") {
    import spark.implicits._
    val s = spark.newSession()
    val stateRoot = java.nio.file.Files.createTempDirectory("graft_depfail_root").toString
    s.conf.set("graft.jobs.stateRoot", stateRoot)
    implicit val sq: org.apache.spark.sql.classic.SQLContext =
      s.sqlContext.asInstanceOf[org.apache.spark.sql.classic.SQLContext]
    val in = MemoryStream[(Long, Double)]
    val ctx = new VeloContext(s)
    ctx.register("live_events", in.toDF().toDF("id", "v"))
    in.addData(Seq((1L, 1.0), (2L, 2.0)))
    ctx.sql("DEPLOY JOB dep_res VERSION '1.0.0' AS SELECT id, v * 2 AS o FROM live_events")
    ctx.jobManager.awaitIdle("dep_res")
    assert(ctx.jobManager.sinkDf("dep_res").collect().map(_.getAs[Double]("o")).sorted.toSeq
      == Seq(2.0, 4.0))
    val epochsBefore = ckptEpochs(stateRoot, "dep_res")

    // DEPLOY of a body that fails AT LAUNCH (gate-passing — the
    // validator runs before any state change, so a gate rejection never
    // reaches the bump: an uncreatable INTO sink path dies in
    // writeStream.start itself): start() got the speculative-bump
    // revert in r14, but deploy() still bumped eagerly — the last-good
    // body's intact checkpoint was abandoned and its next START re-read
    // the source from scratch
    ctx.sql("CREATE SINK dep_bad_sink WITH (path = 'file:///dev/null/nope.parquet')")
    intercept[Exception](ctx.sql(
      "DEPLOY JOB dep_res VERSION '2.0.0' AS SELECT id, v * 3 AS o FROM live_events INTO dep_bad_sink"))

    // the last-good body (current is unchanged on a failed launch)
    // resumes ITS OWN epoch offset-exact: only the new record processes,
    // and NO new epoch directory appears — pre-fix, the recovery START
    // ran on the failed bump's fresh ckpt and re-read from scratch
    in.addData(Seq((3L, 3.0)))
    ctx.sql("START JOB dep_res AS SELECT id, v * 2 AS o FROM live_events")
    ctx.jobManager.awaitIdle("dep_res")
    assert(ctx.jobManager.sinkDf("dep_res").collect().map(_.getAs[Double]("o")).sorted.toSeq
      == Seq(2.0, 4.0, 6.0))
    assert(ckptEpochs(stateRoot, "dep_res") == epochsBefore,
      "a failed DEPLOY must revert its epoch bump — the recovery START opened a fresh epoch")
    ctx.sql("STOP JOB dep_res")
  }

  test("a FAILED rollback target does not strand the job on an empty epoch (r14 review follow-up)") {
    import spark.implicits._
    val s = spark.newSession()
    val stateRoot = java.nio.file.Files.createTempDirectory("graft_rbfail_root").toString
    s.conf.set("graft.jobs.stateRoot", stateRoot)
    implicit val sq: org.apache.spark.sql.classic.SQLContext =
      s.sqlContext.asInstanceOf[org.apache.spark.sql.classic.SQLContext]
    val in = MemoryStream[(Long, Double)]
    val in2 = MemoryStream[(Long, Double)]
    val ctx = new VeloContext(s)
    ctx.register("live_events", in.toDF().toDF("id", "v"))
    // v1 reads a SECOND view whose schema will change out from under it
    ctx.register("rb_extra", in2.toDF().toDF("id", "x"))
    in2.addData(Seq((1L, 10.0)))
    ctx.sql("DEPLOY JOB rb_res VERSION '1.0.0' AS SELECT id, x FROM rb_extra")
    ctx.jobManager.awaitIdle("rb_res")
    in.addData(Seq((1L, 1.0), (2L, 2.0)))
    ctx.sql("DEPLOY JOB rb_res VERSION '2.0.0' AS SELECT id, v * 2 AS o FROM live_events")
    ctx.jobManager.awaitIdle("rb_res")
    assert(ctx.jobManager.sinkDf("rb_res").collect().map(_.getAs[Double]("o")).sorted.toSeq
      == Seq(2.0, 4.0))
    ctx.sql("STOP JOB rb_res")
    val epochsBefore = ckptEpochs(stateRoot, "rb_res")

    // v1's source view loses the column it selects — the rollback
    // target now fails at launch (ROLLBACK has no validator gate, so
    // this exercises guardedLaunch directly); the unconditional
    // rollback epoch bump must revert so v2's checkpoint is not
    // abandoned
    ctx.register("rb_extra", in2.toDF().toDF("id", "renamed"))
    intercept[Exception](ctx.sql("ROLLBACK JOB rb_res"))

    in.addData(Seq((3L, 3.0)))
    ctx.sql("START JOB rb_res AS SELECT id, v * 2 AS o FROM live_events")
    ctx.jobManager.awaitIdle("rb_res")
    assert(ctx.jobManager.sinkDf("rb_res").collect().map(_.getAs[Double]("o")).sorted.toSeq
      == Seq(2.0, 4.0, 6.0))
    assert(ckptEpochs(stateRoot, "rb_res") == epochsBefore,
      "a failed ROLLBACK must revert its epoch bump — v2's checkpoint was abandoned")
    ctx.sql("STOP JOB rb_res")
  }

  test("r16 review: a FAILED deploy cannot destroy the declared sink's last-good output") {
    val (in, ctx) = memInput()
    in.addData(Seq((1L, 10.0), (2L, 20.0)))
    val dir = java.nio.file.Files.createTempDirectory("graft_stash").toString
    ctx.sql(s"CREATE SINK stash_out WITH (path = 'file://$dir/out.parquet')")
    ctx.sql("START JOB stash_job AS SELECT id, v FROM live_events INTO stash_out")
    ctx.jobManager.awaitIdle("stash_job")
    assert(spark.read.parquet(s"$dir/out.parquet").count() == 2)
    ctx.sql("STOP JOB stash_job")
    // DEPLOY of a body that analyzes but dies at writeStream.start()
    // (a streaming ORDER BY) — AFTER the
    // declared dir was reset for the new epoch: the delete-form reset
    // destroyed the last-good epoch's committed output and the epoch
    // revert could not bring it back; the stash form restores it
    intercept[Exception](ctx.sql(
      "DEPLOY JOB stash_job VERSION '2.0.0' AS " +
        "SELECT id, v FROM live_events ORDER BY v INTO stash_out"))
    val back = spark.read.parquet(s"$dir/out.parquet")
    assert(back.count() == 2, "failed DEPLOY destroyed the declared sink's output")
    // the revert also cleans its hidden trash dir back out
    val leftover = new java.io.File(s"$dir/out.parquet").listFiles()
      .map(_.getName).filter(_.startsWith(".graft-trash"))
    assert(leftover.isEmpty, leftover.mkString(","))
    // the last-good body relaunches over its restored sink
    in.addData(Seq((3L, 30.0)))
    ctx.sql("START JOB stash_job AS SELECT id, v FROM live_events INTO stash_out")
    ctx.jobManager.awaitIdle("stash_job")
    assert(ctx.jobManager.sinkDf("stash_job").count() == 3)
    ctx.sql("STOP JOB stash_job")
  }

  test("r17 advice: a FAILED first START does not eat the declared sink's pre-existing files") {
    import spark.implicits._
    val (in, ctx) = memInput()
    val dir = java.nio.file.Files.createTempDirectory("graft_stash_first").toString
    // pre-existing user data at the declared location (single-column
    // schema distinct from the job's output, so replacement is visible)
    Seq(("keep-a"), ("keep-b")).toDF("legacy").write.parquet(s"$dir/out.parquet")
    ctx.sql(s"CREATE SINK first_out WITH (path = 'file://$dir/out.parquet')")
    // brand-new job, first START: no epoch bump happens, yet the launch
    // RESETS the declared dir — the body dies at writeStream.start()
    // (a streaming ORDER BY). Pre-fix the failure path only
    // ran revertEpochBump when bumped, so the stash was never restored
    // and the next successful launch's dropSinkTrash deleted it.
    intercept[Exception](ctx.sql(
      "START JOB firststash AS SELECT id, v FROM live_events ORDER BY v INTO first_out"))
    val restored = spark.read.parquet(s"$dir/out.parquet")
    assert(restored.columns.toSeq == Seq("legacy") && restored.count() == 2,
      "failed first START lost the pre-existing sink data")
    val leftover = new java.io.File(s"$dir/out.parquet").listFiles()
      .map(_.getName).filter(_.startsWith(".graft-trash"))
    assert(leftover.isEmpty, leftover.mkString(","))
    // the retry must RESET the dir again (the failed attempt's sink
    // stamp was reverted — a stale stamp would skip the stash and start
    // the FileStreamSink over foreign files + no metadata)
    in.addData(Seq((1L, 1.0)))
    ctx.sql("START JOB firststash AS SELECT id, v FROM live_events INTO first_out")
    ctx.jobManager.awaitIdle("firststash")
    val out = spark.read.parquet(s"$dir/out.parquet")
    assert(out.columns.toSeq == Seq("id", "v") && out.count() == 1,
      s"retry did not reset the declared dir: ${out.columns.toSeq}")
    ctx.sql("STOP JOB firststash")
  }

  test("r16 review: EMIT CHANGES on an earlier UNION branch takes the changelog path") {
    val (in, ctx) = memInput()
    in.addData(Seq((1L, 1.0)))
    // the parser attaches the trailing EMIT to the branch it just read
    // — a last-branch-only emitOf silently fell to the append arm,
    // losing the Update/changelog (_batch_id-partitioned) semantics
    ctx.sql("START JOB uemit AS SELECT id, v FROM live_events EMIT CHANGES " +
      "UNION ALL SELECT id, v FROM live_events")
    ctx.jobManager.awaitIdle("uemit")
    try {
      val out = ctx.jobManager.sinkDf("uemit")
      assert(out.columns.contains("_batch_id"),
        s"changelog arm not taken: ${out.columns.toSeq}")
      // conflicting branch modes reject like asInsertBody's hoist does
      val e = intercept[Exception](ctx.sql(
        "START JOB uemit2 AS SELECT id, v FROM live_events EMIT CHANGES " +
          "UNION ALL SELECT id, v FROM live_events EMIT FINAL"))
      assert(e.getMessage.contains("conflicting EMIT"), e.getMessage)
    } finally ctx.sql("STOP JOB uemit")
  }

  test("r16 review: STOP of a batch job releases its cached materialization") {
    import spark.implicits._
    val ctx = new VeloContext(spark)
    ctx.register("bstop_src", Seq((1L, 1.0), (2L, 2.0)).toDF("id", "v"))
    val before = spark.sparkContext.getPersistentRDDs.keySet
    ctx.sql("START JOB bstop AS SELECT id, v * 2 AS o FROM bstop_src")
    val pinned = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(pinned.nonEmpty, "batch launch should cache its materialization")
    ctx.sql("STOP JOB bstop")
    // only a relaunch ever released the cache before; STOP must too
    // (unpersist is async — poll briefly)
    val deadline = System.nanoTime() + 10_000_000_000L
    def leaked = spark.sparkContext.getPersistentRDDs.keySet.intersect(pinned)
    while (leaked.nonEmpty && System.nanoTime() < deadline) Thread.sleep(50)
    assert(leaked.isEmpty, s"STOPPED batch job still pins cache: $leaked")
  }

  test("r17 review: a sink declared between PAUSE and RESUME does not bind mid-epoch") {
    val (in, ctx) = memInput()
    in.addData(Seq((1L, 1.0)))
    // INTO names a sink that is NOT yet declared: the epoch launches to
    // the INTERNAL dir (the declared location resolves to nothing)
    ctx.sql("START JOB latebind AS CREATE STREAM lb AS SELECT id, v FROM live_events INTO late_out")
    ctx.jobManager.awaitIdle("latebind")
    assert(ctx.jobManager.sinkDf("latebind").count() == 1)
    ctx.sql("PAUSE JOB latebind")
    val dir = java.nio.file.Files.createTempDirectory("graft_latebind").toString
    val declared = java.nio.file.Paths.get(dir, "late.parquet")
    java.nio.file.Files.createDirectories(declared)
    java.nio.file.Files.writeString(declared.resolve("precious.txt"), "keep")
    ctx.sql(s"CREATE SINK late_out WITH (path = 'file://$dir/late.parquet')")
    in.addData(Seq((2L, 2.0)))
    try {
      ctx.sql("RESUME JOB latebind")
      ctx.jobManager.awaitIdle("latebind")
      // pre-fix: the resume BOUND the late declaration — the epoch's
      // output split across two dirs (sinkDf read only batch 2) and the
      // stash-then-drop deleted precious.txt from the declared path
      assert(ctx.jobManager.sinkDf("latebind").count() == 2,
        "the epoch must stay on the internal dir it launched with")
      assert(java.nio.file.Files.exists(declared.resolve("precious.txt")),
        "a sink declared mid-epoch must not have its pre-existing files reset")
    } finally ctx.sql("STOP JOB latebind")
  }

  test("r17 review: a FAILED deploy's resource limits do not stick to the last-good version") {
    val (in, ctx) = memInput()
    in.addData(Seq((1L, 1.0)))
    ctx.sql("START JOB limrst AS SELECT v, COUNT(*) AS n FROM live_events GROUP BY v EMIT CHANGES")
    ctx.jobManager.awaitIdle("limrst")
    val healthy = ctx.jobManager.limitsOf("limrst")
    // doomed DEPLOY carrying a 1-group limit; the body fails AT LAUNCH
    // (a streaming ORDER BY), past the stamp machinery like the
    // stash/revert tests
    intercept[Exception](ctx.sql(
      "DEPLOY JOB limrst AS SELECT id, v FROM live_events ORDER BY v " +
        "WITH ('max_aggregation_groups' = '1')"))
    // limits are speculative like the epoch: the doomed statement's
    // 1-group cap must not stay attached to the last-good version
    // (pre-fix it did — the one piece of launch state never reverted)
    assert(ctx.jobManager.limitsOf("limrst") == healthy,
      s"failed deploy's limits stuck: ${ctx.jobManager.limitsOf("limrst")}")
    // and the last-good aggregating body relaunches + processes three
    // groups cleanly
    ctx.sql("ROLLBACK JOB limrst")
    in.addData(Seq((2L, 2.0), (3L, 3.0)))
    ctx.jobManager.awaitIdle("limrst")
    ctx.jobManager.superviseOnce(autoRestart = false)
    assert(ctx.sql("SHOW STATUS limrst").collect().head.getAs[String]("status") == "RUNNING")
    ctx.sql("STOP JOB limrst")
  }

  test("r17 review: PAUSE of a query that already died reports FAILED, not a clean PAUSED") {
    val (in, ctx) = memInput()
    in.addData(Seq((1L, 99.0)))
    // v >= 5 kills the query on its first batch
    ctx.sql("START JOB deadpause AS SELECT id, assert_true(v < 5.0) AS chk FROM live_events")
    try ctx.jobManager.awaitIdle("deadpause")
    catch { case _: Exception => () }
    // supervision has NOT ticked — the PAUSE itself discovers the death
    val st = ctx.sql("PAUSE JOB deadpause").collect().head
    assert(st.getAs[String]("status") == "FAILED",
      s"a died-before-pause query must not read as cleanly PAUSED: $st")
    assert(st.getAs[String]("error").nonEmpty)
    // and a blind RESUME is refused (FAILED is not resumable)
    intercept[Exception](ctx.sql("RESUME JOB deadpause"))
  }

  test("r17 review: a pre-binding launch failure cannot restore an ORPHANED crash stash over committed sink data") {
    import spark.implicits._
    val (in, ctx) = memInput()
    ctx.register("rb_view", Seq((1L, 1.0), (2L, 2.0)).toDF("id", "v"))
    in.addData(Seq((1L, 10.0)))
    val dir = java.nio.file.Files.createTempDirectory("graft_orphan").toString
    ctx.sql(s"CREATE SINK orph_out WITH (path = 'file://$dir/out.parquet')")
    // v1: a BATCH body over rb_view (rollback target), INTO the sink
    ctx.sql("START JOB orphjob AS CREATE STREAM ov AS SELECT id, v * 2 AS o FROM live_events INTO orph_out")
    ctx.jobManager.awaitIdle("orphjob")
    val declared = java.nio.file.Paths.get(dir, "out.parquet")
    assert(spark.read.parquet(declared.toString).count() == 1)
    // v2 deploys fine
    ctx.sql("DEPLOY JOB orphjob AS CREATE STREAM ov AS SELECT id, v * 3 AS o FROM live_events INTO orph_out")
    ctx.jobManager.awaitIdle("orphjob")
    ctx.sql("PAUSE JOB orphjob")
    // plant ORPHANED crash stashes (a previous process's crash between
    // stash and checkpoint creation) for every plausible epoch number
    for (ep <- 0 to 6) {
      val t = declared.resolve(s".graft-trash-$ep")
      java.nio.file.Files.createDirectories(t)
      java.nio.file.Files.writeString(t.resolve("stale.txt"), "old")
    }
    val committed = spark.read.parquet(declared.toString).collect().map(_.getAs[Double]("o")).sorted
    // make v1's relaunch fail at exec — BEFORE the launch ever binds or
    // stashes the sink (rollback has no validator gate, so the analysis
    // failure surfaces inside launch)
    spark.catalog.dropTempView("live_events")
    intercept[Exception](ctx.sql("ROLLBACK JOB orphjob"))
    // pre-fix: revertEpochBump restored the failed epoch's ORPHAN —
    // deleting every committed entry at the path (including
    // _spark_metadata) and replacing it with stale.txt
    val after = spark.read.parquet(declared.toString).collect().map(_.getAs[Double]("o")).sorted
    assert(after.toSeq == committed.toSeq,
      "committed sink data must survive a pre-binding launch failure")
    for (ep <- 0 to 6)
      assert(java.nio.file.Files.exists(declared.resolve(s".graft-trash-$ep").resolve("stale.txt")),
        s"orphan $ep must stay in place for manual recovery")
  }

  test("failed-transition table: a failed START, DEPLOY or ROLLBACK leaves checkpoint, sink, limits and versions") {
    import spark.implicits._
    val good = "WITH ('max_aggregation_groups' = '1000')"
    val doomedLimits = "WITH ('max_aggregation_groups' = '1')"
    // per verb: the last-good statements, then one that dies inside
    // writeStream.start() — after its fresh epoch stashed the declared
    // sink — carrying other limits. START and DEPLOY die on a streaming
    // ORDER BY; the ROLLBACK target reads ft_src, which is re-registered
    // sorted just before the rollback.
    val table = Seq(
      ("START", Seq(s"START JOB ft_start AS SELECT id, v FROM live_events INTO ft_start_out $good",
          "STOP JOB ft_start"),
        s"START JOB ft_start AS SELECT id, v FROM live_events ORDER BY v INTO ft_start_out $doomedLimits"),
      ("DEPLOY", Seq(
          s"DEPLOY JOB ft_deploy VERSION '1' AS SELECT id, v FROM live_events INTO ft_deploy_out $good"),
        s"DEPLOY JOB ft_deploy VERSION '2' AS SELECT id, v FROM live_events ORDER BY v " +
          s"INTO ft_deploy_out $doomedLimits"),
      ("ROLLBACK", Seq(
          s"DEPLOY JOB ft_rollback VERSION '1' AS SELECT id, v FROM ft_src INTO ft_rollback_out $doomedLimits",
          s"DEPLOY JOB ft_rollback VERSION '2' AS SELECT id, v * 2 AS v FROM live_events " +
            s"INTO ft_rollback_out $good"),
        "ROLLBACK JOB ft_rollback"))
    table.foreach { case (verb, lastGood, doomed) =>
      val job = s"ft_${verb.toLowerCase}"
      val s = spark.newSession()
      val stateRoot = java.nio.file.Files.createTempDirectory(s"graft_${job}_root").toString
      s.conf.set("graft.jobs.stateRoot", stateRoot)
      implicit val sq: org.apache.spark.sql.classic.SQLContext =
        s.sqlContext.asInstanceOf[org.apache.spark.sql.classic.SQLContext]
      val in = MemoryStream[(Long, Double)]
      val events = in.toDF().toDF("id", "v")
      val ctx = new VeloContext(s)
      ctx.register("live_events", events)
      ctx.register("ft_src", events)
      val dir = java.nio.file.Files.createTempDirectory(s"graft_${job}_sink").toString
      ctx.sql(s"CREATE SINK ${job}_out WITH (path = 'file://$dir/out.parquet')")
      in.addData(Seq((1L, 1.0), (2L, 2.0)))
      lastGood.foreach { st => ctx.sql(st); ctx.jobManager.awaitIdle(job) }
      def sinkRows = s.read.parquet(s"$dir/out.parquet").collect().map(_.toString).sorted.toSeq
      def versions = ctx.jobManager.versionsDf(job).collect().toSeq
      val (rows, ckpts, vers, lims) =
        (sinkRows, ckptEpochs(stateRoot, job), versions, ctx.jobManager.limitsOf(job))
      assert(rows.length == 2 && lims.maxAggregationGroups.contains(1000L), s"$verb: $rows $lims")

      if (verb == "ROLLBACK") ctx.register("ft_src", events.orderBy("v"))
      intercept[Exception](ctx.sql(doomed))
      assert(sinkRows == rows, s"$verb: the declared sink's last-good rows are not back")
      val trash = new java.io.File(s"$dir/out.parquet").listFiles()
        .map(_.getName).filter(_.startsWith(".graft-trash"))
      assert(trash.isEmpty, s"$verb: ${trash.mkString(",")}")
      assert(ckptEpochs(stateRoot, job) == ckpts, s"$verb: the failed epoch's checkpoint stayed")
      assert(versions == vers, s"$verb: version history changed")
      assert(ctx.jobManager.limitsOf(job) == lims, s"$verb: limits ${ctx.jobManager.limitsOf(job)}")
      ctx.sql(s"STOP JOB $job")
    }
  }
}
