package graft.sql

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryException}

import VeloSqlParser._

/** Named-job registry: the Spark realization of the reference's
  * multi-job SQL server (src/velostream/server/, ast.rs:306-366).
  *
  * A job is a named, versioned statement. Its lifecycle maps onto
  * Structured Streaming primitives:
  *
  *  - START → `writeStream.start()` with a PER-JOB checkpoint dir and
  *    the sink StreamOps.emission/sinkWriter choose, as for sqlStream
  *    (executors write shards; nothing lands on the driver). A batch
  *    body instead materializes a standing view `<job>_out`.
  *  - PAUSE → `query.stop()` with the checkpoint RETAINED. Spark's
  *    checkpoint holds source offsets + state-store snapshots, so
  *  - RESUME → a fresh `start()` on the SAME checkpoint + sink continues
  *    exactly-once from the paused offsets (the reference's
  *    state-preserving pause/resume).
  *  - DEPLOY v STRATEGY s → record the version, stop the current run,
  *    start the new statement in a FRESH sink/checkpoint epoch;
  *    the previous epoch's sink survives on disk (blue-green), so
  *  - ROLLBACK → redeploys the prior (or named) version.
  *  - STOP [FORCE] → graceful drains the current micro-batch first
  *    (`processAllAvailable`); FORCE stops immediately.
  *
  * Job metadata (versions, strategy, status) is driver-side registry
  * state — a few strings per job, nothing data-sized.
  */
final class JobManager(spark: SparkSession, exec: VeloStatement => DataFrame,
                       validate: VeloStatement => Vector[String] = _ => Vector.empty,
                       metricSink: (String, String, Option[String],
                         Vector[(String, Map[String, String], Double)]) => Unit =
                         (_, _, _, _) => (),
                       breakerConfig: CircuitBreaker.Config = CircuitBreaker.Config(),
                       breakerClock: () => Long = () => System.currentTimeMillis(),
                       defaultLimits: Resources.Limits = Resources.Limits(),
                       // declared INTO-sink path for a job body, resolved by the
                       // owning context (CREATE SINK declarations / dotted props):
                       // a streaming body's continuous writeStream lands THERE,
                       // honoring the INTO contract batch bodies fulfill in
                       // execStatement. None → the job's internal epoch dir.
                       resolveSinkPath: VeloStatement => Option[String] = _ => None,
                       // does the job body declare the stdout DEBUG sink
                       // (INTO stdout with no resolvable file path —
                       // MutationChecks.isStdoutSink semantics, resolved by
                       // the owning context)? A streaming body then prints
                       // each batch's records as JSON in addition to its
                       // internal epoch-dir write (reference:
                       // datasource/stdout_writer.rs:10).
                       resolveStdoutSink: VeloStatement => Boolean = _ => false,
                       // receives one `job.batch` span per micro-batch of
                       // this manager's jobs (the owning context's tracer)
                       tracer: Tracer = new Tracer()) {

  private case class Version(version: String, body: VeloStatement,
                             strategy: String, props: Map[String, String],
                             seq: Int)

  /** Durable job-state root (the reference server's restart story):
    * when `graft.jobs.stateRoot` is set on the session, each job's
    * checkpoint/sink tree lives at `<stateRoot>/<name>` instead of a
    * process-private temp dir, so a NEW JobManager (new driver, new
    * session) that STARTs the same job name resumes the highest
    * existing checkpoint epoch offset-exact — Spark's checkpoint holds
    * the source offsets and state-store snapshots; the registry
    * (versions, status) is rebuilt by redeploying the app's SQL, which
    * is the reference model (server restart replays the app file).
    * Unset → temp dirs, exactly the old per-process behavior. */
  private def stateRoot: Option[String] =
    spark.conf.getOption("graft.jobs.stateRoot").filter(_.nonEmpty)

  /** Stable digest of a job body, stamped next to each epoch's
    * checkpoint under a durable root (injective canonical rendering —
    * see JobManager.canonical). */
  private def bodyFingerprint(body: VeloStatement): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(JobManager.canonical(body).getBytes("UTF-8")).map("%02x".format(_)).mkString

  /** All durable-root METADATA I/O resolves through the same Hadoop
    * filesystem Spark resolves the un-schemed checkpointLocation string
    * against (fs.defaultFS): java.io against the driver's local disk
    * would silently miss the real checkpoint tree on any cluster whose
    * default filesystem is not file:// — epoch recovery and the
    * fingerprint guard would be bypassed and a restarted job could
    * attach a different body to a foreign checkpoint. */
  private def rootFs(p: String): (org.apache.hadoop.fs.FileSystem, org.apache.hadoop.fs.Path) = {
    val path = new org.apache.hadoop.fs.Path(p)
    (path.getFileSystem(spark.sparkContext.hadoopConfiguration), path)
  }
  private def writeMeta(p: String, content: String): Unit = {
    val (fs, path) = rootFs(p)
    val out = fs.create(path, true)
    try out.write(content.getBytes("UTF-8")) finally out.close()
  }
  private def readMeta(p: String): Option[String] =
    try {
      val (fs, path) = rootFs(p)
      if (!fs.exists(path)) None
      else {
        val in = fs.open(path)
        try {
          val bytes = new java.io.ByteArrayOutputStream()
          val buf = new Array[Byte](4096)
          var n = in.read(buf)
          while (n >= 0) { bytes.write(buf, 0, n); n = in.read(buf) }
          Some(new String(bytes.toByteArray, "UTF-8"))
        } finally in.close()
      }
    } catch { case scala.util.control.NonFatal(_) => None }

  /** Identity for durable-root ownership FENCING (see superviseOnce):
    * the last manager to launch a job under a shared root owns it. */
  private val managerId = java.util.UUID.randomUUID().toString

  private final class Job(val name: String) {
    var versions: Vector[Version] = Vector.empty
    var current: Option[Version] = None
    var status: String = "STOPPED" // RUNNING | PAUSED | STOPPED
    var handle: Option[StreamingQuery] = None
    var batchView: Option[String] = None
    // the cached materialization behind batchView — unpersisted when a
    // relaunch replaces it, so repeated START/DEPLOY of a batch body
    // holds at most one cached frame per job
    var batchCache: Option[DataFrame] = None
    var lastError: Option[String] = None
    // true iff the job is FAILED because a LAUNCH of a body OTHER than
    // `current` threw (failed deploy/rollback-to-older) — the one case
    // where `current` is still the last-good version and a bare
    // ROLLBACK should relaunch it. Runtime deaths (supervision,
    // resource trips, halt-discovered errors) leave this false:
    // there `current` IS the version that just died, and relaunching
    // it would reverse the rollback's whole purpose.
    var launchFailed: Boolean = false
    val breaker = new CircuitBreaker(breakerConfig, breakerClock)
    var limits: Resources.Limits = defaultLimits
    val root: String = stateRoot match {
      case Some(sr) =>
        // plain string join, not Paths.get — the root may carry a
        // scheme (hdfs://, s3a://) that java.nio would mangle
        val r = s"${sr.stripSuffix("/")}/$name"
        val (fs, p) = rootFs(r)
        fs.mkdirs(p)
        r
      case None => Files.createTempDirectory(s"graft_job_$name").toString
    }
    // recover the highest on-disk checkpoint epoch (always 0 for a temp
    // root): a restarted manager must re-enter the LATEST epoch, not
    // restart a checkpoint an in-between DEPLOY already superseded.
    // Listed through the root's RESOLVED filesystem — the same one
    // Spark writes the checkpoint to (see rootFs).
    var epoch: Int = {
      val re = "ckpt-(\\d+)".r
      val entries =
        try { val (fs, p) = rootFs(root); fs.listStatus(p).toSeq.map(_.getPath.getName) }
        catch { case scala.util.control.NonFatal(_) => Seq.empty }
      entries.collect { case re(n) => n.toInt }.foldLeft(0)(math.max)
    }
    // true while the current epoch's checkpoint PREDATES this manager
    // (recovered from a durable root): its declared sink already holds
    // the epoch's committed batches and must NOT get the blue-green
    // reset — the resumed checkpoint continues on top of it, exactly
    // like an in-process RESUME. Cleared on every epoch bump.
    var recovered: Boolean = stateRoot.isDefined && {
      try { val (fs, _) = rootFs(root)
        fs.exists(new org.apache.hadoop.fs.Path(s"$root/ckpt-$epoch")) }
      catch { case scala.util.control.NonFatal(_) => false }
    }
    def ckptDir: String = s"$root/ckpt-$epoch"
    def sinkDir: String = s"$root/out-$epoch"
    // the per-epoch sink binding: (epoch, Some(declared INTO path)) or
    // (epoch, None) = the internal sinkDir. An epoch's first streaming
    // launch binds it (see launch) and every later launch of that epoch
    // reuses it, so a sink re-declared, dropped or newly declared
    // between pause and resume cannot split the epoch's output across
    // two directories, nor have its pre-existing contents stashed and
    // then dropped (r17 review) — re-declarations take effect at the
    // next epoch. A RECOVERED epoch is bound from its durable stamp; no
    // stamp means it ran to the internal dir (r14 review).
    var sink: Option[(Int, Option[String])] =
      if (recovered) Some((epoch, readMeta(s"$root/sink-$epoch.path"))) else None
    // highest micro-batch id supervision has credited as a breaker
    // success — liveness alone is NOT success (see superviseOnce)
    var lastSeenBatch: Long = -1L
    // the unlabeled `@metric` specs the running query observes, in the
    // order of its observed row; set with `handle`
    var observed: Vector[SqlApp.MetricSpec] = Vector.empty
  }

  private val jobs = scala.collection.mutable.LinkedHashMap[String, Job]()
  private var seqCounter = 0

  // ---- streaming @metric collection (reference: metrics emitted per
  //      batch from running jobs, observability/metrics.rs) ----
  // Two collectors apply SqlApp's one metric rule and feed one
  // accumulator. Unlabeled specs ride the job's own micro-batches as an
  // `observe()` CollectMetrics node (no extra pass over the data), read
  // by the progress listener after the batch commits. Labeled specs
  // need a groupBy, which observe() cannot express: a changelog job's
  // foreachBatch hook collects them before the batch commits.
  // ALL metric state (specs, totals, marks, resources) synchronizes on
  // metricSpecs: writers/readers span the caller's thread (attachMetrics,
  // launch), the listener-bus thread (onQueryProgress), and foreachBatch
  // threads (collectChangelog) — one lock, no mixed-lock races.
  private val metricSpecs = scala.collection.mutable.Map[String, Vector[SqlApp.MetricSpec]]()

  /** Streaming totals keyed (job, metric name, sample suffix, labels),
    * from both collectors: counter and histogram samples add up; a
    * gauge takes a batch's value only when the batch has one. Insertion
    * order keeps a histogram's buckets in `le` order. */
  private val metricTotals =
    scala.collection.mutable.LinkedHashMap[(String, String, String, Map[String, String]), Double]()

  /** Last micro-batch id accumulated per (job, collector): a crash
    * between a batch's side effects and its checkpoint commit makes
    * Spark re-run the batch on relaunch, and adding its values again
    * would drift totals above the exactly-once sink (r14 review). The
    * changelog hook runs before the commit and the listener after it,
    * so each keeps its own mark. */
  private val metricSeenBatch = scala.collection.mutable.Map[(String, String), Long]()

  /** Attach `@metric` specs to a job name BEFORE it starts; the next
    * launch observes them on the streaming plan. */
  def attachMetrics(name: String, specs: Vector[SqlApp.MetricSpec]): Unit = synchronized {
    if (specs.nonEmpty) metricSpecs.synchronized { metricSpecs(name) = specs }
  }
  /** Spec probe: is a metric spec / job config currently attached?
    * (the maps are private; the r15 granular-detach spec needs to
    * observe what a failed statement's cleanup removed). */
  private[sql] def hasAttachedMetrics(name: String): Boolean =
    metricSpecs.synchronized(metricSpecs.contains(name))
  private[sql] def hasAttachedJobConfig(name: String): Boolean =
    synchronized(jobConfigs.contains(name))

  /** Current attached state, for a caller that must SNAPSHOT before
    * overwriting and restore on failure (SqlApp's statement runner —
    * r17 review: the kind-scoped detach still lost a previous
    * successful statement's same-kind state). */
  private[sql] def attachedMetrics(name: String): Option[Vector[SqlApp.MetricSpec]] =
    metricSpecs.synchronized(metricSpecs.get(name))
  private[sql] def attachedJobConfig(name: String): Option[JobManager.JobConfig] =
    synchronized(jobConfigs.get(name))

  /** Limits probe for the r17 speculative-limits spec (j is private). */
  private[sql] def limitsOf(name: String): Resources.Limits =
    synchronized(job(name).limits)

  /** Put back the snapshotted pre-statement state after a FAILED
    * statement: for each kind, `Some(Some(v))` restores the prior
    * value, `Some(None)` removes (nothing was attached before), `None`
    * leaves the kind untouched (this statement never overwrote it). */
  def restoreStatementState(name: String,
                            metrics: Option[Option[Vector[SqlApp.MetricSpec]]],
                            config: Option[Option[JobManager.JobConfig]]): Unit = synchronized {
    metrics.foreach {
      case Some(v) => metricSpecs.synchronized { metricSpecs(name) = v; () }
      case None => metricSpecs.synchronized { metricSpecs.remove(name); () }
    }
    config.foreach {
      case Some(v) => jobConfigs(name) = v; ()
      case None => jobConfigs.remove(name); ()
    }
  }

  /** Remove the metric specs and/or job config a FAILED statement
    * attached — SCOPED to what that statement actually attached: the
    * old unconditional wipe clobbered state a previous successful
    * statement installed for the same job name (r15 review). */
  def detachStatementState(name: String, metrics: Boolean = true,
                           config: Boolean = true): Unit = synchronized {
    if (metrics) metricSpecs.synchronized { metricSpecs.remove(name); () }
    if (config) { jobConfigs.remove(name); () }
  }

  // ---- resource tracking (reference: sql/execution/resource_manager.rs —
  //      named resources with limits, peak/violation tracking, hard
  //      enforcement). Usage feeds from StreamingQueryProgress, so the
  //      accounting costs nothing on the data path. Keyed (job, resource);
  //      the global admission resource `concurrent_operations` keys under
  //      job "*". Guarded by the metricSpecs lock like all metric state. ----
  private val resourceState = scala.collection.mutable.Map[(String, String), Resources.Usage]()

  /** Add one batch's samples to the totals unless `collector` already
    * counted this batch id. Returns what to push: each name's series
    * across all jobs and both collectors, as the sink replaces the
    * name's streaming slice wholesale. The caller pushes outside the
    * lock (order JobManager → metricSpecs; a sink must never run under
    * metricSpecs). */
  private def accumulate(job: String, collector: String, batchId: Long,
                         collected: Seq[(SqlApp.MetricSpec, Vector[SqlApp.Sample])])
      : Seq[(String, String, Option[String], Vector[SqlApp.Sample])] = metricSpecs.synchronized {
    if (batchId <= metricSeenBatch.getOrElse((job, collector), -1L)) Nil
    else {
      metricSeenBatch((job, collector)) = batchId
      collected.foreach { case (m, samples) =>
        samples.foreach { case (sfx, ls, v) =>
          val k = (job, m.name, sfx, ls)
          metricTotals(k) = if (m.metricType == "gauge") v else metricTotals.getOrElse(k, 0.0) + v
        }
      }
      collected.map { case (m, _) =>
        (m.name, m.metricType, m.help,
          metricTotals.collect { case ((_, n, sfx, ls), v) if n == m.name => (sfx, ls, v) }.toVector)
      }
    }
  }

  /** A changelog job's per-batch hook for its labeled specs. Every Spark
    * action runs before any state changes: a failed collect leaves the
    * mark unmoved and the totals untouched, so Spark's replay of this
    * batch id accumulates cleanly (r14 review). */
  private def collectChangelog(jobName: String, specs: Vector[SqlApp.MetricSpec],
                               batch: DataFrame, batchId: Long): Unit =
    if (batchId > metricSpecs.synchronized(metricSeenBatch.getOrElse((jobName, "changelog"), -1L))) {
      val collected = specs.map(m => m -> SqlApp.collectMetric(batch, m, Map("job" -> jobName)))
      accumulate(jobName, "changelog", batchId, collected).foreach(metricSink.tupled)
    }

  /** `df` observing each of `specs` (unlabeled) on its own
    * micro-batches, one aggregate struct per spec in order. */
  private def observed(jobName: String, df: DataFrame, specs: Vector[SqlApp.MetricSpec]): DataFrame =
    if (specs.isEmpty) df
    else {
      val aggs = specs.map(m => SqlApp.metricAggregate(m, SqlApp.metricGate(df, m)))
      df.observe(s"graft-metrics-$jobName", aggs.head, aggs.tail: _*)
    }

  /** A job's accumulated metric state is scoped to its checkpoint epoch:
    * DEPLOY/ROLLBACK/START-with-new-body reprocesses the source from
    * scratch in a fresh epoch, so keeping the old totals would double-
    * count every re-read record (old total + full re-count) while the
    * sink holds exactly one copy. Called wherever `epoch` is bumped. */
  private def resetMetricState(jobName: String): Unit = metricSpecs.synchronized {
    metricTotals.filterInPlace { case ((j, _, _, _), _) => j != jobName }
    // the replay guards are batchId high-water marks — a fresh epoch
    // restarts batchIds at 0, so a stale mark would silently drop the
    // whole new epoch's accumulation
    metricSeenBatch.filterInPlace { case ((j, _), _) => j != jobName }
    // resource usage is epoch-scoped for the same reason: a fresh epoch's
    // query rebuilds state from scratch, so the old current/peak describe
    // a query that no longer exists
    resourceState.filterInPlace { case ((j, _), _) => j != jobName }
  }

  /** The manager's one progress listener: per micro-batch it accounts
    * resources, accumulates observed `@metric` values and records a
    * `job.batch` span — purely driver-side bookkeeping, no extra pass
    * over any data. Registered by the first streaming launch, removed by
    * `detachListeners`. */
  private val progressListener = new org.apache.spark.sql.streaming.StreamingQueryListener {
    import org.apache.spark.sql.streaming.StreamingQueryListener._
    override def onQueryStarted(e: QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: QueryProgressEvent): Unit = {
      recordResources(e.progress)
      // Scope to queries THIS manager launched: several managers can
      // share one session (one listener bus), and a same-named job in
      // another manager would otherwise double-count into our state.
      // runId, NOT id: the query id is stable across checkpoint
      // restarts, so under a shared durable stateRoot a superseded
      // manager's stale handle matched the SUCCESSOR's progress events
      // and double-credited its batches until fencing caught up (r16
      // review); runId is unique per run. Captured BEFORE the
      // metricSpecs lock — lock order is JobManager → metricSpecs,
      // never the reverse.
      val owned = JobManager.this.synchronized {
        jobs.collect { case (n, j) if j.handle.exists(_.runId == e.progress.runId) => (n, j.observed) }.toVector
      }
      owned.foreach { case (n, specs) =>
        recordBatchSpan(n, e.progress)
        // the observed row holds one struct per spec the RUNNING query
        // was built with; a replayed batch fires its progress event
        // again and `accumulate` skips it
        Option(e.progress.observedMetrics.get(s"graft-metrics-$n")).foreach { row =>
          val collected = specs.indices.map(i =>
            specs(i) -> SqlApp.metricSamples(specs(i), Map("job" -> n), row.getStruct(i)))
          accumulate(n, "observe", e.progress.batchId, collected).foreach(metricSink.tupled)
        }
      }
    }
  }

  /** One `job.batch` span per micro-batch of an owned job: the batch's
    * trigger start and its `triggerExecution` duration. */
  private def recordBatchSpan(job: String,
                              p: org.apache.spark.sql.streaming.StreamingQueryProgress): Unit = {
    val startMs =
      try java.time.Instant.parse(p.timestamp).toEpochMilli
      catch { case scala.util.control.NonFatal(_) => System.currentTimeMillis() }
    val dur = Option(p.durationMs.get("triggerExecution")).map(_.longValue()).getOrElse(0L)
    tracer.recordSpan("job.batch", startMs, dur, Map(
      "job" -> job,
      "batch_id" -> p.batchId.toString,
      "input_rows" -> p.numInputRows.toString))
  }

  /** Resource accounting + hard enforcement from query progress
    * (reference resource_manager.rs `update_resource_usage` /
    * `check_resource_limit`): state rows = `aggregation_groups` (groups
    * + open windows held in the state store), state bytes =
    * `total_memory`, batch ms / input rows =
    * `processing_time_per_record`. A value past its limit records a
    * violation and stops the job NOW — state past the limit only grows,
    * and the reference's ResourceExhausted is likewise immediate.
    * Lock order is JobManager → metricSpecs, the same order every
    * synchronized method uses; the listener thread never blocks a
    * stream thread, so stopping the violating query from here is safe
    * (stop() interrupts the stream thread, which posts its terminal
    * event asynchronously). */
  private def recordResources(p: org.apache.spark.sql.streaming.StreamingQueryProgress): Unit =
    Option(p.name).filter(_.startsWith("graft-job-")).map(_.stripPrefix("graft-job-"))
      .foreach { name =>
        // A violating query is stopped AFTER the monitor is released:
        // StreamingQuery.stop() joins the stream-execution thread, and a
        // micro-batch callback that ever took the JobManager lock would
        // deadlock against a listener-thread stop-under-lock. Registry
        // state (handle/status/lastError) still flips atomically inside
        // the lock, so the job is FAILED before anyone can observe it.
        var toStop: Option[StreamingQuery] = None
        JobManager.this.synchronized {
          // ownership check: only the manager whose handle launched this
          // query may account/enforce — a same-named job in another
          // manager sharing the session must not be stopped for OUR
          // limits. runId, not the checkpoint-stable id (see the
          // progressListener scope note): the stale-handle match would
          // otherwise enforce OUR limits against the successor's run
          jobs.get(name).filter(j => j.limits.monitorsProgress
            && j.handle.exists(_.runId == p.runId)).foreach { j =>
            val rows = p.stateOperators.map(_.numRowsTotal).sum.toDouble
            val mem = p.stateOperators.map(_.memoryUsedBytes).sum.toDouble
            val perRec = Option(p.durationMs.get("triggerExecution"))
              .filter(_ => p.numInputRows > 0).map(_.doubleValue / p.numInputRows)
            val observed = Seq("aggregation_groups" -> rows, "total_memory" -> mem) ++
              perRec.map("processing_time_per_record" -> _)
            var trip: Option[(String, Double, Double)] = None
            metricSpecs.synchronized {
              observed.foreach { case (res, v) =>
                val lim = j.limits.limitFor(res)
                var u = resourceState.getOrElse((name, res), Resources.Usage()).observed(v, lim)
                if (lim.exists(v > _)) {
                  u = u.violated
                  if (trip.isEmpty) trip = Some((res, v, lim.get))
                }
                resourceState((name, res)) = u
              }
            }
            trip.foreach { case (res, v, l) =>
              if (j.status == "RUNNING") {
                toStop = j.handle
                j.handle = None
                j.status = "FAILED"
                j.lastError = Some(
                  s"resource exhausted: $res ${v.toLong} exceeds limit ${l.toLong}")
                // breaker health signal: a resource-limit kill is a
                // FAILED run. Without it, a limit trip during a
                // HALF_OPEN trial ended the trial with no signal at all
                // — trialInFlight stayed claimed with no query left to
                // resolve it, rejecting every future launch until a
                // manual resetBreaker (r12 review)
                j.breaker.recordFailure()
              }
            }
          }
        }
        toStop.foreach(q => try q.stop() catch { case _: Throwable => () })
      }

  /** Admission gate for the global `concurrent_operations` resource
    * (reference resource_manager.rs:310): launching this job must not
    * push the RUNNING-job count past the limit. Engine-wide in the
    * reference; here the limit rides the admitted job's props (see
    * Resources scaladoc) and the usage row keys under job "*". */
  private def gateConcurrency(name: String, lims: Resources.Limits): Unit =
    lims.maxConcurrentOperations.foreach { max =>
      // only ACTIVE streaming queries consume an operation slot: a batch
      // body materializes synchronously inside start() and then only
      // serves a standing view — counting it as RUNNING forever would
      // starve every later streaming admission until a manual STOP.
      // Admission is CONSERVATIVE for the candidate (+1): whether the
      // body turns out batch or streaming is only knowable after
      // analysis resolves its sources, which launch does later — a
      // batch job rejected at a full limit can start once a streaming
      // slot frees.
      val running = jobs.values.count(x =>
        x.status == "RUNNING" && x.handle.isDefined && x.name != name)
      val wouldRun = running + 1
      metricSpecs.synchronized {
        // admission records the DEMAND (wouldRun) so a rejection leaves
        // its mark in PEAK and the violations counter; the row's CURRENT
        // self-corrects to live usage at every resourceRows read (r12:
        // the demand reading otherwise lingered as a stale EXHAUSTED
        // level indefinitely after jobs stopped).
        var u = resourceState.getOrElse(("*", "concurrent_operations"), Resources.Usage())
          .observed(wouldRun.toDouble, Some(max.toDouble))
        if (wouldRun > max) u = u.violated
        resourceState(("*", "concurrent_operations")) = u
      }
      if (wouldRun > max)
        // transient: capacity frees when a job stops — structured type
        // so the HTTP layer can answer 503 without substring matching
        throw new VeloSqlParser.TransientRejectionException(
          s"resource exhausted: concurrent_operations $wouldRun exceeds limit $max " +
            s"(job $name admission rejected)")
    }

  private def job(name: String): Job =
    jobs.getOrElse(name,
      throw new VeloSqlParser.UnknownJobException(s"unknown job: $name"))

  private def emitOf(stmt: VeloStatement): Option[EmitMode] = stmt match {
    case Select(s) => s.emit
    case CreateStreamAs(_, s, _, _) => s.emit
    case CreateTableAs(_, s, _, _) => s.emit
    // recurse like liftProps does: EMIT CHANGES inside a CTE/UNION job
    // body otherwise silently reads as no EMIT (final rows, no
    // changelog)
    case WithCtes(_, body, _) => emitOf(body)
    // ALL branches, not just the last (the asInsertBody/liftProps
    // hoist rule): the parser attaches a trailing EMIT to the branch
    // it just read, so `… EMIT CHANGES UNION ALL …` lands the mode on
    // branch 0; conflicting branch modes reject like asInsertBody does
    // (r16 review)
    case u: Union =>
      val emits = u.selects.flatMap(_.emit).distinct
      if (emits.length > 1)
        throw new VeloSqlParser.ParseException(
          "UNION branches declare conflicting EMIT modes")
      emits.headOption
    case _ => None
  }

  // ---- job processor configuration (reference: annotation_parser.rs
  //      @job_mode/@batch_size/@num_partitions/@partitioning_strategy →
  //      job_processor_factory.rs). The physically-meaningful part on
  //      Spark is output partitioning; mode/batch-size are recorded
  //      (exactly-once + adaptive execution are the runtime's defaults
  //      here: checkpointed sinks, AQE). ----
  private val jobConfigs = scala.collection.mutable.Map[String, JobManager.JobConfig]()

  /** Attach processor config to a job name BEFORE it starts (like
    * `attachMetrics`); the next launch applies it. */
  def attachJobConfig(name: String, cfg: JobManager.JobConfig): Unit = synchronized {
    jobConfigs(name) = cfg
  }

  /** The body's message-key columns AS WRITTEN to the sink: explicit
    * PRIMARY KEY fields, else the GROUP BY auto-key fallback (FR-089),
    * translated through any declared-column rename (VeloContext
    * .routedKeys — the key must be named by its post-rename name or the
    * repartition would silently miss). */
  private def keyFieldsOf(body: VeloStatement): Vector[String] = body match {
    case Select(s) => VeloContext.routedKeys(s, Vector.empty)
    case CreateStreamAs(_, s, _, cols) => VeloContext.routedKeys(s, cols)
    case CreateTableAs(_, s, _, cols) => VeloContext.routedKeys(s, cols)
    // same recursion rule as emitOf; a union routes on the branches'
    // SHARED keys (disagreeing branches are unroutable)
    case WithCtes(_, body2, _) => keyFieldsOf(body2)
    case u: Union =>
      val ks = u.selects.map(s => VeloContext.routedKeys(s, Vector.empty))
      if (ks.nonEmpty && ks.forall(_ == ks.head)) ks.head else Vector.empty
    case _ => Vector.empty
  }

  /** `@num_partitions` + `@partitioning_strategy` as a physical stage
    * before the sink:
    *  - roundrobin (default) → `repartition(n)` — even output shards;
    *  - hash → `repartition(n, keys)` — co-locates a key's records
    *    (the reference's same-key-same-partition transport guarantee);
    *  - fanin → `coalesce(n)` — shuffle-free shard reduction;
    *  - sticky → no exchange: Spark's narrow pipelining IS sticky
    *    (records stay on their input partition);
    *  - smart → left to AQE, the engine's own smart repartitioner. */
  private def applyPartitioning(df: DataFrame, body: VeloStatement,
                                cfg: JobManager.JobConfig): DataFrame = {
    val strat = cfg.partitioningStrategy.getOrElse("roundrobin")
    (cfg.numPartitions, strat) match {
      case (_, "sticky") | (_, "smart") => df
      case (Some(n), "fanin") => df.coalesce(n)
      case (n, "hash") =>
        val keys = keyFieldsOf(body).filter(df.columns.contains).map(col)
        (n, keys) match {
          case (Some(p), ks) if ks.nonEmpty => df.repartition(p, ks: _*)
          case (Some(p), _) => df.repartition(p)
          case (None, ks) if ks.nonEmpty => df.repartition(ks: _*)
          case _ => df
        }
      case (Some(n), _) => df.repartition(n)
      case _ => df
    }
  }

  /** Launch a job version. Streaming body → continuous writeStream from
    * the job's current checkpoint/sink epoch; batch body → one-shot
    * materialization registered as view `<job>_out`. */
  private def launch(j: Job, v: Version): Unit = {
    val df0 = exec(v.body)
    val specs = metricSpecs.synchronized(metricSpecs.getOrElse(j.name, Vector.empty))
    val (labeled, unlabeled) = specs.partition(_.labels.nonEmpty)
    val df1 = if (df0.isStreaming) observed(j.name, df0, unlabeled) else df0
    // partitioning applies AFTER observe so metrics see every record
    val df = jobConfigs.get(j.name).map(applyPartitioning(df1, v.body, _)).getOrElse(df1)
    if (df.isStreaming) {
      // the progress listener registers once, before the first query
      // that can emit progress starts (every launch holds the manager
      // lock, so the check-then-add cannot race)
      if (!spark.streams.listListeners().contains(progressListener))
        spark.streams.addListener(progressListener)
      // INTO-sink contract for STREAMING bodies: the continuous
      // writeStream IS the sink write, so it targets the DECLARED sink
      // location (extension-derived format) when one resolves — batch
      // bodies write theirs in execStatement. The epoch's binding (see
      // Job.sink) wins over the current declaration: the resumed query
      // would otherwise continue from batch N into a fresh dir, and
      // consumers at the new path would see only post-pause batches.
      val bound = j.sink.filter(_._1 == j.epoch)
      val declared = bound.fold(resolveSinkPath(v.body).map(_.stripPrefix("file://")))(_._2)
      // A declared location is FIXED across epochs while the checkpoint
      // is not: an epoch bump restarts batchIds at 0, and the declared
      // dir's _spark_metadata (written by the PREVIOUS epoch's
      // FileStreamSink) claims those ids already committed — Spark would
      // silently drop the new epoch's first batches, and surviving files
      // would mix old- and new-epoch output even though the new epoch
      // re-reads the source from scratch. Blue-green semantics for a
      // declared location therefore RESET it on epoch entry — the new
      // version's query rewrites its complete output, exactly like the
      // internal out-$epoch dir starting empty. A resume re-enters the
      // SAME epoch — bound, so sink + metadata are kept and the same
      // checkpoint continues offset-exact; so does a RECOVERED epoch
      // (its sink already holds the epoch's committed batches). The
      // declared path binds BEFORE start(); the internal dir binds only
      // after a successful start, so a retry may still bind a sink.
      if (bound.isEmpty) declared.foreach { p =>
        stashSinkDir(p, j.epoch)
        j.sink = Some((j.epoch, Some(p)))
      }
      val (sinkLoc, sinkFmt, sinkOpts) = declared match {
        case Some(p) => val (f, o) = graft.sources.Serde.fileFormat(p); (p, f, o)
        case None => (j.sinkDir, "parquet", Map.empty[String, String])
      }
      // stdout DEBUG sink (reference: datasource/stdout_writer.rs:10;
      // the server falls back to it when a job declares no sink,
      // server/processors/common.rs:1748): each batch also prints its
      // records as JSON. The console stream is captured HERE, on the
      // launching thread — foreachBatch runs on the stream-execution
      // thread where Console redirection (tests, embedding apps) is
      // invisible. Printing is at-least-once: a crash-re-run batch
      // re-prints, as console lines cannot be retracted.
      val console = if (resolveStdoutSink(v.body)) Some(Console.out) else None
      // epoch-scoped durable stamps BEFORE start(), not after (r16
      // review): a crash in the window between a successful start and a
      // post-start stamp write left a recovered epoch with committed
      // batches in the declared dir but NO sink stamp — recovery then
      // routed the resumed query to the internal out-$epoch dir,
      // permanently splitting the epoch's output across two directories
      // (the exact split the stamp exists to prevent). A FAILED start is
      // safe the other way round: revert deletes the stamps of the fresh
      // epoch or new binding the attempt opened. The OWNER stamp is NOT
      // part of this crash-window fix and is written only after start()
      // succeeds (see
      // the known-good tail below): it has no epoch to scope it, so a
      // revert cannot delete it — a pre-start write by a doomed launch
      // OVERWROTE another manager's ownership and permanently fenced the
      // live owner out of superviseOnce auto-restart (r16 advice).
      if (stateRoot.isDefined) {
        // body fingerprint: a restarted manager STARTing a DIFFERENT
        // body under this name must not resume this checkpoint —
        // offsets/state belong to this query shape (see start()'s
        // recovered-mismatch bump)
        try writeMeta(s"${j.root}/body-${j.epoch}.fp", bodyFingerprint(v.body))
        catch { case scala.util.control.NonFatal(_) => () }
        // durable twin of the sink binding (see the Job.sink preload)
        declared.foreach { p =>
          try writeMeta(s"${j.root}/sink-${j.epoch}.path", p)
          catch { case scala.util.control.NonFatal(_) => () }
        }
      }
      // the one emission rule and sink writer (StreamOps), called where
      // start() runs: after the sink reset and the epoch stamps, so a
      // rejected emission takes the same revert path as a failed start
      val emission = graft.streaming.StreamOps.emission(df, emitOf(v.body))
      val changelog = emission == graft.streaming.StreamOps.Changelog
      // labeled specs are collected by the changelog sink's per-batch
      // hook; a final-row job has none, so its labeled specs are the one
      // shape nothing collects. Name them rather than drop them
      // silently: accepted by attachMetrics, they would never appear in
      // /metrics with no signal (r17 review)
      if (!changelog && labeled.nonEmpty)
        System.err.println(s"[jobs] WARNING: metric spec(s) " +
          s"${labeled.map(_.name).mkString(", ")} on streaming job '${j.name}' " +
          "will not be collected: labeled specs require a changelog emission " +
          "(EMIT CHANGES); final-row jobs collect only unlabeled specs via observe()")
      val jobName = j.name
      val onBatch =
        if (changelog && labeled.nonEmpty)
          Some((batch: DataFrame, batchId: Long) => collectChangelog(jobName, labeled, batch, batchId))
        else None
      val q = graft.streaming.StreamOps
        .sinkWriter(df, emission, sinkLoc, sinkFmt, sinkOpts, console, onBatch)
        .option("checkpointLocation", j.ckptDir)
        .queryName(s"graft-job-${j.name}")
        .start()
      j.handle = Some(q)
      j.observed = unlabeled
      // the launch is known-good: commit the declared-sink reset (the
      // stash was only insurance against a failed start — see
      // stashSinkDir), or bind the epoch to the internal dir
      declared match {
        case Some(p) => dropSinkTrash(p, j.epoch)
        case None => j.sink = Some((j.epoch, None))
      }
      // a PREVIOUS batch launch of this job may have left a cached
      // materialization and a <job>_out view: release the cache (the
      // "at most one cached frame per job" contract) and drop the view
      // so report scrapes don't read stale pre-deploy data
      j.batchCache.foreach(_.unpersist(blocking = false))
      j.batchCache = None
      j.batchView.foreach(v => spark.catalog.dropTempView(v))
      j.batchView = None
    } else {
      // one-shot MATERIALIZATION, as documented: a lazy view would
      // silently drift with the source (and re-execute the full query on
      // every SHOW METRICS / HTTP report scrape)
      val view = s"${j.name}_out"
      j.batchCache.foreach(_.unpersist(blocking = false)) // replaced materialization
      j.batchCache = None
      df.cache()
      // failed materialization must not leak: without the catch the new
      // frame stayed marked persistent (holding whatever partitions
      // count() cached before dying, re-leaked on every retry) and the
      // OLD view kept serving stale pre-deploy data — now uncached, so
      // every scrape re-executed the old plan (r12 review)
      try df.count()
      catch {
        case e: Throwable =>
          df.unpersist(blocking = false)
          j.batchView.foreach(v0 => try spark.catalog.dropTempView(v0)
            catch { case scala.util.control.NonFatal(_) => () })
          j.batchView = None
          throw e
      }
      df.createOrReplaceTempView(view)
      j.batchView = Some(view)
      j.batchCache = Some(df)
      j.handle = None
      // full, successful one-shot completion: resolves a HALF_OPEN
      // trial outright — no micro-batch signals will ever arrive from a
      // body with no streaming query, so the ordinary success path
      // could never release the trial slot (r12 review)
      j.breaker.recordCompletion()
    }
    j.current = Some(v)
    j.status = "RUNNING"
    j.lastError = None
    // ownership stamp for restart fencing (see superviseOnce): the last
    // manager to SUCCESSFULLY launch under this root owns the job.
    // Written only now — a failed launch must not take ownership
    // (revert cannot restore the prior owner, so a pre-start
    // write by manager B's doomed DEPLOY permanently fenced the live
    // owner A out of auto-restart; r16 advice). A crash between start()
    // and this write leaves the PREVIOUS owner stamped — harmless: the
    // crashed manager is gone and the stamped manager's supervision
    // restarting the job is exactly the desired recovery.
    if (stateRoot.isDefined) {
      try writeMeta(s"${j.root}/owner", managerId)
      catch { case scala.util.control.NonFatal(_) => () }
    }
  }

  /** Launch wrapped in the job's circuit breaker (reference:
    * circuit_breaker.rs — a crash-looping job trips open and fails fast
    * instead of hot-looping restarts). A launch that throws records a
    * failure; health while running is recorded by `halt` (clean drain =
    * success, died-with-error = failure) and by `superviseOnce`.
    * `newRecord`: v was just appended by record() for this launch (a
    * START/DEPLOY), as opposed to relaunching an entry that already ran
    * (rollback/resume/supervision restart). */
  private def guardedLaunch(j: Job, v: Version, newRecord: Boolean = false): Unit = {
    // ATOMIC admission: check-and-claim in one breaker-synchronized
    // step. In HALF_OPEN this claims the single trial slot, so async
    // outcome reports are credited to THIS launch and stale reports
    // from pre-trip launches are ignored (CircuitBreaker.trialInFlight).
    // gateBreaker's earlier read is only the fail-fast UX path — two
    // concurrent launches could both pass it, so the slot is claimed
    // HERE, and a rejected admission is NOT a health failure.
    if (!j.breaker.tryBeginLaunch()) {
      // same never-launched-version cleanup as the catch below: deploy
      // records the version BEFORE the halt of the old query, and that
      // halt's own recordFailure can trip the breaker — without this,
      // the rejection threw before the catch's cleanup and the
      // never-run version leaked into history, making ROLLBACK target a
      // body that never ran (r12 review)
      if (newRecord) j.versions = j.versions.filterNot(_.seq == v.seq)
      throw breakerRejection(j)
    }
    try {
      launch(j, v)
      j.launchFailed = false
      // redeploying an existing version string REPLACES it in history —
      // but only NOW, after the launch succeeded. Compacting at record
      // time let a failed redeploy replace the last-good body with the
      // doomed one, making ROLLBACK TO <version> relaunch the very body
      // that just failed and leaving the good body unrecoverable.
      if (newRecord)
        j.versions = j.versions.filterNot(e => e.version == v.version && e.seq != v.seq)
    } catch {
      case e: Throwable =>
        // a NEW version that never became a deployment is dropped from
        // history, so rollback targets only versions that actually ran;
        // a RELAUNCHED historical entry stays (it ran successfully once)
        if (newRecord) j.versions = j.versions.filterNot(_.seq == v.seq)
        // only a failure launching some OTHER body leaves `current`
        // last-good (launch assigns current as its final step) — a
        // failed relaunch OF current means current itself is doomed
        j.launchFailed = !j.current.exists(_.seq == v.seq)
        j.breaker.recordFailure()
        j.status = "FAILED"
        j.lastError = Some(Option(e.getMessage).getOrElse(e.getClass.getName))
        throw e
    }
  }

  private def breakerRejection(j: Job): ParseException = {
    val st = j.breaker.currentState
    // transient by definition (the breaker exists to make callers retry
    // later) — structured subtype for the HTTP layer's 503 mapping
    new VeloSqlParser.TransientRejectionException(
      if (st == CircuitBreaker.HalfOpen)
        s"job ${j.name} circuit breaker is HALF_OPEN with a trial launch in " +
          "flight; wait for the trial to resolve or reset the breaker"
      else
        s"job ${j.name} circuit breaker is OPEN after repeated failures; " +
          s"retry in ${j.breaker.retryInMs} ms or reset it")
  }

  /** Reject a launch while the job's breaker is OPEN — the fail-fast
    * UX path that rejects a statement before any stop/teardown work.
    * Advisory only: the authoritative (atomic) admission is
    * tryBeginLaunch() inside guardedLaunch. */
  private def gateBreaker(j: Job): Unit =
    if (!j.breaker.allowsLaunch) throw breakerRejection(j)

  /** The error a dead query carried, root cause surfaced — ONE copy,
    * shared by halt() and superviseOnce() (r14 review: the two verbatim
    * copies had to change in lockstep). */
  private def deathError(q: org.apache.spark.sql.streaming.StreamingQuery): Option[String] =
    q.exception.map(e =>
      Option(e.cause).map(c => s"${c.getClass.getSimpleName}: ${c.getMessage}")
        .getOrElse(e.getMessage))

  /** Stop the job's streaming query. Only the EXPECTED termination
    * exception is caught; whatever error actually killed the query is
    * surfaced into the job status (`q.exception`) instead of being
    * silently discarded — a job that died with an error must not be
    * reported as a clean PAUSED/STOPPED and blindly RESUMEd. */
  // draining happens OUTSIDE the monitor via preDrain (holding the
  // lock through processAllAvailable would hang every status scrape) —
  // halt itself only stops; it has no in-lock drain mode
  private def halt(j: Job): Unit = {
    j.handle.foreach { q =>
      // stop() runs first so whatever error killed the query surfaces
      // into the job status; the handle is cleared in finally — never
      // leave a dead query reported RUNNING.
      var stopped = false
      try {
        q.stop()
        // stop() returned: the query IS stopped. Mark it BEFORE the
        // await — an interrupt (or any non-SQE failure) during
        // awaitTermination must not leave a stopped query reported
        // RUNNING with its handle kept (r13 advice)
        stopped = true
        try q.awaitTermination() catch { case _: StreamingQueryException => () }
      } finally {
        j.lastError = deathError(q)
        if (j.lastError.isDefined) {
          // the query DIED with an error — stop() throwing is moot
          j.breaker.recordFailure()
          j.handle = None
          if (j.status == "RUNNING") j.status = "STOPPED"
        } else if (stopped) {
          // breaker health signal: success is COMPLETED WORK, not mere
          // liveness (the superviseOnce invariant) — and the SAME
          // NEWLY-committed guard supervision uses: crediting
          // lastProgress.batchId >= 0 re-credited already-credited
          // batches on every clean stop, and Spark's no-data progress
          // events let idle pause/resume cycles close a HALF_OPEN
          // breaker with zero new work (r12 review)
          val batch = Option(q.lastProgress).map(_.batchId).getOrElse(-1L)
          if (batch > j.lastSeenBatch) {
            j.lastSeenBatch = batch
            j.breaker.recordSuccess()
          }
          // the query is STOPPED: no further signals can arrive, so any
          // still-unresolved HALF_OPEN trial must release its slot NOW
          // (a partial trial — fewer than successThreshold batches —
          // otherwise wedged every future launch behind it; no-op
          // unless a trial is actually in flight, r12 review)
          j.breaker.abandonTrial()
          j.handle = None
          if (j.status == "RUNNING") j.status = "STOPPED"
        }
        // stop() itself threw and the query has NOT died: the stream may
        // still be running. Keep the handle — supervision still owns the
        // live query (clearing it would orphan an active writer that
        // nothing tracks or enforces, r12 review); the exception
        // propagates to the caller.
      }
    }
  }

  private def record(j: Job, version: String, body: VeloStatement,
                     props: Map[String, String], strategy: String): Version = {
    seqCounter += 1
    val v = Version(version, body, strategy, props, seqCounter)
    // APPEND only — same-version-string compaction happens after a
    // SUCCESSFUL launch (guardedLaunch), never before the outcome is
    // known
    j.versions = j.versions :+ v
    v
  }

  /** Pre-launch gate (the reference's StreamJobServer validation): a
    * body that fails semantic analysis never reaches `launch`, so a bad
    * DEPLOY leaves the running version untouched. */
  private def gate(verb: String, name: String, body: VeloStatement): Unit = {
    // the name becomes a PATH SEGMENT under the state root, and
    // backtick-quoted identifiers can carry arbitrary characters — a
    // name with separators or '..' would checkpoint OUTSIDE the root
    if (name.isEmpty || name.contains("/") || name.contains("\\")
      || name.contains("..") || name.contains("\u0000"))
      throw new ParseException(
        s"$verb JOB rejected: job name must be a single path-safe segment, got `$name`")
    val errors = validate(body)
    if (errors.nonEmpty)
      throw new ParseException(s"$verb JOB $name rejected: ${errors.mkString("; ")}")
  }

  /** Legacy digest formula (MD5 of the statement's toString) used by
    * builds before the injective canonical() rendering. Accepted as a
    * FALLBACK match only: without it, the first restart over a durable
    * root stamped by an earlier build would read a false mismatch,
    * epoch-bump, and silently re-read the source from scratch — the
    * exact re-read the offset-exact resume exists to prevent. New
    * stamps are always written with the canonical fingerprint. */
  private def legacyFingerprint(body: VeloStatement): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(body.toString.getBytes("UTF-8")).map("%02x".format(_)).mkString

  /** Does the recovered epoch's on-disk fingerprint stamp name `body`?
    * Meaningful only for a job with no in-process history whose epoch
    * was recovered from a durable root — a missing/unreadable stamp
    * reads false (fresh epoch, never foreign offsets). */
  private def recoveredBodyMatches(j: Job, body: VeloStatement): Boolean = {
    val stamp = readMeta(s"${j.root}/body-${j.epoch}.fp")
    stamp.contains(bodyFingerprint(body)) || stamp.contains(legacyFingerprint(body))
  }

  /** Every gate a START or DEPLOY runs, all BEFORE the job registers:
    * a rejected statement must not leave a phantom job in the registry
    * — SHOW JOBS would list it, hasJob would suppress the validator's
    * unknown-job warnings, and each rejection would leak the Job's temp
    * directory. The limit props parse and the admission run before any
    * state change too: a malformed limit or a full cluster rejects the
    * statement, not the job state (and never stops a running version).
    * Returns the (possibly new) job and the statement's limits. */
  private def admit(verb: String, name: String, body: VeloStatement,
                    props: Map[String, String]): (Job, Resources.Limits) = {
    gate(verb, name, body)
    jobs.get(name).foreach(gateBreaker)
    val lims = Resources.Limits.fromProps(props, defaultLimits)
    gateConcurrency(name, lims)
    (jobs.getOrElseUpdate(name, new Job(name)), lims)
  }

  def start(name: String, body: VeloStatement, props: Map[String, String]): DataFrame = synchronized {
    if (jobs.get(name).exists(_.status == "RUNNING"))
      throw new ParseException(s"job $name is already running")
    val (j, lims) = admit("START", name, body, props)
    // Restarting a stopped job with a DIFFERENT body must not reuse the
    // old checkpoint (offsets/state belong to the old query — resuming a
    // new query on them is unsupported) or append into the old sink dir:
    // a fresh epoch gives it clean checkpoint + sink, like deploy(). The
    // same rule holds across RESTARTS (durable root, no in-process
    // history): the recovered epoch's fingerprint names the body its
    // checkpoint belongs to — a different body gets a fresh epoch
    // instead of resuming foreign offsets/state.
    val fresh = j.current.exists(_.body != body) ||
      (j.current.isEmpty && j.recovered && !recoveredBodyMatches(j, body))
    val v = record(j, j.current.map(_.version).getOrElse("1.0.0"), body, props,
      j.current.map(_.strategy).getOrElse("NONE"))
    transition(j, v, lims, freshEpoch = fresh, newRecord = true)
    statusDf(Some(name))
  }

  /** The one lifecycle transition START, DEPLOY, ROLLBACK and RESUME
    * launch through: optionally enter a fresh checkpoint/sink epoch,
    * install the statement's limits, and launch. All of it is
    * SPECULATIVE until the launch succeeds; a failed launch reverts it
    * and rethrows, so the job keeps its last-good checkpoint, sink and
    * limits:
    *  - the epoch (r14 review): a bump left in place abandoned the old
    *    body's INTACT checkpoint — a re-START of the original body
    *    (j.current is unchanged on failure) ran on the failed epoch's
    *    empty checkpoint and re-read the source from scratch, real data
    *    loss on a source whose retention expired;
    *  - the limits (r17 review): the doomed statement's limits stayed
    *    attached to the last-good version — a 1 MB total_memory on a
    *    failed DEPLOY killed the subsequent RESUME of the healthy body
    *    via recordResources, and gateConcurrency admitted against the
    *    dead statement's cap.
    * Metric state is wiped on epoch entry and not restorable —
    * epoch-scoped telemetry restarts; offsets must not. */
  private def transition(j: Job, v: Version, lims: Resources.Limits,
                         freshEpoch: Boolean, newRecord: Boolean): Unit = {
    val prior = JobManager.EpochState(j.epoch, j.recovered, j.lastSeenBatch, j.sink, j.limits)
    if (freshEpoch) {
      j.epoch += 1
      j.recovered = false
      // the fresh checkpoint restarts batchIds at 0 — a stale high-water
      // mark would starve breaker successes for the whole new epoch and
      // let intermittent crashes trip the breaker on a healthy job
      j.lastSeenBatch = -1L
      resetMetricState(j.name) // the new epoch re-reads the source — drop old totals
    }
    j.limits = lims
    try guardedLaunch(j, v, newRecord)
    catch { case e: Throwable => revert(j, prior); throw e }
  }

  /** Undo a failed transition, then restore the `prior` state. */
  private def revert(j: Job, prior: JobManager.EpochState): Unit = {
    def dropPath(p: String): Unit =
      try { val (fs, hp) = rootFs(p); if (fs.exists(hp)) { fs.delete(hp, true); () } }
      catch { case scala.util.control.NonFatal(_) => () }
    // restore a stashed declared-sink reset FIRST (j.sink/j.epoch still
    // carry the failed attempt's values here): the stash holds the
    // LAST-GOOD output — launch moves it aside instead of deleting
    // precisely so this revert can bring it back (r16 review). Only
    // when THIS attempt bound the path: launch binds right after a
    // successful stash, so an unchanged binding means this attempt
    // never moved anything — restoring anyway could move an ORPHANED
    // crash stash (same epoch number, left by a previous process) over
    // the path's CURRENT committed contents, destroying data on a
    // failure path that never touched the sink (r17 review). Orphans
    // stay in place for manual recovery by design; the one narrowed case
    // is a mid-stash rename failure (entries moved, never bound), which
    // the stash's own loud IOException surfaces with the trash path
    // named. This holds without an epoch bump too: a brand-new job's
    // first START stashes a pre-existing declared dir, and an
    // unrestored stash was deleted by the next successful launch's
    // dropSinkTrash (r16 advice). The attempt's durable sink stamp goes
    // with it, so a RETRY stashes again instead of starting over
    // pre-existing files; a binding that predates the attempt keeps its
    // real stamp for crash recovery.
    if (j.sink != prior.sink) j.sink.foreach {
      case (ep, Some(p)) =>
        try restoreSinkTrash(p, ep) catch { case scala.util.control.NonFatal(_) => () }
        dropPath(s"${j.root}/sink-$ep.path")
      case _ => ()
    }
    // a fresh epoch's part-written checkpoint/sink dirs and stamps go,
    // so the next bump (same number) starts clean
    if (j.epoch != prior.epoch)
      Seq(j.ckptDir, j.sinkDir, s"${j.root}/body-${j.epoch}.fp", s"${j.root}/sink-${j.epoch}.path")
        .foreach(dropPath)
    j.epoch = prior.epoch
    j.recovered = prior.recovered
    j.lastSeenBatch = prior.lastSeenBatch
    j.sink = prior.sink
    j.limits = prior.limits
  }

  /** Best-effort drain OUTSIDE the JobManager monitor:
    * processAllAvailable blocks unboundedly on a continuously-producing
    * source, and holding the monitor through it would hang every status
    * scrape (/health, /jobs) and the listener-bus callbacks for the
    * duration. The in-lock halt then stops without draining; any sliver
    * that arrives between drain and stop is bounded by the lock
    * acquisition gap, and halt() handles a handle that vanished
    * meanwhile. */
  private def preDrain(name: String): Unit = {
    val h = synchronized(jobs.get(name).flatMap(_.handle))
    h.foreach(q => try q.processAllAvailable()
      catch { case scala.util.control.NonFatal(_) => () })
  }

  def stop(name: String, force: Boolean): DataFrame = {
    if (!force) preDrain(name)
    synchronized {
      val j = job(name)
      halt(j)
      // a STOPPED batch job must not pin its materialization in
      // executor memory for the rest of the session — only a relaunch
      // ever released it (r16 review). The <job>_out view stays
      // registered: post-stop scrapes recompute lazily, the same rule
      // VeloContext.close() applies to abandoned materializations.
      j.batchCache.foreach(_.unpersist(blocking = false))
      j.batchCache = None
      j.status = "STOPPED"
      statusDf(Some(name))
    }
  }

  def pause(name: String): DataFrame = {
    preDrain(name) // checkpoint retained — resume continues exactly-once
    synchronized {
      val j = job(name)
      if (j.status != "RUNNING") throw new ParseException(s"job $name is not running")
      // the handle check scopes the death rule to STREAMING pauses: a
      // batch job has no query to die, and its j.lastError may carry a
      // STALE earlier failure that must not fail a healthy pause
      val wasStreaming = j.handle.isDefined
      halt(j)
      // halt surfaces the error of a query that DIED before the pause
      // — reporting it as a clean PAUSED would invite a blind RESUME
      // (halt's own rule); the supervision convention (FAILED) applies
      // (r17 review)
      j.status =
        if (wasStreaming && j.lastError.isDefined) "FAILED" else "PAUSED"
      statusDf(Some(name))
    }
  }

  def resume(name: String): DataFrame = synchronized {
    val j = job(name)
    if (j.status != "PAUSED" && j.status != "STOPPED")
      throw new ParseException(s"job $name is not paused")
    val v = j.current.getOrElse(throw new ParseException(s"job $name has no version to resume"))
    gateBreaker(j)
    gateConcurrency(name, j.limits) // re-admission counts against the limit too
    // same epoch → same checkpoint + sink → offset-exact resume
    transition(j, v, j.limits, freshEpoch = false, newRecord = false)
    statusDf(Some(name))
  }

  /** Strategy semantics match the REFERENCE's executor
    * (processors/job.rs:220-232): the strategy is validated, recorded,
    * and surfaced in status, but every strategy except REPLACE executes
    * the same drain → full-cutover transition (the reference's own
    * "full implementation would apply the strategy" placeholder).
    * CANARY's percentage therefore gates nothing here, as there. */
  def deploy(name: String, version: String, body: VeloStatement,
             props: Map[String, String], strategy: DeployStrategy): DataFrame = {
    // REPLACE = stop old fast; others drain — OUTSIDE the monitor (see
    // preDrain). A gate rejection after the drain wastes the drain, but
    // never touches job state.
    if (strategy != Replace) preDrain(name)
    synchronized {
    val (j, lims) = admit("DEPLOY", name, body, props)
    val stratStr = strategy match {
      case BlueGreen => "BLUE_GREEN"
      case Canary(p) => s"CANARY($p)"
      case Rolling => "ROLLING"
      case Replace => "REPLACE"
    }
    // APPLICATION restart continuity (the reference's deployment
    // recovery: a restarted server re-deploys the same app and each
    // job's consumer group resumes from its COMMITTED offsets —
    // stream_job_server.rs's shutdown waits for offset commits
    // precisely so the next deploy continues there, not from the
    // beginning of the topic). A DEPLOY reaching a RECOVERED epoch
    // (fresh manager over a durable root, no in-process history) whose
    // body matches the epoch's fingerprint stamp IS that restart:
    // resume the epoch's checkpoint offset-exact instead of opening a
    // fresh blue-green epoch and re-reading the source from scratch.
    // Evaluated BEFORE record() — record sets j.current.
    val resumesRecovered = j.current.isEmpty && j.recovered && recoveredBodyMatches(j, body)
    val v = record(j, version, body, props, stratStr)
    // halt() can throw with the OLD query still alive (stop() failed,
    // documented keep-handle path): the NEW version then never reaches
    // guardedLaunch, whose newRecord cleanup is the only thing keeping
    // never-run bodies out of ROLLBACK history — drop it here too (r14
    // review; same rule as guardedLaunch's breaker-rejection arm)
    try halt(j)
    catch { case e: Throwable =>
      j.versions = j.versions.filterNot(_.seq == v.seq)
      throw e
    }
    // fresh sink+checkpoint epoch; the old sink survives for rollback
    transition(j, v, lims, freshEpoch = !resumesRecovered, newRecord = true)
    statusDf(Some(name))
    }
  }

  def rollback(name: String, target: Option[String]): DataFrame = {
    preDrain(name)
    synchronized {
    val j = job(name)
    gateBreaker(j)
    val cur = j.current.getOrElse(throw new ParseException(s"job $name has no deployment"))
    val v = target match {
      case Some(ver) => j.versions.find(_.version == ver)
        .getOrElse(throw new ParseException(s"job $name has no version $ver"))
      // a FAILED deploy leaves `current` at the LAST-GOOD version (the
      // doomed version never enters history — guardedLaunch drops it):
      // rollback must relaunch that last-good current FIRST — falling
      // through to an earlier version would silently skip it and land
      // the job two versions back. Keyed on launchFailed, NOT on
      // status == "FAILED": runtime deaths (supervision, resource
      // trips) also set FAILED, but there `current` IS the version
      // that just died — relaunching it would redeploy the failure.
      case None => (if (j.launchFailed) Some(cur) else None)
        .orElse(j.versions.filter(_.seq < cur.seq).lastOption)
        // stopped job, no earlier version: relaunching the current is
        // still better than dead-ending on 'no previous version'
        .orElse(if (j.status != "RUNNING") Some(cur) else None)
        .getOrElse(throw new ParseException(s"job $name has no previous version"))
    }
    val lims = Resources.Limits.fromProps(v.props, defaultLimits)
    gateConcurrency(name, lims)
    halt(j)
    // the rollback epoch re-reads the source from scratch
    transition(j, v, lims, freshEpoch = true, newRecord = false)
    statusDf(Some(name))
    }
  }

  /** One supervision pass over every job (the reference's resource
    * manager runs this continuously; here it is an explicit, schedulable
    * tick so behavior stays deterministic): a RUNNING job whose query
    * died records a breaker failure and either restarts on the SAME
    * checkpoint epoch (exactly-once continuation) or — once the breaker
    * trips OPEN — is left FAILED, bounding a crash loop at
    * `failureThreshold` restarts per recovery window. A healthy query
    * records a success. Returns the post-supervision status frame. */
  def superviseOnce(autoRestart: Boolean = true): DataFrame = synchronized {
    jobs.values.foreach { j =>
      j.handle match {
        case Some(q) if j.status == "RUNNING" && !q.isActive =>
          // FENCING over a shared durable root: if another manager has
          // launched this job since (its owner stamp replaced ours),
          // our query was stopped by the takeover, not a crash — an
          // auto-restart here would stop THEIR query in turn
          // (spark.sql.streaming.stopActiveRunOnRestart) and the two
          // supervisors would ping-pong restarts until both breakers
          // burned OPEN. The superseded manager stands down instead.
          val fenced = stateRoot.isDefined &&
            readMeta(s"${j.root}/owner").exists(_ != managerId)
          if (fenced) {
            j.handle = None
            j.status = "STOPPED"
            j.lastError = Some("fenced: job state root taken over by another manager")
            // losing ownership is not a health outcome for OUR breaker —
            // but it does end any HALF_OPEN trial this launch was running
            j.breaker.abandonTrial()
          } else {
            j.lastError = deathError(q).orElse(Some("query terminated unexpectedly"))
            j.handle = None
            j.breaker.recordFailure()
            j.status = "FAILED"
            if (autoRestart && j.breaker.allowsLaunch)
              j.current.foreach { v =>
                try guardedLaunch(j, v) catch { case _: Throwable => () }
              }
          }
        case Some(q) if j.status == "RUNNING" && q.isActive =>
          // a breaker success is COMPLETED WORK (a newly committed
          // micro-batch), not mere liveness: crediting "still alive"
          // every tick would reset consecutiveFailures between the
          // crashes of any loop with period > 1 tick, and the breaker
          // could never trip — the exact doomed-restart burn it exists
          // to bound
          val batch = Option(q.lastProgress).map(_.batchId).getOrElse(-1L)
          if (batch > j.lastSeenBatch) {
            j.lastSeenBatch = batch
            j.breaker.recordSuccess()
          }
        case _ => ()
      }
    }
    statusDf(None)
  }

  /** Manually close a job's breaker after fixing the root cause. */
  def resetBreaker(name: String): Unit = synchronized { job(name).breaker.reset() }

  /** Whether this manager owns a job of that name. */
  def hasJob(name: String): Boolean = synchronized(jobs.contains(name))

  /** Cheap per-job generation stamp — changes on every lifecycle
    * transition that can change what the job's metrics MEAN
    * (START/DEPLOY/ROLLBACK bump the epoch or append a version;
    * STOP/PAUSE/RESUME flip status). The HTTP layer keys its metrics
    * cache on this, so a DEPLOY/ROLLBACK issued through the SQL
    * surface — bypassing the HTTP arms' own eviction — invalidates
    * cached numbers too instead of serving the previous generation's
    * last_batch_id/sink_rows for a TTL window (r15 review). */
  def generationOf(name: String): Option[String] = synchronized(
    jobs.get(name).map(j =>
      s"${j.epoch}:${j.versions.length}:${j.status}:${j.current.map(_.version).getOrElse("")}"))

  /** Remove this manager's progress listener from the shared session
    * (VeloContext.close) — a discarded manager must not stay on the
    * session's listener bus. */
  def detachListeners(): Unit = synchronized(spark.streams.removeListener(progressListener))

  // ---- SHOW surfaces ----

  def jobsDf(pattern: Option[String]): DataFrame = synchronized {
    import spark.implicits._
    jobs.values.toSeq
      .filter(j => pattern.forall(p => JobManager.likeMatch(j.name, p)))
      .map(j => (j.name, j.status, j.current.map(_.version).getOrElse(""), j.versions.length))
      .toDF("job_name", "status", "version", "n_versions")
  }

  /** Pure driver-side status snapshot — no DataFrame. The HTTP scrape
    * surface (/health, /jobs, every Prometheus poll) reads this a few
    * times per second worst-case; paying Spark analysis+planning per
    * scrape, and holding this monitor for the DataFrame detour, buys
    * nothing for a handful of in-memory strings. */
  def statusRows(name: Option[String]): Seq[JobManager.JobStatusRow] = synchronized {
    jobs.values.toSeq
      .filter(j => name.forall(_ == j.name))
      .map { j =>
        JobManager.JobStatusRow(j.name, j.status, j.current.map(_.version).getOrElse(""),
          j.current.map(_.strategy).getOrElse(""),
          j.handle.exists(_.isActive), j.batchView.getOrElse(""),
          j.lastError.getOrElse(""), j.breaker.currentState)
      }
  }

  def statusDf(name: Option[String]): DataFrame = {
    import spark.implicits._
    statusRows(name)
      .map(r => (r.name, r.status, r.version, r.strategy, r.isActive, r.batchView,
        r.error, r.breaker))
      .toDF("job_name", "status", "version", "strategy", "is_active", "batch_view",
        "error", "breaker")
  }

  def versionsDf(name: String): DataFrame = synchronized {
    import spark.implicits._
    val j = job(name)
    j.versions.map(v =>
        (j.name, v.version, v.strategy, v.seq,
          j.current.exists(_.version == v.version)))
      .toDF("job_name", "version", "strategy", "deploy_seq", "is_current")
  }

  /** Per-job runtime metrics from the StreamingQuery's progress (the
    * reference's JobMetrics); batch jobs report materialized rows.
    * Registry state snapshots under the lock; the sink COUNTS run
    * OUTSIDE it — scanning a growing parquet sink while holding the
    * monitor would stall the listener thread and every job operation
    * for the duration of each metrics/report scrape. */
  def metricsDf(name: Option[String]): DataFrame = {
    import spark.implicits._
    val snaps = synchronized {
      jobs.values.toSeq
        .filter(j => name.forall(_ == j.name))
        .map { j =>
          val (batches, inRows) = j.handle.flatMap(q => Option(q.lastProgress)) match {
            case Some(p) => (p.batchId, p.numInputRows)
            case None => (-1L, 0L)
          }
          (j.name, j.status, batches, inRows, output(j))
        }
    }
    snaps.map { case (n, st, batches, inRows, out) =>
        // the count runs OUTSIDE the lock and degrades to 0: a concurrent
        // deploy that swaps the job to a streaming body drops the view,
        // and an unguarded count would crash the whole metrics scrape
        (n, st, batches, inRows, try out().count() catch { case _: Throwable => 0L })
      }
      .toDF("job_name", "status", "last_batch_id", "last_batch_input_rows", "sink_rows")
  }

  /** SHOW RESOURCES [job] — per-job resource usage vs limits (reference
    * `get_all_resource_usage` + threshold classification,
    * resource_manager.rs:231/276). One row per (job, resource) the
    * tracker has observed; the global admission resource
    * `concurrent_operations` keys under job `*`. `limit` is null for
    * untracked-limit rows; `level` is OK / WARNING / CRITICAL /
    * EXHAUSTED per the job's thresholds. */
  /** Pure driver-side resource snapshot (same scrape-path rationale as
    * [[statusRows]]). */
  def resourceRows(name: Option[String]): Seq[JobManager.ResourceRow] = synchronized {
    // the '*' admission row is only WRITTEN at launch attempts, so after
    // jobs stop it kept reporting the last attempt's demand (a rejected
    // launch read EXHAUSTED forever with zero jobs running). Reads are
    // the surface that matters — refresh `current` from the live
    // RUNNING count here, keeping the recorded limit/peak/violations
    // (r12 review)
    metricSpecs.synchronized {
      resourceState.get(("*", "concurrent_operations")).foreach { u =>
        val running = jobs.values.count(x => x.status == "RUNNING" && x.handle.isDefined)
        resourceState(("*", "concurrent_operations")) = u.observed(running.toDouble, u.limit)
      }
    }
    val snapshot = metricSpecs.synchronized(resourceState.toVector)
    snapshot
      .filter { case ((jn, _), _) => name.forall(n => jn == n || jn == "*") }
      .sortBy { case ((jn, res), _) => (jn, res) }
      .map { case ((jn, res), u) =>
        val (warn, crit) = jobs.get(jn).map(j => (j.limits.warningPct, j.limits.criticalPct))
          .getOrElse((defaultLimits.warningPct, defaultLimits.criticalPct))
        val pct = u.limit.filter(_ > 0).map(l => math.round(u.current / l * 1000.0) / 10.0)
        JobManager.ResourceRow(jn, res, u.current, u.peak, u.limit, pct,
          Resources.level(u.current, u.limit, warn, crit), u.violations)
      }
  }

  def resourcesDf(name: Option[String]): DataFrame = {
    import spark.implicits._
    resourceRows(name)
      .map(r => (r.jobName, r.resource, r.current, r.peak, r.limit, r.utilizationPct,
        r.level, r.violations))
      .toDF("job_name", "resource", "current", "peak", "limit", "utilization_pct",
        "level", "violations")
  }

  /** Block until the job's streaming query has drained all available
    * source data (test/ops synchronization point). The handle is
    * snapshotted UNDER the lock (every other accessor synchronizes; an
    * unguarded read could observe the jobs map mid-rehash or a stale
    * handle) and the unbounded drain runs outside it. */
  def awaitIdle(name: String): Unit = {
    val h = synchronized(job(name).handle)
    h.foreach(_.processAllAvailable())
  }

  /** The job's current output: batch view or executor-written sink
    * (the epoch's declared INTO location when one is bound, else the
    * epoch dir). */
  def sinkDf(name: String): DataFrame = synchronized(output(job(name)))()

  /** The job's output reader, resolved from a snapshot taken under the
    * lock (call this inside it) and run OUTSIDE it (the statusRows
    * rule): spark.read schema inference lists files and reads footers
    * — seconds on object stores — and holding the monitor through it
    * stalled the listener-bus callbacks and every START/STOP/status call
    * for the duration (r16 review). */
  private def output(j: Job): () => DataFrame = {
    val (view, dir) = (j.batchView, j.sinkDir)
    val declared = j.sink.collect { case (e, Some(p)) if e == j.epoch => p }
    () => view.map(spark.table).getOrElse(declared match {
      case Some(p) => graft.sources.Serde.readFileUri(spark, p)
      case None => spark.read.parquet(dir)
    })
  }

  /** Declared-sink reset through the Hadoop FileSystem API: a
    * java.nio-only clear silently NO-OPs on hdfs://-or-s3a:// declared
    * sinks (Paths.get of a URI is never a local directory), leaving the
    * previous epoch's _spark_metadata to swallow the new epoch's
    * restarted batch ids — the exact corruption the reset prevents.
    * Hadoop's local filesystem covers plain paths through the same
    * code path. Touches CONTENTS only (the dir itself, whose existence
    * and permissions the user may own, stays).
    *
    * The reset MOVES entries
    * aside into a dot-prefixed trash child (hidden from Spark/Hadoop
    * readers) rather than deleting them: launch can still fail AFTER
    * the reset (start() analysis errors), and revert cannot
    * restore deleted data — the delete form meant a failed DEPLOY
    * permanently destroyed the last-good epoch's committed output at
    * the declared location (r16 review). The stash is dropped once the
    * launch succeeds and restored by revert on failure. A
    * stash orphaned by a crash between reset and stamp is left in
    * place (hidden, manual recovery) — deleting it on the next launch
    * would re-create the unrecoverable-loss window. */
  private def stashSinkDir(path: String, epoch: Int): Unit = {
    val (fs, p) = rootFs(path) // the ONE fs resolution (r17 review)
    if (fs.exists(p) && fs.getFileStatus(p).isDirectory) {
      val entries = fs.listStatus(p)
        .filterNot(_.getPath.getName.startsWith(".graft-trash"))
      if (entries.nonEmpty) {
        val trash = new org.apache.hadoop.fs.Path(p, s".graft-trash-$epoch")
        fs.mkdirs(trash)
        entries.foreach { st =>
          val dst = new org.apache.hadoop.fs.Path(trash, st.getPath.getName)
          if (fs.exists(dst)) fs.delete(dst, true) // retried launch, stale stash entry
          // rename reports failure as FALSE, not an exception (object
          // stores and cross-fs moves commonly do) — a swallowed false
          // leaves stale files + _spark_metadata in the sink dir, the
          // exact corruption this reset exists to prevent; fail the
          // launch loudly instead (r16 advice)
          if (!fs.rename(st.getPath, dst))
            throw new java.io.IOException(
              s"declared-sink reset: failed to move ${st.getPath} aside to $dst")
        }
      }
    }
  }

  /** Commit a sink reset: the new epoch's query is up, the stash is
    * garbage. Best-effort — a surviving trash dir is hidden and only
    * costs disk. */
  private def dropSinkTrash(path: String, epoch: Int): Unit =
    try {
      val (fs, base) = rootFs(path) // the ONE fs resolution (r17 review)
      val trash = new org.apache.hadoop.fs.Path(base, s".graft-trash-$epoch")
      if (fs.exists(trash)) { fs.delete(trash, true); () }
    } catch { case scala.util.control.NonFatal(_) => () }

  /** Undo a sink reset after a failed launch: move the stashed entries
    * back (the failed attempt's leftovers, if any, are the garbage —
    * the stash is the last-good data) and drop the trash dir. */
  private def restoreSinkTrash(path: String, epoch: Int): Unit = {
    val (fs, p) = rootFs(path) // the ONE fs resolution (r17 review)
    val trash = new org.apache.hadoop.fs.Path(p, s".graft-trash-$epoch")
    if (fs.exists(trash)) {
      // the failed attempt may have left entries of its own — the
      // doomed FileStreamSink creates an empty _spark_metadata before
      // start() throws — and a leftover the stash does not happen to
      // shadow corrupts the restored dir (an empty metadata log makes
      // readers see zero files). The stash holds the COMPLETE pre-launch
      // contents, so everything else here is the failed attempt's
      // garbage (r17: found by the first-START restore spec).
      fs.listStatus(p).map(_.getPath)
        .filterNot(_.getName.startsWith(".graft-trash"))
        .foreach(g => { fs.delete(g, true); () })
      fs.listStatus(trash).foreach { st =>
        val dst = new org.apache.hadoop.fs.Path(p, st.getPath.getName)
        if (fs.exists(dst)) fs.delete(dst, true)
        // a false rename here means the entry is STILL IN THE TRASH —
        // throwing (before the trash delete below) keeps it recoverable
        // instead of silently deleting the last-good data (r16 advice)
        if (!fs.rename(st.getPath, dst))
          throw new java.io.IOException(
            s"sink-reset revert: failed to move ${st.getPath} back to $dst")
      }
      fs.delete(trash, true)
      ()
    }
  }
}

object JobManager {

  /** Injective rendering of a statement tree for fingerprinting.
    * Case-class toString is delimiter-ambiguous — Map("a" -> "x, b -> y")
    * and Map("a" -> "x", "b" -> "y") render the same characters — so two
    * DIFFERENT bodies could share a fingerprint and the restart logic
    * would resume a checkpoint belonging to a different statement.
    * Strings are length-prefixed so no content can fake a delimiter;
    * maps sort their entries so iteration order cannot flip the hash. */
  private[sql] def canonical(x: Any): String = x match {
    case s: String => s"${s.length}:$s"
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, v) => canonical(k) + "=" + canonical(v) }
        .sorted.mkString("M{", ";", "}")
    case it: Iterable[_] => it.map(canonical).mkString("I[", ";", "]")
    case p: Product =>
      p.productPrefix + p.productIterator.map(canonical).mkString("(", ";", ")")
    case other => String.valueOf(other)
  }

  /** The epoch-scoped job state a failed transition restores (see
    * JobManager.transition). */
  private final case class EpochState(epoch: Int, recovered: Boolean, lastSeenBatch: Long,
                                      sink: Option[(Int, Option[String])],
                                      limits: Resources.Limits)

  /** Driver-side status snapshot row (see JobManager.statusRows). */
  final case class JobStatusRow(name: String, status: String, version: String,
                                strategy: String, isActive: Boolean, batchView: String,
                                error: String, breaker: String)

  /** Driver-side resource snapshot row (see JobManager.resourceRows). */
  final case class ResourceRow(jobName: String, resource: String, current: Double,
                               peak: Double, limit: Option[Double],
                               utilizationPct: Option[Double], level: String,
                               violations: Long)

  /** Job processor annotations (reference annotation_parser.rs /
    * job_processor_factory.rs). `jobMode` and `batchSize` are recorded
    * for discovery; `numPartitions`/`partitioningStrategy` execute (see
    * JobManager.applyPartitioning). */
  final case class JobConfig(jobMode: Option[String] = None,
                             batchSize: Option[Int] = None,
                             numPartitions: Option[Int] = None,
                             partitioningStrategy: Option[String] = None)
  /** SQL LIKE with % and _ (shell-style * also admitted, as the
    * reference's own test patterns use `user_*`). */
  private[sql] def likeMatch(s: String, pat: String): Boolean = {
    val sb = new StringBuilder
    pat.foreach {
      case '%' | '*' => sb.append(".*")
      case '_' => sb.append('.')
      case c => sb.append(java.util.regex.Pattern.quote(c.toString))
    }
    s.matches(sb.toString)
  }
}
