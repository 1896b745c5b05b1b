package graftbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryProgress

/** Benchmark harness entry point: one workload, one seed, one run.
  *
  * Prints a human-readable report, then as its last line one JSON object
  * {"correct", "attempted", "failed", "values"}: the end-to-end metrics
  * when untraced, the per-layer metrics when traced, by name (the runner
  * attaches the units BENCHMARK.json gives them). Exits 1 if any output
  * was wrong. */
object Main {
  final case class Outcome(attempted: Long, failed: Long, e2e: Map[String, Double],
                           layers: Map[String, Double], report: Seq[String])

  val Cores = 4
  val SetupReps = 3

  /** Calibration samples taken before the first and after the last session. */
  val CalReps = 3
  /** Curation: one pass warms the JVM and each key's generated code on
    * `WarmThreads` client threads (checked, not timed), then
    * `MeasuredPasses` passes are measured, one client. */
  val WarmThreads = 2
  val MeasuredPasses = 2

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opts("workload")
    val work = Paths.get(opts("work")).toAbsolutePath
    if (workload == "generate") {
      val spark = session(Cores)
      try DataGen.ensure(spark, work.resolve("data")) finally stop(spark)
      sys.exit(0)
    }
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val traced = opts("trace") == "1"
    val spans = new Spans
    val outcome = workload match {
      case "curation" => runCuration(seed, traced, work, readExpected(Paths.get(opts("expected"))), spans)
      case "stream_live" => runStream(seed, seconds, traced, work, spans)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    if (traced) {
      spans.writeJsonl(work.resolve(s"spans-$workload-$seed.jsonl"))
      val self = spans.selfTimeMs.toSeq.sortBy(-_._2)
      Files.write(work.resolve(s"selftime-$workload-$seed.json"),
        self.map { case (n, ms) => s""""${Json.esc(n)}":${Json.num(ms)}""" }
          .mkString("{", ",", "}\n").getBytes)
      println("self time per layer (ms): " +
        self.map { case (n, ms) => f"$n=$ms%.1f" }.mkString(" "))
    }
    outcome.report.foreach(println)
    val values = if (traced) outcome.layers else outcome.e2e
    val body = values.toSeq.sortBy(_._1).map { case (k, v) => s""""$k":${Json.num(v)}""" }
      .mkString(",")
    val correct = outcome.failed == 0
    println(s"""{"correct":$correct,"attempted":${outcome.attempted},""" +
      s""""failed":${outcome.failed},"values":{$body}}""")
    System.out.flush()
    sys.exit(if (correct) 0 else 1)
  }

  /** The curation keys and their expected row counts, from the committed
    * `{"<key>": <rows>, ...}` file. */
  def readExpected(path: Path): Map[String, Long] =
    """"(q\d+_[a-z0-9_]+)"\s*:\s*(\d+)""".r.findAllMatchIn(new String(Files.readAllBytes(path)))
      .map(m => m.group(1) -> m.group(2).toLong).toMap

  def peakRssMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)

  /** Seconds from JVM start to the start of measurement, and to now. */
  def timeline(measureStartMs: Double): String = {
    val jvm0 = ManagementFactory.getRuntimeMXBean.getStartTime.toDouble
    f"timeline: measurement began ${(measureStartMs - jvm0) / 1000}%.1f s after JVM start, " +
      f"results at ${(Clock.nowMs - jvm0) / 1000}%.1f s"
  }

  def gcMs(): Double = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(_.getCollectionTime.toDouble).sum
  def jitMs(): Double = ManagementFactory.getCompilationMXBean.getTotalCompilationTime.toDouble

  def session(cores: Int): SparkSession = {
    val s = graft.api.GraftSession(s"local[$cores]", cores)
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def stop(spark: SparkSession): Unit = {
    spark.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  def deleteTree(p: Path): Unit = if (Files.exists(p))
    Files.walk(p).sorted(java.util.Comparator.reverseOrder()).forEach(f => Files.delete(f))

  /** Mean milliseconds to parse one of `texts` through the dialect parser. */
  def parseMs(spark: SparkSession, texts: Seq[String], minMs: Double = 300): Double = {
    val ctx = new graft.sql.VeloContext(spark)
    try {
      texts.foreach(ctx.parseStatement)
      var n = 0L
      val t0 = System.nanoTime()
      while ((System.nanoTime() - t0) / 1e6 < minMs) {
        texts.foreach(ctx.parseStatement)
        n += texts.size
      }
      (System.nanoTime() - t0) / 1e6 / n
    } finally ctx.close()
  }

  /** Kernel throughput over the generated tables (generated if absent). */
  def kernels(spark: SparkSession, work: Path): Map[String, Double] = {
    DataGen.ensure(spark, work.resolve("data"))
    Kernels.measure(spark, work.resolve("data").toString)
  }

  // --------------------------------------------------------------- curation

  /** One set-up of the batch engine: a session, and the tables registered
    * through the dialect context and read once. */
  private def setupBatch(dataDir: Path): (SparkSession, Double) = {
    val t0 = System.nanoTime()
    val spark = session(Cores)
    val genS = DataGen.ensure(spark, dataDir) // generating inputs is not set-up
    val ctx = graft.sql.VeloContext.forDir(spark, dataDir.toString)
    try spark.table("nation").write.format("noop").mode("overwrite").save()
    finally ctx.close()
    (spark, (System.nanoTime() - t0) / 1e9 - genS)
  }

  def runCuration(seed: Long, traced: Boolean, work: Path, expected: Map[String, Long],
                  spans: Spans): Outcome = {
    val workload = "curation"
    val dataDir = work.resolve("data")
    val dir = dataDir.toString
    val keys = expected.keys.toSeq.sorted
    val report = mutable.ArrayBuffer.empty[String]
    val cal = mutable.ArrayBuffer.empty[Double] ++= Calib.samples(CalReps)
    var spark: SparkSession = null
    val setups = (0 until SetupReps).map { _ =>
      if (spark != null) stop(spark)
      val (s, secs) = setupBatch(dataDir)
      spark = s
      secs
    }
    val missing = keys.filterNot(graft.SparkEntry.queries.contains)
    require(missing.isEmpty, s"catalog lacks keys: ${missing.mkString(", ")}")

    // the warm-up pass is checked, not measured: a fresh JVM's first
    // pass is mostly JIT compilation and swings by 15-25% between runs
    val all = mutable.ArrayBuffer.empty[Batch.Timing]
    val warmStart = Clock.nowMs
    all ++= Batch.warm(spark, dir, keys, seed, 0, WarmThreads)
    val warmS = (Clock.nowMs - warmStart) / 1000
    cal ++= Calib.samples(2)
    val passStart = Clock.nowMs
    val layers = mutable.Map.empty[String, Double]
    var raw = Map.empty[String, Double]
    if (!traced) {
      val measured = (1 to MeasuredPasses).map { i =>
        val p = Batch.pass(spark, dir, keys, seed, i)
        cal ++= Calib.samples(1)
        p
      }
      val timings = measured.flatMap(_._2)
      all ++= timings
      // every key timing of the measured passes, pooled
      val lat = timings.map(_.seconds * 1000)
      raw = Map("setup_s" -> Stats.median(setups), "pass_s" -> Stats.median(measured.map(_._1)),
        "lat_p50_ms" -> Stats.median(lat), "lat_p90_ms" -> Stats.pct(lat, 0.9))
      report += f"[$workload] measured passes: " + measured.map(m => f"${m._1}%.3f").mkString("/") +
        f" s over ${keys.size} keys (warm-up pass on $WarmThreads threads $warmS%.3f" +
        f" s); query latency p50 ${raw("lat_p50_ms")}%.1f ms, p90 ${raw("lat_p90_ms")}%.1f ms " +
        s"(n=${lat.size}); set-ups " + setups.map(s => f"$s%.3f").mkString("/") + " s"
      report += s"[$workload] measured per key (s): " + timings.groupBy(_.key).toSeq.sortBy(_._1)
        .map { case (k, ts) => s"$k=" + ts.map(t => f"${t.seconds}%.3f").mkString("/") }.mkString(" ")
    } else {
      // every key runs once untraced and once traced, alternating which
      // goes first so that warm-up favours neither side: the traced
      // executions give the per-layer numbers, the difference the
      // tracing overhead
      val listener = new LayerListener(spans)
      val passSpan = spans.nextId()
      var gcMsSum = 0.0
      var jitMsSum = 0.0
      val pairs = Batch.order(keys, seed, 1).zipWithIndex.map { case (k, i) =>
        def plain() = Batch.runKey(spark, dir, k, 1, None)
        def withTrace() = {
          listener.register(spark)
          val gc0 = gcMs(); val jit0 = jitMs()
          try Batch.runKey(spark, dir, k, 1, Some((spans, listener, passSpan)))
          finally {
            gcMsSum += gcMs() - gc0
            jitMsSum += jitMs() - jit0
            listener.unregister(spark)
          }
        }
        if (i % 2 == 0) { val u = plain(); (u, withTrace()) }
        else { val t = withTrace(); (plain(), t) }
      }
      spans.add(Span(passSpan, passSpan, 0L, "pass.paired", passStart, Clock.nowMs))
      val (untraced, tracedRun) = pairs.unzip
      all ++= untraced ++= tracedRun
      val untracedS = untraced.map(_.seconds).sum
      val tracedS = tracedRun.map(_.seconds).sum
      val ids = tracedRun.flatMap(_.spans)
      def jobsOf(span: Long): Double =
        Option(listener.jobsPerGroup.get(s"span:$span")).map(_.sum.toDouble).getOrElse(0.0)
      layers ++= listener.snapshot
      layers ++= Map(
        "build.s" -> tracedRun.map(_.buildS).sum, "action.s" -> tracedRun.map(_.actionS).sum,
        "build.jobs" -> ids.map(i => jobsOf(i._2)).sum,
        "action.jobs" -> ids.map(i => jobsOf(i._3)).sum,
        "jvm.gc_ms" -> gcMsSum, "jvm.jit_ms" -> jitMsSum,
        "task.peak_mem_bytes" -> listener.all.peakMem.get.toDouble,
        "trace.overhead_pass_s" -> (tracedS - untracedS),
        "trace.overhead_lat_p50_ms" ->
          (Stats.median(tracedRun.map(_.seconds * 1000)) - Stats.median(untraced.map(_.seconds * 1000))))
      layers("task.occupancy") = layers("task.run_s") / (tracedS * Cores)
      val queryIds = ids.map(_._1).toSet
      for (phase <- Seq("analysis", "optimization", "planning"))
        layers(s"catalyst.${phase}_ms") = spans.all
          .filter(s => s.name == s"catalyst.$phase" && queryIds(s.trace))
          .map(s => s.endMs - s.startMs).sum
      report += f"[$workload] warm keys: untraced $untracedS%.3f s, traced $tracedS%.3f s in total"
      report += s"[$workload] jobs per key (build/action): " + tracedRun.sortBy(_.key).map { t =>
        val (_, b, a) = t.spans.get
        f"${t.key}=${jobsOf(b)}%.0f/${jobsOf(a)}%.0f"
      }.mkString(" ")
      layers ++= kernels(spark, work)
      // single-core baseline of one warm pass: how the pass scales with
      // cores tells orchestration-bound from compute-bound
      stop(spark)
      spark = session(1)
      val (oneS, one) = Batch.pass(spark, dir, keys, seed, 2)
      all ++= one
      layers("scale.curation_speedup_4v1") = oneS / untracedS
      report += f"[$workload] local[1] warm pass: $oneS%.3f s (local[$Cores]: $untracedS%.3f s)"
    }
    layers("jvm.peak_rss_mb") = peakRssMb()
    report += timeline(passStart)
    stop(spark)
    cal ++= Calib.samples(CalReps)
    layers("host.calib_ms") = Stats.median(cal.toSeq)
    val (e2e, _) = normalise(raw, cal.toSeq, report)
    val bad = all.filter(t => t.error.isDefined || !expected.get(t.key).contains(t.rows))
    bad.foreach(t => report += s"[$workload] WRONG ${t.key} (pass ${t.pass}): rows=${t.rows} " +
      s"expected=${expected.getOrElse(t.key, -1L)} ${t.error.getOrElse("")}")
    report += s"[$workload] rows: " + all.filter(_.pass == 0).sortBy(_.key)
      .map(t => s"${t.key}=${t.rows}").mkString(" ")
    if (!traced) report += f"summary: setup_s=${e2e("setup_s")}%.3f s pass_s=${e2e("pass_s")}%.3f s " +
      f"query_p50_s=${e2e("lat_p50_ms") / 1000}%.4f s query_p90_s=${e2e("lat_p90_ms") / 1000}%.4f s " +
      f"fail_frac=${bad.size.toDouble / all.size}%.4f peak_rss_mb=${layers("jvm.peak_rss_mb")}%.1f MB"
    Outcome(all.size, bad.size, e2e, layers.toMap, report.toSeq)
  }

  /** The end-to-end times expressed in the time of the reference host
    * (see Calib): each raw time times `Calib.RefMs` over the median
    * calibration sample of this run, and that factor. Raw values and
    * calibration samples go to the report. */
  def normalise(raw: Map[String, Double], cal: Seq[Double],
                report: mutable.ArrayBuffer[String]): (Map[String, Double], Double) = {
    val factor = Calib.RefMs / Stats.median(cal)
    report += f"calibration: samples ${cal.map(c => f"$c%.1f").mkString("/")} ms, factor $factor%.4f; " +
      "raw " + raw.toSeq.sorted.map { case (k, v) => f"$k=$v%.4f" }.mkString(" ")
    (raw.map { case (k, v) => k -> v * factor }, factor)
  }

  // ----------------------------------------------------------------- stream

  /** Steady-phase batches start this long after the generator's first tick. */
  val WarmupMs = 4000L

  def runStream(seed: Long, seconds: Double, traced: Boolean, work: Path, spans: Spans): Outcome = {
    import Stream._
    val base = work.resolve("stream")
    deleteTree(base)
    Files.createDirectories(base)
    val report = mutable.ArrayBuffer.empty[String]
    val cal = mutable.ArrayBuffer.empty[Double] ++= Calib.samples(CalReps)
    var spark = session(Cores)
    def newContext(s: SparkSession, root: String) = {
      s.conf.set("spark.sql.streaming.numRecentProgressUpdates", "100000")
      s.conf.set("graft.jobs.stateRoot", base.resolve(root).toString)
      new graft.sql.VeloContext(s)
    }
    var ctx = newContext(spark, "jobs")
    val setups = (0 until SetupReps).map(i => setupOnce(spark, ctx, base, i, seed))
    cal ++= Calib.samples(2)

    val inDir = Files.createDirectories(base.resolve("live-in"))
    ctx.registerStream("events_live", source(spark, inDir), "ts", "5 seconds")
    val t0 = (System.currentTimeMillis() / TickMs + 2) * TickMs
    val gen = new Generator(inDir, seed, t0)
    val generator = new GeneratorThread(gen)
    generator.start()
    ctx.sql(jobSql("live", "events_live"))
    val steadyFrom = t0 + WarmupMs
    val steadyUntil = steadyFrom + (seconds * 1000).toLong
    val mid = steadyFrom + (steadyUntil - steadyFrom) / 2
    def sleepUntil(ms: Double): Unit = {
      val w = ms - Clock.nowMs
      if (w > 0) Thread.sleep(w.toLong)
    }
    // traced: the first half of the steady phase runs untraced, the second
    // traced, so the difference is the tracing overhead
    val listener = new LayerListener(spans)
    if (traced) {
      sleepUntil(mid)
      listener.register(spark)
    }
    val before = listener.snapshot
    val gc0 = gcMs(); val jit0 = jitMs()
    sleepUntil(steadyUntil)
    val after = listener.snapshot
    val gc1 = gcMs(); val jit1 = jitMs()
    val steadyFiles = gen.published.size
    generator.finish()
    generator.failure.foreach(e => throw e)
    val q = handle(spark, "live")
    val d = drain(spark, ctx, "live", gen)
    val afterDrain = listener.snapshot
    ctx.sql("STOP JOB live")
    if (traced) listener.unregister(spark)

    val progress = q.recentProgress.toSeq
    val steady = progress.filter(p => startMs(p) >= steadyFrom && startMs(p) < steadyUntil)
    require(steady.nonEmpty, "no micro-batch started in the steady phase")
    val emitAt = progress.map(p => p.batchId -> endMs(p)).toMap
    val (state, emitted) = readSink(ctx, "live")
    val failed = reconcile(gen.expected, state)
    def latencies(ps: Seq[StreamingQueryProgress]): Seq[Double] = {
      val ids = ps.map(_.batchId).toSet
      emitted.filter(r => ids(r._1)).map { case (b, maxGenUs) => emitAt(b) - maxGenUs / 1000.0 }
    }
    val lat = latencies(steady)
    val p99 = Stats.pct(lat, 0.99)
    val raw = Map("setup_s" -> Stats.median(setups), "pass_s" -> d.seconds,
      "lat_p50_ms" -> Stats.median(lat), "lat_p90_ms" -> Stats.pct(lat, 0.9))
    val eps = BurstEvents / d.seconds
    report += f"[stream_live] ${steady.size} steady batches, ${lat.size} emitted rows: latency " +
      f"p50 ${raw("lat_p50_ms")}%.1f ms p90 ${raw("lat_p90_ms")}%.1f ms p99 $p99%.1f ms; " +
      f"drain of $BurstEvents events ${d.seconds}%.3f s ($eps%.0f events/s) in " +
      f"${d.batches.size} batches (first starts ${(d.batches.map(startMs).min - d.t0) / 1000}%.3f s " +
      f"after RESUME, triggers ${d.batches.map(dur(_, "triggerExecution")).sum / 1000}%.3f s); ${gen.events} events generated, $failed missing or " +
      "duplicated; set-ups " + setups.map(s => f"$s%.3f").mkString("/") + " s"

    val layers = mutable.Map("jvm.peak_rss_mb" -> peakRssMb())
    report += timeline(steadyFrom)
    if (traced) {
      val tracedSteady = steady.filter(p => startMs(p) >= mid)
      val untracedSteady = steady.filter(p => startMs(p) < mid)
      def p50(f: StreamingQueryProgress => Double) = Stats.median(tracedSteady.map(f))
      layers ++= Map(
        "stream.trigger_ms_p50" -> p50(dur(_, "triggerExecution")),
        "stream.add_batch_ms_p50" -> p50(dur(_, "addBatch")),
        "stream.planning_ms_p50" -> p50(dur(_, "queryPlanning")),
        "stream.offsets_ms_p50" -> p50(p => dur(p, "latestOffset") + dur(p, "getBatch")),
        "stream.commit_ms_p50" -> p50(p => dur(p, "walCommit") + dur(p, "commitOffsets")),
        "stream.jobs_per_batch" -> {
          val perBatch = listener.streamJobs.asScala.toSeq.groupBy(_._1)
          p50(p => perBatch.get(p.batchId).map(_.size.toDouble).getOrElse(0.0))
        },
        "state.rows" -> tracedSteady.last.stateOperators.map(_.numRowsTotal).sum.toDouble,
        "state.mem_bytes" -> tracedSteady.last.stateOperators.map(_.memoryUsedBytes).sum.toDouble,
        "state.commit_ms" -> p50(_.stateOperators.map(_.commitTimeMs).sum.toDouble),
        "drain.add_batch_s" -> d.batches.map(dur(_, "addBatch")).sum / 1000,
        "drain.task_cpu_s" -> (afterDrain("task.cpu_s") - after("task.cpu_s")),
        "gen.late_max_ms" -> gen.lateMaxMs(0, steadyFiles),
        "sources.lag_max_s" -> lagMaxS(gen, progress, steady),
        "job.pause_ms" -> d.pauseMs, "job.resume_ms" -> d.resumeMs,
        "sql.parse_ms" -> parseMs(spark, Seq(jobSql("live", "events_live"))),
        "trace.overhead_lat_p50_ms" ->
          (Stats.median(latencies(tracedSteady)) - Stats.median(latencies(untracedSteady))))
      after.foreach { case (k, v) => layers(k) = v - before(k) }
      layers("jvm.gc_ms") = gc1 - gc0
      layers("jvm.jit_ms") = jit1 - jit0
      layers("task.occupancy") = layers("task.run_s") / ((steadyUntil - mid) / 1000.0 * Cores)
      batchSpans(spans, tracedSteady ++ d.batches, listener)
      spans.root("job.pause", d.pauseAt, d.pauseAt + d.pauseMs)
      spans.root("job.drain", d.t0, d.t1)
      layers("task.peak_mem_bytes") = listener.all.peakMem.get.toDouble
      layers ++= kernels(spark, work)
      // single-core baseline of the same drain on a fresh job
      ctx.close()
      stop(spark)
      spark = session(1)
      ctx = newContext(spark, "jobs1")
      val dir1 = Files.createDirectories(base.resolve("one-in"))
      val gen1 = new Generator(dir1, seed + 7, System.currentTimeMillis() - 60000)
      gen1.burst(EventsPerTick)
      ctx.registerStream("events_one", source(spark, dir1), "ts", "5 seconds")
      ctx.sql(jobSql("one", "events_one"))
      ctx.jobManager.awaitIdle("one")
      val d1 = drain(spark, ctx, "one", gen1)
      ctx.sql("STOP JOB one")
      layers("scale.drain_speedup_4v1") = d1.seconds / d.seconds
      report += f"[stream_live] local[1] drain ${d1.seconds}%.3f s (local[$Cores]: ${d.seconds}%.3f s)"
    }
    ctx.close()
    stop(spark)
    cal ++= Calib.samples(CalReps)
    layers("host.calib_ms") = Stats.median(cal.toSeq)
    val (e2e, factor) = normalise(raw, cal.toSeq, report)
    report += f"summary: setup_s=${e2e("setup_s")}%.3f s " +
      f"stream_lat_p50_ms=${e2e("lat_p50_ms")}%.1f ms stream_lat_p90_ms=${e2e("lat_p90_ms")}%.1f ms " +
      f"stream_lat_p99_ms=${p99 * factor}%.1f ms stream_drain_eps=${eps / factor}%.0f 1/s " +
      f"fail_frac=${failed.toDouble / gen.events}%.6f peak_rss_mb=${layers("jvm.peak_rss_mb")}%.1f MB"
    Outcome(gen.events, failed, e2e, layers.toMap, report.toSeq)
  }

  /** Largest age of the oldest unread input file at the start of a steady
    * micro-batch. Files are read in publish order and each holds one tick. */
  private def lagMaxS(gen: Stream.Generator, progress: Seq[StreamingQueryProgress],
                      steady: Seq[StreamingQueryProgress]): Double = {
    val ids = steady.map(_.batchId).toSet
    var consumed = 0L
    var lag = 0.0
    progress.sortBy(_.batchId).foreach { p =>
      val oldest = (consumed / Stream.EventsPerTick).toInt
      if (ids(p.batchId) && oldest < gen.published.size)
        lag = math.max(lag, Stream.startMs(p) - gen.published(oldest)._2)
      consumed += p.numInputRows
    }
    lag / 1000
  }
}
