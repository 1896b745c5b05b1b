package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{count, lit}
import java.nio.file.{Files, Paths}

/** Benchmark harness. Runs each `SparkEntry.queries` entry against
  * `SPARK_GRAFT_SF_DIR` and emits ONE JSON line with per-query wall
  * seconds, row counts, and error status.
  *
  * Execution is forced through the `noop` sink (not `count()`): a
  * count() lets Catalyst prune every projection, so map-only queries
  * (lang-id, fingerprint, …) would bench at scan-only cost. The noop
  * sink materializes every output column and discards rows — the honest
  * per-operator cost, with zero write overhead.
  *
  * SELF-VALIDATION: the sandbox VM intermittently runs minutes-long ~2-17×
  * slowdown windows, which once corrupted a round artifact. A fixed
  * CPU-bound sentinel micro-job runs BEFORE and AFTER every timed query;
  * its wall time is a pure environment probe (same JIT-warm code every
  * run). The baseline is a running MIN over every probe, so a calibration
  * that itself landed in a stall self-corrects and flagged-but-unretried
  * queries are re-checked against the final gate. A query whose
  * surrounding sentinels exceed `slowGate` versus the baseline is
  * re-timed (up to 2 retries) until a run lands
  * inside a clean window; the per-query sentinel guards and retry counts
  * are written into the artifact so a corrupted run is detectable — and
  * diagnosable — from the JSON alone.
  *
  * Output goes to stdout AND to `SPARK_GRAFT_BENCH_OUT` (default
  * `bench_out.json` in the cwd) so the driver can parse it even when
  * sbt log prefixes mangle stdout.
  */
object Bench {
  /** Slow-window gate versus the running-min sentinel baseline. The
    * absolute floor exists only so a microsecond-scale baseline does not
    * flag ordinary scheduler jitter; the r5 run showed 0.4 s was wide
    * enough to also hide genuine 5-7x-baseline ambient windows (guards
    * of 0.22-0.30 s over a 0.043 s baseline passed untagged), so the
    * floor is 0.15 s — at a typical ~0.04 s baseline the gate sits near
    * 4.5x, tight enough that any multi-x VM stall triggers a re-timing.
    */
  def slowGateFor(baseline: Double): Double =
    math.max(2.5 * baseline, baseline + 0.15)

  /** Cross-run min-merge choice for ONE query, given each run's
    * (error, seconds): the fastest error-free run wins — ambient stalls
    * only ever add time, so the minimum over independently-scheduled
    * runs is the least noise-sensitive estimator — and an error is
    * committed only when every run errored (kept at run 0 so the
    * failure stays reported rather than vanishing into a merge).
    */
  def chooseRun(attempts: Seq[(Option[String], Double)]): Int = {
    val ok = attempts.zipWithIndex.filter(_._1._1.isEmpty)
    if (ok.nonEmpty) ok.minBy(_._1._2)._2 else 0
  }

  /** sibling_seals carry-forward (r15 verdict task 7): given the
    * PREVIOUS same-round BENCHFULL artifact text (None on first seal),
    * the JSON array of superseded seals' headlines — its own carried
    * siblings plus its (total, sentinel-normalized per-query median,
    * head). Entries are FLAT objects so this regex extraction stays
    * robust across re-seals. */
  def siblingSeals(prevArtifact: Option[String]): String = prevArtifact match {
    case None => "[]"
    case Some(prev) =>
      def f(re: scala.util.matching.Regex): Option[String] =
        re.findFirstMatchIn(prev).map(_.group(1))
      val prevInner = f(""""sibling_seals":\[([^\]]*)\]""".r).getOrElse("")
      val entry = for {
        t <- f(""""value":([-0-9.eE]+)""".r)
        h <- f(""""head":"([^"]*)"""".r)
      } yield {
        val norms = f(""""queries_norm":\{([^}]*)\}""".r).toSeq
          .flatMap(_.split(",").toSeq)
          .flatMap(_.split(":").lastOption)
          .flatMap(_.toDoubleOption)
          .filter(_ >= 0).sorted
        val med = if (norms.isEmpty) -1.0 else norms(norms.size / 2)
        // JsonOut.sec3, NOT "%.3f".format: format uses the default JVM
        // locale, and a comma-decimal locale would emit invalid JSON
        // into the sealed artifact (r16 advice)
        s"""{"total":$t,"norm_median":${JsonOut.sec3(med)},"head":"$h"}"""
      }
      (prevInner, entry) match {
        case ("", None)    => "[]"
        case (s, None)     => s"[$s]"
        case ("", Some(e)) => s"[$e]"
        case (s, Some(e))  => s"[$s,$e]"
      }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // the ONE shared parse (SparkEntry.cpusFromEnv, r17 review: this
    // copy and Verify's had drifted in dialect, and neither rejected
    // 0/negative — 'local[0]' died inside session construction with an
    // error that never named the knob)
    val cpus = SparkEntry.cpusFromEnv().toString
    // parsed + validated by the ONE shared helper (r14 review: Verify
    // and Bench kept diverging copies); a misspelled name fails loudly
    // instead of writing an empty artifact with value 0.000 and exit 0
    val only: Option[Set[String]] = SparkEntry.querySubsetFromEnv()
    // every numeric knob validates HERE, before the session builds (the
    // Verify rule): a typo'd value must fail in milliseconds naming its
    // variable, not as a bare NumberFormatException after ~10 s of
    // session + warmup + sentinel calibration (r16 review)
    def intKnob(name: String, default: Int): Int = {
      val raw = sys.env.getOrElse(name, default.toString).trim
      raw.toIntOption.getOrElse(
        throw new IllegalArgumentException(s"$name must be an integer, got '$raw'"))
    }
    def doubleKnob(name: String, default: Double): Double = {
      val raw = sys.env.getOrElse(name, default.toString).trim
      raw.toDoubleOption.getOrElse(
        throw new IllegalArgumentException(s"$name must be a number, got '$raw'"))
    }
    val maxRetries = intKnob("SPARK_GRAFT_BENCH_RETRIES", 2)
    val minOf2GateKnob = doubleKnob("SPARK_GRAFT_MIN_OF_2_GATE", 2.5)
    // validated HERE like every other knob (a typo'd name must fail in
    // milliseconds, not after the full ~10-minute measurement pass);
    // ignored on subset runs — the subset IS already an isolated run
    val adjudicateNames: Seq[String] =
      sys.env.get("SPARK_GRAFT_ADJUDICATE").map(_.trim).filter(_.nonEmpty)
        .filter(_ => only.isEmpty)
        .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
        .getOrElse(Seq.empty)
    locally {
      val unknown = adjudicateNames.filterNot(SparkEntry.queries.contains)
      require(unknown.isEmpty,
        s"SPARK_GRAFT_ADJUDICATE names unknown queries: ${unknown.sorted.mkString(", ")}")
    }
    val nRunsKnob = sys.env.get("SPARK_GRAFT_BENCH_RUNS").map(_ =>
      intKnob("SPARK_GRAFT_BENCH_RUNS", 2))
    // the ONE session factory (Verify uses it too):
    // the bench must measure under the SAME config the engine ships — a
    // hand-rolled builder here had already drifted once and would again
    // the next time GraftSession grows a conf (r14 review)
    val spark = graft.api.GraftSession(s"local[$cpus]", cpus.toInt)
    spark.sparkContext.setLogLevel("WARN")

    // JVM/codegen warmup so the first timed query doesn't absorb ~5 s of
    // JIT + first-scan setup cost that isn't the query's own.
    try {
      spark.range(100000).selectExpr("sum(id)").write.format("noop").mode("overwrite").save()
      spark.read.parquet(s"$sfDir/nation.parquet").write.format("noop").mode("overwrite").save()
    } catch { case scala.util.control.NonFatal(_) => () } // fatal must kill the run

    // Environment probe: fixed CPU-bound codegen job, no I/O, no shuffle.
    // Identical work every call → its wall time varies only with the VM.
    def sentinel(): Double = {
      val t0 = System.nanoTime()
      spark.range(0, 4000000, 1, 4).selectExpr("sum(id * id % 7)").collect()
      (System.nanoTime() - t0) / 1e9
    }
    sentinel() // warm the sentinel's own codegen path before calibrating
    // The calibration itself can land inside a stall (all 3 samples in one
    // slow window → inflated baseline → detection silently disabled). The
    // baseline is therefore a RUNNING MIN over EVERY sentinel observation:
    // the first probe that lands in a clean window tightens the gate for
    // the rest of the run, and a final re-check pass (below) re-times any
    // query that was judged against the earlier, looser gate.
    val calibrationBaseline = (1 to 3).map(_ => sentinel()).min
    var sentinelBaseline = calibrationBaseline
    // per-RUN sentinel trace (cross-run min-merge mode): the baseline is a
    // process-wide running min, but each full measurement run records the
    // sentinels observed DURING that run so a uniformly-slow run is
    // tellable from the artifact even when no per-query window tripped.
    val runSentinels = scala.collection.mutable.ArrayBuffer.empty[Double]
    def observedSentinel(): Double = {
      val s = sentinel()
      if (s < sentinelBaseline) sentinelBaseline = s
      runSentinels += s
      s
    }
    // A window is "slow" when the probe runs well above baseline.
    // A def, not a val: it tightens as the running-min baseline drops.
    def slowGate: Double = Bench.slowGateFor(sentinelBaseline)

    // JVM-internal time sinks, to tell a query's own cost from engine
    // overheads the wall clock can't attribute (GC storms, JIT storms).
    def gcMs(): Long = {
      import scala.jdk.CollectionConverters._
      java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
        .map(_.getCollectionTime).sum
    }
    def jitMs(): Long =
      java.lang.management.ManagementFactory.getCompilationMXBean.getTotalCompilationTime

    case class R(sec: Double, rows: Long, err: Option[String])
    // One attempt = sentinel, query, sentinel. The max of the two probes
    // guards the whole window the query ran in.
    case class Attempt(r: R, guard: Double, gcDeltaMs: Long, jitDeltaMs: Long) {
      def clean: Boolean = guard <= slowGate
    }
    var attemptSeq = 0
    def attempt(name: String): Attempt = {
      attemptSeq += 1
      val gc0 = gcMs(); val jit0 = jitMs()
      val pre = observedSentinel()
      val fn = SparkEntry.queries(name)
      val t0 = System.nanoTime()
      val r =
        try {
          val df = fn(spark, sfDir)
          // SINGLE execution: the noop write forces full column
          // materialization, and an Observation rides the same run to
          // report the row count (a narrow CollectMetrics node — no
          // second execution, no double-counting vs rec/s baselines).
          val obs = org.apache.spark.sql.Observation(s"rows_${name}_$attemptSeq")
          df.observe(obs, count(lit(1)).as("n"))
            .write.format("noop").mode("overwrite").save()
          val rows = obs.get("n") match { case l: Long => l; case x => x.toString.toLong }
          R((System.nanoTime() - t0) / 1e9, rows, None)
        } catch {
          // NonFatal ONLY (Verify's r13 rule): an OOM/interrupt must
          // kill the bench nonzero — timings taken in a heap-corrupted
          // JVM after a swallowed fatal would seal a green artifact of
          // GC-storm numbers (r16 review)
          case scala.util.control.NonFatal(e) =>
            R((System.nanoTime() - t0) / 1e9, -1L,
              Some(Option(e.getMessage).getOrElse(e.getClass.getName).take(200)))
        } finally {
          // queries must not contaminate each other: unpersist every
          // cached table/DF (CTAS materializations, cluster labels).
          // Temp VIEWS stay — they are metadata the shared VeloContext
          // relies on; only their cached data is contamination.
          try spark.catalog.clearCache()
          catch { case scala.util.control.NonFatal(_) => () }
        }
      val post = observedSentinel()
      Attempt(r, math.max(pre, post), gcMs() - gc0, jitMs() - jit0)
    }

    val names = SparkEntry.queries.keys.toSeq.sorted
      .filter(n => only.forall(_.contains(n)))
    case class Q(r: R, guard: Double, retries: Int)
    // Sentinels only bracket a query: a VM stall that starts and ends
    // MID-query leaves fast guards around a slow measurement (observed:
    // a 1.5 s query reading 12 s with 0.09 s guards). Any measurement
    // above this gate gets one confirming re-run — the stalled case
    // corrects to the real cost, a genuinely slow query is simply
    // measured twice and keeps its honest minimum.
    val minOf2Gate = minOf2GateKnob // validated pre-session (r16 review)

    // One FULL measurement pass over every query: first pass with
    // slow-window retries, then the final-gate re-check sweep.
    def measureOnce(): Seq[(String, Q)] = {
    val firstPass: Seq[(String, Q)] = names.map { name =>
      var best = attempt(name)
      var retries = 0
      // Re-time only when the run was timed inside a slow VM window (an
      // erroring query re-errors — retrying it just re-pays the cost).
      while (!best.clean && best.r.err.isEmpty && retries < maxRetries) {
        retries += 1
        val again = attempt(name)
        // stalls only ever ADD time, so the committed seconds are the
        // MINIMUM — a clean-but-slower retry must not replace a faster
        // flagged timing (it would inflate the artifact; r11 review).
        // It does CONFIRM the flagged number (a clean window measured
        // >= it), so its guard is adopted as the window verdict and
        // the retry loop ends.
        if (again.r.err.isEmpty) {
          if (again.r.sec < best.r.sec) best = again
          else if (again.clean) best = best.copy(guard = again.guard)
        }
      }
      if (best.r.err.isEmpty && best.r.sec > minOf2Gate) {
        retries += 1
        val again = attempt(name)
        if (again.r.err.isEmpty && again.r.sec < best.r.sec) best = again
      }
      val flag = if (best.clean) "" else " SLOW-WINDOW"
      System.err.println(f"[bench] $name%-24s ${best.r.sec}%8.3f s  rows=${best.r.rows}  guard=${best.guard}%.3f  gc=${best.gcDeltaMs}ms jit=${best.jitDeltaMs}ms$flag${best.r.err.map(" ERR " + _).getOrElse("")}")
      name -> Q(best.r, best.guard, retries)
    }

    // Re-check against the FINAL gate: if calibration was stalled, early
    // queries were judged against an inflated gate and never retried. The
    // running-min baseline has tightened by now, so any query whose guard
    // exceeds the final gate gets one honest re-timing (bounded: one extra
    // attempt per flagged query per pass; erroring queries are left
    // alone). The pass REPEATS (≤3) while its own attempts tighten the
    // baseline further: a single sweep judges early entries against the
    // gate as it stood mid-sweep, so an entry could end up counted in
    // n_slow_windows by the final gate yet never re-timed.
    var results: Seq[(String, Q)] = firstPass
    var recheckPasses = 0
    var gateTightened = true
    while (gateTightened && recheckPasses < 3 && results.exists { case (_, q) =>
        q.r.err.isEmpty && q.guard > slowGate }) {
      recheckPasses += 1
      val gateAtStart = slowGate
      results = results.map { case (name, q) =>
        if (q.r.err.isEmpty && q.guard > slowGate) {
          var again = attempt(name)
          var extra = 1
          // the re-attempt gets the SAME mid-query-stall defense the
          // first pass applies: a clean-guard measurement above the
          // minOf2Gate could be a stall that started and ended inside
          // the query (fast guards, inflated seconds) — without the
          // confirming run it would overwrite an honest timing and,
          // being clean, never be re-checked again
          if (again.r.err.isEmpty && again.clean && again.r.sec > minOf2Gate) {
            extra += 1
            val confirm = attempt(name)
            if (confirm.r.err.isEmpty && confirm.r.sec < again.r.sec) again = confirm
          }
          // same minimum rule as the first pass: adopt the retry's
          // seconds only when faster; a clean-but-slower retry confirms
          // the existing timing and clears only the window flag
          if (again.r.err.isEmpty && again.r.sec < q.r.sec)
            name -> Q(again.r, again.guard, q.retries + extra)
          else if (again.r.err.isEmpty && again.clean)
            name -> Q(q.r, again.guard, q.retries + extra)
          else name -> Q(q.r, q.guard, q.retries + extra)
        } else name -> q
      }
      gateTightened = slowGate < gateAtStart - 1e-9
    }
    results
    }

    // AMBIENT-PROOFING (cross-run min-merge): the sentinel gate detects
    // per-query stall WINDOWS, but a uniformly ~25-35% slow VM run passes
    // with n_slow_windows=0 and inflates every number at once (observed
    // r8: committed total 87.9 s vs 65.4-74.1 s same-HEAD re-runs).
    // SPARK_GRAFT_BENCH_RUNS=N repeats the FULL measurement pass N times
    // and commits the per-query MINIMUM across runs — a minimum over
    // independently-scheduled runs is the estimator least sensitive to
    // one-sided ambient noise (stalls only ever ADD time). Each run's own
    // sentinel trace and total ride the artifact so a run that was
    // entirely inside a slow window is visible, not silently averaged in.
    // DEFAULT 2 since r10: the committed per-round artifact must be a
    // min-merge (r9 shipped the machinery but sealed from a single
    // run); a subset run (SPARK_GRAFT_QUERIES) stays single-pass for
    // fast iteration unless the env overrides.
    val nRuns = math.max(1, nRunsKnob
      .getOrElse(if (only.isDefined) 1 else 2))
    case class RunStats(total: Double, sentinelMin: Double, sentinelMed: Double,
        sentinelMax: Double, nSlow: Int)
    val runStats = scala.collection.mutable.ArrayBuffer.empty[RunStats]
    val allRuns: Seq[Seq[(String, Q)]] = (1 to nRuns).map { runIdx =>
      runSentinels.clear()
      val rs = measureOnce()
      val sents = runSentinels.toSeq.sorted
      val med = if (sents.isEmpty) 0.0 else sents(sents.size / 2)
      val stats = RunStats(
        rs.collect { case (_, q) if q.r.err.isEmpty => q.r.sec }.sum,
        if (sents.isEmpty) 0.0 else sents.head, med,
        if (sents.isEmpty) 0.0 else sents.last,
        rs.count(_._2.guard > slowGate))
      runStats += stats
      System.err.println(f"[bench] run $runIdx/$nRuns total=${stats.total}%.2f s sentinel_med=${stats.sentinelMed}%.3f n_slow=${stats.nSlow}")
      rs
    }
    // Merge: per query keep the fastest SUCCESSFUL timing across runs
    // (an error in one run must not shadow a clean timing in another);
    // if every run errored, keep the first error so it stays reported.
    val merged: Seq[(String, Q, Int)] = names.map { name =>
      val qs = allRuns.map(_.find(_._1 == name).get._2)
      val idx = Bench.chooseRun(qs.map(q => (q.r.err, q.r.sec)))
      (name, qs(idx).copy(retries = qs.map(_.retries).sum), idx)
    }
    val results: Seq[(String, Q)] = merged.map { case (n, q, _) => n -> q }

    // SPARK_GRAFT_ADJUDICATE=qX,qY (r16 verdict task 7): per-query
    // ambient suspicions were adjudicated MANUALLY in r15/r16 — a
    // separate SPARK_GRAFT_QUERIES subset run in a hopefully-cleaner
    // window, quoted in SURVEY prose. This runs the named queries
    // isolated min-of-2 AFTER the full pass and records them in the
    // same artifact (their own sentinel guards alongside), so the seal
    // is self-adjudicating: the isolated band and the in-pass numbers
    // share one head, one VM session, one JSON. Ignored on subset runs
    // (the subset IS already an isolated run).
    val adjudication: Option[Seq[(String, Seq[Attempt])]] =
      Some(adjudicateNames).filter(_.nonEmpty).map { wanted =>
      wanted.map { name =>
        val attempts = Seq(attempt(name), attempt(name))
        val best = attempts.filter(_.r.err.isEmpty).map(_.r.sec)
        System.err.println(f"[bench] adjudicate $name%-20s " +
          attempts.map(a => f"${a.r.sec}%.3f(g=${a.guard}%.3f)").mkString(" ") +
          best.minOption.map(m => f"  min=$m%.3f").getOrElse("  ALL-ERR"))
        name -> attempts
      }
    }

    import JsonOut.{jstr, sec3}

    // Measured ANN recall-vs-exact at this SF (see AnnRecall scaladoc):
    // config drift that silently degrades recall must surface in the
    // per-round artifact, not only in test-scale specs. Guarded — a
    // probe failure records an error field, never kills the artifact.
    // Skipped on a SPARK_GRAFT_QUERIES subset run: a one-query
    // iteration loop must not pay the full exact-baseline + 6-probe
    // recall suite (which typically dominates its wall time), and a
    // subset artifact is not a round artifact anyway.
    val recallEntries: Either[String, Seq[AnnRecall.Entry]] =
      if (only.isDefined) Left("skipped: subset run (SPARK_GRAFT_QUERIES)")
      else if (sys.env.get("SPARK_GRAFT_RECALL").contains("0")) Left("disabled")
      else try Right(AnnRecall.measure(spark, sfDir))
      catch { case e if scala.util.control.NonFatal(e) =>
        Left(Option(e.getMessage).getOrElse(e.getClass.getName).take(200)) }
    val qs = results.map { case (k, q) => s"${jstr(k)}:${sec3(q.r.sec)}" }.mkString("{", ",", "}")
    val rowsJson = results.map { case (k, q) => s"${jstr(k)}:${q.r.rows}" }.mkString("{", ",", "}")
    val errs = results.collect { case (k, q) if q.r.err.isDefined => s"${jstr(k)}:${jstr(q.r.err.get)}" }
      .mkString("{", ",", "}")
    val guards = results.map { case (k, q) => s"${jstr(k)}:${sec3(q.guard)}" }.mkString("{", ",", "}")
    val retimed = results.collect { case (k, q) if q.retries > 0 => s"${jstr(k)}:${q.retries}" }
      .mkString("{", ",", "}")
    // SELF-ADJUDICATION vs ambient (r13): wall seconds normalized by the
    // sentinel-median of the RUN each timing was chosen from. Two
    // artifacts taken in differently-loaded windows disagree on wall
    // time but agree on this ratio — a seal-vs-driver divergence like
    // r12's q58 (2.233 driver vs 1.710 sealed, driver run uniformly
    // inflated) resolves from the artifacts alone. The chosen run index
    // rides alongside so the denominator is auditable against "runs".
    val qsNorm = merged.map { case (k, q, idx) =>
      val med = runStats(idx).sentinelMed
      val norm = if (med > 0) q.r.sec / med else -1.0
      s"${jstr(k)}:${sec3(norm)}"
    }.mkString("{", ",", "}")
    val qRun = merged.map { case (k, _, idx) => s"${jstr(k)}:${idx + 1}" }
      .mkString("{", ",", "}")
    // the headline total sums SUCCESSFUL timings only: an erroring
    // query's time-to-failure is not a measurement, and summing it in
    // would let a fast crash read as a large perf win (or a slow one as
    // a regression) with only an aggregate n_errors as the tell
    val total = results.collect { case (_, q) if q.r.err.isEmpty => q.r.sec }.sum
    val nSlow = results.count(_._2.guard > slowGate)
    // erroring query NAMES ride the compact stdout line too — the file
    // artifact can be lost, and without them a failure timing in
    // "queries" is indistinguishable from a real one
    val errNames = results.collect { case (k, q) if q.r.err.isDefined => jstr(k) }
      .mkString("[", ",", "]")
    // measurement-changing overrides are part of what was measured — a
    // run under local[1] or a disabled stall-gate must be tellable from
    // the artifact, not only from the invoking shell's history
    val configJson =
      s""""config":{"cpus":${jstr(cpus)},"min_of_2_gate":${sec3(minOf2Gate)},""" +
        s""""max_retries":$maxRetries,"n_runs":$nRuns,"subset":${only.isDefined}}"""
    // Per-run evidence for the min-merge: totals + sentinel trace summary.
    // Compact enough for the stdout line (N is small), so a truncated
    // file artifact still shows whether any run saw a clean window.
    // Per-run slow counts are judged against the FINAL gate, not the
    // gate as it stood at that run's end: a run executed entirely
    // inside an ambient window keeps an inflated running-min baseline
    // mid-run and would read n_slow_windows=0 exactly when the
    // evidence matters (r11 review).
    val runsJson = runStats.toSeq.zip(allRuns).zipWithIndex.map { case ((s, rs), i) =>
      val slowFinal = rs.count(_._2.guard > slowGate)
      s"""{"run":${i + 1},"total":${sec3(s.total)},"sentinel_min":${sec3(s.sentinelMin)},"sentinel_med":${sec3(s.sentinelMed)},"sentinel_max":${sec3(s.sentinelMax)},"n_slow_windows":$slowFinal}"""
    }.mkString("[", ",", "]")
    // stdout line stays COMPACT (rounded secs, no rows/error detail, no
    // adjudication rows): the driver only captures the last few KB of
    // stdout, and a long line gets cut mid-object → unparseable. Full
    // detail goes to bench_out.json.
    val recallJson = recallEntries match {
      case Right(rs) => rs.map(e =>
        s"""${jstr(e.key)}:{"recall":${sec3(e.recall)},"floor":${sec3(e.floor)},"n_exact":${e.nExact},"ok":${e.ok}}""")
        .mkString("{", ",", "}")
      case Left(err) => s"""{"error":${jstr(err)}}"""
    }
    // ann_recall_ok is emitted ONLY when the probe actually ran: a
    // deliberately skipped/disabled probe must not read as a recall
    // regression to anything gating on the boolean (the error field in
    // ann_recall says why it is absent)
    val recallOkField = recallEntries.fold(_ => "",
      rs => s""","ann_recall_ok":${rs.forall(_.ok)}""")
    // isolated-min-of-2 adjudication rows (absent unless requested):
    // sec = committed isolated minimum, attempts carry each pass's raw
    // seconds + sentinel guard so the window quality is in-artifact.
    // FILE artifact only — adjudication entries are unbounded (one per
    // requested query × attempts) and were part of what pushed the r16
    // stdout line past the driver's tail capture
    val adjudicationField = adjudication.fold("") { entries =>
      val body = entries.map { case (name, attempts) =>
        val best = attempts.filter(_.r.err.isEmpty).map(_.r.sec)
        val sec = best.minOption.map(sec3).getOrElse("null")
        val runs = attempts.map(a =>
          s"""{"sec":${sec3(a.r.sec)},"guard":${sec3(a.guard)}${
            a.r.err.map(e => s""","err":${jstr(e)}""").getOrElse("")}}""")
          .mkString("[", ",", "]")
        s"""${jstr(name)}:{"sec":$sec,"attempts":$runs}"""
      }.mkString("{", ",", "}")
      s""","adjudication":$body"""
    }
    // BOUNDED stdout line (r17 verdict item 1): the driver's archived
    // tail keeps only the LAST ~2 KB of stdout, and the r16 line had
    // grown (adjudication entries, sibling detail) until the tail cut
    // it mid-object — an unparseable artifact and a blind PERF round.
    // Two defenses: (a) everything unbounded (adjudication rows,
    // queries_norm, rows, guards, sibling_seals) lives ONLY in the
    // file artifact — the stdout line is a fixed-size summary; (b) the
    // per-query dict and sf ride LAST, so even a 2 KB tail slice of the
    // line still contains every per-query number intact for regex
    // recovery. Field ORDER is free to a JSON parser — every key the
    // driver reads is unchanged.
    val stdoutJson =
      s"""{"metric":"total","value":${sec3(total)},"unit":"sec","n_errors":${results.count(_._2.r.err.isDefined)},"error_queries":$errNames,"sentinel_baseline":${sec3(sentinelBaseline)},"n_slow_windows":$nSlow,"runs":$runsJson,"ann_recall":$recallJson$recallOkField,$configJson,"head":${jstr(JsonOut.gitHead())},"queries":$qs,"sf":${jstr(sfDir)}}"""
    val fullJson =
      s"""{"metric":"total","value":${sec3(total)},"unit":"sec","queries":$qs,"queries_norm":$qsNorm,"query_run":$qRun,"rows":$rowsJson,"errors":$errs,"n_errors":${results.count(_._2.r.err.isDefined)},"sentinel":{"baseline":${sec3(sentinelBaseline)},"baseline_calibration":${sec3(calibrationBaseline)},"slow_gate":${sec3(slowGate)},"guards":$guards,"retimed":$retimed,"n_slow_windows":$nSlow},"runs":$runsJson,"ann_recall":$recallJson$recallOkField$adjudicationField,$configJson,"head":${jstr(JsonOut.gitHead())},"sf":${jstr(sfDir)}}"""
    println(stdoutJson)
    System.out.flush()
    val out = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench_out.json")
    Files.writeString(Paths.get(out), fullJson + "\n")
    // Tracked full-artifact copy (r12): the driver's BENCH_rN `tail`
    // truncates before q1-q42, and bench_out.json is untracked AND
    // overwritten by any subset run — the full per-query history was
    // not diffable from git alone. At seal time the round number is
    // exported and the FULL json also lands in BENCHFULL_r<N>.json
    // (same head stamp as the stdout line), committed with the round.
    // Subset runs never write it: a one-query artifact is not a round
    // record.
    sys.env.get("SPARK_GRAFT_BENCHFULL_ROUND").filter(_ => only.isEmpty).foreach { n =>
      val path = Paths.get(s"BENCHFULL_r$n.json")
      // sibling_seals (r15 verdict task 7): a re-seal within one round
      // OVERWROTE the previous artifact, so the same-code-family band —
      // the evidence behind the ambient-window adjudication — survived
      // only in SURVEY prose. Each re-seal now carries the superseded
      // seal's headline (total, sentinel-normalized per-query median,
      // head) forward, making the band machine-checkable from the final
      // artifact alone. Entries are FLAT objects so the carry-forward
      // regex stays robust.
      val siblings = siblingSeals(
        if (Files.exists(path)) Some(Files.readString(path)) else None)
      Files.writeString(path,
        fullJson.dropRight(1) + s""","sibling_seals":$siblings}""" + "\n")
    }
    spark.stop()
  }
}
