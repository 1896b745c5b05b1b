package graftbench

import org.apache.spark.sql.{Observation, SparkSession}
import org.apache.spark.sql.functions.{count, lit}

/** The closed-loop curation workload: one client runs every key once per
  * pass through the `noop` sink, in a seeded order, clearing the cache
  * between keys. The keys are the ones `expected_rows.json` lists. */
object Batch {
  /** One key execution; `spans` are its (query, build, action) span ids
    * when traced. */
  final case class Timing(key: String, pass: Int, seconds: Double, buildS: Double,
                          actionS: Double, rows: Long, error: Option[String],
                          spans: Option[(Long, Long, Long)] = None)

  /** Runs `key` once: builds the DataFrame through the public catalog,
    * then executes it through the noop sink with a row-count observation
    * riding the same execution. With a tracer, the build and the action
    * run under their own job groups so the listener attributes jobs,
    * tasks and Catalyst phases to them, and spans are recorded. */
  def runKey(spark: SparkSession, dir: String, key: String, pass: Int,
             tracer: Option[(Spans, LayerListener, Long)], clear: Boolean = true): Timing = {
    val sc = spark.sparkContext
    val qTrace = tracer.map(_._1.nextId())
    val buildSpan = tracer.map(_._1.nextId()); val actionSpan = tracer.map(_._1.nextId())
    val t0 = Clock.nowMs
    var t1 = t0
    var rows = -1L
    val err =
      try {
        buildSpan.foreach(id => sc.setJobGroup(s"span:$id", s"$key build"))
        val df = graft.SparkEntry.queries(key)(spark, dir)
        t1 = Clock.nowMs
        actionSpan.foreach(id => sc.setJobGroup(s"span:$id", s"$key action"))
        val obs = Observation(s"rows_${key}_$pass")
        df.observe(obs, count(lit(1)).as("n")).write.format("noop").mode("overwrite").save()
        rows = obs.get("n").toString.toLong
        None
      } catch {
        case scala.util.control.NonFatal(e) =>
          Some(Option(e.getMessage).getOrElse(e.getClass.getName).linesIterator.take(1).mkString)
      } finally {
        if (t1 == t0) t1 = Clock.nowMs
        if (tracer.isDefined) sc.clearJobGroup()
      }
    val t2 = Clock.nowMs
    if (clear) try spark.catalog.clearCache() catch { case scala.util.control.NonFatal(_) => () }
    for ((spans, listener, passSpan) <- tracer; q <- qTrace; b <- buildSpan; a <- actionSpan) {
      spans.add(Span(q, q, passSpan, "query", t0, t2, Map("key" -> key, "rows" -> rows.toString)))
      spans.add(Span(b, q, q, "build", t0, t1))
      spans.add(Span(a, q, q, "action", t1, t2))
      // the listener bus is asynchronous: wait (bounded) for the write's
      // own execution, the one whose analysis started after the build
      listener.awaitExecutions(_.phases.get("analysis").exists(_._1 >= t1 - 1)).foreach { ex =>
        ex.phases.foreach { case (phase, (s, e)) =>
          val parent = if (s >= t1) a else b
          spans.add(Span(spans.nextId(), q, parent, s"catalyst.$phase", s.toDouble, e.toDouble,
            Map("func" -> ex.funcName)))
        }
      }
    }
    Timing(key, pass, (t2 - t0) / 1000, (t1 - t0) / 1000, (t2 - t1) / 1000, rows, err,
      for (q <- qTrace; b <- buildSpan; a <- actionSpan) yield (q, b, a))
  }

  /** The key order of pass `passNo`: a shuffle seeded from (seed, passNo). */
  def order(keys: Seq[String], seed: Long, passNo: Int): Seq[String] =
    new scala.util.Random(seed * 1000003L + passNo).shuffle(keys)

  /** One untraced pass: every key once, in its seeded order. Returns the
    * pass's wall seconds and its per-key timings. */
  def pass(spark: SparkSession, dir: String, keys: Seq[String], seed: Long,
           passNo: Int): (Double, Seq[Timing]) = {
    val t0 = Clock.nowMs
    val ts = order(keys, seed, passNo).map(k => runKey(spark, dir, k, passNo, None))
    ((Clock.nowMs - t0) / 1000, ts)
  }

  /** An unmeasured warm-up pass on `threads` client threads at once, the
    * cache cleared once at its end: it runs (and so compiles) the same
    * code as a one-client pass, in less wall time. Returns the timings,
    * whose row counts are checked like any other. */
  def warm(spark: SparkSession, dir: String, keys: Seq[String], seed: Long, passNo: Int,
           threads: Int): Seq[Timing] = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(threads)
    try {
      order(keys, seed, passNo).map { k =>
        pool.submit(new java.util.concurrent.Callable[Timing] {
          def call(): Timing = runKey(spark, dir, k, passNo, None, clear = false)
        })
      }.map(_.get())
    } finally {
      pool.shutdown()
      pool.awaitTermination(1, java.util.concurrent.TimeUnit.MINUTES)
      spark.catalog.clearCache()
    }
  }
}
