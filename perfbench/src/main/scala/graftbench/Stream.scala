package graftbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, StandardCopyOption}
import java.util.SplittableRandom

import scala.collection.mutable

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{col, expr}
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress}
import org.apache.spark.sql.types._

import graft.sql.VeloContext

/** The open-loop streaming workload: a generator thread writes seeded
  * JSON event files into a watched directory on a fixed schedule, and a
  * dialect job started through `START JOB` aggregates them per user and
  * 10-second tumbling window, emitting changes. */
object Stream {
  /** Not 100,000: at that rate the job used about half of its drain
    * capacity on 4 cores, and a slow spell of the shared host pushed it
    * past capacity (10 steady batches instead of 25, latency 3 s instead of
    * 0.5 s). */
  val RatePerS = 50000
  val TickMs = 200
  val Users = 10000
  val EventsPerTick: Int = RatePerS * TickMs / 1000
  val WindowMs = 10000L
  /** Backlog written while the job is paused: 20 s of input. */
  val BurstEvents = 1000000

  val Schema: StructType = StructType(Seq(
    StructField("user_id", LongType), StructField("event_type", StringType),
    StructField("value", DoubleType), StructField("gen_us", LongType)))

  def jobSql(job: String, view: String): String =
    s"""START JOB $job AS SELECT user_id, COUNT(*) AS n, SUM(value) AS total,
       |MAX(gen_us) AS max_gen FROM $view GROUP BY user_id
       |WINDOW TUMBLING(INTERVAL '10' SECOND) EMIT CHANGES""".stripMargin

  /** Writes seeded event files. Tick i holds the events due in
    * [t0 + i*TickMs, t0 + (i+1)*TickMs), each stamped with its due time
    * (`gen_us`, epoch microseconds, also its event time); the file is
    * published (atomic rename) when its tick ends. Expected counts per
    * (window, user) are kept for the final reconciliation. */
  final class Generator(dir: Path, seed: Long, val t0: Long) {
    private val rnd = new SplittableRandom(seed)
    val expected = mutable.HashMap.empty[(Long, Long), Long]
    var events = 0L
    /** Scheduled and actual publish time (epoch ms) per file, in order. */
    val published = mutable.ArrayBuffer.empty[(Double, Double)]
    private var tick = 0L

    private final class Chunk(val bytes: Array[Byte], val counts: mutable.HashMap[(Long, Long), Long],
                              val n: Int)

    private def render(r: SplittableRandom, dueFromMs: Long, n: Int, spanMs: Double): Chunk = {
      val sb = new java.lang.StringBuilder(n * 80)
      val counts = mutable.HashMap.empty[(Long, Long), Long]
      var j = 0
      while (j < n) {
        val due = dueFromMs * 1000 + (j * spanMs * 1000 / n).toLong
        val user = r.nextInt(Users).toLong
        sb.append("{\"user_id\":").append(user)
          .append(",\"event_type\":\"").append(DataGen.EventTypes(r.nextInt(5)))
          .append("\",\"value\":").append(r.nextInt(100000) / 100.0)
          .append(",\"gen_us\":").append(due).append("}\n")
        val key = (Math.floorDiv(due, WindowMs * 1000) * WindowMs, user)
        counts(key) = counts.getOrElse(key, 0L) + 1
        j += 1
      }
      new Chunk(sb.toString.getBytes(StandardCharsets.UTF_8), counts, n)
    }

    private def publish(c: Chunk, scheduledMs: Double): Unit = {
      val name = f"ev-${published.size}%06d.json"
      val tmp = dir.resolve(s".$name.tmp")
      Files.write(tmp, c.bytes)
      Files.move(tmp, dir.resolve(name), StandardCopyOption.ATOMIC_MOVE)
      published += ((scheduledMs, Clock.nowMs))
      c.counts.foreach { case (k, v) => expected(k) = expected.getOrElse(k, 0L) + v }
      events += c.n
    }

    /** Next on-schedule tick: renders it, waits for the tick's end, publishes. */
    def nextTick(): Unit = {
      val from = t0 + tick * TickMs
      val chunk = render(rnd, from, EventsPerTick, TickMs)
      val due = (from + TickMs).toDouble
      val wait = due - Clock.nowMs
      if (wait > 0) Thread.sleep(wait.toLong, ((wait % 1) * 1e6).toInt)
      publish(chunk, due)
      tick += 1
    }

    /** A backlog of `n` events continuing the schedule, rendered on four
      * threads (each file from its own split of the seeded generator) and
      * published at once, in order. */
    def burst(n: Int): Unit = {
      val parts = (0 until (n + EventsPerTick - 1) / EventsPerTick).map { i =>
        (rnd.split(), t0 + (tick + i) * TickMs, math.min(EventsPerTick, n - i * EventsPerTick))
      }
      val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
      try {
        val chunks = parts.map { case (r, from, k) =>
          pool.submit(new java.util.concurrent.Callable[Chunk] {
            def call(): Chunk = render(r, from, k, TickMs.toDouble * k / EventsPerTick)
          })
        }
        chunks.foreach(c => publish(c.get(), Clock.nowMs))
      } finally pool.shutdown()
      tick += parts.size
    }

    /** Largest publish delay behind schedule, in ms. */
    def lateMaxMs(from: Int, until: Int): Double =
      published.slice(from, until).map { case (s, a) => a - s }.maxOption.getOrElse(0.0)
  }

  /** Runs the generator on its own thread until stopped. */
  final class GeneratorThread(gen: Generator) extends Thread("perfbench-generator") {
    @volatile private var running = true
    @volatile var failure: Option[Throwable] = None
    setDaemon(true)
    override def run(): Unit =
      try while (running) gen.nextTick()
      catch { case e: Throwable => failure = Some(e) }
    def finish(): Unit = { running = false; join() }
  }

  /** The watched directory as a stream. A micro-batch takes at most 10
    * files (100,000 events): never binding at the steady rate, it splits
    * a backlog into bounded batches, as a catching-up job would. */
  def source(spark: SparkSession, dir: Path) =
    spark.readStream.schema(Schema).option("maxFilesPerTrigger", "10").json(dir.toString)
      .withColumn("ts", expr("timestamp_micros(gen_us)"))

  def handle(spark: SparkSession, job: String): StreamingQuery =
    spark.streams.active.find(_.name == s"graft-job-$job")
      .getOrElse(throw new IllegalStateException(s"job $job has no running query"))

  def dur(p: StreamingQueryProgress, k: String): Double =
    Option(p.durationMs.get(k)).map(_.doubleValue()).getOrElse(0.0)
  def startMs(p: StreamingQueryProgress): Double =
    java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
  def endMs(p: StreamingQueryProgress): Double = startMs(p) + dur(p, "triggerExecution")

  /** Waits until the query has committed batches covering `rows` input
    * rows; returns the progress of those batches. */
  def awaitRows(q: StreamingQuery, rows: Long, timeoutMs: Long): Seq[StreamingQueryProgress] = {
    val deadline = System.nanoTime() + timeoutMs * 1000000L
    while (true) {
      val ps = q.recentProgress.toSeq.filter(_.numInputRows > 0)
      if (ps.map(_.numInputRows).sum >= rows) return ps
      q.exception.foreach(e => throw e)
      if (System.nanoTime() > deadline)
        throw new IllegalStateException(s"stream did not process $rows rows in $timeoutMs ms")
      Thread.sleep(5)
    }
    Nil
  }

  /** One set-up: START JOB on a small pre-written input through its first
    * committed batch, then STOP JOB. Returns the seconds to the commit. */
  def setupOnce(spark: SparkSession, ctx: VeloContext, base: Path, i: Int, seed: Long): Double = {
    val dir = Files.createDirectories(base.resolve(s"setup-in-$i"))
    val gen = new Generator(dir, seed + 1000 + i, System.currentTimeMillis() - 60000)
    gen.burst(EventsPerTick)
    ctx.registerStream(s"setup_events_$i", source(spark, dir), "ts", "5 seconds")
    val t0 = System.nanoTime()
    ctx.sql(jobSql(s"setup$i", s"setup_events_$i"))
    ctx.jobManager.awaitIdle(s"setup$i")
    val s = (System.nanoTime() - t0) / 1e9
    ctx.sql(s"STOP JOB setup$i")
    s
  }

  /** Micro-batch phases in the order a micro-batch runs them. */
  private val Phases = Seq("latestOffset", "walCommit", "getBatch", "queryPlanning", "addBatch",
    "commitOffsets")

  /** One span per micro-batch (its trace id), with a child per phase laid
    * end to end in execution order from the reported durations, and the
    * Spark jobs the listener saw for that batch id. */
  def batchSpans(spans: Spans, ps: Seq[StreamingQueryProgress], listener: LayerListener): Unit = {
    val jobs = listener.streamJobs.toArray(Array.empty[(Long, Int, Double, Double)]).groupBy(_._1)
    ps.foreach { p =>
      val id = spans.nextId()
      spans.add(Span(id, id, 0L, "stream.batch", startMs(p), endMs(p),
        Map("batch_id" -> p.batchId.toString, "input_rows" -> p.numInputRows.toString)))
      var at = startMs(p)
      var addBatch = id // the batch's jobs run inside its addBatch phase
      Phases.foreach { ph =>
        val d = dur(p, ph)
        if (d > 0) {
          val phase = spans.nextId()
          spans.add(Span(phase, id, id, s"stream.$ph", at, at + d))
          if (ph == "addBatch") addBatch = phase
        }
        at += d
      }
      jobs.getOrElse(p.batchId, Array.empty).foreach { case (_, job, s, e) =>
        spans.add(Span(spans.nextId(), id, addBatch, "spark.job", s, e, Map("job_id" -> job.toString)))
      }
    }
  }

  final case class Drain(seconds: Double, pauseAt: Double, pauseMs: Double, resumeMs: Double,
                         batches: Seq[StreamingQueryProgress], t0: Double, t1: Double)

  /** PAUSE JOB, publish the backlog burst, RESUME JOB and wait until the
    * whole burst is committed. The drain time runs from the RESUME
    * statement to the end of the batch that committed the last burst row. */
  def drain(spark: SparkSession, ctx: VeloContext, job: String, gen: Generator): Drain = {
    val pauseAt = Clock.nowMs
    ctx.sql(s"PAUSE JOB $job")
    val pauseMs = Clock.nowMs - pauseAt
    gen.burst(BurstEvents)
    val t0 = Clock.nowMs
    ctx.sql(s"RESUME JOB $job")
    val resumeMs = Clock.nowMs - t0
    val q = handle(spark, job)
    val ps = awaitRows(q, BurstEvents.toLong, 150000)
    val t1 = ps.map(endMs).max
    Drain((t1 - t0) / 1000, pauseAt, pauseMs, resumeMs, ps, t0, t1)
  }

  /** Latest state per (window start ms, user) read back from the job's
    * changelog sink, plus every emitted row as (batch id, max_gen in µs). */
  def readSink(ctx: VeloContext, job: String): (Map[(Long, Long), Long], Seq[(Long, Long)]) = {
    val rows = ctx.jobManager.sinkDf(job)
      .select(Seq("window_start", "user_id", "n", "max_gen", "_batch_id").map(col(_).cast("long")): _*)
      .collect()
    // window_start is epoch seconds in the dialect's windowed output
    val latest = mutable.HashMap.empty[(Long, Long), (Long, Long)]
    rows.foreach { r =>
      val key = (r.getLong(0) * 1000L, r.getLong(1))
      val b = r.getLong(4)
      if (latest.get(key).forall(_._1 < b)) latest(key) = (b, r.getLong(2))
    }
    (latest.map { case (k, (_, n)) => k -> n }.toMap, rows.map(r => (r.getLong(4), r.getLong(3))).toSeq)
  }

  /** Events missing from or duplicated in the final state. */
  def reconcile(expected: collection.Map[(Long, Long), Long], got: Map[(Long, Long), Long]): Long =
    expected.iterator.map { case (k, n) => math.abs(n - got.getOrElse(k, 0L)) }.sum +
      got.iterator.filterNot(kv => expected.contains(kv._1)).map(_._2).sum
}
