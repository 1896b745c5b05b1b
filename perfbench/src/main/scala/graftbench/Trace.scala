package graftbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicLong, LongAdder}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One span: a timed interval at a layer boundary. Spans of one query,
  * pass or micro-batch share `trace`; `parent` is the span that caused it
  * (0 for a root). Times are epoch milliseconds (fractional). */
final case class Span(id: Long, trace: Long, parent: Long, name: String,
                      startMs: Double, endMs: Double, attrs: Map[String, String] = Map.empty)

/** In-memory span store, written out once when the run ends. */
final class Spans {
  private val ids = new AtomicLong(0)
  private val buf = new java.util.concurrent.ConcurrentLinkedQueue[Span]()
  def nextId(): Long = ids.incrementAndGet()
  def add(s: Span): Unit = buf.add(s)
  def all: Seq[Span] = buf.asScala.toSeq

  /** Records a root span (its own trace). */
  def root(name: String, startMs: Double, endMs: Double): Unit = {
    val id = nextId()
    add(Span(id, id, 0L, name, startMs, endMs))
  }

  /** Self time per span name: each span's duration minus the part of its
    * interval that its children cover. */
  def selfTimeMs: Map[String, Double] = {
    val spans = all
    val kids = spans.groupBy(_.parent)
    spans.groupBy(_.name).map { case (name, ss) =>
      name -> ss.map { s =>
        val covered = Stats.unionLength(kids.getOrElse(s.id, Nil).map(c =>
          (math.max(c.startMs, s.startMs), math.min(c.endMs, s.endMs))))
        math.max(0.0, (s.endMs - s.startMs) - covered)
      }.sum
    }
  }

  def writeJsonl(path: java.nio.file.Path): Unit = {
    val w = java.nio.file.Files.newBufferedWriter(path)
    try all.sortBy(_.id).foreach { s =>
      val attrs = s.attrs.map { case (k, v) => s""""${Json.esc(k)}":"${Json.esc(v)}"""" }
        .mkString(",")
      w.write(s"""{"id":${s.id},"trace":${s.trace},"parent":${s.parent},""" +
        s""""name":"${Json.esc(s.name)}","start_ms":${Json.num(s.startMs)},""" +
        s""""end_ms":${Json.num(s.endMs)},"attrs":{$attrs}}""")
      w.newLine()
    } finally w.close()
  }
}

object Clock {
  // wall-clock epoch ms with nanosecond resolution, so spans from the
  // harness and from Spark's own epoch-ms events share one time base
  private val epochAtStart = System.currentTimeMillis().toDouble
  private val nanoAtStart = System.nanoTime()
  def nowMs: Double = epochAtStart + (System.nanoTime() - nanoAtStart) / 1e6
}

/** Task-side totals for one job group (or for everything). */
final class TaskTotals {
  val tasks = new LongAdder; val runMs = new LongAdder; val cpuNs = new LongAdder
  val deserMs = new LongAdder; val gcMs = new LongAdder
  val shuffleWrite = new LongAdder; val shuffleRead = new LongAdder
  val fetchWaitMs = new LongAdder; val spill = new LongAdder
  val peakMem = new AtomicLong(0)
  def add(m: org.apache.spark.executor.TaskMetrics): Unit = {
    tasks.increment()
    runMs.add(m.executorRunTime); cpuNs.add(m.executorCpuTime)
    deserMs.add(m.executorDeserializeTime); gcMs.add(m.jvmGCTime)
    shuffleWrite.add(m.shuffleWriteMetrics.bytesWritten)
    shuffleRead.add(m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead)
    fetchWaitMs.add(m.shuffleReadMetrics.fetchWaitTime)
    spill.add(m.memoryBytesSpilled + m.diskBytesSpilled)
    peakMem.accumulateAndGet(m.peakExecutionMemory, (a, b) => math.max(a, b))
  }
  /** Cumulative totals in seconds and bytes; take differences of two
    * snapshots for a window (the peak is the maximum so far). */
  def snapshot: Map[String, Double] = Map(
    "sched.tasks" -> tasks.sum.toDouble,
    "task.run_s" -> runMs.sum / 1e3, "task.cpu_s" -> cpuNs.sum / 1e9,
    "task.deser_s" -> deserMs.sum / 1e3, "task.gc_s" -> gcMs.sum / 1e3,
    "shuffle.write_bytes" -> shuffleWrite.sum.toDouble,
    "shuffle.read_bytes" -> shuffleRead.sum.toDouble,
    "shuffle.fetch_wait_s" -> fetchWaitMs.sum / 1e3, "task.spill_bytes" -> spill.sum.toDouble)
}

/** Listeners the benchmark registers for a traced run: jobs counted per
  * job group (the harness sets one around each layer call, `span:<id>`,
  * and each job becomes a span under that id), stage and task totals, jobs
  * per streaming micro-batch, and the Catalyst phase times of every
  * executed `QueryExecution`. */
final class LayerListener(spans: Spans) extends SparkListener with QueryExecutionListener {
  val jobs = new LongAdder; val stages = new LongAdder
  val all = new TaskTotals
  private val jobInfo = new ConcurrentHashMap[Int, (String, Double, Option[Long])]()
  val jobsPerGroup = new ConcurrentHashMap[String, LongAdder]()
  /** Streaming jobs as (micro-batch id, job id, start ms, end ms). */
  val streamJobs = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Int, Double, Double)]()
  private val batchOfJob = new ConcurrentHashMap[Int, Long]()
  /** Catalyst phases of executed query executions, in arrival order. */
  final case class Phases(funcName: String, phases: Map[String, (Long, Long)])
  private val executions = new java.util.concurrent.ConcurrentLinkedQueue[Phases]()

  private def spanOfGroup(g: String): Option[Long] =
    Option(g).filter(_.startsWith("span:")).map(_.stripPrefix("span:").toLong)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    jobs.increment()
    val props = Option(e.properties)
    val group = props.flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    props.flatMap(p => Option(p.getProperty("streaming.sql.batchId")))
      .foreach(b => batchOfJob.put(e.jobId, b.toLong))
    jobsPerGroup.computeIfAbsent(group, _ => new LongAdder).increment()
    jobInfo.put(e.jobId, (group, e.time.toDouble, spanOfGroup(group)))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobInfo.remove(e.jobId)).foreach { case (group, start, parent) =>
      parent.foreach(p => spans.add(Span(spans.nextId(), p, p, "spark.job", start, e.time.toDouble,
        Map("job_id" -> e.jobId.toString, "group" -> group))))
      Option(batchOfJob.remove(e.jobId)).foreach(b =>
        streamJobs.add((b, e.jobId, start, e.time.toDouble)))
    }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = stages.increment()

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Option(e.taskMetrics).foreach(all.add)

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val ph = qe.tracker.phases.map { case (k, v) => k -> (v.startTimeMs, v.endTimeMs) }
    executions.add(Phases(funcName, ph))
  }
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  /** Cumulative jobs, stages and task totals (see TaskTotals.snapshot). */
  def snapshot: Map[String, Double] =
    all.snapshot ++ Map("sched.jobs" -> jobs.sum.toDouble, "sched.stages" -> stages.sum.toDouble)

  def register(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
  }
  def unregister(spark: SparkSession): Unit = {
    spark.sparkContext.removeSparkListener(this)
    spark.listenerManager.unregister(this)
  }

  /** Drains the query executions delivered so far, waiting (bounded) until
    * one satisfies `until`: the listener bus is asynchronous. */
  def awaitExecutions(until: Phases => Boolean, timeoutMs: Long = 2000): Seq[Phases] = {
    val out = mutable.ArrayBuffer.empty[Phases]
    val deadline = System.nanoTime() + timeoutMs * 1000000L
    while (!out.exists(until) && System.nanoTime() < deadline) {
      var p = executions.poll()
      while (p != null) { out += p; p = executions.poll() }
      if (!out.exists(until)) Thread.sleep(1)
    }
    out.toSeq
  }
}

object Stats {
  /** Linear-interpolated percentile (q in [0,1]) of `xs`. */
  def pct(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
  def median(xs: Seq[Double]): Double = pct(xs, 0.5)

  /** Total length covered by a set of intervals. */
  def unionLength(iv: Seq[(Double, Double)]): Double = {
    var total = 0.0; var curS = Double.NaN; var curE = Double.NaN
    iv.filter { case (a, b) => b > a }.sortBy(_._1).foreach { case (a, b) =>
      if (curS.isNaN || a > curE) {
        if (!curS.isNaN) total += curE - curS
        curS = a; curE = b
      } else curE = math.max(curE, b)
    }
    if (!curS.isNaN) total += curE - curS
    total
  }
}

object Json {
  def esc(s: String): String = s.flatMap {
    case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"; case '\r' => "\\r"
    case '\t' => "\\t"; case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
  }
  /** Full-precision JSON number (never NaN/Infinity). */
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "0" else java.math.BigDecimal.valueOf(d).toPlainString
}
