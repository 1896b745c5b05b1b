package graft.sql

import org.apache.spark.sql.{AnalysisException, DataFrame}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession

/** One emission rule for both streaming entry points: every statement
  * shape below runs through `sqlStream` and through `START JOB` +
  * `sinkDf`, and both must emit the same way (a changelog carries
  * `_batch_id`, final rows do not) with the same rows, or fail with the
  * same exception type.
  *
  * Input: (uid, ep) = (1,100), (1,200), (1,4000), (2,50000) with a
  * 10-minute watermark, so the final watermark is 49,400 s: uid 1's
  * sessions and 5-minute windows have closed, uid 2's have not. */
class EmissionSpec extends AnyFunSuite with SparkTestSession {

  private sealed trait Expect
  private case object Changelog extends Expect
  private case object Final extends Expect
  private final case class Fails(cls: Class[_ <: Throwable]) extends Expect

  private lazy val ctx = new VeloContext(spark)

  /** A fresh source holding the four events under `em_events`: a
    * MemoryStream drops the data a query commits, so each run gets its
    * own. */
  private def feed(): Unit = {
    import spark.implicits._
    implicit val sq: org.apache.spark.sql.classic.SQLContext =
      spark.sqlContext.asInstanceOf[org.apache.spark.sql.classic.SQLContext]
    val m = MemoryStream[(Long, Long)]
    m.addData(Seq((1L, 100L), (1L, 200L), (1L, 4000L), (2L, 50000L)))
    ctx.registerStream("em_events",
      m.toDF().toDF("uid", "ep").withColumn("event_time", timestamp_seconds(col("ep"))),
      "event_time", "10 minutes")
  }

  override def afterAll(): Unit = {
    ctx.close()
    super.afterAll()
  }

  /** Rows without the changelog tag, as sorted strings. */
  private def rows(df: DataFrame): Seq[String] =
    df.drop("_batch_id").collect().map(_.toString).toSeq.sorted

  private def emitted(df: DataFrame): Expect =
    if (df.columns.contains("_batch_id")) Changelog else Final

  /** The job's sink once it holds `want`, or what it held at the
    * deadline: a final-row window lands one no-data batch after the
    * data batch, and an empty file sink cannot be read yet. */
  private def jobSink(name: String, want: Seq[String]): DataFrame = {
    val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
    var last: Either[Throwable, DataFrame] = Left(new NoSuchElementException(name))
    def done = last.exists(df =>
      try rows(df) == want catch { case scala.util.control.NonFatal(_) => false })
    while (!done && System.nanoTime() < deadline) {
      ctx.jobManager.awaitIdle(name)
      last = try Right(ctx.jobManager.sinkDf(name))
             catch { case scala.util.control.NonFatal(e) => Thread.sleep(200); Left(e) }
    }
    last.fold(e => fail(s"job $name never produced a readable sink: $e"), identity)
  }

  private var jobSeq = 0

  private def check(body: String, expect: Expect): Unit = {
    jobSeq += 1
    val job = s"em_job$jobSeq"
    expect match {
      case Fails(cls) =>
        feed()
        val viaStream = intercept[Throwable](ctx.sqlStream(body))
        assert(cls.isInstance(viaStream), s"sqlStream: $viaStream")
        feed()
        val viaJob = intercept[Throwable](ctx.sql(s"START JOB $job AS $body"))
        assert(cls.isInstance(viaJob), s"START JOB: $viaJob")
      case _ =>
        feed()
        val streamed = spark.read.parquet(ctx.sqlStream(body))
        assert(emitted(streamed) == expect, s"sqlStream emitted ${emitted(streamed)}")
        val want = rows(streamed)
        feed()
        ctx.sql(s"START JOB $job AS $body")
        try {
          val sunk = jobSink(job, want)
          assert(emitted(sunk) == expect, s"START JOB emitted ${emitted(sunk)}")
          assert(rows(sunk) == want, "the two entry points disagree on the rows")
        } finally ctx.sql(s"STOP JOB $job FORCE")
    }
  }

  private val agg = "SELECT uid, COUNT(*) AS n FROM em_events GROUP BY uid"

  test("a session window under EMIT CHANGES emits each closed session once, final") {
    check(s"$agg WINDOW SESSION(event_time, INTERVAL '10' MINUTE) EMIT CHANGES", Final)
  }

  test("a windowless aggregate without EMIT is a changelog") {
    check(agg, Changelog)
  }

  test("EMIT FINAL on a windowless aggregate is a dialect error") {
    check(s"$agg EMIT FINAL", Fails(classOf[VeloSqlParser.ParseException]))
  }

  test("a global aggregate is a changelog") {
    check("SELECT COUNT(*) AS n FROM em_events", Changelog)
  }

  test("SELECT DISTINCT is a changelog") {
    check("SELECT DISTINCT uid FROM em_events", Changelog)
  }

  test("a Flink-style GROUP BY TUMBLE without EMIT emits the closed windows, final") {
    check("SELECT uid, COUNT(*) AS n FROM em_events " +
      "GROUP BY uid, TUMBLE(event_time, INTERVAL '5' MINUTE)", Final)
  }

  test("WINDOW TUMBLING emits final rows, and its changelog under EMIT CHANGES") {
    val tumbling = s"$agg WINDOW TUMBLING(event_time, INTERVAL '5' MINUTE)"
    check(tumbling, Final)
    check(s"$tumbling EMIT CHANGES", Changelog)
  }

  test("a plain projection emits final rows") {
    check("SELECT uid, ep FROM em_events", Final)
  }

  test("a streaming ORDER BY is rejected by Spark on both paths") {
    check("SELECT uid, ep FROM em_events ORDER BY ep", Fails(classOf[AnalysisException]))
  }

  test("a job's changelog reserves _batch_id, as runChangelog does") {
    feed()
    val e = intercept[IllegalArgumentException](ctx.sql(
      "START JOB em_tagged AS SELECT uid AS _batch_id, COUNT(*) AS n " +
        "FROM em_events GROUP BY uid EMIT CHANGES"))
    assert(e.getMessage.contains("_batch_id"), e.getMessage)
  }
}
