package graft.sql

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession

/** Statement/batch tracing spans (reference: observability/telemetry.rs,
  * span_collector.rs): every dialect statement produces a span tree,
  * streaming jobs produce per-micro-batch spans, and SHOW TRACES
  * exposes the collected spans through the SQL surface. */
class TracingSpec extends AnyFunSuite with SparkTestSession {

  test("span nesting, error status, and the bounded ring buffer") {
    var now = 1000L
    val tr = new Tracer(capacity = 4, clock = () => now)
    val out = tr.span("outer", Map("k" -> "v")) {
      now += 5
      tr.span("inner")(42)
    }
    assert(out == 42)
    val Vector(inner, outer) = tr.spans // children finish first
    assert(outer.name == "outer" && outer.parent_id.isEmpty
      && outer.trace_id == outer.span_id && outer.attrs == Map("k" -> "v"))
    assert(inner.name == "inner" && inner.parent_id.contains(outer.span_id)
      && inner.trace_id == outer.trace_id && inner.start_ms == 1005L)

    val e = intercept[RuntimeException](tr.span("boom")(throw new RuntimeException("bad")))
    assert(e.getMessage == "bad")
    val boom = tr.spans.last
    assert(boom.status == "ERROR" && boom.error == "bad")

    // capacity bound: oldest spans fall off, never unbounded growth
    (1 to 10).foreach(i => tr.span(s"s$i")(()))
    assert(tr.spans.length == 4 && tr.spans.map(_.name) == Vector("s7", "s8", "s9", "s10"))

    tr.recordSpan("async", startMs = 7L, durationMs = 3L, Map("a" -> "b"))
    assert(tr.spans.last.name == "async" && tr.spans.last.duration_ms == 3L)
    tr.clear()
    assert(tr.spans.isEmpty)
  }

  test("a non-local return inside a span body records OK, not ERROR") {
    val tr = new Tracer(clock = () => 1000L)
    // the non-local `return` unwinds via NonLocalReturnControl — from
    // the caller's point of view the body SUCCEEDED; recording ERROR
    // would make SHOW TRACES report failures for healthy statements
    def f(): Int = tr.span("work") { if (true) return 7; 0 }
    assert(f() == 7)
    val w = tr.spans.last
    assert(w.name == "work" && w.status == "OK" && w.error == "",
      s"control-flow throwable misrecorded: $w")
  }

  test("a throwing clock does not corrupt the thread's span stack") {
    var boom = true
    val tr = new Tracer(clock = () => { if (boom) throw new IllegalStateException("clock"); 1000L })
    intercept[IllegalStateException](tr.span("broken")(42))
    boom = false
    // the failed span must not have leaked a stack frame: the next span
    // on this thread is a fresh ROOT (its own trace, no parent), not a
    // child of the never-completed "broken" span
    tr.span("after")(())
    val after = tr.spans.last
    assert(after.name == "after" && after.parent_id.isEmpty && after.trace_id == after.span_id)
  }

  test("dialect statements trace parse/execute children; SHOW TRACES surfaces them") {
    import spark.implicits._
    val ctx = new VeloContext(spark)
    ctx.register("traced_t", Seq((1L, 2.0), (2L, 3.0)).toDF("id", "v"))
    ctx.sql("SELECT id, v * 2 AS v2 FROM traced_t").collect()

    val stmt = ctx.tracer.spans.filter(_.name == "sql.statement")
    assert(stmt.nonEmpty)
    assert(stmt.last.attrs("sql").startsWith("SELECT id, v * 2"))
    val kids = ctx.tracer.spans.filter(_.parent_id.contains(stmt.last.span_id)).map(_.name)
    assert(kids == Vector("sql.parse", "sql.execute"))
    assert(ctx.tracer.spans.find(_.name == "sql.execute")
      .exists(_.attrs("kind") == "Select"))

    // the SQL surface: SHOW TRACES sees its own statement history
    val shown = ctx.sql("SHOW TRACES LIKE 'sql.%'").collect()
    assert(shown.map(_.getAs[String]("name")).contains("sql.statement"))
    // a failing statement leaves an ERROR span
    intercept[Exception](ctx.sql("SELECT nope FROM missing_table").collect())
    assert(ctx.tracer.spans.exists(s => s.name == "sql.execute" && s.status == "ERROR"))
  }

  test("streaming jobs emit per-micro-batch spans with batch attributes") {
    import spark.implicits._
    implicit val sq: org.apache.spark.sql.classic.SQLContext =
      spark.sqlContext.asInstanceOf[org.apache.spark.sql.classic.SQLContext]
    val in = MemoryStream[(Long, Double)]
    val ctx = new VeloContext(spark)
    ctx.register("traced_events", in.toDF().toDF("id", "v"))
    in.addData(Seq((1L, 1.0), (2L, 2.0)))
    ctx.sql("START JOB traced AS SELECT id, v FROM traced_events")
    ctx.jobManager.awaitIdle("traced")
    // listener events arrive asynchronously — poll with a deadline
    val deadline = System.nanoTime() + 15L * 1000000000L
    def batches = ctx.tracer.spans.filter(s =>
      s.name == "job.batch" && s.attrs.get("job").contains("traced"))
    while (batches.isEmpty && System.nanoTime() < deadline) Thread.sleep(100)
    ctx.sql("STOP JOB traced")
    assert(batches.nonEmpty)
    assert(batches.exists(_.attrs("input_rows") == "2"))
    assert(batches.forall(_.attrs.contains("batch_id")))
  }

  test("job.batch spans belong to the launching context, not to a same-named job elsewhere") {
    import spark.implicits._
    implicit val sq: org.apache.spark.sql.classic.SQLContext =
      spark.sqlContext.asInstanceOf[org.apache.spark.sql.classic.SQLContext]
    val inA = MemoryStream[(Long, Double)]
    val inB = MemoryStream[(Long, Double)]
    val a = new VeloContext(spark)
    val b = new VeloContext(spark)
    try {
      a.register("own_a", inA.toDF().toDF("id", "v"))
      b.register("own_b", inB.toDF().toDF("id", "v"))
      // context A runs and stops its job `x`: A's registry keeps the name
      inA.addData(Seq((1L, 1.0), (2L, 2.0)))
      a.sql("START JOB x AS SELECT id, v FROM own_a")
      a.jobManager.awaitIdle("x")
      a.sql("STOP JOB x")
      // context B runs its OWN job `x`, three rows per batch
      inB.addData(Seq((1L, 1.0), (2L, 2.0), (3L, 3.0)))
      b.sql("START JOB x AS SELECT id, v FROM own_b")
      b.jobManager.awaitIdle("x")
      def bBatches(ctx: VeloContext) = ctx.tracer.spans.filter(s =>
        s.name == "job.batch" && s.attrs.get("input_rows").contains("3"))
      val deadline = System.nanoTime() + 15L * 1000000000L
      while (bBatches(b).isEmpty && System.nanoTime() < deadline) Thread.sleep(100)
      b.sql("STOP JOB x")
      assert(bBatches(b).nonEmpty)
      // A's listener was registered first, so the bus delivered B's
      // batch to it before B recorded the span
      assert(bBatches(a).isEmpty, s"A recorded B's batches: ${bBatches(a)}")
    } finally { a.close(); b.close() }
  }

  test("VeloContext.close() removes the one progress listener its jobs registered") {
    import spark.implicits._
    implicit val sq: org.apache.spark.sql.classic.SQLContext =
      spark.sqlContext.asInstanceOf[org.apache.spark.sql.classic.SQLContext]
    val before = spark.streams.listListeners().length
    val in = MemoryStream[(Long, Double)]
    val ctx = new VeloContext(spark)
    ctx.register("closing_events", in.toDF().toDF("id", "v"))
    in.addData(Seq((1L, 1.0)))
    ctx.sql("START JOB closing1 AS SELECT id, v FROM closing_events")
    ctx.sql("START JOB closing2 AS SELECT id, v FROM closing_events")
    ctx.sql("PAUSE JOB closing1")
    ctx.sql("RESUME JOB closing1")
    // one listener per context, however many launches
    assert(spark.streams.listListeners().length == before + 1)
    ctx.sql("STOP JOB closing1")
    ctx.sql("STOP JOB closing2")
    ctx.close()
    assert(spark.streams.listListeners().length == before)
  }

  test("Tracer capacity must be positive — a 0-capacity tracer would silently drop every span (r14 review)") {
    intercept[IllegalArgumentException](new Tracer(capacity = 0))
    intercept[IllegalArgumentException](new Tracer(capacity = -3))
  }
}
