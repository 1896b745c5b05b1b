package graft.sql

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession

/** Pre-deployment validation: Catalyst-analyzer-backed semantic checks
  * with nothing executed (reference: src/velostream/sql/validator.rs,
  * tests/unit/sql/validation/). */
class SqlValidatorSpec extends AnyFunSuite with SparkTestSession {

  private lazy val ctx: VeloContext = {
    import spark.implicits._
    val c = new VeloContext(spark)
    c.register("v_orders", Seq((1L, 250.0, "pending"), (2L, 50.0, "filled"))
      .toDF("order_id", "amount", "status"))
    c
  }

  test("valid statements pass; nothing is executed") {
    val r = SqlValidator.validateStatement(ctx,
      "SELECT status, COUNT(*) AS n FROM v_orders GROUP BY status")
    assert(r.isValid && r.errors.isEmpty)
    assert(SqlValidator.validateStatement(ctx, "SHOW JOBS").isValid)
    assert(SqlValidator.validateStatement(ctx, "DESCRIBE v_orders").isValid)
  }

  test("unresolved tables and columns are caught by the analyzer") {
    val t = SqlValidator.validateStatement(ctx, "SELECT * FROM no_such_stream")
    assert(!t.isValid && t.errors.head.contains("analysis error"))
    val c = SqlValidator.validateStatement(ctx, "SELECT no_such_col FROM v_orders")
    assert(!c.isValid)
    val p = SqlValidator.validateStatement(ctx, "SELEC broken")
    assert(!p.isValid && p.errors.head.contains("parse error"))
  }

  test("DDL/DML/lifecycle bodies validate through their inner query") {
    assert(SqlValidator.validateStatement(ctx,
      "CREATE TABLE t2 AS SELECT order_id FROM v_orders").isValid)
    assert(!SqlValidator.validateStatement(ctx,
      "CREATE TABLE t3 AS SELECT bogus FROM v_orders").isValid)
    assert(!SqlValidator.validateStatement(ctx,
      "START JOB j1 AS SELECT bogus FROM v_orders").isValid)
    assert(!SqlValidator.validateStatement(ctx,
      "INSERT INTO missing_table SELECT * FROM v_orders").isValid)
    // CANARY range is a validation error even though the parser accepts it
    assert(!SqlValidator.validateStatement(ctx,
      "DEPLOY JOB j VERSION '1.0.0' AS SELECT * FROM v_orders STRATEGY CANARY(150)").isValid)
    // unknown-job lifecycle ops are warnings, not errors
    val w = SqlValidator.validateStatement(ctx, "STOP JOB never_started")
    assert(w.isValid && w.warnings.exists(_.contains("not currently registered")))
    // nothing above materialized anything
    assert(!spark.catalog.tableExists("t2"))
  }

  test("r15 advice: validateContent resolves ${VAR} with the CALLER's env lookup, like SqlApp.run") {
    // a custom lookup (SqlApp.run/parse take one) must produce the SAME
    // resolved statement text on the validator side — resolving with the
    // default sys.env here had the gate analyzing different text than
    // the executor runs
    val content =
      """-- SQL Application: Env Demo
        |SELECT ${COL} FROM v_orders;
        |""".stripMargin
    val ok = SqlValidator.validateContent(ctx, content, Map("COL" -> "order_id").get)
    assert(ok.isValid, ok.queries.flatMap(_.errors).toString)
    // an unresolvable spec keeps its text and fails identically to run()
    val bad = SqlValidator.validateContent(ctx, content, _ => None)
    assert(!bad.isValid)
  }

  test("application-level validation: counts, header name, missing sink configs") {
    val res = SqlValidator.validateContent(ctx,
      """-- SQL Application: Validation Demo
        |
        |CREATE STREAM out1 AS SELECT order_id FROM v_orders INTO undeclared_sink;
        |SELECT status FROM v_orders;
        |SELECT oops FROM v_orders
        |""".stripMargin)
    assert(res.applicationName.contains("Validation Demo"))
    assert(res.totalQueries == 3 && res.validQueries == 2 && !res.isValid)
    assert(res.missingConfigurations.exists(_.contains("undeclared_sink")))
  }

  test("malformed statements yield one invalid entry, never a crashed report") {
    // these throw NumberFormat/NoSuchElement/IllegalArgument from deep in
    // the parser — the gate must mark the statement invalid, not die
    Seq(
      "SELECT * FROM v_orders LIMIT abc",
      "SELECT HEADER() FROM v_orders").foreach { bad =>
      val v = SqlValidator.validateStatement(ctx, bad)
      assert(!v.isValid, s"'$bad' should be invalid")
      assert(v.errors.exists(_.startsWith("parse error")))
    }
  }

  test("cross-branch and declared-schema mismatches fail the pre-deploy gate") {
    // union branches with different arity pass branch-by-branch analysis
    // but fail as a whole statement
    val u = SqlValidator.validateStatement(ctx,
      "SELECT order_id, status FROM v_orders UNION SELECT order_id FROM v_orders")
    assert(!u.isValid)
    // declared columns bind positionally: arity mismatch is a guaranteed
    // execution failure the validator must catch BEFORE deployment
    val c = SqlValidator.validateStatement(ctx,
      "CREATE TABLE t_bad (a INT, b STRING) AS SELECT order_id FROM v_orders")
    assert(!c.isValid)
    assert(c.errors.exists(_.contains("declared 2 columns")))
  }

  test("r17 review: the gate catches CTAS-over-streaming and warns on append-doomed job bodies") {
    import spark.implicits._
    implicit val sq: org.apache.spark.sql.classic.SQLContext =
      spark.sqlContext.asInstanceOf[org.apache.spark.sql.classic.SQLContext]
    val in = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(java.sql.Timestamp, Double)]
    ctx.registerStream("val_stream", in.toDF().toDF("ts", "v"), "ts", "10 minutes")
    // the executor's CTAS arm is guaranteed to throw 'cannot
    // materialize' — the gate must surface it pre-deploy
    val c = SqlValidator.validateStatement(ctx,
      "CREATE TABLE snap AS SELECT v FROM val_stream")
    assert(!c.isValid && c.errors.exists(_.contains("cannot materialize")), c.toString)
    // a non-windowed streaming aggregate without EMIT CHANGES runs as a
    // changelog (StreamOps.emission), so there is no launch failure to
    // warn about
    val j = SqlValidator.validateStatement(ctx,
      "START JOB j9 AS SELECT v, COUNT(*) AS n FROM val_stream GROUP BY v")
    assert(j.isValid && !j.warnings.exists(_.contains("fail at launch")), j.toString)
    val ok = SqlValidator.validateStatement(ctx,
      "START JOB j9 AS SELECT v, COUNT(*) AS n FROM val_stream GROUP BY v EMIT CHANGES")
    assert(ok.isValid && !ok.warnings.exists(_.contains("fail at launch")), ok.toString)
  }

  test("r17 review: INTO resolvable from the statement's own dotted props is not missing config") {
    // the executor's sinkFilePath resolves '<sink>.path' from s.props —
    // warning here flagged a correctly-writing app as misconfigured
    val r = SqlValidator.validateStatement(ctx,
      "SELECT order_id FROM v_orders INTO propsink " +
        "WITH ('propsink.path' = '/tmp/graft_props_out.parquet')")
    assert(r.isValid && !r.warnings.exists(_.contains("propsink")), r.toString)
    // a bare undeclared sink still warns
    val w = SqlValidator.validateStatement(ctx, "SELECT order_id FROM v_orders INTO baresink")
    assert(w.warnings.exists(_.contains("baresink")), w.toString)
  }

  test("app validation resolves intra-file dependencies and leaves no catalog residue") {
    // statement 2 reads statement 1's CTAS output; statement 3 reads 2's
    // — the wave loader executes this fine, so the gate must accept it
    val res = SqlValidator.validateContent(ctx,
      """-- SQL Application: Chained
        |CREATE TABLE base_v (oid BIGINT) AS SELECT order_id FROM v_orders;
        |CREATE TABLE mid_v AS SELECT oid + 1 AS oid2 FROM base_v;
        |SELECT oid2 FROM mid_v
        |""".stripMargin)
    assert(res.isValid, res.queries.flatMap(_.errors).mkString("; "))
    assert(res.validQueries == 3)
    // a misspelled column INSIDE the chain still fails its statement
    val bad = SqlValidator.validateContent(ctx,
      """-- SQL Application: Chained Bad
        |CREATE TABLE base_w AS SELECT order_id FROM v_orders;
        |SELECT nope FROM base_w
        |""".stripMargin)
    assert(!bad.isValid && bad.validQueries == 1)
    // placeholders are torn down — nothing validated ever materializes
    Seq("base_v", "mid_v", "base_w").foreach(t => assert(!spark.catalog.tableExists(t), t))
  }

  test("validation placeholders are invisible to the shared session (cloned catalog)") {
    import spark.implicits._
    // mechanism: a view registered in the clone must not resolve in the
    // original, and replacing a same-name view in the clone must leave
    // the original relation untouched
    val clone = org.apache.spark.sql.GraftBridge.cloneSession(spark)
    ctx.register("iso_v", Seq((1L, "a"), (2L, "b")).toDF("id", "tag"))
    clone.emptyDataFrame.createOrReplaceTempView("clone_only_v")
    assert(!spark.catalog.tableExists("clone_only_v"))
    clone.table("iso_v").limit(0).createOrReplaceTempView("iso_v")
    assert(spark.table("iso_v").count() == 2, "original session saw the clone's placeholder")

    // end-to-end: while validateContent replaces live_probe with a
    // zero-row placeholder (in its clone), a concurrent reader on the
    // SHARED session must keep seeing the real rows at every poll
    ctx.register("live_probe", Seq((1L, 1.0), (2L, 2.0), (3L, 3.0)).toDF("order_id", "v"))
    @volatile var running = true
    @volatile var badObservation: Option[Long] = None
    val reader = new Thread(() => {
      while (running && badObservation.isEmpty) {
        val n = spark.table("live_probe").count()
        if (n != 3) badObservation = Some(n)
      }
    })
    reader.start()
    try {
      val res = SqlValidator.validateContent(ctx,
        """-- SQL Application: Concurrent
          |CREATE TABLE live_probe AS SELECT order_id FROM v_orders;
          |SELECT order_id FROM live_probe;
          |CREATE TABLE live_probe AS SELECT order_id, order_id + 1 AS nxt FROM v_orders;
          |SELECT nxt FROM live_probe
          |""".stripMargin)
      assert(res.isValid, res.queries.flatMap(_.errors).mkString("; "))
    } finally { running = false; reader.join(10000) }
    assert(badObservation.isEmpty,
      s"concurrent reader saw placeholder data: $badObservation rows")
    assert(spark.table("live_probe").count() == 3)
  }

  test("a placeholder shadowing an existing view is restored after validation") {
    import spark.implicits._
    ctx.register("keep_me", Seq((1L, "x")).toDF("id", "tag"))
    val res = SqlValidator.validateContent(ctx,
      """-- SQL Application: Shadow
        |CREATE TABLE keep_me AS SELECT order_id FROM v_orders;
        |SELECT order_id FROM keep_me
        |""".stripMargin)
    assert(res.isValid)
    // the ORIGINAL relation (id, tag) is back, not the CTAS placeholder
    assert(spark.table("keep_me").columns.toSeq == Seq("id", "tag"))
  }

  test("sinks declared earlier in the same file satisfy the INTO check; ctx stays unmutated") {
    val res = SqlValidator.validateContent(ctx,
      """-- SQL Application: Sinks
        |CREATE SINK sink_ok WITH ('path' = '/tmp/x.parquet');
        |SELECT order_id FROM v_orders INTO sink_ok;
        |SELECT order_id FROM v_orders INTO sink_missing
        |""".stripMargin)
    assert(res.isValid) // sink warnings are warnings, not errors
    assert(!res.missingConfigurations.exists(_.contains("sink_ok")))
    assert(res.missingConfigurations.exists(_.contains("sink_missing")))
    // validation must not register the declaration on the live context
    assert(!ctx.declaredSources.contains("sink_ok"))
  }

  test("INTO sinks on union branches and CTE bodies get the declaration check") {
    val u = SqlValidator.validateStatement(ctx,
      "SELECT order_id FROM v_orders UNION SELECT order_id FROM v_orders INTO union_sink")
    assert(u.isValid && u.warnings.exists(_.contains("union_sink")))
    val w = SqlValidator.validateStatement(ctx,
      "WITH c AS (SELECT order_id FROM v_orders) SELECT order_id FROM c INTO cte_sink")
    assert(w.isValid && w.warnings.exists(_.contains("cte_sink")))
  }

  test("declared column TYPES are validated, not just arity") {
    // a bad type passes arity but kills the launch (cast throws) — the
    // gate must reject it before a DEPLOY destroys the running version
    val bad = SqlValidator.validateStatement(ctx,
      "CREATE STREAM s_badtype (a NOT_A_TYPE) AS SELECT order_id FROM v_orders")
    assert(!bad.isValid)
    val ok = SqlValidator.validateStatement(ctx,
      "CREATE STREAM s_oktype (a BIGINT) AS SELECT order_id FROM v_orders")
    assert(ok.isValid, ok.errors.mkString("; "))
  }

  test("INSERT column lists and VALUES are validated against table and source") {
    // arity: column list vs source width
    val arity = SqlValidator.validateStatement(ctx,
      "INSERT INTO v_orders (order_id) SELECT order_id, amount FROM v_orders")
    assert(!arity.isValid && arity.errors.exists(_.contains("1 names but the source produces 2")))
    // unknown listed column
    val unknown = SqlValidator.validateStatement(ctx,
      "INSERT INTO v_orders (no_such_col) VALUES (1)")
    assert(!unknown.isValid && unknown.errors.exists(_.contains("not in v_orders")))
    // duplicate listed column
    val dup = SqlValidator.validateStatement(ctx,
      "INSERT INTO v_orders (order_id, order_id) SELECT order_id, amount FROM v_orders")
    assert(!dup.isValid && dup.errors.exists(_.contains("twice")))
    // VALUES row arity vs column list
    val varity = SqlValidator.validateStatement(ctx,
      "INSERT INTO v_orders (order_id, amount) VALUES (1)")
    assert(!varity.isValid)
    // no column list → positional bind needs exact width
    val width = SqlValidator.validateStatement(ctx,
      "INSERT INTO v_orders SELECT order_id FROM v_orders")
    assert(!width.isValid && width.errors.exists(_.contains("has 3")))
    // and a well-formed INSERT still passes
    assert(SqlValidator.validateStatement(ctx,
      "INSERT INTO v_orders (order_id, amount, status) VALUES (3, 10.0, 'new')").isValid)
    assert(SqlValidator.validateStatement(ctx,
      "INSERT INTO v_orders SELECT order_id, amount, status FROM v_orders").isValid)
  }

  test("malformed job WITH-props fail the gate before any deploy") {
    val bad = SqlValidator.validateStatement(ctx,
      "START JOB jp AS SELECT order_id FROM v_orders WITH ('max_total_memory' = 'lots')")
    assert(!bad.isValid && bad.errors.exists(_.contains("max_total_memory")))
    val neg = SqlValidator.validateStatement(ctx,
      "DEPLOY JOB jp VERSION '2' AS SELECT order_id FROM v_orders WITH ('max_aggregation_groups' = '-5')")
    assert(!neg.isValid && neg.errors.exists(_.contains("max_aggregation_groups")))
    assert(SqlValidator.validateStatement(ctx,
      "START JOB jp AS SELECT order_id FROM v_orders WITH ('max_total_memory' = '1048576')").isValid)
  }

  test("WINDOW-spec declared columns: the gate applies the executor's window-tail allowance") {
    import spark.implicits._
    ctx.register("v_ticks",
      Seq(("AAPL", 10.0, java.sql.Timestamp.valueOf("2024-01-01 00:00:10")),
          ("MSFT", 20.0, java.sql.Timestamp.valueOf("2024-01-01 00:00:20")))
        .toDF("symbol", "price", "ts"))
    // a declared list covering only the SELECT items executes fine (the
    // renderer's synthetic window_start/window_end pass through), so the
    // pre-deploy gate must accept it too — executor/validator parity
    val ok = SqlValidator.validateStatement(ctx,
      """CREATE TABLE win_gate (sym STRING, cnt BIGINT) AS
         SELECT symbol, COUNT(*) FROM v_ticks GROUP BY symbol
         WINDOW TUMBLING(INTERVAL '1' MINUTE)""")
    assert(ok.isValid, ok.errors.mkString("; "))
    // a genuine arity mismatch under a WINDOW spec is still an error
    // (the extras would include a non-window select item)
    val bad = SqlValidator.validateStatement(ctx,
      """CREATE TABLE win_bad (sym STRING) AS
         SELECT symbol, COUNT(*) FROM v_ticks GROUP BY symbol
         WINDOW TUMBLING(INTERVAL '1' MINUTE)""")
    assert(!bad.isValid)
    assert(bad.errors.exists(_.contains("declared 1 columns")))
    // the gate analyzed, never executed
    assert(!spark.catalog.tableExists("win_gate"))
  }

  test("mutation statements validate through the executor's own semantics (r14 shared helper)") {
    import spark.implicits._
    ctx.register("v_mut", Seq((1L, 10.0)).toDF("id", "x"))
    // stdout pseudo-table: the executor's built-in debug sink needs no
    // declaration and no table — the gate must not reject it (r13
    // post-seal finding)
    assert(SqlValidator.validateStatement(ctx,
      "INSERT INTO stdout SELECT order_id FROM v_orders").isValid)
    assert(SqlValidator.validateStatement(ctx, "INSERT INTO stdout VALUES (1, 'a')").isValid)
    // ... and the INTO form neither warns nor counts as a missing sink
    val intoStdout = SqlValidator.validateStatement(ctx,
      "SELECT order_id FROM v_orders INTO stdout")
    assert(intoStdout.isValid && intoStdout.warnings.isEmpty && intoStdout.missingSinks.isEmpty)
    // a typo'd SET column fails PRE-deploy, not at execution
    val badSet = SqlValidator.validateStatement(ctx, "UPDATE v_mut SET xx = 1 WHERE id = 1")
    assert(!badSet.isValid && badSet.errors.exists(_.contains("not in v_mut")), badSet.toString)
    // duplicate SET targets (case-insensitive, like the executor)
    val dupSet = SqlValidator.validateStatement(ctx, "UPDATE v_mut SET x = 1, X = 2")
    assert(!dupSet.isValid && dupSet.errors.exists(_.contains("twice")), dupSet.toString)
    // unresolvable WHERE columns fail analysis for UPDATE and DELETE
    assert(!SqlValidator.validateStatement(ctx, "UPDATE v_mut SET x = 1 WHERE nope = 3").isValid)
    assert(!SqlValidator.validateStatement(ctx, "DELETE FROM v_mut WHERE nope = 3").isValid)
    // INSERT cast incompatibility: an array cannot cast to DOUBLE — the
    // executor casts eagerly, so the gate must reject it too
    val badCast = SqlValidator.validateStatement(ctx,
      "INSERT INTO v_mut SELECT order_id, ARRAY(1, 2) FROM v_orders")
    assert(!badCast.isValid, badCast.toString)
    // well-formed mutations still pass, and NOTHING executed
    assert(SqlValidator.validateStatement(ctx, "UPDATE v_mut SET x = x * 2 WHERE id = 1").isValid)
    assert(SqlValidator.validateStatement(ctx, "DELETE FROM v_mut WHERE x > 100").isValid)
    assert(spark.table("v_mut").count() == 1)
  }
  test("r14 review follow-ups: ${VAR} apps validate, sinks bind case-insensitively, annotations survive") {
    // the gate applies the SAME ${VAR} resolution SqlApp.run does — a
    // deployable app using substitution must not be rejected at tokenize
    val app =
      """-- SQL Application: subst_app
        |CREATE SINK file_out WITH (path = 'file:///tmp/graft_subst_out.parquet');
        |SELECT order_id FROM ${GRAFT_NO_SUCH_VAR:v_orders} INTO FILE_OUT;
        |""".stripMargin
    val v = SqlValidator.validateContent(ctx, app)
    assert(v.isValid, v.toString)
    // INTO FILE_OUT bound the sink declared as file_out (the executor's
    // case-insensitive rule) — no missing-sink record
    assert(v.missingConfigurations.isEmpty, v.toString)

    // one undeclared sink referenced twice is ONE missing configuration
    val dup =
      """-- SQL Application: dup_sink_app
        |SELECT order_id FROM v_orders INTO nowhere;
        |SELECT amount FROM v_orders INTO nowhere;
        |""".stripMargin
    val dv = SqlValidator.validateContent(ctx, dup)
    assert(dv.missingConfigurations.length == 1, dv.missingConfigurations.toString)

    // INTO stdout when a REAL table named stdout exists is the
    // silent-no-write case — the catalog-aware exemption must WARN
    import spark.implicits._
    ctx.register("stdout", Seq((1, "x")).toDF("id", "v"))
    try {
      val shadowed = SqlValidator.validateStatement(ctx,
        "SELECT order_id FROM v_orders INTO stdout")
      assert(shadowed.missingSinks == Vector("stdout"), shadowed.toString)
    } finally spark.catalog.dropTempView("stdout")
  }

  test("backtick-quoted INSERT/UPDATE column targets bind to bare schema names (r14 review)") {
    import spark.implicits._
    val ctx2 = new VeloContext(spark)
    ctx2.register("bt_t", Seq((1L, 10.0)).toDF("id", "amount"))
    ctx2.sql("CREATE TABLE bt_m AS SELECT * FROM bt_t")
    ctx2.sql("INSERT INTO bt_m (`amount`, `id`) VALUES (20.0, 2)")
    assert(ctx2.sql("SELECT COUNT(*) AS n FROM bt_m").collect().head.getLong(0) == 2)
    ctx2.sql("UPDATE bt_m SET `amount` = 99.0 WHERE id = 2")
    val got = ctx2.sql("SELECT amount FROM bt_m WHERE id = 2").collect().head.getDouble(0)
    assert(got == 99.0)
  }

  test("multi-column UPDATE under a non-deterministic WHERE cannot tear (r14 review)") {
    import spark.implicits._
    val ctx2 = new VeloContext(spark)
    ctx2.register("nd_t", (1 to 200).map(i => (i.toLong, 0L, 0L)).toDF("id", "x", "y"))
    ctx2.sql("CREATE TABLE nd_m AS SELECT * FROM nd_t")
    ctx2.sql("UPDATE nd_m SET x = 1, y = 1 WHERE rand() < 0.5")
    // the predicate is materialized once per row: x and y always agree —
    // per-column evaluation would disagree on ~half the selected rows
    val torn = ctx2.sql("SELECT COUNT(*) AS n FROM nd_m WHERE x <> y")
      .collect().head.getLong(0)
    assert(torn == 0L, s"$torn rows updated x without y (or vice versa)")
  }
}
