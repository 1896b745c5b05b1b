package graft.sql

import java.sql.Timestamp

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession

/** The velostream SQL dialect front-end must parse and execute the
  * reference grammar's own examples
  * (docs/sql/PARSER_GRAMMAR.md "Complete Query Examples",
  * docs/sql/comprehensive-sql-ctas-guide.md) against Spark.
  */
class VeloSqlSpec extends AnyFunSuite with SparkTestSession {

  private def ts(s: Long): Timestamp = new Timestamp(s * 1000L)

  private lazy val ctx: VeloContext = {
    val c = new VeloContext(spark, defaultTimeCol = "timestamp")
    import spark.implicits._
    val base = 1700000000L
    val orders = Seq(
      (1L, 10L, 250.0, ts(base), "pending"),
      (2L, 11L, 50.0, ts(base + 60), "filled"),
      (3L, 10L, 5000.0, ts(base + 120), "filled"),
      (4L, 12L, 120.0, ts(base + 7200), "pending"),
      (5L, 11L, 80.0, ts(base + 7260), "filled")
    ).toDF("order_id", "customer_id", "amount", "event_time", "status")
      .withColumn("timestamp", col("event_time"))
    c.registerStreamLike("orders", orders, "event_time", "order_id")
    val customers = Seq((10L, "alice"), (11L, "bob"), (12L, "carol"))
      .toDF("customer_id", "customer_name")
    c.register("customers", customers)
    val shipments = Seq(
      (1L, ts(base + 3600)), (3L, ts(base + 90000)), (4L, ts(base + 7300))
    ).toDF("order_id", "event_time")
    c.register("shipments", shipments)
    val md = Seq(
      ("AAPL", 100.0, 10L, 7L, ts(base)), ("AAPL", 101.0, 12L, 7L, ts(base + 10)),
      ("AAPL", 0.0, 1L, 8L, ts(base + 20)), ("MSFT", 50.0, 5L, 8L, ts(base + 30)),
      ("MSFT", 51.0, 6L, 7L, ts(base + 70)), ("AAPL", 102.0, 9L, 8L, ts(base + 75))
    ).toDF("symbol", "price", "volume", "trader_id", "timestamp")
    c.register("market_data", md)
    c.register("market_feed", md)
    c.register("trades", md.withColumn("quantity", col("volume"))
      .withColumn("stock_symbol", col("symbol")).withColumn("region", lit("emea"))
      .withColumn("product", col("symbol")).withColumn("qty", col("volume")))
    c
  }

  test("simple SELECT with WHERE and LIMIT (grammar example)") {
    val df = ctx.sql("SELECT order_id, customer_id, amount FROM orders WHERE amount > 100 LIMIT 10")
    assert(df.collect().map(_.getLong(0)).toSet == Set(1L, 3L, 4L))
  }

  test("GROUP BY with tumbling window (grammar example)") {
    val df = ctx.sql(
      """SELECT symbol, COUNT(*) as trade_count, AVG(price) as avg_price
         FROM market_data
         WHERE price > 0
         GROUP BY symbol
         WINDOW TUMBLING(INTERVAL '1' MINUTE)""")
    assert(df.columns.toSet == Set("symbol", "trade_count", "avg_price", "window_start", "window_end"))
    // AAPL has trades in minute 0 (2) and minute 1 (1); MSFT one in each
    val aapl = df.where(col("symbol") === "AAPL").orderBy("window_start").collect()
    assert(aapl.map(_.getLong(1)).toSeq == Seq(2L, 1L))
    assert(aapl.forall(r => r.getLong(4) - r.getLong(3) == 60L))
  }

  test("sliding window clause") {
    val df = ctx.sql(
      """SELECT symbol, COUNT(*) AS n FROM market_data GROUP BY symbol
         WINDOW SLIDING(INTERVAL '2' MINUTE, INTERVAL '1' MINUTE)""")
    // every event lands in 2 overlapping windows
    assert(df.agg(sum("n")).collect().head.getLong(0) == 12L)
  }

  test("session window clause") {
    val df = ctx.sql(
      """SELECT customer_id, COUNT(*) AS n FROM orders GROUP BY customer_id
         WINDOW SESSION(INTERVAL '10' MINUTE)""")
    // customer 10: events at +0/+120 merge; 11: +60 and +7260 are 2 sessions
    val by = df.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      .groupBy(_._1).view.mapValues(_.map(_._2).sorted).toMap
    assert(by(10L) == Seq(2L))
    assert(by(11L) == Seq(1L, 1L))
  }

  test("ROWS WINDOW with partition and order (grammar example)") {
    val df = ctx.sql(
      """SELECT symbol, price,
             LAG(price, 1) OVER (
                 ROWS WINDOW BUFFER 100 ROWS
                 PARTITION BY symbol
                 ORDER BY timestamp
             ) as prev_price
         FROM trades""")
    val aapl = df.where(col("symbol") === "AAPL").orderBy("price").collect()
    assert(df.count() == 6)
    assert(aapl.exists(r => !r.isNullAt(2)))
  }

  test("r14 review: global streaming aggregate routes to changelog; qualified GROUP BY routes; arity is a dialect error") {
    import spark.implicits._
    implicit val sq: org.apache.spark.sql.classic.SQLContext =
      spark.sqlContext.asInstanceOf[org.apache.spark.sql.classic.SQLContext]
    // (1) SELECT COUNT(*) with NO GROUP BY over a stream lowers to a
    // streaming Aggregate — append mode rejects it; the plan-judged
    // routing must send it to the changelog arm instead of crashing
    val in = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, Long)]
    ctx.registerStream("glob_stream",
      in.toDF().toDF("id", "ep").withColumn("event_time", timestamp_seconds(col("ep"))),
      "event_time", "10 minutes")
    in.addData(Seq((1L, 100L), (2L, 200L), (3L, 300L)))
    val outDir = ctx.sqlStream("SELECT COUNT(*) AS n FROM glob_stream")
    val ns = spark.read.parquet(outDir).collect().map(_.getAs[Long]("n"))
    assert(ns.nonEmpty && ns.max == 3L, ns.toSeq.toString)

    // (2) a QUALIFIED GROUP BY key is a routable output column, like
    // the same dotted ref in the select list
    VeloSqlParser.parse(
      "SELECT o.user_id, COUNT(*) AS n FROM orders o GROUP BY o.user_id",
      "timestamp", _ => None) match {
      case VeloSqlParser.Select(sel) =>
        assert(VeloContext.groupByOutputNames(sel) == Vector("user_id"))
      case o => fail(s"$o")
    }

    // (3) a declared-column arity mismatch is a DIALECT error
    // (ParseException → HTTP 400), not an IllegalArgumentException 500
    intercept[VeloSqlParser.ParseException](
      ctx.sql("CREATE TABLE arity_t (a INT) AS SELECT order_id, amount FROM orders"))
  }

  test("r14 review: case-variant re-CTAS releases the prior cache; compact model survives INSERT") {
    // (1) re-CTAS under different casing: the view swap is
    // case-insensitive, so the registry bookkeeping must be too — the
    // surviving table is the NEW body and mutations bind to it
    ctx.sql("CREATE TABLE case_t AS SELECT order_id, amount FROM orders")
    ctx.sql("CREATE TABLE CASE_T AS SELECT order_id FROM orders WHERE amount > 1000")
    val n0 = ctx.sql("SELECT COUNT(*) AS n FROM case_t").collect().head.getLong(0)
    ctx.sql("INSERT INTO case_t VALUES (999)")
    assert(ctx.sql("SELECT COUNT(*) AS n FROM case_t").collect().head.getLong(0) == n0 + 1)

    // (2) a 'compact' (MEMORY_AND_DISK_SER) table keeps its storage
    // level across the INSERT re-materialization — rebind used to
    // silently re-cache at the default deserialized level
    ctx.sql("CREATE TABLE compact_t AS SELECT order_id, amount FROM orders WITH ('table_model' = 'compact')")
    ctx.sql("INSERT INTO compact_t VALUES (1000, 5.0)")
    val lvl = spark.table("compact_t").storageLevel
    assert(lvl == org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER, lvl.toString)
  }

  test("ROWS WINDOW moving aggregate uses a bounded trailing frame") {
    val df = ctx.sql(
      """SELECT symbol, price,
             SUM(price) OVER (
                 ROWS WINDOW BUFFER 2 ROWS
                 PARTITION BY symbol
                 ORDER BY timestamp
                 EMIT CHANGES
             ) as s2
         FROM market_data""")
    // AAPL prices in time order: 100, 101, 0, 102 → trailing-2 sums: 100, 201, 101, 102
    val s = df.where(col("symbol") === "AAPL").orderBy(col("price")).collect()
      .map(r => (r.getDouble(1), r.getDouble(2))).toMap
    assert(s(102.0) == 102.0 && s(101.0) == 201.0)
  }

  test("ROWS WINDOW emit modes + EXPIRE AFTER parse (rows_window_sql_test.rs shapes)") {
    // the reference's own test statements: EMIT EVERY RECORD (default
    // per-record emission), EMIT ON BUFFER FULL / BUFFER_FULL, and the
    // EXPIRE AFTER gap-eviction clause — all streaming cadence/state
    // options; the batch trailing-frame rewrite is identical
    val every = ctx.sql(
      """SELECT symbol, price,
             COUNT(*) OVER (
                 ROWS WINDOW BUFFER 100 ROWS
                 PARTITION BY symbol
                 ORDER BY timestamp
                 EMIT EVERY RECORD
             ) as record_count
         FROM market_data""")
    assert(every.count() > 0)
    val onFull = ctx.sql(
      """SELECT symbol, AVG(price) OVER (
                 ROWS WINDOW BUFFER 3 ROWS PARTITION BY symbol
                 ORDER BY timestamp EMIT ON BUFFER FULL) as a
         FROM market_data""")
    assert(onFull.count() > 0)
    assert(ctx.sql(
      """SELECT symbol, AVG(price) OVER (
                 ROWS WINDOW BUFFER 3 ROWS ORDER BY timestamp EMIT ON BUFFER_FULL) as a
         FROM market_data""").count() > 0)
    val expire = ctx.sql(
      """SELECT symbol, price,
             AVG(price) OVER (
                 ROWS WINDOW BUFFER 100 ROWS
                 PARTITION BY symbol
                 ORDER BY timestamp
                 EXPIRE AFTER INTERVAL '30' SECOND INACTIVITY
             ) as moving_avg_30s
         FROM market_data""")
    assert(expire.count() > 0)
    assert(ctx.sql(
      """SELECT symbol, AVG(price) OVER (
                 ROWS WINDOW BUFFER 10 ROWS ORDER BY timestamp
                 EXPIRE AFTER NEVER) as a
         FROM market_data""").count() > 0)
    // malformed forms still rejected
    intercept[VeloSqlParser.ParseException](VeloSqlParser.parse(
      "SELECT AVG(p) OVER (ROWS WINDOW BUFFER 3 ROWS ORDER BY t EMIT SOMETIMES) FROM x"))
    intercept[VeloSqlParser.ParseException](VeloSqlParser.parse(
      "SELECT AVG(p) OVER (ROWS WINDOW BUFFER 3 ROWS ORDER BY t EXPIRE AFTER INTERVAL '5' MINUTE) FROM x"))
  }

  test("stream-table join (grammar example)") {
    val df = ctx.sql(
      """SELECT o.order_id, c.customer_name
         FROM orders o
         JOIN customers c ON o.customer_id = c.customer_id""")
    assert(df.count() == 5)
  }

  test("stream-stream interval join (grammar example)") {
    val df = ctx.sql(
      """SELECT o.order_id
         FROM orders o
         JOIN shipments s ON o.order_id = s.order_id
           AND s.event_time BETWEEN o.event_time AND o.event_time + INTERVAL '24' HOUR""")
    assert(df.collect().map(_.getLong(0)).toSet == Set(1L, 4L))
  }

  test("PRIMARY KEY annotations are stripped and recorded (FR-089)") {
    val stmt = ctx.parseStatement(
      "SELECT region PRIMARY KEY, product PRIMARY KEY, SUM(qty) AS total FROM trades GROUP BY region, product")
    val sel = stmt.asInstanceOf[VeloSqlParser.Select].s
    assert(sel.keyFields == Vector("region", "product"))
    assert(ctx.sql("SELECT region PRIMARY KEY, product PRIMARY KEY, SUM(qty) AS total FROM trades GROUP BY region, product").count() == 2)
  }

  test("CSAS registers a composable stream view (ctas guide example)") {
    ctx.sql(
      """CREATE STREAM high_value_orders AS
         SELECT customer_id, amount, timestamp, HEADER('source') AS source
         FROM orders
         WHERE amount > 1000
         EMIT CHANGES;""")
    val df = ctx.sql("SELECT customer_id, amount, source FROM high_value_orders")
    assert(df.collect().map(r => (r.getLong(0), r.getString(2))).toSeq == Seq((10L, "orders")))
  }

  test("CTAS with kafka:// source and WITH properties (ctas guide example)") {
    val stmt = ctx.parseStatement(
      """CREATE TABLE high_volume_trades AS
         SELECT symbol, price, volume, trader_id
         FROM kafka://trades-topic
         WHERE volume > 10000
         WITH (
             'table_model' = 'compact',
             'kafka.batch.size' = '1000',
             'retention' = '7 days'
         )
         EMIT CHANGES;""")
    val cta = stmt.asInstanceOf[VeloSqlParser.CreateTableAs]
    assert(cta.name == "high_volume_trades")
    assert(cta.select.from == "trades_topic")
    assert(cta.props("table_model") == "compact" && cta.props("retention") == "7 days")
    assert(cta.select.emit.contains(VeloSqlParser.EmitChanges))

    ctx.sql("CREATE TABLE md_copy AS SELECT symbol, price, volume, timestamp FROM kafka://market-feed EMIT CHANGES")
    assert(ctx.sql("SELECT COUNT(*) AS n FROM md_copy").collect().head.getLong(0) == 6L)
  }

  test("INSERT INTO ... VALUES and ... SELECT append to a registered table") {
    import spark.implicits._
    ctx.register("sink_t", Seq((1L, "a")).toDF("id", "v"))
    ctx.sql("INSERT INTO sink_t (id, v) VALUES (2, 'b'), (3, 'c')")
    assert(spark.table("sink_t").count() == 3)
    ctx.sql("INSERT INTO sink_t SELECT order_id, status FROM orders WHERE amount > 1000")
    assert(spark.table("sink_t").count() == 4)
  }

  test("UPDATE and DELETE processors (update.rs / delete.rs analogs)") {
    import spark.implicits._
    ctx.register("mut_t", Seq((1L, "a", 10.0), (2L, "b", 20.0), (3L, "c", 30.0)).toDF("id", "tag", "v"))
    ctx.sql("UPDATE mut_t SET v = v * 2, tag = 'hot' WHERE id >= 2")
    val after = spark.table("mut_t").orderBy("id").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
    assert(after.toSeq == Seq((1L, "a", 10.0), (2L, "hot", 40.0), (3L, "hot", 60.0)))
    ctx.sql("DELETE FROM mut_t WHERE tag = 'hot'")
    assert(spark.table("mut_t").collect().map(_.getLong(0)).toSeq == Seq(1L))
  }

  test("SHOW STREAMS lists registered relations") {
    val names = ctx.sql("SHOW STREAMS").collect().map(_.getString(0)).toSet
    assert(names.contains("orders") && names.contains("customers"))
  }

  test("system columns and header functions (system-columns.md)") {
    val df = ctx.sql(
      """SELECT _offset, _partition, HEADER('source') AS src,
                HAS_HEADER('trace') AS tr, HEADER_KEYS() AS hk,
                TUMBLE_START(event_time, INTERVAL '1' HOUR) AS bucket
         FROM orders WHERE _offset = 1""")
    val r = df.collect().head
    // HEADER_KEYS() is a comma-joined STRING (functions.rs:375)
    assert(r.getLong(0) == 1L && r.getString(2) == "orders" && !r.getBoolean(3)
      && r.getString(4) == "source")
    assert(r.getLong(5) % 3600 == 0)
  }

  test("function-surface rewrites: COUNT_DISTINCT, STRING_AGG, JSON_EXTRACT, REMOVE_HEADER") {
    val n = ctx.sql("SELECT COUNT_DISTINCT(symbol) AS n FROM market_data").collect().head.getLong(0)
    assert(n == 2L)
    val agg = ctx.sql(
      "SELECT STRING_AGG(customer_name, ',') AS names FROM customers").collect().head.getString(0)
    assert(agg.split(",").toSet == Set("alice", "bob", "carol"))
    val rm = ctx.sql(
      "SELECT ARRAY_LENGTH(MAP_KEYS(REMOVE_HEADER('source'))) AS n FROM orders LIMIT 1")
      .collect().head.getInt(0)
    assert(rm == 0)
  }

  test("error cases from the grammar's NOT-to-do list fail to parse") {
    intercept[Exception](ctx.parseStatement("SELECT * FROM orders LIMIT 10 WHERE amount > 100"))
    intercept[Exception](ctx.parseStatement("SELECT * FROM orders ORDER BY amount WINDOW TUMBLING(1 MINUTE)"))
    // ROWS BUFFER without WINDOW is not a dialect construct → surfaces
    // as a Catalyst syntax error at execution
    intercept[Exception](ctx.sql("SELECT COUNT(*) OVER (ROWS BUFFER 100) FROM trades").collect())
  }

  test("case insensitivity (grammar rule)") {
    assert(ctx.sql("SeLeCt * FrOm orders WhErE aMoUnT > 100").count() == 3)
  }

  test("source/sink declarations, IF NOT EXISTS, union CSAS bodies, regex operator") {
    // declaration form (quickstart/hello-world.md, complete-syntax.md)
    ctx.sql(
      """CREATE STREAM processed_orders_cfg WITH (
             topic = 'processed-orders-topic',
             bootstrap.servers = 'localhost:9092'
         )""")
    assert(ctx.declaredSources("processed_orders_cfg")._2("topic") == "processed-orders-topic")
    // IF NOT EXISTS tolerated
    ctx.sql("CREATE TABLE IF NOT EXISTS inex_t AS SELECT order_id FROM orders")
    assert(spark.table("inex_t").count() == 5)
    // declared column schema (reference csas_ctas_test.rs:168): names
    // rebind the unaliased aggregates POSITIONALLY, types are cast
    ctx.sql(
      """CREATE TABLE order_stats (customer_id INT, total_spent DOUBLE, order_count INT)
         AS SELECT customer_id, SUM(amount), COUNT(*) FROM orders GROUP BY customer_id""")
    val stats = spark.table("order_stats")
    assert(stats.columns.toSeq == Seq("customer_id", "total_spent", "order_count"))
    assert(stats.schema("customer_id").dataType.typeName == "integer")
    assert(stats.schema("order_count").dataType.typeName == "integer")
    val alice = stats.where(col("customer_id") === 10).collect().head
    assert(alice.getAs[Double]("total_spent") == 5250.0 && alice.getAs[Int]("order_count") == 2)
    // declared-arity mismatch is rejected before execution
    val mismatch = intercept[Exception](ctx.sql(
      "CREATE TABLE bad_stats (a INT, b INT) AS SELECT customer_id FROM orders"))
    assert(mismatch.getMessage.contains("declared 2 columns"))
    // UNION ALL body inside CSAS (COPY_PASTE_EXAMPLES.md shape)
    ctx.sql(
      """CREATE STREAM all_alerts AS
         SELECT 'high_value' as alert_type, order_id, amount FROM orders WHERE amount > 1000
         UNION ALL
         SELECT 'low_value' as alert_type, order_id, amount FROM orders WHERE amount < 100""")
    assert(ctx.sql("SELECT COUNT(*) AS n FROM all_alerts").collect().head.getLong(0) == 3L)
    // postgres regex operator
    assert(ctx.sql("SELECT COUNT(*) AS n FROM customers WHERE customer_name ~ '^a'")
      .collect().head.getLong(0) == 1L)
    // a column named `order` does not trip the ORDER BY clause scanner
    val stmt = ctx.parseStatement("SELECT order.items FROM carts")
    assert(stmt.isInstanceOf[VeloSqlParser.Select])
  }

  test("ANY / SOME / ALL quantified comparisons (subquery-support.md)") {
    // > ALL filled orders (max filled = 5000) → only nothing; vs > ALL pending (max 250)
    val gtAll = ctx.sql(
      "SELECT order_id FROM orders WHERE amount > ALL (SELECT amount FROM orders WHERE status = 'pending')")
    assert(gtAll.collect().map(_.getLong(0)).toSet == Set(3L))
    val gtAny = ctx.sql(
      "SELECT order_id FROM orders WHERE amount > ANY (SELECT amount FROM orders WHERE status = 'filled')")
    // min filled = 50 → everything above 50
    assert(gtAny.collect().map(_.getLong(0)).toSet == Set(1L, 3L, 4L, 5L))
    val eqAny = ctx.sql(
      "SELECT order_id FROM orders WHERE customer_id = SOME (SELECT customer_id FROM customers WHERE customer_name = 'bob')")
    assert(eqAny.collect().map(_.getLong(0)).toSet == Set(2L, 5L))
    val neAll = ctx.sql(
      "SELECT order_id FROM orders WHERE customer_id <> ALL (SELECT customer_id FROM customers WHERE customer_name = 'bob')")
    assert(neAll.collect().map(_.getLong(0)).toSet == Set(1L, 3L, 4L))
    // empty subquery: ALL over ∅ is true, ANY over ∅ is false
    assert(ctx.sql(
      "SELECT COUNT(*) AS n FROM orders WHERE amount > ALL (SELECT amount FROM orders WHERE status = 'nope')")
      .collect().head.getLong(0) == 5L)
    assert(ctx.sql(
      "SELECT COUNT(*) AS n FROM orders WHERE amount > ANY (SELECT amount FROM orders WHERE status = 'nope')")
      .collect().head.getLong(0) == 0L)
  }

  test("engine kernels are dialect SQL functions (SIMHASH/FINGERPRINT/COSINE_SIM)") {
    val df = ctx.sql(
      "SELECT customer_name, FINGERPRINT(customer_name) AS fp, SIMHASH(customer_name) AS sh FROM customers")
    val rows = df.collect()
    assert(rows.length == 3 && rows.forall(r => r.getLong(1) > 0))
    // fingerprint of 'alice' replays the rolling-hash formula
    val expected = "alice".foldLeft(0L)((acc, c) => (acc * 31 + c) % 1000000007L)
    assert(rows.find(_.getString(0) == "alice").get.getLong(1) == expected)
  }

  test("CTAS table_model=compact + retention prune old records (ctas-guide.md:159-199)") {
    import spark.implicits._
    val now = System.currentTimeMillis() / 1000
    Seq(
      (1L, new Timestamp((now - 3600) * 1000L)),          // 1 hour old → kept
      (2L, new Timestamp((now - 10L * 86400) * 1000L)),   // 10 days old → dropped
      (3L, new Timestamp(now * 1000L))
    ).toDF("rid", "ts").createOrReplaceTempView("ret_src")
    val df = ctx.sql(
      """CREATE TABLE recent_records AS SELECT rid, ts FROM ret_src
         WITH ('table_model' = 'compact', 'retention' = '7 days')""")
    assert(df.storageLevel.useDisk && df.storageLevel.deserialized == false)
    assert(spark.table("recent_records").collect().map(_.getAs[Long]("rid")).sorted.toSeq
      == Seq(1L, 3L))
    assert(VeloContext.durationSeconds("30 minutes").contains(1800L))
    assert(VeloContext.durationSeconds("bogus").isEmpty)
  }

  test("retention on an INT time column treats values as epoch-SECONDS, not millis") {
    import spark.implicits._
    val now = (System.currentTimeMillis() / 1000).toInt
    // a 32-bit int cannot hold epoch-millis, so these are seconds; the
    // old millis comparison put the cutoff above every value and
    // silently emptied the table
    Seq((1L, now - 3600), (2L, now - 10 * 86400), (3L, now))
      .toDF("rid", "ts").createOrReplaceTempView("ret_int_src")
    ctx.sql(
      """CREATE TABLE recent_int AS SELECT rid, ts FROM ret_int_src
         WITH ('retention' = '7 days')""")
    assert(spark.table("recent_int").collect().map(_.getAs[Long]("rid")).sorted.toSeq
      == Seq(1L, 3L))
  }

  test("GROUP BY HOP/SESSION (Flink-style) rewrite to native Spark windows") {
    val hop = ctx.sql(
      """SELECT COUNT(*) AS n FROM market_data
         GROUP BY HOP(timestamp, INTERVAL '1' MINUTE, INTERVAL '2' MINUTE)""")
    // every event lands in 2 overlapping windows, same as WINDOW SLIDING
    assert(hop.agg(sum("n")).collect().head.getLong(0) == 12L)
    val sess = ctx.sql(
      """SELECT customer_id, COUNT(*) AS n FROM orders
         GROUP BY customer_id, SESSION(event_time, INTERVAL '10' MINUTE)""")
    assert(sess.agg(sum("n")).collect().head.getLong(0) == 5L)
  }

  test("UNION inside a derived table parses and executes") {
    val df = ctx.sql(
      """SELECT COUNT(*) AS n FROM
         (SELECT order_id FROM orders WHERE amount > 100
          UNION ALL
          SELECT order_id FROM orders WHERE amount <= 100) u""")
    assert(df.collect().head.getLong(0) == 5L)
  }

  test("DATEDIFF('ms', ...) maps to MILLISECOND, not the invalid unit M") {
    val df = ctx.sql(
      "SELECT DATEDIFF('ms', event_time, event_time) AS d FROM orders LIMIT 1")
    assert(df.collect().head.getLong(0) == 0L)
  }

  test("declared columns bind to select items under a WINDOW spec (window cols pass through)") {
    ctx.sql(
      """CREATE TABLE win_decl (sym STRING, cnt BIGINT) AS
         SELECT symbol, COUNT(*) FROM market_data GROUP BY symbol
         WINDOW TUMBLING(INTERVAL '1' MINUTE)""")
    val t = spark.table("win_decl")
    assert(t.columns.toSeq == Seq("sym", "cnt", "window_start", "window_end"))
    assert(t.agg(sum("cnt")).collect().head.getLong(0) == 6L)
  }

  test("WITH RECURSIVE executes natively (transitive closure over Spark's UnionLoop)") {
    import spark.implicits._
    Seq((1L, 0L), (2L, 1L), (3L, 2L), (4L, 0L), (5L, 4L))
      .toDF("emp_id", "mgr_id").createOrReplaceTempView("employees")
    val out = ctx.sql(
      """WITH RECURSIVE org AS (
           SELECT emp_id, mgr_id, 1 AS level FROM employees WHERE mgr_id = 0
           UNION ALL
           SELECT e.emp_id, e.mgr_id, org.level + 1 FROM employees e JOIN org ON e.mgr_id = org.emp_id)
         SELECT emp_id, level FROM org""")
      .collect().map(r => r.getAs[Long]("emp_id") -> r.getAs[Int]("level")).toMap
    assert(out == Map(1L -> 1, 2L -> 2, 3L -> 3, 4L -> 1, 5L -> 2))
    VeloSqlParser.parse("WITH RECURSIVE h AS (SELECT a FROM t UNION ALL SELECT a FROM h) SELECT * FROM h") match {
      case VeloSqlParser.WithCtes(ctes, _, rec) =>
        assert(rec && ctes.head._2.isInstanceOf[VeloSqlParser.Union])
      case other => fail(s"$other")
    }
  }

  test("PERCENTILE_CONT/DISC WITHIN GROUP single-arg form passes through to Spark") {
    val rows = ctx.sql(
      """SELECT status,
         PERCENTILE_CONT(0.5) WITHIN GROUP (ORDER BY amount) AS p50,
         PERCENTILE_DISC(0.5) WITHIN GROUP (ORDER BY amount) AS p50d
         FROM orders GROUP BY status""").collect()
      .map(r => r.getAs[String]("status") -> (r.getAs[Double]("p50"), r.getAs[Double]("p50d"))).toMap
    assert(rows("filled") == ((80.0, 80.0)))
    assert(rows("pending") == ((185.0, 120.0)))
  }

  test("render fidelity: WITHIN precedence, fractional durations, GROUP_CONCAT, quantified LIMIT") {
    import VeloSqlParser._
    // (1) an OR-joined ON clause must not escape the WITHIN time band:
    // the rendered ON is parenthesized before the band ANDs on
    val rendered = ctx.explainSql(
      "SELECT o.order_id FROM orders o JOIN shipments s ON o.order_id = s.order_id OR o.order_id = s.order_id WITHIN 5m")
    assert(rendered.contains("ON ("), rendered)
    // (2) fractional durations apply the unit BEFORE integralizing:
    // 1.5m = 90 s (the old path truncated to 60 s silently)
    ctx.parseStatement(
      "SELECT COUNT(*) AS n FROM orders GROUP BY customer_id WINDOW TUMBLING(1.5m)") match {
      case Select(s) => assert(s.window.contains(Tumbling(90L, None)))
      case other => fail(s"$other")
    }
    // sub-second fractions stay rejected (named error, not truncation)
    intercept[Exception](ctx.parseStatement(
      "SELECT COUNT(*) AS n FROM orders GROUP BY customer_id WINDOW TUMBLING(1.5s)"))
    // (3) GROUP_CONCAT defaults its separator to ',' (MySQL semantics);
    // bare listagg would join with the empty string
    val sts = ctx.sql(
      "SELECT customer_id, GROUP_CONCAT(status) AS sts FROM orders WHERE customer_id = 11 GROUP BY customer_id")
      .collect().head.getString(1)
    assert(sts == "filled,filled", sts)
    // ... and the reference defaults ',' for STRING_AGG/LISTAGG too
    // (aggregation/functions.rs: one default for all the aliases)
    val sts2 = ctx.sql(
      "SELECT customer_id, STRING_AGG(status) AS sts FROM orders WHERE customer_id = 11 GROUP BY customer_id")
      .collect().head.getString(1)
    assert(sts2 == "filled,filled", sts2)
    // (4) a row-bounding LIMIT inside a quantified comparison keeps
    // bounding the compared set (amounts asc limit 2 = {50, 80}; the
    // old splice hoisted MAX above the LIMIT and compared against 5000)
    val ids = ctx.sql(
      """SELECT order_id FROM orders
         WHERE amount > ALL (SELECT amount FROM orders ORDER BY amount LIMIT 2)""")
      .collect().map(_.getLong(0)).toSet
    assert(ids == Set(1L, 3L, 4L), ids.toString)
  }

  test("parse fidelity: PK on expressions, window arg counts, buffer frames, unions, backticks") {
    import VeloSqlParser._
    // PRIMARY KEY on an unaliased expression would record ')' as the
    // key and silently disable sink routing — named error instead
    assert(intercept[ParseException](ctx.parseStatement(
      "SELECT UPPER(status) PRIMARY KEY FROM orders")).getMessage.contains("alias"))
    // a stray second duration (user meant SLIDING) rejects
    intercept[ParseException](ctx.parseStatement(
      "SELECT COUNT(*) AS n FROM orders GROUP BY customer_id WINDOW TUMBLING(5m, 1m)"))
    // a FOLLOWING end bound can never be served by a trailing buffer
    assert(intercept[ParseException](ctx.parseStatement(
      """SELECT AVG(amount) OVER (ROWS WINDOW BUFFER 5 ROWS ORDER BY amount
         ROWS BETWEEN 2 PRECEDING AND 1 FOLLOWING) AS a FROM orders"""))
      .getMessage.contains("FOLLOWING"))
    // EMIT written on an EARLIER union branch is hoisted, not dropped
    ctx.parseStatement(
      "CREATE STREAM u_emit AS SELECT order_id FROM orders EMIT CHANGES UNION ALL SELECT order_id FROM orders") match {
      case CreateStreamAs(_, s, _, _) => assert(s.emit.contains(EmitChanges))
      case other => fail(s"$other")
    }
    // conflicting branch EMITs are ambiguous → reject
    intercept[ParseException](ctx.parseStatement(
      "CREATE STREAM u_bad AS SELECT order_id FROM orders EMIT CHANGES UNION ALL SELECT order_id FROM orders EMIT FINAL"))
    // interior backticks re-escape on emission (valid Spark SQL out)
    ctx.parseStatement("SELECT `a``b` FROM orders") match {
      case Select(s) => assert(s.fields.head.head.text == "`a``b`")
      case other => fail(s"$other")
    }
    // PERCENTILE_CONT composes with the dialect's buffered-window OVER
    // form (previously always rejected with "needs ORDER BY")
    val med = ctx.sql(
      """SELECT order_id, PERCENTILE_CONT(0.5) OVER (ROWS WINDOW BUFFER 3 ROWS
         PARTITION BY customer_id ORDER BY amount) AS med FROM orders""").collect()
    assert(med.length == 5 && med.forall(!_.isNullAt(1)))
  }

  test("INTO on a bare SELECT writes the result to the declared sink (case-insensitively)") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("bareinto").toString
    ctx.register("bi_src", Seq((1L, "a"), (2L, "b")).toDF("id", "v"))
    // declared lowercase, referenced UPPERCASE — identifiers bind
    // case-insensitively across the dialect, sinks included
    ctx.sql(s"CREATE SINK bare_out WITH ('path' = 'file://$dir/bare.json')")
    ctx.sql("SELECT id, v FROM bi_src INTO BARE_OUT")
    val written = spark.read.json(s"$dir/bare.json")
    assert(written.count() == 2)
    // the CTE shape carries its INTO through too
    ctx.sql(s"CREATE SINK cte_out WITH ('path' = 'file://$dir/cte.json')")
    ctx.sql("WITH c AS (SELECT id FROM bi_src) SELECT id FROM c INTO cte_out")
    assert(spark.read.json(s"$dir/cte.json").count() == 2)
  }

  test("r17 review: CTAS honors its INTO sink instead of silently dropping it") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("ctasinto").toString
    ctx.register("ci_src", Seq((1L, "a"), (2L, "b")).toDF("id", "v"))
    ctx.sql(s"CREATE SINK ctas_out WITH ('path' = 'file://$dir/ctas.json')")
    // pre-fix: the table materialized, the validator approved, and the
    // sink never received a row with no error anywhere
    ctx.sql("CREATE TABLE ctas_into_t AS SELECT id, v FROM ci_src INTO ctas_out")
    assert(spark.read.json(s"$dir/ctas.json").count() == 2)
    assert(spark.table("ctas_into_t").count() == 2)
  }

  test("r17 review: view replacement drops a replaced stream's stale event-time mapping") {
    import spark.implicits._
    implicit val sq: org.apache.spark.sql.classic.SQLContext =
      spark.sqlContext.asInstanceOf[org.apache.spark.sql.classic.SQLContext]
    val in = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Timestamp, Double)]
    val c2 = new VeloContext(spark)
    c2.register("repl_src", Seq((1L, "x")).toDF("id", "v"))
    c2.registerStream("repl_v", in.toDF().toDF("etime", "value"), "etime", "10 minutes")
    assert(c2.streamTimeCol("repl_v").contains("etime"))
    // CTAS replaces the view — the WITHIN renderer must not keep banding
    // against the vanished stream's event-time column
    c2.sql("CREATE TABLE repl_v AS SELECT id, v FROM repl_src")
    assert(c2.streamTimeCol("repl_v").isEmpty,
      "CTAS view swap kept the replaced stream's event-time mapping")
    c2.registerStream("repl_w", in.toDF().toDF("etime", "value"), "etime", "10 minutes")
    c2.sql("CREATE STREAM repl_w AS SELECT id, v FROM repl_src")
    assert(c2.streamTimeCol("repl_w").isEmpty, "CSAS kept the stale mapping")
  }

  test("r17 review: duplicate declared column names are a dialect error, not AMBIGUOUS_REFERENCE") {
    import spark.implicits._
    ctx.register("dup_src", Seq((1L, "a")).toDF("id", "v"))
    val e = intercept[VeloSqlParser.ParseException](ctx.sql(
      "CREATE TABLE dup_t (a INT, A STRING) AS SELECT id, v FROM dup_src"))
    assert(e.getMessage.contains("same column twice"), e.getMessage)
  }

  test("r17 review: stdout INSERT column lists unquote and reject duplicates like the table path") {
    import spark.implicits._
    // backtick-quoted name must come OFF before toDF — pre-fix the debug
    // JSON printed a column literally named `amount`
    val named = ctx.sql("INSERT INTO stdout (`amount`) VALUES (5)")
    assert(named.columns.toSeq == Seq("amount"), named.columns.mkString(","))
    val e = intercept[VeloSqlParser.ParseException](
      ctx.sql("INSERT INTO stdout (a, a) VALUES (1, 2)"))
    assert(e.getMessage.contains("same column twice"), e.getMessage)
  }

  test("a streaming job body's bare-SELECT INTO lands in the declared sink") {
    import spark.implicits._
    implicit val sq: org.apache.spark.sql.classic.SQLContext =
      spark.sqlContext.asInstanceOf[org.apache.spark.sql.classic.SQLContext]
    val in = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, Double)]
    val c2 = new VeloContext(spark)
    try {
      c2.register("ji_events", in.toDF().toDF("id", "v"))
      val dir = java.nio.file.Files.createTempDirectory("jobinto").toString
      c2.sql(s"CREATE SINK job_out WITH ('path' = 'file://$dir/job_out.parquet')")
      in.addData(Seq((1L, 10.0), (2L, 20.0)))
      c2.sql("START JOB ji AS SELECT id, v FROM ji_events INTO job_out")
      c2.jobManager.awaitIdle("ji")
      c2.sql("STOP JOB ji")
      // the declared location received the stream — not the internal
      // epoch dir the old resolveIntoSinkPath fell back to
      val out = spark.read.parquet(s"$dir/job_out.parquet")
      assert(out.count() == 2)
    } finally c2.close()
  }

  test("INSERT/UPDATE preserve the table's column types; duplicate SET targets reject") {
    import spark.implicits._
    ctx.register("typ_t", Seq((1, 10), (2, 20)).toDF("id", "x")) // INT columns
    // positional INSERT of a DOUBLE-typed literal must cast to the
    // table type, not widen the whole column via unionByName
    ctx.sql("INSERT INTO typ_t VALUES (3, 30.5)")
    assert(spark.table("typ_t").schema("x").dataType ==
      org.apache.spark.sql.types.IntegerType)
    // UPDATE through an expression that coerces to DOUBLE keeps INT
    ctx.sql("UPDATE typ_t SET x = x / 2 WHERE id = 2")
    assert(spark.table("typ_t").schema("x").dataType ==
      org.apache.spark.sql.types.IntegerType)
    val rows = spark.table("typ_t").collect().map(r => r.getInt(0) -> r.getInt(1)).toMap
    assert(rows(2) == 10 && rows(1) == 10 && rows(3) == 30)
    // SET x = 1, x = 2 is a statement error, not a silent last-wins
    val e = intercept[Exception](ctx.sql("UPDATE typ_t SET x = 1, x = 2 WHERE id = 1"))
    assert(e.getMessage.contains("twice"))
  }

  test("CTAS over a streaming source is a dialect error, not a raw Spark crash") {
    import spark.implicits._
    implicit val sq: org.apache.spark.sql.classic.SQLContext =
      spark.sqlContext.asInstanceOf[org.apache.spark.sql.classic.SQLContext]
    val in = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, Double)]
    val c2 = new VeloContext(spark)
    try {
      c2.register("ctas_stream_src", in.toDF().toDF("id", "v"))
      val e = intercept[VeloSqlParser.ParseException](
        c2.sql("CREATE TABLE agg_t AS SELECT id, COUNT(*) AS n FROM ctas_stream_src GROUP BY id"))
      assert(e.getMessage.contains("streaming"))
    } finally c2.close()
  }

  test("mutating a CTAS table keeps it materialized (no unbounded lazy union stacking)") {
    import spark.implicits._
    ctx.register("mat_src", Seq((1L, 1.0), (2L, 2.0)).toDF("id", "v"))
    ctx.sql("CREATE TABLE mat_t AS SELECT id, v FROM mat_src")
    ctx.sql("INSERT INTO mat_t VALUES (3, 3.0)")
    // the rebuilt view is re-cached (registry swap), so reads don't
    // re-execute an ever-deeper union chain
    assert(spark.table("mat_t").storageLevel !=
      org.apache.spark.storage.StorageLevel.NONE)
    assert(spark.table("mat_t").count() == 3)
    ctx.sql("DELETE FROM mat_t WHERE id = 1")
    assert(spark.table("mat_t").count() == 2)
    assert(spark.table("mat_t").storageLevel !=
      org.apache.spark.storage.StorageLevel.NONE)
  }

  test("multi-sink INTO fan-out (job_multi_source_sink_test.rs shape)") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("multisink").toString
    ctx.register("raw_orders2", Seq((1L, 1500.0), (2L, 300.0), (3L, -5.0))
      .toDF("order_id", "total_amount"))
    val stmt = ctx.parseStatement(
      s"""CREATE STREAM processed_orders AS
         SELECT order_id,
           CASE WHEN total_amount > 1000 THEN 'HIGH_VALUE' ELSE 'NORMAL' END AS order_tier
         FROM raw_orders2
         WHERE total_amount > 0
         INTO kafka_sink, file_sink, audit_sink
         WITH ('kafka_sink.topic' = 'processed-orders',
               'file_sink.path' = 'file://$dir/out.json',
               'audit_sink.path' = 'file://$dir/audit.json')""")
    stmt match {
      case VeloSqlParser.CreateStreamAs(_, s, _, _) =>
        assert(s.into == Vector("kafka_sink", "file_sink", "audit_sink"))
      case other => fail(s"$other")
    }
    ctx.sql(s"""CREATE STREAM processed_orders AS
         SELECT order_id,
           CASE WHEN total_amount > 1000 THEN 'HIGH_VALUE' ELSE 'NORMAL' END AS order_tier
         FROM raw_orders2
         WHERE total_amount > 0
         INTO kafka_sink, file_sink, audit_sink
         WITH ('kafka_sink.topic' = 'processed-orders',
               'file_sink.path' = 'file://$dir/out.json',
               'audit_sink.path' = 'file://$dir/audit.json')""")
    // both file sinks materialized (kafka sink is topic config only)
    assert(spark.read.json(s"$dir/out.json").count() == 2)
    assert(spark.read.json(s"$dir/audit.json").count() == 2)
    assert(spark.table("processed_orders").count() == 2)

    // PRIMARY KEY routing (FR-089): same key → same output shard. 40
    // rows over 4 keys keyed-repartition into the sink; every key's
    // rows must land in exactly one part file.
    val keyedDir = java.nio.file.Files.createTempDirectory("keyedsink").toString
    ctx.register("keyed_src", (0 until 40).map(i => (i.toLong % 4, i.toLong))
      .toDF("k", "v").repartition(8))
    ctx.sql(s"""CREATE STREAM keyed_out AS
         SELECT k PRIMARY KEY, v FROM keyed_src
         INTO key_sink WITH ('key_sink.path' = 'file://$keyedDir/keyed.json')""")
    val perKeyFiles = spark.read.json(s"$keyedDir/keyed.json")
      .withColumn("f", input_file_name())
      .groupBy("k").agg(countDistinct(col("f")).as("nf"))
      .collect().map(_.getAs[Long]("nf"))
    assert(perKeyFiles.length == 4 && perKeyFiles.forall(_ == 1L),
      s"a key spread across shards: ${perKeyFiles.toSeq}")
  }

  test("dialect stream-stream WITHIN join executes as a streaming join (watermark-bounded state)") {
    import spark.implicits._
    implicit val sq: org.apache.spark.sql.classic.SQLContext =
      spark.sqlContext.asInstanceOf[org.apache.spark.sql.classic.SQLContext]
    val ords = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, Long)]
    val ships = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, Long)]
    // the WITHIN band resolves against the context's default time column
    ctx.registerStream("s_orders",
      ords.toDF().toDF("oid", "ep").withColumn("timestamp", timestamp_seconds(col("ep"))),
      "timestamp", "10 minutes")
    ctx.registerStream("s_ships",
      ships.toDF().toDF("sid", "sep").withColumn("timestamp", timestamp_seconds(col("sep"))),
      "timestamp", "10 minutes")
    // ship within 5 min of the order → joined; outside the band → dropped
    ords.addData(Seq((1L, 100L), (2L, 200L), (3L, 10000L)))
    ships.addData(Seq((1L, 200L), (2L, 5000L), (3L, 10100L)))
    val outDir = ctx.sqlStream(
      """SELECT o.oid AS oid, o.ep AS oep, s.sep AS sep
         FROM s_orders o JOIN s_ships s ON o.oid = s.sid
         WITHIN INTERVAL '5' MINUTE""")
    val got = spark.read.parquet(outDir).collect().map(_.getAs[Long]("oid")).sorted
    assert(got.toSeq == Seq(1L, 3L)) // order 2's ship is 80 min late → outside band
  }

  test("dialect streaming SESSION window through sqlStream (file sink, EMIT FINAL)") {
    import spark.implicits._
    implicit val sq: org.apache.spark.sql.classic.SQLContext =
      spark.sqlContext.asInstanceOf[org.apache.spark.sql.classic.SQLContext]
    val in = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, Long)]
    ctx.registerStream("s_clicks",
      in.toDF().toDF("uid", "ep").withColumn("event_time", timestamp_seconds(col("ep"))),
      "event_time", "10 minutes")
    // user 1: two bursts 1h apart → 2 sessions; closer must merge
    in.addData(Seq((1L, 100L), (1L, 200L), (1L, 4000L), (2L, 50000L)))
    val outDir = ctx.sqlStream(
      """SELECT uid, COUNT(*) AS n FROM s_clicks GROUP BY uid
         WINDOW SESSION(event_time, INTERVAL '10' MINUTE)
         EMIT FINAL""")
    val rows = spark.read.parquet(outDir)
      .collect().map(r => (r.getAs[Long]("uid"), r.getAs[Long]("n")))
    // user 1's closed sessions: {100,200} and {4000} (watermark 50000-600 passes both)
    assert(rows.count(_._1 == 1L) == 2)
    assert(rows.filter(_._1 == 1L).map(_._2).sorted.toSeq == Seq(1L, 2L))
  }

  test("dialect SELECT executes as a STREAMING query with EMIT semantics") {
    import spark.implicits._
    implicit val sq: org.apache.spark.sql.classic.SQLContext =
      spark.sqlContext.asInstanceOf[org.apache.spark.sql.classic.SQLContext]
    val in = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, String, Double)]
    val stream = in.toDF().toDF("ep", "symbol", "price")
      .withColumn("event_time", timestamp_seconds(col("ep")))
    ctx.registerStream("live_trades", stream, "event_time", "10 minutes")
    in.addData(Seq((100L, "AAPL", 10.0), (200L, "AAPL", 20.0), (400L, "MSFT", 5.0),
      (7200L, "AAPL", 30.0)))
    val outDir = ctx.sqlStream(
      """SELECT symbol, COUNT(*) AS n, CAST(SUM(CAST(price AS DECIMAL(18,4))) AS DOUBLE) AS total
         FROM live_trades GROUP BY symbol
         WINDOW TUMBLING(event_time, INTERVAL '5' MINUTE)
         EMIT FINAL""")
    val res = spark.read.parquet(outDir)
    // watermark 7200-600=6600 → the [0,300) windows are closed and emitted
    val aapl = res.where(col("symbol") === "AAPL" && col("window_start") === 0).collect()
    assert(aapl.length == 1 && aapl.head.getAs[Long]("n") == 2L
      && aapl.head.getAs[Double]("total") == 30.0)
  }

  test("PRIMARY KEY routing survives a declared-column rename (key translated to its declared name)") {
    val stmt = ctx.parseStatement(
      "CREATE STREAM typed (a INT, b DOUBLE) AS SELECT customer_id PRIMARY KEY, amount FROM orders")
    val cs = stmt.asInstanceOf[VeloSqlParser.CreateStreamAs]
    // the SELECT's key column no longer exists after the positional
    // rename — the route key must be its declared name at that position
    assert(VeloContext.routedKeys(cs.select, cs.columns) == Vector("a"))
    assert(VeloContext.routedKeys(cs.select, Vector.empty) == Vector("customer_id"))
  }

  test("routedKeys: CAST's inner AS is not an alias, and ambiguous output names drop out") {
    // CAST(amount AS qty) must NOT claim output name "qty" — the real
    // key is the second item, declared name "y"
    val cast = ctx.parseStatement(
      "CREATE STREAM odd (x INT, y INT) AS SELECT CAST(amount AS qty), qty PRIMARY KEY FROM orders")
      .asInstanceOf[VeloSqlParser.CreateStreamAs]
    assert(VeloContext.routedKeys(cast.select, cast.columns) == Vector("y"))
    // two items producing the same output name: routing on a guess could
    // scatter the real key across shards — the key must drop instead
    val amb = ctx.parseStatement(
      "CREATE STREAM amb (x INT, y INT) AS SELECT amount AS k, k PRIMARY KEY FROM orders")
      .asInstanceOf[VeloSqlParser.CreateStreamAs]
    assert(VeloContext.routedKeys(amb.select, amb.columns).isEmpty)
  }

  test("declaration form keeps a declared schema as source metadata instead of dropping it") {
    ctx.sql("CREATE STREAM raw_typed (id BIGINT, v DOUBLE) WITH ('topic' = 'raw-topic')")
    val props = ctx.sql("SHOW PROPERTIES raw_typed").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(props("topic") == "raw-topic")
    assert(props("schema") == "id BIGINT, v DOUBLE")
  }

  test("mixed UNION / UNION ALL chains keep per-operator dedup semantics") {
    import spark.implicits._
    ctx.register("u_t", Seq(1).toDF("x"))
    // (1 UNION 1) UNION ALL 1 → dedup applies to the first pair only → 2 rows
    assert(ctx.sql("SELECT x FROM u_t UNION SELECT x FROM u_t UNION ALL SELECT x FROM u_t")
      .count() == 2)
    // (1 UNION ALL 1) UNION 1 → final dedup collapses everything → 1 row
    assert(ctx.sql("SELECT x FROM u_t UNION ALL SELECT x FROM u_t UNION SELECT x FROM u_t")
      .count() == 1)
  }

  test("TIMESTAMP(col) converts the column; only zero-arg TIMESTAMP()/NOW() is wall clock") {
    val rows = ctx.sql(
      "SELECT order_id, TIMESTAMP('2024-01-02 03:04:05') AS t FROM orders WHERE order_id = 1")
      .collect()
    assert(rows.head.getAs[java.sql.Timestamp]("t").toString.startsWith("2024-01-02"))
    // zero-arg form still parses and yields a current timestamp
    assert(!ctx.sql("SELECT NOW() AS t FROM orders WHERE order_id = 1").collect()
      .head.isNullAt(0))
  }

  test("lambda '->' survives tokenize/render (transform/filter HOFs)") {
    val out = ctx.sql("SELECT transform(array(1, 2, 3), x -> x * 2) AS a FROM orders WHERE order_id = 1")
      .collect().head.getAs[scala.collection.Seq[Int]]("a")
    assert(out.toSeq == Seq(2, 4, 6))
  }

  test("an explicit frame wider than the ROWS WINDOW buffer is capped at the buffer") {
    import spark.implicits._
    ctx.register("frame_t", (1 to 6).map(i => (1L, i.toLong, i * 10.0)).toDF("k", "seq", "v"))
    // BUFFER 3 ROWS with a 100-row explicit frame: the reference's ring
    // holds 3 rows, so the last row's sum is 40+50+60, not the full 210
    val r = ctx.sql(
      """SELECT seq, SUM(v) OVER (ROWS WINDOW BUFFER 3 ROWS PARTITION BY k ORDER BY seq
         ROWS BETWEEN 100 PRECEDING AND CURRENT ROW) AS s FROM frame_t""")
      .collect().map(x => x.getAs[Long]("seq") -> x.getAs[Double]("s")).toMap
    assert(r(6L) == 150.0)
    assert(r(3L) == 60.0)
  }

  test("GROUP BY auto-key extraction keeps only bare identifiers (FR-089 fallback)") {
    val sel = ctx.parseStatement(
      """SELECT region, product, SUM(qty) AS total FROM trades
         GROUP BY region, SUBSTRING(product, 1, 2), product""")
      .asInstanceOf[VeloSqlParser.Select].s
    assert(VeloContext.groupByOutputNames(sel) == Vector("region", "product"))
  }

  test("parser hardening: block comments, IF NOT EXISTS, union INSERT, window arg errors") {
    import spark.implicits._
    // standard /* */ block comments lex as whitespace, not arithmetic
    assert(ctx.sql("SELECT /* latest quote */ symbol FROM market_data").count() == 6)
    intercept[VeloSqlParser.ParseException](
      VeloSqlParser.parse("SELECT /* unterminated a FROM t"))
    // IF NOT EXISTS keeps the existing table instead of inverting into
    // an unconditional overwrite
    ctx.register("ine_src", Seq((1L, "keep")).toDF("id", "v"))
    ctx.sql("CREATE TABLE ine_t AS SELECT id, v FROM ine_src")
    ctx.register("ine_src2", Seq((2L, "clobber")).toDF("id", "v"))
    ctx.sql("CREATE TABLE IF NOT EXISTS ine_t AS SELECT id, v FROM ine_src2")
    assert(spark.table("ine_t").collect().map(_.getString(1)).toSeq == Seq("keep"))
    // INSERT INTO ... SELECT accepts UNION chains like every other
    // select position
    ctx.register("ins_u", Seq((9L, "z")).toDF("id", "v"))
    ctx.sql("INSERT INTO ins_u SELECT id, v FROM ine_src UNION ALL SELECT id, v FROM ine_src2")
    assert(spark.table("ins_u").count() == 3)
    // a typo'd duration unit errors instead of silently overwriting the
    // time column (old last-one-wins); a trailing bare identifier — the
    // reference's SESSION(time, gap, partition_col) form — is tolerated
    // and the FIRST time column survives
    val e = intercept[VeloSqlParser.ParseException](VeloSqlParser.parse(
      "SELECT COUNT(*) FROM t GROUP BY k WINDOW TUMBLING(ts, 5 MINUTS)"))
    assert(e.getMessage.contains("malformed window duration"))
    // …and in FIRST position too: the old first-non-duration-wins rule
    // made '5 MINUTS' the "time column" and the garbage died only
    // inside spark.sql(), past the validator's parse gate (r12 review)
    val eFirst = intercept[VeloSqlParser.ParseException](VeloSqlParser.parse(
      "SELECT COUNT(*) FROM t GROUP BY k WINDOW TUMBLING(5 MINUTS, ts)"))
    assert(eFirst.getMessage.contains("malformed window duration"))
    val eMonth = intercept[VeloSqlParser.ParseException](VeloSqlParser.parse(
      "SELECT COUNT(*) FROM t GROUP BY k WINDOW TUMBLING(INTERVAL '1' MONTH)"))
    assert(eMonth.getMessage.contains("malformed window duration"))
    val sess = VeloSqlParser.parse(
      "SELECT COUNT(*) FROM t GROUP BY k WINDOW SESSION(event_time, INTERVAL '1' HOUR, dev_id)")
      .asInstanceOf[VeloSqlParser.Select].s.window.get.asInstanceOf[VeloSqlParser.Session]
    assert(sess.timeCol.contains("event_time") && sess.gapSec == 3600L)
    // malformed-but-lexable input is a ParseException (the callers' 400
    // contract), never a leaked NumberFormat/IllegalArgument
    val e2 = intercept[VeloSqlParser.ParseException](VeloSqlParser.parse(
      "SELECT a FROM t LIMIT 99999999999999999999999"))
    assert(e2.getMessage.contains("malformed statement") || e2.getMessage.nonEmpty)
    intercept[VeloSqlParser.ParseException](VeloSqlParser.parse(
      "SELECT a FROM t GROUP BY k WINDOW SLIDING(1m)"))
  }

  test("job props lift through CTE and UNION bodies; header args rewrite; DISC-over rejects") {
    // a trailing WITH on a CTE-bodied job must reach StartJob.props —
    // silently dropping it ignored the user's resource limits
    val cte = VeloSqlParser.parse(
      """START JOB j AS WITH c AS (SELECT order_id FROM orders) SELECT * FROM c
         WITH ('max_total_memory' = '1000000')""").asInstanceOf[VeloSqlParser.StartJob]
    assert(cte.props.get("max_total_memory").contains("1000000"))
    val un = VeloSqlParser.parse(
      """START JOB j2 AS SELECT a FROM x UNION ALL SELECT a FROM y
         WITH ('max_total_memory' = '2000000')""").asInstanceOf[VeloSqlParser.StartJob]
    assert(un.props.get("max_total_memory").contains("2000000"))
    // dialect forms nested in header args are rewritten, not passed
    // verbatim to Catalyst (LEN is the dialect's name for length —
    // unrewritten it hit Spark as UNRESOLVED_ROUTINE)
    val hm = ctx.sql(
      "SELECT SET_HEADER('n', CAST(LEN('abcd') AS STRING)) AS h FROM orders LIMIT 1")
      .collect().head.getAs[scala.collection.Map[String, String]]("h")
    assert(hm.get("n").contains("4"))
    // windowed PERCENTILE_DISC rejects loudly instead of silently
    // computing the continuous percentile
    val pd = intercept[VeloSqlParser.ParseException](VeloSqlParser.parse(
      "SELECT PERCENTILE_DISC(0.5) OVER (PARTITION BY s ORDER BY v) FROM t"))
    assert(pd.getMessage.contains("PERCENTILE_DISC"))
  }

  test("INSERT/UPDATE bind columns case-insensitively and reject unknown names") {
    import spark.implicits._
    ctx.register("ci_t", Seq((1L, 10.0)).toDF("id", "amount"))
    // case mismatch must bind, not silently null-fill / no-op
    ctx.sql("INSERT INTO ci_t (AMOUNT, ID) VALUES (5.0, 2)")
    val rows = spark.table("ci_t").orderBy("id").collect()
    assert(rows.length == 2 && rows(1).getDouble(1) == 5.0)
    ctx.sql("UPDATE ci_t SET AMOUNT = 99.0 WHERE id = 1")
    assert(spark.table("ci_t").where($"id" === 1).collect().head.getDouble(1) == 99.0)
    // a typo'd column must REJECT loudly, not vanish
    val ie = intercept[VeloSqlParser.ParseException](
      ctx.sql("INSERT INTO ci_t (amonut, id) VALUES (5.0, 3)"))
    assert(ie.getMessage.contains("amonut"))
    val ue = intercept[VeloSqlParser.ParseException](
      ctx.sql("UPDATE ci_t SET amonut = 1.0 WHERE id = 1"))
    assert(ue.getMessage.contains("amonut"))
  }

  test("script splitting: a semicolon inside a block comment does not split the script") {
    val rs = ctx.executeScript(
      "/* setup; phase one */ SELECT order_id FROM orders; -- tail; note\nSELECT order_id FROM orders")
    assert(rs.length == 2 && rs.forall(_.count() > 0))
  }

  test("r16 advice: '--' inside a kafka://file:// URI does not swallow the line in splitStatements") {
    // the r15 fix landed only in SqlApp's line splitter; runScript's
    // path (VeloContext.splitStatements) kept the unconditional
    // '--'-to-EOL rule — the rest of the line vanished and the two
    // statements silently merged
    val stmts = VeloContext.splitStatements(
      "CREATE STREAM s1 AS SELECT * FROM kafka://my--topic; SELECT 1 AS x")
    assert(stmts.length == 2, stmts.toString)
    assert(stmts.head.contains("kafka://my--topic"), stmts.head)
    assert(stmts(1) == "SELECT 1 AS x", stmts(1))
    // tokenizer parity both ways: a NON-URI '--' is still a comment
    // (its ';' must not split), and file:// URIs get the same pass
    val c = VeloContext.splitStatements("SELECT 1 AS x -- note; SELECT 2\n")
    assert(c.length == 1 && !c.head.contains("SELECT 2"), c.toString)
    val f = VeloContext.splitStatements(
      "CREATE TABLE t AS SELECT * FROM file:///tmp/a--b.parquet; SELECT 2 AS y")
    assert(f.length == 2 && f.head.contains("a--b.parquet"), f.toString)
    // digit-prefixed scheme: the tokenizer lexes '1kafka' as number 1 +
    // ident kafka (a URI), so the splitter must too (r16 review); a
    // LETTER-prefixed word is one ident != kafka — a real comment
    val d = VeloContext.splitStatements("SELECT * FROM 1kafka://t--x; SELECT 2 AS y")
    assert(d.length == 2, d.toString)
    val x = VeloContext.splitStatements("SELECT 1 AS a xkafka://t--x; SELECT 2\n")
    assert(x.length == 1, x.toString)
  }

  test("a '--' comment ends at a lone '\\r' as well as at '\\n', as in Spark's grammar") {
    assert(VeloSqlParser.tokenize("SELECT 1 -- c\rFROM t").map(_.text) == Vector("SELECT", "1", "FROM", "t"))
  }

  test("r16 review: a WITH() on an earlier UNION branch reaches START JOB props") {
    // the trailing-clause loop attaches the WITH to the branch it just
    // read; liftProps read only the LAST branch and silently dropped
    // the resource limit at admission (CTAS/INSERT already merged all
    // branches — the job path now shares that rule)
    val s = VeloSqlParser.parse(
      "START JOB j16p AS SELECT order_id FROM orders WITH ('max.memory'='1g') " +
        "UNION ALL SELECT order_id FROM orders")
      .asInstanceOf[VeloSqlParser.StartJob]
    assert(s.props.get("max.memory").contains("1g"), s.props.toString)
  }

  test("explainSql renders UNION and WITH queries to Spark SQL, not AST dumps") {
    val u = ctx.explainSql("SELECT order_id FROM orders UNION SELECT order_id FROM orders")
    assert(u.toUpperCase.contains("UNION") && !u.contains("SelectStmt"))
    val w = ctx.explainSql("WITH c AS (SELECT order_id FROM orders) SELECT * FROM c")
    assert(w.toUpperCase.startsWith("WITH") && !w.contains("SelectStmt"))
  }

  test("routing keys: an unaliased multi-token expression has no routable name") {
    // `a + b` must NOT claim output name 'b' — the positional translate
    // would route on the expression's declared column, scattering the
    // real key's per-key ordering
    val s = VeloSqlParser.parse(
      "CREATE STREAM o2 (s INT, ab INT) AS SELECT sum(x), a + b FROM t GROUP BY b")
      .asInstanceOf[VeloSqlParser.CreateStreamAs]
    assert(VeloContext.routedKeys(s.select, s.columns).isEmpty)
    // while a genuine bare ref still routes (dotted form included)
    // GROUP BY auto-keys keep only bare identifiers, so the key is `b`;
    // the dotted select item `t.b` still resolves output name 'b'
    val s2 = VeloSqlParser.parse(
      "CREATE STREAM o3 (n INT, bb INT) AS SELECT count(*), t.b FROM t GROUP BY b")
      .asInstanceOf[VeloSqlParser.CreateStreamAs]
    assert(VeloContext.routedKeys(s2.select, s2.columns) == Vector("bb"))
  }

  test("header functions treat a NULL _headers map as empty (headerless records)") {
    import spark.implicits._
    // Spark's kafka source emits a null headers column for records with
    // no headers — HAS_HEADER must be false (not NULL) and SET_HEADER
    // must stamp rather than silently return NULL
    val hl = Seq((1L, 5.0)).toDF("id", "v")
      .withColumn("_headers", org.apache.spark.sql.functions.lit(null).cast("map<string,string>"))
    ctx.register("headerless_t", hl)
    val r = ctx.sql(
      """SELECT HAS_HEADER('k') AS has, HEADER_KEYS() AS hk,
                SET_HEADER('job', 'graft') AS h,
                ARRAY_LENGTH(MAP_KEYS(REMOVE_HEADER('k'))) AS nr
         FROM headerless_t""").collect().head
    assert(!r.getBoolean(0) && r.getString(1) == "" && r.getInt(3) == 0)
    assert(r.getAs[scala.collection.Map[String, String]]("h").get("job").contains("graft"))
  }

  test("parser review batch: DISTINCT-ALL, DESC percentile, union keys, durations, DECIMAL(p,s)") {
    import spark.implicits._
    // 1. ALL over a DISTINCT subquery: duplicate NON-null values must
    // not trip the null-poison guard (count(*)>count(DISTINCT v) was 2>1)
    ctx.register("dup_t", Seq(1.0, 1.0).toDF("v"))
    val allRows = ctx.sql(
      "SELECT order_id FROM orders WHERE amount > ALL (SELECT DISTINCT v FROM dup_t)")
    assert(allRows.count() == 5, "5 > ALL {1,1} is TRUE for every order")
    // 2. PERCENTILE_CONT over DESC ordering = the (1-p) quantile ascending
    ctx.register("pct_t", Seq((1, 10.0), (1, 20.0), (1, 30.0), (1, 40.0)).toDF("g", "v"))
    val p25desc = ctx.sql(
      "SELECT PERCENTILE_CONT(0.25) OVER (PARTITION BY g ORDER BY v DESC) AS p FROM pct_t")
      .collect().head.getDouble(0)
    assert(math.abs(p25desc - 32.5) < 1e-9, s"25% down from the top of 10..40 is 32.5, got $p25desc")
    // 3. PRIMARY KEY survives a union body when branches agree
    val un = VeloSqlParser.parse(
      """CREATE STREAM u AS SELECT order_id PRIMARY KEY, amount FROM orders
         UNION ALL SELECT order_id PRIMARY KEY, amount FROM orders""")
      .asInstanceOf[VeloSqlParser.CreateStreamAs]
    assert(un.select.keyFields == Vector("order_id"))
    // 4. sub-second and zero durations reject loudly (a 500ms WITHIN
    // band truncated to "0 seconds apart" = exact-timestamp join)
    assert(VeloSqlParser.parseDuration(Vector(
      VeloSqlParser.Tok(VeloSqlParser.TNumber, "500"),
      VeloSqlParser.Tok(VeloSqlParser.TIdent, "ms"))).isEmpty)
    assert(VeloSqlParser.parseDuration(Vector(
      VeloSqlParser.Tok(VeloSqlParser.TNumber, "2000"),
      VeloSqlParser.Tok(VeloSqlParser.TIdent, "ms"))).contains(2L))
    intercept[VeloSqlParser.ParseException](VeloSqlParser.parse(
      "SELECT COUNT(*) FROM t GROUP BY k WINDOW TUMBLING(0s)"))
    // 5. DECIMAL(p,s) column declarations parse; BUFFER 0 and empty
    // window args and TIMESTAMP format-arity reject at parse time
    val dec = VeloSqlParser.parse(
      "CREATE TABLE t2 (price DECIMAL(10,2)) AS SELECT amount AS price FROM orders")
      .asInstanceOf[VeloSqlParser.CreateTableAs]
    assert(dec.columns == Vector("price" -> "DECIMAL(10,2)"))
    intercept[VeloSqlParser.ParseException](VeloSqlParser.parse(
      "SELECT sum(x) OVER (ROWS WINDOW BUFFER 0 ROWS ORDER BY t) FROM t"))
    intercept[VeloSqlParser.ParseException](VeloSqlParser.parse(
      "SELECT COUNT(*) FROM t GROUP BY k WINDOW SESSION(5m, )"))
    intercept[VeloSqlParser.ParseException](VeloSqlParser.parse(
      "SELECT TIMESTAMP(ts, 'yyyy-MM-dd') FROM t"))
    // 6. a top-level ';' no longer folds a second statement into WHERE
    intercept[VeloSqlParser.ParseException](VeloSqlParser.parse(
      "SELECT order_id FROM orders WHERE amount > 0; SELECT 1"))
    // 7. EXTRACT(EPOCH FROM ts - INTERVAL) stays one timestamp
    val ep = ctx.sql(
      "SELECT EXTRACT(EPOCH FROM event_time - INTERVAL '1' HOUR) AS e FROM orders WHERE order_id = 1")
      .collect().head.getLong(0)
    assert(ep == 1700000000L - 3600L)
  }

  test("ALL/ANY against a NULL-bearing subquery follows standard semantics in WHERE") {
    import spark.implicits._
    ctx.register("lim_t", Seq(Some(90.0), None).toDF("limit_px"))
    ctx.register("px_t", Seq((1L, 100.0), (2L, 50.0)).toDF("id", "px"))
    // standard SQL: px > ALL({90, NULL}) is UNKNOWN for px=100 (never
    // TRUE) and FALSE for px=50 → zero rows pass; the bare MAX rewrite
    // returned the px=100 row
    assert(ctx.sql("SELECT id FROM px_t WHERE px > ALL (SELECT limit_px FROM lim_t)").count() == 0)
    // without NULLs the rewrite is unchanged
    ctx.register("lim_nn", Seq(90.0).toDF("limit_px"))
    assert(ctx.sql("SELECT id FROM px_t WHERE px > ALL (SELECT limit_px FROM lim_nn)")
      .collect().map(_.getLong(0)).toSeq == Seq(1L))
    // ANY: px > ANY({90, NULL}) is TRUE for 100, UNKNOWN for 50
    assert(ctx.sql("SELECT id FROM px_t WHERE px > ANY (SELECT limit_px FROM lim_t)")
      .collect().map(_.getLong(0)).toSeq == Seq(1L))
  }

  test("streaming sink routes rows by GROUP BY auto-key: one output file per key") {
    import spark.implicits._
    implicit val sq: org.apache.spark.sql.classic.SQLContext =
      spark.sqlContext.asInstanceOf[org.apache.spark.sql.classic.SQLContext]
    val in = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, String)]
    ctx.registerStream("routed_trades",
      in.toDF().toDF("ep", "symbol").withColumn("event_time", timestamp_seconds(col("ep"))),
      "event_time", "10 minutes")
    // two symbols x two closed tumbling windows each; the 7200 sentinel
    // advances the watermark past 600 so both windows emit in one flush
    in.addData(Seq((100L, "AAPL"), (400L, "AAPL"), (100L, "MSFT"), (400L, "MSFT"),
      (7200L, "AAPL")))
    val outDir = ctx.sqlStream(
      """SELECT symbol, COUNT(*) AS n FROM routed_trades GROUP BY symbol
         WINDOW TUMBLING(event_time, INTERVAL '5' MINUTE)
         EMIT FINAL""")
    val res = spark.read.parquet(outDir).withColumn("file", input_file_name())
    val bySym = res.collect().groupBy(_.getAs[String]("symbol"))
    // both closed windows of a symbol present, and co-located in ONE file —
    // without the auto-key repartition the (symbol, window) hash partitioning
    // scatters a symbol's windows across sink files
    for (sym <- Seq("AAPL", "MSFT")) {
      val rows = bySym(sym).filter(_.getAs[Long]("window_start") < 600)
      assert(rows.map(_.getAs[Long]("window_start")).sorted.toSeq == Seq(0L, 300L))
      assert(rows.map(_.getAs[String]("file")).distinct.length == 1, s"$sym split across files")
    }
  }

  test("SESSION partition-key window arg becomes a grouping key (reference session-windows.md)") {
    // SESSION(time, gap, partition_col): the trailing key must land in
    // GROUP BY — dropped, time-adjacent events of DIFFERENT users would
    // merge into one global session
    val rendered = ctx.explainSql(
      "SELECT COUNT(*) AS n FROM clicks WINDOW SESSION(event_time, INTERVAL '10' MINUTE, user_id)")
    assert(rendered.contains("GROUP BY user_id, session_window("), rendered)
  }

  test("WITHIN band renders as interval bounds on the registered event-time columns") {
    import spark.implicits._
    // abs(unix_timestamp(l) - unix_timestamp(r)) <= N is opaque to
    // Spark's StreamingJoinHelper — join state would never evict; the
    // direct-interval form is the state-bounded one, on each stream's
    // REGISTERED watermark column 'etime' (NOT the context default
    // 'timestamp', which these streams do not even carry)
    val t0 = new java.sql.Timestamp(0L)
    ctx.registerStream("wq_left", Seq((1L, t0)).toDF("lid", "etime"), "etime", "10 minutes")
    ctx.registerStream("wq_right", Seq((1L, t0)).toDF("rid", "etime"), "etime", "10 minutes")
    val rendered = ctx.explainSql(
      "SELECT l.lid FROM wq_left l JOIN wq_right r ON l.lid = r.rid WITHIN 5m")
    assert(!rendered.contains("abs("), rendered)
    assert(rendered.contains("r.etime >= l.etime - INTERVAL 300 SECOND"), rendered)
    assert(rendered.contains("r.etime <= l.etime + INTERVAL 300 SECOND"), rendered)
  }

  test("non-windowed streaming aggregate without EMIT routes to the changelog path") {
    import spark.implicits._
    implicit val sq: org.apache.spark.sql.classic.SQLContext =
      spark.sqlContext.asInstanceOf[org.apache.spark.sql.classic.SQLContext]
    val in = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, String)]
    ctx.registerStream("agg_trades",
      in.toDF().toDF("ep", "symbol").withColumn("event_time", timestamp_seconds(col("ep"))),
      "event_time", "10 minutes")
    in.addData(Seq((100L, "AAPL"), (200L, "AAPL"), (300L, "MSFT")))
    // no EMIT and no window: append mode would throw AnalysisException
    // (no event-time window closes the groups) — the dialect's default
    // continuous aggregate is changelog-style updates
    val outDir = ctx.sqlStream(
      "SELECT symbol, COUNT(*) AS n FROM agg_trades GROUP BY symbol")
    val rows = spark.read.parquet(outDir)
      .collect().map(r => (r.getAs[String]("symbol"), r.getAs[Long]("n"))).toSet
    assert(rows == Set(("AAPL", 2L), ("MSFT", 1L)))
  }

  test("sqlStream honors a declared INTO sink path") {
    import spark.implicits._
    implicit val sq: org.apache.spark.sql.classic.SQLContext =
      spark.sqlContext.asInstanceOf[org.apache.spark.sql.classic.SQLContext]
    val dir = java.nio.file.Files.createTempDirectory("velo_into_stream").toString
    ctx.sql(s"CREATE SINK stream_sink WITH ('path' = 'file://$dir/into_out')")
    val in = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, Long)]
    ctx.registerStream("sink_src",
      in.toDF().toDF("oid", "ep").withColumn("event_time", timestamp_seconds(col("ep"))),
      "event_time", "10 minutes")
    in.addData(Seq((1L, 100L), (2L, 200L)))
    // the returned dir IS the declared sink: before the fix the stream
    // landed only in the internal temp dir and the sink stayed empty
    val outDir = ctx.sqlStream("SELECT oid FROM sink_src INTO stream_sink")
    assert(outDir == s"$dir/into_out", outDir)
    val got = spark.read.parquet(outDir).collect().map(_.getAs[Long]("oid")).sorted
    assert(got.toSeq == Seq(1L, 2L))
  }

  test("stdout debug sink: INSERT INTO stdout and bare INTO stdout print JSON records") {
    // the reference's StdoutWriter (datasource/stdout_writer.rs:10) —
    // addressed as the pseudo-table / pseudo-sink `stdout`
    val buf = new java.io.ByteArrayOutputStream()
    Console.withOut(new java.io.PrintStream(buf, true, "UTF-8")) {
      ctx.sql("INSERT INTO stdout SELECT order_id, status FROM orders WHERE order_id = 1")
      ctx.sql("SELECT order_id FROM orders WHERE order_id = 2 INTO stdout")
    }
    val printed = buf.toString("UTF-8")
    assert(printed.contains("\"order_id\":1") && printed.contains("\"status\":\"pending\""),
      printed)
    assert(printed.contains("\"order_id\":2"), printed)
    // a REAL table named stdout wins over the debug sink
    ctx.sql("CREATE TABLE stdout AS SELECT order_id FROM orders WHERE order_id = 3")
    ctx.sql("INSERT INTO stdout VALUES (9)")
    assert(spark.table("stdout").count() == 2)
    spark.catalog.dropTempView("stdout")
  }

  test("r15: STREAMING INTO stdout prints JSON records on both emit arms") {
    // pre-r15 gap: the batch arms honored the stdout debug sink but a
    // streaming query INTO stdout validated clean and streamed only to
    // its internal epoch dir — no console output
    // (datasource/stdout_writer.rs:10)
    import spark.implicits._
    implicit val sq: org.apache.spark.sql.classic.SQLContext =
      spark.sqlContext.asInstanceOf[org.apache.spark.sql.classic.SQLContext]
    val in = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, Long)]
    ctx.registerStream("so_stream",
      in.toDF().toDF("oid", "ep").withColumn("event_time", timestamp_seconds(col("ep"))),
      "event_time", "10 minutes")
    in.addData(Seq((1L, 100L), (2L, 200L)))
    // (1) append arm (non-aggregating SELECT)
    val buf = new java.io.ByteArrayOutputStream()
    val outDir = Console.withOut(new java.io.PrintStream(buf, true, "UTF-8")) {
      ctx.sqlStream("SELECT oid FROM so_stream INTO stdout")
    }
    val printed = buf.toString("UTF-8")
    assert(printed.contains("\"oid\":1") && printed.contains("\"oid\":2"), printed)
    // the internal materialization still serves downstream readers
    assert(spark.read.parquet(outDir).count() == 2)
    // (2) changelog arm (global aggregate EMIT CHANGES) — the RAW
    // records print, without the engine's internal _batch_id tag
    val buf2 = new java.io.ByteArrayOutputStream()
    Console.withOut(new java.io.PrintStream(buf2, true, "UTF-8")) {
      ctx.sqlStream("SELECT COUNT(*) AS n FROM so_stream INTO stdout EMIT CHANGES")
    }
    val printed2 = buf2.toString("UTF-8")
    assert(printed2.contains("\"n\":2"), printed2)
    assert(!printed2.contains("_batch_id"), printed2)
  }

  test("r15: a streaming JOB body INTO stdout prints its batches") {
    import spark.implicits._
    implicit val sq: org.apache.spark.sql.classic.SQLContext =
      spark.sqlContext.asInstanceOf[org.apache.spark.sql.classic.SQLContext]
    val in = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, Double)]
    val c2 = new VeloContext(spark)
    try {
      c2.register("jso_events", in.toDF().toDF("id", "v"))
      in.addData(Seq((1L, 10.5), (2L, 20.5)))
      val buf = new java.io.ByteArrayOutputStream()
      // the console stream is captured at LAUNCH (this thread);
      // foreachBatch prints from the stream-execution thread into the
      // captured stream, so awaitIdle may sit outside the redirect
      Console.withOut(new java.io.PrintStream(buf, true, "UTF-8")) {
        c2.sql("START JOB jso AS SELECT id, v FROM jso_events INTO stdout")
      }
      c2.jobManager.awaitIdle("jso")
      c2.sql("STOP JOB jso")
      val printed = buf.toString("UTF-8")
      assert(printed.contains("\"id\":1") && printed.contains("\"v\":20.5"), printed)
    } finally c2.close()
  }

  test("r15 advice: stream-static join over an aggregating STATIC view stays append") {
    // matching ANY Aggregate in the analyzed plan rerouted this
    // append-safe query to the changelog sink — its output silently
    // gained a _batch_id column; only a STREAMING Aggregate forces
    // update mode
    import spark.implicits._
    implicit val sq: org.apache.spark.sql.classic.SQLContext =
      spark.sqlContext.asInstanceOf[org.apache.spark.sql.classic.SQLContext]
    ctx.sql("CREATE TABLE cust_counts AS SELECT customer_id, COUNT(*) AS cnt FROM orders GROUP BY customer_id")
    val in = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, Long)]
    ctx.registerStream("adv_stream",
      in.toDF().toDF("customer_id", "ep").withColumn("event_time", timestamp_seconds(col("ep"))),
      "event_time", "10 minutes")
    in.addData(Seq((10L, 100L), (11L, 200L)))
    val outDir = ctx.sqlStream(
      """SELECT s.customer_id AS customer_id, c.cnt AS cnt
         FROM adv_stream s JOIN cust_counts c ON s.customer_id = c.customer_id""")
    val res = spark.read.parquet(outDir)
    assert(!res.columns.contains("_batch_id"), res.columns.toSeq.toString)
    assert(res.count() == 2)
    spark.catalog.dropTempView("cust_counts")
  }

  test("r15 advice: ORDER BY strategy DESC in a DEPLOY body is a column ref, not a typo'd STRATEGY") {
    // the trailing-identifier typo heuristic treated ANY statement tail
    // of `strategy <ident>` as a strategy clause — `ORDER BY strategy
    // DESC` threw 'unknown deployment strategy DESC'
    VeloSqlParser.parse(
      "DEPLOY JOB dj_ord AS SELECT strategy, COUNT(*) AS n FROM decisions GROUP BY strategy ORDER BY strategy DESC",
      "timestamp", _ => None) match {
      case VeloSqlParser.DeployJob(_, _, VeloSqlParser.Select(sel), _, _) =>
        assert(sel.orderBy.exists(t =>
          VeloSqlParser.render(t).toUpperCase.contains("DESC")), sel.orderBy.toString)
      case o => fail(s"unexpected parse: $o")
    }
    // the typo heuristic itself still fires on a genuine lone trailer
    val e = intercept[VeloSqlParser.ParseException](VeloSqlParser.parse(
      "DEPLOY JOB dj_t AS SELECT a FROM t STRATEGY BLUEGREEN", "timestamp", _ => None))
    assert(e.getMessage.contains("unknown deployment strategy"), e.getMessage)
  }

  test("r15 review: prop keys/values bind case-insensitively; malformed shapes are dialect errors") {
    import spark.implicits._
    // (1) RETENTION key in any casing prunes — an exact get() silently
    // kept all history
    val nowS = System.currentTimeMillis() / 1000
    ctx.register("ret_ci", Seq((1L, nowS), (2L, nowS - 86400L * 30)).toDF("id", "ts"))
    ctx.sql("CREATE TABLE ret_ci_t AS SELECT id, ts FROM ret_ci WITH (RETENTION = '7 days')")
    assert(spark.table("ret_ci_t").count() == 1)
    // (2) table_model: case-variant value works; unknown value THROWS
    // instead of silently defaulting (the retention_unit rule)
    ctx.sql("CREATE TABLE tm_ci AS SELECT order_id FROM orders WITH ('table_model' = 'Compact')")
    assert(spark.table("tm_ci").count() == 5)
    val e2 = intercept[VeloSqlParser.ParseException](
      ctx.sql("CREATE TABLE tm_bad AS SELECT order_id FROM orders WITH ('table_model' = 'compactt')"))
    assert(e2.getMessage.contains("table_model"), e2.getMessage)
    // (3) a declared sink's case-variant 'Path' key still receives the
    // write (the dotted-prop branch already matched loosely)
    val dir = java.nio.file.Files.createTempDirectory("sinkci").toString
    ctx.sql(s"CREATE SINK ci_out WITH ('Path' = 'file://$dir/ci.json')")
    ctx.sql("SELECT order_id FROM orders WHERE order_id = 1 INTO ci_out")
    assert(spark.read.json(s"$dir/ci.json").count() == 1)
    // (4) a declared column colliding with the passthrough window tail
    // is a clean dialect error, not a raw AMBIGUOUS_REFERENCE
    val e4 = intercept[VeloSqlParser.ParseException](ctx.sql(
      """CREATE TABLE wc (window_start BIGINT) AS
         SELECT symbol FROM market_data GROUP BY symbol
         WINDOW TUMBLING(timestamp, INTERVAL '5' MINUTE)"""))
    assert(e4.getMessage.contains("window"), e4.getMessage)
  }

  test("r15 review: explicit EMIT FINAL on a windowless stream aggregate errors; register() clears the stream time mapping") {
    import spark.implicits._
    implicit val sq: org.apache.spark.sql.classic.SQLContext =
      spark.sqlContext.asInstanceOf[org.apache.spark.sql.classic.SQLContext]
    val in = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, Long)]
    ctx.registerStream("ef_stream",
      in.toDF().toDF("id", "ep").withColumn("event_time", timestamp_seconds(col("ep"))),
      "event_time", "10 minutes")
    in.addData(Seq((1L, 100L)))
    // pre-r15 this silently rerouted to the update-mode changelog sink
    // (extra _batch_id column) for a user who explicitly asked FINAL
    val e = intercept[VeloSqlParser.ParseException](
      ctx.sqlStream("SELECT COUNT(*) AS n FROM ef_stream EMIT FINAL"))
    assert(e.getMessage.contains("EMIT FINAL"), e.getMessage)
    // re-registering the name as a BATCH view must clear the stale
    // event-time mapping a later WITHIN band would silently bind to
    assert(ctx.streamTimeCol("ef_stream").contains("event_time"))
    ctx.register("ef_stream", Seq((1L, 2L)).toDF("id", "v"))
    assert(ctx.streamTimeCol("ef_stream").isEmpty,
      "register() must clear a stale registerStream time mapping")
  }

  test("zero-argument COLLECT/STRING_AGG is a parse error, not an internal crash") {
    val e = intercept[VeloSqlParser.ParseException](
      ctx.sql("SELECT COLLECT() FROM orders"))
    assert(e.getMessage.contains("expects"), e.getMessage)
  }

  test("retention on a BIGINT epoch-seconds column keeps recent rows (r12 review: unit by value scale)") {
    import spark.implicits._
    val nowS = System.currentTimeMillis() / 1000
    // epoch-seconds BIGINT (the engine's own epochS convention) — the
    // old LongType-means-millis rule compared ~1.7e9 values to a
    // ~1.77e12 cutoff and silently emptied the table
    Seq((1L, nowS - 3600), (2L, nowS - 10L * 86400), (3L, nowS))
      .toDF("rid", "ts").createOrReplaceTempView("ret_bigint_s")
    ctx.sql(
      """CREATE TABLE recent_bigint_s AS SELECT rid, ts FROM ret_bigint_s
         WITH ('retention' = '7 days')""")
    assert(spark.table("recent_bigint_s").collect().map(_.getAs[Long]("rid")).sorted.toSeq
      == Seq(1L, 3L))
    // and epoch-millis BIGINT values still prune in their own unit
    val nowMs = System.currentTimeMillis()
    Seq((1L, nowMs - 3600 * 1000L), (2L, nowMs - 10L * 86400 * 1000L), (3L, nowMs))
      .toDF("rid", "ts").createOrReplaceTempView("ret_bigint_ms")
    ctx.sql(
      """CREATE TABLE recent_bigint_ms AS SELECT rid, ts FROM ret_bigint_ms
         WITH ('retention' = '7 days')""")
    assert(spark.table("recent_bigint_ms").collect().map(_.getAs[Long]("rid")).sorted.toSeq
      == Seq(1L, 3L))
  }

  test("retention_unit prop overrides the per-value unit guess (r13 advice)") {
    import spark.implicits._
    // epoch-MILLIS values below 1e11 (pre-1973 data): the per-value
    // guess reads them as seconds and never expires them — the
    // explicit unit makes the old rows prune
    val nowMs = System.currentTimeMillis()
    Seq((1L, 50000000000L), (2L, nowMs - 3600 * 1000L))
      .toDF("rid", "ts").createOrReplaceTempView("ret_unit_ms")
    ctx.sql(
      """CREATE TABLE ret_unit_forced AS SELECT rid, ts FROM ret_unit_ms
         WITH ('retention' = '7 days', 'retention_unit' = 'millis')""")
    assert(spark.table("ret_unit_forced").collect().map(_.getAs[Long]("rid")).toSeq
      == Seq(2L), "pre-1973 millis rows must expire under the forced unit")
    // the unit VALUE is case-insensitive like the rest of the dialect
    // (r14 advice: 'MILLIS' must not throw)
    ctx.sql(
      """CREATE TABLE ret_unit_cased AS SELECT rid, ts FROM ret_unit_ms
         WITH ('retention' = '7 days', 'retention_unit' = 'MILLIS')""")
    assert(spark.table("ret_unit_cased").collect().map(_.getAs[Long]("rid")).toSeq
      == Seq(2L), "cased unit value must behave exactly like the lowercase one")
    // and a garbage unit fails loudly
    val e = intercept[VeloSqlParser.ParseException](ctx.sql(
      """CREATE TABLE ret_unit_bad AS SELECT rid, ts FROM ret_unit_ms
         WITH ('retention' = '7 days', 'retention_unit' = 'fortnights')"""))
    assert(e.getMessage.contains("retention_unit"))
  }

  test("INSERT positional width mismatch fails loudly with the shared-helper message (r14)") {
    ctx.sql("CREATE TABLE ins_w AS SELECT order_id, amount FROM orders")
    val e = intercept[VeloSqlParser.ParseException](
      ctx.sql("INSERT INTO ins_w SELECT order_id FROM orders"))
    assert(e.getMessage.contains("produces 1 columns but ins_w has 2"), e.getMessage)
  }

  test("UNION with per-branch INTO writes each branch's OWN rows to its sink (r12 review)") {
    val dir = java.nio.file.Files.createTempDirectory("graft_union_into").toString
    ctx.sql(s"CREATE SINK u_s1 WITH (path = 'file://$dir/b1.parquet')")
    ctx.sql(s"CREATE SINK u_s2 WITH (path = 'file://$dir/b2.parquet')")
    ctx.sql("""SELECT order_id FROM orders WHERE order_id = 1 INTO u_s1
               UNION ALL SELECT order_id FROM orders WHERE order_id = 2 INTO u_s2""")
    val r1 = spark.read.parquet(s"$dir/b1.parquet").collect().map(_.getLong(0)).toSeq
    val r2 = spark.read.parquet(s"$dir/b2.parquet").collect().map(_.getLong(0)).toSeq
    assert(r1 == Seq(1L), s"sink u_s1 got $r1 — must receive only its own branch")
    assert(r2 == Seq(2L), s"sink u_s2 got $r2 — must receive only its own branch")
  }

  test("SHOW PROPERTIES and route keys bind case-insensitively; backtick GROUP BY keys route (r12 review)") {
    ctx.sql("CREATE SINK Mixed_Case_Sink WITH (path = 'file:///tmp/graft_mc.parquet', format = 'parquet')")
    val props = ctx.sql("SHOW PROPERTIES mixed_case_sink").collect()
    assert(props.exists(r => r.getString(0) == "path"),
      "SHOW PROPERTIES must resolve declared names case-insensitively")
    // GROUP BY with a different casing / backticks still yields route keys
    val s1 = VeloSqlParser.parse("SELECT status, COUNT(*) AS n FROM orders GROUP BY STATUS",
      "timestamp", _ => None) match { case VeloSqlParser.Select(s) => s; case o => fail(o.toString) }
    assert(VeloContext.routedKeys(s1, Vector.empty).map(_.toLowerCase) == Vector("status"))
    val s2 = VeloSqlParser.parse("SELECT `status`, COUNT(*) AS n FROM orders GROUP BY `status`",
      "timestamp", _ => None) match { case VeloSqlParser.Select(s) => s; case o => fail(o.toString) }
    assert(VeloContext.routedKeys(s2, Vector.empty) == Vector("status"),
      "backtick-quoted GROUP BY keys must still be routable")
  }

  test("concurrent INSERTs into one table lose no rows (r12 review: per-table mutation lock)") {
    import spark.implicits._
    Seq((0L, "seed")).toDF("id", "tag").createOrReplaceTempView("mut_t")
    val threads = (1 to 4).map { i =>
      new Thread(() => ctx.sql(s"INSERT INTO mut_t VALUES ($i, 'w$i')"))
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    val ids = spark.table("mut_t").collect().map(_.getLong(0)).sorted.toSeq
    assert(ids == Seq(0L, 1L, 2L, 3L, 4L),
      s"every concurrent INSERT must survive the rebind, got $ids")
  }

  test("close() releases CTAS materialization caches (r12 review)") {
    val c2 = new VeloContext(spark, defaultTimeCol = "timestamp")
    val df = c2.sql("CREATE TABLE close_mat AS SELECT order_id FROM orders")
    assert(df.storageLevel != org.apache.spark.storage.StorageLevel.NONE)
    c2.close()
    assert(df.storageLevel == org.apache.spark.storage.StorageLevel.NONE,
      "a discarded context must not pin its materializations in executor storage")
    spark.catalog.dropTempView("close_mat")
  }

  test("retention accepts the dialect's full duration grammar and rejects garbage loudly") {
    assert(VeloContext.durationSeconds("7d").contains(7L * 86400))
    assert(VeloContext.durationSeconds("1 week").contains(604800L))
    assert(VeloContext.durationSeconds("30 minutes").contains(1800L))
    assert(VeloContext.durationSeconds("sometimes").isEmpty)
    // an unparseable retention prop must throw, not silently retain
    // all history
    intercept[VeloSqlParser.ParseException] {
      ctx.sql("CREATE TABLE rt_bad AS SELECT order_id FROM orders WITH ('retention' = 'sometimes')")
    }
  }

  test("parser r14 review: backslash literals, OVER-span rewrites, window time-expr, WITHIN alias, strategy column, negative props") {
    import spark.implicits._
    // (1) backslash is an ORDINARY character in dialect literals (the
    // reference's sqlparser / standard SQL): the value must survive the
    // round trip into spark.sql() unmangled
    val bs = ctx.sql("SELECT 'C:\\tmp' AS p, 'a\\\\b' AS q FROM orders WHERE order_id = 1").collect().head
    assert(bs.getString(0) == "C:\\tmp", s"got '${bs.getString(0)}' — backslash-t must stay two chars")
    assert(bs.getString(1) == "a\\\\b", "two backslashes in the dialect stay two backslashes")
    // ... and property VALUES decode to the written value
    ctx.sql("CREATE SINK bs_sink WITH (tag = 'x\\y')")
    val tag = ctx.sql("SHOW PROPERTIES bs_sink").collect()
      .find(_.getString(0) == "tag").map(_.getString(1))
    assert(tag.contains("x\\y"), s"property value decoded to $tag")

    // (2) PARTITION BY inside OVER clauses passes through the dialect
    // rewrites: LEN is BYTE length ('é' is 2 bytes = len('ab')), so both
    // rows share one partition in both the rows-window and percentile
    // OVER paths
    Seq(("\u00e9", 1.0), ("ab", 3.0)).toDF("s", "v").createOrReplaceTempView("uni_t")
    val sums = ctx.sql(
      "SELECT SUM(v) OVER (ROWS WINDOW BUFFER 10 ROWS PARTITION BY LEN(s) ORDER BY v) AS sm FROM uni_t")
      .collect().map(_.getDouble(0)).sorted.toSeq
    assert(sums == Seq(1.0, 4.0), s"byte-length partitioning must group both rows together, got $sums")
    val meds = ctx.sql(
      "SELECT PERCENTILE_CONT(0.5) OVER (PARTITION BY LEN(s) ORDER BY v) AS p FROM uni_t")
      .collect().map(_.getDouble(0)).toSet
    assert(meds == Set(2.0), s"both rows must see the shared-partition median, got $meds")

    // (3) the WINDOW spec's time expression is rewritten like any other
    // expression position: FROM_UNIXTIME must become timestamp_seconds
    Seq((100L, 1.0), (200L, 1.0), (4000L, 1.0)).toDF("ep", "v").createOrReplaceTempView("ep_t")
    val win = ctx.sql(
      "SELECT COUNT(*) AS n FROM ep_t WINDOW TUMBLING(FROM_UNIXTIME(ep), 5m)")
      .collect().map(r => (r.getAs[Long]("window_start"), r.getAs[Long]("n"))).toMap
    assert(win == Map(0L -> 2L, 3900L -> 1L), s"got $win")

    // (4) WITHIN over an unaliased derived table is a clear parse-time
    // error, not malformed Catalyst SQL
    val e4 = intercept[VeloSqlParser.ParseException](ctx.sql(
      "SELECT * FROM (SELECT * FROM orders) JOIN orders o ON order_id = o.order_id WITHIN 5 MINUTES"))
    assert(e4.getMessage.contains("alias"), e4.getMessage)

    // (5) a column named `strategy` inside a DEPLOY body is an ordinary
    // identifier; the STRATEGY clause still parses after the body
    val dep = VeloSqlParser.parse(
      "DEPLOY JOB dj_strat AS SELECT strategy, COUNT(*) AS n FROM decisions GROUP BY strategy STRATEGY BLUE_GREEN",
      "timestamp", _ => None)
    dep match {
      case VeloSqlParser.DeployJob(_, _, VeloSqlParser.Select(sel), _, strat) =>
        assert(strat == VeloSqlParser.BlueGreen)
        assert(sel.fields.nonEmpty && VeloSqlParser.render(sel.fields.head).toLowerCase.contains("strategy"))
      case o => fail(s"unexpected parse: $o")
    }

    // (6) unquoted negative numbers are valid property values
    ctx.sql("CREATE SINK neg_sink WITH (replication = -1)")
    val rep = ctx.sql("SHOW PROPERTIES neg_sink").collect()
      .find(_.getString(0) == "replication").map(_.getString(1))
    assert(rep.contains("-1"), s"got $rep")

    // (7) a TYPO'd strategy form still gets the CLEAR parser error, not
    // a deep Catalyst failure on a silently swallowed span (the
    // trailing-identifier boundary in strategyBoundary)
    val e7 = intercept[VeloSqlParser.ParseException](VeloSqlParser.parse(
      "DEPLOY JOB dj_typo AS SELECT strategy FROM decisions GROUP BY strategy STRATEGY BLUEGREEN",
      "timestamp", _ => None))
    assert(e7.getMessage.contains("unknown deployment strategy"), e7.getMessage)

    // (8) a FROM alias named `strategy` inside a DEPLOY body parses —
    // the alias gate shares exprSpan's STRATEGY lookahead
    VeloSqlParser.parse(
      "DEPLOY JOB dj_alias AS SELECT strategy.amount FROM decisions strategy STRATEGY ROLLING",
      "timestamp", _ => None) match {
      case VeloSqlParser.DeployJob(_, _, VeloSqlParser.Select(sel), _, strat) =>
        assert(strat == VeloSqlParser.Rolling)
        assert(sel.fromAlias.contains("strategy"), sel.fromAlias.toString)
      case o => fail(s"unexpected parse: $o")
    }

    // (9) backtick-quoted identifiers with an INTERIOR backtick decode
    // through unquote's collapse — the inverse of tokenize's re-escape
    ctx.sql("CREATE SINK bt_sink WITH (`a``b` = 'x')")
    val btv = ctx.sql("SHOW PROPERTIES bt_sink").collect()
      .find(_.getString(0) == "a`b").map(_.getString(1))
    assert(btv.contains("x"), s"got $btv")
  }

  test("executor r14 review: retention needs a time column, string keys partition, stdout arms, sink redeclaration") {
    import spark.implicits._
    // (1) retention over a table with NO recognized event-time column is
    // an ERROR, not a silently-unbounded table
    Seq((1L, "a")).toDF("rid", "v").createOrReplaceTempView("no_ts_src")
    val e1 = intercept[VeloSqlParser.ParseException](ctx.sql(
      """CREATE TABLE ret_nots AS SELECT rid, v FROM no_ts_src
         WITH ('retention' = '7 days')"""))
    assert(e1.getMessage.contains("event-time column"), e1.getMessage)

    // (2) a STRING message key partitions via the md5 path instead of a
    // per-row pmod analysis error; numeric keys keep the oracle-pinned
    // value-mod
    val strKeys = Seq(("k1", 1L, java.sql.Timestamp.valueOf("2024-01-01 00:00:01")),
                      ("k2", 2L, java.sql.Timestamp.valueOf("2024-01-01 00:00:02")))
      .toDF("mkey", "rid", "ts")
    val sys = VeloContext.withSystemColumns(strKeys, "ts", "rid", keyCol = Some("mkey"))
    val parts = sys.select("_partition").collect().map(_.getInt(0))
    assert(parts.forall(p => p >= 0 && p < 8))

    // (3) batch CSAS INTO stdout prints instead of silently dropping
    val baos = new java.io.ByteArrayOutputStream()
    Console.withOut(new java.io.PrintStream(baos)) {
      ctx.sql("CREATE STREAM stdout_csas AS SELECT order_id FROM orders WHERE order_id = 1 INTO stdout")
    }
    assert(baos.toString.contains("order_id"),
      s"CSAS INTO stdout must print records, got: ${baos.toString.take(100)}")

    // (4) stdout INSERT width mismatch is a dialect error (400), not a
    // raw IllegalArgumentException (500)
    val e4 = intercept[VeloSqlParser.ParseException](
      ctx.sql("INSERT INTO stdout (a, b) SELECT 1"))
    assert(e4.getMessage.contains("2 names"), e4.getMessage)

    // (5) re-declaring a sink under different casing REPLACES it —
    // resolution must not depend on map iteration order
    ctx.sql("CREATE SINK cased_sink WITH (path = '/tmp/graft_a.parquet')")
    ctx.sql("CREATE SINK CASED_SINK WITH (path = '/tmp/graft_b.parquet')")
    val paths = ctx.sql("SHOW PROPERTIES cased_sink").collect()
      .filter(_.getString(0) == "path").map(_.getString(1))
    assert(paths.toSeq == Seq("/tmp/graft_b.parquet"),
      s"last declaration must win deterministically, got ${paths.mkString(",")}")
  }

  test("r17 review: one-arg TUMBLE_START buckets the WINDOW clause's declared time column") {
    // pre-fix the one-arg form rewrote with only the context default
    // ('timestamp'), so it emitted MIN over the WRONG column next to
    // window() grouping on event_time — silently wrong window_start
    // whenever the default column also existed (it does here)
    val stmt = ctx.parseStatement(
      "SELECT TUMBLE_START(INTERVAL '1' HOUR) AS ws, COUNT(*) AS n " +
        "FROM orders WINDOW TUMBLING (event_time, INTERVAL '1' HOUR)")
    val sql = ctx.renderSql(stmt)
    assert(sql.contains("event_time"), sql)
    // the derived bucket expression must NOT reference the default col
    assert(!sql.toLowerCase.contains("cast ( timestamp as timestamp"), sql)
    // and it executes: two hour buckets in the fixture
    assert(ctx.sql("SELECT TUMBLE_START(INTERVAL '1' HOUR) AS ws, COUNT(*) AS n " +
      "FROM orders WINDOW TUMBLING (event_time, INTERVAL '1' HOUR)").count() == 2)
  }

  test("r17 review: '~' matches through the Rust-parity regex kernel, not Java RLIKE") {
    import spark.implicits._
    ctx.register("re_names", Seq(Tuple1("h\u00e9llo"), Tuple1("x y")).toDF("name"))
    // Java \\w is ASCII — RLIKE said false for 'h\u00e9llo'; the Rust
    // regex crate's \\w is Unicode and the reference matches
    val n = ctx.sql("SELECT COUNT(*) AS n FROM re_names WHERE name ~ '^\\w+$'")
      .collect().head.getLong(0)
    assert(n == 1L)
    // function-call operand forms still work
    assert(ctx.sql("SELECT COUNT(*) AS n FROM re_names WHERE UPPER(name) ~ 'X'")
      .collect().head.getLong(0) == 1L)
  }

  test("r17 review: scheme-only URI sources error instead of silently dropping FROM") {
    for (bad <- Seq("SELECT 1 FROM kafka://", "SELECT 1 FROM file:///"))
      assert(intercept[VeloSqlParser.ParseException](ctx.parseStatement(bad))
        .getMessage.contains("missing topic/path"), bad)
  }

  test("r17 review: a non-last union arm with LIMIT parenthesizes instead of dying in Catalyst") {
    val rows = ctx.sql(
      "SELECT customer_name AS n FROM customers ORDER BY customer_name LIMIT 1 " +
        "UNION ALL SELECT customer_name AS n FROM customers")
      .collect().map(_.getString(0)).sorted.toSeq
    // 1 limited row + all 3 = 4
    assert(rows.length == 4, rows)
  }

  test("r17 review: conflicting per-source WITH values error; same value re-stated is fine") {
    val e = intercept[VeloSqlParser.ParseException](ctx.parseStatement(
      "SELECT o.order_id FROM orders o WITH ('config_file' = 'a.yaml') " +
        "JOIN customers c WITH ('config_file' = 'b.yaml') ON o.customer_id = c.customer_id"))
    assert(e.getMessage.contains("config_file"))
    // identical value: harmless, kept
    ctx.parseStatement(
      "SELECT o.order_id FROM orders o WITH ('config_file' = 'a.yaml') " +
        "JOIN customers c WITH ('config_file' = 'a.yaml') ON o.customer_id = c.customer_id")
  }

  test("r17 review: duplicate STRATEGY on both sides of AS is a conflict, not last-one-wins") {
    val e = intercept[VeloSqlParser.ParseException](ctx.parseStatement(
      "DEPLOY JOB j STRATEGY CANARY(10) AS SELECT order_id FROM orders STRATEGY BLUE_GREEN"))
    assert(e.getMessage.contains("STRATEGY"))
  }

  test("r17 review: ORDER BY TUMBLE_START in a windowed aggregation is MIN-wrapped like the select list") {
    // pre-fix the ORDER BY span skipped the aggWrap flag and emitted a
    // bare group-constant referencing the time column outside any
    // aggregate -> AnalysisException
    val rows = ctx.sql(
      "SELECT TUMBLE_START(event_time, INTERVAL '1' HOUR) AS ws, COUNT(*) AS n " +
        "FROM orders WINDOW TUMBLING (event_time, INTERVAL '1' HOUR) " +
        "ORDER BY TUMBLE_START(event_time, INTERVAL '1' HOUR)")
      .collect().map(_.getLong(0)).toSeq
    assert(rows == rows.sorted && rows.length == 2, rows)
  }

  test("r17 review: deep nesting surfaces as ParseException, not StackOverflowError") {
    val bomb = "SELECT 1 FROM ( " * 20000
    assert(intercept[VeloSqlParser.ParseException](ctx.parseStatement(bomb))
      .getMessage.nonEmpty)
  }

  test("r17 review: header functions validate arity") {
    val cases = Seq(
      "SELECT HEADER() FROM orders" -> "HEADER",
      "SELECT SET_HEADER('k', 'v', 'extra') FROM orders" -> "SET_HEADER",
      "SELECT HAS_HEADER('a', 'b') FROM orders" -> "HAS_HEADER",
      "SELECT REMOVE_HEADER() FROM orders" -> "REMOVE_HEADER")
    for ((sql, fn) <- cases) {
      val e = intercept[VeloSqlParser.ParseException](ctx.parseStatement(sql))
      assert(e.getMessage.contains(fn) && e.getMessage.contains("argument"), s"$sql -> ${e.getMessage}")
    }
  }

  test("r17 review: GROUP BY TUMBLE with a MONTH interval rejects like WINDOW TUMBLING does") {
    // pre-fix the general fixed-interval rewrite converted MONTH to 30
    // DAY BEFORE duration parsing, so the call form silently ran with
    // 30-day windows while the WINDOW clause spelling rejects
    for (bad <- Seq(
      "SELECT COUNT(*) FROM orders GROUP BY TUMBLE(event_time, INTERVAL '1' MONTH)",
      "SELECT COUNT(*) FROM orders GROUP BY HOP(event_time, INTERVAL '1' MONTH, INTERVAL '2' MONTH)",
      "SELECT COUNT(*) FROM orders GROUP BY SESSION(event_time, INTERVAL '1' YEAR)",
      "SELECT TUMBLE_START(event_time, INTERVAL '1' MONTH) FROM orders " +
        "WINDOW TUMBLING (event_time, INTERVAL '1' HOUR)")) {
      val e = intercept[VeloSqlParser.ParseException](ctx.parseStatement(bad))
      assert(e.getMessage.contains("MONTH/YEAR"), s"$bad -> ${e.getMessage}")
    }
  }
}
