package graft.sql

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import VeloSqlParser._

/** Execution front-end for the velostream SQL dialect: parses a
  * statement, emits Spark SQL, and runs it against registered sources —
  * the analog of the reference's multi-job SQL server
  * (src/velostream/server/), with Catalyst as the engine.
  *
  * Statement semantics:
  *  - SELECT → one Spark SQL query (windows become native `window()` /
  *    `session_window()` GROUP BY items).
  *  - CREATE TABLE name AS SELECT … (CTAS) → materialized: the result is
  *    cached and registered; downstream queries read the materialization
  *    (reference: CompactTable/Table ingestion —
  *    docs/sql/comprehensive-sql-ctas-guide.md).
  *  - CREATE STREAM name AS SELECT … (CSAS) → registered as a VIEW: a
  *    continuous transformation downstream queries compose with
  *    (no materialization — the reference forwards records).
  *  - INSERT INTO t SELECT|VALUES → appends to a registered table.
  *  - SHOW STREAMS|TABLES|JOBS → catalog listing.
  *  - EMIT CHANGES|FINAL is recorded on the plan; in batch both read the
  *    complete input (a final emission). On a stream,
  *    graft.streaming.StreamOps.emission maps them, with the plan's
  *    shape, to a changelog or final-rows sink.
  *
  * At scale nothing here adds overhead: the translation is one string →
  * one Catalyst plan; pushdown/pruning/AQE all apply as if the user had
  * written the DataFrame code by hand.
  */
final class VeloContext(val spark: SparkSession, val defaultTimeCol: String = "ts") {

  // the engine's own kernels are part of the dialect's function surface
  graft.functions.GraftKernels.registerSqlFunctions(spark)

  /** Per-statement tracing spans (reference: observability/telemetry.rs
    * emits per-statement + per-batch OTel spans; span_collector.rs keeps
    * them inspectable). Inspect via `SHOW TRACES [LIKE '...']`. */
  val tracer = new Tracer()

  /** Detach this context from the shared session: removes its job
    * manager's progress listener so a discarded context is collectable.
    * Registered views and running jobs are left untouched — they belong
    * to the session, not the context. */
  def close(): Unit = {
    jobManager.detachListeners()
    // release this context's CTAS materializations: the views stay
    // registered (they belong to the session) but their cache blocks
    // belong to the discarded context — left persisted they pin
    // executor storage for the rest of the session (reads recompute
    // lazily after this, which is correct for an abandoned context)
    materialized.synchronized {
      materialized.values.foreach(_.unpersist(blocking = false))
      materialized.clear()
    }
  }

  /** Registered CTAS materializations (name → cached DataFrame). */
  // CTAS statements may execute CONCURRENTLY (SqlApp's dependency-wave
  // loader), so this registry is guarded by its own monitor
  private val materialized = scala.collection.mutable.Map[String, DataFrame]()

  /** Per-table mutation monitor. INSERT/UPDATE/DELETE are read-modify-
    * write over the registered view (read `existing` → build the new
    * plan → rebind); two CONCURRENT mutations of the same table would
    * both read the same base and the later rebind would silently erase
    * the earlier statement's rows. Serialized per lowercased table name
    * — mutations of different tables never contend. */
  private val mutationLocks = scala.collection.concurrent.TrieMap.empty[String, Object]
  private def mutationLock(table: String): Object =
    mutationLocks.getOrElseUpdate(table.toLowerCase(java.util.Locale.ROOT), new Object)

  /** Declared external sources/sinks (CREATE STREAM|SINK name WITH …):
    * config metadata the deployment layer resolves (config files,
    * topics, serializers). TrieMap, not HashMap: HTTP-pool deploys
    * (resolveIntoSinkPath) and SHOW listings read it while the driver
    * thread may be executing a declaration — the same multi-thread
    * model `materialized` guards with its monitor. */
  val declaredSources: scala.collection.mutable.Map[String, (String, Map[String, String])] =
    scala.collection.concurrent.TrieMap.empty

  def register(name: String, df: DataFrame): Unit = {
    df.createOrReplaceTempView(name)
    // a prior registerStream under this name left its event-time
    // mapping behind: a later WITHIN band would render against the
    // replaced view's column — failing analysis, or silently banding on
    // a same-named non-event-time column, the exact hazard streamTsCols
    // exists to prevent (r15 review)
    streamTsCols.remove(name.toLowerCase(java.util.Locale.ROOT))
  }

  /** Event-time column per registered stream view — the WITHIN band
    * renderer must reference the WATERMARKED column of each side, not
    * the context default (names can diverge, and a same-named
    * non-event-time column would silently band on the wrong values). */
  private val streamTsCols = scala.collection.concurrent.TrieMap.empty[String, String]
  private[sql] def streamTimeCol(table: String): Option[String] =
    streamTsCols.get(table.toLowerCase(java.util.Locale.ROOT))

  /** Register a STREAMING source (readStream/MemoryStream DataFrame)
    * under `name`, with the watermark the reference attaches via its
    * grace-period config (docs/sql/watermarks-time-semantics.md).
    * Dialect queries over this view produce streaming plans. */
  def registerStream(name: String, stream: DataFrame, tsCol: String, grace: String): Unit = {
    stream.withWatermark(tsCol, grace).createOrReplaceTempView(name)
    streamTsCols.put(name.toLowerCase(java.util.Locale.ROOT), tsCol)
  }

  /** Execute a dialect SELECT with streaming semantics, emitting as
    * StreamOps.emission decides (the rule START JOB follows too): a
    * changelog sink or the final-rows file sink. Returns the sink
    * directory — executors write shards directly, nothing lands on the
    * driver. */
  def sqlStream(text: String): String = parseStatement(text) match {
    case Select(s) =>
      var df = spark.sql(toSparkSql(s, defaultTimeCol, streamTimeCol))
      // Message-key routing in the streaming sink too (FR-089): explicit
      // PRIMARY KEY fields, else the GROUP BY columns auto-key (the
      // reference's fallback) — each micro-batch repartitions on the key
      // so one key's records share an output shard, in order. Keys bind
      // case-INSENSITIVELY (the dialect rule): `GROUP BY EVENT_TYPE`
      // must still route Spark's `event_type` output column.
      val routeKeys = VeloContext.routedKeys(s, Vector.empty)
        .flatMap(k => df.columns.find(_.equalsIgnoreCase(k)))
      if (routeKeys.nonEmpty) df = df.repartition(routeKeys.map(col): _*)
      // honor a declared INTO sink: without this the stream landed only
      // in the internal temp epoch dir and the declared sink never
      // received a row (the exact hazard resolveIntoSinkPath documents
      // for the JobManager path, previously unfixed on this entry point)
      // the ONE INTO-resolution chain (resolveIntoSinkPath) — an inline
      // copy of its Select arm had already crept back in (r15 review)
      val sink = resolveIntoSinkPath(Select(s))
      // the reference's stdout debug sink on the STREAMING entry point
      // too (datasource/stdout_writer.rs:10) — pre-r15 only the batch
      // arms honored it, so a streaming `INTO stdout` validated clean
      // and then streamed only to its internal epoch dir with no
      // console output. Resolution is the batch arms' exact rule via
      // the SHARED helper: file path wins, then catalog-aware stdout.
      val toStdout = intoStdout(s)
      // the one emission rule (StreamOps.emission), shared with START JOB
      graft.streaming.StreamOps.emission(df, s.emit) match {
        case graft.streaming.StreamOps.Changelog =>
          graft.streaming.StreamOps.runChangelog(df, "velo_sql", sink, stdout = toStdout)
        case graft.streaming.StreamOps.Final =>
          graft.streaming.StreamOps.runToParquet(df, "velo_sql", sink, stdout = toStdout)
      }
    case other => throw new ParseException(s"sqlStream expects a SELECT, got $other")
  }

  /** Register a table with Kafka-analog system columns + headers
    * (reference: docs/sql/system-columns.md, header-access.md):
    * `_timestamp` (event time), `_offset` (monotone id), `_partition`
    * (key-hash partition), `_headers` (map<string,string>). */
  def registerStreamLike(name: String, df: DataFrame, tsCol: String, idCol: String,
                         partitions: Int = 8, headers: Map[String, String] = Map.empty): Unit = {
    var d = VeloContext.withSystemColumns(df, tsCol, idCol, partitions = partitions)
    val hdrs = if (headers.isEmpty) Map("source" -> name) else headers
    d = d.withColumn("_headers",
      map(hdrs.toSeq.sorted.flatMap { case (k, v) => Seq(lit(k), lit(v)) }: _*))
    register(name, d)
  }

  def parseStatement(sql: String): VeloStatement =
    VeloSqlParser.parse(sql, defaultTimeCol, streamTimeCol)

  /** Render any statement's query core to Spark SQL text. */
  private[sql] def renderSql(stmt: VeloStatement): String = stmt match {
    case Select(s) => toSparkSql(s, defaultTimeCol, streamTimeCol)
    case u: Union => u.render(toSparkSql(_, defaultTimeCol, streamTimeCol))
    case WithCtes(ctes, body, recursive) =>
      (if (recursive) "WITH RECURSIVE " else "WITH ") +
        ctes.map { case (n, s) => s"$n AS (${renderSql(s)})" }
        .mkString(", ") + " " + renderSql(body)
    case other => throw new ParseException(s"not a query: $other")
  }

  /** Named-job lifecycle registry (START/STOP/PAUSE/RESUME/DEPLOY/
    * ROLLBACK JOB — the reference's server model, ast.rs:306-366).
    * Job bodies pass SqlValidator's analyzer gate before launching. */
  val jobManager = new JobManager(spark, execStatement,
    body => SqlValidator.validateParsed(this, body).errors,
    // the streaming collectors' own slice: each push carries the
    // complete per-name series across jobs and both collectors, but a batch
    // statement's same-named series lives in a different slice and must
    // survive every micro-batch push (r17 review)
    (n, t, h, s) => recordMetricSlice(n, "streaming", t, h, s),
    resolveSinkPath = resolveIntoSinkPath,
    resolveStdoutSink = resolveIntoStdoutSink,
    tracer = tracer)

  /** First resolvable INTO-sink file path of a job body (CREATE SINK
    * declaration or the statement's own dotted props) — the streaming
    * writeStream can serve ONE location, so multiple INTO file sinks
    * take the first declared. Used by JobManager.launch to honor the
    * INTO contract for streaming CSAS bodies. */
  private def resolveIntoSinkPath(body: VeloStatement): Option[String] = body match {
    case CreateStreamAs(_, s, _, _) =>
      s.into.iterator.flatMap(sinkFilePath(_, s.props)).nextOption()
    // a bare-SELECT job body carries INTO too (START JOB j AS SELECT …
    // INTO out) — without these cases the job silently streams to its
    // internal epoch dir and the declared sink never receives data
    case Select(s) =>
      s.into.iterator.flatMap(sinkFilePath(_, s.props)).nextOption()
    case u: Union =>
      u.selects.iterator.flatMap(s => s.into.iterator.flatMap(sinkFilePath(_, s.props)))
        .nextOption()
    case WithCtes(_, b, _) => resolveIntoSinkPath(b)
    case _ => None
  }

  /** Does this SELECT declare the stdout debug sink? Same precedence as
    * the batch INTO arms: a resolvable FILE path wins (a declared sink
    * named `stdout` with a path is a file sink), then the catalog-aware
    * stdout rule via the SHARED helper (a real table named stdout
    * shadows the debug sink — MutationChecks.isStdoutSink). */
  private def intoStdout(s: SelectStmt): Boolean =
    s.into.exists(n =>
      sinkFilePath(n, s.props).isEmpty && MutationChecks.isStdoutSink(spark, n))

  /** Streaming-job analog of resolveIntoSinkPath for the stdout debug
    * sink — pre-r15 a streaming job body declaring `INTO stdout`
    * validated clean (the validator's exemption is shape-complete) but
    * produced no console output because only file paths resolved. */
  private def resolveIntoStdoutSink(body: VeloStatement): Boolean = body match {
    case CreateStreamAs(_, s, _, _) => intoStdout(s)
    case Select(s) => intoStdout(s)
    case u: Union => u.selects.exists(intoStdout)
    case WithCtes(_, b, _) => resolveIntoStdoutSink(b)
    case _ => false
  }

  /** The stdout debug writer — shared streaming/batch implementation in
    * StreamOps.printJsonRows (reference: datasource/stdout_writer.rs). */
  private def printStdout(df: DataFrame): Unit =
    graft.streaming.StreamOps.printJsonRows(df, Console.out)

  /** The ONE sink-path resolution chain (declared path/file, then the
    * statement's dotted props) — shared by streaming job sinks and
    * batch INTO writes so a new key (e.g. 'uri') cannot land in one
    * and silently miss the other. */
  private def sinkFilePath(sink: String, props: Map[String, String]): Option[String] = {
    // identifiers bind case-INSENSITIVELY everywhere in the dialect
    // (INSERT column lists, UPDATE SET targets) — a sink name must too,
    // or `INTO FILE_OUT` against `CREATE SINK file_out` silently skips
    // the write with only a validator warning
    val declared = declaredSources.collectFirst {
      case (n, (_, p)) if n.equalsIgnoreCase(sink) => p
    }.getOrElse(Map.empty)
    def prop(suffix: String): Option[String] = props.collectFirst {
      case (k, v) if k.equalsIgnoreCase(s"$sink.$suffix") => v
    }
    // declared-map keys bind case-insensitively too: an exact get()
    // here silently skipped the write for CREATE SINK ... ('Path' = …)
    // while the dotted-prop branch above already matched loosely —
    // drift inside the one function that exists to prevent it (r15
    // review)
    propCI(declared, "path").orElse(propCI(declared, "file"))
      .orElse(prop("path")).orElse(prop("file"))
  }

  /** Case-insensitive property lookup — the dialect's identifier rule:
    * an unquoted WITH key keeps its source casing through propMap, so
    * an exact props.get() silently disabled the feature the key names
    * (RETENTION = '7 days' kept all history with no error; r15
    * review). */
  private def propCI(props: Map[String, String], key: String): Option[String] =
    props.collectFirst { case (k, v) if k.equalsIgnoreCase(key) => v }

  /** Collected `@metric` series: name → slice → (sample-name suffix,
    * labels, value). Counters/gauges use the empty suffix; histograms
    * record their `_bucket`/`_sum`/`_count` samples under the base
    * name, as the Prometheus exposition format requires. A SLICE is one
    * independent producer — a batch statement, the streaming listener's
    * cross-job push, the wave loader — and each push replaces only its
    * own slice: replace-wholesale per producer keeps scrape idempotence
    * (a re-run statement re-reports, never double-counts), while two
    * producers sharing a metric NAME no longer erase each other's
    * series on every push (r17 review: a batch statement's series
    * vanished from /metrics on the next same-named batch statement, and
    * on every micro-batch of a same-named streaming-job metric —
    * Jobs.scala's listener documents exactly this erase hazard and
    * guards it across jobs, but cross-DOMAIN pushes still collided).
    * Populated by `SqlApp.run` and JobManager's streaming collectors
    * (docs/DIALECT.md, "`@metric` annotations"); rendered by
    * `prometheusText` in the exposition format the reference's /metrics
    * endpoint serves. */
  val metricsRegistry: scala.collection.mutable.LinkedHashMap[String,
      scala.collection.mutable.LinkedHashMap[String, Vector[(String, Map[String, String], Double)]]] =
    scala.collection.mutable.LinkedHashMap.empty
  private val metricsHelp = scala.collection.mutable.Map[String, (String, String)]()

  /** Record into the DEFAULT slice — callers that own their metric name
    * outright (the wave loader's load gauges, ad-hoc recorders). */
  def recordMetricSeries(name: String, metricType: String, help: Option[String],
                         series: Vector[(String, Map[String, String], Double)]): Unit =
    recordMetricSlice(name, "", metricType, help, series)

  // writers include streaming threads (the progress listener, foreachBatch)
  // while prometheusText reads from the caller's thread — registry access
  // synchronizes on the map itself.
  def recordMetricSlice(name: String, slice: String, metricType: String,
                        help: Option[String],
                        series: Vector[(String, Map[String, String], Double)]): Unit =
    metricsRegistry.synchronized {
      metricsRegistry.getOrElseUpdate(name,
        scala.collection.mutable.LinkedHashMap.empty)(slice) = series
      metricsHelp(name) = (metricType, help.getOrElse(""))
    }

  /** Integral values render without a decimal point (counter parity
    * with the reference's integer counters). */
  private def fmtMetric(v: Double): String =
    // Prometheus exposition spells non-finite values +Inf/-Inf/NaN —
    // Scala's "Infinity" makes the WHOLE scrape unparseable, the same
    // failure class escLabel guards (r14 review)
    if (v.isNaN) "NaN"
    else if (v == Double.PositiveInfinity) "+Inf"
    else if (v == Double.NegativeInfinity) "-Inf"
    else if (v.isWhole && math.abs(v) < 1e15) v.toLong.toString else v.toString

  /** Prometheus exposition text for everything in the registry. */
  def prometheusText: String = metricsRegistry.synchronized {
    val sb = new StringBuilder
    metricsRegistry.foreach { case (name, slices) =>
      // slices concatenate in first-push order under ONE header block —
      // the exposition format requires all samples of a name together
      val series = slices.values.flatten
      val (typ, help) = metricsHelp.getOrElse(name, ("counter", ""))
      // exposition-format escaping: label values escape \, " and
      // newline; HELP text escapes \ and newline — a data-derived label
      // containing a quote would otherwise emit unscrapeable output
      def escLabel(s: String): String =
        s.replace("\\", "\\\\").replace("\"", "\\\"").replace("\n", "\\n")
      def escHelp(s: String): String =
        s.replace("\\", "\\\\").replace("\n", "\\n")
      if (help.nonEmpty) sb.append(s"# HELP $name ${escHelp(help)}\n")
      sb.append(s"# TYPE $name $typ\n")
      series.foreach { case (suffix, labels, v) =>
        val ls =
          if (labels.isEmpty) ""
          else labels.toSeq.sorted.map { case (k, lv) => s"""$k="${escLabel(lv)}"""" }.mkString("{", ",", "}")
        sb.append(s"$name$suffix$ls ${fmtMetric(v)}\n")
      }
    }
    sb.toString
  }

  def sql(text: String): DataFrame =
    tracer.span("sql.statement",
        Map("sql" -> text.linesIterator.mkString(" ").trim.take(200))) {
      val stmt = tracer.span("sql.parse")(parseStatement(text))
      tracer.span("sql.execute",
        Map("kind" -> stmt.getClass.getSimpleName))(execStatement(stmt))
    }

  /** Finished engine spans, newest last (SHOW TRACES [LIKE pattern]). */
  def tracesDf(pattern: Option[String] = None): DataFrame = {
    import spark.implicits._
    tracer.spans
      .filter(s => pattern.forall(p => JobManager.likeMatch(s.name, p)))
      .toDF()
  }

  /** Swap a mutated (INSERT/UPDATE/DELETE) view in. For tables in the
    * `materialized` registry (CTAS products) the rebuilt frame is
    * RE-materialized and the prior cache released — otherwise every
    * mutation stacks another lazy union/projection layer and a long
    * mutation sequence turns each read into an N-deep recompute
    * (quadratic total work on a supposedly materialized table). Plain
    * views stay lazy: they were never materialized, and persisting on
    * every INSERT would change the caller's memory profile. */
  private def rebindMutatedView(table: String, df: DataFrame): DataFrame = {
    val priorKey = materialized.synchronized(materialized.keys.find(_.equalsIgnoreCase(table)))
    val rebound = priorKey match {
      case Some(k) =>
        // ORDER MATTERS, twice over. (1) The prior cache is released
        // before anything else — the rebuilt plan contains the prior
        // view's plan as a subtree, and unpersisting the prior later
        // would take the dependent entry with it. (2) The rebuild is
        // cached AFTER the view swap: createOrReplaceTempView
        // invalidates cache entries that REFERENCE the replaced view
        // (Spark's view-aware invalidation), and the rebuilt plan
        // references it — cache-then-swap left the fresh entry
        // silently evicted (StorageLevel.NONE on every later read,
        // observed). Swap-then-cache leaves a fresh, stable entry.
        // the prior frame's storage level survives the rebuild: a
        // 'table_model' = 'compact' (MEMORY_AND_DISK_SER) table must
        // not silently inflate to the default deserialized cache on
        // its first INSERT (r14 review). NONE (shouldn't happen for a
        // registry entry) falls back to cache()'s default level.
        val priorLevel = materialized.synchronized(materialized.get(k)).map(_.storageLevel)
          .filter(_ != org.apache.spark.storage.StorageLevel.NONE)
          .getOrElse(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        materialized.synchronized {
          materialized.get(k).foreach(_.unpersist())
          materialized.remove(k)
          df.createOrReplaceTempView(table)
          materialized(table) = df
        }
        df.persist(priorLevel)
        df.count()
        df
      case None =>
        df.createOrReplaceTempView(table)
        df
    }
    // the register() rule on the mutation path too: a mutated view that
    // replaced a registered stream must not keep the stream's stale
    // event-time mapping (r17 review)
    streamTsCols.remove(table.toLowerCase(java.util.Locale.ROOT))
    rebound
  }

  /** Every (branch frame, INTO list, props) triple reachable from a
    * query statement. A Union carries per-BRANCH INTOs, and each sink
    * must receive ITS branch's rows, not the whole union (`SELECT a
    * FROM t1 INTO s1 UNION ALL SELECT a FROM t2 INTO s2` writes t1's
    * rows to s1) — the branch is re-rendered alone, wrapped in the
    * enclosing CTEs so CTE references still resolve. The frame is
    * lazy: branches with no INTO never materialize. */
  private def intoWrites(stmt: VeloStatement,
                         wrap: VeloStatement => VeloStatement = identity)
      : Seq[(() => DataFrame, Vector[String], Map[String, String])] =
    stmt match {
      case Select(s) =>
        Seq((() => spark.sql(renderSql(wrap(Select(s)))), s.into, s.props))
      case u: Union => u.selects.map(s =>
        (() => spark.sql(renderSql(wrap(Select(s)))), s.into, s.props))
      case WithCtes(ctes, b, rec) =>
        intoWrites(b, inner => WithCtes(ctes, wrap(inner), rec))
      case _ => Nil
    }

  private def execStatement(stmt: VeloStatement): DataFrame = stmt match {
    case q @ (Select(_) | Union(_, _, _) | WithCtes(_, _, _)) =>
      val df = spark.sql(renderSql(q))
      // INTO on a bare query writes each branch's RESULT to its own
      // resolvable declared sinks (batch analog of the CSAS fan-out;
      // streaming bodies get theirs from JobManager via
      // resolveIntoSinkPath) — previously these INTOs were parsed,
      // validator-checked, and then silently dropped at execution
      val writes = intoWrites(q)
      if (!df.isStreaming) writes.foreach { case (branch, into, props) =>
        if (into.nonEmpty) {
          // a single branch IS the whole statement — reuse the already-
          // built frame instead of re-rendering the query
          val bdf = if (writes.length == 1) df else branch()
          into.foreach { sink =>
            sinkFilePath(sink, props) match {
              case Some(p) => graft.sources.Serde.writeFileUri(bdf, p)
              // the reference's debug sink (datasource/stdout_writer.rs:10):
              // an undeclared `stdout` target prints JSON records instead
              // of silently dropping the INTO. Catalog-aware via the
              // SHARED helper like the CSAS/InsertInto arms and the
              // validator — a real table named stdout shadows the debug
              // sink on every statement shape (r14 review)
              case None if MutationChecks.isStdoutSink(spark, sink) => printStdout(bdf)
              case None => ()
            }
          }
        }
      }
      df

    case CreateTableAs(name, s, props, cols) =>
      // IF NOT EXISTS (threaded as a parser prop): an existing table is
      // KEPT — the default createOrReplaceTempView would overwrite, the
      // one outcome the clause exists to prevent
      if (props.get("if_not_exists").contains("true") && spark.catalog.tableExists(name))
        return spark.table(name)
      var df = VeloContext.applyDeclaredColumns(spark.sql(toSparkSql(s, defaultTimeCol, streamTimeCol)), cols)
      // dialect-level error, not a raw Spark one from cache()/count()
      // deep below — and failing BEFORE the CacheManager registration,
      // which would otherwise keep the doomed plan. (CSAS handles
      // streaming bodies; CTAS is a materialization and cannot.)
      if (df.isStreaming) throw new ParseException(
        s"CREATE TABLE $name AS over a streaming source cannot materialize — " +
          "use CREATE STREAM ... AS or START JOB")
      // 'retention' = '7 days': keep only records inside the window
      // (reference CompactTable retention, comprehensive-sql-ctas-guide
      // .md:198) — applied against the table's event-time column.
      // An UNPARSEABLE retention value throws: silently skipping the
      // filter (the old flatMap) left the table retaining all history —
      // unbounded growth with no error anywhere
      propCI(props, "retention").map { r =>
        VeloContext.durationSeconds(r).getOrElse(throw new ParseException(
          s"unrecognized 'retention' duration '$r' (use e.g. '7 days', '30 minutes', '1h')"))
      }.foreach { sec =>
        // case-INSENSITIVE candidate match (dialect identifier rule),
        // and NO recognized time column is an ERROR: silently skipping
        // the filter left the table retaining all history — the exact
        // unbounded-growth-with-no-error failure the unparseable-
        // duration throw above exists to prevent (r14 review)
        val tsCol = Seq(defaultTimeCol, "ts", "event_time", "_timestamp")
          .flatMap(c => df.columns.find(_.equalsIgnoreCase(c))).headOption
        if (tsCol.isEmpty) throw new ParseException(
          s"'retention' needs an event-time column (one of: $defaultTimeCol, ts, " +
            s"event_time, _timestamp) — table $name has [${df.columns.mkString(", ")}]")
        tsCol.foreach { c =>
          // An integral time column's UNIT is ambiguous: `_timestamp`
          // is INT64 epoch-MILLIS per system-columns.md, but a user
          // BIGINT time column following the engine's own epoch-seconds
          // convention is ~1.7e9 — comparing it to a millis cutoff
          // (~1.77e12) is false for EVERY row and silently empties the
          // table. The unit is decided per VALUE, not per type: ≥1e11
          // → millis (1e11 ms ≈ 1973-03; 1e11 s ≈ year 5138, far past
          // any live data), else seconds. A 32-bit INT cannot hold
          // epoch-millis at all, so IntegerType is always seconds.
          // 'retention_unit' = 'millis'|'seconds' overrides the
          // per-value guess — a BIGINT epoch-millis column holding
          // pre-1973 values (< 1e11) would otherwise be read as
          // seconds and never expire (r13 advice)
          // property VALUES are case-insensitive like the rest of the
          // dialect — 'MILLIS' or 'Seconds' must not throw (r14 advice)
          val unitOverride = propCI(props, "retention_unit")
            .map(_.trim.toLowerCase(java.util.Locale.ROOT)).map {
              case "millis" | "ms" | "milliseconds" => "millis"
              case "seconds" | "s" | "secs"         => "seconds"
              case other => throw new ParseException(
                s"unrecognized 'retention_unit' '$other' (use 'millis' or 'seconds')")
            }
          val keep = df.schema(c).dataType match {
            case org.apache.spark.sql.types.LongType =>
              val cutMs = unix_millis(current_timestamp()) - lit(sec * 1000L)
              val cutS = unix_seconds(current_timestamp()) - lit(sec)
              unitOverride match {
                case Some("millis")  => col(c) >= cutMs
                case Some("seconds") => col(c) >= cutS
                case _ =>
                  when(col(c) >= lit(100000000000L), col(c) >= cutMs)
                    .otherwise(col(c) >= cutS)
              }
            case org.apache.spark.sql.types.IntegerType =>
              col(c) >= unix_seconds(current_timestamp()) - lit(sec)
            case _ => col(c) >= current_timestamp() - expr(s"INTERVAL $sec SECOND")
          }
          df = df.where(keep)
        }
      }
      // 'table_model' = 'compact': serialized, spillable storage — the
      // Spark analog of CompactTable's memory-lean representation;
      // default model = Spark's compressed columnar cache
      // key AND value bind case-insensitively (the retention_unit rule,
      // r14 advice), and an unknown value THROWS: 'compactt' silently
      // got the default cache — the exact silent-feature-skip failure
      // the retention arm rejects loudly (r15 review)
      df = propCI(props, "table_model")
        .map(_.trim.toLowerCase(java.util.Locale.ROOT)) match {
        case Some("compact") =>
          df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)
        case Some("normal") | Some("standard") | None => df.cache()
        case Some(other) => throw new ParseException(
          s"unrecognized 'table_model' '$other' (use 'compact' or 'normal')")
      }
      df.count() // force the materialization, as CTAS ingestion does
      // view registration and registry bookkeeping swap ATOMICALLY:
      // with the view swap outside the monitor, two concurrent
      // same-name CTAS could interleave so the loser unpersists the
      // LIVE view's cache (every read recomputes) while its own cache
      // blocks leak. The count() above stays outside — materialization
      // must not serialize unrelated CTAS.
      materialized.synchronized {
        df.createOrReplaceTempView(name)
        // case-INSENSITIVE prior lookup, like rebindMutatedView: the
        // temp-view swap above is case-insensitive, so a re-CTAS under
        // different casing replaced the view while the exact-match get
        // missed the old registry entry — its cache blocks stayed
        // pinned for the session and the registry held two live
        // entries for one view (r14 review)
        materialized.keys.find(_.equalsIgnoreCase(name)).foreach { k =>
          materialized(k).unpersist()
          materialized.remove(k)
        }
        materialized(name) = df
      }
      // the register() rule (r15), applied to THIS view swap too: a
      // prior registerStream under this name left its event-time
      // mapping behind, and a later WITHIN would band against the
      // replaced view's column (r17 review)
      streamTsCols.remove(name.toLowerCase(java.util.Locale.ROOT))
      // INTO sink[, sink...]: the CTAS arm used to DROP these silently —
      // parsed, validator-checked, never written (r17 review; the exact
      // failure class the bare-query arm's fix documents). Same fan-out
      // as CSAS, including the PRIMARY KEY routing repartition.
      locally {
        val routeKeys = VeloContext.routedKeys(s, cols)
          .flatMap(k => df.columns.find(_.equalsIgnoreCase(k)))
        val sinkDf =
          if (routeKeys.nonEmpty) df.repartition(routeKeys.map(col): _*) else df
        s.into.foreach { sink =>
          sinkFilePath(sink, s.props) match {
            case Some(p) => graft.sources.Serde.writeFileUri(sinkDf, p)
            case None if MutationChecks.isStdoutSink(spark, sink) => printStdout(sinkDf)
            case None => ()
          }
        }
      }
      df

    case CreateStreamAs(name, s, props, cols) =>
      if (props.get("if_not_exists").contains("true") && spark.catalog.tableExists(name))
        return spark.table(name)
      val df = VeloContext.applyDeclaredColumns(spark.sql(toSparkSql(s, defaultTimeCol, streamTimeCol)), cols)
      df.createOrReplaceTempView(name)
      // the register() rule: drop a replaced stream's stale event-time
      // mapping (r17 review — CSAS swapped the view but kept the map)
      streamTsCols.remove(name.toLowerCase(java.util.Locale.ROOT))
      // INTO sink[, sink…]: fan the stream out to every named sink
      // whose path is resolvable — from its CREATE SINK declaration or
      // from the statement's own dotted props ('file_sink.path' = …).
      // Executors write each sink's shards directly. PRIMARY KEY
      // annotations (reference FR-089: fields become the Kafka message
      // key, routing same-key records to one partition) map to a
      // key-based repartition before the write: same key → same output
      // shard, per-key ordering preserved — the transport semantic,
      // realized Spark-native.
      // routedKeys translates PRIMARY KEY names through the declared-
      // column rename — `(a INT, …) AS SELECT id PRIMARY KEY …` routes
      // on `a`, the key's post-rename name. Case-insensitive binding,
      // like every other identifier in the dialect.
      val routeKeys = VeloContext.routedKeys(s, cols)
        .flatMap(k => df.columns.find(_.equalsIgnoreCase(k)))
      val sinkDf =
        if (routeKeys.nonEmpty) df.repartition(routeKeys.map(col): _*) else df
      // file-sink writes here are BATCH writes: a streaming CSAS body
      // (e.g. inside START JOB) gets its INTO sink from the job's own
      // continuous writeStream, which JobManager.launch points at the
      // declared sink location via resolveIntoSinkPath — df.write on a
      // streaming frame would throw
      if (!df.isStreaming) s.into.foreach { sink =>
        sinkFilePath(sink, s.props) match {
          case Some(p) => graft.sources.Serde.writeFileUri(sinkDf, p)
          // the stdout debug sink, same fallback as the bare-query arm:
          // the validator exempts stdout for EVERY statement shape, so
          // silently dropping it here was executor/validator drift —
          // the declared debug output just never appeared (r14 review)
          case None if MutationChecks.isStdoutSink(spark, sink) => printStdout(sinkDf)
          case None => ()
        }
      }
      df

    case InsertInto(table, cols, selOpt, values)
        if MutationChecks.isStdoutSink(spark, table) =>
      // the reference's stdout debug sink — semantics in
      // MutationChecks.isStdoutSink (shared with the validator's
      // exemption, r14: the two had drifted)
      val incoming = MutationChecks.incomingFrame(spark, selOpt, values, cols,
        toSparkSql(_, defaultTimeCol, streamTimeCol))
      // same width check the validator runs for this arm: a bare toDF
      // threw Spark's IllegalArgumentException, which the HTTP layer
      // maps to 500 instead of the dialect error's 400 (r14 review)
      if (cols.nonEmpty && cols.length != incoming.columns.length)
        throw new ParseException(
          s"INSERT column list has ${cols.length} names but the source produces ${incoming.columns.length}")
      // the real-table path's rules apply to the debug sink's column
      // list too (r17 review): backtick quoting comes OFF (toDF would
      // otherwise mint a column literally named `amount`, printed as
      // {"`amount`":5}), and duplicates are a dialect error like
      // alignInsert's, not duplicate JSON keys
      val names = cols.map(MutationChecks.bare)
      val dup = names.combinations(2).collectFirst {
        case Seq(a, b) if graft.operators.Cols.sameName(incoming, a, b) => s"$a / $b"
      }
      if (dup.nonEmpty) throw new ParseException(
        s"INSERT column list names the same column twice: ${dup.get}")
      val named = if (names.nonEmpty) incoming.toDF(names.toIndexedSeq: _*) else incoming
      printStdout(named)
      named

    case InsertInto(table, cols, selOpt, values) => mutationLock(table).synchronized {
      val existing = spark.table(table)
      val incoming = MutationChecks.incomingFrame(spark, selOpt, values, cols,
        toSparkSql(_, defaultTimeCol, streamTimeCol))
      // column binding, unknown/duplicate rejection, and declared-type
      // casts live in MutationChecks.alignInsert — the SAME code the
      // pre-deployment gate analyzes, so a statement that passes
      // validation cannot fail here on those axes
      rebindMutatedView(table,
        existing.unionByName(MutationChecks.alignInsert(table, existing, cols, incoming)))
    }

    case CreateSourceDecl(kind, name, props, cols) =>
      import spark.implicits._
      // a declared schema on the declaration form surfaces as a `schema`
      // property (SHOW PROPERTIES shows it; the deployment layer reads
      // it) — but an EXPLICIT user 'schema' property wins: configuration
      // the user wrote must not be silently replaced
      val withSchema =
        if (cols.isEmpty || props.contains("schema")) props
        else props + ("schema" -> cols.map { case (n, t) => s"$n $t" }.mkString(", "))
      // last declaration WINS deterministically: every read is case-
      // insensitive, so a re-declaration under different casing would
      // otherwise leave TWO live entries and `INTO sink` could keep
      // resolving the stale path by iteration-order luck (r14 review)
      declaredSources.keys.filter(k => k != name && k.equalsIgnoreCase(name))
        .foreach(declaredSources.remove)
      declaredSources(name) = (kind, withSchema)
      withSchema.toSeq.sorted.toDF("key", "value")

    case Update(table, sets, where) => mutationLock(table).synchronized {
      // view-rebuild semantics over the registered relation; SET-target
      // checks and the old-row projection live in
      // MutationChecks.updateFrame (shared with the validator)
      rebindMutatedView(table,
        MutationChecks.updateFrame(table, spark.table(table), sets, where))
    }

    case Delete(table, where) => mutationLock(table).synchronized {
      rebindMutatedView(table,
        MutationChecks.deleteFrame(spark.table(table), where))
    }

    case StartJob(name, body, props) => jobManager.start(name, body, props)
    case StopJob(name, force) => jobManager.stop(name, force)
    case PauseJob(name) => jobManager.pause(name)
    case ResumeJob(name) => jobManager.resume(name)
    case DeployJob(name, version, body, props, strategy) =>
      jobManager.deploy(name, version, body, props, strategy)
    case RollbackJob(name, target) => jobManager.rollback(name, target)

    case Describe(name) => describeDf(name)

    case Show(what, arg) =>
      import spark.implicits._
      def tables() = spark.catalog.listTables().collect()
        .map(t => (t.name, t.tableType))
        .filter { case (n, _) => arg.forall(p => JobManager.likeMatch(n, p)) }
        .toSeq.sortBy(_._1).toDF("name", "type")
      what match {
        // STREAMS and TABLES both resolve from the same temp-view
        // catalog in this sandbox (no external metastore)
        case "STREAMS" | "TABLES" => tables()
        case "TOPICS" =>
          // the Kafka-topic listing: declared external sources/sinks
          declaredSources.toSeq.sortBy(_._1)
            .map { case (n, (kind, _)) => (n, kind) }
            .filter { case (n, _) => arg.forall(p => JobManager.likeMatch(n, p)) }
            .toDF("topic", "kind")
        case "FUNCTIONS" =>
          spark.catalog.listFunctions().collect()
            .map(f => (f.name, f.isTemporary))
            .filter { case (n, _) => arg.forall(p => JobManager.likeMatch(n, p)) }
            .toSeq.sortBy(_._1).toDF("function", "is_temporary")
        case "JOBS" => jobManager.jobsDf(arg)
        case "TRACES" => tracesDf(arg)
        case "STATUS" => jobManager.statusDf(arg)
        case "VERSIONS" => jobManager.versionsDf(
          arg.getOrElse(throw new ParseException("SHOW VERSIONS needs a job name")))
        case "METRICS" => jobManager.metricsDf(arg)
        case "RESOURCES" => jobManager.resourcesDf(arg)
        case "SCHEMA" => describeDf(
          arg.getOrElse(throw new ParseException("SHOW SCHEMA needs a relation name")))
        case "PROPERTIES" =>
          val n = arg.getOrElse(throw new ParseException("SHOW PROPERTIES needs a name"))
          // case-insensitive, like sinkFilePath resolves the same names:
          // a sink INTO can reach must also be SHOW-able by any casing
          declaredSources.collectFirst {
            case (dn, (_, p)) if dn.equalsIgnoreCase(n) => p
          }.getOrElse(Map.empty[String, String])
            .toSeq.sorted.toDF("key", "value")
        case "PARTITIONS" =>
          // Kafka-partition analog: distribution over the `_partition`
          // system column when present, else the physical partition count
          val n = arg.getOrElse(throw new ParseException("SHOW PARTITIONS needs a name"))
          val df = spark.table(n)
          if (df.columns.contains("_partition"))
            df.groupBy(col("_partition").as("partition"))
              .agg(count(lit(1)).as("n_records")).orderBy("partition")
          else
            // no _partition column: report per-PHYSICAL-partition record
            // counts (spark_partition_id), not the partition COUNT
            // masquerading as a record count
            df.groupBy(spark_partition_id().as("partition"))
              .agg(count(lit(1)).as("n_records")).orderBy("partition")
        case other => throw new ParseException(s"SHOW $other not supported")
      }
  }

  /** DESCRIBE / SHOW SCHEMA: the relation's resolved Catalyst schema. */
  private def describeDf(name: String): DataFrame = {
    import spark.implicits._
    spark.table(name).schema.fields.toSeq
      .map(f => (f.name, f.dataType.simpleString, f.nullable))
      .toDF("column_name", "data_type", "nullable")
  }

  /** Execute a multi-statement SQL application script (the reference's
    * deployable `.sql` files), split into statements on the lexer's `;`.
    * Returns the result of each executed statement, in order. */
  def executeScript(script: String): Seq[DataFrame] =
    VeloContext.splitStatements(script).map(sql)

  /** The Spark SQL a statement translates to (for plan inspection). */
  def explainSql(text: String): String = parseStatement(text) match {
    case CreateTableAs(_, s, _, _) => toSparkSql(s, defaultTimeCol, streamTimeCol)
    case CreateStreamAs(_, s, _, _) => toSparkSql(s, defaultTimeCol, streamTimeCol)
    // queries (Select, Union, WithCtes) all render — a raw AST
    // toString would break the "Spark SQL it translates to" contract
    case q @ (Select(_) | _: Union | _: WithCtes) => renderSql(q)
    case other => other.toString
  }
}

object VeloContext {
  /** Kafka-analog system columns (reference docs/sql/system-columns.md):
    * `_timestamp`/`_event_time` INT64 epoch-MILLIS, `_offset` the
    * monotone id, `_partition` = key mod partition count for NUMERIC
    * keys (engine-portable — the q42/q51 oracles replay it verbatim)
    * and md5-prefix mod for any other key type (pmod over a string key
    * was a per-row analysis error; r14 review). ONE definition shared
    * by registerStreamLike and any hand-built stream-like frame so the
    * formulas cannot drift (q42's copy had already missed
    * `_event_time`). `keyCol` is the message-key column the partition
    * derives from — defaults to the offset id. */
  def withSystemColumns(df: DataFrame, tsCol: String, idCol: String,
                        keyCol: Option[String] = None, partitions: Int = 8): DataFrame = {
    val key = keyCol.getOrElse(idCol)
    val numericKey = df.schema.fields
      .find(f => f.name.equalsIgnoreCase(key))
      .forall(_.dataType.isInstanceOf[org.apache.spark.sql.types.NumericType])
    val part =
      if (numericKey) pmod(col(key), lit(partitions))
      else pmod(conv(substring(md5(col(key).cast("string")), 1, 8), 16, 10)
        .cast("long"), lit(partitions))
    df.withColumn("_timestamp", unix_millis(col(tsCol)))
      .withColumn("_event_time", unix_millis(col(tsCol)))
      .withColumn("_offset", col(idCol))
      .withColumn("_partition", part.cast("int"))
  }

  /** A select item's output column name: the TOP-LEVEL AS alias when
    * present (an AS inside parens is CAST(x AS TYPE) syntax, not an
    * alias), else the trailing identifier (covers `id` and `o.id`); an
    * expression without an alias has no stable routable name. */
  private def outputNameOf(item: Vector[VeloSqlParser.Tok]): Option[String] = {
    var depth = 0
    var asIdx = -1
    var i = 0
    while (i < item.length) {
      item(i).text match {
        case "(" => depth += 1
        case ")" => depth -= 1
        case _ => if (depth == 0 && item(i).isKw("AS")) asIdx = i
      }
      i += 1
    }
    // backtick-stripped to match keyFields (the parser strips PRIMARY
    // KEY names at record time) — a quoted alias `key` would otherwise
    // never match its routing key and silently skip the per-key
    // repartition the FR-089 ordering contract depends on
    if (asIdx >= 0 && asIdx + 1 < item.length)
      Some(item(asIdx + 1).text.stripPrefix("`").stripSuffix("`"))
    else {
      // the trailing-identifier fallback only holds for a BARE column
      // ref (`id`, `o.id`): for an unaliased expression like `a + b`
      // the last token is 'b' but the item's output is the whole
      // expression — routing a key named 'b' through it would translate
      // to the WRONG declared column and scatter per-key ordering
      val isBareRef = item.nonEmpty && item.length % 2 == 1 &&
        item.zipWithIndex.forall { case (t, j) =>
          if (j % 2 == 0) t.kind == VeloSqlParser.TIdent else t.text == "."
        }
      if (isBareRef) item.lastOption.map(_.text.stripPrefix("`").stripSuffix("`")) else None
    }
  }

  /** The statement's sink-routing key columns, AS WRITTEN to the sink:
    * explicit PRIMARY KEY fields, else the GROUP BY auto-key fallback
    * (FR-089) — and when a declared column list `(c TYPE, …)` renames
    * the output positionally, each key is translated to the declared
    * name at its select-item position (a key names the SELECT's own
    * output, which no longer exists after the rename). A key whose item
    * cannot be located drops out rather than silently disabling the
    * whole route. */
  private[sql] def routedKeys(s: VeloSqlParser.SelectStmt,
                              cols: Vector[(String, String)]): Vector[String] = {
    val base = if (s.keyFields.nonEmpty) s.keyFields else groupByOutputNames(s)
    if (cols.isEmpty) base
    else base.flatMap { k =>
      // an AMBIGUOUS name (two items produce the same output column)
      // drops out: routing on a guessed item could scatter the real
      // key's records across shards, worse than not routing at all.
      // Case-insensitive, like the identifiers the names came from.
      s.fields.zipWithIndex.filter { case (f, _) =>
        outputNameOf(f).exists(_.equalsIgnoreCase(k)) } match {
        case Vector((_, idx)) if idx < cols.length => Some(cols(idx)._1)
        case _ => None
      }
    }
  }

  /** Simple column names in a statement's GROUP BY — the reference's
    * auto-key fallback for message routing (FR-089: "GROUP BY columns
    * auto-generate keys when no explicit PK"). Only bare identifiers
    * count; expressions (window(ts,…), computed keys) are not routable
    * output columns. */
  private[sql] def groupByOutputNames(s: VeloSqlParser.SelectStmt): Vector[String] =
    s.groupBy.toVector.flatMap { toks =>
      // split the token span on top-level commas; keep single-ident groups
      val groups = Vector.newBuilder[Vector[VeloSqlParser.Tok]]
      var depth = 0
      var cur = Vector.empty[VeloSqlParser.Tok]
      toks.foreach { t =>
        t.text match {
          case "(" => depth += 1; cur :+= t
          case ")" => depth -= 1; cur :+= t
          case "," if depth == 0 => groups += cur; cur = Vector.empty
          case _ => cur :+= t
        }
      }
      if (cur.nonEmpty) groups += cur
      def bare(t: VeloSqlParser.Tok): String =
        t.text.stripPrefix("`").stripSuffix("`")
      def isIdent(t: VeloSqlParser.Tok): Boolean =
        bare(t).matches("[A-Za-z_][A-Za-z0-9_]*")
      groups.result().collect {
        // backtick-stripped, like outputNameOf: `GROUP BY \`event_type\``
        // is the same routable column as the bare form — the unstripped
        // text fails the identifier test and silently disabled routing
        case Vector(t) if isIdent(t) => bare(t)
        // a QUALIFIED key (GROUP BY o.user_id) routes on its output
        // name, exactly as outputNameOf resolves the same dotted ref in
        // the select list — the single-token-only collect silently
        // disabled the per-key routing contract for qualified keys
        // (r14 review)
        case Vector(q, d, t) if d.text == "." && isIdent(q) && isIdent(t) => bare(t)
      }
    }

  /** Declared-schema binding for `CREATE … t (c TYPE, …) AS SELECT`:
    * positional rename + cast, exactly the reference's ColumnDef
    * semantics (names rebind unaliased aggregates by position; an
    * illegal cast fails at Catalyst analysis, before any execution). */
  /** Shared arity rule for declared column lists, used by BOTH the
    * executor (applyDeclaredColumns) and the pre-deploy validator
    * (SqlValidator.checkDeclaredArity) so the gate can never reject a
    * statement the executor accepts: the declared list must cover every
    * output column, OR cover all but a trailing synthetic window tail
    * appended by a WINDOW spec. Returns the error message, if any. */
  private[sql] def declaredArityError(outputCols: Seq[String], declared: Int): Option[String] = {
    val extras = outputCols.drop(declared)
    val windowTail = extras.nonEmpty &&
      extras.forall(Set("window_start", "window_end", "session_start", "session_end"))
    if (outputCols.length == declared || windowTail) None
    else Some(s"declared $declared columns but the query produces ${outputCols.length}")
  }

  private[sql] def applyDeclaredColumns(df: DataFrame, cols: Vector[(String, String)]): DataFrame =
    if (cols.isEmpty) df
    else {
      // A window spec appends synthetic window_start/window_end columns
      // AFTER the user's select items, so a declared list covering only
      // the select items must still bind: rename/cast the first N
      // columns positionally and pass the window columns through
      // (declaring them explicitly also works — then the list covers
      // every column). Anything else is a genuine arity error.
      // ParseException, not IllegalArgumentException: a malformed
      // declared list is a DIALECT error — the HTTP layer maps
      // ParseException to 400 and everything else to 500 (r14 review;
      // same status-class fix the INSERT width check already got)
      declaredArityError(df.columns.toSeq, cols.length)
        .foreach(e => throw new VeloSqlParser.ParseException(e))
      val extras = df.columns.drop(cols.length)
      // a declared name colliding with a passthrough window-tail column
      // (CREATE TABLE t (window_start BIGINT) AS ... WINDOW ...) would
      // build a duplicate-named frame whose very next select dies with
      // Spark's raw AMBIGUOUS_REFERENCE (HTTP 500) — a malformed
      // declared list is a DIALECT error like the arity check above
      // (r15 review)
      // duplicate names WITHIN the declared list build a duplicate-named
      // frame whose very next select dies with Spark's raw
      // AMBIGUOUS_REFERENCE (HTTP 500) — a dialect error like the arity
      // and window-tail checks, and consistent with alignInsert (r17
      // review). Resolver-aware, like every identifier in the dialect.
      val dupDecl = cols.map(_._1).combinations(2).collectFirst {
        case Seq(a, b) if graft.operators.Cols.sameName(df, a, b) => s"$a / $b"
      }
      if (dupDecl.nonEmpty) throw new VeloSqlParser.ParseException(
        s"declared column list names the same column twice: ${dupDecl.get}")
      val clash = cols.map(_._1)
        .filter(n => extras.exists(graft.operators.Cols.sameName(df, _, n)))
      if (clash.nonEmpty) throw new VeloSqlParser.ParseException(
        s"declared column(s) ${clash.mkString(", ")} collide with the " +
          s"passthrough window columns [${extras.mkString(", ")}] — declare " +
          "the full column list (covering the window columns) or rename")
      val renamed = df.toDF(cols.map(_._1) ++ extras: _*)
      renamed.select(cols.map { case (n, t) => col(n).cast(t).as(n) } ++ extras.map(col): _*)
    }


  /** '7 days' / '30 minutes' / '1 hour' → seconds (config-prop durations,
    * e.g. CTAS 'retention'). */
  def durationSeconds(s: String): Option[Long] =
    // the dialect's ONE duration grammar (parseDuration): a hand-rolled
    // two-token parser here silently rejected forms the rest of the
    // dialect accepts ('7d', '1 week', INTERVAL quoting) — and a
    // rejected retention prop then skipped the filter entirely
    try VeloSqlParser.parseDuration(VeloSqlParser.tokenize(s.trim))
    catch { case scala.util.control.NonFatal(_) => None }

  /** Split a script into statements at the lexer's `;` symbols. A
    * statement runs from its first to its last lexeme that is not a
    * closed comment; fragments with none are dropped. */
  def splitStatements(script: String): Seq[String] =
    VeloSqlParser.fragments(script).flatMap { f =>
      val code = f.lexemes.filter(_.isCode)
      code.headOption.map(h => script.substring(h.start, code.last.end))
    }

  /** Context over the driver's test tables in `sfDir`, with the `events`
    * table registered stream-like (system columns + headers). */
  def forDir(spark: SparkSession, sfDir: String): VeloContext = {
    val ctx = new VeloContext(spark, defaultTimeCol = "ts")
    // exception-safe: a half-built context (e.g. one table's parquet
    // missing) must not leak its listeners on the shared session — the
    // caller never gets a handle to close it
    try {
      graft.api.Tables.all.foreach { t =>
        val df = graft.api.Tables.load(spark, sfDir, t)
        if (t == "events") ctx.registerStreamLike(t, df, "ts", "event_id")
        else ctx.register(t, df)
      }
      ctx
    } catch { case e: Throwable => ctx.close(); throw e }
  }
}
