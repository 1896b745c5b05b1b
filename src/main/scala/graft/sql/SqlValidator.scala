package graft.sql

import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, GraftBridge, SparkSession}

import VeloSqlParser._

/** Pre-deployment SQL validation — the reference's StreamJobServer
  * validation surface (src/velostream/sql/validator.rs
  * `validate_sql_content`, validation/result_types.rs) re-expressed on
  * Catalyst: each statement is parsed by the dialect parser, then its
  * query core is run through Spark's ANALYZER ONLY (building the
  * DataFrame resolves relations, columns, and types without executing
  * anything) — so unresolved tables, misspelled columns, and type
  * errors surface before a job is deployed, with zero data touched.
  *
  * The gate mirrors the EXECUTOR's own checks, not a parallel
  * re-implementation: declared column lists go through the same
  * applyDeclaredColumns rename+cast the executor runs (arity, unknown
  * types, and illegal casts all surface), INSERT incoming relations are
  * built exactly as execStatement builds them, and job WITH-props run
  * through the same Resources.Limits parser that admission uses — so a
  * statement that passes the gate cannot fail launch on these axes, and
  * a statement the gate rejects is one the executor was guaranteed to
  * reject.
  */
object SqlValidator {

  final case class QueryValidation(index: Int, statement: String, isValid: Boolean,
                                   errors: Vector[String] = Vector.empty,
                                   warnings: Vector[String] = Vector.empty,
                                   // structured record of undeclared INTO
                                   // sinks — missingConfigurations derives
                                   // from THIS, not from substring-matching
                                   // warning text (r14 review)
                                   missingSinks: Vector[String] = Vector.empty)

  final case class AppValidation(applicationName: Option[String], totalQueries: Int,
                                 validQueries: Int, queries: Vector[QueryValidation],
                                 missingConfigurations: Vector[String], isValid: Boolean)

  /** Analyze (not execute) one dialect statement against the context's
    * catalog. DDL/DML bodies are validated through their inner SELECT;
    * lifecycle statements validate their job body and registry refs.
    * `localSinkDecls` are sink names declared EARLIER in the same app
    * file (validation must not mutate ctx.declaredSources, so
    * validateContent threads them through instead). */
  def validateStatement(ctx: VeloContext, sqlText: String, index: Int = 0,
                        localSinkDecls: Set[String] = Set.empty,
                        analysisSession: SparkSession = null): QueryValidation =
    try validateParsed(ctx, ctx.parseStatement(sqlText), sqlText, index, localSinkDecls,
      analysisSession)
    catch {
      // NonFatal, not just ParseException: malformed numerics and empty
      // arg lists surface as NumberFormat/IllegalArgument/NoSuchElement
      // from deep in the parser — one bad statement must yield one
      // invalid entry, never crash the whole app's validation report
      case NonFatal(e) =>
        QueryValidation(index, sqlText.trim.take(120), isValid = false,
          Vector(s"parse error: ${Option(e.getMessage).getOrElse(e.getClass.getSimpleName)}"))
    }

  /** Validate an already-parsed statement (the hook JobManager uses to
    * reject a deployment before launching it). */
  /** `analysisSession`: the session relations resolve against —
    * validateContent passes a CLONE carrying its placeholder views so
    * the shared session's catalog is never touched mid-validation;
    * default is the context's own session. */
  def validateParsed(ctx: VeloContext, parsed: VeloStatement,
                     sqlText: String = "", index: Int = 0,
                     localSinkDecls: Set[String] = Set.empty,
                     analysisSession: SparkSession = null): QueryValidation = {
    val sess = Option(analysisSession).getOrElse(ctx.spark)
    var errors = Vector.empty[String]
    var warnings = Vector.empty[String]
    var missingSinks = Vector.empty[String]

    def analyze(text: String): Seq[String] =
      // building the DataFrame runs parser+analyzer eagerly; no action
      sess.sql(text).queryExecution.analyzed.output.map(_.name)

    def checkTable(name: String): Boolean =
      if (sess.catalog.tableExists(name)) true
      else { errors :+= s"unknown table or stream: $name"; false }

    def checkInto(s: SelectStmt): Unit =
      s.into.foreach { sink =>
        // declarations bind case-INSENSITIVELY, like the executor's
        // sinkFilePath resolution — an exact-match check warned on
        // 'INTO FILE_OUT' against 'CREATE SINK file_out' that executes
        // fine (r14 review). The `stdout` exemption is CATALOG-AWARE
        // via the shared isStdoutSink (the InsertInto arm's rule): a
        // real table named stdout shadows the debug sink, and INTO it
        // with no declaration is the silent-no-write case the warning
        // exists for.
        val declared = ctx.declaredSources.keys.exists(_.equalsIgnoreCase(sink)) ||
          localSinkDecls.exists(_.equalsIgnoreCase(sink))
        // the statement's OWN dotted props make the sink resolvable too
        // (the executor's sinkFilePath chain): warning on
        // `INTO out WITH ('out.path' = ...)` flagged a correctly-writing
        // app as missing configuration (r17 review)
        val propResolvable = s.props.keys.exists(k =>
          k.equalsIgnoreCase(s"$sink.path") || k.equalsIgnoreCase(s"$sink.file"))
        if (!declared && !propResolvable && !MutationChecks.isStdoutSink(sess, sink)) {
          warnings :+= s"INTO sink '$sink' has no CREATE SINK declaration"
          missingSinks :+= sink
        }
      }

    // every SELECT core reachable from a query statement — a Union
    // carries per-branch INTO lists and a CTE chain's body does too, so
    // the sink-declaration check must not stop at bare Selects
    def selectCores(stmt: VeloStatement): Vector[SelectStmt] = stmt match {
      case Select(s) => Vector(s)
      case u: Union => u.selects
      case WithCtes(_, b, _) => selectCores(b)
      case _ => Vector.empty
    }

    /** Analyze the select ONCE, then apply the declared column list the
      * way the executor will (VeloContext.applyDeclaredColumns —
      * positional rename + cast): arity mismatches, invalid declared
      * types, and illegal casts all surface at analysis, pre-deploy,
      * without re-running the analyzer on the same query text. */
    def analyzeWithDeclared(s: SelectStmt, cols: Vector[(String, String)],
                            materializes: Boolean = false): Unit = {
      val df = sess.sql(toSparkSql(s, ctx.defaultTimeCol, ctx.streamTimeCol))
      df.queryExecution.analyzed
      // the executor's CTAS arm is GUARANTEED to reject a streaming
      // source ("cannot materialize") — the gate has the analyzed plan
      // in hand and must surface it pre-deploy, not let the deploy die
      // at execution (r17 review; validator/executor drift)
      if (materializes && df.isStreaming)
        errors :+= "CREATE TABLE ... AS over a streaming source cannot " +
          "materialize — use CREATE STREAM ... AS or START JOB"
      if (cols.nonEmpty) VeloContext.applyDeclaredColumns(df, cols)
      checkInto(s)
    }

    /** A malformed resource-limit property is a guaranteed launch
      * failure (JobManager runs the same parser at deploy time) — the
      * gate has the props in hand, so it runs the same check. */
    def checkJobProps(props: Map[String, String]): Unit =
      try { Resources.Limits.fromProps(props, Resources.Limits()); () }
      catch { case e: ParseException => errors :+= s"job properties: ${e.getMessage}" }

    def validateBody(stmt: VeloStatement): Unit = stmt match {
      case Select(s) =>
        analyze(toSparkSql(s, ctx.defaultTimeCol, ctx.streamTimeCol))
        checkInto(s)
      // render the WHOLE union: branch-by-branch validation misses
      // column-count/type mismatches BETWEEN branches
      case u: Union =>
        analyze(ctx.renderSql(u))
        u.selects.foreach(checkInto)
      case w: WithCtes =>
        // render the whole CTE chain — the analyzer resolves CTE refs
        analyze(ctx.renderSql(w))
        selectCores(w.body).foreach(checkInto)
      case CreateTableAs(_, s, _, cols) => analyzeWithDeclared(s, cols, materializes = true)
      case CreateStreamAs(_, s, _, cols) => analyzeWithDeclared(s, cols)
      // INSERT/UPDATE/DELETE validate by ANALYZING the very frames the
      // executor materializes (MutationChecks — one implementation, zero
      // drift): column binding, unknown/duplicate names, positional
      // width, SET-target membership, WHERE resolution, and declared-
      // type casts all surface pre-deploy. The helper's semantic checks
      // throw ParseException; those become the statement's errors here
      // while genuine analysis failures (unresolved columns, illegal
      // casts) fall through to the outer analysis-error handler.
      case InsertInto(table, cols, selOpt, values)
          if MutationChecks.isStdoutSink(sess, table) =>
        // the executor's stdout debug sink needs no table — validate
        // only the incoming relation and the executor's toDF width bind
        // (r13 post-seal finding: this arm used to reject valid apps)
        if (selOpt.nonEmpty || values.nonEmpty) {
          val inc = MutationChecks.incomingFrame(sess, selOpt, values, cols,
            toSparkSql(_, ctx.defaultTimeCol, ctx.streamTimeCol))
          inc.queryExecution.analyzed
          if (cols.nonEmpty && cols.length != inc.columns.length)
            errors :+= s"INSERT column list has ${cols.length} names but the source produces ${inc.columns.length}"
        }
      case InsertInto(table, cols, selOpt, values) =>
        val tableOk = checkTable(table)
        if (selOpt.nonEmpty || values.nonEmpty) {
          val inc = MutationChecks.incomingFrame(sess, selOpt, values, cols,
            toSparkSql(_, ctx.defaultTimeCol, ctx.streamTimeCol))
          inc.queryExecution.analyzed
          if (tableOk)
            try MutationChecks.alignInsert(table, sess.table(table), cols, inc)
              .queryExecution.analyzed
            catch { case e: ParseException => errors :+= e.getMessage }
        }
      case Update(table, sets, where) =>
        if (checkTable(table))
          try MutationChecks.updateFrame(table, sess.table(table), sets, where)
            .queryExecution.analyzed
          catch { case e: ParseException => errors :+= e.getMessage }
      case Delete(table, where) =>
        if (checkTable(table))
          MutationChecks.deleteFrame(sess.table(table), where)
            .queryExecution.analyzed
      case CreateSourceDecl(_, _, props, _) =>
        if (props.isEmpty) warnings :+= "source/sink declaration has no properties"
      case StartJob(_, body, props) =>
        validateBody(body)
        checkJobProps(props)
      case DeployJob(_, _, body, props, strategy) =>
        strategy match {
          case Canary(p) if p < 1 || p > 100 =>
            errors :+= s"CANARY percentage $p outside [1,100]"
          case _ =>
        }
        validateBody(body)
        checkJobProps(props)
      case StopJob(name, _) => warnIfUnknownJob(name)
      case PauseJob(name) => warnIfUnknownJob(name)
      case ResumeJob(name) => warnIfUnknownJob(name)
      case RollbackJob(name, _) => warnIfUnknownJob(name)
      case Show(_, _) | Describe(_) => ()
    }

    def warnIfUnknownJob(name: String): Unit =
      if (!ctx.jobManager.hasJob(name))
        warnings :+= s"job '$name' is not currently registered"

    try validateBody(parsed)
    catch {
      case e: ParseException => errors :+= s"parse error: ${e.getMessage}"
      case NonFatal(e) =>
        errors :+= s"analysis error: ${Option(e.getMessage).getOrElse(e.getClass.getSimpleName).linesIterator.take(2).mkString(" ").take(300)}"
    }
    QueryValidation(index, sqlText.trim.take(120), errors.isEmpty, errors, warnings,
      missingSinks)
  }

  /** Validate a whole application text (the StreamJobServer's
    * pre-deploy gate): every statement analyzed, INTO sinks checked
    * against declarations, application name extracted via SqlApp's
    * quote-aware metadata parser (one parser, no drift).
    *
    * Statements validate against the catalog AS THE APP WOULD BUILD IT:
    * each valid CTAS/CSAS registers a zero-row placeholder view of its
    * output schema so later statements that read it resolve — an app
    * with intra-file dependencies (the normal case; SqlApp's wave
    * loader exists for exactly those) must not be reported invalid.
    * Placeholders are torn down afterwards, restoring any relation they
    * shadowed: validation never leaves catalog residue. */
  def validateContent(ctx: VeloContext, content: String,
                      env: String => Option[String] = sys.env.get): AppValidation = {
    val appName = Option(SqlApp.parseMetadata(content, env).name).filter(_.nonEmpty)
    // the EXECUTOR's OWN splitter + resolver (SqlApp.parse with the
    // caller's env, exactly what run() consumes) — not a third
    // independent quote/comment scanner: VeloContext.splitStatements
    // was a separate hand-rolled machine over the same text, so any
    // future statement-boundary fix in one silently reintroduced
    // validator/executor drift, and file-level annotation errors
    // (malformed @metric_buckets, out-of-range @metric_sample_rate)
    // that run() throws were INVISIBLE to the gate, which only ever
    // saw the comment-stripped statement text (r15 review; r14 advice
    // threaded env for the same reason).
    val app =
      try SqlApp.parse(content, env)
      catch {
        case NonFatal(e) =>
          return AppValidation(appName, 0, 0, Vector(QueryValidation(0,
            content.trim.take(120), isValid = false,
            Vector(s"application error: ${Option(e.getMessage).getOrElse(e.getClass.getSimpleName)}"))),
            Vector.empty, isValid = false)
      }
    val statements = app.statements.map(_.sql)
    // placeholders register in a CLONED session (copied temp-view
    // catalog, same SharedState): a same-name placeholder on the shared
    // session would hand zero-row frames to any statement executing
    // concurrently on the context (a metrics scrape, another thread's
    // query) for the duration of the validation pass. Fallback to the
    // shared session (with the restore bookkeeping below) only if the
    // clone itself fails.
    val (spark, cloned) =
      try (GraftBridge.cloneSession(ctx.spark), true)
      catch { case NonFatal(_) => (ctx.spark, false) }
    var localDecls = Set.empty[String]
    // newest-first: restores replay in reverse, so the OLDEST shadowed
    // relation (the pre-validation state) is what finally sticks
    var placeholders = List.empty[(String, Option[DataFrame])]
    def registerPlaceholder(name: String, s: SelectStmt, cols: Vector[(String, String)]): Unit =
      try {
        val prior = if (spark.catalog.tableExists(name)) Some(spark.table(name)) else None
        val df = VeloContext.applyDeclaredColumns(
          spark.sql(toSparkSql(s, ctx.defaultTimeCol, ctx.streamTimeCol)), cols).limit(0)
        df.createOrReplaceTempView(name)
        placeholders ::= (name, prior)
      } catch { case NonFatal(_) => () }
    try {
      val results = statements.zipWithIndex.map { case (stmtText, i) =>
        // parse ONCE — validateParsed and the placeholder registration
        // both consume the same parse (r14 review: this used to parse
        // every statement twice). The Left arm mirrors
        // validateStatement's parse-error result exactly.
        val parsed: Either[QueryValidation, VeloStatement] =
          try Right(ctx.parseStatement(stmtText))
          catch {
            case NonFatal(e) => Left(QueryValidation(i, stmtText.trim.take(120),
              isValid = false, Vector(s"parse error: ${Option(e.getMessage).getOrElse(e.getClass.getSimpleName)}")))
          }
        val r = parsed.fold(identity,
          p => validateParsed(ctx, p, stmtText, i, localDecls, analysisSession = spark))
        if (r.isValid) parsed.foreach {
          case CreateTableAs(name, sel, _, cols) => registerPlaceholder(name, sel, cols)
          case CreateStreamAs(name, sel, _, cols) => registerPlaceholder(name, sel, cols)
          case CreateSourceDecl(_, name, _, _) => localDecls += name
          case _ => ()
        }
        r
      }
      // derived from the structured per-statement record, not from
      // substring-matching warning text (r14 review); DISTINCT — one
      // undeclared sink referenced by N statements is ONE missing
      // configuration, not N copies of the same line
      val missing = results.flatMap(_.missingSinks).toVector.distinct
        .map(s => s"INTO sink '$s' has no CREATE SINK declaration")
      AppValidation(appName, statements.length, results.count(_.isValid),
        results.toVector, missing, results.forall(_.isValid))
    } finally {
      // in a cloned session the placeholder views die with the clone —
      // the restore replay exists only for the shared-session fallback
      if (!cloned) placeholders.foreach { case (name, prior) =>
        spark.catalog.dropTempView(name)
        prior.foreach { df =>
          // a temp-view prior was REPLACED by the placeholder, so
          // re-register it; a permanent table was only SHADOWED and the
          // drop above already restored it — re-registering would shadow
          // it again, so only re-register when the name no longer
          // resolves
          if (!spark.catalog.tableExists(name)) df.createOrReplaceTempView(name)
        }
      }
    }
  }
}
