package graft.sql

import scala.collection.mutable.ArrayBuffer

import graft.functions.VeloExprs

/** Parser for the velostream SQL dialect
  * (reference: docs/sql/PARSER_GRAMMAR.md, docs/sql/FUNCTION_CATALOG.md,
  * docs/sql/comprehensive-sql-ctas-guide.md).
  *
  * Design: the parser owns the dialect-specific SUPERSTRUCTURE —
  * statement kinds (SELECT / CTAS / CSAS / INSERT / SHOW), clause
  * boundaries, `WINDOW TUMBLING|SLIDING|SESSION(...)` specs,
  * `OVER (ROWS WINDOW BUFFER n ROWS …)`, `EMIT CHANGES|FINAL`,
  * `kafka://topic` sources, `PRIMARY KEY` annotations and `WITH` property
  * maps. Expression parsing inside clauses is DELEGATED to Catalyst:
  * clauses are re-emitted as Spark SQL token streams after dialect
  * rewrites, and the reference's function names are renamed to their
  * `velo_` Catalyst builders (graft.functions.VeloExprs). Spark-first —
  * the optimizer sees one ordinary SQL plan; nothing is interpreted per
  * row.
  */
object VeloSqlParser {

  // ============================ tokens ============================

  sealed trait TokKind
  case object TIdent extends TokKind
  case object TNumber extends TokKind
  case object TString extends TokKind  // text includes the quotes
  case object TSymbol extends TokKind

  final case class Tok(kind: TokKind, text: String) {
    def isKw(kw: String): Boolean = kind == TIdent && text.equalsIgnoreCase(kw)
    def upper: String = text.toUpperCase(java.util.Locale.ROOT)
  }

  class ParseException(msg: String) extends RuntimeException(msg)
  /** A TRANSIENT rejection (circuit breaker open/half-open, admission
    * capacity exhausted): retrying can succeed, so the HTTP layer maps
    * this to 503. A structured subtype, because classifying by message
    * SUBSTRING was spoofable — user query text echoed into a parse
    * error ("unexpected trailing tokens: resource exhausted") flipped a
    * permanent 400 into a retry-forever 503 (r14 review). */
  final class TransientRejectionException(msg: String) extends ParseException(msg)
  /** Structured unknown-job rejection (STOP/PAUSE/RESUME/ROLLBACK of a
    * name the manager does not hold) — the HTTP layer maps it to 404 by
    * TYPE; a message-substring check was the exact fragile pattern the
    * r14 review removed from the deploy arm (r15 review). */
  final class UnknownJobException(msg: String) extends ParseException(msg)

  // ============================ lexemes ============================

  sealed trait LexKind
  object LexKind {
    case object Word extends LexKind
    case object Uri extends LexKind          // kafka://… or file://…, scheme included
    case object Number extends LexKind
    case object Quoted extends LexKind       // '…', "…" or `…`, quotes included
    case object LineComment extends LexKind  // '--' up to, not including, a '\r' or '\n'
    case object BlockComment extends LexKind
    case object Symbol extends LexKind
    case object Other extends LexKind        // one character the dialect has no token for
  }

  /** `sql.substring(start, end)`. `closed` is false for a quoted text or
    * block comment that runs to the end of the input; `lineStart` when
    * only whitespace precedes the lexeme on its line. */
  final case class Lexeme(kind: LexKind, start: Int, end: Int, closed: Boolean, lineStart: Boolean) {
    /** Yields a token or a tokenize error: anything but a closed comment. */
    def isCode: Boolean = kind match {
      case LexKind.LineComment => false
      case LexKind.BlockComment => !closed
      case _ => true
    }
  }

  /** The dialect's one lexer: every non-whitespace character of `sql`
    * lands in exactly one lexeme, in order. Never throws; `tokenize`
    * turns the lexemes into tokens or errors, and the script and app
    * splitters cut at its `;` symbols, so all three read the same text
    * the same way. */
  def lex(sql: String): Vector[Lexeme] = {
    import LexKind._
    val out = Vector.newBuilder[Lexeme]
    val n = sql.length
    var i = 0
    var lineStart = true
    while (i < n) {
      val c = sql(i)
      if (c.isWhitespace) { if (c == '\n' || c == '\r') lineStart = true; i += 1 }
      else {
        val s = i
        var closed = true
        val kind =
          if (c == '-' && i + 1 < n && sql(i + 1) == '-') {
            // ends at '\r' or '\n', as in Spark's own grammar
            while (i < n && sql(i) != '\n' && sql(i) != '\r') i += 1
            LineComment
          } else if (c.isLetter || c == '_') {
            while (i < n && (sql(i).isLetterOrDigit || sql(i) == '_')) i += 1
            val word = sql.substring(s, i)
            // kafka://topic-name and file://path SOURCES (outside string
            // literals only). '-' and '/' are URI characters, so '--' and
            // '/*' inside one are topic or path text ('--' is legal in
            // Kafka topic names; a path can end in '/' before a glob '*').
            if ((word.equalsIgnoreCase("kafka") || word.equalsIgnoreCase("file"))
                && sql.startsWith("://", i)) {
              i += 3
              while (i < n && (sql(i).isLetterOrDigit || "._/-".indexOf(sql(i)) >= 0)) i += 1
              Uri
            } else Word
          } else if (c.isDigit || (c == '.' && i + 1 < n && sql(i + 1).isDigit)) {
            while (i < n && (sql(i).isDigit || sql(i) == '.')) i += 1
            if (i < n && (sql(i) == 'e' || sql(i) == 'E')) {
              i += 1; if (i < n && (sql(i) == '+' || sql(i) == '-')) i += 1
              while (i < n && sql(i).isDigit) i += 1
            }
            Number
          } else if (c == '\'' || c == '"' || c == '`') {
            // a doubled quote is the quote character itself
            i += 1
            closed = false
            while (i < n && !closed) {
              if (sql(i) != c) i += 1
              else if (i + 1 < n && sql(i + 1) == c) i += 2
              else { closed = true; i += 1 }
            }
            Quoted
          } else if (sql.startsWith("/*", i)) {
            // standard SQL block comment (non-nesting): without this, '/'
            // and '*' lex as arithmetic and the comment TEXT becomes
            // expression tokens, failing far from the cause
            val close = sql.indexOf("*/", i + 2)
            closed = close >= 0
            i = if (closed) close + 2 else n
            BlockComment
          } else if (i + 1 < n && twoCharSymbols.contains(sql.substring(i, i + 2))) {
            i += 2; Symbol
          } else {
            i += 1; if (";(),.*+-/%^=<>[]~".indexOf(c) >= 0) Symbol else Other
          }
        out += Lexeme(kind, s, i, closed, lineStart)
        lineStart = false
      }
    }
    out.result()
  }

  private val twoCharSymbols = Set("!=", "<>", "<=", ">=", "||", "->")

  /** A stretch of text between `;` symbols: its span (the `;`s
    * excluded) and its lexemes. */
  final case class Fragment(start: Int, end: Int, lexemes: Vector[Lexeme])

  /** `sql`'s lexemes cut at every `;` symbol — the statement boundary
    * of scripts and app files. */
  def fragments(sql: String): Vector[Fragment] = {
    val out = Vector.newBuilder[Fragment]
    var start = 0
    var cur = Vector.newBuilder[Lexeme]
    lex(sql).foreach { l =>
      if (l.kind == LexKind.Symbol && sql(l.start) == ';') {
        out += Fragment(start, l.start, cur.result())
        cur = Vector.newBuilder[Lexeme]
        start = l.end
      } else cur += l
    }
    out += Fragment(start, sql.length, cur.result())
    out.result()
  }

  def tokenize(sql: String): Vector[Tok] = {
    import LexKind._
    val out = Vector.newBuilder[Tok]
    lex(sql).foreach { l =>
      val text = sql.substring(l.start, l.end)
      l.kind match {
        case LineComment =>
        case BlockComment =>
          if (!l.closed) throw new ParseException(s"unterminated block comment starting at ${l.start}")
        case Word => out += Tok(TIdent, text)
        case Uri =>
          // registered as a view named after the sanitized last path
          // segment. A scheme with no topic/path ('kafka://' — an
          // unsubstituted template var, say) produced an EMPTY
          // identifier, and the empty FROM was then silently dropped at
          // emission: the query ran as a constant SELECT, one row
          // instead of per-record rows, no error. 'file:///'
          // additionally hit split('/') on an all-slash string = empty
          // array → NoSuchElementException.
          val sep = text.indexOf("://")
          val segs = text.substring(sep + 3).split('/')
          if (segs.isEmpty || segs.last.isEmpty)
            throw new ParseException(
              s"empty ${text.substring(0, sep).toLowerCase(java.util.Locale.ROOT)}:// source (missing topic/path)")
          out += Tok(TIdent, segs.last.replace('-', '_').replace(".", "_"))
        case Number => out += Tok(TNumber, text)
        case Quoted =>
          if (!l.closed) throw new ParseException(s"unterminated string starting at ${l.start}")
          val quote = text.head
          if (quote == '\'')
            // the dialect's ONLY string escape is '' (standard SQL; the
            // reference's sqlparser does the same) — backslash is an
            // ordinary character. The token is re-emitted into spark.sql()
            // where the DEFAULT parser escape-processes backslashes, so
            // 'C:\tmp' would silently become "C:<TAB>mp" and a trailing
            // backslash would be a Catalyst parse error far from the
            // dialect gate. Store the token SPARK-ESCAPED (backslashes
            // doubled); unquoteString collapses them back when code needs
            // the VALUE.
            out += Tok(TString, text.replace("\\", "\\\\"))
          else { // quoted identifier → Spark backtick form (re-escaping any
            // interior backtick: the unescaped text would otherwise emit
            // `a`b` — malformed Spark SQL from valid dialect input)
            val name = text.substring(1, text.length - 1).replace(s"$quote$quote", quote.toString)
            out += Tok(TIdent, "`" + name.replace("`", "``") + "`")
          }
        case Symbol => out += Tok(TSymbol, text)
        case Other => throw new ParseException(s"unexpected character '$text' at ${l.start}")
      }
    }
    out.result()
  }

  /** Decode a tokenized single-quoted literal to its VALUE. Tokens are
    * stored Spark-escaped (see tokenize), so this collapses the doubled
    * backslashes as well as the '' quote escape. */
  def unquoteString(text: String): String =
    text.substring(1, text.length - 1).replace("''", "'").replace("\\\\", "\\")

  /** Encode a VALUE as a Spark-SQL single-quoted literal token text
    * (backslashes doubled for Spark's default escape-processing parser,
    * quotes doubled per standard SQL). */
  def quoteString(value: String): String =
    "'" + value.replace("\\", "\\\\").replace("'", "''") + "'"

  def render(tokens: Seq[Tok]): String = {
    val sb = new StringBuilder
    tokens.foreach { t =>
      if (sb.nonEmpty) sb.append(' ')
      sb.append(t.text)
    }
    sb.toString
  }

  // ============================ AST ============================

  sealed trait EmitMode
  case object EmitChanges extends EmitMode
  case object EmitFinal extends EmitMode

  /** `partitionCols`: the reference's trailing partition-key window
    * arguments (SESSION(time, gap, partition_col) — session-windows.md).
    * They become ADDITIONAL grouping keys at lowering: silently
    * dropping them (the old behavior) merged time-adjacent sessions
    * ACROSS keys whenever the query carried no matching GROUP BY. */
  sealed trait WindowSpec {
    def timeCol: Option[String]
    def partitionCols: Seq[String]
  }
  final case class Tumbling(sizeSec: Long, timeCol: Option[String],
                            partitionCols: Seq[String] = Nil) extends WindowSpec
  final case class Sliding(sizeSec: Long, advanceSec: Long, timeCol: Option[String],
                           partitionCols: Seq[String] = Nil) extends WindowSpec
  final case class Session(gapSec: Long, timeCol: Option[String],
                           partitionCols: Seq[String] = Nil) extends WindowSpec

  final case class JoinClause(joinType: String, table: String, alias: Option[String], on: Vector[Tok],
                              withinSeconds: Option[Long] = None)

  final case class SelectStmt(
      fields: Vector[Vector[Tok]],          // rewritten select items (PRIMARY KEY stripped)
      keyFields: Vector[String],            // PRIMARY KEY-annotated output names
      from: String,
      fromAlias: Option[String],
      joins: Vector[JoinClause],
      where: Option[Vector[Tok]],
      groupBy: Option[Vector[Tok]],
      having: Option[Vector[Tok]],
      window: Option[WindowSpec],
      namedWindows: Option[Vector[Tok]], // standard `WINDOW w AS (...)` clause, passed through
      orderBy: Option[Vector[Tok]],
      limit: Option[Long],
      emit: Option[EmitMode],
      into: Vector[String] = Vector.empty, // `INTO sink[, sink…]` (multi-sink job wiring)
      props: Map[String, String] = Map.empty, // `WITH (k=v, …)` on the select
      distinct: Boolean = false)         // SELECT DISTINCT (reference ast.rs:216)

  sealed trait VeloStatement
  final case class Select(s: SelectStmt) extends VeloStatement
  /** UNION [ALL] chain of selects. `ops(i)` is true when the operator
    * between selects(i) and selects(i+1) is UNION ALL — per-operator,
    * because a mixed chain (A UNION B UNION ALL C) has different dedup
    * semantics per step and a single flag silently collapses them.
    * `all` remains the all-operators summary for callers that only need
    * the homogeneous case. */
  final case class Union(selects: Vector[SelectStmt], all: Boolean,
                         ops: Vector[Boolean] = Vector.empty) extends VeloStatement {
    /** Per-operator keywords, falling back to the uniform flag. */
    def opKeywords: Vector[String] = {
      val o = if (ops.length == selects.length - 1) ops
              else Vector.fill(math.max(selects.length - 1, 0))(all)
      o.map(a => if (a) " UNION ALL " else " UNION ")
    }
    def render(renderSelect: SelectStmt => String): String =
      selects.zipWithIndex.map { case (s, ix) =>
        val txt = renderSelect(s)
        // a NON-LAST arm carrying ORDER BY / LIMIT must parenthesize:
        // Spark's grammar allows those only at the end of the whole
        // query-term chain, so the bare concatenation died as a
        // Catalyst ParseException far from the dialect gate (r17
        // review). The LAST arm stays bare — its trailing ORDER/LIMIT
        // deliberately scopes to the whole union, as in standard SQL.
        if (ix < selects.length - 1 && (s.orderBy.nonEmpty || s.limit.isDefined))
          s"($txt)"
        else txt
      }.zip(opKeywords :+ "").map { case (s, op) => s + op }.mkString
  }
  /** WITH [RECURSIVE] name AS (select|union), … body (CTEs). RECURSIVE
    * passes straight through — Spark ≥4.0 executes recursive CTEs
    * natively (UnionLoop), so the dialect's transitive-closure queries
    * run distributed with no extra machinery here. */
  final case class WithCtes(ctes: Vector[(String, VeloStatement)], body: VeloStatement,
                            recursive: Boolean = false) extends VeloStatement
  /** CREATE STREAM|TABLE|SINK|SOURCE name WITH (props) — an external
    * source/sink DECLARATION (no AS SELECT): config-file/topic wiring
    * the runner resolves against its environment. */
  final case class CreateSourceDecl(kind: String, name: String, props: Map[String, String],
                                    columns: Vector[(String, String)] = Vector.empty) extends VeloStatement
  /** `columns`: optional declared schema (reference ast.rs:856 ColumnDef
    * via commands.rs:37) — (name, Spark SQL type) pairs applied to the
    * select output POSITIONALLY (rename + cast), matching the
    * reference's `CREATE TABLE t (c INT, …) AS SELECT …` binding. */
  final case class CreateTableAs(name: String, select: SelectStmt, props: Map[String, String],
                                 columns: Vector[(String, String)] = Vector.empty) extends VeloStatement
  final case class CreateStreamAs(name: String, select: SelectStmt, props: Map[String, String],
                                  columns: Vector[(String, String)] = Vector.empty) extends VeloStatement
  final case class InsertInto(table: String, columns: Vector[String], select: Option[SelectStmt], values: Vector[Vector[Vector[Tok]]]) extends VeloStatement
  /** UPDATE t SET col = expr [, …] [WHERE cond] */
  final case class Update(table: String, sets: Vector[(String, Vector[Tok])], where: Option[Vector[Tok]]) extends VeloStatement
  /** DELETE FROM t [WHERE cond] */
  final case class Delete(table: String, where: Option[Vector[Tok]]) extends VeloStatement
  /** SHOW <resource> [arg] — resource kinds per reference ast.rs:471-496:
    * STREAMS|TABLES|TOPICS|FUNCTIONS|JOBS (arg = LIKE pattern),
    * SCHEMA|PARTITIONS|VERSIONS name, STATUS|METRICS|RESOURCES [job],
    * PROPERTIES [STREAM|TABLE] name. (TRACES and RESOURCES surface the
    * reference's observability spans and resource_manager state — engine
    * components without their own SHOW kind in ast.rs.) */
  final case class Show(what: String, arg: Option[String] = None) extends VeloStatement
  /** DESCRIBE name (reference ast.rs:495). */
  final case class Describe(name: String) extends VeloStatement

  // ---- job lifecycle statements (reference ast.rs:306-366, the SQL
  //      surface of the reference's multi-job server) ----
  sealed trait DeployStrategy
  case object BlueGreen extends DeployStrategy
  final case class Canary(percentage: Int) extends DeployStrategy
  case object Rolling extends DeployStrategy
  case object Replace extends DeployStrategy

  /** START JOB name AS <query> [WITH (props)] */
  final case class StartJob(name: String, body: VeloStatement,
                            props: Map[String, String]) extends VeloStatement
  /** STOP JOB name [FORCE] */
  final case class StopJob(name: String, force: Boolean) extends VeloStatement
  final case class PauseJob(name: String) extends VeloStatement
  final case class ResumeJob(name: String) extends VeloStatement
  /** DEPLOY JOB name [VERSION 'v'] AS <query> [STRATEGY …] [WITH (props)] */
  final case class DeployJob(name: String, version: String, body: VeloStatement,
                             props: Map[String, String],
                             strategy: DeployStrategy) extends VeloStatement
  /** ROLLBACK JOB name [VERSION 'v'] */
  final case class RollbackJob(name: String, targetVersion: Option[String]) extends VeloStatement

  // ============================ parser ============================

  /** Parse one statement (trailing ';' tolerated). `defaultTimeCol` is
    * the event-time column used when a window spec / ROWS WINDOW omits
    * one (the reference uses the record timestamp). */
  def parse(sql: String, defaultTimeCol: String = "ts",
            timeColOf: String => Option[String] = _ => None): VeloStatement = {
    // every malformed-but-lexable input must surface as a ParseException:
    // callers (job server 400s, SqlApp's is-this-a-job probe, the
    // validator's parse-error bucket) catch ONLY ParseException, and a
    // leaked NumberFormat/NoSuchElement/IllegalArgument from deep in a
    // rewrite turns a user syntax mistake into a 500/crash
    try {
      val toks0 = tokenize(sql)
      val toks = if (toks0.nonEmpty && toks0.last.text == ";") toks0.dropRight(1) else toks0
      if (toks.isEmpty) throw new ParseException("empty statement")
      val p = new P(toks, defaultTimeCol, timeColOf)
      val stmt = p.statement()
      p.expectEof()
      stmt
    } catch {
      case e: ParseException => throw e
      // StackOverflowError is NOT NonFatal, so a deeply-nested input
      // (an untrusted job-server request of 10k 'SELECT 1 FROM ('
      // repetitions) escaped the ParseException-only contract and
      // crashed the serving thread with a 500. By the time this catch
      // runs the recursion has unwound, so wrapping here is safe — the
      // parser's recursion depth is the only unbounded stack consumer
      // on this path (r17 review).
      case _: StackOverflowError =>
        throw new ParseException("statement nesting too deep")
      case scala.util.control.NonFatal(e) =>
        throw new ParseException(
          s"malformed statement (${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(160)})")
    }
  }

  // timeColOf threads the context's per-stream event-time resolver into
  // the NESTED renders (derived tables, union wrappers) that flatten to
  // SQL text at parse time: rendered with the bare default, a WITHIN
  // band inside a subquery bound to the context default time column
  // instead of each stream's registered one (r12 review).
  private final class P(toks: Vector[Tok], defaultTimeCol: String,
                        timeColOf: String => Option[String] = _ => None) {
    private var pos = 0
    /** Context-dependent clause stops (e.g. STRATEGY while inside a
      * DEPLOY JOB body) — checked by exprSpan alongside clauseStarts. */
    private var dynStops: Set[String] = Set.empty
    /** The valid deployment-strategy forms — ONE constant shared by the
      * exprSpan clause boundary, the alias gate (isClauseTok), and
      * strategyClause's own match (r14 review: the boundary's inline
      * Set literal would silently desync from a newly added strategy,
      * swallowing its clause into the body's last span). */
    private val StrategyForms = Set("BLUE_GREEN", "ROLLING", "REPLACE", "CANARY")
    /** Is a STRATEGY token at a clause boundary, judged by what follows
      * (next, nextNext)? A valid form is; so is a lone trailing
      * identifier at the very END of the statement — that is a strategy
      * clause with a TYPO'd form, and stopping here lets strategyClause
      * report 'unknown deployment strategy <word>' instead of a deep
      * Catalyst error on the silently swallowed span (r14 review). A
      * column/alias named `strategy` mid-query stays an identifier —
      * including one whose trailing token is an expression-tail keyword
      * (`ORDER BY strategy DESC`), which the typo heuristic previously
      * swallowed as 'unknown deployment strategy DESC' (r14 advice). */
    private val ExprTailKws = Set("DESC", "ASC", "NULLS", "FIRST", "LAST")
    private def strategyBoundary(next: Option[Tok], nextNext: Option[Tok]): Boolean =
      next.exists(n => StrategyForms.contains(n.upper)) ||
        (next.exists(n => n.kind == TIdent && !ExprTailKws.contains(n.upper)) &&
          nextNext.isEmpty)
    private def peek(o: Int = 0): Option[Tok] = if (pos + o < toks.length) Some(toks(pos + o)) else None
    private def at(kw: String, o: Int = 0): Boolean = peek(o).exists(_.isKw(kw))
    private def take(): Tok = {
      if (pos >= toks.length) throw new ParseException("unexpected end of statement")
      val t = toks(pos); pos += 1; t
    }
    private def expectKw(kw: String): Unit =
      if (at(kw)) pos += 1 else throw new ParseException(s"expected $kw, got ${peek().map(_.text).getOrElse("<eof>")}")
    private def expectSym(s: String): Unit = {
      if (peek().exists(t => t.kind == TSymbol && t.text == s)) pos += 1
      else throw new ParseException(s"expected '$s', got ${peek().map(_.text).getOrElse("<eof>")}")
    }
    private def ident(): String = {
      val t = take()
      if (t.kind != TIdent) throw new ParseException(s"expected identifier, got ${t.text}")
      t.text
    }
    def expectEof(): Unit =
      if (pos < toks.length)
        throw new ParseException(s"unexpected trailing tokens: ${render(toks.drop(pos).take(5))}")

    def statement(): VeloStatement = {
      if (at("CREATE")) createStatement()
      else if (at("INSERT")) insertStatement()
      else if (at("UPDATE")) updateStatement()
      else if (at("DELETE")) deleteStatement()
      else if (at("SHOW") || at("LIST")) showStatement()
      else if (at("DESCRIBE") || at("DESC")) { take(); Describe(ident()) }
      else if (at("START")) startJobStatement()
      else if (at("STOP")) { take(); jobKw(); val n = ident()
        StopJob(n, force = if (at("FORCE")) { take(); true } else false) }
      else if (at("PAUSE")) { take(); jobKw(); PauseJob(ident()) }
      else if (at("RESUME")) { take(); jobKw(); ResumeJob(ident()) }
      else if (at("DEPLOY")) deployJobStatement()
      else if (at("ROLLBACK")) { take(); jobKw(); val n = ident()
        RollbackJob(n, if (at("VERSION")) { take(); Some(unquote(take())) } else None) }
      else if (at("WITH")) cteStatement()
      else if (at("SELECT")) selectOrUnion()
      else throw new ParseException(s"unsupported statement start: ${peek().map(_.text).getOrElse("")}")
    }

    /** JOB (or its reference-test synonym QUERY) after a lifecycle verb. */
    private def jobKw(): Unit =
      if (at("JOB") || at("QUERY")) pos += 1
      else throw new ParseException(s"expected JOB, got ${peek().map(_.text).getOrElse("<eof>")}")

    /** The query a job runs: SELECT/UNION/CTE or CREATE STREAM|TABLE AS. */
    private def jobBody(): VeloStatement =
      if (at("CREATE")) createStatement()
      else if (at("WITH")) cteStatement()
      else selectOrUnion()

    /** Job props: an explicit trailing WITH(...) or, for a SELECT body,
      * the props its own WITH clause already captured. */
    private def liftProps(body: VeloStatement): Map[String, String] = body match {
      case Select(s) => s.props
      case CreateStreamAs(_, _, p, _) => p
      case CreateTableAs(_, _, p, _) => p
      // a CTE/UNION body's trailing WITH was consumed by the INNERMOST
      // select's trailing-clause loop — recurse, or resource limits on
      // a CTE/UNION job body are silently dropped at admission
      case WithCtes(_, b, _) => liftProps(b)
      // ALL branches, not just the last (the CTAS/INSERT hoist rule):
      // the trailing-clause loop attaches a WITH to the branch it just
      // read, so `SELECT … WITH ('max.memory'='1g') UNION SELECT …`
      // put the props on branch 0 and a last-branch read silently
      // dropped the resource limit at admission (r16 review)
      case u: Union => u.selects.flatMap(_.props.toSeq).toMap
      case _ => Map.empty
    }

    private def startJobStatement(): VeloStatement = {
      expectKw("START"); jobKw()
      val name = ident()
      expectKw("AS")
      val body = jobBody()
      val explicit = if (at("WITH")) { take(); propMap() } else Map.empty[String, String]
      StartJob(name, body, liftProps(body) ++ explicit)
    }

    /** DEPLOY JOB name [VERSION 'v'] [STRATEGY s] AS <query> [STRATEGY s]
      * — the reference's tests put STRATEGY on either side of AS. */
    private def deployJobStatement(): VeloStatement = {
      expectKw("DEPLOY"); jobKw()
      val name = ident()
      val version = if (at("VERSION")) { take(); unquote(take()) } else "1.0.0"
      var strategy: Option[DeployStrategy] = None
      def strategyClause(): Unit = {
        take() // STRATEGY
        // conflict, not last-one-wins (the asInsertBody EMIT rule, r17
        // review): STRATEGY accepted on BOTH sides of AS silently let
        // the post-AS clause overwrite — a 10% canary became a full
        // blue-green deploy with no error
        if (strategy.isDefined)
          throw new ParseException(
            "duplicate STRATEGY clause (given both before and after AS)")
        val t = take().upper
        strategy = Some(t match {
          case "BLUE_GREEN" => BlueGreen
          case "ROLLING" => Rolling
          case "REPLACE" => Replace
          case "CANARY" =>
            expectSym("(")
            val pct = take().text.toInt // validation is the deployer's job (reference parity)
            expectSym(")")
            Canary(pct)
          // the match arms above ARE StrategyForms — a new strategy must
          // land in both (the shared constant keeps the BOUNDARY in sync)
          case other => throw new ParseException(s"unknown deployment strategy $other")
        })
      }
      if (at("STRATEGY")) strategyClause()
      expectKw("AS")
      // STRATEGY after the query ends the body's trailing clause spans
      dynStops += "STRATEGY"
      val body = try jobBody() finally { dynStops -= "STRATEGY" }
      if (at("STRATEGY")) strategyClause()
      val explicit = if (at("WITH")) { take(); propMap() } else Map.empty[String, String]
      DeployJob(name, version, body, liftProps(body) ++ explicit,
        strategy.getOrElse(BlueGreen))
    }

    /** SHOW/LIST <resource> [args] — see Show scaladoc for the surface.
      * `SHOW JOB STATUS|VERSIONS|METRICS [name]` is accepted as an alias
      * of `SHOW STATUS|VERSIONS|METRICS [name]`. */
    private def showStatement(): VeloStatement = {
      take() // SHOW | LIST
      val what0 = take().upper
      val what = if (what0 == "JOB") take().upper else what0
      what match {
        case "STREAMS" | "TABLES" | "TOPICS" | "FUNCTIONS" | "JOBS" | "TRACES" =>
          val pat = if (at("LIKE")) { take(); Some(unquote(take())) } else None
          Show(what, pat)
        case "SCHEMA" | "PARTITIONS" | "VERSIONS" => Show(what, Some(ident()))
        case "STATUS" | "METRICS" | "RESOURCES" =>
          Show(what, if (peek().exists(_.kind == TIdent)) Some(ident()) else None)
        case "PROPERTIES" =>
          // SHOW PROPERTIES [STREAM|TABLE|SOURCE|SINK] name
          if (at("STREAM") || at("TABLE") || at("SOURCE") || at("SINK")) take()
          Show("PROPERTIES", if (peek().exists(_.kind == TIdent)) Some(ident()) else None)
        case other => throw new ParseException(s"SHOW $other not supported")
      }
    }

    private def selectOrUnion(): VeloStatement = {
      var sels = Vector(selectStatement())
      var ops = Vector.empty[Boolean]
      while (at("UNION")) {
        take()
        val isAll = if (at("ALL")) { take(); true } else false
        ops :+= isAll
        sels :+= selectStatement()
      }
      if (sels.length == 1) Select(sels.head)
      else Union(sels, ops.forall(identity), ops)
    }

    /** WITH [RECURSIVE] name AS (select|union) [, …]* <select|union> —
      * a recursive CTE's body is a base ∪ step UNION [ALL] chain. */
    private def cteStatement(): VeloStatement = {
      expectKw("WITH")
      val recursive = if (at("RECURSIVE")) { take(); true } else false
      var ctes = Vector.empty[(String, VeloStatement)]
      var more = true
      while (more) {
        val n = ident()
        expectKw("AS")
        expectSym("(")
        val s = selectOrUnion()
        expectSym(")")
        ctes :+= (n -> s)
        if (peek().exists(_.text == ",")) take() else more = false
      }
      WithCtes(ctes, selectOrUnion(), recursive)
    }

    private def createStatement(): VeloStatement = {
      expectKw("CREATE")
      val kind =
        if (at("STREAM") || at("TABLE") || at("SINK") || at("SOURCE")) take().upper
        else throw new ParseException("expected STREAM, TABLE, SINK or SOURCE after CREATE")
      // threaded through as a prop: swallowing the clause would INVERT
      // it — the executor's createOrReplaceTempView overwrites, the one
      // outcome IF NOT EXISTS exists to prevent
      val ifNotExists =
        if (at("IF")) { take(); expectKw("NOT"); expectKw("EXISTS"); true } else false
      def withIne(p: Map[String, String]): Map[String, String] =
        if (ifNotExists) p + ("if_not_exists" -> "true") else p
      val name = ident()
      // optional declared schema before AS (reference commands.rs:37,
      // clauses.rs:440): CREATE STREAM|TABLE t (col TYPE [NOT NULL], …) AS …
      val columnDefs: Vector[(String, String)] =
        if (peek().exists(_.text == "(")) columnDefinitions() else Vector.empty
      if (at("WITH")) {
        // declaration form: CREATE STREAM name [(col TYPE, …)] WITH
        // (config …) — a declared schema on a declaration is source
        // metadata, carried on the statement (not silently dropped)
        take()
        val props = propMap()
        CreateSourceDecl(kind, name, props, columnDefs)
      } else {
        expectKw("AS")
        // the inner select consumes its trailing INTO/WITH/EMIT clauses;
        // the body may be a UNION chain
        selectOrUnion() match {
          case Select(sel) =>
            if (kind == "STREAM") CreateStreamAs(name, sel, withIne(sel.props), columnDefs)
            else CreateTableAs(name, sel, withIne(sel.props), columnDefs)
          case u: Union =>
            // ONE derived-table wrapper (asInsertBody) for both the
            // CTAS and INSERT union paths: the two were line-for-line
            // twins — same ALL-branch EMIT/INTO/props hoist, same
            // unionKeys — and a fix to one hoist had to land twice or
            // the paths silently diverged (r16 review; the r12 EMIT/
            // INTO fix was exactly that class)
            val wrapped = asInsertBody(u)
            if (kind == "STREAM") CreateStreamAs(name, wrapped, withIne(wrapped.props), columnDefs)
            else CreateTableAs(name, wrapped, withIne(wrapped.props), columnDefs)
          case other => throw new ParseException(s"unsupported CREATE body: $other")
        }
      }
    }

    /** A union's routable keys: the branches' shared PRIMARY KEY set,
      * or none when branches disagree. */
    private def unionKeys(u: Union): Vector[String] = {
      val ks = u.selects.map(_.keyFields)
      if (ks.nonEmpty && ks.forall(_ == ks.head)) ks.head else Vector.empty
    }

    /** A UNION body in a single-SelectStmt position (INSERT INTO …
      * SELECT): wrapped as a derived table, same as CTAS union bodies —
      * including the CTAS path's ALL-branch EMIT/INTO hoist: the parser
      * attaches trailing clauses to the branch it just read, so a
      * last-branch-only read silently dropped sink wiring and emit mode
      * written before the UNION keyword (r12 review). */
    private def asInsertBody(stmt: VeloStatement): SelectStmt = stmt match {
      case Select(s) => s
      case u: Union =>
        val emits = u.selects.flatMap(_.emit).distinct
        if (emits.length > 1)
          throw new ParseException("UNION branches declare conflicting EMIT modes")
        SelectStmt(
          fields = Vector(Vector(Tok(TSymbol, "*"))), keyFields = unionKeys(u),
          from = "(" + u.render(toSparkSql(_, defaultTimeCol, timeColOf)) + ")",
          fromAlias = Some("_u"), joins = Vector.empty, where = None, groupBy = None,
          having = None, window = None, namedWindows = None, orderBy = None,
          limit = None, emit = emits.headOption,
          into = u.selects.flatMap(_.into).distinct,
          props = u.selects.flatMap(_.props.toSeq).toMap)
      case other => throw new ParseException(s"unsupported INSERT body: $other")
    }

    /** `(name TYPE [NOT NULL], …)` → (name, Spark SQL type string).
      * Type names per reference clauses.rs:471 (ScaledInteger DECIMAL
      * maps to DECIMAL(18,4), the dialect's financial precision). */
    private def columnDefinitions(): Vector[(String, String)] = {
      def dataType(): String = take().upper match {
        case "INT" | "INTEGER" => "INT"
        case "BIGINT" | "LONG" => "BIGINT"
        case "FLOAT" | "DOUBLE" | "REAL" => "DOUBLE"
        case "STRING" | "VARCHAR" | "TEXT" => "STRING"
        case "BOOLEAN" | "BOOL" => "BOOLEAN"
        case "TIMESTAMP" => "TIMESTAMP"
        case "DECIMAL" | "NUMERIC" =>
          // explicit DECIMAL(p, s) is honored; bare DECIMAL defaults to
          // the dialect's financial precision. Without this branch the
          // '(' broke the column loop with a misleading "expected ')'"
          if (peek().exists(_.text == "(")) {
            take()
            val p = take().text.toIntOption.getOrElse(
              throw new ParseException("DECIMAL precision must be a number"))
            expectSym(",")
            val sc = take().text.toIntOption.getOrElse(
              throw new ParseException("DECIMAL scale must be a number"))
            expectSym(")")
            if (p < 1 || p > 38 || sc < 0 || sc > p)
              throw new ParseException(s"invalid DECIMAL($p,$sc)")
            s"DECIMAL($p,$sc)"
          } else "DECIMAL(18,4)"
        case "ARRAY" =>
          expectSym("("); val inner = dataType(); expectSym(")")
          s"ARRAY<$inner>"
        case "MAP" =>
          expectSym("("); val k = dataType()
          expectSym(","); val v = dataType(); expectSym(")")
          s"MAP<$k, $v>"
        case other => throw new ParseException(s"unknown data type: $other")
      }
      expectSym("(")
      var defs = Vector.empty[(String, String)]
      var more = true
      while (more) {
        val colName = ident()
        val tpe = dataType()
        if (at("NOT")) { take(); expectKw("NULL") } // Spark nullability is advisory
        defs :+= (colName -> tpe)
        if (peek().exists(_.text == ",")) take() else more = false
      }
      expectSym(")")
      defs
    }

    private def propMap(): Map[String, String] = {
      expectSym("(")
      val m = scala.collection.mutable.LinkedHashMap[String, String]()
      var done = false
      while (!done) {
        // keys may be quoted strings OR dotted identifiers
        // (market_data.config_file = '…')
        val kb = new StringBuilder(unquote(take()))
        while (peek().exists(_.text == ".")) { take(); kb.append('.').append(unquote(take())) }
        expectSym("=")
        // an unquoted negative number is two tokens ('-', '1') — the
        // Kafka-style `replication = -1` form; reading one token made
        // the trailing digit a misleading "expected ')'" error (r14
        // review). A '+' sign is tolerated for symmetry.
        val v = peek() match {
          case Some(t) if t.kind == TSymbol && (t.text == "-" || t.text == "+")
              && peek(1).exists(_.kind == TNumber) =>
            val sign = take().text
            (if (sign == "-") "-" else "") + take().text
          case _ => unquote(take())
        }
        m += kb.toString -> v
        if (peek().exists(_.text == ",")) take() else done = true
      }
      expectSym(")")
      m.toMap
    }

    private def unquote(t: Tok): String =
      if (t.kind == TString) unquoteString(t.text)
      // collapse the doubled interior backticks tokenize re-escapes —
      // `a``b` must decode to a`b, the inverse of the encode (r14
      // review: the TString branch round-trips; this one did not)
      else t.text.stripPrefix("`").stripSuffix("`").replace("``", "`")

    private def emitMode(): EmitMode = {
      val t = take()
      if (t.isKw("CHANGES")) EmitChanges
      else if (t.isKw("FINAL")) EmitFinal
      else throw new ParseException(s"expected CHANGES or FINAL after EMIT, got ${t.text}")
    }

    private def insertStatement(): VeloStatement = {
      expectKw("INSERT"); expectKw("INTO")
      val table = ident()
      var cols = Vector.empty[String]
      if (peek().exists(_.text == "(")) {
        take()
        var done = false
        while (!done) {
          cols :+= ident()
          if (peek().exists(_.text == ",")) take() else done = true
        }
        expectSym(")")
      }
      // selectOrUnion: every other select position accepts UNION chains
      if (at("SELECT")) InsertInto(table, cols, Some(asInsertBody(selectOrUnion())), Vector.empty)
      else {
        expectKw("VALUES")
        var rows = Vector.empty[Vector[Vector[Tok]]]
        var more = true
        while (more) {
          expectSym("(")
          var row = Vector.empty[Vector[Tok]]
          var done = false
          while (!done) {
            // rewrite like every other expression position (UPDATE SET
            // does): dialect forms (TIMESTAMP(), LEN, …) must not reach
            // Catalyst verbatim just because they sit in a VALUES row
            row :+= rewriteTokens(exprSpan(stopAtComma = true), defaultTimeCol)
            if (peek().exists(_.text == ",")) take() else done = true
          }
          expectSym(")")
          rows :+= row
          if (peek().exists(_.text == ",")) take() else more = false
        }
        InsertInto(table, cols, None, rows)
      }
    }

    /** UPDATE t SET a = expr, b = expr WHERE cond
      * (reference: src/velostream/sql/execution/processors/update.rs) */
    private def updateStatement(): VeloStatement = {
      expectKw("UPDATE")
      val table = ident()
      expectKw("SET")
      var sets = Vector.empty[(String, Vector[Tok])]
      var more = true
      while (more) {
        val c = ident()
        expectSym("=")
        sets :+= (c -> rewriteTokens(exprSpan(stopAtComma = true), defaultTimeCol))
        if (peek().exists(_.text == ",")) take() else more = false
      }
      val where = if (at("WHERE")) { take(); Some(rewriteTokens(exprSpan(stopAtComma = false), defaultTimeCol)) } else None
      Update(table, sets, where)
    }

    private def deleteStatement(): VeloStatement = {
      expectKw("DELETE"); expectKw("FROM")
      val table = ident()
      val where = if (at("WHERE")) { take(); Some(rewriteTokens(exprSpan(stopAtComma = false), defaultTimeCol)) } else None
      Delete(table, where)
    }

    /** Collect a balanced-paren token span until a top-level comma,
      * clause keyword, or EOF. */
    private def exprSpan(stopAtComma: Boolean): Vector[Tok] = {
      val out = ArrayBuffer[Tok]()
      var depth = 0
      var done = false
      while (!done && pos < toks.length) {
        val t = toks(pos)
        if (t.kind == TSymbol && t.text == "(") { depth += 1; out += take() }
        else if (t.kind == TSymbol && t.text == ")") {
          if (depth == 0) done = true else { depth -= 1; out += take() }
        } else if (depth == 0 && t.kind == TSymbol && t.text == "," && stopAtComma) done = true
        // a top-level ';' always ends the expression: swallowing it
        // would parse "… WHERE x > 0; SELECT b" as one statement with a
        // garbage WHERE, and validity probes would admit it
        else if (depth == 0 && t.kind == TSymbol && t.text == ";") done = true
        else if (depth == 0 && t.kind == TIdent && (clauseStarts.contains(t.upper) || dynStops.contains(t.upper))
                 // JOIN/LEFT/RIGHT are also catalog FUNCTIONS — a '('
                 // right after means a call, not a clause boundary
                 && !(Set("JOIN", "LEFT", "RIGHT").contains(t.upper) && peek(1).exists(_.text == "("))
                 // ORDER/GROUP are clause starts only as ORDER BY / GROUP
                 // BY — otherwise they are ordinary identifiers
                 // (`order.items`, a column named `group`)
                 && !(Set("ORDER", "GROUP").contains(t.upper) && !peek(1).exists(_.isKw("BY")))
                 // WITHIN GROUP (ORDER BY …) is part of an inverse-
                 // distribution aggregate, not the stream-join WITHIN
                 && !(t.upper == "WITHIN" && peek(1).exists(_.isKw("GROUP")))
                 // STRATEGY is a clause boundary only per
                 // strategyBoundary — a column named `strategy` inside
                 // a DEPLOY body must stay an ordinary identifier (r14
                 // review: `SELECT strategy, count(*) … GROUP BY
                 // strategy` read as an empty select item), while a
                 // trailing typo'd form still gets the clear error
                 && !(t.upper == "STRATEGY" && !strategyBoundary(peek(1), peek(2)))) done = true
        else out += take()
      }
      out.toVector
    }

    private val clauseStarts = Set(
      "FROM", "WHERE", "GROUP", "HAVING", "WINDOW", "ORDER", "LIMIT", "EMIT",
      "JOIN", "INNER", "LEFT", "RIGHT", "FULL", "CROSS", "ON", "WITH", "INTO",
      "WITHIN", "UNION")

    private def selectStatement(): SelectStmt = {
      expectKw("SELECT")
      val distinct = if (at("DISTINCT")) { take(); true } else false
      // select list
      var fields = Vector.empty[Vector[Tok]]
      var keys = Vector.empty[String]
      var more = true
      while (more) {
        var span = exprSpan(stopAtComma = true)
        if (span.isEmpty) throw new ParseException("empty select item")
        // PRIMARY KEY annotation (FR-089): strip, record the output name.
        // length >= 3: a select item of ONLY `PRIMARY KEY` must be a
        // ParseException, not a NoSuchElementException on the empty rest
        if (span.length >= 3 && span(span.length - 2).isKw("PRIMARY") && span.last.isKw("KEY")) {
          span = span.dropRight(2)
          // the key must be a NAMED output: on an unaliased expression
          // the trailing token is ')' — recording it would silently
          // disable sink key routing (the bogus name matches no column)
          if (span.last.kind != TIdent)
            throw new ParseException(
              "PRIMARY KEY must annotate a column or aliased select item " +
                "(alias the expression first: expr AS name PRIMARY KEY)")
          keys :+= span.last.text.stripPrefix("`").stripSuffix("`").replace("``", "`")
        } else if (span.length == 2 && span.head.isKw("PRIMARY") && span.last.isKw("KEY"))
          throw new ParseException("PRIMARY KEY must annotate a select item")
        fields :+= span
        if (peek().exists(_.text == ",")) take() else more = false
      }
      // FROM: a table name or a derived table `( SELECT … )`
      var from = ""
      var fromAlias: Option[String] = None
      def tableSource(): String =
        if (peek().exists(_.text == "(")) {
          take()
          // selectOrUnion, not selectStatement: UNION is valid inside a
          // derived table just as it is at top level and in CTE bodies
          val sub = selectOrUnion()
          expectSym(")")
          val rendered = sub match {
            case Select(s) => toSparkSql(s, defaultTimeCol, timeColOf)
            case u: Union => u.render(toSparkSql(_, defaultTimeCol, timeColOf))
            case other => throw new ParseException(s"unsupported derived table: $other")
          }
          "(" + rendered + ")"
        } else ident()
      // the SAME STRATEGY lookahead as exprSpan's boundary: without it
      // a FROM/JOIN alias named `strategy` was rejected as an alias and
      // the leftover token misfed strategyClause (r14 review). These
      // gates run on peek(), so the following tokens are peek(1)/peek(2).
      def isClauseTok(t: Tok): Boolean =
        (clauseStarts.contains(t.upper) || dynStops.contains(t.upper)) &&
          !(t.upper == "STRATEGY" && !strategyBoundary(peek(1), peek(2)))
      // `FROM src WITH ('config_file' = '…')` — the reference attaches
      // source configs directly to the FROM/JOIN source, with query
      // clauses (WHERE/GROUP BY/EMIT…) continuing after
      // (ctas_named_sources_sinks_test.rs). Recorded in the statement's
      // prop bag; the deployment layer resolves them.
      var srcProps = Map.empty[String, String]
      def sourceWith(): Unit =
        if (at("WITH") && peek(1).exists(_.text == "(")) {
          take()
          val m = propMap()
          // per-source WITH maps flatten into ONE statement-level bag —
          // a second source re-declaring the same key with a DIFFERENT
          // value would silently overwrite the first (FROM a WITH
          // ('config_file'='a.yaml') JOIN b WITH ('config_file'=
          // 'b.yaml') → a.yaml vanished from the deployment wiring).
          // Same value re-stated is harmless; a conflict errors (r17
          // review).
          val clash = m.collect {
            case (k, v) if srcProps.get(k).exists(_ != v) => k
          }
          if (clash.nonEmpty)
            throw new ParseException(
              s"conflicting source WITH value(s) for ${clash.mkString(", ")} " +
                "across this statement's sources (namespace the keys per source)")
          srcProps ++= m
        }
      if (at("FROM")) {
        take()
        from = tableSource()
        if (at("AS")) { take(); fromAlias = Some(ident()) }
        else if (peek().exists(t => t.kind == TIdent && !isClauseTok(t)))
          fromAlias = Some(ident())
        sourceWith()
      }
      // JOINs
      var joins = Vector.empty[JoinClause]
      var scanning = true
      while (scanning) {
        val jt =
          if (at("JOIN")) { take(); "INNER" }
          else if (at("INNER") && at("JOIN", 1)) { take(); take(); "INNER" }
          else if ((at("LEFT") || at("RIGHT") || at("FULL"))) {
            val k = take().upper
            if (at("OUTER")) take()
            expectKw("JOIN"); k
          } else if (at("CROSS") && at("JOIN", 1)) { take(); take(); "CROSS" }
          else { scanning = false; "" }
        if (scanning) {
          val t = tableSource()
          var alias: Option[String] = None
          if (at("AS")) { take(); alias = Some(ident()) }
          else if (peek().exists(tk => tk.kind == TIdent && tk.upper != "ON" && !isClauseTok(tk)))
            alias = Some(ident())
          sourceWith()
          val on =
            if (jt == "CROSS") Vector.empty[Tok]
            else { expectKw("ON"); exprSpan(stopAtComma = false) }
          // `WITHIN INTERVAL 'n' UNIT` — the reference's stream-stream
          // time-proximity join shorthand (docs/sql/by-task/join-streams.md)
          val within =
            if (at("WITHIN")) {
              take()
              val span = exprSpan(stopAtComma = false)
              Some(parseDuration(span).getOrElse(
                throw new ParseException(s"WITHIN expects an interval, got ${render(span)}")))
            } else None
          joins :+= JoinClause(jt, t, alias, on, within)
        }
      }
      // WHERE / GROUP BY / HAVING / WINDOW in flexible order (the
      // reference's own tests use both HAVING-before-WINDOW — the
      // documented grammar — and HAVING-after-WINDOW).
      var where: Option[Vector[Tok]] = None
      var groupBy: Option[Vector[Tok]] = None
      var having: Option[Vector[Tok]] = None
      var window: Option[WindowSpec] = None
      var namedWindows: Option[Vector[Tok]] = None
      var scanning2 = true
      while (scanning2) {
        if (at("WHERE") && where.isEmpty) { take(); where = Some(exprSpan(stopAtComma = false)) }
        else if (at("GROUP") && groupBy.isEmpty) { take(); expectKw("BY"); groupBy = Some(exprSpan(stopAtComma = false)) }
        else if (at("HAVING") && having.isEmpty) { take(); having = Some(exprSpan(stopAtComma = false)) }
        // velostream WINDOW TUMBLING|SLIDING|SESSION(...) vs the standard
        // SQL named-window clause `WINDOW w AS (...)` — disambiguate by
        // the keyword after WINDOW.
        else if (at("WINDOW") && window.isEmpty && namedWindows.isEmpty) {
          if (peek(1).exists(t => Set("TUMBLING", "SLIDING", "SESSION").contains(t.upper))) {
            take(); window = Some(windowSpec())
          } else {
            take(); namedWindows = Some(exprSpan(stopAtComma = false))
          }
        }
        else scanning2 = false
      }
      val orderBy = if (at("ORDER")) { take(); expectKw("BY"); Some(exprSpan(stopAtComma = false)) } else None
      val limit = if (at("LIMIT")) { take(); Some(take().text.toLong) } else None
      // trailing job-wiring clauses may come in any order:
      // INTO sink[, sink…] (multi-sink fan-out), WITH (props), EMIT …
      var into: Vector[String] = Vector.empty
      var props = Map.empty[String, String]
      var emit: Option[EmitMode] = None
      var progress = true
      while (progress) {
        progress = false
        if (at("INTO")) {
          take()
          into :+= ident()
          while (peek().exists(_.text == ",")) { take(); into :+= ident() }
          progress = true
        }
        if (at("WITH")) { take(); props ++= propMap(); progress = true }
        if (at("EMIT")) { take(); emit = Some(emitMode()); progress = true }
      }
      // TUMBLE_START/END need aggregate wrapping under a WINDOW clause
      // AND under the Flink-style GROUP BY TUMBLE(...) form — the group
      // key is the window struct, so a bare time expression in the
      // select would reference the time column outside any aggregate
      val aggWrap = window.isDefined ||
        groupBy.exists(_.exists(t => t.isKw("TUMBLE") || t.isKw("HOP") || t.isKw("SESSION")))
      // the statement's EFFECTIVE time column: when the WINDOW clause
      // declares one, every one-arg TUMBLE_START/END in the select list
      // must bucket THAT column — rewriting with only the context
      // default silently emitted per-group MIN of the default column's
      // buckets next to window() grouping on the declared column (r17
      // review; the query ran whenever the default column existed,
      // which a Kafka record timestamp always does)
      val effTimeCol = window.flatMap(_.timeCol).getOrElse(defaultTimeCol)
      SelectStmt(fields.map(rewriteTokens(_, effTimeCol, aggWrap)), keys, from, fromAlias,
        joins.map(j => j.copy(on = rewriteTokens(j.on, defaultTimeCol))),
        where.map(rewriteTokens(_, defaultTimeCol)), groupBy.map(rewriteTokens(_, defaultTimeCol)),
        // namedWindows go through the rewriter like every other clause:
        // captured raw they reached Catalyst verbatim, so a dialect form
        // inside WINDOW w AS (PARTITION BY LEN(x) …) — legal everywhere
        // else — died as an undefined function (r12 review)
        having.map(rewriteTokens(_, effTimeCol, aggWrap)), window,
        namedWindows.map(rewriteTokens(_, defaultTimeCol)),
        // aggWrap on ORDER BY too (r17 review): fields and HAVING got
        // the MIN-wrap but ORDER BY TUMBLE_START(...) emitted a bare
        // group-constant referencing the time column outside any
        // aggregate — AnalysisException on a query whose identical
        // select-list expression is accepted
        orderBy.map(rewriteTokens(_, effTimeCol, aggWrap)), limit, emit, into,
        srcProps ++ props, distinct)
    }

    private def windowSpec(): WindowSpec = {
      val kind = take().upper
      expectSym("(")
      // args: durations and/or a time-column identifier, in either order
      var durations = Vector.empty[Long]
      var timeCol: Option[String] = None
      var pcols = Vector.empty[String]
      var more = true
      while (more) {
        val span = exprSpan(stopAtComma = true)
        // an empty span (trailing comma) would set timeCol to "" and
        // render window(, '…') — garbage that dies in Catalyst
        if (span.isEmpty)
          throw new ParseException("empty window argument (trailing comma?)")
        parseDuration(span) match {
          case Some(sec) => durations :+= sec
          case None =>
            // FIRST non-duration argument is the time column (the old
            // last-one-wins silently replaced it — the reference's
            // SESSION(time_expr, gap, partition_col) form made the
            // PARTITION KEY the time column). Later bare identifiers are
            // the reference's trailing partition-key args, CAPTURED as
            // extra grouping keys (dropping them merged time-adjacent
            // sessions across keys when no matching GROUP BY existed);
            // anything else — e.g. a typo'd duration unit like
            // '5 MINUTS' — errors.
            val bareIdent = span.nonEmpty && span.head.kind == TIdent &&
              span.forall(tk => tk.kind == TIdent || tk.text == ".")
            // a non-duration span that STARTS like a duration (number or
            // INTERVAL) is a malformed duration — a typo'd unit
            // ('5 MINUTS') or a unit parseDuration lacks (MONTH/YEAR are
            // not fixed-length windows). Silently making it the "time
            // column" violated the parse-don't-pass contract: the
            // garbage died only inside spark.sql(), past the validator's
            // parse gate (r12 review).
            if (span.head.kind == TNumber || span.head.isKw("INTERVAL"))
              throw new ParseException(
                s"malformed window duration '${render(span)}' (use e.g. " +
                  "INTERVAL '5' MINUTE, 5 MINUTES, or 5m; MONTH/YEAR are not " +
                  "fixed-length window sizes)")
            // the time column is an EXPRESSION position: run the dialect
            // function rewrites before capturing its text, like every
            // other expression span — raw capture let FROM_UNIXTIME(e)
            // reach Catalyst as Spark's native from_unixtime (a STRING
            // with second precision, silently truncating sub-second
            // event times before bucketing) and dialect-only forms die
            // unresolved inside spark.sql() (r14 review)
            if (timeCol.isEmpty)
              timeCol = Some(render(rewriteTokens(span, defaultTimeCol))
                .replace(" . ", "."))
            else if (bareIdent) pcols :+= render(span).replace(" . ", ".")
            else
              throw new ParseException(
                s"unrecognized window argument '${render(span)}' " +
                  s"(time column already set to '${timeCol.get}'; a duration must " +
                  "be e.g. INTERVAL '5' MINUTE, 5 MINUTES, or 5m)")
        }
        if (peek().exists(_.text == ",")) take() else more = false
      }
      expectSym(")")
      // ParseException, not require: IllegalArgumentException would leak
      // through the callers' ParseException-only contracts
      def need(ok: Boolean, msg: String): Unit = if (!ok) throw new ParseException(msg)
      kind match {
        case "TUMBLING" =>
          // exactly ONE: a second duration (user likely meant SLIDING)
          // must not be silently discarded
          need(durations.length == 1, "TUMBLING takes exactly one size duration")
          Tumbling(durations.head, timeCol, pcols)
        case "SLIDING" =>
          need(durations.length == 2, "SLIDING needs size and advance durations")
          Sliding(durations(0), durations(1), timeCol, pcols)
        case "SESSION" =>
          need(durations.length == 1, "SESSION takes exactly one gap duration")
          Session(durations.head, timeCol, pcols)
        case other => throw new ParseException(s"unknown window kind $other")
      }
    }
  }

  /** duration = INTERVAL '5' MINUTE | INTERVAL 5 MINUTE | 5 MINUTE(S)
    * | 5m / 30s / 100ms / 2h / 1d. Returns seconds (MS rounds down). */
  def parseDuration(span: Seq[Tok]): Option[Long] = {
    val ts = span.filterNot(t => t.isKw("INTERVAL"))
    if (ts.isEmpty || ts.length > 2) return None
    val numTok = ts.head
    // kept as DOUBLE until the unit applies: `1.5m` is a legitimate
    // 90-second duration, and the old toDouble.toLong truncated the
    // fraction BEFORE the unit multiply — a silently shrunk window/band
    val num: Option[Double] = numTok.kind match {
      case TNumber => numTok.text.toDoubleOption
      case TString =>
        numTok.text.substring(1, numTok.text.length - 1).trim.toLongOption.map(_.toDouble)
      case _ => None
    }
    num.flatMap { v =>
      if (ts.length == 2) {
        val u = ts(1).upper
        // sub-second values do NOT truncate to 0 silently: 500ms as a
        // WITHIN band would become "<= 0 seconds apart" (exact-match
        // join) and a 0-second window is invalid downstream — only
        // whole-second results are accepted, so the caller errors loudly
        val secs: Option[Double] =
          if (u == "MS" || u.startsWith("MILLISECOND")) Some(v / 1000.0)
          else unitSeconds(u).map(v * _)
        secs.filter(s => s.isFinite && s == math.floor(s)).map(_.toLong)
      } else None
      // a lone NUMBER is ambiguous with a column reference — reject.
    }.filter(_ > 0) // a ZERO duration is degenerate everywhere it is used
  }

  /** Units whose value-context INTERVAL literal must be rewritten to a
    * fixed-duration Spark literal to match the reference's
    * interval_to_millis (types.rs:1402): quantity transform + target
    * unit. See the rewriteTokens branch for the full rationale. */
  private val fixedIntervalRewrite: Map[String, (Long => Long, String)] = {
    val month: Long => Long = _ * 30L
    val year: Long => Long = _ * 365L
    val nano: Long => Long = _ / 1000000L  // i64 division truncates toward 0, like Rust
    val micro: Long => Long = _ / 1000L
    Map(
      "MONTH" -> (month, "DAY"), "MONTHS" -> (month, "DAY"),
      "YEAR" -> (year, "DAY"), "YEARS" -> (year, "DAY"),
      "NANOSECOND" -> (nano, "MILLISECOND"), "NANOSECONDS" -> (nano, "MILLISECOND"),
      "MICROSECOND" -> (micro, "MILLISECOND"), "MICROSECONDS" -> (micro, "MILLISECOND"))
  }

  private def unitSeconds(u: String): Option[Long] = u.toUpperCase(java.util.Locale.ROOT) match {
    case "SECOND" | "SECONDS" | "S" | "SEC" | "SECS" => Some(1L)
    case "MINUTE" | "MINUTES" | "M" | "MIN" | "MINS" => Some(60L)
    case "HOUR" | "HOURS" | "H" => Some(3600L)
    case "DAY" | "DAYS" | "D" => Some(86400L)
    case "WEEK" | "WEEKS" | "W" => Some(604800L) // reference shorthand: SESSION(1w)
    case _ => None
  }

  // ==================== dialect token rewrites ====================
  /** Pop the trailing PRIMARY operand from the already-rewritten output
    * buffer (for infix-to-call rewrites like `~`): a literal/number, a
    * possibly-qualified identifier chain (a.b.c), a call with balanced
    * parens (f(x), a.f(x)), or a parenthesized group. Returns the
    * removed tokens in order; empty when the tail is not a primary. */
  private def popPrimaryOperand(out: ArrayBuffer[Tok]): Vector[Tok] = {
    if (out.isEmpty) return Vector.empty
    var start = out.length
    def prev = if (start > 0) Some(out(start - 1)) else None
    prev match {
      case Some(t) if t.text == ")" && t.kind == TSymbol =>
        var depth = 0
        var scanning = true
        while (scanning && start > 0) {
          start -= 1
          val c = out(start)
          if (c.kind == TSymbol && c.text == ")") depth += 1
          else if (c.kind == TSymbol && c.text == "(") { depth -= 1; if (depth == 0) scanning = false }
        }
        if (depth != 0) return Vector.empty // unbalanced — not a primary
        // include a function name (and its qualifier chain) before '('
        if (start > 0 && out(start - 1).kind == TIdent) {
          start -= 1
          while (start >= 2 && out(start - 1).text == "." && out(start - 2).kind == TIdent)
            start -= 2
        }
      case Some(t) if t.kind == TIdent || t.kind == TString || t.kind == TNumber =>
        start -= 1
        while (start >= 2 && out(start - 1).text == "." && out(start - 2).kind == TIdent)
          start -= 2
      case _ => return Vector.empty
    }
    val popped = out.slice(start, out.length).toVector
    out.remove(start, out.length - start)
    popped
  }

  /** Forward twin of [[popPrimaryOperand]]: the PRIMARY operand span
    * starting at `j` in the RAW token stream, and the index after it. */
  private def primaryOperandSpan(toks: Vector[Tok], j: Int): (Vector[Tok], Int) = {
    if (j >= toks.length) return (Vector.empty, j)
    var end = j
    def balanced(): Boolean = {
      var depth = 0
      var ok = false
      while (end < toks.length && !ok) {
        val c = toks(end)
        if (c.kind == TSymbol && c.text == "(") depth += 1
        else if (c.kind == TSymbol && c.text == ")") { depth -= 1; if (depth == 0) ok = true }
        end += 1
      }
      ok
    }
    toks(j) match {
      case t if t.kind == TString || t.kind == TNumber => end = j + 1
      case t if t.kind == TSymbol && t.text == "(" => if (!balanced()) return (Vector.empty, j)
      case t if t.kind == TIdent =>
        end = j + 1
        var chaining = true
        while (chaining) {
          if (end + 1 < toks.length && toks(end).text == "." && toks(end + 1).kind == TIdent)
            end += 2
          else if (end < toks.length && toks(end).kind == TSymbol && toks(end).text == "(") {
            if (!balanced()) return (Vector.empty, j)
            chaining = false
          } else chaining = false
        }
      case _ => return (Vector.empty, j)
    }
    (toks.slice(j, end), end)
  }

  /** Rewrite one clause's token span to Spark SQL. Only the dialect's
    * syntax and context-dependent forms are rewritten here: quantified
    * ALL/ANY comparisons, `OVER (ROWS WINDOW BUFFER n ROWS …)`, fixed-unit
    * INTERVAL literals, TUMBLE/HOP/SESSION grouping calls,
    * TUMBLE_START/END, the PERCENTILE OVER and WITHIN GROUP forms and the
    * `~` operator. Every other dialect function is one row of
    * [[graft.functions.VeloExprs.dialectFunctions]]: its call is renamed
    * to the row's `velo_` registration and its arity checked here.
    *
    * `aggWrap`: the span sits in the SELECT/HAVING of a time-windowed
    * aggregation — group-constant per-row rewrites (TUMBLE_START/END)
    * must be wrapped in an aggregate to satisfy GROUP BY analysis. */
  def rewriteTokens(span: Vector[Tok], defaultTimeCol: String, aggWrap: Boolean = false): Vector[Tok] = {
    val out = ArrayBuffer[Tok]()
    var i = 0
    def sym(s: String) = Tok(TSymbol, s)
    def id(s: String) = Tok(TIdent, s)
    // Window-SIZE args must reject calendar units BEFORE the general
    // fixedIntervalRewrite runs (r17 review): the rewrite converts
    // INTERVAL '1' MONTH to 30 DAY for ordinary interval arithmetic
    // (the reference's fixed-month rule for ADDition), but the
    // reference's WINDOW duration parser accepts only ns/us/ms/s/m/h/
    // d/w — GROUP BY TUMBLE(ts, INTERVAL '1' MONTH) must error like
    // WINDOW TUMBLING(INTERVAL '1' MONTH) does, not silently run with
    // 30-day windows.
    def rejectCalendarWindow(rawArgs: Vector[Vector[Tok]], fn: String): Unit =
      rawArgs.foreach { a =>
        if (a.nonEmpty && (a.head.kind == TNumber || a.head.isKw("INTERVAL")) &&
            a.exists(tk => tk.kind == TIdent &&
              Set("MONTH", "MONTHS", "YEAR", "YEARS").contains(tk.upper)))
          throw new ParseException(
            s"$fn window size '${a.map(_.text).mkString(" ")}' — MONTH/YEAR are " +
              "not fixed-length window sizes (use e.g. INTERVAL '30' DAY)")
      }
    // ORDER-BY span → `percentile(value, p | (1-(p)))`, shared by the
    // buffered-window and generic OVER percentile arms (two hand-kept
    // copies of the strip-tail + DESC-inversion logic had already
    // drifted; r16 review). Strips a trailing NULLS FIRST/LAST too —
    // percentile ignores nulls, and leaving the tail inside the value
    // expression was a downstream parse error on `ORDER BY v DESC
    // NULLS LAST`. DESC inverts the quantile: PERCENTILE_CONT(p) over
    // a DESC ordering is the value p of the way down from the TOP,
    // i.e. the (1-p) quantile ascending — dropping the DESC without
    // inverting silently returned the wrong percentile.
    def emitPercentileCall(ord: Vector[Tok], p: Vector[Tok]): Unit = {
      var v = ord
      if (v.length >= 2 && (v.last.isKw("FIRST") || v.last.isKw("LAST"))
          && v(v.length - 2).isKw("NULLS")) v = v.dropRight(2)
      val desc = v.nonEmpty && v.last.isKw("DESC")
      val value = if (v.nonEmpty && (v.last.isKw("ASC") || desc)) v.dropRight(1) else v
      out += id("percentile") += sym("(")
      out ++= rewriteTokens(value, defaultTimeCol)
      out += sym(",")
      if (desc) {
        out += sym("(") += Tok(TNumber, "1") += Tok(TSymbol, "-") += sym("(")
        out ++= p
        out += sym(")") += sym(")")
      } else out ++= p
      out += sym(")")
    }
    def isCall(o: Int) = span.lift(o + 1).exists(t => t.kind == TSymbol && t.text == "(")
    // span of a balanced (...) starting at `open` (index of '('); returns index after ')'
    def closeParen(open: Int): Int = {
      var d = 0; var j = open
      while (j < span.length) {
        if (span(j).text == "(") d += 1
        else if (span(j).text == ")") { d -= 1; if (d == 0) return j + 1 }
        j += 1
      }
      throw new ParseException("unbalanced parens")
    }
    // split top-level comma args of the call whose '(' is at `open`.
    // One-slot memo: several rewrite branches scan the SAME call twice —
    // once in the pattern guard, again in the body (DATEDIFF, the
    // PERCENTILE_* guards) — and the balanced-paren walk is O(call
    // length) each time (r14 review).
    // callArgsScan is pure over `span`, so caching by `open` is safe.
    var callArgsMemo: (Int, (Vector[Vector[Tok]], Int)) = (-1, null)
    def callArgs(open: Int): (Vector[Vector[Tok]], Int) = {
      if (callArgsMemo._1 != open) callArgsMemo = (open, callArgsScan(open))
      callArgsMemo._2
    }
    def callArgsScan(open: Int): (Vector[Vector[Tok]], Int) = {
      val end = closeParen(open)
      val inner = span.slice(open + 1, end - 1)
      val args = ArrayBuffer[Vector[Tok]]()
      var cur = ArrayBuffer[Tok]()
      var d = 0
      inner.foreach { t =>
        if (t.text == "(") { d += 1; cur += t }
        else if (t.text == ")") { d -= 1; cur += t }
        else if (t.text == "," && d == 0) { args += cur.toVector; cur = ArrayBuffer[Tok]() }
        else cur += t
      }
      if (cur.nonEmpty || args.nonEmpty) args += cur.toVector
      (args.toVector, end)
    }
    // index of the first token at paren depth 0, from `from`, matching `p`
    def topLevel(toks: Vector[Tok], from: Int)(p: Tok => Boolean): Option[Int] = {
      var d = 0; var j = 0
      while (j < toks.length) {
        if (d == 0 && j >= from && p(toks(j))) return Some(j)
        if (toks(j).text == "(") d += 1 else if (toks(j).text == ")") d -= 1
        j += 1
      }
      None
    }
    // the SQL-standard shapes POSITION(sub IN str) and EXTRACT(field
    // FROM x) in plain call form: (sub, str) and ('FIELD', x)
    def callForm(up: String, args: Vector[Vector[Tok]]): Vector[Vector[Tok]] = args match {
      case Vector(a) if up == "POSITION" =>
        topLevel(a, 0)(_.isKw("IN")).fold(args)(ix => Vector(a.take(ix), a.drop(ix + 1)))
      case Vector(a) if up == "EXTRACT" && a.length >= 3 && a(1).isKw("FROM") =>
        Vector(Vector(Tok(TString, quoteString(a.head.upper))), a.drop(2))
      case _ => args
    }
    // EXTRACT(EPOCH FROM (a - b)) — the reference's epoch of a timestamp
    // DIFFERENCE — is the difference of the two epochs, split on the
    // top-level '-'. `ts - INTERVAL …` is a timestamp, not a difference.
    def epochDifference(up: String, args: Vector[Vector[Tok]]): Option[(Vector[Tok], Vector[Tok])] =
      args match {
        case Vector(Vector(f), v) if up == "EXTRACT" && f.kind == TString &&
            unquoteString(f.text).equalsIgnoreCase("EPOCH") =>
          val inner =
            if (v.headOption.exists(_.text == "(") && topLevel(v, 1)(_ => true).isEmpty)
              v.slice(1, v.length - 1)
            else v
          topLevel(inner, 1)(_.text == "-")
            .filterNot(ix => inner.lift(ix + 1).exists(_.isKw("INTERVAL")))
            .map(ix => (inner.take(ix), inner.drop(ix + 1)))
        case _ => None
      }

    while (i < span.length) {
      val t = span(i)
      val up = t.upper
      // Quantified comparisons (reference docs/sql/subquery-support.md):
      // Catalyst has no ALL/ANY/SOME — rewrite to scalar MIN/MAX
      // subqueries (or IN / NOT IN for the equality forms), preserving
      // SQL empty-set semantics via ±Infinity coalesce (numeric columns,
      // as the reference's threshold semantics assume).
      if (t.kind == TSymbol && Set(">", ">=", "<", "<=", "=", "!=", "<>").contains(t.text)
          && span.lift(i + 1).exists(x => x.isKw("ALL") || x.isKw("ANY") || x.isKw("SOME"))
          && span.lift(i + 2).exists(_.text == "(")) {
        val quant = if (span(i + 1).isKw("ALL")) "ALL" else "ANY"
        val end = closeParen(i + 2)
        val inner = rewriteTokens(span.slice(i + 3, end - 1), defaultTimeCol)
        (t.text, quant) match {
          case ("=", "ANY") =>
            out += id("IN") += sym("(")
            out ++= inner
            out += sym(")")
          case ("!=" | "<>", "ALL") =>
            out += id("NOT") += id("IN") += sym("(")
            out ++= inner
            out += sym(")")
          case (op, q) if Set(">", ">=", "<", "<=").contains(op) =>
            if (!inner.headOption.exists(_.isKw("SELECT")))
              throw new ParseException(s"$op $q expects a subquery")
            val fromIx = {
              var d = 0; var j = 0; var f = -1
              while (j < inner.length && f < 0) {
                if (inner(j).text == "(") d += 1
                if (inner(j).text == ")") d -= 1
                if (d == 0 && inner(j).isKw("FROM")) f = j
                j += 1
              }
              if (f < 0) throw new ParseException(s"$op $q subquery needs FROM"); f
            }
            val sel = inner.slice(1, fromIx)
            val rest = inner.drop(fromIx)
            // ALL keeps the extreme the comparison must clear; empty set
            // coalesces to the identity that makes ALL true / ANY false.
            val (agg, inf) = (op.take(1), q) match {
              case (">", "ALL") => ("MAX", "-Infinity")
              case ("<", "ALL") => ("MIN", "Infinity")
              case (">", "ANY") => ("MIN", "Infinity")
              case ("<", "ANY") => ("MAX", "-Infinity")
              case _ => throw new ParseException(s"unsupported quantified comparison $op $q")
            }
            // ALL: NULLs in the subquery column null-poison the target
            // (CASE WHEN count(*) > count(col) THEN NULL …). Aggregates
            // silently SKIP nulls, so the bare MAX rewrite returned TRUE
            // where standard SQL yields UNKNOWN and filters the row —
            // wrong RESULTS. With the poison every null-bearing ALL case
            // compares UNKNOWN, identical to the standard in WHERE
            // position (the residual x<=max-with-nulls divergence —
            // standard FALSE vs UNKNOWN here — is invisible there).
            // ANY must NOT poison: its TRUE case (x beats some non-null
            // element) is TRUE under the standard regardless of NULLs,
            // and the bare MIN/MAX rewrite is already standard-correct in
            // WHERE (only FALSE-vs-UNKNOWN differs, both filtered).
            //
            // The aggregate runs over a WRAPPED subquery: splicing
            // MAX/MIN into the original select list hoists it ABOVE
            // LIMIT/OFFSET, so a row-bounding LIMIT silently became a
            // no-op on the single aggregate row — the wrap keeps every
            // row-set-shaping clause (LIMIT, OFFSET, DISTINCT) bounding
            // the compared set. The null-detector counts the wrapped
            // column: count(*) = rows of the bounded set (a NULL
            // survives DISTINCT as its own row), count(__graft_qc) =
            // its non-nulls.
            val qc = id("__graft_qc")
            // strip a trailing `AS alias` so the wrapper's alias is the
            // select item's only one
            val selCore =
              if (sel.length >= 2 && sel(sel.length - 2).isKw("AS") && sel.last.kind == TIdent)
                sel.dropRight(2)
              else sel
            out += t += sym("(") += id("SELECT")
            if (q == "ALL") {
              out += id("CASE") += id("WHEN") += id("count") += sym("(") += sym("*") += sym(")")
              out += sym(">") += id("count") += sym("(") += qc += sym(")")
              out += id("THEN") += id("CAST") += sym("(") += id("NULL")
              out += id("AS") += id("DOUBLE") += sym(")")
              out += id("ELSE")
            }
            out += id("coalesce") += sym("(") += id(agg) += sym("(") += qc
            out += sym(")") += sym(",") += id("CAST") += sym("(") += Tok(TString, s"'$inf'")
            out += id("AS") += id("DOUBLE") += sym(")") += sym(")")
            if (q == "ALL") out += id("END")
            out += id("FROM") += sym("(") += id("SELECT")
            out ++= selCore
            out += id("AS") += qc
            out ++= rest
            out += sym(")") += id("__graft_qcsub")
            out += sym(")")
          case (op, q) => throw new ParseException(s"unsupported quantified comparison $op $q")
        }
        i = end
      }
      // OVER (ROWS WINDOW …) must win over the generic call branch:
      // OVER is also an identifier followed by '('.
      else if (t.isKw("OVER") && span.lift(i + 1).exists(_.text == "(")
          && span.lift(i + 2).exists(_.isKw("ROWS")) && span.lift(i + 3).exists(_.isKw("WINDOW"))) {
        val end = closeParen(i + 1)
        // Offset/ranking functions reject explicit frames in Spark (their
        // result is order-based); the buffer frame applies to aggregates.
        val noFrameFns = Set("LAG", "LEAD", "ROW_NUMBER", "RANK", "DENSE_RANK",
          "NTILE", "PERCENT_RANK", "CUME_DIST")
        val precedingFn = {
          var j = out.length - 1
          if (j >= 0 && out(j).text == ")") {
            var d = 0
            while (j >= 0 && !(out(j).text == "(" && d == 1)) {
              if (out(j).text == ")") d += 1
              if (out(j).text == "(") d -= 1
              j -= 1
            }
            if (j > 0) Some(out(j - 1).upper) else None
          } else None
        }
        val withFrame = !precedingFn.exists(noFrameFns.contains)
        out ++= rewriteRowsWindow(span.slice(i + 2, end - 1), defaultTimeCol, withFrame)
        i = end
      }
      // Value-context INTERVAL literals: the reference evaluator
      // collapses EVERY interval to fixed milliseconds before doing
      // timestamp arithmetic (types.rs:1402 interval_to_millis) —
      // MONTH is exactly 30 days and YEAR exactly 365, NOT calendar
      // units, and NANOSECOND/MICROSECOND truncate to whole millis by
      // integer division. Spark's own MONTH/YEAR intervals are
      // calendar-aware (ts + INTERVAL 1 MONTH lands on the same
      // day-of-month) and it has no NANOSECOND unit at all, so these
      // four lower to the equivalent fixed DAY/MILLISECOND literal.
      // Second-and-below units (DAY..MILLISECOND, WEEK) are already
      // fixed-duration in both engines and pass through untouched.
      // interval ± interval (which the reference evaluates to an
      // INTEGER of millis, types.rs:1110) is left to Spark's interval
      // algebra: a plan column can't be millis-int on one row shape
      // and interval on another under static typing, and no reference
      // test exercises the form.
      else if (t.isKw("INTERVAL")
          && span.lift(i + 1).exists(x => x.kind == TNumber || x.kind == TString)
          && span.lift(i + 2).exists(x => fixedIntervalRewrite.contains(x.upper))) {
        val numTok = span(i + 1)
        val raw =
          if (numTok.kind == TString) numTok.text.substring(1, numTok.text.length - 1).trim
          else numTok.text
        raw.toLongOption match {
          case Some(n) =>
            val (toFixed, unit) = fixedIntervalRewrite(span(i + 2).upper)
            out += id("INTERVAL") += Tok(TString, s"'${toFixed(n)}'") += id(unit)
            i += 3
          case None =>
            // non-i64 quantity: the reference parser only admits i64
            // interval values — pass through and let Spark's own
            // interval parsing accept or reject it
            out += t; i += 1
        }
      } else if (t.kind == TIdent && isCall(i)) {
        up match {
          case "TUMBLE" =>
            // Flink-style grouping form (watermarks-time-semantics.md):
            // GROUP BY …, TUMBLE(ts, INTERVAL '5' MINUTE) → Spark's
            // native window() grouping expression
            val (args0, end) = callArgs(i + 1)
            rejectCalendarWindow(args0, "TUMBLE")
            val args = args0.map(rewriteTokens(_, defaultTimeCol))
            val (tsArg, dur) = args match {
              case Vector(a, b) => parseDuration(b).map(d => (a, Option(d)))
                .getOrElse((b, parseDuration(a)))
              case _ => throw new ParseException("TUMBLE expects (ts, duration)")
            }
            val s = dur.getOrElse(throw new ParseException("TUMBLE needs a duration"))
            out += id("window") += sym("(")
            out ++= tsArg
            out += sym(",") += Tok(TString, s"'$s seconds'") += sym(")")
            i = end
          case "HOP" =>
            // Flink-style GROUP BY HOP(ts, slide, size) → Spark's native
            // sliding window(ts, size, slide); without this case the
            // aggWrap check accepts the statement but hop() reaches
            // Catalyst as an undefined function
            val (args0, end) = callArgs(i + 1)
            rejectCalendarWindow(args0, "HOP")
            val args = args0.map(rewriteTokens(_, defaultTimeCol))
            args match {
              case Vector(a, b, c) =>
                val slide = parseDuration(b).getOrElse(
                  throw new ParseException("HOP expects (ts, slide, size) durations"))
                val size = parseDuration(c).getOrElse(
                  throw new ParseException("HOP expects (ts, slide, size) durations"))
                out += id("window") += sym("(")
                out ++= a
                out += sym(",") += Tok(TString, s"'$size seconds'")
                out += sym(",") += Tok(TString, s"'$slide seconds'") += sym(")")
              case _ => throw new ParseException("HOP expects (ts, slide, size)")
            }
            i = end
          case "SESSION" =>
            // Flink-style GROUP BY SESSION(ts, gap) → session_window()
            // (the enclosing isCall guard ensures this is a call form)
            val (args0, end) = callArgs(i + 1)
            rejectCalendarWindow(args0, "SESSION")
            val args = args0.map(rewriteTokens(_, defaultTimeCol))
            val (tsArg, gap) = args match {
              case Vector(a, b) => parseDuration(b).map(d => (a, Option(d)))
                .getOrElse((b, parseDuration(a)))
              case _ => throw new ParseException("SESSION expects (ts, gap)")
            }
            val g = gap.getOrElse(throw new ParseException("SESSION needs a gap duration"))
            out += id("session_window") += sym("(")
            out ++= tsArg
            out += sym(",") += Tok(TString, s"'$g seconds'") += sym(")")
            i = end
          case "TUMBLE_START" | "TUMBLE_END" =>
            val (args0, end) = callArgs(i + 1)
            rejectCalendarWindow(args0, up)
            val args = args0.map(rewriteTokens(_, defaultTimeCol))
            val (tsArg, dur) = args match {
              case Vector(a) => (Vector(id(defaultTimeCol)), parseDuration(a))
              case Vector(a, b) => parseDuration(b).map(d => (a, Option(d)))
                .getOrElse((b, parseDuration(a)))
              case _ => throw new ParseException(s"$up expects (ts, duration)")
            }
            val s = dur.getOrElse(throw new ParseException(s"$up needs a duration"))
            // the bucket itself is the dialectFunctions row
            // (VeloExprs.epochBucket); group-constant inside a windowed
            // aggregation → MIN-wrapped there
            if (aggWrap) { out += id("MIN") += sym("(") }
            out += id(VeloExprs.dialectFunction(up).get.veloName) += sym("(")
            out ++= tsArg
            out += sym(",") += Tok(TNumber, s.toString) += sym(")")
            if (aggWrap) { out += sym(")") }
            i = end
          case "PERCENTILE_CONT" | "PERCENTILE_DISC"
            if {
              val (_, e) = callArgs(i + 1)
              span.lift(e).exists(_.isKw("OVER")) && span.lift(e + 1).exists(_.text == "(")
            } =>
            // Spark's windowed percentile is CONTINUOUS: silently mapping
            // PERCENTILE_DISC here would interpolate where the user asked
            // for an actual row value — honest rejection beats a wrong
            // number
            if (up == "PERCENTILE_DISC")
              throw new ParseException(
                "PERCENTILE_DISC(p) OVER (...) is not supported (Spark's windowed " +
                  "percentile is continuous); use PERCENTILE_CONT(p) OVER (...) or the " +
                  "aggregate form PERCENTILE_DISC(expr, p)")
            // Window inverse-distribution form (reference
            // docs/sql/functions/advanced.md): PERCENTILE_CONT(p) OVER
            // (PARTITION BY k ORDER BY v [frame]) → Spark's windowed
            // percentile aggregate: percentile(v, p) OVER (PARTITION BY k
            // [ORDER BY v frame]). Without an explicit frame the
            // percentile is over the whole partition (the reference's
            // full-buffer semantics); with a ROWS frame it is a moving
            // percentile, so order+frame are kept.
            val (args, endCall) = callArgs(i + 1)
            val p = args.head
            val overEnd = closeParen(endCall + 1)
            val overInner = span.slice(endCall + 2, overEnd - 1)
            // buffered-window form: PERCENTILE_CONT(p) OVER (ROWS WINDOW
            // BUFFER n ROWS ... ORDER BY v). The generic frame scan below
            // would swallow the whole spec from its leading ROWS keyword
            // and die on "needs ORDER BY" — the dialect's PRIMARY
            // buffered-window OVER form could never carry a percentile.
            // Extract the buffer's ORDER BY value and reuse
            // rewriteRowsWindow for the OVER clause itself.
            if (overInner.headOption.exists(_.isKw("ROWS"))
                && overInner.lift(1).exists(_.isKw("WINDOW"))) {
              val stops2 = Set("PARTITION", "ORDER", "ROWS", "RANGE", "EMIT", "EXPIRE")
              var k = 0
              var ord = Vector.empty[Tok]
              while (k < overInner.length && ord.isEmpty) {
                if (overInner(k).isKw("ORDER") && overInner.lift(k + 1).exists(_.isKw("BY"))) {
                  val (s, nk) = spanUntilKw(overInner, k + 2, stops2)
                  ord = s; k = nk
                } else k += 1
              }
              if (ord.isEmpty)
                throw new ParseException(s"$up OVER (ROWS WINDOW ...) needs ORDER BY <value>")
              emitPercentileCall(ord, p)
              out ++= rewriteRowsWindow(overInner, defaultTimeCol, withFrame = true)
              i = overEnd
            } else {
            var j = 0
            def atj(kw: String, o: Int = 0) = overInner.lift(j + o).exists(_.isKw(kw))
            var partition = Vector.empty[Tok]; var order = Vector.empty[Tok]; var frame = Vector.empty[Tok]
            def spanUntil2(stops: Set[String]): Vector[Tok] = {
              val (s, nj) = spanUntilKw(overInner, j, stops); j = nj; s
            }
            while (j < overInner.length) {
              if (atj("PARTITION") && atj("BY", 1)) { j += 2; partition = spanUntil2(Set("ORDER", "ROWS", "RANGE")) }
              else if (atj("ORDER") && atj("BY", 1)) { j += 2; order = spanUntil2(Set("ROWS", "RANGE")) }
              // the frame span starts WITH the ROWS/RANGE keyword — no
              // stop on it, or the scan makes no progress
              else if (atj("ROWS") || atj("RANGE")) { frame = spanUntil2(Set.empty) }
              else j += 1
            }
            if (order.isEmpty) throw new ParseException(s"$up OVER (...) needs ORDER BY <value>")
            emitPercentileCall(order, p)
            out += id("OVER") += sym("(")
            // rewrite the PARTITION BY / ORDER BY expression spans —
            // same raw-emission bug as rewriteRowsWindow (r14 review)
            if (partition.nonEmpty) {
              out += id("PARTITION") += id("BY")
              out ++= rewriteTokens(partition, defaultTimeCol)
            }
            if (frame.nonEmpty) {
              out += id("ORDER") += id("BY")
              out ++= rewriteTokens(order, defaultTimeCol)
              out ++= frame
            }
            out += sym(")")
            i = overEnd
            }
          case "PERCENTILE_CONT" | "PERCENTILE_DISC"
            if {
              val (_, e) = callArgs(i + 1)
              span.lift(e).exists(_.isKw("WITHIN"))
            } =>
            // standard inverse-distribution form PERCENTILE_CONT(p)
            // WITHIN GROUP (ORDER BY v) — Spark executes it natively;
            // stream the tokens through unchanged
            out += t
            i += 1
          // Spark's own DATEDIFF(end, start) and DATEDIFF(DAY, a, b)
          // grammar pass through: only the reference's string-unit form
          // DATEDIFF('days', a, b) is the dialect function
          case "DATEDIFF" if {
            val (a, _) = callArgs(i + 1)
            !(a.length == 3 && a.head.length == 1 && a.head.head.kind == TString)
          } =>
            out += t
            i += 1
          case _ => VeloExprs.dialectFunction(up) match {
            case Some(f) =>
              // a dialect function: renamed to its velo_ registration,
              // whose builder holds the semantics (VeloExprs); arity is
              // checked here so a bad call fails at parse time
              val (raw, end) = callArgs(i + 1)
              val args = callForm(up, raw)
              f.arityError(up, args.length).foreach(m => throw new ParseException(m))
              if (args.exists(_.isEmpty)) throw new ParseException(s"$up has an empty argument")
              def call(as: Vector[Vector[Tok]]): Unit = {
                out += id(f.veloName) += sym("(")
                as.zipWithIndex.foreach { case (a, k) =>
                  if (k > 0) out += sym(",")
                  out ++= rewriteTokens(a, defaultTimeCol, aggWrap)
                }
                out += sym(")")
              }
              epochDifference(up, args) match {
                case Some((l, r)) =>
                  out += sym("(")
                  call(Vector(args(0), l))
                  out += Tok(TSymbol, "-")
                  call(Vector(args(0), r))
                  out += sym(")")
                case None => call(args)
              }
              i = end
            case None =>
              out += t
              i += 1
          }
        }
      } else if (t.kind == TSymbol && t.text == "~") {
        // postgres-style regex-match operator — routed through the SAME
        // Rust-parity kernel as the REGEXP function (r17 review: the
        // old RLIKE lowering compiled Java-default classes — ASCII
        // \w/\s, no (?P< spelling — so the two spellings of one
        // reference operator gave different answers on the same data).
        // `<primary> ~ <primary>` rewrites to velo_regexp(lhs, rhs) by
        // popping the just-emitted primary operand and capturing the
        // next; both sides are PRIMARY operands (ident chains, calls,
        // literals, parenthesized groups) — patterns are in practice
        // string literals.
        val lhs = popPrimaryOperand(out)
        val (rhsRaw, after) = primaryOperandSpan(span, i + 1)
        if (lhs.isEmpty || rhsRaw.isEmpty)
          throw new ParseException("'~' needs expressions on both sides")
        out += id("velo_regexp") += sym("(")
        out ++= lhs
        out += sym(",")
        out ++= rewriteTokens(rhsRaw, defaultTimeCol)
        out += sym(")")
        i = after
      } else {
        out += t
        i += 1
      }
    }
    out.toVector
  }

  /** `ROWS WINDOW BUFFER n ROWS [PARTITION BY …] [ORDER BY …]
    * [ROWS|RANGE BETWEEN …] [EMIT …]` (the OVER-parens content) →
    * standard `OVER (PARTITION BY … ORDER BY … ROWS BETWEEN
    * min(n-1, frame) PRECEDING AND CURRENT ROW)`. The batch analog of
    * the reference's bounded row buffer is the trailing-n frame; the
    * continuous EMIT mode is the streaming runner's concern
    * (StreamOps.rowsBufferAgg). A missing ORDER BY (arrival order in the
    * reference) becomes ORDER BY the default time column. */
  /** Scan `toks` from `start` until a top-level identifier in `stops`
    * (paren depth tracked); returns (span, index after span). The ONE
    * scanner behind every OVER / ROWS-WINDOW clause splitter — three
    * hand-rolled copies of this loop had divergent stop sets to keep in
    * sync (r14 review). Stop-set DIFFERENCES between call sites are
    * semantic (EMIT/EXPIRE exist only inside ROWS WINDOW specs) and stay
    * at the call sites.
    */
  private def spanUntilKw(toks: Vector[Tok], start: Int,
                          stops: Set[String]): (Vector[Tok], Int) = {
    val out = ArrayBuffer[Tok]()
    var j = start
    var d = 0
    while (j < toks.length &&
           !(d == 0 && toks(j).kind == TIdent && stops.contains(toks(j).upper))) {
      if (toks(j).text == "(") d += 1
      if (toks(j).text == ")") d -= 1
      out += toks(j); j += 1
    }
    (out.toVector, j)
  }

  private def rewriteRowsWindow(inner: Vector[Tok], defaultTimeCol: String,
                                withFrame: Boolean = true): Vector[Tok] = {
    var i = 0
    def at(kw: String, o: Int = 0) = inner.lift(i + o).exists(_.isKw(kw))
    if (!(at("ROWS") && at("WINDOW", 1) && at("BUFFER", 2))) throw new ParseException("malformed ROWS WINDOW")
    i += 3
    val n = inner.lift(i).map(_.text).flatMap(_.toLongOption)
      .getOrElse(throw new ParseException("BUFFER expects a row count"))
    // n = 0 would render "ROWS BETWEEN -1 PRECEDING" — an analysis
    // error far from the query text; reject at parse time
    if (n < 1) throw new ParseException(s"BUFFER must be >= 1 ROWS, got $n")
    i += 1
    if (!at("ROWS")) throw new ParseException("expected ROWS after BUFFER n")
    i += 1
    def spanUntil(stops: Set[String]): Vector[Tok] = {
      val (s, nj) = spanUntilKw(inner, i, stops); i = nj; s
    }
    var partition = Vector.empty[Tok]
    var order = Vector.empty[Tok]
    var frame = Vector.empty[Tok]
    val stops = Set("PARTITION", "ORDER", "ROWS", "RANGE", "EMIT", "EXPIRE")
    while (i < inner.length) {
      if (at("PARTITION") && at("BY", 1)) { i += 2; partition = spanUntil(stops) }
      else if (at("ORDER") && at("BY", 1)) { i += 2; order = spanUntil(stops) }
      else if (at("ROWS") || at("RANGE")) { frame = spanUntil(Set("EMIT", "EXPIRE")) }
      else if (at("EMIT")) {
        // RowsEmitMode (ast.rs:567): CHANGES|FINAL, EVERY RECORD
        // (default per-record emission), ON BUFFER FULL / ON
        // BUFFER_FULL (batch-like). Emission cadence is the streaming
        // runner's concern; the batch trailing-frame rewrite is
        // identical for all of them.
        i += 1
        if (at("CHANGES") || at("FINAL")) i += 1
        else if (at("EVERY") && at("RECORD", 1)) i += 2
        else if (at("ON") && at("BUFFER_FULL", 1)) i += 2
        else if (at("ON") && at("BUFFER", 1) && at("FULL", 2)) i += 3
        else throw new ParseException("malformed EMIT mode in ROWS WINDOW")
      }
      else if (at("EXPIRE") && at("AFTER", 1)) {
        // RowExpirationMode (ast.rs:580): EXPIRE AFTER NEVER |
        // EXPIRE AFTER INTERVAL 'n' unit INACTIVITY. Buffer eviction
        // on inactivity gaps is stream-state housekeeping; the batch
        // rewrite sees the full partition, so it is a no-op here.
        i += 2
        if (at("NEVER")) i += 1
        else {
          if (at("INTERVAL")) i += 1
          if (i < inner.length && (inner(i).kind == TString || inner(i).kind == TNumber)) i += 1
          else throw new ParseException("expected interval literal in EXPIRE AFTER")
          if (i < inner.length && inner(i).kind == TIdent) i += 1 // unit
          if (at("INACTIVITY")) i += 1
          else throw new ParseException("expected INACTIVITY after EXPIRE AFTER interval")
        }
      }
      else throw new ParseException(s"unexpected token in ROWS WINDOW: ${inner(i).text}")
    }
    val out = ArrayBuffer[Tok]()
    def id(s: String) = Tok(TIdent, s)
    out += id("OVER") += Tok(TSymbol, "(")
    // PARTITION BY / ORDER BY spans are EXPRESSIONS — they must pass
    // through the dialect function rewrites like every other expression
    // position (raw emission left LEN un-renamed — silently
    // char-counting via Spark's native len — and dialect-only forms
    // like JSON_VALUE dying as undefined functions; r14 review, the
    // same bug class the r12 namedWindows fix addressed)
    if (partition.nonEmpty) {
      out += id("PARTITION") += id("BY")
      out ++= rewriteTokens(partition, defaultTimeCol)
    }
    out += id("ORDER") += id("BY")
    if (order.nonEmpty) out ++= rewriteTokens(order, defaultTimeCol)
    else out += id(defaultTimeCol)
    if (withFrame) {
      if (frame.nonEmpty) out ++= capFrameAtBuffer(frame, n)
      else {
        out += id("ROWS") += id("BETWEEN") += Tok(TNumber, (n - 1).toString) += id("PRECEDING")
        out += id("AND") += id("CURRENT") += id("ROW")
      }
    }
    out += Tok(TSymbol, ")")
    out.toVector
  }

  /** Cap an explicit ROWS frame's PRECEDING reach at the buffer size:
    * the reference's ring holds only `n` rows, so `100 PRECEDING` over
    * a BUFFER 10 ROWS window can see at most 9 back — passing the
    * frame through verbatim would silently aggregate rows the
    * reference's buffer never held. UNBOUNDED PRECEDING likewise pins
    * to n-1. RANGE frames are value-based and pass through (a row cap
    * is not expressible on them). */
  private def capFrameAtBuffer(frame: Vector[Tok], n: Long): Vector[Tok] =
    if (!frame.headOption.exists(_.isKw("ROWS"))) frame
    else {
      // the reference's ring is a TRAILING buffer — it never holds
      // future rows, so a FOLLOWING end bound would aggregate rows the
      // buffer never saw (the exact divergence this cap exists to
      // prevent); reject instead of passing it through
      if (frame.exists(_.isKw("FOLLOWING")))
        throw new ParseException(
          "a ROWS WINDOW BUFFER frame cannot reach FOLLOWING rows (the buffer is trailing)")
      frame.zipWithIndex.map { case (t, ix) =>
        if (frame.lift(ix + 1).exists(_.isKw("PRECEDING"))) {
          if (t.kind == TNumber) Tok(TNumber, math.min(t.text.toLong, n - 1).toString)
          else if (t.isKw("UNBOUNDED")) Tok(TNumber, (n - 1).toString)
          else t
        } else t
      }
    }

  // ==================== Spark SQL emission ====================

  /** Emit Spark SQL for a parsed SELECT. A time-window spec becomes a
    * native `window()` / `session_window()` GROUP BY item with
    * `window_start` / `window_end` epoch-second output columns —
    * Catalyst's own streaming-ready windowing, not a custom operator.
    *
    * `timeColOf`: each stream's registered event-time column by view
    * name (VeloContext.streamTimeCol) — the WITHIN band must reference
    * the WATERMARKED columns, not the context default, or the band
    * lands on the wrong column whenever the names diverge. */
  def toSparkSql(s: SelectStmt, defaultTimeCol: String = "ts",
                 timeColOf: String => Option[String] = _ => None): String = {
    val sb = new StringBuilder(if (s.distinct) "SELECT DISTINCT " else "SELECT ")
    // direct CAST (floorDiv on micros), not unix_timestamp(…): tumbling
    // boundaries are integral seconds either way, but SESSION boundaries
    // are raw event timestamps — a pre-1970 fractional session start
    // would surface one second apart under truncation (r11 oracle audit)
    val winCols: Seq[String] = s.window match {
      case Some(_: Session) => Seq(
        "CAST(session_window.start AS BIGINT) AS window_start",
        "CAST(session_window.end AS BIGINT) AS window_end")
      case Some(_) => Seq(
        "CAST(window.start AS BIGINT) AS window_start",
        "CAST(window.end AS BIGINT) AS window_end")
      case None => Nil
    }
    sb.append((s.fields.map(render) ++ winCols).mkString(", "))
    if (s.from.nonEmpty) {
      sb.append(" FROM ").append(s.from)
      s.fromAlias.foreach(a => sb.append(" AS ").append(a))
    }
    s.joins.foreach { j =>
      val band = j.withinSeconds.map { sec =>
        // time-proximity band on the two streams' REGISTERED event-time
        // columns (falling back to the context default). Rendered as
        // direct interval bounds, NOT abs(unix_timestamp(l) -
        // unix_timestamp(r)) <= N: Spark's StreamingJoinHelper can only
        // derive a state-eviction watermark from plain +/- interval
        // arithmetic on the watermarked columns — the abs()/
        // unix_timestamp() form kept BOTH sides' join state forever (a
        // continuous job grows state with total input and OOMs), and
        // unix_timestamp's second-truncation admitted pairs just
        // outside the band.
        val tc = defaultTimeCol.split('.').last
        val lq = s.fromAlias.getOrElse(s.from)
        val rq = j.alias.getOrElse(j.table)
        // an unaliased DERIVED table has no name the band can qualify:
        // the fallback would render "( SELECT … ).ts" — a Catalyst parse
        // error far from the dialect input. Require the alias with a
        // clear message instead (r14 review).
        if (lq.trim.startsWith("("))
          throw new ParseException(
            "WITHIN needs an alias on the derived left table: FROM (SELECT …) AS name")
        if (rq.trim.startsWith("("))
          throw new ParseException(
            "WITHIN needs an alias on the derived join table: JOIN (SELECT …) AS name")
        val ltc = timeColOf(s.from).getOrElse(tc)
        val rtc = timeColOf(j.table).getOrElse(tc)
        s"$rq.$rtc >= $lq.$ltc - INTERVAL $sec SECOND AND " +
          s"$rq.$rtc <= $lq.$ltc + INTERVAL $sec SECOND"
      }
      // a band with no ON clause (CROSS JOIN … WITHIN — the pure
      // time-proximity join) becomes the join's ON predicate; CROSS
      // takes no ON in Spark SQL, so it renders as the equivalent
      // INNER JOIN ON band ('AND' with no 'ON' would be invalid SQL)
      val jt = if (j.on.isEmpty && band.isDefined && j.joinType == "CROSS") "INNER" else j.joinType
      sb.append(' ').append(jt).append(" JOIN ").append(j.table)
      j.alias.foreach(a => sb.append(" AS ").append(a))
      (j.on.nonEmpty, band) match {
        // the ON clause is PARENTHESIZED before ANDing the band: AND
        // binds tighter than OR, so `ON a = b OR c = d WITHIN 5m`
        // rendered bare would let the OR's left disjunct escape the
        // time constraint entirely
        case (true, Some(b)) =>
          sb.append(" ON (").append(render(j.on)).append(") AND (").append(b).append(')')
        case (true, None) => sb.append(" ON ").append(render(j.on))
        case (false, Some(b)) => sb.append(" ON ").append(b)
        case (false, None) => ()
      }
    }
    s.where.foreach(w => sb.append(" WHERE ").append(render(w)))
    val winGroup: Option[String] = s.window.map { w =>
      val ts = w.timeCol.getOrElse(defaultTimeCol)
      val fn = w match {
        case Tumbling(sz, _, _) => s"window($ts, '$sz seconds')"
        case Sliding(sz, adv, _, _) => s"window($ts, '$sz seconds', '$adv seconds')"
        case Session(gap, _, _) => s"session_window($ts, '$gap seconds')"
      }
      // trailing partition-key window args become grouping keys ahead
      // of the window item (a duplicate with an explicit GROUP BY key
      // is harmless — SQL tolerates repeated grouping expressions)
      (w.partitionCols :+ fn).mkString(", ")
    }
    (s.groupBy, winGroup) match {
      case (Some(g), Some(w)) => sb.append(" GROUP BY ").append(render(g)).append(", ").append(w)
      case (Some(g), None) => sb.append(" GROUP BY ").append(render(g))
      case (None, Some(w)) => sb.append(" GROUP BY ").append(w)
      case (None, None) =>
    }
    s.having.foreach(h => sb.append(" HAVING ").append(render(h)))
    s.namedWindows.foreach(w => sb.append(" WINDOW ").append(render(w)))
    s.orderBy.foreach(o => sb.append(" ORDER BY ").append(render(o)))
    s.limit.foreach(l => sb.append(" LIMIT ").append(l))
    sb.toString
  }
}
