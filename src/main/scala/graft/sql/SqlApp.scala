package graft.sql

import org.apache.spark.sql.{Column, DataFrame, Row}

import VeloSqlParser.ParseException

/** Deployable SQL application files: a `.sql` text with comment-
  * annotation metadata headers, per-statement names/properties, and
  * `${ENV_VAR}` substitution — the reference's application format
  * (src/velostream/sql/app_parser.rs, annotation grammar at
  * extract_metadata :304-460; tests/unit/sql/system/
  * node_identification_test.rs).
  *
  * ```sql
  * -- SQL Application: E-commerce Analytics
  * -- Version: 1.2.0
  * -- @deployment.node_id: prod-${NODE:server-1}
  *
  * -- Name: high_value
  * -- Property: buffer.size = 1000
  * CREATE STREAM big AS SELECT * FROM orders WHERE amount > 100;
  * ```
  *
  * All parsing is driver-side string work on a small file; execution
  * delegates each statement to `VeloContext` (Catalyst plans, cluster
  * execution).
  */
object SqlApp {

  final case class AppMetadata(
      name: String,
      version: String = "1.0.0",
      description: Option[String] = None,
      author: Option[String] = None,
      dependencies: Vector[String] = Vector.empty,
      tags: Map[String, String] = Map.empty,
      application: Option[String] = None,
      phase: Option[String] = None,
      slaLatencyP99: Option[String] = None,
      slaAvailability: Option[String] = None,
      dataRetention: Option[String] = None,
      compliance: Option[String] = None,
      observabilityMetrics: Option[Boolean] = None,
      observabilityTracing: Option[Boolean] = None,
      observabilityProfiling: Option[String] = None, // off | dev | prod
      observabilityErrorReporting: Option[Boolean] = None,
      deploymentNodeId: Option[String] = None,
      deploymentNodeName: Option[String] = None,
      deploymentRegion: Option[String] = None,
      /** Unrecognized `-- @key: value` annotations (e.g. @job_mode,
        * @batch_size, @num_partitions in the reference's demo apps),
        * kept verbatim for the deployment layer. */
      extra: Map[String, String] = Map.empty)

  /** An observability metric a statement emits (reference
    * parser/annotations.rs + sql_metrics_integration_test.rs):
    * `-- @metric: name` opens a spec; `-- @metric_type:`,
    * `-- @metric_help:`, `-- @metric_labels: a, b`,
    * `-- @metric_field: col` (required for gauge/histogram; a counter
    * with a field increments by the field value),
    * `-- @metric_buckets: 100, 500, …` (histogram `le` boundaries,
    * positive ascending), `-- @metric_condition: <sql expr>` (only
    * matching records feed the metric — reference annotations.rs:294,
    * conditions parsed once and evaluated per record) and
    * `-- @metric_sample_rate: 0.0-1.0` (reference annotations.rs:299;
    * out-of-range is a parse error like the reference's) refine it.
    * Sampling here is DETERMINISTIC — a stable hash of the full row
    * modulo the rate — so a replayed batch samples identically and the
    * oracle can re-derive the exact count (the reference's intent is
    * statistical overhead reduction; determinism is strictly stronger). */
  final case class MetricSpec(name: String, metricType: String = "counter",
                              help: Option[String] = None,
                              labels: Vector[String] = Vector.empty,
                              field: Option[String] = None,
                              buckets: Vector[Double] = Vector.empty,
                              condition: Option[String] = None,
                              sampleRate: Double = 1.0)

  /** One Prometheus sample: (name suffix, labels, value). The suffix is
    * `_bucket`, `_sum` or `_count` for a histogram and empty otherwise. */
  type Sample = (String, Map[String, String], Double)

  // ---- the one `@metric` rule (docs/DIALECT.md "`@metric`
  //      annotations"): a batch statement, a streaming job's observe()
  //      and its changelog hook all gate, aggregate and decode here ----

  /** Which records feed `m`: its `@metric_condition` and its
    * deterministic sample, a full-row xxhash64 mod 10⁶ against
    * rate·10⁶, so a replayed batch samples the identical subset.
    * Applied as a `where` before a `groupBy`, so a label group with no
    * matching rows stays absent, and as `when` inside an `observe`
    * aggregate, where a `where` cannot go. */
  private[sql] def metricGate(df: DataFrame, m: MetricSpec): Option[Column] = {
    import org.apache.spark.sql.functions.{expr, lit, pmod, xxhash64}
    val sample =
      if (m.sampleRate < 1.0)
        Some(pmod(xxhash64(sampleHashCols(df): _*), lit(1000000L)) < lit((m.sampleRate * 1000000L).toLong))
      else None
    (m.condition.map(expr) ++ sample).reduceOption(_ && _)
  }

  /** The columns the sampling hash covers: every column whose type
    * xxhash64 can hash. A MapType (the `_headers` map registerStreamLike
    * attaches) fails analysis outright; an all-map row degrades to a
    * constant hash, all-or-nothing sampling rather than a crash. Names
    * are backtick-quoted, as a bare `col("a.b")` reads nested access. */
  private def sampleHashCols(df: DataFrame): Seq[Column] = {
    import org.apache.spark.sql.functions.{col, lit}
    val cs = df.schema.fields.filter(f => graft.operators.Cols.hashable(f.dataType))
      .map(f => col(s"`${f.name.replace("`", "``")}`")).toSeq
    if (cs.nonEmpty) cs else Seq(lit(1))
  }

  /** `m`'s aggregates over its gated records, as one struct column:
    *  - counter: the sum of `@metric_field`, or the row count;
    *  - gauge: the last non-null `@metric_field` ("last" follows
    *    partition order, so order or single-partition the input when
    *    the exact value matters);
    *  - histogram: count, sum, then one count per `le` boundary. */
  private[sql] def metricAggregate(m: MetricSpec, gate: Option[Column]): Column = {
    import org.apache.spark.sql.functions.{col, count, last, lit, struct, sum, when}
    val raw = m.field.fold(lit(1.0))(f => col(f).cast("double"))
    val v = gate.fold(raw)(when(_, raw))
    val aggs = m.metricType match {
      case "counter" => Seq(if (m.field.isDefined) sum(v) else count(v))
      case "gauge" => Seq(last(v, ignoreNulls = true))
      case _ => Seq(count(v), sum(v)) ++ m.buckets.map(b => sum(when(v <= b, 1L).otherwise(0L)))
    }
    struct(aggs: _*)
  }

  /** A [[metricAggregate]] value as samples: a null gauge emits nothing
    * (it keeps its last real value, never a fabricated 0), a count or
    * sum of nothing is 0, and a histogram expands to cumulative
    * `_bucket`s, `le="+Inf"`, `_sum` and `_count`. */
  private[sql] def metricSamples(m: MetricSpec, labels: Map[String, String], agg: Row): Vector[Sample] = {
    def num(i: Int): Option[Double] = if (agg.isNullAt(i)) None else Some(agg.getAs[Number](i).doubleValue)
    def orZero(i: Int): Double = num(i).getOrElse(0.0)
    def le(b: String) = labels + ("le" -> b)
    m.metricType match {
      case "counter" => Vector(("", labels, orZero(0)))
      case "gauge" => num(0).map(("", labels, _)).toVector
      case _ =>
        m.buckets.zipWithIndex.map { case (b, i) =>
          ("_bucket", le(if (b.isWhole) b.toLong.toString else b.toString), orZero(2 + i))
        } ++ Vector(("_bucket", le("+Inf"), orZero(0)), ("_sum", labels, orZero(1)), ("_count", labels, orZero(0)))
    }
  }

  /** `m` over a batch frame in one `groupBy(labels).agg` pass, each
    * group's labels plus `extra`. Label values are read by position: a
    * `@metric_labels` casing variant resolves in `groupBy`, but the
    * output column keeps its defined name. */
  private[sql] def collectMetric(df: DataFrame, m: MetricSpec,
                                 extra: Map[String, String] = Map.empty): Vector[Sample] = {
    import org.apache.spark.sql.functions.col
    metricGate(df, m).fold(df)(df.where).groupBy(m.labels.map(col): _*)
      .agg(metricAggregate(m, None)).collect().toVector.flatMap { r =>
        val labels = m.labels.indices.map(i => m.labels(i) -> String.valueOf(r.get(i))).toMap ++ extra
        metricSamples(m, labels, r.getStruct(m.labels.length))
      }
  }

  /** One statement with its attached annotations:
    *  - `-- @metric…` — see [[MetricSpec]]; which collector serves
    *    which statement is set out once in docs/DIALECT.md, "`@metric`
    *    annotations".
    *  - `-- @partition-count: n` — the statement's parallelism hint;
    *    `run` applies it as `repartition(n)` on the result (the Spark
    *    realization of the reference's V2 partition count). Invalid
    *    numbers are ignored, as the reference's parser does.
    *  - `-- @sticky-partition-id: id` — pin-to-partition hint, recorded
    *    as metadata (single-partition routing is a sink concern).
    *  - `-- @job_mode: simple|transactional|adaptive`, `-- @batch_size:
    *    n`, `-- @num_partitions: n`, `-- @partitioning_strategy:
    *    sticky|hash|smart|roundrobin|fanin` — the reference's job
    *    processor annotations (annotation_parser.rs:204-208, strategy
    *    aliases per ast.rs:124-128; unknown strategy values are ignored
    *    like the reference's debug-and-None). On a START/DEPLOY JOB
    *    statement these configure the launched job: num_partitions +
    *    strategy apply physically before the sink (see
    *    JobManager.applyPartitioning); job_mode/batch_size are recorded
    *    — exactly-once and adaptive execution are what the Spark
    *    runtime already provides (checkpointed sinks, AQE), and batch
    *    sizing is a per-SOURCE option in Spark, not a sink-side knob. */
  final case class AppStatement(id: String, name: Option[String], sql: String,
                                properties: Map[String, String], order: Int,
                                metrics: Vector[MetricSpec] = Vector.empty,
                                partitionCount: Option[Int] = None,
                                stickyPartitionId: Option[Int] = None,
                                jobMode: Option[String] = None,
                                batchSize: Option[Int] = None,
                                numPartitions: Option[Int] = None,
                                partitioningStrategy: Option[String] = None)

  final case class SqlApplication(metadata: AppMetadata, statements: Vector[AppStatement])

  /** Resolve `${VAR}`, `${VAR:default}` and priority chains
    * `${A|B:default}` (first set variable wins; a default on the LAST
    * link is the fallback). `NODE_ID` falls back to the local hostname —
    * the reference's node-identification special case. Unresolvable
    * specs keep their spec text, as the reference does. */
  def resolvePattern(pattern: String, env: String => Option[String] = sys.env.get): String = {
    if (!pattern.contains("${")) return pattern
    val sb = new StringBuilder
    var i = 0
    while (i < pattern.length) {
      val start = pattern.indexOf("${", i)
      if (start < 0) { sb.append(pattern.substring(i)); i = pattern.length }
      else {
        val end = pattern.indexOf('}', start)
        if (end < 0) { sb.append(pattern.substring(i)); i = pattern.length }
        else {
          sb.append(pattern.substring(i, start))
          sb.append(resolveVarSpec(pattern.substring(start + 2, end), env))
          i = end + 1
        }
      }
    }
    sb.toString
  }

  private def hostname(): Option[String] =
    try Option(java.net.InetAddress.getLocalHost.getHostName).filter(_.nonEmpty)
    catch { case _: Throwable => None }

  private def resolveVarSpec(spec: String, env: String => Option[String]): String = {
    // split drops trailing empty strings, so a spec of only '|' chars
    // ('${|}') yields ZERO links — links.last below would then throw
    // NoSuchElementException (not ParseException) straight through the
    // validator's pre-deploy gate instead of the documented keep-the-
    // spec-text behavior (r17 review)
    if (spec.forall(_ == '|')) return spec
    val links = spec.split('|').toSeq.map { part =>
      part.indexOf(':') match {
        case -1 => (part, Option.empty[String])
        case c => (part.substring(0, c), Some(part.substring(c + 1)))
      }
    }
    // first SET variable wins — across the WHOLE chain before any
    // fallback applies. The NODE_ID hostname is a fallback, not a set
    // variable: resolving it mid-chain would shadow a set variable in
    // a later link, and a mid-chain default must not short-circuit
    // either (only the LAST link's default is the chain fallback).
    links.collectFirst { case (n, _) if env(n).isDefined => env(n).get }
      .orElse(if (links.exists(_._1 == "NODE_ID")) hostname() else None)
      .orElse(links.last._2)
      .getOrElse(if (links.exists(_._1 == "NODE_ID")) "node-local" else spec)
  }

  private def tail(line: String, prefix: String): String =
    line.substring(prefix.length).trim

  /** A `--` comment that starts its line: an annotation line, dropped
    * from the statement text. A `-- @…` inside a literal or block
    * comment, or after code on its line, is none. */
  private def wholeLineComment(l: VeloSqlParser.Lexeme): Boolean =
    l.kind == VeloSqlParser.LexKind.LineComment && l.lineStart

  /** The metadata pass alone (no name-required check) —
    * shared with SqlValidator.validateContent so the header extraction
    * cannot drift between the loader and the pre-deploy gate. */
  private[sql] def parseMetadata(content: String,
                                 env: String => Option[String] = sys.env.get): AppMetadata = {
    var md = AppMetadata(name = "")
    VeloSqlParser.lex(content).filter(wholeLineComment).foreach { l =>
      val line = content.substring(l.start, l.end).trim
      def has(p: String): Boolean = line.startsWith(p)
      if (has("-- SQL Application:")) md = md.copy(name = tail(line, "-- SQL Application:"))
      else if (has("-- Version:")) md = md.copy(version = tail(line, "-- Version:"))
      else if (has("-- Description:")) md = md.copy(description = Some(tail(line, "-- Description:")))
      else if (has("-- Author:")) md = md.copy(author = Some(tail(line, "-- Author:")))
      else if (has("-- Dependencies:")) md = md.copy(dependencies =
        tail(line, "-- Dependencies:").split(',').map(_.trim).filter(_.nonEmpty).toVector)
      else if (has("-- Tag:")) {
        val t = tail(line, "-- Tag:")
        t.split(":", 2) match {
          case Array(k, v) => md = md.copy(tags = md.tags + (k.trim -> v.trim))
          case _ =>
        }
      }
      else if (has("-- @application:")) md = md.copy(application = Some(tail(line, "-- @application:")))
      else if (has("-- @app:")) md = md.copy(application = Some(tail(line, "-- @app:")))
      else if (has("-- @version:")) md = md.copy(version = tail(line, "-- @version:"))
      else if (has("-- @description:")) md = md.copy(description = Some(tail(line, "-- @description:")))
      else if (has("-- @phase:")) md = md.copy(phase = Some(tail(line, "-- @phase:")))
      else if (has("-- @sla.latency.p99:")) md = md.copy(slaLatencyP99 = Some(tail(line, "-- @sla.latency.p99:")))
      else if (has("-- @sla.availability:")) md = md.copy(slaAvailability = Some(tail(line, "-- @sla.availability:")))
      else if (has("-- @data_retention:")) md = md.copy(dataRetention = Some(tail(line, "-- @data_retention:")))
      else if (has("-- @compliance:")) md = md.copy(compliance = Some(tail(line, "-- @compliance:")))
      else if (has("-- @observability.metrics.enabled:"))
        md = md.copy(observabilityMetrics = Some(tail(line, "-- @observability.metrics.enabled:").toLowerCase(java.util.Locale.ROOT) == "true"))
      else if (has("-- @observability.tracing.enabled:"))
        md = md.copy(observabilityTracing = Some(tail(line, "-- @observability.tracing.enabled:").toLowerCase(java.util.Locale.ROOT) == "true"))
      else if (has("-- @observability.profiling.enabled:")) {
        val v = tail(line, "-- @observability.profiling.enabled:").toLowerCase(java.util.Locale.ROOT)
        if (Set("off", "dev", "prod").contains(v)) md = md.copy(observabilityProfiling = Some(v))
      }
      else if (has("-- @observability.error_reporting.enabled:"))
        md = md.copy(observabilityErrorReporting = Some(tail(line, "-- @observability.error_reporting.enabled:").toLowerCase(java.util.Locale.ROOT) == "true"))
      else if (has("-- @deployment.node_id:"))
        md = md.copy(deploymentNodeId = Some(resolvePattern(tail(line, "-- @deployment.node_id:"), env)))
      else if (has("-- @deployment.node_name:"))
        md = md.copy(deploymentNodeName = Some(resolvePattern(tail(line, "-- @deployment.node_name:"), env)))
      else if (has("-- @deployment.region:"))
        md = md.copy(deploymentRegion = Some(resolvePattern(tail(line, "-- @deployment.region:"), env)))
      else if (line.startsWith("-- @") && line.contains(":")
               // exclude exactly the metric-spec forms ('@metric:' and
               // '@metric_*:') — the bare '@metric' prefix also swallowed
               // unrelated keys like '@metrics.port', which then matched
               // no specific arm either and vanished entirely (r14 review)
               && !line.startsWith("-- @name:") && !line.startsWith("-- @metric:")
               && !line.startsWith("-- @metric_")
               && !line.startsWith("-- @partition-count:")
               && !line.startsWith("-- @sticky-partition-id:")) {
        val body = line.stripPrefix("-- @")
        val c = body.indexOf(':')
        md = md.copy(extra = md.extra + (body.substring(0, c).trim -> body.substring(c + 1).trim))
      }
    }
    md
  }

  /** Parse an application file: metadata annotations (anywhere in the
    * file), then statements split on `;` with their `-- Name:` /
    * `-- @name:` / `-- Property: k = v` annotations attached to the
    * NEXT statement. Missing `-- SQL Application:` header is an error
    * (reference parity); missing version defaults to 1.0.0. */
  def parse(content: String, env: String => Option[String] = sys.env.get): SqlApplication = {
    val md = parseMetadata(content, env)
    if (md.name.isEmpty)
      throw new ParseException("SQL Application must have a name (-- SQL Application: <name>)")

    // statements with their attached Name/Property annotations
    var statements = Vector.empty[AppStatement]
    var counter = 0
    var curName: Option[String] = None
    var curProps = Map.empty[String, String]
    var curMetrics = Vector.empty[MetricSpec]
    var curMetricDropped = false
    var curPartitions: Option[Int] = None
    var curSticky: Option[Int] = None
    var curJobMode: Option[String] = None
    var curBatchSize: Option[Int] = None
    var curNumPartitions: Option[Int] = None
    var curStrategy: Option[String] = None
    def flush(sqlText: String): Unit = {
      // reference validate_annotation: gauge/histogram need a field
      curMetrics.foreach { m =>
        if ((m.metricType == "gauge" || m.metricType == "histogram") && m.field.isEmpty)
          throw new ParseException(
            s"metric '${m.name}' of type ${m.metricType} requires @metric_field")
      }
      statements :+= AppStatement(s"stmt_$counter", curName,
        resolvePattern(sqlText, env), curProps, counter,
        curMetrics, curPartitions, curSticky,
        curJobMode, curBatchSize, curNumPartitions, curStrategy)
      counter += 1
      curName = None
      curProps = Map.empty
      curMetrics = Vector.empty
      curMetricDropped = false
      curPartitions = None
      curSticky = None
      curJobMode = None
      curBatchSize = None
      curNumPartitions = None
      curStrategy = None
    }
    def annotate(trimmed: String): Unit = {
      def intAnn(p: String): Option[Int] =
        try Some(tail(trimmed, p).toInt) catch { case _: NumberFormatException => None }
      if (trimmed.startsWith("-- Name:")) curName = Some(tail(trimmed, "-- Name:"))
      else if (trimmed.startsWith("-- @name:")) curName = Some(tail(trimmed, "-- @name:"))
      else if (trimmed.startsWith("-- @metric:")) {
        val m = tail(trimmed, "-- @metric:")
        // metric names follow the prometheus identifier shape; an
        // invalid name drops its WHOLE spec — including the @metric_*
        // attribute lines that follow it, which would otherwise mutate
        // the PREVIOUS metric (curMetrics.last) and silently convert it
        if (m.matches("[a-zA-Z_][a-zA-Z0-9_]*")) { curMetrics :+= MetricSpec(m); curMetricDropped = false }
        else curMetricDropped = true
      }
      else if (trimmed.startsWith("-- @metric_type:") && curMetrics.nonEmpty && !curMetricDropped) {
        val t = tail(trimmed, "-- @metric_type:").toLowerCase(java.util.Locale.ROOT)
        if (Set("counter", "gauge", "histogram").contains(t))
          curMetrics = curMetrics.init :+ curMetrics.last.copy(metricType = t)
      }
      else if (trimmed.startsWith("-- @metric_help:") && curMetrics.nonEmpty && !curMetricDropped) {
        val h = tail(trimmed, "-- @metric_help:").stripPrefix("\"").stripSuffix("\"")
        curMetrics = curMetrics.init :+ curMetrics.last.copy(help = Some(h))
      }
      else if (trimmed.startsWith("-- @metric_labels:") && curMetrics.nonEmpty && !curMetricDropped) {
        val ls = tail(trimmed, "-- @metric_labels:").split(',').map(_.trim).filter(_.nonEmpty).toVector
        curMetrics = curMetrics.init :+ curMetrics.last.copy(labels = ls)
      }
      else if (trimmed.startsWith("-- @metric_field:") && curMetrics.nonEmpty && !curMetricDropped) {
        val f = tail(trimmed, "-- @metric_field:")
        if (f.nonEmpty) curMetrics = curMetrics.init :+ curMetrics.last.copy(field = Some(f))
      }
      else if (trimmed.startsWith("-- @metric_condition:") && curMetrics.nonEmpty && !curMetricDropped) {
        // ${VAR} resolves here like it does for statement SQL and the
        // deployment.* metadata — stored verbatim, a variable-bearing
        // condition parsed as a string LITERAL and silently matched
        // zero rows (r15 review)
        val c = resolvePattern(tail(trimmed, "-- @metric_condition:"), env)
        if (c.nonEmpty) curMetrics = curMetrics.init :+ curMetrics.last.copy(condition = Some(c))
      }
      else if (trimmed.startsWith("-- @metric_sample_rate:") && curMetrics.nonEmpty && !curMetricDropped) {
        val raw = tail(trimmed, "-- @metric_sample_rate:")
        val r = try raw.toDouble catch {
          case _: NumberFormatException => throw new ParseException(
            s"Invalid sample_rate '$raw'. Must be a number between 0.0 and 1.0")
        }
        if (r < 0.0 || r > 1.0)
          throw new ParseException(s"Sample rate $r out of range. Must be between 0.0 and 1.0")
        curMetrics = curMetrics.init :+ curMetrics.last.copy(sampleRate = r)
      }
      else if (trimmed.startsWith("-- @metric_buckets:") && curMetrics.nonEmpty && !curMetricDropped) {
        // demo-app form `100, 500, 1000`; bracketed `[…]` also admitted
        val raw = tail(trimmed, "-- @metric_buckets:").stripPrefix("[").stripSuffix("]")
        val bs = raw.split(',').map(_.trim).filter(_.nonEmpty).map { v =>
          try v.toDouble catch {
            case _: NumberFormatException =>
              throw new ParseException(s"invalid histogram bucket '$v' in @metric_buckets")
          }
        }.toVector
        // the reference validates positive ascending boundaries (Prometheus requirement)
        // NaN defeats ordering checks (every comparison is false) and
        // 'Infinity' collides with the canonical +Inf bucket the
        // renderer appends — both are finite-positive violations, not
        // orderable boundaries (r15 review)
        if (bs.exists(b => b.isNaN || b.isInfinite || b <= 0.0)
            || bs.zip(bs.drop(1)).exists { case (a, b) => a >= b })
          throw new ParseException(s"histogram buckets must be positive, finite and ascending: $raw")
        curMetrics = curMetrics.init :+ curMetrics.last.copy(buckets = bs)
      }
      else if (trimmed.startsWith("-- @partition-count:"))
        curPartitions = intAnn("-- @partition-count:").filter(_ > 0)
      else if (trimmed.startsWith("-- @sticky-partition-id:"))
        curSticky = intAnn("-- @sticky-partition-id:")
      else if (trimmed.startsWith("-- @job_mode:")) {
        val m = tail(trimmed, "-- @job_mode:").toLowerCase(java.util.Locale.ROOT)
        if (Set("simple", "transactional", "adaptive")(m)) curJobMode = Some(m)
      }
      else if (trimmed.startsWith("-- @batch_size:"))
        curBatchSize = intAnn("-- @batch_size:").filter(_ > 0)
      else if (trimmed.startsWith("-- @num_partitions:"))
        curNumPartitions = intAnn("-- @num_partitions:").filter(_ > 0)
      else if (trimmed.startsWith("-- @partitioning_strategy:")) {
        // canonicalize the reference's aliases (ast.rs:124-128); an
        // unknown value is ignored, as the reference's debug-and-None is
        curStrategy = tail(trimmed, "-- @partitioning_strategy:").toLowerCase(java.util.Locale.ROOT) match {
          case "sticky" | "stickypartition" | "sticky_partition" => Some("sticky")
          case "hash" | "alwayshash" | "always_hash" => Some("hash")
          case "smart" | "smartrepartition" | "smart_repartition" => Some("smart")
          case "roundrobin" | "round_robin" => Some("roundrobin")
          case "fanin" | "fan_in" => Some("fanin")
          case _ => None
        }
      }
      else if (trimmed.startsWith("-- Property:")) {
        tail(trimmed, "-- Property:").split("=", 2) match {
          case Array(k, v) => curProps += (k.trim -> v.trim)
          case _ =>
        }
      }
    }
    VeloSqlParser.fragments(content).foreach { f =>
      f.lexemes.filter(wholeLineComment)
        .foreach(l => annotate(content.substring(l.start, l.end).trim))
      // a comment-only fragment (an inline `-- done` after the file's
      // final ';') is not a statement: zero tokens means nothing to
      // execute — emitting it would fail the whole app run on
      // ParseException("empty statement"). An unterminated literal or
      // block comment still counts, so its parse error surfaces with
      // its text, not silently dropped here.
      if (f.lexemes.exists(_.isCode)) flush(statementText(content, f))
    }
    SqlApplication(md, statements)
  }

  /** A fragment's statement text: its source span with each whole-line
    * `--` comment and each blank line dropped, line breaks as '\n',
    * trimmed. Literals and block comments keep every line. */
  private def statementText(content: String, f: VeloSqlParser.Fragment): String = {
    val sb = new StringBuilder
    var from = f.start
    var cuts = List.empty[VeloSqlParser.Lexeme] // whole-line comments since `from`, newest first
    // the whitespace up to `to`, each cut comment standing for a line
    // break: a stretch with a break keeps only its ends around one '\n'
    def gap(to: Int): Unit = {
      val g = cuts.foldLeft(content.substring(from, to))((g, c) => g.patch(c.start - from, "\n", c.end - c.start))
      val isBreak = (c: Char) => c == '\n' || c == '\r'
      val first = g.indexWhere(isBreak)
      if (first < 0) sb.append(g)
      else sb.append(g.substring(0, first)).append('\n').append(g.substring(g.lastIndexWhere(isBreak) + 1))
    }
    f.lexemes.foreach { l =>
      if (wholeLineComment(l)) cuts ::= l
      else {
        gap(l.start)
        sb.append(content.substring(l.start, l.end))
        from = l.end
        cuts = Nil
      }
    }
    gap(f.end)
    sb.toString.trim
  }

  /** Parse + execute an application against a context; returns each
    * statement's result in order. `@partition-count: n` becomes a
    * `repartition(n)` on the statement's (batch) result; a batch
    * statement's `@metric`s are collected over its result by
    * [[collectMetric]] into the statement's own registry slice
    * (executor-side aggregation: only label-group aggregates reach the
    * driver). */
  def run(ctx: VeloContext, content: String,
          env: String => Option[String] = sys.env.get,
          onWave: (Int, Seq[String]) => Unit = (_, _) => ()): (SqlApplication, Seq[DataFrame]) = {
    val app = parse(content, env)
    def execOne(s: AppStatement, idx: Int): DataFrame = {
      // metrics on a JOB statement belong to the job's data, not to the
      // status frame ctx.sql returns: streaming jobs observe them on
      // their own micro-batches (observe() + listener in JobManager,
      // attached BEFORE launch); batch jobs collect over the job's
      // materialized <name>_out view after launch.
      val jobCfg: Option[JobManager.JobConfig] =
        if (s.jobMode.isEmpty && s.batchSize.isEmpty && s.numPartitions.isEmpty
          && s.partitioningStrategy.isEmpty) None
        else Some(JobManager.JobConfig(s.jobMode, s.batchSize, s.numPartitions,
          s.partitioningStrategy))
      val jobName: Option[String] =
        if (s.metrics.isEmpty && jobCfg.isEmpty) None
        // the CONTEXT's parser, not VeloSqlParser.parse's global
        // defaults: this probe must see the same defaultTimeCol/
        // registered stream time columns the executor will (r14 review)
        else try ctx.parseStatement(s.sql) match {
          case VeloSqlParser.StartJob(n, _, _) => Some(n)
          case VeloSqlParser.DeployJob(n, _, _, _, _) => Some(n)
          case _ => None
        } catch { case _: ParseException => None }
      // snapshot what a PREVIOUS successful statement attached under
      // this job name BEFORE overwriting it: the failure path must put
      // the prior state back, not merely remove this statement's — a
      // failed DEPLOY's kind-scoped detach otherwise deletes the specs
      // the still-running query's listener iterates, silently stopping
      // its metric accumulation (r17 review; the r15 granular detach
      // fixed cross-KIND clobber but still lost same-kind prior state)
      val prior = jobName.map(n =>
        (ctx.jobManager.attachedMetrics(n), ctx.jobManager.attachedJobConfig(n)))
      jobName.foreach { n =>
        if (s.metrics.nonEmpty) ctx.jobManager.attachMetrics(n, s.metrics)
        jobCfg.foreach(ctx.jobManager.attachJobConfig(n, _))
      }
      // restore on failure: the attach happens BEFORE execution, and a
      // failed statement must not leave its specs/config registered —
      // a later manual launch of the same job name would silently pick
      // up the dead statement's partitioning and metrics
      val df =
        try ctx.sql(s.sql)
        catch { case t: Throwable =>
          // scoped to what THIS statement attached (r15 review), and
          // RESTORING the prior value rather than removing (r17)
          jobName.zip(prior).foreach { case (n, (pm, pc)) =>
            ctx.jobManager.restoreStatementState(n,
              metrics = if (s.metrics.nonEmpty) Some(pm) else None,
              config = if (jobCfg.isDefined) Some(pc) else None)
          }
          throw t
        }
      val target: Option[DataFrame] = jobName match {
        case Some(n) => // batch-bodied job → its standing output view
          val view = s"${n}_out"
          if (ctx.spark.catalog.tableExists(view)) Some(ctx.spark.table(view)) else None
        case None => if (df.isStreaming) None else Some(df)
      }
      // a @metric on a STREAMING non-job statement has no batch result
      // to aggregate — warn instead of silently dropping the user's
      // declared metric (jobs get observe()-based streaming metrics;
      // r11 review)
      if (target.isEmpty && jobName.isEmpty && s.metrics.nonEmpty && df.isStreaming)
        System.err.println(s"[sqlapp] WARNING: @metric annotations on a streaming " +
          s"non-job statement are not collected (${s.metrics.map(_.name).mkString(", ")}); " +
          "wrap the statement in START JOB / DEPLOY JOB for streaming metrics")
      target.withFilter(_ => s.metrics.nonEmpty).foreach { df =>
        // The statement plan executes ONCE into the cache; every metric
        // (and label series) is then a cheap scan of the cached result
        // instead of a full re-execution per metric. A df that is
        // ALREADY cached (a CTAS materialization, a batch job's
        // <name>_out cache) must keep its entry: persist() would no-op
        // and the paired unpersist() would DROP the CacheManager entry,
        // leaving the "materialized" table lazy and source-drifting for
        // every later reader (r11 review).
        val preCached = df.storageLevel != org.apache.spark.storage.StorageLevel.NONE
        if (!preCached) df.persist()
        // each statement pushes into its OWN registry slice, so two
        // statements (or a statement and a streaming job) declaring the
        // same metric name keep each other's series (r17 review)
        try s.metrics.foreach(m => ctx.recordMetricSlice(m.name, s"stmt$idx", m.metricType, m.help,
          collectMetric(df, m)))
        finally { if (!preCached) df.unpersist(); () }
      }
      s.partitionCount match {
        case Some(n) if !df.isStreaming => df.repartition(n)
        case _ => df
      }
    }

    // ---- dependency-ordered parallel table load (reference:
    //      server/dependency_graph.rs + parallel_loader.rs — CTAS tables
    //      load in dependency order, independent tables in parallel
    //      waves). Consecutive plain CTAS/CSAS statements form a run;
    //      within a run, statement B depends on statement A when B's
    //      text references A's table (read-after-write) or B re-creates
    //      a table an earlier statement reads (write-after-read — the
    //      lexical over-approximation costs parallelism, never
    //      correctness). Everything else — DDL declarations, jobs,
    //      SELECTs, annotated statements — is a BARRIER executed
    //      sequentially, so results are identical to sequential
    //      execution by construction. ----
    final case class CtasInfo(idx: Int, produces: String)
    // ONE unquote (doubled-backtick collapse included, matching the
    // parser's canonical rule) — two identical strip lambdas had
    // already drifted from it (r15 review)
    def unquote(n: String): String =
      if (n.length >= 2 && ((n.startsWith("`") && n.endsWith("`"))
          || (n.startsWith("\"") && n.endsWith("\""))))
        n.substring(1, n.length - 1).replace("``", "`")
      else n
    def ctasOf(s: AppStatement): Option[String] =
      if (s.metrics.nonEmpty || s.partitionCount.nonEmpty || s.jobMode.nonEmpty
        || s.batchSize.nonEmpty || s.numPartitions.nonEmpty || s.partitioningStrategy.nonEmpty) None
      // backtick-stripped: the parser stores a QUOTED declaration name
      // in its quoted form, but `identifiers()` extracts bare words —
      // unstripped, a dependent of `CREATE TABLE "orders" AS …` never
      // matches and schedules into the same wave as its producer (and
      // the duplicate-producer run guard treats `t` and `` `t` `` as
      // distinct, racing two writers of one view)
      // the CONTEXT's parser, not VeloSqlParser.parse's global
      // defaults — the same drift the r14 review fixed for execOne's
      // jobName probe: a CTAS whose body only parses under the
      // context's defaultTimeCol/registered stream time columns would
      // throw under the global-defaults parse, classify non-CTAS, and
      // silently fall out of the parallel wave scheduler (losing
      // wave parallelism and its load-progress gauges) (r17 review)
      else try ctx.parseStatement(s.sql) match {
        case VeloSqlParser.CreateTableAs(n, _, _, _) => Some(unquote(n))
        case VeloSqlParser.CreateStreamAs(n, _, _, _) => Some(unquote(n))
        case _ => None
      } catch { case _: ParseException => None }
    def identifiers(sql: String): Set[String] = {
      val bare = "[A-Za-z_][A-Za-z0-9_]*".r.findAllIn(sql)
        .map(_.toLowerCase(java.util.Locale.ROOT))
      // quoted identifiers may contain non-word characters (`my-table`,
      // "my table") the bare-word regex cannot see — without these a
      // consumer of a quoted producer builds no RAW edge and schedules
      // into the producer's wave (r11 review)
      val quoted = ("`([^`]+)`".r.findAllMatchIn(sql) ++
          "\"([^\"]+)\"".r.findAllMatchIn(sql))
        .map(_.group(1).toLowerCase(java.util.Locale.ROOT))
      (bare ++ quoted).toSet
    }

    val results = new Array[DataFrame](app.statements.length)
    var waveNo = 0
    var i = 0
    // Load-progress monitoring (reference server/progress_monitoring.rs:
    // per-table rows/rate visibility while later tables still load).
    // Rows + wall per wave-loaded table land in the context's metrics
    // registry after EACH wave, so SHOW METRICS / the /metrics HTTP
    // route report partial progress mid-application.
    var loadRows = Vector.empty[(String, Map[String, String], Double)]
    var loadSecs = Vector.empty[(String, Map[String, String], Double)]
    def recordLoad(table: String, wave: Int, df: DataFrame, sec: Double): Unit = {
      // CTAS results are already materialized+cached by execStatement,
      // so the count is a cheap cached scan. An UNCACHED frame (CSAS
      // registers a plain view) would RE-EXECUTE its entire plan just
      // for this gauge — roughly doubling a CSAS-heavy app's wall clock
      // — so it reports -1 like streaming bodies do (r14 review)
      val rows =
        try {
          if (df.isStreaming
            || df.storageLevel == org.apache.spark.storage.StorageLevel.NONE) -1.0
          else df.count().toDouble
        } catch { case _: Throwable => -1.0 }
      val labels = Map("table" -> table, "wave" -> wave.toString)
      loadRows :+= (("", labels, rows))
      loadSecs :+= (("", labels, sec))
      ctx.recordMetricSeries("graft_table_load_rows", "gauge",
        Some("rows materialized per dependency-wave-loaded table"), loadRows)
      ctx.recordMetricSeries("graft_table_load_seconds", "gauge",
        Some("wall seconds per dependency-wave-loaded table"), loadSecs)
    }
    while (i < app.statements.length) {
      val s = app.statements(i)
      ctasOf(s) match {
        case None =>
          results(i) = execOne(s, i)
          i += 1
        case Some(first) =>
          // maximal run of consecutive plain CTAS statements with
          // distinct names (a re-created name ends the run: duplicate
          // producers must stay strictly ordered)
          var run = Vector(CtasInfo(i, first))
          var j = i + 1
          var done = false
          while (j < app.statements.length && !done) {
            ctasOf(app.statements(j)) match {
              case Some(n) if !run.exists(_.produces.equalsIgnoreCase(n)) =>
                run :+= CtasInfo(j, n); j += 1
              case _ => done = true
            }
          }
          // wave levels: level(B) = 1 + max(level of every run member A
          // before B that B reads, or that reads the table B produces)
          val refs = run.map(c => c.idx -> identifiers(app.statements(c.idx).sql)).toMap
          val level = scala.collection.mutable.Map[Int, Int]()
          run.zipWithIndex.foreach { case (c, k) =>
            val deps = run.take(k).filter { a =>
              refs(c.idx).contains(a.produces.toLowerCase(java.util.Locale.ROOT)) ||
                refs(a.idx).contains(c.produces.toLowerCase(java.util.Locale.ROOT))
            }
            level(c.idx) = if (deps.isEmpty) 0 else deps.map(a => level(a.idx)).max + 1
          }
          val waves = run.groupBy(c => level(c.idx)).toSeq.sortBy(_._1)
          if (run.length > 1) {
            val pool = java.util.concurrent.Executors.newFixedThreadPool(math.min(run.length, 8))
            try waves.foreach { case (_, members) =>
              waveNo += 1
              onWave(waveNo, members.map(_.produces))
              val futs = members.map { c =>
                pool.submit(new java.util.concurrent.Callable[(DataFrame, Double)] {
                  def call(): (DataFrame, Double) = {
                    val t0 = System.nanoTime()
                    val df = execOne(app.statements(c.idx), c.idx)
                    (df, (System.nanoTime() - t0) / 1e9)
                  }
                })
              }
              // await the whole wave; the FIRST statement-order failure
              // propagates, like sequential execution's first failure
              members.zip(futs).foreach { case (c, f) =>
                val (df, sec) =
                  try f.get()
                  catch { case e: java.util.concurrent.ExecutionException => throw e.getCause }
                results(c.idx) = df
                recordLoad(c.produces, waveNo, df, sec)
              }
            } finally
              // shutdownNow, not shutdown: on a wave-member failure the
              // plain shutdown() would let already-submitted siblings
              // keep running Spark jobs after run() has thrown —
              // mutating the session catalog and pinning caches nothing
              // releases. On success every future is already awaited,
              // so cancelling is a no-op and this just stops the pool.
              pool.shutdownNow()
          } else {
            waveNo += 1
            onWave(waveNo, Seq(first))
            val t0 = System.nanoTime()
            results(i) = execOne(s, i)
            recordLoad(first, waveNo, results(i), (System.nanoTime() - t0) / 1e9)
          }
          i = j
      }
    }
    (app, results.toIndexedSeq)
  }
}
