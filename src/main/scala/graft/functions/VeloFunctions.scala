package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftBridge.{column, expression}
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.functions._

/** The reference engine's scalar/aggregate function surface, re-expressed
  * as Spark `Column` combinators (codegen'd built-ins wherever possible).
  *
  * Catalog source: reference docs/sql/FUNCTION_CATALOG.md (75 functions)
  * and src/velostream/sql/execution/expression/. Names follow the
  * reference (velostream is case-insensitive; we expose lowerCamel).
  *
  * A function the dialect also spells calls the SAME VeloExprs builder
  * the dialect's `velo_` registration runs, so the two spellings cannot
  * drift; the semantics are documented there. The one intended
  * difference is [[headerKeys]]: an array here, the reference's
  * comma-joined string in SQL.
  *
  * Everything here stays inside WholeStageCodegen — no Scala UDFs.
  */
object VeloFunctions {

  // ---- Math (reference: FUNCTION_CATALOG.md "Math Functions") ----
  def veloAbs(c: Column): Column = abs(c)
  def veloRound(c: Column, scale: Int = 0): Column =
    column(VeloExprs.VeloRound(expression(c), Literal(scale)))
  def veloCeil(c: Column): Column = ceil(c)
  def veloFloor(c: Column): Column = floor(c)
  def veloSqrt(c: Column): Column = sqrt(c)
  def veloPower(c: Column, p: Column): Column = pow(c, p)
  def veloMod(a: Column, b: Column): Column = a % b
  def veloLeast(cs: Column*): Column = least(cs: _*)
  def veloGreatest(cs: Column*): Column = greatest(cs: _*)

  // ---- String (reference: string function table; edge semantics
  //      mirror functions.rs — the observable behavior a reference
  //      user's queries depend on, including its usize-wrap edges) ----
  def veloUpper(c: Column): Column = upper(c)
  def veloLower(c: Column): Column = lower(c)
  /** 1-based SUBSTRING(str, pos, len) — reference edge semantics
    * (functions.rs substring_function): `start as usize` wraps a
    * NEGATIVE pos to a huge skip → EMPTY string (Spark's substring
    * counts negatives from the END — a silent row-level divergence);
    * a negative len wraps to take-everything → rest of string;
    * pos 0 saturates to 1. */
  def veloSubstring(c: Column, pos: Int, len: Int): Column =
    if (pos < 0) when(c.isNull, lit(null).cast("string")).otherwise(lit(""))
    else if (len < 0) substring(c, math.max(pos, 1), Int.MaxValue)
    else substring(c, math.max(pos, 1), len)
  // literal substring replace: the built-in StringReplace, not a
  // quoted-pattern trip through the regex engine
  def veloReplace(c: Column, find: String, repl: String): Column =
    replace(c, lit(find), lit(repl))
  def veloTrim(c: Column): Column = column(VeloExprs.trim(expression(c), GraftKernels.TrimBothPat))
  def veloLtrim(c: Column): Column = column(VeloExprs.trim(expression(c), GraftKernels.TrimLeftPat))
  def veloRtrim(c: Column): Column = column(VeloExprs.trim(expression(c), GraftKernels.TrimRightPat))
  def veloLength(c: Column): Column = column(VeloExprs.length(expression(c)))
  def veloConcat(cs: Column*): Column = column(VeloExprs.concat(cs.map(expression)))
  def veloSplit(c: Column, sep: String): Column = column(VeloExprs.split(expression(c), Literal(sep)))
  /** All parts (Spark-native extension; not the reference's SPLIT). */
  def veloSplitParts(c: Column, sep: String): Column =
    split(c, java.util.regex.Pattern.quote(sep))
  def veloJoin(sep: String, parts: Column*): Column =
    column(VeloExprs.join(Literal(sep), parts.map(expression)))
  /** LEFT/RIGHT with a NEGATIVE n return the WHOLE string (reference:
    * `n as usize` wraps to take-everything — Spark returns empty). The
    * negative arm STRINGIFIES like left()/right() do for non-string
    * inputs (analysis inserts the same cast there): returning the raw
    * column made the result TYPE flip with the sign of n (r14 review). */
  def veloLeft(c: Column, n: Int): Column =
    if (n < 0) c.cast("string") else left(c, lit(n))
  def veloRight(c: Column, n: Int): Column =
    if (n < 0) c.cast("string") else right(c, lit(n))
  def veloPosition(needle: String, haystack: Column): Column =
    column(VeloExprs.position(Literal(needle), expression(haystack), None))
  def veloRegexp(c: Column, pattern: String): Column =
    column(VeloExprs.regexp(expression(c), Literal(pattern)))

  // ---- Date/Time (reference: date/time table) ----
  def veloNow(): Column = column(VeloExprs.timestamp(None))
  def veloExtract(field: String, ts: Column): Column =
    column(VeloExprs.extract(field, expression(ts)))
  /** A '%' in the pattern selects strftime translation; otherwise the
    * string is a Spark pattern, so both worlds work. */
  def veloDateFormat(ts: Column, fmt: String): Column =
    column(VeloExprs.dateFormat(expression(ts), Literal(fmt)))
  /** DATEDIFF in whole calendar days (b - a): the 'days' unit. */
  def veloDateDiff(a: Column, b: Column): Column = veloDateDiffUnit("days", a, b)
  def veloDateDiffUnit(unit: String, a: Column, b: Column): Column =
    column(VeloExprs.dateDiffUnit(unit, expression(a), expression(b)))
  def veloUnixTimestamp(ts: Column): Column = column(VeloExprs.epochSeconds(expression(ts)))
  def veloFromUnixtime(epoch: Column): Column = column(VeloExprs.fromUnixtime(expression(epoch)))
  /** TUMBLE_START: epoch-aligned bucket start (seconds). */
  def tumbleStart(ts: Column, sizeSeconds: Long): Column = tumble(ts, sizeSeconds, end = false)
  def tumbleEnd(ts: Column, sizeSeconds: Long): Column = tumble(ts, sizeSeconds, end = true)
  private def tumble(ts: Column, sizeSeconds: Long, end: Boolean): Column = {
    // size 0 would divide by zero → every row lands in one silent NULL
    // bucket (non-ANSI) or throws mid-job (ANSI); reject at plan build
    require(sizeSeconds >= 1, s"window size must be >= 1 second, got $sizeSeconds")
    column(VeloExprs.epochBucket(expression(ts), Literal(sizeSeconds), end))
  }

  // ---- Conditional ----
  /** COALESCE — functions.rs:1447: first non-NULL, returned AS-IS. The
    * function's "type coercion ladder" (are_types_compatible /
    * coerce_to_compatible_type) is DEAD CODE — `expected_type` is
    * initialized to None and never assigned, so the first non-NULL
    * value always takes the `None =>` early return. Heterogeneous
    * per-row result types are inexpressible in a statically-typed
    * plan; Spark's common-type coercion is the faithful lowering. */
  def veloCoalesce(cs: Column*): Column = coalesce(cs: _*)
  /** NULLIF with values_equal's type dispatch (see VeloExprs.VeloNullIf:
    * epsilon float compare; timestamp/date/decimal pairs never NULL). */
  def veloNullif(a: Column, b: Column): Column =
    column(VeloExprs.VeloNullIf(expression(a), expression(b)))
  def veloCast(c: Column, to: String): Column = c.cast(to)

  // ---- JSON (reference: JSON_EXTRACT / JSON_VALUE over payload strings) ----
  def jsonExtract(c: Column, path: String): Column =
    column(VeloExprs.jsonValue(expression(c), Literal(path)))
  def jsonValue(c: Column, path: String): Column = jsonExtract(c, path)
  def jsonExists(c: Column, path: String): Column =
    column(VeloExprs.jsonExists(expression(c), Literal(path)))

  // ---- Array / Map ----
  def veloArray(cs: Column*): Column = array(cs: _*)
  def veloStruct(cs: Column*): Column = column(VeloExprs.struct(cs.map(expression)))
  def veloMap(cs: Column*): Column = column(VeloExprs.map(cs.map(expression)))
  def arrayLength(c: Column): Column = column(VeloExprs.VeloArrayLength(expression(c)))
  def arrayContains(c: Column, v: Any): Column =
    column(VeloExprs.VeloArrayContains(expression(c), expression(lit(v))))
  def mapKeys(c: Column): Column = column(VeloExprs.VeloMapKeys(expression(c)))
  def mapValues(c: Column): Column = map_values(c)

  // ---- Kafka-header analogs over a map<string,string> headers column ----
  def header(headers: Column, key: String): Column =
    column(VeloExprs.header(expression(headers), Literal(key)))
  def hasHeader(headers: Column, key: String): Column =
    column(VeloExprs.hasHeader(expression(headers), Literal(key)))
  /** The header keys as an ARRAY — SQL's HEADER_KEYS() joins them with
    * ',' (the reference's string form). */
  def headerKeys(headers: Column): Column = column(VeloExprs.headerKeys(expression(headers)))
  def setHeader(headers: Column, key: String, value: Column): Column =
    column(VeloExprs.setHeader(expression(headers), Literal(key), expression(value)))
  def removeHeader(headers: Column, key: String): Column =
    column(VeloExprs.removeHeader(expression(headers), Literal(key)))

  // ---- Exact decimal (reference: ScaledInteger financial arithmetic) ----
  /** The reference stores money as scaled i128 for exact, fast arithmetic.
    * Spark analog: DecimalType — exact, order-independent aggregation.
    */
  def money(c: Column, precision: Int = 18, scale: Int = 4): Column =
    c.cast(org.apache.spark.sql.types.DecimalType(precision, scale))
}
