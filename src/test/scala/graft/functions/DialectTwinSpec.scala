package graft.functions

import java.sql.Timestamp

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession
import graft.functions.VeloFunctions._
import graft.sql.VeloContext

/** Every function with both a dialect spelling and a VeloFunctions
  * Column-API twin must answer identically — same values, same type —
  * over edge inputs: NULLs, multibyte text, Rust-rendered floats,
  * pre-1970 and fractional timestamps, malformed JSON, NULL and empty
  * header maps. The one intended difference, HEADER_KEYS (a joined
  * string in SQL, an array in the Column API), is compared joined.
  */
class DialectTwinSpec extends AnyFunSuite with SparkTestSession {

  private lazy val ctx: VeloContext = {
    val c = new VeloContext(spark, defaultTimeCol = "ts")
    import spark.implicits._
    def ts(s: String) = Option(s).map(Timestamp.valueOf).orNull
    val rows = Seq(
      (1, "héllo", 100.0, ts("2024-03-05 10:30:44.123"), ts("2025-01-01 00:00:00"), 1709634645L,
        """{"a": {"b": 7}, "arr": [1, 2], "k": 3, "nul": null}""", Map("k" -> "v", "z" -> "1")),
      (2, " x\ty\n", -1.005, ts("1969-12-31 23:59:59.5"), ts("1970-01-01 00:00:01"), -1L,
        "[1, 2, 3]", Map.empty[String, String]),
      (3, null, 1e21, ts("2020-12-31 23:00:00"), ts("2021-01-04 01:00:00"), 0L, "not json", null),
      (4, "a", 8.835, null, ts("2024-01-01 00:00:00"), 1700000000L, null, Map("k" -> (null: String))))
    c.register("twin_edges", rows.toDF("id", "s", "x", "ts", "ts2", "n", "js", "_headers"))
    c
  }

  private val units =
    Seq("years", "months", "quarters", "weeks", "days", "hours", "minutes", "seconds", "ms", "micros")
  private val fields = Seq("YEAR", "MONTH", "DAY", "HOUR", "MINUTE", "SECOND", "DOW", "DOY",
    "WEEK", "QUARTER", "EPOCH", "MILLISECOND", "MICROSECOND", "NANOSECOND")
  private val paths = Seq("$.a.b", "$.arr.0", "k", "$.nul", "$.missing")

  /** dialect expression → its Column-API twin, built inside its test */
  private def twin(sql: String)(c: => Column): (String, () => Column) = sql -> (() => c)

  private val twins: Seq[(String, () => Column)] = Seq(
    twin("CONCAT(s, '-', x)")(veloConcat(col("s"), lit("-"), col("x"))),
    twin("JOIN('_', s, x)")(veloJoin("_", col("s"), col("x"))),
    twin("SPLIT(s, 'l')")(veloSplit(col("s"), "l")),
    twin("LENGTH(s)")(veloLength(col("s"))),
    twin("TRIM(s)")(veloTrim(col("s"))),
    twin("LTRIM(s)")(veloLtrim(col("s"))),
    twin("RTRIM(s)")(veloRtrim(col("s"))),
    twin("POSITION('l', s)")(veloPosition("l", col("s"))),
    twin("POSITION('y' IN s)")(veloPosition("y", col("s"))),
    twin("REGEXP(s, '^\\w+$')")(veloRegexp(col("s"), "^\\w+$")),
    twin("ROUND(x, 2)")(veloRound(col("x"), 2)),
    twin("NULLIF(s, 'a')")(veloNullif(col("s"), lit("a"))),
    twin("UNIX_TIMESTAMP(ts)")(veloUnixTimestamp(col("ts"))),
    twin("FROM_UNIXTIME(n)")(veloFromUnixtime(col("n"))),
    twin("DATE_FORMAT(ts, '%Y-%m-%d %H:%M:%S %b %e')")(
      veloDateFormat(col("ts"), "%Y-%m-%d %H:%M:%S %b %e")),
    twin("DATE_FORMAT(ts, 'yyyy/MM/dd')")(veloDateFormat(col("ts"), "yyyy/MM/dd")),
    twin("DATEDIFF('day', ts, ts2)")(veloDateDiff(col("ts"), col("ts2"))),
    twin("TUMBLE_START(ts, INTERVAL '1' HOUR)")(tumbleStart(col("ts"), 3600L)),
    twin("TUMBLE_END(ts, INTERVAL '1' HOUR)")(tumbleEnd(col("ts"), 3600L)),
    twin("ARRAY_LENGTH(js)")(arrayLength(col("js"))),
    twin("ARRAY_CONTAINS(js, 2)")(arrayContains(col("js"), 2)),
    twin("MAP_KEYS(js)")(mapKeys(col("js"))),
    twin("MAP('k', s, 1, s)")(veloMap(lit("k"), col("s"), lit(1), col("s"))),
    twin("STRUCT('a', x, 'b', s)")(veloStruct(lit("a"), col("x"), lit("b"), col("s"))),
    twin("STRUCT(x, s, n)")(veloStruct(col("x"), col("s"), col("n"))),
    twin("HEADER('k')")(header(col("_headers"), "k")),
    twin("HAS_HEADER('k')")(hasHeader(col("_headers"), "k")),
    twin("HEADER_KEYS()")(array_join(headerKeys(col("_headers")), ",")),
    twin("SET_HEADER('k', x)")(setHeader(col("_headers"), "k", col("x"))),
    twin("SET_HEADER('k', CAST(NULL AS STRING))")(
      setHeader(col("_headers"), "k", lit(null).cast("string"))),
    twin("REMOVE_HEADER('k')")(removeHeader(col("_headers"), "k"))
  ) ++
    units.map(u => twin(s"DATEDIFF('$u', ts, ts2)")(veloDateDiffUnit(u, col("ts"), col("ts2")))) ++
    fields.map(f => twin(s"EXTRACT($f FROM ts)")(veloExtract(f, col("ts")))) ++
    paths.flatMap(p => Seq(
      twin(s"JSON_EXTRACT(js, '$p')")(jsonExtract(col("js"), p)),
      twin(s"JSON_VALUE(js, '$p')")(jsonValue(col("js"), p)),
      twin(s"JSON_EXISTS(js, '$p')")(jsonExists(col("js"), p))))

  twins.foreach { case (sql, make) =>
    test(s"dialect $sql equals its Column-API twin") {
      val viaSql = ctx.sql(s"SELECT id, $sql AS r FROM twin_edges")
      val viaCol = spark.table("twin_edges").select(col("id"), make().as("r"))
      assert(viaSql.schema("r").dataType == viaCol.schema("r").dataType)
      def rows(df: org.apache.spark.sql.DataFrame) = df.collect().sortBy(_.getInt(0)).toSeq
      assert(rows(viaSql) == rows(viaCol))
    }
  }
}
