package graft.sql

import scala.concurrent.{Await, Future}
import scala.concurrent.duration._
import scala.concurrent.ExecutionContext.Implicits.global

import org.scalatest.funsuite.AnyFunSuite

/** The parser must TERMINATE on every input — success or ParseException,
  * never a hang (a truncated/garbled statement reaching a scan loop that
  * makes no progress would stall the whole driver). Every statement
  * shape the dialect supports is fuzzed by prefix-truncation and token
  * deletion, each parse bounded by a watchdog. Scripts joined from the
  * shapes must split into the same statements through every reader of
  * dialect text.
  */
class ParserFuzzSpec extends AnyFunSuite {

  private val shapes = Seq(
    "SELECT a, b FROM t WHERE x > 1 GROUP BY a HAVING COUNT(*) > 2 WINDOW TUMBLING(INTERVAL '5' MINUTE) ORDER BY a LIMIT 5 EMIT CHANGES",
    "SELECT AVG(p) OVER (ROWS WINDOW BUFFER 10 ROWS PARTITION BY s ORDER BY ts ROWS BETWEEN 5 PRECEDING AND CURRENT ROW EMIT CHANGES) FROM t",
    "SELECT PERCENTILE_CONT(0.5) OVER (PARTITION BY s ORDER BY v ROWS BETWEEN 9 PRECEDING AND CURRENT ROW) FROM t",
    "CREATE STREAM s AS SELECT a FROM t WHERE b > 1 INTO snk WITH (k.x = 'v', 'q' = 'w') EMIT FINAL",
    "CREATE TABLE IF NOT EXISTS x AS SELECT a FROM t UNION ALL SELECT b FROM u",
    "CREATE SINK s2 WITH (topic = 'x', bootstrap.servers = 'h:9092')",
    "WITH c AS (SELECT a FROM t), d AS (SELECT b FROM c) SELECT * FROM d JOIN (SELECT a FROM t) q ON d.b = q.a",
    "SELECT o.a FROM orders o JOIN s ON o.k = s.k WITHIN INTERVAL '30' SECONDS",
    "SELECT a FROM t WHERE x > ALL (SELECT y FROM u) AND z = ANY (SELECT w FROM v)",
    "SELECT EXTRACT(EPOCH FROM (a - b)), EXTRACT('YEAR', ts), TUMBLE_START(ts, 1h), HEADER('k') FROM t",
    "INSERT INTO t (a, b) VALUES (1, 'x'), (2, 'y')",
    "UPDATE t SET a = a + 1, b = 'z' WHERE c < 3",
    "DELETE FROM t WHERE a IS NULL",
    "SELECT sym PRIMARY KEY, COUNT_DISTINCT(v), STRING_AGG(s, ','), price ~ 'x' FROM t GROUP BY sym, TUMBLE(ts, INTERVAL '1' MINUTE)",
    // r3 statement families: lifecycle, SHOW, DISTINCT, RECURSIVE, WITHIN GROUP
    "START JOB m AS SELECT a FROM t WHERE v > 1 WITH ('buffer.size' = '1000')",
    "DEPLOY JOB a VERSION '2.0.0' AS SELECT x FROM t WHERE y = 'v' STRATEGY CANARY(25) WITH ('r' = '3')",
    "STOP JOB m FORCE",
    "ROLLBACK JOB a VERSION '1.5.0'",
    "SHOW PROPERTIES STREAM orders",
    "SHOW JOB STATUS analytics",
    "SHOW TABLES LIKE 'user_%'",
    "DESCRIBE orders",
    "SELECT DISTINCT a, b FROM t WHERE c > 1",
    "WITH RECURSIVE h AS (SELECT a FROM t UNION ALL SELECT a FROM h) SELECT * FROM h",
    "SELECT PERCENTILE_CONT(0.5) WITHIN GROUP (ORDER BY v) AS p50, DELTA(v), JSON_EXISTS(d, '$.a'), JSON_QUERY(d, '$.b') FROM t GROUP BY k",
    "CREATE STREAM p AS SELECT a FROM t INTO s1, s2, s3 WITH ('s1.path' = 'file:///x')",
    // r4 statement families: source-attached WITH, ROWS WINDOW emit/expire modes
    "CREATE TABLE ua AS SELECT c, COUNT(*) as n FROM src WITH ('config_file' = 'a.yaml') GROUP BY c EMIT CHANGES INTO snk WITH ('snk.config_file' = 'b.yaml')",
    "SELECT a FROM s1 WITH ('k' = 'v') JOIN s2 WITH ('k2' = 'v2') ON s1.id = s2.id WHERE a > 0",
    "SELECT COUNT(*) OVER (ROWS WINDOW BUFFER 100 ROWS PARTITION BY s ORDER BY ts EMIT EVERY RECORD) FROM t",
    "SELECT AVG(p) OVER (ROWS WINDOW BUFFER 3 ROWS ORDER BY ts EMIT ON BUFFER FULL) FROM t",
    "SELECT AVG(p) OVER (ROWS WINDOW BUFFER 10 ROWS ORDER BY ts EXPIRE AFTER INTERVAL '30' SECOND INACTIVITY) FROM t",
    "SELECT AVG(p) OVER (ROWS WINDOW BUFFER 10 ROWS ORDER BY ts EXPIRE AFTER NEVER) FROM t",
    "SELECT c, COUNT(*) FROM t GROUP BY c WINDOW SESSION(1w)"
  )

  private def bounded[T](body: => T): T = Await.result(Future(body), 5.seconds)

  private def boundedParse(sql: String): Unit = bounded {
    try { VeloSqlParser.parse(sql); () } catch {
      case _: VeloSqlParser.ParseException => ()
      case _: IllegalArgumentException => ()
      case _: NumberFormatException => ()
      case _: StringIndexOutOfBoundsException => ()
      case _: IndexOutOfBoundsException => ()
      case _: NoSuchElementException => ()
      case _: MatchError => ()
    }
  }

  test("prefix truncations terminate") {
    shapes.foreach { s =>
      val toks = s.split(' ')
      (1 to toks.length).foreach { n =>
        boundedParse(toks.take(n).mkString(" "))
      }
    }
  }

  test("single-token deletions terminate") {
    shapes.foreach { s =>
      val toks = s.split(' ')
      toks.indices.foreach { i =>
        boundedParse((toks.take(i) ++ toks.drop(i + 1)).mkString(" "))
      }
    }
  }

  test("paren damage terminates") {
    shapes.foreach { s =>
      boundedParse(s.replaceFirst("\\(", " "))
      boundedParse(s.replaceFirst("\\)", " "))
      boundedParse(s + ")")
      boundedParse(s + " (")
    }
  }

  private def texts(sql: String): Vector[String] = VeloSqlParser.tokenize(sql).map(_.text)
  private type Statements = Seq[Vector[String]]

  /** The script's statements as three readers see them: tokenize cut at
    * its `;` symbols (empty groups dropped), splitStatements and
    * SqlApp.parse, each statement then tokenized. */
  private def statementTokens(script: String): (Statements, Statements, Statements) = {
    val cut = VeloSqlParser.tokenize(script)
      .foldLeft(Vector(Vector.empty[String])) { (gs, t) =>
        if (t.kind == VeloSqlParser.TSymbol && t.text == ";") gs :+ Vector.empty
        else gs.init :+ (gs.last :+ t.text)
      }.filter(_.nonEmpty)
    val split = VeloContext.splitStatements(script).map(texts)
    val app = SqlApp.parse("-- SQL Application: P\n" + script, _ => None).statements.map(s => texts(s.sql))
    (cut, split, app)
  }

  private def assertAgree(script: String): Int = {
    val (cut, split, app) = bounded(statementTokens(script))
    assert(split == cut, s"splitStatements disagrees with tokenize on: $script")
    assert(app == cut, s"SqlApp.parse disagrees with tokenize on: $script")
    cut.length
  }

  test("scripts split into the same statements through splitStatements, SqlApp.parse and tokenize") {
    // each join with the number of statements it leaves between two shapes
    val joins = Seq("; " -> 2, ";\n" -> 2, "; -- c; x\n" -> 2, ";\n-- c; x\n" -> 2,
      " /* ; ' */; " -> 2, "; SELECT ';' AS q; " -> 3, "; SELECT * FROM kafka://a--b; " -> 3)
    for (a <- shapes; b <- shapes; (j, n) <- joins)
      assert(assertAgree(a + j + b) == n, a + j + b)
    // a number glued to a scheme word, and an exponent sign followed by
    // '-': tokenize lexes these as a number then a URI (whose '--' and
    // '/*' are path text), and as 1e- then the symbol '-'; a '--'
    // comment ends at a lone '\r', so the ';' after it is a symbol
    Seq("SELECT * FROM 1e5kafka://t--x; SELECT 2 AS y",
      "SELECT * FROM 1e5file://d/*; SELECT 2 AS y",
      "SELECT 1e--5 AS x; SELECT 2 AS y",
      "SELECT 1 AS x -- c\r; SELECT 2 AS y").foreach { script =>
      assert(assertAgree(script) == 2, script)
    }
  }
}
