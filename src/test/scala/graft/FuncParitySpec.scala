package graft

import scala.util.control.NonFatal

import org.scalatest.funsuite.AnyFunSuite

/** The function-parity census (FuncParity) must stay CLOSED over the
  * reference's registry: every function the reference dispatches —
  * the register_sql_function! inventory, the window evaluator's arms,
  * the aggregation dispatch — needs a ledger entry with a status and
  * evidence. A new function appearing in the reference fails HERE (and
  * in the FuncParity main, exit 1) instead of silently missing from
  * the round artifact.
  */
class FuncParitySpec extends AnyFunSuite with SparkTestSession {

  private val refRoot = "/root/reference/src/velostream/sql/execution"
  private def available = java.nio.file.Files.isDirectory(java.nio.file.Paths.get(refRoot))

  test("reference registry scrape finds the full inventory") {
    assume(available, s"reference sources not present at $refRoot")
    val reg = FuncParity.scrapeRegistry(s"$refRoot/expression/functions.rs")
    // 80 registered defs as of the pinned reference; a shrink means the
    // scrape regex broke, a growth means new functions to cover
    assert(reg.size >= 80, s"registry scrape found only ${reg.size} functions")
    assert(reg.exists(f => f.name == "LISTAGG" && f.aliases.contains("COLLECT")))
    assert(reg.exists(f => f.name == "STDDEV" && f.aliases.contains("STDDEV_SAMP")))
  }

  test("every scraped function name has a ledger entry (no unknown rows)") {
    assume(available, s"reference sources not present at $refRoot")
    val reg = FuncParity.scrapeRegistry(s"$refRoot/expression/functions.rs")
    val primaryOf = reg.flatMap(f => (f.name +: f.aliases).map(_ -> f.name)).toMap
    val win = FuncParity.scrapeArmNames(s"$refRoot/expression/window_functions.rs")
    val agg = FuncParity.scrapeArmNames(s"$refRoot/aggregation/functions.rs")
    // NO suppression filter (r12): grep shows no EXTRACT-part arm heads
    // exist in either dispatch file, so any unexpected scraped name is
    // a real census gap that must fail here, not be silently dropped
    val all = (reg.map(_.name) ++ (win ++ agg).map(n => primaryOf.getOrElse(n, n)))
      .distinct
    val missing = all.filterNot(FuncParity.ledger.contains).sorted
    assert(missing.isEmpty, s"functions with no ledger entry: ${missing.mkString(", ")}")
  }

  test("every ledger row is PINNED: no bare-'implemented' evidence remains (r12)") {
    val bare = FuncParity.ledger.collect {
      case (n, l) if l.status == "implemented" => n
    }.toSeq.sorted
    assert(bare.isEmpty,
      s"rows whose only evidence is an execution probe: ${bare.mkString(", ")}")
    // and every status is one of the three documented values
    val badStatus = FuncParity.ledger.collect {
      case (n, l) if !Set("parity-verified", "divergence-documented", "implemented")
        .contains(l.status) => s"$n=${l.status}"
    }
    assert(badStatus.isEmpty, s"unknown statuses: ${badStatus.mkString(", ")}")
  }

  test("every ledger probe executes through the dialect on the probe fixture") {
    val ctx = FuncParity.probeContext(spark)
    val failed = FuncParity.ledger.toSeq.sortBy(_._1).flatMap { case (name, l) =>
      try { ctx.sql(l.probe).collect(); None }
      catch { case NonFatal(e) => Some(s"$name: ${String.valueOf(e.getMessage).take(200)}") }
    }
    assert(failed.isEmpty, s"${failed.size}/${FuncParity.ledger.size} probes failed:\n" +
      failed.mkString("\n"))
  }

  test("window dispatch scrape finds the OVER-clause families") {
    assume(available, s"reference sources not present at $refRoot")
    val win = FuncParity.scrapeArmNames(s"$refRoot/expression/window_functions.rs")
    Seq("ROW_NUMBER", "RANK", "DENSE_RANK", "LAG", "LEAD", "NTILE",
      "PERCENT_RANK", "CUME_DIST", "NTH_VALUE").foreach(n =>
      assert(win.contains(n), s"window scrape lost $n"))
  }
}
