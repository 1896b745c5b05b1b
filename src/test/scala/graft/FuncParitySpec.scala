package graft

import scala.util.control.NonFatal

import org.scalatest.funsuite.AnyFunSuite

/** The function-parity census must stay CLOSED over the reference's
  * registry: every function the reference dispatches — the
  * register_sql_function! inventory, the window evaluator's arms, the
  * aggregation dispatch — needs a ledger entry with a status and
  * evidence. The inventory is the committed resource
  * `reference_functions.tsv` (one row per primary name: aliases,
  * category, aggregate/window flags and the reference source files
  * that register or dispatch it), so the census runs on every build.
  */
class FuncParitySpec extends AnyFunSuite with SparkTestSession {

  private final case class RefFn(name: String, aliases: Seq[String], category: String,
                                 aggregate: Boolean, window: Boolean, sources: Seq[String])

  private lazy val inventory: Seq[RefFn] = {
    val src = scala.io.Source.fromInputStream(
      getClass.getResourceAsStream("/reference_functions.tsv"), "UTF-8")
    try src.getLines().drop(1).filter(_.nonEmpty).map { line =>
      val Array(name, aliases, category, aggregate, window, sources) = line.split("\t", -1)
      def list(s: String) = s.split(",").toSeq.filter(_.nonEmpty)
      RefFn(name, list(aliases), category, aggregate.toBoolean, window.toBoolean, list(sources))
    }.toVector
    finally src.close()
  }

  test("reference inventory holds the full 89-function census") {
    assert(inventory.size == 89, s"inventory has ${inventory.size} rows")
    assert(inventory.map(_.name).distinct.size == inventory.size, "duplicate primary names")
    assert(inventory.exists(f => f.name == "LISTAGG" && f.aliases.contains("COLLECT")))
    assert(inventory.exists(f => f.name == "STDDEV" && f.aliases.contains("STDDEV_SAMP")))
    assert(inventory.forall(_.sources.nonEmpty))
  }

  test("inventory and ledger are closed over each other (no unknown rows)") {
    // every inventory name or alias resolves to a ledger row ...
    val primaryOf = inventory.flatMap(f => (f.name +: f.aliases).map(_ -> f.name)).toMap
    val missing = primaryOf.toSeq.collect {
      case (n, p) if !FuncParity.ledger.contains(p) => n
    }.sorted
    assert(missing.isEmpty, s"functions with no ledger entry: ${missing.mkString(", ")}")
    // ... and every ledger key is an inventory primary name
    val extra = FuncParity.ledger.keys.toSeq.filterNot(inventory.map(_.name).toSet).sorted
    assert(extra.isEmpty, s"ledger rows with no inventory function: ${extra.mkString(", ")}")
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

  test("the OVER-clause families are window rows of the inventory") {
    val byName = inventory.map(f => f.name -> f).toMap
    Seq("ROW_NUMBER", "RANK", "DENSE_RANK", "LAG", "LEAD", "NTILE",
      "PERCENT_RANK", "CUME_DIST", "NTH_VALUE").foreach { n =>
      assert(byName.get(n).exists(f => f.window && f.category == "Window" &&
        f.sources.contains("expression/window_functions.rs")), s"$n is not a window row")
    }
  }
}
