package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  private def deleteRecursively(f: java.io.File): Unit = {
    // symlinks are deleted as LINKS, never followed: File.isDirectory
    // resolves links, so a symlinked query output dir (an operator
    // inspecting results between rounds) would have its TARGET's
    // contents deleted — files outside outDir (r17 review)
    if (f.isDirectory && !Files.isSymbolicLink(f.toPath))
      Option(f.listFiles()).foreach(_.foreach(deleteRecursively))
    // fail LOUDLY on a delete that didn't happen: the pre-run clear
    // exists so a failing query can't green against its previous run's
    // parquet — a silently-failed delete re-opens exactly that hole
    if (!f.delete() && f.exists())
      sys.error(s"could not delete stale output ${f.getAbsolutePath} — " +
        "a broken query would silently pass against the previous run")
  }
  def main(args: Array[String]): Unit = {
    // a usage line, not a bare MatchError: Verify is the correctness-gate
    // entry point, and a driver-script quoting slip should say what it
    // got wrong
    if (args.length != 2) {
      System.err.println(s"usage: graft.Verify <sfDir> <outDir> (got ${args.length} args)")
      sys.exit(2)
    }
    val Array(sfDir, outDir) = args
    // knobs validate BEFORE the session builds (Bench's ordering): a
    // typo'd subset or a quoting slip in CPUS must not pay tens of
    // seconds of session startup + kernel registration first (r14
    // review). SparkEntry.queries needs no session.
    // the ONE shared parse (SparkEntry.cpusFromEnv, r17 review: this
    // copy and Bench's had drifted, and neither rejected 0/negative)
    val cpus =
      try SparkEntry.cpusFromEnv()
      catch { case e: IllegalArgumentException =>
        System.err.println(e.getMessage); sys.exit(2); 0
      }
    val only =
      try SparkEntry.querySubsetFromEnv()
      catch { case e: IllegalArgumentException =>
        System.err.println(e.getMessage); sys.exit(2); None
      }
    // ONE subset predicate for the query loop, the oracle json, and the
    // attempted manifest: three hand-written copies of the filter could
    // drift and desynchronize outputs the checker assumes are
    // consistent (r14 review)
    val keep: String => Boolean = name => only.forall(_.contains(name))
    val spark = graft.api.GraftSession(s"local[$cpus]", cpus)
    new java.io.File(outDir).mkdirs()
    // manifests are written BEFORE the query loop: written after, a
    // fatal mid-run death (OOM propagates by design) left the PREVIOUS
    // run's consistent manifests in place — a hand-run checker (or a
    // driver script not &&-ing on the exit code) would green a query
    // that never produced output (r14 review). Shared escaper (JsonOut):
    // a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    val q: String => String = JsonOut.jstr
    // the SAME subset filter as the query loop: a restricted run
    // (SPARK_GRAFT_QUERIES) must not emit oracle entries for queries it
    // never wrote, or the checker reports phantom missing-dir failures
    val json = SparkEntry.oracleSql
      .filter { case (k, _) => keep(k) }
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // the full attempted-query manifest: without it the checker can only
    // see directories that EXIST, so a rows-only query that failed (its
    // target was cleared below, and nothing was written) simply vanishes
    // from the report and the run exits green
    val attempted = SparkEntry.queries.keys.toSeq.sorted.filter(keep)
    Files.writeString(Paths.get(s"$outDir/queries.json"),
      attempted.map(q).mkString("[", ",", "]"))
    // clear EVERY attempted target up-front, right after the manifests
    // (r17 review): the per-query clear below only reaches queries the
    // run gets to — a fatal mid-run death (OOM propagates by design)
    // left the PREVIOUS run's parquet for every query after the death
    // point while the fresh manifests listed them, so a checker (or a
    // driver script not &&-ing the exit code) would green 60-odd
    // queries that never ran against this run's code. The per-query
    // delete stays as belt-and-braces.
    attempted.foreach(n => deleteRecursively(new java.io.File(s"$outDir/$n")))
    var nFailed = 0
    SparkEntry.queries
      .filter { case (name, _) => keep(name) }
      .foreach { case (name, fn) =>
      // clear the target FIRST: a query that fails before its write must
      // not leave the previous run's parquet behind — the DuckDB compare
      // would silently PASS on stale data and green a broken query
      deleteRecursively(new java.io.File(s"$outDir/$name"))
      // repartition(1), not coalesce(1): coalesce collapses the WHOLE
      // final stage to one task back to the previous shuffle boundary,
      // serializing the scan+kernels of shuffle-free queries; the
      // explicit shuffle keeps upstream compute parallel and funnels
      // only the small verify output (r13 review)
      try fn(spark, sfDir).repartition(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case scala.util.control.NonFatal(e) =>
        // NonFatal: an OOM/interrupt must kill the gate run nonzero,
        // not read as one query's stderr line in a corrupted JVM
        // followed by a green exit (r13 review)
        nFailed += 1
        System.err.println(s"[verify] $name failed: " +
          Option(e.getMessage).getOrElse(e.getClass.getName))
      }
    }
    spark.stop()
    // the exit code now REFLECTS query failures (r17 review: every
    // per-query exception was caught and printed, so the gate exited 0
    // even when all 77 queries failed — the exit code the in-file
    // comments tell driver scripts to && on never said anything)
    if (nFailed > 0) {
      System.err.println(s"[verify] $nFailed quer${if (nFailed == 1) "y" else "ies"} failed")
      sys.exit(1)
    }
  }
}
