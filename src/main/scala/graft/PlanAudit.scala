package graft


/** Dev tool: dump the physical-plan properties that matter at 100 TB —
  * filter/column pushdown into the parquet scan, join strategy
  * (broadcast vs shuffle), sort-limit placement, codegen coverage —
  * for a set of representative queries. */
object PlanAudit {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val cpus = SparkEntry.cpusFromEnv()
    val spark = graft.api.GraftSession(s"local[$cpus]", shufflePartitions = cpus)
    spark.sparkContext.setLogLevel("ERROR")

    // the ONE subset parser (SparkEntry.querySubsetFromEnv, r14): the
    // hand-rolled copy here had re-diverged — an all-empty value
    // (" " or ",") filtered the audit to ZERO queries and exited green,
    // the exact silent failure the central helper maps to no-filter,
    // and a typo'd key aborted instead of being validated up front
    // (r15 review)
    val keys = SparkEntry.querySubsetFromEnv()
      .map(_.toSeq.sorted)
      .getOrElse(Seq("q1_agg", "q2_filter_project", "q4_multi_join", "q11_in_subquery",
        "q14_interval_join", "q24_dedup_minhash", "q27_ann_bruteforce", "q38_embed_dedup",
        "q40_topn_per_group", "q45_sql_agg", "q46_sql_tumbling", "q49_sql_join_in",
        "q55_asof_join", "q56_dedup_keep_best", "q58_embed_dedup_lsh", "q59_sql_distinct"))
    keys.foreach { k =>
      // COLD per query (the ScaleProbe rule): a later query sharing a
      // cached dedup subtree would otherwise be audited against
      // InMemoryTableScan — no PushedFilters, missing joins — a plan
      // shape that never occurs standalone (r15 review)
      graft.operators.LastCallCache.releaseAll()
      // one query's runtime failure (missing parquet, OOM at a big SF)
      // must report and move on — the same skip-and-continue contract
      // the unknown-key path already had (r15 review)
      try audit(spark, sfDir, k)
      catch { case scala.util.control.NonFatal(e) =>
        println(s"\n========== $k ==========\n  !! failed: ${e.getClass.getSimpleName}: " +
          String.valueOf(e.getMessage).take(300))
      }
    }
    spark.stop()
  }

  private def audit(spark: org.apache.spark.sql.SparkSession, sfDir: String,
                    k: String): Unit = {
    val df = SparkEntry.queries(k)(spark, sfDir)
    val ep = df.queryExecution.executedPlan
    ep.execute().count() // materialize THIS QueryExecution so AQE finalizes
    // FINAL plan only: the executed AQE plan string appends an
    // '== Initial Plan ==' section, so counting over the whole string
    // double-counted exchanges/scans and listed both the pre- and
    // post-AQE strategy for one join (r15 review; PlanGuardSpec trims
    // the same way)
    val plan = ep.toString
    // SPARK_GRAFT_PLAN_FULL=1: dump the whole executed plan per query —
    // the summary below hides expression-level differences (the q48-vs-q9
    // dialect gap was invisible at exchange/codegen granularity)
    if (sys.env.get("SPARK_GRAFT_PLAN_FULL").contains("1")) {
      println(s"\n========== $k (full) ==========")
      println(plan)
    }
    val lines = plan.linesIterator.toSeq
      .takeWhile(!_.contains("== Initial Plan =="))
    def grep(p: String) = lines.filter(_.contains(p)).map(_.trim.take(200))
    println(s"\n========== $k ==========")
    println("scans:")
    grep("PushedFilters").foreach(l => println("  " + l))
    println("joins: " + lines.filter(l => l.contains("Join")).map(_.trim.takeWhile(_ != '[')).distinct.mkString(" | "))
    val sorts = lines.filter(l => l.contains("Sort") || l.contains("TakeOrdered")).map(_.trim.take(80))
    if (sorts.nonEmpty) println("sorts: " + sorts.mkString(" | "))
    val exchanges = lines.count(_.contains("Exchange"))
    // "*(n)" prefixes mark operators fused into WholeStageCodegen stages
    val codegenStages = lines.flatMap(l => "\\*\\((\\d+)\\)".r.findAllMatchIn(l).map(_.group(1))).distinct.size
    println(s"exchanges: $exchanges  codegen-stages: $codegenStages")
    if (lines.exists(_.contains("CartesianProduct"))) println("  !! CartesianProduct")
    if (lines.exists(_.contains("BroadcastNestedLoopJoin"))) println("  note: BroadcastNestedLoopJoin")
  }
}
