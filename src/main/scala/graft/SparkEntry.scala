package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.api.Tables
import graft.functions.VeloFunctions._
import graft.operators.{Contamination, Dedup, Joins, Multimodal, Sampling, Similarity, TextAnalysis, TimeWindows}

/** Driver contract — see /root/repo/SURVEY.md §2 (one `queries` entry per
  * operator) and §5 (oracle-parity rules: decimal casts for money sums,
  * epoch-second BIGINTs for timestamps, ROUND(x,4) for float stats,
  * identical aliases on both sides).
  */
object SparkEntry {

  /** The SPARK_GRAFT_QUERIES subset knob, parsed and validated in ONE
    * place (r14 review: Verify and Bench each hand-kept the split/trim/
    * drop-empty/unknown-name sequence and their failure modes had
    * already diverged; the r13 empty-token fix had to land twice).
    * Empty tokens are dropped and an all-empty value means NO filter;
    * unknown names throw IllegalArgumentException with the typo'd
    * names — a misspelled subset must never filter a run to zero
    * queries and exit green. */
  def querySubsetFromEnv(envVal: Option[String] = sys.env.get("SPARK_GRAFT_QUERIES"))
      : Option[Set[String]] = {
    val only = envVal
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
      .filter(_.nonEmpty)
    only.foreach { names =>
      val unknown = names.diff(queries.keySet)
      if (unknown.nonEmpty) throw new IllegalArgumentException(
        s"SPARK_GRAFT_QUERIES names unknown queries: ${unknown.toSeq.sorted.mkString(", ")}")
    }
    only
  }

  /** SPARK_GRAFT_CPUS, parsed and validated ONCE for every entry point
    * (r17 review: Verify and Bench kept hand-written copies that had
    * already drifted in error dialect, and neither rejected 0/negative
    * — 'local[0]' died inside session construction with an error that
    * never named the knob). Throws IllegalArgumentException naming the
    * variable; callers choose their exit dialect. */
  def cpusFromEnv(envVal: Option[String] = sys.env.get("SPARK_GRAFT_CPUS")): Int = {
    val raw = envVal.getOrElse("4").trim
    raw.toIntOption.filter(_ > 0).getOrElse(
      throw new IllegalArgumentException(
        s"SPARK_GRAFT_CPUS must be a positive integer, got '$raw'"))
  }

  /** q58's shipped LSH configuration. AnnRecall's planted-twin probe
    * measures THESE parameters, so the benched entry and the per-round
    * recall measurement cannot drift apart. */
  private[graft] object Q58Config {
    val dim = 64
    val minCos = 0.3
    val numBands = 10
    val bandBits = 6
    // Hamming-1 band multi-probe: at this BROAD threshold exact bands
    // find only ~0.4 of true pairs (r10); probing each band's
    // single-bit flips lifts the measured broad recall to ~0.9
    val probeBits = 1
  }

  private def T(s: SparkSession, dir: String, name: String): DataFrame = Tables.load(s, dir, name)

  /** money aggregate → exact decimal sum surfaced as double. */
  private def dsum(c: Column): Column = sum(money(c)).cast("double")
  /** decimal-exact average surfaced as double (sum/count, both exact). */
  private def davg(c: Column): Column = sum(money(c)).cast("double") / count(c)

  /** Σ price·(1−discount) as exact decimal surfaced as double — the ONE
    * copy of the discounted-revenue aggregate (q1/q4/q14 all oracle it;
    * a precision fix applied to one inline copy would desync the rest). */
  private def dsumDisc(price: Column, discount: Column): Column =
    sum(money(price) * (lit(1).cast("decimal(18,4)") - money(discount))).cast("double")
  /** Epoch seconds via CAST (floorDiv on micros), not unix_timestamp
    * (truncates toward zero): keeps q5/q7's bucketing consistent with
    * VeloExprs.epochBucket for pre-1970 fractional timestamps. */
  private def epochS(c: Column): Column = c.cast("long")

  /** The near-dup verified-pair pipeline shared by q57/q60/q69/q70:
    * MinHash-LSH candidates over `text`, exact n-gram jaccard verify,
    * keep pairs at ≥ 0.8. One definition so the threshold and LSH
    * parameters cannot silently desynchronize across the four queries
    * (they are all oracled against the same DuckDB closure). */
  private def verifiedPairs(docs: DataFrame): DataFrame =
    verifiedPairsFull(docs).select("id_a", "id_b")

  /** Same pipeline keeping the verify columns (inter/uni/jaccard) —
    * q24's surface. One chain, one threshold: an inline copy in q24
    * would silently diverge from the four closure queries on a future
    * retuning. */
  private def verifiedPairsFull(docs: DataFrame): DataFrame = {
    val cand = Dedup.minhashLsh(docs, "text", "doc_id").select("id_a", "id_b")
    Dedup.ngramJaccard(cand, docs, "text", "doc_id")
      .where(col("jaccard") >= 0.8)
  }

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("q1_agg")(spark, "/root/testdata/sf0.001")

  // lazy val, not def: Bench/AnnRecall/Verify look entries up per
  // attempt, and a def would rebuild the whole ~80-closure map each time
  lazy val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // ---- 1. GROUP BY aggregation (TPC-H Q1 shape) ----
    "q1_agg" -> ((s, dir) => {
      T(s, dir, "lineitem")
        .filter(col("l_shipdate") <= to_timestamp(lit("1998-09-02")))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          dsum(col("l_quantity")).as("sum_qty"),
          dsum(col("l_extendedprice")).as("sum_base_price"),
          dsumDisc(col("l_extendedprice"), col("l_discount")).as("sum_disc_price"),
          davg(col("l_quantity")).as("avg_qty"),
          davg(col("l_discount")).as("avg_disc"),
          count(lit(1)).as("count_order"))
    }),

    // ---- 2. filter + project + ORDER BY + LIMIT ----
    "q2_filter_project" -> ((s, dir) => {
      T(s, dir, "orders")
        .filter(col("o_orderstatus") === "O" && col("o_totalprice") > 100000.0)
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
          veloUpper(col("o_orderpriority")).as("prio"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        .limit(100)
    }),

    // ---- 3. stream-table broadcast join ----
    "q3_stream_table_join" -> ((s, dir) => {
      val o = T(s, dir, "orders"); val c = T(s, dir, "customer")
      Joins.streamTable(o, c, o("o_custkey") === c("c_custkey"))
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n_orders"),
          dsum(col("o_totalprice")).as("revenue"),
          countDistinct(col("o_custkey")).as("n_customers"))
    }),

    // ---- 4. 3-way join + agg + top-N (TPC-H Q3 shape) ----
    "q4_multi_join" -> ((s, dir) => {
      val c = T(s, dir, "customer").filter(col("c_mktsegment") === "BUILDING")
      val o = T(s, dir, "orders")
      val l = T(s, dir, "lineitem")
      Joins.streamTable(o, c, o("o_custkey") === c("c_custkey"))
        .join(l, col("o_orderkey") === l("l_orderkey"))
        .groupBy(col("l_orderkey"))
        .agg(dsumDisc(col("l_extendedprice"), col("l_discount")).as("revenue"),
          countDistinct(col("l_linenumber")).as("n_lines"))
        .orderBy(col("revenue").desc, col("l_orderkey"))
        .limit(10)
    }),

    // ---- 5. WINDOW TUMBLING ----
    "q5_tumbling" -> ((s, dir) => {
      TimeWindows.tumbling(T(s, dir, "events"), "ts", 300L,
        Seq(col("event_type")),
        Seq(count(lit(1)).as("n_events"), dsum(col("value")).as("total_value")))
    }),

    // ---- 6. WINDOW SLIDING ----
    "q6_sliding" -> ((s, dir) => {
      TimeWindows.sliding(T(s, dir, "events"), "ts", 600L, 300L,
        Seq(col("event_type")),
        Seq(count(lit(1)).as("n_events")))
    }),

    // ---- 7. WINDOW SESSION (gaps-and-islands batch realization) ----
    "q7_session" -> ((s, dir) => {
      TimeWindows.sessionize(
        T(s, dir, "events").withColumn("ep", epochS(col("ts"))),
        "ep", 1800L, Seq(col("user_id")), Seq(col("event_id")),
        Seq(count(lit(1)).as("n_events"), min(col("ep")).as("session_start"),
          max(col("ep")).as("session_end")))
    }),

    // ---- 8. window (analytic) functions ----
    "q8_window_funcs" -> ((s, dir) => {
      val byDate = Window.partitionBy(col("o_custkey")).orderBy(col("o_orderdate"), col("o_orderkey"))
      val byPrice = Window.partitionBy(col("o_custkey")).orderBy(col("o_totalprice").desc, col("o_orderkey"))
      T(s, dir, "orders").select(
        col("o_orderkey"), col("o_custkey"),
        row_number().over(byDate).cast("long").as("rn"),
        rank().over(byPrice).cast("long").as("rk"),
        dense_rank().over(byPrice).cast("long").as("drk"),
        lag(col("o_totalprice"), 1).over(byDate).as("prev_price"),
        lead(col("o_totalprice"), 1).over(byDate).as("next_price"),
        ntile(4).over(byDate).cast("long").as("bucket"),
        round(percent_rank().over(byPrice), 4).as("prk"),
        round(cume_dist().over(byPrice), 4).as("cd"),
        nth_value(col("o_totalprice"), 2).over(
          byDate.rowsBetween(Window.unboundedPreceding, Window.currentRow)).as("second_price"),
        first(col("o_totalprice")).over(byDate).as("first_price"),
        last(col("o_totalprice")).over(
          byDate.rowsBetween(Window.unboundedPreceding, Window.currentRow)).as("running_last"))
    }),

    // ---- 9. moving aggregate over ROWS frame (ROWS WINDOW analog) ----
    "q9_rows_frame" -> ((s, dir) => {
      val w = Window.partitionBy(col("l_suppkey"))
        .orderBy(col("l_shipdate"), col("l_orderkey"), col("l_linenumber"))
        .rowsBetween(-4, 0)
      T(s, dir, "lineitem").select(
        col("l_orderkey"), col("l_linenumber"), col("l_suppkey"),
        (sum(money(col("l_quantity"))).over(w).cast("double") /
          count(lit(1)).over(w)).as("moving_avg_qty"))
    }),

    // ---- 10. HAVING ----
    "q10_having" -> ((s, dir) => {
      T(s, dir, "orders")
        .groupBy(col("o_custkey"))
        .agg(count(lit(1)).as("n_orders"), dsum(col("o_totalprice")).as("total_spent"))
        .filter(col("n_orders") >= 3 && col("total_spent") > 300000.0)
    }),

    // ---- 11. IN / NOT IN subquery (semi/anti join realization) ----
    "q11_in_subquery" -> ((s, dir) => {
      val c = T(s, dir, "customer")
      val big = T(s, dir, "orders").filter(col("o_totalprice") > 200000.0)
        .select(col("o_custkey").as("c_custkey"))
      val cancelled = T(s, dir, "orders").filter(col("o_orderstatus") === "F" && col("o_totalprice") < 50000.0)
        .select(col("o_custkey").as("c_custkey"))
      c.join(big, Seq("c_custkey"), "left_semi")
        .join(cancelled, Seq("c_custkey"), "left_anti")
        .select(col("c_custkey"), col("c_name"), col("c_mktsegment"))
    }),

    // ---- 12. EXISTS / NOT EXISTS ----
    "q12_exists" -> ((s, dir) => {
      val c = T(s, dir, "customer")
      val urgent = T(s, dir, "orders").filter(col("o_orderpriority") === "1-URGENT")
        .select(col("o_custkey").as("c_custkey"))
      val open = T(s, dir, "orders").filter(col("o_orderstatus") === "P")
        .select(col("o_custkey").as("c_custkey"))
      c.join(urgent, Seq("c_custkey"), "left_semi")
        .join(open, Seq("c_custkey"), "left_anti")
        .select(col("c_custkey"), col("c_acctbal"))
    }),

    // ---- 13. scalar + correlated subquery ----
    "q13_scalar_subquery" -> ((s, dir) => {
      val o = T(s, dir, "orders")
      val perCust = o.groupBy(col("o_custkey")).agg(max(col("o_totalprice")).as("max_price"))
      val global = o.agg(davg(col("o_totalprice")).as("gavg"))
      perCust.crossJoin(broadcast(global))
        .filter(col("max_price") > col("gavg"))
        .select(col("o_custkey"), col("max_price"))
    }),

    // ---- 14. stream-stream interval join ----
    "q14_interval_join" -> ((s, dir) => {
      val l = T(s, dir, "lineitem"); val o = T(s, dir, "orders")
      Joins.interval(o, l, o("o_orderkey") === l("l_orderkey"),
          o("o_orderdate"), l("l_shipdate"), 0L, 90L * 86400L)
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n_shipped_90d"),
          dsumDisc(col("l_extendedprice"), col("l_discount")).as("revenue"))
    }),

    // ---- 15. statistical aggregates ----
    "q15_stats" -> ((s, dir) => {
      T(s, dir, "lineitem").groupBy(col("l_returnflag")).agg(
        round(expr("stddev_samp(l_quantity)"), 4).as("sd_qty"),
        round(expr("var_samp(l_quantity)"), 4).as("var_qty"),
        round(expr("stddev_pop(l_quantity)"), 4).as("sdp_qty"),
        round(expr("var_pop(l_quantity)"), 4).as("varp_qty"),
        round(expr("corr(l_quantity, l_extendedprice)"), 4).as("corr_qp"),
        round(expr("covar_pop(l_quantity, l_extendedprice)"), 4).as("covp_qp"),
        round(expr("covar_samp(l_quantity, l_extendedprice)"), 4).as("covs_qp"),
        round(expr("regr_slope(l_extendedprice, l_quantity)"), 4).as("slope_pq"),
        round(expr("regr_intercept(l_extendedprice, l_quantity)"), 4).as("icept_pq"),
        round(expr("regr_r2(l_extendedprice, l_quantity)"), 4).as("r2_pq"))
    }),

    // ---- 16. MEDIAN / PERCENTILE_CONT / PERCENTILE_DISC ----
    //          (both price percentiles ride ONE percentile aggregate —
    //          one sorted pass over the column instead of two)
    "q16_percentiles" -> ((s, dir) => {
      // interpolated percentiles ROUND(x,4) (matching the oracle and the
      // float-stat parity rule): the two engines' linear interpolation
      // can differ in the last ulp; percentile_disc is an actual data
      // value and stays exact
      T(s, dir, "lineitem").groupBy(col("l_returnflag")).agg(
        expr("median(l_quantity)").as("med_qty"),
        expr("percentile(l_extendedprice, array(0.25, 0.9))").as("_ps"),
        expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY l_quantity)").as("pd50_qty"))
        .select(col("l_returnflag"), round(col("med_qty"), 4).as("med_qty"),
          round(element_at(col("_ps"), 1), 4).as("p25_price"),
          round(element_at(col("_ps"), 2), 4).as("p90_price"),
          col("pd50_qty"))
    }),

    // ---- 17. string function surface ----
    "q17_string_funcs" -> ((s, dir) => {
      val p = T(s, dir, "part")
      p.select(
        col("p_partkey"),
        veloUpper(col("p_name")).as("uname"),
        veloLower(col("p_brand")).as("lbrand"),
        veloSubstring(col("p_name"), 1, 5).as("name5"),
        veloLength(col("p_name")).cast("long").as("name_len"),
        veloConcat(col("p_brand"), lit("-"), col("p_type")).as("brand_type"),
        veloReplace(col("p_type"), " ", "_").as("type_u"),
        veloLeft(col("p_name"), 3).as("l3"),
        veloRight(col("p_name"), 3).as("r3"),
        veloPosition("a", col("p_name")).cast("long").as("pos_a"),
        veloTrim(col("p_name")).as("trimmed"),
        veloRegexp(col("p_name"), "^[a-m]").as("starts_am"))
    }),

    // ---- 18. date/time function surface ----
    "q18_datetime_funcs" -> ((s, dir) => {
      val o = T(s, dir, "orders")
      o.select(
        col("o_orderkey"),
        veloExtract("YEAR", col("o_orderdate")).cast("long").as("y"),
        veloExtract("MONTH", col("o_orderdate")).cast("long").as("m"),
        veloExtract("DAY", col("o_orderdate")).cast("long").as("d"),
        veloExtract("HOUR", col("o_orderdate")).cast("long").as("h"),
        veloDateFormat(col("o_orderdate"), "yyyy-MM-dd").as("ds"),
        veloDateDiff(col("o_orderdate"), to_timestamp(lit("1998-01-01"))).cast("long").as("days_to_98"),
        veloUnixTimestamp(col("o_orderdate")).as("epoch_s"),
        tumbleStart(col("o_orderdate"), 86400L).as("day_bucket"))
    }),

    // ---- 19. CASE / COALESCE / NULLIF / CAST ----
    "q19_conditional" -> ((s, dir) => {
      T(s, dir, "orders").select(
        col("o_orderkey"),
        when(col("o_totalprice") > 250000.0, "high")
          .when(col("o_totalprice") > 100000.0, "mid")
          .otherwise("low").as("price_band"),
        veloCoalesce(veloNullif(col("o_orderstatus"), lit("O")), lit("open")).as("status_x"),
        floor(col("o_totalprice")).cast("long").as("price_floor"),
        veloCast(col("o_orderkey"), "string").as("key_str"))
    }),

    // ---- 20. STRING_AGG / LISTAGG (deterministic: sorted) ----
    "q20_string_agg" -> ((s, dir) => {
      val n = T(s, dir, "nation"); val r = T(s, dir, "region")
      Joins.streamTable(n, r, n("n_regionkey") === r("r_regionkey"))
        .groupBy(col("r_name"))
        .agg(array_join(array_sort(collect_list(col("n_name"))), ",").as("nations"),
          count(lit(1)).as("n_nations"))
    }),

    // ---- 21. APPROX_COUNT_DISTINCT: exact count oracled; the HLL
    //          estimate is asserted within 10% as a boolean the oracle
    //          expects to be uniformly TRUE ----
    "q21_approx_distinct" -> ((s, dir) => {
      T(s, dir, "lineitem").groupBy(col("l_returnflag")).agg(
        countDistinct(col("l_partkey")).as("exact_parts"),
        (abs(approx_count_distinct(col("l_partkey")) - countDistinct(col("l_partkey")))
          <= lit(0.1) * countDistinct(col("l_partkey"))).as("approx_ok"))
    }),

    // ---- 22. FIRST / LAST per group (min_by/max_by realization) ----
    "q22_first_last" -> ((s, dir) => {
      T(s, dir, "orders").groupBy(col("o_custkey")).agg(
        min_by(epochS(col("o_orderdate")), col("o_orderkey")).as("first_order_epoch"),
        max_by(col("o_totalprice"), col("o_orderkey")).as("last_order_price"),
        min(col("o_orderkey")).as("first_orderkey"))
    }),

    // ---- 23. exact dedup ----
    "q23_dedup_exact" -> ((s, dir) => {
      Dedup.exact(T(s, dir, "documents"), "text", "doc_id")
        .select(col("keep_id"), col("dup_count"))
    }),

    // ---- 24. MinHash + LSH candidates → exact n-gram-Jaccard verify.
    //          Oracled against DuckDB's all-pairs jaccard ≥ 0.8 (the
    //          testdata's true pairs all sit ≥ 0.9; band-miss probability
    //          at j=0.9 with 8×2 banding is ~2e-6) ----
    "q24_dedup_minhash" -> ((s, dir) => {
      val d = T(s, dir, "documents")
      verifiedPairsFull(d)
        .select(col("id_a"), col("id_b"),
          col("inter").cast("long").as("inter"),
          col("uni").cast("long").as("uni"), col("jaccard"))
    }),

    // ---- 25. SimHash near-dup — the benched entry pins the
    //          md5-derived word hash (DuckDB's md5_number_lower) so the
    //          whole pipeline is oracled bit-for-bit; xxhash64 remains
    //          the library default for non-replay pipelines ----
    "q25_dedup_simhash" -> ((s, dir) => {
      Dedup.simhashPairs(T(s, dir, "documents"), "text", "doc_id",
          replayableHash = true)
        .select(col("id_a"), col("id_b"), col("hamming").cast("long").as("hamming"))
    }),

    // ---- 26. exact n-gram Jaccard on a deterministic candidate set ----
    "q26_ngram_jaccard" -> ((s, dir) => {
      val d = T(s, dir, "documents")
      val pairs = d.filter(col("doc_id") % 10 === 0).select(col("doc_id").as("id_a"))
        .withColumn("id_b", col("id_a") + 1)
      Dedup.ngramJaccard(pairs, d, "text", "doc_id")
        .select(col("id_a"), col("id_b"), col("inter").cast("long").as("inter"), col("uni").cast("long").as("uni"), col("jaccard"))
    }),

    // ---- 27. brute-force cosine top-k ANN ----
    "q27_ann_bruteforce" -> ((s, dir) => {
      val e = T(s, dir, "embeddings")
      Similarity.bruteForceTopK(e, e.filter(col("vec_id") < 5), "vec_id", "embedding", 10)
        .select(col("query_id"), col("neighbor_id"), round(col("cos"), 4).as("cos"), col("rk").cast("long").as("rk"))
    }),

    // ---- 28. LSH-bucketed ANN (recall<1 → rows-only) ----
    "q28_ann_lsh" -> ((s, dir) => {
      val e = T(s, dir, "embeddings")
      Similarity.lshTopK(e, e.filter(col("vec_id") < 5), "vec_id", "embedding", 10, 64)
    }),

    // ---- 29. language-ID heuristic ----
    "q29_lang_id" -> ((s, dir) => {
      T(s, dir, "documents").select(
        col("doc_id"), col("lang"),
        TextAnalysis.langId(col("text")).as("detected"))
    }),

    // ---- 30. text quality scoring ----
    "q30_text_quality" -> ((s, dir) => {
      val d = T(s, dir, "documents")
      // struct-once form: the shared normalize+split pipeline runs ONE
      // time per row (qualityMetrics' per-column twin re-inlines it
      // ~4x; QualityMetricsSpec pins the two equal)
      d.select(col("doc_id"), TextAnalysis.qualityStruct(col("text")).as("_q"))
        .select(col("doc_id") +:
          TextAnalysis.qualityMetricNames.map(n => round(col("_q")(n), 4).as(n)): _*)
    }),

    // ---- 31. token counting (whitespace + BPE-ish) ----
    "q31_token_count" -> ((s, dir) => {
      T(s, dir, "documents").select(
        col("doc_id"),
        TextAnalysis.tokenCountWs(col("text")).cast("long").as("n_tokens_ws"),
        TextAnalysis.tokenCountBpe(col("text")).cast("long").as("n_tokens_bpe"))
    }),

    // ---- 32. document fingerprint (rolling hash) ----
    "q32_fingerprint" -> ((s, dir) => {
      T(s, dir, "documents").select(
        col("doc_id"),
        TextAnalysis.fingerprint(col("text")).as("fp"))
    }),

    // ---- 33. EMIT CHANGES analog: update-mode streaming agg through the
    //          changelog (foreachBatch→parquet) production sink; result =
    //          latest state per key — which must equal the batch aggregate
    //          over the full input, so DuckDB replays it exactly (oracled;
    //          decimal-exact sum for order-independent totals) ----
    "q33_emit_changes" -> ((s, dir) => {
      val stream = Tables.loadStream(s, dir, "events")
      val agg = stream.groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), sum(col("value").cast("decimal(18,4)")).as("total_dec"))
      val out = graft.streaming.StreamOps.runChangelog(agg, "q33")
      val log = s.read.parquet(out)
      val w = Window.partitionBy(col("event_type")).orderBy(col("_batch_id").desc)
      log.withColumn("_rk", row_number().over(w))
        .where(col("_rk") === 1)
        .select(col("event_type"), col("n"), col("total_dec").cast("double").as("total"))
    }),

    // ---- 34. EMIT FINAL analog: append-mode tumbling window + watermark
    //          through the parquet FILE sink. ORACLED via the
    //          watermark-final rule: with a bounded in-order input (one
    //          file = one micro-batch, so nothing is ever late) the file
    //          sink holds exactly the batch windows whose end has been
    //          passed by the final watermark max(ts) - grace; DuckDB
    //          replays that as a HAVING filter. Decimal-exact total so
    //          the double sum is order-independent across engines ----
    "q34_tumbling_stream" -> ((s, dir) => {
      val stream = Tables.loadStream(s, dir, "events")
      val agg = graft.streaming.StreamOps.tumblingAgg(stream, "ts", "5 minutes", "10 minutes",
        Seq("event_type"),
        Seq("count(1)" -> "n", "CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE)" -> "total"))
      val out = graft.streaming.StreamOps.runToParquet(agg, "q34")
      s.read.parquet(out)
        .select(epochS(col("window_start")).as("window_start"), col("event_type"), col("n"), col("total"))
    }),

    // ---- 35. JSON functions ----
    "q35_json_funcs" -> ((s, dir) => {
      T(s, dir, "events")
        .withColumn("k", jsonExtract(col("props"), "$.k").cast("long"))
        .groupBy(col("event_type"))
        .agg(sum(col("k")).as("sum_k"),
          count(when(col("k") > 50, 1)).as("n_big_k"))
    }),

    // ---- 36. ARRAY construction / access ----
    "q36_array_map" -> ((s, dir) => {
      val l = T(s, dir, "lineitem")
      l.select(
        col("l_orderkey"), col("l_linenumber"),
        veloArray(col("l_returnflag"), col("l_linestatus")).as("flags"))
        .select(col("l_orderkey"), col("l_linenumber"),
          arrayLength(col("flags")).cast("long").as("n_flags"),
          arrayContains(col("flags"), "R").as("has_r"),
          element_at(col("flags"), 1).as("first_flag"))
    }),

    // ---- 37. exact decimal arithmetic (ScaledInteger analog) ----
    "q37_decimal_agg" -> ((s, dir) => {
      T(s, dir, "lineitem").groupBy(col("l_returnflag")).agg(
        sum(col("l_extendedprice").cast("decimal(18,2)")).cast("decimal(38,2)").cast("string").as("sum_exact"),
        sum(money(col("l_extendedprice")) * money(col("l_tax"))).cast("double").as("sum_tax_amt"))
    }),

    // ---- 38. embedding-cosine near-dup pairs: exact block-grid
    //          similarity self-join (oracled). The LSH variant
    //          (embeddingNearDupPairsLsh) is the web-scale path for
    //          near-dup thresholds; its recall is measured in
    //          SimilaritySpec ----
    "q38_embed_dedup" -> ((s, dir) => {
      // threshold = Q58Config.minCos, NOT a second literal: q38 is the
      // exact recall-1 baseline the q58 broad-tier recall gate divides
      // by — a drift between the two would silently measure q58 against
      // the wrong pair universe (r11 review)
      Similarity.exactCosineSelfJoin(T(s, dir, "embeddings"), "vec_id", "embedding",
          Q58Config.minCos)
        .select(col("id_a"), col("id_b"), round(col("cos"), 4).as("cos"))
    }),

    // ---- 39. multimodal binary pipeline: generic byte-feature path
    //          (deterministic formula + byte counts oracled); the REAL
    //          image codec path is q71 ----
    "q39_multimodal" -> ((s, dir) => {
      val media = Multimodal.mediaFromDocuments(T(s, dir, "documents"))
      Multimodal.extractFeatures(media, dim = 8)
        .select(col("media_id"), col("media_type"), col("n_bytes"),
          round(element_at(col("feature"), 1), 4).as("f0"))
    }),

    // ---- 71. real image codec round-trip: synthesize genuine PNGs
    //          (javax.imageio encode), decode them back, and extract
    //          byte-derived (IHDR header) AND pixel-derived (decoded
    //          dims + channel means) features. Pixels are arithmetic in
    //          (doc_id, n_chars), so DuckDB oracles what a real decoder
    //          must see without ever decoding a PNG itself ----
    "q71_image_decode" -> ((s, dir) => {
      val media = Multimodal.pngMediaFromDocuments(T(s, dir, "documents"))
      Multimodal.decodeImageFeatures(media)
    }),

    // ---- 72. real audio codec round-trip: genuine RIFF/WAVE files
    //          (javax.sound.sampled), decoded back to frame statistics;
    //          same oracle trick as q71 — PCM samples are arithmetic in
    //          (doc_id, n_chars) ----
    "q72_audio_decode" -> ((s, dir) => {
      val media = Multimodal.wavMediaFromDocuments(T(s, dir, "documents"))
      Multimodal.decodeAudioFeatures(media)
    }),

    // ---- 73. video tier: real container demux (length-prefixed PNG
    //          frames) + frame sampling, every sampled frame decoded by
    //          the real image codec; skipped frames never decoded ----
    "q73_video_frames" -> ((s, dir) => {
      val media = Multimodal.videoMediaFromDocuments(T(s, dir, "documents"))
      Multimodal.sampleAndDecodeFrames(media, stride = 2)
    }),

    // ---- 40. Top-N per group ----
    "q40_topn_per_group" -> ((s, dir) => {
      val o = T(s, dir, "orders"); val c = T(s, dir, "customer")
      val joined = Joins.streamTable(o, c, o("o_custkey") === c("c_custkey"))
      val w = Window.partitionBy(col("c_mktsegment"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      joined.select(col("c_mktsegment"), col("o_orderkey"), col("o_totalprice"))
        .withColumn("rk", row_number().over(w).cast("long"))
        .filter(col("rk") <= 3)
    }),

    // ---- 41. ANY / SOME / ALL subqueries (threshold rewrite, with the
    //          SQL empty-subquery semantics: ALL over ∅ = true, ANY over
    //          ∅ = false; reference docs/sql/subquery-support.md) ----
    "q41_any_all" -> ((s, dir) => {
      val o = T(s, dir, "orders")
      val allP = o.filter(col("o_orderstatus") === "P")
        .agg(max(col("o_totalprice")).as("all_max"))
      val anyU = o.filter(col("o_orderpriority") === "1-URGENT")
        .agg(min(col("o_totalprice")).as("any_min"))
      o.crossJoin(broadcast(allP)).crossJoin(broadcast(anyU))
        .filter(col("o_totalprice") > coalesce(col("all_max"), lit(Double.NegativeInfinity)) &&
          col("o_totalprice") > coalesce(col("any_min"), lit(Double.PositiveInfinity)))
        .select(col("o_orderkey"), col("o_totalprice"))
    }),

    // ---- 42. Kafka header ops + system columns (reference
    //          docs/sql/header-access.md, docs/sql/system-columns.md).
    //          Headers are synthesized deterministically from event
    //          fields, so the oracle can replay every op's result ----
    "q42_headers" -> ((s, dir) => {
      // system columns come from the ONE shared definition the dialect's
      // registerStreamLike uses (partition keys on user_id, the message
      // key); only the per-row header synthesis is query-specific
      val e = graft.sql.VeloContext.withSystemColumns(
          T(s, dir, "events"), "ts", "event_id", keyCol = Some("user_id"))
        .withColumn("_headers", veloMap(
          lit("source"), col("event_type"),
          lit("region"), concat(lit("r"), pmod(col("user_id"), lit(4))),
          lit("schema_ver"), lit("v2")))
      e.select(
        col("event_id"),
        header(col("_headers"), "source").as("h_source"),
        hasHeader(col("_headers"), "trace").as("has_trace"),
        array_join(array_sort(headerKeys(col("_headers"))), ",").as("h_keys"),
        header(setHeader(col("_headers"), "job", lit("graft")), "job").as("h_job"),
        hasHeader(removeHeader(col("_headers"), "region"), "region").as("region_removed"),
        col("_partition"), col("_offset"), col("_timestamp"))
    }),

    // ---- 43. ROWS WINDOW BUFFER n ROWS EMIT CHANGES analog: per-key
    //          ring-buffer state via flatMapGroupsWithState. ORACLED:
    //          with a bounded input every emission is the aggregate over
    //          the key's last ≤5 values in (ord, id) order — exactly a
    //          ROWS BETWEEN 4 PRECEDING window. Values are quantized to
    //          integer-valued doubles (×10⁴) so partial sums are exact
    //          in IEEE754 and the hash is association-order-independent
    //          across engines (emission SEQUENCE is asserted in
    //          StreamingSpec) ----
    "q43_rows_buffer" -> ((s, dir) => {
      import s.implicits._
      // ALL FOUR BufEvent fields are primitives — a null in ANY of them
      // does not drop the row, it kills the query (AssertNotNull inside
      // .as[BufEvent]); the r13 null rule filtered only ts (r17 oracle
      // review). The oracle mirrors the full contract.
      val ev = T(s, dir, "events")
        .where(col("ts").isNotNull && col("user_id").isNotNull &&
          col("event_id").isNotNull && col("value").isNotNull)
        .select(
        col("user_id").as("k"), epochS(col("ts")).as("ord"),
        col("event_id").as("id"), round(col("value") * 10000, 0).as("v"))
        .as[graft.streaming.StreamOps.BufEvent]
      graft.streaming.StreamOps.rowsBufferAgg(ev, 5).toDF()
        .withColumn("buf_n", col("buf_n").cast("long"))
    }),

    // ---- 44. SESSION window in Structured Streaming (session_window +
    //          watermark, parquet file sink). ORACLED via the same
    //          watermark-final rule as q34: emitted sessions are the
    //          batch gaps-and-islands sessions (full-µs-precision gap
    //          splits) whose end = last_ts + gap has been passed by the
    //          final watermark ----
    "q44_session_stream" -> ((s, dir) => {
      val stream = Tables.loadStream(s, dir, "events")
      val agg = graft.streaming.StreamOps.sessionAgg(stream, "ts", "30 minutes", "10 minutes",
        Seq("user_id"), Seq("count(1)" -> "n_events"))
      val out = graft.streaming.StreamOps.runToParquet(agg, "q44")
      s.read.parquet(out).select(col("user_id"), col("n_events"),
        epochS(col("session_start")).as("session_start"),
        epochS(col("session_end")).as("session_end"))
    }),

    // ---- 45-51: velostream SQL DIALECT front-end — reference-grammar
    //      statements parsed by graft.sql.VeloSqlParser and executed
    //      through Catalyst (docs/sql/PARSER_GRAMMAR.md) ----
    "q45_sql_agg" -> ((s, dir) => {
      veloCtx(s, dir).sql(
        """SELECT l_returnflag, COUNT(*) AS n_items,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty
           FROM lineitem GROUP BY l_returnflag""")
    }),

    "q46_sql_tumbling" -> ((s, dir) => {
      veloCtx(s, dir).sql(
        """SELECT event_type, COUNT(*) AS n_events
           FROM events GROUP BY event_type
           WINDOW TUMBLING(INTERVAL '5' MINUTE)""")
    }),

    "q47_sql_sliding" -> ((s, dir) => {
      veloCtx(s, dir).sql(
        """SELECT event_type, COUNT(*) AS n_events
           FROM events GROUP BY event_type
           WINDOW SLIDING(INTERVAL '10' MINUTE, INTERVAL '5' MINUTE)""")
    }),

    "q48_sql_rows_window" -> ((s, dir) => {
      veloCtx(s, dir).sql(
        """SELECT l_suppkey, l_orderkey, l_linenumber,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) OVER (
               ROWS WINDOW BUFFER 5 ROWS
               PARTITION BY l_suppkey
               ORDER BY l_shipdate, l_orderkey, l_linenumber
           ) AS DOUBLE) AS msum
           FROM lineitem""")
    }),

    "q49_sql_join_in" -> ((s, dir) => {
      veloCtx(s, dir).sql(
        """SELECT c.c_mktsegment, COUNT(*) AS n_orders
           FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
           WHERE o.o_orderkey IN (SELECT l_orderkey FROM lineitem WHERE l_quantity > 45)
           GROUP BY c.c_mktsegment""")
    }),

    "q50_sql_ctas" -> ((s, dir) => {
      val ctx = veloCtx(s, dir)
      ctx.sql(
        """CREATE TABLE big_orders AS
           SELECT o_orderkey, o_custkey, o_totalprice FROM orders
           WHERE o_totalprice > 150000 EMIT CHANGES""")
      ctx.sql(
        """SELECT o_custkey, COUNT(*) AS n_big,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS total
           FROM big_orders GROUP BY o_custkey""")
    }),

    "q51_sql_headers" -> ((s, dir) => {
      // HEADER_KEYS() is a comma-joined STRING in the reference
      // (functions.rs:375) — the registered source carries one header
      // ('source'), so the column reads the literal key name
      veloCtx(s, dir).sql(
        """SELECT _offset, _partition, HEADER('source') AS h_source,
           HAS_HEADER('trace') AS has_trace,
           HEADER_KEYS() AS h_keys,
           TUMBLE_START(ts, INTERVAL '1' HOUR) AS hour_bucket
           FROM events WHERE _partition = 3""")
    }),

    // ---- 52. IVF ANN: centroid-bucketed approximate top-k with the
    //          spark.ml-KMeans-trained coarse quantizer (recall<1 →
    //          rows-only; recall measured in SimilaritySpec) ----
    "q52_ann_ivf" -> ((s, dir) => {
      val e = T(s, dir, "embeddings")
      // quantizer trained on a bounded deterministic sample (driver-local
      // Lloyd — the web-scale IVF training shape; one collect job)
      val cents = Similarity.trainCentroidsSampled(e, "vec_id", "embedding", k = 64, dim = 64)
      // nprobe=24 + soft assignment to 2 cells: recall 0.94-0.98 measured
      // across sf0.001/0.01/0.1 (r7 calibration), vs 0.68-0.76 at the old
      // nprobe=16 hard assignment — the index grows 2x but the probed
      // fraction (24+2 vs 16 of 64 cells' worth of candidates) stays a
      // bounded slice of the corpus
      Similarity.ivfTopK(e, e.filter(col("vec_id") < 5), "vec_id", "embedding", 10, 64,
          nprobe = 24, centroids = Some(cents), assignProbes = 2)
        .select(col("query_id"), col("neighbor_id"), round(col("cos"), 4).as("cos"),
          col("rk").cast("long").as("rk"))
    }),

    // ---- 74. PQ ANN — the memory-scale path: the candidate scan reads
    //          m-byte codes (not vectors) against per-query ADC tables,
    //          then re-ranks the shortlist exactly. rows-only (recall<1
    //          by construction); recall + determinism in SimilaritySpec ----
    "q74_ann_pq" -> ((s, dir) => {
      val e = T(s, dir, "embeddings")
      // m=16 (dsub 8→4): encode and LUT cost are 256·dim regardless of
      // m, so halving the subspace width is near-free on wall while it
      // quarters the per-subspace quantization error that misorders the
      // ADC shortlist — r10 recall 0.86→1.00 measured at sf0.001/0.01/0.1;
      // refine=12 widens the re-ranked shortlist (600 rows total, trivial).
      // Codes grow 8→16 bytes: still 16× smaller than the 64-float vector.
      Similarity.pqTopK(e, e.filter(col("vec_id") < 5), "vec_id", "embedding",
          k = 10, dim = 64, m = 16, refine = 12)
        .select(col("query_id"), col("neighbor_id"), round(col("cos"), 4).as("cos"),
          col("rk").cast("long").as("rk"))
    }),

    // ---- 75. IVF-PQ — the full web-scale ANN layering: coarse cells
    //          partition the corpus, ADC scans m-byte codes only in the
    //          nprobe probed cells, exact re-rank on the shortlist.
    //          rows-only (recall<1); recall spec'd in SimilaritySpec ----
    "q75_ann_ivfpq" -> ((s, dir) => {
      val e = T(s, dir, "embeddings")
      // same r7 recall levers as q52: nprobe 16->24, soft assignment to 2
      // cells (recall 0.92-0.94 measured across all three SFs, was 0.68-0.76)
      Similarity.ivfPqTopK(e, e.filter(col("vec_id") < 5), "vec_id", "embedding",
          k = 10, dim = 64, m = 8, nCentroids = 64, nprobe = 24, refine = 8,
          assignProbes = 2)
        .select(col("query_id"), col("neighbor_id"), round(col("cos"), 4).as("cos"),
          col("rk").cast("long").as("rk"))
    }),

    // ---- 53. skew-safe salted join: same results as the plain join
    //          (oracled against it), shuffle spread across salt sub-keys ----
    "q53_salted_join" -> ((s, dir) => {
      val o = T(s, dir, "orders"); val c = T(s, dir, "customer")
      Joins.saltedJoin(o, c.withColumnRenamed("c_custkey", "o_custkey"), "o_custkey",
          o("o_orderkey"), salt = 8)
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n_orders"), dsum(col("o_totalprice")).as("revenue"))
    }),

    // ---- 57. dedup pipeline capstone: LSH candidates → exact-jaccard
    //          verify → connected-components clustering (oracled vs a
    //          DuckDB recursive-CTE closure) ----
    "q57_dedup_clusters" -> ((s, dir) => {
      val d = T(s, dir, "documents")
      Dedup.clusterPairs(verifiedPairs(d)).select(col("id").as("doc_id"), col("cluster_id"))
    }),

    // ---- 70. the q57 closure FORCED down the distributed pointer-
    //          doubling path (localThreshold = 0 skips the adaptive
    //          driver-local union-find): benched + oracled every round
    //          so a regression in the 100 TB path can't hide behind the
    //          driver-local finish on small edge sets ----
    "q70_dedup_clusters_dist" -> ((s, dir) => {
      val d = T(s, dir, "documents")
      Dedup.clusterPairs(verifiedPairs(d), localThreshold = 0L)
        .select(col("id").as("doc_id"), col("cluster_id"))
    }),

    // ---- 56. exact dedup with keep-best policy: per duplicate cluster
    //          keep the longest copy (oracled) ----
    "q56_dedup_keep_best" -> ((s, dir) => {
      Dedup.exactKeepBest(T(s, dir, "documents"), "text", "doc_id", col("n_chars"))
        .select(col("keep_id"), col("dup_count"))
    }),

    // ---- 55. AS-OF join: each order enriched with the date of the
    //          customer's most recent PRIOR order within a year
    //          (quotes-for-trades state-lookup shape; oracled) ----
    "q55_asof_join" -> ((s, dir) => {
      val o = T(s, dir, "orders")
      val prev = o.select(col("o_custkey"), col("o_orderdate").as("prev_date"))
      Joins.asOf(o, prev, "o_custkey", "o_orderdate", "prev_date",
          toleranceSeconds = 365L * 86400L, strict = true)
        .select(col("o_orderkey"), epochS(col("prev_date")).as("prev_epoch"))
    }),

    // ---- 61. Count-Min sketch heavy hitters (oracled: exact top-k
    //          counts + CMS error-bound booleans uniformly TRUE) ----
    "q61_heavy_hitters" -> ((s, dir) => {
      graft.operators.Sketches.cmsHeavyHitters(T(s, dir, "events"), "user_id", 20)
    }),

    // ---- 62. deterministic train/val/test split: md5-prefix threshold
    //          assignment — same row → same split on any cluster layout,
    //          pure map (no shuffle, no RNG state); oracled exactly ----
    "q62_train_split" -> ((s, dir) => {
      Sampling.hashSplit(T(s, dir, "documents"), "doc_id")
        .groupBy(col("split"), col("lang"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"))
        .select(col("split"), col("lang"), col("n_docs"), col("sum_chars"))
    }),

    // ---- 63. deterministic stratified sample (20% per language, keyed
    //          on lang:doc_id) — the exact member set is oracled ----
    "q63_stratified_sample" -> ((s, dir) => {
      val d = T(s, dir, "documents")
      Sampling.deterministicSample(d,
          concat_ws(":", col("lang"), col("doc_id")), 0.2)
        .select(col("doc_id"), col("lang"))
    }),

    // ---- 64. benchmark-contamination check: word-3gram overlap join
    //          between the corpus and a benchmark subset; DF-capped
    //          grams (skew + precision guard), oracled exactly ----
    "q64_contamination" -> ((s, dir) => {
      val d = T(s, dir, "documents")
      Contamination.ngramOverlap(d, d.where(col("doc_id") % 50 === 0),
          "text", "doc_id", k = 3, minShared = 3, maxDf = 1000L)
        .select(col("doc_id"), col("bench_id"), col("n_shared"))
    }),

    // ---- 65. Gopher-style repetition metrics + gate (top-word and
    //          duplicate-2gram fractions) over every document ----
    "q65_repetition" -> ((s, dir) => {
      TextAnalysis.repetitionMetrics(T(s, dir, "documents"), "text", "doc_id")
        .select(col("doc_id"), col("n_words"),
          round(col("top_word_frac"), 4).as("top_word_frac"),
          round(col("distinct_word_frac"), 4).as("distinct_word_frac"),
          round(col("dup_2gram_frac"), 4).as("dup_2gram_frac"), col("keep"))
    }),

    // ---- 77. corpus-wide duplicated-span fraction: per doc, the share
    //          of its distinct 5-word shingles appearing in ≥ 1 OTHER
    //          doc (exact-substring dedup signal; oracled — shingle
    //          construction and window count replay in DuckDB) ----
    "q77_dup_spans" -> ((s, dir) => {
      Dedup.duplicatedSpanStats(T(s, dir, "documents"), "text", "doc_id")
        .select(col("doc_id"), col("n_spans"), col("dup_span_frac"))
    }),

    // ---- 76. CCNet-style unigram LM scoring: per-doc mean −ln p(word)
    //          under the corpus's own unigram distribution (perplexity
    //          proxy — the quality pass after the cheap heuristics;
    //          oracled: counts, vocab cut, and log arithmetic replay
    //          exactly in DuckDB) ----
    "q76_perplexity" -> ((s, dir) => {
      TextAnalysis.unigramNll(T(s, dir, "documents"), "text", "doc_id")
        .select(col("doc_id"), col("n_words"), col("nll"))
    }),

    // ---- 68. training-shard packing: salted next-fit by running sum,
    //          bounded budget per shard; exact assignment oracled ----
    "q68_shard_pack" -> ((s, dir) => {
      Sampling.packIntoShards(T(s, dir, "documents"), "doc_id", "n_chars",
          budget = 20000L, parallelism = 32)
        .groupBy(col("shard_id"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("shard_chars"))
        .select(col("shard_id"), col("n_docs"), col("shard_chars"))
    }),

    // ---- 69. leakage-free split: near-dup clusters move into ONE
    //          split as a unit (split keyed on the cluster
    //          representative); exact assignment oracled against the
    //          recursive-CTE closure + md5 thresholds ----
    "q69_leakage_split" -> ((s, dir) => {
      val d = T(s, dir, "documents")
      Sampling.leakageFreeSplit(d, "doc_id", verifiedPairs(d))
        .select(col("doc_id"), col("split"))
    }),

    // ---- 66. protobuf wire-format round-trip over the corpus: encode
    //          typed columns to binary messages, decode back — output
    //          must equal a plain projection (oracled) ----
    "q66_proto_roundtrip" -> ((s, dir) => {
      val proto =
        """message Doc {
             int64 doc_id = 1;
             string lang = 2;
             int64 n_chars = 3;
           }"""
      val d = T(s, dir, "documents").select("doc_id", "lang", "n_chars")
      val enc = graft.sources.ProtoWire.encodeProtobuf(d, proto, "payload").select("payload")
      graft.sources.ProtoWire.decodeProtobuf(enc, "payload", proto)
        .select("doc_id", "lang", "n_chars")
    }),

    // ---- 67. binary Avro round-trip over the corpus (Apache Avro
    //          runtime): encode → decode == plain projection (oracled) ----
    "q67_avro_roundtrip" -> ((s, dir) => {
      val schema =
        """{"type":"record","name":"Doc","fields":[
             {"name":"doc_id","type":"long"},
             {"name":"lang","type":"string"},
             {"name":"n_chars","type":"long"}]}"""
      val d = T(s, dir, "documents").select("doc_id", "lang", "n_chars")
      val enc = graft.sources.Serde.encodeAvro(d, schema, "payload").select("payload")
      graft.sources.Serde.decodeAvro(enc, "payload", schema)
        .select("doc_id", "lang", "n_chars")
    }),

    // ---- 60. TRAINING-DATA CURATION CAPSTONE: the full pipeline a
    //          100 TB corpus runs — language gate (self-consistency) +
    //          quality gate (token floor) → exact dedup keeping the
    //          longest copy → MinHash-LSH near-dup candidates → exact
    //          jaccard verify → connected-components → keep one doc per
    //          cluster. Every stage is a previously-oracled operator;
    //          the composition is oracled against a DuckDB CTE chain ----
    "q60_curation" -> ((s, dir) => {
      val d = T(s, dir, "documents")
      val gated = d
        .withColumn("detected", TextAnalysis.langId(col("text")))
        .withColumn("n_ws", TextAnalysis.tokenCountWs(col("text")))
        .filter(col("detected") === col("lang") && col("n_ws") >= 5)
      val keep = Dedup.exactKeepBest(gated, "text", "doc_id", col("n_chars"))
        .select(col("keep_id").as("doc_id"))
      // the curated intermediate feeds FOUR consumers (LSH signatures,
      // both sides of the verify join, and the final anti-join) —
      // materialized once, as a production pipeline would checkpoint
      // its post-gate corpus, and freed with the query (the read-shared
      // contract on Dedup.minhashLsh), not pinned in executor storage
      // for the rest of the session as a bare cache() would be
      val uniq = gated.join(keep, Seq("doc_id"), "left_semi").localCheckpoint(eager = false)
      val dropped = Dedup.clusterPairs(verifiedPairs(uniq))
        .where(col("id") =!= col("cluster_id")).select(col("id").as("doc_id"))
      uniq.join(dropped, Seq("doc_id"), "left_anti")
        .select(col("doc_id"), col("detected"))
    }),

    // ---- 59. SELECT DISTINCT through the dialect (reference ast.rs:216;
    //          oracled) ----
    "q59_sql_distinct" -> ((s, dir) => {
      veloCtx(s, dir).sql(
        """SELECT DISTINCT o_orderstatus, o_orderpriority FROM orders
           WHERE o_totalprice > 50000""")
    }),

    // ---- 58. embedding near-dup at web scale: sign-sketch LSH banding →
    //          capped band-bucket self-join → exact-cosine verify
    //          (recall<1 by construction → rows-only; recall vs the exact
    //          grid join measured in SimilaritySpec) ----
    "q58_embed_dedup_lsh" -> ((s, dir) => {
      Similarity.embeddingNearDupPairsLsh(T(s, dir, "embeddings"), "vec_id", "embedding",
          dim = Q58Config.dim, minCos = Q58Config.minCos,
          numBands = Q58Config.numBands, bandBits = Q58Config.bandBits,
          probeBits = Q58Config.probeBits)
        .select(col("id_a"), col("id_b"), round(col("cos"), 4).as("cos"))
    }),

    // ---- 54. reference SQL text driven through STREAMING execution:
    //          dialect parse → watermarked stream → EMIT FINAL file sink
    //          (the end-to-end flagship of the front-end). ORACLED via
    //          the q34 watermark-final rule ----
    "q54_sql_stream" -> ((s, dir) => {
      val ctx = new graft.sql.VeloContext(s, defaultTimeCol = "ts")
      try {
        ctx.registerStream("events_live", Tables.loadStream(s, dir, "events"), "ts", "10 minutes")
        val out = ctx.sqlStream(
          """SELECT event_type, COUNT(*) AS n,
             CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total
             FROM events_live GROUP BY event_type
             WINDOW TUMBLING(INTERVAL '5' MINUTE)
             EMIT FINAL""")
        // the dialect's windowed output already surfaces window_start
        // as an epoch-second BIGINT
        s.read.parquet(out).select(
          col("window_start"), col("event_type"), col("n"), col("total"))
      } finally ctx.close() // throwaway context: detach its listeners from the shared session
    })
  )

  /** ONE dialect context per session — not per (session, dir):
    * `forDir` registers SESSION-GLOBAL temp views, so a second dir in
    * the same session repoints every view, and a (session, dir)-keyed
    * cache would keep handing back a context whose tables silently
    * read the OTHER dir's data. On a dir switch the old context is
    * closed (detaching its listeners) and rebuilt; stopped sessions
    * are dropped so the static map can't retain them forever. */
  private val ctxCache = new java.util.concurrent.ConcurrentHashMap[SparkSession, (String, graft.sql.VeloContext)]()
  private def veloCtx(s: SparkSession, dir: String): graft.sql.VeloContext = ctxCache.synchronized {
    // plain lock, not compute(): the failure path must REMOVE the
    // mapping, and mutating the map from inside compute's mapping
    // function is illegal re-entrancy on ConcurrentHashMap
    ctxCache.keySet.removeIf(sess => sess.sparkContext.isStopped)
    val cur = ctxCache.get(s)
    if (cur != null && cur._1 == dir) cur._2
    else {
      // build FIRST, close the old context only on success: forDir
      // repoints session-global temp views as it registers, so if it
      // throws mid-way the old (dir, ctx) entry is a lie — some views
      // already read the NEW dir. Dropping the mapping forces the next
      // call to rebuild fresh instead of silently serving mixed-dir
      // data (forDir closes its own half-built context on failure).
      val next =
        try graft.sql.VeloContext.forDir(s, dir)
        catch { case e: Throwable =>
          // close() can itself throw on a degraded session: the stale
          // mapping must drop REGARDLESS (a surviving entry serves
          // mixed-dir data via the fast path) and forDir's exception —
          // not close()'s — must stay the one reported (r16 review)
          if (cur != null) {
            try cur._2.close()
            catch { case scala.util.control.NonFatal(_) => () }
            finally ctxCache.remove(s)
          }
          throw e
        }
      // install the new mapping REGARDLESS of close() throwing: the
      // temp views already point at the new dir, so a surviving stale
      // (oldDir -> closed ctx) entry would serve the NEW dir's data to
      // a later veloCtx(s, oldDir) via the fast path (r14 review)
      try { if (cur != null) cur._2.close() }
      finally ctxCache.put(s, (dir, next))
      next
    }
  }

  def oracleSql: Map[String, String] = OracleSql.sql
}
