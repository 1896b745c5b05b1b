package graft

/** DuckDB oracle SQL for every SQL-expressible query in SparkEntry.
  *
  * Parity rules (SURVEY.md §5): identical aliases; money aggregates via
  * DECIMAL(18,4) casts then CAST AS DOUBLE; timestamps surfaced as
  * epoch-second BIGINTs via the flooring `epochS`/`bucketS` helpers
  * (DuckDB's bare `//` truncates toward zero and would diverge from
  * Spark's floorDiv on pre-1970 values). The ENGINE side upholds the
  * matching convention: every epoch surface goes through cast-to-long
  * (floorDiv on micros, SparkEntry.epochS) — never unix_timestamp,
  * whose toward-zero truncation is one second off on pre-1970
  * fractional timestamps (r11 audit removed the last four truncating
  * surfaces: q34/q43/q44/q55; the one deliberate exception is Spark's
  * internal WATERMARK, which ms-TRUNCATES, mirrored as epoch_ms-based
  * micro compares in q34/q44/q54). Float stats ROUND(x,4);
  * integer modulo via the `pmod` helper (DuckDB's `%` keeps the
  * dividend's sign, Spark-side partition/salt/seed math floors);
  * DuckDB regexp_replace
  * needs the 'g' flag to match Spark's global replace; integer-sum
  * results cast BIGINT (DuckDB widens to HUGEINT otherwise).
  *
  * Keys intentionally omitted (rows-only check): q28/q52/q58/q74/q75
  * (LSH/IVF/PQ recall<1 — every one recall-bounded by nature; each
  * carries a measured per-round recall entry in the bench artifact).
  * q25 IS oracled as of r7: its benched entry pins the md5-derived
  * word hash (md5_number_lower), so DuckDB replays fingerprints,
  * bands, bucket cap, and hamming bit-for-bit.
  * The streaming keys ARE oracled: q33's final changelog
  * state equals the batch aggregate; q34/q54/q44 via the
  * watermark-final rule (bounded one-batch input → file sink ==
  * batch windows with end ≤ max(ts) - grace); q43 as a bounded ROWS
  * window. q21 oracles the exact count and asserts
  * the HLL estimate within 10% as a boolean; q24 oracles the
  * exact-jaccard-verified pair set; q38 oracles the exact block-grid
  * cosine self-join; q39 oracles the deterministic stub formula.
  */
object OracleSql {

  // Java's \s is [ \t\n\x0B\f\r] but DuckDB's RE2 \s is only
  // [\t\n\f\r ] — a vertical tab would normalize differently on the
  // two sides, so the class is SPELLED OUT to pin the Java semantics
  private val wsClass = """[ \t\n\x0B\f\r]"""

  // collapse-then-trim: must mirror TextAnalysis.words()'s order (trim
  // strips only ' ', so the order is visible on \t/\n-framed text)
  private val normText = s"trim(regexp_replace(lower(text), '$wsClass+', ' ', 'g'))"
  private val wordsOf = s"string_split($normText, ' ')"

  /** DuckDB's `//` and `%` TRUNCATE toward zero (DuckDB 1.0:
    * -1500 // 1000 = -1, -7 % 3 = -1) while the Spark side FLOORS
    * (cast-to-long = floorDiv on micros; pmod/floorMod for
    * partitions, salts, and media synth seeds) — so a pre-1970 event
    * or a negative id would bucket/assign differently and fail the
    * gate on correct engine output. Every epoch and modulo oracle
    * therefore goes through these helpers, which subtract the
    * POSITIVE remainder first: the dividend becomes an exact
    * multiple, so truncation and flooring coincide, in pure integer
    * arithmetic (no double round-trip to go subtly wrong at large
    * epochs). */
  private def pmod(e: String, m: Long): String = s"((($e) % $m) + $m) % $m"

  /** floor(epoch_us/1e6): BIGINT epoch seconds == Spark's
    * cast(ts AS LONG) flooring (floorDiv on MICROS). Built on epoch_us,
    * not epoch_ms: epoch_ms itself truncates the sub-millisecond part
    * toward zero, so flooring the ms value still reads one second high
    * for a negative timestamp with a non-zero sub-ms fraction
    * (t = -10.000001 s: floor(trunc_ms/1000) = -10, floorDiv micros
    * = -11) — the us-based floor matches the engine exactly. */
  private def epochS(ts: String): String =
    s"((epoch_us($ts) - ${pmod(s"epoch_us($ts)", 1000000L)}) // 1000000)"

  /** floor(epoch_us/1000): BIGINT epoch MILLIS == Spark's
    * unix_millis (floorDiv on micros) — q42's `_timestamp` system
    * column. DuckDB's epoch_ms truncates toward zero instead. */
  private def epochMsFloor(ts: String): String =
    s"((epoch_us($ts) - ${pmod(s"epoch_us($ts)", 1000L)}) // 1000)"

  /** floor(epoch_s / step) * step — the oracle twin of
    * VeloExprs.epochBucket (epoch-aligned bucket start, seconds).
    * us-based for the same sub-millisecond reason as epochS. */
  private def bucketS(ts: String, stepSeconds: Long): String = {
    val us = stepSeconds * 1000000L
    s"((epoch_us($ts) - ${pmod(s"epoch_us($ts)", us)}) // 1000000)"
  }

  /** Cosine with the engine's corrupt-row edges (GraftKernels.cosine):
    * empty / length-mismatched / null-element vectors, zero norms, and
    * non-finite quotients all pin to 0.0. ONE copy shared by q27 and
    * q38 — a verbatim duplicate would silently drift on a future edge
    * fix (the shinglesOf/closureCtes convention). Emits the
    * dot/na/nb/corrupt select fragment; pair with [[cosineCase]]. */
  private def cosineCols(a: String, b: String): String =
    s"""list_sum(list_transform(list_zip($a, $b),
       p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE))) AS dot,
       list_sum(list_transform($a, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))) AS na,
       list_sum(list_transform($b, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))) AS nb,
       (len($a) = 0 OR len($a) <> len($b)
        OR len(list_filter($a, x -> x IS NULL)) > 0
        OR len(list_filter($b, x -> x IS NULL)) > 0) AS corrupt"""

  /** The 0.0-pinning score CASE over cosineCols' dot/na/nb/corrupt. */
  private val cosineCase: String =
    """CASE WHEN corrupt THEN 0.0
       WHEN na = 0 OR nb = 0 THEN 0.0
       WHEN NOT isfinite(dot / (sqrt(na) * sqrt(nb))) THEN 0.0
       ELSE dot / (sqrt(na) * sqrt(nb)) END"""

  /** SQL string-list literal for a stopword list — single quotes in a
    * word (French elisions like "l'") must escape, or the generated
    * oracle dies with a syntax error the moment the list grows. */
  private def sqlList(words: Seq[String]): String =
    words.map(w => s"'${w.replace("'", "''")}'").mkString("[", ", ", "]")

  /** Stopword-ratio scoring SQL used by the q29 and q60 oracles. The word
    * LISTS come from the engine's own `TextAnalysis.stopwords` (they are a
    * parameter of the operator, not its logic) so the three copies cannot
    * drift; the DuckDB scoring expression itself stays independent of the
    * Spark implementation. */
  private def langScore(l: String): String = {
    val lst = sqlList(graft.operators.TextAnalysis.stopwords(l))
    s"CAST(len(list_filter(ws, w -> list_contains($lst, w))) AS DOUBLE) / greatest(len(ws), 1)"
  }

  /** `wordsOf` minus the phantom empty token DuckDB's string_split (like
    * Spark's split) yields on empty text — mirrors
    * TextAnalysis.nonEmptyWords for counting surfaces. */
  private val neWordsOf = s"list_filter($wordsOf, w -> w <> '')"

  /** Distinct k-word shingles of a word-list expression (one shingle of
    * all words when shorter than k) — the ONE copy of the oracle's
    * shingle rule. q24/q26/q57/q60/q64/q65/q69/q77 all build shingles
    * from this helper: the q54/q67/q70 aliasing note below names the
    * drift failure mode ("a verbatim copy would silently drift on a
    * future rule fix"), and a verbatim-copied shingle CTE has the same
    * problem. */
  private def shinglesOf(ws: String, k: Int): String =
    s"""list_distinct(list_transform(
        generate_series(1, greatest(len($ws) - ${k - 1}, 1)),
        i -> array_to_string($ws[i:i+${k - 1}], ' ')))"""

  /** The exact-dedup family's 128-bit content key — mirrors
    * Dedup.contentHash: a NULL text is the absence of content, so each
    * null doc gets its own id-salted group (NUL-separated salt, same
    * cross-collision semantics as the Spark side) instead of SQL's
    * all-NULLs-in-one-group default. The ONE copy for q23/q56. */
  private val contentKey =
    s"""CASE WHEN text IS NULL
          THEN md5('graft' || chr(0) || 'null' || chr(0) || CAST(doc_id AS VARCHAR))
          ELSE md5('graft' || chr(0) || 'text' || chr(0) || $normText) END"""

  /** Language-detection CASE over the four `s_xx` scores — mirrors
    * TextAnalysis.langId's tie-break order AND its null/empty rule
    * (`when(best > 0)` is false for NULL scores → 'und'; SQL's bare
    * `greatest(...) = 0` would be NULL for a NULL-text doc and fall
    * through to 'de'). The ONE copy for q29/q60. */
  private val detectedCase =
    """CASE WHEN COALESCE(greatest(s_de, s_en, s_es, s_fr), 0) = 0 THEN 'und'
         WHEN s_fr >= s_es AND s_fr >= s_en AND s_fr >= s_de THEN 'fr'
         WHEN s_es >= s_en AND s_es >= s_de THEN 'es'
         WHEN s_en >= s_de THEN 'en'
         ELSE 'de' END"""

  /** Exact-jaccard(≥0.8) near-dup closure CTE chain over a shingle CTE
    * `sh(doc_id, s)` — pairs, symmetric edges, transitive reach. The
    * ONE copy of the closure rule (q57/q69/q60 splice this fragment;
    * a verbatim copy would silently drift on a future threshold fix). */
  private val closureCtes =
    """p AS (
         SELECT a.doc_id AS id_a, b.doc_id AS id_b
         FROM sh a JOIN sh b ON a.doc_id < b.doc_id
         WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
               / len(list_distinct(list_concat(a.s, b.s))) >= 0.8),
       edges AS (
         SELECT id_a AS u, id_b AS v FROM p
         UNION SELECT id_b, id_a FROM p),
       reach(u, v) AS (
         SELECT u, v FROM edges
         UNION
         SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u)"""

  /** md5-prefix train/val/test CASE over an id expression — the ONE
    * copy of the split-threshold rule (q62/q69). round(0.8*65536)=
    * 52429=0xcccd, round(0.9*65536)=58982=0xe666. Preimage is the
    * engine's length-prefixed form '<len>:<salt>:<key>'
    * (Sampling.hashPrefix — the bare ':' delimiter let distinct
    * (salt, key) pairs collide across the boundary). */
  private def splitCase(idExpr: String): String =
    s"""CASE WHEN substr(md5('5:graft:' || CAST($idExpr AS VARCHAR)), 1, 4) < 'cccd' THEN 'train'
         WHEN substr(md5('5:graft:' || CAST($idExpr AS VARCHAR)), 1, 4) < 'e666' THEN 'val'
         ELSE 'test' END"""

  private val base: Map[String, String] = Map(
    "q1_agg" ->
      """SELECT l_returnflag, l_linestatus,
         CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty,
         CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_base_price,
         CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4)) * (CAST(1 AS DECIMAL(18,4)) - CAST(l_discount AS DECIMAL(18,4)))) AS DOUBLE) AS sum_disc_price,
         CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) / COUNT(l_quantity) AS avg_qty,
         CAST(SUM(CAST(l_discount AS DECIMAL(18,4))) AS DOUBLE) / COUNT(l_discount) AS avg_disc,
         COUNT(*) AS count_order
         FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02'
         GROUP BY l_returnflag, l_linestatus""",

    "q2_filter_project" ->
      """SELECT o_orderkey, o_custkey, o_totalprice, UPPER(o_orderpriority) AS prio
         FROM orders WHERE o_orderstatus = 'O' AND o_totalprice > 100000.0
         ORDER BY o_totalprice DESC, o_orderkey LIMIT 100""",

    "q3_stream_table_join" ->
      """SELECT c_mktsegment, COUNT(*) AS n_orders,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
         COUNT(DISTINCT o_custkey) AS n_customers
         FROM orders JOIN customer ON o_custkey = c_custkey
         GROUP BY c_mktsegment""",

    "q4_multi_join" ->
      """SELECT l_orderkey,
         CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4)) * (CAST(1 AS DECIMAL(18,4)) - CAST(l_discount AS DECIMAL(18,4)))) AS DOUBLE) AS revenue,
         COUNT(DISTINCT l_linenumber) AS n_lines
         FROM customer JOIN orders ON o_custkey = c_custkey
         JOIN lineitem ON l_orderkey = o_orderkey
         WHERE c_mktsegment = 'BUILDING'
         GROUP BY l_orderkey ORDER BY revenue DESC, l_orderkey LIMIT 10""",

    "q5_tumbling" ->
      s"""SELECT ${bucketS("ts", 300)} AS window_start, event_type,
         COUNT(*) AS n_events,
         CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total_value,
         ${bucketS("ts", 300)} + 300 AS window_end
         FROM events GROUP BY 1, 2, 5""",

    // no window_start >= 0 filter: negative starts are legitimate
    // (pre-1970 events), and the operator emits them like tumbling does
    "q6_sliding" ->
      s"""SELECT window_start, event_type, COUNT(*) AS n_events,
                window_start + 600 AS window_end
         FROM (SELECT event_type,
                 unnest(generate_series(${bucketS("ts", 300)} - 300,
                                        ${bucketS("ts", 300)}, 300)) AS window_start
               FROM events)
         GROUP BY 1, 2""",

    // null-ts events are dropped BEFORE sessionization (sessionize's
    // where(epoch.isNotNull)) — without the filter DuckDB's NULLS LAST
    // ordering would merge a null row into the key's last session
    "q7_session" ->
      s"""WITH e AS (
           SELECT user_id, event_id, ${epochS("ts")} AS ep
           FROM events WHERE ts IS NOT NULL),
         f AS (
           SELECT user_id, ep, event_id,
             CASE WHEN ep - LAG(ep) OVER (PARTITION BY user_id ORDER BY ep, event_id NULLS FIRST) > 1800
                  THEN 1 ELSE 0 END AS ns
           FROM e),
         g AS (
           SELECT user_id, ep,
             SUM(ns) OVER (PARTITION BY user_id ORDER BY ep, event_id NULLS FIRST
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
           FROM f)
         SELECT user_id, COUNT(*) AS n_events, MIN(ep) AS session_start,
                MAX(ep) AS session_end
         FROM g GROUP BY user_id, sid""",

    // every ASC window sort pins NULLS FIRST: the engine (Spark's
    // asc default) and the reference (order.rs:106 — Null sorts Less
    // than everything) both put nulls first, while DuckDB defaults to
    // NULLS LAST — a NULL o_orderdate row shifted every LAG/LEAD/
    // ROW_NUMBER in its partition (r17 oracle review, edge-corpus
    // validated). DESC stays NULLS LAST — all three agree there.
    "q8_window_funcs" ->
      """SELECT o_orderkey, o_custkey,
         ROW_NUMBER() OVER bydate AS rn,
         RANK() OVER byprice AS rk,
         DENSE_RANK() OVER byprice AS drk,
         LAG(o_totalprice, 1) OVER bydate AS prev_price,
         LEAD(o_totalprice, 1) OVER bydate AS next_price,
         NTILE(4) OVER bydate AS bucket,
         ROUND(PERCENT_RANK() OVER byprice, 4) AS prk,
         ROUND(CUME_DIST() OVER byprice, 4) AS cd,
         NTH_VALUE(o_totalprice, 2) OVER (PARTITION BY o_custkey
                                          ORDER BY o_orderdate NULLS FIRST, o_orderkey NULLS FIRST
                                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS second_price,
         FIRST_VALUE(o_totalprice) OVER bydate AS first_price,
         LAST_VALUE(o_totalprice) OVER (PARTITION BY o_custkey
                                        ORDER BY o_orderdate NULLS FIRST, o_orderkey NULLS FIRST
                                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS running_last
         FROM orders
         WINDOW bydate AS (PARTITION BY o_custkey
                           ORDER BY o_orderdate NULLS FIRST, o_orderkey NULLS FIRST),
                byprice AS (PARTITION BY o_custkey
                            ORDER BY o_totalprice DESC NULLS LAST, o_orderkey NULLS FIRST)""",

    "q9_rows_frame" ->
      """SELECT l_orderkey, l_linenumber, l_suppkey,
         CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) OVER w AS DOUBLE) / COUNT(*) OVER w AS moving_avg_qty
         FROM lineitem
         WINDOW w AS (PARTITION BY l_suppkey
                      ORDER BY l_shipdate NULLS FIRST, l_orderkey NULLS FIRST, l_linenumber NULLS FIRST
                      ROWS BETWEEN 4 PRECEDING AND CURRENT ROW)""",

    "q10_having" ->
      """SELECT o_custkey, COUNT(*) AS n_orders,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS total_spent
         FROM orders GROUP BY o_custkey
         HAVING COUNT(*) >= 3 AND CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) > 300000.0""",

    // NOT EXISTS, not NOT IN: the Spark side is a left_anti join
    // (null-safe per-row non-match keeps the row), while SQL NOT IN
    // returns zero rows the moment the subquery yields one NULL key —
    // the oracle must express the semantics the engine implements
    "q11_in_subquery" ->
      """SELECT c_custkey, c_name, c_mktsegment FROM customer c
         WHERE c_custkey IN (SELECT o_custkey FROM orders WHERE o_totalprice > 200000.0)
           AND NOT EXISTS (SELECT 1 FROM orders o
                           WHERE o.o_custkey = c.c_custkey
                             AND o.o_orderstatus = 'F' AND o.o_totalprice < 50000.0)""",

    "q12_exists" ->
      """SELECT c_custkey, c_acctbal FROM customer c
         WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey
                       AND o.o_orderpriority = '1-URGENT')
           AND NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey
                           AND o.o_orderstatus = 'P')""",

    "q13_scalar_subquery" ->
      """SELECT o_custkey, MAX(o_totalprice) AS max_price
         FROM orders GROUP BY o_custkey
         HAVING MAX(o_totalprice) >
           (SELECT CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) / COUNT(o_totalprice) FROM orders)""",

    "q14_interval_join" ->
      """SELECT l_returnflag, COUNT(*) AS n_shipped_90d,
         CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4)) * (CAST(1 AS DECIMAL(18,4)) - CAST(l_discount AS DECIMAL(18,4)))) AS DOUBLE) AS revenue
         FROM orders JOIN lineitem ON o_orderkey = l_orderkey
           AND l_shipdate >= o_orderdate + INTERVAL 0 SECOND
           AND l_shipdate <= o_orderdate + INTERVAL 7776000 SECOND
         GROUP BY l_returnflag""",

    "q15_stats" ->
      """SELECT l_returnflag,
         ROUND(stddev_samp(l_quantity), 4) AS sd_qty,
         ROUND(var_samp(l_quantity), 4) AS var_qty,
         ROUND(stddev_pop(l_quantity), 4) AS sdp_qty,
         ROUND(var_pop(l_quantity), 4) AS varp_qty,
         ROUND(corr(l_quantity, l_extendedprice), 4) AS corr_qp,
         ROUND(covar_pop(l_quantity, l_extendedprice), 4) AS covp_qp,
         ROUND(covar_samp(l_quantity, l_extendedprice), 4) AS covs_qp,
         ROUND(regr_slope(l_extendedprice, l_quantity), 4) AS slope_pq,
         ROUND(regr_intercept(l_extendedprice, l_quantity), 4) AS icept_pq,
         ROUND(regr_r2(l_extendedprice, l_quantity), 4) AS r2_pq
         FROM lineitem GROUP BY l_returnflag""",

    // interpolated percentiles ROUND(x,4) like every other float stat:
    // Spark's Percentile and DuckDB's percentile_cont are independent
    // interpolation implementations that can differ in the last ulp —
    // exact compare would make the gate engine-version-flaky, not
    // stricter. percentile_disc picks an actual data value, so it
    // stays exact.
    "q16_percentiles" ->
      """SELECT l_returnflag,
         ROUND(median(l_quantity), 4) AS med_qty,
         ROUND(percentile_cont(0.25) WITHIN GROUP (ORDER BY l_extendedprice), 4) AS p25_price,
         ROUND(percentile_cont(0.9) WITHIN GROUP (ORDER BY l_extendedprice), 4) AS p90_price,
         percentile_disc(0.5) WITHIN GROUP (ORDER BY l_quantity) AS pd50_qty
         FROM lineitem GROUP BY l_returnflag""",

    // trimmed: NO \x{1C}-\x{1F} in the class — the engine trims Java
    // (?U)\s = the Unicode White_Space property (like Rust str::trim),
    // which EXCLUDES the information separators U+001C-001F; the old
    // class stripped them where the engine keeps them (r17 oracle
    // review, JVM-verified: Pattern "(?U)\\s" does not match \u001C)
    "q17_string_funcs" ->
      """SELECT p_partkey,
         UPPER(p_name) AS uname, LOWER(p_brand) AS lbrand,
         SUBSTRING(p_name, 1, 5) AS name5,
         octet_length(encode(p_name)) AS name_len,
         CONCAT(p_brand, '-', p_type) AS brand_type,
         REPLACE(p_type, ' ', '_') AS type_u,
         SUBSTRING(p_name, 1, 3) AS l3,
         CASE WHEN LENGTH(p_name) >= 3 THEN SUBSTRING(p_name, LENGTH(p_name) - 2, 3) ELSE p_name END AS r3,
         CASE WHEN STRPOS(p_name, 'a') = 0 THEN 0
              ELSE octet_length(encode(SUBSTRING(p_name, 1, STRPOS(p_name, 'a') - 1))) + 1
         END AS pos_a,
         regexp_replace(p_name,
           '^[\s\x{0B}\p{Zs}\x{85}\x{2028}\x{2029}]+|[\s\x{0B}\p{Zs}\x{85}\x{2028}\x{2029}]+$',
           '', 'g') AS trimmed,
         regexp_matches(p_name, '^[a-m]') AS starts_am
         FROM part""",

    "q18_datetime_funcs" ->
      s"""SELECT o_orderkey,
         CAST(EXTRACT(YEAR FROM o_orderdate) AS INTEGER) AS y,
         CAST(EXTRACT(MONTH FROM o_orderdate) AS INTEGER) AS m,
         CAST(EXTRACT(DAY FROM o_orderdate) AS INTEGER) AS d,
         CAST(EXTRACT(HOUR FROM o_orderdate) AS INTEGER) AS h,
         strftime(o_orderdate, '%Y-%m-%d') AS ds,
         date_diff('day', CAST(o_orderdate AS DATE), DATE '1998-01-01') AS days_to_98,
         ${epochS("o_orderdate")} AS epoch_s,
         ${bucketS("o_orderdate", 86400)} AS day_bucket
         FROM orders""",

    "q19_conditional" ->
      """SELECT o_orderkey,
         CASE WHEN o_totalprice > 250000.0 THEN 'high'
              WHEN o_totalprice > 100000.0 THEN 'mid' ELSE 'low' END AS price_band,
         COALESCE(NULLIF(o_orderstatus, 'O'), 'open') AS status_x,
         CAST(FLOOR(o_totalprice) AS BIGINT) AS price_floor,
         CAST(o_orderkey AS VARCHAR) AS key_str
         FROM orders""",

    "q20_string_agg" ->
      """SELECT r_name,
         string_agg(n_name, ',' ORDER BY n_name) AS nations,
         COUNT(*) AS n_nations
         FROM nation JOIN region ON n_regionkey = r_regionkey
         GROUP BY r_name""",

    "q21_approx_distinct" ->
      """SELECT l_returnflag,
         COUNT(DISTINCT l_partkey) AS exact_parts,
         TRUE AS approx_ok
         FROM lineitem GROUP BY l_returnflag""",

    // rank construction, NOT arg_min/arg_max: DuckDB's arg_min SKIPS
    // rows whose ARG is NULL (verified: arg_min over (NULL,1),(7,2)
    // reads 7), while Spark's min_by returns the value AT the extreme
    // key even when it is NULL — a customer whose lowest-orderkey row
    // carries a NULL o_orderdate must read NULL, not the next row's
    // date (r17 oracle review). The (o_orderkey IS NULL) sort prefix
    // pins nulls last like min_by's null-ordering-row skip; the CASE
    // guard keeps an all-null-key group NULL on both sides.
    "q22_first_last" ->
      s"""WITH r AS (
           SELECT o_custkey, o_orderkey, o_orderdate, o_totalprice,
             ROW_NUMBER() OVER (PARTITION BY o_custkey
               ORDER BY (o_orderkey IS NULL), o_orderkey) AS rn_a,
             ROW_NUMBER() OVER (PARTITION BY o_custkey
               ORDER BY (o_orderkey IS NULL), o_orderkey DESC) AS rn_d
           FROM orders)
         SELECT o_custkey,
           MAX(CASE WHEN rn_a = 1 AND o_orderkey IS NOT NULL
                    THEN ${epochS("o_orderdate")} END) AS first_order_epoch,
           MAX(CASE WHEN rn_d = 1 AND o_orderkey IS NOT NULL
                    THEN o_totalprice END) AS last_order_price,
           MIN(o_orderkey) AS first_orderkey
         FROM r GROUP BY o_custkey""",

    "q23_dedup_exact" ->
      s"""SELECT MIN(doc_id) AS keep_id, COUNT(*) AS dup_count
         FROM documents GROUP BY $contentKey""",

    // null-text docs excluded BEFORE pairing (minhashLsh/ngramJaccard
    // both filter text IS NOT NULL): without it the pair jaccard is
    // 0.0/0 — NULL on DuckDB 1.0 but NaN (which sorts ABOVE all values
    // and passes >= 0.8) under ieee_floating_point_ops in DuckDB >= 1.1
    "q24_dedup_minhash" ->
      s"""WITH sh AS (
           SELECT doc_id, ${shinglesOf(wordsOf, 3)} AS s
           FROM documents WHERE text IS NOT NULL),
         p AS (
           SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             len(list_intersect(a.s, b.s)) AS inter,
             len(list_distinct(list_concat(a.s, b.s))) AS uni
           FROM sh a JOIN sh b ON a.doc_id < b.doc_id)
         SELECT id_a, id_b, inter, uni,
           CAST(inter AS DOUBLE) / uni AS jaccard
         FROM p WHERE CAST(inter AS DOUBLE) / uni >= 0.8""",

    // null-text docs are filtered BEFORE pairing (as ngramJaccard's
    // text-IS-NOT-NULL join does) — a (k, k+1) pair touching a null doc
    // vanishes rather than surfacing NULL jaccard columns
    "q26_ngram_jaccard" ->
      s"""WITH sh AS (
           SELECT doc_id, ${shinglesOf(wordsOf, 3)} AS shingles
           FROM documents WHERE text IS NOT NULL),
         pairs AS (
           SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                  a.shingles AS sa, b.shingles AS sb
           FROM sh a JOIN sh b ON b.doc_id = a.doc_id + 1
           WHERE a.doc_id % 10 = 0)
         SELECT id_a, id_b,
           len(list_intersect(sa, sb)) AS inter,
           len(list_distinct(list_concat(sa, sb))) AS uni,
           CAST(len(list_intersect(sa, sb)) AS DOUBLE) / len(list_distinct(list_concat(sa, sb))) AS jaccard
         FROM pairs""",

    // cosine mirrors GraftKernels.cosine's DEFINED EDGES: empty /
    // length-mismatched / null-element vectors, zero-norm, or
    // non-finite → 0.0 (not NULL/NaN — NaN sorts ABOVE all values in
    // DuckDB, which would crown a corrupt row rank-1 for every query;
    // and list_sum SKIPS null elements, which would silently score a
    // partial cosine where the kernel pins the corrupt row to 0.0)
    "q27_ann_bruteforce" ->
      // embedding IS NOT NULL on BOTH sides: a literal NULL array is
      // the one corrupt shape cosineCase leaves NULL (not 0.0), and
      // the engine (topKPerQuery) filters null cosines BEFORE ranking —
      // DuckDB's NULLS-LAST row_number would otherwise rank such rows
      // into a short query's top-10 (r13 review)
      s"""WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings
                     WHERE vec_id < 5 AND embedding IS NOT NULL),
         c AS (SELECT vec_id AS neighbor_id, embedding AS cv FROM embeddings
               WHERE embedding IS NOT NULL),
         dotn AS (
           SELECT query_id, neighbor_id,
             ${cosineCols("qv", "cv")}
           FROM q, c WHERE neighbor_id <> query_id),
         scored AS (
           SELECT query_id, neighbor_id, $cosineCase AS cos
           FROM dotn),
         ranked AS (
           SELECT query_id, neighbor_id, cos,
             ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rk
           FROM scored)
         SELECT query_id, neighbor_id, ROUND(cos, 4) AS cos, rk
         FROM ranked WHERE rk <= 10""",

    "q29_lang_id" -> {
      s"""WITH t AS (SELECT doc_id, lang, $wordsOf AS ws FROM documents),
         s AS (SELECT doc_id, lang,
           ${langScore("de")} AS s_de, ${langScore("en")} AS s_en,
           ${langScore("es")} AS s_es, ${langScore("fr")} AS s_fr FROM t)
         SELECT doc_id, lang, $detectedCase AS detected
         FROM s"""
    },

    "q30_text_quality" ->
      s"""SELECT doc_id,
         ROUND(CAST(LENGTH(text) AS DOUBLE), 4) AS n_chars_m,
         ROUND(CAST(len($neWordsOf) AS DOUBLE), 4) AS n_words,
         ROUND((CAST(LENGTH($normText) AS DOUBLE) - greatest(len($neWordsOf) - 1, 0))
               / greatest(CAST(len($neWordsOf) AS DOUBLE), 1.0), 4) AS mean_word_len,
         ROUND(CAST(LENGTH(regexp_replace(text, '[^.,;:!?''"()]', '', 'g')) AS DOUBLE)
               / greatest(CAST(LENGTH(text) AS DOUBLE), 1.0), 4) AS punct_ratio,
         ROUND(CAST(LENGTH(regexp_replace(text, '[^A-Z]', '', 'g')) AS DOUBLE)
               / greatest(CAST(LENGTH(text) AS DOUBLE), 1.0), 4) AS upper_ratio,
         ROUND(CAST(len(list_filter($wordsOf, w -> list_contains(${sqlList(graft.operators.TextAnalysis.stopwords("en"))}, w))) AS DOUBLE)
               / greatest(CAST(len($neWordsOf) AS DOUBLE), 1.0), 4) AS stopword_ratio
         FROM documents""",

    // \s spelled out (Java vs RE2 divergence — see wsClass)
    "q31_token_count" ->
      s"""SELECT doc_id,
         len($neWordsOf) AS n_tokens_ws,
         LENGTH(regexp_replace(text, '[A-Za-z]+|[0-9]|[^A-Za-z0-9 \\t\\n\\x0B\\f\\r]', '#', 'g'))
           - LENGTH(REPLACE(regexp_replace(text, '[A-Za-z]+|[0-9]|[^A-Za-z0-9 \\t\\n\\x0B\\f\\r]', '#', 'g'), '#', '')) AS n_tokens_bpe
         FROM documents""",

    // NULL-text guard: the kernel propagates NULL (StaticInvoke
    // propagateNull), while list_prepend(0, NULL) = [0] would reduce
    // to fp 0 — conflating a null doc with one whose fingerprint is
    // genuinely 0
    "q32_fingerprint" ->
      s"""SELECT doc_id,
         CASE WHEN text IS NULL THEN NULL
              ELSE list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(
                generate_series(1, LENGTH($normText)),
                i -> CAST(ascii($normText[i]) AS BIGINT))),
                (acc, c) -> (acc * 31 + c) % 1000000007) END AS fp
         FROM documents""",

    // q25: the benched entry pins the md5-derived word hash (lower 64
    // bits of md5 == DuckDB's md5_number_lower, matched byte-for-byte
    // by the JVM kernel), so DuckDB replays the WHOLE simhash pipeline:
    // per-word hash → 64-bit majority-vote fingerprint (built here as
    // four 16-bit chunks — no signed-shift edge at bit 63) → 4×16 band
    // buckets → the 2..256 bucket cap → pairwise hamming ≤ 3. Chunks
    // partition the 64 bits, so Σ bit_count(chunk XOR) == the full
    // 64-bit hamming distance.
    "q25_dedup_simhash" ->
      s"""WITH wh AS (
           SELECT doc_id, md5_number_lower(w) AS h
           FROM (SELECT doc_id, unnest($wordsOf) AS w
                 FROM documents WHERE text IS NOT NULL)
         ),
         votes AS (
           SELECT doc_id, t.i AS i,
                  SUM(CASE WHEN (h >> t.i) & 1 = 1 THEN 1 ELSE -1 END) AS v
           FROM wh CROSS JOIN (SELECT CAST(range AS BIGINT) AS i FROM range(64)) t
           GROUP BY doc_id, t.i
         ),
         chunks AS (
           SELECT doc_id, CAST(i // 16 AS INT) AS band,
                  CAST(SUM(CASE WHEN v > 0 THEN CAST(1 AS BIGINT) << CAST(i % 16 AS INT) ELSE 0 END) AS BIGINT) AS chunk
           FROM votes GROUP BY doc_id, CAST(i // 16 AS INT)
         ),
         counts AS (SELECT band, chunk, COUNT(*) AS bn FROM chunks GROUP BY band, chunk),
         capped AS (
           SELECT c.doc_id, c.band, c.chunk FROM chunks c JOIN counts n USING (band, chunk)
           WHERE n.bn BETWEEN 2 AND 256
         ),
         pairs AS (
           SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
           FROM capped a JOIN capped b USING (band, chunk)
           WHERE a.doc_id < b.doc_id
         ),
         ham AS (
           SELECT p.id_a, p.id_b, CAST(SUM(bit_count(xor(ca.chunk, cb.chunk))) AS BIGINT) AS hamming
           FROM pairs p
           JOIN chunks ca ON ca.doc_id = p.id_a
           JOIN chunks cb ON cb.doc_id = p.id_b AND cb.band = ca.band
           GROUP BY p.id_a, p.id_b
         )
         SELECT id_a, id_b, hamming FROM ham WHERE hamming <= 3""",

    // q61: exact top-k oracled; the CMS estimate bound is asserted as a
    // boolean the oracle expects uniformly TRUE (the q21 HLL pattern)
    // NB: tie-break must order by the NUMERIC id — casting in the same
    // scope would shadow user_id with the VARCHAR alias ('132' < '15')
    // null keys excluded, as cmsHeavyHitters' isNotNull filter does —
    // SQL's GROUP BY would otherwise count NULL as a key and surface it
    "q61_heavy_hitters" ->
      """SELECT CAST(user_id AS VARCHAR) AS user_id, n, TRUE AS est_ok
         FROM (SELECT user_id, COUNT(*) AS n FROM events
               WHERE user_id IS NOT NULL
               GROUP BY user_id ORDER BY n DESC, user_id LIMIT 20)""",

    // q62/q63: md5-prefix splitting/sampling — DuckDB recomputes the
    // exact member set (same md5, same hex-string thresholds).
    // round(0.8*65536)=52429=0xcccd, round(0.9*65536)=58982=0xe666,
    // round(0.2*65536)=13107=0x3333.
    "q62_train_split" ->
      s"""SELECT split, lang, COUNT(*) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS sum_chars
         FROM (SELECT lang, n_chars, ${splitCase("doc_id")} AS split
               FROM documents) t
         GROUP BY split, lang""",

    // concat_ws (null-SKIPPING, as Sampling.hashPrefix composes it),
    // not || (null-PROPAGATING): a null-lang doc still samples under
    // key '5:graft:<id>' in the engine, and the oracle must keep it
    // too (the '5:' is the length-prefixed salt — see splitCase)
    // 'sample.'-prefixed salt: sampleFilter domain-separates its
    // preimage from splitColumn's so default-salted sample∘split is
    // not degenerate (r14 review)
    "q63_stratified_sample" ->
      """SELECT doc_id, lang FROM documents
         WHERE substr(md5(concat_ws(':', '12', 'sample.graft',
                 concat_ws(':', lang, CAST(doc_id AS VARCHAR)))), 1, 4) < '3333'""",

    // the empty-gram filter mirrors the operator (r12): a blank doc
    // shingles to [""] under the sub-k whole-text rule, and blank
    // corpus docs must not pair with blank bench docs as contamination
    "q64_contamination" ->
      s"""WITH w AS (SELECT doc_id, $wordsOf AS ws FROM documents),
         sh AS (SELECT doc_id, g FROM
                  (SELECT doc_id, unnest(${shinglesOf("ws", 3)}) AS g FROM w)
                WHERE length(g) > 0),
         gdf AS (SELECT g, COUNT(DISTINCT doc_id)
                      + COUNT(CASE WHEN doc_id IS NULL THEN 1 END) AS df
                 FROM sh GROUP BY g),
         kept AS (SELECT sh.doc_id, sh.g FROM sh JOIN gdf USING (g) WHERE df <= 1000),
         bench AS (SELECT doc_id AS bench_id, g FROM sh WHERE doc_id % 50 = 0)
         SELECT doc_id, bench_id, COUNT(DISTINCT g) AS n_shared
         FROM kept JOIN bench USING (g)
         WHERE (doc_id IS NULL OR bench_id IS NULL OR doc_id <> bench_id)
         GROUP BY doc_id, bench_id HAVING COUNT(DISTINCT g) >= 3""",

    // q65: keep is gated on the UNROUNDED fractions (as the operator
    // does); only the surfaced fractions are ROUND(x,4). NULL-id docs
    // are excluded EXPLICITLY, mirroring the operator's identity
    // contract (r16) — the stats/grams inner join silently dropped
    // them anyway, but the filter keeps the mirror honest.
    "q65_repetition" ->
      s"""WITH w AS (SELECT doc_id, $wordsOf AS ws FROM documents WHERE doc_id IS NOT NULL),
         wc AS (SELECT * FROM (SELECT doc_id, unnest(ws) AS word FROM w) WHERE word <> ''),
         stats AS (SELECT doc_id, CAST(SUM(cnt) AS BIGINT) AS n_words,
                     COUNT(*) AS nd, MAX(cnt) AS topn
                   FROM (SELECT doc_id, word, COUNT(*) AS cnt FROM wc GROUP BY doc_id, word) t
                   GROUP BY doc_id),
         grams AS (SELECT doc_id,
                     len(${shinglesOf("ws", 2)}) AS nd2,
                     greatest(len(ws) - 1, 1) AS n2 FROM w)
         SELECT s.doc_id, s.n_words,
           ROUND(CAST(topn AS DOUBLE) / n_words, 4) AS top_word_frac,
           ROUND(CAST(nd AS DOUBLE) / n_words, 4) AS distinct_word_frac,
           ROUND(1.0 - CAST(nd2 AS DOUBLE) / n2, 4) AS dup_2gram_frac,
           (CAST(topn AS DOUBLE) / n_words <= 0.20
            AND 1.0 - CAST(nd2 AS DOUBLE) / n2 <= 0.20) AS keep
         FROM stats s JOIN grams g ON s.doc_id = g.doc_id""",

    // q77: corpus-wide duplicated-span fraction — distinct 5-shingles
    // per doc (q24's construction at k=5), window doc-frequency per
    // shingle, per-doc dup share
    "q77_dup_spans" ->
      s"""WITH sh AS (
           SELECT doc_id, ${shinglesOf(wordsOf, 5)} AS s
           FROM documents),
         g AS (SELECT doc_id, unnest(s) AS g FROM sh),
         d AS (SELECT doc_id, COUNT(*) OVER (PARTITION BY g) AS df FROM g)
         SELECT doc_id, COUNT(*) AS n_spans,
           ROUND(AVG(CASE WHEN df > 1 THEN 1.0 ELSE 0.0 END), 4) AS dup_span_frac
         FROM d GROUP BY doc_id""",

    // q76: unigram-LM scoring — counts, top-V vocab cut (n desc, word),
    // OOV floor 1/(total+1), mean −ln p per doc; ROUND(,4) absorbs
    // float-sum ordering differences between engines
    "q76_perplexity" ->
      s"""WITH w AS (
           SELECT * FROM (SELECT doc_id, unnest($wordsOf) AS w FROM documents)
           WHERE w <> ''),
         c AS (SELECT w, COUNT(*) AS n FROM w GROUP BY w),
         t AS (SELECT SUM(n) AS total FROM c),
         v AS (SELECT w, n FROM c ORDER BY n DESC, w LIMIT 50000),
         s AS (SELECT doc_id,
                 -ln(COALESCE(CAST(v.n AS DOUBLE) / t.total, 1.0 / (t.total + 1))) AS lp
               FROM w LEFT JOIN v USING (w) CROSS JOIN t)
         SELECT doc_id, COUNT(*) AS n_words, ROUND(AVG(lp), 4) AS nll
         FROM s GROUP BY doc_id""",

    // q69: the q57 closure (exact all-pairs jaccard ≥0.8 → transitive
    // closure; LSH recall is 1 on this corpus) keyed into the q62 md5
    // thresholds — near-dup clusters split by their min-id representative.
    // sh filters null text like q24/q57 (the pairing inputs); the `rep`
    // CTE still covers ALL docs — a null-text doc is a singleton keyed
    // by its own id, exactly leakageFreeSplit's behavior
    "q69_leakage_split" ->
      s"""WITH RECURSIVE sh AS (
           SELECT doc_id, ${shinglesOf(wordsOf, 3)} AS s
           FROM documents WHERE text IS NOT NULL),
         $closureCtes,
         labels AS (
           SELECT u AS doc_id, LEAST(u, MIN(v)) AS cluster_id
           FROM reach GROUP BY u),
         rep AS (
           SELECT d.doc_id, COALESCE(l.cluster_id, d.doc_id) AS rep_id
           FROM documents d LEFT JOIN labels l ON d.doc_id = l.doc_id)
         SELECT doc_id, ${splitCase("rep_id")} AS split
         FROM rep""",

    // explicit ROWS frame: packIntoShards pins ROWS (not SQL's default
    // RANGE) so tied order keys each get their own running prefix
    // the packing weight mirrors packIntoShards' clamp
    // greatest(coalesce(w,0),0): a NULL/negative weight packs as 0
    // instead of NULLing the whole shard formula (every such row would
    // collapse into one NULL shard group); the surfaced shard_chars
    // stays SUM(n_chars) raw — both engines' SUM skips nulls
    // salt mirrors the engine's NULL-id fallback (Sampling.scala: null
    // ids pack into the DEDICATED stream p=32) — bare pmod would NULL
    // the salt and merge every null-id doc into one unbounded shard
    // group the engine never produces (r14 review)
    "q68_shard_pack" ->
      s"""WITH t AS (SELECT doc_id, n_chars,
                 GREATEST(COALESCE(n_chars, 0), 0) AS w,
                 COALESCE(${pmod("doc_id", 32)}, 32) AS salt FROM documents),
         c AS (SELECT doc_id, n_chars, w, salt,
                 SUM(w) OVER (PARTITION BY salt
                   ORDER BY doc_id, COALESCE(n_chars, 0)
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum FROM t),
         a AS (SELECT doc_id, n_chars,
                 CAST(salt * 1099511627776 + FLOOR(CAST(cum - w AS DOUBLE) / 20000) AS BIGINT) AS shard_id
               FROM c)
         SELECT shard_id, COUNT(*) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS shard_chars
         FROM a GROUP BY shard_id""",

    // q66/q67: serde round-trips must be the identity — the oracle is
    // the plain projection the pipeline started from.
    "q66_proto_roundtrip" ->
      """SELECT doc_id, lang, n_chars FROM documents""",

    // (q67_avro_roundtrip aliases q66's oracle — see `sql` below)

    // q60: the curation capstone — language/quality gate, exact
    // keep-best dedup, near-dup closure, one survivor per cluster.
    // Composes the previously-green q29/q31/q56/q57 oracle pieces.
    "q60_curation" -> {
      s"""WITH RECURSIVE t AS (
           SELECT doc_id, lang, n_chars, $normText AS norm, $wordsOf AS ws FROM documents),
         det AS (SELECT *,
           ${langScore("de")} AS s_de, ${langScore("en")} AS s_en,
           ${langScore("es")} AS s_es, ${langScore("fr")} AS s_fr FROM t),
         gated AS (
           SELECT doc_id, lang, n_chars, norm, ws,
             $detectedCase AS detected
           FROM det),
         g AS (SELECT * FROM gated
               WHERE detected = lang AND len(list_filter(ws, w -> w <> '')) >= 5),
         keep AS (
           SELECT doc_id FROM (
             SELECT doc_id, ROW_NUMBER() OVER (PARTITION BY norm
               ORDER BY n_chars DESC, doc_id ASC) AS rn FROM g)
           WHERE rn = 1),
         uniq AS (SELECT g.* FROM g JOIN keep USING (doc_id)),
         sh AS (
           SELECT doc_id, ${shinglesOf("ws", 3)} AS s
           FROM uniq),
         $closureCtes,
         dropped AS (
           SELECT u AS doc_id FROM reach GROUP BY u
           HAVING LEAST(u, MIN(v)) <> u)
         SELECT doc_id, detected FROM uniq
         WHERE doc_id NOT IN (SELECT doc_id FROM dropped)"""
    },

    "q59_sql_distinct" ->
      """SELECT DISTINCT o_orderstatus, o_orderpriority FROM orders
         WHERE o_totalprice > 50000""",

    // q33: EMIT CHANGES final state per key == the batch aggregate over
    // the full input (decimal-exact total → order-independent)
    "q33_emit_changes" ->
      """SELECT event_type, COUNT(*) AS n,
         CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total
         FROM events GROUP BY event_type""",

    // q34/q54: EMIT FINAL watermark-final rule. A bounded single-file
    // input is one micro-batch (nothing is ever late), so the append-
    // mode file sink holds exactly the batch tumbling windows whose end
    // has been passed by the final watermark = max(ts) - grace. The
    // watermark is millisecond-TRUNCATED in Spark (max event-time
    // micros / 1000, a toward-zero Long division), so the threshold is
    // compared in MICROS off epoch_ms — the same construction as q44;
    // a flooring epochS(max) here would sit one second LOW for a
    // pre-1970 sub-millisecond max(ts) and exclude a window the engine
    // correctly emits (r11 oracle audit).
    "q34_tumbling_stream" ->
      s"""SELECT ${bucketS("ts", 300)} AS window_start, event_type,
         COUNT(*) AS n,
         CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total
         FROM events GROUP BY 1, 2
         HAVING (${bucketS("ts", 300)} + 300) * 1000000
                <= (SELECT epoch_ms(max(ts))*1000 - 600000000 FROM events)""",

    // (q54_sql_stream aliases q34's oracle — see `sql` below: the two
    // queries compute the identical watermark-final windows, and a
    // verbatim copy would silently drift on a future rule fix)

    // q44: the same watermark-final rule over SESSION windows. Sessions
    // are gaps-and-islands at full microsecond precision with the
    // EXACT session_window boundary — a new session at gap >= 30 min
    // (the window is [start, last+gap), so an event exactly `gap` after
    // the last falls outside it); session end = last event + gap;
    // emitted ⇔ end ≤ final watermark (max(ts) ms-truncated, - grace).
    "q44_session_stream" ->
      // ts IS NOT NULL: session_window drops null event-times (the q7
      // rule — a null-ts event would otherwise sort NULLS-LAST into a
      // key's final session and silently inflate it; r13 review)
      s"""WITH e AS (SELECT user_id, event_id, ts FROM events WHERE ts IS NOT NULL),
         f AS (SELECT user_id, ts, event_id,
                 CASE WHEN epoch_us(ts) - epoch_us(LAG(ts) OVER
                        (PARTITION BY user_id ORDER BY ts, event_id NULLS FIRST)) >= 1800000000
                      THEN 1 ELSE 0 END AS ns FROM e),
         g AS (SELECT user_id, ts,
                 SUM(ns) OVER (PARTITION BY user_id ORDER BY ts, event_id NULLS FIRST
                               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
               FROM f),
         s AS (SELECT user_id, COUNT(*) AS n_events, MIN(ts) AS t0, MAX(ts) AS t1
               FROM g GROUP BY user_id, sid)
         SELECT user_id, n_events,
                ${epochS("t0")} AS session_start,
                ${epochS("t1")} + 1800 AS session_end
         FROM s
         WHERE epoch_us(t1) + 1800000000
               <= (SELECT epoch_ms(max(ts))*1000 - 600000000 FROM events)""",

    // q43: every arriving event emits the aggregate over its key's last
    // ≤5 values in (ord, id) order — a plain ROWS window once the input
    // is bounded. v is quantized to integer-valued doubles (×10⁴) so
    // sums are exact regardless of association order; buf_avg is the
    // same single exactly-rounded IEEE division both engines perform.
    "q43_rows_buffer" ->
      // ts IS NOT NULL: the engine path encodes into BufEvent whose
      // primitive Long ord cannot hold a null — the oracle must not
      // emit buffer rows for events the engine's contract excludes
      // (r13 review; q7's null rule)
      // ALL FOUR null filters, not just ts: every BufEvent field is a
      // primitive on the engine side, so a null user_id/event_id/value
      // is excluded by the encoding contract like a null ts (r17
      // oracle review — the engine formerly CRASHED on them)
      s"""WITH e AS (SELECT user_id AS key, ${epochS("ts")} AS ord,
                    event_id, round(value*10000, 0) AS v
                    FROM events WHERE ts IS NOT NULL
                      AND user_id IS NOT NULL AND event_id IS NOT NULL
                      AND value IS NOT NULL),
         w AS (SELECT key, event_id,
                 COUNT(*) OVER win AS buf_n,
                 SUM(v) OVER win AS buf_sum
               FROM e WINDOW win AS (PARTITION BY key ORDER BY ord, event_id
                                     ROWS BETWEEN 4 PRECEDING AND CURRENT ROW))
         SELECT key, event_id, CAST(buf_n AS BIGINT) AS buf_n,
                buf_sum, buf_sum/buf_n AS buf_avg FROM w""",

    "q35_json_funcs" ->
      """SELECT event_type,
         CAST(SUM(CAST(props->>'$.k' AS BIGINT)) AS BIGINT) AS sum_k,
         COUNT(CASE WHEN CAST(props->>'$.k' AS BIGINT) > 50 THEN 1 END) AS n_big_k
         FROM events GROUP BY event_type""",

    "q36_array_map" ->
      """SELECT l_orderkey, l_linenumber,
         len([l_returnflag, l_linestatus]) AS n_flags,
         list_contains([l_returnflag, l_linestatus], 'R') AS has_r,
         [l_returnflag, l_linestatus][1] AS first_flag
         FROM lineitem""",

    "q37_decimal_agg" ->
      """SELECT l_returnflag,
         CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DECIMAL(38,2)) AS VARCHAR) AS sum_exact,
         CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4)) * CAST(l_tax AS DECIMAL(18,4))) AS DOUBLE) AS sum_tax_amt
         FROM lineitem GROUP BY l_returnflag""",

    // same kernel-edge mirror as q27: empty / length-mismatch /
    // null-element / zero-norm / non-finite → 0.0
    // (NaN >= 0.3 is TRUE under DuckDB's NaN ordering — phantom pairs)
    "q38_embed_dedup" ->
      s"""WITH e AS (SELECT vec_id, embedding FROM embeddings),
         dotn AS (
           SELECT a.vec_id AS id_a, b.vec_id AS id_b,
             ${cosineCols("a.embedding", "b.embedding")}
           FROM e a JOIN e b ON a.vec_id < b.vec_id),
         p AS (
           SELECT id_a, id_b, $cosineCase AS cos
           FROM dotn)
         SELECT id_a, id_b, ROUND(cos, 4) AS cos
         FROM p WHERE cos >= 0.3""",

    // BYTE-accurate mirror of extractFeatures: n_bytes is the UTF-8
    // byte length of the payload (0 for null — the engine's
    // payload==null edge), and f0 sums payload BYTES at 0-based
    // positions i%8==0, not every 8th CHARACTER (they differ on any
    // non-ASCII text). Byte i is read out of hex(blob) — verified
    // bit-identical to the JVM byte loop on DuckDB 1.0.
    "q39_multimodal" ->
      """SELECT doc_id AS media_id,
         CASE WHEN doc_id % 3 = 0 THEN 'image'
              WHEN doc_id % 3 = 1 THEN 'audio' ELSE 'video' END AS media_type,
         CAST(COALESCE(octet_length(encode(text)), 0) AS INTEGER) AS n_bytes,
         ROUND(COALESCE(list_sum(list_transform(
           generate_series(1, octet_length(encode(text)), 8),
           i -> CAST(('0x' || substr(hex(encode(text)), (i-1)*2+1, 2)) AS INTEGER) / 255.0)), 0.0), 4) AS f0
         FROM documents""",

    // pmod throughout: the synth formulas these mirror derive from
    // Math.floorMod on the JVM side (Multimodal.scala), so a negative
    // doc_id would diverge under DuckDB's sign-preserving %
    "q71_image_decode" ->
      s"""SELECT doc_id AS media_id,
         CAST(${pmod("doc_id", 13)} + 4 AS INTEGER) AS header_w,
         CAST(${pmod("doc_id", 7)} + 4 AS INTEGER) AS header_h,
         CAST(${pmod("doc_id", 13)} + 4 AS INTEGER) AS width_px,
         CAST(${pmod("doc_id", 7)} + 4 AS INTEGER) AS height_px,
         CAST(${pmod("doc_id", 13)} + 3 AS DOUBLE) / 2 AS mean_r,
         CAST(${pmod("doc_id", 256)} AS DOUBLE) AS mean_g,
         CAST(${pmod("coalesce(n_chars, 0)", 256)} AS DOUBLE) AS mean_b
         FROM documents""",

    "q72_audio_decode" ->
      s"""SELECT doc_id AS media_id,
         CAST(8000 + (${pmod("doc_id", 8)}) * 1000 AS INTEGER) AS header_rate,
         CAST(8000 + (${pmod("doc_id", 8)}) * 1000 AS INTEGER) AS rate_hz,
         CAST(${pmod("doc_id", 100)} + 50 AS BIGINT) AS n_frames,
         CAST((${pmod("coalesce(n_chars, 0)", 100)} + 1) * 50 AS INTEGER) AS peak,
         CAST((${pmod("coalesce(n_chars, 0)", 100)} + 1) * 50 AS DOUBLE) AS mean_abs
         FROM documents""",

    "q73_video_frames" ->
      s"""SELECT doc_id AS media_id,
         CAST(fi AS INTEGER) AS frame_idx,
         CAST(${pmod("doc_id + fi", 13)} + 4 AS INTEGER) AS width_px,
         CAST(${pmod("doc_id + fi", 7)} + 4 AS INTEGER) AS height_px,
         CAST(${pmod("doc_id + fi", 13)} + 3 AS DOUBLE) / 2 AS mean_r,
         CAST(${pmod("doc_id + fi", 256)} AS DOUBLE) AS mean_g,
         CAST(${pmod("coalesce(n_chars, 0)", 256)} AS DOUBLE) AS mean_b
         FROM documents,
           UNNEST(generate_series(0, CAST(${pmod("doc_id", 5)} + 2 AS BIGINT), 2)) AS t(fi)""",

    "q40_topn_per_group" ->
      """SELECT c_mktsegment, o_orderkey, o_totalprice, rk FROM (
           SELECT c_mktsegment, o_orderkey, o_totalprice,
             ROW_NUMBER() OVER (PARTITION BY c_mktsegment
                                ORDER BY o_totalprice DESC, o_orderkey) AS rk
           FROM orders JOIN customer ON o_custkey = c_custkey)
         WHERE rk <= 3""",

    "q41_any_all" ->
      // the engine's ALL/ANY rewrite IGNORES null subquery values
      // (coalesce(max(...), -inf) / min analog) — bare SQL ALL under
      // three-valued logic would exclude every row above the non-null
      // max whenever one 'P' order has a NULL price. The oracle must
      // express the semantics the engine implements (the q11 rule;
      // r13 review)
      """SELECT o_orderkey, o_totalprice FROM orders
         WHERE o_totalprice > (SELECT COALESCE(MAX(o_totalprice), -1e308)
                               FROM orders WHERE o_orderstatus = 'P')
           AND o_totalprice > (SELECT COALESCE(MIN(o_totalprice), 1e308)
                               FROM orders WHERE o_orderpriority = '1-URGENT')""",

    "q42_headers" ->
      s"""SELECT event_id,
         event_type AS h_source,
         FALSE AS has_trace,
         'region,schema_ver,source' AS h_keys,
         'graft' AS h_job,
         FALSE AS region_removed,
         CAST(${pmod("user_id", 8)} AS INTEGER) AS _partition,
         event_id AS _offset,
         ${epochMsFloor("ts")} AS _timestamp
         FROM events""",

    "q45_sql_agg" ->
      """SELECT l_returnflag, COUNT(*) AS n_items,
         CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty
         FROM lineitem GROUP BY l_returnflag""",

    // WHERE ts IS NOT NULL: q46's engine path is the dialect's native
    // Spark window(), whose TimeWindowing rule FILTERS null timestamps
    // — unlike q5, whose TimeWindows.tumbling deliberately keeps the
    // null group (and whose oracle rightly has no filter).
    "q46_sql_tumbling" ->
      s"""SELECT event_type, COUNT(*) AS n_events,
         ${bucketS("ts", 300)} AS window_start,
         ${bucketS("ts", 300)} + 300 AS window_end
         FROM events WHERE ts IS NOT NULL GROUP BY 1, 3, 4""",

    "q47_sql_sliding" ->
      s"""SELECT event_type, COUNT(*) AS n_events,
                window_start, window_start + 600 AS window_end
         FROM (SELECT event_type,
                 unnest(generate_series(${bucketS("ts", 300)} - 300,
                                        ${bucketS("ts", 300)}, 300)) AS window_start
               FROM events)
         GROUP BY 1, 3""",

    "q48_sql_rows_window" ->
      """SELECT l_suppkey, l_orderkey, l_linenumber,
         CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) OVER (
           PARTITION BY l_suppkey
           ORDER BY l_shipdate NULLS FIRST, l_orderkey NULLS FIRST, l_linenumber NULLS FIRST
           ROWS BETWEEN 4 PRECEDING AND CURRENT ROW) AS DOUBLE) AS msum
         FROM lineitem""",

    "q49_sql_join_in" ->
      """SELECT c_mktsegment, COUNT(*) AS n_orders
         FROM orders JOIN customer ON o_custkey = c_custkey
         WHERE o_orderkey IN (SELECT l_orderkey FROM lineitem WHERE l_quantity > 45)
         GROUP BY c_mktsegment""",

    "q50_sql_ctas" ->
      """SELECT o_custkey, COUNT(*) AS n_big,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS total
         FROM (SELECT o_orderkey, o_custkey, o_totalprice FROM orders
               WHERE o_totalprice > 150000)
         GROUP BY o_custkey""",

    "q53_salted_join" ->
      """SELECT c_mktsegment, COUNT(*) AS n_orders,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS revenue
         FROM orders JOIN customer ON o_custkey = c_custkey
         GROUP BY c_mktsegment""",

    // exact "max score, then min id" tiebreak at ANY id magnitude
    // (window rank — mirrors the Spark side's struct-ordered max_by)
    "q56_dedup_keep_best" ->
      s"""SELECT doc_id AS keep_id, dup_count FROM (
           SELECT doc_id,
             ROW_NUMBER() OVER (PARTITION BY $contentKey
                                ORDER BY n_chars DESC, doc_id ASC) AS rn,
             COUNT(*) OVER (PARTITION BY $contentKey) AS dup_count
           FROM documents)
         WHERE rn = 1""",

    "q57_dedup_clusters" ->
      s"""WITH RECURSIVE sh AS (
           SELECT doc_id, ${shinglesOf(wordsOf, 3)} AS s
           FROM documents WHERE text IS NOT NULL),
         $closureCtes
         SELECT u AS doc_id, LEAST(u, MIN(v)) AS cluster_id
         FROM reach GROUP BY u""",

    "q55_asof_join" ->
      s"""SELECT a.o_orderkey,
         ${epochS("MAX(b.o_orderdate)")} AS prev_epoch
         FROM orders a JOIN orders b
           ON a.o_custkey = b.o_custkey
          AND b.o_orderdate < a.o_orderdate
          AND b.o_orderdate >= a.o_orderdate - INTERVAL 31536000 SECOND
         GROUP BY a.o_orderkey""",

    "q51_sql_headers" ->
      s"""SELECT event_id AS _offset, CAST(${pmod("event_id", 8)} AS INTEGER) AS _partition,
         'events' AS h_source, FALSE AS has_trace, 'source' AS h_keys,
         ${bucketS("ts", 3600)} AS hour_bucket
         FROM events WHERE ${pmod("event_id", 8)} = 3"""
  )

  /** q70 forces the SAME closure as q57 down the distributed
    * pointer-doubling path (`localThreshold = 0`) — identical answer,
    * identical oracle. Benching + oracling it separately means a
    * regression in the 100 TB path cannot hide behind the adaptive
    * driver-local finish. q54/q67 likewise ALIAS their twins' oracles
    * (same computed result through a different front-end/serde) so a
    * future rule fix cannot silently update one copy and miss the
    * other. */
  def sql: Map[String, String] =
    base +
      ("q70_dedup_clusters_dist" -> base("q57_dedup_clusters")) +
      ("q54_sql_stream" -> base("q34_tumbling_stream")) +
      ("q67_avro_roundtrip" -> base("q66_proto_roundtrip"))
}
