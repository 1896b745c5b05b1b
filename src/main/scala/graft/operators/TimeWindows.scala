package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.VeloFunctions.tumbleStart

/** Time-window operators: the reference's `WINDOW TUMBLING / SLIDING /
  * SESSION` clauses (reference: docs/sql/PARSER_GRAMMAR.md "Time-Based
  * Windows"; src/velostream/sql/execution/window_v2/).
  *
  * These are the BATCH realizations. For streaming frames use
  * graft.streaming.StreamOps (window()/session_window() + watermark —
  * the reference's watermark + grace semantics, src/velostream/sql/
  * execution/watermarks.rs): sessionize's window functions are
  * unsupported on streaming DataFrames, and tumbling/sliding group on a
  * plain epoch-bucket expression that a watermark would never evict —
  * state would grow unboundedly (r17 review; the header formerly
  * claimed identical batch/streaming paths).
  *
  * Scale: windowed groupBy shuffles on (window, keys) — partial
  * aggregation is map-side, so the shuffle carries one row per
  * (window × key) per partition, not per event. Epoch-aligned buckets
  * mean no global coordination.
  */
object TimeWindows {

  /** `window_start`/`window_end` are RESERVED output names: withColumn
    * REPLACES a same-named column, so an input column (e.g. re-windowing
    * a window operator's output) or an aggregate aliased to one of them
    * would be silently overwritten by the boundary value — wrong output,
    * no error. Same guard family as sessionize's working columns. */
  private def requireNoReserved(df: DataFrame, op: String): Unit =
    require(!Cols.has(df, "window_start") && !Cols.has(df, "window_end"),
      s"$op input must not carry the reserved window_start/window_end columns " +
        "(alias them away before windowing)")

  /** Post-aggregation guard, SYMMETRIC over both reserved names: a
    * window_end alias would be silently replaced by withColumn below,
    * and a key/aggregate aliased window_start duplicates the bucket
    * column — the later `window_start + size` would die with an
    * AMBIGUOUS_REFERENCE far from the call site, so both get the
    * family's clear require message here. */
  private def requireNoReservedAliases(agged: DataFrame, op: String): Unit = {
    require(!Cols.has(agged, "window_end"),
      s"$op key/aggregate aliases must not use the reserved name window_end")
    require(Cols.countMatching(agged, "window_start") <= 1,
      s"$op key/aggregate aliases must not use the reserved name window_start")
  }

  /** TUMBLING(size): non-overlapping epoch-aligned buckets.
    * Emits `window_start`/`window_end` as epoch seconds (BIGINT) —
    * oracle-stable across engines/timezones.
    */
  def tumbling(df: DataFrame, tsCol: String, sizeSeconds: Long, keys: Seq[Column], aggs: Seq[Column]): DataFrame = {
    // fail at the call site: size 0 would otherwise surface as a runtime
    // DIVIDE_BY_ZERO from generated code (ANSI mode), far from the bug
    require(sizeSeconds > 0, s"window size must be positive, got $sizeSeconds")
    require(aggs.nonEmpty, "tumbling needs at least one aggregate expression")
    requireNoReserved(df, "tumbling")
    val agged = df.groupBy(tumbleStart(col(tsCol), sizeSeconds).as("window_start") +: keys: _*)
      .agg(aggs.head, aggs.tail: _*)
    requireNoReservedAliases(agged, "tumbling")
    agged.withColumn("window_end", col("window_start") + lit(sizeSeconds))
  }

  /** SLIDING(size, advance): overlapping buckets. Each event lands in
    * size/advance windows — implemented by exploding an event into its
    * covering window-starts then a single windowed groupBy. Requires
    * size % advance == 0 (the reference enforces the same).
    *
    * Scale: the explode factor is size/advance (small constant); still a
    * single shuffle with map-side partial aggregation.
    */
  def sliding(df: DataFrame, tsCol: String, sizeSeconds: Long, advanceSeconds: Long,
              keys: Seq[Column], aggs: Seq[Column]): DataFrame = {
    // advance 0 must name the bad parameter, not leak an
    // ArithmeticException from the modulo in the next check
    require(advanceSeconds > 0, s"window advance must be positive, got $advanceSeconds")
    // size 0 (or a negative multiple of advance) passes the modulo check
    // but builds sequence(start, stop, step) with start > stop — a
    // per-row "Illegal sequence boundaries" deep in executor tasks, the
    // exact failure tumbling() rejects at the call site
    require(sizeSeconds > 0, s"window size must be positive, got $sizeSeconds")
    require(sizeSeconds % advanceSeconds == 0, "window size must be a multiple of advance")
    // each event explodes into size/advance rows BEFORE the groupBy: a
    // units mistake (a week-long window advancing by the second —
    // 604,800×) OOMs executors hours into the job with nothing pointing
    // at the parameter. Real sliding windows overlap by a small
    // constant; reject pathological ratios at the call site like every
    // other scale trap in this file (r15 review)
    require(sizeSeconds / advanceSeconds <= 8192,
      s"sliding explodes each event into size/advance = " +
        s"${sizeSeconds / advanceSeconds} rows (cap 8192) — check the " +
        "size/advance units, or tumble + roll up instead")
    require(aggs.nonEmpty, "sliding needs at least one aggregate expression")
    requireNoReserved(df, "sliding")
    val lastStart = tumbleStart(col(tsCol), advanceSeconds)
    // covering starts: lastStart, lastStart-advance, ... (n of them).
    // Negative starts are legitimate (pre-1970 events) — filtering them
    // would silently drop those events and diverge from tumbling().
    // NULL timestamps: explode(null sequence) emits no rows, so a
    // null-ts event vanishes here while tumbling() keeps it as a
    // null-window group — a KNOWN asymmetry, mirrored exactly by the
    // oracles (DuckDB's unnest(generate_series(NULL…)) also emits
    // nothing while GROUP BY null keeps the group), so each operator
    // stays engine-replayable; event-time windows over null timestamps
    // are meaningless either way.
    val starts = sequence(lastStart - lit(sizeSeconds - advanceSeconds), lastStart, lit(advanceSeconds))
    val agged = df.withColumn("window_start", explode(starts))
      .groupBy(col("window_start") +: keys: _*)
      .agg(aggs.head, aggs.tail: _*)
    requireNoReservedAliases(agged, "sliding")
    agged.withColumn("window_end", col("window_start") + lit(sizeSeconds))
  }

  /** SESSION(gap): a new session starts when the gap to the previous
    * event EXCEEDS `gap` — events exactly `gap` apart merge, matching
    * the reference engine (session.rs:245: `timestamp - last_time >
    * gap_duration_ms`). Batch realization: gaps-and-islands — lag +
    * cumulative session id per key, then aggregate.
    *
    * BOUNDARY vs streaming: Spark's `session_window()` (the streaming
    * path, graft.streaming.StreamOps.sessionAgg) closes a session at
    * `diff >= gap` (window is [start, last+gap)), so an event exactly
    * `gap` after the last starts a NEW session there. On
    * second-granularity timestamps, pass `gap+1` seconds to the
    * streaming gap to replicate this operator's (and the reference's)
    * strict-`>` boundary.
    *
    * Scale: one shuffle on keys (window partition), then aggregation
    * within partitions; no global sort.
    */
  /** `epochCol` must be numeric seconds (precompute e.g.
    * `unix_timestamp(ts)`); `tieBreak` makes ordering total when epochs
    * collide (second-truncation ties) so results are deterministic.
    */
  def sessionize(df: DataFrame, epochCol: String, gapSeconds: Long, keys: Seq[Column],
                 tieBreak: Seq[Column], aggs: Seq[Column]): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(gapSeconds >= 0, s"session gap must be non-negative, got $gapSeconds")
    require(aggs.nonEmpty, "sessionize needs at least one aggregate expression")
    // empty keys would build Window.partitionBy() — Spark moves the
    // ENTIRE dataset to one task for an unpartitioned window, the exact
    // scale trap this file's operators reject at the call site. Global
    // sessionization is inherently sequential (each session boundary
    // depends on the previous event corpus-wide); callers who truly
    // want it on small data can pass a constant key explicitly.
    require(keys.nonEmpty,
      "sessionize requires at least one partition key (an unpartitioned " +
        "window serializes the whole dataset onto one task)")
    // namespaced working columns: withColumn REPLACES a same-named input
    // column, so plain `_session_id` would silently corrupt a caller
    // re-sessionizing output that already carries one
    val nsCol = "__graft_new_session"
    val sidCol = "__graft_session_id"
    // the shared guard (r17 review: this was the last hand-rolled copy
    // of the loop Cols.requireAbsent was created to replace)
    Cols.requireAbsent("sessionize", Seq("input" -> df), Seq(nsCol, sidCol))
    val w = Window.partitionBy(keys: _*).orderBy(col(epochCol) +: tieBreak: _*)
    val epoch = col(epochCol)
    val newSession = when(epoch - lag(epoch, 1).over(w) > gapSeconds, 1).otherwise(0)
    // NULL epochs: a row with no timestamp belongs to NO session — kept,
    // ascending sort would put nulls FIRST, their gap-vs-lag comparison
    // would be NULL → otherwise(0), and they'd silently merge into (and
    // inflate) the key's first real session. Dropping them mirrors
    // sliding()'s documented null behavior (event-time windows over null
    // timestamps are meaningless) rather than tumbling()'s null group.
    val sessioned = df
      .where(epoch.isNotNull)
      .withColumn(nsCol, newSession)
      .withColumn(sidCol, sum(col(nsCol)).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val agged = sessioned
      .groupBy(keys :+ col(sidCol): _*)
      .agg(aggs.head, aggs.tail: _*)
    // an aggregate aliased to the working name would be dropped WITH it
    // below (drop removes every resolving column) — the caller's
    // aggregate silently vanishing is the corruption this family rejects
    require(Cols.countMatching(agged, sidCol) <= 1,
      s"sessionize aggregate aliases must not use the working name $sidCol")
    agged.drop(sidCol)
  }
}
