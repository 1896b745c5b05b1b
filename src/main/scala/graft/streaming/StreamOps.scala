package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Attribute, SessionWindow}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Distinct, EventTimeWatermark}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, GroupState, GroupStateTimeout, OutputMode, Trigger}

import graft.sql.VeloSqlParser.{EmitChanges, EmitFinal, EmitMode, ParseException}

/** Structured-Streaming realization of the reference's streaming jobs:
  * continuous queries over an unbounded source with watermarks, time
  * windows, and EMIT semantics
  * (reference: src/velostream/sql/execution/{engine.rs,watermarks.rs};
  * EMIT CHANGES|FINAL in docs/sql/PARSER_GRAMMAR.md).
  *
  * Mapping (the rule is `emission`, the one sink is `sinkWriter`):
  *  - Changelog → `outputMode(Update)` — every trigger emits changed
  *    aggregates (the reference's per-record continuous emission,
  *    batched by trigger). Production emission = a changelog sink
  *    (Kafka/Delta); here each trigger's updates land in the sink's
  *    file format under `_batch_id=N/` — NOTHING is materialized on the
  *    driver. `ChangelogWriter` prepares the write once per query and
  *    broadcasts its Hadoop configuration: about 1,100 entries, 114 KB
  *    serialized, which a per-batch `DataFrameWriter` save put into
  *    every write task twice. Each batch commits through Spark's commit
  *    protocol and replaces `_batch_id=N/` whole.
  *  - Final → `outputMode(Append)` + watermark — a window emits once,
  *    when the watermark passes window end (reference's window-close
  *    emission with grace period). Production emission = the parquet
  *    file sink.
  *  - ROWS WINDOW BUFFER n ROWS … EMIT CHANGES → per-key ring-buffer
  *    state via `flatMapGroupsWithState` (`rowsBufferAgg`).
  *  - Kafka topic → any streaming source; tests drive files/memory.
  *    On a cluster: `readStream.format("kafka")` with the same plan.
  */
object StreamOps {

  /** Tumbling-window aggregation with watermark; append mode = EMIT FINAL. */
  def tumblingAgg(events: DataFrame, tsCol: String, size: String, grace: String,
                  keys: Seq[String], aggExprs: Seq[(String, String)]): DataFrame = {
    require(aggExprs.nonEmpty, "tumblingAgg needs at least one aggregate expression")
    // the output reserves these names — withColumn would silently
    // REPLACE an input key column of the same name after aggregation
    // (same guard as TimeWindows.sessionize's working columns).
    // 'window' is the INTERMEDIATE struct the time-window groupBy
    // emits: a same-named key/alias makes col("window.start") an
    // AMBIGUOUS_REFERENCE crash instead of a clean message
    // match under the SESSION's resolver (Cols.sameName), not hardcoded
    // equalsIgnoreCase: in a case-sensitive session a legitimately
    // distinct alias like 'Window_Start' is a different column and must
    // not be rejected (r14 advice)
    for (c <- Seq("window_start", "window_end", "window"))
      require(!keys.exists(graft.operators.Cols.sameName(events, _, c))
          && !aggExprs.exists(a => graft.operators.Cols.sameName(events, a._2, c)),
        s"'$c' is a reserved output column of tumblingAgg")
    val aggs = aggExprs.map { case (e, alias) => expr(e).as(alias) }
    events
      .withWatermark(tsCol, grace)
      .groupBy(window(col(tsCol), size) +: keys.map(col): _*)
      .agg(aggs.head, aggs.tail: _*)
      .withColumn("window_start", col("window.start"))
      .withColumn("window_end", col("window.end"))
      .drop("window")
  }

  /** Session-window aggregation (state-store backed merging sessions). */
  def sessionAgg(events: DataFrame, tsCol: String, gap: String, grace: String,
                 keys: Seq[String], aggExprs: Seq[(String, String)]): DataFrame = {
    require(aggExprs.nonEmpty, "sessionAgg needs at least one aggregate expression")
    // session-resolver-aware for the same reason as tumblingAgg's guard
    for (c <- Seq("session_start", "session_end", "session_window"))
      require(!keys.exists(graft.operators.Cols.sameName(events, _, c))
          && !aggExprs.exists(a => graft.operators.Cols.sameName(events, a._2, c)),
        s"'$c' is a reserved output column of sessionAgg")
    val aggs = aggExprs.map { case (e, alias) => expr(e).as(alias) }
    events
      .withWatermark(tsCol, grace)
      .groupBy(session_window(col(tsCol), gap) +: keys.map(col): _*)
      .agg(aggs.head, aggs.tail: _*)
      .withColumn("session_start", col("session_window.start"))
      .withColumn("session_end", col("session_window.end"))
      .drop("session_window")
  }

  /** One event for the rows-buffer operator (key/order/id/value). */
  case class BufEvent(k: Long, ord: Long, id: Long, v: Double)
  /** One emission per arriving event: the aggregate over the key's last
    * ≤ n buffered values, reference ROWS WINDOW BUFFER semantics. */
  case class BufEmit(key: Long, event_id: Long, buf_n: Int, buf_sum: Double, buf_avg: Double)

  /** ROWS WINDOW BUFFER n ROWS PARTITION BY key analog: per-key bounded
    * ring buffer in the state store (reference:
    * docs/sql/PARSER_GRAMMAR.md §"ROWS WINDOW", rows_window_sql_test.rs).
    * Emission follows the reference's RowsEmitMode (ast.rs:567):
    * EMIT EVERY RECORD / EMIT CHANGES — every arriving record emits the
    * aggregate over the buffer; EMIT ON BUFFER FULL (`emitOnFull`) —
    * records are buffered silently until the ring reaches capacity, so
    * the warm-up produces nothing (batch-like, fewer outputs than
    * inputs). Works identically on a batch Dataset (one "micro-batch").
    *
    * Scale: PERSISTED state per key is O(n) values; keys shard across
    * executors by the groupBy shuffle — no global state, no driver
    * involvement. TRANSIENT memory, however, is O(events per key per
    * trigger): the per-group normalization sort below materializes the
    * trigger's whole event set for a key, and under AvailableNow /
    * plain-batch execution one "trigger" is the ENTIRE source — a hot
    * key with tens of millions of events allocates them on one executor
    * thread before the ring bounds anything (r17 review). One-shot
    * callers over unbounded hot keys should pre-bucket or feed real
    * micro-batches.
    */
  /** ORDERING CONTRACT: the buffer appends in ARRIVAL order — the
    * reference's semantics exactly (its ring buffer fills in Kafka
    * per-partition delivery order; it performs no event-time or ord
    * reordering either, window_functions.rs). The per-micro-batch `ord`
    * sort below is a NORMALIZATION, not a reorder guarantee: within one
    * trigger flatMapGroupsWithState interleaves partitions arbitrarily,
    * so the sort restores the source order a single-partition Kafka
    * topic would have delivered. ACROSS triggers no such repair exists —
    * an event whose ord precedes already-buffered events still appends
    * at the head of its own batch (matching what the reference does when
    * a producer delivers late), so sources feeding this operator should
    * deliver per-key in ord order, as a keyed Kafka topic does.
    *
    * `stateTtlMs`: idle-key state eviction. NoTimeout retains a ring
    * buffer for EVERY key ever seen — unbounded state on an unbounded
    * key space (session ids, request ids); with a TTL, a key whose
    * events stop arriving has its buffer removed after the duration
    * (processing-time, like the reference's buffer expiry housekeeping).
    * Default None keeps exact reference semantics for bounded key
    * spaces. */
  def rowsBufferAgg(events: Dataset[BufEvent], n: Int,
                    emitOnFull: Boolean = false,
                    stateTtlMs: Option[Long] = None): Dataset[BufEmit] = {
    import events.sparkSession.implicits._
    // n = 0 would not fail: takeRight(0) keeps the buffer empty and every
    // record emits buf_avg = 0.0/0 = NaN — a stream of NaNs, silently
    require(n > 0, s"rows buffer size must be positive, got $n")
    // a non-positive TTL fails DEEP in an executor task
    // (setTimeoutDuration throws mid-stream) — fail at the call site
    // like n does
    require(stateTtlMs.forall(_ > 0),
      s"stateTtlMs must be positive, got ${stateTtlMs.get}")
    val timeout =
      if (stateTtlMs.isDefined) GroupStateTimeout.ProcessingTimeTimeout()
      else GroupStateTimeout.NoTimeout()
    events.groupByKey(_.k).flatMapGroupsWithState(
      OutputMode.Update(), timeout) {
      (key: Long, it: Iterator[BufEvent],
       state: GroupState[(Vector[Double], Double, Double, Int, Int, Int)]) =>
        if (state.hasTimedOut) {
          state.remove() // idle key: ring buffer evicted, no emission
          Iterator.empty
        } else {
          // state = (oldest-first buffer, Kahan sum + compensation of
          // the FINITE values, NaN/+Inf/-Inf counts). The old
          // List :+ / takeRight / buf.sum did O(n) work per EVENT; the
          // running sum fixed that but (a) a single NaN/Inf poisoned it
          // FOREVER (NaN - NaN = NaN on evict, persisted across every
          // later trigger) and (b) uncompensated +=/-= drifted without
          // bound on non-quantized doubles. Non-finite values are
          // bookkept as counts (the IEEE outcome of a multiset sum
          // depends only on their presence: any NaN — or both
          // infinities — is NaN, else the surviving infinity, else the
          // finite sum), so the bad value's effect ends the moment it
          // leaves the ring; Kahan compensation bounds finite drift
          // (r13 review). Vector state also drops the per-trigger
          // List↔Vector copies the old shape paid.
          val (buf0, sum0, comp0, nan0, pinf0, ninf0) =
            state.getOption.getOrElse((Vector.empty[Double], 0.0, 0.0, 0, 0, 0))
          var buf = buf0
          var sum = sum0; var comp = comp0
          var nan = nan0; var pinf = pinf0; var ninf = ninf0
          // magnitude scale of the ring's finite values (plain sum of
          // |v| — a GATE, not an emitted quantity, so drift is fine).
          // Rebuilt from buf once per key-batch (same order as the
          // state deserialization that just produced buf) and tracked
          // incrementally within the batch; NOT part of the persisted
          // state tuple, so the checkpoint shape is unchanged.
          var absSum = { var a = 0.0; var i = 0
            while (i < buf.length) {
              val x = buf(i); if (java.lang.Double.isFinite(x)) a += math.abs(x); i += 1 }
            a }
          def add(x: Double): Unit =
            if (java.lang.Double.isNaN(x)) nan += 1
            else if (x == Double.PositiveInfinity) pinf += 1
            else if (x == Double.NegativeInfinity) ninf += 1
            else { val y = x - comp; val t = sum + y; comp = (t - sum) - y; sum = t }
          def drop(x: Double): Unit =
            if (java.lang.Double.isNaN(x)) nan -= 1
            else if (x == Double.PositiveInfinity) pinf -= 1
            else if (x == Double.NegativeInfinity) ninf -= 1
            else { val y = -x - comp; val t = sum + y; comp = (t - sum) - y; sum = t }
          def emitSum: Double =
            if (nan > 0 || (pinf > 0 && ninf > 0)) Double.NaN
            else if (pinf > 0) Double.PositiveInfinity
            else if (ninf > 0) Double.NegativeInfinity
            else sum
          // finite-sum OVERFLOW recovery (r14 review): the non-finite
          // COUNTS only cover non-finite INPUTS — when the finite
          // values' own running sum overflows to ±Inf, comp goes
          // Inf/NaN and every later add/drop stays NaN, re-creating
          // exactly the persisted-poisoning the counts eliminated.
          // Rebuild the Kahan pair from the ring whenever it turns
          // non-finite: while the window GENUINELY overflows this costs
          // O(window) per event (the honest emitted value is ±Inf —
          // IEEE's own answer for that content); the moment the big
          // values leave the ring, one rebuild restores a finite exact
          // sum. State shape is unchanged (no checkpoint break).
          def rebuild(): Unit = {
            sum = 0.0; comp = 0.0; absSum = 0.0
            var i = 0
            while (i < buf.length) {
              val x = buf(i)
              if (java.lang.Double.isFinite(x)) {
                // absSum re-derives here too: after a collapse the
                // incrementally-tracked value reads ~0 (the same
                // rounding that corrupted sum), and left stale it would
                // re-fire the rebuild gate on every later drop
                absSum += math.abs(x)
                val y = x - comp; val t = sum + y; comp = (t - sum) - y; sum = t
                // pin PER STEP: the overflow can happen mid-rebuild
                // (comp = Inf-big = Inf), and the next iteration's
                // y = x - Inf would turn the whole rebuild NaN. With
                // comp pinned finite, sum stays in {finite, ±Inf} —
                // t = ±Inf + finite never produces NaN.
                if (!java.lang.Double.isFinite(comp)) comp = 0.0
              }
              i += 1
            }
          }
          def rebuildIfPoisoned(): Unit =
            if (!java.lang.Double.isFinite(sum) || !java.lang.Double.isFinite(comp))
              rebuild()
          // flatMapGroupsWithState gives NO order guarantee within a group
          // (a multi-partition batch interleaves arbitrarily) — the ring
          // buffer's "last n" is only meaningful in `ord` order, so sort
          // the batch's events first (ties by id for determinism). The
          // sort is per-key-per-batch, tiny and executor-local.
          val out = it.toArray.sortBy(e => (e.ord, e.id)).iterator.flatMap { e =>
            buf = buf :+ e.v
            add(e.v)
            if (java.lang.Double.isFinite(e.v)) absSum += math.abs(e.v)
            if (buf.size > n) {
              val dropped = buf.head
              drop(dropped); buf = buf.drop(1)
              if (java.lang.Double.isFinite(dropped)) {
                absSum -= math.abs(dropped)
                if (absSum < 0) absSum = 0.0
              }
              // MAGNITUDE COLLAPSE (r14 review): when the dropped value
              // dwarfed the rest of the ring, the small contributions
              // were rounded away while it was resident and comp's
              // partial record cannot restore them exactly — the
              // running sum would read ~0 where the true window sum is
              // the surviving values'. One O(window) rebuild per such
              // drop (rare: requires ≥ ~40 bits of magnitude spread)
              // restores the exact Kahan sum of what remains. Gated on
              // the ring's ABSOLUTE scale as well as the signed sum
              // (r14 advice): a symmetric window (+x/−x pairs) keeps
              // sum ≈ 0 with NO collapse — the signed test alone fired
              // a full O(window) rebuild on every drop there, degrading
              // ordinary data to O(n·window). |dropped| must dwarf the
              // REMAINING magnitudes, not just their cancellation.
              if (java.lang.Double.isFinite(dropped) && java.lang.Double.isFinite(sum)
                  && math.abs(dropped) > math.abs(sum) * 1e12
                  && math.abs(dropped) > absSum * 1e12) rebuild()
            }
            rebuildIfPoisoned()
            if (!emitOnFull || buf.size == n) {
              val s = emitSum
              Some(BufEmit(key, e.id, buf.size, s, s / buf.size))
            } else None
          }.toList
          state.update((buf, sum, comp, nan, pinf, ninf))
          stateTtlMs.foreach(state.setTimeoutDuration)
          out.iterator
        }
    }
  }

  /** Streaming EXACT dedup: drop records whose key combination was
    * already seen within the watermark horizon — the streaming twin of
    * `Dedup.exact` for continuous ingestion (dedup a firehose by
    * fingerprint/id before it lands). State is BOUNDED by the horizon:
    * Spark's state store evicts seen-keys once the watermark passes
    * them, so a 100 TB/day stream holds only the horizon's keys,
    * sharded across executors by the key-hash shuffle. */
  def dedupStream(events: DataFrame, tsCol: String, horizon: String,
                  keys: Seq[String]): DataFrame = {
    require(keys.nonEmpty, "dedupStream needs at least one key column")
    events.withWatermark(tsCol, horizon)
      .dropDuplicatesWithinWatermark(keys.head, keys.tail: _*)
  }

  /** Stream-stream interval join (reference FR-085): equi-key plus a
    * time band `right.ts ∈ [left.ts + lower, left.ts + upper]`, with
    * watermarks on BOTH sides so Spark can bound join state retention
    * (state for a side is dropped once its watermark passes the band).
    */
  def intervalJoinStream(left: DataFrame, right: DataFrame,
                         leftTs: String, rightTs: String, grace: String,
                         keyCond: org.apache.spark.sql.Column,
                         lowerSeconds: Long, upperSeconds: Long): DataFrame = {
    // an inverted band (swapped bounds) is unsatisfiable: the query
    // would run forever emitting zero rows with no error anywhere
    require(lowerSeconds <= upperSeconds,
      s"interval band is empty: lower $lowerSeconds > upper $upperSeconds")
    val l = left.withWatermark(leftTs, grace)
    val r = right.withWatermark(rightTs, grace)
    // frame-qualified references: bare col(...) is AMBIGUOUS when both
    // streams name their event-time column the same (the common case)
    val band = r(rightTs) >= l(leftTs) + expr(s"INTERVAL $lowerSeconds SECOND") &&
      r(rightTs) <= l(leftTs) + expr(s"INTERVAL $upperSeconds SECOND")
    l.join(r, keyCond && band)
  }

  private def tmp(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  /** Recursive delete of a finished run's checkpoint dir — pure waste
    * once the query terminated (the output dir is the return value and
    * stays); without this every run leaks a checkpoint tree into /tmp.
    * Shared fd-closing best-effort implementation (graft.Fs). */
  private def deleteRecursively(path: String): Unit = graft.Fs.deleteRecursively(path)

  /** Ensure `out` is readable as parquet even when the stream emitted
    * ZERO rows (append + watermark where no window ever closed): the
    * file sink writes only _spark_metadata, and the caller's immediate
    * spark.read.parquet(out) would die with an unrelated-looking
    * "Unable to infer schema" — write one empty part with the sink
    * schema instead, honoring the "returns a readable directory"
    * contract.
    *
    * LIMITATION (declared json/csv sinks): only parquet embeds a schema
    * in the file, so a ZERO-ROW json/csv sink is readable only with an
    * explicit reader schema — an empty json part carries nothing
    * schema inference can use. The empty part is still written (the
    * dir exists, explicit-schema readers succeed); a schema-inferring
    * read of a zero-row json/csv sink fails by nature of the format. */
  private def ensureReadable(df: DataFrame, out: String,
                             extra: Seq[(String, org.apache.spark.sql.Column)] = Nil,
                             fmt: String = "parquet",
                             opts: Map[String, String] = Map.empty): Unit = {
    // "data" = any non-hidden, non-metadata file, or a changelog's
    // `_batch_id=N/` partition directory: the sink format follows the
    // declared path's extension, so .parquet-only matching would
    // re-write the fallback part into a json/csv sink that already
    // holds data, and a fallback part beside the partition directories
    // would conflict with their inferred `_batch_id` column
    val hasData = Option(new java.io.File(out).listFiles())
      .exists(_.exists(f =>
        if (f.isDirectory) f.getName.startsWith("_batch_id=")
        else !f.getName.startsWith("_") && !f.getName.startsWith(".")))
    if (!hasData) {
      // a zero-BATCH run leaves a _spark_metadata log with no committed
      // files; readers then use MetadataLogFileIndex, which cannot see
      // the fallback part written outside the log — the read still dies
      // with "Unable to infer schema". Remove the empty log so the dir
      // reads as plain parquet (it holds nothing the log describes).
      deleteRecursively(new java.io.File(out, "_spark_metadata").toString)
      val spark = df.sparkSession
      val empty = extra.foldLeft(
        spark.createDataFrame(new java.util.ArrayList[org.apache.spark.sql.Row](), df.schema)) {
        case (d, (n, c)) => d.withColumn(n, c)
      }
      empty.coalesce(1).write.mode("append").options(opts).format(fmt).save(out)
    }
  }

  /** Resolve the output directory + file format for a runner: for a
    * declared sink path (INTO … — format by extension, the same rule
    * as Serde.writeFileUri) a fresh STAGING dir next to it; otherwise
    * a fresh temp dir in parquet. Returns
    * (writeDir, fmt, opts, declaredPath).
    *
    * A declared INTO sink holds exactly ONE statement's output. Every
    * run here is a one-shot query on a FRESH temp checkpoint, so its
    * batch ids restart at 0 — against a dir still holding a previous
    * run's `_spark_metadata`, FileStreamSink would read batch 0 as
    * already committed and silently write NOTHING (the caller then
    * reads the previous run's rows believing they are this run's), and
    * the changelog path would append recycled `_batch_id` values across
    * generations, corrupting every latest-state row_number reader.
    * Same hazard JobManager.clearSinkDir guards on the job path.
    *
    * The reset is therefore a WHOLESALE REPLACE — but it is deferred to
    * `publish`, AFTER the query ran to completion: the run writes into
    * a staging dir on the same filesystem (publish is then a rename),
    * so a statement that fails analysis or dies mid-run leaves the
    * sink's previous contents untouched, and a statement that reads
    * from the very path it writes keeps its input for the whole run. */
  private def sinkOr(prefix: String, sinkPath: Option[String])
      : (String, String, Map[String, String], Option[String]) =
    sinkPath match {
      case Some(p0) =>
        val p = p0.stripPrefix("file://")
        val (f, o) = graft.sources.Serde.fileFormat(p)
        val parent = Option(new java.io.File(p).getAbsoluteFile.getParentFile)
          .getOrElse(new java.io.File("/"))
        java.nio.file.Files.createDirectories(parent.toPath)
        val stage = java.nio.file.Files
          .createTempDirectory(parent.toPath, "." + new java.io.File(p).getName + ".staging")
          .toString
        (stage, f, o, Some(p))
      case None => (tmp(prefix + "_out"), "parquet", Map.empty, None)
    }

  /** Delete data files the FileStreamSink manifest does not name. A
    * failed task attempt (retry/speculation) writes its part file
    * directly into the sink dir and only the successful attempt enters
    * the manifest — publish's rename would otherwise PROMOTE the orphan
    * into the published result, duplicating every row of the failed
    * attempt (r17 review). An absent/empty/unparseable manifest deletes
    * nothing (conservative: ensureReadable's zero-batch fallback part is
    * written OUTSIDE the log, after the empty log was removed). */
  private[streaming] def dropUncommittedOrphans(staging: String): Unit = {
    val meta = new java.io.File(staging, "_spark_metadata")
    if (meta.isDirectory) {
      val committed: Set[String] =
        Option(meta.listFiles()).getOrElse(Array.empty).filter(_.isFile).flatMap { f =>
          val txt = try java.nio.file.Files.readString(f.toPath)
                    catch { case scala.util.control.NonFatal(_) => "" }
          // SinkFileStatus JSON lines; part basenames are task-UUID-unique
          """"path":"([^"]+)"""".r.findAllMatchIn(txt)
            .map(_.group(1).split('/').last)
        }.toSet
      if (committed.nonEmpty)
        Option(new java.io.File(staging).listFiles()).getOrElse(Array.empty)
          .filter(f => f.isFile && !f.getName.startsWith("_")
            && !f.getName.startsWith(".") && !committed.contains(f.getName))
          .foreach(f => { f.delete(); () })
    }
  }

  /** The destructive step of a declared sink, run only after success:
    * replace the declared path with the finished staging dir (a
    * same-filesystem rename — sinkOr staged next to the target).
    * Returns the directory the caller should read from. */
  private def publish(staging: String, declared: Option[String]): String =
    declared match {
      case None => staging
      case Some(p) =>
        // the FileStreamSink log records ABSOLUTE file paths — after the
        // rename they'd point at the vanished staging dir and readers
        // using MetadataLogFileIndex would see nothing, so the log is
        // dropped before the rename. But FIRST it serves the one purpose
        // a plain directory listing cannot: naming the COMMITTED files.
        // A failed task attempt (retry/speculation) writes its part file
        // directly into the dir and only the successful attempt enters
        // the manifest — promoting orphans into the published sink would
        // duplicate every row of the failed attempt (r17 review). Files
        // the manifest does not name are deleted before the log goes.
        dropUncommittedOrphans(staging)
        deleteRecursively(new java.io.File(staging, "_spark_metadata").toString)
        deleteRecursively(p)
        // fail LOUDLY if the clear was partial (deleteRecursively is
        // best-effort — an NFS silly-rename or a held-open part file can
        // survive it): Files.move would throw anyway, but with the sink
        // half-deleted and no pointer to the new output. The staging dir
        // is deliberately PRESERVED here (ok was set before publish), so
        // the message can name where the finished run's output lives.
        if (new java.io.File(p).exists())
          throw new java.io.IOException(
            s"could not fully clear declared sink $p; this run's output is preserved at $staging")
        // any move failure (TOCTOU re-creation of p by a concurrent run,
        // I/O error on the rename) must also name the preserved staging
        // dir — the bare FileSystemException gave the user no pointer to
        // where this run's finished output lives (r17 review)
        try java.nio.file.Files.move(
          java.nio.file.Paths.get(staging), java.nio.file.Paths.get(p))
        catch { case e: java.io.IOException =>
          throw new java.io.IOException(
            s"could not publish into declared sink $p (${e.getMessage}); " +
              s"this run's output is preserved at $staging", e)
        }
        p
    }

  /** The stdout debug writer (reference: datasource/stdout_writer.rs:10
    * — one JSON object per record). Driver-side BY DEFINITION — stdout
    * IS the driver's console — but streamed partition-at-a-time via
    * toLocalIterator, never a full collect: a debug surface pointed at
    * a big result degrades to slow printing, not an OOM. Shared by the
    * batch INTO-stdout arms (VeloSql) and the streaming sinkWriter so
    * the sink semantics cannot drift between them. */
  def printJsonRows(df: DataFrame, out: java.io.PrintStream): Unit = {
    df.toJSON.toLocalIterator().forEachRemaining(s => out.println(s))
    out.flush()
  }

  /** How a streaming statement's sink emits: a changelog of updated
    * rows per trigger (update mode, tagged `_batch_id`) or each row once,
    * final (append mode). */
  sealed trait Emission
  case object Changelog extends Emission
  case object Final extends Emission

  /** The one emission rule of the dialect (EMIT CHANGES | FINAL), read
    * from the ANALYZED plan the way Spark decides which output modes a
    * streaming query supports (Structured Streaming, SIGMOD 2018):
    *  - the plan AGGREGATES when it holds a streaming Aggregate or a
    *    streaming Distinct (a STATIC-side aggregate of a stream-static
    *    join does not count: it never updates);
    *  - it is EVENT-TIME KEYED when every such node groups on an
    *    attribute carrying the watermark — Spark's own append-mode
    *    condition, which TUMBLE/HOP/SESSION windows and a Flink-style
    *    `GROUP BY TUMBLE(...)` meet, and a windowless, global or
    *    DISTINCT aggregate does not.
    *
    * EMIT CHANGES is a changelog, except over a session window (Spark
    * rejects update-mode session windows outright; each session is
    * emitted once, final, at close). Without EMIT CHANGES a plan that
    * does not aggregate, or is event-time keyed, emits final rows; an
    * aggregate nothing ever closes emits its changelog — unless EMIT
    * FINAL was asked for explicitly, which is a dialect error rather
    * than a silently different sink shape. */
  def emission(df: DataFrame, emit: Option[EmitMode]): Emission = {
    val groupings: Seq[Seq[Attribute]] = df.queryExecution.analyzed.collect {
      case a: Aggregate if a.isStreaming => a.groupingExpressions.collect { case r: Attribute => r }
      case d: Distinct if d.isStreaming => d.output
    }
    def carries(key: String)(as: Seq[Attribute]) = as.exists(_.metadata.contains(key))
    emit match {
      case Some(EmitChanges) =>
        if (groupings.exists(carries(SessionWindow.marker))) Final else Changelog
      case _ if groupings.forall(carries(EventTimeWatermark.delayKey)) => Final
      case Some(EmitFinal) => throw new ParseException(
        "EMIT FINAL on a non-windowed streaming aggregate never " +
          "finalizes (no event-time window closes its groups) — " +
          "use EMIT CHANGES or add a WINDOW clause")
      case _ => Changelog
    }
  }

  /** The one `writeStream` of the engine: the sink of a streaming
    * statement, from sqlStream's runners and JobManager's jobs alike.
    * The caller adds the checkpoint, the trigger and the query name.
    *
    * Changelog: each trigger's updated rows are written through
    * foreachBatch into `loc/_batch_id=N/`, and readers take `_batch_id`
    * from the path (a reserved column: an input column of that name is
    * rejected, since it would clash with the path's and every
    * latest-state reader would dedup on the wrong values). The writer
    * (`ChangelogWriter`) is prepared once per query: format, schema
    * check and a broadcast Hadoop configuration, so a write task no
    * longer deserializes the 114 KB configuration twice per batch. The
    * write is IDEMPOTENT per batch: a crash between the write and the
    * checkpoint commit makes Spark re-run the batch on restart, and the
    * batch, committed through Spark's `FileCommitProtocol` into a hidden
    * staging directory, replaces exactly its own `_batch_id=N/`
    * directory where a blind append would duplicate its rows. A reader
    * never sees half a batch, and a batch with no rows leaves no
    * directory.
    *
    * Final: Spark's append-mode file sink (exactly-once through its
    * `_spark_metadata` log), or foreachBatch appends when a console or
    * a hook also reads the batch (one query cannot serve both a file
    * sink and foreachBatch).
    *
    * `console` is the stdout debug sink (reference:
    * datasource/stdout_writer.rs:10): each batch's raw records print as
    * JSON lines. The stream is captured by the CALLER, on its own
    * thread — foreachBatch runs on the stream-execution thread, where
    * Console redirection (tests, embedding apps) is invisible. Printing
    * is at-least-once: a re-run batch re-prints, as console lines cannot
    * be retracted. `onBatch` runs after the write (JobManager's labeled
    * metrics). When more than one action reads a batch, it is persisted
    * for all of them: each extra action would otherwise re-read the
    * batch's source offsets and state. */
  def sinkWriter(df: DataFrame, emission: Emission, loc: String, fmt: String,
                 opts: Map[String, String], console: Option[java.io.PrintStream],
                 onBatch: Option[(DataFrame, Long) => Unit]): DataStreamWriter[Row] = {
    val changelog = emission == Changelog
    if (changelog) require(!graft.operators.Cols.has(df, "_batch_id"),
      "input must not carry the reserved _batch_id changelog column")
    val changes = if (changelog) Some(new ChangelogWriter(df, loc, fmt, opts)) else None
    val w = df.writeStream.outputMode(if (changelog) OutputMode.Update() else OutputMode.Append())
    if (!changelog && console.isEmpty && onBatch.isEmpty)
      w.format(fmt).options(opts).option("path", loc)
    else w.foreachBatch { (batch: DataFrame, batchId: Long) =>
      def write(): Unit = changes match {
        case Some(c) => c.write(batch, batchId)
        case None => batch.write.mode("append").options(opts).format(fmt).save(loc)
      }
      val shared = console.isDefined || onBatch.isDefined
      if (shared) batch.persist()
      try {
        console.foreach(printJsonRows(batch, _))
        write()
        onBatch.foreach(_(batch, batchId))
      } finally if (shared) batch.unpersist()
    }
  }

  /** Run `df` to completion as final rows (see sinkWriter); returns the
    * directory to read them from. `stdout=true` declares the stdout
    * debug sink (MutationChecks.isStdoutSink, resolved by the caller). */
  def runToParquet(df: DataFrame, prefix: String = "graft_stream",
                   sinkPath: Option[String] = None,
                   stdout: Boolean = false): String =
    runOnce(df, Final, prefix, sinkPath, stdout)

  /** Run `df` to completion as a changelog (see sinkWriter). */
  def runChangelog(df: DataFrame, prefix: String = "graft_changelog",
                   sinkPath: Option[String] = None,
                   stdout: Boolean = false): String =
    runOnce(df, Changelog, prefix, sinkPath, stdout)

  /** One run of a streaming statement to completion (AvailableNow), into
    * a temp dir or a staged declared sink (sinkOr), published on
    * success. */
  private def runOnce(df: DataFrame, emission: Emission, prefix: String,
                      sinkPath: Option[String], stdout: Boolean): String = {
    val (out, fmt, opts, declared) = sinkOr(prefix, sinkPath)
    val ckpt = tmp(prefix + "_ckpt")
    var ok = false
    try {
      sinkWriter(df, emission, out, fmt, opts, if (stdout) Some(Console.out) else None, None)
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .start()
        .awaitTermination()
      ensureReadable(df, out,
        if (emission == Changelog) Seq("_batch_id" -> lit(0)) else Nil, fmt, opts)
      ok = true
      publish(out, declared)
    } finally {
      // a FAILING query (a rejected emission, source gone) must still
      // clean its checkpoint AND its output dir — staging OR temp, both
      // leak into /tmp per failed run otherwise — and must NOT touch
      // the declared sink, whose previous contents stay exactly as they
      // were (the swap in publish only runs on success; a publish
      // failure sets ok=true first, so the staging dir survives for the
      // error message to point at)
      deleteRecursively(ckpt)
      if (!ok) deleteRecursively(out)
    }
  }
}
