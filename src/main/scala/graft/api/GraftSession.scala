package graft.api

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Session factory tuned for the graft engine.
  *
  * Mirrors the reference engine's server bootstrap
  * (reference: src/velostream/server/ — multi-job SQL server) but as a
  * Spark session: one session hosts many concurrent queries/jobs.
  *
  * Scale notes: AQE on (runtime re-plan, skew-join splitting,
  * partition coalescing); shuffle.partitions sized for local[32] here,
  * AQE-coalesced on a real cluster.
  */
object GraftSession {
  /** The ONE predicate behind the local-only checkpoint-I/O tunings
    * below (manager class + checksum sidecars): keyed on the ACTUAL
    * master of the (possibly pre-existing) session, so a cluster
    * deployment keeps Spark's defaults even if the embedder asked this
    * factory for a local master. */
  def localCheckpointTuning(master: String): Boolean = master.startsWith("local")

  def apply(master: String = "local[*]", shufflePartitions: Int = 32): SparkSession = {
    val spark = SparkSession
      .builder()
      .master(master)
      .appName("graft")
      .config("spark.ui.enabled", "false")
      // STATIC conf (JVM-wide Janino class cache), so it must ride the
      // builder, not the runtime conf.set loop below: the engine hosts
      // ~80 distinct declared queries plus dialect/job statements, each
      // compiling several WholeStageCodegen units — far past the
      // default 100-entry cache, so by the time a query re-runs its
      // generated classes have been evicted and every execution pays
      // full Janino recompilation (measured: the second bench pass was
      // spending its jit/compile budget re-building classes the first
      // pass already built). 1000 entries holds the whole query
      // catalog; entries are compiled class handles, not data, so the
      // footprint is tens of MB. Scale-independent: a multi-query
      // production server wants this regardless of cluster size. On a
      // PRE-EXISTING session this (like master) cannot apply — a perf
      // niggle, not a correctness one, so no warning beyond master's.
      .config("spark.sql.codegen.cache.maxEntries", "1000")
      // Shuffle WRITER choice for no-map-side-combine exchanges (core
      // conf — must ride the builder). Spark's default bypass-merge
      // writer kicks in whenever reduce partitions <= 200 and opens ONE
      // FILE PER REDUCE PARTITION per map task, then re-writes every
      // byte concatenating them (copyFileStreamNIO) into the final
      // shuffle file. A 32-thread stack sample of the LSH-verify family
      // (r18) showed that machinery as the dominant non-idle cost:
      // 1791 samples in DiskBlockObjectWriter file opens + 2928 in the
      // concat, versus negligible query compute. Threshold 1 routes
      // these exchanges to the serialized (Unsafe) writer: one spill
      // file per map task, no concat pass, bytes written once.
      // Java-serialized RDD shuffles, whose serializer cannot relocate
      // records, fall back to SortShuffleWriter instead.
      // Scale story: at 100 TB reduce counts exceed 200 and bypass
      // never fires either way — this only affects the small-R regime,
      // where the per-task R file creates + full extra write round are
      // overhead on ANY cluster (they scale with M x R, not with this
      // sandbox). Measured (interleaved min-of-6, same windows):
      // q57 -31%, q38 -38%, q69 -28%, q24 -30%, q70 -27%, q60 -20%;
      // map-side-combine aggregates (q16) and broadcast joins (q4)
      // unchanged. Deployments with huge per-task map outputs at small
      // R can restore the 200 default at session build.
      .config("spark.shuffle.sort.bypassMergeThreshold", "1")
      // Hadoop confs ride the builder (sc.hadoopConfiguration is built
      // from SparkConf at context creation). Scheme-scoped to file://,
      // inert on hdfs://s3a:// deployments: Hadoop's default LocalFileSystem
      // is ChecksumFileSystem — every local write carries a client-side
      // .crc SIDECAR file (2x the file ops, CRC32 over every byte) and
      // every read re-verifies it. That client-side layer exists for
      // filesystems without integrity guarantees of their own; parquet
      // already carries page-level checksums and production checkpoints
      // live on HDFS/S3 (which checksum server-side), so on local paths
      // it is pure per-file overhead — measured r17: the streaming
      // one-shots spent whole batches in sidecar create/rename (and,
      // with no libhadoop.so in this environment, Hadoop shells out
      // fork/exec per permission probe on those extra files).
      // GraftLocalFileSystem = RawLocalFileSystem minus client-side
      // permission ENFORCEMENT: setPermission without libhadoop is a
      // fork/exec of chmod per created file, and the state-store
      // provider pays it INSIDE StateStore's JVM-global provider lock
      // (stack-sampled r17 — see GraftLocalFileSystem's scaladoc).
      .config("spark.hadoop.fs.file.impl", "graft.api.GraftLocalFileSystem")
      .config("spark.hadoop.fs.AbstractFileSystem.file.impl",
        "org.apache.hadoop.fs.local.RawLocalFs")
      .getOrCreate()
    // getOrCreate RETURNS any pre-existing session with builder configs
    // silently IGNORED — a correctness trap (non-UTC timezone shifts
    // window results; missing nanosAsLong fails the events scan). Every
    // conf the engine depends on is a runtime-settable SQL conf, so pin
    // them on the session explicitly, whoever created it.
    // The MASTER is not runtime-settable: a pre-existing session on a
    // different master silently breaks the cores/shuffle sizing
    // contract (bench/probe timings invalid) — warn loudly, since
    // failing here would break legitimate embedders that own their
    // session (r13 review)
    if (spark.sparkContext.master != master)
      System.err.println(s"[graft] WARNING: GraftSession requested master=$master but " +
        s"an existing session runs on ${spark.sparkContext.master} — timing/sizing " +
        "assumptions (shuffle partitions, parallelism) may not hold")
    Seq(
      "spark.sql.shuffle.partitions" -> shufflePartitions.toString,
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.adaptive.coalescePartitions.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.enabled" -> "true",
      "spark.sql.session.timeZone" -> "UTC",
      // ANSI semantics are what every oracle gate validated (Spark 4's
      // default, pinned explicitly): an embedder session created with
      // ANSI OFF would silently shift cast-overflow/div-zero from
      // errors to NULLs — engine results diverging from the
      // DuckDB-validated behavior with no warning (r14 review)
      "spark.sql.ansi.enabled" -> "true",
      // events.parquet carries INT64(TIMESTAMP(NANOS)) which Spark's
      // vectorized reader rejects; read as long and convert in the loader.
      "spark.sql.legacy.parquet.nanosAsLong" -> "true",
      // bound plan-STRING rendering (default ~2 GiB): iterative
      // operators (pointer-doubling closure) self-join their own
      // lineage, so the plan TREE doubles per round — the execution is
      // fine, but the plan description Spark renders for every
      // SQL-execution event can alone OOM the driver at deep tiers
      // (observed: 64x closure probe, heap death inside explainString).
      // 1 MiB keeps plans debuggable and the driver alive.
      "spark.sql.maxPlanStringLength" -> "1048576",
      // Spark's Hive-style ${var} substitution rewrites ${...} INSIDE
      // SQL string literals before any function sees them — an
      // undefined var silently becomes "" (observed: the Rust-parity
      // replacement '${1}0' reached the regex kernel as '0'). The
      // reference dialect has no such in-statement substitution; its
      // ${VAR} application-header resolution is implemented separately
      // in SqlApp.resolvePattern (r13 review).
      "spark.sql.variable.substitute" -> "false"
    ).foreach { case (k, v) => spark.conf.set(k, v) }
    // DEPLOYMENT-KEYED checkpoint I/O choices (kept parameterised, not a
    // blanket local[32] tune). On a LOCAL master the checkpoint lives on
    // the local fs, so two Spark defaults that exist to guard
    // remote/multi-writer storage are pure per-batch latency tax:
    // 1. Spark prefers the FileContext-based checkpoint manager because
    //    FileContext.rename(OVERWRITE) is atomic on HDFS — the right
    //    call for a multi-driver cluster. Locally plain rename(2) is
    //    already atomic, while FileContext's path resolution must chase
    //    symlinks through getFileLinkStatus — which, without
    //    libhadoop.so, Hadoop implements by fork/exec'ing `stat` PER
    //    FILE PER BATCH (measured r17: the dominant sampled frames of
    //    the streaming micro-batch floor). The FileSystem-based manager
    //    does the same create-temp-then-rename protocol through java.io.
    // 2. Spark 4.1's per-checkpoint-file checksum sidecars (default on)
    //    double every checkpoint file op — each offsets/commit-log
    //    entry, state-store delta and sink-manifest write ALSO creates,
    //    writes and renames a .checksum file through a spawned thread,
    //    and every read re-verifies. Measured r17: the streaming
    //    quartet's micro-batch floor dropped ~30% with the sidecars
    //    off. A local fs is single-writer and the payloads are
    //    re-derivable test state, so the tripwire buys nothing here;
    //    CLUSTER masters keep Spark's default (r17 verdict: disabling
    //    it unconditionally would silently remove the end-to-end
    //    integrity check on HDFS/S3 deployments, where storage-level
    //    checksums do not cover the client-side write path end-to-end).
    // Cluster masters keep Spark's defaults for both; each is a runtime
    // conf an embedder can override either way.
    if (localCheckpointTuning(spark.sparkContext.master)) {
      spark.conf.set("spark.sql.streaming.checkpointFileManagerClass",
        "org.apache.spark.sql.execution.streaming.checkpointing.FileSystemBasedCheckpointFileManager")
      spark.conf.set("spark.sql.streaming.checkpoint.fileChecksum.enabled", "false")
    }
    spark.sparkContext.setLogLevel("WARN")
    // the engine's native kernels are part of its SQL surface
    graft.functions.GraftKernels.registerSqlFunctions(spark)
    spark
  }
}

/** Loaders for the driver-generated test tables. Single parquet file per
  * table; on a real deployment these would be partitioned directories —
  * the read path is identical (`spark.read.parquet` handles both).
  */
object Tables {
  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Tables whose downstream operators run heavy per-row kernels
    * (shingling/hashing/vector math) — worth fanning out even when the
    * scan itself is tiny. */
  private val heavyPerRow: Set[String] = Set("documents", "embeddings")

  def load(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    val df = normalizeTs(spark.read.parquet(s"$sfDir/$name.parquet"), name)
    // The test files are single-row-group parquet → the scan emits all
    // rows from ONE task, serializing the per-row compute. The guard is
    // on FILE count, not split count: byte-range splits of a
    // single-row-group file still deliver every row to the one split
    // containing the row-group start, so a split-count check would be
    // fooled exactly when the file is large enough to matter. Fan out
    // kernel-heavy tables whenever files < cores; no-op at production
    // scale (thousands of files ≥ cores).
    val cores = spark.sparkContext.defaultParallelism
    if (heavyPerRow(name) && df.inputFiles.length < cores)
      df.repartition(cores)
    else df
  }

  /** With `nanosAsLong`, nano-precision timestamp columns surface as
    * LongType nanos; convert to TimestampType (micros — Spark's native
    * precision) so downstream code sees real timestamps.
    *
    * Naive parquet timestamps (isAdjustedToUTC=false — how the driver's
    * pyarrow writer emits them as of r7) surface as TIMESTAMP_NTZ, which
    * Structured Streaming rejects as an event-time column and
    * `unix_millis` rejects outright. Cast every NTZ column to TIMESTAMP:
    * the session zone is pinned to UTC (GraftSession),
    * so the cast reinterprets the same wall-clock as the same instant —
    * bit-identical values to the tz-aware files earlier rounds read.
    */
  def normalizeTs(df: DataFrame, tableName: String): DataFrame =
    df.schema.fields.foldLeft(df) { (d, f) =>
      // the nanos-long reinterpretation is scoped to the EVENTS table
      // (the one file the driver writes with INT64 TIMESTAMP(NANOS)):
      // a generic "any long named ts" rule would silently div-1000 a
      // table whose ts holds epoch seconds/millis into 1970-adjacent
      // garbage; the NTZ cast below stays generic (type-keyed, safe)
      if (tableName == "events" && f.name == "ts"
          && f.dataType == org.apache.spark.sql.types.LongType)
        // FLOOR division: `div` truncates toward zero, which would shift
        // pre-1970 nanos not on a microsecond boundary 1 µs forward
        d.withColumn("ts", org.apache.spark.sql.functions.expr(
          "timestamp_micros(CASE WHEN ts % 1000 < 0 THEN ts div 1000 - 1 ELSE ts div 1000 END)"))
      else if (f.dataType == org.apache.spark.sql.types.TimestampNTZType)
        d.withColumn(f.name, d(f.name).cast(org.apache.spark.sql.types.TimestampType))
      else d
    }

  /** Streaming read of one table (file source) with the same ts
    * normalization — the Kafka-topic analog in this environment.
    */
  def loadStream(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    val raw = spark.read.parquet(s"$sfDir/$name.parquet").schema
    normalizeTs(spark.readStream.schema(raw)
      .option("pathGlobFilter", s"$name.parquet").parquet(sfDir), name)
  }

}
