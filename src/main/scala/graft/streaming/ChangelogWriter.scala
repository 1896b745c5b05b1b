package graft.streaming

import java.util.{Date, UUID}

import scala.util.control.NonFatal

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.hadoop.mapreduce.{Job, JobID, TaskAttemptID, TaskID, TaskType}
import org.apache.hadoop.mapreduce.lib.output.FileOutputFormat
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
import org.apache.spark.TaskContext
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.internal.io.{FileCommitProtocol, FileNameSpec}
import org.apache.spark.internal.io.FileCommitProtocol.TaskCommitMessage
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.execution.datasources.{DataSource, DataSourceUtils, FileFormat, OutputWriter, OutputWriterFactory}
import org.apache.spark.sql.execution.datasources.v2.FileDataSourceV2
import org.apache.spark.sql.types.StructType
import org.apache.spark.util.SerializableConfiguration

/** The changelog sink's batch writer: each micro-batch of `df` becomes
  * the directory `loc/_batch_id=N/`, in format `fmt`.
  *
  * Prepared ONCE per streaming query: the file format is resolved, the
  * schema checked (a duplicate column name, or a column the format
  * cannot write, fails the statement here, before the query starts)
  * and the Hadoop job configuration prepared and broadcast. A nested
  * `DataFrameWriter` save per batch did all of this per trigger, and
  * Spark's `FileFormatWriter` puts the session's Hadoop configuration
  * into the task binary twice (the write description and its stats tracker):
  * about 1,100 entries, 114 KB serialized, 8–11 ms to deserialize per
  * copy on a 4-core host — most of the write stage's task time. Here a
  * task carries only the broadcast handle.
  *
  * Per batch, `write` follows `FileFormatWriter`'s protocol with the
  * session's `FileCommitProtocol`: setupJob, per task setupTask /
  * newTaskTempFile / commitTask (the `OutputCommitCoordinator` still
  * arbitrates duplicate attempts) or abortTask, then commitJob, or
  * abortJob on failure. The batch commits into a hidden staging
  * directory that then replaces `_batch_id=N/`, so a re-run batch
  * replaces its own directory and a reader never sees half of one. A
  * batch with no rows leaves no directory. The `_batch_id` column is not
  * in the files: readers take it from the path. */
private[streaming] final class ChangelogWriter(df: DataFrame, loc: String, fmt: String,
                                               opts: Map[String, String]) {
  private val spark = df.sparkSession.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
  private val schema = df.schema
  private val format: FileFormat =
    DataSource.lookupDataSource(fmt, spark.sessionState.conf).getConstructor().newInstance() match {
      case f: FileFormat => f
      case v2: FileDataSourceV2 => v2.fallbackFileFormat.getConstructor().newInstance()
      case other => throw new IllegalArgumentException(
        s"changelog sink format '$fmt' is not a file format (${other.getClass.getName})")
    }
  // the checks a DataFrameWriter save runs before it writes
  private val names = schema.fieldNames.map(n =>
    if (spark.sessionState.conf.caseSensitiveAnalysis) n else n.toLowerCase(java.util.Locale.ROOT))
  require(names.distinct.length == names.length,
    s"changelog sink columns must have distinct names: ${schema.fieldNames.mkString(", ")}")
  DataSourceUtils.checkFieldNames(format, schema)
  DataSourceUtils.verifySchema(format, schema)
  private val job = Job.getInstance(spark.sessionState.newHadoopConfWithOptions(opts))
  job.setOutputKeyClass(classOf[Void])
  job.setOutputValueClass(classOf[InternalRow])
  private val factory = format.prepareWrite(spark, job, opts, schema)
  private val conf = spark.sparkContext.broadcast(new SerializableConfiguration(job.getConfiguration))
  private val root = new Path(loc)
  private val fs: FileSystem = root.getFileSystem(job.getConfiguration)

  /** The per-task write function of one batch committing into `staging`,
    * and the driver-side job context that set it up. */
  private[streaming] def task(staging: Path): (WriteTask, Job) = {
    val batchJob = Job.getInstance(job.getConfiguration)
    FileOutputFormat.setOutputPath(batchJob, staging)
    val committer = FileCommitProtocol.instantiate(spark.sessionState.conf.fileCommitProtocolClass,
      UUID.randomUUID().toString, staging.toString)
    // FileFormatWriter's job tracker id: the job's start time
    val tracker = new java.text.SimpleDateFormat("yyyyMMddHHmmss", java.util.Locale.US).format(new Date)
    (new WriteTask(conf, factory, schema, committer, tracker, staging.toString), batchJob)
  }

  def write(batch: DataFrame, batchId: Long): Unit = {
    val target = new Path(root, s"_batch_id=$batchId")
    val staging = new Path(root, s"._batch_id=$batchId.staging")
    val replaced = new Path(root, s"._batch_id=$batchId.replaced")
    // what a crashed attempt of this batch may have left
    fs.delete(staging, true)
    fs.delete(replaced, true)
    val (t, batchJob) = task(staging)
    t.committer.setupJob(batchJob)
    try {
      val done = spark.sparkContext.runJob(batch.queryExecution.toRdd, t)
      if (done.exists(_._2 > 0)) {
        t.committer.commitJob(batchJob, done.map(_._1).toSeq)
        if (fs.exists(target) && !fs.rename(target, replaced))
          throw new java.io.IOException(s"could not move the previous $target aside")
        if (!fs.rename(staging, target))
          throw new java.io.IOException(s"could not publish changelog batch $batchId into $target")
        fs.delete(replaced, true)
      } else {
        t.committer.abortJob(batchJob)
        fs.delete(staging, true)
      }
    } catch { case e: Throwable =>
      try t.committer.abortJob(batchJob) catch { case NonFatal(s) => e.addSuppressed(s) }
      throw e
    }
  }
}

/** One task of a changelog batch, as `FileFormatWriter.executeTask` runs
  * it for an unpartitioned write: at most one file, opened at the first
  * row. Returns the commit message and the rows written. It carries the
  * broadcast configuration's handle, never the configuration, and copies
  * the configuration before it sets the task's ids. */
private[streaming] final class WriteTask(conf: Broadcast[SerializableConfiguration],
                                         factory: OutputWriterFactory, schema: StructType,
                                         val committer: FileCommitProtocol, tracker: String,
                                         outDir: String)
    extends ((TaskContext, Iterator[InternalRow]) => (TaskCommitMessage, Long)) with Serializable {
  def apply(ctx: TaskContext, rows: Iterator[InternalRow]): (TaskCommitMessage, Long) = {
    val jobId = new JobID(tracker, ctx.stageId())
    val attempt = new TaskAttemptID(new TaskID(jobId, TaskType.MAP, ctx.partitionId()),
      ctx.taskAttemptId().toInt & Int.MaxValue)
    val hc = new Configuration(conf.value.value)
    hc.set(FileOutputFormat.OUTDIR, outDir)
    hc.set("mapreduce.job.id", jobId.toString)
    hc.set("mapreduce.task.id", attempt.getTaskID.toString)
    hc.set("mapreduce.task.attempt.id", attempt.toString)
    hc.setBoolean("mapreduce.task.ismap", true)
    hc.setInt("mapreduce.task.partition", 0)
    val tac = new TaskAttemptContextImpl(hc, attempt)
    committer.setupTask(tac)
    var out: OutputWriter = null
    var n = 0L
    try {
      while (rows.hasNext) {
        val row = rows.next()
        if (out == null) out = factory.newInstance(committer.newTaskTempFile(tac, None,
          FileNameSpec("", factory.getFileExtension(tac))), schema, tac)
        out.write(row)
        n += 1
      }
      if (out != null) { val o = out; out = null; o.close() }
      (committer.commitTask(tac), n)
    } catch { case e: Throwable =>
      try if (out != null) out.close() catch { case NonFatal(s) => e.addSuppressed(s) }
      try committer.abortTask(tac) catch { case NonFatal(s) => e.addSuppressed(s) }
      throw e
    }
  }
}
