package graft.streaming

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.apache.hadoop.fs.Path
import org.apache.spark.SparkEnv
import org.apache.spark.sql.{AnalysisException, DataFrame}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.util.SerializableConfiguration
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession
import graft.sql.VeloContext

/** The changelog sink (`StreamOps.sinkWriter` under `Changelog`): one
  * `_batch_id=N/` directory per non-empty batch, replaced whole when the
  * batch re-runs, in the declared sink's format, written by tasks that
  * carry a broadcast handle instead of the Hadoop configuration. */
class ChangelogSinkSpec extends AnyFunSuite with SparkTestSession {

  private implicit lazy val sq: org.apache.spark.sql.classic.SQLContext =
    spark.sqlContext.asInstanceOf[org.apache.spark.sql.classic.SQLContext]

  private def names(dir: String): Seq[String] =
    Option(new File(dir).list()).map(_.toSeq.sorted).getOrElse(Nil)

  test("a re-run batch replaces its _batch_id directory instead of duplicating it") {
    val dir = Files.createTempDirectory("graft_rerun").toString
    val (in, out, ckpt) = (s"$dir/in", s"$dir/out", s"$dir/ckpt")
    Files.createDirectories(Paths.get(in))
    Seq(Seq("a", "a", "b"), Seq("a", "c")).zipWithIndex.foreach { case (ks, i) =>
      Files.write(Paths.get(in, s"f$i.json"),
        ks.map(k => s"""{"k":"$k"}""").mkString("\n").getBytes(StandardCharsets.UTF_8))
    }
    // one file per batch, so the run commits batches 0 and 1
    val agg = spark.readStream.schema("k STRING").option("maxFilesPerTrigger", "1").json(in)
      .groupBy("k").agg(count(lit(1)).as("n"))
    def run(): Unit =
      StreamOps.sinkWriter(agg, StreamOps.Changelog, out, "parquet", Map.empty, None, None)
        .option("checkpointLocation", ckpt).trigger(Trigger.AvailableNow()).start()
        .awaitTermination()
    def batch(n: Int): Seq[(String, Long)] =
      spark.read.parquet(out).where(col("_batch_id") === n).drop("_batch_id").collect()
        .map(r => (r.getString(0), r.getLong(1))).toSeq.sorted
    def parts(n: Int): Seq[String] = names(s"$out/_batch_id=$n").filter(_.startsWith("part-"))
    run()
    val (first, firstParts) = (batch(1), parts(1))
    assert(first.nonEmpty && firstParts.nonEmpty)
    // the checkpoint forgets that batch 1 committed (the log entry and
    // its checksum): the restart re-runs it
    assert(new File(s"$ckpt/commits/1").delete())
    new File(s"$ckpt/commits/.1.crc").delete()
    run()
    assert(new File(s"$ckpt/commits/1").exists(), "batch 1 did not re-run")
    assert(parts(1).nonEmpty && parts(1).intersect(firstParts).isEmpty,
      "the re-run did not replace batch 1's files")
    assert(batch(1) == first, "the re-run duplicated or changed batch 1's rows")
    assert((batch(0) ++ batch(1)).map(_._1).distinct.sorted == Seq("a", "b", "c"))
    assert(names(out).filter(_.startsWith("_batch_id=")) == Seq("_batch_id=0", "_batch_id=1"))
    // no staging or replaced directory is left behind
    val hidden = names(out).filter(n => n.startsWith(".") && !n.endsWith(".crc"))
    assert(hidden.isEmpty, hidden.mkString(","))
  }

  test("a changelog whose every batch is empty stays readable") {
    import spark.implicits._
    val st = MemoryStream[(Long, Long)]
    st.addData(Seq((1L, 5L), (2L, 6L)))
    val agg = st.toDF().toDF("k", "v").where(col("v") < 0)
      .groupBy("k").agg(count(lit(1)).as("n"))
    val out = StreamOps.runChangelog(agg, "graft_empty_changelog")
    assert(!names(out).exists(_.startsWith("_batch_id=")),
      s"an empty batch committed a directory: ${names(out)}")
    val back = spark.read.parquet(out)
    assert(back.count() == 0)
    assert(Seq("k", "n", "_batch_id").forall(back.columns.contains), back.columns.mkString(","))
  }

  test("declared json and csv changelog sinks of a job carry _batch_id and the latest state") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_cl_formats").toString
    Seq("json", "csv").foreach { ext =>
      val in = MemoryStream[(Long, Long)]
      val ctx = new VeloContext(spark)
      try {
        ctx.register("cl_events", in.toDF().toDF("uid", "ep"))
        val path = s"$dir/out.$ext"
        ctx.sql(s"CREATE SINK cl_$ext WITH (path = 'file://$path')")
        val job = s"cl_job_$ext"
        in.addData(Seq((1L, 10L), (1L, 20L), (2L, 30L)))
        ctx.sql(s"START JOB $job AS SELECT uid, COUNT(*) AS n FROM cl_events " +
          s"GROUP BY uid INTO cl_$ext EMIT CHANGES")
        ctx.jobManager.awaitIdle(job)
        in.addData(Seq((1L, 40L)))
        ctx.jobManager.awaitIdle(job)
        val sunk = ctx.jobManager.sinkDf(job)
        assert(sunk.columns.contains("_batch_id"), s"$ext: ${sunk.columns.mkString(",")}")
        val rows = sunk.selectExpr("CAST(uid AS LONG)", "CAST(n AS LONG)", "CAST(_batch_id AS LONG)")
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        val latest = rows.groupBy(_._1).map { case (u, rs) => u -> rs.maxBy(_._3)._2 }
        assert(latest == Map(1L -> 3L, 2L -> 1L), s"$ext: ${rows.toSeq}")
        assert(rows.map(_._3).distinct.length == 2, s"$ext: ${rows.toSeq}")
        val files = new File(path).listFiles().filter(_.getName.startsWith("_batch_id="))
          .flatMap(_.listFiles()).filter(_.getName.startsWith("part-"))
        assert(files.nonEmpty && files.forall(_.getName.endsWith(s".$ext")), files.toSeq)
        if (ext == "csv") files.foreach { f =>
          val header = Files.readAllLines(f.toPath).get(0)
          assert(header == "uid,n", s"${f.getName} starts with $header")
        }
        ctx.sql(s"STOP JOB $job")
        // a column type the format cannot write fails the statement loudly
        if (ext == "csv") {
          val e = intercept[AnalysisException](ctx.sql(
            "START JOB cl_job_bad AS SELECT uid, ARRAY(COUNT(*)) AS ns FROM cl_events " +
              "GROUP BY uid INTO cl_csv EMIT CHANGES"))
          assert(e.getMessage.contains("CSV"), e.getMessage)
        }
      } finally ctx.close()
    }
  }

  test("a changelog write task serializes without the Hadoop configuration") {
    import spark.implicits._
    val df: DataFrame = MemoryStream[(Long, Long)].toDF().toDF("k", "v")
    val dir = Files.createTempDirectory("graft_cl_task").toString
    val (task, _) = new ChangelogWriter(df, dir, "parquet", Map.empty)
      .task(new Path(dir, "._batch_id=0.staging"))
    val ser = SparkEnv.get.closureSerializer.newInstance()
    val conf = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.newHadoopConf()
    val confBytes = ser.serialize(new SerializableConfiguration(conf)).limit()
    val taskBytes = ser.serialize(task).limit()
    // the bound is far below one copy of the configuration
    assert(confBytes > 64 * 1024, s"the session's configuration serializes to $confBytes bytes")
    assert(taskBytes < 16 * 1024, s"the write task serializes to $taskBytes bytes")
  }
}
