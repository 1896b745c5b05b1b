package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Disjoint replicas of the documents and embeddings tables: the input
  * side of the scale metamorphic relation (`ScaleRelationSpec`).
  *
  * Each replica keeps the duplicate and neighbour structure of the base
  * table exactly and shares none of it with the other replicas, so on M
  * replicas the dedup, closure and contamination outputs are M copies of
  * the base output with ids offset by `Offset` per replica:
  *  - documents: replica i rotates the alphabet by i (Caesar, both
  *    cases). Word and shingle structure inside a replica is preserved
  *    exactly, while replicas share no shingles. Rotation wraps at 26:
  *    rotation 26 is the identity, so a replica rotated by 26 is an
  *    exact duplicate of replica 0;
  *  - embeddings: replica i multiplies each dimension by a fixed random
  *    sign. Cosine within a replica is bit-identical (both vectors flip
  *    the same signs), while cross-replica cosines are scrambled noise.
  *
  * `main(sfDir, m, outDir)` writes an m× sf directory: documents and
  * embeddings multiplied, every other table copied unchanged, so
  * `SPARK_GRAFT_SF_DIR=<outDir>` runs of Bench or Verify read it:
  * {{{ sbt "Test/runMain graft.Replicas <sfDir> 8 <outDir>" }}}
  */
object Replicas {

  /** Id distance between replicas; every input id must sit below it. */
  val Offset: Long = 100000000L

  private val alphabet = "abcdefghijklmnopqrstuvwxyz"

  private def rotated(r: Int): String = alphabet.drop(r % 26) + alphabet.take(r % 26)

  /** One replica per entry of `rotations`: replica i has ids offset by
    * i × `Offset` and its alphabet rotated by `rotations(i)`. */
  def multiplyDocs(docs: DataFrame, rotations: Seq[Int]): DataFrame =
    rotations.zipWithIndex.map { case (r, i) =>
      val upper = alphabet.toUpperCase(java.util.Locale.ROOT)
      val to = rotated(r)
      docs.withColumn("doc_id", col("doc_id") + lit(i * Offset))
        // both cases: an uppercase-only doc left untranslated would be a
        // cross-replica exact duplicate
        .withColumn("text", translate(col("text"), alphabet + upper,
          to + to.toUpperCase(java.util.Locale.ROOT)))
    }.reduce(_ unionAll _)

  /** M replicas of the embeddings table; replica i > 0 multiplies each
    * dimension d by sign(i, d), an orthogonal transform. */
  def multiplyEmbeddings(emb: DataFrame, m: Int, dim: Int): DataFrame =
    (0 until m).map { i =>
      val rnd = new java.util.Random(1234L + i)
      val signs = Array.fill(dim)(if (i == 0 || rnd.nextBoolean()) 1.0f else -1.0f)
      emb.withColumn("vec_id", col("vec_id") + lit(i * Offset))
        .withColumn("embedding", zip_with(col("embedding"), typedLit(signs.toSeq), (x, s) => x * s))
    }.reduce(_ unionAll _)

  /** The inputs the relation needs; each failure names the broken premise. */
  def checkReplicable(docs: DataFrame, emb: DataFrame): Unit = {
    // the rotation is the identity on text with no ASCII letters, so
    // such a document would be a cross-replica exact duplicate
    val letterFree = docs.where(col("text").isNull || !col("text").rlike("[A-Za-z]")).count()
    require(letterFree == 0,
      s"$letterFree letter-free/null documents would be shared by every replica")
    // the same, one level down: >= 3 consecutive letter-free words form
    // a 3-word shingle shared verbatim by every replica
    val letterFreeRun = docs.where(col("text")
      .rlike("(^|\\s)[^A-Za-z\\s]+(\\s+[^A-Za-z\\s]+){2}(\\s|$)")).count()
    require(letterFreeRun == 0,
      s"$letterFreeRun documents with >=3 consecutive letter-free words would " +
        "produce shingles shared by every replica")
    // ids at or above the offset would collide across replicas: the
    // closure would merge unrelated components
    def maxIdOf(df: DataFrame, c: String): Long =
      Option(df.agg(max(col(c))).head.get(0)).map(_.asInstanceOf[Number].longValue).getOrElse(-1L)
    require(maxIdOf(docs, "doc_id") < Offset, s"doc_id >= $Offset would collide across replicas")
    require(maxIdOf(emb, "vec_id") < Offset, s"vec_id >= $Offset would collide across replicas")
  }

  /** Write an m× copy of `sfDir` into `outDir`. */
  def write(spark: SparkSession, sfDir: String, m: Int, outDir: String): Unit = {
    require(m >= 1, s"multiplier must be >= 1, got $m")
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    checkReplicable(docs, emb)
    val dim = emb.select(max(size(col("embedding")))).head.getInt(0)
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    multiplyDocs(docs, 0 until m).write.mode("overwrite").parquet(s"$outDir/documents.parquet")
    multiplyEmbeddings(emb, m, dim).write.mode("overwrite").parquet(s"$outDir/embeddings.parquet")
    // the other tables as bytes, so Tables.load reads exactly the base
    // files (the events table's nanosecond timestamps included)
    graft.api.Tables.all.filterNot(Set("documents", "embeddings")).foreach { t =>
      val src = java.nio.file.Paths.get(s"$sfDir/$t.parquet")
      if (java.nio.file.Files.exists(src)) {
        val dst = java.nio.file.Paths.get(s"$outDir/$t.parquet")
        Fs.deleteRecursively(dst.toFile)
        val files = java.nio.file.Files.walk(src) // a file, or a Spark-written directory
        try files.forEach(f => java.nio.file.Files.copy(f, dst.resolve(src.relativize(f))))
        finally files.close()
      }
    }
  }

  def main(args: Array[String]): Unit = {
    require(args.length == 3, "usage: graft.Replicas <sfDir> <m> <outDir>")
    val cpus = SparkEntry.cpusFromEnv()
    val spark = graft.api.GraftSession(s"local[$cpus]", cpus)
    spark.sparkContext.setLogLevel("WARN")
    try write(spark, args(0), args(1).toInt, args(2))
    finally spark.stop()
  }
}
