package graftbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.unsafe.types.UTF8String

import graft.functions.GraftKernels

/** Single-thread throughput of the `GraftKernels` row functions, called
  * directly over the generated documents and embeddings. */
object Kernels {
  @volatile private var blackhole = 0L

  /** Records per second of `f` over `n` records, timed for at least
    * `minMs` after one untimed warm-up sweep. */
  private def rate(n: Int, minMs: Double)(f: Int => Unit): Double = {
    var i = 0
    while (i < n) { f(i); i += 1 }
    var done = 0L
    val t0 = System.nanoTime()
    var el = 0.0
    while (el < minMs) {
      i = 0
      while (i < n) { f(i); i += 1 }
      done += n
      el = (System.nanoTime() - t0) / 1e6
    }
    done / (el / 1000)
  }

  def measure(spark: SparkSession, dir: String, minMs: Double = 400): Map[String, Double] = {
    val docs = spark.read.parquet(s"$dir/documents.parquet").select("text").collect()
      .map(r => UTF8String.fromString(r.getString(0)))
    val vecs = spark.read.parquet(s"$dir/embeddings.parquet").select("embedding").collect()
      .map(r => UnsafeArrayData.fromPrimitiveArray(r.getSeq[Float](0).toArray))
    var sink = 0L
    val out = Map(
      "functions.minhash_rec_per_s" -> rate(docs.length, minMs) { i =>
        sink += GraftKernels.minhashSig(docs(i), 3, 16).numElements() },
      "functions.simhash_rec_per_s" -> rate(docs.length, minMs) { i =>
        sink += GraftKernels.simhash(docs(i)) },
      "functions.fingerprint_rec_per_s" -> rate(docs.length, minMs) { i =>
        sink += GraftKernels.fingerprint(docs(i)) },
      "functions.cosine_rec_per_s" -> rate(vecs.length, minMs) { i =>
        sink += (GraftKernels.cosine(vecs(i), vecs((i + 1) % vecs.length), true) * 1e6).toLong })
    blackhole = sink // results stay observable, so the JIT cannot drop the calls
    out
  }
}
