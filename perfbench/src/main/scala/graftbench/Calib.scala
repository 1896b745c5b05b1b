package graftbench

/** In-run speed reference: a fixed CPU and cache workload, independent of
  * the engine. A shared host's speed drifts by tens of percent over
  * minutes, and every key and micro-batch moves with it. Dividing a time by
  * this reference (and multiplying by `RefMs`) reports it in the time of a
  * host on which the reference takes `RefMs`.
  *
  * A sample runs one share of work on each of `Main.Cores` threads at once
  * and averages the threads' own times: the vCPUs of one moment differ in
  * speed, and a single thread lands on one of them.
  *
  * Samples are taken while the engine is idle: before the first session,
  * between passes or phases, and after the last session stops. */
object Calib {
  /** Reference time the normalised metrics are expressed against: a round
    * figure near one sample's time on the 4-vCPU host the benchmark was
    * tuned on. */
  val RefMs = 100.0

  private val Len = 1 << 15
  private val Rounds = 30
  @volatile private var blackhole = 0L

  /** One share: fill a cache-sized int array from a xorshift stream and
    * sort it, `Rounds` times. The sort is this file's own, so that no code
    * the engine also runs (and the JIT compiles for the engine's calls)
    * is in the reference. */
  private def work(seed: Int): Long = {
    val a = new Array[Int](Len)
    var x = seed | 1
    var acc = 0L
    var r = 0
    while (r < Rounds) {
      var i = 0
      while (i < Len) {
        x ^= x << 13; x ^= x >>> 17; x ^= x << 5
        a(i) = x
        i += 1
      }
      sort(a, 0, Len - 1)
      acc += a(r)
      r += 1
    }
    acc
  }

  /** Quicksort of a(lo..hi): Hoare partition around the middle element,
    * recursing into the smaller side. */
  private def sort(a: Array[Int], lo0: Int, hi0: Int): Unit = {
    var lo = lo0
    var hi = hi0
    while (lo < hi) {
      val p = a((lo + hi) >>> 1)
      var i = lo
      var j = hi
      while (i <= j) {
        while (a(i) < p) i += 1
        while (a(j) > p) j -= 1
        if (i <= j) {
          val t = a(i); a(i) = a(j); a(j) = t
          i += 1; j -= 1
        }
      }
      if (j - lo < hi - i) { sort(a, lo, j); lo = i }
      else { sort(a, i, hi); hi = j }
    }
  }

  private var seed = 0

  /** Mean wall milliseconds of one share of work, over `Main.Cores`
    * threads running at once. */
  def sampleMs(): Double = {
    val ms = new Array[Double](Main.Cores)
    val threads = ms.indices.map { t =>
      seed += 1
      val s = seed
      new Thread(() => {
        val t0 = System.nanoTime()
        val acc = work(s)
        ms(t) = (System.nanoTime() - t0) / 1e6
        blackhole += acc
      })
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    ms.sum / ms.length
  }

  /** `n` samples after a full GC and one untimed sample (JIT
    * compilation), so that neither lands in a timed sample. */
  def samples(n: Int): Seq[Double] = {
    System.gc()
    sampleMs()
    Seq.fill(n)(sampleMs())
  }
}
