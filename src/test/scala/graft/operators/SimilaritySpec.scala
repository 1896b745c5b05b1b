package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession

/** Similarity-search guarantees: exact two-phase top-k equals the naive
  * rank, the block-grid self-join equals brute force, and LSH recall on
  * planted near-duplicates is high at near-dup thresholds.
  */
class SimilaritySpec extends AnyFunSuite with SparkTestSession {

  private val dim = 16
  private val rnd = new scala.util.Random(11)

  private def randVec(): Seq[Float] = Seq.fill(dim)(rnd.nextGaussian().toFloat)
  private def jitter(v: Seq[Float], eps: Double): Seq[Float] =
    v.map(x => (x + eps * rnd.nextGaussian()).toFloat)

  private lazy val corpus = {
    import spark.implicits._
    val base = Seq.tabulate(80)(i => (i.toLong, randVec()))
    val nearDups = base.take(15).map { case (i, v) => (1000L + i, jitter(v, 0.03)) }
    (base ++ nearDups).toDF("vec_id", "embedding")
  }

  test("two-phase topKPerQuery == naive single-window rank") {
    import org.apache.spark.sql.expressions.Window
    import spark.implicits._
    val scored = Seq.tabulate(500) { i =>
      (i % 5L, i.toLong, rnd.nextDouble())
    }.toDF("query_id", "neighbor_id", "cos").repartition(7)
    val got = Similarity.topKPerQuery(scored, 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(3))).toSet
    val w = Window.partitionBy("query_id").orderBy(col("cos").desc, col("neighbor_id"))
    val want = scored.withColumn("rk", row_number().over(w)).where(col("rk") <= 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(3))).toSet
    assert(got == want)
  }

  test("bruteForceTopK: neighbors are the true exact top-k") {
    val res = Similarity.bruteForceTopK(corpus, corpus.where(col("vec_id") < 3), "vec_id", "embedding", 5)
    val rows = res.collect()
    assert(rows.length == 15)
    // every query's rank-1 neighbor of a planted base vector is its near-dup
    val top1 = rows.filter(_.getAs[Int]("rk") == 1).map(r => r.getAs[Long]("query_id") -> r.getAs[Long]("neighbor_id")).toMap
    (0L until 3L).foreach(q => assert(top1(q) == 1000L + q))
  }

  test("exactCosineSelfJoin == brute-force pair enumeration") {
    val grid = Similarity.exactCosineSelfJoin(corpus, "vec_id", "embedding", 0.9, blocks = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // brute force via crossJoin
    val a = corpus.select(col("vec_id").as("ia"), col("embedding").as("va"))
    val b = corpus.select(col("vec_id").as("ib"), col("embedding").as("vb"))
    val bf = a.crossJoin(b).where(col("ia") < col("ib"))
      .withColumn("cos", Similarity.cosine(col("va"), col("vb")))
      .where(col("cos") >= 0.9)
      .select("ia", "ib")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(grid == bf)
    assert(bf.size >= 15) // the planted near-dups are all ≥ 0.9
  }

  test("bandChunks kernel == shiftright band windows of signSketch (wide-path parity)") {
    val (numBands, bandBits) = (10, 6)
    val mask = (1L << bandBits) - 1
    val rows = corpus.select(col("vec_id"),
        Similarity.signSketch(col("embedding"), numBands * bandBits, dim).as("sk"),
        Similarity.bandChunksSketch(col("embedding"), numBands, bandBits, dim).as("chunks"))
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val sk = r.getLong(1)
      val chunks = r.getAs[scala.collection.Seq[Long]](2)
      assert(chunks.length == numBands)
      (0 until numBands).foreach { b =>
        assert(chunks(b) == ((sk >>> (b * bandBits)) & mask),
          s"vec ${r.getLong(0)} band $b: chunk ${chunks(b)} != sketch window")
      }
    }
  }

  test("adaptiveBandPlan: caller plan is a floor; bits track load; bands hold predicted recall") {
    import Similarity.adaptiveBandPlan
    // small corpora: exactly the caller's plan, any threshold
    assert(adaptiveBandPlan(2000, 0.3, 10, 6, 1) == ((10, 6)))
    assert(adaptiveBandPlan(500, 0.9, 10, 6, 1) == ((10, 6)))
    assert(adaptiveBandPlan(0, 0.9, 10, 6, 1) == ((10, 6)))
    // load tracking: bits = ceil(log2(n / 64)) once past the floor
    assert(adaptiveBandPlan(64L * 256, 0.9, 10, 6, 1)._2 == 8)
    assert(adaptiveBandPlan(64L * 256 + 1, 0.9, 10, 6, 1)._2 == 9)
    assert(adaptiveBandPlan(64L * 1024, 0.9, 10, 6, 1)._2 == 10)
    // near-dup threshold: band growth is gentle (never near the cap
    // at realistic sizes); broad threshold: bands grow faster (the
    // LSH-exponent tradeoff) but recall is HELD, not silently dropped
    val (bandsProd, bitsProd) = adaptiveBandPlan(64000, 0.9, 10, 6, 1)
    assert(bitsProd == 10 && bandsProd >= 10 && bandsProd <= 16, s"($bandsProd, $bitsProd)")
    val (bandsBroad, bitsBroad) = adaptiveBandPlan(64000, 0.3, 10, 6, 1)
    assert(bitsBroad == 10 && bandsBroad > bandsProd && bandsBroad <= 64,
      s"($bandsBroad, $bitsBroad)")
    // monotone: more data never shrinks the plan
    val (b1, w1) = adaptiveBandPlan(16000, 0.3, 10, 6, 1)
    assert(w1 <= bitsBroad && b1 <= bandsBroad)
    // bands cap at 64 (bounded cost at extreme breadth)
    assert(adaptiveBandPlan(100000000L, 0.1, 10, 6, 1)._1 <= 64)
  }

  test("hamPrefilter: engaged at near-dup thresholds, disengaged at broad ones") {
    import Similarity.hamPrefilter
    // (10, 6) sketch, minCos 0.9: mean ham 60·0.144 ≈ 8.6, +4σ ≈ 19.5
    val prod = hamPrefilter(10, 6, 0.9)
    assert(prod.exists(t => t >= 15 && t <= 24), s"got $prod")
    // q58's shipped broad threshold: sketch Hamming cannot separate —
    // the prefilter must NOT engage (plan stays the sealed slim one)
    assert(hamPrefilter(10, 6, 0.3).isEmpty)
    assert(hamPrefilter(10, 6, 0.4).isEmpty)
    // wide plans keep the separation at near-dup thresholds
    assert(hamPrefilter(10, 10, 0.9).isDefined)
    assert(hamPrefilter(25, 20, 0.9).isDefined)
  }

  test("hammingBits kernel == driver-side popcount over chunk arrays") {
    import spark.implicits._
    import graft.functions.GraftKernels
    val rows = Seq(
      (Seq(0L, 0L), Seq(0L, 0L)),
      (Seq(-1L, 0L), Seq(0L, -1L)),
      (Seq(0x5555555555555555L, 123L), Seq(0xAAAAAAAAAAAAAAAAL, 124L)))
      .toDF("a", "b")
      .select(col("a"), col("b"), GraftKernels.hammingBitsCol(col("a"), col("b")).as("h"))
      .collect()
    rows.foreach { r =>
      val a = r.getAs[scala.collection.Seq[Long]](0)
      val b = r.getAs[scala.collection.Seq[Long]](1)
      val want = a.zip(b).map { case (x, y) => java.lang.Long.bitCount(x ^ y) }.sum
      assert(r.getInt(2) == want)
    }
  }

  test("LSH near-dup pairs: wide adaptive plan (total bits > 64) still finds planted twins") {
    // corpusSize hint forces the wide path on the small test corpus:
    // bits = ceil(log2(2^20)) = 20, bands >= 10 → total bits >= 200
    val planted = (0L until 15L).map(i => (i, 1000L + i)).toSet
    val got = Similarity.embeddingNearDupPairsLsh(corpus, "vec_id", "embedding",
      dim, minCos = 0.9, numBands = 10, bandBits = 6,
      corpusSize = Some(64L << 20))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = planted.count(got.contains).toDouble / planted.size
    assert(recall >= 0.85, s"wide-plan LSH recall $recall")
    // no false positives (exact cosine verify is threshold-exact)
    val vecs = corpus.collect().map(r => r.getLong(0) ->
      r.getAs[scala.collection.Seq[Float]](1).map(_.toDouble).toArray).toMap
    def cosD(a: Array[Double], b: Array[Double]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0
      for (i <- a.indices) { d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i) }
      d / math.sqrt(na * nb)
    }
    got.foreach { case (x, y) =>
      assert(cosD(vecs(x), vecs(y)) >= 0.9 - 1e-9, s"false positive ($x,$y)")
    }
  }

  test("LSH near-dup pairs: adaptive = false pins the caller's exact geometry") {
    // with a corpus-size hint large enough that the adaptive plan would
    // widen the bands (the wide-plan case above), adaptive = false must
    // run the CALLER's (10, 6) geometry untouched — bit-identical output
    // to the default run at bench scale, where the adaptive plan leaves
    // the floors in place (r14 review: the flag had no caller and the
    // pinned-geometry branch could silently rot)
    val pinned = Similarity.embeddingNearDupPairsLsh(corpus, "vec_id", "embedding",
      dim, minCos = 0.9, numBands = 10, bandBits = 6,
      corpusSize = Some(64L << 20), adaptive = false)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val floors = Similarity.embeddingNearDupPairsLsh(corpus, "vec_id", "embedding",
      dim, minCos = 0.9, numBands = 10, bandBits = 6)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pinned == floors,
      s"adaptive=false diverged from the floor plan: ${pinned.size} vs ${floors.size} pairs")
    assert(pinned.nonEmpty)
  }

  test("LSH near-dup pairs: high recall on planted near-duplicates at 0.9") {
    val planted = (0L until 15L).map(i => (i, 1000L + i)).toSet
    val got = Similarity.embeddingNearDupPairsLsh(corpus, "vec_id", "embedding",
      dim, minCos = 0.9, numBands = 10, bandBits = 6)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = planted.count(got.contains).toDouble / planted.size
    assert(recall >= 0.85, s"LSH recall $recall")
    // no false positives: every emitted pair must GENUINELY be ≥ 0.9,
    // verified by an independent driver-side cosine (the old assertion
    // `!(…) || got.contains(p)` over p ∈ got was a tautology)
    val vecs = corpus.collect().map(r => r.getLong(0) ->
      r.getAs[scala.collection.Seq[Float]](1).map(_.toDouble).toArray).toMap
    def cosD(a: Array[Double], b: Array[Double]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0
      for (i <- a.indices) { d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i) }
      d / math.sqrt(na * nb)
    }
    assert(got.nonEmpty)
    got.foreach { case (x, y) =>
      assert(cosD(vecs(x), vecs(y)) >= 0.9 - 1e-9, s"false positive ($x,$y)")
    }
  }

  test("LSH pairs under bucket capping == surviving-bucket oracle (capped first band must not drop a pair)") {
    import spark.implicits._
    // a boilerplate cluster: 20 jittered copies of one vector. Its
    // buckets blow past maxBucket in the bands where the jitter doesn't
    // flip a bit, and survive in bands where it splits the cluster —
    // exactly the skew that made first-matching-band emission lose pairs.
    val u = randVec()
    val boiler = Seq.tabulate(20)(i => (2000L + i, jitter(u, 0.02)))
    val skewed = {
      val base = Seq.tabulate(60)(i => (i.toLong, randVec()))
      (base ++ boiler).toDF("vec_id", "embedding")
    }
    val (numBands, bandBits, maxBucket, minCos) = (10, 6, 8, 0.9)
    // independent oracle: same sketches, plain Scala bucketing
    val rows = skewed.select(col("vec_id"),
        Similarity.signSketch(col("embedding"), numBands * bandBits, dim).as("sk"),
        col("embedding")).collect()
    val sk = rows.map(r => r.getLong(0) -> r.getLong(1)).toMap
    val vecs = rows.map(r => r.getLong(0) ->
      r.getAs[scala.collection.Seq[Float]](2).map(_.toDouble).toArray).toMap
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0
      for (i <- a.indices) { d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i) }
      d / math.sqrt(na * nb)
    }
    val mask = (1L << bandBits) - 1
    val buckets: Map[(Int, Long), Seq[Long]] = sk.keys.toSeq
      .flatMap(id => (0 until numBands).map(b => ((b, (sk(id) >> (b * bandBits)) & mask), id)))
      .groupBy(_._1).map { case (k, v) => k -> v.map(_._2) }
    val expected: Set[(Long, Long)] = buckets.values
      .filter(ids => ids.size >= 2 && ids.size <= maxBucket)
      .flatMap(ids => for (x <- ids; y <- ids if x < y) yield (x, y))
      .toSet
      .filter(p => cos(vecs(p._1), vecs(p._2)) >= minCos)
    assert(expected.nonEmpty, "oracle found no surviving pairs — corpus too uniform for the test")
    val got = Similarity.embeddingNearDupPairsLsh(skewed, "vec_id", "embedding",
      dim, minCos = minCos, numBands = numBands, bandBits = bandBits, maxBucket = maxBucket,
      probeBits = 0) // exact-band path pinned here; probing has its own oracle below
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == expected, s"missing: ${(expected -- got).take(5)} extra: ${(got -- expected).take(5)}")

    // ---- Hamming-1 multi-probe oracle on the SAME skewed corpus:
    // index side = exact buckets within the cap (size ≥ 1 — a 1-row
    // bucket is reachable by a neighbor's probe), probe side = exact
    // chunk plus each single-bit flip; a pair is a candidate when ANY
    // probe of one endpoint lands in the other's surviving bucket ----
    val idxBuckets: Map[(Int, Long), Seq[Long]] =
      buckets.filter { case (_, ids) => ids.size <= maxBucket }
    val expectedProbe: Set[(Long, Long)] = sk.keys.toSeq.flatMap { id =>
      (0 until numBands).flatMap { b =>
        val base = (sk(id) >> (b * bandBits)) & mask
        val probes = base +: (0 until bandBits).map(bit => base ^ (1L << bit))
        probes.flatMap(c => idxBuckets.getOrElse((b, c), Seq.empty))
          .filter(_ != id)
          .map(other => (math.min(id, other), math.max(id, other)))
      }
    }.toSet.filter(p => cos(vecs(p._1), vecs(p._2)) >= minCos)
    val gotProbe = Similarity.embeddingNearDupPairsLsh(skewed, "vec_id", "embedding",
      dim, minCos = minCos, numBands = numBands, bandBits = bandBits, maxBucket = maxBucket,
      probeBits = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(gotProbe == expectedProbe,
      s"missing: ${(expectedProbe -- gotProbe).take(5)} extra: ${(gotProbe -- expectedProbe).take(5)}")
    // probing only ADDS candidates over the exact-band path
    assert(expected.subsetOf(expectedProbe))
  }

  test("IVF top-k: planted near-dups recovered at rank 1, scores exact") {
    val queries = corpus.where(col("vec_id") < 5)
    val ivf = Similarity.ivfTopK(corpus, queries, "vec_id", "embedding", 5, dim,
      nCentroids = 16, nprobe = 8)
    val rows = ivf.collect()
    val bf = Similarity.bruteForceTopK(corpus, queries, "vec_id", "embedding", 5)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    // candidate scores are exact cosines (same kernel)
    rows.foreach { r =>
      bf.get((r.getLong(0), r.getLong(1))).foreach(c => assert(math.abs(c - r.getDouble(2)) < 1e-12))
    }
    // each query's jittered twin is cosine ≈1 → its cell == the query's
    // nearest cell, so rank 1 must find it even with few probes
    val top1 = rows.filter(_.getInt(3) == 1).map(r => r.getLong(0) -> r.getLong(1)).toMap
    (0L until 5L).foreach(q => assert(top1.get(q).contains(1000L + q), s"query $q top1=${top1.get(q)}"))
  }

  test("IVF with the sampled driver-local Lloyd quantizer recovers planted twins") {
    val cents = Similarity.trainCentroidsSampled(corpus, "vec_id", "embedding", k = 12, dim = dim)
    assert(cents.length == 12 * dim)
    val queries = corpus.where(col("vec_id") < 3)
    val ivf = Similarity.ivfTopK(corpus, queries, "vec_id", "embedding", 3, dim,
      nCentroids = 12, nprobe = 6, centroids = Some(cents))
    val top1 = ivf.collect().filter(_.getInt(3) == 1)
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    (0L until 3L).foreach(q => assert(top1.get(q).contains(1000L + q)))
    // deterministic: same corpus → bit-identical centroids
    assert(Similarity.trainCentroidsSampled(corpus, "vec_id", "embedding", k = 12, dim = dim)
      .sameElements(cents))
    // the sample cap: with maxTrainRows = n below the corpus size, rows
    // whose xxhash64(id) sorts after the n-th sampled row never reach
    // the sample, so adding them leaves the centroids bit-identical
    val n = 40
    val nth = corpus.select(xxhash64(col("vec_id")).as("h")).orderBy("h").limit(n)
      .agg(max("h")).head.getLong(0)
    val late = {
      import spark.implicits._
      val r = new scala.util.Random(5) // own stream: the shared rnd feeds later tests
      Seq.tabulate(200)(i => (5000L + i, Seq.fill(dim)(r.nextGaussian().toFloat)))
        .toDF("vec_id", "embedding").where(xxhash64(col("vec_id")) > nth)
    }
    assert(late.count() > 0)
    val capped = Similarity.trainCentroidsSampled(corpus, "vec_id", "embedding", k = 12, dim = dim,
      maxTrainRows = n)
    assert(Similarity.trainCentroidsSampled(corpus.unionByName(late), "vec_id", "embedding",
      k = 12, dim = dim, maxTrainRows = n).sameElements(capped))
  }

  test("IVF soft assignment: no duplicate pairs, recall >= hard assignment, scores exact") {
    val queries = corpus.where(col("vec_id") < 5)
    val exact = Similarity.bruteForceTopK(corpus, queries, "vec_id", "embedding", 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    def recallOf(assign: Int): Double = {
      val rows = Similarity.ivfTopK(corpus, queries, "vec_id", "embedding", 5, dim,
        nCentroids = 16, nprobe = 4, assignProbes = assign).collect()
      val pairs = rows.map(r => (r.getLong(0), r.getLong(1)))
      // soft assignment must not leak a pair into top-k twice (the dedup
      // exchange exists precisely for this)
      assert(pairs.distinct.length == pairs.length, s"duplicate pairs at assignProbes=$assign")
      // every query emits exactly k ranked rows 1..k
      rows.groupBy(_.getLong(0)).foreach { case (_, qs) =>
        assert(qs.map(_.getInt(3)).sorted.sameElements(1 to qs.length))
      }
      pairs.toSet.intersect(exact).size.toDouble / exact.size
    }
    // a border vector indexed in its runner-up cell can only ADD probed
    // candidates: soft assignment recall dominates hard assignment
    assert(recallOf(2) >= recallOf(1))
  }

  test("IVF-PQ soft assignment: no duplicate pairs, twins still rank 1") {
    val queries = corpus.where(col("vec_id") < 5)
    val rows = Similarity.ivfPqTopK(corpus, queries, "vec_id", "embedding",
        k = 5, dim = dim, m = 8, nCentroids = 16, nprobe = 4, refine = 6,
        assignProbes = 2)
      .collect()
    val pairs = rows.map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id")))
    assert(pairs.distinct.length == pairs.length, "duplicate (query, neighbor) through soft cells")
    val top1 = rows.filter(_.getAs[Int]("rk") == 1)
      .map(r => r.getAs[Long]("query_id") -> r.getAs[Long]("neighbor_id")).toMap
    (0L until 5L).foreach(q => assert(top1.get(q).contains(1000L + q), s"query $q twin lost"))
  }

  test("IVF with a spark.ml KMeans-trained quantizer recovers planted twins") {
    val cents = Similarity.trainCentroidsKMeans(corpus, "embedding", k = 12, dim = dim)
    assert(cents.length == 12 * dim)
    val queries = corpus.where(col("vec_id") < 3)
    val ivf = Similarity.ivfTopK(corpus, queries, "vec_id", "embedding", 3, dim,
      nCentroids = 12, nprobe = 6, centroids = Some(cents))
    val top1 = ivf.collect().filter(_.getInt(3) == 1)
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    (0L until 3L).foreach(q => assert(top1.get(q).contains(1000L + q)))
  }

  test("PQ top-k: planted twins at rank 1, shortlist recall vs exact, 16-byte codes") {
    import spark.implicits._
    val queries = corpus.where(col("vec_id") < 10)
    val exact = Similarity.bruteForceTopK(corpus, queries, "vec_id", "embedding", 5)
      .collect().map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"),
        r.getAs[Int]("rk"))).toSet
    val pq = Similarity.pqTopK(corpus, queries, "vec_id", "embedding", 5, dim, m = 8, refine = 6)
    val got = pq.collect().map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"),
      r.getAs[Int]("rk"))).toSet
    // each query's planted jittered twin (cos ≈ 0.999) must surface at rank 1 —
    // quantization error cannot reorder a near-identical vector out of the shortlist
    (0L until 10L).foreach { q =>
      assert(got.contains((q, 1000L + q, 1)), s"query $q twin not at rank 1")
    }
    // overall top-5 recall vs the exact baseline is high (re-rank is exact,
    // so misses can come only from ADC shortlist ordering)
    val recall = exact.count { case (q, n, _) =>
      got.exists(g => g._1 == q && g._2 == n) }.toDouble / exact.size
    assert(recall >= 0.8, s"PQ recall $recall")
    // the scan-side artifact is m bytes per vector — the 256×-at-dim-1024 story
    val cb = Similarity.trainPqCodebooks(corpus, "vec_id", "embedding", dim, m = 8)
    val codes = Similarity.pqEncode(corpus, "vec_id", "embedding", dim, 8, cb)
    assert(codes.collect().forall(_.getAs[Array[Byte]]("code").length == 8))
    // deterministic: re-encoding yields byte-identical codes
    val again = Similarity.pqEncode(corpus, "vec_id", "embedding", dim, 8, cb)
    val a = codes.collect().map(r => r.getLong(0) -> r.getAs[Array[Byte]](1).toSeq).toMap
    val b = again.collect().map(r => r.getLong(0) -> r.getAs[Array[Byte]](1).toSeq).toMap
    assert(a == b)
  }

  test("IVF-PQ top-k: planted twins at rank 1 through the layered index") {
    val queries = corpus.where(col("vec_id") < 10)
    val got = Similarity.ivfPqTopK(corpus, queries, "vec_id", "embedding",
        k = 5, dim = dim, m = 8, nCentroids = 16, nprobe = 8, refine = 6)
      .collect().map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"),
        r.getAs[Int]("rk"))).toSet
    // a near-identical twin lands in the query's own coarse cell and its
    // ADC score dominates — the layered index must surface it at rank 1
    (0L until 10L).foreach { q =>
      assert(got.contains((q, 1000L + q, 1)), s"query $q twin not at rank 1 through IVF-PQ")
    }
    // shortlist recall vs exact top-5 (cell misses + quantization bound it)
    val exact = Similarity.bruteForceTopK(corpus, queries, "vec_id", "embedding", 5)
      .collect().map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))).toSet
    val recall = exact.count { case (q, n) => got.exists(g => g._1 == q && g._2 == n) }
      .toDouble / exact.size
    assert(recall >= 0.7, s"IVF-PQ recall $recall")
  }

  test("corrupt embeddings (zero-norm, empty, truncated) score 0.0 and never rank or pair") {
    import spark.implicits._
    val dirty = corpus.union(Seq(
      (9001L, Seq.fill(dim)(0.0f)),          // zero-norm
      (9002L, Seq.empty[Float]),             // empty array
      (9003L, Seq(1.0f, 2.0f))               // truncated
    ).toDF("vec_id", "embedding"))
    val queries = dirty.where(col("vec_id") < 5)
    val top = Similarity.bruteForceTopK(dirty, queries, "vec_id", "embedding", 5).collect()
    // nonEmpty guards: an operator regression that returned ZERO rows
    // would make every forall below vacuously true
    assert(top.length == 25) // 5 queries × top-5
    // NaN would rank ABOVE every real score; 0.0 ranks below any genuine
    // match — no corrupt id may appear in any top-5
    assert(top.forall(r => r.getAs[Long]("neighbor_id") < 9000L))
    assert(top.forall(r => !r.getAs[Double]("cos").isNaN))
    // and the near-dup pair filter (cos >= minCos) must not pass them
    val pairs = Similarity.embeddingNearDupPairsLsh(dirty, "vec_id", "embedding",
      dim, minCos = 0.9).collect()
    assert(pairs.nonEmpty) // the planted near-dups must still surface
    assert(pairs.forall(r => r.getAs[Long]("id_a") < 9000L && r.getAs[Long]("id_b") < 9000L))
    // IVF cell assignment survives the zero vector instead of AIOOBE
    val ivf = Similarity.ivfTopK(dirty, queries, "vec_id", "embedding", 5, dim).collect()
    assert(ivf.nonEmpty)
    assert(ivf.forall(r => r.getAs[Long]("neighbor_id") < 9000L))
  }

  test("salted join == plain join (skew-safe shuffle spread)") {
    import spark.implicits._
    val fact = Seq.tabulate(300)(i => (i.toLong, (i % 3).toLong, i * 1.5)) // hot keys
      .toDF("row_id", "k", "v")
    val dim2 = Seq((0L, "a"), (1L, "b"), (2L, "c"), (9L, "never")).toDF("k", "label")
    val salted = graft.operators.Joins.saltedJoin(fact, dim2, "k", col("row_id"), salt = 5)
      .select("row_id", "k", "label")
    val plain = fact.join(dim2, Seq("k")).select("row_id", "k", "label")
    assert(salted.exceptAll(plain).isEmpty && plain.exceptAll(salted).isEmpty)
  }

  test("corrupt vectors never poison top-k: null vector dropped, NaN element never rank-1") {
    import spark.implicits._
    val base = corpus.where(col("vec_id") < 100)
    // one corpus row with a NaN element and one with a null vector
    val nanVec = Array.fill(dim)(0.5f); nanVec(3) = Float.NaN
    val dirty = base.unionByName(
      Seq((9000L, nanVec.toSeq), (9001L, null.asInstanceOf[Seq[Float]]))
        .toDF("vec_id", "embedding"))
    val queries = corpus.where(col("vec_id") < 2)
    val got = Similarity.bruteForceTopK(dirty, queries, "vec_id", "embedding", 5).collect()
    // the job survives (null would NPE the primitive decode) and the
    // NaN vector is never anyone's neighbor (NaN sorts ABOVE every real
    // cos in a desc window — it would otherwise be rank 1 everywhere)
    assert(got.nonEmpty)
    assert(!got.exists(_.getLong(1) == 9000L))
    assert(!got.exists(_.getLong(1) == 9001L))
    // PQ paths likewise survive null vectors
    val pq = Similarity.pqTopK(dirty, queries, "vec_id", "embedding", 3, dim, m = 8)
    assert(pq.where(col("neighbor_id") === 9001L).count() == 0)
  }

  test("k <= 0 and maxBucket <= 0 are rejected loudly, not silently empty") {
    val queries = corpus.where(col("vec_id") < 2)
    intercept[IllegalArgumentException](
      Similarity.bruteForceTopK(corpus, queries, "vec_id", "embedding", 0))
    intercept[IllegalArgumentException](
      Similarity.lshTopK(corpus, queries, "vec_id", "embedding", 0, dim))
    intercept[IllegalArgumentException](
      Similarity.lshTopK(corpus, queries, "vec_id", "embedding", 3, dim, maxBucket = 0))
    intercept[IllegalArgumentException](
      Similarity.ivfTopK(corpus, queries, "vec_id", "embedding", 0, dim))
    intercept[IllegalArgumentException](
      Similarity.embeddingNearDupPairsLsh(corpus, "vec_id", "embedding", dim, maxBucket = 0))
    intercept[IllegalArgumentException](
      graft.operators.Dedup.minhashLsh(
        spark.emptyDataFrame.selectExpr("'' AS text", "0L AS doc_id"), "text", "doc_id",
        maxBucket = 0))
  }

  test("bandBits = 64 is rejected: the mod-64 shift would collapse every chunk to bucket 0") {
    val queries = corpus.where(col("vec_id") < 2)
    intercept[IllegalArgumentException](
      Similarity.lshTopK(corpus, queries, "vec_id", "embedding", 3, dim,
        numBands = 1, bandBits = 64))
    intercept[IllegalArgumentException](
      Similarity.embeddingNearDupPairsLsh(corpus, "vec_id", "embedding", dim,
        numBands = 1, bandBits = 64))
    // the combined width gate fails with the CALLER's parameters, not
    // signSketch's internal numBits message
    val wide = intercept[IllegalArgumentException](
      Similarity.lshTopK(corpus, corpus.where(col("vec_id") < 2), "vec_id", "embedding",
        3, dim, numBands = 16, bandBits = 6))
    assert(wide.getMessage.contains("numBands * bandBits"))
    // blocks <= 0 must fail loudly, not return a silently empty
    // "exact baseline"
    intercept[IllegalArgumentException](
      Similarity.exactCosineSelfJoin(corpus, "vec_id", "embedding", 0.9, blocks = 0))
  }

  test("lshTopK returns a subset of brute-force candidates with exact scores") {
    val queries = corpus.where(col("vec_id") < 2)
    val bf = Similarity.bruteForceTopK(corpus, queries, "vec_id", "embedding", 3)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    val lsh = Similarity.lshTopK(corpus, queries, "vec_id", "embedding", 3, dim,
      numBands = 8, bandBits = 4).collect()
    // an empty result (or one disjoint from the exact top-3) would have
    // made the old foreach-over-Option run zero assertions
    assert(lsh.nonEmpty)
    // each query's planted twin shares every sketch band → it must be
    // found, at the exact brute-force score
    (0L until 2L).foreach { q =>
      val twin = lsh.find(r => r.getLong(0) == q && r.getLong(1) == 1000L + q)
      assert(twin.isDefined, s"query $q twin missing from lshTopK")
      assert(math.abs(bf((q, 1000L + q)) - twin.get.getDouble(2)) < 1e-12)
    }
    // and every LSH hit that IS an exact-top-3 pair carries the exact score
    lsh.foreach { r =>
      val key = (r.getLong(0), r.getLong(1))
      bf.get(key).foreach(c => assert(math.abs(c - r.getDouble(2)) < 1e-12))
    }
  }

  test("query-side broadcast hint is gated on estimated size (8 GB hard-limit guard)") {
    import org.apache.spark.sql.catalyst.plans.logical.ResolvedHint
    def hinted(df: org.apache.spark.sql.DataFrame): Boolean =
      // analyzed, not optimized: a hint not yet attached to a join is
      // ELIDED by the optimizer, which would make both cases look bare
      Similarity.broadcastIfBounded(df).queryExecution.analyzed
        .collectFirst { case h: ResolvedHint if h.hints.strategy.isDefined => h }.isDefined
    // a small frame keeps the hint — losing it would re-open the
    // sort-merge fallback that caps corpus parallelism at key count
    assert(hinted(spark.range(100).toDF("query_id")))
    // a frame whose plan stats exceed the ceiling must NOT be hinted:
    // range stats are exact (8 bytes/row), so 2^28 rows ≈ 2 GiB > 1 GiB
    assert(!hinted(spark.range(1L << 28).toDF("query_id")))
  }

  test("r16 review: the broadcast gate accounts for a declared explode fan-out") {
    import org.apache.spark.sql.catalyst.plans.logical.ResolvedHint
    def hinted(df: org.apache.spark.sql.DataFrame, fanout: Long): Boolean =
      Similarity.broadcastIfBounded(df, fanout).queryExecution.analyzed
        .collectFirst { case h: ResolvedHint if h.hints.strategy.isDefined => h }.isDefined
    // Spark's stats visitor passes the child size through Generate
    // unchanged, so the hinting call sites pass the known fan-out: an
    // ~8 MiB query frame exploded ×4096 materializes ~32 GiB — past
    // the 8 GB broadcast hard limit the gate exists to respect
    val f = spark.range(1L << 20).toDF("query_id")
    assert(hinted(f, 1L))
    assert(!hinted(f, 1L << 12))
  }

  test("r16 review: the exact baseline never fabricates self-pairs from null-id rows") {
    import spark.implicits._
    // a null-id vector identical to many real ids: a CROSS-block pair
    // reaches the output through the `ba < bb` arm with the id guard
    // never consulted, and least/greatest skip the null — fabricating
    // degenerate (x, x) rows in the exact baseline pre-fix
    val base = Seq.fill(dim)(1.0f)
    val rows = (1L to 20L).map(i => (Option(i), base)) :+ ((Option.empty[Long], base))
    val df = rows.toDF("vec_id", "embedding")
    val out = Similarity.exactCosineSelfJoin(df, "vec_id", "embedding", 0.9, blocks = 5)
      .collect()
    val selfPairs = out.filter(r => r.getLong(0) == r.getLong(1))
    assert(selfPairs.isEmpty, selfPairs.mkString(","))
    // the 20 real identical vectors still pair exhaustively
    assert(out.length == 20 * 19 / 2, out.length.toString)
  }

  test("r16 review: lshTopK tolerates null-vector rows; non-finite PQ queries drop upfront") {
    import spark.implicits._
    val withNull = corpus.unionByName(
      Seq((5000L, Option.empty[Seq[Float]])).toDF("vec_id", "embedding"))
    val clean = Similarity.lshTopK(corpus, corpus.where(col("vec_id") < 3),
      "vec_id", "embedding", k = 3, dim = dim).collect().map(_.toSeq).toSet
    val dirty = Similarity.lshTopK(withNull, withNull.where(col("vec_id") < 3),
      "vec_id", "embedding", k = 3, dim = dim).collect().map(_.toSeq).toSet
    assert(clean == dirty, "a null embedding row must not change lshTopK's output")
    // one NaN query: dropped (the documented corrupt-query rule, now
    // BEFORE the code scan), the healthy query still answered
    val nanVec = Seq.fill(dim)(Float.NaN)
    val qs = Seq((0L, Seq.fill(dim)(1.0f)), (99L, nanVec)).toDF("vec_id", "embedding")
    val pq = Similarity.pqTopK(corpus, qs, "vec_id", "embedding",
      k = 2, dim = dim, m = 4).collect()
    assert(pq.forall(_.getAs[Long]("query_id") == 0L), pq.mkString(","))
    assert(pq.nonEmpty)
  }

  test("parallel Lloyd == sequential reference, bit for bit (r17 optimization)") {
    // the r17 optimization runs lloyd's ASSIGNMENT phase data-parallel;
    // this reference replays the ORIGINAL sequential loop verbatim, so
    // any schedule-dependence (racy flag, reordered float adds, tie
    // flips) in the parallel version shows up as a byte diff here
    def seqLloyd(sample: Array[Array[Double]], k: Int, dim: Int, maxIter: Int): Array[Double] = {
      val n = sample.length
      val rnd = new java.util.Random(42)
      val cents = Array.tabulate(k)(i =>
        sample(if (n >= k) i * (n / k) else rnd.nextInt(n)).clone())
      val assign = new Array[Int](n)
      var iter = 0
      var moved = true
      while (iter < maxIter && moved) {
        moved = false
        var i = 0
        while (i < n) {
          var best = 0; var bestD = Double.MaxValue
          var c = 0
          while (c < k) {
            val cv = cents(c); val v = sample(i)
            var d = 0.0; var j = 0
            while (j < dim && d < bestD) { val t = v(j) - cv(j); d += t * t; j += 1 }
            if (d < bestD) { bestD = d; best = c }
            c += 1
          }
          if (assign(i) != best || iter == 0) { assign(i) = best; moved = true }
          i += 1
        }
        val sums = Array.fill(k)(new Array[Double](dim))
        val cnt = new Array[Int](k)
        i = 0
        while (i < n) {
          val c = assign(i); cnt(c) += 1
          val v = sample(i); val s = sums(c)
          var j = 0
          while (j < dim) { s(j) += v(j); j += 1 }
          i += 1
        }
        var c = 0
        while (c < k) {
          if (cnt(c) > 0) {
            var j = 0
            while (j < dim) { cents(c)(j) = sums(c)(j) / cnt(c); j += 1 }
          } else cents(c) = sample(rnd.nextInt(n)).clone()
          c += 1
        }
        iter += 1
      }
      cents.flatten
    }
    val r = new scala.util.Random(7)
    val sample = Array.fill(800)(Array.fill(8)(r.nextGaussian()))
    // duplicated points force assignment TIES (lowest index must win on
    // every schedule); k > distinct clusters exercises the reseed arm
    val withTies = sample ++ sample.take(50)
    for (k <- Seq(4, 16, 64)) {
      val want = seqLloyd(withTies.map(_.clone()), k, 8, 10)
      val got = Similarity.lloyd(withTies.map(_.clone()), k, 8, 10)
      assert(java.util.Arrays.equals(got, want), s"parallel lloyd diverged at k=$k")
    }
  }
}
