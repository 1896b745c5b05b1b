package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.GraftKernels

/** Similarity search over an embedding column (`array<float>`).
  *
  *  - `bruteForceTopK`: exact cosine top-k — the correctness baseline.
  *    Broadcast the (small) query set, scan the corpus once; top-k is
  *    TWO-phase: local bounded-heap top-k per input partition (narrow,
  *    no shuffle), then a global rank over the ≤ q·k·P survivors — no
  *    single task ever sees more than its partition's candidates.
  *  - `lshTopK`: random-hyperplane LSH bucketing — the ANN scale path.
  *    Sign-bit sketch → bucket join (hot buckets capped) → exact cosine
  *    only within buckets, then the same two-phase top-k.
  *  - `exactCosineSelfJoin`: exact all-pairs ≥ minCos via a B×B block
  *    grid — every cell is an independent bounded task, so the O(n²)
  *    work (inherent to exact similarity join) spreads evenly with no
  *    hot partition. For web-scale near-dup (minCos ≥ .9) use
  *    `embeddingNearDupPairsLsh` instead.
  *
  * Per-pair math (cosine, sign sketches) runs in native codegen'd
  * kernels (GraftKernels), not interpreted HOF trees.
  */
object Similarity {

  /** Hard ceiling for the EXPLICIT query-side broadcast hints below —
    * well past the auto-broadcast threshold (the hint exists precisely
    * because a 100 MB query batch is still worth broadcasting when the
    * alternative caps corpus parallelism at the join-key count) but
    * safely under Spark's 8 GB broadcast hard limit / driver heap. */
  private val MaxQueryBroadcastBytes = BigInt(1L << 30)

  /** Broadcast hint gated on the planner's size estimate: the ANN query
    * side is arbitrary caller input (corpus-as-queries all-pairs use is
    * legitimate), and an unconditional hint on a multi-GB frame fails
    * at the broadcast hard limit where the planner-chosen join would
    * complete. Estimation is driver-side plan stats — no job runs. An
    * unknown/huge estimate falls back to the unhinted join: the
    * low-cardinality-key parallelism cap is a slowdown, the 8 GB
    * broadcast limit is an abort. */
  /** Size-gated broadcast hint. `fanout` multiplies the plan estimate
    * before the gate: Spark's stats visitor passes a child's
    * sizeInBytes through Generate unchanged, so a POST-explode frame's
    * estimate ignores the fan-out entirely — a query frame whose
    * pre-explode estimate passed the 1 GB gate materialized
    * ~(bands·probes)× larger and aborted at the 8 GB broadcast hard
    * limit, the exact failure the gate exists to prevent (r16 review).
    * Callers hinting an exploded frame pass the known multiplier. */
  private[graft] def broadcastIfBounded(df: DataFrame, fanout: Long = 1L): DataFrame = {
    val est = try df.queryExecution.optimizedPlan.stats.sizeInBytes
              catch { case scala.util.control.NonFatal(_) => BigInt(-1) }
    if (est >= 0 && est * fanout <= MaxQueryBroadcastBytes) broadcast(df) else df
  }

  /** cosine(a, b); arrays are array<float> (`floatElems=false` for
    * array<double>). Native kernel — single fused loop per pair. */
  def cosine(a: Column, b: Column, floatElems: Boolean = true): Column =
    GraftKernels.cosineCol(a, b, floatElems)

  /** Interpreted HOF formulation kept ONLY as the parity-test oracle for
    * the kernel (KernelParitySpec). */
  private[graft] def cosineHof(a: Column, b: Column): Column = {
    val dot = aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0d), (acc, v) => acc + v)
    val na = sqrt(aggregate(a, lit(0.0d), (acc, v) => acc + v.cast("double") * v.cast("double")))
    val nb = sqrt(aggregate(b, lit(0.0d), (acc, v) => acc + v.cast("double") * v.cast("double")))
    dot / (na * nb)
  }

  /** Fixed-seed Rademacher hyperplanes, flattened row-major
    * (numBits × dim) — identical literals in every task. */
  private[graft] def planes(numBits: Int, dim: Int): Array[Double] = {
    val rnd = new java.util.Random(42)
    Array.fill(numBits * dim)(if (rnd.nextBoolean()) 1.0d else -1.0d)
  }

  /** Per-band LSH chunks over the SAME fixed-seed hyperplanes as
    * signSketch (band b bit i = plane b*bandBits+i) — but with no
    * 64-bit total bound, the representation the wide-band adaptive
    * path needs. For numBands*bandBits <= 64 this equals the
    * shiftright band windows of signSketch bit-for-bit. */
  private[graft] def bandChunksSketch(vec: Column, numBands: Int, bandBits: Int,
                                      dim: Int, floatElems: Boolean = true): Column =
    GraftKernels.bandChunksCol(vec, planes(numBands * bandBits, dim),
      numBands, bandBits, dim, floatElems)

  /** Adaptive LSH band plan for `embeddingNearDupPairsLsh`. The fixed
    * (bands, bits) default saturates at scale: 2^bits buckets per band
    * means expected bucket load n/2^bits grows LINEARLY with the
    * corpus, so candidate generation is quadratic until the hot-bucket
    * cap binds — and past that the cap drops ever-more of the corpus
    * (at ~67M vectors with 6-bit bands EVERY bucket exceeds a 1024 cap
    * and recall silently collapses to zero). The plan instead:
    *
    *  - widens bands so expected load stays ~`targetLoad`:
    *    bits = ceil(log2(n / targetLoad)) — candidate volume per probe
    *    row is then corpus-size-independent;
    *  - adds bands to hold the recall the CALLER'S OWN plan predicts
    *    at the requested threshold: a band of b bits matches with
    *    probability h(b) = p^b + b·p^(b-1)(1−p) under Hamming-1
    *    probing (p = 1 − acos(minCos)/π), so the target is
    *    R = 1 − (1 − h(baseBits))^baseBands (clamped at 0.995 — past
    *    ~3 nines the implied band count is noise chasing) and the plan
    *    takes the smallest band count with 1 − (1−h(bits))^bands ≥ R.
    *    The model checks out against measurement: it predicts 0.926
    *    for the shipped q58 plan at minCos 0.3, vs 0.938 measured.
    *
    * Caller values are FLOORS — at small corpora (n ≤ targetLoad·2^baseBits)
    * the plan is exactly (baseBands, baseBits), so test/bench-scale
    * behavior and the pinned recall gates are unchanged. Bands cap at
    * 64: at near-dup thresholds (minCos ≥ 0.9, p ≈ 0.86) band growth
    * is gentle (~N^0.22) and the cap is never near; at broad
    * thresholds the classic LSH exponent dominates (p ≈ 0.6 →
    * ~N^0.74 bands) and the cap bounds cost at the price of recall —
    * the honest tradeoff of a sign-sketch family, vs the fixed plan
    * whose recall collapses to ZERO once every bucket exceeds the cap
    * (~67M vectors at 6 bits). */
  private[graft] def adaptiveBandPlan(n: Long, minCos: Double, baseBands: Int,
                                      baseBits: Int, probeBits: Int,
                                      targetLoad: Int = 64): (Int, Int) = {
    require(n >= 0 && targetLoad >= 1)
    val p = 1.0 - math.acos(math.max(-1.0, math.min(1.0, minCos))) / math.Pi
    val wantBits =
      if (n <= targetLoad) 1
      else 64 - java.lang.Long.numberOfLeadingZeros((n - 1) / targetLoad)
    val bits = math.max(baseBits, math.min(30, wantBits))
    if (bits == baseBits) (baseBands, baseBits) // exact floor — no fp drift
    else {
      def h(b: Int): Double = {
        val exact = math.pow(p, b)
        if (probeBits >= 1) exact + b * math.pow(p, b - 1) * (1 - p) else exact
      }
      val target = math.min(0.995, 1.0 - math.pow(1.0 - h(baseBits), baseBands))
      val hw = h(bits)
      val needed =
        if (hw >= 1.0 - 1e-12) 1
        else if (hw <= 1e-12) 64
        else math.ceil(math.log(1.0 - target) / math.log(1.0 - hw)).toInt
      (math.max(baseBands, math.min(64, needed)), bits)
    }
  }

  /** Sketch-Hamming prefilter decision for `embeddingNearDupPairsLsh`:
    * Some(thresholdBits) when the sketch can statistically separate
    * pairs at `minCos` from noise collisions, else None.
    *
    * A pair at angle θ disagrees on each sketch bit with probability
    * θ/π, so its Hamming distance over totalBits is ~Binomial; the
    * threshold sits 4σ above the mean at θ = acos(minCos) — a true
    * pair is dropped with probability ≤ ~3e-5. A NOISE pair (the
    * near-orthogonal bucket collisions that dominate candidate volume
    * at scale) sits near totalBits/2 — minus one band's worth of bits
    * (candidates collided in ≥ 1 band by construction). The filter
    * engages only when the threshold clears that biased noise floor by
    * a 3%-of-bits margin: at near-dup thresholds (minCos ≥ ~0.7) it
    * kills ≥ 99.99% of noise BEFORE the pair-dedup exchange and the
    * vector fetch; at broad thresholds (e.g. q58's shipped 0.3) it
    * cannot discriminate and the plan is unchanged. */
  private[graft] def hamPrefilter(effBands: Int, effBits: Int, minCos: Double): Option[Int] = {
    val totalBits = effBands * effBits
    val f = math.acos(math.max(-1.0, math.min(1.0, minCos))) / math.Pi
    val thr = totalBits * f + 4.0 * math.sqrt(totalBits * f * (1.0 - f))
    val noiseFloor = 0.5 * (totalBits - effBits)
    if (thr <= noiseFloor - 0.03 * totalBits) Some(math.ceil(thr).toInt) else None
  }

  /** Random-hyperplane sign sketch (native kernel). The sketch is one
    * long, so at most 64 bits — requesting more would silently alias
    * band windows through Java's mod-64 shift semantics. */
  def signSketch(vec: Column, numBits: Int, dim: Int, floatElems: Boolean = true): Column = {
    require(numBits >= 1 && numBits <= 64, s"numBits must be in [1, 64], got $numBits")
    GraftKernels.signSketchCol(vec, planes(numBits, dim), numBits, dim, floatElems)
  }

  /** Interpreted HOF sketch — parity-test oracle only. */
  private[graft] def signSketchHof(vec: Column, numBits: Int, dim: Int): Column = {
    val ps = planes(numBits, dim)
    val bits = (0 until numBits).map { b =>
      val plane = typedLit(ps.slice(b * dim, (b + 1) * dim).toSeq)
      val proj = aggregate(zip_with(vec, plane, (x, p) => x * p), lit(0.0d), (acc, v) => acc + v)
      when(proj > 0, lit(1L << b)).otherwise(0L)
    }
    bits.reduce(_ + _)
  }

  /** Two-phase distributed top-k: per-partition bounded heaps (narrow —
    * each task emits ≤ queries·k rows), then a global rank over the
    * small merged set. Replaces the single-task-per-query
    * `Window.partitionBy(query_id)` rank that cannot scale.
    * Input needs query_id/neighbor_id (long) and cos (double); ties
    * break toward the smaller neighbor_id, matching the rank ordering.
    */
  def topKPerQuery(scored: DataFrame, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val spark = scored.sparkSession
    import spark.implicits._
    // null cos (null vector via propagateNull) would NPE the primitive
    // decode below; NaN cos (a NaN/Inf vector element) is worse — the
    // local heap ranks it WORST but the global window's desc sort ranks
    // NaN ABOVE every real score, so one corrupt corpus vector would
    // become every query's rank-1 neighbor, partition-dependently
    // try_cast + null drop on the IDS too: a non-numeric string id
    // passes the operators' pre-cast self-match filters, and a plain
    // cast would turn it into a null that NPEs the primitive tuple
    // decode mid-job (legacy mode) or aborts under ANSI — degrade like
    // the PQ paths, don't throw (r11 review)
    val ds = scored
      .where(col("cos").isNotNull && !isnan(col("cos")))
      .select(
        expr("try_cast(query_id AS LONG)").as("query_id"),
        expr("try_cast(neighbor_id AS LONG)").as("neighbor_id"),
        col("cos").cast("double").as("cos"))
      .where(col("query_id").isNotNull && col("neighbor_id").isNotNull)
      .as[(Long, Long, Double)]
    // min-heap head = worst kept candidate (lowest cos, then largest id)
    val local = ds.mapPartitions { it =>
      val heaps = scala.collection.mutable.Map[Long, scala.collection.mutable.PriorityQueue[(Double, Long)]]()
      it.foreach { case (q, n, c) =>
        val h = heaps.getOrElseUpdate(q,
          new scala.collection.mutable.PriorityQueue[(Double, Long)]()(adcWorstFirst))
        h.enqueue((c, n))
        if (h.size > k) h.dequeue()
      }
      heaps.iterator.flatMap { case (q, h) => h.iterator.map { case (c, n) => (q, n, c) } }
    }.toDF("query_id", "neighbor_id", "cos")
    val w = Window.partitionBy(col("query_id")).orderBy(col("cos").desc, col("neighbor_id"))
    local.withColumn("rk", row_number().over(w)).where(col("rk") <= k)
      .select(col("query_id"), col("neighbor_id"), col("cos"), col("rk"))
  }

  /** Exact top-k neighbors for each query vector: broadcast queries,
    * one corpus scan, two-phase top-k. Self-matches excluded. */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame, idCol: String, vecCol: String, k: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k") // k=0 silently empties every query
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"))
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("cv"))
    // size-gated hint (not an unconditional broadcast): corpus-as-queries
    // all-pairs use is legitimate caller input, and a query frame past
    // Spark's 8 GB broadcast hard limit must degrade to an unhinted
    // join, not abort the exact baseline (r11 review)
    val scored = c.crossJoin(broadcastIfBounded(q))
      .where(col("neighbor_id") =!= col("query_id"))
      .withColumn("cos", cosine(col("qv"), col("cv")))
    topKPerQuery(scored.select("query_id", "neighbor_id", "cos"), k)
  }

  /** LSH ANN: bucket by sketch bands (hot corpus buckets > maxBucket
    * dropped — boilerplate-cluster noise, recall cost measured in
    * SimilaritySpec), exact cosine within buckets, two-phase top-k.
    * Recall < 1 by construction; numBands × bandBits trades recall vs
    * candidate count.
    *
    * `probeHamming` (default 2) additionally probes, PER QUERY band,
    * every bucket within that Hamming distance of the query's chunk —
    * the standard multi-probe LSH move: mid-cosine neighbors that land
    * a bit or two off still surface. Measured on the AnnRecall probe
    * (sf0.1, these defaults): no probing ~0.1, Hamming-1 0.84,
    * Hamming-2 ≥0.9 top-k recall. The Σ C(bandBits, i) candidate
    * multiplier applies to the QUERY side only — the corpus index is
    * untouched, so cost scales with the query batch, not the corpus.
    * For huge query sets, drop to 1 or 0. */
  def lshTopK(corpus: DataFrame, queries: DataFrame, idCol: String, vecCol: String,
              k: Int, dim: Int, numBands: Int = 8, bandBits: Int = 6,
              maxBucket: Int = 4096, probeHamming: Int = 2): DataFrame = {
    // bandBits = 64 passes the sketch's own [1,64] gate but (1L << 64)
    // wraps to 1 in Java, making mask = 0 — every chunk becomes bucket 0
    // and the hot-bucket cap silently drops the whole corpus
    require(bandBits >= 1 && bandBits < 64, s"bandBits must be in [1, 63], got $bandBits")
    require(probeHamming >= 0 && probeHamming <= bandBits,
      s"probeHamming must be in [0, bandBits=$bandBits], got $probeHamming")
    // k=0 completes with zero rows; maxBucket=0 drops every corpus
    // bucket — both the silent-empty mode this file rejects loudly
    require(k >= 1, s"k must be >= 1, got $k")
    require(maxBucket >= 1, s"maxBucket must be >= 1, got $maxBucket")
    val numBits = numBands * bandBits
    // fail HERE with the caller's own parameters — numBits > 64 would
    // otherwise surface as signSketch's internal [1, 64] gate, naming an
    // argument the caller never passed
    require(numBits <= 64,
      s"numBands * bandBits must be <= 64 (a long's width), got $numBands * $bandBits = $numBits")
    def banded(df: DataFrame, id: String, v: String, probe: Boolean) = {
      // null-vector rows out BEFORE sketching (the sibling
      // embeddingNearDupPairsLsh's r14 rule, same rationale): a null
      // embedding fans out ×(bands·probes) through the materialized
      // sketch frame, the explode, and the counts aggregate before
      // join null-key semantics finally discard it (r16 review)
      val sk0 = df.where(col(vecCol).isNotNull)
        .select(col(idCol).as(id), col(vecCol).as(v),
          signSketch(col(vecCol), numBits, dim).as("sk"))
      // corpus side feeds bucket counts AND the capped join — read-shared
      // (see Dedup.minhashLsh) so the sketch pass over the full corpus
      // runs once, not per consumer (query side has a single consumer;
      // leave it lazy)
      val sk = if (probe) sk0 else sk0.localCheckpoint(eager = false)
      val mask = (1L << bandBits) - 1
      // probe offsets: the bucket itself, plus (query side only) every
      // XOR mask of popcount ≤ probeHamming — built from bit-position
      // combinations, not a 2^bandBits enumeration, so wide bands stay
      // cheap to set up
      val flips: Seq[Long] =
        if (probe && probeHamming > 0)
          0L +: (1 to probeHamming).flatMap(h =>
            (0 until bandBits).combinations(h).map(_.map(1L << _).reduce(_ | _)).toSeq)
        else Seq(0L)
      sk.select(col(id), col(v),
        explode(array((for { b <- 0 until numBands; f <- flips } yield
          struct(lit(b).as("band"),
            shiftright(col("sk"), b * bandBits).bitwiseAND(mask)
              .bitwiseXOR(lit(f)).as("chunk"))): _*)).as("bc"))
        .select(col(id), col(v), col("bc.band"), col("bc.chunk"))
    }
    val cb = banded(corpus, "neighbor_id", "cv", probe = false)
    val counts = cb.groupBy("band", "chunk").agg(count(lit(1)).as("_bn"))
    // size-gated hint on the bucket-count side (the sibling
    // embeddingNearDupPairsLsh's bCounts rule): without it the planner's
    // corpus-derived estimate can re-exchange the vector-carrying cb
    // fan-out purely to apply a ≤ maxBucket filter against a table
    // bounded by the (band, chunk) key space (r16 review)
    val cbCapped = cb.join(
        broadcastIfBounded(counts.where(col("_bn") <= maxBucket)), Seq("band", "chunk"))
      .drop("_bn")
    val qb = banded(queries, "query_id", "qv", probe = true)
    // broadcast the query side (same rationale as ivfTopK): the
    // (band, chunk) key space is a few hundred values, so a sort-merge
    // fallback would cap the corpus shuffle's parallelism at key count.
    // The gate must see the EXPLODE fan-out (bands × probe flips per
    // query, each row carrying qv) — the plan estimate alone is the
    // pre-explode size (r16 review)
    val qbFanout = numBands.toLong * (1L + (1 to probeHamming).map(h =>
      (0 until bandBits).combinations(h).size.toLong).sum)
    val cand = cbCapped.join(broadcastIfBounded(qb, qbFanout), Seq("band", "chunk"))
      .where(col("neighbor_id") =!= col("query_id"))
      // score IN the join row, BEFORE the pair-dedup exchange: duplicate
      // multi-band candidates carry identical vectors, so cos is the
      // same on every copy and only slim (query_id, neighbor_id, cos)
      // rows shuffle — not ~8 KB of qv/cv per row at dim=1024 (same
      // pre-exchange-scoring rule as embeddingNearDupPairsLsh)
      .withColumn("cos", cosine(col("qv"), col("cv")))
      .select(col("query_id"), col("neighbor_id"), col("cos"))
      .dropDuplicates("query_id", "neighbor_id")
    topKPerQuery(cand, k)
  }

  /** Exact cosine similarity self-join (all pairs with cos ≥ minCos) via
    * a block grid: ids hash into `blocks` blocks; cell (ba ≤ bb) of the
    * grid compares block ba against block bb. Each cell is one
    * independent, memory-bounded join partition → the inherent O(n²)
    * work parallelizes evenly (no hot task, no driver collect). Every
    * unordered pair lands in exactly one cell.
    *
    * This is the exact baseline: at web scale use
    * `embeddingNearDupPairsLsh` (near-dup thresholds) instead.
    */
  def exactCosineSelfJoin(corpus: DataFrame, idCol: String, vecCol: String,
                          minCos: Double, blocks: Int = 16): DataFrame = {
    // blocks <= 0 would yield an empty cell grid and a null blk (pmod by
    // 0) — a silently EMPTY "exact baseline", the worst failure mode
    require(blocks >= 1, s"blocks must be >= 1, got $blocks")
    val spark = corpus.sparkSession
    import spark.implicits._
    // DELIBERATE double scan: v feeds both self-join sides, so the
    // (column-pruned) source is read twice. Persisting it would write
    // the full id+vector corpus to executor storage — at the 100 TB
    // target that cache write+read costs more than the second pruned
    // scan (the same trade documented at cmsHeavyHitters).
    // null-id rows out (the siblings' rule): Spark hashes NULL to the
    // seed, so a null-id vector lands in a real block, and a
    // CROSS-block pair reaches the output through the `ba < bb` arm
    // with the id comparison never consulted — least/greatest then
    // skip the null, fabricating a degenerate (x, x) self-pair in the
    // exact baseline (r16 review)
    val v = corpus.where(col(idCol).isNotNull)
      .select(col(idCol).as("id"), col(vecCol).as("v"))
      .withColumn("blk", pmod(xxhash64(col("id")), lit(blocks)).cast("int"))
    val cells = (for (ba <- 0 until blocks; bb <- ba until blocks) yield (ba, bb))
      .toDF("ba", "bb")
    val l = v.join(broadcast(cells), col("blk") === col("ba"))
      .select(col("ba"), col("bb"), col("id").as("id_l"), col("v").as("v_l"))
    val r = v.join(broadcast(cells), col("blk") === col("bb"))
      .select(col("ba").as("rba"), col("bb").as("rbb"), col("id").as("id_r"), col("v").as("v_r"))
    l.join(r, col("ba") === col("rba") && col("bb") === col("rbb"))
      .where(col("ba") < col("bb") || col("id_l") < col("id_r"))
      .withColumn("cos", cosine(col("v_l"), col("v_r")))
      .where(col("cos") >= minCos)
      .select(least(col("id_l"), col("id_r")).as("id_a"),
        greatest(col("id_l"), col("id_r")).as("id_b"), col("cos"))
  }

  /** Train an IVF coarse quantizer with spark.ml KMeans (fixed seed) —
    * the production trainer for `ivfTopK`'s centroid array. Runs as a
    * distributed Spark job; only k×dim doubles come back to the driver
    * (the model, not data). */
  def trainCentroidsKMeans(corpus: DataFrame, vecCol: String, k: Int, dim: Int,
                           maxIter: Int = 10): Array[Double] = {
    import org.apache.spark.ml.clustering.KMeans
    import org.apache.spark.ml.functions.array_to_vector
    // Cache the features for the iterative fit: KMeans makes one pass per
    // iteration (plus init), and without the cache every pass re-reads and
    // re-converts the source. Random init — k-means|| init is itself several
    // distributed passes, overkill for a COARSE quantizer whose cells only
    // need to partition the space roughly evenly. The quantizer is trained
    // on a BOUNDED sample at scale (pass a sampled corpus in), so sizing
    // partitions at ~10k vectors each keeps per-iteration task overhead
    // from dominating the fit on small training sets.
    // persist FIRST, then count from the cache: a pre-persist count()
    // was a full extra scan of the uncached source purely to size the
    // coalesce; counting the cached features materializes the cache the
    // fit needs anyway, and coalesce-after-persist reads cached blocks
    // same corrupt-row and metric discipline as trainCentroidsSampled
    // (r11 review): null vectors are DROPPED (array_to_vector(null)
    // fails the fit mid-job), and vectors NORMALIZE first — spherical
    // k-means, because cells are ASSIGNED by cosine and Euclidean
    // centroids over raw magnitudes stratify by norm, collapsing many
    // directions into few cosine-nearest cells. Zero-norm / non-finite
    // vectors drop with the nulls (one NaN would poison its centroid
    // permanently: NaN distances never win an argmin).
    val feat0 = corpus
      .where(col(vecCol).isNotNull)
      .select(col(vecCol).cast("array<double>").as("arr"))
      .withColumn("nrm", sqrt(aggregate(col("arr"), lit(0.0d), (acc, x) => acc + x * x)))
      .where(col("nrm") > 0 && !isnan(col("nrm")) && col("nrm") < lit(Double.MaxValue))
      .select(array_to_vector(transform(col("arr"), x => x / col("nrm"))).as("features"))
      .persist()
    try {
      val cnt = feat0.count()
      val parts = math.max(1, math.min(feat0.rdd.getNumPartitions,
        (cnt / 10000L).toInt + 1))
      val model = new KMeans().setK(k).setSeed(42L).setMaxIter(maxIter)
        .setInitMode("random").fit(feat0.coalesce(parts))
      model.clusterCenters.flatMap(v => v.toArray.padTo(dim, 0.0).take(dim))
    } finally feat0.unpersist(false)
  }

  /** Default trainer-sample cap — named so the IVF-PQ path and its
    * specs refer to the SAME boundary the trainer enforces; retuning it
    * retunes every use. */
  val DefaultMaxTrainRows: Int = 65536

  /** Train an IVF coarse quantizer on a BOUNDED deterministic sample
    * with in-memory Lloyd iterations — the standard web-scale shape
    * (quantizers are trained on ~256·k sampled vectors, not the corpus):
    * ONE distributed job collects ≤ maxTrainRows vectors to the driver
    * (a model-scale artifact: maxTrainRows×dim doubles ≈ 32 MB at the
    * default), then the k-means iterations are pure driver CPU with
    * zero per-iteration job overhead. The sample is hash-ordered
    * (TakeOrderedAndProject — per-partition top-k, no global sort), so
    * it is deterministic and unbiased w.r.t. insertion order. Use
    * `trainCentroidsKMeans` when the training set itself must stay
    * distributed. */
  def trainCentroidsSampled(corpus: DataFrame, idCol: String, vecCol: String,
                            k: Int, dim: Int, maxIter: Int = 10,
                            maxTrainRows: Int = DefaultMaxTrainRows): Array[Double] = {
    // SPHERICAL k-means (normalize before Lloyd): cells are ASSIGNED by
    // cosine, and Euclidean k-means on un-normalized vectors stratifies
    // centroids by magnitude — many distinct directions collapse into
    // few cosine-nearest cells, skewing cell sizes and degrading probe
    // recall. The PQ trainer already normalizes for the same reason.
    val sample = collectTrainSample(corpus, idCol, vecCol, dim, maxTrainRows).map(normalized)
    require(sample.nonEmpty, "cannot train a quantizer on an empty corpus")
    lloyd(sample, k, dim, maxIter)
  }

  /** ONE distributed job collecting a bounded, hash-ordered
    * (deterministic, insertion-order-unbiased) training sample. */
  private def collectTrainSample(corpus: DataFrame, idCol: String, vecCol: String,
                                 dim: Int, maxTrainRows: Int): Array[Array[Double]] =
    corpus
      // a null vector in the sample would NPE toVec on the driver; the
      // SQL-kernel operators silently drop the same corrupt rows
      .where(col(vecCol).isNotNull)
      .select(col(idCol).as("id"), col(vecCol).as("v"))
      .withColumn("h", xxhash64(col("id")))
      .orderBy("h").limit(maxTrainRows)
      .select("v").collect()
      .map(r => toVec(r.getAs[scala.collection.Seq[Any]](0), dim))
      // drop non-finite vectors too, not only nulls: one NaN element
      // survives normalized() as an all-NaN vector, whose distances in
      // lloyd() never win an argmin — it pins to cluster 0 and poisons
      // that centroid permanently (the allFinite degrade-don't-poison
      // contract the encode path already honors; r11 review). May
      // shrink the sample slightly below the cap — harmless.
      .filter(v => v.forall(java.lang.Double.isFinite))

  /** Driver-local Lloyd k-means (the quantizer-training inner loop —
    * pure CPU on the bounded sample, zero per-iteration job overhead).
    *
    * The ASSIGNMENT phase runs data-parallel across the sample (r17
    * optimization): each point's nearest centroid depends only on
    * (sample(i), cents) — no cross-point state — so a parallel range
    * produces BIT-IDENTICAL assignments to the sequential loop, while
    * the n·k·dim multiply-adds (the trainer's dominant cost: ~10⁹ at
    * the shipped q52/q74/q75 geometries, ~1 s of single-threaded
    * driver CPU per bench attempt) spread over every core. The UPDATE
    * phase (centroid sums + empty-cell reseed) stays SEQUENTIAL in
    * index order: float addition is order-sensitive, and keeping the
    * exact historical summation order keeps every centroid — and thus
    * every downstream ANN shortlist and recall number — byte-stable. */
  private[operators] def lloyd(sample: Array[Array[Double]], k: Int, dim: Int,
                               maxIter: Int): Array[Double] = {
    val n = sample.length
    val rnd = new java.util.Random(42)
    // init: k spread-out sample points (hash order ≈ random order)
    val cents = Array.tabulate(k)(i =>
      sample(if (n >= k) i * (n / k) else rnd.nextInt(n)).clone())
    val assign = new Array[Int](n)
    var iter = 0
    var moved = true
    while (iter < maxIter && moved) {
      val movedFlag = new java.util.concurrent.atomic.AtomicBoolean(iter == 0)
      val iter0 = iter
      java.util.stream.IntStream.range(0, n).parallel().forEach { i =>
        // assignment (L2) — reads sample(i) + cents, writes assign(i):
        // disjoint per index, deterministic regardless of schedule
        var best = 0; var bestD = Double.MaxValue
        var c = 0
        while (c < k) {
          val cv = cents(c); val v = sample(i)
          var d = 0.0; var j = 0
          while (j < dim && d < bestD) { val t = v(j) - cv(j); d += t * t; j += 1 }
          if (d < bestD) { bestD = d; best = c }
          c += 1
        }
        if (assign(i) != best || iter0 == 0) { assign(i) = best; movedFlag.set(true) }
      }
      moved = movedFlag.get
      val sums = Array.fill(k)(new Array[Double](dim))
      val cnt = new Array[Int](k)
      var i = 0
      while (i < n) { // update
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
        } else cents(c) = sample(rnd.nextInt(n)).clone() // empty cell: reseed
        c += 1
      }
      iter += 1
    }
    cents.flatten
  }

  /** IVF (inverted-file) ANN — the centroid-bucketed scale path: a
    * coarse quantizer assigns each corpus vector to its `assignProbes`
    * nearest centroid cells (1 = a strict partition of the corpus;
    * 2 = FAISS-style soft assignment — border vectors, whose nearest
    * cell a nearby query may not probe, also live in their runner-up
    * cell, which is the cheap recall lever: index grows ×assignProbes
    * but probe cost per query is unchanged); a query probes its
    * `nprobe` nearest cells and ranks only those candidates. Candidate
    * count ≈ assignProbes·nprobe/nCentroids of the corpus per query.
    *
    * The quantizer here is a deterministic seeded sample of the corpus
    * (collected to the driver and broadcast — nCentroids×dim doubles, a
    * model artifact, not data). At scale you would train it with
    * k-means (spark.ml.KMeans) — the operator only needs the flattened
    * centroid array, so the trainer is pluggable.
    */
  def ivfTopK(corpus: DataFrame, queries: DataFrame, idCol: String, vecCol: String,
              k: Int, dim: Int, nCentroids: Int = 64, nprobe: Int = 8,
              centroids: Option[Array[Double]] = None,
              assignProbes: Int = 1): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k") // k=0 silently empties every query
    val cents: Array[Double] = centroids.getOrElse(
      collectTrainSample(corpus, idCol, vecCol, dim, nCentroids).flatten)
    // the sibling trainers' clear error, not the kernel's internal
    // 'nCentroids must be >= 1' naming a parameter the caller never
    // passed (r14 review: an all-null-vector corpus reached cellify)
    require(cents.nonEmpty, "cannot train a quantizer on an empty corpus")
    val nC = cents.length / dim
    def cellify(df: DataFrame, id: String, v: String, probes: Int) =
      df.select(col(idCol).as(id), col(vecCol).as(v))
        .withColumn("cell", explode(
          GraftKernels.nearestCentroidsCol(col(v), cents, nC, dim, probes, floatElems = true)))
    val cb = cellify(corpus, "neighbor_id", "cv", assignProbes)
    val qb = cellify(queries, "query_id", "qv", nprobe)
    // broadcast the QUERY side explicitly (bruteForceTopK's shape): the
    // cell key has only nCentroids distinct values, so if query-side
    // stats exceed the auto-broadcast threshold Spark falls back to a
    // sort-merge join that shuffles the full vector-carrying corpus
    // into at most nC non-empty partitions — parallelism capped at 64
    // and ~corpus/64 bytes per task at the 100 TB target. nprobe is
    // the query side's explode fan-out, invisible to the plan estimate
    // (r16 review)
    val cand = cb.join(broadcastIfBounded(qb, nprobe.toLong), Seq("cell"))
      .where(col("neighbor_id") =!= col("query_id"))
      .withColumn("cos", cosine(col("qv"), col("cv")))
      .select("query_id", "neighbor_id", "cos")
    // assignProbes = 1: no pair dedup needed — each corpus vector lives
    // in exactly ONE cell and the kernel's taken[] array makes a query's
    // nprobe cells distinct, so a (query, neighbor) pair arises from at
    // most one cell and a dropDuplicates would be a pure wasted exchange.
    // Soft assignment (> 1) can surface a pair through up to assignProbes
    // cells; without the dedup the duplicate rows would occupy top-k
    // slots. The dedup exchange moves only slim (id, id, cos) rows.
    val deduped = if (assignProbes > 1) cand.dropDuplicates("query_id", "neighbor_id") else cand
    topKPerQuery(deduped, k)
  }

  /** LSH near-duplicate pairs: sign-sketch banding with (by default)
    * Hamming-1 band MULTI-PROBE, a capped slim band-bucket join, and an
    * exact-cosine verify once per unique candidate pair.
    *
    * RECALL GEOMETRY: a band of `bandBits` hyperplane bits matches with
    * probability p^bandBits where p = 1 − θ/π. At near-dup thresholds
    * (cos ≥ 0.9, p ≈ 0.86) ten 6-bit bands reach ~0.99 — but at a BROAD
    * threshold like cos ≥ 0.3 (p ≈ 0.60, p⁶ ≈ 0.045) the same bands
    * find only ~0.37 of true pairs (r10's measured 0.407). Probing each
    * band's single-bit-flip neighbors lifts the per-band hit rate to
    * p⁶ + 6·p⁵(1−p) (≈0.23 at cos 0.3) → ~0.93 over ten bands — the
    * same Hamming-probe trick that took lshTopK's recall 0.10 → 1.00
    * (q28, r8). `probeBits = 0` restores exact-band matching.
    *
    * SCALE SHAPE: the band join moves only slim (band, chunk, id) rows
    * — a probe fan-out of (1 + bandBits) entries per band costs ~16
    * bytes each, NOT a vector copy (at dim=1024 a vector is 4 KB; the
    * old plan shuffled one per band entry). Candidate pairs dedup on
    * the slim pair key FIRST, then exactly two hash joins fetch the
    * vectors and the cosine verify runs once per unique pair. Hot
    * buckets above `maxBucket` are dropped from the INDEX side (at
    * near-dup thresholds an over-full bucket is a boilerplate cluster;
    * the exact grid join is the recall-1 fallback) — every stage is a
    * codegen'd join/agg, no collect_list rows holding whole buckets
    * (same shape as Dedup.minhashLsh).
    *
    * ADAPTIVE BANDS (r13): the caller's (numBands, bandBits) are
    * treated as FLOORS of a corpus-size-adaptive plan — see
    * adaptiveBandPlan. With fixed 6-bit bands the 64-bucket-per-band
    * space makes expected bucket load grow linearly with the corpus
    * (candidate generation quadratic until the cap binds, then recall
    * decays as the cap drops ever-more buckets, reaching ZERO once
    * every bucket exceeds it). The adaptive plan widens bands so load
    * stays ~targetLoad and adds bands to hold the caller plan's own
    * predicted recall; chunks come from the wide bandChunks kernel, so
    * total bits may exceed 64. NOTE the sizing is an EXTRA Spark action:
    * when `corpusSize` is None the plan runs one column-pruned
    * `count()` over the corpus before the pipeline proper — callers that
    * know the size pass `corpusSize` to skip it, and callers that need
    * the EXACT requested geometry (no sizing action, no adaptive
    * override — e.g. a calibrated bench plan) pass `adaptive = false`
    * (r14 advice).
    *
    * NOTE a pure "emit only from the first sketch-matching band" filter
    * — tempting, it would drop the pair-dedup exchange entirely — is
    * UNSOUND under the bucket cap: a pair whose first matching band
    * lies in a capped bucket has no join row AT that band, so every
    * surviving row fails the filter and the pair vanishes. Capped
    * buckets are exactly the boilerplate clusters near-dups concentrate
    * in, so the lost pairs would be the skew hot-spots, invisible to
    * uniform-corpus recall tests (r5 review finding).
    */
  def embeddingNearDupPairsLsh(corpus: DataFrame, idCol: String, vecCol: String,
                               dim: Int, minCos: Double = 0.9,
                               numBands: Int = 10, bandBits: Int = 6,
                               maxBucket: Int = 1024,
                               probeBits: Int = 1,
                               corpusSize: Option[Long] = None,
                               adaptive: Boolean = true): DataFrame = {
    require(bandBits >= 1 && bandBits < 64, s"bandBits must be in [1, 63], got $bandBits")
    require(probeBits == 0 || probeBits == 1,
      s"probeBits supports 0 (exact bands) or 1 (Hamming-1 multi-probe), got $probeBits")
    // maxBucket <= 1 is the silent-empty mode: without probing the
    // survivor lower bound is 2 so EVERY bucket drops; with probing the
    // exact-twin buckets (size 2, the pairs that matter most) drop — the
    // job completes with an empty or twin-less pair set instead of
    // failing (r14 review: >= 1 still admitted the degenerate 1)
    require(maxBucket >= 2, s"maxBucket must be >= 2, got $maxBucket")
    // ADAPTIVE BAND PLAN (r13): caller (bands, bits) are floors; at
    // large corpora bands widen so bucket load stays bounded and band
    // count grows to hold recall at the requested threshold (see
    // adaptiveBandPlan — the fixed plan's 2^bits bucket space otherwise
    // saturates the cap and recall collapses at scale). The corpus size
    // comes from a column-pruned count unless the caller knows it;
    // adaptive = false pins the caller's exact geometry and skips the
    // sizing action entirely (r14 advice).
    // null-vector rows carry nothing to near-dup (the minhashLsh /
    // simhashPairs rule): left in, they inflate the adaptive sizing
    // count (widening the plan for vectors that do not exist) and fan
    // out null chunks through the materialized sketch frame and both
    // explode sides before join-null semantics finally discard them
    // (r14 review)
    val vecs0 = corpus.where(col(vecCol).isNotNull)
    val (effBands, effBits) =
      if (!adaptive) (numBands, bandBits)
      else {
        val n = corpusSize.getOrElse(vecs0.select(col(idCol)).count())
        adaptiveBandPlan(n, minCos, numBands, bandBits, probeBits)
      }
    // read-shared (see Dedup.minhashLsh): the sketch pass (and the
    // vector scan under it) feeds the index side, the probe side, and
    // both vector-fetch joins. Chunks are per-band array elements (not
    // one long): the wide plan can exceed 64 total bits.
    val sk = vecs0.select(col(idCol).as("id"), col(vecCol).as("v"),
      bandChunksSketch(col(vecCol), effBands, effBits, dim).as("chunks"))
      .localCheckpoint(eager = false)
    def bandChunk(b: Int): Column = element_at(col("chunks"), b + 1)
    // sketch-Hamming prefilter (r13): when the requested threshold is
    // separable from noise in sketch space, candidate pairs die on a
    // popcount INSIDE the band join — before the pair-dedup exchange
    // and the vector fetch. At scale the candidate stream is dominated
    // by near-orthogonal bucket collisions (measured: the production-
    // threshold 32x probe row spent minutes deduping + vector-verifying
    // pairs a 10-instruction popcount rejects). Cost: both join sides
    // carry their chunk arrays (8·bands bytes) instead of being
    // maximally slim — still nowhere near a vector copy. Disengaged at
    // broad thresholds (q58's shipped 0.3) where sketch Hamming cannot
    // discriminate: the plan is then exactly the slim one.
    val ham = hamPrefilter(effBands, effBits, minCos)
    val carry = if (ham.isDefined) Seq(col("chunks")) else Nil
    // index side: one EXACT chunk per band — slim (id, band, chunk),
    // plus the chunk array only when the prefilter is engaged
    val indexed = sk.select(col("id"),
        explode(array((0 until effBands).map(b =>
          struct(lit(b).as("band"), bandChunk(b).as("chunk"))): _*)).as("bc"),
        col("chunks"))
      .select(Seq(col("id"), col("bc.band"), col("bc.chunk")) ++ carry: _*)
    val counts = indexed.groupBy("band", "chunk").agg(count(lit(1)).as("_bn"))
    // without probing a 1-row bucket can never pair (lower bound 2, as
    // before); WITH probing a neighbor's probe can reach it, so it stays
    val lower = if (probeBits == 0) 2 else 1
    // ONE bucket-size attach: the size-gated broadcast hint turns the
    // survivor filter into a map-side hash join instead of re-exchanging
    // `indexed`, and both derived frames (surviving index, over-cap own
    // buckets) filter THIS join's output — the counts aggregate is one
    // subplan, not two optimizer-hopefully-reused copies
    val bCounts = broadcastIfBounded(counts)
    val idx = indexed.join(bCounts, Seq("band", "chunk"))
      .where(col("_bn").between(lower, maxBucket)).drop("_bn")
    // probe side: the exact chunk plus (probeBits = 1) each single-bit
    // flip — the Hamming-1 neighborhood within the band, tagged with the
    // prober's own BASE bucket's over-cap flag for the mirror-drop
    // below. The flag joins the SAME bCounts subplan as the index-side
    // filter (on base instead of chunk) so the bucket-size aggregate is
    // one exchange and one broadcast, reused — not built per consumer.
    // Over-cap buckets are rare by construction (≤ rows/maxBucket skew
    // hot-spots), and a base chunk absent from counts cannot happen (the
    // prober itself lives in it), so the left join's null arm is purely
    // defensive.
    val probed =
      if (probeBits == 0) indexed.withColumn("own_capped", lit(false))
      else sk.select(col("id"),
          explode(flatten(array((0 until effBands).map { b =>
            val base = bandChunk(b)
            array((-1 until effBits).map { bit =>
              val c = if (bit < 0) base else base.bitwiseXOR(lit(1L << bit))
              struct(lit(b).as("band"), c.as("chunk"), base.as("base"))
            }: _*)
          }: _*))).as("bc"),
          col("chunks"))
          .select(Seq(col("id"), col("bc.band"), col("bc.chunk"), col("bc.base")) ++ carry: _*)
        .join(bCounts.withColumnRenamed("chunk", "base"), Seq("band", "base"), "left")
        .select(Seq(col("id"), col("band"), col("chunk"),
          coalesce(col("_bn") > maxBucket, lit(false)).as("own_capped")) ++ carry: _*)
    // MIRROR-DROP (r12): every unordered collision used to produce TWO
    // ordered join rows (a probes into b's bucket AND b probes into
    // a's), both surviving to the pair dedup. The mirror of row
    // (pid → iid) exists iff pid's OWN base bucket is in idx (iid's
    // symmetric fan-out reaches it) — so keeping a row only when
    // `pid < iid OR own_capped` retains exactly one row per collision
    // without changing the candidate SET: both buckets alive → the
    // pid < iid direction survives; only the target bucket alive → that
    // single direction survives via own_capped. Exact-chunk collisions
    // share one bucket (cap symmetric), so pid < iid alone is sound for
    // them — and for the whole probeBits = 0 path. Halves the rows
    // entering the dedup exchange. least/greatest (not id_a = pid)
    // stays: own_capped rows arrive in either order.
    // size-gated hint on the INDEX side: it is (1 + effBits)× slimmer
    // than the probe fan-out (one row per band vs one per band·flip), so
    // when the planner materializes one side it must be this one — the
    // unhinted planner has been observed building the probe side from
    // explode-blind estimates. At 100 TB both sides scale with the
    // corpus and the hint degrades to the shuffle join.
    val pSel = Seq(col("band"), col("chunk"), col("id").as("pid"), col("own_capped")) ++
      (if (ham.isDefined) Seq(col("chunks").as("pch")) else Nil)
    val iSel = Seq(col("band"), col("chunk"), col("id").as("iid")) ++
      (if (ham.isDefined) Seq(col("chunks").as("ich")) else Nil)
    val joined = probed.select(pSel: _*)
      // effBands = the index side's explode fan-out, invisible to the
      // plan estimate (r16 review)
      .join(broadcastIfBounded(idx.select(iSel: _*), effBands.toLong), Seq("band", "chunk"))
      .where(col("pid") =!= col("iid") && (col("pid") < col("iid") || col("own_capped")))
    // the prefilter runs BEFORE least/greatest + dropDuplicates: noise
    // pairs never enter the dedup exchange at all
    val survivors = ham match {
      case Some(thr) =>
        joined.where(GraftKernels.hammingBitsCol(col("pch"), col("ich")) <= lit(thr))
      case None => joined
    }
    val cand = survivors
      .select(least(col("pid"), col("iid")).as("id_a"),
              greatest(col("pid"), col("iid")).as("id_b"))
      .dropDuplicates("id_a", "id_b")
    // verify: two hash joins fetch each unique pair's vectors, cosine
    // runs once per pair — vector bytes move O(pairs), never O(probes)
    cand
      .join(sk.select(col("id").as("id_a"), col("v").as("va")), Seq("id_a"))
      .join(sk.select(col("id").as("id_b"), col("v").as("vb")), Seq("id_b"))
      .withColumn("cos", cosine(col("va"), col("vb")))
      .where(col("cos") >= minCos)
      .select(col("id_a"), col("id_b"), col("cos"))
  }

  // ---- Product quantization (PQ) — the MEMORY-scale ANN path. At
  //      dim=1024 float32 a vector is 4 KB; its PQ code is m bytes
  //      (m=16 → 256× smaller). At 100 TB of embeddings the candidate
  //      scan reads codes, not vectors — the difference between an
  //      executor scanning 16 GB and 64 MB per partition — and exact
  //      re-ranking touches full vectors only for the few candidates
  //      that survive. The same asymmetric-distance design as FAISS's
  //      IndexPQ, re-expressed as Spark stages. ----

  /** Train PQ codebooks: the space splits into `m` subspaces of dim/m
    * dims; each gets a 256-centroid Lloyd codebook trained on the SAME
    * bounded deterministic sample as the IVF quantizer (driver-local
    * iterations; the full codebook is 256·dim doubles ≈ 2 MB at
    * dim=1024 — a model artifact, broadcast not shuffled). Vectors are
    * L2-normalized before training so inner product == cosine at
    * search time. Entry (sub, code) occupies
    * [(sub·256 + code)·dsub, …+dsub) of the returned array. */
  /** Default PQ codebook training-sample cap (see DefaultMaxTrainRows
    * for the naming rationale — ivfPqTopK's combined trainer reads
    * this same prefix). */
  val DefaultPqTrainRows: Int = 16384

  def trainPqCodebooks(corpus: DataFrame, idCol: String, vecCol: String,
                       dim: Int, m: Int, maxIter: Int = 10,
                       maxTrainRows: Int = DefaultPqTrainRows): Array[Double] = {
    require(dim % m == 0, s"dim $dim must divide into m=$m subspaces")
    val dsub = dim / m
    val sample = collectTrainSample(corpus, idCol, vecCol, dim, maxTrainRows).map(normalized)
    require(sample.nonEmpty, "cannot train PQ codebooks on an empty corpus")
    pqCodebooksFromSample(sample, dim, m, maxIter)
  }

  /** Codebook training inner loop over an already-normalized sample
    * (shared by trainPqCodebooks and ivfPqTopK's one-collect build). */
  private def pqCodebooksFromSample(sample: Array[Array[Double]], dim: Int, m: Int,
                                    maxIter: Int): Array[Double] = {
    val dsub = dim / m
    val out = new Array[Double](m * 256 * dsub)
    // subspaces train INDEPENDENTLY (each its own slice array, its own
    // lloyd run, its own disjoint region of `out`) — parallelizing the
    // m trainings is bit-identical to the sequential loop and removes
    // the other ~1 s single-threaded driver stall from the PQ bench
    // paths (r17 optimization; lloyd's scaladoc has the determinism
    // argument)
    java.util.stream.IntStream.range(0, m).parallel().forEach { sub =>
      val slices = sample.map(v => java.util.Arrays.copyOfRange(v, sub * dsub, (sub + 1) * dsub))
      val cents = lloyd(slices, 256, dsub, maxIter)
      System.arraycopy(cents, 0, out, sub * 256 * dsub, cents.length)
    }
    out
  }

  /** Nearest-sub-centroid PQ encoding of one (normalized) vector —
    * ties to the lowest code. THE single encoding definition: pqEncode
    * and ivfPqTopK's index build both call it, so codes stay
    * byte-compatible across the two index shapes. */
  private def encodeVec(v: Array[Double], cb: Array[Double], m: Int, dsub: Int): Array[Byte] = {
    val code = new Array[Byte](m)
    var sub = 0
    while (sub < m) {
      val base = sub * 256 * dsub
      var best = 0; var bestD = Double.MaxValue
      var c = 0
      while (c < 256) {
        var d = 0.0; var j = 0
        while (j < dsub && d < bestD) {
          val t = v(sub * dsub + j) - cb(base + c * dsub + j); d += t * t; j += 1
        }
        if (d < bestD) { bestD = d; best = c }
        c += 1
      }
      code(sub) = best.toByte
      sub += 1
    }
    code
  }

  /** min-heap head = worst kept ADC candidate; tie-break matches
    * topKPerQuery's (cos desc, neighbor_id asc) rank ordering. */
  private val adcWorstFirst: Ordering[(Double, Long)] = Ordering.by { case (s, id) => (-s, id) }

  /** Per-query ADC lookup table: lut(sub·256 + code) = <q_sub, centroid>. */
  private def adcLut(qv: Array[Double], cb: Array[Double], m: Int, dsub: Int): Array[Double] = {
    val lut = new Array[Double](m * 256)
    var sub = 0
    while (sub < m) {
      val base = sub * 256 * dsub
      var c = 0
      while (c < 256) {
        var ip = 0.0; var j = 0
        while (j < dsub) { ip += qv(sub * dsub + j) * cb(base + c * dsub + j); j += 1 }
        lut(sub * 256 + c) = ip
        c += 1
      }
      sub += 1
    }
    lut
  }

  /** Exact re-rank of an ADC shortlist: broadcast semi-join pulls the
    * candidates' vectors, exact cosine against the broadcast queries,
    * two-phase top-k. */
  private def rerankExact(corpus: DataFrame, queries: DataFrame, idCol: String,
                          vecCol: String, shortlist: DataFrame, k: Int): DataFrame = {
    // try_cast, like pqEncode and the query collect upstream: the whole
    // PQ pipeline silently DROPS a non-numeric id — a plain cast here
    // would let the expensive ADC scan complete and then abort the
    // final re-rank stage under ANSI (r11 review)
    val q = queries.select(expr(s"try_cast(`$idCol` AS LONG)").as("query_id"),
      col(vecCol).as("qv"))
    val c = corpus.select(expr(s"try_cast(`$idCol` AS LONG)").as("neighbor_id"),
      col(vecCol).as("cv"))
    // UNCONDITIONAL broadcasts: the shortlist is ≤ queries·refine·k
    // rows of two longs and q is the query batch — both bounded by the
    // PQ design (the LUT build collects queries to the driver), while
    // their PLAN estimates are the corpus-scan size propagated through
    // the mapPartitions/Window chain, so the size gate could never
    // engage and the documented 'broadcast semi-join pulls the
    // candidates' vectors' silently degraded to a full-corpus
    // vector-carrying shuffle (r16 review)
    val exact = c.join(broadcast(shortlist), Seq("neighbor_id"))
      .join(broadcast(q), Seq("query_id"))
      .withColumn("cos", cosine(col("qv"), col("cv")))
    topKPerQuery(exact.select("query_id", "neighbor_id", "cos"), k)
  }

  /** Cosine of `v` against every centroid of the flattened array — the
    * SAME metric, NaN pinning (→ -inf), and lowest-index tie order as
    * the `nearestCentroids` kernel, so `ivfTopK` and `ivfPqTopK`
    * partition the corpus into identical cells for the same quantizer. */
  private def centroidCosines(v: Array[Double], cents: Array[Double],
                              nC: Int, dim: Int): Array[Double] = {
    var nv = 0.0; var i = 0
    while (i < dim) { nv += v(i) * v(i); i += 1 }
    nv = math.sqrt(nv)
    val out = new Array[Double](nC)
    var c = 0
    while (c < nC) {
      val base = c * dim
      var dot = 0.0; var nc2 = 0.0; var j = 0
      while (j < dim) { val cd = cents(base + j); dot += v(j) * cd; nc2 += cd * cd; j += 1 }
      val s = dot / (nv * math.sqrt(nc2))
      out(c) = if (java.lang.Double.isNaN(s)) Double.NegativeInfinity else s
      c += 1
    }
    out
  }

  /** A NaN/Inf element would survive normalization as all-NaN and
    * PQ-encode to code 0,0,…,0 — an ARBITRARY codebook point whose ADC
    * score can evict genuine candidates from the bounded shortlist.
    * Corrupt vectors are DROPPED at encode, the same degrade-don't-
    * poison contract as the SQL cosine kernel's 0.0 edge. */
  private def allFinite(v: Array[Double]): Boolean = {
    var i = 0
    while (i < v.length) { if (!java.lang.Double.isFinite(v(i))) return false; i += 1 }
    true
  }

  private def normalized(v: Array[Double]): Array[Double] = {
    var s = 0.0; var i = 0
    while (i < v.length) { s += v(i) * v(i); i += 1 }
    val n = math.sqrt(s)
    if (n == 0.0) v else { val o = new Array[Double](v.length); i = 0; while (i < v.length) { o(i) = v(i) / n; i += 1 }; o }
  }

  private def toVec(s: scala.collection.Seq[Any], dim: Int): Array[Double] = {
    val a = new Array[Double](dim)
    var i = 0
    s.foreach { x =>
      if (i < dim) {
        a(i) = x match {
          case null => 0.0 // corrupt element degrades, like the SQL kernels
          case f: java.lang.Float => f.toDouble
          case d: java.lang.Double => d.doubleValue()
          case other => other.toString.toDouble
        }
        i += 1
      }
    }
    a
  }

  /** PQ-encode the corpus: one narrow map, vectors in → m-byte codes
    * out. Encoding is deterministic given the codebooks (nearest
    * sub-centroid per subspace, ties to the lowest code). */
  def pqEncode(corpus: DataFrame, idCol: String, vecCol: String,
               dim: Int, m: Int, codebooks: Array[Double]): DataFrame = {
    import org.apache.spark.sql.types._
    val dsub = dim / m
    val schema = StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("code", BinaryType, nullable = false)))
    val enc = org.apache.spark.sql.catalyst.encoders.ExpressionEncoder(schema)
    val spark = corpus.sparkSession
    val bc = spark.sparkContext.broadcast(codebooks)
    // null/uncastable ids and null or non-finite vectors degrade to
    // DROPPED rows, not a mid-job NPE/cast error — matching the
    // SQL-kernel operators' corrupt-record behavior (try_cast nulls on
    // a bad id in both ANSI and legacy modes, where a plain cast would
    // throw or NPE at getLong)
    corpus.where(col(vecCol).isNotNull)
      .select(expr(s"try_cast(`$idCol` AS LONG)").as("id"), col(vecCol).as("v"))
      .where(col("id").isNotNull)
      .mapPartitions { rows =>
        val cb = bc.value
        rows.flatMap { r =>
          val raw = toVec(r.getAs[scala.collection.Seq[Any]](1), dim)
          if (!allFinite(raw)) None
          else Some(org.apache.spark.sql.Row(r.getLong(0), encodeVec(normalized(raw), cb, m, dsub)))
        }
      }(enc)
  }

  /** PQ ANN top-k with asymmetric distance + exact re-rank:
    *  1. scan the CODES (m bytes/vector) with per-query ADC lookup
    *     tables (query · sub-centroid inner products, 256·m doubles per
    *     query, broadcast) and partition-local heaps keeping
    *     `refine`·k candidates — the corpus's full vectors are never
    *     read in this stage;
    *  2. re-rank only the surviving candidates exactly: a broadcast
    *     semi-join pulls their vectors, cosine against the broadcast
    *     queries, two-phase top-k.
    * Recall < 1 (quantization error bounds the ADC ordering), measured
    * against the exact baseline in SimilaritySpec.
    *
    * Scale shape: the scan is O(corpus · queries) over CODES — right
    * for a bounded query batch against an arbitrarily large corpus
    * (the 100 TB case: codes are 256× smaller than vectors, so the
    * scan is I/O-trivial and CPU-cheap). For large query SETS, compose
    * with IVF first (probe cells, then ADC within cells) — the
    * standard IVF-PQ layering; both building blocks are here. */
  def pqTopK(corpus: DataFrame, queries: DataFrame, idCol: String, vecCol: String,
             k: Int, dim: Int, m: Int = 16, refine: Int = 4,
             codebooks: Option[Array[Double]] = None): DataFrame = {
    require(dim % m == 0, s"dim $dim must divide into m=$m subspaces")
    // refine < 1 makes keep = 0: every heap enqueue is immediately
    // dequeued and the operator completes with ZERO rows — the silent
    // empty result the sibling operators reject loudly
    require(refine >= 1, s"refine must be >= 1, got $refine")
    require(k >= 1, s"k must be >= 1, got $k")
    val dsub = dim / m
    val cb = codebooks.getOrElse(trainPqCodebooks(corpus, idCol, vecCol, dim, m))
    val codes = pqEncode(corpus, idCol, vecCol, dim, m, cb)
    // per-query ADC tables: lut(q)(sub*256 + code) = <q_sub, centroid>
    // (null-vector/bad-id queries dropped — no meaningful neighbors)
    val qRows = queries.where(col(vecCol).isNotNull)
      .select(expr(s"try_cast(`$idCol` AS LONG)").as("id"), col(vecCol))
      .where(col("id").isNotNull).collect()
    val luts: Array[(Long, Array[Double])] = qRows.flatMap { r =>
      val raw = toVec(r.getAs[scala.collection.Seq[Any]](1), dim)
      // the corpus side's allFinite gate, applied to QUERIES too: a
      // NaN/Inf query element built an all-NaN ADC LUT, paid the full
      // code scan, and then vanished from the output through the topK
      // isnan filter — the documented corrupt-row drop, but only after
      // the scan (r16 review). Dropped HERE like null-vector queries.
      if (!allFinite(raw)) None
      else Some(r.getLong(0) -> adcLut(normalized(raw), cb, m, dsub))
    }
    val spark = corpus.sparkSession
    import spark.implicits._
    val bcLuts = spark.sparkContext.broadcast(luts)
    val keep = refine * k
    // stage 1: code scan, partition-local heaps (≤ queries·refine·k rows out)
    val cand = codes.as[(Long, Array[Byte])].mapPartitions { it =>
      val qs = bcLuts.value
      val heaps = qs.map { case (qid, _) =>
        qid -> new scala.collection.mutable.PriorityQueue[(Double, Long)]()(adcWorstFirst)
      }
      it.foreach { case (nid, code) =>
        var qi = 0
        while (qi < qs.length) {
          val (qid, lut) = qs(qi)
          if (qid != nid) {
            var s = 0.0; var sub = 0
            while (sub < code.length) { s += lut(sub * 256 + (code(sub) & 0xFF)); sub += 1 }
            val h = heaps(qi)._2
            h.enqueue((s, nid))
            if (h.size > keep) h.dequeue()
          }
          qi += 1
        }
      }
      heaps.iterator.flatMap { case (qid, h) => h.iterator.map { case (s, nid) => (qid, nid, s) } }
    }.toDF("query_id", "neighbor_id", "cos")
    val shortlist = topKPerQuery(cand, keep).select("query_id", "neighbor_id")
    // stage 2: exact re-rank of the shortlist only
    rerankExact(corpus, queries, idCol, vecCol, shortlist, k)
  }

  /** IVF-PQ — the standard web-scale ANN layering (FAISS IndexIVFPQ):
    * the coarse quantizer partitions the corpus into cells and each
    * vector is stored as its m-byte PQ code; a query probes its
    * `nprobe` nearest cells and ADC-scans ONLY those cells' codes.
    * Against 100 TB of embeddings this is the full architecture: the
    * scan touches nprobe/nCentroids of the corpus, reads 256×-smaller
    * code rows, and full vectors surface only in the exact re-rank of
    * the shortlist. The index build is ONE narrow pass (cell assignment
    * + PQ encode per partition, both against broadcast model
    * artifacts). Recall < 1 (cell misses + quantization), measured in
    * SimilaritySpec. */
  def ivfPqTopK(corpus: DataFrame, queries: DataFrame, idCol: String, vecCol: String,
                k: Int, dim: Int, m: Int = 8, nCentroids: Int = 64, nprobe: Int = 8,
                refine: Int = 4, codebooks: Option[Array[Double]] = None,
                centroids: Option[Array[Double]] = None,
                assignProbes: Int = 1): DataFrame = {
    import org.apache.spark.sql.types._
    require(dim % m == 0, s"dim $dim must divide into m=$m subspaces")
    // nprobe/refine/assignProbes < 1 would all complete "successfully"
    // with zero rows — the silent-empty failure mode this file rejects
    // loudly everywhere else
    require(nprobe >= 1, s"nprobe must be >= 1, got $nprobe")
    require(refine >= 1, s"refine must be >= 1, got $refine")
    require(assignProbes >= 1, s"assignProbes must be >= 1, got $assignProbes")
    require(k >= 1, s"k must be >= 1, got $k")
    val dsub = dim / m
    // default models: ONE bounded sample collect feeds BOTH trainers —
    // the codebook trainer uses a deterministic prefix of the same
    // hash-ordered sample, so no second corpus scan is paid. Sample
    // sizes are the NAMED defaults (DefaultMaxTrainRows /
    // DefaultPqTrainRows) so retuning them retunes this path too.
    val (cents, cb) = (centroids, codebooks) match {
      case (Some(ce), Some(code)) => (ce, code)
      case _ =>
        // size the one sample collect to its consumers: the codebook
        // trainer only reads a DefaultPqTrainRows prefix, so when
        // centroids are supplied a DefaultMaxTrainRows collect would be
        // wasted driver memory
        val sample = {
          val rows = if (centroids.isEmpty) DefaultMaxTrainRows else DefaultPqTrainRows
          val s = collectTrainSample(corpus, idCol, vecCol, dim, rows)
          require(s.nonEmpty, "cannot train a quantizer on an empty corpus")
          s
        }
        // spherical: the sample normalizes for BOTH trainers (cells are
        // assigned by cosine; PQ distances assume unit vectors)
        val ce = centroids.getOrElse(lloyd(sample.map(normalized), nCentroids, dim, 10))
        val code = codebooks.getOrElse(
          pqCodebooksFromSample(sample.take(DefaultPqTrainRows).map(normalized), dim, m, 10))
        (ce, code)
    }
    val nC = cents.length / dim
    val spark = corpus.sparkSession
    import spark.implicits._
    val bcModel = spark.sparkContext.broadcast((cents, cb))
    // index build: one narrow pass → (id, cell, code)
    val idxSchema = StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("cell", IntegerType, nullable = false),
      StructField("code", BinaryType, nullable = false)))
    val idxEnc = org.apache.spark.sql.catalyst.encoders.ExpressionEncoder(idxSchema)
    val nAssign = math.min(assignProbes, nC)
    val index = corpus.where(col(vecCol).isNotNull)
      .select(expr(s"try_cast(`$idCol` AS LONG)").as("id"), col(vecCol).as("v"))
      .where(col("id").isNotNull)
      .mapPartitions { rows =>
        val (ce, code) = bcModel.value
        rows.flatMap { r =>
          val raw = toVec(r.getAs[scala.collection.Seq[Any]](1), dim)
          if (!allFinite(raw)) Iterator.empty else {
          val v = normalized(raw)
          // nearest coarse cells by COSINE — genuinely the same metric
          // (and tie order: descending score, ties to the lowest index)
          // as ivfTopK's nearestCentroids kernel, so both operators
          // probe identical cells for a shared quantizer. nAssign > 1 =
          // soft assignment: the code is stored in the runner-up cells
          // too, so border vectors stay findable when a query's probe
          // set misses their primary cell.
          val scores = centroidCosines(raw, ce, nC, dim)
          val enc = encodeVec(v, code, m, dsub)
          val id = r.getLong(0)
          // THE shared selection rule (GraftKernels.selectTopCells) —
          // not a local re-implementation the kernel could drift from
          GraftKernels.selectTopCells(scores, nAssign).iterator.map(cell =>
            org.apache.spark.sql.Row(id, cell, enc))
          }
        }
      }(idxEnc)
    // queries: probe cells + ADC table, grouped by cell for the scan
    val qRows = queries.where(col(vecCol).isNotNull)
      .select(expr(s"try_cast(`$idCol` AS LONG)").as("id"), col(vecCol))
      .where(col("id").isNotNull).collect()
    val probing: Map[Int, Array[(Long, Array[Double])]] = qRows.flatMap { r =>
      val raw = toVec(r.getAs[scala.collection.Seq[Any]](1), dim)
      // the pqTopK query gate (r16 review): a non-finite query would
      // otherwise ADC-scan its probed cells with an all-NaN LUT and
      // silently vanish after paying for the scan
      if (!allFinite(raw)) Array.empty[(Int, (Long, Array[Double]))] else {
      val lut = adcLut(normalized(raw), cb, m, dsub)
      // nprobe nearest cells via THE shared selection rule — identical
      // cells to the kernel and the index build for a shared quantizer
      val scores = centroidCosines(raw, cents, nC, dim)
      GraftKernels.selectTopCells(scores, nprobe).map(c => c -> (r.getLong(0), lut))
      }
    }.groupBy(_._1).map { case (c, xs) => c -> xs.map(_._2) }
    val bcProbe = spark.sparkContext.broadcast(probing)
    val keep = refine * k
    val cand = index.as[(Long, Int, Array[Byte])].mapPartitions { it =>
      val probe = bcProbe.value
      // heap + CURRENT-MEMBER set per query: with soft assignment the
      // same (query, neighbor) arrives once per probed replica cell
      // (identical score — identical code), and letting the duplicate
      // ENTER the bounded heap evicts a genuine candidate the
      // downstream dropDuplicates cannot restore — halving effective
      // refine depth exactly for the border vectors soft assignment
      // exists to keep. The set is capped at the heap size.
      val heaps = scala.collection.mutable.Map[Long,
        (scala.collection.mutable.PriorityQueue[(Double, Long)], scala.collection.mutable.HashSet[Long])]()
      it.foreach { case (nid, cell, code) =>
        probe.get(cell) match {
          case Some(qs) =>
            var qi = 0
            while (qi < qs.length) {
              val (qid, lut) = qs(qi)
              if (qid != nid) {
                var s = 0.0; var sub = 0
                while (sub < code.length) { s += lut(sub * 256 + (code(sub) & 0xFF)); sub += 1 }
                val (h, members) = heaps.getOrElseUpdate(qid,
                  (new scala.collection.mutable.PriorityQueue[(Double, Long)]()(adcWorstFirst),
                    scala.collection.mutable.HashSet[Long]()))
                if (!members.contains(nid)) {
                  h.enqueue((s, nid)); members += nid
                  if (h.size > keep) { val (_, evicted) = h.dequeue(); members -= evicted }
                }
              }
              qi += 1
            }
          case None => () // no query probes this cell: the row costs one map lookup
        }
      }
      heaps.iterator.flatMap { case (qid, (h, _)) => h.iterator.map { case (s, nid) => (qid, nid, s) } }
    }.toDF("query_id", "neighbor_id", "cos")
    // cross-PARTITION duplicates remain possible (a vector's replica
    // cells can land in different partitions): dedup the slim candidate
    // rows before the global shortlist
    val candUnique = if (nAssign > 1) cand.dropDuplicates("query_id", "neighbor_id") else cand
    val shortlist = topKPerQuery(candUnique, keep).select("query_id", "neighbor_id")
    rerankExact(corpus, queries, idCol, vecCol, shortlist, k)
  }
}
