package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.functions.GraftKernels

/** Large-scale deduplication operators for training-data pipelines.
  *
  * All paths are linear-ish in n (bucket-join, never O(n²) all-pairs):
  * at 100 TB the only viable near-dup strategy is candidate generation
  * via locality-sensitive bucketing + verification inside buckets.
  *
  * The per-document kernels (minhash signature, simhash) are native
  * codegen'd static calls (GraftKernels) — Spark's higher-order
  * functions are interpreted, and at 100 TB the signature computation is
  * the dominant cost of the whole dedup pass.
  */
object Dedup {

  /** 128-bit content hash for the exact-dedup family. A NULL text is
    * the ABSENCE of content, not content: md5(NULL)=NULL would collapse
    * every null-text doc into one "duplicate" cluster (a keep-one pass
    * then silently drops all but one unrelated document) — so each null
    * doc gets its own id-derived group instead, matching the family
    * invariant the near-dup operators enforce by filtering
    * (null-text docs never pair). */
  /** Domain separation: the non-null branch carries its own prefix so
    * a document whose literal text equals a null sentinel string
    * cannot collide with a null-text doc's group. A row with BOTH text
    * and id null hashes NULL and all such rows group together — by
    * design: two (null, null) records are indistinguishable tuples,
    * and the DuckDB oracle groups them identically. */
  private def contentHash(textCol: String, idCol: String): Column = {
    val norm = TextAnalysis.normText(col(textCol))
    when(col(textCol).isNull,
      unhex(md5(concat(lit("graft\u0000null\u0000"), col(idCol).cast("string")))))
      .otherwise(unhex(md5(concat(lit("graft\u0000text\u0000"), norm))))
  }

  /** Exact dedup: keep the first (lowest id) document per normalized-text
    * hash. Hash-groupBy — one shuffle on the 128-bit content hash
    * (md5 as 16-byte binary: at 10^10 docs a 64-bit hash expects ~2-3
    * colliding pairs, each silently merging two DISTINCT documents; at
    * 128 bits the expectation is ~10^-19 — "exact" stays exact at the
    * 100 TB scale this file targets).
    */
  def exact(docs: DataFrame, textCol: String, idCol: String): DataFrame =
    docs
      .withColumn("content_hash", contentHash(textCol, idCol))
      .groupBy(col("content_hash"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("dup_count"))

  /** Exact dedup with a KEEP POLICY: per normalized-content group keep
    * the row maximizing `score` (ties → lowest id) — the standard
    * curation move of keeping the best-quality copy of each duplicate
    * cluster rather than an arbitrary one. Same single-shuffle,
    * 128-bit-hash shape as `exact`. */
  def exactKeepBest(docs: DataFrame, textCol: String, idCol: String,
                    score: Column): DataFrame = {
    // INTEGRAL ids only on the fast single-agg path: the decimal(38,0)
    // negation ROUNDS fractional ids (7.1 and 7.2 both negate to -7 —
    // arbitrary tie-break instead of the documented lowest id) and a
    // double >= 1e38 overflows the cast. Fractional/huge numerics take
    // the type-generic two-phase path, whose min(id) is exact for any
    // orderable type (r13 review)
    // Cols.fieldOf, not docs.schema(idCol): the exact lookup threw for
    // case-variant names the session resolver accepts — the r14
    // packIntoShards fix, which missed this sweep (r15 review)
    val numericId = Cols.fieldOf(docs, idCol).dataType match {
      case d: org.apache.spark.sql.types.DecimalType => d.scale == 0
      case dt => Cols.isIntegralId(dt)
    }
    if (numericId)
      docs
        .withColumn("content_hash", contentHash(textCol, idCol))
        .groupBy(col("content_hash"))
        // structs compare lexicographically: max score first, then max of
        // the NEGATED id = min id. The negation runs in DECIMAL(38,0):
        // -Long.MinValue overflows a bigint (wraps in legacy mode,
        // ARITHMETIC_OVERFLOW under ANSI), flipping the documented
        // lowest-id tie-break exactly at the extreme the comment promises
        // to handle
        .agg(max_by(col(idCol), struct(score,
            -col(idCol).cast("decimal(38,0)"))).as("keep_id"),
          count(lit(1)).as("dup_count"))
    else {
      // non-numeric (string/date/…) ids have no generic negation for a
      // MAX-aggregate tie-break — the decimal cast would throw under
      // ANSI or null out the documented lowest-id rule in legacy mode
      // (r11 review). Two-phase instead: per-group best score, then the
      // MIN id among the tied best rows. Null-safe compare: a group
      // whose scores are all NULL keeps its lowest id, as the numeric
      // path's struct ordering does.
      // PROJECTED to the three working columns: carrying docs' own
      // columns through the join made a pre-existing dup_count (e.g. a
      // frame re-deduped after exact()) an ambiguous reference (r13
      // review). score is evaluated against docs BEFORE the projection.
      // read-shared frame (the contract is on minhashLsh): `hashed` —
      // a full-corpus scan + normText + md5 per row, the operator's
      // dominant cost — feeds BOTH the best-score aggregate and the
      // verify join, and the two exchanges differ so ReuseExchange
      // cannot dedupe them; unmaterialized, the corpus was scanned and
      // hashed twice (r15 review)
      val hashed = docs
        .select(contentHash(textCol, idCol).as("content_hash"),
          col(idCol).as("__graft_id"), score.as("__graft_keep_score"))
        .localCheckpoint(eager = false)
      val best = hashed.groupBy(col("content_hash"))
        .agg(max(col("__graft_keep_score")).as("__graft_best"),
          count(lit(1)).as("dup_count"))
        .withColumnRenamed("content_hash", "__graft_ch")
      // NULL-SAFE hash join: the (null text, null id) group hashes
      // NULL by design, and a Seq("content_hash") USING join silently
      // DROPPED it on this path while the numeric path kept it —
      // output diverged purely on id type (r13 review)
      hashed.join(best, col("content_hash") <=> col("__graft_ch"))
        .where(col("__graft_keep_score") <=> col("__graft_best"))
        .groupBy(col("content_hash"), col("dup_count"))
        .agg(min(col("__graft_id")).as("keep_id"))
        .select(col("content_hash"), col("keep_id"), col("dup_count"))
    }
  }

  /** Word k-shingles of the normalized text (distinct, first-occurrence
    * order). Native kernel. */
  def shingles(textCol: Column, k: Int): Column = GraftKernels.shinglesCol(textCol, k)

  /** Interpreted HOF shingles — parity-test oracle only. */
  private[graft] def shinglesHof(textCol: Column, k: Int): Column = {
    val words = TextAnalysis.words(textCol)
    val n = size(words)
    // slide a k-window over words; when fewer than k words, one shingle of all
    val idx = sequence(lit(0), greatest(n - k, lit(0)))
    array_distinct(transform(idx, i => array_join(slice(words, i + 1, lit(k)), " ")))
  }

  /** MinHash signature: for each of `numHashes` seeded hash functions,
    * the min over shingle hashes. Interpreted HOF formulation — kept
    * ONLY as the parity-test oracle for the native kernel
    * (GraftKernels.minhashSig). */
  private[graft] def minhashSignatureHof(shinglesCol: Column, numHashes: Int): Column = {
    val hs = (0 until numHashes).map { seed =>
      array_min(transform(shinglesCol, s => xxhash64(lit(seed), s)))
    }
    array(hs: _*)
  }

  /** Capped band-bucket SELF-JOIN pair generation shared by the LSH
    * family (codegen'd joins; no interpreted per-bucket expansion):
    * banded rows (id, sig, band, bucket) → candidate (id_a, id_b,
    * sig_a, sig_b) pairs within buckets of size [2, maxBucket] (hot
    * buckets dropped — boilerplate-cluster noise, the skew guard). */
  private def cappedBucketPairs(banded: DataFrame, bucketCol: String,
                                maxBucket: Int): DataFrame = {
    val counts = banded.groupBy("band", bucketCol).agg(count(lit(1)).as("_bn"))
    val capped = banded.join(counts.where(col("_bn").between(2, maxBucket)), Seq("band", bucketCol))
      .drop("_bn")
    val a = capped.select(col("band"), col(bucketCol), col("id").as("id_a"), col("sig").as("sig_a"))
    val b = capped.select(col("band"), col(bucketCol), col("id").as("id_b"), col("sig").as("sig_b"))
    a.join(b, Seq("band", bucketCol)).where(col("id_a") < col("id_b"))
  }

  /** MinHash + LSH banding: signature of numBands*rowsPerBand hashes;
    * band → bucket; docs sharing any band-bucket are candidate pairs.
    *
    * Output: candidate pairs (id_a < id_b) with estimated Jaccard
    * (fraction of matching signature positions).
    *
    * Scale: explode-by-band (numBands rows/doc) → shuffle on
    * (band, bucket-hash) → pairs within buckets only. Skew guard: huge
    * buckets (> maxBucket) are dropped — they are boilerplate-cluster
    * noise, the standard practice for web-scale dedup.
    *
    * READ-SHARED FRAMES (the one contract; every operator whose plan
    * fans one expensive subtree out to several consumers points here):
    * the signature frame feeds the bucket counts AND both self-join
    * sides, so it is `localCheckpoint(eager = false)`: computed once,
    * inside the first job that reads it, shared by every consumer of
    * the returned plan, and reused if the caller executes the result
    * again (MEMORY_AND_DISK, the RDD local-checkpoint default). It
    * enters no CacheManager, so no other call, session or clearCache
    * can evict it, and nothing outlives the query: the ContextCleaner
    * frees the blocks once the caller drops the result. The trade, as
    * in `clusterPairs`: lineage is cut, so a lost block fails the job
    * instead of recomputing (on a local master losing an executor is
    * losing the driver, so nothing changes there), and a dropped
    * frame's blocks wait for a driver GC rather than a fixed point.
    */
  def minhashLsh(docs: DataFrame, textCol: String, idCol: String,
                 shingleK: Int = 3, numBands: Int = 8, rowsPerBand: Int = 2,
                 maxBucket: Int = 64): DataFrame = {
    // a pair needs a bucket of at least 2: maxBucket <= 1 drops EVERY
    // band bucket (the survivor filter is between(2, maxBucket)) — the
    // job completes with an empty candidate set instead of failing
    // (silent-empty mode; >= 1 still admitted the degenerate 1, r14
    // review)
    require(maxBucket >= 2, s"maxBucket must be >= 2, got $maxBucket")
    // non-positive band geometry is silent garbage, not an error:
    // rowsPerBand=0 gives every doc an EMPTY signature slice (one
    // shared bucket per band → O(n²) pairs with 0/0 est_jaccard);
    // numBands=0 makes sequence() auto-step DOWN to band -1, slicing
    // from the array END (r13 review)
    require(numBands >= 1, s"numBands must be >= 1, got $numBands")
    require(rowsPerBand >= 1, s"rowsPerBand must be >= 1, got $rowsPerBand")
    // gate the product in LONG: an Int product can wrap past this gate
    // (128 * 33554433 = 2^32 + 128 reads 128) and past the kernel's own
    // [1,256] require — the kernel would then build a wrapped-size
    // signature while banding still slices with the caller's huge
    // rowsPerBand, overflowing the slice-start column mid-job (ANSI) or
    // slicing from the array END (legacy: silently wrong buckets, near-
    // zero recall) — the silent-garbage class these gates exist to
    // reject (r17 review)
    val numHashesL = numBands.toLong * rowsPerBand
    // fail with the CALLER's parameters (the lshTopK convention): the
    // signature kernel's seed cache caps numHashes at 256, and letting
    // the inner gate throw names a parameter the caller never passed
    // (r14 review)
    require(numHashesL <= 256,
      s"numBands * rowsPerBand must be <= 256 (signature kernel seed-cache " +
        s"bound), got $numBands * $rowsPerBand = $numHashesL")
    val numHashes = numHashesL.toInt
    // null-text docs carry no content to near-dup: left in, they all
    // hash to ONE shared per-band bucket (xxhash64 skips a null slice)
    // and pair up with null est_jaccard — drop them up front.
    // Read-shared (see scaladoc): unmaterialized, the signature kernel
    // (the dominant dedup cost at scale) would run once per consumer
    // over the full corpus.
    val sigd = docs.where(col(textCol).isNotNull)
      .select(col(idCol).as("id"),
        GraftKernels.minhashSigCol(col(textCol), shingleK, numHashes).as("sig"))
      .localCheckpoint(eager = false)

    val banded = sigd.select(
      col("id"), col("sig"),
      explode(sequence(lit(0), lit(numBands - 1))).as("band"))
      .withColumn("bucket", xxhash64(col("band"), slice(col("sig"), col("band") * rowsPerBand + 1, lit(rowsPerBand)).cast("string")))

    // estimate BEFORE the pair-dedup shuffle: only (id_a, id_b, est)
    // crosses it, never the signatures (numHashes longs per side)
    cappedBucketPairs(banded, "bucket", maxBucket)
      .withColumn("est_jaccard",
        size(filter(zip_with(col("sig_a"), col("sig_b"), (x, y) => x === y), v => v)).cast("double")
          / size(col("sig_a")).cast("double"))
      .groupBy("id_a", "id_b").agg(first(col("est_jaccard")).as("est_jaccard"))
      .select(col("id_a"), col("id_b"), col("est_jaccard"))
  }

  /** 64-bit SimHash over word features: bit i of the hash contributes
    * +1/-1 to component i; sign vector → fingerprint. Near-dups have
    * small Hamming distance. Native kernel (one pass per document).
    */
  def simhash(textCol: Column): Column = GraftKernels.simhashCol(textCol)

  /** Interpreted HOF simhash — parity-test oracle only. */
  private[graft] def simhashHof(textCol: Column): Column = {
    val words = TextAnalysis.words(textCol)
    val hashes = transform(words, w => xxhash64(w))
    val bits = (0 until 64).map { i =>
      val votes = aggregate(hashes, lit(0L),
        (acc, h) => acc + when(shiftright(h, i).bitwiseAND(1) === 1, 1L).otherwise(-1L))
      when(votes > 0, lit(1L).cast("long") * lit(1L << i)).otherwise(0L)
    }
    bits.reduce(_ + _)  // OR of disjoint bits == sum
  }

  /** SimHash near-dup candidates: band the 64-bit fingerprint into 4
    * 16-bit chunks; docs sharing any chunk value are candidates.
    * Verification = exact Hamming distance ≤ maxHamming.
    *
    * RECALL CONTRACT: by pigeonhole the banding guarantees a candidate
    * only for pairs with ≤ 3 differing bits (3 flips leave one of the 4
    * chunks intact), so the default maxHamming is 3 — the largest
    * distance with complete recall. Larger values are accepted but
    * BEST-EFFORT: a pair at hamming 4+ surfaces only when its flips
    * happen to cluster into ≤ 3 chunks, so the pair set is incomplete
    * and unevenly so. The guarantee is CONDITIONAL on the bucket cap:
    * a chunk shared by more than `maxBucket` docs is dropped as
    * boilerplate noise, and pairs whose every shared chunk is hot —
    * including hamming-0 twins inside a 300-doc template cluster — are
    * not emitted. Raise maxBucket (or pre-collapse exact duplicates)
    * when template clusters must pair exhaustively.
    *
    * Pair generation is a capped band-bucket SELF-JOIN (hot buckets >
    * maxBucket dropped — boilerplate clusters): every stage is a
    * codegen'd join/agg, no interpreted per-bucket expansion, and no
    * collect_list rows holding whole buckets in memory.
    */
  def simhashPairs(docs: DataFrame, textCol: String, idCol: String,
                   maxHamming: Int = 3, maxBucket: Int = 256,
                   replayableHash: Boolean = false): DataFrame = {
    // >= 2, not >= 1: the bucket survivor filter is between(2, maxBucket),
    // so 1 drops every bucket — silent-empty (r14 review)
    require(maxBucket >= 2, s"maxBucket must be >= 2, got $maxBucket")
    // a negative maxHamming (caller sign/arithmetic bug) runs the FULL
    // kernel + banding + self-join and then filters every pair — the
    // silent-empty mode the sibling requires exist to reject (r15
    // review). 0 stays legal: exact-fingerprint duplicates.
    require(maxHamming >= 0, s"maxHamming must be >= 0, got $maxHamming")
    // replayableHash swaps the per-word hash from Spark-private xxhash64
    // to the lower 64 bits of md5 (= DuckDB's md5_number_lower), making
    // the WHOLE pipeline — fingerprints, bands, bucket cap, hamming —
    // bit-replayable by an independent SQL engine. Same kernel shape and
    // cost profile (one codegen'd pass per document); xxhash64 stays the
    // default for pipelines that don't need cross-engine replay.
    val sigOf: Column => Column =
      if (replayableHash) GraftKernels.simhashMd5Col else simhash
    // null-text docs excluded for the same reason as minhashLsh;
    // read-shared for the same multi-consumer reason (see minhashLsh)
    val withSig = docs.where(col(textCol).isNotNull)
      .select(col(idCol).as("id"), sigOf(col(textCol)).as("sig"))
      .localCheckpoint(eager = false)
    val banded = withSig.select(col("id"), col("sig"),
      explode(array((0 until 4).map(b =>
        struct(lit(b).as("band"), shiftright(col("sig"), b * 16).bitwiseAND(0xFFFFL).as("chunk"))): _*)).as("bc"))
      .select(col("id"), col("sig"), col("bc.band"), col("bc.chunk"))
    cappedBucketPairs(banded, "chunk", maxBucket)
      .withColumn("hamming", bit_count(col("sig_a").bitwiseXOR(col("sig_b"))))
      .where(col("hamming") <= maxHamming)
      .groupBy("id_a", "id_b").agg(min("hamming").as("hamming"))
  }

  /** Connected components over a near-duplicate pair list: every doc in
    * `pairs` gets `cluster_id` = the smallest doc id reachable through
    * the pair graph — the final stage of a dedup pipeline (candidates →
    * verify → CLUSTER → keep one per cluster).
    *
    * Realization: iterative min-label propagation over the edge list —
    * each round is one neighbor-min join + one pointer-doubling join
    * (label(u) ← label(label(u)), the Hash-to-Min / path-halving move),
    * so even adversarial long chains converge in O(log n) rounds, not
    * O(diameter). Every few rounds the label table is localCheckpoint'ed
    * to truncate lineage — without it 20 iterative rounds stack 20
    * join+agg plans onto one tree and planning cost explodes at scale.
    * The driver only checks an aggregate convergence count per round;
    * labels never leave the cluster.
    */
  def clusterPairs(pairs: DataFrame, maxIterations: Int = 20,
                   checkpointEvery: Int = 4, localThreshold: Long = 200000L): DataFrame = {
    // checkpointEvery = 0 would throw ArithmeticException from the
    // modulo mid-loop, AFTER the edge shuffle already ran; maxIterations
    // <= 0 would silently return unconverged initial labels
    require(maxIterations > 0, s"maxIterations must be positive, got $maxIterations")
    require(checkpointEvery > 0, s"checkpointEvery must be positive, got $checkpointEvery")
    // symmetric edge set in ONE scan of `pairs` (explode, not a union
    // of two scans): pairs is usually an UNCACHED verify-join output,
    // and a second scan re-executes that join end-to-end.
    // localCheckpoint, not cache: every loop round below references
    // edges, and each round's pointer-doubling SELF-JOIN doubles the
    // plan tree — with edges carrying the whole verify pipeline's
    // lineage (at probe scale, a 64-way replica union under several
    // joins), the PLAN STRING Spark renders per execution event grows
    // to GiB and OOMs the driver long before any task struggles.
    // Checkpointing collapses edges to a leaf; blocks are freed by the
    // ContextCleaner once the frame is unreachable (same contract as
    // the label table hand-back below).
    // null-endpoint edges dropped UP FRONT, uniformly: an edge with a
    // null id is meaningless, the distributed joins would silently
    // ignore it anyway, and the driver-local finish crashed on it
    // (Row.getLong NPE) — behavior diverging purely on input SIZE,
    // the exact divergence the idsAreLong guard below exists to
    // prevent (r13 review)
    val edges = pairs
      .where(col("id_a").isNotNull && col("id_b").isNotNull)
      .select(explode(array(
        struct(col("id_a").as("u"), col("id_b").as("v")),
        struct(col("id_b").as("u"), col("id_a").as("v")))).as("_e"))
      .select(col("_e.u").as("u"), col("_e.v").as("v"))
      .distinct()
      .localCheckpoint()
    // Adaptive finish: the edge set is the OUTPUT of LSH + verify —
    // near-dup graphs are tiny relative to the corpus (sf0.1: 41 edges
    // from 5k docs). Below the threshold the transitive closure is
    // driver-local union-find on collected (long, long) pairs (≤ ~3 MB
    // at the default — a model-scale artifact, like the IVF centroids),
    // skipping ~2 s/round of distributed-iteration scheduling. Above it
    // the pointer-doubling loop below runs fully distributed; callers
    // probing the distributed path pass localThreshold = 0.
    // the driver-local finish hard-codes LONG ids (getLong + the
    // (Long, Long) toDF): non-bigint id columns must take the
    // type-generic distributed path, or behavior (and output schema)
    // would diverge purely on input SIZE — small corpora crashing with
    // ClassCastException where production-scale runs work
    val idsAreLong = edges.schema.fields.forall(
      _.dataType == org.apache.spark.sql.types.LongType)
    // ONE bounded collect decides and fetches: more than `cap` rows back
    // means the graph is over the threshold (`limit` takes an Int, so
    // the threshold clamps at Int.MaxValue - 1)
    val cap = math.min(localThreshold, Int.MaxValue - 1L).toInt
    val small =
      if (cap > 0 && idsAreLong) edges.limit(cap + 1).collect()
      else Array.empty[Row]
    if (small.nonEmpty && small.length <= cap) {
      val arr = small.map(r => (r.getLong(0), r.getLong(1)))
      // checkpoint blocks are ContextCleaner-reclaimed once `edges`
      // goes unreachable — nothing to unpersist explicitly
      val parent = scala.collection.mutable.Map[Long, Long]()
      def find(x0: Long): Long = {
        var x = x0
        while (parent.getOrElseUpdate(x, x) != x) {
          parent(x) = parent(parent(x)) // path halving
          x = parent(x)
        }
        x
      }
      arr.foreach { case (u, v) =>
        val (ru, rv) = (find(u), find(v))
        if (ru != rv) parent(math.max(ru, rv)) = math.min(ru, rv)
      }
      val nodes = arr.iterator.map(_._1).toArray.distinct
      // union always points the larger root at the smaller and the
      // component's min id can never lose a union, so find(n) IS the
      // component minimum — no second min-of-root pass needed
      val spark = pairs.sparkSession
      import spark.implicits._
      return nodes.toSeq.map(n => (n, find(n))).toDF("id", "cluster_id")
    }
    var labels = edges.groupBy(col("u").as("id"))
      .agg(least(min(col("v")), col("u")).as("cluster_id")).cache()
    var converged = false
    var iter = 0
    while (!converged && iter < maxIterations) {
      // 1. propagate: l'(u) = min(l(u), min over neighbors v of l(v))
      val neighborMin = edges
        .join(labels.withColumnRenamed("id", "v").withColumnRenamed("cluster_id", "nl"), Seq("v"))
        .groupBy(col("u").as("id")).agg(min(col("nl")).as("nmin"))
      val prop = labels.join(neighborMin, Seq("id"), "left")
        .select(col("id"), least(col("cluster_id"), coalesce(col("nmin"), col("cluster_id"))).as("cluster_id"))
      // 2. pointer-double: l''(u) = l'(l'(u)) — label values are node
      //    ids of the same component, so the lookup is a self-join
      val hop = prop.select(col("id").as("cluster_id"), col("cluster_id").as("_grand"))
      val doubled = prop.join(hop, Seq("cluster_id"), "left")
        .select(col("id"),
          least(col("cluster_id"), coalesce(col("_grand"), col("cluster_id"))).as("cluster_id"))
      val next =
        if ((iter + 1) % checkpointEvery == 0) doubled.localCheckpoint()
        else doubled.cache()
      val changed = next.join(labels.withColumnRenamed("cluster_id", "old"), Seq("id"))
        .where(col("cluster_id") =!= col("old")).count()
      labels.unpersist()
      labels = next
      converged = changed == 0
      iter += 1
    }
    // exhausting maxIterations without convergence means the labels are
    // WRONG (a component split across cluster_ids) — and a downstream
    // leakageFreeSplit would then put near-dup twins in train AND test,
    // the exact leak clustering exists to prevent. The require() above
    // rejects maxIterations <= 0 for "silently returning unconverged
    // labels"; silently returning them after N rounds is the same bug.
    if (!converged)
      throw new IllegalStateException(
        s"clusterPairs did not converge within $maxIterations pointer-doubling rounds " +
          "— raise maxIterations (rounds needed grow ~log2 of the longest chain)")
    // Hand back a SELF-RECLAIMING result: materialize the (small) label
    // table into localCheckpoint blocks — freed by the ContextCleaner
    // once the caller drops the DataFrame — and release the loop's
    // CacheManager entry, which would otherwise pin executor storage
    // forever (callers like leakageFreeSplit drop the handle, so they
    // could never unpersist it themselves).
    val out = labels.localCheckpoint()
    labels.unpersist()
    out
  }

  /** Corpus-wide duplicated-span statistics — the exact-substring dedup
    * signal (Lee et al., "Deduplicating Training Data Makes Language
    * Models Better") at word-k-gram granularity: for each document, the
    * fraction of its DISTINCT k-shingles that appear in at least one
    * OTHER document. High `dup_span_frac` = boilerplate/templated text
    * duplicated across the corpus even when no whole-document near-dup
    * fires — the complement of the WITHIN-doc repetition gate
    * (TextAnalysis.repetitionMetrics).
    *
    * Scale shape: one explode of per-doc-distinct shingles (kernel
    * dedups within the doc, so a shingle's occurrence count IS its
    * document frequency), materialized once (read-shared, see
    * minhashLsh); DF via a partial-aggregating
    * groupBy joined back on the shingle (sort-merge, AQE skew-split
    * splits a hot boilerplate span's JOIN partition — a window over the
    * shingle would funnel the hot span's whole row set through ONE
    * unsplittable task, since AQE skew handling applies to joins, not
    * windows); then a per-doc agg keyed by doc id. Linear, no all-pairs.
    */
  def duplicatedSpanStats(docs: DataFrame, textCol: String, idCol: String,
                          k: Int = 5): DataFrame = {
    // NULL-id docs merge into ONE stats row (SQL group semantics; the
    // q77 oracle derives identically): ids are the caller's identity
    // key here, same contract as contamination's pair report — unlike
    // the dedup-decision operators, whose contentHash keeps null-id
    // docs distinct because a MERGE there silently deletes data. A
    // span-stats row is a report, not a keep/drop decision (r15
    // review: documented, deliberately unchanged).
    // NULL-TEXT docs get NO stats row (not n_spans=0): the shingle
    // kernel propagates null and explode drops the row — same exclusion
    // as minhashLsh/simhashPairs/ngramJaccard, stated here because a
    // downstream join of stats back onto the corpus (or a corpus-wide
    // avg(dup_span_frac)) must know those ids are absent, not zero
    // (r17 review: behavior unchanged, contract documented).
    val sh = docs.select(col(idCol).as("doc_id"),
      explode(shingles(col(textCol), k)).as("g")).localCheckpoint(eager = false)
    val dfCounts = sh.groupBy("g").agg(count(lit(1)).as("_df"))
    sh.join(dfCounts, Seq("g"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_spans"),
        round(avg(when(col("_df") > 1, 1.0d).otherwise(0.0d)), 4).as("dup_span_frac"))
  }

  /** Exact n-gram Jaccard similarity for candidate pairs — the verify
    * pass after LSH candidate generation. `pairs` must have id_a/id_b.
    */
  def ngramJaccard(pairs: DataFrame, docs: DataFrame, textCol: String, idCol: String, k: Int = 3): DataFrame = {
    // a null-text doc has no shingles to verify against: its pairs drop
    // from the (inner) join rather than computing a null jaccard (ANSI)
    // or a -1/-1 = 1.0 false-positive perfect match (legacy sizeOfNull).
    // Shingle ONLY candidate docs (semi-join on the pair ids, typically
    // a broadcast filter): the old shape ran the shingle kernel — the
    // file's documented dominant cost — over the FULL corpus once per
    // join side; the verify stage only ever needs the candidates.
    // The pairs frame is usually the LSH candidate pipeline's output
    // and is consumed here by candIds AND the verify join — read-shared
    // (see minhashLsh) so the candidate pipeline runs once, not once
    // per consumer (measured as a 2-3× q60 regression when unpinned).
    val p = pairs.localCheckpoint(eager = false)
    // single pass over p (explode, not a union of two scans). No
    // distinct — the left-semi probe below dedups build keys in its
    // hash table anyway, and the distinct was a whole extra exchange.
    val candIds = p.select(explode(array(col("id_a"), col("id_b"))).as("_jid"))
    // the shingled-candidates frame feeds BOTH pair-join sides (and
    // often a downstream closure that re-reads the verify output) —
    // materialized, candidates-only, tiny. ONE eager job pins the whole
    // chain: materializing sh computes p's partitions exactly once
    // (candIds is its only consumer in this job) and keeps both, so
    // the verify join below reads only materialized blocks.
    // r17 optimization round re-measured this eager pin: REMOVING it is
    // ~0.4 s SLOWER on the q24 shape even at bench scale (the two
    // vector-fetch joins' broadcast builds each re-derive the candidate
    // chain) — keep it.
    val sh = docs.where(col(textCol).isNotNull)
      .select(col(idCol).as("_jid"), col(textCol).as("_jtxt"))
      .join(candIds, Seq("_jid"), "left_semi")
      .select(col("_jid"), shingles(col("_jtxt"), k).as("_jsh"))
      .localCheckpoint(eager = true)
    p
      .join(sh.withColumnRenamed("_jid", "id_a").withColumnRenamed("_jsh", "sh_a"), "id_a")
      .join(sh.withColumnRenamed("_jid", "id_b").withColumnRenamed("_jsh", "sh_b"), "id_b")
      .withColumn("inter", size(array_intersect(col("sh_a"), col("sh_b"))))
      .withColumn("uni", size(array_union(col("sh_a"), col("sh_b"))))
      .withColumn("jaccard", col("inter").cast("double") / col("uni"))
      .drop("sh_a", "sh_b")
  }
}
