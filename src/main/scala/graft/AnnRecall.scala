package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.Similarity

/** Measured ANN recall-vs-exact at the benched SF, emitted into the
  * per-round bench artifact.
  *
  * The recall floors for the approximate similarity operators otherwise
  * live only in SimilaritySpec at test scale — a config drift (bands,
  * nprobe, refine depth) that silently halved recall at the benched SF
  * would pass every spec and every rows-only correctness check. This
  * probe re-runs the exact baselines (q27 brute-force top-k, q38 exact
  * cosine self-join) and each approximate query at the SAME scale the
  * bench times, and writes measured recall + its floor into the
  * artifact so the drift is visible in per-round JSON.
  *
  * Floors are drift TRIPWIRES, not quality claims: set below the
  * operator's expected recall at these parameters.
  *
  * q58's contractual tier uses PLANTED twins: the synthetic embedding
  * corpus has essentially no natural high-cosine pairs at ANY SF
  * (measured r7: zero exact pairs at cos ≥ 0.6 everywhere, 14 at
  * cos ≥ 0.5 only at sf0.1), so a natural-pair cutoff is vacuous — its
  * floor could never trip. Instead the probe plants deterministic
  * near-duplicate twins spanning cos ≈ 0.78–0.96 (additive noise scaled
  * to each vector's norm, difficulty stepping by base id — the hard end
  * sits where banding regressions bite first), runs the SHIPPED q58
  * operator (SparkEntry.Q58Config — shared constants, no param drift)
  * over the augmented corpus, and measures recall on the planted pairs
  * with verified cos ≥ 0.80. `n_exact` is the planted tier size
  * (170–179 at every SF, > 0 by construction). Floor 0.95 calibration
  * (r7, deterministic — same twins/hyperplanes/corpus each run):
  * shipped config measures 0.978–0.994 across sf0.001/0.01/0.1;
  * deliberate regressions measure 0.900–0.924 (numBands 10→5 and
  * bandBits 6→8, both SFs) — the floor demonstrably trips on either.
  * `q58…_all` records recall against ALL natural exact pairs at the
  * shipped threshold (Q58Config.minCos) — the production-meaning
  * number, GATED at floor 0.85 since r11: exact 6-bit band matching at
  * cos≈0.3 collides at only ~0.4 (r10's measured 0.407), and the
  * Hamming-1 band multi-probe (Q58Config.probeBits) lifts the measured
  * broad recall to 0.94–0.95 across sf0.001/0.01/0.1. Losing the probe
  * ring trips this floor; corpus variance does not.
  */
object AnnRecall {

  final case class Entry(key: String, recall: Double, floor: Double, nExact: Long) {
    def ok: Boolean = recall >= floor
  }

  /** Id offset for planted twins — far above any real vec_id. */
  private val TwinOffset = 100000000L

  /** Planted twins for `bases`: additive per-dimension noise scaled to
    * the vector's own norm, with difficulty stepping by base id so the
    * planted tier spans easy (cos≈0.99) to hard (cos≈0.82) near-dups —
    * the hard end is what makes the recall floor sensitive to banding
    * regressions. Deterministic (xxhash64 of (id, dim index)): the same
    * twins every round, so the measurement is comparable across rounds.
    * `idOffset` must clear every id in the target corpus: a corpus
    * whose ids reach the default TwinOffset needs a higher offset.
    */
  private[graft] def withTwinVec(bases: DataFrame, dim: Int,
                                 idOffset: Long = TwinOffset,
                                 guardTarget: Option[DataFrame] = None): DataFrame = {
    // ENFORCED, not just documented (r14 review): a corpus id at/above
    // the offset collides with a planted twin id — two different
    // vectors under one id make the pair identity ambiguous, and the
    // recall floor reads a silently corrupted number. The guard runs
    // over `guardTarget` — the corpus the twins are UNIONED INTO — not
    // over `bases`: both callers pass the 200 SMALLEST ids as bases,
    // so a bases-max check could essentially never trip and would miss
    // exactly the r14-class collision it was added for (a corpus whose
    // real ids reach the offset; r16 review). One aggregation per
    // measurement; the measurement already collects pair sets, so this
    // costs nothing visible.
    val guard = guardTarget.getOrElse(bases)
    val maxId = Option(guard.agg(max(col("vec_id"))).head.get(0))
      .map(_.asInstanceOf[Number].longValue).getOrElse(-1L)
    require(maxId < idOffset,
      s"twin idOffset $idOffset does not clear the corpus (max vec_id $maxId) — " +
        "planted ids would collide with real vectors and corrupt the recall measurement")
    bases.select(col("vec_id"), col("embedding"),
      (col("vec_id") + lit(idOffset)).as("tid"),
      expr(
        s"""transform(embedding, (x, i) -> cast(
              x + (0.5 + 1.0 * (vec_id % 10) / 10.0)
                * sqrt(aggregate(embedding, cast(0.0 as double),
                                 (a, y) -> a + cast(y as double) * cast(y as double)) / $dim)
                * ((pmod(xxhash64(vec_id, i), 2000) / 1000.0) - 1.0)
            as float))""").as("tvec"))
  }

  def measure(spark: SparkSession, sfDir: String): Seq[Entry] = {
    // exact top-10 per query (5 queries × k=10 — a driver-scale set)
    val exactTopK: Set[(Long, Long)] =
      SparkEntry.queries("q27_ann_bruteforce")(spark, sfDir)
        .select("query_id", "neighbor_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet

    def topk(name: String, floor: Double): Entry = {
      val approx = SparkEntry.queries(name)(spark, sfDir)
        .select("query_id", "neighbor_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      Entry(name, approx.intersect(exactTopK).size.toDouble / math.max(exactTopK.size, 1),
        floor, exactTopK.size.toLong)
    }

    // exact near-dup pair set (distributed joins — the pair sets scale
    // with the corpus, so nothing here lands on the driver). NO
    // .distinct(): both producers already emit canonical, deduplicated
    // pairs (exactCosineSelfJoin's block grid emits each id_a<id_b pair
    // exactly once; embeddingNearDupPairsLsh least/greatest-canonicalizes
    // and dropDuplicates on the pair key), so a distinct here would be a
    // pure wasted full exchange over every corpus-scale pair set (r11
    // review). The least/greatest rename is narrow and free.
    def canonPairs(df: DataFrame): DataFrame =
      df.select(least(col("id_a"), col("id_b")).as("pa"),
                greatest(col("id_a"), col("id_b")).as("pb"))

    val exact = canonPairs(SparkEntry.queries("q38_embed_dedup")(spark, sfDir))
    // approx58 is NOT cached: it has exactly one consuming action (the
    // hitAll join-count) — a MEMORY_AND_DISK materialization of the
    // broad-threshold pair set, the largest in the measurement, was a
    // pure corpus-scale waste pinned with zero reuse (r16 review)
    val approx58 = canonPairs(SparkEntry.queries("q58_embed_dedup_lsh")(spark, sfDir))

    // ---- q58 planted high-sim tier (see scaladoc) ----
    import SparkEntry.Q58Config
    val emb = api.Tables.load(spark, sfDir, "embeddings").select(col("vec_id"), col("embedding"))
    // 200 rows — cached so the TakeOrdered scan + twin transform run once
    // (plantedTier AND augmented both consume it). Twins union into the
    // FULL corpus, so the collision guard checks emb, not the bases.
    val twinned = withTwinVec(emb.orderBy("vec_id").limit(200), Q58Config.dim,
      guardTarget = Some(emb))
    val plantedTier = twinned.select(col("vec_id").as("pa"), col("tid").as("pb"),
        Similarity.cosine(col("embedding"), col("tvec")).as("cos"))
      .filter(col("cos") >= 0.80).select("pa", "pb")
    try {
      // cache registrations INSIDE the try: registered before it, a
      // failure in the frame construction above (including the
      // collision require itself firing) skipped the finally and
      // leaked the registrations for the session's remaining lifetime
      // — Bench catches NonFatal and keeps the session alive for the
      // artifact (r16 review)
      exact.cache(); twinned.cache(); plantedTier.cache()
      val nAll = exact.count()
      val hitAll = approx58.join(exact, Seq("pa", "pb")).count()
      val augmented = emb.unionByName(
        twinned.select(col("tid").as("vec_id"), col("tvec").as("embedding")))
      val approxPlanted = canonPairs(
        Similarity.embeddingNearDupPairsLsh(augmented, "vec_id", "embedding",
          dim = Q58Config.dim, minCos = Q58Config.minCos,
          numBands = Q58Config.numBands, bandBits = Q58Config.bandBits,
          probeBits = Q58Config.probeBits))
      val nPlanted = plantedTier.count()
      val hitPlanted = approxPlanted.join(plantedTier, Seq("pa", "pb")).count()
      // floors sit ~0.1 under the minimum measured across sf0.001/0.01/
      // 0.1 at the current parameters (q28 1.0 at every SF with r8's
      // Hamming-2 multi-probe — floor 0.90 sits ABOVE the 0.84 the old
      // Hamming-1 probing measured, so losing the second probe ring
      // trips it; q52 0.94-0.98 and q75 0.92-0.94 at r7's nprobe=24 +
      // 2-cell soft assignment, q74 1.00 at m=16/refine=12 (r10), q58 planted
      // tier measured per-SF before calibration), so a param drift that
      // meaningfully degrades recall trips them while corpus-to-corpus
      // variance does not
      Seq(
        // q28 tightened 0.85 → 0.90 (r16 verdict task 6): measured 1.00
        // for four consecutive rounds; the ~0.1-under-minimum convention
        // keeps the tripwire honest — r8's Hamming-2 multi-probe is
        // load-bearing (Hamming-1 measured 0.84, exact bands lower), so
        // losing a probe ring still trips while ambient variance cannot
        topk("q28_ann_lsh", floor = 0.90),
        // q52/q75 floors raised to the stated ~0.1-under-minimum
        // convention (r16 review): at 0.8 they sat ~0.15 under their
        // measured minima (q52 0.94-0.98, q75 0.92-0.94), so a drift
        // larger than the one the floors were calibrated to catch
        // (r7's nprobe revert measured 0.68-0.76) could pass. The
        // measurements are deterministic per corpus (fixed seeds), so
        // the tightened floors do not add ambient flake.
        topk("q52_ann_ivf", floor = 0.85),
        // r10: m 8→16 + refine 8→12 lifted q74 from 0.86 to 1.00 at every
        // SF; floor 0.9 per the ~0.1-under-minimum convention — a revert
        // to m=8 (measured 0.86-1.0) trips it, ambient variance does not
        topk("q74_ann_pq", floor = 0.9),
        topk("q75_ann_ivfpq", floor = 0.82),
        Entry("q58_embed_dedup_lsh",
          if (nPlanted == 0) 0.0 else hitPlanted.toDouble / nPlanted, 0.95, nPlanted),
        // the BROAD tier (all exact pairs at the shipped minCos=0.3) is
        // the production-meaning recall. r11's Hamming-1 band
        // multi-probe lifted it 0.407 → 0.94-0.95 measured across
        // sf0.001/0.01/0.1; floor 0.85 per the ~0.1-under-minimum
        // convention — losing the probe ring (exact bands measure ~0.4)
        // trips it, corpus-to-corpus variance does not
        // nAll == 0 fails LOUD (0.0), like the planted tier above: a
        // vacuous 1.0 would silently disarm the floor forever if a
        // corpus/threshold change emptied the exact pair set (r13
        // review) — n_exact in the artifact would be the only tell
        Entry("q58_embed_dedup_lsh_all",
          if (nAll == 0) 0.0 else hitAll.toDouble / nAll, 0.85, nAll))
    } finally {
      exact.unpersist()
      approx58.unpersist()
      plantedTier.unpersist()
      twinned.unpersist()
    }
  }
}
