package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.Replicas.Offset
import graft.operators.{Dedup, Similarity, TextAnalysis}

/** The scale metamorphic relation: each query runs on the sf0.001 base
  * corpus and on M disjoint replicas of it (`Replicas`), and the two
  * outputs must relate as the replica construction says.
  *  - Exact: the dedup, contamination and closure outputs are M copies
  *    of the base output, ids offset by i × `Offset` in replica i.
  *  - Prefix: exact top-k from a replica-0 query sees every replica, so
  *    its replica-0 neighbours are a prefix of the base top-k.
  *  - Soundness: LSH and trained-quantizer outputs depend on the corpus
  *    size, so only each within-replica row is checked: it maps back to
  *    a base pair with the same exact cosine.
  * This is the oracle for what DuckDB cannot check: the rows-only ANN
  * queries and the closure family at more than one corpus size.
  */
class ScaleRelationSpec extends AnyFunSuite with SparkTestSession {

  private val M = 3
  private val baseDir = "/root/testdata/sf0.001"
  private lazy val tmp = java.nio.file.Files.createTempDirectory("graft_scale_relation")
  private lazy val repDir: String = {
    val d = s"$tmp/x$M"
    Replicas.write(spark, baseDir, M, d)
    d
  }

  override def afterAll(): Unit =
    try Fs.deleteRecursively(tmp.toFile) finally super.afterAll()

  private def rows(df: DataFrame): Seq[Seq[Any]] = df.collect().toSeq.map(_.toSeq)
  private def run(key: String, dir: String): Seq[Seq[Any]] =
    rows(SparkEntry.queries(key)(spark, dir))

  /** `base` copied into each of the M replicas, shifting the columns in `ids`. */
  private def copies(base: Seq[Seq[Any]], ids: Set[Int]): Seq[Seq[Any]] =
    for (i <- 0 until M; r <- base) yield r.zipWithIndex.map {
      case (v: Long, j) if ids(j) => v + i * Offset
      case (v, _) => v
    }

  private def assertSameRows(got: Seq[Seq[Any]], want: Seq[Seq[Any]], what: String): Unit = {
    val missing = want.diff(got)
    val extra = got.diff(want)
    assert(missing.isEmpty && extra.isEmpty,
      s"$what: ${missing.size} rows missing (${missing.take(3)}), " +
        s"${extra.size} extra (${extra.take(3)})")
  }

  private def assertExact(key: String, idCols: String*): Unit = {
    val df = SparkEntry.queries(key)(spark, baseDir)
    val base = rows(df)
    assert(base.nonEmpty, s"$key is empty on the base corpus: the relation would be vacuous")
    assertSameRows(run(key, repDir), copies(base, idCols.map(c => df.columns.indexOf(c)).toSet), key)
  }

  /** Every (a, b, cos) maps back to base ids whose exact rounded cosine is `cos`. */
  private def assertSound(pairs: Seq[(Long, Long, Double)], what: String): Unit = {
    val s = spark
    import s.implicits._
    val e = graft.api.Tables.load(spark, baseDir, "embeddings")
    val wrong = pairs.map { case (a, b, c) => (a % Offset, b % Offset, c) }
      .toDF("a", "b", "cos")
      .join(e.select(col("vec_id").as("a"), col("embedding").as("va")), "a")
      .join(e.select(col("vec_id").as("b"), col("embedding").as("vb")), "b")
      .where(round(Similarity.cosine(col("va"), col("vb")), 4) =!= col("cos"))
      .count()
    assert(wrong == 0, s"$what: $wrong of ${pairs.size} within-replica rows have no base twin")
  }

  private def replica(id: Long): Long = id / Offset

  test("replica inputs: sf0.001 meets the three preconditions, and each check rejects its violation") {
    val s = spark
    import s.implicits._
    val docs = spark.read.parquet(s"$baseDir/documents.parquet")
    val emb = spark.read.parquet(s"$baseDir/embeddings.parquet")
    Replicas.checkReplicable(docs, emb)
    def rejects(d: DataFrame, e: DataFrame, msg: String): Unit =
      assert(intercept[IllegalArgumentException](Replicas.checkReplicable(d, e))
        .getMessage.contains(msg))
    val goodDocs = Seq((1L, "a b c")).toDF("doc_id", "text")
    val goodEmb = Seq(1L).toDF("vec_id")
    rejects(Seq((1L, "12 34")).toDF("doc_id", "text"), goodEmb, "letter-free/null")
    rejects(Seq((1L, "an 1 2 3 end")).toDF("doc_id", "text"), goodEmb, "consecutive letter-free")
    rejects(Seq((Offset, "a b c")).toDF("doc_id", "text"), goodEmb, "doc_id")
    rejects(goodDocs, Seq(Offset).toDF("vec_id"), "vec_id")
  }

  test("exact: q23 exact dedup and q56 keep-best are M copies of the base output") {
    assertExact("q23_dedup_exact", "keep_id")
    assertExact("q56_dedup_keep_best", "keep_id")
  }

  test("exact: q64 contamination and q77 duplicated spans are M copies of the base output") {
    // the benchmark side (doc_id % 50 == 0) is replica-closed: 1e8 % 50 == 0
    assertExact("q64_contamination", "doc_id", "bench_id")
    assertExact("q77_dup_spans", "doc_id")
  }

  test("exact: q57 and q70 closures are M copies (cluster_id is the component minimum)") {
    assertExact("q57_dedup_clusters", "doc_id", "cluster_id")
    assertExact("q70_dedup_clusters_dist", "doc_id", "cluster_id")
  }

  test("exact: the q60 curation chain, with detected carried and the token floor as its gate") {
    // q60's `detected === lang` gate would empty every rotated replica,
    // so the gate here is the token floor alone; langId still runs
    def curated(dir: String): DataFrame = {
      val gated = graft.api.Tables.load(spark, dir, "documents")
        .withColumn("detected", TextAnalysis.langId(col("text")))
        .withColumn("n_ws", TextAnalysis.tokenCountWs(col("text")))
        .filter(col("n_ws") >= 5)
      val keep = Dedup.exactKeepBest(gated, "text", "doc_id", col("n_chars"))
        .select(col("keep_id").as("doc_id"))
      val uniq = gated.join(keep, Seq("doc_id"), "left_semi")
      val cand = Dedup.minhashLsh(uniq, "text", "doc_id").select("id_a", "id_b")
      val verified = Dedup.ngramJaccard(cand, uniq, "text", "doc_id")
        .where(col("jaccard") >= 0.8).select("id_a", "id_b")
      val dropped = Dedup.clusterPairs(verified, localThreshold = 0L)
        .where(col("id") =!= col("cluster_id")).select(col("id").as("doc_id"))
      uniq.join(dropped, Seq("doc_id"), "left_anti").select(col("doc_id"), col("detected"))
    }
    val base = rows(curated(baseDir))
    val rep = rows(curated(repDir))
    assert(base.nonEmpty)
    // detected is a function of the rotated text, so only replica 0 keeps it
    assertSameRows(rep.map(_.take(1)), copies(base.map(_.take(1)), Set(0)), "q60 survivors")
    assertSameRows(rep.filter(r => replica(r.head.asInstanceOf[Long]) == 0), base,
      "q60 replica 0")
  }

  test("prefix: q27 exact top-k, replica-0 neighbours are a prefix of the base top-k") {
    def byQuery(rs: Seq[Seq[Any]]): Map[Long, Seq[(Long, Double)]] =
      rs.groupBy(_.head.asInstanceOf[Long]).map { case (q, qs) =>
        q -> qs.sortBy(_(3).asInstanceOf[Long])
          .map(r => (r(1).asInstanceOf[Long], r(2).asInstanceOf[Double]))
      }
    val base = byQuery(run("q27_ann_bruteforce", baseDir))
    val rep = byQuery(run("q27_ann_bruteforce", repDir))
    assert(rep.keySet == base.keySet && base.nonEmpty)
    var within = 0
    base.foreach { case (q, topK) =>
      val mine = rep(q).filter { case (n, _) => replica(n) == 0 }
      assert(mine == topK.take(mine.size), s"query $q: $mine is not a prefix of $topK")
      within += mine.size
    }
    assert(within > 0, "no replica-0 neighbour in any top-k: the relation would be vacuous")
  }

  test("soundness: q58 LSH near-dup pairs within each replica are base pairs with the same cosine") {
    val within = run("q58_embed_dedup_lsh", repDir)
      .map(r => (r(0).asInstanceOf[Long], r(1).asInstanceOf[Long], r(2).asInstanceOf[Double]))
      .filter { case (a, b, _) => replica(a) == replica(b) }
    assert(within.map(p => replica(p._1)).toSet == (0 until M).map(_.toLong).toSet,
      "some replica has no within-replica pair")
    assertSound(within, "q58")
  }

  test("soundness: q75 IVF-PQ neighbours within replica 0 are base pairs with the same cosine") {
    val within = run("q75_ann_ivfpq", repDir)
      .map(r => (r(0).asInstanceOf[Long], r(1).asInstanceOf[Long], r(2).asInstanceOf[Double]))
      .filter { case (q, n, _) => replica(q) == replica(n) }
    assert(within.nonEmpty, "no replica-0 neighbour: the relation would be vacuous")
    assertSound(within, "q75")
  }

  test("wrapped law: a replica repeating rotation 0 is collapsed by q23") {
    val dir = s"$tmp/wrapped"
    Replicas.multiplyDocs(spark.read.parquet(s"$baseDir/documents.parquet"), Seq(0, 26))
      .write.parquet(s"$dir/documents.parquet")
    val base = run("q23_dedup_exact", baseDir)
    // same groups and keep ids (replica 0 holds each group's minimum), twice the members
    assertSameRows(run("q23_dedup_exact", dir),
      base.map { case Seq(k, n: Long) => Seq(k, 2 * n) }, "q23 over rotations 0 and 26")
  }
}
