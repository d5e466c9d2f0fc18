package graft.operators

import graft.SparkSpec
import graft.SparkSpec.{Sf0001, Sf001}

/** Semantic contracts of the live Lloyd trainer ([[Clustering.qKmeans]])
  * that the value oracle can't see: the objective must improve with
  * rounds (Lloyd's monotonicity), the partition must be total, and the
  * whole loop must be deterministic run-to-run. */
class KmeansSpec extends SparkSpec {

  test("q_kmeans: every vector lands in exactly one cell") {
    val rows = Clustering.qKmeans(spark, Sf0001).collect()
    assert(rows.length <= Clustering.KmK)
    val total = rows.map(_.getAs[Long]("n_vecs")).sum
    val corpus = spark.read.parquet(s"$Sf0001/embeddings.parquet").count()
    assert(total == corpus, s"partition must be total: $total != $corpus")
    assert(rows.forall(_.getAs[Double]("inertia") >= 0.0))
  }

  test("q_kmeans: Lloyd's objective is monotone — 4 rounds beat 1") {
    // strict decimal sums make the inertia reproducible, so this is a
    // real inequality, not a tolerance dance (1e-6 absorbs only the
    // r6 gate-face rounding of the two totals)
    val i1 = Clustering.kmeansInertia(spark, Sf001, 1)
    val i4 = Clustering.kmeansInertia(spark, Sf001, Clustering.KmRounds)
    assert(i4 <= i1 + 1e-6, s"inertia rose with rounds: $i4 > $i1")
  }

  test("q_kmeans: training is deterministic run-to-run") {
    val a = Clustering.qKmeans(spark, Sf0001).collect().map(_.toString)
    val b = Clustering.qKmeans(spark, Sf0001).collect().map(_.toString)
    assert(a.sameElements(b))
  }

  test("vecStore: a ragged or null-element embedding fails loudly with the offending vec_id") {
    import spark.implicits._
    // malformed corpora must fail at store-build time with a pointed
    // error — not NPE downstream in the kmeans column-sums read-back
    val tmp = java.nio.file.Files.createTempDirectory("graft_badvec").toString
    val good = Array.fill(graft.operators.Similarity.Dims)(0.5f)
    Seq((1L, good), (2L, good.take(10)), (3L, good))
      .toDF("vec_id", "embedding")
      .write.mode("overwrite").parquet(s"$tmp/embeddings.parquet")
    val e = intercept[Exception] {
      Clustering.vecStore(spark, tmp).count()
    }
    def messages(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ messages(t.getCause)
    assert(messages(e).exists(m =>
      m.contains("malformed embedding") && m.contains("vec_id=2")),
      s"unexpected error chain: ${messages(e).mkString(" | ")}")
    graft.core.Memo.clear() // drop the poisoned cache entry
  }
}
