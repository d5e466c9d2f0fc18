package graft.operators

import graft.SparkSpec
import graft.SparkSpec.{Sf0001, Sf001}

/** Semantic contracts for the round-7 selection/ranking family —
  * properties the hash oracle can't express: MMR's greedy invariants,
  * the priority-sampling estimator guarantee, and UniMax's waterfill
  * tightness. */
class SelectionOpsSpec extends SparkSpec {

  test("q_mmr_rerank: step 1 is the pure-relevance top hit; selections never repeat") {
    val mmr = Similarity.qMmr(spark, Sf0001).collect()
    val byQuery = mmr.groupBy(_.getAs[Long]("query_id"))
    // cross-check step 1 against the brute-force kNN rank 1
    val top1 = Similarity.qKnnBruteForce(spark, Sf0001).collect()
      .filter(_.getAs[Long]("rank") == 1L)
      .map(r => r.getAs[Long]("query_id") -> r.getAs[Long]("neighbor_id"))
      .toMap
    byQuery.foreach { case (q, rows) =>
      val steps = rows.sortBy(_.getAs[Long]("step"))
      assert(steps.length == Similarity.MmrSteps)
      assert(steps.head.getAs[Long]("doc_id") == top1(q),
        s"query $q: MMR step 1 must equal the relevance argmax")
      val docs = steps.map(_.getAs[Long]("doc_id"))
      assert(docs.distinct.length == docs.length, s"query $q repeated a doc")
    }
  }

  test("q_mmr_rerank: NaN scores take the SQL order (NaN first, ties to the smallest doc id)") {
    import spark.implicits._
    // cosine against a vector with a NaN component is NaN in Spark and
    // DuckDB alike (a zero-norm vector's is NULL in both). Docs 0-4 lie on
    // one fan in the plane, so by relevance each query's nearest
    // neighbours are NOT in doc-id order; doc 5 carries a NaN.
    val dir = java.nio.file.Files.createTempDirectory("graft_mmr_nan").toString
    def vec(a: Double, b: Double) = (Seq(a, b) ++ Seq.fill(Similarity.Dims - 2)(1e-3)).toArray
    ((0L to 4L).map(i => (i, vec(1.0, 4.0 - i))) :+ ((5L, vec(Double.NaN, 1.0))))
      .toDF("vec_id", "embedding").write.parquet(s"$dir/embeddings.parquet")
    val picks = Similarity.qMmr(spark, dir).collect()
      .groupBy(_.getAs[Long]("query_id"))
      .map { case (q, rows) => q -> rows.sortBy(_.getAs[Long]("step")).map(_.getAs[Long]("doc_id")).toSeq }
    // ORDER BY score DESC, doc_id: a query's step-1 score against doc 5
    // is NaN, so doc 5 comes first; from step 2 every candidate's
    // max-sim penalty against doc 5 is NaN, so all scores tie and the
    // smallest doc id wins. Query 5's own relevances are all NaN.
    val expected = (0L to 5L).map { q =>
      val others = (0L to 5L).filter(_ != q)
      q -> (if (q == 5L) others else 5L +: others.filter(_ != 5L))
    }.toMap
    assert(picks == expected)
  }

  test("q_knn_brute, q_mmr_rerank: a zero-norm vector's cosine is NULL, as in SQL") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_zero_norm").toString
    def vec(i: Long) = Array.tabulate(Similarity.Dims)(d => if (i == 3L) 0.0 else 1.0 + (d * (i + 1)) % 7)
    (0L to 5L).map(i => (i, vec(i))).toDF("vec_id", "embedding")
      .write.parquet(s"$dir/embeddings.parquet")
    val knn = Similarity.qKnnBruteForce(spark, dir).collect()
    assert(knn.length == 6 * Similarity.TopK)
    knn.foreach { r =>
      val zero = r.getAs[Long]("query_id") == 3L || r.getAs[Long]("neighbor_id") == 3L
      assert(r.isNullAt(r.fieldIndex("cosine")) == zero, r)
    }
    val mmr = Similarity.qMmr(spark, dir).collect()
    assert(mmr.length == 6 * Similarity.MmrSteps)
    mmr.foreach { r =>
      val zero = r.getAs[Long]("query_id") == 3L || r.getAs[Long]("doc_id") == 3L
      assert(r.isNullAt(r.fieldIndex("rel")) == zero && r.isNullAt(r.fieldIndex("mmr_score")) == zero, r)
    }
    // a NULL relevance ranks below every number: the zero vector is
    // each other query's last pick
    assert(mmr.filter(_.getAs[Long]("doc_id") == 3L).forall(_.getAs[Long]("step") == Similarity.MmrSteps))
  }

  test("q_priority_sample: per-source counts and the ŵ = max(w, τ) estimator floor") {
    val rows = Sampling.qPrioritySample(spark, Sf001).collect()
    val pop = spark.read.parquet(s"$Sf001/documents.parquet")
      .groupBy("source").count().collect()
      .map(r => r.getAs[String]("source") -> r.getAs[Long]("count")).toMap
    val bySource = rows.groupBy(_.getAs[String]("source"))
    assert(bySource.keySet == pop.keySet)
    bySource.foreach { case (s, rs) =>
      assert(rs.length == math.min(Sampling.PriK, pop(s)),
        s"source $s kept ${rs.length} of pop ${pop(s)}")
      rs.foreach { r =>
        assert(r.getAs[Double]("w_est") >= r.getAs[Long]("n_chars").toDouble - 1e-9)
      }
    }
  }

  test("q_priority_sample: subset-sum estimate tracks the population mass") {
    // Σ ŵ over the sample is unbiased for Σ w (Duffield et al. 2007);
    // with k=16 of ~25 docs per source the realized error is small —
    // bound it loosely so the test pins the estimator wiring, not luck
    val est = Sampling.qPrioritySample(spark, Sf001).collect()
      .map(_.getAs[Double]("w_est")).sum
    val truth = spark.read.parquet(s"$Sf001/documents.parquet")
      .agg(org.apache.spark.sql.functions.sum("n_chars")).head.getLong(0).toDouble
    assert(math.abs(est - truth) / truth < 0.25,
      s"priority estimate $est vs population $truth drifted > 25%")
  }

  test("q_unimax_alloc: allocations respect caps and the waterfill is tight") {
    val rows = Sampling.qUnimaxAlloc(spark, Sf001).collect()
    val n = rows.length.toLong
    val b = Sampling.UniMaxBudgetEpochs * rows.map(_.getAs[Long]("sz")).sum
    val alloc = rows.map(_.getAs[Long]("alloc")).sum
    rows.foreach { r =>
      assert(r.getAs[Long]("alloc") <= r.getAs[Long]("cap"))
      assert(r.getAs[Double]("epochs") <= Sampling.UniMaxEpochs + 1e-9)
    }
    assert(alloc <= b, "allocation must not exceed the budget")
    val capped = rows.forall(r => r.getAs[Long]("alloc") == r.getAs[Long]("cap"))
    // integer waterfill leaves less than one token per source unspent
    assert(capped || b - alloc < n, s"waterfill left ${b - alloc} unspent with $n sources")
  }

  test("q_margin_mine: margins rescale cosine by neighborhood density") {
    val rows = Similarity.qMarginMine(spark, Sf0001).collect()
    assert(rows.length == Similarity.MarginProbes)
    // every probe reports its best-margin candidate with finite score
    rows.foreach { r =>
      val m = r.getAs[Double]("margin")
      assert(!m.isNaN && !m.isInfinite)
    }
  }

  test("q_maxsim: per-query-token maxima bound the pooled score") {
    val rows = Similarity.qMaxSim(spark, Sf0001).collect()
    val byQ = rows.groupBy(_.getAs[Long]("q_doc"))
    byQ.foreach { case (_, rs) =>
      assert(rs.length == Similarity.MaxSimTopK)
      // MaxSim sums ≤ MaxSimDocVecs cosines, each ≤ 1
      rs.foreach(r =>
        assert(r.getAs[Double]("score") <= Similarity.MaxSimDocVecs + 1e-9))
      // ranking is consistent with scores
      val sorted = rs.sortBy(_.getAs[Long]("rank"))
      val scores = sorted.map(_.getAs[Double]("score"))
      assert(scores.zip(scores.tail).forall { case (a, b) => a >= b })
    }
  }
}
