package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.GraftSession
import graft.operators.{Analytics, Clustering, Corpus, Dedup, EventWindows, Graph, Multimodal, Scale, Similarity, Temporal}
import graft.sources.Tables
import graft.streaming.PositionTracker

/**
 * Local proxy for the 100× mandate: run the eighteen heaviest pipelines at
 * sf0.1 and at a generated 10× replica of it, and report the runtime
 * ratio — anything super-linear names a plan to fix. Results land in
 * SCALING.md. Run with:
 *   sbt "Test/runMain graft.tools.ScalingHarness"
 *
 * The 10× corpus replicates sf0.1 with shifted ids and per-replica
 * content perturbation chosen to PRESERVE the data's structural
 * densities (what linear scaling is measured against):
 *  - documents: every token is prefixed with a replica tag, so
 *    intra-replica near-dup families are preserved exactly while
 *    cross-replica Jaccard is ~0 — family count grows 10×, family
 *    SIZE stays constant (appending a suffix instead would create
 *    cross-replica near-dups and quadratic pair growth by
 *    construction, which would measure the data, not the plan);
 *  - embeddings: deterministic per-(replica, dim) jitter keeps
 *    vectors distinct while leaving the isotropic geometry alone;
 *  - events: user ids shift per replica — 10× keys, constant per-key
 *    history, the shape a stateful replay scales along.
 */
object ScalingHarness {
  import graft.operators.Relational.ColInterp

  val Replicas = 10

  def generate(spark: SparkSession, src: String, dst: String): Unit = {
    val docs = Tables.documents(spark, src)
    val embs = Tables.embeddings(spark, src)
    val evs = spark.read.parquet(s"$src/events.parquet")
    def replicated(df: DataFrame)(f: (DataFrame, Int) => DataFrame): DataFrame =
      (0 until Replicas).map(i => f(df, i)).reduce(_ unionByName _)

    replicated(docs) { (d, i) =>
      d.withColumn("doc_id", $"doc_id" + lit(i.toLong * 10000000L))
        .withColumn("text",
          if (i == 0) $"text"
          else regexp_replace($"text", "(\\S+)", s"r$i" + "_$1"))
    }.write.mode("overwrite").parquet(s"$dst/documents.parquet")

    replicated(embs) { (d, i) =>
      d.withColumn("vec_id", $"vec_id" + lit(i.toLong * 10000000L))
        .withColumn("embedding",
          if (i == 0) $"embedding"
          else transform($"embedding",
            (x, j) => (x + (pmod(j * 31 + lit(i * 97), lit(19)) - 9)
              .cast("float") * lit(0.002f)).cast("float")))
    }.write.mode("overwrite").parquet(s"$dst/embeddings.parquet")

    replicated(evs) { (d, i) =>
      d.withColumn("event_id", $"event_id" + lit(i.toLong * 10000000L))
        .withColumn("user_id", $"user_id" + lit(i.toLong * 1000000L))
    }.write.mode("overwrite").parquet(s"$dst/events.parquet")

    // round-8: the salted-join pipeline reads the TPC-H fact pair —
    // keys shift per replica so join fan-out per key stays constant
    // (10× keys, constant matches per key: the shape a fact-fact join
    // scales along)
    val ord = spark.read.parquet(s"$src/orders.parquet")
    val li = spark.read.parquet(s"$src/lineitem.parquet")
    replicated(ord) { (d, i) =>
      d.withColumn("o_orderkey", $"o_orderkey" + lit(i.toLong * 100000000L))
        .withColumn("o_custkey", $"o_custkey" + lit(i.toLong * 10000000L))
    }.write.mode("overwrite").parquet(s"$dst/orders.parquet")
    replicated(li) { (d, i) =>
      d.withColumn("l_orderkey", $"l_orderkey" + lit(i.toLong * 100000000L))
    }.write.mode("overwrite").parquet(s"$dst/lineitem.parquet")

    // round-10: ppr (seed cohort) and k_anonymity (QI groups) read the
    // customer dim — custkeys shift in lockstep with orders so the
    // fact join and the nation-7 seed set both scale 10×
    val cust = spark.read.parquet(s"$src/customer.parquet")
    replicated(cust) { (d, i) =>
      d.withColumn("c_custkey", $"c_custkey" + lit(i.toLong * 10000000L))
    }.write.mode("overwrite").parquet(s"$dst/customer.parquet")

    // round-10b: fd_audit reads the remaining dims — bounded catalogs
    // in any deployment, copied 1× (their FD structure is what's
    // audited; replicating rows would only duplicate groups)
    Seq("nation", "region", "part", "supplier").foreach { t =>
      spark.read.parquet(s"$src/$t.parquet")
        .write.mode("overwrite").parquet(s"$dst/$t.parquet")
    }
  }

  private def annCorpus(spark: SparkSession, dir: String): DataFrame =
    Tables.embeddingsSharded(spark, dir)
      .select($"vec_id", $"embedding".cast("array<double>").as("v"))

  def pipelines(spark: SparkSession): Seq[(String, String => Long)] = {
    // Semantic dedup scales k with the corpus (constant expected cell
    // size — the paper's deployment stance); the k-means index build is
    // training work paid once per corpus, memoized outside the timed
    // fold so the ratio measures the dedup plan, not KMeans.
    val semCents = scala.collection.mutable.Map.empty[String, Seq[Seq[Double]]]
    def semanticDedup(dir: String): Long = {
      val corpus = annCorpus(spark, dir)
      val k = if (dir.endsWith("scaling_sf1")) 80 else 8
      val cents = semCents.getOrElseUpdate(dir, Similarity.ivfCentroids(corpus, k))
      Similarity.semanticDedup(corpus, cents, Similarity.SemDedupThreshold).count()
    }
    Seq(
    "lsh_pairs_clusters_decision" ->
      (dir => Clustering.qDedupDecision(spark, dir).count()),
    "corpus_verdict" ->
      (dir => Corpus.qCorpusVerdict(spark, dir).count()),
    "ann_lsh_topk_prod_params" ->
      (dir => Similarity.annLshTopK(annCorpus(spark, dir),
        $"vec_id" < 100, 5, Similarity.LshParams()).count()),
    "position_replay" ->
      (dir => PositionTracker.qPositionEvents(spark, dir).count()),
    "winsorize" ->
      (dir => Analytics.qWinsorize(spark, dir).count()),
    "contam_spans" ->
      (dir => Corpus.qContamSpans(spark, dir).count()),
    "substring_dedup" ->
      (dir => graft.operators.Dedup.qSubstringDedup(spark, dir).count()),
    "semantic_dedup" -> (semanticDedup(_)),
    "corpus_rewrite" ->
      (dir => Corpus.qCorpusRewrite(spark, dir).count()),
    "incremental_dedup" ->
      (dir => graft.operators.Dedup.qIncrementalDedup(spark, dir).count()),
    "bm25" ->
      (dir => graft.operators.TextOps.qBm25(spark, dir).count()),
    "shingle_novelty" ->
      (dir => Corpus.qShingleNovelty(spark, dir).count()),
    "quality_tiers" ->
      (dir => graft.operators.Sampling.qQualityTiers(spark, dir).count()),
    "inverted_index" ->
      (dir => graft.operators.TextOps.qInvertedIndex(spark, dir).count()),
    "containment_pairs" ->
      (dir => graft.operators.Dedup.qContainmentPairs(spark, dir).count()),
    "dedup_masks" ->
      (dir => graft.operators.Dedup.qDedupMasks(spark, dir).count()),
    "lm_score" ->
      (dir => graft.operators.TextOps.qLmScore(spark, dir).count()),
    "pq_encode" ->
      (dir => graft.operators.Embeddings.qPqEncode(spark, dir).count()),
    // Round-7 additions. kmeans_train is the live trainer: K rounds ×
    // one corpus scan + slim (cell, dim) update each — the ratio
    // measures the loop body, the bounded model read-backs are
    // corpus-independent. margin_mine/maxsim are broadcast-probe
    // single-scan scorers (probe count fixed by contract, corpus side
    // grows). priority_sample is one slim per-source rank shuffle.
    // phrase_search is pure per-row work — the zero-shuffle exemplar.
    "kmeans_train" ->
      (dir => Clustering.qKmeans(spark, dir).count()),
    "margin_mine" ->
      (dir => Similarity.qMarginMine(spark, dir).count()),
    "maxsim" ->
      (dir => Similarity.qMaxSim(spark, dir).count()),
    "priority_sample" ->
      (dir => graft.operators.Sampling.qPrioritySample(spark, dir).count()),
    "phrase_search" ->
      (dir => graft.operators.TextOps.qPhraseSearch(spark, dir).count()),
    // Round-7 second batch. retention rides a slim (user, week)
    // distinct — 10× users, constant weeks per user. dist_shift pays
    // its side-count store cold each run (resetCaches drops it), so
    // the ratio includes the tokenize scan that is prewarm in deploy.
    // pmi_bigrams is the word-count shuffle shape twice + vocab joins.
    // winnow joins phrase_search as the in-row zero-shuffle exemplar.
    "retention" ->
      (dir => graft.operators.Behavior.qRetention(spark, dir).count()),
    "dist_shift" ->
      (dir => Corpus.qDistShift(spark, dir).count()),
    "pmi_bigrams" ->
      (dir => graft.operators.TextOps.qPmiBigrams(spark, dir).count()),
    "winnow" ->
      (dir => graft.operators.TextOps.qWinnow(spark, dir).count()),
    // Round-8 additions. image_neardup is the phash chunk-bucket join
    // (10× hashes, slim chunk keys). video_neardup is the frame-hash
    // inverted index (10× frames; the boilerplate guard bounds hot
    // hashes). modal_dedup unions three pair families + label
    // propagation. funnel4 is four user-keyed stage windows over
    // type-filtered scans. salted_join replicates the build side 16×
    // by construction — the lever's bounded, chosen cost. event_flow
    // is one user-keyed lead() window + a |types|²-sized aggregate.
    "image_neardup" ->
      (dir => Multimodal.qImageNeardupPairs(spark, dir).count()),
    "video_neardup" ->
      (dir => Multimodal.qVideoNeardup(spark, dir).count()),
    "modal_dedup" ->
      (dir => Multimodal.qModalDedup(spark, dir).count()),
    "funnel4" ->
      (dir => EventWindows.qFunnel4(spark, dir).count()),
    "salted_join" ->
      (dir => Scale.qSaltedJoin(spark, dir).count()),
    "event_flow" ->
      (dir => graft.operators.Behavior.qEventFlow(spark, dir).count()),
    // the two incremental-maintenance merges: cold single-pipeline cost
    // includes the persisted store build (signature store + corpus
    // closure), which in production amortizes across every batch — the
    // ratio to watch is that store+merge stays linear in corpus size
    "incremental_clusters" ->
      (dir => Clustering.qIncrementalClusters(spark, dir).count()),
    "incremental_modal" ->
      (dir => Multimodal.qIncrementalModal(spark, dir).count()),
    "incremental_semdedup" ->
      (dir => Similarity.qIncrementalSemdedup(spark, dir).count()),
    "retract_doc" ->
      (dir => Clustering.qRetractDoc(spark, dir).count()),
    // Round-9/10 additions. pagerank pays the edge store cold each run
    // (resetCaches drops the memo): one fact join + K cached-RDD
    // equi-join rounds — the ratio measures edge build + walk together.
    // gap_fill is ONE user-keyed shuffle; its explode is bounded by
    // span-days per user (fixed event horizon ⇒ flat-ish rows-out
    // growth). scd2 and k_anonymity are single-shuffle window/group
    // shapes over slim projections. edit_verify is O(len²) work
    // confined to the banded candidate set (pair count grows with
    // planted dups, not quadratically).
    "pagerank" ->
      (dir => Graph.qPagerank(spark, dir).count()),
    "gap_fill" ->
      (dir => Temporal.qGapFill(spark, dir).count()),
    "scd2" ->
      (dir => Temporal.qScd2(spark, dir).count()),
    "edit_verify" ->
      (dir => Dedup.qEditVerify(spark, dir).count()),
    "k_anonymity" ->
      (dir => Analytics.qKAnonymity(spark, dir).count()),
    // Round-10 graph/shard family. triangles pays the pair store cold
    // (band join over the corpus) + the orientation joins over slim
    // cached pairs. ppr pays edge store + seed store cold, then the
    // K-round cached walk (same accounting as pagerank). copurchase is
    // the capped projection: distinct + cap + CoCap²-bounded self-join.
    // rendezvous is the zero-shuffle exemplar (9 shas per row, pure
    // scan).
    "triangles" ->
      (dir => Graph.qTriangles(spark, dir).count()),
    "ppr_suppliers" ->
      (dir => Graph.qPprSuppliers(spark, dir).count()),
    // khop pays the same cold stores as ppr, then K min-plus rounds
    // over cached edge blocks — the cheapest of the three walks (no
    // per-round broadcast aggregate, frontier rows only shrink).
    "khop_suppliers" ->
      (dir => Graph.qKhopSuppliers(spark, dir).count()),
    "copurchase" ->
      (dir => Graph.qCoPurchase(spark, dir).count()),
    "rendezvous_shard" ->
      (dir => Scale.qRendezvousShard(spark, dir).count()),
    // bucketed_join pays the twin-table warehouse write cold each run
    // (the one-time layout cost), then the zero-exchange SMJ + 5-group
    // agg — the ratio measures write+join; in deploy the write is
    // ingest-time and the join is the flat part.
    "bucketed_join" ->
      (dir => Scale.qBucketedJoin(spark, dir).count()),
    // bucketed_append pays base write + increment append cold, then
    // the same zero-exchange join; ratio tracks the write, join flat.
    "bucketed_append" ->
      (dir => Scale.qBucketedAppend(spark, dir).count()),
    // provenance is the wide pack (one shard-keyed fold) + one
    // doc-keyed equi-join for the source label — rows-out = corpus.
    "provenance" ->
      (dir => graft.operators.Packing.qProvenance(spark, dir).count()),
    // trend_slope collapses facts to (supplier, day) rows map-side;
    // everything after is bounded by suppliers x day-span, not corpus.
    "trend_slope" ->
      (dir => Analytics.qTrendSlope(spark, dir).count()),
    // token_efficiency is one scan folding to |languages| rows.
    "token_efficiency" ->
      (dir => graft.operators.TextOps.qTokenEfficiency(spark, dir).count()),
    // fd_audit is five independent two-phase group-bys over slim
    // (det, dep) pairs; output fixed at |FD list| rows.
    "fd_audit" ->
      (dir => Analytics.qFdAudit(spark, dir).count()),
    // source_copying pays the pair store cold + two slim source joins;
    // shard_digest is two scans folding 64-doc blocks to one row each.
    "source_copying" ->
      (dir => Graph.qSourceCopying(spark, dir).count()),
    "shard_digest" ->
      (dir => graft.operators.Ingestion.qShardDigest(spark, dir).count()),
    // outlier_days folds facts to (type, day) map-side; both median
    // windows run over those slim rows.
    "outlier_days" ->
      (dir => Analytics.qOutlierDays(spark, dir).count()),
    // interarrival is two slim window shuffles (user lag, type rank).
    "interarrival" ->
      (dir => Analytics.qInterarrival(spark, dir).count()),
    // ann_artifact pays the index build+persist cold; the probe reads
    // only the probed cells' partitions.
    "ann_artifact" ->
      (dir => Similarity.qAnnArtifact(spark, dir).count()),
    // canonical_pick pays the label store cold + one cluster-keyed
    // window. quantile_norm is two source-keyed windows + the bounded
    // value-level CDF broadcast — nothing global touches corpus rows.
    "canonical_pick" ->
      (dir => Clustering.qCanonicalPick(spark, dir).count()),
    "quantile_norm" ->
      (dir => Analytics.qQuantileNorm(spark, dir).count()),
    // cdc_chunks is in-row carving + explode (zero shuffle).
    // edge_support pays the pair store cold + the wedge joins.
    // top_paths is the sessionize shuffle + a bounded path count.
    "cdc_chunks" ->
      (dir => Corpus.qCdcChunks(spark, dir).count()),
    "edge_support" ->
      (dir => Graph.qEdgeSupport(spark, dir).count()),
    "top_paths" ->
      (dir => graft.operators.Behavior.qTopPaths(spark, dir).count()),
    // cluster_stats pays both dedup stores cold, then two slim keyed
    // rollups over cluster ids.
    "cluster_stats" ->
      (dir => Clustering.qClusterStats(spark, dir).count()),
    // session_window is the native one-shuffle session aggregate over
    // the full event table. source_overlap pays the (source, h)
    // incidence store cold, then |sources|-bounded pair rollups.
    "session_window" ->
      (dir => EventWindows.qSessionWindow(spark, dir).count()),
    "source_overlap" ->
      (dir => Corpus.qSourceOverlap(spark, dir).count()),
    // Round-11 additions. spoofing is the book-frame build (two keyed
    // shuffles over events) + the code-keyed spillable FSM fold.
    // time_prune pays the day-partitioned store write cold
    // (resetCaches drops the memo), then the 7-day pruned rollup —
    // in deploy the write is ingest-time, the pruned scan is the flat
    // part. bucketed_compact pays base + 2 appends + compaction cold,
    // then the zero-exchange join (write-dominated by construction).
    // zorder_write is the full-scan quantize + ONE range shuffle +
    // write — the linear layout job.
    "spoofing" ->
      (dir => graft.streaming.SpoofingDetector.qSpoofing(spark, dir).count()),
    "time_prune" ->
      (dir => Scale.qTimePrune(spark, dir).count()),
    "bucketed_compact" ->
      (dir => Scale.qBucketedCompact(spark, dir).count()),
    "zorder_write" ->
      (dir => {
        val e = Tables.events(spark, dir)
          .select($"event_id", $"user_id", unix_micros($"ts").as("tmu"))
        val tag = dir.replaceAll("[^A-Za-z0-9]", "_")
        Scale.writeZordered(e, "user_id", "tmu", targetRows = 20000,
          path = s"target/zorder_rehearsal$tag")
      }),
    // Round-11b additions. ann_artifact_inc/retract pay the full index
    // persist cold plus the append / one-cell rewrite — the probes are
    // partition-pruned and flat. cusum/benford fold facts map-side to
    // (type, day)/(type, digit) rows. salsa is 2K pagerank-shaped
    // half-rounds over the cached edge store (store build cold).
    // retention_expire and day_lifecycle pay the partitioned store
    // writes cold (expiry itself is O(partitions) metadata; the
    // lifecycle adds the one-day backfill + the compaction rewrite).
    // schema_evolution is two partitioned writes + one merged-scan
    // rollup.
    "ann_artifact_inc" ->
      (dir => Similarity.qAnnArtifactInc(spark, dir).count()),
    "ann_artifact_retract" ->
      (dir => Similarity.qAnnArtifactRetract(spark, dir).count()),
    "cusum" ->
      (dir => Analytics.qCusum(spark, dir).count()),
    "salsa" ->
      (dir => Graph.qSalsa(spark, dir).count()),
    "benford" ->
      (dir => Analytics.qBenford(spark, dir).count()),
    "retention_expire" ->
      (dir => Scale.qRetentionExpire(spark, dir).count()),
    "day_lifecycle" ->
      (dir => Scale.qDayLifecycle(spark, dir).count()),
    "schema_evolution" ->
      (dir => Scale.qSchemaEvolution(spark, dir).count()),
    // ssjoin: df count + prefix self-join + candidate-bounded verify —
    // every shuffle carries (long, long) rows; candidates grow with
    // planted dup pairs, not quadratically.
    "ssjoin" ->
      (dir => Dedup.qSsjoin(spark, dir).count()),
    // round-12: the composed curation capstone (every stage + the pack
    // fold; selection is quota-bounded, so output rows stay ~constant
    // and the ratio measures the stage plans, not the selection) and
    // the k-core peel (shares the materialized transaction edge store
    // with the walk family)
    "curation_e2e" ->
      (dir => graft.operators.Curation.qCurationE2e(spark, dir).count()),
    "kcore" ->
      (dir => Graph.qKCore(spark, dir).count()),
    // round-13: sparse_cosine is the df-capped tf-postings self-join —
    // the weighted twin of ssjoin, same (long, long, long) shuffle
    // budget, candidates bounded by hash df. merge_upsert pays the
    // 16-shard store write cold, then the O(touched shards) merge —
    // write-dominated; the merge itself is flat per shard. bloom_prune
    // pays store + manifest build cold; the probe is a 3-file read at
    // ANY corpus size — the flattest serving path in the suite.
    // communities is 2K contribution joins + rank windows over the
    // cached edge store (store cold).
    "sparse_cosine" ->
      (dir => Dedup.qSparseCosine(spark, dir).count()),
    "merge_upsert" ->
      (dir => Scale.qMergeUpsert(spark, dir).count()),
    "bloom_prune" ->
      (dir => Scale.qBloomPrune(spark, dir).count()),
    "communities" ->
      (dir => Graph.qCommunities(spark, dir).count()),
    // recommend joins the truncated similar-items table (RecNbrCap
    // strongest neighbors per item) — the cap that took the uncut
    // dense-matrix scoring join from 65 s to ~5 s at sf0.1
    "recommend" ->
      (dir => Graph.qRecommend(spark, dir).count()))
  }

  private def resetCaches(spark: SparkSession): Unit = {
    spark.sqlContext.clearCache()
    graft.core.Memo.clear()
    Clustering.releaseMergeClosures()
    graft.core.Scratch.release()
  }

  def main(args: Array[String]): Unit = {
    val spark = GraftSession.builder("local[32]", 32).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val src = "/root/testdata/sf0.1"
    val dst = "target/scaling_sf1"
    // nation.parquet is the newest replica table — its absence means
    // an older-round replica needs regenerating
    if (!new java.io.File(s"$dst/nation.parquet").exists()) {
      println(s"[scaling] generating ${Replicas}x replica at $dst")
      generate(spark, src, dst)
    }
    // optional pipeline-name args restrict the run (iterating on one
    // pipeline without paying the whole fold)
    val sel = args.toSet
    val selected =
      if (sel.isEmpty) pipelines(spark)
      else pipelines(spark).filter(p => sel.contains(p._1))
    // JIT/codegen warmup on the small SF so neither scale pays it
    selected.foreach { case (_, fn) =>
      resetCaches(spark); fn("/root/testdata/sf0.01")
    }
    val rows = selected.map { case (name, fn) =>
      def timed(dir: String): (Double, Long) = {
        val samples = (1 to 2).map { _ =>
          resetCaches(spark)
          val t0 = System.nanoTime()
          val n = fn(dir)
          ((System.nanoTime() - t0) / 1e9, n)
        }
        samples.minBy(_._1)
      }
      val (t1, n1) = timed(src)
      val (t10, n10) = timed(dst)
      println(f"[scaling] $name%-30s sf0.1: $t1%7.2fs ($n1%9d rows)  10x: $t10%7.2fs ($n10%9d rows)  ratio ${t10 / t1}%5.2f")
      (name, t1, n1, t10, n10, t10 / t1)
    }
    println("| pipeline | sf0.1 s | rows | 10x s | rows | time ratio |")
    println("|---|---|---|---|---|---|")
    rows.foreach { case (name, t1, n1, t10, n10, r) =>
      println(f"| $name | $t1%.2f | $n1 | $t10%.2f | $n10 | $r%.2f |")
    }
    spark.stop()
  }
}
