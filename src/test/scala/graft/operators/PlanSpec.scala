package graft.operators

import graft.SparkSpec
import graft.SparkSpec.Sf0001

/** Physical-plan assertions: the scale properties the DuckDB value gate
  * can't see — predicate pushdown, column pruning, broadcast joins,
  * top-k physical operators, partial aggregation. If a refactor
  * regresses one of these, correctness stays green but the 100 TB plan
  * breaks; these tests make that a test failure instead. */
class PlanSpec extends SparkSpec {

  /** qMrlEval compiles one brute leg per truncated dim plus the
    * full-dim truth leg — each is a broadcast-probe non-equi join. */
  private val MrlEvalLegs = Similarity.MrlDims.length + 1

  private def executed(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  /** Cold production plan string: the cache is cleared first so the
    * assertion is order-independent. Suites that ran earlier may have
    * persisted shared frames (e.g. the PQ distance frame), and cache
    * substitution swaps an InMemoryRelation into the plan — whose
    * *printed* cached subtree re-lists its own internal Exchanges,
    * double-counting shuffles that never re-execute. Use this variant
    * for any test that COUNTS exchanges: it pins the cold shape a
    * fresh 100 TB run would compile to. Tests that pin a warm-store
    * shape (assert InMemoryTableScan) keep the plain [[executed]]. */
  private def executedCold(df: => org.apache.spark.sql.DataFrame): String = {
    // clearCache unpersists the cached shared stores too — drop their
    // entries so later warm-shape tests rebuild them
    spark.sharedState.cacheManager.clearCache()
    graft.core.Memo.clear()
    Clustering.releaseMergeClosures()
    df.queryExecution.executedPlan.toString
  }

  test("q6: filters are pushed to the parquet scan and columns pruned") {
    val plan = executed(Relational.q6FilteredRevenue(spark, Sf0001))
    assert(plan.contains("PushedFilters: ["))
    assert(plan.contains("IsNotNull(l_shipdate)") || plan.contains("GreaterThanOrEqual(l_shipdate"))
    // projection needs only 4 columns; the scan must not read more
    val readSchema = plan.linesIterator.find(_.contains("ReadSchema")).get
    assert(Seq("l_shipdate", "l_discount", "l_quantity", "l_extendedprice")
      .forall(readSchema.contains))
    assert(!readSchema.contains("l_orderkey") && !readSchema.contains("l_partkey"))
  }

  test("q5: dimension joins broadcast, fact join does not broadcast lineitem") {
    val plan = executed(Relational.q5RegionRevenue(spark, Sf0001))
    assert(plan.contains("BroadcastHashJoin"))
    // nation/region reached via broadcast exchange
    assert(plan.contains("BroadcastExchange"))
  }

  test("q_broadcast_enrich: part side is broadcast") {
    val plan = executed(Relational.qBroadcastEnrich(spark, Sf0001))
    assert(plan.contains("BroadcastHashJoin"))
  }

  test("q_sort_limit: top-k runs as TakeOrderedAndProject, not a global sort") {
    val plan = executed(Relational.qSortLimit(spark, Sf0001))
    assert(plan.contains("TakeOrderedAndProject"))
  }

  test("q1: aggregation is partial (map-side combine) before the shuffle") {
    val plan = executed(Relational.q1PricingSummary(spark, Sf0001))
    assert(plan.contains("HashAggregate"))
    assert(plan.contains("partial_sum") || plan.contains("partial"))
  }

  test("q_anti_join executes as a real anti join") {
    val plan = executed(Relational.qAntiJoin(spark, Sf0001))
    assert(plan.contains("LeftAnti"))
  }

  test("q_semi_join executes as a real semi join") {
    val plan = executed(Relational.qSemiJoin(spark, Sf0001))
    assert(plan.contains("LeftSemi"))
  }

  test("word count scan reads only the text column") {
    val plan = executed(TextOps.qWordCount(spark, Sf0001))
    val readSchema = plan.linesIterator.find(_.contains("ReadSchema")).get
    assert(readSchema.contains("text"))
    assert(!readSchema.contains("doc_id") && !readSchema.contains("lang"))
  }

  test("q_kpi_slippage: part is broadcast and the lineitem scan is pruned to 5 columns") {
    val plan = executed(Kpi.qKpiSlippage(spark, Sf0001))
    assert(plan.contains("BroadcastHashJoin"))
    val readSchema = plan.linesIterator.find(s => s.contains("ReadSchema") && s.contains("l_partkey")).get
    assert(Seq("l_partkey", "l_orderkey", "l_linenumber", "l_extendedprice", "l_quantity")
      .forall(readSchema.contains))
    assert(!readSchema.contains("l_shipdate") && !readSchema.contains("l_discount"))
  }

  test("q_kpi_sharpe: both aggregations are partial (map-side combine)") {
    val plan = executed(Kpi.qKpiSharpe(spark, Sf0001))
    assert(plan.contains("BroadcastHashJoin")) // customer dim broadcast
    assert(plan.contains("partial_sum") || plan.contains("partial"))
  }

  test("q_decline_trend: both lags share one shuffle and one per-key sort") {
    val plan = executed(EventWindows.qDeclineTrend(spark, Sf0001))
    val lines = plan.linesIterator.toSeq
    // two Window operators (the second lag depends on a column derived
    // from the first, so they can't collapse) — but they must share a
    // single within-partition sort and a single hash exchange on the
    // key: adding the composite trigger costs no extra shuffle/sort.
    assert(lines.count(_.contains("Window [")) == 2)
    assert(lines.count(l => l.contains("Sort [") && l.contains(", false, 0")) == 1)
    assert(lines.count(l => l.contains("Exchange hashpartitioning(event_type")) == 1)
  }

  test("q_chunk_docs: scan reads only doc_id + text, no shuffle before the explode") {
    val plan = executed(Corpus.qChunkDocs(spark, Sf0001))
    val readSchema = plan.linesIterator.find(_.contains("ReadSchema")).get
    assert(readSchema.contains("doc_id") && readSchema.contains("text"))
    assert(!readSchema.contains("lang") && !readSchema.contains("source"))
    assert(plan.contains("Generate explode"))
  }

  test("q_repetition: both aggregation branches combine map-side") {
    val plan = executed(Corpus.qRepetition(spark, Sf0001))
    assert(plan.contains("partial_count") || plan.contains("partial"))
    // the doc_id join of the two per-doc branches must not broadcast
    // blindly at scale — but per-doc frames are fine either way; what
    // matters is no cartesian/nested-loop fallback
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"))
  }

  test("q_emb_centroid_dist: centroid side joins as broadcast") {
    val plan = executed(Embeddings.qEmbCentroidDist(spark, Sf0001))
    assert(plan.contains("BroadcastHashJoin"))
  }

  test("q_pii_redact: per-row redaction shuffles only for the presentation sort") {
    val plan = executed(Corpus.qPiiRedact(spark, Sf0001))
    assert(!plan.contains("Exchange hashpartitioning"), "per-row redaction must not hash-shuffle")
    assert(plan.linesIterator.count(_.contains("Exchange rangepartitioning")) == 1)
    val readSchema = plan.linesIterator.find(_.contains("ReadSchema")).get
    assert(!readSchema.contains("c_acctbal") && !readSchema.contains("c_nationkey"))
  }

  test("q_decontaminate: the eval index probes as a broadcast join, counts combine map-side") {
    val plan = executed(Corpus.qDecontaminate(spark, Sf0001))
    // corpus side must stream past a broadcast eval index — a shuffled
    // join here would move every corpus shingle hash at 100 TB
    assert(plan.contains("BroadcastHashJoin"))
    assert(plan.contains("partial_sum") || plan.contains("partial"))
  }

  test("q_heavy_hitters: top-k runs as TakeOrderedAndProject over broadcast totals") {
    val plan = executed(Scale.qHeavyHitters(spark, Sf0001))
    assert(plan.contains("TakeOrderedAndProject"))
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("BroadcastExchange"))
    assert(plan.contains("partial_count") || plan.contains("partial"))
  }

  test("q_mixture_rebalance: quota join broadcasts, counts combine map-side") {
    val plan = executed(Sampling.qMixtureRebalance(spark, Sf0001))
    assert(plan.contains("BroadcastHashJoin"))
    assert(plan.contains("partial_count") || plan.contains("partial"))
    // ranking window must be per-lang, not global
    assert(plan.contains("windowspecdefinition(lang"))
  }

  test("q_profile: every statistic comes from one scan of events") {
    val plan = executed(Analytics.qProfile(spark, Sf0001))
    // a single parquet scan feeds the wide aggregate (multi-distinct
    // rides Expand, not per-column jobs)
    assert(plan.linesIterator.count(_.contains("FileScan parquet")) == 1)
    assert(plan.contains("Expand"))
  }

  test("q_winsorize: thresholds and clamping share ONE hash shuffle") {
    val plan = executed(Analytics.qWinsorize(spark, Sf0001))
    // rank window, threshold window-minima, and the final aggregate all
    // reuse the same event_type partitioning — a second hash exchange
    // would mean the thresholds were joined back instead
    assert(plan.linesIterator.count(_.contains("Exchange hashpartitioning")) == 1)
    assert(!plan.contains("SortMergeJoin") && !plan.contains("BroadcastHashJoin"))
  }

  test("q_filter_funnel: every stage statistic comes from one scan") {
    val plan = executed(Corpus.qFilterFunnel(spark, Sf0001))
    assert(plan.linesIterator.count(_.contains("FileScan parquet")) == 1)
    val readSchema = plan.linesIterator.find(_.contains("ReadSchema")).get
    assert(!readSchema.contains("source") && !readSchema.contains("n_chars"))
  }

  test("q_epoch_shuffle: position window is per-shard, never a global single-partition sort") {
    val plan = executed(Sampling.qEpochShuffle(spark, Sf0001))
    // row_number must be partitioned by shard (N independent sorts);
    // a windowspec with an empty partition clause would serialize the
    // whole corpus through one task
    assert(plan.contains("windowspecdefinition(shard"))
    // only shuffles: hash by shard for the window + range for the
    // presentation sort
    assert(plan.linesIterator.count(_.contains("Exchange hashpartitioning")) == 1)
  }

  test("q_incremental_rollup: both deltas combine map-side before one hash shuffle") {
    val plan = executed(IncrementalAgg.qIncrementalRollup(spark, Sf0001))
    assert(plan.contains("partial_count") || plan.contains("partial"))
    // merge(rollup(d0), rollup(d1)) must not multiply shuffles: the two
    // delta rollups + the merge re-aggregate and the presentation sort
    assert(plan.linesIterator.count(_.contains("Exchange hashpartitioning")) <= 3)
  }

  test("q_corpus_overlap: corpus signatures aggregate map-side; exact branch shuffles slim (h, corpus) rows only") {
    val plan = executed(Sketches.qCorpusOverlap(spark, Sf0001))
    assert(plan.contains("partial"))
    // the shingle arrays are exploded AFTER the persisted store — the
    // per-hash flag aggregate must not carry the arrays
    assert(!plan.contains("CartesianProduct"), "no join may fall back to a cartesian product")
    // the one nested-loop join allowed is the tiny per-corpus signature
    // self-join (3 corpus rows, broadcast); a second BNLJ would mean a
    // real table went nested-loop
    val bnlj = plan.linesIterator.count(_.contains("BroadcastNestedLoopJoin"))
    assert(bnlj <= 1, s"at most the 3-row signature self-join may be a BNLJ, found $bnlj")
  }

  test("q_containment_pairs: inverted-index self-join is key-equi on the shingle hash, never cartesian") {
    val plan = executed(Dedup.qContainmentPairs(spark, Sf0001))
    assert(!plan.contains("CartesianProduct"))
    assert(!plan.contains("BroadcastNestedLoopJoin"))
    // pair counts and set sizes aggregate with map-side combine
    assert(plan.contains("partial"))
  }

  test("q_substring_dedup: anchor self-join is key-equi on the hash, never cartesian") {
    val plan = executed(Dedup.qSubstringDedup(spark, Sf0001))
    assert(!plan.contains("CartesianProduct"))
    assert(!plan.contains("BroadcastNestedLoopJoin"))
    // run detection aggregates with map-side combine like every slim shuffle
    assert(plan.contains("partial"))
  }

  test("q_image_neardup_pairs: phash chunk-bucketed equi join, never cartesian") {
    val plan = executed(Multimodal.qImageNeardupPairs(spark, Sf0001))
    assert(!plan.contains("CartesianProduct"))
    assert(!plan.contains("BroadcastNestedLoopJoin"))
  }

  test("q_dedup_masks: span merge stays doc_id-keyed after the anchor join") {
    val plan = executed(Dedup.qDedupMasks(spark, Sf0001))
    assert(!plan.contains("CartesianProduct"))
    assert(!plan.contains("BroadcastNestedLoopJoin"))
  }

  test("q_pq_encode: codebooks are literals — no join, no shuffle before the presentation sort") {
    // cold variant: a warm session substitutes the persisted PQ distance
    // frame (qPqAdc/qAnnIvfPq persist it) and the InMemoryRelation print
    // re-lists its internal repartition Exchange — phantom lines, fewer
    // real shuffles. The contract here is the cold compile shape.
    val plan = executedCold(Embeddings.qPqEncode(spark, Sf0001))
    assert(!plan.contains("Join"), "PQ assignment must be per-row expression work")
    // the only exchanges allowed are the input re-shard and the output sort
    assert(plan.linesIterator.count(_.contains("Exchange")) <= 2)
  }

  test("q_ann_ivfpq: probe lists and luts broadcast; candidates join on cell id") {
    val plan = executed(Embeddings.qAnnIvfPq(spark, Sf0001))
    assert(plan.contains("BroadcastExchange"))
    assert(!plan.contains("CartesianProduct"))
    // the cell-id candidate join must stay broadcast-shaped: a regression
    // to a corpus-wide sort-merge shuffle on cell id is the scale killer
    assert(!plan.contains("SortMergeJoin"))
  }

  test("q_pq_rerank: shortlist broadcasts into the id-keyed fat-vector fetch; store read once") {
    val plan = executed(Embeddings.qPqRerank(spark, Sf0001))
    // assignment, shortlist, and re-rank all read the one persisted base
    assert(plan.contains("InMemoryTableScan"))
    // the re-rank join is shortlist-sized vs the corpus: it must stay
    // broadcast-shaped, never a corpus-wide sort-merge or cartesian
    assert(plan.contains("BroadcastHashJoin"))
    assert(!plan.contains("CartesianProduct"))
    assert(!plan.contains("SortMergeJoin"))
  }

  test("q_domain_cap: one slim shuffle on source; the scan never reads text") {
    val plan = executedCold(Sampling.qDomainCap(spark, Sf0001))
    // only (doc_id, source) leave the scan — capping must not move text
    val readSchema = plan.linesIterator.find(_.contains("ReadSchema")).get
    assert(readSchema.contains("doc_id") && readSchema.contains("source"))
    assert(!readSchema.contains("text"))
    // exactly one hash shuffle (the per-source rank window); the only
    // other exchange is the presentation sort
    assert(plan.linesIterator.count(_.contains("Exchange hashpartitioning")) == 1)
    assert(!plan.contains("CartesianProduct"))
  }

  test("q_bpe_train: the returned merge table is a local artifact — no corpus in its lineage") {
    // training runs eagerly during construction (persist+count rounds);
    // the artifact the caller gets must be a frozen local relation, so
    // every downstream read costs zero corpus work
    val plan = executed(TextOps.qBpeTrain(spark, Sf0001))
    assert(plan.contains("LocalTableScan"))
    assert(!plan.contains("FileScan"))
    assert(!plan.contains("Exchange hashpartitioning"))
  }

  test("q_pq_adc: query luts broadcast; the corpus side joins as codes only") {
    val plan = executed(Embeddings.qPqAdc(spark, Sf0001))
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("BroadcastExchange"),
      "the ≤10-query lut table must broadcast")
    assert(!plan.contains("CartesianProduct"))
    assert(!plan.contains("SortMergeJoin"))
  }

  test("q_novelty_curve: ownership is a min-aggregate; the cumulative window never sees the corpus") {
    val plan = executed(Corpus.qNoveltyCurve(spark, Sf0001))
    assert(!plan.contains("CartesianProduct"))
    assert(plan.contains("partial"))
  }

  test("q_dsir_weights: the bucket ratio table is broadcast to the scoring scan") {
    val plan = executed(Sampling.qDsirWeights(spark, Sf0001))
    // 1024 ratio rows must reach each scorer as a broadcast, not a
    // corpus-wide shuffle on bucket id
    assert(plan.contains("BroadcastHashJoin"))
    assert(!plan.contains("CartesianProduct"))
  }

  test("q_lm_score: both bounded count tables broadcast to the scoring scan") {
    val plan = executed(TextOps.qLmScore(spark, Sf0001))
    // ≤65 536 bigram rows and ≤8 192 context rows must reach the
    // scorer as broadcasts — never a corpus-wide shuffle on bucket id
    assert(plan.contains("BroadcastHashJoin"))
    assert(!plan.contains("SortMergeJoin") && !plan.contains("CartesianProduct"))
  }

  test("q_semantic_dedup: centroid assignment broadcasts; the pair check joins on cell") {
    val plan = executed(Similarity.qSemanticDedup(spark, Sf0001))
    // the corpus × 8-centroid assignment is materialized once and
    // reused by the pair check and the keep/drop join — the executed
    // plan must read the cache, not re-run the broadcast cross + window
    assert(plan.contains("InMemoryTableScan"))
    assert(!plan.contains("CartesianProduct"))
  }

  test("q_pack_stats: the per-bin rollup combines map-side before the single-row summary") {
    val plan = executed(Packing.qPackStats(spark, Sf0001))
    assert(plan.contains("partial"))
    assert(!plan.contains("CartesianProduct"))
  }

  test("q_ann_lsh_banded: probes broadcast over the postings index — no corpus shuffle to find candidates") {
    val plan = executed(Similarity.qAnnLshBanded(spark, Sf0001))
    // candidate generation must be a broadcast join (probe keys are
    // tiny: queries × bands × probes); shuffling the full postings
    // index on (band, key) would move the whole corpus per query batch
    assert(plan.contains("BroadcastHashJoin"))
    // the index side carries only (vec_id, band, key) — the fat
    // embedding vector must not ride the candidate join
    val genLines = plan.linesIterator.filter(_.contains("Generate posexplode")).toSeq
    assert(genLines.nonEmpty)
  }

  test("q_corpus_rewrite: winner election and rebuild are keyed joins, never cartesian") {
    val plan = executed(Corpus.qCorpusRewrite(spark, Sf0001))
    // the election window shuffles slim (h, doc_id, s) triples; the
    // rebuild is a doc_id-keyed equi-join carrying text exactly once
    assert(!plan.contains("CartesianProduct"))
    assert(!plan.contains("BroadcastNestedLoopJoin"))
    assert(plan.contains("partial"))
  }

  test("q_bm25: query terms and corpus totals broadcast to the scoring scan") {
    val plan = executed(TextOps.qBm25(spark, Sf0001))
    // scoring must not shuffle the corpus on term to meet the tiny
    // query table — the query side rides a broadcast hash join
    assert(plan.contains("BroadcastHashJoin"))
    assert(!plan.contains("CartesianProduct"))
    // the 1-row totals frame is the only nested-loop join allowed
    val bnlj = plan.linesIterator.count(_.contains("BroadcastNestedLoopJoin"))
    assert(bnlj <= 1, s"only the 1-row totals cross may be a BNLJ, found $bnlj")
    // final ranking is bounded per query: window group limit, no full sort
    assert(plan.contains("WindowGroupLimit"))
  }

  test("q_boilerplate_strip: the modal-prefix winners broadcast back onto the scan") {
    val plan = executed(Corpus.qBoilerplateStrip(spark, Sf0001))
    // the per-source winner table is tiny — stripping must not shuffle
    // the corpus on source to meet it
    assert(plan.contains("BroadcastHashJoin"))
    assert(!plan.contains("CartesianProduct"))
    assert(plan.contains("partial"))
  }

  test("q_incremental_dedup: probes meet the index on band keys from one shared store") {
    val plan = executed(Dedup.qIncrementalDedup(spark, Sf0001))
    // both splits and both verify branches must read the persisted
    // signature store, not recompute sha-heavy signatures per branch
    assert(plan.contains("InMemoryTableScan"))
    assert(!plan.contains("CartesianProduct"))
    assert(!plan.contains("BroadcastNestedLoopJoin"))
  }

  test("q_budget_select: threshold comes from the histogram, never a corpus-wide sort") {
    val plan = executed(Sampling.qBudgetSelect(spark, Sf0001))
    assert(!plan.contains("CartesianProduct"))
    // two 1-row broadcasts are structural (budget onto the histogram,
    // the boundary marker onto the corpus); anything more would mean a
    // real frame went nested-loop
    val bnlj = plan.linesIterator.count(_.contains("BroadcastNestedLoopJoin"))
    assert(bnlj <= 2, s"only the two scalar broadcasts may be BNLJ, found $bnlj")
    // the descending cumulative window must run over the q histogram —
    // a single-partition window whose input is an aggregate, not the
    // corpus scan; the corpus-side windows are all partitioned by q
    assert(plan.contains("partial"))
  }

  test("q_gopher_rules: one scan, rules fused into the projection, only the presentation sort shuffles") {
    val plan = executed(Corpus.qGopherRules(spark, Sf0001))
    assert(plan.linesIterator.count(_.contains("FileScan parquet")) == 1)
    // per-doc rule math must not shuffle: the only exchange is the
    // rangepartitioning for ORDER BY doc_id
    assert(!plan.contains("Exchange hashpartitioning"))
    val readSchema = plan.linesIterator.find(_.contains("ReadSchema")).get
    assert(!readSchema.contains("source") && !readSchema.contains("n_chars"))
  }

  test("q_quality_logit: one scan, logit fused per-row, no shuffle but the presentation sort") {
    val plan = executed(TextOps.qQualityLogit(spark, Sf0001))
    assert(plan.linesIterator.count(_.contains("FileScan parquet")) == 1)
    assert(!plan.contains("Exchange hashpartitioning"))
  }

  test("q_vocab_coverage: top-K cut is TakeOrdered, cumulative window is bounded to K rows") {
    val plan = executed(TextOps.qVocabCoverage(spark, Sf0001))
    // the vocab never sorts fully: the K-cut must be TakeOrderedAndProject
    assert(plan.contains("TakeOrderedAndProject"))
    // term counts combine map-side before the one vocab shuffle
    assert(plan.contains("partial"))
    // totals ride in as a 1-row broadcast, not a shuffled join
    val bnlj = plan.linesIterator.count(_.contains("BroadcastNestedLoopJoin"))
    assert(bnlj <= 1, s"only the 1-row totals cross may be a BNLJ, found $bnlj")
  }

  test("q_rrf_fusion: both rankers stay depth-bounded, fusion join is equi on (query, doc)") {
    val plan = executed(Similarity.qRrfFusion(spark, Sf0001))
    assert(!plan.contains("CartesianProduct"))
    // BM25 scoring joins broadcast; the corpus-vs-queries cosine join is
    // a broadcast too (inequality condition ⇒ BNLJ, queries tiny); the
    // BM25 totals cross is the other allowed BNLJ
    assert(plan.contains("BroadcastHashJoin"))
    val bnlj = plan.linesIterator.count(_.contains("BroadcastNestedLoopJoin"))
    assert(bnlj <= 2, s"only the totals cross + query-broadcast cosine may be BNLJ, found $bnlj")
    // rank windows are per-query with group limits — never full lists
    assert(plan.contains("WindowGroupLimit"))
  }

  test("q_bloom_filter: filter words build map-side and broadcast to the probe") {
    val plan = executed(Sketches.qBloomFilter(spark, Sf0001))
    assert(!plan.contains("CartesianProduct"))
    // the probe must stream past broadcast filter words / seen hashes,
    // never shuffle the corpus against the batch
    assert(plan.contains("BroadcastHashJoin"))
    assert(plan.contains("partial"))
  }

  test("q_countmin: sketch built from vocab partials, counters broadcast, top-K TakeOrdered") {
    val plan = executed(Sketches.qCountMin(spark, Sf0001))
    assert(plan.contains("TakeOrderedAndProject"))
    assert(plan.contains("BroadcastHashJoin"))
    assert(plan.contains("partial"))
    assert(!plan.contains("CartesianProduct"))
  }

  test("q_wfq_interleave: positions rank per (source, shard), offsets broadcast back") {
    val plan = executed(Sampling.qWfqInterleave(spark, Sf0001))
    // the rank window must be sharded WITHIN source — a bare
    // per-source window serializes corpus/|sources| rows per task
    assert(plan.matches("(?s).*windowspecdefinition\\(source#\\d+, shard#.*"),
      "rank window must partition by (source, shard)")
    assert(plan.contains("BroadcastHashJoin"))
    assert(!plan.contains("CartesianProduct"))
  }

  test("q_blocklist_filter: one scan, membership checks fused per-row, no hash shuffle") {
    val plan = executed(Corpus.qBlocklistFilter(spark, Sf0001))
    assert(plan.linesIterator.count(_.contains("FileScan parquet")) == 1)
    assert(!plan.contains("Exchange hashpartitioning"))
  }

  test("q_url_dedup: canonicalization per-row, keep-first groups on the canon key only") {
    val plan = executed(Ingestion.qUrlDedup(spark, Sf0001))
    assert(plan.linesIterator.count(_.contains("FileScan parquet")) == 1)
    assert(plan.contains("partial"))
    // count(DISTINCT url) rides the two-phase aggregate — at most the
    // (canon, url) + (canon) exchanges, never a join back
    assert(plan.linesIterator.count(_.contains("Exchange hashpartitioning")) <= 2)
    assert(!plan.contains("SortMergeJoin") && !plan.contains("BroadcastHashJoin"))
  }

  test("q_inverted_index: tf grid, per-term window and final agg share one term partitioning") {
    val plan = executed(TextOps.qInvertedIndex(spark, Sf0001))
    assert(plan.linesIterator.count(_.contains("FileScan parquet")) == 1)
    // (term, doc) tf exchange + term exchange for the window; the
    // final per-term aggregate must reuse the window's partitioning
    assert(plan.linesIterator.count(_.contains("Exchange hashpartitioning")) <= 2)
    assert(!plan.contains("SortMergeJoin") && !plan.contains("CartesianProduct"))
  }

  test("q_bpe_pairs: pairs explode from the vocab table, top-K is TakeOrdered") {
    val plan = executed(TextOps.qBpePairs(spark, Sf0001))
    assert(plan.linesIterator.count(_.contains("FileScan parquet")) == 1)
    assert(plan.contains("TakeOrderedAndProject"))
    assert(plan.contains("partial"), "word-freq and pair aggregates must map-side combine")
    assert(!plan.contains("SortMergeJoin") && !plan.contains("CartesianProduct"))
  }

  test("q_split_audit: slim label join, broadcast straddle scalar, no cartesian blowup") {
    val plan = executed(Sampling.qSplitAudit(spark, Sf0001))
    assert(!plan.contains("CartesianProduct"))
    // the only nested-loop join allowed is the 1-row straddle broadcast
    assert(plan.linesIterator.count(_.contains("BroadcastNestedLoopJoin")) <= 1)
  }

  test("q_length_buckets: one scan, bucket CASE per-row, one bounded aggregate") {
    val plan = executed(Packing.qLengthBuckets(spark, Sf0001))
    assert(plan.linesIterator.count(_.contains("FileScan parquet")) == 1)
    assert(plan.contains("partial"))
    assert(!plan.contains("Join"))
  }

  test("q_intra_doc_dedup: pure per-row dedup, no hash shuffle at all") {
    val plan = executed(Corpus.qIntraDocDedup(spark, Sf0001))
    assert(plan.linesIterator.count(_.contains("FileScan parquet")) == 1)
    assert(!plan.contains("Exchange hashpartitioning"))
    assert(!plan.contains("Join"))
  }

  test("q_bpe_encode: frozen merge chain fused per-row, one scan, no shuffle") {
    val plan = executed(TextOps.qBpeEncode(spark, Sf0001))
    assert(plan.linesIterator.count(_.contains("FileScan parquet")) == 1)
    assert(!plan.contains("Exchange hashpartitioning"))
    assert(!plan.contains("Join"))
  }

  test("q_lsh_audit: banded candidate join stays hashed; only the bounded truth side may nest") {
    val plan = executed(Dedup.qLshAudit(spark, Sf0001))
    assert(!plan.contains("CartesianProduct"))
    // the all-pairs audit contract is the ONLY nested-loop join
    assert(plan.linesIterator.count(_.contains("BroadcastNestedLoopJoin")) <= 1)
  }

  test("q_quality_tiers: boundaries from the histogram, broadcast back — no per-source doc sort") {
    val plan = executed(Sampling.qQualityTiers(spark, Sf0001))
    assert(plan.contains("BroadcastHashJoin"))
    assert(!plan.contains("SortMergeJoin") && !plan.contains("CartesianProduct"))
    // the only Window ops run over the (source, q) histogram frame
    assert(plan.contains("partial"))
  }

  test("q_shingle_novelty: reads the shared shingle store, aggregates only — no window sort") {
    Corpus.shingleStore(spark, Sf0001) // warm: the plan reads the cached store
    val plan = executed(Corpus.qShingleNovelty(spark, Sf0001))
    assert(plan.contains("InMemoryTableScan"), "must read the persisted shingle store")
    // df and ownership come from hash aggregates, never a window
    // partitioned by the high-cardinality shingle key
    assert(!plan.contains("Window"))
    assert(plan.contains("partial"))
    // the only join is the slim per-doc merge of the two count frames
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"))
  }

  test("q_chunk_quality: chunk scores inside the row — one scan, zero shuffle") {
    val plan = executed(Corpus.qChunkQuality(spark, Sf0001))
    assert(plan.linesIterator.count(_.contains("FileScan parquet")) == 1)
    assert(!plan.contains("Exchange hashpartitioning"))
    assert(!plan.contains("Generate"), "no explode: the transform stays in the row")
    assert(!plan.contains("Join"))
  }

  test("q_snapshot_diff: digest-keyed full outer join, removal filter pushed to the scan") {
    val plan = executed(Ingestion.qSnapshotDiff(spark, Sf0001))
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"))
    assert(plan.contains("FullOuter"), "diff must be a full outer join on doc_id")
    assert(plan.contains("sha2"), "sides must reduce to digests before the join")
    // the synthesized snapshot's removal/addition predicates reach the scans
    assert(plan.contains("DataFilters: [isnotnull(doc_id"))
  }

  test("q_passage_bm25: same broadcast-scoring shape as the document face") {
    val plan = executed(TextOps.qPassageBm25(spark, Sf0001))
    assert(plan.contains("BroadcastHashJoin"))
    assert(!plan.contains("CartesianProduct"))
    val bnlj = plan.linesIterator.count(_.contains("BroadcastNestedLoopJoin"))
    assert(bnlj <= 1, s"only the 1-row totals cross may be a BNLJ, found $bnlj")
    assert(plan.contains("WindowGroupLimit"))
  }

  test("q_kmeans: centroids are literals — the gate face is one scan, one slim agg, one local join") {
    val plan = executedCold(Clustering.qKmeans(spark, Sf0001))
    // assignment must be per-row expression math against literal
    // centroids: the only join is the 8-row centroid face (broadcast
    // local relation), never a corpus-sized shuffle join
    assert(plan.contains("LocalTableScan"), "the trained centroid face is a local artifact")
    assert(!plan.contains("SortMergeJoin"))
    assert(!plan.contains("CartesianProduct"))
    assert(plan.contains("partial"), "the per-cell stats combine map-side")
    // one cell aggregate is the only hash shuffle
    assert(plan.linesIterator.count(_.contains("Exchange hashpartitioning")) <= 1)
  }

  test("q_mmr_rerank: the selected list is a local artifact — no corpus in its lineage") {
    // greedy selection runs eagerly (bounded per-step reads); the
    // caller's frame must be a frozen local relation like q_bpe_train
    val plan = executed(Similarity.qMmr(spark, Sf0001))
    assert(plan.contains("LocalTableScan"))
    assert(!plan.contains("FileScan"))
    assert(!plan.contains("Exchange hashpartitioning"))
  }

  test("q_margin_mine: probes broadcast into one corpus scan; neighborhood means are slim aggregates") {
    val plan = executedCold(Similarity.qMarginMine(spark, Sf0001))
    assert(plan.contains("BroadcastExchange"), "the probe set must broadcast")
    assert(!plan.contains("CartesianProduct"))
    assert(plan.contains("partial"), "k-NN mean sums combine map-side")
  }

  test("q_maxsim: query token set broadcasts; both reductions combine map-side") {
    val plan = executedCold(Similarity.qMaxSim(spark, Sf0001))
    assert(plan.contains("BroadcastExchange"))
    assert(!plan.contains("CartesianProduct"))
    // the probe non-equi join is the only nested-loop allowed
    val bnlj = plan.linesIterator.count(_.contains("BroadcastNestedLoopJoin"))
    assert(bnlj <= 1, s"only the broadcast probe join may be a BNLJ, found $bnlj")
    assert(plan.contains("partial"))
  }

  test("q_phrase_search: matches evaluate inside the row — no join, no hash shuffle") {
    val plan = executedCold(TextOps.qPhraseSearch(spark, Sf0001))
    assert(!plan.contains("Join"))
    assert(!plan.contains("Exchange hashpartitioning"))
    val readSchema = plan.linesIterator.find(_.contains("ReadSchema")).get
    assert(readSchema.contains("doc_id") && readSchema.contains("text"))
    assert(!readSchema.contains("lang") && !readSchema.contains("source"))
  }

  test("q_priority_sample: one slim shuffle on source; the scan never reads text") {
    val plan = executedCold(Sampling.qPrioritySample(spark, Sf0001))
    val readSchema = plan.linesIterator.find(_.contains("ReadSchema")).get
    assert(readSchema.contains("doc_id") && readSchema.contains("n_chars"))
    assert(!readSchema.contains("text"))
    // rank and threshold windows share the one per-source partitioning
    assert(plan.linesIterator.count(_.contains("Exchange hashpartitioning")) == 1)
    assert(!plan.contains("CartesianProduct"))
  }

  test("q_funnel: stage filters push to the scan; every join is user-keyed") {
    val plan = executedCold(EventWindows.qFunnel(spark, Sf0001))
    // the event_type predicates must reach parquet, not filter post-scan
    assert(plan.contains("PushedFilters: [") && plan.contains("EqualTo(event_type"))
    assert(!plan.contains("CartesianProduct"))
    assert(!plan.contains("BroadcastNestedLoopJoin"))
    val readSchema = plan.linesIterator.find(_.contains("ReadSchema")).get
    assert(!readSchema.contains("props") && !readSchema.contains("value"))
  }

  test("q_funnel4: the generic matcher keeps the 3-stage plan contract at 4 stages") {
    val plan = executedCold(EventWindows.qFunnel4(spark, Sf0001))
    assert(plan.contains("PushedFilters: [") && plan.contains("EqualTo(event_type"))
    assert(!plan.contains("CartesianProduct"))
    assert(!plan.contains("BroadcastNestedLoopJoin"))
    val readSchema = plan.linesIterator.find(_.contains("ReadSchema")).get
    assert(!readSchema.contains("props") && !readSchema.contains("value"))
  }

  test("q_funnel_abandon: funnel frames + ONE broadcast 1-row clock — no extra corpus shuffle") {
    val plan = executedCold(EventWindows.qFunnelAbandon(spark, Sf0001))
    assert(!plan.contains("CartesianProduct"))
    // the max-clock anchor joins as a broadcast of a 1-row aggregate
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("BroadcastExchange"))
  }

  test("q_video_neardup: frame-hash inverted-index join is equi on fhash, never cartesian") {
    val plan = executedCold(Multimodal.qVideoNeardup(spark, Sf0001))
    assert(!plan.contains("CartesianProduct"))
    assert(!plan.contains("BroadcastNestedLoopJoin"))
    // shared-frame counts aggregate with map-side combine
    assert(plan.contains("partial"))
  }

  test("q_attribution: one user-keyed window shuffle, join-free") {
    val plan = executedCold(Behavior.qAttribution(spark, Sf0001))
    assert(!plan.contains("Join"))
    assert(plan.linesIterator.count(_.contains("Exchange hashpartitioning")) == 1)
  }

  test("q_event_flow: join-free — user window then map-side-combined matrix aggregate") {
    val plan = executedCold(Behavior.qEventFlow(spark, Sf0001))
    assert(!plan.contains("Join"))
    assert(plan.contains("partial"))
    assert(plan.linesIterator.count(_.contains("Exchange hashpartitioning")) <= 3)
  }

  test("q_frame_phash: per-frame hashing rides the scan — no join, no hash shuffle") {
    val plan = executedCold(Multimodal.qFramePhash(spark, Sf0001))
    assert(!plan.contains("Join"))
    assert(plan.linesIterator.count(_.contains("Exchange hashpartitioning")) == 0)
  }

  test("q_incremental_phash: index probe is chunk-key equi, never cartesian") {
    val plan = executedCold(Multimodal.qIncrementalPhash(spark, Sf0001))
    assert(!plan.contains("CartesianProduct"))
    assert(!plan.contains("BroadcastNestedLoopJoin"))
  }

  test("q_image_phash: scan reads only (doc_id, text) — unused metadata fields pruned") {
    val plan = executedCold(Multimodal.qImagePhash(spark, Sf0001))
    assert(!plan.contains("Join"))
    val readSchema = plan.linesIterator.find(_.contains("ReadSchema")).get
    assert(readSchema.contains("doc_id") && readSchema.contains("text"))
    assert(!readSchema.contains("lang") && !readSchema.contains("source"))
  }

  test("q_ann_eval: evaluation joins probe-sized outputs — never corpus-sized frames") {
    val plan = executedCold(Similarity.qAnnEval(spark, Sf0001))
    assert(!plan.contains("CartesianProduct"))
    // the truth/ann join carries |Q|·k rows per side and stays hashed
    assert(plan.contains("partial"))
  }

  test("q_pii_luhn: checksum folds inside the row — no join, no hash shuffle") {
    val plan = executedCold(Corpus.qPiiLuhn(spark, Sf0001))
    assert(!plan.contains("Join"))
    assert(!plan.contains("Exchange hashpartitioning"))
    val readSchema = plan.linesIterator.find(_.contains("ReadSchema")).get
    assert(readSchema.contains("c_name") && readSchema.contains("c_mktsegment"))
    assert(!readSchema.contains("c_acctbal") && !readSchema.contains("c_address"))
  }

  test("q_skew_audit: only (key, cnt) partials shuffle; no join anywhere") {
    val plan = executedCold(Scale.qSkewAudit(spark, Sf0001))
    assert(!plan.contains("Join"))
    assert(plan.contains("partial"), "per-key counts must combine map-side")
    val readSchema = plan.linesIterator.find(_.contains("ReadSchema")).get
    assert(!readSchema.contains("props") && !readSchema.contains("value"))
  }

  test("q_zorder_audit: bounds broadcast; one slim (layout, shard) aggregate") {
    val plan = executedCold(Scale.qZorderAudit(spark, Sf0001))
    // the single-row bounds frame is the only nested-loop allowed
    val bnlj = plan.linesIterator.count(_.contains("BroadcastNestedLoopJoin"))
    assert(bnlj <= 1, s"only the 1-row bounds cross may be a BNLJ, found $bnlj")
    assert(!plan.contains("CartesianProduct"))
    assert(plan.contains("partial"))
    // shard stats are the only hash shuffle
    assert(plan.linesIterator.count(_.contains("Exchange hashpartitioning")) <= 1)
  }

  test("q_unimax_alloc: the waterfill runs over the |sources| aggregate, not the corpus") {
    val plan = executedCold(Sampling.qUnimaxAlloc(spark, Sf0001))
    val readSchema = plan.linesIterator.find(_.contains("ReadSchema")).get
    assert(readSchema.contains("source") && readSchema.contains("n_chars"))
    assert(!readSchema.contains("text"))
    assert(!plan.contains("CartesianProduct"))
    // the scalar terms ride broadcast single-row aggregates; the ranked
    // subtree (with its scalar cross) compiles twice — once under the
    // boundary aggregate, once in the final join — so its BNLJ prints
    // twice plus the boundary broadcast: 3 total, all single-row sides
    val bnlj = plan.linesIterator.count(_.contains("BroadcastNestedLoopJoin"))
    assert(bnlj <= 3, s"only the single-row scalar broadcasts may be BNLJ, found $bnlj")
    // the per-source aggregate combines map-side before any window
    assert(plan.contains("partial"))
  }

  test("q_mrl_eval: every truncated leg broadcasts its probes; no cartesian") {
    val plan = executedCold(Similarity.qMrlEval(spark, Sf0001))
    assert(plan.contains("BroadcastExchange"), "probe sets must broadcast")
    assert(!plan.contains("CartesianProduct"))
    // one non-equi broadcast probe join per leg (3 dims) + the truth leg
    val bnlj = plan.linesIterator.count(_.contains("BroadcastNestedLoopJoin"))
    assert(bnlj <= MrlEvalLegs,
      s"only the broadcast probe joins may be BNLJ, found $bnlj")
  }

  test("q_dist_shift: side counts read the persisted store; totals broadcast as 1-row frames") {
    val plan = executed(Corpus.qDistShift(spark, Sf0001))
    assert(plan.contains("InMemoryTableScan"),
      "both consumers must read the persisted side-count store")
    assert(!plan.contains("CartesianProduct"))
    // the scalar totals and the TV sum are the only nested-loops; the
    // totals cross compiles twice (again under the scalar's subtree),
    // so 3 prints — all 1-row sides (same accounting as q_unimax_alloc)
    val bnlj = plan.linesIterator.count(_.contains("BroadcastNestedLoopJoin"))
    assert(bnlj <= 3, s"only 1-row scalar crosses may be BNLJ, found $bnlj")
    assert(plan.contains("TakeOrderedAndProject"))
  }

  test("q_pmi_bigrams: vocab-keyed joins and map-side-combined counts; top-k is TakeOrdered") {
    val plan = executedCold(TextOps.qPmiBigrams(spark, Sf0001))
    assert(!plan.contains("CartesianProduct"))
    // the single-row token total is the only nested-loop allowed
    val bnlj = plan.linesIterator.count(_.contains("BroadcastNestedLoopJoin"))
    assert(bnlj <= 1, s"only the 1-row total cross may be a BNLJ, found $bnlj")
    assert(plan.contains("partial_count"))
    assert(plan.contains("TakeOrderedAndProject"))
  }

  test("q_winnow: pure per-row expression work — no join, no aggregate shuffle") {
    val plan = executedCold(TextOps.qWinnow(spark, Sf0001))
    assert(!plan.contains("Join"), "winnowing must select fingerprints inside the row")
    // input re-shard + presentation sort only
    assert(plan.linesIterator.count(_.contains("Exchange")) <= 2)
  }

  test("q_retention: slim (user, week) distinct is the only corpus shuffle; no nested-loop join") {
    val plan = executedCold(Behavior.qRetention(spark, Sf0001))
    assert(!plan.contains("CartesianProduct"))
    assert(!plan.contains("BroadcastNestedLoopJoin"))
    // distinct + rollup aggregate map-side before shuffling
    assert(plan.contains("partial"))
    // (user,week) distinct + user cohort-min + (cohort,offset) rollup +
    // the cohort_size window repartition — never the raw events twice
    assert(plan.linesIterator.count(_.contains("Exchange hashpartitioning")) <= 4)
  }

  test("q_decay_score: anchor week broadcasts as a 1-row frame; one user-keyed shuffle") {
    val plan = executedCold(Behavior.qDecayScore(spark, Sf0001))
    assert(!plan.contains("CartesianProduct"))
    val bnlj = plan.linesIterator.count(_.contains("BroadcastNestedLoopJoin"))
    assert(bnlj <= 1, s"only the 1-row anchor cross may be a BNLJ, found $bnlj")
    // the decayed sum combines map-side; user_id is the only hash shuffle
    assert(plan.contains("partial_sum"))
    assert(plan.linesIterator.count(_.contains("Exchange hashpartitioning")) <= 1)
  }

  test("q_srm_check: assignment is per-row expression work; counts combine map-side") {
    val plan = executedCold(Behavior.qSrmCheck(spark, Sf0001))
    assert(!plan.contains("CartesianProduct"))
    assert(!plan.contains("BroadcastNestedLoopJoin"))
    assert(plan.contains("partial_sum"))
    // per-type counts + the user-exposure distinct
    assert(plan.linesIterator.count(_.contains("Exchange hashpartitioning")) <= 2)
  }

  test("q_incremental_clusters: the merge never re-closes the corpus — stores read cached, closure is a bounded RDD artifact") {
    Clustering.incrementalStore(spark, Sf0001) // warm: the plan reads the cached store
    val plan = executed(Clustering.qIncrementalClusters(spark, Sf0001))
    // the persisted label store and signature store feed every branch
    assert(plan.contains("InMemoryTableScan"), "must read the persisted stores")
    // the contracted closure ran during construction and enters the
    // plan as a materialized row RDD — bounded by the batch's touch
    // set; a corpus-sized band self-join re-appearing here would be
    // the re-closure this operator exists to avoid
    assert(plan.contains("ExistingRDD"),
      "contracted-closure labels must be a materialized bounded artifact")
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"))
  }

  test("q_incremental_modal: merge reads the persisted modal store; closure is a bounded RDD artifact") {
    Multimodal.incModalStore(spark, Sf0001) // warm: the plan reads the cached store
    val plan = executed(Multimodal.qIncrementalModal(spark, Sf0001))
    assert(plan.contains("InMemoryTableScan"), "must read the persisted stores")
    assert(plan.contains("ExistingRDD"),
      "contracted-closure labels must be a materialized bounded artifact")
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"))
  }

  test("q_incremental_semdedup: probe reads one materialized assignment store; candidates join on cell") {
    val plan = executed(Similarity.qIncrementalSemdedup(spark, Sf0001))
    // the corpus × 8-centroid assignment materializes once; both the
    // incoming and corpus probe branches must read the cache
    assert(plan.contains("InMemoryTableScan"))
    assert(!plan.contains("CartesianProduct"))
  }

  test("q_pagerank: the walk reads the materialized edge store — zero fact re-scans across all K rounds") {
    // cold: the edge-store memo is dropped, so constructing the gate
    // re-materializes it (ONE fact-join pass, outside this plan) and
    // the K-round walk below must read ONLY the persisted edge RDD.
    // The round-9 factory encoding measured 68 parquet scans /
    // 103 exchanges here (every round re-ran the lineitem⋈orders edge
    // build); this pin makes that regression a test failure.
    val plan = executedCold(Graph.qPagerank(spark, Sf0001))
    assert(!plan.contains("Scan parquet"),
      "pagerank rounds must not re-scan the fact tables")
    assert(plan.contains("Scan ExistingRDD"),
      "edge store must enter the plan as the materialized RDD")
    // the only non-equi join allowed is the broadcast CROSS of the
    // 1-row node-count aggregate (the repo-wide bounded-scalar pattern)
    assert(!plan.contains("CartesianProduct"))
  }

  test("q_gap_fill: one user-keyed shuffle carries dedup, run-explosion and fill") {
    val plan = executedCold(Temporal.qGapFill(spark, Sf0001))
    // lag-dedup window, lead window and explode all share the
    // user_id partitioning — exactly one hash exchange (+ the final
    // presentation sort's range exchange)
    assert(plan.linesIterator.count(_.contains("Exchange hashpartitioning")) <= 1)
    assert(!plan.contains("CartesianProduct") && !plan.contains("Join"))
  }

  test("q_scd2: single customer-keyed shuffle; islands aggregate reuses the window partitioning") {
    val plan = executedCold(Temporal.qScd2(spark, Sf0001))
    // hashpartitioning(o_custkey) satisfies the (o_custkey, island)
    // clustering of the island aggregate and the interval-chaining
    // window — the whole build is one shuffle
    assert(plan.linesIterator.count(_.contains("Exchange hashpartitioning")) <= 1)
    assert(plan.contains("partial_"), "island aggregate must combine map-side")
    assert(!plan.contains("CartesianProduct"))
  }

  test("q_edit_verify: Levenshtein runs on the banded candidate set via id-keyed equi-joins") {
    val plan = executedCold(Dedup.qEditVerify(spark, Sf0001))
    // the O(len²) scorer must never see a pair that LSH didn't emit
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"))
  }

  test("q_k_anonymity: generalization passes are map-side-combinable group-bys over slim QI rows") {
    val plan = executedCold(Analytics.qKAnonymity(spark, Sf0001))
    assert(plan.contains("partial_"), "QI group counts must combine map-side")
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"))
    // only the QI columns reach the customer scan
    val readSchema = plan.linesIterator.filter(_.contains("ReadSchema"))
      .mkString("\n")
    assert(!readSchema.contains("c_comment") && !readSchema.contains("c_address"))
  }

  test("q_ppr_suppliers: the personalized walk reads only the materialized edge + seed stores") {
    val plan = executedCold(Graph.qPprSuppliers(spark, Sf0001))
    // both stores materialize at construction; the K-round walk itself
    // must touch no parquet (same contract as q_pagerank)
    assert(!plan.contains("Scan parquet"))
    assert(plan.contains("Scan ExistingRDD"))
    assert(!plan.contains("CartesianProduct"))
  }

  test("q_ssjoin: candidates come from prefix-posting equi-joins — no cross product, slim shuffles") {
    val plan = executedCold(Dedup.qSsjoin(spark, Sf0001))
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"))
    // the verify joins are id/hash-keyed; text never crosses a shuffle
    val exchanges = plan.linesIterator.filter(_.contains("Exchange hashpartitioning")).mkString("\n")
    assert(!exchanges.contains("text"), "only (doc_id, h, df) columns may shuffle:\n" + exchanges)
  }

  test("q_spoofing: book build + FSM fold are keyed shuffles over slim rows, no cross product") {
    val plan = executedCold(graft.streaming.SpoofingDetector.qSpoofing(spark, Sf0001))
    // frame window + level agg + book agg + code repartition for the
    // fold: every shuffle is keyed; nothing corpus-sized is global
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"))
    assert(plan.contains("partial_"), "level counts must combine map-side")
    // only the event columns the book derivation needs reach the scan
    val readSchema = plan.linesIterator.filter(_.contains("ReadSchema")).mkString("\n")
    assert(!readSchema.contains("props"), "unused payload column must prune")
  }

  test("q_cusum: facts collapse map-side to (type, day); both chart windows share one partitioning") {
    val plan = executedCold(Analytics.qCusum(spark, Sf0001))
    assert(plan.contains("partial_"), "daily cents must combine map-side")
    // daily agg + mean agg + the two cumulative windows: everything
    // after the collapse lives inside hashpartitioning(event_type)
    assert(plan.linesIterator.count(_.contains("Exchange hashpartitioning")) <= 2,
      "chart windows must reuse the type partitioning:\n" + plan)
    assert(!plan.contains("CartesianProduct"))
  }

  test("q_benford: one map-side digit count; totals and expectations broadcast back") {
    val plan = executedCold(Analytics.qBenford(spark, Sf0001))
    assert(plan.contains("partial_"), "digit counts must combine map-side")
    assert(plan.contains("BroadcastHashJoin"), "totals/expectations must broadcast")
    assert(!plan.contains("SortMergeJoin") && !plan.contains("CartesianProduct"))
  }

  test("q_salsa: the alternating walk reads only the materialized edge store") {
    val plan = executedCold(Graph.qSalsa(spark, Sf0001))
    // same contract as q_pagerank/q_ppr: the store materializes at
    // construction; the 2K half-rounds touch no parquet
    assert(!plan.contains("Scan parquet"))
    assert(plan.contains("Scan ExistingRDD"))
    assert(!plan.contains("CartesianProduct"))
  }

  test("q_ann_artifact: the inverted-file scan partition-prunes to the probed cells") {
    val plan = executedCold(Similarity.qAnnArtifact(spark, Sf0001))
    // the inverted file is the scan whose rows start with vec_id (the
    // queries file starts with query_id)
    val invScan = plan.linesIterator
      .filter(l => l.contains("FileScan parquet [vec_id#"))
      .mkString("\n")
    assert(invScan.contains("PartitionFilters: [cell") && invScan.contains(" IN ("),
      "probe must reach the scan as a literal partition filter:\n" + invScan)
    assert(!plan.contains("CartesianProduct"))
  }

  test("q_time_prune: the day-partitioned scan prunes to the 7 days inside the range") {
    val plan = executedCold(Scale.qTimePrune(spark, Sf0001))
    val scan = plan.linesIterator
      .filter(l => l.contains("FileScan parquet") && l.contains("PartitionFilters"))
      .mkString("\n")
    // the hypertable chunk-exclusion shape: the time predicate reaches
    // the scan as a PARTITION filter (directory pruning), not a data
    // filter over all 30 days
    assert(scan.contains("PartitionFilters: [") &&
      scan.contains(Scale.PruneDayLo.toString) && scan.contains(Scale.PruneDayHi.toString),
      "day range must prune partitions at the scan:\n" + plan)
    // and the store genuinely holds the full month — pruning had
    // something to prune
    val path = Scale.dayPartitionedEvents(spark, Sf0001)
    val allDays = spark.read.parquet(path).select("day").distinct().count()
    assert(allDays >= 28, s"store should span the month, had $allDays days")
  }

  test("q_source_copying: pair store enters as cached RDD; source labels attach by equi-join") {
    val plan = executedCold(Graph.qSourceCopying(spark, Sf0001))
    assert(plan.contains("Scan ExistingRDD"), "band join must not re-run")
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"))
  }

  test("q_shard_digest: block digests fold map-side; one full-outer shard join") {
    val plan = executedCold(Ingestion.qShardDigest(spark, Sf0001))
    assert(plan.contains("partial_"), "xor digests must combine map-side")
    assert(!plan.contains("CartesianProduct"))
  }

  test("q_interarrival: two shuffles — user lag window, then type rank window whose partitioning the final agg reuses") {
    val plan = executedCold(Analytics.qInterarrival(spark, Sf0001))
    assert(plan.linesIterator.count(_.contains("Exchange hashpartitioning")) <= 2,
      "rank window and quantile agg must share hashpartitioning(event_type):\n" + plan)
    assert(!plan.contains("Join") && !plan.contains("CartesianProduct"))
  }

  test("q_outlier_days: medians broadcast back onto the slim daily rows — no shuffle join") {
    val plan = executedCold(Analytics.qOutlierDays(spark, Sf0001))
    assert(plan.contains("BroadcastHashJoin"),
      "per-type med/mad (|types| rows) must attach by broadcast")
    assert(!plan.contains("SortMergeJoin") && !plan.contains("CartesianProduct"))
    assert(plan.contains("partial_"), "daily counts must combine map-side")
  }

  test("q_fd_audit: per-FD two-phase distinct aggregates, map-side combined, no joins") {
    val plan = executedCold(Analytics.qFdAudit(spark, Sf0001))
    assert(plan.contains("partial_"), "(det, dep) pair counts must combine map-side")
    assert(!plan.contains("Join") && !plan.contains("CartesianProduct"))
  }

  test("q_token_efficiency: one scan, map-side partial agg into |languages| rows") {
    val plan = executedCold(TextOps.qTokenEfficiency(spark, Sf0001))
    assert(plan.contains("partial_"), "per-lang sums must combine map-side")
    assert(plan.linesIterator.count(_.contains("Exchange hashpartitioning")) <= 1)
    assert(!plan.contains("Join"))
  }

  test("q_trend_slope: two slim shuffles — (key,day) pre-agg, then the supplier window+agg share one partitioning") {
    val plan = executedCold(Analytics.qTrendSlope(spark, Sf0001))
    assert(plan.linesIterator.count(_.contains("Exchange hashpartitioning")) <= 2,
      "window and final aggregate must reuse hashpartitioning(key):\n" + plan)
    assert(plan.contains("partial_"), "daily pre-agg must combine map-side")
    assert(!plan.contains("CartesianProduct") && !plan.contains("Join"))
  }

  test("q_bucketed_join: co-located SMJ — zero exchanges on either fact side") {
    // broadcast would also avoid the shuffle at this SF and mask the
    // layout property; disable it so the pin is the bucketed SMJ a
    // 100 TB fact-fact join would compile to
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    try {
      val plan = executedCold(Scale.qBucketedJoin(spark, Sf0001))
      assert(plan.contains("SortMergeJoin"))
      // the only hash exchange is the 5-group priority aggregate AFTER
      // the join; both bucketed scans feed the SMJ shuffle-free
      assert(plan.linesIterator.count(_.contains("Exchange hashpartitioning")) <= 1,
        "bucketed sides must not re-shuffle:\n" + plan)
      assert(plan.contains("SelectedBucketsCount") || plan.contains("Bucketed: true"),
        "join sides must read the bucketed tables")
    } finally {
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      spark.conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold")
    }
  }

  test("q_bucketed_compact: co-location survives base + appends + compaction; one file per bucket") {
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    try {
      val plan = executedCold(Scale.qBucketedCompact(spark, Sf0001))
      assert(plan.contains("SortMergeJoin"))
      // the compaction rewrite must neither mis-bucket (re-shuffle
      // here) nor lose the bucketed-scan property
      assert(plan.linesIterator.count(_.contains("Exchange hashpartitioning")) <= 1,
        "compacted buckets must stay co-located:\n" + plan)
    } finally {
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      spark.conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold")
    }
    // layout: the three files per bucket the two appends left are now one
    val li = Scale.bucketedCompactTable(spark, Sf0001)
    val loc = spark.sql(s"DESCRIBE TABLE EXTENDED $li")
      .filter(org.apache.spark.sql.functions.col("col_name") === "Location")
      .head.getString(1)
    val files = new java.io.File(new java.net.URI(loc)).listFiles()
      .filter(_.getName.endsWith(".parquet"))
    assert(files.length == Scale.NumBuckets,
      s"compaction must leave one file per bucket, got ${files.length}")
  }

  test("q_bucketed_append: co-location survives the appended ingest batch") {
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    try {
      val plan = executedCold(Scale.qBucketedAppend(spark, Sf0001))
      assert(plan.contains("SortMergeJoin"))
      // a misbucketed append would force a re-shuffle here — the pin
      // that a content diff alone cannot provide
      assert(plan.linesIterator.count(_.contains("Exchange hashpartitioning")) <= 1,
        "appended buckets must stay co-located:\n" + plan)
    } finally {
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      spark.conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold")
    }
  }

  test("q_khop_suppliers: the min-plus walk reads only the materialized edge + seed stores") {
    val plan = executedCold(Graph.qKhopSuppliers(spark, Sf0001))
    // same contract as the rank walks: stores materialize at
    // construction, the K relaxation rounds touch no parquet
    assert(!plan.contains("Scan parquet"))
    assert(plan.contains("Scan ExistingRDD"))
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"))
  }

  test("q_triangles: wedge and close joins read the materialized pair store, no cross product") {
    val plan = executedCold(Graph.qTriangles(spark, Sf0001))
    // the LSH band join ran once at store build; every reference here
    // is a fresh wrap over the cached pair RDD
    assert(!plan.contains("Scan parquet"))
    assert(plan.contains("Scan ExistingRDD"))
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"))
  }

  test("q_copurchase: capped incidence store feeds the self-join; top-100 is a TakeOrdered, not a global sort") {
    val plan = executedCold(Graph.qCoPurchase(spark, Sf0001))
    assert(!plan.contains("Scan parquet"))
    assert(plan.contains("TakeOrderedAndProject"),
      "orderBy+limit must compile to top-k, not a full sort")
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"))
  }

  test("q_rendezvous_shard: pure per-row codegen'd expression work — zero hash exchanges") {
    val df = Scale.qRendezvousShard(spark, Sf0001)
    // execute THIS df (count() compiles a different plan) so AQE
    // finalizes and codegen stages are visible in the plan string
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.linesIterator.count(_.contains("Exchange hashpartitioning")) == 0,
      "HRW assignment must not shuffle")
    // the unrolled greatest(struct...) argmax stays inside codegen —
    // the lambda (transform/array_max) encoding would not. Codegen
    // stages render as "*(n)" markers in the final AQE plan string.
    assert(plan.contains("*(1) Project"),
      "HRW projection must sit inside a WholeStageCodegen stage")
    // column pruning: only doc_id reaches the scan
    val readSchema = plan.linesIterator.find(_.contains("ReadSchema")).get
    assert(!readSchema.contains("text"))
  }

  test("q_session_window: native session aggregation on one user-keyed shuffle, no window-pair encoding") {
    val plan = executedCold(EventWindows.qSessionWindow(spark, Sf0001))
    // the built-in merges sessions inside the aggregate — no lag/sum
    // window pass, no second shuffle beyond the session aggregate
    assert(plan.linesIterator.count(_.contains("Exchange hashpartitioning")) <= 2)
    assert(!plan.contains("CartesianProduct"))
    assert(!plan.toLowerCase.contains("windowexec") ||
      !plan.contains("lag("), "must use session_window, not the lag encoding")
  }

  test("q_source_overlap: incidence store read warm; intersection joins on the shingle hash only") {
    Corpus.sourceShingleStore(spark, Sf0001) // warm: the plan reads the cached store
    val plan = executed(Corpus.qSourceOverlap(spark, Sf0001))
    assert(plan.contains("InMemoryTableScan"), "must read the persisted incidence store")
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"))
  }

  test("q_cluster_stats: both persisted stores read warm, slim keyed rollups, no cross product") {
    Clustering.dupLabels(spark, Sf0001)
    Graph.dupPairStore(spark, Sf0001)
    val plan = executed(Clustering.qClusterStats(spark, Sf0001))
    assert(plan.contains("InMemoryTableScan"), "must read the persisted label store")
    assert(plan.contains("Scan ExistingRDD"), "must read the materialized pair store")
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"))
  }

  test("q_canonical_pick: label store read warm; the pick is one cluster-keyed window, no cross product") {
    Clustering.dupLabels(spark, Sf0001) // warm: the plan reads the cached store
    val plan = executed(Clustering.qCanonicalPick(spark, Sf0001))
    assert(plan.contains("InMemoryTableScan"), "must read the persisted label store")
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"))
    // only doc_id + n_chars reach the documents scan
    val readSchema = plan.linesIterator.filter(_.contains("documents.parquet"))
      .mkString("\n")
    assert(!readSchema.contains("text"))
  }

  test("q_quantile_norm: the only global structure is the broadcast value-level CDF — no corpus-sized global sort") {
    val plan = executedCold(Analytics.qQuantileNorm(spark, Sf0001))
    // the position→value range join must be a BROADCAST of the bounded
    // histogram, never a shuffled cartesian
    assert(plan.contains("BroadcastNestedLoopJoin"))
    assert(!plan.contains("CartesianProduct"))
    // text never leaves the scan
    val readSchema = plan.linesIterator.filter(_.contains("ReadSchema")).mkString("\n")
    assert(!readSchema.contains("text"))
  }

  test("q_cdc_chunks: per-row carving, zero hash exchanges, text-pruned projection after explode") {
    val plan = executedCold(Corpus.qCdcChunks(spark, Sf0001))
    // tokenize → cut → explode are all in-row; the only exchange is the
    // presentation sort's range partitioning
    assert(plan.linesIterator.count(_.contains("Exchange hashpartitioning")) == 0,
      "CDC chunking must not shuffle")
    assert(!plan.contains("Join"))
  }

  test("q_edge_support: per-edge rollup reads the materialized pair store, no cross product") {
    val plan = executedCold(Graph.qEdgeSupport(spark, Sf0001))
    assert(!plan.contains("Scan parquet"))
    assert(plan.contains("Scan ExistingRDD"))
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"))
  }

  test("q_top_paths: session split + path rollup in two keyed shuffles; top-k is a TakeOrdered") {
    val plan = executedCold(Behavior.qTopPaths(spark, Sf0001))
    // one user-keyed exchange (session windows reuse it) + one
    // path-keyed count exchange
    assert(plan.linesIterator.count(_.contains("Exchange hashpartitioning")) <= 2)
    assert(plan.contains("TakeOrderedAndProject"),
      "top-k must not compile to a global sort")
    assert(!plan.contains("CartesianProduct"))
  }

  test("q_kcore: the peel walks cached edge blocks — no fact re-scan, no cross product") {
    val plan = executedCold(Graph.qKCore(spark, Sf0001))
    // the transaction store materializes at construction; the peel
    // rounds and the final rollup read only persisted rows
    assert(plan.contains("Scan ExistingRDD"))
    assert(!plan.contains("CartesianProduct"))
  }

  test("q_curation_e2e: the composition rides the memoized stores and slim joins — no cross product") {
    val plan = executedCold(Curation.qCurationE2e(spark, Sf0001))
    // the near-dup labels come from the shared persisted store
    assert(plan.contains("InMemoryTableScan") || plan.contains("Scan ExistingRDD"),
      "cluster labels must be served from the memoized store")
    assert(!plan.contains("CartesianProduct"))
  }

  test("q_cheapest_path: the relaxation rounds read only materialized stores") {
    val plan = executedCold(Graph.qCheapestPath(spark, Sf0001))
    // stores materialize at construction and each round re-materializes
    // its frontier: the executed walk touches no parquet at all
    assert(!plan.contains("Scan parquet"))
    assert(plan.contains("Scan ExistingRDD"))
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"))
  }

  test("q_sparse_cosine: postings join carries longs only, no cross product") {
    val plan = executedCold(Dedup.qSparseCosine(spark, Sf0001))
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"))
    // the pair join and every shuffle move (doc_id, h, tf) longs —
    // document text never enters a partitioning expression
    assert(!plan.contains("hashpartitioning(text"),
      "text must not key a shuffle")
    assert(plan.contains("SortMergeJoin") || plan.contains("ShuffledHashJoin") ||
      plan.contains("BroadcastHashJoin"), // AQE broadcasts the small SF sides
      "the candidate join must be a keyed equi-join")
  }

  test("q_bloom_prune: the probe read opens only bloom-matched files") {
    val base = Scale.bloomStore(spark, Sf0001)
    val ids = Scale.bloomProbeIds(spark, base)
    val (_, read, total) = Scale.bloomPrunedRead(spark, base, ids)
    assert(read < total, s"expected a pruned file list, read=$read total=$total")
    val plan = executedCold(Scale.qBloomPrune(spark, Sf0001))
    assert(!plan.contains("CartesianProduct"))
  }

  test("q_recommend: similar-items truncation keeps every join keyed, no cross product") {
    val plan = executedCold(Graph.qRecommend(spark, Sf0001))
    assert(!plan.contains("CartesianProduct"))
    // the scoring path reads the memoized incidence store, not parquet
    assert(plan.contains("Scan ExistingRDD"))
  }

  test("q_grouping_sets: one Expand feeds one aggregation — no multi-scan rollup") {
    val plan = executedCold(Analytics.qGroupingSets(spark, Sf0001))
    // Spark plans ROLLUP as Expand (3 projections of one scan) into a
    // single partial-agg tree — exactly the one-shuffle multi-level
    // shape the operator exists for; three separate GROUP BYs would
    // show three scans
    assert(plan.contains("Expand"))
    assert(plan.split("Scan parquet").length - 1 <= 2,
      "the rollup must not re-scan the fact table per level")
    assert(!plan.contains("CartesianProduct"))
  }

  test("q_scd2_join: the as-of enrichment broadcasts the interval dimension, no BNLJ over the fact") {
    val plan = executedCold(Temporal.qScd2Join(spark, Sf0001))
    // equi key (custkey) + interval residual must plan as a broadcast
    // hash join of the slim dimension — the naive inequality-only
    // encoding nested-loops the whole fact table
    assert(plan.contains("BroadcastHashJoin"),
      "the interval dimension must broadcast")
    assert(!plan.contains("BroadcastNestedLoopJoin") &&
      !plan.contains("CartesianProduct"),
      "the fact side must never nested-loop")
  }

  test("q_merge_upsert / q_time_travel: manifest- and shard-scoped reads, no cross product") {
    val p1 = executedCold(Scale.qMergeUpsert(spark, Sf0001))
    assert(!p1.contains("CartesianProduct"))
    val p2 = executedCold(Scale.qTimeTravel(spark, Sf0001))
    assert(!p2.contains("CartesianProduct"))
  }

  test("q_zorder_prune: the rollup scans only the manifest-selected files") {
    val base = Scale.zorderStore(spark, Sf0001)
    val (aLo, aHi, bLo, bHi) = Scale.zorderBox(spark, base)
    val (_, read, total) = Scale.zorderPrunedRead(spark, base, aLo, aHi, bLo, bHi)
    val plan = executedCold(Scale.qZorderPrune(spark, Sf0001))
    // the scan's file source is the pruned list, not the store dir:
    // fewer partitions/files than the full store implies the manifest
    // cut reached the plan (ScaleSpec separately pins row equality)
    assert(read < total, s"expected a pruned file list, read=$read total=$total")
    assert(!plan.contains("CartesianProduct"))
  }

  // ------------------------------------------------------------------
  // Single-partition-window contract: Spark warns "No Partition
  // Defined for Window" whenever a window has no partitionBy — fatal
  // at 100 TB if the input is corpus-sized, fine if the input is a
  // bounded frame (a histogram, a top-K cut, a per-query shortlist).
  // This test turns that eyeball judgment into a checked contract:
  // every unpartitioned logical Window across the ENTIRE query surface
  // must (a) belong to an explicitly allowlisted query and (b) have an
  // input that row-counts under the bound at the test SF.
  // ------------------------------------------------------------------
  test("unpartitioned windows: exactly the allowlisted sites, every input bounded") {
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
    val Bound = 20000L
    // the allowed sites and why each window's input is bounded:
    val allow: Set[String] = Set(
      "q_novelty_curve",  // cumulative novelty over the per-bucket rollup (|ingest buckets| rows)
      "q_unimax_alloc",   // round-robin budget allocation over the per-source table (|sources| rows)
      "q_budget_select",  // threshold pick over histogram-bucket boundaries (fixed bucket grid)
      "q_vocab_coverage", // cumulative coverage over the top-K vocab cut (K rows)
      "q_quantile_norm",  // value-level CDF over the distinct-length histogram (|distinct lengths| rows, corpus-independent)
      "q_curation_e2e",   // mixture position offsets over the per-lang quota frame (|langs| rows)
      "q_rfm",            // quintile boundaries over per-metric value histograms (date-span / order-cap / 1000-cell grid rows)
      "q_max_concurrency" // cross-day carry over the per-day delta rollup (date-span rows)
    )
    val offenders = scala.collection.mutable.ArrayBuffer.empty[String]
    val actual = scala.collection.mutable.Set.empty[String]
    graft.SparkEntry.queries.foreach { case (name, fn) =>
      val df = fn(spark, Sf0001)
      val wins = df.queryExecution.analyzed.collect {
        case w: LWindow if w.partitionSpec.isEmpty => w
      }
      if (wins.nonEmpty) actual += name
      wins.foreach { w =>
        val n = org.apache.spark.sql.GraftPlanAccess.ofRows(spark, w.child).count()
        if (n > Bound) offenders += s"$name (unpartitioned window input $n > $Bound)"
      }
    }
    assert(offenders.isEmpty,
      s"unpartitioned-window inputs over bound: ${offenders.mkString("; ")}")
    // exact in both directions: a NEW unpartitioned window anywhere in
    // the surface must be reviewed onto this list; a REMOVED one must
    // leave it
    assert(actual.toSet == allow,
      s"allowlist drift — actual unpartitioned-window sites: ${actual.toSeq.sorted.mkString(", ")}")
  }
}
