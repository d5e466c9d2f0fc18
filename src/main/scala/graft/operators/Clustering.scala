package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import org.apache.spark.storage.StorageLevel

import graft.core.Memo
import graft.functions.Hashing
import graft.sources.Tables

/**
 * Near-duplicate cluster assembly: connected components over the
 * MinHash+LSH near-dup pair graph ([[Dedup.qMinhashLshPairs]]), so each
 * group of mutually-near documents gets one canonical cluster id (the
 * minimum doc_id in the component) — the step that turns pairwise
 * dedup output into "keep one document per cluster" decisions in a
 * training-data pipeline.
 *
 * Algorithm: distributed min-label propagation. Each node starts
 * labeled with its own id; every round each node takes the min label
 * over itself and its neighbors; stop when no label changed. All data
 * movement is hash-partitioned joins/aggregations on node id — nothing
 * is ever collected to the driver (the loop condition is a count, not
 * data). Rounds = graph diameter. For near-dup graphs that is the
 * right bound: dup clusters are tiny, dense families (pairs, triples,
 * small stars), so diameter is a small constant regardless of corpus
 * size — at 100 TB the round count stays 2–4 while each round is one
 * shuffle of |E| slim (long, long) rows. (For adversarial long-chain
 * graphs the known fix is large-star/small-star contraction with
 * O(log n) rounds; the loop below accepts any edge set, so swapping
 * the propagation rule is local to this file.)
 */
object Clustering {
  import Relational.ColInterp

  /** Connected components of an undirected edge list (columns `a`, `b`)
    * → (id, label) with label = min node id in the component.
    * Singletons (nodes with no edges) are not represented — callers
    * that need them union the vertex set in. */
  def connectedComponents(edges: DataFrame, maxRounds: Int = 25): DataFrame = {
    // Persist the directed edge list FIRST, then symmetrize from the
    // cache: union(edges, edges.swap) over the raw plan would execute
    // the (often expensive) upstream pair-generation twice.
    val e = edges.select($"a".as("src"), $"b".as("dst"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    // Each round propagates labels across edges both directions via
    // one join + one min-aggregate. sym is a cheap map over the cached
    // edge list — not persisted itself, so it costs no extra
    // materialization action (each round re-derives it from cache).
    val sym = e.unionByName(e.select($"dst".as("src"), $"src".as("dst")))
    // LINEAGE TRUNCATION (load-bearing at scale): each round's labels
    // frame is referenced twice (once directly in the union, once
    // through the edge join), so a naive loop grows the LOGICAL plan
    // exponentially with the round count — on a dense graph needing
    // many rounds, merely printing or re-analyzing the plan OOMs the
    // driver long before any data pressure (observed on the 10×
    // rehearsal's modal-dedup graph). Each round therefore materializes
    // its label frame into an RDD persisted at the RDD LEVEL and wraps
    // it in a fresh flat DataFrame: the logical plan stays one
    // scan + one join/aggregate regardless of round count, the
    // previous round's blocks are released DETERMINISTICALLY
    // (`RDD.unpersist` — Dataset.unpersist is a no-op on non-CacheManager
    // frames, and localCheckpoint both leaks until GC and cuts
    // lineage-based recovery), and recomputation on block loss remains
    // possible through the RDD lineage chain.
    val spark = edges.sparkSession
    def materialize(df: DataFrame): (DataFrame, org.apache.spark.rdd.RDD[org.apache.spark.sql.Row]) = {
      val rows = df.rdd.persist(StorageLevel.MEMORY_AND_DISK)
      (spark.createDataFrame(rows, df.schema), rows)
    }
    // Round 0 folded into init: every node starts at min(self, neighbors)
    // (sym has both directions, so every node appears as src).
    var (labels, labelRows) = materialize(
      sym.groupBy($"src".as("id")).agg(min(least($"src", $"dst")).as("label")))
    // Labels are node-wise monotone non-increasing, so the total label
    // sum strictly decreases iff any node changed — convergence is one
    // tiny aggregate per round instead of a labels⋈labels diff join.
    // Decimal sum: no overflow for any id range / node count.
    def labelSum(l: DataFrame): java.math.BigDecimal = l
      .agg(sum($"label".cast(org.apache.spark.sql.types.DecimalType(38, 0))))
      .head.getDecimal(0)
    var prevSum = labelSum(labels)
    var round = 0
    var converged = false
    while (!converged && round < maxRounds) {
      val viaEdges = sym.join(labels, sym("src") === labels("id"))
        .select($"dst".as("id"), $"label")
      // materialized BEFORE the jump join below: the jump reads cached
      // rows instead of recomputing the propagate on both sides
      val (propagated, propRows) = materialize(
        labels.unionByName(viaEdges).groupBy($"id").agg(min($"label").as("label")))
      // Pointer jumping: each node additionally adopts its LABEL's own
      // label. label(x) is always a node in x's component (the
      // propagation invariant), so label(label(x)) is too — and chain
      // depth HALVES per round, making the round count O(log diameter)
      // instead of O(diameter). On the tiny dense families of text
      // dedup this join runs over the slim labels frame and costs
      // little; on chain-shaped graphs (perceptual near-dup paths,
      // X113/X118) it is the difference between 5 rounds and 50.
      // The jump side wraps the SAME persisted row RDD in a second
      // independent frame (fresh attribute ids) — a direct self-join
      // of the aliased plan trips Catalyst's Union constraint rewrite
      // (key-not-found on deduplicated attributes) on some shapes.
      val jumpTo = spark.createDataFrame(propRows,
        org.apache.spark.sql.types.StructType(Seq(
          propagated.schema(0).copy(name = "jid"),
          propagated.schema(1).copy(name = "jlabel"))))
      val (next, nextRows) = materialize(propagated
        .join(jumpTo, col("label") === col("jid"), "left")
        .select(col("id"),
          least(col("label"), coalesce(col("jlabel"), col("label")))
            .as("label")))
      val nextSum = labelSum(next) // materializes nextRows (and propRows)
      propRows.unpersist()
      labelRows.unpersist()
      labels = next
      labelRows = nextRows
      converged = nextSum.compareTo(prevSum) == 0
      prevSum = nextSum
      round += 1
    }
    e.unpersist()
    // Truncated propagation would return labels that silently split one
    // component into several — corrupting every downstream consumer
    // (dedup decisions, leakage splits, corpus verdicts) with no error.
    // A long-diameter graph must fail the job, not degrade it.
    if (!converged) {
      labelRows.unpersist()
      throw new IllegalStateException(
        s"connectedComponents did not converge after $maxRounds rounds — " +
          "the edge graph has a longer diameter than min-label propagation " +
          "was budgeted for; raise maxRounds or switch to large-star/" +
          "small-star contraction (O(log n) rounds)")
    }
    // hand the caller a CacheManager-registered frame (so the standard
    // Dataset persist/unpersist contract applies downstream) and
    // release the loop's final RDD blocks
    val out = labels.persist(StorageLevel.MEMORY_AND_DISK)
    out.count()
    labelRows.unpersist()
    out
  }

  /** Near-dup cluster labels for a corpus dir, computed once per
    * session and memoized: the LSH pair generation and the iterative
    * label-propagation loop (several shuffles + one convergence count
    * per round) are the whole cost of BOTH cluster-facing gate queries,
    * and the label frame itself is tiny (clustered docs only). This is
    * the same warm-materialized-store stance as the persisted MinHash
    * signature store ([[Dedup.minhashLshPairsCore]]): in a real
    * pipeline cluster labels are written once and consumed by every
    * downstream decision, not recomputed per report. Cached by
    * [[graft.core.Memo]], like every store. */
  def dupLabels(spark: SparkSession, dir: String): DataFrame =
    Memo.once(spark, dir, "Clustering.dupLabels", (_: DataFrame).unpersist())({
      val pairs = Dedup.minhashLshPairsCore(spark, dir)
        .select($"doc_a".as("a"), $"doc_b".as("b"))
      val l = connectedComponents(pairs) // returned frame is persisted
      l.count() // eager, so every consumer reads the materialized store
      l
    })

  /** Releases every cached store; perfbench/src/graftbench/Main.scala
    * calls it. */
  def invalidateLabelCache(): Unit = Memo.clear()

  // ------------------------------------------------------------------
  // Gate query: cluster the LSH near-dup pairs, emit (doc_id,
  // cluster_id, cluster_size) for every clustered document.
  // ------------------------------------------------------------------
  def qDupClusters(spark: SparkSession, dir: String): DataFrame = {
    // Cluster size via a window over the (cached) label frame — one
    // shuffle on cluster_id, no self-join.
    dupLabels(spark, dir)
      .select($"id".as("doc_id"), $"label".as("cluster_id"),
        count(lit(1)).over(org.apache.spark.sql.expressions.Window
          .partitionBy($"label")).as("cluster_size"))
      .orderBy($"doc_id")
  }

  // ------------------------------------------------------------------
  // Dedup decision: the step a training pipeline actually consumes —
  // every document labeled keep/drop, keeping the canonical (minimum)
  // doc_id of each near-dup cluster and every unclustered document.
  // The label frame is |clustered docs| rows (tiny vs the corpus);
  // the corpus-side join is a slim (doc_id ⋈ doc_id) equi-join.
  // ------------------------------------------------------------------
  def qDedupDecision(spark: SparkSession, dir: String): DataFrame = {
    val labels = dupLabels(spark, dir)
      .select($"id".as("doc_id"), $"label")
    graft.sources.Tables.documents(spark, dir)
      .select($"doc_id")
      .join(labels, Seq("doc_id"), "left")
      .select($"doc_id",
        coalesce($"label", $"doc_id").as("cluster_id"),
        (coalesce($"label", $"doc_id") === $"doc_id").as("kept"))
      .orderBy($"doc_id")
  }

  // ------------------------------------------------------------------
  // Quality-canonical dedup decision (X138): keep the LONGEST document
  // of each near-dup cluster (n_chars desc, doc_id asc tie-break)
  // instead of the min-id representative — the "keep best, not first"
  // policy real training pipelines prefer (a truncated mirror of a page
  // should lose to the full page). Same label store and join shape as
  // [[qDedupDecision]]; the pick is one row_number over the cluster
  // key, so the added cost is a single cluster-keyed window inside the
  // partitioning the join already established.
  // ------------------------------------------------------------------
  def qCanonicalPick(spark: SparkSession, dir: String): DataFrame = {
    val labels = dupLabels(spark, dir)
      .select($"id".as("doc_id"), $"label")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"cluster_id").orderBy($"n_chars".desc, $"doc_id")
    graft.sources.Tables.documents(spark, dir)
      .select($"doc_id", $"n_chars")
      .join(labels, Seq("doc_id"), "left")
      .select($"doc_id", $"n_chars", coalesce($"label", $"doc_id").as("cluster_id"))
      .withColumn("kept", row_number().over(w) === 1)
      .select($"doc_id", $"cluster_id", $"n_chars", $"kept")
      .orderBy($"doc_id")
  }

  val sqlCanonicalPick: String = {
    val pairsSql = Dedup.sqlMinhashLshPairs
    s"""WITH RECURSIVE pairs AS ($pairsSql),
       |edges AS (
       |  SELECT doc_a AS src, doc_b AS dst FROM pairs
       |  UNION ALL
       |  SELECT doc_b AS src, doc_a AS dst FROM pairs),
       |reach(id, r) AS (
       |  SELECT src, src FROM edges
       |  UNION
       |  SELECT e.src, r.r FROM edges e JOIN reach r ON r.id = e.dst),
       |labels AS (SELECT id AS doc_id, min(r) AS label FROM reach GROUP BY 1),
       |j AS (
       |  SELECT d.doc_id, d.n_chars,
       |    coalesce(l.label, d.doc_id) AS cluster_id
       |  FROM documents d LEFT JOIN labels l USING (doc_id))
       |SELECT doc_id, cluster_id, n_chars,
       |  row_number() OVER (PARTITION BY cluster_id
       |    ORDER BY n_chars DESC, doc_id) = 1 AS kept
       |FROM j ORDER BY doc_id""".stripMargin
  }

  // ------------------------------------------------------------------
  // Cluster morphology stats (X145): per near-dup cluster, member
  // count, internal edge count and density (2e·10⁶ div n(n−1), exact
  // ppm) — the family-shape report that separates verbatim-mirror
  // CLIQUES (density = 10⁶: every pair detected) from chain/star
  // families (paraphrase drift, hub templates), which canonical-pick
  // and split tooling treat differently. Both inputs are persisted
  // stores (label store + materialized pair store); every pair lies
  // within one cluster by construction (clusters ARE the pair
  // closure), so one endpoint-label join keys the edge rollup.
  // ------------------------------------------------------------------
  def qClusterStats(spark: SparkSession, dir: String): DataFrame = {
    val labels = dupLabels(spark, dir).select($"id", $"label")
    val sizes = labels.groupBy($"label".as("cluster_id"))
      .agg(count(lit(1)).as("n_docs"))
    val edges = Graph.dupPairStore(spark, dir).fresh()
      .join(labels.select($"id".as("doc_a"), $"label".as("cluster_id")),
        Seq("doc_a"))
      .groupBy($"cluster_id").agg(count(lit(1)).as("n_edges"))
    sizes.join(edges, Seq("cluster_id"))
      .select($"cluster_id", $"n_docs", $"n_edges",
        expr("(n_edges * 2000000L) div (n_docs * (n_docs - 1))")
          .as("density_ppm"))
      .orderBy($"cluster_id")
  }

  val sqlClusterStats: String = {
    val pairsSql = Dedup.sqlMinhashLshPairs
    s"""WITH RECURSIVE pairs AS ($pairsSql),
       |edges AS (
       |  SELECT doc_a AS src, doc_b AS dst FROM pairs
       |  UNION ALL
       |  SELECT doc_b AS src, doc_a AS dst FROM pairs),
       |reach(id, r) AS (
       |  SELECT src, src FROM edges
       |  UNION
       |  SELECT e.src, r.r FROM edges e JOIN reach r ON r.id = e.dst),
       |labels AS (SELECT id, min(r) AS label FROM reach GROUP BY 1),
       |sizes AS (SELECT label AS cluster_id, count(*) AS n_docs
       |          FROM labels GROUP BY 1),
       |ec AS (
       |  SELECT l.label AS cluster_id, count(*) AS n_edges
       |  FROM pairs p JOIN labels l ON p.doc_a = l.id GROUP BY 1)
       |SELECT s.cluster_id, s.n_docs, ec.n_edges,
       |  (ec.n_edges * 2000000) // (s.n_docs * (s.n_docs - 1))
       |    AS density_ppm
       |FROM sizes s JOIN ec USING (cluster_id)
       |ORDER BY cluster_id""".stripMargin
  }

  val sqlDedupDecision: String = {
    val pairsSql = Dedup.sqlMinhashLshPairs
    s"""WITH RECURSIVE pairs AS ($pairsSql),
       |edges AS (
       |  SELECT doc_a AS src, doc_b AS dst FROM pairs
       |  UNION ALL
       |  SELECT doc_b AS src, doc_a AS dst FROM pairs),
       |reach(id, r) AS (
       |  SELECT src, src FROM edges
       |  UNION
       |  SELECT e.src, r.r FROM edges e JOIN reach r ON r.id = e.dst),
       |labels AS (SELECT id AS doc_id, min(r) AS label FROM reach GROUP BY 1)
       |SELECT d.doc_id,
       |  coalesce(l.label, d.doc_id) AS cluster_id,
       |  coalesce(l.label, d.doc_id) = d.doc_id AS kept
       |FROM documents d LEFT JOIN labels l USING (doc_id)
       |ORDER BY d.doc_id""".stripMargin
  }

  /** Oracle: transitive closure by recursive CTE over the same pair
    * set, labeling each doc with the min reachable doc_id. */
  val sqlDupClusters: String = {
    val pairsSql = Dedup.sqlMinhashLshPairs
    s"""WITH RECURSIVE pairs AS ($pairsSql),
       |edges AS (
       |  SELECT doc_a AS src, doc_b AS dst FROM pairs
       |  UNION ALL
       |  SELECT doc_b AS src, doc_a AS dst FROM pairs),
       |reach(id, r) AS (
       |  SELECT src, src FROM edges
       |  UNION
       |  SELECT e.src, r.r FROM edges e JOIN reach r ON r.id = e.dst),
       |labels AS (SELECT id AS doc_id, min(r) AS cluster_id FROM reach GROUP BY 1)
       |SELECT l.doc_id, l.cluster_id, s.cluster_size
       |FROM labels l
       |JOIN (SELECT cluster_id, count(*) AS cluster_size FROM labels GROUP BY 1) s
       |  USING (cluster_id)
       |ORDER BY l.doc_id""".stripMargin
  }

  // ------------------------------------------------------------------
  // Incremental cluster-label maintenance (X125) — the production step
  // the per-doc probes (X56 text, X124 phash) stop short of: a 100 TB
  // ingestion pipeline holds PERSISTED cluster labels and, per incoming
  // batch, merges only the batch's NEW near-dup edges into that store —
  // it never re-runs the closure over the corpus. New docs adopt the
  // min label of the components they match; a new doc bridging two
  // existing clusters relabels only the affected components (a join on
  // their labels, bounded by the batch's touch set). Correctness rests
  // on two exact algebraic facts: LSH band collision + Jaccard verify
  // are PAIRWISE properties, so the full pair graph decomposes as
  // pairsWithin(corpus) ∪ edgesOf(batch, corpus)
  // ([[Dedup.edgesOf]]); and closure-of-contraction = closure — with
  // every stored label the true min doc_id of its component,
  // contracting each new edge's endpoints to their current labels and
  // closing THAT graph yields exactly the labels of the from-scratch
  // closure over corpus ∪ batch. The gate's oracle is that from-scratch
  // closure (recursive CTE in DuckDB); batch-split invariance (merging
  // in two batches ≡ one) is pinned in ReplayEquivalenceSpec.
  // ------------------------------------------------------------------

  /** Merge a batch's near-dup EDGES into a persisted (id, label) store.
    * `edges` (cols a, b) must touch at least one endpoint outside the
    * store or inside it — ids never seen before become newcomers. All
    * frames here are bounded by the store (slim) and the batch's edge
    * set; the corpus itself is never touched. */
  def mergeEdgesIntoLabels(edges: DataFrame, corpusLabels: DataFrame): DataFrame = {
    val (merged, release) = mergeEdgesIntoLabelsReleasable(edges, corpusLabels)
    // The unmanaged face can't know when the caller's last action over
    // the merged frame runs, so the closure blocks backing it are
    // registered for deferred release instead of leaking: releasing
    // the incremental store (a [[graft.core.Memo]] rebuild or clear)
    // and the harnesses' resets drain the registry. Long-running
    // streams use the releasable face (LabelMaintenance.absorb
    // releases per batch).
    pendingMergeClosures.add(release)
    merged
  }

  /** As [[mergeEdgesIntoLabels]], but hands back the release handle for
    * the contracted-closure blocks the merged frame reads. Callers
    * materialize the result (count / flatten / write), then release;
    * afterwards the frame stays valid — further actions recompute the
    * contracted closure through RDD lineage on the recovery path. */
  def mergeEdgesIntoLabelsReleasable(edges: DataFrame,
      corpusLabels: DataFrame): (DataFrame, () => Unit) = {
    // Materialize the batch edge set ONCE: it is read by the emptiness
    // check, the contraction, and the closure's own persist — without
    // this the (often probe-join-heavy) edge plan executes three times
    // per merge. Slim (long, long) rows; released before returning
    // (the result's lineage runs through the materialized closure
    // labels, not these blocks — eviction only costs a recompute on
    // the recovery path).
    val e = edges.select($"a", $"b").persist(StorageLevel.MEMORY_AND_DISK)
    try mergeEdgesImpl(e, corpusLabels)
    finally e.unpersist()
  }

  /** Deferred release handles from the unmanaged merge face — drained
    * whenever the incremental store is released, so the closure blocks
    * behind already-consumed merge results don't accumulate. */
  private val pendingMergeClosures =
    new java.util.concurrent.ConcurrentLinkedQueue[() => Unit]()

  def releaseMergeClosures(): Unit = {
    var r = pendingMergeClosures.poll()
    while (r != null) { r(); r = pendingMergeClosures.poll() }
  }

  private def mergeEdgesImpl(edges: DataFrame,
      corpusLabels: DataFrame): (DataFrame, () => Unit) = {
    if (edges.count() == 0) return (corpusLabels, () => ())
    val lab = corpusLabels.select($"id", $"label")
    // contract endpoints to their current component labels: stored
    // members → their label; everything else (incoming docs, corpus
    // singletons) → themselves
    val contracted = edges
      .join(lab.select($"id".as("a"), $"label".as("la")), Seq("a"), "left")
      .join(lab.select($"id".as("b"), $"label".as("lb")), Seq("b"), "left")
      .select(coalesce($"la", $"a").as("a"), coalesce($"lb", $"b").as("b"))
      .filter($"a" =!= $"b")
    if (contracted.isEmpty) return (corpusLabels, () => ())
    // closure over the CONTRACTED graph only — its node set is
    // {touched labels} ∪ {newcomers}, bounded by the batch edge count,
    // never the corpus
    val comp = connectedComponents(contracted)
    val oldLabels = lab.select($"label".as("id")).distinct()
    val mapping = comp.join(oldLabels, Seq("id"))
      .select($"id".as("old_label"), $"label".as("new_label"))
    // bounded relabel: only members of touched components join the
    // mapping; unchanged clusters stream through the left join
    val relabeled = lab
      .join(mapping.withColumnRenamed("old_label", "label"), Seq("label"), "left")
      .select($"id", coalesce($"new_label", $"label").as("label"))
    // newcomers: contracted nodes that were not existing labels —
    // incoming docs and previously-singleton corpus docs
    val newcomers = comp.join(oldLabels, Seq("id"), "left_anti")
      .select($"id", $"label")
    (relabeled.unionByName(newcomers), () => { comp.unpersist(); () })
  }

  /** Merge one incoming batch (as a (doc_id, sh, sig) signature frame)
    * into a persisted label store, generating the batch's new edges
    * from the persisted corpus band index. Batch doc_ids must be
    * disjoint from the corpus (ingestion's contract; exact-id dedup
    * runs upstream). The result satisfies the same invariant the input
    * store does — every label is the min doc_id of its component — so
    * the merge composes across batches. */
  def mergeIncrementalLabels(batchSig: DataFrame, corpusSig: DataFrame,
      corpusLabels: DataFrame): DataFrame =
    mergeEdgesIntoLabels(Dedup.edgesOf(batchSig, corpusSig), corpusLabels)

  /** Releasable twin of [[mergeIncrementalLabels]] for long-running
    * callers (LabelMaintenance.absorb releases per micro-batch). */
  def mergeIncrementalLabelsReleasable(batchSig: DataFrame,
      corpusSig: DataFrame, corpusLabels: DataFrame): (DataFrame, () => Unit) =
    mergeEdgesIntoLabelsReleasable(Dedup.edgesOf(batchSig, corpusSig),
      corpusLabels)

  /** Persisted pre-batch state for the gate: the corpus-split signature
    * store and its from-scratch label store — what a production
    * pipeline holds between batches, cached by [[graft.core.Memo]]
    * (the [[dupLabels]] stance). `base` is the persisted signature
    * store (held for unpersist); batchSig/corpusSig are its two
    * deterministic splits. */
  final case class IncStore(base: DataFrame, batchSig: DataFrame,
      corpusSig: DataFrame, corpusLabels: DataFrame)

  def incrementalStore(spark: SparkSession, dir: String): IncStore =
    Memo.once(spark, dir, "Clustering.incrementalStore", (s: IncStore) => {
      s.base.unpersist(); s.corpusLabels.unpersist(); releaseMergeClosures()
    })({
      val base = Dedup.signatureFrame(Tables.documentsSharded(spark, dir)
          .select($"doc_id", $"text"))
        .persist(StorageLevel.MEMORY_AND_DISK)
      base.count()
      val corpusSig = base.filter($"doc_id" % Dedup.IncomingMod =!= Dedup.IncomingRem)
      val batchSig = base.filter($"doc_id" % Dedup.IncomingMod === Dedup.IncomingRem)
      // corpus-only from-scratch closure — built ONCE per store, the
      // persisted artifact every batch merge starts from. (edgesOf
      // against an empty second frame = pairs WITHIN corpusSig; the
      // limit(0) keeps the schema trivially identical.)
      val corpusLabels = connectedComponents(
        Dedup.edgesOf(corpusSig, corpusSig.limit(0)))
      IncStore(base, batchSig, corpusSig, corpusLabels)
    })

  /** Releases every cached store; perfbench/src/graftbench/Main.scala
    * calls it. */
  def invalidateIncrementalStore(): Unit = Memo.clear()

  // ------------------------------------------------------------------
  // Gate query: merge the deterministic incoming batch
  // (doc_id % 10 == 7, the X56 convention) into the persisted corpus
  // label store; emit (doc_id, cluster_id, cluster_size, origin) for
  // every clustered document after the merge. The oracle is the
  // from-scratch recursive-CTE closure over ALL documents — the merge
  // must be indistinguishable from re-clustering the world.
  // ------------------------------------------------------------------
  def qIncrementalClusters(spark: SparkSession, dir: String): DataFrame = {
    val st = incrementalStore(spark, dir)
    mergeIncrementalLabels(st.batchSig, st.corpusSig, st.corpusLabels)
      .select($"id".as("doc_id"), $"label".as("cluster_id"),
        count(lit(1)).over(org.apache.spark.sql.expressions.Window
          .partitionBy($"label")).as("cluster_size"),
        when($"id" % Dedup.IncomingMod === Dedup.IncomingRem, lit("incoming"))
          .otherwise(lit("corpus")).as("origin"))
      .orderBy($"doc_id")
  }

  /** Oracle: from-scratch closure over the full corpus ∪ batch pair
    * graph — the equivalence that DEFINES incremental correctness. */
  val sqlIncrementalClusters: String = {
    val pairsSql = Dedup.sqlMinhashLshPairs
    s"""WITH RECURSIVE pairs AS ($pairsSql),
       |edges AS (
       |  SELECT doc_a AS src, doc_b AS dst FROM pairs
       |  UNION ALL
       |  SELECT doc_b AS src, doc_a AS dst FROM pairs),
       |reach(id, r) AS (
       |  SELECT src, src FROM edges
       |  UNION
       |  SELECT e.src, r.r FROM edges e JOIN reach r ON r.id = e.dst),
       |labels AS (SELECT id AS doc_id, min(r) AS cluster_id FROM reach GROUP BY 1)
       |SELECT l.doc_id, l.cluster_id, s.cluster_size,
       |  CASE WHEN l.doc_id % ${Dedup.IncomingMod} = ${Dedup.IncomingRem}
       |       THEN 'incoming' ELSE 'corpus' END AS origin
       |FROM labels l
       |JOIN (SELECT cluster_id, count(*) AS cluster_size FROM labels GROUP BY 1) s
       |  USING (cluster_id)
       |ORDER BY l.doc_id""".stripMargin
  }

  // ------------------------------------------------------------------
  // Deletion-safe cluster maintenance (X128) — the retraction half of
  // the incremental story (X125 adds, this removes): dropping a
  // document from the corpus (takedown, opt-out, license expiry) may
  // SPLIT its near-dup cluster — the removed doc could be the only
  // bridge between two sub-families — so labels cannot just delete the
  // row. Because near-dup pairs are PAIRWISE (the X125 decomposition),
  // every component NOT containing the doc is untouched by its
  // removal; the correct maintenance is a bounded re-closure of ONLY
  // the affected component: re-pair its surviving members (one banded
  // join over |component| signatures fetched by id from the persisted
  // store) and splice the sub-closure back. Oracle: from-scratch
  // closure over the corpus WITHOUT the doc. The cluster-dissolving
  // split case is unit-pinned on explicit survivor pairs.
  // ------------------------------------------------------------------

  /** Splice a re-closed component back into a label store: keep every
    * other component, re-close the survivors of `r`'s component from
    * their `survivorPairs` (cols a, b; pairs among survivors only).
    * Survivors left with no pair become singletons and drop out —
    * including the whole-cluster dissolve when the retracted doc was
    * the only bridge. `r` must be its component's label (the
    * representative); retracting a non-representative never changes
    * labels outside the component either, and callers reduce to this
    * face by passing the member pairs the same way. */
  def retractFromLabels(labels: DataFrame, r: Long,
      survivorPairs: DataFrame): DataFrame = {
    val (out, release) = retractFromLabelsReleasable(labels, r, survivorPairs)
    // same deferred-release contract as the unmanaged merge face
    pendingMergeClosures.add(release)
    out
  }

  /** Releasable twin of [[retractFromLabels]] (the merge-face
    * contract: materialize the result, then release the sub-closure
    * blocks). */
  def retractFromLabelsReleasable(labels: DataFrame, r: Long,
      survivorPairs: DataFrame): (DataFrame, () => Unit) = {
    val untouched = labels.filter($"label" =!= lit(r))
    if (survivorPairs.isEmpty) (untouched, () => ())
    else {
      val comp = connectedComponents(survivorPairs)
      (untouched.unionByName(comp.select($"id", $"label")),
        () => { comp.unpersist(); () })
    }
  }

  // ------------------------------------------------------------------
  // Gate: retract the minimum clustered doc_id (deterministically the
  // representative of the first cluster — its removal forces at least
  // a relabel, and a split whenever it was load-bearing), emit the
  // post-retraction (doc_id, cluster_id, cluster_size) inventory.
  // ------------------------------------------------------------------
  def qRetractDoc(spark: SparkSession, dir: String): DataFrame = {
    val st = incrementalStore(spark, dir)
    val labels = dupLabels(spark, dir) // (id, label), persisted store
    // the retracted doc: min clustered id — a 1-row bounded model read
    // (the kmeans read-back stance), identical to the oracle's
    // min(doc_a) over the pair set. A corpus with no near-dup cluster
    // has nothing to retract — mirror the oracle's empty pair set
    // instead of NPE-ing on the NULL aggregate.
    val minRow = labels.agg(min($"id")).head
    if (minRow.isNullAt(0))
      return labels.limit(0).select($"id".as("doc_id"),
        $"label".as("cluster_id"), lit(0L).as("cluster_size"))
    val r = minRow.getLong(0)
    val members = labels.filter($"label" === lit(r) && $"id" =!= lit(r))
    // bounded re-pairing: |component| signatures fetched by id from the
    // persisted store, one banded self-join among them
    val memberSigs = st.base.join(
      members.select($"id".as("doc_id")), Seq("doc_id"))
    val merged = retractFromLabels(labels, r,
      Dedup.edgesOf(memberSigs, memberSigs.limit(0)))
    merged.select($"id".as("doc_id"), $"label".as("cluster_id"),
        count(lit(1)).over(org.apache.spark.sql.expressions.Window
          .partitionBy($"label")).as("cluster_size"))
      .orderBy($"doc_id")
  }

  /** Oracle: from-scratch closure with the retracted doc filtered out
    * of the pair set — removal must be indistinguishable from the doc
    * never having existed. */
  val sqlRetractDoc: String = {
    val pairsSql = Dedup.sqlMinhashLshPairs
    s"""WITH RECURSIVE pairs AS ($pairsSql),
       |rdoc AS (SELECT min(doc_a) AS rid FROM pairs),
       |p2 AS (SELECT doc_a, doc_b FROM pairs, rdoc
       |       WHERE doc_a <> rid AND doc_b <> rid),
       |edges AS (
       |  SELECT doc_a AS src, doc_b AS dst FROM p2
       |  UNION ALL
       |  SELECT doc_b AS src, doc_a AS dst FROM p2),
       |reach(id, r) AS (
       |  SELECT src, src FROM edges
       |  UNION
       |  SELECT e.src, r.r FROM edges e JOIN reach r ON r.id = e.dst),
       |labels AS (SELECT id AS doc_id, min(r) AS cluster_id FROM reach GROUP BY 1)
       |SELECT l.doc_id, l.cluster_id, s.cluster_size
       |FROM labels l
       |JOIN (SELECT cluster_id, count(*) AS cluster_size FROM labels GROUP BY 1) s
       |  USING (cluster_id)
       |ORDER BY l.doc_id""".stripMargin
  }

  // ------------------------------------------------------------------
  // Dedup savings report — the dataset-card numbers: per source, how
  // many documents and tokens survive near-dup deduplication when
  // each cluster keeps only its representative (min doc_id, the
  // [[dupLabels]] label), and what fraction of the token mass was
  // duplicate bloat. "This crawl is 18% near-dup by tokens" is the
  // line every corpus datasheet carries (and the headline result of
  // Lee et al. 2022). Scale shape: the label frame is the memoized
  // store (slim ids), the token count rides the corpus scan, and the
  // report is a per-source aggregate — one id-keyed join, one tiny
  // shuffle.
  // ------------------------------------------------------------------
  def qDedupSavings(spark: SparkSession, dir: String): DataFrame = {
    val labels = dupLabels(spark, dir).select($"id".as("doc_id"), $"label")
    Tables.documentsSharded(spark, dir)
      .select($"doc_id", $"source",
        size(Hashing.tokens($"text")).cast("long").as("n_tokens"))
      .join(labels, Seq("doc_id"), "left")
      .withColumn("keep", $"label".isNull || $"label" === $"doc_id")
      .groupBy($"source")
      .agg(
        count(lit(1)).cast("long").as("n_docs"),
        sum($"n_tokens").cast("long").as("n_tokens"),
        sum(when($"keep", 1L).otherwise(0L)).cast("long").as("n_kept_docs"),
        sum(when($"keep", $"n_tokens").otherwise(0L)).cast("long").as("n_kept_tokens"))
      .withColumn("tokens_dropped", ($"n_tokens" - $"n_kept_tokens").cast("long"))
      .withColumn("dup_token_frac",
        $"tokens_dropped".cast("double") / $"n_tokens".cast("double"))
      .orderBy($"source")
  }

  val sqlDedupSavings: String = {
    val pairsSql = Dedup.sqlMinhashLshPairs
    val t = graft.functions.Hashing.sqlTokens("text")
    s"""WITH RECURSIVE pairs AS ($pairsSql),
       |edges AS (
       |  SELECT doc_a AS src, doc_b AS dst FROM pairs
       |  UNION ALL
       |  SELECT doc_b AS src, doc_a AS dst FROM pairs),
       |reach(id, r) AS (
       |  SELECT src, src FROM edges
       |  UNION
       |  SELECT e.src, r.r FROM edges e JOIN reach r ON r.id = e.dst),
       |labels AS (SELECT id AS doc_id, min(r) AS label FROM reach GROUP BY 1),
       |d AS (
       |  SELECT doc_id, source, len($t)::BIGINT AS n_tokens,
       |    coalesce(l.label IS NULL OR l.label = doc_id, true) AS keep
       |  FROM documents LEFT JOIN labels l USING (doc_id))
       |SELECT source, count(*)::BIGINT AS n_docs,
       |  sum(n_tokens)::BIGINT AS n_tokens,
       |  sum(CASE WHEN keep THEN 1 ELSE 0 END)::BIGINT AS n_kept_docs,
       |  sum(CASE WHEN keep THEN n_tokens ELSE 0 END)::BIGINT AS n_kept_tokens,
       |  (sum(n_tokens) - sum(CASE WHEN keep THEN n_tokens ELSE 0 END))::BIGINT
       |    AS tokens_dropped,
       |  (sum(n_tokens) - sum(CASE WHEN keep THEN n_tokens ELSE 0 END))::DOUBLE /
       |    sum(n_tokens)::DOUBLE AS dup_token_frac
       |FROM d GROUP BY source ORDER BY source""".stripMargin
  }

  // ------------------------------------------------------------------
  // Lloyd's k-means over the embedding corpus (Lloyd 1982) — the LIVE
  // trainer whose frozen outputs the IVF coarse quantizer
  // ([[Similarity.qAnnIvf]]) and the PQ codebooks
  // ([[Embeddings.qPqEncode]]) consume as constants; this gate runs
  // the loop itself, so the cross-engine oracle replays every round.
  // Reference analogue: the reference repo fits its models offline and
  // ships them frozen (SURVEY §2.10 training-artifact stance); the
  // repo's own GenIvfGateCentroids generator is this loop run once.
  //
  // Determinism (the repo's cross-engine float law): centroid updates
  // sum each dimension as exact DECIMAL(28,12) — shuffle-order free —
  // and divide by the count as ONE IEEE double op (the
  // [[Embeddings.qEmbCentroid]] convention); squared distance is three
  // strict left folds combined as `vv - 2*vc + cc` with identical
  // parenthesization in both engines; argmin ties break to the
  // smallest cell id. Every intermediate double is therefore
  // bit-identical to DuckDB's K unrolled CTE rounds, and only the gate
  // face is rounded (r6).
  //
  // Scale shape (MLlib KMeans' own layout): per round the k×d centroid
  // model rides into ONE corpus scan as broadcast literals (no join,
  // no corpus shuffle — assignment is pure per-row fold math), the
  // update is a slim (cell, dim, decimal-partial) map-side-combined
  // aggregate over ≤ k·d keys, and the driver reads back k rows of
  // model state — bounded and independent of corpus size, the
  // [[TextOps.qBpeTrain]] election-read precedent, NOT a collect over
  // data. Reading the model back as literals also cuts plan lineage:
  // round k+1's plan is flat (one scan + one agg) instead of nesting
  // round k's. At 100 TB the first-k seeding would be k-means||
  // (Bahmani et al. 2012); the loop shape is unchanged.
  // ------------------------------------------------------------------
  val KmK = 8
  val KmRounds = 4
  private val KmDims = Similarity.Dims
  private val DEC28 = DecimalType(28, 12)
  private def r6(c: Column): Column =
    c.cast(DEC28).cast(DecimalType(18, 6)).cast("double")

  private def dot(a: Column, b: Column): Column =
    graft.functions.VectorExpressions.dotProduct(a, b)

  /** Driver-side twin of the codegen'd strict left fold, for the
    * literal `cc` term: `(((0.0 + c₁c₁) + c₂c₂) + …)`. */
  private def dotLocal(a: Seq[Double], b: Seq[Double]): Double = {
    var acc = 0.0
    var i = 0
    while (i < a.length) { acc = acc + a(i) * b(i); i += 1 }
    acc
  }

  /** Squared L2 distance to literal centroid `c`, shaped
    * `(vv - (2·v·c)) + c·c` — the exact association the DuckDB twin
    * `fsum(v*v) - 2.0*fsum(v*c) + fsum(c*c)` parses to. */
  private def d2Col(vv: Column, v: Column, c: Seq[Double]): Column =
    vv - lit(2.0) * dot(v, typedLit(c)) + lit(dotLocal(c, c))

  /** argmin cell over literal centroids: lexicographic min of
    * (d2, cell) structs — smallest distance, ties to smallest cell. */
  private def bestCol(cent: Seq[(Int, Seq[Double])], vv: Column, v: Column): Column =
    array_min(array(cent.map { case (cell, c) =>
      struct(d2Col(vv, v, c).as("d2"), lit(cell).as("cell"))
    }: _*))

  /** Persisted (vec_id, v, vv) trainer frame, computed once per
    * (session, dir) and memoized — every Lloyd round AND the gate's
    * final E-step scan this store instead of re-deriving the
    * double-cast + self-dot from parquet. Cached by
    * [[graft.core.Memo]]. */
  def vecStore(spark: SparkSession, dir: String): DataFrame =
    Memo.once(spark, dir, "Clustering.vecStore", (_: DataFrame).unpersist())({
      // Distributed shape assertion at store-build time: every consumer
      // (Lloyd rounds, the gate E-step, ANN) assumes fixed-length
      // non-null vectors — the kmeans column-sums read-back in
      // particular would NPE on a null dimension sum. A ragged or
      // null-element embedding fails HERE with the offending vec_id,
      // once per store build, instead of downstream with a bare NPE.
      val wellFormed = size($"v") === lit(Similarity.Dims) &&
        !exists($"v", _.isNull)
      val v = Tables.embeddingsSharded(spark, dir)
        .select($"vec_id", $"embedding".cast("array<double>").as("v"))
        .withColumn("v", when(wellFormed, $"v").otherwise(raise_error(concat(
          lit(s"malformed embedding (need non-null length ${Similarity.Dims}): vec_id="),
          $"vec_id".cast("string")))))
        .withColumn("vv", dot($"v", $"v"))
        .persist(StorageLevel.MEMORY_AND_DISK)
      v.count() // eager, so every consumer reads the materialized store
      v
    })

  /** Releases every cached store; perfbench/src/graftbench/Main.scala
    * calls it. */
  def invalidateVecCache(): Unit = Memo.clear()

  /** Run `rounds` Lloyd iterations; returns the trained centroids as
    * (cell, centroid) rows read back from the final update. */
  private def kmeansCentroids(
      vecs: DataFrame, rounds: Int): Seq[(Int, Seq[Double])] = {
    var cent: Seq[(Int, Seq[Double])] = vecs
      .filter($"vec_id" < KmK)
      .orderBy($"vec_id")
      .select($"vec_id".cast("int"), $"v")
      .head(KmK) // k seed rows — bounded model read
      .map(r => (r.getInt(0), r.getSeq[Double](1)))
    (1 to rounds).foreach { _ =>
      // one slim per-cell aggregate per round carrying all d decimal
      // dimension sums as COLUMNS (map-side combine over ≤ k groups —
      // no posexplode row blowup, no (cell, dim) shuffle key); the
      // ≤ k result rows ARE the model state. Each per-dim mean is the
      // same order-free DECIMAL(28,12) sum cast to double, divided by
      // the count as one IEEE op — bit-identical to the oracle's
      // unrolled (cell, dim) CTE.
      val sums = (0 until KmDims).map(d =>
        sum($"v".getItem(d).cast(DEC28)).cast("double").as(s"s$d"))
      val rows = vecs
        .select(bestCol(cent, $"vv", $"v").getField("cell").as("cell"), $"v")
        .groupBy($"cell")
        .agg(count(lit(1)).as("n"), sums: _*)
        .head(KmK + 1) // bounded k-row model read-back per round
      cent = rows.map { r =>
        val n = r.getLong(1)
        (r.getInt(0), (0 until KmDims).map(d => r.getDouble(2 + d) / n))
      }.toSeq.sortBy(_._1)
    }
    cent
  }

  /** Gate face: per cell after a final E-step against the trained
    * centroids — member count, decimal-summed inertia, first four
    * centroid components. The E-step reads the SAME persisted store
    * the rounds trained on (reusing its precomputed `vv`), not a
    * fresh parquet derivation. */
  private def kmeansGate(spark: SparkSession, dir: String, rounds: Int): DataFrame = {
    val vecs = vecStore(spark, dir)
    val cent = kmeansCentroids(vecs, rounds)
    val best = bestCol(cent, $"vv", $"v")
    val stats = vecs
      .select(best.getField("cell").as("cell"), best.getField("d2").as("d2"))
      .groupBy($"cell")
      .agg(count(lit(1)).cast("long").as("n_vecs"),
        r6(sum($"d2".cast(DEC28)).cast("double")).as("inertia"))
    import spark.implicits.{localSeqToDatasetHolder, newProductEncoder}
    val centFace = cent
      .map { case (cell, c) => (cell, c(0), c(1), c(2), c(3)) }
      .toDF("cell", "rc0", "rc1", "rc2", "rc3")
    stats.join(broadcast(centFace), Seq("cell"))
      .select($"cell", $"n_vecs", $"inertia",
        r6($"rc0").as("c0"), r6($"rc1").as("c1"),
        r6($"rc2").as("c2"), r6($"rc3").as("c3"))
      .orderBy($"cell")
  }

  def qKmeans(spark: SparkSession, dir: String): DataFrame =
    kmeansGate(spark, dir, KmRounds)

  /** Spec hook: total inertia after `rounds` iterations — Lloyd's
    * objective, monotone non-increasing in exact arithmetic. */
  def kmeansInertia(spark: SparkSession, dir: String, rounds: Int): Double =
    kmeansGate(spark, dir, rounds)
      .agg(sum($"inertia").cast("double")).head.getDouble(0)

  val sqlKmeans: String = {
    val rSql = (e: String) => s"CAST(round(CAST(($e) AS DECIMAL(28,12)), 6) AS DOUBLE)"
    def fsumDot(a: String, b: String) = Similarity.sqlFsum(
      s"list_transform(range(1, $KmDims + 1), i -> ($a)[i] * ($b)[i])")
    def d2(v: String, c: String) =
      s"${fsumDot(v, v)} - 2.0::DOUBLE * ${fsumDot(v, c)} + ${fsumDot(c, c)}"
    def assign(name: String, centTbl: String) =
      s"""$name AS (SELECT vec_id, v, cell, d2 FROM (
         |  SELECT vec_id, v, cell, d2,
         |    row_number() OVER (PARTITION BY vec_id ORDER BY d2, cell) AS rn
         |  FROM (SELECT e.vec_id, e.v, c.cell, ${d2("e.v", "c.v")} AS d2
         |        FROM e CROSS JOIN $centTbl c)) WHERE rn = 1)""".stripMargin
    val rounds = (1 to KmRounds).map { k =>
      s"""${assign(s"a$k", s"cent${k - 1}")},
         |cd$k AS (SELECT cell, d AS dim,
         |    CAST(sum(CAST(v[d + 1] AS DECIMAL(28,12))) AS DOUBLE) / count(*) AS cmean
         |  FROM a$k CROSS JOIN range(0, $KmDims) AS r(d)
         |  GROUP BY cell, d),
         |cent$k AS (SELECT cell, list(cmean ORDER BY dim) AS v FROM cd$k GROUP BY cell)""".stripMargin
    }.mkString(",\n")
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |cent0 AS (SELECT vec_id::INTEGER AS cell, v FROM e WHERE vec_id < $KmK),
       |$rounds,
       |${assign("af", s"cent$KmRounds")},
       |s AS (SELECT cell, count(*)::BIGINT AS n_vecs,
       |    ${rSql("CAST(sum(CAST(d2 AS DECIMAL(28,12))) AS DOUBLE)")} AS inertia
       |  FROM af GROUP BY cell)
       |SELECT s.cell, n_vecs, inertia,
       |  ${rSql("c.v[1]")} AS c0, ${rSql("c.v[2]")} AS c1,
       |  ${rSql("c.v[3]")} AS c2, ${rSql("c.v[4]")} AS c3
       |FROM s JOIN cent$KmRounds c ON s.cell = c.cell
       |ORDER BY s.cell""".stripMargin
  }
}
