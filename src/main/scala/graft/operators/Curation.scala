package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.Scratch
import graft.functions.Hashing
import graft.io.DirSwap
import graft.sources.Tables

/**
 * End-to-end curation capstone (X175): the COMPOSITION a training run
 * actually executes, one corpus in → one packed training set + lineage
 * out. Every stage is an individually-gated operator; this gate runs
 * them in pipeline order so integration behavior — stage-order
 * sensitivity, id/label drift across stages, provenance surviving
 * dedup drops — is adjudicated, not assumed. Reference analogue: the
 * composed per-message pipeline test surface of the reference's
 * ingestion service (flink-practices ingestion_service, the
 * parse→validate→enrich→route loop) lifted to the corpus DAG.
 *
 * Stage order and semantics:
 *   1. Gopher quality rules (X59): keep `fail_mask == 0` documents.
 *   2. Exact dedup (X1): canonical = min doc_id per content hash,
 *      among quality survivors.
 *   3. Near-dup canonical keep (X2/X138): cluster labels come from the
 *      session-memoized full-corpus store ([[Clustering.dupLabels]] —
 *      family identity is a property of content, not of what earlier
 *      stages dropped); within each cluster the LONGEST SURVIVOR wins
 *      (n_chars desc, doc_id tie-break) — if a cluster's best overall
 *      member already failed quality, the best remaining member is
 *      kept rather than the family vanishing, exactly the stage-order
 *      semantic a fused rewrite gets wrong first.
 *   4. Decontamination (X31): eval-holdout docs excluded (they ARE the
 *      benchmark), contaminated survivors dropped via the memoized
 *      contamination frame ([[Corpus.decontaminateCore]]).
 *   5. Leakage-safe split (X123): split unit = cluster id, train slice
 *      only (hash(unit) mod 10 ∉ {8, 9}).
 *   6. Temperature mixture (X46): per-lang quotas ∝ ⌊√cnt⌋ over the
 *      SURVIVOR counts (stage-dependent by design), target
 *      [[Sampling.TempTargetN]] docs.
 *   7. Pack with provenance (X44/X150): selected docs get a contiguous
 *      global position (per-lang offsets from the |langs|-row quota
 *      frame — no corpus-sized window), block-shard on position so
 *      walker parallelism grows with the SELECTION, next-fit fold at
 *      [[Packing.TokenBudget]], spans from the fold for free.
 *
 * Scale shape: one slim base projection over the corpus (hash + token
 * count + metadata), one Gopher-stat scan (shared logic with the X59
 * gate), the two memoized stores (labels, contamination) that every
 * other cluster-facing gate already reads, and otherwise only
 * id-keyed slim joins and per-lang windows. The mixture quota frame is
 * |langs| rows (broadcast); its offset window is unpartitioned but
 * bounded (PlanSpec allowlist). The pack is one shuffle on shard.
 *
 * The oracle replays the full chain as a single CTE pipeline of the
 * stage oracles (materialized, so the recursive pack walk does not
 * re-evaluate the upstream closure per iteration).
 */
object Curation {
  import Relational.ColInterp

  /** Selected docs per pack shard: fixed, so shard count (and walker
    * parallelism) grows linearly with the selection size. */
  val SelDocsPerShard = 32L

  /** Slim per-doc base: everything the id-keyed stages need, one scan. */
  private def baseMeta(spark: SparkSession, dir: String): DataFrame =
    Tables.documentsSharded(spark, dir)
      .select($"doc_id", $"lang", $"source", $"n_chars",
        sha2(concat_ws(" ", Hashing.tokens($"text")), 256).as("content_hash"),
        size(regexp_extract_all($"text", lit(TextOps.BpeIshPattern), lit(0)))
          .cast("long").as("n_tokens"))

  /** Stages 1–5: quality → exact canonical → near-dup canonical keep →
    * decontaminate → train slice. Columns: doc_id, lang, source,
    * cluster_id, n_tokens. Exposed so PackingSpec can pin that every
    * packed doc is a surviving, decontaminated train doc. */
  def trainDocs(spark: SparkSession, dir: String): DataFrame = {
    // 1. Gopher keep (same stats as the X59 audit gate)
    val qual = Corpus.qGopherRules(spark, dir).where($"keep").select($"doc_id")
    val m = baseMeta(spark, dir).join(qual, "doc_id")
    // 2. exact canonical among quality survivors
    val exIds = m.groupBy($"content_hash").agg(min($"doc_id").as("doc_id"))
      .select($"doc_id")
    val ex = m.join(exIds, "doc_id")
    // 3. near-dup canonical keep: longest surviving member per cluster
    val labels = Clustering.dupLabels(spark, dir)
      .select($"id".as("doc_id"), $"label")
    val wc = Window.partitionBy($"cluster_id").orderBy($"n_chars".desc, $"doc_id")
    val canon = ex.join(labels, Seq("doc_id"), "left")
      .withColumn("cluster_id", coalesce($"label", $"doc_id"))
      .withColumn("rn", row_number().over(wc))
      .where($"rn" === 1)
      .select($"doc_id", $"lang", $"source", $"cluster_id", $"n_tokens")
    // 4. decontaminate (eval holdout out, contaminated out)
    val contam = Corpus.decontaminateCore(spark, dir)
      .select($"doc_id", $"is_contaminated")
    val clean = canon
      .where($"doc_id" % Corpus.EvalMod =!= Corpus.EvalRem)
      .join(contam, Seq("doc_id"))
      .where(!$"is_contaminated")
      .drop("is_contaminated")
    // 5. leakage-safe split: whole near-dup families move as one unit
    clean.where(
      !(Sampling.sampleKey(Sampling.SplitSeed, $"cluster_id") % 10).isin(8L, 9L))
  }

  /** Stage 6: temperature mixture over the train survivors, plus the
    * contiguous global position (per-lang offset + in-lang rank) the
    * pack shards on. Columns: doc_id, lang, source, n_tokens, pos. */
  def selectedDocs(spark: SparkSession, dir: String): DataFrame = {
    // Persisted survivor frame (the ssjoinPairs stance): the quota
    // aggregate and the ranked selection below both consume it —
    // unpersisted, the ENTIRE trainDocs pipeline (Gopher stats, sha
    // canonicalization, cluster keep, decontamination) runs once per
    // reference (the round-14 before-plan carried 51 parquet scans).
    val keyed = Scratch.persist(trainDocs(spark, dir)
      .withColumn("sample_key", Sampling.sampleKey(Sampling.Seed, $"doc_id")))
    keyed.count()
    val counts = keyed.groupBy($"lang").agg(count(lit(1)).as("cnt"))
      .withColumn("w", floor(sqrt($"cnt".cast("double"))).cast("long"))
    val tot = counts.agg(sum($"w").as("w_tot"))
    val quotas = counts.crossJoin(broadcast(tot))
      .select($"lang", $"cnt", expr(s"${Sampling.TempTargetN} * w div w_tot").as("quota"))
    // per-lang selection size is least(quota, cnt); offsets cumulate it
    // over the |langs|-row quota frame — bounded unpartitioned window
    // (PlanSpec allowlist), never a corpus-sized one
    val wOff = Window.orderBy($"lang").rowsBetween(Window.unboundedPreceding, -1)
    val offs = quotas.withColumn("off",
      coalesce(sum(least($"quota", $"cnt")).over(wOff), lit(0L)).cast("long"))
    val rw = Window.partitionBy($"lang").orderBy($"sample_key", $"doc_id")
    keyed.withColumn("rk", row_number().over(rw).cast("long"))
      .join(broadcast(offs), Seq("lang"))
      .where($"rk" <= $"quota")
      .select($"doc_id", $"lang", $"source", $"n_tokens",
        ($"off" + $"rk").as("pos"))
  }

  /** Stage 7 + gate: pack the selection and emit the provenance index
    * (X150 shape) — every packed token span traces to a surviving,
    * decontaminated, train-split, mixture-selected document. */
  def qCurationE2e(spark: SparkSession, dir: String): DataFrame = {
    val sel = selectedDocs(spark, dir)
    val packed = Packing.packFrame(sel.select(
      expr(s"(pos - 1) div $SelDocsPerShard").as("shard"),
      $"pos".as("ord"), $"doc_id", $"n_tokens"))
    packed
      .join(Tables.documents(spark, dir).select($"doc_id", $"lang", $"source"),
        "doc_id")
      .select($"shard", $"bin", $"doc_id", $"lang", $"source", $"n_tokens",
        ($"bin_fill" - $"n_tokens").as("tok_start"),
        $"bin_fill".as("tok_end"))
      .orderBy($"shard", $"bin", $"tok_start", $"doc_id")
  }

  /** Persist the curated training set as the artifact a dataloader
    * mounts (X183 — the lifecycle step after the X175 gate): `data/`
    * holds the selected documents' text in pack order, shard-
    * partitioned with ONE file per shard (repartition on the shard
    * value before the partitioned write — the compactDayStore
    * discipline — so a walker streams its shard as a single
    * sequential file), and `provenance/` is the X150-shape lineage
    * sidecar (who fed which token span of which bin). Returns the
    * base path. PackingSpec pins one-file-per-shard, in-file
    * (bin, tok_start) walk order, and read-back ≡ the gate. */
  def writeCurated(spark: SparkSession, dir: String, base: String): String = {
    val prov = qCurationE2e(spark, dir)
    // the sidecar is shard-partitioned like the data, so a takedown
    // ([[retractFromCurated]]) swaps one provenance directory too
    prov.repartition(col("shard"))
      .write.mode("overwrite").partitionBy("shard").parquet(s"$base/provenance")
    spark.read.parquet(s"$base/provenance")
      .join(Tables.documents(spark, dir).select($"doc_id", $"text"), "doc_id")
      .repartition(col("shard"))
      .sortWithinPartitions($"shard", $"bin", $"tok_start")
      .select($"shard", $"bin", $"doc_id", $"n_tokens",
        $"tok_start", $"tok_end", $"text")
      .write.mode("overwrite").partitionBy("shard").parquet(s"$base/data")
    base
  }

  /** Takedown on the curated artifact (X184 — the retraction argument
    * of X128/X164/X166 applied to the TRAINING SET itself): removing a
    * document re-packs ONLY its shard. The doc's shard is a bounded
    * provenance lookup (the artifact exists precisely to answer it
    * without re-running the pack); the surviving docs of that shard
    * re-walk next-fit in their original position order; both the
    * shard's data directory and its provenance rows swap via
    * stage-and-swap (the partition-dir repair primitive). Every other
    * shard stays untouched bytes — O(1/|shards|) of the corpus for any
    * single takedown, the property that makes artifact-level removal
    * affordable at 100 TB. Returns the number of shards rewritten
    * (0 when the doc was never packed). */
  def retractFromCurated(spark: SparkSession, base: String, docId: Long): Long = {
    val conf = spark.sparkContext.hadoopConfiguration
    // bounded model read: the doc's shard(s) from the lineage sidecar
    val shards = spark.read.parquet(s"$base/provenance")
      .filter($"doc_id" === docId)
      .select($"shard".cast("long")).distinct().collect().map(_.getLong(0))
    shards.foreach { shard =>
      val dataDir = new org.apache.hadoop.fs.Path(s"$base/data/shard=$shard")
      val provDir = new org.apache.hadoop.fs.Path(s"$base/provenance/shard=$shard")
      val fs = dataDir.getFileSystem(conf)
      // survivors re-walk next-fit in their original position order
      // (recoverable from the walk order: bin asc, tok_start asc)
      val survivors = spark.read.parquet(dataDir.toString)
        .filter($"doc_id" =!= docId)
        .withColumn("ord", row_number().over(
          Window.orderBy($"bin", $"tok_start")).cast("long"))
      val repacked = Packing.packFrame(
          survivors.select(lit(shard).as("shard"), $"ord", $"doc_id", $"n_tokens"))
        .select($"doc_id", $"bin", $"bin_fill")
      val fresh = Scratch.persist(survivors
        .select($"doc_id", $"n_tokens", $"text")
        .join(repacked, "doc_id")
        .select($"doc_id", $"bin", $"n_tokens",
          ($"bin_fill" - $"n_tokens").as("tok_start"),
          $"bin_fill".as("tok_end"), $"text")
        .sort($"bin", $"tok_start")
        .coalesce(1))
      fresh.count()
      // stage BOTH replacement directories before any live directory
      // moves: the staged data parquet is read back for the provenance
      // join, so no plan can recompute over files that no longer exist
      val stage = new org.apache.hadoop.fs.Path(s"$base/stage_shard_$shard")
      fresh.write.mode("overwrite").parquet(stage.toString)
      val staged = spark.read.parquet(stage.toString)
      // provenance sidecar: the shard's rows rebuilt from the old rows'
      // (lang, source) + the repacked spans read back from the stage
      val oldProv = spark.read.parquet(provDir.toString)
        .filter($"doc_id" =!= docId)
        .select($"doc_id", $"lang", $"source")
      val newProv = oldProv
        .join(staged.select($"doc_id", $"bin", $"n_tokens",
          $"tok_start", $"tok_end"), "doc_id")
        .select($"bin", $"doc_id", $"lang", $"source", $"n_tokens",
          $"tok_start", $"tok_end")
        .coalesce(1)
      val provStage = new org.apache.hadoop.fs.Path(s"$base/stage_prov_$shard")
      newProv.write.mode("overwrite").parquet(provStage.toString)
      // each live directory is replaced through an aside (DirSwap), so
      // a crash at any step leaves the old or the new copy by name
      DirSwap.replace(fs, dataDir, stage)
      DirSwap.replace(fs, provDir, provStage)
      fresh.unpersist()
    }
    shards.length.toLong
  }

  /** Oracle: the stage oracles composed as one materialized CTE chain
    * (gopher mask → exact canonical → full-corpus closure labels →
    * longest-survivor pick → contamination probe → split hash →
    * temperature quotas + offsets → recursive next-fit walk). */
  val sqlCurationE2e: String = {
    val toks = Hashing.sqlTokens("text")
    val sh = s"list_distinct(${Hashing.sqlShingles(toks, Dedup.ShingleN)})"
    val rSql = (e: String) => s"CAST(round(CAST(($e) AS DECIMAL(28,12)), 6) AS DOUBLE)"
    val sw = TextOps.Stopwords.map(s => s"'$s'").mkString(", ")
    val symNum = "(length(text) - length(replace(text, '#', ''))" +
      " + (length(text) - length(replace(text, '...', ''))) // 3)"
    val passes = Seq(
      s"n_tokens BETWEEN ${Corpus.GopherMinTokens} AND ${Corpus.GopherMaxTokens}",
      s"mean_word_len BETWEEN ${Corpus.GopherMeanWordLenLo} AND ${Corpus.GopherMeanWordLenHi}",
      s"symbol_ratio <= ${Corpus.GopherMaxSymbolRatio}",
      s"alpha_frac >= ${Corpus.GopherMinAlphaFrac}",
      s"stopword_cnt >= ${Corpus.GopherMinStopwords}")
    val mask = passes.zipWithIndex
      .map { case (p, i) =>
        s"CASE WHEN NOT coalesce($p, FALSE) THEN ${1L << i} ELSE 0 END" }
      .mkString(" + ")
    val ratio = "coalesce(" +
      rSql("len(list_intersect(d.sh, evl.hs)) / nullif(len(d.sh), 0)::DOUBLE") +
      ", 0.0)"
    val splitKey = Sampling.sqlSampleKey(Sampling.SplitSeed, "cluster_id")
    val mixKey = Sampling.sqlSampleKey(Sampling.Seed, "t.doc_id")
    s"""WITH RECURSIVE
       |m AS MATERIALIZED (
       |  SELECT doc_id,
       |    len($toks)::BIGINT AS n_tokens,
       |    ${rSql(s"length(list_aggregate($toks, 'string_agg', ''))::DOUBLE / NULLIF(len($toks), 0)")} AS mean_word_len,
       |    ${rSql(s"$symNum::DOUBLE / NULLIF(len($toks), 0)")} AS symbol_ratio,
       |    ${rSql(s"len(list_filter($toks, x -> regexp_matches(x, '[a-zA-Z]')))::DOUBLE / NULLIF(len($toks), 0)")} AS alpha_frac,
       |    len(list_filter($toks, w -> w IN ($sw)))::BIGINT AS stopword_cnt
       |  FROM documents),
       |qual AS MATERIALIZED (SELECT doc_id FROM m WHERE ($mask) = 0),
       |h AS (SELECT d.doc_id, sha256(coalesce(list_aggregate($toks, 'string_agg', ' '), '')) AS content_hash
       |      FROM documents d JOIN qual USING (doc_id)),
       |ex AS MATERIALIZED (SELECT min(doc_id) AS doc_id FROM h GROUP BY content_hash),
       |pairs AS (${Dedup.sqlMinhashLshPairs}),
       |edges AS (
       |  SELECT doc_a AS src, doc_b AS dst FROM pairs
       |  UNION ALL
       |  SELECT doc_b AS src, doc_a AS dst FROM pairs),
       |reach(id, r) AS (
       |  SELECT src, src FROM edges
       |  UNION
       |  SELECT e.src, r.r FROM edges e JOIN reach r ON r.id = e.dst),
       |labels AS MATERIALIZED (SELECT id AS doc_id, min(r) AS label FROM reach GROUP BY 1),
       |cp AS (SELECT d.doc_id, d.n_chars, coalesce(l.label, d.doc_id) AS cluster_id
       |       FROM documents d JOIN ex USING (doc_id) LEFT JOIN labels l USING (doc_id)),
       |canon AS MATERIALIZED (SELECT doc_id, cluster_id FROM (
       |  SELECT doc_id, cluster_id,
       |    row_number() OVER (PARTITION BY cluster_id ORDER BY n_chars DESC, doc_id) AS rn
       |  FROM cp) WHERE rn = 1),
       |dsh AS (SELECT doc_id, $sh AS sh FROM documents),
       |evl AS (SELECT coalesce(list(hh), []) AS hs FROM (
       |  SELECT DISTINCT unnest(sh) AS hh FROM dsh
       |  WHERE doc_id % ${Corpus.EvalMod} = ${Corpus.EvalRem})),
       |clean AS MATERIALIZED (
       |  SELECT c.doc_id, c.cluster_id
       |  FROM canon c JOIN dsh d USING (doc_id) CROSS JOIN evl
       |  WHERE c.doc_id % ${Corpus.EvalMod} != ${Corpus.EvalRem}
       |    AND $ratio < ${Corpus.ContamThreshold}),
       |tr AS MATERIALIZED (SELECT doc_id, cluster_id FROM clean
       |      WHERE $splitKey % 10 NOT IN (8, 9)),
       |wl AS MATERIALIZED (
       |  SELECT t.doc_id, d.lang, $mixKey AS sample_key
       |  FROM tr t JOIN documents d ON t.doc_id = d.doc_id),
       |c AS (SELECT lang, count(*) AS cnt, floor(sqrt(count(*)))::BIGINT AS w
       |      FROM wl GROUP BY 1),
       |t2 AS (SELECT sum(w)::BIGINT AS w_tot FROM c),
       |qt AS MATERIALIZED (SELECT lang, cnt, (${Sampling.TempTargetN} * w) // w_tot AS quota
       |      FROM c CROSS JOIN t2),
       |off AS (SELECT lang, coalesce(sum(least(quota, cnt)) OVER (ORDER BY lang
       |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT AS off
       |        FROM qt),
       |sel AS MATERIALIZED (
       |  SELECT doc_id, lang, off + rk AS pos FROM (
       |    SELECT doc_id, lang, sample_key,
       |      row_number() OVER (PARTITION BY lang ORDER BY sample_key, doc_id)::BIGINT AS rk
       |    FROM wl) r
       |  JOIN qt USING (lang) JOIN off USING (lang) WHERE rk <= quota),
       |d2 AS MATERIALIZED (
       |  SELECT (s.pos - 1) // $SelDocsPerShard AS shard, s.pos, s.doc_id, s.lang,
       |    len(regexp_extract_all(d.text, '${TextOps.BpeIshPattern}'))::BIGINT AS n_tokens,
       |    row_number() OVER (PARTITION BY (s.pos - 1) // $SelDocsPerShard ORDER BY s.pos) AS rn
       |  FROM sel s JOIN documents d USING (doc_id)),
       |walk(shard, rn, doc_id, n_tokens, bin, bin_fill) AS (
       |  SELECT shard, rn, doc_id, n_tokens, 0::BIGINT, n_tokens FROM d2 WHERE rn = 1
       |  UNION ALL
       |  SELECT d2.shard, d2.rn, d2.doc_id, d2.n_tokens,
       |    CASE WHEN w.bin_fill + d2.n_tokens > ${Packing.TokenBudget} THEN w.bin + 1 ELSE w.bin END,
       |    CASE WHEN w.bin_fill + d2.n_tokens > ${Packing.TokenBudget} THEN d2.n_tokens
       |         ELSE w.bin_fill + d2.n_tokens END
       |  FROM walk w JOIN d2 ON d2.shard = w.shard AND d2.rn = w.rn + 1)
       |SELECT w.shard, w.bin, w.doc_id, dd.lang, d3.source, w.n_tokens,
       |  w.bin_fill - w.n_tokens AS tok_start, w.bin_fill AS tok_end
       |FROM walk w JOIN d2 dd ON w.doc_id = dd.doc_id
       |JOIN documents d3 ON w.doc_id = d3.doc_id
       |ORDER BY w.shard, w.bin, tok_start, w.doc_id""".stripMargin
  }
}
