package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.core.KeyedFsm
import graft.sources.Tables

/**
 * Sequence packing: assign documents to fixed token-budget training
 * sequences ("bins") — the step between a filtered corpus and a
 * pretraining dataloader, where short documents are concatenated up to
 * the context length so no batch slot is wasted. Token counts use the
 * same BPE-ish regex as [[TextOps.qTokenCount]] (so the count itself
 * is already value-gated).
 *
 * Algorithm: deterministic per-shard NEXT-FIT — docs are walked in
 * doc_id order within a shard, and a bin closes when the next document
 * would overflow [[TokenBudget]] (an oversized document still gets a
 * bin of its own). Packing is inherently a sequential fold, so the
 * scale shape is a [[graft.core.KeyedFsm]] replay (one shuffle on
 * shard, external sort, O(1) state per shard).
 *
 * The shard key is a PARAMETER ([[packBy]]); two policies ship:
 *
 *   - `doc_id % NumShards` ([[qSequencePack]], the legacy 8-shard
 *     oracle gate) — a fixed modulus caps concurrent walkers at the
 *     modulus, so it is a test face, not the scale path;
 *   - `doc_id div DocsPerShard` ([[qSequencePackWide]]) — block
 *     sharding at a FIXED docs-per-shard, so shard count (and with it
 *     walker parallelism) grows linearly with the corpus: ~125 shards
 *     at sf0.01, millions at 100 TB, 1000 executors all busy. Because
 *     a shard's membership depends only on the ids inside its block,
 *     per-bin contents are invariant both to the total shard count and
 *     to Spark's partition layout (PackingSpec pins the latter), and
 *     appending new documents never repacks old shards — the property
 *     an incremental dataloader needs.
 *
 * Next-fit (not first-fit-decreasing) is the standard large-corpus
 * choice: within-bin order stays document order, waste is bounded by
 * the mean doc length, and the result is reproducible under any
 * cluster layout. [[qPackStats]] reports the planning numbers a
 * dataloader needs: bin count, fill rate, waste, oversize count.
 */
object Packing {
  import Relational.ColInterp

  private val DEC = DecimalType(18, 6)
  private def r6(c: Column): Column = c.cast(DecimalType(28, 12)).cast(DEC).cast("double")

  val NumShards = 8
  val TokenBudget = 512L
  val DocsPerShard = 4L

  /** Next-fit fold over an explicit (shard, ord, doc_id, n_tokens)
    * frame — the core every pack face shares: one shuffle on shard,
    * external sort on (shard, ord), O(1) fold state per shard. `ord`
    * is the walk order within a shard (doc_id for the corpus gates;
    * the mixture position for the curation capstone). */
  def packFrame(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits.newProductEncoder
    // state: (bin, fill); the first doc always opens bin 0
    val nextFit = new KeyedFsm[Long, (Long, Long, Long, Long), (Long, Long), (Long, Long, Long, Long, Long)](
      "shard", _._1, Seq("ord"), Ordering.by(_._2),
      (-1L, 0L), { case ((bin, fill), (shard, _, docId, n)) =>
        val (b, f) = if (bin < 0 || fill + n > TokenBudget) (bin + 1, n) else (bin, fill + n)
        ((b, f), Some((docId, shard, n, b, f)))
      })
    nextFit.replay(docs
      .select(col("shard").cast("long"), col("ord").cast("long"),
        col("doc_id").cast("long"), col("n_tokens").cast("long"))
      .as[(Long, Long, Long, Long)])
      .toDF("doc_id", "shard", "n_tokens", "bin", "bin_fill")
  }

  /** The shared next-fit walk over an arbitrary integral shard key. */
  def packBy(spark: SparkSession, dir: String, shardOf: Column): DataFrame = {
    val toks = Tables.documentsSharded(spark, dir)
      .select(shardOf.cast("long").as("shard"), $"doc_id".as("ord"), $"doc_id",
        size(regexp_extract_all($"text", lit(TextOps.BpeIshPattern), lit(0)))
          .cast("long").as("n_tokens"))
    packFrame(toks).orderBy($"doc_id")
  }

  def qSequencePack(spark: SparkSession, dir: String): DataFrame =
    packBy(spark, dir, $"doc_id" % NumShards)

  def qSequencePackWide(spark: SparkSession, dir: String): DataFrame =
    packBy(spark, dir, expr(s"doc_id div $DocsPerShard"))

  /** Fill-rate / waste summary over the block-sharded packing: the
    * one-row planning report (how many sequences, how full, how many
    * tokens of padding, how many oversized documents got solo bins). */
  def qPackStats(spark: SparkSession, dir: String): DataFrame =
    qSequencePackWide(spark, dir)
      .groupBy($"shard", $"bin")
      .agg(count(lit(1)).as("docs_in_bin"), sum($"n_tokens").as("bin_tokens"))
      .agg(
        count(lit(1)).as("n_bins"),
        sum($"docs_in_bin").cast("long").as("n_docs"),
        sum($"bin_tokens").cast("long").as("sum_tokens"),
        sum(when($"bin_tokens" > TokenBudget, 1L).otherwise(0L)).as("n_oversize"),
        sum(greatest(lit(TokenBudget) - $"bin_tokens", lit(0L))).cast("long")
          .as("waste_tokens"))
      .select($"n_bins", $"n_docs", $"sum_tokens", $"n_oversize", $"waste_tokens",
        r6($"sum_tokens".cast("double") /
          ($"n_bins" * TokenBudget).cast("double")).as("fill_rate"))

  /** Oracle walk: the same next-fit fold as a recursive CTE (one step
    * per row per shard, joined on the shard-local row number), over an
    * arbitrary shard expression. */
  private def sqlWalk(shardExpr: String): String =
    s"""WITH RECURSIVE d AS (
       |  SELECT $shardExpr AS shard, doc_id,
       |    len(regexp_extract_all(text, '${TextOps.BpeIshPattern}'))::BIGINT AS n_tokens,
       |    row_number() OVER (PARTITION BY $shardExpr ORDER BY doc_id) AS rn
       |  FROM documents),
       |walk(shard, rn, doc_id, n_tokens, bin, bin_fill) AS (
       |  SELECT shard, rn, doc_id, n_tokens, 0::BIGINT, n_tokens FROM d WHERE rn = 1
       |  UNION ALL
       |  SELECT d.shard, d.rn, d.doc_id, d.n_tokens,
       |    CASE WHEN w.bin_fill + d.n_tokens > $TokenBudget THEN w.bin + 1 ELSE w.bin END,
       |    CASE WHEN w.bin_fill + d.n_tokens > $TokenBudget THEN d.n_tokens
       |         ELSE w.bin_fill + d.n_tokens END
       |  FROM walk w JOIN d ON d.shard = w.shard AND d.rn = w.rn + 1)""".stripMargin

  val sqlSequencePack: String =
    s"""${sqlWalk(s"doc_id % $NumShards")}
       |SELECT doc_id, shard, n_tokens, bin, bin_fill
       |FROM walk ORDER BY doc_id""".stripMargin

  val sqlSequencePackWide: String =
    s"""${sqlWalk(s"doc_id // $DocsPerShard")}
       |SELECT doc_id, shard, n_tokens, bin, bin_fill
       |FROM walk ORDER BY doc_id""".stripMargin

  val sqlPackStats: String =
    s"""${sqlWalk(s"doc_id // $DocsPerShard")},
       |bins AS (
       |  SELECT shard, bin, count(*) AS docs_in_bin,
       |    sum(n_tokens)::BIGINT AS bin_tokens
       |  FROM walk GROUP BY 1, 2)
       |SELECT count(*)::BIGINT AS n_bins,
       |  sum(docs_in_bin)::BIGINT AS n_docs,
       |  sum(bin_tokens)::BIGINT AS sum_tokens,
       |  sum(CASE WHEN bin_tokens > $TokenBudget THEN 1 ELSE 0 END)::BIGINT AS n_oversize,
       |  sum(greatest($TokenBudget - bin_tokens, 0))::BIGINT AS waste_tokens,
       |  CAST(round(CAST(sum(bin_tokens)::DOUBLE /
       |    (count(*) * $TokenBudget)::DOUBLE AS DECIMAL(28,12)), 6) AS DOUBLE) AS fill_rate
       |FROM bins""".stripMargin

  // ------------------------------------------------------------------
  // Length-bucketed batch assembly: the OTHER standard dataloader
  // layout (packing concatenates; bucketing pads) — every document is
  // assigned the smallest power-of-two bucket that holds its BPE-ish
  // token count, documents over the context cap are truncated into the
  // top bucket, and each bucket reports the planning numbers: doc
  // count, token mass, padding waste (bucket slots minus tokens), and
  // the exact waste fraction. This is what sizes dynamic-batching
  // buckets (fewer pad tokens = more real tokens per step). Scale
  // shape: one scan, the bucket CASE is per-row codegen, the per-
  // bucket aggregate map-side combines into ≤ |buckets| rows. Waste
  // fraction is one IEEE divide of exact integers (< 2^53), so it is
  // bit-identical cross-engine without a decimal round.
  // ------------------------------------------------------------------
  val BucketEdges: Seq[Long] = Seq(16L, 32L, 64L, 128L, 256L)

  def qLengthBuckets(spark: SparkSession, dir: String): DataFrame = {
    val n = size(regexp_extract_all($"text", lit(TextOps.BpeIshPattern), lit(0)))
      .cast("long")
    val cap = BucketEdges.last
    val bucket = BucketEdges.init.reverse
      .foldLeft(lit(cap)) { (acc, edge) => when(n <= edge, edge).otherwise(acc) }
    Tables.documentsSharded(spark, dir)
      .select(n.as("n_tokens"), bucket.as("bucket_len"))
      .select($"bucket_len",
        least($"n_tokens", lit(cap)).as("kept_tokens"),
        greatest($"n_tokens" - cap, lit(0L)).as("trunc_tokens"))
      .groupBy($"bucket_len")
      .agg(
        count(lit(1)).cast("long").as("n_docs"),
        sum($"kept_tokens").cast("long").as("token_mass"),
        sum($"trunc_tokens").cast("long").as("truncated_tokens"))
      .withColumn("pad_waste",
        $"n_docs" * $"bucket_len" - $"token_mass")
      .withColumn("waste_frac",
        $"pad_waste".cast("double") / ($"n_docs" * $"bucket_len").cast("double"))
      .orderBy($"bucket_len")
  }

  val sqlLengthBuckets: String = {
    val n = s"len(regexp_extract_all(text, '${TextOps.BpeIshPattern}'))::BIGINT"
    val cap = BucketEdges.last
    val cases = BucketEdges.init.map(e => s"WHEN n <= $e THEN $e").mkString(" ")
    s"""WITH d AS (
       |  SELECT n, CASE $cases ELSE $cap END AS bucket_len,
       |    least(n, $cap) AS kept, greatest(n - $cap, 0) AS trunc
       |  FROM (SELECT $n AS n FROM documents)),
       |b AS (
       |  SELECT bucket_len, count(*)::BIGINT AS n_docs,
       |    sum(kept)::BIGINT AS token_mass,
       |    sum(trunc)::BIGINT AS truncated_tokens
       |  FROM d GROUP BY 1)
       |SELECT bucket_len, n_docs, token_mass, truncated_tokens,
       |  n_docs * bucket_len - token_mass AS pad_waste,
       |  (n_docs * bucket_len - token_mass)::DOUBLE /
       |    (n_docs * bucket_len)::DOUBLE AS waste_frac
       |FROM b ORDER BY bucket_len""".stripMargin
  }

  // ------------------------------------------------------------------
  // Provenance index over the packed sequences (X150): for every
  // (shard, bin) training sequence, the token-offset span each source
  // document occupies — the lineage artifact that answers "which
  // documents fed token range [a, b) of sequence S" (takedown/audit
  // direction) and "where did doc D land" (attribution direction)
  // without re-running the pack. The spans fall OUT of the next-fit
  // fold for free: a doc's span is [bin_fill − n_tokens, bin_fill), so
  // the index is the pack output + one arithmetic projection + one
  // doc-keyed equi-join to attach the source label; no new shuffle
  // structure beyond the pack's own shard fold. Per-bin spans tile
  // [0, bin_tokens) contiguously by construction (PackingSpec-pinned),
  // which is exactly the invariant a dataloader needs to map a token
  // position to its document with one binary search.
  // ------------------------------------------------------------------
  def qProvenance(spark: SparkSession, dir: String): DataFrame =
    qSequencePackWide(spark, dir)
      .join(Tables.documentsSharded(spark, dir).select($"doc_id", $"source"),
        "doc_id")
      .select($"shard", $"bin", $"doc_id", $"source",
        ($"bin_fill" - $"n_tokens").as("tok_start"),
        $"bin_fill".as("tok_end"))
      .orderBy($"shard", $"bin", $"tok_start", $"doc_id")

  val sqlProvenance: String =
    s"""${sqlWalk(s"doc_id // $DocsPerShard")}
       |SELECT w.shard, w.bin, w.doc_id AS doc_id, d2.source,
       |  w.bin_fill - w.n_tokens AS tok_start, w.bin_fill AS tok_end
       |FROM walk w JOIN documents d2 ON w.doc_id = d2.doc_id
       |ORDER BY shard, bin, tok_start, w.doc_id""".stripMargin
}
