package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.io.DirSwap

/**
 * Streaming user-feature-store maintenance (X212 — the online half of
 * X207, productized the way [[CdcSink]] productized X199: the
 * online/offline feature-consistency story feature platforms ship:
 * the offline job materializes the store once, the ONLINE job applies
 * each event micro-batch incrementally, and the serving read must
 * equal the batch materialization at every point — streamed ≡ batch
 * is pinned in ReplayEquivalenceSpec).
 *
 * Count/cents/lastday features are monoid merges (the X29 rollup
 * stance): per-batch partial aggregates fold into the stored row with
 * sums/maxes. The 30-minute-gap session count is NOT a plain monoid —
 * it needs one value of carried state per user, the timestamp of the
 * user's last event (the LabelMaintenance boundary-carry stance):
 * sessions_after = sessions_before + (in-batch gaps > 1800) +
 * (1 if the batch's first event opens a new session against the
 * stored last_ts). Store layout: 16 user-hashed `shard=` parquet dirs
 * (the X199 layout), stage-swapped per touched shard through an aside
 * ([[graft.io.DirSwap]]), so a crash loses no shard. Replay safety:
 * a (ts_s, event_id) high-water mark filters already-applied rows, so
 * a redelivered batch touches zero shards; the mark lands after the
 * last swap, so a batch redelivered after a crash part-way through
 * counts its events in the shards already swapped twice. Contract:
 * batches arrive in (ts_s, event_id) order — the watermark REJECTS
 * time travel rather than silently double-counting (the Attribution
 * posture).
 */
class FeatureMaintenance(base: String) {
  import graft.operators.Relational.ColInterp

  private val Shards = 16L
  private val SessionGapS = 1800L

  private def watermark(spark: SparkSession): (Long, Long) = {
    val p = new org.apache.hadoop.fs.Path(s"$base/wm")
    if (!p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p))
      (Long.MinValue, Long.MinValue)
    else {
      val r = spark.read.parquet(p.toString).head
      (r.getLong(0), r.getLong(1))
    }
  }

  /** Apply one event micro-batch of (user_id, event_id, event_type,
    * ts_s, cents). Returns shards touched (0 for a full replay). */
  def apply(batch: DataFrame): Long = {
    val spark = batch.sparkSession
    val conf = spark.sparkContext.hadoopConfiguration
    val (wmTs, wmId) = watermark(spark)
    val fresh = batch.filter($"ts_s" > wmTs ||
      ($"ts_s" === wmTs && $"event_id" > wmId))
    val byUser = Window.partitionBy($"user_id").orderBy($"ts_s", $"event_id")
    val summary = fresh
      .withColumn("gap", $"ts_s" - lag($"ts_s", 1).over(byUser))
      .groupBy($"user_id")
      .agg(count(lit(1)).as("b_events"),
        sum(when($"event_type" === "view", 1L).otherwise(0L)).as("b_views"),
        sum(when($"event_type" === "purchase", 1L).otherwise(0L))
          .as("b_purch"),
        sum(when($"event_type" === "purchase", $"cents").otherwise(0L))
          .as("b_cents"),
        max(expr("ts_s div 86400")).as("b_lastday"),
        max($"ts_s").as("b_last_ts"),
        min($"ts_s").as("b_first_ts"),
        sum(when($"gap" > SessionGapS, 1L).otherwise(0L)).as("b_inner_sess"))
      .persist()
    val touched = summary.select(pmod($"user_id", lit(Shards)).as("shard"))
      .distinct().collect().map(_.getLong(0)).sorted
    if (touched.nonEmpty) {
      val wmRow = fresh.agg(max(struct($"ts_s", $"event_id")).as("s"))
        .select($"s.ts_s".as("wm_ts"), $"s.event_id".as("wm_id"))
      touched.foreach { shard =>
        val dirP = new org.apache.hadoop.fs.Path(s"$base/data/shard=$shard")
        val fs = dirP.getFileSystem(conf)
        val shardExists = DirSwap.exists(fs, dirP)
        val cur =
          if (shardExists) spark.read.parquet(dirP.toString)
          else spark.emptyDataFrame
            .select(lit(0L).as("user_id"), lit(0L).as("n_events"),
              lit(0L).as("n_views"), lit(0L).as("n_purchases"),
              lit(0L).as("purchase_cents"), lit(0L).as("lastday"),
              lit(0L).as("n_sessions"), lit(0L).as("last_ts_s"))
            .limit(0)
        val b = summary.filter(pmod($"user_id", lit(Shards)) === shard)
          .withColumnRenamed("user_id", "b_user")
        val merged = cur.join(b, cur("user_id") === b("b_user"), "full")
          .select(
            coalesce(cur("user_id"), $"b_user").as("user_id"),
            (coalesce(cur("n_events"), lit(0L)) +
              coalesce($"b_events", lit(0L))).as("n_events"),
            (coalesce(cur("n_views"), lit(0L)) +
              coalesce($"b_views", lit(0L))).as("n_views"),
            (coalesce(cur("n_purchases"), lit(0L)) +
              coalesce($"b_purch", lit(0L))).as("n_purchases"),
            (coalesce(cur("purchase_cents"), lit(0L)) +
              coalesce($"b_cents", lit(0L))).as("purchase_cents"),
            greatest(coalesce(cur("lastday"), lit(Long.MinValue)),
              coalesce($"b_lastday", lit(Long.MinValue))).as("lastday"),
            (coalesce(cur("n_sessions"), lit(0L)) +
              coalesce($"b_inner_sess", lit(0L)) +
              when($"b_user".isNull, 0L)
                .when(cur("user_id").isNull, 1L)
                .when($"b_first_ts" - cur("last_ts_s") > SessionGapS, 1L)
                .otherwise(0L)).as("n_sessions"),
            coalesce($"b_last_ts", cur("last_ts_s")).as("last_ts_s"))
          .coalesce(1)
        val stage = new org.apache.hadoop.fs.Path(s"$base/stage_feat_$shard")
        merged.write.mode("overwrite").parquet(stage.toString)
        DirSwap.replace(fs, dirP, stage)
      }
      wmRow.coalesce(1).write.mode("overwrite").parquet(s"$base/wm")
    }
    summary.unpersist()
    touched.length.toLong
  }

  /** foreachBatch face for the streaming feature job. */
  def sink: (DataFrame, Long) => Unit = (batch, _) => { apply(batch); () }

  /** Serving read: the X207 feature row per user, derived features
    * (recency vs the store clock, exact-ppm conversion) computed at
    * read time from the maintained aggregates. */
  def read(spark: SparkSession): DataFrame = {
    val st = spark.read.parquet(s"$base/data")
    val anchor = st.agg(max($"lastday").as("maxday"))
    st.crossJoin(broadcast(anchor))
      .select($"user_id", $"n_events", $"n_sessions", $"n_views",
        $"n_purchases", $"purchase_cents",
        ($"maxday" - $"lastday").as("recency_days"),
        expr("(n_purchases * 1000000) div greatest(n_views, 1)")
          .as("conv_ppm"))
      .orderBy($"user_id")
  }
}
