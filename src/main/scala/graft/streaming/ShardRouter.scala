package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.Scale

/**
 * Production wiring of rendezvous sharding
 * ([[graft.operators.Scale.qRendezvousShard]], X135): a foreachBatch
 * router that assigns each incoming document its HRW shard and
 * idempotent-appends it into a shard-partitioned parquet store — the
 * ingestion fan-out a growing fleet runs in front of every per-shard
 * consumer (dedup indexes, ANN partitions, per-shard trainers).
 *
 * Scale stance:
 *  - Assignment is per-row codegen'd expression work
 *    ([[Scale.rendezvousShard]]) — zero shuffle before the write.
 *  - The write is ONE partitioned append: each shard lands in its own
 *    `shard=K` directory, independently readable, no per-shard scans.
 *  - Exactly-once rides the deterministic doc_id key through
 *    [[Streams.idempotentAppend]]: replays anti-join against the store
 *    and become no-ops, so checkpoint-restart redelivery cannot
 *    duplicate, and a doc_id is unique across shards. An append is 2
 *    Spark jobs (the dedup shuffle and one staged write) and reads
 *    only the store files whose doc_id range overlaps the batch's.
 *  - Growth to N+1 shards relocates only the docs whose argmax is the
 *    NEW shard (≈ 1/(N+1), the X135 property) — the migration plan is
 *    one scan emitting exactly the moved docs (the gate's audit shape).
 */
class ShardRouter(path: String, shards: Int = Scale.HrwShards) {

  /** Route one (doc_id, text) batch into the store. Safe to replay. */
  def route(batch: DataFrame): Unit = {
    val assigned = batch.select(col("doc_id"), col("text"),
      Scale.rendezvousShard(col("doc_id"), shards).as("shard"))
    Streams.idempotentAppend(assigned, Seq("doc_id"), path, Seq("shard"))
  }

  /** foreachBatch face for a streaming ingestion query. */
  def sink: (DataFrame, Long) => Unit = (batch, _) => { route(batch); () }
}
