package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/**
 * Date-partitioning ingest face (reference: the TimescaleDB hypertable
 * intent, arch doc:2111 — `create_hypertable('raw_trades',
 * 'trade_timestamp')`): a foreachBatch router that lands each incoming
 * event in its `day=` partition of a date-partitioned parquet store,
 * the layout that lets every time-bounded query prune to the days it
 * actually reads ([[graft.operators.Scale.qTimePrune]], X161).
 *
 * Spark is the hypertable here: the chunk-per-time-interval structure
 * TimescaleDB builds inside postgres is directory-partitioned parquet,
 * and chunk exclusion is Catalyst partition pruning — PartitionFilters
 * on the day column, machine-pinned in PlanSpec.
 *
 * Scale stance mirrors [[ShardRouter]] (the two are the same
 * [[Streams.idempotentAppend]] with different partition functions):
 *  - day assignment is per-row codegen'd arithmetic, zero shuffle;
 *  - an append is 2 Spark jobs (the dedup shuffle and one staged write)
 *    and reads only the store files whose event_id range overlaps the
 *    batch's, never the store;
 *  - exactly-once rides the deterministic event_id key, unique across
 *    days: a redelivered event lands once even if its day changed.
 */
class DayRouter(path: String) {

  /** Route one event batch (event_id, ts, user_id, event_type, value)
    * into the store. Safe to replay. */
  def route(batch: DataFrame): Unit = {
    val assigned = batch.withColumn("day", expr("unix_millis(ts) div 86400000"))
    Streams.idempotentAppend(assigned, Seq("event_id"), path, Seq("day"))
  }

  /** foreachBatch face for a streaming ingestion query. */
  def sink: (DataFrame, Long) => Unit = (batch, _) => { route(batch); () }
}
