package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/**
 * The one idempotent partitioned-append primitive both ingestion
 * routers ride (shard-partitioned [[ShardRouter]], day-partitioned
 * [[DayRouter]]): append a keyed batch into a `partCol=`-partitioned
 * parquet store so replays are no-ops.
 *
 * Exactly-once rides the deterministic key (the
 * [[Streams.idempotentAppend]] contract): a replayed batch anti-joins
 * against the store and vanishes. The anti-join reads ONLY the
 * partitions the batch touches — a bounded driver read collects the
 * batch's distinct partition values (≤ |shards| for HRW routing, ≤ the
 * batch's day span for time routing — batch-sized, never store-sized)
 * and turns them into a literal IN predicate, so partition pruning
 * keeps the store scan to those directories. At 100 TB that is the
 * difference between scanning a day and scanning a decade.
 */
object PartitionedAppend {

  /** Append `assigned` (already carrying `partCol` and a deduplicated
    * `key` column) into the store at `path`. Safe to replay. */
  def append(assigned: DataFrame, path: String, partCol: String, key: String): Unit = {
    val spark = assigned.sparkSession
    // same loud-failure contract as idempotentAppend: only a store with
    // no data entries skips the anti-join
    val fresh =
      if (StoreListing.hasData(spark, path)) {
        // bounded driver read: the batch's distinct partition values
        val touched = assigned.select(col(partCol)).distinct()
          .collect().map(_.get(0))
        val existing = spark.read.schema(assigned.select(col(key), col(partCol)).schema)
          .parquet(path)
          .filter(col(partCol).isin(touched: _*)) // partition-pruned scan
          .select(key)
        assigned.join(existing, Seq(key), "left_anti")
      } else assigned
    fresh.write.mode("append").partitionBy(partCol).parquet(path)
  }
}
