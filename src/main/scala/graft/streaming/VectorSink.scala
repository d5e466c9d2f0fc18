package graft.streaming

import org.apache.spark.sql.DataFrame

/**
 * Streaming vector-ingest face for the persisted IVF artifact (X180 —
 * X165's batch append productized as a sink, the [[DayRouter]]/
 * [[ShardRouter]] pattern on the `cell` partition column): a
 * foreachBatch router that assigns each arriving vector to its frozen
 * centroid cell ([[graft.operators.Similarity.assignCells]] — the SAME
 * assignment the corpus builders use, so streamed placement can never
 * drift from a rebuild) and idempotent-appends it into the inverted
 * file's `cell=` directories through [[Streams.idempotentAppend]].
 *
 * Scale stance (the router contract):
 *  - cell assignment is a broadcast join against the ≤ |centroids|
 *    frame + one batch-keyed ranking window — zero corpus shuffle;
 *  - an append is 2 Spark jobs (the dedup shuffle and one staged
 *    write) and reads only the store files whose vec_id range overlaps
 *    the batch's, so redelivery is a no-op at any store size;
 *  - exactly-once rides the deterministic vec_id key, unique across
 *    cells;
 *  - the serving path ([[graft.operators.Similarity.probeArtifact]])
 *    is unchanged and stays partition-pruned after every ingest
 *    (ReplayEquivalenceSpec pins streamed ≡ one-shot build and the
 *    post-ingest probe's PartitionFilters).
 */
class VectorSink(base: String) {

  /** Route one (vec_id, v) vector batch into the inverted file.
    * Safe to replay. */
  def route(batch: DataFrame): Unit =
    Streams.idempotentAppend(graft.operators.Similarity.assignCells(batch),
      Seq("vec_id"), s"$base/inverted", Seq("cell"))

  /** foreachBatch face for a streaming ingestion query. */
  def sink: (DataFrame, Long) => Unit = (batch, _) => { route(batch); () }
}
