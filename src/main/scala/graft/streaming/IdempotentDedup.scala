package graft.streaming

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/**
 * Exactly-once signal ingestion: per-signal-id first-seen state with a
 * TTL window — the streaming encoding of the reference's idempotence
 * strategy (deterministic signal id + UNIQUE constraint,
 * arch doc:1158-1364) and its 30 s recently-seen TTL cache
 * (CEP doc:185-192; SURVEY §2.6 T5, §2.7 D1). Built-in
 * `dropDuplicatesWithinWatermark` covers the common case; this
 * operator additionally re-admits an id after the TTL lapses (the
 * UNIQUE-within-window semantic) and emits deterministically (first
 * row by event time, not arrival order).
 *
 * The TTL is event-time bookkeeping inside `flatMapGroupsWithState`.
 * Spark 4's `transformWithState` TTL (`TTLConfig`) is processing-time:
 * it schedules a micro-batch on every trigger, so a query never goes
 * idle, and it does not replay deterministically, where event-time TTL
 * does (proven batching-invariant by the property spec).
 */
object IdempotentDedup {

  final case class SignalRow(signal_id: String, code: String, ts_ms: Long, value: Double)

  /** first-seen event time per id (cleared by timeout after the TTL). */
  final case class SeenState(firstSeenMs: Long)

  val TtlMs = 30000L

  /** Emits only the first row (by event time) per signal id; duplicates
    * within `ttlMs` are dropped; after expiry the id is re-admitted. */
  def dedupStream(rows: Dataset[SignalRow], ttlMs: Long = TtlMs): Dataset[SignalRow] = {
    import rows.sparkSession.implicits._
    rows
      .withColumn("eventTime", timestamp_millis(col("ts_ms")))
      .withWatermark("eventTime", "0 seconds")
      .as[SignalRow]
      .groupByKey(_.signal_id)
      .flatMapGroupsWithState[SeenState, SignalRow](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (_: String, it: Iterator[SignalRow], state: GroupState[SeenState]) =>
          if (it.isEmpty) {
            if (state.hasTimedOut) state.remove() // TTL lapsed: id re-admissible
            Iterator.empty
          } else {
            // Fold over the batch in event-time order, re-admitting (and
            // resetting firstSeen) every time the gap reaches the TTL —
            // so one big batch emits exactly what the same rows split
            // across many micro-batches would (batch-boundary-free
            // determinism; a single re-admission per batch would not be).
            val sorted = it.toVector.sortBy(r => (r.ts_ms, r.value))
            val out = Vector.newBuilder[SignalRow]
            var firstSeen = state.getOption.map(_.firstSeenMs)
            sorted.foreach { r =>
              if (firstSeen.forall(f => r.ts_ms - f >= ttlMs)) {
                firstSeen = Some(r.ts_ms)
                out += r
              }
            }
            firstSeen.foreach { f =>
              state.update(SeenState(f))
              state.setTimeoutTimestamp(
                math.max(f + ttlMs, state.getCurrentWatermarkMs() + 1))
            }
            out.result().iterator
          }
      }
  }

  /** The BUILT-IN declarative variant for the common case: native
    * `dropDuplicatesWithinWatermark` on signal_id, state evicted by the
    * engine once the watermark passes an id's last-seen + delay — no
    * user state code, runs on the default state store. Semantic
    * differences from
    * [[dedupStream]], which stays the canonical exactly-once path:
    * the built-in keeps the ARRIVAL-first row (not event-time-first,
    * so cross-batch replay determinism needs ordered delivery) and
    * never re-admits an id while its state lives. */
  def dedupStreamNative(rows: Dataset[SignalRow],
      delay: String = "30 seconds"): Dataset[SignalRow] = {
    import rows.sparkSession.implicits._
    rows
      .withColumn("eventTime", timestamp_millis(col("ts_ms")))
      .withWatermark("eventTime", delay)
      .dropDuplicatesWithinWatermark("signal_id")
      .select($"signal_id", $"code", $"ts_ms", $"value")
      .as[SignalRow]
  }
}
