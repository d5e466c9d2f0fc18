package graft.streaming

import org.apache.spark.sql.{Dataset, Encoders}
import org.apache.spark.sql.functions._

import graft.core.KeyedFsm

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
 * The TTL is an event-time timer of a [[graft.core.KeyedFsm]].
 * Spark 4's `transformWithState` TTL (`TTLConfig`) is processing-time:
 * it schedules a micro-batch on every trigger, so a query never goes
 * idle, and it does not replay deterministically, where event-time TTL
 * does (proven batching-invariant by the property spec).
 */
object IdempotentDedup {

  final case class SignalRow(signal_id: String, code: String, ts_ms: Long, value: Double)

  /** first-seen event time per id (cleared by timeout after the TTL). */
  final case class SeenState(firstSeenMs: Long)

  /** An id with no live first sighting. */
  val Unseen: SeenState = SeenState(Long.MinValue)

  val TtlMs = 30000L

  /** Keyed by signal id, in (ts_ms, value) order. The fold re-admits
    * (and resets firstSeen) every time the gap reaches the TTL, so one
    * big batch emits exactly what the same rows split across many
    * micro-batches would (batch-boundary-free determinism; a single
    * re-admission per batch would not be). The TTL's timer makes the id
    * re-admissible once the watermark passes it. */
  def fsm(ttlMs: Long): KeyedFsm[String, SignalRow, SeenState, SignalRow] =
    new KeyedFsm[String, SignalRow, SeenState, SignalRow](
      "signal_id", _.signal_id,
      Seq("ts_ms", "value"), Ordering.by(r => (r.ts_ms, r.value)),
      Unseen,
      (s, r) =>
        if (s == Unseen || r.ts_ms - s.firstSeenMs >= ttlMs) (SeenState(r.ts_ms), Some(r))
        else (s, None),
      keep = _ != Unseen,
      timer = Some(KeyedFsm.Timer(s => Some(s.firstSeenMs + ttlMs), (_, _) => (Unseen, None))))(
      Encoders.product[SeenState])

  /** Emits only the first row (by event time) per signal id; duplicates
    * within `ttlMs` are dropped; after expiry the id is re-admitted. */
  def dedupStream(rows: Dataset[SignalRow], ttlMs: Long = TtlMs): Dataset[SignalRow] = {
    import rows.sparkSession.implicits._
    fsm(ttlMs).stream(rows, Some(timestamp_millis(col("ts_ms"))))
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
