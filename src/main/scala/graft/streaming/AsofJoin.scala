package graft.streaming

import org.apache.spark.sql.{Dataset, Encoders}

import graft.core.KeyedFsm

/**
 * Streaming face of the as-of join ([[graft.operators.Temporal.qAsofJoin]]):
 * a stream-stream point-in-time enrichment. The two sides arrive as one
 * tagged stream (side 0 = state carrier, side 1 = probe — the same
 * tagged-union encoding as the batch face); per key the state holds
 * only the latest carrier row, and each probe emits enriched with it.
 *
 * State is O(1) per key — a single (ts, value) pair — so at cluster
 * scale the state store stays tiny no matter how deep the history
 * (contrast with a windowed stream-stream join, which buffers both
 * sides). Same-timestamp ordering matches the batch face: carriers
 * sort before probes (at-or-before semantics), and same-ts carriers
 * reduce by max value.
 *
 * Reference analogue: matching trade feedback to the most recent
 * signal per market (the stale-feedback guard's lookup shape,
 * 추후 과제.md:59-219).
 */
object AsofJoin {

  /** One tagged input row: side 0 = carrier (click), 1 = probe (purchase). */
  final case class Tick(user_id: Long, ts_ms: Long, side: Int, event_id: Long, value: Double)

  /** Latest carrier per key. */
  final case class LastCarrier(c_ts: Long, c_val: Double)

  /** A key with no carrier yet. */
  val NoCarrier: LastCarrier = LastCarrier(Long.MinValue, 0.0)

  final case class Enriched(user_id: Long, ts_ms: Long, event_id: Long, value: Double,
                            click_ts_ms: Option[Long], click_value: Option[Double])

  /** Carriers update the state, probes emit enriched with it. */
  def step(last: LastCarrier, t: Tick): (LastCarrier, Option[Enriched]) =
    if (t.side == 0) {
      // same-ts carriers reduce by max value (batch: max(value) per
      // (user, ts)); a newer ts always replaces, a late one is ignored.
      if (last.c_ts == t.ts_ms) (LastCarrier(t.ts_ms, math.max(last.c_val, t.value)), None)
      else if (last.c_ts > t.ts_ms) (last, None)
      else (LastCarrier(t.ts_ms, t.value), None)
    } else {
      val found = Some(last).filter(_ != NoCarrier)
      (last, Some(Enriched(t.user_id, t.ts_ms, t.event_id, t.value,
        found.map(_.c_ts), found.map(_.c_val))))
    }

  /** Keyed by user, in (ts, side, event_id) order — carriers first at
    * equal ts, mirroring the batch face's window sort. */
  val fsm = new KeyedFsm[Long, Tick, LastCarrier, Enriched](
    "user_id", _.user_id,
    Seq("ts_ms", "side", "event_id"), Ordering.by(t => (t.ts_ms, t.side, t.event_id)),
    NoCarrier, step,
    keep = _ != NoCarrier)(
    Encoders.product[LastCarrier])

  /** Streaming face, no watermark. */
  def enrichStream(ticks: Dataset[Tick]): Dataset[Enriched] = {
    import ticks.sparkSession.implicits._
    fsm.stream(ticks, None)
  }
}
