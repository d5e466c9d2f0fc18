package graft.streaming

import org.apache.spark.sql.{Dataset, Encoders}
import org.apache.spark.sql.functions.{col, timestamp_seconds}

import graft.core.KeyedFsm
import SequenceTracker.SeqEvent

/**
 * Streaming face of the event-flow transition matrix
 * ([[graft.operators.Behavior.qEventFlow]], X119): a per-user
 * remember-last FSM emitting one transition row per consecutive event
 * pair in (ts, event_id) order — the same keyed-state shape as
 * [[AttributionTracker]], with the emitted rows being exactly the
 * batch face's lead() window rows (transition stamped at the FROM
 * event's time, matching `lead(event_type) over (user order)`).
 * Downstream, the matrix is the same |types|² aggregate in update
 * mode; stream ≡ batch for the transition rows (and hence the matrix)
 * is pinned in ReplayEquivalenceSpec.
 *
 * At scale: one user_id shuffle per micro-batch, O(1) state per user,
 * append-mode emission of slim (user, from, to, ts) rows.
 *
 * IN-ORDER-DELIVERY PRECONDITION (SequenceTracker-family contract):
 * events sort within each micro-batch; a cross-batch regression (an
 * event ordering before the last APPLIED one) cannot be re-ordered and
 * FAILS LOUDLY instead of silently emitting a wrong transition —
 * FlowState already remembers the last event, so the guard is exact
 * for every user seen before.
 */
object EventFlowTracker {

  /** Last event seen for the user. */
  case class FlowState(ts: Long, id: Long, tpe: String, has: Boolean)

  /** One user-journey step — the batch lead() row. */
  case class Transition(user_id: Long, from_type: String, to_type: String, ts_s: Long)

  val empty: FlowState = FlowState(0L, 0L, "", has = false)

  /** One in-order step: emit the (prev → current) transition, then
    * remember the current event. An event behind the remembered one is
    * a cross-batch regression, and the step throws. */
  def advance(st: FlowState, e: SeqEvent): (FlowState, Option[Transition]) = {
    if (st.has && (e.ts_s < st.ts || (e.ts_s == st.ts && e.event_id < st.id)))
      throw new IllegalStateException(
        s"out-of-order cross-batch event for user ${e.user_id}: " +
          s"(${e.ts_s}, ${e.event_id}) arrived after " +
          s"(${st.ts}, ${st.id}) was applied — EventFlowTracker " +
          "requires in-order delivery across micro-batches " +
          "(the SequenceTracker-family contract)")
    val out =
      if (st.has) Some(Transition(e.user_id, st.tpe, e.event_type, st.ts))
      else None
    (FlowState(e.ts_s, e.event_id, e.event_type, has = true), out)
  }

  /** Keyed by user, in (ts_s, event_id) order. */
  val fsm = new KeyedFsm[Long, SeqEvent, FlowState, Transition](
    "user_id", _.user_id,
    Seq("ts_s", "event_id"), Ordering.by(e => (e.ts_s, e.event_id)),
    empty, advance)(
    Encoders.product[FlowState])

  def trackStream(ds: Dataset[SeqEvent]): Dataset[Transition] = {
    import ds.sparkSession.implicits._
    fsm.stream(ds, Some(timestamp_seconds(col("ts_s"))))
  }
}
