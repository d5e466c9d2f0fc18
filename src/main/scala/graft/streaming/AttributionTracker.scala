package graft.streaming

import org.apache.spark.sql.{Dataset, Encoders}
import org.apache.spark.sql.functions.{col, timestamp_seconds}

import graft.core.KeyedFsm
import SequenceTracker.SeqEvent

/**
 * Streaming face of last-touch attribution
 * ([[graft.operators.Behavior.qAttribution]], X121): a per-user
 * running-last FSM over event-time-ordered micro-batches — the
 * reference's keyed-state pattern (fraud_detector.py:108-133, SURVEY
 * §2.6 T1–T2) at its simplest. State is the latest click (ts, id);
 * each purchase emits a credit against it (or an unattributed row when
 * no click precedes it). Pure running state with no deadline
 * semantics, so no timers — the batch face's
 * last_value-ignore-nulls window over the total (ts, event_id) order
 * is replayed exactly; stream ≡ batch is pinned in
 * ReplayEquivalenceSpec.
 *
 * At scale: one user_id shuffle per micro-batch, O(1) state per user
 * with at least one click (click-less users never materialize state),
 * append-mode emission.
 *
 * IN-ORDER-DELIVERY PRECONDITION (SequenceTracker-family contract):
 * events sort within each micro-batch, but an event arriving in a
 * LATER batch with an earlier (ts, event_id) than something already
 * applied cannot be re-ordered — state has advanced past it. The FSM
 * therefore tracks the last applied (ts, id) and FAILS LOUDLY on a
 * cross-batch regression instead of silently mis-attributing
 * (coverage: users whose state exists, i.e. every user with a click;
 * click-less users carry no state by design, so their regressions are
 * undetectable — acceptable, since their only output rows are
 * stateless unattributed purchases).
 */
object AttributionTracker {

  /** Latest click seen for the user; `has` distinguishes "no click
    * yet" from a real (0, 0) click. `lastTs`/`lastId` track the last
    * APPLIED event (any type) for the in-order guard. */
  case class AttrState(clickTs: Long, clickId: Long, has: Boolean,
      lastTs: Long = 0L, lastId: Long = 0L)

  /** One attribution row — the batch face's output schema; None click
    * columns = unattributed purchase. */
  case class AttrOut(user_id: Long, purchase_id: Long, t_purchase: Long,
      click_id: Option[Long], click_ts: Option[Long], gap_secs: Option[Long])

  val empty: AttrState = AttrState(0L, 0L, has = false)

  /** One in-order step of the FSM — the pure twin of the batch window
    * at one row. The purchase reads state BEFORE any same-event
    * update, matching the window's strict `-1 PRECEDING` upper bound
    * (a row never attributes to itself). A user with a click has state,
    * so an event behind its last applied one is a cross-batch
    * regression, and the step throws. */
  def advance(st: AttrState, e: SeqEvent): (AttrState, Option[AttrOut]) = {
    if (st.has && (e.ts_s < st.lastTs || (e.ts_s == st.lastTs && e.event_id < st.lastId)))
      throw new IllegalStateException(
        s"out-of-order cross-batch event for user ${e.user_id}: " +
          s"(${e.ts_s}, ${e.event_id}) arrived after " +
          s"(${st.lastTs}, ${st.lastId}) was applied — " +
          "AttributionTracker requires in-order delivery across " +
          "micro-batches (the SequenceTracker-family contract)")
    val applied = st.copy(lastTs = e.ts_s, lastId = e.event_id)
    e.event_type match {
      case "purchase" =>
        val out =
          if (st.has)
            AttrOut(e.user_id, e.event_id, e.ts_s,
              Some(st.clickId), Some(st.clickTs), Some(e.ts_s - st.clickTs))
          else AttrOut(e.user_id, e.event_id, e.ts_s, None, None, None)
        (applied, Some(out))
      case "click" => (AttrState(e.ts_s, e.event_id, has = true, e.ts_s, e.event_id), None)
      case _ => (applied, None)
    }
  }

  /** Keyed by user, in (ts_s, event_id) order; only users who have
    * clicked keep state — at scale, state size is |clickers|, not
    * |users seen|. */
  val fsm = new KeyedFsm[Long, SeqEvent, AttrState, AttrOut](
    "user_id", _.user_id,
    Seq("ts_s", "event_id"), Ordering.by(e => (e.ts_s, e.event_id)),
    empty, advance,
    keep = _.has)(
    Encoders.product[AttrState])

  def trackStream(ds: Dataset[SeqEvent]): Dataset[AttrOut] = {
    import ds.sparkSession.implicits._
    fsm.stream(ds, Some(timestamp_seconds(col("ts_s"))))
  }
}
