package graft.streaming

import org.apache.spark.sql.{Dataset, Encoders}
import org.apache.spark.sql.functions.{col, timestamp_seconds}

import graft.core.KeyedFsm
import graft.operators.EventWindows.FunnelStage

/**
 * Streaming face of the generic N-stage sequence matcher
 * ([[graft.operators.EventWindows.sequenceMatch]]): a per-user
 * [[graft.core.KeyedFsm]] over event-time-ordered micro-batches — the
 * CEP sequence-pattern shape the reference builds as a Flink
 * KeyedProcessFunction with keyed state and event-time timers
 * (reference signature pattern T1, fraud_detector.py:108-133; SURVEY
 * §2.6 T1–T2). The stage list parameterizes the FSM exactly as it
 * parameterizes the batch windows, so the 3-stage funnel gate
 * ([[graft.operators.EventWindows.qFunnel]]) and the 4-stage gate are
 * two instantiations of one engine capability; stream ≡ batch for
 * hits AND abandons is pinned in ReplayEquivalenceSpec.
 *
 * Two emission kinds:
 *  - `hit`: stage k matched (forward-looking state only — a stage
 *    admits itself against already-seen earlier stages, so hits need
 *    no timers);
 *  - `abandon`: the user started the sequence but had not completed it
 *    when the event-time watermark passed their stage-0 anchor + the
 *    sequence window — emitted BY AN EVENT-TIME TIMER
 *    (`GroupStateTimeout.EventTimeTimeout`), the reference's signature
 *    timer pattern. The deadline verdict is final (a bounded last
 *    stage can never match past the window), which is what makes the
 *    batch twin ([[graft.operators.EventWindows.qFunnelAbandon]])
 *    replayable: abandoned iff no completion by anchor + window and
 *    the corpus clock passed the deadline.
 *
 * At scale this is the standard streaming-funnel layout: state is
 * O(stages) per active user, each micro-batch shuffles once on
 * user_id, timers are one timestamp per incomplete user, and emission
 * is append-mode.
 */
object SequenceTracker {
  case class SeqEvent(user_id: Long, event_id: Long, ts_s: Long, event_type: String)

  /** `kind` = "hit" (stage matched; ts_s = the stage event's time) or
    * "abandon" (timer fired incomplete; stage = stages reached by the
    * deadline, ts_s = the deadline). */
  case class SeqOut(user_id: Long, kind: String, stage: Long, ts_s: Long)

  /** Parallel (ts, event_id) of the stages matched so far, plus a flag
    * dedup-ing the timer emission. O(stages) per key. Kryo-stored: a
    * product encoder over the `Seq` fields generates new deserializer
    * source at every resolution, so each micro-batch compiled it again. */
  case class SeqState(ts: Seq[Long], ids: Seq[Long], abandonEmitted: Boolean)

  val empty: SeqState = SeqState(Nil, Nil, abandonEmitted = false)

  /** (t, id) strictly after (t0, id0) in event-time order — the same
    * tie-break the batch face's windows use. */
  private def later(t: Long, id: Long, t0: Long, id0: Long): Boolean =
    t > t0 || (t == t0 && id > id0)

  /** The abandon deadline offset: the sequence's (single) within
    * window. The deadline semantics — anchor t0 + window, verdict
    * final when the watermark passes it — only match the batch twin
    * (`qFunnelAbandon`-style faces) when exactly ONE stage is
    * anchor-bounded and it is the LAST stage, so that is a hard
    * requirement, not a convention: a mid-sequence `withinSecs` would
    * make "incomplete at deadline" a non-final verdict (a later
    * unbounded stage could still match), and two differing bounds
    * have no single deadline at all. `withinPrevSecs` (gap bounds)
    * carry no timer semantics and stay unrestricted. */
  def windowSecs(stages: Seq[FunnelStage]): Long = {
    val bounded = stages.zipWithIndex.collect {
      case (st, i) if st.withinSecs.isDefined => i
    }
    require(bounded.nonEmpty, "abandon tracking needs at least one bounded stage")
    require(bounded == Seq(stages.length - 1),
      s"abandon tracking requires the single withinSecs-bounded stage to be " +
        s"the final stage; found bounds on stage(s) ${bounded.mkString(", ")} " +
        s"of ${stages.length}")
    stages.last.withinSecs.get
  }

  /** One in-order step of the sequence FSM — the pure twin of one
    * batch stage window's predicate. */
  def advance(stages: Seq[FunnelStage])(
      st: SeqState, e: SeqEvent): (SeqState, Option[SeqOut]) = {
    val k = st.ts.length
    if (k >= stages.length) (st, None)
    else {
      val stage = stages(k)
      val matches = e.event_type == stage.eventType &&
        (k == 0 || later(e.ts_s, e.event_id, st.ts.last, st.ids.last)) &&
        stage.withinSecs.forall(w => k == 0 || e.ts_s <= st.ts.head + w) &&
        stage.withinPrevSecs.forall(w => k == 0 || e.ts_s <= st.ts.last + w)
      if (matches)
        (st.copy(ts = st.ts :+ e.ts_s, ids = st.ids :+ e.event_id),
          Some(SeqOut(e.user_id, "hit", (k + 1).toLong, e.ts_s)))
      else (st, None)
    }
  }

  /** Keyed by user, in (ts_s, event_id) order. Only users who matched
    * stage 0 keep state (at scale, state size is |sequence starters|,
    * not |users seen|). An incomplete sequence's timer is its stage-0
    * anchor + the window; when the watermark passes it, the user emits
    * one `abandon` with the stages reached AS OF the deadline (timers
    * fire one micro-batch after the watermark passes, so an unbounded
    * post-deadline stage may already sit in state; the batch twin
    * counts t_stage <= deadline, and so must we). */
  def fsm(stages: Seq[FunnelStage]): KeyedFsm[Long, SeqEvent, SeqState, SeqOut] = {
    val n = stages.length
    val window = windowSecs(stages)
    def open(st: SeqState): Boolean = st.ts.nonEmpty && st.ts.length < n && !st.abandonEmitted
    new KeyedFsm[Long, SeqEvent, SeqState, SeqOut](
      "user_id", _.user_id,
      Seq("ts_s", "event_id"), Ordering.by(e => (e.ts_s, e.event_id)),
      empty, advance(stages),
      keep = _.ts.nonEmpty,
      timer = Some(KeyedFsm.Timer(
        st => if (open(st)) Some((st.ts.head + window) * 1000L) else None,
        (user, st) =>
          if (!open(st)) (st, None)
          else {
            val deadline = st.ts.head + window
            (st.copy(abandonEmitted = true),
              Some(SeqOut(user, "abandon", st.ts.count(_ <= deadline).toLong, deadline)))
          })))(
      Encoders.kryo[SeqState])
  }

  def trackStream(stages: Seq[FunnelStage])(
      ds: Dataset[SeqEvent]): Dataset[SeqOut] = {
    import ds.sparkSession.implicits._
    fsm(stages).stream(ds, Some(timestamp_seconds(col("ts_s"))))
  }
}
