package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.{Domain, KeyedFsm}
import graft.sources.Tables

/**
 * The reference's core CEP operator: per-market position tracking over
 * the 4-way connected stream (signal ⋈ feedback ⋈ restore ⋈ clear by
 * code) with MapState, per-entry TTL, and guarded transitions
 * (reference: arch doc:677-894 state inventory + feedback handling,
 * CEP doc:179-226 process_element1..4, 추후 과제.md:59-219 restore
 * defense + pending state machine).
 *
 * Encoded Spark-first as SURVEY §2.5 J1 prescribes: the four streams
 * become one tagged union keyed by code, folded by one [[fsm]]
 * declaration over the pure [[step]]. Rules, in the reference's own
 * priority order:
 *
 *  - BUY signal: rejected if the reason already has an active position
 *    (dup guard) or was removed within the TTL window (re-entry
 *    cooldown, T5/T11 tier 1); otherwise opens PENDING_OPEN (T12).
 *  - SELL signal: moves an OPEN position to PENDING_CLOSE; no-op
 *    rejection when nothing is open.
 *  - Feedback SUCCESS: confirms PENDING_OPEN → OPEN, or completes
 *    PENDING_CLOSE → removed (+TTL entry). Guarded by signal-id match.
 *  - Feedback FAILED/TIMEOUT: removes the position iff its
 *    entry/exit signal id matches the feedback's id — the stale-
 *    feedback guard (T10): late feedback for a superseded signal must
 *    not kill the current position.
 *  - Restore: re-creates an OPEN position only if (1) not in the TTL
 *    removed set, (2) no active position for the reason, (3) the
 *    command is younger than RestoreMaxAgeMs — the 3-tier defense
 *    (T11).
 *  - Clear: unconditional removal (+TTL entry).
 *  - Pending timeout (T12): a PENDING_OPEN older than PendingTimeoutMs
 *    is abandoned (+TTL); a stuck PENDING_CLOSE reverts to OPEN.
 *
 * TTL semantics follow Flink's OnCreateAndWrite + NeverReturnExpired
 * (CEP doc:190-191): expired entries are invisible to reads and pruned
 * on write.
 */
object PositionTracker {

  val TtlMs = 30000L            // recently-removed cooldown (CEP doc:185-192)
  val PendingTimeoutMs = 3000L  // pending-state watchdog (추후 과제.md:119-219)
  val RestoreMaxAgeMs = 60000L  // reconciliation command freshness (arch doc:1852-1872)

  // Command kinds (tagged-union discriminator) and feedback statuses.
  val Signal = "SIGNAL"; val Feedback = "FEEDBACK"
  val Restore = "RESTORE"; val Clear = "CLEAR"

  /** One input command of the unified stream (J1 tagged union). */
  final case class Command(
      code: String, ts_ms: Long, seq: Long, kind: String,
      side: String,      // SIGNAL: BUY | SELL
      reason: String,    // SIGNAL/RESTORE/CLEAR: position family key
      signal_id: String, // FEEDBACK/RESTORE: referenced id ("" = derive)
      status: String,    // FEEDBACK: SUCCESS | FAILED | TIMEOUT
      price: Double)

  final case class Pos(
      signalId: String, reason: String, price: Double,
      sinceMs: Long, status: String, pendingExitId: String)

  final case class TrackerState(
      active: Map[String, Pos],            // reason -> position (T3 MapState)
      recentlyRemoved: Map[String, Long])  // reason -> removedAt (T5 TTL)

  val EmptyState: TrackerState = TrackerState(Map.empty, Map.empty)

  /** One emitted audit event per state transition (or rejection). */
  final case class PositionEvent(
      code: String, ts_ms: Long, seq: Long, action: String,
      reason: String, signal_id: String)

  private def removedWithin(s: TrackerState, reason: String, nowMs: Long): Boolean =
    s.recentlyRemoved.get(reason).exists(nowMs - _ < TtlMs)

  /** Prune expired TTL entries + time out stale pendings (runs before
    * each command, so expiry is event-time-deterministic). */
  private def sweep(s: TrackerState, nowMs: Long,
                    out: scala.collection.mutable.Builder[PositionEvent, Vector[PositionEvent]],
                    code: String, seq: Long): TrackerState = {
    var active = s.active
    s.active.foreach { case (reason, p) =>
      if (p.status == "PENDING_OPEN" && nowMs - p.sinceMs >= PendingTimeoutMs) {
        active -= reason
        out += PositionEvent(code, nowMs, seq, "PENDING_OPEN_TIMEOUT", reason, p.signalId)
      } else if (p.status == "PENDING_CLOSE" && nowMs - p.sinceMs >= PendingTimeoutMs) {
        active += reason -> p.copy(status = "OPEN", pendingExitId = "")
        out += PositionEvent(code, nowMs, seq, "PENDING_CLOSE_TIMEOUT", reason, p.pendingExitId)
      }
    }
    val removed =
      if (active.size != s.active.size)
        s.recentlyRemoved ++ s.active.keySet.diff(active.keySet).map(_ -> nowMs)
      else s.recentlyRemoved
    TrackerState(active, removed.filter(nowMs - _._2 < TtlMs))
  }

  /** Pure FSM step (the CoProcessFunction body, framework-free). */
  def step(s0: TrackerState, c: Command): (TrackerState, Seq[PositionEvent]) = {
    val out = Vector.newBuilder[PositionEvent]
    var s = sweep(s0, c.ts_ms, out, c.code, c.seq)
    def emit(action: String, reason: String, id: String): Unit =
      out += PositionEvent(c.code, c.ts_ms, c.seq, action, reason, id)

    c.kind match {
      case Signal if c.side == "BUY" =>
        val id = if (c.signal_id.nonEmpty) c.signal_id
          else Domain.deterministicSignalId(c.code, c.side, c.reason, c.ts_ms)
        if (s.active.contains(c.reason)) emit("REJECTED_DUP_ACTIVE", c.reason, id)
        else if (removedWithin(s, c.reason, c.ts_ms)) emit("REJECTED_RECENT_REMOVAL", c.reason, id)
        else {
          s = s.copy(active = s.active + (c.reason ->
            Pos(id, c.reason, c.price, c.ts_ms, "PENDING_OPEN", "")))
          emit("PENDING_OPEN", c.reason, id)
        }

      case Signal => // SELL
        val id = if (c.signal_id.nonEmpty) c.signal_id
          else Domain.deterministicSignalId(c.code, c.side, c.reason, c.ts_ms)
        s.active.get(c.reason) match {
          case Some(p) if p.status == "OPEN" =>
            s = s.copy(active = s.active + (c.reason ->
              p.copy(status = "PENDING_CLOSE", sinceMs = c.ts_ms, pendingExitId = id)))
            emit("PENDING_CLOSE", c.reason, id)
          case _ => emit("REJECTED_NO_OPEN_POSITION", c.reason, id)
        }

      case Feedback =>
        // locate the position this feedback refers to, by signal id
        s.active.find { case (_, p) =>
          p.signalId == c.signal_id || p.pendingExitId == c.signal_id
        } match {
          case Some((reason, p)) if c.status == "SUCCESS" =>
            if (p.status == "PENDING_OPEN" && p.signalId == c.signal_id) {
              s = s.copy(active = s.active + (reason -> p.copy(status = "OPEN")))
              emit("OPENED", reason, c.signal_id)
            } else if (p.status == "PENDING_CLOSE" && p.pendingExitId == c.signal_id) {
              s = TrackerState(s.active - reason, s.recentlyRemoved + (reason -> c.ts_ms))
              emit("CLOSED", reason, c.signal_id)
            } else emit("IGNORED_FEEDBACK", reason, c.signal_id)
          case Some((reason, p)) => // FAILED | TIMEOUT with matching id (T10 guard passed)
            if (p.status == "PENDING_CLOSE" && p.pendingExitId == c.signal_id) {
              // exit failed: the position is still open on the exchange
              s = s.copy(active = s.active + (reason -> p.copy(status = "OPEN", pendingExitId = "")))
              emit("CLOSE_FAILED_REOPENED", reason, c.signal_id)
            } else {
              s = TrackerState(s.active - reason, s.recentlyRemoved + (reason -> c.ts_ms))
              emit("REMOVED_FAILED", reason, c.signal_id)
            }
          case None => // stale feedback for a superseded signal: ignore (T10)
            emit("IGNORED_STALE_FEEDBACK", c.reason, c.signal_id)
        }

      case Restore =>
        if (removedWithin(s, c.reason, c.ts_ms)) emit("REJECTED_RESTORE_TTL", c.reason, c.signal_id)
        else if (s.active.contains(c.reason)) emit("REJECTED_RESTORE_ACTIVE", c.reason, c.signal_id)
        else if (c.seq > 0 && c.ts_ms - c.seq > RestoreMaxAgeMs) // seq carries issue-time for restores
          emit("REJECTED_RESTORE_STALE", c.reason, c.signal_id)
        else {
          s = s.copy(active = s.active + (c.reason ->
            Pos(c.signal_id, c.reason, c.price, c.ts_ms, "OPEN", "")))
          emit("RESTORED", c.reason, c.signal_id)
        }

      case Clear =>
        s.active.get(c.reason) match {
          case Some(p) =>
            s = TrackerState(s.active - c.reason, s.recentlyRemoved + (c.reason -> c.ts_ms))
            emit("CLEARED", c.reason, p.signalId)
          case None => emit("IGNORED_CLEAR", c.reason, c.signal_id)
        }

      case _ => emit("IGNORED_UNKNOWN_KIND", c.reason, c.signal_id)
    }
    (s, out.result())
  }

  /** Keyed by market, in (ts_ms, seq) order; a key's state is kept
    * while it holds a position or a TTL entry. Kryo-stored: a product
    * encoder over the state's maps generates new deserializer source at
    * every resolution, so each micro-batch compiled it again. */
  val fsm = new KeyedFsm[String, Command, TrackerState, PositionEvent](
    "code", _.code,
    Seq("ts_ms", "seq"), Ordering.by(c => (c.ts_ms, c.seq)),
    EmptyState, step,
    keep = s => s.active.nonEmpty || s.recentlyRemoved.nonEmpty)(
    Encoders.kryo[TrackerState])

  /** Batch face over a command Dataset (deterministic replay). */
  def trackBatch(commands: Dataset[Command]): Dataset[PositionEvent] = {
    import commands.sparkSession.implicits._
    fsm.replay(commands)
  }

  /** Streaming face, watermarked on the command time. */
  def trackStream(commands: Dataset[Command]): Dataset[PositionEvent] = {
    import commands.sparkSession.implicits._
    fsm.stream(commands, Some(timestamp_millis(col("ts_ms"))))
  }

  // ------------------------------------------------------------------
  // Events-table replay: a deterministic command synthesis so the
  // operator runs under the driver gate. The replay uses a single
  // position family per user, which makes the whole sequential FSM
  // re-runnable in SQL as a recursive CTE — [[sqlPositionEvents]]
  // below is a FULL-VALUE oracle (every output column hash-compared),
  // and PositionTrackerSpec additionally pins the multi-family
  // semantics the gate can't reach.
  //   click    -> BUY signal   (reason PWAVE)
  //   view     -> SELL signal
  //   purchase -> SUCCESS feedback; its signal id is derived from the
  //               feedback's OWN timestamp-second, so it confirms a BUY
  //               issued in the same second (otherwise the stale-
  //               feedback guard ignores it — deterministic either way)
  //   error    -> FAILED feedback (same own-timestamp id derivation)
  //   signup   -> CLEAR
  // ------------------------------------------------------------------
  /** The deterministic events→commands synthesis (shared by the gate
    * query and the streaming≡batch replay spec). */
  def commandsFromEvents(spark: SparkSession, dir: String): Dataset[Command] = {
    import spark.implicits._
    Tables.events(spark, dir)
      .select($"user_id", unix_millis($"ts").as("ts_ms"), $"event_id", $"event_type", $"value")
      .as[(Long, Long, Long, String, Double)]
      .map { case (user, tsMs, eventId, etype, value) =>
        val code = s"KRW-${user % 20}"
        etype match {
          case "click" => Command(code, tsMs, eventId, Signal, "BUY", "PWAVE", "", "", value)
          case "view" => Command(code, tsMs, eventId, Signal, "SELL", "PWAVE", "", "", value)
          case "purchase" =>
            Command(code, tsMs, eventId, Feedback, "", "PWAVE",
              Domain.deterministicSignalId(code, "BUY", "PWAVE", tsMs), "SUCCESS", value)
          case "error" =>
            Command(code, tsMs, eventId, Feedback, "", "PWAVE",
              Domain.deterministicSignalId(code, "BUY", "PWAVE", tsMs), "FAILED", value)
          case _ => Command(code, tsMs, eventId, Clear, "", "PWAVE", "", "", value)
        }
      }
  }

  def qPositionEvents(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    trackBatch(commandsFromEvents(spark, dir)).toDF().orderBy($"code", $"ts_ms", $"seq")
  }

  /**
   * Full DuckDB oracle for [[qPositionEvents]]: the events-table replay
   * uses a single position family (reason PWAVE), so per-code state
   * collapses to one position + one removal timestamp — small enough to
   * re-run the whole FSM in SQL as a recursive CTE that advances every
   * code by one command per iteration, carrying the state in columns
   * and emitting up to two audit events per step (the pending-timeout
   * sweep event, then the command's own action event).
   */
  val sqlPositionEvents: String =
    s"""WITH RECURSIVE
       |base AS (
       |  SELECT 'KRW-' || (user_id % 20) AS code,
       |         epoch_ms(ts) AS ts_ms, event_id AS seq, event_type
       |  FROM events),
       |cmds AS (
       |  SELECT code, ts_ms, seq,
       |    CASE WHEN event_type IN ('click','view') THEN 'SIGNAL'
       |         WHEN event_type IN ('purchase','error') THEN 'FEEDBACK'
       |         ELSE 'CLEAR' END AS kind,
       |    CASE WHEN event_type = 'click' THEN 'BUY'
       |         WHEN event_type = 'view' THEN 'SELL' ELSE '' END AS side,
       |    CASE WHEN event_type = 'purchase' THEN 'SUCCESS'
       |         WHEN event_type = 'error' THEN 'FAILED' ELSE '' END AS fstatus,
       |    CASE WHEN event_type = 'click' THEN sha256(code || '|BUY|PWAVE|' || (ts_ms // 1000))
       |         WHEN event_type = 'view' THEN sha256(code || '|SELL|PWAVE|' || (ts_ms // 1000))
       |         WHEN event_type IN ('purchase','error') THEN sha256(code || '|BUY|PWAVE|' || (ts_ms // 1000))
       |         ELSE '' END AS cmd_id,
       |    row_number() OVER (PARTITION BY code ORDER BY ts_ms, seq) AS rn
       |  FROM base),
       |step AS (
       |  SELECT DISTINCT code,
       |    CAST(0 AS BIGINT) AS rn,
       |    FALSE AS has_pos, '' AS p_sig, '' AS p_exit,
       |    CAST(0 AS BIGINT) AS p_since, '' AS p_status,
       |    CAST(NULL AS BIGINT) AS removed_at,
       |    CAST(NULL AS BIGINT) AS ts_ms, CAST(NULL AS BIGINT) AS seq,
       |    CAST(NULL AS VARCHAR) AS ev1_action, CAST(NULL AS VARCHAR) AS ev1_sig,
       |    CAST(NULL AS VARCHAR) AS ev2_action, CAST(NULL AS VARCHAR) AS ev2_sig
       |  FROM cmds
       |  UNION ALL
       |  SELECT code, rn,
       |    CASE WHEN act IN ('CLOSED','REMOVED_FAILED','CLEARED') THEN FALSE
       |         WHEN act = 'PENDING_OPEN' THEN TRUE ELSE h1 END,
       |    CASE WHEN act = 'PENDING_OPEN' THEN cmd_id
       |         WHEN act IN ('CLOSED','REMOVED_FAILED','CLEARED') THEN '' ELSE sig1 END,
       |    CASE WHEN act = 'PENDING_CLOSE' THEN cmd_id
       |         WHEN act IN ('PENDING_OPEN','CLOSE_FAILED_REOPENED','CLOSED','REMOVED_FAILED','CLEARED') THEN ''
       |         ELSE ex1 END,
       |    CASE WHEN act IN ('PENDING_OPEN','PENDING_CLOSE') THEN ts_ms
       |         WHEN act IN ('CLOSED','REMOVED_FAILED','CLEARED') THEN 0 ELSE since1 END,
       |    CASE WHEN act = 'PENDING_OPEN' THEN 'PENDING_OPEN'
       |         WHEN act = 'PENDING_CLOSE' THEN 'PENDING_CLOSE'
       |         WHEN act IN ('OPENED','CLOSE_FAILED_REOPENED') THEN 'OPEN'
       |         WHEN act IN ('CLOSED','REMOVED_FAILED','CLEARED') THEN '' ELSE st1 END,
       |    CASE WHEN act IN ('CLOSED','REMOVED_FAILED','CLEARED') THEN ts_ms ELSE rem1 END,
       |    ts_ms, seq,
       |    ev1_action, ev1_sig,
       |    act,
       |    CASE WHEN kind = 'CLEAR' THEN (CASE WHEN h1 THEN sig1 ELSE '' END) ELSE cmd_id END
       |  FROM (
       |    SELECT *,
       |      CASE
       |        WHEN kind = 'SIGNAL' AND side = 'BUY' THEN
       |          CASE WHEN h1 THEN 'REJECTED_DUP_ACTIVE'
       |               WHEN rem1 IS NOT NULL AND ts_ms - rem1 < $TtlMs THEN 'REJECTED_RECENT_REMOVAL'
       |               ELSE 'PENDING_OPEN' END
       |        WHEN kind = 'SIGNAL' THEN
       |          CASE WHEN h1 AND st1 = 'OPEN' THEN 'PENDING_CLOSE'
       |               ELSE 'REJECTED_NO_OPEN_POSITION' END
       |        WHEN kind = 'FEEDBACK' AND fstatus = 'SUCCESS' THEN
       |          CASE WHEN NOT (h1 AND (sig1 = cmd_id OR ex1 = cmd_id)) THEN 'IGNORED_STALE_FEEDBACK'
       |               WHEN st1 = 'PENDING_OPEN' AND sig1 = cmd_id THEN 'OPENED'
       |               WHEN st1 = 'PENDING_CLOSE' AND ex1 = cmd_id THEN 'CLOSED'
       |               ELSE 'IGNORED_FEEDBACK' END
       |        WHEN kind = 'FEEDBACK' THEN
       |          CASE WHEN NOT (h1 AND (sig1 = cmd_id OR ex1 = cmd_id)) THEN 'IGNORED_STALE_FEEDBACK'
       |               WHEN st1 = 'PENDING_CLOSE' AND ex1 = cmd_id THEN 'CLOSE_FAILED_REOPENED'
       |               ELSE 'REMOVED_FAILED' END
       |        ELSE CASE WHEN h1 THEN 'CLEARED' ELSE 'IGNORED_CLEAR' END
       |      END AS act
       |    FROM (
       |      SELECT s.code AS code, c.rn AS rn, c.ts_ms AS ts_ms, c.seq AS seq,
       |        c.kind AS kind, c.side AS side, c.fstatus AS fstatus, c.cmd_id AS cmd_id,
       |        CASE WHEN (s.has_pos AND s.p_status = 'PENDING_OPEN' AND c.ts_ms - s.p_since >= $PendingTimeoutMs)
       |             THEN FALSE ELSE s.has_pos END AS h1,
       |        CASE WHEN (s.has_pos AND s.p_status = 'PENDING_OPEN' AND c.ts_ms - s.p_since >= $PendingTimeoutMs)
       |             THEN '' ELSE s.p_sig END AS sig1,
       |        CASE WHEN (s.has_pos AND s.p_status IN ('PENDING_OPEN','PENDING_CLOSE') AND c.ts_ms - s.p_since >= $PendingTimeoutMs)
       |             THEN '' ELSE s.p_exit END AS ex1,
       |        CASE WHEN (s.has_pos AND s.p_status = 'PENDING_OPEN' AND c.ts_ms - s.p_since >= $PendingTimeoutMs)
       |             THEN 0 ELSE s.p_since END AS since1,
       |        CASE WHEN (s.has_pos AND s.p_status = 'PENDING_OPEN' AND c.ts_ms - s.p_since >= $PendingTimeoutMs) THEN ''
       |             WHEN (s.has_pos AND s.p_status = 'PENDING_CLOSE' AND c.ts_ms - s.p_since >= $PendingTimeoutMs) THEN 'OPEN'
       |             ELSE s.p_status END AS st1,
       |        CASE WHEN (s.has_pos AND s.p_status = 'PENDING_OPEN' AND c.ts_ms - s.p_since >= $PendingTimeoutMs)
       |             THEN c.ts_ms ELSE s.removed_at END AS rem1,
       |        CASE WHEN (s.has_pos AND s.p_status = 'PENDING_OPEN'  AND c.ts_ms - s.p_since >= $PendingTimeoutMs) THEN 'PENDING_OPEN_TIMEOUT'
       |             WHEN (s.has_pos AND s.p_status = 'PENDING_CLOSE' AND c.ts_ms - s.p_since >= $PendingTimeoutMs) THEN 'PENDING_CLOSE_TIMEOUT'
       |             END AS ev1_action,
       |        CASE WHEN (s.has_pos AND s.p_status = 'PENDING_OPEN'  AND c.ts_ms - s.p_since >= $PendingTimeoutMs) THEN s.p_sig
       |             WHEN (s.has_pos AND s.p_status = 'PENDING_CLOSE' AND c.ts_ms - s.p_since >= $PendingTimeoutMs) THEN s.p_exit
       |             END AS ev1_sig
       |      FROM step s JOIN cmds c ON c.code = s.code AND c.rn = s.rn + 1) sw) main)
       |SELECT code, ts_ms, seq, action, 'PWAVE' AS reason, signal_id FROM (
       |  SELECT code, ts_ms, seq, ev1_action AS action, ev1_sig AS signal_id
       |  FROM step WHERE ev1_action IS NOT NULL
       |  UNION ALL
       |  SELECT code, ts_ms, seq, ev2_action, ev2_sig
       |  FROM step WHERE ev2_action IS NOT NULL)
       |ORDER BY code, ts_ms, seq, action""".stripMargin
}
