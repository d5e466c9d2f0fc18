package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.KeyedFsm
import graft.core.Model.{Alert, FraudState, Transaction}
import graft.sources.Tables

/**
 * The reference's flagship stateful operator: per-account small→large
 * fraud pattern with an event-time expiry timer
 * (reference: fraud_detector.py:35-149, semantics verbatim; canonical
 * input job.py:33-56; golden output docs/fraud_detection_guide.md:85-100
 * — alerts for accounts 3, 4, 3 at $600/$500/$999).
 *
 * One [[fsm]] declaration over the pure [[step]] (no Spark imports in
 * its logic; mirrors the reference's framework-free purity rule) gives
 * the three faces: [[detectBatch]] is its spillable replay, keyed by
 * account (the Spark encoding of Flink's `key_by`), and
 * [[detectStream]] its stream face, whose event-time timer drops an
 * expired flag from the state store once the watermark passes it.
 *
 * Timer-semantics note (deliberate divergence, SURVEY §7 "what's
 * hard"): Flink fires the expiry timer when the *watermark* passes
 * smallTs+60s, which depends on the watermark strategy; we define the
 * timer to fire before processing any event with ts ≥ timerTs. That is
 * the strict "within one minute" reading, is watermark-independent, and
 * is reproducible in a batch replay. We also do not replicate the
 * reference's stale-timer quirk (a second small txn leaves the first
 * timer registered, expiring the refreshed flag early) — each small txn
 * fully refreshes the timer.
 */
object FraudDetection {

  val SmallAmount = 1.00
  val LargeAmount = 500.00
  val WindowMs = 60000L

  val Empty: FraudState = FraudState(smallSeen = false, timerTs = 0L)

  /** Pure FSM step: (state, event) → (state', alert?). */
  def step(s: FraudState, accountId: Long, ts: Long, amount: Double,
           small: Double = SmallAmount, large: Double = LargeAmount,
           windowMs: Long = WindowMs): (FraudState, Option[Alert]) = {
    // event-time timer: expired flags are invisible to this event
    val cur = if (s.smallSeen && ts >= s.timerTs) Empty else s
    if (cur.smallSeen && amount >= large) {
      val alert = Alert(accountId, amount, ts,
        f"FRAUD: small txn followed by $$${amount}%.2f within ${windowMs / 1000}%ds (account $accountId%d)")
      (Empty, Some(alert)) // alert consumes the flag
    } else if (amount <= small) {
      (FraudState(smallSeen = true, timerTs = ts + windowMs), None)
    } else {
      (cur, None) // medium txn: flag (if set) survives until its timer
    }
  }

  /** Keyed by account, in (timestamp, amount) order; a state is kept
    * while its small-txn flag is set, until the flag's timer. A flag
    * past its timer is already expired in [[step]], so when the runner
    * defers a timer behind the watermark, no spurious alert can fire
    * meanwhile. */
  val fsm = new KeyedFsm[Long, Transaction, FraudState, Alert](
    "accountId", _.accountId,
    Seq("timestamp", "amount"), Ordering.by(t => (t.timestamp, t.amount)),
    Empty, (s, t) => step(s, t.accountId, t.timestamp, t.amount),
    keep = _.smallSeen,
    timer = Some(KeyedFsm.Timer(s => Some(s.timerTs), (_, _) => (Empty, None))))(
    Encoders.product[FraudState])

  /** Bounded (batch) fraud detection over a typed transaction Dataset. */
  def detectBatch(txns: Dataset[Transaction]): Dataset[Alert] = {
    import txns.sparkSession.implicits._
    fsm.replay(txns)
  }

  /** Streaming fraud detection, watermarked on the transaction time. */
  def detectStream(txns: Dataset[Transaction]): Dataset[Alert] = {
    import txns.sparkSession.implicits._
    fsm.stream(txns, Some(timestamp_millis(col("timestamp"))))
  }

  /** The reference's canonical 12-transaction input (job.py:33-56). */
  def canonicalTransactions: Seq[Transaction] = {
    val base = 1609459200000L // 2021-01-01 00:00:00 UTC
    Seq(
      Transaction(1, base, 600.00), Transaction(1, base + 30000, 700.00),
      Transaction(2, base, 0.50), Transaction(2, base + 10000, 0.75),
      Transaction(3, base, 0.50), Transaction(3, base + 30000, 600.00),
      Transaction(4, base, 1.00), Transaction(4, base + 30000, 500.00),
      Transaction(5, base, 0.10), Transaction(5, base + 10000, 0.50),
      Transaction(3, base + 120000, 0.99), Transaction(3, base + 150000, 999.00))
  }

  // ------------------------------------------------------------------
  // The same operator replayed over the driver `events` table
  // (thresholds adapted to its value range: small ≤ 10, large ≥ 200,
  // 24 h window), exposed as an oracle-checked query. The oracle is the
  // closed-form window-function equivalent of the FSM: a large event
  // alerts iff the latest prior small event is within the window and no
  // large event intervenes (an intervening large either consumed the
  // flag or proves the timer already expired).
  // ------------------------------------------------------------------
  val EvSmall = 10.0
  val EvLarge = 200.0
  val EvWindowMs: Long = 24L * 3600 * 1000

  def qFraudAlerts(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val events = new KeyedFsm[Long, (Long, Long, Long, Double), FraudState, (Long, Long, Double, Long)](
      "user_id", _._1, Seq("ts_ms", "event_id"), Ordering.by(e => (e._2, e._3)),
      Empty, { case (s, (user, ts, eid, value)) =>
        val (next, alert) = step(s, user, ts, value, EvSmall, EvLarge, EvWindowMs)
        (next, alert.map(_ => (user, eid, value, ts)))
      })
    events.replay(Tables.events(spark, dir)
      .select($"user_id", unix_millis($"ts").as("ts_ms"), $"event_id", $"value")
      .as[(Long, Long, Long, Double)])
      .toDF("user_id", "event_id", "value", "alert_ts_ms")
      .orderBy($"user_id", $"event_id")
  }

  val sqlFraudAlerts: String =
    s"""WITH x AS (
       |  SELECT user_id, event_id, value, epoch_ms(ts) AS ts_ms,
       |    max(CASE WHEN value <= $EvSmall THEN epoch_ms(ts) END) OVER w AS prev_small,
       |    max(CASE WHEN value >= $EvLarge THEN epoch_ms(ts) END) OVER w AS prev_large
       |  FROM events
       |  WINDOW w AS (PARTITION BY user_id ORDER BY epoch_ms(ts), event_id
       |               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING))
       |SELECT user_id, event_id, value, ts_ms AS alert_ts_ms
       |FROM x
       |WHERE value >= $EvLarge AND prev_small IS NOT NULL
       |  AND ts_ms - prev_small < $EvWindowMs
       |  AND (prev_large IS NULL OR prev_large < prev_small)
       |ORDER BY user_id, event_id""".stripMargin
}
