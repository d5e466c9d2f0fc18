package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.{Domain, KeyedFsm}
import graft.sources.Tables

/**
 * The CEP layer's P-wave density-drop signal generator, replayed over
 * the `events` table (reference: CEP doc:96-161 — trailing-window
 * baseline mean, warm-up gating, threshold trigger, deterministic
 * signal id; arch doc:574-581 ListState time-series buffer).
 *
 * Semantics per key (user): maintain the trailing 1 h of (ts, value)
 * samples (the ListState analog, T4); for each event, the baseline is
 * the mean of strictly-earlier samples inside the window; a signal
 * fires when the window holds ≥ MinSamples and the current value drops
 * below DropFactor × baseline. The signal id is the deterministic
 * sha256 of (key, side, reason, second) — idempotent across replays
 * (T9/F13).
 *
 * Scale: state per key is bounded by the time window (pruned on every
 * event); both faces of [[fsm]] shuffle once on the key and sort
 * within it, with no global sort.
 */
object DensitySignals {

  val WindowMs = 3600000L
  val MinSamples = 10
  val DropFactor = 0.5
  val Side = "SELL"
  val Reason = "DENSITY_DROP"

  /** One emitted signal row. */
  final case class Signal(
      user_id: Long, event_id: Long, ts_ms: Long, value: Double,
      baseline: Double, n: Long, signal_id: String)

  /** Trailing-window sample buffer carried across micro-batches. */
  final case class DensityState(samples: Vector[(Long, Double)])

  /** Streaming input record (named fields so the watermark column can
    * ride alongside without breaking the deserializer). */
  final case class DsEvent(user_id: Long, ts_ms: Long, event_id: Long, value: Double)

  /** Pure per-event step: (buffer, event) → (buffer', signal?). The
    * buffer holds the trailing window including same-ts peers; the
    * baseline uses strictly-earlier samples only (matches the oracle's
    * RANGE … 1 PRECEDING frame). Decimal-exact summation (valueOf:
    * shortest decimal repr of the double, identical to DuckDB's
    * DECIMAL(18,6) cast for ≤6-dp inputs). */
  def step(s: DensityState, e: DsEvent): (DensityState, Option[Signal]) = {
    val pruned = s.samples.dropWhile(_._1 < e.ts_ms - WindowMs)
    val window = pruned.filter(_._1 < e.ts_ms)
    val n = window.size
    val out =
      if (n >= MinSamples) {
        val sum = window.foldLeft(java.math.BigDecimal.ZERO) { (acc, sample) =>
          acc.add(java.math.BigDecimal.valueOf(sample._2))
        }
        val baseline = sum.doubleValue / n
        if (baseline > 0 && e.value < DropFactor * baseline)
          Some(Signal(e.user_id, e.event_id, e.ts_ms, e.value, baseline, n.toLong,
            Domain.deterministicSignalId(e.user_id.toString, Side, Reason, e.ts_ms)))
        else None
      } else None
    (DensityState(pruned :+ ((e.ts_ms, e.value))), out)
  }

  /** Keyed by user, in (ts_ms, event_id) order; a key's buffer expires
    * one window after its last sample. Kryo-stored: a product encoder
    * over the sample `Vector` generates new deserializer source at every
    * resolution, so each micro-batch compiled it again. */
  val fsm = new KeyedFsm[Long, DsEvent, DensityState, Signal](
    "user_id", _.user_id,
    Seq("ts_ms", "event_id"), Ordering.by(e => (e.ts_ms, e.event_id)),
    DensityState(Vector.empty), step,
    keep = _.samples.nonEmpty,
    timer = Some(KeyedFsm.Timer(_.samples.lastOption.map(_._1 + WindowMs),
      (_, _) => (DensityState(Vector.empty), None))))(
    Encoders.kryo[DensityState])

  /** Batch face over the events table (oracle-checked). */
  def qDensitySignals(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    fsm.replay(Tables.events(spark, dir)
      .select($"user_id", unix_millis($"ts").as("ts_ms"), $"event_id", $"value")
      .as[DsEvent])
      .toDF()
      .orderBy($"user_id", $"event_id")
  }

  /** Closed-form oracle: the FSM's window is exactly the RANGE frame
    * [ts−3600000, ts−1] over epoch-ms (exclusive of the current event
    * and its same-ms peers), with the same decimal-exact mean. */
  val sqlDensitySignals: String =
    s"""WITH x AS (
       |  SELECT user_id, event_id, epoch_ms(ts) AS ts_ms, value,
       |    CAST(sum(CAST(value AS DECIMAL(18,6))) OVER w AS DOUBLE) AS sum_w,
       |    count(*) OVER w AS n
       |  FROM events
       |  WINDOW w AS (PARTITION BY user_id ORDER BY epoch_ms(ts)
       |               RANGE BETWEEN $WindowMs PRECEDING AND 1 PRECEDING))
       |SELECT user_id, event_id, ts_ms, value,
       |  sum_w / n AS baseline, n,
       |  sha256(user_id || '|$Side|$Reason|' || (ts_ms // 1000)) AS signal_id
       |FROM x
       |WHERE n >= $MinSamples AND sum_w / n > 0 AND value < $DropFactor * (sum_w / n)
       |ORDER BY user_id, event_id""".stripMargin

  /** Streaming face: the buffer lives in the state store, watermarked
    * on the event time. */
  def detectStream(events: Dataset[DsEvent]): Dataset[Signal] = {
    import events.sparkSession.implicits._
    fsm.stream(events, Some(timestamp_millis(col("ts_ms"))))
  }
}
