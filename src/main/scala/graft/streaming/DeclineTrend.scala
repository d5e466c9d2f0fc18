package graft.streaming

import org.apache.spark.sql.{Dataset, Encoders}
import org.apache.spark.sql.functions._

import graft.core.KeyedFsm

/**
 * Streaming face of the decline-trend composite (reference: arch
 * doc:642-647 — previous window's mean in ValueState, trigger on "2회
 * 연속 감소" / two consecutive drops; batch face
 * operators.EventWindows.qDeclineTrend). Consumes per-(key, window)
 * totals — the output of any windowed aggregation — and keeps exactly
 * the reference's state: the previous window's value plus whether it
 * had itself declined.
 *
 * Scale: state per key is two scalars (no buffer); one shuffle on the
 * key. The upstream windowed agg and this FSM chain as two stateful
 * operators, the same topology the reference runs (window → keyed
 * process).
 */
object DeclineTrend {

  /** One upstream windowed-aggregation row. */
  final case class WindowTotal(key: String, window_start_s: Long, total: Double)

  /** ValueState analog: previous window's total + its decline flag. */
  final case class TrendState(prevTotal: Double, prevDeclined: Boolean)

  /** No previous window: every comparison with a NaN total is false,
    * so the first window neither declines nor fires. */
  val Start: TrendState = TrendState(Double.NaN, prevDeclined = false)

  /** Emitted when the current window is the second consecutive drop. */
  final case class Trigger(
      day_s: Long, event_type: String, day_total: Double,
      prev_total: Double, declines_in_row: Long)

  /** Pure per-window step: (state, window) → (state', trigger?). */
  def step(s: TrendState, w: WindowTotal): (TrendState, Option[Trigger]) = {
    val declined = w.total < s.prevTotal
    val out =
      if (declined && s.prevDeclined) Some(Trigger(w.window_start_s, w.key, w.total, s.prevTotal, 2L))
      else None
    (TrendState(w.total, declined), out)
  }

  /** Keyed by the aggregation key, in window order. */
  val fsm = new KeyedFsm[String, WindowTotal, TrendState, Trigger](
    "key", _.key,
    Seq("window_start_s"), Ordering.by(_.window_start_s),
    Start, step)(
    Encoders.product[TrendState])

  /** FSM-only face, no watermark of its own: use this downstream of a
    * watermarked windowed aggregation (the agg emits a window exactly
    * once, when the watermark closes it, already in window order per
    * key — re-watermarking on the window START would misclassify every
    * closed window as late and drop it). */
  def trendOnTotals(totals: Dataset[WindowTotal]): Dataset[Trigger] = {
    import totals.sparkSession.implicits._
    fsm.stream(totals, None)
  }

  /** Streaming face for raw per-window totals fed directly (e.g. from
    * a replayed totals topic): watermark first — out-of-order or late
    * windows are dropped, the T6 policy — then the FSM. */
  def trendStream(totals: Dataset[WindowTotal]): Dataset[Trigger] = {
    import totals.sparkSession.implicits._
    fsm.stream(totals, Some(timestamp_seconds(col("window_start_s"))))
  }

  /** The reference's full topology in ONE streaming query — windowed
    * aggregation chained into the keyed trend FSM (Flink: window →
    * keyed process; Spark: two stateful operators in append mode).
    * `events` needs (ts_ms, key, value) columns. */
  def chainedDeclineTrend(events: Dataset[(Long, String, Double)],
                          windowLength: String = "1 day"): Dataset[Trigger] = {
    import events.sparkSession.implicits._
    val totals = events.toDF("ts_ms", "key", "value")
      .withColumn("eventTime", timestamp_millis(col("ts_ms")))
      .withWatermark("eventTime", "0 seconds")
      .groupBy(window(col("eventTime"), windowLength), col("key"))
      .agg(sum(col("value").cast(org.apache.spark.sql.types.DecimalType(18, 6))).as("total"))
      .select(col("key"), unix_seconds(col("window.start")).as("window_start_s"),
        col("total").cast("double").as("total"))
      .as[WindowTotal]
    trendOnTotals(totals)
  }
}
