package graft.core

import org.apache.spark.sql.{Column, Dataset, Encoder}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/**
 * One keyed event-time state machine, declared once — the engine's
 * analog of Flink's `KeyedProcessFunction`, where the framework owns
 * the keyed state and the timers and the job supplies the transition.
 *
 * A declaration names the key (its column, and the same key as a
 * function), one event order (the columns the batch sort uses, and the
 * matching Scala `Ordering` the stream and unit faces use), the empty
 * state and the pure `step`. Stream-only: which states to keep (the
 * rest are removed from the store), and an optional [[KeyedFsm.Timer]].
 * `stateEncoder` is how the stream face stores `S`.
 *
 * Three faces derive from it:
 *  - [[replay]] — the spillable secondary sort:
 *    {{{
 *    ds.repartition(keyCol)                          // one shuffle on the key
 *      .sortWithinPartitions(keyCol +: orderCols)    // external, spillable sort
 *      .mapPartitions(it => SecondarySort.runs(it)(key).flatMap(fold))
 *    }}}
 *    Nothing is materialized per key: Spark's sort spills, and the fold
 *    holds one state, so a hot key with 10^8 events streams through.
 *  - [[run]] — the same fold over one key's events on the driver.
 *  - [[stream]] — `flatMapGroupsWithState`: each micro-batch's events
 *    of a key sort by `order` and fold from the stored state.
 */
final class KeyedFsm[K, E, S, O](
    val keyCol: String, val key: E => K,
    val orderCols: Seq[String], val order: Ordering[E],
    val empty: S, val step: (S, E) => (S, IterableOnce[O]),
    val keep: S => Boolean = (_: S) => true,
    val timer: Option[KeyedFsm.Timer[K, S, O]] = None)(
    implicit val stateEncoder: Encoder[S]) {

  /** Fold `events`, already in `order`, from state `from`. */
  def run(from: S, events: IterableOnce[E]): (S, Seq[O]) = KeyedFsm.fold(step, from, events)

  /** Bounded replay: every key's events in `order`, from `empty`. */
  def replay(ds: Dataset[E])(implicit out: Encoder[O]): Dataset[O] = {
    // locals, so the task closure does not carry the declaration
    val (key, empty, step) = (this.key, this.empty, this.step)
    ds.repartition(col(keyCol))
      .sortWithinPartitions((keyCol +: orderCols).map(col): _*)
      .mapPartitions { it =>
        SecondarySort.runs(it)(key).flatMap { case (_, events) =>
          var s = empty
          events.flatMap { e =>
            val (next, o) = step(s, e)
            s = next
            o
          }
        }
      }
  }

  /**
   * Streaming face, state carried across micro-batches. Given an
   * `eventTime` column it applies a 0-second watermark on it; without
   * one (a caller already downstream of a watermark) it adds none.
   * With a [[KeyedFsm.Timer]], a kept state's deadline is set as an
   * event-time timeout. `setTimeoutTimestamp` throws unless the
   * timestamp is past the watermark, and cross-key event-time skew can
   * put a deadline behind it, so the deadline is clamped to
   * `watermark + 1`: the timer then fires at the next watermark
   * advance, so a `fire` judges by the deadline, not by when it runs.
   */
  def stream(ds: Dataset[E], eventTime: Option[Column])(
      implicit keyEncoder: Encoder[K], out: Encoder[O]): Dataset[O] = {
    val (key, empty, step, keep, timer, order) =
      (this.key, this.empty, this.step, this.keep, this.timer, this.order)
    val events = eventTime.fold(ds)(t => ds.withColumn("eventTime", t)
      .withWatermark("eventTime", "0 seconds").as[E](ds.encoder))
    val timeout =
      if (timer.isDefined) GroupStateTimeout.EventTimeTimeout else GroupStateTimeout.NoTimeout
    events.groupByKey(key).flatMapGroupsWithState(OutputMode.Append, timeout) {
      (k: K, batch: Iterator[E], state: GroupState[S]) =>
        val (s, emitted) =
          if (state.hasTimedOut) timer.get.fire(k, state.get)
          else KeyedFsm.fold(step, state.getOption.getOrElse(empty), batch.toVector.sorted(order))
        if (keep(s)) {
          state.update(s)
          for (t <- timer; d <- t.deadline(s))
            state.setTimeoutTimestamp(math.max(d, state.getCurrentWatermarkMs() + 1))
        } else state.remove()
        emitted.iterator
    }(stateEncoder, out)
  }
}

object KeyedFsm {

  /** An event-time timer: the deadline (epoch ms) a kept state waits
    * for, if any, and what the key emits, and becomes, when the
    * watermark passes it. */
  final case class Timer[K, S, O](deadline: S => Option[Long], fire: (K, S) => (S, IterableOnce[O]))

  private def fold[S, E, O](step: (S, E) => (S, IterableOnce[O]), from: S,
                            events: IterableOnce[E]): (S, Seq[O]) = {
    var s = from
    val out = Seq.newBuilder[O]
    events.iterator.foreach { e =>
      val (next, o) = step(s, e)
      s = next
      out ++= o
    }
    (s, out.result())
  }
}
