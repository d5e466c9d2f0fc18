package graft.streaming

import java.nio.ByteBuffer

import org.apache.spark.sql.{Dataset, Encoder, Encoders}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/**
 * Spoofing detection (reference: arch doc:583-592, 기획 doc:104-109;
 * SURVEY §2.6 T7): a newly-appeared large ask level (> threshold share
 * of total book depth) arms a per-price timer TimerMs ahead; when the
 * timer fires and the level has vanished, the order was a spoof —
 * placed to fake depth and pulled before execution.
 *
 * Spark encoding per SURVEY: per-price deadlines live in a MapState
 * analog inside `flatMapGroupsWithState` keyed by market code; timers
 * are evaluated in event time against each incoming book, so batch
 * replay and live streams produce identical alerts.
 */
object SpoofingDetector {

  val TimerMs = 1500L
  val ThresholdPct = 0.05 // > 5% of total book depth arms the timer

  final case class Book(code: String, ts_ms: Long, prices: Seq[Double], sizes: Seq[Double])

  /** `armed`: price -> (registered size, deadline). `verified`: large
    * levels that survived their timer — genuine resting orders, not
    * re-armed while they stay on the book (else a legit fill would
    * alert later). */
  final case class SpoofState(armed: Map[Double, (Double, Long)], verified: Set[Double])
  val Empty: SpoofState = SpoofState(Map.empty, Set.empty)

  final case class SpoofAlert(
      code: String, price: Double, registered_size: Double,
      armed_at_ms: Long, fired_at_ms: Long)

  /** Pure step: evaluate due timers against the current book, then arm
    * timers for new large levels. */
  def step(s: SpoofState, b: Book): (SpoofState, Seq[SpoofAlert]) = {
    val present = b.prices.toSet
    val alerts = Vector.newBuilder[SpoofAlert]
    var armed = s.armed
    var verified = s.verified.intersect(present) // departed legit levels forget
    // 1. due timers: vanished level => spoofing alert; survivor => verified
    s.armed.foreach { case (price, (size, deadline)) =>
      if (b.ts_ms >= deadline) {
        if (!present.contains(price))
          alerts += SpoofAlert(b.code, price, size, deadline - TimerMs, b.ts_ms)
        else verified += price
        armed -= price
      }
    }
    // 2. arm new large levels (first sighting only — re-arming on every
    //    book would let a spoofer reset its own timer)
    val total = b.sizes.sum
    if (total > 0) {
      b.prices.indices.foreach { i =>
        val (price, size) = (b.prices(i), b.sizes(i))
        if (size > ThresholdPct * total && !armed.contains(price) && !verified.contains(price))
          armed += price -> ((size, b.ts_ms + TimerMs))
      }
    }
    (SpoofState(armed, verified), alerts.result())
  }

  def runKey(sorted: Iterator[Book], initial: SpoofState = Empty): (SpoofState, Seq[SpoofAlert]) = {
    var s = initial
    val out = Seq.newBuilder[SpoofAlert]
    sorted.foreach { b =>
      val (s2, a) = step(s, b)
      s = s2
      out ++= a
    }
    (s, out.result())
  }

  /** Batch replay over a book Dataset. Spillable secondary sort +
    * iterator FSM (the qDensitySignals discipline): one shuffle on the
    * market code, external sort within partitions, and the fold holds
    * only the armed/verified maps — a market's full book history never
    * materializes on one executor thread. */
  def detectBatch(books: Dataset[Book]): Dataset[SpoofAlert] = {
    import books.sparkSession.implicits._
    books
      .repartition(col("code"))
      // (code, ts_ms) alone is not a total order: two frames of one
      // market could share a max event timestamp and the FSM fold is
      // order-sensitive. Tiebreak on the book content itself (array
      // ordering is lexicographic) — books that still tie are
      // identical, and swapping identical adjacent inputs is a no-op
      // for the fold, so replay order is deterministic.
      .sortWithinPartitions(col("code"), col("ts_ms"), col("prices"), col("sizes"))
      .mapPartitions { it =>
        graft.core.SecondarySort.runs(it)(_.code).flatMap { case (_, bs) =>
          var s = Empty
          bs.flatMap { b =>
            val (s2, a) = step(s, b)
            s = s2
            a
          }
        }
      }
  }

  // ==================================================================
  // Oracle gate (q_spoofing): the T7 CEP pattern adjudicated against a
  // DuckDB twin — the same treatment every other doc-specified timer
  // pattern got (fraud, position, density, funnel).
  //
  // Book derivation from `events` (the test-fixture shape; a real
  // deployment feeds real per-market book snapshots through the same
  // keyed faces): markets = user_id mod Codes, each market's events in
  // (ts_ms, event_id) order chunk into FrameEvents-sized book frames —
  // event-count framing keeps book density IDENTICAL at every scale
  // factor, where a fixed time frame goes empty at sf0.001 and
  // saturates at sf0.1. A frame's book: price level = floor(value /
  // PriceBand), size = event count at that level (integer, so the 5%
  // threshold is exact cross-engine: size > 0.05·total ⇔ 20·size >
  // total for integer sizes — brute-verified over every (total ≤ 32,
  // size) pair, no float boundary case disagrees), ts = the frame's
  // max event ms.
  //
  // Oracle contract (and why it is SQL-expressible at all): by
  // construction consecutive books of one market are event-count
  // frames minutes apart — always > TimerMs — so every armed timer is
  // due exactly at the market's NEXT book. Under that spacing the FSM
  // collapses to a per-(code, price) recurrence over the book index:
  //
  //   verified_i = present_i && (verified_{i-1} || large_{i-1})
  //   alert_i    = large_{i-1} && !verified_{i-1} && !present_i
  //
  // i.e. verified(b) ⇔ some EARLIER book in the same unbroken
  // presence-run was large — gaps-and-islands (the X131 machinery):
  // island id = book_idx − row_number, verified = windowed max(large)
  // over earlier island rows, vanish = next present index skips
  // book_idx + 1. The FSM handles the general overlapping-timer case
  // (spec-pinned with sub-TimerMs books); the oracle exploits the
  // derivation's spacing guarantee. Alerts only fire when a later book
  // exists to fire them (no anchor book ⇒ timer never due — the
  // qFunnelAbandon max-ts treatment, here via next_ts IS NOT NULL).
  //
  // Scale: the stream face keeps O(price-catalog) state per market;
  // the batch face shuffles once on code and folds spillably; the
  // oracle's dense window encoding is the TEST-side formulation.
  // ==================================================================

  val FrameEvents = 32
  val PriceBand = 25.0
  val Codes = 2

  /** Deterministic book-frame table derived from `events`. */
  def bookFrames(spark: org.apache.spark.sql.SparkSession, dir: String): Dataset[Book] = {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val ev = graft.sources.Tables.events(spark, dir)
      .select(concat(lit("M"), col("user_id") % Codes).as("code"),
        unix_millis(col("ts")).as("ts_ms"),
        floor(col("value") / PriceBand).cast("long").as("price"),
        col("event_id"))
    val framed = ev.withColumn("frame",
      ((row_number().over(Window.partitionBy($"code").orderBy($"ts_ms", $"event_id")) - 1)
        / FrameEvents).cast("long"))
    framed.groupBy($"code", $"frame", $"price")
      .agg(count(lit(1)).cast("double").as("sz"), max($"ts_ms").as("pmax"))
      .groupBy($"code", $"frame")
      .agg(max($"pmax").as("ts_ms"),
        sort_array(collect_list(struct($"price", $"sz"))).as("lv"))
      .select($"code", $"ts_ms",
        transform($"lv", x => x.getField("price").cast("double")).as("prices"),
        transform($"lv", x => x.getField("sz")).as("sizes"))
      .as[Book]
  }

  /** Gate: FSM batch replay over the derived book table; the oracle is
    * the algorithmically independent islands encoding. */
  def qSpoofing(spark: org.apache.spark.sql.SparkSession, dir: String): org.apache.spark.sql.DataFrame = {
    import spark.implicits._
    detectBatch(bookFrames(spark, dir))
      .select($"code", $"price".cast("long").as("price"),
        $"registered_size".cast("long").as("registered_size"),
        $"armed_at_ms", $"fired_at_ms")
      .orderBy($"code", $"armed_at_ms", $"price")
  }

  val sqlSpoofing: String =
    s"""WITH ev AS (
       |  SELECT 'M' || (user_id % $Codes) AS code, epoch_ms(ts) AS ts_ms,
       |    CAST(floor(value / $PriceBand) AS BIGINT) AS price,
       |    (row_number() OVER (PARTITION BY user_id % $Codes
       |       ORDER BY epoch_ms(ts), event_id) - 1) // $FrameEvents AS frame
       |  FROM events),
       |lv AS (
       |  SELECT code, frame, price, count(*) AS sz, max(ts_ms) AS fmax
       |  FROM ev GROUP BY 1, 2, 3),
       |bk AS (
       |  SELECT code, frame, sum(sz) AS total, max(fmax) AS ts_ms,
       |    row_number() OVER (PARTITION BY code ORDER BY frame) AS idx,
       |    lead(max(fmax)) OVER (PARTITION BY code ORDER BY frame) AS next_ts
       |  FROM lv GROUP BY code, frame),
       |pres AS (
       |  SELECT l.code, l.price, l.sz, b.ts_ms, b.idx, b.next_ts,
       |    CASE WHEN 20 * l.sz > b.total THEN 1 ELSE 0 END AS lg,
       |    b.idx - row_number() OVER (PARTITION BY l.code, l.price ORDER BY b.idx) AS isl
       |  FROM lv l JOIN bk b USING (code, frame)),
       |st AS (
       |  SELECT *,
       |    coalesce(max(lg) OVER (PARTITION BY code, price, isl ORDER BY idx
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS verified,
       |    lead(idx) OVER (PARTITION BY code, price ORDER BY idx) AS next_pres
       |  FROM pres)
       |SELECT code, price, CAST(sz AS BIGINT) AS registered_size,
       |  CAST(ts_ms AS BIGINT) AS armed_at_ms, CAST(next_ts AS BIGINT) AS fired_at_ms
       |FROM st
       |WHERE lg = 1 AND verified = 0 AND next_ts IS NOT NULL
       |  AND (next_pres IS NULL OR next_pres > idx + 1)
       |ORDER BY code, armed_at_ms, price""".stripMargin

  /** [[SpoofState]] as the streaming face stores it: the armed levels
    * as (price, size, deadline) triples sorted by price, and the
    * verified prices sorted, each packed into a byte array. A binary
    * column deserializes without lambdas. A `Map`/`Set` field, and even
    * an `Array[Double]` one (`MapObjects`), carries lambda variables
    * numbered from a global counter, so the fresh resolution of the
    * state encoder in each micro-batch generated new source and one
    * more Janino compile. */
  final case class StoredState(armed: Array[Byte], verified: Array[Byte]) {
    def toSpoofState: SpoofState = {
      val a = ByteBuffer.wrap(armed)
      val levels = Map.newBuilder[Double, (Double, Long)]
      while (a.hasRemaining) {
        val price = a.getDouble
        val size = a.getDouble
        levels += price -> ((size, a.getLong))
      }
      val v = ByteBuffer.wrap(verified)
      val prices = Set.newBuilder[Double]
      while (v.hasRemaining) prices += v.getDouble
      SpoofState(levels.result(), prices.result())
    }
  }

  object StoredState {
    def of(s: SpoofState): StoredState = {
      val a = ByteBuffer.allocate(24 * s.armed.size)
      s.armed.toSeq.sortBy(_._1).foreach { case (price, (size, deadline)) =>
        a.putDouble(price).putDouble(size).putLong(deadline)
      }
      val v = ByteBuffer.allocate(8 * s.verified.size)
      s.verified.toSeq.sorted.foreach(v.putDouble)
      StoredState(a.array, v.array)
    }
  }

  val stateEncoder: Encoder[StoredState] = Encoders.product[StoredState]

  /** Streaming face, state carried across micro-batches. */
  def detectStream(books: Dataset[Book]): Dataset[SpoofAlert] = {
    import books.sparkSession.implicits._
    books
      .withColumn("eventTime", timestamp_millis(col("ts_ms")))
      .withWatermark("eventTime", "0 seconds")
      .as[Book]
      .groupByKey(_.code)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (_: String, it: Iterator[Book], state: GroupState[StoredState]) =>
          if (it.isEmpty) Iterator.empty
          else {
            val (s, alerts) = runKey(it.toVector.sortBy(_.ts_ms).iterator,
              state.getOption.fold(Empty)(_.toSpoofState))
            if (s.armed.isEmpty && s.verified.isEmpty) state.remove()
            else state.update(StoredState.of(s))
            alerts.iterator
          }
      }(stateEncoder, implicitly[Encoder[SpoofAlert]])
  }
}
