package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Memo
import graft.operators.UpbitWire
import graft.sources.Tables

/**
 * End-to-end wire ingestion chain under one gate query: deterministic
 * exchange-JSON frames → [[UpbitWire.parseTrades]] (dispatch,
 * validation, enum normalization, timestamp fallback) →
 * [[graft.core.ProtoCodec]] encode → decode (the Kafka value format,
 * round-tripped) → [[Streams.idempotentAppend]] into a parquet store
 * (duplicate delivery collapses) → read back. This is the S2/K2/K3
 * composition (reference: upbit_connector.py:127-210 →
 * protobuf_mapper.py:105-197 → kafka_producer.py + idempotent sink)
 * exercised as one value-gated pipeline instead of per-piece specs.
 *
 * Frame synthesis: each `events` row becomes one wire frame whose
 * shape varies by event_id % 7 — full frame (0), trade_timestamp
 * absent so `timestamp` must back-fill (1), unknown ask_bid + absent
 * volume (2), non-trade frame type (3, dropped), absent code (4,
 * dropped), no usable timestamp (5, dropped), absent numerics → proto3
 * zero defaults (6). Every frame is delivered TWICE (the at-least-once
 * duplicate); exactly one copy must survive the idempotent sink. The
 * DuckDB oracle computes the expected survivors and their field values
 * directly from `events` — if any stage (JSON parse, validation, enum
 * table, timestamp fallback, proto varint/fixed64 round-trip, dedup)
 * corrupts a value, the hash comparison fails.
 */
object WireIngest {
  import graft.operators.Relational.ColInterp

  /** The deterministic events→frames synthesis (one JSON frame per
    * event, doubled for at-least-once delivery). `to_json` drops null
    * struct fields, which is what makes `when` without `otherwise`
    * express an absent wire field. */
  def frames(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .select($"event_id", unix_millis($"ts").as("ts_ms"),
        $"user_id", $"event_type", $"value")
    val m = $"event_id" % 7
    val code = concat(lit("KRW-"), upper($"event_type"))
    val once = ev.select(
      $"ts_ms",
      to_json(struct(
        when(m =!= 3, lit("trade")).otherwise(lit("orderbook")).as("type"),
        when(m =!= 4, code).as("code"),
        when(m.isin(0, 1, 2), $"value").as("trade_price"),
        when(m.isin(0, 1), $"user_id".cast("double")).as("trade_volume"),
        when(m === 0, lit("ASK")).when(m === 1, lit(" bid "))
          .when(m === 2, lit("HOLD")).when(m === 6, lit("ASK")).as("ask_bid"),
        when(m === 0, $"value").as("prev_closing_price"),
        when(m === 0, lit("RISE")).when(m === 1, lit("fall"))
          .when(m === 2, lit(" even ")).as("change"),
        when(m.isin(0, 1), $"value").as("change_price"),
        when(m.isin(0, 2, 6), $"ts_ms").as("trade_timestamp"),
        $"event_id".as("sequential_id"),
        when(m.isin(1, 2, 6), $"ts_ms").as("timestamp"))).as("frame"))
    // at-least-once doubling via one explode of the computed frame
    // column: unionByName(once, once) re-ran the whole JSON synthesis
    // once per delivery copy (same row multiset — every frame is still
    // delivered exactly twice)
    once.select($"ts_ms", explode(array($"frame", $"frame")).as("frame"))
  }

  def qWireIngest(spark: SparkSession, dir: String): DataFrame = {
    // the SAME store while the query re-runs on unchanged input (warm +
    // timed passes), so the second append is provably a no-op; a new
    // one once the input changes
    val store = Memo.onDisk(spark, dir, "WireIngest.store")(identity)
    val trades = UpbitWire.parseTrades(
      frames(spark, dir), "frame", "Upbit", $"ts_ms" + 5)
    val decoded = Streams.tradesFromProtoRecords(
      Streams.tradeProtoRecords(trades))
    Streams.idempotentAppend(decoded.toDF(), Seq("code", "sequentialId"), store)
    readTradeStore(spark, store)
  }

  /** Read an idempotent trade store back in the gate projection —
    * shared by the batch gate and the streaming replay spec (which
    * must compare byte-identical frames). */
  def readTradeStore(spark: SparkSession, store: String): DataFrame =
    spark.read.parquet(store).select(
      $"exchange", $"code",
      $"tradePrice".as("trade_price"),
      $"tradeVolume".as("trade_volume"),
      $"askBid".as("ask_bid"),
      $"prevClosingPrice".as("prev_close"),
      $"change",
      $"changePrice".as("change_price"),
      $"tradeTimestampMs".as("trade_ts_ms"),
      $"sequentialId".as("sequential_id"),
      $"streamType".as("stream_type"),
      $"receivedTimestampMs".as("recv_ms"))
      .orderBy($"sequential_id")

  // ------------------------------------------------------------------
  // Orderbook face: the NESTED proto path (repeated OrderBookLevel
  // messages inside OrderBookUpdate) under the same kind of value
  // gate. Frames vary by event_id % 6 — full 3-level book (0),
  // `timestamp` absent so `event_timestamp` back-fills (1), one unit
  // missing its ask side so per-side filtering keeps it bids-only (2),
  // non-book type (3, dropped), absent code (4, dropped), no units and
  // no totals → proto3 empty-list/zero defaults (5). The decoded
  // books are projected to flattened columns the oracle recomputes
  // from `events` directly.
  // ------------------------------------------------------------------
  def bookFrames(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .select($"event_id", unix_millis($"ts").as("ts_ms"),
        $"user_id", $"event_type", $"value")
    val m = $"event_id" % 6
    def unit(j: Int) = {
      // variant 2 drops the ask side of unit 0 only
      val askPresent = if (j == 0) m =!= 2 else lit(true)
      struct(
        when(askPresent, $"value" + j).as("ask_price"),
        when(askPresent, $"user_id".cast("double") + j).as("ask_size"),
        ($"value" - j).as("bid_price"),
        ($"user_id".cast("double") + 10 + j).as("bid_size"))
    }
    ev.select(
      $"ts_ms",
      to_json(struct(
        when(m =!= 3, lit("orderbook")).otherwise(lit("trade")).as("type"),
        when(m =!= 4, concat(lit("B-"), lpad($"event_id".cast("string"), 9, "0"))).as("code"),
        when(m.isin(0, 1, 2), $"value" * 2).as("total_ask_size"),
        when(m.isin(0, 1, 2), $"value" * 3).as("total_bid_size"),
        when(m.isin(0, 1, 2), array(unit(0), unit(1), unit(2))).as("orderbook_units"),
        when(m =!= 1, $"ts_ms").as("timestamp"),
        when(m === 1, $"ts_ms").as("event_timestamp"))).as("frame"))
  }

  def qWireBooks(spark: SparkSession, dir: String): DataFrame = {
    val books = UpbitWire.parseOrderBooks(
      bookFrames(spark, dir), "frame", "Upbit", $"ts_ms" + 7)
    val decoded = Streams.orderBooksFromProtoRecords(
      Streams.orderBookProtoRecords(books))
    decoded.select(
      $"code",
      $"totalAskSize".as("total_ask"),
      $"totalBidSize".as("total_bid"),
      size($"asks").cast("long").as("n_asks"),
      size($"bids").cast("long").as("n_bids"),
      try_element_at($"asks", lit(1)).getField("price").as("best_ask_price"),
      try_element_at($"asks", lit(1)).getField("size").as("best_ask_size"),
      try_element_at($"bids", lit(1)).getField("price").as("best_bid_price"),
      try_element_at($"bids", lit(1)).getField("size").as("best_bid_size"),
      $"eventTimestampMs".as("event_ts_ms"),
      $"receivedTimestampMs".as("recv_ms"))
      .orderBy($"code")
  }

  val sqlWireBooks: String =
    """SELECT
      |  'B-' || lpad(event_id::VARCHAR, 9, '0') AS code,
      |  CASE WHEN event_id % 6 IN (0, 1, 2) THEN value * 2 ELSE 0.0 END AS total_ask,
      |  CASE WHEN event_id % 6 IN (0, 1, 2) THEN value * 3 ELSE 0.0 END AS total_bid,
      |  CASE WHEN event_id % 6 IN (0, 1) THEN 3 WHEN event_id % 6 = 2 THEN 2 ELSE 0 END::BIGINT AS n_asks,
      |  CASE WHEN event_id % 6 IN (0, 1, 2) THEN 3 ELSE 0 END::BIGINT AS n_bids,
      |  CASE WHEN event_id % 6 IN (0, 1) THEN value WHEN event_id % 6 = 2 THEN value + 1 END AS best_ask_price,
      |  CASE WHEN event_id % 6 IN (0, 1) THEN user_id::DOUBLE WHEN event_id % 6 = 2 THEN user_id::DOUBLE + 1 END AS best_ask_size,
      |  CASE WHEN event_id % 6 IN (0, 1, 2) THEN value END AS best_bid_price,
      |  CASE WHEN event_id % 6 IN (0, 1, 2) THEN user_id::DOUBLE + 10 END AS best_bid_size,
      |  epoch_ms(ts) AS event_ts_ms,
      |  epoch_ms(ts) + 7 AS recv_ms
      |FROM events
      |WHERE event_id % 6 IN (0, 1, 2, 5)
      |ORDER BY code""".stripMargin

  /** Oracle: the expected post-chain values computed straight from
    * `events` — survivors are event_id % 7 ∈ {0,1,2,6}; every field
    * follows the connector/mapper semantics the chain implements. */
  val sqlWireIngest: String =
    """SELECT
      |  'UPBIT' AS exchange,
      |  'KRW-' || upper(event_type) AS code,
      |  CASE WHEN event_id % 7 IN (0, 1, 2) THEN value ELSE 0.0 END AS trade_price,
      |  CASE WHEN event_id % 7 IN (0, 1) THEN user_id::DOUBLE ELSE 0.0 END AS trade_volume,
      |  CASE event_id % 7 WHEN 0 THEN 'ASK' WHEN 1 THEN 'BID'
      |    WHEN 2 THEN '' WHEN 6 THEN 'ASK' END AS ask_bid,
      |  CASE WHEN event_id % 7 = 0 THEN value ELSE 0.0 END AS prev_close,
      |  CASE event_id % 7 WHEN 0 THEN 'RISE' WHEN 1 THEN 'FALL'
      |    WHEN 2 THEN 'EVEN' WHEN 6 THEN '' END AS change,
      |  CASE WHEN event_id % 7 IN (0, 1) THEN value ELSE 0.0 END AS change_price,
      |  epoch_ms(ts) AS trade_ts_ms,
      |  event_id AS sequential_id,
      |  'REALTIME' AS stream_type,
      |  epoch_ms(ts) + 5 AS recv_ms
      |FROM events
      |WHERE event_id % 7 IN (0, 1, 2, 6)
      |ORDER BY sequential_id""".stripMargin
}
