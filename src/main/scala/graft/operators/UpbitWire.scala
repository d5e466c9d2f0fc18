package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.core.Model.{OrderBookLevel, OrderBookUpdate, Trade}

/**
 * Upbit WebSocket wire-format ingestion: literal exchange JSON →
 * validated, typed records (reference: upbit_connector.py:127-210
 * parse/dispatch + timestamp mapping, protobuf_mapper.py:105-197
 * field mapping + enum normalization, ingestion_service.py:265-320
 * convert→route).
 *
 * Everything is column-level Catalyst work (`from_json`, `coalesce`,
 * array HOFs) so the parse chain is codegen'd and runs identically in
 * batch replay and `readStream` — no per-record driver logic, which is
 * what lets the same chain ingest a 100 TB day of archived frames.
 *
 * Semantics pinned to the reference:
 *  - dispatch on `type` ∈ {trade, orderbook}; anything else dropped
 *    (upbit_connector.py:148-151);
 *  - trades prefer `trade_timestamp`, falling back to `timestamp`
 *    (upbit_connector.py:196, protobuf_mapper.py:127-131); orderbooks
 *    use `timestamp` falling back to `event_timestamp`
 *    (protobuf_mapper.py:180-184);
 *  - enum names normalize via trim+upper through fixed tables, unknown
 *    → unset (protobuf_mapper.py:85-101); WebSocket frames are always
 *    REALTIME (protobuf_mapper.py:150,196);
 *  - absent numeric fields map to 0 (proto3 defaults,
 *    protobuf_mapper.py:136-146).
 */
object UpbitWire {

  /** Upbit 'trade' frame fields consumed by the mapper
    * (protobuf_mapper.py:107-119 docstring). */
  val TradeSchema: StructType = StructType(Seq(
    StructField("type", StringType),
    StructField("code", StringType),
    StructField("trade_price", DoubleType),
    StructField("trade_volume", DoubleType),
    StructField("ask_bid", StringType),
    StructField("prev_closing_price", DoubleType),
    StructField("change", StringType),
    StructField("change_price", DoubleType),
    StructField("trade_timestamp", LongType),
    StructField("sequential_id", LongType),
    StructField("timestamp", LongType)))

  /** Upbit 'orderbook' frame fields (protobuf_mapper.py:160-172). */
  val OrderBookSchema: StructType = StructType(Seq(
    StructField("type", StringType),
    StructField("code", StringType),
    StructField("total_ask_size", DoubleType),
    StructField("total_bid_size", DoubleType),
    StructField("orderbook_units", ArrayType(StructType(Seq(
      StructField("ask_price", DoubleType),
      StructField("ask_size", DoubleType),
      StructField("bid_price", DoubleType),
      StructField("bid_size", DoubleType))))),
    StructField("timestamp", LongType),
    StructField("event_timestamp", LongType)))

  /** Enum-name normalization: trim+upper, membership check, unknown →
    * "" (the string face of proto3 UNSPECIFIED = 0; ProtoCodec encodes
    * "" by omission). Mirrors `_to_*_enum` (protobuf_mapper.py:85-101).
    * An already-canonical name is returned without `upper`, which on
    * Spark's UTF8_BINARY strings runs through ICU; the names are
    * upper-case, so the result is the same. */
  private def enumNorm(c: Column, valid: Seq[String]): Column = {
    val t = trim(c)
    val u = upper(t)
    when(t.isin(valid: _*), t).when(u.isin(valid: _*), u).otherwise(lit(""))
  }

  private def zeroIfNull(c: Column): Column = coalesce(c, lit(0.0))

  /** Exchange-name literal → normalized name ("UPBIT" | ""), the
    * `_to_exchange_enum` path (protobuf_mapper.py:80-90). */
  def normalizedExchange(name: String): String = {
    val n = if (name == null) "" else name.trim.toUpperCase
    if (graft.core.ProtoCodec.ExchangeByName.contains(n)) n else ""
  }

  // ------------------------------------------------------------------
  // Shared parse + projection. Each public face applies exactly ONE
  // validation filter on top (drop-mode OR assert-mode) — never both,
  // so Catalyst predicate reordering can't let a drop-filter swallow a
  // row before a strict assertion sees it.
  // ------------------------------------------------------------------

  private def tradeFrames(raw: DataFrame, jsonCol: String, receivedTsMs: Column): DataFrame =
    raw.select(from_json(col(jsonCol), TradeSchema).as("m"), receivedTsMs.as("recv_ms"))
      .filter(col("m.type") === "trade")

  private def tradeProject(frames: DataFrame, exchangeName: String): Dataset[Trade] = {
    import frames.sparkSession.implicits._
    frames.select(
      lit(normalizedExchange(exchangeName)).as("exchange"),
      $"m.code".as("code"),
      zeroIfNull($"m.trade_price").as("tradePrice"),
      zeroIfNull($"m.trade_volume").as("tradeVolume"),
      enumNorm($"m.ask_bid", Seq("ASK", "BID")).as("askBid"),
      zeroIfNull($"m.prev_closing_price").as("prevClosingPrice"),
      enumNorm($"m.change", Seq("RISE", "EVEN", "FALL")).as("change"),
      zeroIfNull($"m.change_price").as("changePrice"),
      coalesce($"m.trade_timestamp", $"m.timestamp").as("tradeTimestampMs"),
      coalesce($"m.sequential_id", lit(0L)).as("sequentialId"),
      lit("REALTIME").as("streamType"),
      $"recv_ms".as("receivedTimestampMs"))
      .as[Trade]
  }

  private val hasTradeCode: Column =
    col("m.code").isNotNull && col("m.code") =!= ""
  private val hasTradeTs: Column =
    coalesce(col("m.trade_timestamp"), col("m.timestamp")).isNotNull

  /**
   * Raw JSON frames → typed [[Trade]]s. `raw` needs a string column
   * `jsonCol`; non-trade / unparseable / code-less / timestamp-less
   * frames are dropped (connector semantics — upbit_connector.py:
   * 135-166 returns None rather than raising). `receivedTsMs` is the
   * ingest-time column (the reference stamps now() at receive —
   * protobuf_mapper.py:52-66; batch replay passes the archived value
   * so the chain stays deterministic).
   */
  def parseTrades(raw: DataFrame, jsonCol: String, exchangeName: String,
                  receivedTsMs: Column): Dataset[Trade] =
    tradeProject(
      tradeFrames(raw, jsonCol, receivedTsMs).filter(hasTradeCode && hasTradeTs),
      exchangeName)

  /** Strict face: a 'trade' frame missing `code` or its timestamp
    * FAILS the job with the rule name instead of being dropped — the
    * protobuf mapper's ValueError contract (protobuf_mapper.py:
    * 122-131), same assert-as-data-dependency encoding as
    * [[Ingestion.strictValidated]]. */
  def strictTrades(raw: DataFrame, jsonCol: String, exchangeName: String,
                   receivedTsMs: Column): Dataset[Trade] =
    tradeProject(
      tradeFrames(raw, jsonCol, receivedTsMs).filter(
        assert_true(hasTradeCode,
          lit("'code' is required in trade message")).isNull &&
        assert_true(hasTradeTs,
          lit("'trade_timestamp' or 'timestamp' is required for trade message")).isNull),
      exchangeName)

  private def orderBookFrames(raw: DataFrame, jsonCol: String, receivedTsMs: Column): DataFrame =
    raw.select(from_json(col(jsonCol), OrderBookSchema).as("m"), receivedTsMs.as("recv_ms"))
      .filter(col("m.type") === "orderbook")

  private def orderBookProject(frames: DataFrame, exchangeName: String): Dataset[OrderBookUpdate] = {
    import frames.sparkSession.implicits._
    // One side of a unit is kept only when both its price and size are
    // present (protobuf_mapper.py:186-199).
    def levels(priceField: String, sizeField: String): Column =
      transform(
        filter($"m.orderbook_units",
          u => u(priceField).isNotNull && u(sizeField).isNotNull),
        u => struct(u(priceField).as("price"), u(sizeField).as("size")))
    frames.select(
      lit(normalizedExchange(exchangeName)).as("exchange"),
      $"m.code".as("code"),
      zeroIfNull($"m.total_ask_size").as("totalAskSize"),
      zeroIfNull($"m.total_bid_size").as("totalBidSize"),
      coalesce(levels("ask_price", "ask_size"),
        typedlit(Seq.empty[OrderBookLevel])).as("asks"),
      coalesce(levels("bid_price", "bid_size"),
        typedlit(Seq.empty[OrderBookLevel])).as("bids"),
      lit("REALTIME").as("streamType"),
      coalesce($"m.timestamp", $"m.event_timestamp").as("eventTimestampMs"),
      $"recv_ms".as("receivedTimestampMs"))
      .as[OrderBookUpdate]
  }

  private val hasBookCode: Column =
    col("m.code").isNotNull && col("m.code") =!= ""
  private val hasBookTs: Column =
    coalesce(col("m.timestamp"), col("m.event_timestamp")).isNotNull

  /** Raw JSON frames → typed [[OrderBookUpdate]]s (drop-mode). */
  def parseOrderBooks(raw: DataFrame, jsonCol: String, exchangeName: String,
                      receivedTsMs: Column): Dataset[OrderBookUpdate] =
    orderBookProject(
      orderBookFrames(raw, jsonCol, receivedTsMs).filter(hasBookCode && hasBookTs),
      exchangeName)

  /** Strict face (protobuf_mapper.py:176-184 ValueError contract). */
  def strictOrderBooks(raw: DataFrame, jsonCol: String, exchangeName: String,
                       receivedTsMs: Column): Dataset[OrderBookUpdate] =
    orderBookProject(
      orderBookFrames(raw, jsonCol, receivedTsMs).filter(
        assert_true(hasBookCode,
          lit("'code' is required in orderbook message")).isNull &&
        assert_true(hasBookTs,
          lit("'timestamp' (ms) is required in orderbook message")).isNull),
      exchangeName)
}
