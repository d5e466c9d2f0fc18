package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.core.ProtoCodec
import graft.core.Model.OrderBookLevel

/**
 * Wire-fixture ingestion spec: the literal Upbit JSON payloads the
 * reference asserts field-by-field (reference: tests/.../serialization/
 * test_protobuf_mapper.py:20-104) driven through the column-level
 * parse chain, plus the connector's drop-mode dispatch rules
 * (upbit_connector.py:135-166).
 */
class UpbitWireSpec extends SparkSpec {

  /** Fixture of test_protobuf_mapper.py:20-31 (verbatim fields). */
  private val tradeJson =
    """{"type":"trade","code":"KRW-BTC","trade_price":50000000.0,
      |"trade_volume":0.01,"ask_bid":"BID","prev_closing_price":49500000.0,
      |"change":"RISE","change_price":500000.0,
      |"trade_timestamp":1730200000123,"sequential_id":1234567890}""".stripMargin.replace("\n", "")

  /** Fixture of test_protobuf_mapper.py:57-67 (verbatim fields). */
  private val orderBookJson =
    """{"type":"orderbook","code":"KRW-ETH","total_ask_size":123.45,
      |"total_bid_size":234.56,"orderbook_units":[
      |{"ask_price":4000000.0,"ask_size":1.1,"bid_price":3999000.0,"bid_size":2.2},
      |{"ask_price":4001000.0,"ask_size":1.0,"bid_price":3998000.0,"bid_size":2.0}],
      |"timestamp":1730201111222}""".stripMargin.replace("\n", "")

  private val RecvMs = 1730300000000L

  private def frames(rows: String*) = {
    import spark.implicits._
    rows.toDF("value")
  }

  test("trade fixture parses field-by-field (test_protobuf_mapper.py:18-51)") {
    val t = UpbitWire.parseTrades(frames(tradeJson), "value", "upbit", lit(RecvMs)).head()
    assert(t.code === "KRW-BTC")
    assert(t.exchange === "UPBIT") // lowercase input normalized
    assert(t.tradePrice === 50000000.0)
    assert(t.tradeVolume === 0.01)
    assert(t.askBid === "BID")
    assert(t.prevClosingPrice === 49500000.0)
    assert(t.change === "RISE")
    assert(t.changePrice === 500000.0)
    assert(t.tradeTimestampMs === 1730200000123L)
    assert(ProtoCodec.splitMillis(t.tradeTimestampMs) === ((1730200000L, 123000000)))
    assert(t.sequentialId === 1234567890L)
    assert(t.streamType === "REALTIME")
    assert(t.receivedTimestampMs > 0L)
  }

  test("orderbook fixture parses with split ask/bid levels (test_protobuf_mapper.py:55-86)") {
    val o = UpbitWire.parseOrderBooks(frames(orderBookJson), "value", "UPBIT", lit(RecvMs)).head()
    assert(o.code === "KRW-ETH")
    assert(o.exchange === "UPBIT")
    assert(o.totalAskSize === 123.45)
    assert(o.totalBidSize === 234.56)
    assert(o.asks.length === 2)
    assert(o.bids.length === 2)
    assert(o.asks.head === OrderBookLevel(4000000.0, 1.1))
    assert(o.bids.head === OrderBookLevel(3999000.0, 2.2))
    assert(o.asks(1) === OrderBookLevel(4001000.0, 1.0))
    assert(o.bids(1) === OrderBookLevel(3998000.0, 2.0))
    assert(o.eventTimestampMs === 1730201111222L)
    assert(ProtoCodec.splitMillis(o.eventTimestampMs) === ((1730201111L, 222000000)))
    assert(o.streamType === "REALTIME")
    assert(o.receivedTimestampMs > 0L)
  }

  test("trade timestamp falls back to generic 'timestamp' (upbit_connector.py:196)") {
    val json = """{"type":"trade","code":"KRW-XRP","trade_price":1.0,"timestamp":1730200005000}"""
    val t = UpbitWire.parseTrades(frames(json), "value", "upbit", lit(RecvMs)).head()
    assert(t.tradeTimestampMs === 1730200005000L)
    // absent numerics → proto3 zero (protobuf_mapper.py:136-146)
    assert(t.tradeVolume === 0.0)
    assert(t.sequentialId === 0L)
    assert(t.askBid === "") // absent enum → unset
  }

  test("dispatch drops non-subscribed types and cross-type frames (upbit_connector.py:148-151)") {
    val ticker = """{"type":"ticker","code":"KRW-BTC","timestamp":1}"""
    val df = frames(tradeJson, orderBookJson, ticker)
    assert(UpbitWire.parseTrades(df, "value", "upbit", lit(RecvMs)).count() === 1L)
    assert(UpbitWire.parseOrderBooks(df, "value", "upbit", lit(RecvMs)).count() === 1L)
  }

  test("drop-mode: frames missing code or timestamp are dropped, not failed (upbit_connector.py:135-166)") {
    val noCode = """{"type":"trade","trade_timestamp":1}"""
    val noTs = """{"type":"trade","code":"KRW-BTC"}"""
    val garbage = """not json at all"""
    val df = frames(noCode, noTs, garbage, tradeJson)
    assert(UpbitWire.parseTrades(df, "value", "upbit", lit(RecvMs)).count() === 1L)
  }

  test("strict mode: missing code raises (test_protobuf_mapper.py:90-92)") {
    val e = intercept[Exception] {
      UpbitWire.strictTrades(frames("""{"type":"trade","trade_timestamp":1}"""),
        "value", "upbit", lit(RecvMs)).collect()
    }
    assert(e.getMessage.contains("'code' is required in trade message"))
  }

  test("strict mode: missing timestamp raises (test_protobuf_mapper.py:94-96)") {
    val e = intercept[Exception] {
      UpbitWire.strictTrades(frames("""{"type":"trade","code":"KRW-BTC"}"""),
        "value", "upbit", lit(RecvMs)).collect()
    }
    assert(e.getMessage.contains("'trade_timestamp' or 'timestamp' is required"))
  }

  test("strict mode: orderbook missing code / timestamp raises (test_protobuf_mapper.py:98-104)") {
    val e1 = intercept[Exception] {
      UpbitWire.strictOrderBooks(frames("""{"type":"orderbook","timestamp":1}"""),
        "value", "upbit", lit(RecvMs)).collect()
    }
    assert(e1.getMessage.contains("'code' is required in orderbook message"))
    val e2 = intercept[Exception] {
      UpbitWire.strictOrderBooks(frames("""{"type":"orderbook","code":"KRW-BTC"}"""),
        "value", "upbit", lit(RecvMs)).collect()
    }
    assert(e2.getMessage.contains("'timestamp' (ms) is required"))
  }

  test("enum normalization: case-insensitive valid names; unknown → unset (protobuf_mapper.py:85-101)") {
    val json =
      """{"type":"trade","code":"KRW-BTC","ask_bid":"bid","change":"weird","trade_timestamp":1}"""
    val t = UpbitWire.parseTrades(frames(json), "value", "Binance", lit(RecvMs)).head()
    assert(t.askBid === "BID")
    assert(t.change === "")
    assert(t.exchange === "") // unknown exchange → UNSPECIFIED
  }

  test("enum normalization: padded, lower-case, non-ASCII case folds and unknown names") {
    def trade(askBid: String, change: String) =
      s"""{"type":"trade","code":"KRW-BTC","ask_bid":"$askBid","change":"$change","trade_timestamp":1}"""
    val cases = Seq(
      ("ASK", "RISE") -> ("ASK", "RISE"),
      ("  BID ", " EVEN") -> ("BID", "EVEN"),
      ("ask", "fall") -> ("ASK", "FALL"),
      (" Bid  ", "Rise ") -> ("BID", "RISE"),
      ("aſk", "riſe") -> ("ASK", "RISE"),   // long s upper-cases to S
      ("bıd", "EVEN") -> ("BID", "EVEN"),   // dotless i upper-cases to I
      ("ASKS", "RISING") -> ("", ""),
      ("", " ") -> ("", ""),
      ("a sk", "é") -> ("", ""))
    val got = UpbitWire.parseTrades(frames(cases.map { case ((a, c), _) => trade(a, c) }: _*),
      "value", "UPBIT", lit(RecvMs)).collect().map(t => (t.askBid, t.change)).toSeq
    assert(got == cases.map(_._2))
  }

  test("a level side is kept only when both price and size are present (protobuf_mapper.py:186-199)") {
    val json =
      """{"type":"orderbook","code":"KRW-ETH","orderbook_units":[
        |{"ask_price":4000000.0,"ask_size":1.1,"bid_price":3999000.0},
        |{"bid_price":3998000.0,"bid_size":2.0}],
        |"timestamp":1730201111222}""".stripMargin.replace("\n", "")
    val o = UpbitWire.parseOrderBooks(frames(json), "value", "upbit", lit(RecvMs)).head()
    assert(o.asks === Seq(OrderBookLevel(4000000.0, 1.1)))
    assert(o.bids === Seq(OrderBookLevel(3998000.0, 2.0)))
  }

  test("parsed fixtures survive the Kafka value path: proto encode → decode round-trip") {
    val trades = UpbitWire.parseTrades(frames(tradeJson), "value", "upbit", lit(RecvMs))
    val records = graft.streaming.Streams.tradeProtoRecords(trades).collect()
    assert(records.length === 1)
    val row = records.head
    assert(row.getString(0) === "KRW-BTC") // key = market code
    val decoded = ProtoCodec.decodeTrade(row.getAs[Array[Byte]](1))
    assert(decoded === trades.head())

    val books = UpbitWire.parseOrderBooks(frames(orderBookJson), "value", "upbit", lit(RecvMs))
    val bookRecords = graft.streaming.Streams.orderBookProtoRecords(books).collect()
    val bookDecoded = ProtoCodec.decodeOrderBook(bookRecords.head.getAs[Array[Byte]](1))
    assert(bookDecoded === books.head())

    // and the source-side typed decode reads its own sink's records
    val viaSource = graft.streaming.Streams.tradesFromProtoRecords(
      graft.streaming.Streams.tradeProtoRecords(trades)).head()
    assert(viaSource === trades.head())
    val bookViaSource = graft.streaming.Streams.orderBooksFromProtoRecords(
      graft.streaming.Streams.orderBookProtoRecords(books)).head()
    assert(bookViaSource === books.head())
  }
}
