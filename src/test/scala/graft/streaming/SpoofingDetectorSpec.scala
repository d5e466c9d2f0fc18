package graft.streaming

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.SparkSpec
import graft.streaming.SpoofingDetector._

class SpoofingDetectorSpec extends SparkSpec {

  private val t0 = 1700000000000L
  // book of 20 levels of size 5 each (total 100): every level sits at
  // exactly the 5% threshold, which does NOT arm (strictly greater)
  private def flat(ts: Long): Book =
    Book("KRW-BTC", ts, (1 to 20).map(_.toDouble), Seq.fill(20)(5.0))
  private def withLarge(ts: Long, price: Double, size: Double): Book = {
    val b = flat(ts)
    Book(b.code, ts, b.prices :+ price, b.sizes :+ size)
  }

  test("appear-then-vanish large level alerts after the timer") {
    val books = Seq(
      withLarge(t0, 99.0, 50.0),          // arms timer for 99.0 at t0+1500
      flat(t0 + 1000),                    // vanished, but timer not due yet
      flat(t0 + 1600))                    // due + gone => spoof
    val (_, alerts) = fsm.run(Empty, books)
    assert(alerts.map(a => (a.price, a.registered_size, a.armed_at_ms, a.fired_at_ms)) ==
      Seq((99.0, 50.0, t0, t0 + 1600)))
  }

  test("large level that survives its timer is cleared, no alert") {
    val books = Seq(
      withLarge(t0, 99.0, 50.0),
      withLarge(t0 + 1600, 99.0, 50.0), // still present at deadline
      flat(t0 + 1700))                  // vanishing later is fine: timer cleared
    val (s, alerts) = fsm.run(Empty, books)
    assert(alerts.isEmpty && s.armed.isEmpty)
  }

  test("small levels never arm timers") {
    val (s, alerts) = fsm.run(Empty, Seq(flat(t0), flat(t0 + 2000)))
    assert(alerts.isEmpty && s.armed.isEmpty)
  }

  test("re-appearing level does not reset its own timer") {
    val books = Seq(
      withLarge(t0, 99.0, 50.0),
      withLarge(t0 + 1000, 99.0, 50.0), // same level again: keeps t0 deadline
      flat(t0 + 1600))
    val (_, alerts) = fsm.run(Empty, books)
    assert(alerts.map(_.armed_at_ms) == Seq(t0)) // original arming time
  }

  test("stored state round-trips the FSM state") {
    import org.apache.spark.sql.catalyst.encoders.encoderFor
    val enc = encoderFor(fsm.stateEncoder).resolveAndBind()
    assert(enc.schema.simpleString == "struct<armed:binary,verified:binary>")
    assert(enc.schema == org.apache.spark.sql.Encoders.product[StoredState].schema) // nullability too
    val (toRow, fromRow) = (enc.createSerializer(), enc.createDeserializer())
    val s = SpoofState(Map(99.0 -> ((50.0, t0 + 1500)), 3.5 -> ((7.0, t0 + 900))), Set(12.0, 1.0))
    val stored = toRow(s)
    assert(stored.getBinary(0).length == 2 * 24 && stored.getBinary(1).length == 2 * 8)
    assert(fromRow(stored) == s)
    assert(fromRow(toRow(Empty)) == Empty)
  }

  test("batch and streaming faces agree across micro-batches") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val books = Seq(
      withLarge(t0, 99.0, 50.0),
      withLarge(t0 + 200, 88.0, 42.0),
      flat(t0 + 1600),                  // 99.0 due+gone; 88.0 due at +1700
      flat(t0 + 1800))                  // 88.0 due+gone
    val batch = detectBatch(spark.createDataset(books)).collect().sortBy(_.price).toSeq
    val input = MemoryStream[Book]
    val q = detectStream(input.toDS()).writeStream.format("memory")
      .queryName("spoof_stream").outputMode("append").start()
    try {
      input.addData(books.take(2)); q.processAllAvailable()
      input.addData(books.drop(2)); q.processAllAvailable()
      val streamed = spark.table("spoof_stream").as[SpoofAlert]
        .collect().sortBy(_.price).toSeq
      assert(streamed == batch)
      assert(batch.map(_.price) == Seq(88.0, 99.0))
    } finally q.stop()
  }

  test("stream orders tied books as the batch replay does") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    // two books of one market at one ts, each with a large level at
    // 99.0: the first in (ts, prices, sizes) order fixes its size
    val books = Seq(withLarge(t0, 99.0, 60.0), withLarge(t0, 99.0, 50.0), flat(t0 + 1600))
    val batch = detectBatch(spark.createDataset(books)).collect().toSeq
    assert(batch.map(_.registered_size) == Seq(50.0))
    val input = MemoryStream[Book]
    val q = detectStream(input.toDS()).writeStream.format("memory")
      .queryName("spoof_tied").outputMode("append").start()
    try {
      input.addData(books.take(2)); q.processAllAvailable()
      input.addData(books.drop(2)); q.processAllAvailable()
      assert(spark.table("spoof_tied").as[SpoofAlert].collect().toSeq == batch)
    } finally q.stop()
  }
}
