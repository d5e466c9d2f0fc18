package graft.streaming

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.SparkSpec
import graft.core.Model.{Alert, FraudState, Transaction}
import graft.streaming.FraudDetection._

/** Golden-output tests for the flagship stateful operator (reference:
  * fraud_detector.py; pinned alerts docs/fraud_detection_guide.md:85-100:
  * accounts 3, 4, 3 at $600 / $500 / $999). */
class FraudDetectionSpec extends SparkSpec {

  private val base = 1609459200000L

  test("pure FSM: canonical input produces exactly the three golden alerts") {
    val byKey = canonicalTransactions.groupBy(_.accountId)
    val alerts = byKey.toSeq.flatMap { case (acct, txns) =>
      fsm.run(Empty, txns.sortBy(_.timestamp))._2
    }.sortBy(_.timestamp)
    assert(alerts.map(a => (a.accountId, a.amount)) ==
      Seq((3L, 600.00), (4L, 500.00), (3L, 999.00)))
  }

  test("pure FSM: flag expires at exactly +60s (timer boundary)") {
    // small at t0; large at t0+59999 -> alert; at t0+60000 -> no alert
    val (_, hit) = fsm.run(Empty, Seq(Transaction(1L, base, 0.5), Transaction(1L, base + 59999, 600.0)))
    assert(hit.map(_.amount) == Seq(600.0))
    val (_, miss) = fsm.run(Empty, Seq(Transaction(1L, base, 0.5), Transaction(1L, base + 60000, 600.0)))
    assert(miss.isEmpty)
  }

  test("pure FSM: alert consumes the flag; medium txns don't disturb it") {
    // small, medium, large -> one alert; immediately another large -> none
    val (_, alerts) = fsm.run(Empty, Seq(Transaction(1L, base, 0.5), Transaction(1L, base + 1000, 100.0),
      Transaction(1L, base + 2000, 700.0), Transaction(1L, base + 3000, 800.0)))
    assert(alerts.map(_.amount) == Seq(700.0))
  }

  test("pure FSM: a new small txn refreshes the timer") {
    val (_, alerts) = fsm.run(Empty,
      Seq(Transaction(1L, base, 0.5), Transaction(1L, base + 50000, 0.9), Transaction(1L, base + 100000, 600.0)))
    assert(alerts.map(_.amount) == Seq(600.0)) // 50s after refresh, within window
  }

  test("detectBatch reproduces the golden alerts on the canonical input") {
    import spark.implicits._
    val alerts = detectBatch(spark.createDataset(canonicalTransactions))
      .collect().sortBy(_.timestamp)
    assert(alerts.map(a => (a.accountId, a.amount)).toSeq ==
      Seq((3L, 600.00), (4L, 500.00), (3L, 999.00)))
    assert(alerts.forall(_.message.startsWith("FRAUD")))
  }

  test("detectStream: golden alerts arrive across micro-batches with state carry-over") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = MemoryStream[Transaction]
    val q = detectStream(input.toDS())
      .writeStream.format("memory").queryName("fraud_alerts")
      .outputMode("append").start()
    try {
      // batch 1: everything before t+120s (leaves account 3's second
      // small txn pending in the state store)
      input.addData(canonicalTransactions.filter(_.timestamp < base + 120000))
      q.processAllAvailable()
      // batch 2: the final large txn — state crossed the batch boundary
      input.addData(canonicalTransactions.filter(_.timestamp >= base + 120000))
      q.processAllAvailable()
      val alerts = spark.table("fraud_alerts").as[Alert]
        .collect().sortBy(_.timestamp)
      assert(alerts.map(a => (a.accountId, a.amount)).toSeq ==
        Seq((3L, 600.00), (4L, 500.00), (3L, 999.00)))
    } finally q.stop()
  }

  test("detectStream: watermark-expired flag does not alert in a later batch") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = MemoryStream[Transaction]
    val q = detectStream(input.toDS())
      .writeStream.format("memory").queryName("fraud_alerts_exp")
      .outputMode("append").start()
    try {
      input.addData(Seq(Transaction(7, base, 0.5)))
      q.processAllAvailable()
      // another key advances the watermark far past 7's timer
      input.addData(Seq(Transaction(8, base + 300000, 50.0)))
      q.processAllAvailable()
      input.addData(Seq(Transaction(7, base + 310000, 900.0)))
      q.processAllAvailable()
      assert(spark.table("fraud_alerts_exp").isEmpty)
    } finally q.stop()
  }

  test("step: state transitions are exactly the reference's") {
    // small sets flag+timer
    assert(step(Empty, 1, base, 0.5)._1 == FraudState(smallSeen = true, base + 60000))
    // large without flag: no alert, stays empty
    assert(step(Empty, 1, base, 900.0) == ((Empty, None)))
    // large with flag: alert + reset
    val armed = FraudState(smallSeen = true, base + 60000)
    val (s2, alert) = step(armed, 1, base + 1000, 900.0)
    assert(s2 == Empty && alert.exists(_.amount == 900.0))
  }
}
