package graft.streaming

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.SparkSpec
import graft.streaming.PositionTracker._

/** Scenario tests for the 4-stream position-tracking FSM (reference:
  * arch doc:677-894, CEP doc:179-226, 추후 과제.md:59-219). Each test is
  * one documented guard. */
class PositionTrackerSpec extends SparkSpec {

  private val t0 = 1700000000000L
  private def buy(ts: Long, seq: Long = 0, id: String = "") =
    Command("KRW-BTC", ts, seq, Signal, "BUY", "PWAVE", id, "", 100.0)
  private def sell(ts: Long, seq: Long = 0, id: String = "") =
    Command("KRW-BTC", ts, seq, Signal, "SELL", "PWAVE", id, "", 110.0)
  private def fb(ts: Long, id: String, status: String, seq: Long = 0) =
    Command("KRW-BTC", ts, seq, Feedback, "", "PWAVE", id, status, 0.0)
  private def actions(evs: Seq[PositionEvent]): Seq[String] = evs.map(_.action)

  test("happy path: buy -> open -> sell -> close, with TTL cooldown after close") {
    val (s1, e1) = step(EmptyState, buy(t0, 1, "sig-1"))
    assert(actions(e1) == Seq("PENDING_OPEN"))
    val (s2, e2) = step(s1, fb(t0 + 100, "sig-1", "SUCCESS", 2))
    assert(actions(e2) == Seq("OPENED"))
    assert(s2.active("PWAVE").status == "OPEN")
    val (s3, e3) = step(s2, sell(t0 + 200, 3, "sig-2"))
    assert(actions(e3) == Seq("PENDING_CLOSE"))
    val (s4, e4) = step(s3, fb(t0 + 300, "sig-2", "SUCCESS", 4))
    assert(actions(e4) == Seq("CLOSED"))
    assert(s4.active.isEmpty && s4.recentlyRemoved.contains("PWAVE"))
    // re-entry within TTL rejected; after TTL accepted
    val (_, e5) = step(s4, buy(t0 + 300 + TtlMs - 1, 5, "sig-3"))
    assert(actions(e5) == Seq("REJECTED_RECENT_REMOVAL"))
    val (_, e6) = step(s4, buy(t0 + 300 + TtlMs, 6, "sig-3"))
    assert(actions(e6) == Seq("PENDING_OPEN"))
  }

  test("duplicate buy for an active reason is rejected") {
    val (s1, _) = step(EmptyState, buy(t0, 1, "sig-1"))
    val (_, e) = step(s1, buy(t0 + 10, 2, "sig-dup"))
    assert(actions(e) == Seq("REJECTED_DUP_ACTIVE"))
  }

  test("stale feedback guard (T10): unmatched signal id never removes the position") {
    val (s1, _) = fsm.run(EmptyState, Iterator(buy(t0, 1, "sig-1"), fb(t0 + 100, "sig-1", "SUCCESS", 2)))
    val (s2, e) = step(s1, fb(t0 + 200, "sig-OLD", "FAILED", 3))
    assert(actions(e) == Seq("IGNORED_STALE_FEEDBACK"))
    assert(s2.active("PWAVE").status == "OPEN") // untouched
  }

  test("matched FAILED feedback removes a pending-open position (+TTL)") {
    val (s1, _) = step(EmptyState, buy(t0, 1, "sig-1"))
    val (s2, e) = step(s1, fb(t0 + 100, "sig-1", "FAILED", 2))
    assert(actions(e) == Seq("REMOVED_FAILED"))
    assert(s2.active.isEmpty && s2.recentlyRemoved.contains("PWAVE"))
  }

  test("failed exit re-opens the position (still held on the exchange)") {
    val (s1, _) = fsm.run(EmptyState, Iterator(
      buy(t0, 1, "sig-1"), fb(t0 + 100, "sig-1", "SUCCESS", 2), sell(t0 + 200, 3, "sig-2")))
    val (s2, e) = step(s1, fb(t0 + 300, "sig-2", "TIMEOUT", 4))
    assert(actions(e) == Seq("CLOSE_FAILED_REOPENED"))
    assert(s2.active("PWAVE").status == "OPEN" && s2.active("PWAVE").pendingExitId == "")
  }

  test("3-tier restore defense (T11): TTL, active, and staleness rejections") {
    // tier 1: recently removed
    val (s1, _) = fsm.run(EmptyState, Iterator(buy(t0, 1, "sig-1"), fb(t0 + 100, "sig-1", "FAILED", 2)))
    val r1 = Command("KRW-BTC", t0 + 200, t0 + 200, Restore, "", "PWAVE", "sig-r", "", 100.0)
    assert(actions(step(s1, r1)._2) == Seq("REJECTED_RESTORE_TTL"))
    // tier 2: active position exists
    val (s2, _) = step(EmptyState, buy(t0, 1, "sig-1"))
    assert(actions(step(s2, r1.copy(ts_ms = t0 + 200))._2) == Seq("REJECTED_RESTORE_ACTIVE"))
    // tier 3: command older than RestoreMaxAgeMs (seq carries issue time)
    val stale = Command("KRW-BTC", t0 + RestoreMaxAgeMs + 1000, t0, Restore, "", "PWAVE", "sig-r", "", 100.0)
    assert(actions(step(EmptyState, stale)._2) == Seq("REJECTED_RESTORE_STALE"))
    // all guards pass -> restored OPEN
    val fresh = Command("KRW-BTC", t0 + 1000, t0 + 500, Restore, "", "PWAVE", "sig-r", "", 100.0)
    val (s3, e3) = step(EmptyState, fresh)
    assert(actions(e3) == Seq("RESTORED") && s3.active("PWAVE").status == "OPEN")
  }

  test("pending timeout (T12): stuck PENDING_OPEN abandoned, stuck PENDING_CLOSE reverts") {
    val (s1, _) = step(EmptyState, buy(t0, 1, "sig-1"))
    // any later command first sweeps the stale pending
    val (s2, e2) = step(s1, buy(t0 + PendingTimeoutMs + 1, 2, "sig-2"))
    assert(actions(e2).take(1) == Seq("PENDING_OPEN_TIMEOUT"))
    // after the sweep the reason is in TTL cooldown, so the buy is rejected
    assert(actions(e2).last == "REJECTED_RECENT_REMOVAL")
    assert(s2.active.isEmpty)
    val (s3, _) = fsm.run(EmptyState, Iterator(
      buy(t0, 1, "sig-1"), fb(t0 + 10, "sig-1", "SUCCESS", 2), sell(t0 + 20, 3, "sig-2")))
    val (s4, e4) = step(s3, fb(t0 + 20 + PendingTimeoutMs + 1, "sig-OLD", "SUCCESS", 4))
    assert(actions(e4).head == "PENDING_CLOSE_TIMEOUT")
    assert(s4.active("PWAVE").status == "OPEN")
  }

  test("clear removes unconditionally and arms the TTL") {
    val (s1, _) = fsm.run(EmptyState, Iterator(buy(t0, 1, "sig-1"), fb(t0 + 100, "sig-1", "SUCCESS", 2)))
    val (s2, e) = step(s1, Command("KRW-BTC", t0 + 200, 3, Clear, "", "PWAVE", "", "", 0.0))
    assert(actions(e) == Seq("CLEARED"))
    assert(s2.active.isEmpty && s2.recentlyRemoved.contains("PWAVE"))
  }

  test("batch and streaming faces agree on a mixed multi-key scenario") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val cmds = Seq(
      buy(t0, 1, "sig-1"),
      fb(t0 + 100, "sig-1", "SUCCESS", 2),
      buy(t0 + 150, 3, "sig-x").copy(code = "KRW-ETH"),
      sell(t0 + 200, 4, "sig-2"),
      fb(t0 + 300, "sig-2", "SUCCESS", 5),
      buy(t0 + 400, 6, "sig-3"), // within TTL of the close -> rejected
      Command("KRW-ETH", t0 + 350, 7, Feedback, "", "PWAVE", "sig-x", "FAILED", 0.0))
    val batch = trackBatch(spark.createDataset(cmds))
      .collect().sortBy(e => (e.code, e.ts_ms, e.seq)).toSeq
    val input = MemoryStream[Command]
    val q = trackStream(input.toDS()).writeStream.format("memory")
      .queryName("pos_stream").outputMode("append").start()
    try {
      input.addData(cmds.take(4)); q.processAllAvailable()
      input.addData(cmds.drop(4)); q.processAllAvailable()
      val streamed = spark.table("pos_stream").as[PositionEvent]
        .collect().sortBy(e => (e.code, e.ts_ms, e.seq)).toSeq
      assert(streamed == batch)
      assert(batch.map(_.action).contains("REJECTED_RECENT_REMOVAL"))
    } finally q.stop()
  }

  test("events-table replay runs and is deterministic") {
    val a = qPositionEvents(spark, graft.SparkSpec.Sf0001).collect().toSeq
    val b = qPositionEvents(spark, graft.SparkSpec.Sf0001).collect().toSeq
    assert(a == b && a.nonEmpty)
  }
}
