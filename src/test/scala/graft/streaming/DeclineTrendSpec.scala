package graft.streaming

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.SparkSpec
import graft.streaming.DeclineTrend._

/** The decline-trend FSM (arch doc:642-647: fire on the second
  * consecutive window-over-window drop) — pure-step cases plus the
  * chained one-query topology (windowed agg → keyed FSM). */
class DeclineTrendSpec extends SparkSpec {

  test("pure FSM: fires on the 2nd consecutive drop, not the 1st, re-arms after a rise") {
    // 100, 90 (1st drop), 80 (2nd -> fire), 85 (rise), 70 (1st), 60 (2nd -> fire)
    val (_, trigs) = fsm.run(Start,
      Iterator((0L, 100.0), (1L, 90.0), (2L, 80.0), (3L, 85.0), (4L, 70.0), (5L, 60.0))
        .map { case (w, t) => WindowTotal("k", w, t) })
    assert(trigs.map(t => (t.day_s, t.day_total)) == Seq((2L, 80.0), (5L, 60.0)))
    assert(trigs.forall(_.declines_in_row == 2L))
  }

  test("pure FSM: a continuing slide fires on every window after the 2nd") {
    val (_, trigs) = fsm.run(Start,
      Iterator((0L, 100.0), (1L, 90.0), (2L, 80.0), (3L, 70.0), (4L, 60.0))
        .map { case (w, t) => WindowTotal("k", w, t) })
    assert(trigs.map(_.day_s) == Seq(2L, 3L, 4L))
  }

  test("pure FSM: equal totals break the streak (a plateau is not a decline)") {
    val (_, trigs) = fsm.run(Start,
      Iterator((0L, 100.0), (1L, 90.0), (2L, 90.0), (3L, 80.0))
        .map { case (w, t) => WindowTotal("k", w, t) })
    assert(trigs.isEmpty) // drop, plateau, drop — never two in a row
  }

  test("chained one-query topology: windowed agg feeds the FSM, state carries across batches") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val day = 86400000L
    val input = MemoryStream[(Long, String, Double)]
    val q = chainedDeclineTrend(input.toDS())
      .writeStream.format("memory").queryName("chained_trend")
      .outputMode("append").start()
    try {
      // one event per day, declining totals: 100, 90, 80, 70, 60
      for (batch <- 0 until 5) {
        input.addData((batch * day + 1, "k", 100.0 - batch * 10))
        q.processAllAvailable()
      }
      // advance the watermark far enough to close the last window
      input.addData((10 * day, "k", 1.0))
      q.processAllAvailable()
      val got = spark.table("chained_trend")
        .as[Trigger].collect().toSeq.sortBy(_.day_s)
      assert(got.map(t => (t.day_s, t.day_total, t.prev_total)) ==
        Seq((2 * day / 1000, 80.0, 90.0), (3 * day / 1000, 70.0, 80.0), (4 * day / 1000, 60.0, 70.0)))
    } finally q.stop()
  }
}
