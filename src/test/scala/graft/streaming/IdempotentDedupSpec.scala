package graft.streaming

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.SparkSpec
import graft.streaming.IdempotentDedup._

class IdempotentDedupSpec extends SparkSpec {

  private def row(id: String, ts: Long) = SignalRow(id, "KRW-BTC", ts, 1.0)

  test("duplicates dropped within and across micro-batches; first-by-event-time wins") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = MemoryStream[SignalRow]
    val q = dedupStream(input.toDS())
      .writeStream.format("memory").queryName("dedup_stream")
      .outputMode("append").start()
    try {
      input.addData(Seq(row("sig-a", 2L), row("sig-a", 1L), row("sig-b", 3L)))
      q.processAllAvailable()
      input.addData(Seq(row("sig-a", 4L), row("sig-c", 5L))) // replay across batches
      q.processAllAvailable()
      val got = spark.table("dedup_stream").as[SignalRow]
        .collect().map(r => (r.signal_id, r.ts_ms)).sorted.toSeq
      assert(got == Seq(("sig-a", 1L), ("sig-b", 3L), ("sig-c", 5L)))
    } finally q.stop()
  }

  test("an id re-admits after the event-time TTL lapses") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = MemoryStream[SignalRow]
    val q = dedupStream(input.toDS(), ttlMs = 1000L)
      .writeStream.format("memory").queryName("dedup_ttl")
      .outputMode("append").start()
    try {
      input.addData(Seq(row("sig-x", 1000L)))
      q.processAllAvailable()
      input.addData(Seq(row("sig-x", 1500L))) // within TTL: dropped
      q.processAllAvailable()
      input.addData(Seq(row("sig-x", 2500L))) // past TTL: re-admitted
      q.processAllAvailable()
      val got = spark.table("dedup_ttl").as[SignalRow]
        .collect().map(_.ts_ms).sorted.toSeq
      assert(got == Seq(1000L, 2500L))
    } finally q.stop()
  }

  test("output is micro-batch-boundary-free: one big batch spanning many TTL windows equals per-row batches") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    // 1000, 1500 (dup), 2500 (re-admit, resets firstSeen), 3000 (dup of
    // 2500's window), 3600 (re-admit vs 2500), 5000 (re-admit vs 3600)
    val rows = Seq(1000L, 1500L, 2500L, 3000L, 3600L, 5000L).map(row("sig-x", _))
    val expected = Seq(1000L, 2500L, 3600L, 5000L)

    def run(name: String)(feed: (MemoryStream[SignalRow], org.apache.spark.sql.streaming.StreamingQuery) => Unit): Seq[Long] = {
      val input = MemoryStream[SignalRow]
      val q = dedupStream(input.toDS(), ttlMs = 1000L)
        .writeStream.format("memory").queryName(name).outputMode("append").start()
      try {
        feed(input, q)
        q.processAllAvailable()
        spark.table(name).as[SignalRow].collect().map(_.ts_ms).sorted.toSeq
      } finally q.stop()
    }

    val oneBatch = run("dedup_one_batch")((in, _) => in.addData(rows))
    val perRow = run("dedup_per_row") { (in, q) =>
      rows.foreach { r => in.addData(Seq(r)); q.processAllAvailable() }
    }
    assert(oneBatch == expected)
    assert(perRow == expected)
  }

  test("replay equivalence property: any consecutive micro-batch split of the same rows emits the same signals") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    // Seeded random stream: 3 ids, gaps straddling the TTL both ways,
    // occasional equal timestamps. The property: how the stream is cut
    // into micro-batches (the one thing a replay never controls) must
    // not change what survives dedup. Cuts are random; within-batch
    // arrival order is shuffled (the operator sorts per batch); batches
    // respect global event-time order, as any watermarked source does.
    val rnd = new scala.util.Random(42)
    val ids = Vector("sig-a", "sig-b", "sig-c")
    var ts = 1000L
    val rows = (1 to 60).map { _ =>
      ts += (if (rnd.nextBoolean()) rnd.nextInt(900) else 900 + rnd.nextInt(1500)).toLong
      SignalRow(ids(rnd.nextInt(ids.size)), "KRW-BTC", ts, rnd.nextInt(5).toDouble)
    }

    def run(name: String, batches: Seq[Seq[SignalRow]]): Seq[(String, Long, Double)] = {
      val input = MemoryStream[SignalRow]
      val q = dedupStream(input.toDS(), ttlMs = 1000L)
        .writeStream.format("memory").queryName(name).outputMode("append").start()
      try {
        batches.foreach { b => input.addData(b); q.processAllAvailable() }
        spark.table(name).as[SignalRow]
          .collect().map(r => (r.signal_id, r.ts_ms, r.value)).sorted.toSeq
      } finally q.stop()
    }

    val expected = run("dedup_prop_ref", Seq(rows))
    assert(expected.nonEmpty && expected.size < rows.size) // both paths exercised
    (1 to 3).foreach { i =>
      val batches = rows.foldLeft(Vector(Vector.empty[SignalRow])) { (acc, r) =>
        if (acc.last.nonEmpty && rnd.nextDouble() < 0.3)
          acc :+ Vector(r)
        else acc.init :+ (acc.last :+ r)
      }.filter(_.nonEmpty).map(b => rnd.shuffle(b))
      assert(batches.size > 3, s"split $i degenerate")
      assert(run(s"dedup_prop_$i", batches) == expected,
        s"split $i (${batches.size} batches) diverged from the one-batch replay")
    }
  }

  test("native dropDuplicatesWithinWatermark: engine-managed dedup state on the default store") {
    // the built-in declarative variant: no user state code, default store
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = MemoryStream[SignalRow]
    val q = IdempotentDedup.dedupStreamNative(input.toDS(), delay = "30 seconds")
      .writeStream.format("memory").queryName("native_wm_dedup")
      .outputMode("append").start()
    try {
      input.addData(Seq(
        SignalRow("sig-a", "KRW-BTC", 1000L, 1.0),
        SignalRow("sig-b", "KRW-BTC", 2000L, 2.0)))
      q.processAllAvailable()
      // same ids again, later event times, a later batch: dropped
      input.addData(Seq(
        SignalRow("sig-a", "KRW-BTC", 5000L, 9.0),
        SignalRow("sig-c", "KRW-BTC", 6000L, 3.0)))
      q.processAllAvailable()
      val got = spark.table("native_wm_dedup").as[SignalRow]
        .collect().map(r => (r.signal_id, r.ts_ms)).sorted.toSeq
      assert(got == Seq(("sig-a", 1000L), ("sig-b", 2000L), ("sig-c", 6000L)),
        "first arrival wins; within-delay duplicates never emit")
    } finally q.stop()
  }
}
