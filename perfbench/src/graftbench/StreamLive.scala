package graftbench

import java.nio.file.{Files, Paths, StandardCopyOption}
import java.nio.file.attribute.FileTime
import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions.lit
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener, StreamingQueryProgress}

import graft.core.Model.{Alert, OrderBookUpdate, Trade, Transaction}
import graft.operators.UpbitWire
import graft.streaming.{FraudDetection, SpoofingDetector, Streams, WireIngest}

/** `stream_live`: an open-loop live feed. One generator thread moves
  * pre-rendered JSON-lines files into a watched directory on a fixed
  * schedule; three streaming queries (fraud FSM, spoofing FSM, idempotent
  * trade store) consume it through the file source. Every event is timed
  * from its file's scheduled emission to the commit of the batch that
  * processed it, once per query (each query emits one of its results). */
object StreamLive {
  import Main._

  final case class Drop(name: String, phase: String, lines: Long, var schedMs: Double = 0,
                        var actualMs: Double = 0)

  /** One fixed-rate phase. `traced` phases record spans and engine
    * metrics; `ladder` phases are the steps of the sustained-rate ladder. */
  final case class Phase(name: String, intervalMs: Double, rate: Double, traced: Boolean,
                         ladder: Boolean, files: Vector[Drop])

  final case class Batch(query: String, queryId: String, batchId: Long, rows: Long,
                         startMs: Double, endMs: Double, p: StreamingQueryProgress)

  def account(code: String): Long = code.hashCode.toLong

  def toTxn(t: Trade): Transaction = Transaction(account(t.code), t.tradeTimestampMs, t.tradePrice)

  def toBook(b: OrderBookUpdate): SpoofingDetector.Book =
    SpoofingDetector.Book(b.code, b.eventTimestampMs, b.asks.map(_.price), b.asks.map(_.size))

  /** The ingest chain shared by the live queries and their batch twins:
    * wire JSON → parse/validate → proto encode → decode. */
  def trades(raw: DataFrame): Dataset[Trade] =
    Streams.tradesFromProtoRecords(Streams.tradeProtoRecords(
      UpbitWire.parseTrades(raw, "value", "Upbit", lit(0L))))

  def books(raw: DataFrame): Dataset[OrderBookUpdate] =
    Streams.orderBooksFromProtoRecords(Streams.orderBookProtoRecords(
      UpbitWire.parseOrderBooks(raw, "value", "Upbit", lit(0L))))

  val StreamOnly = Seq("stream.plan_ms", "stream.commit_ms", "stream.source_ms", "state.commit_ms",
    "stream.add_batch_ms", "stream.rows_per_batch", "state.rows_total", "state.bytes",
    "state.rows_updated", "state.rows_removed", "stream.backlog_events", "gen.late_ms",
    "stream.sustained_eps")

  def run(ctx: Ctx): Unit = {
    val spark = ctx.spark
    import spark.implicits._
    val cfg = ctx.cfg
    val tr = ctx.tracer
    val feed = cfg.get("feed_dir").asText()
    val watch = s"${ctx.runDir}/watch"
    val store = s"${ctx.runDir}/store"
    val ckpt = s"${ctx.runDir}/ckpt"
    Files.createDirectories(Paths.get(watch))
    val limitMs = cfg.get("latency_limit_ms").asDouble()
    val phases = cfg.get("phases").asScala.toSeq.map { p =>
      val name = p.get("name").asText()
      Phase(name, p.get("interval_ms").asDouble(), p.get("rate").asDouble(),
        p.get("traced").asBoolean(), p.get("ladder").asBoolean(),
        p.get("files").asScala.map(f => Drop(f.get("name").asText(), name, f.get("lines").asLong())).toVector)
    }

    val progress = new ConcurrentLinkedQueue[StreamingQueryProgress]()
    spark.streams.addListener(new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
        progress.add(e.progress)
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    })

    val fraudOut = new ConcurrentLinkedQueue[Alert]()
    val spoofOut = new ConcurrentLinkedQueue[SpoofingDetector.SpoofAlert]()
    val appendMs = new ConcurrentLinkedQueue[(Boolean, Double)]()
    val storeId = new java.util.concurrent.atomic.AtomicReference[String]("")
    def raw = spark.readStream.text(watch)

    val queries: Seq[StreamingQuery] = Seq(
      FraudDetection.detectStream(trades(raw).map(toTxn)).writeStream.queryName("fraud")
        .option("checkpointLocation", s"$ckpt/fraud")
        .foreachBatch { (ds: Dataset[Alert], _: Long) => fraudOut.addAll(ds.collect().toSeq.asJava); () }
        .start(),
      SpoofingDetector.detectStream(books(raw).map(toBook)).writeStream.queryName("spoof")
        .option("checkpointLocation", s"$ckpt/spoof")
        .foreachBatch { (ds: Dataset[SpoofingDetector.SpoofAlert], _: Long) =>
          spoofOut.addAll(ds.collect().toSeq.asJava); ()
        }
        .start(),
      trades(raw).toDF().writeStream.queryName("store")
        .option("checkpointLocation", s"$ckpt/store")
        .foreachBatch { (df: DataFrame, batchId: Long) =>
          val under = if (tr.enabled) ctx.listener.batchSpanId(storeId.get, batchId) else -1L
          val (_, ms) = tr.timed("sink.append", s"append $batchId", under)(
            Streams.idempotentAppend(df, Seq("code", "sequentialId"), store))
          appendMs.add((tr.enabled, ms))
          ()
        }
        .start())
    storeId.set(queries(2).id.toString)

    val dropped = mutable.ArrayBuffer.empty[Drop]
    def committed(q: StreamingQuery): Long =
      progress.asScala.filter(_.id == q.id).map(_.numInputRows).sum

    /** Runs one phase: the generator thread moves each file in on its
      * schedule; then waits until every query has committed every line. */
    def runPhase(p: Phase): Unit = {
      val files = p.files
      val start = System.currentTimeMillis() + 100.0
      files.zipWithIndex.foreach { case (d, i) => d.schedMs = start + i * p.intervalMs }
      val gen = new Thread(() => {
        files.foreach { d =>
          val waitMs = d.schedMs - System.currentTimeMillis()
          if (waitMs > 0) Thread.sleep(waitMs.toLong, ((waitMs % 1) * 1e6).toInt)
          val dst = Paths.get(s"$watch/${d.name}")
          Files.move(Paths.get(s"$feed/${d.name}"), dst, StandardCopyOption.ATOMIC_MOVE)
          d.actualMs = System.currentTimeMillis().toDouble
          Files.setLastModifiedTime(dst, FileTime.fromMillis(d.actualMs.toLong))
        }
      }, "feed-generator")
      gen.start()
      gen.join()
      dropped ++= files
      val total = dropped.map(_.lines).sum
      val deadline = System.currentTimeMillis() + 60000
      while (queries.exists(q => committed(q) < total) && System.currentTimeMillis() < deadline) {
        queries.foreach(q => q.exception.foreach(e => throw e))
        Thread.sleep(5)
      }
      if (queries.exists(q => committed(q) < total))
        throw new IllegalStateException(s"phase ${p.name}: backlog not drained within 60 s")
    }

    // warm-up: codegen, JIT, state-store and source initialisation
    val (warm, timed) = phases.partition(_.name.startsWith("warm"))
    warm.foreach(runPhase)
    ctx.result.put("setup_end_ms", System.currentTimeMillis())
    // the traced window: the one traced phase, from its start until its
    // backlog has drained
    var traceStartMs = Double.MaxValue
    var traceEndMs = Double.MaxValue
    var gcMs = 0L
    timed.foreach { p =>
      if (p.traced) {
        ctx.startTracing()
        traceStartMs = System.currentTimeMillis().toDouble
        val gc0 = Gc.totalMs
        runPhase(p)
        gcMs = Gc.totalMs - gc0
        traceEndMs = System.currentTimeMillis().toDouble
        Thread.sleep(300) // let the listener bus deliver the phase's last task events
        tr.enabled = false
        ctx.listener.recording = false
      } else runPhase(p)
    }
    queries.foreach(_.stop())

    // ---- output checks: the batch twins over the same generated events;
    // a query whose output differs gives no latency samples
    val failedQueries = checkOutputs(ctx, watch, store, fraudOut.asScala.toSeq, spoofOut.asScala.toSeq)

    // ---- latency: file -> first batch of each query whose cumulative row
    // count covers the file's last line
    val batches: Map[String, Vector[Batch]] = progress.asScala.toVector
      .map { p =>
        val start = java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
        Batch(p.name, p.id.toString, p.batchId, p.numInputRows, start,
          start + p.durationMs.get("triggerExecution").toDouble, p)
      }
      .groupBy(_.query).map { case (q, bs) => q -> bs.sortBy(_.batchId) }
    val cumLines = dropped.toVector.scanLeft(0L)(_ + _.lines).tail
    val commitOf: Map[String, Vector[Double]] = batches.map { case (q, bs) =>
      val cum = bs.scanLeft(0L)(_ + _.rows).tail
      q -> cumLines.map { l =>
        val i = cum.indexWhere(_ >= l)
        if (i < 0) Double.NaN else bs(i).endMs
      }
    }
    val uncommitted = commitOf.filter(_._2.exists(_.isNaN)).keySet
    if (commitOf.size < queries.size || uncommitted.nonEmpty)
      ctx.fail("some dropped lines were never committed")
    val bad = failedQueries ++ uncommitted
    val checked = batches.filter { case (q, _) => !bad(q) }
    val perQueryCommit = commitOf.filter { case (q, _) => !bad(q) }.values.toSeq
    val commitMs = cumLines.indices.map(i => perQueryCommit.map(_(i)).maxOption.getOrElse(Double.NaN))
    /** Latency samples of a phase: one per event and output (fraud alerts,
      * spoofing alerts, trade store), weighted by the file's line count. */
    def phaseLat(n: String): Seq[(Double, Long)] =
      dropped.indices.filter(i => dropped(i).phase == n).flatMap { i =>
        perQueryCommit.map(c => (c(i) - dropped(i).schedMs, dropped(i).lines))
      }
    /** Per-event quantile: every event of a file shares the file's latency. */
    def eventQuantile(xs: Seq[(Double, Long)], q: Double): Double = {
      val sorted = xs.sortBy(_._1)
      val total = sorted.map(_._2).sum
      val target = q * total
      var acc = 0L
      sorted.find { case (_, n) => acc += n; acc >= target }.map(_._1).getOrElse(Double.NaN)
    }
    val m = ctx.metrics
    val mid = phaseLat("mid")
    m.put("latency_p50_ms", eventQuantile(mid, 0.5))
    m.put("latency_p99_ms", eventQuantile(mid, 0.99))
    m.put("latency.samples", mid.map(_._2).sum.toDouble)  // events × outputs
    // one iteration = one micro-batch with data at the middle rate,
    // trigger to commit, across the three queries
    val midIdx = dropped.indices.filter(i => dropped(i).phase == "mid")
    val (midFrom, midTo) = (dropped(midIdx.head).schedMs, midIdx.map(commitMs).max)
    m.put("iter_s", median(checked.values.flatten.toSeq
      .filter(b => b.rows > 0 && b.startMs >= midFrom && b.endMs <= midTo)
      .map(b => (b.endMs - b.startMs) / 1e3)))

    if (ctx.trace) {
      val tb = checked.values.flatten.filter(b => b.startMs >= traceStartMs && b.endMs <= traceEndMs).toSeq
      val units = math.max(1, tb.size).toDouble
      def mean(f: Batch => Double) = if (tb.isEmpty) 0.0 else tb.map(f).sum / tb.size
      def dur(b: Batch, k: String) = Option(b.p.durationMs.get(k)).map(_.toDouble).getOrElse(0.0)
      def stateSum(b: Batch, f: org.apache.spark.sql.streaming.StateOperatorProgress => Double) =
        b.p.stateOperators.map(f).sum
      m.put("stream.plan_ms", mean(dur(_, "queryPlanning")))
      m.put("stream.commit_ms", mean(b => dur(b, "walCommit") + dur(b, "commitOffsets")))
      m.put("stream.source_ms", mean(b => dur(b, "latestOffset") + dur(b, "getBatch")))
      m.put("stream.add_batch_ms", mean(dur(_, "addBatch")))
      m.put("state.commit_ms", mean(stateSum(_, _.commitTimeMs.toDouble)))
      m.put("stream.rows_per_batch", {
        val withData = tb.filter(_.rows > 0)
        if (withData.isEmpty) 0.0 else withData.map(_.rows).sum.toDouble / withData.size
      })
      val last = checked.values.flatMap(_.filter(_.endMs <= traceEndMs).lastOption).toSeq
      m.put("state.rows_total", last.map(stateSum(_, _.numRowsTotal.toDouble)).sum)
      m.put("state.bytes", last.map(stateSum(_, _.memoryUsedBytes.toDouble)).sum)
      m.put("state.rows_updated", mean(stateSum(_, _.numRowsUpdated.toDouble)))
      m.put("state.rows_removed", mean(stateSum(_, _.numRowsRemoved.toDouble)))
      val tracedIdx = dropped.indices.filter(i => timed.exists(p => p.traced && p.name == dropped(i).phase))
      m.put("stream.backlog_events", tracedIdx.map { i =>
        val t = dropped(i).actualMs
        val done = checked.values.map(_.filter(_.endMs <= t).map(_.rows).sum).minOption.getOrElse(0L)
        (cumLines(i) - done).toDouble
      }.maxOption.getOrElse(0.0))
      val ratePhases = timed.filter(_.ladder)
      val ladderIdx = dropped.indices.filter(i => ratePhases.exists(_.name == dropped(i).phase))
      m.put("gen.late_ms", quantile(ladderIdx.map(i => dropped(i).actualMs - dropped(i).schedMs), 0.99))
      // sustained: the highest fixed rate whose p99 meets the limit and
      // whose latency does not climb through the phase (no growing backlog),
      // climbing the ladder from the lowest rate until a step fails
      val ladder = ctx.result.putObject("ladder")
      val passed = ratePhases.sortBy(_.rate).map { p =>
        val lat = phaseLat(p.name)
        val third = math.max(1, lat.size / 3)
        val head = median(lat.take(third).map(_._1))
        val tail = median(lat.takeRight(third).map(_._1))
        val p99 = eventQuantile(lat, 0.99)
        val step = ladder.putObject(p.rate.toLong.toString)
        step.put("p50_ms", eventQuantile(lat, 0.5)); step.put("p99_ms", p99)
        step.put("head_ms", head); step.put("tail_ms", tail)
        (p.rate, p99 <= limitMs && tail <= 1.5 * head + 100)
      }
      m.put("stream.sustained_eps", passed.takeWhile(_._2).lastOption.map(_._1).getOrElse(0.0))
      val appends = appendMs.asScala.filter(_._1).map(_._2).toSeq
      m.put("sink.append_ms", median(appends))
      CurateCorpus.putEngine(m, ctx.listener.totals, units,
        median(tb.map(b => b.endMs - b.startMs)) / 1e3, ctx.cores)
      m.put("cache.peak_bytes", ctx.sampler.peak.toDouble)
      m.put("trace.overhead_pct",
        100.0 * (eventQuantile(phaseLat("mid_traced"), 0.5) / eventQuantile(mid, 0.5) - 1.0))
      Seq("operators.build_s", "operators.plan_s", "operators.exec_s", "core.store_build_s",
        "functions.task_cpu_s").foreach(k => m.put(k, 0.0))
      m.put("engine.gc_s", gcMs / 1e3 / units)
      // micro-batch spans: the phases of each trigger laid end to end; the
      // addBatch phase carries the id Spark jobs of that batch hang under
      tr.enabled = true
      tb.foreach { b =>
        val root = tr.newId()
        tr.add(Span(root, 0, "stream.batch", s"${b.query} ${b.batchId}", b.startMs, b.endMs))
        var t = b.startMs
        Seq("latestOffset" -> "stream.source", "walCommit" -> "stream.commit",
          "getBatch" -> "stream.source", "queryPlanning" -> "stream.plan",
          "addBatch" -> "stream.add_batch", "commitOffsets" -> "stream.commit").foreach { case (k, layer) =>
          val d = dur(b, k)
          val id = if (k == "addBatch") ctx.listener.batchSpanId(b.queryId, b.batchId) else tr.newId()
          tr.add(Span(id, root, layer, k, t, t + d))
          t += d
        }
      }
    }
    m.put("sink.useful_ratio", ctx.result.path("useful_ratio").asDouble(0.0))
  }

  /** Alerts and store contents of the live queries must equal the batch
    * twins (detectBatch, one-shot chain run) over the same events.
    * Returns the names of the queries whose output differs. */
  def checkOutputs(ctx: Ctx, watch: String, store: String, fraud: Seq[Alert],
                   spoof: Seq[SpoofingDetector.SpoofAlert]): Set[String] = {
    val spark = ctx.spark
    import spark.implicits._
    val raw = spark.read.text(watch)
    val failed = mutable.Set.empty[String]
    def check(query: String, what: String)(body: => Boolean): Unit = {
      ctx.attempted += 1
      val ok =
        try { body || { ctx.fail(s"$what: live output differs from its batch twin"); false } }
        catch { case t: Throwable => ctx.fail(s"$what check: ${t.toString.take(300)}"); false }
      if (!ok) failed += query
    }
    check("fraud", "fraud alerts") {
      val want = FraudDetection.detectBatch(trades(raw).map(toTxn)).collect().toSeq
      ctx.result.put("fraud_alerts", fraud.size)
      want.sortBy(a => (a.accountId, a.timestamp, a.amount)) ==
        fraud.sortBy(a => (a.accountId, a.timestamp, a.amount))
    }
    check("spoof", "spoofing alerts") {
      val want = SpoofingDetector.detectBatch(books(raw).map(toBook)).collect().toSeq
      ctx.result.put("spoof_alerts", spoof.size)
      val key = (a: SpoofingDetector.SpoofAlert) => (a.code, a.armed_at_ms, a.price)
      want.sortBy(key) == spoof.sortBy(key)
    }
    check("store", "trade store") {
      val twin = s"${ctx.runDir}/store_twin"
      val offered = trades(raw).toDF()
      Streams.idempotentAppend(offered, Seq("code", "sequentialId"), twin)
      val got = WireIngest.readTradeStore(spark, store).collect().toSeq
      val want = WireIngest.readTradeStore(spark, twin).collect().toSeq
      ctx.result.put("useful_ratio", got.size.toDouble / offered.count())
      got.nonEmpty && got == want
    }
    failed.toSet
  }
}
