package graft.core

import org.apache.spark.sql.Encoder
import org.apache.spark.sql.catalyst.encoders.encoderFor
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.{col, timestamp_millis}

import graft.SparkSpec
import graft.operators.EventWindows
import graft.streaming._

final case class FsmEvent(key: String, ts_ms: Long)

/** The runner's own contract: its timer clamp, and a state encoder that
  * compiles once for every FSM it streams. */
class KeyedFsmSpec extends SparkSpec {

  test("a deadline behind the watermark fires at its next advance") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    // state: the key's last event time. Its deadline is a minute before
    // that, so once another key has moved the watermark on, the deadline
    // is already behind it when it is set.
    val lagging = new KeyedFsm[String, FsmEvent, Long, String](
      "key", _.key, Seq("ts_ms"), Ordering.by(_.ts_ms),
      0L, (_, e) => (e.ts_ms, None),
      keep = _ != 0L,
      timer = Some(KeyedFsm.Timer(ts => Some(ts - 60000L), (k, _) => (0L, Some(s"expired $k")))))
    val input = MemoryStream[FsmEvent]
    val q = lagging.stream(input.toDS(), Some(timestamp_millis(col("ts_ms"))))
      .writeStream.format("memory").queryName("fsm_lagging").outputMode("append").start()
    try {
      input.addData(FsmEvent("b", 100000L)); q.processAllAvailable() // watermark -> 100 000
      // a's deadline, 70 000, is behind the watermark: set as 100 001, it
      // fires in the no-data batch that moves the watermark to 130 000
      input.addData(FsmEvent("a", 130000L)); q.processAllAvailable()
      assert(spark.table("fsm_lagging").as[String].collect().sorted.toSeq ==
        Seq("expired a", "expired b"))
      assert(q.lastProgress.stateOperators.head.numRowsTotal == 0)
    } finally q.stop()
  }

  /** Generated Java source of one fresh resolution of a state encoder:
    * what the stateful operator compiles in each micro-batch. */
  private def stateSource(enc: Encoder[_]): String = {
    val ctx = new CodegenContext
    val bound = encoderFor(enc).resolveAndBind()
    val code = bound.objDeserializer.genCode(ctx).code.toString +
      bound.serializer.map(_.genCode(ctx).code.toString).mkString
    ctx.declareMutableStates() + ctx.declareAddedFunctions() + code
  }

  test("every state encoder generates the same source") {
    val encoders = Seq(
      "fraud" -> FraudDetection.fsm.stateEncoder,
      "spoofing" -> SpoofingDetector.fsm.stateEncoder,
      "density" -> DensitySignals.fsm.stateEncoder,
      "position" -> PositionTracker.fsm.stateEncoder,
      "sequence" -> SequenceTracker.fsm(EventWindows.FunnelStages).stateEncoder,
      "attribution" -> AttributionTracker.fsm.stateEncoder,
      "event flow" -> EventFlowTracker.fsm.stateEncoder,
      "decline trend" -> DeclineTrend.fsm.stateEncoder,
      "dedup" -> IdempotentDedup.fsm(IdempotentDedup.TtlMs).stateEncoder,
      "as-of join" -> AsofJoin.fsm.stateEncoder)
    val recompiled = encoders.collect {
      case (name, enc) if stateSource(enc) != stateSource(enc) => name
    }
    assert(recompiled.isEmpty)
  }
}
