package graft.tools

import graft.GraftSession
import graft.operators.UpbitWire
import graft.streaming.{Streams, WireIngest}
import org.apache.spark.sql.functions._

/** Stage-by-stage cost breakdown of the wire ingestion chains (test
  * scope, guide §1: measure before touching the gate-critical
  * byte-level codec path). Each stage's time is CUMULATIVE (stage k
  * re-runs stages 1..k-1 — no caches), so deltas between lines give
  * per-stage cost. The store write uses a throwaway dir per pass so
  * every pass pays the first-run append the bench charges; the same
  * chain is then appended again into that store, which costs the
  * replay (every key overlaps) path.
  * Run: sbt "Test/runMain graft.tools.WireProbe <sfDir> [passes]"
  */
object WireProbe {
  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val passes = if (args.length > 1) args(1).toInt else 3
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = GraftSession.builder(s"local[$cpus]", cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    def t(label: String)(body: => Long): Unit = {
      val t0 = System.nanoTime()
      val n = body
      println(f"[wireprobe] $label%-28s ${(System.nanoTime() - t0) / 1e9}%7.3f s ($n rows)")
    }
    (1 to passes).foreach { p =>
      println(s"[wireprobe] ---- pass $p ----")
      t("frames (json synth)") { WireIngest.frames(spark, dir).count() }
      val col5 = org.apache.spark.sql.functions.col("ts_ms") + 5
      t("parseTrades (from_json)") {
        UpbitWire.parseTrades(WireIngest.frames(spark, dir), "frame", "Upbit", col5).count()
      }
      t("+ proto encode (map)") {
        Streams.tradeProtoRecords(
          UpbitWire.parseTrades(WireIngest.frames(spark, dir), "frame", "Upbit", col5)).count()
      }
      t("+ proto decode (map)") {
        Streams.tradesFromProtoRecords(Streams.tradeProtoRecords(
          UpbitWire.parseTrades(WireIngest.frames(spark, dir), "frame", "Upbit", col5))).count()
      }
      val store = java.nio.file.Files.createTempDirectory("graft_wireprobe").toString
      def appendChain(): Long = {
        val decoded = Streams.tradesFromProtoRecords(Streams.tradeProtoRecords(
          UpbitWire.parseTrades(WireIngest.frames(spark, dir), "frame", "Upbit", col5)))
        Streams.idempotentAppend(decoded.toDF(), Seq("code", "sequentialId"), store)
        WireIngest.readTradeStore(spark, store).count()
      }
      t("full chain + fresh store")(appendChain())
      // every key is already stored: the overlap/anti-join path
      t("full chain + replay store")(appendChain())
      t("q_wire_books full") {
        graft.SparkEntry.queries("q_wire_books")(spark, dir).count()
      }
    }
    spark.stop()
  }
}
