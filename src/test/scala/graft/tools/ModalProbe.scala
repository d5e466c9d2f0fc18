package graft.tools

import graft.GraftSession
import graft.operators.{Clustering, Dedup, Multimodal}
import org.apache.spark.sql.functions._

/** Stage cost breakdown of q_incremental_modal (test scope, guide §1:
  * measure before restructuring). Stages are CUMULATIVE where noted.
  * Run: sbt "Test/runMain graft.tools.ModalProbe <sfDir> [passes]"
  */
object ModalProbe {
  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val passes = if (args.length > 1) args(1).toInt else 3
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = GraftSession.builder(s"local[$cpus]", cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits.StringToColumn
    def t(label: String)(body: => Long): Unit = {
      val t0 = System.nanoTime()
      val n = body
      println(f"[modalprobe] $label%-30s ${(System.nanoTime() - t0) / 1e9}%7.3f s ($n rows)")
    }
    // store builds land here (prewarm)
    Multimodal.incModalStore(spark, dir).corpusLabels.count()
    Clustering.incrementalStore(spark, dir).corpusLabels.count()
    (1 to passes).foreach { p =>
      println(s"[modalprobe] ---- pass $p ----")
      val st = Multimodal.incModalStore(spark, dir)
      val textSt = Clustering.incrementalStore(spark, dir)
      t("text probe (edgesOf)") {
        Dedup.edgesOf(textSt.batchSig, textSt.corpusSig).count()
      }
      t("image probe") {
        Multimodal.phashPairsTouching(
          st.ph.filter($"doc_id" % Dedup.IncomingMod === Dedup.IncomingRem),
          st.ph.filter($"doc_id" % Dedup.IncomingMod =!= Dedup.IncomingRem)).count()
      }
      t("video probe") {
        Multimodal.videoPairsTouching(
          st.fr.filter($"doc_id" % Dedup.IncomingMod === Dedup.IncomingRem), st.fr).count()
      }
      t("audio probe") {
        Multimodal.phashPairsTouching(
          st.aph.filter($"doc_id" % Dedup.IncomingMod === Dedup.IncomingRem),
          st.aph.filter($"doc_id" % Dedup.IncomingMod =!= Dedup.IncomingRem),
          hashCol = "ahash").count()
      }
      t("full gate") {
        graft.SparkEntry.queries("q_incremental_modal")(spark, dir).count()
      }
      graft.core.Scratch.release()
    }
    spark.stop()
  }
}
