package graft.tools

import graft.{GraftSession, SparkEntry}

/** Ad-hoc single-query timer for perf iteration (test scope — not part
  * of the library surface). Times `SparkEntry.queries(name)` N times at
  * one SF dir and prints each pass, every pass building its stores
  * cold, so a plan change can be measured on its own. Run:
  *   sbt "Test/runMain graft.tools.TimeQuery <sfDir> <name> [runs]"
  */
object TimeQuery {
  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val names = args(1).split(",").toSeq
    val runs = if (args.length > 2) args(2).toInt else 3
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = GraftSession.builder(s"local[$cpus]", cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    names.foreach { name =>
      val fn = SparkEntry.queries(name)
      (1 to runs).foreach { i =>
        graft.core.Memo.clear()
        val t0 = System.nanoTime()
        val n = fn(spark, dir).count()
        println(f"[time] $name pass $i: ${(System.nanoTime() - t0) / 1e9}%.3f s ($n rows)")
        graft.core.Scratch.release() // honest per-pass cost
      }
    }
    spark.stop()
  }
}
