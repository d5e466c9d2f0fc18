package graft.tools

import graft.{GraftSession, SparkEntry}

/**
 * Concurrent-workload rehearsal: a shared 100 TB cluster serves many
 * queries at once, so serial per-gate numbers alone can hide
 * session-global state (memo caches, writer locks) serializing reads.
 * This harness submits N heavy gates from N threads on ONE session
 * under the FAIR scheduler (each thread its own pool — the
 * multi-tenant layout a shared Spark service runs) and reports
 * concurrent wall-clock against the serial sum of the same warmed
 * gates. Wall ≈ serial-sum means the workload serialized; wall well
 * under it means the session genuinely interleaves. Results land in
 * SCALING.md. Run with:
 *   sbt "Test/runMain graft.tools.ConcurrencyHarness [sfDir]"
 */
object ConcurrencyHarness {

  /** A diverse heavy slice of the surface: memoized-store readers
    * (labels, contamination, edge store, IVF artifact) alongside pure
    * scan/shuffle gates, so both cache-hit and cache-miss paths run
    * concurrently. */
  val GateNames: Seq[String] = Seq(
    "q_corpus_verdict", "q_bm25", "q_pagerank", "q_kpi_rollup",
    "q_quantiles", "q_benford", "q_dup_clusters", "q_ann_artifact")

  def main(args: Array[String]): Unit = {
    val spark = GraftSession.builder("local[32]", 32)
      .config("spark.scheduler.mode", "FAIR")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val gates = GateNames.map(n => n -> SparkEntry.queries(n))

    // JIT/codegen warmup at the small SF, then prewarm the shared
    // stores at the target SF (both passes below measure warm serving,
    // which is what concurrency contends on)
    gates.foreach { case (_, fn) => fn(spark, "/root/testdata/sf0.001").count() }
    gates.foreach { case (_, fn) => fn(spark, dir).count() }

    val serial = gates.map { case (name, fn) =>
      val t0 = System.nanoTime()
      fn(spark, dir).count()
      name -> (System.nanoTime() - t0) / 1e9
    }
    val serialSum = serial.map(_._2).sum

    val t0 = System.nanoTime()
    val threads = gates.map { case (name, fn) =>
      new Thread(() => {
        // one FAIR pool per submitting thread — pools share the session
        spark.sparkContext.setLocalProperty("spark.scheduler.pool", s"pool_$name")
        fn(spark, dir).count()
        ()
      }, s"gate-$name")
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    val wall = (System.nanoTime() - t0) / 1e9

    println("| gate | serial s |")
    println("|---|---|")
    serial.foreach { case (n, t) => println(f"| $n | $t%.2f |") }
    println(f"serial_sum_sec=$serialSum%.2f concurrent_wall_sec=$wall%.2f " +
      f"overlap=${serialSum / wall}%.2fx threads=${gates.size}")
    spark.stop()
  }
}
