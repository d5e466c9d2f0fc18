package graftbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.spark.sql.SparkSession

import graft.{GraftSession, SparkEntry}

/** JVM side of the benchmark: runs one workload against the engine's public
  * functions and writes `result.json` into the run directory. Inputs are
  * generated beforehand (seeded) into `<run>/inputs`; `<run>/config.json`
  * names them. The DuckDB oracle checks of curate_corpus happen afterwards,
  * outside this process, on the parquet outputs written here.
  *
  * Usage: Main <runDir>
  */
object Main {
  val mapper = new ObjectMapper()

  final class Ctx(val spark: SparkSession, val cfg: JsonNode, val runDir: String) {
    val trace: Boolean = cfg.get("trace").asBoolean()
    val cores: Int = cfg.get("cores").asInt()
    val seconds: Double = cfg.get("seconds").asDouble()
    val tracer = new Tracer(spark.sparkContext)
    val listener = new EngineListener(tracer)
    val sampler = new CacheSampler(spark.sparkContext)
    val result: ObjectNode = mapper.createObjectNode()
    val metrics: ObjectNode = result.putObject("metrics")
    val errors = mutable.ArrayBuffer.empty[String]
    var attempted = 0L
    var failed = 0L

    /** Turns tracing on for the rest of the run. */
    def startTracing(): Unit = {
      tracer.enabled = true
      listener.recording = true
      spark.sparkContext.addSparkListener(listener)
      sampler.start()
    }

    def fail(msg: String): Unit = { failed += 1; errors += msg; System.err.println(s"FAIL $msg") }
  }

  def main(args: Array[String]): Unit = {
    val runDir = args(0)
    val cfg = mapper.readTree(Files.readString(Paths.get(s"$runDir/config.json")))
    val cores = cfg.get("cores").asInt()
    val spark = GraftSession.builder(s"local[$cores]", math.max(cores, 4))
      .config("spark.local.dir", s"$runDir/tmp")
      .config("spark.sql.warehouse.dir", s"$runDir/warehouse")
      .config("spark.sql.streaming.numRecentProgressUpdates", "100000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val ctx = new Ctx(spark, cfg, runDir)
    ctx.result.put("jvm_start_ms", java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime)
    try {
      cfg.get("workload").asText() match {
        case "stream_live" => StreamLive.run(ctx)
        case "curate_corpus" => CurateCorpus.run(ctx)
      }
    } catch {
      case t: Throwable =>
        ctx.attempted = math.max(ctx.attempted, 1L)
        ctx.fail(s"workload aborted: $t")
        t.printStackTrace()
    }
    ctx.sampler.running = false
    ctx.result.put("attempted", ctx.attempted)
    ctx.result.put("failed", ctx.failed)
    val errs = ctx.result.putArray("errors")
    ctx.errors.foreach(e => errs.add(e))
    ctx.metrics.put("peak_rss_mb", peakRssMb())
    if (ctx.trace) writeTrace(ctx)
    Files.writeString(Paths.get(s"$runDir/result.json"), mapper.writeValueAsString(ctx.result))
    spark.stop()
  }

  def peakRssMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)

  def quantile(xs: Seq[Double], q: Double): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else {
      val pos = q * (s.size - 1)
      val lo = pos.toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Spans in one JSON file plus a per-layer self-time report. */
  def writeTrace(ctx: Ctx): Unit = {
    Thread.sleep(300) // let the listener bus deliver the last job/stage events
    val spans = ctx.tracer.spans.asScala.toSeq
    val out = mapper.createObjectNode()
    val arr = out.putArray("spans")
    spans.foreach { s =>
      val n = arr.addObject()
      n.put("id", s.id); n.put("parent", s.parent); n.put("layer", s.layer)
      n.put("name", s.name); n.put("start_ms", s.startMs); n.put("end_ms", s.endMs)
    }
    val self = out.putObject("self_ms")
    Tracer.selfTimes(spans).toSeq.sortBy(-_._2).foreach { case (l, v) => self.put(l, v) }
    ctx.result.set[JsonNode]("self_ms", self.deepCopy())
    Files.writeString(Paths.get(s"${ctx.runDir}/trace.json"), mapper.writeValueAsString(out))
  }
}

/** `curate_corpus`: each timed iteration runs the curation query set over a
  * corpus replica no earlier iteration has read, so memoized stores,
  * scratch persists and the CacheManager cannot serve a timed iteration
  * from an earlier one. */
object CurateCorpus {
  import Main._

  // q_minhash_lsh_pairs, q_dup_clusters, q_curation_e2e, q_corpus_verdict
  // and q_ann_ivfpq are left out: their DuckDB oracles take 8-115 s per
  // replica, too long to check every run's outputs (README.md)
  val Queries: Seq[String] = Seq("q_exact_dedup", "q_simhash_pairs", "q_ngram_jaccard", "q_tfidf",
    "q_bm25", "q_lang_id", "q_gopher_rules", "q_pii_redact", "q_decontaminate",
    "q_knn_brute", "q_semantic_dedup")

  /** Memoized stores the curation queries build on first use; timed one by
    * one in traced iterations (core.store_build_s). */
  def storeBuilds(spark: SparkSession, dir: String): Seq[(String, () => Long)] = {
    import graft.operators.Corpus
    Seq(
      "shingleStore" -> (() => Corpus.shingleStore(spark, dir).count()),
      "decontaminateCore" -> (() => Corpus.decontaminateCore(spark, dir).count()))
  }

  /** Drops every session-scoped store so the previous replica's blocks are
    * freed (run between iterations, outside the timed window). */
  def releaseStores(spark: SparkSession): Unit = {
    import graft.operators._
    graft.core.Scratch.release()
    spark.catalog.clearCache()
    Clustering.invalidateLabelCache()
    Clustering.invalidateVecCache()
    Clustering.invalidateIncrementalStore()
    Clustering.releaseMergeClosures()
    Corpus.invalidateContamCache()
  }

  val WarmPasses = 2

  final case class QueryRun(name: String, ok: Boolean, buildMs: Double,
                            planMs: Double, execMs: Double, out: String, input: String) {
    def totalMs: Double = buildMs + planMs + execMs
  }

  def run(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val replicas = ctx.cfg.get("replicas").asScala.map(_.asText()).toVector
    val tr = ctx.tracer

    def runQuery(iter: Int, name: String, dir: String): QueryRun = {
      val out = s"${ctx.runDir}/out/$iter/$name"
      try {
        tr.timed("operators.query", name) {
          val (df, b) = tr.timed("operators.build", name)(SparkEntry.queries(name)(spark, dir))
          val (_, p) = tr.timed("operators.plan", name)(df.queryExecution.executedPlan)
          val (_, e) = tr.timed("operators.exec", name)(df.write.mode("overwrite").parquet(out))
          QueryRun(name, ok = true, b, p, e, out, dir)
        }._1
      } catch {
        case t: Throwable =>
          ctx.fail(s"$name iteration $iter: ${t.toString.take(300)}")
          QueryRun(name, ok = false, 0, 0, 0, out, dir)
      } finally graft.core.Scratch.release()
    }

    // warm-up: WarmPasses passes over their own replicas (one small, one
    // full size), so codegen, class loading and most JIT compilation are
    // done before the first timed iteration; their outputs are not checked
    (0 until WarmPasses).foreach { w =>
      Queries.foreach(q => runQuery(w, q, replicas(w)))
      releaseStores(spark)
    }
    ctx.result.put("setup_end_ms", System.currentTimeMillis())

    // every query run and iteration is written out raw: run.py computes
    // the time metrics after the oracle checks, from the runs that passed
    val runsOut = ctx.result.putArray("runs")
    val itersOut = ctx.result.putArray("iterations")
    val checks = ctx.result.putArray("checks")
    var lastIterMs = 0.0
    // trace runs alternate untraced and traced iterations; the difference
    // of their medians is the tracing overhead
    def isTraced(iter: Int) = ctx.trace && (iter - WarmPasses) % 2 == 1
    val t0 = System.nanoTime()
    var i = WarmPasses
    // at least two timed iterations; a further one starts only if it
    // should end within --seconds
    def next(): Boolean = {
      val elapsed = (System.nanoTime() - t0) / 1e9
      i < replicas.size && (i < WarmPasses + 2 || elapsed + lastIterMs / 1e3 <= ctx.seconds)
    }
    while (next()) {
      val traced = isTraced(i)
      if (traced && !tr.enabled) ctx.startTracing()
      tr.enabled = traced
      ctx.listener.recording = traced
      ctx.listener.reset()
      val dir = replicas(i)
      val gc0 = Gc.totalMs
      var storeMs = 0.0
      val iterRuns = tr.timed("iteration", s"iteration $i") {
        if (traced)
          storeBuilds(spark, dir).foreach { case (n, f) =>
            storeMs += tr.timed("core.store_build", n)(f())._2
          }
        Queries.map(q => runQuery(i, q, dir))
      }._1
      val gcMs = Gc.totalMs - gc0
      lastIterMs = storeMs + iterRuns.map(_.totalMs).sum
      ctx.attempted += iterRuns.size
      iterRuns.foreach { r =>
        val o = runsOut.addObject()
        o.put("iter", i); o.put("query", r.name); o.put("traced", traced); o.put("ok", r.ok)
        o.put("build_ms", r.buildMs); o.put("plan_ms", r.planMs); o.put("exec_ms", r.execMs)
        if (r.ok) {
          val c = checks.addObject()
          c.put("query", r.name); c.put("iter", i); c.put("output", r.out); c.put("input", r.input)
        }
      }
      val it = itersOut.addObject()
      it.put("iter", i); it.put("traced", traced); it.put("wall_ms", lastIterMs)
      if (traced) {
        Thread.sleep(300) // let the listener bus deliver the iteration's last task events
        val e = ctx.listener.totals
        val em = it.putObject("layers")
        em.put("core.store_build_s", storeMs / 1e3)
        em.put("operators.build_s", iterRuns.map(_.buildMs).sum / 1e3)
        em.put("operators.plan_s", iterRuns.map(_.planMs).sum / 1e3)
        em.put("operators.exec_s", iterRuns.map(_.execMs).sum / 1e3)
        putEngine(em, e, 1.0, lastIterMs / 1e3, ctx.cores)
        // the per-row graft.functions kernels (tokenising, hashing, dot
        // products) run in the exec phase of every curation query
        em.put("functions.task_cpu_s", e("exec_task_cpu_s"))
        em.put("engine.gc_s", gcMs / 1e3)
      }
      releaseStores(spark)
      i += 1
    }
    tr.enabled = false
    ctx.listener.recording = false

    val oracle = ctx.result.putObject("oracle")
    Queries.foreach(q => SparkEntry.oracleSql.get(q).foreach(sql => oracle.put(q, sql)))
    if (ctx.trace) {
      val m = ctx.metrics
      m.put("cache.peak_bytes", ctx.sampler.peak.toDouble)
      (StreamLive.StreamOnly ++ Seq("sink.append_ms", "sink.useful_ratio")).foreach(k => m.put(k, 0.0))
    }
  }

  /** Engine-layer metrics per unit of work (an iteration, or a micro-batch
    * for the live stream). `unitWallS` is the wall time of one unit. */
  def putEngine(m: ObjectNode, e: Map[String, Double], units: Double, unitWallS: Double,
                cores: Int): Unit = {
    m.put("engine.jobs", e("jobs") / units)
    m.put("engine.stages", e("stages") / units)
    m.put("engine.scheduler_delay_s", e("scheduler_delay_s") / units)
    m.put("engine.task_cpu_s", e("task_cpu_s") / units)
    m.put("engine.busy_ratio",
      if (unitWallS > 0) e("task_s") / units / (unitWallS * cores) else 0.0)
    m.put("shuffle.write_bytes", e("shuffle_write_bytes") / units)
    m.put("shuffle.fetch_wait_s", e("fetch_wait_s") / units)
    m.put("shuffle.skew", e("skew"))
    m.put("spill.bytes", e("spill_bytes") / units)
    m.put("sources.bytes_read", e("bytes_read") / units)
  }
}
