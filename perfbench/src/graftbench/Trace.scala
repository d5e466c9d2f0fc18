package graftbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One timed interval. `layer` names the repo module (or engine layer)
  * the interval belongs to; `parent` is the span that caused it (0 = root). */
final case class Span(id: Long, parent: Long, layer: String, name: String,
                      startMs: Double, endMs: Double)

/** In-memory span recorder. Spans are only kept while `enabled`; the
  * recorder is written out once, at exit. Spark jobs started while a span
  * is open on the calling thread carry that span's id as their job group,
  * which is how [[EngineListener]] links jobs to the query phase that ran
  * them. */
final class Tracer(sc: SparkContext) {
  @volatile var enabled = false
  val spans = new ConcurrentLinkedQueue[Span]()
  /** Layer of every span opened while enabled, so jobs can be attributed
    * to the phase that ran them. */
  val layerOf = new java.util.concurrent.ConcurrentHashMap[Long, String]()
  private val ids = new AtomicLong(0)
  private val stack = new ThreadLocal[List[Long]] {
    override def initialValue(): List[Long] = Nil
  }

  def nowMs: Double = System.nanoTime() / 1e6 + Tracer.epochOffsetMs

  def newId(): Long = ids.incrementAndGet()

  def current: Long = stack.get.headOption.getOrElse(0L)

  def add(s: Span): Unit = if (enabled) spans.add(s)

  /** Time `body` as a span under `under`, or else under the thread's
    * current span. The wall time is returned whether or not tracing is on. */
  def timed[T](layer: String, name: String, under: Long = -1L)(body: => T): (T, Double) = {
    val id = newId()
    val parent = if (under >= 0) under else current
    stack.set(id :: stack.get)
    val prevGroup = sc.getLocalProperty("spark.jobGroup.id")
    if (enabled) {
      layerOf.put(id, layer)
      sc.setJobGroup(s"span-$id", name, interruptOnCancel = false)
    }
    val t0 = nowMs
    try {
      val r = body
      val t1 = nowMs
      add(Span(id, parent, layer, name, t0, t1))
      (r, t1 - t0)
    } finally {
      stack.set(stack.get.tail)
      if (enabled) {
        if (prevGroup == null) sc.clearJobGroup()
        else sc.setJobGroup(prevGroup, "", interruptOnCancel = false)
      }
    }
  }
}

object Tracer {
  /** Maps the monotonic clock onto epoch ms once, so spans and Spark's own
    * epoch timestamps share one time base. */
  val epochOffsetMs: Double = System.currentTimeMillis().toDouble - System.nanoTime() / 1e6

  /** Self time per layer: each span's duration minus the part of its
    * interval covered by its children. */
  def selfTimes(spans: Seq[Span]): Map[String, Double] = {
    val kids = spans.groupBy(_.parent)
    spans.groupBy(_.layer).map { case (layer, ss) =>
      layer -> ss.map { s =>
        val cs = kids.getOrElse(s.id, Nil)
          .map(c => (math.max(c.startMs, s.startMs), math.min(c.endMs, s.endMs)))
          .filter { case (a, b) => b > a }.sortBy(_._1)
        var covered = 0.0
        var curA = Double.NaN
        var curB = Double.NaN
        cs.foreach { case (a, b) =>
          if (curA.isNaN) { curA = a; curB = b }
          else if (a <= curB) curB = math.max(curB, b)
          else { covered += curB - curA; curA = a; curB = b }
        }
        if (!curA.isNaN) covered += curB - curA
        math.max(0.0, s.endMs - s.startMs - covered)
      }.sum
    }
  }
}

/** Task, stage and job totals collected through the public SparkListener
  * interface while `recording` is set. Jobs become spans linked to the
  * span named by their job group, or to a streaming micro-batch through
  * the query id / batch id properties the streaming engine sets. */
final class EngineListener(tracer: Tracer) extends SparkListener {
  @volatile var recording = false

  final class StageAgg {
    var durMs = 0L
    var cpuNs = 0L
    var schedDelayMs = 0L
    var shuffleWrite = 0L
    var fetchWaitMs = 0L
    var spill = 0L
    var bytesRead = 0L
    var exec = false
    val taskInput = mutable.ArrayBuffer.empty[Long]
  }

  val stages = mutable.Map.empty[Int, StageAgg]
  private val stageParent = mutable.Map.empty[Int, Long]
  /** Stages of jobs started under an `operators.exec` span. */
  private val execStages = mutable.Set.empty[Int]
  private val jobSpan = mutable.Map.empty[Int, (Long, Long, Double)] // job -> (span id, parent, start)
  var jobs = 0L
  var stagesDone = 0L
  /** Span id of a streaming micro-batch, shared with the streaming side
    * so jobs hang under their batch whichever is seen first. */
  val batchSpanIds = new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()
  def batchSpanId(queryId: String, batchId: Long): Long =
    batchSpanIds.computeIfAbsent(s"$queryId/$batchId", _ => tracer.newId())

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    if (!recording) return
    jobs += 1
    val props = Option(e.properties)
    def prop(k: String) = props.flatMap(p => Option(p.getProperty(k)))
    val parent = prop("spark.jobGroup.id") match {
      case Some(g) if g.startsWith("span-") => g.stripPrefix("span-").toLong
      case _ => (prop("sql.streaming.queryId"), prop("streaming.sql.batchId")) match {
        case (Some(q), Some(b)) => batchSpanId(q, b.toLong)
        case _ => 0L
      }
    }
    val id = tracer.newId()
    jobSpan(e.jobId) = (id, parent, e.time.toDouble)
    e.stageIds.foreach(s => stageParent(s) = id)
    if (tracer.layerOf.get(parent) == "operators.exec") execStages ++= e.stageIds
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobSpan.remove(e.jobId).foreach { case (id, parent, start) =>
      tracer.add(Span(id, parent, "engine.job", s"job ${e.jobId}", start, e.time.toDouble))
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    if (!recording) return
    stagesDone += 1
    val si = e.stageInfo
    for (a <- si.submissionTime; b <- si.completionTime)
      tracer.add(Span(tracer.newId(), stageParent.getOrElse(si.stageId, 0L), "engine.stage",
        s"stage ${si.stageId}", a.toDouble, b.toDouble))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    if (!recording || e.taskMetrics == null) return
    val m = e.taskMetrics
    val info = e.taskInfo
    val a = stages.getOrElseUpdate(e.stageId, { val n = new StageAgg; n.exec = execStages(e.stageId); n })
    a.durMs += info.duration
    a.cpuNs += m.executorCpuTime
    a.schedDelayMs += math.max(0L, info.duration - m.executorRunTime -
      m.executorDeserializeTime - m.resultSerializationTime - info.gettingResultTime)
    a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
    a.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
    a.spill += m.diskBytesSpilled + m.memoryBytesSpilled
    a.bytesRead += m.inputMetrics.bytesRead
    a.taskInput += m.inputMetrics.bytesRead + m.shuffleReadMetrics.totalBytesRead
  }

  def reset(): Unit = synchronized {
    stages.clear(); stageParent.clear(); jobSpan.clear(); execStages.clear()
    jobs = 0; stagesDone = 0
  }

  /** Totals over the recorded window. */
  def totals: Map[String, Double] = synchronized {
    val all = stages.values
    def sum(f: StageAgg => Long) = all.map(f).sum.toDouble
    val skews = all.filter(_.taskInput.size >= 2).flatMap { a =>
      val xs = a.taskInput.sorted
      val med = xs(xs.size / 2)
      if (med > 0) Some(xs.last.toDouble / med) else None
    }.toSeq.sorted
    Map(
      "jobs" -> jobs.toDouble,
      "stages" -> stagesDone.toDouble,
      "task_cpu_s" -> sum(_.cpuNs) / 1e9,
      "exec_task_cpu_s" -> all.filter(_.exec).map(_.cpuNs).sum / 1e9,
      "task_s" -> sum(_.durMs) / 1e3,
      "scheduler_delay_s" -> sum(_.schedDelayMs) / 1e3,
      "shuffle_write_bytes" -> sum(_.shuffleWrite),
      "fetch_wait_s" -> sum(_.fetchWaitMs) / 1e3,
      "spill_bytes" -> sum(_.spill),
      "bytes_read" -> sum(_.bytesRead),
      "skew" -> (if (skews.isEmpty) 1.0 else skews(skews.size / 2)))
  }
}

/** Polls cached-block sizes (RDD storage info) while tracing. */
final class CacheSampler(sc: SparkContext) extends Thread("cache-sampler") {
  setDaemon(true)
  @volatile var running = true
  @volatile var peak = 0L
  override def run(): Unit = while (running) {
    val total = sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum
    if (total > peak) peak = total
    Thread.sleep(50)
  }
}

object Gc {
  def totalMs: Long = java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
    .asScala.map(b => math.max(0L, b.getCollectionTime)).sum
}
