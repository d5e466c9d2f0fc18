package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.SparkSpec

class StreamsSpec extends SparkSpec {

  private def tmpDir(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  test("slidingWindowAvg streaming equals the batch plan on the same data") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    // (ts_ms, event_type, value) rows spanning several 5-min slides
    val base = 1700000000000L
    val rows = (0 until 200).map { i =>
      (base + i * 37000L, if (i % 3 == 0) "click" else "view", (i % 17) * 1.5)
    }
    val input = MemoryStream[(Long, String, Double)]
    val stream = Streams.slidingWindowAvg(
      input.toDF().select(timestamp_millis($"_1").as("ts"),
        $"_2".as("event_type"), $"_3".as("value")))
    val q = stream.writeStream.format("memory").queryName("win_stream")
      .outputMode("complete").start()
    try {
      input.addData(rows.take(120))
      q.processAllAvailable()
      input.addData(rows.drop(120))
      q.processAllAvailable()
      val got = spark.table("win_stream")
        .orderBy($"window_start_s", $"event_type").collect().toSeq
      val batch = Streams.slidingWindowAvg(
        rows.toDF("ts_ms", "event_type", "value")
          .select(timestamp_millis($"ts_ms").as("ts"), $"event_type", $"value"))
        .orderBy($"window_start_s", $"event_type").collect().toSeq
      assert(got == batch)
    } finally q.stop()
  }

  test("replaying the real events table as a stream matches the oracle-checked batch windows") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val rows = graft.sources.Tables.events(spark, graft.SparkSpec.Sf0001)
      .select(unix_millis($"ts").as("ts_ms"), $"event_type", $"value")
      .as[(Long, String, Double)].collect().sortBy(_._1).toSeq
    val input = MemoryStream[(Long, String, Double)]
    val q = Streams.slidingWindowAvg(
      input.toDF().select(timestamp_millis($"_1").as("ts"),
        $"_2".as("event_type"), $"_3".as("value")))
      .writeStream.format("memory").queryName("events_replay")
      .outputMode("complete").start()
    try {
      rows.grouped(rows.size / 3 + 1).foreach { chunk =>
        input.addData(chunk); q.processAllAvailable()
      }
      val streamed = spark.table("events_replay")
        .collect().map(_.toSeq).sortBy(_.mkString("|")).toSeq
      val batch = graft.operators.EventWindows
        .qSlidingWindow(spark, graft.SparkSpec.Sf0001)
        .collect().map(_.toSeq).sortBy(_.mkString("|")).toSeq
      assert(streamed == batch)
    } finally q.stop()
  }

  test("T6 policy: an event later than the watermark is dropped, not aggregated") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val base = 1700000000000L
    val input = MemoryStream[(Long, String, Double)]
    val q = Streams.slidingWindowAvg(
      input.toDF().select(timestamp_millis($"_1").as("ts"),
        $"_2".as("event_type"), $"_3".as("value")))
      .writeStream.format("memory").queryName("late_drop")
      .outputMode("append").start()
    try {
      // batch 1 advances the watermark far ahead
      input.addData(Seq((base, "click", 1.0), (base + 3600000L, "click", 2.0)))
      q.processAllAvailable()
      // batch 2: an event an hour behind the watermark — a missed
      // opportunity per the reference's no-late-data policy
      input.addData(Seq((base + 1000L, "click", 100.0)))
      q.processAllAvailable()
      // close all windows so append mode emits them
      input.addData(Seq((base + 7200000L, "click", 3.0)))
      q.processAllAvailable()
      val sums = spark.table("late_drop")
        .agg(sum($"sum_value")).head().getDouble(0)
      // the late 100.0 must not appear in any emitted window
      assert(sums < 100.0)
    } finally q.stop()
  }

  test("wordCounts in update mode emits per-update records like Flink keyed reduce") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = MemoryStream[String]
    val q = Streams.wordCounts(input.toDS())
      .writeStream.format("memory").queryName("wc_stream")
      .outputMode("update").start()
    try {
      input.addData("to be or not to be")
      q.processAllAvailable()
      val after1 = spark.table("wc_stream").as[(String, Long)].collect().toMap
      assert(after1 == Map("to" -> 2L, "be" -> 2L, "or" -> 1L, "not" -> 1L))
      input.addData("be")
      q.processAllAvailable()
      // update mode: only the touched key re-emits, with its new total
      val emitted = spark.table("wc_stream").as[(String, Long)].collect()
        .groupBy(_._1).view.mapValues(_.map(_._2).toSeq.sorted).toMap
      assert(emitted("be") == Seq(2L, 3L))
      assert(emitted("to") == Seq(2L))
    } finally q.stop()
  }

  /** Names of the sink's hidden staging directories left under `path`. */
  private def stagingDirs(path: String): Seq[String] =
    new java.io.File(path).list().toSeq.filter(_.startsWith("_staging-"))

  test("idempotentAppend: replaying the same keys is a no-op") {
    import spark.implicits._
    val path = tmpDir("idem")
    // an empty first batch leaves a store that reads back with its schema
    val empty = Seq.empty[(Long, String)].toDF("id", "payload")
    Streams.idempotentAppend(empty, Seq("id"), path)
    assert(spark.read.parquet(path).columns.toSeq == Seq("id", "payload"))
    val batch1 = Seq((1L, "a"), (1L, "a-dup"), (2L, "b")).toDF("id", "payload")
    Streams.idempotentAppend(batch1, Seq("id"), path)
    val parts = new java.io.File(path).list().count(_.startsWith("part-"))
    Streams.idempotentAppend(empty, Seq("id"), path) // adds no file
    assert(new java.io.File(path).list().count(_.startsWith("part-")) == parts)
    // replay with one overlapping and one new key: only the fresh key
    // lands, and the stored row of the old key is left as it was
    val batch2 = Seq((2L, "b-replay"), (3L, "c")).toDF("id", "payload")
    Streams.idempotentAppend(batch2, Seq("id"), path)
    // a part file dropped in by a plain writer is honoured as well
    Seq((4L, "d")).toDF("id", "payload").write.mode("append").parquet(path)
    Streams.idempotentAppend(Seq((4L, "d-replay"), (5L, "e")).toDF("id", "payload"), Seq("id"), path)
    val stored = spark.read.parquet(path).as[(Long, String)].collect().toMap
    assert(stored.keys.toSeq.sorted == Seq(1L, 2L, 3L, 4L, 5L))
    assert(stored(2L) == "b" && stored(3L) == "c" && stored(4L) == "d" && stored(5L) == "e")
    assert(spark.read.parquet(path).count() == 5)
    assert(stagingDirs(path).isEmpty)
  }

  test("idempotentAppend: a partially overlapping multi-column batch appends only its fresh keys") {
    import spark.implicits._
    val path = tmpDir("idem_multi")
    val first = (1L to 20L).map(i => (if (i % 2 == 0) "KRW-A" else "KRW-B", i, s"v$i"))
    Streams.idempotentAppend(first.toDF("code", "seq", "v"), Seq("code", "seq"), path)
    // overlaps [11, 20] and adds [21, 30]; ("KRW-C", 15) is fresh although
    // its seq lies inside the stored range
    val second = (11L to 30L).map(i => (if (i % 2 == 0) "KRW-A" else "KRW-B", i, s"w$i")) :+
      (("KRW-C", 15L, "c15"))
    Streams.idempotentAppend(second.toDF("code", "seq", "v"), Seq("code", "seq"), path)
    val stored = spark.read.parquet(path).as[(String, Long, String)].collect()
    assert(stored.length == 31)
    assert(stored.map(r => (r._1, r._2)).distinct.length == 31)
    assert(stored.filter(_._2 <= 20).filter(_._1 != "KRW-C").forall(_._3.startsWith("v")))
    assert(stored.filter(_._2 > 20).forall(_._3.startsWith("w")))
    assert(stored.exists(_ == (("KRW-C", 15L, "c15"))))
    assert(stagingDirs(path).isEmpty)
  }

  test("idempotentAppend: rows with a null key are appended again on replay") {
    import spark.implicits._
    // as under a SQL unique constraint, NULL never equals NULL: a null
    // key conflicts with nothing, including its own earlier copy
    val path = tmpDir("idem_null")
    val batch = Seq[(String, java.lang.Long, String)](
      ("KRW-A", 1L, "keyed"), (null, 2L, "null-code"), ("KRW-A", null, "null-seq"))
      .toDF("code", "seq", "v")
    Streams.idempotentAppend(batch, Seq("code", "seq"), path)
    Streams.idempotentAppend(batch, Seq("code", "seq"), path)
    // a batch whose keys are all null overlaps no stored range either
    Streams.idempotentAppend(batch.filter($"seq".isNull), Seq("code", "seq"), path)
    val byV = spark.read.parquet(path).groupBy($"v").count().as[(String, Long)].collect().toMap
    assert(byV == Map("keyed" -> 1L, "null-code" -> 2L, "null-seq" -> 3L))
  }

  test("idempotentAppend: a store holding only a crashed write's _temporary/ takes appends") {
    import spark.implicits._
    val path = tmpDir("idem_tmp_only")
    // what a first write that died before its job commit leaves behind
    new java.io.File(s"$path/_temporary/0/_temporary").mkdirs()
    val batch = Seq((1L, "a"), (2L, "b")).toDF("id", "payload")
    Streams.idempotentAppend(batch, Seq("id"), path)
    Streams.idempotentAppend(batch, Seq("id"), path)
    assert(spark.read.parquet(path).select($"id").as[Long].collect().sorted.toSeq == Seq(1L, 2L))
  }

  test("idempotentAppend: an append after N disjoint ones reads no store file and runs 2 jobs") {
    import spark.implicits._
    import org.apache.spark.scheduler._
    val path = tmpDir("idem_scale")
    def batch(n: Int) = (n * 100L until n * 100L + 100L).map(i => (i, s"p$i")).toDF("id", "payload")
    (0 until 12).foreach(n => Streams.idempotentAppend(batch(n), Seq("id"), path))
    val group = s"idem-scale-${System.nanoTime()}"
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val stages = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val bytesRead = new java.util.concurrent.atomic.AtomicLong()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == group)) {
          jobs.incrementAndGet(); e.stageIds.foreach(stages.add)
        }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        if (stages.contains(e.stageId) && e.taskMetrics != null)
          bytesRead.addAndGet(e.taskMetrics.inputMetrics.bytesRead)
    }
    val sc = spark.sparkContext
    org.apache.spark.GraftListenerAccess.drain(sc)
    sc.addSparkListener(listener)
    sc.setJobGroup(group, "idempotentAppend scale check")
    try Streams.idempotentAppend(batch(12), Seq("id"), path)
    finally {
      sc.clearJobGroup()
      org.apache.spark.GraftListenerAccess.drain(sc)
      sc.removeSparkListener(listener)
    }
    assert(jobs.get == 2, "one staged write: its dedup shuffle and the write")
    assert(bytesRead.get == 0L, "no store file is read")
    assert(spark.read.parquet(path).count() == 1300)
  }

  test("idempotentAppend: an unreadable existing store fails loudly instead of duplicating") {
    import spark.implicits._
    val path = tmpDir("idem_corrupt")
    Streams.idempotentAppend(Seq((1L, "a")).toDF("id", "payload"), Seq("id"), path)
    // corrupt the store: truncate every parquet part file to garbage
    val dir = new java.io.File(path)
    dir.listFiles().filter(_.getName.startsWith("part-")).foreach { f =>
      java.nio.file.Files.write(f.toPath, "not parquet".getBytes)
    }
    val replay = Seq((1L, "a-replay")).toDF("id", "payload")
    intercept[Exception] { Streams.idempotentAppend(replay, Seq("id"), path) }
    // nothing was appended: the corrupt part is still the only content
    assert(dir.listFiles().count(_.getName.startsWith("part-")) == 1)
    assert(stagingDirs(path).isEmpty)
  }

  /** Staging directories left anywhere in the store: its root or any
    * partition directory. */
  private def stagingDirsDeep(path: String): Seq[String] = {
    def walk(d: java.io.File): Seq[java.io.File] =
      d.listFiles().toSeq.filter(_.isDirectory).flatMap(c => c +: walk(c))
    walk(new java.io.File(path)).map(_.getName).filter(_.startsWith("_staging-"))
  }

  /** (Spark jobs, input bytes read) of the jobs `body` runs. */
  private def jobsAndBytesRead(body: => Unit): (Int, Long) = {
    import org.apache.spark.scheduler._
    val group = s"idem-count-${System.nanoTime()}"
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val stages = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val bytesRead = new java.util.concurrent.atomic.AtomicLong()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == group)) {
          jobs.incrementAndGet(); e.stageIds.foreach(stages.add)
        }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        if (stages.contains(e.stageId) && e.taskMetrics != null)
          bytesRead.addAndGet(e.taskMetrics.inputMetrics.bytesRead)
    }
    val sc = spark.sparkContext
    org.apache.spark.GraftListenerAccess.drain(sc)
    sc.addSparkListener(listener)
    sc.setJobGroup(group, "idempotentAppend count")
    try body
    finally {
      sc.clearJobGroup()
      org.apache.spark.GraftListenerAccess.drain(sc)
      sc.removeSparkListener(listener)
    }
    (jobs.get, bytesRead.get)
  }

  test("idempotentAppend partitioned: an append after N disjoint ones reads no store file and runs 2 jobs") {
    import spark.implicits._
    val path = tmpDir("idem_part_scale")
    def batch(n: Int) = (n * 100L until n * 100L + 100L)
      .map(i => (i, s"p$i", i % 3)).toDF("id", "payload", "part")
    (0 until 12).foreach(n => Streams.idempotentAppend(batch(n), Seq("id"), path, Seq("part")))
    val (jobs, bytesRead) = jobsAndBytesRead {
      Streams.idempotentAppend(batch(12), Seq("id"), path, Seq("part"))
    }
    assert(jobs == 2, "one staged write: its dedup shuffle and the write")
    assert(bytesRead == 0L, "no store file is read")
    val stored = spark.read.parquet(path)
    assert(stored.count() == 1300)
    assert(stored.filter($"part" =!= $"id" % 3).isEmpty)
    assert(new java.io.File(path).list().sorted.toSeq == Seq("part=0", "part=1", "part=2"))
    assert(stagingDirsDeep(path).isEmpty)
  }

  test("idempotentAppend partitioned: replaying a plain partitioned write's rows adds nothing") {
    import spark.implicits._
    val path = tmpDir("idem_part_plain") + "/store"
    val rows = (0L until 400L).map(i => (i, s"p$i", i % 4)).toDF("id", "payload", "day")
    // two tasks, each writing every day: the same part-file names repeat
    // in every day= directory
    rows.repartition(2).write.partitionBy("day").parquet(path)
    val names = new java.io.File(path).listFiles().toSeq.filter(_.isDirectory)
      .flatMap(_.list().filter(_.startsWith("part-")))
    assert(names.distinct.length < names.length, "part-file names must repeat across partitions")
    Streams.idempotentAppend(rows, Seq("id"), path, Seq("day"))
    assert(spark.read.parquet(path).count() == 400)
    Streams.idempotentAppend(
      (390L until 410L).map(i => (i, s"q$i", i % 4)).toDF("id", "payload", "day"), Seq("id"), path, Seq("day"))
    val stored = spark.read.parquet(path)
    assert(stored.count() == 410)
    assert(stored.groupBy($"id").count().filter($"count" =!= 1).isEmpty)
    assert(stored.filter($"id" === 395L).as[(Long, String, Long)].collect().toSeq == Seq((395L, "p395", 3L)))
    assert(stagingDirsDeep(path).isEmpty)
  }

  test("idempotentAppend partitioned: a key redelivered under another partition is not appended again") {
    import spark.implicits._
    val path = tmpDir("idem_part_move")
    Streams.idempotentAppend(Seq((1L, "a", 19730L), (2L, "b", 19730L)).toDF("event_id", "v", "day"),
      Seq("event_id"), path, Seq("day"))
    // event 2 redelivered with a ts in the next day, next to a fresh event
    Streams.idempotentAppend(Seq((2L, "b-late", 19731L), (3L, "c", 19731L)).toDF("event_id", "v", "day"),
      Seq("event_id"), path, Seq("day"))
    val stored = spark.read.parquet(path).as[(Long, String, Long)].collect().sortBy(_._1).toSeq
    assert(stored == Seq((1L, "a", 19730L), (2L, "b", 19730L), (3L, "c", 19731L)))
    assert(stagingDirsDeep(path).isEmpty)
  }

  test("idempotentAppend: an append whose layout disagrees with the store's fails") {
    import spark.implicits._
    val path = tmpDir("idem_layout")
    val batch = Seq((1L, "a", 0L)).toDF("id", "payload", "part")
    Streams.idempotentAppend(batch, Seq("id"), path, Seq("part"))
    val flat = intercept[IllegalArgumentException] {
      Streams.idempotentAppend(Seq((2L, "b", 0L)).toDF("id", "payload", "part"), Seq("id"), path)
    }
    assert(flat.getMessage.contains("part=0/") && flat.getMessage.contains("layout"))
    intercept[IllegalArgumentException] {
      Streams.idempotentAppend(batch, Seq("id"), path, Seq("payload"))
    }
    assert(new java.io.File(path).list().toSeq == Seq("part=0"))
    assert(spark.read.parquet(path).count() == 1)
  }

  test("routeByType: one partitioned write, each type independently readable") {
    import spark.implicits._
    val path = tmpDir("route")
    val batch = Seq((1L, "trade", 1.0), (2L, "orderbook", 2.0), (3L, "trade", 3.0))
      .toDF("id", "rec_type", "value")
    Streams.routeByType(batch, "rec_type", path)
    assert(spark.read.parquet(path + "/rec_type=trade").count() == 2)
    assert(spark.read.parquet(path + "/rec_type=orderbook").count() == 1)
  }

  test("kafka option maps mirror the reference producer/consumer profile") {
    val src = Streams.kafkaSourceOptions("broker:9092", Seq("upbit.trades.v1", "upbit.orderbooks.v1"))
    assert(src("subscribe") == "upbit.trades.v1,upbit.orderbooks.v1")
    val sink = Streams.kafkaSinkOptions("broker:9092", "upbit.trades.v1")
    assert(sink("kafka.compression.type") == "lz4")
    assert(sink("kafka.linger.ms") == "5")
    assert(sink("kafka.batch.size") == "16384")
    assert(sink("kafka.acks") == "all")
  }

  test("density signals: streaming across micro-batches equals the batch replay") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    // synthetic: flat baseline of 100s then a crash to 10 for one user
    val base = 1700000000000L
    val rows = (0 until 30).map(i =>
      DensitySignals.DsEvent(5L, base + i * 60000L, i.toLong, 100.0)) :+
      DensitySignals.DsEvent(5L, base + 30 * 60000L, 30L, 10.0)
    val input = MemoryStream[DensitySignals.DsEvent]
    val q = DensitySignals.detectStream(input.toDS())
      .writeStream.format("memory").queryName("density_stream")
      .outputMode("append").start()
    try {
      input.addData(rows.take(15))
      q.processAllAvailable()
      input.addData(rows.drop(15))
      q.processAllAvailable()
      val got = spark.table("density_stream").as[DensitySignals.Signal]
        .collect().sortBy(_.event_id).toSeq
      val expected = DensitySignals.runKey(5L,
        rows.sortBy(_.ts_ms).iterator.map(e => (e.ts_ms, e.event_id, e.value)))._2
      assert(got == expected)
      assert(got.map(_.event_id) == Seq(30L)) // only the crash event signals
      assert(got.head.baseline == 100.0)
    } finally q.stop()
  }
}
