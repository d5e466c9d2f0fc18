package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.SparkSpec.Sf0001
import graft.sources.Tables

class ScaleSpec extends SparkSpec {

  test("salted aggregation equals the direct groupBy exactly") {
    import spark.implicits._
    val ev = Tables.events(spark, Sf0001)
    val salted = Scale.saltedCountSum(ev, "event_type", "value", "event_id")
      .orderBy($"event_type").collect().toSeq
    val direct = ev.groupBy($"event_type")
      .agg(count(lit(1)).as("n"),
        sum($"value".cast("decimal(18,6)")).cast("double").as("total"))
      .orderBy($"event_type").collect().toSeq
    assert(salted == direct)
  }

  test("salted join equals the direct join exactly (every probe row meets its build row once)") {
    import spark.implicits._
    val li = Tables.lineitem(spark, Sf0001)
      .select($"l_orderkey", $"l_extendedprice", $"l_linenumber")
    val ord = Tables.orders(spark, Sf0001)
      .select($"o_orderkey".as("l_orderkey"), $"o_custkey")
    val salted = Scale.saltedJoin(li, ord, "l_orderkey",
      struct($"l_orderkey", $"l_linenumber"))
      .select($"l_orderkey", $"l_linenumber", $"o_custkey")
      .collect().map(_.toSeq).toSeq.sortBy(_.toString)
    val direct = li.join(ord, Seq("l_orderkey"))
      .select($"l_orderkey", $"l_linenumber", $"o_custkey")
      .collect().map(_.toSeq).toSeq.sortBy(_.toString)
    assert(salted.nonEmpty && salted == direct)
  }

  test("salt column is deterministic and bounded") {
    import spark.implicits._
    val ev = Tables.events(spark, Sf0001).select($"event_id")
    val s1 = ev.select(Scale.saltCol($"event_id", 16).as("s")).collect().map(_.getInt(0))
    val s2 = ev.select(Scale.saltCol($"event_id", 16).as("s")).collect().map(_.getInt(0))
    assert(s1.toSeq == s2.toSeq)
    assert(s1.forall(s => s >= 0 && s < 16))
    assert(s1.distinct.length > 1) // actually spreads
  }

  test("writeRangeSorted: disjoint per-file key ranges, expected file count, nothing lost") {
    import spark.implicits._
    val docs = Tables.documents(spark, Sf0001).select($"doc_id", $"lang")
    val total = docs.count()
    val out = java.nio.file.Files.createTempDirectory("range_sorted").toString
    try {
      val files = Scale.writeRangeSorted(docs, "doc_id", targetRows = 15, path = out)
      assert(files == (total + 14) / 15)
      val back = spark.read.parquet(out)
        .select(input_file_name().as("f"), $"doc_id")
      assert(back.count() == total) // nothing dropped or duplicated
      val ranges = back.groupBy($"f")
        .agg(min($"doc_id").as("lo"), max($"doc_id").as("hi"))
        .collect().map(r => (r.getLong(1), r.getLong(2))).sortBy(_._1)
      assert(ranges.length == files)
      // file key ranges must not overlap — that disjointness is what
      // makes a key-range predicate prune whole files
      ranges.sliding(2).foreach {
        case Array((_, hi1), (lo2, _)) => assert(hi1 < lo2)
        case _ =>
      }
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(out))
    }
  }

  test("writeZordered: disjoint z-ranges, lossless, and BOTH dims' footer spans shrink vs the time sort") {
    import spark.implicits._
    val e = Tables.events(spark, Sf0001)
      .select($"event_id", $"user_id", unix_micros($"ts").as("tmu"))
    val total = e.count()
    val target = (total + 15) / 16 // ~16 files either layout
    val outZ = java.nio.file.Files.createTempDirectory("zorder").toString
    val outT = java.nio.file.Files.createTempDirectory("tsort").toString
    try {
      val nz = Scale.writeZordered(e, "user_id", "tmu", target, outZ, Some(total))
      Scale.writeRangeSorted(e, "tmu", target, outT, Some(total))
      // lossless: same multiset of events back
      val back = spark.read.parquet(outZ)
      assert(back.count() == total)
      assert(back.select($"event_id").except(e.select($"event_id")).isEmpty)
      // per-file z-ranges are disjoint (recomputed with the writer's own
      // formula over the full read-back, so the grid bounds match)
      // capture the file name BELOW the quantizer (its bounds cross-join
      // makes input_file_name multi-source above it)
      def spans(path: String) = Scale.zQuantize(
          spark.read.parquet(path)
            .select(input_file_name().as("f"), $"user_id", $"tmu"),
          "user_id", "tmu")
        .groupBy($"f")
        .agg(min($"zval").as("zlo"), max($"zval").as("zhi"),
          (max($"ub") - min($"ub")).as("us"), (max($"tb") - min($"tb")).as("ts"))
        .collect().map(r => (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      val zs = spans(outZ).sortBy(_._1)
      assert(zs.length == nz)
      zs.sliding(2).foreach {
        case Array((_, hi1, _, _), (lo2, _, _, _)) => assert(hi1 < lo2)
        case _ =>
      }
      // the layout case (the X101 audit, now on REAL files): z-order
      // bounds BOTH dims at ~sqrt granularity — a predicate on either
      // dim skips files — while the single-key time sort leaves the
      // user dim spanning the whole grid in every file
      val ts = spans(outT)
      def avg(xs: Array[Long]) = xs.sum.toDouble / xs.length
      val (zU, zT) = (avg(zs.map(_._3)), avg(zs.map(_._4)))
      val tU = avg(ts.map(_._3))
      assert(zU < 600 && zT < 600,
        s"z-order must bound both dims on average, got user=$zU time=$zT")
      assert(tU > 900, s"time sort should leave the user dim unbounded, got $tU")
      assert(zU < tU / 2)
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(outZ))
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(outT))
    }
  }

  test("expireDays: drops exactly the partitions below the horizon, touches nothing else") {
    import spark.implicits._
    val out = java.nio.file.Files.createTempDirectory("retention").toString
    try {
      (0L until 100L).map(i => (i, 19720L + i % 10)).toDF("id", "day")
        .write.mode("overwrite").partitionBy("day").parquet(out)
      val survivorsBefore = spark.read.parquet(out)
        .filter($"day" >= 19725L).orderBy($"id").collect().toSeq
      val dropped = Scale.expireDays(spark, out, 19725L)
      assert(dropped == 5L, s"five day directories below the cutoff, got $dropped")
      val dirs = new java.io.File(out).listFiles()
        .filter(_.getName.startsWith("day=")).map(_.getName).sorted
      assert(dirs.toSeq == (19725L to 19729L).map(d => s"day=$d"))
      // surviving rows are byte-identical — expiry never rewrites data
      assert(spark.read.parquet(out).orderBy($"id").collect().toSeq
        == survivorsBefore)
      // idempotent: a second expiry finds nothing to drop
      assert(Scale.expireDays(spark, out, 19725L) == 0L)
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(out))
    }
  }

  test("day-store lifecycle: appends pile files, backfill swaps one day, compaction leaves one file per day") {
    import spark.implicits._
    val out = java.nio.file.Files.createTempDirectory("day_life").toString + "/store"
    def filesOf(day: Long) = {
      val d = new java.io.File(s"$out/day=$day")
      if (d.exists()) d.listFiles().count(_.getName.endsWith(".parquet")) else 0
    }
    // three appends of 2 days × 10 rows, day 20 corrupted (v doubled)
    val mk = (b: Long) => (0L until 20L)
      .map(i => (b * 100 + i, 20L + i % 2, if (i % 2 == 0) 2L else 7L))
      .toDF("id", "day", "v")
    (0L until 3L).foreach(b => mk(b).write.mode("append").partitionBy("day").parquet(out))
    assert(filesOf(20L) >= 3 && filesOf(21L) >= 3, "each append adds files")
    val day21Before = spark.read.parquet(s"$out/day=21").orderBy($"id").collect().toSeq
    // backfill day 20 with corrected values (v = 3)
    val fixed = (0L until 3L).flatMap(b => (0L until 20L by 2)
      .map(i => (b * 100 + i, 3L))).toDF("id", "v")
    Scale.backfillDay(spark, out, 20L, fixed)
    assert(spark.read.parquet(s"$out/day=21").orderBy($"id").collect().toSeq
      == day21Before, "backfill must not touch other days")
    assert(spark.read.parquet(out).filter($"day" === 20L && $"v" =!= 3L).isEmpty)
    Scale.compactDayStore(spark, out)
    assert(filesOf(20L) == 1 && filesOf(21L) == 1,
      "compaction must leave exactly one file per day")
    val all = spark.read.parquet(out)
    assert(all.count() == 60L)
    assert(all.filter($"day" === 20L).count() == 30L)
    assert(all.filter($"day" === 21L && $"v" =!= 7L).isEmpty)
  }

  test("writeRangeSorted: heavy ties collapse partitions — returns files actually written") {
    import spark.implicits._
    // constant key: repartitionByRange puts every row in one range, so
    // the planned ceil(n/target) over-reports; the return value must be
    // the real layout (1 data file), which is what callers assert on
    val docs = Tables.documents(spark, Sf0001)
      .select(lit(1L).as("k"), $"doc_id")
    val out = java.nio.file.Files.createTempDirectory("range_ties").toString
    try {
      val files = Scale.writeRangeSorted(docs, "k", targetRows = 15, path = out,
        rowCount = Some(docs.count()))
      assert(files == 1L)
      assert(spark.read.parquet(out).count() == docs.count())
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(out))
    }
  }

  test("bucketed tables co-locate the join: no shuffle exchange in the plan") {
    import spark.implicits._
    // tables land in the default warehouse dir (gitignored) and are
    // dropped below; warehouse.dir is a static conf and can't be moved
    val orders = Tables.orders(spark, Sf0001)
    val customer = Tables.customer(spark, Sf0001)
    orders.write.mode("overwrite").bucketBy(8, "o_custkey")
      .sortBy("o_custkey").saveAsTable("orders_bkt")
    customer.write.mode("overwrite").bucketBy(8, "c_custkey")
      .sortBy("c_custkey").saveAsTable("customer_bkt")
    try {
      // force the shuffle-join path (tiny SF would broadcast and skip
      // bucketing entirely); at real scale both sides exceed the
      // threshold and this is the planner's own choice
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
      val joined = spark.table("orders_bkt")
        .join(spark.table("customer_bkt"), $"o_custkey" === $"c_custkey")
      val plan = joined.queryExecution.executedPlan.toString
      // both sides scan their buckets; the join needs no shuffle
      assert(plan.contains("SortMergeJoin") || plan.contains("ShuffledHashJoin"))
      assert(!plan.contains("Exchange hashpartitioning"))
      assert(plan.contains("Bucketed: true"))
      assert(joined.count() == orders.count()) // every order matches one customer
    } finally {
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      spark.conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold")
      spark.sql("DROP TABLE IF EXISTS orders_bkt")
      spark.sql("DROP TABLE IF EXISTS customer_bkt")
    }
  }

  test("runtime bloom filter prunes the fact scan behind a selective dim filter") {
    import spark.implicits._
    // At 100 TB a selective dimension predicate should reach the fact
    // side BEFORE the shuffle: Spark's InjectRuntimeFilter builds a
    // bloom filter from the filtered creation side and applies
    // might_contain on the application side's scan. Test data is below
    // the default size thresholds, so lower them to observe the same
    // plan the optimizer produces at scale; values are restored after.
    spark.conf.set("spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "0")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    try {
      val li = Tables.lineitem(spark, Sf0001)
      val ord = Tables.orders(spark, Sf0001).filter($"o_totalprice" > 400000.0)
      val j = li.join(ord, $"l_orderkey" === $"o_orderkey")
        .groupBy($"o_orderstatus").agg(count(lit(1)).as("n"))
      val plan = j.queryExecution.executedPlan.toString
      assert(plan.contains("might_contain"), "bloom filter must reach the fact side")
      assert(plan.contains("bloom_filter_agg"))
      // and the pruned result is still exact
      val expected = li.join(ord, $"l_orderkey" === $"o_orderkey").count()
      assert(j.agg(sum($"n")).head.getLong(0) == expected)
    } finally {
      spark.conf.unset("spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold")
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      spark.conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold")
    }
  }

  test("bucketed twin tables are faithful copies with aligned one-file-per-bucket layout") {
    import spark.implicits._
    val (liT, ordT) = Scale.bucketedTables(spark, Sf0001)
    val li = spark.table(liT)
    // content fidelity: same row count and same per-key mass as source
    assert(li.count() == Tables.lineitem(spark, Sf0001).count())
    val srcAgg = Tables.lineitem(spark, Sf0001)
      .agg(sum($"l_quantity".cast("decimal(18,6)"))).head.getDecimal(0)
    assert(li.agg(sum($"l_quantity".cast("decimal(18,6)"))).head.getDecimal(0)
      == srcAgg)
    // layout: the repartition-aligned write emits one file per bucket,
    // not numShufflePartitions x buckets small files
    val loc = spark.sql(s"DESCRIBE TABLE EXTENDED $liT")
      .filter($"col_name" === "Location").head.getString(1)
    val files = new java.io.File(new java.net.URI(loc)).listFiles()
      .filter(f => f.getName.endsWith(".parquet"))
    assert(files.length == Scale.NumBuckets,
      s"expected ${Scale.NumBuckets} bucket files, found ${files.length}")
    // append layout: the increment adds at most one file per bucket
    val (liA, _) = Scale.bucketedAppendTables(spark, Sf0001)
    val locA = spark.sql(s"DESCRIBE TABLE EXTENDED $liA")
      .filter($"col_name" === "Location").head.getString(1)
    val filesA = new java.io.File(new java.net.URI(locA)).listFiles()
      .filter(f => f.getName.endsWith(".parquet"))
    assert(filesA.length <= 2 * Scale.NumBuckets,
      "base + one ingest batch = at most two files per bucket")
    assert(Scale.qBucketedAppend(spark, Sf0001).collect().toSeq ==
      Scale.qBucketedJoin(spark, Sf0001).collect().toSeq,
      "append path reconstructs the full table content")
    // co-location end to end: bucketed join result equals the plain join
    val bucketed = Scale.qBucketedJoin(spark, Sf0001).collect().toSeq
    val plain = Tables.lineitem(spark, Sf0001)
      .join(Tables.orders(spark, Sf0001), $"l_orderkey" === $"o_orderkey")
      .groupBy($"o_orderpriority")
      .agg(count(lit(1)).as("n_items"),
        Relational.dsum($"l_quantity").as("sum_qty"),
        Relational.drevenue($"l_extendedprice", $"l_discount").as("revenue"))
      .orderBy($"o_orderpriority").collect().toSeq
    assert(bucketed == plain)
  }

  test("bucketed lifecycle: batch appends then compaction — one file per bucket, content and co-location preserved") {
    import spark.implicits._
    val t = "g_lifecycle_test"
    spark.sql(s"DROP TABLE IF EXISTS $t")
    val wh = spark.conf.get("spark.sql.warehouse.dir")
    val dirF = new java.io.File(new java.net.URI(
      wh.stripSuffix("/") + "/" + t))
    if (dirF.exists()) { def rm(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(rm); f.delete(); () }; rm(dirF) }
    val mk = (lo: Long, hi: Long) =>
      (lo until hi).map(i => (i, s"v$i")).toDF("k", "payload")
    // three ingest batches
    Scale.appendBucketedBatch(mk(0L, 50L), "k", t)
    Scale.appendBucketedBatch(mk(50L, 80L), "k", t)
    Scale.appendBucketedBatch(mk(80L, 100L), "k", t)
    val before = spark.table(t).orderBy($"k").collect().toSeq
    assert(before.length == 100)
    Scale.compactBucketed(spark, t, "k")
    val loc = spark.sql(s"DESCRIBE TABLE EXTENDED $t")
      .filter($"col_name" === "Location").head.getString(1)
    val files = new java.io.File(new java.net.URI(loc)).listFiles()
      .filter(_.getName.endsWith(".parquet"))
    assert(files.length == Scale.NumBuckets,
      s"compaction must leave one file per bucket, got ${files.length}")
    assert(spark.table(t).orderBy($"k").collect().toSeq == before,
      "compaction must not change content")
    // co-location: self-join on the bucket key plans without exchanges
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    try {
      val j = spark.table(t).join(
        spark.table(t).select($"k", $"payload".as("p2")), Seq("k"))
      val plan = j.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange hashpartitioning"),
        "compacted buckets must still co-locate:\n" + plan)
    } finally {
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      spark.conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold")
    }
    spark.sql(s"DROP TABLE IF EXISTS $t")
  }

  test("schema widening: mergeSchema hard-fails on INT32->INT64, the per-generation union serves it") {
    import spark.implicits._
    val path = Scale.widenedStore(spark, Sf0001)
    // the posture is necessary, not a stylistic choice: parquet schema
    // merging refuses to widen numeric types
    val ex = intercept[Throwable] {
      spark.read.option("mergeSchema", "true").parquet(path).collect()
    }
    def msgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(e => Option(e.getMessage).toSeq ++ msgs(e.getCause))
    assert(msgs(ex).exists(m => m.toLowerCase.contains("merge")),
      s"expected a schema-merge failure, got: $ex")
    // the widened read serves BOTH generations at the widest type,
    // losing nothing vs the source table
    val df = Scale.readWidened(spark, path)
    assert(df.schema("cents").dataType ==
      org.apache.spark.sql.types.LongType)
    val ev = graft.sources.Tables.events(spark, Sf0001)
    assert(df.count() == ev.count())
    val gens = df.select(
        ($"day".cast("long") >= Scale.EvolveDay).as("v2"))
      .groupBy($"v2").count().collect().map(r => r.getBoolean(0) -> r.getLong(1)).toMap
    assert(gens.keySet == Set(true, false), "both generations must be present")
    // value fidelity across the cast: total cents match the source
    val expected = ev
      .select(($"value".cast(org.apache.spark.sql.types.DecimalType(18, 6)) * 100)
        .cast("long").as("c"))
      .agg(org.apache.spark.sql.functions.sum($"c")).head.getLong(0)
    assert(df.agg(org.apache.spark.sql.functions.sum($"cents")).head.getLong(0) == expected)
  }

  test("zorderPrunedRead: footer manifest turns the box into a file list — fewer files, no lost rows") {
    import spark.implicits._
    val base = Scale.zorderStore(spark, Sf0001)
    val (aLo, aHi, bLo, bHi) = Scale.zorderBox(spark, base)
    val (pruned, read, total) = Scale.zorderPrunedRead(spark, base, aLo, aHi, bLo, bHi)
    // the audit's claimed benefit, actually served: a quarter×quarter
    // box must open a strict minority of the z-ordered files
    assert(total >= 16, s"store should have >=16 files, got $total")
    assert(read < total / 2, s"pruning must skip most files: read $read of $total")
    assert(read > 0, "the box is data-derived, it cannot be empty")
    // row-equality against the unpruned read with the same predicate:
    // manifest pruning is metadata-only, it may never change results
    val full = spark.read.parquet(s"$base/data")
      .filter($"user_id".between(aLo, aHi) && $"tmu".between(bLo, bHi))
    assert(pruned.count() == full.count())
    assert(pruned.select($"event_id").except(full.select($"event_id")).isEmpty)
    assert(full.select($"event_id").except(pruned.select($"event_id")).isEmpty)
    // the manifest really is the footers: every data row sits inside
    // its file's recorded envelope (spot-checked via a full read-back)
    val man = spark.read.parquet(s"$base/manifest").collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .toMap
    val viol = spark.read.parquet(s"$base/data")
      .select(input_file_name().as("f"), $"user_id", $"tmu")
      .collect().count { r =>
        val name = r.getString(0).split('/').last
        val (lo, hi, tlo, thi) = man(name)
        r.getLong(1) < lo || r.getLong(1) > hi || r.getLong(2) < tlo || r.getLong(2) > thi
      }
    assert(viol == 0, s"$viol rows outside their file's manifest envelope")
  }

  test("bloomPrunedRead: point probes open few files, never lose a row, absent ids find nothing") {
    import spark.implicits._
    val base = Scale.bloomStore(spark, Sf0001)
    val ids = Scale.bloomProbeIds(spark, base)
    val (pruned, read, total) = Scale.bloomPrunedRead(spark, base, ids)
    // the skipping claim, actually served: 3 point probes against a
    // 16-file day-sharded store must skip a strict majority of files
    assert(total >= Scale.BloomStoreFiles / 2, s"store too small: $total files")
    assert(read < total, s"bloom must prune: read $read of $total")
    assert(read <= ids.length + 2, // true files + a small FP allowance
      s"matched-file list should be probe-bounded: $read for ${ids.length} ids")
    // no-false-negative proof: equality against the direct id filter
    val full = spark.read.parquet(s"$base/data")
      .filter($"event_id".isin(ids: _*))
    assert(pruned.count() == full.count())
    assert(pruned.select($"event_id").except(full.select($"event_id")).isEmpty)
    assert(full.select($"event_id").except(pruned.select($"event_id")).isEmpty)
    // an id outside the store: the bloom may false-positive a file
    // open, but the residual filter guarantees zero rows either way
    val absent = Seq(ids.max + 999983L)
    val (none, _, _) = Scale.bloomPrunedRead(spark, base, absent)
    assert(none.count() == 0L)
    // the manifest really is a per-file filter: every stored id's k
    // positions are set in its own file's words
    val manifest = spark.read.parquet(s"$base/manifest").collect()
      .groupBy(_.getString(0)).view
      .mapValues(_.map(r => r.getLong(1) -> r.getLong(2)).toMap).toMap
    val sample = spark.read.parquet(s"$base/data")
      .select(input_file_name().as("f"), $"event_id").limit(200).collect()
    val posOf = (id: Long) => (0 until Scale.BloomPruneK).map { j =>
      val h = java.security.MessageDigest.getInstance("SHA-256")
        .digest(s"$j|$id".getBytes("UTF-8"))
      var v = 0L; (0 until 8).foreach(i => v = (v << 8) | (h(i) & 0xffL))
      (v >>> 4) % Scale.BloomPruneBits
    }
    sample.foreach { r =>
      val words = manifest(r.getString(0).split('/').last)
      posOf(r.getLong(1)).foreach { p =>
        assert((words(p / 64) & (1L << (p % 64).toInt)) != 0L,
          s"id ${r.getLong(1)} bit $p missing from its file's filter")
      }
    }
  }

  test("bloomIncStore: the appended batch lands as new files + appended manifest rows, base manifest untouched") {
    import spark.implicits._
    val base = Scale.bloomIncStore(spark, Sf0001)
    val conf = spark.sparkContext.hadoopConfiguration
    val dataP = new org.apache.hadoop.fs.Path(s"$base/data")
    val fs = dataP.getFileSystem(conf)
    val files = fs.listStatus(dataP).toSeq.map(_.getPath.getName)
      .filter(_.startsWith("part-"))
    val incFiles = files.filter(_.startsWith("part-inc-"))
    assert(incFiles.nonEmpty, "the batch must land as its own files")
    assert(files.size > incFiles.size, "base files must still be there")
    // manifest: one parquet file per build step (append, not rewrite)
    val manP = new org.apache.hadoop.fs.Path(s"$base/manifest")
    val manParts = fs.listStatus(manP).toSeq
      .count(f => f.isFile && f.getPath.getName.startsWith("part-"))
    assert(manParts >= 2, "the increment must APPEND manifest rows")
    // every data file (old and new) carries filter rows
    val manFiles = spark.read.parquet(s"$base/manifest")
      .select($"file").distinct().collect().map(_.getString(0)).toSet
    assert(files.toSet == manFiles,
      s"manifest files ${manFiles.size} != data files ${files.size}")
    // the probe path cannot tell increment from rebuild: equality
    // against the direct filter, incl. an id that lives in an inc file
    val incId = spark.read.parquet(s"$base/data/${incFiles.head}")
      .agg(min($"event_id")).head.getLong(0)
    val ids = Scale.bloomProbeIds(spark, base) :+ incId
    val (pruned, read, total) = Scale.bloomPrunedRead(spark, base, ids)
    assert(read < total)
    val full = spark.read.parquet(s"$base/data")
      .filter($"event_id".isin(ids: _*))
    assert(pruned.count() == full.count() && pruned.count() >= ids.length - 1)
    assert(pruned.select($"event_id").except(full.select($"event_id")).isEmpty)
    assert(full.select($"event_id").except(pruned.select($"event_id")).isEmpty)
  }

  test("time travel: snapshots isolate — compaction keeps v1/v2 readable, vacuum is the only deleter") {
    import spark.implicits._
    val base = Scale.timeTravelStore(spark, Sf0001)
    val v1 = Scale.readAsOf(spark, base, 1)
    val v2 = Scale.readAsOf(spark, base, 2)
    val v3 = Scale.readAsOf(spark, base, 3)
    // v2 = v1 + the appended days; v3 is a pure rewrite of v2
    assert(v1.count() < v2.count())
    assert(v2.count() == v3.count())
    assert(v2.select($"event_id").except(v3.select($"event_id")).isEmpty)
    assert(v3.select($"event_id").except(v2.select($"event_id")).isEmpty)
    assert(v1.select($"event_id").except(v2.select($"event_id")).isEmpty,
      "a commit may only add")
    // compaction shrank the file count without touching old snapshots
    def filesOf(v: Int): Seq[String] = spark.read
      .parquet(s"$base/manifests/v$v").collect().map(_.getString(0)).toSeq
    assert(filesOf(3).length < filesOf(2).length)
    assert(filesOf(3).toSet.intersect(filesOf(2).toSet).isEmpty,
      "compaction writes a new generation, never mutates old files")
    // vacuum on a COPY (the memoized store must stay intact): dropping
    // everything below v3 deletes files yet v3 still serves
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = new org.apache.hadoop.fs.Path(base).getFileSystem(conf)
    val copy = java.nio.file.Files.createTempDirectory("tt_vacuum").toString + "/copy"
    fs.delete(new org.apache.hadoop.fs.Path(copy), true)
    org.apache.hadoop.fs.FileUtil.copy(fs, new org.apache.hadoop.fs.Path(base),
      fs, new org.apache.hadoop.fs.Path(copy), false, conf)
    val dropped = Scale.vacuumBefore(spark, copy, keepFrom = 3)
    assert(dropped > 0, "vacuum must reclaim the pre-compaction files")
    assert(Scale.readAsOf(spark, copy, 3).count() == v3.count())
    val v1Gone = intercept[Exception] {
      Scale.readAsOf(spark, copy, 1).count()
    }
    assert(v1Gone != null, "time travel below the vacuum horizon must fail loudly")
    fs.delete(new org.apache.hadoop.fs.Path(copy), true)
  }

  // X211 — upsert-store lifecycle completion: per-shard compaction +
  // vacuum on the LIVE time-travel store under a concurrent reader
  test("compactUpsertShards: multi-file shards fold to one file, content and single-file shards untouched") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("upsert_compact").toString
    val base = s"$dir/store"
    (0L until 64L).map(k => (k, s"P${k % 3}", k + 7L))
      .toDF("k", "prio", "cents")
      .withColumn("shard", pmod($"k", lit(Scale.UpsertShards.toLong)))
      .repartition(Scale.UpsertShards, $"shard")
      .write.partitionBy("shard").parquet(s"$base/data")
    // two parallel-writer appends grow shard 5 to three files
    (1 to 2).foreach { i =>
      Seq((64L * i + 5L, "PX", 1L)).toDF("k", "prio", "cents").coalesce(1)
        .write.mode("append").parquet(s"$base/data/shard=5")
    }
    val conf = spark.sparkContext.hadoopConfiguration
    def snap(shard: Long) = {
      val p = new org.apache.hadoop.fs.Path(s"$base/data/shard=$shard")
      p.getFileSystem(conf).listStatus(p).toSeq.filter(_.isFile)
        .map(f => (f.getPath.getName, f.getLen, f.getModificationTime))
        .sortBy(_._1)
    }
    def content() = spark.read.parquet(s"$base/data")
      .select($"k", $"prio", $"cents")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    def partFiles(shard: Long) =
      snap(shard).count(_._1.startsWith("part-"))
    val before = content()
    assert(partFiles(5L) == 3)
    val others = (0L until 16L).filterNot(_ == 5L).map(s => s -> snap(s)).toMap
    assert(Scale.compactUpsertShards(spark, base) == 1L,
      "only the grown shard compacts")
    assert(content() == before, "compaction must not change the data")
    assert(partFiles(5L) == 1, "the grown shard folds to one file")
    others.foreach { case (s, b) =>
      assert(snap(s) == b, s"single-file shard $s rewritten")
    }
    // the lifecycle composes: a merge after compaction behaves normally
    Scale.mergeUpsert(spark, base, Seq(5L).toDF("k"),
      Seq((21L, "PN", 42L)).toDF("k", "prio", "cents"))
    val after = content()
    assert(!after.exists(_._1 == 5L) && after.exists(_._1 == 21L))
  }

  test("gate store survives compaction: q_merge_upsert rows identical before and after") {
    val before = Scale.qMergeUpsert(spark, Sf0001).collect().toSeq
    val base = Scale.upsertStore(spark, Sf0001)
    Scale.compactUpsertShards(spark, base)
    assert(Scale.qMergeUpsert(spark, Sf0001).collect().toSeq == before)
  }

  test("vacuum on the LIVE time-travel store: a concurrent v3 reader is isolated, v1 dies, the gate rebuilds") {
    import spark.implicits._
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val base = Scale.timeTravelStore(spark, Sf0001)
    val v3Before = Scale.readAsOf(spark, base, 3)
      .groupBy($"event_type").agg(count(lit(1)).as("n"), sum($"cents").as("c"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    // reader thread loops over v3 (manifest-scoped reads) WHILE the
    // vacuum deletes every pre-v3 generation on the same live store
    val reader = Future {
      (1 to 5).map { _ =>
        Scale.readAsOf(spark, base, 3)
          .groupBy($"event_type").agg(count(lit(1)).as("n"), sum($"cents").as("c"))
          .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
      }
    }
    val dropped = Scale.vacuumBefore(spark, base, keepFrom = 3)
    val reads = Await.result(reader, 120.seconds)
    assert(dropped > 0, "vacuum must reclaim pre-v3 files")
    reads.zipWithIndex.foreach { case (r, i) =>
      assert(r == v3Before, s"concurrent v3 read $i diverged under vacuum")
    }
    assert(Scale.readAsOf(spark, base, 3)
      .groupBy($"event_type").agg(count(lit(1)).as("n"), sum($"cents").as("c"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
      == v3Before, "v3 serves identically after the vacuum")
    assert(intercept[Exception] {
      Scale.readAsOf(spark, base, 1).count()
    } != null, "v1 must fail loudly below the vacuum horizon")
    // restore the shared store for the gate: drop the memo + dir so the
    // next qTimeTravel call rebuilds from scratch — and prove it does
    val fs = new org.apache.hadoop.fs.Path(base)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    graft.core.Memo.clear()
    fs.delete(new org.apache.hadoop.fs.Path(base), true)
    assert(Scale.qTimeTravel(spark, Sf0001).count() > 0,
      "the gate must rebuild green after a live vacuum")
  }

  test("mergeUpsert: deletes/updates/inserts land, precedence holds, untouched shards stay byte-identical") {
    import spark.implicits._
    val conf = spark.sparkContext.hadoopConfiguration
    val base = java.nio.file.Files.createTempDirectory("upsert_spec").toString + "/store"
    val basePath = new org.apache.hadoop.fs.Path(base)
    val fs = basePath.getFileSystem(conf)
    fs.delete(basePath, true)
    // keys 0..63 -> shards 0..15, four keys each
    val rows = (0L until 64L).map(k => (k, s"P${k % 3}", k * 100L + 7L))
    rows.toDF("k", "prio", "cents")
      .withColumn("shard", pmod($"k", lit(Scale.UpsertShards.toLong)))
      .repartition(Scale.UpsertShards, $"shard")
      .write.partitionBy("shard").parquet(s"$base/data")
    def snap(shard: Long): Seq[(String, Long, Long)] = {
      val p = new org.apache.hadoop.fs.Path(s"$base/data/shard=$shard")
      fs.listStatus(p).toSeq.filter(_.isFile).map(f =>
        (f.getPath.getName, f.getLen, f.getModificationTime)).sortBy(_._1)
    }
    val untouchedBefore = (0L until 16L).filterNot(Set(1L, 2L, 3L))
      .map(s => s -> snap(s)).toMap
    // batch: delete 17 (shard 1), update 18 (shard 2), upsert-insert
    // 1000003 (shard 3), and delete+update 33 (shard 1) - delete wins
    val deletes = Seq(17L, 33L).toDF("k")
    val upserts = Seq((18L, "PX", 999L), (33L, "PY", 111L),
      (1000003L, "PN", 42L)).toDF("k", "prio", "cents")
    val touched = Scale.mergeUpsert(spark, base, deletes, upserts)
    assert(touched == 3L, s"three shards carry batch keys, got $touched")
    val after = spark.read.parquet(s"$base/data")
      .select($"k", $"prio", $"cents")
      .collect().map(r => r.getLong(0) -> (r.getString(1), r.getLong(2))).toMap
    assert(!after.contains(17L), "deleted key must be gone")
    assert(!after.contains(33L), "delete beats update on the same key")
    assert(after(18L) == ("PX", 999L), "updated key carries the new row")
    assert(after(1000003L) == ("PN", 42L), "fresh key inserted")
    assert(after(16L) == ("P1", 1607L), "sibling rows in touched shards survive")
    assert(after.size == 64 - 2 + 1)
    // untouched shards: identical file names, lengths AND mtimes
    untouchedBefore.foreach { case (s, before) =>
      assert(snap(s) == before, s"shard $s was rewritten")
    }
    fs.delete(basePath, true)
  }

  test("mergeUpsert: an insert whose key hashes to a missing shard creates it insert-only") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("upsert_sparse").toString
    val base = s"$dir/store"
    // sparse store: only keys ≡ 0 (mod 16) exist, so shard 0 is the
    // ONLY partition directory on disk
    (0L until 64L by 16L).map(k => (k, s"P${k % 3}", k + 7L))
      .toDF("k", "prio", "cents")
      .withColumn("shard", pmod($"k", lit(Scale.UpsertShards.toLong)))
      .repartition(1, $"shard")
      .write.partitionBy("shard").parquet(s"$base/data")
    val touched = Scale.mergeUpsert(spark, base,
      spark.emptyDataFrame.select(lit(0L).as("k")).limit(0),
      Seq((21L, "PN", 42L)).toDF("k", "prio", "cents")) // 21 % 16 = 5
    assert(touched == 1L)
    val after = spark.read.parquet(s"$base/data")
      .select($"k", $"prio", $"cents")
      .collect().map(r => r.getLong(0) -> (r.getString(1), r.getLong(2))).toMap
    assert(after(21L) == ("PN", 42L), "fresh key lands in the created shard")
    assert(after.size == 5, "existing rows untouched")
  }

  test("mergeUpsert after a crash between the two renames of a shard swap keeps the shard's old rows") {
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("upsert_crash").toString + "/store"
    (0L until 64L).map(k => (k, s"P${k % 3}", k + 7L))
      .toDF("k", "prio", "cents")
      .withColumn("shard", pmod($"k", lit(Scale.UpsertShards.toLong)))
      .repartition(Scale.UpsertShards, $"shard")
      .write.partitionBy("shard").parquet(s"$base/data")
    // the crash state: shard 1 moved to its aside, the stage not yet in
    val live = new org.apache.hadoop.fs.Path(s"$base/data/shard=1")
    val fs = live.getFileSystem(spark.sparkContext.hadoopConfiguration)
    graft.io.DirSwap.rename(fs, live, graft.io.DirSwap.aside(live))
    Scale.mergeUpsert(spark, base, Seq.empty[Long].toDF("k"),
      Seq((1000001L, "PN", 5L)).toDF("k", "prio", "cents")) // 1000001 % 16 = 1
    val shard1 = spark.read.parquet(s"$base/data").filter($"shard" === 1)
      .select($"k").as[Long].collect().sorted.toSeq
    assert(shard1 == Seq(1L, 17L, 33L, 49L, 1000001L),
      s"the shard's old rows plus the batch, got $shard1")
  }

  // X210 — runtime bloom-join prefilter (the explicit deterministic
  // twin of the optimizer's runtime filtering pinned above)
  test("bloomMightContain: no false negatives, and the prefilter kills most non-matching probe rows") {
    import spark.implicits._
    val cust = Tables.customer(spark, Sf0001).filter($"c_nationkey" === 3)
      .select($"c_custkey".as("k"))
    val keys = cust.collect().map(_.getLong(0)).toSet
    val words = Scale.bloomOfKeys(cust)
    val probes = Tables.orders(spark, Sf0001)
      .select($"o_custkey", Scale.bloomMightContain(words, $"o_custkey").as("hit"))
      .collect().map(r => r.getLong(0) -> r.getBoolean(1))
    probes.filter(p => keys(p._1)).foreach { case (k, hit) =>
      assert(hit, s"false negative on build key $k")
    }
    val survivors = probes.count(_._2)
    val matches = probes.count(p => keys(p._1))
    assert(survivors < probes.length / 5,
      s"prefilter must cut most probe rows: $survivors of ${probes.length}")
    assert(survivors >= matches)
  }

  test("bloom-join prefilter cuts shuffled probe records vs the direct join (SQL metrics)") {
    import spark.implicits._
    // AQE off + broadcast off so both plans shuffle both sides and the
    // exchange write metrics are directly comparable
    val saved = Seq("spark.sql.adaptive.enabled",
      "spark.sql.autoBroadcastJoinThreshold")
      .map(k => k -> spark.conf.get(k))
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val cust = Tables.customer(spark, Sf0001).filter($"c_nationkey" === 3)
        .select($"c_custkey")
      val words = Scale.bloomOfKeys(cust.select($"c_custkey".as("k")))
      val fact = Tables.orders(spark, Sf0001)
        .select($"o_orderkey", $"o_custkey")
      def shuffled(df: org.apache.spark.sql.DataFrame): Long = {
        df.collect()
        df.queryExecution.executedPlan.collect {
          case s: org.apache.spark.sql.execution.exchange.ShuffleExchangeLike =>
            s.metrics.get("shuffleRecordsWritten").map(_.value).getOrElse(0L)
        }.sum
      }
      val direct = shuffled(
        fact.join(cust, $"o_custkey" === $"c_custkey"))
      val pre = shuffled(
        fact.filter(Scale.bloomMightContain(words, $"o_custkey"))
          .join(cust, $"o_custkey" === $"c_custkey"))
      assert(pre < direct / 5,
        s"prefilter must cut shuffled records 5x+: pre=$pre direct=$direct")
      assert(pre > 0, "the filtered fact still shuffles its matches")
    } finally saved.foreach { case (k, v) => spark.conf.set(k, v) }
  }
}
