package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.core.Memo
import graft.io.DirSwap

/**
 * Skew and co-location utilities — the remaining 100 TB levers beyond
 * AQE (which GraftSession enables): explicit salting for aggregations
 * whose key distribution is pathological, and bucketed tables for
 * repeated fact-fact joins.
 *
 * Salting: a hot key that owns 30% of a 100 TB table puts 30 TB
 * through one reducer. Stage 1 groups by (key, salt) — the hot key's
 * rows spread over `salts` reducers; stage 2 merges the partials (rows
 * = |keys|·salts, trivially small). Only algebraic aggregates compose
 * this way; the helpers below cover count/sum (exact-decimal).
 */
object Scale {
  import Relational.ColInterp

  private val DEC = DecimalType(18, 6)

  /** Deterministic salt in [0, salts): hash-derived from a tiebreak
    * column, not `rand()` (reproducibility is part of the engine's
    * contract). */
  def saltCol(tiebreak: Column, salts: Int): Column =
    pmod(hash(tiebreak), lit(salts))

  /** Two-stage salted `count + exact-decimal sum` per key. Result is
    * identical to the direct groupBy (decimal partials commute);
    * the shuffle skew on a hot key drops by `salts`×. */
  def saltedCountSum(df: DataFrame, key: String, value: String, tiebreak: String,
                     salts: Int = 16): DataFrame =
    df.select(col(key), col(value), saltCol(col(tiebreak), salts).as("_salt"))
      .groupBy(col(key), $"_salt")
      .agg(count(lit(1)).as("_n"), sum(col(value).cast(DEC)).as("_s"))
      .groupBy(col(key))
      .agg(sum($"_n").as("n"), sum($"_s").cast("double").as("total"))

  // ------------------------------------------------------------------
  // Oracle gate for the two-stage salted aggregation: the Spark face
  // runs [[saltedCountSum]] (16-way salt → merge) and must hash-match
  // DuckDB's DIRECT one-stage groupBy — the algebraic-decomposition
  // equality the whole salting lever rests on, checked cross-engine on
  // real data, not just the in-suite self-comparison (ScaleSpec).
  // ------------------------------------------------------------------
  def qSaltedAgg(spark: org.apache.spark.sql.SparkSession, dir: String): DataFrame = {
    import graft.sources.Tables
    saltedCountSum(
      Tables.events(spark, dir).select($"user_id", $"value", $"event_id"),
      "user_id", "value", "event_id")
      .orderBy($"user_id")
  }

  val sqlSaltedAgg: String =
    """SELECT user_id, count(*)::BIGINT AS n,
      |  CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total
      |FROM events GROUP BY 1 ORDER BY 1""".stripMargin

  /** Two-sided salted equi-join — the fact-fact skew-JOIN lever (the
    * join twin of [[saltedCountSum]], and what AQE's skew-join split
    * does adaptively, expressed as an explicit deterministic rewrite):
    * the skewed probe side gets a hash-derived salt in [0, salts); the
    * build side is replicated once per salt value; the join runs on
    * (key, salt), so a hot key's rows spread over `salts` reducers
    * while every probe row still meets each matching build row exactly
    * once — the result is row-identical to the direct join. Cost of
    * the lever: the build side shuffles `salts`× (bounded, chosen);
    * the win: the hot key's 30 TB no longer serializes through one
    * reducer. */
  def saltedJoin(big: DataFrame, small: DataFrame, key: String,
                 tiebreak: Column, salts: Int = 16): DataFrame = {
    val saltedBig = big.withColumn("_salt", saltCol(tiebreak, salts))
    val replicated = small.withColumn("_salt",
      explode(array((0 until salts).map(lit(_)): _*)))
    saltedBig.join(replicated, Seq(key, "_salt")).drop("_salt")
  }

  // ------------------------------------------------------------------
  // Oracle gate for the salted join: the Spark face routes
  // lineitem ⋈ orders through [[saltedJoin]] (16-way) and aggregates
  // per customer; DuckDB runs the DIRECT join — hash-equality is the
  // every-probe-row-meets-its-build-row-exactly-once claim, checked
  // cross-engine on real data.
  // ------------------------------------------------------------------
  def qSaltedJoin(spark: org.apache.spark.sql.SparkSession, dir: String): DataFrame = {
    import graft.sources.Tables
    val li = Tables.lineitem(spark, dir)
      .select($"l_orderkey", $"l_extendedprice", $"l_linenumber")
    val ord = Tables.orders(spark, dir)
      .select($"o_orderkey".as("l_orderkey"), $"o_custkey")
    // the salt basis must be HIGH-CARDINALITY or the spread is capped:
    // l_linenumber alone has 7 distinct values, so at most 7 of the 16
    // salt buckets would ever be probed while the build side still
    // replicates 16× — salt on the (orderkey, linenumber) row identity
    saltedJoin(li, ord, "l_orderkey", struct($"l_orderkey", $"l_linenumber"))
      .groupBy($"o_custkey")
      .agg(count(lit(1)).as("n_items"),
        sum($"l_extendedprice".cast(DEC)).cast("double").as("revenue"))
      .orderBy($"o_custkey")
  }

  val sqlSaltedJoin: String =
    """SELECT o_custkey, count(*)::BIGINT AS n_items,
      |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE) AS revenue
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |GROUP BY 1 ORDER BY 1""".stripMargin

  // ------------------------------------------------------------------
  // Skew diagnostics: the measurement that tells you WHEN to reach for
  // the salting/AQE levers above. For a prospective join/group key,
  // emit the top-k heaviest keys with their share of the table and the
  // key's skew ratio (its count over the mean count per key). Two
  // map-side-combined aggregates over slim (key) rows + a top-k that
  // runs as TakeOrderedAndProject — the diagnostic itself stays cheap
  // at any scale, which is the point: you run it BEFORE the expensive
  // join, on the join column only.
  // ------------------------------------------------------------------
  val HeavyHitterK = 20

  def qHeavyHitters(spark: org.apache.spark.sql.SparkSession, dir: String): DataFrame = {
    import graft.sources.Tables
    val counts = Tables.events(spark, dir)
      .groupBy($"user_id").agg(count(lit(1)).as("cnt"))
    val totals = counts.agg(
      sum($"cnt").as("n_rows"), count(lit(1)).as("n_keys"))
    val r6 = (c: Column) =>
      c.cast(DecimalType(28, 12)).cast(DEC).cast("double")
    counts.crossJoin(broadcast(totals))
      .select($"user_id", $"cnt",
        r6($"cnt" / $"n_rows").as("share"),
        r6($"cnt" * $"n_keys" / $"n_rows").as("skew_ratio"))
      .orderBy($"cnt".desc, $"user_id")
      .limit(HeavyHitterK)
  }

  // ------------------------------------------------------------------
  // Range-sorted compaction writer: materialize a frame as
  // ceil(rows / targetRows) parquet files with DISJOINT key ranges,
  // each internally sorted. This is the export-layout step that fixes
  // the two failure modes of naive writes at 100 TB: thousands of tiny
  // files per partition (every downstream scan pays per-file open
  // cost), and key-shuffled files whose parquet min/max stats prune
  // nothing. Range partitioning gives file-level pruning on the sort
  // key (a key-range predicate touches exactly the files that hold
  // it); the within-file sort gives row-group-level pruning inside
  // each file. Returns the number of data files ACTUALLY written (by
  // listing the output) — repartitionByRange can produce fewer
  // non-empty partitions than requested when the key has few distinct
  // values or heavy ties, so the plan count would over-report.
  //
  // `rowCount`: pass the input size when the caller already knows it —
  // otherwise the writer pays one extra counting scan of `df` to size
  // the partitioning.
  // ------------------------------------------------------------------
  def writeRangeSorted(df: DataFrame, key: String, targetRows: Long,
                       path: String, rowCount: Option[Long] = None): Long = {
    val n = rowCount.getOrElse(df.count())
    val files = math.max(1L, (n + targetRows - 1) / targetRows)
    df.repartitionByRange(files.toInt, col(key))
      .sortWithinPartitions(col(key))
      .write.mode("overwrite").parquet(path)
    val out = new org.apache.hadoop.fs.Path(path)
    val fs = out.getFileSystem(df.sparkSession.sparkContext.hadoopConfiguration)
    fs.listStatus(out).count { s =>
      val name = s.getPath.getName
      s.isFile && name.startsWith("part-") && !name.endsWith(".crc")
    }.toLong
  }

  val sqlHeavyHitters: String = {
    val r6 = (e: String) => s"CAST(round(CAST(($e) AS DECIMAL(28,12)), 6) AS DOUBLE)"
    s"""WITH c AS (SELECT user_id, count(*) AS cnt FROM events GROUP BY 1),
       |t AS (SELECT sum(cnt) AS n_rows, count(*) AS n_keys FROM c)
       |SELECT user_id, cnt,
       |  ${r6("cnt / n_rows")} AS share,
       |  ${r6("cnt * n_keys / n_rows")} AS skew_ratio
       |FROM c CROSS JOIN t
       |ORDER BY cnt DESC, user_id LIMIT $HeavyHitterK""".stripMargin
  }

  // ------------------------------------------------------------------
  // Key-distribution skew audit — the measurement that DECIDES the
  // salting above: per candidate shuffle key, the concentration stats
  // a planner needs before picking a layout. max_share is the single
  // worst reducer's fraction; hhi is the Herfindahl concentration
  // index Σ shareᵢ² (1/n_keys when uniform, →1 when one key owns the
  // table) computed exactly as Σcntᵢ² over integers with ONE final
  // divide; salt_factor is the ceil of how many of the
  // $SkewTargetPartitions-way reducers the hottest key alone would
  // need — 1 means AQE alone is fine, >1 is the factor to hand
  // [[saltedCountSum]]. Scale shape: one count-per-key aggregate per
  // key column (map-side combined), then arithmetic on the tiny
  // per-key frame; nothing but (key, cnt) ever shuffles.
  // ------------------------------------------------------------------
  val SkewTargetPartitions = 32L

  def qSkewAudit(spark: org.apache.spark.sql.SparkSession, dir: String): DataFrame = {
    import graft.sources.Tables
    val ev = Tables.events(spark, dir)
    val r6 = (c: Column) => c.cast(DecimalType(28, 12)).cast(DEC).cast("double")
    def forKey(keyCol: String): DataFrame =
      ev.groupBy(col(keyCol).cast("string").as("k"))
        .agg(count(lit(1)).as("cnt"))
        .agg(
          sum($"cnt").cast("long").as("n_rows"),
          count(lit(1)).cast("long").as("n_keys"),
          max($"cnt").cast("long").as("max_cnt"),
          sum($"cnt" * $"cnt").cast("long").as("sum_sq"))
        .withColumn("key_col", lit(keyCol))
    forKey("user_id").unionByName(forKey("event_type"))
      .select($"key_col", $"n_rows", $"n_keys", $"max_cnt",
        r6($"max_cnt".cast("double") / $"n_rows".cast("double")).as("max_share"),
        r6($"sum_sq".cast("double") /
          ($"n_rows".cast("double") * $"n_rows".cast("double"))).as("hhi"),
        greatest(lit(1L),
          expr(s"(max_cnt * $SkewTargetPartitions + n_rows - 1) div n_rows"))
          .cast("long").as("salt_factor"))
      .orderBy($"key_col")
  }

  val sqlSkewAudit: String = {
    val r6 = (e: String) => s"CAST(round(CAST(($e) AS DECIMAL(28,12)), 6) AS DOUBLE)"
    def leg(c: String) =
      s"""SELECT '$c' AS key_col, sum(cnt)::BIGINT AS n_rows,
         |  count(*)::BIGINT AS n_keys, max(cnt)::BIGINT AS max_cnt,
         |  sum(cnt * cnt)::BIGINT AS sum_sq
         |FROM (SELECT CAST($c AS VARCHAR) AS k, count(*) AS cnt
         |      FROM events GROUP BY 1)""".stripMargin
    s"""WITH s AS (${leg("user_id")} UNION ALL ${leg("event_type")})
       |SELECT key_col, n_rows, n_keys, max_cnt,
       |  ${r6("max_cnt::DOUBLE / n_rows::DOUBLE")} AS max_share,
       |  ${r6("sum_sq::DOUBLE / (n_rows::DOUBLE * n_rows::DOUBLE)")} AS hhi,
       |  greatest(1, (max_cnt * $SkewTargetPartitions + n_rows - 1) // n_rows)::BIGINT
       |    AS salt_factor
       |FROM s ORDER BY key_col""".stripMargin
  }

  // ------------------------------------------------------------------
  // Z-order clustering audit (Morton 1966's bit-interleaved curve —
  // the multi-dimensional file-clustering layout behind Delta/Iceberg
  // `OPTIMIZE ZORDER`): quantize (user_id, event-time) to 10-bit grids,
  // interleave the bits, and shard on equal-width z-ranges; then
  // report, per shard and per layout, how tight each dimension's
  // bounds are. The single-key time sort — what [[writeRangeSorted]]
  // produces — leaves the OTHER dimension's min/max spanning the whole
  // domain (a user-keyed point query must open every shard); z-order
  // bounds BOTH dims at √ granularity, which is the whole case for
  // multi-dim clustering of a 100 TB fact table. All arithmetic is
  // integer shift/mask on exact epoch-µs and ids — bit-identical
  // cross-engine. Scale shape: one bounds aggregate (broadcast
  // single-row), one scan computing both layouts, one slim
  // (layout, shard) aggregate.
  // ------------------------------------------------------------------
  val ZBits = 10
  val ZShards = 16L
  private val ZCells = 1L << ZBits // 1024 buckets per dimension

  /** Bit-interleave two ZBits-wide bucket columns (a gets odd bits). */
  def zValue(a: Column, b: Column): Column =
    (0 until ZBits).map { i =>
      shiftright(a, i).bitwiseAND(lit(1L)) * lit(1L << (2 * i + 1)) +
        shiftright(b, i).bitwiseAND(lit(1L)) * lit(1L << (2 * i))
    }.reduce(_ + _)

  def qZorderAudit(spark: org.apache.spark.sql.SparkSession, dir: String): DataFrame = {
    import graft.sources.Tables
    val e = Tables.events(spark, dir)
      .select($"user_id", unix_micros($"ts").as("tmu"))
    val g = zQuantize(e, "user_id", "tmu") // the writer's exact formula
    val zWidth = (ZCells * ZCells) / ZShards
    val tWidth = ZCells / ZShards
    g.select($"ub", $"tb", explode(array(
        struct(lit("zorder").as("layout"), ($"zval" / zWidth).cast("long").as("shard")),
        struct(lit("tssort").as("layout"), ($"tb" / tWidth).cast("long").as("shard"))))
        .as("l"))
      .select($"l.layout".as("layout"), $"l.shard".as("shard"), $"ub", $"tb")
      .groupBy($"layout", $"shard")
      .agg(count(lit(1)).cast("long").as("n_rows"),
        (max($"ub") - min($"ub")).cast("long").as("ub_span"),
        (max($"tb") - min($"tb")).cast("long").as("tb_span"))
      .orderBy($"layout", $"shard")
  }

  val sqlZorderAudit: String = {
    val zexpr = (0 until ZBits).map { i =>
      s"((ub >> $i) & 1) * ${1L << (2 * i + 1)} + ((tb >> $i) & 1) * ${1L << (2 * i)}"
    }.mkString(" + ")
    val zWidth = (ZCells * ZCells) / ZShards
    val tWidth = ZCells / ZShards
    s"""WITH e AS (SELECT user_id, epoch_us(ts) AS tmu FROM events),
       |b AS (SELECT min(user_id) AS umin, max(user_id) AS umax,
       |    min(tmu) AS tmin, max(tmu) AS tmax FROM e),
       |g AS (SELECT ((user_id - umin) * $ZCells) // (umax - umin + 1) AS ub,
       |    ((tmu - tmin) * $ZCells) // (tmax - tmin + 1) AS tb
       |  FROM e CROSS JOIN b),
       |z AS (SELECT ub, tb, $zexpr AS zval FROM g),
       |h AS (SELECT 'zorder' AS layout, zval // $zWidth AS shard, ub, tb FROM z
       |  UNION ALL SELECT 'tssort' AS layout, tb // $tWidth AS shard, ub, tb FROM z)
       |SELECT layout, shard::BIGINT AS shard, count(*)::BIGINT AS n_rows,
       |  (max(ub) - min(ub))::BIGINT AS ub_span,
       |  (max(tb) - min(tb))::BIGINT AS tb_span
       |FROM h GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin
  }

  // ------------------------------------------------------------------
  // Z-ordered compaction writer (X162 — the layout X101's audit argues
  // for, actually WRITTEN): quantize two long dimensions onto the
  // ZBits grid, bit-interleave into the Morton z-value, range-shard on
  // the z-value (adaptive bounds, the writeRangeSorted discipline) and
  // sort within files. The result is a file set whose parquet min/max
  // footers bound BOTH dimensions at ~√ granularity — a point/range
  // predicate on EITHER dim skips most files, where the single-key
  // time sort leaves the other dim spanning the whole domain in every
  // file. This is what Delta/Iceberg `OPTIMIZE ZORDER` does; here it
  // is one quantizing projection + one range shuffle.
  //
  // int64 headroom: (x − min) · 2^ZBits must stay under 2^63 ⇒ each
  // dimension's span < 2^53 (9·10^15; ~285 years of epoch-µs) — any
  // realistic id/time domain, enforced loudly by the ANSI-less
  // overflow being impossible under the documented bound rather than
  // silently wrapped past it.
  // ------------------------------------------------------------------

  /** Add `ub`/`tb` (grid buckets of the two dims) and `zval` (their
    * Morton interleave) — the same arithmetic [[qZorderAudit]] grades,
    * factored so the writer and its spec share one formula. */
  def zQuantize(df: DataFrame, aKey: String, bKey: String): DataFrame = {
    val bounds = df.agg(
      min(col(aKey)).as("g_amin"), max(col(aKey)).as("g_amax"),
      min(col(bKey)).as("g_bmin"), max(col(bKey)).as("g_bmax"))
    df.crossJoin(broadcast(bounds))
      .withColumn("ub", expr(s"(($aKey - g_amin) * $ZCells) div (g_amax - g_amin + 1)"))
      .withColumn("tb", expr(s"(($bKey - g_bmin) * $ZCells) div (g_bmax - g_bmin + 1)"))
      .withColumn("zval", zValue($"ub", $"tb"))
      .drop("g_amin", "g_amax", "g_bmin", "g_bmax")
  }

  /** Write `df` as ~ceil(rows/targetRows) files range-sharded and
    * sorted on the z-value of (aKey, bKey); returns files written.
    * The helper columns are dropped — the layout lives in row order
    * and the footer stats of the ORIGINAL columns. */
  def writeZordered(df: DataFrame, aKey: String, bKey: String,
      targetRows: Long, path: String, rowCount: Option[Long] = None): Long = {
    val n = rowCount.getOrElse(df.count())
    val files = math.max(1L, (n + targetRows - 1) / targetRows)
    zQuantize(df, aKey, bKey)
      .repartitionByRange(files.toInt, $"zval")
      .sortWithinPartitions($"zval")
      .drop("ub", "tb", "zval")
      .write.mode("overwrite").parquet(path)
    val out = new org.apache.hadoop.fs.Path(path)
    val fs = out.getFileSystem(df.sparkSession.sparkContext.hadoopConfiguration)
    fs.listStatus(out).count { s =>
      val name = s.getPath.getName
      s.isFile && name.startsWith("part-") && !name.endsWith(".crc")
    }.toLong
  }

  // ------------------------------------------------------------------
  // Rendezvous (highest-random-weight) sharding (X135; Thaler &
  // Ravishankar 1998): shard(doc) = argmax over shards s of
  // h(doc, s) — the consistent-assignment scheme a growing ingestion
  // fleet needs, because growing from N to N+1 shards relocates ONLY
  // the docs whose new-shard hash wins (≈ 1/(N+1) of them) and every
  // relocated doc moves TO the new shard; no doc ever moves between
  // old shards (unlike mod-N, which reshuffles nearly everything).
  // Pure per-row expression work over the cross-engine h60 — zero
  // shuffle, codegen'd end to end; the argmax rides array_max over
  // (hash, shard) structs (lexicographic struct order = max hash,
  // ties by higher shard — ties are 2⁻⁶⁰ sha collisions).
  // ------------------------------------------------------------------
  val HrwShards = 8

  /** HRW shard of an id column over `n` shards. The argmax is an
    * UNROLLED `greatest` over (hash, shard) structs — n is a plan-time
    * constant, so this stays inside whole-stage codegen where the
    * equivalent transform/array_max lambda pair would fall back to
    * interpreted eval (higher-order functions don't codegen). */
  def rendezvousShard(id: Column, n: Int): Column =
    greatest((0 until n).map(s => struct(
      graft.functions.Hashing.h60(concat_ws(":", lit("hrw"), id, lit(s))).as("h"),
      lit(s.toLong).as("s"))): _*).getField("s")

  /** Gate: every doc's shard at N and N+1, with the relocation flag —
    * the audit a shard-growth migration plans from. The rendezvous
    * property (relocated docs land ONLY on the new shard, ≈ 1/(N+1)
    * of the corpus) is spec-pinned; the oracle pins the assignment
    * arithmetic itself. */
  def qRendezvousShard(spark: org.apache.spark.sql.SparkSession, dir: String): DataFrame = {
    import graft.sources.Tables
    Tables.documents(spark, dir)
      .select($"doc_id",
        rendezvousShard($"doc_id", HrwShards).as("shard_n"),
        rendezvousShard($"doc_id", HrwShards + 1).as("shard_n1"))
      .select($"doc_id", $"shard_n", $"shard_n1",
        when($"shard_n" =!= $"shard_n1", 1).otherwise(0).as("moved"))
      .orderBy($"doc_id")
  }

  val sqlRendezvousShard: String = {
    // one candidate row per (doc, shard) for 0..N (covers both sizes);
    // arg_max picks the winner — ties are 2⁻⁶⁰ sha collisions, so the
    // pick is deterministic
    val h = graft.functions.Hashing.sqlH60("'hrw:' || d.doc_id || ':' || c.s")
    s"""WITH cand AS (
       |  SELECT d.doc_id, c.s, $h AS h
       |  FROM documents d
       |  CROSS JOIN (SELECT unnest(range(0, ${HrwShards + 1})) AS s) c),
       |a AS (
       |  SELECT doc_id,
       |    arg_max(s, h) FILTER (s < $HrwShards) AS shard_n,
       |    arg_max(s, h) AS shard_n1
       |  FROM cand GROUP BY 1)
       |SELECT doc_id, shard_n, shard_n1,
       |  CASE WHEN shard_n <> shard_n1 THEN 1 ELSE 0 END AS moved
       |FROM a ORDER BY doc_id""".stripMargin
  }

  // ------------------------------------------------------------------
  // Bucketed co-located fact-fact join (X149) — the storage-layout
  // lever this object's header promises: when the SAME fact-fact join
  // key recurs across a workload (lineitem⋈orders here; doc⋈chunk,
  // event⋈session in a data pipeline), pay the shuffle ONCE at write
  // time by bucketing both tables on the key. Every subsequent join
  // reads bucket i against bucket i with ZERO exchange on either side
  // — at 100 TB that converts the dominant repeated shuffle into a
  // one-time layout cost, exactly what Hive/Spark bucketing and
  // warehouse clustering keys exist for. Mechanics that make it work:
  //  - both sides bucketed with the SAME bucket count on the join key
  //    (mismatched counts re-shuffle one side);
  //  - `repartition(N, key)` before the write aligns task→bucket, so
  //    each task emits ONE bucket file instead of N (the many-small-
  //    files failure mode of naive bucketed writes);
  //  - `sortBy(key)` within buckets lets the SMJ skip its sort.
  // The twin tables are built once per input and cached by
  // [[graft.core.Memo]] (the warehouse write is the one-time cost a
  // deployed pipeline pays at ingest). The ORACLE reads the ORIGINAL
  // parquet — agreement also pins that the bucketed twin's content is
  // a faithful copy of the source.
  // ------------------------------------------------------------------
  val NumBuckets = 16

  /** Drop a stale twin: the catalog entry if this session has one, AND
    * the warehouse directory a PREVIOUS JVM may have left behind — a
    * fresh in-memory catalog + existing managed location makes
    * saveAsTable fail with LOCATION_ALREADY_EXISTS otherwise. */
  private def dropStale(spark: org.apache.spark.sql.SparkSession,
      table: String): Unit = {
    spark.sql(s"DROP TABLE IF EXISTS $table")
    val wh = spark.conf.get("spark.sql.warehouse.dir")
    val path = new org.apache.hadoop.fs.Path(wh, table.toLowerCase)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(path)) fs.delete(path, true)
  }

  /** Ensure the bucketed twin tables for `dir` exist; returns their
    * (lineitem, orders) catalog names. */
  def bucketedTables(spark: org.apache.spark.sql.SparkSession,
      dir: String): (String, String) =
    Memo.once[(String, String)](spark, dir, "Scale.bucketedTables")({
      import graft.sources.Tables
      val tag = dir.replaceAll("[^A-Za-z0-9]", "_")
      val li = s"g_bkt_lineitem$tag"
      val ord = s"g_bkt_orders$tag"
      dropStale(spark, li)
      dropStale(spark, ord)
      writeBucketed(Tables.lineitem(spark, dir), "l_orderkey", "overwrite", li)
      writeBucketed(Tables.orders(spark, dir), "o_orderkey", "overwrite", ord)
      (li, ord)
    })

  /** The one bucketed writer every path goes through: repartition on
    * the bucket key so each task holds exactly one bucket's rows, and
    * pin AQE's partition coalescing OFF for the write — on a small
    * batch the coalescer merges the 16 aligned partitions into a few
    * tasks, each then emitting a file per bucket it holds (the
    * many-small-files failure the alignment exists to prevent). */
  /** Serializes every bucketed write/compact: the writers toggle
    * session-global SQL confs (coalescePartitions, bucketed reading)
    * with set/restore, and two concurrent writers could interleave
    * the restores and leave the wrong value standing. JVM monitors
    * are reentrant, so compactBucketed → writeBucketed nests fine.
    * Contract: bucketed writes are INGEST-time operations — a query
    * racing one on the same session runs under the altered planner
    * settings for that window, which affects plan shape (an AQE
    * coalesce skipped, a bucketed scan shuffled), never results. */
  private val writerLock = new Object

  private def writeBucketed(df: DataFrame, key: String, mode: String,
      table: String): Unit = writerLock.synchronized {
    val spark = df.sparkSession
    val conf = "spark.sql.adaptive.coalescePartitions.enabled"
    val prev = spark.conf.getOption(conf)
    spark.conf.set(conf, "false")
    try df.repartition(NumBuckets, col(key))
      .write.mode(mode).format("parquet")
      .bucketBy(NumBuckets, key).sortBy(key)
      .saveAsTable(table)
    finally prev match {
      case Some(v) => spark.conf.set(conf, v)
      case None => spark.conf.unset(conf)
    }
  }

  /** Gate: order-priority revenue rollup over the co-located join.
    * The join itself plans with zero exchanges (PlanSpec pin); the
    * only shuffle left is the 5-group priority aggregate. */
  def qBucketedJoin(spark: org.apache.spark.sql.SparkSession, dir: String): DataFrame = {
    val (li, ord) = bucketedTables(spark, dir)
    spark.table(li)
      .join(spark.table(ord), $"l_orderkey" === $"o_orderkey")
      .groupBy($"o_orderpriority")
      .agg(count(lit(1)).as("n_items"),
        Relational.dsum($"l_quantity").as("sum_qty"),
        Relational.drevenue($"l_extendedprice", $"l_discount").as("revenue"))
      .orderBy($"o_orderpriority")
  }

  // ------------------------------------------------------------------
  // Incremental bucketed append (X154 — the ingest-batch half of the
  // X149 layout story): a bucketed layout is only worth its write cost
  // if arriving batches can JOIN it without breaking co-location.
  // Appending with the SAME bucket spec (count + key + sort) adds one
  // file per bucket per batch — bucket i stays the complete, exclusive
  // home of its keys, so the join still plans with zero exchanges
  // (PlanSpec pin) and file count grows as batches·buckets, compacted
  // on the X38 path when it matters. The gate builds the twins from a
  // 90% base slice, appends the deterministic 10% slice
  // (orderkey % 10 = 7) as a second write, and runs the X149 rollup;
  // the oracle reads the ORIGINAL full parquet — agreement proves the
  // append lost/duplicated nothing AND landed in the right buckets
  // (a misbucketed append would still pass a content diff, but the
  // co-location plan pin would catch it).
  // ------------------------------------------------------------------
  /** Base-slice twins + appended increment; returns catalog names. */
  def bucketedAppendTables(spark: org.apache.spark.sql.SparkSession,
      dir: String): (String, String) =
    Memo.once[(String, String)](spark, dir, "Scale.bucketedAppendTables")({
      import graft.sources.Tables
      val tag = dir.replaceAll("[^A-Za-z0-9]", "_")
      val li = s"g_bki_lineitem$tag"
      val ord = s"g_bki_orders$tag"
      dropStale(spark, li)
      dropStale(spark, ord)
      val liAll = Tables.lineitem(spark, dir)
      val ordAll = Tables.orders(spark, dir)
      writeBucketed(liAll.filter($"l_orderkey" % 10 =!= 7), "l_orderkey", "overwrite", li)
      writeBucketed(ordAll.filter($"o_orderkey" % 10 =!= 7), "o_orderkey", "overwrite", ord)
      writeBucketed(liAll.filter($"l_orderkey" % 10 === 7), "l_orderkey", "append", li)
      writeBucketed(ordAll.filter($"o_orderkey" % 10 === 7), "o_orderkey", "append", ord)
      (li, ord)
    })

  /** Append one ingest batch to a bucketed table with the SAME bucket
    * spec — the X154 write path factored for reuse (the streaming
    * [[graft.streaming.BucketedSink]] drives it per micro-batch).
    * Creates the table on first use. */
  def appendBucketedBatch(df: DataFrame, key: String, table: String): Unit =
    writeBucketed(df, key, "append", table)

  /** Compact a bucketed table back to ONE file per bucket (X160): the
    * close of the layout lifecycle — appends accumulate one file per
    * bucket per batch, and compaction rewrites each bucket's files
    * into one without moving any key (same hash ⇒ same bucket), so
    * co-location survives. Rewrite goes to a staging table which then
    * takes the original's name — the read-rewrite-swap that avoids
    * overwriting a path while scanning it. X38's range compaction is
    * the orthogonal in-file ordering concern. */
  def compactBucketed(spark: org.apache.spark.sql.SparkSession,
      table: String, key: String): Unit = writerLock.synchronized {
    val tmp = table + "_compact"
    dropStale(spark, tmp)
    // Read the source as a PLAIN scan: with bucketed reading on, the
    // planner sees the scan already hash-distributed by the key and
    // elides the repartition — then disables the bucketed scan anyway
    // ("Bucketed: false (disabled by query planner)"), so the write
    // tasks hold size-combined MIXED buckets and emit files-per-
    // (task,bucket) instead of one per bucket. A plain scan keeps the
    // aligning shuffle in the plan.
    val bconf = "spark.sql.sources.bucketing.enabled"
    val prev = spark.conf.getOption(bconf)
    spark.conf.set(bconf, "false")
    try writeBucketed(spark.table(table), key, "overwrite", tmp)
    finally prev match {
      case Some(v) => spark.conf.set(bconf, v)
      case None => spark.conf.unset(bconf)
    }
    dropStale(spark, table)
    spark.sql(s"ALTER TABLE $tmp RENAME TO $table")
  }

  /** Gate: the X149 rollup over base+appended twins; oracle = the full
    * original parquet. */
  def qBucketedAppend(spark: org.apache.spark.sql.SparkSession, dir: String): DataFrame = {
    val (li, ord) = bucketedAppendTables(spark, dir)
    spark.table(li)
      .join(spark.table(ord), $"l_orderkey" === $"o_orderkey")
      .groupBy($"o_orderpriority")
      .agg(count(lit(1)).as("n_items"),
        Relational.dsum($"l_quantity").as("sum_qty"),
        Relational.drevenue($"l_extendedprice", $"l_discount").as("revenue"))
      .orderBy($"o_orderpriority")
  }

  // ------------------------------------------------------------------
  // Compacted bucketed lifecycle gate (X160 — the X154 shape with the
  // compaction in the middle): base write + TWO ingest appends leave
  // three files per bucket; compactBucketed rewrites each bucket's
  // files into one WITHOUT moving any key (same hash ⇒ same bucket),
  // so the join still plans with zero exchanges. The gate joins the
  // compacted lineitem twin against the X149 bucketed orders twin and
  // runs the same rollup; the ORACLE reads the ORIGINAL parquet —
  // agreement proves base + appends + compaction lost and duplicated
  // nothing, and the ScaleSpec/PlanSpec pins prove the one-file-per-
  // bucket layout and the preserved co-location. At 100 TB this is the
  // nightly maintenance job that keeps an append-heavy bucketed store
  // from degrading into a small-files swamp.
  // ------------------------------------------------------------------
  /** Base + 2 appends + compaction on a lineitem twin; returns its
    * catalog name. */
  def bucketedCompactTable(spark: org.apache.spark.sql.SparkSession,
      dir: String): String =
    Memo.once[String](spark, dir, "Scale.bucketedCompactTable")({
      import graft.sources.Tables
      val tag = dir.replaceAll("[^A-Za-z0-9]", "_")
      val li = s"g_bkc_lineitem$tag"
      dropStale(spark, li)
      val liAll = Tables.lineitem(spark, dir)
      writeBucketed(liAll.filter($"l_orderkey" % 10 =!= 7 && $"l_orderkey" % 10 =!= 8),
        "l_orderkey", "overwrite", li)
      writeBucketed(liAll.filter($"l_orderkey" % 10 === 7), "l_orderkey", "append", li)
      writeBucketed(liAll.filter($"l_orderkey" % 10 === 8), "l_orderkey", "append", li)
      compactBucketed(spark, li, "l_orderkey")
      li
    })

  /** Gate: the X149 rollup over the compacted twin joined to the
    * bucketed orders twin; oracle = the full original parquet. */
  def qBucketedCompact(spark: org.apache.spark.sql.SparkSession, dir: String): DataFrame = {
    val li = bucketedCompactTable(spark, dir)
    val (_, ord) = bucketedTables(spark, dir)
    spark.table(li)
      .join(spark.table(ord), $"l_orderkey" === $"o_orderkey")
      .groupBy($"o_orderpriority")
      .agg(count(lit(1)).as("n_items"),
        Relational.dsum($"l_quantity").as("sum_qty"),
        Relational.drevenue($"l_extendedprice", $"l_discount").as("revenue"))
      .orderBy($"o_orderpriority")
  }

  val sqlBucketedJoin: String =
    """SELECT o_orderpriority, count(*) AS n_items,
      |  CAST(sum(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) AS sum_qty,
      |  CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,6)) * (1 - CAST(l_discount AS DECIMAL(18,6)))) AS DECIMAL(38,6)) AS DOUBLE) AS revenue
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |GROUP BY 1 ORDER BY 1""".stripMargin

  // ------------------------------------------------------------------
  // Date-partitioned event store + time-range pruned rollup (X161 —
  // the TimescaleDB hypertable intent, reference arch doc:2111:
  // `create_hypertable('raw_trades','trade_timestamp')`). The single
  // most common pruning shape a 100 TB event store serves: facts land
  // in `day=` directories (epoch-day = unix_millis div 86400000, exact
  // integer arithmetic both engines), and a bounded time-range query
  // prunes its scan to the days inside the range — PartitionFilters on
  // the day column, PartitionCount = the range's width, machine-pinned
  // in PlanSpec. X159 pinned this on the ANN cell column and the
  // ShardRouter on shard; this is the TIME-column instance, with the
  // streaming ingest face in [[graft.streaming.DayRouter]] (the same
  // partitioned [[graft.streaming.Streams.idempotentAppend]] the shard
  // router rides: 2 jobs, reads only the files whose keys overlap).
  //
  // The store is written once per input and cached by
  // [[graft.core.Memo]] — the ingest-layout cost a deployed pipeline
  // pays when events land, not per query. The ORACLE
  // reads the ORIGINAL unpartitioned parquet with the equivalent
  // epoch-day predicate — agreement proves the partitioned round-trip
  // lost nothing inside the range AND the day derivation matches.
  // ------------------------------------------------------------------
  val PruneDayLo = 19730L // 2024-01-08
  val PruneDayHi = 19736L // 2024-01-14

  /** Build (once) the day-partitioned event store; returns its path. */
  def dayPartitionedEvents(spark: org.apache.spark.sql.SparkSession,
      dir: String): String =
    Memo.onDisk(spark, dir, "Scale.dayPartitionedEvents") { path =>
      graft.sources.Tables.events(spark, dir)
        .withColumn("day", expr("unix_millis(ts) div 86400000"))
        .write.partitionBy("day").parquet(path)
      path
    }

  /** Gate: per-(day, type) rollup over one bounded week — the scan
    * must read 7 `day=` directories, not 30 (PlanSpec pins
    * PartitionFilters + PartitionCount). */
  def qTimePrune(spark: org.apache.spark.sql.SparkSession, dir: String): DataFrame = {
    val path = dayPartitionedEvents(spark, dir)
    spark.read.parquet(path)
      .filter($"day" >= PruneDayLo && $"day" <= PruneDayHi)
      .groupBy($"day".cast("long").as("day"), $"event_type")
      .agg(count(lit(1)).as("n_events"),
        Relational.dsum($"value").as("sum_value"))
      .orderBy($"day", $"event_type")
  }

  val sqlTimePrune: String =
    s"""SELECT (epoch_ms(ts) // 86400000) AS day, event_type,
       |  count(*) AS n_events,
       |  CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
       |FROM events
       |WHERE (epoch_ms(ts) // 86400000) BETWEEN $PruneDayLo AND $PruneDayHi
       |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  // ------------------------------------------------------------------
  // Retention expiry on the date-partitioned store (X169 — the other
  // half of the hypertable intent: TimescaleDB's `drop_chunks`,
  // arch doc:2111's retention companion). Expiring data older than the
  // retention horizon is a METADATA operation on this layout: delete
  // the `day=` directories below the cutoff — no scan, no rewrite, no
  // tombstones, cost O(dropped partitions) regardless of how many
  // petabytes they held. That is the whole reason event stores
  // partition on time. The GATE builds a retention twin of the X161
  // store, expires the first 10 days, and rolls up EVERYTHING that
  // remains (no predicate — the data is simply gone); the ORACLE reads
  // the original parquet WITH the cutoff predicate — agreement proves
  // the expiry dropped exactly the partitions below the horizon and
  // nothing else.
  // ------------------------------------------------------------------
  val RetentionCutoffDay = 19733L // keep 2024-01-11 onward

  /** Drop every `day=` partition below the cutoff; returns the number
    * of partitions dropped. Pure directory deletes — O(partitions),
    * never touches surviving data. */
  def expireDays(spark: org.apache.spark.sql.SparkSession, path: String,
      cutoffDay: Long): Long = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.listStatus(p).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("day="))
      .map(_.getPath)
      .filter(_.getName.stripPrefix("day=").toLong < cutoffDay)
      .map { d => fs.delete(d, true); 1L }.sum
  }

  /** Retention twin: the day-partitioned store with days below the
    * cutoff expired. Memoized like the day store. */
  def retentionStore(spark: org.apache.spark.sql.SparkSession,
      dir: String): String =
    Memo.onDisk(spark, dir, "Scale.retentionStore") { path =>
      graft.sources.Tables.events(spark, dir)
        .withColumn("day", expr("unix_millis(ts) div 86400000"))
        .write.partitionBy("day").parquet(path)
      expireDays(spark, path, RetentionCutoffDay)
      path
    }

  /** Gate: the full remaining store, no predicate — expiry IS the
    * filter. Oracle applies the cutoff to the original parquet. */
  def qRetentionExpire(spark: org.apache.spark.sql.SparkSession,
      dir: String): DataFrame = {
    val path = retentionStore(spark, dir)
    spark.read.parquet(path)
      .groupBy($"day".cast("long").as("day"), $"event_type")
      .agg(count(lit(1)).as("n_events"),
        Relational.dsum($"value").as("sum_value"))
      .orderBy($"day", $"event_type")
  }

  val sqlRetentionExpire: String =
    s"""SELECT (epoch_ms(ts) // 86400000) AS day, event_type,
       |  count(*) AS n_events,
       |  CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
       |FROM events
       |WHERE (epoch_ms(ts) // 86400000) >= $RetentionCutoffDay
       |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  // ------------------------------------------------------------------
  // Day-store maintenance pair (X171 backfill + X172 compaction — with
  // X161 ingest/pruning and X169 expiry this completes the hypertable
  // lifecycle):
  //
  //  - BACKFILL (X171): a late correction (restated feed, repaired
  //    upstream bug) replaces ONE `day=` directory — read nothing,
  //    stage the corrected rows, swap the directory (the
  //    retractFromIvfArtifact read-rewrite-swap). Cost O(one day),
  //    never the store; every other partition is untouched bytes.
  //  - COMPACTION (X172): streaming appends leave one file per day per
  //    batch; the nightly rewrite re-shards ON THE DAY COLUMN so each
  //    day's rows land in exactly one task ⇒ one file per day, then
  //    swaps the whole staged store in (a deploy compacts only the
  //    days past a file-count threshold through the backfill face;
  //    the gate twin is bounded, so it compacts everything).
  //
  // The GATE ingests the events in three appends with one day's values
  // CORRUPTED at write (doubled), backfills that day from the source,
  // compacts, and rolls up the result; the ORACLE is the clean
  // original parquet — agreement proves the repair fixed exactly the
  // bad partition and the compaction lost nothing. ScaleSpec pins the
  // file counts (3+ per day after the appends, exactly 1 after
  // compaction) and surviving-byte identity on a synthetic store.
  // ------------------------------------------------------------------
  val BackfillDay = 19725L

  /** Replace one `day=` partition with `fresh` rows (no day column —
    * the directory name carries it). Partition-scoped: O(one day). */
  def backfillDay(spark: org.apache.spark.sql.SparkSession, path: String,
      day: Long, fresh: DataFrame): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    val dayPath = new org.apache.hadoop.fs.Path(s"$path/day=$day")
    val stage = new org.apache.hadoop.fs.Path(s"${path}_stage_day_$day")
    val fs = dayPath.getFileSystem(conf)
    fresh.write.mode("overwrite").parquet(stage.toString)
    DirSwap.replace(fs, dayPath, stage)
  }

  /** Rewrite the whole store as one file per day: one day-keyed
    * shuffle, staged write, directory swap. */
  def compactDayStore(spark: org.apache.spark.sql.SparkSession,
      path: String): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    val p = new org.apache.hadoop.fs.Path(path)
    val stage = new org.apache.hadoop.fs.Path(path + "_compact")
    val fs = p.getFileSystem(conf)
    spark.read.parquet(path)
      .repartition(col("day"))
      .write.mode("overwrite").partitionBy("day").parquet(stage.toString)
    DirSwap.replace(fs, p, stage)
  }

  /** Lifecycle twin: 3 corrupted appends → backfill the bad day →
    * compact. Memoized like the day store. */
  def dayLifecycleStore(spark: org.apache.spark.sql.SparkSession,
      dir: String): String =
    Memo.onDisk(spark, dir, "Scale.dayLifecycleStore") { path =>
      val ev = graft.sources.Tables.events(spark, dir)
        .withColumn("day", expr("unix_millis(ts) div 86400000"))
        .select($"event_id", $"ts", $"user_id", $"event_type", $"value", $"day")
      val corrupted = ev.withColumn("value",
        when($"day" === BackfillDay, $"value" * 2).otherwise($"value"))
      (0 until 3).foreach { i =>
        corrupted.filter($"event_id" % 3 === i)
          .write.mode("append").partitionBy("day").parquet(path)
      }
      backfillDay(spark, path, BackfillDay,
        ev.filter($"day" === BackfillDay).drop("day"))
      compactDayStore(spark, path)
      path
    }

  /** Gate: rollup over the maintained store; oracle = the CLEAN
    * original parquet, no predicate — the corruption must be gone and
    * the compaction lossless. */
  def qDayLifecycle(spark: org.apache.spark.sql.SparkSession,
      dir: String): DataFrame = {
    val path = dayLifecycleStore(spark, dir)
    spark.read.parquet(path)
      .groupBy($"day".cast("long").as("day"), $"event_type")
      .agg(count(lit(1)).as("n_events"),
        Relational.dsum($"value").as("sum_value"))
      .orderBy($"day", $"event_type")
  }

  val sqlDayLifecycle: String =
    s"""SELECT (epoch_ms(ts) // 86400000) AS day, event_type,
       |  count(*) AS n_events,
       |  CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
       |FROM events
       |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  // ------------------------------------------------------------------
  // Schema evolution across partition generations (X173): a long-lived
  // event store accretes columns — one day the producer starts
  // emitting `source`, and every partition written before that day
  // simply doesn't have it. The store must stay ONE queryable table:
  // Spark's parquet schema merging unions the file footers
  // (`mergeSchema`), rows from pre-evolution files null-complete the
  // new column, and the query coalesces the null into the legacy
  // marker. No rewrite of old partitions, no blocking migration — the
  // only viable posture when the "old partitions" are 90 TB. The GATE
  // builds a twin whose pre-cutoff partitions lack the column and
  // post-cutoff partitions carry it, reads the union, and rolls up per
  // (generation, type); the ORACLE derives the generation from the day
  // arithmetic over the original single-schema parquet — agreement
  // pins merge + null-completion semantics cross-engine.
  // ------------------------------------------------------------------
  val EvolveDay = 19738L // producer starts emitting `source` 2024-01-16

  /** Two-generation twin: v1 partitions without `source`, v2 with. */
  def evolvedStore(spark: org.apache.spark.sql.SparkSession,
      dir: String): String =
    Memo.onDisk(spark, dir, "Scale.evolvedStore") { path =>
      val ev = graft.sources.Tables.events(spark, dir)
        .withColumn("day", expr("unix_millis(ts) div 86400000"))
      ev.filter($"day" < EvolveDay)
        .select($"event_id", $"event_type", $"value", $"day")
        .write.mode("append").partitionBy("day").parquet(path)
      ev.filter($"day" >= EvolveDay)
        .select($"event_id", $"event_type", $"value", lit("v2").as("source"), $"day")
        .write.mode("append").partitionBy("day").parquet(path)
      path
    }

  /** Gate: one rollup over both schema generations. */
  def qSchemaEvolution(spark: org.apache.spark.sql.SparkSession,
      dir: String): DataFrame = {
    val path = evolvedStore(spark, dir)
    spark.read.option("mergeSchema", "true").parquet(path)
      .select(coalesce($"source", lit("legacy")).as("source_gen"),
        $"event_type", $"value")
      .groupBy($"source_gen", $"event_type")
      .agg(count(lit(1)).as("n_events"),
        Relational.dsum($"value").as("sum_value"))
      .orderBy($"source_gen", $"event_type")
  }

  val sqlSchemaEvolution: String =
    s"""SELECT CASE WHEN (epoch_ms(ts) // 86400000) >= $EvolveDay
       |    THEN 'v2' ELSE 'legacy' END AS source_gen,
       |  event_type, count(*) AS n_events,
       |  CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
       |FROM events
       |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  // ------------------------------------------------------------------
  // Type-WIDENING schema evolution (X179 — the other common evolution,
  // X173's companion): the producer upgrades a value column from INT32
  // to INT64 at the [[EvolveDay]] generation boundary. Unlike the
  // added-column case, parquet `mergeSchema` HARD-FAILS here (Spark's
  // StructType.merge refuses int vs bigint — "Failed to merge
  // incompatible data types"), and a plain un-merged read is worse: it
  // silently serves whichever file's footer it sampled first. The
  // documented posture: read each generation's partition directories
  // separately (the boundary lives in the table catalog; here it is
  // the same day constant X173 uses), cast the narrow generation to
  // the WIDEST type, union — no old-partition rewrite, ever
  // (petabytes of INT32 history stay as written). The GATE rolls up
  // across both generations; the ORACLE replays the generation split
  // from raw `events`. ScaleSpec pins that mergeSchema really does
  // throw on this store, so the posture is proven necessary, not
  // assumed.
  // ------------------------------------------------------------------
  /** Build (once) the widening twin of the day store: `cents` written
    * INT32 before the boundary, INT64 from it on. */
  def widenedStore(spark: org.apache.spark.sql.SparkSession,
      dir: String): String =
    Memo.onDisk(spark, dir, "Scale.widenedStore") { path =>
      val ev = graft.sources.Tables.events(spark, dir)
        .withColumn("day", expr("unix_millis(ts) div 86400000"))
        .withColumn("cents",
          ($"value".cast(org.apache.spark.sql.types.DecimalType(18, 6)) * 100)
            .cast("long"))
      ev.filter($"day" < EvolveDay)
        .select($"event_id", $"event_type", $"cents".cast("int").as("cents"), $"day")
        .write.mode("append").partitionBy("day").parquet(path)
      ev.filter($"day" >= EvolveDay)
        .select($"event_id", $"event_type", $"cents", $"day")
        .write.mode("append").partitionBy("day").parquet(path)
      path
    }

  /** Per-generation read + cast-to-widest union: each generation's
    * `day=` directories are read under their OWN file schema (so the
    * INT32 footers are never sampled for the INT64 half), the narrow
    * side is cast up, and the union serves the widest type. */
  def readWidened(spark: org.apache.spark.sql.SparkSession,
      path: String): DataFrame = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val days = fs.listStatus(p).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("day="))
      .map(_.getPath)
    val (oldDirs, newDirs) =
      days.partition(_.getName.stripPrefix("day=").toLong < EvolveDay)
    def gen(dirs: Seq[org.apache.hadoop.fs.Path]) =
      if (dirs.isEmpty) None
      else Some(spark.read.option("basePath", path)
        .parquet(dirs.map(_.toString): _*))
    val old = gen(oldDirs).map(_.withColumn("cents", $"cents".cast("long")))
    val nw = gen(newDirs)
    (old, nw) match {
      case (Some(a), Some(b)) => a.unionByName(b)
      case (Some(a), None)    => a
      case (None, Some(b))    => b
      case _ => throw new IllegalStateException(s"empty widened store at $path")
    }
  }

  /** Gate: one rollup across both type generations. */
  def qSchemaWidening(spark: org.apache.spark.sql.SparkSession,
      dir: String): DataFrame = {
    val path = widenedStore(spark, dir)
    readWidened(spark, path)
      .select(when($"day".cast("long") >= EvolveDay, "v2").otherwise("legacy")
        .as("gen"), $"event_type", $"cents")
      .groupBy($"gen", $"event_type")
      .agg(count(lit(1)).as("n_events"),
        sum($"cents").cast("long").as("sum_cents"))
      .orderBy($"gen", $"event_type")
  }

  val sqlSchemaWidening: String =
    s"""SELECT CASE WHEN (epoch_ms(ts) // 86400000) >= $EvolveDay
       |    THEN 'v2' ELSE 'legacy' END AS gen,
       |  event_type, count(*) AS n_events,
       |  CAST(sum(CAST(CAST(value AS DECIMAL(18,6)) * 100 AS BIGINT)) AS BIGINT)
       |    AS sum_cents
       |FROM events
       |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  // ------------------------------------------------------------------
  // Z-order READ-side pruning (X176 — the serving half of X162's
  // writer; the hypertable chunk-exclusion posture applied to the
  // second dimension): a footer-stats MANIFEST records, per data file,
  // the min/max of BOTH z-dims read from the real parquet footers —
  // exactly what Delta/Iceberg record in their manifests at commit
  // time — and a 2-dim box predicate becomes a file list BEFORE the
  // scan: only files whose (user, time) envelope intersects the box
  // are opened. On the z-ordered layout both envelopes are ~√-narrow
  // (ScaleSpec's X162 case), so a quarter×quarter box touches ~1/16 of
  // the files; on a single-key sort the second dim's envelope is the
  // whole domain and nothing prunes. The GATE serves a per-user rollup
  // inside a data-derived box (integer 3/8..5/8 fractions of each
  // dim's span, so the predicate is identical at every SF and in both
  // engines); the ORACLE runs the same box over raw `events` —
  // agreement proves the pruned read loses no rows. ScaleSpec pins
  // files-read < total and row-equality against the unpruned read.
  // ------------------------------------------------------------------
  val ZStoreFiles = 32L

  /** Per-file (min, max) of `cols`, read from the REAL parquet footers
    * (block-level column statistics) — driver-side O(files) metadata
    * work, the manifest build a table format performs at commit. */
  def footerStats(spark: org.apache.spark.sql.SparkSession, path: String,
      cols: Seq[String]): Seq[(String, Seq[(Long, Long)])] = {
    import scala.jdk.CollectionConverters._
    val conf = spark.sparkContext.hadoopConfiguration
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(conf)
    fs.listStatus(p).toSeq
      .filter(f => f.isFile && f.getPath.getName.startsWith("part-"))
      .sortBy(_.getPath.getName)
      .map { f =>
        val rd = org.apache.parquet.hadoop.ParquetFileReader.open(
          org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(f.getPath, conf))
        try {
          val chunks = rd.getFooter.getBlocks.asScala.toSeq
            .flatMap(_.getColumns.asScala)
          val spans = cols.map { c =>
            val stats = chunks.filter(_.getPath.toDotString == c)
              .map(_.getStatistics)
              .collect { case s: org.apache.parquet.column.statistics.LongStatistics => s }
            require(stats.nonEmpty, s"no INT64 footer stats for $c in ${f.getPath}")
            (stats.map(_.getMin).min, stats.map(_.getMax).max)
          }
          (f.getPath.getName, spans)
        } finally rd.close()
      }
  }

  /** Build (once) the z-ordered event store: `data/` written by
    * [[writeZordered]] on (user_id, tmu), `manifest/` with the
    * per-file footer envelopes of both dims, `bounds/` with the global
    * dim bounds the box predicate derives from. Returns the base. */
  def zorderStore(spark: org.apache.spark.sql.SparkSession,
      dir: String): String =
    Memo.onDisk(spark, dir, "Scale.zorderStore") { base =>
      val e = graft.sources.Tables.events(spark, dir)
        .select($"event_id", $"user_id", $"event_type", $"value",
          unix_micros($"ts").as("tmu"))
      val total = e.count()
      val target = (total + ZStoreFiles - 1) / ZStoreFiles
      writeZordered(e, "user_id", "tmu", target, s"$base/data", Some(total))
      val man = footerStats(spark, s"$base/data", Seq("user_id", "tmu"))
        .map { case (f, Seq((aLo, aHi), (bLo, bHi))) => (f, aLo, aHi, bLo, bHi) }
      spark.createDataFrame(man)
        .toDF("file", "a_min", "a_max", "b_min", "b_max")
        .coalesce(1).write.mode("overwrite").parquet(s"$base/manifest")
      e.agg(min($"user_id").as("a_min"), max($"user_id").as("a_max"),
        min($"tmu").as("b_min"), max($"tmu").as("b_max"))
        .coalesce(1).write.mode("overwrite").parquet(s"$base/bounds")
      base
    }

  /** The gate's box: integer 3/8..5/8 fractions of each dim's span —
    * derived from the store's 1-row bounds file, exact at any SF. */
  def zorderBox(spark: org.apache.spark.sql.SparkSession,
      base: String): (Long, Long, Long, Long) = {
    val b = spark.read.parquet(s"$base/bounds").head
    val (aMin, aMax, bMin, bMax) =
      (b.getLong(0), b.getLong(1), b.getLong(2), b.getLong(3))
    val aSpan = aMax - aMin + 1
    val bSpan = bMax - bMin + 1
    (aMin + aSpan * 3 / 8, aMin + aSpan * 5 / 8 - 1,
      bMin + bSpan * 3 / 8, bMin + bSpan * 5 / 8 - 1)
  }

  /** Prune the manifest to files whose envelope intersects the box,
    * then read ONLY those files with the residual predicate. Returns
    * (frame, filesRead, filesTotal). The manifest read is O(files)
    * bounded metadata, never data. */
  def zorderPrunedRead(spark: org.apache.spark.sql.SparkSession, base: String,
      aLo: Long, aHi: Long, bLo: Long, bHi: Long): (DataFrame, Long, Long) = {
    val man = spark.read.parquet(s"$base/manifest").collect()
    val hit = man.filter { r =>
      aLo <= r.getLong(2) && r.getLong(1) <= aHi &&
        bLo <= r.getLong(4) && r.getLong(3) <= bHi
    }.map(_.getString(0))
    val residual = (df: DataFrame) => df.filter(
      $"user_id".between(aLo, aHi) && $"tmu".between(bLo, bHi))
    val df =
      if (hit.isEmpty) residual(spark.read.parquet(s"$base/data")).limit(0)
      else residual(spark.read.parquet(hit.map(f => s"$base/data/$f").toSeq: _*))
    (df, hit.length.toLong, man.length.toLong)
  }

  /** Gate: per-user rollup inside the box, served from the pruned
    * file list; oracle = the same box over raw `events`. */
  def qZorderPrune(spark: org.apache.spark.sql.SparkSession,
      dir: String): DataFrame = {
    val base = zorderStore(spark, dir)
    val (aLo, aHi, bLo, bHi) = zorderBox(spark, base)
    val (df, _, _) = zorderPrunedRead(spark, base, aLo, aHi, bLo, bHi)
    df.groupBy($"user_id")
      .agg(count(lit(1)).as("n_events"),
        Relational.dsum($"value").as("sum_value"),
        min($"tmu").as("t_min"), max($"tmu").as("t_max"))
      .orderBy($"user_id")
  }

  val sqlZorderPrune: String =
    s"""WITH b AS (
       |  SELECT min(user_id) AS amin, max(user_id) AS amax,
       |    min(epoch_us(ts)) AS bmin, max(epoch_us(ts)) AS bmax
       |  FROM events),
       |box AS (
       |  SELECT amin + (amax - amin + 1) * 3 // 8 AS alo,
       |    amin + (amax - amin + 1) * 5 // 8 - 1 AS ahi,
       |    bmin + (bmax - bmin + 1) * 3 // 8 AS blo,
       |    bmin + (bmax - bmin + 1) * 5 // 8 - 1 AS bhi
       |  FROM b)
       |SELECT user_id, count(*) AS n_events,
       |  CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value,
       |  min(epoch_us(ts)) AS t_min, max(epoch_us(ts)) AS t_max
       |FROM events CROSS JOIN box
       |WHERE user_id BETWEEN alo AND ahi
       |  AND epoch_us(ts) BETWEEN blo AND bhi
       |GROUP BY user_id ORDER BY user_id""".stripMargin

  // ------------------------------------------------------------------
  // Bloom-filter file skipping (X195 — the point-lookup companion of
  // X176's min/max manifest, the bloom-filter index Delta/Iceberg and
  // Parquet column indexes ship: min/max envelopes prune RANGE
  // predicates on the layout's sort dims, but a point lookup of a few
  // record ids in a store laid out by TIME hits every file's envelope
  // — the needle-in-a-haystack audit/debug/takedown query that would
  // otherwise scan 100 TB. Per data file, a 2¹⁶-bit Bloom filter
  // (Bloom 1970; k = 3 sha-derived positions per id, the X63 bit
  // machinery, packed into 1024 BIGINT words) over its event ids is
  // built ONCE at write and persisted as a manifest sidecar; a probe
  // turns its ids into the same k positions and keeps only files whose
  // filter has ALL k bits set. No false negatives by construction —
  // the gate's row equality against the raw-table oracle IS that
  // proof; false positives cost one extra file read, never
  // correctness. Manifest size: files × ≤1024 words — metadata,
  // corpus-independent per file.
  // ------------------------------------------------------------------
  val BloomStoreFiles = 16
  val BloomPruneK = 3
  val BloomPruneBits = 65536L

  /** The k sha-derived bit positions of an id (X63's position rule). */
  private def bloomPositions(id: Column): Column =
    array((0 until BloomPruneK).map(j =>
      graft.functions.Hashing.h60Seeded(j, id) % BloomPruneBits): _*)

  /** One scan builds every file's filter: id → k positions →
    * (word, bit) → per-(file, word) bit_or — map-side combinable.
    * Input must carry `event_id` and be a plain file scan (the
    * input_file_name projection sits before any join). */
  private def bloomManifestFrame(df: DataFrame): DataFrame =
    df.select(input_file_name().as("path"), $"event_id")
      .select(element_at(split($"path", "/"), -1).as("file"),
        explode(bloomPositions($"event_id")).as("p"))
      .select($"file", expr("p div 64").as("word"),
        expr("shiftleft(1L, cast(p % 64 as int))").as("m"))
      .groupBy($"file", $"word").agg(expr("bit_or(m)").as("bits"))

  /** Build (once) the day-sharded event store: `data/` in
    * [[BloomStoreFiles]] day-hashed files, `manifest/` with each
    * file's packed Bloom words over its event ids, `bounds/` with the
    * global id range the gate's probe set derives from. */
  def bloomStore(spark: org.apache.spark.sql.SparkSession,
      dir: String): String =
    Memo.onDisk(spark, dir, "Scale.bloomStore") { base =>
      val e = graft.sources.Tables.events(spark, dir)
        .select($"event_id", $"user_id", $"event_type",
          ($"value".cast(DEC) * 100).cast("long").as("cents"),
          expr("unix_millis(ts) div 86400000").as("day"))
      e.repartition(BloomStoreFiles, $"day")
        .write.mode("overwrite").parquet(s"$base/data")
      bloomManifestFrame(spark.read.parquet(s"$base/data"))
        .coalesce(1).write.mode("overwrite").parquet(s"$base/manifest")
      e.agg(min($"event_id").as("lo"), max($"event_id").as("hi"))
        .coalesce(1).write.mode("overwrite").parquet(s"$base/bounds")
      base
    }

  /** The gate's probe ids — {min, mid, max} of the id range from the
    * store's 1-row bounds file, exact at any SF (the mid id need not
    * exist: the bloom may read a file for it and find nothing, same
    * as the oracle's join missing). */
  def bloomProbeIds(spark: org.apache.spark.sql.SparkSession,
      base: String): Seq[Long] = {
    val b = spark.read.parquet(s"$base/bounds").head
    val (lo, hi) = (b.getLong(0), b.getLong(1))
    Seq(lo, (lo + hi) / 2, hi).distinct
  }

  /** Prune to files whose Bloom filter has all k bits of SOME probe
    * id, then read only those with the residual id filter. Returns
    * (frame, filesRead, filesTotal). The manifest work is
    * O(files·probes) metadata; the matched-file list is bounded by
    * k-position hits (≤ |probes| true files + FP strays), never the
    * store. */
  def bloomPrunedRead(spark: org.apache.spark.sql.SparkSession, base: String,
      ids: Seq[Long]): (DataFrame, Long, Long) = {
    val probe = spark.createDataFrame(ids.map(Tuple1(_))).toDF("pid")
      .select($"pid", explode(bloomPositions($"pid")).as("p"))
      .select($"pid", expr("p div 64").as("word"),
        expr("shiftleft(1L, cast(p % 64 as int))").as("m"))
    val man = spark.read.parquet(s"$base/manifest")
    val hit = probe.join(man, "word")
      .filter(expr("(bits & m) != 0"))
      .groupBy($"pid", $"file").agg(count(lit(1)).as("k"))
      .filter($"k" === BloomPruneK)
      .select($"file").distinct().collect().map(_.getString(0))
    val conf = spark.sparkContext.hadoopConfiguration
    val dataDir = new org.apache.hadoop.fs.Path(s"$base/data")
    val total = dataDir.getFileSystem(conf).listStatus(dataDir)
      .count(f => f.isFile && f.getPath.getName.startsWith("part-")).toLong
    val residual = (df: DataFrame) => df.filter($"event_id".isin(ids: _*))
    val df =
      if (hit.isEmpty) residual(spark.read.parquet(s"$base/data")).limit(0)
      else residual(spark.read.parquet(hit.map(f => s"$base/data/$f").toSeq: _*))
    (df, hit.length.toLong, total)
  }

  /** Gate: the probed events served through the Bloom-pruned file
    * list; oracle = the id filter over raw `events`. Row equality is
    * the no-false-negative proof; ScaleSpec pins files-read < total. */
  def qBloomPrune(spark: org.apache.spark.sql.SparkSession,
      dir: String): DataFrame = {
    val base = bloomStore(spark, dir)
    val ids = bloomProbeIds(spark, base)
    val (df, _, _) = bloomPrunedRead(spark, base, ids)
    df.select($"event_id", $"user_id", $"event_type", $"cents")
      .orderBy($"event_id")
  }

  val sqlBloomPrune: String =
    s"""WITH b AS (SELECT min(event_id) AS lo, max(event_id) AS hi FROM events),
       |p AS (SELECT lo AS pid FROM b
       |  UNION SELECT (lo + hi) // 2 FROM b
       |  UNION SELECT hi FROM b)
       |SELECT e.event_id, e.user_id, e.event_type,
       |  CAST(CAST(e.value AS DECIMAL(18,6)) * 100 AS BIGINT) AS cents
       |FROM events e JOIN p ON e.event_id = p.pid
       |ORDER BY e.event_id""".stripMargin

  // ------------------------------------------------------------------
  // Incremental Bloom-manifest maintenance (X205 — the ingest-batch
  // half of the X195 index lifecycle, the X154/X165 append argument on
  // the bloom sidecar: an arriving batch lands as NEW data files plus
  // manifest rows for ONLY those files — the existing files' filters
  // are immutable and never recomputed, so index maintenance is
  // O(batch), not O(store). The append is a manifest-parquet `append`
  // write (the base manifest file is untouched bytes, ScaleSpec pins
  // it) and the probe path is byte-for-byte the X195 reader — a probe
  // cannot tell an incrementally-maintained store from a rebuilt one,
  // which is exactly what the shared-oracle gate proves.
  // ------------------------------------------------------------------
  /** Build (once) the incrementally-maintained store: the first 24
    * days as the base build, the remaining days appended as a batch
    * through the new-files + manifest-append path. */
  def bloomIncStore(spark: org.apache.spark.sql.SparkSession,
      dir: String): String =
    Memo.onDisk(spark, dir, "Scale.bloomIncStore") { base =>
      val fs = new org.apache.hadoop.fs.Path(base)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      val e = graft.sources.Tables.events(spark, dir)
        .select($"event_id", $"user_id", $"event_type",
          ($"value".cast(DEC) * 100).cast("long").as("cents"),
          expr("unix_millis(ts) div 86400000").as("day"))
      val cut = e.agg(min($"day")).head.getLong(0) + 24L
      e.filter($"day" < cut).repartition(12, $"day")
        .write.parquet(s"$base/data")
      bloomManifestFrame(spark.read.parquet(s"$base/data"))
        .coalesce(1).write.mode("overwrite").parquet(s"$base/manifest")
      // the arriving batch: new files moved in under the part- prefix,
      // filter rows computed for THOSE files only, manifest appended
      val stage = new org.apache.hadoop.fs.Path(s"$base/stage_inc")
      e.filter($"day" >= cut).repartition(4, $"day")
        .write.parquet(stage.toString)
      val dataP = new org.apache.hadoop.fs.Path(s"$base/data")
      val moved = fs.listStatus(stage).toSeq
        .filter(f => f.isFile && f.getPath.getName.startsWith("part-"))
        .map { f =>
          val dst = new org.apache.hadoop.fs.Path(dataP,
            "part-inc-" + f.getPath.getName.stripPrefix("part-"))
          DirSwap.rename(fs, f.getPath, dst)
          dst.toString
        }
      fs.delete(stage, true)
      bloomManifestFrame(spark.read.parquet(moved: _*))
        .coalesce(1).write.mode("append").parquet(s"$base/manifest")
      e.agg(min($"event_id").as("lo"), max($"event_id").as("hi"))
        .coalesce(1).write.mode("overwrite").parquet(s"$base/bounds")
      base
    }

  /** Gate: the X195 probe served from the incrementally-maintained
    * store — same probe rule, same reader, same oracle; agreement
    * proves the appended files and their filter rows serve identically
    * to a full rebuild. */
  def qBloomInc(spark: org.apache.spark.sql.SparkSession,
      dir: String): DataFrame = {
    val base = bloomIncStore(spark, dir)
    val ids = bloomProbeIds(spark, base)
    val (df, _, _) = bloomPrunedRead(spark, base, ids)
    df.select($"event_id", $"user_id", $"event_type", $"cents")
      .orderBy($"event_id")
  }

  // ------------------------------------------------------------------
  // Runtime bloom-join prefilter (X210 — the classic 100 TB join
  // lever, the deterministic twin of Spark's runtime row-level
  // filtering and the dynamic semi-join filters Trino/Delta push:
  // when a selective dimension joins a huge fact, the fact's rows are
  // shuffled BEFORE the join decides most of them match nothing. The
  // build side's join keys are folded into one 2¹⁶-bit Bloom filter
  // (the X63/X195 bit rule: k = 3 sha-derived positions, 1024 packed
  // BIGINT words — 8 KB, a literal in the probe's filter expression,
  // evaluated inside whole-stage codegen before the exchange), so
  // non-matching fact rows die at the scan and never shuffle. False
  // positives only cost shuffle rows (the exact join removes them);
  // false negatives are impossible by construction — the gate's
  // row-equality against the direct-join oracle IS that proof, and
  // ScaleSpec measures the shuffled-row cut via SQL metrics. Like
  // X102/X120 salting, the filter is stated explicitly rather than
  // left to the optimizer, so the plan is deterministic at any scale;
  // the 2¹⁶ bits suit build sides to ~10⁴ keys (FP ≈ (1-e^(-3n/m))³),
  // and the word count scales with the build side the same way the
  // per-file manifests do.
  // ------------------------------------------------------------------

  /** Fold a frame of join keys (column `k`) into 1024 packed Bloom
    * words — one aggregation, map-side combinable, 8 KB out. */
  def bloomOfKeys(keys: org.apache.spark.sql.DataFrame): Array[Long] = {
    val words = keys.select(explode(bloomPositions($"k")).as("p"))
      .select(expr("p div 64").as("word"),
        expr("shiftleft(1L, cast(p % 64 as int))").as("m"))
      .groupBy($"word").agg(expr("bit_or(m)").as("bits"))
      .collect()
    val arr = Array.fill((BloomPruneBits / 64).toInt)(0L)
    words.foreach(r => arr(r.getLong(0).toInt) = r.getLong(1))
    arr
  }

  /** Membership predicate over the packed words: all k bit positions
    * of `key` set. Pure column expression — codegen'd, no UDF. */
  def bloomMightContain(words: Array[Long], key: Column): Column =
    (0 until BloomPruneK).map { j =>
      val p = graft.functions.Hashing.h60Seeded(j, key) % BloomPruneBits
      element_at(lit(words), shiftrightunsigned(p, 6).cast("int") + 1)
        .bitwiseAND(call_function("shiftleft", lit(1L),
          (p % 64).cast("int"))) =!= 0L
    }.reduce(_ && _)

  /** Gate: orders of nation-3 customers, probe side prefiltered by the
    * build side's Bloom before the join; oracle = the direct join —
    * row equality is the no-false-negative proof. */
  def qBloomJoin(spark: org.apache.spark.sql.SparkSession,
      dir: String): DataFrame = {
    val cust = graft.sources.Tables.customer(spark, dir)
      .filter($"c_nationkey" === 3)
      .select($"c_custkey",
        ($"c_acctbal".cast(DEC) * 100).cast("long").as("acct_cents"))
    val words = bloomOfKeys(cust.select($"c_custkey".as("k")))
    val fact = graft.sources.Tables.orders(spark, dir)
      .select($"o_orderkey", $"o_custkey",
        ($"o_totalprice".cast(DEC) * 100).cast("long").as("cents"))
      .filter(bloomMightContain(words, $"o_custkey"))
    fact.join(cust, $"o_custkey" === $"c_custkey")
      .select($"o_orderkey", $"o_custkey", $"cents", $"acct_cents")
      .orderBy($"o_orderkey")
  }

  val sqlBloomJoin: String =
    """SELECT o.o_orderkey, o.o_custkey,
      |  CAST(CAST(o.o_totalprice AS DECIMAL(18,6)) * 100 AS BIGINT) AS cents,
      |  CAST(CAST(c.c_acctbal AS DECIMAL(18,6)) * 100 AS BIGINT) AS acct_cents
      |FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
      |WHERE c.c_nationkey = 3
      |ORDER BY o.o_orderkey""".stripMargin

  // ------------------------------------------------------------------
  // Snapshot time travel (X198 — the table-format versioning posture
  // of Delta/Iceberg, completing the manifest story X176/X195 started:
  // every COMMIT writes its files into a fresh generation directory
  // and a new manifest (the file LIST that is the snapshot — data
  // files are immutable and never deleted by writes), so reading AS OF
  // version v is just "read manifest v's files". Compaction is a new
  // manifest too: the rewritten files join, the old ones stay on disk
  // and v1/v2 remain readable — the isolation property that makes
  // concurrent readers safe under maintenance at 100 TB. `vacuum`
  // is the only deleter: it drops files unreferenced by any kept
  // manifest, the explicit retention trade (ScaleSpec pins that
  // time travel works after compaction and dies only at vacuum).
  // Gate reads ALL THREE snapshots through their manifests against a
  // day-derived oracle replay — the manifests, not the directory
  // tree, define every result.
  // ------------------------------------------------------------------
  private def ttListFiles(spark: org.apache.spark.sql.SparkSession,
      base: String, sub: String): Seq[String] = {
    val p = new org.apache.hadoop.fs.Path(s"$base/$sub")
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .listStatus(p).toSeq
      .filter(f => f.isFile && f.getPath.getName.startsWith("part-"))
      .map(f => s"$sub/${f.getPath.getName}").sorted
  }

  private def ttWriteManifest(spark: org.apache.spark.sql.SparkSession,
      base: String, v: Int, files: Seq[String]): Unit =
    spark.createDataFrame(files.map(Tuple1(_))).toDF("file")
      .coalesce(1).write.mode("overwrite").parquet(s"$base/manifests/v$v")

  /** Build (once) the three-snapshot store: v1 = the first-20-days
    * slice, v2 = v1 + the remaining days appended as new files,
    * v3 = compaction (v2's content rewritten into 2 files; the old
    * files stay). Returns the base path. */
  def timeTravelStore(spark: org.apache.spark.sql.SparkSession,
      dir: String): String =
    Memo.onDisk(spark, dir, "Scale.timeTravelStore") { base =>
      val e = graft.sources.Tables.events(spark, dir)
        .select($"event_id", $"event_type",
          ($"value".cast(DEC) * 100).cast("long").as("cents"),
          expr("unix_millis(ts) div 86400000").as("day"))
      // bounded 1-row model read: the day cutoff of the v1 commit
      val cut = e.agg(min($"day")).head.getLong(0) + 20L
      e.filter($"day" < cut).repartition(4, $"day")
        .write.parquet(s"$base/add1")
      val v1 = ttListFiles(spark, base, "add1")
      ttWriteManifest(spark, base, 1, v1)
      e.filter($"day" >= cut).repartition(4, $"day")
        .write.parquet(s"$base/add2")
      ttWriteManifest(spark, base, 2, v1 ++ ttListFiles(spark, base, "add2"))
      readAsOf(spark, base, 2).repartition(2)
        .write.parquet(s"$base/compact3")
      ttWriteManifest(spark, base, 3, ttListFiles(spark, base, "compact3"))
      base
    }

  /** Read snapshot `v`: the manifest's file list IS the table. */
  def readAsOf(spark: org.apache.spark.sql.SparkSession, base: String,
      v: Int): DataFrame = {
    val files = spark.read.parquet(s"$base/manifests/v$v")
      .collect().map(_.getString(0)).sorted
    spark.read.parquet(files.map(f => s"$base/$f").toSeq: _*)
  }

  /** Drop every data file unreferenced by manifests ≥ `keepFrom` —
    * the retention trade that ends time travel below it. Returns the
    * number of files deleted. */
  def vacuumBefore(spark: org.apache.spark.sql.SparkSession, base: String,
      keepFrom: Int, maxVersion: Int = 3): Long = {
    val conf = spark.sparkContext.hadoopConfiguration
    val keep = (keepFrom to maxVersion).flatMap(v =>
      spark.read.parquet(s"$base/manifests/v$v")
        .collect().map(_.getString(0))).toSet
    val basePath = new org.apache.hadoop.fs.Path(base)
    val fs = basePath.getFileSystem(conf)
    val gens = fs.listStatus(basePath).toSeq
      .filter(s => s.isDirectory && s.getPath.getName != "manifests")
    var dropped = 0L
    gens.foreach { g =>
      fs.listStatus(g.getPath).toSeq
        .filter(f => f.isFile && f.getPath.getName.startsWith("part-"))
        .foreach { f =>
          val rel = s"${g.getPath.getName}/${f.getPath.getName}"
          if (!keep(rel)) { fs.delete(f.getPath, false); dropped += 1 }
        }
    }
    dropped
  }

  /** Latest committed manifest version at `base` (0 = none yet). */
  def latestVersion(spark: org.apache.spark.sql.SparkSession,
      base: String): Int = {
    val p = new org.apache.hadoop.fs.Path(s"$base/manifests")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) 0
    else fs.listStatus(p).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.matches("v\\d+"))
      .map(_.getPath.getName.drop(1).toInt)
      .foldLeft(0)(math.max)
  }

  /** Optimistic-concurrency commit (X214 — the Delta-style loop that
    * completes X198's single-writer table format: data files land
    * first in a private immutable generation dir, then the committer
    * CLAIMS version v+1 with an atomic create-if-absent marker; the
    * loser re-reads the new latest manifest — which now carries the
    * winner's files — rebases its file list on top and retries, so
    * concurrent commits serialize without locks and NEITHER is lost.
    * The staged manifest is renamed into place only by the claim
    * winner, so readers never observe a half-written version (the
    * stage-swap rule). Returns the version this commit landed as. */
  def commitOcc(spark: org.apache.spark.sql.SparkSession, base: String,
      adds: DataFrame, gen: String): Int = {
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = new org.apache.hadoop.fs.Path(base).getFileSystem(conf)
    adds.write.mode("overwrite").parquet(s"$base/$gen")
    val newFiles = ttListFiles(spark, base, gen)
    var committed = -1
    while (committed < 0) {
      val v = latestVersion(spark, base)
      val baseFiles =
        if (v == 0) Seq.empty[String]
        else spark.read.parquet(s"$base/manifests/v$v")
          .collect().map(_.getString(0)).toSeq
      val cand = v + 1
      val stage = new org.apache.hadoop.fs.Path(
        s"$base/manifests/stage_${gen}_v$cand")
      spark.createDataFrame((baseFiles ++ newFiles).sorted.map(Tuple1(_)))
        .toDF("file")
        .coalesce(1).write.mode("overwrite").parquet(stage.toString)
      val claim = new org.apache.hadoop.fs.Path(s"$base/manifests/claim_v$cand")
      val won =
        try { fs.create(claim, false).close(); true }
        catch { case _: java.io.IOException => false }
      if (won) {
        DirSwap.rename(fs, stage, new org.apache.hadoop.fs.Path(s"$base/manifests/v$cand"))
        committed = cand
      } else {
        fs.delete(stage, true)
        // the winner holds the claim but may not have published yet —
        // wait for its manifest before rebasing
        while (latestVersion(spark, base) < cand) Thread.sleep(10)
      }
    }
    committed
  }

  /** Gate: the per-type rollup of all three snapshots, read through
    * their manifests; oracle replays the commit slices from raw
    * events (v1 = the sub-cutoff days, v2 ≡ v3 ≡ everything). */
  def qTimeTravel(spark: org.apache.spark.sql.SparkSession,
      dir: String): DataFrame = {
    val base = timeTravelStore(spark, dir)
    (1 to 3).map { v =>
      readAsOf(spark, base, v)
        .groupBy($"event_type")
        .agg(count(lit(1)).as("n"), sum($"cents").as("cents"))
        .select(lit(v.toLong).as("version"), $"event_type", $"n", $"cents")
    }.reduce(_ unionByName _)
      .orderBy($"version", $"event_type")
  }

  val sqlTimeTravel: String =
    s"""WITH e AS (
       |  SELECT event_type, (epoch_ms(ts) // 86400000) AS day,
       |    CAST(CAST(value AS DECIMAL(18,6)) * 100 AS BIGINT) AS cents
       |  FROM events),
       |b AS (SELECT min(day) + 20 AS cut FROM e),
       |full_v AS (SELECT event_type, count(*) AS n,
       |    CAST(sum(cents) AS BIGINT) AS cents
       |  FROM e GROUP BY 1)
       |SELECT 1::BIGINT AS version, event_type, count(*) AS n,
       |  CAST(sum(cents) AS BIGINT) AS cents
       |FROM e CROSS JOIN b WHERE day < cut GROUP BY 1, 2
       |UNION ALL
       |SELECT 2::BIGINT, event_type, n, cents FROM full_v
       |UNION ALL
       |SELECT 3::BIGINT, event_type, n, cents FROM full_v
       |ORDER BY version, event_type""".stripMargin

  // ------------------------------------------------------------------
  // Keyed MERGE / CDC upsert (X199 — the one DML shape the day-store
  // lifecycle family was still missing: applying a change batch of
  // deletes, updates and inserts to a keyed 100 TB table, the Delta
  // `MERGE INTO` / Hudi upsert posture. The store is sharded on
  // key % 16 into partition directories; a merge batch touches only
  // the shards its keys hash to — each is read, anti-joined against
  // the batch's delete+update keys, unioned with the batch's rows and
  // stage-swapped (the X171 repair primitive), so merge cost is
  // O(touched shards), never a table rewrite, and untouched shards
  // stay byte-identical (ScaleSpec pins it). Precedence: delete beats
  // update on the same key; inserts carry fresh keys by construction.
  // The gate derives a deterministic CDC batch from the data itself
  // (delete keys %101, double-cents updates %97, shifted-key inserts
  // %103, keyed past max+1 so they are genuinely new keys) and rolls up the merged store against the oracle's replay
  // of those semantics over raw `orders`.
  // ------------------------------------------------------------------
  val UpsertShards = 16

  /** Apply a CDC batch to the keyed store at `base`: rows of
    * `deletes` (k) and `upserts` (k, prio, cents) — update if the key
    * exists, insert otherwise. Only shards carrying batch keys are
    * rewritten. Returns the number of shards touched. */
  def mergeUpsert(spark: org.apache.spark.sql.SparkSession, base: String,
      deletes: DataFrame, upserts: DataFrame): Long = {
    val conf = spark.sparkContext.hadoopConfiguration
    val touched = deletes.select($"k").unionByName(upserts.select($"k"))
      .select(pmod($"k", lit(UpsertShards.toLong)).as("shard"))
      .distinct().collect().map(_.getLong(0)).sorted
    val delK = deletes.select($"k".as("dk"))
    val upK = upserts.select($"k".as("uk"))
    touched.foreach { shard =>
      val dirP = new org.apache.hadoop.fs.Path(s"$base/data/shard=$shard")
      val fs = dirP.getFileSystem(conf)
      // A missing shard dir (possible for sparse keyed stores built
      // through this same API: a fresh key can hash to a shard no row
      // ever landed in) is an empty current frame — the merge becomes
      // insert-only and CREATES the shard via the same stage-swap.
      val shardExists = DirSwap.exists(fs, dirP)
      val shardUpserts = upserts
        .filter(pmod($"k", lit(UpsertShards.toLong)) === shard)
        .join(delK, $"k" === $"dk", "left_anti")
      val merged = (if (shardExists)
        spark.read.parquet(dirP.toString)
          .join(delK, $"k" === $"dk", "left_anti")
          .join(upK, $"k" === $"uk", "left_anti")
          .unionByName(shardUpserts)
      else shardUpserts)
        .coalesce(1)
      val stage = new org.apache.hadoop.fs.Path(s"$base/stage_upsert_$shard")
      merged.write.mode("overwrite").parquet(stage.toString)
      DirSwap.replace(fs, dirP, stage)
    }
    touched.length.toLong
  }

  /** Complete the upsert-store lifecycle (X211 — the compactDayStore
    * discipline applied to the keyed store: appends and parallel
    * writers leave multi-file shards behind; compaction folds each
    * back to one file via the SAME per-shard stage-swap, so readers
    * never see a half-compacted shard and single-file shards stay
    * byte-identical — cost is O(multi-file shards), never a table
    * rewrite). Returns the number of shards compacted. */
  def compactUpsertShards(spark: org.apache.spark.sql.SparkSession,
      base: String): Long = {
    val conf = spark.sparkContext.hadoopConfiguration
    val dataP = new org.apache.hadoop.fs.Path(s"$base/data")
    val fs = dataP.getFileSystem(conf)
    var n = 0L
    fs.listStatus(dataP).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("shard="))
      .foreach { s =>
        val files = fs.listStatus(s.getPath)
          .count(f => f.isFile && f.getPath.getName.startsWith("part-"))
        if (files > 1) {
          val shard = s.getPath.getName.stripPrefix("shard=")
          val merged = spark.read.parquet(s.getPath.toString).coalesce(1)
          val stage = new org.apache.hadoop.fs.Path(s"$base/stage_compact_$shard")
          merged.write.mode("overwrite").parquet(stage.toString)
          DirSwap.replace(fs, s.getPath, stage)
          n += 1
        }
      }
    n
  }

  /** Build (once) the merged store: base = orders keyed on o_orderkey
    * in 16 `shard=` directories, then the deterministic CDC batch
    * applied through [[mergeUpsert]]. */
  def upsertStore(spark: org.apache.spark.sql.SparkSession,
      dir: String): String =
    Memo.onDisk(spark, dir, "Scale.upsertStore") { base =>
      val o = graft.sources.Tables.orders(spark, dir)
        .select($"o_orderkey".as("k"), $"o_orderpriority".as("prio"),
          ($"o_totalprice".cast(DEC) * 100).cast("long").as("cents"))
      o.withColumn("shard", pmod($"k", lit(UpsertShards.toLong)))
        .repartition(UpsertShards, $"shard")
        .write.partitionBy("shard").parquet(s"$base/data")
      val mx = o.agg(max($"k").as("mk"))
      val deletes = o.filter($"k" % 101 === 0).select($"k")
      val updates = o.filter($"k" % 97 === 0 && $"k" % 101 =!= 0)
        .select($"k", $"prio", ($"cents" * 2).as("cents"))
      val inserts = o.filter($"k" % 103 === 0).crossJoin(broadcast(mx))
        .select(($"k" + $"mk" + 1).as("k"), $"prio", ($"cents" + 1).as("cents"))
      mergeUpsert(spark, base, deletes, updates.unionByName(inserts))
      base
    }

  /** Gate: per-priority rollup of the merged store vs the oracle's
    * semantic replay over raw orders. */
  def qMergeUpsert(spark: org.apache.spark.sql.SparkSession,
      dir: String): DataFrame = {
    val base = upsertStore(spark, dir)
    spark.read.parquet(s"$base/data")
      .groupBy($"prio")
      .agg(count(lit(1)).as("n"), sum($"cents").as("cents"),
        sum($"k").as("key_mass"))
      .orderBy($"prio")
  }

  val sqlMergeUpsert: String =
    s"""WITH o AS (
       |  SELECT o_orderkey AS k, o_orderpriority AS prio,
       |    CAST(CAST(o_totalprice AS DECIMAL(18,6)) * 100 AS BIGINT) AS cents
       |  FROM orders),
       |mx AS (SELECT max(k) AS mk FROM o),
       |surv AS (
       |  SELECT k, prio,
       |    CASE WHEN k % 97 = 0 THEN cents * 2 ELSE cents END AS cents
       |  FROM o WHERE k % 101 <> 0),
       |ins AS (
       |  SELECT k + mk + 1 AS k, prio, cents + 1 AS cents
       |  FROM o CROSS JOIN mx WHERE k % 103 = 0),
       |m AS (SELECT * FROM surv UNION ALL SELECT * FROM ins)
       |SELECT prio, count(*) AS n, CAST(sum(cents) AS BIGINT) AS cents,
       |  CAST(sum(k) AS BIGINT) AS key_mass
       |FROM m GROUP BY 1 ORDER BY 1""".stripMargin
}
