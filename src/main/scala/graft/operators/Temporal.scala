package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types.DecimalType

import graft.core.Memo
import graft.io.DirSwap
import graft.sources.Tables

/**
 * Temporal joins — the two join shapes a market-data engine needs that
 * plain equi-joins can't express (reference analogue: matching trade
 * feedback to the most recent signal, PositionTracker's stale-feedback
 * guard at position_tracker.py's 추후 과제.md:59-219, and the
 * "errors in the trailing window before a trade" diagnostics shape of
 * the density baseline, arch doc:642-647).
 *
 * Both are built scale-first:
 *
 *  - As-of join: the naive encoding (inequality join + row_number)
 *    materializes every (probe, candidate-past-row) pair before picking
 *    one — quadratic blowup per key at 100 TB. This implementation uses
 *    the union trick instead: tag both sides, ONE shuffle on the key,
 *    one sort, and a running `last(_, ignoreNulls)` carries the most
 *    recent right-side row forward. Cost is sort-merge of |L|+|R| rows
 *    — the same plan shape Spark uses for any window function, with no
 *    pair explosion ever.
 *
 *  - Range join: the naive inequality join is a per-key cartesian that
 *    Spark plans as BroadcastNestedLoopJoin — quadratic. This
 *    implementation buckets time by the window length: each right row
 *    is emitted into its own bucket and the next (2 copies total), each
 *    probe looks up exactly one bucket, and the equi-join on
 *    (key, bucket) collides only rows within one window length of each
 *    other before the exact range filter. Shuffle volume is 2|R|+|L|
 *    slim rows; the join is a plain shuffled hash join that AQE can
 *    re-plan — this is the shape that survives 100 TB.
 */
object Temporal {
  import Relational.ColInterp

  private val DEC = DecimalType(18, 6)

  // ------------------------------------------------------------------
  // As-of join: for each purchase, the most recent click of the same
  // user at-or-before the purchase (point-in-time enrichment). The
  // right side is first reduced to one row per (user, ts) so the
  // "latest at-or-before" pick is unique and deterministic.
  // ------------------------------------------------------------------
  def qAsofJoin(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val clicks = ev.filter($"event_type" === "click")
      .select($"user_id", unix_millis($"ts").as("ts_ms"), $"value")
      .groupBy($"user_id", $"ts_ms")
      .agg(max($"value").as("c_val"))
    val purchases = ev.filter($"event_type" === "purchase")
      .select($"user_id", unix_millis($"ts").as("ts_ms"), $"event_id", $"value")

    // Union trick: side 0 = click (state carrier), side 1 = purchase
    // (probe). Sorting by (ts, side) puts a click at the same ms BEFORE
    // the purchase, implementing at-or-before (>=) semantics.
    val tagged = clicks
      .select($"user_id", $"ts_ms", lit(0).as("side"),
        lit(null).cast("long").as("event_id"), lit(null).cast("double").as("value"),
        $"ts_ms".as("c_ts"), $"c_val")
      .unionByName(purchases
        .select($"user_id", $"ts_ms", lit(1).as("side"), $"event_id", $"value",
          lit(null).cast("long").as("c_ts"), lit(null).cast("double").as("c_val")))

    val w = Window.partitionBy($"user_id").orderBy($"ts_ms", $"side", $"event_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    tagged
      .withColumn("click_ts_ms", last($"c_ts", ignoreNulls = true).over(w))
      .withColumn("click_value", last($"c_val", ignoreNulls = true).over(w))
      .filter($"side" === 1)
      .select($"user_id", $"ts_ms", $"event_id", $"value", $"click_ts_ms", $"click_value")
      .orderBy($"user_id", $"ts_ms", $"event_id")
  }

  /** Oracle: DuckDB's native ASOF LEFT JOIN (largest right ts ≤ probe
    * ts per key) — an independent implementation of the same semantic,
    * so agreement pins the union-trick encoding exactly. */
  val sqlAsofJoin: String =
    """WITH clicks AS (
      |  SELECT user_id, epoch_ms(ts) AS c_ts, max(value) AS c_val
      |  FROM events WHERE event_type = 'click' GROUP BY 1, 2),
      |purch AS (
      |  SELECT user_id, epoch_ms(ts) AS ts_ms, event_id, value
      |  FROM events WHERE event_type = 'purchase')
      |SELECT p.user_id, p.ts_ms, p.event_id, p.value,
      |  c.c_ts AS click_ts_ms, c.c_val AS click_value
      |FROM purch p ASOF LEFT JOIN clicks c
      |  ON p.user_id = c.user_id AND p.ts_ms >= c.c_ts
      |ORDER BY p.user_id, p.ts_ms, p.event_id""".stripMargin

  // ------------------------------------------------------------------
  // Range join: per purchase, aggregate the errors of the same user in
  // the trailing 6-hour window [ts - 6h, ts). Bucketed as described
  // above; WindowMs doubles as the bucket width so every trailing
  // window spans at most 2 buckets.
  // ------------------------------------------------------------------
  val WindowMs = 21600000L // 6 hours

  private def bucketOf(tsMs: Column): Column = floor(tsMs / WindowMs).cast("long")

  def qRangeJoin(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val purchases = ev.filter($"event_type" === "purchase")
      .select($"user_id", unix_millis($"ts").as("ts_ms"), $"event_id", $"value")
      .withColumn("bkt", bucketOf($"ts_ms"))
    // Each error lands in its own bucket and the next one, so any probe
    // whose trailing window covers it shares a bucket with one copy.
    val errors = ev.filter($"event_type" === "error")
      .select($"user_id", unix_millis($"ts").as("e_ts"), $"value".as("e_val"))
      .withColumn("bkt", explode(array(bucketOf($"e_ts"), bucketOf($"e_ts") + 1)))
    val p = purchases.as("p")
    val e = errors.as("e")
    p.join(e,
        col("p.user_id") === col("e.user_id") && col("p.bkt") === col("e.bkt") &&
        col("e.e_ts") >= col("p.ts_ms") - WindowMs && col("e.e_ts") < col("p.ts_ms"),
        "left")
      .groupBy(col("p.user_id").as("user_id"), col("p.ts_ms").as("ts_ms"),
        col("p.event_id").as("event_id"), col("p.value").as("value"))
      .agg(count(col("e.e_ts")).as("n_errors"),
        coalesce(sum(col("e.e_val").cast(DEC)).cast("double"), lit(0.0)).as("err_value"))
      .orderBy($"user_id", $"ts_ms", $"event_id")
  }

  /** Oracle: the naive inequality join (fine at sf0.01) — the bucketed
    * plan must produce identical aggregates. */
  val sqlRangeJoin: String =
    s"""WITH p AS (SELECT user_id, epoch_ms(ts) AS ts_ms, event_id, value
       |  FROM events WHERE event_type = 'purchase'),
       |e AS (SELECT user_id, epoch_ms(ts) AS e_ts, value AS e_val
       |  FROM events WHERE event_type = 'error')
       |SELECT p.user_id, p.ts_ms, p.event_id, p.value,
       |  count(e.e_ts) AS n_errors,
       |  coalesce(CAST(sum(CAST(e.e_val AS DECIMAL(18,6))) AS DOUBLE), 0.0) AS err_value
       |FROM p LEFT JOIN e ON e.user_id = p.user_id
       |  AND e.e_ts >= p.ts_ms - $WindowMs AND e.e_ts < p.ts_ms
       |GROUP BY 1, 2, 3, 4
       |ORDER BY 1, 2, 3""".stripMargin

  // ------------------------------------------------------------------
  // Time-series gap-fill + forward-fill: regularize each user's
  // irregular purchase stream onto a daily grid, carrying the last
  // observed value across gap days (the resample().ffill() of time-
  // series engines, and the step before any fixed-stride model
  // feature). Scale shape: the textbook encoding (calendar grid LEFT
  // JOIN observations, then an ignore-nulls window) costs a grid
  // build, a join, and a second window pass; this one is JOIN-FREE —
  // each observation explodes its own run of days up to (but not
  // including) the next observation, so forward-fill is carried by
  // construction. ONE user-keyed shuffle total, and the explode is
  // bounded by span-days per user (sequence(), not a calendar-table
  // join, so no hot date key). Day arithmetic is integer floor-div of
  // the ms epoch (positive here ⇒ Spark `div` ≡ DuckDB `//`).
  // ------------------------------------------------------------------
  val DayMs = 86400000L

  def qGapFill(spark: SparkSession, dir: String): DataFrame = {
    val p = Tables.events(spark, dir)
      .filter($"event_type" === "purchase")
      .select($"user_id", unix_millis($"ts").as("ts_ms"), $"event_id", $"value")
      .withColumn("day", expr(s"ts_ms div $DayMs"))
    // Deterministic per-day representative: the day's LAST event,
    // (ts, event_id)-ordered — the funnel family's total-order rule.
    // Ordering days ascending with ts DESC inside each day makes the
    // day's first-seen row its latest event, so one lag() flags it —
    // same partitioning as every later step.
    val wOrd = Window.partitionBy($"user_id")
      .orderBy($"day", $"ts_ms".desc, $"event_id".desc)
    val obs = p
      .withColumn("prev_day", lag($"day", 1).over(wOrd))
      .filter($"prev_day".isNull || $"prev_day" =!= $"day")
      .select($"user_id", $"day", $"value".as("obs_val"))
    // Run expansion: [day, next_day) carries this observation.
    val wNext = Window.partitionBy($"user_id").orderBy($"day")
    obs.withColumn("next_day", lead($"day", 1).over(wNext))
      .select($"user_id", $"day".as("obs_day"), $"obs_val",
        explode(sequence($"day", coalesce($"next_day" - 1, $"day"))).as("day"))
      .select($"user_id", $"day", $"obs_val".as("val"),
        when($"day" === $"obs_day", 1).otherwise(0).as("is_obs"))
      .orderBy($"user_id", $"day")
  }

  /** Oracle: the INDEPENDENT textbook formulation — calendar grid via
    * unnest(range(...)), LEFT JOIN, IGNORE NULLS window — so agreement
    * pins the run-explode encoding algorithmically, not just its
    * arithmetic. The value column is CARRIED, never summed, so the
    * doubles compare bit-exactly. */
  val sqlGapFill: String =
    s"""WITH p AS (
       |  SELECT user_id, epoch_ms(ts) AS ts_ms, event_id, value,
       |    epoch_ms(ts) // $DayMs AS day
       |  FROM events WHERE event_type = 'purchase'),
       |obs AS (
       |  SELECT user_id, day, value AS obs_val FROM (
       |    SELECT user_id, day, value,
       |      row_number() OVER (PARTITION BY user_id, day
       |        ORDER BY ts_ms DESC, event_id DESC) AS rn
       |    FROM p) WHERE rn = 1),
       |grid AS (
       |  SELECT user_id, unnest(range(d0, d1 + 1)) AS day FROM (
       |    SELECT user_id, min(day) AS d0, max(day) AS d1
       |    FROM obs GROUP BY 1)),
       |j AS (
       |  SELECT g.user_id, g.day, o.obs_val
       |  FROM grid g LEFT JOIN obs o
       |    ON g.user_id = o.user_id AND g.day = o.day)
       |SELECT user_id, day,
       |  last_value(obs_val IGNORE NULLS) OVER (
       |    PARTITION BY user_id ORDER BY day
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS val,
       |  CASE WHEN obs_val IS NULL THEN 0 ELSE 1 END AS is_obs
       |FROM j ORDER BY user_id, day""".stripMargin

  // ------------------------------------------------------------------
  // SCD Type-2 interval build: turn each customer's order-priority
  // change log into validity intervals [valid_from, valid_to) with an
  // is_current flag — the slowly-changing-dimension construction every
  // warehouse maintains (Kimball's type-2 dimension). The subtlety the
  // gate pins is run collapsing: consecutive orders with the SAME
  // priority extend one interval (gaps-and-islands on the change
  // flag), they do not open new versions. One customer-keyed shuffle;
  // the island aggregate and interval chaining run inside the same
  // partitioning.
  // ------------------------------------------------------------------
  def qScd2(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
      .select($"o_custkey", $"o_orderkey",
        // parquet TIMESTAMP_NTZ → TIMESTAMP is an exact relabel under
        // the session's UTC zone (the Tables.events convention)
        unix_millis($"o_orderdate".cast("timestamp")).as("d_ms"),
        $"o_orderpriority".as("prio"))
    val wSeq = Window.partitionBy($"o_custkey").orderBy($"d_ms", $"o_orderkey")
    val run = Window.partitionBy($"o_custkey").orderBy($"d_ms", $"o_orderkey")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val islands = o
      .withColumn("chg",
        when(lag($"prio", 1).over(wSeq).isNull ||
          lag($"prio", 1).over(wSeq) =!= $"prio", 1).otherwise(0))
      .withColumn("island", sum($"chg").over(run))
    val wNext = Window.partitionBy($"o_custkey").orderBy($"island")
    islands.groupBy($"o_custkey", $"island")
      .agg(max($"prio").as("prio"), min($"d_ms").as("valid_from_ms"),
        count(lit(1)).as("n_orders"))
      .withColumn("valid_to_ms", lead($"valid_from_ms", 1).over(wNext))
      // the running change-flag sum numbers islands 1..k in change
      // order, which IS the SCD2 version counter — exposed because
      // valid_from alone is ambiguous when two versions open on the
      // same date (ms-resolution change log)
      .select($"o_custkey".as("c_custkey"), $"island".as("version"), $"prio",
        $"valid_from_ms", $"valid_to_ms", $"n_orders",
        when($"valid_to_ms".isNull, 1).otherwise(0).as("is_current"))
      .orderBy($"c_custkey", $"version")
  }

  /** Oracle: identical gaps-and-islands construction — priority is
    * constant within an island so max() is the carry, and the
    * (date, orderkey) order is total, making islands deterministic. */
  val sqlScd2: String =
    """WITH o AS (
      |  SELECT o_custkey, o_orderkey, epoch_ms(o_orderdate) AS d_ms,
      |    o_orderpriority AS prio
      |  FROM orders),
      |flagged AS (
      |  SELECT *, CASE WHEN lag(prio) OVER w IS NULL
      |      OR lag(prio) OVER w <> prio THEN 1 ELSE 0 END AS chg
      |  FROM o WINDOW w AS (PARTITION BY o_custkey ORDER BY d_ms, o_orderkey)),
      |islands AS (
      |  -- sum(BIGINT) is HUGEINT in DuckDB (renders as float through
      |  -- pandas) — cast back so island/version stay BIGINT end to
      |  -- end, matching Spark's windowed LONG sum (the sqlPagerank
      |  -- convention).
      |  SELECT *, CAST(sum(chg) OVER (PARTITION BY o_custkey
      |    ORDER BY d_ms, o_orderkey
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
      |    AS island
      |  FROM flagged),
      |iv AS (
      |  SELECT o_custkey, island, max(prio) AS prio,
      |    min(d_ms) AS valid_from_ms, count(*) AS n_orders
      |  FROM islands GROUP BY 1, 2)
      |SELECT o_custkey AS c_custkey, island AS version, prio, valid_from_ms,
      |  lead(valid_from_ms) OVER w AS valid_to_ms, n_orders,
      |  CASE WHEN lead(valid_from_ms) OVER w IS NULL THEN 1 ELSE 0 END
      |    AS is_current
      |FROM iv WINDOW w AS (PARTITION BY o_custkey ORDER BY island)
      |ORDER BY c_custkey, version""".stripMargin

  // ------------------------------------------------------------------
  // Point-in-time dimension snapshot (X201 — the query the X131 SCD2
  // intervals exist to serve, Kimball's "as-of" dimension read: which
  // version of every customer was ACTIVE at instant t — the join key
  // a reproducible backtest or a late-arriving-fact enrichment needs,
  // where reading the current dimension silently leaks the future.
  // One interval per customer matches by construction (intervals
  // partition [first_order, ∞)); customers whose history starts after
  // t are absent — the dimension genuinely did not know them yet. The
  // probe instant is data-derived (min order date + 15 days, exact ms
  // arithmetic, broadcast 1-row) so the gate is meaningful at every
  // SF; the filter rides the interval frame, no extra shuffle.
  // ------------------------------------------------------------------
  val SnapshotOffsetMs: Long = 15L * 86400000L

  def qScd2Snapshot(spark: SparkSession, dir: String): DataFrame = {
    val probe = Tables.orders(spark, dir)
      .agg((min(unix_millis($"o_orderdate".cast("timestamp")))
        + SnapshotOffsetMs).as("t"))
    qScd2(spark, dir).crossJoin(broadcast(probe))
      .filter($"valid_from_ms" <= $"t" &&
        ($"valid_to_ms".isNull || $"valid_to_ms" > $"t"))
      .select($"c_custkey", $"version", $"prio", $"t".as("as_of_ms"))
      .orderBy($"c_custkey")
  }

  val sqlScd2Snapshot: String =
    s"""WITH o AS (
       |  SELECT o_custkey, o_orderkey, epoch_ms(o_orderdate) AS d_ms,
       |    o_orderpriority AS prio
       |  FROM orders),
       |flagged AS (
       |  SELECT *, CASE WHEN lag(prio) OVER w IS NULL
       |      OR lag(prio) OVER w <> prio THEN 1 ELSE 0 END AS chg
       |  FROM o WINDOW w AS (PARTITION BY o_custkey ORDER BY d_ms, o_orderkey)),
       |islands AS (
       |  SELECT *, CAST(sum(chg) OVER (PARTITION BY o_custkey
       |    ORDER BY d_ms, o_orderkey
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
       |    AS island
       |  FROM flagged),
       |iv AS (
       |  SELECT o_custkey, island, max(prio) AS prio,
       |    min(d_ms) AS valid_from_ms
       |  FROM islands GROUP BY 1, 2),
       |ivx AS (
       |  SELECT o_custkey AS c_custkey, island AS version, prio,
       |    valid_from_ms, lead(valid_from_ms) OVER w AS valid_to_ms
       |  FROM iv WINDOW w AS (PARTITION BY o_custkey ORDER BY island)),
       |p AS (SELECT min(epoch_ms(o_orderdate)) + $SnapshotOffsetMs AS t
       |  FROM orders)
       |SELECT c_custkey, version, prio, t AS as_of_ms
       |FROM ivx CROSS JOIN p
       |WHERE valid_from_ms <= t AND (valid_to_ms IS NULL OR valid_to_ms > t)
       |ORDER BY c_custkey""".stripMargin

  // ------------------------------------------------------------------
  // SCD2 as-of fact enrichment (X208 — the query the interval
  // dimension exists to SERVE, Kimball's standard fact-to-type-2-
  // dimension read and the reference's v_trade_performance join shape,
  // arch doc:2254-2272: every fact row joined to the dimension version
  // valid AT ITS OWN timestamp, `fact.ts >= valid_from AND fact.ts <
  // valid_to` — reading the current dimension instead silently leaks
  // the future into a backtest. Scale shape: the naive inequality-only
  // join plans as a nested-loop over the full fact table; here the
  // join keeps its EQUI key (custkey) with the interval predicate as
  // the residual, and the dimension — |keys|·versions slim rows, tiny
  // next to the fact — is broadcast, so the fact table never shuffles
  // at all (PlanSpec pins BroadcastHashJoin, no BNLJ/cartesian; at
  // fact-dimension ratios where broadcast no longer fits, the same
  // query rides the X17 bucketed-range-join shape). Exactly one
  // version matches per fact row (intervals partition [first_order,
  // ∞) and half-open [from, to) makes same-ms version stacks
  // unambiguous), so inner ≡ left and row count is preserved.
  // ------------------------------------------------------------------
  def qScd2Join(spark: SparkSession, dir: String): DataFrame = {
    val dim = qScd2(spark, dir)
      .select($"c_custkey", $"version", $"prio",
        $"valid_from_ms", $"valid_to_ms")
    val fact = Tables.orders(spark, dir)
      .select($"o_orderkey", $"o_custkey",
        unix_millis($"o_orderdate".cast("timestamp")).as("d_ms"))
    fact.join(broadcast(dim),
        fact("o_custkey") === dim("c_custkey") &&
        $"d_ms" >= $"valid_from_ms" &&
        ($"valid_to_ms".isNull || $"d_ms" < $"valid_to_ms"))
      .select($"o_orderkey", $"o_custkey", $"d_ms", $"version",
        $"prio".as("prio_at_order"))
      .orderBy($"o_orderkey")
  }

  val sqlScd2Join: String =
    """WITH o AS (
      |  SELECT o_custkey, o_orderkey, epoch_ms(o_orderdate) AS d_ms,
      |    o_orderpriority AS prio
      |  FROM orders),
      |flagged AS (
      |  SELECT *, CASE WHEN lag(prio) OVER w IS NULL
      |      OR lag(prio) OVER w <> prio THEN 1 ELSE 0 END AS chg
      |  FROM o WINDOW w AS (PARTITION BY o_custkey ORDER BY d_ms, o_orderkey)),
      |islands AS (
      |  SELECT *, CAST(sum(chg) OVER (PARTITION BY o_custkey
      |    ORDER BY d_ms, o_orderkey
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
      |    AS island
      |  FROM flagged),
      |iv AS (
      |  SELECT o_custkey, island, max(prio) AS prio,
      |    min(d_ms) AS valid_from_ms
      |  FROM islands GROUP BY 1, 2),
      |ivx AS (
      |  SELECT o_custkey AS c_custkey, island AS version, prio,
      |    valid_from_ms, lead(valid_from_ms) OVER w AS valid_to_ms
      |  FROM iv WINDOW w AS (PARTITION BY o_custkey ORDER BY island))
      |SELECT f.o_orderkey, f.o_custkey, epoch_ms(f.o_orderdate) AS d_ms,
      |  x.version, x.prio AS prio_at_order
      |FROM orders f JOIN ivx x ON f.o_custkey = x.c_custkey
      |  AND epoch_ms(f.o_orderdate) >= x.valid_from_ms
      |  AND (x.valid_to_ms IS NULL OR epoch_ms(f.o_orderdate) < x.valid_to_ms)
      |ORDER BY f.o_orderkey""".stripMargin

  // ------------------------------------------------------------------
  // Incremental SCD2 maintenance (X209 — the production job behind
  // X131: the nightly dimension build does NOT rebuild from the full
  // change log, it applies one day's changes to the PERSISTED interval
  // store — close the open interval of each changed key, append its
  // new versions, touch nothing else. The X125/X199 incremental stance
  // applied to dimensions, and the dimension-side consumer of the X206
  // CDC sink. Exactness argument: islands depend only on the PREVIOUS
  // row's priority, and the stored open interval carries exactly that
  // (priority is constant within an island), so collapsing the batch
  // into islands and deciding "merge into the open interval vs close
  // it" per key replays the global gaps-and-islands construction —
  // the gate proves it by hash-matching the maintained store against
  // the full-rebuild oracle over log ∪ batch. Store layout: 16
  // custkey-hashed `shard=` dirs (the X199 layout); an apply rewrites
  // only shards carrying changed keys via stage-swap, untouched shards
  // stay byte-identical (Scd2ApplySpec pins it). Replay safety: a
  // (d_ms, o_orderkey) high-water mark filters already-applied rows,
  // so redelivered batches touch zero shards. Each shard swap goes
  // through an aside ([[graft.io.DirSwap]]), so a crash loses no shard;
  // the watermark lands after the last swap, so a batch redelivered
  // after a crash part-way through re-applies the shards it had already
  // swapped. Contract: batches arrive in
  // event-time order — every fresh row is later than the key's stored
  // history, which the time-cut batching guarantees.
  // ------------------------------------------------------------------
  val Scd2Shards = 16
  val Scd2TailDays = 30L

  /** The qScd2 construction over an arbitrary change-log frame of
    * (o_custkey, o_orderkey, d_ms, prio) — X131 factored so the store
    * build, the spec's synthetic logs and the gate share it. */
  def scd2Intervals(log: DataFrame): DataFrame = {
    val wSeq = Window.partitionBy($"o_custkey").orderBy($"d_ms", $"o_orderkey")
    val run = Window.partitionBy($"o_custkey").orderBy($"d_ms", $"o_orderkey")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val islands = log
      .withColumn("chg",
        when(lag($"prio", 1).over(wSeq).isNull ||
          lag($"prio", 1).over(wSeq) =!= $"prio", 1).otherwise(0))
      .withColumn("island", sum($"chg").over(run))
    val wNext = Window.partitionBy($"o_custkey").orderBy($"island")
    islands.groupBy($"o_custkey", $"island")
      .agg(max($"prio").as("prio"), min($"d_ms").as("valid_from_ms"),
        count(lit(1)).as("n_orders"))
      .withColumn("valid_to_ms", lead($"valid_from_ms", 1).over(wNext))
      .select($"o_custkey".as("c_custkey"), $"island".as("version"), $"prio",
        $"valid_from_ms", $"valid_to_ms", $"n_orders",
        when($"valid_to_ms".isNull, 1).otherwise(0).as("is_current"))
  }

  private def scd2Watermark(spark: SparkSession, base: String): (Long, Long) = {
    val p = new org.apache.hadoop.fs.Path(s"$base/wm")
    if (!p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p))
      (Long.MinValue, Long.MinValue)
    else {
      val r = spark.read.parquet(p.toString).head
      (r.getLong(0), r.getLong(1))
    }
  }

  /** Apply one change batch of (o_custkey, o_orderkey, d_ms, prio) to
    * the persisted interval store at `base`. Returns shards touched
    * (0 for a fully-replayed batch). */
  def scd2Apply(spark: SparkSession, base: String, batch: DataFrame): Long = {
    val conf = spark.sparkContext.hadoopConfiguration
    val (wmMs, wmKey) = scd2Watermark(spark, base)
    val fresh0 = batch.filter($"d_ms" > wmMs ||
      ($"d_ms" === wmMs && $"o_orderkey" > wmKey))
    // collapse the batch into per-key islands ONCE (bidx 1..m in time
    // order), with the per-key first-island summary the merge decision
    // needs; both frames are reused per touched shard, so persist
    val wSeq = Window.partitionBy($"o_custkey").orderBy($"d_ms", $"o_orderkey")
    val run = Window.partitionBy($"o_custkey").orderBy($"d_ms", $"o_orderkey")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wB = Window.partitionBy($"o_custkey").orderBy($"bidx")
    val bi0 = fresh0
      .withColumn("chg", when(lag($"prio", 1).over(wSeq).isNull ||
        lag($"prio", 1).over(wSeq) =!= $"prio", 1).otherwise(0))
      .withColumn("bidx", sum($"chg").over(run))
      .groupBy($"o_custkey", $"bidx")
      .agg(max($"prio").as("bprio"), min($"d_ms").as("bfrom"),
        count(lit(1)).as("bn"))
      .withColumn("bto", lead($"bfrom", 1).over(wB))
      .withColumn("m", max($"bidx").over(
        Window.partitionBy($"o_custkey")))
    val bi = graft.core.Scratch.persist(bi0)
    val touched = bi.select(pmod($"o_custkey", lit(Scd2Shards.toLong)).as("shard"))
      .distinct().collect().map(_.getLong(0)).sorted
    if (touched.nonEmpty) {
      val wmRow = fresh0.agg(max(struct($"d_ms", $"o_orderkey")).as("s"))
        .select($"s.d_ms".as("wm_ms"), $"s.o_orderkey".as("wm_key"))
      // first-island summary per key: what the open-interval merge needs
      val bi1 = bi.filter($"bidx" === 1)
        .select($"o_custkey".as("k"), $"bprio".as("p1"), $"bfrom".as("f1"),
          $"bn".as("n1"), $"m",
          $"bto".as("f2")) // from of island 2 (null when m = 1)
      touched.foreach { shard =>
        val dirP = new org.apache.hadoop.fs.Path(s"$base/data/shard=$shard")
        val fs = dirP.getFileSystem(conf)
        // a missing shard dir (sparse keyed store) is an empty current
        // frame — the mergeUpsert posture: insert-only, shard created
        // by the same stage-swap
        val shardExists = DirSwap.exists(fs, dirP)
        val cur =
          if (shardExists) spark.read.parquet(dirP.toString)
          else spark.emptyDataFrame
            .select(lit(0L).as("c_custkey"), lit(0L).as("version"),
              lit("").as("prio"), lit(0L).as("valid_from_ms"),
              lit(null).cast("long").as("valid_to_ms"),
              lit(0L).as("n_orders"), lit(0).as("is_current"))
            .limit(0)
        val shardKeys = bi1.filter(pmod($"k", lit(Scd2Shards.toLong)) === shard)
        // untouched keys and already-closed versions pass through as-is
        val untouched = cur.join(shardKeys.select($"k"),
          cur("c_custkey") === $"k", "left_anti")
        val closed = cur.filter($"is_current" === 0)
          .join(shardKeys.select($"k"), cur("c_custkey") === $"k", "left_semi")
        // the open interval of each changed key, joined with the merge
        // decision: same priority in the first batch island extends it,
        // a different one closes it at the island's start
        val open = cur.filter($"is_current" === 1)
          .join(shardKeys, cur("c_custkey") === $"k", "right")
        val kinfo = open.select($"k", $"m", $"f1", $"f2", $"n1",
          coalesce($"version", lit(0L)).as("v0"),
          $"prio".as("p0"), $"valid_from_ms".as("vf0"),
          coalesce($"n_orders", lit(0L)).as("n0"),
          $"version".isNotNull.as("has_open"),
          ($"version".isNotNull && $"prio" === $"p1").as("merge"))
        val replacedOpen = kinfo.filter($"has_open")
          .select($"k".as("c_custkey"), $"v0".as("version"), $"p0".as("prio"),
            $"vf0".as("valid_from_ms"),
            when($"merge" && $"m" === 1, lit(null).cast("long"))
              .when($"merge", $"f2").otherwise($"f1").as("valid_to_ms"),
            when($"merge", $"n0" + $"n1").otherwise($"n0").as("n_orders"),
            when($"merge" && $"m" === 1, 1).otherwise(0).as("is_current"))
        val appended = bi
          .filter(pmod($"o_custkey", lit(Scd2Shards.toLong)) === shard)
          .join(kinfo.select($"k", $"v0", $"merge"), $"o_custkey" === $"k")
          .filter(!$"merge" || $"bidx" > 1)
          .select($"o_custkey".as("c_custkey"),
            when($"merge", $"v0" + $"bidx" - 1).otherwise($"v0" + $"bidx")
              .as("version"),
            $"bprio".as("prio"), $"bfrom".as("valid_from_ms"),
            $"bto".as("valid_to_ms"), $"bn".as("n_orders"),
            when($"bto".isNull, 1).otherwise(0).as("is_current"))
        val merged = untouched.unionByName(closed)
          .unionByName(replacedOpen).unionByName(appended)
          .coalesce(1)
        val stage = new org.apache.hadoop.fs.Path(s"$base/stage_scd2_$shard")
        merged.write.mode("overwrite").parquet(stage.toString)
        DirSwap.replace(fs, dirP, stage)
      }
      wmRow.coalesce(1).write.mode("overwrite").parquet(s"$base/wm")
    }
    bi.unpersist()
    touched.length.toLong
  }

  /** Initialize the sharded interval store at a new path `base` from
    * a change log. */
  def scd2InitStore(spark: SparkSession, base: String, log: DataFrame): Unit = {
    scd2Intervals(log)
      .withColumn("shard", pmod($"c_custkey", lit(Scd2Shards.toLong)))
      .repartition(Scd2Shards, $"shard")
      .write.partitionBy("shard").parquet(s"$base/data")
    log.agg(max(struct($"d_ms", $"o_orderkey")).as("s"))
      .select($"s.d_ms".as("wm_ms"), $"s.o_orderkey".as("wm_key"))
      .coalesce(1).write.mode("overwrite").parquet(s"$base/wm")
  }

  private def ordersLog(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .select($"o_custkey", $"o_orderkey",
        unix_millis($"o_orderdate".cast("timestamp")).as("d_ms"),
        $"o_orderpriority".as("prio"))

  /** Build (once) the maintained store: intervals from all orders
    * EXCEPT the last [[Scd2TailDays]] days, then that tail applied as
    * one incremental change batch. */
  def scd2Store(spark: SparkSession, dir: String): String =
    Memo.onDisk(spark, dir, "Temporal.scd2Store") { base =>
      val log = ordersLog(spark, dir)
      // bounded 1-row model read: the tail cut of the initial build
      val cut = log.agg(max($"d_ms")).head.getLong(0) -
        Scd2TailDays * 86400000L
      scd2InitStore(spark, base, log.filter($"d_ms" < cut))
      scd2Apply(spark, base, log.filter($"d_ms" >= cut))
      base
    }

  /** Gate: the incrementally-maintained interval store must equal the
    * full rebuild over log ∪ batch — the oracle is X131's full-log
    * SQL verbatim. */
  def qScd2Apply(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(s"${scd2Store(spark, dir)}/data")
      .select($"c_custkey", $"version", $"prio", $"valid_from_ms",
        $"valid_to_ms", $"n_orders", $"is_current")
      .orderBy($"c_custkey", $"version")

  /** Full-rebuild oracle — identical to [[sqlScd2]] by construction. */
  val sqlScd2Apply: String = sqlScd2
}
