package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.KeyedFsm
import graft.sources.Tables

/**
 * Dashboard analytics beyond plain GROUP BY (reference: the KPI
 * dashboard's per-group views and latency histograms — arch
 * doc:2243-2249, kafka_producer.py:44-63; SURVEY §2.4 A7/A9).
 *
 * Quantiles use the order statistic at ceil(q·n) (no interpolation):
 * deterministic under any partitioning and bit-identical across
 * engines, unlike percentile_approx sketches or interpolated
 * percentiles whose float math differs. Rollup/pivot are single-scan,
 * partial-agg shapes.
 */
object Analytics {
  import Relational.ColInterp
  import Relational.{davg, dsum}

  /** p50/p90/p99 of value per event type, exact order statistics. */
  def qQuantiles(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy($"event_type").orderBy($"value", $"event_id")
    val ranked = Tables.events(spark, dir)
      .select($"event_type", $"value", $"event_id")
      .withColumn("rn", row_number().over(w))
      .withColumn("n", count(lit(1)).over(Window.partitionBy($"event_type")))
    def orderStat(q: Double) =
      min(when($"rn" >= ceil(lit(q) * $"n").cast("long"), $"value"))
    ranked.groupBy($"event_type")
      .agg(count(lit(1)).as("n"),
        orderStat(0.5).as("p50"), orderStat(0.9).as("p90"), orderStat(0.99).as("p99"))
      .orderBy($"event_type")
  }

  val sqlQuantiles: String = {
    def os(q: Double) =
      s"min(value) FILTER (WHERE rn >= CAST(ceil($q * n) AS BIGINT))"
    s"""SELECT event_type, count(*) AS n,
       |  ${os(0.5)} AS p50, ${os(0.9)} AS p90, ${os(0.99)} AS p99
       |FROM (SELECT event_type, value,
       |        row_number() OVER (PARTITION BY event_type ORDER BY value, event_id) AS rn,
       |        count(*) OVER (PARTITION BY event_type) AS n
       |      FROM events)
       |GROUP BY 1 ORDER BY 1""".stripMargin
  }

  // ------------------------------------------------------------------
  // Inter-arrival gap percentiles (X158): per event type, exact
  // p50/p95/p99 of the microsecond gap between a user's consecutive
  // events — the cadence/SLA report behind rate alerting and bot
  // detection (human typing cadences and scripted bursts separate at
  // p50; stuck pipelines show at p99). Two window passes that SHARE
  // one user-keyed shuffle family: the per-user lag producing gaps,
  // then the established exact-order-statistic pattern (rank ≥
  // ceil(q·n), deterministic (gap, user, ts) tie-break — X-quantiles
  // stance: no sketches, no interpolation, bit-identical
  // cross-engine). Gaps are BIGINT micros; a user's first event emits
  // no gap. Gap is attributed to the LATER event's type (the event
  // that "arrived after the wait").
  // ------------------------------------------------------------------
  def qInterarrival(spark: SparkSession, dir: String): DataFrame = {
    val wu = Window.partitionBy($"user_id").orderBy($"ts_us", $"event_id")
    val gaps = Tables.events(spark, dir)
      .select($"user_id", $"event_id", $"event_type",
        unix_micros($"ts").as("ts_us"))
      .withColumn("gap_us", $"ts_us" - lag($"ts_us", 1).over(wu))
      .filter($"gap_us".isNotNull)
    val w = Window.partitionBy($"event_type")
      .orderBy($"gap_us", $"user_id", $"ts_us", $"event_id")
    val ranked = gaps
      .withColumn("rn", row_number().over(w))
      .withColumn("n", count(lit(1)).over(Window.partitionBy($"event_type")))
    def orderStat(q: Double) =
      min(when($"rn" >= ceil(lit(q) * $"n").cast("long"), $"gap_us"))
    ranked.groupBy($"event_type")
      .agg(count(lit(1)).as("n_gaps"),
        orderStat(0.5).as("p50_us"), orderStat(0.95).as("p95_us"),
        orderStat(0.99).as("p99_us"), max($"gap_us").as("max_us"))
      .orderBy($"event_type")
  }

  val sqlInterarrival: String = {
    def os(q: Double) =
      s"min(gap_us) FILTER (WHERE rn >= CAST(ceil($q * n) AS BIGINT))"
    s"""WITH g AS (
       |  SELECT user_id, event_id, event_type, epoch_us(ts) AS ts_us,
       |    epoch_us(ts) - lag(epoch_us(ts)) OVER
       |      (PARTITION BY user_id ORDER BY epoch_us(ts), event_id) AS gap_us
       |  FROM events),
       |r AS (
       |  SELECT event_type, gap_us,
       |    row_number() OVER (PARTITION BY event_type
       |      ORDER BY gap_us, user_id, ts_us, event_id) AS rn,
       |    count(*) OVER (PARTITION BY event_type) AS n
       |  FROM g WHERE gap_us IS NOT NULL)
       |SELECT event_type, count(*)::BIGINT AS n_gaps,
       |  ${os(0.5)} AS p50_us, ${os(0.95)} AS p95_us, ${os(0.99)} AS p99_us,
       |  max(gap_us) AS max_us
       |FROM r GROUP BY 1 ORDER BY 1""".stripMargin
  }

  // ------------------------------------------------------------------
  // Winsorization: clamp outliers to the exact per-group [p05, p95]
  // order statistics — the standard robustification step before a
  // mean/σ-based feature or KPI is trusted. ONE shuffle: the same
  // ranked window that orders each group also yields both thresholds
  // as conditional window-minima, so rows are clamped in the pass that
  // ranked them (no threshold join). Exact order stats, not sketches:
  // deterministic under any partitioning, bit-identical cross-engine.
  // ------------------------------------------------------------------
  def qWinsorize(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy($"event_type").orderBy($"value", $"event_id")
    val wT = Window.partitionBy($"event_type")
    def thresh(q: Double) =
      min(when($"rn" >= ceil(lit(q) * $"n").cast("long"), $"value")).over(wT)
    val clamped = Tables.events(spark, dir)
      .select($"event_type", $"value", $"event_id")
      .withColumn("rn", row_number().over(w))
      .withColumn("n", count(lit(1)).over(wT))
      .withColumn("lo", thresh(0.05))
      .withColumn("hi", thresh(0.95))
      .withColumn("wins", least(greatest($"value", $"lo"), $"hi"))
    clamped.groupBy($"event_type")
      .agg(count(lit(1)).as("n"),
        min($"lo").as("lo"), min($"hi").as("hi"),
        sum(($"value" < $"lo").cast("long")).as("n_clamped_lo"),
        sum(($"value" > $"hi").cast("long")).as("n_clamped_hi"),
        davg($"value").as("mean_raw"),
        davg($"wins").as("mean_winsorized"))
      .orderBy($"event_type")
  }

  val sqlWinsorize: String = {
    def th(q: Double) =
      s"min(CASE WHEN rn >= CAST(ceil($q * n) AS BIGINT) THEN value END) " +
        "OVER (PARTITION BY event_type)"
    def dm(e: String) = s"CAST(sum(CAST($e AS DECIMAL(18,6))) AS DOUBLE) / count($e)"
    s"""SELECT event_type, count(*) AS n, min(lo) AS lo, min(hi) AS hi,
       |  sum(CASE WHEN value < lo THEN 1 ELSE 0 END)::BIGINT AS n_clamped_lo,
       |  sum(CASE WHEN value > hi THEN 1 ELSE 0 END)::BIGINT AS n_clamped_hi,
       |  ${dm("value")} AS mean_raw,
       |  ${dm("least(greatest(value, lo), hi)")} AS mean_winsorized
       |FROM (SELECT event_type, value,
       |        ${th(0.05)} AS lo, ${th(0.95)} AS hi
       |      FROM (SELECT event_type, value,
       |              row_number() OVER (PARTITION BY event_type ORDER BY value, event_id) AS rn,
       |              count(*) OVER (PARTITION BY event_type) AS n
       |            FROM events))
       |GROUP BY 1 ORDER BY 1""".stripMargin
  }

  /** Segment × status rollup with subtotals and a grand total (the
    * dashboard drill-down shape; NULL marks the rolled-up level). */
  def qKpiRollup(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .join(broadcast(Tables.customer(spark, dir)), $"o_custkey" === $"c_custkey")
      .rollup($"c_mktsegment", $"o_orderstatus")
      .agg(count(lit(1)).as("n_orders"), dsum($"o_totalprice").as("total"))
      .orderBy($"c_mktsegment".asc_nulls_first, $"o_orderstatus".asc_nulls_first)

  val sqlKpiRollup: String =
    """SELECT c_mktsegment, o_orderstatus, count(*) AS n_orders,
      |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS total
      |FROM orders JOIN customer ON o_custkey = c_custkey
      |GROUP BY ROLLUP(c_mktsegment, o_orderstatus)
      |ORDER BY c_mktsegment NULLS FIRST, o_orderstatus NULLS FIRST""".stripMargin

  /** Status pivot: one row per segment, one revenue column per order
    * status (explicit value list — required for a stable schema). */
  def qStatusPivot(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .join(broadcast(Tables.customer(spark, dir)), $"o_custkey" === $"c_custkey")
      .groupBy($"c_mktsegment")
      .pivot("o_orderstatus", Seq("F", "O", "P"))
      .agg(dsum($"o_totalprice"))
      .withColumnsRenamed(Map("F" -> "total_f", "O" -> "total_o", "P" -> "total_p"))
      .orderBy($"c_mktsegment")

  val sqlStatusPivot: String =
    """SELECT c_mktsegment,
      |  CAST(sum(CAST(CASE WHEN o_orderstatus = 'F' THEN o_totalprice END AS DECIMAL(18,6))) AS DOUBLE) AS total_f,
      |  CAST(sum(CAST(CASE WHEN o_orderstatus = 'O' THEN o_totalprice END AS DECIMAL(18,6))) AS DOUBLE) AS total_o,
      |  CAST(sum(CAST(CASE WHEN o_orderstatus = 'P' THEN o_totalprice END AS DECIMAL(18,6))) AS DOUBLE) AS total_p
      |FROM orders JOIN customer ON o_custkey = c_custkey
      |GROUP BY 1 ORDER BY 1""".stripMargin

  // ------------------------------------------------------------------
  // Column profiling: per-column row/null/distinct counts plus
  // numeric min/max/mean or string min/max — the data-quality /
  // schema-drift monitoring pass a pipeline runs on every ingest
  // batch. ONE scan produces every statistic (a single wide aggregate
  // row, exploded to long format on the driver side of the agg);
  // exact multi-column distinct counts ride Spark's Expand, which is
  // one pass over the data rather than a job per column. Means go
  // through the exact-decimal sum so both engines agree bit-for-bit.
  // ------------------------------------------------------------------
  private val ProfNumCols = Seq("event_id", "user_id", "value")
  private val ProfStrCols = Seq("event_type", "props")

  def qProfile(spark: SparkSession, dir: String): DataFrame = {
    val df = Tables.events(spark, dir)
    val aggs: Seq[Column] =
      Seq(count(lit(1)).as("n")) ++
      (ProfNumCols ++ ProfStrCols).flatMap { c =>
        Seq(count(col(c)).as(s"cnt_$c"),
          countDistinct(col(c)).as(s"dist_$c"),
          min(col(c)).as(s"min_$c"),
          max(col(c)).as(s"max_$c"))
      } ++
      ProfNumCols.map(c => Relational.davg(col(c)).as(s"mean_$c"))
    val one = df.agg(aggs.head, aggs.tail: _*)
    val nullS = lit(null).cast("string")
    val nullD = lit(null).cast("double")
    val entries =
      ProfNumCols.map { c =>
        struct(lit(c).as("col"), $"n".as("n_rows"),
          ($"n" - col(s"cnt_$c")).as("n_nulls"),
          col(s"dist_$c").as("n_distinct"),
          col(s"min_$c").cast("double").as("min_num"),
          col(s"max_$c").cast("double").as("max_num"),
          col(s"mean_$c").as("mean"),
          nullS.as("min_str"), nullS.as("max_str"))
      } ++
      ProfStrCols.map { c =>
        struct(lit(c).as("col"), $"n".as("n_rows"),
          ($"n" - col(s"cnt_$c")).as("n_nulls"),
          col(s"dist_$c").as("n_distinct"),
          nullD.as("min_num"), nullD.as("max_num"), nullD.as("mean"),
          col(s"min_$c").as("min_str"), col(s"max_$c").as("max_str"))
      }
    one.select(explode(array(entries: _*)).as("p"))
      .select($"p.*")
      .orderBy($"col")
  }

  val sqlProfile: String = {
    def num(c: String) =
      s"""SELECT '$c' AS col, count(*) AS n_rows,
         |  count(*) - count($c) AS n_nulls, count(DISTINCT $c) AS n_distinct,
         |  CAST(min($c) AS DOUBLE) AS min_num, CAST(max($c) AS DOUBLE) AS max_num,
         |  CAST(sum(CAST($c AS DECIMAL(18,6))) AS DOUBLE) / count($c) AS mean,
         |  NULL::VARCHAR AS min_str, NULL::VARCHAR AS max_str FROM events""".stripMargin
    def str(c: String) =
      s"""SELECT '$c' AS col, count(*) AS n_rows,
         |  count(*) - count($c) AS n_nulls, count(DISTINCT $c) AS n_distinct,
         |  NULL::DOUBLE AS min_num, NULL::DOUBLE AS max_num, NULL::DOUBLE AS mean,
         |  min($c) AS min_str, max($c) AS max_str FROM events""".stripMargin
    (ProfNumCols.map(num) ++ ProfStrCols.map(str))
      .mkString("", "\nUNION ALL\n", "\nORDER BY col")
  }

  // ------------------------------------------------------------------
  // k-anonymity / l-diversity release audit (Sweeney 2002; Machanavajjhala
  // et al. 2007): before a user-level table ships in a training corpus
  // or external release, every quasi-identifier group must contain at
  // least K individuals, and the sensitive attribute must take at
  // least L distinct values within the group — otherwise the group
  // generalizes (segment → '*') and the audit re-checks at the coarser
  // key. This is the privacy gate next to the X23/X99 PII scans: those
  // find identifiers IN content, this bounds re-identification via
  // attribute combinations. Scale shape: two grouped aggregates over
  // slim (nation, segment, balance-bucket) rows — map-side combinable,
  // no row-level data ever leaves the scan.
  // ------------------------------------------------------------------
  val AnonK = 10L
  val AnonL = 3L

  def qKAnonymity(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(spark, dir)
      .select($"c_nationkey", $"c_mktsegment",
        // sensitive attribute, bucketed: account balance in 1000s
        // (exact IEEE divide + floor, identical both engines)
        floor($"c_acctbal" / lit(1000.0)).cast("long").as("bal_bucket"))
    // Pass 1: group sizes at the fine quasi-identifier key; groups
    // under K generalize their segment to '*'.
    val g1 = c.groupBy($"c_nationkey", $"c_mktsegment")
      .agg(count(lit(1)).as("n1"))
      .withColumn("release_segment",
        when($"n1" >= AnonK, $"c_mktsegment").otherwise(lit("*")))
    // Pass 2: re-audit at the released key — generalized rows pool
    // into the nation-level '*' group.
    c.join(g1.select($"c_nationkey", $"c_mktsegment", $"release_segment"),
        Seq("c_nationkey", "c_mktsegment"))
      .groupBy($"c_nationkey", $"release_segment")
      .agg(count(lit(1)).as("n_rows"),
        countDistinct($"c_mktsegment").as("n_source_groups"),
        countDistinct($"bal_bucket").as("l_diversity"))
      .select($"c_nationkey", $"release_segment", $"n_rows", $"n_source_groups",
        $"l_diversity",
        when($"n_rows" < AnonK || $"l_diversity" < AnonL, 1).otherwise(0)
          .as("still_at_risk"))
      .orderBy($"c_nationkey", $"release_segment")
  }

  /** Oracle: the same two-pass generalization; floor(x/1000.0) is one
    * IEEE divide + floor in both engines. */
  val sqlKAnonymity: String =
    s"""WITH c AS (
       |  SELECT c_nationkey, c_mktsegment,
       |    CAST(floor(c_acctbal / 1000.0) AS BIGINT) AS bal_bucket
       |  FROM customer),
       |g1 AS (
       |  SELECT c_nationkey, c_mktsegment,
       |    CASE WHEN count(*) >= $AnonK THEN c_mktsegment ELSE '*' END
       |      AS release_segment
       |  FROM c GROUP BY 1, 2)
       |SELECT c.c_nationkey, g1.release_segment, count(*) AS n_rows,
       |  count(DISTINCT c.c_mktsegment) AS n_source_groups,
       |  count(DISTINCT c.bal_bucket) AS l_diversity,
       |  CASE WHEN count(*) < $AnonK
       |    OR count(DISTINCT c.bal_bucket) < $AnonL THEN 1 ELSE 0 END
       |    AS still_at_risk
       |FROM c JOIN g1 ON c.c_nationkey = g1.c_nationkey
       |  AND c.c_mktsegment = g1.c_mktsegment
       |GROUP BY 1, 2
       |ORDER BY 1, 2""".stripMargin

  // ------------------------------------------------------------------
  // Consistent PII pseudonymization (X213 — the third leg of the
  // privacy family next to redaction (X23) and k-anonymity (X133),
  // and the posture data clean rooms require: entity identifiers are
  // replaced by a DETERMINISTIC keyed surrogate — sha-256 of a secret
  // salt + the id, the F13 machinery — applied consistently across
  // EVERY table that carries the id, so referential integrity
  // survives: the fact-dimension join on tokens returns exactly the
  // raw join's rows, and distinct-entity counts are preserved (sha-256
  // collisions don't exist at any realistic cardinality). The gate
  // output carries BOTH the token-side and raw-side distinct counts,
  // so their equality is pinned in the hashed data itself; the join
  // runs on 64-hex-char tokens — same shuffle shape as the raw join,
  // just wider keys (the real deployment cost, stated not hidden).
  // ------------------------------------------------------------------
  val PiiSalt = "graft-pii-v1"

  /** The keyed surrogate of an id column (deterministic, one-way). */
  def pseudonym(id: Column): Column =
    sha2(concat_ws("|", lit(PiiSalt), id.cast("string")), 256)

  def qPseudonymize(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
      .select(pseudonym($"o_custkey").as("tok"),
        ($"o_totalprice".cast("decimal(18,6)") * 100).cast("long").as("cents"))
    val c = Tables.customer(spark, dir)
      .select(pseudonym($"c_custkey").as("ctok"), $"c_mktsegment")
    val tokenSide = o.join(c, $"tok" === $"ctok")
      .groupBy($"c_mktsegment")
      .agg(count(lit(1)).as("n_orders"), sum($"cents").as("cents"),
        countDistinct($"tok").as("n_tok"))
    // independent raw-key twin: only its distinct-entity count joins
    // the output — equality with n_tok IS the preservation pin
    val rawSide = Tables.orders(spark, dir).select($"o_custkey")
      .join(Tables.customer(spark, dir)
        .select($"c_custkey", $"c_mktsegment"),
        $"o_custkey" === $"c_custkey")
      .groupBy($"c_mktsegment")
      .agg(countDistinct($"o_custkey").as("n_raw"))
    tokenSide.join(rawSide, Seq("c_mktsegment"))
      .select($"c_mktsegment", $"n_orders", $"cents", $"n_tok", $"n_raw")
      .orderBy($"c_mktsegment")
  }

  val sqlPseudonymize: String =
    s"""WITH o AS (
       |  SELECT sha256('$PiiSalt' || '|' || o_custkey::VARCHAR) AS tok,
       |    CAST(CAST(o_totalprice AS DECIMAL(18,6)) * 100 AS BIGINT) AS cents
       |  FROM orders),
       |c AS (
       |  SELECT sha256('$PiiSalt' || '|' || c_custkey::VARCHAR) AS ctok,
       |    c_mktsegment
       |  FROM customer),
       |tok_side AS (
       |  SELECT c_mktsegment, count(*) AS n_orders,
       |    CAST(sum(cents) AS BIGINT) AS cents,
       |    count(DISTINCT tok) AS n_tok
       |  FROM o JOIN c ON o.tok = c.ctok GROUP BY 1),
       |raw_side AS (
       |  SELECT c.c_mktsegment, count(DISTINCT o.o_custkey) AS n_raw
       |  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
       |  GROUP BY 1)
       |SELECT c_mktsegment, n_orders, cents, n_tok, n_raw
       |FROM tok_side JOIN raw_side USING (c_mktsegment)
       |ORDER BY c_mktsegment""".stripMargin

  // ------------------------------------------------------------------
  // Cross-source quantile normalization (X139): map each source's
  // length distribution onto the GLOBAL distribution by rank — the
  // rank-based calibration that makes heterogeneous sources' scores
  // comparable before any threshold is applied to them jointly (the
  // quantile-normalization step of cross-dataset score fusion;
  // cf. microarray quantile normalization, Bolstad 2003). Doc d with
  // in-source rank r of n maps to the global value at position
  // p = (r-1)·(N-1) div (n-1) (median for singleton sources) — exact
  // integer arithmetic end to end.
  //
  // Scale shape — the naive encoding ranks the corpus with ONE
  // UNPARTITIONED window (a single reducer sorting 100 TB: fatal).
  // Here the only global structure is the VALUE-LEVEL CDF: group by
  // n_chars (bounded histogram — |distinct lengths| is independent of
  // corpus size), one cumulative window over those histogram rows,
  // giving each value its global position range [lo, hi]; per-doc
  // positions then find their value via a BROADCAST range join against
  // that bounded table. Per-source ranks are ordinary partitioned
  // windows. Nothing global ever touches corpus-sized data.
  // ------------------------------------------------------------------
  def qQuantileNorm(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.documents(spark, dir)
      .select($"doc_id", $"source", $"n_chars")
    val wSrc = Window.partitionBy($"source").orderBy($"n_chars", $"doc_id")
    val ranked = docs
      .withColumn("r", row_number().over(wSrc))
      .withColumn("n", count(lit(1)).over(Window.partitionBy($"source")))
    // value-level global CDF: one row per distinct length (bounded),
    // cumulative count = the value's global position range
    val cdf = docs.groupBy($"n_chars".as("v")).agg(count(lit(1)).as("cnt"))
      .withColumn("hi", sum($"cnt").over(
        Window.orderBy($"v").rowsBetween(Window.unboundedPreceding, Window.currentRow)) - 1)
      .select($"v", ($"hi" - $"cnt" + 1).as("lo"), $"hi")
    // int64 headroom: (r−1)·(nn−1) reaches ~10²⁴ when both the source
    // and the corpus hold ~10¹² docs (the 100 TB regime) — past int64,
    // where Spark (non-ANSI) wraps silently and DuckDB errors. Lift the
    // product to DECIMAL(38,0) / HUGEINT (the X151/X152 convention);
    // IntegralDivide returns BIGINT, so p's type is unchanged.
    val withPos = ranked
      .crossJoin(broadcast(docs.agg(count(lit(1)).as("nn"))))
      .select($"doc_id", $"source", $"n_chars",
        when($"n" === 1, expr("(nn - 1) div 2"))
          .otherwise(expr(
            "(CAST(r - 1 AS DECIMAL(38,0)) * (nn - 1)) div (n - 1)")).as("p"))
    withPos.join(broadcast(cdf), $"p" >= $"lo" && $"p" <= $"hi")
      .select($"doc_id", $"source", $"n_chars", $"v".as("norm_chars"))
      .orderBy($"doc_id")
  }

  val sqlQuantileNorm: String =
    """WITH docs AS (SELECT doc_id, source, n_chars FROM documents),
      |ranked AS (
      |  SELECT doc_id, source, n_chars,
      |    row_number() OVER (PARTITION BY source ORDER BY n_chars, doc_id) AS r,
      |    count(*) OVER (PARTITION BY source) AS n
      |  FROM docs),
      |nn AS (SELECT count(*) AS nn FROM docs),
      |cdf AS (
      |  SELECT v, hi - cnt + 1 AS lo, hi FROM (
      |    SELECT n_chars AS v, count(*) AS cnt,
      |      CAST(sum(count(*)) OVER (ORDER BY n_chars
      |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
      |        - 1 AS hi
      |    FROM docs GROUP BY n_chars)),
      |pos AS (
      |  SELECT doc_id, source, n_chars,
      |    CASE WHEN n = 1 THEN (nn.nn - 1) // 2
      |         ELSE CAST((CAST(r - 1 AS HUGEINT) * (nn.nn - 1)) // (n - 1)
      |                   AS BIGINT) END AS p
      |  FROM ranked CROSS JOIN nn)
      |SELECT doc_id, source, n_chars, c.v AS norm_chars
      |FROM pos JOIN cdf c ON p >= c.lo AND p <= c.hi
      |ORDER BY doc_id""".stripMargin

  // ------------------------------------------------------------------
  // Per-entity trend slope (X151): the OLS regression slope of each
  // supplier's daily price level over time — the per-entity "trend
  // feature" a feature-engineering pipeline materializes next to flat
  // aggregates (is this entity's metric rising or falling, and how
  // fast). EXACT integer arithmetic end to end so the gate is
  // hash-exact cross-engine (both engines' integer division truncates
  // toward zero — verified including negatives, which slopes produce):
  //
  //   slope = (n·Σxy − Σx·Σy) / (n·Σx² − (Σx)²), reported as
  //   slope_ppm = (10⁶ · num) div den   (ppm cents per day)
  //
  // Scale shape + int64 headroom: raw rows first collapse to ONE row
  // per (supplier, day) carrying the TRUNCATED mean price in cents —
  // a map-side-combinable pre-aggregation that bounds every Σ by the
  // DAY-SPAN, not the corpus: x ≤ 3·10³ (days, re-based to the
  // supplier's first day), y ≤ 10⁷ (cents), n ≤ 3·10³ ⇒
  // n·Σxy ≤ 1.6·10¹⁷ and Σx·Σy ≤ 1.6·10¹⁷, both ≪ 2⁶³ REGARDLESS of
  // corpus size. Only the final ppm scaling would overflow int64
  // (10⁶·num ~ 10²³), so that one product runs in DECIMAL(38,0) /
  // HUGEINT. Two slim shuffles: (supplier, day) pre-agg, then the
  // supplier window + aggregate share hashpartitioning(suppkey).
  // ------------------------------------------------------------------

  /** Exact OLS slope over (key, x, y) BIGINT rows: one row per key
    * with n, num, den and slope_ppm; keys with n < 2 are dropped
    * (den > 0 is then guaranteed — x values are distinct per key). */
  def trendSlope(pts: DataFrame): DataFrame =
    pts.groupBy($"key")
      .agg(count(lit(1)).as("n"), sum($"x").as("sx"), sum($"y").as("sy"),
        sum($"x" * $"x").as("sxx"), sum($"x" * $"y").as("sxy"))
      .filter($"n" >= 2)
      .select($"key", $"n",
        ($"n" * $"sxy" - $"sx" * $"sy").as("num"),
        ($"n" * $"sxx" - $"sx" * $"sx").as("den"))
      .select($"key", $"n", $"num", $"den",
        expr("CAST(1000000 AS DECIMAL(38,0)) * CAST(num AS DECIMAL(38,0))" +
          " div CAST(den AS DECIMAL(38,0))").cast("long").as("slope_ppm"))

  /** Gate: per-supplier daily-price trend. y = truncated mean price
    * in exact cents per (supplier, day); x = days since the
    * supplier's first shipment. */
  def qTrendSlope(spark: SparkSession, dir: String): DataFrame = {
    val cents = ($"l_extendedprice".cast("decimal(18,2)") * 100).cast("long")
    val day = datediff($"l_shipdate".cast("date"), lit("1970-01-01"))
      .cast("long")
    val daily = Tables.lineitem(spark, dir)
      .select($"l_suppkey".as("key"), day.as("day"), cents.as("c"))
      .groupBy($"key", $"day")
      .agg(expr("sum(c) div count(c)").as("y"))
    val wk = Window.partitionBy($"key")
    val pts = daily
      .withColumn("x", $"day" - min($"day").over(wk))
      .select($"key", $"x", $"y")
    trendSlope(pts)
      .select($"key".as("suppkey"), $"n".as("n_days"), $"slope_ppm")
      .orderBy($"suppkey")
  }

  // ------------------------------------------------------------------
  // Functional-dependency violation audit (X153): for each DECLARED
  // candidate dependency A → B, how many determinant groups carry more
  // than one dependent value — the schema-quality profile that
  // validates assumed invariants before a pipeline keys on them
  // (dedup canonical-pick keyed on "source determines lang", dimension
  // modeling on "brand determines type", …). Complements X34's
  // single-column profile with CROSS-column structure. Per FD: one
  // map-side-combinable (A, B) distinct-pair aggregate, then a
  // determinant rollup — slim two-phase shuffles whose row counts are
  // bounded by group cardinality, never the fact count; the final
  // report is |FD list| rows. violation_ppm is exact integer
  // (group counts ≤ 10⁹ at 100 TB ⇒ 10⁶ product ≤ 10¹⁵ ≪ 2⁶³).
  // ------------------------------------------------------------------

  /** One audit row for candidate FD det → dep over df. Contract:
    * `dep` is non-null (the audit counts (det, dep) groups; a NULL
    * dependent would count as a value here but is skipped by SQL
    * COUNT(DISTINCT) — declared FDs audit non-null columns). */
  def fdAudit(df: DataFrame, fd: String, det: Column, dep: Column): DataFrame =
    df.select(det.as("a"), dep.as("b"))
      .groupBy($"a", $"b").agg(count(lit(1)).as("_n"))
      .groupBy($"a").agg(count(lit(1)).as("card"))
      .agg(count(lit(1)).as("n_groups"),
        sum(when($"card" > 1, 1L).otherwise(0L)).as("n_violating"),
        max($"card").as("max_card"))
      .select(lit(fd).as("fd"), $"n_groups", $"n_violating", $"max_card",
        expr("(1000000 * n_violating) div n_groups").as("violation_ppm"))

  /** Gate: the declared-FD checklist over the warehouse — one holding
    * dependency (nation.key → region) plus four that real data
    * violates, so the audit's both verdicts are value-gated. */
  def qFdAudit(spark: SparkSession, dir: String): DataFrame =
    fdAudit(Tables.nation(spark, dir), "nation.nationkey->regionkey",
        $"n_nationkey", $"n_regionkey")
      .unionByName(fdAudit(Tables.customer(spark, dir),
        "customer.nationkey->mktsegment", $"c_nationkey", $"c_mktsegment"))
      .unionByName(fdAudit(Tables.orders(spark, dir),
        "orders.custkey->orderpriority", $"o_custkey", $"o_orderpriority"))
      .unionByName(fdAudit(Tables.documents(spark, dir),
        "documents.source->lang", $"source", $"lang"))
      .unionByName(fdAudit(Tables.part(spark, dir),
        "part.brand->type", $"p_brand", $"p_type"))
      .orderBy($"fd")

  val sqlFdAudit: String = {
    def leg(fd: String, table: String, det: String, dep: String): String =
      s"""SELECT '$fd' AS fd, count(*)::BIGINT AS n_groups,
         |  CAST(sum(CASE WHEN card > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_violating,
         |  CAST(max(card) AS BIGINT) AS max_card,
         |  (1000000 * CAST(sum(CASE WHEN card > 1 THEN 1 ELSE 0 END) AS BIGINT))
         |    // count(*) AS violation_ppm
         |FROM (SELECT $det, count(DISTINCT $dep)::BIGINT AS card
         |      FROM $table GROUP BY 1)""".stripMargin
    Seq(
      leg("nation.nationkey->regionkey", "nation", "n_nationkey", "n_regionkey"),
      leg("customer.nationkey->mktsegment", "customer", "c_nationkey", "c_mktsegment"),
      leg("orders.custkey->orderpriority", "orders", "o_custkey", "o_orderpriority"),
      leg("documents.source->lang", "documents", "source", "lang"),
      leg("part.brand->type", "part", "p_brand", "p_type"))
      .mkString("", "\nUNION ALL\n", "\nORDER BY fd")
  }

  // ------------------------------------------------------------------
  // Robust outlier days (X157): flag the days whose event volume sits
  // more than 3 MADs from its type's median — the monitoring-grade
  // anomaly rule that mean/stddev z-scores get wrong on skewed or
  // already-contaminated series (one traffic spike inflates σ and
  // hides itself; the median absolute deviation barely moves:
  // Hampel's robust X84 rule). EXACT arithmetic: daily counts are
  // integers, "median" is the LOWER order statistic at rank
  // (n+1) div 2 under the deterministic (value, day) order — no
  // interpolation, no float, hash-exact cross-engine (DuckDB's
  // median() interpolates, so the oracle writes the same order-stat
  // construction explicitly). MAD = lower median of |x − med|;
  // MAD = 0 (over half the days identical) flags any deviation — the
  // standard degenerate-MAD caveat, deterministic here. Scale shape:
  // facts collapse map-side to (type, day) rows; both median passes
  // are windows over those slim rows sharing hashpartitioning(type);
  // the per-type medians broadcast back (|types| rows).
  // ------------------------------------------------------------------
  /** The testable core over (event_type, day, n) BIGINT rows. */
  def robustOutlierFlags(daily: DataFrame): DataFrame = {
    def lowerMedian(df: DataFrame, value: Column, out: String): DataFrame = {
      val w = Window.partitionBy($"event_type").orderBy(value, $"day")
      val wc = Window.partitionBy($"event_type")
      df.withColumn("_rn", row_number().over(w))
        .withColumn("_cnt", count(lit(1)).over(wc))
        .filter($"_rn" === expr("(_cnt + 1) div 2"))
        .select($"event_type", value.as(out))
    }
    val med = lowerMedian(daily, $"n", "med")
    val dev = daily.join(broadcast(med), "event_type")
      .withColumn("adev", abs($"n" - $"med"))
    val mad = lowerMedian(dev, $"adev", "mad")
    dev.join(broadcast(mad), "event_type")
      .select($"event_type", $"day", $"n".as("n_events"), $"med", $"mad",
        when($"adev" > lit(3L) * $"mad", 1).otherwise(0).as("is_outlier"))
      .orderBy($"event_type", $"day")
  }

  def qOutlierDays(spark: SparkSession, dir: String): DataFrame = {
    val day = datediff($"ts".cast("date"), lit("1970-01-01")).cast("long")
    robustOutlierFlags(Tables.events(spark, dir)
      .select($"event_type", day.as("day"))
      .groupBy($"event_type", $"day").agg(count(lit(1)).as("n")))
  }

  val sqlOutlierDays: String =
    """WITH daily AS (
      |  SELECT event_type,
      |    date_diff('day', DATE '1970-01-01', CAST(ts AS DATE))::BIGINT AS day,
      |    count(*)::BIGINT AS n
      |  FROM events GROUP BY 1, 2),
      |r AS (
      |  SELECT *, row_number() OVER (PARTITION BY event_type ORDER BY n, day) AS rn,
      |    count(*) OVER (PARTITION BY event_type) AS cnt
      |  FROM daily),
      |med AS (SELECT event_type, n AS med FROM r WHERE rn = (cnt + 1) // 2),
      |d AS (
      |  SELECT daily.event_type, daily.day, daily.n, med.med,
      |    abs(daily.n - med.med) AS adev
      |  FROM daily JOIN med USING (event_type)),
      |r2 AS (
      |  SELECT *, row_number() OVER (PARTITION BY event_type ORDER BY adev, day) AS rn2,
      |    count(*) OVER (PARTITION BY event_type) AS cnt2
      |  FROM d),
      |mad AS (SELECT event_type, adev AS mad FROM r2 WHERE rn2 = (cnt2 + 1) // 2)
      |SELECT d.event_type, d.day, d.n AS n_events, d.med, mad.mad,
      |  CASE WHEN d.adev > 3 * mad.mad THEN 1 ELSE 0 END AS is_outlier
      |FROM d JOIN mad USING (event_type)
      |ORDER BY event_type, day""".stripMargin

  val sqlTrendSlope: String =
    """WITH daily AS (
      |  SELECT l_suppkey AS key,
      |    date_diff('day', DATE '1970-01-01', CAST(l_shipdate AS DATE))::BIGINT AS day,
      |    CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT)
      |      // count(*) AS y
      |  FROM lineitem GROUP BY 1, 2),
      |pts AS (
      |  SELECT key, day - min(day) OVER (PARTITION BY key) AS x, y FROM daily),
      |agg AS (
      |  SELECT key, count(*)::BIGINT AS n,
      |    CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
      |    CAST(sum(x * x) AS BIGINT) AS sxx, CAST(sum(x * y) AS BIGINT) AS sxy
      |  FROM pts GROUP BY 1),
      |fit AS (
      |  SELECT key, n, n * sxy - sx * sy AS num, n * sxx - sx * sx AS den
      |  FROM agg WHERE n >= 2)
      |SELECT key AS suppkey, n AS n_days,
      |  CAST((CAST(1000000 AS HUGEINT) * num) // den AS BIGINT) AS slope_ppm
      |FROM fit ORDER BY suppkey""".stripMargin

  // ------------------------------------------------------------------
  // CUSUM drift monitor (X167; Page 1954 — the sequential
  // change-detection chart next to X157's Hampel outlier days: Hampel
  // flags single bad days, CUSUM accumulates SMALL persistent shifts
  // until they cross a threshold, the drift class point rules miss).
  // One-sided upper chart per event type over exact daily revenue
  // cents: target μ = the type's truncated mean daily cents, allowance
  // k = μ div 20 (a 5% drift is worth hearing about), threshold h = μ.
  //
  //   s_i = max(0, s_{i-1} + (x_i − μ − k)),  alarm ⇔ s_i > h
  //
  // The recurrence LOOKS sequential but has the closed window form
  // s_i = p_i − min(0, min_{j≤i} p_j) with p the running sum of
  // (x − μ − k) — two cumulative windows inside one event_type
  // partitioning, no iterative pass, EXACT BIGINT end to end (cents
  // are exact for 2-dp inputs; the windowed sums are CAST back from
  // DuckDB's HUGEINT — the scd2 lesson; headroom: |p| ≤ span-days ·
  // max-daily-cents ≪ 2^63 at any corpus size since both factors are
  // time-bounded, not corpus-bounded). Scale shape: facts collapse
  // map-side to (type, day) rows; every window runs over that slim
  // frame inside hashpartitioning(event_type).
  // ------------------------------------------------------------------
  val CusumDivisor = 20L

  /** The testable core over (event_type, day, x) BIGINT rows: the
    * chart values via the closed two-window form (GraphSpec pins it
    * against the literal sequential fold, drift and spike cases). */
  def cusumFlags(daily: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // the target mean is a WHOLE-PARTITION window over the same
    // event_type partitioning the chart windows need — one daily
    // collapse, one type exchange, no second pass over the facts for
    // a separate mean aggregate
    val w = Window.partitionBy($"event_type").orderBy($"day")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    daily
      .withColumn("mu",
        expr("sum(x) over (partition by event_type) div " +
          "count(*) over (partition by event_type)"))
      .withColumn("d", $"x" - $"mu" - expr(s"mu div $CusumDivisor"))
      .withColumn("p", sum($"d").over(w))
      .withColumn("cusum", $"p" - least(lit(0L), min($"p").over(w)))
      .select($"event_type", $"day", $"x".as("x_cents"), $"cusum",
        ($"cusum" > $"mu").as("alarm"))
      .orderBy($"event_type", $"day")
  }

  def qCusum(spark: SparkSession, dir: String): DataFrame = {
    val cents = ($"value".cast(org.apache.spark.sql.types.DecimalType(18, 6))
      * 100).cast("long")
    cusumFlags(Tables.events(spark, dir)
      .groupBy($"event_type", expr("unix_millis(ts) div 86400000").as("day"))
      .agg(sum(cents).as("x")))
  }

  val sqlCusum: String =
    s"""WITH daily AS (
       |  SELECT event_type, (epoch_ms(ts) // 86400000) AS day,
       |    CAST(sum(CAST(CAST(value AS DECIMAL(18,6)) * 100 AS BIGINT)) AS BIGINT) AS x
       |  FROM events GROUP BY 1, 2),
       |m AS (SELECT event_type, CAST(sum(x) // count(*) AS BIGINT) AS mu
       |  FROM daily GROUP BY 1),
       |d AS (SELECT daily.event_type, day, x, mu, x - mu - (mu // $CusumDivisor) AS d
       |  FROM daily JOIN m USING (event_type)),
       |p AS (SELECT event_type, day, x, mu,
       |    CAST(sum(d) OVER w AS BIGINT) AS p
       |  FROM d WINDOW w AS (PARTITION BY event_type ORDER BY day
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
       |s AS (SELECT event_type, day, x, mu,
       |    p - least(0, CAST(min(p) OVER w AS BIGINT)) AS cusum
       |  FROM p WINDOW w AS (PARTITION BY event_type ORDER BY day
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
       |SELECT event_type, day, x AS x_cents, cusum, cusum > mu AS alarm
       |FROM s ORDER BY event_type, day""".stripMargin

  // ------------------------------------------------------------------
  // Benford first-digit audit (X170; Benford 1938; Nigrini 1996's
  // forensic-accounting test — fabricated or systematically-rounded
  // amounts drift from the logarithmic first-digit law, making this a
  // standard fraud/data-quality screen over transaction values; the
  // reference's domain is exactly such a value stream). Per
  // (event_type, digit): observed count, observed ppm share (exact
  // integer n·10⁶ div total), the Benford expectation, and the
  // absolute deviation. The expectations round(log10(1+1/d)·10⁶) are
  // computed ONCE in Scala and embedded as the same nine literals in
  // BOTH plans — no cross-engine libm in the query path (JVM and
  // DuckDB log10 may differ in the last ulp; constants cannot).
  // Leading digit via the decimal string of the exact cents value —
  // identical arithmetic both engines. Scale shape: one map-side
  // combinable (type, digit) count + a broadcast 1-row total per type;
  // the audit reads one column.
  // ------------------------------------------------------------------
  val BenfordPpm: Seq[(Int, Long)] = (1 to 9)
    .map(d => d -> math.round(math.log10(1.0 + 1.0 / d) * 1e6))

  def qBenford(spark: SparkSession, dir: String): DataFrame = {
    val cents = ($"value".cast(org.apache.spark.sql.types.DecimalType(18, 6))
      * 100).cast("long")
    val exp = spark.createDataFrame(BenfordPpm.map { case (d, p) => (d.toLong, p) })
      .toDF("digit", "exp_ppm")
    // Benford's law is only defined on positive magnitudes: a negative
    // cents value would put '-' in substr position 1 (DuckDB hard-errors
    // on the cast, Spark nulls) and zero rows would land in `total` but
    // be dropped by the 1-9 digit join. Filter before digit extraction,
    // identically in both engines.
    val counts = Tables.events(spark, dir)
      .select($"event_type", cents.as("cents"))
      .where($"cents" > 0)
      .select($"event_type",
        substring($"cents".cast("string"), 1, 1).cast("long").as("digit"))
      .groupBy($"event_type", $"digit")
      .agg(count(lit(1)).as("n"))
    val totals = counts.groupBy($"event_type").agg(sum($"n").as("total"))
    counts.join(broadcast(totals), Seq("event_type"))
      .join(broadcast(exp), Seq("digit"))
      .select($"event_type", $"digit", $"n",
        expr("(n * 1000000) div total").as("obs_ppm"),
        $"exp_ppm",
        abs(expr("(n * 1000000) div total") - $"exp_ppm").as("dev_ppm"))
      .orderBy($"event_type", $"digit")
  }

  val sqlBenford: String = {
    val expRows = BenfordPpm.map { case (d, p) => s"($d, ${p})" }.mkString(", ")
    s"""WITH p AS (
       |  SELECT event_type,
       |    CAST(CAST(value AS DECIMAL(18,6)) * 100 AS BIGINT) AS cents
       |  FROM events
       |  WHERE CAST(CAST(value AS DECIMAL(18,6)) * 100 AS BIGINT) > 0),
       |c AS (
       |  SELECT event_type,
       |    CAST(substr(CAST(cents AS VARCHAR), 1, 1) AS BIGINT) AS digit,
       |    count(*) AS n
       |  FROM p GROUP BY 1, 2),
       |t AS (SELECT event_type, CAST(sum(n) AS BIGINT) AS total FROM c GROUP BY 1),
       |e(digit, exp_ppm) AS (VALUES $expRows)
       |SELECT c.event_type, c.digit, CAST(c.n AS BIGINT) AS n,
       |  CAST((c.n * 1000000) // t.total AS BIGINT) AS obs_ppm,
       |  CAST(e.exp_ppm AS BIGINT) AS exp_ppm,
       |  CAST(abs((c.n * 1000000) // t.total - e.exp_ppm) AS BIGINT) AS dev_ppm
       |FROM c JOIN t USING (event_type) JOIN e USING (digit)
       |ORDER BY c.event_type, c.digit""".stripMargin
  }

  // ------------------------------------------------------------------
  // EWMA smoothing (X186 — the standard exponentially-weighted moving
  // average every market-data stack runs over its price/flow series;
  // Roberts 1959, the control-chart companion of X167's CUSUM): over
  // the same per-(type, day) cents series, s_1 = x_1 and
  // s_t = (x_t + 3·s_{t-1}) div 4 (α = 1/4 as an exact rational —
  // truncating integer division, bit-identical in Spark `div`, Java
  // `/` and DuckDB `//`). The fold is inherently sequential per key,
  // so the scale shape is a graft.core.KeyedFsm replay (one shuffle
  // on the type key, external day sort, O(1) state per key — the
  // spoofing/density discipline); the ORACLE replays the
  // recurrence as a data-driven recursive CTE keyed on the per-type
  // row number (the pack-walk shape).
  // ------------------------------------------------------------------
  val EwmaNum = 3L
  val EwmaDen = 4L

  def qEwma(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits.{newProductEncoder, rddToDatasetHolder}
    val cents = ($"value".cast(org.apache.spark.sql.types.DecimalType(18, 6))
      * 100).cast("long")
    val daily = Tables.events(spark, dir)
      .groupBy($"event_type", expr("unix_millis(ts) div 86400000").as("day"))
      .agg(sum(cents).as("x"))
      .select($"event_type", $"day", $"x")
      .as[(String, Long, Long)]
    val ewma = new KeyedFsm[String, (String, Long, Long), Option[Long], (String, Long, Long, Long)](
      "event_type", _._1, Seq("day"), Ordering.by(_._2),
      None, { case (prev, (t, d, x)) =>
        val s = prev.fold(x)(p => (x + EwmaNum * p) / EwmaDen)
        (Some(s), Some((t, d, x, s)))
      })
    ewma.replay(daily)
      .toDF("event_type", "day", "x_cents", "ewma_cents")
      .orderBy($"event_type", $"day")
  }

  val sqlEwma: String =
    s"""WITH RECURSIVE daily AS (
       |  SELECT event_type, (epoch_ms(ts) // 86400000) AS day,
       |    CAST(sum(CAST(CAST(value AS DECIMAL(18,6)) * 100 AS BIGINT)) AS BIGINT) AS x
       |  FROM events GROUP BY 1, 2),
       |r AS (SELECT event_type, day, x,
       |    row_number() OVER (PARTITION BY event_type ORDER BY day) AS rn
       |  FROM daily),
       |walk(event_type, rn, day, x, s) AS (
       |  SELECT event_type, rn, day, x, x FROM r WHERE rn = 1
       |  UNION ALL
       |  SELECT r.event_type, r.rn, r.day, r.x,
       |    (r.x + $EwmaNum * w.s) // $EwmaDen
       |  FROM walk w JOIN r ON r.event_type = w.event_type AND r.rn = w.rn + 1)
       |SELECT event_type, day, x AS x_cents, s AS ewma_cents
       |FROM walk ORDER BY event_type, day""".stripMargin

  // ------------------------------------------------------------------
  // Holt double exponential smoothing (X194 — Holt 1957, the
  // trend-aware companion of X186's single EWMA: a plain EWMA lags a
  // trending series by a constant offset, so every forecasting stack
  // runs level+trend smoothing instead): over the per-(type, day)
  // cents series,
  //   l_1 = x_1,                b_1 = 0
  //   l_t = (x_t + 3·(l_{t-1} + b_{t-1})) div 4   (α = 1/4)
  //   b_t = ((l_t − l_{t-1}) + 3·b_{t-1}) div 4   (β = 1/4)
  // with the one-step forecast f_t = l_t + b_t — all exact rationals
  // in truncating integer division (Spark `div` ≡ Java `/` ≡ DuckDB
  // `//`, including negatives — the trend term b CAN go negative).
  // Same scale shape as qEwma: inherently sequential per key ⇒ a
  // KeyedFsm replay, one type-keyed shuffle, O(1) state;
  // oracle = the two-state data-driven recursive CTE walk.
  // ------------------------------------------------------------------
  def qHolt(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits.{newProductEncoder, rddToDatasetHolder}
    val cents = ($"value".cast(org.apache.spark.sql.types.DecimalType(18, 6))
      * 100).cast("long")
    val daily = Tables.events(spark, dir)
      .groupBy($"event_type", expr("unix_millis(ts) div 86400000").as("day"))
      .agg(sum(cents).as("x"))
      .select($"event_type", $"day", $"x")
      .as[(String, Long, Long)]
    // state: (level, trend) once the first day is seen
    val holt = new KeyedFsm[String, (String, Long, Long), Option[(Long, Long)],
        (String, Long, Long, Long, Long, Long)](
      "event_type", _._1, Seq("day"), Ordering.by(_._2),
      None, { case (prev, (t, d, x)) =>
        val (l, b) = prev.fold((x, 0L)) { case (lPrev, bPrev) =>
          val l = (x + EwmaNum * (lPrev + bPrev)) / EwmaDen
          (l, ((l - lPrev) + EwmaNum * bPrev) / EwmaDen)
        }
        (Some((l, b)), Some((t, d, x, l, b, l + b)))
      })
    holt.replay(daily)
      .toDF("event_type", "day", "x_cents", "level_cents", "trend_cents",
        "forecast_cents")
      .orderBy($"event_type", $"day")
  }

  val sqlHolt: String =
    s"""WITH RECURSIVE daily AS (
       |  SELECT event_type, (epoch_ms(ts) // 86400000) AS day,
       |    CAST(sum(CAST(CAST(value AS DECIMAL(18,6)) * 100 AS BIGINT)) AS BIGINT) AS x
       |  FROM events GROUP BY 1, 2),
       |r AS (SELECT event_type, day, x,
       |    row_number() OVER (PARTITION BY event_type ORDER BY day) AS rn
       |  FROM daily),
       |walk(event_type, rn, day, x, l, b) AS (
       |  SELECT event_type, rn, day, x, x, 0::BIGINT FROM r WHERE rn = 1
       |  UNION ALL
       |  SELECT r.event_type, r.rn, r.day, r.x,
       |    (r.x + $EwmaNum * (w.l + w.b)) // $EwmaDen,
       |    (((r.x + $EwmaNum * (w.l + w.b)) // $EwmaDen - w.l)
       |      + $EwmaNum * w.b) // $EwmaDen
       |  FROM walk w JOIN r ON r.event_type = w.event_type AND r.rn = w.rn + 1)
       |SELECT event_type, day, x AS x_cents, l AS level_cents,
       |  b AS trend_cents, l + b AS forecast_cents
       |FROM walk ORDER BY event_type, day""".stripMargin

  // ------------------------------------------------------------------
  // Day-of-week seasonality profile (X193 — the seasonal-baseline
  // monitoring face next to X157's Hampel days and X167's CUSUM: a
  // Monday always looks anomalous against a flat weekly mean, so the
  // alerting baseline must be per-weekday): per (type, weekday) over
  // exact daily cents, the day count, the truncated mean, and the
  // worst single-day deviation from that weekday's own mean in ppm.
  // Weekday from pure epoch-day arithmetic — (day + 4) % 7 with
  // 0 = Sunday (epoch day 0 = Thursday = 4) — no timezone/libc date
  // functions in either engine. The ppm product is lifted to
  // DECIMAL(38,0)/HUGEINT (X152 precedent: per-type daily cents reach
  // ~10¹³ at 100 TB, ·10⁶ would wrap int64). One map-side-combinable
  // (type, day) rollup, then mean and deviation share the same
  // (type, dow) window partitioning before the final group-by.
  // ------------------------------------------------------------------
  def qSeasonality(spark: SparkSession, dir: String): DataFrame = {
    val cents = ($"value".cast(org.apache.spark.sql.types.DecimalType(18, 6))
      * 100).cast("long")
    val daily = Tables.events(spark, dir)
      .groupBy($"event_type", expr("unix_millis(ts) div 86400000").as("day"))
      .agg(sum(cents).as("x"))
      .withColumn("dow", expr("(day + 4) % 7"))
    val byDow = Window.partitionBy($"event_type", $"dow")
    daily
      .withColumn("sx", sum($"x".cast("decimal(38,0)")).over(byDow))
      .withColumn("nx", count(lit(1)).over(byDow))
      .withColumn("mean_cents", expr("sx div nx")) // truncating ≡ DuckDB //
      .groupBy($"event_type", $"dow")
      .agg(count(lit(1)).as("n_days"),
        max($"mean_cents").as("mean_cents"),
        max(expr(
          "(CAST(abs(x - mean_cents) AS DECIMAL(38,0)) * 1000000) div greatest(mean_cents, 1)"))
          .cast("long").as("max_dev_ppm"))
      .orderBy($"event_type", $"dow")
  }

  val sqlSeasonality: String =
    s"""WITH daily AS (
       |  SELECT event_type, (epoch_ms(ts) // 86400000) AS day,
       |    CAST(sum(CAST(CAST(value AS DECIMAL(18,6)) * 100 AS BIGINT)) AS BIGINT) AS x
       |  FROM events GROUP BY 1, 2),
       |d AS (SELECT event_type, (day + 4) % 7 AS dow, x FROM daily),
       |m AS (SELECT event_type, dow, x,
       |    (sum(x) OVER (PARTITION BY event_type, dow)
       |      // count(*) OVER (PARTITION BY event_type, dow))::BIGINT AS mean_cents
       |  FROM d)
       |SELECT event_type, dow, count(*) AS n_days,
       |  max(mean_cents) AS mean_cents,
       |  CAST(max((CAST(abs(x - mean_cents) AS HUGEINT) * 1000000)
       |    // greatest(mean_cents, 1)) AS BIGINT) AS max_dev_ppm
       |FROM m GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  // ------------------------------------------------------------------
  // Grouping-sets rollup (X188 — the multi-level OLAP aggregation the
  // reference's KPI dashboard implies, arch doc:2243-2249 "grouped by
  // coin/reason/day": one scan produces the per-(nation, segment)
  // cells, the per-nation subtotals AND the grand total via Spark's
  // native ROLLUP — the partial-agg tree computes all three levels in
  // one shuffle where three separate GROUP BYs would scan the fact
  // table three times, THE reason grouping sets exist at 100 TB).
  // Rolled-up levels surface as '*' through coalesce — the grouping
  // columns themselves are never null in this schema.
  // ------------------------------------------------------------------
  def qGroupingSets(spark: SparkSession, dir: String): DataFrame = {
    val cents = ($"c_acctbal".cast(org.apache.spark.sql.types.DecimalType(18, 6))
      * 100).cast("long")
    Tables.customer(spark, dir)
      .join(Tables.nation(spark, dir), $"c_nationkey" === $"n_nationkey")
      .select($"n_name".as("nation"), $"c_mktsegment".as("segment"),
        cents.as("cents"))
      .rollup($"nation", $"segment")
      .agg(count(lit(1)).as("n_customers"), sum($"cents").as("acctbal_cents"))
      .select(coalesce($"nation", lit("*")).as("nation"),
        coalesce($"segment", lit("*")).as("segment"),
        $"n_customers", $"acctbal_cents")
      .orderBy($"nation", $"segment")
  }

  val sqlGroupingSets: String =
    s"""SELECT coalesce(n_name, '*') AS nation,
       |  coalesce(c_mktsegment, '*') AS segment,
       |  count(*) AS n_customers,
       |  CAST(sum(CAST(CAST(c_acctbal AS DECIMAL(18,6)) * 100 AS BIGINT)) AS BIGINT)
       |    AS acctbal_cents
       |FROM customer JOIN nation ON c_nationkey = n_nationkey
       |GROUP BY ROLLUP (n_name, c_mktsegment)
       |ORDER BY nation, segment""".stripMargin

  // ------------------------------------------------------------------
  // Data-contract expectation suite (X203 — the declarative
  // data-quality checklist the Great Expectations / dbt-test /
  // Deequ (Schelter et al., VLDB 2018) family runs before a table is
  // allowed downstream; complements X153's discovered FDs with
  // DECLARED per-column contracts): seven rules over `orders` —
  // not-null, positivity, set membership, regex format, key
  // uniqueness, referential integrity into `customer`, and a
  // deliberately-violated value-range rule so BOTH verdicts are
  // value-gated (the X153 stance). Scale shape: six rules fold into
  // ONE map-side-combinable scan aggregate; the referential rule is
  // one anti-join count against the broadcast dimension; the suite
  // emits one row per rule regardless of table size.
  // ------------------------------------------------------------------
  def qExpectations(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
    val orphan = o.join(Tables.customer(spark, dir).select($"c_custkey"),
        $"o_custkey" === $"c_custkey", "left_anti")
      .agg(count(lit(1)).as("v_ref"))
    val base = o.agg(
      count(lit(1)).as("n"),
      sum(when($"o_custkey".isNull, 1L).otherwise(0L)).as("v_null"),
      sum(when($"o_totalprice".isNull || $"o_totalprice" <= 0, 1L)
        .otherwise(0L)).as("v_pos"),
      sum(when($"o_totalprice" >= 300000.0, 1L).otherwise(0L)).as("v_range"),
      sum(when(!$"o_orderstatus".isin("O", "F", "P"), 1L).otherwise(0L)).as("v_set"),
      (count(lit(1)) - countDistinct($"o_orderkey")).as("v_uniq"),
      sum(when(!$"o_orderpriority".rlike("^[1-5]-"), 1L).otherwise(0L)).as("v_fmt"))
    base.crossJoin(broadcast(orphan))
      .select(expr("stack(7, " +
        "'o_custkey_in_customer', v_ref, " +
        "'o_custkey_not_null', v_null, " +
        "'o_orderkey_unique', v_uniq, " +
        "'o_orderpriority_format', v_fmt, " +
        "'o_orderstatus_in_set', v_set, " +
        "'o_totalprice_below_300k', v_range, " +
        "'o_totalprice_positive', v_pos) as (rule, n_violations)"),
        $"n".as("n_checked"))
      .select($"rule", $"n_checked", $"n_violations",
        when($"n_violations" === 0, 1L).otherwise(0L).as("pass"))
      .orderBy($"rule")
  }

  val sqlExpectations: String =
    s"""WITH ref AS (
       |  SELECT count(*)::BIGINT AS v_ref FROM orders o
       |  LEFT JOIN customer c ON o.o_custkey = c.c_custkey
       |  WHERE c.c_custkey IS NULL),
       |agg AS (
       |  SELECT count(*)::BIGINT AS n,
       |    sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END)::BIGINT AS v_null,
       |    sum(CASE WHEN o_totalprice IS NULL OR o_totalprice <= 0
       |      THEN 1 ELSE 0 END)::BIGINT AS v_pos,
       |    sum(CASE WHEN o_totalprice >= 300000.0 THEN 1 ELSE 0 END)::BIGINT
       |      AS v_range,
       |    sum(CASE WHEN o_orderstatus NOT IN ('O', 'F', 'P')
       |      THEN 1 ELSE 0 END)::BIGINT AS v_set,
       |    (count(*) - count(DISTINCT o_orderkey))::BIGINT AS v_uniq,
       |    sum(CASE WHEN NOT regexp_matches(o_orderpriority, '^[1-5]-')
       |      THEN 1 ELSE 0 END)::BIGINT AS v_fmt
       |  FROM orders),
       |rules(rule, n_violations, n_checked) AS (
       |  SELECT 'o_custkey_in_customer', v_ref, n FROM agg CROSS JOIN ref
       |  UNION ALL SELECT 'o_custkey_not_null', v_null, n FROM agg
       |  UNION ALL SELECT 'o_orderkey_unique', v_uniq, n FROM agg
       |  UNION ALL SELECT 'o_orderpriority_format', v_fmt, n FROM agg
       |  UNION ALL SELECT 'o_orderstatus_in_set', v_set, n FROM agg
       |  UNION ALL SELECT 'o_totalprice_below_300k', v_range, n FROM agg
       |  UNION ALL SELECT 'o_totalprice_positive', v_pos, n FROM agg)
       |SELECT rule, n_checked, n_violations,
       |  CASE WHEN n_violations = 0 THEN 1 ELSE 0 END::BIGINT AS pass
       |FROM rules ORDER BY rule""".stripMargin

  // ------------------------------------------------------------------
  // Rolling regression slope (X200 — the WINDOWED form of X151's
  // global OLS: one slope per (type, day) over that day's trailing 7
  // observed days, the local-trend feature drift monitors and feature
  // pipelines materialize where a whole-history slope smears regime
  // changes away): x = day − the type's first day (a per-type
  // unbounded-min window sharing the partitioning — keeps every
  // product small), rolling Σx/Σy/Σxy/Σx² over ROWS BETWEEN 6
  // PRECEDING AND CURRENT, emitted only for full 7-row windows;
  // slope_ppm = (10⁶·(nΣxy − ΣxΣy)) div (nΣx² − (Σx)²), numerator
  // lifted to DECIMAL(38,0)/HUGEINT (y is daily cents — 10¹³ at
  // 100 TB — and x is bounded by the store's retention in days, so
  // the raw rolling sums stay in int64 but the ppm product cannot).
  // Truncating division verified identical on negative slopes. ONE
  // (type)-keyed shuffle: the min window, the rolling sums and the
  // final projection all share hashpartitioning(event_type).
  // ------------------------------------------------------------------
  val SlopeWin = 7

  def qRollingSlope(spark: SparkSession, dir: String): DataFrame = {
    val cents = ($"value".cast(org.apache.spark.sql.types.DecimalType(18, 6))
      * 100).cast("long")
    val byType = Window.partitionBy($"event_type")
    val roll = Window.partitionBy($"event_type").orderBy($"day")
      .rowsBetween(-(SlopeWin - 1), Window.currentRow)
    val cnt = Window.partitionBy($"event_type").orderBy($"day")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.events(spark, dir)
      .groupBy($"event_type", expr("unix_millis(ts) div 86400000").as("day"))
      .agg(sum(cents).as("y"))
      .withColumn("x", $"day" - min($"day").over(byType))
      .withColumn("rn", count(lit(1)).over(cnt))
      .withColumn("sx", sum($"x").over(roll))
      .withColumn("sy", sum($"y").over(roll))
      .withColumn("sxy", sum($"x" * $"y").over(roll))
      .withColumn("sxx", sum($"x" * $"x").over(roll))
      .filter($"rn" >= SlopeWin)
      .select($"event_type", $"day",
        expr(s"(CAST($SlopeWin * sxy - sx * sy AS DECIMAL(38,0)) * 1000000)" +
          s" div ($SlopeWin * sxx - sx * sx)").cast("long").as("slope_ppm"))
      .orderBy($"event_type", $"day")
  }

  val sqlRollingSlope: String =
    s"""WITH daily AS (
       |  SELECT event_type, (epoch_ms(ts) // 86400000) AS day,
       |    CAST(sum(CAST(CAST(value AS DECIMAL(18,6)) * 100 AS BIGINT)) AS BIGINT) AS y
       |  FROM events GROUP BY 1, 2),
       |x AS (SELECT event_type, day, y,
       |    day - min(day) OVER (PARTITION BY event_type) AS x
       |  FROM daily),
       |r AS (SELECT event_type, day,
       |    count(*) OVER w_all AS rn,
       |    CAST(sum(x) OVER w AS BIGINT) AS sx,
       |    CAST(sum(y) OVER w AS BIGINT) AS sy,
       |    CAST(sum(x * y) OVER w AS BIGINT) AS sxy,
       |    CAST(sum(x * x) OVER w AS BIGINT) AS sxx
       |  FROM x
       |  WINDOW w AS (PARTITION BY event_type ORDER BY day
       |      ROWS BETWEEN ${SlopeWin - 1} PRECEDING AND CURRENT ROW),
       |    w_all AS (PARTITION BY event_type ORDER BY day
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
       |SELECT event_type, day,
       |  CAST((CAST($SlopeWin * sxy - sx * sy AS HUGEINT) * 1000000)
       |    // ($SlopeWin * sxx - sx * sx) AS BIGINT) AS slope_ppm
       |FROM r WHERE rn >= $SlopeWin
       |ORDER BY event_type, day""".stripMargin
}
