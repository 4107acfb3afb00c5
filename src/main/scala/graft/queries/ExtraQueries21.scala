package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType, LongType}
import graft.Tables
import graft.functions.PortableHash.md5PrefixSql
import graft.queries.Relational.{Fn, Q}

/** Round-8 batch 23: robust trend estimation and the late-data impact
  * audit. Same determinism discipline as ExtraQueries3–20.
  */
object ExtraQueries21 {

  // --------------------- r119 Theil–Sen robust trend

  /** r119: Theil–Sen robust slope per priority — the median of all
    * pairwise day-slopes of the daily-revenue series, next to the OLS
    * slope (r97's fit) so the divergence IS the outlier signal: one
    * flash-sale day drags OLS but moves the median of C(n,2) slopes
    * almost nowhere. The standard robust trend for dashboards where a
    * single anomalous day must not flip the narrative (29% breakdown
    * point vs OLS's zero).
    *
    * Exactness: the series is exact cents on the (priority, day)
    * aggregate; each pairwise slope is ONE double division of exact
    * integers (identical IEEE operation in both engines, so ordering
    * parity holds even where distinct rationals collide in double);
    * the median is exact two-phase distributed SELECTION — bucket the
    * slope axis, find the bucket holding the k-th element from the
    * bucket-count cumulative (a bucket-grain window), then rank only
    * INSIDE that one bucket — no priority-partitioned sort of the full
    * pair relation (the naive rank window caps parallelism at
    * |priorities| and moved 2.9M rows/reducer at sf0.1: measured
    * 21.7 s vs 2.9 s for this plan); the OLS comparison slope comes
    * from exact DECIMAL sufficient statistics with one rounded
    * division.
    * Scale shape: the corpus collapses to the (priority, day) grain
    * first; the pair relation is C(|days|,2) per priority —
    * SERIES-sized squared, never corpus-sized (×~250k rows per
    * priority on a 2-year calendar — bounded and documented); windows
    * run on the bucket-grain counts and the single median bucket. */
  private val r119: Fn = (s, d) => {
    // Round 13 (§2.3/§5 — persist the PROXY, regenerate the mass): the
    // C(days,2)-per-priority pair relation (~14M rows at sf0.1) was
    // persisted MEMORY_AND_DISK and read three times; writing+reading a
    // 14M-row cache costs more than regenerating the pairs, because
    // generation is pure map work off the DAY-GRAIN aggregate (tiny,
    // cached below) and every consumer partial-aggregates it map-side —
    // the pair mass never crosses an exchange. Now only `daily`
    // (|prio×days| rows) and the bucket HISTOGRAM (bucket-grain) are
    // cached, and the pair mass is generated twice (histogram pass +
    // median-bucket selection pass) instead of materialized once.
    val daily = Tables.orders(s, d)
      .groupBy(col("o_orderpriority").as("prio"), to_date(col("o_orderdate")).as("day"))
      .agg(sum(col("o_totalprice").cast(DecimalType(12, 2)) * 100).cast(LongType).as("y"))
      .withColumn("x", datediff(col("day"), lit(java.sql.Date.valueOf("1970-01-01"))).cast(LongType))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // The pair join is keyed on prio alone — |priorities| distinct keys,
    // so un-salted it caps pair generation at 5 reducers no matter the
    // cluster (guide-§2.5 skew class: every key is hot by construction).
    // Salt the left side S ways on x1 and replicate the right side S
    // ways: every (x1 < x2) pair still meets exactly once, on
    // (prio, salt), and generation spreads across 5·S cores. The
    // replicated side is the day-grain aggregate (calendar-bounded),
    // so the extra shuffle is S × |days| tiny rows.
    val S = 8
    val a = daily.select(col("prio"), col("x").as("x1"), col("y").as("y1"))
      .withColumn("sa", pmod(xxhash64(col("x1")), lit(S)))
    val b = daily.select(col("prio").as("p2"), col("x").as("x2"), col("y").as("y2"))
      .withColumn("sb", explode(array((0 until S).map(lit): _*)))
    val pairs = a.join(b,
        col("prio") === col("p2") && col("sa") === col("sb") && col("x1") < col("x2"))
      // The x1 < x2 join condition makes the divisor strictly positive on
      // every surviving row, but without the old persist boundary the
      // optimizer pushes derived predicates (isnotnull(bkt) from the
      // median-bucket equi-join) into the join residual, where predicate
      // order is unspecified — the division then evaluates on x1 = x2
      // self-pairs before the x1 < x2 check and ANSI mode throws. The
      // always-true guard keeps evaluation conditional (identical values
      // on all surviving rows; the guarded null never survives the join).
      .withColumn("slope", when(col("x2") > col("x1"),
        (col("y2") - col("y1")).cast(DoubleType) / (col("x2") - col("x1"))))
      // bucketing is monotone in slope, so the global (slope, x1, x2)
      // order is bucket-major — the k-th element lives in the first
      // bucket whose cumulative count reaches k
      .withColumn("bkt", floor(col("slope") / 1000.0).cast(LongType))
      .select("prio", "x1", "x2", "slope", "bkt") // y1/y2/salt are dead past the slope
    // bucket-grain histogram: the one materialization both selection
    // phases read (n_pairs is its per-prio row sum — no separate pass)
    val hist = pairs.groupBy("prio", "bkt").agg(count(lit(1)).as("c"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val nPairs = hist.groupBy("prio").agg(sum(col("c")).cast(LongType).as("n_pairs"))
    val wCum = Window.partitionBy("prio").orderBy("bkt")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val medianBkt = hist
      .withColumn("cum", sum(col("c")).over(wCum))
      .join(broadcast(nPairs), Seq("prio"))
      .withColumn("k", expr("(n_pairs + 1) DIV 2"))
      .filter(col("cum") >= col("k") && col("cum") - col("c") < col("k"))
      .select(col("prio"), col("bkt"), (col("k") - (col("cum") - col("c"))).as("k_in"),
        col("n_pairs"))
    val wIn = Window.partitionBy("prio").orderBy(col("slope"), col("x1"), col("x2"))
    val median = pairs.join(broadcast(medianBkt), Seq("prio", "bkt"))
      .withColumn("rn", row_number().over(wIn))
      .filter(col("rn") === col("k_in"))
      .select(col("prio"), col("n_pairs"), round(col("slope"), 6).as("slope_theil_sen"))
    val dec = (c: org.apache.spark.sql.Column) => c.cast(DecimalType(38, 0))
    val ols = daily.groupBy("prio")
      .agg(count(lit(1)).cast(LongType).as("n_days"),
        sum(dec(col("x"))).as("sx"), sum(dec(col("y"))).as("sy"),
        sum(dec(col("x")) * dec(col("y"))).as("sxy"),
        sum(dec(col("x")) * dec(col("x"))).as("sxx"))
      .withColumn("slope_ols", round(
        (dec(col("n_days")) * col("sxy") - col("sx") * col("sy")).cast(DoubleType) /
          (dec(col("n_days")) * col("sxx") - col("sx") * col("sx")).cast(DoubleType), 6))
      .select("prio", "n_days", "slope_ols")
    median.join(ols, Seq("prio"))
      .select(col("prio").as("o_orderpriority"), col("n_days"), col("n_pairs"),
        col("slope_theil_sen"), col("slope_ols"))
      .orderBy("o_orderpriority")
  }

  private val r119Sql =
    """WITH daily AS (
      |  SELECT o_orderpriority AS prio, CAST(o_orderdate AS DATE) AS day,
      |         CAST(sum(CAST(o_totalprice AS DECIMAL(12,2)) * 100) AS BIGINT) AS y,
      |         CAST(CAST(o_orderdate AS DATE) - DATE '1970-01-01' AS BIGINT) AS x
      |  FROM orders GROUP BY 1, 2),
      |pairs AS (
      |  SELECT a.prio, a.x AS x1, b.x AS x2,
      |         CAST(b.y - a.y AS DOUBLE) / (b.x - a.x) AS slope
      |  FROM daily a JOIN daily b ON a.prio = b.prio AND a.x < b.x),
      |np AS (SELECT prio, CAST(count(*) AS BIGINT) AS n_pairs FROM pairs GROUP BY 1),
      |med AS (
      |  SELECT p.prio, n.n_pairs, round(p.slope, 6) AS slope_theil_sen
      |  FROM (SELECT prio, slope,
      |               row_number() OVER (PARTITION BY prio ORDER BY slope, x1, x2) AS rn
      |        FROM pairs) p
      |  JOIN np n ON n.prio = p.prio
      |  WHERE p.rn = (n.n_pairs + 1) // 2),
      |ols AS (
      |  SELECT prio, CAST(count(*) AS BIGINT) AS n_days,
      |         round(CAST(CAST(count(*) AS DECIMAL(38,0)) * sum(CAST(x AS DECIMAL(38,0)) * y)
      |                    - sum(CAST(x AS DECIMAL(38,0))) * sum(CAST(y AS DECIMAL(38,0))) AS DOUBLE)
      |               / CAST(CAST(count(*) AS DECIMAL(38,0)) * sum(CAST(x AS DECIMAL(38,0)) * x)
      |                      - sum(CAST(x AS DECIMAL(38,0))) * sum(CAST(x AS DECIMAL(38,0))) AS DOUBLE),
      |               6) AS slope_ols
      |  FROM daily GROUP BY 1)
      |SELECT m.prio AS o_orderpriority, o.n_days, m.n_pairs, m.slope_theil_sen, o.slope_ols
      |FROM med m JOIN ols o ON o.prio = m.prio
      |ORDER BY o_orderpriority""".stripMargin

  // --------------------- u27 late-data impact audit

  /** u27: late-data impact audit — for every (event_type, day) cell,
    * the value-weighted distortion a pipeline inflicts by its lateness
    * policy: a STRICT pipeline (drop everything behind the watermark)
    * loses `strict_loss_pct` of the cell's value; the st6 policy
    * (accept within the delay allowance, drop beyond) loses
    * `dropped_pct`. The companion u13/u10 monitors flag THAT something
    * moved; u27 prices the lateness policy itself — the number that
    * decides a pipeline's allowed-lateness setting. Composes the
    * registered st6 classification kernel verbatim (value rides
    * through the same two-level prefix scan).
    *
    * Exactness: values ride as exact DECIMAL cents per status bucket;
    * each pct is one rounded division of exact integers.
    * Scale shape: identical to st6 (the classification is st6's plan
    * with one extra carried column) plus one (type, day) aggregate. */
  private val u27: Fn = (s, d) => {
    val arr = Tables.events(s, d)
      .select(col("event_id"), col("event_type"), col("ts"),
        (col("value").cast(DecimalType(18, 2)) * 100).cast(LongType).as("cents"))
      .withColumn("mts", unix_micros(col("ts")))
      .withColumn("arrival_seq", ExtraQueries10.arrivalSeq)
    val cls = ExtraQueries10.wmClassify(arr, None)
    cls.groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("cents")).cast(LongType).as("cents_all"),
        sum(when(col("status") === "on_time", col("cents")).otherwise(0L))
          .cast(LongType).as("cents_ontime"),
        sum(when(col("status") =!= "dropped", col("cents")).otherwise(0L))
          .cast(LongType).as("cents_accepted"))
      .withColumn("strict_loss_pct", round(
        (col("cents_all") - col("cents_ontime")).cast(DoubleType) * 100 /
          col("cents_all"), 4))
      .withColumn("dropped_pct", round(
        (col("cents_all") - col("cents_accepted")).cast(DoubleType) * 100 /
          col("cents_all"), 4))
      .orderBy("event_type", "day")
  }

  // --------------------- r120 debounce (keep-best within burst)

  /** Burst gap: events within this many seconds merge into one burst. */
  val DebounceGapS = 60L

  /** r120: debounce / keep-best-within-burst — retries, double-clicks
    * and duplicate deliveries arrive as BURSTS: per (user, type),
    * events within [[DebounceGapS]] of their predecessor collapse into
    * one burst (the q23 gaps-and-islands kernel at a finer grain), and
    * each burst keeps its best event (max value, min event_id on
    * ties). The throttle/debounce primitive every ingest front-end
    * runs before counting anything — d01 dedups identical CONTENT;
    * r120 dedups repeated INTENT.
    *
    * Exactness: gaps are integer seconds; cents are exact; keep-best
    * resolves by (max cents, then min event_id) via one burst-grain
    * aggregate joined back on the exact-cents match — integer
    * comparisons everywhere.
    * Scale shape: ONE (user, type)-keyed window shuffle builds bursts;
    * the keep-best is a burst-grain aggregate + an equi-join back on
    * (burst, cents) — no second corpus window, no self-join beyond
    * the keyed probe. */
  private val r120: Fn = (s, d) => {
    val ev = Tables.events(s, d).select(col("event_id"), col("user_id"),
      col("event_type"), col("ts"),
      (col("value").cast(DecimalType(18, 2)) * 100).cast(LongType).as("cents"))
    val wU = Window.partitionBy("user_id", "event_type").orderBy(col("ts"), col("event_id"))
    val secs = unix_timestamp(col("ts"))
    val marked = ev
      .withColumn("gap", secs - lag(secs, 1).over(wU))
      .withColumn("nb", when(col("gap").isNull || col("gap") > DebounceGapS, 1L).otherwise(0L))
      .withColumn("burst", sum(col("nb")).over(
        wU.rowsBetween(Window.unboundedPreceding, Window.currentRow)).cast(LongType))
    val bursts = marked.groupBy("user_id", "event_type", "burst")
      .agg(count(lit(1)).as("n_events"), max(col("cents")).as("best_cents"))
    bursts.join(marked.select(col("user_id"), col("event_type"), col("burst"),
        col("cents").as("best_cents"), col("event_id")),
        Seq("user_id", "event_type", "burst", "best_cents"))
      .groupBy(col("user_id"), col("event_type"), col("burst"),
        col("n_events"), col("best_cents"))
      .agg(min(col("event_id")).as("kept_event_id"))
      .select("user_id", "event_type", "burst", "n_events", "kept_event_id", "best_cents")
      .orderBy("user_id", "event_type", "burst")
  }

  private val r120Sql =
    s"""WITH ev AS (
       |  SELECT event_id, user_id, event_type, ts,
       |         CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
       |  FROM events),
       |marked AS (
       |  SELECT *,
       |         CASE WHEN lag(ts) OVER w IS NULL
       |                OR CAST(epoch(date_trunc('second', ts)) AS BIGINT)
       |                   - CAST(epoch(date_trunc('second', lag(ts) OVER w)) AS BIGINT)
       |                   > $DebounceGapS
       |              THEN 1 ELSE 0 END AS nb
       |  FROM ev
       |  WINDOW w AS (PARTITION BY user_id, event_type ORDER BY ts, event_id)),
       |bursted AS (
       |  SELECT *, CAST(sum(nb) OVER (PARTITION BY user_id, event_type ORDER BY ts, event_id
       |              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS burst
       |  FROM marked),
       |bursts AS (
       |  SELECT user_id, event_type, burst,
       |         count(*) AS n_events, CAST(max(cents) AS BIGINT) AS best_cents
       |  FROM bursted GROUP BY 1, 2, 3)
       |SELECT b.user_id, b.event_type, b.burst, b.n_events,
       |       CAST(min(m.event_id) AS BIGINT) AS kept_event_id, b.best_cents
       |FROM bursts b
       |JOIN bursted m ON m.user_id = b.user_id AND m.event_type = b.event_type
       |              AND m.burst = b.burst AND m.cents = b.best_cents
       |GROUP BY 1, 2, 3, 4, 6
       |ORDER BY 1, 2, 3""".stripMargin

  val all: Seq[Q] = Seq(
    Q("r119_theil_sen", r119, Some(r119Sql)),
    Q("r120_debounce", r120, Some(r120Sql)),
    Q("u27_late_impact", u27, Some(u27Sql)))

  private def u27Sql: String =
    s"""WITH arr AS (
       |  SELECT event_id, event_type, ts, epoch_us(ts) AS mts,
       |         CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents,
       |         event_id + ${md5PrefixSql("CAST(event_id AS VARCHAR)", 8)}
       |           % ${ExtraQueries10.WmJitter} AS arrival_seq
       |  FROM events),
       |wm AS (
       |  SELECT event_type, ts, mts, cents,
       |         max(mts) OVER (PARTITION BY event_type ORDER BY arrival_seq, event_id
       |                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS hi
       |  FROM arr),
       |cls AS (
       |  SELECT event_type, CAST(ts AS DATE) AS day, cents,
       |         CASE WHEN hi IS NULL OR mts >= hi THEN 'on_time'
       |              WHEN mts >= hi - ${ExtraQueries10.WmDelayUs} THEN 'late_accepted'
       |              ELSE 'dropped' END AS status
       |  FROM wm)
       |SELECT event_type, day, count(*) AS n_events,
       |       CAST(sum(cents) AS BIGINT) AS cents_all,
       |       CAST(sum(CASE WHEN status = 'on_time' THEN cents ELSE 0 END) AS BIGINT) AS cents_ontime,
       |       CAST(sum(CASE WHEN status <> 'dropped' THEN cents ELSE 0 END) AS BIGINT) AS cents_accepted,
       |       round(CAST(sum(cents) - sum(CASE WHEN status = 'on_time' THEN cents ELSE 0 END) AS DOUBLE)
       |             * 100 / sum(cents), 4) AS strict_loss_pct,
       |       round(CAST(sum(cents) - sum(CASE WHEN status <> 'dropped' THEN cents ELSE 0 END) AS DOUBLE)
       |             * 100 / sum(cents), 4) AS dropped_pct
       |FROM cls
       |GROUP BY 1, 2
       |ORDER BY 1, 2""".stripMargin
}
