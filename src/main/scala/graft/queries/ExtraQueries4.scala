package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType, IntegerType, LongType}
import graft.Tables
import graft.functions.PortableHash.md5PrefixSql
import graft.functions.DetHash
import graft.queries.Relational.{Fn, Q}

/** Round-7 coverage sweep: behavioral/event analytics (sessionization,
  * experiment read-out, conversion latency, range-frame moving windows),
  * OLAP shape operators the registry lacked (ROLLUP subtotals, PIVOT),
  * and a key-continuity audit.
  *
  * Same determinism discipline as ExtraQueries3: exact integer/decimal
  * sufficient statistics, transcendentals only per-scalar or after
  * order-independent reduction, every window partitioned (or provably
  * aggregate-bounded), unique-key tiebreaks everywhere an order matters.
  */
object ExtraQueries4 {

  private def events(s: SparkSession, d: String) = Tables.events(s, d)
  private def orders(s: SparkSession, d: String) = Tables.orders(s, d)

  // ------------------------------------------------- r70 sessionization

  /** Gap-based sessions of the event log (30-minute inactivity splits)
    * at MICROSECOND resolution — q23's gaps-and-islands machinery, but
    * on exact epoch-micros longs rather than q23's second-truncated
    * timestamps (sub-second gaps count here), feeding r70's per-user
    * rollup rather than q23's per-session listing.
    *
    * Scale design: every window is PARTITIONED BY user_id — the lag and
    * the running session counter both ride one user-keyed shuffle, and
    * no stage ever holds more than one user's events in order. Session
    * ids are per-user dense integers (cumulative sum of gap flags), so
    * the result is identical at any parallelism. */
  private[queries] def sessions(ev: DataFrame): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("us", "event_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wl = Window.partitionBy("user_id").orderBy("us", "event_id")
    ev.select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("us"))
      .withColumn("new_sess",
        when(col("us") - lag(col("us"), 1).over(wl) > 1800L * 1000000L || lag(col("us"), 1).over(wl).isNull, 1L)
          .otherwise(0L))
      .withColumn("sid", sum(col("new_sess")).over(w))
      .groupBy("user_id", "sid")
      .agg(count(lit(1)).as("n_events"), min(col("us")).as("start_us"), max(col("us")).as("end_us"))
  }

  /** r70: per-user engagement rollup over [[sessions]] — session count,
    * total events, longest session, dwell time, events/session: the
    * user-grain table product analytics reads (q23 emits the
    * session-grain listing; this is its second-order reduction, the
    * DAU-engagement shape). All statistics reduce from exact
    * micros/longs; the only doubles are the two final divisions. */
  private val r70: Fn = (s, d) =>
    sessions(events(s, d))
      .groupBy("user_id")
      .agg(
        count(lit(1)).as("n_sessions"),
        sum(col("n_events")).as("n_events"),
        max(col("n_events")).as("longest_session"),
        sum(col("end_us") - col("start_us")).as("dwell_us"))
      .select(
        col("user_id"), col("n_sessions"), col("n_events"), col("longest_session"),
        round(col("dwell_us").cast(DoubleType) / 1e6, 3).as("dwell_sec"),
        round(col("n_events").cast(DoubleType) / col("n_sessions").cast(DoubleType), 4)
          .as("events_per_session"))
      .orderBy("user_id")
  private val r70Sql =
    """WITH e AS (
      |  SELECT user_id, event_id, epoch_us(ts) AS us FROM events),
      |flagged AS (
      |  SELECT user_id, us,
      |         CASE WHEN lag(us) OVER w IS NULL
      |                OR us - lag(us) OVER w > 1800 * 1000000 THEN 1 ELSE 0 END AS new_sess
      |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)),
      |sess AS (
      |  SELECT user_id, us,
      |         sum(new_sess) OVER (PARTITION BY user_id ORDER BY us
      |                             ROWS UNBOUNDED PRECEDING) AS sid
      |  FROM flagged),
      |agg AS (
      |  SELECT user_id, sid, count(*) AS n_events,
      |         min(us) AS start_us, max(us) AS end_us
      |  FROM sess GROUP BY user_id, sid)
      |SELECT user_id, count(*) AS n_sessions,
      |       CAST(sum(n_events) AS BIGINT) AS n_events,
      |       max(n_events) AS longest_session,
      |       round(CAST(sum(end_us - start_us) AS DOUBLE) / 1e6, 3) AS dwell_sec,
      |       round(CAST(sum(n_events) AS DOUBLE) / count(*), 4) AS events_per_session
      |FROM agg GROUP BY user_id ORDER BY user_id""".stripMargin

  // Oracle nuance: the flagged CTE orders by (us, event_id) but only
  // carries us forward — safe because (us) ties within a user do not
  // occur in the generator's micros-resolution stream; the Spark side
  // nevertheless orders by the unique pair for belt-and-braces.

  // --------------------------------------------- r71 A/B experiment read

  /** r71: two-proportion z-test between deterministic experiment arms —
    * the experiment read-out primitive. Arm assignment is the portable
    * md5 bucket of the user id (no RNG — re-runnable and auditable, the
    * p01 split discipline); "conversion" = the user fired ≥1 purchase
    * event.
    *
    * Scale design: one user-keyed aggregation (partial-agg'd), then a
    * 2-row → 1-row conditional aggregate; the z statistic is computed
    * from four exact integers with an identical double expression on
    * both engines. At 100 TB the plan is one shuffle of user partials.
    */
  private val r71: Fn = (s, d) => {
    val perUser = events(s, d)
      .groupBy("user_id")
      .agg(
        sum(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("pc"),
        sum(when(col("event_type") === "view", 1L).otherwise(0L)).as("vc"))
      .select(col("user_id"),
        when(col("pc") > col("vc"), 1L).otherwise(0L).as("converted"))
      .withColumn("arm", DetHash.mdBucket(col("user_id"), "exp:", 2))
    val g = perUser.agg(
      sum(when(col("arm") === 0, 1L).otherwise(0L)).as("n0"),
      sum(when(col("arm") === 0, col("converted")).otherwise(0L)).as("c0"),
      sum(when(col("arm") === 1, 1L).otherwise(0L)).as("n1"),
      sum(when(col("arm") === 1, col("converted")).otherwise(0L)).as("c1"))
    val (n0, c0, n1, c1) =
      (col("n0").cast(DoubleType), col("c0").cast(DoubleType),
        col("n1").cast(DoubleType), col("c1").cast(DoubleType))
    val p0 = c0 / n0
    val p1 = c1 / n1
    val pp = (c0 + c1) / (n0 + n1)
    val z = (p1 - p0) / sqrt(pp * (lit(1.0) - pp) * (lit(1.0) / n0 + lit(1.0) / n1))
    g.select(col("n0"), col("c0"), col("n1"), col("c1"),
      round(p0, 6).as("p0"), round(p1, 6).as("p1"),
      round(z, 6).as("z_score"),
      (abs(z) >= 1.959964).as("significant_95"))
  }
  private val r71Sql = {
    val arm = DetHash.mdBucketSql("user_id", "exp:", 2)
    """WITH pu AS (
      |  SELECT user_id, ARM AS arm,
      |         CASE WHEN sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
      |                 > sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
      |              THEN 1 ELSE 0 END AS converted
      |  FROM events GROUP BY user_id, ARM),
      |g AS (
      |  SELECT CAST(sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n0,
      |         CAST(sum(CASE WHEN arm = 0 THEN converted ELSE 0 END) AS BIGINT) AS c0,
      |         CAST(sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
      |         CAST(sum(CASE WHEN arm = 1 THEN converted ELSE 0 END) AS BIGINT) AS c1
      |  FROM pu)
      |SELECT n0, c0, n1, c1,
      |  round(CAST(c0 AS DOUBLE) / CAST(n0 AS DOUBLE), 6) AS p0,
      |  round(CAST(c1 AS DOUBLE) / CAST(n1 AS DOUBLE), 6) AS p1,
      |  round((CAST(c1 AS DOUBLE) / CAST(n1 AS DOUBLE) - CAST(c0 AS DOUBLE) / CAST(n0 AS DOUBLE))
      |        / sqrt((CAST(c0 AS DOUBLE) + CAST(c1 AS DOUBLE)) / (CAST(n0 AS DOUBLE) + CAST(n1 AS DOUBLE))
      |               * (1.0 - (CAST(c0 AS DOUBLE) + CAST(c1 AS DOUBLE)) / (CAST(n0 AS DOUBLE) + CAST(n1 AS DOUBLE)))
      |               * (1.0 / CAST(n0 AS DOUBLE) + 1.0 / CAST(n1 AS DOUBLE))), 6) AS z_score,
      |  abs((CAST(c1 AS DOUBLE) / CAST(n1 AS DOUBLE) - CAST(c0 AS DOUBLE) / CAST(n0 AS DOUBLE))
      |      / sqrt((CAST(c0 AS DOUBLE) + CAST(c1 AS DOUBLE)) / (CAST(n0 AS DOUBLE) + CAST(n1 AS DOUBLE))
      |             * (1.0 - (CAST(c0 AS DOUBLE) + CAST(c1 AS DOUBLE)) / (CAST(n0 AS DOUBLE) + CAST(n1 AS DOUBLE)))
      |             * (1.0 / CAST(n0 AS DOUBLE) + 1.0 / CAST(n1 AS DOUBLE)))) >= 1.959964 AS significant_95
      |FROM g""".stripMargin.replace("ARM", arm)
  }

  // --------------------------------------------- r72 conversion latency

  /** r72: signup→purchase conversion latency, bucketed by whole days —
    * the funnel-timing read-out (r53's funnel counts WHO converts; this
    * measures HOW FAST). First signup per user, first purchase strictly
    * after it, exact micros difference.
    *
    * Scale design: two user-keyed aggregations and one user-keyed join
    * — all partial-agg'd shuffles on user_id; no window at all. The
    * per-bucket stats reduce exact longs; doubles appear only in the
    * four final per-bucket divisions. */
  private val r72: Fn = (s, d) => {
    val e = events(s, d).select(col("user_id"), col("event_type"), unix_micros(col("ts")).as("us"))
    val su = e.filter(col("event_type") === "signup")
      .groupBy("user_id").agg(min(col("us")).as("su_us"))
    val conv = e.filter(col("event_type") === "purchase")
      .join(su, "user_id")
      .filter(col("us") > col("su_us"))
      .groupBy("user_id").agg(min(col("us") - col("su_us")).as("lat_us"))
    conv
      .withColumn("day_bucket", (col("lat_us") / lit(86400000000L)).cast(LongType))
      .groupBy("day_bucket")
      .agg(count(lit(1)).as("n_users"),
        min(col("lat_us")).as("min_us"), max(col("lat_us")).as("max_us"),
        sum(col("lat_us")).as("sum_us"))
      .select(
        col("day_bucket").cast(IntegerType).as("day_bucket"), col("n_users"),
        round(col("min_us").cast(DoubleType) / 1e6, 3).as("min_latency_sec"),
        round(col("max_us").cast(DoubleType) / 1e6, 3).as("max_latency_sec"),
        round(col("sum_us").cast(DoubleType) / 1e6 / col("n_users").cast(DoubleType), 3)
          .as("avg_latency_sec"))
      .orderBy("day_bucket")
  }
  private val r72Sql =
    """WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS us FROM events),
      |su AS (SELECT user_id, min(us) AS su_us FROM e WHERE event_type = 'signup' GROUP BY user_id),
      |conv AS (
      |  SELECT e.user_id, min(e.us - su.su_us) AS lat_us
      |  FROM e JOIN su USING (user_id)
      |  WHERE e.event_type = 'purchase' AND e.us > su.su_us
      |  GROUP BY e.user_id)
      |SELECT CAST(lat_us // 86400000000 AS INTEGER) AS day_bucket,
      |       count(*) AS n_users,
      |       round(CAST(min(lat_us) AS DOUBLE) / 1e6, 3) AS min_latency_sec,
      |       round(CAST(max(lat_us) AS DOUBLE) / 1e6, 3) AS max_latency_sec,
      |       round(CAST(sum(lat_us) AS DOUBLE) / 1e6 / count(*), 3) AS avg_latency_sec
      |FROM conv GROUP BY 1 ORDER BY day_bucket""".stripMargin

  // ------------------------------------------- r73 Gini concentration

  /** r73: revenue-concentration (Gini coefficient) per customer nation
    * — the source-domination audit: a nation (or data source, at
    * curation time) whose volume is one whale is a different risk than
    * the same volume spread evenly. Customers with at least one order
    * count; Gini from the sorted-rank identity
    * G = 2·Σᵢ i·xᵢ / (n·Σx) − (n+1)/n.
    *
    * Scale design: one orderkey-keyed revenue reduction, a broadcast
    * customer-dim join, then the rank window PARTITIONED BY nation (each
    * reducer sorts one nation's customers — never a global sort), and a
    * final nation-keyed aggregation of exact integer-cents sums; the
    * Gini formula's doubles touch only the 25-row result. */
  private val r73: Fn = (s, d) => {
    val rev = orders(s, d)
      .groupBy(col("o_custkey"))
      .agg(sum((col("o_totalprice").cast(DecimalType(18, 2)) * 100).cast(DecimalType(38, 0)))
        .as("cents"))
    val cust = Tables.customer(s, d).select(col("c_custkey"), col("c_nationkey"))
    val nat = Tables.nation(s, d).select(col("n_nationkey"), col("n_name"))
    val w = Window.partitionBy("c_nationkey").orderBy(col("cents"), col("c_custkey"))
    val ranked = rev.join(cust, col("o_custkey") === col("c_custkey"))
      .withColumn("rk", row_number().over(w).cast(LongType))
    val g = ranked.groupBy("c_nationkey")
      .agg(count(lit(1)).as("n_customers"),
        sum(col("cents")).as("s"),
        sum(col("rk") * col("cents")).as("t"))
    g.join(broadcast(nat), col("c_nationkey") === col("n_nationkey"))
      .select(col("n_name").as("nation"), col("n_customers"),
        (col("s").cast(DecimalType(38, 0)) / 100).cast(DecimalType(28, 2)).as("revenue"),
        round(lit(2.0) * col("t").cast(DoubleType)
          / (col("n_customers").cast(DoubleType) * col("s").cast(DoubleType))
          - (col("n_customers").cast(DoubleType) + lit(1.0)) / col("n_customers").cast(DoubleType), 6)
          .as("gini"))
      .orderBy("nation")
  }
  private val r73Sql =
    """WITH rev AS (
      |  SELECT o_custkey, sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS HUGEINT)) AS cents
      |  FROM orders GROUP BY 1),
      |ranked AS (
      |  SELECT c.c_nationkey, rev.cents,
      |         CAST(row_number() OVER (PARTITION BY c.c_nationkey
      |                                 ORDER BY rev.cents, c.c_custkey) AS BIGINT) AS rk
      |  FROM rev JOIN customer c ON rev.o_custkey = c.c_custkey),
      |g AS (
      |  SELECT c_nationkey, count(*) AS n_customers,
      |         sum(cents) AS s, sum(rk * cents) AS t
      |  FROM ranked GROUP BY 1)
      |SELECT n.n_name AS nation, g.n_customers,
      |       CAST(CAST(g.s AS DECIMAL(38,0)) / 100 AS DECIMAL(28,2)) AS revenue,
      |       round(2.0 * CAST(g.t AS DOUBLE)
      |             / (CAST(g.n_customers AS DOUBLE) * CAST(g.s AS DOUBLE))
      |             - (CAST(g.n_customers AS DOUBLE) + 1.0) / CAST(g.n_customers AS DOUBLE), 6) AS gini
      |FROM g JOIN nation n ON g.c_nationkey = n.n_nationkey
      |ORDER BY nation""".stripMargin

  // ------------------------------------------------------- r74 PIVOT

  /** r74: PIVOT — priority classes as columns, one row per order year.
    * The wide report shape BI layers emit; Spark's pivot with an
    * EXPLICIT value list stays a single groupBy (no value-discovery
    * pre-pass) and each cell is a partial-agg'd conditional count, so
    * the whole pivot is one shuffle of 5 longs per (mapper, year). */
  private val r74: Fn = (s, d) =>
    orders(s, d)
      .select(year(col("o_orderdate")).as("year"), col("o_orderpriority").as("p"))
      .groupBy("year")
      .pivot("p", Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"))
      .agg(count(lit(1)))
      .select(col("year"),
        coalesce(col("`1-URGENT`"), lit(0L)).as("n_urgent"),
        coalesce(col("`2-HIGH`"), lit(0L)).as("n_high"),
        coalesce(col("`3-MEDIUM`"), lit(0L)).as("n_medium"),
        coalesce(col("`4-NOT SPECIFIED`"), lit(0L)).as("n_notspec"),
        coalesce(col("`5-LOW`"), lit(0L)).as("n_low"))
      .orderBy("year")
  private val r74Sql =
    """SELECT year(o_orderdate) AS year,
      |  count(*) FILTER (WHERE o_orderpriority = '1-URGENT') AS n_urgent,
      |  count(*) FILTER (WHERE o_orderpriority = '2-HIGH') AS n_high,
      |  count(*) FILTER (WHERE o_orderpriority = '3-MEDIUM') AS n_medium,
      |  count(*) FILTER (WHERE o_orderpriority = '4-NOT SPECIFIED') AS n_notspec,
      |  count(*) FILTER (WHERE o_orderpriority = '5-LOW') AS n_low
      |FROM orders GROUP BY 1 ORDER BY year""".stripMargin

  // ------------------------------------- r75 RANGE-frame moving window

  /** r75: 7-day moving aggregates per event type over the daily rollup
    * — the monitoring-dashboard smoothing query, and the registry's
    * first RANGE frame (value-based window bounds; every prior window
    * op used ROWS or the default frame). The frame must be RANGE, not
    * ROWS: days can be missing, and "trailing 7 calendar days" differs
    * from "trailing 7 rows" exactly there.
    *
    * Scale design: the window runs over the DAILY AGGREGATE (#types ×
    * #days rows), never the event log — the corpus-sized work is one
    * keyed groupBy; the RANGE window then costs nothing at any scale. */
  private val r75: Fn = (s, d) => {
    val daily = events(s, d)
      .groupBy(col("event_type"),
        datediff(col("ts").cast("date"), lit("2024-01-01").cast("date")).as("day_idx"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast(DecimalType(18, 2))).as("vsum"))
    val w = Window.partitionBy("event_type").orderBy("day_idx").rangeBetween(-6, 0)
    daily
      .withColumn("n7", sum(col("n")).over(w))
      .withColumn("days7", count(lit(1)).over(w))
      .withColumn("v7", sum(col("vsum")).over(w).cast(DecimalType(28, 2)))
      .select(col("event_type"), col("day_idx").cast(IntegerType).as("day_idx"),
        col("n"), col("vsum").cast(DecimalType(28, 2)).as("vsum"),
        col("n7"), col("days7"), col("v7"),
        round(col("n7").cast(DoubleType) / col("days7").cast(DoubleType), 4).as("avg7"))
      .orderBy("event_type", "day_idx")
  }
  private val r75Sql =
    """WITH daily AS (
      |  SELECT event_type,
      |         datediff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS day_idx,
      |         count(*) AS n, sum(CAST(value AS DECIMAL(18,2))) AS vsum
      |  FROM events GROUP BY 1, 2)
      |SELECT event_type, CAST(day_idx AS INTEGER) AS day_idx, n,
      |       CAST(vsum AS DECIMAL(28,2)) AS vsum,
      |       CAST(sum(n) OVER w AS BIGINT) AS n7,
      |       count(*) OVER w AS days7,
      |       CAST(sum(vsum) OVER w AS DECIMAL(28,2)) AS v7,
      |       round(CAST(sum(n) OVER w AS DOUBLE) / count(*) OVER w, 4) AS avg7
      |FROM daily
      |WINDOW w AS (PARTITION BY event_type ORDER BY day_idx
      |             RANGE BETWEEN 6 PRECEDING AND CURRENT ROW)
      |ORDER BY event_type, day_idx""".stripMargin

  // --------------------------------------------- u15 key-continuity audit

  /** u15: surrogate-key continuity audit — per 1000-key bucket of
    * o_orderkey: population, observed span, and holes. TPC-H orderkeys
    * are deliberately sparse (8 of every 32), so the audit has real
    * signal at every SF; on a production ingest this is the
    * dropped-batch detector (a hole that doesn't match the generator's
    * known sparsity pattern = missing data).
    *
    * Scale design: single partial-agg'd groupBy on a map-side derived
    * bucket — one shuffle of 4 longs per (mapper, bucket). */
  private val u15: Fn = (s, d) =>
    orders(s, d)
      .select((col("o_orderkey") / 1000L).cast(LongType).as("bucket"), col("o_orderkey"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n_keys"),
        min(col("o_orderkey")).as("min_key"), max(col("o_orderkey")).as("max_key"))
      .select(col("bucket"), col("n_keys"), col("min_key"), col("max_key"),
        (col("max_key") - col("min_key") + 1L).as("span"),
        (col("max_key") - col("min_key") + 1L - col("n_keys")).as("holes"))
      .orderBy("bucket")
  private val u15Sql =
    """SELECT o_orderkey // 1000 AS bucket, count(*) AS n_keys,
      |       min(o_orderkey) AS min_key, max(o_orderkey) AS max_key,
      |       max(o_orderkey) - min(o_orderkey) + 1 AS span,
      |       max(o_orderkey) - min(o_orderkey) + 1 - count(*) AS holes
      |FROM orders GROUP BY 1 ORDER BY bucket""".stripMargin

  // ------------------------------------- t22 language-ID confusion matrix

  /** t22: confusion matrix of the t07 language-ID heuristic against the
    * labeled `lang` column — the classifier-evaluation readout (t07
    * emits per-doc guesses; this measures them). Per (lang, guess):
    * count and within-lang share, plus the correctness flag.
    *
    * Scale design: one map-side guess expression + one keyed groupBy;
    * the share window runs over the (#langs × #guesses ≤ 20-row)
    * AGGREGATE, partitioned by lang — never the corpus. */
  private val t22: Fn = (s, d) => {
    val g = Tables.documents(s, d)
      .select(col("lang"), TextQueries.langGuessCol.as("lang_guess"))
      .groupBy("lang", "lang_guess")
      .agg(count(lit(1)).as("n"))
    val w = Window.partitionBy("lang")
    g.withColumn("lang_total", sum(col("n")).over(w))
      .select(col("lang"), col("lang_guess"), col("n"),
        (col("lang") === col("lang_guess")).as("correct"),
        round(col("n").cast(DoubleType) / col("lang_total").cast(DoubleType), 6).as("share"))
      .orderBy("lang", "lang_guess")
  }
  private val t22Sql =
    s"""WITH g AS (
       |  SELECT lang, ${TextQueries.langGuessSqlExpr} AS lang_guess, count(*) AS n
       |  FROM documents GROUP BY 1, 2)
       |SELECT lang, lang_guess, n, lang = lang_guess AS correct,
       |       round(CAST(n AS DOUBLE) / CAST(sum(n) OVER (PARTITION BY lang) AS DOUBLE), 6) AS share
       |FROM g ORDER BY lang, lang_guess""".stripMargin

  // ----------------------------------- d17 TF-IDF cosine near-dup pairs

  /** d17: TF-IDF-weighted cosine near-duplicates over the BIGRAM term
    * space, with rare-term blocking — the lexical-vector complement to
    * d02 (binary bag Jaccard) and d06 (dense embeddings): weighting by
    * idf makes shared RARE phrasing dominate the score, which is what
    * separates true near-copies from same-template boilerplate. Bigrams,
    * not unigrams, because the fixture's unigram vocabulary is 31 tokens
    * with df≈0.8N — zero selectivity for either weighting or blocking.
    *
    * Scale design: candidates come ONLY from terms with df ∈ [2,20]
    * (a term contributes ≤ C(20,2) pairs — the d03 prefix-filter
    * discipline, never n²); the full cosine for the surviving pairs is
    * two keyed joins on (doc, term). Parity: weights are exact longs
    * (tf × trunc(ln(N/df)·1e6)), dots/norms are exact decimal sums;
    * the single double division + sqrt happens per surviving pair. */
  private val d17: Fn = (s, d) => {
    val ws = split(col("text"), " ")
    val bigrams = zip_with(
      slice(ws, lit(1), size(ws) - 1), slice(ws, lit(2), size(ws) - 1),
      (a, b) => concat(a, lit(" "), b))
    // df via a count window over the tf relation (round 12, the d03
    // dfWin pattern) — NOT a groupBy+join back onto tf: that shape
    // re-shuffled the term relation twice (df aggregation + the join)
    // where one bg-keyed window pass computes the same count on rows
    // already grouped by the tf aggregation.
    val dfWin = org.apache.spark.sql.expressions.Window.partitionBy(col("bg"))
    val tf = Tables.documents(s, d)
      .select(col("doc_id"), explode(bigrams).as("bg"))
      .groupBy("doc_id", "bg").agg(count(lit(1)).as("tf"))
      .withColumn("df", count(lit(1)).over(dfWin))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val nd = Tables.documents(s, d).agg(count(lit(1)).cast(DoubleType).as("nd"))
    val wt = tf.crossJoin(broadcast(nd))
      .select(col("doc_id"), col("bg"),
        (col("tf") * (log(col("nd") / col("df").cast(DoubleType)) * 1e6).cast(LongType)).as("wfp"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val norms = wt.groupBy("doc_id")
      .agg(sum(col("wfp").cast(DecimalType(38, 0)) * col("wfp")).as("n2"))
    val rare = tf.filter(col("df").between(2, 20)).select("doc_id", "bg")
    val cand = rare.select(col("doc_id").as("da"), col("bg"))
      .join(rare.select(col("doc_id").as("db"), col("bg")), "bg")
      .filter(col("da") < col("db"))
      .select("da", "db").distinct()
    val dots = cand
      .join(wt.select(col("doc_id").as("da"), col("bg"), col("wfp").as("wa")), "da")
      .join(wt.select(col("doc_id").as("db"), col("bg"), col("wfp").as("wb")), Seq("db", "bg"))
      .groupBy("da", "db")
      .agg(sum(col("wa").cast(DecimalType(38, 0)) * col("wb")).as("dot"))
    dots
      .join(norms.select(col("doc_id").as("da"), col("n2").as("na2")), "da")
      .join(norms.select(col("doc_id").as("db"), col("n2").as("nb2")), "db")
      .select(col("da").as("doc_a"), col("db").as("doc_b"),
        round(col("dot").cast(DoubleType)
          / sqrt(col("na2").cast(DoubleType) * col("nb2").cast(DoubleType)), 6).as("cosine"))
      .filter(col("cosine") >= 0.6)
      .orderBy("doc_a", "doc_b")
  }
  private val d17Sql =
    """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
      |tf AS (SELECT doc_id, bg, count(*) AS tf
      |       FROM (SELECT doc_id, unnest(list_transform(range(1, len(ws)),
      |                                   i -> ws[i] || ' ' || ws[i+1])) AS bg FROM w)
      |       GROUP BY 1, 2),
      |df AS (SELECT bg, count(*) AS df FROM tf GROUP BY 1),
      |n AS (SELECT CAST(count(*) AS DOUBLE) AS nd FROM documents),
      |wt AS (SELECT tf.doc_id, tf.bg,
      |              CAST(tf.tf AS HUGEINT)
      |              * CAST(trunc(ln(n.nd / CAST(df.df AS DOUBLE)) * 1e6) AS HUGEINT) AS wfp
      |       FROM tf JOIN df USING (bg), n),
      |norms AS (SELECT doc_id, sum(wfp * wfp) AS n2 FROM wt GROUP BY 1),
      |rare AS (SELECT tf.doc_id, tf.bg FROM tf JOIN df USING (bg) WHERE df.df BETWEEN 2 AND 20),
      |cand AS (SELECT DISTINCT a.doc_id AS da, b.doc_id AS db
      |         FROM rare a JOIN rare b ON a.bg = b.bg AND a.doc_id < b.doc_id),
      |dots AS (SELECT c.da, c.db, sum(wa.wfp * wb.wfp) AS dot
      |         FROM cand c
      |         JOIN wt wa ON wa.doc_id = c.da
      |         JOIN wt wb ON wb.doc_id = c.db AND wb.bg = wa.bg
      |         GROUP BY 1, 2)
      |SELECT da AS doc_a, db AS doc_b, cs AS cosine
      |FROM (SELECT dots.da, dots.db,
      |             round(CAST(dot AS DOUBLE)
      |                   / sqrt(CAST(na.n2 AS DOUBLE) * CAST(nb.n2 AS DOUBLE)), 6) AS cs
      |      FROM dots
      |      JOIN norms na ON na.doc_id = dots.da
      |      JOIN norms nb ON nb.doc_id = dots.db) t
      |WHERE cs >= 0.6 ORDER BY doc_a, doc_b""".stripMargin

  // --------------------------------------- s15 cluster exemplar selection

  /** s15: exemplar selection — the 3 vectors nearest their label's
    * centroid, per label; the "show me a prototype of each cluster"
    * primitive data-curation UIs and active-learning loops run after
    * any clustering (here the given labels; d11's kmeans at scale).
    *
    * Parity is the hard part: a naive double centroid (avg of floats)
    * is partition-order-dependent. Instead every coordinate is
    * fixed-pointed to 1e-7 (exact long), the centroid rides as
    * (Σxfp, n) — never divided — and the squared distance is computed
    * in the n-scaled integer lattice: Σ(xfp·n − Σxfp)², an exact
    * decimal both engines reduce identically in any order. The single
    * sqrt+divide happens on the 3·#labels winners.
    *
    * Scale design: explode to (vec, dim) rows → one keyed groupBy for
    * centroids (#labels × dim rows, broadcastable) → map-side join +
    * one keyed distance groupBy → per-label top-3 window (partitioned;
    * #labels reducers, each ranking its own cluster's members). */
  private val s15: Fn = (s, d) => {
    val x = Tables.embeddings(s, d)
      .select(col("vec_id"), col("label"), posexplode(col("embedding")))
      .select(col("vec_id"), col("label"), (col("pos") + 1).as("pos"),
        (col("col").cast(DoubleType) * lit(1e7)).cast(LongType).as("xfp"))
    val cent = x.groupBy("label", "pos")
      .agg(sum(col("xfp").cast(DecimalType(38, 0))).as("sfp"), count(lit(1)).as("n"))
    val diff = col("xfp").cast(DecimalType(38, 0)) * col("n") - col("sfp")
    val d2 = x.join(broadcast(cent), Seq("label", "pos"))
      .groupBy("vec_id", "label")
      .agg(sum(diff * diff).as("dist2"), max(col("n")).as("n"))
    val w = Window.partitionBy("label").orderBy(col("dist2"), col("vec_id"))
    d2.withColumn("rk", row_number().over(w).cast(LongType))
      .filter(col("rk") <= 3)
      .select(col("label"), col("rk"), col("vec_id"),
        round(sqrt(col("dist2").cast(DoubleType))
          / (col("n").cast(DoubleType) * lit(1e7)), 6).as("rms_dist"))
      .orderBy("label", "rk")
  }
  private val s15Sql =
    """WITH x AS (
      |  SELECT vec_id, label, (u).pos AS pos,
      |         CAST(trunc((u).x * 1e7) AS HUGEINT) AS xfp
      |  FROM (SELECT vec_id, label,
      |               unnest(list_transform(range(1, len(embedding) + 1),
      |                      i -> {'pos': i, 'x': embedding[i]::DOUBLE})) AS u
      |        FROM embeddings)),
      |cent AS (SELECT label, pos, sum(xfp) AS sfp, count(*) AS n FROM x GROUP BY 1, 2),
      |d2 AS (SELECT x.vec_id, x.label,
      |              sum((x.xfp * c.n - c.sfp) * (x.xfp * c.n - c.sfp)) AS dist2,
      |              max(c.n) AS n
      |       FROM x JOIN cent c ON c.label = x.label AND c.pos = x.pos
      |       GROUP BY 1, 2)
      |SELECT label, rk, vec_id,
      |       round(sqrt(CAST(dist2 AS DOUBLE)) / (CAST(n AS DOUBLE) * 1e7), 6) AS rms_dist
      |FROM (SELECT label, vec_id, dist2, n,
      |             row_number() OVER (PARTITION BY label ORDER BY dist2, vec_id) AS rk
      |      FROM d2) t
      |WHERE rk <= 3 ORDER BY label, rk""".stripMargin

  // ------------------------------------------ r76 concurrency sweep-line

  /** r76: peak concurrency per event type — the sweep-line (+1/−1)
    * algorithm over event intervals ([ts, ts+5min)), the classic
    * "how many X were active at once" capacity question that interval
    * self-joins answer quadratically and the sweep answers in one sort.
    *
    * Scale design: the sweep doubles the rows map-side (start/end
    * markers), then ONE window per event_type computes the running
    * occupancy — partitioned, never global. Tie discipline pinned in
    * both engines: at equal instants ends (−1) sort before starts (+1),
    * so back-to-back intervals do not double-count, and event_id breaks
    * the remaining ties. */
  private val r76: Fn = (s, d) => {
    val e = events(s, d).select(col("event_type"), col("event_id"), unix_micros(col("ts")).as("us"))
    val marks = e.select(col("event_type"), col("us").as("t"), lit(1L).as("delta"), col("event_id"))
      .unionAll(e.select(col("event_type"), (col("us") + 300L * 1000000L).as("t"),
        lit(-1L).as("delta"), col("event_id")))
    val w = Window.partitionBy("event_type").orderBy("t", "delta", "event_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    marks
      .withColumn("occ", sum(col("delta")).over(w))
      .groupBy("event_type")
      .agg(max(col("occ")).as("peak_concurrency"),
        (count(lit(1)) / 2).cast(LongType).as("n_events"))
      .orderBy("event_type")
  }
  private val r76Sql =
    """WITH e AS (SELECT event_type, event_id, epoch_us(ts) AS us FROM events),
      |marks AS (
      |  SELECT event_type, us AS t, CAST(1 AS BIGINT) AS delta, event_id FROM e
      |  UNION ALL
      |  SELECT event_type, us + 300 * 1000000 AS t, CAST(-1 AS BIGINT) AS delta, event_id FROM e),
      |sweep AS (
      |  SELECT event_type,
      |         sum(delta) OVER (PARTITION BY event_type ORDER BY t, delta, event_id
      |                          ROWS UNBOUNDED PRECEDING) AS occ
      |  FROM marks)
      |SELECT event_type, CAST(max(occ) AS BIGINT) AS peak_concurrency,
      |       CAST(count(*) // 2 AS BIGINT) AS n_events
      |FROM sweep GROUP BY event_type ORDER BY event_type""".stripMargin

  // --------------------------------------- r77 robust outliers (MAD)

  /** r77: median / MAD robust outlier report per event type — the
    * monitoring statistic that survives the heavy tails that wreck
    * mean/stddev z-scores. Median and MAD are exact interpolated
    * percentiles (Spark `percentile` ≡ DuckDB `quantile_cont`, the p14
    * parity pairing); the outlier rule is the standard 3σ-equivalent
    * |x − med| > 3 · 1.4826 · MAD.
    *
    * Scale design: two keyed aggregation passes over the 5-key group
    * column (percentile needs the deviations of pass 1's median), and
    * the medians ride back as a broadcast 5-row relation — no window,
    * no global sort. At 100 TB the exact percentile is the cost center;
    * r47's mergeable sketch is the declared approximate path. */
  private val r77: Fn = (s, d) => {
    val e = events(s, d).select(col("event_type"), col("value"))
    val med = e.groupBy("event_type").agg(percentile(col("value"), lit(0.5)).as("med"))
    val dev = e.join(broadcast(med), "event_type")
      .select(col("event_type"), col("value"), col("med"),
        abs(col("value") - col("med")).as("adev"))
    val stats = dev.groupBy("event_type")
      .agg(count(lit(1)).as("n"), max(col("med")).as("med0"),
        percentile(col("adev"), lit(0.5)).as("mad"))
    val outl = dev
      .join(broadcast(stats.select(col("event_type"), col("mad").as("mad1"))), "event_type")
      .filter(col("adev") > lit(3.0 * 1.4826) * col("mad1"))
      .groupBy("event_type").agg(count(lit(1)).as("n_outliers"))
    stats.join(outl, Seq("event_type"), "left")
      .select(col("event_type"), col("n"), round(col("med0"), 6).as("median"),
        round(col("mad"), 6).as("mad"),
        coalesce(col("n_outliers"), lit(0L)).as("n_outliers"))
      .orderBy("event_type")
  }
  private val r77Sql =
    """WITH med AS (
      |  SELECT event_type, quantile_cont(value, 0.5) AS med
      |  FROM events GROUP BY event_type),
      |dev AS (
      |  SELECT e.event_type, e.value, med.med,
      |         abs(e.value - med.med) AS adev
      |  FROM events e JOIN med USING (event_type)),
      |stats AS (
      |  SELECT event_type, count(*) AS n, max(med) AS med0,
      |         quantile_cont(adev, 0.5) AS mad
      |  FROM dev GROUP BY event_type),
      |outl AS (
      |  SELECT d.event_type, count(*) AS n_outliers
      |  FROM dev d JOIN stats s USING (event_type)
      |  WHERE d.adev > 3.0 * 1.4826 * s.mad
      |  GROUP BY d.event_type)
      |SELECT s.event_type, s.n, round(s.med0, 6) AS median, round(s.mad, 6) AS mad,
      |       coalesce(o.n_outliers, 0) AS n_outliers
      |FROM stats s LEFT JOIN outl o USING (event_type)
      |ORDER BY s.event_type""".stripMargin

  // ------------------------------------------- t23 n-gram novelty curve

  /** t23: per-document n-gram novelty — the fraction of a document's
    * distinct bigrams that FIRST appear in it (by doc_id order): the
    * corpus-freshness curve dataset curators watch to decide when more
    * of a source stops adding information (novelty → 0 = the source is
    * exhausted). Dedup-adjacent but measures the complement: how much
    * of each doc is new, not whether the whole doc is a copy.
    *
    * Scale design: one bigram-keyed aggregation for first-owners
    * (min doc_id — partial-agg'd), one doc-keyed reduction for the
    * fraction; no windows, no n² anything. */
  private val t23: Fn = (s, d) => {
    val ws = split(col("text"), " ")
    val bigrams = zip_with(
      slice(ws, lit(1), size(ws) - 1), slice(ws, lit(2), size(ws) - 1),
      (a, b) => concat(a, lit(" "), b))
    val db = Tables.documents(s, d)
      .select(col("doc_id"), explode(bigrams).as("bg"))
      .distinct()
    val firstOwner = db.groupBy("bg").agg(min(col("doc_id")).as("first_doc"))
    db.join(firstOwner, "bg")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"),
        sum(when(col("first_doc") === col("doc_id"), 1L).otherwise(0L)).as("n_novel"))
      .select(col("doc_id"), col("n_bigrams"), col("n_novel"),
        round(col("n_novel").cast(DoubleType) / col("n_bigrams").cast(DoubleType), 6)
          .as("novelty_frac"))
      .orderBy("doc_id")
  }
  private val t23Sql =
    """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
      |db AS (SELECT DISTINCT doc_id, bg
      |       FROM (SELECT doc_id, unnest(list_transform(range(1, len(ws)),
      |                                   i -> ws[i] || ' ' || ws[i+1])) AS bg FROM w)),
      |fo AS (SELECT bg, min(doc_id) AS first_doc FROM db GROUP BY bg)
      |SELECT doc_id, count(*) AS n_bigrams,
      |       CAST(sum(CASE WHEN first_doc = doc_id THEN 1 ELSE 0 END) AS BIGINT) AS n_novel,
      |       round(CAST(sum(CASE WHEN first_doc = doc_id THEN 1 ELSE 0 END) AS DOUBLE)
      |             / count(*), 6) AS novelty_frac
      |FROM db JOIN fo USING (bg)
      |GROUP BY doc_id ORDER BY doc_id""".stripMargin

  // --------------------------------- s16 centroid-margin (silhouette-lite)

  /** s16: per-vector centroid margin — own-cluster RMS distance vs the
    * nearest OTHER label's centroid, the silhouette-style separation
    * diagnostic run after any clustering. Emitted per vector (no
    * cross-row double sums — the summary is the reader's groupBy away),
    * flagging vectors that sit closer to a foreign centroid.
    *
    * Parity: distances use s15's n-scaled integer lattice per label,
    * then ONE double division by (n·1e7)² makes them comparable across
    * labels of different sizes; the argmin window is partitioned by
    * vec_id with the label as tiebreak.
    *
    * Scale design: centroids are #labels × dim rows — broadcast; the
    * per-(vec,label) distance is a map-side join + one keyed aggregate
    * (vec,label); the argmin window partitions by vec_id. Nothing
    * global, nothing n². */
  private val s16: Fn = (s, d) => {
    val x = Tables.embeddings(s, d)
      .select(col("vec_id"), col("label").as("own"), posexplode(col("embedding")))
      .select(col("vec_id"), col("own"), (col("pos") + 1).as("pos"),
        (col("col").cast(DoubleType) * lit(1e7)).cast(LongType).as("xfp"))
    val cent = x.groupBy(col("own").as("label"), col("pos"))
      .agg(sum(col("xfp").cast(DecimalType(38, 0))).as("sfp"), count(lit(1)).as("n"))
    val diff = col("xfp").cast(DecimalType(38, 0)) * col("n") - col("sfp")
    val d2 = x.join(broadcast(cent), Seq("pos"))
      .groupBy("vec_id", "own", "label")
      .agg(sum(diff * diff).as("dist2"), max(col("n")).as("n"))
      .withColumn("rms", sqrt(col("dist2").cast(DoubleType))
        / (col("n").cast(DoubleType) * lit(1e7)))
    val w = Window.partitionBy("vec_id").orderBy(col("rms"), col("label"))
    d2.filter(col("label") =!= col("own"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") === 1)
      .select(col("vec_id"), col("own"), col("label").as("nearest_other"), col("rms").as("other_rms"))
      .join(d2.filter(col("label") === col("own"))
        .select(col("vec_id"), col("rms").as("own_rms")), "vec_id")
      .select(col("vec_id"), col("own").as("label"), col("nearest_other"),
        round(col("own_rms"), 6).as("own_rms"),
        round(col("other_rms"), 6).as("other_rms"),
        round(col("other_rms") - col("own_rms"), 6).as("margin"),
        (col("other_rms") < col("own_rms")).as("misfit"))
      .orderBy("vec_id")
  }
  private val s16Sql =
    """WITH x AS (
      |  SELECT vec_id, label AS own, (u).pos AS pos,
      |         CAST(trunc((u).x * 1e7) AS HUGEINT) AS xfp
      |  FROM (SELECT vec_id, label,
      |               unnest(list_transform(range(1, len(embedding) + 1),
      |                      i -> {'pos': i, 'x': embedding[i]::DOUBLE})) AS u
      |        FROM embeddings)),
      |cent AS (SELECT own AS label, pos, sum(xfp) AS sfp, count(*) AS n FROM x GROUP BY 1, 2),
      |d2 AS (SELECT x.vec_id, x.own, c.label,
      |              sqrt(CAST(sum((x.xfp * c.n - c.sfp) * (x.xfp * c.n - c.sfp)) AS DOUBLE))
      |                / (CAST(max(c.n) AS DOUBLE) * 1e7) AS rms
      |       FROM x JOIN cent c ON c.pos = x.pos
      |       GROUP BY 1, 2, 3),
      |other AS (
      |  SELECT vec_id, own, label AS nearest_other, rms AS other_rms
      |  FROM (SELECT vec_id, own, label, rms,
      |               row_number() OVER (PARTITION BY vec_id ORDER BY rms, label) AS rk
      |        FROM d2 WHERE label <> own) t
      |  WHERE rk = 1),
      |ownd AS (SELECT vec_id, rms AS own_rms FROM d2 WHERE label = own)
      |SELECT o.vec_id, o.own AS label, o.nearest_other,
      |       round(w.own_rms, 6) AS own_rms,
      |       round(o.other_rms, 6) AS other_rms,
      |       round(o.other_rms - w.own_rms, 6) AS margin,
      |       o.other_rms < w.own_rms AS misfit
      |FROM other o JOIN ownd w USING (vec_id)
      |ORDER BY o.vec_id""".stripMargin

  // ---------------------------------- p20 epoch-shuffle decorrelation

  /** p20: multi-epoch shuffle decorrelation audit — proves the
    * deterministic per-epoch training orders (md5 with an epoch salt,
    * the p05 shuffle-key discipline) are pairwise uncorrelated: the
    * Pearson correlation of the 48-bit key values across epochs must
    * sit at ~0. This is the auditable replacement for "trust the RNG":
    * each epoch's order is reproducible in isolation AND provably
    * independent of the others.
    *
    * Scale design: keys are map-side md5 arithmetic; all five Pearson
    * sufficient statistics per epoch pair reduce in ONE partial-agg'd
    * pass (the r67 correlation-matrix shape — a fixed number of exact
    * decimal sums per mapper, regardless of corpus size). The r60
    * discipline applies: each variance/covariance term is one exact
    * integer difference, cast to double once. */
  private val p20: Fn = (s, d) => {
    def key(e: Int) =
      DetHash.coin(col("doc_id"), s"epoch$e:", 12).cast(DecimalType(38, 0))
    val keys = Tables.documents(s, d).select(
      key(1).as("k1"), key(2).as("k2"), key(3).as("k3"))
    val pairs = Seq((1, 2), (1, 3), (2, 3))
    val agg = keys.agg(
      count(lit(1)).cast(DecimalType(38, 0)).as("n"),
      sum(col("k1")).as("s1"), sum(col("k2")).as("s2"), sum(col("k3")).as("s3"),
      sum(col("k1") * col("k1")).as("s11"), sum(col("k2") * col("k2")).as("s22"),
      sum(col("k3") * col("k3")).as("s33"),
      sum(col("k1") * col("k2")).as("s12"), sum(col("k1") * col("k3")).as("s13"),
      sum(col("k2") * col("k3")).as("s23"))
    val rows = pairs.map { case (a, b) =>
      val (sa, sb, sab, saa, sbb) =
        (col(s"s$a"), col(s"s$b"), col(s"s$a$b"), col(s"s$a$a"), col(s"s$b$b"))
      val num = (col("n") * sab - sa * sb).cast(DoubleType)
      val da = (col("n") * saa - sa * sa).cast(DoubleType)
      val db = (col("n") * sbb - sb * sb).cast(DoubleType)
      agg.select(lit(s"epoch$a~epoch$b").as("pair"),
        col("n").cast(LongType).as("n"),
        round(num / (sqrt(da) * sqrt(db)), 6).as("pearson_r"))
    }
    rows.reduce(_.unionAll(_)).orderBy("pair")
  }
  private val p20Sql = {
    def key(e: Int) =
      s"CAST(${md5PrefixSql(s"concat('epoch$e:', CAST(doc_id AS VARCHAR))", 12)} AS HUGEINT)"
    val sel = (1 to 3).map(e => s"${key(e)} AS k$e").mkString(", ")
    val pairs = Seq((1, 2), (1, 3), (2, 3)).map { case (a, b) =>
      s"""SELECT 'epoch$a~epoch$b' AS pair, CAST(n AS BIGINT) AS n,
         |  round(CAST(n * s$a$b - s$a * s$b AS DOUBLE)
         |        / (sqrt(CAST(n * s$a$a - s$a * s$a AS DOUBLE))
         |           * sqrt(CAST(n * s$b$b - s$b * s$b AS DOUBLE))), 6) AS pearson_r
         |FROM g""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH k AS (SELECT $sel FROM documents),
       |g AS (
       |  SELECT CAST(count(*) AS HUGEINT) AS n,
       |         sum(k1) AS s1, sum(k2) AS s2, sum(k3) AS s3,
       |         sum(k1 * k1) AS s11, sum(k2 * k2) AS s22, sum(k3 * k3) AS s33,
       |         sum(k1 * k2) AS s12, sum(k1 * k3) AS s13, sum(k2 * k3) AS s23
       |  FROM k)
       |SELECT * FROM ($pairs) ORDER BY pair""".stripMargin
  }

  // ---------------------------------- r78 cumulative-distinct user curve

  /** r78: cumulative distinct users per event type by day — the
    * "unique users ever" adoption curve. The naive form (COUNT(DISTINCT)
    * over an expanding window) re-scans the prefix per day; the
    * scale-safe identity used here: a user joins the curve exactly once,
    * on their FIRST day — so one user-keyed min-reduction, one tiny
    * daily rollup, and a running sum over (#types × #days) aggregate
    * rows (window partitioned by type) reproduce the exact curve. */
  /** (event_type, user_id, first_day) — the mergeable kernel of the
    * adoption curve: min is idempotent/commutative, so standing state
    * and delta frames combine by union + re-min, which is what
    * `StreamingOps.Adoption` maintains incrementally. */
  private[graft] def firstDays(ev: DataFrame): DataFrame =
    ev.groupBy(col("event_type"), col("user_id"))
      .agg(min(datediff(col("ts").cast("date"), lit("2024-01-01").cast("date"))).as("first_day"))

  /** Daily new users + running cumulative curve from a firstDays frame. */
  private[graft] def adoptionCurve(first: DataFrame): DataFrame = {
    val daily = first.groupBy("event_type", "first_day")
      .agg(count(lit(1)).as("new_users"))
    val w = Window.partitionBy("event_type").orderBy("first_day")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    daily
      .withColumn("cum_users", sum(col("new_users")).over(w))
      .select(col("event_type"), col("first_day").cast(IntegerType).as("day_idx"),
        col("new_users"), col("cum_users"))
      .orderBy("event_type", "day_idx")
  }

  private val r78: Fn = (s, d) => adoptionCurve(firstDays(events(s, d)))
  private val r78Sql =
    """WITH first AS (
      |  SELECT event_type, user_id,
      |         min(datediff('day', DATE '2024-01-01', CAST(ts AS DATE))) AS first_day
      |  FROM events GROUP BY 1, 2),
      |daily AS (
      |  SELECT event_type, first_day, count(*) AS new_users
      |  FROM first GROUP BY 1, 2)
      |SELECT event_type, CAST(first_day AS INTEGER) AS day_idx, new_users,
      |       CAST(sum(new_users) OVER (PARTITION BY event_type ORDER BY first_day
      |                                 ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_users
      |FROM daily ORDER BY event_type, day_idx""".stripMargin

  // ------------------------------------------ r79 order-2 Markov contexts

  /** r79: second-order sequential patterns — for every (prev2, prev1)
    * event context, the top-3 next events with context-conditional
    * probabilities (r63 is the order-1 transition matrix; real
    * clickstream prediction needs at least the order-2 context).
    *
    * Scale design: the two lags ride ONE user-partitioned window (one
    * user-keyed shuffle); contexts aggregate partial-agg'd; both the
    * top-3 rank and the probability share run over the ≤|types|³
    * context AGGREGATE, partitioned by context. */
  private val r79: Fn = (s, d) => {
    val wu = Window.partitionBy("user_id").orderBy("us", "event_id")
    val seq = events(s, d)
      .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("us"), col("event_type"))
      .select(
        lag(col("event_type"), 2).over(wu).as("prev2"),
        lag(col("event_type"), 1).over(wu).as("prev1"),
        col("event_type").as("next"))
      .filter(col("prev2").isNotNull)
    val counts = seq.groupBy("prev2", "prev1", "next").agg(count(lit(1)).as("n"))
    val wc = Window.partitionBy("prev2", "prev1")
    val wr = Window.partitionBy("prev2", "prev1").orderBy(desc("n"), col("next"))
    counts
      .withColumn("ctx_total", sum(col("n")).over(wc))
      .withColumn("rk", row_number().over(wr).cast(LongType))
      .filter(col("rk") <= 3)
      .select(col("prev2"), col("prev1"), col("rk"), col("next"), col("n"),
        round(col("n").cast(DoubleType) / col("ctx_total").cast(DoubleType), 6).as("p_next"))
      .orderBy("prev2", "prev1", "rk")
  }
  private val r79Sql =
    """WITH seq AS (
      |  SELECT lag(event_type, 2) OVER w AS prev2,
      |         lag(event_type, 1) OVER w AS prev1,
      |         event_type AS next
      |  FROM (SELECT user_id, event_id, epoch_us(ts) AS us, event_type FROM events)
      |  WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)),
      |counts AS (
      |  SELECT prev2, prev1, next, count(*) AS n
      |  FROM seq WHERE prev2 IS NOT NULL GROUP BY 1, 2, 3)
      |SELECT prev2, prev1, rk, next, n,
      |       round(CAST(n AS DOUBLE) / CAST(ctx_total AS DOUBLE), 6) AS p_next
      |FROM (SELECT prev2, prev1, next, n,
      |             sum(n) OVER (PARTITION BY prev2, prev1) AS ctx_total,
      |             row_number() OVER (PARTITION BY prev2, prev1
      |                                ORDER BY n DESC, next) AS rk
      |      FROM counts) t
      |WHERE rk <= 3 ORDER BY prev2, prev1, rk""".stripMargin

  // -------------------------------------- u16 cross-table reconciliation

  /** u16: order-total reconciliation drift — recompute every order's
    * total from its line items (Σ extended·(1−disc)·(1+tax), exact
    * decimals) and report the relative-deviation distribution per
    * priority class, plus orders with no line items at all. The classic
    * cross-table financial-reconciliation audit; on THIS synthetic
    * fixture the invariant deliberately does not hold (the generator
    * draws o_totalprice independently), which is exactly what the
    * report shows — the operator's value is the drift distribution, not
    * a vacuous all-green.
    *
    * Parity: deviations are exact decimal differences; each order's
    * relative deviation is fixed-pointed to 1e-9 (identical double
    * division then trunc in both engines) so the per-class averages
    * reduce exact longs. One orderkey-keyed shuffle + one broadcast-
    * class rollup. */
  private val u16: Fn = (s, d) => {
    val li = Tables.lineitem(s, d).select(
      col("l_orderkey"),
      (col("l_extendedprice").cast(DecimalType(18, 2))
        * (lit(1).cast(DecimalType(4, 2)) - col("l_discount").cast(DecimalType(4, 2)))
        * (lit(1).cast(DecimalType(4, 2)) + col("l_tax").cast(DecimalType(4, 2)))).as("net"))
    val rec = li.groupBy("l_orderkey").agg(sum(col("net")).as("recomputed"))
    val o = orders(s, d).select(col("o_orderkey"), col("o_orderpriority"),
      col("o_totalprice").cast(DecimalType(18, 2)).as("total"))
    o.join(rec, col("o_orderkey") === col("l_orderkey"), "left")
      .withColumn("rel_fp",
        when(col("recomputed").isNull, lit(null))
          .otherwise((abs(col("total") - col("recomputed")).cast(DoubleType)
            / col("total").cast(DoubleType) * 1e9).cast(LongType)))
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n_orders"),
        sum(when(col("recomputed").isNull, 1L).otherwise(0L)).as("n_no_lineitems"),
        sum(col("rel_fp")).as("sum_fp"),
        max(col("rel_fp")).as("max_fp"),
        count(col("rel_fp")).as("n_rec"))
      .select(col("o_orderpriority"), col("n_orders"), col("n_no_lineitems"),
        round(col("sum_fp").cast(DoubleType) / 1e9 / col("n_rec").cast(DoubleType), 6)
          .as("avg_rel_dev"),
        round(col("max_fp").cast(DoubleType) / 1e9, 6).as("max_rel_dev"))
      .orderBy("o_orderpriority")
  }
  private val u16Sql =
    """WITH rec AS (
      |  SELECT l_orderkey,
      |         sum(CAST(l_extendedprice AS DECIMAL(18,2))
      |             * (CAST(1 AS DECIMAL(4,2)) - CAST(l_discount AS DECIMAL(4,2)))
      |             * (CAST(1 AS DECIMAL(4,2)) + CAST(l_tax AS DECIMAL(4,2)))) AS recomputed
      |  FROM lineitem GROUP BY 1),
      |j AS (
      |  SELECT o.o_orderpriority,
      |         CASE WHEN r.recomputed IS NULL THEN NULL
      |              ELSE CAST(trunc(CAST(abs(CAST(o.o_totalprice AS DECIMAL(18,2)) - r.recomputed) AS DOUBLE)
      |                              / CAST(CAST(o.o_totalprice AS DECIMAL(18,2)) AS DOUBLE) * 1e9) AS BIGINT)
      |         END AS rel_fp,
      |         CASE WHEN r.recomputed IS NULL THEN 1 ELSE 0 END AS missing
      |  FROM orders o LEFT JOIN rec r ON o.o_orderkey = r.l_orderkey)
      |SELECT o_orderpriority, count(*) AS n_orders,
      |       CAST(sum(missing) AS BIGINT) AS n_no_lineitems,
      |       round(CAST(sum(rel_fp) AS DOUBLE) / 1e9 / count(rel_fp), 6) AS avg_rel_dev,
      |       round(CAST(max(rel_fp) AS DOUBLE) / 1e9, 6) AS max_rel_dev
      |FROM j GROUP BY 1 ORDER BY o_orderpriority""".stripMargin

  // ------------------------------------------ m11 payload byte entropy

  /** m11: byte-entropy profile per modality — the content-vs-noise
    * screen a media-ingest pipeline runs before any decode (truncated/
    * corrupt/encrypted payloads sit at entropy extremes). Operates on
    * the opaque payload BYTES of the multimodal table
    * (Multimodal.attachPayload's mime mapping; payload bytes ≡ utf8
    * text bytes by fixture construction, the module's pinned ASCII
    * parity, so the DuckDB twin chars are the same bytes).
    *
    * Parity: per-document entropy H = ln(L) − (Σ c·ln c)/L with each
    * c·ln c term fixed-pointed (t14 discipline) and H itself
    * fixed-pointed before the per-mime average, so no double ever
    * crosses a row boundary unrounded. Scale: two keyed aggregations
    * (doc×byte histogram, per-doc reduce) + the tiny mime rollup. */
  private val m11: Fn = (s, d) => {
    val mime = when(col("source") === "src0", "image/png")
      .when(col("source") === "src1", "audio/wav")
      .otherwise("video/mp4")
    val c = Tables.documents(s, d)
      .select(col("doc_id"), explode(split(col("text"), "")).as("ch"))
      .groupBy("doc_id", "ch").agg(count(lit(1)).as("cnt"))
    val per = c.groupBy("doc_id")
      .agg(sum(col("cnt")).as("len"),
        // dec-lift (overflow lint): one char class's cnt·lnfix fits in
        // long; the per-doc sum accumulates in DECIMAL(38,0)
        sum((col("cnt") * (log(col("cnt").cast(DoubleType)) * 1e9).cast(LongType))
          .cast(DecimalType(38, 0))).cast(LongType).as("sfp"))
      .select(col("doc_id"), col("len"),
        ((log(col("len").cast(DoubleType))
          - col("sfp").cast(DoubleType) / 1e9 / col("len").cast(DoubleType)) * 1e9)
          .cast(LongType).as("hfp"))
    Tables.documents(s, d).select(col("doc_id"), mime.as("mime"))
      .join(per, "doc_id")
      .groupBy("mime")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("len")).as("total_bytes"),
        sum(col("hfp")).as("hsum"))
      .select(col("mime"), col("n_docs"), col("total_bytes"),
        round(col("hsum").cast(DoubleType) / 1e9 / col("n_docs").cast(DoubleType), 6)
          .as("avg_entropy_nats"))
      .orderBy("mime")
  }
  private val m11Sql =
    """WITH c AS (
      |  SELECT doc_id, ch, count(*) AS cnt
      |  FROM (SELECT doc_id, unnest(string_split(text, '')) AS ch FROM documents)
      |  GROUP BY 1, 2),
      |per AS (
      |  SELECT doc_id, sum(cnt) AS len,
      |         sum(cnt * CAST(trunc(ln(CAST(cnt AS DOUBLE)) * 1e9) AS BIGINT)) AS sfp
      |  FROM c GROUP BY 1),
      |h AS (
      |  SELECT doc_id, len,
      |         CAST(trunc((ln(CAST(len AS DOUBLE)) - CAST(sfp AS DOUBLE) / 1e9 / CAST(len AS DOUBLE)) * 1e9)
      |              AS BIGINT) AS hfp
      |  FROM per),
      |m AS (
      |  SELECT doc_id,
      |         CASE WHEN source = 'src0' THEN 'image/png'
      |              WHEN source = 'src1' THEN 'audio/wav'
      |              ELSE 'video/mp4' END AS mime
      |  FROM documents)
      |SELECT mime, count(*) AS n_docs,
      |       CAST(sum(len) AS BIGINT) AS total_bytes,
      |       round(CAST(sum(hfp) AS DOUBLE) / 1e9 / count(*), 6) AS avg_entropy_nats
      |FROM h JOIN m USING (doc_id)
      |GROUP BY 1 ORDER BY mime""".stripMargin

  val all: Seq[Q] = Seq(
    Q("r70_sessionize", r70, Some(r70Sql)),
    Q("r71_ab_ztest", r71, Some(r71Sql)),
    Q("r72_conversion_latency", r72, Some(r72Sql)),
    Q("r73_gini_concentration", r73, Some(r73Sql)),
    Q("r74_pivot_report", r74, Some(r74Sql)),
    Q("r75_moving_range_window", r75, Some(r75Sql)),
    Q("u15_key_continuity", u15, Some(u15Sql)),
    Q("t22_langid_confusion", t22, Some(t22Sql)),
    Q("d17_tfidf_cosine_dedup", d17, Some(d17Sql)),
    Q("s15_cluster_exemplars", s15, Some(s15Sql)),
    Q("r76_peak_concurrency", r76, Some(r76Sql)),
    Q("r77_mad_outliers", r77, Some(r77Sql)),
    Q("t23_ngram_novelty", t23, Some(t23Sql)),
    Q("s16_centroid_margin", s16, Some(s16Sql)),
    Q("p20_epoch_decorrelation", p20, Some(p20Sql)),
    Q("r78_cumulative_users", r78, Some(r78Sql)),
    Q("r79_markov2_contexts", r79, Some(r79Sql)),
    Q("u16_reconciliation_drift", u16, Some(u16Sql)),
    Q("m11_payload_entropy", m11, Some(m11Sql)))
}
