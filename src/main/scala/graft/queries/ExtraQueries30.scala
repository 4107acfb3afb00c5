package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType, IntegerType, LongType}
import graft.Tables
import graft.functions.PortableHash.md5PrefixSql
import graft.queries.Relational.{Fn, Q}

/** Round-9 batch 32: forecasting + capacity planning — exponential
  * smoothing made hash-exact by a dyadic α, the session-gap knob swept
  * like every other constant in this registry, an ABR transcode-ladder
  * plan over the multimodal assets, the TTR-vs-length evidence behind
  * t33's windowed MATTR, and the bucket-balance audit that closes the
  * coin-QA trilogy (u30 independence, p37 ordering, this one load).
  */
object ExtraQueries30 {

  private def docs(s: SparkSession, d: String): DataFrame = Tables.documents(s, d)

  // --------------------- r127 dyadic-α exponential smoothing backtest

  /** r127: simple-exponential-smoothing backtest per event type over
    * the daily count series — the production forecaster one notch up
    * from r97's naive baselines. The trick that makes a RECURSIVE
    * smoother hash-exact across engines: α = 1/2, so every smoothing
    * weight is a dyadic rational 2^-k, every product with an integer
    * count is EXACTLY representable in a double (count bits + 30
    * exponent bits ≪ 53), and the weighted sums are exact regardless
    * of addition order — the closed form l_τ = Σ_j 2^-(τ-j+1)·x_j
    * (j=1 keeps 2^-(τ-1)) replaces the recursion with a pair
    * relation. The weight itself is realized as 1/(1<<k) — an
    * integer shift cast to double, the exact dyadic BY CONSTRUCTION —
    * not libm pow(0.5,k), whose exactness rests on both libms
    * happening to return the dyadic (typical, not IEEE-guaranteed);
    * k > 62 truncates to exactly 0.0 on both engines (beyond any
    * calendar this backtest meets, and those weights are below any
    * 4dp-visible contribution anyway). One-step-ahead errors
    * |x_t − l_(t−1)| are then exact
    * dyadics too; MAE is ONE division.
    *
    * Scale shape: the (τ, j≤τ) pair relation is the r119/r125 class —
    * C(days,2) per type, calendar-bounded squared; levels reduce at
    * the (type, τ) grain, the backtest at the type grain. */
  private val r127: Fn = (s, d) => {
    val daily = Tables.events(s, d)
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("x"))
      .withColumn("t", dense_rank().over(
        Window.partitionBy("event_type").orderBy("day")).cast(LongType))
    val j = daily.select(col("event_type").as("et_j"), col("t").as("jt"), col("x").as("xj"))
    val levels = daily.select(col("event_type"), col("t").as("tau"))
      .join(j, col("event_type") === col("et_j") && col("jt") <= col("tau"))
      .withColumn("kexp",
        when(col("jt") === 1, col("tau") - 1).otherwise(col("tau") - col("jt") + 1))
      .withColumn("w", when(col("kexp") > 62, lit(0.0))
        .otherwise(lit(1.0) /
          expr("cast(shiftleft(cast(1 as bigint), cast(kexp as int)) as double)")))
      .groupBy(col("event_type"), col("tau"))
      .agg(sum(col("w") * col("x" + "j")).as("level"))
    val errs = daily.filter(col("t") > 1)
      .join(levels.select(col("event_type").as("et_l"), (col("tau") + 1).as("t_next"),
        col("level").as("lp")), col("event_type") === col("et_l") && col("t") === col("t_next"))
      .groupBy("event_type")
      .agg(count(lit(1)).cast(LongType).as("n_tests"),
        sum(abs(col("x").cast(DoubleType) - col("lp"))).as("abs_err_sum"))
    val last = daily.groupBy(col("event_type").as("et_g")).agg(max(col("t")).as("tmax"),
      count(lit(1)).cast(LongType).as("n_days"))
      .join(levels, col("tau") === col("tmax") && col("event_type") === col("et_g"))
      .select(col("event_type"), col("n_days"), col("level").as("final_level"))
    last.join(errs, Seq("event_type"))
      .select(col("event_type"), col("n_days"),
        round(col("abs_err_sum") / col("n_tests").cast(DoubleType), 4).as("mae"),
        round(col("final_level"), 4).as("forecast_next"))
      .orderBy("event_type")
  }
  private val r127Sql =
    """WITH daily AS (
      |  SELECT event_type, day, x,
      |         dense_rank() OVER (PARTITION BY event_type ORDER BY day) AS t
      |  FROM (SELECT event_type, CAST(ts AS DATE) AS day, CAST(count(*) AS BIGINT) AS x
      |        FROM events GROUP BY 1, 2) d0),
      |levels AS (
      |  SELECT event_type, tau,
      |         sum(CASE WHEN kexp > 62 THEN 0.0
      |                  ELSE 1.0 / CAST(CAST(1 AS BIGINT) << kexp AS DOUBLE) END * x) AS level
      |  FROM (
      |    SELECT a.event_type, a.t AS tau, b.x,
      |           CASE WHEN b.t = 1 THEN a.t - 1 ELSE a.t - b.t + 1 END AS kexp
      |    FROM daily a JOIN daily b
      |      ON a.event_type = b.event_type AND b.t <= a.t) p
      |  GROUP BY 1, 2),
      |errs AS (
      |  SELECT d.event_type, CAST(count(*) AS BIGINT) AS n_tests,
      |         sum(abs(CAST(d.x AS DOUBLE) - l.level)) AS abs_err_sum
      |  FROM daily d JOIN levels l
      |    ON d.event_type = l.event_type AND d.t = l.tau + 1
      |  WHERE d.t > 1 GROUP BY 1),
      |last AS (
      |  SELECT g.event_type, g.n_days, l.level AS final_level
      |  FROM (SELECT event_type, max(t) AS tmax, CAST(count(*) AS BIGINT) AS n_days
      |        FROM daily GROUP BY 1) g
      |  JOIN levels l ON g.event_type = l.event_type AND l.tau = g.tmax)
      |SELECT la.event_type, la.n_days,
      |       round(e.abs_err_sum / CAST(e.n_tests AS DOUBLE), 4) AS mae,
      |       round(la.final_level, 4) AS forecast_next
      |FROM last la JOIN errs e ON la.event_type = e.event_type
      |ORDER BY la.event_type""".stripMargin

  // --------------------- r128 session-gap sweep

  val GapMinutes: Seq[Int] = Seq(30, 60, 240)

  /** r128: session-GAP sweep — q23/r70/st1 all sessionize at a folk
    * 30-minute timeout; this sweeps the knob (the d29/d31/s35
    * discipline): per candidate gap, the session count and mean events
    * per session. Sessions can only MERGE as the gap grows — the
    * monotone law the spec pins — and the knee says which timeout the
    * metric actually supports.
    *
    * Exactness: a session count is (#gap-exceeding steps + #users) —
    * pure BIGINT; the mean is ONE rounded division. Scale shape: the
    * corpus is scanned once per gap via a user-partitioned lag window
    * (explode×|gaps| BEFORE the window keeps it one pass), reduced at
    * the gap grain. */
  private val r128: Fn = (s, d) => {
    val w = Window.partitionBy("gap_min", "user_id").orderBy("ts", "event_id")
    Tables.events(s, d)
      .select(col("event_id"), col("user_id"), col("ts"))
      .withColumn("gap_min", explode(array(GapMinutes.map(lit): _*)))
      .withColumn("prev_ts", lag(col("ts"), 1).over(w))
      .withColumn("new_sess",
        when(col("prev_ts").isNull, 1L)
          .when(unix_timestamp(col("ts")) - unix_timestamp(col("prev_ts")) >
            col("gap_min").cast(LongType) * 60L, 1L)
          .otherwise(0L))
      .groupBy("gap_min")
      .agg(count(lit(1)).cast(LongType).as("n_events"),
        sum(col("new_sess")).cast(LongType).as("n_sessions"),
        countDistinct(col("user_id")).cast(LongType).as("n_users"))
      .withColumn("mean_events",
        round(col("n_events").cast(DoubleType) / col("n_sessions").cast(DoubleType), 4))
      .select("gap_min", "n_events", "n_sessions", "n_users", "mean_events")
      .orderBy("gap_min")
  }
  private val r128Sql = {
    val gs = GapMinutes.mkString(", ")
    s"""WITH stepped AS (
       |  SELECT g.gap_min, e.user_id,
       |         CASE WHEN lag(e.ts) OVER (PARTITION BY g.gap_min, e.user_id
       |                                   ORDER BY e.ts, e.event_id) IS NULL THEN 1
       |              WHEN epoch(date_trunc('second', e.ts)) -
       |                   epoch(date_trunc('second', lag(e.ts) OVER (PARTITION BY g.gap_min, e.user_id
       |                                                              ORDER BY e.ts, e.event_id)))
       |                   > g.gap_min * 60 THEN 1
       |              ELSE 0 END AS new_sess
       |  FROM events e CROSS JOIN (SELECT unnest(ARRAY[$gs]) AS gap_min) g)
       |SELECT gap_min, CAST(count(*) AS BIGINT) AS n_events,
       |       CAST(sum(new_sess) AS BIGINT) AS n_sessions,
       |       CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
       |       round(CAST(count(*) AS DOUBLE) / CAST(sum(new_sess) AS DOUBLE), 4) AS mean_events
       |FROM stepped
       |GROUP BY 1
       |ORDER BY gap_min""".stripMargin
  }

  // --------------------- m22 ABR transcode-ladder plan

  val LadderHeights: Seq[Int] = Seq(144, 240, 360, 480, 720)
  val LadderKbps: Seq[Int] = Seq(200, 400, 800, 1200, 2500)

  /** m22: ABR transcode-LADDER plan over the video assets — the
    * capacity-planning table a media pipeline derives before spending
    * GPU-hours: each video (mime from the m01 metadata) gets every
    * ladder rung at or below its source tier (tier derived
    * deterministically from payload size — the codec probe is stubbed,
    * the planning relation is real), and the plan reports per rung how
    * many renditions exist and what they cost (bytes × height — the
    * linear transcode-cost proxy, exact BIGINT).
    *
    * Exactness: tiers, rung filters and costs are pure integer
    * predicates/products. Scale shape: one map pass over asset
    * metadata (payloads never move), explode×|ladder| on the filtered
    * video subset, rung-grain close. */
  private val m22: Fn = (s, d) => {
    val rungs = LadderHeights.zip(LadderKbps)
    val assets = graft.multimodal.Multimodal.attachPayload(docs(s, d))
      .filter(col("meta.mime") === "video/mp4")
      .select(col("doc_id"), col("meta.n_bytes").as("n_bytes"))
      .withColumn("src_height",
        when(col("n_bytes") < 200, 240).when(col("n_bytes") < 300, 360)
          .when(col("n_bytes") < 400, 480).otherwise(720))
    assets
      .withColumn("rung", explode(array(rungs.map { case (h, b) =>
        struct(lit(h).as("height"), lit(b).as("kbps"))
      }: _*)))
      .filter(col("rung.height") <= col("src_height"))
      .groupBy(col("rung.height").as("height"), col("rung.kbps").as("bitrate_kbps"))
      .agg(count(lit(1)).cast(LongType).as("n_renditions"),
        sum(col("n_bytes").cast(LongType)).cast(LongType).as("total_src_bytes"),
        // dec-lift (overflow lint): one payload's bytes·height fits in
        // long; the rung-level sum accumulates in DECIMAL(38,0)
        sum((col("n_bytes").cast(LongType) * col("rung.height"))
          .cast(DecimalType(38, 0))).cast(LongType)
          .as("cost_units"))
      .orderBy("height")
  }
  private val m22Sql = {
    val rungRows = LadderHeights.zip(LadderKbps)
      .map { case (h, b) => s"($h, $b)" }.mkString(", ")
    s"""WITH assets AS (
       |  SELECT doc_id, CAST(octet_length(CAST(text AS BLOB)) AS INTEGER) AS n_bytes,
       |         CASE WHEN octet_length(CAST(text AS BLOB)) < 200 THEN 240
       |              WHEN octet_length(CAST(text AS BLOB)) < 300 THEN 360
       |              WHEN octet_length(CAST(text AS BLOB)) < 400 THEN 480
       |              ELSE 720 END AS src_height
       |  FROM documents
       |  WHERE source <> 'src0' AND source <> 'src1'),
       |ladder(height, bitrate_kbps) AS (VALUES $rungRows)
       |SELECT l.height, l.bitrate_kbps,
       |       CAST(count(*) AS BIGINT) AS n_renditions,
       |       CAST(sum(a.n_bytes) AS BIGINT) AS total_src_bytes,
       |       CAST(sum(CAST(a.n_bytes AS BIGINT) * l.height) AS BIGINT) AS cost_units
       |FROM assets a JOIN ladder l ON l.height <= a.src_height
       |GROUP BY 1, 2
       |ORDER BY height""".stripMargin
  }

  // --------------------- t44 TTR-vs-length curve

  val LenEdges: Seq[Int] = Seq(150, 250, 350)

  /** t44: type-token-ratio vs document LENGTH — the evidence table
    * behind t33's windowed MATTR: raw TTR falls as documents grow (a
    * fixed vocabulary gets re-used), so comparing unnormalized TTRs
    * across length strata is a classic datasheet mistake; this query
    * shows the confound directly with per-length-bin TTR statistics.
    *
    * Exactness: per-doc TTR is lifted to the micro-int grid
    * (round(distinct·10⁴/tokens) — ONE rounded division of exact
    * integers per doc), so bin means are exact BIGINT sums with one
    * final division, and min/max are grid values. Scale shape: one
    * map pass at the doc grain (size/array_distinct need no explode),
    * a |bins|-row close. */
  private val t44: Fn = (s, d) => {
    val toks = split(col("text"), " ")
    docs(s, d)
      .select(col("n_chars"),
        size(toks).cast(LongType).as("n_tok"),
        size(array_distinct(toks)).cast(LongType).as("n_distinct"))
      .withColumn("ttr_micro",
        round(col("n_distinct") * 10000 / col("n_tok").cast(DoubleType)).cast(LongType))
      .withColumn("len_bin",
        when(col("n_chars") < LenEdges(0), "a_short")
          .when(col("n_chars") < LenEdges(1), "b_mid")
          .when(col("n_chars") < LenEdges(2), "c_long")
          .otherwise("d_xlong"))
      .groupBy("len_bin")
      .agg(count(lit(1)).cast(LongType).as("n_docs"),
        round(sum(col("ttr_micro")).cast(DoubleType) / (count(lit(1)) * 10000)
          .cast(DoubleType), 4).as("mean_ttr"),
        round(min(col("ttr_micro")).cast(DoubleType) / 10000.0, 4).as("min_ttr"),
        round(max(col("ttr_micro")).cast(DoubleType) / 10000.0, 4).as("max_ttr"))
      .orderBy("len_bin")
  }
  private val t44Sql =
    s"""WITH per AS (
       |  SELECT n_chars,
       |         CAST(round(CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT) * 10000
       |                    / CAST(len(string_split(text, ' ')) AS DOUBLE)) AS BIGINT) AS ttr_micro,
       |         CASE WHEN n_chars < ${LenEdges(0)} THEN 'a_short'
       |              WHEN n_chars < ${LenEdges(1)} THEN 'b_mid'
       |              WHEN n_chars < ${LenEdges(2)} THEN 'c_long'
       |              ELSE 'd_xlong' END AS len_bin
       |  FROM documents)
       |SELECT len_bin, CAST(count(*) AS BIGINT) AS n_docs,
       |       round(CAST(sum(ttr_micro) AS DOUBLE) / CAST(count(*) * 10000 AS DOUBLE), 4)
       |         AS mean_ttr,
       |       round(CAST(min(ttr_micro) AS DOUBLE) / 10000.0, 4) AS min_ttr,
       |       round(CAST(max(ttr_micro) AS DOUBLE) / 10000.0, 4) AS max_ttr
       |FROM per
       |GROUP BY 1
       |ORDER BY len_bin""".stripMargin

  // --------------------- u33 coin bucket-balance audit

  val NBuckets = 256

  /** u33: coin bucket-BALANCE audit — the third leg of the coin-QA
    * trilogy (u30 proved independence between salts, p37 proved the
    * induced ORDER is unclumped; this proves the induced PARTITIONING
    * is level): the p05 shuffle key's first byte spreads docs over 256
    * buckets, and the chi-square against the uniform load — integer
    * numerator Σ(256·o−n)², ONE division by 256n — sits at its 255-dof
    * expectation iff the hex slice is unbiased. Empty buckets COUNT
    * (the min is reported over all 256, not the occupied ones) — a
    * balance audit that ignores empties would miss a dead slice.
    *
    * Exactness: all BIGINT until the single chi-square division.
    * Scale shape: one map pass to the bucket grain, a 256-row
    * left join against the full bucket domain, 1-row close. */
  private val u33: Fn = (s, d) => {
    val buckets = docs(s, d)
      .select(graft.functions.DetHash.coin(col("doc_id"), "shuffle:", 2).as("b"))
      .groupBy("b").agg(count(lit(1)).as("o"))
    val dom = s.range(0, NBuckets.toLong).select(col("id").as("bucket"))
    val full = dom.join(buckets, col("bucket") === col("b"), "left")
      .select(col("bucket"), coalesce(col("o"), lit(0L)).as("o"))
    val tot = full.agg(sum(col("o")).cast(LongType).as("n"))
    full.crossJoin(broadcast(tot))
      .agg(
        max(col("n")).as("n_docs"),
        count(lit(1)).cast(LongType).as("n_buckets"),
        sum(when(col("o") > 0, 1L).otherwise(0L)).cast(LongType).as("used_buckets"),
        min(col("o")).cast(LongType).as("min_bucket"),
        max(col("o")).cast(LongType).as("max_bucket"),
        // dec-lift (overflow lint): one bucket's squared deviation fits
        // in long; the 256-bucket sum accumulates in DECIMAL(38,0)
        round(sum(((lit(NBuckets.toLong) * col("o") - col("n")) *
          (lit(NBuckets.toLong) * col("o") - col("n")))
          .cast(DecimalType(38, 0))).cast(DoubleType) /
          (max(col("n")) * NBuckets).cast(DoubleType), 4).as("chi2"))
      .select("n_docs", "n_buckets", "used_buckets", "min_bucket", "max_bucket", "chi2")
  }
  private val u33Sql =
    s"""WITH k AS (
       |  SELECT ${md5PrefixSql("concat('shuffle:', CAST(doc_id AS VARCHAR))", 2)} AS b
       |  FROM documents),
       |cnt AS (
       |  SELECT r.range AS bucket, CAST(count(k.b) AS BIGINT) AS o
       |  FROM range($NBuckets) r LEFT JOIN k ON k.b = r.range
       |  GROUP BY 1),
       |tot AS (SELECT CAST(sum(o) AS BIGINT) AS n FROM cnt)
       |SELECT t.n AS n_docs, CAST(count(*) AS BIGINT) AS n_buckets,
       |       CAST(sum(CASE WHEN o > 0 THEN 1 ELSE 0 END) AS BIGINT) AS used_buckets,
       |       CAST(min(o) AS BIGINT) AS min_bucket,
       |       CAST(max(o) AS BIGINT) AS max_bucket,
       |       round(CAST(sum(($NBuckets * o - t.n) * ($NBuckets * o - t.n)) AS DOUBLE) /
       |             CAST($NBuckets * t.n AS DOUBLE), 4) AS chi2
       |FROM cnt c CROSS JOIN tot t
       |GROUP BY t.n""".stripMargin

  val all: Seq[Q] = Seq(
    Q("r127_ses_backtest", r127, Some(r127Sql)),
    Q("r128_session_gap_sweep", r128, Some(r128Sql)),
    Q("m22_bitrate_ladder", m22, Some(m22Sql)),
    Q("t44_ttr_curve", t44, Some(t44Sql)),
    Q("u33_bucket_balance", u33, Some(u33Sql)))
}
