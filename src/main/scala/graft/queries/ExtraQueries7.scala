package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType, LongType, StringType}
import graft.Tables
import graft.functions.PortableHash.{md5Prefix, md5PrefixSql}
import graft.queries.Relational.{Fn, Q}

/** Round-7 batch 7: time-series diagnostics, text readability, and a
  * pipeline-freshness audit — sample autocorrelation of the daily
  * revenue series, Flesch reading-ease scoring with a deterministic
  * syllable proxy, and per-event-type staleness/age percentiles.
  *
  * Same determinism discipline as ExtraQueries3–6: exact integer/decimal
  * sufficient statistics, transcendentals only per-scalar, counting-based
  * exact percentiles (never a corpus-sized global window), unique-key
  * tiebreaks wherever order matters.
  */
object ExtraQueries7 {

  private def orders(s: SparkSession, d: String) = Tables.orders(s, d)
  private def events(s: SparkSession, d: String) = Tables.events(s, d)
  private def documents(s: SparkSession, d: String) = Tables.documents(s, d)

  private def dec(c: Column): Column = c.cast(DecimalType(38, 0))

  // -------------------------------------------- r96 autocorrelation

  val AcfMaxLag = 7

  /** r96: sample autocorrelation function of the daily-revenue series at
    * lags 1..[[AcfMaxLag]] — the standard pre-model diagnostic for any
    * forecast pipeline (a weekly cadence shows up as a lag-7 peak; the
    * r90 seasonal decomposition ASSUMES the period this query measures).
    * Uses the textbook estimator r_k = Σ(x_t−x̄)(x_{t+k}−x̄) / Σ(x_t−x̄)²
    * over the day-ordered revenue sequence.
    *
    * Exactness: daily revenues are exact cent sums; multiplying the
    * estimator through by n² clears the mean division, so BOTH engines
    * evaluate r_k = (n²P_k − nS(H_k+T_k) + (n−k)S²) / (n²Q − nS²) on
    * identical DECIMAL(38,0)/HUGEINT integers (P_k = Σx_t·x_{t+k},
    * H/T = head/tail sums, S/Q = global sum/sum-of-squares) — ONE double
    * division per lag, rounded once. The r67 sufficient-statistics
    * pattern, lifted to the lagged pair relation.
    * Scale shape: one corpus-sized keyed day aggregate; everything after
    * runs on the #days-row series (the row_number index window is over
    * that aggregate — AggBounded in PlanLintSpec, r62's class). The lag
    * join is an equi-join on t+k with the 7 lags exploded map-side. */
  /** The (day, cents) daily-revenue grain r96 derives the ACF from —
    * ALSO the mergeable state of the streaming twin (cent sums are
    * additive across arrival waves: `StreamingOps.Acf`). */
  def dailyCents(ord: DataFrame): DataFrame =
    ord.groupBy(to_date(col("o_orderdate")).as("day"))
      .agg(sum(round(col("o_totalprice") * 100, 0).cast(LongType)).as("x"))

  /** r96's ACF derivation over a daily grain (factored so the streaming
    * twin republishes from its standing state via the SAME oracled
    * code). */
  def acfFromDaily(daily: DataFrame): DataFrame = {
    val series = daily
      .withColumn("t", row_number().over(Window.orderBy("day")))
      .select(col("t"), col("x"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val g = series.agg(
      count(lit(1)).cast(DecimalType(38, 0)).as("n"),
      sum(dec(col("x"))).cast(DecimalType(38, 0)).as("sx"),
      sum((dec(col("x")) * dec(col("x"))).cast(DecimalType(38, 0)))
        .cast(DecimalType(38, 0)).as("qx"))
    val left = series.select(col("t"), col("x").as("xa"),
      explode(array((1 to AcfMaxLag).map(lit): _*)).as("lag"))
    val st = left
      .join(series.select(col("t").as("t2"), col("x").as("xb")),
        col("t2") === col("t") + col("lag"))
      .groupBy("lag")
      .agg(count(lit(1)).as("n_pairs"),
        sum((dec(col("xa")) * dec(col("xb"))).cast(DecimalType(38, 0)))
          .cast(DecimalType(38, 0)).as("pk"),
        sum(dec(col("xa"))).cast(DecimalType(38, 0)).as("hk"),
        sum(dec(col("xb"))).cast(DecimalType(38, 0)).as("tk"))
    st.crossJoin(broadcast(g))
      .select(col("lag").cast(LongType).as("lag"), col("n_pairs"),
        round(
          (col("n") * col("n") * col("pk") - col("n") * col("sx") * (col("hk") + col("tk"))
            + (col("n") - dec(col("lag"))) * col("sx") * col("sx")).cast(DoubleType)
            / (col("n") * col("n") * col("qx") - col("n") * col("sx") * col("sx"))
            .cast(DoubleType), 6).as("acf"))
      .orderBy("lag")
  }
  private val r96: Fn = (s, d) => acfFromDaily(dailyCents(orders(s, d)))
  private val r96Sql =
    s"""WITH daily AS (
       |  SELECT CAST(o_orderdate AS DATE) AS day,
       |         CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS HUGEINT) AS x
       |  FROM orders GROUP BY 1),
       |series AS (SELECT row_number() OVER (ORDER BY day) AS t, x FROM daily),
       |g AS (
       |  SELECT CAST(count(*) AS HUGEINT) AS n,
       |         CAST(sum(x) AS HUGEINT) AS sx,
       |         CAST(sum(x * x) AS HUGEINT) AS qx
       |  FROM series),
       |lagged AS (
       |  SELECT l.lag, a.x AS xa, b.x AS xb
       |  FROM series a
       |  CROSS JOIN (SELECT unnest(range(1, ${AcfMaxLag + 1})) AS lag) l
       |  JOIN series b ON b.t = a.t + l.lag),
       |st AS (
       |  SELECT lag, CAST(count(*) AS BIGINT) AS n_pairs,
       |         CAST(sum(xa * xb) AS HUGEINT) AS pk,
       |         CAST(sum(xa) AS HUGEINT) AS hk,
       |         CAST(sum(xb) AS HUGEINT) AS tk
       |  FROM lagged GROUP BY lag)
       |SELECT CAST(lag AS BIGINT) AS lag, n_pairs,
       |       round(CAST(n * n * pk - n * sx * (hk + tk) + (n - lag) * sx * sx AS DOUBLE)
       |             / CAST(n * n * qx - n * sx * sx AS DOUBLE), 6) AS acf
       |FROM st CROSS JOIN g ORDER BY lag""".stripMargin

  // -------------------------------------------- r97 forecast backtest

  /** r97: linear-trend forecast backtest per order priority — fit OLS
    * revenue-vs-day-index on the FIRST 80% of each priority's daily
    * series, score MAE and mean error (bias) on the held-out last 20%.
    * The model-eval loop every forecasting pipeline runs before
    * shipping a trend model; r60 fits the regression, THIS measures
    * whether it generalizes forward in time.
    *
    * Exactness: multiplying the OLS prediction through by n_train·D
    * (D = n·Sxx − Sx²) clears both divisions, so each holdout error
    * numerator nD·y − A − nB·t (A = D·Sy − B·Sx, B = n·Sxy − Sx·Sy) is
    * an exact DECIMAL(38,0)/HUGEINT integer; |·| sums exactly and ONE
    * double division per statistic closes it. The 80/20 split point is
    * integer (8·n div 10) in both engines.
    * Scale shape: one corpus-sized keyed day aggregate; the day-index
    * window is PARTITIONED by priority; train stats are one keyed
    * reduction broadcast back onto the test rows. */
  private val r97: Fn = (s, d) => {
    val daily = orders(s, d)
      .groupBy(col("o_orderpriority").as("g"), to_date(col("o_orderdate")).as("day"))
      .agg(sum(round(col("o_totalprice") * 100, 0).cast(LongType)).as("y"))
      .withColumn("t", row_number().over(Window.partitionBy("g").orderBy("day")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val split = daily.groupBy("g")
      .agg(count(lit(1)).as("n"))
      .withColumn("n_train", expr("(8 * n) div 10"))
    val base = daily.join(broadcast(split), "g")
    val stats = base.filter(col("t") <= col("n_train"))
      .groupBy("g")
      .agg(max(col("n_train")).as("ntr"), max(col("n") - col("n_train")).as("nte"),
        sum(dec(col("t"))).cast(DecimalType(38, 0)).as("sx"),
        sum(dec(col("y"))).cast(DecimalType(38, 0)).as("sy"),
        sum((dec(col("t")) * dec(col("t"))).cast(DecimalType(38, 0)))
          .cast(DecimalType(38, 0)).as("sxx"),
        sum((dec(col("t")) * dec(col("y"))).cast(DecimalType(38, 0)))
          .cast(DecimalType(38, 0)).as("sxy"))
      .withColumn("dd", (dec(col("ntr")) * col("sxx") - col("sx") * col("sx"))
        .cast(DecimalType(38, 0)))
      .withColumn("bb", (dec(col("ntr")) * col("sxy") - col("sx") * col("sy"))
        .cast(DecimalType(38, 0)))
      .withColumn("aa", (col("dd") * col("sy") - col("bb") * col("sx"))
        .cast(DecimalType(38, 0)))
    val err = base.filter(col("t") > col("n_train"))
      .join(broadcast(stats), "g")
      .withColumn("num", (dec(col("ntr")) * col("dd") * dec(col("y")) - col("aa")
        - dec(col("ntr")) * col("bb") * dec(col("t"))).cast(DecimalType(38, 0)))
    err.groupBy("g")
      .agg(max(col("ntr")).as("n_train"), max(col("nte")).as("n_test"),
        max(col("dd")).as("dd"), max(col("bb")).as("bb"), max(col("ntr")).as("ntr"),
        sum(abs(col("num"))).cast(DecimalType(38, 0)).as("sabs"),
        sum(col("num")).cast(DecimalType(38, 0)).as("snum"))
      .select(col("g").as("o_orderpriority"),
        col("n_train").cast(LongType).as("n_train"),
        col("n_test").cast(LongType).as("n_test"),
        round(col("bb").cast(DoubleType) / col("dd").cast(DoubleType), 6)
          .as("slope_cents_per_day"),
        round(col("sabs").cast(DoubleType)
          / (col("n_test").cast(DoubleType) * col("ntr").cast(DoubleType)
            * col("dd").cast(DoubleType)), 4).as("mae_cents"),
        round(col("snum").cast(DoubleType)
          / (col("n_test").cast(DoubleType) * col("ntr").cast(DoubleType)
            * col("dd").cast(DoubleType)), 4).as("me_cents"))
      .orderBy("o_orderpriority")
  }
  private val r97Sql =
    """WITH daily AS (
      |  SELECT o_orderpriority AS g, CAST(o_orderdate AS DATE) AS day,
      |         CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS HUGEINT) AS y
      |  FROM orders GROUP BY 1, 2),
      |idx AS (
      |  SELECT g, y, CAST(row_number() OVER (PARTITION BY g ORDER BY day) AS HUGEINT) AS t
      |  FROM daily),
      |split AS (SELECT g, count(*) AS n, (8 * count(*)) // 10 AS n_train FROM idx GROUP BY g),
      |base AS (SELECT idx.*, s.n, s.n_train FROM idx JOIN split s USING (g)),
      |stats AS (
      |  SELECT g, CAST(max(n_train) AS HUGEINT) AS ntr,
      |         CAST(max(n - n_train) AS HUGEINT) AS nte,
      |         CAST(sum(t) AS HUGEINT) AS sx, CAST(sum(y) AS HUGEINT) AS sy,
      |         CAST(sum(t * t) AS HUGEINT) AS sxx, CAST(sum(t * y) AS HUGEINT) AS sxy
      |  FROM base WHERE t <= n_train GROUP BY g),
      |coef AS (
      |  SELECT g, ntr, nte,
      |         ntr * sxx - sx * sx AS dd,
      |         ntr * sxy - sx * sy AS bb,
      |         (ntr * sxx - sx * sx) * sy - (ntr * sxy - sx * sy) * sx AS aa
      |  FROM stats),
      |err AS (
      |  SELECT b.g, c.ntr, c.nte, c.dd, c.bb,
      |         c.ntr * c.dd * b.y - c.aa - c.ntr * c.bb * b.t AS num
      |  FROM base b JOIN coef c USING (g) WHERE b.t > b.n_train)
      |SELECT g AS o_orderpriority,
      |       CAST(max(ntr) AS BIGINT) AS n_train, CAST(max(nte) AS BIGINT) AS n_test,
      |       round(CAST(max(bb) AS DOUBLE) / CAST(max(dd) AS DOUBLE), 6) AS slope_cents_per_day,
      |       round(CAST(sum(abs(num)) AS DOUBLE)
      |             / (CAST(max(nte) AS DOUBLE) * CAST(max(ntr) AS DOUBLE)
      |                * CAST(max(dd) AS DOUBLE)), 4) AS mae_cents,
      |       round(CAST(sum(num) AS DOUBLE)
      |             / (CAST(max(nte) AS DOUBLE) * CAST(max(ntr) AS DOUBLE)
      |                * CAST(max(dd) AS DOUBLE)), 4) AS me_cents
      |FROM err GROUP BY g ORDER BY o_orderpriority""".stripMargin

  // -------------------------------------------- t30 readability

  /** t30: Flesch reading-ease scoring per document — the classic
    * readability quality signal (206.835 − 1.015·words/sentences −
    * 84.6·syllables/words) with a deterministic syllable proxy: the
    * number of vowel-letter groups per token, floored at 1 (the standard
    * dictionary-free approximation; both engines run the identical
    * regex). Readability is a stock column in web-corpus quality
    * filtering alongside t05's heuristic score and t14's perplexity.
    *
    * Exactness: word/sentence/syllable counts are exact integers from
    * identical split/regex semantics (space split = the house tokenizer;
    * sentence split on [.!?]+ keeping non-blank fragments); the score is
    * one double expression over those integers, rounded once.
    * Scale shape: pure map-side per-document work — higher-order
    * transform/aggregate over the token array, NO explode-regroup
    * shuffle; the only shuffle is the output ORDER BY. */
  private val t30: Fn = (s, d) => {
    val words = split(col("text"), " ")
    val sents = filter(split(col("text"), "[.!?]+"), x => length(trim(x)) > lit(0))
    val syl = aggregate(
      transform(words, w =>
        greatest(lit(1), size(regexp_extract_all(lower(w), lit("[aeiouy]+"), lit(0))))),
      lit(0L), (acc, x) => acc + x)
    documents(s, d)
      .select(col("doc_id"),
        greatest(lit(1), size(words)).cast(LongType).as("n_words"),
        greatest(lit(1), size(sents)).cast(LongType).as("n_sentences"),
        syl.cast(LongType).as("n_syllables"))
      .withColumn("fre", round(
        lit(206.835)
          - lit(1.015) * (col("n_words").cast(DoubleType) / col("n_sentences").cast(DoubleType))
          - lit(84.6) * (col("n_syllables").cast(DoubleType) / col("n_words").cast(DoubleType)),
        4))
      .orderBy("doc_id")
  }
  private val t30Sql =
    """WITH base AS (
      |  SELECT doc_id,
      |         GREATEST(1, len(string_split(text, ' '))) AS n_words,
      |         GREATEST(1, len(list_filter(string_split_regex(text, '[.!?]+'),
      |                                     x -> len(trim(x)) > 0))) AS n_sentences,
      |         list_sum(list_transform(string_split(text, ' '),
      |           w -> GREATEST(1, len(regexp_extract_all(lower(w), '[aeiouy]+'))))) AS n_syll
      |  FROM documents)
      |SELECT doc_id, CAST(n_words AS BIGINT) AS n_words,
      |       CAST(n_sentences AS BIGINT) AS n_sentences,
      |       CAST(n_syll AS BIGINT) AS n_syllables,
      |       round(206.835
      |             - 1.015 * (CAST(n_words AS DOUBLE) / CAST(n_sentences AS DOUBLE))
      |             - 84.6 * (CAST(n_syll AS DOUBLE) / CAST(n_words AS DOUBLE)), 4) AS fre
      |FROM base ORDER BY doc_id""".stripMargin

  // -------------------------------------------- u20 freshness audit

  /** u20: per-event-type freshness audit — how stale is each event
    * stream relative to the newest event anywhere (the watermark every
    * ingestion SLA is written against), plus exact p50/p95 event ages.
    * A type whose staleness_min spikes is a dead producer; a type whose
    * p95 age drifts up is a backlogged one.
    *
    * Exactness: ages are integer minutes from exact microsecond
    * arithmetic (the r72 epoch-micros idiom; / then cast truncates
    * toward zero in both engines for these non-negative values).
    * Percentiles use the COUNTING method — value at cumulative rank
    * ⌈q·n⌉ — not a corpus-sized rank window: the corpus reduces to a
    * (type, age_min) histogram first, and the cumulative window runs
    * over that bounded aggregate, partitioned by type (the r66/p14
    * scale-safe exact-percentile form). */
  private val u20: Fn = (s, d) => {
    val ev = events(s, d).select(col("event_type"), unix_micros(col("ts")).as("us"))
    val gmax = ev.agg(max(col("us")).as("gmax"))
    val aged = ev.crossJoin(broadcast(gmax))
      .withColumn("age_min", ((col("gmax") - col("us")) / lit(60000000L)).cast(LongType))
    val hist = aged.groupBy("event_type", "age_min").agg(count(lit(1)).as("c"))
    val wt = Window.partitionBy("event_type").orderBy("age_min")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = hist
      .withColumn("cum", sum(col("c")).over(wt))
      .withColumn("n", sum(col("c")).over(Window.partitionBy("event_type")))
    cum.groupBy("event_type")
      .agg(max(col("n")).as("n_events"),
        min(col("age_min")).as("staleness_min"),
        max(col("age_min")).as("max_age_min"),
        min(when(col("cum") >= ceil(col("n") * 0.5), col("age_min"))).as("p50_age_min"),
        min(when(col("cum") >= ceil(col("n") * 0.95), col("age_min"))).as("p95_age_min"))
      .orderBy("event_type")
  }
  private val u20Sql =
    """WITH ev AS (SELECT event_type, epoch_us(ts) AS us FROM events),
      |gmax AS (SELECT max(us) AS gmax FROM ev),
      |aged AS (
      |  SELECT event_type, CAST((gmax - us) // 60000000 AS BIGINT) AS age_min
      |  FROM ev CROSS JOIN gmax),
      |hist AS (SELECT event_type, age_min, count(*) AS c FROM aged GROUP BY 1, 2),
      |cum AS (
      |  SELECT event_type, age_min,
      |         sum(c) OVER (PARTITION BY event_type ORDER BY age_min
      |                      ROWS UNBOUNDED PRECEDING) AS cum,
      |         sum(c) OVER (PARTITION BY event_type) AS n
      |  FROM hist)
      |SELECT event_type, CAST(max(n) AS BIGINT) AS n_events,
      |       min(age_min) AS staleness_min, max(age_min) AS max_age_min,
      |       min(CASE WHEN cum >= ceil(n * 0.5) THEN age_min END) AS p50_age_min,
      |       min(CASE WHEN cum >= ceil(n * 0.95) THEN age_min END) AS p95_age_min
      |FROM cum GROUP BY event_type ORDER BY event_type""".stripMargin

  // -------------------------------------------- p24 target encoding

  /** p24: leave-one-out target encoding of the customer market segment
    * against order revenue — the classic categorical-feature encoder
    * for tabular training sets, in its leakage-safe form: each row's
    * encoding excludes its OWN target, enc_i = (S_g − y_i)/(n_g − 1),
    * so the feature never memorizes the row it describes (the mean-
    * encoding leak every feature-engineering guide warns about).
    * Emitted for a fixed key slice; the segment statistics come from
    * the FULL corpus.
    *
    * Exactness: S_g and y are exact cent integers; one double division
    * per row, rounded once. Scale shape: one orders⋈customer join
    * (AQE-planned), one segment-keyed reduction broadcast back onto the
    * key-pruned output slice — the stats-from-all, emit-a-slice split a
    * 100 TB feature store materializes. */
  private val p24: Fn = (s, d) => {
    val cust = Tables.customer(s, d)
      .select(col("c_custkey"), col("c_mktsegment").as("seg"))
    val base = orders(s, d)
      .select(col("o_orderkey"), col("o_custkey"),
        round(col("o_totalprice") * 100, 0).cast(LongType).as("y"))
      .join(cust, col("o_custkey") === col("c_custkey"))
    val segStats = base.groupBy("seg")
      .agg(sum(dec(col("y"))).cast(DecimalType(38, 0)).as("sg"), count(lit(1)).as("ng"))
    base.filter(col("o_orderkey") < 1000)
      .join(broadcast(segStats), "seg")
      .select(col("o_orderkey"), col("seg"),
        round((col("sg") - dec(col("y"))).cast(DoubleType)
          / (col("ng") - lit(1)).cast(DoubleType), 4).as("loo_enc_cents"))
      .orderBy("o_orderkey")
  }
  private val p24Sql =
    """WITH base AS (
      |  SELECT o.o_orderkey, c.c_mktsegment AS seg,
      |         CAST(round(o.o_totalprice * 100, 0) AS BIGINT) AS y
      |  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey),
      |seg_stats AS (
      |  SELECT seg, CAST(sum(y) AS HUGEINT) AS sg, count(*) AS ng
      |  FROM base GROUP BY seg)
      |SELECT b.o_orderkey, b.seg,
      |       round(CAST(s.sg - b.y AS DOUBLE) / CAST(s.ng - 1 AS DOUBLE), 4) AS loo_enc_cents
      |FROM base b JOIN seg_stats s USING (seg)
      |WHERE b.o_orderkey < 1000
      |ORDER BY b.o_orderkey""".stripMargin

  // -------------------------------------------- r98 winsorization

  /** r98: winsorized-mean report per order priority — clip each group's
    * order totals at its exact p05/p95 (counting method, as u20) and
    * compare the winsorized mean to the raw mean. The robust-statistics
    * pre-step for any revenue KPI a few whale orders can distort; the
    * clip-vs-drop distinction (winsorize keeps the row at the fence,
    * trim deletes it) matters for revenue conservation audits.
    *
    * Exactness: fences come from the cumulative count over the
    * (priority, cents) histogram; the winsorized sum re-aggregates the
    * SAME histogram with fence substitution — Σ clamp(y)·c is exact
    * integer algebra; two double divisions at the close. Scale shape:
    * corpus reduces to the value histogram first; the cumulative window
    * is priority-partitioned over that aggregate (the u20/p14 form). */
  private val r98: Fn = (s, d) => {
    val hist = orders(s, d)
      .select(col("o_orderpriority").as("g"),
        round(col("o_totalprice") * 100, 0).cast(LongType).as("y"))
      .groupBy("g", "y").agg(count(lit(1)).as("c"))
    val wt = Window.partitionBy("g").orderBy("y")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = hist
      .withColumn("cum", sum(col("c")).over(wt))
      .withColumn("n", sum(col("c")).over(Window.partitionBy("g")))
    val cuts = cum.groupBy("g").agg(
      max(col("n")).as("n"),
      min(when(col("cum") >= ceil(col("n") * 0.05), col("y"))).as("lo"),
      min(when(col("cum") >= ceil(col("n") * 0.95), col("y"))).as("hi"))
    hist.join(broadcast(cuts), "g")
      .withColumn("yw",
        when(col("y") < col("lo"), col("lo"))
          .when(col("y") > col("hi"), col("hi")).otherwise(col("y")))
      .groupBy("g")
      .agg(max(col("n")).as("n_orders"), max(col("lo")).as("p05_cents"),
        max(col("hi")).as("p95_cents"),
        sum(when(col("y") < col("lo"), col("c")).otherwise(lit(0L))
          + when(col("y") > col("hi"), col("c")).otherwise(lit(0L))).as("n_clipped"),
        sum(dec(col("y")) * dec(col("c"))).cast(DecimalType(38, 0)).as("sraw"),
        sum(dec(col("yw")) * dec(col("c"))).cast(DecimalType(38, 0)).as("swin"))
      .select(col("g").as("o_orderpriority"), col("n_orders"),
        col("p05_cents"), col("p95_cents"), col("n_clipped").cast(LongType).as("n_clipped"),
        round(col("sraw").cast(DoubleType) / col("n_orders").cast(DoubleType), 4)
          .as("raw_mean_cents"),
        round(col("swin").cast(DoubleType) / col("n_orders").cast(DoubleType), 4)
          .as("winsorized_mean_cents"))
      .orderBy("o_orderpriority")
  }
  private val r98Sql =
    """WITH hist AS (
      |  SELECT o_orderpriority AS g,
      |         CAST(round(o_totalprice * 100, 0) AS BIGINT) AS y, count(*) AS c
      |  FROM orders GROUP BY 1, 2),
      |cum AS (
      |  SELECT g, y, c,
      |         sum(c) OVER (PARTITION BY g ORDER BY y ROWS UNBOUNDED PRECEDING) AS cum,
      |         sum(c) OVER (PARTITION BY g) AS n
      |  FROM hist),
      |cuts AS (
      |  SELECT g, max(n) AS n,
      |         min(CASE WHEN cum >= ceil(n * 0.05) THEN y END) AS lo,
      |         min(CASE WHEN cum >= ceil(n * 0.95) THEN y END) AS hi
      |  FROM cum GROUP BY g),
      |w AS (
      |  SELECT h.g, h.y, h.c, k.n, k.lo, k.hi,
      |         CASE WHEN h.y < k.lo THEN k.lo WHEN h.y > k.hi THEN k.hi ELSE h.y END AS yw
      |  FROM hist h JOIN cuts k USING (g))
      |SELECT g AS o_orderpriority, CAST(max(n) AS BIGINT) AS n_orders,
      |       max(lo) AS p05_cents, max(hi) AS p95_cents,
      |       CAST(sum(CASE WHEN y < lo THEN c ELSE 0 END
      |                + CASE WHEN y > hi THEN c ELSE 0 END) AS BIGINT) AS n_clipped,
      |       round(CAST(CAST(sum(CAST(y AS HUGEINT) * c) AS HUGEINT) AS DOUBLE)
      |             / CAST(max(n) AS DOUBLE), 4) AS raw_mean_cents,
      |       round(CAST(CAST(sum(CAST(yw AS HUGEINT) * c) AS HUGEINT) AS DOUBLE)
      |             / CAST(max(n) AS DOUBLE), 4) AS winsorized_mean_cents
      |FROM w GROUP BY g ORDER BY o_orderpriority""".stripMargin

  // -------------------------------------------- p25 rendezvous sharding

  val ShardsOld = 4
  val ShardsNew = 5

  /** p25: rendezvous (highest-random-weight) shard assignment and the
    * movement matrix of a [[ShardsOld]]→[[ShardsNew]] reshard — the
    * data-placement kernel a petabyte corpus uses so that ADDING
    * capacity moves only the keys the new shard wins (≈1/new of them)
    * instead of rehashing everything (Thaler & Ravishankar 1998, the
    * HRW form of consistent hashing). The off-diagonal of the matrix is
    * provably confined to the new-shard column; the spec asserts it.
    *
    * Exactness: weights are the engine-portable md5-prefix hash of
    * "doc:shard" ([[graft.functions.PortableHash]] family), argmax with
    * hash-then-shard-id tiebreaks — bit-identical in both engines.
    * Scale shape: map-side explode to #shards rows per key, a key-
    * partitioned rank, one (old,new)-keyed count — no corpus window, no
    * driver state; reshard planning at 100 TB is exactly this plan over
    * the manifest. */
  private val p25: Fn = (s, d) => {
    def assign(nShards: Int, out: String): DataFrame = {
      val hw = documents(s, d).select(col("doc_id"))
        .withColumn("shard", explode(array((0 until nShards).map(lit): _*)))
        .withColumn("h", md5Prefix(
          concat(col("doc_id").cast(StringType), lit(":"), col("shard").cast(StringType)), 15))
      val w = Window.partitionBy("doc_id").orderBy(desc("h"), col("shard"))
      hw.withColumn("rk", row_number().over(w)).filter(col("rk") === 1)
        .select(col("doc_id"), col("shard").as(out))
    }
    assign(ShardsOld, "old_shard").join(assign(ShardsNew, "new_shard"), "doc_id")
      .groupBy("old_shard", "new_shard").agg(count(lit(1)).as("n_docs"))
      .select(col("old_shard").cast(LongType).as("old_shard"),
        col("new_shard").cast(LongType).as("new_shard"), col("n_docs"))
      .orderBy("old_shard", "new_shard")
  }
  private val p25Sql = {
    def assign(n: Int, out: String) =
      s"""SELECT doc_id, shard AS $out FROM (
         |  SELECT d.doc_id, s.shard,
         |         row_number() OVER (PARTITION BY d.doc_id ORDER BY
         |           ${md5PrefixSql("concat(CAST(d.doc_id AS VARCHAR), ':', CAST(s.shard AS VARCHAR))", 15)} DESC,
         |           s.shard) AS rk
         |  FROM documents d CROSS JOIN (SELECT unnest(range(0, $n)) AS shard) s) t
         |WHERE rk = 1""".stripMargin
    s"""WITH olda AS (${assign(ShardsOld, "old_shard")}),
       |newa AS (${assign(ShardsNew, "new_shard")})
       |SELECT CAST(o.old_shard AS BIGINT) AS old_shard,
       |       CAST(n.new_shard AS BIGINT) AS new_shard,
       |       count(*) AS n_docs
       |FROM olda o JOIN newa n USING (doc_id)
       |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin
  }

  val all: Seq[Q] = Seq(
    Q("r96_autocorrelation", r96, Some(r96Sql)),
    Q("r97_forecast_backtest", r97, Some(r97Sql)),
    Q("r98_winsorize", r98, Some(r98Sql)),
    Q("t30_readability", t30, Some(t30Sql)),
    Q("u20_freshness_audit", u20, Some(u20Sql)),
    Q("p24_target_encoding", p24, Some(p24Sql)),
    Q("p25_rendezvous_shards", p25, Some(p25Sql)))
}
