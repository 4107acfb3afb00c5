package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType, LongType}
import graft.Tables
import graft.functions.PortableHash.md5PrefixSql
import graft.queries.Relational.{Fn, Q, money}

/** Round-8 batch 19: survival analysis, bitemporal reads, long-form
  * reshaping, and information-theoretic corpus comparison.
  *
  * Same determinism discipline as ExtraQueries3–16: exact integer /
  * DECIMAL sufficient statistics, 1e-9 fixed-point ln terms where a
  * transcendental is unavoidable, one rounded double expression at the
  * close, explicit orderBy, engine-portable arithmetic only.
  */
object ExtraQueries17 {

  private def events(s: SparkSession, d: String) = Tables.events(s, d)
  private def docs(s: SparkSession, d: String) = Tables.documents(s, d)

  // ---------------------------------------- r114 Kaplan–Meier survival

  /** Days of end-of-window inactivity that mark a user churned (shorter
    * gaps are right-censored — the observation window simply ended). */
  val KmChurnGapDays = 8

  /** r114: Kaplan–Meier survival curve of user engagement lifetime per
    * event_type — S(t) = Π_{tᵢ≤t} (1 − dᵢ/nᵢ) over churn durations,
    * with users still active near the window edge RIGHT-CENSORED (the
    * estimator's whole point: discarding them biases lifetime short,
    * counting them as churned biases it long). The product-limit
    * estimator is the standard churn/retention lifetime readout
    * (r59's cohort retention is the calendar-grain cousin; KM is the
    * duration-grain one that handles censoring correctly).
    *
    * Exactness: durations are integer day diffs; risk sets nᵢ and
    * event/censor counts dᵢ/cᵢ are integers from ONE suffix-sum window
    * over the (type, duration) aggregate; the survival product is a
    * cumulative sum of 1e-9 fixed-point ln((n−d)/n) terms (exact BIGINT
    * — the r91/t14 ln discipline; a rational product Π(nᵢ−dᵢ)/nᵢ
    * overflows DECIMAL(38) after ~40 steps), closed by one rounded
    * exp per row.
    * Scale shape: the corpus collapses to per-(type, user) min/max
    * days (one keyed shuffle), then to the (type, duration) grain —
    * every window after that runs on a ≤|types|·|window days| relation
    * (series-sized, the r89 rule), never the event log. */
  private val r114: Fn = (s, d) => {
    val perUser = events(s, d)
      .groupBy(col("event_type"), col("user_id"))
      .agg(min(to_date(col("ts"))).as("f"), max(to_date(col("ts"))).as("l"))
    val maxDay = events(s, d).agg(max(to_date(col("ts"))).as("m"))
    val timed = perUser.crossJoin(broadcast(maxDay))
      .withColumn("churned", datediff(col("m"), col("l")) >= KmChurnGapDays)
      .withColumn("t", when(col("churned"), datediff(col("l"), col("f")))
        .otherwise(datediff(col("m"), col("f"))).cast(LongType))
    val grain = timed.groupBy(col("event_type"), col("t"))
      .agg(sum(when(col("churned"), 1L).otherwise(0L)).cast(LongType).as("d_events"),
        sum(when(col("churned"), 0L).otherwise(1L)).cast(LongType).as("c_censored"))
    val wSuffix = Window.partitionBy("event_type").orderBy(desc("t"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wCum = Window.partitionBy("event_type").orderBy("t")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    grain
      .withColumn("n_risk", sum(col("d_events") + col("c_censored")).over(wSuffix))
      // d_events == n_risk (every remaining at-risk user events at the
      // longest duration — possible only on a type's terminal row) makes
      // the KM factor (n-d)/n = 0: survival must hit EXACTLY 0 from here
      // on. In ln-space that's -inf, where Spark's log(0) returns NULL
      // (the window sum would silently skip the term and leave survival
      // > 0) while DuckDB's ln(0) errors — so both sides emit the same
      // finite sentinel (-1e15 fixed-point = ln ~ -1e6), which exp()
      // underflows to exactly 0.0 in both engines (r8 advice).
      .withColumn("lnfp", when(col("d_events") === col("n_risk"), lit(-1000000000000000L))
        .when(col("d_events") > 0,
          round(log((col("n_risk") - col("d_events")).cast(DoubleType) /
            col("n_risk").cast(DoubleType)) * 1e9).cast(LongType))
        .otherwise(lit(0L)))
      .withColumn("cum_lnfp", sum(col("lnfp")).over(wCum).cast(LongType))
      .withColumn("survival", round(exp(col("cum_lnfp").cast(DoubleType) / 1e9), 4))
      .select("event_type", "t", "n_risk", "d_events", "c_censored", "cum_lnfp", "survival")
      .orderBy("event_type", "t")
  }

  private val r114Sql =
    s"""WITH per_user AS (
       |  SELECT event_type, user_id,
       |         min(CAST(ts AS DATE)) AS f, max(CAST(ts AS DATE)) AS l
       |  FROM events GROUP BY 1, 2),
       |m AS (SELECT max(CAST(ts AS DATE)) AS m FROM events),
       |timed AS (
       |  SELECT event_type,
       |         (m.m - l) >= $KmChurnGapDays AS churned,
       |         CAST(CASE WHEN (m.m - l) >= $KmChurnGapDays
       |                   THEN l - f ELSE m.m - f END AS BIGINT) AS t
       |  FROM per_user CROSS JOIN m),
       |grain AS (
       |  SELECT event_type, t,
       |         CAST(sum(CASE WHEN churned THEN 1 ELSE 0 END) AS BIGINT) AS d_events,
       |         CAST(sum(CASE WHEN churned THEN 0 ELSE 1 END) AS BIGINT) AS c_censored
       |  FROM timed GROUP BY 1, 2),
       |risk AS (
       |  SELECT *,
       |         CAST(sum(d_events + c_censored) OVER (
       |           PARTITION BY event_type ORDER BY t DESC
       |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS n_risk
       |  FROM grain),
       |terms AS (
       |  SELECT *,
       |         CASE WHEN d_events = n_risk THEN -1000000000000000
       |              WHEN d_events > 0
       |              THEN CAST(round(ln(CAST(n_risk - d_events AS DOUBLE) /
       |                                 CAST(n_risk AS DOUBLE)) * 1e9, 0) AS BIGINT)
       |              ELSE 0 END AS lnfp
       |  FROM risk)
       |SELECT event_type, t, n_risk, d_events, c_censored,
       |       CAST(sum(lnfp) OVER (PARTITION BY event_type ORDER BY t
       |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_lnfp,
       |       round(exp(CAST(sum(lnfp) OVER (PARTITION BY event_type ORDER BY t
       |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) / 1e9), 4)
       |         AS survival
       |FROM terms
       |ORDER BY event_type, t""".stripMargin

  // ---------------------------------------- r115 bitemporal as-of read

  /** Valid-time cutoffs: days before the window edge. */
  val BtValidDaysBack: Seq[Int] = Seq(14, 3)

  /** Transaction-time cutoffs as (numerator, denominator) fractions of
    * the max arrival sequence — exact integer division, no floats. */
  val BtTxFracs: Seq[(Int, Int)] = Seq((1, 2), (1, 1))

  /** r115: bitemporal as-of read — "what did we BELIEVE at transaction
    * time T_tx that the state was at valid time T_v". The two time
    * axes diverge exactly when data arrives late, so the transaction
    * axis is st6's jittered arrival sequence (the same bounded-reorder
    * ingest model): at T_tx = half the arrival log, recent valid-time
    * states are KNOWN DIFFERENTLY than at T_tx = full knowledge — the
    * revision a bitemporal store exists to expose (and what r49's
    * single-axis SCD2 cannot). Read: per user the latest event_type
    * with valid ts ≤ T_v among arrivals ≤ T_tx, aggregated to a
    * per-(cutoff, type) census so the revision is visible as count
    * deltas between tx cutoffs at the same valid cutoff.
    *
    * Exactness: cutoffs are exact integer arithmetic on 1-row
    * broadcast aggregates (max day, max arrival_seq — tx cutoff by
    * BIGINT div); the per-user argmax is a user-keyed row_number with
    * (ts, event_id) tie-break; counts are integers.
    * Scale shape: the 4-row cutoff grid fans the event log ×4 before
    * ONE user-keyed window per combo partition — the window key is
    * (user, combo), so parallelism scales with users, never a global
    * sort; everything after is a bounded census aggregate. */
  private val r115: Fn = (s, d) => {
    import s.implicits._
    // st6's jittered arrival sequence (wmArrivals projects user_id
    // away — the tx axis must ride with it here)
    val arr = events(s, d)
      .select(col("event_id"), col("event_type"), col("ts"), col("user_id"))
      .withColumn("arrival_seq", ExtraQueries10.arrivalSeq)
    val bounds = arr.agg(max(to_date(col("ts"))).as("max_day"),
      max(col("arrival_seq")).as("max_seq"))
    val combos = BtValidDaysBack.flatMap { vb =>
      BtTxFracs.map { case (n, den) => (vb, n, den) }
    }.toDF("v_back", "tx_num", "tx_den")
    val cuts = broadcast(combos.crossJoin(broadcast(bounds))
      .select(col("v_back"), col("tx_num"), col("tx_den"),
        date_sub(col("max_day"), col("v_back")).as("v_cut"),
        expr("CAST(max_seq * tx_num AS BIGINT) DIV tx_den").as("seq_cut")))
    val eligible = arr.crossJoin(cuts)
      .filter(to_date(col("ts")) <= col("v_cut") && col("arrival_seq") <= col("seq_cut"))
    val wU = Window.partitionBy("user_id", "v_back", "tx_num", "tx_den")
      .orderBy(desc("ts"), desc("event_id"))
    eligible.withColumn("rn", row_number().over(wU)).filter(col("rn") === 1)
      .groupBy(col("v_back"), col("tx_num"), col("tx_den"), col("event_type"))
      .agg(count(lit(1)).as("n_users"))
      .orderBy("v_back", "tx_num", "tx_den", "event_type")
  }

  private val r115Sql = {
    val combos = BtValidDaysBack.flatMap { vb =>
      BtTxFracs.map { case (n, den) => s"($vb, $n, $den)" }
    }.mkString(", ")
    s"""WITH arr AS (
       |  SELECT event_id, event_type, ts, user_id,
       |         event_id + ${md5PrefixSql("CAST(event_id AS VARCHAR)", 8)}
       |           % ${ExtraQueries10.WmJitter} AS arrival_seq
       |  FROM events),
       |bounds AS (
       |  SELECT max(CAST(ts AS DATE)) AS max_day, max(arrival_seq) AS max_seq FROM arr),
       |combos(v_back, tx_num, tx_den) AS (VALUES $combos),
       |cuts AS (
       |  SELECT v_back, tx_num, tx_den,
       |         max_day - v_back AS v_cut,
       |         (max_seq * tx_num) // tx_den AS seq_cut
       |  FROM combos CROSS JOIN bounds),
       |eligible AS (
       |  SELECT a.*, c.v_back, c.tx_num, c.tx_den
       |  FROM arr a CROSS JOIN cuts c
       |  WHERE CAST(a.ts AS DATE) <= c.v_cut AND a.arrival_seq <= c.seq_cut),
       |latest AS (
       |  SELECT *, row_number() OVER (
       |    PARTITION BY user_id, v_back, tx_num, tx_den
       |    ORDER BY ts DESC, event_id DESC) AS rn
       |  FROM eligible)
       |SELECT v_back, tx_num, tx_den, event_type, count(*) AS n_users
       |FROM latest WHERE rn = 1
       |GROUP BY 1, 2, 3, 4
       |ORDER BY 1, 2, 3, 4""".stripMargin
  }

  // ---------------------------------------- r116 UNPIVOT (melt)

  /** r116: UNPIVOT — the wide aggregate report melted back to long
    * form: per (l_returnflag, l_linestatus), the four lineitem measure
    * totals as (measure, value) rows. r74 is the PIVOT direction; the
    * melt is what every metric store ingests (one row per metric) and
    * what Spark's native `Dataset.unpivot` (and DuckDB's UNION ALL
    * arms) express without touching row data twice — the reshape runs
    * on the AGGREGATE, never the fact table.
    *
    * Exactness: all four measures sum on exact DECIMAL grids
    * (quantity/discount/tax on (18,4), price on the money (12,2)
    * grid), cast to DECIMAL(38,4) once so the melted value column has
    * one type; the dump-side double widening is the standard verify
    * canonicalization. Scale shape: one grouped aggregation of the
    * fact table to a ≤|flag|·|status| relation; the unpivot is a
    * metadata-sized projection. */
  private val r116: Fn = (s, d) => {
    val agg = Tables.lineitem(s, d)
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(sum(col("l_quantity").cast(DecimalType(18, 4))).as("sum_qty"),
        sum(money(col("l_extendedprice"))).as("sum_price"),
        sum(col("l_discount").cast(DecimalType(18, 4))).as("sum_disc"),
        sum(col("l_tax").cast(DecimalType(18, 4))).as("sum_tax"))
      .select(col("l_returnflag"), col("l_linestatus"),
        col("sum_qty").cast(DecimalType(38, 4)).as("sum_qty"),
        col("sum_price").cast(DecimalType(38, 4)).as("sum_price"),
        col("sum_disc").cast(DecimalType(38, 4)).as("sum_disc"),
        col("sum_tax").cast(DecimalType(38, 4)).as("sum_tax"))
    agg.unpivot(
      Array(col("l_returnflag"), col("l_linestatus")),
      Array(col("sum_qty"), col("sum_price"), col("sum_disc"), col("sum_tax")),
      "measure", "value")
      .orderBy("l_returnflag", "l_linestatus", "measure")
  }

  private val r116Sql =
    """WITH agg AS (
      |  SELECT l_returnflag, l_linestatus,
      |         CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DECIMAL(38,4)) AS sum_qty,
      |         CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS DECIMAL(38,4)) AS sum_price,
      |         CAST(sum(CAST(l_discount AS DECIMAL(18,4))) AS DECIMAL(38,4)) AS sum_disc,
      |         CAST(sum(CAST(l_tax AS DECIMAL(18,4))) AS DECIMAL(38,4)) AS sum_tax
      |  FROM lineitem GROUP BY 1, 2)
      |SELECT l_returnflag, l_linestatus, measure, value FROM (
      |  SELECT l_returnflag, l_linestatus, 'sum_qty' AS measure, sum_qty AS value FROM agg
      |  UNION ALL
      |  SELECT l_returnflag, l_linestatus, 'sum_price', sum_price FROM agg
      |  UNION ALL
      |  SELECT l_returnflag, l_linestatus, 'sum_disc', sum_disc FROM agg
      |  UNION ALL
      |  SELECT l_returnflag, l_linestatus, 'sum_tax', sum_tax FROM agg)
      |ORDER BY l_returnflag, l_linestatus, measure""".stripMargin

  // ------------------------------- t37 Jensen–Shannon source divergence

  /** t37: pairwise Jensen–Shannon divergence between source unigram
    * distributions — the symmetric, bounded (≤ ln 2, here normalized
    * to [0,1] bits) corpus-comparison metric curation uses to find
    * mirror-ish sources and measure mixture diversity (u10's PSI
    * monitors ONE distribution over time; JSD compares sources
    * pairwise; t21's entropy scores each alone).
    *
    * Exactness: the ordered-pair KL half S(i→j) = Σ_t a·ln(2aB/(aB+bA))
    * keeps every ln argument a ratio of exact BIGINT products (a,b =
    * counts, A,B = totals; b=0 degrades to the exact a·ln2 missing-mass
    * term with no special-casing), each term 1e-9 fixed-point before
    * the DECIMAL(38,0) sum; JSD = (S_ij/A + S_ji/B)/(2 ln 2) is one
    * mirrored double expression rounded once.
    * Scale shape: the corpus collapses to (source, token) counts
    * first (one keyed shuffle); ordered pairs come from fanning THAT
    * vocabulary relation ×|sources| against the broadcast source list
    * and left-joining the opposite counts token-keyed — the source
    * dimension is bounded (20 here; dims don't scale with corpus), so
    * the fan-out is a constant factor, never n². */
  private val t37: Fn = (s, d) => {
    val cnt = docs(s, d)
      .select(col("source"), explode(split(col("text"), " ")).as("tok"))
      .groupBy("source", "tok").agg(count(lit(1)).as("a"))
    val totals = cnt.groupBy("source").agg(sum(col("a")).cast(LongType).as("tot"))
    val srcs = broadcast(totals)
    val fan = cnt.join(broadcast(totals.select(col("source").as("src_j"), col("tot").as("b_tot"))),
        col("source") =!= col("src_j"))
      .join(cnt.select(col("source").as("cj"), col("tok").as("tj"), col("a").as("b")),
        col("src_j") === col("cj") && col("tok") === col("tj"), "left")
      .na.fill(0L, Seq("b"))
    val terms = fan
      .join(srcs.select(col("source"), col("tot").as("a_tot")), Seq("source"))
      .withColumn("lnfp", round(log(
          (lit(2) * col("a") * col("b_tot")).cast(DoubleType) /
            (col("a") * col("b_tot") + col("b") * col("a_tot")).cast(DoubleType)) * 1e9)
        .cast(LongType))
      .groupBy(col("source").as("si"), col("src_j").as("sj"))
      .agg(sum(col("a").cast(DecimalType(38, 0)) * col("lnfp")).as("s_fp"))
    val paired = terms.as("x")
      .join(terms.as("y"), col("x.si") === col("y.sj") && col("x.sj") === col("y.si"))
      .filter(col("x.si") < col("x.sj"))
      .join(srcs.select(col("source").as("si2"), col("tot").as("ta")), col("x.si") === col("si2"))
      .join(srcs.select(col("source").as("sj2"), col("tot").as("tb")), col("x.sj") === col("sj2"))
    paired.select(col("x.si").as("src_a"), col("x.sj").as("src_b"),
        round((col("x.s_fp").cast(DoubleType) / lit(1e9) / col("ta").cast(DoubleType) +
          col("y.s_fp").cast(DoubleType) / lit(1e9) / col("tb").cast(DoubleType)) /
          (lit(2.0) * log(lit(2.0))), 6).as("jsd_bits"))
      .orderBy("src_a", "src_b")
  }

  private val t37Sql =
    """WITH cnt AS (
      |  SELECT source, unnest(string_split(text, ' ')) AS tok
      |  FROM documents),
      |c AS (SELECT source, tok, count(*) AS a FROM cnt GROUP BY 1, 2),
      |totals AS (SELECT source, CAST(sum(a) AS BIGINT) AS tot FROM c GROUP BY 1),
      |fan AS (
      |  SELECT c.source, c.tok, c.a, tj.source AS src_j, tj.tot AS b_tot,
      |         COALESCE(cj.a, 0) AS b
      |  FROM c
      |  JOIN totals tj ON tj.source <> c.source
      |  LEFT JOIN c cj ON cj.source = tj.source AND cj.tok = c.tok),
      |terms AS (
      |  SELECT f.source AS si, f.src_j AS sj,
      |         sum(CAST(f.a AS DECIMAL(38,0)) *
      |             CAST(round(ln(CAST(2 * f.a * f.b_tot AS DOUBLE) /
      |                           CAST(f.a * f.b_tot + f.b * ta.tot AS DOUBLE)) * 1e9, 0)
      |                  AS BIGINT)) AS s_fp
      |  FROM fan f JOIN totals ta ON ta.source = f.source
      |  GROUP BY 1, 2)
      |SELECT x.si AS src_a, x.sj AS src_b,
      |       round((CAST(x.s_fp AS DOUBLE) / 1e9 / ta.tot +
      |              CAST(y.s_fp AS DOUBLE) / 1e9 / tb.tot) / (2.0 * ln(2.0)), 6) AS jsd_bits
      |FROM terms x
      |JOIN terms y ON x.si = y.sj AND x.sj = y.si
      |JOIN totals ta ON ta.source = x.si
      |JOIN totals tb ON tb.source = x.sj
      |WHERE x.si < x.sj
      |ORDER BY src_a, src_b""".stripMargin

  // ------------------------------- t38 Good–Turing frequency smoothing

  /** Highest raw frequency that gets a smoothed estimate. */
  val GtMaxR = 10

  /** t38: Good–Turing smoothed frequency estimates — r* = (r+1)·N_{r+1}
    * /N_r over the TRIGRAM counts-of-counts, plus the unseen-probability
    * mass N₁/N. THE classical answer to "how much probability should a
    * corpus LM reserve for n-grams it has never seen" (the t16/t34
    * interpolated LMs hard-code their floors; Good–Turing derives the
    * floor from the frequency-of-frequencies curve itself, and the
    * same N₁/N estimate is how field biology counts unseen species).
    * Trigrams, not unigrams, because the estimator needs a
    * low-frequency regime: this fixture's 31-word vocabulary has no
    * unigram singletons at any SF, while its trigram distribution has
    * thousands (t24's Heaps analysis picked trigrams for the same
    * reason).
    *
    * Exactness: trigram counts → counts-of-counts are two exact integer
    * aggregations; r* numerators (r+1)·N_{r+1} are BIGINT products with
    * one rounded division per output row; the unseen mass rides as an
    * exact (n1, n_total) integer pair plus one rounded division.
    * Scale shape: trigram assembly is a map-side positional explode
    * (linear in tokens); the corpus collapses to the trigram-type
    * relation then to ≤max(count) rows; the N_{r+1} lookup is a
    * self-join of that tiny relation shifted by one — nothing after
    * the first shuffle touches corpus-sized data. */
  private val t38: Fn = (s, d) => {
    val tokCnt = docs(s, d)
      .select(split(col("text"), " ").as("w"))
      .filter(size(col("w")) >= 3)
      .select(col("w"), explode(sequence(lit(1), size(col("w")) - 2)).as("i"))
      .select(concat_ws(" ", element_at(col("w"), col("i")),
        element_at(col("w"), col("i") + 1),
        element_at(col("w"), col("i") + 2)).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("r"))
    val coc = tokCnt.groupBy("r").agg(count(lit(1)).as("n_r"))
    val nTotal = tokCnt.agg(sum(col("r")).cast(LongType).as("n_total"),
      sum(when(col("r") === 1, 1L).otherwise(0L)).cast(LongType).as("n1"))
    coc.filter(col("r") <= GtMaxR)
      .join(coc.select((col("r") - 1).as("r"), col("n_r").as("n_r1")), Seq("r"), "left")
      .na.fill(0L, Seq("n_r1"))
      .crossJoin(broadcast(nTotal))
      .select(col("r"), col("n_r"), col("n_r1"),
        round((col("r") + 1).cast(DoubleType) * col("n_r1").cast(DoubleType) /
          col("n_r").cast(DoubleType), 6).as("r_star"),
        round(col("n1").cast(DoubleType) / col("n_total").cast(DoubleType), 6)
          .as("unseen_mass"))
      .orderBy("r")
  }

  private val t38Sql =
    s"""WITH w AS (
       |  SELECT string_split(text, ' ') AS w FROM documents
       |  WHERE len(string_split(text, ' ')) >= 3),
       |tok AS (
       |  SELECT w[i] || ' ' || w[i + 1] || ' ' || w[i + 2] AS tok
       |  FROM w, unnest(range(1, len(w) - 1)) AS u(i)),
       |cnt AS (SELECT tok, count(*) AS r FROM tok GROUP BY 1),
       |coc AS (SELECT r, count(*) AS n_r FROM cnt GROUP BY 1),
       |tot AS (
       |  SELECT CAST(sum(r) AS BIGINT) AS n_total,
       |         CAST(sum(CASE WHEN r = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1
       |  FROM cnt)
       |SELECT c.r, c.n_r, COALESCE(c1.n_r, 0) AS n_r1,
       |       round(CAST(c.r + 1 AS DOUBLE) * COALESCE(c1.n_r, 0) / c.n_r, 6) AS r_star,
       |       round(CAST(t.n1 AS DOUBLE) / t.n_total, 6) AS unseen_mass
       |FROM coc c
       |LEFT JOIN coc c1 ON c1.r = c.r + 1
       |CROSS JOIN tot t
       |WHERE c.r <= $GtMaxR
       |ORDER BY c.r""".stripMargin

  val all: Seq[Q] = Seq(
    Q("r114_kaplan_meier", r114, Some(r114Sql)),
    Q("r115_bitemporal_asof", r115, Some(r115Sql)),
    Q("r116_unpivot_melt", r116, Some(r116Sql)),
    Q("t37_jsd_sources", t37, Some(t37Sql)),
    Q("t38_good_turing", t38, Some(t38Sql)))
}
