package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType, LongType}
import graft.Tables
import graft.functions.PortableHash.{md5Prefix, md5PrefixSql}
import graft.queries.Relational.{Fn, Q, money}

/** Round-7 batch 16: the Wilcoxon signed-rank test (completing the
  * nonparametric family: r101 location, r109 shape, r110 paired), an
  * exact-integer curriculum mixing schedule, and the sample-ratio-
  * mismatch guardrail every A/B readout must pass first.
  *
  * Same determinism discipline as ExtraQueries3–14.
  */
object ExtraQueries15 {

  private def orders(s: SparkSession, d: String) = Tables.orders(s, d)
  private def customer(s: SparkSession, d: String) = Tables.customer(s, d)
  private def nation(s: SparkSession, d: String) = Tables.nation(s, d)
  private def region(s: SparkSession, d: String) = Tables.region(s, d)
  private def events(s: SparkSession, d: String) = Tables.events(s, d)
  private def docs(s: SparkSession, d: String) = Tables.documents(s, d)

  // ---------------------------------------- r110 Wilcoxon signed-rank

  val WsrYearA = 1996
  val WsrYearB = 1997

  /** r110: Wilcoxon signed-rank test per priority class — did
    * (region, month) revenue cells shift between [[WsrYearA]] and
    * [[WsrYearB]]? The PAIRED nonparametric test (r101 compares two
    * independent samples; here each cell is its own control), the
    * standard year-over-year readout when cell revenues are too skewed
    * for a paired t-test. Zero differences drop (the textbook
    * convention); |d| ranks are tie-averaged.
    *
    * Exactness: differences are exact cents; average ranks are carried
    * DOUBLED (the r92 trick) and computed by the counting method over
    * the per-priority |d| histogram — cum-below and tie counts, no
    * corpus-sized window; W⁺, the tie term Σ(t³−t), and all moments
    * are integers; z is ONE mirrored double expression rounded once.
    * Scale shape: one pass to the (priority, region, month, year)
    * aggregate (bounded by calendar × geography), then
    * priority-partitioned windows over that bounded relation. */
  private val r110: Fn = (s, d) => {
    val yr = year(col("o_orderdate"))
    val cells = orders(s, d)
      .filter(yr === WsrYearA || yr === WsrYearB)
      .join(customer(s, d), col("o_custkey") === col("c_custkey"))
      .join(broadcast(nation(s, d)), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(region(s, d)), col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("o_orderpriority").as("pri"), col("r_name"),
        month(col("o_orderdate")).as("m"))
      .agg(sum(when(yr === WsrYearA, money(col("o_totalprice")) * 100).otherwise(0))
        .cast(LongType).as("ra"),
        sum(when(yr === WsrYearB, money(col("o_totalprice")) * 100).otherwise(0))
          .cast(LongType).as("rb"))
      .withColumn("diff", col("rb") - col("ra"))
      .filter(col("diff") =!= 0)
      .select(col("pri"), abs(col("diff")).as("ad"),
        when(col("diff") > 0, 1L).otherwise(0L).as("pos"))
    val hist = cells.groupBy("pri", "ad")
      .agg(count(lit(1)).as("t"), sum(col("pos")).as("tp"))
    val w = Window.partitionBy("pri").orderBy("ad")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // doubled average rank of the tied block at |d|=ad:
    // 2·avg = 2·cum_below + (t + 1)
    val ranked = hist.withColumn("cum", sum(col("t")).over(w))
      .withColumn("rank2", lit(2) * (col("cum") - col("t")) + col("t") + 1)
    val agg = ranked.groupBy("pri")
      .agg(sum(col("t")).cast(LongType).as("n"),
        // dec-lift (overflow lint): one value-grain rank product / cubic
        // tie term fits in long; the domain sums accumulate in
        // DECIMAL(38,0)
        sum((col("tp") * col("rank2")).cast(DecimalType(38, 0)))
          .cast(LongType).as("w_plus_x2"),
        sum((col("t") * col("t") * col("t") - col("t"))
          .cast(DecimalType(38, 0))).cast(LongType).as("tie_term"))
    val nD = col("n").cast(DoubleType)
    agg.withColumn("z", round(
        (col("w_plus_x2").cast(DoubleType) - nD * (nD + 1.0) / 2.0) /
          sqrt(nD * (nD + 1.0) * (nD * 2.0 + 1.0) / 6.0 -
            col("tie_term").cast(DoubleType) / 12.0), 6))
      .select("pri", "n", "w_plus_x2", "tie_term", "z")
      .orderBy("pri")
  }

  private val r110Sql =
    s"""WITH cells AS (
       |  SELECT o_orderpriority AS pri, r_name, month(o_orderdate) AS m,
       |         CAST(sum(CASE WHEN year(o_orderdate) = $WsrYearA
       |                  THEN CAST(o_totalprice AS DECIMAL(12,2)) * 100 ELSE 0 END) AS BIGINT) AS ra,
       |         CAST(sum(CASE WHEN year(o_orderdate) = $WsrYearB
       |                  THEN CAST(o_totalprice AS DECIMAL(12,2)) * 100 ELSE 0 END) AS BIGINT) AS rb
       |  FROM orders
       |  JOIN customer ON o_custkey = c_custkey
       |  JOIN nation ON c_nationkey = n_nationkey
       |  JOIN region ON n_regionkey = r_regionkey
       |  WHERE year(o_orderdate) IN ($WsrYearA, $WsrYearB)
       |  GROUP BY 1, 2, 3),
       |diffs AS (
       |  SELECT pri, abs(rb - ra) AS ad,
       |         CASE WHEN rb - ra > 0 THEN 1 ELSE 0 END AS pos
       |  FROM cells WHERE rb - ra <> 0),
       |hist AS (SELECT pri, ad, count(*) AS t, sum(pos) AS tp FROM diffs GROUP BY 1, 2),
       |ranked AS (
       |  SELECT pri, ad, t, tp,
       |         2 * (sum(t) OVER (PARTITION BY pri ORDER BY ad
       |                           ROWS UNBOUNDED PRECEDING) - t) + t + 1 AS rank2
       |  FROM hist),
       |agg AS (
       |  SELECT pri, CAST(sum(t) AS BIGINT) AS n,
       |         CAST(sum(tp * rank2) AS BIGINT) AS w_plus_x2,
       |         CAST(sum(t * t * t - t) AS BIGINT) AS tie_term
       |  FROM ranked GROUP BY 1)
       |SELECT pri, n, w_plus_x2, tie_term,
       |       round((CAST(w_plus_x2 AS DOUBLE) - CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) + 1.0) / 2.0) /
       |             sqrt(CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) + 1.0) * (2.0 * CAST(n AS DOUBLE) + 1.0) / 6.0 -
       |                  CAST(tie_term AS DOUBLE) / 12.0), 6) AS z
       |FROM agg
       |ORDER BY 1""".stripMargin

  // ---------------------------------------- p28 curriculum schedule

  val CurrStages = 3
  val CurrBudget = 1000L

  /** p28: curriculum mixing schedule — per training stage, an exact
    * integer sample budget over the quality quartiles, concentrating
    * progressively on the best tier: stage k weighs quartile q (1=worst
    * … 4=best) as qᵏ, so stage 1 is a gentle quality tilt and stage 3
    * all but drains the bottom bins. This is the stage-wise artifact a
    * curriculum trainer consumes (p14 bins documents by quality; p19
    * temperature-mixes SOURCES; p28 schedules the QUALITY axis over
    * training time) — and the integer-conservation discipline is r94's:
    * each stage's allocations are the largest-remainder spread of
    * [[CurrBudget]] over exact rational shares, so every stage sums to
    * the budget by construction, no double ever enters the allocation.
    *
    * Exactness: quartile cuts use the counting method over the n_chars
    * histogram (p14's discipline); weights, floors and remainders are
    * pure integers (remainder comparison: r_q·1 vs r_p — cross-
    * multiplication-free since denominators are equal within a stage);
    * the output share is the one rounded double.
    * Scale shape: one corpus histogram + quartile assignment map-side;
    * everything after runs on the 4-row bin relation crossed with the
    * ≤[[CurrStages]]-row stage grid. */
  private val p28: Fn = (s, d) => {
    val hist = docs(s, d).groupBy(col("n_chars").as("v")).agg(count(lit(1)).as("c"))
    val w = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // quartile of each value by the counting method over the bounded
    // value histogram (p14's idiom — the window input is the n_chars
    // domain, not the corpus; see PlanLintSpec allowlist)
    val tot = hist.agg(sum(col("c")).as("n"))
    val withQ = hist.withColumn("cum", sum(col("c")).over(w))
      .crossJoin(broadcast(tot))
      .withColumn("q", when(col("cum") * 4 <= col("n"), 1L)
        .when(col("cum") * 2 <= col("n"), 2L)
        .when(col("cum") * 4 <= col("n") * 3, 3L)
        .otherwise(4L))
    val bins = withQ.groupBy("q").agg(sum(col("c")).cast(LongType).as("n_bin"))
    val stages = s.sql((1 to CurrStages).map(k => s"($k)").mkString(
      "SELECT * FROM VALUES ", ", ", " AS t(stage)"))
    // exact integer powers (CASE, not pow(): IEEE pow is only 1-ulp
    // accurate and a 26.999… would truncate differently per engine)
    val weighted = bins.crossJoin(broadcast(stages))
      .withColumn("wgt", when(col("stage") === 1, col("q"))
        .when(col("stage") === 2, col("q") * col("q"))
        .otherwise(col("q") * col("q") * col("q")).cast(LongType))
    val totW = weighted.groupBy("stage").agg(sum(col("wgt")).as("wsum"))
    val alloc = weighted.join(broadcast(totW), Seq("stage"))
      .withColumn("floor_alloc", expr(s"CAST(($CurrBudget * wgt) DIV wsum AS BIGINT)"))
      .withColumn("rem", expr(s"($CurrBudget * wgt) % wsum"))
    val wr = Window.partitionBy("stage").orderBy(desc("rem"), desc("q"))
    alloc.withColumn("rr", row_number().over(wr))
      .join(broadcast(alloc.groupBy(col("stage").as("st2"))
          .agg((lit(CurrBudget) - sum(col("floor_alloc"))).as("leftover"))),
        col("stage") === col("st2"))
      .withColumn("alloc", col("floor_alloc") +
        when(col("rr") <= col("leftover"), 1L).otherwise(0L))
      .withColumn("share", round(col("alloc").cast(DoubleType) / CurrBudget.toDouble, 6))
      .select(col("stage").cast(LongType).as("stage"), col("q"), col("n_bin"),
        col("wgt"), col("alloc"), col("share"))
      .orderBy("stage", "q")
  }

  private val p28Sql =
    s"""WITH hist AS (SELECT n_chars AS v, count(*) AS c FROM documents GROUP BY 1),
       |tot AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM hist),
       |withq AS (
       |  SELECT v, c,
       |         CASE WHEN cum * 4 <= n THEN 1
       |              WHEN cum * 2 <= n THEN 2
       |              WHEN cum * 4 <= n * 3 THEN 3
       |              ELSE 4 END AS q
       |  FROM (SELECT v, c, sum(c) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS cum
       |        FROM hist) h, tot),
       |bins AS (SELECT q, CAST(sum(c) AS BIGINT) AS n_bin FROM withq GROUP BY 1),
       |stages AS (SELECT unnest(range(1, ${CurrStages + 1})) AS stage),
       |weighted AS (
       |  SELECT s.stage, b.q, b.n_bin,
       |         CAST(CASE WHEN s.stage = 1 THEN b.q
       |                   WHEN s.stage = 2 THEN b.q * b.q
       |                   ELSE b.q * b.q * b.q END AS BIGINT) AS wgt
       |  FROM bins b CROSS JOIN stages s),
       |totw AS (SELECT stage, sum(wgt) AS wsum FROM weighted GROUP BY 1),
       |alloc AS (
       |  SELECT w.stage, w.q, w.n_bin, w.wgt,
       |         ($CurrBudget * w.wgt) // t.wsum AS floor_alloc,
       |         ($CurrBudget * w.wgt) % t.wsum AS rem
       |  FROM weighted w JOIN totw t ON w.stage = t.stage),
       |left_ AS (SELECT stage, $CurrBudget - sum(floor_alloc) AS leftover
       |          FROM alloc GROUP BY 1),
       |ranked AS (
       |  SELECT a.*, l.leftover,
       |         row_number() OVER (PARTITION BY a.stage ORDER BY a.rem DESC, a.q DESC) AS rr
       |  FROM alloc a JOIN left_ l ON a.stage = l.stage)
       |SELECT CAST(stage AS BIGINT) AS stage, q, n_bin, wgt,
       |       CAST(floor_alloc + CASE WHEN rr <= leftover THEN 1 ELSE 0 END AS BIGINT) AS alloc,
       |       round(CAST(floor_alloc + CASE WHEN rr <= leftover THEN 1 ELSE 0 END AS DOUBLE)
       |             / $CurrBudget, 6) AS share
       |FROM ranked
       |ORDER BY stage, q""".stripMargin

  // ---------------------------------------- r111 sample-ratio mismatch

  /** r111: sample-ratio-mismatch (SRM) guardrail — before reading ANY
    * A/B result (r71's z-test, r103's permutation test), check that the
    * deterministic 50/50 hash assignment actually landed 50/50 overall
    * and within every event-type segment: a skewed split means the
    * assignment or logging pipeline is broken and every downstream
    * readout is invalid. The χ² here is the 1-df equality-of-counts
    * test, flagged at 3.84 (α=0.05).
    *
    * Exactness: assignment is the portable md5 coin on user_id; counts
    * are integers; χ² = (na−nb)²/(na+nb) is one mirrored double
    * division rounded once.
    * Scale shape: one keyed aggregation per segment over the
    * (user, segment) distinct relation — guardrail cost is one scan. */
  private val r111: Fn = (s, d) => {
    val assigned = events(s, d)
      .select(col("user_id"), col("event_type"))
      .distinct()
      .withColumn("grp", md5Prefix(concat(lit("ab:"), col("user_id")), 8) % 2)
    val bySeg = assigned.groupBy(col("event_type").as("segment"))
      .agg(sum(when(col("grp") === 0, 1L).otherwise(0L)).cast(LongType).as("na"),
        sum(when(col("grp") === 1, 1L).otherwise(0L)).cast(LongType).as("nb"))
    val overall = assigned.select(col("user_id"), col("grp")).distinct()
      .agg(sum(when(col("grp") === 0, 1L).otherwise(0L)).cast(LongType).as("na"),
        sum(when(col("grp") === 1, 1L).otherwise(0L)).cast(LongType).as("nb"))
      .select(lit("_overall").as("segment"), col("na"), col("nb"))
    bySeg.unionByName(overall)
      .withColumn("chi2", round(
        ((col("na") - col("nb")) * (col("na") - col("nb"))).cast(DoubleType) /
          (col("na") + col("nb")).cast(DoubleType), 6))
      .withColumn("srm_flag", col("chi2") > 3.84)
      .select("segment", "na", "nb", "chi2", "srm_flag")
      .orderBy("segment")
  }

  private val r111Sql =
    s"""WITH assigned AS (
      |  SELECT DISTINCT user_id, event_type,
      |         ${md5PrefixSql("concat('ab:', user_id)", 8)} % 2 AS grp
      |  FROM events),
      |byseg AS (
      |  SELECT event_type AS segment,
      |         CAST(sum(CASE WHEN grp = 0 THEN 1 ELSE 0 END) AS BIGINT) AS na,
      |         CAST(sum(CASE WHEN grp = 1 THEN 1 ELSE 0 END) AS BIGINT) AS nb
      |  FROM assigned GROUP BY 1),
      |overall AS (
      |  SELECT '_overall' AS segment,
      |         CAST(sum(CASE WHEN grp = 0 THEN 1 ELSE 0 END) AS BIGINT) AS na,
      |         CAST(sum(CASE WHEN grp = 1 THEN 1 ELSE 0 END) AS BIGINT) AS nb
      |  FROM (SELECT DISTINCT user_id, grp FROM assigned) u),
      |unioned AS (SELECT * FROM byseg UNION ALL SELECT * FROM overall)
      |SELECT segment, na, nb,
      |       round(CAST((na - nb) * (na - nb) AS DOUBLE) / CAST(na + nb AS DOUBLE), 6) AS chi2,
      |       round(CAST((na - nb) * (na - nb) AS DOUBLE) / CAST(na + nb AS DOUBLE), 6) > 3.84 AS srm_flag
      |FROM unioned
      |ORDER BY segment""".stripMargin

  val all: Seq[Q] = Seq(
    Q("r110_wilcoxon", r110, Some(r110Sql)),
    Q("p28_curriculum_schedule", p28, Some(p28Sql)),
    Q("r111_srm_check", r111, Some(r111Sql)))
}
