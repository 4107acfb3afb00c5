package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType, IntegerType, LongType}
import graft.Tables
import graft.functions.PortableHash.md5PrefixSql
import graft.functions.{DetHash, VectorOps}
import graft.queries.Relational.{Fn, Q}

/** Round-9 batch 34: effect sizes, drift, and data contracts — the
  * epidemiologist's 2×2 effect-size row (odds ratio with its Wald CI),
  * embedding-space drift via s04's fixed-point centroids, a
  * declarative expectation suite (the great-expectations surface as
  * ONE query), Horvitz–Thompson cluster sampling graded against the
  * known total, and empirical-Bayes rate shrinkage.
  */
object ExtraQueries32 {

  private def docs(s: SparkSession, d: String): DataFrame = Tables.documents(s, d)

  // --------------------- r130 odds ratio / relative risk

  /** r130: odds ratio + relative risk for a 2×2 design (user-id-parity
    * cohort × purchase outcome) — the effect-size row every experiment
    * readout needs next to r71's p-value and r129's CI: OR = ad/bc
    * with the Wald interval exp(ln OR ± 1.96·√(1/a+1/b+1/c+1/d)), and
    * RR = (a/(a+b))/(c/(c+d)) for the readers who think in risks.
    *
    * Exactness: the 2×2 cells are one conditional-aggregation pass of
    * BIGINTs; OR/RR/CI are short chains of IEEE ops (ln, sqrt, exp) on
    * identical doubles — both engines agree bit-for-bit, rounded 4dp.
    * Scale shape: one map pass, 1-row close. */
  private val r130: Fn = (s, d) => {
    val isA = pmod(col("user_id"), lit(2)) === 0
    val isP = col("event_type") === "purchase"
    Tables.events(s, d)
      .agg(
        sum(when(isA && isP, 1L).otherwise(0L)).cast(LongType).as("a"),
        sum(when(isA && !isP, 1L).otherwise(0L)).cast(LongType).as("b"),
        sum(when(!isA && isP, 1L).otherwise(0L)).cast(LongType).as("c"),
        sum(when(!isA && !isP, 1L).otherwise(0L)).cast(LongType).as("d"))
      .withColumn("or_", (col("a") * col("d")).cast(DoubleType) /
        (col("b") * col("c")).cast(DoubleType))
      .withColumn("se", sqrt(lit(1.0) / col("a") + lit(1.0) / col("b") +
        lit(1.0) / col("c") + lit(1.0) / col("d")))
      .select(col("a"), col("b"), col("c"), col("d"),
        round(col("or_"), 4).as("odds_ratio"),
        round(exp(log(col("or_")) - lit(1.96) * col("se")), 4).as("or_lo95"),
        round(exp(log(col("or_")) + lit(1.96) * col("se")), 4).as("or_hi95"),
        round((col("a").cast(DoubleType) / (col("a") + col("b")).cast(DoubleType)) /
          (col("c").cast(DoubleType) / (col("c") + col("d")).cast(DoubleType)), 4)
          .as("relative_risk"))
  }
  private val r130Sql =
    """WITH cells AS (
      |  SELECT
      |    CAST(sum(CASE WHEN user_id % 2 = 0 AND event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS a,
      |    CAST(sum(CASE WHEN user_id % 2 = 0 AND event_type <> 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS b,
      |    CAST(sum(CASE WHEN user_id % 2 <> 0 AND event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS c,
      |    CAST(sum(CASE WHEN user_id % 2 <> 0 AND event_type <> 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS d
      |  FROM events)
      |SELECT a, b, c, d,
      |       round(CAST(a * d AS DOUBLE) / CAST(b * c AS DOUBLE), 4) AS odds_ratio,
      |       round(exp(ln(CAST(a * d AS DOUBLE) / CAST(b * c AS DOUBLE)) -
      |                 1.96 * sqrt(1.0 / a + 1.0 / b + 1.0 / c + 1.0 / d)), 4) AS or_lo95,
      |       round(exp(ln(CAST(a * d AS DOUBLE) / CAST(b * c AS DOUBLE)) +
      |                 1.96 * sqrt(1.0 / a + 1.0 / b + 1.0 / c + 1.0 / d)), 4) AS or_hi95,
      |       round((CAST(a AS DOUBLE) / CAST(a + b AS DOUBLE)) /
      |             (CAST(c AS DOUBLE) / CAST(c + d AS DOUBLE)), 4) AS relative_risk
      |FROM cells""".stripMargin

  // --------------------- s37 embedding centroid drift

  /** s37: embedding centroid DRIFT with its alarm threshold calibrated
    * in-query — the vector-space drift monitor u10's scalar PSI cannot
    * provide. Per label, TWO cosines: `healthy_cos` between two 90%
    * snapshots sharing 80% of rows (vec_id%10 bands — the realistic
    * reingest diff; ≈0.82–0.94 here), and `null_cos` between DISJOINT
    * parity halves (what "no shared mass" looks like on this
    * embedding — ≈0 because the fixture labels are weak clusters). A
    * monitor without its null is uninterpretable; the gap between the
    * columns IS the detection margin, and the spec pins healthy >
    * null for every label.
    *
    * Exactness: centroids use s04's fixed-point discipline (each float
    * scaled to a 1e-9 long, truncated — summation order cannot move
    * the sum), components are single divisions of exact operands,
    * arrays assemble in pos order, and each cosine is a sequential
    * fold over identical doubles. Scale shape: one membership-exploded
    * posexplode shuffle at the (label, group, pos) grain (≤4× the
    * vector mass), label-grain assembly (#labels × dim rows),
    * |labels|-row close. */
  private val s37: Fn = (s, d) => {
    val grpTags = array(
      when(pmod(col("vec_id"), lit(10)) < 9, "A"),
      when(pmod(col("vec_id"), lit(10)) > 0, "B"),
      when(pmod(col("vec_id"), lit(2)) === 0, "H0").otherwise("H1"))
    val comp = Tables.embeddings(s, d)
      .select(col("label"), explode(filter(grpTags, t => t.isNotNull)).as("grp"),
        col("embedding"))
      .select(col("label"), col("grp"), posexplode(col("embedding")).as(Seq("pos", "x")))
      .groupBy("label", "grp", "pos")
      .agg(sum((col("x").cast(DoubleType) * lit(1e9)).cast(LongType)).as("cfp"),
        count(lit(1)).as("cnt"))
      .withColumn("c", col("cfp").cast(DoubleType) / 1e9 / col("cnt").cast(DoubleType))
    val cents = comp.groupBy("label", "grp")
      .agg(max(col("cnt")).cast(LongType).as("n"),
        transform(array_sort(collect_list(struct(col("pos"), col("c")))),
          e => e.getField("c")).as("centroid"))
    def side(g: String, nn: String, cc: String): DataFrame =
      cents.filter(col("grp") === g)
        .select(col("label").as(s"label_$g"), col("n").as(nn), col("centroid").as(cc))
    side("A", "n_a", "ca")
      .join(side("B", "n_b", "cb"), col("label_A") === col("label_B"))
      .join(side("H0", "n_h0", "c0"), col("label_A") === col("label_H0"))
      .join(side("H1", "n_h1", "c1"), col("label_A") === col("label_H1"))
      .select(col("label_A").as("label"), col("n_a"), col("n_b"),
        // cosineBuiltin, not the fused expression: centroids are DOUBLE
        // arrays and the built-in fold matches list_dot_product's
        // sequential order
        round(VectorOps.cosineBuiltin(col("ca"), col("cb")), 6).as("healthy_cos"),
        round(VectorOps.cosineBuiltin(col("c0"), col("c1")), 6).as("null_cos"))
      .orderBy("label")
  }
  private val s37Sql =
    s"""WITH comp AS (
      |  SELECT label, grp, i - 1 AS pos,
      |         CAST(sum(CAST(trunc(CAST(embedding[i] AS DOUBLE) * 1e9) AS BIGINT)) AS DOUBLE)
      |           / 1e9 / count(*) AS c,
      |         CAST(count(*) AS BIGINT) AS cnt
      |  FROM (
      |    SELECT e.label, e.embedding, g.grp FROM embeddings e
      |    JOIN (SELECT unnest(ARRAY['A','B','H0','H1']) AS grp) g
      |      ON (g.grp = 'A' AND e.vec_id % 10 < 9) OR (g.grp = 'B' AND e.vec_id % 10 > 0)
      |      OR (g.grp = 'H0' AND e.vec_id % 2 = 0) OR (g.grp = 'H1' AND e.vec_id % 2 = 1)) s,
      |    range(1, ${SimilarityQueries.Dim + 1}) t(i)
      |  GROUP BY 1, 2, 3),
      |cents AS (
      |  SELECT label, grp, max(cnt) AS n, list(c ORDER BY pos) AS centroid
      |  FROM comp GROUP BY 1, 2),
      |cos_ab AS (
      |  SELECT a.label, CAST(a.n AS BIGINT) AS n_a, CAST(b.n AS BIGINT) AS n_b,
      |         round(list_dot_product(a.centroid::DOUBLE[], b.centroid::DOUBLE[]) /
      |               sqrt(list_dot_product(a.centroid::DOUBLE[], a.centroid::DOUBLE[]) *
      |                    list_dot_product(b.centroid::DOUBLE[], b.centroid::DOUBLE[])), 6)
      |           AS healthy_cos
      |  FROM cents a JOIN cents b ON a.label = b.label AND a.grp = 'A' AND b.grp = 'B'),
      |cos_h AS (
      |  SELECT a.label,
      |         round(list_dot_product(a.centroid::DOUBLE[], b.centroid::DOUBLE[]) /
      |               sqrt(list_dot_product(a.centroid::DOUBLE[], a.centroid::DOUBLE[]) *
      |                    list_dot_product(b.centroid::DOUBLE[], b.centroid::DOUBLE[])), 6)
      |           AS null_cos
      |  FROM cents a JOIN cents b ON a.label = b.label AND a.grp = 'H0' AND b.grp = 'H1')
      |SELECT ab.label, ab.n_a, ab.n_b, ab.healthy_cos, h.null_cos
      |FROM cos_ab ab JOIN cos_h h ON ab.label = h.label
      |ORDER BY ab.label""".stripMargin

  // --------------------- u35 declarative expectation suite

  val MinRows = 100L
  val MaxChars = 10000L
  val ExpectedSources = 20L

  /** u35: declarative EXPECTATION suite — the great-expectations
    * surface as ONE query: each output row is a named check with its
    * observed value, threshold, and verdict, so a scheduler can gate a
    * release on `bool_and(passed)` and a human can read WHY it failed.
    * The suite deliberately contains a check that FAILS on this corpus
    * (`no_dup_prefixes`: the dedup fixtures plant prefix families) —
    * a DQ harness whose red path is never exercised is worse than no
    * harness.
    *
    * Exactness: every observation is a BIGINT from one conditional
    * aggregation pass (plus one dup-family window, the d01 class);
    * verdicts are integer comparisons. Scale shape: one corpus pass
    * computes all observations in a single 1-row aggregate, then a
    * constant-width unpivot — checks never rescan. */
  private val u35: Fn = (s, d) => {
    val langs = Seq("en", "es", "de", "fr", "zh").map(l => s"'$l'").mkString(", ")
    val base = docs(s, d)
      .withColumn("duprk", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(md5(substring(col("text"), 1, 100))).orderBy("doc_id")))
    val obs = base.agg(
      count(lit(1)).cast(LongType).as("n_rows"),
      (count(lit(1)) - countDistinct(col("doc_id"))).cast(LongType).as("pk_dups"),
      sum(when(col("text").isNull, 1L).otherwise(0L)).cast(LongType).as("null_text"),
      sum(when(col("n_chars") < 1 || col("n_chars") > MaxChars, 1L).otherwise(0L))
        .cast(LongType).as("len_out_of_range"),
      sum(when(!col("lang").isin("en", "es", "de", "fr", "zh"), 1L).otherwise(0L))
        .cast(LongType).as("lang_out_of_domain"),
      countDistinct(col("source")).cast(LongType).as("n_sources"),
      sum(when(col("n_chars") =!= length(col("text")), 1L).otherwise(0L))
        .cast(LongType).as("chars_inconsistent"),
      sum(when(col("duprk") > 1, 1L).otherwise(0L)).cast(LongType).as("dup_prefixes"))
    obs.select(expr(
      s"""stack(8,
         |  'chars_match_text',   chars_inconsistent, 0L,               chars_inconsistent = 0,
         |  'dup_prefixes_zero',  dup_prefixes,       0L,               dup_prefixes = 0,
         |  'lang_in_domain',     lang_out_of_domain, 0L,               lang_out_of_domain = 0,
         |  'len_in_range',       len_out_of_range,   0L,               len_out_of_range = 0,
         |  'min_row_count',      n_rows,             ${MinRows}L,      n_rows >= ${MinRows}L,
         |  'pk_unique',          pk_dups,            0L,               pk_dups = 0,
         |  'source_cardinality', n_sources,          ${ExpectedSources}L, n_sources = ${ExpectedSources}L,
         |  'text_not_null',      null_text,          0L,               null_text = 0
         |) AS (check_name, observed, threshold, passed)""".stripMargin))
      .orderBy("check_name")
  }
  private val u35Sql =
    s"""WITH base AS (
       |  SELECT *, row_number() OVER (PARTITION BY md5(substring(text, 1, 100))
       |                               ORDER BY doc_id) AS duprk
       |  FROM documents),
       |obs AS (
       |  SELECT CAST(count(*) AS BIGINT) AS n_rows,
       |         CAST(count(*) - count(DISTINCT doc_id) AS BIGINT) AS pk_dups,
       |         CAST(sum(CASE WHEN text IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_text,
       |         CAST(sum(CASE WHEN n_chars < 1 OR n_chars > $MaxChars THEN 1 ELSE 0 END) AS BIGINT) AS len_out_of_range,
       |         CAST(sum(CASE WHEN lang NOT IN ('en','es','de','fr','zh') THEN 1 ELSE 0 END) AS BIGINT) AS lang_out_of_domain,
       |         CAST(count(DISTINCT source) AS BIGINT) AS n_sources,
       |         CAST(sum(CASE WHEN n_chars <> length(text) THEN 1 ELSE 0 END) AS BIGINT) AS chars_inconsistent,
       |         CAST(sum(CASE WHEN duprk > 1 THEN 1 ELSE 0 END) AS BIGINT) AS dup_prefixes
       |  FROM base)
       |SELECT * FROM (
       |  SELECT 'chars_match_text' AS check_name, chars_inconsistent AS observed,
       |         CAST(0 AS BIGINT) AS threshold, chars_inconsistent = 0 AS passed FROM obs
       |  UNION ALL SELECT 'dup_prefixes_zero', dup_prefixes, 0, dup_prefixes = 0 FROM obs
       |  UNION ALL SELECT 'lang_in_domain', lang_out_of_domain, 0, lang_out_of_domain = 0 FROM obs
       |  UNION ALL SELECT 'len_in_range', len_out_of_range, 0, len_out_of_range = 0 FROM obs
       |  UNION ALL SELECT 'min_row_count', n_rows, $MinRows, n_rows >= $MinRows FROM obs
       |  UNION ALL SELECT 'pk_unique', pk_dups, 0, pk_dups = 0 FROM obs
       |  UNION ALL SELECT 'source_cardinality', n_sources, $ExpectedSources, n_sources = $ExpectedSources FROM obs
       |  UNION ALL SELECT 'text_not_null', null_text, 0, null_text = 0 FROM obs) t
       |ORDER BY check_name""".stripMargin

  // --------------------- p39 Horvitz–Thompson cluster sampling

  val FamRate = 300 // of 1000

  /** p39: CLUSTER sampling with the Horvitz–Thompson correction,
    * graded against the known total — the r124 discipline applied to
    * the sampling design dedup forces on you: near-identical docs
    * (d01/d26 prefix families) must travel TOGETHER through a sample
    * (splitting a family across sample/rest leaks), so the sampling
    * unit is the FAMILY, each drawn by an md5 coin at π =
    * [[FamRate]]/1000, and the corpus-size estimate is the HT
    * estimator Σ(size)/π over sampled families.
    *
    * Exactness: family sizes and sampled counts are BIGINT; the
    * estimate is ONE division by the exact rational π; the error one
    * more. Scale shape: one hash-grain family aggregate, coin flags on
    * the family relation (never the corpus), 1-row close. */
  private val p39: Fn = (s, d) => {
    val fams = docs(s, d)
      .groupBy(md5(substring(col("text"), 1, 100)).as("h"))
      .agg(count(lit(1)).as("fam_size"))
      .withColumn("coin",
        pmod(DetHash.coin(col("h"), "fam:"), lit(1000)))
      .withColumn("sampled", col("coin") < FamRate)
    fams.agg(
      count(lit(1)).cast(LongType).as("n_families"),
      sum(col("fam_size")).cast(LongType).as("true_total"),
      sum(when(col("sampled"), 1L).otherwise(0L)).cast(LongType).as("n_sampled_fams"),
      sum(when(col("sampled"), col("fam_size")).otherwise(0L)).cast(LongType)
        .as("n_sampled_docs"))
      .withColumn("ht_estimate",
        round(col("n_sampled_docs").cast(DoubleType) * 1000.0 / FamRate, 2))
      .withColumn("rel_err",
        round((col("ht_estimate") - col("true_total")) / col("true_total").cast(DoubleType), 4))
      .select("n_families", "true_total", "n_sampled_fams", "n_sampled_docs",
        "ht_estimate", "rel_err")
  }
  private val p39Sql =
    s"""WITH fams AS (
       |  SELECT md5(substring(text, 1, 100)) AS h, CAST(count(*) AS BIGINT) AS fam_size
       |  FROM documents GROUP BY 1),
       |flagged AS (
       |  SELECT fam_size,
       |         CAST(${md5PrefixSql("concat('fam:', h)", 6)} % 1000 AS BIGINT)
       |           < $FamRate AS sampled
       |  FROM fams),
       |agg AS (
       |  SELECT CAST(count(*) AS BIGINT) AS n_families,
       |         CAST(sum(fam_size) AS BIGINT) AS true_total,
       |         CAST(sum(CASE WHEN sampled THEN 1 ELSE 0 END) AS BIGINT) AS n_sampled_fams,
       |         CAST(sum(CASE WHEN sampled THEN fam_size ELSE 0 END) AS BIGINT) AS n_sampled_docs
       |  FROM flagged)
       |SELECT n_families, true_total, n_sampled_fams, n_sampled_docs,
       |       round(CAST(n_sampled_docs AS DOUBLE) * 1000.0 / $FamRate, 2) AS ht_estimate,
       |       round((round(CAST(n_sampled_docs AS DOUBLE) * 1000.0 / $FamRate, 2) - true_total)
       |             / CAST(true_total AS DOUBLE), 4) AS rel_err
       |FROM agg""".stripMargin

  // --------------------- r131 empirical-Bayes rate shrinkage

  /** r131: empirical-Bayes SHRINKAGE of per-user purchase rates toward
    * the population — the small-n smoothing every per-entity dashboard
    * needs (a 3-event user's 33% "rate" is noise): method-of-moments
    * Beta prior (α, β) from the user-rate mean/variance, posterior
    * rate (α + x)/(α + β + n) per user. Users with few events move
    * far toward the prior mean; heavy users barely move — the law the
    * spec pins.
    *
    * Exactness: per-user rates lift to the 1e-6 micro grid (one
    * rounded division of BIGINTs each); the moment mean and the exact
    * variance numerator N·Σr² − (Σr)² lift every squared-micro
    * product to DECIMAL(38,0) BEFORE multiplying (the p38 discipline
    * — r² ≈ 10¹² per user, so Σr² wraps a silent non-ANSI BIGINT past
    * ~10⁷ users while DuckDB promotes to HUGEINT); the α/β/posterior
    * chain is IEEE ops on identical doubles, rounded 4dp. Scale
    * shape: one user-grain conditional aggregate, a broadcast 1-row
    * prior join, user-grain close. */
  private val r131: Fn = (s, d) => {
    val per = Tables.events(s, d)
      .groupBy("user_id")
      .agg(count(lit(1)).cast(LongType).as("n"),
        sum(when(col("event_type") === "purchase", 1L).otherwise(0L)).cast(LongType).as("x"))
      .withColumn("r_micro",
        round(col("x") * 1000000 / col("n").cast(DoubleType)).cast(LongType))
    def dec(c: Column): Column = c.cast(DecimalType(38, 0))
    val prior = per.agg(
      count(lit(1)).cast(LongType).as("nu"),
      sum(col("r_micro")).cast(LongType).as("sr"),
      sum(dec(col("r_micro")) * dec(col("r_micro"))).as("sr2"))
      .withColumn("m", col("sr").cast(DoubleType) / col("nu").cast(DoubleType) / 1e6)
      .withColumn("v",
        (dec(col("nu")) * col("sr2") - dec(col("sr")) * dec(col("sr"))).cast(DoubleType) /
          (col("nu") * (col("nu") - 1)).cast(DoubleType) / 1e12)
      .withColumn("k", col("m") * (lit(1.0) - col("m")) / col("v") - 1.0)
      .select((col("m") * col("k")).as("alpha"),
        ((lit(1.0) - col("m")) * col("k")).as("beta"), col("m").as("prior_mean"))
    per.crossJoin(broadcast(prior))
      .select(col("user_id"), col("n"), col("x"),
        round(col("x").cast(DoubleType) / col("n").cast(DoubleType), 4).as("raw_rate"),
        round((col("alpha") + col("x")) / (col("alpha") + col("beta") + col("n")), 4)
          .as("shrunk_rate"),
        round(col("prior_mean"), 4).as("prior_mean"))
      .orderBy("user_id")
  }
  private val r131Sql =
    """WITH per AS (
      |  SELECT user_id, CAST(count(*) AS BIGINT) AS n,
      |         CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS x
      |  FROM events GROUP BY 1),
      |micro AS (
      |  SELECT *, CAST(round(x * 1000000 / CAST(n AS DOUBLE)) AS BIGINT) AS r_micro FROM per),
      |prior AS (
      |  SELECT m * k AS alpha, (1.0 - m) * k AS beta, m AS prior_mean FROM (
      |    SELECT m, v, m * (1.0 - m) / v - 1.0 AS k FROM (
      |      SELECT CAST(sum(r_micro) AS DOUBLE) / CAST(count(*) AS DOUBLE) / 1e6 AS m,
      |             CAST(count(*) * sum(CAST(r_micro AS HUGEINT) * CAST(r_micro AS HUGEINT))
      |                  - sum(r_micro) * sum(r_micro) AS DOUBLE)
      |             / CAST(count(*) * (count(*) - 1) AS DOUBLE) / 1e12 AS v
      |      FROM micro) t0) t1)
      |SELECT user_id, n, x,
      |       round(CAST(x AS DOUBLE) / CAST(n AS DOUBLE), 4) AS raw_rate,
      |       round((p.alpha + x) / (p.alpha + p.beta + n), 4) AS shrunk_rate,
      |       round(p.prior_mean, 4) AS prior_mean
      |FROM micro CROSS JOIN prior p
      |ORDER BY user_id""".stripMargin

  val all: Seq[Q] = Seq(
    Q("r130_odds_ratio", r130, Some(r130Sql)),
    Q("s37_centroid_drift", s37, Some(s37Sql)),
    Q("u35_expectation_suite", u35, Some(u35Sql)),
    Q("p39_cluster_sampling", p39, Some(p39Sql)),
    Q("r131_eb_shrinkage", r131, Some(r131Sql)))
}
