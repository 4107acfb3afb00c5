package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType, IntegerType, LongType, StringType}
import graft.Tables
import graft.functions.PortableHash.{md5Prefix, md5PrefixSql}
import graft.queries.Relational.{Fn, Q}

/** Round-9 batch 33: agreement, privacy, and mixture closers — the
  * bootstrap DIFFERENCE test r123's machinery was built for, Cohen's
  * kappa over the t07/t22 language confusion, the l-diversity audit
  * that completes u06's k-anonymity pair, the shingle-size knob swept
  * (the last unswept minhash constant), and the temperature-mixture
  * knob swept on IEEE-exact dyadic exponents.
  */
object ExtraQueries31 {

  private def docs(s: SparkSession, d: String): DataFrame = Tables.documents(s, d)

  // --------------------- r129 Poisson-bootstrap difference test

  /** r129: bootstrap DIFFERENCE-of-means test (purchase vs view event
    * value) — what r123's one-pass Poisson machinery exists FOR: the
    * A/B answer when r71's z-test normality assumption is in doubt.
    * The same [[ExtraQueries26.PoisThresholds]] integer coins (fresh
    * 'bdiff:' salt) weight BOTH groups per replicate; each replicate
    * yields mean_A − mean_B, and the counting-method 4th/61st order
    * statistics of the 64 diffs bound the 90% CI (named lo90/hi90 —
    * the 5th/95th percentile bounds); the interval excluding zero is
    * the decision.
    *
    * Exactness: the full r123 discipline — integer md5-threshold
    * weights (8 replicates per hash), DECIMAL(18,2) weighted sums, one
    * double division per (group, replicate), diffs are IEEE
    * subtractions of identical doubles, order statistics by
    * (diff, b). Scale shape: ONE explode×B map pass over the filtered
    * two-group relation with map-side partial aggregation, a 2×64-row
    * pivot, rank windows over exactly 64 rows (PlanLint AggBounded). */
  private val r129: Fn = (s, d) => {
    import ExtraQueries26.{BootB, BootRepsPerHash, PoisThresholds}
    val w = PoisThresholds.foldLeft(lit(0)) { (acc, t) =>
      acc + when(col("u") >= t, 1).otherwise(0)
    }
    val groups = Tables.events(s, d)
      .filter(col("event_type") === "purchase" || col("event_type") === "view")
      .select(col("event_id"), col("event_type"),
        col("value").cast(DecimalType(18, 2)).as("v"))
    val reps = groups
      .withColumn("g", explode(sequence(lit(0), lit(BootB / BootRepsPerHash - 1))))
      .withColumn("hg", md5(concat(lit("bdiff:"), col("g").cast(StringType),
        lit(":"), col("event_id").cast(StringType))))
      .withColumn("s8", explode(sequence(lit(0), lit(BootRepsPerHash - 1))))
      .withColumn("b", col("g") * BootRepsPerHash + col("s8"))
      .withColumn("u", conv(expr("substring(hg, s8 * 4 + 1, 4)"), 16, 10).cast(LongType))
      .withColumn("w", w)
      .groupBy("b")
      .agg(
        (sum(when(col("event_type") === "purchase", col("w") * col("v"))).cast(DoubleType) /
          sum(when(col("event_type") === "purchase", col("w")).otherwise(0)).cast(DoubleType))
          .as("mean_a"),
        (sum(when(col("event_type") === "view", col("w") * col("v"))).cast(DoubleType) /
          sum(when(col("event_type") === "view", col("w")).otherwise(0)).cast(DoubleType))
          .as("mean_b"))
      .withColumn("diff", col("mean_a") - col("mean_b"))
    val wrk = Window.orderBy(col("diff"), col("b"))
    val loRk = 4L; val hiRk = 61L // ceil(.05*64), ceil(.95*64)
    val ci = reps.withColumn("rk", row_number().over(wrk))
      .filter(col("rk") === loRk || col("rk") === hiRk)
      .agg(min(when(col("rk") === loRk, col("diff"))).as("lo90"),
        min(when(col("rk") === hiRk, col("diff"))).as("hi90"))
    val point = groups.agg(
      sum(when(col("event_type") === "purchase", 1L).otherwise(0L)).cast(LongType).as("n_a"),
      sum(when(col("event_type") === "view", 1L).otherwise(0L)).cast(LongType).as("n_b"),
      (sum(when(col("event_type") === "purchase", col("v"))).cast(DoubleType) /
        sum(when(col("event_type") === "purchase", 1).otherwise(0)).cast(DoubleType) -
        sum(when(col("event_type") === "view", col("v"))).cast(DoubleType) /
          sum(when(col("event_type") === "view", 1).otherwise(0)).cast(DoubleType))
        .as("point_diff"))
    point.crossJoin(ci)
      .select(col("n_a"), col("n_b"), round(col("point_diff"), 4).as("point_diff"),
        round(col("lo90"), 4).as("lo90"), round(col("hi90"), 4).as("hi90"),
        (col("lo90") > 0.0 || col("hi90") < 0.0).as("excludes_zero"))
  }
  private val r129Sql = {
    import ExtraQueries26.{BootB, BootRepsPerHash, PoisThresholds}
    val wCase = PoisThresholds
      .map(t => s"CASE WHEN u >= $t THEN 1 ELSE 0 END").mkString(" + ")
    s"""WITH groups AS (
       |  SELECT event_id, event_type, CAST(value AS DECIMAL(18,2)) AS v
       |  FROM events WHERE event_type IN ('purchase', 'view')),
       |reps AS (
       |  SELECT b,
       |         CAST(sum(CASE WHEN event_type = 'purchase' THEN w * v END) AS DOUBLE) /
       |           CAST(sum(CASE WHEN event_type = 'purchase' THEN w ELSE 0 END) AS DOUBLE)
       |           AS mean_a,
       |         CAST(sum(CASE WHEN event_type = 'view' THEN w * v END) AS DOUBLE) /
       |           CAST(sum(CASE WHEN event_type = 'view' THEN w ELSE 0 END) AS DOUBLE)
       |           AS mean_b
       |  FROM (
       |    SELECT event_type, b, v, $wCase AS w
       |    FROM (
       |      SELECT e.event_id, e.event_type, e.v,
       |             gs.g * $BootRepsPerHash + ss.s8 AS b,
       |             CAST(concat('0x', substring(md5(concat('bdiff:', CAST(gs.g AS VARCHAR),
       |                  ':', CAST(e.event_id AS VARCHAR))), ss.s8 * 4 + 1, 4)) AS BIGINT) AS u
       |      FROM groups e
       |      CROSS JOIN (SELECT range AS g FROM range(0, ${BootB / BootRepsPerHash}) ) gs
       |      CROSS JOIN (SELECT range AS s8 FROM range(0, $BootRepsPerHash)) ss) t0) t1
       |  GROUP BY 1),
       |ranked AS (
       |  SELECT mean_a - mean_b AS diff,
       |         row_number() OVER (ORDER BY mean_a - mean_b, b) AS rk
       |  FROM reps),
       |ci AS (
       |  SELECT min(CASE WHEN rk = 4 THEN diff END) AS lo90,
       |         min(CASE WHEN rk = 61 THEN diff END) AS hi90
       |  FROM ranked WHERE rk = 4 OR rk = 61),
       |point AS (
       |  SELECT CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
       |         CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
       |         CAST(sum(CASE WHEN event_type = 'purchase' THEN v END) AS DOUBLE) /
       |           CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS DOUBLE) -
       |         CAST(sum(CASE WHEN event_type = 'view' THEN v END) AS DOUBLE) /
       |           CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS DOUBLE)
       |           AS point_diff
       |  FROM groups)
       |SELECT p.n_a, p.n_b, round(p.point_diff, 4) AS point_diff,
       |       round(c.lo90, 4) AS lo90, round(c.hi90, 4) AS hi90,
       |       (c.lo90 > 0.0 OR c.hi90 < 0.0) AS excludes_zero
       |FROM point p CROSS JOIN ci c""".stripMargin
  }

  // --------------------- t45 Cohen's kappa for the langid heuristic

  /** t45: Cohen's KAPPA between the t07 stopword-voting guess and the
    * stored label — the single-number summary of t22's confusion
    * matrix, with chance agreement priced out: κ = (p_o − p_e)/(1 −
    * p_e). The form that ships here is the all-integer one —
    * κ = (n·Σdiag − Σ_c row_c·col_c) / (n² − Σ_c row_c·col_c) — so
    * both engines divide the same BIGINTs exactly once.
    *
    * Exactness: confusion cells, marginals and the cross term are
    * BIGINT (classes absent from one marginal COALESCE to 0 via a
    * full outer join on the class union); p_o/p_e/κ are rounded
    * divisions of exact integers. Scale shape: one map pass to the
    * (label, guess) confusion grain, class-grain marginal aggregates,
    * 1-row close. */
  private val t45: Fn = (s, d) => {
    val conf = docs(s, d)
      .select(col("lang"), TextQueries.langGuessCol.as("guess"))
      .groupBy("lang", "guess").agg(count(lit(1)).as("c"))
    val rows = conf.groupBy(col("lang").as("cls")).agg(sum(col("c")).as("row_n"))
    val cols = conf.groupBy(col("guess").as("cls")).agg(sum(col("c")).as("col_n"))
    val cross = rows.join(cols, Seq("cls"), "full_outer")
      .select((coalesce(col("row_n"), lit(0L)) * coalesce(col("col_n"), lit(0L))).as("rc"))
      .agg(sum(col("rc")).cast(LongType).as("cross_sum"))
    val diag = conf.agg(
      sum(col("c")).cast(LongType).as("n"),
      sum(when(col("lang") === col("guess"), col("c")).otherwise(0L))
        .cast(LongType).as("diag"))
    diag.crossJoin(cross)
      .select(col("n"), col("diag"), col("cross_sum"),
        round(col("diag").cast(DoubleType) / col("n").cast(DoubleType), 6).as("po"),
        round(col("cross_sum").cast(DoubleType) / (col("n") * col("n")).cast(DoubleType), 6)
          .as("pe"),
        round((col("n") * col("diag") - col("cross_sum")).cast(DoubleType) /
          (col("n") * col("n") - col("cross_sum")).cast(DoubleType), 6).as("kappa"))
  }
  private val t45Sql = {
    val guess = TextQueries.langGuessSqlExpr
    s"""WITH conf AS (
       |  SELECT lang, $guess AS guess, CAST(count(*) AS BIGINT) AS c
       |  FROM documents GROUP BY 1, 2),
       |rows_m AS (SELECT lang AS cls, CAST(sum(c) AS BIGINT) AS row_n FROM conf GROUP BY 1),
       |cols_m AS (SELECT guess AS cls, CAST(sum(c) AS BIGINT) AS col_n FROM conf GROUP BY 1),
       |crossed AS (
       |  SELECT CAST(sum(coalesce(row_n, 0) * coalesce(col_n, 0)) AS BIGINT) AS cross_sum
       |  FROM rows_m FULL OUTER JOIN cols_m USING (cls)),
       |diag AS (
       |  SELECT CAST(sum(c) AS BIGINT) AS n,
       |         CAST(sum(CASE WHEN lang = guess THEN c ELSE 0 END) AS BIGINT) AS diag
       |  FROM conf)
       |SELECT d.n, d.diag, x.cross_sum,
       |       round(CAST(d.diag AS DOUBLE) / CAST(d.n AS DOUBLE), 6) AS po,
       |       round(CAST(x.cross_sum AS DOUBLE) / CAST(d.n * d.n AS DOUBLE), 6) AS pe,
       |       round(CAST(d.n * d.diag - x.cross_sum AS DOUBLE) /
       |             CAST(d.n * d.n - x.cross_sum AS DOUBLE), 6) AS kappa
       |FROM diag d CROSS JOIN crossed x""".stripMargin
  }

  // --------------------- u34 l-diversity audit

  val DiversityL = 3

  /** u34: l-DIVERSITY audit — u06's k-anonymity pair (Machanavajjhala
    * et al., TKDD'07): a class can be k-anonymous yet leak its
    * sensitive attribute if every member SHARES it. Quasi-identifiers
    * here are (lang, 50-char length bucket) — u06's tuple minus the
    * sensitive column, with the finer bucket chosen so BOTH verdicts
    * fire at every SF — and the sensitive attribute is `source`; every
    * class is reported with its size, its distinct-source count l, and
    * the verdict against L = [[DiversityL]].
    *
    * Exactness: pure BIGINT counting (count + count distinct at the
    * class grain). Scale shape: one partial-agg'd groupBy on the QI
    * tuple; only (class, counts) rows shuffle — the u06 shape with a
    * distinct added. */
  private val u34: Fn = (s, d) =>
    docs(s, d)
      .select(col("lang"), (col("n_chars") / 50).cast(LongType).as("len_bucket"),
        col("source"))
      .groupBy("lang", "len_bucket")
      .agg(count(lit(1)).cast(LongType).as("class_size"),
        countDistinct(col("source")).cast(LongType).as("l_distinct"))
      .withColumn("diverse", col("l_distinct") >= DiversityL)
      .orderBy("lang", "len_bucket")
  private val u34Sql =
    s"""SELECT lang, CAST(n_chars // 50 AS BIGINT) AS len_bucket,
       |       CAST(count(*) AS BIGINT) AS class_size,
       |       CAST(count(DISTINCT source) AS BIGINT) AS l_distinct,
       |       count(DISTINCT source) >= $DiversityL AS diverse
       |FROM documents
       |GROUP BY lang, len_bucket
       |ORDER BY lang, len_bucket""".stripMargin

  // --------------------- d32 shingle-size sweep

  val ShingleKs: Seq[Int] = Seq(2, 3, 5)

  /** d32: shingle-SIZE sweep — the last unswept minhash constant (d19
    * swept bands, d31 the fingerprint prefix, d29 the horizon): the
    * shingle width k controls candidate sensitivity, and the evidence
    * per k is the type count, the per-doc distinct shingle mass, and
    * the CANDIDATE-PAIR BOUND Σ_sh d_sh(d_sh−1)/2 (doc pairs sharing a
    * shingle — what a shingle-keyed join would generate before any
    * banding). Small k collides everything; large k only pays bytes —
    * the knee picks production k.
    *
    * Exactness: pure BIGINT counting over doc-DISTINCT shingle KEYS —
    * the type grain is the 60-bit md5-prefix of the shingle (the
    * u36/coin hash idiom), computed identically on both engines, so a
    * key collision (birthday-bounded ~n²/2⁶¹) folds the SAME two
    * types on BOTH sides and parity is exact by construction;
    * duplicates inside a doc can't inflate the pair bound
    * (array_distinct runs on the packed keys). The pair-bound sum
    * lifts each even product dn·(dn−1) to DECIMAL(38,0) BEFORE the
    * sum and halves ONCE (the p38 lift) — a per-row DOUBLE division
    * would be an unordered-FP accumulation past 2⁵³ (DuckDB's twin
    * sums HUGEINTs). Scale shape: per k one map pass (transform →
    * hash-pack → distinct inside the doc — no pair relation is ever
    * built; the bound is PRICED, not materialized), and the
    * shingle-grain reduce shuffles 8-BYTE keys, not multi-word
    * strings — the k=5 grain is mostly unique, so map-side combining cannot
    * shrink the shuffle and key WIDTH is what the wire and the
    * reduce-side hash table actually pay (was the worst sf1 ratio in
    * the round-9 proof at 5.49×). |k|-row close. */
  // Per k one scan, one shingle-mass exchange and one global aggregate,
  // unioned: a global aggregate emits its row on an empty input too
  // (n_types 0, null sums), as each of the oracle's per-k blocks does.
  // Kept per k: one fused (k, sk) exchange measured slower at sf0.1.
  private val d32: Fn = (s, d) => {
    val perK = ShingleKs.map { k =>
      val sp = col("sp")
      val sk = when(size(sp) >= k,
        array_distinct(transform(sequence(lit(1), size(sp) - k + 1),
          i => md5Prefix(concat_ws(" ", slice(sp, i, lit(k))), 15))))
        .otherwise(array())
      docs(s, d).select(split(col("text"), " ").as("sp"))
        .select(explode(sk).as("sk"))
        .groupBy("sk").agg(count(lit(1)).as("dn"))
        .agg(count(lit(1)).cast(LongType).as("n_types"),
          sum(col("dn")).cast(LongType).as("n_doc_shingles"),
          (sum((col("dn") * (col("dn") - 1)).cast(DecimalType(38, 0))) / 2)
            .cast(LongType).as("pair_bound"))
        .select(lit(k).as("k"), col("n_types"), col("n_doc_shingles"), col("pair_bound"))
    }
    perK.reduce(_.unionAll(_)).orderBy("k")
  }
  private val d32Sql = {
    def block(k: Int) = {
      val parts = (0 until k).map(j => s"sp[i + $j]").mkString(" || ' ' || ")
      s"""SELECT $k AS k, CAST(count(*) AS BIGINT) AS n_types,
         |       CAST(sum(dn) AS BIGINT) AS n_doc_shingles,
         |       CAST(sum(dn * (dn - 1)) // 2 AS BIGINT) AS pair_bound
         |FROM (
         |  SELECT sk, count(*) AS dn FROM (
         |    SELECT doc_id, unnest(list_distinct(list_transform(
         |             range(1, len(sp) - $k + 2),
         |             i -> ${md5PrefixSql(parts, 15)}))) AS sk
         |    FROM (SELECT doc_id, string_split(text, ' ') AS sp FROM documents) t0) t1
         |  GROUP BY 1) t2""".stripMargin
    }
    ShingleKs.map(block).mkString("\nUNION ALL\n") + "\nORDER BY k"
  }

  // --------------------- p38 temperature-mixture sweep

  /** Temperatures realized as IEEE-exact operations (n^1, √n, √√n) —
    * the p19 dyadic-exponent discipline extended to a sweep; pow() at
    * arbitrary τ is a 1-ulp cross-engine parity risk this query
    * deliberately avoids. */
  val SweepTaus: Seq[Double] = Seq(0.25, 0.5, 1.0)

  /** p38: temperature-mixture SWEEP — p19 ships α = 0.5; this sweeps
    * the knob the way the registry sweeps every other constant, on the
    * LANGUAGE axis (the multilingual-balancing case temperature
    * sampling was invented for, and the fixture axis that is actually
    * skewed — sources are deliberately uniform): per temperature the
    * max language share (dominance) and the mixture entropy
    * (diversity). τ = 1 is the raw corpus, τ → 0 flattens toward
    * uniform; entropy must fall and max-share rise monotonically in τ.
    *
    * Exactness: weights are floor(n^τ·10⁶) exact ints via sqrt chains
    * (never pow); shares divide exact ints once; the entropy is the
    * t21 fixed-point discipline over the integer weights
    * (H = ln Z − Σ w·trunc(ln w·10⁹)/10⁹/Z — the Σ is DECIMAL-exact,
    * partition order cannot perturb it). Scale shape: one per-lang
    * aggregate, |τ|×langs tiny relation, |τ|-row close. */
  private val p38: Fn = (s, d) => {
    val sizes = docs(s, d).groupBy("lang").agg(count(lit(1)).as("n_docs"))
    val weighted = sizes
      .withColumn("tau", explode(array(SweepTaus.map(lit): _*)))
      .withColumn("w_fp", floor(
        when(col("tau") === 0.25, sqrt(sqrt(col("n_docs").cast(DoubleType))))
          .when(col("tau") === 0.5, sqrt(col("n_docs").cast(DoubleType)))
          .otherwise(col("n_docs").cast(DoubleType)) * 1e6).cast(LongType))
    weighted.groupBy("tau")
      .agg(count(lit(1)).cast(LongType).as("n_langs"),
        sum(col("w_fp")).cast(LongType).as("z_fp"),
        max(col("w_fp")).cast(LongType).as("max_w"),
        // both factors lift to DECIMAL(38,0) BEFORE the product: at
        // sf0.1 w_fp·lnfp ≈ 4.4e19 overflows a BIGINT (the DuckDB twin
        // multiplies HUGEINTs for the same reason)
        sum(col("w_fp").cast(DecimalType(38, 0)) *
          (log(col("w_fp").cast(DoubleType)) * 1e9).cast(LongType).cast(DecimalType(38, 0)))
          .as("wlw_fp"))
      .select(col("tau"), col("n_langs"),
        round(col("max_w").cast(DoubleType) / col("z_fp").cast(DoubleType), 6)
          .as("max_share"),
        round(log(col("z_fp").cast(DoubleType)) -
          col("wlw_fp").cast(DoubleType) / 1e9 / col("z_fp").cast(DoubleType), 6)
          .as("entropy"))
      .orderBy("tau")
  }
  private val p38Sql =
    """WITH sizes AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_docs FROM documents GROUP BY 1),
      |weighted AS (
      |  SELECT t.tau, lang,
      |         CAST(floor(CASE WHEN t.tau = 0.25 THEN sqrt(sqrt(CAST(n_docs AS DOUBLE)))
      |                         WHEN t.tau = 0.5 THEN sqrt(CAST(n_docs AS DOUBLE))
      |                         ELSE CAST(n_docs AS DOUBLE) END * 1e6) AS BIGINT) AS w_fp
      |  FROM sizes CROSS JOIN (SELECT unnest(ARRAY[0.25, 0.5, 1.0]::DOUBLE[]) AS tau) t)
      |SELECT tau, CAST(count(*) AS BIGINT) AS n_langs,
      |       round(CAST(max(w_fp) AS DOUBLE) / CAST(sum(w_fp) AS DOUBLE), 6) AS max_share,
      |       round(ln(CAST(sum(w_fp) AS DOUBLE)) -
      |             CAST(sum(CAST(w_fp AS HUGEINT)
      |                      * CAST(trunc(ln(CAST(w_fp AS DOUBLE)) * 1e9) AS HUGEINT)) AS DOUBLE)
      |             / 1e9 / CAST(sum(w_fp) AS DOUBLE), 6) AS entropy
      |FROM weighted
      |GROUP BY 1
      |ORDER BY tau""".stripMargin

  val all: Seq[Q] = Seq(
    Q("r129_bootstrap_diff", r129, Some(r129Sql)),
    Q("t45_langid_kappa", t45, Some(t45Sql)),
    Q("u34_l_diversity", u34, Some(u34Sql)),
    Q("d32_shingle_sweep", d32, Some(d32Sql)),
    Q("p38_temperature_sweep", p38, Some(p38Sql)))
}
