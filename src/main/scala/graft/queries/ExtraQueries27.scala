package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, IntegerType, LongType}
import graft.Tables
import graft.functions.PortableHash.md5PrefixSql
import graft.functions.{DetHash, VectorOps}
import graft.queries.Relational.{Fn, Q}

/** Round-9 batch 29: tuning sweeps + estimator audits — the d26 horizon
  * swept like d19/s28 sweep their index knobs, the IVF codebook size
  * swept for the elbow, Lincoln–Petersen capture–recapture graded
  * against the true count, the coin-independence audit that
  * capture–recapture silently assumes, and a quota-exact eval split.
  */
object ExtraQueries27 {

  private def docs(s: SparkSession, d: String): DataFrame = Tables.documents(s, d)

  // --------------------- d29 dedup-horizon sweep

  val SweepHorizons: Seq[Long] = Seq(50L, 100L, 200L, 400L)

  /** d29: the d26 HORIZON swept — the TTL knob trades state size
    * against recall of re-posted content, and like every index knob in
    * this registry (d19 bands, s28 probes) it deserves a sweep table
    * rather than a folk constant: per candidate horizon, how many of
    * the corpus's repeat sightings fall inside it (drops) out of all
    * repeats, with the drop rate. Monotone in the horizon by
    * construction — the spec asserts it — and the production pick is
    * the knee.
    *
    * Exactness: one md5-prefix lag relation (the d26 kernel verbatim),
    * BIGINT gaps, one rounded division per row. Scale shape: the
    * repeat relation is duplication-sized; the sweep explodes ONLY
    * repeats × |horizons|, then one 4-row aggregate. */
  private val d29: Fn = (s, d) => {
    val w = Window.partitionBy("h").orderBy("doc_id")
    val repeats = docs(s, d)
      .select(col("doc_id"), md5(substring(col("text"), 1, 100)).as("h"))
      .withColumn("prev_id", lag(col("doc_id"), 1).over(w))
      .filter(col("prev_id").isNotNull)
      .withColumn("gap", (col("doc_id") - col("prev_id")).cast(LongType))
    val tot = repeats.agg(count(lit(1)).as("n_repeats"))
    repeats
      .withColumn("horizon", explode(array(SweepHorizons.map(lit): _*)))
      .filter(col("gap") <= col("horizon"))
      .groupBy("horizon").agg(count(lit(1)).as("n_drops"))
      .crossJoin(broadcast(tot))
      .select(col("horizon"), col("n_drops"), col("n_repeats"),
        round(col("n_drops").cast(DoubleType) / col("n_repeats").cast(DoubleType), 4)
          .as("drop_rate"))
      .orderBy("horizon")
  }
  private val d29Sql = {
    val hs = SweepHorizons.mkString(", ")
    s"""WITH rep AS (
       |  SELECT doc_id, prev_id, doc_id - prev_id AS gap FROM (
       |    SELECT doc_id,
       |           lag(doc_id) OVER (PARTITION BY md5(substring(text, 1, 100)) ORDER BY doc_id) AS prev_id
       |    FROM documents) t
       |  WHERE prev_id IS NOT NULL),
       |tot AS (SELECT CAST(count(*) AS BIGINT) AS n_repeats FROM rep)
       |SELECT h.horizon, CAST(count(*) AS BIGINT) AS n_drops, t.n_repeats,
       |       round(CAST(count(*) AS DOUBLE) / CAST(t.n_repeats AS DOUBLE), 4) AS drop_rate
       |FROM rep r JOIN (SELECT unnest(ARRAY[$hs]) AS horizon) h ON r.gap <= h.horizon
       |CROSS JOIN tot t
       |GROUP BY h.horizon, t.n_repeats
       |ORDER BY h.horizon""".stripMargin
  }

  // --------------------- s35 IVF codebook-size sweep

  val SweepCs: Seq[Int] = Seq(4, 8, 16)

  /** s35: IVF codebook-size sweep — the elbow table behind the d09
    * C ~ √n sizing rule: per candidate C, the mean similarity of every
    * vector to its chosen centroid (assignment quality — rises with C)
    * and the cell-size extremes (balance — degrades with C on skewed
    * data). Together with s28's probe sweep and s30's advisor this
    * closes the IVF tuning loop: C, then nprobe, then the Pareto read.
    *
    * Exactness: the 4dp-grid cosine is lifted to exact integer
    * micro-units (×10⁴ then round-to-long — lossless for 4dp-grid
    * values) so the mean is ONE division of exact sums; cell sizes are
    * BIGINT. Scale shape: per C one map-only broadcast assignment pass
    * (Σ|C| = 28 seed comparisons per vector), C-row aggregates after. */
  private val s35: Fn = (s, d) => {
    val e = Tables.embeddings(s, d)
    val perC = SweepCs.map { c =>
      val seeds = e.orderBy("vec_id").limit(c)
        .select(col("vec_id").as("seed_id"), col("embedding").as("sv"))
      val assign = e.crossJoin(broadcast(seeds))
        .withColumn("csim", round(VectorOps.cosine(col("embedding"), col("sv")), 4))
        .withColumn("ark", row_number().over(
          Window.partitionBy("vec_id").orderBy(desc("csim"), col("seed_id"))))
        .filter(col("ark") === 1)
        .withColumn("micro", round(col("csim") * 10000).cast(LongType))
      val cells = assign.groupBy("seed_id").agg(count(lit(1)).as("sz"))
        .agg(min(col("sz")).cast(LongType).as("min_cell"),
          max(col("sz")).cast(LongType).as("max_cell"))
      assign.agg(count(lit(1)).as("n"), sum(col("micro")).as("sum_micro"))
        .crossJoin(cells)
        .select(lit(c).as("c"),
          round(col("sum_micro").cast(DoubleType) / (col("n") * 10000).cast(DoubleType), 4)
            .as("mean_top_sim"),
          col("min_cell"), col("max_cell"))
    }
    perC.reduce(_.unionAll(_)).orderBy("c")
  }
  private val s35Sql = {
    def block(c: Int) =
      s"""SELECT $c AS c,
         |       round(CAST(sum(micro) AS DOUBLE) / CAST(count(*) * 10000 AS DOUBLE), 4) AS mean_top_sim,
         |       (SELECT CAST(min(sz) AS BIGINT) FROM (
         |          SELECT count(*) AS sz FROM a$c GROUP BY seed_id)) AS min_cell,
         |       (SELECT CAST(max(sz) AS BIGINT) FROM (
         |          SELECT count(*) AS sz FROM a$c GROUP BY seed_id)) AS max_cell
         |FROM a$c""".stripMargin
    def assignCte(c: Int) =
      s"""s$c AS (SELECT vec_id AS seed_id, embedding AS sv FROM embeddings ORDER BY vec_id LIMIT $c),
         |a$c AS (
         |  SELECT vec_id, seed_id, CAST(round(csim * 10000) AS BIGINT) AS micro FROM (
         |    SELECT e.vec_id, s.seed_id,
         |           round(list_dot_product(e.embedding::DOUBLE[], s.sv::DOUBLE[]) /
         |                 sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[]) *
         |                      list_dot_product(s.sv::DOUBLE[], s.sv::DOUBLE[])), 4) AS csim,
         |           row_number() OVER (PARTITION BY e.vec_id ORDER BY
         |             round(list_dot_product(e.embedding::DOUBLE[], s.sv::DOUBLE[]) /
         |                   sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[]) *
         |                        list_dot_product(s.sv::DOUBLE[], s.sv::DOUBLE[])), 4) DESC,
         |             s.seed_id) AS ark
         |    FROM embeddings e CROSS JOIN s$c s) t
         |  WHERE ark = 1)""".stripMargin
    s"""WITH ${SweepCs.map(assignCte).mkString(",\n")}
       |${SweepCs.map(block).mkString("\nUNION ALL\n")}
       |ORDER BY c""".stripMargin
  }

  // --------------------- r124 capture–recapture estimate

  val CapRate = 300

  /** r124: Lincoln–Petersen capture–recapture — when a corpus is too
    * big (or too remote) to count, two independent samples estimate the
    * population: N̂ = n₁·n₂ / m where m is the overlap. Here the audit
    * runs where truth IS known — per language, two independent 30%
    * md5-coin samples — so the estimator itself is graded (the
    * r123/u26/u29 discipline: never ship an estimator without its
    * error measured against ground truth).
    *
    * Exactness: BIGINT capture counts, one double division (overlap
    * floored at 1) + one rounded error division. Scale shape: ONE
    * conditional-aggregation pass at the language grain — the samples
    * are flags, never materialized. */
  private val r124: Fn = (s, d) => {
    val s1 = (pmod(DetHash.coin(col("doc_id"), "cap1:"), lit(1000)) < CapRate).cast(LongType)
    val s2 = (pmod(DetHash.coin(col("doc_id"), "cap2:"), lit(1000)) < CapRate).cast(LongType)
    docs(s, d).select(col("lang"), s1.as("s1"), s2.as("s2"))
      .groupBy("lang")
      .agg(count(lit(1)).as("true_n"),
        sum(col("s1")).cast(LongType).as("n1"),
        sum(col("s2")).cast(LongType).as("n2"),
        sum(col("s1") * col("s2")).cast(LongType).as("m"))
      .withColumn("est_n",
        round(col("n1").cast(DoubleType) * col("n2").cast(DoubleType) /
          greatest(col("m"), lit(1L)).cast(DoubleType), 2))
      .withColumn("rel_err",
        round((col("est_n") - col("true_n")) / col("true_n").cast(DoubleType), 4))
      .select("lang", "true_n", "n1", "n2", "m", "est_n", "rel_err")
      .orderBy("lang")
  }
  private val r124Sql = {
    def coin(salt: String) =
      s"CAST(${md5PrefixSql(s"concat('$salt', CAST(doc_id AS VARCHAR))", 6)} % 1000 < $CapRate AS INT)"
    s"""WITH caps AS (
       |  SELECT lang, CAST(count(*) AS BIGINT) AS true_n,
       |         CAST(sum(${coin("cap1:")}) AS BIGINT) AS n1,
       |         CAST(sum(${coin("cap2:")}) AS BIGINT) AS n2,
       |         CAST(sum(${coin("cap1:")} * ${coin("cap2:")}) AS BIGINT) AS m
       |  FROM documents GROUP BY 1)
       |SELECT lang, true_n, n1, n2, m,
       |       round(CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE) / CAST(greatest(m, 1) AS DOUBLE), 2) AS est_n,
       |       round((round(CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE) / CAST(greatest(m, 1) AS DOUBLE), 2) - true_n) /
       |             CAST(true_n AS DOUBLE), 4) AS rel_err
       |FROM caps
       |ORDER BY lang""".stripMargin
  }

  // --------------------- u30 coin-independence audit

  /** u30: coin-INDEPENDENCE audit — r124 (and every multi-coin design
    * in this registry: p01 splits vs p05 shards vs p31 soft-dedup) is
    * only sound if differently-salted md5 coins behave independently;
    * this audits the assumption empirically with the 2×2 contingency
    * chi-square between the two capture coins, per language. A salt
    * collision or a biased hex-slice would surface here as a large
    * statistic (1 dof: 3.84 is the 5% line — the spec pins every cell
    * under it).
    *
    * Exactness: the 2×2 cells are BIGINT; the chi-square is the
    * integer-numerator form n(ad−bc)² over the four marginal products,
    * ONE double division (denominator floored at 1). Scale shape: one
    * conditional-aggregation pass at the language grain. */
  private val u30: Fn = (s, d) => {
    val s1 = (pmod(DetHash.coin(col("doc_id"), "cap1:"), lit(1000)) < CapRate).cast(LongType)
    val s2 = (pmod(DetHash.coin(col("doc_id"), "cap2:"), lit(1000)) < CapRate).cast(LongType)
    docs(s, d).select(col("lang"), s1.as("s1"), s2.as("s2"))
      .groupBy("lang")
      .agg(
        sum(col("s1") * col("s2")).cast(LongType).as("n11"),
        sum(col("s1") * (lit(1L) - col("s2"))).cast(LongType).as("n10"),
        sum((lit(1L) - col("s1")) * col("s2")).cast(LongType).as("n01"),
        sum((lit(1L) - col("s1")) * (lit(1L) - col("s2"))).cast(LongType).as("n00"))
      .withColumn("n", col("n11") + col("n10") + col("n01") + col("n00"))
      .withColumn("chi2", round(
        (col("n") * (col("n11") * col("n00") - col("n10") * col("n01")) *
          (col("n11") * col("n00") - col("n10") * col("n01"))).cast(DoubleType) /
          greatest((col("n11") + col("n10")) * (col("n01") + col("n00")) *
            (col("n11") + col("n01")) * (col("n10") + col("n00")), lit(1L)).cast(DoubleType), 4))
      .select("lang", "n11", "n10", "n01", "n00", "chi2")
      .orderBy("lang")
  }
  private val u30Sql = {
    def coin(salt: String) =
      s"CAST(${md5PrefixSql(s"concat('$salt', CAST(doc_id AS VARCHAR))", 6)} % 1000 < $CapRate AS BIGINT)"
    s"""WITH cells AS (
       |  SELECT lang,
       |         CAST(sum(${coin("cap1:")} * ${coin("cap2:")}) AS BIGINT) AS n11,
       |         CAST(sum(${coin("cap1:")} * (1 - ${coin("cap2:")})) AS BIGINT) AS n10,
       |         CAST(sum((1 - ${coin("cap1:")}) * ${coin("cap2:")}) AS BIGINT) AS n01,
       |         CAST(sum((1 - ${coin("cap1:")}) * (1 - ${coin("cap2:")})) AS BIGINT) AS n00
       |  FROM documents GROUP BY 1)
       |SELECT lang, n11, n10, n01, n00,
       |       round(CAST((n11 + n10 + n01 + n00) * (n11 * n00 - n10 * n01) * (n11 * n00 - n10 * n01) AS DOUBLE) /
       |             CAST(greatest((n11 + n10) * (n01 + n00) * (n11 + n01) * (n10 + n00), 1) AS DOUBLE), 4) AS chi2
       |FROM cells
       |ORDER BY lang""".stripMargin
  }

  // --------------------- p35 quota-exact eval split

  /** Chosen NON-divisible by the uniform fixture strata (50·25/500 =
    * 2.5) so the largest-remainder arm actually distributes a nonzero
    * remainder at every SF — a budget the base quotas satisfy exactly
    * would leave that arm compiled but never exercised. */
  val EvalBudget = 50

  /** p35: quota-EXACT eval split — eval sets need exact size (rater
    * budgets are contractual) and exact stratification (per-source
    * quotas by largest remainder, the m18 kernel at the source grain),
    * and the member selection must be deterministic and auditable (the
    * per-source lowest 'eval:' md5 coins). Output: the selected roster
    * with per-source ranks — Σ quota = [[EvalBudget]] exactly, every
    * quota ≤ its stratum (guaranteed while budget ≤ corpus).
    *
    * Exactness: quotas are pure integer arithmetic (base = ⌊B·cₛ/N⌋ via
    * exact small-integer doubles, remainders ranked by the exact
    * integer B·cₛ mod N); selection coins are the portable md5
    * discipline. Scale shape: quota windows run over the per-SOURCE
    * aggregate (PlanLint AggBounded); the roster rank is
    * source-partitioned over the corpus — the TopK rewrite class. */
  private val p35: Fn = (s, d) => {
    val per = docs(s, d).groupBy("source").agg(count(lit(1)).as("cn"))
    val tot = per.agg(sum(col("cn")).cast(LongType).as("nn"))
    val wrem = Window.orderBy(desc("frac"), col("source"))
    val quotas = per.crossJoin(broadcast(tot))
      .withColumn("base", floor(lit(EvalBudget) * col("cn") / col("nn")).cast(LongType))
      .withColumn("frac", pmod(lit(EvalBudget) * col("cn"), col("nn")))
      .withColumn("rrk", row_number().over(wrem))
    val baseSum = quotas.agg(sum(col("base")).cast(LongType).as("bs"))
    val withQuota = quotas.crossJoin(broadcast(baseSum))
      .withColumn("quota",
        col("base") + when(col("rrk") <= lit(EvalBudget) - col("bs"), 1L).otherwise(0L))
      .select("source", "quota")
    docs(s, d)
      .select(col("doc_id"), col("source"),
        DetHash.coin(col("doc_id"), "eval:").as("coin"))
      .join(broadcast(withQuota), Seq("source"))
      .withColumn("rk", row_number().over(
        Window.partitionBy("source").orderBy(col("coin"), col("doc_id"))).cast(LongType))
      .filter(col("rk") <= col("quota"))
      .select("source", "rk", "doc_id")
      .orderBy("source", "rk")
  }
  private val p35Sql = {
    val coin = s"CAST(${md5PrefixSql("concat('eval:', CAST(doc_id AS VARCHAR))", 6)} AS BIGINT)"
    s"""WITH per AS (SELECT source, CAST(count(*) AS BIGINT) AS cn FROM documents GROUP BY 1),
       |tot AS (SELECT CAST(sum(cn) AS BIGINT) AS nn FROM per),
       |q0 AS (
       |  SELECT p.source, p.cn,
       |         CAST(floor($EvalBudget * p.cn / t.nn) AS BIGINT) AS base,
       |         ($EvalBudget * p.cn) % t.nn AS frac
       |  FROM per p CROSS JOIN tot t),
       |q1 AS (
       |  SELECT source, base, frac,
       |         row_number() OVER (ORDER BY frac DESC, source) AS rrk,
       |         (SELECT sum(base) FROM q0) AS bs
       |  FROM q0),
       |quotas AS (
       |  SELECT source,
       |         base + CASE WHEN rrk <= $EvalBudget - bs THEN 1 ELSE 0 END AS quota
       |  FROM q1)
       |SELECT d.source, CAST(rk AS BIGINT) AS rk, d.doc_id
       |FROM (
       |  SELECT doc_id, source,
       |         row_number() OVER (PARTITION BY source ORDER BY $coin, doc_id) AS rk
       |  FROM documents) d
       |JOIN quotas q ON d.source = q.source
       |WHERE d.rk <= q.quota
       |ORDER BY d.source, rk""".stripMargin
  }

  val all: Seq[Q] = Seq(
    Q("d29_horizon_sweep", d29, Some(d29Sql)),
    Q("s35_codebook_sweep", s35, Some(s35Sql)),
    Q("r124_capture_recapture", r124, Some(r124Sql)),
    Q("u30_coin_independence", u30, Some(u30Sql)),
    Q("p35_quota_eval_split", p35, Some(p35Sql)))
}
