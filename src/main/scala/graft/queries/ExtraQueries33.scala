package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType, IntegerType, LongType, StringType}
import graft.Tables
import graft.functions.PortableHash.{md5Prefix, md5PrefixSql}
import graft.queries.Relational.{Fn, Q}

/** Round-9 batch 35: experimentation + integrity closers — CUPED
  * variance reduction on exact cent totals, Wald's SPRT as a
  * fixed-point likelihood walk, the similarity scatter that separates
  * planted duplicates from the background pair distribution, the
  * stopword-list-size knob swept, and order-independent XOR transfer
  * checksums.
  */
object ExtraQueries33 {

  private def docs(s: SparkSession, d: String): DataFrame = Tables.documents(s, d)

  // --------------------- r132 CUPED variance reduction

  val CupedSplitDay = "2024-01-16"

  /** r132: CUPED variance reduction — the experimentation-platform
    * workhorse (Deng et al., WSDM'13): regress each user's post-period
    * metric on their PRE-period metric (θ = cov/var) and subtract;
    * the report is θ and the variance-reduction percentage the
    * adjusted metric buys. Structure: pre/post split at day 15 of the
    * 30-day window, user totals as the unit.
    *
    * Exactness: user totals are exact CENT integers (DECIMAL(18,2)
    * sums × 100); θ's covariance/variance use the integer moment
    * forms N·Σxy − ΣxΣy over N·Σx² − (Σx)², with every squared-cents
    * product (x·y, x², y², and the Σ·Σ cross terms) lifted to
    * DECIMAL(38,0) BEFORE multiplying — the p38 discipline: at large
    * SFs these approach 2⁶³ where non-ANSI Spark wraps silently while
    * DuckDB promotes to HUGEINT; adjusted values are doubles ROUNDED
    * BACK to cents (exact ints) before the adjusted variance, so no
    * unordered double sum exists anywhere; the final
    * percentages are single divisions. Scale shape: one user-grain
    * conditional aggregate, 1-row moment close, a broadcast θ join,
    * user-grain re-aggregate. */
  private val r132: Fn = (s, d) => {
    val per = Tables.events(s, d)
      .groupBy("user_id")
      .agg(
        coalesce((sum(when(col("ts") < lit(CupedSplitDay).cast("timestamp"),
          col("value").cast(DecimalType(18, 2)))) * 100).cast(LongType), lit(0L)).as("pre_c"),
        coalesce((sum(when(col("ts") >= lit(CupedSplitDay).cast("timestamp"),
          col("value").cast(DecimalType(18, 2)))) * 100).cast(LongType), lit(0L)).as("post_c"))
    def dec(c: Column): Column = c.cast(DecimalType(38, 0))
    val mom = per.agg(
      count(lit(1)).cast(LongType).as("nu"),
      sum(col("pre_c")).cast(LongType).as("sx"),
      sum(col("post_c")).cast(LongType).as("sy"),
      sum(dec(col("pre_c")) * dec(col("pre_c"))).as("sxx"),
      sum(dec(col("pre_c")) * dec(col("post_c"))).as("sxy"),
      sum(dec(col("post_c")) * dec(col("post_c"))).as("syy"))
      .withColumn("theta",
        (dec(col("nu")) * col("sxy") - dec(col("sx")) * dec(col("sy"))).cast(DoubleType) /
          (dec(col("nu")) * col("sxx") - dec(col("sx")) * dec(col("sx"))).cast(DoubleType))
      .withColumn("mean_pre", col("sx").cast(DoubleType) / col("nu").cast(DoubleType))
    val adj = per.crossJoin(broadcast(mom.select("nu", "theta", "mean_pre", "sy", "syy")))
      .withColumn("adj_c", round(col("post_c").cast(DoubleType) -
        col("theta") * (col("pre_c").cast(DoubleType) - col("mean_pre"))).cast(LongType))
    adj.groupBy("nu", "theta", "sy", "syy")
      .agg(sum(col("adj_c")).cast(LongType).as("sa"),
        sum(dec(col("adj_c")) * dec(col("adj_c"))).as("saa"))
      .select(col("nu").as("n_users"), round(col("theta"), 6).as("theta"),
        round((dec(col("nu")) * col("syy") - dec(col("sy")) * dec(col("sy"))).cast(DoubleType) /
          (col("nu") * (col("nu") - 1)).cast(DoubleType) / 1e4, 2).as("var_post"),
        round((dec(col("nu")) * col("saa") - dec(col("sa")) * dec(col("sa"))).cast(DoubleType) /
          (col("nu") * (col("nu") - 1)).cast(DoubleType) / 1e4, 2).as("var_adjusted"),
        round(lit(1.0) -
          (dec(col("nu")) * col("saa") - dec(col("sa")) * dec(col("sa"))).cast(DoubleType) /
            (dec(col("nu")) * col("syy") - dec(col("sy")) * dec(col("sy"))).cast(DoubleType), 4)
          .as("var_reduction"))
  }
  private val r132Sql =
    s"""WITH per AS (
       |  SELECT user_id,
       |         coalesce(CAST(sum(CASE WHEN ts < TIMESTAMP '$CupedSplitDay'
       |                       THEN CAST(value AS DECIMAL(18,2)) END) * 100 AS BIGINT), 0) AS pre_c,
       |         coalesce(CAST(sum(CASE WHEN ts >= TIMESTAMP '$CupedSplitDay'
       |                       THEN CAST(value AS DECIMAL(18,2)) END) * 100 AS BIGINT), 0) AS post_c
       |  FROM events GROUP BY 1),
       |mom AS (
       |  SELECT CAST(count(*) AS BIGINT) AS nu,
       |         CAST(sum(pre_c) AS BIGINT) AS sx, CAST(sum(post_c) AS BIGINT) AS sy,
       |         sum(CAST(pre_c AS HUGEINT) * CAST(pre_c AS HUGEINT)) AS sxx,
       |         sum(CAST(pre_c AS HUGEINT) * CAST(post_c AS HUGEINT)) AS sxy,
       |         sum(CAST(post_c AS HUGEINT) * CAST(post_c AS HUGEINT)) AS syy
       |  FROM per),
       |theta AS (
       |  SELECT *, CAST(nu * sxy - CAST(sx AS HUGEINT) * CAST(sy AS HUGEINT) AS DOUBLE) /
       |            CAST(nu * sxx - CAST(sx AS HUGEINT) * CAST(sx AS HUGEINT) AS DOUBLE) AS th,
       |         CAST(sx AS DOUBLE) / CAST(nu AS DOUBLE) AS mean_pre
       |  FROM mom),
       |adj AS (
       |  SELECT t.nu, t.th, t.sy, t.syy,
       |         CAST(round(CAST(p.post_c AS DOUBLE) -
       |                    t.th * (CAST(p.pre_c AS DOUBLE) - t.mean_pre)) AS BIGINT) AS adj_c
       |  FROM per p CROSS JOIN theta t)
       |SELECT nu AS n_users, round(th, 6) AS theta,
       |       round(CAST(nu * syy - CAST(sy AS HUGEINT) * CAST(sy AS HUGEINT) AS DOUBLE)
       |             / CAST(nu * (nu - 1) AS DOUBLE) / 1e4, 2)
       |         AS var_post,
       |       round(CAST(nu * sum(CAST(adj_c AS HUGEINT) * CAST(adj_c AS HUGEINT))
       |                  - sum(adj_c) * sum(adj_c) AS DOUBLE) /
       |             CAST(nu * (nu - 1) AS DOUBLE) / 1e4, 2) AS var_adjusted,
       |       round(1.0 - CAST(nu * sum(CAST(adj_c AS HUGEINT) * CAST(adj_c AS HUGEINT))
       |                        - sum(adj_c) * sum(adj_c) AS DOUBLE) /
       |                   CAST(nu * syy - CAST(sy AS HUGEINT) * CAST(sy AS HUGEINT) AS DOUBLE), 4)
       |         AS var_reduction
       |FROM adj
       |GROUP BY nu, th, sy, syy""".stripMargin

  // --------------------- r133 SPRT sequential test

  val SprtP0 = 0.15
  val SprtP1 = 0.25
  val SprtBarrierFp = 2944438979L // trunc(ln(19)·1e9), alpha = beta = 0.05

  /** r133: Wald's SPRT over the daily purchase-rate series — the
    * sequential A/B monitor that may stop EARLY: per day the
    * log-likelihood-ratio increment for H1 (p=[[SprtP1]]) vs H0
    * (p=[[SprtP0]]), its running total, and the barrier verdict at
    * ±ln(19) (α=β=0.05). The table IS the audit trail a sequential
    * decision needs — when the walk crossed, and on how much
    * evidence.
    *
    * Exactness: the two ln coefficients are truncated to 1e-9 fixed
    * point ONCE (from identical doubles on both engines), increments
    * are then BIGINT products x·C1 + (n−x)·C2, and the running sum is
    * integer — a windowed DOUBLE sum would be summation-order bait
    * (DuckDB's segment tree vs Spark's running fold). Scale shape:
    * one day-grain conditional aggregate; the cumulative window runs
    * over the ≤|days| aggregate (PlanLint AggBounded). */
  private val r133: Fn = (s, d) => {
    val c1 = (log(lit(SprtP1 / SprtP0)) * 1e9).cast(LongType)
    val c2 = (log(lit((1.0 - SprtP1) / (1.0 - SprtP0))) * 1e9).cast(LongType)
    val daily = Tables.events(s, d)
      .groupBy(to_date(col("ts")).as("day"))
      .agg(count(lit(1)).cast(LongType).as("n"),
        sum(when(col("event_type") === "purchase", 1L).otherwise(0L)).cast(LongType).as("x"))
      .withColumn("inc_fp", col("x") * c1 + (col("n") - col("x")) * c2)
    daily
      .withColumn("cum_fp", sum(col("inc_fp")).over(
        Window.orderBy("day").rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .select(col("day"), col("n"), col("x"),
        round(col("inc_fp").cast(DoubleType) / 1e9, 6).as("llr_inc"),
        round(col("cum_fp").cast(DoubleType) / 1e9, 6).as("cum_llr"),
        when(col("cum_fp") > SprtBarrierFp, "accept_h1")
          .when(col("cum_fp") < -SprtBarrierFp, "accept_h0")
          .otherwise("continue").as("state"))
      .orderBy("day")
  }
  private val r133Sql =
    s"""WITH daily AS (
       |  SELECT CAST(ts AS DATE) AS day, CAST(count(*) AS BIGINT) AS n,
       |         CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS x
       |  FROM events GROUP BY 1),
       |inc AS (
       |  SELECT day, n, x,
       |         x * CAST(trunc(ln($SprtP1 / $SprtP0) * 1e9) AS BIGINT) +
       |         (n - x) * CAST(trunc(ln((1.0 - $SprtP1) / (1.0 - $SprtP0)) * 1e9) AS BIGINT)
       |           AS inc_fp
       |  FROM daily),
       |walk AS (
       |  SELECT *, sum(inc_fp) OVER (ORDER BY day
       |                              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_fp
       |  FROM inc)
       |SELECT day, n, x,
       |       round(CAST(inc_fp AS DOUBLE) / 1e9, 6) AS llr_inc,
       |       round(CAST(cum_fp AS DOUBLE) / 1e9, 6) AS cum_llr,
       |       CASE WHEN cum_fp > $SprtBarrierFp THEN 'accept_h1'
       |            WHEN cum_fp < -$SprtBarrierFp THEN 'accept_h0'
       |            ELSE 'continue' END AS state
       |FROM walk
       |ORDER BY day""".stripMargin

  // --------------------- d33 similarity scatter (signal vs background)

  /** d33: the similarity SCATTER behind every dedup threshold choice —
    * two pair populations through the same lens: `dup_family` pairs
    * (adjacent members of the planted d01/d26 prefix families — the
    * signal) and `background` pairs (successors in the p05-shuffled
    * order, i.e. uniformly random doc pairs — the null), each bucketed
    * by (Jaccard decile × containment decile) of their distinct-token
    * sets. On a corpus with real vocabulary the two histograms
    * separate and the gap locates the threshold; on THIS shared-vocab
    * fixture the background mass climbs into the top deciles — the
    * table exposing a candidate discriminator's weakness is exactly
    * its job, and is the documented reason the registry's dedup
    * kernels shingle (d03/d04) instead of bagging tokens.
    *
    * Exactness: deciles are integer floor divisions of exact
    * intersection/union/min-size counts (least(·,9) caps the 1.0
    * edge); pair counts are BIGINT. Scale shape: both pair relations
    * are LINEAR (family-adjacent via a hash-partitioned lag, shuffled
    * successors via the p37 bucket windows), token sets join at the
    * doc grain, the close is ≤2·100 histogram cells. */
  private val d33: Fn = (s, d) => {
    val base = docs(s, d).select(col("doc_id"), col("text"))
    def pairsOf(df: DataFrame, tag: String): DataFrame =
      df.select(lit(tag).as("population"), col("doc_id").as("id_a"), col("nid").as("id_b"))
        .filter(col("id_b").isNotNull)
    val famPairs = pairsOf(base
      .withColumn("h", md5(substring(col("text"), 1, 100)))
      .withColumn("nid", lead(col("doc_id"), 1).over(
        Window.partitionBy("h").orderBy("doc_id"))), "dup_family")
    val shufPairs = pairsOf(base
      .withColumn("skey", graft.functions.DetHash.shuffleKey(col("doc_id")))
      .withColumn("nid", lead(col("doc_id"), 1).over(
        Window.partitionBy(substring(col("skey"), 1, 2)).orderBy("skey", "doc_id"))),
      "background")
    val toks = base.select(col("doc_id"),
      array_distinct(split(col("text"), " ")).as("tk"))
    famPairs.unionAll(shufPairs)
      .join(toks.select(col("doc_id").as("id_a"), col("tk").as("ta")), Seq("id_a"))
      .join(toks.select(col("doc_id").as("id_b"), col("tk").as("tb")), Seq("id_b"))
      .withColumn("inter", size(array_intersect(col("ta"), col("tb"))).cast(LongType))
      .withColumn("uni", (size(col("ta")) + size(col("tb"))).cast(LongType) - col("inter"))
      .withColumn("mn", least(size(col("ta")), size(col("tb"))).cast(LongType))
      .withColumn("jac_decile", least(floor(col("inter") * 10 / col("uni")), lit(9L)))
      .withColumn("cont_decile", least(floor(col("inter") * 10 / col("mn")), lit(9L)))
      .groupBy("population", "jac_decile", "cont_decile")
      .agg(count(lit(1)).cast(LongType).as("n_pairs"))
      .orderBy("population", "jac_decile", "cont_decile")
  }
  private val d33Sql =
    """WITH base AS (SELECT doc_id, text FROM documents),
      |fam_pairs AS (
      |  SELECT 'dup_family' AS population, doc_id AS id_a, nid AS id_b FROM (
      |    SELECT doc_id, lead(doc_id) OVER (PARTITION BY md5(substring(text, 1, 100))
      |                                      ORDER BY doc_id) AS nid
      |    FROM base) t WHERE nid IS NOT NULL),
      |shuf_pairs AS (
      |  SELECT 'background' AS population, doc_id AS id_a, nid AS id_b FROM (
      |    SELECT doc_id, lead(doc_id) OVER (PARTITION BY substring(skey, 1, 2)
      |                                      ORDER BY skey, doc_id) AS nid
      |    FROM (SELECT doc_id, md5(concat('shuffle:', CAST(doc_id AS VARCHAR))) AS skey
      |          FROM base) k) t WHERE nid IS NOT NULL),
      |toks AS (SELECT doc_id, list_distinct(string_split(text, ' ')) AS tk FROM base),
      |scored AS (
      |  SELECT p.population,
      |         CAST(len(list_intersect(a.tk, b.tk)) AS BIGINT) AS inter,
      |         CAST(len(a.tk) + len(b.tk) AS BIGINT) - CAST(len(list_intersect(a.tk, b.tk)) AS BIGINT) AS uni,
      |         CAST(least(len(a.tk), len(b.tk)) AS BIGINT) AS mn
      |  FROM (SELECT * FROM fam_pairs UNION ALL SELECT * FROM shuf_pairs) p
      |  JOIN toks a ON p.id_a = a.doc_id
      |  JOIN toks b ON p.id_b = b.doc_id)
      |SELECT population, least(inter * 10 // uni, 9) AS jac_decile,
      |       least(inter * 10 // mn, 9) AS cont_decile,
      |       CAST(count(*) AS BIGINT) AS n_pairs
      |FROM scored
      |GROUP BY 1, 2, 3
      |ORDER BY population, jac_decile, cont_decile""".stripMargin

  // --------------------- t46 stopword-list-size sweep

  val StopNs: Seq[Int] = Seq(2, 5)

  /** t46: stopword-LIST-SIZE sweep — t07's lang-ID votes with 5
    * stopwords per language; this sweeps the list size N (the
    * vocabulary knob of the classifier) and reports accuracy per N
    * against the stored labels. The N=5 row is exactly the shipped
    * t07 rule, so its accuracy cross-pins t45's observed agreement
    * (p_o) in the spec.
    *
    * Exactness: votes and verdicts are the t07 integer CASE
    * machinery; accuracies are single rounded divisions of BIGINTs.
    * Scale shape: per N one map pass with inlined vote counts (the
    * lists are literals — no join), lang-grain close. */
  private val t46: Fn = (s, d) => {
    val m = TextQueries.langStops.toMap
    val toks = split(col("text"), " ")
    def guessN(n: Int): Column = {
      def cnt(l: String) = size(filter(toks, t => t.isInCollection(m(l).take(n))))
      val (en, es, de, fr) = (cnt("en"), cnt("es"), cnt("de"), cnt("fr"))
      when(es >= en && es >= de && es >= fr, "es")
        .when(de >= en && de >= fr, "de")
        .when(fr >= en, "fr")
        .otherwise("en")
    }
    val perN = StopNs.map { n =>
      docs(s, d).select(col("lang"), guessN(n).as("guess"))
        .agg(count(lit(1)).cast(LongType).as("n_docs"),
          sum(when(col("lang") === col("guess"), 1L).otherwise(0L)).cast(LongType)
            .as("n_correct"))
        .select(lit(n).as("stop_n"), col("n_docs"), col("n_correct"),
          round(col("n_correct").cast(DoubleType) / col("n_docs").cast(DoubleType), 4)
            .as("accuracy"))
    }
    perN.reduce(_.unionAll(_)).orderBy("stop_n")
  }
  private val t46Sql = {
    val m = TextQueries.langStops.toMap
    def guessN(n: Int): String = {
      def cnt(l: String) = {
        val set = m(l).take(n).map(w => s"'$w'").mkString(", ")
        s"len(list_filter(string_split(text, ' '), t -> t IN ($set)))"
      }
      val (en, es, de, fr) = (cnt("en"), cnt("es"), cnt("de"), cnt("fr"))
      s"""CASE WHEN $es >= $en AND $es >= $de AND $es >= $fr THEN 'es'
         |     WHEN $de >= $en AND $de >= $fr THEN 'de'
         |     WHEN $fr >= $en THEN 'fr'
         |     ELSE 'en' END""".stripMargin
    }
    def block(n: Int) =
      s"""SELECT $n AS stop_n, CAST(count(*) AS BIGINT) AS n_docs,
         |       CAST(sum(CASE WHEN lang = g THEN 1 ELSE 0 END) AS BIGINT) AS n_correct,
         |       round(CAST(sum(CASE WHEN lang = g THEN 1 ELSE 0 END) AS DOUBLE) /
         |             CAST(count(*) AS DOUBLE), 4) AS accuracy
         |FROM (SELECT lang, ${guessN(n)} AS g FROM documents) t$n""".stripMargin
    StopNs.map(block).mkString("\nUNION ALL\n") + "\nORDER BY stop_n"
  }

  // --------------------- u36 XOR transfer checksums

  /** u36: order-independent TRANSFER checksums — the manifest a bulk
    * copy is verified against: per source, the row count and the XOR
    * of per-row content digests (first 15 hex of md5(id:text) as a
    * BIGINT). XOR commutes, so ANY partitioning/ordering of the copy
    * reproduces the same checksum — the property that makes this
    * verifiable on a cluster without a global sort — while a single
    * flipped byte, lost row, or duplicated row changes it (duplicates
    * cancel in pairs, which row COUNT catches).
    *
    * Exactness: pure integer hashing + a commutative BIGINT fold.
    * Scale shape: one map pass, source-grain partial-agg'd close —
    * checksums merge map-side like any sum. */
  private val u36: Fn = (s, d) =>
    docs(s, d)
      .select(col("source"),
        md5Prefix(concat(col("doc_id").cast(StringType), lit(":"), col("text")), 15).as("h"))
      .groupBy("source")
      .agg(count(lit(1)).cast(LongType).as("n_rows"),
        expr("bit_xor(h)").cast(LongType).as("xor_checksum"))
      .orderBy("source")
  private val u36Sql =
    s"""SELECT source, CAST(count(*) AS BIGINT) AS n_rows,
      |       CAST(bit_xor(${md5PrefixSql("concat(CAST(doc_id AS VARCHAR), ':', text)", 15)}) AS BIGINT) AS xor_checksum
      |FROM documents
      |GROUP BY source
      |ORDER BY source""".stripMargin

  val all: Seq[Q] = Seq(
    Q("r132_cuped", r132, Some(r132Sql)),
    Q("r133_sprt", r133, Some(r133Sql)),
    Q("d33_sim_scatter", d33, Some(d33Sql)),
    Q("t46_stoplist_sweep", t46, Some(t46Sql)),
    Q("u36_transfer_checksums", u36, Some(u36Sql)))
}
