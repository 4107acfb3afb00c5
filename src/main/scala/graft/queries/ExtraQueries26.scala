package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType, IntegerType, LongType, StringType}
import graft.Tables
import graft.functions.PortableHash.md5PrefixSql
import graft.functions.{DetHash, VectorOps}
import graft.queries.Relational.{Fn, Q}

/** Round-9 batch 28: estimator machinery at scale — the Poisson
  * bootstrap (the one-pass distributed bootstrap), an optimizer-style
  * histogram selectivity audit, IVF cell maintenance planning, sample
  * representativeness QA, and a deterministic multimodal eval tray.
  */
object ExtraQueries26 {

  private def docs(s: SparkSession, d: String): DataFrame = Tables.documents(s, d)

  // --------------------- r123 Poisson bootstrap CI

  val BootB = 64

  /** Integer thresholds of the Poisson(1) CDF scaled by 16^4: a 4-hex-
    * digit md5 slice u maps to weight k = #{t in thresholds : t <= u},
    * capped at 8 (tail mass ~3e-5 folds into the cap). The CONSTANTS
    * define the distribution — both engines compare the same integers,
    * so the draw is exact by construction, merely Poisson-shaped.
    * 16 bits per draw lets ONE md5 serve 8 replicates (32 hex chars =
    * 8 non-overlapping 4-hex windows) — measured 6.9 s → ~1.8 s at
    * sf0.1 vs the one-md5-per-(row, replicate) form. */
  val PoisThresholds: Seq[Long] =
    Seq(24109L, 48218L, 60273L, 64291L, 65296L, 65497L, 65530L, 65535L)

  /** Replicates per md5: b = 8·g + s draws its 16-bit uniform from hex
    * window s (chars 4s+1..4s+4) of md5("boot:g:event_id"). */
  val BootRepsPerHash = 8

  /** r123: POISSON bootstrap confidence interval for the per-type mean
    * event value — the bootstrap that actually runs at 100 TB: classic
    * resampling needs B global samples-with-replacement (B corpus
    * shuffles); the Poisson bootstrap replaces each resample membership
    * with an independent Poisson(1) weight PER (row, replicate), so all
    * [[BootB]] replicates ride ONE map pass and merge in the same
    * partial aggregation as any sum. Replicate means are ranked per
    * type and the 5th/95th counting-method order statistics bound the
    * CI; the point estimate is the plain full-sample mean.
    *
    * Exactness: weights come from integer md5-threshold comparisons
    * ([[PoisThresholds]] — the p01 portable-coin discipline extended to
    * a shaped draw; one md5 per (row, replicate GROUP of
    * [[BootRepsPerHash]]), sliced into 16-bit windows); weighted sums
    * are DECIMAL(24,2) (the q21 value discipline); each replicate mean
    * is ONE double division of exact operands; order statistics select
    * by (mean, replicate) — total order, no averaging of unordered
    * doubles. Scale shape: one explode×B map pass whose hash cost is
    * B/8 md5s per row, with map-side partial aggregation (the r103
    * class), a (type × B)-row mean relation, and type-partitioned
    * rank windows over exactly B rows. */
  private val r123: Fn = (s, d) => {
    val valDec = col("value").cast(DecimalType(18, 2))
    val w = PoisThresholds.foldLeft(lit(0)) { (acc, t) =>
      acc + when(col("u") >= t, 1).otherwise(0)
    }
    val reps = Tables.events(s, d)
      .select(col("event_id"), col("event_type"), valDec.as("v"))
      .withColumn("g", explode(sequence(lit(0), lit(BootB / BootRepsPerHash - 1))))
      .withColumn("hg", md5(concat(lit("boot:"), col("g").cast(StringType),
        lit(":"), col("event_id").cast(StringType))))
      .withColumn("s8", explode(sequence(lit(0), lit(BootRepsPerHash - 1))))
      .withColumn("b", col("g") * BootRepsPerHash + col("s8"))
      .withColumn("u", conv(expr("substring(hg, s8 * 4 + 1, 4)"), 16, 10).cast(LongType))
      .withColumn("w", w)
      .groupBy("event_type", "b")
      .agg(sum(col("w") * col("v")).as("wsum"), sum(col("w")).cast(LongType).as("wn"))
      .withColumn("mean_b", col("wsum").cast(DoubleType) / col("wn").cast(DoubleType))
    val wrk = Window.partitionBy("event_type").orderBy(col("mean_b"), col("b"))
    val loRk = math.ceil(0.05 * BootB).toLong  // 4 of 64
    val hiRk = math.ceil(0.95 * BootB).toLong  // 61 of 64
    val ci = reps.withColumn("rk", row_number().over(wrk))
      .filter(col("rk") === loRk || col("rk") === hiRk)
      .groupBy("event_type")
      .agg(
        min(when(col("rk") === loRk, col("mean_b"))).as("lo95"),
        min(when(col("rk") === hiRk, col("mean_b"))).as("hi95"))
    val point = Tables.events(s, d)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        (sum(valDec).cast(DoubleType) / count(lit(1))).as("mean_value"))
    point.join(ci, Seq("event_type"))
      .select(col("event_type"), col("n"),
        round(col("mean_value"), 4).as("mean_value"),
        round(col("lo95"), 4).as("lo95"),
        round(col("hi95"), 4).as("hi95"))
      .orderBy("event_type")
  }
  private val r123Sql = {
    val wCase = PoisThresholds.zipWithIndex
      .map { case (t, _) => s"CASE WHEN u >= $t THEN 1 ELSE 0 END" }
      .mkString(" + ")
    s"""WITH reps AS (
       |  SELECT event_type, b,
       |         sum(w * v) AS wsum, CAST(sum(w) AS BIGINT) AS wn
       |  FROM (
       |    SELECT event_type, b, v, $wCase AS w
       |    FROM (
       |      SELECT e.event_id, e.event_type, CAST(e.value AS DECIMAL(18,2)) AS v,
       |             gs.g * $BootRepsPerHash + ss.s8 AS b,
       |             CAST(concat('0x', substring(md5(concat('boot:', CAST(gs.g AS VARCHAR),
       |                  ':', CAST(e.event_id AS VARCHAR))), ss.s8 * 4 + 1, 4)) AS BIGINT) AS u
       |      FROM events e
       |      CROSS JOIN (SELECT range AS g FROM range(0, ${BootB / BootRepsPerHash})) gs
       |      CROSS JOIN (SELECT range AS s8 FROM range(0, $BootRepsPerHash)) ss) t0) t1
       |  GROUP BY 1, 2),
       |means AS (
       |  SELECT event_type, b, CAST(wsum AS DOUBLE) / CAST(wn AS DOUBLE) AS mean_b,
       |         row_number() OVER (PARTITION BY event_type
       |                            ORDER BY CAST(wsum AS DOUBLE) / CAST(wn AS DOUBLE), b) AS rk
       |  FROM reps),
       |ci AS (
       |  SELECT event_type,
       |         min(CASE WHEN rk = ${math.ceil(0.05 * BootB).toInt} THEN mean_b END) AS lo95,
       |         min(CASE WHEN rk = ${math.ceil(0.95 * BootB).toInt} THEN mean_b END) AS hi95
       |  FROM means WHERE rk IN (${math.ceil(0.05 * BootB).toInt}, ${math.ceil(0.95 * BootB).toInt})
       |  GROUP BY 1),
       |pt AS (
       |  SELECT event_type, CAST(count(*) AS BIGINT) AS n,
       |         CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS mean_value
       |  FROM events GROUP BY 1)
       |SELECT p.event_type, p.n,
       |       round(p.mean_value, 4) AS mean_value,
       |       round(c.lo95, 4) AS lo95,
       |       round(c.hi95, 4) AS hi95
       |FROM pt p JOIN ci c ON p.event_type = c.event_type
       |ORDER BY p.event_type""".stripMargin
  }

  // --------------------- u29 histogram selectivity audit

  val SelBuckets = 10
  val SelPreds = 8

  /** u29: histogram SELECTIVITY audit — u26 grades join-size estimates;
    * this grades the other half of an optimizer's statistics: range-
    * predicate selectivity from a histogram with uniform-within-bucket
    * interpolation, against the exact count. The predicate grid is
    * deliberately offset by half-buckets so every estimate must
    * interpolate a partial bucket (the arm that goes wrong in real
    * optimizers), and the histogram is equi-width over the exact
    * DECIMAL [min, max] span.
    *
    * Exactness: bucket counts are BIGINT; bounds derive from exact
    * DECIMAL min/max cast once to double; estimates apply ONE fixed
    * overlap formula per (bucket, predicate) cell (≤ 80 rows) — IEEE-
    * identical. Scale shape: one aggregation builds the histogram, one
    * broadcast non-equi join of the 8-row predicate grid against the
    * fact table counts the truth (one scan), and the estimate join is
    * buckets × predicates — constant-sized. */
  private val u29: Fn = (s, d) => {
    val price = col("o_totalprice").cast(DecimalType(18, 2))
    val bounds = Tables.orders(s, d)
      .agg(min(price).cast(DoubleType).as("lo"), max(price).cast(DoubleType).as("hi"))
    val withB = Tables.orders(s, d)
      .select(price.cast(DoubleType).as("v"))
      .crossJoin(broadcast(bounds))
      .withColumn("bkt", least(lit(SelBuckets - 1),
        floor((col("v") - col("lo")) / ((col("hi") - col("lo")) / SelBuckets))
          .cast(IntegerType)))
    val hist = withB.groupBy("bkt").agg(count(lit(1)).as("cnt"))
    val preds = s.range(SelPreds).select(col("id").cast(IntegerType).as("pred_id"))
      .crossJoin(broadcast(bounds))
      .withColumn("plo", col("lo") + (col("pred_id") * 2 + 1) * (col("hi") - col("lo")) / 16)
      .withColumn("phi", col("lo") + (col("pred_id") * 2 + 3) * (col("hi") - col("lo")) / 16)
      .select("pred_id", "plo", "phi", "lo", "hi")
    val est = hist.crossJoin(broadcast(preds))
      .withColumn("w", (col("hi") - col("lo")) / SelBuckets)
      .withColumn("blo", col("lo") + col("bkt") * col("w"))
      .withColumn("bhi", col("lo") + (col("bkt") + 1) * col("w"))
      .withColumn("overlap",
        greatest(lit(0.0), least(col("bhi"), col("phi")) - greatest(col("blo"), col("plo"))))
      .groupBy("pred_id", "plo", "phi")
      .agg(sum(col("cnt") * col("overlap") / col("w")).as("est_rows"))
    val truth = Tables.orders(s, d).select(price.cast(DoubleType).as("v"))
      .join(broadcast(preds.select("pred_id", "plo", "phi")),
        col("v") >= col("plo") && col("v") < col("phi"))
      .groupBy("pred_id").agg(count(lit(1)).as("true_rows"))
    est.join(truth, Seq("pred_id"), "left")
      .select(col("pred_id"),
        round(col("plo"), 2).as("plo"), round(col("phi"), 2).as("phi"),
        round(col("est_rows"), 2).as("est_rows"),
        coalesce(col("true_rows"), lit(0L)).cast(LongType).as("true_rows"),
        round((col("est_rows") - coalesce(col("true_rows"), lit(0L))) /
          greatest(coalesce(col("true_rows"), lit(0L)), lit(1L)).cast(DoubleType), 4)
          .as("rel_err"))
      .orderBy("pred_id")
  }
  private val u29Sql =
    s"""WITH bounds AS (
       |  SELECT CAST(min(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS lo,
       |         CAST(max(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS hi
       |  FROM orders),
       |hist AS (
       |  SELECT least($SelBuckets - 1,
       |           CAST(floor((CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS DOUBLE) - b.lo) /
       |                      ((b.hi - b.lo) / $SelBuckets)) AS INTEGER)) AS bkt,
       |         CAST(count(*) AS BIGINT) AS cnt
       |  FROM orders CROSS JOIN bounds b GROUP BY 1),
       |preds AS (
       |  SELECT CAST(g.range AS INTEGER) AS pred_id,
       |         b.lo + (g.range * 2 + 1) * (b.hi - b.lo) / 16 AS plo,
       |         b.lo + (g.range * 2 + 3) * (b.hi - b.lo) / 16 AS phi,
       |         b.lo, b.hi
       |  FROM range(0, $SelPreds) g CROSS JOIN bounds b),
       |est AS (
       |  SELECT p.pred_id, p.plo, p.phi,
       |         sum(h.cnt * greatest(0.0,
       |               least(p.lo + (h.bkt + 1) * ((p.hi - p.lo) / $SelBuckets), p.phi) -
       |               greatest(p.lo + h.bkt * ((p.hi - p.lo) / $SelBuckets), p.plo)) /
       |             ((p.hi - p.lo) / $SelBuckets)) AS est_rows
       |  FROM hist h CROSS JOIN preds p
       |  GROUP BY 1, 2, 3),
       |truth AS (
       |  SELECT p.pred_id, CAST(count(*) AS BIGINT) AS true_rows
       |  FROM orders o JOIN preds p
       |    ON CAST(CAST(o.o_totalprice AS DECIMAL(18,2)) AS DOUBLE) >= p.plo
       |   AND CAST(CAST(o.o_totalprice AS DECIMAL(18,2)) AS DOUBLE) < p.phi
       |  GROUP BY 1)
       |SELECT e.pred_id, round(e.plo, 2) AS plo, round(e.phi, 2) AS phi,
       |       round(e.est_rows, 2) AS est_rows,
       |       COALESCE(t.true_rows, 0) AS true_rows,
       |       round((e.est_rows - COALESCE(t.true_rows, 0)) /
       |             CAST(greatest(COALESCE(t.true_rows, 0), 1) AS DOUBLE), 4) AS rel_err
       |FROM est e LEFT JOIN truth t ON e.pred_id = t.pred_id
       |ORDER BY e.pred_id""".stripMargin

  // --------------------- s34 IVF cell maintenance plan

  /** s34: IVF cell MAINTENANCE plan — between full rebuilds a live IVF
    * index drifts: inserts pile into hot cells, tombstones (s31) drain
    * others, and both hurt (oversized cells scan slow, undersized cells
    * waste probes). The maintenance pass a vector store schedules is
    * exactly this report: per cell its size, load factor vs the even
    * share, an action verdict — split when 2·size·C > 3·n (load > 1.5),
    * merge when 10·size·C < 9·n (load < 0.9), split when
    * 10·size·C > 11·n (load > 1.1) — integer algebra so both engines
    * decide identically on exact counts (the ±10% band is the policy
    * constant; it is deliberately tight enough that the fixture's
    * natural imbalance exercises BOTH verdicts at every SF, so the
    * action arms are graded, not just compiled) — and the nearest
    * other cell by seed-seed cosine as the canonical merge partner.
    *
    * Exactness: BIGINT sizes, integer action thresholds, the 4dp-grid
    * cosine for partners. Scale shape: assignment is the s03 map-only
    * broadcast rank (one pass over vectors), the report is C rows, and
    * the partner relation is C² seed pairs — constant next to the
    * corpus. */
  private val s34: Fn = (s, d) => {
    val C = 8
    val e = Tables.embeddings(s, d)
    val seeds = e.orderBy("vec_id").limit(C)
      .select(col("vec_id").as("seed_id"), col("embedding").as("sv"))
    val assign = e.crossJoin(broadcast(seeds))
      .withColumn("csim", round(VectorOps.cosine(col("embedding"), col("sv")), 4))
      .withColumn("ark", row_number().over(
        Window.partitionBy("vec_id").orderBy(desc("csim"), col("seed_id"))))
      .filter(col("ark") === 1)
    val sizes = assign.groupBy(col("seed_id").as("cell")).agg(count(lit(1)).as("size"))
    val tot = sizes.agg(sum(col("size")).cast(LongType).as("n"))
    val partners = seeds.select(col("seed_id").as("cell"), col("sv").as("v1"))
      .join(seeds.select(col("seed_id").as("partner_cell"), col("sv").as("v2")),
        col("cell") =!= col("partner_cell"))
      .withColumn("psim", round(VectorOps.cosine(col("v1"), col("v2")), 4))
      .withColumn("prk", row_number().over(
        Window.partitionBy("cell").orderBy(desc("psim"), col("partner_cell"))))
      .filter(col("prk") === 1)
      .select(col("cell"), col("partner_cell"), col("psim").as("partner_sim"))
    sizes.crossJoin(broadcast(tot))
      .withColumn("load_factor",
        round(col("size").cast(DoubleType) * C / col("n").cast(DoubleType), 4))
      .withColumn("action",
        when(col("size") * 10 * C > col("n") * 11, "split")
          .when(col("size") * 10 * C < col("n") * 9, "merge")
          .otherwise("ok"))
      .join(partners, Seq("cell"))
      .select("cell", "size", "load_factor", "action", "partner_cell", "partner_sim")
      .orderBy("cell")
  }
  private val s34Sql =
    s"""WITH seeds AS (
       |  SELECT vec_id AS seed_id, embedding AS sv FROM embeddings ORDER BY vec_id LIMIT 8),
       |assign AS (
       |  SELECT vec_id, seed_id FROM (
       |    SELECT e.vec_id, s.seed_id,
       |           row_number() OVER (PARTITION BY e.vec_id ORDER BY
       |             round(list_dot_product(e.embedding::DOUBLE[], s.sv::DOUBLE[]) /
       |                   sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[]) *
       |                        list_dot_product(s.sv::DOUBLE[], s.sv::DOUBLE[])), 4) DESC,
       |             s.seed_id) AS ark
       |    FROM embeddings e CROSS JOIN seeds s) t
       |  WHERE ark = 1),
       |sizes AS (SELECT seed_id AS cell, CAST(count(*) AS BIGINT) AS size FROM assign GROUP BY 1),
       |tot AS (SELECT CAST(sum(size) AS BIGINT) AS n FROM sizes),
       |partners AS (
       |  SELECT cell, partner_cell, psim AS partner_sim FROM (
       |    SELECT a.seed_id AS cell, b.seed_id AS partner_cell,
       |           round(list_dot_product(a.sv::DOUBLE[], b.sv::DOUBLE[]) /
       |                 sqrt(list_dot_product(a.sv::DOUBLE[], a.sv::DOUBLE[]) *
       |                      list_dot_product(b.sv::DOUBLE[], b.sv::DOUBLE[])), 4) AS psim,
       |           row_number() OVER (PARTITION BY a.seed_id ORDER BY
       |             round(list_dot_product(a.sv::DOUBLE[], b.sv::DOUBLE[]) /
       |                   sqrt(list_dot_product(a.sv::DOUBLE[], a.sv::DOUBLE[]) *
       |                        list_dot_product(b.sv::DOUBLE[], b.sv::DOUBLE[])), 4) DESC,
       |             b.seed_id) AS prk
       |    FROM seeds a JOIN seeds b ON a.seed_id <> b.seed_id) t
       |  WHERE prk = 1)
       |SELECT s.cell, s.size,
       |       round(CAST(s.size AS DOUBLE) * 8 / CAST(t.n AS DOUBLE), 4) AS load_factor,
       |       CASE WHEN s.size * 80 > t.n * 11 THEN 'split'
       |            WHEN s.size * 80 < t.n * 9 THEN 'merge'
       |            ELSE 'ok' END AS action,
       |       p.partner_cell, p.partner_sim
       |FROM sizes s CROSS JOIN tot t JOIN partners p ON p.cell = s.cell
       |ORDER BY s.cell""".stripMargin

  // --------------------- p34 sample representativeness audit

  /** p34: sample REPRESENTATIVENESS audit — the p02 sampling coin keeps
    * ~12% of the corpus; before that sample backs an eval (or a
    * human-rating batch), the QA question is whether it mirrors the
    * corpus across the strata the sampler did NOT key on. This audits
    * the SOURCE axis: per source the corpus count, the sampled count,
    * the expected count under the global rate, and the chi-square
    * contribution — the per-cell evidence a skewed sampler leaves.
    *
    * Exactness: integer counts; expected = corpus·S/N is one fixed
    * double expression, the contribution one more — IEEE-identical.
    * Scale shape: ONE pass computes per-source (corpus, sampled) via
    * conditional aggregation; totals ride a broadcast 1-row aggregate;
    * output is source-domain-sized. */
  private val p34: Fn = (s, d) => {
    val kept = (graft.functions.DetHash.mdBucket(col("doc_id"), "sample:", 1000) < 120)
      .cast(LongType)
    val per = docs(s, d).select(col("source"), kept.as("kept"))
      .groupBy("source")
      .agg(count(lit(1)).as("corpus_n"), sum(col("kept")).cast(LongType).as("sample_n"))
    val tot = per.agg(sum(col("corpus_n")).cast(LongType).as("nn"),
      sum(col("sample_n")).cast(LongType).as("ss"))
    per.crossJoin(broadcast(tot))
      .withColumn("expected",
        col("corpus_n").cast(DoubleType) * col("ss").cast(DoubleType) /
          col("nn").cast(DoubleType))
      .select(col("source"), col("corpus_n"), col("sample_n"),
        round(col("expected"), 4).as("expected"),
        round((col("sample_n") - col("expected")) * (col("sample_n") - col("expected")) /
          col("expected"), 4).as("chi2_contrib"))
      .orderBy("source")
  }
  private val p34Sql = {
    val b = graft.functions.DetHash.mdBucketSql("doc_id", "sample:", 1000)
    s"""WITH per AS (
       |  SELECT source, CAST(count(*) AS BIGINT) AS corpus_n,
       |         CAST(sum(CASE WHEN $b < 120 THEN 1 ELSE 0 END) AS BIGINT) AS sample_n
       |  FROM documents GROUP BY 1),
       |tot AS (SELECT CAST(sum(corpus_n) AS BIGINT) AS nn,
       |               CAST(sum(sample_n) AS BIGINT) AS ss FROM per)
       |SELECT p.source, p.corpus_n, p.sample_n,
       |       round(CAST(p.corpus_n AS DOUBLE) * CAST(t.ss AS DOUBLE) / CAST(t.nn AS DOUBLE), 4) AS expected,
       |       round((p.sample_n - CAST(p.corpus_n AS DOUBLE) * CAST(t.ss AS DOUBLE) / CAST(t.nn AS DOUBLE)) *
       |             (p.sample_n - CAST(p.corpus_n AS DOUBLE) * CAST(t.ss AS DOUBLE) / CAST(t.nn AS DOUBLE)) /
       |             (CAST(p.corpus_n AS DOUBLE) * CAST(t.ss AS DOUBLE) / CAST(t.nn AS DOUBLE)), 4) AS chi2_contrib
       |FROM per p CROSS JOIN tot t
       |ORDER BY p.source""".stripMargin
  }

  // --------------------- m21 deterministic eval tray

  val TrayPerMime = 5

  /** m21: multimodal EVAL TRAY export — human-eval and red-team review
    * need a small per-modality asset sample that is (a) unbiased, (b)
    * identical on every rerun, and (c) verifiable after transport; the
    * tray is the per-mime [[TrayPerMime]] lowest md5-coin assets with
    * their manifest byte counts and a payload checksum, so the reviewer
    * tool can prove it rendered exactly the audited bytes (the m20
    * integrity contract riding along).
    *
    * Exactness: the tray coin is the portable md5 discipline; the
    * checksum is md5 over payload bytes (ASCII fixture ⇒ identical to
    * the oracle's text md5). Scale shape: one per-mime rank window over
    * the coin (TopK rewrite eligible), per-row projections otherwise —
    * payloads never shuffle except the ≤ mime·[[TrayPerMime]] tray
    * rows. */
  private val m21: Fn = (s, d) => {
    val assets = graft.multimodal.Multimodal.attachPayload(docs(s, d))
      .select(col("doc_id"), col("meta.mime").as("mime"),
        col("meta.n_bytes").cast(LongType).as("n_bytes"), col("payload"))
      .withColumn("coin", DetHash.coin(col("doc_id"), "tray:"))
    assets
      .withColumn("rk", row_number().over(
        Window.partitionBy("mime").orderBy(col("coin"), col("doc_id"))).cast(LongType))
      .filter(col("rk") <= TrayPerMime)
      .select(col("mime"), col("rk"), col("doc_id"), col("n_bytes"),
        md5(col("payload")).as("payload_md5"))
      .orderBy("mime", "rk")
  }
  private val m21Sql =
    s"""WITH assets AS (
       |  SELECT doc_id,
       |         CASE WHEN source = 'src0' THEN 'image/png'
       |              WHEN source = 'src1' THEN 'audio/wav'
       |              ELSE 'video/mp4' END AS mime,
       |         CAST(strlen(text) AS BIGINT) AS n_bytes,
       |         md5(text) AS payload_md5,
       |         CAST(${md5PrefixSql("concat('tray:', CAST(doc_id AS VARCHAR))", 6)} AS BIGINT) AS coin
       |  FROM documents)
       |SELECT mime, CAST(rk AS BIGINT) AS rk, doc_id, n_bytes, payload_md5
       |FROM (SELECT *, row_number() OVER (PARTITION BY mime ORDER BY coin, doc_id) AS rk
       |      FROM assets) t
       |WHERE rk <= $TrayPerMime
       |ORDER BY mime, rk""".stripMargin

  val all: Seq[Q] = Seq(
    Q("r123_poisson_bootstrap", r123, Some(r123Sql)),
    Q("u29_selectivity_audit", u29, Some(u29Sql)),
    Q("s34_ivf_maintenance", s34, Some(s34Sql)),
    Q("p34_sample_representativeness", p34, Some(p34Sql)),
    Q("m21_eval_tray", m21, Some(m21Sql)))
}
