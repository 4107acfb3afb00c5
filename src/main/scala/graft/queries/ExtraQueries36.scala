package graft.queries

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType, IntegerType, LongType}
import graft.Tables
import graft.functions.PortableHash.{md5Prefix, md5PrefixSql}
import graft.queries.Relational.{Fn, Q}

/** Round-11 batch 38: drift, packing economics, and two estimator
  * families the registry lacked — the Page–Hinkley changepoint detector
  * (the min-tracking sibling of r81's CUSUM), a context-length sweep of
  * sequence-packing efficiency (p03's kernel turned into the capacity
  * curve an infra team actually sizes against), a bipartite-projection
  * similarity graph (user×event-type, the projection step every
  * collaborative signal starts from), cross-source shingle novelty (how
  * much of a crawl is new against every other crawl), and bottom-k
  * sketch resemblance — the third MinHash estimator family next to d04's
  * per-permutation signatures and d25's b-bit compression.
  */
object ExtraQueries36 {

  private def dec(c: Column): Column = c.cast(DecimalType(38, 0))

  /** Per-doc 60-bit shingle keys, hash-distinct INSIDE the doc array
    * (round 12): the oracle's `sh` relation dedups on the HASH level
    * via list_distinct — mirroring that map-side makes every (doc_id,
    * sk) row distinct by construction, so consumers need no global
    * DISTINCT exchange over the shingle mass (d35 paid one purely to
    * pin down the birthday-collision case the oracle already folds). */
  private def shingleHashes(s: SparkSession, d: String) =
    DedupQueries.shingledOf(Tables.documents(s, d))
      .select(col("doc_id"),
        explode(array_distinct(transform(col("shingles"), md5Prefix(_, 15)))).as("sk"))

  private val ShingleSqlHash =
    md5PrefixSql("sp[i] || ' ' || sp[i+1] || ' ' || sp[i+2] || ' ' || sp[i+3] || ' ' || sp[i+4]", 15)
  private val ShingleSqlRel =
    s"""SELECT doc_id, source, unnest(list_distinct(list_transform(
       |         range(1, len(sp) - 5 + 2), i -> $ShingleSqlHash))) AS sk
       |FROM (SELECT doc_id, source, string_split(text, ' ') AS sp FROM documents) t0""".stripMargin

  // --------------------- r139 Page–Hinkley drift detector

  /** r139: the Page–Hinkley changepoint statistic over each event
    * type's daily-value series — the min-tracking detector that pairs
    * with r81's CUSUM (CUSUM integrates deviation from the mean; PH
    * reports the largest rise of that walk above its running minimum,
    * which is the classic "drift after a quiet period" alarm). Batch
    * two-pass form: deviations are against the series' global mean,
    * the production streaming twin would maintain the walk
    * incrementally exactly like [[graft.streaming.StreamingOps.Cusum]].
    *
    * Exactness: daily sums in cents; deviations in the cents·n_days
    * integer scale (s·N − T − δ·N with δ = 50 cents, all DECIMAL(38,0)
    * — no division until the end), the walk and its running minimum are
    * decimal window folds (exact at any order), and the published
    * statistic is ONE double division by 100·N rounded 4dp. peak_day
    * ties break to the earliest day by decimal equality.
    * Scale shape: one partial-agg shuffle to the (type, day) grain —
    * after that every window is partitioned by event_type over
    * calendar-bounded rows (the r96 class); nothing corpus-sized sorts
    * globally. */
  private val r139: Fn = (s, d) => {
    val ev = Tables.events(s, d)
    val d0 = ev.agg(min(to_date(col("ts"))).as("d0"))
    val daily = ev.crossJoin(broadcast(d0))
      .select(col("event_type"),
        datediff(to_date(col("ts")), col("d0")).cast(LongType).as("day"),
        (col("value").cast(DecimalType(18, 2)) * 100).cast(LongType).as("cents"))
      .groupBy("event_type", "day")
      .agg(sum(col("cents")).cast(LongType).as("sc"))
    val tot = daily.groupBy("event_type")
      .agg(count(lit(1)).cast(LongType).as("n_days"), sum(col("sc")).cast(LongType).as("t"))
    val wOrd = Window.partitionBy("event_type").orderBy("day")
    val walk = daily.join(tot, "event_type")
      .select(col("event_type"), col("day"), col("n_days"),
        (dec(col("sc")) * col("n_days") - col("t") - lit(50L) * col("n_days")).as("dv"))
      .withColumn("m", sum(col("dv")).over(wOrd))
    val ph = walk.withColumn("ph_t", col("m") - min(col("m")).over(wOrd))
      .withColumn("mxph", max(col("ph_t")).over(Window.partitionBy("event_type")))
    ph.groupBy("event_type")
      .agg(max(col("n_days")).cast(LongType).as("n_days"),
        round(max(col("ph_t")).cast(DoubleType) / (lit(100.0) * max(col("n_days"))), 4)
          .as("ph_stat"),
        min(when(col("ph_t") === col("mxph"), col("day"))).cast(LongType).as("peak_day"))
      .orderBy("event_type")
  }
  private val r139Sql =
    """WITH daily AS (
      |  SELECT event_type,
      |         CAST(date_diff('day', (SELECT min(date_trunc('day', ts)) FROM events),
      |                        date_trunc('day', ts)) AS BIGINT) AS day,
      |         CAST(sum(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS sc
      |  FROM events GROUP BY 1, 2),
      |tot AS (
      |  SELECT event_type, CAST(count(*) AS BIGINT) AS n_days, CAST(sum(sc) AS BIGINT) AS t
      |  FROM daily GROUP BY 1),
      |walk AS (
      |  SELECT d.event_type, d.day, t.n_days,
      |         sum(CAST(d.sc AS DECIMAL(38,0)) * t.n_days - t.t - 50 * t.n_days)
      |           OVER (PARTITION BY d.event_type ORDER BY d.day) AS m
      |  FROM daily d JOIN tot t USING (event_type)),
      |ph AS (
      |  SELECT event_type, day, n_days,
      |         m - min(m) OVER (PARTITION BY event_type ORDER BY day) AS ph_t
      |  FROM walk),
      |mx AS (SELECT *, max(ph_t) OVER (PARTITION BY event_type) AS mxph FROM ph)
      |SELECT event_type, CAST(max(n_days) AS BIGINT) AS n_days,
      |       round(CAST(max(ph_t) AS DOUBLE) / (100.0 * max(n_days)), 4) AS ph_stat,
      |       CAST(min(CASE WHEN ph_t = mxph THEN day END) AS BIGINT) AS peak_day
      |FROM mx GROUP BY 1 ORDER BY 1""".stripMargin

  // --------------------- p40 packing-efficiency curve

  /** p40: sequence-packing efficiency SWEPT over context lengths
    * {256, 512, 1024, 2048} — p03 packs at one budget; this is the
    * capacity curve that decides the budget (fill rate, bin count, and
    * how many documents straddle a boundary at each candidate context
    * length — the straddle count is the truncation/fragmentation cost a
    * longer context buys down).
    *
    * Exactness: pure integer window cumsum + floor division per grid
    * point; fill_rate is ONE double division rounded 6dp. Scale shape:
    * the cumsum is p03's source-partitioned running sum (no global
    * sort), computed ONCE and cross-joined against the broadcast 4-row
    * grid; per-(source, L) partial aggs roll up to the 4-row curve. */
  private val p40: Fn = (s, d) => {
    val grid = s.range(4)
      .select(expr("CAST(shiftleft(256, CAST(id AS INT)) AS BIGINT)").as("ctx_len"))
    val w = Window.partitionBy("source").orderBy("doc_id")
    val cum = Tables.documents(s, d)
      .select(col("source"), col("doc_id"),
        size(split(col("text"), " ")).cast(LongType).as("ntok"))
      .withColumn("before_tok", sum(col("ntok")).over(w) - col("ntok"))
    val packed = cum.crossJoin(broadcast(grid))
      .select(col("ctx_len"), col("source"), col("ntok"),
        floor(col("before_tok") / col("ctx_len")).cast(LongType).as("bin_first"),
        floor((col("before_tok") + col("ntok") - 1) / col("ctx_len")).cast(LongType).as("bin_last"))
    val perSrc = packed.groupBy("ctx_len", "source")
      .agg(count(lit(1)).cast(LongType).as("n_docs"),
        sum(col("ntok")).cast(LongType).as("toks"),
        (max(col("bin_last")) + 1).cast(LongType).as("bins"),
        sum(when(col("bin_last") > col("bin_first"), 1L).otherwise(0L))
          .cast(LongType).as("straddlers"))
    perSrc.groupBy("ctx_len")
      .agg(sum(col("n_docs")).cast(LongType).as("n_docs"),
        sum(col("toks")).cast(LongType).as("total_tokens"),
        sum(col("bins")).cast(LongType).as("n_bins"),
        sum(col("straddlers")).cast(LongType).as("straddlers"),
        round(sum(col("toks")).cast(DoubleType) /
          (sum(col("bins")).cast(DoubleType) * col("ctx_len")), 6).as("fill_rate"))
      .orderBy("ctx_len")
  }
  private val p40Sql =
    """WITH toks AS (
      |  SELECT source, doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS ntok
      |  FROM documents),
      |cum AS (
      |  SELECT source, ntok,
      |         CAST(sum(ntok) OVER (PARTITION BY source ORDER BY doc_id) - ntok AS BIGINT)
      |           AS before_tok
      |  FROM toks),
      |grid AS (SELECT CAST(unnest([256, 512, 1024, 2048]) AS BIGINT) AS ctx_len),
      |packed AS (
      |  SELECT g.ctx_len, c.source, c.ntok,
      |         c.before_tok // g.ctx_len AS bin_first,
      |         (c.before_tok + c.ntok - 1) // g.ctx_len AS bin_last
      |  FROM cum c CROSS JOIN grid g),
      |persrc AS (
      |  SELECT ctx_len, source, CAST(count(*) AS BIGINT) AS n_docs,
      |         CAST(sum(ntok) AS BIGINT) AS toks,
      |         CAST(max(bin_last) + 1 AS BIGINT) AS bins,
      |         CAST(sum(CASE WHEN bin_last > bin_first THEN 1 ELSE 0 END) AS BIGINT)
      |           AS straddlers
      |  FROM packed GROUP BY 1, 2)
      |SELECT ctx_len, CAST(sum(n_docs) AS BIGINT) AS n_docs,
      |       CAST(sum(toks) AS BIGINT) AS total_tokens,
      |       CAST(sum(bins) AS BIGINT) AS n_bins,
      |       CAST(sum(straddlers) AS BIGINT) AS straddlers,
      |       round(CAST(sum(toks) AS DOUBLE) / (CAST(sum(bins) AS DOUBLE) * ctx_len), 6)
      |         AS fill_rate
      |FROM persrc GROUP BY 1 ORDER BY 1""".stripMargin

  // --------------------- s39 bipartite projection similarity

  /** s39: bipartite-projection similarity — project the user×event-type
    * bipartite graph onto users and rank user pairs by cosine of their
    * type-count vectors (top 50). This is the projection step every
    * collaborative-filtering / co-engagement signal starts from; the
    * s10 kNN family works in embedding space, this one in interaction
    * space.
    *
    * Candidate policy (PART OF THE SPEC, the d19/capBuckets
    * discipline): pairs are generated among each type's
    * [[S39ActiveCap]] most-active users (count desc, user_id
    * tiebreak). The cap covers EVERY fixture user at all three oracle
    * SFs (≤1,500 users/type vs 4,096), so the oracle is exact there,
    * and it is what keeps the projection join LINEAR at corpus scale —
    * the round-11 sf10 probe measured the uncapped join at ~5·10^10
    * pair rows (150k users/type), the textbook quadratic this engine
    * never ships. NORMS use full vectors; the NUMERATOR sums only over
    * event types where both users are inside the cap, so past the cap
    * a reported cosine is a truncated-dot-product UNDERESTIMATE (both
    * engines agree; at the oracle SFs the cap covers every user, so
    * the values there are the exact full-vector cosines).
    *
    * Exactness: counts and dot products are exact BIGINTs (products
    * dec-lifted into the sum); cosine is one double division against a
    * product of two exact-int doubles (each < 2^53 here) rounded 6dp,
    * with (cosine desc, ua, ub) a total order. Scale shape: the
    * projection join is keyed by event_type with per-type fanout
    * bounded by the candidate cap; the close is the native TopK
    * operator, never a global sort. */
  private val S39ActiveCap = 4096
  private val s39: Fn = (s, d) => {
    val c = Tables.events(s, d)
      .groupBy("user_id", "event_type").agg(count(lit(1)).as("c"))
    val nrm = c.groupBy("user_id")
      .agg(sum(dec(col("c")) * col("c")).cast(LongType).as("nrm"))
    val cand = c.withColumn("rk", row_number().over(
        Window.partitionBy("event_type").orderBy(desc("c"), col("user_id"))))
      .filter(col("rk") <= S39ActiveCap)
    // Examined for the r119 salt treatment (the projection join is keyed
    // on event_type alone) and REVERTED on measurement: salted 8 ways it
    // benched 4.96 s warm / 17.6 s cold-rep vs 4.02 s unsalted at sf0.1
    // (full-run context). The pair mass is CAP-bounded (≤ cap²/2 per
    // type at any corpus scale), so like r102 the reducer ceiling is a
    // fixed cost, not a scale blocker, and the salt's replicated
    // exchange + wider aggregation key only added overhead.
    val a = cand.select(col("event_type"), col("user_id").as("ua"), col("c").as("ca"))
    val b = cand.select(col("event_type"), col("user_id").as("ub"), col("c").as("cb"))
    a.join(b, Seq("event_type")).filter(col("ua") < col("ub"))
      .groupBy("ua", "ub")
      .agg(sum(dec(col("ca")) * col("cb")).cast(LongType).as("num"))
      .join(nrm.select(col("user_id").as("ua"), col("nrm").as("na")), Seq("ua"))
      .join(nrm.select(col("user_id").as("ub"), col("nrm").as("nb")), Seq("ub"))
      .select(col("ua"), col("ub"),
        round(col("num").cast(DoubleType) /
          sqrt(col("na").cast(DoubleType) * col("nb").cast(DoubleType)), 6).as("cosine"))
      .orderBy(desc("cosine"), col("ua"), col("ub"))
      .limit(50)
  }
  private val s39Sql =
    """WITH c AS (
      |  SELECT user_id, event_type, CAST(count(*) AS BIGINT) AS c
      |  FROM events GROUP BY 1, 2),
      |nrm AS (
      |  SELECT user_id, CAST(sum(CAST(c AS DECIMAL(38,0)) * c) AS BIGINT) AS nrm
      |  FROM c GROUP BY 1),
      |cand AS (
      |  SELECT user_id, event_type, c FROM (
      |    SELECT *, row_number() OVER (PARTITION BY event_type ORDER BY c DESC, user_id) AS rk
      |    FROM c)
      |  WHERE rk <= 4096),
      |num AS (
      |  SELECT a.user_id AS ua, b.user_id AS ub,
      |         CAST(sum(CAST(a.c AS DECIMAL(38,0)) * b.c) AS BIGINT) AS num
      |  FROM cand a JOIN cand b ON a.event_type = b.event_type AND a.user_id < b.user_id
      |  GROUP BY 1, 2)
      |SELECT ua, ub,
      |       round(CAST(num AS DOUBLE) /
      |             sqrt(CAST(na.nrm AS DOUBLE) * CAST(nb.nrm AS DOUBLE)), 6) AS cosine
      |FROM num JOIN nrm na ON na.user_id = num.ua JOIN nrm nb ON nb.user_id = num.ub
      |ORDER BY cosine DESC, ua, ub LIMIT 50""".stripMargin

  // --------------------- t48 cross-source shingle novelty

  /** t48: cross-source novelty — per source, how much of its 5-gram
    * shingle vocabulary appears in NO other source. The acquisition
    * question ("does this crawl add anything?") asked at the shingle
    * grain, where the fixture's planted dup families actually share
    * material (token-set overlap would call everything shared — the d02
    * lesson). max_spread is the breadth of the most-shared shingle.
    *
    * Exactness: distinct counting on the packed 60-bit shingle grain,
    * one rounded division per source. Scale shape (round-12 rewrite):
    * ONE shuffle of the shingle mass — `collect_set(source)` per
    * shingle key is the two-level distinct (map-side partial sets
    * collapse same-partition repeats before the exchange, and the set
    * is bounded by |sources|), spread ns = set size, and the per-source
    * rollup reads the exploded set — a |types|·|sources|-bounded
    * relation. The round-11 plan computed the md5 shingle subtree
    * TWICE (bySrc fed both the spread aggregate and a sort-merge
    * self-join on sk) and paid three shingle-mass exchanges; nothing
    * wider than (BIGINT, bounded set) moves now. */
  private val t48: Fn = (s, d) => {
    val perSk = shingleHashes(s, d)
      .join(Tables.documents(s, d).select("doc_id", "source"), "doc_id")
      .groupBy("sk").agg(collect_set(col("source")).as("srcs"))
      .select(size(col("srcs")).cast(LongType).as("ns"), explode(col("srcs")).as("source"))
    perSk.groupBy("source")
      .agg(count(lit(1)).cast(LongType).as("n_types"),
        sum(when(col("ns") === 1, 1L).otherwise(0L)).cast(LongType).as("unique_types"),
        round(sum(when(col("ns") === 1, 1L).otherwise(0L)).cast(DoubleType) /
          count(lit(1)).cast(DoubleType), 6).as("novelty"),
        max(col("ns")).cast(LongType).as("max_spread"))
      .orderBy("source")
  }
  private val t48Sql =
    s"""WITH sh AS (
       |  SELECT DISTINCT source, sk FROM ($ShingleSqlRel) t1),
       |spread AS (
       |  SELECT sk, CAST(count(*) AS BIGINT) AS ns FROM sh GROUP BY 1)
       |SELECT source,
       |       CAST(count(*) AS BIGINT) AS n_types,
       |       CAST(sum(CASE WHEN ns = 1 THEN 1 ELSE 0 END) AS BIGINT) AS unique_types,
       |       round(CAST(sum(CASE WHEN ns = 1 THEN 1 ELSE 0 END) AS DOUBLE) / count(*), 6)
       |         AS novelty,
       |       CAST(max(ns) AS BIGINT) AS max_spread
       |FROM sh JOIN spread USING (sk)
       |GROUP BY 1 ORDER BY 1""".stripMargin

  // --------------------- d35 bottom-k sketch resemblance

  /** d35: bottom-k sketch dedup — the THIRD MinHash estimator family:
    * d04 keeps one minimum per permutation, d25 keeps b bits of each,
    * bottom-k keeps the k smallest values of ONE hash function. Its
    * estimator: merge both docs' bottom-k lists, take the k smallest of
    * the union, and count how many sit in both sketches — shared/k is
    * an unbiased resemblance estimate, and unlike per-permutation
    * MinHash the sketch doubles as a distinct-count sample. Pairs at
    * estimate ≥ 0.5 are reported (the planted prefix-dup families).
    *
    * Exactness: everything up to the last column is integer (60-bit
    * packed hashes, ranks, indicator sums); bk_resemblance is shared/8
    * — a dyadic division, exact in binary. Scale shape: candidates come
    * from equi-joins on bottom-k hash values (never all-pairs; a
    * boilerplate-heavy corpus would cap these buckets exactly like
    * d04's capBuckets, and the per-pair merge relation is ≤ 2k rows by
    * construction). */
  private val d35: Fn = (s, d) => {
    // Bottom-8 per doc straight off the per-doc hash array (round 12):
    // `slice(array_sort(...), 1, 8)` is the k smallest of the doc's
    // hash-distinct shingle keys computed MAP-SIDE — the round-11 plan
    // paid a global DISTINCT exchange (a no-op: rows are per-doc
    // distinct by construction, the oracle's list_distinct grain) plus
    // a doc-keyed row_number window over the full shingle mass just to
    // select 8 rows per doc. Identical sketch: same keys, same order.
    val bk = DedupQueries.shingledOf(Tables.documents(s, d))
      .select(col("doc_id"), explode(
        slice(array_sort(array_distinct(transform(col("shingles"), md5Prefix(_, 15)))), 1, 8))
        .as("sk"))
    val cand = bk.select(col("doc_id").as("da"), col("sk"))
      .join(bk.select(col("doc_id").as("db"), col("sk")), Seq("sk"))
      .filter(col("da") < col("db"))
      .select(col("da").as("d1"), col("db").as("d2")).distinct()
    val ha = cand.join(bk.withColumnRenamed("doc_id", "d1"), Seq("d1"))
      .select(col("d1"), col("d2"), col("sk"), lit(1L).as("in_a"), lit(0L).as("in_b"))
    val hb = cand.join(bk.withColumnRenamed("doc_id", "d2"), Seq("d2"))
      .select(col("d1"), col("d2"), col("sk"), lit(0L).as("in_a"), lit(1L).as("in_b"))
    val merged = ha.unionByName(hb)
      .groupBy("d1", "d2", "sk")
      .agg(max(col("in_a")).as("in_a"), max(col("in_b")).as("in_b"))
      .withColumn("rk", row_number().over(Window.partitionBy("d1", "d2").orderBy("sk")))
    merged.groupBy("d1", "d2")
      .agg(sum(when(col("rk") <= 8 && col("in_a") === 1 && col("in_b") === 1, 1L)
        .otherwise(0L)).cast(LongType).as("shared_bk"))
      .filter(col("shared_bk") >= 4)
      .select(col("d1"), col("d2"), col("shared_bk"),
        round(col("shared_bk").cast(DoubleType) / 8, 6).as("bk_resemblance"))
      .orderBy("d1", "d2")
  }
  private val d35Sql =
    s"""WITH sh AS (
       |  SELECT DISTINCT doc_id, sk FROM ($ShingleSqlRel) t1),
       |bk AS (
       |  SELECT doc_id, sk FROM (
       |    SELECT doc_id, sk, row_number() OVER (PARTITION BY doc_id ORDER BY sk) AS rk
       |    FROM sh)
       |  WHERE rk <= 8),
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
       |  FROM bk a JOIN bk b ON a.sk = b.sk AND a.doc_id < b.doc_id),
       |pairhash AS (
       |  SELECT c.d1, c.d2, u.sk,
       |         max(CASE WHEN u.doc_id = c.d1 THEN 1 ELSE 0 END) AS in_a,
       |         max(CASE WHEN u.doc_id = c.d2 THEN 1 ELSE 0 END) AS in_b
       |  FROM cand c JOIN bk u ON u.doc_id IN (c.d1, c.d2)
       |  GROUP BY 1, 2, 3),
       |ranked AS (
       |  SELECT d1, d2, in_a, in_b,
       |         row_number() OVER (PARTITION BY d1, d2 ORDER BY sk) AS rk
       |  FROM pairhash)
       |SELECT d1, d2,
       |       CAST(sum(CASE WHEN rk <= 8 AND in_a = 1 AND in_b = 1 THEN 1 ELSE 0 END) AS BIGINT)
       |         AS shared_bk,
       |       round(CAST(sum(CASE WHEN rk <= 8 AND in_a = 1 AND in_b = 1 THEN 1 ELSE 0 END)
       |             AS DOUBLE) / 8, 6) AS bk_resemblance
       |FROM ranked GROUP BY 1, 2
       |HAVING sum(CASE WHEN rk <= 8 AND in_a = 1 AND in_b = 1 THEN 1 ELSE 0 END) >= 4
       |ORDER BY d1, d2""".stripMargin

  val all: Seq[Q] = Seq(
    Q("r139_page_hinkley", r139, Some(r139Sql)),
    Q("p40_packing_curve", p40, Some(p40Sql)),
    Q("s39_bipartite_projection", s39, Some(s39Sql)),
    Q("t48_source_novelty", t48, Some(t48Sql)),
    Q("d35_bottomk_resemblance", d35, Some(d35Sql)))
}
