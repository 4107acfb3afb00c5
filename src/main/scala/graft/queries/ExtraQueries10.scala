package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType, LongType, StringType}
import graft.Tables
import graft.functions.PortableHash.{md5Prefix, md5PrefixSql}
import graft.queries.Relational.{Fn, Q, money}

/** Round-7 batch 10: Monte-Carlo permutation testing, predictive
  * backtesting of the Markov model, windowed lexical diversity (MATTR),
  * a column-encoding (run-length) audit for storage planning, and
  * watermark/late-data accounting over a simulated out-of-order ingest.
  *
  * Same determinism discipline as ExtraQueries3–9: portable md5-derived
  * hashes, exact integer/decimal sufficient statistics, one rounded
  * double per output cell with a mirrored expression tree.
  */
object ExtraQueries10 {

  private def orders(s: SparkSession, d: String) = Tables.orders(s, d)
  private def lineitem(s: SparkSession, d: String) = Tables.lineitem(s, d)
  private def customer(s: SparkSession, d: String) = Tables.customer(s, d)
  private def events(s: SparkSession, d: String) = Tables.events(s, d)
  private def docs(s: SparkSession, d: String) = Tables.documents(s, d)

  // ---------------------------------------- r103 permutation test

  val PermB = 100
  val PermSegA = "BUILDING"
  val PermSegB = "MACHINERY"

  /** r103: Monte-Carlo randomization test for the difference in mean
    * order value between two customer segments — the distribution-free
    * alternative to r71's z-test when no variance model is trusted:
    * re-randomize the group labels [[PermB]] times (portable md5 coin
    * per (round, order)), recompute the mean difference under each
    * relabeling, and count how often |Δ_perm| ≥ |Δ_observed|.
    *
    * Exactness: the exceedance comparison |Sa·nb − Sb·na|·(na₀·nb₀) ≥
    * |Sa₀·nb₀ − Sb₀·na₀|·(na·nb) is evaluated in DECIMAL(38,0)
    * (HUGEINT on the DuckDB side) — cross-multiplied so NO per-round
    * division ever happens; cents sums (≤1e13) × counts (≤1e6) ×
    * count-products stay < 1e27, far inside both engines' 38-digit
    * exact range. The observed means and p-value are the only rounded
    * doubles.
    * Scale shape: the corpus is scanned once into (id, cents) rows;
    * the [[PermB]]-fold replication is a map-side explode feeding ONE
    * B-row aggregation (partial aggregation collapses each partition
    * to B rows before the shuffle), so the test costs B map passes and
    * a constant-size reduce — the standard way to buy hypothesis tests
    * at 100 TB without collecting anything. */
  private val r103: Fn = (s, d) => {
    val rows = orders(s, d)
      .join(customer(s, d).filter(col("c_mktsegment").isin(PermSegA, PermSegB)),
        col("o_custkey") === col("c_custkey"))
      .select(col("o_orderkey"), col("c_mktsegment").as("seg"),
        (money(col("o_totalprice")) * 100).cast(LongType).as("cents"))
    val obs = rows.agg(
      sum(when(col("seg") === PermSegA, col("cents")).otherwise(0L)).as("sa"),
      sum(when(col("seg") === PermSegA, 1L).otherwise(0L)).as("na"),
      sum(when(col("seg") === PermSegB, col("cents")).otherwise(0L)).as("sb"),
      sum(when(col("seg") === PermSegB, 1L).otherwise(0L)).as("nb"))
    val perm = rows
      .select(col("o_orderkey"), col("cents"),
        explode(sequence(lit(1), lit(PermB))).as("b"))
      .withColumn("flip", md5Prefix(concat(col("b"), lit(":"), col("o_orderkey")), 8) % 2)
      .groupBy("b")
      .agg(sum(when(col("flip") === 0, col("cents")).otherwise(0L)).as("psa"),
        sum(when(col("flip") === 0, 1L).otherwise(0L)).as("pna"),
        sum(when(col("flip") === 1, col("cents")).otherwise(0L)).as("psb"),
        sum(when(col("flip") === 1, 1L).otherwise(0L)).as("pnb"))
    val d38 = DecimalType(38, 0)
    def dec(c: org.apache.spark.sql.Column) = c.cast(d38)
    val joined = perm.crossJoin(broadcast(obs))
    val permDiffAbs = abs(dec(col("psa")) * dec(col("pnb")) - dec(col("psb")) * dec(col("pna")))
    val obsDiffAbs = abs(dec(col("sa")) * dec(col("nb")) - dec(col("sb")) * dec(col("na")))
    val exceed = joined.agg(
      sum(when(permDiffAbs * dec(col("na")) * dec(col("nb")) >=
        obsDiffAbs * dec(col("pna")) * dec(col("pnb")), 1L).otherwise(0L)).as("b_exceed"))
    obs.crossJoin(broadcast(exceed))
      .select(col("na"), col("nb"),
        round(col("sa").cast(DoubleType) / col("na").cast(DoubleType) / 100.0, 6).as("mean_a"),
        round(col("sb").cast(DoubleType) / col("nb").cast(DoubleType) / 100.0, 6).as("mean_b"),
        col("b_exceed"),
        round((col("b_exceed").cast(DoubleType) + 1.0) / (lit(PermB).cast(DoubleType) + 1.0), 6)
          .as("p_value"))
  }

  private val r103Sql =
    s"""WITH rows_ AS (
       |  SELECT o_orderkey, c_mktsegment AS seg,
       |         CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT) AS cents
       |  FROM orders JOIN customer ON o_custkey = c_custkey
       |  WHERE c_mktsegment IN ('$PermSegA', '$PermSegB')),
       |obs AS (
       |  SELECT CAST(sum(CASE WHEN seg = '$PermSegA' THEN cents ELSE 0 END) AS BIGINT) AS sa,
       |         CAST(sum(CASE WHEN seg = '$PermSegA' THEN 1 ELSE 0 END) AS BIGINT) AS na,
       |         CAST(sum(CASE WHEN seg = '$PermSegB' THEN cents ELSE 0 END) AS BIGINT) AS sb,
       |         CAST(sum(CASE WHEN seg = '$PermSegB' THEN 1 ELSE 0 END) AS BIGINT) AS nb
       |  FROM rows_),
       |perm AS (
       |  SELECT b,
       |         CAST(sum(CASE WHEN flip = 0 THEN cents ELSE 0 END) AS BIGINT) AS psa,
       |         CAST(sum(CASE WHEN flip = 0 THEN 1 ELSE 0 END) AS BIGINT) AS pna,
       |         CAST(sum(CASE WHEN flip = 1 THEN cents ELSE 0 END) AS BIGINT) AS psb,
       |         CAST(sum(CASE WHEN flip = 1 THEN 1 ELSE 0 END) AS BIGINT) AS pnb
       |  FROM (
       |    SELECT r.o_orderkey, r.cents, g.b,
       |           ${md5PrefixSql("concat(g.b, ':', r.o_orderkey)", 8)} % 2 AS flip
       |    FROM rows_ r CROSS JOIN (SELECT unnest(range(1, ${PermB + 1})) AS b) g) t
       |  GROUP BY b),
       |exceed AS (
       |  SELECT CAST(sum(CASE WHEN
       |           abs(CAST(p.psa AS HUGEINT) * p.pnb - CAST(p.psb AS HUGEINT) * p.pna)
       |             * o.na * o.nb >=
       |           abs(CAST(o.sa AS HUGEINT) * o.nb - CAST(o.sb AS HUGEINT) * o.na)
       |             * p.pna * p.pnb
       |         THEN 1 ELSE 0 END) AS BIGINT) AS b_exceed
       |  FROM perm p CROSS JOIN obs o)
       |SELECT o.na, o.nb,
       |       round(CAST(o.sa AS DOUBLE) / CAST(o.na AS DOUBLE) / 100.0, 6) AS mean_a,
       |       round(CAST(o.sb AS DOUBLE) / CAST(o.nb AS DOUBLE) / 100.0, 6) AS mean_b,
       |       e.b_exceed,
       |       round((CAST(e.b_exceed AS DOUBLE) + 1.0) / (CAST($PermB AS DOUBLE) + 1.0), 6) AS p_value
       |FROM obs o CROSS JOIN exceed e""".stripMargin

  // ---------------------------------------- r104 Markov backtest

  val MarkovCutoff = "2024-01-25 00:00:00"

  /** r104: temporal backtest of the r63 Markov next-event model — train
    * the argmax-next-event predictor on transitions COMPLETED before
    * [[MarkovCutoff]], evaluate hit-rate on the transitions after it,
    * against the global-mode baseline every predictive eval must beat.
    * This is the standard "does the transition matrix actually predict"
    * check a sequence model gets before it drives prefetching or
    * session-abandonment interventions (r97 backtests a trend forecast;
    * r104 backtests a categorical sequence model).
    *
    * Exactness: transitions come from the same (ts, event_id)-ordered
    * per-user lag as r63; train/test assignment keys on the LATER
    * event's timestamp (a transition is observable only once complete);
    * argmax ties break (count DESC, event ASC) in both engines; all
    * outputs are counts plus one rounded division per rate.
    * Scale shape: one user-keyed window builds transitions; the model
    * and baseline are |event-type|²-row aggregates joined back by
    * broadcast — the eval never shuffles the corpus again. */
  private val r104: Fn = (s, d) => {
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    val trans = events(s, d)
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withColumn("prev", lag(col("event_type"), 1).over(w))
      .filter(col("prev").isNotNull)
      .select(col("prev"), col("event_type").as("cur"),
        (col("ts") < lit(MarkovCutoff).cast("timestamp")).as("is_train"))
    val trainCnt = trans.filter(col("is_train"))
      .groupBy("prev", "cur").agg(count(lit(1)).as("cnt"))
    val wp = Window.partitionBy("prev").orderBy(desc("cnt"), col("cur"))
    val model = trainCnt.withColumn("rk", row_number().over(wp))
      .filter(col("rk") === 1).select(col("prev").as("mprev"), col("cur").as("pred"))
    val global = trainCnt.groupBy("cur").agg(sum(col("cnt")).as("gcnt"))
      .orderBy(desc("gcnt"), col("cur")).limit(1)
      .select(col("cur").as("gpred"))
    trans.filter(!col("is_train"))
      .join(broadcast(model), col("prev") === col("mprev"), "left")
      .crossJoin(broadcast(global))
      .groupBy("prev")
      .agg(count(lit(1)).as("n_test"),
        sum(when(col("cur") === col("pred"), 1L).otherwise(0L)).cast(LongType).as("n_correct"),
        sum(when(col("cur") === col("gpred"), 1L).otherwise(0L)).cast(LongType).as("n_baseline"))
      .withColumn("accuracy", round(col("n_correct").cast(DoubleType) /
        col("n_test").cast(DoubleType), 6))
      .withColumn("baseline_acc", round(col("n_baseline").cast(DoubleType) /
        col("n_test").cast(DoubleType), 6))
      .select("prev", "n_test", "n_correct", "accuracy", "n_baseline", "baseline_acc")
      .orderBy("prev")
  }

  private val r104Sql =
    s"""WITH trans AS (
       |  SELECT prev, event_type AS cur,
       |         ts < TIMESTAMP '$MarkovCutoff' AS is_train
       |  FROM (
       |    SELECT user_id, ts, event_type,
       |           lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
       |    FROM events) t
       |  WHERE prev IS NOT NULL),
       |train_cnt AS (
       |  SELECT prev, cur, count(*) AS cnt FROM trans WHERE is_train GROUP BY 1, 2),
       |model AS (
       |  SELECT prev AS mprev, cur AS pred FROM (
       |    SELECT prev, cur,
       |           row_number() OVER (PARTITION BY prev ORDER BY cnt DESC, cur) AS rk
       |    FROM train_cnt) t WHERE rk = 1),
       |global_ AS (
       |  SELECT cur AS gpred FROM (
       |    SELECT cur, sum(cnt) AS gcnt FROM train_cnt GROUP BY 1
       |    ORDER BY gcnt DESC, cur LIMIT 1) t)
       |SELECT t.prev, count(*) AS n_test,
       |       CAST(sum(CASE WHEN t.cur = m.pred THEN 1 ELSE 0 END) AS BIGINT) AS n_correct,
       |       round(CAST(sum(CASE WHEN t.cur = m.pred THEN 1 ELSE 0 END) AS DOUBLE) /
       |             CAST(count(*) AS DOUBLE), 6) AS accuracy,
       |       CAST(sum(CASE WHEN t.cur = g.gpred THEN 1 ELSE 0 END) AS BIGINT) AS n_baseline,
       |       round(CAST(sum(CASE WHEN t.cur = g.gpred THEN 1 ELSE 0 END) AS DOUBLE) /
       |             CAST(count(*) AS DOUBLE), 6) AS baseline_acc
       |FROM trans t
       |LEFT JOIN model m ON t.prev = m.mprev
       |CROSS JOIN global_ g
       |WHERE NOT t.is_train
       |GROUP BY t.prev
       |ORDER BY t.prev""".stripMargin

  // ---------------------------------------- t33 MATTR lexical diversity

  val MattrW = 20

  /** t33: moving-average type-token ratio (MATTR, Covington &
    * McFall 2010) — lexical diversity scored as the mean distinct-token
    * fraction over every [[MattrW]]-token sliding window, the
    * length-robust replacement for raw TTR (which collapses as document
    * length grows — the reason t19/t24's corpus-level fits can't rank
    * individual documents). Low MATTR = repetitive/templated text; a
    * quality-filtering stage thresholds on it next to t10's repetition
    * ratios.
    *
    * Exactness: each window's distinct count is an integer from the
    * same slice of the same split; the sum of window scores and the
    * denominator windows·min(W, n) are exact integers — one rounded
    * division per document. Documents shorter than W degrade to plain
    * TTR (one window of size n) by the same formula.
    * Scale shape: pure map work — the numerator is the fused codegen'd
    * [[graft.expressions.SlidingDistinctSum]] kernel (round 12): one
    * O(n) sliding-multiset pass per document replaces the interpreted
    * per-window `array_distinct(slice(...))` lambda chain (O(n·W)
    * element-lambda evaluations — §4's non-codegen-hot-path smell;
    * bit-equality with that formulation asserted in
    * SignatureExpressionsSpec). No explode-regroup shuffle, the same
    * discipline as t30; cost independent of corpus size. */
  private val t33: Fn = (s, d) => {
    val toks = split(col("text"), " ")
    val n = size(toks)
    val nWin = greatest(n - MattrW + 1, lit(1))
    docs(s, d)
      .withColumn("n_tokens", n.cast(LongType))
      .withColumn("n_windows", nWin.cast(LongType))
      .withColumn("sum_distinct",
        graft.functions.SignatureOps.slidingDistinctSum(toks, MattrW).cast(LongType))
      .withColumn("mattr", round(col("sum_distinct").cast(DoubleType) /
        (col("n_windows") * least(col("n_tokens"), lit(MattrW.toLong))).cast(DoubleType), 6))
      .select("doc_id", "n_tokens", "n_windows", "sum_distinct", "mattr")
      .orderBy("doc_id")
  }

  private val t33Sql =
    s"""WITH base AS (
       |  SELECT doc_id, string_split(text, ' ') AS toks,
       |         len(string_split(text, ' ')) AS n
       |  FROM documents),
       |win AS (
       |  SELECT doc_id, n, greatest(n - $MattrW + 1, 1) AS n_windows,
       |         list_sum(list_transform(range(1, greatest(n - $MattrW + 1, 1) + 1),
       |           i -> len(list_distinct(toks[i:i + $MattrW - 1])))) AS sum_distinct
       |  FROM base)
       |SELECT doc_id, CAST(n AS BIGINT) AS n_tokens,
       |       CAST(n_windows AS BIGINT) AS n_windows,
       |       CAST(sum_distinct AS BIGINT) AS sum_distinct,
       |       round(CAST(sum_distinct AS DOUBLE) /
       |             CAST(n_windows * least(n, $MattrW) AS DOUBLE), 6) AS mattr
       |FROM win
       |ORDER BY doc_id""".stripMargin

  // ---------------------------------------- u22 encoding audit

  /** Shard granularity shared with u21's key-clustered layout. */
  val EncShardKeys = 4096

  /** u22: column-encoding audit — per column, the run-length statistics
    * a columnar writer needs to choose encodings: within each physical
    * shard (files cut along l_orderkey, rows in (l_orderkey,
    * l_linenumber) order — the write order of a key-clustered table),
    * count value runs, then report rows/runs/distincts and the implied
    * RLE compressibility. The storage-planning companion to u21: zone
    * maps decide what a predicate SKIPS, run statistics decide what the
    * bytes COST — sorted-adjacent columns (returnflag after a sort, ship
    * month under time-clustering) RLE to nothing, while high-churn
    * columns need dictionary/plain. At 100 TB this audit is what backs
    * "re-sort by X before writing" decisions next to `operators/Layout`.
    *
    * Exactness: a run boundary is `value <> lag(value)` within
    * (column, shard) over the (l_orderkey, l_linenumber, value) order —
    * the fixture's (l_orderkey, l_linenumber) is NOT unique, so the
    * value itself is the final sort key: any remaining tie has an equal
    * value and run boundaries are invariant under its resolution. Pure
    * integer counts, one rounded ratio per column.
    * Scale shape: the lag windows are partitioned by (column, shard) —
    * file-sized partitions by construction, never a global sort; each
    * audited column rides a 3-column projection of the scan. */
  private val u22: Fn = (s, d) => {
    val li = lineitem(s, d)
    def colSlice(name: String, v: org.apache.spark.sql.Column) =
      li.select(lit(name).as("colname"),
        expr(s"CAST(l_orderkey DIV $EncShardKeys AS BIGINT)").as("shard"),
        col("l_orderkey"), col("l_linenumber"), v.cast("string").as("v"))
    val slices = Seq(
      colSlice("returnflag", col("l_returnflag")),
      colSlice("linestatus", col("l_linestatus")),
      colSlice("ship_month", (year(col("l_shipdate")) * 12 + month(col("l_shipdate")))),
      colSlice("quantity", col("l_quantity"))).reduce(_ unionByName _)
    val w = Window.partitionBy("colname", "shard").orderBy("l_orderkey", "l_linenumber", "v")
    slices.withColumn("run_start",
        when(lag(col("v"), 1).over(w).isNull || lag(col("v"), 1).over(w) =!= col("v"), 1L)
          .otherwise(0L))
      .groupBy("colname")
      .agg(count(lit(1)).as("n_rows"),
        sum(col("run_start")).cast(LongType).as("n_runs"),
        countDistinct(col("v")).as("n_distinct"))
      .withColumn("rle_ratio", round(col("n_runs").cast(DoubleType) /
        col("n_rows").cast(DoubleType), 6))
      .withColumn("avg_run_len", round(col("n_rows").cast(DoubleType) /
        col("n_runs").cast(DoubleType), 6))
      .select("colname", "n_rows", "n_runs", "n_distinct", "rle_ratio", "avg_run_len")
      .orderBy("colname")
  }

  private val u22Sql =
    s"""WITH slices AS (
       |  SELECT 'returnflag' AS colname, l_orderkey // $EncShardKeys AS shard,
       |         l_orderkey, l_linenumber, CAST(l_returnflag AS VARCHAR) AS v
       |  FROM lineitem
       |  UNION ALL
       |  SELECT 'linestatus', l_orderkey // $EncShardKeys, l_orderkey, l_linenumber,
       |         CAST(l_linestatus AS VARCHAR)
       |  FROM lineitem
       |  UNION ALL
       |  SELECT 'ship_month', l_orderkey // $EncShardKeys, l_orderkey, l_linenumber,
       |         CAST(year(l_shipdate) * 12 + month(l_shipdate) AS VARCHAR)
       |  FROM lineitem
       |  UNION ALL
       |  SELECT 'quantity', l_orderkey // $EncShardKeys, l_orderkey, l_linenumber,
       |         CAST(l_quantity AS VARCHAR)
       |  FROM lineitem),
       |runs AS (
       |  SELECT colname, v,
       |         CASE WHEN lag(v) OVER (PARTITION BY colname, shard
       |                                ORDER BY l_orderkey, l_linenumber, v) IS DISTINCT FROM v
       |              THEN 1 ELSE 0 END AS run_start
       |  FROM slices)
       |SELECT colname, count(*) AS n_rows,
       |       CAST(sum(run_start) AS BIGINT) AS n_runs,
       |       CAST(count(DISTINCT v) AS BIGINT) AS n_distinct,
       |       round(CAST(sum(run_start) AS DOUBLE) / CAST(count(*) AS DOUBLE), 6) AS rle_ratio,
       |       round(CAST(count(*) AS DOUBLE) / CAST(sum(run_start) AS DOUBLE), 6) AS avg_run_len
       |FROM runs
       |GROUP BY colname
       |ORDER BY colname""".stripMargin

  // ---------------------------------------- st6 watermark audit

  val WmJitter = 64
  val WmDelayUs: Long = 30L * 60 * 1000000

  /** The jittered arrival position of an event: its id plus a portable
    * hash offset below [[WmJitter]] (st6, r115, u27). */
  private[queries] val arrivalSeq: Column =
    col("event_id") + md5Prefix(col("event_id").cast(StringType), 8) % WmJitter

  /** st6: watermark/late-data accounting — replay the event stream in a
    * simulated out-of-order arrival order (the fixture's event_id is
    * perfectly time-ordered, so arrival is jittered by a portable-hash
    * offset of ≤[[WmJitter]] positions — a bounded-reorder ingest, the
    * same planted-perturbation idiom as d22's non-member probes) and
    * classify every event against a [[WmDelayUs]]-lateness watermark
    * exactly as Structured Streaming would: on-time (newest so far),
    * late-but-accepted (older than the stream max but within the
    * allowed lateness), or dropped (older than the watermark). This is
    * the audit that SIZES a production watermark: the dropped counts
    * per day are exactly the rows a streaming aggregation would lose at
    * that delay, and the st-family's windowed aggregates implicitly
    * assume a delay chosen this way.
    *
    * Exactness: the watermark is a running max of integer epoch-micros
    * over the unique (arrival_seq, event_id) order — every
    * classification is an integer comparison; outputs are counts only.
    * Scale shape: one window partitioned by event_type (the
    * partition/topic analogy — watermarks are tracked per input
    * partition before the global min, and the per-type audit is what a
    * per-partition lateness dashboard shows), then one keyed
    * aggregation to (type, day) grain. Nothing global, nothing
    * collected. */
  /** The simulated bounded-reorder arrival stream — shared by the st6
    * batch query and [[graft.streaming.StreamingOps]]'s incremental
    * watermark monitor so both classify exactly the same replay. */
  private[graft] def wmArrivals(ev: DataFrame): DataFrame =
    ev.select(col("event_id"), col("event_type"), col("ts"),
        unix_micros(col("ts")).as("mts"))
      .withColumn("arrival_seq", arrivalSeq)

  /** Chunk width of the two-level prefix scan below. */
  val WmChunk = 4096L

  /** Classify every arrival against the running-max watermark,
    * optionally seeded with a prior per-type high-water mark (the
    * streaming twin's carried state; `None` = cold start, the batch
    * query's case — no extra join in the registered plan).
    *
    * The running max is a TWO-LEVEL parallel prefix scan, not one
    * window per event_type: a type-partitioned window caps parallelism
    * at |event types| (a handful of reducers no matter the corpus — the
    * one single-reducer ceiling the first version of this kernel had).
    * Instead: (1) a (type, chunk)-partitioned window computes the
    * strictly-before running max WITHIN each [[WmChunk]]-wide
    * arrival-sequence chunk; (2) chunk maxima collapse to a
    * chunk-grain relation (metadata-sized) whose exclusive prefix max
    * per type is one window over THAT bounded relation; (3) the real
    * watermark is greatest(within-chunk, previous-chunks, carried
    * state). Identical verdicts, parallelism = #chunks — the classic
    * scan decomposition every parallel prefix uses. */
  private[graft] def wmClassify(arr: DataFrame, priorHi: Option[DataFrame]): DataFrame = {
    val chunked = arr.withColumn("chunk", expr(s"CAST(arrival_seq DIV $WmChunk AS BIGINT)"))
    val wIn = Window.partitionBy("event_type", "chunk")
      .orderBy("arrival_seq", "event_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    val wPre = Window.partitionBy("event_type").orderBy("chunk")
      .rowsBetween(Window.unboundedPreceding, -1)
    val prefix = chunked.groupBy("event_type", "chunk")
      .agg(max(col("mts")).as("chunk_max"))
      .withColumn("prefix_hi", max(col("chunk_max")).over(wPre))
      .select(col("event_type").as("pt"), col("chunk").as("pc"), col("prefix_hi"))
    val withBatchHi = chunked
      .withColumn("within_hi", max(col("mts")).over(wIn))
      .join(prefix, col("event_type") === col("pt") && col("chunk") === col("pc"))
      .withColumn("bhi", greatest(
        coalesce(col("within_hi"), lit(Long.MinValue)),
        coalesce(col("prefix_hi"), lit(Long.MinValue))))
      .withColumn("bhi", when(col("bhi") === Long.MinValue, lit(null)).otherwise(col("bhi")))
    val withHi = priorHi match {
      case None => withBatchHi.withColumn("hi", col("bhi"))
      case Some(ph) => withBatchHi
        .join(broadcast(ph), Seq("event_type"), "left")
        .withColumn("hi", greatest(
          coalesce(col("bhi"), lit(Long.MinValue)),
          coalesce(col("state_hi"), lit(Long.MinValue))))
        .withColumn("hi", when(col("hi") === Long.MinValue, lit(null)).otherwise(col("hi")))
    }
    withHi.withColumn("status",
      when(col("hi").isNull || col("mts") >= col("hi"), "on_time")
        .when(col("mts") >= col("hi") - WmDelayUs, "late_accepted")
        .otherwise("dropped"))
  }

  /** Collapse classified arrivals to the (type, day) accounting grain —
    * additive, so the streaming twin merges batch counts by plain sum. */
  private[graft] def wmCounts(classified: DataFrame): DataFrame =
    classified.groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("n_events"),
        sum(when(col("status") === "on_time", 1L).otherwise(0L)).cast(LongType).as("on_time"),
        sum(when(col("status") === "late_accepted", 1L).otherwise(0L)).cast(LongType).as("late_accepted"),
        sum(when(col("status") === "dropped", 1L).otherwise(0L)).cast(LongType).as("dropped"))

  private val st6: Fn = (s, d) =>
    wmCounts(wmClassify(wmArrivals(events(s, d)), None))
      .orderBy("event_type", "day")

  private val st6Sql =
    s"""WITH arr AS (
       |  SELECT event_id, event_type, ts, epoch_us(ts) AS mts,
       |         event_id + ${md5PrefixSql("CAST(event_id AS VARCHAR)", 8)} % $WmJitter AS arrival_seq
       |  FROM events),
       |wm AS (
       |  SELECT event_type, ts, mts,
       |         max(mts) OVER (PARTITION BY event_type ORDER BY arrival_seq, event_id
       |                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS hi
       |  FROM arr),
       |cls AS (
       |  SELECT event_type, CAST(ts AS DATE) AS day,
       |         CASE WHEN hi IS NULL OR mts >= hi THEN 'on_time'
       |              WHEN mts >= hi - $WmDelayUs THEN 'late_accepted'
       |              ELSE 'dropped' END AS status
       |  FROM wm)
       |SELECT event_type, day, count(*) AS n_events,
       |       CAST(sum(CASE WHEN status = 'on_time' THEN 1 ELSE 0 END) AS BIGINT) AS on_time,
       |       CAST(sum(CASE WHEN status = 'late_accepted' THEN 1 ELSE 0 END) AS BIGINT) AS late_accepted,
       |       CAST(sum(CASE WHEN status = 'dropped' THEN 1 ELSE 0 END) AS BIGINT) AS dropped
       |FROM cls
       |GROUP BY 1, 2
       |ORDER BY 1, 2""".stripMargin

  val all: Seq[Q] = Seq(
    Q("r103_permutation_test", r103, Some(r103Sql)),
    Q("r104_markov_backtest", r104, Some(r104Sql)),
    Q("t33_mattr", t33, Some(t33Sql)),
    Q("u22_encoding_audit", u22, Some(u22Sql)),
    Q("st6_watermark_audit", st6, Some(st6Sql)))
}
