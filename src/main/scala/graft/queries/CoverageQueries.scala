package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.expressions.Window
import graft.Tables
import graft.queries.Relational.{Fn, Q}

/** Remaining operator-inventory coverage: as-of join, range join,
  * percentiles, pivot, session windows (batch form of the streaming op),
  * multimodal metadata, approximate distinct.
  *
  * The as-of join is the showcase "operator Spark lacks, composed
  * Spark-first" (SURVEY.md §4): instead of a custom SparkPlan, a
  * conditional `last(..., ignoreNulls)` running window gives exact as-of
  * semantics with one shuffle on the partition key and zero row
  * explosion — the plan that survives 100 TB, unlike a naive range join.
  */
object CoverageQueries {

  private val dsum4 = (c: Column) =>
    sum(c.cast(DecimalType(24, 4))).cast(DecimalType(38, 4))

  /** As-of join: for every error event, the most recent signup timestamp
    * at-or-before it for the same user (null if none yet). */
  private val r24: Fn = (s, d) => {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.events(s, d)
      .withColumn("last_signup",
        last(when(col("event_type") === "signup", col("ts")), ignoreNulls = true).over(w))
      .filter(col("event_type") === "error")
      .select("event_id", "user_id", "ts", "last_signup")
      .orderBy("event_id")
  }
  private val r24Sql =
    """SELECT event_id, user_id, ts,
      |  last_value(CASE WHEN event_type = 'signup' THEN ts END IGNORE NULLS)
      |    OVER (PARTITION BY user_id ORDER BY ts, event_id
      |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS last_signup
      |FROM events QUALIFY event_type = 'error'
      |ORDER BY event_id""".stripMargin

  /** r51: TWO-TABLE as-of join through the native plan operator
    * ([[graft.plans.AsOfJoin]]): for every error event, the most recent
    * signup at-or-before it for the same user, from a separate signups
    * relation. Same semantic family as r24's single-table window form,
    * but executed as the classic time-series merge — hash-cluster both
    * sides on user_id, sort each by (user, ts), one O(1)-state forward
    * pass — with no union, no window, and no range-join candidate
    * blowup. Oracle: correlated max-subquery (time semantics only, so
    * right-side time ties cannot affect the answer). */
  private val r51: Fn = (s, d) => {
    val e = Tables.events(s, d)
    val errors = e.filter(col("event_type") === "error")
      .select("event_id", "user_id", "ts")
    val signups = e.filter(col("event_type") === "signup")
      .select(col("user_id").as("s_user"), col("ts").as("s_ts"))
    graft.plans.AsOfJoin.asof(errors, signups,
        errors("user_id"), signups("s_user"), errors("ts"), signups("s_ts"))
      .select(col("event_id"), col("user_id"), col("ts"), col("s_ts").as("last_signup"))
      .orderBy("event_id")
  }
  private val r51Sql =
    """SELECT e.event_id, e.user_id, e.ts,
      |  (SELECT max(s.ts) FROM events s
      |   WHERE s.event_type = 'signup' AND s.user_id = e.user_id AND s.ts <= e.ts) AS last_signup
      |FROM events e WHERE e.event_type = 'error' ORDER BY e.event_id""".stripMargin

  /** Range join: lineitems shipped within 30 days of their order's date —
    * equi-key plus band predicate, so Catalyst keeps the shuffle on the
    * equi key and evaluates the band as a cheap post-join filter. */
  private val r25: Fn = (s, d) => {
    val o = Tables.orders(s, d)
    val l = Tables.lineitem(s, d)
    o.join(l, col("o_orderkey") === col("l_orderkey") &&
        col("l_shipdate") >= col("o_orderdate") &&
        col("l_shipdate") < col("o_orderdate") + expr("INTERVAL 30 DAYS"))
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_fast_ships"),
        dsum4(Relational.money(col("l_extendedprice")) * (Relational.oneD - Relational.pct(col("l_discount")))).as("revenue"))
      .orderBy("o_orderpriority")
  }
  private val r25Sql =
    """SELECT o_orderpriority, count(*) AS n_fast_ships,
      |  CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(4,2)) - CAST(l_discount AS DECIMAL(4,2))) AS DECIMAL(24,4))) AS DECIMAL(38,4)) AS revenue
      |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
      |  AND l_shipdate >= o_orderdate AND l_shipdate < o_orderdate + INTERVAL '30 days'
      |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin

  /** Exact interpolated percentiles per group. */
  private val r26: Fn = (s, d) =>
    Tables.lineitem(s, d)
      .groupBy(col("l_returnflag"))
      .agg(
        round(percentile(col("l_quantity"), lit(0.5)), 6).as("median_qty"),
        round(percentile(col("l_quantity"), lit(0.9)), 6).as("p90_qty"),
        round(percentile(col("l_discount"), lit(0.5)), 6).as("median_disc"))
      .orderBy("l_returnflag")
  private val r26Sql =
    """SELECT l_returnflag,
      |  round(quantile_cont(l_quantity, 0.5), 6) AS median_qty,
      |  round(quantile_cont(l_quantity, 0.9), 6) AS p90_qty,
      |  round(quantile_cont(l_discount, 0.5), 6) AS median_disc
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  /** Pivot: quantity by returnflag × linestatus (fixed value list — the
    * scalable form; dynamic pivots need a driver-side distinct first). */
  private val r27: Fn = (s, d) =>
    Tables.lineitem(s, d)
      .groupBy(col("l_returnflag"))
      .pivot("l_linestatus", Seq("F", "O"))
      .agg(round(sum(col("l_quantity").cast(DecimalType(24, 2))).cast(DoubleType), 2))
      .withColumnRenamed("F", "qty_f").withColumnRenamed("O", "qty_o")
      .orderBy("l_returnflag")
  private val r27Sql =
    """SELECT l_returnflag,
      |  round(CAST(sum(CASE WHEN l_linestatus = 'F' THEN CAST(l_quantity AS DECIMAL(24,2)) END) AS DOUBLE), 2) AS qty_f,
      |  round(CAST(sum(CASE WHEN l_linestatus = 'O' THEN CAST(l_quantity AS DECIMAL(24,2)) END) AS DOUBLE), 2) AS qty_o
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  /** Batch form of the streaming session_window operator (same built-in;
    * StreamingSpec drives the readStream form). Oracle is the
    * gaps-and-islands formulation — semantics must coincide. */
  private val st1: Fn = (s, d) =>
    Tables.events(s, d)
      .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("session_window.start").as("session_start"), col("user_id"), col("n_events"))
      .orderBy("user_id", "session_start")
  private val st1Sql =
    """WITH marked AS (
      |  SELECT user_id, ts,
      |    CASE WHEN lag(ts) OVER w IS NULL
      |              OR (epoch(date_trunc('second', ts)) - epoch(date_trunc('second', lag(ts) OVER w))) > 1800
      |         THEN 1 ELSE 0 END AS new_session
      |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
      |sessions AS (
      |  SELECT user_id, ts,
      |    sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
      |                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
      |  FROM marked)
      |SELECT min(ts) AS session_start, user_id, count(*) AS n_events
      |FROM sessions GROUP BY user_id, sid
      |ORDER BY user_id, session_start""".stripMargin

  /** Batch form of the stream-stream interval join (st2): errors joined
    * to same-user signups at most 1 h earlier. The streaming twin
    * (`StreamingOps.intervalJoin`, MemoryStream-driven in StreamingSpec)
    * is the same function shape with watermarks; this batch form is the
    * DuckDB-oracled ground truth. Equi-key on user_id keeps the shuffle
    * keyed; the band predicate is a post-join filter. */
  private val st2: Fn = (s, d) => {
    val ev = Tables.events(s, d)
    val sgn = ev.filter(col("event_type") === "signup")
      .select(col("user_id").as("s_user"), col("ts").as("signup_ts"))
    val err = ev.filter(col("event_type") === "error")
      .select(col("event_id"), col("user_id"), col("ts").as("error_ts"))
    err.join(sgn, col("user_id") === col("s_user") &&
        col("error_ts") >= col("signup_ts") &&
        col("error_ts") <= col("signup_ts") + expr("INTERVAL 1 HOUR"))
      .select("event_id", "user_id", "signup_ts", "error_ts")
      .orderBy("event_id", "signup_ts")
  }
  private val st2Sql =
    """SELECT e.event_id, e.user_id, s.ts AS signup_ts, e.ts AS error_ts
      |FROM events e JOIN events s
      |  ON e.user_id = s.user_id AND s.event_type = 'signup' AND e.event_type = 'error'
      | AND e.ts >= s.ts AND e.ts <= s.ts + INTERVAL '1 hour'
      |ORDER BY e.event_id, signup_ts""".stripMargin

  /** Batch form of the LEFT OUTER stream-stream interval join (st3):
    * errors keep a row even with no same-user signup in the preceding
    * hour — the null-padded rows the streaming twin
    * (`StreamingOps.intervalJoinOuter`) may only emit after the
    * watermark closes their join window. This batch form is the oracled
    * ground truth; StreamingSpec drives the twin through MemoryStream
    * with a watermark-advancing sentinel and asserts set equality. */
  private val st3: Fn = (s, d) => {
    val ev = Tables.events(s, d)
    val sgn = ev.filter(col("event_type") === "signup")
      .select(col("user_id").as("s_user"), col("ts").as("signup_ts"))
    val err = ev.filter(col("event_type") === "error")
      .select(col("event_id"), col("user_id"), col("ts").as("error_ts"))
    err.join(sgn, col("user_id") === col("s_user") &&
        col("error_ts") >= col("signup_ts") &&
        col("error_ts") <= col("signup_ts") + expr("INTERVAL 1 HOUR"),
      "left_outer")
      .select("event_id", "user_id", "signup_ts", "error_ts")
      .orderBy("event_id", "signup_ts")
  }
  private val st3Sql =
    """SELECT e.event_id, e.user_id, s.ts AS signup_ts, e.ts AS error_ts
      |FROM events e LEFT JOIN events s
      |  ON e.user_id = s.user_id AND s.event_type = 'signup'
      | AND e.ts >= s.ts AND e.ts <= s.ts + INTERVAL '1 hour'
      |WHERE e.event_type = 'error'
      |ORDER BY e.event_id, signup_ts NULLS FIRST""".stripMargin

  /** m13: cross-origin byte-histogram drift — pairwise L1 distance
    * between the per-origin mean 16-bucket byte distributions of the
    * payloads: the corpus-level feature-drift audit a multimodal
    * ingest runs to catch an origin whose encoder changed (m02 grades
    * single payloads; this grades origins against each other, the PSI
    * idea of u10 applied to the decode-path features).
    *
    * Exactness: bucket counts are exact BIGINTs per (origin, bucket)
    * over a DENSE origin×bucket grid (absent buckets enter as zero
    * through the grid left-join — an inner join would silently drop
    * one-sided buckets and undercount the distance), and the L1
    * numerator Σ_b |cnt_ab·tot_b − cnt_bb·tot_a| stays integer in
    * DECIMAL(38,0); ONE rounded division by tot_a·tot_b per pair.
    * Scale shape: the per-char explode is one map+keyed-count pass
    * (at 100 TB the counts come from the batched decode partials —
    * the same additive kernel); everything after rides the tiny
    * #origins×16 grid and the #origins² pair relation. */
  private val m13: Fn = (s, d) => {
    val dec16 = (c: Column) => c.cast(DecimalType(38, 0))
    val cnt = Tables.documents(s, d)
      .select(col("source").as("origin"), explode(split(col("text"), "")).as("ch"))
      .filter(length(col("ch")) === 1)
      .groupBy(col("origin"), (ascii(col("ch")) / 16).cast(IntegerType).as("bucket"))
      .agg(count(lit(1)).as("c"))
    val origins = cnt.select("origin").distinct()
    val grid = origins
      .crossJoin(broadcast(spark_range16(cnt.sparkSession)))
      .join(cnt, Seq("origin", "bucket"), "left")
      .select(col("origin"), col("bucket"), coalesce(col("c"), lit(0L)).as("c"))
    val tot = grid.groupBy("origin").agg(sum(col("c")).cast(LongType).as("tot"))
    val a = grid.join(tot, "origin")
      .select(col("origin").as("oa"), col("bucket"), col("c").as("ca"), col("tot").as("ta"))
    val b = grid.join(tot, "origin")
      .select(col("origin").as("ob"), col("bucket"), col("c").as("cb"), col("tot").as("tb"))
    a.join(b, Seq("bucket")).filter(col("oa") < col("ob"))
      .groupBy(col("oa").as("origin_a"), col("ob").as("origin_b"))
      .agg(max(col("ta")).as("ta"), max(col("tb")).as("tb"),
        sum(abs(dec16(col("ca")) * dec16(col("tb")) - dec16(col("cb")) * dec16(col("ta"))))
          .cast(DecimalType(38, 0)).as("num"))
      .select(col("origin_a"), col("origin_b"),
        round(col("num").cast(DoubleType) /
          (col("ta").cast(DoubleType) * col("tb").cast(DoubleType)), 6).as("l1_dist"))
      .orderBy("origin_a", "origin_b")
  }
  /** The 16-bucket id relation (0..15) as a tiny broadcastable frame. */
  private def spark_range16(s: SparkSession): DataFrame =
    s.range(0, 16).select(col("id").cast(IntegerType).as("bucket"))
  private val m13Sql =
    """WITH cnt AS (
      |  SELECT source AS origin, CAST(ascii(ch) // 16 AS INTEGER) AS bucket,
      |         CAST(count(*) AS BIGINT) AS c
      |  FROM (SELECT source, unnest(split(text, '')) AS ch FROM documents) t
      |  GROUP BY 1, 2),
      |grid AS (
      |  SELECT o.origin, r.bucket, COALESCE(c.c, 0) AS c
      |  FROM (SELECT DISTINCT origin FROM cnt) o
      |  CROSS JOIN (SELECT unnest(range(0, 16)) AS bucket) r
      |  LEFT JOIN cnt c ON c.origin = o.origin AND c.bucket = r.bucket),
      |tot AS (SELECT origin, CAST(sum(c) AS BIGINT) AS tot FROM grid GROUP BY origin),
      |pairs AS (
      |  SELECT a.origin AS origin_a, b.origin AS origin_b, a.bucket,
      |         a.c AS ca, ta.tot AS ta, b.c AS cb, tb.tot AS tb
      |  FROM grid a JOIN grid b ON a.bucket = b.bucket AND a.origin < b.origin
      |  JOIN tot ta ON ta.origin = a.origin JOIN tot tb ON tb.origin = b.origin)
      |SELECT origin_a, origin_b,
      |       round(CAST(sum(abs(CAST(ca AS DECIMAL(38,0)) * tb - CAST(cb AS DECIMAL(38,0)) * ta)) AS DOUBLE)
      |             / (CAST(max(ta) AS DOUBLE) * CAST(max(tb) AS DOUBLE)), 6) AS l1_dist
      |FROM pairs GROUP BY 1, 2 ORDER BY origin_a, origin_b""".stripMargin

  /** Multimodal metadata projection over binary payloads (decode runs in
    * Multimodal.decodeFeatures; metadata/pruning layer is plain SQL). */
  private val m01: Fn = (s, d) =>
    graft.multimodal.Multimodal.attachPayload(Tables.documents(s, d))
      .select(col("doc_id"), col("meta.mime").as("mime"),
        col("meta.n_bytes").as("n_bytes"), col("meta.origin").as("origin"))
      .orderBy("doc_id")
  private val m01Sql =
    """SELECT doc_id,
      |  CASE WHEN source = 'src0' THEN 'image/png'
      |       WHEN source = 'src1' THEN 'audio/wav'
      |       ELSE 'video/mp4' END AS mime,
      |  CAST(octet_length(CAST(text AS BLOB)) AS INTEGER) AS n_bytes,
      |  source AS origin
      |FROM documents ORDER BY doc_id""".stripMargin

  /** Strided frame sampling over video payloads — the Spark-side
    * plumbing (explode shape, stride filter, byte offsets) is real and
    * oracled even though the codec is stubbed: offsets derive only from
    * payload length. */
  private val m03: Fn = (s, d) =>
    graft.multimodal.Multimodal.frameSample(
      graft.multimodal.Multimodal.attachPayload(Tables.documents(s, d)))
      .orderBy("doc_id", "frame_no")
  private val m03Sql =
    """SELECT doc_id, CAST(i AS INTEGER) AS frame_no,
      |       CAST(i * 64 AS INTEGER) AS byte_offset
      |FROM (SELECT doc_id,
      |        unnest(range(0, (octet_length(CAST(text AS BLOB)) - 1) // 64 + 1)) AS i
      |      FROM documents WHERE source NOT IN ('src0', 'src1')) t
      |WHERE i % 4 = 0
      |ORDER BY doc_id, frame_no""".stripMargin

  /** HLL approximate distinct (rows-only: sketch internals are
    * engine-specific; CoverageSpec bounds the error vs exact). */
  private val r28: Fn = (s, d) =>
    Tables.lineitem(s, d)
      .groupBy(col("l_returnflag"))
      .agg(
        approx_count_distinct(col("l_partkey")).as("approx_parts"),
        approx_count_distinct(col("l_orderkey")).as("approx_orders"))
      .orderBy("l_returnflag")

  /** r52: HLL sketches as STORED, RE-AGGREGATABLE columns — the pattern
    * behind incremental distinct counts at warehouse scale: persist one
    * binary sketch per partition-of-time-or-source, then answer ANY
    * roll-up later by `hll_union_agg` over the stored sketches, never
    * re-scanning the raw data (p10's incremental-maintenance story, for
    * a non-algebraic measure). Output: per-source estimates plus the
    * union-of-sketches estimate — computed FROM the sketch column, the
    * raw table untouched after the first aggregation. No hash oracle
    * (sketch binaries are engine-specific), but the estimate-valued
    * output columns band-match DuckDB's own HLL at rel_tol 0.10
    * ([[bandOracles]], r9 verdict item 6 — measured worst 0.042);
    * CoverageSpec separately bounds every estimate against exact
    * distinct counts.
    *
    * DETERMINISM: DataSketches HLL_4 register compression is lossy in a
    * merge-order-dependent way (±1 on the estimate), and Spark's
    * partial-agg merge order varies run to run — two identical runs
    * produced union estimates 494 vs 495. A versionable sketch artifact
    * must not flap, so both aggregations get a pinned order: each
    * source's sketch builds from ONE source-partitioned, doc_id-sorted
    * partial (the keyed shuffle the groupBy needs anyway), and the
    * union merges the per-source sketches in source order within a
    * single partial. */
  private val r52: Fn = (s, d) => {
    val sketches = Tables.documents(s, d)
      .repartition(col("source"))
      .sortWithinPartitions(col("source"), col("doc_id"))
      .groupBy("source")
      .agg(expr("hll_sketch_agg(doc_id)").as("sk"), count(lit(1)).as("n_docs"))
    val perSource = sketches.select(col("source"),
      expr("hll_sketch_estimate(sk)").as("approx_distinct"), col("n_docs"))
    val total = sketches
      .repartition(1).sortWithinPartitions(col("source"))
      .agg(
        expr("hll_sketch_estimate(hll_union_agg(sk))").as("approx_distinct"),
        sum(col("n_docs")).as("n_docs"))
      .select(lit("__union__").as("source"), col("approx_distinct"), col("n_docs"))
    perSource.unionByName(total).orderBy("source")
  }

  /** Approximate percentiles — the mergeable-sketch path for quantiles
    * at scale. Exact `percentile` (r26) is a sort-based aggregate that
    * materializes every value per group; `approx_percentile` keeps a
    * bounded Greenwald-Khanna sketch per group that merges map-side, so
    * the shuffle carries sketches, not values — the only quantile form
    * that survives 100 TB. accuracy=10000 bounds rank error at 1/10000.
    * No oracle (sketch internals are engine-specific); CoverageSpec
    * bounds it against exact r26 per group. */
  private val r47: Fn = (s, d) =>
    Tables.lineitem(s, d)
      .groupBy(col("l_returnflag"))
      .agg(
        approx_percentile(col("l_quantity"), lit(0.5), lit(10000)).as("p50_qty"),
        approx_percentile(col("l_quantity"), lit(0.9), lit(10000)).as("p90_qty"),
        approx_percentile(col("l_extendedprice"), lit(0.99), lit(10000)).as("p99_price"))
      .orderBy("l_returnflag")

  /** Decoded multimodal features. The decode is the documented stub
    * (16-bucket byte histogram), which is exactly what makes this fully
    * ORACLED: the oracle recomputes the stub's bucket-0 frequency
    * relationally (ascii%16 over the ASCII fixture text — the same
    * independence m04's oracle uses), so the whole mapPartitions decode
    * path is hash-compared, not just spec-pinned. f0 stays a raw FLOAT:
    * small-int ratios round identically to float32 whether divided in
    * f32 (Spark stub) or f64-then-cast (DuckDB), so the compare is
    * bit-exact with no rounding step. */
  private val m02: Fn = (s, d) =>
    graft.multimodal.Multimodal.decodeFeatures(
      graft.multimodal.Multimodal.attachPayload(Tables.documents(s, d)))
      .select(col("doc_id"), col("mime"), col("n_frames"),
        element_at(col("features"), 1).as("f0"))
      .orderBy("doc_id")
  private val m02Sql =
    """WITH f AS (
      |  SELECT doc_id, source, length(text) AS len,
      |         length(list_filter(split(text, ''), c -> ascii(c) % 16 = 0)) AS cnt
      |  FROM documents)
      |SELECT doc_id,
      |  CASE WHEN source = 'src0' THEN 'image/png'
      |       WHEN source = 'src1' THEN 'audio/wav'
      |       ELSE 'video/mp4' END AS mime,
      |  CAST(CASE WHEN source NOT IN ('src0', 'src1')
      |            THEN greatest(1, len // 64) ELSE 1 END AS INTEGER) AS n_frames,
      |  CAST(cnt / (CASE WHEN len = 0 THEN 1 ELSE len END) AS FLOAT) AS f0
      |FROM f ORDER BY doc_id""".stripMargin

  /** m05: fixed-resolution resize through the batched decode path —
    * the "resize" leg of the multimodal checklist (decode /
    * feature-extract / resize / frame-sample). The stub resizes the
    * byte signal to 16 stride-means; the oracle recomputes it
    * relationally from the ASCII text (m02/m04's independence trick):
    * bucket = i*16/len in exact integer arithmetic, mean = exact
    * integer sum / count in one double division.
    *
    * Dumped form is the EXPLODED (doc_id, bucket, v) rows, not the
    * array: the correctness harness sorts/hashes scalar cells and an
    * array-valued column is unhashable on the pandas side (r2 m05
    * harness error). The array-producing operator is unchanged —
    * only the registered query flattens it. */
  private val m05: Fn = (s, d) =>
    graft.multimodal.Multimodal.resizeThumb(
      graft.multimodal.Multimodal.attachPayload(Tables.documents(s, d)))
      .select(col("doc_id"), posexplode(col("thumb")).as(Seq("bucket", "v")))
      .orderBy("doc_id", "bucket")
  private val m05Sql =
    """WITH b AS (
      |  SELECT doc_id, length(text) AS len,
      |         unnest(list_transform(split(text, ''), c -> ascii(c))) AS v,
      |         unnest(range(1, length(text) + 1)) AS i
      |  FROM documents),
      |agg AS (
      |  SELECT doc_id, CAST(((i - 1) * 16) // len AS INTEGER) AS bucket,
      |         CAST(sum(v) AS BIGINT) AS s, count(*) AS c
      |  FROM b GROUP BY 1, 2),
      |grid AS (
      |  SELECT d.doc_id, g.bucket
      |  FROM documents d CROSS JOIN (SELECT CAST(unnest(range(16)) AS INTEGER) AS bucket) g)
      |SELECT g.doc_id, g.bucket,
      |       CASE WHEN a.c IS NULL THEN 0.0 ELSE CAST(a.s AS DOUBLE) / a.c END AS v
      |FROM grid g LEFT JOIN agg a ON g.doc_id = a.doc_id AND g.bucket = a.bucket
      |ORDER BY g.doc_id, g.bucket""".stripMargin

  /** m06: fixed-rate temporal resample of the "audio" slice through the
    * batched decode path ([[graft.multimodal.Multimodal.audioResample]]).
    * The oracle recomputes the interpolation relationally from the
    * ASCII text (the m02/m04/m05 independence trick): source position
    * p = t·(len−1)/(S−1) has an integer numerator and ONE double
    * division, and the lerp is the same op sequence on both engines —
    * bitwise-equal doubles, flat (doc_id, t, v) rows. */
  private val m06: Fn = (s, d) =>
    graft.multimodal.Multimodal.audioResample(
      graft.multimodal.Multimodal.attachPayload(
        // pushable pre-filter: the mime dispatch inside the decode path
        // is a CASE over `source` that cannot reach the parquet scan;
        // this plain predicate does (PushedFilters), so at scale the
        // audio op reads only the audio source's row groups
        Tables.documents(s, d).filter(col("source") === "src1"))
        .filter(col("meta.mime") === "audio/wav"))
      .orderBy("doc_id", "t")
  private val m06Sql = {
    val S = 32
    val p = s"CAST(t * (len - 1) AS DOUBLE) / ${S - 1}.0"
    val i0 = s"CAST(floor($p) AS INTEGER)"
    val b0 = s"CAST(arr[$i0 + 1] AS DOUBLE)"
    val b1 = s"CAST(arr[least($i0 + 1, len - 1) + 1] AS DOUBLE)"
    s"""WITH a AS (
       |  SELECT doc_id, list_transform(split(text, ''), c -> ascii(c)) AS arr,
       |         length(text) AS len
       |  FROM documents WHERE source = 'src1' AND length(text) > 0),
       |g AS (SELECT doc_id, arr, len, CAST(unnest(range($S)) AS INTEGER) AS t FROM a)
       |SELECT doc_id, t,
       |  CASE WHEN len = 1 THEN CAST(arr[1] AS DOUBLE)
       |       ELSE $b0 + ($b1 - $b0) * ($p - floor($p)) END AS v
       |FROM g ORDER BY doc_id, t""".stripMargin
  }

  /** PURE band join — no equi key at all, the shape Spark can only plan
    * as a nested loop (O(n·m)). Scale path: bucketize the time axis into
    * band-width epochs and equi-join each row's bucket against the other
    * side's {b-1, b, b+1} (exploded) — every within-band pair shares
    * exactly one bucket pairing, so the join is a plain hash/sort-merge
    * shuffle on the bucket key, work bounded by events-per-2-buckets,
    * and the exact band predicate is a cheap post-join filter. Second
    * granularity for the band (not micros) so Spark's micros-truncated
    * and DuckDB's nanos timestamps floor identically. Finds cross-user
    * event pairs within 60 s, counted per type pair; the oracle runs the
    * naive inequality join (DuckDB IEJoin) — results must be identical. */
  private val r44: Fn = (s, d) => {
    val B = 60L
    val e = Tables.events(s, d).select(col("event_id"), col("user_id"),
      col("event_type"), unix_seconds(col("ts")).as("es"))
    val a = e.withColumn("bk", expr(s"es DIV $B"))
    val b = e.select(col("event_id").as("b_event_id"), col("user_id").as("b_user_id"),
        col("event_type").as("b_event_type"), col("es").as("b_es"))
      .withColumn("bk", explode(array(
        expr(s"b_es DIV $B - 1"), expr(s"b_es DIV $B"), expr(s"b_es DIV $B + 1"))))
    a.join(b, Seq("bk"))
      .filter(abs(col("es") - col("b_es")) <= B &&
        col("user_id") =!= col("b_user_id") && col("event_id") < col("b_event_id"))
      .groupBy(col("event_type"), col("b_event_type"))
      .agg(count(lit(1)).as("n_pairs"))
      .orderBy("event_type", "b_event_type")
  }
  private val r44Sql =
    """WITH e AS (SELECT event_id, user_id, event_type,
      |                  epoch_ns(ts) // 1000000000 AS es FROM events)
      |SELECT a.event_type AS event_type, b.event_type AS b_event_type,
      |       count(*) AS n_pairs
      |FROM e a JOIN e b
      |  ON abs(a.es - b.es) <= 60
      | AND a.user_id <> b.user_id AND a.event_id < b.event_id
      |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** r57: r44's band join written NAIVELY — `abs(a.es − b.es) <= 60`
    * with no equi key — and left to [[graft.plans.BandJoinRewriteRule]]
    * to bucketize automatically. Same semantics and oracle as r44; the
    * point is the optimizer extension: a user writes the O(n·m)
    * theta-join and the plan that executes is the keyed bucket
    * equi-join (BandJoinPlanSpec pins the absence of a nested-loop/
    * cartesian operator in the physical plan). */
  private val r57: Fn = (s, d) => {
    val e = Tables.events(s, d).select(col("event_id"), col("user_id"),
      col("event_type"), unix_seconds(col("ts")).as("es"))
    val b = e.select(col("event_id").as("b_event_id"), col("user_id").as("b_user_id"),
      col("event_type").as("b_event_type"), col("es").as("b_es"))
    e.join(b,
        abs(col("es") - col("b_es")) <= 60 &&
          col("user_id") =!= col("b_user_id") && col("event_id") < col("b_event_id"))
      .groupBy(col("event_type"), col("b_event_type"))
      .agg(count(lit(1)).as("n_pairs"))
      .orderBy("event_type", "b_event_type")
  }

  /** LATERAL correlated subquery through the actual SQL front-end
    * (spark.sql, not the DataFrame DSL): top-2 orders per customer via a
    * correlated ORDER BY/LIMIT subquery. Exercises parsing, lateral
    * decorrelation, and the subquery-to-window rewrite — the SQL shapes
    * a reference user would type directly. Restricted to one nation to
    * keep output small. */
  private val r45: Fn = (s, d) => {
    Tables.customer(s, d).createOrReplaceTempView("customer")
    Tables.orders(s, d).createOrReplaceTempView("orders")
    s.sql("""
      SELECT c_custkey, o_orderkey, o_totalprice
      FROM customer,
      LATERAL (SELECT o_orderkey, o_totalprice FROM orders
               WHERE o_custkey = c_custkey
               ORDER BY o_totalprice DESC, o_orderkey LIMIT 2)
      WHERE c_nationkey = 7
      ORDER BY c_custkey, o_totalprice DESC, o_orderkey""")
  }
  private val r45Sql =
    """SELECT c_custkey, o_orderkey, o_totalprice
      |FROM customer,
      |LATERAL (SELECT o_orderkey, o_totalprice FROM orders
      |         WHERE o_custkey = c_custkey
      |         ORDER BY o_totalprice DESC, o_orderkey LIMIT 2) t
      |WHERE c_nationkey = 7
      |ORDER BY c_custkey, o_totalprice DESC, o_orderkey""".stripMargin

  /** r58: recursive CTE through the SQL front-end (Spark 4 `WITH
    * RECURSIVE`) — bounded-depth reachability along each duplicate
    * group's doc-id-ordered successor chain: from every duplicate with
    * a successor, walk up to 8 hops and report how many later
    * duplicates are in reach and how deep the walk got. Spark restricts
    * recursive terms to UNION ALL, so the edge set is the group's
    * successor CHAIN (one path between any two members — termination
    * and no path-count blowup by construction) and the walk is
    * depth-capped at 8 (bounded BFS, 8 iterations in BOTH engines —
    * also safely under Spark's 100-level recursion limit at any SF;
    * sf0.1 has a 248-member group). The recursive text is identical in
    * both engines modulo array-function dialect; d08 remains the scale
    * path for whole-component labeling (keyed iterative propagation) —
    * this row covers the SQL-front-end recursion surface itself:
    * parsing, the recursion loop, and per-iteration plan reuse. */
  private def r58Text(splitFp: String): String =
    s"""WITH RECURSIVE
       |grp AS (
       |  SELECT doc_id, $splitFp AS fp
       |  FROM documents),
       |dup AS (
       |  SELECT doc_id, fp,
       |         row_number() OVER (PARTITION BY fp ORDER BY doc_id) AS pos,
       |         count(*) OVER (PARTITION BY fp) AS g
       |  FROM grp),
       |edges AS (
       |  SELECT a.doc_id AS src, b.doc_id AS dst
       |  FROM dup a JOIN dup b ON a.fp = b.fp AND b.pos = a.pos + 1
       |  WHERE a.g > 1),
       |reach(start_id, id, depth) AS (
       |  SELECT src, src, 0 FROM (SELECT DISTINCT src FROM edges) s0
       |  UNION ALL
       |  SELECT r.start_id, e.dst, r.depth + 1
       |  FROM reach r JOIN edges e ON e.src = r.id
       |  WHERE r.depth < 8)
       |SELECT start_id, count(*) AS n_reachable, max(depth) AS max_depth
       |FROM reach WHERE depth > 0
       |GROUP BY start_id ORDER BY start_id""".stripMargin
  private val r58: Fn = (s, d) => {
    // Spark guards WITH RECURSIVE with a 1M-row SAFETY limit
    // (spark.sql.cteRecursionRowLimit). The walk here is depth-capped
    // (≤9 rows per duplicate-chain member — linear by construction),
    // but a corpus with millions of duplicates legitimately exceeds 1M
    // TOTAL rows long before anything is wrong with the plan — the
    // sf10 sweep hit exactly this (the scale fixture's set-preserving
    // token shuffle merges dup groups across copies). Raise the limit
    // on a private-conf LoopSession clone so the caller's safety net —
    // and every concurrent query's — stays untouched; temp-view
    // registration is session-scoped, so the clone's catalog keeps the
    // view out of the caller's namespace too.
    val ls = LoopSession.isolated(s, "spark.sql.cteRecursionRowLimit" -> "2000000000")
    Tables.documents(ls, d).createOrReplaceTempView("documents")
    // returned bound to the clone ON PURPOSE (no rebind): the recursion
    // limit is read from the owning session's conf at EXECUTION time,
    // so execution must stay on the clone for the raised limit to hold
    ls.sql(r58Text("md5(array_join(array_sort(array_distinct(split(text, ' '))), ' '))"))
  }
  private val r58Sql =
    r58Text("md5(array_to_string(list_sort(list_distinct(string_split(text, ' '))), ' '))")

  /** Time-series gap-fill: hourly counts per event type with EMPTY hours
    * materialized as zero rows — generator functions (sequence/explode)
    * building the hour scaffold from the observed bounds, cross-joined
    * with the distinct types (both sides tiny by construction: hours ×
    * types, independent of event count) and left-joined with the real
    * counts. The scaffold is the only cartesian and is broadcast-sized;
    * the heavy side (events) still takes one partial-agg'd shuffle. */
  private val r46: Fn = (s, d) => {
    val e = Tables.events(s, d)
      .select(date_trunc("hour", col("ts")).as("h"), col("event_type"))
    // bounds and the type dimension re-aggregate the TINY persisted
    // counts relation, not raw events: without the persist each branch
    // re-scans and re-aggregates the heavy side (column pruning
    // specializes the three subtrees, so exchange reuse cannot dedup
    // them); with it the corpus is read and shuffled exactly once.
    val counts = e.groupBy("h", "event_type").agg(count(lit(1)).as("n"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val hours = counts.agg(min(col("h")).as("h0"), max(col("h")).as("h1"))
      .select(explode(sequence(col("h0"), col("h1"), expr("INTERVAL 1 HOUR"))).as("h"))
    val types = counts.select("event_type").distinct()
    hours.crossJoin(types)
      .join(counts, Seq("h", "event_type"), "left")
      .select(col("h"), col("event_type"), coalesce(col("n"), lit(0L)).as("n"))
      .orderBy("h", "event_type")
  }
  private val r46Sql =
    """WITH e AS (SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS h, event_type
      |           FROM events),
      |b AS (SELECT min(h) AS h0, max(h) AS h1 FROM e),
      |hours AS (SELECT unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS h FROM b),
      |types AS (SELECT DISTINCT event_type FROM e),
      |counts AS (SELECT h, event_type, count(*) AS n FROM e GROUP BY 1, 2)
      |SELECT hours.h, types.event_type, coalesce(counts.n, 0) AS n
      |FROM hours CROSS JOIN types
      |LEFT JOIN counts ON counts.h = hours.h AND counts.event_type = types.event_type
      |ORDER BY hours.h, types.event_type""".stripMargin

  /** m04: multimodal near-duplicate detection over DECODED features —
    * the dedup layer that runs after the codec stage: block on a
    * 6-bit-quantized feature-histogram signature (collisions only for
    * near-identical byte distributions, measured 8-88 candidate pairs
    * across SFs, never all-pairs), then exact L1 distance over the full
    * feature vector per candidate. Runs through the REAL decode path
    * (`Multimodal.decodeFeatures`, batched mapPartitions) — and because
    * the stub features are deterministic byte histograms, the DuckDB
    * oracle can recompute them relationally, making this query an
    * independent end-to-end check of the decode stage itself.
    * Float-parity: features are float; both engines quantize/measure
    * after an explicit float round-trip, and the *64 / *1e9 scalings
    * are exact in IEEE double, so blocking and distances agree
    * bit-for-bit. L1 sums use the scaled-long fixed-point trick. */
  private val m04: Fn = (s, d) => {
    val Dim = graft.multimodal.Multimodal.FeatureDim
    val feats = graft.multimodal.Multimodal.decodeFeatures(
      graft.multimodal.Multimodal.attachPayload(Tables.documents(s, d)))
      .select(col("doc_id"), col("features"))
    // persisted: BOTH sides of the candidate self-join consume this —
    // without it the (expensive at scale) decode stage runs twice
    val sig = feats.withColumn("sig", concat_ws(",",
      (0 until Dim).map(j =>
        floor(element_at(col("features"), j + 1).cast(DoubleType) * 64)
          .cast(IntegerType).cast(StringType)): _*))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val a = sig.select(col("doc_id").as("a_id"), col("sig"), col("features").as("fa"))
    val b = sig.select(col("doc_id").as("b_id"), col("sig"), col("features").as("fb"))
    a.join(b, Seq("sig")).filter(col("a_id") < col("b_id"))
      .withColumn("l1", round(
        aggregate(
          zip_with(col("fa"), col("fb"),
            (x, y) => (abs(x.cast(DoubleType) - y.cast(DoubleType)) * 1e9).cast(LongType)),
          lit(0L), (acc, v) => acc + v).cast(DoubleType) / 1e9, 6))
      .select("a_id", "b_id", "l1")
      .orderBy("a_id", "b_id")
  }
  /** m07: video scene-change detection — the shot-boundary pass a video
    * training pipeline runs right after frame decode (cut points feed
    * clip sampling and per-scene dedup): consecutive frames' feature
    * histograms (through the REAL batched decode path,
    * [[graft.multimodal.Multimodal.frameFeatures]]) compared by L1 over
    * ONE keyed lag window per video, boundary where the distance
    * exceeds 0.8 (103 cuts at sf0.01 — never vacuous). Scale shape:
    * decode is map-side mapPartitions; the only shuffle is the
    * (doc_id)-keyed window hash — no self-join, no cross-frame blowup.
    * Float-parity with the oracle: frame features divide in double then
    * narrow to float exactly as the SQL replay's CAST, and the L1 sums
    * use the m04 scaled-long fixed-point trick. */
  /** m07 exposed for composition (m16 keyframe selection ranks frames
    * within the scene structure this query detects). */
  private[queries] def sceneCutsFn: Fn = m07

  private val m07: Fn = (s, d) => {
    val frames = graft.multimodal.Multimodal.frameFeatures(
      graft.multimodal.Multimodal.attachPayload(
        // pushable pre-filter (see m06): the video slice's plain source
        // predicate reaches the parquet scan; the mime dispatch cannot
        Tables.documents(s, d).filter(!col("source").isin("src0", "src1"))))
    val w = Window.partitionBy(col("doc_id")).orderBy(col("frame_no"))
    frames.withColumn("prev", lag(col("features"), 1).over(w))
      .filter(col("prev").isNotNull)
      .withColumn("l1", round(
        aggregate(
          zip_with(col("features"), col("prev"),
            (x, y) => (abs(x.cast(DoubleType) - y.cast(DoubleType)) * 1e9).cast(LongType)),
          lit(0L), (acc, v) => acc + v).cast(DoubleType) / 1e9, 6))
      .filter(col("l1") > 0.8)
      .select(col("doc_id"), col("frame_no"), col("l1"))
      .orderBy("doc_id", "frame_no")
  }
  private[queries] val m07Sql =
    """WITH docs AS (SELECT doc_id, text FROM documents
      |              WHERE source NOT IN ('src0', 'src1') AND text IS NOT NULL),
      |frames AS (
      |  SELECT d.doc_id, unnest(range(0, (length(d.text) - 1) // 64 + 1)) AS fno FROM docs d),
      |chunks AS (
      |  SELECT f.doc_id, f.fno, substring(d.text, CAST(f.fno * 64 + 1 AS INTEGER), 64) AS chunk
      |  FROM frames f JOIN docs d ON f.doc_id = d.doc_id),
      |fbytes AS (
      |  SELECT doc_id, fno, unnest(list_transform(split(chunk, ''), c -> ascii(c) % 16)) AS b
      |  FROM chunks),
      |hist0 AS (SELECT doc_id, fno, b, count(*) AS cnt FROM fbytes GROUP BY 1, 2, 3),
      |grid AS (SELECT c.doc_id, c.fno, gs.b, length(c.chunk) AS clen
      |         FROM chunks c, (SELECT unnest(range(16)) AS b) gs),
      |feat AS (
      |  SELECT g.doc_id, g.fno, g.b,
      |         CAST(COALESCE(h.cnt, 0) / g.clen AS FLOAT) AS f
      |  FROM grid g LEFT JOIN hist0 h ON g.doc_id = h.doc_id AND g.fno = h.fno AND g.b = h.b),
      |lst AS (SELECT doc_id, fno, list(f ORDER BY b) AS lst FROM feat GROUP BY 1, 2),
      |scored AS (
      |  SELECT doc_id, fno, lst,
      |         lag(lst) OVER (PARTITION BY doc_id ORDER BY fno) AS prev
      |  FROM lst),
      |cuts AS (
      |  SELECT doc_id, CAST(fno AS INTEGER) AS frame_no,
      |    round(CAST(list_sum(list_transform(range(1, 17),
      |      i -> CAST(trunc(abs(CAST(lst[i] AS DOUBLE) - CAST(prev[i] AS DOUBLE)) * 1e9) AS BIGINT))) AS DOUBLE) / 1e9, 6) AS l1
      |  FROM scored WHERE prev IS NOT NULL)
      |SELECT doc_id, frame_no, l1 FROM cuts WHERE l1 > 0.8
      |ORDER BY doc_id, frame_no""".stripMargin

  /** Mean-byte threshold for m08's voiced/silent split (empirical: the
    * src1 frame-energy mean is 94.7 at sf0.01, so 95 splits 123/279
    * frames voiced — both classes well-populated, segments non-trivial). */
  val VadThreshold = 95

  /** m08 body, factored so specs can drive constructed payloads. */
  private[graft] def vadSegments(documents: DataFrame): DataFrame = {
    val frames = graft.multimodal.Multimodal.frameEnergy(
      graft.multimodal.Multimodal.attachPayload(documents))
    val voiced = frames.filter(col("e_sum") > lit(VadThreshold) * col("flen"))
    val w = Window.partitionBy(col("doc_id")).orderBy(col("frame_no"))
    voiced.withColumn("grp", col("frame_no") - row_number().over(w))
      .groupBy(col("doc_id"), col("grp"))
      .agg(min(col("frame_no")).cast(LongType).as("start_f"),
        max(col("frame_no")).cast(LongType).as("end_f"),
        count(lit(1)).as("n_frames"),
        sum(col("e_sum")).as("e_sum"))
      .select("doc_id", "start_f", "end_f", "n_frames", "e_sum")
      .orderBy("doc_id", "start_f")
  }

  /** m08: audio voice-activity segmentation — the VAD pass an audio
    * training pipeline runs before ASR/captioning (only voiced segments
    * are worth transcribing; silence is cut): per-frame energies
    * through the REAL batched decode path
    * ([[graft.multimodal.Multimodal.frameEnergy]]), an integer-exact
    * voiced threshold (e_sum > T·len — no float enters the decision),
    * then consecutive voiced frames merged into maximal segments with
    * the d10 gaps-and-islands idiom on ONE doc-keyed window. Scale
    * shape: decode is map-side; the only shuffles are the window hash
    * and the (doc, island) aggregation — both keyed by doc_id. */
  private val m08: Fn = (s, d) =>
    // pushable pre-filter (see m06): audio rows only, at the scan
    vadSegments(Tables.documents(s, d).filter(col("source") === "src1"))
  private val m08Sql =
    s"""WITH docs AS (SELECT doc_id, text FROM documents
      |              WHERE source = 'src1' AND text IS NOT NULL),
      |frames AS (
      |  SELECT d.doc_id, unnest(range(0, (length(d.text) - 1) // 32 + 1)) AS fno FROM docs d),
      |chunks AS (
      |  SELECT f.doc_id, f.fno, substring(d.text, CAST(f.fno * 32 + 1 AS INTEGER), 32) AS chunk
      |  FROM frames f JOIN docs d ON f.doc_id = d.doc_id),
      |en AS (
      |  SELECT doc_id, fno,
      |         CAST(list_sum(list_transform(split(chunk, ''), c -> ascii(c))) AS BIGINT) AS es,
      |         length(chunk) AS flen
      |  FROM chunks),
      |voiced AS (SELECT doc_id, fno, es FROM en WHERE es > $VadThreshold * flen),
      |isl AS (
      |  SELECT doc_id, fno, es,
      |         fno - row_number() OVER (PARTITION BY doc_id ORDER BY fno) AS grp
      |  FROM voiced)
      |SELECT doc_id, CAST(min(fno) AS BIGINT) AS start_f, CAST(max(fno) AS BIGINT) AS end_f,
      |       count(*) AS n_frames, CAST(sum(es) AS BIGINT) AS e_sum
      |FROM isl GROUP BY doc_id, grp
      |ORDER BY doc_id, start_f""".stripMargin

  private val m04Sql =
    """WITH docs AS (SELECT doc_id, text FROM documents),
      |bytes AS (SELECT doc_id, unnest(list_transform(split(text, ''), c -> ascii(c) % 16)) AS b
      |          FROM docs),
      |hist0 AS (SELECT doc_id, b, count(*) AS cnt FROM bytes GROUP BY 1, 2),
      |grid AS (SELECT doc_id, gs.b FROM docs, (SELECT unnest(range(16)) AS b) gs),
      |feat AS (
      |  SELECT g.doc_id, g.b,
      |         CAST(COALESCE(h.cnt, 0) / length(d.text) AS FLOAT) AS f
      |  FROM grid g LEFT JOIN hist0 h ON g.doc_id = h.doc_id AND g.b = h.b
      |  JOIN docs d ON g.doc_id = d.doc_id),
      |sig AS (SELECT doc_id,
      |          string_agg(CAST(CAST(floor(CAST(f AS DOUBLE) * 64) AS INT) AS VARCHAR),
      |                     ',' ORDER BY b) AS sig
      |        FROM feat GROUP BY doc_id),
      |pairs AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id
      |          FROM sig a JOIN sig b ON a.sig = b.sig AND a.doc_id < b.doc_id),
      |dist AS (
      |  SELECT p.a_id, p.b_id,
      |         round(CAST(sum(CAST(trunc(abs(CAST(fa.f AS DOUBLE) - CAST(fb.f AS DOUBLE)) * 1e9) AS BIGINT)) AS DOUBLE) / 1e9, 6) AS l1
      |  FROM pairs p
      |  JOIN feat fa ON fa.doc_id = p.a_id
      |  JOIN feat fb ON fb.doc_id = p.b_id AND fa.b = fb.b
      |  GROUP BY 1, 2)
      |SELECT a_id, b_id, l1 FROM dist ORDER BY a_id, b_id""".stripMargin

  /** st4: BATCH twin of the streaming ingest front-end
    * ([[graft.streaming.StreamingOps.ingestDocs]]): content-fingerprint
    * dedup with deterministic first-arrival (min doc_id — the streaming
    * form's first arrival IS the min id when arrivals are id-ordered,
    * which StreamingSpec's equivalence test feeds), quality verdict,
    * and the md5-deterministic split/shard assignment. Closes the
    * oracle gap: st1-st3 batch forms were oracled, the ingest
    * front-end ran as specs only. All stages are map-side except the
    * one keyed shuffle on the fingerprint. */
  private val st4: Fn = (s, d) => {
    val w = Window.partitionBy(col("content_fp")).orderBy(col("doc_id"))
    val firsts = Tables.documents(s, d)
      .withColumn("content_fp", md5(col("text")))
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).drop("__rn")
    graft.queries.PipelineQueries.withQualityVerdict(firsts)
      .withColumn("split", graft.functions.DetHash.splitOf(col("doc_id")))
      .withColumn("shard", graft.functions.DetHash.shardOf(col("doc_id")))
      .select("doc_id", "content_fp", "dup_word_frac", "top_bigram_frac",
        "passes", "split", "shard")
      .orderBy("doc_id")
  }
  private val st4Sql = {
    val splitB = graft.functions.DetHash.mdBucketSql("b.doc_id", "split:", 100)
    val shardB = graft.functions.DetHash.mdBucketSql("b.doc_id", "shuffle:", 8)
    s"""WITH firsts AS (
       |  SELECT doc_id, text, md5(text) AS content_fp,
       |         row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
       |  FROM documents),
       |base AS (
       |  SELECT doc_id, content_fp, string_split(text, ' ') AS w
       |  FROM firsts WHERE rn = 1),
       |bg AS (
       |  SELECT doc_id, unnest(list_transform(range(1, len(w)),
       |                 i -> concat(w[i], ' ', w[i+1]))) AS bg
       |  FROM base WHERE len(w) >= 2),
       |top AS (
       |  SELECT doc_id, max(c) AS top_bg
       |  FROM (SELECT doc_id, bg, count(*) AS c FROM bg GROUP BY 1, 2) t
       |  GROUP BY doc_id)
       |SELECT b.doc_id, b.content_fp,
       |  1.0 - CAST(len(list_distinct(w)) AS DOUBLE) / CAST(len(w) AS DOUBLE) AS dup_word_frac,
       |  CASE WHEN len(w) < 2 THEN 1.0
       |       ELSE CAST(top_bg AS DOUBLE) / CAST(len(w) - 1 AS DOUBLE) END AS top_bigram_frac,
       |  (1.0 - CAST(len(list_distinct(w)) AS DOUBLE) / CAST(len(w) AS DOUBLE)) <= 0.6
       |    AND (CASE WHEN len(w) < 2 THEN 1.0
       |              ELSE CAST(top_bg AS DOUBLE) / CAST(len(w) - 1 AS DOUBLE) END) <= 0.18 AS passes,
       |  CASE WHEN $splitB < 80 THEN 'train' WHEN $splitB < 90 THEN 'val' ELSE 'test' END AS split,
       |  $shardB AS shard
       |FROM base b LEFT JOIN top USING (doc_id)
       |ORDER BY b.doc_id""".stripMargin
  }

  /** st5: windowed top-k leaderboard, batch form — the DuckDB-oracled
    * ground truth for the streaming pre-agg/serve split
    * ([[graft.streaming.StreamingOps.windowedTypeCounts]] +
    * [[graft.streaming.StreamingOps.rankTopK]]; StreamingSpec proves
    * the MemoryStream-driven composition emits these exact rows). */
  private val st5: Fn = (s, d) =>
    graft.streaming.StreamingOps.rankTopK(
      graft.streaming.StreamingOps.windowedTypeCounts(Tables.events(s, d)))
  private val st5Sql =
    """WITH counts AS (
      |  SELECT date_trunc('hour', ts) AS w_start, event_type, count(*) AS n
      |  FROM events GROUP BY 1, 2),
      |ranked AS (
      |  SELECT w_start, event_type, n,
      |         row_number() OVER (PARTITION BY w_start ORDER BY n DESC, event_type) AS rk
      |  FROM counts)
      |SELECT w_start, rk, event_type, n FROM ranked
      |WHERE rk <= 3 ORDER BY w_start, rk""".stripMargin

  /** m09: perceptual-hash (aHash) signatures + signature-level dedup —
    * the image-dedup pass of a multimodal curation pipeline: a 64-cell
    * thumbnail per payload (the m05 batched-decode path at 64 buckets),
    * one bit per cell (above/below the thumbnail mean), the 64-bit
    * signature carried as 4 exact 16-bit chunk ints (the d05 pigeonhole
    * layout, so a Hamming-radius candidate join at a real image corpus
    * is the same one-line chunk equi-join d05 ships), and d01's keeper
    * semantics at signature level: per signature group, keep_id = min
    * doc_id and the copy count. On THIS fixture byte-identical payloads
    * exist only at sf0.1 (the regenerated corpus has no exact dups
    * below it) and near-dups are word-reorderings that positional
    * hashes must NOT conflate — so below sf0.1 every group is a
    * correct singleton and at sf0.1 the dup groups collapse; a
    * Hamming-threshold PAIR output would be vacuous below sf0.1, which
    * the registry's non-empty gate forbids. Portability: thumbnail
    * cells are exact integer-ratio doubles (m05's oracle), the mean is
    * a sequential fold in cell order, each chunk an exact ≤2¹⁶ int
    * from pow(2, j ≤ 15) doubles. Shapes: batched mapPartitions
    * decode, one keyed window on the 4 chunk ints — the signature IS
    * the shuffle/bucketing key at 100 TB.
    *
    * ASCII-only parity assumption (shared with m05/m06): the Spark side
    * hashes payload BYTES (`text.cast(BinaryType)`) while the oracle
    * hashes per-CHARACTER codepoints (`split(text,'') + ascii`,
    * char-count length) — identical iff every char is single-byte,
    * i.e. pure ASCII. MultimodalSpec pins the fixture guard (byte
    * length == char length at every SF), so a non-ASCII regeneration
    * fails loudly there instead of silently diverging here. */
  private[queries] def aHashSigs(docsDf: DataFrame): DataFrame = {
    val thumbs = graft.multimodal.Multimodal.resizeThumb(
      graft.multimodal.Multimodal.attachPayload(docsDf), buckets = 64)
    val mean = aggregate(col("thumb"), lit(0.0), (a, x) => a + x) / lit(64.0)
    def chunk(c: Int): org.apache.spark.sql.Column = aggregate(
      zip_with(slice(col("thumb"), c * 16 + 1, 16), sequence(lit(0), lit(15)),
        (v, j) => when(v > col("mean"), pow(lit(2.0), j)).otherwise(lit(0.0))),
      lit(0.0), (a, x) => a + x).cast(LongType)
    thumbs.withColumn("mean", mean)
      .select(col("doc_id") +: (0 until 4).map(c => chunk(c).as(s"c$c")): _*)
  }

  private val m09: Fn = (s, d) => {
    val sigs = aHashSigs(Tables.documents(s, d))
    val w = Window.partitionBy(col("c0"), col("c1"), col("c2"), col("c3"))
    sigs
      .withColumn("keep_id", min(col("doc_id")).over(w))
      .withColumn("n_copies", count(lit(1)).over(w))
      .select(col("doc_id"), col("c0"), col("c1"), col("c2"), col("c3"),
        col("keep_id"), col("n_copies"),
        (col("doc_id") =!= col("keep_id")).as("is_dup"))
      .orderBy("doc_id")
  }
  private val m09Sql =
    """WITH b AS (
      |  SELECT doc_id, length(text) AS len,
      |         unnest(list_transform(split(text, ''), c -> ascii(c))) AS v,
      |         unnest(range(1, length(text) + 1)) AS i
      |  FROM documents),
      |agg AS (
      |  SELECT doc_id, CAST(((i - 1) * 64) // len AS INTEGER) AS bucket,
      |         CAST(sum(v) AS BIGINT) AS s, count(*) AS c
      |  FROM b GROUP BY 1, 2),
      |grid AS (
      |  SELECT d.doc_id, g.bucket
      |  FROM documents d CROSS JOIN (SELECT CAST(unnest(range(64)) AS INTEGER) AS bucket) g),
      |thumb AS (
      |  SELECT g.doc_id,
      |         list(CASE WHEN a.c IS NULL THEN 0.0
      |                   ELSE CAST(a.s AS DOUBLE) / a.c END ORDER BY g.bucket) AS arr
      |  FROM grid g LEFT JOIN agg a ON g.doc_id = a.doc_id AND g.bucket = a.bucket
      |  GROUP BY g.doc_id),
      |sigs AS (
      |  SELECT doc_id, arr,
      |         list_reduce(arr, (a, b) -> a + b) / 64.0 AS mean
      |  FROM thumb),
      |cs AS (
      |  SELECT doc_id,
      |         CAST(list_reduce(list_transform(range(1, 17), j ->
      |           CASE WHEN arr[j] > mean THEN pow(2.0, j - 1) ELSE 0.0 END),
      |           (a, b) -> a + b) AS BIGINT) AS c0,
      |         CAST(list_reduce(list_transform(range(1, 17), j ->
      |           CASE WHEN arr[16 + j] > mean THEN pow(2.0, j - 1) ELSE 0.0 END),
      |           (a, b) -> a + b) AS BIGINT) AS c1,
      |         CAST(list_reduce(list_transform(range(1, 17), j ->
      |           CASE WHEN arr[32 + j] > mean THEN pow(2.0, j - 1) ELSE 0.0 END),
      |           (a, b) -> a + b) AS BIGINT) AS c2,
      |         CAST(list_reduce(list_transform(range(1, 17), j ->
      |           CASE WHEN arr[48 + j] > mean THEN pow(2.0, j - 1) ELSE 0.0 END),
      |           (a, b) -> a + b) AS BIGINT) AS c3
      |  FROM sigs)
      |SELECT doc_id, c0, c1, c2, c3,
      |       min(doc_id) OVER (PARTITION BY c0, c1, c2, c3) AS keep_id,
      |       count(*) OVER (PARTITION BY c0, c1, c2, c3) AS n_copies,
      |       doc_id <> min(doc_id) OVER (PARTITION BY c0, c1, c2, c3) AS is_dup
      |FROM cs ORDER BY doc_id""".stripMargin

  /** m10: Hamming-radius (≤3) PAIR join over the m09 aHash signatures —
    * the image near-dup pair query the m09 group form deliberately does
    * not run bare (no fixture pair within radius below sf0.1: measured
    * min Hamming 9–10 at sf0.001/0.01, so a bare pair output would be
    * vacuous there). Shipped in the s11-style HARNESS form instead: the
    * corpus is augmented with PLANTED probes — an exact copy (Hamming 0
    * by construction) and a first-char perturbation ('X' over char 1,
    * measured 0–1 flipped sig bits) of the four lowest doc_ids — so the
    * radius join must surface exactly the planted triangles plus the
    * fixture's genuine pairs (8 byte-identical pairs at sf0.1) while
    * conflating none of the word-reordering near-dups. Shapes: d05's
    * pigeonhole discipline verbatim — candidates share ≥1 of the 4
    * 16-bit chunks (lossless for radius ≤ 3: ≤3 flipped bits cannot
    * touch all 4 chunks) under [[DedupQueries.MaxBucket]]'s bucket cap
    * (a no-op here, max bucket 19; bounded-reducer guarantee at scale),
    * then popcount(xor) exact verification. The oracle is the NAIVE
    * all-pairs join, so hash parity also proves the pigeonhole
    * candidate set loses no pair. ASCII-only parity as m09. */
  /** The m10 pair stage, factored (round 7) so the cluster roll-up
    * (m14) composes the REGISTERED pair plan (s11/s19 precedent). */
  private def m10Pairs(s: SparkSession, d: String): DataFrame = {
    val base = Tables.documents(s, d).select("doc_id", "text", "source")
    val probes = base.filter(col("doc_id") <= 3)
    val corpus = base
      .unionByName(probes.select(
        (col("doc_id") + lit(1000000000L)).as("doc_id"), col("text"), col("source")))
      .unionByName(probes.select(
        (col("doc_id") + lit(2000000000L)).as("doc_id"),
        concat(lit("X"), expr("substring(text, 2)")).as("text"), col("source")))
    val chunks = DedupQueries.capBuckets(
      aHashSigs(corpus).select(col("doc_id"), col("c0"), col("c1"), col("c2"), col("c3"),
        posexplode(array(col("c0"), col("c1"), col("c2"), col("c3"))).as(Seq("ci", "cv"))),
      Seq("ci", "cv"))
    val a = chunks.as("a"); val b = chunks.as("b")
    a.join(b, col("a.ci") === col("b.ci") && col("a.cv") === col("b.cv") &&
        col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"),
        (bit_count(col("a.c0").bitwiseXOR(col("b.c0"))) +
          bit_count(col("a.c1").bitwiseXOR(col("b.c1"))) +
          bit_count(col("a.c2").bitwiseXOR(col("b.c2"))) +
          bit_count(col("a.c3").bitwiseXOR(col("b.c3")))).cast(LongType).as("hamming"))
      .distinct()
      .filter(col("hamming") <= 3)
  }

  private val m10: Fn = (s, d) => m10Pairs(s, d).orderBy("a_id", "b_id")

  /** m14: perceptual-hash image-dedup CLUSTERS — the transitive roll-up
    * of m10's Hamming-≤3 pair relation through the d08 min-label
    * connected-components kernel ([[DedupQueries.minLabelComponents]]):
    * near-duplicate images form equivalence classes (re-encodes, crops,
    * thumbnails of one asset), and a keep-one-per-cluster pass needs the
    * CLASS, not the pairs. The multimodal twin of d08's text clusters,
    * running the same convergence-witnessed iteration over the same
    * kind of bounded pair relation; oracle = recursive-CTE transitive
    * closure over the same m10 pair SQL. */
  private val m14: Fn = (s, d) =>
    DedupQueries.minLabelComponents(s,
      m10Pairs(s, d).select(col("a_id").as("d1"), col("b_id").as("d2")))
      .groupBy(col("label").as("cluster"))
      .agg(count(lit(1)).as("n_items"),
        array_join(transform(sort_array(collect_list(col("id"))), _.cast(StringType)), ",")
          .as("members"))
      .orderBy("cluster")
  private def m14Sql: String =
    s"""WITH RECURSIVE pairs AS (
       |  SELECT a_id AS d1, b_id AS d2 FROM ($m10Sql) t),
       |edges AS (SELECT d1 AS a, d2 AS b FROM pairs UNION SELECT d2, d1 FROM pairs),
       |reach(a, b) AS (
       |  SELECT a, b FROM edges
       |  UNION
       |  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a),
       |comp AS (
       |  SELECT a AS id, least(a, min(b)) AS cluster FROM reach GROUP BY a)
       |SELECT cluster, count(*) AS n_items,
       |       array_to_string(list_sort(list(id)), ',') AS members
       |FROM comp GROUP BY cluster ORDER BY cluster""".stripMargin
  private val m10Sql =
    """WITH corpus AS (
      |  SELECT doc_id, text FROM documents
      |  UNION ALL SELECT doc_id + 1000000000, text FROM documents WHERE doc_id <= 3
      |  UNION ALL SELECT doc_id + 2000000000, 'X' || substr(text, 2) FROM documents WHERE doc_id <= 3),
      |b AS (
      |  SELECT doc_id, length(text) AS len,
      |         unnest(list_transform(split(text, ''), c -> ascii(c))) AS v,
      |         unnest(range(1, length(text) + 1)) AS i
      |  FROM corpus),
      |agg AS (
      |  SELECT doc_id, CAST(((i - 1) * 64) // len AS INTEGER) AS bucket,
      |         CAST(sum(v) AS BIGINT) AS s, count(*) AS c
      |  FROM b GROUP BY 1, 2),
      |grid AS (
      |  SELECT d.doc_id, g.bucket
      |  FROM corpus d CROSS JOIN (SELECT CAST(unnest(range(64)) AS INTEGER) AS bucket) g),
      |thumb AS (
      |  SELECT g.doc_id,
      |         list(CASE WHEN a.c IS NULL THEN 0.0
      |                   ELSE CAST(a.s AS DOUBLE) / a.c END ORDER BY g.bucket) AS arr
      |  FROM grid g LEFT JOIN agg a ON g.doc_id = a.doc_id AND g.bucket = a.bucket
      |  GROUP BY g.doc_id),
      |sigs AS (
      |  SELECT doc_id, arr,
      |         list_reduce(arr, (a, b) -> a + b) / 64.0 AS mean
      |  FROM thumb),
      |cs AS (
      |  SELECT doc_id,
      |         CAST(list_reduce(list_transform(range(1, 17), j ->
      |           CASE WHEN arr[j] > mean THEN pow(2.0, j - 1) ELSE 0.0 END),
      |           (a, b) -> a + b) AS BIGINT) AS c0,
      |         CAST(list_reduce(list_transform(range(1, 17), j ->
      |           CASE WHEN arr[16 + j] > mean THEN pow(2.0, j - 1) ELSE 0.0 END),
      |           (a, b) -> a + b) AS BIGINT) AS c1,
      |         CAST(list_reduce(list_transform(range(1, 17), j ->
      |           CASE WHEN arr[32 + j] > mean THEN pow(2.0, j - 1) ELSE 0.0 END),
      |           (a, b) -> a + b) AS BIGINT) AS c2,
      |         CAST(list_reduce(list_transform(range(1, 17), j ->
      |           CASE WHEN arr[48 + j] > mean THEN pow(2.0, j - 1) ELSE 0.0 END),
      |           (a, b) -> a + b) AS BIGINT) AS c3
      |  FROM sigs)
      |SELECT a.doc_id AS a_id, b.doc_id AS b_id,
      |       CAST(bit_count(xor(a.c0, b.c0)) + bit_count(xor(a.c1, b.c1))
      |          + bit_count(xor(a.c2, b.c2)) + bit_count(xor(a.c3, b.c3)) AS BIGINT) AS hamming
      |FROM cs a JOIN cs b ON a.doc_id < b.doc_id
      |WHERE bit_count(xor(a.c0, b.c0)) + bit_count(xor(a.c1, b.c1))
      |    + bit_count(xor(a.c2, b.c2)) + bit_count(xor(a.c3, b.c3)) <= 3
      |ORDER BY a_id, b_id""".stripMargin

  // ------------------------- m17 media-set manifest ---------------------

  /** Minimum decodable frame count for a video asset to survive m17. */
  val MinVideoFrames = 4

  /** m17: media training-set manifest — the multimodal capstone (p06's
    * counterpart for the media side): ONE composed verdict per asset,
    * from the REGISTERED per-mime pipelines. Images keep one exemplar
    * per m14 perceptual-hash cluster (the min-id keeper, duplicates
    * dropped); audio keeps assets whose m15 voiced span covers at
    * least half the frames (mostly-silence dropped); video keeps
    * assets with at least [[MinVideoFrames]] decodable frames (the
    * m16 scene/keyframe structure exists exactly for the survivors).
    * Every asset appears with a verdict AND a machine-readable reason
    * — the manifest is an audit artifact first (what was dropped and
    * why), a file list second.
    *
    * Exactness: every rule is integer logic on already-oracled
    * relations (cluster ids, frame counts, voiced spans); the
    * half-coverage test is 2·retained ≥ n_frames — no division.
    * Scale shape: three mime-filtered branches, each a keyed join of
    * the asset list against a per-mime relation (cluster membership
    * exploded from the cluster-grain relation; per-doc trim/frame
    * aggregates); one union, no windows. */
  /** The manifest build, materialized once per JVM per fixture through
    * [[SharedPools]] (the s10-graph precedent): m17 itself and every
    * composition consumer (m18's balance plan) share one build — the
    * first caller pays it, everyone else parquet-scans. */
  private[queries] def manifestPool(s: SparkSession, d: String): DataFrame =
    SharedPools.materialized(s, d, "media_manifest")(m17Built(s, d))

  private val m17: Fn = (s, d) => manifestPool(s, d).orderBy("doc_id")

  private[queries] def m17Built(s: SparkSession, d: String): DataFrame = {
    val dd = Tables.documents(s, d).select(col("doc_id"), col("source"))
    // m14's pair stage plants probe payloads (ids offset by 1e9) to keep
    // its recall graded — the manifest must reflect REAL duplicate
    // structure only, so probe ids are excluded from the pair relation
    // BEFORE the transitive closure (filtering members after closure
    // would label every probed doc a cluster_keeper even with no real
    // duplicate, and a threshold-straddling probe could bridge two real
    // docs into a drop via an unmeasured real-real pair).
    val realPairs = m10Pairs(s, d)
      .filter(col("a_id") < 1000000000L && col("b_id") < 1000000000L)
      .select(col("a_id").as("d1"), col("b_id").as("d2"))
    val member = DedupQueries.minLabelComponents(s, realPairs)
      .select(col("label").as("cluster"), col("id").as("doc_id"))
    val dup = col("cluster").isNotNull && col("cluster") =!= col("doc_id")
    val base = dd.join(member, Seq("doc_id"), "left")
    val img = base.filter(col("source") === "src0")
      .select(col("doc_id"),
        when(dup, "drop").otherwise("keep").as("verdict"),
        when(dup, "phash_duplicate")
          .when(col("cluster") === col("doc_id"), "cluster_keeper")
          .otherwise("unique").as("reason"))
    val trims = graft.queries.ExtraQueries12.silenceTrimFn(s, d)
      .select(col("doc_id"), col("n_frames"), col("retained"))
    val aud = base.filter(col("source") === "src1")
      .join(trims, Seq("doc_id"), "left")
      .select(col("doc_id"),
        when(dup, "drop")
          .when(col("retained").isNotNull && col("retained") * 2 >= col("n_frames"), "keep")
          .otherwise("drop").as("verdict"),
        when(dup, "phash_duplicate")
          .when(col("retained").isNull, "undecodable")
          .when(col("retained") * 2 >= col("n_frames"), "voiced")
          .otherwise("mostly_silence").as("reason"))
    val frames = graft.queries.ExtraQueries13.keyframesFn(s, d)
      .groupBy("doc_id").agg(sum(col("n_frames")).as("tf"))
    val vid = base.filter(!col("source").isin("src0", "src1"))
      .join(frames, Seq("doc_id"), "left")
      .select(col("doc_id"),
        when(dup, "drop")
          .when(col("tf").isNotNull && col("tf") >= MinVideoFrames, "keep")
          .otherwise("drop").as("verdict"),
        when(dup, "phash_duplicate")
          .when(col("tf").isNull, "undecodable")
          .when(col("tf") >= MinVideoFrames, "ok")
          .otherwise("too_short").as("reason"))
    img.unionByName(aud).unionByName(vid)
      .join(dd, Seq("doc_id"))
      .select(col("doc_id"),
        when(col("source") === "src0", "image/png")
          .when(col("source") === "src1", "audio/wav")
          .otherwise("video/mp4").as("mime"),
        col("verdict"), col("reason"))
  }

  /** m17's manifest + oracle, exposed for composition (m18 consumes the
    * capstone the way m17 consumes m14/m15/m16 — the p06 precedent). */
  private[queries] def mediaManifestFn(s: SparkSession, d: String): DataFrame = m17(s, d)
  private[queries] def mediaManifestSql: String = m17Sql

  private def m17Sql: String =
    s"""WITH RECURSIVE rp AS (
       |  SELECT a_id AS d1, b_id AS d2 FROM ($m10Sql) t
       |  WHERE a_id < 1000000000 AND b_id < 1000000000),
       |redges AS (SELECT d1 AS a, d2 AS b FROM rp UNION SELECT d2, d1 FROM rp),
       |rreach(a, b) AS (
       |  SELECT a, b FROM redges
       |  UNION
       |  SELECT r.a, e.b FROM rreach r JOIN redges e ON r.b = e.a),
       |realm AS (
       |  SELECT a AS doc_id, least(a, min(b)) AS cluster FROM rreach GROUP BY a),
       |img AS (
       |  SELECT d.doc_id,
       |         CASE WHEN m.cluster IS NOT NULL AND m.cluster <> d.doc_id THEN 'drop'
       |              ELSE 'keep' END AS verdict,
       |         CASE WHEN m.cluster IS NOT NULL AND m.cluster <> d.doc_id THEN 'phash_duplicate'
       |              WHEN m.cluster = d.doc_id THEN 'cluster_keeper'
       |              ELSE 'unique' END AS reason
       |  FROM documents d LEFT JOIN realm m ON d.doc_id = m.doc_id
       |  WHERE d.source = 'src0'),
       |trims AS (${graft.queries.ExtraQueries12.m15Sql}),
       |aud AS (
       |  SELECT d.doc_id,
       |         CASE WHEN m.cluster IS NOT NULL AND m.cluster <> d.doc_id THEN 'drop'
       |              WHEN t.retained IS NOT NULL AND t.retained * 2 >= t.n_frames
       |              THEN 'keep' ELSE 'drop' END AS verdict,
       |         CASE WHEN m.cluster IS NOT NULL AND m.cluster <> d.doc_id THEN 'phash_duplicate'
       |              WHEN t.retained IS NULL THEN 'undecodable'
       |              WHEN t.retained * 2 >= t.n_frames THEN 'voiced'
       |              ELSE 'mostly_silence' END AS reason
       |  FROM documents d
       |  LEFT JOIN realm m ON d.doc_id = m.doc_id
       |  LEFT JOIN trims t ON d.doc_id = t.doc_id
       |  WHERE d.source = 'src1'),
       |scn AS (${graft.queries.ExtraQueries13.m16Sql}),
       |frames AS (SELECT doc_id, sum(n_frames) AS tf FROM scn GROUP BY 1),
       |vid AS (
       |  SELECT d.doc_id,
       |         CASE WHEN m.cluster IS NOT NULL AND m.cluster <> d.doc_id THEN 'drop'
       |              WHEN f.tf IS NOT NULL AND f.tf >= $MinVideoFrames
       |              THEN 'keep' ELSE 'drop' END AS verdict,
       |         CASE WHEN m.cluster IS NOT NULL AND m.cluster <> d.doc_id THEN 'phash_duplicate'
       |              WHEN f.tf IS NULL THEN 'undecodable'
       |              WHEN f.tf >= $MinVideoFrames THEN 'ok'
       |              ELSE 'too_short' END AS reason
       |  FROM documents d
       |  LEFT JOIN realm m ON d.doc_id = m.doc_id
       |  LEFT JOIN frames f ON d.doc_id = f.doc_id
       |  WHERE d.source NOT IN ('src0', 'src1')),
       |unioned AS (
       |  SELECT * FROM img UNION ALL SELECT * FROM aud UNION ALL SELECT * FROM vid)
       |SELECT u.doc_id,
       |       CASE WHEN d.source = 'src0' THEN 'image/png'
       |            WHEN d.source = 'src1' THEN 'audio/wav'
       |            ELSE 'video/mp4' END AS mime,
       |       u.verdict, u.reason
       |FROM unioned u JOIN documents d ON u.doc_id = d.doc_id
       |ORDER BY 1""".stripMargin

  val all: Seq[Q] = Seq(
    Q("m17_media_manifest", m17, Some(m17Sql)),
    Q("m13_histogram_drift", m13, Some(m13Sql)),
    Q("m09_phash_signatures", m09, Some(m09Sql)),
    Q("m10_phash_pairs", m10, Some(m10Sql)),
    Q("m14_payload_clusters", m14, Some(m14Sql)),
    Q("st5_stream_topk", st5, Some(st5Sql)),
    Q("st4_ingest_front", st4, Some(st4Sql)),
    Q("r51_asof_native", r51, Some(r51Sql)),
    Q("m04_payload_neardup", m04, Some(m04Sql)),
    Q("m07_scene_cuts", m07, Some(m07Sql)),
    Q("m08_vad_segments", m08, Some(m08Sql)),
    Q("r45_lateral_topn", r45, Some(r45Sql)),
    Q("r58_recursive_reach", r58, Some(r58Sql)),
    Q("r46_gapfill", r46, Some(r46Sql)),
    Q("r44_band_join", r44, Some(r44Sql)),
    Q("r57_band_join_auto", r57, Some(r44Sql)),
    Q("r24_asof_join", r24, Some(r24Sql)),
    Q("r25_range_join", r25, Some(r25Sql)),
    Q("r26_percentiles", r26, Some(r26Sql)),
    Q("r27_pivot", r27, Some(r27Sql)),
    Q("st1_session_window", st1, Some(st1Sql)),
    Q("st2_interval_join", st2, Some(st2Sql)),
    Q("st3_interval_join_outer", st3, Some(st3Sql)),
    Q("m01_multimodal_meta", m01, Some(m01Sql)),
    Q("r28_approx_distinct", r28, None),
    Q("r52_hll_sketch_columns", r52, None),
    Q("r47_approx_percentiles", r47, None),
    Q("m02_decode_features", m02, Some(m02Sql)),
    Q("m05_resize_thumb", m05, Some(m05Sql)),
    Q("m06_audio_resample", m06, Some(m06Sql)),
    Q("m03_frame_sample", m03, Some(m03Sql)))

  /** Band oracles for the two estimate-valued sketch queries (r8 verdict
    * stretch 7): DuckDB's OWN approximators (its HLL, its t-digest) over
    * the same data, with a relative tolerance wide enough for two
    * independent sketch implementations that are each spec-bounded near
    * the exact answer, and far tighter than any wrong plan could pass
    * (a dropped filter or doubled input moves an estimate by ~2x, not
    * ~2%). CoverageSpec separately bounds both queries against EXACT
    * ground truth at all three SFs — the band adds the cross-engine leg
    * the hash oracle cannot provide for sketch internals. */
  val bandOracles: Map[String, (String, Double)] = Map(
    "r28_approx_distinct" -> (
      """SELECT l_returnflag,
        |       CAST(approx_count_distinct(l_partkey) AS BIGINT) AS approx_parts,
        |       CAST(approx_count_distinct(l_orderkey) AS BIGINT) AS approx_orders
        |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin, 0.10),
    "r47_approx_percentiles" -> (
      """SELECT l_returnflag,
        |       CAST(approx_quantile(l_quantity, 0.5) AS DOUBLE) AS p50_qty,
        |       CAST(approx_quantile(l_quantity, 0.9) AS DOUBLE) AS p90_qty,
        |       CAST(approx_quantile(l_extendedprice, 0.99) AS DOUBLE) AS p99_price
        |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin, 0.10),
    // r52's REGISTERED columns are estimate-valued (per-source HLL
    // estimates + the union-of-stored-sketches estimate) — only the
    // sketch binaries themselves are engine-private, and they never
    // leave the query. So the r28 treatment applies verbatim: DuckDB's
    // own HLL over the same relation, per source and for the union row
    // (r9 verdict item 6; CoverageSpec keeps the exact-ground-truth
    // bound, this adds the cross-engine leg).
    "r52_hll_sketch_columns" -> (
      """SELECT source,
        |       CAST(approx_count_distinct(doc_id) AS BIGINT) AS approx_distinct,
        |       CAST(count(*) AS BIGINT) AS n_docs
        |FROM documents GROUP BY source
        |UNION ALL
        |SELECT '__union__' AS source,
        |       CAST(approx_count_distinct(doc_id) AS BIGINT) AS approx_distinct,
        |       CAST(count(*) AS BIGINT) AS n_docs
        |FROM documents
        |ORDER BY source""".stripMargin, 0.10))
}
