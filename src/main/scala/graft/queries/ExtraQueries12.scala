package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType, IntegerType, LongType}
import graft.Tables
import graft.functions.PortableHash.{md5Prefix, md5PrefixSql}
import graft.queries.Relational.{Fn, Q, money}

/** Round-7 batch 12: content-defined chunk dedup (the storage-dedup
  * primitive), metric delta attribution (the "why did it move"
  * drill-down), audio silence trimming, and SLA latency percentiles by
  * the counting method.
  *
  * Same determinism discipline as ExtraQueries3–11.
  */
object ExtraQueries12 {

  private def orders(s: SparkSession, d: String) = Tables.orders(s, d)
  private def lineitem(s: SparkSession, d: String) = Tables.lineitem(s, d)
  private def customer(s: SparkSession, d: String) = Tables.customer(s, d)
  private def nation(s: SparkSession, d: String) = Tables.nation(s, d)
  private def region(s: SparkSession, d: String) = Tables.region(s, d)
  private def docs(s: SparkSession, d: String) = Tables.documents(s, d)

  // ---------------------------------------- d23 content-defined chunking

  val CdcMod = 16

  /** d23: content-defined chunking (CDC) dedup audit — break every
    * document into variable-size chunks at positions the CONTENT
    * chooses (a token is a breakpoint iff its portable md5 ≡ 0 mod
    * [[CdcMod]]), hash each chunk, and report per-source how many
    * chunk-store tokens dedup away. Content-defined boundaries are the
    * property that makes this the storage/dataset dedup primitive
    * (rsync, LBFS, modern chunk stores): an insertion shifts only the
    * chunks it touches, while d10's FIXED windows shift every boundary
    * after the edit — the locality the spec proves with a planted
    * prefix edit.
    *
    * Exactness: breakpoints are integer hash tests on identical md5
    * prefixes; chunk identity is the md5 of the pos-ordered token join;
    * all outputs are integer counts plus one rounded ratio.
    * Scale shape: chunking is one doc-keyed window (the breakpoint
    * cumsum rides the same sort as the token regroup); the chunk store
    * is a (source, hash)-keyed aggregation — dedup structure without a
    * single pairwise comparison, which is why chunk stores scale where
    * pair joins cannot. */
  private val d23: Fn = (s, d) => {
    val toks = split(col("text"), " ")
    val tok = docs(s, d)
      .select(col("doc_id"), col("source"), posexplode(toks).as(Seq("pos", "token")))
      .withColumn("is_break",
        (md5Prefix(concat(lit("cdc:"), col("token")), 8) % CdcMod === 0).cast(IntegerType))
    val w = Window.partitionBy("doc_id").orderBy("pos")
      .rowsBetween(Window.unboundedPreceding, -1)
    val chunks = tok
      .withColumn("chunk_id", coalesce(sum(col("is_break")).over(w), lit(0)))
      .groupBy(col("doc_id"), col("source"), col("chunk_id"))
      .agg(md5(array_join(transform(array_sort(collect_list(struct(col("pos"), col("token")))),
        x => x("token")), " ")).as("chunk_hash"),
        count(lit(1)).as("chunk_len"))
    val store = chunks.groupBy("source", "chunk_hash")
      .agg(count(lit(1)).as("occ"), first(col("chunk_len")).as("chunk_len"))
    store.groupBy("source")
      .agg(sum(col("occ")).cast(LongType).as("n_chunks"),
        count(lit(1)).as("n_distinct_chunks"),
        // dec-lift (overflow lint): occ·chunk_len fits in long per chunk
        // family; the source-level sums accumulate in DECIMAL(38,0)
        sum((col("occ") * col("chunk_len")).cast(DecimalType(38, 0)))
          .cast(LongType).as("total_tokens"),
        sum(((col("occ") - 1) * col("chunk_len")).cast(DecimalType(38, 0)))
          .cast(LongType).as("dup_token_savings"))
      .withColumn("savings_ratio", round(col("dup_token_savings").cast(DoubleType) /
        col("total_tokens").cast(DoubleType), 6))
      .select("source", "n_chunks", "n_distinct_chunks", "total_tokens",
        "dup_token_savings", "savings_ratio")
      .orderBy("source")
  }

  private val d23Sql =
    s"""WITH tok AS (
       |  SELECT doc_id, source, unnest(string_split(text, ' ')) AS token,
       |         CAST(unnest(range(1, len(string_split(text, ' ')) + 1)) AS INTEGER) AS pos
       |  FROM documents),
       |marked AS (
       |  SELECT doc_id, source, pos, token,
       |         CASE WHEN ${md5PrefixSql("concat('cdc:', token)", 8)}
       |                   % $CdcMod = 0 THEN 1 ELSE 0 END AS is_break
       |  FROM tok),
       |cids AS (
       |  SELECT doc_id, source, pos, token,
       |         COALESCE(sum(is_break) OVER (PARTITION BY doc_id ORDER BY pos
       |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS chunk_id
       |  FROM marked),
       |chunks AS (
       |  SELECT doc_id, source, chunk_id,
       |         md5(string_agg(token, ' ' ORDER BY pos)) AS chunk_hash,
       |         count(*) AS chunk_len
       |  FROM cids GROUP BY 1, 2, 3),
       |store AS (
       |  SELECT source, chunk_hash, count(*) AS occ, any_value(chunk_len) AS chunk_len
       |  FROM chunks GROUP BY 1, 2)
       |SELECT source,
       |       CAST(sum(occ) AS BIGINT) AS n_chunks,
       |       count(*) AS n_distinct_chunks,
       |       CAST(sum(occ * chunk_len) AS BIGINT) AS total_tokens,
       |       CAST(sum((occ - 1) * chunk_len) AS BIGINT) AS dup_token_savings,
       |       round(CAST(sum((occ - 1) * chunk_len) AS DOUBLE) /
       |             CAST(sum(occ * chunk_len) AS DOUBLE), 6) AS savings_ratio
       |FROM store
       |GROUP BY source
       |ORDER BY source""".stripMargin

  // ---------------------------------------- u23 delta attribution

  val AttrCurMonth = "1997-12"
  val AttrPrevMonth = "1997-11"

  /** u23: metric delta attribution — decompose the month-over-month
    * revenue change into per-(region, priority) cell contributions,
    * each with its share of the total absolute movement. This is the
    * "why did the metric move" drill-down every volume/revenue alert
    * (u13's anomaly flags, r65's WoW deltas) hands to an operator: the
    * alert says THAT it moved; the attribution table says WHERE.
    *
    * Exactness: both month revenues are exact cents from one
    * conditional aggregation; the only double is the share, guarded
    * against an all-zero-delta month (share 0.0, mirrored) and rounded
    * once.
    * Scale shape: ONE pass over the date-filtered join (both month
    * predicates pushed to the scan), one cell-keyed aggregation, and a
    * 1-row broadcast for the denominator — the output is
    * |cells|-sized. */
  private val u23: Fn = (s, d) => {
    val cur = lit(AttrCurMonth)
    val prev = lit(AttrPrevMonth)
    val mm = date_format(col("o_orderdate"), "yyyy-MM")
    val cells = orders(s, d)
      .filter(mm === cur || mm === prev)
      .join(customer(s, d), col("o_custkey") === col("c_custkey"))
      .join(broadcast(nation(s, d)), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(region(s, d)), col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("r_name"), col("o_orderpriority"))
      .agg(sum(when(mm === prev, money(col("o_totalprice")) * 100).otherwise(0))
        .cast(LongType).as("rev_prev"),
        sum(when(mm === cur, money(col("o_totalprice")) * 100).otherwise(0))
          .cast(LongType).as("rev_cur"))
      .withColumn("delta", col("rev_cur") - col("rev_prev"))
    val tot = cells.agg(sum(abs(col("delta"))).cast(LongType).as("abs_total"))
    cells.crossJoin(broadcast(tot))
      .withColumn("abs_share", when(col("abs_total") === 0, lit(0.0))
        .otherwise(round(abs(col("delta")).cast(DoubleType) /
          col("abs_total").cast(DoubleType), 6)))
      .select("r_name", "o_orderpriority", "rev_prev", "rev_cur", "delta", "abs_share")
      .orderBy(abs(col("delta")).desc, col("r_name"), col("o_orderpriority"))
  }

  private val u23Sql =
    s"""WITH cells AS (
       |  SELECT r_name, o_orderpriority,
       |         CAST(sum(CASE WHEN strftime(o_orderdate, '%Y-%m') = '$AttrPrevMonth'
       |                  THEN CAST(o_totalprice AS DECIMAL(12,2)) * 100 ELSE 0 END) AS BIGINT) AS rev_prev,
       |         CAST(sum(CASE WHEN strftime(o_orderdate, '%Y-%m') = '$AttrCurMonth'
       |                  THEN CAST(o_totalprice AS DECIMAL(12,2)) * 100 ELSE 0 END) AS BIGINT) AS rev_cur
       |  FROM orders
       |  JOIN customer ON o_custkey = c_custkey
       |  JOIN nation ON c_nationkey = n_nationkey
       |  JOIN region ON n_regionkey = r_regionkey
       |  WHERE strftime(o_orderdate, '%Y-%m') IN ('$AttrCurMonth', '$AttrPrevMonth')
       |  GROUP BY 1, 2),
       |tot AS (SELECT CAST(sum(abs(rev_cur - rev_prev)) AS BIGINT) AS abs_total FROM cells)
       |SELECT c.r_name, c.o_orderpriority, c.rev_prev, c.rev_cur,
       |       c.rev_cur - c.rev_prev AS delta,
       |       CASE WHEN t.abs_total = 0 THEN 0.0
       |            ELSE round(CAST(abs(c.rev_cur - c.rev_prev) AS DOUBLE) /
       |                       CAST(t.abs_total AS DOUBLE), 6) END AS abs_share
       |FROM cells c CROSS JOIN tot t
       |ORDER BY abs(c.rev_cur - c.rev_prev) DESC, c.r_name, c.o_orderpriority""".stripMargin

  // ---------------------------------------- m15 silence trim

  /** m15: leading/trailing silence trimming — for every audio asset,
    * locate the first and last voiced frame under m08's integer energy
    * threshold and report how much head/tail silence a trim pass would
    * cut. The standard pre-processing step before ASR batching (p18
    * packs by length — trimming first changes the lengths), sharing
    * m08's REAL batched decode path and threshold so the trim verdicts
    * are consistent with the VAD segments.
    *
    * Exactness: frame energies and the voiced test are integers
    * (e_sum > T·len); trims are frame-index arithmetic; one rounded
    * retained-fraction per row. Fully-silent assets keep a defined row
    * (trims = all frames, retained 0) rather than vanishing — the audit
    * must surface them, they are the rows a pipeline DROPS.
    * Scale shape: decode is map-side; one doc-keyed aggregation — no
    * windows at all (min/max over the voiced flag suffice). */
  /** m15 exposed for composition (m17 media manifest applies its trim
    * verdicts). */
  private[queries] def silenceTrimFn: Fn = m15

  private val m15: Fn = (s, d) => {
    val frames = graft.multimodal.Multimodal.frameEnergy(
      graft.multimodal.Multimodal.attachPayload(
        docs(s, d).filter(col("source") === "src1")))
    val voiced = col("e_sum") > lit(CoverageQueries.VadThreshold) * col("flen")
    frames.groupBy("doc_id")
      .agg(count(lit(1)).as("n_frames"),
        sum(when(voiced, 1L).otherwise(0L)).cast(LongType).as("n_voiced"),
        min(when(voiced, col("frame_no"))).as("first_v"),
        max(when(voiced, col("frame_no"))).as("last_v"))
      .withColumn("lead_trim",
        when(col("n_voiced") === 0, col("n_frames")).otherwise(col("first_v")).cast(LongType))
      .withColumn("tail_trim",
        when(col("n_voiced") === 0, lit(0L))
          .otherwise(col("n_frames") - 1 - col("last_v")).cast(LongType))
      .withColumn("retained",
        when(col("n_voiced") === 0, lit(0L))
          .otherwise(col("last_v") - col("first_v") + 1).cast(LongType))
      .withColumn("retained_frac", round(col("retained").cast(DoubleType) /
        col("n_frames").cast(DoubleType), 6))
      .select("doc_id", "n_frames", "n_voiced", "lead_trim", "tail_trim",
        "retained", "retained_frac")
      .orderBy("doc_id")
  }

  private[queries] val m15Sql =
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
       |agg AS (
       |  SELECT doc_id, count(*) AS n_frames,
       |         CAST(sum(CASE WHEN es > ${CoverageQueries.VadThreshold} * flen THEN 1 ELSE 0 END) AS BIGINT) AS n_voiced,
       |         min(CASE WHEN es > ${CoverageQueries.VadThreshold} * flen THEN fno END) AS first_v,
       |         max(CASE WHEN es > ${CoverageQueries.VadThreshold} * flen THEN fno END) AS last_v
       |  FROM en GROUP BY 1)
       |SELECT doc_id, n_frames, n_voiced,
       |       CAST(CASE WHEN n_voiced = 0 THEN n_frames ELSE first_v END AS BIGINT) AS lead_trim,
       |       CAST(CASE WHEN n_voiced = 0 THEN 0 ELSE n_frames - 1 - last_v END AS BIGINT) AS tail_trim,
       |       CAST(CASE WHEN n_voiced = 0 THEN 0 ELSE last_v - first_v + 1 END AS BIGINT) AS retained,
       |       round(CAST(CASE WHEN n_voiced = 0 THEN 0 ELSE last_v - first_v + 1 END AS DOUBLE) /
       |             CAST(n_frames AS DOUBLE), 6) AS retained_frac
       |FROM agg
       |ORDER BY doc_id""".stripMargin

  // ---------------------------------------- r107 SLA percentiles

  val SlaDays = 90

  /** r107: shipping-latency SLA report — exact p50/p90 of the
    * order-to-ship day count per priority class by the counting method
    * (cumulative counts over the (priority, days) histogram — never a
    * corpus-sized rank window, the u20/r66 discipline), plus the count
    * and rate of [[SlaDays]]-day breaches. The standing operational
    * report behind every fulfilment dashboard; priorities exist
    * exactly so this table can show their latency distributions
    * separating.
    *
    * Exactness: day counts are integer date diffs; the percentile
    * selectors are pure integer comparisons (2·cum ≥ n, 10·cum ≥ 9·n);
    * one rounded rate per row.
    * Scale shape: one fact-join aggregation to the (priority, days)
    * histogram (histogram size = latency domain, not row count), then
    * priority-keyed windows over that bounded relation. */
  private val r107: Fn = (s, d) => {
    val dd = datediff(to_date(col("l_shipdate")), to_date(col("o_orderdate")))
    val hist = lineitem(s, d).select(col("l_orderkey"), col("l_shipdate"))
      .join(orders(s, d).select(col("o_orderkey"), col("o_orderdate"), col("o_orderpriority")),
        col("l_orderkey") === col("o_orderkey"))
      .select(col("o_orderpriority").as("pri"), dd.as("days"))
      .groupBy("pri", "days").agg(count(lit(1)).as("c"))
    val w = Window.partitionBy("pri").orderBy("days")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = hist.withColumn("cum", sum(col("c")).over(w))
      .withColumn("n", sum(col("c")).over(Window.partitionBy("pri")))
    val agg = cum.groupBy("pri")
      .agg(max(col("n")).cast(LongType).as("n"),
        min(when(col("cum") * 2 >= col("n"), col("days"))).cast(LongType).as("p50_days"),
        min(when(col("cum") * 10 >= col("n") * 9, col("days"))).cast(LongType).as("p90_days"))
    val breach = hist.filter(col("days") > SlaDays)
      .groupBy("pri").agg(sum(col("c")).cast(LongType).as("n_breach"))
    agg.join(breach, Seq("pri"), "left")
      .withColumn("n_breach", coalesce(col("n_breach"), lit(0L)))
      .withColumn("breach_rate", round(col("n_breach").cast(DoubleType) /
        col("n").cast(DoubleType), 6))
      .select("pri", "n", "p50_days", "p90_days", "n_breach", "breach_rate")
      .orderBy("pri")
  }

  private val r107Sql =
    s"""WITH hist AS (
       |  SELECT o_orderpriority AS pri,
       |         datediff('day', CAST(o_orderdate AS DATE), CAST(l_shipdate AS DATE)) AS days,
       |         count(*) AS c
       |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
       |  GROUP BY 1, 2),
       |cum AS (
       |  SELECT pri, days, c,
       |         sum(c) OVER (PARTITION BY pri ORDER BY days
       |                      ROWS UNBOUNDED PRECEDING) AS cum,
       |         sum(c) OVER (PARTITION BY pri) AS n
       |  FROM hist),
       |agg AS (
       |  SELECT pri, CAST(max(n) AS BIGINT) AS n,
       |         CAST(min(CASE WHEN cum * 2 >= n THEN days END) AS BIGINT) AS p50_days,
       |         CAST(min(CASE WHEN cum * 10 >= n * 9 THEN days END) AS BIGINT) AS p90_days
       |  FROM cum GROUP BY 1),
       |breach AS (
       |  SELECT pri, CAST(sum(c) AS BIGINT) AS n_breach FROM hist
       |  WHERE days > $SlaDays GROUP BY 1)
       |SELECT a.pri, a.n, a.p50_days, a.p90_days,
       |       COALESCE(b.n_breach, 0) AS n_breach,
       |       round(CAST(COALESCE(b.n_breach, 0) AS DOUBLE) / CAST(a.n AS DOUBLE), 6) AS breach_rate
       |FROM agg a LEFT JOIN breach b ON a.pri = b.pri
       |ORDER BY 1""".stripMargin

  val all: Seq[Q] = Seq(
    Q("d23_cdc_chunks", d23, Some(d23Sql)),
    Q("u23_delta_attribution", u23, Some(u23Sql)),
    Q("m15_silence_trim", m15, Some(m15Sql)),
    Q("r107_sla_percentiles", r107, Some(r107Sql)))
}
