package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.Tables
import graft.functions.PortableHash.md5PrefixSql
import graft.queries.Relational.{Fn, Q}

/** Training-data pipeline operators beyond cleaning/dedup: quality
  * filtering by repetition, deterministic dataset splitting, stratified
  * sampling, and benchmark decontamination. These are the ops that turn
  * a cleaned corpus into a *training set* at 100 TB, and every one is
  * exactly reproducible (md5-derived buckets, no RNG state) so reruns,
  * backfills, and audits agree byte-for-byte.
  *
  * Scale notes: hash split/sample are pure map-side projections (no
  * shuffle at all — the filter pushes to the scan and the bucket is
  * computed per row); repetition quality is one explode + two grouped
  * aggregations on doc_id (partial agg applies); decontamination joins
  * on shared shingles exactly like d03, with the benchmark side orders
  * of magnitude smaller than the corpus (broadcast-ably so at scale).
  */
object PipelineQueries {

  private def docs(s: SparkSession, d: String) = Tables.documents(s, d)
  private val toks: Column = split(col("text"), " ")

  // Deterministic hash assignments shared with the streaming ingest
  // front-end — single definition in graft.functions.DetHash.
  private def mdBucket(key: Column, salt: String, mod: Int): Column =
    graft.functions.DetHash.mdBucket(key, salt, mod)

  private def mdBucketSql(key: String, salt: String, mod: Int): String =
    graft.functions.DetHash.mdBucketSql(key, salt, mod)

  // -------------------------------------------------- t10 repetition quality

  /** Longest equal-run in the sorted bigram array of token column `w` —
    * the top-bigram multiplicity WITHOUT a shuffle, via an aggregate
    * fold. The caller MUST pass a materialized array COLUMN: building
    * bigrams from an inline `split(...)` would re-run the split per
    * element (a lambda body is a fresh expression tree each invocation —
    * O(tokens²) per document). */
  private def topRunOfBigrams(w: Column): Column = {
    // guard: sequence(1, 0) yields the DESCENDING [1, 0], whose 0 index
    // makes element_at throw on a 1-token document — short texts must
    // produce an empty bigram array (best run 0), not an error
    val bigrams = when(size(w) < 2, array().cast("array<string>"))
      .otherwise(transform(sequence(lit(1), size(w) - 1),
        i => concat(element_at(w, i), lit(" "), element_at(w, i + 1))))
    aggregate(
      array_sort(bigrams),
      struct(lit("").as("prev"), lit(0L).as("run"), lit(0L).as("best")),
      (acc, x) => {
        val run = when(x === acc.getField("prev"), acc.getField("run") + 1).otherwise(lit(1L))
        struct(x.as("prev"), run.as("run"),
          greatest(acc.getField("best"), run).as("best"))
      },
      acc => acc.getField("best"))
  }

  /** Gopher-style repetition filters (doc_id → verdict; shared by t10
    * and p06): duplicate-word fraction and top-bigram fraction per
    * document, plus the pass/fail verdict. Heavily repetitive documents
    * are the classic low-quality failure mode boilerplate/spam filters
    * catch first. Fractions are double divisions of identical integer
    * operands — bitwise-equal across engines, so even the threshold
    * comparisons agree exactly. Map-only (measured 5.6s -> map-side at
    * sf0.1 vs the explode + two grouped aggregations formulation); the
    * VALUE is engine-independent, so the DuckDB oracle keeps the
    * unnest+groupBy form. */
  private[queries] def qualityVerdicts(s: SparkSession, d: String): DataFrame = {
    val w = col("w")
    docs(s, d).select(col("doc_id"), toks.as("w"))
      .filter(size(w) >= 2)
      .select(
        col("doc_id"),
        size(w).cast(LongType).as("n_tok"),
        size(array_distinct(w)).cast(LongType).as("n_dist"),
        topRunOfBigrams(w).as("top_bg"))
      .select(
        col("doc_id"),
        (lit(1.0) - col("n_dist").cast(DoubleType) / col("n_tok").cast(DoubleType)).as("dup_word_frac"),
        (col("top_bg").cast(DoubleType) / (col("n_tok") - 1).cast(DoubleType)).as("top_bigram_frac"))
      .withColumn("passes",
        col("dup_word_frac") <= 0.6 && col("top_bigram_frac") <= 0.18)
  }

  /** Column-appending form of the quality verdict for composition into
    * arbitrary (incl. streaming) pipelines: keeps every input column,
    * adds dup_word_frac / top_bigram_frac / passes. Docs under 2 tokens
    * get passes=false (top_bigram_frac pinned to 1.0) instead of being
    * dropped. Purely map-side — streaming-safe in append mode. */
  def withQualityVerdict(df: DataFrame): DataFrame = {
    val others = df.columns.toSeq.map(col)
    val w = col("__w")
    df.select(others :+ split(col("text"), " ").as("__w"): _*)
      .select(others ++ Seq(
        size(w).cast(LongType).as("__n_tok"),
        size(array_distinct(w)).cast(LongType).as("__n_dist"),
        topRunOfBigrams(w).as("__top_bg")): _*)
      .select(others ++ Seq(
        (lit(1.0) - col("__n_dist").cast(DoubleType) / col("__n_tok").cast(DoubleType)).as("dup_word_frac"),
        when(col("__n_tok") < 2, 1.0)
          .otherwise(col("__top_bg").cast(DoubleType) / (col("__n_tok") - 1).cast(DoubleType)).as("top_bigram_frac")): _*)
      .withColumn("passes",
        col("dup_word_frac") <= 0.6 && col("top_bigram_frac") <= 0.18)
  }

  private val t10: Fn = (s, d) => qualityVerdicts(s, d).orderBy("doc_id")
  private val t10Sql =
    """WITH base AS (
      |  SELECT doc_id, string_split(text, ' ') AS w FROM documents
      |  WHERE len(string_split(text, ' ')) >= 2),
      |bg AS (
      |  SELECT doc_id, unnest(list_transform(range(1, len(w)),
      |                 i -> concat(w[i], ' ', w[i+1]))) AS bg
      |  FROM base),
      |top AS (
      |  SELECT doc_id, max(c) AS top_bg
      |  FROM (SELECT doc_id, bg, count(*) AS c FROM bg GROUP BY 1, 2) t
      |  GROUP BY doc_id)
      |SELECT b.doc_id,
      |  1.0 - CAST(len(list_distinct(w)) AS DOUBLE) / CAST(len(w) AS DOUBLE) AS dup_word_frac,
      |  CAST(top_bg AS DOUBLE) / CAST(len(w) - 1 AS DOUBLE) AS top_bigram_frac,
      |  (1.0 - CAST(len(list_distinct(w)) AS DOUBLE) / CAST(len(w) AS DOUBLE)) <= 0.6
      |    AND (CAST(top_bg AS DOUBLE) / CAST(len(w) - 1 AS DOUBLE)) <= 0.18 AS passes
      |FROM base b JOIN top USING (doc_id)
      |ORDER BY doc_id""".stripMargin

  // ------------------------------------------------------- p01 hash split

  /** Deterministic train/val/test assignment: md5-bucket of the doc key
    * into 100 slots → 80/10/10. Reruns at any parallelism, any engine,
    * any day produce the identical split — the property that makes
    * dataset versioning and leak-free eval possible. Pure projection:
    * zero shuffles, and a `split = 'train'` filter composed on top
    * prunes at the scan. */
  private val p01: Fn = (s, d) =>
    docs(s, d)
      .select(col("doc_id"), mdBucket(col("doc_id"), "split:", 100).as("bucket"))
      .withColumn("split",
        when(col("bucket") < 80, "train").when(col("bucket") < 90, "val").otherwise("test"))
      .orderBy("doc_id")
  private val p01Sql = {
    val b = mdBucketSql("doc_id", "split:", 100)
    s"""SELECT doc_id, $b AS bucket,
       |  CASE WHEN $b < 80 THEN 'train' WHEN $b < 90 THEN 'val' ELSE 'test' END AS split
       |FROM documents ORDER BY doc_id""".stripMargin
  }

  // ------------------------------------------------ p02 stratified sample

  /** Deterministic ~12% sample stratified by language: an independent
    * md5-bucket (different salt than p01) per doc, kept iff < 120/1000.
    * Per-stratum rates stay proportional without a shuffle; the output
    * reports each stratum's kept count against its total so skew is
    * visible. One aggregation, no RNG, rerun-stable. */
  private val p02: Fn = (s, d) =>
    docs(s, d)
      .select(col("lang"),
        when(mdBucket(col("doc_id"), "sample:", 1000) < 120, 1L).otherwise(0L).as("kept"))
      .groupBy("lang")
      .agg(sum(col("kept")).as("n_sampled"), count(lit(1)).as("n_total"))
      .withColumn("rate", col("n_sampled").cast(DoubleType) / col("n_total").cast(DoubleType))
      .orderBy("lang")
  private val p02Sql = {
    val b = mdBucketSql("doc_id", "sample:", 1000)
    s"""SELECT lang,
       |  CAST(sum(CASE WHEN $b < 120 THEN 1 ELSE 0 END) AS BIGINT) AS n_sampled,
       |  count(*) AS n_total,
       |  CAST(sum(CASE WHEN $b < 120 THEN 1 ELSE 0 END) AS DOUBLE) / count(*) AS rate
       |FROM documents GROUP BY lang ORDER BY lang""".stripMargin
  }

  // --------------------------------------------------- p03 sequence packing

  /** Sequence packing: concatenate documents in a deterministic order and
    * cut bins at a fixed token budget (2048), the way LLM training data
    * is packed into fixed-length contexts. A document's bin is where its
    * first token lands (overflow-tolerant packing: a doc may straddle its
    * bin boundary rather than open a new bin — the variant that is a pure
    * running-sum, needs no sequential fold, and therefore scales).
    * Packing is per-source so the window is partitioned — no global
    * single-partition sort at any corpus size. Output: per-bin occupancy.
    * Deterministic ⇒ oracled (same window cumsum in DuckDB). */
  private val p03: Fn = (s, d) => {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("source")).orderBy(col("doc_id"))
    val budget = 2048
    val withBin = docs(s, d)
      .select(col("source"), col("doc_id"), size(split(col("text"), " ")).cast(LongType).as("n_tok"))
      .withColumn("cum", sum(col("n_tok")).over(w))
      .withColumn("bin", ((col("cum") - col("n_tok")) / budget).cast(LongType))
    withBin.groupBy("source", "bin")
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("n_tokens"))
      .orderBy("source", "bin")
  }
  private val p03Sql =
    """WITH t AS (
      |  SELECT source, doc_id,
      |         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
      |  FROM documents),
      |c AS (
      |  SELECT source, n_tok,
      |         sum(n_tok) OVER (PARTITION BY source ORDER BY doc_id
      |                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
      |  FROM t)
      |SELECT source, CAST((cum - n_tok) // 2048 AS BIGINT) AS bin,
      |       count(*) AS n_docs, CAST(sum(n_tok) AS BIGINT) AS n_tokens
      |FROM c GROUP BY source, bin ORDER BY source, bin""".stripMargin

  // ------------------------------------------------ p04 mixture sampling

  /** Source-mixture sampling: hit a global token budget (50% of the
    * corpus) at prescribed per-source weights — the operator that turns
    * "we have 5 crawls" into "the training mixture is 35% src0, 25%
    * src1, …". Per-source acceptance rate r_s = min(1, B·ŵ_s / T_s)
    * where T_s is the source's token count and ŵ_s the weight normalized
    * over the sources actually present; each document keeps iff its
    * md5 bucket (salt `mix:`, mod 10⁴) < ⌊r_s·10⁴⌋ — deterministic,
    * rerun-stable, no RNG. Oversubscribed sources clamp at 1 (visible in
    * the output so mixture debugging is possible).
    *
    * Scale shape: one partial-agg shuffle for T_s (5 rows), the rate
    * relation broadcast back onto the corpus (plan-asserted), one
    * partial-agg shuffle for the report. The per-doc keep decision is
    * map-side — no per-row join against anything big. */
  private val mixWeight: Column = when(col("source") === "src0", 0.35)
    .when(col("source") === "src1", 0.25)
    .when(col("source") === "src2", 0.20)
    .when(col("source") === "src3", 0.15)
    .otherwise(0.05)

  /** (source, tok_total, rate, cut) for a given eligible pool — shared
    * by p04 (whole corpus) and p06 (post-filter pool). The unpartitioned
    * window runs on the few-row aggregate, never the corpus. */
  private[queries] def mixtureCuts(tok: DataFrame): DataFrame = {
    val grand = org.apache.spark.sql.expressions.Window
      .partitionBy().rowsBetween(Long.MinValue, Long.MaxValue)
    tok.groupBy("source").agg(sum(col("n_tok")).as("tok_total"))
      .withColumn("rate",
        least(lit(1.0), lit(0.5) * sum(col("tok_total")).over(grand) *
          (mixWeight / sum(mixWeight).over(grand)) / col("tok_total")))
      .withColumn("cut", floor(col("rate") * 10000).cast(LongType))
  }

  private val p04: Fn = (s, d) => {
    val tok = docs(s, d).select(col("doc_id"), col("source"),
      size(split(col("text"), " ")).cast(LongType).as("n_tok"),
      mdBucket(col("doc_id"), "mix:", 10000).as("bucket"))
    // rates: 5 rows — broadcast back by size.
    val rates = mixtureCuts(tok)
    tok.join(broadcast(rates), "source")
      .groupBy("source")
      .agg(
        max(col("cut")).as("cut"),
        count(lit(1)).as("n_total"),
        sum(when(col("bucket") < col("cut"), 1L).otherwise(0L)).as("n_kept"),
        sum(when(col("bucket") < col("cut"), col("n_tok")).otherwise(0L)).as("tok_kept"))
      .orderBy("source")
  }
  private val p04Sql = {
    val b = mdBucketSql("doc_id", "mix:", 10000)
    s"""WITH tok AS (
       |  SELECT doc_id, source,
       |         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok,
       |         $b AS bucket
       |  FROM documents),
       |rates AS (
       |  SELECT source, sum(n_tok) AS tok_total,
       |         CAST(floor(least(1.0, 0.5 * sum(sum(n_tok)) OVER () *
       |           ((CASE source WHEN 'src0' THEN 0.35 WHEN 'src1' THEN 0.25
       |                         WHEN 'src2' THEN 0.20 WHEN 'src3' THEN 0.15
       |                         ELSE 0.05 END) /
       |            sum(CASE source WHEN 'src0' THEN 0.35 WHEN 'src1' THEN 0.25
       |                            WHEN 'src2' THEN 0.20 WHEN 'src3' THEN 0.15
       |                            ELSE 0.05 END) OVER ()) / sum(n_tok)) * 10000) AS BIGINT) AS cut
       |  FROM tok GROUP BY source)
       |SELECT t.source, max(r.cut) AS cut, count(*) AS n_total,
       |       CAST(sum(CASE WHEN t.bucket < r.cut THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       |       CAST(sum(CASE WHEN t.bucket < r.cut THEN t.n_tok ELSE 0 END) AS BIGINT) AS tok_kept
       |FROM tok t JOIN rates r USING (source)
       |GROUP BY t.source ORDER BY t.source""".stripMargin
  }

  // ------------------------------------------- p05 deterministic shuffle

  /** Deterministic global training-order shuffle + shard assignment:
    * every doc gets a pseudo-random md5 key; its shard is a bucket of
    * that key, its position within the shard is the key's rank there.
    * Reruns produce the identical order at any parallelism — and the
    * rank window is PARTITIONED BY SHARD, so no stage ever sees the
    * whole corpus (8 shards here; thousands at 100 TB, each a training
    * file written independently). */
  private val p05: Fn = (s, d) => {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("shard")).orderBy(col("skey"))
    docs(s, d)
      .select(col("doc_id"),
        graft.functions.DetHash.shuffleKey(col("doc_id")).as("skey"))
      .withColumn("shard",
        (conv(substring(col("skey"), 1, 6), 16, 10).cast(LongType) % 8).cast(IntegerType))
      .withColumn("pos", row_number().over(w).cast(LongType))
      .select("shard", "pos", "skey", "doc_id")
      .orderBy("shard", "pos")
  }
  private val p05Sql =
    s"""WITH k AS (
      |  SELECT doc_id,
      |         md5(concat('shuffle:', CAST(doc_id AS VARCHAR))) AS skey,
      |         ${mdBucketSql("doc_id", "shuffle:", 8)} AS shard
      |  FROM documents)
      |SELECT shard, CAST(row_number() OVER (PARTITION BY shard ORDER BY skey) AS BIGINT) AS pos,
      |       skey, doc_id
      |FROM k ORDER BY shard, pos""".stripMargin

  // ------------------------------------------- p06 full assembly capstone

  /** The whole training-set assembly as ONE declarative plan — the
    * pipeline a user actually runs end-to-end:
    *   exact dedup (d01 keep-list) → repetition-quality filter (t10)
    *   → drop the benchmark source + decontaminate vs it (d07)
    *   → train split (p01) → mixture sampling on the surviving pool
    *   (p04 machinery) → shard assignment (p05) → per-shard report.
    * Every stage is hash-deterministic and individually oracled; the
    * capstone proves they compose into a single Catalyst plan with no
    * materialization barriers between stages (filters/joins reorder and
    * push freely — the reason to declare the pipeline instead of
    * scripting it step by step as the reference does).
    *
    * Scale shape: dedup is one window keyed by content fingerprint,
    * quality is map-side, decontamination joins on shared shingles,
    * split/mixture/shard decisions are per-row md5 arithmetic with a
    * broadcast rate relation; the only corpus-wide shuffles are keyed
    * (fingerprint, shingle, final shard agg). */
  private val p06: Fn = (s, d) => {
    val winFp = org.apache.spark.sql.expressions.Window
      .partitionBy(md5(col("text")))
    val deduped = docs(s, d)
      .withColumn("keep_id", min(col("doc_id")).over(winFp))
      .filter(col("doc_id") === col("keep_id"))
      .select(col("doc_id"), col("source"),
        size(split(col("text"), " ")).cast(LongType).as("n_tok"))
    val passing = qualityVerdicts(s, d).filter(col("passes")).select("doc_id")
    val contaminated = contaminationPairs(s, d).select("train_id").distinct()
    // The eligible pool feeds BOTH the mixture-rate aggregate and the
    // final sampling pass. Without pinning it, everything upstream
    // (fingerprint window, quality verdicts, the contamination pair
    // join) executes twice — Catalyst's ReuseExchange dedups the two
    // subtrees only when AQE happens to produce canonically identical
    // exchanges, which is data-dependent (measured on the skew-probe
    // corpus: reuse held on one source layout and silently broke on
    // another, doubling the dominant pair-join stages). Persisting the
    // slim 3-column pool makes the single-execution guarantee explicit;
    // at scale this is the standard materialization point between
    // assembly and sampling (MEMORY_AND_DISK spills, never OOMs).
    val eligible = deduped
      .join(passing, "doc_id")
      .filter(col("source") =!= "src0")
      .join(contaminated, col("doc_id") === col("train_id"), "left_anti")
      .filter(mdBucket(col("doc_id"), "split:", 100) < 80)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val rates = mixtureCuts(eligible)
    val sampled = eligible
      .join(broadcast(rates.select("source", "cut")), "source")
      .filter(mdBucket(col("doc_id"), "mix:", 10000) < col("cut"))
    sampled
      .withColumn("shard", graft.functions.DetHash.shardOf(col("doc_id")))
      .groupBy("shard")
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("n_tokens"),
        count_distinct(col("source")).as("n_sources"))
      .orderBy("shard")
  }
  private val p06Sql = {
    val split = mdBucketSql("doc_id", "split:", 100)
    val mix = mdBucketSql("doc_id", "mix:", 10000)
    val shard = mdBucketSql("doc_id", "shuffle:", 8)
    s"""WITH deduped AS (
       |  SELECT doc_id, source,
       |         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
       |  FROM (SELECT *, min(doc_id) OVER (PARTITION BY md5(text)) AS keep_id
       |        FROM documents)
       |  WHERE doc_id = keep_id),
       |base AS (
       |  SELECT doc_id, string_split(text, ' ') AS w FROM documents
       |  WHERE len(string_split(text, ' ')) >= 2),
       |bg AS (
       |  SELECT doc_id, unnest(list_transform(range(1, len(w)),
       |                 i -> concat(w[i], ' ', w[i+1]))) AS bg
       |  FROM base),
       |top AS (
       |  SELECT doc_id, max(c) AS top_bg
       |  FROM (SELECT doc_id, bg, count(*) AS c FROM bg GROUP BY 1, 2) t
       |  GROUP BY doc_id),
       |passing AS (
       |  SELECT b.doc_id FROM base b JOIN top USING (doc_id)
       |  WHERE (1.0 - CAST(len(list_distinct(w)) AS DOUBLE) / CAST(len(w) AS DOUBLE)) <= 0.6
       |    AND (CAST(top_bg AS DOUBLE) / CAST(len(w) - 1 AS DOUBLE)) <= 0.18),
       |sh AS (
       |  SELECT doc_id, source,
       |         unnest(list_distinct(list_transform(range(1, len(w) - 3),
       |                i -> array_to_string(w[i:i+4], ' ')))) AS sg
       |  FROM (SELECT doc_id, source, string_split(text, ' ') AS w FROM documents)
       |  WHERE len(w) >= 5),
       |contaminated AS (
       |  SELECT DISTINCT t.doc_id AS train_id
       |  FROM sh t JOIN sh b ON t.sg = b.sg
       |  WHERE t.source <> 'src0' AND b.source = 'src0'
       |  GROUP BY t.doc_id, b.doc_id
       |  HAVING count(*) >= 3),
       |eligible AS (
       |  SELECT d.doc_id, d.source, d.n_tok
       |  FROM deduped d JOIN passing USING (doc_id)
       |  WHERE d.source <> 'src0'
       |    AND d.doc_id NOT IN (SELECT train_id FROM contaminated)
       |    AND $split < 80),
       |rates AS (
       |  SELECT source,
       |         CAST(floor(least(1.0, 0.5 * sum(sum(n_tok)) OVER () *
       |           ((CASE source WHEN 'src0' THEN 0.35 WHEN 'src1' THEN 0.25
       |                         WHEN 'src2' THEN 0.20 WHEN 'src3' THEN 0.15
       |                         ELSE 0.05 END) /
       |            sum(CASE source WHEN 'src0' THEN 0.35 WHEN 'src1' THEN 0.25
       |                            WHEN 'src2' THEN 0.20 WHEN 'src3' THEN 0.15
       |                            ELSE 0.05 END) OVER ()) / sum(n_tok)) * 10000) AS BIGINT) AS cut
       |  FROM eligible GROUP BY source),
       |sampled AS (
       |  SELECT e.doc_id, e.source, e.n_tok
       |  FROM eligible e JOIN rates r USING (source)
       |  WHERE $mix < r.cut)
       |SELECT $shard AS shard, count(*) AS n_docs,
       |       CAST(sum(n_tok) AS BIGINT) AS n_tokens,
       |       CAST(count(DISTINCT source) AS BIGINT) AS n_sources
       |FROM sampled GROUP BY shard ORDER BY shard""".stripMargin
  }

  // ------------------------------------------------- d07 decontamination

  /** Benchmark decontamination: training docs sharing ≥3 distinct
    * 5-gram shingles with any "benchmark" doc (fixture stand-in: the
    * src0 slice) are flagged with their worst-offending overlap. The
    * join is on shared shingles — same shape as d03, but one side is
    * the benchmark set, which at real scale is tiny vs the corpus and
    * broadcastable; never an all-pairs comparison. */
  /** (train_id, bench_id, n_shared) pairs with ≥3 shared shingles
    * against the benchmark (src0) slice — shared by d07 and p06, so the
    * build runs ONCE per JVM per dir via [[SharedPools]] (r6 stretch 8:
    * both consumers previously rebuilt the whole shingle subtree;
    * measured at sf0.1 the pooled form cuts d07+p06 warm time ~35%).
    * Columns are strings + a long count — exact through the parquet
    * round-trip, hashes unchanged. */
  private[queries] def contaminationPairs(s: SparkSession, d: String): DataFrame =
    SharedPools.materialized(s, d, "contamination_pairs")(contaminationPairsBuild(s, d))

  /** The raw (unmaterialized) pool build — exposed for plan audits. */
  private[graft] def contaminationPairsBuild(s: SparkSession, d: String): DataFrame = {
      // Round 13: split on source BEFORE shingling. The two branches read
      // DISJOINT source slices, so shingling each slice directly does the
      // same total shingle work as the old shared subtree but needs no
      // in-memory persist of the exploded corpus-shingle relation (the
      // d19 lesson: caching array-of-string rows costs more than it
      // saves), and the doc-grain source join disappears — each side's
      // scan pushes its own source predicate down to parquet.
      def side(pred: Column, idName: String) =
        DedupQueries.shingledOf(docs(s, d).filter(pred))
          .select(col("doc_id").as(idName), explode(col("shingles")).as("sg"))
      val bench = side(col("source") === "src0", "bench_id")
      val train = side(col("source") =!= "src0", "train_id")
      // The benchmark side is FIXED-SIZE (benchmarks don't grow with the
      // corpus), so broadcast it: the shingle join becomes map-side and the
      // full training corpus is never shuffled on sg — only the surviving
      // (train_id, bench_id) pairs shuffle, into the partial-agg'd groupBy.
      train.join(broadcast(bench), "sg")
        .groupBy("train_id", "bench_id").agg(count(lit(1)).as("n_shared"))
        .filter(col("n_shared") >= 3)
    }

  private val d07: Fn = (s, d) =>
    contaminationPairs(s, d)
      .groupBy("train_id")
      .agg(count(lit(1)).as("n_bench_hits"), max(col("n_shared")).as("worst_overlap"))
      .orderBy("train_id")
  private val d07Sql =
    """WITH sh AS (
      |  SELECT doc_id, source,
      |         unnest(list_distinct(list_transform(range(1, len(w) - 3),
      |                i -> array_to_string(w[i:i+4], ' ')))) AS sg
      |  FROM (SELECT doc_id, source, string_split(text, ' ') AS w FROM documents)
      |  WHERE len(w) >= 5),
      |overlap AS (
      |  SELECT t.doc_id AS train_id, b.doc_id AS bench_id, count(*) AS n_shared
      |  FROM sh t JOIN sh b ON t.sg = b.sg
      |  WHERE t.source <> 'src0' AND b.source = 'src0'
      |  GROUP BY 1, 2
      |  HAVING count(*) >= 3)
      |SELECT train_id, count(*) AS n_bench_hits, max(n_shared) AS worst_overlap
      |FROM overlap GROUP BY train_id ORDER BY train_id""".stripMargin

  // ------------------------------------------- p07 incremental dedup

  /** Incremental (delta-vs-corpus) dedup — the operational mode at
    * 100 TB: new arrivals are deduped against the STANDING corpus's
    * fingerprint index, never by re-deduping the whole corpus. The
    * standing/delta split is simulated with a deterministic md5 arrival
    * bucket (70% standing). Each delta doc gets a disposition:
    * 'dup_of_corpus' (fingerprint already in the index),
    * 'dup_in_delta' (loses the intra-batch min-doc_id keeper race),
    * 'new' (would be appended to corpus + index). Plan shape: one
    * fingerprint-keyed window for the intra-batch keeper and one left
    * join against the index — at scale the index is the bucketed-by-fp
    * standing table (ScaleOps.writeBucketed), making the join
    * co-located and the whole delta pass shuffle-light. */
  private val p07: Fn = (s, d) => {
    val all = docs(s, d).select(col("doc_id"), md5(col("text")).as("fp"),
      mdBucket(col("doc_id"), "arrival:", 100).as("b"))
    val corpusIdx = all.filter(col("b") < 70)
      .groupBy("fp").agg(min(col("doc_id")).as("first_id"))
    val delta = all.filter(col("b") >= 70)
      .withColumn("min_doc", min(col("doc_id")).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("fp"))))
    delta.join(corpusIdx, Seq("fp"), "left")
      .select(col("doc_id"), col("fp"),
        when(col("first_id").isNotNull, lit("dup_of_corpus"))
          .when(col("doc_id") > col("min_doc"), lit("dup_in_delta"))
          .otherwise(lit("new")).as("disposition"))
      .orderBy("doc_id")
  }
  private val p07Sql = {
    val b = mdBucketSql("doc_id", "arrival:", 100)
    s"""WITH all_docs AS (SELECT doc_id, md5(text) AS fp, $b AS b FROM documents),
       |corpus_idx AS (SELECT fp, min(doc_id) AS first_id
       |               FROM all_docs WHERE b < 70 GROUP BY fp),
       |delta AS (SELECT doc_id, fp, min(doc_id) OVER (PARTITION BY fp) AS min_doc
       |          FROM all_docs WHERE b >= 70)
       |SELECT delta.doc_id, delta.fp,
       |  CASE WHEN c.first_id IS NOT NULL THEN 'dup_of_corpus'
       |       WHEN delta.doc_id > delta.min_doc THEN 'dup_in_delta'
       |       ELSE 'new' END AS disposition
       |FROM delta LEFT JOIN corpus_idx c ON delta.fp = c.fp
       |ORDER BY delta.doc_id""".stripMargin
  }

  // ------------------------------------------- p08 document chunking

  /** Fixed-window chunking with overlap — the prep step for embedding /
    * retrieval / training-sequence pipelines: each document becomes
    * ceil(n_chars/step) chunks of up to 200 chars starting every 150
    * (50-char overlap carried from the previous window). Pure generator
    * + substring projection: explode(sequence(...)) is row-local map
    * work, no shuffle anywhere, so the op scales as a map-only stage
    * and the chunk count is exactly data-proportional. Output pins each
    * chunk's offset, length, and content hash. */
  private val p08: Fn = (s, d) => {
    val step = 150
    val win = 200
    docs(s, d)
      .select(col("doc_id"), col("text"), col("n_chars"))
      // empty docs produce no chunks; without the filter Spark's
      // sequence(0, -1, ...) THROWS while DuckDB's generate_series
      // returns empty — the filter makes both engines drop the row
      .filter(col("n_chars") >= 1)
      .withColumn("start", explode(sequence(lit(0L), col("n_chars") - 1L, lit(step.toLong))))
      .select(
        col("doc_id"),
        expr(s"start DIV $step").as("chunk_ix"),
        col("start"),
        length(expr(s"substring(text, start + 1, $win)")).cast(LongType).as("chunk_len"),
        md5(expr(s"substring(text, start + 1, $win)")).as("chunk_fp"))
      .orderBy("doc_id", "chunk_ix")
  }
  private val p08Sql =
    """SELECT doc_id,
      |  CAST(start // 150 AS BIGINT) AS chunk_ix,
      |  CAST(start AS BIGINT) AS start,
      |  length(substring(text, CAST(start + 1 AS INTEGER), 200)) AS chunk_len,
      |  md5(substring(text, CAST(start + 1 AS INTEGER), 200)) AS chunk_fp
      |FROM (SELECT doc_id, text,
      |        unnest(generate_series(0, CAST(n_chars - 1 AS BIGINT), 150)) AS start
      |      FROM documents) t
      |ORDER BY doc_id, chunk_ix""".stripMargin

  // ------------------------------------------- p09 epoch upsampling

  /** Deterministic epoch repetition — the mixture counterpart to p04's
    * downsampling: each source gets a target epoch count (2.5 = every
    * doc appears twice, plus a deterministic md5-chosen half appears a
    * third time; 0.25 = a quarter of docs appear once). reps per doc =
    * floor(epochs) + (bucket < frac*1000 ? 1 : 0), then one
    * explode(sequence(1, reps)) materializes the copies — row-local,
    * no shuffle until the audit aggregation, rerun-stable at any
    * parallelism (no RNG, no engine hash). Output audits docs/chars
    * per (source, epoch). */
  private val p09: Fn = (s, d) => {
    val epochs = when(col("source") === "src1", 2.5)
      .when(col("source") === "src2", 0.25)
      .otherwise(1.0)
    val nFull = floor(epochs).cast(LongType)
    val frac = (epochs - floor(epochs)) * 1000
    val reps = nFull +
      when(mdBucket(col("doc_id"), "epoch:", 1000) < frac, 1L).otherwise(0L)
    docs(s, d)
      .select(col("doc_id"), col("source"), col("n_chars"), reps.as("reps"))
      .filter(col("reps") >= 1)
      .withColumn("epoch", explode(sequence(lit(1L), col("reps"), lit(1L))))
      .groupBy("source", "epoch")
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("n_chars_total"))
      .orderBy("source", "epoch")
  }
  private val p09Sql = {
    val b = mdBucketSql("doc_id", "epoch:", 1000)
    s"""WITH planned AS (
       |  SELECT doc_id, source, n_chars,
       |    CAST(floor(ep) AS BIGINT)
       |      + CASE WHEN $b < (ep - floor(ep)) * 1000 THEN 1 ELSE 0 END AS reps
       |  FROM (SELECT doc_id, source, n_chars,
       |          CASE WHEN source = 'src1' THEN 2.5
       |               WHEN source = 'src2' THEN 0.25
       |               ELSE 1.0 END AS ep
       |        FROM documents) t),
       |exploded AS (
       |  SELECT source, n_chars, unnest(generate_series(1, reps)) AS epoch
       |  FROM planned WHERE reps >= 1)
       |SELECT source, CAST(epoch AS BIGINT) AS epoch,
       |       count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS n_chars_total
       |FROM exploded GROUP BY source, epoch ORDER BY source, epoch""".stripMargin
  }

  // -------------------------------- p10 incremental aggregate maintenance

  /** Incremental aggregate maintenance — refreshing a standing per-key
    * statistics table from a delta batch WITHOUT rescanning the corpus:
    * the standing table already holds mergeable partials (count, sum,
    * min, max), the delta contributes its own partials, and the refresh
    * is a union + re-combine keyed on the group key — O(keys + delta),
    * independent of corpus size. Derived measures (avg) come from the
    * merged partials at read time, never stored. The oracle is the FULL
    * recompute over all documents, so the green check IS the proof that
    * incremental == from-scratch (the correctness property incremental
    * ETL must hold). Standing/delta split uses p07's deterministic
    * arrival buckets. */
  private val p10: Fn = (s, d) => {
    val all = docs(s, d).select(col("doc_id"), col("source"), col("n_chars"),
      mdBucket(col("doc_id"), "arrival:", 100).as("b"))
    def partials(df: DataFrame) = df.groupBy("source").agg(
      count(lit(1)).as("n_docs"),
      sum(col("n_chars")).cast(LongType).as("n_chars_total"),
      min(col("doc_id")).as("first_doc"),
      max(col("doc_id")).as("last_doc"))
    val standing = partials(all.filter(col("b") < 70)) // the stored agg table
    val delta = partials(all.filter(col("b") >= 70))   // the new batch
    standing.unionByName(delta)
      .groupBy("source")
      .agg(sum(col("n_docs")).as("n_docs"),
        sum(col("n_chars_total")).as("n_chars_total"),
        min(col("first_doc")).as("first_doc"),
        max(col("last_doc")).as("last_doc"))
      .withColumn("avg_chars",
        col("n_chars_total").cast(DoubleType) / col("n_docs").cast(DoubleType))
      .orderBy("source")
  }
  private val p10Sql =
    """SELECT source, count(*) AS n_docs,
      |       CAST(sum(n_chars) AS BIGINT) AS n_chars_total,
      |       min(doc_id) AS first_doc, max(doc_id) AS last_doc,
      |       CAST(sum(n_chars) AS DOUBLE) / count(*) AS avg_chars
      |FROM documents GROUP BY source ORDER BY source""".stripMargin

  /** p11: export manifest — the per-shard (row count, order-independent
    * XOR-of-row-md5 fingerprint) relation a training-set delivery
    * persists next to its data files so any consumer can re-derive and
    * compare without trusting the producer (`operators.Export` writes
    * it; ExportSpec proves a written export audits clean and a
    * tampered file is caught). Deterministic at any parallelism:
    * engine-portable md5 row hashes, commutative XOR fold. */
  private val p11: Fn = (s, d) =>
    graft.operators.Export.manifest(docs(s, d), "doc_id")
  private val p11Sql = {
    val shard = mdBucketSql("doc_id", "shuffle:", 8)
    s"""SELECT shard, count(*) AS n_rows, bit_xor(fp) AS fp FROM (
       |  SELECT $shard AS shard,
       |         ${md5PrefixSql("concat_ws('|', 'manifest:', CAST(doc_id AS VARCHAR), text, lang, source, CAST(n_chars AS VARCHAR))", 15)} AS fp
       |  FROM documents) t
       |GROUP BY shard ORDER BY shard""".stripMargin
  }

  /** p12: per-source document cap — the anti-dominance step of corpus
    * mixing (no single domain/source may contribute more than N docs):
    * rank docs within each source by the deterministic md5 shuffle key
    * (so the kept subset is a stable uniform sample, not
    * arrival-order-biased) and keep the first N. The row_number filter
    * is rewritten to the native bounded-heap TopKPerGroup operator —
    * the shuffle carries at most N docs per source per map partition
    * instead of the corpus. */
  private val p12: Fn = (s, d) => {
    val capN = 15
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("source"))
      .orderBy(graft.functions.DetHash.shuffleKey(col("doc_id")), col("doc_id"))
    docs(s, d).select(col("doc_id"), col("source"), col("n_chars"))
      .withColumn("rk", row_number().over(w).cast(LongType))
      .filter(col("rk") <= capN)
      .select("source", "rk", "doc_id", "n_chars")
      .orderBy("source", "rk")
  }
  private val p12Sql =
    """SELECT source, CAST(rk AS BIGINT) AS rk, doc_id, n_chars FROM (
      |  SELECT source, doc_id, n_chars,
      |         row_number() OVER (PARTITION BY source
      |           ORDER BY md5(concat('shuffle:', CAST(doc_id AS VARCHAR))), doc_id) AS rk
      |  FROM documents) t
      |WHERE rk <= 15 ORDER BY source, rk""".stripMargin

  // ------------------------------------------- p13 weighted priority sample

  /** Weighted sampling without replacement — priority sampling
    * (Duffield–Lund–Thorup, JACM'07): each document draws priority
    * q = u / w with u uniform on (0,1] and w its weight (n_chars, a
    * compute-proportional token proxy); the k smallest priorities form
    * the sample. Inclusion probability is weight-proportional and the
    * sample supports unbiased subset-sum estimation against the
    * (k+1)-th priority as threshold — the sampler a mixture builder
    * wants when heavy documents must be over-represented. u derives
    * from the md5 bucket, so the draw is deterministic and
    * rerun-stable; the priority is two exact double divisions on grid
    * values — deliberately NOT the Efraimidis–Spirakis u^(1/w) key,
    * whose pow/ln last-ulp behavior is libm-specific — so the oracle
    * replays it bit-for-bit.
    *
    * Scale: the priority is map-side projection; the global k-smallest
    * plans as TakeOrderedAndProject (per-partition heaps, no full sort,
    * no single-partition window). */
  private val p13: Fn = (s, d) =>
    docs(s, d)
      .filter(col("n_chars") > 0)
      .select(col("doc_id"), col("source"), col("n_chars"),
        (((mdBucket(col("doc_id"), "wres:", 1000000) + 1).cast(DoubleType) / lit(1e6))
          / col("n_chars").cast(DoubleType)).as("priority"))
      .orderBy(col("priority"), col("doc_id"))
      .limit(100)
  private val p13Sql = {
    val b = mdBucketSql("doc_id", "wres:", 1000000)
    s"""SELECT doc_id, source, n_chars,
       |       (CAST($b + 1 AS DOUBLE) / 1e6) / CAST(n_chars AS DOUBLE) AS priority
       |FROM documents WHERE n_chars > 0
       |ORDER BY priority, doc_id LIMIT 100""".stripMargin
  }

  // ---------------------------------------------- p14 curriculum binning

  /** Curriculum schedule: assign every document to a quality quartile —
    * the easy→hard ordering curriculum training consumes — WITHOUT any
    * global sort or single-partition window (the ntile() temptation).
    * Exact quartile cutoffs come from ONE tiny aggregation (exact
    * interpolated percentile, r26's aggregate), ride back over the
    * corpus as a broadcast one-row relation, and each document lands in
    * its bin by three comparisons — map-side at any corpus size. Output:
    * the (bin, shard) schedule with counts and score ranges, i.e. what
    * a training loader consumes per epoch phase. Deterministic: scores
    * are 6dp-rounded (t05's shared expression), cutoff interpolation is
    * the same double arithmetic in both engines, shard is the md5
    * assignment. */
  private val p14: Fn = (s, d) => {
    val scored = docs(s, d).select(
      col("doc_id"),
      graft.functions.DetHash.shardOf(col("doc_id")).as("shard"),
      TextQueries.qualityScore.as("q"))
    val cuts = scored.agg(
      percentile(col("q"), lit(0.25)).as("c1"),
      percentile(col("q"), lit(0.5)).as("c2"),
      percentile(col("q"), lit(0.75)).as("c3"))
    scored.crossJoin(broadcast(cuts))
      .withColumn("bin",
        when(col("q") <= col("c1"), 0)
          .when(col("q") <= col("c2"), 1)
          .when(col("q") <= col("c3"), 2)
          .otherwise(3))
      .groupBy("bin", "shard")
      .agg(count(lit(1)).as("n_docs"),
        round(min(col("q")), 6).as("q_min"),
        round(max(col("q")), 6).as("q_max"))
      .select(col("bin").cast(IntegerType).as("bin"), col("shard"),
        col("n_docs"), col("q_min"), col("q_max"))
      .orderBy("bin", "shard")
  }
  private val p14Sql = {
    val q = TextQueries.qualityScoreSql
    val shard = mdBucketSql("doc_id", "shuffle:", 8)
    s"""WITH scored AS (
       |  SELECT doc_id, $shard AS shard,
       |         $q AS q
       |  FROM documents),
       |cuts AS (
       |  SELECT quantile_cont(q, 0.25) AS c1, quantile_cont(q, 0.5) AS c2,
       |         quantile_cont(q, 0.75) AS c3
       |  FROM scored)
       |SELECT CAST(CASE WHEN q <= c1 THEN 0 WHEN q <= c2 THEN 1
       |                 WHEN q <= c3 THEN 2 ELSE 3 END AS INTEGER) AS bin,
       |       shard, count(*) AS n_docs,
       |       round(min(q), 6) AS q_min, round(max(q), 6) AS q_max
       |FROM scored CROSS JOIN cuts
       |GROUP BY 1, 2 ORDER BY bin, shard""".stripMargin
  }

  /** u08: split-leakage audit — the eval-integrity check every
    * train/val/test pipeline needs: a document whose content appears in
    * more than one split leaks training data into evaluation. The
    * fingerprint is d02's bag-of-words normalization (sorted distinct
    * words), which catches reworded/shuffled near-copies the exact-text
    * hash misses — and which the fixture actually contains at every SF
    * (exact-text dup groups exist only at sf0.1, so an exact-hash audit
    * would be vacuously green at the sf0.01 gate). Reports every
    * duplicated fingerprint group with its split spread and a leak
    * verdict; at 100 TB this is one keyed shuffle on the fingerprint
    * (partial-agg'd), the same plan shape as d01/d02. */
  private val u08: Fn = (s, d) =>
    docs(s, d)
      .select(
        md5(array_join(array_sort(array_distinct(split(col("text"), " "))), " ")).as("fp"),
        graft.functions.DetHash.splitOf(col("doc_id")).as("split"))
      .groupBy("fp")
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(col("split")).as("n_splits"),
        array_join(array_sort(collect_set(col("split"))), ",").as("splits"))
      .filter(col("n_docs") > 1)
      .withColumn("leaks", col("n_splits") > 1)
      .orderBy("fp")
  private val u08Sql = {
    val b = mdBucketSql("doc_id", "split:", 100)
    s"""WITH t AS (
       |  SELECT md5(array_to_string(list_sort(list_distinct(string_split(text, ' '))), ' ')) AS fp,
       |         CASE WHEN $b < 80 THEN 'train' WHEN $b < 90 THEN 'val'
       |              ELSE 'test' END AS split
       |  FROM documents)
       |SELECT fp, count(*) AS n_docs,
       |       count(DISTINCT split) AS n_splits,
       |       array_to_string(list_sort(list(DISTINCT split)), ',') AS splits,
       |       count(DISTINCT split) > 1 AS leaks
       |FROM t GROUP BY fp HAVING count(*) > 1 ORDER BY fp""".stripMargin
  }

  /** p15: preference-pair construction — the DPO/RLHF data-assembly op:
    * within each group of content variants (d02's bag-of-words
    * fingerprint — same word set, different arrangement/repetition),
    * emit ONE (chosen, rejected) pair: chosen = the least-repetitive
    * variant (top-bigram fraction, then dup-word fraction, then min
    * doc_id), rejected = the most-repetitive (reverse order). The
    * quality metrics are the parity-proven verdict doubles; the two
    * rankings are windows over the same fingerprint partition, so the
    * whole op is one keyed shuffle + two in-partition sorts. At 100 TB
    * the fingerprint is the natural bucketing key and groups are tiny
    * by construction (variant counts don't grow with the corpus). */
  private val p15: Fn = (s, d) => {
    val fp = md5(array_join(array_sort(array_distinct(split(col("text"), " "))), " "))
    val scored = withQualityVerdict(docs(s, d))
      .withColumn("fp", fp)
      .select(col("fp"), col("doc_id"), col("dup_word_frac"), col("top_bigram_frac"))
    val grp = Window.partitionBy(col("fp"))
    val wCh = Window.partitionBy(col("fp"))
      .orderBy(col("top_bigram_frac"), col("dup_word_frac"), col("doc_id"))
    val wRe = Window.partitionBy(col("fp"))
      .orderBy(desc("top_bigram_frac"), desc("dup_word_frac"), desc("doc_id"))
    val g = scored
      .withColumn("n", count(lit(1)).over(grp))
      .filter(col("n") > 1)
      .withColumn("rch", row_number().over(wCh))
      .withColumn("rre", row_number().over(wRe))
    val ch = g.filter(col("rch") === 1).select(col("fp"),
      col("doc_id").as("chosen_id"), col("top_bigram_frac").as("chosen_tbf"))
    val re = g.filter(col("rre") === 1).select(col("fp"),
      col("doc_id").as("rejected_id"), col("top_bigram_frac").as("rejected_tbf"))
    ch.join(re, "fp").orderBy("fp")
  }
  private val p15Sql =
    """WITH base AS (
      |  SELECT doc_id,
      |         md5(array_to_string(list_sort(list_distinct(string_split(text, ' '))), ' ')) AS fp,
      |         string_split(text, ' ') AS w
      |  FROM documents),
      |bgr AS (
      |  SELECT doc_id, unnest(list_transform(range(1, len(w)),
      |                 i -> concat(w[i], ' ', w[i+1]))) AS bg
      |  FROM base WHERE len(w) >= 2),
      |top AS (
      |  SELECT doc_id, max(c) AS top_bg
      |  FROM (SELECT doc_id, bg, count(*) AS c FROM bgr GROUP BY 1, 2) t
      |  GROUP BY doc_id),
      |v AS (
      |  SELECT b.doc_id, b.fp,
      |         1.0 - CAST(len(list_distinct(w)) AS DOUBLE) / CAST(len(w) AS DOUBLE) AS dwf,
      |         CASE WHEN len(w) < 2 THEN 1.0
      |              ELSE CAST(top_bg AS DOUBLE) / CAST(len(w) - 1 AS DOUBLE) END AS tbf
      |  FROM base b LEFT JOIN top USING (doc_id)),
      |g AS (
      |  SELECT *, count(*) OVER (PARTITION BY fp) AS n,
      |         row_number() OVER (PARTITION BY fp ORDER BY tbf, dwf, doc_id) AS rch,
      |         row_number() OVER (PARTITION BY fp ORDER BY tbf DESC, dwf DESC, doc_id DESC) AS rre
      |  FROM v)
      |SELECT ch.fp, ch.doc_id AS chosen_id, ch.tbf AS chosen_tbf,
      |       re.doc_id AS rejected_id, re.tbf AS rejected_tbf
      |FROM (SELECT * FROM g WHERE n > 1 AND rch = 1) ch
      |JOIN (SELECT * FROM g WHERE n > 1 AND rre = 1) re USING (fp)
      |ORDER BY fp""".stripMargin

  /** p16: mixture waterfilling — token-budget allocation under
    * per-source availability, the planning step before p04's mixture
    * sampling: give every source an equal share of the budget, but a
    * source with fewer tokens than its share is capped at availability
    * and its unused share redistributes to the rest. The classic
    * water-level solution computes in CLOSED FORM with one ordered
    * window over the per-source aggregate (availability asc): after
    * saturating the k−1 smallest sources the candidate level is
    * (B − prefix)/(S−k+1), saturation is a prefix of the sorted order,
    * and the final water level is the first unsaturated row's
    * candidate. No iteration, no driver state; the windows run over
    * #sources rows (never the corpus — the global window is the
    * documented per-source exception, like p04's mixture cuts).
    * Budget B = 95% of total corpus tokens (high enough that the small
    * sources saturate on this fixture, so the redistribution path is
    * actually exercised), exact integer arithmetic; the level is one
    * double division of exact integers, identical in both engines. */
  /** The closed-form waterfill layer over a per-source (source, c)
    * availability aggregate — p16's published algorithm, factored out
    * so p23's quality-gated variant runs the IDENTICAL kernel. Extra
    * columns on `stats` ride through untouched (p23 carries its
    * quality moments alongside). */
  private[queries] def waterfill(stats: DataFrame): DataFrame = {
    val wAll = Window.partitionBy(lit(1))
    val wOrd = Window.partitionBy(lit(1)).orderBy(col("c"), col("source"))
    val annotated = stats
      .withColumn("total", sum(col("c")).over(wAll))
      .withColumn("n_src", count(lit(1)).over(wAll))
      .withColumn("budget", expr("total * 19 DIV 20"))
      .withColumn("k", row_number().over(wOrd))
      .withColumn("prefix", sum(col("c")).over(
        wOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow)) - col("c"))
      .withColumn("lvl",
        (col("budget") - col("prefix")).cast(DoubleType) /
          (col("n_src") - col("k") + 1).cast(DoubleType))
      .withColumn("saturated", col("c").cast(DoubleType) <= col("lvl"))
    val levelled = annotated
      // saturation is a prefix of the availability-sorted order, so the
      // true water level is the FIRST unsaturated row's candidate (later
      // rows' candidates over-subtract and can even go negative)
      .withColumn("first_unsat", min(when(!col("saturated"), col("k"))).over(wAll))
      .withColumn("water", min(when(col("k") === col("first_unsat"), col("lvl"))).over(wAll))
      .withColumn("alloc_tokens",
        when(col("saturated"), col("c"))
          .otherwise(expr("CAST(water AS BIGINT)")))
      .withColumn("share",
        round(col("alloc_tokens").cast(DoubleType) / col("budget").cast(DoubleType), 6))
    levelled
  }

  private val p16: Fn = (s, d) =>
    waterfill(docs(s, d).groupBy("source")
      .agg(sum(col("n_chars")).cast(LongType).as("c")))
      .select("source", "c", "saturated", "alloc_tokens", "share")
      .withColumnRenamed("c", "avail_tokens")
      .orderBy("source")

  /** p16's waterfill CTE chain on top of a CTE named `stats` with
    * columns (source, c, ...extras) — relation `wl` holds the levelled
    * rows (p16Sql and p23Sql both read it). */
  private[queries] val waterfillCtes: String =
    """ann AS (
      |  SELECT *,
      |         sum(c) OVER () AS total,
      |         count(*) OVER () AS n_src,
      |         (sum(c) OVER ()) * 19 // 20 AS budget,
      |         row_number() OVER (ORDER BY c, source) AS k,
      |         sum(c) OVER (ORDER BY c, source ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - c AS prefix
      |  FROM stats),
      |lv AS (
      |  SELECT *, CAST(budget - prefix AS DOUBLE) / CAST(n_src - k + 1 AS DOUBLE) AS lvl,
      |         CAST(c AS DOUBLE) <= CAST(budget - prefix AS DOUBLE) / CAST(n_src - k + 1 AS DOUBLE) AS saturated
      |  FROM ann),
      |fu AS (SELECT *, min(CASE WHEN NOT saturated THEN k END) OVER () AS first_unsat FROM lv),
      |wl AS (SELECT *, min(CASE WHEN k = first_unsat THEN lvl END) OVER () AS water,
      |       CASE WHEN saturated THEN c
      |            ELSE CAST(trunc(min(CASE WHEN k = first_unsat THEN lvl END) OVER ()) AS BIGINT)
      |       END AS alloc_tokens
      |       FROM fu)""".stripMargin
  private val p16Sql =
    s"""WITH stats AS (
      |  SELECT source, CAST(sum(n_chars) AS BIGINT) AS c
      |  FROM documents GROUP BY source),
      |$waterfillCtes
      |SELECT source, c AS avail_tokens, saturated, alloc_tokens,
      |       round(CAST(alloc_tokens AS DOUBLE) / CAST(budget AS DOUBLE), 6) AS share
      |FROM wl ORDER BY source""".stripMargin

  // ------------------------------------- p23 quality-gated waterfilling

  /** p23: quality-gated mixture waterfilling — the composition a real
    * curation pipeline runs: gate every document through the t05
    * quality score (threshold 0.18 ≈ the corpus median, so the gate
    * genuinely bites), THEN waterfill the token budget across sources
    * over the eligible pools only (the IDENTICAL [[waterfill]] kernel
    * p16 ships — factored, not reimplemented). Output adds the gate's
    * per-source evidence: eligible doc counts and the mean quality of
    * what survived.
    *
    * Exactness: the gate compares the 6-dp-rounded score (identical
    * doubles in both engines, the p14 precedent); the quality mean
    * rides a per-doc round(q·1e6) nearest-integer fixed-point sum
    * (t14's discipline, nearest instead of trunc because q's 6-dp grid
    * makes q·1e6 integral up to the engines' ±1-ulp round() skew)
    * divided once; waterfill arithmetic is p16's proven exact form.
    * Scale shape: ONE corpus scan into the per-source aggregate; the
    * waterfill windows ride the #sources relation (allowlisted class);
    * empty gated pools keep their row with a NULL mean (the audit can
    * never silently drop a starved source). */
  private val p23: Fn = (s, d) => {
    val thr = 0.18
    val scored = docs(s, d).select(col("source"), col("n_chars"),
      TextQueries.qualityScore.as("q"))
    val stats = scored.groupBy("source").agg(
      sum(when(col("q") >= thr, col("n_chars")).otherwise(lit(0L))).cast(LongType).as("c"),
      count(lit(1)).as("n_docs_total"),
      sum(when(col("q") >= thr, 1L).otherwise(0L)).cast(LongType).as("n_docs_eligible"),
      // round-to-nearest, NOT trunc: q sits on a 6-dp grid so q·1e6 is
      // integral up to ±1 ulp, and the two engines' round(x, 6) results
      // can sit one ulp apart — trunc amplifies that ulp to a whole
      // count, nearest-integer absorbs it (measured: sf0.001 src8)
      sum(when(col("q") >= thr, round(col("q") * 1e6, 0).cast(LongType)).otherwise(lit(0L)))
        .cast(LongType).as("q_fp"))
    waterfill(stats)
      .select(col("source"), col("n_docs_total"), col("n_docs_eligible"),
        col("c").as("eligible_tokens"), col("saturated"), col("alloc_tokens"),
        round(col("alloc_tokens").cast(DoubleType) / col("budget").cast(DoubleType), 6).as("share"),
        when(col("n_docs_eligible") > 0,
          round(col("q_fp").cast(DoubleType) / 1e6 / col("n_docs_eligible").cast(DoubleType), 6))
          .as("mean_quality"))
      .orderBy("source")
  }
  private val p23Sql = {
    val q = TextQueries.qualityScoreSql
    s"""WITH scored AS (
       |  SELECT source, n_chars, $q AS q FROM documents),
       |stats AS (
       |  SELECT source,
       |         CAST(sum(CASE WHEN q >= 0.18 THEN n_chars ELSE 0 END) AS BIGINT) AS c,
       |         CAST(count(*) AS BIGINT) AS n_docs_total,
       |         CAST(sum(CASE WHEN q >= 0.18 THEN 1 ELSE 0 END) AS BIGINT) AS n_docs_eligible,
       |         CAST(sum(CASE WHEN q >= 0.18 THEN CAST(round(q * 1e6, 0) AS BIGINT) ELSE 0 END) AS BIGINT) AS q_fp
       |  FROM scored GROUP BY source),
       |$waterfillCtes
       |SELECT source, n_docs_total, n_docs_eligible, c AS eligible_tokens, saturated, alloc_tokens,
       |       round(CAST(alloc_tokens AS DOUBLE) / CAST(budget AS DOUBLE), 6) AS share,
       |       CASE WHEN n_docs_eligible > 0
       |            THEN round(CAST(q_fp AS DOUBLE) / 1e6 / CAST(n_docs_eligible AS DOUBLE), 6) END AS mean_quality
       |FROM wl ORDER BY source""".stripMargin
  }

  // ------------------------------------------------ p17 compaction planner

  /** p17: shard-compaction planner — the small-file fixer every long-
    * lived 100 TB table needs (the same bin-packing Delta/Iceberg
    * OPTIMIZE and Spark's own file-scan coalescing perform): given the
    * per-file byte footprint of the current layout (here: the
    * source×shard export files, sized by their char sum as the byte
    * proxy), assign each input file to a target output bin so every bin
    * closes at ~`CompactTarget` bytes — `bin = floor(bytes_before /
    * target)` over the running total in deterministic (source, shard)
    * listing order. An oversized file simply claims several bin ids on
    * its own (ids are sparse, never torn across two bins — compaction
    * rewrites whole files). Scale shape: the window runs over file
    * METADATA (#sources × #shards rows, ~160 here), never the corpus —
    * exactly like the driver-side listing Spark itself packs scan
    * splits from; the data-moving rewrite the plan feeds is per-bin
    * parallel. PlanLint allowlists the metadata-sized global window.
    * Complements [[graft.operators.Layout.compactionPlan]]: that is the
    * physical pass (first-fit-decreasing over actual part-file bytes,
    * driver-side, spec-tested); this is the LOGICAL planner — shard
    * footprints computed relationally from the data itself, so it runs
    * inside the engine, scales with the catalog, and is oracled. */
  private val CompactTarget = 60000L
  private val p17: Fn = (s, d) => {
    val files = docs(s, d)
      .groupBy(col("source"), mdBucket(col("doc_id"), "shuffle:", 8).as("shard"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).cast(LongType).as("bytes"))
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("source"), col("shard"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    files.withColumn("cum", sum(col("bytes")).over(w))
      .withColumn("out_bin", floor((col("cum") - col("bytes")) / lit(CompactTarget.toDouble)))
      .select("source", "shard", "n_docs", "bytes", "out_bin")
      .orderBy("source", "shard")
  }
  private val p17Sql = {
    val shard = mdBucketSql("doc_id", "shuffle:", 8)
    s"""WITH files AS (
       |  SELECT source, $shard AS shard,
       |         count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS bytes
       |  FROM documents GROUP BY 1, 2),
       |planned AS (
       |  SELECT source, shard, n_docs, bytes,
       |         sum(bytes) OVER (ORDER BY source, shard
       |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
       |  FROM files)
       |SELECT source, shard, n_docs, bytes,
       |       CAST(floor((cum - bytes) / $CompactTarget.0) AS BIGINT) AS out_bin
       |FROM planned ORDER BY source, shard""".stripMargin
  }

  // --------------- p18 two-constraint inference batch packing ---------

  val BatchMaxDocs = 8
  val BatchMaxTokens = 512
  val BatchBucketWidth = 32

  /** p18 body, factored for specs: greedy two-constraint batching of a
    * (doc_id, n_tok, bucket) relation — within each length bucket, docs
    * in doc_id order join the current batch until it holds `maxDocs`
    * documents OR adding the next doc would exceed `maxTokens`; either
    * constraint closes the batch. Scale shape: the SECONDARY-SORT
    * idiom — repartition by bucket, sortWithinPartitions(bucket,
    * doc_id), then ONE streaming mapPartitions pass with O(1) state
    * (current bucket, batch number, count, token sum). No group is ever
    * materialized in memory (flatMapGroups would hold a whole bucket),
    * so the pass handles any bucket size at any scale; batch numbering
    * restarts per bucket, so the output is partition-placement
    * independent. */
  private[queries] def packBatches(withTok: DataFrame, maxDocs: Int, maxTokens: Long): DataFrame = {
    val spark = withTok.sparkSession
    val sorted = withTok.select(col("bucket").cast(LongType), col("doc_id").cast(LongType),
        col("n_tok").cast(LongType))
      .repartition(col("bucket"))
      .sortWithinPartitions(col("bucket"), col("doc_id"))
    val schema = StructType(Seq(
      StructField("bucket", LongType), StructField("doc_id", LongType),
      StructField("n_tok", LongType), StructField("batch_no", LongType)))
    val out = sorted.rdd.mapPartitions { iter =>
      var curBucket = Long.MinValue
      var batch = 0L
      var cnt = 0
      var tok = 0L
      iter.map { r =>
        val (b, id, n) = (r.getLong(0), r.getLong(1), r.getLong(2))
        if (b != curBucket) { curBucket = b; batch = 0L; cnt = 1; tok = n }
        else if (cnt >= maxDocs || tok + n > maxTokens) { batch += 1; cnt = 1; tok = n }
        else { cnt += 1; tok += n }
        org.apache.spark.sql.Row(b, id, n, batch)
      }
    }
    spark.createDataFrame(out, schema)
      .groupBy(col("bucket"), col("batch_no"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("n_tokens"),
        min(col("doc_id")).as("first_doc"), max(col("doc_id")).as("last_doc"))
      .orderBy("bucket", "batch_no")
  }

  /** p18: inference batch packing — the vLLM-style batcher an eval or
    * RLHF-sampling pipeline runs over the corpus: length-bucketed
    * micro-batches capped at [[BatchMaxDocs]] sequences AND
    * [[BatchMaxTokens]] total tokens (the count cap binds on short
    * buckets, the token budget on long ones — both constraints bind on
    * this fixture). Oracle: the greedy recurrence is inherently
    * sequential per bucket, so the replay is a WITH RECURSIVE walk over
    * each bucket's row_number chain (every bucket advances one row per
    * recursion step — the r58-proven mechanism, no round-count bound
    * needed). */
  private val p18: Fn = (s, d) =>
    packBatches(
      // NULL text would flow through as a null n_tok/bucket and NPE in
      // the packer's typed state pass — filter at the scan (pushable),
      // exactly as the oracle's WHERE clause does
      docs(s, d).filter(col("text").isNotNull)
        .select(col("doc_id"), size(toks).cast(LongType).as("n_tok"))
        .withColumn("bucket", (col("n_tok") / BatchBucketWidth).cast(LongType)),
      BatchMaxDocs, BatchMaxTokens)
  private val p18Sql =
    s"""WITH RECURSIVE d AS (
       |  SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
       |  FROM documents WHERE text IS NOT NULL),
       |r AS (
       |  SELECT doc_id, n_tok, CAST(n_tok // $BatchBucketWidth AS BIGINT) AS bucket,
       |         row_number() OVER (PARTITION BY n_tok // $BatchBucketWidth ORDER BY doc_id) AS rn
       |  FROM d),
       |state AS (
       |  SELECT bucket, rn, doc_id, n_tok,
       |         CAST(0 AS BIGINT) AS batch_no, 1 AS cnt, n_tok AS tok
       |  FROM r WHERE rn = 1
       |  UNION ALL
       |  SELECT n.bucket, n.rn, n.doc_id, n.n_tok,
       |         CASE WHEN s.cnt >= $BatchMaxDocs OR s.tok + n.n_tok > $BatchMaxTokens
       |              THEN s.batch_no + 1 ELSE s.batch_no END,
       |         CASE WHEN s.cnt >= $BatchMaxDocs OR s.tok + n.n_tok > $BatchMaxTokens
       |              THEN 1 ELSE s.cnt + 1 END,
       |         CASE WHEN s.cnt >= $BatchMaxDocs OR s.tok + n.n_tok > $BatchMaxTokens
       |              THEN n.n_tok ELSE s.tok + n.n_tok END
       |  FROM state s JOIN r n ON n.bucket = s.bucket AND n.rn = s.rn + 1)
       |SELECT bucket, batch_no, count(*) AS n_docs, CAST(sum(n_tok) AS BIGINT) AS n_tokens,
       |       min(doc_id) AS first_doc, max(doc_id) AS last_doc
       |FROM state GROUP BY bucket, batch_no
       |ORDER BY bucket, batch_no""".stripMargin

  /** p19: temperature-scaled source mixture — the sampling-temperature
    * recipe multilingual/multi-source LLM corpora use to keep big
    * sources from drowning small ones: sample source i with
    * probability ∝ n_i^α, α < 1 (GPT-3/XLM-R style; α = 0.5 here so
    * the weight is an IEEE-exact `sqrt` on BOTH engines — the same
    * closed form generalizes to any α via pow at a 1-ulp parity risk
    * this query deliberately avoids). Quotas are floor(B·p_i) capped
    * at n_i; the row-level keep is the deterministic per-source
    * md5-rank ≤ quota (one keyed window per source — the p12 cap
    * shape), witnessed by an exact doc_id checksum. Shapes: one tiny
    * per-source aggregation broadcast back over the corpus, one keyed
    * window, one keyed rollup. Weight parity: sqrt(n)·1e6 floored to
    * exact ints, summed exactly; p_i and quotas derive from those ints
    * with identical double steps. */
  private val p19: Fn = (s, d) => temperatureMixtureOf(docs(s, d))

  /** p19 body over any `(doc_id, source)` relation — factored so the
    * spec can feed a skewed source distribution and assert the α = 0.5
    * boost: small sources' sampling share must exceed their raw share,
    * which the uniform fixture cannot show. */
  private[queries] def temperatureMixtureOf(docsDf: DataFrame): DataFrame = {
    val budget = 1000L
    val sizes = docsDf.groupBy("source").agg(count(lit(1)).as("n_docs"))
      .withColumn("w_fp", floor(sqrt(col("n_docs").cast(DoubleType)) * 1e6).cast(LongType))
    val tot = sizes.agg(sum(col("w_fp")).as("w_tot"))
    val quotas = sizes.crossJoin(broadcast(tot))
      .withColumn("p", col("w_fp").cast(DoubleType) / col("w_tot").cast(DoubleType))
      .withColumn("quota",
        least(floor(lit(budget.toDouble) * col("p")).cast(LongType), col("n_docs")))
    val rk = Window.partitionBy(col("source"))
      .orderBy(md5(concat(lit("temp:"), col("doc_id").cast(StringType))), col("doc_id"))
    val kept = docsDf
      .withColumn("rk", row_number().over(rk).cast(LongType))
      .join(broadcast(quotas.select(col("source"), col("quota"))), "source")
      .filter(col("rk") <= col("quota"))
      .groupBy("source")
      .agg(count(lit(1)).as("kept"), sum(col("doc_id")).as("kept_id_sum"))
    quotas.join(kept, "source")
      .select(col("source"), col("n_docs"), col("w_fp"),
        round(col("p"), 6).as("p"), col("quota"), col("kept"), col("kept_id_sum"))
      .orderBy("source")
  }
  private val p19Sql =
    """WITH sizes AS (
      |  SELECT source, count(*) AS n_docs,
      |         CAST(floor(sqrt(CAST(count(*) AS DOUBLE)) * 1e6) AS BIGINT) AS w_fp
      |  FROM documents GROUP BY source),
      |tot AS (SELECT CAST(sum(w_fp) AS BIGINT) AS w_tot FROM sizes),
      |quotas AS (
      |  SELECT source, n_docs, w_fp,
      |         CAST(w_fp AS DOUBLE) / CAST(w_tot AS DOUBLE) AS p,
      |         least(CAST(floor(1000.0 * (CAST(w_fp AS DOUBLE) / CAST(w_tot AS DOUBLE))) AS BIGINT),
      |               n_docs) AS quota
      |  FROM sizes CROSS JOIN tot),
      |ranked AS (
      |  SELECT source, doc_id,
      |         row_number() OVER (PARTITION BY source
      |           ORDER BY md5(concat('temp:', CAST(doc_id AS VARCHAR))), doc_id) AS rk
      |  FROM documents),
      |kept AS (
      |  SELECT r.source, count(*) AS kept, CAST(sum(r.doc_id) AS BIGINT) AS kept_id_sum
      |  FROM ranked r JOIN quotas q ON r.source = q.source
      |  WHERE r.rk <= q.quota GROUP BY r.source)
      |SELECT q.source, q.n_docs, q.w_fp, round(q.p, 6) AS p, q.quota, k.kept, k.kept_id_sum
      |FROM quotas q JOIN kept k ON q.source = k.source
      |ORDER BY q.source""".stripMargin

  // ------------------- p27 padding-waste audit ---------------------------

  val PadBatch = 8

  /** p27: padding-waste audit — the quantified case for length-sorted
    * batching: assemble fixed-size inference batches of [[PadBatch]]
    * docs per source under TWO orders (arrival = doc_id; length-sorted
    * = tokens desc) and report the padding each policy wastes (every
    * batch pads to its longest member). p18 packs batches, p03 packs
    * sequences; p27 is the audit that justifies the sort stage in
    * front of them — the padding gap IS the GPU-hours bill of skipping
    * it.
    *
    * Exactness: token counts are integer split sizes; per-batch pad =
    * max·count − sum is pure integer algebra; one rounded fraction per
    * (policy, source).
    * Scale shape: ranks are source-partitioned windows (batch assembly
    * is per-source/per-shard in production for exactly this reason —
    * a GLOBAL assembly order would be a single-reducer sort); two
    * passes over a 3-column projection, aggregations keyed by
    * (policy, source, batch). */
  private val p27: Fn = (s, d) => {
    val base = Tables.documents(s, d)
      .select(col("doc_id"), col("source"),
        size(split(col("text"), " ")).cast(LongType).as("n_tok"))
    def policy(name: String, order: Seq[org.apache.spark.sql.Column]): DataFrame = {
      val w = Window.partitionBy("source").orderBy(order: _*)
      base.withColumn("rk", row_number().over(w))
        .withColumn("batch", expr(s"CAST((rk - 1) DIV $PadBatch AS BIGINT)"))
        .groupBy("source", "batch")
        .agg(count(lit(1)).as("cnt"), max(col("n_tok")).as("mx"),
          sum(col("n_tok")).as("sm"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_batches"),
          sum(col("sm")).cast(LongType).as("total_tokens"),
          // dec-lift (overflow lint): accumulate in DECIMAL(38,0) — the
          // per-bucket product mx·cnt stays under 2^63 (both are token
          // counts of one length bucket) but the corpus-level SUM need not
          sum((col("mx") * col("cnt") - col("sm")).cast(DecimalType(38, 0)))
            .cast(LongType).as("total_pad"))
        .withColumn("policy", lit(name))
    }
    policy("arrival", Seq(col("doc_id")))
      .unionByName(policy("sorted", Seq(col("n_tok").desc, col("doc_id"))))
      .withColumn("pad_frac", round(col("total_pad").cast(DoubleType) /
        (col("total_pad") + col("total_tokens")).cast(DoubleType), 6))
      .select("policy", "source", "n_batches", "total_tokens", "total_pad", "pad_frac")
      .orderBy("policy", "source")
  }

  private val p27Sql =
    s"""WITH base AS (
       |  SELECT doc_id, source,
       |         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
       |  FROM documents),
       |ranked AS (
       |  SELECT 'arrival' AS policy, source, n_tok,
       |         row_number() OVER (PARTITION BY source ORDER BY doc_id) AS rk
       |  FROM base
       |  UNION ALL
       |  SELECT 'sorted', source, n_tok,
       |         row_number() OVER (PARTITION BY source ORDER BY n_tok DESC, doc_id) AS rk
       |  FROM base),
       |batches AS (
       |  SELECT policy, source, (rk - 1) // $PadBatch AS batch,
       |         count(*) AS cnt, max(n_tok) AS mx, sum(n_tok) AS sm
       |  FROM ranked GROUP BY 1, 2, 3)
       |SELECT policy, source, count(*) AS n_batches,
       |       CAST(sum(sm) AS BIGINT) AS total_tokens,
       |       CAST(sum(mx * cnt - sm) AS BIGINT) AS total_pad,
       |       round(CAST(sum(mx * cnt - sm) AS DOUBLE) /
       |             CAST(sum(mx * cnt - sm) + sum(sm) AS DOUBLE), 6) AS pad_frac
       |FROM batches
       |GROUP BY 1, 2
       |ORDER BY 1, 2""".stripMargin

  val all: Seq[Q] = Seq(
    Q("p27_padding_waste", p27, Some(p27Sql)),
    Q("p19_temperature_mixture", p19, Some(p19Sql)),
    Q("p18_inference_batches", p18, Some(p18Sql)),
    Q("p17_compaction_plan", p17, Some(p17Sql)),
    Q("p16_mixture_waterfill", p16, Some(p16Sql)),
    Q("p23_quality_waterfill", p23, Some(p23Sql)),
    Q("p15_preference_pairs", p15, Some(p15Sql)),
    Q("u08_split_leakage", u08, Some(u08Sql)),
    Q("p14_curriculum_bins", p14, Some(p14Sql)),
    Q("p13_weighted_sample", p13, Some(p13Sql)),
    Q("p12_per_source_cap", p12, Some(p12Sql)),
    Q("p11_export_manifest", p11, Some(p11Sql)),
    Q("p10_incremental_agg", p10, Some(p10Sql)),
    Q("p09_epoch_upsample", p09, Some(p09Sql)),
    Q("p08_chunking", p08, Some(p08Sql)),
    Q("p07_incremental_dedup", p07, Some(p07Sql)),
    Q("t10_repetition_quality", t10, Some(t10Sql)),
    Q("p01_hash_split", p01, Some(p01Sql)),
    Q("p02_stratified_sample", p02, Some(p02Sql)),
    Q("p03_sequence_packing", p03, Some(p03Sql)),
    Q("p04_mixture_sample", p04, Some(p04Sql)),
    Q("p05_corpus_shuffle", p05, Some(p05Sql)),
    Q("p06_assemble_training_set", p06, Some(p06Sql)),
    Q("d07_decontaminate", d07, Some(d07Sql)))
}
