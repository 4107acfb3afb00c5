package graft.streaming

import java.sql.Timestamp
import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types.{DecimalType, LongType, StructType}

/** Streaming operators over the `events` shape (SURVEY.md §2.3: the
  * reference is strictly batch, so this is extension surface).
  *
  * Every aggregation here is written against a plain DataFrame, so the
  * SAME function serves batch (where the DuckDB oracle checks it — see
  * Relational q21/q23 and StreamQueries) and `readStream` input: Spark's
  * unified API means the logical plan is identical, only the sink/trigger
  * differ. StreamingSpec drives them through MemoryStream and asserts the
  * streaming result equals the batch result on the same rows.
  *
  * Scale notes: stateful aggs are keyed by (window/user) so state is
  * partitioned; watermarks bound state size — both essential at 100 TB/day
  * ingest. `dropDuplicatesWithinWatermark` is the streaming twin of the
  * dedup layer in DedupQueries.
  */
object StreamingOps {

  /** Tumbling counts/sums per event_type; watermark bounds late data. */
  def tumblingAgg(events: DataFrame, window: String = "10 minutes",
                  watermark: String = "30 minutes"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(org.apache.spark.sql.functions.window(col("ts"), window), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("sum_value"))
      .select(col("window.start").as("w_start"), col("event_type"), col("n"), col("sum_value"))

  /** Built-in session windows: events within `gap` of each other merge. */
  def sessionAgg(events: DataFrame, gap: String = "30 minutes"): DataFrame =
    events
      .withWatermark("ts", "1 hour")
      .groupBy(session_window(col("ts"), gap), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("session_window.start").as("session_start"), col("user_id"), col("n_events"))

  /** Streaming leaderboard, stage 1: tumbling-window counts per
    * event_type — the pre-aggregation an always-on "top pages / top
    * errors this hour" pipeline keeps in streaming state. Top-k itself
    * is NOT computed here: ranking inside the stream would need a
    * per-window global sort in state, while the pre-aggregated counts
    * are tiny (windows × #types), so the rank belongs in the serving
    * read ([[rankTopK]]) — the standard pre-agg/serve split for
    * streaming top-k. Keyed by (window, type), watermark-bounded. */
  def windowedTypeCounts(events: DataFrame, window: String = "1 hour",
                         watermark: String = "2 hours"): DataFrame =
    events.withWatermark("ts", watermark)
      .groupBy(org.apache.spark.sql.functions.window(col("ts"), window), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("w_start"), col("event_type"), col("n"))

  /** Streaming leaderboard, stage 2 (serving side): rank the
    * pre-aggregated counts to top-k per window with a deterministic
    * (count desc, type asc) tie-break. Input is windows × #types rows
    * — the window partition bounds the rank's shuffle at any scale.
    * The same composition over a batch scan is the DuckDB-oracled
    * `st5_stream_topk`. */
  def rankTopK(counts: DataFrame, k: Int = 3): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("w_start")).orderBy(desc("n"), col("event_type"))
    counts.withColumn("rk",
        row_number().over(w).cast(org.apache.spark.sql.types.LongType))
      .filter(col("rk") <= k)
      .select(col("w_start"), col("rk"), col("event_type"), col("n"))
      .orderBy("w_start", "rk")
  }

  /** Streaming dedup on a business key within the watermark horizon. */
  def dedupWithinWatermark(events: DataFrame): DataFrame =
    events.withWatermark("ts", "30 minutes")
      .dropDuplicatesWithinWatermark("event_id")

  /** Stream-stream interval join: each error event joined to the same
    * user's signup events at most one hour earlier. Both sides carry
    * watermarks and the join condition carries the time bound, so the
    * state store can evict rows once the watermark passes — the property
    * that keeps stream-stream join state bounded at production ingest
    * rates. The same function serves batch (oracled as st2) and
    * readStream inputs. */
  def intervalJoin(signups: DataFrame, errors: DataFrame): DataFrame = {
    val s = signups.select(col("user_id").as("s_user"), col("ts").as("signup_ts"))
      .withWatermark("signup_ts", "1 hour")
    val e = errors.select(col("event_id"), col("user_id"), col("ts").as("error_ts"))
      .withWatermark("error_ts", "1 hour")
    e.join(s, col("user_id") === col("s_user") &&
        col("error_ts") >= col("signup_ts") &&
        col("error_ts") <= col("signup_ts") + expr("INTERVAL 1 HOUR"))
      .select(col("event_id"), col("user_id"), col("signup_ts"), col("error_ts"))
  }

  /** LEFT OUTER stream-stream interval join (st3): errors WITHOUT a
    * same-user signup in the preceding hour must still emit — with a
    * NULL signup side — which in streaming can only happen once the
    * watermark proves no matching signup can ever arrive. That makes
    * this a genuinely different operator from the inner form: the
    * engine holds the unmatched row in state until the global watermark
    * (the MIN across both inputs) passes its join window, then emits
    * the null-padded row exactly once. Same keyed-shuffle scale shape
    * as [[intervalJoin]]; state is bounded by the watermark on both
    * sides. Batch twin oracled as st3_interval_join_outer. */
  def intervalJoinOuter(signups: DataFrame, errors: DataFrame): DataFrame = {
    val s = signups.select(col("user_id").as("s_user"), col("ts").as("signup_ts"))
      .withWatermark("signup_ts", "1 hour")
    val e = errors.select(col("event_id"), col("user_id"), col("ts").as("error_ts"))
      .withWatermark("error_ts", "1 hour")
    e.join(s, col("user_id") === col("s_user") &&
        col("error_ts") >= col("signup_ts") &&
        col("error_ts") <= col("signup_ts") + expr("INTERVAL 1 HOUR"),
      "left_outer")
      .select(col("event_id"), col("user_id"), col("signup_ts"), col("error_ts"))
  }

  /** Streaming ingest front-end for a document corpus: content-
    * fingerprint dedup-on-arrival (first arrival wins, cross-batch via
    * streaming state), repetition-quality verdict, and deterministic
    * train/val/test + shard assignment — the always-on twin of the batch
    * assembly pipeline's first stages (d01/t10/p01/p05 semantics).
    * Everything except the dedup state is map-side, so the output
    * supports append mode and a partitioned exactly-once file sink
    * (partitionBy(split), the file-sink commit log guarantees no
    * duplicates on restart). Dedup state is keyed by the fingerprint;
    * on a stream that carries an ingest timestamp, bound it with
    * `dropDuplicatesWithinWatermark` instead (see [[dedupWithinWatermark]]).
    * Batch twin ORACLED as `st4_ingest_front` (first arrival = min
    * doc_id, the id-ordered-arrival case StreamingSpec feeds). */
  def ingestDocs(docs: DataFrame): DataFrame = {
    val keyed = docs
      .withColumn("content_fp", md5(col("text")))
      .dropDuplicates("content_fp")
    graft.queries.PipelineQueries.withQualityVerdict(keyed)
      .withColumn("split", graft.functions.DetHash.splitOf(col("doc_id")))
      .withColumn("shard", graft.functions.DetHash.shardOf(col("doc_id")))
  }

  /** Streaming NEAR-dup ingest gate — d12's always-on twin, and the
    * LSH upgrade of [[incrementalDedup]]: each arriving document's
    * MinHash band keys (pure map work — shingles, the fused signature
    * kernel, and the band explode are all row-local expressions) probe
    * the STATIC standing-corpus band index per micro-batch; colliding
    * candidates are exact-verified against the index row's own shingle
    * set (carried on the index, so verification is map-side on the
    * joined row — no second corpus join, no stream-stream join), and
    * multi-band double-matches collapse via cross-batch
    * `dropDuplicates` state on the (new_id, dup_of) pair. Output rows
    * are the matches an ingest gate would REJECT on arrival. At scale
    * the index is a bucketed-by-(band,bucket) table maintained
    * incrementally (ScaleOps.writeBucketed) and the per-batch probe is
    * co-located. Batch twin ORACLED as `d12_incremental_lsh`;
    * StreamingSpec feeds the same delta across micro-batches and
    * asserts set equality. */
  def ingestNearDupGate(delta: DataFrame, corpusIndex: DataFrame): DataFrame = {
    import org.apache.spark.sql.types.DoubleType
    graft.queries.DedupQueries.lshBandsOf(delta)
      .select(col("band"), col("bucket"),
        col("doc_id").as("new_id"), col("shingles").as("s1"))
      .join(corpusIndex, Seq("band", "bucket"))
      .withColumn("inter",
        size(array_intersect(col("s1"), col("corpus_shingles"))).cast(DoubleType))
      .withColumn("jaccard", round(col("inter") /
        (size(col("s1")) + size(col("corpus_shingles")) - col("inter")).cast(DoubleType), 6))
      .filter(col("jaccard") >= 0.4)
      .select(col("new_id"), col("dup_of"), col("jaccard"))
      .dropDuplicates("new_id", "dup_of")
  }

  /** Stream-static incremental dedup — the always-on execution of p07's
    * delta-vs-corpus semantics: arriving docs are fingerprinted, LEFT
    * JOINED against the STATIC standing-corpus fingerprint index (a
    * stream-static join runs per micro-batch with no streaming state;
    * at scale the index is the bucketed-by-fp table so the per-batch
    * join is co-located), corpus duplicates dropped, and in-stream
    * duplicates collapsed to the first arrival via cross-batch
    * `dropDuplicates` state keyed by fingerprint. The output is exactly
    * the docs a corpus-append sink should receive. Batch equivalence
    * (first arrival = min doc_id): oracled as p07's 'new' disposition;
    * StreamingSpec feeds arrivals in id order across multiple
    * micro-batches and asserts set equality. */
  def incrementalDedup(delta: DataFrame, corpusIdx: DataFrame): DataFrame = {
    val keyed = delta.withColumn("fp", md5(col("text")))
    keyed.join(corpusIdx.select(col("fp"), lit(1L).as("__in_corpus")), Seq("fp"), "left")
      .filter(col("__in_corpus").isNull)
      .drop("__in_corpus")
      .dropDuplicates("fp")
  }

  /** Streaming distribution-drift monitor — u10's always-on twin: each
    * micro-batch's metric histogram (fixed-width bins, Laplace-smoothed
    * shares — the exact code path the oracled batch report uses) is
    * compared against the STANDING reference shares, appending one
    * batch-stamped PSI report (per-bin rows + exact-integer total) per
    * micro-batch. `foreachBatch` is the right surface: PSI needs the
    * batch's own total count, which a cumulative streaming aggregation
    * cannot express per batch. The reference relation is DriftBins
    * rows — broadcast-tiny by construction — so the per-batch cost is
    * one keyed count over the batch plus a 10-row join; at scale the
    * alerting threshold (e.g. PSI > 0.2 on the bin=-1 row) gates the
    * ingest the same way the quality verdict does in [[ingestDocs]].
    * StreamingSpec asserts each batch's report equals the batch
    * computation on the same arrival slice. */
  def driftMonitor(docs: DataFrame, refShares: DataFrame, outDir: String): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    docs.writeStream.outputMode("append").foreachBatch {
      (batch: DataFrame, batchId: Long) =>
        graft.queries.ExtraQueries2.psiReport(refShares,
            graft.queries.ExtraQueries2.driftShares(batch, col("n_chars")))
          .withColumn("batch_id", lit(batchId))
          .coalesce(1).write.mode("append").parquet(outDir)
    }

  /** Streaming volume-anomaly monitor — u13's always-on twin in the
    * [[driftMonitor]] mold: each micro-batch (an arrival wave of
    * events) gets the batch-stamped median/MAD robust-outlier report
    * appended to the output table, through EXACTLY the oracled batch
    * code path (`ExtraQueries2.volumeAnomaliesOf`), so the alert a
    * dashboard reads is the same number the batch audit would print.
    * The batch is the comparison window: a flood or outage day inside
    * one wave trips against that wave's own baseline.
    *
    * Small-batch degeneracy: a wave spanning only 1–2 distinct days has
    * no usable baseline — the median IS (or nearly is) the lone point
    * and the MAD collapses to 0 or undefined, so any deviation (or
    * none) would flag. Below [[AnomalyMinDays]] distinct days the
    * report still ships (day/n_events/med/mad intact, so the dashboard
    * sees the volumes) but `is_anomaly` is null: "baseline too thin to
    * judge", not a verdict. At or above the floor the rows are
    * bit-identical to the batch twin's. */
  val AnomalyMinDays = 5
  def anomalyMonitor(events: DataFrame, outDir: String): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    events.writeStream.outputMode("append").foreachBatch {
      (batch: DataFrame, batchId: Long) =>
        val rep = graft.queries.ExtraQueries2.volumeAnomaliesOf(batch)
        // the report is one row per distinct day, so its own count is the
        // baseline width; 1-row broadcast, the p14/u13 cutoff idiom
        val nDays = rep.agg(count(lit(1)).as("__n_days"))
        rep.crossJoin(broadcast(nDays))
          .withColumn("is_anomaly",
            when(col("__n_days") >= AnomalyMinDays, col("is_anomaly"))
              .otherwise(lit(null).cast("boolean")))
          .drop("__n_days")
          .withColumn("batch_id", lit(batchId))
          .coalesce(1).write.mode("append").parquet(outDir)
    }

  /** Streaming MERGE (upsert) sink via `foreachBatch` — the production
    * idiom for maintaining a standing keyed table from a stream when
    * the sink format has no native MERGE: each micro-batch full-outer
    * joins the newest table version on the key (r42's merge shape,
    * one keyed shuffle; co-located if the standing table is bucketed)
    * and publishes the merged result as the batch's own `v%012d`
    * version ([[writeVersion]]); readers take the newest version.
    * Idempotent under batch replay: like the [[StateKernel]]s, a
    * re-delivered batch merges onto the newest version BEFORE its id and
    * rewrites its own version with the same content — the exactly-once
    * contract foreachBatch requires of its body. */
  def mergeSink(updates: DataFrame, tableDir: String, key: String): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    updates.writeStream.foreachBatch { (batch: DataFrame, batchId: Long) =>
      mergeBatch(batch, tableDir, key, batchId)
    }

  /** One merge step (exposed for batch tests and replay idempotency). */
  def mergeBatch(batch: DataFrame, tableDir: String, key: String, batchId: Long): Unit = {
    val cols = batch.columns
    val merged = newest(tableDir, Some(batchId)) match {
      case None => batch
      case Some(v) =>
        batch.sparkSession.read.schema(batch.schema).parquet(v).as("b")
          .join(batch.as("u"), col(s"b.$key") === col(s"u.$key"), "full_outer")
          .select(cols.map(c => coalesce(col(s"u.$c"), col(s"b.$c")).as(c)).toIndexedSeq: _*)
    }
    writeVersion(merged, tableDir, batchId)
  }

  /** Read the newest version of a mergeSink table. */
  def readMerged(spark: org.apache.spark.sql.SparkSession, tableDir: String): DataFrame =
    spark.read.parquet(newest(tableDir, None)
      .getOrElse(throw new java.io.FileNotFoundException(s"no merge-sink version under $tableDir")))

  // ---- versioned-state kernels (r64/r78/r81/r89/r95/r96/r105/st6 twins) ----

  /** One always-on twin of a registry query that folds micro-batches into
    * a standing state table: `fold` is the oracled batch kernel applied to
    * one micro-batch, `merge` re-aggregates the union of the standing state
    * and a folded batch, and `publish` is the oracled report over the
    * state. Every twin follows the mergeable-kernel discipline: the state
    * is a grain that merges at any batch boundary or arrival order
    * (integer addition, min, set union), and whatever is NOT mergeable
    * (CUSUM, runs, ACF, growth flows) is re-derived from that bounded
    * grain by the same batch code, so the published report is always
    * exactly what the batch audit would print on the rows seen so far.
    *
    * State lives in `<tableDir><leaf>` as versions named by batch id
    * (`v%012d`), behind a `_state_format` header carrying `format` (see
    * [[checkStateFormat]]). Additive state double-counts a re-delivered
    * batch unless the step rebuilds from the state BEFORE that batch, so
    * each step reads the newest version with id < its own
    * — a re-delivered batch id recomputes the same output version from the
    * same base. Readers follow max-version, so a replayed rewrite is
    * invisible (same content, same name). `empty` is the declared state
    * schema: the report reads the state with it and publishes over an
    * empty relation of it before the first version exists. */
  final case class StateKernel(
      name: String,
      format: String,
      leaf: String,
      empty: StructType,
      fold: DataFrame => DataFrame,
      merge: DataFrame => DataFrame,
      publish: DataFrame => DataFrame) {

    /** One incremental fold (exposed for specs + replay proof). A refused
      * state dir fails before any work on the batch; the base version is
      * read with the folded rows' own schema, so the step runs no
      * schema-inference job. */
    def step(batch: DataFrame, tableDir: String, batchId: Long): Unit = {
      val dir = tableDir + leaf
      val base = version(dir, format, Some(batchId))
      val rows = fold(batch)
      writeState(merged(base.map(batch.sparkSession.read.schema(rows.schema).parquet(_)), rows, merge),
        dir, batchId, format)
    }

    /** Published report from the standing state. Reads through [[state]]
      * so the `_state_format` refusal contract covers the report path
      * too: a pre-header or alien-kernel state dir is refused loudly,
      * never silently reinterpreted (r10 ADVICE). */
    def report(spark: SparkSession, tableDir: String): DataFrame =
      publish(state(spark, tableDir + leaf, format, empty).getOrElse(emptyOf(spark, empty)))
  }

  /** Drive a foreachBatch step — any [[StateKernel]]'s `step`, or
    * [[watermarkStep]] — as an always-on stream into `tableDir`. */
  def stream(input: DataFrame, tableDir: String,
      step: (DataFrame, String, Long) => Unit): DataStreamWriter[Row] =
    input.writeStream.outputMode("append").foreachBatch {
      (batch: DataFrame, batchId: Long) => step(batch, tableDir, batchId)
    }

  /** r64's twin: a standing per-event_type table of EXACT fixed-point
    * partials (n, Σ2^(30−age), Σcents·2^(30−age)). Every weight is
    * absolute against r64's fixed anchor, so the merge is plain integer
    * addition and the state after any number of batches equals the batch
    * r64 partials over the union of all events, exactly (the
    * mergeable-summaries property, here with zero approximation). */
  val Decayed: StateKernel = StateKernel("decayed", "decayed_partials:v1", "",
    StructType.fromDDL("event_type STRING, n BIGINT, wsum_fp DECIMAL(38,0), vsum_fp DECIMAL(38,0)"),
    graft.queries.ExtraQueries3.decayedPartials,
    _.groupBy("event_type").agg(sum(col("n")).cast("long").as("n"),
      sum(col("wsum_fp")).cast(DecimalType(38, 0)).as("wsum_fp"),
      sum(col("vsum_fp")).cast(DecimalType(38, 0)).as("vsum_fp")),
    graft.queries.ExtraQueries3.decayedFinal)

  /** r81's twin: CUSUM changepoints. The state is the (event_type, day,
    * cnt) daily-count frame — counts sum across waves — and the CUSUM
    * layer (not additive: the running deviation depends on the whole
    * series' mean) re-derives from that types×days relation. */
  val Cusum: StateKernel = StateKernel("cusum", "cusum_daily:v1", "/daily",
    StructType.fromDDL("event_type STRING, day DATE, cnt BIGINT"),
    graft.queries.ExtraQueries5.dailyCounts,
    _.groupBy("event_type", "day").agg(sum(col("cnt")).cast("long").as("cnt")),
    graft.queries.ExtraQueries5.cusumFromDaily)

  /** r89's twin over an orders stream: the Wald–Wolfowitz runs test. The
    * state is the (grp, day, rev) daily-revenue frame — exact DECIMAL sums
    * are additive — and the runs layer (not additive: a run can span a
    * batch boundary) re-derives from that series. */
  val Runs: StateKernel = StateKernel("runs", "runs_daily_rev:v1", "/daily_rev",
    StructType.fromDDL("grp STRING, day TIMESTAMP_NTZ, rev DECIMAL(38,2)"),
    graft.queries.ExtraQueries6.dailyRevenue,
    _.groupBy("grp", "day").agg(sum(col("rev")).cast(DecimalType(38, 2)).as("rev")),
    graft.queries.ExtraQueries6.runsFromDaily)

  /** r78's twin: the cumulative-distinct adoption curve. The state is the
    * (event_type, user_id, first_day) frame; MIN is idempotent and
    * commutative, so a user seen in three waves keeps their earliest
    * day. */
  val Adoption: StateKernel = StateKernel("adoption", "adoption_first_days:v1", "/first_days",
    StructType.fromDDL("event_type STRING, user_id BIGINT, first_day INT"),
    graft.queries.ExtraQueries4.firstDays,
    _.groupBy("event_type", "user_id").agg(min(col("first_day")).as("first_day")),
    graft.queries.ExtraQueries4.adoptionCurve)

  /** r96's twin over an orders stream: the daily-revenue ACF. The state
    * is the (day, cents) frame — cent sums are additive — and the ACF
    * (every lag term couples the whole series through the global mean)
    * re-derives from that #days-row series. */
  val Acf: StateKernel = StateKernel("acf", "acf_daily_cents:v1", "/daily_cents",
    StructType.fromDDL("day DATE, x BIGINT"),
    graft.queries.ExtraQueries7.dailyCents,
    _.groupBy("day").agg(sum(col("x")).cast(LongType).as("x")),
    graft.queries.ExtraQueries7.acfFromDaily)

  /** r95's twin: the new/retained/resurrected/churned DAU decomposition.
    * The state is the (user_id, day) distinct-activity set; set union is
    * idempotent and commutative, and the flow columns are re-DERIVED from
    * that grain rather than accumulated, because a user's FIRST day can
    * arrive in the last wave and reclassify every later day. */
  val Growth: StateKernel = StateKernel("growth", "activity_days:v1", "/active_days",
    StructType.fromDDL("user_id BIGINT, day DATE"),
    graft.queries.ExtraQueries6.activeDays,
    _.distinct(),
    graft.queries.ExtraQueries6.growthFlows)

  /** r105's twin: the trailing-window distinct-user curve over the SAME
    * standing state as [[Growth]] — the grain is maintained once and
    * every dashboard derives from it. */
  val Wau: StateKernel = Growth.copy(name = "wau",
    publish = graft.queries.ExtraQueries11.wauFromActivity)

  /** Every single-relation state kernel, in bench-line order. */
  val StateKernels: Seq[StateKernel] = Seq(Decayed, Cusum, Runs, Adoption, Acf, Growth, Wau)

  /** `rows` merged onto the standing `base`, or `rows` alone when there
    * is no base yet. */
  private def merged(base: Option[DataFrame], rows: DataFrame,
      merge: DataFrame => DataFrame): DataFrame =
    base.fold(rows)(b => merge(b.unionByName(rows)))

  private def emptyOf(spark: SparkSession, schema: StructType): DataFrame =
    spark.createDataFrame(java.util.List.of[Row](), schema)

  /** Versioned write: the batch's `v%012d` dir, published whole
    * (replacing a replayed one). */
  private def writeVersion(df: DataFrame, dir: String, batchId: Long): Unit =
    graft.Publish.dir(java.nio.file.Paths.get(f"$dir/v$batchId%012d"), replace = true)(
      tmp => df.coalesce(1).write.mode("overwrite").parquet(tmp.toString))

  // ---- uniform versioned-state FORMAT contract (r9 verdict stretch 8) ----

  /** Every foreachBatch state dir carries a `_state_format` header naming
    * the kernel and its state-schema version (e.g. `wm_hi:v2`). The wm_hi
    * guard from round 9 was the right pattern — round 10 makes it the
    * ONLY pattern: one helper pair, one refusal shape. A dir with
    * versioned parquet but NO header was written by a pre-header build;
    * a dir with a DIFFERENT header was written by an incompatible kernel
    * or schema generation. Neither can prove its merge history satisfies
    * the current kernel's contract, so both are refused loudly with the
    * same remedy — replay the log from batch 0, or start a fresh state
    * dir — never silently reinterpreted. Bump a kernel's format version
    * whenever its state SCHEMA or merge semantics change. */
  private def checkStateFormat(dir: String, format: String): Unit = {
    val p = java.nio.file.Paths.get(s"$dir/_state_format")
    if (java.nio.file.Files.exists(p)) {
      val found = java.nio.file.Files.readString(p).trim
      require(found == format,
        s"versioned-state format mismatch at $dir: header '$found', this build " +
          s"expects '$format'; replay the log from batch 0 or start a fresh state dir")
    } else {
      val hasVersions = Option(new java.io.File(dir).list())
        .exists(_.exists(_.matches("v\\d{12}")))
      require(!hasVersions,
        s"unversioned state at $dir: versioned parquet present but no _state_format " +
          s"header (expected '$format') — state written by a pre-header build cannot " +
          "prove its merge history; replay the log from batch 0 or start a fresh state dir")
    }
  }

  /** Header-checked versioned-state write: refuses alien/unversioned
    * dirs, publishes the header BEFORE the first version, then publishes
    * the version through [[writeVersion]]. Header-first
    * ordering matters for crash recovery: a crash between the two leaves
    * a header-only dir (reads as fresh — recoverable incremental state),
    * whereas version-first would leave versioned parquet with no header,
    * which the next run refuses and forces a full replay (r10 ADVICE). */
  private def writeState(df: DataFrame, dir: String, batchId: Long, format: String): Unit = {
    checkStateFormat(dir, format)
    val p = java.nio.file.Paths.get(s"$dir/_state_format")
    if (!java.nio.file.Files.exists(p))
      graft.Publish.file(p, format.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    writeVersion(df, dir, batchId)
  }

  /** The refusal contract of [[writeState]], then the path of the newest
    * version — or the newest strictly before `beforeBatch`, the
    * replay-safe base for that batch's step. */
  private def version(dir: String, format: String, beforeBatch: Option[Long]): Option[String] = {
    checkStateFormat(dir, format)
    newest(dir, beforeBatch)
  }

  /** The newest `v%012d` version under `dir`, or the newest strictly
    * before `beforeBatch`. */
  private def newest(dir: String, beforeBatch: Option[Long]): Option[String] = {
    val versions = Option(new java.io.File(dir).list()).getOrElse(Array.empty[String])
      .filter(_.matches("v\\d{12}")).map(v => v.drop(1).toLong)
      .filter(v => beforeBatch.forall(v < _))
    if (versions.isEmpty) None else Some(f"$dir/v${versions.max}%012d")
  }

  /** Header-checked versioned-state read of [[version]], with the declared
    * `schema`, so no schema-inference job runs. */
  def state(spark: SparkSession, dir: String, format: String, schema: StructType,
      beforeBatch: Option[Long] = None): Option[DataFrame] =
    version(dir, format, beforeBatch).map(spark.read.schema(schema).parquet(_))

  // ---- incremental watermark/late-data monitor (st6 twin) ----

  private val WmCountsFmt = "wm_counts:v1"
  /** v2 because v1 (round 8) lacked the arrival-order `state_seq` column. */
  private val WmHiFmt = "wm_hi:v2"
  private val WmCounts = StructType.fromDDL(
    "event_type STRING, day DATE, n_events BIGINT, on_time BIGINT, late_accepted BIGINT, dropped BIGINT")

  /** st6's always-on twin (drive it with [[stream]]): watermark lateness
    * accounting maintained incrementally. State is TWO relations: the
    * per-type high-water mark (merged by max — idempotent, commutative)
    * and the (type, day) classification counts (merged by plain
    * addition). UNLIKE the [[StateKernel]]s, the watermark kernel is
    * order-sensitive BY DEFINITION — an event's on-time/late/dropped
    * verdict depends on what arrived before it — so the merge contract is
    * that waves PARTITION the arrival order (each micro-batch is a
    * contiguous arrival-sequence range, exactly how a log-offset source
    * delivers). Under that contract the per-batch classification seeded
    * with the carried high-water mark reproduces the batch st6 verdicts
    * row for row — and the contract is ENFORCED, not just documented: the
    * state carries the max processed arrival_seq per type, and a batch
    * that does not start strictly past it is rejected loudly.
    * Versioned-state replay discipline identical to the [[StateKernel]]s:
    * a re-delivered batch rebuilds from the pre-batch base and rewrites
    * the same version. */
  def watermarkStep(batch: DataFrame, tableDir: String, batchId: Long): Unit = {
    val E10 = graft.queries.ExtraQueries10
    val spark = batch.sparkSession
    val hiVersion = version(s"$tableDir/wm_hi", WmHiFmt, Some(batchId))
    val countsVersion = version(s"$tableDir/wm_counts", WmCountsFmt, Some(batchId))
    val arr = E10.wmArrivals(batch)
    val batchHi = arr.groupBy("event_type")
      .agg(max(col("mts")).as("state_hi"), max(col("arrival_seq")).as("state_seq"))
    val baseHi = hiVersion.map(spark.read.schema(batchHi.schema).parquet(_))
    // ENFORCE the partition-the-arrival-order contract instead of
    // documenting it: the state carries the max processed arrival_seq
    // per type (state_seq); a batch whose min arrival_seq is not
    // strictly greater has crossed a wave boundary (e.g. a source
    // delivering in event_id order under the ≤WmJitter jitter), and its
    // on_time/late/dropped split would silently diverge from batch st6
    // — fail loudly. Bounded driver data: ≤ |event types| rows.
    baseHi.foreach { b =>
      val viol = arr.groupBy("event_type").agg(min(col("arrival_seq")).as("batch_lo"))
        .join(b.select(col("event_type"), col("state_seq")), Seq("event_type"))
        .filter(col("batch_lo") <= col("state_seq"))
        .collect()
      require(viol.isEmpty,
        s"watermarkStep: batch $batchId violates the arrival-order contract " +
          s"(micro-batches must partition the arrival_seq order): " +
          viol.map(r => s"${r.getString(0)} batch_lo=${r.getLong(1)} <= state_seq=${r.getLong(2)}")
            .mkString("; "))
    }
    val counts = E10.wmCounts(
      E10.wmClassify(arr, baseHi.map(_.select("event_type", "state_hi"))))
    val baseCounts = countsVersion.map(spark.read.schema(counts.schema).parquet(_))
    writeState(merged(baseCounts, counts, _.groupBy("event_type", "day")
      .agg(sum(col("n_events")).cast(LongType).as("n_events"),
        sum(col("on_time")).cast(LongType).as("on_time"),
        sum(col("late_accepted")).cast(LongType).as("late_accepted"),
        sum(col("dropped")).cast(LongType).as("dropped"))),
      s"$tableDir/wm_counts", batchId, WmCountsFmt)
    writeState(merged(baseHi, batchHi, _.groupBy("event_type")
      .agg(max(col("state_hi")).as("state_hi"), max(col("state_seq")).as("state_seq"))),
      s"$tableDir/wm_hi", batchId, WmHiFmt)
  }

  /** Published accounting from the standing state — st6's exact shape. */
  def watermarkReport(spark: SparkSession, tableDir: String): DataFrame =
    state(spark, s"$tableDir/wm_counts", WmCountsFmt, WmCounts).getOrElse(emptyOf(spark, WmCounts))
      .orderBy("event_type", "day")

  // ---- custom state: cross-batch inference batch packer (p18 twin) ----

  case class PackIn(bucket: Long, doc_id: Long, n_tok: Long)
  case class PackState(batchNo: Long, cnt: Int, tok: Long)
  case class PackOut(bucket: Long, doc_id: Long, n_tok: Long, batch_no: Long)

  /** Streaming twin of p18's two-constraint batcher: arriving docs join
    * their length bucket's OPEN batch, carried across micro-batches in
    * `flatMapGroupsWithState` (a batch left half-full by one micro-batch
    * fills up in the next — the behavior a continuous eval/scoring
    * ingest needs; the batch form would restart numbering per run).
    * State per bucket is O(1): (open batch number, its count, its token
    * sum). Arrivals are packed in doc_id order within each micro-batch;
    * the stream equals p18's batch assignment exactly when docs arrive
    * in doc_id order across micro-batches (StreamingSpec feeds them so
    * and asserts equality). */
  def packStream(docs: Dataset[PackIn], maxDocs: Int = 8,
                 maxTokens: Long = 512L): Dataset[PackOut] = {
    import docs.sparkSession.implicits._
    docs.groupByKey(_.bucket)
      .flatMapGroupsWithState[PackState, PackOut](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (bucket: Long, rows: Iterator[PackIn], state: GroupState[PackState]) =>
          var st = state.getOption.getOrElse(PackState(-1L, 0, 0L))
          val out = rows.toSeq.sortBy(_.doc_id).map { r =>
            st =
              if (st.batchNo < 0L) PackState(0L, 1, r.n_tok)
              else if (st.cnt >= maxDocs || st.tok + r.n_tok > maxTokens)
                PackState(st.batchNo + 1L, 1, r.n_tok)
              else PackState(st.batchNo, st.cnt + 1, st.tok + r.n_tok)
            PackOut(bucket, r.doc_id, r.n_tok, st.batchNo)
          }
          state.update(st)
          out.iterator
      }
  }

  // ---- custom state: flatMapGroupsWithState sessionizer ----

  case class Ev(user_id: Long, ts: Timestamp)
  case class SessionState(sessionId: Long, lastTs: Long, count: Long, startTs: Long)
  case class SessionOut(user_id: Long, session_id: Long, n_events: Long, duration_s: Long)

  /** Custom stateful sessionizer (the `flatMapGroupsWithState` surface):
    * same 30-minute-gap semantics as the batch gaps-and-islands query
    * (q23). TRULY incremental across micro-batches (round 8): the open
    * session carries in state, so a session split across waves continues
    * instead of restarting — the previous version rebuilt sessions from
    * each batch's rows alone, which silently renumbered and double-
    * counted any session spanning a batch boundary. Emission is UPSERT
    * keyed by (user_id, session_id): a session still open at the end of
    * a batch is emitted with its current counts and re-emitted updated
    * if a later wave extends it; readers keep the latest row per key.
    * Batch mode (one group call, empty state) emits every session once
    * — identical to the old behavior.
    *
    * Cross-batch contract (enforced, the watermarkStep discipline):
    * waves must not deliver a user's events before its open session's
    * last seen second — out-of-order delivery would silently corrupt
    * the gap accounting, so it fails loudly instead. */
  def sessionize(events: Dataset[Ev], gapSeconds: Long = 1800): Dataset[SessionOut] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[List[SessionState], SessionOut](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (user: Long, rows: Iterator[Ev], state: GroupState[List[SessionState]]) =>
          // rows within one batch arrive unordered: sort here; ACROSS
          // batches ordering is the enforced contract below
          val sorted = rows.toSeq.sortBy(_.ts.getTime)
          val prior = state.getOption.getOrElse(Nil)
          var cur: Option[SessionState] = prior.headOption // open session
          for (st <- cur; e <- sorted.headOption) {
            val sec = e.ts.getTime / 1000
            require(sec >= st.lastTs,
              s"sessionize: user $user batch delivers t=$sec before the open " +
                s"session's last=${st.lastTs} — waves must partition event time")
          }
          var closedNow = List.empty[SessionState]
          sorted.foreach { e =>
            val sec = e.ts.getTime / 1000
            cur = cur match {
              case Some(st) if sec - st.lastTs <= gapSeconds =>
                Some(st.copy(lastTs = sec, count = st.count + 1))
              case Some(st) =>
                closedNow = st :: closedNow
                Some(SessionState(st.sessionId + 1, sec, 1, sec))
              case None =>
                Some(SessionState(1, sec, 1, sec))
            }
          }
          // state carries ONLY the open session (r8 advice): closed
          // sessions are already emitted and never read again, and
          // session-number continuity needs just the open sessionId —
          // keeping them would grow per-user state and checkpoint size
          // without bound in an always-on stream
          state.update(cur.toList)
          (closedNow.reverse ++ cur.toList).iterator.map(st =>
            SessionOut(user, st.sessionId, st.count, st.lastTs - st.startTs))
      }
  }

  // ---- custom state: debounce keep-best (r120 twin) ----

  case class DbEv(user_id: Long, event_type: String, event_id: Long,
                  sec: Long, cents: Long)
  case class DbState(burst: Long, lastSec: Long, n: Long,
                     bestCents: Long, bestId: Long)
  case class DbOut(user_id: Long, event_type: String, burst: Long,
                   n_events: Long, kept_event_id: Long, best_cents: Long)

  /** r120's always-on twin: bursts carry across micro-batches in O(1)
    * per-(user, type) state (open burst number, last second, count,
    * best cents, best id), so a retry storm straddling a batch boundary
    * stays ONE burst. Emission is UPSERT keyed by (user, type, burst)
    * — an open burst re-emits updated as later waves extend it; readers
    * keep the latest row per key, and the final resolved set equals
    * batch r120 exactly when waves respect per-key time order (the
    * sessionize contract, enforced the same way: out-of-order delivery
    * fails loudly instead of silently splitting bursts). */
  def debounceStream(ev: Dataset[DbEv], gapS: Long = 60L): Dataset[DbOut] = {
    import ev.sparkSession.implicits._
    ev.groupByKey(e => (e.user_id, e.event_type))
      .flatMapGroupsWithState[DbState, DbOut](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (key: (Long, String), rows: Iterator[DbEv], state: GroupState[DbState]) =>
          val sorted = rows.toSeq.sortBy(e => (e.sec, e.event_id))
          var cur = state.getOption
          for (st <- cur; e <- sorted.headOption) {
            require(e.sec >= st.lastSec,
              s"debounceStream: key $key delivers t=${e.sec} before the open " +
                s"burst's last=${st.lastSec} — waves must partition event time")
          }
          var out = List.empty[DbOut]
          sorted.foreach { e =>
            cur = cur match {
              case Some(st) if e.sec - st.lastSec <= gapS =>
                val better = e.cents > st.bestCents ||
                  (e.cents == st.bestCents && e.event_id < st.bestId)
                Some(DbState(st.burst, e.sec, st.n + 1,
                  if (better) e.cents else st.bestCents,
                  if (better) e.event_id else st.bestId))
              case Some(st) =>
                out = DbOut(key._1, key._2, st.burst, st.n, st.bestId, st.bestCents) :: out
                Some(DbState(st.burst + 1, e.sec, 1, e.cents, e.event_id))
              case None =>
                Some(DbState(1L, e.sec, 1, e.cents, e.event_id))
            }
          }
          cur.foreach(state.update)
          (out.reverse ++ cur.map(st =>
            DbOut(key._1, key._2, st.burst, st.n, st.bestId, st.bestCents)).toList).iterator
      }
  }

  // ---- custom state: horizon-bounded dedup (d26 twin) ----

  case class DocSight(doc_id: Long, h: String)

  /** One event for the streaming Poisson bootstrap: value carried as
    * exact cents (DECIMAL(18,2) × 100) so the running sums are pure
    * BIGINT — no float accumulates in checkpointed state. */
  case class BootEvent(event_id: Long, event_type: String, cents: Long)

  /** One replicate-accumulator upsert: `seq` increments per emission so
    * consumers (and the spec) keep the latest row per (type, b). */
  case class BootRep(event_type: String, b: Int, seq: Long, wsum_cents: Long, wn: Long)

  /** Streaming twin of r123's Poisson bootstrap accumulation — the
    * always-on form of the one-pass bootstrap: every arriving event
    * contributes its Poisson(1) weight to all B replicate accumulators
    * of its type, so the (type, replicate) running sums are always
    * current and a serve-time pass (rank the B means, take the 5/95
    * order statistics — exactly r123's close) prices a CI at any
    * moment.
    *
    * Unlike the horizon/debounce twins this operator needs NO
    * arrival-order contract: the weights are keyed to (replicate,
    * event_id) by the same integer md5-threshold coins as the batch
    * form, and BIGINT addition commutes — any wave partition of the
    * input yields identical final state, which the spec asserts by
    * replaying split waves against the batch coin chain. State is two
    * BIGINTs + a seq per (type, replicate): |types|·B entries, O(1)
    * each, checkpoint-stable. */
  def bootstrapStream(events: Dataset[BootEvent], b: Int): Dataset[BootRep] = {
    import events.sparkSession.implicits._
    val thresholds = graft.queries.ExtraQueries26.PoisThresholds
    val perHash = graft.queries.ExtraQueries26.BootRepsPerHash
    events
      .flatMap { e =>
        val md = java.security.MessageDigest.getInstance("MD5")
        (0 until b / perHash).iterator.flatMap { g =>
          val hex = md.digest(s"boot:$g:${e.event_id}".getBytes("UTF-8"))
            .map("%02x".format(_)).mkString
          md.reset()
          (0 until perHash).iterator.map { s8 =>
            val u = java.lang.Long.parseLong(hex.substring(s8 * 4, s8 * 4 + 4), 16)
            val w = thresholds.count(u >= _).toLong
            (e.event_type, g * perHash + s8, w * e.cents, w)
          }
        }
      }
      .groupByKey(t => (t._1, t._2))
      .mapGroupsWithState[(Long, Long, Long), BootRep](GroupStateTimeout.NoTimeout) {
        case ((tpe, rep), rows, state) =>
          var dw = 0L; var dn = 0L
          rows.foreach { t => dw += t._3; dn += t._4 }
          val (pw, pn, seq) = state.getOption.getOrElse((0L, 0L, 0L))
          val next = (pw + dw, pn + dn, seq + 1)
          state.update(next)
          BootRep(tpe, rep, next._3, next._1, next._2)
      }
  }
  case class DupDrop(doc_id: Long, first_seen: Long, gap: Long)

  /** d26's always-on twin: horizon-bounded exact dedup with O(1) state
    * per LIVE content hash — just the last-seen ingest id. This is the
    * state-size answer the horizon semantics exists to permit: unbounded
    * dedup state grows with every distinct payload forever, while here a
    * hash whose last sighting has fallen more than `horizon` behind the
    * ingest high-water mark can never cause another drop, so a
    * maintenance pass may prune it from the store at will (the emitted
    * rows are unaffected — pruning is an optimization, not a semantics
    * change). Gap accounting matches batch d26's lag exactly: the gap is
    * measured against the IMMEDIATELY PREVIOUS sighting, whether that
    * sighting was itself kept or dropped.
    *
    * Cross-batch contract (enforced, the sessionize discipline): waves
    * must partition the ingest order per hash — a batch delivering an id
    * at or before the carried last-seen id would corrupt the gap
    * accounting, so it fails loudly instead. */
  def horizonDedupStream(docs: Dataset[DocSight], horizon: Long): Dataset[DupDrop] = {
    import docs.sparkSession.implicits._
    docs.groupByKey(_.h)
      .flatMapGroupsWithState[Long, DupDrop](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (h: String, rows: Iterator[DocSight], state: GroupState[Long]) =>
          val sorted = rows.toSeq.sortBy(_.doc_id)
          var last = state.getOption
          for (l <- last; r <- sorted.headOption) {
            require(r.doc_id > l,
              s"horizonDedupStream: hash $h delivers id=${r.doc_id} not past the " +
                s"carried last-seen=$l — waves must partition the ingest order")
          }
          val out = List.newBuilder[DupDrop]
          sorted.foreach { r =>
            last match {
              case Some(l) if r.doc_id - l <= horizon =>
                out += DupDrop(r.doc_id, l, r.doc_id - l)
              case _ => ()
            }
            last = Some(r.doc_id)
          }
          last.foreach(state.update)
          out.result().iterator
      }
  }
}
