package graft.streaming

import java.sql.Timestamp
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import graft.SparkTestSession
import graft.SparkTestSession.withTempDir

/** Drives the streaming operators through MemoryStream and asserts the
  * unified-API property: streaming result == batch result on the same
  * rows (the batch forms are the DuckDB-oracled q21/st1). */
case class E(event_id: Long, ts: java.sql.Timestamp, user_id: Long, event_type: String, value: Double)
case class Doc(doc_id: Long, source: String, text: String)
case class O(o_orderkey: Long, o_custkey: Long, o_orderstatus: String,
  o_totalprice: Double, o_orderdate: java.time.LocalDateTime, o_orderpriority: String)

/** Poison-pill switch for the crash-restart spec: a JVM-global object so
  * executor threads (local mode, same JVM) see the flag without closure
  * serialization capturing a stale copy. */
object CrashFlag { @volatile var armed = false }

class StreamingSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val sf = "/root/testdata/sf0.001"

  private def eventsBatch = graft.Tables.events(spark, sf)

  private def feedAll(name: String, build: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame,
                      outputMode: String): org.apache.spark.sql.DataFrame = {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val rows = eventsBatch
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"), col("value")).as[E].collect()
    val stream = MemoryStream[E]
    stream.addData(rows.toSeq)
    val q = build(stream.toDF()).writeStream
      .format("memory").queryName(name).outputMode(outputMode).start()
    try q.processAllAvailable() finally q.stop()
    spark.table(name)
  }

  test("streaming tumbling agg equals the oracled batch aggregation") {
    val got = feedAll("tumbling_out", df => StreamingOps.tumblingAgg(df), "complete")
      .select(col("w_start"), col("event_type"), col("n")).collect()
      .map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2))).toSet
    val want = StreamingOps.tumblingAgg(eventsBatch)
      .select(col("w_start"), col("event_type"), col("n")).collect()
      .map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2))).toSet
    assert(got == want && got.nonEmpty)
  }
  import spark.implicits._

  test("streaming session_window agg equals the oracled batch sessionization") {
    val got = feedAll("session_out", df => StreamingOps.sessionAgg(df), "complete")
      .collect().map(r => (r.getTimestamp(0), r.getLong(1), r.getLong(2))).toSet
    val want = StreamingOps.sessionAgg(eventsBatch)
      .collect().map(r => (r.getTimestamp(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == want && got.nonEmpty)
  }

  test("streaming windowed top-k: pre-agg via MemoryStream + serving rank equals batch twin") {
    val pre = feedAll("topk_counts", df => StreamingOps.windowedTypeCounts(df), "complete")
    val got = StreamingOps.rankTopK(pre).collect()
      .map(r => (r.getTimestamp(0), r.getLong(1), r.getString(2), r.getLong(3))).toSeq
    val want = StreamingOps.rankTopK(StreamingOps.windowedTypeCounts(eventsBatch)).collect()
      .map(r => (r.getTimestamp(0), r.getLong(1), r.getString(2), r.getLong(3))).toSeq
    assert(got == want && got.nonEmpty)
  }

  test("dropDuplicatesWithinWatermark removes injected dupes") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val rows = eventsBatch.limit(20)
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"), col("value")).as[E].collect()
    val stream = MemoryStream[E]
    stream.addData((rows ++ rows).toSeq) // every event twice
    val q = StreamingOps.dedupWithinWatermark(stream.toDF()).writeStream
      .format("memory").queryName("dedup_out").outputMode("append").start()
    try q.processAllAvailable() finally q.stop()
    assert(spark.table("dedup_out").count() == 20)
  }

  test("stream-stream interval join equals the oracled batch st2") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val rows = eventsBatch
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"), col("value")).as[E].collect()
    val signups = MemoryStream[E]; val errors = MemoryStream[E]
    signups.addData(rows.filter(_.event_type == "signup").toSeq)
    errors.addData(rows.filter(_.event_type == "error").toSeq)
    val q = StreamingOps.intervalJoin(signups.toDF(), errors.toDF()).writeStream
      .format("memory").queryName("ssjoin_out").outputMode("append").start()
    try q.processAllAvailable() finally q.stop()
    val got = spark.table("ssjoin_out").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getTimestamp(2), r.getTimestamp(3))).toSet
    val want = graft.SparkEntry.queries("st2_interval_join")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getTimestamp(2), r.getTimestamp(3))).toSet
    assert(got == want && got.nonEmpty)
  }

  test("left-outer interval join equals batch st3 once the watermark closes") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val rows = eventsBatch
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"), col("value")).as[E].collect()
    val maxTs = rows.map(_.ts.getTime).max
    // sentinel far past every real row: advances the GLOBAL watermark
    // (min over both inputs) so every unmatched real error's join window
    // provably closes and its null-padded row must emit; the sentinel
    // itself stays above the watermark and must NOT emit
    val sentinel = E(-1L, new Timestamp(maxTs + 10L * 24 * 3600 * 1000), -1L, "", 0.0)
    val signups = MemoryStream[E]; val errors = MemoryStream[E]
    signups.addData(rows.filter(_.event_type == "signup").toSeq :+ sentinel)
    errors.addData(rows.filter(_.event_type == "error").toSeq :+ sentinel)
    val q = StreamingOps.intervalJoinOuter(signups.toDF(), errors.toDF()).writeStream
      .format("memory").queryName("ssjoin_outer_out").outputMode("append").start()
    try q.processAllAvailable() finally q.stop()
    val got = spark.table("ssjoin_outer_out").filter(col("event_id") =!= -1L).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getTimestamp(2), r.getTimestamp(3))).toSet
    val want = graft.SparkEntry.queries("st3_interval_join_outer")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getTimestamp(2), r.getTimestamp(3))).toSet
    assert(got == want && got.nonEmpty)
    // the outer form is a genuinely different operator: null-padded rows exist
    assert(got.exists(_._3 == null), "expected watermark-closed unmatched errors")
  }

  test("custom flatMapGroupsWithState sessionizer matches q23 session structure") {
    import spark.implicits._
    val evs = eventsBatch.select(col("user_id"), col("ts")).as[StreamingOps.Ev]
    val got = StreamingOps.sessionize(evs).collect()
      .map(s => (s.user_id, s.session_id) -> (s.n_events, s.duration_s)).toMap
    val want = graft.SparkEntry.queries("q23_sessionization")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> (r.getLong(2), r.getLong(4))).toMap
    assert(got == want && got.nonEmpty)
  }

  test("sessionizer: sessions spanning micro-batch boundaries continue instead of restarting") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    // split on GLOBAL event time so per-user order is preserved across
    // waves (the enforced cross-batch contract); boundary sessions are
    // guaranteed to exist at thirds of a 30-day log
    val rows = eventsBatch.select(col("user_id"), col("ts"))
      .orderBy("ts").as[StreamingOps.Ev].collect()
    val waves = rows.grouped(math.max(1, rows.length / 3 + 1)).toSeq
    val stream = MemoryStream[StreamingOps.Ev]
    val q = StreamingOps.sessionize(stream.toDS()).writeStream
      .format("memory").queryName("sess_inc_out").outputMode("append").start()
    try {
      waves.foreach { wv => stream.addData(wv.toSeq); q.processAllAvailable() }
    } finally q.stop()
    // upsert semantics: keep the LAST emitted row per (user, session)
    val got = spark.table("sess_inc_out").collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> (r.getLong(2), r.getLong(3)))
      .foldLeft(Map.empty[(Long, Long), (Long, Long)])(_ + _)
    val want = graft.SparkEntry.queries("q23_sessionization")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> (r.getLong(2), r.getLong(4))).toMap
    assert(got == want && got.nonEmpty,
      "incremental sessions diverged from the oracled batch q23")
  }

  test("debounce stream: bursts spanning micro-batch boundaries equal batch r120") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val rows = eventsBatch
      .select(col("user_id"), col("event_type"), col("event_id"),
        col("ts").cast("timestamp").cast("long").as("sec"),
        (col("value").cast("decimal(18,2)") * 100).cast("long").as("cents"))
      .orderBy("sec", "event_id")
      .as[StreamingOps.DbEv].collect()
    val waves = rows.grouped(math.max(1, rows.length / 3 + 1)).toSeq
    val stream = MemoryStream[StreamingOps.DbEv]
    val q = StreamingOps.debounceStream(stream.toDS()).writeStream
      .format("memory").queryName("debounce_out").outputMode("append").start()
    try {
      waves.foreach { wv => stream.addData(wv.toSeq); q.processAllAvailable() }
    } finally q.stop()
    val got = spark.table("debounce_out").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)) ->
        (r.getLong(3), r.getLong(4), r.getLong(5)))
      .foldLeft(Map.empty[(Long, String, Long), (Long, Long, Long)])(_ + _)
    val want = graft.SparkEntry.queries("r120_debounce")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)) ->
        (r.getLong(3), r.getLong(4), r.getLong(5))).toMap
    assert(got == want && got.nonEmpty,
      "incremental bursts diverged from the oracled batch r120")
  }

  test("horizon dedup stream: drops spanning micro-batch boundaries equal batch d26") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val sights = graft.Tables.documents(spark, sf)
      .select(col("doc_id"), md5(substring(col("text"), 1, 100)).as("h"))
      .orderBy("doc_id")
      .as[StreamingOps.DocSight].collect()
    val waves = sights.grouped(math.max(1, sights.length / 3 + 1)).toSeq
    val stream = MemoryStream[StreamingOps.DocSight]
    val q = StreamingOps.horizonDedupStream(stream.toDS(),
        graft.queries.ExtraQueries23.DedupHorizon).writeStream
      .format("memory").queryName("horizon_out").outputMode("append").start()
    try {
      waves.foreach { wv => stream.addData(wv.toSeq); q.processAllAvailable() }
    } finally q.stop()
    val got = spark.table("horizon_out").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sortBy(_._1)
    val want = graft.SparkEntry.queries("d26_horizon_dedup")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(got.toSeq == want.toSeq && got.nonEmpty,
      "incremental horizon drops diverged from the oracled batch d26")
    // a sighting at/behind the carried last-seen id must fail loudly
    val bad = MemoryStream[StreamingOps.DocSight]
    val qb = StreamingOps.horizonDedupStream(bad.toDS(), 10L).writeStream
      .format("memory").queryName("horizon_bad").outputMode("append").start()
    try {
      bad.addData(StreamingOps.DocSight(100L, "hX"))
      qb.processAllAvailable()
      bad.addData(StreamingOps.DocSight(50L, "hX"))
      val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        qb.processAllAvailable()
      }
      assert(e.getMessage.contains("waves must partition the ingest order") ||
        Option(e.getCause).exists(_.getMessage.contains("waves must partition the ingest order")))
    } finally qb.stop()
  }

  test("streaming ingest: cross-batch dedup keeps first arrival; verdicts match batch") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val stream = MemoryStream[Doc]
    val q = StreamingOps.ingestDocs(stream.toDF()).writeStream
      .format("memory").queryName("ingest_out").outputMode("append").start()
    // batch 1: two distinct docs; batch 2: a dup of doc 1 (new id) + a fresh doc
    stream.addData(Doc(1L, "srcA", "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu"), Doc(2L, "srcB", "one two three four five six seven eight nine ten eleven twelve"))
    q.processAllAvailable()
    stream.addData(Doc(9L, "srcC", "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu"), Doc(3L, "srcA", "spark spark spark spark"))
    q.processAllAvailable()
    q.stop()
    val out = spark.table("ingest_out").collect()
      .map(r => r.getAs[Long]("doc_id") -> r).toMap
    // dup text arrived again under doc_id 9 -> suppressed by state
    assert(out.keySet == Set(1L, 2L, 3L))
    // verdicts equal the batch operator on the same rows
    val batch = graft.queries.PipelineQueries.withQualityVerdict(
        Seq(Doc(1L, "srcA", "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu"), Doc(2L, "srcB", "one two three four five six seven eight nine ten eleven twelve"),
          Doc(3L, "srcA", "spark spark spark spark")).toDF())
      .collect().map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Double]("dup_word_frac"), r.getAs[Double]("top_bigram_frac"), r.getAs[Boolean]("passes")))).toMap
    out.foreach { case (id, r) =>
      val (d, t, p) = batch(id)
      assert(r.getAs[Double]("dup_word_frac") == d && r.getAs[Double]("top_bigram_frac") == t
        && r.getAs[Boolean]("passes") == p, s"doc $id verdict mismatch")
    }
    // all-repeat doc fails the filter; normal docs pass
    assert(!batch(3L)._3 && batch(1L)._3)
    // a single-token doc (no space) must flow through as passes=false,
    // not crash the query (regression: sequence(1,0) descends through 0)
    stream.addData(Doc(77L, "srcA", "loneword"))
    val q2 = StreamingOps.ingestDocs(stream.toDF()).writeStream
      .format("memory").queryName("ingest_out2").outputMode("append").start()
    q2.processAllAvailable(); q2.stop()
    val lone = spark.table("ingest_out2").filter(col("doc_id") === 77L).collect()
    assert(lone.length == 1 && !lone.head.getAs[Boolean]("passes"))
    // split/shard equal the oracled batch operators' assignment for these ids
    val p01 = graft.SparkEntry.queries("p01_hash_split")(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getString(2)).toMap
    val p05 = graft.SparkEntry.queries("p05_corpus_shuffle")(spark, sf).collect()
      .map(r => r.getLong(3) -> r.getInt(0)).toMap
    out.foreach { case (id, r) =>
      p01.get(id).foreach(s => assert(r.getAs[String]("split") == s))
      p05.get(id).foreach(s => assert(r.getAs[Int]("shard") == s))
    }
  }

  test("streaming ingest survives a restart from checkpoint without duplicates") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    withTempDir("ingest_restart") { tmp =>
      val dir = tmp.toString
      val docs = (1L to 30L).map(i => Doc(i, "srcA", s"word$i alpha beta gamma plus tail $i"))
      // file source (restartable, unlike MemoryStream): each incarnation
      // reads newly arrived json files from the same input dir
      val schema = org.apache.spark.sql.Encoders.product[Doc].schema
      def startQuery() =
        StreamingOps.ingestDocs(spark.readStream.schema(schema).json(s"$dir/in")).writeStream
          .format("parquet").option("path", s"$dir/data")
          .option("checkpointLocation", s"$dir/ckpt")
          .partitionBy("split").outputMode("append").start()
      // first incarnation sees half, then stops (simulated crash+restart)
      docs.take(15).toDF().coalesce(1).write.mode("append").json(s"$dir/in")
      val q1 = startQuery()
      q1.processAllAvailable(); q1.stop()
      // a new file re-delivers the first 15 docs (replay) plus 15 new ones;
      // the checkpoint-recovered dedup state must suppress the replays
      docs.toDF().coalesce(1).write.mode("append").json(s"$dir/in")
      val q2 = startQuery()
      q2.processAllAvailable(); q2.stop()
      val back = spark.read.parquet(s"$dir/data")
      assert(back.count() == 30)
      assert(back.select("doc_id").distinct().count() == 30)
    }
  }

  test("ingest front-end: hard mid-batch crash, restart is exactly-once and equals the batch twin") {
    // Harsher than the graceful-stop restart above: incarnation 1 DIES
    // from an executor-task exception thrown mid-batch (after some
    // partitions may already have written sink files), not from stop().
    // Exactly-once then rests entirely on the file sink's commit log —
    // uncommitted files from the failed batch must stay invisible, and
    // the replayed batch must commit once. Final output must equal the
    // batch twin (st4 semantics) on the full input, proving the crash
    // left no dupes AND no holes.
    import spark.implicits._
    withTempDir("ingest_kill") { tmp =>
      val dir = tmp.toString
      val docs = (1L to 40L).map(i => Doc(i, "srcA", s"word$i alpha beta gamma plus tail $i"))
      val schema = org.apache.spark.sql.Encoders.product[Doc].schema
      def startQuery(poisoned: Boolean) = {
        val src = spark.readStream.schema(schema).json(s"$dir/in").as[Doc]
          .map { d =>
            if (poisoned && CrashFlag.armed && d.doc_id == 13L)
              throw new RuntimeException("injected mid-batch crash")
            d
          }.toDF()
        StreamingOps.ingestDocs(src).writeStream
          .format("parquet").option("path", s"$dir/data")
          .option("checkpointLocation", s"$dir/ckpt")
          .partitionBy("split").outputMode("append").start()
      }
      docs.take(20).toDF().coalesce(1).write.mode("append").json(s"$dir/in")
      CrashFlag.armed = true
      val q1 = startQuery(poisoned = true)
      val died = intercept[Exception] { q1.processAllAvailable() }
      assert(died.getMessage != null)
      assert(!q1.isActive, "incarnation 1 must be dead, not gracefully stopped")
      // restart from the same checkpoint, crash disarmed; deliver the rest
      CrashFlag.armed = false
      val q2 = startQuery(poisoned = false)
      q2.processAllAvailable()
      docs.drop(20).toDF().coalesce(1).write.mode("append").json(s"$dir/in")
      q2.processAllAvailable(); q2.stop()
      // read through the sink's commit log (_spark_metadata): uncommitted
      // leftovers from the crashed batch are invisible by contract
      val got = spark.read.parquet(s"$dir/data")
        .select("doc_id", "content_fp", "split", "shard").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getInt(3))).toSet
      val want = StreamingOps.ingestDocs(docs.toDF())
        .select("doc_id", "content_fp", "split", "shard").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getInt(3))).toSet
      assert(got == want, s"restart output diverged from the batch twin: ${got.size} vs ${want.size}")
      assert(got.size == 40)
    }
  }

  test("streaming near-dup ingest gate equals d12's oracled batch form") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val all = graft.Tables.documents(spark, sf)
      .select(col("doc_id"), col("source"), col("text"),
        graft.functions.DetHash.mdBucket(col("doc_id"), "arrival:", 100).as("b"))
    val corpusIdx = graft.queries.DedupQueries.corpusBandIndex(
      all.filter(col("b") < 70).select("doc_id", "text"))
    val deltaDocs = all.filter(col("b") >= 70).orderBy("doc_id")
      .select(col("doc_id"), col("source"), col("text")).as[Doc].collect()
    val stream = MemoryStream[Doc]
    val q = StreamingOps.ingestNearDupGate(stream.toDF(), corpusIdx).writeStream
      .format("memory").queryName("neardup_gate_out").outputMode("append").start()
    // two micro-batches: double-matches across bands/batches must
    // collapse through the cross-batch pair state
    val (b1, b2) = deltaDocs.splitAt(deltaDocs.length / 2)
    try {
      stream.addData(b1.toSeq); q.processAllAvailable()
      stream.addData(b2.toSeq); q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("neardup_gate_out").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val want = graft.SparkEntry.queries("d12_incremental_lsh")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(want.nonEmpty, "fixture yields no ingest-gate matches; spec is vacuous")
    assert(got == want, s"stream/batch diverged: extra=${got -- want} missing=${want -- got}")
  }

  test("streaming anomaly monitor: per-batch reports equal u13's batch form; planted flood trips") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val E2 = graft.queries.ExtraQueries2
    def wave(day: Int, n: Int): Seq[java.sql.Timestamp] =
      (1 to n).map(_ => java.sql.Timestamp.valueOf(f"2024-04-$day%02d 09:00:00"))
    // batch 0: five uniform days; batch 1: four uniform days + a 10x flood;
    // batch 2: TWO days with a wild imbalance — a baseline too thin to judge
    val b1 = (1 to 5).flatMap(d => wave(d, 50 + d % 3))
    val b2 = (11 to 14).flatMap(d => wave(d, 50 + d % 3)) ++ wave(15, 500)
    val b3 = wave(21, 50) ++ wave(22, 500)
    withTempDir("anomalymon") { tmp =>
      val dir = tmp.toString
      val stream = MemoryStream[java.sql.Timestamp]
      val q = StreamingOps.anomalyMonitor(stream.toDF().toDF("ts"), s"$dir/out")
        .option("checkpointLocation", s"$dir/ckpt").start()
      try {
        stream.addData(b1); q.processAllAvailable()
        stream.addData(b2); q.processAllAvailable()
        stream.addData(b3); q.processAllAvailable()
      } finally q.stop()
      val got = spark.read.parquet(s"$dir/out")
      assert(got.select("batch_id").distinct().count() == 3, "one report per micro-batch")
      for ((slice, id) <- Seq((b1, 0L), (b2, 1L))) {
        val want = E2.volumeAnomaliesOf(slice.toDF("ts")).collect().map(_.toSeq).toSet
        val gotB = got.filter(col("batch_id") === id).drop("batch_id")
          .collect().map(_.toSeq).toSet
        assert(gotB == want, s"batch $id report diverged from the batch twin")
      }
      // the flood day trips in its own wave; the uniform wave stays quiet
      assert(got.filter(col("batch_id") === 1L && col("is_anomaly")).count() == 1)
      assert(got.filter(col("batch_id") === 0L && col("is_anomaly")).count() == 0)
      // the thin wave ships volumes but withholds the verdict: is_anomaly is
      // null on every row (a 2-day median/MAD would flag anything or nothing),
      // and the non-flag columns still match the batch twin
      val thin = got.filter(col("batch_id") === 2L)
      assert(thin.count() == 2 && thin.filter(col("is_anomaly").isNotNull).count() == 0,
        "sub-AnomalyMinDays batch must null the verdict")
      val thinWant = E2.volumeAnomaliesOf(b3.toDF("ts")).drop("is_anomaly")
        .collect().map(_.toSeq).toSet
      assert(thin.drop("batch_id", "is_anomaly").collect().map(_.toSeq).toSet == thinWant,
        "thin batch must still report day volumes and baseline columns")
    }
  }

  test("incremental decayed aggregate: state after N batches equals batch r64 exactly, replay-safe") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    withTempDir("decayed") { tmp =>
      val dir = tmp.toString
      val rows = eventsBatch
        .select(col("event_id"), col("ts"), col("user_id"), col("event_type"), col("value"))
        .as[E].collect()
      // three uneven waves: the fixed-anchor weights make the standing
      // state additive, so batch boundaries must not perturb the result
      val (b1, rest) = rows.splitAt(rows.length / 5)
      val (b2, b3) = rest.splitAt(rest.length / 2)
      val stream = MemoryStream[E]
      val q = StreamingOps.stream(stream.toDF(), dir, StreamingOps.Decayed.step)
        .option("checkpointLocation", s"$dir/_ckpt").start()
      try {
        stream.addData(b1.toSeq); q.processAllAvailable()
        stream.addData(b2.toSeq); q.processAllAvailable()
        stream.addData(b3.toSeq); q.processAllAvailable()
      } finally q.stop()
      val want = graft.SparkEntry.queries("r64_decayed_agg")(spark, sf)
        .collect().map(_.toSeq).toSet
      val got = StreamingOps.Decayed.report(spark, dir).collect().map(_.toSeq).toSet
      assert(got == want, "incremental state diverged from the oracled batch r64")
      // replay idempotency: re-running the LAST step (same batch id, same
      // rows) must rebuild from the pre-batch base and leave state unchanged
      StreamingOps.Decayed.step(spark.createDataFrame(b3.toIndexedSeq), dir, 2L)
      val replayed = StreamingOps.Decayed.report(spark, dir).collect().map(_.toSeq).toSet
      assert(replayed == want, "replayed batch double-counted into additive state")
    }
  }

  test("incremental growth accounting: state after N batches equals batch r95 exactly, replay-safe") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    withTempDir("growth") { tmp =>
      val dir = tmp.toString
      val rows = eventsBatch
        .select(col("event_id"), col("ts"), col("user_id"), col("event_type"), col("value"))
        .as[E].collect()
      // waves deliberately NOT in time order: a user's FIRST day can arrive
      // in the LAST wave — re-deriving flows from the merged grain must
      // still reclassify that user's later days from new to retained
      val (b1, rest) = rows.reverse.splitAt(rows.length / 3)
      val (b2, b3) = rest.splitAt(rest.length / 2)
      val stream = MemoryStream[E]
      val q = StreamingOps.stream(stream.toDF(), dir, StreamingOps.Growth.step)
        .option("checkpointLocation", s"$dir/_ckpt").start()
      try {
        stream.addData(b1.toSeq); q.processAllAvailable()
        stream.addData(b2.toSeq); q.processAllAvailable()
        stream.addData(b3.toSeq); q.processAllAvailable()
      } finally q.stop()
      val want = graft.SparkEntry.queries("r95_growth_accounting")(spark, sf)
        .collect().map(_.toSeq).toSet
      val got = StreamingOps.Growth.report(spark, dir).collect().map(_.toSeq).toSet
      assert(got == want, "incremental growth state diverged from the oracled batch r95")
      // replay idempotency: re-running the LAST step must not perturb state
      StreamingOps.Growth.step(spark.createDataFrame(b3.toIndexedSeq), dir, 2L)
      val replayed = StreamingOps.Growth.report(spark, dir).collect().map(_.toSeq).toSet
      assert(replayed == want, "replayed batch perturbed the activity-set state")
    }
  }

  test("incremental adoption curve: state after N batches equals batch r78 exactly, replay-safe") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    withTempDir("adoption") { tmp =>
      val dir = tmp.toString
      val rows = eventsBatch
        .select(col("event_id"), col("ts"), col("user_id"), col("event_type"), col("value"))
        .as[E].collect()
      // waves deliberately NOT in time order: a user's earliest day can
      // arrive in the LAST wave — min-merge must still converge to r78
      val (b1, rest) = rows.reverse.splitAt(rows.length / 3)
      val (b2, b3) = rest.splitAt(rest.length / 2)
      val stream = MemoryStream[E]
      val q = StreamingOps.stream(stream.toDF(), dir, StreamingOps.Adoption.step)
        .option("checkpointLocation", s"$dir/_ckpt").start()
      try {
        stream.addData(b1.toSeq); q.processAllAvailable()
        stream.addData(b2.toSeq); q.processAllAvailable()
        stream.addData(b3.toSeq); q.processAllAvailable()
      } finally q.stop()
      val want = graft.SparkEntry.queries("r78_cumulative_users")(spark, sf)
        .collect().map(_.toSeq).toSet
      val got = StreamingOps.Adoption.report(spark, dir).collect().map(_.toSeq).toSet
      assert(got == want, "incremental adoption state diverged from the oracled batch r78")
      // replay idempotency: re-running the LAST step must not perturb state
      // (min is idempotent, but the versioned rebuild is what guarantees it
      // even for a re-delivered batch id)
      StreamingOps.Adoption.step(spark.createDataFrame(b3.toIndexedSeq), dir, 2L)
      val replayed = StreamingOps.Adoption.report(spark, dir).collect().map(_.toSeq).toSet
      assert(replayed == want, "replayed batch perturbed the adoption state")
    }
  }

  test("incremental CUSUM monitor: state after N batches equals batch r81 exactly, replay-safe") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    withTempDir("cusum") { tmp =>
      val dir = tmp.toString
      val rows = eventsBatch
        .select(col("event_id"), col("ts"), col("user_id"), col("event_type"), col("value"))
        .as[E].collect()
      // waves deliberately NOT in time order: daily counts are additive so
      // the merged state must converge to the batch series regardless
      val (b1, rest) = rows.reverse.splitAt(rows.length / 3)
      val (b2, b3) = rest.splitAt(rest.length / 2)
      val stream = MemoryStream[E]
      val q = StreamingOps.stream(stream.toDF(), dir, StreamingOps.Cusum.step)
        .option("checkpointLocation", s"$dir/_ckpt").start()
      try {
        stream.addData(b1.toSeq); q.processAllAvailable()
        stream.addData(b2.toSeq); q.processAllAvailable()
        stream.addData(b3.toSeq); q.processAllAvailable()
      } finally q.stop()
      val want = graft.SparkEntry.queries("r81_cusum_changepoint")(spark, sf)
        .collect().map(_.toSeq).toSet
      val got = StreamingOps.Cusum.report(spark, dir).collect().map(_.toSeq).toSet
      assert(got == want, "incremental CUSUM state diverged from the oracled batch r81")
      // replay idempotency: re-running the LAST step (same batch id, same
      // rows) must rebuild from the pre-batch base and leave state unchanged
      StreamingOps.Cusum.step(spark.createDataFrame(b3.toIndexedSeq), dir, 2L)
      val replayed = StreamingOps.Cusum.report(spark, dir).collect().map(_.toSeq).toSet
      assert(replayed == want, "replayed batch double-counted into additive daily state")
    }
  }

  test("incremental ACF monitor: state after N batches equals batch r96 exactly, replay-safe") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    withTempDir("acf") { tmp =>
      val dir = tmp.toString
      val rows = graft.Tables.orders(spark, sf).as[O].collect()
      // waves deliberately NOT in time order: daily cent sums are additive
      // so the merged state must converge to the batch series
      val (b1, rest) = rows.reverse.splitAt(rows.length / 3)
      val (b2, b3) = rest.splitAt(rest.length / 2)
      val stream = MemoryStream[O]
      val q = StreamingOps.stream(stream.toDF(), dir, StreamingOps.Acf.step)
        .option("checkpointLocation", s"$dir/_ckpt").start()
      try {
        stream.addData(b1.toSeq); q.processAllAvailable()
        stream.addData(b2.toSeq); q.processAllAvailable()
        stream.addData(b3.toSeq); q.processAllAvailable()
      } finally q.stop()
      val want = graft.SparkEntry.queries("r96_autocorrelation")(spark, sf)
        .collect().map(_.toSeq).toSet
      val got = StreamingOps.Acf.report(spark, dir).collect().map(_.toSeq).toSet
      assert(got == want, "incremental ACF state diverged from the oracled batch r96")
      // replay idempotency: re-running the LAST step must not double-count
      StreamingOps.Acf.step(spark.createDataFrame(b3.toIndexedSeq), dir, 2L)
      val replayed = StreamingOps.Acf.report(spark, dir).collect().map(_.toSeq).toSet
      assert(replayed == want, "replayed batch double-counted into additive state")
    }
  }

  test("incremental runs monitor: state after N batches equals batch r89 exactly, replay-safe") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    withTempDir("runs") { tmp =>
      val dir = tmp.toString
      val rows = graft.Tables.orders(spark, sf).as[O].collect()
      // waves deliberately NOT in time order: daily revenue sums are
      // additive so the merged state must converge to the batch series
      val (b1, rest) = rows.reverse.splitAt(rows.length / 3)
      val (b2, b3) = rest.splitAt(rest.length / 2)
      val stream = MemoryStream[O]
      val q = StreamingOps.stream(stream.toDF(), dir, StreamingOps.Runs.step)
        .option("checkpointLocation", s"$dir/_ckpt").start()
      try {
        stream.addData(b1.toSeq); q.processAllAvailable()
        stream.addData(b2.toSeq); q.processAllAvailable()
        stream.addData(b3.toSeq); q.processAllAvailable()
      } finally q.stop()
      val want = graft.SparkEntry.queries("r89_runs_test")(spark, sf)
        .collect().map(_.toSeq).toSet
      val got = StreamingOps.Runs.report(spark, dir).collect().map(_.toSeq).toSet
      assert(got == want, "incremental runs state diverged from the oracled batch r89")
      // replay idempotency: re-running the LAST step (same batch id, same
      // rows) must rebuild from the pre-batch base and leave state unchanged
      StreamingOps.Runs.step(spark.createDataFrame(b3.toIndexedSeq), dir, 2L)
      val replayed = StreamingOps.Runs.report(spark, dir).collect().map(_.toSeq).toSet
      assert(replayed == want, "replayed batch double-counted into additive daily state")
    }
  }

  test("incremental WAU monitor: state after N waves equals batch r105 exactly, replay-safe") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    withTempDir("wau") { tmp =>
      val dir = tmp.toString
      val rows = eventsBatch
        .select(col("event_id"), col("ts"), col("user_id"), col("event_type"), col("value"))
        .as[E].collect()
      // waves deliberately NOT in time order: the (user, day) activity
      // set merges by union+distinct, so any wave order converges
      val (b1, rest) = rows.reverse.splitAt(rows.length / 3)
      val (b2, b3) = rest.splitAt(rest.length / 2)
      val stream = MemoryStream[E]
      val q = StreamingOps.stream(stream.toDF(), dir, StreamingOps.Wau.step)
        .option("checkpointLocation", s"$dir/_ckpt").start()
      try {
        stream.addData(b1.toSeq); q.processAllAvailable()
        stream.addData(b2.toSeq); q.processAllAvailable()
        stream.addData(b3.toSeq); q.processAllAvailable()
      } finally q.stop()
      val want = graft.SparkEntry.queries("r105_rolling_distinct")(spark, sf)
        .collect().map(_.toSeq).toSet
      val got = StreamingOps.Wau.report(spark, dir).collect().map(_.toSeq).toSet
      assert(got == want, "incremental WAU state diverged from the oracled batch r105")
      StreamingOps.Wau.step(spark.createDataFrame(b3.toIndexedSeq), dir, 2L)
      val replayed = StreamingOps.Wau.report(spark, dir).collect().map(_.toSeq).toSet
      assert(replayed == want, "replayed batch corrupted the distinct-activity state")
    }
  }

  test("incremental watermark monitor: state after N arrival-ordered waves equals batch st6, replay-safe") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    withTempDir("wm") { tmp =>
      val dir = tmp.toString
      // the watermark kernel is order-sensitive by definition, so waves
      // must PARTITION the arrival order (the log-offset-source contract
      // documented on watermarkStep) — split on the jittered sequence
      val ordered = graft.queries.ExtraQueries10.wmArrivals(eventsBatch)
        .orderBy("arrival_seq", "event_id").select("event_id").collect().map(_.getLong(0))
      val rows = eventsBatch
        .select(col("event_id"), col("ts"), col("user_id"), col("event_type"), col("value"))
        .as[E].collect().map(e => e.event_id -> e).toMap
      val waves = ordered.map(rows).grouped(math.max(1, ordered.length / 3 + 1)).toSeq
      val stream = MemoryStream[E]
      val q = StreamingOps.stream(stream.toDF(), dir, StreamingOps.watermarkStep)
        .option("checkpointLocation", s"$dir/_ckpt").start()
      try {
        waves.foreach { wv => stream.addData(wv.toSeq); q.processAllAvailable() }
      } finally q.stop()
      val want = graft.SparkEntry.queries("st6_watermark_audit")(spark, sf)
        .collect().map(_.toSeq).toSet
      val got = StreamingOps.watermarkReport(spark, dir).collect().map(_.toSeq).toSet
      assert(got == want, "incremental watermark state diverged from the oracled batch st6")
      // replay idempotency: re-running the LAST step (same batch id, same
      // rows) must rebuild from the pre-batch base and leave state unchanged
      StreamingOps.watermarkStep(spark.createDataFrame(waves.last.toIndexedSeq),
        dir, (waves.length - 1).toLong)
      val replayed = StreamingOps.watermarkReport(spark, dir).collect().map(_.toSeq).toSet
      assert(replayed == want, "replayed batch double-counted into watermark state")
    }
  }

  test("incremental watermark monitor: arrival-order contract violations fail loudly") {
    implicit val sq = spark.sqlContext
    withTempDir("wmv") { tmp =>
      val dir = tmp.toString
      // Natural event_id order is the obvious-but-WRONG way to stream the
      // fixture: the ≤WmJitter jitter makes event_id waves overlap in
      // arrival_seq, so the split would silently diverge from batch st6.
      // The step must reject it instead of skewing the accounting.
      import scala.jdk.CollectionConverters._
      val slim = eventsBatch
        .select(col("event_id"), col("ts"), col("user_id"), col("event_type"), col("value"))
      val byId = slim.orderBy("event_id").collect()
      val half = byId.length / 2
      StreamingOps.watermarkStep(
        spark.createDataFrame(byId.take(half).toList.asJava, slim.schema), dir, 0L)
      val ex = intercept[IllegalArgumentException] {
        StreamingOps.watermarkStep(
          spark.createDataFrame(byId.drop(half).toList.asJava, slim.schema), dir, 1L)
      }
      assert(ex.getMessage.contains("arrival-order contract"))
    }
  }

  test("streaming drift monitor: per-batch PSI reports equal the batch computation") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val E2 = graft.queries.ExtraQueries2
    val all = graft.Tables.documents(spark, sf)
      .select(col("doc_id"), col("n_chars").cast("long").as("n_chars"),
        graft.functions.DetHash.mdBucket(col("doc_id"), "arrival:", 100).as("b"))
    val refShares = E2.driftShares(all.filter(col("b") < 50), col("n_chars"))
    val arrivals = all.filter(col("b") >= 50).orderBy("doc_id")
      .select(col("doc_id"), col("n_chars")).as[(Long, Long)].collect()
    val (b1, b2) = arrivals.splitAt(arrivals.length / 2)
    withTempDir("driftmon") { tmp =>
      val dir = tmp.toString
      val stream = MemoryStream[(Long, Long)]
      val q = StreamingOps.driftMonitor(
        stream.toDF().toDF("doc_id", "n_chars"), refShares, s"$dir/out")
        .option("checkpointLocation", s"$dir/ckpt").start()
      try {
        stream.addData(b1.toSeq); q.processAllAvailable()
        stream.addData(b2.toSeq); q.processAllAvailable()
      } finally q.stop()
      val got = spark.read.parquet(s"$dir/out")
      assert(got.select("batch_id").distinct().count() == 2, "one report per micro-batch")
      for ((slice, id) <- Seq((b1, 0L), (b2, 1L))) {
        val want = E2.psiReport(refShares,
            E2.driftShares(slice.toSeq.toDF("doc_id", "n_chars"), col("n_chars")))
          .collect().map(_.toSeq).toSet
        val gotB = got.filter(col("batch_id") === id).drop("batch_id")
          .collect().map(_.toSeq).toSet
        assert(gotB == want, s"batch $id report diverged from the batch twin")
      }
      // non-vacuity: the total rows carry a real PSI value
      assert(got.filter(col("bin") === -1 && col("psi") =!= 0.0).count() == 2)
    }
  }

  test("stream-static incremental dedup matches p07's 'new' disposition set") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val all = graft.Tables.documents(spark, sf)
      .select(col("doc_id"), col("source"), col("text"),
        graft.functions.DetHash.mdBucket(col("doc_id"), "arrival:", 100).as("b"))
    val corpusIdx = all.filter(col("b") < 70)
      .select(md5(col("text")).as("fp")).distinct()
    val deltaDocs = all.filter(col("b") >= 70).orderBy("doc_id")
      .select(col("doc_id"), col("source"), col("text")).as[Doc].collect()
    val stream = MemoryStream[Doc]
    val q = StreamingOps.incrementalDedup(stream.toDF(), corpusIdx).writeStream
      .format("memory").queryName("incdedup_out").outputMode("append").start()
    val (b1, b2) = deltaDocs.splitAt(deltaDocs.length / 2)
    try {
      stream.addData(b1.toSeq); q.processAllAvailable()
      stream.addData(b2.toSeq); q.processAllAvailable()
      // replay batch 1 entirely: cross-batch fp state must drop every doc
      stream.addData(b1.toSeq); q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("incdedup_out").select("fp").collect().map(_.getString(0))
    // keeper identity within a micro-batch is arbitrary; the FP SET and
    // one-survivor-per-fp are the deterministic contract
    assert(got.length == got.distinct.length, "a fingerprint survived twice")
    val want = graft.SparkEntry.queries("p07_incremental_dedup")(spark, sf)
      .filter(col("disposition") === "new").select("fp").collect().map(_.getString(0)).toSet
    assert(got.toSet == want && got.nonEmpty)
  }

  test("foreachBatch merge sink: upserts accumulate; batch replay is idempotent") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    withTempDir("merge_sink") { tmp =>
      val dir = tmp.toString
      case class Upd(k: Long, v: String)
      val stream = MemoryStream[(Long, String)]
      val q = StreamingOps.mergeSink(
          stream.toDF().toDF("k", "v"), dir, "k")
        .option("checkpointLocation", s"$dir/ckpt").start()
      try {
        stream.addData(Seq(1L -> "a", 2L -> "b")); q.processAllAvailable()
        stream.addData(Seq(2L -> "B2", 3L -> "c")); q.processAllAvailable()
      } finally q.stop()
      def state = StreamingOps.readMerged(spark, dir)
        .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      assert(state == Map(1L -> "a", 2L -> "B2", 3L -> "c"))
      // replay the LAST batch (the failure-recovery path): same content
      val replay = Seq(2L -> "B2", 3L -> "c").toDF("k", "v")
      StreamingOps.mergeBatch(replay, dir, "k", batchId = 1L)
      assert(state == Map(1L -> "a", 2L -> "B2", 3L -> "c"))
    }
  }

  test("misra-gries sketches merge across micro-batches with bounds intact") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    // the mergeable-summaries property composes over TIME exactly as it
    // does over partitions: fold each micro-batch's distributed sketch
    // into a running summary via foreachBatch, and the classic bounds
    // still hold against the exact counts of everything streamed so far
    val k = 64
    val mg = new graft.functions.MisraGries(k)
    var running: Map[String, Long] = Map.empty
    var streamed = List.empty[String]
    val stream = MemoryStream[String]
    val q = stream.toDF().toDF("token").writeStream.foreachBatch {
      (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        val batchSketch = batch
          .agg(graft.functions.MisraGries.sketch(k)(col("token")))
          .head.getMap[String, Long](0).toMap
        running = mg.merge(running, batchSketch)
    }.start()
    val docs = graft.Tables.documents(spark, sf).select("text").as[String].collect()
    try docs.grouped(60).foreach { g =>
      val toks = g.flatMap(_.split(" ")).toSeq
      streamed ++= toks
      stream.addData(toks); q.processAllAvailable()
      val exact = streamed.groupBy(identity).view.mapValues(_.size.toLong).toMap
      val slack = streamed.size.toLong / (k + 1)
      assert(running.size <= k)
      running.foreach { case (t, est) =>
        assert(est <= exact(t) && est >= exact(t) - slack, s"$t after ${streamed.size}")
      }
      exact.foreach { case (t, c) =>
        assert(c <= slack || running.contains(t), s"heavy $t missing after ${streamed.size}")
      }
    } finally q.stop()
    assert(running.nonEmpty)
  }

  test("streaming ingest e2e: partitioned exactly-once file sink round-trips") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    withTempDir("ingest_sink") { tmp =>
      val dir = tmp.toString
      val stream = MemoryStream[Doc]
      val q = StreamingOps.ingestDocs(stream.toDF()).writeStream
        .format("parquet").option("path", s"$dir/data")
        .option("checkpointLocation", s"$dir/ckpt")
        .partitionBy("split").outputMode("append").start()
      val docs = (1L to 40L).map(i => Doc(i, "srcA", s"word$i alpha beta gamma plus tail $i"))
      stream.addData(docs.take(20)); q.processAllAvailable()
      stream.addData(docs.drop(20)); q.processAllAvailable()
      q.stop()
      val back = spark.read.parquet(s"$dir/data")
      assert(back.count() == 40)
      // partition column survives and matches the deterministic assignment
      val got = back.select("doc_id", "split").collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      val want = StreamingOps.ingestDocs(docs.toDF()).select("doc_id", "split")
        .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      assert(got == want)
    }
  }

  test("streaming batch packer: open batches carry across micro-batches; equals p18") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val P = graft.queries.PipelineQueries
    val arrivals = graft.Tables.documents(spark, sf)
      .select(col("doc_id"), size(split(col("text"), " ")).cast("long").as("n_tok"))
      .withColumn("bucket", (col("n_tok") / P.BatchBucketWidth).cast("long"))
      .orderBy("doc_id")
      .select("bucket", "doc_id", "n_tok")
      .as[StreamingOps.PackIn].collect()
    // three in-order micro-batches with cuts NOT on batch boundaries —
    // some batch must straddle a micro-batch edge for the state carry
    // to be exercised
    val thirds = arrivals.grouped(math.max(1, arrivals.length / 3 + 1)).toSeq
    val stream = MemoryStream[StreamingOps.PackIn]
    val q = StreamingOps.packStream(stream.toDS(),
        P.BatchMaxDocs, P.BatchMaxTokens.toLong).writeStream
      .format("memory").queryName("pack_out").outputMode("append").start()
    try {
      thirds.foreach { t => stream.addData(t.toSeq); q.processAllAvailable() }
    } finally q.stop()
    val gotSummary = spark.table("pack_out")
      .groupBy("bucket", "batch_no")
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("n_tokens"),
        min(col("doc_id")).as("first_doc"), max(col("doc_id")).as("last_doc"))
      .collect().map(_.toSeq).toSet
    val want = graft.SparkEntry.queries("p18_inference_batches")(spark, sf)
      .collect().map(_.toSeq).toSet
    assert(want.nonEmpty && gotSummary == want,
      s"stream/batch diverged: extra=${gotSummary -- want} missing=${want -- gotSummary}")
    // the carry must actually be exercised: at least one batch's docs
    // span two micro-batches
    val sliceOf = thirds.zipWithIndex
      .flatMap { case (t, i) => t.map(_.doc_id -> i) }.toMap
    val straddles = spark.table("pack_out").collect()
      .map(r => (r.getLong(0), r.getLong(3), sliceOf(r.getLong(1))))
      .groupBy(t => (t._1, t._2)).values
      .exists(g => g.map(_._3).distinct.size >= 2)
    assert(straddles, "no batch straddled a micro-batch edge — carry untested")
  }

  test("streaming bootstrap: wave-split state equals the batch coin chain; CI matches r123") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val events = graft.Tables.events(spark, sf)
      .select(col("event_id"), col("event_type"),
        (col("value").cast("decimal(18,2)") * 100).cast("long").as("cents"))
      .as[StreamingOps.BootEvent].collect()
    val B = graft.queries.ExtraQueries26.BootB
    // three arbitrary waves — NO ordering contract: Poisson-weight sums
    // commute, so any partition of the input must reach the same state
    val waves = Seq(
      events.filter(_.event_id % 3 == 1),
      events.filter(_.event_id % 3 == 2),
      events.filter(_.event_id % 3 == 0))
    val stream = MemoryStream[StreamingOps.BootEvent]
    val q = StreamingOps.bootstrapStream(stream.toDS(), B).writeStream
      .format("memory").queryName("boot_out").outputMode("update").start()
    try {
      waves.foreach { wv => stream.addData(wv.toSeq); q.processAllAvailable() }
    } finally q.stop()
    // latest row per (type, b) — the upsert contract (max seq wins)
    val finals = spark.table("boot_out").collect()
      .map(r => ((r.getString(0), r.getInt(1)), (r.getLong(2), r.getLong(3), r.getLong(4))))
      .groupBy(_._1).map { case (k, rows) => k -> rows.map(_._2).maxBy(_._1) }
    // driver replay of the batch coin chain (the r123 discipline)
    val md5 = (x: String) => java.security.MessageDigest.getInstance("MD5")
      .digest(x.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val perHash = graft.queries.ExtraQueries26.BootRepsPerHash
    val want = events.flatMap { e =>
      (0 until B).map { b =>
        val hex = md5(s"boot:${b / perHash}:${e.event_id}")
        val u = java.lang.Long.parseLong(
          hex.substring((b % perHash) * 4, (b % perHash) * 4 + 4), 16)
        val w = graft.queries.ExtraQueries26.PoisThresholds.count(u >= _).toLong
        ((e.event_type, b), (w * e.cents, w))
      }
    }.groupBy(_._1).map { case (k, rows) =>
      k -> (rows.map(_._2._1).sum, rows.map(_._2._2).sum)
    }
    assert(finals.keySet == want.keySet)
    finals.foreach { case (k, (_, ws, wn)) =>
      assert((ws, wn) == want(k), s"$k accumulator diverges from the batch coin chain")
    }
    // serve-time close: rank the B means per type, take the 5/95 order
    // statistics — must equal the oracled r123 CI exactly
    val ci = finals.toSeq.map { case ((tpe, b), (_, ws, wn)) =>
      (tpe, ws.toDouble / 100.0 / wn.toDouble, b)
    }.groupBy(_._1).map { case (tpe, ms) =>
      val sorted = ms.map(m => (m._2, m._3)).sorted
      val lo = sorted(math.ceil(0.05 * B).toInt - 1)._1
      val hi = sorted(math.ceil(0.95 * B).toInt - 1)._1
      tpe -> (math.rint(lo * 1e4) / 1e4, math.rint(hi * 1e4) / 1e4)
    }
    val batch = graft.SparkEntry.queries("r123_poisson_bootstrap")(spark, sf).collect()
      .map(r => r.getString(0) -> (r.getDouble(3), r.getDouble(4))).toMap
    assert(ci == batch, "serve-time CI from streaming state diverges from the oracled r123")
  }
}
