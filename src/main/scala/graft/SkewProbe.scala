package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Empirical skew probe for the dedup path (round-3 verdict item 8):
  * the prefix-filter (d03/d08) and bucket-cap (d04/d05) skew claims are
  * proven on a corpus the fixtures cannot represent — ~10× sf0.1's
  * document count with a HOT boilerplate sentence shared by 30% of
  * documents (df ≈ 0.3·N). On that corpus the naive shared-shingle join
  * would emit Σ c² ≈ 8·(0.3·N)² candidate rows through whichever
  * reducer owns each hot shingle (at N=50k: ~1.8e9 rows — the job
  * shape that dies at 100 TB); the prefix-filtered plan must exclude
  * the hot shingles from every document's rarest-first prefix and
  * finish with NO skewed stage.
  *
  * The probe runs d03 / d04 / d08 on the synthetic corpus under a
  * listener that records per-task shuffle-read records per stage and
  * FAILS if any large stage (≥8 tasks, ≥100k records) has one task
  * reading more than 50% of the stage's records — the signature of a
  * hot-key single-reducer stage. Wall times and the worst per-stage
  * skew share are printed for the scale-design notes.
  *
  * Usage: graft.SkewProbe [nDocs] (default 50000)
  *        graft.SkewProbe pipeline [nDocs] — the p06 capstone (dedup →
  *        quality → decontaminate → split → mixture → shard as ONE
  *        plan) on a 10× multi-source corpus where the hot boilerplate
  *        sits on BOTH sides of the contamination join; prints every
  *        stage's shuffle records/bytes for the scale notes and applies
  *        the same single-reducer failure rule.
  *        graft.SkewProbe naive [nDocs] — negative control: run the
  *        NAIVE shared-shingle join on the same skewed corpus and
  *        require the listener to DETECT the hot-key stage (proves the
  *        detector isn't vacuous; run at a smaller n — the naive plan
  *        is quadratic in the hot df).
  */
object SkewProbe {

  /** Deterministic skewed corpus:
    *  - every doc: 60 globally-unique filler tokens (w<fam*61+i>) plus
    *    a per-doc mutation token, so baseline shingles have df=1;
    *  - ids ≡ 0 (mod 50): filler copied from doc id−1 → a true near-dup
    *    pair (Jaccard ≈ 0.8 after the mutation token) every 50 docs;
    *  - ids ≡ 0,1,2 (mod 10): a shared 12-token boilerplate sentence →
    *    8 shingles with document frequency 0.3·N (the hot keys). */
  def corpus(spark: SparkSession, n: Long): org.apache.spark.sql.DataFrame =
    corpus(spark, n, multiSource = false)

  def corpus(spark: SparkSession, n: Long, multiSource: Boolean): org.apache.spark.sql.DataFrame = {
    // exactly 5 tokens -> exactly ONE hot 5-gram shingle, so the whole
    // Σc² blowup lands on a single join key (the worst case for a
    // shuffle join; 8+ hot shingles would spread it over 8 reducers and
    // soften the single-reducer signature this probe exists to catch)
    val boiler = "the quick brown fox jumps"
    spark.range(1, n + 1).select(col("id").as("doc_id"))
      .withColumn("fam",
        when(pmod(col("doc_id"), lit(50)) === 0, col("doc_id") - 1).otherwise(col("doc_id")))
      .withColumn("filler",
        array_join(transform(sequence(lit(1), lit(60)),
          i => concat(lit("w"), (col("fam") * 61 + i).cast("string"))), " "))
      .withColumn("text", concat(
        col("filler"),
        lit(" m"), col("doc_id").cast("string"),
        when(pmod(col("doc_id"), lit(10)) < 3, lit(" " + boiler)).otherwise(lit(""))))
      .withColumn("lang", lit("en"))
      // pipeline (p06 capstone) mode needs the fixture's src0..src4
      // source mix — src0 is the benchmark slice d07/p06 decontaminate
      // against, so 20% of the hot-boilerplate docs must land on EACH
      // side of the contamination join (the harshest shape for it).
      // source must NOT be pmod(doc_id, 5): hotness is pmod(doc_id, 10)
      // < 3 and mod 10 determines mod 5, so that assignment puts hot
      // docs ONLY in src0..src2 (r5 advice). With doc_id = 10q + r the
      // assignment below reduces to (q + r) mod 5 with q uniform, so
      // hot docs (r ∈ {0,1,2}) spread uniformly over all 5 sources.
      .withColumn("source",
        if (multiSource)
          concat(lit("src"),
            pmod(floor(col("doc_id") / 10) + col("doc_id"), lit(5)).cast("long").cast("string"))
        else lit("probe"))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .select("doc_id", "text", "lang", "source", "n_chars")
  }

  /** Deterministic skewed EMBEDDING corpus (the ANN-family analogue of
    * the hot shingle): ids ≡ 0,1,2 (mod 10) form a tight blob around a
    * common base vector (30% of the corpus lands in ONE IVF cell — the
    * hot-cell shape where an unsalted within-cell pair join funnels
    * c² ≈ (0.3·N)² rows through the reducer owning that cell); the
    * rest spread deterministically across the unit cube. Same schema
    * as the fixture (vec_id, embedding float[64], label). */
  def annCorpus(spark: SparkSession, n: Long): org.apache.spark.sql.DataFrame = {
    spark.range(1, n + 1).select(col("id").as("vec_id"))
      // ids 1..8 are the IVF seeds — keeping them OUT of the blob means
      // every blob vector's nearest seed is the same spread seed, so
      // the whole 0.3·N blob lands in ONE cell (the harshest shape);
      // blob members among the seeds would split it across their own
      // near-identical cells and dilute the very skew being probed
      .withColumn("hot", pmod(col("vec_id"), lit(10)) < 3 && col("vec_id") > 8)
      .withColumn("embedding", transform(sequence(lit(0), lit(63)), j =>
        when(col("hot"),
          lit(1.0f) + (pmod(col("vec_id") * 31 + j, lit(97)).cast("float") * lit(1e-4f)))
          .otherwise(
            (pmod(col("vec_id") * 131 + j * 17, lit(2000)).cast("float") - lit(1000.0f)) / lit(1000.0f))
          .cast("float")))
      .withColumn("label", pmod(col("vec_id"), lit(5)).cast("int"))
      .select("vec_id", "embedding", "label")
  }

  /** stageId -> per-task (shuffleRead + shuffleWrite records, bytes,
    * runtime). Both directions matter: a hot-key JOIN stage reads few
    * records per key but EMITS the quadratic pair blowup — it shows up
    * in shuffle WRITE records (and task time), not reads. Bytes feed
    * the capstone's per-stage shuffle-volume report. */
  private final class SkewListener extends SparkListener {
    val stages =
      new java.util.concurrent.ConcurrentHashMap[Int, java.util.Vector[(Long, Long, Long)]]()
    /** stageId -> (wall seconds, first line of stage name) for the
      * capstone report: a wall/task-time gap exposes stages that are
      * blocked (broadcast waits, driver planning), which per-task
      * executorRunTime cannot see. */
    val walls = new java.util.concurrent.ConcurrentHashMap[Int, (Double, String)]()
    override def onStageCompleted(
        sc: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
      val si = sc.stageInfo
      val wall = (for {t0 <- si.submissionTime; t1 <- si.completionTime}
        yield (t1 - t0) / 1000.0).getOrElse(0.0)
      walls.put(si.stageId, (wall, si.name.takeWhile(_ != '\n').take(60)))
    }
    override def onTaskEnd(te: SparkListenerTaskEnd): Unit = {
      val m = te.taskMetrics
      if (m != null) {
        val recs = m.shuffleReadMetrics.recordsRead + m.shuffleWriteMetrics.recordsWritten
        val bytes = m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten
        stages.computeIfAbsent(te.stageId, _ => new java.util.Vector[(Long, Long, Long)]())
          .add((recs, bytes, m.executorRunTime))
      }
    }
  }

  /** Negative control for the ANN family: s10's IVF cell assignment
    * (8 lowest-id seeds) but SINGLE-probe and an UNSALTED within-cell
    * pair join — the canonical IVF blocking whose hot cell funnels c²
    * pair rows through the one reducer owning it. The pair relation
    * crosses a shuffle (distinct) exactly as s10's does, so the blowup
    * is visible to the listener as shuffle-write concentration in the
    * hot cell's join task. */
  private def annNaivePairs(spark: SparkSession, d: String): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val e = Tables.embeddings(spark, d)
    val seeded = e.orderBy("vec_id").limit(8)
      .select(col("vec_id").as("seed_id"), col("embedding").as("sv"))
    val scored = e.crossJoin(broadcast(seeded))
      .withColumn("csim", round(functions.VectorOps.cosine(col("embedding"), col("sv")), 4))
    val wv = Window.partitionBy(col("vec_id")).orderBy(desc("csim"), col("seed_id"))
    val a = scored.withColumn("ark", row_number().over(wv)).filter(col("ark") <= 1)
      .select(col("vec_id").as("a_id"), col("seed_id").as("cell"))
    val b = scored.withColumn("ark", row_number().over(wv)).filter(col("ark") <= 1)
      .select(col("vec_id").as("b_id"), col("seed_id").as("cell"))
    a.join(b, Seq("cell")).filter(col("a_id") < col("b_id"))
      .select("a_id", "b_id").distinct()
  }

  def main(args: Array[String]): Unit = {
    val naiveControl = args.headOption.contains("naive")
    val annMode = args.headOption.exists(_.startsWith("ann"))
    val annControl = args.headOption.contains("ann_naive")
    val pipelineMode = args.headOption.contains("pipeline")
    val rest = if (naiveControl || annMode || pipelineMode) args.drop(1) else args
    val n = rest.headOption.map(_.toLong).getOrElse(
      if (naiveControl) 5000L
      else if (annControl) 8000L
      else if (annMode) 20000L
      else if (pipelineMode) 20000L
      else 50000L)
    val spark = GraftSession.start()
    if (naiveControl || annControl)
      // the control must reproduce the AT-SCALE plan shape: a corpus
      // whose shingle relation cannot broadcast, so the shared-shingle
      // join shuffles by shingle and the hot key owns one reducer. At
      // toy size AQE broadcast-joins it and hides exactly that shape.
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    if (annControl)
      // same at-scale-shape rationale: AQE coalesces the toy-size cell
      // shuffle below the detector's 8-task floor (at real scale the
      // cell partitions stay wide); keep the partitions so the hot
      // cell's reducer is an observable task
      spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    val dir = java.nio.file.Files.createTempDirectory("skewprobe").toString
    if (annMode) {
      annCorpus(spark, n).write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
      println(s"[probe] embeddings: $n vectors at $dir (hot-cell size ≈ ${(0.3 * n).toLong})")
    } else if (pipelineMode) {
      corpus(spark, n, multiSource = true).write.mode("overwrite").parquet(s"$dir/documents.parquet")
      println(s"[probe] corpus: $n docs / 5 sources at $dir (hot-shingle df ≈ ${(0.3 * n).toLong}, " +
        s"src0 benchmark slice ≈ ${(0.2 * n).toLong})")
    } else {
      corpus(spark, n).write.mode("overwrite").parquet(s"$dir/documents.parquet")
      println(s"[probe] corpus: $n docs at $dir (hot-shingle df ≈ ${(0.3 * n).toLong})")
    }

    val listener = new SkewListener
    spark.sparkContext.addSparkListener(listener)
    var failed = false
    val runs: Seq[(String, () => Long)] =
      if (naiveControl)
        Seq("d03_NAIVE_control" -> (() => queries.DedupQueries.jaccardPairsNaive(spark, dir).count()))
      else if (annControl)
        Seq("ann_UNSALTED_control" -> (() => annNaivePairs(spark, dir).count()))
      else if (annMode) Seq(
        "s10_knn_graph" -> (() => SparkEntry.queries("s10_knn_graph")(spark, dir).count()),
        "d09_embedding_ivf_neardup" -> (() => SparkEntry.queries("d09_embedding_ivf_neardup")(spark, dir).count()),
        "s12_pagerank" -> (() => SparkEntry.queries("s12_pagerank")(spark, dir).count()))
      else if (pipelineMode) Seq(
        // the ONE composed plan a 100 TB user actually ships: dedup →
        // quality → decontaminate → split → mixture → shard, end to end
        "p06_assemble_training_set" -> (() => SparkEntry.queries("p06_assemble_training_set")(spark, dir).count()))
      else Seq(
        "d03_ngram_jaccard" -> (() => SparkEntry.queries("d03_ngram_jaccard")(spark, dir).count()),
        "d04_minhash_lsh" -> (() => SparkEntry.queries("d04_minhash_lsh")(spark, dir).count()),
        "d08_dedup_clusters" -> (() => SparkEntry.queries("d08_dedup_clusters")(spark, dir).count()),
        // d13's candidate join is prefix(small) × FULL other side: the
        // hot shingle IS present on the full side, so the probe checks
        // that near-zero prefix occurrences keep the join product flat
        "d13_containment_dedup" -> (() => SparkEntry.queries("d13_containment_dedup")(spark, dir).count()))
    runs.foreach { case (q, run) =>
      listener.stages.clear()
      val t0 = System.nanoTime()
      val rows = run()
      val dt = (System.nanoTime() - t0) / 1e9
      spark.catalog.clearCache()
      // skew audit: share of the stage's shuffle records (read+write)
      // in its single heaviest task — a hot-key stage shows up as ~1.0
      import scala.jdk.CollectionConverters._
      if (pipelineMode) {
        // capstone shuffle-volume report: every stage that shuffled at
        // all, ordered by volume — the per-stage evidence for the scale
        // notes (which stage dominates, and that none is one-reducer)
        listener.stages.asScala.toSeq
          .map { case (sid, v) =>
            val xs = v.asScala.toSeq
            (sid, xs.size, xs.map(_._1).sum, xs.map(_._2).sum,
              if (xs.map(_._1).sum == 0) 0.0 else xs.map(_._1).max.toDouble / xs.map(_._1).sum,
              xs.map(_._3).sum / 1000.0)
          }
          .filter(t => t._3 > 0 || t._6 > 1.0).sortBy(-_._6)
          .foreach { case (sid, k, recs, bytes, share, cpuS) =>
            val (wall, sname) = Option(listener.walls.get(sid)).getOrElse((0.0, "?"))
            println(f"[probe] $q stage $sid: $recs%d shuffle recs, ${bytes / 1048576.0}%.1f MiB, " +
              f"$k%d tasks, worst-task share ${share * 100}%.1f%%, $cpuS%.1f task-s, " +
              f"$wall%.1f s wall [$sname]")
          }
      }
      val audits = listener.stages.asScala.toSeq.flatMap { case (sid, v) =>
        val xs = v.asScala.toSeq
        val total = xs.map(_._1).sum
        val time = xs.map(_._3).sum
        if (xs.size >= 8 && total >= 100000L)
          Some((sid, xs.size, total, xs.map(_._1).max.toDouble / total,
            if (time == 0) 0.0 else xs.map(_._3).max.toDouble / time))
        else None
      }
      val worst = audits.sortBy(-_._4).headOption
      audits.filter(_._4 > 0.5).foreach { case (sid, k, total, share, tshare) =>
        println(f"[probe] SKEW $q stage $sid: ${share * 100}%.1f%% of $total%d shuffle records " +
          f"(${tshare * 100}%.1f%% of run time) in 1 of $k%d tasks")
        failed = true
      }
      val worstStr = worst.map { case (sid, k, total, share, tshare) =>
        f"worst stage $sid: ${share * 100}%.1f%% of $total%d recs, ${tshare * 100}%.1f%% of time, in 1/$k%d tasks"
      }.getOrElse("no large shuffle stage")
      println(f"[probe] $q: $rows%d rows in $dt%.1f s; $worstStr")
    }
    if (naiveControl || annControl) {
      // the control must TRIP the detector — a clean run here means the
      // listener is blind, not that the naive plan is fine
      if (!failed) { System.err.println("[probe] NEGATIVE CONTROL DID NOT TRIP"); sys.exit(1) }
      println("[probe] CONTROL PASS: naive hot-key stage detected as skewed")
    } else {
      if (failed) { System.err.println("[probe] SKEWED STAGE DETECTED"); sys.exit(1) }
      println("[probe] PASS: no stage put >50% of its shuffle records in one task")
    }
    spark.stop()
  }
}
