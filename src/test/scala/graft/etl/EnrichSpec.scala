package graft.etl

import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestSession

/** Gate composition semantics (etl.py:355-378): slice FIRST, then
  * tuning-set filter; bypassed rows N/A; processed-first output order. */
class EnrichSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private def flat = Flatten(StudiesSource.readStudies(spark, "fixtures/studies.json"))

  private val tuning = Seq("NCT00000001", "NCT00000003", "NCT00000006", "NCT00000007", "NCT00000011")

  test("slice-then-filter: in-set row beyond maxRows is bypassed") {
    val out = Enrich.gated(flat, Enrich.GateConfig(Some(8L), Some(tuning))).collect()
    val byId = out.map(r => r.getAs[String]("nct_id") -> r).toMap
    // NCT00000011 is in the tuning set but is row 11 of the nct_id order → bypassed
    assert(byId("NCT00000011").getAs[Int]("processed") == 0)
    assert(byId("NCT00000011").getAs[String]("ai_determined_value") == "N/A")
    // NCT00000001 is in-set and within the slice → processed with a real label
    assert(byId("NCT00000001").getAs[Int]("processed") == 1)
    assert(byId("NCT00000001").getAs[String]("ai_determined_value") == "EXCLUDE_PREGNANCY")
  }

  test("processed ∪ bypassed == input, disjoint; processed rows come first") {
    val out = Enrich.gated(flat, Enrich.GateConfig(Some(8L), Some(tuning))).collect()
    assert(out.length == 14)
    val flags = out.map(_.getAs[Int]("processed")).toSeq
    assert(flags.sorted(Ordering[Int].reverse) == flags) // processed-first order
    assert(flags.count(_ == 1) == 4) // 5-member set minus NCT00000011 (out of slice)
  }

  test("no gates → everything processed (max_rows null, debug off)") {
    val out = Enrich.gated(flat, Enrich.GateConfig(None, None)).collect()
    assert(out.forall(_.getAs[Int]("processed") == 1))
    assert(out.forall(_.getAs[String]("ai_determined_value") != null))
  }

  test("mapPartitions seam agrees with vectorized classifier") {
    val viaMp = Enrich.mapPartitionsEnrich(flat, RuleRowClassifier, perPartitionQps = 1e9)
      .select("nct_id", "ai_determined_value").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    val viaCol = Enrich.enrichAll(flat)
      .select("nct_id", "ai_determined_value").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(viaMp == viaCol)
  }

  test("seam under SlowRowClassifier: token bucket paces, errors fill N/A") {
    // etl_enrich_seam's machinery, pinned here with the bucket provably
    // engaged: 14 rows in ONE partition at 20 qps/partition must take
    // >= 13 inter-call gaps of 50 ms (first call is not throttled).
    val one = flat.coalesce(1)
    val t0 = System.nanoTime()
    val rows = Enrich.mapPartitionsEnrich(one, new SlowRowClassifier(1000), perPartitionQps = 20.0)
      .select("nct_id", "ai_determined_value").collect()
    val elapsed = (System.nanoTime() - t0) / 1e9
    assert(rows.length == 14)
    assert(elapsed >= 13 * 0.05, f"token bucket not engaged: $elapsed%.3f s for 14 calls at 20 qps")
    // the criteria-less row (NCT00000009) must come back 'N/A' through
    // the seam's error fill, NOT crash the task (etl.py:400-407)
    val m = rows.map(r => r.getString(0) -> r.getString(1)).toMap
    assert(m("NCT00000009") == "N/A")
    // every other row agrees with the vectorized classifier
    val viaCol = Enrich.enrichAll(flat).select("nct_id", "ai_determined_value")
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert((m - "NCT00000009").forall { case (k, v) => viaCol(k) == v })
  }

  test("seam retry: exhaustion after exactly 1 + maxRetries attempts, then 'N/A'") {
    // production-shaped twin of etl.py:276-302's exception swallow (r8
    // verdict stretch 8): a permanently-failing transport is retried a
    // BOUNDED number of times, every attempt is a real paced call, and
    // exhaustion lands in the same 'N/A' fill — one poisoned row can
    // never wedge the partition.
    FlakyCounters.reset()
    val one = flat.coalesce(1)
    val rows = Enrich.mapPartitionsEnrich(one, new AlwaysFailClassifier,
        perPartitionQps = 1000.0, maxRetries = 2)
      .select("nct_id", "ai_determined_value").collect()
    assert(rows.length == 14)
    assert(rows.forall(_.getString(1) == "N/A"), "exhaustion must fill N/A")
    assert(FlakyCounters.calls.get == 14 * 3,
      s"expected 14 rows x (1 + 2 retries) attempts, got ${FlakyCounters.calls.get}")
  }

  test("seam retry: mid-partition recovery — transient rows heal, later rows unaffected") {
    // rows whose criteria hash is 'unlucky' fail on the first attempt
    // only (deterministic per row, transient per attempt): the retry
    // must recover the REAL label, and rows after a retried row must
    // still classify normally (the bucket state survives the retry loop).
    FlakyCounters.reset()
    val one = flat.coalesce(1)
    val rows = Enrich.mapPartitionsEnrich(one, new FirstAttemptFailsClassifier,
        perPartitionQps = 1000.0, maxRetries = 2)
      .select("nct_id", "ai_determined_value").collect()
    val m = rows.map(r => r.getString(0) -> r.getString(1)).toMap
    val viaCol = Enrich.enrichAll(flat).select("nct_id", "ai_determined_value")
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    // NCT00000009 has no criteria: the classifier throws on EVERY attempt
    // for it (content-deterministic), so it exhausts to N/A; everything
    // else must carry the recovered real label.
    assert(m("NCT00000009") == "N/A")
    assert((m - "NCT00000009").forall { case (k, v) => viaCol(k) == v },
      "retried rows must recover the true label")
    // every row paid exactly one extra attempt except the poisoned row,
    // which paid the full retry budget
    assert(FlakyCounters.calls.get == 13 * 2 + 3,
      s"expected 13 x 2 + 3 attempts, got ${FlakyCounters.calls.get}")
  }

  test("global rate budget: aggregate attempt pacing holds regardless of parallelism") {
    // O14 at cluster scale (r9 verdict item 7): the provider quota is
    // per API key, not per executor — with globalQps set, each of P
    // partitions paces at globalQps/P, so the AGGREGATE attempt rate is
    // bounded by the budget whatever the partitioning, and the wall
    // clock floor for N rows is ~N/globalQps invariant in P. Pinned at
    // P = 2 and P = 4 with the same 40 qps budget: each partition must
    // enforce (rows_in_partition - 1) gaps of P/Q seconds.
    val q = 40.0
    for (p <- Seq(2, 4)) {
      FlakyCounters.reset()
      val df = flat.repartition(p) // round-robin: 14 rows split evenly
      val t0 = System.nanoTime()
      val rows = Enrich.mapPartitionsEnrich(df, new CountingRuleClassifier,
        globalQps = Some(q)).select("nct_id", "ai_determined_value").collect()
      val elapsed = (System.nanoTime() - t0) / 1e9
      assert(rows.length == 14)
      assert(FlakyCounters.calls.get == 14, "one attempt per row expected")
      // pacing engaged: the fullest partition (ceil(14/p) rows) enforces
      // at least floor(14/p)-1 inter-call gaps of p/q seconds each
      val floorGaps = (14 / p - 1) * (p / q)
      assert(elapsed >= floorGaps,
        f"P=$p: elapsed $elapsed%.3f s < pacing floor $floorGaps%.3f s — budget not divided")
      // aggregate law: beyond the P unthrottled first calls, attempts
      // may not arrive faster than the global budget
      val steadyRate = (FlakyCounters.calls.get - p) / elapsed
      assert(steadyRate <= q * 1.05,
        f"P=$p: aggregate attempt rate $steadyRate%.1f qps exceeds the $q qps budget")
    }
  }
}

/** Counts attempts and answers with the real rule label — for pacing
  * tests where the labels still matter. */
private class CountingRuleClassifier extends RowClassifier {
  def classify(criteria: String): Option[String] = {
    FlakyCounters.calls.incrementAndGet()
    Some(RuleClassifier.classify(criteria))
  }
}

/** Attempt counters shared across executor threads (local mode = one
  * JVM, so a static AtomicInteger observes every serialized-closure
  * classifier instance). */
private object FlakyCounters {
  val calls = new java.util.concurrent.atomic.AtomicInteger(0)
  def reset(): Unit = calls.set(0)
}

/** Permanently-down transport: every attempt fails. */
private class AlwaysFailClassifier extends RowClassifier {
  def classify(criteria: String): Option[String] = {
    FlakyCounters.calls.incrementAndGet()
    throw new RuntimeException("remote classifier: permanently down")
  }
}

/** Transient-failure transport: the FIRST attempt for each row fails,
  * the retry succeeds (criteria-keyed, so it is deterministic per row
  * while still being attempt-transient). The 'N/A' sentinel row fails
  * every attempt, like [[SlowRowClassifier]]. */
private class FirstAttemptFailsClassifier extends RowClassifier {
  private val seen = new java.util.concurrent.ConcurrentHashMap[String, Boolean]()
  def classify(criteria: String): Option[String] = {
    FlakyCounters.calls.incrementAndGet()
    if (criteria == "N/A") throw new RuntimeException("remote classifier: empty criteria")
    if (seen.putIfAbsent(criteria, true) == null)
      throw new RuntimeException("remote classifier: transient 503")
    Some(RuleClassifier.classify(criteria))
  }
}
