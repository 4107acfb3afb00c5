package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Bench harness for the incremental state kernels (r10 verdict item 6).
  *
  * All 17 StreamingOps operators are spec-pinned for correctness, but
  * until round 11 none had a bench line — a regression in per-wave cost
  * or state size would have shipped silently. graft.Bench now drives
  * each foreachBatch kernel through a FIXED deterministic workload (the
  * events fixture split into 4 arrival waves by calendar week) into a
  * fresh state dir and times waves + the published report as one
  * `stream:<kernel>` line, regression-gated like any query. State-store
  * size lands in bench_queries.json as `stream_state_bytes` (visibility;
  * the seconds line is what gates).
  *
  * Wave split is BY EVENT TIME (week of the 30-day fixture window), not
  * row ranges: kernels merge at the (type, day)/(user, day) grain, so
  * calendar waves exercise the real merge pattern — mostly-new keys per
  * wave plus boundary overlap — rather than a uniform resharding of
  * every key into every wave.
  */
object StreamBench {
  /** (name, step, report) for every versioned-state kernel. */
  val kernels: Seq[(String,
      (DataFrame, String, Long) => Unit,
      (SparkSession, String) => DataFrame)] =
    StreamingOps.StateKernels.map(k => (k.name, k.step _, k.report _)) :+
      (("watermark", StreamingOps.watermarkStep _, StreamingOps.watermarkReport _))

  val Waves = 4

  /** [[drive]] into a fresh temp state dir `stream_bench_<name>*`, which
    * is left behind for the caller to read the report from and delete. */
  def driveOne(spark: SparkSession, sfDir: String, name: String): Long =
    drive(spark, sfDir, name,
      java.nio.file.Files.createTempDirectory(s"stream_bench_$name").toString)

  /** Drive the full wave workload + report for one kernel into the empty
    * state dir `dir`; returns the final on-disk state size in bytes.
    * The caller times this call (graft.Bench's timeOne protocol).
    *
    * Wave assignment is per kernel-contract:
    *  - events kernels (decayed/cusum/adoption/growth/wau): calendar
    *    weeks of the 30-day fixture window — the real mostly-new-keys
    *    merge pattern;
    *  - orders kernels (runs/acf — their state is the daily-revenue
    *    series of the ORDERS stream): additive at the (grp, day) grain,
    *    so any deterministic partition is contract-valid; waves are
    *    o_orderkey mod 4;
    *  - watermark: order-sensitive BY DEFINITION — waves must partition
    *    the derived arrival_seq into contiguous ranges (the log-offset
    *    contract watermarkStep enforces loudly). */
  def drive(spark: SparkSession, sfDir: String, name: String, dir: String): Long = {
    val (_, step, report) = kernels.find(_._1 == name)
      .getOrElse(throw new IllegalArgumentException(s"unknown stream kernel $name"))
    var cached: Option[DataFrame] = None // released after the waves drain
    try {
      val waves: Seq[DataFrame] = name match {
        case "runs" | "acf" =>
          val orders = graft.Tables.orders(spark, sfDir)
          (0 until Waves).map(w => orders.filter(pmod(col("o_orderkey"), lit(Waves)) === w))
        case "watermark" =>
          val ev = graft.Tables.events(spark, sfDir)
          // Cache the derived arrival relation for the wave build: the
          // md5 jitter pass over every event otherwise re-runs 5× (the
          // bounds agg + one full re-derivation per wave filter) — wave
          // CONTENT is unchanged, the line just stops re-billing fixture
          // derivation 4 extra times per rep. Recomputed fresh inside
          // every timed invocation (no cross-run reuse); the finally
          // below releases it.
          val arr = graft.queries.ExtraQueries10.wmArrivals(ev)
            .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
          cached = Some(arr)
          // 1-row driver protocol: longs only (java.sql.Date decoding
          // would need --add-opens sun.util.calendar, absent in the
          // raw-java Bench JVM)
          val b = arr.agg(min(col("arrival_seq")).cast("long"),
            max(col("arrival_seq")).cast("long")).collect()(0)
          val (lo, hi) = (b.getLong(0), b.getLong(1))
          val span = (hi - lo) / Waves + 1
          (0 until Waves).map { w =>
            arr.filter(col("arrival_seq") >= lo + w * span &&
              col("arrival_seq") < lo + (w + 1) * span)
              .drop("arrival_seq")
          }
        case _ =>
          val ev = graft.Tables.events(spark, sfDir)
          val d0 = ev.agg(min(to_date(col("ts"))).cast("string")).collect()(0).getString(0)
          val week = floor(datediff(to_date(col("ts")), to_date(lit(d0))) / 8)
          (0 until Waves).map(w => ev.filter(week === w))
      }
      waves.zipWithIndex.foreach { case (batch, w) => step(batch, dir, w.toLong) }
      // Release the wave-prep cache here, also when a wave fails, rather
      // than relying on the caller's clearCache() — other entry points
      // don't clear caches.
    } finally cached.foreach(_.unpersist(blocking = false))
    report(spark, dir).write.format("noop").mode("overwrite").save()
    stateBytes(dir)
  }

  private def stateBytes(dir: String): Long = {
    import scala.jdk.CollectionConverters._
    java.nio.file.Files.walk(java.nio.file.Paths.get(dir)).iterator().asScala
      .filter(java.nio.file.Files.isRegularFile(_))
      .map(java.nio.file.Files.size(_)).sum
  }
}
