package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestSession
import graft.SparkTestSession.withTempDir

/** The streaming bench harness (r10 verdict item 6): every versioned-
  * state kernel gets a `stream:<kernel>` line in graft.Bench, driven by
  * this harness. These laws keep the harness honest — the lines must
  * cover every kernel, the wave workload must partition its input, and
  * a drive must land real state on disk and a publishable report.
  */
class StreamBenchSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val sf = "/root/testdata/sf0.001"

  test("the bench kernel registry covers every versioned-state kernel") {
    // the state-format contract suite drives the same list — the bench
    // must not silently skip one
    val stateKernels = StreamingOps.StateKernels.map(_.name).toSet + "watermark"
    val benched = StreamBench.kernels.map(_._1).toSet
    assert(benched == Set("decayed", "cusum", "runs", "adoption", "acf",
      "growth", "wau", "watermark"))
    assert(benched == stateKernels,
      "every kernel with a _state_format contract needs a stream: bench line")
  }

  test("calendar waves partition the events fixture") {
    val ev = graft.Tables.events(spark, sf)
    val d0 = ev.agg(min(to_date(col("ts"))).cast("string")).collect()(0).getString(0)
    val week = floor(datediff(to_date(col("ts")), to_date(lit(d0))) / 8)
    val waveTotal = (0 until StreamBench.Waves)
      .map(w => ev.filter(week === w).count()).sum
    assert(waveTotal == ev.count(), "waves must partition the fixture (30 days / 8-day weeks)")
  }

  test("a drive lands versioned state on disk and a non-empty report (incl. the order-sensitive kernel)") {
    Seq("cusum", "watermark").foreach { k =>
      withTempDir(s"stream_bench_$k") { dir =>
        val bytes = StreamBench.drive(spark, sf, k, dir.toString)
        assert(bytes > 0, s"$k: state bytes")
      }
    }
  }

  test("a drive that fails after its wave-prep persist still releases the cache") {
    withTempDir("stream_bench_empty") { dir =>
      val state = Files.createDirectory(dir.resolve("state"))
      graft.Tables.events(spark, sf).limit(0).write.parquet(s"$dir/events.parquet")
      val before = spark.sparkContext.getPersistentRDDs.size
      // no events, no arrival bounds: the watermark wave prep fails after the persist
      intercept[Exception](StreamBench.drive(spark, dir.toString, "watermark", state.toString))
      assert(spark.sparkContext.getPersistentRDDs.size == before)
    }
  }
}
