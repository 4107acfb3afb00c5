package graft.queries

import java.util.concurrent.Executors

import scala.concurrent.duration.Duration
import scala.concurrent.{Await, ExecutionContext, Future}

import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestSession

/** The loop kernels (d08/m14 components, s12/t29 PageRank, s23 LPA,
  * s24 PPR) tune AQE + shuffle partitions for their iteration rounds.
  * Round 9 set/restored those on the CALLER's session — serial drivers
  * never noticed, but two registry queries running concurrently raced
  * (r9 verdict). Round 10 scopes the tuning to a LoopSession clone
  * (`spark.newSession()`: private SQLConf, shared cache/catalog).
  *
  * This spec is the prescribed witness: one loop query and one
  * window query run CONCURRENTLY on the same session, both must match
  * their serial results, and the caller's conf must be exactly what it
  * was — no transient flip is provable from outside, but a leaked
  * finally-restore or a mid-flight mutation of the shared session is.
  */
class LoopIsolationSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val sf = "/root/testdata/sf0.001"

  private def run(name: String) =
    graft.SparkEntry.queries(name)(spark, sf)

  test("a loop kernel and a window query run concurrently without conf cross-talk") {
    val aqeBefore = spark.conf.get("spark.sql.adaptive.enabled", "true")
    val partsBefore = spark.conf.get("spark.sql.shuffle.partitions")
    // serial references first (same session, no concurrency)
    val serialLoop = run("s12_pagerank").collect().map(_.toSeq).toSeq
    val serialWin = run("q10_window_running").collect().map(_.toSeq).toSeq

    val pool = Executors.newFixedThreadPool(2)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try {
      // several interleavings: the loop holds its clone conf for the
      // whole iteration, so any leak into the shared session would have
      // a wide window to perturb the window query's shuffle planning
      (1 to 3).foreach { _ =>
        val fLoop = Future(run("s12_pagerank").collect().map(_.toSeq).toSeq)
        val fWin = Future(run("q10_window_running").collect().map(_.toSeq).toSeq)
        val (gotLoop, gotWin) =
          (Await.result(fLoop, Duration.Inf), Await.result(fWin, Duration.Inf))
        assert(gotLoop == serialLoop, "concurrent PageRank diverged from the serial run")
        assert(gotWin == serialWin, "concurrent window query diverged from the serial run")
      }
    } finally pool.shutdown()

    assert(spark.conf.get("spark.sql.adaptive.enabled", "true") == aqeBefore,
      "loop kernel leaked spark.sql.adaptive.enabled into the caller's session")
    assert(spark.conf.get("spark.sql.shuffle.partitions") == partsBefore,
      "loop kernel leaked spark.sql.shuffle.partitions into the caller's session")
  }

  test("two loop kernels run concurrently — each on its own private-conf clone") {
    val serialA = run("s24_personalized_pr").collect().map(_.toSeq).toSeq
    val serialB = run("d08_dedup_clusters").collect().map(_.toSeq).toSeq
    val pool = Executors.newFixedThreadPool(2)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try {
      val fA = Future(run("s24_personalized_pr").collect().map(_.toSeq).toSeq)
      val fB = Future(run("d08_dedup_clusters").collect().map(_.toSeq).toSeq)
      assert(Await.result(fA, Duration.Inf) == serialA, "concurrent PPR diverged")
      assert(Await.result(fB, Duration.Inf) == serialB, "concurrent components diverged")
    } finally pool.shutdown()
  }

  test("a repeat loop-kernel invocation compiles no generated classes") {
    // each invocation runs on a fresh clone; with artifact isolation on,
    // a clone gets its own executor classloader and recompiles its plan
    run("s12_pagerank").collect()
    val before = org.apache.spark.CodegenCompilations()
    run("s12_pagerank").collect()
    assert(org.apache.spark.CodegenCompilations() - before == 0)
  }
}
