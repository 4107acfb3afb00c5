package graft

import java.nio.file.{Files, Path}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** One shared local session for all suites: the shipped
  * [[GraftSession.builder]] conf at 4 cores (never the environment's
  * `SPARK_GRAFT_CPUS`), plus a private temp warehouse dir deleted when
  * the JVM exits. Pools build in rebuild mode, as under Verify and Bench:
  * into SharedPools' JVM-private root, which is deleted at exit too, so a
  * suite run adds no durable cache namespace (SharedPoolsSpec switches
  * the durable layer on for its own tests and deletes what it commits). */
object SparkTestSession {
  lazy val spark: SparkSession = {
    sys.props("graft.pool.rebuild") = "1"
    val warehouse = Files.createTempDirectory("graft-warehouse")
    sys.addShutdownHook(Publish.deleteTree(warehouse))
    val s = GraftSession.builder(4)
      .config("spark.sql.warehouse.dir", warehouse.toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** `body` run on a fresh dir under `java.io.tmpdir` named `prefix*`;
    * the dir and everything in it are deleted afterwards, pass or fail. */
  def withTempDir[T](prefix: String)(body: Path => T): T = {
    val dir = Files.createTempDirectory(prefix)
    try body(dir) finally Publish.deleteTree(dir)
  }

  /** `body`'s result and the Spark jobs it started on this thread (tagged
    * by a local property, so jobs of other threads are not counted). */
  def jobsOf[T](body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val key = "graft.test.jobs"
    val tag = java.util.UUID.randomUUID().toString
    val jobs = new AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties != null && e.properties.getProperty(key) == tag) jobs.incrementAndGet()
    }
    sc.addSparkListener(listener)
    sc.setLocalProperty(key, tag)
    try {
      val r = body
      ListenerBusDrain(sc)
      (r, jobs.get)
    } finally {
      sc.setLocalProperty(key, null)
      sc.removeSparkListener(listener)
    }
  }
}
