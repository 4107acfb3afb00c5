package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** One shared local session for all suites: the shipped
  * [[GraftSession.builder]] conf at 4 cores (never the environment's
  * `SPARK_GRAFT_CPUS`), plus a private temp warehouse dir. */
object SparkTestSession {
  lazy val spark: SparkSession = {
    val s = GraftSession.builder(4)
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft-warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
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
