package graft

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
}
