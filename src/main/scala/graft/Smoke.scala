package graft

import org.apache.spark.sql.SparkSession

/** Local smoke runner for the driver's t1 check: builds the session the
  * same way the driver does and prints the flagship-query row count. */
object Smoke {
  def main(args: Array[String]): Unit = {
    val cpus = GraftSession.cpus()
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val df = SparkEntry.entry(spark)
    val n = df.count()
    df.show(10, truncate = false)
    println(s"ENTRY_ROWS=$n")
    spark.stop()
  }
}
