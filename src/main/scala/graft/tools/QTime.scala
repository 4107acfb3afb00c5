package graft.tools
object QTime {
  def main(args: Array[String]): Unit = {
    if (args.length < 2) {
      System.err.println("usage: QTime <sfDir> <queryName> [queryName...]")
      sys.exit(2)
    }
    // SPARK_GRAFT_CPUS sets the core count, so the same tool measures
    // the low-core vs high-core scaling slice at sf1/sf10.
    val spark = graft.GraftSession.start("ERROR")
    spark.range(1000000).selectExpr("sum(id)").collect()
    args.tail.foreach { q =>
      val t0 = System.nanoTime()
      graft.SparkEntry.queries(q)(spark, args(0)).write.format("noop").mode("overwrite").save()
      println(f"QTIME $q ${(System.nanoTime()-t0)/1e9}%.2f")
      spark.catalog.clearCache()
    }
    spark.stop()
  }
}
