package graft

import org.apache.spark.sql.execution.FormattedMode

/** Plan auditor: prints the formatted physical plan for the named queries
  * (or a representative set) so pushdown/broadcast/codegen can be
  * inspected, in the [[GraftSession]] session Bench times.
  *
  * A `pool:<key>` argument prints that SharedPools build's raw
  * (unmaterialized) plan instead: a pool consumer's plan only shows the
  * parquet scan of the materialized pool, while the build is the part a
  * `pool:<key>` bench line times ([[queries.PoolWarmup.rawBuilds]]); an
  * unknown key exits 1, naming the known keys. Pools are built in
  * rebuild mode, as Verify and Bench build them, so the builds a plan
  * needs (the pools `dedup_clusters` and `lsh_sweep` read) land in the
  * JVM-private root and leave nothing behind.
  *
  * Usage: runMain graft.Explain [queryName | pool:<key> ...] */
object Explain {
  def main(args: Array[String]): Unit = {
    val builds = queries.PoolWarmup.rawBuilds.toMap
    val unknown = args.filter(_.startsWith("pool:")).map(_.stripPrefix("pool:")).filterNot(builds.contains)
    if (unknown.nonEmpty) {
      System.err.println(s"unknown pool key(s) ${unknown.mkString(", ")}; known: " +
        queries.PoolWarmup.rawBuilds.map(_._1).mkString(", "))
      sys.exit(1)
    }
    System.setProperty("graft.pool.rebuild", "1")
    val spark = GraftSession.start("ERROR")
    val names = if (args.nonEmpty) args.toSeq
      else Seq("q02_filter_project", "q05_region_revenue", "q01_pricing_summary", "s01_ann_bruteforce")
    val sf = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    names.foreach { n =>
      println(s"\n========== $n ==========")
      val df =
        if (n.startsWith("pool:")) builds(n.stripPrefix("pool:"))(spark, sf)
        else SparkEntry.queries(n)(spark, sf)
      println(df.queryExecution.explainString(FormattedMode))
    }
    spark.stop()
  }
}
