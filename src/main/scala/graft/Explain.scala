package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.FormattedMode

/** Plan auditor: prints the formatted physical plan for the named queries
  * (or a representative set) so pushdown/broadcast/codegen can be
  * inspected, in the [[GraftSession]] session Bench times.
  *
  * A `pool:<key>` argument prints that SharedPools build's raw
  * (unmaterialized) plan instead: a pool consumer's plan only shows the
  * parquet scan of the materialized pool, while the build is the part a
  * `pool:<key>` bench line times.
  *
  * Usage: runMain graft.Explain [queryName | pool:<key> ...] */
object Explain {
  private def poolBuilds(spark: SparkSession, sf: String): Map[String, () => DataFrame] = Map(
    "contamination_pairs" -> (() => queries.PipelineQueries.contaminationPairsBuild(spark, sf)),
    "containment_ranked" -> (() => queries.DedupQueries.containmentRankedOf(
      Tables.documents(spark, sf))))

  def main(args: Array[String]): Unit = {
    val spark = GraftSession.start("ERROR")
    val names = if (args.nonEmpty) args.toSeq
      else Seq("q02_filter_project", "q05_region_revenue", "q01_pricing_summary", "s01_ann_bruteforce")
    val sf = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    names.foreach { n =>
      println(s"\n========== $n ==========")
      val df =
        if (n.startsWith("pool:")) poolBuilds(spark, sf)(n.stripPrefix("pool:"))()
        else SparkEntry.queries(n)(spark, sf)
      println(df.queryExecution.explainString(FormattedMode))
    }
    spark.stop()
  }
}
