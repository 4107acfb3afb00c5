package graft

import graft.etl.{ConfigLoader, Enrich, Pipeline}

/** CLI entry (SURVEY.md O21; `/root/reference/etl.py:472-518`): run the
  * full pipeline from a JSON/YAML config file.
  *
  *   runMain graft.Main --config fixtures/config.yaml \
  *       [--pages fixtures/pages] [--out /tmp/out]
  *
  * `--pages` defaults to `fixtures/pages` under the working directory
  * (the project root under `sbt runMain`).
  *
  * Fail-fast guards mirror the reference: exit 1 on missing/invalid
  * config (a non-positive or non-integer `SPARK_GRAFT_CPUS` included)
  * or empty extract.
  */
object Main {
  def main(args: Array[String]): Unit = {
    val opts = args.sliding(2, 2).collect { case Array(k, v) => k -> v }.toMap
    val configPath = opts.getOrElse("--config", {
      System.err.println("usage: graft.Main --config <file> [--pages <dir>] [--out <dir>]")
      sys.exit(1)
    })
    val cfg =
      try ConfigLoader.load(configPath)
      catch {
        case e: Exception => System.err.println(s"config error: ${e.getMessage}"); sys.exit(1)
      }
    val spark = GraftSession.start()
    try {
      val (df, obs) = Enrich.withMetrics(
        Pipeline.run(spark, Pipeline.Config(
          pagesDir = opts.getOrElse("--pages", "fixtures/pages"),
          essieTerms = cfg.filterAdvanced,
          gate = cfg.gate,
          outputPath = opts.get("--out"))))
      val n = df.count()
      val m = obs.get
      println(s"rows=$n processed=${m("processed")} bypassed=${m("bypassed")}")
      if (n == 0) sys.exit(1) // etl.py:508-510
    } finally spark.stop()
  }
}
