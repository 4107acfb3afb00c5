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
  * or empty extract. An unknown flag or a flag without a value prints
  * the usage line and exits 1 too.
  */
object Main {
  private val Flags = Set("--config", "--pages", "--out")

  private def usage(): Nothing = {
    System.err.println("usage: graft.Main --config <file> [--pages <dir>] [--out <dir>]")
    sys.exit(1)
  }

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).map {
      case Array(k, v) if Flags(k) => k -> v
      case _ => usage()
    }.toMap
    val configPath = opts.getOrElse("--config", usage())
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
