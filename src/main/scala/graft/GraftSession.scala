package graft

import org.apache.spark.sql.SparkSession

/** The one session decision for every entry point (Main, Bench, Verify,
  * Explain, SkewProbe and the tools), and for the test suite: the plans
  * Explain dumps are the plans Bench times, under the conf the tests run.
  *
  * `SPARK_GRAFT_CPUS` (default 8) sizes both `local[n]` and the shuffle
  * partitions (shuffle partitions = cores for local mode).
  * [[graft.Smoke]] is the one other builder: it stands in for an
  * external caller's bare session, which installs no extensions.
  */
object GraftSession {

  /** `SPARK_GRAFT_CPUS` must be a positive int: `*` is a valid master but
    * not a partition count. */
  def parseCpus(env: Option[String]): Either[String, Int] = env match {
    case None => Right(8)
    case Some(v) => v.trim.toIntOption.filter(_ > 0)
      .toRight(s"SPARK_GRAFT_CPUS must be a positive integer, got '$v'")
  }

  /** [[parseCpus]] over the environment; a bad value exits 1 with
    * `config error: ...`. */
  def cpus(): Int = parseCpus(sys.env.get("SPARK_GRAFT_CPUS")) match {
    case Right(n) => n
    case Left(msg) => System.err.println(s"config error: $msg"); sys.exit(1)
  }

  /** AQE on (runtime re-planning, skew-join handling, partition
    * coalescing); timestamps written as parquet micros, not legacy INT96,
    * so dumps hash the same as the DuckDB oracle's. */
  def builder(cpus: Int): SparkSession.Builder = SparkSession.builder()
    .master(s"local[$cpus]")
    .config("spark.sql.shuffle.partitions", cpus.toString)
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.adaptive.enabled", "true")
    .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    .config("spark.ui.enabled", "false")
    .withExtensions(new GraftExtensions)

  /** The one session rule for a session graft code runs work on: it adds
    * no artifacts, so it runs with artifact isolation off. An isolated
    * session gets its own executor classloader, and Spark's codegen cache
    * is keyed by (classloader, code), so every fresh session would compile
    * its generated classes again; with isolation off they are the JVM's,
    * compiled once. Spark reads the conf lazily from the session's own
    * conf, so it takes effect only before the session's first query; on a
    * session that has already run one, nothing changes. Applied where
    * work is handed to a session, not in [[builder]]: a graft main runs
    * one pipeline per JVM, and the sessions that pay the cost are built
    * by other code (a caller's own session and its `newSession()`
    * clones). Returns `s`. */
  def sharedCode(s: SparkSession): SparkSession = {
    s.conf.set("spark.sql.artifact.isolation.enabled", "false")
    s
  }

  /** The session for a CLI main: [[builder]] at [[cpus]]. */
  def start(logLevel: String = "WARN"): SparkSession = {
    val s = builder(cpus()).getOrCreate()
    s.sparkContext.setLogLevel(logLevel)
    s
  }
}
