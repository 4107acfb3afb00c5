package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Loaders for the driver-generated parquet fixtures (TESTDATA.md).
  *
  * One parquet file per table per scale-factor directory
  * (`/root/testdata/sf{0.001,0.01,0.1}`). Schemas documented in
  * FIXTURES.md §A. At 100 TB these would be partitioned/bucketed
  * datasets; the loaders keep the access path behind one function so a
  * bucketed/catalogued layout can be swapped in without touching query
  * code.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Memoized per (session, dir, table): `spark.read.parquet` re-lists
    * files and re-reads footers on every call, and with 80+ registered
    * queries that fixed planning cost dominates small-SF benchmarks.
    * CONTRACT: a dir is treated as immutable once loaded — the memo
    * returns the original file listing even if the path is rewritten
    * within the session. Entries for
    * stopped sessions are dropped lazily on the next load. */
  private val cache =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String, String), DataFrame]()

  def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    // lazy eviction: drop relations belonging to stopped sessions so a
    // long-lived JVM that cycles sessions does not retain them forever
    cache.keySet.removeIf(k => k._1.sparkContext.isStopped)
    cache.computeIfAbsent((spark, dir, name),
      _ => spark.read.parquet(s"$dir/$name.parquet"))
  }

  def region(s: SparkSession, d: String): DataFrame    = load(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame    = load(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame  = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame  = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame      = load(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame    = load(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame  = load(s, d, "lineitem")
  /** `events.ts` has shipped in two fixture generations: parquet
    * TIMESTAMP(NANOS) (Spark's vectorized reader rejects it — read
    * nanos as long, truncate to micros, exactly what DuckDB reports for
    * the same file) and plain TIMESTAMP(MICROS) with isAdjustedToUTC
    * false (infers as TIMESTAMP_NTZ). Branch on the type the reader
    * actually inferred so either generation yields the same
    * TimestampType column — the session tz is pinned UTC, so the
    * NTZ→TZ cast preserves wall-clock values on both engines. */
  def events(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.functions.{col, expr, timestamp_micros}
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = load(s, d, "events")
    raw.schema("ts").dataType match {
      case LongType => raw.withColumn("ts", timestamp_micros(expr("ts DIV 1000")))
      case TimestampNTZType => raw.withColumn("ts", col("ts").cast(TimestampType))
      case _ => raw
    }
  }
  def documents(s: SparkSession, d: String): DataFrame = load(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = load(s, d, "embeddings")
}
