package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StringType
import graft.functions.{DetHash, PortableHash}

/** Manifest-audited sharded export — the delivery step of a training-set
  * build: data lands as one directory per deterministic shard, next to
  * a manifest recording each shard's row count and an order-independent
  * content fingerprint. A consumer (or a later re-run) recomputes the
  * manifest from the files alone and compares — byte-level provenance
  * without trusting the producer.
  *
  * Fingerprint design: per-row md5 over the stringified row keyed by a
  * salt — every exported column cast to string, in frame order, joined
  * by `concat_ws('|', …)`, which both engines compute alike (NULLs are
  * skipped) — folded per shard with BIT_XOR — commutative and
  * associative, so the fold is partition- and order-independent (a sum
  * could also carry counts but wraps under ANSI; XOR cannot overflow).
  * Collision-finding XOR cancellation needs adversarial row pairs, not
  * the accidental corruption/truncation the manifest exists to catch.
  */
object Export {

  /** (shard, n_rows, fp) over `df`, which carries the `shard` column.
    * A row's fingerprint covers every other column: leading 15 hex
    * digits of the salted row md5 as a BIGINT, XOR-folded per shard. */
  private def fingerprint(df: DataFrame): DataFrame =
    df.withColumn("__fp", PortableHash.md5Prefix(concat_ws("|", lit("manifest:") +:
        df.columns.toSeq.filter(_ != "shard").map(c => df(c).cast(StringType)): _*), 15))
      .groupBy("shard")
      .agg(count(lit(1)).as("n_rows"), expr("bit_xor(__fp)").as("fp"))
      .orderBy("shard")

  /** Manifest relation for `df` keyed by `idCol`: (shard, n_rows, fp).
    * Deterministic at any parallelism — also a registry query (p11). */
  def manifest(df: DataFrame, idCol: String): DataFrame =
    fingerprint(df.withColumn("shard", DetHash.shardOf(col(idCol))))

  /** Write `df` sharded + its manifest JSON; returns the manifest. */
  def shardedExport(df: DataFrame, idCol: String, path: String): DataFrame = {
    df.withColumn("shard", DetHash.shardOf(col(idCol)))
      .repartition(col("shard"))
      .write.mode("overwrite").partitionBy("shard").parquet(s"$path/data")
    val m = manifest(df, idCol)
    m.coalesce(1).write.mode("overwrite").json(s"$path/manifest")
    m
  }

  /** Recompute the manifest from the written files (the audit). */
  def audit(spark: SparkSession, path: String): DataFrame =
    fingerprint(spark.read.parquet(s"$path/data"))
}
