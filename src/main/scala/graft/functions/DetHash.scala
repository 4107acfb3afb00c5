package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, LongType, StringType}

/** Deterministic, engine-portable hash assignments shared by the batch
  * pipeline operators (p01/p02/p04/p05/p06) and the streaming ingest
  * front-end: leading 6 hex digits of md5(salt || key) as an integer
  * modulo `mod`. Both Spark and the DuckDB oracle hash the same string
  * and parse the same hex digits — no engine-native hash (xxhash64 /
  * hash differ across engines) and no RNG, so any slice of a run can be
  * reproduced or audited independently at any parallelism. */
object DetHash {

  /** The salted coin: leading 6 hex digits of md5(salt || key) as a
    * BIGINT in [0, 2^24). */
  def coin(key: Column, salt: String): Column =
    conv(substring(md5(concat(lit(salt), key.cast(StringType))), 1, 6), 16, 10).cast(LongType)

  def mdBucket(key: Column, salt: String, mod: Int): Column =
    (coin(key, salt) % mod).cast(IntegerType)

  def mdBucketSql(key: String, salt: String, mod: Int): String =
    s"CAST(CAST(concat('0x', substring(md5(concat('$salt', CAST($key AS VARCHAR))), 1, 6)) AS BIGINT) % $mod AS INTEGER)"

  /** train/val/test assignment (80/10/10) from the `split:` salt. */
  def splitOf(key: Column): Column = {
    val b = mdBucket(key, "split:", 100)
    when(b < 80, "train").when(b < 90, "val").otherwise("test")
  }

  /** shard assignment (8 shards) from the `shuffle:` salt. */
  def shardOf(key: Column): Column =
    mdBucket(key, "shuffle:", 8)

  /** the full md5 shuffle key (shard = its leading bucket). */
  def shuffleKey(key: Column): Column =
    md5(concat(lit("shuffle:"), key.cast(StringType)))
}
