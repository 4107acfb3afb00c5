package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, StringType}

/** Deterministic, engine-portable hash assignments shared by the batch
  * pipeline operators (p01/p02/p04/p05/p06) and the streaming ingest
  * front-end: [[PortableHash]]'s md5 prefix of salt || key, 6 hex digits
  * unless a caller asks for another width in 1-15, as an integer modulo
  * `mod`. [[coin]] is the Spark spelling and [[mdBucketSql]] the DuckDB
  * one; both go through PortableHash. No RNG, so any slice of a run can
  * be reproduced or audited independently at any parallelism. */
object DetHash {

  /** The salted coin: leading `hexChars` hex digits of md5(salt || key)
    * as a BIGINT in [0, 16^hexChars). */
  def coin(key: Column, salt: String, hexChars: Int = 6): Column =
    PortableHash.md5Prefix(concat(lit(salt), key.cast(StringType)), hexChars)

  def mdBucket(key: Column, salt: String, mod: Int): Column =
    (coin(key, salt) % mod).cast(IntegerType)

  def mdBucketSql(key: String, salt: String, mod: Int): String =
    s"CAST(${PortableHash.md5PrefixSql(s"concat('$salt', CAST($key AS VARCHAR))", 6)} % $mod AS INTEGER)"

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
