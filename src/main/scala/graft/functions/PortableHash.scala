package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** The engine-portable hash, spelled once per engine, and the
  * signature-dedup constants built on it (d04 MinHash-LSH, d05 SimHash).
  *
  *   - the hash: the leading `hexChars` (1-15) hex digits of `md5(x)`
  *     read as a non-negative BIGINT. [[md5Prefix]] is the only Spark
  *     spelling, [[md5PrefixSql]] the only DuckDB one and
  *     [[md5PrefixLong]] the JVM mirror; all three agree bit for bit
  *     (PortableHashSpec), so Spark and the oracle split, shard, sample
  *     and sign identically. [[DetHash]] salts it into coins and buckets.
  *     Engine-native hashes (`xxhash64`, `hash`) differ across engines.
  *   - MinHash permutations: the classic universal affine family
  *     h_j(x) = (a_j·x + b_j) mod P over prime P = 1e9+7 > 2^28
  *     (Broder, "On the resemblance and containment of documents",
  *     1997; Carter-Wegman universal hashing) over a 7-digit (28-bit)
  *     base. All arithmetic stays below 2^59 (a_j < 2^30, x < 2^28), so
  *     64-bit signed evaluation is exact in BOTH engines — no wrap in
  *     Spark, no overflow error in DuckDB.
  *   - the a_j/b_j constants are themselves md5-derived (seeded by the
  *     permutation index), generated once here and interpolated into
  *     the oracle SQL as a 64-row VALUES table — the same
  *     constants-into-SQL pattern s02 uses for its hyperplanes.
  *
  * A 28-bit base can collide distinct shingles (~1 in 2.7e8 per pair);
  * a collision only merges two shingles for EVERY permutation — a tiny
  * bias in the Jaccard estimate, never a correctness issue, because d04
  * verifies all candidates against the exact string shingle sets.
  */
object PortableHash {

  /** Affine-family modulus: smallest common "big prime", > 2^28. */
  val P = 1000000007L

  val MinhashPerms = 64

  /** The JVM mirror of [[md5Prefix]] over UTF-8 bytes (constant
    * generation and the fused kernels). */
  def md5PrefixLong(bytes: Array[Byte], hexChars: Int): Long =
    md5PrefixLongRange(bytes, 0, bytes.length, hexChars)

  def md5PrefixLong(s: String, hexChars: Int): Long =
    md5PrefixLong(s.getBytes(java.nio.charset.StandardCharsets.UTF_8), hexChars)

  /** md5 over bytes[off, off+len) without copying the slice (d21 hashes
    * many grams of one array). */
  def md5PrefixLongRange(bytes: Array[Byte], off: Int, len: Int, hexChars: Int): Long = {
    val d = digest.get()
    d.reset()
    d.update(bytes, off, len)
    val h = d.digest()
    var v = 0L
    var i = 0
    while (i < hexChars) {
      val b = h(i >> 1) & 0xff
      v = (v << 4) | (if ((i & 1) == 0) b >>> 4 else b & 0xf)
      i += 1
    }
    v
  }

  private val digest = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  /** Per-permutation multipliers a_j ∈ [1, P) and offsets b_j ∈ [0, P),
    * md5-seeded so every engine (and auditor) can re-derive them. */
  val MinhashA: Array[Long] =
    Array.tabulate(MinhashPerms)(j => md5PrefixLong(s"minhash-a:$j", 15) % (P - 1) + 1)
  val MinhashB: Array[Long] =
    Array.tabulate(MinhashPerms)(j => md5PrefixLong(s"minhash-b:$j", 15) % P)

  /** The Spark spelling: leading `hexChars` hex digits of `md5(c)`. */
  def md5Prefix(c: Column, hexChars: Int): Column =
    conv(substring(md5(c), 1, hexChars), 16, 10).cast(LongType)

  /** The DuckDB spelling of [[md5Prefix]] over the SQL expression `expr`. */
  def md5PrefixSql(expr: String, hexChars: Int): String =
    s"CAST(concat('0x', substring(md5($expr), 1, $hexChars)) AS BIGINT)"

  /** The 64 (j, a_j, b_j) rows as a DuckDB VALUES list for a
    * `perms(j, a, b) AS (VALUES ...)` CTE. */
  def permsValuesSql: String =
    (0 until MinhashPerms)
      .map(j => s"(${j}, ${MinhashA(j)}, ${MinhashB(j)})")
      .mkString(", ")
}
