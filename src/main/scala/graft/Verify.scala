package graft
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{DecimalType, DoubleType, StructField, TimestampNTZType, TimestampType}
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {

  /** Session-tz timestamps dump as parquet `isAdjustedToUTC=true`
    * (arrow: timestamp[us, tz=UTC]) while the DuckDB oracle produces
    * naive timestamp[us]; the wall-clock values agree (session tz is
    * UTC) but a physical/epoch-level hash can diverge. Canonicalize the
    * dump to NTZ so both sides are byte-identical.
    *
    * DecimalType → DoubleType: the driver reads the Spark dump via
    * pandas (DECIMAL → `decimal.Decimal` objects) and the oracle via
    * duckdb `.df()` (DECIMAL → float64), then hashes string reprs — so
    * `Decimal('218536.00')` vs float `218536.0` is a hash mismatch even
    * when values are identical. Internal arithmetic stays decimal-exact;
    * only the dumped schema is widened. The double conversion is
    * bitwise-identical across both engines while the UNSCALED decimal
    * magnitude stays within 2^53 (DuckDB converts int128/10^scale with
    * one correctly-rounded divide; Spark's BigDecimal.doubleValue is
    * correctly rounded throughout) — sum aggregates past ~9e15 unscaled
    * could drift a ulp and flip the repr hash, which is why the gate
    * matrix runs the driver-mode compare at the largest SF. */
  private def ntz(df: DataFrame): DataFrame =
    df.select(df.schema.fields.map {
      case StructField(n, TimestampType, _, _) => col(n).cast(TimestampNTZType).as(n)
      case StructField(n, _: DecimalType, _, _) => col(n).cast(DoubleType).as(n)
      case StructField(n, _, _, _) => col(n)
    }.toIndexedSeq: _*)
  def main(args: Array[String]): Unit = {
    // Per-JVM pool builds (no durable cross-JVM reuse): the two-JVM
    // determinism gate exists to catch merge-order flap ACROSS JVMs
    // (the r52 494<->495 case) — a shared on-disk pool would hide
    // exactly that class, so Verify always re-derives pools.
    System.setProperty("graft.pool.rebuild", "1")
    val (sfDir, outDir) = (args(0), args(1))
    // Optional 3rd+ args: restrict the dump to the named queries (dev loop).
    val only: Set[String] = args.drop(2).toSet
    val spark = GraftSession.builder(GraftSession.cpus())
      // Hardening knob: SPARK_GRAFT_ANSI=true runs the whole dump in
      // ANSI mode, proving no query relies on silent overflow/coercion.
      // Set on the builder, not the running session, so the loop
      // kernels' private-conf clones (LoopSession) inherit it too.
      .config("spark.sql.ansi.enabled", sys.env.getOrElse("SPARK_GRAFT_ANSI", "false"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries.filter(kv => only.isEmpty || only(kv._1)).foreach { case (name, fn) =>
      try ntz(fn(spark, sfDir)).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      // queries that persist shared relations (d03/d07/d08/r46) would
      // otherwise pin their caches for the rest of the 89-query run
      finally spark.catalog.clearCache()
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .filter(kv => only.isEmpty || only(kv._1))
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // Band oracles for the estimate-valued sketch queries: DuckDB's own
    // approximator + rel_tol, enforced by tools/check_oracle.py (no hash
    // can match two sketch implementations, but the estimates must band).
    val bands = SparkEntry.bandOracleSql
      .filter(kv => only.isEmpty || only(kv._1))
      .map { case (k, (sql, tol)) =>
        s"${q(k)}: {${q("sql")}: ${q(sql)}, ${q("rel_tol")}: $tol}"
      }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/band_oracle.json"), bands)
    spark.stop()
  }
}
