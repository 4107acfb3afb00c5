package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestSession
import graft.SparkTestSession.withTempDir

/** Manifest-audited export: the written files re-derive the exact
  * manifest, the fingerprint is partition-order-independent, and
  * corruption (a dropped row, an edited value) is caught.
  */
class ExportSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val sf = "/root/testdata/sf0.001"
  private def docs = graft.Tables.documents(spark, sf)

  /** Replace shard `n`'s files with `edit` of its rows. */
  private def rewriteShard(dir: String, n: Int)(edit: DataFrame => DataFrame): Unit = {
    val tmp = s"$dir/tampered"
    edit(spark.read.parquet(s"$dir/data/shard=$n")).write.mode("overwrite").parquet(tmp)
    val dest = java.nio.file.Paths.get(s"$dir/data/shard=$n")
    graft.Publish.deleteTree(dest)
    java.nio.file.Files.move(java.nio.file.Paths.get(tmp), dest)
  }

  private def manifestRows(df: DataFrame) =
    df.collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSet

  test("export audits clean; fingerprints are parallelism-independent") {
    withTempDir("export") { tmp =>
      val dir = tmp.toString
      val m = manifestRows(Export.shardedExport(docs, "doc_id", dir))
      val audit = manifestRows(Export.audit(spark, dir))
      assert(audit == m && m.size == 8)
      // same manifest at any parallelism
      val m2 = manifestRows(Export.manifest(docs.repartition(13), "doc_id"))
      assert(m2 == m)
      // the persisted manifest JSON round-trips
      val fromJson = manifestRows(spark.read.json(s"$dir/manifest")
        .select(col("shard").cast("int"), col("n_rows"), col("fp")))
      assert(fromJson == m)
    }
  }

  test("a tampered shard fails the audit") {
    withTempDir("export_t") { root =>
      val dir = root.toString
      val m = manifestRows(Export.shardedExport(docs, "doc_id", dir))
      // tamper: rewrite shard 3 with one row dropped
      rewriteShard(dir, 3)(s3 => s3.orderBy("doc_id").limit(s3.count().toInt - 1))
      val audit = manifestRows(Export.audit(spark, dir))
      assert(audit != m, "audit must detect the dropped row")
      assert((m -- audit).forall(_._1 == 3), "only shard 3 should mismatch")
    }
  }

  test("a shard with one edited text value fails the audit") {
    withTempDir("export_e") { root =>
      val dir = root.toString
      val m = manifestRows(Export.shardedExport(docs, "doc_id", dir))
      rewriteShard(dir, 3) { s3 =>
        val first = s3.agg(min("doc_id")).head().getLong(0)
        s3.withColumn("text",
          when(col("doc_id") === first, concat(col("text"), lit("!"))).otherwise(col("text")))
      }
      val audit = manifestRows(Export.audit(spark, dir))
      assert((m -- audit).map(_._1) == Set(3), "the edit must show in shard 3's fingerprint")
      assert(audit.find(_._1 == 3).map(_._2) == m.find(_._1 == 3).map(_._2),
        "the row count is unchanged")
    }
  }
}
