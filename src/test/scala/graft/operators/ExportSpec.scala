package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestSession
import graft.SparkTestSession.withTempDir

/** Manifest-audited export: the written files re-derive the exact
  * manifest, the fingerprint is partition-order-independent, and
  * corruption (a dropped row) is caught.
  */
class ExportSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val sf = "/root/testdata/sf0.001"
  private def docs = graft.Tables.documents(spark, sf)

  test("export audits clean; fingerprints are parallelism-independent") {
    withTempDir("export") { tmp =>
      val dir = tmp.toString
      val m = Export.shardedExport(docs, "doc_id", dir)
        .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSet
      val audit = Export.audit(spark, "doc_id", dir)
        .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSet
      assert(audit == m && m.size == 8)
      // same manifest at any parallelism
      val m2 = Export.manifest(docs.repartition(13), "doc_id")
        .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSet
      assert(m2 == m)
      // the persisted manifest JSON round-trips
      val fromJson = spark.read.json(s"$dir/manifest")
        .select(col("shard").cast("int"), col("n_rows"), col("fp"))
        .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSet
      assert(fromJson == m)
    }
  }

  test("a tampered shard fails the audit") {
    withTempDir("export_t") { root =>
      val dir = root.toString
      val m = Export.shardedExport(docs, "doc_id", dir)
        .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSet
      // tamper: rewrite shard 3 with one row dropped
      val s3 = spark.read.parquet(s"$dir/data/shard=3")
      val tampered = s3.orderBy("doc_id").limit(s3.count().toInt - 1)
      val tmp = s"$dir/tampered"
      tampered.write.mode("overwrite").parquet(tmp)
      import scala.jdk.CollectionConverters._
      val dest = java.nio.file.Paths.get(s"$dir/data/shard=3")
      java.nio.file.Files.walk(dest).sorted(java.util.Comparator.reverseOrder())
        .iterator().asScala.foreach(java.nio.file.Files.delete)
      java.nio.file.Files.move(java.nio.file.Paths.get(tmp), dest)
      val audit = Export.audit(spark, "doc_id", dir)
        .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSet
      assert(audit != m, "audit must detect the dropped row")
      assert((m -- audit).forall(_._1 == 3), "only shard 3 should mismatch")
    }
  }
}
