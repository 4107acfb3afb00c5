package graft.operators

import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.SparkTestSession
import graft.SparkTestSession.withTempDir

/** Storage-layout evidence for the 100 TB posture: hive-style partition
  * pruning and the non-CSV sink round-trips (parquet is exercised by
  * Verify; ORC and JSON-lines here). */
class LayoutSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val sf = "/root/testdata/sf0.001"

  test("partitionBy layout prunes partitions at scan time") {
    withTempDir("orders_part") { tmp =>
      val dir = tmp.toString
      val o = graft.Tables.orders(spark, sf)
        .withColumn("o_year", year(col("o_orderdate")))
      o.write.mode("overwrite").partitionBy("o_year").parquet(dir)
      val back = spark.read.parquet(dir).filter(col("o_year") === 1997)
      val plan = back.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      assert(plan.contains("PartitionFilters") && plan.contains("o_year"))
      // pruning is real: only the 1997 directory is listed by the scan
      val scanned = back.queryExecution.executedPlan.collectLeaves().head.toString
      val expected = o.filter(col("o_year") === 1997).count()
      assert(back.count() == expected && expected > 0)
    }
  }

  test("dynamic partition overwrite backfills one partition, leaves the rest") {
    import org.apache.spark.sql.functions._
    withTempDir("dyn_overwrite") { tmp =>
      val dir = tmp.toString + "/t"
      val docs = graft.Tables.documents(spark, sf).select("doc_id", "source", "n_chars")
      docs.write.partitionBy("source").parquet(dir)
      val before = spark.read.parquet(dir)
        .groupBy("source").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      // backfill exactly one source partition with halved rows
      val one = docs.filter(col("source") === "src0").filter(col("doc_id") % 40 === 0)
      spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
      try one.write.mode("overwrite").partitionBy("source").parquet(dir)
      finally spark.conf.set("spark.sql.sources.partitionOverwriteMode", "static")
      val after = spark.read.parquet(dir)
        .groupBy("source").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(after("src0") == one.count() && after("src0") < before("src0"))
      (before.keySet - "src0").foreach(srcKey => assert(after(srcKey) == before(srcKey), srcKey))
    }
  }

  test("orc sink round-trips the flattened studies") {
    withTempDir("studies_orc") { tmp =>
      val dir = tmp.toString
      val flat = graft.etl.Flatten(
        graft.etl.StudiesSource.readStudies(spark, "fixtures/studies.json"))
      flat.write.mode("overwrite").orc(dir)
      val back = spark.read.orc(dir)
      assert(back.orderBy("nct_id").collect().toSeq ==
        flat.orderBy("nct_id").collect().toSeq)
    }
  }

  test("json-lines sink round-trips with schema") {
    withTempDir("studies_json") { tmp =>
      val dir = tmp.toString
      val flat = graft.etl.Flatten(
        graft.etl.StudiesSource.readStudies(spark, "fixtures/studies.json"))
      flat.write.mode("overwrite").json(dir)
      val back = spark.read.schema(flat.schema).json(dir)
      assert(back.count() == 14)
      assert(back.columns.toSeq == flat.columns.toSeq)
    }
  }
  test("schema evolution: mergeSchema unions batch schemas, old rows null-fill") {
    withTempDir("evolving") { tmp =>
      val dir = tmp.toString
      val v1 = spark.range(0, 5).select(col("id"), lit("a").as("source"))
      v1.write.mode("append").parquet(dir)
      // a later batch adds a column — the standing layout must keep reading
      val v2 = spark.range(5, 8).select(col("id"), lit("b").as("source"),
        lit(0.5).as("quality"))
      v2.write.mode("append").parquet(dir)
      val merged = spark.read.option("mergeSchema", "true").parquet(dir)
      assert(merged.columns.sorted.sameElements(Array("id", "quality", "source")))
      assert(merged.count() == 8)
      assert(merged.filter(col("quality").isNull).count() == 5,
        "pre-evolution rows surface the new column as null")
      assert(merged.filter(col("quality") === 0.5).count() == 3)
    }
  }

  test("corrupt-record tolerance: PERMISSIVE json isolates bad lines instead of failing") {
    import org.apache.spark.sql.types._
    withTempDir("dirty_json") { dir =>
      val f = dir.resolve("part.jsonl")
      Files.writeString(f,
        """{"doc_id": 1, "text": "ok"}
          |{"doc_id": 2 "text": "missing comma"}
          |{"doc_id": 3, "text": "also ok"}
          |""".stripMargin)
      val schema = StructType(Seq(
        StructField("doc_id", LongType), StructField("text", StringType),
        StructField("_corrupt_record", StringType)))
      val df = spark.read.schema(schema).option("mode", "PERMISSIVE")
        .json(dir.toString).cache()
      assert(df.count() == 3, "every line surfaces as a row")
      assert(df.filter(col("_corrupt_record").isNotNull).count() == 1)
      assert(df.filter(col("_corrupt_record").isNull).count() == 2)
      // DROPMALFORMED is the silent-skip alternative for quarantine-free runs
      val dropped = spark.read
        .schema(StructType(schema.fields.filterNot(_.name == "_corrupt_record")))
        .option("mode", "DROPMALFORMED").json(dir.toString)
      assert(dropped.count() == 2)
      df.unpersist()
    }
  }

  test("compaction plan: exhaustive, bounded bins, oversized solo, deterministic") {
    withTempDir("compact_src") { tmp =>
      val dir = tmp.toString
      graft.Tables.lineitem(spark, sf).repartition(16)
        .write.mode("overwrite").parquet(dir)
      val sizes = Layout.partFiles(dir).map(f => f.getAbsolutePath -> f.length()).toMap
      // target of ~3 median files: forces both multi-file bins and
      // (with a tiny target below) oversized-solo handling
      val target = sizes.values.toSeq.sorted.apply(sizes.size / 2) * 3
      val plan = Layout.compactionPlan(dir, target)
      val planned = plan.flatMap(_._2)
      assert(planned.sorted == sizes.keys.toSeq.sorted, "every file exactly once")
      plan.foreach { case (i, members, total) =>
        assert(total == members.map(sizes).sum, s"bin $i total must match members")
        if (members.length > 1) assert(total <= target, s"bin $i over target")
      }
      // first-fit invariant: at most one bin at or under half target —
      // two such bins would have been merged by construction
      assert(plan.count { case (_, m, t) => t <= target / 2 && m.map(sizes).forall(_ < target) } <= 1)
      assert(plan == Layout.compactionPlan(dir, target), "plan is deterministic")
      // a target below every file size degenerates to all-solo bins
      val solo = Layout.compactionPlan(dir, 1L)
      assert(solo.forall(_._2.length == 1) && solo.size == sizes.size)
    }
  }
}
