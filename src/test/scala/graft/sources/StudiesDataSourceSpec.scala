package graft.sources

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.SparkTestSession
import graft.etl.{Flatten, StudiesSource}

/** V2 source: agreement with the flatten path + pushdown behavior. */
class StudiesDataSourceSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private def v2 = spark.read.format("graft.sources.StudiesDataSource")
    .option("path", "/root/repo/fixtures/pages").load()

  test("v2 source equals the flatten-over-paged-json path") {
    val viaV2 = v2.orderBy("nct_id").collect().map(_.toSeq)
    val viaFlatten = Flatten(StudiesSource.readPaged(spark, "/root/repo/fixtures/pages"))
      .orderBy("nct_id").collect().map(_.toSeq)
    assert(viaV2.length == 14)
    assert(viaV2.toSeq == viaFlatten.toSeq)
  }

  test("a JSON null leaf is 'N/A' through the source, as through flatten") {
    import java.nio.file.Files
    val dir = Files.createTempDirectory("nullleaves")
    Files.writeString(dir.resolve("page_1.json"), """{"studies": [
      {"protocolSection": {"identificationModule": {"nctId": "A", "briefTitle": null},
        "statusModule": {"overallStatus": null, "startDateStruct": {"date": null}},
        "eligibilityModule": null, "descriptionModule": {"briefSummary": "s"}}},
      {"protocolSection": {"identificationModule": {"nctId": "B",
        "briefTitle": {"x": 1}, "officialTitle": ["a", "b"]}, "statusModule": {"overallStatus": 1.50}}},
      {"protocolSection": null}]}""")
    val viaV2 = spark.read.format("graft.sources.StudiesDataSource")
      .option("path", dir.toString).load().orderBy("nct_id").collect().map(_.toSeq).toSeq
    val viaFlatten = Flatten(StudiesSource.readPaged(spark, dir.toString))
      .orderBy("nct_id").collect().map(_.toSeq).toSeq
    assert(viaV2 == viaFlatten)
    // nct_id "A" and its summary; "B" and its mistyped leaves as JSON source text
    assert(viaV2.flatten.count(_ != "N/A") == 6)
    assert(viaV2.exists(r => r.take(4) == Seq("B", """{"x": 1}""", """["a", "b"]""", "1.50")))
  }

  test("equality filter is pushed into the scan (and evaluated there)") {
    val df = v2.filter(col("study_type") === "INTERVENTIONAL")
    // Spark trusts fully-pushed V2 filters (no re-evaluation above the
    // scan), so the correct count proves the reader applied them.
    assert(df.count() == 13) // one OBSERVATIONAL study in the fixture
    val scanDesc = df.queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode)
    assert(scanDesc.contains("EqualTo(study_type,INTERVENTIONAL)"))
  }

  test("column pruning reaches the reader") {
    val df = v2.select("nct_id")
    assert(df.schema.fieldNames.toSeq == Seq("nct_id"))
    assert(df.collect().length == 14)
  }

  test("start_year derivation matches the reference quirk through the source") {
    val byId = v2.select("nct_id", "start_year").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(byId("NCT00000002") == "N/A") // bare YYYY
    assert(byId("NCT00000003") == "2013") // YYYY-MM
  }

  test("micro-batch stream: pages arrive as offsets; late pages extend the chain") {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    val dir = Files.createTempDirectory("paged_stream")
    def cp(name: String): Unit =
      Files.copy(Paths.get("/root/repo/fixtures/pages", name), dir.resolve(name),
        StandardCopyOption.REPLACE_EXISTING)
    cp("page_1.json"); cp("page_2.json")
    // page_2 names page_3 as its token, but the file has NOT landed:
    // the chain ends there until it does (live-feed semantics)
    val q = spark.readStream.format("graft.sources.StudiesDataSource")
      .option("path", dir.toString).load()
      .writeStream.format("memory").queryName("paged_out").outputMode("append").start()
    try {
      q.processAllAvailable()
      assert(spark.table("paged_out").count() == 12, "pages 1+2 only")
      cp("page_3.json")
      q.processAllAvailable()
      val out = spark.table("paged_out")
      assert(out.count() == 14, "page 3 appended once it landed")
      assert(out.select("nct_id").distinct().count() == 14, "no page replayed")
    } finally q.stop()
  }
}
