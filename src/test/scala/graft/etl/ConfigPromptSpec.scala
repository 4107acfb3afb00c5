package graft.etl

import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestSession
import graft.SparkTestSession.withTempDir

/** O1 config scan + O12 prompt templating + O18 counters. */
class ConfigPromptSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  test("yaml config loads with reference key shapes") {
    val cfg = ConfigLoader.load("fixtures/config.yaml")
    assert(cfg.pageSize == 1000)
    assert(cfg.filterAdvanced.head == "AREA[StudyType]INTERVENTIONAL")
    assert(cfg.maxRows.contains(8L))
    assert(cfg.debugOnlyTuningTrials)
    assert(cfg.tuningTrials.size == 5)
    assert(cfg.rowPromptTemplate.contains("{nct_id}"))
    assert(cfg.gate.tuningSet.isDefined)
  }

  test("json config loads; null max_rows means ungated") {
    val cfg = ConfigLoader.load("fixtures/config.json")
    assert(cfg.pageSize == 500)
    assert(cfg.aiColumnName == "ai_label")
    assert(cfg.maxRows.isEmpty)
    assert(!cfg.debugOnlyTuningTrials && cfg.gate.tuningSet.isEmpty)
  }

  test("missing or invalid config fails fast (etl.py:49-52)") {
    intercept[IllegalArgumentException] { ConfigLoader.load("/nonexistent.yaml") }
    intercept[IllegalArgumentException] { ConfigLoader.load("build.sbt") }
  }

  test("a filter term on an unknown field or in an unsupported shape fails the load, naming it") {
    withTempDir("essieconfig") { dir =>
      for ((term, field) <- Seq("AREA[Foo]RANGE[a,b]" -> "Foo", "AREA[StudyType]RANGE[a,b]" -> "StudyType",
                                "(AREA[Sex]ALL OR AREA[Bar]X)" -> "Bar")) {
        val p = dir.resolve(s"$field.yaml")
        java.nio.file.Files.writeString(p,
          s"ctgov:\n  filter_advanced:\n    - AREA[StudyType]INTERVENTIONAL\n    - \"$term\"\n")
        val e = intercept[IllegalArgumentException] { ConfigLoader.load(p.toString) }
        assert(e.getMessage.contains(field), e.getMessage)
      }
    }
  }

  test("prompt template interpolates row fields; missing field → None") {
    val t = "NCT ID: {nct_id}\nCriteria: {criteria}"
    assert(PromptTemplate.format(t, Map("nct_id" -> "NCT1", "criteria" -> "none"))
      .contains("NCT ID: NCT1\nCriteria: none"))
    assert(PromptTemplate.format(t, Map("nct_id" -> "NCT1")).isEmpty)
    assert(PromptTemplate.fields(t) == Seq("nct_id", "criteria"))
  }

  test("prompt template formats a real flattened row") {
    val row = Flatten(StudiesSource.readStudies(spark, "fixtures/studies.json"))
      .filter(org.apache.spark.sql.functions.col("nct_id") === "NCT00000001")
      .collect().head
    val got = PromptTemplate.formatRow("{nct_id}: {gender}", row)
    assert(got.contains("NCT00000001: FEMALE"))
  }

  test("observe counters report processed/bypassed (O18)") {
    val flat = Flatten(StudiesSource.readStudies(spark, "fixtures/studies.json"))
    val (df, obs) = Enrich.withMetrics(Enrich.gated(flat,
      Enrich.GateConfig(Some(8L), Some(Seq("NCT00000001", "NCT00000003")))))
    df.collect()
    val m = obs.get
    assert(m("processed") == 2L && m("bypassed") == 12L)
  }
}
