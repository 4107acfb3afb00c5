package graft

import java.nio.file.{Files, Path, Paths}
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.SparkSession
import graft.etl.{ConfigLoader, Enrich, Essie, Pipeline}
import graft.SparkTestSession.withTempDir

/** End-to-end pipeline composition + SQL extension registration. */
class PipelineSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  test("full pipeline: paged extract -> essie -> flatten -> gated enrich -> csv") {
    withTempDir("pipeline") { tmp =>
      val out = tmp.toString
      val df = Pipeline.run(spark, Pipeline.Config(
        pagesDir = "fixtures/pages",
        essieTerms = Essie.referenceConfigTerms,
        gate = Enrich.GateConfig(maxRows = Some(100L), tuningSet = None),
        outputPath = Some(out + "/result")))
      val rows = df.collect()
      assert(rows.map(_.getAs[String]("nct_id")).toSet ==
        Set("NCT00000001", "NCT00000010", "NCT00000012"))
      assert(rows.forall(_.getAs[String]("ai_determined_value") != "N/A"))
      val files = Files.list(java.nio.file.Paths.get(out + "/result"))
        .filter(_.toString.endsWith(".csv")).toArray
      assert(files.nonEmpty)
    }
  }

  test("graft.Main's pipeline on the fixture config writes the golden CSV") {
    // the run `graft.Main --config fixtures/config.yaml --pages fixtures/pages`
    // makes; fixtures/expected/pipeline_out.csv is its part file
    val cfg = ConfigLoader.load("fixtures/config.yaml")
    withTempDir("golden") { tmp =>
      val out = tmp.resolve("csv")
      val (df, obs) = Enrich.withMetrics(Pipeline.run(spark, Pipeline.Config(
        pagesDir = "fixtures/pages", essieTerms = cfg.filterAdvanced, gate = cfg.gate,
        outputPath = Some(out.toString))))
      assert(df.count() == 8)
      assert(obs.get == Map("processed" -> 2L, "bypassed" -> 6L))
      val parts = Files.list(out).filter(_.toString.endsWith(".csv")).toArray.toSeq
      assert(parts.size == 1)
      val got = Files.readAllBytes(parts.head.asInstanceOf[Path])
      assert(got.sameElements(Files.readAllBytes(Paths.get("fixtures/expected/pipeline_out.csv"))))
    }
  }

  test("a pipeline run on a fresh session compiles no class an earlier run compiled") {
    // Pipeline.run turns artifact isolation off on the session it is
    // given; on an isolated fresh session, the run's tasks would load its
    // generated classes through their own classloader and compile them again
    val cfg = ConfigLoader.load("fixtures/config.yaml")
    def compiledByRun(): Long = withTempDir("pipeline_codegen") { tmp =>
      val before = org.apache.spark.CodegenCompilations()
      val df = Pipeline.run(spark.newSession(), Pipeline.Config(
        pagesDir = "fixtures/pages", essieTerms = cfg.filterAdvanced, gate = cfg.gate,
        outputPath = Some(tmp.resolve("csv").toString)))
      assert(df.count() == 8)
      org.apache.spark.CodegenCompilations() - before
    }
    compiledByRun()
    assert(compiledByRun() == 0)
  }

  test("empty extract fails fast like the reference") {
    intercept[IllegalArgumentException] {
      Pipeline.run(spark, Pipeline.Config(
        pagesDir = "fixtures/pages", firstPage = "page_empty.json"))
    }
  }

  test("cosine_similarity is usable from SQL via extensions") {
    val prev = spark // ensure the shared context exists
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try {
      // builds a NEW session over the existing context, with extensions
      val s2 = SparkSession.builder()
        .master("local[4]")
        .withExtensions(new GraftExtensions)
        .getOrCreate()
      val r = s2.sql(
        "SELECT cosine_similarity(array(CAST(1.0 AS FLOAT), CAST(0.0 AS FLOAT)), " +
          "array(CAST(1.0 AS FLOAT), CAST(0.0 AS FLOAT))) AS sim").collect()
      assert(math.abs(r.head.getDouble(0) - 1.0) < 1e-12)
    } finally {
      SparkSession.setDefaultSession(prev)
      SparkSession.setActiveSession(prev)
    }
  }
}
