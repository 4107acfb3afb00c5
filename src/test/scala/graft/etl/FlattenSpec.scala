package graft.etl

import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestSession

/** Edge semantics of the reference flatten (etl.py:178-229). */
class FlattenSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private lazy val flat =
    Flatten(StudiesSource.readStudies(spark, "fixtures/studies.json"))
      .collect().map(r => r.getAs[String]("nct_id") -> r).toMap

  test("all 14 fixture studies flatten") {
    assert(flat.size == 14)
  }

  test("missing identificationModule → nct_id N/A") {
    assert(flat.contains("N/A"))
    assert(flat("N/A").getAs[String]("overall_status") == "UNKNOWN")
  }

  test("missing descriptionModule → both description fields N/A") {
    val r = flat("NCT00000003")
    assert(r.getAs[String]("brief_summary") == "N/A")
    assert(r.getAs[String]("detailed_description") == "N/A")
  }

  test("missing eligibilityModule → criteria and gender N/A") {
    val r = flat("NCT00000009")
    assert(r.getAs[String]("criteria") == "N/A")
    assert(r.getAs[String]("gender") == "N/A")
  }

  test("start_year: full date → year, YYYY-MM → year, bare YYYY → N/A, missing → N/A") {
    assert(flat("NCT00000001").getAs[String]("start_year") == "2019")
    assert(flat("NCT00000003").getAs[String]("start_year") == "2013") // 2013-05
    assert(flat("NCT00000002").getAs[String]("start_year") == "N/A") // bare 2013, etl.py:201
    assert(flat("NCT00000011").getAs[String]("start_year") == "N/A") // no date
  }

  test("api field sex is renamed to gender (etl.py:209)") {
    assert(flat("NCT00000001").getAs[String]("gender") == "FEMALE")
  }
}
