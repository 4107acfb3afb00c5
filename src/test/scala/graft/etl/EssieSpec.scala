package graft.etl

import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestSession

/** Essie term shapes (SURVEY.md §2.2) against the studies fixture. */
class EssieSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private def raw = StudiesSource.readStudies(spark, "fixtures/studies.json")

  private def ids(terms: String*): Set[String] = {
    import org.apache.spark.sql.functions.col
    raw.filter(Essie.compileAll(terms))
      .select(col("protocolSection.identificationModule.nctId"))
      .collect().map(r => Option(r.getString(0)).getOrElse("null")).toSet
  }

  test("full reference config conjunction selects exactly the designed rows") {
    assert(ids(Essie.referenceConfigTerms: _*) == Set("NCT00000001", "NCT00000010", "NCT00000012"))
  }

  test("equality term") {
    assert(ids("AREA[StudyType]OBSERVATIONAL") == Set("NCT00000002"))
  }

  test("date range applies to padded partial dates (YYYY-MM inside range)") {
    assert(ids("AREA[StartDate]RANGE[2013-05-01,2013-12-31]") == Set("NCT00000003"))
  }

  test("nested-location EXISTS") {
    val canada = ids("SEARCH[Location](AREA[LocationCountry]Canada)")
    assert(canada.contains("NCT00000001") && canada.contains("NCT00000004"))
    assert(!canada.contains("NCT00000003")) // US only
  }

  test("disjunction") {
    assert(ids("(AREA[Sex]MALE OR AREA[Sex]ALL)")
      .intersect(Set("NCT00000002", "NCT00000013")).size == 2)
  }

  test("MISSING branch matches every row with an absent age (incl. missing module)") {
    // NCT00000010 omits maximumAge; NCT00000009 has no eligibilityModule at
    // all; the no-id study has no ages — all are MISSING per .get() semantics
    assert(ids("AREA[MaximumAge]MISSING") == Set("null", "NCT00000009", "NCT00000010"))
  }

  test("unit-bearing age range: 17 Years fails RANGE[18 Years,MAX]") {
    assert(!ids("AREA[MaximumAge]RANGE[18 Years,MAX]").contains("NCT00000014"))
  }

  test("phase IN-list via array membership") {
    assert(ids("AREA[Phase]EARLY_PHASE1") == Set("NCT00000010"))
    assert(ids("(AREA[Phase]PHASE3 OR AREA[Phase]PHASE4)")
      == Set("NCT00000003", "NCT00000004", "NCT00000007"))
  }

  test("full-text search spans title/summary/criteria") {
    assert(ids("SEARCH[Study]insomnia") == Set("NCT00000002"))
  }

  test("unparseable term throws") {
    intercept[IllegalArgumentException] { Essie.parse("GIBBERISH") }
  }

  /** Ids a term selects on a one-line page read with the extract's schema. */
  private def pageIds(term: String): Set[String] = {
    import spark.implicits._
    val page = """{"studies": [
      {"protocolSection": {"identificationModule": {"nctId": "A"},
        "statusModule": {"overallStatus": "RECRUITING"}, "designModule": {"phases": ["PHASE1"]},
        "contactsLocationsModule": {"locations": [{"country": "Canada"}]}}},
      {"protocolSection": {"identificationModule": {"nctId": "B"},
        "statusModule": {"overallStatus": null}, "designModule": {"phases": []},
        "contactsLocationsModule": {"locations": [{"city": "Lyon"}]}}},
      {"protocolSection": {"identificationModule": {"nctId": "C"}}}]}""".replace("\n", " ")
    StudiesSource.explodeStudies(spark.read.schema(StudiesSource.ReadSchema).json(Seq(page).toDS))
      .filter(Essie.compileAll(Seq(term)))
      .select("protocolSection.identificationModule.nctId").as[String].collect().toSet
  }

  test("any table field: equality and MISSING on OverallStatus") {
    assert(ids("AREA[OverallStatus]RECRUITING") == Set("NCT00000001", "NCT00000004", "NCT00000006",
      "NCT00000008", "NCT00000010", "NCT00000012", "NCT00000013", "NCT00000014"))
    assert(pageIds("AREA[OverallStatus]RECRUITING") == Set("A"))
    assert(ids("AREA[OverallStatus]MISSING").isEmpty) // every fixture study has one
    assert(pageIds("AREA[OverallStatus]MISSING") == Set("B", "C"))
  }

  test("list MISSING: no member present") {
    assert(ids("AREA[Phase]MISSING") == Set("NCT00000002"))
    assert(pageIds("AREA[Phase]MISSING") == Set("B", "C"))
    assert(pageIds("AREA[LocationCountry]MISSING") == Set("B", "C"))
    assert(pageIds("SEARCH[Location](AREA[LocationCountry]Canada)") == Set("A"))
  }

  test("an unknown field or an unsupported shape throws naming the field, before any plan") {
    for ((term, field) <- Seq("AREA[Foo]RANGE[a,b]" -> "Foo", "AREA[Foo]X" -> "Foo",
        "AREA[Foo]MISSING" -> "Foo", "AREA[OverallStatus]RANGE[a,b]" -> "OverallStatus",
        "AREA[StartDate]2013" -> "StartDate", "AREA[MinimumAge]RANGE[ten,MAX]" -> "MinimumAge",
        "SEARCH[Location](AREA[Country]Canada)" -> "Country")) {
      val e = intercept[IllegalArgumentException] { Essie.compile(Essie.parse(term)) }
      assert(e.getMessage.contains(field), e.getMessage)
    }
  }

  test("every table field resolves against the paged extract's read schema") {
    import org.apache.spark.sql.Row
    val page = spark.createDataFrame(java.util.List.of[Row](), StudiesSource.ReadSchema)
    val studies = StudiesSource.explodeStudies(page)
    for (f <- Essie.fields.keys) studies.filter(Essie.compileAll(Seq(s"AREA[$f]MISSING"))).queryExecution.analyzed
  }
}
