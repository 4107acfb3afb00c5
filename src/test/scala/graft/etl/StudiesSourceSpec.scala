package graft.etl

import java.nio.file.{Files, Path}
import org.scalatest.Outcome
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestSession
import graft.SparkTestSession.{jobsOf, withTempDir}

/** The driver-side page walk (etl.py:115-158): no Spark job for the token
  * chain or the declared-schema page scan, the reference's token rule and
  * its abort-the-extract contract, and one execution of the pipeline's
  * plan when it writes the CSV. */
class StudiesSourceSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val pages = "fixtures/pages" // relative to the project root, the tests' working dir

  /** Each test's temp dirs live under one root, deleted after the test. */
  private var root: Path = _
  override def withFixture(test: NoArgTest): Outcome =
    withTempDir("pagechain") { r => root = r; super.withFixture(test) }

  /** A temp page chain: file name -> body. */
  private def chain(files: (String, String)*): String = {
    val dir = Files.createTempDirectory(root, "chain")
    files.foreach { case (name, body) => Files.writeString(dir.resolve(name), body) }
    dir.toString
  }

  private def study(id: String) =
    s"""{"protocolSection": {"identificationModule": {"nctId": "$id"}}}"""

  private def ids(dir: String): Seq[String] =
    StudiesSource.readPaged(spark, dir)
      .selectExpr("protocolSection.identificationModule.nctId").collect().map(_.getString(0)).toSeq.sorted

  test("walk follows the fixture chain with no Spark job") {
    val (w, jobs) = jobsOf(StudiesSource.walk(pages))
    assert(jobs == 0)
    assert(w.files.map(Path.of(_).getFileName.toString) == Seq("page_1.json", "page_2.json", "page_3.json"))
    assert(w.studies == 14)
  }

  test("readPaged runs no Spark job: the page scan reads a declared schema") {
    val (df, jobs) = jobsOf(StudiesSource.readPaged(spark, pages))
    assert(jobs == 0)
    assert(df.inputFiles.length == 3)
  }

  test("Pipeline.run up to the CSV write adds no job for the extract or its fail-fast") {
    val (_, runJobs) = jobsOf(Pipeline.run(spark, Pipeline.Config(
      pagesDir = pages, essieTerms = Essie.referenceConfigTerms,
      gate = Enrich.GateConfig(maxRows = Some(100L), tuningSet = None))))
    assert(runJobs == 0)
    val (_, failJobs) = jobsOf(intercept[IllegalArgumentException] {
      Pipeline.run(spark, Pipeline.Config(pagesDir = pages, firstPage = "page_empty.json"))
    })
    assert(failJobs == 0)
  }

  test("walked study count equals the scanned row count") {
    for ((first, maxPages) <- Seq(("page_1.json", 100), ("page_1.json", 1), ("page_empty.json", 100))) {
      val walked = StudiesSource.walk(pages, first, maxPages).studies
      assert(walked == StudiesSource.readPaged(spark, pages, first, maxPages).count(), s"$first/$maxPages")
    }
  }

  test("an empty, null or non-string token ends the chain") {
    for (last <- Seq("\"\"", "null", "7", "{}")) {
      val dir = chain(
        "page_1.json" -> s"""{"studies": [${study("A")}], "nextPageToken": "page_2.json"}""",
        "page_2.json" -> s"""{"studies": [${study("B")}], "nextPageToken": $last}""",
        // read twice if the directory itself were taken for a page
        "other.json" -> s"""{"studies": [${study("C")}]}""")
      val w = StudiesSource.walk(dir)
      assert(w.files.size == 2 && w.studies == 2, last)
      assert(ids(dir) == Seq("A", "B"), last)
    }
  }

  test("nextPageToken before studies reads the same as after") {
    def pageDoc(ids: Seq[String], token: Option[String], tokenFirst: Boolean): String = {
      val s = s""""studies": [${ids.map(study).mkString(", ")}]"""
      val t = token.map(x => s""""nextPageToken": "$x"""").toSeq
      (if (tokenFirst) t :+ s else s +: t).mkString("{", ", ", "}")
    }
    def make(tokenFirst: Boolean) = chain(
      "page_1.json" -> pageDoc(Seq("A", "B"), Some("page_2.json"), tokenFirst),
      "page_2.json" -> pageDoc(Seq("C"), None, tokenFirst))
    val (before, after) = (make(tokenFirst = true), make(tokenFirst = false))
    assert(StudiesSource.walk(before).studies == 3)
    assert(StudiesSource.walk(before).studies == StudiesSource.walk(after).studies)
    assert(ids(before) == Seq("A", "B", "C"))
    assert(ids(before) == ids(after))
  }

  test("a page that is not a JSON object aborts the extract, naming the page") {
    for (bad <- Seq("<html>502 Bad Gateway</html>", """[{"studies": []}]""",
                    """{"studies": [""")) {
      val dir = chain(
        "page_1.json" -> s"""{"studies": [${study("A")}], "nextPageToken": "page_2.json"}""",
        "page_2.json" -> bad)
      val e = intercept[java.io.IOException](StudiesSource.readPaged(spark, dir))
      assert(e.getMessage.contains("page_2.json"), bad)
      intercept[java.io.IOException](Pipeline.run(spark, Pipeline.Config(pagesDir = dir)))
    }
  }

  test("a chain longer than the page cap stops at 100 pages, or at maxPages") {
    val n = 120
    val dir = chain((1 to n).map { i =>
      val next = if (i < n) s""", "nextPageToken": "page_${i + 1}.json"""" else ""
      s"page_$i.json" -> s"""{"studies": [${study(s"S$i")}]$next}"""
    }: _*)
    for ((maxPages, want) <- Seq((None, 100), (Some(5), 5))) {
      val w = maxPages.fold(StudiesSource.walk(dir))(m => StudiesSource.walk(dir, maxPages = m))
      assert(w.files.map(Path.of(_).getFileName.toString) == (1 to want).map(i => s"page_$i.json"))
      assert(w.studies == want)
      val scanned = maxPages.fold(StudiesSource.readPaged(spark, dir))(
        m => StudiesSource.readPaged(spark, dir, maxPages = m)).count()
      assert(scanned == w.studies, maxPages)
    }
  }

  test("a missing page aborts the extract, naming the page") {
    val dir = chain("page_1.json" -> s"""{"studies": [${study("A")}], "nextPageToken": "gone.json"}""")
    val e = intercept[java.io.IOException](StudiesSource.walk(dir))
    assert(e.getMessage.contains("gone.json"))
  }

  test("every filter and the flatten resolve on a chain without the optional leaves") {
    val dir = chain(
      "page_1.json" -> s"""{"studies": [${study("A")}], "nextPageToken": "page_2.json"}""",
      "page_2.json" ->
        """{"studies": [{}, {"protocolSection": {"identificationModule": {"briefTitle": "Pregnancy outcomes"}}}]}""")
    val raw = StudiesSource.readPaged(spark, dir)
    val flat = Flatten(raw).collect().map(_.toSeq.map(_.toString)).sortBy(_.mkString("|")).toSeq
    val na = Seq.fill(9)("N/A")
    assert(flat == Seq(Seq("A", "N/A") ++ na, Seq("N/A", "N/A") ++ na, Seq("N/A", "Pregnancy outcomes") ++ na))
    // every row lacks an age, so only the age terms (through MISSING) and
    // the full-text search over the one title keep rows
    val all = Seq("A", "N/A", "N/A")
    val expected = Seq(Nil, Nil, Nil, Nil, all, all, Nil, Seq("N/A"))
    for ((term, want) <- Essie.referenceConfigTerms.zip(expected)) {
      val got = Flatten(raw.filter(Essie.compileAll(Seq(term))))
        .select("nct_id").collect().map(_.getString(0)).toSeq.sorted
      assert(got == want, term)
    }
  }

  test("a study that is not an object aborts every walk; a mistyped leaf reads as null") {
    for (bad <- Seq("5", "null", "\"NCT9\"", "[]")) {
      val dir = chain("page_1.json" -> s"""{"studies": [${study("A")}, $bad]}""")
      val e = intercept[java.io.IOException](StudiesSource.readPaged(spark, dir))
      assert(e.getMessage.contains("page_1.json") && e.getMessage.contains("studies[1]"), bad)
    }
    val dir = chain("page_1.json" -> s"""{"studies": [${study("A")}, {"protocolSection": {
      "identificationModule": {"nctId": "B"}, "statusModule": {"startDateStruct": "2020-01-01"},
      "designModule": {"studyType": "INTERVENTIONAL", "phases": "PHASE1"}}}]}""")
    val raw = StudiesSource.readPaged(spark, dir)
    val b = raw.filter("protocolSection.identificationModule.nctId = 'B'")
    assert(raw.count() == 2)
    assert(b.selectExpr("protocolSection.designModule.phases is null",
      "protocolSection.designModule.studyType").head().toSeq == Seq(true, "INTERVENTIONAL"))
    assert(Flatten(b).select("start_date").head().getString(0) == "N/A")
    assert(raw.filter(Essie.compileAll(Seq("AREA[Phase]PHASE1"))).isEmpty)
    // null leaves and modules are 'N/A'; a string leaf holding an object,
    // an array or a number reads as that value's JSON source text
    val nulls = chain("page_1.json" -> """{"studies": [
      {"protocolSection": {"identificationModule": {"nctId": "A", "briefTitle": null},
        "statusModule": {"overallStatus": null, "startDateStruct": {"date": null}},
        "eligibilityModule": null, "descriptionModule": {"briefSummary": "s"}}},
      {"protocolSection": {"identificationModule": {"nctId": "B",
        "briefTitle": {"x": 1}, "officialTitle": ["a", "b"]}, "statusModule": {"overallStatus": 1.50}}},
      {"protocolSection": null}]}""")
    val rows = Flatten(StudiesSource.readPaged(spark, nulls)).collect().map(_.toSeq).toSeq
    assert(rows.size == 3)
    // nct_id "A" and its summary; "B" and its three mistyped leaves
    assert(rows.flatten.count(_ != "N/A") == 6)
    assert(rows.exists(_.take(4) == Seq("B", """{"x": 1}""", """["a", "b"]""", "1.50")))
  }

  /** The fixture chain copied to a temp dir, so a test can remove it. */
  private def fixtureCopy(): Path = {
    val dir = Files.createTempDirectory(root, "pagecopy")
    Files.list(Path.of(pages)).forEach(p => Files.copy(p, dir.resolve(p.getFileName)))
    dir
  }

  test("with a sink, Pipeline.run's frame holds its rows: no page is read again") {
    val dir = fixtureCopy()
    val out = root.resolve("csv").toString
    val (df, obs) = Enrich.withMetrics(Pipeline.run(spark, Pipeline.Config(
      pagesDir = dir.toString, essieTerms = Essie.referenceConfigTerms,
      gate = Enrich.GateConfig(maxRows = Some(2L), tuningSet = None), outputPath = Some(out))))
    Files.list(dir).forEach(p => Files.delete(p))
    assert(df.inputFiles.isEmpty)
    assert(df.count() == 3) // would fail on the deleted pages if the plan ran again
    assert(obs.get == Map("processed" -> 2L, "bypassed" -> 1L))
    assert(spark.read.option("header", true).option("multiLine", true).csv(out).count() == 3)
  }

  test("the frame Pipeline.run returns has the CSV's row order: processed first, then nct_id") {
    val out = root.resolve("csv").toString
    val df = Pipeline.run(spark, Pipeline.Config(pagesDir = pages,
      gate = Enrich.GateConfig(maxRows = Some(5L),
        tuningSet = Some(Seq("NCT00000003", "NCT00000004", "NCT00000009"))),
      outputPath = Some(out)))
    val rows = df.select("nct_id", "processed").collect().map(r => (r.getString(0), r.getInt(1))).toSeq
    val csv = spark.read.option("header", true).option("multiLine", true).csv(out)
      .select("nct_id").collect().map(_.getString(0)).toSeq
    assert(rows.map(_._1) == csv)
    assert(rows.take(2) == Seq(("NCT00000003", 1), ("NCT00000004", 1)))
    assert(rows.drop(2).map(_._2).forall(_ == 0))
    assert(rows.drop(2).map(_._1) == rows.drop(2).map(_._1).sorted)
    assert(rows.size == 14)
  }
}
