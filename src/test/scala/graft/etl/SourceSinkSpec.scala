package graft.etl

import java.nio.file.{Files, Paths}
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestSession
import graft.SparkTestSession.withTempDir

/** Paginated source protocol (etl.py:115-158) + CSV sink layout
  * (etl.py:449-460). */
class SourceSinkSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  test("pagination follows nextPageToken across all pages") {
    val df = StudiesSource.readPaged(spark, "fixtures/pages")
    assert(df.count() == 14) // 6 + 6 + 2
  }

  test("page without nextPageToken ends the chain; maxPages caps it") {
    val one = StudiesSource.readPaged(spark, "fixtures/pages", maxPages = 1)
    assert(one.count() == 6)
  }

  test("empty page yields zero rows without erroring") {
    val df = StudiesSource.readPaged(spark, "fixtures/pages", first = "page_empty.json")
    assert(df.count() == 0)
    val flat = Flatten(df)
    assert(flat.columns.length == 11)
    assert(flat.count() == 0)
  }

  test("csv sink: fixed header order incl. phantom empty min/max age, optional AI column") {
    val flat = Flatten(StudiesSource.readStudies(spark, "fixtures/studies.json"))
    val enriched = Enrich.enrichAll(flat)
    withTempDir("csvsink") { tmp =>
      val dir = tmp.toString
      CsvSink.write(enriched, dir, aiColumn = Some("ai_determined_value"))
      val part = Files.list(Paths.get(dir)).filter(_.toString.endsWith(".csv")).findFirst().get
      val lines = Files.readAllLines(part)
      assert(lines.get(0) ==
        "nct_id,brief_title,official_title,overall_status,minimum_age,maximum_age," +
          "study_type,start_date,gender,brief_summary,detailed_description,criteria," +
          "start_year,ai_determined_value")
      // phantom columns are empty on every row (etl.py:451 + DictWriter restval)
      val body = lines.subList(1, lines.size())
      body.forEach { l =>
        val cols = l.split(",", -1)
        // row may span lines if quoted newlines existed — fixture has none
        if (cols.length >= 6) assert(cols(4) == "" && cols(5) == "")
      }
    }
  }

  test("csv sink without AI column omits it") {
    val flat = Flatten(StudiesSource.readStudies(spark, "fixtures/studies.json"))
    withTempDir("csvsink2") { tmp =>
      val dir = tmp.toString
      CsvSink.write(flat, dir, aiColumn = None)
      val part = Files.list(Paths.get(dir)).filter(_.toString.endsWith(".csv")).findFirst().get
      val header = Files.readAllLines(part).get(0)
      assert(header.endsWith(",start_year"))
    }
  }

  test("csv sink: a failed overwrite leaves the previous output byte-identical") {
    import org.apache.spark.sql.functions.{col, lit, raise_error, when}
    withTempDir("csvsink_keep") { root =>
      val dir = Files.createDirectory(root.resolve("out"))
      val src = root.resolve("src")
      // a file scan, so the planted failure fires in a task of the write
      // job rather than while the optimizer folds a local relation
      Flatten(StudiesSource.readStudies(spark, "fixtures/studies.json")).limit(3)
        .write.mode("overwrite").parquet(src.toString)
      val flat = spark.read.parquet(src.toString)
      CsvSink.write(flat, dir.toString, aiColumn = None)
      def parts = Files.list(dir).filter(_.toString.endsWith(".csv")).toArray.toSeq
        .map(p => p.toString -> Files.readAllBytes(p.asInstanceOf[java.nio.file.Path]).toSeq)
      val before = parts
      assert(before.size == 1)
      val failing = flat.withColumn("nct_id",
        when(col("nct_id") === flat.select("nct_id").head().getString(0),
          raise_error(lit("planted sink failure"))).otherwise(col("nct_id")))
      intercept[Exception](CsvSink.write(failing, dir.toString, aiColumn = None))
      assert(parts == before, "the old part file must survive a failed overwrite")
      assert(Files.list(dir.getParent).noneMatch(_.getFileName.toString.startsWith(s"_tmp_${dir.getFileName}")),
        "a failed write removes its tmp dir")
    }
  }

  test("writeExact is byte-identical to Python csv: CRLF, QUOTE_MINIMAL, restval") {
    import spark.implicits._
    val df = Seq(
      ("NCT1", "has,comma", "has\"quote", "DONE", "T", "2020-01-01", "ALL",
        "line\nbreak", "cr\rhere", "plain", "2020"),
      ("NCT2", "plain", "", "DONE", "T", "2020-01-01", "ALL",
        "s", "d", "c", "2020"))
      .toDF("nct_id", "brief_title", "official_title", "overall_status",
        "study_type", "start_date", "gender", "brief_summary",
        "detailed_description", "criteria", "start_year")
    withTempDir("csvexact") { tmp =>
      val dir = tmp.toString
      CsvSink.writeExact(df, dir)
      val part = Files.list(Paths.get(dir)).filter(_.toString.endsWith(".txt")).findFirst().get
      val bytes = new String(Files.readAllBytes(part), java.nio.charset.StandardCharsets.UTF_8)
      // hand-assembled per Python csv.DictWriter semantics: \r\n after
      // EVERY row (header and last row included); a field quotes iff it
      // contains delimiter/quote/\r/\n; embedded quotes double; absent
      // keys (the phantom min/max age) write restval ''
      val expected =
        "nct_id,brief_title,official_title,overall_status,minimum_age,maximum_age," +
          "study_type,start_date,gender,brief_summary,detailed_description,criteria,start_year\r\n" +
          "NCT1,\"has,comma\",\"has\"\"quote\",DONE,,,T,2020-01-01,ALL," +
          "\"line\nbreak\",\"cr\rhere\",plain,2020\r\n" +
          "NCT2,plain,,DONE,,,T,2020-01-01,ALL,s,d,c,2020\r\n"
      assert(bytes == expected,
        s"byte diff:\n got=${bytes.replace("\r", "\\r").replace("\n", "\\n")}\nwant=${expected.replace("\r", "\\r").replace("\n", "\\n")}")
    }
  }
}
