package graft.etl

import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestSession

/** The injectable fetcher seam replicating the reference's HTTP extract
  * protocol (etl.py:115-158): token walk, abort-on-failure, page cap. */
class PageFetcherSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  /** Chain of n pages: page i links to i+1, last page has no token.
    * `failAt` simulates a non-200/network failure on that page. */
  private class StubFetcher(n: Int, failAt: Int = -1, endless: Boolean = false)
      extends PageFetcher {
    var fetched = 0
    def fetch(token: Option[String]): Option[String] = {
      val i = token.map(_.stripPrefix("tok").toInt).getOrElse(1)
      fetched += 1
      val study = s"""{"protocolSection": {"identificationModule": {"nctId": "S$i"}}}"""
      if (i == failAt) None // reference: HTTP != 200 → whole extract aborts
      else if (endless || i < n)
        Some(s"""{"studies": [$study], "nextPageToken": "tok${i + 1}"}""")
      else Some(s"""{"studies": [$study]}""")
    }
  }

  test("token walk accumulates every page until the chain ends") {
    val pages = PageFetcher.fetchPages(new StubFetcher(3)).get
    assert(pages.size == 3)
    assert(PageFetcher.nextToken(pages.head).contains("tok2"))
    assert(PageFetcher.nextToken(pages.last).isEmpty)
  }

  test("only a non-empty string token continues the chain; a non-object body aborts") {
    assert(PageFetcher.parseToken("""{"nextPageToken": ""}""") == Right(None))
    assert(PageFetcher.parseToken("""{"nextPageToken": null}""") == Right(None))
    assert(PageFetcher.parseToken("""{"nextPageToken": 7}""") == Right(None))
    assert(PageFetcher.parseToken("""{"nextPageToken": "t2", "studies": []}""") == Right(Some("t2")))
    assert(PageFetcher.parseToken("""[{"nextPageToken": "t2"}]""").isLeft)
    assert(PageFetcher.parseToken("<html>502</html>").isLeft)
  }

  test("non-200 mid-chain aborts the WHOLE extract to None (no partial result)") {
    val f = new StubFetcher(5, failAt = 3)
    assert(PageFetcher.fetchPages(f).isEmpty)
    assert(f.fetched == 3) // stopped at the failing page, no retry storm
    assert(PageFetcher.readFetched(spark, f).isEmpty)
  }

  test("malformed page body (HTML behind a 200) aborts the WHOLE extract") {
    // an error page served with status 200 must be treated as a protocol
    // failure — partial results are discarded, the garbage is never kept
    val f = new PageFetcher {
      def fetch(token: Option[String]): Option[String] = token match {
        case None => Some("""{"studies": [{"id": "S1"}], "nextPageToken": "tok2"}""")
        case Some(_) => Some("<html>502 Bad Gateway</html>")
      }
    }
    assert(PageFetcher.fetchPages(f).isEmpty)
    assert(PageFetcher.readFetched(spark, f).isEmpty)
  }

  test("endless token chain stops at the page cap (default 100)") {
    val f = new StubFetcher(1, endless = true)
    assert(PageFetcher.fetchPages(f).get.size == 100)
    assert(PageFetcher.fetchPages(new StubFetcher(1, endless = true), maxPages = 5).get.size == 5)
  }

  test("readFetched parses driver-held page bodies into exploded study rows") {
    val df = PageFetcher.readFetched(spark, new StubFetcher(3)).get
    assert(df.count() == 3)
    assert(df.select("protocolSection.identificationModule.nctId").collect().map(_.getString(0))
      .sorted.sameElements(Array("S1", "S2", "S3")))
    // a chain with no study still has every column of the read schema
    val empty = PageFetcher.readFetched(spark, _ => Some("""{"studies": []}""")).get
    assert(Flatten(empty).columns.length == 11)
    assert(empty.count() == 0)
  }

  test("file fetcher agrees with the distributed file walk on the fixtures") {
    val viaSeam = PageFetcher.readFetched(
      spark, new FilePageFetcher("fixtures/pages")).get
    val viaScan = StudiesSource.readPaged(spark, "fixtures/pages")
    assert(viaSeam.count() == viaScan.count())
    assert(viaSeam.count() == 14)
  }

  test("file fetcher: missing first page aborts to None like a network error") {
    assert(PageFetcher.readFetched(
      spark, new FilePageFetcher("fixtures/pages", "nope.json")).isEmpty)
  }
}
