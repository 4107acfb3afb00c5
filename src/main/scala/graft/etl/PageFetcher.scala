package graft.etl

import org.apache.spark.sql.{DataFrame, SparkSession}
import com.fasterxml.jackson.core.{JsonFactory, JsonParser, JsonToken}

/** Injectable page-fetch seam for the paginated studies extract.
  *
  * The reference walks a REST token chain on the driver
  * (`/root/reference/etl.py:115-158`): GET a page with a 60 s timeout,
  * abort the WHOLE extract (return None) on any non-200 / network /
  * parse failure, follow `nextPageToken` until absent, and stop at a
  * 100-page safety cap. The fetch is inherently serial — each request
  * needs the previous page's token — so it stays a driver-side loop
  * here too; Spark parallelism starts once the page bodies are known.
  */
trait PageFetcher {

  /** Fetch one page document. `token` is None for the first page,
    * Some(nextPageToken) afterwards. Returns the raw JSON body, or None
    * on any protocol failure (non-200 status, timeout, network error) —
    * the reference's abort-the-extract contract. */
  def fetch(token: Option[String]): Option[String]
}

/** Real HTTP implementation of the reference protocol on the JDK's
  * built-in client (no extra dependencies): GET `apiUrl` with
  * `pageSize`, `filter.advanced`, and (after page 1) `pageToken` query
  * params, 60 s connect/request timeout, non-200 → None, network error
  * → None (`etl.py:121-127,163-165`). */
final class HttpPageFetcher(
    apiUrl: String,
    pageSize: Int = 1000,
    filterAdvanced: String = "",
    timeoutSec: Long = 60) extends PageFetcher {

  private lazy val client = java.net.http.HttpClient.newBuilder()
    .connectTimeout(java.time.Duration.ofSeconds(timeoutSec)).build()

  def fetch(token: Option[String]): Option[String] = {
    val enc = (s: String) => java.net.URLEncoder.encode(s, "UTF-8")
    val params = Seq("pageSize" -> pageSize.toString, "filter.advanced" -> filterAdvanced) ++
      token.map("pageToken" -> _)
    val uri = java.net.URI.create(
      apiUrl + "?" + params.map { case (k, v) => s"${enc(k)}=${enc(v)}" }.mkString("&"))
    try {
      val req = java.net.http.HttpRequest.newBuilder(uri)
        .timeout(java.time.Duration.ofSeconds(timeoutSec)).GET().build()
      val resp = client.send(req, java.net.http.HttpResponse.BodyHandlers.ofString())
      if (resp.statusCode() == 200) Some(resp.body()) else None
    } catch {
      case _: java.io.IOException | _: InterruptedException => None
    }
  }
}

/** Offline stand-in with the same seam: a page document is a local JSON
  * file and the token is the NAME of the next page file. */
final class FilePageFetcher(dir: String, first: String = "page_1.json") extends PageFetcher {
  def fetch(token: Option[String]): Option[String] =
    try Some(java.nio.file.Files.readString(
      java.nio.file.Paths.get(s"$dir/${token.getOrElse(first)}")))
    catch { case _: java.io.IOException => None }
}

object PageFetcher {

  // Jackson ships on the Spark classpath; driver-side, one page at a time
  // — not a per-row hot path.
  private[graft] val json = new JsonFactory()

  /** What a page-chain walk needs from one page: the token of the next
    * page and how many study objects the page holds. */
  final case class PageInfo(token: Option[String], studies: Long)

  /** The one token rule of every page-chain walk, read with a streaming
    * parser so no page is built as a tree: each study is counted and
    * skipped with `skipChildren()`. `nextPageToken` continues the chain
    * only when it is a non-empty string; absent, empty (`""`), null or
    * non-string ends it, like the reference's `if not next_page_token`
    * break (`etl.py:147-150`). Field order does not matter; a repeated
    * field keeps its last value. None = the document is not a JSON
    * object; malformed JSON throws the parser's IOException, and so does
    * a `studies` element that is not an object (naming its index): the
    * declared-schema scan would drop such a page without an error.
    * Closes `in`. */
  private[graft] def readPage(in: JsonParser): Option[PageInfo] =
    try {
      if (in.nextToken() != JsonToken.START_OBJECT) None
      else {
        var token: Option[String] = None
        var studies = 0L
        while (in.nextToken() == JsonToken.FIELD_NAME) {
          val field = in.currentName()
          val value = in.nextToken()
          field match {
            case "nextPageToken" =>
              token = if (value == JsonToken.VALUE_STRING) Some(in.getText).filter(_.nonEmpty) else None
              in.skipChildren()
            case "studies" =>
              studies = 0L
              if (value == JsonToken.START_ARRAY)
                while (in.nextToken() != JsonToken.END_ARRAY) {
                  if (in.currentToken() != JsonToken.START_OBJECT)
                    throw new java.io.IOException(
                      s"studies[$studies] is not a JSON object (${in.currentToken()})")
                  studies += 1
                  in.skipChildren()
                }
              else in.skipChildren()
            case _ => in.skipChildren()
          }
        }
        Some(PageInfo(token, studies))
      }
    } finally in.close()

  /** Token parse with failure distinguished from absence: Left = the
    * body is not a JSON object (protocol failure — e.g. an HTML error
    * page behind a 200), Right(None) = a well-formed final page,
    * Right(token) = more pages. The distinction matters: a malformed
    * body must abort the whole extract (partial results are discarded,
    * etl.py:124-127), not silently terminate the chain with garbage kept. */
  private[etl] def parseToken(body: String): Either[Unit, Option[String]] =
    try readPage(json.createParser(body)).map(_.token).toRight(())
    catch { case _: java.io.IOException => Left(()) }

  /** `nextPageToken` of a page body, if present and non-empty. */
  def nextToken(body: String): Option[String] =
    parseToken(body).toOption.flatten

  /** Walk the token chain: accumulate page bodies until no token, abort
    * to None if ANY page fails (`etl.py:124-127` — partial results are
    * discarded), hard-stop at `maxPages`. */
  def fetchPages(fetcher: PageFetcher, maxPages: Int = 100): Option[Seq[String]] = {
    val pages = scala.collection.mutable.ArrayBuffer.empty[String]
    var token: Option[String] = None
    var more = true
    while (more && pages.size < maxPages) {
      fetcher.fetch(token) match {
        case None => return None
        case Some(body) =>
          parseToken(body) match {
            case Left(_) => return None // malformed page — discard everything
            case Right(t) =>
              pages += body
              token = t
              more = t.isDefined
          }
      }
    }
    Some(pages.toSeq)
  }

  /** Full extract through the seam: fetch every page on the driver, then
    * parse + explode distributed (`spark.read.json` over an in-memory
    * Dataset — one record per page body, so multiline page docs are
    * fine) against [[StudiesSource.ReadSchema]], like the file scan: the
    * same columns whatever the pages hold, none at all included. None if
    * the walk aborted. For file-backed page sets prefer
    * [[StudiesSource.readPaged]], which scans page FILES distributed
    * instead of materializing bodies on the driver. */
  def readFetched(spark: SparkSession, fetcher: PageFetcher,
                  maxPages: Int = 100): Option[DataFrame] =
    fetchPages(fetcher, maxPages).map { pages =>
      import spark.implicits._
      StudiesSource.explodeStudies(
        spark.read.schema(StudiesSource.ReadSchema).json(spark.createDataset(pages)))
    }
}
