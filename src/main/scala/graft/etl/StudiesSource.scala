package graft.etl

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import com.fasterxml.jackson.core.{JsonFactory, JsonParser, JsonToken}

/** Sources for raw ClinicalTrials.gov-shaped study documents.
  *
  * The reference extracts studies from a paginated REST API
  * (`/root/reference/etl.py:86-171`): GET a page, accumulate
  * `studies`, follow `nextPageToken` until absent, hard-stop at 100
  * pages. Page fetch is inherently serial (each request needs the
  * previous page's token), so — as in the reference — pagination is a
  * driver-side loop, [[walk]]: a streaming JSON parse of each page on
  * the driver that reads the token and counts the studies, with no
  * Spark job and no page built as a tree. Spark parallelism starts once
  * the page set is known: all walked pages are read by a single
  * distributed `spark.read.json` over the file list (the "page union" of
  * `etl.py:130-131` becomes one multi-file scan instead of N unions)
  * against the declared [[ReadSchema]], so the extract runs no Spark job
  * at any page count and the pages are parsed only when the pipeline's
  * plan executes, decoding just the leaves it uses. This is the only
  * reader of study pages: the single-file fixture ([[readStudies]]) is a
  * chain of one page.
  *
  * Offline stand-in: a page document is a file (any Hadoop path) and
  * `nextPageToken` holds the *name of the next page file*. [[walk]] is
  * the one page-chain walk and [[readPage]] its one token rule; the
  * REST fetch itself is not ported, since the port runs offline.
  */
object StudiesSource {

  // Jackson ships on the Spark classpath; driver-side, one page at a time
  // — not a per-row hot path.
  private val json = new JsonFactory()

  /** What a page-chain walk needs from one page: the token of the next
    * page and how many study objects the page holds. */
  private final case class PageInfo(token: Option[String], studies: Long)

  /** The token rule of the page-chain walk, read with a streaming
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
  private def readPage(in: JsonParser): Option[PageInfo] =
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

  /** Explode a page-document frame read against [[ReadSchema]] into one
    * row per raw study. */
  def explodeStudies(doc: DataFrame): DataFrame =
    doc.select(explode(col("studies")).as("study")).select("study.*")

  /** The pages of one chain and the studies they hold. */
  final case class Walk(files: Seq[String], studies: Long)

  /** Follow the pagination chain from `first` on the driver, honoring the
    * reference's 100-page safety cap (`etl.py:155-158`). Runs no Spark
    * job. A page that cannot be read or is not a JSON object aborts the
    * whole extract with an IOException naming the page, as a failed
    * fetch does in the reference (`etl.py:124-127`). */
  def walk(dir: String, first: String = "page_1.json", maxPages: Int = 100,
           conf: Configuration = new Configuration()): Walk = {
    val files = scala.collection.mutable.ArrayBuffer.empty[String]
    var studies = 0L
    var next: Option[String] = Some(first)
    while (next.isDefined && files.size < maxPages) {
      val path = s"$dir/${next.get}"
      val page =
        try {
          val p = new Path(path)
          val in: java.io.InputStream = p.getFileSystem(conf).open(p)
          readPage(json.createParser(in))
        } catch {
          case e: java.io.IOException =>
            throw new java.io.IOException(s"extract aborted: cannot read page $path: ${e.getMessage}", e)
        }
      val info = page.getOrElse(
        throw new java.io.IOException(s"extract aborted: page $path is not a JSON object"))
      files += path
      studies += info.studies
      next = info.token
    }
    Walk(files.toSeq, studies)
  }

  /** The page document as [[scan]], the one study read, declares it (no
    * study read infers a schema): exactly the study leaves [[Flatten]] and
    * [[Essie.compile]] use, all strings but `phases` and `locations`.
    * Declaring it skips schema inference (an eager full parse of every
    * page), lets the parser decode only these leaves, and makes every
    * filter resolve whichever optional leaves a chain happens to hold, an
    * empty one included. A string leaf holding
    * another JSON value reads as that value's source text; a struct or
    * array holding a value of another type reads as null (`'N/A'`), and
    * its row is kept. A non-object study is rejected by the walk
    * ([[readPage]]). */
  val ReadSchema: StructType = StructType.fromDDL(
    """studies ARRAY<STRUCT<protocolSection: STRUCT<
      |  identificationModule: STRUCT<nctId: STRING, briefTitle: STRING, officialTitle: STRING>,
      |  statusModule: STRUCT<overallStatus: STRING, startDateStruct: STRUCT<date: STRING>>,
      |  designModule: STRUCT<studyType: STRING, phases: ARRAY<STRING>>,
      |  eligibilityModule: STRUCT<sex: STRING, eligibilityCriteria: STRING,
      |                            minimumAge: STRING, maximumAge: STRING>,
      |  descriptionModule: STRUCT<briefSummary: STRING, detailedDescription: STRING>,
      |  contactsLocationsModule: STRUCT<locations: ARRAY<STRUCT<country: STRING>>>>>>""".stripMargin)

  /** One raw-study row per study of the walked pages: a single
    * distributed scan against [[ReadSchema]] (no Spark job until the
    * frame is used). A chain with no study, or no page, still has every
    * column, so [[Flatten]] and every filter resolve on it. */
  def scan(spark: SparkSession, pages: Walk): DataFrame =
    explodeStudies(
      spark.read.schema(ReadSchema).option("multiLine", true).json(pages.files: _*))

  /** [[walk]] the chain, then [[scan]] every page in one distributed read. */
  def readPaged(spark: SparkSession, dir: String, first: String = "page_1.json",
                maxPages: Int = 100): DataFrame =
    scan(spark, walk(dir, first, maxPages, spark.sessionState.newHadoopConf()))

  /** Read one studies-document file (`fixtures/studies.json`): a chain of
    * one page, read like any other. */
  def readStudies(spark: SparkSession, path: String): DataFrame = {
    val p = new Path(path)
    readPaged(spark, p.getParent.toString, p.getName, maxPages = 1)
  }
}
