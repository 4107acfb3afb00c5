package graft.sources

import java.nio.file.{Files, Paths}
import java.util.{Map => JMap}
import java.nio.charset.StandardCharsets.UTF_8
import scala.collection.mutable
import com.fasterxml.jackson.core.JsonToken
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.sources.{EqualTo, Filter, IsNotNull, StringStartsWith}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String
import graft.etl.PageFetcher

/** DataSource V2 batch source for paginated studies-page documents
  * (SURVEY.md O2/O3 as a first-class Spark source).
  *
  *   spark.read.format("graft.sources.StudiesDataSource")
  *     .option("path", pagesDir).load()
  *
  * Produces the reference's flattened 11-column schema directly
  * (etl.py:217-229). V2 integration points implemented:
  *  - `SupportsPushDownRequiredColumns`: only requested leaves are
  *    extracted from the JSON documents;
  *  - `SupportsPushDownFilters`: EqualTo / StringStartsWith / IsNotNull
  *    on flat columns are evaluated inside the reader (rows drop before
  *    reaching Spark) — the in-engine analog of the reference's
  *    server-side `filter.advanced` pushdown (etl.py:98-104);
  *  - one `InputPartition` per page file → page-parallel scans (the
  *    reference walks pages serially; here the token chain is resolved
  *    up front on the driver, then pages read concurrently).
  */
class StudiesDataSource extends TableProvider {

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    StudiesDataSource.schema

  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: JMap[String, String]): Table =
    new StudiesTable(properties.get("path"))
}

object StudiesDataSource {
  val schema: StructType = StructType(Seq(
    "nct_id", "brief_title", "official_title", "overall_status", "study_type",
    "start_date", "gender", "brief_summary", "detailed_description", "criteria",
    "start_year").map(StructField(_, StringType, nullable = false)))

  /** Resolve the page chain (nextPageToken = next file name), capped at
    * the reference's 100-page guard (etl.py:155-158). Tokens follow the
    * extract's rule ([[graft.etl.PageFetcher.readPage]]); a token naming a
    * file not yet present ends the chain (see the micro-batch stream). */
  def resolvePages(dir: String, first: String = "page_1.json", maxPages: Int = 100): Seq[String] = {
    var next: Option[String] = Some(first)
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    while (next.isDefined && out.size < maxPages) {
      val p = Paths.get(dir, next.get)
      if (!Files.exists(p)) { next = None }
      else {
        out += p.toString
        val page =
          try PageFetcher.readPage(PageFetcher.json.createParser(p.toFile))
          catch {
            case e: java.io.IOException => throw new java.io.IOException(s"page $p: ${e.getMessage}", e)
          }
        next = page.getOrElse(throw new java.io.IOException(s"page $p is not a JSON object")).token
      }
    }
    out.toSeq
  }

  /** Study leaf path -> the flattened column it fills. */
  private val leafColumn: Map[Seq[String], String] = Map(
    Seq("protocolSection", "identificationModule", "nctId") -> "nct_id",
    Seq("protocolSection", "identificationModule", "briefTitle") -> "brief_title",
    Seq("protocolSection", "identificationModule", "officialTitle") -> "official_title",
    Seq("protocolSection", "statusModule", "overallStatus") -> "overall_status",
    Seq("protocolSection", "designModule", "studyType") -> "study_type",
    Seq("protocolSection", "statusModule", "startDateStruct", "date") -> "start_date",
    Seq("protocolSection", "eligibilityModule", "sex") -> "gender",
    Seq("protocolSection", "descriptionModule", "briefSummary") -> "brief_summary",
    Seq("protocolSection", "descriptionModule", "detailedDescription") -> "detailed_description",
    Seq("protocolSection", "eligibilityModule", "eligibilityCriteria") -> "criteria")

  /** The leaves of each study on one page, column -> value, as Flatten
    * reads them over the paged scan: a string's text, any other value's
    * JSON source text (Spark's exact string parsing of a string-typed
    * leaf), a JSON `null` or absent leaf left out. */
  private[sources] def studyLeaves(page: Array[Byte]): Seq[Map[String, String]] = {
    val p = PageFetcher.json.createParser(page)
    def value(): Option[String] = p.currentToken match {
      case JsonToken.VALUE_NULL => None
      case JsonToken.VALUE_STRING => Some(p.getText)
      case _ =>
        val start = p.currentTokenLocation().getByteOffset.toInt
        p.skipChildren()
        Some(new String(page, start, p.currentLocation().getByteOffset.toInt - start, UTF_8))
    }
    def eachField(f: String => Unit): Unit =
      while (p.nextToken() == JsonToken.FIELD_NAME) { val k = p.currentName(); p.nextToken(); f(k) }
    def study(path: Seq[String], out: mutable.Map[String, String]): Unit = eachField { k =>
      val here = path :+ k
      leafColumn.get(here) match {
        case Some(c) => value().foreach(out(c) = _)
        case None if p.currentToken == JsonToken.START_OBJECT => study(here, out)
        case None => p.skipChildren()
      }
    }
    val studies = mutable.ArrayBuffer.empty[mutable.Map[String, String]]
    try if (p.nextToken() == JsonToken.START_OBJECT) eachField {
      case "studies" if p.currentToken == JsonToken.START_ARRAY =>
        while (p.nextToken() != JsonToken.END_ARRAY) {
          studies += mutable.Map.empty
          if (p.currentToken == JsonToken.START_OBJECT) study(Nil, studies.last) else p.skipChildren()
        }
      case _ => p.skipChildren()
    } finally p.close()
    studies.map(_.toMap).toSeq
  }

  /** One flattened column value of a [[studyLeaves]] study ('N/A' for a
    * missing leaf; start_year is derived — etl.py:201). */
  private[sources] def extract(study: Map[String, String], colName: String): String = colName match {
    case "start_year" =>
      val sd = extract(study, "start_date")
      if (sd != "N/A" && sd.contains("-")) sd.split("-")(0) else "N/A"
    case other => study.getOrElse(other, "N/A")
  }
}

private class StudiesTable(path: String) extends Table with SupportsRead {
  override def name(): String = s"studies($path)"
  override def schema(): StructType = StudiesDataSource.schema
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.MICRO_BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new StudiesScanBuilder(path)
}

private class StudiesScanBuilder(path: String)
    extends ScanBuilder with SupportsPushDownRequiredColumns with SupportsPushDownFilters {

  private var required: StructType = StudiesDataSource.schema
  private var pushed: Array[Filter] = Array.empty

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    val (supported, rest) = filters.partition {
      case EqualTo(a, _: String) => StudiesDataSource.schema.fieldNames.contains(a)
      case StringStartsWith(a, _) => StudiesDataSource.schema.fieldNames.contains(a)
      case IsNotNull(_) => true
      case _ => false
    }
    pushed = supported
    rest // Spark re-evaluates these above the scan
  }

  override def pushedFilters(): Array[Filter] = pushed

  override def build(): Scan = new StudiesScan(path, required, pushed)
}

private class StudiesScan(path: String, required: StructType, filters: Array[Filter])
    extends Scan with Batch {
  override def readSchema(): StructType = required
  override def toBatch: Batch = this
  override def description(): String =
    s"StudiesScan PushedFilters: [${filters.mkString(", ")}], " +
      s"ReadColumns: [${required.fieldNames.mkString(", ")}]"

  override def planInputPartitions(): Array[InputPartition] =
    StudiesDataSource.resolvePages(path).map(StudiesPartition.apply).toArray

  override def createReaderFactory(): PartitionReaderFactory =
    new StudiesReaderFactory(required.fieldNames, filters)

  override def toMicroBatchStream(checkpointLocation: String):
      org.apache.spark.sql.connector.read.streaming.MicroBatchStream =
    new StudiesMicroBatchStream(path, required.fieldNames, filters)
}

/** Streaming form of the paged source: the OFFSET is the page count of
  * the resolved token chain, so each micro-batch is "the pages that
  * became reachable since the last trigger". A page whose
  * `nextPageToken` names a not-yet-present file simply ends the chain
  * until the file lands — exactly the live-feed behavior of a paginated
  * REST extract where tokens are known before pages are fetched.
  * Offsets are durable (plain page-count JSON in the checkpoint), so a
  * restarted query resumes after the last committed page and the
  * exactly-once file sink contract holds end-to-end. Pushdown/pruning
  * apply per micro-batch through the same reader as the batch scan. */
private class StudiesMicroBatchStream(path: String, columns: Array[String], filters: Array[Filter])
    extends org.apache.spark.sql.connector.read.streaming.MicroBatchStream {
  import org.apache.spark.sql.connector.read.streaming.Offset

  private case class PageOffset(n: Int) extends Offset {
    override def json(): String = n.toString
  }

  override def initialOffset(): Offset = PageOffset(0)
  override def latestOffset(): Offset =
    PageOffset(StudiesDataSource.resolvePages(path).size)
  override def deserializeOffset(json: String): Offset = PageOffset(json.trim.toInt)
  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val (s, e) = (start.asInstanceOf[PageOffset].n, end.asInstanceOf[PageOffset].n)
    StudiesDataSource.resolvePages(path).slice(s, e).map(StudiesPartition.apply).toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new StudiesReaderFactory(columns, filters)
}

private case class StudiesPartition(file: String) extends InputPartition

private class StudiesReaderFactory(columns: Array[String], filters: Array[Filter])
    extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    new StudiesPartitionReader(partition.asInstanceOf[StudiesPartition].file, columns, filters)
}

private class StudiesPartitionReader(file: String, columns: Array[String], filters: Array[Filter])
    extends PartitionReader[InternalRow] {

  private val studies: Iterator[Map[String, String]] =
    StudiesDataSource.studyLeaves(Files.readAllBytes(Paths.get(file))).iterator
  private var current: InternalRow = _

  private def accepts(study: Map[String, String]): Boolean = filters.forall {
    case EqualTo(a, v: String) => StudiesDataSource.extract(study, a) == v
    case StringStartsWith(a, v) => StudiesDataSource.extract(study, a).startsWith(v)
    case IsNotNull(_) => true // columns are 'N/A'-defaulted, never null
    case _ => true
  }

  override def next(): Boolean = {
    while (studies.hasNext) {
      val s = studies.next()
      if (accepts(s)) {
        current = InternalRow.fromSeq(
          columns.toSeq.map(c => UTF8String.fromString(StudiesDataSource.extract(s, c))))
        return true
      }
    }
    false
  }

  override def get(): InternalRow = current
  override def close(): Unit = ()
}
