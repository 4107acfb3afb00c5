package graft.sources

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.util.UUID

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** DataSource V2 WRITE path with an atomic manifest-commit protocol —
  * the task-level form of the exactly-once guarantees the streaming
  * foreachBatch merge sink provides at batch level.
  *
  * Protocol (the same shape every transactional lake-table format uses):
  *  1. every task writes to `_staging/<txn>/part-<partition>-<task>` —
  *     never into the visible data set;
  *  2. a task that succeeds returns its file name as its
  *     [[WriterCommitMessage]]; a failed/speculative attempt's file is
  *     simply never mentioned again (readers can't see it);
  *  3. the driver, once ALL tasks committed, writes a manifest listing
  *     exactly those files and publishes it with an atomic rename into
  *     `_commits/` — the ONLY step that changes visibility, so a crash
  *     anywhere leaves either the old state or the new state, never a
  *     torn mix;
  *  4. readers resolve the file list from the manifests, not the
  *     directory — orphaned staging files are invisible by
  *     construction.
  *
  * At 100 TB this is the pattern that makes task retries and mid-job
  * crashes safe without any rename-the-directory tricks (object stores
  * have no atomic directory rename; single-file manifest rename/put is
  * the commit point). Sequence numbers are allocated by a SINGLE
  * writer per table — concurrent committers need a coordinating
  * catalog (as Delta/Iceberg require) to serialize seq allocation;
  * the manifest content is fsynced before the rename and the parent
  * directory after it, so a power loss leaves old-or-new, never torn.
  * Rows serialize as JSON
  * lines over primitive columns (long/int/double/boolean/string) — a
  * production impl would plug columnar part-writers into the SAME
  * protocol unchanged. */
class CommitLogSink extends TableProvider {
  override def supportsExternalMetadata(): Boolean = true
  override def inferSchema(options: CaseInsensitiveStringMap): StructType = new StructType()
  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: java.util.Map[String, String]): Table =
    new CommitLogTable(properties.get("path"), schema)
}

object CommitLogSink {
  private def seqOf(name: String): Option[Long] = {
    val ds = name.takeWhile(_.isDigit)
    if (ds.nonEmpty) Some(ds.toLong) else None
  }

  /** The committed view: union of the files listed by the manifests in
    * commit order. Staged-but-unpublished files never appear. */
  def readCommitted(spark: SparkSession, path: String, schema: StructType): DataFrame =
    readAsOf(spark, path, schema, Long.MaxValue)

  /** Snapshot (time-travel) read: the committed view AS OF commit
    * sequence `asOfSeq` — the union of exactly the manifests whose
    * sequence number is <= asOfSeq. The log is append-only and the
    * sequence monotone (max+1, never recycled), so every historical
    * snapshot remains reproducible for free: an audit can re-read the
    * exact table a training run consumed by pinning the sequence it
    * recorded (p11's manifest fingerprints close the loop end-to-end).
    * asOfSeq before the first commit is the empty table, not an error —
    * the state a reader at that point in history actually saw. Foreign
    * "*.manifest" names without a sequence prefix are not commits and
    * are ignored on read, mirroring the writer's max-fold guard. */
  def readAsOf(spark: SparkSession, path: String, schema: StructType, asOfSeq: Long): DataFrame = {
    val commits = new File(s"$path/_commits")
    val files: Seq[String] =
      if (!commits.isDirectory) Seq.empty
      else commits.listFiles().toSeq
        .filter(f => f.getName.endsWith(".manifest") &&
          seqOf(f.getName).exists(_ <= asOfSeq))
        .sortBy(_.getName)
        .flatMap(m => new String(Files.readAllBytes(m.toPath), StandardCharsets.UTF_8)
          .split("\n").filter(_.nonEmpty))
    if (files.isEmpty) spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    else spark.read.schema(schema).json(files: _*)
  }

  def committedManifests(path: String): Seq[String] = {
    val commits = new File(s"$path/_commits")
    if (!commits.isDirectory) Seq.empty
    else commits.listFiles().toSeq.map(_.getName).filter(_.endsWith(".manifest")).sorted
  }
}

private class CommitLogTable(path: String, writeSchema: StructType)
    extends Table with SupportsWrite {
  override def name(): String = s"commitlog($path)"
  override def schema(): StructType = writeSchema
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_WRITE)
  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new WriteBuilder {
      override def build(): Write = new CommitLogWrite(path, info.schema(), info.queryId())
    }
}

private class CommitLogWrite(path: String, schema: StructType, queryId: String) extends Write {
  override def toBatch: BatchWrite = new CommitLogBatchWrite(path, schema, queryId)
}

private case class CommittedFile(name: String, rows: Long) extends WriterCommitMessage

private class CommitLogBatchWrite(path: String, schema: StructType, queryId: String)
    extends BatchWrite {
  private val txn = s"$queryId-${UUID.randomUUID().toString.take(8)}"

  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory =
    new CommitLogWriterFactory(path, schema, txn)

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val files = messages.map(_.asInstanceOf[CommittedFile].name)
    val commitsDir = Paths.get(s"$path/_commits")
    Files.createDirectories(commitsDir)
    // Monotone sequence prefix keeps manifest order = commit order:
    // max(existing)+1 rather than count(existing), so a deleted/compacted
    // manifest can never recycle a live prefix. SINGLE-WRITER assumption
    // (as in Delta/Iceberg without a locking catalog): two concurrent
    // committers could still mint the same seq; a multi-writer deployment
    // needs a coordinating catalog to allocate sequence numbers.
    // Only names with a digit prefix participate in the max-fold: a
    // stray/foreign "*.manifest" without one would otherwise throw on
    // "".toLong and permanently fail every subsequent commit.
    val seq = commitsDir.toFile.list()
      .filter(_.endsWith(".manifest"))
      .map(_.takeWhile(_.isDigit))
      .collect { case ds if ds.nonEmpty => ds.toLong }
      .foldLeft(-1L)(math.max) + 1
    // the commit point: the manifest's one atomic publish (content and
    // parent dir forced) is the only step that makes the write visible
    graft.Publish.file(commitsDir.resolve(f"$seq%06d-$txn.manifest"),
      files.mkString("\n").getBytes(StandardCharsets.UTF_8))
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit = {
    messages.foreach {
      case CommittedFile(name, _) => Files.deleteIfExists(Paths.get(name))
      case _ =>
    }
  }
}

private class CommitLogWriterFactory(path: String, schema: StructType, txn: String)
    extends DataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    new CommitLogDataWriter(path, schema, txn, partitionId, taskId)
}

private class CommitLogDataWriter(path: String, schema: StructType, txn: String,
                                  partitionId: Int, taskId: Long)
    extends DataWriter[InternalRow] {
  private val file = {
    val dir = Paths.get(s"$path/_staging/$txn")
    Files.createDirectories(dir)
    dir.resolve(s"part-$partitionId-$taskId.json")
  }
  private val out = Files.newBufferedWriter(file, StandardCharsets.UTF_8)
  private var rows = 0L

  private def jsonValue(row: InternalRow, i: Int, dt: DataType): String = dt match {
    case _ if row.isNullAt(i) => "null"
    case LongType => row.getLong(i).toString
    case IntegerType => row.getInt(i).toString
    case DoubleType => row.getDouble(i).toString
    case BooleanType => row.getBoolean(i).toString
    case StringType =>
      val s = row.getUTF8String(i).toString
      "\"" + s.flatMap {
        case '"' => "\\\""
        case '\\' => "\\\\"
        case c if c < ' ' => f"\\u${c.toInt}%04x"
        case c => c.toString
      } + "\""
    case other => throw new IllegalArgumentException(
      s"commitlog demo sink supports primitive columns only, got $other")
  }

  override def write(row: InternalRow): Unit = {
    val fields = schema.fields.zipWithIndex.map { case (f, i) =>
      "\"" + f.name + "\":" + jsonValue(row, i, f.dataType)
    }
    out.write(fields.mkString("{", ",", "}"))
    out.write("\n")
    rows += 1
  }

  override def commit(): WriterCommitMessage = {
    out.close()
    CommittedFile(file.toAbsolutePath.toString, rows)
  }

  override def abort(): Unit = {
    out.close()
    Files.deleteIfExists(file)
  }

  override def close(): Unit = ()
}
