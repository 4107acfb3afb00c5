package graft.etl

import org.apache.spark.sql.{DataFrame, functions => F}

/** The reference's CSV sink (SURVEY.md O19-O20;
  * `/root/reference/etl.py:432-469`): UTF-8, header row, and a FIXED
  * column order that includes two declared-but-never-produced columns,
  * `minimum_age` and `maximum_age` (`etl.py:451`) — `csv.DictWriter`'s
  * restval makes them always-empty in every reference output file, so the
  * engine reproduces them as empty-string literals rather than "fixing"
  * the schema. The AI column is appended iff present (conditional schema
  * evolution, `etl.py:456-460`).
  *
  * [[write]] (Spark's CSV writer) diverges from the reference at the
  * byte level — `\n` line terminators, since lineSep is limited to one
  * character. [[writeExact]] closes that gap: byte-identical Python-csv
  * output (`\r\n`, QUOTE_MINIMAL, restval), validated in
  * SourceSinkSpec against output generated by Python's csv module.
  *
  * `numFiles=1` mirrors the reference's single local file; at scale leave
  * it 0 (one file per partition) — the header repeats per part-file,
  * which is the standard distributed-CSV contract.
  *
  * Both writers fill a tmp dir next to the local output `path` and
  * publish it over `path` whole ([[graft.Publish.dir]]): a failed write
  * leaves the previous output as it was, where Spark's own overwrite
  * deletes it before its job runs.
  */
object CsvSink {

  /** Header order from `etl.py:449-454`. */
  val BaseColumns: Seq[String] = Seq(
    "nct_id", "brief_title", "official_title", "overall_status",
    "minimum_age", "maximum_age", "study_type", "start_date", "gender",
    "brief_summary", "detailed_description", "criteria", "start_year")

  /** Project to the fixed reference layout (adding the phantom empty
    * columns + optional AI column). */
  def layout(df: DataFrame, aiColumn: Option[String]): DataFrame = {
    val withPhantom = df
      .withColumn("minimum_age", F.lit(""))
      .withColumn("maximum_age", F.lit(""))
    val cols = BaseColumns ++ aiColumn.toSeq
    withPhantom.select(cols.map(F.col): _*)
  }

  def write(df: DataFrame, path: String, aiColumn: Option[String] = None,
            numFiles: Int = 1): Unit = {
    val out = layout(df, aiColumn)
    val sized = if (numFiles > 0) out.coalesce(numFiles) else out
    publish(path)(sized.write.mode("overwrite")
      .option("header", true)
      // Python csv (QUOTE_MINIMAL) writes empty fields unquoted; Spark's
      // default emptyValue is a quoted "" — align with the reference.
      .option("emptyValue", "")
      .csv(_))
  }

  private def publish(path: String)(write: String => Unit): Unit =
    graft.Publish.dir(java.nio.file.Paths.get(path), replace = true)(tmp => write(tmp.toString))

  /** BYTE-exact reference CSV: Python's csv module writes `\r\n` line
    * terminators (after every row, header and last row included) with
    * QUOTE_MINIMAL quoting — a field is quoted iff it contains the
    * delimiter, the quote char, or a line-terminator char, and embedded
    * quotes double. Spark's CSV writer can't produce that (lineSep is
    * limited to one character), so this path assembles each record as a
    * string — same QUOTE_MINIMAL predicate, `"` → `""`, nulls as the
    * DictWriter restval `""` — appends `\r`, and writes text whose
    * record terminator is `\n`: every line ends `\r\n` byte-for-byte.
    * Single file, header first, input row order preserved (the
    * reference writes one local file in iteration order). This closes
    * the last documented divergence from the reference's sink; the
    * distributed-scale path remains [[write]]. */
  def writeExact(df: DataFrame, path: String, aiColumn: Option[String] = None): Unit = {
    val out = layout(df, aiColumn)
    val cols = out.columns.toSeq
    def fieldOf(c: String): org.apache.spark.sql.Column = {
      val s = F.col(c).cast("string")
      val quoted = F.concat(F.lit("\""),
        F.regexp_replace(s, "\"", "\"\""), F.lit("\""))
      F.when(s.isNull, F.lit(""))
        .otherwise(F.when(s.rlike("[,\"\r\n]"), quoted).otherwise(s))
    }
    val line = F.concat(F.concat_ws(",", cols.map(fieldOf): _*), F.lit("\r"))
    val header = cols.mkString(",") + "\r"
    val spark = df.sparkSession
    val single = out.select(line.as("value")).coalesce(1)
      .rdd.mapPartitions(it => Iterator(org.apache.spark.sql.Row(header)) ++ it)
    publish(path)(spark.createDataFrame(single,
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("value",
            org.apache.spark.sql.types.StringType, nullable = false))))
      .write.mode("overwrite").text(_))
  }
}
