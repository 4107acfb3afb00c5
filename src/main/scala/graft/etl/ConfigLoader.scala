package graft.etl

import java.nio.file.{Files, Paths}
import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.dataformat.yaml.YAMLFactory
import scala.jdk.CollectionConverters._

/** Config scan (SURVEY.md O1; `/root/reference/etl.py:39-73`): load a
  * JSON or YAML config by file extension, failing fast on a missing or
  * invalid file exactly like the reference's `sys.exit(1)` guards.
  * Jackson + snakeyaml ship with Spark, so no extra dependencies.
  */
object ConfigLoader {

  final case class EngineConfig(
      pageSize: Int,
      filterAdvanced: Seq[String],
      aiColumnName: String,
      maxRows: Option[Long],
      debugOnlyTuningTrials: Boolean,
      tuningTrials: Seq[String],
      systemInstruction: String,
      rowPromptTemplate: String,
      apiDelaySeconds: Double,
      csvFilename: Option[String]) {

    def gate: Enrich.GateConfig = Enrich.GateConfig(
      maxRows = maxRows,
      tuningSet = if (debugOnlyTuningTrials) Some(tuningTrials) else None,
      aiColumn = aiColumnName)
  }

  def load(path: String): EngineConfig = {
    val p = Paths.get(path)
    require(Files.exists(p), s"config file not found: $path") // etl.py:49-52
    val mapper =
      if (path.endsWith(".yaml") || path.endsWith(".yml")) new ObjectMapper(new YAMLFactory())
      else new ObjectMapper()
    val root =
      try mapper.readValue(Files.readAllBytes(p), classOf[java.util.Map[String, Object]])
      catch {
        case e: Exception =>
          throw new IllegalArgumentException(s"invalid config file $path: ${e.getMessage}")
      }
    def section(name: String): Map[String, Object] =
      Option(root.get(name)).map(_.asInstanceOf[java.util.Map[String, Object]].asScala.toMap)
        .getOrElse(Map.empty)
    val ctgov = section("ctgov")
    val ai = section("ai_processing")
    val gemini = section("gemini")
    val output = section("output")
    def str(m: Map[String, Object], k: String, dflt: String): String =
      m.get(k).map(_.toString).getOrElse(dflt)
    val terms = ctgov.get("filter_advanced")
      .map(_.asInstanceOf[java.util.List[Object]].asScala.toSeq.map(_.toString))
      .getOrElse(Nil)
    // An unknown field or term shape fails here, naming it, not at analysis.
    if (terms.nonEmpty) Essie.compileAll(terms)
    EngineConfig(
      pageSize = str(ctgov, "page_size", "1000").toInt,
      filterAdvanced = terms,
      aiColumnName = str(ai, "column_name", "ai_determined_value"),
      maxRows = ai.get("max_rows").flatMap(v => Option(v)).map(_.toString.toLong),
      debugOnlyTuningTrials = str(ai, "debug_only_tuning_trials", "false").toBoolean,
      tuningTrials = ai.get("tuning_trials")
        .map(_.asInstanceOf[java.util.List[Object]].asScala.toSeq.map(_.toString))
        .getOrElse(Nil),
      systemInstruction = str(gemini, "system_instruction", ""),
      rowPromptTemplate = str(gemini, "row_prompt_template", ""),
      apiDelaySeconds = str(gemini, "api_delay", "0.5").toDouble,
      csvFilename = output.get("csv_filename").map(_.toString))
  }
}
