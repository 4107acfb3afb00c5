package graft.etl

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The reference's full E1 lifecycle (`/root/reference/etl.py:472-518`)
  * as one composition: paginated extract → flatten → Essie filter
  * (in-engine analog of the server-side pushdown) → gated enrichment →
  * fixed-layout CSV sink. Each stage is the operator documented in its
  * own module; this is the one-call driver program.
  */
object Pipeline {

  final case class Config(
      pagesDir: String,
      firstPage: String = "page_1.json",
      maxPages: Int = 100,
      essieTerms: Seq[String] = Nil,
      gate: Enrich.GateConfig = Enrich.GateConfig(None, None),
      outputPath: Option[String] = None)

  /** Run extract→transform→enrich; write CSV if configured; return the
    * enriched frame (fail-fast on empty extract like etl.py:493-495).
    * The extract runs one Spark job: the page scan's schema inference. */
  def run(spark: SparkSession, cfg: Config): DataFrame = {
    val pages = StudiesSource.walk(cfg.pagesDir, cfg.firstPage, cfg.maxPages,
      spark.sessionState.newHadoopConf())
    // etl.py:493-495, checked on the walked count: no Spark job
    require(pages.studies > 0, "extract produced no studies")
    val raw = StudiesSource.scan(spark, pages)
    val filtered =
      if (cfg.essieTerms.nonEmpty) raw.filter(Essie.compileAll(cfg.essieTerms)) else raw
    val flat = Flatten(filtered)
    val enriched = Enrich.gated(flat, cfg.gate)
    cfg.outputPath.foreach(p =>
      CsvSink.write(enriched.drop("processed"), p, aiColumn = Some(cfg.gate.aiColumn)))
    enriched
  }
}
