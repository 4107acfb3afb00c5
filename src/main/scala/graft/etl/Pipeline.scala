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
    * The extract runs no Spark job: the driver walks the chain and the
    * scan reads a declared schema. Without a sink nothing runs. With one,
    * the plan executes once: the CSV is written from a lazy local
    * checkpoint of the enriched frame, so that write materializes its
    * rows (at most 100 pages of them, `etl.py:155-158`), and the same
    * frame is returned, so the caller's actions read those rows instead
    * of parsing the pages again. The checkpoint's blocks are freed once
    * the frame is unreachable.
    *
    * It first turns artifact isolation off on the session it is given
    * ([[graft.GraftSession.sharedCode]]): a caller that runs each
    * pipeline in a fresh `newSession()` would otherwise give every run
    * its own executor classloader, and every run would compile the same
    * generated classes again. On a session that has already run a query
    * the conf has been read, and this changes nothing. */
  def run(spark: SparkSession, cfg: Config): DataFrame = {
    graft.GraftSession.sharedCode(spark)
    val pages = StudiesSource.walk(cfg.pagesDir, cfg.firstPage, cfg.maxPages,
      spark.sessionState.newHadoopConf())
    // etl.py:493-495, checked on the walked count: no Spark job
    require(pages.studies > 0, "extract produced no studies")
    val raw = StudiesSource.scan(spark, pages)
    val filtered =
      if (cfg.essieTerms.nonEmpty) raw.filter(Essie.compileAll(cfg.essieTerms)) else raw
    val flat = Flatten(filtered)
    val enriched = Enrich.gated(flat, cfg.gate)
    cfg.outputPath.fold(enriched) { p =>
      val done = enriched.localCheckpoint(eager = false)
      CsvSink.write(done.drop("processed"), p, aiColumn = Some(cfg.gate.aiColumn))
      done
    }
  }
}
