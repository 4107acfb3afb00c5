package graft.etl

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** The reference's AI enrichment step (SURVEY.md O11-O14) re-expressed as
  * a pluggable classifier.
  *
  * The reference sends each row's criteria text to a remote LLM with a
  * 7-category system prompt (`/root/reference/config.example.yaml:18-42`,
  * call loop `/root/reference/etl.py:276-333`). For a deterministic,
  * oracle-checkable engine the default implementation is a rule cascade
  * distilled from the few-shot examples embedded in that prompt
  * (categories at `config.example.yaml:20-28`, examples at `:33-39`):
  *
  *   1. no pregnancy/postpartum mention anywhere        → NOT MENTIONED
  *   2. inclusion says "pregnant or postpartum"         → PREGNANT OR POSTPARTUM
  *   3. inclusion says "trying to get pregnant"         → FERTILITY
  *   4. inclusion says postpartum (and not pregnan*)    → POSTPARTUM
  *   5. exclusion mentions pregnan*                     → EXCLUDE_PREGNANCY
  *   6. inclusion requires a negative pregnancy test    → EXCLUDE_PREGNANCY
  *   7. inclusion says "must be pregnant"               → ONLY_PREGNANCY
  *   8. inclusion otherwise mentions pregnan*           → INCLUDE_PREGNANCY
  *
  * The text is split at the "Exclusion Criteria" marker the reference's
  * own few-shot examples rely on.
  */
object RuleClassifier {

  val Categories: Seq[String] = Seq(
    "ONLY_PREGNANCY", "INCLUDE_PREGNANCY", "EXCLUDE_PREGNANCY", "POSTPARTUM",
    "FERTILITY", "PREGNANT OR POSTPARTUM", "NOT MENTIONED")

  /** Vectorized form: a codegen'd CASE over built-in string functions —
    * this is the scale path (no UDF, no per-row JVM boundary).
    * `contains`/`locate` rather than `LIKE '%…%'`: same semantics, but
    * each LIKE instantiates a compiled regex matcher and the cascade has
    * ~10 of them over duplicated `lower`/`split_part` subtrees — measured
    * >1 s of janino compile time billed to the first execution. */
  def classifyCol(criteria: Column): Column = {
    val lc = lower(criteria)
    classifyParts(lc,
      split_part(lc, lit("exclusion criteria"), lit(1)),
      split_part(lc, lit("exclusion criteria"), lit(2)))
  }

  /** Same cascade over pre-computed (lowered, inclusion, exclusion)
    * columns. When the three parts are materialized as real projection
    * columns first (see [[Enrich.enrichAll]]), the CASE references plain
    * attributes instead of ~10 duplicated `split_part(lower(…))`
    * subtrees — measured ~1 s less one-time expression-compile cost. */
  def classifyParts(lc: Column, incl: Column, excl: Column): Column = {
    // LIKE '%negative%pregnancy test%': "pregnancy test" at-or-after
    // "negative" (locate is 1-based; 0 = absent)
    val negTest = locate("negative", incl) > 0 &&
      call_function("locate", lit("pregnancy test"), incl, locate("negative", incl)) > 0
    when(!(lc.contains("pregnan") || lc.contains("postpartum")), "NOT MENTIONED")
      .when(incl.contains("pregnant or postpartum") || incl.contains("postpartum or pregnant"), "PREGNANT OR POSTPARTUM")
      .when(incl.contains("trying to get pregnant"), "FERTILITY")
      .when(incl.contains("postpartum") && !incl.contains("pregnan"), "POSTPARTUM")
      .when(excl.contains("pregnan"), "EXCLUDE_PREGNANCY")
      .when(negTest, "EXCLUDE_PREGNANCY")
      .when(incl.contains("must be pregnant"), "ONLY_PREGNANCY")
      .when(incl.contains("pregnan"), "INCLUDE_PREGNANCY")
      .otherwise("NOT MENTIONED")
  }

  /** Evidence quote (the reference prompt asks the model to "quote the
    * part of the criteria that gave you confidence",
    * config.example.yaml:40-41): the first trigger phrase of the rule
    * that fired, located in the original text. */
  def evidenceCol(criteria: Column): Column = {
    val lc = lower(criteria)
    val label = classifyCol(criteria)
    val phrases: Seq[(String, String)] = Seq(
      "PREGNANT OR POSTPARTUM" -> "(pregnant or postpartum|postpartum or pregnant)",
      "FERTILITY" -> "trying to get pregnant",
      "POSTPARTUM" -> "postpartum",
      "EXCLUDE_PREGNANCY" -> "(negative[^.]*pregnancy test|pregnan[a-z]*)",
      "ONLY_PREGNANCY" -> "must be pregnant",
      "INCLUDE_PREGNANCY" -> "pregnan[a-z]*")
    phrases.foldRight(lit(""): Column) { case ((cat, re), rest) =>
      when(label === cat, regexp_extract(lc, re, 0)).otherwise(rest)
    }
  }

  /** Reference-shaped output: `CATEGORY 'evidence'` (the format the LLM
    * is instructed to produce). */
  def classifyWithEvidence(criteria: Column): Column = {
    val ev = evidenceCol(criteria)
    when(ev === "", classifyCol(criteria))
      .otherwise(concat(classifyCol(criteria), lit(" '"), ev, lit("'")))
  }

  /** Plain-Scala twin of [[classifyCol]] for the `mapPartitions` seam —
    * kept in lockstep (ClassifierSpec asserts agreement). */
  def classify(criteria: String): String = {
    val lc = criteria.toLowerCase
    val idx = lc.indexOf("exclusion criteria")
    val incl = if (idx >= 0) lc.substring(0, idx) else lc
    val excl = if (idx >= 0) lc.substring(idx + "exclusion criteria".length) else ""
    if (!(lc.contains("pregnan") || lc.contains("postpartum"))) "NOT MENTIONED"
    else if (incl.contains("pregnant or postpartum") || incl.contains("postpartum or pregnant")) "PREGNANT OR POSTPARTUM"
    else if (incl.contains("trying to get pregnant")) "FERTILITY"
    else if (incl.contains("postpartum") && !incl.contains("pregnan")) "POSTPARTUM"
    else if (excl.contains("pregnan")) "EXCLUDE_PREGNANCY"
    else if (incl.contains("negative") && incl.substring(incl.indexOf("negative")).contains("pregnancy test")) "EXCLUDE_PREGNANCY"
    else if (incl.contains("must be pregnant")) "ONLY_PREGNANCY"
    else if (incl.contains("pregnan")) "INCLUDE_PREGNANCY"
    else "NOT MENTIONED"
  }
}

/** Seam for a remote (LLM) classifier behind the same operator shape the
  * reference uses: one call per row, rate-limited
  * (`/root/reference/etl.py:276-331`). Implementations are used via
  * [[Enrich.mapPartitionsEnrich]], which owns per-partition client reuse
  * and throttling — never used by the deterministic test/oracle path. */
trait RowClassifier extends Serializable {
  def classify(criteria: String): Option[String]
}

/** Deterministic implementation of the seam (wraps [[RuleClassifier]]). */
object RuleRowClassifier extends RowClassifier {
  def classify(criteria: String): Option[String] = Some(RuleClassifier.classify(criteria))
}

/** Deterministic "remote-shaped" implementation: behaves like the flaky
  * slow service the reference talks to (`/root/reference/etl.py:276-331`)
  * while staying fully reproducible, so the WHOLE
  * [[Enrich.mapPartitionsEnrich]] path — client-per-partition init, the
  * token-bucket pacing between calls, and the error→'N/A' fill — can run
  * under the DuckDB oracle (r6 verdict stretch 7; the rule classifier
  * short-circuits that path, leaving it spec-only):
  *  - `busyWorkIters` spins a deterministic checksum loop per call (the
  *    "model latency"; no wall-clock dependence, so hashes never flap);
  *  - a missing-criteria row ('N/A' sentinel) THROWS, exercising the
  *    `etl.py:400-407` failure fill through the seam's catch, not
  *    around it;
  *  - otherwise defers to the rule cascade, whose oracle twin exists.
  */
class SlowRowClassifier(busyWorkIters: Int = 50000) extends RowClassifier {
  def classify(criteria: String): Option[String] = {
    if (criteria == "N/A") throw new RuntimeException("remote classifier: empty criteria")
    var acc = 0x9E3779B97F4A7C15L // deterministic busy-work, defeats JIT elision via the check below
    var i = 0
    while (i < busyWorkIters) { acc = acc * 6364136223846793005L + criteria.length; i += 1 }
    if (acc == 42L) None // unreachable for this fixture; keeps acc live
    else Some(RuleClassifier.classify(criteria))
  }
}
