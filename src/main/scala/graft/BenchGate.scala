package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}

/** Per-line bench regression gate: the one home of the rule, the history
  * floors and the allowlist. [[Bench]] applies it while it times; `main`
  * re-checks a written run against `bench_history.jsonl` and
  * `tools/bench_allowlist.json` in the working directory, exit 1 on a
  * regression (or, with `--selftest`, an uncaught planted victim):
  *
  *   java -cp ... graft.BenchGate [bench_queries.json] [--selftest]
  *
  * Rule, both halves so sub-second flap cannot false-alarm: Factor 1.5
  * sits above the per-line minima variance band and below every plan-shape
  * regression seen (2-10x); Slack 1.0 s because short lines cross 1.5x with
  * no plan change (q01 flapped 1.13-2.01 s over 14 sf0.1 runs). An
  * allowlisted line (name -> reason, the PlanLintSpec pattern) prints its
  * reason and does not fail.
  */
object BenchGate {
  val Factor = 1.5
  val Slack = 1.0
  val HistoryPath: Path = Paths.get("bench_history.jsonl")
  val AllowlistPath: Path = Paths.get("tools/bench_allowlist.json")

  def regressed(t: Double, floor: Double): Boolean = t > Factor * floor && t - floor > Slack

  final case class Regression(line: String, t: Double, floor: Double)

  private val json = new ObjectMapper()

  private def times(queries: JsonNode, where: String): Map[String, Double] =
    if (!queries.isObject) throw new IllegalArgumentException(s"$where: no \"queries\" object")
    else queries.fields().asScala.map { e =>
      if (!e.getValue.isNumber) throw new IllegalArgumentException(s"$where: ${e.getKey} is not a number")
      e.getKey -> e.getValue.asDouble()
    }.toMap

  /** Per-line minimum over the history's `gate == "green"` lines at `sf`.
    * Red runs retried under the load that made them red, `dev` runs ran in
    * a lighter JVM, and pre-gate lines under much smaller registries (r61's
    * 2.13 s floor came from a 171-query JVM; the same plan takes 2.5-3.3 s
    * in a 296-query run), so none of them sets a floor; nor does a line
    * with a `retired` marker (kept for archaeology), nor the line whose
    * `queries` equal `exclude` (a run is never its own baseline). A line
    * that is not a JSON object with numeric `queries` throws, naming the
    * file and line number. */
  def floors(history: Path, sf: String, exclude: Map[String, Double]): Map[String, Double] =
    if (!Files.exists(history)) Map.empty
    else Files.readAllLines(history).asScala.zipWithIndex.filter(_._1.trim.nonEmpty)
      .flatMap { case (line, i) =>
        val where = s"$history:${i + 1}"
        val d =
          try json.readTree(line)
          catch { case e: Exception => throw new IllegalArgumentException(s"$where: ${e.getMessage}", e) }
        if (!d.isObject) throw new IllegalArgumentException(s"$where: not a JSON object")
        val qs = times(d.path("queries"), where)
        val sets = d.path("sf").asText("") == sf && d.path("gate").asText("") == "green" &&
          !d.has("retired") && qs != exclude
        if (sets) qs else Nil
      }.groupMapReduce(_._1)(_._2)(math.min)

  /** Line name -> reason; empty when the file is absent. */
  def allowlist(path: Path = AllowlistPath): Map[String, String] =
    if (!Files.exists(path)) Map.empty
    else json.readTree(Files.readString(path)).fields().asScala
      .map(e => e.getKey -> e.getValue.asText()).toMap

  /** The non-allowlisted lines of `cur` over their floor, by name; a line
    * with no floor passes. A spec swaps `rule` to prove the selftest. */
  def failures(cur: Map[String, Double], floors: Map[String, Double], allow: Map[String, String],
               rule: (Double, Double) => Boolean = regressed): Seq[Regression] =
    cur.toSeq.sortBy(_._1).collect {
      case (q, t) if floors.get(q).exists(rule(t, _)) && !allow.contains(q) => Regression(q, t, floors(q))
    }

  /** Python's `f"{x:.Nf}"`: half-even on the exact binary value. */
  private def fmt(x: Double, digits: Int): String =
    new java.math.BigDecimal(x).setScale(digits, java.math.RoundingMode.HALF_EVEN).toPlainString

  /** Print one run's verdict and return its failures. */
  private def report(cur: Map[String, Double], floors: Map[String, Double], allow: Map[String, String],
                     label: String, rule: (Double, Double) => Boolean = regressed): Seq[Regression] = {
    val names = cur.keys.toSeq.sorted
    for (q <- names; b <- floors.get(q) if rule(cur(q), b); reason <- allow.get(q))
      println(s"[bench-gate] ALLOW $q: ${fmt(cur(q), 2)}s vs best ${fmt(b, 2)}s -- $reason")
    val fails = failures(cur, floors, allow, rule)
    for (Regression(q, t, b) <- fails)
      println(s"[bench-gate] REGRESSION $q: ${fmt(t, 2)}s vs historical best ${fmt(b, 2)}s " +
        s"(${fmt(t / b, 1)}x, threshold ${Factor}x + ${Slack}s)")
    val fresh = names.filterNot(floors.contains)
    if (fresh.nonEmpty)
      println(s"[bench-gate] ${fresh.size} queries with no history at this sf (pass by default): " +
        fresh.take(8).mkString(", ") + (if (fresh.size > 8) "..." else ""))
    println(s"[bench-gate] $label: ${cur.size} queries checked, " +
      s"${cur.size - fresh.size} with history, ${fails.size} regressions")
    fails
  }

  /** Proves the gate is not vacuous: in each line family (query, `pool:`,
    * `stream:`) with history, plant the non-allowlisted line with the
    * highest floor at max(3·floor, floor + 2·Slack) and require that victim
    * among the planted run's failures, so a run that is already red proves
    * nothing. A family with no history is skipped. */
  def selftest(cur: Map[String, Double], floors: Map[String, Double], allow: Map[String, String],
               rule: (Double, Double) => Boolean = regressed): Boolean = {
    val victims = cur.keys.toSeq.sorted.filter(q => floors.contains(q) && !allow.contains(q))
    def family(q: String) = if (q.startsWith("pool:")) "pool" else if (q.startsWith("stream:")) "stream" else "query"
    if (victims.isEmpty) println("[bench-gate] SELFTEST SKIPPED: no query has history to plant against")
    val caught = victims.isEmpty || Seq("query", "pool", "stream").forall { fam =>
      victims.filter(family(_) == fam) match {
        case Seq() =>
          println(s"[bench-gate] selftest: no $fam line with history yet -- skipped")
          true
        case qs =>
          val victim = qs.maxBy(floors)
          val b = floors(victim)
          val planted = cur.updated(victim, math.max(3.0 * b, b + 2 * Slack))
          println(s"[bench-gate] selftest: planting $fam victim $victim at ${fmt(planted(victim), 2)}s")
          val hit = report(planted, floors, allow, s"planted $fam run", rule).exists(_.line == victim)
          if (!hit) println(s"[bench-gate] SELFTEST FAILED: planted $fam regression not detected")
          hit
      }
    }
    if (caught && victims.nonEmpty) println("[bench-gate] selftest PASS: planted regression detected")
    caught
  }

  def main(args: Array[String]): Unit = {
    val withSelftest = args.contains("--selftest")
    val current = Paths.get(args.find(_ != "--selftest").getOrElse("bench_queries.json"))
    val run = json.readTree(Files.readString(current))
    val sf = run.path("sf").asText()
    val cur = times(run.path("queries"), current.toString)
    val (allow, best) = (allowlist(), floors(HistoryPath, sf, cur))
    val ok = report(cur, best, allow, s"real run ($sf)").isEmpty
    sys.exit(if ((!withSelftest || selftest(cur, best, allow)) && ok) 0 else 1)
  }
}
