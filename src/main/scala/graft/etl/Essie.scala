package graft.etl

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.IntegerType

/** Compiler from the reference's Essie filter terms to Catalyst `Column`
  * predicates (SURVEY.md §2.2).
  *
  * The reference delegates filtering to the CT.gov server by joining its
  * `filter_advanced` config terms into one query string
  * (`/root/reference/etl.py:98-104`; terms at
  * `/root/reference/config.example.yaml:4-12`). This module re-implements
  * those query semantics natively: each term becomes an ordinary Catalyst
  * expression over the raw nested study frame, so the existing optimizer
  * rules push them into the source scan — the in-engine analog of the
  * reference's server-side pushdown (O3). No custom `Rule` needed.
  *
  * Term grammar covered (everything the reference config uses):
  *   AREA[Field]VALUE            equality (list fields: membership)
  *   AREA[Field]RANGE[a,b]       closed range (dates or unit-bearing ages;
  *                               MIN/MAX open a side)
  *   AREA[Field]MISSING          null check (list fields: no member)
  *   SEARCH[Location](AREA[LocationCountry]X)   EXISTS over nested locations
  *   SEARCH[Study]term           full-text containment over study text
  *   (t1 OR t2 OR ...)           disjunction
  * Top-level terms are AND-folded exactly like `etl.py:99-100`. `Field` is
  * one of [[fields]]; any other field, or a shape its kind does not take,
  * throws IllegalArgumentException at compile time, so a config load
  * rejects it ([[ConfigLoader.load]]).
  */
object Essie {

  sealed trait Term
  final case class Area(field: String, value: String) extends Term
  final case class AreaRange(field: String, lo: String, hi: String) extends Term
  final case class AreaMissing(field: String) extends Term
  final case class SearchLocation(inner: Term) extends Term
  final case class SearchStudy(needle: String) extends Term
  final case class Or(terms: Seq[Term]) extends Term

  // ------------------------------------------------------------- parsing

  private val AreaRangeRe = """AREA\[(\w+)\]RANGE\[([^,\]]+),([^\]]+)\]""".r
  private val AreaMissingRe = """AREA\[(\w+)\]MISSING""".r
  private val AreaRe = """AREA\[(\w+)\](.+)""".r
  private val SearchLocRe = """SEARCH\[Location\]\((.+)\)""".r
  private val SearchStudyRe = """SEARCH\[Study\](.+)""".r

  def parse(s: String): Term = {
    val t = s.trim
    if (t.startsWith("(") && t.endsWith(")"))
      Or(splitTopLevelOr(t.substring(1, t.length - 1)).map(parse))
    else t match {
      case SearchLocRe(inner)      => SearchLocation(parse(inner))
      case SearchStudyRe(needle)   => SearchStudy(needle.trim)
      case AreaRangeRe(f, lo, hi)  => AreaRange(f, lo.trim, hi.trim)
      case AreaMissingRe(f)        => AreaMissing(f)
      case AreaRe(f, v)            => Area(f, v.trim)
      case other => throw new IllegalArgumentException(s"unparseable Essie term: $other")
    }
  }

  /** Split on " OR " at paren depth 0 only. */
  private def splitTopLevelOr(s: String): Seq[String] = {
    val parts = scala.collection.mutable.ArrayBuffer.empty[String]
    var depth = 0; var start = 0; var i = 0
    while (i < s.length) {
      s.charAt(i) match {
        case '(' => depth += 1
        case ')' => depth -= 1
        case 'O' if depth == 0 && i + 2 <= s.length - 1 && s.startsWith("OR ", i) &&
          i > 0 && s.charAt(i - 1) == ' ' =>
          parts += s.substring(start, i - 1); start = i + 3; i += 2
        case _ =>
      }
      i += 1
    }
    parts += s.substring(start)
    parts.toSeq.map(_.trim).filter(_.nonEmpty)
  }

  // ----------------------------------------------------------- compiling

  /** How a term reads its field: equality on a string leaf, a closed
    * range over padded dates or unit-bearing ages, membership in a list. */
  private[etl] sealed trait Kind
  private case object Text extends Kind
  private case object Date extends Kind
  private case object Age extends Kind
  private case object Members extends Kind

  private def ps(path: String): Column = col(s"protocolSection.$path")

  /** Every `AREA[...]` field, each over a [[StudiesSource.ReadSchema]] leaf. */
  private[etl] val fields: Map[String, (Column, Kind)] = Map(
    "NCTId" -> (ps("identificationModule.nctId"), Text),
    "BriefTitle" -> (ps("identificationModule.briefTitle"), Text),
    "OfficialTitle" -> (ps("identificationModule.officialTitle"), Text),
    "OverallStatus" -> (ps("statusModule.overallStatus"), Text),
    "StartDate" -> (ps("statusModule.startDateStruct.date"), Date),
    "StudyType" -> (ps("designModule.studyType"), Text),
    "Phase" -> (ps("designModule.phases"), Members),
    "Sex" -> (ps("eligibilityModule.sex"), Text),
    "EligibilityCriteria" -> (ps("eligibilityModule.eligibilityCriteria"), Text),
    "MinimumAge" -> (ps("eligibilityModule.minimumAge"), Age),
    "MaximumAge" -> (ps("eligibilityModule.maximumAge"), Age),
    "BriefSummary" -> (ps("descriptionModule.briefSummary"), Text),
    "DetailedDescription" -> (ps("descriptionModule.detailedDescription"), Text),
    "LocationCountry" -> (ps("contactsLocationsModule.locations.country"), Members))

  /** "18 Years" / "6 Months" → months; null-safe (null in, null out). */
  def ageMonths(c: Column): Column =
    split_part(c, lit(" "), lit(1)).try_cast(IntegerType) *
      when(c.contains("Year"), lit(12)).otherwise(lit(1))

  /** Driver-side bound parse: "18 Years"→216, "6 Months"→6; MIN/MAX → None. */
  private def boundMonths(s: String): Option[Int] = s match {
    case "MIN" | "MAX" => None
    case v =>
      val parts = v.split(" ")
      Some(parts(0).toInt * (if (v.contains("Year")) 12 else 1))
  }

  /** Partial dates ("2013", "2013-05") padded to a full YYYY-MM-DD so a
    * lexical compare is a correct date compare in any engine. */
  def padDate(c: Column): Column =
    when(length(c) === 10, c)
      .when(length(c) === 7, concat(c, lit("-01")))
      .when(length(c) === 4, concat(c, lit("-01-01")))

  /** Full-text haystack: the study's human-readable text fields
    * (title/summary/description/criteria), lowercased. */
  private val fulltext: Column = lower(concat_ws(" ",
    Seq("BriefTitle", "OfficialTitle", "BriefSummary", "DetailedDescription", "EligibilityCriteria")
      .map(f => coalesce(fields(f)._1, lit(""))): _*))

  private def unsupported(f: String, t: Term): Nothing =
    throw new IllegalArgumentException(s"unsupported Essie field or term shape for $f: $t")

  /** Compile one term. Throws IllegalArgumentException naming the field
    * for a field outside [[fields]] or a shape its kind does not take. */
  def compile(t: Term): Column = t match {
    case Area(f, v) => fields.get(f) match {
      case Some((c, Text))    => c === v
      case Some((c, Members)) => coalesce(array_contains(c, v), lit(false))
      case _                  => unsupported(f, t)
    }
    case AreaRange(f, lo, hi) => fields.get(f) match {
      case Some((c, Date)) => padDate(c).between(lo, hi)
      case Some((c, Age)) =>
        val m = ageMonths(c)
        val Seq(loB, hiB) =
          try Seq(lo, hi).map(boundMonths) catch { case _: NumberFormatException => unsupported(f, t) }
        (loB.map(m >= _).toSeq ++ hiB.map(m <= _)).reduceOption(_ && _).getOrElse(lit(true))
      case _ => unsupported(f, t)
    }
    case AreaMissing(f) => fields.get(f) match {
      case Some((c, Members)) => coalesce(!exists(c, _.isNotNull), lit(true)) // no member present
      case Some((c, _))       => c.isNull
      case None               => unsupported(f, t)
    }

    case SearchLocation(inner) => compile(inner)
    case SearchStudy(needle)   => fulltext.contains(needle.toLowerCase)
    case Or(ts)                => ts.map(compile).reduce(_ || _)
  }

  /** AND-fold of config terms — the reference's joiner (`etl.py:99-100`). */
  def compileAll(terms: Seq[String]): Column =
    terms.map(t => compile(parse(t))).reduce(_ && _)

  /** The exact filter set shipped in the reference example config
    * (`config.example.yaml:4-12`). */
  val referenceConfigTerms: Seq[String] = Seq(
    "AREA[StudyType]INTERVENTIONAL",
    "AREA[StartDate]RANGE[2013-05-01,2024-12-31]",
    "SEARCH[Location](AREA[LocationCountry]Canada)",
    "(AREA[Sex]FEMALE OR AREA[Sex]ALL)",
    "(AREA[MaximumAge]RANGE[18 Years,MAX] OR AREA[MaximumAge]MISSING)",
    "(AREA[MinimumAge]RANGE[MIN,64 Years] OR AREA[MinimumAge]MISSING)",
    "(AREA[Phase]EARLY_PHASE1 OR AREA[Phase]PHASE1 OR AREA[Phase]PHASE2 OR AREA[Phase]PHASE3 OR AREA[Phase]PHASE4)",
    "(SEARCH[Study]pregnant OR SEARCH[Study]pregnancy)")
}
