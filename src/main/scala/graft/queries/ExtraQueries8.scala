package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType}
import graft.Tables
import graft.functions.PortableHash.{md5Prefix, md5PrefixSql}
import graft.queries.Relational.{Fn, Q}

/** Round-7 batch 8: sequence-pattern analytics and a graded counting
  * sketch — a MATCH_RECOGNIZE-lite journey-pattern detector over the
  * event log, and a Count-Min sketch whose every estimate is graded
  * against the exact token counts (the d22 Bloom-gate discipline
  * applied to the counting side of the sketch family).
  *
  * Same determinism discipline as ExtraQueries3–7: portable md5-derived
  * hashes, exact integer sufficient statistics, unique-key tiebreaks
  * wherever order matters.
  */
object ExtraQueries8 {

  private def events(s: SparkSession, d: String) = Tables.events(s, d)
  private def docs(s: SparkSession, d: String) = Tables.documents(s, d)

  // ---------------------------------------- r99 journey patterns

  /** Per-user journey length cap. A hyperactive user would otherwise
    * make one group's aggregation state unbounded — the cap makes the
    * per-user string an explicit ≤[[JourneyCap]]-byte contract (at
    * 100 TB, the one row-group a monitoring bot generates cannot blow
    * an executor), and the SAME cap is applied in the oracle so parity
    * holds by construction. */
  val JourneyCap = 2048

  /** The three graded patterns: (name, regex over the 1-char event
    * codes v/c/p/s/e = view/click/purchase/signup/error). Greedy
    * leftmost non-overlapping counting has identical semantics in
    * Java's regex engine and DuckDB's RE2 for these
    * alternation/star-free-prefix shapes (spot-pinned in the spec). */
  val JourneyPatterns: Seq[(String, String)] = Seq(
    ("browse_buy", "vc*p"), // view, optional clicks, then purchase
    ("double_error", "ee"), // back-to-back failures
    ("signup_view", "sv")) // activation: first content right after signup

  /** r99: MATCH_RECOGNIZE-lite sequence-pattern detection — encode each
    * user's time-ordered event stream as a 1-char-per-event journey
    * string, then count non-overlapping regex matches of each
    * behavioral pattern per user and roll up per pattern. This is the
    * poor-man's form of SQL row-pattern matching (funnel r53 checks ONE
    * fixed ordered conjunction; this greps arbitrary regular patterns),
    * and the standard sessionless way product analytics scans for
    * behavioral motifs.
    *
    * Exactness: the journey string is built over the unique
    * (ts, event_id) order and capped identically in both engines; match
    * counts are integers from the same greedy non-overlapping regex
    * semantics; the rollup is pure integer aggregation.
    * Scale shape: ONE user-keyed shuffle builds all journeys (the
    * row_number cap and the sort-by-rn collect ride the same
    * partitioning); journeys are a user-grain relation (≤cap chars per
    * row), the per-pattern scans are map-side over it, and the final
    * rollup is a 3-row aggregate. */
  private val r99: Fn = (s, d) => {
    val wCap = Window.partitionBy("user_id").orderBy("ts", "event_id")
    val journeys = events(s, d)
      .select(col("user_id"), col("ts"), col("event_id"),
        substring(col("event_type"), 1, 1).as("code"))
      .withColumn("rn", row_number().over(wCap))
      .filter(col("rn") <= JourneyCap)
      .groupBy("user_id")
      .agg(array_join(
        transform(array_sort(collect_list(struct(col("rn"), col("code")))),
          x => x("code")), "").as("journey"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    JourneyPatterns.map { case (name, re) =>
      journeys
        .select(regexp_count(col("journey"), lit(re)).cast(LongType).as("matches"))
        .agg(count(lit(1)).as("n_users"),
          sum(when(col("matches") > 0, 1L).otherwise(0L)).cast(LongType)
            .as("n_matched_users"),
          sum(col("matches")).cast(LongType).as("total_matches"),
          max(col("matches")).cast(LongType).as("max_user_matches"))
        .select(lit(name).as("pattern"), col("n_users"), col("n_matched_users"),
          col("total_matches"), col("max_user_matches"))
    }.reduce(_ unionByName _)
      .orderBy("pattern")
  }

  private val r99Sql = {
    val branches = JourneyPatterns.map { case (name, re) =>
      s"""SELECT '$name' AS pattern, count(*) AS n_users,
         |  CAST(sum(CASE WHEN len(regexp_extract_all(journey, '$re')) > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_matched_users,
         |  CAST(sum(len(regexp_extract_all(journey, '$re'))) AS BIGINT) AS total_matches,
         |  CAST(max(len(regexp_extract_all(journey, '$re'))) AS BIGINT) AS max_user_matches
         |FROM j""".stripMargin
    }
    s"""WITH capped AS (
       |  SELECT user_id, substring(event_type, 1, 1) AS code,
       |         row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
       |  FROM events QUALIFY rn <= $JourneyCap),
       |j AS (
       |  SELECT user_id, string_agg(code, '' ORDER BY rn) AS journey
       |  FROM capped GROUP BY user_id)
       |${branches.mkString("\nUNION ALL\n")}
       |ORDER BY pattern""".stripMargin
  }

  // ---------------------------------------- t32 count-min sketch

  val CmDepth = 3

  /** Width deliberately UNDERSIZED vs the fixture vocabulary (~31
    * distinct tokens): a comfortably-wide sketch never collides there
    * and grades nothing. 16 cells/row forces pigeonhole collisions in
    * every row, so the min-over-rows estimate and its one-sided error
    * are actually exercised; production sizing (w = e/ε) is a
    * parameter, not a plan change. */
  val CmWidth = 16
  val CmProbes = 40

  /** t32: Count-Min sketch, graded — build a [[CmDepth]]×[[CmWidth]]
    * CM sketch over the token stream (portable md5-derived row hashes,
    * conservative none — the textbook Cormode–Muthukrishnan update),
    * then estimate the counts of the [[CmProbes]] most frequent tokens
    * and grade every estimate against the exact count. The counting
    * cousin of d22's Bloom membership gate: d22 grades set-membership
    * decisions, t32 grades frequency estimates, and together they cover
    * the two sketch primitives an ingest pipeline composes (have I seen
    * it? how often?). The defining CM guarantee — estimates NEVER
    * undercount — is what the spec asserts; the driver hash pins the
    * exact overcounts.
    *
    * Exactness: bit positions are the same md5-prefix integers in both
    * engines, so every counter and therefore every min-estimate is
    * bit-identical; all arithmetic is integer.
    * Scale shape: the sketch is built from the distinct-token count
    * relation (one corpus-sized keyed agg that t03 already pays), then
    * collapses to ≤ depth·width rows regardless of corpus size — the
    * relation form of the integer array a streaming `Aggregator` would
    * carry, mergeable across shards by plain (r,c)-keyed addition. The
    * probe evaluation joins [[CmProbes]]·depth rows against it —
    * broadcast-scale on both sides. */
  private val t32: Fn = (s, d) => {
    val exact = docs(s, d)
      .select(explode(split(col("text"), " ")).as("token"))
      .groupBy("token").agg(count(lit(1)).cast(LongType).as("exact_cnt"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    def cells(df: DataFrame): DataFrame = (1 to CmDepth).map(r =>
      df.withColumn("r", lit(r))
        .withColumn("c", md5Prefix(concat(lit(s"$r:"), col("token")), 8) % CmWidth))
      .reduce(_ unionByName _)
    val sketch = cells(exact)
      .groupBy("r", "c").agg(sum(col("exact_cnt")).as("counter"))
    val probes = exact.orderBy(desc("exact_cnt"), col("token")).limit(CmProbes)
    cells(probes)
      .join(sketch, Seq("r", "c"))
      .groupBy("token")
      .agg(first(col("exact_cnt")).as("exact_cnt"),
        min(col("counter")).cast(LongType).as("est_cnt"))
      .withColumn("overcount", (col("est_cnt") - col("exact_cnt")).cast(LongType))
      .select("token", "exact_cnt", "est_cnt", "overcount")
      .orderBy(desc("exact_cnt"), col("token"))
  }

  private val t32Sql = {
    def cellsSql(src: String, cols: String) =
      (1 to CmDepth).map(r =>
        s"""SELECT $cols, $r AS r,
           |  ${md5PrefixSql(s"concat('$r:', token)", 8)} % $CmWidth AS c
           |FROM $src""".stripMargin).mkString("\nUNION ALL\n")
    s"""WITH toks AS (SELECT unnest(string_split(text, ' ')) AS token FROM documents),
       |exact AS (SELECT token, CAST(count(*) AS BIGINT) AS exact_cnt FROM toks GROUP BY 1),
       |ecells AS (${cellsSql("exact", "token, exact_cnt")}),
       |sketch AS (SELECT r, c, CAST(sum(exact_cnt) AS BIGINT) AS counter
       |           FROM ecells GROUP BY 1, 2),
       |probes AS (SELECT token, exact_cnt FROM exact
       |           ORDER BY exact_cnt DESC, token LIMIT $CmProbes),
       |pcells AS (${cellsSql("probes", "token, exact_cnt")})
       |SELECT p.token, any_value(p.exact_cnt) AS exact_cnt,
       |       min(s.counter) AS est_cnt,
       |       min(s.counter) - any_value(p.exact_cnt) AS overcount
       |FROM pcells p JOIN sketch s ON s.r = p.r AND s.c = p.c
       |GROUP BY p.token
       |ORDER BY exact_cnt DESC, token""".stripMargin
  }

  val all: Seq[Q] = Seq(
    Q("r99_event_patterns", r99, Some(r99Sql)),
    Q("t32_countmin", t32, Some(t32Sql)))
}
