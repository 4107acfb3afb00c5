package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType, IntegerType, LongType}
import graft.Tables
import graft.queries.Relational.{Fn, Q, money}

/** Round-7 batch 6: allocation, randomness-testing, lexical-diversity
  * and key-discovery operators — largest-remainder apportionment of a
  * fixed sampling budget, the Wald–Wolfowitz runs test on a revenue
  * series, Simpson diversity / type-token ratio per language, and a
  * candidate-key uniqueness audit.
  *
  * Same determinism discipline as ExtraQueries3/4/5: every corpus-sized
  * relation is reduced by a keyed partial aggregation before any window
  * touches it, integer/decimal algebra end-to-end with ONE final rounded
  * double per statistic, unique-key tiebreaks wherever order matters.
  */
object ExtraQueries6 {

  private def orders(s: SparkSession, d: String) = Tables.orders(s, d)
  private def lineitem(s: SparkSession, d: String) = Tables.lineitem(s, d)
  private def events(s: SparkSession, d: String) = Tables.events(s, d)
  private def documents(s: SparkSession, d: String) = Tables.documents(s, d)

  /** Order-independent exact decimal sum (Relational.dsum twin). */
  private def dsum(c: Column, scale: Int): Column =
    sum(c.cast(DecimalType(24, scale))).cast(DecimalType(38, scale))

  // -------------------------------------------- r88 apportionment

  /** r88: largest-remainder (Hare-quota) apportionment — allocate a
    * fixed budget of 1000 sampling slots across nations proportionally
    * to their exact order counts: floor seats from the quota, then the
    * leftover seats go to the largest remainders (nation key breaks
    * remainder ties). The canonical exact way to turn fractional
    * per-group shares into an integer budget that sums EXACTLY to the
    * total — what p04/p19's rate-based mixtures cannot guarantee.
    *
    * Scale shape: the corpus-sized work is one orders⋈customer join
    * (AQE-planned; customer is the mid-size dim left unhinted per the
    * Relational module rules) + a broadcast nation join + one keyed
    * count. Everything after operates on the #nations-row aggregate:
    * the remainder-rank window is global but AggBounded (PlanLintSpec
    * allowlist) — its input can never exceed the nation domain. All
    * arithmetic integer: `1000·c div T` and `1000·c mod T` are pure
    * BIGINT in both engines, so seats are engine-exact and
    * Σseats = 1000 by construction. */
  private val r88: Fn = (s, d) => {
    val cust = Tables.customer(s, d).select(col("c_custkey"), col("c_nationkey"))
    val nat = Tables.nation(s, d).select(col("n_nationkey"), col("n_name"))
    val cnt = orders(s, d).select(col("o_custkey"))
      .join(cust, col("o_custkey") === col("c_custkey"))
      .join(broadcast(nat), col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("n_nationkey").as("nation"), col("n_name").as("name"))
      .agg(count(lit(1)).as("c"))
    // the budget total, floor seats and leftover all ride full-frame
    // windows over the SAME #nations-row aggregate — one computation of
    // the corpus join, no cache, no second scan (the windows are global
    // but AggBounded: their input can never exceed the nation domain)
    val wAll = Window.partitionBy()
    val wRem = Window.orderBy(desc("rem"), col("nation"))
    cnt.withColumn("t", sum(col("c")).over(wAll))
      .select(col("nation"), col("name"), col("c"),
        expr("1000 * c div t").as("floor_seats"),
        expr("1000 * c % t").as("rem"))
      .withColumn("k", lit(1000L) - sum(col("floor_seats")).over(wAll))
      .withColumn("rk", rank().over(wRem))
      .select(col("nation"), col("name"), col("c"), col("floor_seats"),
        (col("floor_seats") + when(col("rk") <= col("k"), 1L).otherwise(0L)).as("seats"))
      .orderBy("nation")
  }
  private val r88Sql =
    """WITH cnt AS (
      |  SELECT cu.c_nationkey AS nation, n.n_name AS name, CAST(count(*) AS BIGINT) AS c
      |  FROM orders o JOIN customer cu ON o.o_custkey = cu.c_custkey
      |  JOIN nation n ON cu.c_nationkey = n.n_nationkey
      |  GROUP BY 1, 2),
      |base AS (
      |  SELECT nation, name, c,
      |         CAST(1000 * c // sum(c) OVER () AS BIGINT) AS floor_seats,
      |         CAST(1000 * c % sum(c) OVER () AS BIGINT) AS rem
      |  FROM cnt),
      |wk AS (
      |  SELECT nation, name, c, floor_seats,
      |         CAST(1000 - sum(floor_seats) OVER () AS BIGINT) AS k,
      |         rank() OVER (ORDER BY rem DESC, nation) AS rk
      |  FROM base)
      |SELECT nation, name, c, floor_seats,
      |       floor_seats + CASE WHEN rk <= k THEN 1 ELSE 0 END AS seats
      |FROM wk ORDER BY nation""".stripMargin

  // -------------------------------------------- r89 runs test

  /** r89: Wald–Wolfowitz runs test for randomness of the daily-revenue
    * direction series, per order priority — the nonparametric monitor
    * that flags a series as trending (too few runs) or oscillating (too
    * many) without assuming any distribution. Ties (equal consecutive
    * revenue) are dropped per the classical treatment.
    *
    * Exactness: daily revenue is an exact DECIMAL sum, so up/down signs
    * and run boundaries are engine-exact; R, n1, n2, n are pure BIGINT.
    * z = (R − μ)/σ with μ = 2n1n2/n + 1 and
    * σ² = 2n1n2(2n1n2−n)/(n²(n−1)) is algebraically rearranged so the
    * numerator (R·n − n − 2n1n2) and every factor under the sqrt are
    * exact integers — ONE double division + sqrt + round(6) at the end
    * (sqrt is IEEE correctly-rounded, so both engines agree bitwise).
    *
    * Scale shape: the corpus-sized work is the (priority, day) partial
    * aggregation; all windows ride the tiny daily series partitioned by
    * priority (r81's CUSUM discipline). */
  /** Daily-revenue kernel shared by r89/r90 and the streaming runs
    * monitor — the mergeable state (decimal sums are additive across
    * arrival waves; r81's dailyCounts discipline). */
  private[graft] def dailyRevenue(orders: DataFrame): DataFrame =
    orders.groupBy(col("o_orderpriority").as("grp"), col("o_orderdate").as("day"))
      .agg(dsum(col("o_totalprice"), 2).as("rev"))

  /** Runs-test layer over the tiny (grp, day) series — r89's published
    * shape, also the per-wave report of the streaming twin. */
  private[graft] def runsFromDaily(daily: DataFrame): DataFrame = {
    val wOrd = Window.partitionBy("grp").orderBy("day")
    val sgn = daily.withColumn("prev", lag(col("rev"), 1).over(wOrd))
      .filter(col("prev").isNotNull && col("rev") =!= col("prev"))
      .select(col("grp"), col("day"),
        when(col("rev") > col("prev"), 1).otherwise(-1).as("s"))
    val runs = sgn.withColumn("ps", lag(col("s"), 1).over(wOrd))
      .withColumn("new_run",
        when(col("ps").isNull || col("s") =!= col("ps"), 1).otherwise(0))
    val st = runs.groupBy("grp").agg(
      sum(col("new_run")).cast(LongType).as("r"),
      sum(when(col("s") === 1, 1).otherwise(0)).cast(LongType).as("n1"),
      sum(when(col("s") === -1, 1).otherwise(0)).cast(LongType).as("n2"),
      count(lit(1)).as("n"))
    st.select(col("grp"), col("r"), col("n1"), col("n2"), col("n"),
      round(
        (col("r") * col("n") - col("n") - lit(2) * col("n1") * col("n2")).cast(DoubleType) /
          sqrt((lit(2) * col("n1") * col("n2")).cast(DoubleType) *
            (lit(2) * col("n1") * col("n2") - col("n")).cast(DoubleType) /
            (col("n") - 1).cast(DoubleType)), 6).as("z"))
      .orderBy("grp")
  }

  private val r89: Fn = (s, d) => runsFromDaily(dailyRevenue(orders(s, d)))

  private val r89Sql =
    """WITH daily AS (
      |  SELECT o_orderpriority AS grp, o_orderdate AS day,
      |         CAST(sum(CAST(o_totalprice AS DECIMAL(24,2))) AS DECIMAL(38,2)) AS rev
      |  FROM orders GROUP BY 1, 2),
      |mov AS (SELECT grp, day, rev,
      |               lag(rev) OVER (PARTITION BY grp ORDER BY day) AS prev FROM daily),
      |sgn AS (SELECT grp, day, CASE WHEN rev > prev THEN 1 ELSE -1 END AS s
      |        FROM mov WHERE prev IS NOT NULL AND rev <> prev),
      |runs AS (
      |  SELECT grp, s,
      |         CASE WHEN lag(s) OVER (PARTITION BY grp ORDER BY day) IS NULL
      |                OR s <> lag(s) OVER (PARTITION BY grp ORDER BY day) THEN 1 ELSE 0 END AS new_run
      |  FROM sgn),
      |st AS (
      |  SELECT grp, CAST(sum(new_run) AS BIGINT) AS r,
      |         CAST(sum(CASE WHEN s = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
      |         CAST(sum(CASE WHEN s = -1 THEN 1 ELSE 0 END) AS BIGINT) AS n2,
      |         CAST(count(*) AS BIGINT) AS n
      |  FROM runs GROUP BY grp)
      |SELECT grp, r, n1, n2, n,
      |       round(CAST(r*n - n - 2*n1*n2 AS DOUBLE) /
      |             sqrt(CAST(2*n1*n2 AS DOUBLE) * CAST(2*n1*n2 - n AS DOUBLE)
      |                  / CAST(n - 1 AS DOUBLE)), 6) AS z
      |FROM st ORDER BY grp""".stripMargin

  // -------------------------------------------- r90 seasonal decompose

  /** r90: classical seasonal decomposition of the daily-revenue series
    * per priority — detrend with a centered 7-day moving average, then
    * the day-of-week seasonal index is the mean detrended deviation.
    * The additive-decomposition companion to r85's multiplicative lift
    * heatmap, on the r89 revenue kernel instead of event counts.
    *
    * Exactness: the mean is never divided inside the pipeline — the
    * deviation is multiplied through by the window width (dev7 =
    * 7·rev − Σ₇rev, exact DECIMAL), mirroring r81's CUSUM trick, and
    * edge days without a full 7-row window are excluded by an exact
    * window count. ONE rounded division per output cell. Day-of-week is
    * pinned to DuckDB's Sunday=0 (r85's convention).
    *
    * Scale shape: corpus-sized work is the r89 daily partial-agg; the
    * moving window and the dow reduction ride the tiny per-priority
    * series, every window partitioned. */
  private val r90: Fn = (s, d) => {
    val w = Window.partitionBy("grp").orderBy("day").rowsBetween(-3, 3)
    dailyRevenue(orders(s, d))
      .withColumn("sum7", sum(col("rev")).over(w))
      .withColumn("n7", count(lit(1)).over(w))
      .filter(col("n7") === 7)
      .select(col("grp"), (dayofweek(col("day")) - 1).cast(LongType).as("dow"),
        (lit(7) * col("rev") - col("sum7")).as("dev7"))
      .groupBy("grp", "dow")
      .agg(count(lit(1)).as("n_days"),
        round(sum(col("dev7")).cast(DoubleType) / (lit(7.0) * count(lit(1))), 4).as("seasonal"))
      .orderBy("grp", "dow")
  }
  private val r90Sql =
    """WITH daily AS (
      |  SELECT o_orderpriority AS grp, o_orderdate AS day,
      |         CAST(sum(CAST(o_totalprice AS DECIMAL(24,2))) AS DECIMAL(38,2)) AS rev
      |  FROM orders GROUP BY 1, 2),
      |win AS (
      |  SELECT grp, day, rev, sum(rev) OVER w AS sum7, count(*) OVER w AS n7
      |  FROM daily
      |  WINDOW w AS (PARTITION BY grp ORDER BY day ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)),
      |dev AS (
      |  SELECT grp, CAST(dayofweek(day) AS BIGINT) AS dow, 7 * rev - sum7 AS dev7
      |  FROM win WHERE n7 = 7)
      |SELECT grp, dow, CAST(count(*) AS BIGINT) AS n_days,
      |       round(CAST(sum(dev7) AS DOUBLE) / (7.0 * count(*)), 4) AS seasonal
      |FROM dev GROUP BY 1, 2 ORDER BY grp, dow""".stripMargin

  // -------------------------------------------- u19 FK containment

  /** u19: foreign-key inference audit — for each candidate FK edge in
    * the schema, the exact inclusion coefficients: containment
    * (share of child keys present in the parent — 1.0 means the edge
    * IS a valid FK) and coverage (share of parent keys referenced).
    * The inference companion to u05's violation counter and u18's key
    * discovery: u18 finds the keys, u19 finds the edges between them.
    *
    * Scale shape: per edge two keyed DISTINCTs (map-side partial) and
    * one keyed join of the distinct-key sets — the join operands are
    * key domains, not the fact tables; the three 1-row aggregates meet
    * through broadcast nested-loop joins (never a CartesianProduct).
    * Exact BIGINTs until the two rounded ratios. */
  private val u19: Fn = (s, d) => {
    def edge(name: String, child: DataFrame, ck: String,
        parent: DataFrame, pk: String): DataFrame = {
      val c = child.select(col(ck).as("k")).distinct()
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val p = parent.select(col(pk).as("k")).distinct()
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      c.agg(count(lit(1)).as("child_d"))
        .crossJoin(broadcast(p.agg(count(lit(1)).as("parent_d"))))
        .crossJoin(broadcast(c.join(p, "k").agg(count(lit(1)).as("contained"))))
        .select(lit(name).as("edge"), col("child_d"), col("parent_d"), col("contained"),
          round(col("contained").cast(DoubleType) / col("child_d").cast(DoubleType), 6)
            .as("containment"),
          round(col("contained").cast(DoubleType) / col("parent_d").cast(DoubleType), 6)
            .as("coverage"))
    }
    edge("lineitem.l_orderkey->orders.o_orderkey",
        Tables.lineitem(s, d), "l_orderkey", orders(s, d), "o_orderkey")
      .unionByName(edge("orders.o_custkey->customer.c_custkey",
        orders(s, d), "o_custkey", Tables.customer(s, d), "c_custkey"))
      .unionByName(edge("customer.c_nationkey->nation.n_nationkey",
        Tables.customer(s, d), "c_nationkey", Tables.nation(s, d), "n_nationkey"))
      .unionByName(edge("supplier.s_nationkey->nation.n_nationkey",
        Tables.supplier(s, d), "s_nationkey", Tables.nation(s, d), "n_nationkey"))
      .orderBy("edge")
  }
  private val u19Sql = {
    def edgeSql(name: String, child: String, ck: String, parent: String, pk: String) =
      s"""SELECT '$name' AS edge,
         |  CAST((SELECT count(DISTINCT $ck) FROM $child) AS BIGINT) AS child_d,
         |  CAST((SELECT count(DISTINCT $pk) FROM $parent) AS BIGINT) AS parent_d,
         |  CAST((SELECT count(*) FROM (SELECT DISTINCT $ck FROM $child) c
         |        JOIN (SELECT DISTINCT $pk FROM $parent) p ON c.$ck = p.$pk) AS BIGINT) AS contained""".stripMargin
    s"""WITH e AS (
       |${edgeSql("lineitem.l_orderkey->orders.o_orderkey", "lineitem", "l_orderkey", "orders", "o_orderkey")}
       |UNION ALL
       |${edgeSql("orders.o_custkey->customer.c_custkey", "orders", "o_custkey", "customer", "c_custkey")}
       |UNION ALL
       |${edgeSql("customer.c_nationkey->nation.n_nationkey", "customer", "c_nationkey", "nation", "n_nationkey")}
       |UNION ALL
       |${edgeSql("supplier.s_nationkey->nation.n_nationkey", "supplier", "s_nationkey", "nation", "n_nationkey")})
       |SELECT edge, child_d, parent_d, contained,
       |       round(CAST(contained AS DOUBLE) / child_d, 6) AS containment,
       |       round(CAST(contained AS DOUBLE) / parent_d, 6) AS coverage
       |FROM e ORDER BY edge""".stripMargin
  }

  // -------------------------------------------- r91 Theil index

  /** r91: Theil T inequality index of customer spend per region — the
    * information-theoretic companion to r73's Gini: T = (Σ xᵢ·ln xᵢ)/T
    * − ln(T/n) over per-customer totals x (scale-invariant, so the
    * cent-integer basis cancels). Decomposable across groups, which is
    * why inequality monitoring prefers it at mixture-audit time.
    *
    * Determinism: spend is exact cents (BIGINT); each ln(xc) is
    * floored to a 1e-9 fixed-point NEAREST integer (the p23 lesson:
    * nearest absorbs the engines' ±1-ulp libm skew where trunc
    * amplifies it), products ride DECIMAL(38,0) so the Σ x·ln x sum
    * cannot overflow at any corpus size; the final expression is one
    * double subtraction of a single ln, rounded once — a 1-ulp ln μ
    * skew is ~1e-15, far below the 6-dp boundary.
    *
    * Scale shape: orders⋈customer⋈nation into a (region, cust) partial
    * aggregate, then a region-keyed reduction — two keyed shuffles,
    * no windows. */
  private val r91: Fn = (s, d) => {
    val dec = (c: Column) => c.cast(DecimalType(38, 0))
    val cust = Tables.customer(s, d).select(col("c_custkey"), col("c_nationkey"))
    val nat = Tables.nation(s, d).select(col("n_nationkey"), col("n_regionkey"))
    val base = orders(s, d)
      .join(cust, col("o_custkey") === col("c_custkey"))
      .join(broadcast(nat), col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("n_regionkey").as("region"), col("o_custkey").as("cust"))
      .agg((dsum(col("o_totalprice"), 2) * 100).cast(LongType).as("xc"))
    base
      .withColumn("lnfp", round(log(col("xc").cast(DoubleType)) * 1e9, 0).cast(LongType))
      .groupBy("region")
      .agg(count(lit(1)).as("n_customers"),
        sum(col("xc")).cast(LongType).as("total_cents"),
        sum(dec(col("xc")) * dec(col("lnfp"))).cast(DecimalType(38, 0)).as("s_fp"))
      .select(col("region"), col("n_customers"), col("total_cents"),
        round(
          col("s_fp").cast(DoubleType) / (col("total_cents").cast(DoubleType) * 1e9) -
            log(col("total_cents").cast(DoubleType) / col("n_customers").cast(DoubleType)),
          6).as("theil"))
      .orderBy("region")
  }
  private val r91Sql =
    """WITH base AS (
      |  SELECT n.n_regionkey AS region, o.o_custkey AS cust,
      |         CAST(sum(CAST(o_totalprice AS DECIMAL(24,2))) * 100 AS BIGINT) AS xc
      |  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
      |  JOIN nation n ON c.c_nationkey = n.n_nationkey
      |  GROUP BY 1, 2),
      |fp AS (SELECT region, xc,
      |              CAST(round(ln(CAST(xc AS DOUBLE)) * 1e9, 0) AS BIGINT) AS lnfp
      |       FROM base),
      |st AS (
      |  SELECT region, CAST(count(*) AS BIGINT) AS n_customers,
      |         CAST(sum(xc) AS BIGINT) AS total_cents,
      |         CAST(sum(CAST(xc AS DECIMAL(38,0)) * lnfp) AS DECIMAL(38,0)) AS s_fp
      |  FROM fp GROUP BY region)
      |SELECT region, n_customers, total_cents,
      |       round(CAST(s_fp AS DOUBLE) / (CAST(total_cents AS DOUBLE) * 1e9)
      |             - ln(CAST(total_cents AS DOUBLE) / CAST(n_customers AS DOUBLE)), 6) AS theil
      |FROM st ORDER BY region""".stripMargin

  // -------------------------------------------- r92 Spearman rho

  /** r92: Spearman rank correlation (exact, tie-corrected) between
    * order frequency and total spend per region — the distribution-free
    * companion to r67's Pearson matrix: does ordering MORE OFTEN rank
    * with spending MORE, monotonically, outlier-proof?
    *
    * Exactness: classical average ranks, carried DOUBLED so ties stay
    * integer (2r = 2·|{x' < x}| + |{x'' = x}| + 1, from a cumulative
    * window over the per-(region, value) count relation); rho is then
    * Pearson over the integer doubled ranks via the r67 sufficient-
    * statistics form in DECIMAL(38,0) — ONE double sqrt + division +
    * round at the end (sqrt is IEEE-exact, so both engines agree).
    * Spec-pinned to pandas' average-rank Spearman on the fixture.
    *
    * Scale shape: corpus work is the (region, cust) partial aggregate;
    * the rank windows ride per-(region, value) COUNT relations (one
    * row per distinct value, partitioned by region) and join back
    * keyed — no corpus-sized window, no global window. */
  private val r92: Fn = (s, d) => {
    val dec = (c: Column) => c.cast(DecimalType(38, 0))
    val cust = Tables.customer(s, d).select(col("c_custkey"), col("c_nationkey"))
    val nat = Tables.nation(s, d).select(col("n_nationkey"), col("n_regionkey"))
    val base = orders(s, d)
      .join(cust, col("o_custkey") === col("c_custkey"))
      .join(broadcast(nat), col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("n_regionkey").as("region"), col("o_custkey").as("cust"))
      .agg(count(lit(1)).as("x"),
        (dsum(col("o_totalprice"), 2) * 100).cast(LongType).as("y"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    def doubledRanks(valueCol: String, outCol: String): DataFrame = {
      val cnt = base.groupBy(col("region"), col(valueCol).as("v"))
        .agg(count(lit(1)).as("c"))
      val w = Window.partitionBy("region").orderBy("v")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      cnt.withColumn("cum", sum(col("c")).over(w) - col("c"))
        .select(col("region"), col("v"),
          (lit(2) * col("cum") + col("c") + 1).as(outCol))
    }
    val rx = doubledRanks("x", "rx2")
      .withColumnRenamed("region", "rgx").withColumnRenamed("v", "xv")
    val ry = doubledRanks("y", "ry2")
      .withColumnRenamed("region", "rgy").withColumnRenamed("v", "yv")
    base
      .join(rx, col("region") === col("rgx") && col("x") === col("xv"))
      .join(ry, col("region") === col("rgy") && col("y") === col("yv"))
      .select(col("region"), col("rx2"), col("ry2"))
      .groupBy("region")
      .agg(count(lit(1)).as("n"),
        sum(dec(col("rx2"))).cast(DecimalType(38, 0)).as("sx"),
        sum(dec(col("ry2"))).cast(DecimalType(38, 0)).as("sy"),
        sum(dec(col("rx2")) * dec(col("rx2"))).cast(DecimalType(38, 0)).as("sxx"),
        sum(dec(col("ry2")) * dec(col("ry2"))).cast(DecimalType(38, 0)).as("syy"),
        sum(dec(col("rx2")) * dec(col("ry2"))).cast(DecimalType(38, 0)).as("sxy"))
      .select(col("region"), col("n"),
        round((dec(col("n")) * col("sxy") - col("sx") * col("sy")).cast(DoubleType) /
          sqrt((dec(col("n")) * col("sxx") - col("sx") * col("sx")).cast(DoubleType) *
            (dec(col("n")) * col("syy") - col("sy") * col("sy")).cast(DoubleType)), 6)
          .as("rho"))
      .orderBy("region")
  }
  private val r92Sql =
    """WITH base AS (
      |  SELECT n.n_regionkey AS region, o.o_custkey AS cust,
      |         CAST(count(*) AS BIGINT) AS x,
      |         CAST(sum(CAST(o_totalprice AS DECIMAL(24,2))) * 100 AS BIGINT) AS y
      |  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
      |  JOIN nation n ON c.c_nationkey = n.n_nationkey
      |  GROUP BY 1, 2),
      |xr AS (SELECT region, x AS v,
      |         2*(sum(c) OVER (PARTITION BY region ORDER BY x
      |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - c) + c + 1 AS rx2
      |       FROM (SELECT region, x, CAST(count(*) AS BIGINT) AS c FROM base GROUP BY 1,2) t),
      |yr AS (SELECT region, y AS v,
      |         2*(sum(c) OVER (PARTITION BY region ORDER BY y
      |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - c) + c + 1 AS ry2
      |       FROM (SELECT region, y, CAST(count(*) AS BIGINT) AS c FROM base GROUP BY 1,2) t),
      |rk AS (
      |  SELECT b.region, xr.rx2, yr.ry2
      |  FROM base b JOIN xr ON b.region = xr.region AND b.x = xr.v
      |              JOIN yr ON b.region = yr.region AND b.y = yr.v),
      |st AS (
      |  SELECT region, CAST(count(*) AS BIGINT) AS n,
      |         CAST(sum(rx2) AS DECIMAL(38,0)) AS sx, CAST(sum(ry2) AS DECIMAL(38,0)) AS sy,
      |         CAST(sum(CAST(rx2 AS DECIMAL(38,0)) * rx2) AS DECIMAL(38,0)) AS sxx,
      |         CAST(sum(CAST(ry2 AS DECIMAL(38,0)) * ry2) AS DECIMAL(38,0)) AS syy,
      |         CAST(sum(CAST(rx2 AS DECIMAL(38,0)) * ry2) AS DECIMAL(38,0)) AS sxy
      |  FROM rk GROUP BY region)
      |SELECT region, n,
      |  round(CAST(n*sxy - sx*sy AS DOUBLE) /
      |        sqrt(CAST(n*sxx - sx*sx AS DOUBLE) * CAST(n*syy - sy*sy AS DOUBLE)), 6) AS rho
      |FROM st ORDER BY region""".stripMargin

  // -------------------------------------------- r93 clamped balance

  /** r93: floor-clamped running inventory balance per supplier — the
    * stock can never go negative, so the naive cumulative sum is wrong
    * and the recurrence B_t = max(0, B_{t−1} + net_t) looks
    * sequentially-dependent. It is not: by the Lindley-recursion
    * closed form, B_t = S_t − min(0, min_{k≤t} S_k) where S is the
    * plain cumulative sum — TWO ordered windows instead of a per-key
    * scan loop, fully parallel across suppliers (spec-proven against
    * the procedural clamp). Output is the per-supplier season report:
    * final/peak balance, stockout-day count.
    *
    * Exactness: quantities are integral (the r80 fixture contract), so
    * every balance is exact BIGINT; no doubles anywhere. Scale shape:
    * one (supp, day) partial agg over the fact table; both windows and
    * the closing reduction ride the supplier-keyed daily series. */
  private val r93: Fn = (s, d) => {
    val wCum = Window.partitionBy("supp").orderBy("day")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val daily = lineitem(s, d)
      .groupBy(col("l_suppkey").as("supp"), col("l_shipdate").as("day"))
      .agg(sum(when(col("l_returnflag") === "R", col("l_quantity").cast(LongType))
        .otherwise(-col("l_quantity").cast(LongType))).cast(LongType).as("net"))
    daily.withColumn("s", sum(col("net")).over(wCum))
      .withColumn("bal", (col("s") - least(lit(0L), min(col("s")).over(wCum))).cast(LongType))
      .groupBy("supp")
      .agg(count(lit(1)).as("n_days"),
        max_by(col("bal"), col("day")).as("final_balance"),
        max(col("bal")).as("peak_balance"),
        sum(when(col("bal") === 0L, 1L).otherwise(0L)).cast(LongType).as("stockout_days"))
      .orderBy("supp")
  }
  private val r93Sql =
    """WITH daily AS (
      |  SELECT l_suppkey AS supp, l_shipdate AS day,
      |         CAST(sum(CASE WHEN l_returnflag = 'R' THEN CAST(l_quantity AS BIGINT)
      |                       ELSE -CAST(l_quantity AS BIGINT) END) AS BIGINT) AS net
      |  FROM lineitem GROUP BY 1, 2),
      |cum AS (
      |  SELECT supp, day, net,
      |         CAST(sum(net) OVER (PARTITION BY supp ORDER BY day
      |              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS s
      |  FROM daily),
      |bal AS (
      |  SELECT supp, day,
      |         CAST(s - least(0, min(s) OVER (PARTITION BY supp ORDER BY day
      |              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)) AS BIGINT) AS bal
      |  FROM cum)
      |SELECT supp, CAST(count(*) AS BIGINT) AS n_days,
      |       arg_max(bal, day) AS final_balance,
      |       max(bal) AS peak_balance,
      |       CAST(sum(CASE WHEN bal = 0 THEN 1 ELSE 0 END) AS BIGINT) AS stockout_days
      |FROM bal GROUP BY supp ORDER BY supp""".stripMargin

  // -------------------------------------------- r94 revenue proration

  /** r94: revenue recognition by exact cent proration — each order's
    * total is spread over the 3 months starting at its order date,
    * with the integer-division remainder assigned to the EARLIEST
    * months (the row-grain largest-remainder rule; r88's budget
    * exactness at order grain): Σ recognized = Σ order totals to the
    * cent, by construction, which a per-month rate multiply cannot
    * guarantee. Output: the monthly recognized-revenue schedule.
    *
    * Exactness: cents are exact BIGINT; base = cents div 3 and the
    * i < cents mod 3 bump are pure integer ops; month arithmetic
    * (add-months with end-of-month clamping, then month truncation)
    * agrees between Spark's `add_months` and DuckDB's `to_months`
    * addition. Scale shape: a 3× explode of the fact table into a
    * month-keyed partial aggregation — one shuffle to ~#months rows. */
  private val r94: Fn = (s, d) => {
    val o = orders(s, d).select(
      (money(col("o_totalprice")) * 100).cast(LongType).as("cents"),
      to_date(col("o_orderdate")).as("day"))
    o.select(col("cents"), col("day"), explode(sequence(lit(0), lit(2))).as("i"))
      .select(
        trunc(add_months(col("day"), col("i").cast(IntegerType)), "month").as("month"),
        (expr("cents div 3") + when(col("i") < expr("cents % 3"), 1L).otherwise(0L))
          .as("recognized"))
      .groupBy("month")
      .agg(sum(col("recognized")).cast(LongType).as("recognized_cents"),
        count(lit(1)).as("n_slices"))
      .orderBy("month")
  }
  private val r94Sql =
    """WITH o AS (
      |  SELECT CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT) AS cents,
      |         CAST(o_orderdate AS DATE) AS day
      |  FROM orders),
      |sl AS (
      |  SELECT cents, day, unnest(range(0, 3)) AS i FROM o),
      |rec AS (
      |  SELECT CAST(date_trunc('month', day + to_months(CAST(i AS INTEGER))) AS DATE) AS month,
      |         cents // 3 + CASE WHEN i < cents % 3 THEN 1 ELSE 0 END AS recognized
      |  FROM sl)
      |SELECT month, CAST(sum(recognized) AS BIGINT) AS recognized_cents,
      |       CAST(count(*) AS BIGINT) AS n_slices
      |FROM rec GROUP BY month ORDER BY month""".stripMargin

  // -------------------------------------------- r95 growth accounting

  /** r95: daily growth accounting — the canonical DAU decomposition
    * every product-analytics stack ships: each active (user, day) is
    * NEW (first day ever), RETAINED (also active the previous calendar
    * day) or RESURRECTED (returning after a gap), and CHURNED(d) counts
    * users whose previous activity was d−1 with nothing on d. The
    * identity active(d) = new + retained + resurrected and
    * churned(d) = active(d−1) − retained(d) are spec-asserted — an
    * accounting that doesn't balance is wrong by construction.
    *
    * Exactness: pure set logic on exact dates; no doubles at all.
    * Scale shape: one DISTINCT to the (user, day) activity grain, one
    * user-partitioned lag/min window over it (fine-grained key — never
    * a hot reducer), and day-keyed count reductions; the churn side is
    * the same relation shifted one day. */
  /** The (user_id, day) distinct-activity grain r95 derives everything
    * from — ALSO the mergeable state of the streaming twin (set union is
    * idempotent/commutative, so waves merge by union+distinct at any
    * batch boundary: `StreamingOps.Growth`). */
  def activeDays(ev: DataFrame): DataFrame =
    ev.select(col("user_id"), to_date(col("ts")).as("day")).distinct()

  /** r95's flow derivation over an activity grain (factored so the
    * streaming twin republishes from its standing state via the SAME
    * oracled code). */
  def growthFlows(active0: DataFrame): DataFrame = {
    val wu = Window.partitionBy("user_id").orderBy("day")
    val active = active0
      .withColumn("prev", lag(col("day"), 1).over(wu))
      .withColumn("first", min(col("day")).over(
        Window.partitionBy("user_id")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val flows = active.groupBy("day").agg(
      sum(when(col("day") === col("first"), 1L).otherwise(0L)).cast(LongType).as("n_new"),
      sum(when(col("prev") === date_add(col("day"), -1), 1L).otherwise(0L))
        .cast(LongType).as("n_retained"),
      sum(when(col("day") =!= col("first") &&
        (col("prev").isNull || col("prev") < date_add(col("day"), -1)), 1L)
        .otherwise(0L)).cast(LongType).as("n_resurrected"))
    val prevActive = active.groupBy(date_add(col("day"), 1).as("day"))
      .agg(count(lit(1)).as("prev_active"))
    flows.join(prevActive, Seq("day"), "left")
      .select(col("day"), col("n_new"), col("n_retained"), col("n_resurrected"),
        (col("n_new") + col("n_retained") + col("n_resurrected")).as("n_active"),
        (coalesce(col("prev_active"), lit(0L)) - col("n_retained")).cast(LongType)
          .as("n_churned"))
      .orderBy("day")
  }
  private val r95: Fn = (s, d) => growthFlows(activeDays(events(s, d)))
  private val r95Sql =
    """WITH act AS (
      |  SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
      |ann AS (
      |  SELECT user_id, day,
      |         lag(day) OVER (PARTITION BY user_id ORDER BY day) AS prev,
      |         min(day) OVER (PARTITION BY user_id) AS first
      |  FROM act),
      |flows AS (
      |  SELECT day,
      |         CAST(sum(CASE WHEN day = first THEN 1 ELSE 0 END) AS BIGINT) AS n_new,
      |         CAST(sum(CASE WHEN prev = day - 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_retained,
      |         CAST(sum(CASE WHEN day <> first AND (prev IS NULL OR prev < day - 1)
      |                       THEN 1 ELSE 0 END) AS BIGINT) AS n_resurrected
      |  FROM ann GROUP BY day),
      |pa AS (SELECT day + 1 AS day, CAST(count(*) AS BIGINT) AS prev_active
      |       FROM act GROUP BY 1)
      |SELECT f.day, n_new, n_retained, n_resurrected,
      |       n_new + n_retained + n_resurrected AS n_active,
      |       CAST(COALESCE(pa.prev_active, 0) - n_retained AS BIGINT) AS n_churned
      |FROM flows f LEFT JOIN pa ON f.day = pa.day
      |ORDER BY f.day""".stripMargin

  // -------------------------------------------- t28 Simpson diversity

  /** t28: lexical-diversity profile per language — Simpson diversity
    * 1 − Σ nᵢ(nᵢ−1)/(N(N−1)) (the probability two random tokens
    * differ; the exact, sample-size-unbiased companion to t21's
    * entropy) and the type-token ratio V/N. Both are exact rationals
    * over token counts, so unlike the entropy family no fixed-point ln
    * discipline is needed — pure integer algebra until ONE rounded
    * division each.
    *
    * Scale shape: two keyed shuffles — (lang, token) count then the
    * per-lang reduction; identical to t21. The nᵢ(nᵢ−1) products ride
    * DECIMAL(38,0) so a 100 TB head token (nᵢ ~ 10¹⁰) cannot overflow
    * the summation in either engine. */
  private val t28: Fn = (s, d) => {
    val dec = (c: Column) => c.cast(DecimalType(38, 0))
    val cnt = documents(s, d)
      .select(col("lang"), explode(split(col("text"), " ")).as("token"))
      .groupBy("lang", "token").agg(count(lit(1)).as("c"))
    cnt.groupBy("lang").agg(
      sum(col("c")).cast(LongType).as("n"),
      count(lit(1)).as("v"),
      sum(dec(col("c")) * dec(col("c") - 1)).cast(DecimalType(38, 0)).as("rep"))
      .select(col("lang"), col("n"), col("v"),
        round(lit(1.0) - col("rep").cast(DoubleType) /
          (col("n").cast(DoubleType) * (col("n") - 1).cast(DoubleType)), 6).as("simpson"),
        round(col("v").cast(DoubleType) / col("n").cast(DoubleType), 6).as("ttr"))
      .orderBy("lang")
  }
  private val t28Sql =
    """WITH tok AS (SELECT lang, unnest(string_split(text, ' ')) AS token FROM documents),
      |cnt AS (SELECT lang, token, CAST(count(*) AS BIGINT) AS c FROM tok GROUP BY 1, 2),
      |st AS (SELECT lang, CAST(sum(c) AS BIGINT) AS n, CAST(count(*) AS BIGINT) AS v,
      |              CAST(sum(CAST(c AS DECIMAL(38,0)) * (c - 1)) AS DECIMAL(38,0)) AS rep
      |       FROM cnt GROUP BY lang)
      |SELECT lang, n, v,
      |       round(1.0 - CAST(rep AS DOUBLE) / (CAST(n AS DOUBLE) * CAST(n - 1 AS DOUBLE)), 6) AS simpson,
      |       round(CAST(v AS DOUBLE) / CAST(n AS DOUBLE), 6) AS ttr
      |FROM st ORDER BY lang""".stripMargin

  // -------------------------------------------- u18 candidate keys

  /** u18: candidate-key discovery audit — exact distinct-value counts
    * for a declared lattice of column combinations on orders, flagging
    * which are true keys (distinct = rowcount) and the uniqueness ratio
    * of the rest. The profiling primitive behind key inference, upsert
    * key validation (r42) and fan-out debugging (u17).
    *
    * Scale shape: ONE scan — all five distincts and the row count are
    * computed in a single Aggregate (Spark plans multi-distinct via its
    * Expand operator: 5× row multiplication map-side, each branch then
    * partially aggregated before the shuffle). At 100 TB you would
    * first screen with approx_count_distinct (r28) and reserve this
    * exact pass for the survivors; the audit itself stays one job
    * either way. Composite tuples contain no NULLs in any column here
    * (u05 asserts referential/null integrity) — NULL-tuple semantics
    * differ between engines' composite count-distinct and are
    * deliberately not relied on. */
  private val u18: Fn = (s, d) => {
    val a = orders(s, d).agg(
      countDistinct(col("o_orderkey")).as("k1"),
      countDistinct(col("o_custkey")).as("k2"),
      countDistinct(col("o_orderdate")).as("k3"),
      countDistinct(col("o_custkey"), col("o_orderdate")).as("k4"),
      countDistinct(col("o_custkey"), col("o_orderdate"), col("o_totalprice")).as("k5"),
      count(lit(1)).as("n"))
    a.select(expr(
      "stack(5, 'o_orderkey', k1, 'o_custkey', k2, 'o_orderdate', k3, " +
        "'o_custkey+o_orderdate', k4, 'o_custkey+o_orderdate+o_totalprice', k5)")
      .as(Seq("cand", "dv")), col("n"))
      .select(col("cand"), col("dv"), col("n"),
        (col("dv") === col("n")).as("is_key"),
        round(col("dv").cast(DoubleType) / col("n").cast(DoubleType), 6).as("uniq_ratio"))
      .orderBy("cand")
  }
  private val u18Sql =
    """WITH t AS (SELECT CAST(count(*) AS BIGINT) AS n FROM orders)
      |SELECT cand, dv, n, dv = n AS is_key,
      |       round(CAST(dv AS DOUBLE) / CAST(n AS DOUBLE), 6) AS uniq_ratio
      |FROM (
      |  SELECT 'o_orderkey' AS cand, CAST(count(DISTINCT o_orderkey) AS BIGINT) AS dv FROM orders
      |  UNION ALL SELECT 'o_custkey', count(DISTINCT o_custkey) FROM orders
      |  UNION ALL SELECT 'o_orderdate', count(DISTINCT o_orderdate) FROM orders
      |  UNION ALL SELECT 'o_custkey+o_orderdate', count(DISTINCT (o_custkey, o_orderdate)) FROM orders
      |  UNION ALL SELECT 'o_custkey+o_orderdate+o_totalprice',
      |                   count(DISTINCT (o_custkey, o_orderdate, o_totalprice)) FROM orders
      |) u, t ORDER BY cand""".stripMargin

  val all: Seq[Q] = Seq(
    Q("r88_apportionment", r88, Some(r88Sql)),
    Q("r89_runs_test", r89, Some(r89Sql)),
    Q("r90_seasonal_decompose", r90, Some(r90Sql)),
    Q("r91_theil_index", r91, Some(r91Sql)),
    Q("r92_spearman", r92, Some(r92Sql)),
    Q("r93_clamped_balance", r93, Some(r93Sql)),
    Q("r94_revenue_proration", r94, Some(r94Sql)),
    Q("r95_growth_accounting", r95, Some(r95Sql)),
    Q("t28_simpson_diversity", t28, Some(t28Sql)),
    Q("u18_candidate_keys", u18, Some(u18Sql)),
    Q("u19_fk_containment", u19, Some(u19Sql)))
}
