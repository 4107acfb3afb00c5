package graft.queries

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, GlobalLimit, LeafNode, LocalLimit, LogicalPlan, Window => LWindow}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.execution.columnar.{InMemoryRelation, InMemoryTableScanExec}
import org.apache.spark.sql.execution.window.WindowExec
import graft.SparkTestSession

/** Registry-WIDE plan lint: every registered query's plan is checked
  * against the scale invariants, so a new query cannot silently ship an
  * anti-pattern the per-query pins never look at. Exceptions are
  * explicit allowlists with the reason recorded here.
  */
class PlanLintSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val sf = "/root/testdata/sf0.001"

  private lazy val executions =
    graft.SparkEntry.queries.map { case (name, fn) =>
      name -> fn(spark, sf).queryExecution
    }

  private lazy val plans: Map[String, String] =
    executions.map { case (name, qe) =>
      name -> qe.explainString(org.apache.spark.sql.execution.FormattedMode)
    }

  test("no query plans a CartesianProduct") {
    val offenders = plans.filter(_._2.contains("CartesianProduct")).keys.toSeq.sorted
    assert(offenders.isEmpty, s"cartesian products in: $offenders")
  }

  // Global (unpartitioned) windows move every row to one reducer. The
  // allowlist names the operators where that is acceptable, and — r6
  // verdict item 3 — each entry also declares WHY via a bound class
  // that is re-checked against the actual plan, so an entry earned by
  // a tiny aggregate can never excuse a later corpus-sized window:
  //  - AggBounded: every path from the window down to a corpus
  //    (parquet) leaf passes through an Aggregate or a Limit — the
  //    window input is a bounded reduction (per-source rates, skyline
  //    price domain, limit survivors), never the corpus itself.
  //  - FixtureBounded: the window reads only the 14-row etl JSON
  //    fixture, no corpus leaf at all (etl_enrich_gated — the
  //    reference's head-N-in-global-order gate, etl.py:355-364; the
  //    module documents enrichAll as the scale path).
  // Entries (re-grounded against the r7 plans via the WinProbe tool,
  // removed after commit 2024ec5 in favour of this lint;
  // p05's rank window is PARTITIONED by shard and r66 is window-free
  // since the zipWithIndex rewrite — both dropped):
  //  - p04/p06 (mixtureCuts): grand-total window over the per-SOURCE
  //    aggregate — input rows = number of sources, never the corpus.
  //  - u04: ranks the 20 survivors of a TakeOrderedAndProject.
  //  - p16: the waterfill level needs a total order over the per-SOURCE
  //    availability aggregate — same #sources-rows class as p04.
  //  - p17: bin-packing cumsum over file METADATA (#sources × #shards
  //    rows) — the driver-side listing class Spark itself packs scan
  //    splits from, never the corpus.
  //  - t19: ranks the 1000 survivors of a TakeOrderedAndProject.
  //  - r62: running max over the DISTINCT-PRICE aggregate (input rows =
  //    price domain, 1000 here, never the part table; the skyline
  //    reduction happens in the preceding partial-agg'd groupBy).
  private sealed trait WindowBound
  private case object AggBounded extends WindowBound
  private case object FixtureBounded extends WindowBound
  private val globalWindowAllowed: Map[String, WindowBound] = Map(
    "etl_enrich_gated" -> FixtureBounded,
    "p06_assemble_training_set" -> AggBounded,
    "p04_mixture_sample" -> AggBounded,
    "u04_skew_report" -> AggBounded,
    "p16_mixture_waterfill" -> AggBounded,
    // p23: the same waterfill kernel over the quality-gated per-SOURCE
    // aggregate — identical #sources-row input class as p16.
    "p23_quality_waterfill" -> AggBounded,
    "p17_compaction_plan" -> AggBounded,
    "t19_zipf_fit" -> AggBounded,
    "r62_skyline" -> AggBounded,
    // r88: remainder-rank window over the per-NATION aggregate — input
    // rows = nation domain (25), never orders; the Hare-quota seat
    // assignment needs a total order over that tiny relation.
    "r88_apportionment" -> AggBounded,
    // r96: row_number day-index over the per-DAY revenue aggregate —
    // input rows = #days in the order history, never the orders table;
    // the ACF lag join needs a total order over that bounded series.
    "r96_autocorrelation" -> AggBounded,
    // t31: cumulative-count window over the distinct-MARGIN histogram
    // aggregate (decile cuts by the counting method) — input rows =
    // margin domain, never the documents table.
    "t31_calibration" -> AggBounded,
    // p28: quartile-cut cumsum over the n_chars value HISTOGRAM (the
    // p14/t31 counting-method idiom) — input rows = n_chars domain,
    // never the documents table; the allocation windows are
    // stage-partitioned.
    "p28_curriculum_schedule" -> AggBounded,
    // m18: largest-remainder quota windows over the per-MIME aggregate —
    // input rows = modality domain (3), never the documents table; the
    // selection rank window is mime-partitioned.
    "m18_modality_balance" -> AggBounded,
    // r121: total-revenue share window over the (region, nation)
    // aggregate — input rows = nation domain (25), never orders; the
    // region-share window is region-partitioned.
    "r121_pct_of_parent" -> AggBounded,
    // p32: cumulative surplus/deficit interval windows over the
    // per-SHARD size aggregate — input rows = shard domain (16), never
    // the documents table; the r108 FIFO-interval kernel at the shard
    // grain.
    "p32_shard_rebalance" -> AggBounded,
    // p35: largest-remainder rank window over the per-SOURCE count
    // aggregate — input rows = source domain (20), never the documents
    // table; the roster rank window is source-partitioned.
    "p35_quota_eval_split" -> AggBounded,
    // u32: cumulative-rank window over the distinct-VALUE aggregate
    // (the 2dp-grid value domain, r62's class) — input rows = value
    // domain, never the events table; the midrank AUC needs one total
    // order over that bounded histogram.
    // (t43's coverage rank looks like the same class, but the TopK
    // rewrite turns its global rank window into the native operator —
    // no logical Window survives, so no entry is needed.)
    "u32_rank_auc" -> AggBounded,
    // r129: CI rank window over the 64-row replicate-mean aggregate —
    // the r123 class; input rows = B replicates, never the events
    // table.
    "r129_bootstrap_diff" -> AggBounded,
    // r133: cumulative likelihood walk over the per-DAY aggregate —
    // input rows = #days in the event history (the r96 class), never
    // the events table.
    "r133_sprt" -> AggBounded,
    // m23: largest-remainder rank window over the per-SOURCE frame
    // aggregate — the p35 class; input rows = video-source domain
    // (18), never the documents table.
    "m23_frame_budget" -> AggBounded)

  private def globalWindows(name: String): Seq[LWindow] =
    executions(name).optimizedPlan.collect {
      case w: LWindow if w.partitionSpec.isEmpty => w
    }

  // ---- persisted-subtree traversal (the r7 r96 finding): a persist()
  // boundary replaces its subtree with an InMemoryRelation LEAF in the
  // logical plan, so a global window INSIDE the cached subtree was
  // invisible to the logical collect above. The cached plan is physical;
  // these mirrors walk it (descending through AQE wrappers and nested
  // caches) so a persisted corpus-sized global window cannot dodge the
  // lint.
  private def physGlobalWindows(p: SparkPlan): Seq[SparkPlan] =
    p.collect {
      case w: WindowExec if w.partitionSpec.isEmpty => Seq(w: SparkPlan)
      case a: AdaptiveSparkPlanExec => physGlobalWindows(a.inputPlan)
      case s: InMemoryTableScanExec => physGlobalWindows(s.relation.cachedPlan)
    }.flatten

  private def physAggOrLimitGuarded(node: SparkPlan): Boolean = node match {
    case _: BaseAggregateExec => true
    case l if l.nodeName.toLowerCase.contains("limit") ||
      l.nodeName.contains("TakeOrderedAndProject") => true
    case a: AdaptiveSparkPlanExec => physAggOrLimitGuarded(a.inputPlan)
    case s: InMemoryTableScanExec => physAggOrLimitGuarded(s.relation.cachedPlan)
    case l if l.children.isEmpty => !l.toString.toLowerCase.contains("parquet")
    case other => other.children.forall(physAggOrLimitGuarded)
  }

  private def physTouchesParquet(node: SparkPlan): Boolean = node match {
    case a: AdaptiveSparkPlanExec => physTouchesParquet(a.inputPlan)
    case s: InMemoryTableScanExec => physTouchesParquet(s.relation.cachedPlan)
    case l if l.children.isEmpty => l.toString.toLowerCase.contains("parquet")
    case other => other.children.exists(physTouchesParquet)
  }

  /** All unpartitioned windows of a query — logical plan AND persisted
    * subtrees — each with its description and a bound-class checker. */
  private def globalWindowChecks(name: String): Seq[(String, WindowBound => Boolean)] = {
    val plan = executions(name).optimizedPlan
    val logical = globalWindows(name).map { w =>
      (w.simpleString(3), (b: WindowBound) => b match {
        case AggBounded => aggOrLimitGuarded(w.child)
        case FixtureBounded => !touchesParquet(w.child)
      })
    }
    val cached = plan.collect { case r: InMemoryRelation => r }
      .flatMap(r => physGlobalWindows(r.cachedPlan))
      .map { w =>
        (w.simpleString(3), (b: WindowBound) => b match {
          case AggBounded => physAggOrLimitGuarded(w.children.head)
          case FixtureBounded => !physTouchesParquet(w.children.head)
        })
      }
    logical ++ cached
  }

  /** True iff every path from `node` down to a corpus-sized (parquet)
    * leaf passes through an Aggregate or a Limit. A non-parquet leaf
    * (the 14-row etl JSON fixture, a LocalRelation) is bounded by
    * construction. */
  private def aggOrLimitGuarded(node: LogicalPlan): Boolean = node match {
    case _: Aggregate | _: GlobalLimit | _: LocalLimit => true
    case l: LeafNode => !l.toString.toLowerCase.contains("parquet")
    case other => other.children.forall(aggOrLimitGuarded)
  }

  private def touchesParquet(node: LogicalPlan): Boolean =
    node.collect { case l: LeafNode if l.toString.toLowerCase.contains("parquet") => l }.nonEmpty

  private def boundHolds(w: LWindow, bound: WindowBound): Boolean = bound match {
    case AggBounded => aggOrLimitGuarded(w.child)
    case FixtureBounded => !touchesParquet(w.child)
  }

  test("no query plans an unpartitioned Window outside the allowlist") {
    val offenders = executions.keys.filter(n =>
      !globalWindowAllowed.contains(n) && globalWindowChecks(n).nonEmpty)
    assert(offenders.isEmpty, s"global windows in: ${offenders.toSeq.sorted}")
    // detector self-test: the allowlisted plans DO contain the global
    // window this lint exists to catch — an always-false detector (e.g.
    // after a plan-format change) fails here instead of passing silently
    assert(globalWindowAllowed.keys.exists(n => globalWindowChecks(n).nonEmpty),
      "detector found no global window even in the allowlisted queries")
  }

  test("every allowlisted global window matches its declared bound class") {
    // An allowlist entry is not a blank cheque: each query's actual
    // unpartitioned windows must still be bounded the way the entry
    // claims. A corpus-sized global window sneaking into an allowlisted
    // query fails HERE even though the query name is allowlisted.
    val violations = globalWindowAllowed.toSeq.flatMap { case (name, bound) =>
      globalWindowChecks(name).collect { case (desc, holds) if !holds(bound) => s"$name: $desc" }
    }
    assert(violations.isEmpty, s"allowlisted windows violating their bound class: $violations")
    // stale-entry guard: an entry whose query no longer has ANY global
    // window is dead weight that will rot (the r6 p05/r66 finding)
    val stale = globalWindowAllowed.keys.filter(n => globalWindowChecks(n).isEmpty)
    assert(stale.isEmpty, s"stale allowlist entries (no global window in plan): ${stale.toSeq.sorted}")
  }

  test("planted corpus-sized global window is rejected by the bound check") {
    // Proves the classifier is not vacuous: a raw unpartitioned
    // row_number over the full orders table must classify as unguarded.
    import org.apache.spark.sql.functions.{col, row_number}
    val planted = graft.Tables.orders(spark, sf)
      .withColumn("r", row_number().over(
        org.apache.spark.sql.expressions.Window.orderBy(col("o_orderkey"))))
    val wins = planted.queryExecution.optimizedPlan.collect {
      case w: LWindow if w.partitionSpec.isEmpty => w
    }
    assert(wins.nonEmpty, "planted plan lost its global window")
    assert(wins.forall(w => !boundHolds(w, AggBounded) && !boundHolds(w, FixtureBounded)),
      "planted corpus-sized global window classified as bounded")
  }

  // ---- overflow/parity lint (r10 verdict item 3) -------------------
  // Round 10 hand-found five long-overflow / libm-pow / FP-fold parity
  // risks (commit d29d3ef); the same classes recur with every batch.
  // Three detectors over the optimized plans, allowlisted with reasons
  // in the AggBounded mold, each proven non-vacuous on a planted
  // violation:
  //  (a) Sum over a LongType product of two non-literal operands — a
  //      corpus-derived product can exceed 2^63 mid-sum and Spark wraps
  //      silently in non-ANSI mode while DuckDB's int128 does not (the
  //      p38/d32 bug class). The fix is lifting to DECIMAL(38,0)
  //      BEFORE the multiply, which these detectors see as a Decimal
  //      Multiply and ignore.
  //  (b) pow() with a non-integral or non-literal exponent — libm pow
  //      is correctly-rounded on neither engine; arbitrary exponents
  //      are a 1-ulp repr-hash risk (the p19/r127 class; realize
  //      exponents via sqrt chains or shiftleft instead).
  //  (c) an ORDERED window Sum over DoubleType — a running double fold
  //      whose grouping order differs from DuckDB's segment-tree
  //      evaluation diverges in the low bits (the r133 class; keep
  //      running sums in fixed-point longs/decimals).

  import org.apache.spark.sql.catalyst.expressions.{Cast, Expression, Literal, Multiply, Pow, WindowExpression}
  import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Sum => CatalystSum}
  import org.apache.spark.sql.types.{DoubleType => CDoubleType, LongType => CLongType}

  private def riskyLongProduct(e: Expression): Boolean =
    e.exists {
      case m: Multiply if m.dataType == CLongType &&
        !m.left.isInstanceOf[Literal] && !m.right.isInstanceOf[Literal] => true
      case _ => false
    }

  /** The risky shape is a Sum that ACCUMULATES in LongType over a
    * non-literal long product: Spark wraps silently in non-ANSI mode
    * while DuckDB's int128 does not. `sum(CAST(a*b AS DECIMAL(38,0)))`
    * accumulates in decimal — that is the d29d3ef fix shape (the
    * remaining per-PRODUCT bound, product < 2^63, is each query's
    * scaladoc argument, like AggBounded's input-rows argument). */
  private def longProductSums(plan: LogicalPlan): Seq[String] =
    plan.collect { case node =>
      node.expressions.flatMap(_.collect {
        case ae: AggregateExpression if ae.aggregateFunction.isInstanceOf[CatalystSum] &&
          ae.aggregateFunction.asInstanceOf[CatalystSum].child.dataType == CLongType &&
          riskyLongProduct(ae.aggregateFunction.asInstanceOf[CatalystSum].child) =>
          ae.sql
      })
    }.flatten

  private def integralLiteral(e: Expression): Boolean = e match {
    case Literal(v: Double, _) => v == math.rint(v) && !v.isInfinite
    case Literal(v: Float, _) => v == math.rint(v.toDouble)
    case Literal(_: Int, _) | Literal(_: Long, _) | Literal(_: Short, _) | Literal(_: Byte, _) => true
    case c: Cast => integralLiteral(c.child)
    case _ => false
  }

  /** pow(2^j, k) with an integral k is IEEE-EXACT (the significand is
    * all zeros; only the exponent field moves), so base-2/16 dyadic
    * scaling — the r127 shiftleft idiom's double-typed sibling — is not
    * a libm parity risk. Everything else with a non-integral or
    * non-literal exponent is. */
  private def powerOfTwoLiteral(e: Expression): Boolean = e match {
    case Literal(v: Double, _) =>
      v > 0 && (java.lang.Double.doubleToLongBits(v) & 0x000fffffffffffffL) == 0L
    case _ => false
  }

  private def integralValued(e: Expression): Boolean = e match {
    case c: Cast => integralValued(c.child)
    case other =>
      import org.apache.spark.sql.types.{ByteType, IntegerType, ShortType}
      Seq(ByteType, ShortType, IntegerType, CLongType).contains(other.dataType)
  }

  private def arbitraryPows(plan: LogicalPlan): Seq[String] =
    plan.collect { case node =>
      node.expressions.flatMap(_.collect {
        case p: Pow if !integralLiteral(p.right) &&
          !(powerOfTwoLiteral(p.left) && integralValued(p.right)) => p.sql
      })
    }.flatten

  private def orderedDoubleWindowSums(plan: LogicalPlan): Seq[String] =
    plan.collect { case node =>
      node.expressions.flatMap(_.collect {
        case we @ WindowExpression(ae: AggregateExpression, spec)
          if ae.aggregateFunction.isInstanceOf[CatalystSum] &&
            ae.aggregateFunction.dataType == CDoubleType &&
            spec.orderSpec.nonEmpty => we.sql
      })
    }.flatten

  /** Walk the optimized plan AND persisted subtrees' logical side: the
    * planner caches replace subtrees with InMemoryRelation leaves, but
    * their cachedPlan is physical — for these expression-level lints
    * the logical pre-cache plan (analyzedPlan's expressions survive into
    * optimizedPlan except where folded) is the right surface, and a
    * planted selftest keeps each detector honest. */
  private def lintOffenders(detector: LogicalPlan => Seq[String]): Map[String, Seq[String]] =
    executions.map { case (name, qe) => name -> detector(qe.optimizedPlan) }
      .filter(_._2.nonEmpty)

  private val longProductAllowed: Map[String, String] = Map(
    // 0/1 indicator products: s1,s2 are md5-coin indicators, so each
    // product is 0 or 1 and the sum is a ROW COUNT — bounded by corpus
    // rows, which can never approach 2^63. A decimal lift here would
    // buy nothing and cost a wider shuffle type on a corpus-grain agg.
    "r124_capture_recapture" -> "sum(s1*s2): 0/1 coin-indicator product; sum = row count",
    "u30_coin_independence" -> "2x2 contingency cells: 0/1 coin-indicator products; sums = row counts")
  private val powAllowed: Map[String, String] = Map.empty
  private val doubleWindowSumAllowed: Map[String, String] = Map.empty

  test("no query sums a LongType product of two corpus-derived columns (overflow lint)") {
    val offenders = lintOffenders(longProductSums).filterNot(o => longProductAllowed.contains(o._1))
    assert(offenders.isEmpty,
      s"unlifted long-product sums (lift to DECIMAL(38,0) BEFORE multiplying): $offenders")
    // planted selftest: the exact p38 bug shape must be caught
    val planted = graft.Tables.lineitem(spark, sf)
      .selectExpr("cast(l_orderkey as long) a", "cast(l_partkey as long) b")
      .groupBy().agg(org.apache.spark.sql.functions.sum(
        org.apache.spark.sql.functions.expr("a * b")))
    assert(longProductSums(planted.queryExecution.optimizedPlan).nonEmpty,
      "overflow detector missed a planted long-product sum")
    // and the prescribed fix shape must NOT be flagged
    val lifted = graft.Tables.lineitem(spark, sf)
      .selectExpr("cast(l_orderkey as long) a", "cast(l_partkey as long) b")
      .groupBy().agg(org.apache.spark.sql.functions.sum(
        org.apache.spark.sql.functions.expr("cast(a as decimal(38,0)) * b")))
    assert(longProductSums(lifted.queryExecution.optimizedPlan).isEmpty,
      "overflow detector flags the DECIMAL(38,0)-lifted fix shape")
    // stale-entry guard (the AggBounded discipline): an allowlist entry
    // whose query no longer sums a raw long product is dead weight
    val stale = longProductAllowed.keys.filter(n =>
      longProductSums(executions(n).optimizedPlan).isEmpty)
    assert(stale.isEmpty, s"stale overflow-allowlist entries: ${stale.toSeq.sorted}")
  }

  test("no query calls pow() with a non-integral exponent (libm parity lint)") {
    val offenders = lintOffenders(arbitraryPows).filterNot(o => powAllowed.contains(o._1))
    assert(offenders.isEmpty,
      s"arbitrary-exponent pow (realize via sqrt chains / shiftleft / exp-ln discipline): $offenders")
    val planted = graft.Tables.documents(spark, sf)
      .selectExpr("pow(n_chars, 0.7) AS risky")
    assert(arbitraryPows(planted.queryExecution.optimizedPlan).nonEmpty,
      "pow detector missed a planted fractional exponent")
    val squared = graft.Tables.documents(spark, sf)
      .selectExpr("pow(n_chars, 2) AS fine")
    assert(arbitraryPows(squared.queryExecution.optimizedPlan).isEmpty,
      "pow detector flags integral literal exponents")
  }

  test("no query runs an ordered window Sum over DoubleType (FP-fold parity lint)") {
    val offenders = lintOffenders(orderedDoubleWindowSums)
      .filterNot(o => doubleWindowSumAllowed.contains(o._1))
    assert(offenders.isEmpty,
      s"running double window sums (keep running sums fixed-point, r133 discipline): $offenders")
    import org.apache.spark.sql.functions.{col, sum => fsum}
    val planted = graft.Tables.events(spark, sf)
      .withColumn("run", fsum(col("value")).over(
        org.apache.spark.sql.expressions.Window.partitionBy("event_type").orderBy("ts")))
    assert(orderedDoubleWindowSums(planted.queryExecution.optimizedPlan).nonEmpty,
      "double-window-sum detector missed a planted running fold")
    val fixedPoint = graft.Tables.events(spark, sf)
      .selectExpr("event_type", "ts", "cast(round(value * 100) as long) AS cents")
      .withColumn("run", fsum(col("cents")).over(
        org.apache.spark.sql.expressions.Window.partitionBy("event_type").orderBy("ts")))
    assert(orderedDoubleWindowSums(fixedPoint.queryExecution.optimizedPlan).isEmpty,
      "double-window-sum detector flags the fixed-point fix shape")
  }

  test("no dumped result schema contains a nested type") {
    // The driver's correctness harness sorts the dumped parquet with
    // pandas across ALL columns and hashes cell reprs; an array/map/
    // struct column is unhashable there (r2: m05 died on
    // `unhashable type: numpy.ndarray`). Queries that build nested
    // values must explode/flatten them before registering.
    import org.apache.spark.sql.types.{ArrayType, MapType, StructType}
    val offenders = executions.collect {
      case (name, qe) if qe.analyzed.schema.fields.exists(f => f.dataType match {
        case _: ArrayType | _: MapType | _: StructType => true
        case _ => false
      }) => name
    }.toSeq.sorted
    assert(offenders.isEmpty, s"nested types in dumped schema of: $offenders")
  }

  test("every fact-table query reaches the scan with a pruned schema") {
    // lineitem is 16 columns; any lineitem scan reading them all is an
    // unpruned projection. (q01-style wide aggregations read at most 8.)
    val offenders = plans.filter { case (_, p) =>
      p.linesIterator.exists(l => l.contains("ReadSchema") && l.contains("lineitem") &&
        l.count(_ == ',') >= 15)
    }.keys.toSeq.sorted
    assert(offenders.isEmpty, s"unpruned lineitem scans in: $offenders")
  }
}
