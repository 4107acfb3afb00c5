package graft.queries

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.SparkTestSession
import graft.SparkTestSession.withTempDir

/** Oracle-independent invariants for round-8 batches 19–21: driver
  * replays (KM estimator, bounded Bellman–Ford, business-day closed
  * form, Kneser–Ney algebra) and conservation laws (melt row
  * accounting, snapshot-diff totals, attribution revenue, quota
  * apportionment, bitemporal full-knowledge reduction).
  */
class Batch19Spec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val sf = "/root/testdata/sf0.001"

  test("r114: survival curve matches a driver-side product-limit replay") {
    val rows = graft.SparkEntry.queries("r114_kaplan_meier")(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getDouble(6)))
      .toMap
    val ev = graft.Tables.events(spark, sf)
      .select(col("event_type"), col("user_id"), to_date(col("ts")).as("day"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDate(2).toLocalDate))
    val maxDay = ev.map(_._3).max
    val byTypeUser = ev.groupBy(t => (t._1, t._2)).map { case ((ty, u), ts) =>
      val f = ts.map(_._3).min; val l = ts.map(_._3).max
      val churned = java.time.temporal.ChronoUnit.DAYS.between(l, maxDay) >= 8
      val t = if (churned) java.time.temporal.ChronoUnit.DAYS.between(f, l)
              else java.time.temporal.ChronoUnit.DAYS.between(f, maxDay)
      (ty, t, churned)
    }.toSeq
    byTypeUser.groupBy(_._1).foreach { case (ty, us) =>
      val times = us.map(t => (t._2, t._3))
      val grain = times.groupBy(_._1).toSeq.sortBy(_._1)
      var atRisk = times.size.toLong
      var cumLn = 0.0
      grain.foreach { case (t, xs) =>
        val d = xs.count(_._2).toLong
        val c = xs.size - d
        val (gotRisk, gotD, gotC, gotSurv) = rows((ty, t))
        assert(gotRisk == atRisk && gotD == d && gotC == c, s"$ty t=$t risk/d/c")
        if (d > 0) cumLn += math.round(math.log((atRisk - d).toDouble / atRisk) * 1e9) / 1e9
        val surv = BigDecimal(math.exp(cumLn)).setScale(4, BigDecimal.RoundingMode.HALF_UP)
        assert((BigDecimal(gotSurv) - surv).abs <= BigDecimal("0.0001"), s"$ty t=$t survival")
        atRisk -= xs.size
      }
    }
  }

  test("r114: survival drops to exactly 0 when the terminal row has d_events == n_risk") {
    // r8 advice: every at-risk user eventing at the longest duration
    // makes the KM factor 0 — Spark's log(0) used to return NULL, the
    // window sum silently skipped the term, and survival stayed > 0.
    // Type A: both users churn at duration 2 (d == n_risk on the
    // terminal grain row); type B only exists to push the global max
    // day out so A's users register as churned (gap >= 8 days).
    import spark.implicits._
    withTempDir("km_edge_") { base =>
      val tmp = base.toString
      Seq(
        (1L, "A", java.sql.Timestamp.valueOf("2024-01-01 00:00:00")),
        (1L, "A", java.sql.Timestamp.valueOf("2024-01-03 00:00:00")),
        (2L, "A", java.sql.Timestamp.valueOf("2024-01-01 00:00:00")),
        (2L, "A", java.sql.Timestamp.valueOf("2024-01-03 00:00:00")),
        (99L, "B", java.sql.Timestamp.valueOf("2024-01-01 00:00:00")),
        (99L, "B", java.sql.Timestamp.valueOf("2024-01-31 00:00:00")))
        .toDF("user_id", "event_type", "ts")
        .write.mode("overwrite").parquet(s"$tmp/events.parquet")
      // schema: event_type, t, n_risk, d_events, c_censored, cum_lnfp, survival
      val full = graft.SparkEntry.queries("r114_kaplan_meier")(spark, tmp).collect()
      val a2 = full.find(r => r.getString(0) == "A" && r.getLong(1) == 2L).get
      assert(a2.getLong(2) == 2L && a2.getLong(3) == 2L, "A@2 must have n_risk=d_events=2")
      assert(a2.getLong(5) <= -1000000000000000L, "sentinel ln term applied")
      assert(a2.getDouble(6) == 0.0, s"survival must be exactly 0, got ${a2.getDouble(6)}")
      assert(full.forall(r => !r.isNullAt(5)), "no NULL cum_lnfp anywhere")
    }
  }

  test("r115: the full-knowledge tx arm equals the single-axis valid-time as-of") {
    val out = graft.SparkEntry.queries("r115_bitemporal_asof")(spark, sf).collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getInt(2), r.getString(3)) -> r.getLong(4)).toMap
    // independent single-axis as-of (no arrival filter) per valid cutoff
    val ev = graft.Tables.events(spark, sf)
      .select(col("user_id"), col("event_id"), col("event_type"), col("ts")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getTimestamp(3)))
    val maxDay = ev.map(_._4.toLocalDateTime.toLocalDate).max
    ExtraQueries17.BtValidDaysBack.foreach { vb =>
      val vCut = maxDay.minusDays(vb)
      val want = ev.filter(e => !e._4.toLocalDateTime.toLocalDate.isAfter(vCut))
        .groupBy(_._1).map { case (_, es) => es.maxBy(e => (e._4.getTime, e._2))._3 }
        .groupBy(identity).map { case (ty, xs) => ty -> xs.size.toLong }
      want.foreach { case (ty, n) =>
        assert(out((vb, 1, 1, ty)) == n, s"full-knowledge arm v_back=$vb type=$ty")
      }
      // half-knowledge census covers the same users or fewer
      val full = want.values.sum
      val half = out.collect { case ((v, 1, 2, _), n) if v == vb => n }.sum
      assert(half <= full, s"v_back=$vb: tx cutoff cannot add users")
    }
  }

  test("r116: melt emits exactly four measures per group, values matching the wide aggregate") {
    val out = graft.SparkEntry.queries("r116_unpivot_melt")(spark, sf).collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2)) -> r.getDecimal(3))
    val groups = out.map(t => (t._1._1, t._1._2)).distinct
    assert(out.length == groups.length * 4)
    val wide = graft.Tables.lineitem(spark, sf)
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(sum(col("l_quantity").cast("decimal(18,4)")).as("sum_qty"))
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getDecimal(2)).toMap
    out.filter(_._1._3 == "sum_qty").foreach { case ((f, st, _), v) =>
      assert(v.compareTo(wide((f, st))) == 0, s"($f,$st) sum_qty")
    }
  }

  test("t37: JSD is within [0, 1] bits and matches a driver replay on one pair") {
    val out = graft.SparkEntry.queries("t37_jsd_sources")(spark, sf).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getDouble(2)).toMap
    assert(out.nonEmpty)
    out.values.foreach(j => assert(j >= 0.0 && j <= 1.0 + 1e-9))
    val (sa, sb) = out.keys.minBy(identity)
    val cnt = graft.Tables.documents(spark, sf)
      .filter(col("source").isin(sa, sb))
      .select(col("source"), explode(split(col("text"), " ")).as("t"))
      .groupBy("source", "t").count().collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    val aTot = cnt.collect { case ((s, _), n) if s == sa => n }.sum
    val bTot = cnt.collect { case ((s, _), n) if s == sb => n }.sum
    def half(src: String, dstTot: Long, srcTot: Long, other: String): Double =
      cnt.collect { case ((s, t), a) if s == src =>
        val b = cnt.getOrElse((other, t), 0L)
        val lnfp = math.round(math.log(2.0 * a * dstTot /
          (a.toDouble * dstTot + b.toDouble * srcTot)) * 1e9)
        a.toDouble * lnfp
      }.sum / 1e9 / srcTot
    val want = (half(sa, bTot, aTot, sb) + half(sb, aTot, bTot, sa)) / (2.0 * math.log(2.0))
    assert(math.abs(out((sa, sb)) - want) < 1e-5, s"($sa,$sb) JSD replay")
  }

  test("t38: counts-of-counts conserve the trigram mass; r* matches the shifted ratio") {
    val out = graft.SparkEntry.queries("t38_good_turing")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4)))
    assert(out.nonEmpty)
    out.foreach { case (r, nr, nr1, rStar, _) =>
      val want = BigDecimal((r + 1).toDouble * nr1 / nr)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(math.abs(rStar - want) < 1e-9, s"r=$r r_star")
    }
    // the unseen mass is N1/N with N from ALL trigrams (including r > GtMaxR)
    val docs = graft.Tables.documents(spark, sf).select("text").collect().map(_.getString(0))
    val tris = docs.flatMap { t => val w = t.split(" "); w.sliding(3).filter(_.length == 3).map(_.mkString(" ")) }
    val byCount = tris.groupBy(identity).map(_._2.length)
    val n1 = byCount.count(_ == 1).toLong
    val n = tris.length.toLong
    val wantUnseen = BigDecimal(n1.toDouble / n).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(math.abs(out.head._5 - wantUnseen) < 1e-9, "unseen mass")
    out.foreach { case (r, nr, _, _, _) =>
      assert(byCount.count(_ == r).toLong == nr, s"N_$r")
    }
  }

  test("r117: the closed-form weekday count matches day-by-day iteration") {
    // pure-function law over a 3-year grid including weekend endpoints
    def wdaysClosed(m: Long): Long = 5 * (m / 7) + math.min(m % 7, 5)
    def bd(e1: Long, e2: Long): Long = wdaysClosed(e2 + 3 + 1) - wdaysClosed(e1 + 3 + 1)
    val d0 = java.time.LocalDate.of(1995, 1, 1).toEpochDay
    for (a <- 0 until 60; len <- Seq(0, 1, 2, 5, 13, 30)) {
      val e1 = d0 + a; val e2 = e1 + len
      val brute = (e1 + 1 to e2).count { e => ((e + 3) % 7) < 5 }
      assert(bd(e1, e2) == brute, s"e1=$e1 len=$len")
    }
    // and the query's totals agree with a driver recomputation
    val out = graft.SparkEntry.queries("r117_business_days")(spark, sf).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    val j = graft.Tables.orders(spark, sf)
      .join(graft.Tables.lineitem(spark, sf), col("o_orderkey") === col("l_orderkey"))
      .select(col("o_orderpriority"), to_date(col("o_orderdate")).as("d1"),
        to_date(col("l_shipdate")).as("d2")).collect()
      .map(r => (r.getString(0), r.getDate(1).toLocalDate.toEpochDay, r.getDate(2).toLocalDate.toEpochDay))
    j.groupBy(_._1).foreach { case (p, xs) =>
      val (n, sumBd) = out(p)
      assert(n == xs.size)
      assert(sumBd == xs.map(x => bd(x._2, x._3)).sum, s"priority $p sum_bd")
    }
  }

  test("p29: diff classes partition the B-snapshot orders and conserve the revenue delta") {
    val out = graft.SparkEntry.queries("p29_snapshot_diff")(spark, sf).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getDecimal(3)))
    val l = graft.Tables.lineitem(spark, sf)
      .select(col("l_orderkey"),
        col("l_shipdate").cast("timestamp").cast("long").as("ship_s"),
        col("l_extendedprice")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    def cutSec(s: String) = java.time.LocalDate.parse(s)
      .atStartOfDay(java.time.ZoneOffset.UTC).toEpochSecond
    val cutA = cutSec(ExtraQueries18.DiffCutA)
    val cutB = cutSec(ExtraQueries18.DiffCutB)
    val inB = l.filter(_._2 < cutB)
    val nOrders = inB.map(_._1).distinct.length.toLong
    assert(out.map(_._3).sum == nOrders, "classes partition the B snapshot")
    val wantDelta = inB.filter(_._2 >= cutA)
      .map(x => BigDecimal(x._3).setScale(2, BigDecimal.RoundingMode.HALF_UP)).sum
    val gotDelta = out.map(t => BigDecimal(t._4)).sum
    assert(gotDelta == wantDelta, s"revenue delta conservation: $gotDelta vs $wantDelta")
  }

  test("s29: distances match a driver-side bounded Bellman-Ford replay") {
    val out = graft.SparkEntry.queries("s29_bounded_sssp")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    val edges = SimilarityQueries.knnPool(spark, sf)
      .select(col("a_id"), col("b_id"), col("sim")).collect()
      .map(r => (r.getLong(0), r.getLong(1), 10000L - math.round(r.getDouble(2) * 10000)))
    val seeds = edges.map(_._1).distinct.sorted.take(ExtraQueries18.SsspSeeds)
    val adj = edges.groupBy(_._1)
    seeds.foreach { s0 =>
      var best = Map[Long, Long](s0 -> 0L)
      (1 to ExtraQueries18.SsspRounds).foreach { _ =>
        var next = best
        best.foreach { case (u, du) =>
          adj.getOrElse(u, Array.empty).foreach { case (_, v, w) =>
            if (!next.contains(v) || du + w < next(v)) next += v -> math.min(du + w, next.getOrElse(v, Long.MaxValue))
          }
        }
        best = next
      }
      best.foreach { case (node, dist) =>
        assert(out((s0, node)) == dist, s"seed $s0 node $node")
      }
      assert(out.keys.count(_._1 == s0) == best.size, s"seed $s0 reach size")
    }
  }

  test("m18: quotas conserve the budget and selections respect rank/quota laws") {
    val out = graft.SparkEntry.queries("m18_modality_balance")(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))
    val kept = CoverageQueries.mediaManifestFn(spark, sf)
      .filter(col("verdict") === "keep").collect().length.toLong
    val budget = kept / 2
    val byMime = out.groupBy(_._1)
    val quotas = byMime.map { case (m, xs) => m -> xs.head._5 }
    assert(quotas.values.sum == budget, "largest-remainder conserves the budget")
    byMime.foreach { case (m, xs) =>
      val avail = xs.head._4
      assert(xs.length.toLong == math.min(avail, quotas(m)), s"$m kept = min(avail, quota)")
      assert(xs.map(_._2).sorted.toSeq == (1L to xs.length).toSeq, s"$m dense ranks")
      val sel = xs.map(_._3)
      assert(sel.distinct.length == sel.length, s"$m no duplicate selections")
    }
  }

  test("r118: attribution conserves purchase revenue within the fixed-point rounding bound") {
    val out = graft.SparkEntry.queries("r118_multitouch_attrib")(spark, sf).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(3))).toMap
    val purch = graft.Tables.events(spark, sf)
      .filter(col("event_type") === "purchase")
      .select((col("value").cast("decimal(18,2)") * 100).cast("long")).collect()
      .map(_.getLong(0))
    val totalFp = out.values.map(_._2).sum
    val wantFp = purch.sum * 1000000L
    // one rounded division per (purchase, touch-type): |err| <= n_purchases
    assert(math.abs(totalFp - wantFp) <= 2L * purch.length,
      s"revenue conservation: $totalFp vs $wantFp")
  }

  test("t39: numerators rank exactly and the KN distribution sums to 1 per context") {
    val out = graft.SparkEntry.queries("t39_kneser_ney")(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getString(2), r.getLong(3),
        r.getLong(4), r.getDecimal(5)))
    // driver replay of the full algebra from raw bigrams
    val docs = graft.Tables.documents(spark, sf).select("text").collect().map(_.getString(0))
    val bg = docs.flatMap { t => val w = t.split(" "); w.sliding(2).filter(_.length == 2).map(a => (a(0), a(1))) }
      .groupBy(identity).map { case (k, v) => k -> v.length.toLong }
    val cV = bg.groupBy(_._1._1).map { case (v, m) => v -> m.values.sum }
    val n1f = bg.groupBy(_._1._1).map { case (v, m) => v -> m.size.toLong }
    val n1b = bg.groupBy(_._1._2).map { case (w, m) => w -> m.size.toLong }
    val t = bg.size.toLong
    def num(v: String, w: String): BigInt =
      BigInt(math.max(4 * bg((v, w)) - 3, 0)) * t + BigInt(3) * n1f(v) * n1b(w)
    out.foreach { case (v, _, w, cvw, n1bw, numGot) =>
      assert(bg((v, w)) == cvw && n1b(w) == n1bw, s"($v,$w) counts")
      assert(BigInt(numGot.toBigInteger) == num(v, w), s"($v,$w) numerator")
    }
    // ranking: emitted rows are the true top-K by (num desc, word asc)
    out.groupBy(_._1).foreach { case (v, xs) =>
      val want = bg.keys.filter(_._1 == v).map(_._2)
        .toSeq.sortBy(w => (-num(v, w), w)).take(ExtraQueries19.KnTopK.toInt)
      assert(xs.sortBy(_._2).map(_._3).toSeq == want, s"context $v top-k")
      // seen mass + unseen continuation mass = 1 exactly (integer identity)
      // (.toSeq before mapping: bg.keys is a Set, and mapping a Set to
      // num/n1b values would deduplicate colliding values before the sum)
      val seenKeys = bg.keys.toSeq.filter(_._1 == v)
      val seenNum = seenKeys.map(k => num(k._1, k._2)).sum
      val unseenNum = BigInt(3) * n1f(v) *
        (t - seenKeys.map(k => n1b(k._2)).sum)
      assert(seenNum + unseenNum == BigInt(4) * cV(v) * t, s"context $v KN mass = 1")
    }
  }
}
