package graft.queries

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.SparkTestSession
import graft.SparkTestSession.withTempDir

/** Oracle-independent invariants for round-9 batch 33 (bootstrap
  * difference test, Cohen's kappa, l-diversity, shingle sweep,
  * temperature sweep): coin-chain replays, the t22 confusion
  * cross-pin, u06 complementarity, sweep monotonicity laws, and the
  * temperature dominance/diversity trade-off.
  */
class Batch30Spec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val sf = "/root/testdata/sf0.001"

  private def run(name: String) = graft.SparkEntry.queries(name)(spark, sf)

  private def md5hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  private def r4(x: Double): Double =
    BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble

  private def r6(x: Double): Double =
    BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble

  test("r129: the CI brackets the point estimate and the replicate coins replay") {
    val ev = graft.Tables.events(spark, sf)
      .filter(col("event_type") === "purchase" || col("event_type") === "view")
      .select(col("event_id"), col("event_type"), col("value"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
    val Seq(row) = run("r129_bootstrap_diff").collect().toSeq
    val (nA, nB, point, lo, hi, excl) = (row.getLong(0), row.getLong(1),
      row.getDouble(2), row.getDouble(3), row.getDouble(4), row.getBoolean(5))
    assert(nA == ev.count(_._2 == "purchase").toLong)
    assert(nB == ev.count(_._2 == "view").toLong)
    // full replicate replay with the bdiff: coin chain
    def weight(g: Int, s8: Int, id: Long): Int = {
      val hex = md5hex(s"bdiff:$g:$id").substring(s8 * 4, s8 * 4 + 4)
      val u = java.lang.Integer.parseInt(hex, 16)
      ExtraQueries26.PoisThresholds.count(_ <= u)
    }
    val diffs = (0 until ExtraQueries26.BootB).map { b =>
      val (g, s8) = (b / ExtraQueries26.BootRepsPerHash, b % ExtraQueries26.BootRepsPerHash)
      def mean(t: String): Double = {
        var ws = BigDecimal(0); var wn = 0L
        ev.filter(_._2 == t).foreach { case (id, _, v) =>
          val w = weight(g, s8, id)
          ws += BigDecimal(v).setScale(2, BigDecimal.RoundingMode.HALF_UP) * w; wn += w
        }
        ws.toDouble / wn
      }
      (mean("purchase") - mean("view"), b)
    }.sortBy(identity)
    assert(math.abs(lo - r4(diffs(3)._1)) < 1e-9, "lo90 diverges from the coin replay")
    assert(math.abs(hi - r4(diffs(60)._1)) < 1e-9, "hi90 diverges from the coin replay")
    assert(lo < hi && lo <= point && point <= hi, "CI must bracket the point estimate")
    assert(excl == (diffs(3)._1 > 0 || diffs(60)._1 < 0))
  }

  test("t45: kappa replays from t22's confusion matrix — the single-number summary is honest") {
    val conf = run("t22_langid_confusion").collect()
      .map(r => ((r.getString(0), r.getString(1)), r.getLong(2)))
    val n = conf.map(_._2).sum
    val diag = conf.filter(p => p._1._1 == p._1._2).map(_._2).sum
    val rows = conf.groupBy(_._1._1).view.mapValues(_.map(_._2).sum).toMap
    val cols = conf.groupBy(_._1._2).view.mapValues(_.map(_._2).sum).toMap
    val classes = rows.keySet ++ cols.keySet
    val cross = classes.toSeq.map(c => rows.getOrElse(c, 0L) * cols.getOrElse(c, 0L)).sum
    val Seq(row) = run("t45_langid_kappa").collect().toSeq
    assert(row.getLong(0) == n && row.getLong(1) == diag && row.getLong(2) == cross,
      "kappa inputs disagree with t22's confusion matrix")
    assert(math.abs(row.getDouble(3) - r6(diag.toDouble / n)) < 1e-9)
    assert(math.abs(row.getDouble(4) - r6(cross.toDouble / (n.toDouble * n))) < 1e-9)
    val kappa = (n * diag - cross).toDouble / (n.toDouble * n - cross)
    assert(math.abs(row.getDouble(5) - r6(kappa)) < 1e-9)
    // the fixture is shared-vocab word soup, so the honest reading is
    // "chance-level" — kappa must sit in the near-zero band (this is
    // exactly the verdict kappa exists to deliver; raw accuracy p_o
    // looks misleadingly healthy at ~0.3)
    assert(math.abs(row.getDouble(5)) < 0.2,
      "kappa far from 0 — the word-soup fixture should be chance-level")
  }

  test("u34: classes replay, both verdicts bind, and u06-anonymous classes can still fail l") {
    val docs = graft.Tables.documents(spark, sf)
      .select(col("lang"), col("n_chars"), col("source"))
      .collect().map(r => (r.getString(0), r.getLong(1) / 50, r.getString(2)))
    val want = docs.groupBy(t => (t._1, t._2)).map { case (k, vs) =>
      k -> (vs.size.toLong, vs.map(_._3).distinct.size.toLong)
    }
    val got = run("u34_l_diversity").collect()
      .map(r => (r.getString(0), r.getLong(1)) ->
        (r.getLong(2), r.getLong(3), r.getBoolean(4))).toMap
    assert(got.size == want.size)
    want.foreach { case (k, (sz, l)) =>
      val (gSz, gL, gOk) = got(k)
      assert((gSz, gL) == (sz, l), s"class $k diverges")
      assert(gOk == (l >= ExtraQueries31.DiversityL))
    }
    val verdicts = got.values.map(_._3).toSet
    assert(verdicts == Set(true, false), "both l-diversity verdicts must bind at this SF")
    // the reason u34 exists: at least one class of size >= DiversityL
    // (k-anonymous at that k) still fails diversity
    assert(got.values.exists(v => v._1 >= ExtraQueries31.DiversityL.toLong && !v._3),
      "no k-anonymous-but-undiverse class — the audit adds nothing over u06 here")
  }

  test("d32: shingle stats replay; types grow and the pair bound collapses with k") {
    val texts = graft.Tables.documents(spark, sf).select(col("text"))
      .collect().map(_.getString(0))
    val got = run("d32_shingle_sweep").collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(got.map(_._1).toSeq == ExtraQueries31.ShingleKs)
    // the type grain is the 60-bit md5-prefix KEY of the shingle (what
    // both engines shuffle) — the replay hashes the same way, so even a
    // birthday collision would fold identically here and in the engine
    def key60(sh: String): Long = java.lang.Long.parseLong(md5hex(sh).substring(0, 15), 16)
    got.foreach { case (k, nTypes, nDocSh, bound) =>
      val perDoc = texts.map(_.split(" ", -1).sliding(k).map(w => key60(w.mkString(" "))).toSet)
      val counts = perDoc.flatten.groupBy(identity).view.mapValues(_.length.toLong)
      assert(nTypes == counts.size.toLong, s"k=$k type count diverges")
      assert(nDocSh == counts.values.sum, s"k=$k doc-shingle mass diverges")
      assert(bound == counts.values.map(d => d * (d - 1) / 2).sum, s"k=$k pair bound diverges")
    }
    assert(got.map(_._2).sliding(2).forall(p => p.head < p.last), "types must grow with k")
    assert(got.map(_._4).sliding(2).forall(p => p.head > p.last),
      "the candidate-pair bound must collapse as k grows")
  }

  test("d32: a corpus too short for the largest k still emits one row per k") {
    withTempDir("d32_short") { tmp =>
      val dir = tmp.toString
      import spark.implicits._
      Seq((1L, "a b c d"), (2L, "a b c"), (3L, "a b"), (4L, "x"))
        .toDF("doc_id", "text").write.parquet(s"$dir/documents.parquet")
      val got = graft.SparkEntry.queries("d32_shingle_sweep")(spark, dir).collect()
        .map(r => (0 to 3).map(i => if (r.isNullAt(i)) null else r.get(i)))
      // the d32Sql oracle's rows on this corpus: k=2 "a b" x3, "b c" x2,
      // "c d" x1; k=3 "a b c" x2, "b c d" x1; no doc has 5 tokens
      assert(got.toSeq == Seq(Seq(2, 3L, 6L, 4L), Seq(3, 2L, 3L, 1L), Seq(5, 0L, null, null)))
    }
  }

  test("p38: weights replay via sqrt chains; dominance rises and diversity falls with tau") {
    val langs = graft.Tables.documents(spark, sf).select(col("lang"))
      .collect().map(_.getString(0)).groupBy(identity).view.mapValues(_.length.toLong).toMap
    val got = run("p38_temperature_sweep").collect()
      .map(r => (r.getDouble(0), r.getLong(1), r.getDouble(2), r.getDouble(3)))
    assert(got.map(_._1).toSeq == ExtraQueries31.SweepTaus)
    got.foreach { case (tau, nl, maxShare, entropy) =>
      assert(nl == langs.size.toLong)
      val wfp = langs.values.map { n =>
        val w = if (tau == 0.25) math.sqrt(math.sqrt(n.toDouble))
        else if (tau == 0.5) math.sqrt(n.toDouble) else n.toDouble
        math.floor(w * 1e6).toLong
      }
      val z = wfp.sum
      assert(math.abs(maxShare - r6(wfp.max.toDouble / z)) < 1e-9, s"tau=$tau share diverges")
      val wlw = wfp.map(w => BigInt(w) * BigInt((math.log(w.toDouble) * 1e9).toLong)).sum
      val h = math.log(z.toDouble) - (BigDecimal(wlw) / BigDecimal(1e9)).toDouble / z
      assert(math.abs(entropy - r6(h)) < 1e-9, s"tau=$tau entropy diverges")
    }
    val shares = got.map(_._3); val ents = got.map(_._4)
    assert(shares.sliding(2).forall(p => p.head < p.last),
      "max share must rise strictly with tau on the skewed lang axis")
    assert(ents.sliding(2).forall(p => p.head > p.last),
      "entropy must fall strictly with tau on the skewed lang axis")
  }
}
