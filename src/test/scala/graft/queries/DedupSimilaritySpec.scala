package graft.queries

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.SparkTestSession
import graft.functions.VectorOps
import graft.SparkTestSession.withTempDir

/** Correctness evidence for the approximate operators (no SQL oracle):
  * MinHash-LSH and SimHash against exact n-gram Jaccard; LSH/IVF ANN
  * against brute-force. */
class DedupSimilaritySpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val sf = "/root/testdata/sf0.001"

  private def run(name: String) = graft.SparkEntry.queries(name)(spark, sf)

  private lazy val exactPairs = run("d03_ngram_jaccard").collect()
    .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap

  test("prefix-filtered jaccard strategy returns exactly the naive pairs") {
    val prefix = DedupQueries.jaccardPairsPrefix(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(prefix == exactPairs && prefix.nonEmpty)
  }

  test("minhash-lsh finds only true near-dup pairs (precision 1.0 after verify)") {
    val lsh = run("d04_minhash_lsh").collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(lsh.nonEmpty)
    lsh.foreach { case (pair, jac) =>
      assert(exactPairs.contains(pair), s"$pair not in exact set")
      assert(math.abs(exactPairs(pair) - jac) < 1e-9)
    }
  }

  test("minhash-lsh recall: catches every pair with jaccard >= 0.6") {
    val lsh = run("d04_minhash_lsh").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val strong = exactPairs.filter(_._2 >= 0.6).keySet
    assert(strong.subsetOf(lsh), s"missed: ${strong -- lsh}")
  }

  test("minhash-lsh measured recall: the FULL exact >= 0.4 pair set is found") {
    // Measured recall on this fixture is 1.0 (28/28 at sf0.001, 25/25 at
    // sf0.01) and the pipeline is fully deterministic (md5-affine
    // signatures, fixed bands) — so the floor IS the measured value: any
    // missed exact pair is a real regression in the signature/banding
    // stages, not sampling noise. Together with the precision-1.0 spec
    // above this pins d04's output to exactly the d03 pair set on this
    // fixture.
    val lsh = run("d04_minhash_lsh").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exactPairs.keySet.subsetOf(lsh),
      s"missed: ${exactPairs.keySet -- lsh} (measured recall is 1.0; deterministic)")
  }

  test("simhash measured recall floor vs the exact >= 0.4 pair set") {
    // Measured 0.9286 (26/28) at sf0.001 — the two misses are true
    // hamming > 8 pairs, the operator's documented blind spot.
    // Deterministic pipeline, so one additional miss (25/28 = 0.89)
    // fails this floor; a lax 0.5-style floor would hide it.
    val sh = run("d05_simhash").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (sh & exactPairs.keySet).size.toDouble / exactPairs.size
    assert(recall >= 0.92, s"recall=$recall below measured 0.9286")
  }

  test("d12: ingest gate pairs are exactly d04's pairs that cross the corpus boundary") {
    // delta doc (arrival bucket >= 70) matched against corpus (< 70):
    // with buckets far below the cap, the gate's output must be d04's
    // verified pair set restricted to corpus->delta crossings, labeled
    // (new_id, dup_of) with the delta doc first
    val arrival = (id: Long) =>
      graft.functions.PortableHash.md5PrefixLong(s"arrival:$id", 6) % 100
    val d04pairs = run("d04_minhash_lsh").collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val want = d04pairs.keySet.flatMap { case (a, b) =>
      val (aDelta, bDelta) = (arrival(a) >= 70, arrival(b) >= 70)
      if (aDelta && !bDelta) Some((a, b))
      else if (bDelta && !aDelta) Some((b, a))
      else None
    }
    val got = run("d12_incremental_lsh").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got.nonEmpty, "fixture yields no delta-vs-corpus near-dups; spec is vacuous")
    assert(got == want, s"gate diverged: extra=${got -- want} missing=${want -- got}")
  }

  test("u09: leakage audit rows are d04's pairs with correct split labels") {
    val d04pairs = run("d04_minhash_lsh").collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    def splitOf(id: Long): String = {
      val b = graft.functions.PortableHash.md5PrefixLong(s"split:$id", 6) % 100
      if (b < 80) "train" else if (b < 90) "val" else "test"
    }
    val rows = run("u09_neardup_leakage").collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getString(2), r.getString(3),
        r.getDouble(4), r.getBoolean(5)))
    assert(rows.map(_._1).toSet == d04pairs.keySet)
    assert(rows.exists(_._5), "fixture has no cross-split near-dup; audit is vacuous")
    rows.foreach { case (pair @ (a, b), sa, sb, jac, leaks) =>
      assert(sa == splitOf(a) && sb == splitOf(b), s"$pair splits")
      assert(jac == d04pairs(pair))
      assert(leaks == (sa != sb))
    }
  }

  test("d13: planted short-in-long embedding yields containment 1.0; controls stay out") {
    import spark.implicits._
    val words = (1 to 30).map(i => s"w$i").mkString(" ")
    val wrapper = words + " " + (1 to 40).map(i => s"pad$i").mkString(" ")
    val unrelated = (1 to 30).map(i => s"x$i").mkString(" ")
    val rows = DedupQueries.containmentPairsOf(Seq(
        (1L, words), (2L, wrapper), (3L, unrelated)).toDF("doc_id", "text"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(4)))
    // doc 1's 26 shingles all appear in doc 2 (prefix of its 66) -> C=1.0;
    // doc 3 shares no shingle with either.
    assert(rows.toSeq == Seq((1L, 2L, 1.0)))
  }

  test("d13: prefix-filtered candidates are lossless vs the naive all-pairs form") {
    import spark.implicits._
    // Constructed corpus with hot shingles (a shared boilerplate tail on
    // every doc) plus three true containment pairs at different sizes —
    // the shape the prefix filter must survive WITHOUT losing a pair.
    val boiler = (1 to 6).map(i => s"b$i").mkString(" ")
    val mk = (n: Int, tag: String) => (1 to n).map(i => s"$tag$i").mkString(" ")
    // Containment needs the short text CONTIGUOUS in the long one —
    // shingles spanning an insertion point differ — so each container
    // is the contained doc's full text plus a tail.
    val docsDf = (Seq(
      (10L, mk(20, "a") + " " + boiler),
      (11L, mk(20, "a") + " " + boiler + " " + mk(15, "q")), // 10 ⊂ 11
      (20L, mk(8, "c") + " " + boiler),
      (21L, mk(8, "c") + " " + boiler + " " + mk(30, "r")), // 20 ⊂ 21
      (30L, mk(40, "d") + " " + boiler),
      (31L, mk(40, "d") + " " + boiler), // identical pair
      (40L, mk(25, "e") + " " + boiler)) // boilerplate-only overlap
    ).toDF("doc_id", "text")
    val got = DedupQueries.containmentPairsOf(docsDf).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(4)).toMap
    // Naive definitional form computed independently in the spec.
    val sh = DedupQueries.shingledOf(docsDf)
      .select(col("doc_id"), explode(col("shingles")).as("s"))
    val sizes = sh.groupBy("doc_id").agg(count(lit(1)).as("n"))
    val want = sh.as("a").join(sh.as("b"),
        col("a.s") === col("b.s") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"))
      .agg(count(lit(1)).as("inter"))
      .join(sizes.select(col("doc_id").as("d1"), col("n").as("n1")), "d1")
      .join(sizes.select(col("doc_id").as("d2"), col("n").as("n2")), "d2")
      .withColumn("c", round(col("inter").cast("double") /
        least(col("n1"), col("n2")).cast("double"), 6))
      .filter(col("c") >= 0.8)
      .select("d1", "d2", "c")
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(got == want && got.contains((10L, 11L)) && got.contains((20L, 21L))
      && got((30L, 31L)) == 1.0)
  }

  test("bucket cap bounds candidate pairs on a pathologically skewed corpus") {
    import spark.implicits._
    // 300 identical docs: every doc lands in the SAME (band,bucket) for
    // all 32 bands (and all 4 simhash chunks). Uncapped, that is
    // C(300,2)=44850 candidate pairs from one bucket; the cap keeps the
    // 64 lowest doc_ids, so exactly C(64,2) pairs survive.
    withTempDir("capcorpus") { tmp =>
      val dir = tmp.toString
      (1L to 300L).map(i =>
          (i, "alpha beta gamma delta epsilon zeta eta theta iota kappa", "en", "synthetic", 56L))
        .toDF("doc_id", "text", "lang", "source", "n_chars")
        .write.mode("overwrite").parquet(s"$dir/documents.parquet")
      val cap = DedupQueries.MaxBucket.toLong
      val bound = cap * (cap - 1) / 2
      assert(graft.SparkEntry.queries("d04_minhash_lsh")(spark, dir).count() == bound)
      assert(graft.SparkEntry.queries("d05_simhash")(spark, dir).count() == bound)
    }
  }

  test("simhash pairs are symmetric-free and within the hamming budget") {
    val rows = run("d05_simhash").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getLong(0) < r.getLong(1))
      assert(r.getInt(2) <= 8)
    }
  }

  test("simhash pigeonhole guarantee: every pair with hamming <= 3 is found") {
    // 3 bit flips can touch at most 3 of the 4 15-bit chunks, so one
    // chunk always collides — such pairs are GUARANTEED candidates, not
    // best-effort. The guarantee is scoped to buckets within MaxBucket
    // (this fixture's chunk buckets are far below the cap; the cap spec
    // below covers the degenerate-bucket tradeoff explicitly).
    // Ground truth from the same signatures, all pairs.
    val sigs = DedupQueries.simhashSignatures(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(1))
    val guaranteed = (for {
      (d1, s1) <- sigs; (d2, s2) <- sigs
      if d1 < d2 && java.lang.Long.bitCount(s1 ^ s2) <= 3
    } yield (d1, d2)).toSet
    assert(guaranteed.nonEmpty, "fixture has no hamming<=3 pair; spec is vacuous")
    val found = run("d05_simhash").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(guaranteed.subsetOf(found), s"missed: ${guaranteed -- found}")
  }

  test("fused cosine expression agrees with the built-in composition") {
    val e = graft.Tables.embeddings(spark, sf).limit(50)
    val a = e.select(col("vec_id").as("a_id"), col("embedding").as("va"))
    val b = e.select(col("vec_id").as("b_id"), col("embedding").as("vb"))
    val both = a.crossJoin(b).filter(col("a_id") < col("b_id"))
      .select(
        VectorOps.cosine(col("va"), col("vb")).as("fast"),
        VectorOps.cosineBuiltin(col("va"), col("vb")).as("builtin"))
      .collect()
    assert(both.nonEmpty)
    both.foreach(r => assert(math.abs(r.getDouble(0) - r.getDouble(1)) < 1e-12))
  }

  test("cosine null semantics: length mismatch and zero vector yield null") {
    import spark.implicits._
    val df = Seq(
      (Array(1f, 2f), Array(1f, 2f, 3f)), // mismatch
      (Array(0f, 0f), Array(1f, 2f)), // zero norm
      (Array(1f, 0f), Array(1f, 0f)) // fine
    ).toDF("a", "b")
    val out = df.select(VectorOps.cosine(col("a"), col("b"))).collect()
    assert(out(0).isNullAt(0) && out(1).isNullAt(0))
    assert(math.abs(out(2).getDouble(0) - 1.0) < 1e-12)
  }

  private lazy val bruteTop = run("s01_ann_bruteforce").collect()
    .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))

  test("lsh ann recall floor vs brute force (deterministic: seeded planes)") {
    val lsh = run("s02_ann_lsh").collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val brute = bruteTop.map(t => (t._1, t._3)).toSet
    assert(lsh.nonEmpty)
    val recall = (lsh & brute).size.toDouble / brute.size
    // measured 0.22 on this fixture; the pipeline is fully deterministic
    // (seed 42 hyperplanes), so a drop below 0.20 is a real regression,
    // not noise. Random 64-dim vectors are LSH's hardest case.
    assert(recall >= 0.20, s"recall=$recall")
  }

  test("ivf ann recall floor vs brute force (deterministic assignment)") {
    val ivf = run("s03_ann_ivf").collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val brute = bruteTop.map(t => (t._1, t._3)).toSet
    val recall = (ivf & brute).size.toDouble / brute.size
    // measured 0.22 probing 2 of the label cells on this fixture
    assert(recall >= 0.20, s"recall=$recall")
  }

  test("ivf ann: neighbors never beat the brute-force best for their query") {
    val best = bruteTop.groupBy(_._1).map { case (q, rs) => q -> rs.map(_._4).max }
    val ivf = run("s03_ann_ivf").collect().map(r => (r.getLong(0), r.getDouble(3)))
    assert(ivf.nonEmpty)
    ivf.foreach { case (q, sim) => assert(sim <= best(q) + 1e-9) }
  }

  test("dedup clusters are exactly the connected components of the pair graph") {
    val clusters = run("d08_dedup_clusters").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2).split(",").map(_.toLong).toSet))
    val edges = exactPairs.keys.toSeq
    val nodes = edges.flatMap(p => Seq(p._1, p._2)).toSet
    // members partition the pair-graph node set; keeper = min member
    assert(clusters.flatMap(_._3).toSet == nodes)
    assert(clusters.map(_._3.size).sum == nodes.size)
    clusters.foreach { case (id, n, ms) =>
      assert(id == ms.min && n == ms.size)
    }
    // no pair spans two clusters, and every cluster is internally connected
    val byDoc = clusters.flatMap(c => c._3.map(_ -> c._1)).toMap
    edges.foreach { case (a, b) => assert(byDoc(a) == byDoc(b), s"pair ($a,$b) split") }
    val adj = edges.flatMap { case (a, b) => Seq(a -> b, b -> a) }
      .groupBy(_._1).map { case (k, vs) => k -> vs.map(_._2).toSet }
    clusters.foreach { case (_, _, ms) =>
      var seen = Set(ms.min); var frontier = Set(ms.min)
      while (frontier.nonEmpty) {
        frontier = frontier.flatMap(adj.getOrElse(_, Set.empty)) -- seen
        seen ++= frontier
      }
      assert(seen == ms, s"cluster $ms not connected (reached $seen)")
    }
  }

  test("quantized ann: high recall vs brute force after exact re-rank") {
    val sq = run("s05_ann_quantized").collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val brute = bruteTop.map(t => (t._1, t._3)).toSet
    val recall = (sq & brute).size.toDouble / brute.size
    // int8 on 64-dim vectors + 3k-deep exact re-rank is near-lossless;
    // measured 1.0 on this fixture — below 0.9 is a real regression.
    assert(recall >= 0.9, s"recall=$recall")
  }

  test("quantized ann: re-ranked sims are exact (appear in brute-force scores)") {
    // after re-rank the reported sim must equal the exact cosine, so any
    // (q, vec) pair shared with s01 must carry the identical rounded sim
    val bruteSim = bruteTop.map(t => (t._1, t._3) -> t._4).toMap
    val sq = run("s05_ann_quantized").collect()
      .map(r => ((r.getLong(0), r.getLong(2)), r.getDouble(3)))
    assert(sq.nonEmpty)
    sq.foreach { case (k, sim) =>
      bruteSim.get(k).foreach(b => assert(b == sim, s"$k: $sim != $b")) }
  }

  test("int8 quantization error is bounded by one step (amax/127) per element") {
    val rows = SimilarityQueries.quantized(
        graft.Tables.embeddings(spark, sf).limit(50))
      .select(col("embedding"), col("amax"), col("qvec")).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val x = r.getSeq[Float](0); val amax = r.getDouble(1); val q = r.getSeq[Short](2)
      val step = if (amax == 0.0) 0.0 else amax / 127.0
      x.zip(q).foreach { case (xi, qi) =>
        assert(math.abs(qi * step - xi.toDouble) <= step + 1e-9,
          s"dequant err ${math.abs(qi * step - xi)} > step $step")
      }
    }
  }

  test("label centroids match a directly computed average (first dim)") {
    val got = run("s04_label_centroids").collect()
      .filter(_.getInt(1) == 0).map(r => r.getInt(0) -> r.getDouble(2)).toMap
    val want = graft.Tables.embeddings(spark, sf)
      .select(col("label"), col("embedding")(0).cast("double").as("x"))
      .groupBy("label").agg(avg("x").as("c")).collect()
      .map(r => r.getInt(0) -> r.getDouble(1)).toMap
    got.foreach { case (l, c) => assert(math.abs(c - want(l)) < 1e-6) }
  }
  test("d09: IVF-blocked near-dup is a high-recall exact-verified subset of all-pairs") {
    import org.apache.spark.sql.functions._
    val e = graft.Tables.embeddings(spark, sf)
    val a = e.select(col("vec_id").as("a_id"), col("embedding").as("va"))
    val b = e.select(col("vec_id").as("b_id"), col("embedding").as("vb"))
    val exact = a.join(b, col("a_id") < col("b_id"))
      .withColumn("sim", round(graft.functions.VectorOps.cosine(col("va"), col("vb")), 4))
      .filter(col("sim") >= 0.4)
      .select("a_id", "b_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val got = graft.SparkEntry.queries("d09_embedding_ivf_neardup")(spark, sf)
      .select("a_id", "b_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got.subsetOf(exact), "every d09 pair is exact-verified (precision 1.0)")
    val recall = (exact & got).size.toDouble / exact.size
    // re-pinned with the round-9 dynamic codebook (C = ivfCodebookSize(n),
    // P = IvfProbes = 4): measured 1.000 here (n=500 -> C=8) and 0.945 at
    // sf0.1 (n=2000 -> C=16); the old fixed C=8, P=3 measured 0.92.
    assert(recall >= 0.9, s"recall $recall below floor (measured 1.000 at C=8,P=4)")
  }
  test("d11 semantic dedup: precision 1.0, measured recall vs unblocked exact") {
    import org.apache.spark.sql.functions._
    val e = graft.Tables.embeddings(spark, sf)
    val a = e.select(col("vec_id").as("a_id"), col("embedding").as("va"))
    val b = e.select(col("vec_id").as("b_id"), col("embedding").as("vb"))
    // cluster-UNBLOCKED ground truth: b is droppable iff some earlier
    // vec is >= 0.4-similar (the same min-id keeper rule, no cells)
    val exactDropped = a.join(b, col("a_id") < col("b_id"))
      .filter(round(graft.functions.VectorOps.cosine(col("va"), col("vb")), 4) >= 0.4)
      .select(col("b_id")).distinct()
      .collect().map(_.getLong(0)).toSet
    val got = graft.SparkEntry.queries("d11_semantic_dedup")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getBoolean(2)))
    val gotDropped = got.collect { case (id, kept) if !kept => id }.toSet
    assert(gotDropped.nonEmpty, "fixture yields no semantic dups; spec is vacuous")
    // precision 1.0: a within-cell pair is a true pair, so every drop is justified
    assert(gotDropped.subsetOf(exactDropped), s"false drops: ${gotDropped -- exactDropped}")
    // recall: pairs straddling ALL probes' cells are the SemDeDup
    // trade-off; measured 62/62 = 1.000 at sf0.001 with the round-11
    // dynamic codebook (k = ivfCodebookSize(n) — 8 here) + P=3
    // multiprobe (P=2 measured 0.806; single-cell 0.31 — this
    // fixture's similar pairs straddle cells). Deterministic
    // clustering, so a single missed pair (61/62 = 0.984) fails this
    // floor.
    val recall = gotDropped.size.toDouble / exactDropped.size
    assert(recall >= 0.99, s"recall=$recall vs measured 1.000")
    info(s"d11 recall = $recall (${gotDropped.size}/${exactDropped.size})")
  }

  test("s09 MMR: first pick is the top-1, picks are distinct, redundancy drops") {
    val mmr = run("s09_mmr_diversified").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(mmr.nonEmpty)
    val byQ = mmr.groupBy(_._1)
    // pick #1 must be the relevance argmax — same as s01's rank 1
    val top1 = bruteTop.filter(_._2 == 1L).map(t => t._1 -> t._3).toMap
    byQ.foreach { case (q, picks) =>
      assert(picks.length == picks.map(_._3).distinct.length, s"q$q repeated a pick")
      assert(picks.find(_._2 == 1L).get._3 == top1(q), s"q$q first pick != top-1")
    }
    // diversity: mean pairwise cosine among MMR picks must not exceed the
    // plain top-K set's (that redundancy drop is the operator's purpose)
    val e = graft.Tables.embeddings(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0
      for (i <- a.indices) { d += a(i).toDouble * b(i); na += a(i).toDouble * a(i); nb += b(i).toDouble * b(i) }
      d / math.sqrt(na * nb)
    }
    def meanPairSim(ids: Seq[Long]): Double = {
      val ps = for { i <- ids.indices; j <- i + 1 until ids.length }
        yield cos(e(ids(i)), e(ids(j)))
      ps.sum / ps.length
    }
    val topkByQ = bruteTop.groupBy(_._1).map { case (q, rs) => q -> rs.map(_._3).toSeq }
    val (mmrSim, topkSim) = byQ.keys.map { q =>
      (meanPairSim(byQ(q).sortBy(_._2).map(_._3).toSeq), meanPairSim(topkByQ(q)))
    }.toSeq.unzip
    assert(mmrSim.sum <= topkSim.sum + 1e-9,
      s"MMR redundancy ${mmrSim.sum} not below top-K ${topkSim.sum}")
    info(f"mean pairwise sim: mmr=${mmrSim.sum / mmrSim.size}%.4f topk=${topkSim.sum / topkSim.size}%.4f")
  }

  test("s10 kNN graph: ranked, exact sims, measured recall vs exact kNN") {
    val e = graft.Tables.embeddings(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0
      for (i <- a.indices) { d += a(i).toDouble * b(i); na += a(i).toDouble * a(i); nb += b(i).toDouble * b(i) }
      math.rint(d / math.sqrt(na * nb) * 1e4) / 1e4
    }
    // exact all-pairs kNN ground truth from the same vectors
    val exact = e.keys.map { a =>
      a -> e.keys.filter(_ != a).toSeq
        .map(b => (b, cos(e(a), e(b)))).sortBy { case (b, s) => (-s, b) }
        .take(SimilarityQueries.KnnK).map(_._1).toSet
    }.toMap
    val got = run("s10_knn_graph").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(got.nonEmpty)
    // per-edge exactness: reported sim IS the exact rounded cosine
    got.foreach { case (a, _, b, sim) =>
      assert(math.abs(sim - cos(e(a), e(b))) < 1e-9, s"($a,$b) sim not exact") }
    // ranks are 1..k, descending sim within each source
    got.groupBy(_._1).values.foreach { edges =>
      val sorted = edges.sortBy(_._2)
      assert(sorted.map(_._2).toSeq == (1L to sorted.length).toSeq)
      assert(sorted.map(_._4).toSeq.reverse.sorted.reverse == sorted.map(_._4).toSeq)
    }
    // graph recall vs exact kNN: deterministic cells (P=3 of the
    // dynamic C~sqrt(n) codebook — C=8 here), so the measured value is
    // a floor, not a noisy estimate
    val hits = got.count { case (a, _, b, _) => exact(a).contains(b) }
    val total = exact.values.map(_.size).sum
    // measured 0.938 (2345/2500) at sf0.001 with P=3 of 8 cells (r10;
    // the P=2 build measured 0.6676); deterministic pipeline, so a drop
    // below the measured value is a real regression in
    // cells/candidates/ranking, not noise
    val recall = hits.toDouble / total
    info(s"s10 kNN-graph recall = $recall ($hits/$total)")
    assert(recall >= 0.93, s"recall=$recall vs measured 0.938")
  }

  test("pq ann recall floor vs brute force (deterministic codebooks)") {
    val exact = graft.SparkEntry.queries("s01_ann_bruteforce")(spark, sf)
      .select("q_id", "vec_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val pq = graft.SparkEntry.queries("s06_ann_pq")(spark, sf)
      .select("q_id", "vec_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (exact & pq).size.toDouble / exact.size
    assert(recall >= 0.7, s"pq recall $recall below floor (measured 0.84)")
    info(s"pq recall = $recall")
  }

  test("d10 spans are well-formed: ≥8 tokens, sorted, non-overlapping, maximal") {
    val byDoc = run("d10_duplicate_spans").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .groupBy(_._1)
    assert(byDoc.nonEmpty)
    byDoc.values.foreach { spans =>
      spans.foreach { case (_, s, e, n) =>
        assert(n == e - s + 1 && n >= 8, s"bad span ($s,$e,$n)")
      }
      // non-overlapping AND maximal: merged islands must be separated by
      // more than a shingle width, else they'd have been one span
      spans.sortBy(_._2).sliding(2).foreach {
        case Array((_, _, e1, _), (_, s2, _, _)) =>
          assert(s2 - (e1 - 7) > 8, s"spans not maximal: end=$e1 next=$s2")
        case _ =>
      }
    }
  }

  test("d10 engine: exact expected spans on a constructed corpus") {
    import spark.implicits._
    // tokens a1..a30 are unique filler; S0..S9 is a shared 10-token run
    def filler(p: String, n: Int) = (1 to n).map(p + _).mkString(" ")
    val shared = (0 until 10).map("S" + _).mkString(" ")
    val corpus = Seq(
      // doc 1: shared run at tokens 6..15, unique elsewhere
      (1L, filler("a", 5) + " " + shared + " " + filler("b", 5)),
      // doc 2: same run at tokens 1..10
      (2L, shared + " " + filler("c", 10)),
      // doc 3: the run TWICE with a 1-token gap between -> tokens 1..10
      //        and 12..21; gap token at 11 is uncovered, but the island
      //        merge joins them anyway iff p-prev<=k — here the covered
      //        shingle starts are 1..3 and 12..14, 12-3=9>8 -> two spans
      (3L, shared + " gap " + shared),
      // doc 4: entirely unique -> no spans
      (4L, filler("z", 20))).toDF("doc_id", "text")
    val got = DedupQueries.duplicateSpans(corpus, 8).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toList
    assert(got == List(
      (1L, 6L, 15L, 10L),
      (2L, 1L, 10L, 10L),
      (3L, 1L, 10L, 10L), (3L, 12L, 21L, 10L)), got.toString)
  }

  test("d10: a full-document copy yields one span covering every token") {
    import spark.implicits._
    val text = (1 to 40).map("w" + _).mkString(" ")
    val corpus = Seq((10L, text), (11L, text)).toDF("doc_id", "text")
    val got = DedupQueries.duplicateSpans(corpus, 8).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == Set((10L, 1L, 40L), (11L, 1L, 40L)))
  }

  /** Independent single-threaded replay of the s12 fixed-point PageRank
    * contract — same integer arithmetic, zero shared code with the
    * distributed implementation. */
  private def refPageRank(edges: Seq[(Long, Long)], rounds: Int): Map[Long, Long] = {
    val nodes = (edges.map(_._1) ++ edges.map(_._2)).distinct
    val n = nodes.size
    val scale = SimilarityQueries.PrScale
    val base = (scale * 15L / 100L) / n
    val od = edges.groupBy(_._1).map { case (k, v) => k -> v.size.toLong }
    var r = nodes.map(_ -> scale / n).toMap
    for (_ <- 1 to rounds) {
      val contrib = scala.collection.mutable.Map.empty[Long, Long].withDefaultValue(0L)
      edges.foreach { case (a, b) => contrib(b) += r(a) / od(a) }
      r = nodes.map(v => v -> (base + 85L * contrib(v) / 100L)).toMap
    }
    r
  }

  test("s12: distributed pageRank matches the independent integer replay exactly") {
    import spark.implicits._
    // hub node 1 (everyone links to it), chain 2->3->4->2, all nodes
    // with out-edges (the mirrored-kNN contract); mixed out-degrees.
    val edges = Seq(
      (2L, 1L), (3L, 1L), (4L, 1L), (5L, 1L),
      (1L, 2L), (2L, 3L), (3L, 4L), (4L, 2L), (5L, 3L))
    val got = SimilarityQueries.pageRank(edges.toDF("a_id", "b_id"), 8)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val want = refPageRank(edges, 8)
    assert(got == want, s"got $got want $want")
    // ranks must be positive with total mass <= scale (floor losses
    // only shrink it); node 2 is this graph's sink of mass (it alone
    // receives node 1's UNDIVIDED rank: outdeg(1) = 1)
    assert(got(2L) == got.values.max)
    assert(got.values.forall(_ > 0) && got.values.sum <= SimilarityQueries.PrScale)
  }

  test("s12: ranks are partition-placement invariant (the fixed-point claim)") {
    import spark.implicits._
    val edges = Seq(
      (2L, 1L), (3L, 1L), (4L, 1L), (5L, 1L),
      (1L, 2L), (2L, 3L), (3L, 4L), (4L, 2L), (5L, 3L))
    def ranksAt(parts: Int) =
      SimilarityQueries.pageRank(edges.toDF("a_id", "b_id").repartition(parts), 8)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toList
    assert(ranksAt(1) == ranksAt(13))
  }

  test("s13: truncation recall is non-vacuous and widens with dimensions (fixture)") {
    val rows = run("s13_matryoshka_recall").collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2)))
    assert(rows.length == 2 * SimilarityQueries.NumQueries)
    assert(rows.forall { case (_, _, h) => h >= 0 && h <= SimilarityQueries.K })
    // deterministic fixture measurement: 32 of 64 dims must recover
    // strictly more of the exact top-K than 16 dims in aggregate
    val byDim = rows.groupBy(_._1).view.mapValues(_.map(_._3).sum).toMap
    assert(byDim(32) > byDim(16), byDim.toString)
  }

  test("s12: rank order on the real kNN graph is stable across reruns") {
    val a = run("s12_pagerank").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val b = run("s12_pagerank").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(a == b && a.nonEmpty)
  }

  test("s26 k-core: monotone peel, fixpoint with spare rounds, and a degree-property replay") {
    val rows = run("s26_kcore").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sortBy(_._1)
    assert(rows.map(_._1).toVector == (0L to SimilarityQueries.KcoreRounds.toLong).toVector)
    val counts = rows.map(_._2).toVector
    assert(counts.zip(counts.tail).forall { case (a, b) => b <= a }, "peel must be monotone")
    assert(counts.last > 0, "core must not empty at this K (oracle shape depends on it)")
    // fixpoint reached with >=2 spare rounds: the fixed round bound is margin, not luck
    val tail3 = rows.takeRight(3)
    assert(tail3.map(t => (t._2, t._3)).distinct.size == 1,
      s"no fixpoint margin: ${rows.mkString(",")}")
    // replay: every survivor of the full peel has >=K mutual neighbors among survivors
    val knn = run("s10_knn_graph").collect().map(r => (r.getLong(0), r.getLong(2)))
    val dirSet = knn.toSet
    val mutual = knn.filter { case (a, b) => a < b && dirSet((b, a)) }
    val adj = (mutual ++ mutual.map(_.swap)).groupBy(_._1).map { case (k, v) => k -> v.map(_._2).toSet }
    var alive = adj.keySet
    var changed = true
    while (changed) {
      val next = alive.filter(v => (adj(v) & alive).size >= SimilarityQueries.KcoreK)
      changed = next != alive; alive = next
    }
    assert(alive.size.toLong == counts.last, "independent peel replay disagrees on core size")
    assert(alive.map(identity).sum == rows.last._3, "core id checksum mismatch vs replay")
  }

  test("d22 bloom gate: zero false negatives (the defining guarantee) and sane FPR") {
    val rows = graft.SparkEntry.queries("d22_bloom_gate")(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getDouble(6)))
    assert(rows.nonEmpty)
    val nSources = rows.length
    rows.foreach { case (src, nTests, nMembers, nFlagged, nFp, nFn, fpr) =>
      assert(nFn == 0L, s"$src: a Bloom filter must never say no to a member")
      assert(nFlagged == nMembers + nFp, s"$src: flag accounting")
      assert(nTests == (2L * DedupQueries.BloomProbes) * 1L, s"$src: every probe tested")
      // m=65536, k=3, n≈corpus/source: theoretical FPR at sf0.001-0.1 is
      // well under 30%; 1.0 would mean a saturated (useless) filter
      assert(fpr >= 0.0 && fpr < 0.5, s"$src: fpr $fpr out of band")
    }
    // the synthetic perturbed probes are non-members everywhere: total
    // members across sources <= one source membership per real probe
    assert(rows.map(_._3).sum <= DedupQueries.BloomProbes.toLong * nSources)
  }

  test("d21 winnowing matches a brute-force MOSS replay and honors the match guarantee") {
    val k = DedupQueries.WinnowK; val w = DedupQueries.WinnowW
    val docs = graft.Tables.documents(spark, sf).select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1))).filter(_._2.length >= k + w - 1)
    def fingerprints(text: String): Set[Long] = {
      val hs = (0 to text.length - k).map(i =>
        graft.functions.PortableHash.md5PrefixLong(text.substring(i, i + k).getBytes("UTF-8"), 7))
      (0 to hs.length - w).map { win =>
        // rightmost minimum of hs[win .. win+w-1]
        (win until win + w).minBy(p => (hs(p), -p))
      }.toSet.map((p: Int) => hs(p))
    }
    val sel = docs.map { case (id, t) => id -> fingerprints(t) }
    // bucket cap at MaxBucket lowest doc_ids per fingerprint
    val byH = sel.flatMap { case (id, hs) => hs.map(_ -> id) }
      .groupBy(_._1).map { case (h, xs) =>
        h -> xs.map(_._2).sorted.take(DedupQueries.MaxBucket)
      }
    val brutePairs = byH.values.flatMap { ids =>
      for (i <- ids.indices; j <- (i + 1) until ids.length) yield (ids(i), ids(j))
    }.groupBy(identity).map { case (p, xs) => p -> xs.size.toLong }
      .filter(_._2 >= 2L)
    val got = graft.SparkEntry.queries("d21_winnowing")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(got == brutePairs && got.nonEmpty)
    // winnowing guarantee: a shared substring of length >= k+w-1 shares
    // a fingerprint — prove it on a constructed pair through the SAME
    // selection code
    val shared = "abcdefghijklmnopqrs" // length 19 >= 11
    val fa = fingerprints("XX" + shared + "YYYYYYYY")
    val fb = fingerprints("ZZZZZ" + shared + "WW")
    assert((fa & fb).nonEmpty, "guarantee violated on constructed overlap")
    // density: selected ~ 2/(w+1) of positions, never more than all
    sel.foreach { case (id, hs) =>
      val np = docs.find(_._1 == id).get._2.length - k + 1
      assert(hs.nonEmpty && hs.size <= np, s"doc $id density")
    }
  }

  test("s25 filtered ANN returns only label-matching hits, exactly the brute-force top-k") {
    val embs = graft.Tables.embeddings(spark, sf).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray, r.getInt(2)))
    val queries = embs.filter(_._1 < SimilarityQueries.NumQueries)
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0
      for (i <- a.indices) { dot += a(i).toDouble * b(i); na += a(i).toDouble * a(i); nb += b(i).toDouble * b(i) }
      BigDecimal(dot / math.sqrt(na * nb)).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    val brute = queries.flatMap { case (qid, qv, qlabel) =>
      embs.filter(e => e._3 == qlabel && e._1 != qid)
        .map(e => (e._1, e._3, cos(qv, e._2)))
        .sortBy(t => (-t._3, t._1)).take(SimilarityQueries.K)
        .zipWithIndex.map { case ((vid, l, s), i) => (qid, (i + 1).toLong, vid, l.toLong, s) }
    }
    val got = graft.SparkEntry.queries("s25_filtered_ann")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4)))
    assert(got.toSeq == brute.toSeq && got.nonEmpty)
    val qLabel = queries.map(q => q._1 -> q._3.toLong).toMap
    got.foreach { case (q, _, _, l, _) => assert(l == qLabel(q), s"query $q: label leak") }
  }

  test("s22 adamic-adar equals the brute-force score on the full edge set") {
    val und = run("s10_knn_graph").collect()
      .map(r => (r.getLong(0), r.getLong(2)))
      .map { case (a, b) => (math.min(a, b), math.max(a, b)) }.toSet
    val nbrs = und.toSeq.flatMap { case (u, v) => Seq(u -> v, v -> u) }
      .groupBy(_._1).map { case (n, xs) => n -> xs.map(_._2).toSet }
    val deg = nbrs.map { case (n, xs) => n -> xs.size }
    val cand = for {
      z <- nbrs.keys.toSeq
      ys = nbrs(z).toSeq.sorted
      i <- ys.indices; j <- (i + 1) until ys.length
      if !und.contains((ys(i), ys(j)))
    } yield (ys(i), ys(j), z)
    val brute = cand.groupBy(c => (c._1, c._2)).map { case (pair, zs) =>
      val fp = zs.map(c => (1.0 / math.log(deg(c._3).toDouble) * 1e9).toLong).sum
      (pair._1, pair._2, zs.size.toLong, fp)
    }.toSeq.sortBy(t => (-t._4, t._1, t._2)).take(20)
    val got = run("s22_adamic_adar").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(got.length == brute.length && got.nonEmpty)
    got.zip(brute).foreach { case ((a, b, nc, sc), (ba, bb, bnc, bfp)) =>
      assert((a, b, nc) == (ba, bb, bnc), s"pair mismatch: ($a,$b) vs ($ba,$bb)")
      assert(sc == BigDecimal(bfp.toDouble / 1e9)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble, s"score mismatch at ($a,$b)")
    }
    // every reported pair is genuinely non-adjacent
    got.foreach { case (a, b, _, _) => assert(!und.contains((a, b))) }
  }

  test("s23 label propagation matches a brute-force synchronous run") {
    val und = run("s10_knn_graph").collect()
      .map(r => (r.getLong(0), r.getLong(2)))
      .map { case (a, b) => (math.min(a, b), math.max(a, b)) }.toSet
    val nbrs = und.toSeq.flatMap { case (u, v) => Seq(u -> v, v -> u) }
      .groupBy(_._1).map { case (n, xs) => n -> xs.map(_._2).toSeq }
    var lab = nbrs.keys.map(n => n -> n).toMap
    for (_ <- 1 to SimilarityQueries.LpaRounds) {
      lab = nbrs.map { case (n, xs) =>
        val freq = xs.map(lab).groupBy(identity).map { case (l, ls) => (l, ls.size) }
        n -> freq.toSeq.minBy { case (l, c) => (-c, l) }._1
      }
    }
    val brute = lab.values.groupBy(identity).map { case (l, ms) => l -> ms.size.toLong }
    val got = run("s23_communities").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == brute && got.nonEmpty)
    // labels partition the node set: sizes sum to |V|
    assert(got.values.sum == nbrs.size.toLong)
  }

  test("s24 personalized pagerank matches a brute-force integer iteration") {
    // the brute force is deliberately DENSE (a full node->mass map per
    // seed): the registered plan keeps sparse state (r9 — absent key =
    // zero), so this passing proves the sparse iteration reproduces the
    // dense semantics exactly, incl. that every seed has >= PprOut
    // positive-mass nodes (if it didn't, dense would tie-fill with
    // zero rows and this assert would fail loudly).
    val edges = run("s10_knn_graph").collect().map(r => (r.getLong(0), r.getLong(2)))
    val outdeg = edges.groupBy(_._1).map { case (a, xs) => a -> xs.length.toLong }
    val nodes = (edges.map(_._1) ++ edges.map(_._2)).distinct.sorted
    val seeds = nodes.filter(_ < SimilarityQueries.NumQueries)
    val restart = SimilarityQueries.PrScale * 15L / 100L
    val brute = seeds.flatMap { q =>
      var r = nodes.map(n => n -> (if (n == q) SimilarityQueries.PrScale else 0L)).toMap
      for (_ <- 1 to SimilarityQueries.PprRounds) {
        val contrib = edges.groupBy(_._2).map { case (b, es) =>
          b -> es.map { case (a, _) => r(a) / outdeg(a) }.sum
        }
        r = nodes.map(n =>
          n -> ((if (n == q) restart else 0L) + 85L * contrib.getOrElse(n, 0L) / 100L)).toMap
      }
      r.toSeq.sortBy { case (n, v) => (-v, n) }.take(SimilarityQueries.PprOut)
        .zipWithIndex.map { case ((n, v), i) => (q, (i + 1).toLong, n, v) }
    }
    val got = run("s24_personalized_pr").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(got.toSeq == brute.toSeq && got.nonEmpty)
    // localization: the seed itself carries the most personalized mass
    got.filter(_._2 == 1L).foreach { case (q, _, top, _) => assert(top == q, s"seed $q") }
  }

  test("s21 beam search: sane per-query structure and measured recall floor vs exact") {
    val beam = run("s21_graph_search").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(beam.nonEmpty)
    beam.groupBy(_._1).foreach { case (q, rs) =>
      assert(rs.length <= SimilarityQueries.BeamOut, s"q$q: at most BeamOut hits")
      assert(rs.map(_._2).sorted.toSeq == (1L to rs.length).toSeq, s"q$q: dense ranks")
      assert(rs.forall(_._3 != q), s"q$q: never returns the query itself")
      val ordered = rs.sortBy(_._2).map(_._4)
      assert(ordered.zip(ordered.tail).forall { case (a, b) => a >= b }, s"q$q: sims ordered")
    }
    // measured recall@5 vs the exact s01 top-5 on this fixture is 0.72
    // (random embeddings are the graph-ANN worst case; the floor guards
    // against a silent walk regression, not an absolute quality bar)
    val exact = run("s01_ann_bruteforce").collect()
      .filter(_.getLong(1) <= SimilarityQueries.BeamOut)
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    val got = beam.map(b => (b._1, b._3)).toSet
    val recall = (got & exact).size.toDouble / exact.size
    assert(recall >= 0.5, s"beam recall@5 fell to $recall")
  }
}
