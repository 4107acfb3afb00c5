package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.Tables
import graft.functions.PortableHash.{md5Prefix, md5PrefixSql}
import graft.queries.Relational.{Fn, Q}

/** Deduplication operators over `documents` — exact, order-insensitive
  * (bag-of-words), n-gram Jaccard near-dup, MinHash-LSH, SimHash, and
  * embedding-cosine near-dup (BASELINE.json north star).
  *
  * Scale design: every variant is groupBy/join on a derived key — no
  * crossJoin anywhere. Exact + BOW dedup shuffle once on the fingerprint;
  * n-gram Jaccard joins on shared shingles (bounded because shingle
  * document-frequency is capped); MinHash/LSH shrink the candidate space
  * to band-bucket collisions before any exact verification; embedding
  * near-dup blocks on the label (at 100 TB: on an LSH bucket or IVF cell).
  */
object DedupQueries {

  private def docs(s: SparkSession, d: String) = Tables.documents(s, d)
  private val toks: Column = split(col("text"), " ")

  /** 5-gram word shingles (distinct), docs with ≥5 tokens. The token
    * array is materialized as a column FIRST: `slice(split(...), i, 5)`
    * inside the transform lambda would re-run the split per shingle
    * (the lambda body is a fresh expression tree each invocation —
    * O(tokens²) splits per document). Row-local, so it works unchanged
    * on a STREAMING frame (the st5 ingest gate rides on it). */
  private[graft] def shingledOf(df: DataFrame): DataFrame =
    df
      .select(col("doc_id"), toks.as("w"))
      .filter(size(col("w")) >= 5)
      .select(col("doc_id"),
        array_distinct(transform(sequence(lit(1), size(col("w")) - 4),
          i => array_join(slice(col("w"), i, lit(5)), " "))).as("shingles"))

  private[queries] def shingled(s: SparkSession, d: String): DataFrame =
    shingledOf(docs(s, d))

  /** Exact dedup: survivor = min doc_id per identical text (hash-groupBy;
    * the dropDuplicates plan shape with an explicit deterministic keeper). */
  private val d01: Fn = (s, d) =>
    docs(s, d).groupBy(md5(col("text")).as("content_fp"))
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"))
      .select("keep_id", "n_copies", "content_fp")
      .orderBy("keep_id")
  private val d01Sql =
    """SELECT min(doc_id) AS keep_id, count(*) AS n_copies, md5(text) AS content_fp
      |FROM documents GROUP BY md5(text) ORDER BY keep_id""".stripMargin

  /** Order-insensitive dedup on the bag-of-words fingerprint — catches
    * shuffled near-copies exact dedup misses (54 in the fixture corpus). */
  private val d02: Fn = (s, d) =>
    docs(s, d)
      .groupBy(md5(array_join(array_sort(array_distinct(toks)), " ")).as("bow_fp"))
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_docs"),
        array_join(transform(sort_array(collect_list(col("doc_id"))), _.cast(StringType)), ",").as("members"))
      .filter(col("n_docs") > 1)
      .select("keep_id", "n_docs", "members")
      .orderBy("keep_id")
  private val d02Sql =
    """SELECT min(doc_id) AS keep_id, count(*) AS n_docs,
      |       array_to_string(list_sort(list(doc_id)), ',') AS members
      |FROM documents
      |GROUP BY md5(array_to_string(list_sort(list_distinct(string_split(text, ' '))), ' '))
      |HAVING count(*) > 1 ORDER BY keep_id""".stripMargin

  /** Exact n-gram Jaccard near-dup pairs (threshold 0.4): join on shared
    * shingles, count intersections per pair in the aggregation (one pass,
    * no per-pair set materialization), then |A∩B| / (|A|+|B|-|A∩B|).
    * This is the ground-truth near-dup operator the LSH variants
    * approximate. The exploded shingle relation feeds three plan branches
    * (join left/right + the per-doc size aggregate); it is persisted so
    * the string-heavy shingling runs once per job, not once per branch —
    * the MLlib compute-once/read-many pattern (measured ~2× on d03).
    *
    * DEFAULT is the prefix-filtered AllPairs plan ([[jaccardPairsPrefix]]):
    * the naive shared-shingle join emits Σ_s c_s² rows, so one hot
    * boilerplate shingle owns a reducer on a skewed corpus — the shape
    * that dies at 100 TB. The prefix plan confines candidate generation
    * to each document's rarest shingles (provably lossless at J ≥ 0.4)
    * and is within noise of the naive join even on this skew-free
    * fixture (~3 s warm vs ~2.7 s at sf0.1) after the round-3 rework
    * (df via window not join, hashed join keys, materialized cache).
    * [[jaccardPairsNaive]] is kept as the spec-identical cross-check
    * (DedupSimilaritySpec asserts equal output). */
  /** The exact-Jaccard pair relation through [[SharedPools]]: the
    * prefix-filtered AllPairs build is the most expensive shared dedup
    * subtree and has THREE registered consumers (d03 itself, d08's
    * cluster build, d19's sweep truth) — materialized once per JVM per
    * dir. Exact types (longs + the 6-dp-rounded jaccard double, which
    * parquet round-trips bitwise). */
  private[queries] def jaccardPool(s: SparkSession, d: String): DataFrame =
    SharedPools.materialized(s, d, "jaccard_pairs")(jaccardPairsPrefix(s, d))

  private val d03: Fn = (s, d) => jaccardPool(s, d).orderBy("d1", "d2")

  /** Public: the spec's equality cross-check AND SkewProbe's negative
    * control (the hot-shingle reducer this plan creates on a skewed
    * corpus is what the prefix default exists to kill). */
  def jaccardPairsNaive(s: SparkSession, d: String): DataFrame = {
    val sh = shingled(s, d).select(col("doc_id"), explode(col("shingles")).as("s"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val sizes = sh.groupBy("doc_id").agg(count(lit(1)).as("n"))
    val a = sh.as("a"); val b = sh.as("b")
    val inter = a.join(b, col("a.s") === col("b.s") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"))
      .agg(count(lit(1)).as("inter"))
    inter
      .join(sizes.withColumnRenamed("doc_id", "d1").withColumnRenamed("n", "n1"), "d1")
      .join(sizes.withColumnRenamed("doc_id", "d2").withColumnRenamed("n", "n2"), "d2")
      .withColumn("jaccard",
        round(col("inter").cast(DoubleType) / (col("n1") + col("n2") - col("inter")).cast(DoubleType), 6))
      .filter(col("jaccard") >= 0.4)
      .select("d1", "d2", "jaccard")
      .orderBy("d1", "d2")
  }

  /** Prefix-filtered exact Jaccard (Bayardo et al., "Scaling Up All Pairs
    * Similarity Search", WWW'07) — the skew-safe strategy for corpora
    * with hot shingles. Every document's shingle set is ordered by a
    * global rarest-first canonical order (document frequency, then
    * shingle); candidates join only on each document's PREFIX — the
    * first n − ⌈t·n⌉ + 1 shingles. Two sets with J ≥ t must share a
    * prefix shingle in any common total order, so no pair is lost;
    * candidates are verified with the exact intersection. Hot shingles
    * sort last and so are excluded from almost every prefix — the
    * candidate join touches only low-frequency keys, eliminating the
    * Σ_s c_s² blowup. The length filter 5·min(n₁,n₂) ≥ 2·max(n₁,n₂)
    * (exact-integer form of min ≥ t·max at t = 2/5) prunes cross-size
    * pairs before verification; all pruning arithmetic is integer, so no
    * double rounding can over-prune a borderline pair. Output is
    * identical to [[jaccardPairsNaive]] (asserted by DedupSimilaritySpec). */
  private[queries] def jaccardPairsPrefix(s: SparkSession, d: String): DataFrame = {
    // All heavy-shuffle keys are xxhash64(shingle) longs, not the ~40-byte
    // shingle strings: the df window, the rank order, and the candidate
    // join shuffle 8-byte keys. Exactness is untouched — candidates are
    // verified against the full STRING shingle arrays, so a 64-bit
    // collision can only create an extra candidate that verification
    // rejects (a missed candidate is impossible: equal strings hash
    // equal). The prefix theorem needs only a consistent total order on
    // shingle identity; (df, h, s) is one.
    //
    // Document frequency via a count window over the shingle shuffle —
    // NOT a groupBy+join back onto the exploded relation: that shape
    // reads the shingle subtree from two independent map stages which
    // race ahead of the cache fill and duplicate the string-heavy
    // shingling (measured ~2.5 s of the pair stage at sf0.1).
    val dfWin = Window.partitionBy(col("h"))
    val ex = shingled(s, d).select(col("doc_id"), explode(col("shingles")).as("s"))
      .withColumn("h", xxhash64(col("s")))
      .withColumn("df", count(lit(1)).over(dfWin))
    // Per-doc shingles in global (df, h, s) rarest-first order, plus size.
    val ranked = ex
      .groupBy("doc_id")
      .agg(array_sort(collect_list(struct(col("df"), col("h"), col("s")))).as("ss"))
      .select(col("doc_id"),
        transform(col("ss"), x => x.getField("s")).as("arr"),
        transform(col("ss"), x => x.getField("h")).as("harr"),
        size(col("ss")).as("n"))
    // Feeds four plan branches (candidate build a/b + two verification
    // joins); persisted AND materialized here — the branches are
    // independent stages of one job, so a lazy cache would again be
    // raced past and the ranking recomputed per branch.
    val withPre = ranked.withColumn("pre",
      slice(col("harr"), lit(1), (col("n") - floor((col("n") * 2 + 4) / 5) + 1).cast(IntegerType)))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    withPre.count()
    val pre = withPre.select(col("doc_id"), col("n"), explode(col("pre")).as("h"))
    val cand = pre.as("a").join(pre.as("b"),
        col("a.h") === col("b.h") && col("a.doc_id") < col("b.doc_id") &&
          least(col("a.n"), col("b.n")) * 5 >= greatest(col("a.n"), col("b.n")) * 2)
      .select(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"))
      .distinct()
    cand
      .join(withPre.select(col("doc_id").as("d1"), col("arr").as("arr1"), col("n").as("n1")), "d1")
      .join(withPre.select(col("doc_id").as("d2"), col("arr").as("arr2"), col("n").as("n2")), "d2")
      .withColumn("inter", size(array_intersect(col("arr1"), col("arr2"))))
      .withColumn("jaccard",
        round(col("inter").cast(DoubleType) / (col("n1") + col("n2") - col("inter")).cast(DoubleType), 6))
      .filter(col("jaccard") >= 0.4)
      .select("d1", "d2", "jaccard")
      .orderBy("d1", "d2")
  }

  private val d03Sql =
    """WITH sh AS (
      |  SELECT doc_id,
      |         unnest(list_distinct(list_transform(range(1, len(w) - 3),
      |                i -> array_to_string(w[i:i+4], ' ')))) AS s
      |  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents)
      |  WHERE len(w) >= 5),
      |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
      |inter AS (
      |  SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS inter
      |  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2)
      |SELECT d1, d2,
      |       round(CAST(inter AS DOUBLE) / CAST(n1 + n2 - inter AS DOUBLE), 6) AS jaccard
      |FROM (SELECT i.d1, i.d2, i.inter, s1.n AS n1, s2.n AS n2
      |      FROM inter i JOIN sizes s1 ON i.d1 = s1.doc_id JOIN sizes s2 ON i.d2 = s2.doc_id) t
      |WHERE round(CAST(inter AS DOUBLE) / CAST(n1 + n2 - inter AS DOUBLE), 6) >= 0.4
      |ORDER BY d1, d2""".stripMargin

  // ---- MinHash + LSH (md5-affine hash family — fully oracled) ----

  val MinhashPerms = graft.functions.PortableHash.MinhashPerms
  val LshBands = 32 // 32 bands × 2 rows: P(candidate) ≈ 1-(1-j²)^32
  /** Largest (band,bucket) / (chunk,value) group allowed into a candidate
    * self-join. Within-bucket pair generation is quadratic in bucket size,
    * so one hot bucket (boilerplate-heavy real corpus) would otherwise own
    * a reducer at scale; members beyond the cap are overwhelmingly exact /
    * near-exact copies that d01/d02 already collapse. */
  val MaxBucket = 64

  /** Keep at most [[MaxBucket]] deterministic (lowest-doc_id) members per
    * bucket before pair generation — bounds candidates per bucket at
    * MaxBucket²/2 regardless of corpus skew. */
  private[queries] def capBuckets(df: DataFrame, keys: Seq[String]): DataFrame =
    df.withColumn("_rn", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(keys.map(col): _*).orderBy(col("doc_id"))))
      .filter(col("_rn") <= MaxBucket).drop("_rn")

  /** Per-document MinHash signature via the fused codegen'd
    * [[graft.expressions.MinHashSignature]] kernel: one traversal of the
    * shingles per document (one md5 + 64 affine remixes each), no
    * shuffle, no intermediate arrays — the signature stage is pure map
    * work at any scale. Output is bit-identical to
    * [[minhashSignaturesBuiltin]] (same md5-affine family, see
    * [[graft.functions.PortableHash]]; asserted in
    * SignatureExpressionsSpec) AND to the d04 oracle's SQL replay. */
  def minhashSignatures(s: SparkSession, d: String): DataFrame =
    shingled(s, d)
      .select(col("doc_id"), graft.functions.SignatureOps.minhash(col("shingles")).as("sig"))

  /** Built-ins-only reference implementation of the same signature
    * (64 `array_min`/`transform` passes over per-perm affine remixes):
    * proof the semantics need no extension, and the bit-for-bit
    * comparison target for the fused kernel. */
  def minhashSignaturesBuiltin(s: SparkSession, d: String): DataFrame = {
    val PH = graft.functions.PortableHash
    shingled(s, d)
      .select(col("doc_id"), transform(col("shingles"), x => md5Prefix(x, 7)).as("hs"))
      .select(col("doc_id"),
        array((0 until MinhashPerms).map(j =>
          array_min(transform(col("hs"),
            h => (h * PH.MinhashA(j) + PH.MinhashB(j)) % PH.P))): _*).as("sig"))
  }

  /** One (doc_id, band, bucket) row per document per band: the
    * signature banded 32 × 2, bucketed by the band's signature PAIR
    * (encoded injectively as sv0·P + sv1 — plain integer arithmetic
    * both engines share; an engine hash here would break oracle parity
    * for zero benefit: LSH only needs bucket EQUALITY). Shared by
    * d04 (self-join), d12 (delta-vs-corpus ingest gate) and u09
    * (cross-split leakage audit). */
  private[graft] def lshBandsOf(df: DataFrame): DataFrame = {
    val P = graft.functions.PortableHash.P
    shingledOf(df)
      .select(col("doc_id"), col("shingles"),
        graft.functions.SignatureOps.minhash(col("shingles")).as("sig"))
      .select(col("doc_id"), col("shingles"),
        posexplode(array((0 until LshBands).map { b =>
          col("sig")(b * 2) * P + col("sig")(b * 2 + 1)
        }: _*)).as(Seq("band", "bucket")))
  }

  private[queries] def lshBands(s: SparkSession, d: String): DataFrame =
    lshBandsOf(docs(s, d)).drop("shingles")

  /** The standing corpus side of the incremental ingest gate as a
    * STATIC index frame: capped (band, bucket) membership with each
    * member's shingle set riding along so the streaming probe can
    * verify candidates map-side (no second join back to the corpus).
    * At 100 TB this is a bucketed-by-(band,bucket) table maintained
    * incrementally; d12 and [[graft.streaming.StreamingOps
    * .ingestNearDupGate]] both consume this shape. */
  def corpusBandIndex(corpus: DataFrame): DataFrame =
    capBuckets(lshBandsOf(corpus), Seq("band", "bucket"))
      .select(col("band"), col("bucket"),
        col("doc_id").as("dup_of"), col("shingles").as("corpus_shingles"))

  /** Shared oracle CTE text replaying [[shingled]] + [[lshBands]] in
    * DuckDB: sh (per-doc distinct shingles), hs (28-bit md5 bases),
    * perms (the interpolated affine constants), sig, bands. Queries
    * append their own candidate/verification CTEs. */
  private def lshCoreSql: String = {
    val PH = graft.functions.PortableHash
    s"""sh AS (
      |  SELECT doc_id,
      |         unnest(list_distinct(list_transform(range(1, len(w) - 3),
      |                i -> array_to_string(w[i:i+4], ' ')))) AS s
      |  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents)
      |  WHERE len(w) >= 5),
      |hs AS (SELECT doc_id, ${md5PrefixSql("s", 7)} AS h FROM sh),
      |perms(j, a, b) AS (VALUES ${PH.permsValuesSql}),
      |sig AS (
      |  SELECT doc_id, j, min((h * a + b) % ${PH.P}) AS sv
      |  FROM hs CROSS JOIN perms GROUP BY doc_id, j),
      |bands AS (
      |  SELECT doc_id, CAST(j // 2 AS INTEGER) AS band,
      |         CAST(sum(CASE WHEN j % 2 = 0 THEN sv * ${PH.P} ELSE sv END) AS BIGINT) AS bucket
      |  FROM sig GROUP BY 1, 2)""".stripMargin
  }

  /** Exact-Jaccard verification tail shared by the LSH oracles: joins a
    * `cand(d1, d2)` CTE back to the shingle relation. */
  private def lshVerifySql(c1: String, c2: String): String =
    s"""sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
      |inter AS (
      |  SELECT c.$c1, c.$c2, count(*) AS inter
      |  FROM cand c JOIN sh s1 ON s1.doc_id = c.$c1
      |              JOIN sh s2 ON s2.doc_id = c.$c2 AND s2.s = s1.s
      |  GROUP BY 1, 2)""".stripMargin

  /** [[lshBandsOf]]'s banding applied to an already-computed signature
    * relation — same expressions, no signature recompute. */
  private def bandsOfSig(sigs: DataFrame): DataFrame = {
    val P = graft.functions.PortableHash.P
    sigs.select(col("doc_id"),
      posexplode(array((0 until LshBands).map { b =>
        col("sig")(b * 2) * P + col("sig")(b * 2 + 1)
      }: _*)).as(Seq("band", "bucket")))
  }

  /** MinHash-LSH near-dup: band the signature (32 bands × 2 rows),
    * generate candidate pairs per (band, bucket), verify candidates
    * with exact Jaccard ≥ 0.4. Output shape matches d03 (verified
    * subset). Round 12: the banding branches read the signatures from
    * the parquet-backed [[minhashSigPool]] (the d19 lesson: pools, not
    * lazy persists — racing self-join branches re-ran the fused
    * minhash kernel once PER BRANCH, so round-11 d04 paid the
    * signature pass twice in the candidate build alone; at the 100×
    * probe that recompute was the bulk of the family's ratios). The
    * exact-verify tail keeps the direct shingle map pass (no minhash
    * in it). */
  private val d04: Fn = (s, d) => {
    val bands = capBuckets(bandsOfSig(minhashSigPool(s, d)), Seq("band", "bucket"))
    val a = bands.as("a"); val b = bands.as("b")
    val cand = a.join(b,
        col("a.band") === col("b.band") && col("a.bucket") === col("b.bucket") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("d1"), col("b.doc_id").as("d2")).distinct()
    // exact-verification join back to shingle sets
    val sh = shingled(s, d)
    val withSets = cand
      .join(sh.select(col("doc_id").as("d1"), col("shingles").as("s1")), "d1")
      .join(sh.select(col("doc_id").as("d2"), col("shingles").as("s2")), "d2")
    withSets
      .withColumn("inter", size(array_intersect(col("s1"), col("s2"))).cast(DoubleType))
      .withColumn("jaccard",
        round(col("inter") / (size(col("s1")) + size(col("s2")) - col("inter")).cast(DoubleType), 6))
      .filter(col("jaccard") >= 0.4)
      .select("d1", "d2", "jaccard")
      .orderBy("d1", "d2")
  }

  /** SimHash near-dup: 60-bit signature from token hashes (sign-weighted
    * bit voting over the 60-bit md5-prefix base — the widest md5 prefix
    * both engines parse exactly into a signed 64-bit, see
    * [[graft.functions.PortableHash]]), candidates must share one of
    * four 15-bit chunks (pigeonhole: hamming ≤ 3 pairs are guaranteed
    * candidates WITHIN the [[MaxBucket]] cap — a chunk bucket holding
    * >MaxBucket docs keeps only the lowest doc_ids, trading that
    * guarantee for bounded reducer cost on degenerate corpora; wider
    * dists found best-effort), verified by popcount(xor) ≤ 8. */
  val SimhashBits = graft.expressions.SignatureKernels.SimhashBits
  val SimhashChunkBits = SimhashBits / 4

  /** Per-document 60-bit SimHash via the fused codegen'd
    * [[graft.expressions.SimHashSignature]] kernel: one pass over the
    * token occurrences per row replaces TWO aggregation shuffles (token
    * weights, then 60 bit-vote sums) — at scale the signature stage goes
    * from two exchanges to zero. Public so the spec can compute exact
    * all-pairs hamming ground truth against the same signatures d05
    * buckets; bit-identical to [[simhashSignaturesBuiltin]]. */
  def simhashSignatures(s: SparkSession, d: String): DataFrame =
    docs(s, d).select(col("doc_id"),
      graft.functions.SignatureOps.simhash(toks).as("simhash"))

  /** Built-ins-only reference implementation (explode → per-token
    * weights → 60 signed bit-vote aggregates): the comparison target
    * proving the fused kernel's semantics. */
  def simhashSignaturesBuiltin(s: SparkSession, d: String): DataFrame = {
    val tok = docs(s, d).select(col("doc_id"), explode(toks).as("t"))
      .groupBy("doc_id", "t").agg(count(lit(1)).as("w"))
      .withColumn("h", md5Prefix(col("t"), 15))
    val bitSums = (0 until SimhashBits).map { b =>
      sum(when(shiftright(col("h"), b).bitwiseAND(1) === 1, col("w")).otherwise(-col("w"))).as(s"b$b")
    }
    tok.groupBy("doc_id").agg(bitSums.head, bitSums.tail: _*)
      .select(col("doc_id"),
        (0 until SimhashBits).map(b => when(col(s"b$b") > 0, shiftleft(lit(1L), b)).otherwise(0L))
          .reduce((x, y) => x.bitwiseOR(y)).as("simhash"))
  }

  private val d05: Fn = (s, d) => {
    val sig = simhashSignatures(s, d)
    val chunks = capBuckets(sig.select(col("doc_id"), col("simhash"),
      posexplode(array((0 until 4).map(c =>
        shiftright(col("simhash"), c * SimhashChunkBits)
          .bitwiseAND((1L << SimhashChunkBits) - 1)): _*)).as(Seq("chunk", "v"))),
      Seq("chunk", "v"))
    val a = chunks.as("a"); val b = chunks.as("b")
    a.join(b, col("a.chunk") === col("b.chunk") && col("a.v") === col("b.v") &&
        col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"),
        col("a.simhash").as("s1"), col("b.simhash").as("s2")).distinct()
      .withColumn("hamming", bit_count(col("s1").bitwiseXOR(col("s2"))).cast(IntegerType))
      .filter(col("hamming") <= 8)
      .select("d1", "d2", "hamming")
      .orderBy("d1", "d2")
  }

  /** d04 oracle: full SQL replay of the LSH pipeline — same shingles,
    * same md5-affine signatures (the 64 (a_j, b_j) constants are
    * interpolated from [[graft.functions.PortableHash]]), same band
    * pairing, bucket cap, candidate join, and exact verification. */
  private val d04Sql =
    s"""WITH $lshCoreSql,
      |capped AS (
      |  SELECT doc_id, band, bucket FROM (
      |    SELECT doc_id, band, bucket,
      |           row_number() OVER (PARTITION BY band, bucket ORDER BY doc_id) AS rn
      |    FROM bands) t WHERE rn <= $MaxBucket),
      |cand AS (
      |  SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
      |  FROM capped a JOIN capped b
      |    ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id),
      |${lshVerifySql("d1", "d2")}
      |SELECT d1, d2,
      |       round(CAST(inter AS DOUBLE) / CAST(n1 + n2 - inter AS DOUBLE), 6) AS jaccard
      |FROM (SELECT i.d1, i.d2, i.inter, s1.n AS n1, s2.n AS n2
      |      FROM inter i JOIN sizes s1 ON i.d1 = s1.doc_id JOIN sizes s2 ON i.d2 = s2.doc_id) t
      |WHERE round(CAST(inter AS DOUBLE) / CAST(n1 + n2 - inter AS DOUBLE), 6) >= 0.4
      |ORDER BY d1, d2""".stripMargin

  /** Shared SQL replay of the SimHash signature stage (per-token 60-bit
    * md5-prefix bit sources, exact integer bit-vote sums) — the `sig`
    * CTE both d05's band-bucket oracle and d15's sorted-neighborhood
    * oracle build on. */
  private val simhashSigSql =
    s"""tok AS (
      |  SELECT doc_id, t, count(*) AS w
      |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents)
      |  GROUP BY doc_id, t),
      |h AS (SELECT doc_id, w, ${md5PrefixSql("t", 15)} AS h FROM tok),
      |votes AS (
      |  SELECT doc_id, b, sum(CASE WHEN (h >> b) & 1 = 1 THEN w ELSE -w END) AS v
      |  FROM h CROSS JOIN (SELECT unnest(range(0, $SimhashBits)) AS b) bits
      |  GROUP BY doc_id, b),
      |sig AS (
      |  SELECT doc_id,
      |         CAST(sum(CASE WHEN v > 0 THEN CAST(1 AS BIGINT) << b ELSE 0 END) AS BIGINT) AS simhash
      |  FROM votes GROUP BY doc_id)""".stripMargin

  /** d05 oracle: SQL replay of the SimHash pipeline — signature CTEs,
    * chunk buckets, cap, and the popcount(xor) ≤ 8 verification. */
  private val d05Sql = {
    s"""WITH $simhashSigSql,
      |chunks AS (
      |  SELECT doc_id, simhash, CAST(c AS INTEGER) AS c,
      |         (simhash >> CAST(c * $SimhashChunkBits AS INTEGER)) & ${(1L << SimhashChunkBits) - 1} AS v
      |  FROM sig CROSS JOIN (SELECT unnest(range(0, 4)) AS c) cs),
      |capped AS (
      |  SELECT doc_id, simhash, c, v FROM (
      |    SELECT doc_id, simhash, c, v,
      |           row_number() OVER (PARTITION BY c, v ORDER BY doc_id) AS rn
      |    FROM chunks) t WHERE rn <= $MaxBucket),
      |pairs AS (
      |  SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2,
      |         a.simhash AS s1, b.simhash AS s2
      |  FROM capped a JOIN capped b
      |    ON a.c = b.c AND a.v = b.v AND a.doc_id < b.doc_id)
      |SELECT d1, d2, CAST(bit_count(xor(s1, s2)) AS INTEGER) AS hamming
      |FROM pairs
      |WHERE bit_count(xor(s1, s2)) <= 8
      |ORDER BY d1, d2""".stripMargin
  }

  /** d12: incremental near-dup ingest gate — p07's delta-vs-corpus
    * semantics upgraded from exact fingerprints to MinHash-LSH: each
    * arriving (delta) document is checked against the STANDING corpus's
    * band-bucket index and rejected when an exact-verified Jaccard ≥ 0.4
    * match exists. The standing/delta split reuses p07's deterministic
    * md5 arrival buckets (70% standing). At 100 TB the corpus index is a
    * precomputed table bucketed by (band, bucket) (ScaleOps
    * .writeBucketed), so the per-batch probe is a co-located join that
    * touches only colliding buckets — never the corpus; the [[MaxBucket]]
    * cap bounds any degenerate bucket exactly as in d04. Fully oracled:
    * the portable signatures make the whole gate replayable in SQL. */
  private val d12: Fn = (s, d) => {
    val arrivals = graft.functions.DetHash.mdBucket(col("doc_id"), "arrival:", 100)
    val bands = lshBands(s, d).withColumn("b", arrivals)
    val corpus = capBuckets(bands.filter(col("b") < 70), Seq("band", "bucket"))
      .select(col("band"), col("bucket"), col("doc_id").as("dup_of"))
    val delta = bands.filter(col("b") >= 70)
      .select(col("band"), col("bucket"), col("doc_id").as("new_id"))
    val cand = delta.join(corpus, Seq("band", "bucket"))
      .select("new_id", "dup_of").distinct()
    val sh = shingled(s, d)
    cand
      .join(sh.select(col("doc_id").as("new_id"), col("shingles").as("s1")), "new_id")
      .join(sh.select(col("doc_id").as("dup_of"), col("shingles").as("s2")), "dup_of")
      .withColumn("inter", size(array_intersect(col("s1"), col("s2"))).cast(DoubleType))
      .withColumn("jaccard",
        round(col("inter") / (size(col("s1")) + size(col("s2")) - col("inter")).cast(DoubleType), 6))
      .filter(col("jaccard") >= 0.4)
      .select("new_id", "dup_of", "jaccard")
      .orderBy("new_id", "dup_of")
  }
  private val d12Sql = {
    val b = graft.functions.DetHash.mdBucketSql("doc_id", "arrival:", 100)
    s"""WITH $lshCoreSql,
      |arr AS (SELECT doc_id, $b AS b FROM documents),
      |cb AS (
      |  SELECT band, bucket, doc_id FROM (
      |    SELECT bd.band, bd.bucket, bd.doc_id,
      |           row_number() OVER (PARTITION BY bd.band, bd.bucket ORDER BY bd.doc_id) AS rn
      |    FROM bands bd JOIN arr ON bd.doc_id = arr.doc_id WHERE arr.b < 70) t
      |  WHERE rn <= $MaxBucket),
      |db AS (
      |  SELECT bd.band, bd.bucket, bd.doc_id
      |  FROM bands bd JOIN arr ON bd.doc_id = arr.doc_id WHERE arr.b >= 70),
      |cand AS (
      |  SELECT DISTINCT db.doc_id AS new_id, cb.doc_id AS dup_of
      |  FROM db JOIN cb ON db.band = cb.band AND db.bucket = cb.bucket),
      |${lshVerifySql("new_id", "dup_of")}
      |SELECT new_id, dup_of,
      |       round(CAST(inter AS DOUBLE) / CAST(n1 + n2 - inter AS DOUBLE), 6) AS jaccard
      |FROM (SELECT i.new_id, i.dup_of, i.inter, s1.n AS n1, s2.n AS n2
      |      FROM inter i JOIN sizes s1 ON i.new_id = s1.doc_id
      |                   JOIN sizes s2 ON i.dup_of = s2.doc_id) t
      |WHERE round(CAST(inter AS DOUBLE) / CAST(n1 + n2 - inter AS DOUBLE), 6) >= 0.4
      |ORDER BY new_id, dup_of""".stripMargin
  }

  /** u09: NEAR-dup split-leakage audit — u08 catches bag-of-words
    * identical documents across train/val/test; this catches the
    * rewording-resistant leaks the decontamination literature worries
    * about (an eval doc that is a ≥ 0.4-Jaccard near-copy of a training
    * doc still leaks the answer). Every exact-verified LSH pair is
    * reported with both splits and a `leaks` verdict (cross-split), so
    * the audit is never vacuous on a split-free corpus and the leak
    * rows are one `WHERE leaks` away. Same d04 candidate machinery —
    * one banded join, bucket-capped, exact verification. */
  private val u09: Fn = (s, d) => {
    val pairs = d04(s, d)
    val splits = docs(s, d).select(col("doc_id"),
      graft.functions.DetHash.splitOf(col("doc_id")).as("split"))
    pairs
      .join(splits.select(col("doc_id").as("d1"), col("split").as("split_a")), "d1")
      .join(splits.select(col("doc_id").as("d2"), col("split").as("split_b")), "d2")
      .withColumn("leaks", col("split_a") =!= col("split_b"))
      .select("d1", "d2", "split_a", "split_b", "jaccard", "leaks")
      .orderBy("d1", "d2")
  }
  private val u09Sql = {
    val b = graft.functions.DetHash.mdBucketSql("doc_id", "split:", 100)
    s"""WITH pairs AS ($d04Sql),
      |sp AS (SELECT doc_id,
      |         CASE WHEN $b < 80 THEN 'train' WHEN $b < 90 THEN 'val'
      |              ELSE 'test' END AS split
      |       FROM documents)
      |SELECT p.d1, p.d2, a.split AS split_a, b2.split AS split_b, p.jaccard,
      |       a.split <> b2.split AS leaks
      |FROM pairs p JOIN sp a ON p.d1 = a.doc_id JOIN sp b2 ON p.d2 = b2.doc_id
      |ORDER BY p.d1, p.d2""".stripMargin
  }

  /** Embedding-cosine near-dup, label-blocked (at 100 TB the block key is
    * an LSH bucket / IVF cell instead of the label — same join shape). */
  private val d06: Fn = (s, d) => {
    val e = Tables.embeddings(s, d)
    val a = e.select(col("label"), col("vec_id").as("a_id"), col("embedding").as("va"))
    val b = e.select(col("label"), col("vec_id").as("b_id"), col("embedding").as("vb"))
    a.join(b, Seq("label")).filter(col("a_id") < col("b_id"))
      .withColumn("sim", round(graft.functions.VectorOps.cosine(col("va"), col("vb")), 4))
      .filter(col("sim") >= 0.4)
      .select(col("label"), col("a_id"), col("b_id"), col("sim"))
      .orderBy("a_id", "b_id")
  }
  private val d06Sql =
    """SELECT a.label, a.vec_id AS a_id, b.vec_id AS b_id,
      |  round(list_dot_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) /
      |        sqrt(list_dot_product(a.embedding::DOUBLE[], a.embedding::DOUBLE[]) *
      |             list_dot_product(b.embedding::DOUBLE[], b.embedding::DOUBLE[])), 4) AS sim
      |FROM embeddings a JOIN embeddings b ON a.label = b.label AND a.vec_id < b.vec_id
      |WHERE round(list_dot_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) /
      |        sqrt(list_dot_product(a.embedding::DOUBLE[], a.embedding::DOUBLE[]) *
      |             list_dot_product(b.embedding::DOUBLE[], b.embedding::DOUBLE[])), 4) >= 0.4
      |ORDER BY a_id, b_id""".stripMargin

  // --------------- d09 IVF-cell-blocked embedding near-dup (unsupervised)

  /** Deterministic IVF codebook size: C = max(8, ceil(sqrt(n/2))) on an
    * EXACT corpus count, so both engines derive the identical codebook
    * (r8 verdict item 2). sqrt is IEEE-754 correctly rounded in both the
    * JVM and DuckDB's C runtime and n/2.0 is exact in double, so the two
    * engines see the same double and the same ceil. C ~ sqrt(n) is the
    * Faiss sizing law: assignment costs n*C cosines and within-cell pair
    * generation ~(nP)^2/C, so the total is minimized (both terms n^1.5)
    * when C grows with sqrt(n) — a fixed C degrades quadratically, and
    * BENCH_sf1 round 8 measured exactly that (3.69x wall at 10x data,
    * the worst ratio in the set, with C pinned at 8). */
  def ivfCodebookSize(n: Long): Long =
    math.max(8L, math.ceil(math.sqrt(n / 8.0)).toLong)

  /** The same law as SQL, against an exact COUNT(*) subquery. */
  def ivfCodebookSizeSql(countExpr: String): String =
    s"GREATEST(8, CAST(ceil(sqrt(($countExpr) / 8.0)) AS BIGINT))"

  /** d09 multi-probe width. Raised 3 → 4 alongside the dynamic codebook
    * (round 9): the fixture's synthetic near-uniform embeddings are
    * IVF's worst geometry (no cluster structure for cells to respect,
    * so every extra cell adds boundary-straddling pairs), and one more
    * probe buys back what the growing codebook loses — measured recall
    * vs exact all-pairs: 1.000 at n=500/C=8 and 0.945 at n=2000/C=16,
    * vs 0.92/0.81 at P=3. The work fraction P²/C still SHRINKS with the
    * corpus (16/C: 0.32 at sf1's C=50, ~2e-3 at C=8k) where the old
    * fixed C=8 pinned it at 1.125 ≥ brute force forever. */
  val IvfProbes = 4

  /** Embedding near-dup WITHOUT any given blocking label — the
    * unsupervised form d06's doc promises for 100 TB: derive cells from
    * the data (C = [[ivfCodebookSize]](n) deterministic seed vectors =
    * lowest vec_ids; a k-means refinement would drop in here), assign
    * every vector to its TOP-[[IvfProbes]] cells (multi-probe, so
    * near-boundary pairs are not lost), generate pairs only within
    * cells, dedup double-matches. The pairwise-work fraction vs brute
    * force is P²/C — C scales ~√n with the corpus (see
    * [[ivfCodebookSize]]), so at a real corpus C runs in the thousands
    * where P²/C is ~1e-3. The exact corpus count feeding C is the one
    * driver-side value (the k-means centroid / BPE merge-round
    * bounded-protocol precedent); seed broadcast stays map-only at any
    * n (C ≈ √n rows · dim floats — tens of MB at n=1e9). Assignment
    * stays map-only; the cell join is the only shuffle. Assignment
    * order uses 4dp-rounded cosine + seed tiebreak, so the whole
    * operator is engine-portable and fully ORACLED (d06 established
    * round-4 cosine parity); DedupSimilaritySpec measures its recall
    * against the exact unblocked all-pairs ground truth.
    *
    * Plan shape (Faiss-style IVF posting lists): vectors ride through the
    * ONE cell shuffle and cosine is computed inside the cell join, so the
    * dedup of multi-probe double-matches runs on the ~output-size survivor
    * set (sim >= threshold) instead of the full candidate set — no
    * million-row DISTINCT, no separate vector-fetch joins. With only C
    * cell keys the join would occupy <= C reducers, so the left side is
    * salted S ways (deterministic hash) and the right side replicated:
    * every within-cell pair still meets exactly once, on (cell, salt),
    * and pair generation + scoring spreads across C*S cores. Replication
    * multiplies the small side's shuffle by S — at corpus scale keep
    * S * |postings| * dim * 4B per executor in mind (S=8 here).
    *
    * Empirical scale check (BENCH_sf1.json, round 8): at 10× data with
    * C held at 8, wall-clock grew 3.69× — the largest ratio in the
    * top-cost set, and exactly the predicted fixed-codebook effect
    * (within-cell candidates grow when C doesn't). Round 9 made C
    * data-derived; the refreshed sf1 sweep grades the fix. */
  private val d09: Fn = (s, d) => {
    val e = Tables.embeddings(s, d)
    val c = ivfCodebookSize(e.count())
    val seeds = e.orderBy("vec_id").limit(c.toInt)
      .select(col("vec_id").as("seed_id"), col("embedding").as("sv"))
    // Assignment scores are computed map-side, then ONLY the (vec_id,
    // seed_id, csim) proxy rows ride the top-P window exchange — the
    // n·C-row scored relation used to carry the full embedding through
    // that shuffle (C ~ √n vectors of payload per input vector, the
    // guide-§2.3/§8 heavy-proxy smell); the P winners re-attach their
    // embedding with one n-row join afterwards (P « C, strictly fewer
    // payload bytes moved at every scale).
    val scored = e.crossJoin(broadcast(seeds))
      .withColumn("csim", round(graft.functions.VectorOps.cosine(col("embedding"), col("sv")), 4))
      .select(col("vec_id"), col("seed_id"), col("csim"))
    val wv = org.apache.spark.sql.expressions.Window
      .partitionBy(col("vec_id")).orderBy(desc("csim"), col("seed_id"))
    val assign = scored.withColumn("ark", row_number().over(wv)).filter(col("ark") <= IvfProbes)
      .select(col("vec_id"), col("seed_id").as("cell"))
      .join(e.select(col("vec_id"), col("embedding")), Seq("vec_id"))
      .select(col("vec_id"), col("embedding"), col("cell"))
    val S = 8
    val a = assign.select(col("cell"),
      pmod(xxhash64(col("vec_id")), lit(S)).as("salt"),
      col("vec_id").as("a_id"), col("embedding").as("va"))
    val b = assign.select(col("cell"),
      explode(array((0 until S).map(lit): _*)).as("salt"),
      col("vec_id").as("b_id"), col("embedding").as("vb"))
    a.join(b, Seq("cell", "salt")).filter(col("a_id") < col("b_id"))
      .withColumn("sim", round(graft.functions.VectorOps.cosine(col("va"), col("vb")), 4))
      .filter(col("sim") >= 0.4)
      .select("a_id", "b_id", "sim").distinct()
      .orderBy("a_id", "b_id")
  }
  private val d09Sql =
    s"""WITH seeds AS (
      |  SELECT vec_id AS seed_id, embedding AS sv
      |  FROM (SELECT vec_id, embedding,
      |          row_number() OVER (ORDER BY vec_id) AS rn FROM embeddings) srt
      |  WHERE rn <= (SELECT ${ivfCodebookSizeSql("count(*)")} FROM embeddings)),
      |scored AS (
      |  SELECT e.vec_id, e.embedding, s.seed_id,
      |         round(list_dot_product(e.embedding::DOUBLE[], s.sv::DOUBLE[]) /
      |               sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[]) *
      |                    list_dot_product(s.sv::DOUBLE[], s.sv::DOUBLE[])), 4) AS csim
      |  FROM embeddings e CROSS JOIN seeds s),
      |assign AS (
      |  SELECT vec_id, embedding, seed_id AS cell
      |  FROM (SELECT vec_id, embedding, seed_id,
      |          row_number() OVER (PARTITION BY vec_id ORDER BY csim DESC, seed_id) AS ark
      |        FROM scored) t
      |  WHERE ark <= $IvfProbes)
      |SELECT DISTINCT a.vec_id AS a_id, b.vec_id AS b_id,
      |  round(list_dot_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) /
      |        sqrt(list_dot_product(a.embedding::DOUBLE[], a.embedding::DOUBLE[]) *
      |             list_dot_product(b.embedding::DOUBLE[], b.embedding::DOUBLE[])), 4) AS sim
      |FROM assign a JOIN assign b ON a.cell = b.cell AND a.vec_id < b.vec_id
      |WHERE round(list_dot_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) /
      |        sqrt(list_dot_product(a.embedding::DOUBLE[], a.embedding::DOUBLE[]) *
      |             list_dot_product(b.embedding::DOUBLE[], b.embedding::DOUBLE[])), 4) >= 0.4
      |ORDER BY a_id, b_id""".stripMargin

  // ------------------- d08 near-dup clusters (connected components) -----

  /** Near-duplicate CLUSTERS: connected components over the exact-Jaccard
    * pair graph (d03), so transitively-linked near-dups (A≈B≈C with A,C
    * below threshold) still collapse to one keeper — the step pair-wise
    * dedup misses. Pregel-style iterative min-label propagation, the
    * Spark-idiomatic form of an iterative graph algorithm: each round is
    * one keyed join (labels onto the bidirectional edge list) + one
    * aggregation (min over own label and neighbor labels), persisted per
    * round, run until a fixpoint action reports zero changes. Rounds
    * needed = graph diameter in the worst case — near-dup components are
    * shallow (duplicates of a common ancestor), so convergence is fast at
    * any corpus size; every round is shuffle-keyed on doc_id, nothing is
    * ever single-partition. Output: one row per cluster (keeper = min
    * doc_id), member list, size. Deterministic ⇒ oracled (DuckDB
    * WITH RECURSIVE transitive closure computes the same components). */
  /** d08's cluster map through [[SharedPools]]: the label-propagation
    * fixpoint is the most expensive dedup stage (6+ s at sf0.1) and now
    * has TWO registered consumers (d08 itself and p22's savings
    * report) — exactly the stage-boundary materialization a production
    * pipeline would write between clustering and its readers. Exact
    * types only (longs + the members CSV string), so the parquet
    * round-trip is bitwise. */
  private[queries] def clusterPool(s: SparkSession, d: String): DataFrame =
    SharedPools.materialized(s, d, "dedup_clusters")(clustersBuilt(s, d))

  private[queries] def clustersBuilt(s: SparkSession, d: String): DataFrame = {
    val pairs = jaccardPool(s, d).select(col("d1"), col("d2"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    minLabelComponents(s, pairs)
      .groupBy(col("label").as("cluster"))
      .agg(count(lit(1)).as("n_docs"),
        array_join(transform(sort_array(collect_list(col("id"))), _.cast(StringType)), ",").as("members"))
      .orderBy("cluster")
  }

  /** Min-label connected components over an undirected pair relation
    * with columns (d1, d2) — the d08 cluster kernel, factored (round 7)
    * so the multimodal payload-cluster twin (m14) runs the SAME
    * convergence-witnessed iteration over its perceptual-hash pairs.
    * Returns (id, label); covers exactly the nodes that appear in a
    * pair (singletons are their own trivial cluster by omission). */
  private[queries] def minLabelComponents(s: SparkSession, pairs: DataFrame): DataFrame = {
    // AQE's per-query re-optimization is pure overhead on the iteration
    // steps: every round is a pair of joins over small CACHED relations
    // (the label and edge sets), re-planned from scratch each time —
    // measured ~0.3 s/round at sf0.1. The heavy, skew-prone work (the
    // pair stage in `pairs`) still runs with AQE on — it is driven by
    // actions on the CALLER's session; only the loop rounds below run on
    // a private-conf clone (LoopSession), so a concurrent query on the
    // caller's session never observes the loop tuning.
    val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val edgesC = pairs.union(pairs.select(col("d2").as("d1"), col("d1").as("d2")))
      .toDF("src", "dst").persist(lvl)
    val labels0 = edgesC.select(col("src").as("id")).distinct()
      .withColumn("label", col("id")).persist(lvl)
    // Convergence witness: labels only ever decrease, so Σ label is a
    // strictly decreasing monotone until the fixpoint — an unchanged sum
    // IS convergence. One scalar aggregate per round replaces an
    // old-vs-new join. This first aggregate also MATERIALIZES both caches
    // on the caller's session (AQE on, skew handling live) before any
    // loop round runs on the clone.
    var prevSum = labels0.agg(coalesce(sum(col("label")), lit(0L))).head.getLong(0)
    val ls = LoopSession.isolated(s, "spark.sql.adaptive.enabled" -> "false")
    val edges = LoopSession.rebind(ls, edgesC)
    var labels = LoopSession.rebind(ls, labels0)
    var iter = 0
    var converged = false
    while (!converged && iter < 64) {
      val msgs = edges.join(labels, col("src") === col("id"))
        .select(col("dst").as("id"), col("label").as("nlabel"))
      val next = labels.join(msgs, Seq("id"), "left")
        .groupBy("id")
        .agg(least(min(col("label")), min(col("nlabel"))).as("label"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val nextSum = next.agg(coalesce(sum(col("label")), lit(0L))).head.getLong(0)
      labels.unpersist(false)
      labels = next
      converged = nextSum == prevSum
      prevSum = nextSum
      iter += 1
    }
    if (!converged) System.err.println(
      s"[d08] label propagation stopped at $iter rounds before the fixpoint " +
        "(component diameter exceeds the bound); cluster ids may be non-minimal " +
        "and the output will diverge from the transitive-closure oracle")
    // hand the (cached) fixpoint back on the caller's session
    LoopSession.rebind(s, labels)
  }

  private val d08: Fn = (s, d) => clusterPool(s, d).orderBy("cluster")

  /** The shingle → exact-Jaccard-pair → closure CTE chain, factored so
    * d08's cluster oracle and d24's dilution oracle replay the SAME
    * graph construction (ends at `comp(id, cluster)`). */
  private[queries] val closureCtes =
    """sh AS (
      |  SELECT doc_id,
      |         unnest(list_distinct(list_transform(range(1, len(w) - 3),
      |                i -> array_to_string(w[i:i+4], ' ')))) AS s
      |  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents)
      |  WHERE len(w) >= 5),
      |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
      |inter AS (
      |  SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS inter
      |  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2),
      |pairs AS (
      |  SELECT d1, d2
      |  FROM (SELECT i.d1, i.d2, i.inter, s1.n AS n1, s2.n AS n2
      |        FROM inter i JOIN sizes s1 ON i.d1 = s1.doc_id JOIN sizes s2 ON i.d2 = s2.doc_id) t
      |  WHERE round(CAST(inter AS DOUBLE) / CAST(n1 + n2 - inter AS DOUBLE), 6) >= 0.4),
      |edges AS (SELECT d1 AS a, d2 AS b FROM pairs UNION SELECT d2, d1 FROM pairs),
      |reach(a, b) AS (
      |  SELECT a, b FROM edges
      |  UNION
      |  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a),
      |comp AS (
      |  SELECT a AS id, least(a, min(b)) AS cluster FROM reach GROUP BY a)""".stripMargin

  private val d08Sql =
    s"""WITH RECURSIVE $closureCtes
       |SELECT cluster, count(*) AS n_docs,
       |       array_to_string(list_sort(list(id)), ',') AS members
       |FROM comp GROUP BY cluster ORDER BY cluster""".stripMargin

  // ------------------- d24 closure-dilution audit ------------------------

  /** d24: transitive-closure dilution audit — for every d08 cluster,
    * compare the number of MEASURED near-dup edges (the exact-Jaccard
    * pairs the graph was built from) against the number of member pairs
    * the cluster IMPLIES (k·(k−1)/2). A closure keeps only one doc per
    * component, so a chain A≈B≈C quietly asserts A≈C without ever
    * measuring it; clusters whose measured-edge fraction is low are
    * chain-shaped and the risky ones to collapse (the known failure
    * mode of connected-component dedup — one borderline pair bridges
    * two genuinely distinct groups). This is the audit a curation
    * pipeline reads before trusting d08's keep-one-per-cluster verdict.
    *
    * Exactness: integer pair counting on both sides; one rounded
    * fraction. Every pooled pair lies inside exactly one component by
    * construction, so the per-cluster edge count is a plain keyed
    * aggregation of the pair relation against the membership map.
    * Scale shape: reuses BOTH SharedPools artifacts (the pair pool and
    * the materialized cluster map — no fixpoint rerun, no pair
    * recompute); membership comes from exploding the members CSV of
    * the cluster relation (cluster-sized, tiny); one keyed join + two
    * aggregations. */
  private val d24: Fn = (s, d) => {
    val clusters = clusterPool(s, d)
    val member = clusters.select(col("cluster"),
        explode(split(col("members"), ",")).as("m"))
      .select(col("cluster"), col("m").cast(LongType).as("d1"))
    val edges = jaccardPool(s, d).select(col("d1"))
    val measured = edges.join(member, Seq("d1"))
      .groupBy("cluster").agg(count(lit(1)).as("n_measured"))
    clusters.join(measured, Seq("cluster"))
      .withColumn("n_pairs", expr("CAST(n_docs * (n_docs - 1) DIV 2 AS BIGINT)"))
      .withColumn("measured_frac", round(col("n_measured").cast(DoubleType) /
        col("n_pairs").cast(DoubleType), 6))
      .select("cluster", "n_docs", "n_pairs", "n_measured", "measured_frac")
      .orderBy("cluster")
  }

  private val d24Sql =
    s"""WITH RECURSIVE $closureCtes,
       |csize AS (SELECT cluster, count(*) AS n_docs FROM comp GROUP BY 1),
       |meas AS (
       |  SELECT c.cluster, count(*) AS n_measured
       |  FROM pairs p JOIN comp c ON p.d1 = c.id
       |  GROUP BY 1)
       |SELECT s.cluster, s.n_docs,
       |       CAST(s.n_docs * (s.n_docs - 1) // 2 AS BIGINT) AS n_pairs,
       |       CAST(m.n_measured AS BIGINT) AS n_measured,
       |       round(CAST(m.n_measured AS DOUBLE) /
       |             CAST(s.n_docs * (s.n_docs - 1) // 2 AS DOUBLE), 6) AS measured_frac
       |FROM csize s JOIN meas m ON s.cluster = m.cluster
       |ORDER BY 1""".stripMargin

  /** d10: span-level exact-substring dedup — the sequence-level variant
    * of dedup (d01/d03 are document-level): find every MAXIMAL run of
    * tokens covered by an 8-token shingle that also occurs in another
    * document. Reference point: suffix-array substring dedup
    * ("Deduplicating Training Data Makes Language Models Better"); the
    * shuffle-friendly equivalent is positional shingles + a
    * gaps-and-islands merge, which needs no global suffix structure:
    *   1. one row per (doc, position, shingle-hash) — linear in corpus
    *      tokens, the inherent cost of substring-level dedup;
    *   2. duplicated shingle = distinct-doc-frequency ≥ 2 (single
    *      two-phase distinct agg, map-side partial);
    *   3. semi-join positions to duplicated shingles (AQE broadcasts
    *      the duplicated set when small; falls back to a keyed shuffle
    *      join — never doc×doc, so no pair explosion);
    *   4. per-doc window merges overlapping/adjacent covered intervals
    *      (new island iff the gap leaves a token uncovered: p−prev > k).
    * Output: (doc_id, span_start, span_end, span_tokens), 1-based
    * inclusive token positions. */
  private val d10: Fn = (s, d) => duplicateSpans(docs(s, d), 8)

  /** The d10 engine over any (doc_id, text) frame; k = shingle width. */
  private[queries] def duplicateSpans(input: DataFrame, k: Int): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("p"))
    val positions = input
      .select(col("doc_id"), toks.as("w"))
      .filter(size(col("w")) >= k)
      .select(col("doc_id"),
        posexplode(transform(sequence(lit(1), size(col("w")) - (k - 1)),
          i => md5(array_join(slice(col("w"), i, lit(k)), " ")))))
      .select(col("doc_id"), (col("pos") + 1).as("p"), col("col").as("sh"))
    // duplicated shingle = appears in ≥2 distinct docs ⟺ min(doc)≠max(doc)
    // over the shingle partition: one window pass on the single tokenize
    // scan instead of a groupBy + self-join that would tokenize twice
    val wSh = org.apache.spark.sql.expressions.Window.partitionBy(col("sh"))
    positions
      .withColumn("dmin", min(col("doc_id")).over(wSh))
      .withColumn("dmax", max(col("doc_id")).over(wSh))
      .filter(col("dmin") =!= col("dmax"))
      .select(col("doc_id"), col("p"))
      .withColumn("newgrp",
        when(col("p") - lag("p", 1).over(w) <= k, 0).otherwise(1))
      .withColumn("grp", sum("newgrp").over(w))
      .groupBy(col("doc_id"), col("grp"))
      .agg(min(col("p")).as("s"), (max(col("p")) + (k - 1)).as("e"))
      .select(col("doc_id"),
        col("s").cast(LongType).as("span_start"),
        col("e").cast(LongType).as("span_end"),
        (col("e") - col("s") + 1).cast(LongType).as("span_tokens"))
      .orderBy("doc_id", "span_start")
  }
  private val d10Sql =
    """WITH sh AS (
      |  SELECT doc_id, i AS p,
      |         md5(array_to_string(list_slice(w, i, i + 7), ' ')) AS sh
      |  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents) d,
      |       unnest(generate_series(1, len(w) - 7)) AS g(i)
      |  WHERE len(w) >= 8
      |), dup AS (
      |  SELECT sh FROM sh GROUP BY sh HAVING count(DISTINCT doc_id) >= 2
      |), covered AS (
      |  SELECT s.doc_id, s.p,
      |         CASE WHEN s.p - lag(s.p) OVER (PARTITION BY s.doc_id ORDER BY s.p) <= 8
      |              THEN 0 ELSE 1 END AS newgrp
      |  FROM sh s JOIN dup USING (sh)
      |), isl AS (
      |  SELECT doc_id, p,
      |         sum(newgrp) OVER (PARTITION BY doc_id ORDER BY p) AS grp
      |  FROM covered
      |)
      |SELECT doc_id,
      |       CAST(min(p) AS BIGINT) AS span_start,
      |       CAST(max(p) + 7 AS BIGINT) AS span_end,
      |       CAST(max(p) + 7 - min(p) + 1 AS BIGINT) AS span_tokens
      |FROM isl GROUP BY doc_id, grp
      |ORDER BY doc_id, span_start""".stripMargin

  /** d13: asymmetric containment dedup — the near-dup class Jaccard
    * systematically under-scores: a short document wholly embedded in a
    * long one (quote farms, article + boilerplate wrapper, excerpt
    * pages) has high containment |A∩B| / min(|A|,|B|) but low Jaccard,
    * so a J-threshold pass keeps both copies. Same 5-gram shingle
    * space as d03; candidates come from the prefix-filter theorem
    * specialized to the min-normalizer: if C(A,B) ≥ t then the SMALLER
    * set's first n − ⌈t·n⌉ + 1 shingles (in any fixed total order —
    * here d03's rarest-first (df, h, s)) must intersect the larger set
    * *somewhere*, so the candidate join is small-side PREFIX × full
    * other side. Hot shingles sort last and drop out of prefixes, so
    * the skew blowup of a naive shingle self-join never forms; all
    * join keys are 8-byte hashes; prefix arithmetic is exact-integer
    * (⌈4n/5⌉ = (4n+4) div 5), and candidates are verified against the
    * full string arrays, so hash collisions only add candidates that
    * verification rejects. Oracle: the definitional all-pairs form. */
  /** d15: sorted-neighborhood near-dup (Hernández & Stolfo's SNM, with
    * the SimHash signature as the sort key): bucket by the signature's
    * top 16 bits, sort each bucket by (signature, doc_id), and compare
    * every doc only to its K=3 successors — candidates come from a SORT
    * plus a rank-offset equi-join instead of d05's band-bucket join.
    * Scale story: range-blocking + within-block sort is one shuffle with
    * NO quadratic bucket product at all (candidate count is exactly
    * K·n), the method of choice when signature buckets are degenerate;
    * the trade is windowing recall — near-dups whose signatures sort
    * >K apart (or straddle a bucket edge) are missed, which is why d05
    * remains the primary pass and d15 the bounded-cost complement.
    * Verification is the same popcount(xor) ≤ 8. */
  private val d15: Fn = (s, d) => {
    val K = 3
    val ranked = simhashSignatures(s, d)
      .withColumn("bucket", shiftright(col("simhash"), SimhashBits - 16))
      .withColumn("rk", row_number().over(
        Window.partitionBy("bucket").orderBy("simhash", "doc_id")))
    val a = ranked.select(col("bucket"), col("rk"), col("doc_id").as("da"), col("simhash").as("sa"))
      .withColumn("off", explode(array((1 to K).map(lit): _*)))
      .withColumn("rk2", col("rk") + col("off"))
    val b = ranked.select(col("bucket"), col("rk").as("rk2"),
      col("doc_id").as("db"), col("simhash").as("sb"))
    a.join(b, Seq("bucket", "rk2"))
      .withColumn("hamming", bit_count(col("sa").bitwiseXOR(col("sb"))).cast(IntegerType))
      .filter(col("hamming") <= 8)
      .select(least(col("da"), col("db")).as("d1"),
        greatest(col("da"), col("db")).as("d2"), col("hamming"))
      .orderBy("d1", "d2")
  }
  private val d15Sql =
    s"""WITH $simhashSigSql,
      |r AS (
      |  SELECT doc_id, simhash, simhash >> ${SimhashBits - 16} AS bucket,
      |         row_number() OVER (PARTITION BY simhash >> ${SimhashBits - 16}
      |                            ORDER BY simhash, doc_id) AS rk
      |  FROM sig)
      |SELECT least(a.doc_id, b.doc_id) AS d1,
      |       greatest(a.doc_id, b.doc_id) AS d2,
      |       CAST(bit_count(xor(a.simhash, b.simhash)) AS INTEGER) AS hamming
      |FROM r a JOIN r b
      |  ON a.bucket = b.bucket AND b.rk BETWEEN a.rk + 1 AND a.rk + 3
      |WHERE bit_count(xor(a.simhash, b.simhash)) <= 8
      |ORDER BY d1, d2""".stripMargin

  // Round-13 (guide §1.2-1/§6, the d04/d25 minhash_sigs precedent and
  // VERDICT r12 item 3): the df-ranked shingle relation is the whole
  // tokenize+shingle+df-window+per-doc-sort cost of d13, and the query
  // reads it FOUR times (prefix, full, and both verify joins). The
  // in-query persist served the branches within one plan but priced the
  // build into every d13 invocation and materialized ALL columns for
  // every branch; the parquet-backed pool builds it once per run as its
  // own priced `pool:containment_ranked` bench line, and each branch's
  // parquet scan prunes to the columns it needs (pre/full never read the
  // string array `arr` — only the verify tail does).
  private val d13: Fn = (s, d) =>
    containmentPairsFromRanked(containmentRankedPool(s, d))

  private[queries] def containmentRankedPool(s: SparkSession, d: String): DataFrame =
    SharedPools.materialized(s, d, "containment_ranked")(containmentRankedOf(docs(s, d)))

  /** d13's df-ranked per-doc shingle relation `(doc_id, arr, harr, n)`
    * over any `(doc_id, text)` relation. */
  private[graft] def containmentRankedOf(docsDf: DataFrame): DataFrame = {
    val dfWin = Window.partitionBy(col("h"))
    val ex = shingledOf(docsDf).select(col("doc_id"), explode(col("shingles")).as("s"))
      .withColumn("h", xxhash64(col("s")))
      .withColumn("df", count(lit(1)).over(dfWin))
    ex
      .groupBy("doc_id")
      .agg(array_sort(collect_list(struct(col("df"), col("h"), col("s")))).as("ss"))
      .select(col("doc_id"),
        transform(col("ss"), x => x.getField("s")).as("arr"),
        transform(col("ss"), x => x.getField("h")).as("harr"),
        size(col("ss")).as("n"))
  }

  /** d13 body over any `(doc_id, text)` relation — factored so specs can
    * plant exact containment cases and assert prefix-filter losslessness
    * on constructed corpora (spec path: in-memory persist, no pool). */
  private[queries] def containmentPairsOf(docsDf: DataFrame): DataFrame = {
    val ranked = containmentRankedOf(docsDf)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    ranked.count() // materialize before the branches race (d03's lesson)
    containmentPairsFromRanked(ranked)
  }

  private[queries] def containmentPairsFromRanked(ranked: DataFrame): DataFrame = {
    // prefix of the POTENTIALLY-SMALLER side: n − ⌈0.8·n⌉ + 1 entries
    val pre = ranked.select(col("doc_id"), col("n"),
      explode(slice(col("harr"), lit(1),
        (col("n") - floor((col("n") * 4 + 4) / 5) + 1).cast(IntegerType))).as("h"))
    val full = ranked.select(col("doc_id"), col("n"), explode(col("harr")).as("h"))
    val cand = pre.as("a").join(full.as("b"),
        col("a.h") === col("b.h") &&
          (col("a.n") < col("b.n") ||
            (col("a.n") === col("b.n") && col("a.doc_id") =!= col("b.doc_id"))))
      .select(least(col("a.doc_id"), col("b.doc_id")).as("d1"),
        greatest(col("a.doc_id"), col("b.doc_id")).as("d2"))
      .distinct()
    cand
      .join(ranked.select(col("doc_id").as("d1"), col("arr").as("arr1"), col("n").as("n1")), "d1")
      .join(ranked.select(col("doc_id").as("d2"), col("arr").as("arr2"), col("n").as("n2")), "d2")
      .withColumn("inter", size(array_intersect(col("arr1"), col("arr2"))))
      .withColumn("containment",
        round(col("inter").cast(DoubleType) / least(col("n1"), col("n2")).cast(DoubleType), 6))
      .filter(col("containment") >= 0.8)
      .select("d1", "d2", "n1", "n2", "containment")
      .orderBy("d1", "d2")
  }
  private val d13Sql =
    """WITH sh AS (
      |  SELECT doc_id,
      |         unnest(list_distinct(list_transform(range(1, len(w) - 3),
      |                i -> array_to_string(w[i:i+4], ' ')))) AS s
      |  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents)
      |  WHERE len(w) >= 5),
      |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
      |inter AS (
      |  SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS inter
      |  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2)
      |SELECT d1, d2, n1, n2,
      |       round(CAST(inter AS DOUBLE) / CAST(least(n1, n2) AS DOUBLE), 6) AS containment
      |FROM (SELECT i.d1, i.d2, i.inter, s1.n AS n1, s2.n AS n2
      |      FROM inter i JOIN sizes s1 ON i.d1 = s1.doc_id JOIN sizes s2 ON i.d2 = s2.doc_id) t
      |WHERE round(CAST(inter AS DOUBLE) / CAST(least(n1, n2) AS DOUBLE), 6) >= 0.8
      |ORDER BY d1, d2""".stripMargin

  // ------------------- d19 LSH parameter sweep --------------------------

  /** d19: LSH parameter-sweep harness — precision/recall of the
    * MinHash banding against the exact-Jaccard ground truth for every
    * (bands × rows) split of the 64-perm signature: the tuning table a
    * dedup deployment reads before fixing its banding (more rows per
    * band = higher precision / lower recall; the shipped d04 point is
    * (32, 2)). The s11-recall-harness idea applied to the dedup family:
    * every config's candidates come from the SAME registered signature
    * kernel, so the table grades exactly what would ship.
    *
    * Bucket identity per config is the ordered row-value tuple encoded
    * as a comma-joined string — equality is all LSH needs, and string
    * equality is engine-portable where a 4-value integer encoding would
    * overflow. Candidates are [[capBuckets]]-capped like d04, so no
    * config can quadratic-blow a hot bucket at scale; true positives
    * are a keyed join against the d03 prefix-filtered truth (computed
    * once, reused by all configs). Counts exact BIGINT; the two ratios
    * are guarded one-rounding divisions. */
  /** d19's finished sweep table through [[SharedPools]] (r8 verdict
    * item 6): the sweep re-ran per consumer — d19 itself plus s30's
    * index advisor, which composes it — so the full three-config
    * LSH candidate/tp/count pipeline executed twice per bench pass.
    * The result is a 3-row (config, quality, cost) table: exactly the
    * stage-boundary artifact a production auto-tuner persists between
    * "measure the dials" and "pick the operating point". Exact longs +
    * 6dp-rounded doubles (parquet round-trips IEEE doubles bitwise). */
  private[queries] def minhashSigPool(s: SparkSession, d: String): DataFrame =
    SharedPools.materialized(s, d, "minhash_sigs")(minhashSignatures(s, d))

  private[queries] def lshSweepPool(s: SparkSession, d: String): DataFrame =
    SharedPools.materialized(s, d, "lsh_sweep")(d19Built(s, d))

  private val d19: Fn = (s, d) => lshSweepPool(s, d).orderBy(desc("bands"))

  private[queries] def d19Built(s: SparkSession, d: String): DataFrame = {
    // both shared subtrees ride parquet-backed pools, NOT lazy persists:
    // the closing union evaluates all three configs' candidate/tp/count
    // branches in ONE job, and racing branches blow straight past an
    // unfilled cache re-running the signature kernel per branch
    // (measured: 60.9 s with persist → 5.1 s pooled at sf0.1)
    val sigs = minhashSigPool(s, d)
    val truth = jaccardPool(s, d).select(col("d1"), col("d2"))
    val configs = Seq((32, 2), (16, 4), (8, 8))
    configs.map { case (nb, nr) =>
      val bands = sigs.select(col("doc_id"), posexplode(array((0 until nb).map { b =>
          concat_ws(",", (0 until nr).map(r => col("sig")(b * nr + r)): _*)
        }: _*)).as(Seq("band", "bucket")))
      val capped = capBuckets(bands, Seq("band", "bucket"))
      val cand = capped.as("a").join(capped.as("b"),
          col("a.band") === col("b.band") && col("a.bucket") === col("b.bucket") &&
            col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("d1"), col("b.doc_id").as("d2")).distinct()
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      cand.agg(count(lit(1)).as("n_cand"))
        .crossJoin(broadcast(cand.join(truth, Seq("d1", "d2")).agg(count(lit(1)).as("tp"))))
        .crossJoin(broadcast(truth.agg(count(lit(1)).as("n_truth"))))
        .select(lit(nb.toLong).as("bands"), lit(nr.toLong).as("rows_per_band"),
          col("n_cand"), col("tp"), col("n_truth"),
          when(col("n_cand") > 0,
            round(col("tp").cast(DoubleType) / col("n_cand").cast(DoubleType), 6)).as("precision"),
          when(col("n_truth") > 0,
            round(col("tp").cast(DoubleType) / col("n_truth").cast(DoubleType), 6)).as("recall"))
    }.reduce(_.unionByName(_)).orderBy(desc("bands"))
  }
  private val d19Sql = {
    val configs = Seq((32, 2), (16, 4), (8, 8))
    val per = configs.map { case (nb, nr) =>
      s"""bands_$nb AS (
         |  SELECT doc_id, CAST(j // $nr AS INTEGER) AS band,
         |         string_agg(CAST(sv AS VARCHAR), ',' ORDER BY j) AS bucket
         |  FROM sig GROUP BY 1, 2),
         |cap_$nb AS (
         |  SELECT doc_id, band, bucket FROM (
         |    SELECT doc_id, band, bucket,
         |           row_number() OVER (PARTITION BY band, bucket ORDER BY doc_id) AS rn
         |    FROM bands_$nb) t WHERE rn <= $MaxBucket),
         |cand_$nb AS (
         |  SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
         |  FROM cap_$nb a JOIN cap_$nb b
         |    ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id),
         |m_$nb AS (
         |  SELECT CAST($nb AS BIGINT) AS bands, CAST($nr AS BIGINT) AS rows_per_band,
         |         (SELECT CAST(count(*) AS BIGINT) FROM cand_$nb) AS n_cand,
         |         (SELECT CAST(count(*) AS BIGINT) FROM cand_$nb c
         |            JOIN truth t ON c.d1 = t.d1 AND c.d2 = t.d2) AS tp,
         |         (SELECT CAST(count(*) AS BIGINT) FROM truth) AS n_truth)""".stripMargin
    }
    s"""WITH $lshCoreSql,
       |truth AS (SELECT d1, d2 FROM ($d03Sql) t),
       |${per.mkString(",\n")}
       |SELECT bands, rows_per_band, n_cand, tp, n_truth,
       |       CASE WHEN n_cand > 0 THEN round(CAST(tp AS DOUBLE) / CAST(n_cand AS DOUBLE), 6) END AS precision,
       |       CASE WHEN n_truth > 0 THEN round(CAST(tp AS DOUBLE) / CAST(n_truth AS DOUBLE), 6) END AS recall
       |FROM (SELECT * FROM m_32 UNION ALL SELECT * FROM m_16 UNION ALL SELECT * FROM m_8) u
       |ORDER BY bands DESC""".stripMargin
  }

  // ------------------- d18 cross-source duplication matrix -------------

  /** d18: cross-source near-duplicate contamination matrix — the d04
    * LSH pair relation rolled up to (source, source) grain and
    * normalized by the possible-pair count: the number a mixture
    * curator reads to decide which source pairs share content (mirror
    * sites, scraped re-posts) before weighting them independently.
    * COMPOSES the registered d04 plan itself (the s11/s19 composition
    * precedent), so the matrix grades exactly the pair set the dedup
    * stage acts on.
    *
    * Shape: the pair relation is already blocked/capped by d04 (never
    * n²); two broadcastable doc_id→source joins, one (src,src)-keyed
    * aggregation, and a broadcast per-source count join. possible_pairs
    * is exact integer algebra (n_a·n_b cross-source, n·(n−1)/2 within);
    * the rate is one double division rounded once. */
  private val d18: Fn = (s, d) => {
    val src = docs(s, d).select(col("doc_id"), col("source"))
    val pairs = d04(s, d)
      .join(src.select(col("doc_id").as("d1"), col("source").as("src1")), "d1")
      .join(src.select(col("doc_id").as("d2"), col("source").as("src2")), "d2")
      .select(least(col("src1"), col("src2")).as("source_a"),
        greatest(col("src1"), col("src2")).as("source_b"))
      .groupBy("source_a", "source_b").agg(count(lit(1)).as("n_pairs"))
    val nd = docs(s, d).groupBy("source").agg(count(lit(1)).as("n"))
    pairs
      .join(broadcast(nd.select(col("source").as("source_a"), col("n").as("na"))), "source_a")
      .join(broadcast(nd.select(col("source").as("source_b"), col("n").as("nb"))), "source_b")
      .withColumn("possible_pairs",
        when(col("source_a") === col("source_b"), col("na") * (col("na") - 1) / 2)
          .otherwise(col("na") * col("nb")).cast(LongType))
      .select(col("source_a"), col("source_b"), col("n_pairs"), col("possible_pairs"),
        round(col("n_pairs").cast(DoubleType) / col("possible_pairs").cast(DoubleType), 9)
          .as("dup_rate"))
      .orderBy("source_a", "source_b")
  }
  private val d18Sql =
    s"""WITH d04 AS ($d04Sql),
       |src AS (SELECT doc_id, source FROM documents),
       |pairs AS (
       |  SELECT least(s1.source, s2.source) AS source_a,
       |         greatest(s1.source, s2.source) AS source_b,
       |         count(*) AS n_pairs
       |  FROM d04 p JOIN src s1 ON p.d1 = s1.doc_id JOIN src s2 ON p.d2 = s2.doc_id
       |  GROUP BY 1, 2),
       |nd AS (SELECT source, count(*) AS n FROM documents GROUP BY 1)
       |SELECT source_a, source_b, n_pairs,
       |       CAST(CASE WHEN source_a = source_b THEN a.n * (a.n - 1) // 2
       |                 ELSE a.n * b.n END AS BIGINT) AS possible_pairs,
       |       round(CAST(n_pairs AS DOUBLE) /
       |             CAST(CASE WHEN source_a = source_b THEN a.n * (a.n - 1) // 2
       |                       ELSE a.n * b.n END AS DOUBLE), 9) AS dup_rate
       |FROM pairs JOIN nd a ON pairs.source_a = a.source
       |           JOIN nd b ON pairs.source_b = b.source
       |ORDER BY source_a, source_b""".stripMargin

  // ---------------------- p22 dedup-savings economics report -----------

  /** p22: deduplication-savings report — what acting on the d08 cluster
    * map would actually buy, per source: docs and bytes removed when
    * each near-dup cluster keeps only its exemplar (the cluster label,
    * which label propagation makes the minimum doc_id). The
    * cost/benefit readout a curator checks before scheduling the dedup
    * pass at corpus scale. COMPOSES the registered d08 plan (s11/s19/
    * d18 precedent) and re-derives members by exploding its published
    * member list — so the savings grade exactly the clusters that ship.
    *
    * Shape: the cluster relation is tiny (pairs survive d03's blocking
    * + 0.4 floor); exploding members and joining doc sizes is
    * cluster-sized work, and the corpus-side totals are one keyed
    * count/sum aggregation. All counts/bytes exact BIGINT; the byte
    * share is one rounded division. */
  private val p22: Fn = (s, d) => {
    val members = clusterPool(s, d)
      .select(col("cluster"), explode(split(col("members"), ",")).as("m"))
      .select(col("cluster"), col("m").cast(LongType).as("doc_id"))
    val removed = members.filter(col("doc_id") =!= col("cluster"))
      .join(docs(s, d).select(col("doc_id"), col("source"), col("n_chars")), "doc_id")
      .groupBy("source")
      .agg(count(lit(1)).as("n_removed"), sum(col("n_chars")).as("bytes_removed"))
    val totals = docs(s, d).groupBy("source")
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("bytes_total"))
    totals.join(removed, Seq("source"), "left")
      .select(col("source"), col("n_docs"), col("bytes_total"),
        coalesce(col("n_removed"), lit(0L)).as("n_removed"),
        coalesce(col("bytes_removed"), lit(0L)).as("bytes_removed"),
        round(coalesce(col("bytes_removed"), lit(0L)).cast(DoubleType)
          / col("bytes_total").cast(DoubleType), 6).as("byte_share"))
      .orderBy("source")
  }
  private val p22Sql =
    s"""WITH d08 AS (${d08Sql}),
       |members AS (
       |  SELECT cluster, CAST(unnest(string_split(members, ',')) AS BIGINT) AS doc_id
       |  FROM d08),
       |removed AS (
       |  SELECT dd.source, count(*) AS n_removed,
       |         CAST(sum(dd.n_chars) AS BIGINT) AS bytes_removed
       |  FROM members m JOIN documents dd ON m.doc_id = dd.doc_id
       |  WHERE m.doc_id <> m.cluster
       |  GROUP BY 1),
       |totals AS (
       |  SELECT source, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS bytes_total
       |  FROM documents GROUP BY 1)
       |SELECT t.source, t.n_docs, t.bytes_total,
       |       coalesce(r.n_removed, 0) AS n_removed,
       |       coalesce(r.bytes_removed, 0) AS bytes_removed,
       |       round(CAST(coalesce(r.bytes_removed, 0) AS DOUBLE) / CAST(t.bytes_total AS DOUBLE), 6) AS byte_share
       |FROM totals t LEFT JOIN removed r ON t.source = r.source
       |ORDER BY t.source""".stripMargin

  // --------------------- p30 group-aware CV fold assignment ------------

  /** Cross-validation fold count. */
  val FoldK = 5

  /** p30: group-aware cross-validation folds — fold assignment keyed by
    * the d08 near-dup CLUSTER (singletons key by themselves), so a
    * document and its near-copies can never straddle a train/eval
    * fold. u08/u09 AUDIT leakage after the fact; p30 is the assignment
    * that makes it impossible by construction (sklearn's GroupKFold,
    * done relationally) — and the output carries the receipts: the
    * grouped assignment's spanning-cluster count (0, the guarantee)
    * next to the naive per-doc assignment's (how many clusters a
    * doc-keyed split WOULD have torn across folds). Composes the
    * registered cluster pool (p22/d24 precedent).
    *
    * Exactness: folds are the portable md5-bucket discipline (p01);
    * spanning counts are exact distinct aggregation.
    * Scale shape: one left join of the corpus against the
    * cluster-member relation, map-side fold assignment, two bounded
    * aggregates. */
  private val p30: Fn = (s, d) => {
    val member = clusterPool(s, d)
      .select(col("cluster"), explode(split(col("members"), ",")).as("m"))
      .select(col("cluster"), col("m").cast(LongType).as("doc_id"))
    val grouped = docs(s, d).select(col("doc_id"))
      .join(member, Seq("doc_id"), "left")
      .withColumn("grp", coalesce(col("cluster"), col("doc_id")))
      .withColumn("fold", graft.functions.DetHash.mdBucket(col("grp"), "fold:", FoldK))
      .withColumn("naive_fold",
        graft.functions.DetHash.mdBucket(col("doc_id"), "fold:", FoldK))
    val span = grouped.filter(col("cluster").isNotNull)
      .groupBy("cluster")
      .agg(countDistinct(col("fold")).as("nf"), countDistinct(col("naive_fold")).as("nnf"))
      .agg(coalesce(sum(when(col("nf") > 1, 1L).otherwise(0L)), lit(0L))
          .cast(LongType).as("grouped_spanning"),
        coalesce(sum(when(col("nnf") > 1, 1L).otherwise(0L)), lit(0L))
          .cast(LongType).as("naive_spanning"))
    grouped.groupBy("fold")
      .agg(count(lit(1)).as("n_docs"), countDistinct(col("grp")).as("n_groups"))
      .crossJoin(broadcast(span))
      .orderBy("fold")
  }

  private def p30Sql: String =
    s"""WITH RECURSIVE $closureCtes,
       |cl AS (SELECT id AS doc_id, cluster FROM comp),
       |base AS (
       |  SELECT d.doc_id, c.cluster, COALESCE(c.cluster, d.doc_id) AS grp
       |  FROM documents d LEFT JOIN cl c ON d.doc_id = c.doc_id),
       |folded AS (
       |  SELECT *,
       |         ${graft.functions.DetHash.mdBucketSql("grp", "fold:", FoldK)} AS fold,
       |         ${graft.functions.DetHash.mdBucketSql("doc_id", "fold:", FoldK)} AS naive_fold
       |  FROM base),
       |span AS (
       |  SELECT CAST(COALESCE(sum(CASE WHEN nf > 1 THEN 1 ELSE 0 END), 0) AS BIGINT)
       |           AS grouped_spanning,
       |         CAST(COALESCE(sum(CASE WHEN nnf > 1 THEN 1 ELSE 0 END), 0) AS BIGINT)
       |           AS naive_spanning
       |  FROM (SELECT cluster, count(DISTINCT fold) AS nf,
       |               count(DISTINCT naive_fold) AS nnf
       |        FROM folded WHERE cluster IS NOT NULL GROUP BY 1) t)
       |SELECT f.fold, count(*) AS n_docs,
       |       CAST(count(DISTINCT f.grp) AS BIGINT) AS n_groups,
       |       s.grouped_spanning, s.naive_spanning
       |FROM folded f CROSS JOIN span s
       |GROUP BY f.fold, s.grouped_spanning, s.naive_spanning
       |ORDER BY f.fold""".stripMargin

  // --------------------- d25 b-bit minhash estimate grading ------------

  /** d25: b-bit MinHash (Li & König 2010, b = 1) graded against exact
    * Jaccard — each 64-perm signature compresses 64× by keeping ONE bit
    * per permutation (sv mod 2), and similarity is estimated from the
    * bit-agreement rate: for b=1, E[agree/k] = J + (1−J)/2, so
    * Ĵ = 2·(agree/k) − 1 (clamped at 0). This is the storage/bandwidth
    * trick production dedup fleets run when the signature table itself
    * is the bottleneck (64 bits/doc instead of 512 bytes/doc); the
    * query grades the estimator on the REGISTERED d04 candidate pairs
    * — which span the similarity range — so the error profile
    * describes exactly the pipeline that would ship.
    *
    * Exactness: bits pack into two exact 32-bit halves (a single
    * 64-term pack would need bit 63 — signed-overflow territory in
    * both engines); agreement is integer popcount algebra; exact
    * Jaccard is the d03/d04 set arithmetic; the estimate and error are
    * one rounded expression each from integers.
    * Scale shape: the signature table is ONE map pass over the
    * registered signatures; candidates are the capped d04 bucket join;
    * everything downstream is pair-relation-sized. */
  private val d25: Fn = (s, d) => {
    // Round 12: every signature consumer (cand's a/b band branches +
    // the bit-pack) reads the parquet-backed [[minhashSigPool]] — the
    // round-11 plan re-ran the shingle+minhash subtree THREE times for
    // them (plus the verify tail's shingle passes), the most expensive
    // map work in the query and the bulk of d25's 135 s / 50.4× ratio
    // at the 100× probe. Pools, not lazy persists (the d19 lesson:
    // racing branches blow past an unfilled cache).
    val sigs = minhashSigPool(s, d)
    val bands = capBuckets(bandsOfSig(sigs), Seq("band", "bucket"))
    val a = bands.as("a"); val b = bands.as("b")
    val cand = a.join(b,
        col("a.band") === col("b.band") && col("a.bucket") === col("b.bucket") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("d1"), col("b.doc_id").as("d2")).distinct()
    def half(lo: Int): org.apache.spark.sql.Column =
      (lo until lo + 32).map(j => (col("sig")(j) % 2) * (1L << (j - lo))).reduce(_ + _)
        .cast(LongType)
    val bits = sigs
      .select(col("doc_id"), half(0).as("bv0"), half(32).as("bv1"))
    val sh = shingled(s, d)
    cand
      .join(bits.select(col("doc_id").as("d1"), col("bv0").as("a0"), col("bv1").as("a1")), "d1")
      .join(bits.select(col("doc_id").as("d2"), col("bv0").as("c0"), col("bv1").as("c1")), "d2")
      .join(sh.select(col("doc_id").as("d1"), col("shingles").as("s1")), "d1")
      .join(sh.select(col("doc_id").as("d2"), col("shingles").as("s2")), "d2")
      .withColumn("agree", (lit(MinhashPerms.toLong) -
        bit_count(col("a0").bitwiseXOR(col("c0"))) -
        bit_count(col("a1").bitwiseXOR(col("c1")))).cast(LongType))
      .withColumn("inter", size(array_intersect(col("s1"), col("s2"))).cast(DoubleType))
      .withColumn("jaccard",
        round(col("inter") / (size(col("s1")) + size(col("s2")) - col("inter")).cast(DoubleType), 6))
      .withColumn("est", round(greatest(lit(0.0),
        col("agree").cast(DoubleType) * 2.0 / MinhashPerms - 1.0), 4))
      .withColumn("abs_err", round(abs(col("est") - col("jaccard")), 6))
      .select("d1", "d2", "jaccard", "agree", "est", "abs_err")
      .orderBy("d1", "d2")
  }

  private def d25Sql: String =
    s"""WITH ${lshCoreSql},
       |bits AS (
       |  SELECT doc_id,
       |         CAST(sum(CASE WHEN j < 32 THEN (sv % 2) * (1::BIGINT << j) ELSE 0 END) AS BIGINT) AS bv0,
       |         CAST(sum(CASE WHEN j >= 32 THEN (sv % 2) * (1::BIGINT << (j - 32)) ELSE 0 END) AS BIGINT) AS bv1
       |  FROM sig GROUP BY doc_id),
       |capped AS (
       |  SELECT doc_id, band, bucket FROM (
       |    SELECT doc_id, band, bucket,
       |           row_number() OVER (PARTITION BY band, bucket ORDER BY doc_id) AS rn
       |    FROM bands) t WHERE rn <= $MaxBucket),
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
       |  FROM capped a JOIN capped b
       |    ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id),
       |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
       |inter AS (
       |  -- LEFT join, unlike the shared verify tail: a bucket collision
       |  -- with ZERO shared shingles must still be graded (jaccard 0),
       |  -- not silently dropped from the estimator's low-J regime
       |  SELECT c.d1, c.d2, count(s2.s) AS inter
       |  FROM cand c JOIN sh s1 ON s1.doc_id = c.d1
       |              LEFT JOIN sh s2 ON s2.doc_id = c.d2 AND s2.s = s1.s
       |  GROUP BY 1, 2),
       |scored AS (
       |  SELECT i.d1, i.d2,
       |         round(CAST(i.inter AS DOUBLE) / (s1.n + s2.n - i.inter), 6) AS jaccard,
       |         CAST($MinhashPerms - bit_count(xor(x.bv0, y.bv0))
       |                            - bit_count(xor(x.bv1, y.bv1)) AS BIGINT) AS agree
       |  FROM inter i
       |  JOIN sizes s1 ON s1.doc_id = i.d1 JOIN sizes s2 ON s2.doc_id = i.d2
       |  JOIN bits x ON x.doc_id = i.d1 JOIN bits y ON y.doc_id = i.d2)
       |SELECT d1, d2, jaccard, agree,
       |       round(greatest(0.0, CAST(agree AS DOUBLE) * 2.0 / $MinhashPerms - 1.0), 4) AS est,
       |       round(abs(round(greatest(0.0, CAST(agree AS DOUBLE) * 2.0 / $MinhashPerms - 1.0), 4)
       |                 - jaccard), 6) AS abs_err
       |FROM scored
       |ORDER BY d1, d2""".stripMargin

  // --------------------- d20: RETIRED, never assigned ------------------
  // The id jumped d19 → d21 in round 7; d20 was not reserved for
  // anything (no SURVEY row, no spec). Retired to keep the registry's
  // numbering audit trail airtight rather than renumbering d21+.

  // --------------------- d21 winnowing fingerprints --------------------

  val WinnowK = 8 // character k-gram width
  val WinnowW = 4 // winnowing window (guarantee: any match ≥ K+W−1 chars shares a fingerprint)

  /** d21: winnowing document fingerprints + shared-fingerprint pairs —
    * the MOSS algorithm (Schleimer, Wilkerson & Aiken, SIGMOD 2003):
    * hash every [[WinnowK]]-char gram, slide a [[WinnowW]]-window over
    * the hash sequence, keep each window's RIGHTMOST minimum. The
    * selected set is position-local (a shared substring of length ≥
    * K+W−1 is guaranteed to share a fingerprint) yet ~2/(W+1) the
    * density of all-grams — the copy-detection fingerprint family
    * between t09's single rolling hash and d10's exact span recovery.
    * Output: document pairs sharing ≥ 2 selected fingerprints.
    *
    * Determinism/oracle: gram hashes are the portable 28-bit md5-prefix
    * base ([[graft.functions.PortableHash]]); the rightmost-min rule is
    * a (hash ASC, position DESC) selection — no RNG, no float.
    * Plan (round-12 rewrite): the whole selection is the fused
    * codegen'd [[graft.expressions.WinnowFingerprints]] kernel — one
    * native pass per document hashes every gram (28-bit md5 prefix
    * over the exact UTF-8 bytes `md5(substring(text,p,k))` would hash,
    * char offsets precomputed once), slides the W-window min over the
    * packed `(h << 32) | (2³²−1−p)` keys (hash majorizes; complemented
    * position prefers the RIGHTMOST gram on ties) and emits the
    * per-doc DISTINCT fingerprints. No positional explode, no
    * doc-keyed window shuffle, no cross-doc DISTINCT exchange (the key
    * is (doc, h) and docs never split): the round-9 window form
    * shuffled every gram row twice (window + DISTINCT,
    * corpus-chars-sized exchanges) and paid interpreted per-element
    * lambda costs for the hashing (the SignatureKernels §4 rationale).
    * Bit-equality with the built-in window formulation is asserted in
    * SignatureExpressionsSpec. The ORACLE keeps the j-explode SQL form
    * (DuckDB replays it comfortably), which doubles as an independent
    * derivation of the same selection — the hash gate proves the two
    * formulations agree on every fingerprint.
    * Scale shape: per-doc gram arrays (linear in corpus chars, the
    * d10 cost class), all selection map-local, fingerprint buckets
    * capped at [[MaxBucket]] lowest doc_ids before pair generation (the
    * d03/m10 bound) so a boilerplate fingerprint cannot go quadratic. */
  private val d21: Fn = (s, d) => {
    val k = WinnowK; val w = WinnowW
    val base = docs(s, d).select(col("doc_id"), col("text"))
      .filter(length(col("text")) >= k + w - 1)
    val selected = base
      .select(col("doc_id"),
        explode(graft.functions.SignatureOps.winnow(col("text"), k, w)).as("h"))
    val capped = capBuckets(selected, Seq("h"))
    capped.as("a").join(capped.as("b"),
        col("a.h") === col("b.h") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= 2)
      .orderBy("d1", "d2")
  }
  private val d21Sql =
    s"""WITH base AS (
       |  SELECT doc_id, text, CAST(length(text) - ${WinnowK - 1} AS BIGINT) AS np
       |  FROM documents WHERE length(text) >= ${WinnowK + WinnowW - 1}),
       |pos AS (
       |  SELECT doc_id, text, np, unnest(range(1, np + 1)) AS p FROM base),
       |g AS (
       |  SELECT doc_id, np, CAST(p AS BIGINT) AS p,
       |         ${md5PrefixSql(s"substring(text, CAST(p AS INTEGER), $WinnowK)", 7)} AS h
       |  FROM pos),
       |wins AS (
       |  SELECT doc_id, np, p, h, p - j.j AS win
       |  FROM g CROSS JOIN (SELECT unnest(range(0, $WinnowW)) AS j) j
       |  WHERE p - j.j >= 1 AND p - j.j <= np - ${WinnowW - 1}),
       |selected AS (
       |  SELECT DISTINCT doc_id, h FROM (
       |    SELECT doc_id, h,
       |           row_number() OVER (PARTITION BY doc_id, win ORDER BY h, p DESC) AS rk
       |    FROM wins) t WHERE rk = 1),
       |capped AS (
       |  SELECT doc_id, h FROM (
       |    SELECT doc_id, h, row_number() OVER (PARTITION BY h ORDER BY doc_id) AS rn
       |    FROM selected) t WHERE rn <= $MaxBucket)
       |SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS n_shared
       |FROM capped a JOIN capped b ON a.h = b.h AND a.doc_id < b.doc_id
       |GROUP BY 1, 2 HAVING count(*) >= 2
       |ORDER BY d1, d2""".stripMargin

  // --------------------- d22 Bloom-filter membership gate --------------

  val BloomBits = 65536L
  val BloomHashes = 3
  val BloomProbes = 50

  /** d22: Bloom-filter membership gate — build one deterministic Bloom
    * filter per source over exact document text (k = [[BloomHashes]]
    * md5-derived bit positions in an m = [[BloomBits]] space) and test a
    * fixed probe set (the [[BloomProbes]] lowest doc_ids, plus the same
    * texts perturbed into guaranteed NON-members) against every OTHER
    * source's filter. The approximate-membership primitive an ingest
    * pipeline uses to gate "have we already got this exact doc?"
    * before paying a full dedup pass — the set-membership cousin of the
    * r28/r47/r52 sketch family, and the manual form of the runtime
    * Bloom pre-filters Spark itself injects into joins.
    *
    * Exactness: bit positions are portable md5-prefix hashes mod m —
    * identical integers in both engines, so the filter's DECISIONS
    * (not just its error rate) are bit-reproducible; the exact-match
    * join grades every decision (a Bloom "no" is never wrong — the
    * spec asserts zero false negatives, the defining guarantee).
    * Scale shape: the filter relation is the distinct (source, bit) set
    * — ≤ m rows per source regardless of corpus size (at 100 TB this is
    * the bitmap an `Aggregator` would pack into m/8 bytes; the relation
    * form keeps it oracled) — and the probe evaluation is a
    * (source × probe)-keyed count against it. */
  private val d22: Fn = (s, d) => {
    def bitsOf(df: DataFrame): DataFrame = (1 to BloomHashes).map(i =>
      df.withColumn("bit", md5Prefix(concat(lit(s"$i:"), col("text")), 8) % BloomBits))
      .reduce(_ unionByName _)
    val corpus = docs(s, d).select(col("doc_id"), col("source"), col("text"))
    val filters = bitsOf(corpus).select(col("source"), col("bit")).distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val members = corpus.filter(col("doc_id") < BloomProbes)
      .select(col("doc_id").as("probe_id"), col("text"))
    val probes = members.unionByName(
      members.select((col("probe_id") + lit(1000000L)).as("probe_id"),
        concat(col("text"), lit("§")).as("text")))
    val sources = corpus.select("source").distinct()
    val probeBits = bitsOf(probes).select(col("probe_id"), col("bit"))
    val decisions = probeBits.crossJoin(broadcast(sources))
      .join(filters.withColumnRenamed("bit", "fbit").withColumnRenamed("source", "fsource"),
        col("source") === col("fsource") && col("bit") === col("fbit"), "left")
      .groupBy("probe_id", "source")
      .agg((count(col("fbit")) === BloomHashes).as("flagged"))
    val truth = probes.join(corpus.select(col("source").as("tsource"), col("text")), "text")
      .select(col("probe_id").as("tprobe"), col("tsource")).distinct()
    decisions.join(truth,
        col("probe_id") === col("tprobe") && col("source") === col("tsource"), "left")
      .select(col("source"), col("flagged"), col("tsource").isNotNull.as("is_member"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_tests"),
        sum(when(col("is_member"), 1L).otherwise(0L)).cast(LongType).as("n_members"),
        sum(when(col("flagged"), 1L).otherwise(0L)).cast(LongType).as("n_flagged"),
        sum(when(col("flagged") && !col("is_member"), 1L).otherwise(0L))
          .cast(LongType).as("n_false_pos"),
        sum(when(!col("flagged") && col("is_member"), 1L).otherwise(0L))
          .cast(LongType).as("n_false_neg"))
      .withColumn("fpr", round(col("n_false_pos").cast(DoubleType)
        / (col("n_tests") - col("n_members")).cast(DoubleType), 4))
      .orderBy("source")
  }
  private val d22Sql =
    s"""WITH corpus AS (SELECT doc_id, source, text FROM documents),
       |hs AS (SELECT unnest(range(1, ${BloomHashes + 1})) AS i),
       |filters AS (
       |  SELECT DISTINCT source,
       |         ${md5PrefixSql("concat(i, ':', text)", 8)} % $BloomBits AS bit
       |  FROM corpus CROSS JOIN hs),
       |members AS (SELECT doc_id AS probe_id, text FROM corpus WHERE doc_id < $BloomProbes),
       |probes AS (
       |  SELECT probe_id, text FROM members
       |  UNION ALL
       |  SELECT probe_id + 1000000, text || chr(167) FROM members),
       |sources AS (SELECT DISTINCT source FROM corpus),
       |probe_bits AS (
       |  SELECT probe_id,
       |         ${md5PrefixSql("concat(i, ':', text)", 8)} % $BloomBits AS bit
       |  FROM probes CROSS JOIN hs),
       |decisions AS (
       |  SELECT pb.probe_id, s.source, count(f.bit) = $BloomHashes AS flagged
       |  FROM probe_bits pb CROSS JOIN sources s
       |  LEFT JOIN filters f ON f.source = s.source AND f.bit = pb.bit
       |  GROUP BY 1, 2),
       |truth AS (
       |  SELECT DISTINCT p.probe_id, c.source FROM probes p JOIN corpus c ON p.text = c.text),
       |graded AS (
       |  SELECT d.source, d.flagged, t.probe_id IS NOT NULL AS is_member
       |  FROM decisions d LEFT JOIN truth t
       |    ON d.probe_id = t.probe_id AND d.source = t.source)
       |SELECT source, CAST(count(*) AS BIGINT) AS n_tests,
       |       CAST(sum(CASE WHEN is_member THEN 1 ELSE 0 END) AS BIGINT) AS n_members,
       |       CAST(sum(CASE WHEN flagged THEN 1 ELSE 0 END) AS BIGINT) AS n_flagged,
       |       CAST(sum(CASE WHEN flagged AND NOT is_member THEN 1 ELSE 0 END) AS BIGINT) AS n_false_pos,
       |       CAST(sum(CASE WHEN NOT flagged AND is_member THEN 1 ELSE 0 END) AS BIGINT) AS n_false_neg,
       |       round(CAST(sum(CASE WHEN flagged AND NOT is_member THEN 1 ELSE 0 END) AS DOUBLE)
       |             / CAST(count(*) - sum(CASE WHEN is_member THEN 1 ELSE 0 END) AS DOUBLE), 4) AS fpr
       |FROM graded GROUP BY source ORDER BY source""".stripMargin

  val all: Seq[Q] = Seq(
    Q("d22_bloom_gate", d22, Some(d22Sql)),
    Q("d21_winnowing", d21, Some(d21Sql)),
    Q("d25_bbit_minhash", d25, Some(d25Sql)),
    Q("p22_dedup_savings", p22, Some(p22Sql)),
    Q("p30_group_folds", p30, Some(p30Sql)),
    Q("d19_lsh_sweep", d19, Some(d19Sql)),
    Q("d18_crosssource_matrix", d18, Some(d18Sql)),
    Q("d13_containment_dedup", d13, Some(d13Sql)),
    Q("d15_sorted_neighbors", d15, Some(d15Sql)),
    Q("d10_duplicate_spans", d10, Some(d10Sql)),
    Q("d01_exact_dedup", d01, Some(d01Sql)),
    Q("d02_bow_dedup", d02, Some(d02Sql)),
    Q("d03_ngram_jaccard", d03, Some(d03Sql)),
    Q("d04_minhash_lsh", d04, Some(d04Sql)),
    Q("d05_simhash", d05, Some(d05Sql)),
    Q("d12_incremental_lsh", d12, Some(d12Sql)),
    Q("u09_neardup_leakage", u09, Some(u09Sql)),
    Q("d06_embedding_neardup", d06, Some(d06Sql)),
    Q("d09_embedding_ivf_neardup", d09, Some(d09Sql)),
    Q("d08_dedup_clusters", d08, Some(d08Sql)),
    Q("d24_cluster_dilution", d24, Some(d24Sql)))
}
