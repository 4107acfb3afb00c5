package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.expressions.Window
import graft.Tables
import graft.functions.VectorOps
import graft.queries.Relational.{Fn, Q}

/** Similarity search over the `embeddings` table: brute-force cosine
  * top-k as the exact baseline, a random-hyperplane LSH variant and an
  * IVF (centroid-partitioned) variant as the scale paths.
  *
  * Scale design: brute-force is a broadcast of the (small) query set
  * against a full scan — correct at any data size when the query set is
  * small, O(N·Q·dim). The LSH/IVF variants cut the scanned fraction:
  * LSH buckets by signature; IVF probes the nearest centroid cells only.
  * Both share the verification shape: candidate join → exact cosine →
  * per-query top-k window.
  */
object SimilarityQueries {

  val K = 10
  val NumQueries = 5

  private def emb(s: SparkSession, d: String) = Tables.embeddings(s, d)

  private def queriesDf(s: SparkSession, d: String): DataFrame =
    emb(s, d).filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("q_id"), col("embedding").as("qv"))

  /** Exact top-k: broadcast the query vectors, scan once, window-rank.
    * Rank on the 4dp-rounded sim with vec_id tiebreak so the ordering is
    * identical in both engines. */
  private val s01: Fn = (s, d) => {
    val base = emb(s, d)
    val topk = base.join(broadcast(queriesDf(s, d)), col("vec_id") =!= col("q_id"))
      .withColumn("sim", round(VectorOps.cosine(col("qv"), col("embedding")), 4))
    val w = Window.partitionBy(col("q_id")).orderBy(desc("sim"), col("vec_id"))
    topk.withColumn("rk", row_number().over(w).cast(LongType))
      .filter(col("rk") <= K)
      .select("q_id", "rk", "vec_id", "sim")
      .orderBy("q_id", "rk")
  }
  private val s01Sql =
    s"""WITH q AS (SELECT vec_id AS q_id, embedding AS qv FROM embeddings WHERE vec_id < $NumQueries),
       |scored AS (
       |  SELECT q.q_id, e.vec_id,
       |    round(list_dot_product(q.qv::DOUBLE[], e.embedding::DOUBLE[]) /
       |          sqrt(list_dot_product(q.qv::DOUBLE[], q.qv::DOUBLE[]) *
       |               list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[])), 4) AS sim
       |  FROM embeddings e JOIN q ON e.vec_id <> q.q_id),
       |ranked AS (
       |  SELECT q_id, vec_id, sim,
       |         row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, vec_id) AS rk
       |  FROM scored)
       |SELECT q_id, rk, vec_id, sim FROM ranked WHERE rk <= $K ORDER BY q_id, rk""".stripMargin

  /** s25: metadata-FILTERED exact top-k — s01 with a label predicate on
    * the corpus side (each query retrieves only vectors sharing its own
    * label), the "filtered search" mode every production vector store
    * exposes (attribute + vector predicates in one query). Pre-filter
    * semantics: the predicate prunes BEFORE ranking, so k results come
    * from the filtered set — not post-filtering a top-k that can return
    * fewer than k (the recall trap filtered-ANN papers warn about).
    * Same broadcast-probe scan shape as s01; at 100 TB the predicate
    * rides into the scan as a pushed filter / partition prune and the
    * s03 IVF candidate stage drops in unchanged. */
  private val s25: Fn = (s, d) => {
    val q = emb(s, d).filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("q_id"), col("embedding").as("qv"), col("label").as("qlabel"))
    val topk = emb(s, d)
      .join(broadcast(q), col("label") === col("qlabel") && col("vec_id") =!= col("q_id"))
      .withColumn("sim", round(VectorOps.cosine(col("qv"), col("embedding")), 4))
    val w = Window.partitionBy(col("q_id")).orderBy(desc("sim"), col("vec_id"))
    topk.withColumn("rk", row_number().over(w).cast(LongType))
      .filter(col("rk") <= K)
      .select(col("q_id"), col("rk"), col("vec_id"),
        col("label").cast(LongType).as("label"), col("sim"))
      .orderBy("q_id", "rk")
  }
  private val s25Sql =
    s"""WITH q AS (SELECT vec_id AS q_id, embedding AS qv, label AS qlabel
       |           FROM embeddings WHERE vec_id < $NumQueries),
       |scored AS (
       |  SELECT q.q_id, e.vec_id, e.label,
       |    round(list_dot_product(q.qv::DOUBLE[], e.embedding::DOUBLE[]) /
       |          sqrt(list_dot_product(q.qv::DOUBLE[], q.qv::DOUBLE[]) *
       |               list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[])), 4) AS sim
       |  FROM embeddings e JOIN q ON e.label = q.qlabel AND e.vec_id <> q.q_id),
       |ranked AS (
       |  SELECT q_id, vec_id, label, sim,
       |         row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, vec_id) AS rk
       |  FROM scored)
       |SELECT q_id, rk, vec_id, CAST(label AS BIGINT) AS label, sim
       |FROM ranked WHERE rk <= $K ORDER BY q_id, rk""".stripMargin

  // ---------------- LSH (random hyperplanes, seeded & deterministic) ----

  val LshTables = 8 // L independent hash tables...
  val LshPlanesPerTable = 6 // ...of k sign-bits each: candidate iff any table collides
  val Dim = 64

  /** Seeded hyperplanes per table, as literal columns (deterministic
    * across runs; tiny, so they live in the plan, not a table). */
  private def planes(): Seq[Seq[Array[Double]]] = {
    val rnd = new scala.util.Random(42)
    Seq.fill(LshTables)(Seq.fill(LshPlanesPerTable)(
      Array.fill(Dim)(if (rnd.nextBoolean()) 1.0 else -1.0)))
  }

  /** Array of per-table signatures (k sign-bits each). */
  private def signatures(v: Column): Column = {
    val ps = planes()
    array(ps.map { table =>
      table.zipWithIndex.map { case (p, i) =>
        val proj = aggregate(
          zip_with(v, lit(p), (x, w) => x.cast(DoubleType) * w),
          lit(0.0), (acc, z) => acc + z)
        when(proj > 0, shiftleft(lit(1L), i)).otherwise(0L)
      }.reduce((a, b) => a.bitwiseOR(b))
    }: _*)
  }

  /** LSH ANN: a point is a candidate for a query iff they collide in ANY
    * of the L tables; candidates are exact-scored and top-k ranked.
    * At 100 TB the (table, sig) pair is the shuffle/bucketing key; the
    * scan never computes full-corpus distances. Approximate by design,
    * yet fully ORACLED: the seeded ±1 hyperplanes are plan literals, so
    * the oracle SQL embeds the same constants (a VALUES relation) and
    * recomputes the signatures — projections are sums of EXACT products
    * (x·±1 is exact) accumulated in index order, hence bit-identical
    * across engines. Recall floor vs s01 in DedupSimilaritySpec. */
  private val s02: Fn = (s, d) => {
    val base = emb(s, d).select(col("vec_id"), col("embedding"),
        posexplode(signatures(col("embedding"))).as(Seq("tbl", "sig")))
    val q = queriesDf(s, d).select(col("q_id"), col("qv"),
        posexplode(signatures(col("qv"))).as(Seq("tbl", "sig")))
    val cand = base.join(broadcast(q), Seq("tbl", "sig"))
      .filter(col("vec_id") =!= col("q_id"))
      .select("q_id", "qv", "vec_id", "embedding").distinct()
      .withColumn("sim", round(VectorOps.cosine(col("qv"), col("embedding")), 4))
    val w = Window.partitionBy(col("q_id")).orderBy(desc("sim"), col("vec_id"))
    cand.withColumn("rk", row_number().over(w).cast(LongType))
      .filter(col("rk") <= K)
      .select("q_id", "rk", "vec_id", "sim")
      .orderBy("q_id", "rk")
  }

  /** IVF ANN: cells = per-label centroids (k-means stand-in with
    * deterministic assignment); probe the 2 nearest cells per query.
    * Centroid build: posexplode + exact fixed-point mean per (label,
    * pos) — one shuffle. The fixed-point mean (s04's trick) makes the
    * centroids order-independent and engine-portable, which is what
    * lets this approximate operator be fully ORACLED: DuckDB rebuilds
    * the identical cells, probes the same 2, ranks the same top-k. */
  /** The s03 IVF probe path with a parameterized probe count — s03
    * registers nprobe=2; s28's sweep grades the whole recall-vs-nprobe
    * curve of this same kernel. */
  private def ivfTopK(s: SparkSession, d: String, nprobe: Int): DataFrame = {
    val e = emb(s, d)
    val cells = e.select(col("label"), posexplode(col("embedding")).as(Seq("pos", "x")))
      .groupBy("label", "pos")
      .agg(((sum((col("x").cast(DoubleType) * lit(1e9)).cast(LongType)).cast(DoubleType) / lit(1e9))
        / count(lit(1))).as("cx"))
      .groupBy("label").agg(array_sort(collect_list(struct(col("pos"), col("cx")))).as("pairs"))
      .select(col("label").as("cell"), transform(col("pairs"), p => p.getField("cx").cast(FloatType)).as("centroid"))
    val q = queriesDf(s, d)
    val probed = q.crossJoin(broadcast(cells))
      .withColumn("csim", VectorOps.cosine(col("qv"), col("centroid")))
    val wq = Window.partitionBy(col("q_id")).orderBy(desc("csim"), col("cell"))
    val probes = probed.withColumn("prk", row_number().over(wq)).filter(col("prk") <= nprobe)
      .select(col("q_id"), col("qv"), col("cell"))
    val cand = emb(s, d).join(broadcast(probes),
        col("label") === col("cell") && col("vec_id") =!= col("q_id"))
      .withColumn("sim", round(VectorOps.cosine(col("qv"), col("embedding")), 4))
    val w = Window.partitionBy(col("q_id")).orderBy(desc("sim"), col("vec_id"))
    cand.withColumn("rk", row_number().over(w).cast(LongType))
      .filter(col("rk") <= K)
      .select("q_id", "rk", "vec_id", "sim")
      .orderBy("q_id", "rk")
  }

  private val s03: Fn = (s, d) => ivfTopK(s, d, 2)

  /** Oracle for s02: the ±1 hyperplanes ride as a VALUES relation so
    * DuckDB recomputes the identical signatures (exact products summed
    * in index order), then the same candidate join / exact re-score /
    * top-k window. Generated, not hand-written — the constants come from
    * the same [[planes]] call the Spark plan uses. */
  private def s02Sql: String = {
    val ps = planes()
    val rows = for {
      (table, t) <- ps.zipWithIndex
      (p, i) <- table.zipWithIndex
    } yield s"($t, $i, [${p.map(w => if (w > 0) "1.0" else "-1.0").mkString(",")}]::DOUBLE[])"
    s"""WITH planes(tbl, i, w) AS (VALUES
       |${rows.mkString(",\n")}),
       |q AS (SELECT vec_id AS q_id, embedding AS qv FROM embeddings WHERE vec_id < $NumQueries),
       |bsig AS (
       |  SELECT e.vec_id, p.tbl,
       |         sum(CASE WHEN list_dot_product(e.embedding::DOUBLE[], p.w) > 0
       |                  THEN CAST(pow(2, p.i) AS BIGINT) ELSE 0 END) AS sig
       |  FROM embeddings e CROSS JOIN planes p GROUP BY 1, 2),
       |qsig AS (
       |  SELECT q.q_id, p.tbl,
       |         sum(CASE WHEN list_dot_product(q.qv::DOUBLE[], p.w) > 0
       |                  THEN CAST(pow(2, p.i) AS BIGINT) ELSE 0 END) AS sig
       |  FROM q CROSS JOIN planes p GROUP BY 1, 2),
       |cand AS (
       |  SELECT DISTINCT qs.q_id, bs.vec_id
       |  FROM bsig bs JOIN qsig qs ON bs.tbl = qs.tbl AND bs.sig = qs.sig
       |  WHERE bs.vec_id <> qs.q_id),
       |scored AS (
       |  SELECT c.q_id, c.vec_id,
       |    round(list_dot_product(q.qv::DOUBLE[], e.embedding::DOUBLE[]) /
       |          sqrt(list_dot_product(q.qv::DOUBLE[], q.qv::DOUBLE[]) *
       |               list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[])), 4) AS sim
       |  FROM cand c JOIN q ON q.q_id = c.q_id JOIN embeddings e ON e.vec_id = c.vec_id),
       |ranked AS (
       |  SELECT q_id, vec_id, sim,
       |         row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, vec_id) AS rk
       |  FROM scored)
       |SELECT q_id, rk, vec_id, sim FROM ranked WHERE rk <= $K ORDER BY q_id, rk""".stripMargin
  }

  /** Oracle for s03: rebuild the fixed-point per-label centroids, probe
    * the `nprobe` nearest by raw cosine (cell tiebreak), re-score
    * candidates exactly, top-k window — every step engine-portable.
    * Parameterized for the s28 sweep; s03 registers nprobe=2. */
  private def s03Sql: String = ivfSqlFor(2)

  private def ivfSqlFor(nprobe: Int): String =
    s"""WITH q AS (SELECT vec_id AS q_id, embedding AS qv FROM embeddings WHERE vec_id < $NumQueries),
       |cmeans AS (
       |  SELECT label, i AS pos,
       |    CAST((CAST(sum(CAST(trunc(CAST(embedding[i] AS DOUBLE) * 1e9) AS BIGINT)) AS DOUBLE) / 1e9)
       |         / count(*) AS FLOAT) AS cx
       |  FROM embeddings, range(1, ${Dim + 1}) t(i)
       |  GROUP BY label, i),
       |cells AS (SELECT label AS cell, list(cx ORDER BY pos) AS centroid FROM cmeans GROUP BY label),
       |probescore AS (
       |  SELECT q.q_id, c.cell,
       |    list_dot_product(q.qv::DOUBLE[], c.centroid::DOUBLE[]) /
       |    sqrt(list_dot_product(q.qv::DOUBLE[], q.qv::DOUBLE[]) *
       |         list_dot_product(c.centroid::DOUBLE[], c.centroid::DOUBLE[])) AS csim
       |  FROM q CROSS JOIN cells c),
       |probes AS (
       |  SELECT q_id, cell FROM (
       |    SELECT q_id, cell, row_number() OVER (PARTITION BY q_id ORDER BY csim DESC, cell) AS prk
       |    FROM probescore) t
       |  WHERE prk <= $nprobe),
       |scored AS (
       |  SELECT p.q_id, e.vec_id,
       |    round(list_dot_product(q.qv::DOUBLE[], e.embedding::DOUBLE[]) /
       |          sqrt(list_dot_product(q.qv::DOUBLE[], q.qv::DOUBLE[]) *
       |               list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[])), 4) AS sim
       |  FROM probes p JOIN q ON q.q_id = p.q_id
       |  JOIN embeddings e ON e.label = p.cell AND e.vec_id <> p.q_id),
       |ranked AS (
       |  SELECT q_id, vec_id, sim,
       |         row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, vec_id) AS rk
       |  FROM scored)
       |SELECT q_id, rk, vec_id, sim FROM ranked WHERE rk <= $K ORDER BY q_id, rk""".stripMargin

  /** Per-label centroids with order-independent exact accumulation:
    * each float is scaled to a 1e-9 fixed-point long (truncation toward
    * zero is identical in both engines; float→decimal casts are NOT),
    * summed exactly, then divided back — deterministic at any parallelism. */
  private val s04: Fn = (s, d) =>
    emb(s, d).select(col("label"), posexplode(col("embedding")).as(Seq("pos", "x")))
      .groupBy("label", "pos")
      .agg(((sum((col("x").cast(DoubleType) * lit(1e9)).cast(LongType)).cast(DoubleType) / lit(1e9))
        / count(lit(1))).as("c"))
      .filter(col("pos") < 8) // keep oracle output compact: first 8 dims
      .select(col("label"), col("pos").cast(IntegerType).as("pos"), col("c"))
      .orderBy("label", "pos")
  private val s04Sql =
    """SELECT label, CAST(i - 1 AS INTEGER) AS pos,
      |  (CAST(sum(CAST(trunc(CAST(embedding[i] AS DOUBLE) * 1e9) AS BIGINT)) AS DOUBLE) / 1e9)
      |    / count(*) AS c
      |FROM embeddings, range(1, 9) t(i)
      |GROUP BY label, i ORDER BY label, pos""".stripMargin

  // --------------- scalar quantization (int8) + exact re-rank -----------

  val RerankDepth = 3 * K

  /** Per-vector symmetric int8 quantization: q_i = trunc(x_i·127/amax)
    * (trunc, not round — identical across engines and JVM). Exposed for
    * the spec's error-bound check. */
  private[queries] def quantized(e: DataFrame): DataFrame =
    e.withColumn("amax",
        aggregate(col("embedding"), lit(0.0),
          (acc, x) => greatest(acc, abs(x.cast(DoubleType)))))
      .withColumn("qvec",
        when(col("amax") === 0.0,
          transform(col("embedding"), _ => lit(0).cast(ShortType)))
          .otherwise(transform(col("embedding"),
            x => (x.cast(DoubleType) * 127.0 / col("amax")).cast(ShortType))))
      .withColumn("qnorm",
        sqrt(aggregate(col("qvec"), lit(0L),
          (acc, x) => acc + x.cast(LongType) * x.cast(LongType)).cast(DoubleType)))

  /** Scalar-quantized ANN: the corpus scan runs entirely on int8 vectors
    * (4× smaller than float32 — at 100 TB the scan is memory-bandwidth
    * bound, so quantization is ~4× throughput before any pruning), with
    * integer dot products; only the top [[RerankDepth]] candidates per
    * query are re-scored against the exact float vectors. Approximate:
    * recall vs s01 measured in DedupSimilaritySpec; quantization error
    * bound (≤ amax/127 per element) proven there too. Fully ORACLED:
    * every step is exact arithmetic (trunc-to-int8 quantization, integer
    * dot products — sums of integers < 2^53 are exact in double too, so
    * DuckDB's double list_dot_product reproduces the long sums bit-for-
    * bit), deterministic tie-broken ranks, and the exact re-rank. */
  private val s05: Fn = (s, d) => {
    val base = quantized(emb(s, d))
      .select(col("vec_id"), col("qvec"), col("qnorm"))
    val q = quantized(queriesDf(s, d).withColumnRenamed("qv", "embedding"))
      .select(col("q_id"), col("qvec").as("q_qvec"), col("qnorm").as("q_qnorm"))
    val scored = base.join(broadcast(q), col("vec_id") =!= col("q_id"))
      .withColumn("dotq",
        aggregate(zip_with(col("qvec"), col("q_qvec"),
          (a, b) => a.cast(LongType) * b.cast(LongType)), lit(0L), (acc, z) => acc + z))
      .withColumn("qsim",
        when(col("qnorm") === 0.0 || col("q_qnorm") === 0.0, 0.0)
          .otherwise(col("dotq").cast(DoubleType) / (col("qnorm") * col("q_qnorm"))))
    val wq = Window.partitionBy(col("q_id")).orderBy(desc("qsim"), col("vec_id"))
    val cand = scored.withColumn("crk", row_number().over(wq))
      .filter(col("crk") <= RerankDepth)
      .select("q_id", "vec_id")
    // exact re-rank of the short candidate list only
    val exact = cand
      .join(emb(s, d).select(col("vec_id"), col("embedding")), "vec_id")
      .join(broadcast(queriesDf(s, d)), "q_id")
      .withColumn("sim", round(VectorOps.cosine(col("qv"), col("embedding")), 4))
    val w = Window.partitionBy(col("q_id")).orderBy(desc("sim"), col("vec_id"))
    exact.withColumn("rk", row_number().over(w).cast(LongType))
      .filter(col("rk") <= K)
      .select("q_id", "rk", "vec_id", "sim")
      .orderBy("q_id", "rk")
  }

  /** Oracle for s05: replay quantize → int8 scan → re-rank. The int8
    * dots ride as double list_dot_product (exact for integer values);
    * trunc-toward-zero casts match Spark's double→short semantics. */
  private def s05Sql: String =
    s"""WITH qz AS (
       |  SELECT vec_id, embedding,
       |         list_max(list_transform(embedding::DOUBLE[], x -> abs(x))) AS amax
       |  FROM embeddings),
       |qv AS (
       |  SELECT vec_id,
       |         CASE WHEN amax = 0 THEN list_transform(embedding::DOUBLE[], x -> 0.0)
       |              ELSE list_transform(embedding::DOUBLE[],
       |                     x -> CAST(CAST(trunc(x * 127.0 / amax) AS SMALLINT) AS DOUBLE)) END AS qvec
       |  FROM qz),
       |qn AS (SELECT vec_id, qvec, sqrt(list_dot_product(qvec, qvec)) AS qnorm FROM qv),
       |qs AS (SELECT vec_id AS q_id, qvec AS q_qvec, qnorm AS q_qnorm FROM qn WHERE vec_id < $NumQueries),
       |scored AS (
       |  SELECT b.vec_id, q.q_id,
       |         CASE WHEN b.qnorm = 0 OR q.q_qnorm = 0 THEN 0.0
       |              ELSE list_dot_product(b.qvec, q.q_qvec) / (b.qnorm * q.q_qnorm) END AS qsim
       |  FROM qn b JOIN qs q ON b.vec_id <> q.q_id),
       |cand AS (
       |  SELECT q_id, vec_id FROM (
       |    SELECT q_id, vec_id,
       |           row_number() OVER (PARTITION BY q_id ORDER BY qsim DESC, vec_id) AS crk
       |    FROM scored) t
       |  WHERE crk <= $RerankDepth),
       |exact AS (
       |  SELECT c.q_id, c.vec_id,
       |    round(list_dot_product(qq.embedding::DOUBLE[], e.embedding::DOUBLE[]) /
       |          sqrt(list_dot_product(qq.embedding::DOUBLE[], qq.embedding::DOUBLE[]) *
       |               list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[])), 4) AS sim
       |  FROM cand c JOIN embeddings e ON e.vec_id = c.vec_id
       |  JOIN embeddings qq ON qq.vec_id = c.q_id),
       |ranked AS (
       |  SELECT q_id, vec_id, sim,
       |         row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, vec_id) AS rk
       |  FROM exact)
       |SELECT q_id, rk, vec_id, sim FROM ranked WHERE rk <= $K ORDER BY q_id, rk""".stripMargin

  /** s06: product-quantization ANN — the memory-scaling complement to
    * s05's int8 path: 64-d vectors become M=8 one-byte codes (16
    * centroids per 8-d subspace, trained by the deterministic u02
    * k-means on each subspace), a 64x compression of the scan side.
    * Scoring is asymmetric-distance (ADC) expressed RELATIONALLY — the
    * per-query distance table (q x subspace x code, 5*8*16 = tiny) is a
    * broadcast join against the exploded codes, and the approximate
    * distance is one partial-agg'd SUM per (q_id, vec_id) — no
    * driver-side lookup tables, no giant CASE. Top candidates by ADC
    * then exact-cosine re-rank, like s05. Codebook training on the full
    * table here; at corpus scale train on a deterministic p02-style
    * sample.
    *
    * Fully ORACLED, iterative training included (u02's Lloyd-replay
    * pattern, here per subspace with `m` as a column — the SQL mirrors
    * fitSubspaces' fused one-pass-per-round design). The per-(q,vec)
    * ADC total is a fixed-point sum of the 8 per-subspace distances
    * (s07's trick): a plain double SUM would let either engine reorder
    * the adds and flip a candidate at the cutoff boundary. */
  private val s06: Fn = (s, d) => {
    import s.implicits._
    val M = 8; val sub = 8; val nCodes = 16
    // unit-normalize first: on unit vectors ||a-b||^2 = 2 - 2*cos, so the
    // L2-based ADC ordering IS the cosine ordering the re-rank wants
    def unit(v: Column): Column = {
      val n = sqrt(aggregate(v, lit(0.0), (acc, x) => acc + x.cast(DoubleType) * x.cast(DoubleType)))
      when(n === 0.0, v.cast("array<double>"))
        .otherwise(transform(v, x => x.cast(DoubleType) / n))
    }
    val e = emb(s, d).select(col("vec_id"), unit(col("embedding")).as("embedding"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // all M codebooks train in ONE plan per Lloyd round (fitSubspaces) —
    // a per-subspace loop would pay M x iters jobs + codegen compiles
    val books = graft.operators.KMeans.fitSubspaces(e, M, sub, nCodes, 2)
    // encode every vector as M code ids (pure projection, no shuffle)
    val encoded = books.foldLeft(e.select(col("vec_id"), col("embedding"))) {
      case (df, (m, cents)) =>
        df.withColumn(s"c$m", graft.operators.KMeans.assignExpr(
          col("embedding"), cents, offset = m * sub))
    }
    val codes = encoded.select(col("vec_id"),
      explode(array((0 until M).map(m => struct(lit(m).as("m"), col(s"c$m").as("code"))): _*)).as("mc"))
      .select(col("vec_id"), col("mc.m").as("m"), col("mc.code").as("code"))
    // per-query ADC table: squared L2 from each query subvector to each code centroid
    val bookDf = books.flatMap { case (m, cents) =>
      cents.map { case (code, c) => (m, code, c) }
    }.toDF("m", "code", "cent")
    val table = queriesDf(s, d).select(col("q_id"), unit(col("qv")).as("qv"))
      .crossJoin(broadcast(bookDf))
      .withColumn("qsub", slice(col("qv"), col("m") * sub + 1, lit(sub)))
      .withColumn("d2", aggregate(zip_with(col("qsub"), col("cent"),
        (a, b) => { val df = a.cast(DoubleType) - b; df * df }), lit(0.0), (acc, x) => acc + x))
      .select(col("q_id"), col("m"), col("code"), col("d2"))
    val adc = codes.join(broadcast(table), Seq("m", "code"))
      .filter(col("vec_id") =!= col("q_id"))
      .groupBy("q_id", "vec_id")
      .agg(sum((col("d2") * lit(1e12)).cast(LongType)).as("adc"))
    val wq = Window.partitionBy(col("q_id")).orderBy(col("adc"), col("vec_id"))
    val cand = adc.withColumn("crk", row_number().over(wq))
      .filter(col("crk") <= 4 * RerankDepth)
      .select("q_id", "vec_id")
    val exact = cand
      .join(emb(s, d).select(col("vec_id"), col("embedding")), "vec_id")
      .join(broadcast(queriesDf(s, d)), "q_id")
      .withColumn("sim", round(VectorOps.cosine(col("qv"), col("embedding")), 4))
    val w = Window.partitionBy(col("q_id")).orderBy(desc("sim"), col("vec_id"))
    exact.withColumn("rk", row_number().over(w).cast(LongType))
      .filter(col("rk") <= K)
      .select("q_id", "rk", "vec_id", "sim")
      .orderBy("q_id", "rk")
  }

  /** Oracle for s06: full PQ replay — unit-normalize, per-subspace
    * Lloyd rounds (u02's pattern with `m` as a column), encode, ADC,
    * exact re-rank. Same portability facts as u02Sql (sequential
    * list_reduce distances, fixed-point means) plus the fixed-point ADC
    * total. */
  private def s06Sql(m: Int, sub: Int, nCodes: Int, iters: Int): String = {
    def sq(vec: String, cent: String) =
      s"""list_reduce(list_transform(range(1, ${sub + 1}),
         |  i -> ($vec[i] - $cent[i]) * ($vec[i] - $cent[i])),
         |  (acc, x) -> acc + x)""".stripMargin
    def assignCte(a: String, books: String) =
      s"""$a AS (SELECT vec_id, m, sv, code FROM (
         |  SELECT s.vec_id, s.m, s.sv, b.code,
         |         row_number() OVER (PARTITION BY s.vec_id, s.m ORDER BY
         |           ${sq("s.sv", "b.c")}, b.code) AS rk
         |  FROM subv s JOIN $books b ON s.m = b.m) t WHERE rk = 1)""".stripMargin
    val rounds = (1 to iters).map { r =>
      s"""${assignCte(s"a$r", s"b${r - 1}")},
         |m$r AS (
         |  SELECT m, code, i AS pos,
         |    (CAST(sum(CAST(trunc(sv[i] * 1e9) AS BIGINT)) AS DOUBLE) / 1e9) / count(*) AS cx
         |  FROM a$r, range(1, ${sub + 1}) t(i) GROUP BY m, code, i),
         |b$r AS (SELECT m, code, list(cx ORDER BY pos) AS c FROM m$r GROUP BY m, code)""".stripMargin
    }
    s"""WITH unit0 AS (
       |  SELECT vec_id,
       |         sqrt(list_reduce(list_transform(embedding::DOUBLE[], x -> x * x),
       |                          (a, b) -> a + b)) AS nrm,
       |         embedding::DOUBLE[] AS ed
       |  FROM embeddings),
       |unitv AS (
       |  SELECT vec_id,
       |         CASE WHEN nrm = 0 THEN ed ELSE list_transform(ed, x -> x / nrm) END AS v
       |  FROM unit0),
       |subv AS (
       |  SELECT vec_id, ms.m,
       |         list_transform(range(ms.m * $sub + 1, ms.m * $sub + ${sub + 1}), i -> v[i]) AS sv
       |  FROM unitv CROSS JOIN (SELECT unnest(range($m)) AS m) ms),
       |b0 AS (
       |  SELECT m, CAST(row_number() OVER (PARTITION BY m ORDER BY vec_id) - 1 AS INTEGER) AS code,
       |         sv AS c
       |  FROM subv WHERE vec_id IN (SELECT vec_id FROM embeddings ORDER BY vec_id LIMIT $nCodes)),
       |${rounds.mkString(",\n")},
       |${assignCte("enc", s"b$iters")},
       |qs AS (SELECT vec_id AS q_id, v AS qv FROM unitv WHERE vec_id < $NumQueries),
       |adct AS (
       |  SELECT q.q_id, b.m, b.code,
       |         list_reduce(list_transform(range(1, ${sub + 1}),
       |           i -> (q.qv[b.m * $sub + i] - b.c[i]) * (q.qv[b.m * $sub + i] - b.c[i])),
       |           (acc, x) -> acc + x) AS d2
       |  FROM qs q CROSS JOIN b$iters b),
       |adc AS (
       |  SELECT t.q_id, e.vec_id, sum(CAST(trunc(t.d2 * 1e12) AS BIGINT)) AS adc
       |  FROM enc e JOIN adct t ON e.m = t.m AND e.code = t.code
       |  WHERE e.vec_id <> t.q_id
       |  GROUP BY 1, 2),
       |cand AS (
       |  SELECT q_id, vec_id FROM (
       |    SELECT q_id, vec_id, row_number() OVER (PARTITION BY q_id ORDER BY adc, vec_id) AS crk
       |    FROM adc) t
       |  WHERE crk <= ${4 * RerankDepth}),
       |exact AS (
       |  SELECT c.q_id, c.vec_id,
       |    round(list_dot_product(qq.embedding::DOUBLE[], e.embedding::DOUBLE[]) /
       |          sqrt(list_dot_product(qq.embedding::DOUBLE[], qq.embedding::DOUBLE[]) *
       |               list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[])), 4) AS sim
       |  FROM cand c JOIN embeddings e ON e.vec_id = c.vec_id
       |  JOIN embeddings qq ON qq.vec_id = c.q_id),
       |ranked AS (
       |  SELECT q_id, vec_id, sim,
       |         row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, vec_id) AS rk
       |  FROM exact)
       |SELECT q_id, rk, vec_id, sim FROM ranked WHERE rk <= $K ORDER BY q_id, rk""".stripMargin
  }

  /** s07: hybrid retrieval — BM25 text ranking fused with the exact
    * cosine vector ranking by reciprocal-rank fusion (RRF, k=60), the
    * standard production shape for retrieval over a corpus that has
    * both text and embeddings. Queries are self-contained: query i is
    * document i's first 4 distinct tokens (text side) and embedding i
    * (vector side), i < 5, the query doc itself excluded from both
    * rankings.
    *
    * Determinism/parity: each per-term BM25 contribution is computed
    * from exact integers (tf, df, dl, N) plus one ln() rounded like
    * t04's idf; the per-(q,doc) sum uses the scaled-long fixed-point
    * trick so summation order cannot move the result; ranks are
    * integers; RRF scores are fixed two-term expressions rounded to
    * 6dp with doc_id tiebreaks. Scale: tf/df are word-count-shaped
    * shuffles (partial agg), the query side is 5 rows broadcast, and
    * both rankings end in per-query top-N windows over candidate sets,
    * never the corpus. */
  private val s07: Fn = (s, d) => {
    val K1 = 1.2; val B = 0.75; val RrfK = 60; val TopN = 20
    val dd = Tables.documents(s, d)
    val toksCol = split(col("text"), " ")
    val docsTok = dd.select(col("doc_id"), toksCol.as("w"))
    // corpus constants via one tiny driver action (t04 precedent)
    val statsRow = docsTok.agg(count(lit(1)), sum(size(col("w")))).head
    val nDocs = statsRow.getLong(0)
    val avgdl = statsRow.getLong(1).toDouble / nDocs
    // tf feeds TWO branches (the query-term join and the df roll-up);
    // persisted so the word-count scan+shuffle runs once, not twice
    // (d03's compute-once/read-many pattern)
    val tf = docsTok.select(col("doc_id"), explode(col("w")).as("term"))
      .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val dfT = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val dl = docsTok.select(col("doc_id"), size(col("w")).as("dl"))
    val qt = docsTok.filter(col("doc_id") < NumQueries)
      .select(col("doc_id").as("q_id"),
        explode(array_distinct(slice(col("w"), 1, 4))).as("term"))
    val termScore =
      log((lit(nDocs.toDouble) - col("df") + lit(0.5)) / (col("df") + lit(0.5)) + lit(1.0)) *
        (col("tf") * lit(K1 + 1)) /
        (col("tf") + lit(K1) * (lit(1 - B) + lit(B) * col("dl") / lit(avgdl)))
    val bm = qt.join(tf, "term").join(dfT, "term").join(dl, "doc_id")
      .filter(col("doc_id") =!= col("q_id"))
      .withColumn("s_fp", (termScore * 1e9).cast(LongType))
      .groupBy("q_id", "doc_id")
      .agg(round(sum(col("s_fp")).cast(DoubleType) / 1e9, 4).as("bm25"))
    val wt = Window.partitionBy(col("q_id")).orderBy(desc("bm25"), col("doc_id"))
    val rt = bm.withColumn("rt", row_number().over(wt)).filter(col("rt") <= TopN)
      .select("q_id", "doc_id", "rt")
    val vs = emb(s, d).join(broadcast(queriesDf(s, d)), col("vec_id") =!= col("q_id"))
      .withColumn("sim", round(VectorOps.cosine(col("qv"), col("embedding")), 4))
      .select(col("q_id"), col("vec_id").as("doc_id"), col("sim"))
    val wv = Window.partitionBy(col("q_id")).orderBy(desc("sim"), col("doc_id"))
    val rv = vs.withColumn("rv", row_number().over(wv)).filter(col("rv") <= TopN)
      .select("q_id", "doc_id", "rv")
    val fused = rt.join(rv, Seq("q_id", "doc_id"), "full_outer")
      .withColumn("rrf", round(
        coalesce(lit(1.0) / (lit(RrfK) + col("rt")), lit(0.0)) +
          coalesce(lit(1.0) / (lit(RrfK) + col("rv")), lit(0.0)), 6))
    val wf = Window.partitionBy(col("q_id")).orderBy(desc("rrf"), col("doc_id"))
    fused.withColumn("rk", row_number().over(wf).cast(LongType))
      .filter(col("rk") <= K)
      .select("q_id", "rk", "doc_id", "rrf")
      .orderBy("q_id", "rk")
  }
  private val s07Sql =
    s"""WITH docs_t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
       |stats AS (SELECT count(*) AS n, CAST(sum(len(w)) AS DOUBLE) AS toks FROM docs_t),
       |tf AS (SELECT doc_id, term, count(*) AS tf
       |       FROM (SELECT doc_id, unnest(w) AS term FROM docs_t) GROUP BY 1, 2),
       |dfq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
       |dl AS (SELECT doc_id, len(w) AS dl FROM docs_t),
       |qt AS (SELECT doc_id AS q_id, unnest(list_distinct(w[1:4])) AS term
       |       FROM docs_t WHERE doc_id < $NumQueries),
       |ts AS (SELECT qt.q_id, tf.doc_id,
       |         CAST((ln((n - df + 0.5) / (df + 0.5) + 1.0) * (tf * 2.2)
       |               / (tf + 1.2 * (0.25 + 0.75 * dl / (toks / n)))) * 1e9 AS BIGINT) AS s_fp
       |       FROM qt JOIN tf USING (term) JOIN dfq USING (term)
       |            JOIN dl ON tf.doc_id = dl.doc_id, stats
       |       WHERE tf.doc_id <> qt.q_id),
       |bm AS (SELECT q_id, doc_id, round(CAST(sum(s_fp) AS DOUBLE) / 1e9, 4) AS bm25
       |       FROM ts GROUP BY 1, 2),
       |rt AS (SELECT q_id, doc_id,
       |         row_number() OVER (PARTITION BY q_id ORDER BY bm25 DESC, doc_id) AS rt
       |       FROM bm QUALIFY rt <= 20),
       |q AS (SELECT vec_id AS q_id, embedding AS qv FROM embeddings WHERE vec_id < $NumQueries),
       |vs AS (SELECT q.q_id, e.vec_id AS doc_id,
       |         round(list_dot_product(q.qv::DOUBLE[], e.embedding::DOUBLE[]) /
       |               sqrt(list_dot_product(q.qv::DOUBLE[], q.qv::DOUBLE[]) *
       |                    list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[])), 4) AS sim
       |       FROM embeddings e JOIN q ON e.vec_id <> q.q_id),
       |rv AS (SELECT q_id, doc_id,
       |         row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, doc_id) AS rv
       |       FROM vs QUALIFY rv <= 20),
       |fused AS (SELECT coalesce(rt.q_id, rv.q_id) AS q_id,
       |            coalesce(rt.doc_id, rv.doc_id) AS doc_id,
       |            round(coalesce(1.0 / (60 + rt.rt), 0) + coalesce(1.0 / (60 + rv.rv), 0), 6) AS rrf
       |          FROM rt FULL OUTER JOIN rv ON rt.q_id = rv.q_id AND rt.doc_id = rv.doc_id)
       |SELECT q_id, CAST(row_number() OVER (PARTITION BY q_id ORDER BY rrf DESC, doc_id) AS BIGINT) AS rk,
       |       doc_id, rrf
       |FROM fused QUALIFY rk <= $K ORDER BY q_id, rk""".stripMargin

  /** s08: hard-negative mining — the training-data op behind contrastive
    * embedding training: for each query vector, the K most-similar
    * vectors that are REAL negatives (different label) and not
    * near-duplicates (sim below the dup ceiling — a near-dup with a
    * different label is more likely a labeling error than a useful
    * negative). Same scale shape as s01: broadcast query set, one corpus
    * scan, per-query top-k through the native bounded-heap operator; the
    * label/dup predicates prune BEFORE the rank so the heap never holds
    * excluded rows. */
  private val s08: Fn = (s, d) => {
    val q = emb(s, d).filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("q_id"), col("embedding").as("qv"),
        col("label").as("q_label"))
    val scored = emb(s, d).join(broadcast(q), col("vec_id") =!= col("q_id"))
      .filter(col("label") =!= col("q_label"))
      .withColumn("sim", round(VectorOps.cosine(col("qv"), col("embedding")), 4))
      .filter(col("sim") < 0.98)
    val w = Window.partitionBy(col("q_id")).orderBy(desc("sim"), col("vec_id"))
    scored.withColumn("rk", row_number().over(w).cast(LongType))
      .filter(col("rk") <= K)
      .select(col("q_id"), col("rk"), col("vec_id"), col("label"), col("sim"))
      .orderBy("q_id", "rk")
  }
  private val s08Sql =
    s"""WITH q AS (SELECT vec_id AS q_id, embedding AS qv, label AS q_label
       |           FROM embeddings WHERE vec_id < $NumQueries),
       |scored AS (
       |  SELECT q.q_id, e.vec_id, e.label,
       |    round(list_dot_product(q.qv::DOUBLE[], e.embedding::DOUBLE[]) /
       |          sqrt(list_dot_product(q.qv::DOUBLE[], q.qv::DOUBLE[]) *
       |               list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[])), 4) AS sim
       |  FROM embeddings e JOIN q ON e.vec_id <> q.q_id AND e.label <> q.q_label),
       |ranked AS (
       |  SELECT q_id, vec_id, label, sim,
       |         row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, vec_id) AS rk
       |  FROM scored WHERE sim < 0.98)
       |SELECT q_id, rk, vec_id, label, sim FROM ranked WHERE rk <= $K
       |ORDER BY q_id, rk""".stripMargin

  /** s09: MMR-diversified retrieval (Carbonell & Goldstein 1998) — the
    * selection op behind diverse hard-negative / demonstration-set
    * mining: greedily pick K items maximizing relevance MINUS redundancy
    * against what's already picked, score = λ·sim(q,v) − (1−λ)·max_{s∈S}
    * sim(v,s) with λ=0.7. Scale shape: the candidate pool is the per-
    * query top-P by similarity (one broadcast-scan + bounded window,
    * s01's plan); the K greedy rounds then operate on Q×P rows — work
    * independent of corpus size. The greedy stage runs per query group
    * inside `flatMapGroups` (the KeyValueGroupedDataset shape for
    * bounded per-key iteration): P rows of state per group, one
    * shuffle, full query-parallelism, zero driver rounds. A
    * DataFrame-loop formulation (one join + argmax window per pick,
    * lineage checkpointed per round) measured 9 s at sf0.1 — pure
    * driver/job overhead on Q×P rows of data.
    * Determinism: scores are INTEGER fixed-point (simfp = round(sim·1e4),
    * score = 7·simfp − 3·maxfp) so the greedy argmax replays exactly in
    * the oracle's unrolled round-CTEs — the same trick as the u02/s06/t15
    * trainer replays, applied to a greedy selection loop. The in-JVM
    * cosine replicates CosineSimilarity.nullSafeEval's fold (ascending
    * index, float→double per element, denom = sqrt(na·nb)) and Spark
    * round()'s BigDecimal HALF_UP, so scores are bit-identical to the
    * Column form the pool uses and to the oracle. */
  private val s09: Fn = (s, d) => {
    import s.implicits._
    val P = 30
    def simFp(a: Column, b: Column): Column =
      round(VectorOps.cosine(a, b) * 10000, 0).cast(LongType)
    val scored = emb(s, d).join(broadcast(queriesDf(s, d)), col("vec_id") =!= col("q_id"))
      .withColumn("simfp", simFp(col("qv"), col("embedding")))
    val wp = Window.partitionBy(col("q_id")).orderBy(desc("simfp"), col("vec_id"))
    val pool = scored
      .withColumn("rk", row_number().over(wp)).filter(col("rk") <= P)
      .select(col("q_id"), col("vec_id"), col("embedding"), col("simfp"))
    val kPicks = K
    val picked = pool.as[(Long, Long, Array[Float], Long)]
      .groupByKey(_._1)
      .flatMapGroups { (q, it) =>
        def cosFp(a: Array[Float], b: Array[Float]): Long = {
          var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
          while (i < a.length) {
            val xi = a(i).toDouble; val yi = b(i).toDouble
            dot += xi * yi; na += xi * xi; nb += yi * yi; i += 1
          }
          val sim = dot / math.sqrt(na * nb)
          java.math.BigDecimal.valueOf(sim * 10000)
            .setScale(0, java.math.RoundingMode.HALF_UP).doubleValue().toLong
        }
        // relevance order: simfp desc, vec_id asc (= the pool window)
        val rest = scala.collection.mutable.ArrayBuffer(
          it.toArray.sortBy(t => (-t._4, t._2)): _*)
        val sel = scala.collection.mutable.ArrayBuffer.empty[Array[Float]]
        val out = Seq.newBuilder[(Long, Long, Long, Long)]
        var r = 1
        while (r <= kPicks && rest.nonEmpty) {
          val pick =
            if (r == 1) rest.head
            else rest.minBy(c => (sel.map(cosFp(_, c._3)).max * 3 - c._4 * 7, c._2))
          sel += pick._3
          rest -= pick
          out += ((q, r.toLong, pick._2, pick._4))
          r += 1
        }
        out.result().iterator
      }
    picked.toDF("q_id", "pick", "vec_id", "simfp")
      .select(col("q_id"), col("pick"), col("vec_id"),
        (col("simfp").cast(DoubleType) / 10000.0).as("sim"))
      .orderBy("q_id", "pick")
  }
  private def s09Sql: String = {
    val P = 30
    def cosFp(a: String, b: String) =
      s"""CAST(round(list_dot_product($a::DOUBLE[], $b::DOUBLE[]) /
         |     sqrt(list_dot_product($a::DOUBLE[], $a::DOUBLE[]) *
         |          list_dot_product($b::DOUBLE[], $b::DOUBLE[])) * 10000, 0) AS BIGINT)""".stripMargin
    // MATERIALIZED everywhere a CTE is referenced more than once:
    // DuckDB inlines plain CTEs, so the sel{r} recurrence would expand
    // ~4^K references to the parquet scan (observed: "Too many open
    // files" at K=10) — materialization makes each round evaluate once.
    val rounds = (2 to K).map { r =>
      s"""cand$r AS MATERIALIZED (
         |  SELECT p.q_id, p.vec_id, p.embedding, p.simfp FROM pool p
         |  WHERE NOT EXISTS (SELECT 1 FROM sel${r - 1} s
         |                    WHERE s.q_id = p.q_id AND s.vec_id = p.vec_id)),
         |mm$r AS MATERIALIZED (
         |  SELECT c.q_id, c.vec_id, max(${cosFp("s.embedding", "c.embedding")}) AS maxfp
         |  FROM cand$r c JOIN sel${r - 1} s ON c.q_id = s.q_id
         |  GROUP BY 1, 2),
         |pick$r AS MATERIALIZED (
         |  SELECT q_id, vec_id, embedding, simfp, $r AS pick FROM (
         |    SELECT c.*, row_number() OVER (PARTITION BY c.q_id
         |             ORDER BY c.simfp * 7 - m.maxfp * 3 DESC, c.vec_id) AS prk
         |    FROM cand$r c JOIN mm$r m ON c.q_id = m.q_id AND c.vec_id = m.vec_id) t
         |  WHERE prk = 1),
         |sel$r AS MATERIALIZED (SELECT * FROM sel${r - 1} UNION ALL SELECT * FROM pick$r)""".stripMargin
    }
    s"""WITH q AS (SELECT vec_id AS q_id, embedding AS qv FROM embeddings
       |           WHERE vec_id < $NumQueries),
       |pool AS MATERIALIZED (
       |  SELECT q_id, vec_id, embedding, simfp, rk FROM (
       |    SELECT q.q_id, e.vec_id, e.embedding,
       |           ${cosFp("q.qv", "e.embedding")} AS simfp,
       |           row_number() OVER (PARTITION BY q.q_id
       |             ORDER BY ${cosFp("q.qv", "e.embedding")} DESC, e.vec_id) AS rk
       |    FROM embeddings e JOIN q ON e.vec_id <> q.q_id) t
       |  WHERE rk <= $P),
       |sel1 AS MATERIALIZED (SELECT q_id, vec_id, embedding, simfp, 1 AS pick FROM pool WHERE rk = 1),
       |${rounds.mkString(",\n")}
       |SELECT q_id, CAST(pick AS BIGINT) AS pick, vec_id,
       |       CAST(simfp AS DOUBLE) / 10000.0 AS sim
       |FROM sel$K ORDER BY q_id, pick""".stripMargin
  }

  /** d11: SemDeDup-style semantic deduplication (Abbas et al. 2023,
    * arXiv:2303.09540) — cluster the embedding space, then search for
    * near-duplicates ONLY within each cluster: the candidate volume is
    * Σ|cell|² instead of N², which is the property that makes semantic
    * dedup feasible at corpus scale (clusters bound the quadratic term;
    * at 100 TB the within-cell join is a keyed shuffle on the cell id
    * and each cell's pairing is an independent task). Keeper policy is
    * deterministic min-vec_id; every row is emitted with its cell and a
    * kept flag so the output is a complete, hash-comparable verdict.
    * Clustering is the u02 deterministic Lloyd trainer (3 rounds) with
    * the codebook sized by the d09/s10 √n law — k =
    * [[DedupQueries.ivfCodebookSize]](n), adopted in round 11 after
    * the sf10 sweep caught d11 still on a FIXED k=8 (per-cell
    * population n/k grows with the corpus, so the within-cell pair
    * join was n²/k quadratic: ~1.25·10^11 candidate pairs at n=200k —
    * the exact flaw d09 shed in round 8 and s10 in round 10). The
    * oracle replays the trainer round by round via the shared CTE
    * builder with the SAME dynamic seed count (a COUNT(*) subquery in
    * the seed LIMIT), then recomputes the within-cell cosine dups in
    * SQL — the full cluster+dedup pipeline stays cross-engine
    * verified at every SF. */
  private val d11: Fn = (s, d) => {
    import s.implicits._
    val e = emb(s, d).select(col("vec_id"), col("embedding"))
    val kDyn = graft.queries.DedupQueries.ivfCodebookSize(e.count()).toInt
    val (cents, _) = graft.operators.KMeans.fit(e, kDyn, 3)
    // Multi-probe membership (P=3 nearest cells): single-cell blocking
    // measured recall 0.31 on this fixture — its similar pairs straddle
    // cell boundaries (same finding as d09's cell experiment). P raised
    // 2 → 3 alongside the dynamic codebook (the d09/s10 precedent: a
    // growing k costs boundary pairs, one more probe buys them back).
    // Distances are the same sequential element-order fold on both
    // engines, so probe ranks agree bit-for-bit.
    val centDf = cents.map { case (id, c) => (id, c) }.toDF("cell", "cent")
    val dist = aggregate(zip_with(col("embedding"), col("cent"),
      (x, c) => { val df = x.cast(DoubleType) - c; df * df }), lit(0.0), (acc, x) => acc + x)
    val wProbe = Window.partitionBy(col("vec_id")).orderBy(col("dist"), col("cell"))
    val probes = e.crossJoin(broadcast(centDf))
      .withColumn("dist", dist)
      .withColumn("prk", row_number().over(wProbe))
      .filter(col("prk") <= 3)
      .select(col("vec_id"), col("embedding"), col("cell"), col("prk"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    probes.count() // materialize before the self-join branches race the cache
    val a = probes.select(col("cell"), col("vec_id").as("a_id"), col("embedding").as("va"))
    val b = probes.select(col("cell"), col("vec_id").as("b_id"), col("embedding").as("vb"))
    val dups = a.join(b, Seq("cell"))
      .filter(col("a_id") < col("b_id") &&
        round(VectorOps.cosine(col("va"), col("vb")), 4) >= 0.4)
      .select(col("b_id").as("vec_id")).distinct()
    probes.filter(col("prk") === 1)
      .join(dups.withColumn("__dup", lit(1)), Seq("vec_id"), "left")
      .select(col("vec_id"), col("cell").cast(IntegerType).as("cell"),
        col("__dup").isNull.as("kept"))
      .orderBy("vec_id")
  }
  private def d11Sql(iters: Int): String =
    s"""WITH ${kmeansReplayCtes(
      s"(SELECT ${DedupQueries.ivfCodebookSizeSql("count(*)")} FROM embeddings)", iters)},
       |probes AS (
       |  SELECT vec_id, embedding, cell, rk AS prk FROM (
       |    SELECT e.vec_id, e.embedding, c.cell,
       |           row_number() OVER (PARTITION BY e.vec_id ORDER BY
       |             list_reduce(list_transform(range(1, ${Dim + 1}),
       |               i -> (CAST(e.embedding[i] AS DOUBLE) - c.c[i]) * (CAST(e.embedding[i] AS DOUBLE) - c.c[i])),
       |               (acc, x) -> acc + x), c.cell) AS rk
       |    FROM embeddings e CROSS JOIN c$iters c) t WHERE rk <= 3),
       |dups AS (
       |  SELECT DISTINCT b.vec_id
       |  FROM probes a JOIN probes b ON a.cell = b.cell AND a.vec_id < b.vec_id
       |  WHERE round(list_dot_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) /
       |        sqrt(list_dot_product(a.embedding::DOUBLE[], a.embedding::DOUBLE[]) *
       |             list_dot_product(b.embedding::DOUBLE[], b.embedding::DOUBLE[])), 4) >= 0.4)
       |SELECT f.vec_id, CAST(f.cell AS INTEGER) AS cell, d.vec_id IS NULL AS kept
       |FROM probes f LEFT JOIN dups d ON f.vec_id = d.vec_id
       |WHERE f.prk = 1
       |ORDER BY f.vec_id""".stripMargin

  // ---------------- s10 kNN-graph construction (IVF-blocked) ----------

  val KnnK = 5
  /** Multi-probe width for the s10 graph build. Raised 2 → 3 alongside
    * the dynamic codebook (round 10) — the d09 precedent verbatim: the
    * growing C costs boundary pairs, one more probe buys them back.
    * Measured recall vs exact all-pairs kNN: 0.938 at n=500/C=8 (was
    * 0.6676 at P=2) and 0.7725 at n=2000/C=16 (P=2 with C=16 measured
    * 0.4993). Work fraction P²/C still shrinks with the corpus: 9/C is
    * 0.06 at sf10's C=159 where the old fixed C=8 pinned it ≥ 0.5
    * forever. */
  val KnnProbes = 3

  /** s10: batch kNN-GRAPH construction — for EVERY corpus vector, its
    * [[KnnK]] nearest neighbors by cosine. This is the backbone op of
    * graph-based dedup (SemDeDup/near-dup clustering seed their
    * components from exactly this graph) and of graph-ANN index builds
    * (NSW/HNSW neighborhood lists). Brute force is N²·dim — the one
    * shape that can never ship at corpus scale — so candidates come
    * from d09's deterministic IVF cells (C = [[DedupQueries.ivfCodebookSize]](n)
    * lowest-id seed vectors — the SAME √n sizing law as d09, adopted in
    * round 10 after the sf10 sweep caught the fixed C=8 codebook
    * filling 75 GB of shuffle spill at n=200k: per-cell population
    * grows n/C, so a fixed C makes the within-cell pair join n²/C
    * QUADRATIC, the exact failure d09 had in round 8 —
    * multi-probe [[KnnProbes]] cells per vector), scored once per
    * UNDIRECTED pair (cosine is symmetric; the mirror union doubles
    * rows, not kernel work), salted [[graft.queries.DedupQueries]]-
    * style so pair scoring spreads across cell×salt reducers, then
    * ranked per source vector — the row_number ≤ k idiom the TopK
    * rewrite turns into the native bounded-heap operator. Fully
    * oracled: deterministic seeds/probes make the cells, candidates,
    * and ranking an exact SQL replay; DedupSimilaritySpec measures
    * graph recall against the exact all-pairs kNN ground truth. */
  /** s10's kNN graph through [[SharedPools]]: the graph build is the
    * most expensive similarity stage and has TWO registered consumers
    * (s10 itself and s19's triangle census) — materialized once per JVM
    * per dir, exactly the index-build-then-read split a production
    * graph-ANN deployment uses. Exact types (longs + the 4dp-grid sim
    * double, which parquet round-trips bitwise). */
  private[queries] def knnPool(s: SparkSession, d: String): DataFrame =
    SharedPools.materialized(s, d, "knn_graph")(knnBuilt(s, d))

  private val s10: Fn = (s, d) => knnPool(s, d).orderBy("a_id", "rk")

  private[queries] def knnBuilt(s: SparkSession, d: String): DataFrame = {
    val e = emb(s, d)
    val cSz = DedupQueries.ivfCodebookSize(e.count())
    val seeded = e.orderBy("vec_id").limit(cSz.toInt)
      .select(col("vec_id").as("seed_id"), col("embedding").as("sv"))
    val scored = e.crossJoin(broadcast(seeded))
      .withColumn("csim", round(VectorOps.cosine(col("embedding"), col("sv")), 4))
    val wv = Window.partitionBy(col("vec_id")).orderBy(desc("csim"), col("seed_id"))
    val assign = scored.withColumn("ark", row_number().over(wv))
      .filter(col("ark") <= KnnProbes)
      .select(col("vec_id"), col("embedding"), col("seed_id").as("cell"))
    val S = 8
    val a = assign.select(col("cell"),
      pmod(xxhash64(col("vec_id")), lit(S)).as("salt"),
      col("vec_id").as("a_id"), col("embedding").as("va"))
    val b = assign.select(col("cell"),
      explode(array((0 until S).map(lit): _*)).as("salt"),
      col("vec_id").as("b_id"), col("embedding").as("vb"))
    val und = a.join(b, Seq("cell", "salt")).filter(col("a_id") < col("b_id"))
      .withColumn("sim", round(VectorOps.cosine(col("va"), col("vb")), 4))
      .select("a_id", "b_id", "sim").distinct()
    val dir = und.union(und.select(col("b_id"), col("a_id"), col("sim")).toDF("a_id", "b_id", "sim"))
    val w = Window.partitionBy(col("a_id")).orderBy(desc("sim"), col("b_id"))
    dir.withColumn("rk", row_number().over(w).cast(LongType))
      .filter(col("rk") <= KnnK)
      .select("a_id", "rk", "b_id", "sim")
      .orderBy("a_id", "rk")
  }
  private[queries] val s10Sql =
    s"""WITH seeds AS (
       |  SELECT vec_id AS seed_id, embedding AS sv
       |  FROM (SELECT vec_id, embedding,
       |          row_number() OVER (ORDER BY vec_id) AS rn FROM embeddings) srt
       |  WHERE rn <= (SELECT ${DedupQueries.ivfCodebookSizeSql("count(*)")} FROM embeddings)),
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
       |  WHERE ark <= $KnnProbes),
       |und AS (
       |  SELECT DISTINCT a.vec_id AS a_id, b.vec_id AS b_id,
       |    round(list_dot_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) /
       |          sqrt(list_dot_product(a.embedding::DOUBLE[], a.embedding::DOUBLE[]) *
       |               list_dot_product(b.embedding::DOUBLE[], b.embedding::DOUBLE[])), 4) AS sim
       |  FROM assign a JOIN assign b ON a.cell = b.cell AND a.vec_id < b.vec_id),
       |dir AS (
       |  SELECT a_id, b_id, sim FROM und
       |  UNION ALL
       |  SELECT b_id, a_id, sim FROM und),
       |ranked AS (
       |  SELECT a_id, b_id, sim,
       |         row_number() OVER (PARTITION BY a_id ORDER BY sim DESC, b_id) AS rk
       |  FROM dir)
       |SELECT a_id, rk, b_id, sim FROM ranked WHERE rk <= $KnnK ORDER BY a_id, rk""".stripMargin

  /** s11: ANN recall-evaluation harness — the standing quality gate an
    * index deployment runs after every build: recall@K of each
    * approximate method (s02 LSH, s03 IVF) against the s01 exact
    * ground truth, per query. Composes the REGISTERED query plans
    * themselves (not reimplementations), so the number reported is the
    * recall of exactly what ships. Scale shape: both sides are already
    * top-K-per-query relations (K·|Q| rows each), so the eval join and
    * per-query count are negligible next to the index queries they
    * grade; at 100 TB you run it on a sampled query set and the cost
    * is the ANN probes, not the comparison. The left join from the
    * exact side keeps every (method, q_id) present even at recall 0 —
    * the audit can never silently drop a failing query. */
  private val s11: Fn = (s, d) => {
    val exact = s01(s, d).select(col("q_id"), col("vec_id"))
    Seq("ivf" -> s03, "lsh" -> s02).map { case (m, fn) =>
      val approx = fn(s, d).select(col("q_id").as("aq"), col("vec_id").as("av"))
      exact.join(approx, col("q_id") === col("aq") && col("vec_id") === col("av"), "left")
        .groupBy(col("q_id"))
        .agg(count(col("av")).as("hits"))
        .withColumn("method", lit(m))
    }.reduce(_.unionByName(_))
      .withColumn("recall", round(col("hits").cast(DoubleType) / lit(K), 4))
      .select("method", "q_id", "hits", "recall")
      .orderBy("method", "q_id")
  }
  /** Oracle embeds the oracle SQL of s01/s02/s03 verbatim as
    * subqueries — the eval grades the same relations the driver
    * already hash-verifies, in both engines. */
  private def s11Sql: String = {
    def arm(m: String, approxSql: String): String =
      s"""SELECT '$m' AS method, e.q_id, count(a.vec_id) AS hits,
         |       round(CAST(count(a.vec_id) AS DOUBLE) / $K, 4) AS recall
         |FROM ($s01Sql) e LEFT JOIN ($approxSql) a
         |  ON e.q_id = a.q_id AND e.vec_id = a.vec_id
         |GROUP BY e.q_id""".stripMargin
    s"""SELECT method, q_id, hits, recall FROM (
       |${arm("ivf", s03Sql)}
       |UNION ALL
       |${arm("lsh", s02Sql)}
       |) t ORDER BY method, q_id""".stripMargin
  }

  // ---------------- s13 matryoshka truncation recall harness ----------

  /** s13: dimension-truncation recall harness — the measurement behind
    * Matryoshka-style embedding deployment (store 64 dims, serve
    * searches on a prefix): exact cosine top-K over the FIRST 16 and
    * 32 dimensions, graded against the full-width s01 ground truth per
    * query. A truncated scan reads 4x/2x less vector data; this is the
    * harness that tells you what recall that buys back. Same composed
    * shape as s11 (the ranked relations are K·|Q| rows; the cost is
    * the scans), same left-join-keeps-every-query audit property. */
  private val s13: Fn = (s, d) => {
    val exact = s01(s, d).select(col("q_id"), col("vec_id"))
    Seq(16, 32).map { dims =>
      val e = emb(s, d).select(col("vec_id"), slice(col("embedding"), 1, dims).as("embedding"))
      val q = e.filter(col("vec_id") < NumQueries)
        .select(col("vec_id").as("q_id"), col("embedding").as("qv"))
      val scored = e.join(broadcast(q), col("vec_id") =!= col("q_id"))
        .withColumn("sim", round(VectorOps.cosine(col("qv"), col("embedding")), 4))
      val w = Window.partitionBy(col("q_id")).orderBy(desc("sim"), col("vec_id"))
      val approx = scored.withColumn("rk", row_number().over(w))
        .filter(col("rk") <= K)
        .select(col("q_id").as("aq"), col("vec_id").as("av"))
      exact.join(approx, col("q_id") === col("aq") && col("vec_id") === col("av"), "left")
        .groupBy(col("q_id"))
        .agg(count(col("av")).as("hits"))
        .withColumn("dims", lit(dims))
    }.reduce(_.unionByName(_))
      .withColumn("recall", round(col("hits").cast(DoubleType) / lit(K), 4))
      .select(col("dims"), col("q_id"), col("hits"), col("recall"))
      .orderBy("dims", "q_id")
  }
  private def s13Sql: String = {
    def arm(dims: Int): String =
      s"""SELECT $dims AS dims, e.q_id, count(a.av) AS hits,
         |       round(CAST(count(a.av) AS DOUBLE) / $K, 4) AS recall
         |FROM ($s01Sql) e LEFT JOIN (
         |  SELECT q_id AS aq, vec_id AS av FROM (
         |    SELECT q.q_id, e2.vec_id,
         |      round(list_dot_product(q.qv::DOUBLE[], e2.emb::DOUBLE[]) /
         |            sqrt(list_dot_product(q.qv::DOUBLE[], q.qv::DOUBLE[]) *
         |                 list_dot_product(e2.emb::DOUBLE[], e2.emb::DOUBLE[])), 4) AS sim,
         |      row_number() OVER (PARTITION BY q.q_id
         |                         ORDER BY round(list_dot_product(q.qv::DOUBLE[], e2.emb::DOUBLE[]) /
         |                                        sqrt(list_dot_product(q.qv::DOUBLE[], q.qv::DOUBLE[]) *
         |                                             list_dot_product(e2.emb::DOUBLE[], e2.emb::DOUBLE[])), 4) DESC,
         |                         e2.vec_id) AS rk
         |    FROM (SELECT vec_id, embedding[1:$dims] AS emb FROM embeddings) e2
         |    JOIN (SELECT vec_id AS q_id, embedding[1:$dims] AS qv FROM embeddings
         |          WHERE vec_id < $NumQueries) q ON e2.vec_id <> q.q_id) t
         |  WHERE rk <= $K) a
         |  ON e.q_id = a.aq AND e.vec_id = a.av
         |GROUP BY e.q_id""".stripMargin
    s"""SELECT dims, q_id, hits, recall FROM (
       |${arm(16)}
       |UNION ALL
       |${arm(32)}
       |) t ORDER BY dims, q_id""".stripMargin
  }

  // ---------------- s12 PageRank centrality over the kNN graph --------

  val PrRounds = 8
  val PrScale = 1000000000L // ranks carried in 1e-9 fixed-point units

  /** PageRank over a directed (a_id, b_id) edge list in PURE INTEGER
    * fixed-point — no float enters the iteration, so any engine (and
    * any partitioning) replays it bit-exactly: rank r(v) in [[PrScale]]
    * units, per round r'(v) = (15%·scale)/N + 85%·Σ_{u→v} r(u) div
    * outdeg(u), every division an integral floor-div of positive longs
    * (identical semantics to DuckDB's `//`) and every sum an exact
    * integer. Fixed [[PrRounds]] rounds, no convergence action — the
    * round count is part of the operator contract so the oracle can
    * unroll it. Scale shape (the d08 iteration discipline): edges are
    * persisted once with out-degrees pre-joined; each round is ONE
    * keyed join (ranks onto edges by source) + ONE keyed aggregation
    * (contributions by destination) + a left join back onto the node
    * set — everything shuffle-keyed on vec_id, nothing single-
    * partition, AQE off during the loop because every round re-plans
    * the same two cached tiny-to-medium joins. Rank mass lost to floor
    * division (≤ outdeg ulps per node per round) stays lost on BOTH
    * sides — the scores are a deterministic total order, which is all
    * a data-selection centrality needs. Kept-node contract: nodes =
    * endpoints of the edge list; in the mirrored kNN graph every node
    * has an out-edge, so nothing dangles by construction.
    *
    * AQE stays pinned off in the loop. Reference curve for regression
    * triage (the PrProbe tool, removed after commit 2024ec5 and
    * recoverable from it; sf0.1, local[32], interleaved 3 reps, 2026-08;
    * the s12 bench band is 8.2–13.1 s):
    *   rounds=8 aqeLoop=off: 16.0 / 8.7 / 7.7 s   (median 8.7 — the
    *     shipped configuration; rep1 carries plan/codegen cold cost)
    *   rounds=8 aqeLoop=on : 35.7 / 50.6 / 30.5 s (median 35.7 — ~4×:
    *     AQE flips loop joins to broadcast and re-executes the
    *     uncached upstream chain, the trap the pin exists to close)
    *   rounds=4 aqeLoop=off: 13.4 / 5.5 / 36.9 s  (min 5.5 — loop cost
    *     scales ~linearly in rounds; the 36.9 outlier is machine
    *     drift, not plan shape — its stage profile matches the 5.5 run)
    *   rounds=4 aqeLoop=on : 9.9 / 7.4 / 31.9 s   (fewer rounds give
    *     AQE fewer flip opportunities; still dominated by variance)
    * A future s12 bench reading outside ~1.5× of the 8.7 s median with
    * THIS curve unchanged is machine noise; a reading that moves the
    * whole curve is a real plan regression. */
  private[graft] def pageRank(edgesIn: DataFrame, rounds: Int): DataFrame = {
    val s = edgesIn.sparkSession
    val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val edges0 = edgesIn.select(col("a_id"), col("b_id")).persist(lvl)
    val nodes = edges0.select(col("a_id").as("id"))
      .union(edges0.select(col("b_id").as("id"))).distinct()
      .persist(lvl)
    val n = nodes.count()
    val od = edges0.groupBy("a_id").agg(count(lit(1)).as("outdeg"))
    val edges = edges0.join(od, "a_id")
      .select(col("a_id"), col("b_id"), col("outdeg")).persist(lvl)
    edges.count() // materialize outside the AQE-off window
    val baseFp = (PrScale * 15L / 100L) / n
    // Iteration discipline, for measured reasons: the rounds compose
    // lazily but the WHOLE chain is materialized by ONE count() inside
    // the AQE-off window below — under AQE the deepening tree re-plans
    // per stage (~0.3 s/round, the d08 finding), and any round whose
    // join AQE flips to broadcast re-executes the entire uncached
    // upstream chain as a separate broadcast job (measured 13-32 s vs
    // 10 s at sf0.1). Per round ONE keyed shuffle: the source-side
    // join probes cached edges, and the keep-every-node left-join-back
    // is replaced by unioning zero-contribution node rows into the
    // same destination-keyed aggregation.
    // Size the loop shuffles to the STATE, not the session default: the
    // per-round aggregation reduces |V| rows, so 32 partitions is pure
    // task overhead for graph-sized states (measured warm at sf0.1 with
    // the 4-partition loop: s12 4.77 s → 2.91 s, t29 6.92 s → 4.72 s).
    // This is exactly the coalescing AQE would do if it were safe
    // in-loop (it isn't — the broadcast-flip trap below); the explicit
    // bound scales back up with |V| so a 100 TB graph still fans wide.
    // Both knobs apply to a PRIVATE-conf clone (LoopSession) — the
    // caller's session conf is never touched, so a concurrent query on
    // it cannot observe loop tuning (r9 verdict, conf-scope item).
    val sessParts = s.conf.get("spark.sql.shuffle.partitions", "32")
    val loopParts = math.max(4L, math.min(sessParts.toLong, n / 20000L)).toString
    val ls = LoopSession.isolated(s,
      "spark.sql.shuffle.partitions" -> loopParts, "spark.sql.adaptive.enabled" -> "false")
    val edgesL = LoopSession.rebind(ls, edges)
    val nodesL = LoopSession.rebind(ls, nodes)
    var ranks = nodesL.withColumn("r_fp", lit(PrScale / n))
    val zeroRows = nodesL.select(col("id").as("b_id"), lit(0L).as("c"))
    val mids = Seq.newBuilder[DataFrame]
    for (_ <- 1 to rounds) {
      val next = edgesL.join(ranks, col("a_id") === col("id"))
        .select(col("b_id"), expr("r_fp div outdeg").as("c"))
        .union(zeroRows)
        .groupBy("b_id").agg(sum(col("c")).as("s"))
        .select(col("b_id").as("id"),
          (lit(baseFp) + expr("(85 * s) div 100")).as("r_fp"))
        .persist(lvl)
      mids += ranks
      ranks = next
    }
    // ONE materialization for the whole chain, on the loop clone:
    // each round's output has exactly one consumer (the next
    // round), so the stages run sequentially in this single job —
    // no per-round count() jobs, no cache races, and the final
    // action outside this fn just reads the cached result. (Static
    // planning also cannot flip a loop join to broadcast here — an
    // aggregate's size estimate is unknown — so the re-executed-
    // broadcast-subtree trap documented above stays closed.)
    ranks.count()
    // after the materialization only the FINAL cached ranks are needed
    // by the caller's action — release every other cached relation so
    // repeated invocations (bench reps, probes, specs) leak one tiny
    // dataset, not four (the d08 precedent)
    mids.result().drop(1).foreach(_.unpersist(false))
    edges0.unpersist(false); edges.unpersist(false); nodes.unpersist(false)
    LoopSession.rebind(s, ranks)
      .select(col("id").as("vec_id"), col("r_fp").cast(LongType).as("pr_fp"))
      .orderBy(desc("pr_fp"), col("vec_id"))
  }

  /** s12: PageRank centrality over the s10 kNN graph — the graph-based
    * data-selection signal (central documents are representative; rank
    * deciles drive keep/downsample decisions the way quality deciles
    * drive p14's curriculum). Runs on the REGISTERED s10 edge list, so
    * the centrality graded is the graph that ships. Fully oracled: the
    * integer fixed-point iteration unrolls into one generated CTE pair
    * per round on top of s10's oracle SQL as the edge relation. */
  /** The registered s10 kNN edge list, the graph s12 ranks. */
  private def s10Edges(s: SparkSession, d: String): DataFrame =
    s10(s, d).select("a_id", "b_id")

  private val s12: Fn = (s, d) => pageRank(s10Edges(s, d), PrRounds)

  /** The [[pageRank]] iteration unrolled as generated DuckDB CTEs over
    * an arbitrary edge relation — shared by s12 and TextQueries' t29
    * TextRank so both oracles replay the SAME fixed-point kernel. The
    * caller embeds the result after `WITH ` and reads relation
    * `r<rounds>` (columns id, r). */
  private[graft] def pageRankCtes(edgesSql: String, rounds: Int): String = {
    val roundCtes = (1 to rounds).map { k =>
      s"""c$k AS (
         |  SELECT e.b_id AS id, CAST(sum(r.r // e.outdeg) AS BIGINT) AS s
         |  FROM ed e JOIN r${k - 1} r ON e.a_id = r.id GROUP BY 1),
         |r$k AS (
         |  SELECT nd.id, (${PrScale * 15L / 100L} // n.n) + (85 * COALESCE(c.s, 0)) // 100 AS r
         |  FROM nodes nd LEFT JOIN c$k c ON nd.id = c.id, n)""".stripMargin
    }
    s"""edges AS ($edgesSql),
       |nodes AS (SELECT a_id AS id FROM edges UNION SELECT b_id FROM edges),
       |n AS (SELECT count(*) AS n FROM nodes),
       |od AS (SELECT a_id, count(*) AS outdeg FROM edges GROUP BY 1),
       |ed AS (SELECT e.a_id, e.b_id, o.outdeg FROM edges e JOIN od o ON e.a_id = o.a_id),
       |r0 AS (SELECT id, $PrScale // n.n AS r FROM nodes, n),
       |${roundCtes.mkString(",\n")}""".stripMargin
  }

  private def s12Sql: String =
    s"""WITH ${pageRankCtes(s"SELECT a_id, b_id FROM ($s10Sql) t", PrRounds)}
       |SELECT id AS vec_id, CAST(r AS BIGINT) AS pr_fp FROM r$PrRounds
       |ORDER BY pr_fp DESC, vec_id""".stripMargin

  // ---------------------------- s26 k-core decomposition --------------

  val KcoreK = 2
  val KcoreRounds = 12

  /** s26: k-core peeling of the MUTUAL-kNN graph — each round
    * simultaneously removes every vertex whose degree WITHIN the
    * surviving subgraph is below [[KcoreK]], until fixpoint. The
    * k-core is the standard density filter on similarity graphs: a
    * corpus-curation pipeline keeps the dense core (well-connected,
    * representative documents) and routes the peeled fringe
    * (weakly-attached outliers) to review, and community detection
    * (s23) is routinely seeded from cores. The MUTUAL graph (edges
    * kept only when each endpoint ranks the other in its top-
    * [[KnnK]]) is the standard construction here: the one-directional
    * union graph has degree ≥ [[KnnK]] at every vertex by
    * construction, so peeling it is degenerate (all-or-nothing);
    * mutuality is what exposes the weakly-attached fringe. Output is
    * the full peel TRACE (round, survivor count, id checksum) — the
    * audit artifact, monotone by construction.
    *
    * Exactness: pure integer logic (degree counts against the alive
    * set), so both engines replay identical decisions; the trace runs
    * exactly [[KcoreRounds]] rounds in BOTH engines (rounds past the
    * fixpoint are idempotent no-ops), which keeps parity independent of
    * when convergence happens. The spec asserts the fixpoint is reached
    * with ≥2 spare rounds at every SF, so the fixed bound is a proven
    * margin rather than a hope.
    * Scale shape: the loop state is the alive vertex set — eagerly
    * checkpointed per round (see the in-body note: two structural
    * references per round make persist-only lineage double), previous
    * round released, one keyed degree shuffle per round over the
    * alive-filtered directed edge list (the [[SharedPools]] kNN
    * parquet). Per-round trace stats are 2 collected longs — nothing
    * corpus-sized ever reaches the driver. The DuckDB twin is a
    * recursive CTE whose recursive term re-derives each round's degree
    * against the previous round's survivors. */
  private val s26: Fn = (s, d) => {
    val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val knn = knnPool(s, d).select("a_id", "b_id")
    val mut = knn.join(
        knn.select(col("b_id").as("ra"), col("a_id").as("rb")),
        col("a_id") === col("ra") && col("b_id") === col("rb"))
      .filter(col("a_id") < col("b_id"))
      .select(col("a_id").as("u"), col("b_id").as("v"))
    val dir = mut.select(col("u").as("a"), col("v").as("b"))
      .unionAll(mut.select(col("v").as("a"), col("u").as("b")))
      .persist(lvl)
    // per-round survivor stats are collected eagerly (2 longs/round —
    // bounded loop-protocol state, the KMeans-centroid discipline);
    // deferring them as 1-row plans would re-replay every unpersisted
    // round's lineage at the final union
    def stat(alive: DataFrame): (Long, Long) = {
      val r = alive.agg(count(lit(1)), sum(col("x"))).head()
      (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
    }
    // UNLIKE the s12 loop (one state reference per round → linear plan
    // growth, persist suffices), the degree filter references the alive
    // set TWICE per round (both edge endpoints), so without lineage
    // truncation the logical plan doubles every round (2^12 analyzer
    // blowup, measured as a driver OOM). localCheckpoint is the local-
    // mode form of the checkpoint-to-DFS a 100 TB run would use for
    // multi-reference loop state.
    var alive = dir.select(col("a").as("x")).distinct().localCheckpoint(true)
    var trace = Vector((0L, stat(alive)))
    (1 to KcoreRounds).foreach { it =>
      val next = dir
        .join(alive.select(col("x").as("a")), "a")
        .join(alive.select(col("x").as("b")), "b")
        .groupBy(col("a").as("x")).agg(count(lit(1)).as("deg"))
        .filter(col("deg") >= KcoreK)
        .select("x")
        .localCheckpoint(true)
      alive.unpersist()
      alive = next
      trace = trace :+ ((it.toLong, stat(alive)))
    }
    alive.unpersist(); dir.unpersist()
    import s.implicits._
    trace.map { case (i, (n, c)) => (i, n, c) }
      .toDF("round", "n_alive", "id_checksum").orderBy("round")
  }

  private def s26Sql: String =
    s"""WITH RECURSIVE knn AS ($s10Sql),
       |mut AS (
       |  SELECT k1.a_id AS u, k1.b_id AS v FROM knn k1 JOIN knn k2
       |    ON k1.a_id = k2.b_id AND k1.b_id = k2.a_id
       |  WHERE k1.a_id < k1.b_id),
       |kdir AS (
       |  SELECT u AS a, v AS b FROM mut
       |  UNION ALL
       |  SELECT v AS a, u AS b FROM mut),
       |core(iter, x) AS (
       |  SELECT 0, a FROM (SELECT DISTINCT a FROM kdir) t
       |  UNION ALL
       |  SELECT c.iter + 1, c.x
       |  FROM core c
       |  WHERE c.iter < $KcoreRounds AND
       |    (SELECT count(*) FROM kdir e
       |     JOIN core c2 ON c2.iter = c.iter AND e.b = c2.x
       |     WHERE e.a = c.x) >= $KcoreK)
       |SELECT CAST(iter AS BIGINT) AS round, CAST(count(*) AS BIGINT) AS n_alive,
       |       CAST(sum(x) AS BIGINT) AS id_checksum
       |FROM core GROUP BY iter ORDER BY round""".stripMargin

  /** s14: kNN label-vote classifier — the eval loop a labeled embedding
    * corpus runs to sanity-check the encoder (neighbors sharing labels
    * = the embedding space is organized; falling accuracy after an
    * encoder change is the regression alarm). Top-K exact neighbors per
    * held-out query (s01's broadcast-scan shape — at 100 TB swap in the
    * s03 IVF candidate stage unchanged, the vote is identical), then a
    * majority vote on the neighbors' labels with a deterministic
    * (count desc, label asc) tie-break. All derived columns are exact
    * ints; the only float is the s01-proven rounded cosine. */
  private val s14: Fn = (s, d) => {
    val q = emb(s, d).filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("q_id"), col("embedding").as("qv"),
        col("label").as("true_label"))
    val scored = emb(s, d).join(broadcast(q), col("vec_id") =!= col("q_id"))
      .withColumn("sim", round(VectorOps.cosine(col("qv"), col("embedding")), 4))
    val w = Window.partitionBy(col("q_id")).orderBy(desc("sim"), col("vec_id"))
    val votes = scored.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= K)
      .groupBy(col("q_id"), col("true_label"), col("label").as("pred_label"))
      .agg(count(lit(1)).as("votes"))
    val wv = Window.partitionBy(col("q_id")).orderBy(desc("votes"), col("pred_label"))
    votes.withColumn("vr", row_number().over(wv)).filter(col("vr") === 1)
      .select(col("q_id"),
        col("true_label").cast(LongType).as("true_label"),
        col("pred_label").cast(LongType).as("pred_label"),
        col("votes"),
        (col("pred_label") === col("true_label")).cast(LongType).as("correct"))
      .orderBy("q_id")
  }
  private val s14Sql =
    s"""WITH q AS (SELECT vec_id AS q_id, embedding AS qv, label AS true_label
       |           FROM embeddings WHERE vec_id < $NumQueries),
       |scored AS (
       |  SELECT q.q_id, q.true_label, e.vec_id, e.label,
       |    round(list_dot_product(q.qv::DOUBLE[], e.embedding::DOUBLE[]) /
       |          sqrt(list_dot_product(q.qv::DOUBLE[], q.qv::DOUBLE[]) *
       |               list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[])), 4) AS sim
       |  FROM embeddings e JOIN q ON e.vec_id <> q.q_id),
       |nn AS (
       |  SELECT q_id, true_label, label FROM (
       |    SELECT q_id, true_label, vec_id, label,
       |           row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, vec_id) AS rk
       |    FROM scored) t WHERE rk <= $K),
       |votes AS (
       |  SELECT q_id, true_label, label AS pred_label, count(*) AS votes
       |  FROM nn GROUP BY q_id, true_label, label)
       |SELECT q_id, CAST(true_label AS BIGINT) AS true_label,
       |       CAST(pred_label AS BIGINT) AS pred_label, votes,
       |       CAST(CASE WHEN pred_label = true_label THEN 1 ELSE 0 END AS BIGINT) AS correct
       |FROM (SELECT *, row_number() OVER (PARTITION BY q_id
       |                                   ORDER BY votes DESC, pred_label) AS vr
       |      FROM votes) v
       |WHERE vr = 1 ORDER BY q_id""".stripMargin

  // ---------------- s19 triangle census over the kNN graph -------------

  /** s19: triangle census + global clustering coefficient over the s10
    * kNN graph — the structural-health metric of a similarity graph
    * (HNSW-style graph indexes and graph-based dedup both degrade when
    * local clustering collapses; a near-random graph clusters ≈0). This
    * COMPOSES the registered s10 plan itself (s11's precedent), so the
    * census grades exactly the graph that ships.
    *
    * Shape: node-iterator triangle join (Schank & Wagner 2005) on the
    * canonicalized undirected support — e1(u,v)⋈e2(v,w) with u<v<w,
    * closed by an (u,w) hash probe against the same edge relation.
    * Scale safety: a kNN graph has out-degree exactly K, so the edge
    * list is N·K rows, the wedge join fans out to at most Σ deg² ≤
    * (2K)·N·K rows before the closing probe, and every join is a plain
    * keyed shuffle — no vertex ever requires its full neighborhood in
    * one task beyond the bounded kNN lists (in-degree hubs are capped
    * by the candidate-generation cells upstream). Open-triad counts are
    * exact integer algebra on the degree relation; the only double is
    * the final 3T/triads division, rounded once. */
  private val s19: Fn = (s, d) => {
    // the graph comes from the shared pool (built once per JVM, plain
    // parquet scan here); the canonicalized edge set is additionally
    // persisted because it feeds FOUR consumers in THIS plan (both
    // degree branches, both wedge sides, the closing probe)
    val und = knnPool(s, d)
      .select(least(col("a_id"), col("b_id")).as("u"),
        greatest(col("a_id"), col("b_id")).as("v"))
      .distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val deg = und.select(col("u").as("x")).unionAll(und.select(col("v").as("x")))
      .groupBy("x").agg(count(lit(1)).as("deg"))
    val wedges = und.alias("e1")
      .join(und.alias("e2"), col("e1.v") === col("e2.u"))
      .select(col("e1.u").as("a"), col("e1.v").as("b"), col("e2.v").as("c"))
    val tri = wedges.join(und,
      col("a") === col("u") && col("c") === col("v"))
      .agg(count(lit(1)).as("n_triangles"))
    val stats = deg.agg(
      count(lit(1)).as("n_vertices"),
      (sum(col("deg")) / 2).cast(LongType).as("n_edges"),
      sum(col("deg") * (col("deg") - 1) / 2).cast(LongType).as("n_triads"))
    stats.crossJoin(tri)
      .select(col("n_vertices"), col("n_edges"), col("n_triangles"),
        round(lit(3L) * col("n_triangles").cast(DoubleType) / col("n_triads").cast(DoubleType), 6)
          .as("global_clustering"))
  }
  private val s19Sql =
    s"""WITH knn AS ($s10Sql),
       |und AS (
       |  SELECT DISTINCT least(a_id, b_id) AS u, greatest(a_id, b_id) AS v FROM knn),
       |deg AS (
       |  SELECT x, count(*) AS deg FROM (
       |    SELECT u AS x FROM und UNION ALL SELECT v AS x FROM und) t GROUP BY 1),
       |tri AS (
       |  SELECT count(*) AS n_triangles
       |  FROM und e1 JOIN und e2 ON e1.v = e2.u
       |       JOIN und e3 ON e3.u = e1.u AND e3.v = e2.v),
       |stats AS (
       |  SELECT count(*) AS n_vertices,
       |         CAST(sum(deg) // 2 AS BIGINT) AS n_edges,
       |         CAST(sum(deg * (deg - 1) // 2) AS BIGINT) AS n_triads
       |  FROM deg)
       |SELECT n_vertices, n_edges, n_triangles,
       |       round(3.0 * CAST(n_triangles AS DOUBLE) / CAST(n_triads AS DOUBLE), 6) AS global_clustering
       |FROM stats CROSS JOIN tri""".stripMargin

  /** s20: degree assortativity of the kNN graph — the Pearson
    * correlation of endpoint degrees over the (symmetrized) edge list,
    * Newman's r: do similar-degree vectors link to each other (hub
    * cores, r > 0) or do hubs fan out to leaves (r < 0, typical of ANN
    * graphs whose out-degree is capped at K)? The third consumer of the
    * [[SharedPools]] kNN graph, and the graph-health companion to s19's
    * clustering coefficient.
    *
    * Exactness: over the symmetrized pairs Σx = Σy and Σx² = Σy², so
    * r = (m·Σxy − (Σx)²) / (m·Σx² − (Σx)²) with every term an exact
    * integer (degrees are counts); the products ride DECIMAL(38,0) so
    * a 100 TB edge count cannot overflow either engine — ONE double
    * division + round(6) at the end.
    * Scale safety: degrees are bounded by the kNN construction (out-
    * degree exactly K, in-degree capped by the candidate cells), so
    * the degree relation is |V| rows, the two keyed joins hash-probe
    * it against the N·K edge list, and the sufficient statistics are
    * one partial-agg reduction — no window, no driver state. */
  private val s20: Fn = (s, d) => {
    val und = knnPool(s, d)
      .select(least(col("a_id"), col("b_id")).as("u"),
        greatest(col("a_id"), col("b_id")).as("v"))
      .distinct()
    val sym = und.select(col("u").as("x"), col("v").as("y"))
      .unionAll(und.select(col("v").as("x"), col("u").as("y")))
    val deg = sym.groupBy(col("x").as("id")).agg(count(lit(1)).as("deg"))
    val dec = (c: Column) => c.cast(DecimalType(38, 0))
    val pairs = sym
      .join(deg.select(col("id").as("xid"), col("deg").as("dx")), col("x") === col("xid"))
      .join(deg.select(col("id").as("yid"), col("deg").as("dy")), col("y") === col("yid"))
    val st = pairs.agg(
      count(lit(1)).as("m2"),
      sum(dec(col("dx"))).cast(DecimalType(38, 0)).as("sx"),
      sum(dec(col("dx")) * dec(col("dx"))).cast(DecimalType(38, 0)).as("sxx"),
      sum(dec(col("dx")) * dec(col("dy"))).cast(DecimalType(38, 0)).as("sxy"))
    st.select(
      floor(col("m2") / 2).cast(LongType).as("n_edges"),
      round((dec(col("m2")) * col("sxy") - col("sx") * col("sx")).cast(DoubleType) /
        (dec(col("m2")) * col("sxx") - col("sx") * col("sx")).cast(DoubleType), 6)
        .as("assortativity"))
  }
  private val s20Sql =
    s"""WITH knn AS ($s10Sql),
       |edges AS (
       |  SELECT DISTINCT least(a_id, b_id) AS u, greatest(a_id, b_id) AS v FROM knn),
       |sym AS (SELECT u AS x, v AS y FROM edges UNION ALL SELECT v, u FROM edges),
       |deg AS (SELECT x AS id, CAST(count(*) AS BIGINT) AS deg FROM sym GROUP BY x),
       |pairs AS (
       |  SELECT du.deg AS dx, dv.deg AS dy
       |  FROM sym JOIN deg du ON sym.x = du.id JOIN deg dv ON sym.y = dv.id),
       |st AS (
       |  SELECT CAST(count(*) AS BIGINT) AS m2,
       |         CAST(sum(CAST(dx AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS sx,
       |         CAST(sum(CAST(dx AS DECIMAL(38,0)) * dx) AS DECIMAL(38,0)) AS sxx,
       |         CAST(sum(CAST(dx AS DECIMAL(38,0)) * dy) AS DECIMAL(38,0)) AS sxy
       |  FROM pairs)
       |SELECT CAST(m2 // 2 AS BIGINT) AS n_edges,
       |       round(CAST(CAST(m2 AS DECIMAL(38,0)) * sxy - sx * sx AS DOUBLE) /
       |             CAST(CAST(m2 AS DECIMAL(38,0)) * sxx - sx * sx AS DOUBLE), 6) AS assortativity
       |FROM st""".stripMargin

  // ---------------- s22 Adamic-Adar link prediction ------------------

  /** s22: Adamic–Adar link prediction over the s10 kNN graph — score
    * every non-adjacent pair that shares at least one neighbor by
    * Σ_z 1/ln(deg(z)) over the common neighbors z (Adamic & Adar 2003),
    * and report the top 20 predicted links. On a similarity graph these
    * are the "missing edges" a graph-ANN index build would add next, and
    * the standard link-prediction baseline every graph stack ships.
    *
    * Exactness: degrees are exact counts; each 1/ln(deg) is truncated to
    * 1e-9 fixed point BEFORE the per-pair sum (the t14 ln discipline), so
    * summation order cannot move the hash; a common neighbor has deg ≥ 2
    * by construction so ln is never 0. Top-20 cut orders by the exact
    * fixed-point score with (a,b) tiebreaks — no window, the orderBy+limit
    * lowers to TakeOrderedAndProject (the q08 bounded-heap idiom).
    * Scale shape: the wedge join is keyed on the shared middle node and
    * fans out to Σ deg² ≤ (2K)·N·K rows on a kNN graph (out-degree K,
    * in-degree capped by the candidate cells); the existing-edge check is
    * a keyed LEFT ANTI join; degree weights are a |V|-row broadcastable
    * dimension. */
  private val s22: Fn = (s, d) => {
    val und = knnPool(s, d)
      .select(least(col("a_id"), col("b_id")).as("u"),
        greatest(col("a_id"), col("b_id")).as("v"))
      .distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val sym = und.select(col("u").as("x"), col("v").as("y"))
      .unionAll(und.select(col("v").as("x"), col("u").as("y")))
    val wfp = sym.groupBy(col("x").as("id")).agg(count(lit(1)).as("deg"))
      .withColumn("w", (lit(1.0) / log(col("deg").cast(DoubleType)) * 1e9).cast(LongType))
    val cand = sym.as("n1").join(sym.as("n2"),
        col("n1.x") === col("n2.x") && col("n1.y") < col("n2.y"))
      .select(col("n1.y").as("a"), col("n2.y").as("b"), col("n1.x").as("z"))
    val open = cand.join(und, col("a") === col("u") && col("b") === col("v"), "left_anti")
    open.join(wfp, col("z") === col("id"))
      .groupBy("a", "b")
      .agg(count(lit(1)).as("n_common"), sum(col("w")).as("score_fp"))
      .orderBy(desc("score_fp"), col("a"), col("b"))
      .limit(20)
      .select(col("a").as("a_id"), col("b").as("b_id"), col("n_common"),
        round(col("score_fp").cast(DoubleType) / 1e9, 6).as("aa_score"))
  }
  private val s22Sql =
    s"""WITH knn AS ($s10Sql),
       |und AS (
       |  SELECT DISTINCT least(a_id, b_id) AS u, greatest(a_id, b_id) AS v FROM knn),
       |sym AS (SELECT u AS x, v AS y FROM und UNION ALL SELECT v, u FROM und),
       |wfp AS (
       |  SELECT x AS id,
       |         CAST(trunc(1.0 / ln(CAST(count(*) AS DOUBLE)) * 1e9) AS BIGINT) AS w
       |  FROM sym GROUP BY x),
       |cand AS (
       |  SELECT n1.y AS a, n2.y AS b, n1.x AS z
       |  FROM sym n1 JOIN sym n2 ON n1.x = n2.x AND n1.y < n2.y),
       |open AS (
       |  SELECT c.a, c.b, c.z FROM cand c
       |  LEFT JOIN und e ON e.u = c.a AND e.v = c.b
       |  WHERE e.u IS NULL),
       |sc AS (
       |  SELECT a, b, CAST(count(*) AS BIGINT) AS n_common,
       |         CAST(sum(w) AS BIGINT) AS score_fp
       |  FROM open JOIN wfp ON open.z = wfp.id GROUP BY a, b)
       |SELECT a AS a_id, b AS b_id, n_common,
       |       round(CAST(score_fp AS DOUBLE) / 1e9, 6) AS aa_score
       |FROM sc ORDER BY score_fp DESC, a, b LIMIT 20""".stripMargin

  // ---------------- s23 label-propagation communities -----------------

  val LpaRounds = 4

  /** s23: synchronous label propagation (Raghavan et al. 2007) over the
    * s10 kNN graph — [[LpaRounds]] deterministic rounds where every node
    * adopts the most frequent label among its neighbors (smallest label
    * breaks frequency ties), starting from label = own id; output is the
    * community-size profile. The community structure of a similarity
    * graph is what semantic dedup (d11) and cluster-exemplar selection
    * (s15) consume downstream — LPA finds it without the distance
    * computations k-means needs.
    *
    * Determinism: synchronous updates + (count DESC, label ASC) tie-break
    * make every round a pure function of the previous labeling, so the
    * whole run unrolls into generated SQL CTEs (the s12/s21 discipline);
    * fixed round count sidesteps LPA's oscillation pathology.
    * Scale shape: each round is ONE keyed join of the N·2K edge list
    * against the |V|-row label relation, a (node,label)-keyed count, and
    * a node-partitioned rank — all fine-grained keys; rounds
    * persist+materialize (d08 loop discipline) so the lineage never
    * re-executes round 0 four times. */
  private val s23: Fn = (s, d) => {
    val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val und = knnPool(s, d)
      .select(least(col("a_id"), col("b_id")).as("u"),
        greatest(col("a_id"), col("b_id")).as("v"))
      .distinct()
      .persist(lvl)
    val sym = und.select(col("u").as("node"), col("v").as("nbr"))
      .unionAll(und.select(col("v").as("node"), col("u").as("nbr")))
    val wn = Window.partitionBy("node").orderBy(desc("cnt"), col("label"))
    val lab0 = sym.select(col("node")).distinct().withColumn("label", col("node"))
      .persist(lvl)
    val nNodes = lab0.count() // materializes on the caller's session
    val olds = Seq.newBuilder[DataFrame]
    // the pageRank loop-shuffle sizing discipline: the per-round
    // reductions operate on ≤ N·2K candidate rows, never the corpus —
    // applied to a private-conf clone (LoopSession), never the caller
    val sessParts = s.conf.get("spark.sql.shuffle.partitions", "32")
    val ls = LoopSession.isolated(s, "spark.sql.shuffle.partitions" ->
      math.max(4L, math.min(sessParts.toLong, nNodes / 10000L)).toString)
    val symL = LoopSession.rebind(ls, sym)
    var lab = LoopSession.rebind(ls, lab0)
    for (_ <- 1 to LpaRounds) {
      val next = symL
        .join(lab.select(col("node").as("lnode"), col("label")), col("nbr") === col("lnode"))
        .groupBy("node", "label").agg(count(lit(1)).as("cnt"))
        .withColumn("rk", row_number().over(wn))
        .filter(col("rk") === 1)
        .select("node", "label")
        .persist(lvl)
      next.count()
      olds += lab
      lab = next
    }
    val out = LoopSession.rebind(s, lab)
      .groupBy("label").agg(count(lit(1)).as("n_members")).orderBy("label")
    olds.result().foreach(_.unpersist(false))
    out
  }
  private def s23Sql: String = {
    val rounds = (1 to LpaRounds).map { k =>
      s"""c$k AS (
         |  SELECT s.node, l.label, count(*) AS cnt
         |  FROM sym s JOIN l${k - 1} l ON s.nbr = l.node GROUP BY s.node, l.label),
         |l$k AS (
         |  SELECT node, label FROM (
         |    SELECT node, label,
         |           row_number() OVER (PARTITION BY node ORDER BY cnt DESC, label) AS rk
         |    FROM c$k) t WHERE rk = 1)""".stripMargin
    }
    s"""WITH knn AS ($s10Sql),
       |und AS (
       |  SELECT DISTINCT least(a_id, b_id) AS u, greatest(a_id, b_id) AS v FROM knn),
       |sym AS (SELECT u AS node, v AS nbr FROM und UNION ALL SELECT v, u FROM und),
       |l0 AS (SELECT DISTINCT node, node AS label FROM sym),
       |${rounds.mkString(",\n")}
       |SELECT label, CAST(count(*) AS BIGINT) AS n_members
       |FROM l$LpaRounds GROUP BY label ORDER BY label""".stripMargin
  }

  // ---------------- s24 personalized PageRank ------------------------

  val PprRounds = 6
  val PprOut = 10

  /** s24: personalized PageRank from each query seed over the s10 kNN
    * graph — the random walk restarts at the SEED instead of uniformly,
    * so the stationary mass measures proximity-weighted reachability
    * from that query (the retrieval-expansion signal graph-based RAG
    * and "related items" surfaces use, where s21's beam finds the
    * geometric neighbors and PPR finds the structurally close ones).
    * Top-[[PprOut]] nodes per seed after [[PprRounds]] rounds.
    *
    * Exactness: s12's integer fixed-point discipline on a (seed, node)
    * state — r₀ = PrScale at the seed, each round adds 85% of in-edge
    * contributions (integer div by out-degree) plus the 15% restart at
    * the seed only; the whole iteration unrolls into generated SQL CTEs.
    * Scale shape (r8 verdict item 3): the state is SPARSE — only
    * (seed, node) rows with nonzero mass exist; an absent key IS zero.
    * The restart term is injected by a |Q|-row seed-keyed union (NOT a
    * |Q|·|V| dense scaffold — the previous form shuffled dead zeros
    * every round, a scale-killer at corpus |V|), and rows whose mass
    * integer-underflows to 0 are dropped so the zero frontier cannot
    * creep back. State size is Σ_q |reach_q(rounds)| — bounded by walk
    * locality, not the corpus. Every join/aggregate is fine-grained-
    * keyed, rounds compose with ONE materialization per round (the s12
    * AQE-off loop discipline); per round one keyed shuffle. */
  private val s24: Fn = (s, d) => {
    val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val edges0 = knnPool(s, d).select(col("a_id"), col("b_id")).persist(lvl)
    val nodes = edges0.select(col("a_id").as("id"))
      .union(edges0.select(col("b_id").as("id"))).distinct().persist(lvl)
    val od = edges0.groupBy("a_id").agg(count(lit(1)).as("outdeg"))
    val edges = edges0.join(od, "a_id")
      .select(col("a_id"), col("b_id"), col("outdeg")).persist(lvl)
    edges.count()
    val nNodes = nodes.count()
    val seeds = nodes.filter(col("id") < NumQueries).select(col("id").as("q_id"))
    // loop-shuffle sizing: the sparse state is at most |Q|·|V| rows
    // (reached keys only) — the dense product stays the upper bound.
    // AQE-off + sizing on a private-conf clone (LoopSession): the
    // caller's session conf is never mutated.
    val sessParts = s.conf.get("spark.sql.shuffle.partitions", "32")
    val ls = LoopSession.isolated(s,
      "spark.sql.adaptive.enabled" -> "false",
      "spark.sql.shuffle.partitions" ->
        math.max(4L, math.min(sessParts.toLong, NumQueries * nNodes / 20000L)).toString)
    val edgesL = LoopSession.rebind(ls, edges)
    val seedsL = LoopSession.rebind(ls, seeds)
    // sparse state: the only round-0 mass is PrScale at each seed
    var ranks = seedsL.select(col("q_id"), col("q_id").as("id"), lit(PrScale).as("r_fp"))
    // |Q| rows, NOT |Q|·|V|: guarantees each seed keeps a state row (the
    // restart term applies even when no in-edge reaches the seed)
    val seedZero = seedsL.select(col("q_id"), col("q_id").as("b_id"), lit(0L).as("c"))
    val mids = Seq.newBuilder[DataFrame]
    for (_ <- 1 to PprRounds) {
      val next = edgesL.join(ranks, col("a_id") === col("id"))
        .select(col("q_id"), col("b_id"), expr("r_fp div outdeg").as("c"))
        .union(seedZero)
        .groupBy("q_id", "b_id").agg(sum(col("c")).as("s"))
        .select(col("q_id"), col("b_id").as("id"),
          (when(col("q_id") === col("b_id"), lit(PrScale * 15L / 100L))
            .otherwise(lit(0L)) + expr("(85 * s) div 100")).as("r_fp"))
        .filter(col("r_fp") > 0L)
        .persist(lvl)
      mids += ranks
      ranks = next
    }
    ranks.count()
    mids.result().drop(1).foreach(_.unpersist(false))
    edges0.unpersist(false); edges.unpersist(false); nodes.unpersist(false)
    val wq = Window.partitionBy("q_id").orderBy(desc("r_fp"), col("id"))
    LoopSession.rebind(s, ranks)
      .withColumn("rk", row_number().over(wq).cast(LongType))
      .filter(col("rk") <= PprOut)
      .select(col("q_id"), col("rk"), col("id").as("vec_id"),
        col("r_fp").cast(LongType).as("ppr_fp"))
      .orderBy("q_id", "rk")
  }
  private def s24Sql: String = {
    val restart = PrScale * 15L / 100L
    // sparse-state twin of the Spark loop: contributions UNION a |Q|-row
    // seed-keyed zero (restart injection), grouped sum, positive rows only
    val rounds = (1 to PprRounds).map { k =>
      s"""c$k AS (
         |  SELECT r.q_id, e.b_id AS id, CAST(sum(r.r // e.outdeg) AS BIGINT) AS s
         |  FROM ed e JOIN r${k - 1} r ON e.a_id = r.id GROUP BY 1, 2),
         |r$k AS (
         |  SELECT q_id, id, r FROM (
         |    SELECT q_id, id,
         |           (CASE WHEN q_id = id THEN $restart ELSE 0 END) + (85 * s) // 100 AS r
         |    FROM (SELECT q_id, id, CAST(sum(s) AS BIGINT) AS s
         |          FROM (SELECT q_id, id, s FROM c$k
         |                UNION ALL SELECT q_id, q_id AS id, 0 FROM seeds) u$k
         |          GROUP BY 1, 2) g$k) f$k
         |  WHERE r > 0)""".stripMargin
    }
    s"""WITH knn AS ($s10Sql),
       |edges AS (SELECT a_id, b_id FROM knn),
       |nodes AS (SELECT a_id AS id FROM edges UNION SELECT b_id FROM edges),
       |od AS (SELECT a_id, count(*) AS outdeg FROM edges GROUP BY 1),
       |ed AS (SELECT e.a_id, e.b_id, o.outdeg FROM edges e JOIN od o ON e.a_id = o.a_id),
       |seeds AS (SELECT id AS q_id FROM nodes WHERE id < $NumQueries),
       |r0 AS (SELECT q_id, q_id AS id, $PrScale AS r FROM seeds),
       |${rounds.mkString(",\n")}
       |SELECT q_id, CAST(rk AS BIGINT) AS rk, id AS vec_id, CAST(r AS BIGINT) AS ppr_fp
       |FROM (SELECT q_id, id, r,
       |        row_number() OVER (PARTITION BY q_id ORDER BY r DESC, id) AS rk
       |      FROM r$PprRounds) t
       |WHERE rk <= $PprOut ORDER BY q_id, rk""".stripMargin
  }

  val BeamRounds = 4
  val BeamWidth = 16
  val BeamOut = 5

  /** s21: graph-ANN beam search over the s10 kNN graph — the HNSW-style
    * query path: start at a fixed entry node, repeatedly expand the
    * current beam's out-neighbors, score against the query, keep the
    * best [[BeamWidth]] per query, [[BeamRounds]] rounds, then report
    * the top-[[NumQueries]] hits. The fourth [[SharedPools]] graph
    * consumer: s10 builds the index, s19/s20 audit it, s21 QUERIES it —
    * together the full lifecycle of a graph-ANN deployment, with s11's
    * recall harness grading the result in DedupSimilaritySpec.
    *
    * Determinism/oracle: fixed entry (lowest node id), 4-dp-rounded
    * cosine with node-id tiebreaks at every beam cut, bounded rounds —
    * the whole search unrolls into generated SQL CTEs like s12's
    * PageRank. Scale shape: each round is one keyed join of the tiny
    * beam relation (|Q|·beam rows) against the edge list plus one
    * keyed embedding-lookup join — the classic "graph walk beats scan"
    * trade; rounds persist+materialize (the d08 loop discipline: the
    * beam feeds two branches per round, and a lazy chain would
    * exponentially recompute round 0). */
  private val s21: Fn = (s, d) => {
    val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val q = queriesDf(s, d)
    val edges = knnPool(s, d).select(col("a_id"), col("b_id"))
    val e = emb(s, d).select(col("vec_id").as("node"), col("embedding").as("nv"))
    val entry = edges.agg(min(col("a_id")).as("node"))
    def score(df: DataFrame): DataFrame = // (q_id, qv, node) -> + sim
      df.join(e, Seq("node"))
        .withColumn("sim", round(VectorOps.cosine(col("qv"), col("nv")), 4))
        .drop("nv")
    val wb = Window.partitionBy("q_id").orderBy(desc("sim"), col("node"))
    var beam = score(q.crossJoin(broadcast(entry))).persist(lvl)
    beam.count()
    val olds = Seq.newBuilder[DataFrame]
    // NOT loop-shuffle-downsized like s12/s23/s24: the beam relation is
    // tiny but each round's scoring join probes the corpus-sized
    // embedding relation, which wants the session's full parallelism
    // (measured: the 4-partition variant was neutral-to-worse here)
    for (_ <- 1 to BeamRounds) {
      val expanded = beam.select(col("q_id"), col("qv"), col("node"))
        .join(edges, col("node") === col("a_id"))
        .select(col("q_id"), col("qv"), col("b_id").as("node"))
        .distinct()
      val next = score(expanded).unionByName(beam)
        .dropDuplicates("q_id", "node")
        .withColumn("rk", row_number().over(wb))
        .filter(col("rk") <= BeamWidth).drop("rk")
        .persist(lvl)
      next.count()
      olds += beam
      beam = next
    }
    val out = beam.filter(col("node") =!= col("q_id"))
      .withColumn("rk", row_number().over(wb).cast(LongType))
      .filter(col("rk") <= BeamOut)
      .select(col("q_id"), col("rk"), col("node").as("vec_id"), col("sim"))
      .orderBy("q_id", "rk")
    olds.result().foreach(_.unpersist(false))
    out
  }
  private def s21Sql: String = {
    val cos = (a: String, b: String) =>
      s"""round(list_dot_product($a::DOUBLE[], $b::DOUBLE[]) /
         |      sqrt(list_dot_product($a::DOUBLE[], $a::DOUBLE[]) *
         |           list_dot_product($b::DOUBLE[], $b::DOUBLE[])), 4)""".stripMargin
    val rounds = (1 to BeamRounds).map { k =>
      s"""exp$k AS (
         |  SELECT DISTINCT b.q_id, ed.b_id AS node
         |  FROM b${k - 1} b JOIN edges ed ON b.node = ed.a_id),
         |sc$k AS (
         |  SELECT x.q_id, x.node, ${cos("q.qv", "e.embedding")} AS sim
         |  FROM exp$k x JOIN q ON q.q_id = x.q_id
         |  JOIN embeddings e ON e.vec_id = x.node),
         |u$k AS (
         |  SELECT q_id, node, sim FROM sc$k UNION
         |  SELECT q_id, node, sim FROM b${k - 1}),
         |b$k AS (
         |  SELECT q_id, node, sim FROM (
         |    SELECT q_id, node, sim,
         |           row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, node) AS rk
         |    FROM u$k) t WHERE rk <= $BeamWidth)""".stripMargin
    }
    s"""WITH knn AS ($s10Sql),
       |edges AS (SELECT a_id, b_id FROM knn),
       |q AS (SELECT vec_id AS q_id, embedding AS qv FROM embeddings WHERE vec_id < $NumQueries),
       |entry AS (SELECT min(a_id) AS node FROM edges),
       |b0 AS (
       |  SELECT q.q_id, e.vec_id AS node, ${cos("q.qv", "e.embedding")} AS sim
       |  FROM q CROSS JOIN entry JOIN embeddings e ON e.vec_id = entry.node),
       |${rounds.mkString(",\n")}
       |SELECT q_id, CAST(rk AS BIGINT) AS rk, node AS vec_id, sim FROM (
       |  SELECT q_id, node, sim,
       |         row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, node) AS rk
       |  FROM b$BeamRounds WHERE node <> q_id) t
       |WHERE rk <= $BeamOut ORDER BY q_id, rk""".stripMargin
  }

  // ---------------------------- s27 harmonic centrality ----------------

  val HarmonicRadius = 3

  /** s27: bounded-radius harmonic centrality over the MUTUAL-kNN graph —
    * H(v) = Σ_{u≠v, d(u,v)≤R} 1/d(u,v) by multi-source BFS, the standard
    * "which documents sit in locally dense, well-connected neighborhood"
    * signal (harmonic, not closeness, because the mutual graph is
    * disconnected and harmonic handles unreachable pairs by definition).
    * Complements the spectral view (s12 PageRank ranks by stationary
    * visit mass; harmonic ranks by distance-discounted reach) — curation
    * pipelines report both because they disagree on hub-adjacent
    * leaves.
    *
    * Exactness: distances are BFS hop counts (integers); the harmonic
    * sum is carried ×6 (the lcm of 1..3) so every 1/d term is integral —
    * h6 = 6·n1 + 3·n2 + 2·n3, no division anywhere.
    * Scale shape: per round ONE keyed join of the frontier against the
    * edge list and ONE (src, node) min-aggregation; the state relation
    * is bounded by n·(1+k+k²+k³) on a k-bounded mutual graph, never n².
    * Like s26, the state is referenced twice per round (frontier filter
    * + union), so each round is lineage-truncated via localCheckpoint —
    * the local-mode form of checkpoint-to-DFS. At 100 TB the radius
    * bound IS the scale control (state linear in n for bounded k), and
    * the unbounded-radius variant swaps the exact per-source set for
    * r28-style HLL counters per node (HyperBall) with the same loop
    * shape. The DuckDB twin is a recursive CTE bounded by the same
    * radius, min-dist-reduced per (src, node). */
  private val s27: Fn = (s, d) => {
    val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val knn = knnPool(s, d).select("a_id", "b_id")
    val mut = knn.join(
        knn.select(col("b_id").as("ra"), col("a_id").as("rb")),
        col("a_id") === col("ra") && col("b_id") === col("rb"))
      .filter(col("a_id") < col("b_id"))
      .select(col("a_id").as("u"), col("b_id").as("v"))
    val dir = mut.select(col("u").as("a"), col("v").as("b"))
      .unionAll(mut.select(col("v").as("a"), col("u").as("b")))
      .persist(lvl)
    var best = dir.select(col("a").as("src")).distinct()
      .select(col("src"), col("src").as("node"), lit(0).as("dist"))
      .localCheckpoint(true)
    (1 to HarmonicRadius).foreach { r =>
      val grown = best.filter(col("dist") === r - 1)
        .join(dir, col("node") === col("a"))
        .select(col("src"), col("b").as("node"), lit(r).as("dist"))
      val next = best.unionAll(grown)
        .groupBy("src", "node").agg(min(col("dist")).as("dist"))
        .localCheckpoint(true)
      best.unpersist()
      best = next
    }
    val out = best.filter(col("dist") >= 1)
      .groupBy(col("src").as("vec_id"))
      .agg(sum(when(col("dist") === 1, 1L).otherwise(0L)).cast(LongType).as("n1"),
        sum(when(col("dist") === 2, 1L).otherwise(0L)).cast(LongType).as("n2"),
        sum(when(col("dist") === 3, 1L).otherwise(0L)).cast(LongType).as("n3"))
      .withColumn("h6", (col("n1") * 6 + col("n2") * 3 + col("n3") * 2).cast(LongType))
      .orderBy(desc("h6"), col("vec_id"))
    dir.unpersist()
    out
  }

  private def s27Sql: String =
    s"""WITH RECURSIVE knn AS ($s10Sql),
       |mut AS (
       |  SELECT k1.a_id AS u, k1.b_id AS v FROM knn k1 JOIN knn k2
       |    ON k1.a_id = k2.b_id AND k1.b_id = k2.a_id
       |  WHERE k1.a_id < k1.b_id),
       |kdir AS (
       |  SELECT u AS a, v AS b FROM mut
       |  UNION ALL
       |  SELECT v AS a, u AS b FROM mut),
       |walk(src, node, dist) AS (
       |  SELECT a, a, 0 FROM (SELECT DISTINCT a FROM kdir) t
       |  UNION
       |  SELECT w.src, e.b, w.dist + 1
       |  FROM walk w JOIN kdir e ON e.a = w.node
       |  WHERE w.dist < $HarmonicRadius),
       |best AS (SELECT src, node, min(dist) AS dist FROM walk GROUP BY 1, 2)
       |SELECT src AS vec_id,
       |       CAST(sum(CASE WHEN dist = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
       |       CAST(sum(CASE WHEN dist = 2 THEN 1 ELSE 0 END) AS BIGINT) AS n2,
       |       CAST(sum(CASE WHEN dist = 3 THEN 1 ELSE 0 END) AS BIGINT) AS n3,
       |       CAST(sum(CASE WHEN dist = 1 THEN 6 WHEN dist = 2 THEN 3
       |                     WHEN dist = 3 THEN 2 ELSE 0 END) AS BIGINT) AS h6
       |FROM best WHERE dist >= 1
       |GROUP BY src ORDER BY h6 DESC, vec_id""".stripMargin

  // ---------------------------- s28 IVF nprobe sweep -------------------

  val IvfSweepProbes: Seq[Int] = Seq(1, 2, 4)

  /** s28: IVF recall-vs-nprobe sweep — recall@K of the s03 IVF kernel
    * at every probe count in [[IvfSweepProbes]] against the s01 exact
    * ground truth, per query. The tuning harness an IVF deployment runs
    * before fixing nprobe (the latency/recall dial): d19 sweeps the LSH
    * band split, s11 grades the SHIPPED configs, s28 completes the
    * family by sweeping the IVF dial itself — all three compose the
    * registered kernels rather than reimplementations, so the curves
    * describe exactly what ships.
    *
    * Exactness: membership counting on the s01/s03 outputs (both
    * oracled), one rounded recall per row; monotonicity in nprobe is
    * the spec's law (more probes can only add candidates).
    * Scale shape: each sweep point is the s03 plan (broadcast probe
    * sets, cell-keyed candidate join); the eval join runs on K·|Q|-row
    * relations. At 100 TB the sweep runs on a sampled query set and
    * its cost is the probes, not the comparison. */
  /** s28's finished sweep table through [[SharedPools]] (r8 verdict
    * item 6, the [[graft.queries.DedupQueries.lshSweepPool]] twin): the
    * per-nprobe recall harness re-ran for every consumer — s28 itself
    * plus s30's advisor — multiplying the IVF probe pipeline. The
    * result is a |probes|·|Q|-row table of exact longs + one 4dp
    * double. */
  private[queries] def ivfSweepPool(s: SparkSession, d: String): DataFrame =
    SharedPools.materialized(s, d, "ivf_sweep")(s28Built(s, d))

  private val s28: Fn = (s, d) => ivfSweepPool(s, d).orderBy("nprobe", "q_id")

  private[queries] def s28Built(s: SparkSession, d: String): DataFrame = {
    val exact = s01(s, d).select(col("q_id"), col("vec_id"))
    IvfSweepProbes.map { np =>
      val approx = ivfTopK(s, d, np).select(col("q_id").as("aq"), col("vec_id").as("av"))
      exact.join(approx, col("q_id") === col("aq") && col("vec_id") === col("av"), "left")
        .groupBy(col("q_id"))
        .agg(count(col("av")).as("hits"))
        .withColumn("nprobe", lit(np.toLong))
    }.reduce(_.unionByName(_))
      .withColumn("recall", round(col("hits").cast(DoubleType) / lit(K), 4))
      .select("nprobe", "q_id", "hits", "recall")
  }

  private def s28Sql: String = {
    val arms = IvfSweepProbes.map { np =>
      s"""SELECT CAST($np AS BIGINT) AS nprobe, e.q_id,
         |       count(a.vec_id) AS hits,
         |       round(CAST(count(a.vec_id) AS DOUBLE) / $K, 4) AS recall
         |FROM exact e LEFT JOIN (${ivfSqlFor(np)}) a
         |  ON e.q_id = a.q_id AND e.vec_id = a.vec_id
         |GROUP BY e.q_id""".stripMargin
    }
    s"""WITH exact AS ($s01Sql)
       |${arms.mkString("\nUNION ALL\n")}
       |ORDER BY nprobe, q_id""".stripMargin
  }

  val all: Seq[Q] = Seq(
    Q("s28_ivf_sweep", s28, Some(s28Sql)),
    Q("s27_harmonic_centrality", s27, Some(s27Sql)),
    Q("s25_filtered_ann", s25, Some(s25Sql)),
    Q("s24_personalized_pr", s24, Some(s24Sql)),
    Q("s26_kcore", s26, Some(s26Sql)),
    Q("s23_communities", s23, Some(s23Sql)),
    Q("s22_adamic_adar", s22, Some(s22Sql)),
    Q("s21_graph_search", s21, Some(s21Sql)),
    Q("s20_assortativity", s20, Some(s20Sql)),
    Q("s19_triangle_census", s19, Some(s19Sql)),
    Q("s14_knn_classify", s14, Some(s14Sql)),
    Q("d11_semantic_dedup", d11, Some(d11Sql(3))),
    Q("s12_pagerank", s12, Some(s12Sql)),
    Q("s13_matryoshka_recall", s13, Some(s13Sql)),
    Q("s10_knn_graph", s10, Some(s10Sql)),
    Q("s11_ann_recall", s11, Some(s11Sql)),
    Q("s09_mmr_diversified", s09, Some(s09Sql)),
    Q("s08_hard_negatives", s08, Some(s08Sql)),
    Q("s07_hybrid_rrf", s07, Some(s07Sql)),
    Q("s06_ann_pq", s06, Some(s06Sql(8, 8, 16, 2))),
    Q("s01_ann_bruteforce", s01, Some(s01Sql)),
    Q("s02_ann_lsh", s02, Some(s02Sql)),
    Q("s03_ann_ivf", s03, Some(s03Sql)),
    Q("s04_label_centroids", s04, Some(s04Sql)),
    Q("s05_ann_quantized", s05, Some(s05Sql)),
    Q("u02_kmeans_cells", (s, d) => graft.operators.KMeans.cells(emb(s, d), 8, 3), Some(u02Sql(8, 3))))

  /** Oracle for u02: replay the ENTIRE iterative Lloyd training in SQL —
    * seeds (k lowest vec_ids), then per round one argmin assignment and
    * one fixed-point mean recompute, unrolled as generated CTEs. Two
    * portability facts make the replay bit-exact: (a) the means are
    * exact fixed-point sums (order-free) followed by the same two-step
    * double division; (b) the squared-L2 argmin is a SEQUENTIAL
    * left-fold in element order on both sides — `NearestCentroid`'s
    * loop in Spark, `list_reduce` (sequential by definition — plain
    * list_sum/SUM would be free to reorder partial sums) in DuckDB —
    * so even the distances are identical doubles, and ties break to the
    * lowest cell id in both. An iterative trainer hash-verified against
    * an independent engine is the strongest determinism witness the
    * codebook artifacts (s03/s06/d09 cells) can carry. */
  /** Shared Lloyd-replay WITH-clause body (u02's pattern, reused by
    * d11): defines c0 (seed centroids), one assignment + fixed-point
    * mean recompute pair per round (a{r}/m{r}/c{r}), and `afinal` —
    * the final (vec_id, embedding, cell) assignment. */
  private def kmeansReplayCtes(seedLimit: String, iters: Int): String = {
    val dim = Dim
    def sqdist(vec: String, cent: String) =
      s"""list_reduce(list_transform(range(1, ${dim + 1}),
         |  i -> (CAST($vec[i] AS DOUBLE) - $cent[i]) * (CAST($vec[i] AS DOUBLE) - $cent[i])),
         |  (acc, x) -> acc + x)""".stripMargin
    def assignCte(a: String, cells: String) =
      s"""$a AS (SELECT vec_id, embedding, cell FROM (
         |  SELECT e.vec_id, e.embedding, c.cell,
         |         row_number() OVER (PARTITION BY e.vec_id ORDER BY
         |           ${sqdist("e.embedding", "c.c")}, c.cell) AS rk
         |  FROM embeddings e CROSS JOIN $cells c) t WHERE rk = 1)""".stripMargin
    val rounds = (1 to iters).map { r =>
      s"""${assignCte(s"a$r", s"c${r - 1}")},
         |m$r AS (
         |  SELECT cell, i AS pos,
         |    (CAST(sum(CAST(trunc(CAST(embedding[i] AS DOUBLE) * 1e9) AS BIGINT)) AS DOUBLE) / 1e9)
         |      / count(*) AS cx
         |  FROM a$r, range(1, ${dim + 1}) t(i) GROUP BY cell, i),
         |c$r AS (SELECT cell, list(cx ORDER BY pos) AS c FROM m$r GROUP BY cell)""".stripMargin
    }
    s"""c0 AS (
       |  SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INTEGER) AS cell,
       |         embedding::DOUBLE[] AS c
       |  FROM (SELECT vec_id, embedding FROM embeddings ORDER BY vec_id LIMIT $seedLimit) s),
       |${rounds.mkString(",\n")},
       |${assignCte("afinal", s"c$iters")}""".stripMargin
  }

  private def u02Sql(k: Int, iters: Int): String =
    s"""WITH ${kmeansReplayCtes(k.toString, iters)}
       |SELECT CAST(a.cell AS INTEGER) AS cell, count(*) AS n_vecs,
       |       round(any_value(c.c[1]), 6) AS c0
       |FROM afinal a JOIN c$iters c ON a.cell = c.cell
       |GROUP BY a.cell ORDER BY cell""".stripMargin
}
