package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{BinaryType, DoubleType, IntegerType, LongType}
import graft.Tables
import graft.functions.PortableHash.md5PrefixSql
import graft.functions.{DetHash, VectorOps}
import graft.queries.Relational.{Fn, Q}

/** Round-9 batch 25: index/state maintenance + curation algebra —
  * horizon-bounded dedup (the TTL form every always-on ingest needs),
  * cluster-size-weighted soft dedup (SemDeDup-style keep-probability),
  * tombstone-aware ANN search (index deletions without a rebuild),
  * payload-integrity audit (manifest-vs-blob reconciliation), and the
  * percent-of-parent OLAP rollup.
  */
object ExtraQueries23 {

  private def docs(s: SparkSession, d: String): DataFrame = Tables.documents(s, d)

  // --------------------- d26 horizon-bounded exact dedup

  /** Ingest-order horizon (doc_id units) within which a repeated payload
    * counts as a duplicate. Sized to the fixture's duplicate-gap
    * distribution so BOTH arms are exercised: some repeats fall inside
    * the horizon (dropped) and some outside (kept as fresh). */
  val DedupHorizon = 200L

  /** d26: horizon-bounded exact dedup — d01's TTL form. An always-on
    * ingest cannot keep every content hash forever (state grows without
    * bound, and re-posted content SHOULD re-enter a training corpus
    * eventually — freshness is the point of re-crawls); production
    * dedup therefore bounds the memory: a doc is dropped only if the
    * same content fingerprint was already seen within the trailing
    * [[DedupHorizon]] of the ingest order (doc_id — the fixture's
    * arrival axis). The fingerprint is the md5 of the first 100 chars —
    * the cheap first-pass key a crawl dedup runs before any shingling
    * (d01's full-text hash is the zero-false-positive form; a prefix
    * fingerprint trades a few false positives for hashing a bounded
    * slice of each blob). Output: the dropped rows with the covering
    * prior sighting and the gap.
    *
    * Exactness: md5 prefix hash (engine-portable), integer gaps.
    * Scale shape: ONE hash-keyed window (lag over doc_id within each
    * content hash) — never a self-join; the window partition is the
    * duplicate family, bounded by duplication depth, not the corpus.
    * The streaming twin ([[graft.streaming.StreamingOps]]
    * horizonDedupStream) carries ONE (last-seen id) value per LIVE
    * hash — the O(1)-per-key state this horizon semantics exists to
    * permit. */
  private val d26: Fn = (s, d) => {
    val w = Window.partitionBy("h").orderBy("doc_id")
    docs(s, d)
      .select(col("doc_id"), md5(substring(col("text"), 1, 100)).as("h"))
      .withColumn("prev_id", lag(col("doc_id"), 1).over(w))
      .withColumn("gap", (col("doc_id") - col("prev_id")).cast(LongType))
      .filter(col("prev_id").isNotNull && col("gap") <= DedupHorizon)
      .select(col("doc_id"), col("prev_id").as("first_seen"), col("gap"))
      .orderBy("doc_id")
  }
  private val d26Sql =
    s"""SELECT doc_id, prev_id AS first_seen, CAST(doc_id - prev_id AS BIGINT) AS gap
       |FROM (
       |  SELECT doc_id,
       |         lag(doc_id) OVER (PARTITION BY md5(substring(text, 1, 100)) ORDER BY doc_id) AS prev_id
       |  FROM documents) t
       |WHERE prev_id IS NOT NULL AND doc_id - prev_id <= $DedupHorizon
       |ORDER BY doc_id""".stripMargin

  // --------------------- p31 cluster-size-weighted soft dedup

  /** p31: SemDeDup-style SOFT dedup — instead of keeping exactly one
    * doc per d08 near-dup cluster (hard dedup discards genuine intra-
    * cluster variation), every member survives with probability 1/k for
    * a size-k cluster: the EXPECTED contribution of each duplicated
    * content family equals one document, but which variant survives
    * varies by family, preserving diversity. The keeper (min id) is
    * always kept so no family can vanish outright; singletons pass
    * untouched. Determinism: the keep coin is an md5 bucket mod the
    * cluster size (the p01/p05 portable-hash discipline — rerun-stable
    * at any parallelism, replayable by the oracle), NOT an RNG.
    *
    * Scale shape: composes the POOLED d08 cluster map (members explode
    * from the cluster grain — family-sized, not corpus-sized), one
    * broadcastable anti-join-free union with the singleton remainder
    * via a left join on the exploded membership. */
  private val p31: Fn = (s, d) => {
    val members = DedupQueries.clusterPool(s, d)
      .select(col("cluster"), col("n_docs"),
        explode(split(col("members"), ",")).as("m"))
      .select(col("m").cast(LongType).as("doc_id"), col("cluster"), col("n_docs"))
    docs(s, d).select(col("doc_id"))
      .join(members, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("cluster"), col("doc_id")).as("cluster"),
        coalesce(col("n_docs"), lit(1L)).cast(LongType).as("n_docs"))
      .withColumn("kept",
        col("doc_id") === col("cluster") ||
          (DetHash.coin(col("doc_id"), "soft:") % col("n_docs")) === 0L)
      .orderBy("doc_id")
  }
  private def p31Sql =
    s"""WITH RECURSIVE ${DedupQueries.closureCtes},
       |fam AS (
       |  SELECT cluster, CAST(count(*) AS BIGINT) AS n_docs FROM comp GROUP BY 1)
       |SELECT d.doc_id,
       |       COALESCE(c.cluster, d.doc_id) AS cluster,
       |       COALESCE(f.n_docs, 1) AS n_docs,
       |       (d.doc_id = COALESCE(c.cluster, d.doc_id)
       |        OR CAST(${md5PrefixSql("concat('soft:', CAST(d.doc_id AS VARCHAR))", 6)}
       |           % COALESCE(f.n_docs, 1) AS BIGINT) = 0) AS kept
       |FROM documents d
       |LEFT JOIN comp c ON d.doc_id = c.id
       |LEFT JOIN fam f ON c.cluster = f.cluster
       |ORDER BY d.doc_id""".stripMargin

  // --------------------- s31 tombstone-aware ANN search

  /** Every 7th vector (vec_id % 7 == 3) is deleted — the tombstone set. */
  private def deletedPred = pmod(col("vec_id"), lit(7)) === 3

  val TombK = 5
  val TombProbes = 2
  val TombQueries = 10

  /** s31: tombstone-aware IVF search — deletions WITHOUT an index
    * rebuild, the operation every live vector store performs between
    * compactions: the codebook (seed geometry) is immutable, the
    * tombstone mask is applied to the POSTING LISTS at scan time, so a
    * deleted vector can never surface while the index files stay
    * untouched. Deleted query ids do not issue searches. Results
    * backfill naturally: top-[[TombK]] ranks over the surviving
    * candidates, so positions freed by deleted vectors are taken by the
    * next-nearest survivors rather than left as holes.
    *
    * Exactness: the d09/s03 deterministic-cell discipline (lowest-id
    * seeds, 4dp-rounded cosine, id tiebreaks) — fully oracled.
    * Scale shape: tombstones are a PREDICATE pushed into the posting
    * scan (at a real store, a bitmap or anti-join against a tombstone
    * table); assignment stays map-only over survivors, one cell-keyed
    * join, per-query bounded rank. */
  private val s31: Fn = (s, d) => {
    val e = Tables.embeddings(s, d)
    // the codebook is built from the FULL corpus (it predates the
    // deletions — seed geometry is immutable between rebuilds)
    val seeds = e.orderBy("vec_id").limit(8)
      .select(col("vec_id").as("seed_id"), col("embedding").as("sv"))
    val live = e.filter(!deletedPred)
    val assign = live.crossJoin(broadcast(seeds))
      .withColumn("csim", round(VectorOps.cosine(col("embedding"), col("sv")), 4))
      .withColumn("ark", row_number().over(
        Window.partitionBy("vec_id").orderBy(desc("csim"), col("seed_id"))))
      .filter(col("ark") <= TombProbes)
      .select(col("seed_id").as("cell"), col("vec_id"), col("embedding"))
    val queries = e.filter(col("vec_id") < TombQueries && !deletedPred)
      .select(col("vec_id").as("q_id"), col("embedding").as("qv"))
    val qcells = queries.crossJoin(broadcast(seeds))
      .withColumn("csim", round(VectorOps.cosine(col("qv"), col("sv")), 4))
      .withColumn("qrk", row_number().over(
        Window.partitionBy("q_id").orderBy(desc("csim"), col("seed_id"))))
      .filter(col("qrk") <= TombProbes)
      .select(col("q_id"), col("qv"), col("seed_id").as("cell"))
    val scored = qcells.join(assign, Seq("cell"))
      .filter(col("q_id") =!= col("vec_id"))
      .withColumn("sim", round(VectorOps.cosine(col("qv"), col("embedding")), 4))
      .select("q_id", "vec_id", "sim").distinct()
    scored.withColumn("rk", row_number().over(
        Window.partitionBy("q_id").orderBy(desc("sim"), col("vec_id"))).cast(LongType))
      .filter(col("rk") <= TombK)
      .select("q_id", "rk", "vec_id", "sim")
      .orderBy("q_id", "rk")
  }
  private def s31Sql =
    s"""WITH seeds AS (
       |  SELECT vec_id AS seed_id, embedding AS sv
       |  FROM embeddings ORDER BY vec_id LIMIT 8),
       |live AS (SELECT * FROM embeddings WHERE vec_id % 7 <> 3),
       |assign AS (
       |  SELECT seed_id AS cell, vec_id, embedding FROM (
       |    SELECT e.vec_id, e.embedding, s.seed_id,
       |           row_number() OVER (PARTITION BY e.vec_id ORDER BY
       |             round(list_dot_product(e.embedding::DOUBLE[], s.sv::DOUBLE[]) /
       |                   sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[]) *
       |                        list_dot_product(s.sv::DOUBLE[], s.sv::DOUBLE[])), 4) DESC,
       |             s.seed_id) AS ark
       |    FROM live e CROSS JOIN seeds s) t
       |  WHERE ark <= $TombProbes),
       |queries AS (
       |  SELECT vec_id AS q_id, embedding AS qv FROM live WHERE vec_id < $TombQueries),
       |qcells AS (
       |  SELECT q_id, qv, seed_id AS cell FROM (
       |    SELECT q.q_id, q.qv, s.seed_id,
       |           row_number() OVER (PARTITION BY q.q_id ORDER BY
       |             round(list_dot_product(q.qv::DOUBLE[], s.sv::DOUBLE[]) /
       |                   sqrt(list_dot_product(q.qv::DOUBLE[], q.qv::DOUBLE[]) *
       |                        list_dot_product(s.sv::DOUBLE[], s.sv::DOUBLE[])), 4) DESC,
       |             s.seed_id) AS qrk
       |    FROM queries q CROSS JOIN seeds s) t
       |  WHERE qrk <= $TombProbes),
       |scored AS (
       |  SELECT DISTINCT qc.q_id, a.vec_id,
       |         round(list_dot_product(qc.qv::DOUBLE[], a.embedding::DOUBLE[]) /
       |               sqrt(list_dot_product(qc.qv::DOUBLE[], qc.qv::DOUBLE[]) *
       |                    list_dot_product(a.embedding::DOUBLE[], a.embedding::DOUBLE[])), 4) AS sim
       |  FROM qcells qc JOIN assign a ON qc.cell = a.cell
       |  WHERE qc.q_id <> a.vec_id)
       |SELECT q_id, CAST(rk AS BIGINT) AS rk, vec_id, sim
       |FROM (SELECT q_id, vec_id, sim,
       |        row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, vec_id) AS rk
       |      FROM scored) t
       |WHERE rk <= $TombK
       |ORDER BY q_id, rk""".stripMargin

  // --------------------- m20 payload-integrity audit

  /** m20: manifest-vs-blob integrity reconciliation — after any bulk
    * media copy, the byte count the MANIFEST promises must equal the
    * bytes the BLOB actually holds (truncated multipart uploads are the
    * classic silent corruption: the object exists, opens, and is
    * short). Fault injection follows the m10 planted-probe precedent:
    * every 13th asset's payload is truncated to half, so the audit's
    * detection arm is exercised and graded, not just compiled. Output:
    * one verdict per asset + the exact byte delta.
    *
    * Exactness: integer byte lengths (the fixture text is ASCII, so
    * char length == byte length on both engines). Scale shape: pure
    * per-row projections on binary columns (substr/length over the
    * payload — the blob never leaves the executor), no shuffle before
    * the output sort. */
  private val m20: Fn = (s, d) => {
    val assets = graft.multimodal.Multimodal.attachPayload(docs(s, d))
    val planted = assets.select(
      col("doc_id"),
      col("meta.mime").as("mime"),
      col("meta.n_bytes").cast(LongType).as("manifest_bytes"),
      when(pmod(col("doc_id"), lit(13)) === 5,
          col("payload").substr(lit(1), (length(col("payload")) / 2).cast(IntegerType)))
        .otherwise(col("payload")).as("payload"))
    planted
      .withColumn("actual_bytes", length(col("payload")).cast(LongType))
      .withColumn("delta", (col("manifest_bytes") - col("actual_bytes")).cast(LongType))
      .withColumn("verdict", when(col("delta") === 0, "ok").otherwise("truncated"))
      .select("doc_id", "mime", "manifest_bytes", "actual_bytes", "delta", "verdict")
      .orderBy("doc_id")
  }
  private def m20Sql =
    """SELECT doc_id, mime, manifest_bytes, actual_bytes,
      |       CAST(manifest_bytes - actual_bytes AS BIGINT) AS delta,
      |       CASE WHEN manifest_bytes = actual_bytes THEN 'ok' ELSE 'truncated' END AS verdict
      |FROM (
      |  SELECT doc_id,
      |         CASE WHEN source = 'src0' THEN 'image/png'
      |              WHEN source = 'src1' THEN 'audio/wav'
      |              ELSE 'video/mp4' END AS mime,
      |         CAST(strlen(text) AS BIGINT) AS manifest_bytes,
      |         CAST(CASE WHEN doc_id % 13 = 5 THEN strlen(text) // 2
      |              ELSE strlen(text) END AS BIGINT) AS actual_bytes
      |  FROM documents) t
      |ORDER BY doc_id""".stripMargin

  // --------------------- r121 percent-of-parent rollup

  /** r121: percent-of-parent hierarchical rollup — each nation's revenue
    * as a share of its region and each region's share of the corpus:
    * the drill-down companion to q15's rollup (which gives the LEVELS;
    * this gives the RATIOS a report renders next to them). Exactness:
    * DECIMAL-exact revenue sums; each share is ONE double division of
    * exact operands rounded once (r55's market-share discipline — the
    * unscaled sums stay far inside 2^53, so the doubles are identical
    * across engines). Scale shape: one keyed aggregation to the
    * (region, nation) grain, then two window sums over the ≤|nations|
    * aggregate — series-sized, never the fact table. */
  private val r121: Fn = (s, d) => {
    val grain = Tables.orders(s, d)
      .join(Tables.customer(s, d), col("o_custkey") === col("c_custkey"))
      .join(Tables.nation(s, d), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(Tables.region(s, d)), col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("r_name").as("region"), col("n_name").as("nation"))
      .agg(sum(col("o_totalprice")).as("rev"))
    val wr = Window.partitionBy("region")
    val wall = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    grain
      .withColumn("region_rev", sum(col("rev")).over(wr))
      .withColumn("total_rev", sum(col("rev")).over(wall))
      .select(col("region"), col("nation"),
        col("rev").cast(DoubleType).as("revenue"),
        round(col("rev").cast(DoubleType) / col("region_rev").cast(DoubleType), 6)
          .as("pct_of_region"),
        round(col("rev").cast(DoubleType) / col("total_rev").cast(DoubleType), 6)
          .as("pct_of_total"))
      .orderBy("region", "nation")
  }
  private val r121Sql =
    """WITH grain AS (
      |  SELECT r.r_name AS region, n.n_name AS nation, sum(o.o_totalprice) AS rev
      |  FROM orders o
      |  JOIN customer c ON o.o_custkey = c.c_custkey
      |  JOIN nation n ON c.c_nationkey = n.n_nationkey
      |  JOIN region r ON n.n_regionkey = r.r_regionkey
      |  GROUP BY 1, 2)
      |SELECT region, nation,
      |       CAST(rev AS DOUBLE) AS revenue,
      |       round(CAST(rev AS DOUBLE) / CAST(sum(rev) OVER (PARTITION BY region) AS DOUBLE), 6) AS pct_of_region,
      |       round(CAST(rev AS DOUBLE) / CAST(sum(rev) OVER () AS DOUBLE), 6) AS pct_of_total
      |FROM grain
      |ORDER BY region, nation""".stripMargin

  val all: Seq[Q] = Seq(
    Q("d26_horizon_dedup", d26, Some(d26Sql)),
    Q("p31_cluster_downsample", p31, Some(p31Sql)),
    Q("s31_ann_tombstones", s31, Some(s31Sql)),
    Q("m20_payload_integrity", m20, Some(m20Sql)),
    Q("r121_pct_of_parent", r121, Some(r121Sql)))
}
