package graft.tools

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** 10× scale-proof fixture builder (r7 verdict item 5).
  *
  * The 100 TB claims rest on plan-shape arguments; this tool makes them
  * EMPIRICAL: it replicates the sf0.1 fixture `copies` times with key
  * domains remapped so cardinalities actually scale (a naive UNION ALL
  * of identical rows would multiply duplicate density instead of corpus
  * size, and every dedup/similarity query would measure a fixture
  * artifact, not a plan). `graft.Bench` then times the top-cost queries
  * on the result; BENCH_sf1.json records per-query scaling ratios vs
  * sf0.1 — anything super-linear past the query's documented complexity
  * is a plan bug to triage, not noise.
  *
  * Replication discipline, per table:
  *  - dimensions (region, nation) are NOT replicated — a corpus growing
  *    10× does not grow its region dimension (and r113's C(series,2)
  *    gate depends on that staying true);
  *  - every fact/entity key shifts by a per-table stride × copy index,
  *    and every FOREIGN key shifts by the SAME stride so join fan-out
  *    per key is preserved exactly (10× keys, constant matches/key);
  *  - document text is token-SHUFFLED per copy (deterministic md5 sort
  *    key over (token, position, copy)): unigram mass, token counts,
  *    and char lengths are preserved (t-query work character), while
  *    bigrams/shingles/fingerprints across copies are destroyed — so
  *    near-dup density per doc stays ~constant instead of every doc
  *    acquiring 9 planted near-copies (which would blow candidate pair
  *    joins quadratically BY CONSTRUCTION and measure nothing);
  *    copy 0 keeps the original text byte-for-byte;
  *  - embeddings are component-ROTATED per copy (norm-preserving, and
  *    cosine between distinct rotations of the same vector is ~0 for
  *    these synthetic vectors): vector count scales, neighborhood
  *    density stays ~constant; copy 0 keeps the original vectors.
  *
  * Doc-id stride is 1e6, far below the 1e9 probe-id offset m10/m14
  * plant — replicated ids stay in the "real asset" id space.
  *
  * Usage: ScaleUp <srcDir> <dstDir> [copies=10]
  */
object ScaleUp {
  private val DocStride = 1000000L
  private val OrderStride = 10000000L
  private val CustStride = 1000000L
  private val PartStride = 1000000L
  private val SuppStride = 100000L
  private val EventStride = 10000000L
  private val UserStride = 1000000L
  private val VecStride = 1000000L

  def main(args: Array[String]): Unit = {
    val src = args(0)
    val dst = args(1)
    val copies = if (args.length > 2) args(2).toInt else 10
    val spark = graft.GraftSession.start()

    def read(t: String) = spark.read.parquet(s"$src/$t.parquet")
    def write(df: DataFrame, t: String): Unit = {
      df.write.mode("overwrite").parquet(s"$dst/$t.parquet")
      println(s"[scaleup] $t: ${spark.read.parquet(s"$dst/$t.parquet").count()} rows")
    }
    def shifted(df: DataFrame)(cols: (String, Long)*): DataFrame =
      (0 until copies).map { i =>
        cols.foldLeft(df) { case (acc, (c, stride)) =>
          acc.withColumn(c, col(c) + lit(stride * i))
        }
      }.reduce(_ unionByName _)

    // dimensions: copied verbatim (cardinality does not scale)
    write(read("region"), "region")
    write(read("nation"), "nation")

    write(shifted(read("customer"))("c_custkey" -> CustStride), "customer")
    write(shifted(read("supplier"))("s_suppkey" -> SuppStride), "supplier")
    write(shifted(read("part"))("p_partkey" -> PartStride), "part")
    write(shifted(read("orders"))(
      "o_orderkey" -> OrderStride, "o_custkey" -> CustStride), "orders")
    write(shifted(read("lineitem"))(
      "l_orderkey" -> OrderStride, "l_partkey" -> PartStride,
      "l_suppkey" -> SuppStride), "lineitem")
    write(shifted(read("events"))(
      "event_id" -> EventStride, "user_id" -> UserStride), "events")

    // documents: keys shift; text token-shuffled per copy (copy 0 verbatim)
    val docs = read("documents")
    val docCopies = (0 until copies).map { i =>
      val base = docs.withColumn("doc_id", col("doc_id") + lit(DocStride * i))
      if (i == 0) base
      else base.withColumn("text",
        array_join(
          transform(
            array_sort(
              zip_with(
                split(col("text"), " "),
                sequence(lit(1), size(split(col("text"), " "))),
                (t: Column, p: Column) =>
                  struct(md5(concat_ws("#", t, p, lit(i))).as("h"), t.as("t")))),
            s => s.getField("t")),
          " "))
    }.reduce(_ unionByName _)
    write(docCopies.withColumn("n_chars", length(col("text")).cast("long")), "documents")

    // embeddings: keys shift; vectors rotated by copy index (copy 0 verbatim)
    val emb = read("embeddings")
    val embCopies = (0 until copies).map { i =>
      val base = emb.withColumn("vec_id", col("vec_id") + lit(VecStride * i))
      if (i == 0) base
      else base.withColumn("embedding",
        transform(sequence(lit(0), size(col("embedding")) - 1),
          j => element_at(col("embedding"),
            ((j + lit(i)) % size(col("embedding"))) + 1)))
    }.reduce(_ unionByName _)
    write(embCopies, "embeddings")

    spark.stop()
  }
}
