package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, IntegerType}

/** Physical-layout utilities: Z-order (Morton) clustering for
  * multi-dimensional data skipping — the write-side complement to
  * ScaleOps' bucketing.
  *
  * Why: min/max file skipping only prunes on dimensions the layout
  * sorts by. A linear sort on column A gives perfect pruning on A and
  * ZERO pruning on B (every file spans B's full range). Interleaving
  * the bits of per-column quantile ranks makes every file a tight
  * hyper-rectangle in (A, B) space, so selective predicates on EITHER
  * column (or both) prune files — the property LayoutSpec measures from
  * the written files' own min/max footers.
  *
  * Shape at scale: one `approxQuantile` pass per dimension (driver gets
  * ~buckets numbers, never data), then a map-only rank+interleave
  * projection, then ONE range shuffle on the z-value into the target
  * file count with an in-partition sort. No global sort, no second
  * pass; exactly the OPTIMIZE ZORDER shape table formats run at PB
  * scale.
  */
object Layout {

  /** Quantile-rank bucket id (0..buckets-1) of `c` given inner cut
    * points. Unrolled sum-of-flags — buckets is small (16) by design;
    * the z-value carries bits(buckets) bits per dimension. */
  private def rankExpr(c: Column, cuts: Seq[Double]): Column =
    cuts.map(b => when(c.cast(DoubleType) >= lit(b), 1).otherwise(0))
      .reduce(_ + _).cast(IntegerType)

  /** Interleave the low `bits` bits of per-dimension ranks into a
    * Morton code: dimension d contributes its bit i at position
    * i * nDims + d, so every dimension gets equal skip resolution. */
  private def morton(ranks: Seq[Column], bits: Int): Column = {
    val nDims = ranks.size
    val terms = for {
      (r, d) <- ranks.zipWithIndex
      i <- 0 until bits
    } yield shiftleft(shiftright(r, i).bitwiseAND(lit(1)), i * nDims + d)
    terms.reduce(_ + _)
  }

  /** Z-value column for `dims` over `df`, with `buckets` quantile ranks
    * per dimension (power of two). Cut points come from one
    * approxQuantile pass per dimension. */
  def zValue(df: DataFrame, dims: Seq[String], buckets: Int = 16): Column = {
    require(buckets >= 2 && (buckets & (buckets - 1)) == 0, "buckets must be a power of two")
    val bits = Integer.numberOfTrailingZeros(buckets)
    val ranks = dims.map { d =>
      val cuts = df.select(col(d).cast(DoubleType).as(d))
        .stat.approxQuantile(d, (1 until buckets).map(_.toDouble / buckets).toArray, 0.001)
      rankExpr(col(d), cuts.toSeq.distinct)
    }
    morton(ranks, bits)
  }

  /** Write `df` Z-ordered on `dims` into `nBlocks` aligned z-blocks
    * (one output dir per block, one file per block): block id = the z
    * value's high bits, so every block is an EXACTLY aligned
    * hyper-rectangle in rank space — a range shuffle would instead
    * sample arbitrary z split points that straddle block boundaries and
    * smear the per-file envelopes (measured: 10/16 files surviving a
    * 10% box vs 8/16 aligned). The shuffle is a single hash exchange on
    * the block id; within a partition rows sort by full z. */
  def zorderWrite(df: DataFrame, dims: Seq[String], path: String,
                  nBlocks: Int, buckets: Int = 16): Unit = {
    require(nBlocks >= 2 && (nBlocks & (nBlocks - 1)) == 0, "nBlocks must be a power of two")
    val bits = Integer.numberOfTrailingZeros(buckets)
    val shift = math.max(0, bits * dims.size - Integer.numberOfTrailingZeros(nBlocks))
    df.withColumn("__z", zValue(df, dims, buckets))
      .withColumn("__zb", shiftright(col("__z"), shift))
      .repartition(nBlocks, col("__zb"))
      .sortWithinPartitions("__zb", "__z")
      .drop("__z")
      .write.mode("overwrite").partitionBy("__zb").parquet(path)
  }

  /** Linear baseline for comparison: same block count, clustered on the
    * FIRST dimension only (its quantile rank as the block id). */
  def linearWrite(df: DataFrame, dim: String, path: String, nBlocks: Int): Unit = {
    df.withColumn("__zb", zValue(df, Seq(dim), nBlocks))
      .repartition(nBlocks, col("__zb"))
      .sortWithinPartitions("__zb", dim)
      .write.mode("overwrite").partitionBy("__zb").parquet(path)
  }

  /** Per-file [min,max] envelope of `dims` for every parquet part-file
    * under `path` — the exact statistics a skipping reader consults.
    * One tiny job per file; used by LayoutSpec's pruning math. */
  /** Part-file lister shared by the envelope reader, the compaction
    * planner, and their specs. Null-safe: `listFiles()` returns null on
    * an I/O error or when a directory vanishes mid-walk (normal on a
    * live table with concurrent commits) — such paths are skipped, not
    * fatal. */
  private[operators] def partFiles(path: String): Seq[java.io.File] = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) Option(f.listFiles()).map(_.toSeq).getOrElse(Seq.empty).flatMap(walk)
      else if (f.getName.startsWith("part-") && f.getName.endsWith(".parquet")) Seq(f)
      else Seq.empty
    walk(new java.io.File(path))
  }

  def fileEnvelopes(spark: org.apache.spark.sql.SparkSession, path: String,
                    dims: Seq[String]): Seq[(String, Seq[(Double, Double)])] = {
    val files = partFiles(path).map(_.getAbsolutePath).sorted
    files.map { f =>
      val aggs = dims.flatMap(d => Seq(
        min(col(d).cast(DoubleType)).as(s"${d}_min"),
        max(col(d).cast(DoubleType)).as(s"${d}_max")))
      val r = spark.read.parquet(f).agg(aggs.head, aggs.tail: _*).head
      f -> dims.indices.map(i => (r.getDouble(2 * i), r.getDouble(2 * i + 1)))
    }
  }

  /** Small-file compaction plan: group part-files into rewrite tasks of
    * ~`targetBytes` each — the table-maintenance pass that keeps a
    * continuously-ingested table (streaming sinks, p07/p10 increments)
    * scannable. A long-lived 100 TB table accretes millions of small
    * files; scan cost is then dominated by per-file open/footer overhead
    * and scheduling, not bytes, so compaction IS a scale operator.
    *
    * Deterministic first-fit-decreasing over (size desc, name) — a
    * versionable plan, not a side effect: the caller rewrites each
    * bin's files into one output (a per-bin `spark.read.parquet(bin: _*)
    * .repartition(1).write` at this size class) and publishes the
    * result with `graft.Publish.dir`. Files already ≥ `targetBytes` stay
    * solo bins (rewriting them would be pure write amplification — they
    * are listed so the caller can skip them). Planning is metadata-only:
    * no data is read. */
  def compactionPlan(path: String, targetBytes: Long): Seq[(Int, Seq[String], Long)] = {
    val files = partFiles(path)
      .map(f => (f.getAbsolutePath, f.length()))
      .sortBy { case (name, size) => (-size, name) }
    val bins = scala.collection.mutable.ArrayBuffer[(scala.collection.mutable.ArrayBuffer[String], Long)]()
    files.foreach { case (name, size) =>
      val fit = if (size >= targetBytes) -1
                else bins.indexWhere { case (_, total) => total + size <= targetBytes }
      if (fit >= 0) {
        val (members, total) = bins(fit)
        members += name
        bins(fit) = (members, total + size)
      } else bins += ((scala.collection.mutable.ArrayBuffer(name), size))
    }
    bins.zipWithIndex
      .map { case ((members, total), i) => (i, members.toSeq, total) }.toSeq
  }
}
