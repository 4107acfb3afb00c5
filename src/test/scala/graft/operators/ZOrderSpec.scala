package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestSession
import graft.SparkTestSession.withTempDir

/** Z-order layout: data survives the rewrite intact, and the written
  * files' own min/max envelopes (what a skipping reader consults) prune
  * on EVERY clustered dimension — where the linear layout prunes on one.
  */
class ZOrderSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val sf = "/root/testdata/sf0.001"
  private val dims = Seq("l_partkey", "l_suppkey")
  private val nFiles = 16

  private def li = graft.Tables.lineitem(spark, sf)
    .select("l_orderkey", "l_linenumber", "l_partkey", "l_suppkey", "l_quantity")

  /** files whose [min,max] envelope intersects the predicate box
    * (None = no predicate on that dimension). */
  private def surviving(envs: Seq[(String, Seq[(Double, Double)])],
                        box: Seq[Option[(Double, Double)]]): Int =
    envs.count { case (_, e) =>
      e.zip(box).forall {
        case ((lo, hi), Some((qlo, qhi))) => hi >= qlo && lo <= qhi
        case (_, None) => true
      }
    }

  test("z-order round-trips the data and prunes on every dimension") {
    withTempDir("layout") { tmp =>
      val dir = tmp.toString
      Layout.zorderWrite(li, dims, s"$dir/z", nFiles)
      Layout.linearWrite(li, dims.head, s"$dir/lin", nFiles)

      // lossless rewrite
      val back = spark.read.parquet(s"$dir/z")
      assert(back.count() == li.count())
      assert(back.agg(sum(col("l_quantity").cast("decimal(20,2)"))).head.getDecimal(0) ==
        li.agg(sum(col("l_quantity").cast("decimal(20,2)"))).head.getDecimal(0))

      // low-cardinality dims can collapse quantile ranks -> empty blocks
      val zEnvs = Layout.fileEnvelopes(spark, s"$dir/z", dims)
      val linEnvs = Layout.fileEnvelopes(spark, s"$dir/lin", dims)
      assert(zEnvs.size >= nFiles / 2 && zEnvs.size <= nFiles)
      assert(linEnvs.size >= nFiles / 2 && linEnvs.size <= nFiles)

      // a ~10%-selective box on each dimension, from the data's own range
      val r = li.agg(min("l_partkey"), max("l_partkey"), min("l_suppkey"), max("l_suppkey")).head
      def box(lo: Double, hi: Double) = { val m = (lo + hi) / 2; val w = (hi - lo) / 20; (m - w, m + w) }
      val pBox = box(r.getLong(0).toDouble, r.getLong(1).toDouble)
      val sBox = box(r.getLong(2).toDouble, r.getLong(3).toDouble)

      // dim 1 only: linear is perfect here; z must still prune hard
      val zP = surviving(zEnvs, Seq(Some(pBox), None))
      assert(zP <= nFiles / 2, s"z-layout failed to prune on dim 1: $zP/$nFiles files")
      // dim 2 only: the linear layout can prune NOTHING (every file spans
      // the full suppkey range); z-order is the whole point
      val zS = surviving(zEnvs, Seq(None, Some(sBox)))
      val linS = surviving(linEnvs, Seq(None, Some(sBox)))
      assert(linS == linEnvs.size, s"fixture invalidated the premise: linear pruned dim 2 ($linS)")
      assert(zS <= nFiles / 2, s"z-layout failed to prune on dim 2: $zS/$nFiles files")
      // both dims: strictly better than either alone for z
      val zBoth = surviving(zEnvs, Seq(Some(pBox), Some(sBox)))
      assert(zBoth <= math.min(zP, zS))
    }
  }
}
