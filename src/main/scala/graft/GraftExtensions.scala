package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo
import graft.expressions.{CosineSimilarity, JaroWinkler, MinHashSignature, SimHashSignature}
import graft.plans.{BandJoinRewriteRule, GraftStrategy, TopKRewriteRule}

/** Session extensions: registers the engine's native functions for SQL
  * use, plus the whole-operator extension path — the top-k-per-group
  * optimizer rewrite ([[graft.plans.TopKRewriteRule]]) and its physical
  * strategy ([[graft.plans.GraftStrategy]]). [[GraftSession.builder]]
  * installs it for every entry point and the tests; an external session
  * can use `spark.sql.extensions=graft.GraftExtensions`.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    e.injectOptimizerRule(_ => TopKRewriteRule)
    e.injectOptimizerRule(_ => BandJoinRewriteRule)
    e.injectPlannerStrategy(_ => GraftStrategy)
    def arity(name: String, n: Int)(
        exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) = {
      require(exprs.length == n,
        s"$name expects $n argument(s), got ${exprs.length}")
      exprs
    }
    e.injectFunction((
      new FunctionIdentifier("cosine_similarity"),
      new ExpressionInfo(classOf[CosineSimilarity].getName, "cosine_similarity"),
      (exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) => {
        val a = arity("cosine_similarity", 2)(exprs); CosineSimilarity(a(0), a(1))
      }))
    e.injectFunction((
      new FunctionIdentifier("jaro_winkler"),
      new ExpressionInfo(classOf[JaroWinkler].getName, "jaro_winkler"),
      (exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) => {
        val a = arity("jaro_winkler", 2)(exprs); JaroWinkler(a(0), a(1))
      }))
    e.injectFunction((
      new FunctionIdentifier("minhash_signature"),
      new ExpressionInfo(classOf[MinHashSignature].getName, "minhash_signature"),
      (exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
        MinHashSignature(arity("minhash_signature", 1)(exprs).head)))
    e.injectFunction((
      new FunctionIdentifier("simhash64"),
      new ExpressionInfo(classOf[SimHashSignature].getName, "simhash64"),
      (exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
        SimHashSignature(arity("simhash64", 1)(exprs).head)))
    // nearest_centroid(vec, array(array(...), ...) [, offset]) — the
    // codebook must be a foldable literal (it IS the broadcast model);
    // ids are the centroid positions 0..k-1.
    e.injectFunction((
      new FunctionIdentifier("nearest_centroid"),
      new ExpressionInfo(classOf[graft.expressions.NearestCentroid].getName, "nearest_centroid"),
      (exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) => {
        require(exprs.length == 2 || exprs.length == 3,
          s"nearest_centroid expects 2-3 arguments, got ${exprs.length}")
        require(exprs(1).foldable, "nearest_centroid: centroids must be a literal array of arrays")
        val ad = exprs(1).eval().asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
        val cents = (0 until ad.numElements()).map { i =>
          val inner = ad.getArray(i)
          (0 until inner.numElements()).map(inner.getDouble).toVector
        }
        val offset = if (exprs.length == 3) {
          require(exprs(2).foldable, "nearest_centroid: offset must be a literal")
          exprs(2).eval().asInstanceOf[Number].intValue()
        } else 0
        graft.expressions.NearestCentroid(exprs.head, cents.indices, cents, offset)
      }))
  }
}
