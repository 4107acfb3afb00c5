package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType
import graft.expressions.CosineSimilarity

/** Vector (embedding) column operations.
  *
  * Two implementations of cosine similarity ship on purpose:
  *  - [[cosineBuiltin]]: pure `zip_with`+`aggregate` composition — zero
  *    custom code, proof the semantics need no extension;
  *  - [[cosine]]: the fused codegen'd [[CosineSimilarity]] expression —
  *    the hot path for ANN/dedup (no intermediate array allocation).
  * DedupSimilaritySpec asserts they agree to 1e-12. The queries use the
  * fast one on float embeddings; s37 uses [[cosineBuiltin]] on its
  * DOUBLE centroids, whose sequential fold matches the oracle's
  * `list_dot_product`.
  */
object VectorOps {

  /** Dot product in double over float arrays, built-ins only. */
  def dotBuiltin(a: Column, b: Column): Column =
    aggregate(
      zip_with(a, b, (x, y) => x.cast(DoubleType) * y.cast(DoubleType)),
      lit(0.0), (acc, v) => acc + v)

  /** Cosine similarity from built-ins (same math order as the fused
    * expression: dot / sqrt(na * nb)). */
  def cosineBuiltin(a: Column, b: Column): Column =
    dotBuiltin(a, b) / sqrt(dotBuiltin(a, a) * dotBuiltin(b, b))

  /** Fused codegen'd cosine similarity. */
  def cosine(a: Column, b: Column): Column = {
    import org.apache.spark.sql.GraftSqlBridge
    GraftSqlBridge.column(CosineSimilarity(GraftSqlBridge.expression(a), GraftSqlBridge.expression(b)))
  }
}
