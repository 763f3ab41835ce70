package graft.functions

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** SparkSessionExtensions entry point: registers the engine's native
  * Catalyst expressions as SQL functions, so `spark.sql("... cosine_sim
  * (a, b) ...")` works in any session built with
  * `.withExtensions(new GraftExtensions)` — or via
  * `spark.sql.extensions=graft.functions.GraftExtensions` on a cluster.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    e.injectFunction((
      new FunctionIdentifier("cosine_sim"),
      new ExpressionInfo(classOf[CosineSimilarity].getName, "cosine_sim"),
      (args: Seq[Expression]) => CosineSimilarity(args(0), args(1))))
    e.injectFunction((
      new FunctionIdentifier("cosine_sim_exact"),
      new ExpressionInfo(classOf[ScaledIntCosine].getName, "cosine_sim_exact"),
      (args: Seq[Expression]) => ScaledIntCosine(args(0), args(1))))
    e.injectFunction((
      new FunctionIdentifier("zorder_key"),
      new ExpressionInfo(classOf[ZOrderKey].getName, "zorder_key"),
      (args: Seq[Expression]) => ZOrderKey(args(0), args(1))))
    // nearest_cells(vec, array(array<float>...), n): the centroid model
    // must be a foldable literal — it is evaluated ONCE at plan build
    // into the expression's reference object, exactly like the Column
    // API path bakes in a trained model
    e.injectFunction((
      new FunctionIdentifier("nearest_cells"),
      new ExpressionInfo(classOf[NearestCentroids].getName, "nearest_cells"),
      (args: Seq[Expression]) => {
        require(args.length == 3 && args(1).foldable && args(2).foldable,
          "nearest_cells(vec, <literal array<array<float>> centroids>, <literal int n>)")
        val arr = args(1).eval()
          .asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
        val centroids = (0 until arr.numElements())
          .map(i => arr.getArray(i).toFloatArray()).toArray
        NearestCentroids(args(0), centroids.indices.toArray, centroids,
          args(2).eval().asInstanceOf[Int])
      }))
    e.injectFunction((
      new FunctionIdentifier("jaro_winkler"),
      new ExpressionInfo(classOf[JaroWinkler].getName, "jaro_winkler"),
      (args: Seq[Expression]) => JaroWinkler(args(0), args(1))))
  }
}
