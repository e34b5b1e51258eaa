package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo
import graft.functions.Registry

/** SparkSessionExtensions entry point: registers graft's native
  * expressions ([[Registry.functions]]) at session build time, so a
  * user can enable the whole library with
  *
  *   SparkSession.builder().withExtensions(new GraftExtensions).getOrCreate()
  *   // or: --conf spark.sql.extensions=graft.GraftExtensions
  *
  * and call e.g. `SELECT graft_dot(a, b)` from plain SQL. The runtime
  * alternative (no session rebuild needed) is
  * graft.functions.Registry.ensure(spark).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    Registry.functions.foreach { case (name, cls, builder) =>
      ext.injectFunction(
        (new FunctionIdentifier(name), new ExpressionInfo(cls.getName, name), builder))
    }
    ext.injectPlannerStrategy(_ => graft.plans.TopKPerKeyStrategy)
    ext.injectPlannerStrategy(_ => graft.plans.AsOfJoinStrategy)
    // rewrite `row_number().over(...) <= k` window top-k into the
    // bounded-buffer TopKPerKey operator (post-resolution batch; the
    // rule itself is conservative about when it fires)
    ext.injectOptimizerRule(_ => graft.plans.TopKWindowRewrite)
    // rewrite exact count(DISTINCT <integral>) into the two-level
    // bitmap aggregation (shuffle ships bitmaps, not raw ids)
    ext.injectOptimizerRule(_ => graft.plans.BitmapDistinctRewrite)
  }
}
