package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Expression}
import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate

/** graft's native Catalyst expressions as SQL functions, so they're
  * reachable through the fully-public `call_function` API (and from
  * spark.sql). One list serves both registration paths:
  * [[ensure]] at runtime and [[graft.GraftExtensions]] at session
  * build. */
object Registry {
  private def intArg(e: Expression): Int = e.eval(null).asInstanceOf[Number].intValue()

  /** (SQL name, implementing class, builder) of every graft function. */
  val functions: Seq[(String, Class[_], Seq[Expression] => Expression)] = Seq(
    ("graft_dot", classOf[DotProduct], exprs => DotProduct(exprs(0), exprs(1))),
    ("graft_minhash_sig", classOf[MinHashSignature],
      exprs => MinHashSignature(exprs(0), intArg(exprs(1)))),
    ("graft_topk_vals", classOf[TopKDistinctLongs],
      exprs => TopKDistinctLongs(exprs(0), intArg(exprs(1))).toAggregateExpression()),
    ("graft_countmin", classOf[CountMinLongs], exprs =>
      CountMinLongs(exprs(0),
        exprs(1).eval(null).toString.split(",").map(_.trim.toLong).toSeq)
        .toAggregateExpression()),
    ("graft_vec_sum", classOf[VecSumDoubles],
      exprs => VecSumDoubles(exprs(0)).toAggregateExpression()),
    // Spark's own runtime-filter bloom pair, exposed by name: the
    // aggregate IS registered upstream (bloom_filter_agg) but the probe
    // side (might_contain) is not — registering both keeps the build
    // and the screen in native, codegen'd expressions instead of a
    // Scala UDF (see Dedup.bloomIncremental).
    ("graft_bloom_agg", classOf[BloomFilterAggregate], exprs =>
      new BloomFilterAggregate(exprs(0), exprs(1), exprs(2)).toAggregateExpression()),
    ("graft_might_contain", classOf[BloomFilterMightContain],
      exprs => BloomFilterMightContain(exprs(0), exprs(1))))

  /** Registers every function on `spark`. Idempotent — call before
    * building a plan that needs them. */
  def ensure(spark: SparkSession): Unit = functions.foreach { case (name, _, builder) =>
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(name, builder, "scala_udf")
  }
}
