package graft.operators

import graft.SparkSuite
import org.apache.spark.sql.functions._

/** VERDICT r9 item 3: residual IVF-PQ at the documented seam —
  * reconstruction identity of the residual transform, and recall@5 of
  * the residual path measured against both brute force and the raw
  * encoding on the same worst-case near-orthogonal corpus. */
class ResidualPqSpec extends SparkSuite {

  private def unitCorpus = {
    graft.functions.Registry.ensure(spark)
    graft.Tables.embeddingsPar(spark, sf)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("emb"))
      .withColumn("nrm", graft.functions.Fns.norm2(col("emb")))
      .select(col("vec_id"),
        transform(col("emb"), x => x / col("nrm")).as("emb"))
      .withColumn("nrm", lit(1.0))
  }

  test("reconstruction identity: centroid + residual == vector (exact float add)") {
    val base = unitCorpus.localCheckpoint(true)
    val cents = Similarity.kmeansCentroids(base, 8, 2)
    // the frame the IVF-PQ build hands to PQ: cell-tagged residuals
    val res = Similarity.ivfPqInput(base, cents, residual = true)
    val rebuilt = res.select(col("vec_id"), col("cell"), col("emb").as("r"))
      .join(broadcast(cents.select(col("cell"), col("c_emb"))), "cell")
      .join(base.select(col("vec_id"), col("emb").as("x")), "vec_id")
      .select(col("vec_id"),
        aggregate(
          zip_with(zip_with(col("r"), col("c_emb"), (a, b) => a + b),
            col("x"), (y, x) => abs(y - x)),
          lit(0.0), (acc, d) => greatest(acc, d)).as("max_err"))
    val worst = rebuilt.agg(max(col("max_err"))).head.getDouble(0)
    // (x − c) + c differs from x only by float re-association — ~1e-16
    assert(worst < 1e-12, s"reconstruction drifted: $worst")
    assert(rebuilt.count() === base.count())
    // the raw variant encodes the unit vectors untouched
    val raw = Similarity.ivfPqInput(base, cents, residual = false)
      .join(base.select(col("vec_id"), col("emb").as("x")), "vec_id")
    assert(raw.where(col("emb") =!= col("x")).count() === 0L)
  }

  test("residual recall@5 >= raw recall@5 on the worst-case corpus (and both sane)") {
    val exact = Similarity.bruteforceTopk(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).groupBy(_._1)
      .view.mapValues(_.map(_._2).toSet).toMap
    def recall(df: org.apache.spark.sql.DataFrame): (Int, Int) = {
      val approx = df.collect()
        .map(r => (r.getLong(0), r.getLong(1))).groupBy(_._1)
        .view.mapValues(_.map(_._2).toSet).toMap
      val hits = exact.keys.toSeq
        .map(q => (approx.getOrElse(q, Set.empty) & exact(q)).size).sum
      (hits, exact.values.map(_.size).sum)
    }
    val (rawHits, total) = recall(Similarity.ivfPqTopk(spark, sf, residual = false))
    val (resHits, _) = recall(Similarity.ivfPqTopk(spark, sf))
    info(s"ivf_pq recall@5: raw $rawHits/$total, residual $resHits/$total")
    assert(resHits >= rawHits,
      s"residual encoding must not lose recall: raw $rawHits, residual $resHits")
    assert(resHits * 10 >= total * 5, s"residual recall floor: $resHits/$total")
  }
}
