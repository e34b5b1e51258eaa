package graft.operators

import graft.SparkSuite
import graft.functions.{MinHashSignature, Registry}
import graft.functions.Fns._
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The native [[MinHashSignature]] expression against the plan it
  * replaced: k `min(affineHash(h, i))` aggregates over the exploded
  * hashes, grouped by doc. That plan is kept here, and only here, as
  * the reference. Every case runs through whole-stage codegen (no
  * interpreted fallback), through the interpreted `eval` path, and
  * through SQL `graft_minhash_sig`. */
class MinHashSignatureSpec extends SparkSuite {
  private val k = 96
  private val top = (1L << 31) - 1

  /** The signature table as it was built before the native
    * expression: explode, then k min aggregates, then one array. */
  private def reference(df: DataFrame): Map[Long, Seq[java.lang.Long]] = {
    val mins = (0 until k).map(i => min(affineHash(col("h0"), i)).as(s"m$i"))
    df.select(col("id"), explode(col("hs")).as("h0"))
      .groupBy(col("id")).agg(mins.head, mins.tail: _*)
      .select(col("id"), array((0 until k).map(i => col(s"m$i")): _*))
      .collect().map(r => r.getLong(0) -> r.getSeq[java.lang.Long](1)).toMap
  }

  private def collectSigs(df: DataFrame): Map[Long, Seq[java.lang.Long]] =
    df.collect().map(r => r.getLong(0) ->
      (if (r.isNullAt(1)) null else r.getSeq[java.lang.Long](1))).toMap

  private val schema = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("hs", ArrayType(LongType, containsNull = true))))

  /** Generated hash arrays plus the edge cases. Built from an RDD so the
    * projection runs in a physical plan, not folded over a local
    * relation by the optimizer. */
  private lazy val input: DataFrame = {
    val rnd = new scala.util.Random(20261019L)
    val generated = (0 until 200).map { id =>
      val n = rnd.nextInt(40)
      val hs = Seq.fill(n)(rnd.nextInt(10) match {
        case 0 => null
        case 1 => java.lang.Long.valueOf(0L)
        case 2 => java.lang.Long.valueOf(top)
        case _ => java.lang.Long.valueOf(rnd.nextLong(1L << 31))
      })
      // duplicates: repeat a prefix of the doc's own hashes
      Row(id.toLong, hs ++ hs.take(rnd.nextInt(3)))
    }
    val edges = Seq(
      Row(1000L, Seq.empty[java.lang.Long]),
      Row(1001L, null),
      Row(1002L, Seq[java.lang.Long](null, null)),
      Row(1003L, Seq[java.lang.Long](0L)),
      Row(1004L, Seq[java.lang.Long](top)),
      Row(1005L, Seq[java.lang.Long](7L, 7L, 7L)),
      Row(1006L, Seq[java.lang.Long](null, top, null, 0L)))
    spark.createDataFrame(spark.sparkContext.parallelize(generated ++ edges, 3), schema)
  }

  /** Only docs with a non-null hash have a minimum. The reference plan
    * drops null and empty arrays in its explode and gives an all-null
    * array a row of nulls; the expression gives null for all three. */
  private lazy val expected: Map[Long, Seq[java.lang.Long]] =
    reference(input).filter { case (_, sig) => sig.exists(_ != null) }

  private def withConfs[T](confs: (String, String)*)(body: => T): T = {
    val prev = confs.map { case (key, _) => key -> spark.conf.getOption(key) }
    confs.foreach { case (key, v) => spark.conf.set(key, v) }
    try body
    finally prev.foreach {
      case (key, Some(v)) => spark.conf.set(key, v)
      case (key, None) => spark.conf.unset(key)
    }
  }

  private def viaDataFrame(): Map[Long, Seq[java.lang.Long]] = {
    Registry.ensure(spark)
    collectSigs(input.select(col("id"), minhashSig(col("hs"), k)))
  }

  private def checkAgainstReference(got: Map[Long, Seq[java.lang.Long]]): Unit = {
    assert(got.keySet === input.collect().map(_.getLong(0)).toSet)
    for ((id, sig) <- got) expected.get(id) match {
      case Some(ref) => assert(sig === ref, s"doc $id")
      case None => assert(sig === null, s"doc $id has no non-null hash")
    }
    assert(got(1000L) === null && got(1001L) === null && got(1002L) === null)
    assert(got(1003L) === (0 until k).map(i => minhashB(i) % minhashP))
    assert(got(1005L) === (0 until k).map(i => (minhashA(i) * 7 + minhashB(i)) % minhashP))
  }

  test("whole-stage codegen: equals the min-aggregate reference") {
    withConfs("spark.sql.codegen.wholeStage" -> "true",
        "spark.sql.codegen.factoryMode" -> "CODEGEN_ONLY",
        "spark.sql.codegen.fallback" -> "false") {
      Registry.ensure(spark)
      val df = input.select(col("id"), minhashSig(col("hs"), k))
      df.collect()
      val plan = df.queryExecution.executedPlan.toString
      assert(plan.contains("*(") && plan.contains("graft_minhash_sig"), plan)
      checkAgainstReference(viaDataFrame())
    }
  }

  test("interpreted eval: equals the min-aggregate reference") {
    withConfs("spark.sql.codegen.wholeStage" -> "false",
        "spark.sql.codegen.factoryMode" -> "NO_CODEGEN") {
      checkAgainstReference(viaDataFrame())
    }
  }

  test("SQL graft_minhash_sig: equals the min-aggregate reference") {
    Registry.ensure(spark)
    input.createOrReplaceTempView("minhash_sig_input")
    checkAgainstReference(collectSigs(
      spark.sql(s"SELECT id, graft_minhash_sig(hs, $k) FROM minhash_sig_input")))
    val t = spark.sql("SELECT graft_minhash_sig(hs, 3) AS s FROM minhash_sig_input")
    assert(t.schema("s").dataType === ArrayType(LongType, containsNull = true))
  }

  test("hashes outside (-2^32, 2^32) fail instead of overflowing") {
    val a = Array.tabulate(k)(minhashA)
    val b = Array.tabulate(k)(minhashB)
    val ok = org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(Array((1L << 32) - 1))
    assert(MinHashSignature.signature(ok, a, b).numElements() === k)
    val bad = org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(Array(1L << 32))
    intercept[ArithmeticException](MinHashSignature.signature(bad, a, b))
  }

  test("signature table from text: same docs and signatures as the min-aggregate plan") {
    import spark.implicits._
    val docs = Seq[(Long, String)]((1L, "a b c d e"), (2L, null), (3L, ""),
      (4L, "x"), (5L, "   "), (6L, "a b c d e"), (7L, "a b c d"))
      .toDF("doc_id", "text")
    val (sigs, bands) = Dedup.minhashBands(docs)
    val got = sigs.collect().map(r => r.getLong(0) -> r.getSeq[java.lang.Long](1)).toMap
    val ref = reference(docs.select(col("doc_id").as("id"),
      shingleMd5Hashes(tokens(col("text")), 3).as("hs")))
    // null text hashes to [null]: the aggregate plan gave that doc a
    // row of 96 nulls, whose band keys all read "" and collide; the
    // table now has no row for it, as the oracle's NULL band keys
    // never join either
    assert(ref(2L).forall(_ == null) && !got.contains(2L))
    assert(got === ref - 2L)
    // the empty-text doc hashes one empty shingle, like the oracle's
    assert(got.contains(3L) && got(1L) === got(6L))
    assert(sigs.schema("sig").dataType === ArrayType(LongType, containsNull = true))
    // band hashes are persisted (persistBandTable), so they must not
    // move: the inline form they were computed with before
    val refBands = sigs.select(col("doc_id"),
        posexplode(transform(sequence(lit(0), lit(31)),
          b => xxhash64(concat_ws(",", slice(col("sig"), b * lit(3) + 1, lit(3))), b))))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    assert(bands.collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet === refBands)
    assert(refBands.size === 32 * got.size)
  }
}
