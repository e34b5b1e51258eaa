package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/** Native Catalyst expression: the k-permutation MinHash signature of
  * one document's array<bigint> of shingle hashes.
  *
  * Element i of the result is min over the non-null hashes h of
  * `floorMod(a_i·h + b_i, p)`, with the [[Fns.minhashA]] /
  * [[Fns.minhashB]] / [[Fns.minhashP]] family the DuckDB oracle
  * regenerates, so the signature is bit-identical to the oracle's
  * per-(doc, i) `min`. A null array, an empty one, or one with only
  * null elements has no minimum and yields null.
  *
  * The signature is a per-row fold, so it needs no explode, no
  * aggregate and no shuffle on doc_id: a signature table is one narrow
  * projection (see Dedup.minhashSigs). doGenCode calls the same static
  * loop `eval` uses, with the coefficients precomputed once per
  * expression and passed in as references.
  *
  * Hashes must lie in (−2^32, 2^32), so that a_i·h + b_i cannot
  * overflow a long; Fns.shingleMd5Hashes yields values in [0, 2^31).
  * The element type stays nullable: it is the type the signature
  * column had when it was assembled from k `min` aggregates, and
  * persisted `*_sigs` tables carry it.
  */
case class MinHashSignature(child: Expression, k: Int) extends UnaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = true)
  override def nullable: Boolean = true
  override def prettyName: String = "graft_minhash_sig"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) if k > 0 => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"graft_minhash_sig requires an array<bigint> and k > 0, got " +
        s"${t.catalogString} and k = $k")
  }

  @transient private lazy val coeffA: Array[Long] = Array.tabulate(k)(Fns.minhashA)
  @transient private lazy val coeffB: Array[Long] = Array.tabulate(k)(Fns.minhashB)

  override def nullSafeEval(hs: Any): Any =
    MinHashSignature.signature(hs.asInstanceOf[ArrayData], coeffA, coeffB)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val a = ctx.addReferenceObj("minhashA", coeffA, "long[]")
    val b = ctx.addReferenceObj("minhashB", coeffB, "long[]")
    nullSafeCodeGen(ctx, ev, hs =>
      s"""
         |${ev.value} = graft.functions.MinHashSignature.signature($hs, $a, $b);
         |${ev.isNull} = ${ev.value} == null;
       """.stripMargin)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object MinHashSignature {
  private val HashBound = 1L << 32

  /** The k = a.length minima of floorMod(a(i)·h + b(i), p) over the
    * non-null elements h of `hs`; null when there is none. */
  def signature(hs: ArrayData, a: Array[Long], b: Array[Long]): ArrayData = {
    val k = a.length
    val p = Fns.minhashP
    val mins = Array.fill(k)(Long.MaxValue)
    var seen = false
    var j = 0
    while (j < hs.numElements()) {
      if (!hs.isNullAt(j)) {
        val h = hs.getLong(j)
        if (h >= HashBound || h <= -HashBound)
          throw new ArithmeticException(s"graft_minhash_sig: hash $h outside (-2^32, 2^32)")
        seen = true
        var i = 0
        while (i < k) {
          val v = Math.floorMod(a(i) * h + b(i), p)
          if (v < mins(i)) mins(i) = v
          i += 1
        }
      }
      j += 1
    }
    if (seen) ArrayData.toArrayData(mins) else null
  }
}
