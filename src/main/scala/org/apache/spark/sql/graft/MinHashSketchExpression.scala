package org.apache.spark.sql.graft

import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{AbstractDataType, ArrayType, DataType, LongType}

/** The full S-element MinHash sketch of a shingle-hash array in ONE
  * pass: sig_i = min over h of (a_i*h + b_i) mod p, for all i — the
  * whole-row form of the engine's signature computation
  * (graft.Config coefficients; reference MinHashLSH.java:87-109
  * computed the same sketch per line from a one-hot vector).
  *
  * Why custom: a document is ONE input row, so with this expression
  * the signature stage is a narrow projection —
  * `docs.select(MinHashSketch(ShingleHashes(text)))` — and the
  * explode → 1.5M-row shuffle → 60-column hash aggregate disappears
  * entirely. That removes the first of the two shuffles in every
  * LSH-chain query (only the band self-join remains) and is also
  * what makes the STREAMING path (stateless per-row banding) run at
  * batch speed. Equivalence with the aggregated formulation is
  * property-tested (MinHashLshSpec).
  */
case class MinHashSketch(child: Expression)
  extends UnaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(LongType))
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_minhash_sketch"

  override def nullSafeEval(input: Any): Any =
    MinHashSketchUtil.sketch(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"org.apache.spark.sql.graft.MinHashSketchUtil.sketch($c)")

  override protected def withNewChildInternal(newChild: Expression): MinHashSketch =
    copy(child = newChild)
}

object MinHashSketchUtil {
  private final val S = graft.Config.NumHashes
  private final val A: Array[Long] = graft.Config.coeffs.map(_._1).toArray
  private final val B: Array[Long] = graft.Config.coeffs.map(_._2).toArray

  /** All S mins in one pass; empty input yields an all-(P) sketch —
    * callers filter empty docs out first (as the aggregated form
    * drops them by having no rows). Inputs are shingle hashes, in
    * [0, P): the max intermediate (P-1)^2 + P-1 fits int64 and is in
    * [[ModP.fold]]'s exact range. */
  def sketch(hs: ArrayData): ArrayData = {
    val out = new Array[Long](S)
    java.util.Arrays.fill(out, graft.Config.P)
    val n = hs.numElements()
    var j = 0
    while (j < n) {
      val h = hs.getLong(j)
      var i = 0
      while (i < S) {
        val v = ModP.fold(A(i) * h + B(i))
        if (v < out(i)) out(i) = v
        i += 1
      }
      j += 1
    }
    ArrayData.toArrayData(out)
  }
}
