package org.apache.spark.sql.graft

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, ExpectsInputTypes, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{AbstractDataType, ArrayType, BinaryType, DataType, IntegerType, LongType, TypeCollection}
import org.apache.spark.unsafe.Platform

/** Number of positions where two long arrays hold equal values — the
  * positional-agreement count of two minhash signatures (the MMDS
  * ch.3 Jaccard estimator numerator, reference MinHashLSH.java:150-166
  * intended semantics). Also accepts two PACKED signatures
  * ([[PackInts]] binaries) and then counts equal 4-byte words — the
  * same count, since packing is injective per component.
  *
  * Why custom: the built-ins form
  * `size(filter(zip_with(a, b, _ === _), identity))` is three nested
  * interpreted HOFs allocating two intermediate arrays per pair; it
  * runs on EVERY candidate pair (~1M at sf0.1) as the sketch
  * pre-filter gating exact verification. This is one fused loop,
  * codegen-friendly via a static call. */
case class ArrayAgreeCount(left: Expression, right: Expression)
  extends BinaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[AbstractDataType] =
    Seq.fill(2)(TypeCollection(ArrayType(LongType), BinaryType))
  override def dataType: DataType = IntegerType
  override def prettyName: String = "graft_array_agree_count"

  private def packed: Boolean = left.dataType == BinaryType

  override def checkInputDataTypes(): TypeCheckResult =
    super.checkInputDataTypes() match {
      case ok if ok.isSuccess && packed != (right.dataType == BinaryType) =>
        TypeCheckResult.TypeCheckFailure(
          s"$prettyName needs two long arrays or two packed binaries, got " +
            s"${left.dataType.simpleString} and ${right.dataType.simpleString}")
      case other => other
    }

  override def nullSafeEval(a: Any, b: Any): Any =
    if (packed) {
      ArrayAgreeCountUtil.countPacked(a.asInstanceOf[Array[Byte]], b.asInstanceOf[Array[Byte]])
    } else {
      ArrayAgreeCountUtil.count(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
    }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val fn = if (packed) "countPacked" else "count"
    defineCodeGen(ctx, ev, (a, b) =>
      s"org.apache.spark.sql.graft.ArrayAgreeCountUtil.$fn($a, $b)")
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): ArrayAgreeCount =
    copy(left = newLeft, right = newRight)
}

object ArrayAgreeCountUtil {
  /** Signatures are fixed-size (S components); a length mismatch is a
    * pipeline bug — fail loudly rather than truncate (which would also
    * silently skew the agreement estimate vs the oracle). */
  def count(a: ArrayData, b: ArrayData): Int = {
    val n = a.numElements()
    if (n != b.numElements()) {
      throw new IllegalArgumentException(
        s"graft_array_agree_count: length mismatch ($n vs ${b.numElements()})")
    }
    var c = 0
    var i = 0
    while (i < n) {
      if (a.getLong(i) == b.getLong(i)) c += 1
      i += 1
    }
    c
  }

  /** The packed form: equal 4-byte words, under the same fail-loud
    * length rule (a ragged tail would be a pipeline bug too). */
  def countPacked(a: Array[Byte], b: Array[Byte]): Int = {
    if (a.length != b.length || a.length % 4 != 0) {
      throw new IllegalArgumentException(
        s"graft_array_agree_count: length mismatch (${a.length} vs ${b.length} packed bytes)")
    }
    var c = 0
    var o = Platform.BYTE_ARRAY_OFFSET
    val end = o + a.length
    while (o < end) {
      if (Platform.getInt(a, o) == Platform.getInt(b, o)) c += 1
      o += 4
    }
    c
  }
}
