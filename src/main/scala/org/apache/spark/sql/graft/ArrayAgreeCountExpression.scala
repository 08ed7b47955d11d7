package org.apache.spark.sql.graft

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, ExpectsInputTypes, Expression, UnaryExpression}
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
  * interpreted HOFs allocating two intermediate arrays per pair. This
  * is one fused loop, codegen-friendly via a static call. In
  * MinHashLsh.similarPairs the word count runs only in the verify
  * join, on the pairs that passed the band join's [[NibbleAgreeCount]]
  * residual (a few thousand at sf0.1); estimatedPairs runs it on
  * every band-join pair. */
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

/** Number of 4-bit positions where two equal-length binaries hold the
  * same nibble: the agreement count of two minhash FINGERPRINTS (the
  * low 4 bits of each packed signature word, two per byte — b-bit
  * minwise hashing with b = 4). Equal words have equal low nibbles,
  * so on fingerprints this count is never below [[ArrayAgreeCount]]'s
  * word count on the signatures: `>= m` keeps every pair the word
  * count keeps. The width is fixed at one nibble by the function,
  * never inferred from the length: S = 60 words make a 30-byte
  * fingerprint. */
case class NibbleAgreeCount(left: Expression, right: Expression)
  extends BinaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[AbstractDataType] = Seq(BinaryType, BinaryType)
  override def dataType: DataType = IntegerType
  override def prettyName: String = "graft_nibble_agree_count"

  override def nullSafeEval(a: Any, b: Any): Any =
    ArrayAgreeCountUtil.countNibbles(a.asInstanceOf[Array[Byte]], b.asInstanceOf[Array[Byte]])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) =>
      s"org.apache.spark.sql.graft.ArrayAgreeCountUtil.countNibbles($a, $b)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): NibbleAgreeCount =
    copy(left = newLeft, right = newRight)
}

/** The minhash FINGERPRINT of a packed signature ([[PackInts]]
  * binary): the low 4 bits of each 4-byte big-endian word, two per
  * byte — word 2j in byte j's high nibble, word 2j+1 in its low one —
  * the input compared by [[NibbleAgreeCount]]. One loop over the
  * words' last bytes, no intermediate strings. */
case class LowNibbles(child: Expression) extends UnaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[AbstractDataType] = Seq(BinaryType)
  override def dataType: DataType = BinaryType
  override def prettyName: String = "graft_low_nibbles"

  override def nullSafeEval(packed: Any): Any =
    ArrayAgreeCountUtil.lowNibbles(packed.asInstanceOf[Array[Byte]])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"org.apache.spark.sql.graft.ArrayAgreeCountUtil.lowNibbles($c)")

  override protected def withNewChildInternal(newChild: Expression): LowNibbles =
    copy(child = newChild)
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

  /** [[LowNibbles]]: a packed binary of an even number of words, else
    * a pipeline bug — fail loudly rather than drop a ragged word. */
  def lowNibbles(packed: Array[Byte]): Array[Byte] = {
    if (packed.length % 8 != 0) {
      throw new IllegalArgumentException(
        s"graft_low_nibbles: ${packed.length} packed bytes are not whole word pairs")
    }
    val out = new Array[Byte](packed.length / 8)
    var j = 0
    while (j < out.length) {
      out(j) = (((packed(8 * j + 3) & 0xf) << 4) | (packed(8 * j + 7) & 0xf)).toByte
      j += 1
    }
    out
  }

  /** Equal nibbles (two per byte), under the same fail-loud length
    * rule. */
  def countNibbles(a: Array[Byte], b: Array[Byte]): Int = {
    if (a.length != b.length) {
      throw new IllegalArgumentException(
        s"graft_nibble_agree_count: length mismatch (${a.length} vs ${b.length} bytes)")
    }
    var c = 0
    var i = 0
    while (i < a.length) {
      val x = a(i) ^ b(i)
      if ((x & 0xf0) == 0) c += 1
      if ((x & 0x0f) == 0) c += 1
      i += 1
    }
    c
  }
}
