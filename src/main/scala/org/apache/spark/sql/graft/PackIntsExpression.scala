package org.apache.spark.sql.graft

import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{AbstractDataType, ArrayType, BinaryType, DataType, LongType}

/** A long array packed into one fixed-width binary: element i becomes
  * the 4-byte big-endian word at bytes [4i, 4i+4) — the LSH chain's
  * wire form of a minhash signature (and, sliced, of a band key).
  *
  * Why custom: every signature component is a value mod
  * graft.Config.P = 2^31-1, so it fits 4 bytes exactly, yet as an
  * `array<long>` each one ships 8 bytes (plus the array header) through
  * the band self-join exchange once per band. Packed, a 60-component
  * signature is 240 bytes and a 6-component band key 24 bytes, where
  * the long array was 496 bytes and the decimal CSV key ~65. The
  * narrowing is checked, never lossy: a null or a component outside
  * [0, Int.MaxValue] throws. Equality of packed words equals equality
  * of the longs, so ArrayAgreeCount counts agreement on either form.
  */
case class PackInts(child: Expression)
  extends UnaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(LongType))
  override def dataType: DataType = BinaryType
  override def prettyName: String = "graft_pack_ints"

  override def nullSafeEval(input: Any): Any =
    PackIntsUtil.pack(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"org.apache.spark.sql.graft.PackIntsUtil.pack($c)")

  override protected def withNewChildInternal(newChild: Expression): PackInts =
    copy(child = newChild)
}

object PackIntsUtil {
  def pack(a: ArrayData): Array[Byte] = {
    val n = a.numElements()
    val out = new Array[Byte](4 * n)
    var i = 0
    while (i < n) {
      val v = if (a.isNullAt(i)) -1L else a.getLong(i)
      if (v < 0L || v > Int.MaxValue) {
        throw new IllegalArgumentException(
          s"graft_pack_ints: element $i is ${if (a.isNullAt(i)) "null" else v}, " +
            s"outside [0, ${Int.MaxValue}]")
      }
      val o = 4 * i
      out(o) = (v >>> 24).toByte
      out(o + 1) = (v >>> 16).toByte
      out(o + 2) = (v >>> 8).toByte
      out(o + 3) = v.toByte
      i += 1
    }
    out
  }
}
