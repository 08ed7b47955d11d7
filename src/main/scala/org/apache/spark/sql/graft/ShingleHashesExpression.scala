package org.apache.spark.sql.graft

import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{AbstractDataType, ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** All k-shingle hashes of a text in ONE pass: the fused form of
  * `transform(shingleArray(text), graft_polyhash)` (reference window
  * semantics, Shingling.java:32-42: stride 1, one window per code
  * point, short trailing windows padded with a single space).
  *
  * Why custom: shingling + hashing is the entry of every document
  * pipeline (minhash signatures, verify sets, simhash, feature-hashed
  * embeddings). The built-ins route materializes one SUBSTRING per
  * window (~text-length UTF8String allocations per document) and
  * walks it through interpreted HOF lambdas before PolyHash even
  * runs; this expression emits the hash array directly from the raw
  * bytes — zero per-window allocation on the ASCII fast path, O(n*k)
  * arithmetic, and whole-stage-codegen participation via a static
  * call. Equivalence with the built-ins formulation is
  * property-tested (ShinglingSpec), and the DuckDB oracle replays
  * the same values by construction.
  */
case class ShingleHashes(child: Expression, k: Int)
  extends UnaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_shingle_hashes"

  override def nullSafeEval(input: Any): Any =
    ShingleHashUtil.hashes(input.asInstanceOf[UTF8String], k)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"org.apache.spark.sql.graft.ShingleHashUtil.hashes($c, $k)")

  override protected def withNewChildInternal(newChild: Expression): ShingleHashes =
    copy(child = newChild)
}

object ShingleHashUtil {
  private final val Base = graft.Config.CharBase
  private final val Space = 32L

  /** One hash per code-point position i in [0, n): fold of the
    * window's code points, with ONE trailing space appended when the
    * window is short (i + k > n) — byte-compatible with
    * PolyHashUtil.hash over Shingling.shingleArray windows. */
  def hashes(s: UTF8String, k: Int): ArrayData = {
    val cps: Array[Int] = {
      val nBytes = s.numBytes
      if (nBytes == s.numChars) { // pure ASCII: byte == code point
        val a = new Array[Int](nBytes)
        var i = 0
        while (i < nBytes) { a(i) = s.getByte(i) & 0xff; i += 1 }
        a
      } else {
        val str = s.toString
        val a = new Array[Int](s.numChars)
        var i = 0
        var j = 0
        while (i < str.length) {
          val cp = str.codePointAt(i)
          a(j) = cp
          j += 1
          i += Character.charCount(cp)
        }
        a
      }
    }
    val n = cps.length
    val out = new Array[Long](n)
    var i = 0
    while (i < n) {
      val end = math.min(i + k, n)
      var acc = 0L
      var j = i
      while (j < end) {
        acc = ModP.fold(acc * Base + cps(j))
        j += 1
      }
      if (i + k > n) acc = ModP.fold(acc * Base + Space)
      out(i) = acc
      i += 1
    }
    ArrayData.toArrayData(out)
  }
}
