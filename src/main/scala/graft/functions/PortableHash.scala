package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import graft.Config

/** Engine-neutral hashing, expressed with codegen-friendly Spark
  * built-ins and mirrored 1:1 by the DuckDB oracle (graft.oracle.Sql).
  *
  * Why not Spark's xxhash64/murmur: the oracle (DuckDB) cannot
  * reproduce them, and correctness here is hash-VALUE-sensitive
  * (minhash mins). A base-31 polynomial over code points mod 2^31-1 is
  * computable identically in any engine with integer arithmetic.
  */
object PortableHash {

  /** h(s) = fold over characters: acc -> (acc*31 + codepoint) mod P.
    * Backed by the native codegen expression [[PolyHash]]; the
    * built-in HOF formulation below is kept as the semantic
    * reference (equivalence is property-tested). */
  def charFoldHash(s: Column): Column = {
    import org.apache.spark.sql.graft.{Bridge, PolyHash}
    Bridge.column(PolyHash(Bridge.expression(s)))
  }

  /** Built-ins-only formulation of the same fold (interpreted HOF
    * lambdas — ~10x slower; used only to cross-check PolyHash). */
  def charFoldHashHof(s: Column): Column =
    aggregate(
      transform(sequence(lit(1), length(s)), i => ascii(s.substr(i, lit(1))).cast("long")),
      lit(0L),
      (acc, x) => (acc * lit(Config.CharBase) + x) % lit(Config.P)
    )

  /** A long-array column packed into a binary of 4-byte big-endian
    * words (see PackIntsExpression); throws on any element outside
    * [0, Int.MaxValue], so it is lossless wherever it succeeds. */
  def packInts(a: Column): Column = {
    import org.apache.spark.sql.graft.{Bridge, PackInts}
    Bridge.column(PackInts(Bridge.expression(a)))
  }

  /** Positional-agreement count of two long-array columns, or of two
    * [[packInts]] binaries (fused native loop; equals
    * size(filter(zip_with(a,b,_===_),identity)) on the long arrays). */
  def agreeCount(a: Column, b: Column): Column = {
    import org.apache.spark.sql.graft.{ArrayAgreeCount, Bridge}
    Bridge.column(ArrayAgreeCount(Bridge.expression(a), Bridge.expression(b)))
  }

  /** Equal-nibble count of two equal-length binaries — the agreement
    * of two [[lowNibbles]] fingerprints (see NibbleAgreeCount). Fails
    * loudly on a length mismatch. */
  def agreeNibbles(a: Column, b: Column): Column = {
    import org.apache.spark.sql.graft.{Bridge, NibbleAgreeCount}
    Bridge.column(NibbleAgreeCount(Bridge.expression(a), Bridge.expression(b)))
  }

  /** The fingerprint of a packed signature ([[packInts]] of S
    * components): the low 4 bits of each 4-byte word, two per byte
    * (word 2j in byte j's high nibble, word 2j+1 in its low one), S/2
    * bytes. Two equal words give equal fingerprint nibbles. Native
    * (see LowNibbles): the built-ins form, unhex of the words' last
    * hex digits, cost similarPairs' band-explode stage 0.23-0.51 s of
    * task time against 0.10-0.16 s native (20k docs, 4 cores). */
  def lowNibbles(packed: Column): Column = {
    import org.apache.spark.sql.graft.{Bridge, LowNibbles}
    Bridge.column(LowNibbles(Bridge.expression(packed)))
  }

  /** |A∩B| of two sorted distinct long-array columns, or of two
    * int-array columns (fused two-pointer merge; see
    * SortedIntersectCountExpression). */
  def sortedIntersectCount(a: Column, b: Column): Column = {
    import org.apache.spark.sql.graft.{Bridge, SortedIntersectCount}
    Bridge.column(SortedIntersectCount(Bridge.expression(a), Bridge.expression(b)))
  }

  /** i-th member of the seeded affine family applied to a base hash:
    * (a_i * h + b_i) mod P. Max intermediate (P-1)^2 + P ≈ 4.6e18 —
    * fits signed 64-bit, so ANSI mode never overflows. */
  def affine(i: Int, h: Column): Column = {
    val (a, b) = Config.coeffs(i)
    (lit(a) * h + lit(b)) % lit(Config.P)
  }
}
