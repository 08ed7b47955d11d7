package graft

import org.apache.spark.sql.catalyst.util.ArrayData
import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.{Gen, Prop, Test => SCTest}

/** Pure-JVM property checks (no Spark session) of the algebraic
  * invariants the engine's correctness rests on — things example
  * tests can't pin: aggregator laws, the bucket-coverage lemma
  * behind RangeJoinRule, fused-expression vs naive-set equivalence,
  * and the polyhash ASCII fast path vs the code-point loop. Raw
  * scalacheck driver (the scalatest bridge artifact isn't a
  * dependency); fixed seed via the default RNG is fine — failures
  * print the shrunk counterexample. */
class AlgebraPropertySpec extends AnyFunSuite {

  private def check(name: String, p: Prop): Unit = {
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(300), p)
    assert(res.passed, s"$name: ${res.status}")
  }

  private val sketchGen: Gen[Array[Long]] =
    Gen.containerOfN[Array, Long](8, Gen.chooseNum(Long.MinValue + 1, Long.MaxValue))

  test("MinHashMerge is commutative, associative, and zero is identity") {
    import graft.functions.MinHashMerge._
    check("merge laws", Prop.forAll(sketchGen, sketchGen, sketchGen) { (a, b, c) =>
      merge(a, b).toSeq == merge(b, a).toSeq &&
        merge(merge(a, b), c).toSeq == merge(a, merge(b, c)).toSeq &&
        merge(a, zero).toSeq == a.toSeq && merge(zero, a).toSeq == a.toSeq
    })
  }

  test("MinHashMerge equals elementwise min of all member sketches") {
    check("merge = columnwise min",
      Prop.forAll(Gen.nonEmptyListOf(sketchGen)) { sketches =>
        val merged = sketches.foldLeft(graft.functions.MinHashMerge.zero)(
          graft.functions.MinHashMerge.reduce)
        merged.toSeq == sketches.transpose.map(_.min)
      })
  }

  test("SharedSlots: a slot is shared iff two rows saw it, however the rows are split") {
    import graft.operators.SharedSlots
    def twice(parts: Seq[Int]*): Set[Int] =
      parts.map(p => SharedSlots.of(p.iterator)).reduce(SharedSlots.merge).twice.toArray.toSet
    assert(twice(Seq(7), Seq(7)) == Set(7), "once in each of two partitions")
    assert(twice(Seq(7, 7), Seq(8)) == Set(7), "twice in one partition")
    assert(twice(Seq(7), Seq(8), Seq()).isEmpty, "once overall")
    // slots are unsigned 32-bit words: negative ints included
    val rows = Gen.listOf(Gen.zip(
      Gen.oneOf(Gen.chooseNum(-40, 40), Gen.chooseNum(Int.MinValue, Int.MaxValue)),
      Gen.chooseNum(0, 4)))
    check("split-invariant twice", Prop.forAll(rows) { rs =>
      val keys = rs.map(_._1)
      val want = keys.groupBy(identity).collect { case (k, v) if v.size >= 2 => k }.toSet
      val parts = (0 to 4).map(p => rs.collect { case (k, `p`) => k })
      twice(parts: _*) == want && twice(parts.reverse: _*) == want && twice(keys) == want
    })
  }

  test("range-rule bucket lemma: |a-b| <= w implies floorDiv buckets differ by at most 1") {
    val gen = for {
      w <- Gen.chooseNum(1L, 1000000L)
      a <- Gen.chooseNum(-1000000000L, 1000000000L)
      delta <- Gen.chooseNum(-1L, 1L).flatMap(sign => Gen.chooseNum(0L, w).map(_ * sign))
    } yield (a, a + delta, w)
    check("bucket coverage", Prop.forAll(gen) { case (a, b, w) =>
      math.abs(a - b) <= w &&
        math.abs(Math.floorDiv(a, w) - Math.floorDiv(b, w)) <= 1
    })
  }

  test("SortedIntersectCount equals set-intersection size on sorted distinct arrays") {
    val setGen = Gen.listOf(Gen.chooseNum(-1000L, 1000L)).map(_.distinct.sorted)
    check("sorted intersect", Prop.forAll(setGen, setGen) { (a, b) =>
      org.apache.spark.sql.graft.SortedIntersectCountUtil.count(
        ArrayData.toArrayData(a.toArray), ArrayData.toArrayData(b.toArray)) ==
        (a.toSet & b.toSet).size
    })
  }

  test("polyhash ASCII fast path equals the code-point loop on arbitrary strings") {
    import org.apache.spark.unsafe.types.UTF8String
    def slow(s: String): Long = {
      var acc = 0L
      var i = 0
      while (i < s.length) {
        val cp = s.codePointAt(i)
        acc = (acc * Config.CharBase + cp) % Config.P
        i += Character.charCount(cp)
      }
      acc
    }
    check("ascii strings", Prop.forAll(Gen.asciiPrintableStr) { s =>
      org.apache.spark.sql.graft.PolyHashUtil.hash(UTF8String.fromString(s)) == slow(s)
    })
    // arbitrary WELL-FORMED unicode (general path): BMP minus lone
    // surrogates, plus supplementary code points as proper pairs
    val bmpChar = Gen.choose(0x20, 0xFFEF).map(_.toChar)
      .suchThat(!Character.isSurrogate(_))
    val supplementary = Gen.choose(0x10000, 0x10FFFF).map(Character.toChars(_).mkString)
    check("unicode strings", Prop.forAll(Gen.listOf(
        Gen.oneOf(bmpChar.map(_.toString), supplementary)).map(_.mkString)) { s =>
      org.apache.spark.sql.graft.PolyHashUtil.hash(UTF8String.fromString(s)) == slow(s)
    })
  }
}
