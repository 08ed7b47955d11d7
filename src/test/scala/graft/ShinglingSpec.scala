package graft

import org.apache.spark.sql.functions._
import graft.operators.Shingling

/** Reference-exact shingle semantics (SURVEY.md §2.3: stride 1, one
  * window per char position, short trailing windows padded with ONE
  * space — Shingling.java:32-42). */
class ShinglingSpec extends SparkSpec {

  private def shinglesOf(text: String, k: Int = 3): Seq[String] =
    Shingling.shingles(docsDf(1L -> text), k)
      .orderBy("shingle").collect().map(_.getString(1)).toSeq

  test("k=3 over 'abcde': stride-1 windows, last two padded with one space") {
    // positions: abc, bcd, cde, de_, e_  (underscore = single space pad)
    assert(shinglesOf("abcde").sorted == Seq("abc", "bcd", "cde", "de ", "e ").sorted)
  }

  test("line of exactly k chars yields one full window plus padded tails") {
    assert(shinglesOf("abc").sorted == Seq("abc", "bc ", "c ").sorted)
  }

  test("line shorter than k still emits padded windows (reference pads ONCE)") {
    // "ab" -> windows at pos 1: "ab"+pad=1 -> "ab "; pos 2: "b"+pad -> "b "
    assert(shinglesOf("ab").sorted == Seq("ab ", "b ").sorted)
  }

  test("empty line emits no shingles (and no row after explode)") {
    assert(shinglesOf("") == Seq.empty)
  }

  test("hyphens and delimiters pass through untouched (reference quirk Q6 fixed)") {
    assert(shinglesOf("a-b").sorted == Seq("a-b", "-b ", "b ").sorted)
  }

  test("shingle dict has set semantics over doc ids (reference quirk Q11 fixed)") {
    val d = docsDf(1L -> "aaaa", 2L -> "aaab")
    val dict = Shingling.shingleDict(d).collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    // "aaa" occurs twice in doc 1 but the dict lists doc 1 once
    assert(dict("aaa") == "1,2")
  }

  test("shingle sets are distinct per doc") {
    val sets = Shingling.shingleSets(docsDf(1L -> "aaaa")).collect()
    val arr = sets.head.getSeq[String](1)
    assert(arr.length == arr.distinct.length)
  }

  test("fused shingleHashArray equals hash-of-shingleArray (incl. unicode, short, empty)") {
    import org.apache.spark.sql.functions._
    import graft.functions.PortableHash
    val texts = Seq("abcde", "ab", "a", "", "a-b c,d", "héllo wörld",
      "中文文本的测试句子", "mixed 中en文 text", "x" * 500)
    val d = docsDf(texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }: _*)
    val both = d.select(
      Shingling.shingleHashArray(col("text")).as("fused"),
      transform(Shingling.shingleArrayBuiltins(col("text")),
        s => PortableHash.charFoldHash(s)).as("ref"))
      .collect()
    both.foreach { r =>
      assert(r.getSeq[Long](0) == r.getSeq[Long](1))
    }
  }

  test("shingleHashSet is the sorted distinct int set of the built-ins shingle folds") {
    import graft.functions.PortableHash
    import org.apache.spark.sql.types.{ArrayType, IntegerType}
    val k = Config.K
    // lengths 1, k-1 and k; a non-BMP character; a repeated text
    val texts = Seq("a", "abcdef".take(k - 1), "abcdef".take(k), "x🙂yz", "ab" * 40)
    val d = docsDf(texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }: _*)
    val out = d.select(Shingling.shingleHashSet(col("text"), k).as("set"),
      transform(Shingling.shingleArrayBuiltins(col("text"), k),
        s => PortableHash.charFoldHash(s)).as("ref"))
    assert(out.schema("set").dataType.asInstanceOf[ArrayType].elementType == IntegerType)
    out.collect().foreach { r =>
      val ref = r.getSeq[Long](1).distinct.sorted
      assert(ref.nonEmpty && ref.forall(_ < Config.P))
      assert(r.getSeq[Int](0).map(_.toLong) == ref)
    }
  }

  test("fused shingleArray equals the built-ins windows (incl. unicode, short, empty)") {
    import org.apache.spark.sql.functions._
    val texts = Seq("abcde", "ab", "a", "", "a-b c,d", "héllo wörld",
      "中文文本的测试句子", "mixed 中en文 text", "🙂ab🙂", "x" * 500)
    val d = docsDf(texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }: _*)
    val both = d.select(
      Shingling.shingleArray(col("text")).as("fused"),
      Shingling.shingleArrayBuiltins(col("text")).as("ref"))
      .collect()
    both.foreach { r =>
      assert(r.getSeq[String](0) == r.getSeq[String](1))
    }
  }
}
