package graft

import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import graft.functions.PortableHash

/** The codegen PolyHash expression must be indistinguishable from
  * the built-ins HOF fold (and thus from the DuckDB oracle). */
class PolyHashSpec extends SparkSpec {

  private def both(strs: Seq[String]): (Seq[Long], Seq[Long]) = {
    val s = spark
    import s.implicits._
    val df = strs.toDF("t")
    val fast = df.select(PortableHash.charFoldHash(col("t"))).collect().map(_.getLong(0)).toSeq
    val ref = df.select(PortableHash.charFoldHashHof(col("t"))).collect().map(_.getLong(0)).toSeq
    (fast, ref)
  }

  test("codegen expression equals HOF fold on fixed + random ASCII strings") {
    val gen = Gen.listOf(Gen.choose(32.toChar, 126.toChar)).map(_.mkString)
    val strs = Seq("", "a", "abc ", "x" * 500) ++
      Gen.listOfN(300, gen).apply(Gen.Parameters.default, org.scalacheck.rng.Seed(7L)).get
    val (fast, ref) = both(strs)
    assert(fast == ref)
  }

  test("codegen expression equals HOF fold on non-ASCII code points") {
    val strs = Seq("café", "日本語", "mixéd 😀 text")
    val (fast, ref) = both(strs)
    assert(fast == ref)
  }

  test("graft_polyhash is callable from SQL once registered") {
    // the shared test session is a Harness session: GraftExtensions
    // registered the function tier at its creation
    val v = spark.sql("SELECT graft_polyhash('abc ') AS h").collect().head.getLong(0)
    val model = "abc ".foldLeft(0L)((a, c) => (a * 31 + c.toInt) % Config.P)
    assert(v == model)
  }

  test("GraftExtensions injects without error") {
    val ext = new org.apache.spark.sql.SparkSessionExtensions
    new GraftExtensions().apply(ext) // builder wiring itself is exercised above
  }

  test("the full expression tier works end-to-end from SQL") {
    // registerAll on a live session (what signaturesSql calls): it
    // keeps the builders GraftExtensions injected and adds none twice
    org.apache.spark.sql.graft.Bridge.registerAll(spark)
    locally {
      val r = spark.sql(
        """SELECT
          graft_polyhash('abc ') AS h,
          graft_shingle_hashes('abc', 3) AS sh,
          element_at(graft_minhash_sketch(graft_shingle_hashes('abc', 3)), 1) AS sig0,
          graft_vec_dot(array(1L, 2L, 3L), array(4L, 5L, 6L)) AS dotl,
          graft_array_agree_count(array(1L, 2L, 3L), array(1L, 9L, 3L)) AS agree,
          graft_sorted_intersect_count(array(1L, 3L, 5L), array(3L, 5L, 7L)) AS inter,
          element_at(graft_feature_hash_vec(array(0L, 64L), 64), 1) AS fv0,
          graft_simhash_bits(array(3L), 2) AS simb,
          graft_shingle_windows('abcd', 3) AS sw,
          graft_word_bigrams('a b c') AS wb
        """).collect().head
      val model = "abc ".foldLeft(0L)((a, c) => (a * 31 + c.toInt) % Config.P)
      assert(r.getAs[Long]("h") == model)
      assert(r.getSeq[Long](r.fieldIndex("sh")).length == 3)
      assert(r.getAs[Long]("dotl") == 32L)
      assert(r.getAs[Int]("agree") == 2)
      assert(r.getAs[Int]("inter") == 2)
      // hashes 0 (sign +) and 64 (sign -) both hit component 0 -> sum 0
      assert(r.getAs[Long]("fv0") == 0L)
      assert(r.getAs[Long]("simb") == 3L) // single hash 0b11 -> both bits positive
      assert(r.getSeq[String](r.fieldIndex("sw")) == Seq("abc", "bcd", "cd ", "d "))
      assert(r.getSeq[String](r.fieldIndex("wb")) == Seq("a b", "b c"))
    }
  }

  test("a graft_* function called with the wrong arity names itself and its arity") {
    // the arity check holds after registerAll, whichever builder the
    // session keeps
    org.apache.spark.sql.graft.Bridge.registerAll(spark)
    val e = intercept[Exception](
      spark.sql("SELECT graft_shingle_hashes('abc') AS sh").collect())
    assert(e.getMessage.contains("graft_shingle_hashes expects 2 arguments, got 1"),
      e.getMessage)
  }
}
