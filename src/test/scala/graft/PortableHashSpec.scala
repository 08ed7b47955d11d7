package graft

import org.apache.spark.sql.functions._
import org.scalacheck.Prop.forAll
import org.scalacheck.{Gen, Test => ScTest}
import graft.functions.PortableHash

/** The portable hash must equal the plain-Scala model (and therefore
  * the DuckDB oracle, which implements the same fold). */
class PortableHashSpec extends SparkSpec {

  private def model(s: String): Long =
    s.foldLeft(0L)((acc, c) => (acc * Config.CharBase + c.toInt) % Config.P)

  private def sparkHash(strs: Seq[String]): Seq[Long] = {
    val s = spark
    import s.implicits._
    strs.toDF("t").select(PortableHash.charFoldHash(col("t"))).collect().map(_.getLong(0)).toSeq
  }

  test("fold hash matches the Scala model on fixed samples") {
    val samples = Seq("", "a", "abc ", "the fast key", "a-b|c,d\"e", "x" * 100)
    assert(sparkHash(samples) == samples.map(model))
  }

  test("fold hash matches the Scala model on random ASCII strings (property)") {
    val gen = Gen.listOf(Gen.choose(32.toChar, 126.toChar)).map(_.mkString)
    val strs = Gen.listOfN(200, gen).apply(Gen.Parameters.default, org.scalacheck.rng.Seed(42L)).get
    assert(sparkHash(strs) == strs.map(model))
  }

  test("fused agree-count and sorted-intersect equal the built-ins on random sets") {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(7)
    val rows = (1 to 200).map { _ =>
      val a = Seq.fill(rnd.nextInt(40))(rnd.nextInt(50).toLong)
      val b = Seq.fill(rnd.nextInt(40))(rnd.nextInt(50).toLong)
      val sb = b.distinct.sorted
      // agree-count requires equal lengths (signatures are fixed-size)
      (a.distinct.sorted, sb, a.take(sb.length).padTo(sb.length, -1L))
    }
    val df = rows.toDF("sa", "sb", "pos")
    val out = df.select(
      PortableHash.sortedIntersectCount(col("sa"), col("sb")).as("fused_inter"),
      size(array_intersect(col("sa"), col("sb"))).as("ref_inter"),
      PortableHash.agreeCount(col("sb"), col("pos")).as("fused_agree"),
      size(filter(zip_with(col("sb"), col("pos"), (x, y) => x === y), p => p)).as("ref_agree"))
      .collect()
    out.foreach { r =>
      assert(r.getInt(0) == r.getInt(1))
      assert(r.getInt(2) == r.getInt(3))
    }
  }

  test("fused array ops reject length mismatches loudly (no silent truncation)") {
    val s = spark
    import s.implicits._
    val df = Seq((Seq(1L, 2L, 3L), Seq(1L, 2L))).toDF("a", "b")
    val e = intercept[Exception] {
      df.select(PortableHash.agreeCount(col("a"), col("b"))).collect()
    }
    assert(e.getMessage.contains("length mismatch") ||
      Option(e.getCause).exists(_.getMessage.contains("length mismatch")))
  }

  /** Every message along an exception's cause chain (Spark wraps
    * task-side throws). */
  private def messages(e: Throwable): String =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null).map(_.getMessage).mkString(" | ")

  test("packed agree count equals the long-array count, boundary values included") {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(11)
    // a small pool forces agreements; 0 and P-1 are the range's ends
    def comp(): Long = rnd.nextInt(4) match {
      case 0 => 0L
      case 1 => Config.P - 1
      case 2 => rnd.nextInt(3).toLong
      case _ => (rnd.nextDouble() * Config.P).toLong
    }
    val rows = Seq.fill(300)((Seq.fill(Config.NumHashes)(comp()), Seq.fill(Config.NumHashes)(comp())))
    val out = rows.toDF("a", "b").select(
      PortableHash.agreeCount(PortableHash.packInts(col("a")), PortableHash.packInts(col("b"))),
      PortableHash.agreeCount(col("a"), col("b")),
      PortableHash.packInts(col("a")))
      .collect()
    rows.zip(out).foreach { case ((a, b), r) =>
      val model = a.zip(b).count { case (x, y) => x == y }
      assert(r.getInt(0) == model && r.getInt(1) == model)
      // lossless: the packed words decode (big-endian) to the longs
      val bb = java.nio.ByteBuffer.wrap(r.getAs[Array[Byte]](2))
      assert(bb.remaining == 4 * a.length)
      assert(a.indices.map(i => bb.getInt(4 * i).toLong) == a)
    }
  }

  test("packed agree count rejects length mismatches loudly") {
    val s = spark
    import s.implicits._
    val df = Seq((Seq(1L, 2L, 3L), Seq(1L, 2L))).toDF("a", "b")
    val e = intercept[Exception] {
      df.select(PortableHash.agreeCount(
        PortableHash.packInts(col("a")), PortableHash.packInts(col("b")))).collect()
    }
    assert(messages(e).contains("length mismatch"), messages(e))
    // a packed side never pairs with a long-array side
    intercept[org.apache.spark.sql.AnalysisException] {
      df.select(PortableHash.agreeCount(PortableHash.packInts(col("a")), col("a"))).collect()
    }
  }

  test("packing throws on any component outside [0, Int.MaxValue]") {
    val s = spark
    import s.implicits._
    val ok = Seq(Seq(0L, Int.MaxValue.toLong)).toDF("a")
      .select(PortableHash.packInts(col("a"))).head().getAs[Array[Byte]](0)
    assert(ok.toSeq == Seq[Byte](0, 0, 0, 0, 0x7f, -1, -1, -1))
    for (bad <- Seq(-1L, Int.MaxValue + 1L, Long.MinValue, Long.MaxValue)) {
      val e = intercept[Exception] {
        Seq(Seq(5L, bad)).toDF("a").select(PortableHash.packInts(col("a"))).collect()
      }
      assert(messages(e).contains(s"element 1 is $bad"), messages(e))
    }
  }

  test("affine family stays in [0, P) and is seed-deterministic") {
    assert(Config.coeffs == Config.coeffs) // lazy val, stable
    assert(Config.coeffs.forall { case (a, b) => a >= 1 && a < Config.P && b >= 0 && b < Config.P })
    val s = spark
    import s.implicits._
    val vals = Seq(0L, 1L, Config.P - 1).toDF("h")
      .select((0 until 4).map(i => PortableHash.affine(i, col("h")).as(s"v$i")): _*)
      .collect().flatMap(r => (0 until 4).map(r.getLong))
    assert(vals.forall(v => v >= 0 && v < Config.P))
  }
}
