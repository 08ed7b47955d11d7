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

  test("sorted intersect count on int sets equals the long count, boundary values included") {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(17)
    // a small pool forces overlaps; 0 and P-1 are the hash range's ends
    def elem(): Long = rnd.nextInt(4) match {
      case 0 => 0L
      case 1 => Config.P - 1
      case 2 => rnd.nextInt(40).toLong
      case _ => (rnd.nextDouble() * Config.P).toLong
    }
    def set(): Seq[Long] = Seq.fill(rnd.nextInt(60))(elem()).distinct.sorted
    val rows = Seq.fill(300)((set(), set()))
    val df = rows.toDF("a", "b")
    val (ia, ib) = (col("a").cast("array<int>"), col("b").cast("array<int>"))
    val out = df.select(
      PortableHash.sortedIntersectCount(ia, ib),
      PortableHash.sortedIntersectCount(col("a"), col("b"))).collect()
    var overlaps = 0
    rows.zip(out).foreach { case ((a, b), r) =>
      val model = a.intersect(b).size
      assert(r.getInt(0) == model && r.getInt(1) == model)
      if (model > 0) overlaps += 1
    }
    assert(overlaps > 100, s"$overlaps overlapping pairs")
    // an int side never pairs with a long side
    intercept[org.apache.spark.sql.AnalysisException] {
      df.select(PortableHash.sortedIntersectCount(ia, col("b"))).collect()
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

  /** The fingerprint model: word i's low 4 bits, two words per byte,
    * the even word in the high nibble. */
  private def nibbleModel(words: Seq[Long]): Seq[Byte] =
    words.grouped(2).map { case Seq(hi, lo) => (((hi & 0xf) << 4) | (lo & 0xf)).toByte }.toSeq

  private def nibbleAgreeModel(a: Seq[Long], b: Seq[Long]): Int =
    a.zip(b).count { case (x, y) => (x & 0xf) == (y & 0xf) }

  test("nibble agreement is never below word agreement, boundary values included") {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(13)
    // small values and 0 / P-1 force word agreements; 16-strides force
    // low-nibble agreements between unequal words
    def comp(): Long = rnd.nextInt(5) match {
      case 0 => 0L
      case 1 => Config.P - 1
      case 2 => rnd.nextInt(3).toLong
      case 3 => 15L + 16L * rnd.nextInt(4)
      case _ => (rnd.nextDouble() * Config.P).toLong
    }
    val rows = Seq.fill(300)((Seq.fill(Config.NumHashes)(comp()), Seq.fill(Config.NumHashes)(comp())))
    val (pa, pb) = (PortableHash.packInts(col("a")), PortableHash.packInts(col("b")))
    val out = rows.toDF("a", "b").select(
      PortableHash.agreeNibbles(PortableHash.lowNibbles(pa), PortableHash.lowNibbles(pb)),
      PortableHash.agreeCount(pa, pb),
      PortableHash.lowNibbles(pa))
      .collect()
    var nibbleOnly = 0
    rows.zip(out).foreach { case ((a, b), r) =>
      val nibbles = nibbleAgreeModel(a, b)
      val words = a.zip(b).count { case (x, y) => x == y }
      assert(r.getInt(0) == nibbles && r.getInt(1) == words && nibbles >= words)
      if (nibbles > words) nibbleOnly += 1
      assert(r.getAs[Array[Byte]](2).toSeq == nibbleModel(a))
    }
    assert(nibbleOnly > 0, "no pair agrees on more nibbles than words")
  }

  test("lowNibbles and agreeNibbles equal the Scala nibble model on random pairs") {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(29)
    // uniform words over [0, P), the range's ends planted in every row
    def sig(): Seq[Long] = {
      val w = Array.fill(Config.NumHashes)((rnd.nextDouble() * Config.P).toLong)
      w(rnd.nextInt(w.length)) = 0L
      w(rnd.nextInt(w.length)) = Config.P - 1
      w.toSeq
    }
    val rows = Seq.fill(300)((sig(), sig()))
    val (fa, fb) = (PortableHash.lowNibbles(PortableHash.packInts(col("a"))),
      PortableHash.lowNibbles(PortableHash.packInts(col("b"))))
    val out = rows.toDF("a", "b").select(fa, fb, PortableHash.agreeNibbles(fa, fb)).collect()
    rows.zip(out).foreach { case ((a, b), r) =>
      assert(r.getAs[Array[Byte]](0).toSeq == nibbleModel(a))
      assert(r.getAs[Array[Byte]](1).toSeq == nibbleModel(b))
      assert(r.getInt(2) == nibbleAgreeModel(a, b))
    }
    // about S/16 chance agreements per pair
    val mean = out.map(_.getInt(2)).sum.toDouble / out.length
    assert(mean > 2.0 && mean < 6.0, mean)
  }

  test("words that differ only above the low nibble agree in every nibble, no word") {
    val s = spark
    import s.implicits._
    // word i: low nibble i mod 16, upper bits 1 on one side and
    // 0x7fffffe (the top of the hash range, [0, P)) on the other
    val a = (0 until Config.NumHashes).map(i => 16L + i % 16)
    val b = (0 until Config.NumHashes).map(i => 0x7fffffeL * 16 + i % 16)
    assert(a.zip(b).forall { case (x, y) => x != y && (x & 0xf) == (y & 0xf) })
    assert(b.forall(_ < Config.P))
    val (pa, pb) = (PortableHash.packInts(col("a")), PortableHash.packInts(col("b")))
    val r = Seq((a, b)).toDF("a", "b").select(
      PortableHash.agreeNibbles(PortableHash.lowNibbles(pa), PortableHash.lowNibbles(pb)),
      PortableHash.agreeCount(pa, pb)).head()
    assert(r.getInt(0) == Config.NumHashes && r.getInt(1) == 0)
  }

  test("nibble agreement rejects length mismatches loudly, the signature included") {
    val s = spark
    import s.implicits._
    val df = Seq(Seq.tabulate(Config.NumHashes)(_.toLong)).toDF("a")
    val fa = PortableHash.lowNibbles(PortableHash.packInts(col("a")))
    for (other <- Seq(substring(fa, 2, Config.NumHashes), PortableHash.packInts(col("a")))) {
      val e = intercept[Exception](df.select(PortableHash.agreeNibbles(fa, other)).collect())
      assert(messages(e).contains("graft_nibble_agree_count: length mismatch"), messages(e))
    }
    // bytes, never long arrays
    intercept[org.apache.spark.sql.AnalysisException] {
      df.select(PortableHash.agreeNibbles(col("a"), col("a"))).collect()
    }
    // the packer takes whole word pairs only: an odd word count fails
    val e = intercept[Exception] {
      Seq(Seq(1L, 2L, 3L)).toDF("a")
        .select(PortableHash.lowNibbles(PortableHash.packInts(col("a")))).collect()
    }
    assert(messages(e).contains("graft_low_nibbles: 12 packed bytes"), messages(e))
  }

  test("Mersenne fold equals % P from 0 to the sketch maximum") {
    import org.apache.spark.sql.graft.ModP
    val p = Config.P
    val sketchMax = (p - 1) * (p - 1) + p - 1
    val rnd = new scala.util.Random(31)
    val fixed = Seq(0L, 1L, p - 2, p - 1, p, p + 1, 2 * p - 1, 2 * p, 1L << 31, (1L << 32) - 1,
      sketchMax, (1L << 62) - 1)
    val random = Seq.fill(100000)(rnd.nextLong() >>> 2) ++ // uniform over [0, 2^62)
      Seq.fill(100000)(java.lang.Math.floorMod(rnd.nextLong(), sketchMax + 1))
    for (x <- fixed ++ random) assert(ModP.fold(x) == x % p, s"x = $x")
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
