package graft

import org.apache.spark.sql.functions._
import graft.operators.TextAnalysis

class TextAnalysisSpec extends SparkSpec {

  private def docsWithLang(rows: (Long, String, String)*) = {
    val s = spark
    import s.implicits._
    rows.toDF("doc_id", "text", "lang")
  }

  test("pii masking redacts emails, ips, phones, and id runs in order") {
    val d = docsDf(
      1L -> "write to a.user+tag@sub.example.org or 192.168.1.17 now",
      2L -> "call +1 (555) 123-4567 about acct 987654321 today",
      3L -> "no pii here at all",
      4L -> "two mails x@y.io and z@w.co plus 10.0.0.1 and 10.0.0.2",
      // separator padding must not satisfy the >= 9 DIGITS phone rule,
      // and 8 digits is one short of it
      5L -> "ping +1 ------- 2 or +12345678 later")
    val out = TextAnalysis.piiMask(d).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(out(1L).getString(1) == "write to <EMAIL> or <IP> now")
    assert(out(1L).getLong(2) == 1 && out(1L).getLong(3) == 1)
    // the phone is consumed by the phone pattern BEFORE the generic
    // digit-run rule can split it; the bare account number becomes <ID>
    assert(out(2L).getString(1) == "call <PHONE> about acct <ID> today")
    assert(out(2L).getLong(4) == 1)
    assert(out(3L).getString(1) == "no pii here at all")
    assert(out(3L).getLong(2) == 0 && out(3L).getLong(3) == 0 && out(3L).getLong(4) == 0)
    assert(out(4L).getString(1) == "two mails <EMAIL> and <EMAIL> plus <IP> and <IP>")
    assert(out(4L).getLong(2) == 2 && out(4L).getLong(3) == 2)
    assert(out(5L).getString(1) == "ping +1 ------- 2 or +12345678 later")
    assert(out(5L).getLong(4) == 0)
  }

  test("blocklist filter drops exact-token matches only, not substrings") {
    val d = docsDf(
      1L -> "clean words only here",
      2L -> "contains dup token inside",
      3L -> "duplicate is a different token",
      4L -> "ends with slow")
      .withColumn("lang", lit("en"))
      .withColumn("source", lit("t"))
    val kept = TextAnalysis.blocklistFilter(d).collect().map(_.getLong(0)).toSet
    assert(kept == Set(1L, 3L), s"got $kept")
  }

  test("pii masking is idempotent: placeholders never re-match a pattern") {
    val d = docsDf(
      1L -> "a.user@x.io 10.0.0.1 +1 555 123 4567 acct 987654321",
      2L -> "clean text with no identifiers")
    val once = TextAnalysis.piiMask(d).select("doc_id", "masked_text")
    val twice = TextAnalysis.piiMask(
      once.withColumnRenamed("masked_text", "text")).select("doc_id", "masked_text")
    val o = once.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val t = twice.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(o == t, "masking a masked text must change nothing")
  }

  test("token stats on a crafted line") {
    val r = TextAnalysis.tokenStats(docsDf(1L -> "the fast  key ")).collect().head
    assert(r.getLong(1) == 3)          // n_tokens (double space + trailing ignored)
    assert(r.getLong(2) == 3)          // distinct
    assert(r.getLong(3) == 10)         // thefastkey
    assert(r.getDouble(4) == 10.0 / 3) // avg token len
  }

  test("token stats on empty text does not divide by zero") {
    val r = TextAnalysis.tokenStats(docsDf(1L -> "")).collect().head
    assert(r.getLong(1) == 0 && r.getDouble(4) == 0.0)
  }

  test("quality: stopword and type-token ratios") {
    val r = TextAnalysis.quality(docsDf(1L -> "the the cat")).collect().head
    assert(r.getLong(2) == 3)   // tokens
    assert(r.getLong(3) == 2)   // types
    assert(r.getLong(4) == 2)   // stopwords ("the" twice)
    assert(r.getDouble(5) == 2.0 / 3 && r.getDouble(6) == 2.0 / 3)
  }

  test("lang id scores marker words and breaks ties en > es > zh") {
    val out = TextAnalysis.langId(docsWithLang(
      (1L, "the a of order", "en"),
      (2L, "data column table row", "es"),
      (3L, "vector stream window", "zh"),
      (4L, "nothing matches here", "en"))).collect()
      .map(r => r.getLong(0) -> r.getString(5)).toMap
    assert(out == Map(1L -> "en", 2L -> "es", 3L -> "zh", 4L -> "en"))
  }

  test("fingerprint equals the portable fold hash of the text") {
    val model = "abc".foldLeft(0L)((a, c) => (a * 31 + c.toInt) % Config.P)
    val d = docsDf(1L -> "abc").withColumn("n_chars", lit(3L))
    assert(TextAnalysis.fingerprint(d).collect().head.getLong(1) == model)
  }

  test("simhash: identical docs equal, near docs close, far docs far (hamming)") {
    val d = docsDf(
      1L -> "the quick brown fox jumps over the lazy dog",
      2L -> "the quick brown fox jumps over the lazy dog",
      3L -> "the quick brown fox jumps over the lazy cat",
      4L -> "zzz qqq completely different www yyy unrelated")
    val fp = TextAnalysis.simHash(d).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(fp(1L) == fp(2L))
    assert(ham(fp(1L), fp(3L)) < ham(fp(1L), fp(4L)))
  }

  test("word bigram jaccard is 1.0 for identical docs in a candidate pair") {
    val d = docsDf(
      1L -> "alpha beta gamma delta epsilon zeta",
      2L -> "alpha beta gamma delta epsilon zeta")
    val out = TextAnalysis.wordNgramJaccard(d).collect()
    assert(out.length == 1 && out.head.getDouble(2) == 1.0)
  }

  test("blocked simhash pairs: identical docs at hamming 0, one-word edits within 3, disjoint absent") {
    val d = docsDf(
      1L -> "the quick brown fox jumps over the lazy dog tonight",
      2L -> "the quick brown fox jumps over the lazy dog tonight",
      3L -> "the quick brown fox jumps over the lazy cat tonight",
      4L -> "entirely unrelated words compose this other sentence here")
    val out = TextAnalysis.simHashPairs(d).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toMap
    assert(out((1L, 2L)) == 0L)
    assert(out.keySet.forall { case (l, r) => l < r && l != 4L && r != 4L })
    out.get((1L, 3L)).foreach(h => assert(h <= 3))
  }

  test("fused word bigrams equal the built-ins form (spacing, unicode, edge cases)") {
    import org.apache.spark.sql.functions.col
    val texts = Seq("a b c", "solo", "", "  double  spaces  here ", "tab\tkept b",
      "中文 词语 测试", "x " * 200, "a b a b a")
    val d = docsDf(texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }: _*)
    val both = d.select(
      TextAnalysis.bigramsCol(col("text")).as("fused"),
      TextAnalysis.bigramsColBuiltins(col("text")).as("ref")).collect()
    both.foreach(r => assert(r.getSeq[String](0) == r.getSeq[String](1)))
  }

  test("tfidf ranks a doc's distinctive repeated term first") {
    val d = docsDf(
      1L -> "zebra zebra zebra common common",
      2L -> "common words only here",
      3L -> "more common words again")
    val out = TextAnalysis.tfidfTopTerms(d).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(5)))
    val doc1Top = out.filter(r => r._1 == 1L && r._3 == 1L).head
    assert(doc1Top._2 == "zebra") // tf=3, df=1 beats common (tf=2, df=3)
    // every doc gets at most topK ranked rows, ranks contiguous from 1
    out.groupBy(_._1).foreach { case (_, rows) =>
      assert(rows.map(_._3).sorted.toSeq == (1L to rows.length).toSeq)
    }
  }

  test("contaminationPairs flags only docs sharing enough n-grams with a benchmark doc") {
    // ids chosen so 0 and 97 are "benchmark" (id % 97 == 0)
    val d = docsDf(
      0L -> "alpha beta gamma delta epsilon zeta eta theta", // benchmark
      1L -> "alpha beta gamma delta epsilon zeta different tail", // shares 5-gram window(s)
      2L -> "completely unrelated words here nothing matches benchmark text",
      3L -> "alpha beta gamma x delta epsilon zeta y") // no shared 5-gram (broken windows)
    val out = TextAnalysis.contaminationPairs(d, n = 5, minShared = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // doc 1 shares windows "alpha..epsilon" and "beta..zeta" with bench 0
    assert(out.map(t => (t._1, t._2)).toSet == Set((1L, 0L)), s"got ${out.toSeq}")
    assert(out.head._3 == 2)
  }

  test("repetitionStats: longest run and bigram duplication are exact") {
    val d = docsDf(
      1L -> "spam spam spam ham spam",
      2L -> "a b a b a b",
      3L -> "")
    val m = TextAnalysis.repetitionStats(d).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))).toMap
    assert(m(1L) == (5L, 2L, 3L, 4L, 3L)) // runs: spam×3; bigrams: ss,ss,sh,hs -> 3 distinct
    assert(m(2L) == (6L, 2L, 1L, 5L, 2L)) // alternating: max run 1, bigrams ab/ba
    assert(m(3L) == (0L, 0L, 0L, 0L, 0L))
  }

  test("sf0.001: blocked simhash dedup catches most minhash near-dup pairs") {
    val docs = spark.read.parquet(s"$Sf0001/documents.parquet")
    val mh = graft.operators.MinHashLsh.similarPairs(docs).select("id_l", "id_r")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val sh = TextAnalysis.simHashPairs(docs).select("id_l", "id_r")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // calibrated on this corpus: 25/28 true pairs within hamming 3,
    // a handful of borderline extras
    assert((mh intersect sh).size >= (mh.size * 8) / 10,
      s"simhash caught ${(mh intersect sh).size} of ${mh.size}")
    assert(sh.size <= mh.size + 15, s"too many extras: ${sh.size} vs ${mh.size}")
  }

  test("quality calibration: ttr buckets, counts, and the real gate flag") {
    val s = spark
    import s.implicits._
    val d = Seq(
      (1L, "a a a a a a"),                   // ttr 166 -> bucket 1; fails gate
      (2L, "alpha beta gamma delta epsilon"), // ttr 1000 -> bucket 10; passes
      (3L, "x y z w v q r s t u")             // ttr 1000 -> bucket 10; 19 chars, fails
    ).toDF("doc_id", "text")
    val rows = TextAnalysis.qualityCalibration(d).collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))).toMap
    assert(rows(1L) == ((1L, 0L, 6L, 166L, 166L)))
    assert(rows(10L) == ((2L, 1L, 15L, 1000L, 1000L)))
    assert(rows.size == 2)
  }

  test("langid confusion: counts land in the actual × predicted cell") {
    val s = spark
    import s.implicits._
    val d = Seq(
      (1L, "the a of order key", "en"),   // en markers -> pred en
      (2L, "data column table row", "es"), // es markers -> pred es
      (3L, "data column table row", "en"), // es-looking text labeled en
      (4L, "vector stream window batch", "zh")
    ).toDF("doc_id", "text", "lang")
    val rows = TextAnalysis.langIdConfusion(d).collect()
      .map(r => (r.getString(0), r.getString(1)) -> ((r.getLong(2), r.getLong(3)))).toMap
    assert(rows(("en", "en")) == ((1L, 1L)))
    assert(rows(("es", "es")) == ((1L, 2L)))
    assert(rows(("en", "es")) == ((1L, 3L))) // the planted misclassification
    assert(rows(("zh", "zh")) == ((1L, 4L)))
    assert(rows.values.map(_._1).sum == 4L)
  }
}
