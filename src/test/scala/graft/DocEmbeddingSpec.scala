package graft

import graft.operators.{DocEmbedding, MinHashLsh}
import org.apache.spark.sql.functions._

class DocEmbeddingSpec extends SparkSpec {

  test("featureEmbed produces a Dim-wide signed vector whose n2 matches the components") {
    val d = docsDf(1L -> "the quick brown fox", 2L -> "the quick brown fox")
    val emb = DocEmbedding.featureEmbed(d).collect()
    assert(emb.length == 2)
    val r = emb.head
    val comps = (0 until DocEmbedding.Dim).map(j => r.getLong(r.fieldIndex(f"v_$j%02d")))
    assert(r.getLong(r.fieldIndex("n2")) == comps.map(v => v * v).sum)
    assert(comps.exists(_ != 0))
  }

  test("identical texts get cosine 1 and are deduped to the smaller id") {
    val d = docsDf(10L -> "a completely unremarkable sentence about weather",
      20L -> "a completely unremarkable sentence about weather",
      30L -> "some totally different content with other words entirely")
    val pairs = DocEmbedding.dedupPairs(d).collect()
    assert(pairs.length == 1)
    assert(pairs.head.getLong(0) == 10L && pairs.head.getLong(1) == 20L)
    // dot/(sqrt(n2)*sqrt(n2)) is 1.0 up to one ulp of the sqrt round-trip
    assert(pairs.head.getDouble(2) > 0.9999999)
    val kept = DocEmbedding.dedupKeep(d).collect().map(_.getLong(0)).sorted
    assert(kept.toSeq == Seq(10L, 30L))
  }

  test("dissimilar texts produce no pairs") {
    val d = docsDf(1L -> "alpha beta gamma delta epsilon zeta",
      2L -> "one two three four five six seven")
    assert(DocEmbedding.dedupPairs(d).count() == 0)
  }

  test("sf0.001: embedding dedup catches nearly all minhash near-dup pairs") {
    val docs = spark.read.parquet(s"$Sf0001/documents.parquet")
    val mh = MinHashLsh.similarPairs(docs).select("id_l", "id_r").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val emb = DocEmbedding.dedupPairs(docs).select("id_l", "id_r").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // calibrated: 27 of 28 true pairs co-bucket (OR-amplified sign-LSH)
    assert(mh.nonEmpty)
    assert((mh intersect emb).size >= mh.size - 2,
      s"embedding dedup caught ${(mh intersect emb).size} of ${mh.size} minhash pairs")
    // and stays selective: no more than a handful of extra borderline pairs
    assert(emb.size <= mh.size + 10)
  }
}
