package graft

import graft.operators.Dedup

class DedupSpec extends SparkSpec {

  test("exact groups: identical texts collapse to min doc_id") {
    val d = docsDf(5L -> "same text", 2L -> "same text", 9L -> "other text")
    val groups = Dedup.exactGroups(d).collect()
      .map(r => r.getLong(1) -> r.getLong(2)).toMap // keep_id -> n_copies
    assert(groups == Map(2L -> 2L, 9L -> 1L))
  }

  test("near-dup keep: the smaller id of each near-dup pair survives") {
    val d = docsDf(
      1L -> "the quick brown fox jumps over the lazy dog",
      2L -> "the quick brown fox jumps over the lazy dog",
      3L -> "totally unrelated content qqq zzz www")
    val kept = Dedup.nearDupKeep(d).collect().map(_.getLong(0)).toSet
    assert(kept == Set(1L, 3L))
  }

  test("keep-best: the richer member of a near-dup pair survives regardless of id") {
    val d = docsDf(
      // doc 1 is a near-dup PREFIX of doc 2; doc 2 has more tokens, so
      // keep-best keeps 2 even though min-id dedup would keep 1
      1L -> "the quick brown fox jumps over the lazy dog today right",
      2L -> "the quick brown fox jumps over the lazy dog today right now",
      3L -> "totally unrelated content qqq zzz www")
    val kept = Dedup.nearDupKeepBest(d).collect().map(_.getLong(0)).toSet
    assert(kept == Set(2L, 3L), s"got $kept")
    // sanity: min-id keep makes the opposite choice on the same pair
    assert(Dedup.nearDupKeep(d).collect().map(_.getLong(0)).toSet == Set(1L, 3L))
  }

  test("near-dup groups: transitive chain A~B~C collapses to one group") {
    // B is near-dup of both A and C, but A and C may not pair directly:
    val d = docsDf(
      1L -> "aaaa bbbb cccc dddd eeee ffff gggg hhhh",
      2L -> "aaaa bbbb cccc dddd eeee ffff gggg hhhX", // ~1
      3L -> "aaaa bbbb cccc dddd eeee ffff gggX hhhX", // ~2
      4L -> "unrelated zzz qqq vvv www yyy xxx uuu")
    val groups = Dedup.nearDupGroups(spark, d).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // every doc in a pair got the min reachable id as its label
    assert(groups.nonEmpty)
    val label = groups.values.toSet
    assert(label.size == 1 && label.head == 1L, s"got $groups")
    assert(!groups.contains(4L))
  }

  test("adversarial 42-doc chain: pointer jumping converges a path deeper than maxIter hops") {
    // doc i = 15 consecutive 66-char blocks from a sliding window, so
    // consecutive docs share 14 of 16 blocks (J ≈ 14/16 = 0.875 ≥ 0.8)
    // while docs two apart share 13 of 17 (J ≈ 0.765 < 0.8) — a TRUE
    // 41-hop path: plain one-hop min propagation needs 42 rounds
    // (> maxIter = 40 — the pre-r11 loop THREW on this input); the
    // hash-to-min jump term converges it in O(log 41) rounds.
    def block(j: Int): String =
      (0 until 66).map { p =>
        val h = scala.util.hashing.MurmurHash3.productHash((j, p))
        ('a' + ((h & 0x7fffffff) % 26)).toChar
      }.mkString
    val n = 42
    val docs = docsDf((0 until n).map { i =>
      i.toLong -> (i until i + 15).map(block).mkString(" ")
    }: _*)
    // pin the path shape first: the verified pairs are EXACTLY the 41
    // consecutive links (deterministic: the minhash family is seeded)
    val pairs = graft.operators.MinHashLsh.similarPairs(docs)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val want = (0L until (n - 1).toLong).map(i => (i, i + 1)).toSet
    assert(pairs == want,
      s"chain shape broken: extra=${(pairs -- want).take(5)} missing=${(want -- pairs).take(5)}")
    val (labels, iterations) =
      Dedup.nearDupGroupsCounted(spark, docs, Config.K, Config.Threshold, maxIter = 40)
    val groups = labels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(groups.size == n && groups.values.forall(_ == 0L),
      s"the whole chain must collapse to group 0: ${groups.toSeq.sortBy(_._1).take(6)}...")
    // pin the O(log diameter) claim itself, not just the result:
    // measured 8 rounds on the 41-hop path (~log2 + detection);
    // 12 allows jitter while still failing any O(diameter) regression
    // (plain propagation needs 42)
    assert(iterations <= 12,
      s"pointer jumping regressed: $iterations iterations on a 41-hop path")
  }

  test("group keep-best: exactly one survivor per component — its richest member") {
    val d = docsDf(
      // one transitive chain 1~2~3; doc 3 has the most tokens
      1L -> "aaaa bbbb cccc dddd eeee ffff gggg hhhh",
      2L -> "aaaa bbbb cccc dddd eeee ffff gggg hhhX",
      3L -> "aaaa bbbb cccc dddd eeee ffff gggg hhhX bbbb",
      4L -> "unrelated zzz qqq vvv www yyy xxx uuu")
    val rows = Dedup.nearDupGroupsKeepBest(spark, d).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(3)))
    assert(rows.length == 1, s"got ${rows.toSeq}")
    val (groupId, keptId, size) = rows.head
    assert(groupId == 1L && keptId == 3L && size == 3L)
  }
}
