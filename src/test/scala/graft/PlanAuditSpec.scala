package graft

/** Engine-wide plan audit, two gates over ONE planning pass of every
  * SparkEntry query at sf0.001 (planning shapes are scale-independent
  * here: join strategies may flip between broadcast and sort-merge
  * with stats, but a cartesian at any SF means the logical shape
  * itself is wrong):
  *
  *  1. ABSOLUTE: no query may plan a CartesianProduct or (outside the
  *     bounded-by-construction allowlist) a BroadcastNestedLoopJoin —
  *     the silent scale-killers.
  *  2. RELATIVE (r11 verdict item 4 — the automated successor to the
  *     hand-diffed PLANS_r{N} directories): each query's SHUFFLE
  *     EXCHANGE count must not exceed the committed baseline in
  *     `PLAN_DIGESTS.json`. A new Exchange in a registered query is
  *     exactly the regression the per-round digest diff kept
  *     catching by hand; now it fails the suite instead. Intentional
  *     plan changes regenerate the baseline:
  *
  *       GRAFT_UPDATE_PLAN_DIGESTS=1 sbt "Test/testOnly graft.PlanAuditSpec"
  *
  *     and the regenerated file is reviewed like any diff (a shrink
  *     is an improvement; a growth needs a reason in the commit).
  */
class PlanAuditSpec extends SparkSpec {

  /** Queries where a BroadcastNestedLoopJoin is the DESIGN, with a
    * broadcast side bounded by construction (not by data luck):
    * - cosine_topk: brute-force baseline, a fixed small query set
    *   broadcast against the corpus (the scale paths are
    *   ann_buckets/ann_topk/ann_ivf_topk).
    * - ann_ivf_topk: probe set x fixed centroid list (numCentroids
    *   is a constant).
    * - ann_ivf_append: same fixed-centroid broadcast, in the
    *   build/assign/probe stages of the incremental index lifecycle.
    * - tfidf_top_terms: the corpus doc-count scalar (1 row) crossed
    *   into the per-term stream.
    * - q11_important_suppliers: the global revenue total (1 row)
    *   crossed into the per-supplier frame.
    * - unigram_score: the corpus total-token-count scalar (1 row)
    *   crossed into the per-doc frame.
    * - bm25_topk: the corpus (sum_dl, n_docs) scalar (1 row) crossed
    *   into the per-term postings stream.
    * - hybrid_rerank: contains bm25's scalar cross join; its own
    *   anchor-vector join is a |terms|-row broadcast.
    * - skew_report: the (total_rows, n_keys) scalar (1 row) crossed
    *   into the k-row top-keys frame. */
  private val boundedByConstruction =
    Set("cosine_topk", "ann_ivf_topk", "ann_ivf_append", "tfidf_top_terms",
      "q11_important_suppliers", "unigram_score", "bm25_topk", "hybrid_rerank",
      "skew_report")

  private val DigestFile = java.nio.file.Paths.get("PLAN_DIGESTS.json")

  private case class Digest(shuffles: Int, cartesian: Int, bnlj: Int)

  private val ShuffleRe =
    "Exchange (hashpartitioning|rangepartitioning|SinglePartition|RoundRobinPartitioning)".r

  private def digestOf(plan: String): Digest = Digest(
    shuffles = ShuffleRe.findAllIn(plan).size,
    cartesian = "CartesianProduct".r.findAllIn(plan).size,
    bnlj = "BroadcastNestedLoopJoin".r.findAllIn(plan).size)

  /** STREAMING surface (r12 verdict item 4): the batch pass below sees
    * only each stream query's RESULT frame — a memory-table or sink
    * scan — so the micro-batch plans that run the actual shuffles went
    * undigested. PlanCapture arms the harness runners to record each
    * query's last-batch executed plan; these names MUST capture every
    * audit run (their memory-sink/fresh-feed runs always execute
    * batches once the feed dirs are reset). `stream_change_feed` is
    * the deliberate exception: its checkpoint outlives the JVM, so a
    * resumed run may legitimately have no last batch — captured
    * opportunistically, compared when present. */
  private val optionalStreamCaptures = Set(
    "stream_change_feed", // checkpoint outlives the JVM (see above)
    // batch view over stream_to_parquet's sink: runs no stream of its
    // own; the micro-batch plan is captured under stream_to_parquet
    "stream_compacted")
  /** DERIVED from SparkEntry's stream_* keys (r13 advice): a future
    * streaming query added via a raw writeStream path without a
    * PlanCapture.record call must fail here, not silently escape the
    * micro-batch shuffle/cartesian gate — to ship it, either capture
    * its last-batch plan or exempt it above with a reason. */
  private def requiredStreamCaptures: Set[String] =
    SparkEntry.queries.keySet.filter(_.startsWith("stream_")) --
      optionalStreamCaptures
  /** Suffix separating a query's MICRO-BATCH digest from its batch
    * result-frame digest in PLAN_DIGESTS.json. */
  private val StreamSuffix = "#stream"

  /** One planning pass for both gates — batch result plans for every
    * query, plus the captured last-batch micro-batch plans for the
    * streaming surface. Construction may build fixtures and
    * checkpoint internals — released per query so 200+ constructions
    * don't pin executor storage across the audit. */
  private lazy val digests: Seq[(String, Digest)] = {
    graft.streaming.StreamingQueries.resetFeedDirs()
    val batch = PlanCapture.withCapture {
      Harness.select(None).map { name =>
        name -> Harness.run(spark, name, Sf0001)(df =>
          digestOf(df.queryExecution.executedPlan.toString))
      }
    }
    val streamed = PlanCapture.capturedPlans.toSeq
      .map { case (n, p) => n.stripPrefix("graft_") + StreamSuffix -> digestOf(p) }
      .sortBy(_._1)
    val captured = streamed.map(_._1.stripSuffix(StreamSuffix)).toSet
    val missed = requiredStreamCaptures -- captured
    assert(missed.isEmpty,
      s"streaming queries ran without capturing a last-batch plan: ${missed.mkString(", ")}")
    batch ++ streamed
  }

  test("no query plans a cartesian product or nested-loop join") {
    val offenders = digests.flatMap { case (name, d) =>
      val bad =
        (if (d.cartesian > 0) Seq("CartesianProduct") else Nil) ++
          (if (d.bnlj > 0 && !boundedByConstruction(name))
            Seq("BroadcastNestedLoopJoin") else Nil)
      if (bad.nonEmpty) Some(s"$name: ${bad.mkString(", ")}") else None
    }
    assert(offenders.isEmpty, s"quadratic join shapes in:\n${offenders.mkString("\n")}")
  }

  test("plan digests match the committed baseline (no unexplained new shuffle)") {
    def render: String = digests.map { case (n, d) =>
      s""" "$n": {"shuffles": ${d.shuffles}, "cartesian": ${d.cartesian}, "bnlj": ${d.bnlj}}"""
    }.mkString("{\n", ",\n", "\n}\n")
    if (sys.env.contains("GRAFT_UPDATE_PLAN_DIGESTS")) {
      java.nio.file.Files.writeString(DigestFile, render)
      info(s"regenerated $DigestFile (${digests.size} queries)")
    } else {
      assert(java.nio.file.Files.exists(DigestFile),
        s"missing $DigestFile — regenerate with GRAFT_UPDATE_PLAN_DIGESTS=1")
      val Line = """\s*"([^"]+)": \{"shuffles": (\d+), "cartesian": (\d+), "bnlj": (\d+)\},?""".r
      val baseline = java.nio.file.Files.readString(DigestFile).linesIterator
        .collect { case Line(n, s, c, b) => n -> Digest(s.toInt, c.toInt, b.toInt) }
        .toMap
      assert(baseline.nonEmpty, s"$DigestFile parsed to nothing — regenerate it")
      val currentNames = digests.map(_._1).toSet
      // opportunistic stream captures may be absent from a given run
      // (checkpoint-resumed, nothing new) — their baseline entries are
      // not stale, and their absence is not a missing digest
      val optional = optionalStreamCaptures.map(_ + StreamSuffix)
      val missing = currentNames -- baseline.keySet -- optional
      val stale = baseline.keySet -- currentNames -- optional
      val regressed = digests.flatMap { case (name, d) =>
        baseline.get(name).flatMap { b =>
          val grew =
            (if (d.shuffles > b.shuffles)
              Seq(s"shuffles ${b.shuffles} -> ${d.shuffles}") else Nil) ++
              (if (d.cartesian > b.cartesian)
                Seq(s"cartesian ${b.cartesian} -> ${d.cartesian}") else Nil) ++
              (if (d.bnlj > b.bnlj) Seq(s"bnlj ${b.bnlj} -> ${d.bnlj}") else Nil)
          if (grew.nonEmpty) Some(s"$name: ${grew.mkString(", ")}") else None
        }
      }
      assert(regressed.isEmpty && missing.isEmpty && stale.isEmpty,
        s"""plan digest drift vs $DigestFile —
           |regressions (a NEW Exchange/cartesian/BNLJ needs a reason, then regenerate):
           |${regressed.mkString("\n")}
           |queries missing from baseline: ${missing.mkString(", ")}
           |stale baseline entries: ${stale.mkString(", ")}
           |regenerate with GRAFT_UPDATE_PLAN_DIGESTS=1 sbt "Test/testOnly graft.PlanAuditSpec"""".stripMargin)
    }
  }
}
