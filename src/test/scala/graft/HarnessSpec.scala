package graft

/** graft.Harness is the one session factory and query runner of the
  * mains and the suite: its selection must reject unknown names, its
  * runner must release what a query pinned even when the query fails,
  * and the suite's session must carry the mains' settings. */
class HarnessSpec extends SparkSpec {

  test("select runs every registered query, sorted, or exactly the named ones") {
    val all = Harness.select(None)
    assert(all == SparkEntry.queries.keys.toSeq.sorted)
    assert(Harness.select(Some(Seq("similar_pairs", "candidate_pairs"))) ==
      Seq("candidate_pairs", "similar_pairs"))
  }

  test("select throws on unknown names and lists every one of them") {
    val e = intercept[IllegalArgumentException](
      Harness.select(Some(Seq("similar_pairs", "simlar_pairs", "no_such_query"))))
    assert(e.getMessage.contains("unknown query names: simlar_pairs, no_such_query"),
      e.getMessage)
  }

  test("run releases the query's checkpoints when its consumer throws") {
    val sc = spark.sparkContext
    def persisted = sc.getPersistentRDDs.keySet.toSet
    val before = persisted
    var pinned = Set.empty[Int]
    intercept[IllegalStateException](Harness.run(spark, "similar_pairs", Sf0001) { _ =>
      pinned = persisted -- before
      throw new IllegalStateException("consumer failed")
    })
    assert(pinned.nonEmpty, "similar_pairs should checkpoint its signatures while building")
    // async unpersist: wait for the blocks to drop out
    val deadline = System.nanoTime() + 10_000_000_000L
    while ((persisted & pinned).nonEmpty && System.nanoTime() < deadline) Thread.sleep(50)
    assert((persisted & pinned).isEmpty, s"still pinned after run: ${persisted & pinned}")
  }

  test("the suite's session carries the mains' settings") {
    val conf = spark.conf
    assert(conf.get("spark.sql.extensions") == "graft.GraftExtensions")
    assert(conf.get("spark.sql.autoBroadcastJoinThreshold") == (64L * 1024 * 1024).toString)
    assert(conf.get("spark.sql.legacy.allowHashOnMapType") == "true")
    assert(spark.sessionState.functionRegistry.functionExists(
      org.apache.spark.sql.catalyst.FunctionIdentifier("graft_minhash_sketch")))
  }
}
