package graft

import org.apache.spark.sql.functions._
import graft.functions.PortableHash
import graft.operators.{MinHashLsh, Shingling}
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, SortMergeJoinExec}

class MinHashLshSpec extends SparkSpec {

  test("narrow per-row signatures equal the aggregated formulation on sf0.001") {
    val docs = spark.read.parquet(s"$Sf0001/documents.parquet")
    val narrow = MinHashLsh.signatures(docs).collect()
      .map(r => r.getLong(0) -> (1 until r.length).map(r.getLong)).toMap
    val agg = MinHashLsh.signaturesAgg(docs).collect()
      .map(r => r.getLong(0) -> (1 until r.length).map(r.getLong)).toMap
    assert(narrow == agg)
  }

  private val nearDup = docsDf(
    1L -> "the quick brown fox jumps over the lazy dog",
    2L -> "the quick brown fox jumps over the lazy cat", // near-dup of 1
    3L -> "completely different content with nothing shared zzz qqq",
    4L -> "the quick brown fox jumps over the lazy dog" // exact dup of 1
  )

  test("signatures are deterministic across runs and have S columns") {
    val a = MinHashLsh.signatures(nearDup).orderBy("doc_id").collect()
    val b = MinHashLsh.signatures(nearDup).orderBy("doc_id").collect()
    assert(a.toSeq == b.toSeq)
    assert(a.head.length == 1 + Config.NumHashes)
  }

  test("identical docs have identical signatures; disjoint docs differ") {
    val sigs = MinHashLsh.signatures(nearDup).orderBy("doc_id").collect()
      .map(r => r.getLong(0) -> (1 to Config.NumHashes).map(r.getLong)).toMap
    assert(sigs(1L) == sigs(4L))
    assert(sigs(1L) != sigs(3L))
  }

  test("bands: B entries per doc, band index part of the key (fixes Q5)") {
    val b = MinHashLsh.bands(nearDup)
    assert(b.groupBy("doc_id").count().collect().forall(_.getLong(1) == Config.Bands))
    assert(b.select("band").distinct().count() == Config.Bands)
  }

  test("exact dup pair is always a candidate; verified with jaccard 1.0") {
    val cand = MinHashLsh.candidatePairs(nearDup).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(cand.contains((1L, 4L)))
    val sim = MinHashLsh.similarPairs(nearDup).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(sim((1L, 4L)) == 1.0)
    // disjoint doc 3 never pairs
    assert(!sim.keySet.exists(p => p._1 == 3L || p._2 == 3L))
  }

  test("similar pairs are a subset of candidates and meet the threshold") {
    val cand = MinHashLsh.candidatePairs(nearDup).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val sim = MinHashLsh.similarPairs(nearDup).collect()
    assert(sim.forall(r => cand.contains((r.getLong(0), r.getLong(1)))))
    assert(sim.forall(_.getDouble(2) >= Config.Threshold))
  }

  test("minhash estimate approximates exact jaccard (within 0.2 at S=60)") {
    val est = MinHashLsh.estimatedPairs(nearDup).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val sets = Shingling.shingleSets(nearDup).collect()
      .map(r => r.getLong(0) -> r.getSeq[String](1).toSet).toMap
    est.foreach { case ((l, r), e) =>
      val t = sets(l).intersect(sets(r)).size.toDouble / sets(l).union(sets(r)).size
      assert(math.abs(e - t) < 0.2, s"pair ($l,$r): est $e vs true $t")
    }
  }

  test("symmetric output contains both directions with texts") {
    val sym = MinHashLsh.pairsSymmetric(nearDup).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(sym.contains((1L, 4L)) && sym.contains((4L, 1L)))
  }

  test("maxBucket cap drops degenerate buckets but keeps small ones") {
    val many = docsDf((1L to 20L).map(i => i -> "identical text shared by everyone"): _*)
    val capped = MinHashLsh.candidatePairs(many, maxBucket = Some(5)).count()
    val uncapped = MinHashLsh.candidatePairs(many).count()
    assert(uncapped == 20L * 19 / 2)
    assert(capped == 0)
    // beside the flood: near-dups, and buckets of exactly m and m + 1
    // rows. The capped pairs are exactly those sharing a bucket of at
    // most m rows in the collected bands.
    val m = 5
    val mixed = many.union(nearDup.withColumn("doc_id", col("doc_id") + 100))
      .union(docsDf((201L to 205L).map(_ -> "five copies of this one text"): _*))
      .union(docsDf((301L to 306L).map(_ -> "six copies of this other text"): _*))
    val b = MinHashLsh.bands(mixed)
    val rows = b.collect().map(r => (r.getLong(0), (r.getInt(1), r.getAs[Array[Byte]](2).toSeq)))
    val members = rows.groupMap(_._2)(_._1).view.mapValues(_.toSeq).toMap
    val keptRows = rows.filter(x => members(x._2).length <= m).toSet
    val want = (for (ids <- members.values if ids.length <= m; l <- ids; r <- ids if l < r)
      yield (l, r)).toSet
    assert(want.contains((101L, 104L)) && want.contains((201L, 205L)) &&
      !want.exists(_._1 > 300))
    val got = MinHashLsh.candidatePairs(mixed, maxBucket = Some(m)).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(got.length == got.toSet.size && got.toSet == want)
    // the rows the capped band index is written from
    val kept = MinHashLsh.capBuckets(b, Some(m)).collect()
      .map(r => (r.getLong(0), (r.getInt(1), r.getAs[Array[Byte]](2).toSeq))).toSet
    assert(kept == keptRows)
  }

  test("group sketch UDAF equals per-column min of member signatures, repartition-invariant") {
    val docs = spark.read.parquet(s"$Sf0001/documents.parquet")
    val viaUdaf = MinHashLsh.groupSketch(docs).collect()
      .map(r => r.getLong(0) -> (1 until r.length).map(r.getLong)).toMap
    val viaMin = MinHashLsh.signatures(docs)
      .groupBy((col("doc_id") % 50).as("g"))
      .agg(min(Config.sigCol(0)).as(Config.sigCol(0)),
        (1 until Config.NumHashes).map(i => min(Config.sigCol(i)).as(Config.sigCol(i))): _*)
      .collect().map(r => r.getLong(0) -> (1 until r.length).map(r.getLong)).toMap
    assert(viaUdaf.nonEmpty && viaUdaf == viaMin)
    val shuffled = MinHashLsh.groupSketch(docs.repartition(13)).collect()
      .map(r => r.getLong(0) -> (1 until r.length).map(r.getLong)).toMap
    assert(shuffled == viaUdaf)
  }

  test("collision counts cover exactly the candidate set, bounded by Bands, exact dups at max") {
    val counts = MinHashLsh.collisionCounts(nearDup).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    val cand = MinHashLsh.candidatePairs(nearDup).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(counts.keySet == cand)
    assert(counts.values.forall(n => n >= 1 && n <= Config.Bands))
    assert(counts((1L, 4L)) == Config.Bands) // exact dup collides in every band
  }

  test("incremental candidates equal full-corpus candidates touching the batch") {
    val docs = spark.read.parquet(s"$Sf0001/documents.parquet")
    val split = 50L
    val corpus = docs.filter(col("doc_id") < split)
    val batch = docs.filter(col("doc_id") >= split)
    val inc = MinHashLsh.incrementalCandidates(MinHashLsh.bands(corpus), batch)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val full = MinHashLsh.candidatePairs(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .filter { case (l, r) => l >= split || r >= split }.toSet
    assert(inc.nonEmpty && inc == full)
  }

  test("pure-SQL signatures equal the DataFrame formulation") {
    val docs = spark.read.parquet(s"$Sf0001/documents.parquet")
    val viaSql = MinHashLsh.signaturesSql(docs).collect()
      .map(r => r.getLong(0) -> (1 until r.length).map(r.getLong)).toMap
    val viaDf = MinHashLsh.signatures(docs).collect()
      .map(r => r.getLong(0) -> (1 until r.length).map(r.getLong)).toMap
    assert(viaSql.nonEmpty && viaSql == viaDf)
  }

  test("rowwise (streaming) bands equal the aggregated formulation") {
    def keyed(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Int]("band"),
        r.getAs[Array[Byte]]("band_key").toSeq)).toSet
    val agg = keyed(MinHashLsh.bands(nearDup))
    assert(agg.nonEmpty && agg.forall(_._3.length == 4 * Config.RowsPerBand))
    assert(keyed(MinHashLsh.rowwiseBands(nearDup)) == agg)
  }

  test("lsh_bands renders each packed key as the decimal CSV of its band's signatures") {
    val docs = spark.read.parquet(s"$Sf0001/documents.parquet")
    val r = Config.RowsPerBand
    val sigs = MinHashLsh.signatures(docs)
    val reference = sigs.select(col("doc_id"), explode(array((0 until Config.Bands).map { j =>
      struct(lit(j).as("band"),
        concat_ws(",", (j * r until (j + 1) * r).map(i => col(Config.sigCol(i)).cast("string")): _*)
          .as("band_key"))
    }: _*)).as("bk")).select(col("doc_id"), col("bk.band"), col("bk.band_key"))
    val rendered = SparkEntry.queries("lsh_bands")(spark, Sf0001)
    assert(rendered.schema("band_key").dataType == org.apache.spark.sql.types.StringType)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(x => (x.getLong(0), x.getInt(1), x.getString(2))).toSet
    val want = rows(reference)
    assert(want.size == sigs.count() * Config.Bands && rows(rendered) == want)
    // a literal key at the edges of the 31-bit component range
    val words = Seq(0L, 1L, 2147483646L, 7L, 1L << 24, 255L).take(r)
    val key = words.flatMap(v => Seq(v >>> 24, v >>> 16, v >>> 8, v).map(_.toByte)).toArray
    val s = spark
    import s.implicits._
    val csv = Seq(key).toDF("band_key").select(MinHashLsh.bandKeyCsv(col("band_key"))).head().getString(0)
    assert(csv == words.mkString(","))
  }

  test("a band index with a CSV (string) band_key fails naming band_key, not zero candidates") {
    val corpus = nearDup.filter(col("doc_id") < 3)
    val batch = nearDup.filter(col("doc_id") >= 3)
    val stale = MinHashLsh.bands(corpus).withColumn("band_key", MinHashLsh.bandKeyCsv(col("band_key")))
    val e1 = intercept[IllegalArgumentException](MinHashLsh.incrementalCandidates(stale, batch))
    assert(e1.getMessage.contains("band_key"), e1.getMessage)
    val e2 = intercept[IllegalArgumentException](
      graft.operators.IncrementalIngest.filterBatch(batch, stale, corpus).collect())
    assert(e2.getMessage.contains("band_key"), e2.getMessage)
  }

  test("bounded-corpus cut is the broadcast threshold / 32; broadcast off bounds nothing") {
    val dir = java.nio.file.Files.createTempDirectory("graft-bounded").toString + "/docs"
    // ~1 MB of incompressible text: under the 2 MiB cut of the 64 MB threshold
    spark.range(0, 2600, 1, 1).select(col("id").as("doc_id"),
        concat((0 until 6).map(i => sha2(concat(col("id").cast("string"), lit(s"#$i")), 256)): _*)
          .as("text"))
      .write.parquet(dir)
    val docs = spark.read.parquet(dir)
    val bytes = docs.inputFiles.map(f => new java.io.File(new java.net.URI(f)).length).sum
    assert(bytes > 512L * 1024 && bytes < 2L * 1024 * 1024, s"$bytes bytes")
    assert(MinHashLsh.corpusIsBounded(docs))
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val old = spark.conf.get(key)
    try {
      spark.conf.set(key, "-1")
      assert(!MinHashLsh.corpusIsBounded(docs))
      spark.conf.set(key, (bytes * 32 - 32).toString)
      assert(!MinHashLsh.corpusIsBounded(docs))
      spark.conf.set(key, (bytes * 32).toString)
      assert(MinHashLsh.corpusIsBounded(docs))
    } finally spark.conf.set(key, old)
  }

  test("signaturesSql leaves the session's injected graft_* builders in place") {
    val registry = spark.sessionState.functionRegistry
    val id = org.apache.spark.sql.catalyst.FunctionIdentifier("graft_minhash_sketch")
    val before = registry.lookupFunctionBuilder(id)
    assert(before.isDefined)
    MinHashLsh.signaturesSql(nearDup).collect()
    assert(registry.lookupFunctionBuilder(id).exists(_ eq before.get))
  }

  test("signaturesSql creates no temp view and leaves a caller's graft_documents_v alone") {
    val mine = docsDf(7L -> "the caller's own view of the same name")
    mine.createOrReplaceTempView("graft_documents_v")
    try {
      val views = spark.catalog.listTables().collect().map(_.name).toSet
      assert(MinHashLsh.signaturesSql(nearDup).count() == 4)
      assert(spark.catalog.listTables().collect().map(_.name).toSet == views)
      assert(spark.table("graft_documents_v").collect()
        .map(r => r.getLong(0) -> r.getString(1)).toSeq ==
        Seq(7L -> "the caller's own view of the same name"))
    } finally spark.catalog.dropTempView("graft_documents_v")
  }

  /** The executed plans of every query `run` executes, checkpoint
    * jobs included. */
  private def executedPlans(run: => Unit): Seq[SparkPlan] = {
    import scala.jdk.CollectionConverters._
    import org.apache.spark.sql.execution.QueryExecution
    import org.apache.spark.sql.util.QueryExecutionListener
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[SparkPlan]()
    val listener = new QueryExecutionListener {
      def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        plans.add(qe.executedPlan)
      def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      run
      org.apache.spark.sql.graft.Bridge.drainListenerBus(spark.sparkContext)
    } finally spark.listenerManager.unregister(listener)
    plans.asScala.toSeq
  }

  /** `body` with broadcast joins switched off, the setting restored after. */
  private def withoutBroadcast[T](body: => T): T = {
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val old = spark.conf.get(key)
    try {
      spark.conf.set(key, "-1")
      body
    } finally spark.conf.set(key, old)
  }

  private val planHelper = new AdaptiveSparkPlanHelper {}

  test("similarPairs' band sort-merge join ships fingerprints, never the signature") {
    // an in-memory frame is not a bounded corpus: the band join is
    // pinned sort-merge, so both sides cross an exchange
    assert(!MinHashLsh.corpusIsBounded(nearDup))
    val plans = executedPlans(assert(MinHashLsh.similarPairs(nearDup).collect().nonEmpty))
    // the band join is keyed on the 8-byte bucket hash: neither the
    // signature nor the 24-byte band key (nor `band`) crosses it
    val bandJoins = plans.flatMap(p => planHelper.collect(p) {
      case j: SortMergeJoinExec if j.leftKeys.exists(_.references.exists(_.name == "bucket")) => j
    })
    assert(bandJoins.nonEmpty, plans.mkString("\n"))
    bandJoins.foreach { j =>
      val cols = j.children.flatMap(_.output.map(_.name))
      assert(cols.contains("fp_l") && cols.contains("fp_r"), cols)
      assert(!cols.exists(c => c.startsWith("sig") || c.startsWith("band")), cols)
      // one nibble per signature word: S/2 fingerprint bytes per row
      val side = j.children.find(_.output.exists(_.name == "fp_l")).get
      val fp = side.output.indexWhere(_.name == "fp_l")
      val widths = side.executeCollect().map(_.getBinary(fp).length).distinct.toSeq
      assert(widths == Seq(Config.NumHashes / 2), widths)
    }
  }

  test("similarPairs' verify broadcasts the measured sets; broadcast off pins sort-merge") {
    // the verify joins are the ones with the survivors' sets on a side
    def verifyJoins(plans: Seq[SparkPlan]) = plans.flatMap(p => planHelper.collect(p) {
      case j: BinaryExecNode if j.children.exists(_.output.exists(_.name == "hset")) => j
    })
    def shippedSets(plans: Seq[SparkPlan]) = plans.flatMap(p => planHelper.collect(p) {
      case e: ShuffleExchangeExec
          if e.output.exists(a => a.name.startsWith("hset") || a.name.startsWith("sig")) => e
    })
    // an in-memory corpus is unbounded, yet its survivors' sets are a
    // few hundred bytes: both joins read one broadcast, no exchange
    // carries a set
    assert(!MinHashLsh.corpusIsBounded(nearDup))
    val want = MinHashLsh.similarPairs(nearDup).collect().toSet
    val plans = executedPlans(assert(MinHashLsh.similarPairs(nearDup).collect().toSet == want))
    val joins = verifyJoins(plans)
    assert(joins.size == 2 && joins.forall(_.isInstanceOf[BroadcastHashJoinExec]),
      plans.mkString("\n"))
    assert(shippedSets(plans).isEmpty, plans.mkString("\n"))
    // broadcast off: the same pairs through two sort-merge joins
    val merged = withoutBroadcast(executedPlans(
      assert(MinHashLsh.similarPairs(nearDup).collect().toSet == want)))
    val mergeJoins = verifyJoins(merged)
    assert(mergeJoins.size == 2 && mergeJoins.forall(_.isInstanceOf[SortMergeJoinExec]),
      merged.mkString("\n"))
  }

  test("reference-corpus parity: the two golden clusters, both directions, nothing else") {
    // The reference's ONLY committed semantic expectation: its 5-doc
    // corpus (src/main/resources/documents.txt:1-5) must yield the
    // two near-dup clusters in results/pairs/part-r-00000:2-5 —
    // (apple, orange) and (nothing-in-common, lot-in-common) — and
    // must NOT pair "I went to the Apple." with anything. Exact
    // char-3-gram Jaccard: golden pairs 0.409 / 0.451, loudest
    // non-pair 0.167, so any threshold in (0.167, 0.409] separates
    // them; we run t=0.3 for margin both ways. (The reference's own
    // jaccardThreshold=0.8 at Main.java:57 only "passed" its golden
    // because MinHashLSH.java:177 compares a member with ITSELF —
    // SURVEY Q1; under correct verification 0.8 yields no pairs on
    // this corpus, asserted below.) The operating point (30 bands x
    // 2 rows) gives band recall ~1 at J>=0.4 — the reference's own
    // 2x2-band mod-5-bucket scheme (Main.java:55-56) collides near
    // everything and leans on the broken verify to keep it.
    val refDocs = docsDf(
      1L -> "I ate an apple.",
      2L -> "I went to the Apple.",
      3L -> "I ate an orange.",
      4L -> "This has nothing in common with the other sentences.",
      5L -> "This sentence has a lot in common with the previous sentence.")
    val got = MinHashLsh.pairsSymmetric(refDocs, threshold = 0.3,
        bands = 30, rowsPerBand = 2)
      .select("text_a", "text_b").collect()
      .map(r => r.getString(0) -> r.getString(1)).toSet
    val golden = Set( // results/pairs/part-r-00000 lines 2-5, verbatim
      "I ate an apple." -> "I ate an orange.",
      "I ate an orange." -> "I ate an apple.",
      "This has nothing in common with the other sentences." ->
        "This sentence has a lot in common with the previous sentence.",
      "This sentence has a lot in common with the previous sentence." ->
        "This has nothing in common with the other sentences.")
    assert(got == golden,
      s"engine must reproduce exactly the reference's committed pairs, got $got")
    // and at the reference's COMMITTED threshold, correct verification
    // finds nothing — the golden only existed through the Q1 bug
    assert(MinHashLsh.pairsSymmetric(refDocs, threshold = 0.8,
      bands = 30, rowsPerBand = 2).isEmpty)
  }

  test("threshold-derived prefilter reproduces the calibrated default and scales down") {
    assert(Config.estPrefilterMinCount(Config.Threshold) == Config.EstPrefilterMinCount)
    assert(Config.estPrefilterMinCount(0.3) < Config.EstPrefilterMinCount)
    assert(Config.estPrefilterMinCount(0.0) == 0)
    // monotone in t: a higher bar never loosens the prefilter
    val pts = Seq(0.0, 0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9, 1.0)
      .map(Config.estPrefilterMinCount)
    assert(pts == pts.sorted)
  }

  test("sharesBand is the exact whole-band test on packed signatures") {
    val s = spark
    import s.implicits._
    val base = (0 until Config.NumHashes).map(i => 1000L + i)
    // 50 equal words, but every default band (6 words) has one unequal
    // word: far over the prefilter's agreement, no shared band
    val noBand = base.zipWithIndex.map { case (v, i) => if (i % 6 == 5) v + 7 else v }
    // exactly one whole band (band 3, words 18..23) equal
    val oneBand = base.zipWithIndex.map { case (v, i) => if (i / 6 == 3) v else v + 7 }
    // at 30 x 2: only band 29 (words 58, 59) equal; at 10 x 6 that is
    // two of band 9's six words
    val lastPair = base.zipWithIndex.map { case (v, i) => if (i >= 58) v else v + 7 }
    val out = Seq((base, noBand), (base, oneBand), (base, lastPair)).toDF("a", "b")
      .select(PortableHash.packInts(col("a")).as("a"), PortableHash.packInts(col("b")).as("b"))
      .select(
        MinHashLsh.sharesBand(col("a"), col("b")),
        MinHashLsh.sharesBand(col("a"), col("b"), 30, 2),
        PortableHash.agreeCount(col("a"), col("b")))
      .collect().map(r => (r.getBoolean(0), r.getBoolean(1), r.getInt(2))).toSeq
    assert(noBand.zip(base).count { case (x, y) => x == y } >= Config.EstPrefilterMinCount)
    assert(out == Seq(
      (false, true, 50), // 30 x 2 has bands whose both words agree
      (true, true, 6),
      (false, true, 2)))
    // at 30 x 2, one equal word per band is not a band
    val oddWords = base.zipWithIndex.map { case (v, i) => if (i % 2 == 0) v else v + 7 }
    assert(!Seq((base, oddWords)).toDF("a", "b")
      .select(MinHashLsh.sharesBand(PortableHash.packInts(col("a")), PortableHash.packInts(col("b")),
        30, 2)).head().getBoolean(0))
  }

  /** sf0.001 plus ~200 copies of its first text (one mega-bucket in
    * every band): (docs, first doc id, max sf0.001 doc id). */
  private def duplicateFlood() = {
    val base = spark.read.parquet(s"$Sf0001/documents.parquet").select("doc_id", "text")
    val first = base.orderBy("doc_id").head()
    val maxId = base.agg(max("doc_id")).head().getLong(0)
    val docs = base.union(spark.range(200).select(
      (col("id") + maxId + 1).as("doc_id"), lit(first.getString(1)).as("text")))
    (docs, first.getLong(0), maxId)
  }

  /** Each doc's distinct shingle hashes, from the exploded hash rows. */
  private def hashSets(docs: org.apache.spark.sql.DataFrame): Map[Long, Set[Long]] =
    Shingling.shingleHashed(docs).collect().groupBy(_.getLong(0))
      .map { case (id, rows) => id -> rows.map(_.getLong(1)).toSet }

  private def refJaccard(a: Set[Long], b: Set[Long]): Double = {
    val inter = a.intersect(b).size
    inter.toDouble / (a.size + b.size - inter)
  }

  test("packed chain equals the public long/CSV pieces on a duplicate flood") {
    // the packed band key and signature must decide exactly what the
    // user-visible CSV candidates and long signatures decide, at the
    // default operating point and at 30 x 2
    val (docs, firstId, maxId) = duplicateFlood()
    val sigs = MinHashLsh.signatures(docs).collect()
      .map(r => r.getLong(0) -> (1 to Config.NumHashes).map(r.getLong)).toMap
    val sets = hashSets(docs)
    val cand = MinHashLsh.candidatePairs(docs).collect().map(r => (r.getLong(0), r.getLong(1)))
    def agree(l: Long, r: Long) = sigs(l).zip(sigs(r)).count { case (x, y) => x == y }
    def expected(cand: Seq[(Long, Long)], threshold: Double) = {
      val minAgree = Config.estPrefilterMinCount(threshold)
      cand.filter { case (l, r) => agree(l, r) >= minAgree }.flatMap { case (l, r) =>
        val jac = refJaccard(sets(l), sets(r))
        if (jac >= threshold) Some((l, r, jac)) else None
      }.toSet
    }
    val want = expected(cand.toSeq, Config.Threshold)
    assert(want.count { case (l, r, _) => l == firstId || l > maxId } >= 200 * 201 / 2)
    def pairs() = MinHashLsh.similarPairs(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val got = pairs()
    assert(got.length == got.toSet.size && got.toSet == want)
    // broadcast off: the verify joins the same sets sort-merge
    val merged = withoutBroadcast(pairs())
    assert(merged.length == merged.toSet.size && merged.toSet == want)

    // 30 x 2: the candidates are the pairs equal on some whole pair of
    // words, from the long signatures
    val cand30 = sigs.toSeq.flatMap { case (id, sg) =>
      (0 until 30).map(j => (j, sg.slice(2 * j, 2 * j + 2)) -> id)
    }.groupBy(_._1).values.flatMap { m =>
      val ids = m.map(_._2).sorted
      for (l <- ids; r <- ids if l < r) yield (l, r)
    }.toSeq.distinct
    assert(cand30.length > cand.length)
    val want30 = expected(cand30, 0.5)
    assert(want30.size > want.size)
    val got30 = MinHashLsh.similarPairs(docs, threshold = 0.5, bands = 30, rowsPerBand = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(got30.length == got30.toSet.size && got30.toSet == want30)

    val est = MinHashLsh.estimatedPairs(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2))
    assert(est.length == cand.length)
    assert(est.toMap == cand.map { case (l, r) =>
      (l, r) -> agree(l, r).toDouble / Config.NumHashes }.toMap)
  }

  test("similarPairs and nearDupStream give each shared pair the same Jaccard double") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val (docs, _, maxId) = duplicateFlood()
    val bits = java.lang.Double.doubleToRawLongBits _
    val batch = MinHashLsh.similarPairs(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val input = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, String)]
    val q = graft.streaming.StreamingOps.nearDupStream(input.toDS())
      .writeStream.format("memory").queryName("nd_jaccard").outputMode("append").start()
    val online = try {
      // two micro-batches: the flood's pairs span the stored state
      val all = docs.as[(Long, String)].collect().sortBy(_._1)
      all.grouped((all.length + 1) / 2).foreach { b =>
        input.addData(b.toSeq: _*)
        q.processAllAvailable()
      }
      s.table("nd_jaccard").as[(Long, Long, Double)].collect()
    } finally q.stop()
    // a pair emitted from several buckets carries one value
    val onlineJac = online.groupBy(p => (p._1, p._2)).map { case (p, rows) =>
      assert(rows.map(r => bits(r._3)).distinct.length == 1, s"$p: ${rows.toSeq}")
      p -> rows.head._3
    }
    val shared = batch.keySet.intersect(onlineJac.keySet)
    assert(shared.count(_._1 > maxId) >= 199 * 200 / 2 && shared.exists(batch(_) < 1.0))
    val sets = hashSets(docs)
    shared.foreach { case p @ (l, r) =>
      assert(bits(batch(p)) == bits(onlineJac(p)), s"$p")
      assert(bits(batch(p)) == bits(refJaccard(sets(l), sets(r))), s"$p")
    }
  }

  test("flagship on sf0.001 finds the planted near-dup pairs") {
    val docs = spark.read.parquet(s"$Sf0001/documents.parquet")
    val n = MinHashLsh.similarPairs(docs).count()
    assert(n > 0)
  }
}
