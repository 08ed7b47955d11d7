package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The one way to build a session and run a registered query: Bench,
  * Verify, Explain and the test suite all go through it, so a setting
  * added here reaches every one of them and plans audited by the
  * suite are the plans the mains execute. */
object Harness {

  /** A local session on `cores` threads (and as many shuffle
    * partitions) with the engine's settings; `extra` adds per-caller
    * settings (e.g. the tests' temporary warehouse dir). */
  def session(cores: Int, extra: (String, String)*): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      // events.parquet carries TIMESTAMP(NANOS) — surface as long ns
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      // single-JVM harness: driver and "executor" share the process, so
      // heartbeat failure detection adds no safety — but a saturated
      // 32-thread scale run CAN starve the heartbeat thread past the
      // 120 s default, and the receiver then kills the only executor
      // mid-query (observed at 500k docs: "Removing executor driver
      // with no recent heartbeats: 127773 ms"). Widen both timeouts;
      // a real cluster deployment would keep the defaults.
      .config("spark.network.timeout", "600s")
      .config("spark.executor.heartbeatInterval", "60s")
      // per-doc set/signature frames are O(#docs) while candidate-pair
      // streams are O(#pairs): let Catalyst broadcast the former when
      // stats allow instead of shuffling array payloads pair-wise
      .config("spark.sql.autoBroadcastJoinThreshold", (64 * 1024 * 1024).toString)
      .config("spark.sql.extensions", "graft.GraftExtensions")
      // forcing hashes every output column; some queries emit map columns
      .config("spark.sql.legacy.allowHashOnMapType", "true")
    extra.foreach { case (k, v) => b.config(k, v) }
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Builds the registered query `name` over `sfDir`, hands its frame
    * to `use`, and releases the engine's checkpoints and broadcasts
    * afterwards, also when building or `use` throws: operator-internal
    * checkpoints pin blocks for the session's lifetime, and a query
    * loop that kept them slowed 2.8× across the board (see
    * graft.Caches). */
  def run[A](spark: SparkSession, name: String, sfDir: String)(use: DataFrame => A): A =
    try use(SparkEntry.queries(name)(spark, sfDir))
    finally Caches.releaseAll(spark)

  /** Registered query names in SORTED order (stable under insertion,
    * so each query keeps its neighbours run over run), restricted to
    * `only` when given. An unknown name in `only` throws, naming every
    * unknown one: a typo must not yield a partial or empty run that
    * looks like a pass. */
  def select(only: Option[Seq[String]]): Seq[String] = {
    only.foreach { names =>
      val unknown = names.filterNot(SparkEntry.queries.contains).distinct
      require(unknown.isEmpty, s"unknown query names: ${unknown.mkString(", ")}")
    }
    SparkEntry.queries.keys.toSeq.sorted.filter(n => only.forall(_.contains(n)))
  }
}
