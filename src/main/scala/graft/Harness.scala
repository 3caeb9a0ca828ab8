package graft

import org.apache.spark.sql.SparkSession

/** The one place the measurement conditions live: every main
  * ([[Bench]], [[Verify]], [[Probe]], the audits and micro-benchmarks)
  * and the test base build their session, warm it, time a run and
  * release what the run left behind through this object, so a number
  * from one instrument is comparable with a number from another by
  * construction rather than by keeping copies in step. */
object Harness {

  /** The mains' core count: SPARK_GRAFT_CPUS, default 4. */
  def envCpus: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").trim.toInt

  /** The only session builder: `local[cpus]` with `cpus` shuffle
    * partitions, UTC, the graft extensions (graft_dot/graft_norm/...
    * fail to resolve without them), `nanosAsLong` (events.ts is
    * TIMESTAMP(NANOS) parquet, which Spark 4 rejects otherwise;
    * `Tables.events` truncates to µs), TIMESTAMP_MICROS parquet output
    * (what the DuckDB parity gate reads), UI off and a warehouse under
    * the JVM temp dir. Mains take `cpus` from [[envCpus]];
    * `getOrCreate` returns an existing session as is. */
  def session(cpus: Int = envCpus): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .config("spark.sql.warehouse.dir",
        new java.io.File(System.getProperty("java.io.tmpdir"),
          "graft-warehouse").getPath)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** The fixture's tables, each read from `<sfDir>/<name>.parquet`. */
  val TableNames: Seq[String] = Seq("region", "nation", "customer", "supplier",
    "part", "orders", "lineitem", "events", "documents", "embeddings")

  /** Warm the session once (JIT/codegen infrastructure + parquet
    * footers) so the first timed query doesn't absorb ~3 s of one-time
    * JVM setup. Also warms the shingle pair core — the single heaviest
    * codegen family (graft_shingles explode → digest → collect_set
    * posting lists → graft_pairs marker aggregation → size join-backs):
    * its ~8 s one-time Janino+JIT compile otherwise lands on whichever
    * of its five consumer queries runs first, mis-attributing a
    * session-global cost to one query. Nothing is cached: every timed
    * query still re-executes its full pipeline; only compiled classes
    * and JIT state carry over — the amortization a long-running cluster
    * job gets. A missing table is skipped (the fixtures differ).
    *
    * NEGATIVE RESULT (round 20): a synthetic graft_bpe warm here (20k
    * words through the real kernel) did NOT flatten q_bpe_apply's
    * first-run cost (1.51 s first / 0.28 s second with it, 1.30/0.26
    * without): that cost is the query's own stage compile and
    * corpus-shaped JIT (see qBpeApply's Scaladoc), not a session cost. */
  def warm(spark: SparkSession, sfDir: String): Unit = {
    spark.range(1000).selectExpr("sum(id)").count()
    TableNames.foreach { t =>
      try spark.read.parquet(s"$sfDir/$t.parquet").count()
      catch { case _: Throwable => }
    }
    try graft.ops.Similarity.shinglePairStats(spark, sfDir).count()
    catch { case _: Throwable => }
    cleanup(spark)
  }

  /** Block-manager hygiene between measurements: several operators pin
    * blocks for the duration of ONE query (localCheckpointed graph /
    * index relations, cached intermediates). Over a sequential sweep
    * those blocks otherwise accumulate — round 7 measured late-sweep
    * queries 1.7× slower under that pressure while isolated probes
    * stayed fast — and a relation left cached by one query would hide
    * the next query's scans. Clears the session's SQL cache and
    * unpersists every persistent RDD: session-global, so never call it
    * on a session whose cached or checkpointed state is still needed. */
  def cleanup(spark: SparkSession): Unit = release(spark, Set.empty)

  /** One timed run: its wall seconds and what it threw, if anything. */
  final case class Run(seconds: Double, failure: Option[Throwable]) {
    /** The seconds of a run that succeeded; rethrows its failure. */
    def orThrow: Double = failure.fold(seconds)(e => throw e)
  }

  /** Time `body`, catching any failure into the [[Run]] instead of
    * letting it end the sweep (or, worse, be timed as if it were fast),
    * then release what the run left behind: the SQL cache and every RDD
    * it persisted. RDDs persisted BEFORE the run stay, so a
    * micro-benchmark can time several kernels over one checkpointed
    * input; between registry queries nothing is persisted, and this is
    * exactly [[cleanup]]. */
  def timed(spark: SparkSession)(body: => Any): Run = {
    val kept = spark.sparkContext.getPersistentRDDs.keySet.toSet
    val t0 = System.nanoTime()
    val failure = try { body; None } catch { case e: Throwable => Some(e) }
    val seconds = (System.nanoTime() - t0) / 1e9
    release(spark, kept)
    Run(seconds, failure)
  }

  private def release(spark: SparkSession, kept: Set[Int]): Unit = {
    spark.sharedState.cacheManager.clearCache()
    spark.sparkContext.getPersistentRDDs.foreach { case (id, rdd) =>
      if (!kept(id)) rdd.unpersist(blocking = false)
    }
  }
}
