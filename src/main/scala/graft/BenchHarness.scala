package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Shared plumbing for the focused micro-benchmark mains ([[IvfBench]],
  * [[ReuseAudit]]): one session builder, one seeded vector generator, one
  * timer — so load-bearing subtleties (the generator's
  * coalesce-nullability contract below) live in exactly one place
  * instead of drifting between copies. */
private[graft] object BenchHarness {

  /** The micro-bench session: local[SPARK_GRAFT_CPUS], graft extensions,
    * UI off — the same shape Bench/Probe use, minus the parquet configs
    * the generators don't need. */
  def session(): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** n rows of a seeded d-wide array<double> column `v` (plus `id`),
    * checkpointed and materialized so callers time their transform, not
    * the generator. array(...) of provably-non-null doubles ⇒
    * containsNull=false, so expression spellings are measured on the
    * clean common case (only codegen'd guards, eligible for whole-stage
    * fusion). The coalesce is load-bearing: Catalyst declares sin()
    * nullable, which would mark the array containsNull=true and force
    * interpreted null-element guards into every row. */
  def seededVectors(spark: SparkSession, n: Int, d: Int): DataFrame = {
    val df = spark.range(n).select(col("id"),
      array((0 until d).map(j =>
        coalesce(sin(col("id") * 31 + lit(j) * 17), lit(0.0))): _*)
        .as("v"))
      .localCheckpoint()
    df.count()
    df
  }

  def time(body: => Unit): Double = {
    val t0 = System.nanoTime()
    body
    (System.nanoTime() - t0) / 1e9
  }
}
