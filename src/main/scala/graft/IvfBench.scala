package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Focused IVF coarse-assignment micro-benchmark — times the
  * `graft_top_cells` kernel against the struct-per-centroid spelling it
  * replaced (`array_min(array(struct(graft_sqdist(v, c_i), i)...))`) at
  * production centroid counts, so the kernel carries measured evidence
  * rather than a guess.
  *
  * `runMain graft.IvfBench [n] [dim] [nlist]` (defaults 400000 64 64)
  * prints one JSON line with seconds per spelling. Clean
  * (containsNull=false) [[seededVectors]] inputs, so both
  * projections are eligible for whole-stage codegen fusion — the regime
  * where the struct spelling's fused method grows linearly in nlist and
  * falls off HotSpot's huge-method JIT limit while the kernel's
  * generated code stays constant-size.
  *
  * Round-17 measurements (SPARK_GRAFT_CPUS=8, n=400k, dim=64, two runs
  * each): nlist=8 kernel 0.50/0.31 s vs structs 0.67/0.44 s (kernel
  * already ahead at the fixture width); nlist=64 kernel 0.80/0.83 s vs
  * structs 89.4/94.3 s — the struct spelling's fused method is past the
  * JIT limit and runs interpreted (~110×); nlist=256 kernel 3.24 s vs
  * structs 369.7 s (one run — 114×, interpreted). The production IVF
  * regime (nlist ≈ √n, hundreds to thousands) lives entirely past the
  * cliff, which is why the kernel is not an optimization but a
  * correctness-of-scale fix. */
object IvfBench {
  def main(args: Array[String]): Unit = {
    val n = args.lift(0).map(_.toInt).getOrElse(400000)
    val dim = args.lift(1).map(_.toInt).getOrElse(64)
    val nlist = args.lift(2).map(_.toInt).getOrElse(64)
    val spark = Harness.session()
    val base = seededVectors(spark, n, dim)
    val rng = new scala.util.Random(42)
    val cents = Array.fill(nlist)(Array.fill(dim)(rng.nextGaussian()))
    val centsLit = array(cents.toIndexedSeq.map(c => lit(c)): _*)
    val kernelExpr = element_at(
      call_function("graft_top_cells", col("v"), centsLit, lit(1)), 1)
    val structExpr = array_min(array(cents.zipWithIndex.map { case (c, i) =>
      struct(call_function("graft_sqdist", col("v"), lit(c)).as("d"),
        lit(i).as("c"))
    }.toIndexedSeq: _*)).getField("c")
    def force(c: org.apache.spark.sql.Column): Unit =
      base.select(sum(c.cast("long"))).head()
    force(kernelExpr) // warm codegen/JIT once each
    force(structExpr)
    val tKernel = Harness.timed(spark)(force(kernelExpr)).orThrow
    val tStruct = Harness.timed(spark)(force(structExpr)).orThrow
    println(s"""{"bench":"ivf_assign","n":$n,"dim":$dim,"nlist":$nlist,"kernel_sec":$tKernel,"struct_sec":$tStruct}""")
    spark.stop()
  }

  /** n rows of a seeded d-wide array<double> column `v` (plus `id`),
    * checkpointed and materialized so callers time their transform, not
    * the generator. array(...) of provably-non-null doubles ⇒
    * containsNull=false, so expression spellings are measured on the
    * clean common case (only codegen'd guards, eligible for whole-stage
    * fusion). The coalesce is load-bearing: Catalyst declares sin()
    * nullable, which would mark the array containsNull=true and force
    * interpreted null-element guards into every row. */
  private def seededVectors(spark: SparkSession, n: Int, d: Int): DataFrame = {
    val df = spark.range(n).select(col("id"),
      array((0 until d).map(j =>
        coalesce(sin(col("id") * 31 + lit(j) * 17), lit(0.0))): _*)
        .as("v"))
      .localCheckpoint()
    df.count()
    df
  }
}
