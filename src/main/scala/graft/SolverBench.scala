package graft

import org.apache.spark.sql.functions._

/** Focused solver micro-benchmark — times the distributed block-CD /
  * exact-gram fits on a synthetic dense problem so kernel changes
  * (e.g. the round-15 scalar→BLAS respelling) carry before/after
  * evidence at a size where the kernels, not job overhead, dominate.
  *
  * `runMain graft.SolverBench [n] [d] [k] [blockSize] [epochs]`
  * (defaults 40000 512 20 64 2) prints one JSON line with seconds for
  * the multi-target block-CD fit and the one-pass exact solve. Uses a
  * seeded per-row hash feature generator — no data files needed.
  *
  * Round-15 before/after at the kernel-dominated size
  * (SPARK_GRAFT_CPUS=8, n=400000 d=512 k=20 b=64 epochs=2; two runs
  * each): scalar kernels block-cd 14.7/15.4 s, exact 27.7/28.6 s →
  * BLAS kernels block-cd 8.7/10.7 s, exact 12.0/11.9 s. At the small
  * default size both spellings sit inside the host-noise band
  * (5-9 s) — per-task scheduling dominates there, not kernels.
  *
  * Round-16 QR evidence (same size): Breeze's netlib-java F2J
  * qr.reduced 1.81 s vs dev.ludovic.netlib dgeqrf (lapackQrR) 0.90 s
  * per 4608×512 chunk-shaped QR — 2.0×, plus retiring the F2J dgeqr2
  * stack where the one-off CPU-burn hang lived; distributed tsqrPca
  * end-to-end 17.3 s at n=400k d=512 k=20.
  *
  * `runMain graft.SolverBench regret` instead measures the solver cost
  * model on the machine it runs on: over a small (n, d, k, density) grid it
  * fits every route through `LeastSquaresMultiEst(solverOverride = ...)`,
  * records the dispatcher's own pick, every route's wall seconds (best
  * of two) and pick ÷ best, and writes the table to SOLVER_REGRET.json
  * (also printed as one JSON line). */
object SolverBench {
  def main(args: Array[String]): Unit =
    if (args.headOption.contains("regret")) regret() else kernels(args)

  /** One grid point: the problem shape and the solver knobs it sets. */
  private final case class Point(name: String, n: Int, d: Int, k: Int,
      liveEvery: Int, normalEqMaxDim: Int = 2048)

  private val RegretGrid = Seq(
    Point("tall-narrow-dense", n = 200000, d = 16, k = 1, liveEvery = 1),
    Point("past-gram-cap-dense", n = 40000, d = 128, k = 1, liveEvery = 1,
      normalEqMaxDim = 64),
    Point("sparse", n = 40000, d = 128, k = 1, liveEvery = 32),
    Point("sparse-past-gram-cap", n = 20000, d = 256, k = 1, liveEvery = 64,
      normalEqMaxDim = 128),
    Point("multi-target-dense", n = 40000, d = 64, k = 4, liveEvery = 1))

  /** Timed fits per route and point; the fastest counts. */
  private val Repeats = 2

  private def regret(): Unit = {
    import graft.ml.SolverCostModel.{ExactnessOrder, ExactnessWindow}
    import graft.ml.workflow.LeastSquaresMultiEst
    val spark = Harness.session()
    // a design whose row i keeps x_ij = sin(i*31 + j*17) where
    // (i + j) % liveEvery == 0 and 0 elsewhere (density 1 / liveEvery)
    def design(p: Point) = spark.range(p.n).select(
      transform(sequence(lit(0), lit(p.d - 1)), j =>
        when((col("id") + j) % p.liveEvery === 0,
          sin(col("id") * 31 + j * 17)).otherwise(lit(0.0))).as("v"),
      transform(sequence(lit(0), lit(p.k - 1)),
        c => sin(col("id") * 7 + c * 13)).as("ys"))
      .localCheckpoint() // time the fit, not the generator
    def est(p: Point, route: Option[String]) = LeastSquaresMultiEst(
      "v", "ys", "scores", normalEqMaxDim = p.normalEqMaxDim,
      solverOverride = route)
    // untimed warm-up of every route: the first fit in a JVM pays JIT
    // and codegen
    val warmP = Point("warm", n = 2000, d = 8, k = 2, liveEvery = 1)
    val warm = design(warmP)
    ExactnessOrder.foreach(r => est(warmP, Some(r)).fit(warm))
    Harness.cleanup(spark)
    val rows = RegretGrid.map { p =>
      val df = design(p)
      df.count()
      val dispatched = est(p, None)
      dispatched.fit(df)
      val pick = dispatched.chosenSolver
      val routeS = ExactnessOrder.map { r =>
        r -> (1 to Repeats).map(_ =>
          Harness.timed(spark)(est(p, Some(r)).fit(df)).orThrow).min
      }.toMap
      val best = routeS.minBy(_._2)._1
      val ratio = routeS(pick) / routeS(best)
      Harness.cleanup(spark)
      val routes = ExactnessOrder.map(r => f""""$r":${routeS(r)}%.3f""")
        .mkString(",")
      f"""{"name":"${p.name}","n":${p.n},"d":${p.d},"k":${p.k},""" +
        f""""density":${1.0 / p.liveEvery}%.4f,""" +
        f""""probed_density":${dispatched.probedDensity}%.4f,""" +
        f""""normal_eq_max_dim":${p.normalEqMaxDim},"pick":"$pick",""" +
        f""""route_s":{$routes},"best":"$best",""" +
        f""""pick_over_best":$ratio%.3f,""" +
        s""""within_window":${ratio <= ExactnessWindow}}"""
    }
    val json =
      s"""{"cpus":${spark.sparkContext.defaultParallelism},""" +
        s""""exactness_window":$ExactnessWindow,"repeats":$Repeats,""" +
        s""""points":[${rows.mkString(",")}]}"""
    java.nio.file.Files.write(java.nio.file.Paths.get("SOLVER_REGRET.json"),
      (json + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    println(json)
    spark.stop()
  }

  private def kernels(args: Array[String]): Unit = {
    val n = args.lift(0).map(_.toInt).getOrElse(40000)
    val d = args.lift(1).map(_.toInt).getOrElse(512)
    val k = args.lift(2).map(_.toInt).getOrElse(20)
    val blockSize = args.lift(3).map(_.toInt).getOrElse(64)
    val epochs = args.lift(4).map(_.toInt).getOrElse(2)
    val spark = Harness.session()
    // deterministic dense design: x_ij = sin(i*31 + j*17) via expressions
    val base = spark.range(n).select(col("id"),
      transform(sequence(lit(0), lit(d - 1)),
        j => sin(col("id") * 31 + j * 17)).as("v"))
      .withColumn("ys", transform(sequence(lit(0), lit(k - 1)),
        c => sin(col("id") * 7 + c * 13)))
      .localCheckpoint() // time the solver, not the generator
    base.count()
    def time(body: => Unit): Double = Harness.timed(spark)(body).orThrow
    val blocks = (0 until d).grouped(blockSize).toArray
    val tBcd = time {
      graft.ml.LearningOps.blockCdSolve(base, "v",
        transform(col("ys"), _.cast("double")), k = k, d = d,
        blocks = blocks, numIter = epochs, lambda = 1e-6, wc = lit(1.0),
        nHint = n)
    }
    val tExact = time {
      graft.ml.LearningOps.blockCdSolve(base, "v",
        transform(col("ys"), _.cast("double")), k = k, d = d,
        blocks = Array(0 until d), numIter = 1, lambda = 1e-6,
        wc = lit(1.0), nHint = n)
    }
    // Round-16 QR evidence: Breeze's netlib-java F2J qr.reduced vs the
    // dev.ludovic.netlib dgeqrf spelling tsqrPca now uses, timed on the
    // exact chunk shape tsqrPca stacks ((chunkRows + d) × d), plus the
    // full distributed TSQR-PCA pass end-to-end.
    val qrRows = math.min(4096, (4 << 20) / d) + d
    val qm = breeze.linalg.DenseMatrix.tabulate(qrRows, d)(
      (i, j) => math.sin(i * 31 + j * 17))
    def reps(body: => Unit): Double = {
      body // warm
      val t0 = System.nanoTime()
      var i = 0
      while (i < 5) { body; i += 1 }
      (System.nanoTime() - t0) / 5e9
    }
    val tQrBreeze = reps(breeze.linalg.qr.reduced(qm))
    val tQrLapack = reps(graft.ml.LearningOps.lapackQrR(qm))
    val tPca = time {
      graft.ml.LearningOps.tsqrPca(base, "v", k = math.min(k, d))
    }
    println(s"""{"n":$n,"d":$d,"k":$k,"blockSize":$blockSize,""" +
      s""""epochs":$epochs,"block_cd_sec":$tBcd,"exact_sec":$tExact,""" +
      s""""qr_breeze_sec":$tQrBreeze,"qr_lapack_sec":$tQrLapack,""" +
      s""""tsqr_pca_sec":$tPca}""")
    spark.stop()
  }
}
