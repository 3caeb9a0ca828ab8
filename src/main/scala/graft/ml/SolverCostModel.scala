package graft.ml

/** The reference's solver-selection cost model (ref:
  * nodes/learning/LeastSquaresEstimator — KeystoneML's headline
  * operator-level optimization, credited with up to ~7× in the ICDE'17
  * paper: the estimator inspects the PROBLEM — n, d, k, sparsity,
  * cluster resources — and picks the physical solver, instead of making
  * the user choose). Re-expressed for the three solvers this library
  * ships:
  *
  *  - `normal`    — one distributed gram pass (X'X, X'y) + an exact
  *    driver-side solve. Cost n·d·(d+k) flops over the cluster plus d³
  *    on the driver; ONE data pass; d² driver memory. Sparsity does not
  *    help: the gram densifies.
  *  - `l-bfgs`    — MLlib's iterative quasi-Newton. Per iteration one
  *    gradient pass: ~2·nnz·k flops and nnz·8 bytes touched, where
  *    nnz = n·d·density (the dispatcher feeds MLlib SPARSE vectors when
  *    density warrants, so the density term is real, not aspirational).
  *    Never materializes d² state — the only solver for wide AND sparse.
  *  - `block-cd`  — block coordinate descent over column blocks of
  *    width b with a MATERIALIZED residual: per epoch each block costs
  *    one n·b² gram pass + an n·b residual update touching only the
  *    block's columns (column-major partition layout), so an epoch is
  *    ~n·d·b flops and ~n·d·8 bytes regardless of how many blocks d
  *    splits into. Exact per-block solves, b² driver memory — the wide
  *    DENSE workhorse (the reference's TIMIT/ImageNet solver).
  *
  * The model sums four physical terms per solver — cluster flops,
  * memory-bandwidth bytes, aggregation-tree network bytes, and a fixed
  * per-barrier latency (each distributed pass is a scheduled job) — and
  * picks the cheapest, EXCEPT that a more exact solver within
  * [[ExactnessWindow]] of the cheapest wins the tie: the reference
  * prefers exact solutions when they cost about the same (exactness
  * order: normal > block-cd > l-bfgs). All constants are deliberately
  * coarse hardware shapes; dispatch only needs the RATIOS right. The
  * decision reads the declared constants only, so it is the same on
  * every JVM; `runMain graft.SolverBench regret` measures how far the
  * pick lands from the fastest route on the machine it runs on
  * (SOLVER_REGRET.json).
  */
object SolverCostModel {

  /** Fit-time problem statistics, probed from the training frame. */
  final case class Problem(
      n: Long, // training rows
      d: Int, // feature width
      k: Int, // simultaneous solve targets (1 for a scalar label)
      density: Double, // nnz fraction of the design, in (0, 1]
      workers: Int, // parallel slots the cluster offers
      normalEqMaxDim: Int = 2048, // hard width cap for the gram path
      blockSize: Int = 32, // block-cd column-block width
      bcdEpochs: Int = 3) // block-cd full sweeps (solver default)

  /** Budget for the driver-side d×(d+k) gram of the normal route. */
  private val DriverMemBytes = 4L << 30
  /** L-BFGS iterations priced: MLlib LinearRegression's default maxIter. */
  private val LbfgsIters = 100
  /** Per-worker dense compute rate (flops/s). */
  private val FlopSec = 1e10
  /** Per-worker memory bandwidth for a cached-data pass (bytes/s). */
  private val MemBwSec = 1e10
  /** Aggregation-tree network cost (s/byte at ~1 GB/s per link). */
  private val NetSecPerByte = 1e-8
  /** Fixed latency of one distributed barrier (scheduling + broadcast). */
  private val PassLatSec = 0.05
  /** A more exact solver within this factor of the cheapest wins. */
  val ExactnessWindow = 4.0

  /** Most-exact-first; index = exactness rank used for the window rule. */
  val ExactnessOrder: Seq[String] = Seq("normal", "block-cd", "l-bfgs")

  private def log2w(workers: Int): Double =
    math.log(workers.toDouble + 1.0) / math.log(2.0)

  /** Estimated seconds per solver; infeasible paths cost +∞. */
  def estimates(p: Problem): Map[String, Double] = {
    val n = p.n.toDouble.max(1.0)
    val d = p.d.toDouble
    val k = p.k.toDouble
    val rho = p.density.min(1.0).max(1e-6)
    val w = p.workers.toDouble.max(1.0)
    val lg = log2w(p.workers)

    val normal: Double =
      if (p.d > p.normalEqMaxDim || 8.0 * d * (d + k) > DriverMemBytes.toDouble)
        Double.PositiveInfinity
      else
        n * d * (d + k) / (w * FlopSec) + // distributed gram + X'y
          d * d * d / FlopSec + // driver Cholesky
          n * d * 8.0 / (w * MemBwSec) + // one cached-data pass
          8.0 * d * (d + k) * lg * NetSecPerByte + // gram aggregation
          PassLatSec // one barrier

    val lbfgs: Double = {
      val perIter =
        2.0 * n * d * k * rho / (w * FlopSec) + // gradient flops over nnz
          n * d * 8.0 * rho / (w * MemBwSec) + // touch nnz (sparse rows)
          8.0 * d * k * lg * NetSecPerByte + // gradient aggregation
          PassLatSec
      LbfgsIters * perIter
    }

    val blockCd: Double = {
      val b = math.min(p.blockSize, p.d).toDouble
      val nBlocks = math.ceil(d / b)
      val perEpoch =
        n * d * (b + 2.0 * k) / (w * FlopSec) + // grams + residual updates
          n * d * 8.0 * (1.0 + 2.0 / b) / (w * MemBwSec) + // block cols + resid
          nBlocks * b * b * b / FlopSec + // driver block solves
          nBlocks * 8.0 * b * (b + k) * lg * NetSecPerByte + // block aggregates
          2.0 * nBlocks * PassLatSec // gram pass + residual pass per block
      p.bcdEpochs * perEpoch
    }

    Map("normal" -> normal, "l-bfgs" -> lbfgs, "block-cd" -> blockCd)
  }

  /** The dispatch decision plus the per-route cost report (for
    * observability — the estimator exposes both, the same way the chosen
    * solver itself is exposed for tests). */
  def choose(p: Problem): (String, Map[String, Double]) = {
    val costs = estimates(p)
    val cheapest = costs.values.min
    val winner = ExactnessOrder
      .find(s => costs(s) <= cheapest * ExactnessWindow)
      .getOrElse(costs.minBy(_._2)._1)
    (winner, costs)
  }
}
