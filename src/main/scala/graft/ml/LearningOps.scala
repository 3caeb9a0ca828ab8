package graft.ml

import breeze.linalg.{DenseMatrix, DenseVector, eigSym}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.functions._
import org.apache.spark.ml.functions.{array_to_vector, vector_to_array}

import graft.ml.workflow.{Estimator, Transformer}

/** Second wave of reference learning/stats nodes (SURVEY §2.A
  * nodes.learning / nodes.stats) that need dense math beyond column
  * expressions: GMM, ZCA whitening, block least squares, hashing TF,
  * random signs, FFT features, vector splitting.
  *
  * Dense-math strategy (the reference's own, SURVEY §4): distributed
  * passes aggregate small fixed-size statistics (grams, covariances —
  * d² doubles, never data-sized) with level-3 BLAS inside the executors
  * ([[LearningOps.syrkPartition]] / the block solver's dsyrk+dgemm
  * passes) reduced tree-wise; the driver solves the d×d problem; the
  * resulting model broadcasts back as literal weights applied per row.
  */
object LearningOps extends Serializable {

  private[ml] def withVec(df: DataFrame, in: String): DataFrame =
    df.withColumn("__features", array_to_vector(transform(col(in), _.cast("double"))))

  /** ref: nodes.stats.RandomSignNode — multiply by a fixed Rademacher ±1
    * vector drawn from `seed` (deterministic across runs/executors). */
  case class RandomSignNode(in: String, out: String, dim: Int, seed: Long = 42L)
      extends Transformer {
    private val signs: Array[Double] = {
      val rng = new scala.util.Random(seed)
      Array.fill(dim)(if (rng.nextBoolean()) 1.0 else -1.0)
    }
    def apply(df: DataFrame): DataFrame = {
      val s = array(signs.map(lit): _*)
      df.withColumn(out, zip_with(col(in), s, (x, sg) => x * sg))
    }
  }

  /** ref: nodes.stats.CosineRandomFeatures (Rahimi–Recht random Fourier
    * features, the reference's TIMIT featurizer): out_j =
    * √(2/D)·cos(w_j·x + b_j) with w_j ~ N(0, gamma²)ᵈ and b_j ~
    * U[0, 2π), drawn once from `seed` on the driver (model-sized
    * literals, deterministic across runs/executors — the RandomSignNode
    * discipline). The D dots and the cos epilogue are one constant-size
    * `graft_affine` kernel, so the Project whole-stage-fuses at any
    * numFeatures; no UDF, no per-row allocation beyond the output array. */
  case class CosineRandomFeaturesNode(in: String, out: String, dim: Int,
      numFeatures: Int, gamma: Double = 1.0, seed: Long = 42L)
      extends Transformer {
    private val (ws, bs) = {
      val rng = new scala.util.Random(seed)
      (Array.fill(numFeatures)(Array.fill(dim)(rng.nextGaussian() * gamma)),
        Array.fill(numFeatures)(rng.nextDouble() * 2 * math.Pi))
    }
    def apply(df: DataFrame): DataFrame = {
      graft.functions.GraftExtensions.ensureRegistered(df.sparkSession)
      val raw = col(in).cast("array<double>")
      // In-plan dim guard (the Epoch.day pattern): a mis-sized input —
      // e.g. an upstream FFT pad change shifting the bin count — raises
      // with this node's name before graft_affine's own width check.
      // One O(1) size comparison per row ahead of the D dots.
      val v = when(size(raw) === dim, raw).otherwise(raise_error(concat(
        lit(s"graft: CosineRandomFeaturesNode($in) expects dim=$dim, got "),
        size(raw).cast("string"))))
      df.withColumn(out, call_function("graft_affine", v, typedlit(ws),
        typedlit(bs), lit(math.sqrt(2.0 / numFeatures))))
    }
  }

  /** ref: nodes.util.VectorSplitter — split into `numBlocks` equal slices,
    * emitted as columns `{out}_0 .. {out}_{n-1}`. */
  case class VectorSplitter(in: String, out: String, numBlocks: Int)
      extends Transformer {
    def apply(df: DataFrame): DataFrame = {
      val blockLen = ceil(size(col(in)) / numBlocks.toDouble).cast("int")
      (0 until numBlocks).foldLeft(df) { (acc, b) =>
        acc.withColumn(s"${out}_$b", slice(col(in), blockLen * b + 1, blockLen))
      }
    }
  }

  /** ref: HashingTF (nodes.misc / MLlib) — hashed term frequencies into a
    * fixed-width dense array (engine-specific hash => non-oracle;
    * SURVEY §2.B). */
  case class HashingTFNode(in: String, out: String, numFeatures: Int = 1024)
      extends Transformer {
    def apply(df: DataFrame): DataFrame = {
      val tf = new org.apache.spark.ml.feature.HashingTF()
        .setInputCol(in).setOutputCol("__tf").setNumFeatures(numFeatures)
      tf.transform(df).withColumn(out, vector_to_array(col("__tf"))).drop("__tf")
    }
  }

  /** ref: nodes.stats.PaddedFFT — zero-pad to the next power of two, FFT
    * (Breeze/JTransforms), keep the magnitude of the first half+1 bins.
    * Per-row dense math in a Scala closure, like the reference's Breeze
    * node; batched per partition by Spark's evaluator. */
  case class PaddedFFTNode(in: String, out: String) extends Transformer {
    def apply(df: DataFrame): DataFrame = {
      val fftUdf = udf { (xs: Seq[Double]) =>
        val n = xs.length
        var p = 1
        while (p < n) p <<= 1
        val padded = DenseVector(xs.toArray ++ Array.fill(p - n)(0.0))
        val freq = breeze.signal.fourierTr(padded)
        (0 to p / 2).map(i => breeze.numerics.abs(freq(i))).toArray
      }
      df.withColumn(out, fftUdf(col(in)))
    }
  }

  /** ref: nodes.learning.GaussianMixtureModelEstimator — MLlib GMM
    * (diagonal EM in the reference; full-cov EM here). Emits the component
    * assignment and per-component responsibilities. */
  case class GaussianMixtureEst(featuresCol: String, out: String, k: Int,
      seed: Long = 42L) extends Estimator {
    def fit(train: DataFrame): Transformer = {
      val model = new org.apache.spark.ml.clustering.GaussianMixture()
        .setK(k).setSeed(seed)
        .setFeaturesCol("__features").setPredictionCol(out)
        .setProbabilityCol("__prob")
        .fit(withVec(train, featuresCol))
      Transformer { df =>
        model.transform(withVec(df, featuresCol))
          .withColumn(s"${out}_resp", vector_to_array(col("__prob")))
          .drop("__features", "__prob")
      }
    }
  }

  /** Raises a named error when a row's width is not the width the fit
    * read off another row (a ragged training frame). `rows` names the
    * frame in the message; an apply path passes its own noun. */
  private[ml] def requireWidth(fit: String, what: String, want: Int,
      got: Int, rows: String = "training"): Unit =
    if (got != want) throw new IllegalArgumentException(
      s"$fit: ragged $rows frame, a row has $got $what where another has $want")

  /** The one row reader of `ml/` (every fit pass, and the batched Fisher
    * encoder): `vectors` cast to array<double> at the array
    * level (a codegen'd Cast, not a transform lambda), then `scalars`,
    * read as the plan's own InternalRows, so no array is boxed into an
    * external Row. Spark reuses the rows it hands out: read each through
    * [[fitVector]] or [[nonNull]] before anything keeps it (a persist, a
    * shuffle, a buffering toArray). */
  private[ml] def fitRows(df: DataFrame, vectors: Seq[Column], scalars: Column*) =
    df.select(vectors.map(_.cast("array<double>")) ++ scalars: _*)
      .queryExecution.toRdd

  /** `r`, once column `i` is known to be set; a null raises
    * `<fit>: a <rows> row has a null <what>`. */
  private[ml] def nonNull(r: InternalRow, i: Int, fit: String,
      what: String, rows: String = "training"): InternalRow = {
    if (r.isNullAt(i)) throw new IllegalArgumentException(
      s"$fit: a $rows row has a null $what")
    r
  }

  /** Vector `i` of a [[fitRows]] row, copied out of the reused row. */
  private[ml] def fitVector(r: InternalRow, i: Int, fit: String,
      what: String, rows: String = "training"): Array[Double] =
    nonNull(r, i, fit, s"$what array", rows).getArray(i).toDoubleArray()

  /** `a += b` element-wise, returning `a`: the one merge loop of `ml/`
    * (the fit passes' sums and grams, the Fisher encoder's partials). */
  private[ml] def addInto(a: Array[Double], b: Array[Double]): Array[Double] = {
    var i = 0
    while (i < a.length) { a(i) += b(i); i += 1 }
    a
  }

  /** The one running-sum accumulator of the fit passes: the row count n,
    * the width read off the first row, and Σ of the rows. `add` and
    * `merge` raise [[requireWidth]]'s ragged-frame error. */
  private[ml] final class RunningSum(fit: String, what: String)
      extends Serializable {
    var n = 0L
    var sum: Array[Double] = _

    /** The rows' width, -1 before the first row. */
    def width: Int = if (sum == null) -1 else sum.length

    def add(x: Array[Double]): RunningSum = {
      if (sum == null) sum = new Array[Double](x.length)
      else requireWidth(fit, what, sum.length, x.length)
      addInto(sum, x)
      n += 1
      this
    }

    def merge(o: RunningSum): RunningSum = {
      if (o.sum != null) {
        if (sum == null) sum = o.sum
        else { requireWidth(fit, what, sum.length, o.sum.length); addInto(sum, o.sum) }
        n += o.n
      }
      this
    }
  }

  /** A [[RunningSum]] per class label (Naive Bayes' counts, LDA's class
    * means); `width` checks that every class has the same one. */
  private[ml] final class ClassSums[K](fit: String, what: String)
      extends Serializable {
    val byClass = scala.collection.mutable.HashMap.empty[K, RunningSum]

    def add(y: K, x: Array[Double]): ClassSums[K] = {
      byClass.getOrElseUpdate(y, new RunningSum(fit, what)).add(x)
      this
    }

    def merge(o: ClassSums[K]): ClassSums[K] = {
      o.byClass.foreach { case (y, s) =>
        byClass(y) = byClass.get(y).fold(s)(_.merge(s))
      }
      this
    }

    def width: Int = {
      val d = byClass.valuesIterator.next().width
      byClass.valuesIterator.foreach(s => requireWidth(fit, what, d, s.width))
      d
    }
  }

  /** Chunked per-partition gram accumulator — the reference's
    * rows→local-matrix + level-3 BLAS pattern (`[K] utils/MatrixUtils`)
    * shared by every fit that needs Σ x xᵀ statistics (ZCA covariance,
    * kernel-ridge KᵀK, LDA scatter, the block solver's gram passes):
    * buffers rows into a bounded (≤ ~32 MB) column-major chunk and
    * accumulates the UPPER-triangle gram G += XᵀX with one `dsyrk` per
    * chunk (half the gemm flops; mirror with [[mirrorUpper]] after the
    * reduce) instead of allocating a d×d outer product per row.
    * Rows arrive as any element type `T` with a `rowOf` extractor, so
    * a labeled row (vector, y) keeps its label attached — `perRow(t)`
    * folds any side statistic (column sums, Kᵀy) in the same sweep
    * with no ordering side-channel between the caller and this loop.
    * Returns (row count, flat d×d upper gram). */
  private[ml] def syrkPartition[T](it: Iterator[T], d: Int,
      rowOf: T => Array[Double], perRow: T => Unit): (Long, Array[Double]) = {
    val blas = dev.ludovic.netlib.blas.BLAS.getInstance()
    val g = new Array[Double](d * d)
    val chunk = math.max(64, math.min(4096, (4 << 20) / math.max(d, 1)))
    val buf = new Array[Double](chunk * d)
    var m = 0
    var cnt = 0L
    def flush(): Unit = {
      if (m > 0) blas.dsyrk("U", "T", d, m, 1.0, buf, chunk, 1.0, g, d)
      m = 0
    }
    while (it.hasNext) {
      val t = it.next()
      perRow(t)
      val x = rowOf(t)
      var j = 0
      while (j < d) { buf(j * chunk + m) = x(j); j += 1 }
      cnt += 1
      m += 1
      if (m == chunk) flush()
    }
    flush()
    (cnt, g)
  }

  /** Reflect a dsyrk-upper flat d×d buffer into a full symmetric
    * Breeze matrix (wraps the buffer — no copy). */
  private[ml] def mirrorUpper(g: Array[Double], d: Int): DenseMatrix[Double] = {
    val m = new DenseMatrix(d, d, g)
    var p = 0
    while (p < d) {
      var q = p + 1
      while (q < d) { m(q, p) = m(p, q); q += 1 }
      p += 1
    }
    m
  }

  /** A contiguous column-major view of a Breeze matrix for LAPACK calls
    * (copies only when the input is a view/transpose). */
  private def contiguous(m: DenseMatrix[Double]): DenseMatrix[Double] =
    if (m.offset == 0 && !m.isTranspose && m.majorStride == m.rows) m
    else m.copy

  /** R factor of a reduced QR via LAPACK `dgeqrf` on `dev.ludovic.netlib`
    * — the same provider as the solver kernels ([[blockCdSolve]] /
    * [[syrkPartition]]), replacing the Breeze→netlib-java F2J path where
    * a `dgeqr2` CPU-burn hang was once observed mid-suite. R's row signs
    * are provider-dependent, which TSQR is invariant to: stacking R
    * factors preserves RᵀR, and the final right singular vectors are
    * sign-canonicalized by the caller. */
  private[graft] def lapackQrR(m0: DenseMatrix[Double]): DenseMatrix[Double] = {
    val m = contiguous(m0)
    val rows = m.rows
    val cols = m.cols
    val lapack = dev.ludovic.netlib.lapack.LAPACK.getInstance()
    val a = java.util.Arrays.copyOf(m.data, rows * cols)
    val kk = math.min(rows, cols)
    val tau = new Array[Double](math.max(kk, 1))
    val info = new org.netlib.util.intW(0)
    val wq = new Array[Double](1)
    lapack.dgeqrf(rows, cols, a, rows, tau, wq, -1, info)
    require(info.`val` == 0, s"dgeqrf workspace query failed: info=${info.`val`}")
    // ceil, not toInt: the optimal LWORK comes back as a double, and
    // flooring it can land below LAPACK's minimum -> info<0 on the real
    // call (same idiom at every workspace query in this file)
    val lwork = math.max(cols, math.ceil(wq(0)).toInt)
    val work = new Array[Double](lwork)
    lapack.dgeqrf(rows, cols, a, rows, tau, work, lwork, info)
    require(info.`val` == 0, s"dgeqrf failed: info=${info.`val`}")
    val r = DenseMatrix.zeros[Double](kk, cols)
    var j = 0
    while (j < cols) {
      val lim = math.min(j, kk - 1)
      var i = 0
      while (i <= lim) { r(i, j) = a(i + j * rows); i += 1 }
      j += 1
    }
    r
  }

  /** Top-k right singular vectors and singular values of a small
    * driver-side matrix via LAPACK `dgesvd` (the QR-iteration driver —
    * more convergence-robust than the divide-and-conquer `dgesdd` Breeze
    * binds, which reported NotConverged once mid-suite on valid input).
    * If dgesvd itself fails to converge (info > 0), falls back to
    * `dsyev` on RᵀR — unconditionally convergent, same right singular
    * vectors up to the sign the caller canonicalizes, σ = √eig.
    * Signs of the returned vectors are provider-dependent; callers must
    * canonicalize. */
  private[graft] def lapackTopRightSingular(r0: DenseMatrix[Double], k: Int)
      : (IndexedSeq[Array[Double]], Array[Double]) = {
    val r = contiguous(r0)
    val rows = r.rows
    val cols = r.cols
    require(k <= cols, s"k=$k exceeds column count $cols")
    // dgesvd yields only min(rows, cols) right singular vectors; a
    // rank-deficient ask (fewer rows than k) takes the gram-eigen route,
    // which returns a full orthonormal basis (σ=0 past the rank)
    if (k > math.min(rows, cols)) return dsyevTopRightSingular(r, k)
    val lapack = dev.ludovic.netlib.lapack.LAPACK.getInstance()
    val minMn = math.min(rows, cols)
    val a = java.util.Arrays.copyOf(r.data, rows * cols)
    val s = new Array[Double](minMn)
    val vt = new Array[Double](minMn * cols)
    val u = new Array[Double](1)
    val info = new org.netlib.util.intW(0)
    val wq = new Array[Double](1)
    lapack.dgesvd("N", "S", rows, cols, a, rows, s, u, 1, vt, minMn, wq, -1, info)
    var converged = info.`val` == 0
    if (converged) {
      val lwork = math.max(1, math.ceil(wq(0)).toInt)
      val work = new Array[Double](lwork)
      lapack.dgesvd("N", "S", rows, cols, a, rows, s, u, 1, vt, minMn,
        work, lwork, info)
      converged = info.`val` == 0
    }
    require(info.`val` >= 0, s"dgesvd illegal argument: info=${info.`val`}")
    if (converged) {
      val axes = (0 until k).map { ax =>
        val v = new Array[Double](cols)
        var j = 0
        while (j < cols) { v(j) = vt(ax + j * minMn); j += 1 }
        v
      }
      (axes, s.take(k))
    } else dsyevTopRightSingular(r, k)
  }

  /** The non-convergence fallback of [[lapackTopRightSingular]], kept
    * separately callable so its agreement with the dgesvd path is a
    * test, not a hope: `dsyev` on RᵀR — unconditionally convergent,
    * σ = √eig, right singular vectors = eigenvectors (signs
    * provider-dependent; the caller canonicalizes). */
  private[graft] def dsyevTopRightSingular(r0: DenseMatrix[Double], k: Int)
      : (IndexedSeq[Array[Double]], Array[Double]) = {
    val r = contiguous(r0)
    val rows = r.rows
    val cols = r.cols
    require(k <= cols, s"k=$k exceeds column count $cols")
    val lapack = dev.ludovic.netlib.lapack.LAPACK.getInstance()
    val blas = dev.ludovic.netlib.blas.BLAS.getInstance()
    val g = new Array[Double](cols * cols)
    blas.dsyrk("U", "T", cols, rows, 1.0, r.data, rows, 0.0, g, cols)
    mirrorUpper(g, cols)
    val w = new Array[Double](cols)
    val info = new org.netlib.util.intW(0)
    val wq = new Array[Double](1)
    lapack.dsyev("V", "U", cols, g, cols, w, wq, -1, info)
    require(info.`val` == 0, s"dsyev workspace query failed: info=${info.`val`}")
    val lwork = math.max(1, math.ceil(wq(0)).toInt)
    val work = new Array[Double](lwork)
    lapack.dsyev("V", "U", cols, g, cols, w, work, lwork, info)
    require(info.`val` == 0, s"dsyev failed: info=${info.`val`}")
    // dsyev orders eigenvalues ascending — top-k reads from the end
    val axes = (0 until k).map { ax =>
      val cIdx = cols - 1 - ax
      val v = new Array[Double](cols)
      var j = 0
      while (j < cols) { v(j) = g(j + cIdx * cols); j += 1 }
      v
    }
    val sv = Array.tabulate(k)(ax =>
      math.sqrt(math.max(w(cols - 1 - ax), 0.0)))
    (axes, sv)
  }

  /** ref: nodes.learning.ZCAWhitener(+Estimator) — whiten with
    * W = V (Λ + εI)^{-1/2} Vᵀ from the covariance eigendecomposition.
    * fit: ONE distributed pass — each partition buffers rows into a
    * bounded column-major chunk and accumulates the raw second moment
    * with `dsyrk` (upper triangle, half the flops; the reference's
    * rows→local-matrix + level-3 BLAS pattern, like the block solver's
    * gram passes — NOT a per-row d×d outer product, which allocates a
    * matrix per row) — d + d² doubles per partition travel, never
    * data-sized; then a d×d eigSym on the driver.
    * transform: Y = (X−μ)·W as one `graft_centered_affine` kernel column
    * ([[zcaExprTransformer]]) — a pure Project of constant generated-code
    * size, so it whole-stage-fuses at any width d and a fitted ZCA
    * compiles under [[LocalServer]] (zero-job serving) like every other
    * Transformer. */
  case class ZCAWhitenerEst(in: String, out: String, eps: Double = 1e-5)
      extends Estimator {
    def fit(train: DataFrame): Transformer = {
      val (muArr, wArr, d) = fitZcaModel(train, in, eps)
      zcaExprTransformer(in, out, muArr, wArr, d)
    }
  }

  /** [[ZCAWhitenerEst]]'s fit pass: (μ, W column-major d×d, d). */
  private[graft] def fitZcaModel(train: DataFrame, in: String, eps: Double)
      : (Array[Double], Array[Double], Int) = {
    {
      val data = fitRows(train, Seq(col(in)))
        .map(fitVector(_, 0, "ZCAWhitener", "feature"))
      // each partition sizes d off its first row (no first() job); an
      // empty partition contributes nothing
      val parts = data.mapPartitions { rows =>
        val it = rows.buffered
        if (!it.hasNext) Iterator.empty
        else {
          val s = new RunningSum("ZCAWhitener", "entries")
          val (_, g) = syrkPartition[Array[Double]](it, it.head.length,
            identity, s.add(_))
          Iterator.single((s, g))
        }
      }
      // the sums merge first: they raise on a ragged frame before the
      // grams of two widths meet
      val (sums, gUpper) = parts.treeReduce { case ((s1, g1), (s2, g2)) =>
        (s1.merge(s2), addInto(g1, g2))
      }
      val (n, d) = (sums.n, sums.width)
      val outer = mirrorUpper(gUpper, d)
      val mu = DenseVector(sums.sum) / n.toDouble
      val cov = (outer / n.toDouble) - mu * mu.t
      val es = eigSym(cov)
      val scale = es.eigenvalues.map(l => 1.0 / math.sqrt(math.max(l, 0.0) + eps))
      val w = es.eigenvectors * breeze.linalg.diag(scale) * es.eigenvectors.t
      val muArr = mu.toArray
      val wArr = w.toArray // column-major d*d (symmetric)
      (muArr, wArr, d)
    }
  }

  private def requireZcaNumericArray(df: DataFrame, in: String): Unit =
    df.schema(df.schema.fieldIndex(in)).dataType match {
      case org.apache.spark.sql.types.ArrayType(
        _: org.apache.spark.sql.types.NumericType, _) => ()
      case other => throw new IllegalArgumentException(
        s"graft: ZCAWhitener($in) expects a numeric array, got $other")
    }

  /** The ZCA apply: Y = (X−μ)·W as ONE `graft_centered_affine` column,
    * each y_j summing (x_i−μ_i)·W_{i,j} left to right (bit-identical to
    * the per-output `graft_dot(zip_with(x, μ, _−_), W_j)` spelling). Bad
    * inputs die with graft-named errors, SCHEMA-GATED so the common clean
    * case (array<double>, non-null) pays only the codegen'd `size` check:
    * the null-array guard is spelled only for nullable columns, the
    * O(d)-interpreted null-element guard only for containsNull element
    * types, and the cast only for non-double elements. The fitted state
    * rides the closure as plain arrays (java-serializable — no Broadcast,
    * so a saved fitted chain reloads in a fresh session). */
  private[graft] def zcaExprTransformer(in: String, out: String,
      muArr: Array[Double], wArr: Array[Double], d: Int): Transformer = {
    // kernel row j = column j of the column-major d×d W
    val rows = Array.tabulate(d)(j =>
      java.util.Arrays.copyOfRange(wArr, j * d, (j + 1) * d))
    Transformer { df =>
      import org.apache.spark.sql.types._
      requireZcaNumericArray(df, in)
      graft.functions.GraftExtensions.ensureRegistered(df.sparkSession)
      val field = df.schema(df.schema.fieldIndex(in))
      val at = field.dataType.asInstanceOf[ArrayType]
      // array-level Cast, not transform(_.cast): Cast is codegen'd while
      // a transform lambda is CodegenFallback, and CollapseProject would
      // inline the lambda into this Project and kick the WHOLE projection
      // out of whole-stage codegen
      val xd =
        if (at.elementType == DoubleType) col(in)
        else col(in).cast("array<double>")
      val y = call_function("graft_centered_affine", xd, typedlit(muArr),
        typedlit(rows))
      val guards = Seq.newBuilder[(Column, Column)]
      if (field.nullable) guards += (col(in).isNull -> raise_error(lit(
        s"graft: ZCAWhitener($in) got a null array")))
      guards += ((size(col(in)) =!= d) -> raise_error(concat(
        lit(s"graft: ZCAWhitener($in) expects width $d, got "),
        size(col(in)).cast("string"))))
      if (at.containsNull) guards += (exists(col(in), _.isNull) ->
        raise_error(concat(
          lit(s"graft: ZCAWhitener($in) got a null element at index "),
          (array_position(transform(col(in), _.isNull), true) - 1)
            .cast("string"))))
      val guarded = guards.result().foldRight(y) {
        case ((cond, err), acc) => when(cond, err).otherwise(acc)
      }
      df.withColumn(out, guarded)
    }
  }

  /** ref: ml-matrix TSQR (the exact-decomposition dependency behind the
    * reference's DistributedPCAEstimator): exact distributed PCA without
    * ever forming the covariance matrix. Each partition stacks its
    * centered rows and keeps only the R of a reduced QR; R factors
    * tree-reduce pairwise (stack → QR → R), so the n×d matrix never
    * leaves the executors and the driver sees ONE ≤d×d triangle —
    * d²·log(partitions) doubles of communication. The principal axes are
    * the right singular vectors of that R, identical to the SVD of the
    * full centered matrix (and numerically sounder than the covariance
    * route, which squares the condition number). Two passes total: mean,
    * then QR tree. Axis signs are canonicalized (largest-|loading|
    * component made positive) so the result is deterministic across
    * partitionings AND across LAPACK providers (QR/SVD sign freedom).
    * All dense math rides `dev.ludovic.netlib` ([[lapackQrR]] /
    * [[lapackTopRightSingular]]) — the provider the solver kernels use —
    * not Breeze's netlib-java F2J path, where a `dgeqr2` CPU-burn hang
    * was once observed mid-suite.
    *
    * Returns (mean, top-k axes as rows, the k singular values of the
    * centered matrix — sqrt((n−1)·variance) along each axis). */
  def tsqrPca(df: DataFrame, in: String,
      k: Int): (Array[Double], Array[Array[Double]], Array[Double]) = {
    val data = fitRows(df, Seq(col(in))).map(fitVector(_, 0, "tsqrPca", "feature"))
    // the mean pass sizes d off the rows themselves (no first() job)
    val sums = data.treeAggregate(new RunningSum("tsqrPca", "entries"))(
      _ add _, _ merge _)
    val n = sums.n
    require(n > 0, "tsqrPca: empty frame")
    val d = sums.width
    require(k <= d, s"k=$k exceeds dim $d")
    val mu = DenseVector(sums.sum) / n.toDouble
    val bMu = data.sparkContext.broadcast(mu.toArray)
    def rOf(m: DenseMatrix[Double]): DenseMatrix[Double] = lapackQrR(m)
    val rFinal = data.mapPartitions { it =>
      // CHUNKED within the partition: QR [R_acc; next ≤C centered rows]
      // and keep only the R — peak task memory is (d + C)×d, bounded
      // (~32 MB) no matter how many rows the partition holds, where the
      // old spelling materialized the WHOLE partition as one dense
      // matrix (a 1M-row × d=512 partition = 4 GB per task). Exact TSQR
      // either way: stacking R factors preserves the row space.
      val muA = bMu.value
      val dd = muA.length
      val chunkRows = math.max(64, math.min(4096, (4 << 20) / dd))
      val buf = DenseMatrix.zeros[Double](chunkRows, dd)
      var rAcc: DenseMatrix[Double] = null
      var m = 0
      def flush(): Unit = {
        if (m > 0) {
          val top = if (rAcc == null) 0 else rAcc.rows
          val stacked = DenseMatrix.zeros[Double](top + m, dd)
          if (rAcc != null) stacked(0 until top, ::) := rAcc
          var i = 0
          while (i < m) {
            var j = 0
            while (j < dd) { stacked(top + i, j) = buf(i, j); j += 1 }
            i += 1
          }
          rAcc = rOf(stacked)
          m = 0
        }
      }
      while (it.hasNext) {
        val x = it.next()
        var j = 0
        while (j < dd) { buf(m, j) = x(j) - muA(j); j += 1 }
        m += 1
        if (m == chunkRows) flush()
      }
      flush()
      if (rAcc == null) Iterator.empty else Iterator.single(rAcc)
    }.treeReduce((r1, r2) => rOf(DenseMatrix.vertcat(r1, r2)))
    // Right singular vectors of R via dev.ludovic.netlib dgesvd with a
    // dsyev(RᵀR) non-convergence fallback — see lapackTopRightSingular.
    val (rawAxes, sings) = lapackTopRightSingular(rFinal, k)
    val axes = rawAxes.map { v =>
      // canonical sign: the largest-|loading| component is positive
      val pivot = v.indices.maxBy(i => (math.abs(v(i)), -i))
      if (v(pivot) < 0) v.map(-_) else v
    }.toArray
    (mu.toArray, axes, sings.toArray)
  }

  /** ref: nodes.learning.KernelRidgeRegression + GaussianKernelGenerator +
    * KernelMatrix — re-expressed as Nyström kernel ridge, the formulation
    * that survives 100 TB: the reference materializes n×n kernel blocks;
    * Nyström picks m landmark rows (m ≪ n), so the only distributed
    * object is the n×m feature map k(x, landmark_j) = exp(−γ‖x−l_j‖²),
    * computed row-wise with the codegen'd graft_sqdist kernel against the
    * broadcast landmarks. fit solves the m×m system
    * (K_nmᵀK_nm + λ K_mm) α = K_nmᵀ y — one distributed pass
    * aggregating m²+m doubles (chunked dsyrk, [[syrkPartition]]) — on
    * the driver; transform is the same feature map + a graft_dot with
    * the broadcast α. */
  case class KernelRidgeEst(featuresCol: String, labelCol: String, out: String,
      gamma: Double, numLandmarks: Int = 64, lambda: Double = 1e-6,
      seed: Long = 42L) extends Estimator {

    private def featureMap(landmarks: Array[Array[Double]]): DataFrame => DataFrame = {
      val g = gamma
      df => {
        // NB: the transform(_.cast) lambda pins this m-landmark Project
        // out of whole-stage codegen fusion — load-bearing at large m for
        // the same JIT-cliff reason documented in CosineRandomFeaturesNode
        val v = transform(col(featuresCol), _.cast("double"))
        val ks = landmarks.map { l =>
          exp(call_function("graft_sqdist", v, array(l.map(lit): _*)) * (-g))
        }
        df.withColumn("__k", array(ks: _*))
      }
    }

    def fit(train: DataFrame): Transformer =
      AutoCache.withCached(train, uses = 2) { train =>
      val m = numLandmarks
      // Uniform landmark draw: top-m by a seeded random key. Executes as
      // TakeOrderedAndProject (per-partition bounded heap + driver merge),
      // NOT a full sort — and unlike `sample(...).limit(m)` it cannot
      // collapse onto the first partitions of sorted/clustered input,
      // which would put every landmark in one data region and gut the
      // Nyström approximation.
      // (a null feature array is never drawn: the K-map pass names it)
      val landmarks = train.where(col(featuresCol).isNotNull)
        .select(transform(col(featuresCol), _.cast("double")))
        .orderBy(rand(seed)).limit(m).collect().map(_.getSeq[Double](0).toArray)
      require(landmarks.length > 0, "empty training set")
      val mm = landmarks.length
      // K_mm on the driver (m² doubles)
      val kmm = DenseMatrix.tabulate(mm, mm) { (i, j) =>
        var s = 0.0
        var t = 0
        while (t < landmarks(i).length) {
          val d = landmarks(i)(t) - landmarks(j)(t); s += d * d; t += 1
        }
        math.exp(-gamma * s)
      }
      val mapK = featureMap(landmarks)
      // the K row of a null feature array is read as null, not as the
      // array of null distances the map gives it
      val rows = fitRows(mapK(train),
        Seq(when(col(featuresCol).isNotNull, col("__k"))),
        col(labelCol).cast("double"))
        .map(r => (fitVector(r, 0, "KernelRidgeEst", "feature"),
          nonNull(r, 1, "KernelRidgeEst", "label").getDouble(1)))
      val mmLocal = mm
      val (ktkUpper, ktyArr) = rows.mapPartitions { it =>
        // chunked dsyrk for KᵀK (a per-row mm×mm outer product would
        // allocate a full matrix per row); Kᵀy folds in the same sweep
        // via the perRow hook, which sees the (row, label) pair intact
        val kty = new Array[Double](mmLocal)
        val (_, g) = syrkPartition[(Array[Double], Double)](it, mmLocal,
          _._1, { case (k, y) =>
            var j = 0
            while (j < mmLocal) { kty(j) += k(j) * y; j += 1 }
          })
        Iterator.single((g, kty))
      }.treeReduce { case ((g1, b1), (g2, b2)) => (addInto(g1, g2), addInto(b1, b2)) }
      val ktk = mirrorUpper(ktkUpper, mm)
      val kty = DenseVector(ktyArr)
      val alpha = (ktk + kmm * lambda +
        DenseMatrix.eye[Double](mm) * 1e-12) \ kty
      val aLit = array(alpha.toArray.map(lit): _*)
      Transformer { df =>
        mapK(df)
          .withColumn(out, call_function("graft_dot", col("__k"), aLit))
          .drop("__k")
      }
    }
  }

  /** ref: nodes.learning.LinearDiscriminantAnalysis — project onto the
    * top-k generalized eigenvectors of (S_within⁻¹ S_between). fit is two
    * distributed passes of d²-bounded statistics (per-class mean/count,
    * then within-class scatter) and a d×d driver eig; transform applies
    * the d×k projection as one `graft_affine` kernel
    * ([[scoresTransformer]]). */
  case class LDAEst(featuresCol: String, labelCol: String, out: String, k: Int)
      extends Estimator {
    def fit(train: DataFrame): Transformer = {
      // decoded (copied) before the persist keeps them
      val rows = fitRows(train, Seq(col(featuresCol)), col(labelCol).cast("long"))
        .map(r => (nonNull(r, 1, "LDAEst", "label").getLong(1),
          fitVector(r, 0, "LDAEst", "feature")))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        // pass 1: per-class sums/counts (class-count-bounded), which also
        // size d, + global mean
        val classStats = rows.treeAggregate(
          new ClassSums[Long]("LDAEst", "features"))(
          (acc, yx) => acc.add(yx._1, yx._2), _ merge _)
        val d = classStats.width
        val total = classStats.byClass.values.map(_.n).sum.toDouble
        val globalMean =
          classStats.byClass.values.map(s => DenseVector(s.sum)).reduce(_ + _) / total
        val classMeans = classStats.byClass.map { case (y, s) =>
          y -> (DenseVector(s.sum) / s.n.toDouble, s.n) }
        // pass 2: within-class scatter (one pass aggregating one d×d
        // matrix per partition — chunked dsyrk over class-centered rows)
        val bcMeans = rows.context.broadcast(classMeans.map { case (y, (m, _)) =>
          y -> m.toArray }.toMap)
        val dLocal = d
        val swUpper = rows.mapPartitions { it =>
          // class-center each row, then chunked dsyrk (no per-row d×d)
          val means = bcMeans.value
          Iterator.single(syrkPartition[Array[Double]](it.map { case (y, x) =>
            val mu = means(y)
            val c = new Array[Double](dLocal)
            var j = 0
            while (j < dLocal) { c(j) = x(j) - mu(j); j += 1 }
            c
          }, dLocal, identity, _ => ())._2)
        }.treeReduce(addInto)
        val sw = mirrorUpper(swUpper, d)
        bcMeans.destroy()
        val sb = classMeans.values.map { case (m, c) =>
          val diff = m - globalMean
          (diff * diff.t) * c.toDouble
        }.reduce(_ + _)
        // generalized eig via S_w^-1 S_b (regularized); top-k eigenvectors
        val reg = DenseMatrix.eye[Double](d) * 1e-6
        val m = (sw + reg) \ sb
        val es = breeze.linalg.eig(m)
        val order = (0 until d).sortBy(i => -es.eigenvalues(i)).take(k)
        val proj = DenseMatrix.horzcat(order.map(i =>
          es.eigenvectors(::, i).toDenseMatrix.t): _*) // d × k
        val projArr = proj.toArray // column-major d*k
        // output j sums x_i * proj(i, j) left to right from +0.0: one
        // graft_affine row per output, a zero offset adding +0.0
        scoresTransformer(featuresCol, out,
          Array.tabulate(k, d)((j, i) => projArr(j * d + i)))
      } finally rows.unpersist()
    }
  }

  /** ref: nodes.learning.BlockLeastSquaresEstimator — block coordinate
    * descent for wide ridge regression: features split into blocks of
    * `blockSize`; each epoch solves every block's normal equations
    * (XᵦᵀXᵦ + λI) wᵦ = XᵦᵀWr + Gᵦwᵦ against the current residual.
    *
    * Scale shape (round 14 — the layout the SolverCostModel prices):
    * the training pass stores each partition COLUMN-MAJOR and maintains
    * the residual r = y − Xw MATERIALIZED alongside it, so a block's
    * gram pass touches only that block's b columns plus r (contiguous
    * arrays), and the per-block residual update is an n·b column sweep —
    * an epoch costs ~n·d·b flops and ~n·d bytes TOTAL no matter how many
    * blocks d splits into, where the old row-major respelling paid a full
    * n·d re-read per block. Per-block distributed state stays b² + b
    * doubles; nothing data-sized reaches the driver, and memory is
    * bounded by blockSize², not d². */
  case class BlockLeastSquaresEst(featuresCol: String, labelCol: String,
      out: String, blockSize: Int = 32, numIter: Int = 3,
      lambda: Double = 1e-6, weightCol: Option[String] = None)
      extends Estimator {

    def fit(train: DataFrame): Transformer = {
      val d = train.select(size(col(featuresCol))).head().getInt(0)
      val blocks = (0 until d).grouped(blockSize).toArray
      // weightCol => the reference's BlockWeightedLeastSquaresEstimator:
      // per-row (usually per-class) weights scale each row's contribution
      // to the gram and residual statistics.
      val wc = weightCol.map(col(_).cast("double")).getOrElse(lit(1.0))
      val w = blockCdSolve(train, featuresCol,
        array(col(labelCol).cast("double")), k = 1, d = d,
        blocks = blocks, numIter = numIter, lambda = lambda, wc = wc)(0)
      Transformer { df =>
        df.withColumn(out, element_at(affine(df, featuresCol, Array(w), Array(0.0)), 1))
      }
    }
  }

  /** Multi-target block CD — the reference's ACTUAL
    * BlockLeastSquaresEstimator shape (it solves every class indicator
    * simultaneously: `LabelEstimator[DenseVector, DenseVector,
    * DenseVector]`): all k targets share each block's gram, so the
    * one-vs-rest loop's k× gram passes collapse to one — per epoch
    * ~n·d·(b + 2k) flops instead of k·n·d·(b + 2). `labelsCol` is an
    * array<double> of length k (ClassLabelIndicators output); the fitted
    * transformer emits the k scores as one array column, ready for
    * MaxClassifier. */
  case class BlockLeastSquaresMultiEst(featuresCol: String, labelsCol: String,
      out: String, blockSize: Int = 32, numIter: Int = 3,
      lambda: Double = 1e-6, weightCol: Option[String] = None)
      extends Estimator {

    def fit(train: DataFrame): Transformer = {
      val sizes = train.select(size(col(featuresCol)), size(col(labelsCol))).head()
      val (d, k) = (sizes.getInt(0), sizes.getInt(1))
      val blocks = (0 until d).grouped(blockSize).toArray
      val wc = weightCol.map(col(_).cast("double")).getOrElse(lit(1.0))
      val w = blockCdSolve(train, featuresCol,
        col(labelsCol).cast("array<double>"), k = k, d = d,
        blocks = blocks, numIter = numIter, lambda = lambda, wc = wc)
      scoresTransformer(featuresCol, out, w)
    }
  }

  /** Fitted k-target scorer: the k weight rows applied as one
    * constant-size `graft_affine` kernel (shared by the block and exact
    * multi solvers and, at k = 1, the single-target scorers). Per-target
    * offsets `b` carry a mean-centered intercept (ref LinearMapper's
    * `bOpt`); a zero offset adds +0.0, which leaves every dot's bits as
    * they are (a left-to-right sum from +0.0 is never -0.0). */
  private[ml] def scoresTransformer(featuresCol: String, out: String,
      w: Array[Array[Double]], b: Array[Double]): Transformer =
    Transformer { df => df.withColumn(out, affine(df, featuresCol, w, b)) }

  /** `graft_affine(x, w, b)` over `featuresCol` read as array<double>. */
  private[ml] def affine(df: DataFrame, featuresCol: String,
      w: Array[Array[Double]], b: Array[Double]): Column = {
    graft.functions.GraftExtensions.ensureRegistered(df.sparkSession)
    call_function("graft_affine", col(featuresCol).cast("array<double>"),
      typedlit(w), typedlit(b))
  }

  private[ml] def scoresTransformer(featuresCol: String, out: String,
      w: Array[Array[Double]]): Transformer =
    scoresTransformer(featuresCol, out, w, new Array[Double](w.length))

  /** Shared block-CD core: column-major partition cache + materialized
    * k-target residual. Returns the k×d weight rows. With a single block
    * spanning all d columns and one epoch this IS the exact distributed
    * ridge solve — (G + λI) \ X'WY off one treeAggregate — which is how
    * the dispatcher's `normal` path solves multi-target problems.
    *
    * Kernels are level-3 BLAS over the column-major buffers (the
    * reference's rows→local-matrix + gemm pattern, ref:
    * utils/MatrixUtils + nodes/learning/BlockLeastSquaresEstimator):
    * the block gram is one `dsyrk` on the √w-scaled block columns (half
    * the gemm flops via symmetry, mirrored once on the driver), the
    * cross term one `dgemm`, and the residual update R -= B·Δ one
    * `dgemm` — all through `dev.ludovic.netlib` (the BLAS Spark MLlib
    * itself ships). Row weights must be ≥ 0 (they enter as √w scales).
    *
    * Cache safety: each partition's buffers are flat `Array[Double]`s,
    * so rows-per-partition × max(d, k) must stay ≤ `maxPartElems`
    * (Int.MaxValue). When the caller knows n (`nHint` — the dispatchers
    * pass their probed count) the input is repartitioned up-front to
    * keep 2× headroom under the cap; either way the cache build itself
    * refuses an oversize partition with a named error instead of
    * overflowing the Int offset arithmetic. */
  private[graft] def blockCdSolve(train: DataFrame, featuresCol: String,
      labels: org.apache.spark.sql.Column, k: Int, d: Int,
      blocks: Array[Range], numIter: Int, lambda: Double,
      wc: org.apache.spark.sql.Column, nHint: Long = -1L,
      maxPartElems: Long = Int.MaxValue.toLong): Array[Array[Double]] = {
    val level = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val dd = d
    val kk = k
    val widest = math.max(dd, kk).toLong.max(1L)
    val safeRowsPerPart = math.max(1L, maxPartElems / (2L * widest))
    // the frame is planned once: this one RDD gives the partition count
    // the nHint guard reads and feeds the cache build. Rows are decoded
    // (copied) first: the repartition and the build's toArray keep them
    val rows = fitRows(train, Seq(col(featuresCol), labels), wc)
      .map(r => (fitVector(r, 0, "blockCdSolve", "feature"),
        fitVector(r, 1, "blockCdSolve", "target"),
        nonNull(r, 2, "blockCdSolve", "weight").getDouble(2)))
    val source =
      if (nHint > 0) {
        val parts = math.max(rows.getNumPartitions, 1)
        // Trigger on the AVERAGE reaching HALF the safe rows/partition,
        // not the safe value itself: the incoming partitioning can be
        // skewed (the cap error fires on the worst partition, not the
        // mean), and a round-robin repartition() levels it — so go
        // early, while safeRowsPerPart's own 2x headroom still covers
        // residual imbalance. Partition count is clamped to a sane Int
        // range (ceil of a huge nHint/safeRows ratio can overflow
        // toInt); past the clamp the named cache-cap error below still
        // guards the build.
        if (nHint / parts > safeRowsPerPart / 2) {
          val want = math.ceil(2.0 * nHint.toDouble / safeRowsPerPart)
          rows.repartition(math.min(want, 1e7).toInt.max(parts))
        } else rows
      } else rows
    val capMsg = maxPartElems
    // one pass builds the column-major cache: per partition a d×m
    // column-major design (cm), a k×m column-major target matrix (yk),
    // and √(row weight) scales
    val cols = source.mapPartitions { it =>
      val buf = it.toArray
      val m = buf.length
      if (m.toLong * dd > capMsg || m.toLong * kk > capMsg)
        throw new IllegalArgumentException(
          s"blockCdSolve: a partition with $m rows x max($dd features, " +
            s"$kk targets) overflows the flat column-major cache " +
            s"(limit $capMsg elements); repartition the training frame " +
            s"to <= ${capMsg / math.max(math.max(dd, kk), 1)} rows per " +
            "partition (the automatic nHint guard levels on the MEAN " +
            "rows/partition, so a layout skewed enough to overflow one " +
            "partition while the mean stays under half the safe cap " +
            "reaches here — pass a repartitioned frame)")
      val cm = new Array[Double](m * dd)
      val yk = new Array[Double](m * kk)
      val sw = new Array[Double](m)
      var i = 0
      while (i < m) {
        val (x, ys, w0) = buf(i)
        if (x.length != dd) throw new IllegalArgumentException(
          s"blockCdSolve: a row has ${x.length} features, expected $dd")
        if (ys.length != kk) throw new IllegalArgumentException(
          s"blockCdSolve: a row has ${ys.length} targets, expected $kk")
        if (w0 < 0.0) throw new IllegalArgumentException(
          s"blockCdSolve: negative row weight $w0 (weights scale the " +
            "gram as sqrt factors and must be >= 0)")
        sw(i) = math.sqrt(w0)
        var c = 0
        while (c < kk) { yk(c * m + i) = ys(c); c += 1 }
        var j = 0
        while (j < dd) { cm(j * m + i) = x(j); j += 1 }
        buf(i) = null // release the row copy as it is transposed, so the
        // build's peak heap stays ~1× the cached footprint, not 2×
        i += 1
      }
      Iterator.single((cm, yk, sw))
    }.persist(level)
    // the first sweep reads the cached targets as its residual: every
    // update below clones before it writes
    var resid = cols.map(_._2)
    try {
      val weights = Array.fill(k)(new Array[Double](d))
      for (epoch <- 0 until numIter; block <- blocks) {
        val bIdx = block.toArray
        val bLen = bIdx.length
        val wbCur = DenseMatrix.tabulate(bLen, k)((p, c) => weights(c)(bIdx(p)))
        val (gArr, vArr) = cols.zipPartitions(resid) { (cit, rit) =>
          val g = new Array[Double](bLen * bLen)
          val v = new Array[Double](bLen * kk)
          if (cit.hasNext) {
            val (cm, _, sw) = cit.next()
            val r = rit.next()
            val m = sw.length
            if (m > 0) {
              val blas = dev.ludovic.netlib.blas.BLAS.getInstance()
              // SB = √w-scaled block columns (m×b col-major), SR = √w-scaled
              // residual (m×k): then G = SBᵀSB = Σ w·x_p·x_q and
              // V = SBᵀSR = Σ w·x_p·r_c — the gram is shared by ALL k
              // targets. dsyrk fills the UPPER triangle only (half the
              // gemm flops); the driver mirrors once after the reduce.
              val sb = new Array[Double](m * bLen)
              var p = 0
              while (p < bLen) {
                val src = bIdx(p) * m
                val dst = p * m
                var i = 0
                while (i < m) { sb(dst + i) = sw(i) * cm(src + i); i += 1 }
                p += 1
              }
              val sr = new Array[Double](m * kk)
              var c = 0
              while (c < kk) {
                val off = c * m
                var i = 0
                while (i < m) { sr(off + i) = sw(i) * r(off + i); i += 1 }
                c += 1
              }
              blas.dsyrk("U", "T", bLen, m, 1.0, sb, m, 0.0, g, bLen)
              blas.dgemm("T", "N", bLen, kk, m, 1.0, sb, m, sr, m, 0.0,
                v, bLen)
            }
          }
          Iterator.single((g, v))
        }.treeReduce { case ((g1, v1), (g2, v2)) => (addInto(g1, g2), addInto(v1, v2)) }
        val gram = mirrorUpper(gArr, bLen)
        val xtwr = new DenseMatrix(bLen, kk, vArr)
        // with r = y − Xw (ALL blocks applied), the block target is
        // Xᵦᵀ W (r + Xᵦwᵦ) = XᵦᵀWr + Gᵦwᵦ — the Gᵦwᵦ term is a
        // driver-side b×b×k multiply, so the residual needs no add-back
        // pass; ONE factorization (LAPACK solve, not an explicit
        // inverse — stable on ill-conditioned grams) serves all k
        // right-hand sides
        val reg = DenseMatrix.eye[Double](bLen) * lambda
        val sol = (gram + reg) \ (xtwr + gram * wbCur)
        val delta = sol - wbCur
        var p = 0
        while (p < bLen) {
          var c = 0
          while (c < k) { weights(c)(bIdx(p)) = sol(p, c); c += 1 }
          p += 1
        }
        // r ← r − Xᵦ·Δwᵦ: an n·b·k column sweep; the old residual stays
        // persisted until the new one is materialized. The LAST
        // (epoch, block) iteration skips it entirely — its residual has
        // no consumer, and skipping it is what makes the dispatcher's
        // one-block/one-epoch `normal` route a genuine ONE-pass solve
        val lastIteration =
          epoch == numIter - 1 && (block eq blocks.last)
        if (!lastIteration) {
          val bc = cols.context.broadcast((bIdx, delta.toArray)) // col-major b×k
          val newR = cols.zipPartitions(resid) { (cit, rit) =>
            if (!cit.hasNext) Iterator.empty
            else {
              val (cm, _, sw) = cit.next()
              val r = rit.next().clone()
              val m = sw.length
              if (m > 0) {
                val (idx, del) = bc.value
                val blas = dev.ludovic.netlib.blas.BLAS.getInstance()
                // R -= B·Δ as one gemm: gather the (unscaled) block
                // columns contiguously, then (m×k) += (m×b)(b×k)·(−1)
                val bArr = new Array[Double](m * idx.length)
                var p2 = 0
                while (p2 < idx.length) {
                  System.arraycopy(cm, idx(p2) * m, bArr, p2 * m, m)
                  p2 += 1
                }
                blas.dgemm("N", "N", m, kk, idx.length, -1.0, bArr, m,
                  del, idx.length, 1.0, r, m)
              }
              Iterator.single(r)
            }
          }.persist(level)
          // truncate the per-block lineage chain each epoch so a lost
          // partition never replays the whole sweep. NB: the block
          // broadcasts are NOT destroyed eagerly — task serialization of
          // a downstream zipPartitions still walks this lineage even over
          // cached partitions; the checkpoint truncation makes them
          // unreachable and the ContextCleaner reclaims them
          if (block eq blocks.last) newR.localCheckpoint()
          newR.count()
          // a localCheckpointed residual must KEEP its blocks: its
          // lineage is truncated, so unpersisting would delete the only
          // copy and a later partition loss becomes a hard failure
          // instead of a replay. At most one checkpointed residual per
          // epoch stays resident; all become unreachable when fit
          // returns and the ContextCleaner reclaims them
          if (!resid.isCheckpointed) resid.unpersist(blocking = false)
          resid = newR
        }
      }
      weights
    } finally {
      if (!resid.isCheckpointed) resid.unpersist(blocking = false)
      cols.unpersist()
    }
  }
}
