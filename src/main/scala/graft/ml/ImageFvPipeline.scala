package graft.ml

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.ml.functions.array_to_vector

import graft.ml.workflow.Transformer

/** The reference's ImageNet pipeline shape (ref: ImageNetSiftLcsFV —
  * dense descriptors → PCA → GMM → FisherVector → linear solve) composed
  * from this engine's scale-path pieces: descriptors ride any extractor
  * ([[graft.images.ImageOps.lcs]]/hog/daisy), the PCA is the exact
  * distributed TSQR ([[LearningOps.tsqrPca]] — the ml-matrix role: the
  * n×d descriptor matrix never leaves the executors), and the encoder is
  * the gemm-batched Fisher vector ([[FisherVector.fromParamsBatched]] —
  * the EncEval C++ role: O(B·K·D) flops inside BLAS, partials reduced by
  * group key).
  *
  * Everything model-sized (PCA mean/axes, GMM params) broadcasts as
  * literals/closures; everything data-sized stays distributed — the same
  * division the reference's pipeline draws between its solver inputs and
  * its image shards. */
object ImageFvPipeline {

  /** Slice a flat extractor output (one row per image, cells laid out as
    * consecutive `descDim`-wide blocks — the [[graft.images.ImageOps.lcs]]
    * layout with descDim = 2·channels) into one descriptor row per cell:
    * (id, desc array<double>). Pure per-row expressions, no shuffle. */
  def cellDescriptors(lcsImgs: DataFrame, descDim: Int): DataFrame =
    lcsImgs.select(col("id"),
      explode(transform(
        sequence(lit(0), (size(col("image")) / descDim).cast("int") - 1),
        i => slice(col("image"), i * descDim + 1, lit(descDim)))).as("desc"))

  /** Project descriptors onto fitted PCA axes: out = (x − μ)·Aᵀ as ONE
    * constant-size `graft_centered_affine` column (the mean/axes are
    * model-sized literals, read once per expression). A row whose width
    * is not |μ| raises a named error. */
  def pcaProject(df: DataFrame, in: String, out: String,
      mean: Array[Double], axes: Array[Array[Double]]): DataFrame = {
    graft.functions.GraftExtensions.ensureRegistered(df.sparkSession)
    df.withColumn(out, call_function("graft_centered_affine",
      col(in).cast("array<double>"), typedlit(mean), typedlit(axes)))
  }

  /** Fit the descriptor → Fisher-vector encoder on a training descriptor
    * table `(groupCol castable-to-long, descCol array<double>)`:
    * TSQR-PCA to `pcaK` dims, a `gmmK`-component GMM on the projected
    * descriptors (diagonal sigmas from the fitted covariances), then the
    * gemm-batched Fisher encoding. The returned transformer maps any
    * descriptor table with the same columns to one 2·gmmK·pcaK Fisher
    * vector per group. */
  def fit(train: DataFrame, groupCol: String, descCol: String, out: String,
      pcaK: Int, gmmK: Int, seed: Long = 42L): Transformer =
    // eager multi-pass fit: TSQR-PCA and the projected GMM fit both
    // re-read the descriptor table, so the AutoCache planner owns the
    // persist for the fitting scope (released before the transformer is
    // returned — the fitted transformer closes over literals only)
    AutoCache.withCached(train, uses = 2) { cached =>
      fitOn(cached, groupCol, descCol, out, pcaK, gmmK, seed)
    }

  /** Multi-branch fit under ONE shared cache budget (ref:
    * AutoCacheRule's set selection — the ImageNet pipeline's SIFT and
    * LCS descriptor branches COMPETE for executor memory rather than
    * each branch accepting/declining in isolation): every branch's
    * training table is a cache candidate with uses = 2 (TSQR-PCA + the
    * projected GMM fit), [[AutoCache.selectCacheSet]] picks the subset
    * that fits, and each encoder fits against its possibly-cached
    * frame. Returns the fitted per-branch transformers in input order. */
  def fitBranches(branches: Seq[(DataFrame, String)], groupCol: String,
      descCol: String, pcaK: Int, gmmK: Int, seed: Long = 42L,
      memBudgetBytes: Long = 2L << 30): Seq[Transformer] =
    AutoCache.withCachedSet(
      branches.map { case (df, outCol) =>
        AutoCache.Candidate(df, uses = 2, label = outCol)
      }, memBudgetBytes) { cached =>
      cached.zip(branches).map { case (train, (_, outCol)) =>
        fitOn(train, groupCol, descCol, outCol, pcaK, gmmK, seed)
      }
    }

  private def fitOn(train: DataFrame, groupCol: String, descCol: String,
      out: String, pcaK: Int, gmmK: Int, seed: Long): Transformer = {
    val (mu, axes, _) = LearningOps.tsqrPca(train, descCol, pcaK)
    val projected = pcaProject(train, descCol, "__pdesc", mu, axes)
    val model = new org.apache.spark.ml.clustering.GaussianMixture()
      .setK(gmmK).setSeed(seed)
      .setFeaturesCol("__features").setPredictionCol("__pred")
      .setProbabilityCol("__prob")
      .fit(projected.withColumn("__features",
        array_to_vector(transform(col("__pdesc"), _.cast("double")))))
    val d = model.gaussians.head.mean.size
    val enc = FisherVector.fromParamsBatched(groupCol, "__pdesc", out,
      model.weights,
      model.gaussians.map(_.mean.toArray),
      model.gaussians.map { g =>
        Array.tabulate(d)(i => math.sqrt(math.max(g.cov(i, i), 1e-12)))
      })
    Transformer { df =>
      enc(pcaProject(df, descCol, "__pdesc", mu, axes)).drop("__pdesc")
    }
  }
}
