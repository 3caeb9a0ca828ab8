package graft.ml

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.ml.functions.array_to_vector

import graft.ml.workflow.{Estimator, Transformer}

/** Fisher-vector encoding (ref: FisherVector + GMMFisherVectorEstimator —
  * the EncEval C++ node behind the reference's ImageNet/VOC pipelines,
  * re-expressed as pure Spark aggregation; SURVEY §2.A images table).
  *
  * fit: a GMM on the descriptor table (diagonal sigmas taken from the
  * fitted covariances). transform: for a table of local descriptors
  * `(groupCol, descriptor array<double>)`, one 2·K·D Fisher vector per
  * group — the normalized gradients of the log-likelihood w.r.t. the
  * component means and standard deviations:
  *
  *   FVμ(k) = 1/(T√wₖ)  Σₜ γₜ(k) (xₜ−μₖ)/σₖ
  *   FVσ(k) = 1/(T√2wₖ) Σₜ γₜ(k) ((xₜ−μₖ)²/σₖ² − 1)
  *
  * Shape: posteriors γₜ(k) are scalar column math per descriptor row
  * against broadcast literal parameters (log-sum-exp stabilized); ONE
  * posexplode expands dimensions; sums aggregate by (group, dim) then
  * regroup to ordered arrays — both shuffles key on the group id, state
  * bounded by 2·K·D doubles per group. GMM parameters are model-sized.
  */
object FisherVector {

  case class FisherVectorEst(groupCol: String, descCol: String, out: String,
      k: Int, seed: Long = 42L) extends Estimator {

    def fit(train: DataFrame): Transformer = {
      val model = new org.apache.spark.ml.clustering.GaussianMixture()
        .setK(k).setSeed(seed)
        .setFeaturesCol("__features").setPredictionCol("__pred")
        .setProbabilityCol("__prob")
        .fit(train.withColumn("__features",
          array_to_vector(transform(col(descCol), _.cast("double")))))
      val d = model.gaussians.head.mean.size
      fromParams(groupCol, descCol, out,
        model.weights,
        model.gaussians.map(_.mean.toArray),
        model.gaussians.map { g =>
          Array.tabulate(d)(i => math.sqrt(math.max(g.cov(i, i), 1e-12)))
        })
    }
  }

  /** Build the encoding transformer from explicit GMM parameters (exposed
    * so tests can drive hand-built mixtures deterministically).
    *
    * `quantizeUnits = Some(u)` turns on DETERMINISTIC aggregation: each
    * per-descriptor contribution is rounded to an integer multiple of 1/u
    * (`floor(x·u + 0.5)`, exact long sums) before the Σₜ, so the encoding
    * is bit-identical under any partitioning / aggregation order — the
    * same fixed-point discipline as the NB scorer. At 1e9 units the
    * quantization error per term is 5e-10, far below any descriptor
    * signal; without it a 10⁶-term double sum drifts in its last bits with
    * partition order, which is unacceptable for a reproducibility-gated
    * 100 TB pipeline. */
  def fromParams(groupCol: String, descCol: String, out: String,
      weights: Array[Double], means: Array[Array[Double]],
      sigmas: Array[Array[Double]],
      quantizeUnits: Option[Long] = None): Transformer = Transformer { df =>
    val k = weights.length
    val d = means.head.length
    val v = transform(col(descCol), _.cast("double"))
    // per-descriptor log-density per component (diagonal gaussian),
    // posteriors via log-sum-exp
    val logPs: Seq[Column] = (0 until k).map { c =>
      val mu = array(means(c).map(lit): _*)
      val sg = array(sigmas(c).map(lit): _*)
      val logNorm = -0.5 * d * math.log(2 * math.Pi) -
        sigmas(c).map(math.log).sum
      val quad = aggregate(
        zip_with(zip_with(v, mu, (x, m) => x - m), sg, (xm, s) => (xm / s) * (xm / s)),
        lit(0.0), (acc, x) => acc + x)
      lit(math.log(weights(c)) + logNorm) - quad * 0.5
    }
    val maxLog = greatest(logPs: _*)
    val sumExp = logPs.map(lp => exp(lp - maxLog)).reduce(_ + _)
    val gammas = logPs.map(lp => exp(lp - maxLog) / sumExp)
    val scored = df
      .withColumn("__v", v)
      .withColumn("__g", array(gammas: _*))
    // ONE dimension explode; contributions are scalars per (row, dim)
    val perDim = scored.select(
      col(groupCol),
      col("__g"),
      posexplode(col("__v")).as(Seq("pos", "x")))
    def q(term: Column): Column = quantizeUnits match {
      case Some(u) => floor(term * u.toDouble + 0.5).cast("long")
      case None => term
    }
    val contribs = (0 until k).flatMap { c =>
      val mu = element_at(array(means(c).map(lit): _*), col("pos") + 1)
      val sg = element_at(array(sigmas(c).map(lit): _*), col("pos") + 1)
      val g = element_at(col("__g"), c + 1)
      val z = (col("x") - mu) / sg
      Seq(q(g * z).as(s"c_mu_$c"), q(g * (z * z - 1.0)).as(s"c_sg_$c"))
    }
    val perDimC = perDim.select(col(groupCol) +: col("pos") +: contribs: _*)
    val sums = (0 until k).flatMap { c =>
      Seq(sum(col(s"c_mu_$c")).as(s"s_mu_$c"), sum(col(s"c_sg_$c")).as(s"s_sg_$c"))
    } :+ (count(lit(1)).as("n_contrib"))
    val byDim = perDimC.groupBy(col(groupCol), col("pos"))
      .agg(sums.head, sums.tail: _*)
      .withColumn("t", col("n_contrib").cast("double")) // descriptors per group
    // regroup ordered arrays per component, normalize, concatenate
    // (quantized sums de-quantize back to doubles before the 1/(T√w) norm)
    def deq(s: Column): Column = quantizeUnits match {
      case Some(u) => s.cast("double") / u.toDouble
      case None => s
    }
    val collects = (0 until k).flatMap { c =>
      Seq(
        transform(array_sort(collect_list(struct(col("pos"),
          (deq(col(s"s_mu_$c")) / (col("t") * math.sqrt(weights(c)))).as("v")))),
          s => s.getField("v")).as(s"fv_mu_$c"),
        transform(array_sort(collect_list(struct(col("pos"),
          (deq(col(s"s_sg_$c")) / (col("t") * math.sqrt(2.0 * weights(c)))).as("v")))),
          s => s.getField("v")).as(s"fv_sg_$c"))
    }
    val grouped = byDim.groupBy(col(groupCol)).agg(collects.head, collects.tail: _*)
    val parts = (0 until k).flatMap(c => Seq(col(s"fv_mu_$c"), col(s"fv_sg_$c")))
    grouped
      .withColumn(out, concat(parts: _*))
      .select(col(groupCol), col(out))
  }

  /** BLAS-batched Fisher encoding (ref: the EncEval C++ role — utils/
    * external in the reference's build): the THROUGHPUT twin of
    * [[fromParams]]. Per partition, each group's descriptors stack into a
    * B×D matrix and everything becomes dense linear algebra:
    *
    *   quad  = X² Aᵀ − 2 X (μ/σ²)ᵀ + 1·constᵀ   (two gemms → B×K)
    *   Γ     = row-softmax(logw + logNorm − quad/2)
    *   ΣγX   = Γᵀ X,  ΣγX² = Γᵀ X²              (two gemms → K×D)
    *
    * and the mean/sigma gradient sums reassemble from those moments —
    * O(B·K·D) flops all inside gemm instead of per-element Catalyst
    * expressions, the shape a 100 TB descriptor table wants. Partials
    * (2·K·D doubles + count per group) reduce by group key; nothing
    * data-sized ever sits on the driver.
    *
    * Trade-off, stated plainly: the gemm regrouping sums moments BEFORE
    * combining them, so the per-term fixed-point quantization that makes
    * [[fromParams]] bit-reproducible cannot apply — this path is exact up
    * to double addition order (partition-order ulps). Use [[fromParams]]
    * (quantized) where bit-reproducibility gates; use this where
    * throughput does. FisherVectorSpec asserts the two agree to 1e-8.
    *
    * `groupCol` must be castable to long (group ids). A null group or
    * descriptor, or a descriptor whose width is not the model's D, raises
    * a named error. */
  def fromParamsBatched(groupCol: String, descCol: String, out: String,
      weights: Array[Double], means: Array[Array[Double]],
      sigmas: Array[Array[Double]]): Transformer = Transformer { df =>
    import breeze.linalg.{DenseMatrix, DenseVector}
    import LearningOps.{addInto, fitRows, fitVector, nonNull, requireWidth}
    val spark = df.sparkSession
    import spark.implicits._
    val k = weights.length
    val d = means.head.length
    val logW = weights.map(math.log)
    val logNorm = Array.tabulate(k)(c =>
      -0.5 * d * math.log(2 * math.Pi) - sigmas(c).map(math.log).sum)
    // K×D parameter matrices for the gemm forms
    val muM = DenseMatrix.tabulate(k, d)((c, j) => means(c)(j))
    val sgM = DenseMatrix.tabulate(k, d)((c, j) => sigmas(c)(j))
    val invS2 = DenseMatrix.tabulate(k, d)((c, j) => 1.0 / (sigmas(c)(j) * sigmas(c)(j)))
    val muOverS2 = DenseMatrix.tabulate(k, d)((c, j) => means(c)(j) * invS2(c, j))
    val cst = Array.tabulate(k)(c =>
      (0 until d).map(j => means(c)(j) * means(c)(j) * invS2(c, j)).sum)
    val bc = spark.sparkContext.broadcast(
      (logW, logNorm, muM, sgM, invS2, muOverS2, cst))
    val enc = "FisherVector.fromParamsBatched"
    val partials = fitRows(df, Seq(col(descCol)), col(groupCol).cast("long"))
      .mapPartitions { it =>
        val (lw, ln, mu, sg, a, ms2, c0) = bc.value
        val kk = lw.length
        val dd = mu.cols
        // copied out of Spark's reused rows before the groupBy keeps them
        it.map { r =>
          val x = fitVector(r, 0, enc, "descriptor", rows = "descriptor")
          requireWidth(enc, "entries", dd, x.length, rows = "descriptor")
          (nonNull(r, 1, enc, "group", rows = "descriptor").getLong(1), x)
        }.toArray.groupBy(_._1).iterator.map { case (g, rows) =>
          val b = rows.length
          val x = DenseMatrix.tabulate(b, dd)((r, j) => rows(r)._2(j))
          val x2 = x *:* x
          // quad(b,c) = Σ_j (x−μ)²/σ² via two gemms + the constant row
          val quad = x2 * a.t - (x * ms2.t) * 2.0
          var r = 0
          while (r < b) {
            var c = 0
            while (c < kk) { quad(r, c) += c0(c); c += 1 }
            r += 1
          }
          // Γ = row-softmax of the log densities
          val gam = DenseMatrix.zeros[Double](b, kk)
          r = 0
          while (r < b) {
            var mx = Double.NegativeInfinity
            var c = 0
            while (c < kk) {
              gam(r, c) = lw(c) + ln(c) - 0.5 * quad(r, c)
              if (gam(r, c) > mx) mx = gam(r, c)
              c += 1
            }
            var se = 0.0
            c = 0
            while (c < kk) { gam(r, c) = math.exp(gam(r, c) - mx); se += gam(r, c); c += 1 }
            c = 0
            while (c < kk) { gam(r, c) /= se; c += 1 }
            r += 1
          }
          // moment gemms: Γᵀ·X, Γᵀ·X², column sums of Γ
          val gx = gam.t * x // K×D
          val gx2 = gam.t * x2 // K×D
          val gs = DenseVector.zeros[Double](kk)
          r = 0
          while (r < b) {
            var c = 0
            while (c < kk) { gs(c) += gam(r, c); c += 1 }
            r += 1
          }
          // reassemble gradient sums from moments
          val sums = new Array[Double](2 * kk * dd)
          var c = 0
          while (c < kk) {
            var j = 0
            while (j < dd) {
              val m = mu(c, j); val s = sg(c, j)
              sums(c * dd + j) = (gx(c, j) - m * gs(c)) / s
              sums(kk * dd + c * dd + j) =
                (gx2(c, j) - 2.0 * m * gx(c, j) + m * m * gs(c)) / (s * s) - gs(c)
              j += 1
            }
            c += 1
          }
          (g, (sums, b.toLong))
        }
      }
      .reduceByKey((p1: (Array[Double], Long), p2: (Array[Double], Long)) =>
        (addInto(p1._1, p2._1), p1._2 + p2._2))
    partials.map { case (g, (sums, n)) =>
      val t = n.toDouble
      val fv = new Array[Double](2 * k * d)
      var c = 0
      while (c < k) {
        val nm = 1.0 / (t * math.sqrt(weights(c)))
        val ns = 1.0 / (t * math.sqrt(2.0 * weights(c)))
        var j = 0
        while (j < d) {
          // output layout matches fromParams: per component, μ-block then
          // σ-block, components concatenated in order
          fv(c * 2 * d + j) = sums(c * d + j) * nm
          fv(c * 2 * d + d + j) = sums(k * d + c * d + j) * ns
          j += 1
        }
        c += 1
      }
      (g, fv)
    }.toDF(groupCol, out)
  }
}
