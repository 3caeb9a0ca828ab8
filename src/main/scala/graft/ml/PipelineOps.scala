package graft.ml

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import org.apache.spark.ml.functions.{array_to_vector, vector_to_array}
import org.apache.spark.storage.StorageLevel

/** Keystone-shaped pipeline façade, re-expressed Spark-first.
  *
  * The reference's defining abstraction (SURVEY §2.A workflow package) is a
  * lazily-composed DAG of `Transformer[A,B]` / `Estimator[A,B]` nodes over
  * RDDs, executed by its own graph executor. Here the same composition
  * surface — `andThen`, `andThen((estimator, data))`, `Pipeline.gather` —
  * is a thin algebra over `DataFrame => DataFrame` functions: every node
  * declares column-level work and THE PLAN stays declarative, so Catalyst
  * (not a hand-rolled graph executor) does CSE, pushdown, and physical
  * planning. Fitting is eager (like the reference's v0.4 semantics at
  * `.fit` time); transforming is lazy until an action.
  *
  * Columnar conventions: text lives in string columns, token sequences in
  * `array<string>`, feature vectors in `array<double>` (converted to
  * `ml.linalg.Vector` only at MLlib boundaries via array_to_vector /
  * vector_to_array — both columnar, no UDF of ours).
  */
object workflow {

  /** A fitted / stateless pipeline stage: pure DataFrame function.
    * (ref: workflow.Transformer — lifted per-datum function; here the lift
    * is a column expression, so it stays inside codegen.) */
  trait Transformer extends Serializable { self =>
    def apply(df: DataFrame): DataFrame

    /** ref: Pipeline.andThen — composition stays lazy/declarative. */
    def andThen(next: Transformer): Transformer = Transformer { df => next(self(df)) }

    /** ref: pipeline andThen (Estimator, trainData): fit the estimator on
      * this pipeline's output over the training set, splice the fitted
      * transformer onto the chain. */
    def andThen(est: Estimator, trainData: DataFrame): Transformer =
      self.andThen(est.fit(self(trainData)))

    /** EP3 single-item serving (ref: workflow/Transformer.apply(in: A) —
      * the reference applies a fitted pipeline to ONE datum driver-only,
      * without launching a cluster job). Spark-first spelling: the datum
      * becomes a `LocalRelation`, and Catalyst's `ConvertToLocalRelation`
      * rule evaluates a chain of deterministic column expressions AT
      * OPTIMIZATION TIME, collapsing the plan back to a `LocalRelation` —
      * the physical plan is one `LocalTableScan` whose `executeCollect`
      * hands rows straight back, launching ZERO jobs/tasks/shuffles.
      * Fitted nodes keep model state as plain Scala (weight arrays, vocab
      * maps) and rebuild literal Columns per apply, so serving chains
      * collapse fully; no second interpreter exists to drift from the
      * distributed semantics — Catalyst's own expression evaluator runs
      * both paths.
      *
      * `requireLocal=true` (default) fails fast when a stage defeats the
      * collapse (an RDD seam, a persist, MLlib `transform`) instead of
      * silently paying per-datum job-launch latency; pass `false` to
      * accept a distributed fallback for such chains. */
    def applyLocal(spark: SparkSession, schema: StructType, rows: Seq[Row],
        requireLocal: Boolean = true): Seq[Row] = {
      import scala.jdk.CollectionConverters._
      val out = self(spark.createDataFrame(rows.asJava, schema))
      if (requireLocal) {
        val opt = out.queryExecution.optimizedPlan
        require(
          opt.isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.LocalRelation],
          "applyLocal: the chain did not collapse to a LocalRelation " +
            s"(optimized plan root is ${opt.getClass.getSimpleName}); " +
            "some stage defeats driver-local evaluation — pass " +
            "requireLocal=false to accept per-datum Spark jobs")
      }
      out.collect().toSeq
    }
  }

  object Transformer {
    def apply(f: DataFrame => DataFrame): Transformer = new Transformer {
      def apply(df: DataFrame): DataFrame = f(df)
    }
    /** No-op node (ref: workflow.Identity). */
    val identity: Transformer = Transformer(df => df)
  }

  /** Unfitted stage: learns state from data, yields a Transformer.
    * (ref: workflow.Estimator / LabelEstimator — labels here are just
    * another column of the training DataFrame, which removes the
    * reference's RDD zip-alignment hazard.) */
  trait Estimator extends Serializable {
    def fit(train: DataFrame): Transformer
  }

  object Pipeline {
    /** Fan-in of N branches (ref: Pipeline.gather): each branch is a
      * column-appending transformer producing the named array<double>
      * column; gather applies them in sequence over the same rows (no join
      * needed — row identity is preserved) and concatenates the branch
      * outputs into one feature column. */
    def gather(branches: Seq[(Transformer, String)], outputCol: String): Transformer =
      Transformer { df =>
        val folded = branches.zipWithIndex.foldLeft(df) { case (acc, ((t, col0), i)) =>
          t(acc).withColumnRenamed(col0, s"__gather_$i")
        }
        val parts = branches.indices.map(i => col(s"__gather_$i"))
        folded.withColumn(outputCol, concat(parts: _*))
          .drop(branches.indices.map(i => s"__gather_$i"): _*)
      }
  }

  // ------------------------------------------------------------ text nodes

  /** ref: nodes.nlp.Trim */
  case class Trim(in: String, out: String) extends Transformer {
    def apply(df: DataFrame): DataFrame = df.withColumn(out, trim(col(in)))
  }

  /** ref: nodes.nlp.LowerCase */
  case class LowerCase(in: String, out: String) extends Transformer {
    def apply(df: DataFrame): DataFrame = df.withColumn(out, lower(col(in)))
  }

  /** ref: nodes.nlp.Tokenizer (single-space split, drop empties — matches
    * the declared-query tokenization everywhere in graft.ops.Text). */
  case class Tokenize(in: String, out: String) extends Transformer {
    def apply(df: DataFrame): DataFrame = {
      // self-register the kernel so the node works on sessions built
      // without GraftExtensions (the library entry-point contract)
      graft.functions.GraftExtensions.ensureRegistered(df.sparkSession)
      df.withColumn(out, call_function("graft_tokens", col(in)))
    }
  }

  /** ref: nodes.nlp.NGramsFeaturizer — all n-grams for n in [lo, hi],
    * emitted as space-joined strings appended into one array column. */
  case class NGrams(in: String, out: String, lo: Int, hi: Int) extends Transformer {
    require(lo >= 1 && hi >= lo)
    def apply(df: DataFrame): DataFrame = {
      val t = col(in)
      val grams = (lo to hi).map { n =>
        if (n == 1) t
        else when(size(t) >= n,
          transform(sequence(lit(1), size(t) - (n - 1)), i =>
            concat_ws(" ", (0 until n).map(k => element_at(t, i + k)): _*)))
          .otherwise(array().cast("array<string>"))
      }
      df.withColumn(out, concat(grams: _*))
    }
  }

  /** ref: nodes.nlp.TermFrequency — per-row token→count map. Per-row cost
    * is O(distinct · n) expression work, bounded by document length (never
    * by corpus size); corpus-scale counting belongs to the declared
    * aggregation queries, not this per-datum node. */
  case class TermFrequency(in: String, out: String) extends Transformer {
    def apply(df: DataFrame): DataFrame =
      df.withColumn(out,
        map_from_entries(transform(
          array_distinct(col(in)),
          tok => struct(tok, size(filter(col(in), x => x === tok)).cast("double")))))
  }

  /** ref: nodes.nlp.CommonSparseFeatures(K): fit = top-K vocabulary by
    * document frequency (orderBy.limit — no unpartitioned window); the
    * fitted transformer maps a token-array column to a |vocabulary|-dim
    * dense array<double> of term counts (at most K slots; none when the
    * corpus has no tokens) with the one-pass `graft_vocab_counts` kernel. */
  case class CommonSparseFeatures(in: String, out: String, k: Int) extends Estimator {
    require(k >= 1, s"CommonSparseFeatures needs k >= 1, got $k")
    def fit(train: DataFrame): Transformer = {
      val vocab = train
        .select(explode(array_distinct(col(in))).as("__tok"))
        .where(col("__tok").isNotNull)
        .groupBy(col("__tok")).agg(count(lit(1)).as("__df"))
        .orderBy(col("__df").desc, col("__tok")).limit(k)
        .collect().map(_.getString(0)).toSeq
      Transformer { df =>
        graft.functions.GraftExtensions.ensureRegistered(df.sparkSession)
        df.withColumn(out, call_function("graft_vocab_counts", col(in), typedlit(vocab)))
      }
    }
  }

  // ---------------------------------------------------------- vector nodes

  /** ref: nodes.stats.LinearRectifier */
  case class Relu(in: String, out: String, alpha: Double = 0.0) extends Transformer {
    def apply(df: DataFrame): DataFrame =
      df.withColumn(out, transform(col(in), x => greatest(x - alpha, lit(0.0))))
  }

  /** ref: nodes.stats.SignedHellingerMapper */
  case class SignedHellinger(in: String, out: String) extends Transformer {
    def apply(df: DataFrame): DataFrame =
      df.withColumn(out, transform(col(in),
        x => when(x < 0, -sqrt(-x)).otherwise(sqrt(x))))
  }

  /** ref: nodes.util.VectorCombiner */
  case class VectorCombiner(ins: Seq[String], out: String) extends Transformer {
    def apply(df: DataFrame): DataFrame =
      df.withColumn(out, concat(ins.map(col): _*))
  }

  /** Scalar fan-in: collect N scalar columns into one array<double> column
    * — [[VectorCombiner]] for single-width branches (the serving-side
    * gather of per-class scorer outputs). As a named library node it also
    * keeps a persisted chain free of caller-scoped lambdas, whose
    * SerializedLambda would drag the caller's Class into the model file
    * and trip [[graft.ml.ModelIO]]'s deserialization allowlist. */
  case class ScalarsToVector(ins: Seq[String], out: String) extends Transformer {
    def apply(df: DataFrame): DataFrame =
      df.withColumn(out, array(ins.map(c => col(c).cast("double")): _*))
  }

  /** ref: nodes.util.MaxClassifier — argmax (0-based) of a score array. */
  case class MaxClassifier(in: String, out: String) extends Transformer {
    def apply(df: DataFrame): DataFrame =
      df.withColumn(out,
        (array_position(col(in), array_max(col(in))) - 1).cast("long"))
  }

  /** ref: nodes.util.TopKClassifier — indices of the k largest scores. */
  case class TopKClassifier(in: String, out: String, k: Int) extends Transformer {
    def apply(df: DataFrame): DataFrame =
      df.withColumn(out,
        transform(
          slice(array_sort(transform(col(in), (x, i) =>
            struct((-x).as("neg"), i.cast("long").as("idx")))), 1, k),
          s => s.getField("idx")))
  }

  /** ref: nodes.util.ClassLabelIndicatorsFromIntLabels */
  case class ClassLabelIndicators(in: String, out: String, numClasses: Int)
      extends Transformer {
    def apply(df: DataFrame): DataFrame =
      df.withColumn(out, transform(sequence(lit(0), lit(numClasses - 1)),
        i => when(col(in) === i, 1.0).otherwise(-1.0)))
  }

  /** ref: nodes.util.Cacher */
  case class Cacher(level: StorageLevel = StorageLevel.MEMORY_AND_DISK)
      extends Transformer {
    def apply(df: DataFrame): DataFrame = df.persist(level)
  }

  /** ref: workflow Checkpointer — truncate lineage so downstream passes
    * (iterative solvers re-reading features) replan from materialized
    * blocks instead of the full upstream DAG. `eager=false` defers the
    * materialization to the first action.
    *
    * Two durability grades:
    *  - `dir = None`: `localCheckpoint` — blocks live on executors' local
    *    storage; fast, but LOST on executor failure, so a 100 TB run
    *    cannot rely on it across stage retries.
    *  - `dir = Some(path)`: reliable `df.checkpoint()` against the
    *    configured directory (HDFS/object store on a cluster) — survives
    *    executor loss, the variant iterative solvers should use at scale. */
  case class Checkpointer(eager: Boolean = true, dir: Option[String] = None)
      extends Transformer {
    def apply(df: DataFrame): DataFrame = dir match {
      case Some(d) =>
        val sc = df.sparkSession.sparkContext
        if (!sc.getCheckpointDir.contains(d)) sc.setCheckpointDir(d)
        df.checkpoint(eager)
      case None => df.localCheckpoint(eager)
    }
  }

  /** ref: evaluation.AugmentedExamplesEvaluator — vote aggregation over
    * augmented variants (patches/flips) of the same source example:
    * element-wise mean of the score vectors per origin, then argmax. One
    * groupBy keyed on the origin id; per-group state = one score vector. */
  case class AugmentedVoter(groupCol: String, scoresCol: String, out: String)
      extends Transformer {
    def apply(df: DataFrame): DataFrame = {
      val byDim = df.select(col(groupCol),
        posexplode(col(scoresCol)).as(Seq("__pos", "__s")))
        .groupBy(col(groupCol), col("__pos"))
        .agg(avg(col("__s")).as("__avg"))
      byDim.groupBy(col(groupCol))
        .agg(transform(array_sort(collect_list(struct(col("__pos"), col("__avg")))),
          s => s.getField("__avg")).as(s"${out}_scores"))
        .withColumn(out,
          (array_position(col(s"${out}_scores"), array_max(col(s"${out}_scores"))) - 1)
            .cast("long"))
    }
  }

  /** ref: nodes.stats.StandardScaler(+Model): fit = per-dimension
    * mean/stddev over the array column (posexplode + groupBy — one pass,
    * dimension-keyed shuffle); transform = per-element normalize with the
    * broadcast stats. */
  case class StandardScalerEst(in: String, out: String) extends Estimator {
    def fit(train: DataFrame): Transformer = {
      val stats = train
        .select(posexplode(col(in)).as(Seq("__pos", "__v")))
        .groupBy(col("__pos"))
        .agg(avg(col("__v")).as("mu"), stddev_samp(col("__v")).as("sd"))
        .orderBy(col("__pos"))
        .collect()
      val mus = stats.map(_.getAs[Double]("mu"))
      val sds = stats.map(r => math.max(r.getAs[Double]("sd"), 1e-12))
      // fitted state stays plain Scala (serializable, locally evaluable);
      // literal Columns are rebuilt per apply
      Transformer { df =>
        val muLit = array(mus.toIndexedSeq.map(lit): _*)
        val sdLit = array(sds.toIndexedSeq.map(lit): _*)
        df.withColumn(out, zip_with(
          zip_with(col(in), muLit, (x, m) => x - m),
          sdLit, (xm, s) => xm / s))
      }
    }
  }

  // ------------------------------------------------------- MLlib estimators

  private def withVec(df: DataFrame, in: String): DataFrame =
    df.withColumn("__features", array_to_vector(transform(col(in), _.cast("double"))))

  private val toSparseVec = udf { (xs: Seq[Double]) =>
    org.apache.spark.ml.linalg.Vectors.dense(xs.toArray).toSparse
      : org.apache.spark.ml.linalg.Vector
  }

  /** [[withVec]], but compacting to MLlib sparse vectors when the
    * dispatcher knows the design is sparse — iterative gradient solvers
    * then pay nnz per pass instead of d. */
  private def withVecAuto(df: DataFrame, in: String, sparse: Boolean): DataFrame =
    if (!sparse) withVec(df, in)
    else df.withColumn("__features",
      toSparseVec(transform(col(in), _.cast("double"))))

  /** Fit-time problem probe shared by the solver dispatchers: exact n
    * (a columnar count), and the zero-fraction of a ~4k-row sample —
    * SAMPLED FIRST so the per-row nnz projection runs over the sample,
    * not the corpus. */
  private def probeProblem(train: DataFrame, featuresCol: String,
      d: Int): (Long, Double) = {
    val n = train.count()
    val frac = math.min(1.0, 4096.0 / math.max(n, 1L).toDouble)
    val probe = train
      .sample(withReplacement = false, frac, seed = 7L)
      .select((size(filter(col(featuresCol), x => x =!= 0.0)).cast("double")
        / d).as("rowDensity"))
      .agg(avg(col("rowDensity"))).head()
    val density =
      if (probe.isNullAt(0)) 1.0 else math.max(probe.getDouble(0), 1e-6)
    (n, density)
  }

  /** ref: nodes.learning.NaiveBayesEstimator (wraps MLlib multinomial NB).
    * Label column must be numeric 0..k-1; emits predicted class + the raw
    * score array. */
  case class NaiveBayesEst(featuresCol: String, labelCol: String, out: String,
      smoothing: Double = 1.0) extends Estimator {
    def fit(train: DataFrame): Transformer = {
      val model = new org.apache.spark.ml.classification.NaiveBayes()
        .setModelType("multinomial").setSmoothing(smoothing)
        .setFeaturesCol("__features").setLabelCol(labelCol)
        .setPredictionCol(out).setRawPredictionCol("__raw")
        .setProbabilityCol("__prob")
        .fit(withVec(train, featuresCol))
      Transformer { df =>
        model.transform(withVec(df, featuresCol))
          .withColumn(s"${out}_scores", vector_to_array(col("__raw")))
          .drop("__features", "__raw", "__prob")
      }
    }
  }

  /** ref: nodes.learning.LogisticRegressionEstimator (MLlib LR, multinomial). */
  case class LogisticRegressionEst(featuresCol: String, labelCol: String,
      out: String, maxIter: Int = 50, regParam: Double = 0.0) extends Estimator {
    def fit(train: DataFrame): Transformer = {
      val model = new org.apache.spark.ml.classification.LogisticRegression()
        .setMaxIter(maxIter).setRegParam(regParam)
        .setFeaturesCol("__features").setLabelCol(labelCol)
        .setPredictionCol(out).setRawPredictionCol("__raw")
        .setProbabilityCol("__prob")
        .fit(withVec(train, featuresCol))
      Transformer { df =>
        model.transform(withVec(df, featuresCol)).drop("__features", "__raw", "__prob")
      }
    }
  }

  /** ref: nodes.learning.KMeansPlusPlusEstimator (MLlib KMeans; k-means||
    * init — the distributed successor of k-means++). Seeded for
    * reproducibility. */
  case class KMeansEst(featuresCol: String, out: String, k: Int,
      seed: Long = 42L) extends Estimator {
    def fit(train: DataFrame): Transformer = {
      val model = new org.apache.spark.ml.clustering.KMeans()
        .setK(k).setSeed(seed)
        .setFeaturesCol("__features").setPredictionCol(out)
        .fit(withVec(train, featuresCol))
      Transformer { df => model.transform(withVec(df, featuresCol)).drop("__features") }
    }
  }

  /** ref: nodes.learning.PCAEstimator / DistributedPCAEstimator — MLlib PCA
    * (covariance + local SVD under the hood; fine to d ~ 10^4 like the
    * reference's local path). */
  case class PCAEst(featuresCol: String, out: String, k: Int) extends Estimator {
    def fit(train: DataFrame): Transformer =
      try {
        val model = new org.apache.spark.ml.feature.PCA()
          .setK(k).setInputCol("__features").setOutputCol("__pca")
          .fit(withVec(train, featuresCol))
        Transformer { df =>
          model.transform(withVec(df, featuresCol))
            .withColumn(out, vector_to_array(col("__pca")))
            .drop("__features", "__pca")
        }
      } catch {
        // MLlib's covariance-SVD path rides LAPACK dgesdd, which can
        // report NotConverged on valid inputs (observed mid-suite).
        // Recover with the exact TSQR axes (eigSym-backed fallback
        // inside) and project WITHOUT centering — MLlib PCA.transform
        // does not center either, so the semantics match.
        case _: breeze.linalg.NotConvergedException =>
          val (mu, axes, _) =
            graft.ml.LearningOps.tsqrPca(train, featuresCol, k)
          val zero = Array.fill(mu.length)(0.0)
          Transformer { df =>
            graft.ml.ImageFvPipeline.pcaProject(df, featuresCol, out, zero, axes)
          }
      }
  }

  /** One-pass feature/label means (treeAggregate of d+k doubles) for
    * intercept centering — shared by the solver dispatchers. */
  private def probeMeans(df: DataFrame, featuresCol: String,
      labels: org.apache.spark.sql.Column, d: Int, k: Int,
      n: Long): (Array[Double], Array[Double]) = {
    val (sx, sy) = df.select(
      transform(col(featuresCol), _.cast("double")).as("x"), labels.as("ys"))
      .rdd.treeAggregate((new Array[Double](d), new Array[Double](k)))(
        seqOp = { case ((ax, ay), r) =>
          val x = r.getSeq[Double](0)
          val ys = r.getSeq[Double](1)
          var j = 0
          while (j < d) { ax(j) += x(j); j += 1 }
          var c = 0
          while (c < k) { ay(c) += ys(c); c += 1 }
          (ax, ay)
        },
        combOp = { case ((ax, ay), (bx, by)) =>
          var j = 0
          while (j < d) { ax(j) += bx(j); j += 1 }
          var c = 0
          while (c < k) { ay(c) += by(c); c += 1 }
          (ax, ay)
        })
    val nn = math.max(n, 1L).toDouble
    (sx.map(_ / nn), sy.map(_ / nn))
  }

  /** Center an array column by a plain mean array (fit-time only; serve
    * time folds the means into the intercept instead). */
  private def centered(in: org.apache.spark.sql.Column,
      mu: Array[Double]): org.apache.spark.sql.Column = {
    val centerUdf = udf { (xs: Seq[Double]) =>
      val out = new Array[Double](mu.length)
      var j = 0
      while (j < mu.length) { out(j) = xs(j) - mu(j); j += 1 }
      out.toSeq
    }
    centerUdf(in)
  }

  /** Ridge as pure least squares for the MLlib L-BFGS route:
    * ‖Xw−y‖² + λ‖w‖² = ‖[X;√λ·I]w − [y;0]‖², so appending d one-hot
    * rows scaled by √λ and fitting with regParam = 0 yields EXACTLY the
    * same stationary point as the gram routes' (XᵀX + λI)w = Xᵀy —
    * independent of MLlib's internal feature/label standardization
    * scalings, which warp its own penalty's meaning (the OLS minimizer
    * is scale-equivariant; a penalized one is not). The basis rows are
    * SPARSE vectors (one nnz each), so augmentation costs O(d) total
    * regardless of width. Returns rows (__features, __ys array[k]=0). */
  private def ridgeAugmentRows(spark: org.apache.spark.sql.SparkSession,
      d: Int, k: Int, lambda: Double): DataFrame = {
    val sqrtL = math.sqrt(lambda)
    val basis = udf { (j: Int) =>
      org.apache.spark.ml.linalg.Vectors
        .sparse(d, Array(j), Array(sqrtL)): org.apache.spark.ml.linalg.Vector
    }
    spark.range(d).select(
      basis(col("id").cast("int")).as("__features"),
      array_repeat(lit(0.0), k).as("__ys"))
  }

  /** Shared fit core for the two solver dispatchers (ref:
    * nodes.learning.LeastSquaresEstimator — SURVEY §4, the paper's
    * headline operator-level optimization): probe the PROBLEM — n
    * (count), d (width), k (targets), sparsity (sampled zero-fraction),
    * cluster parallelism — let [[graft.ml.SolverCostModel]] price the
    * three physical solvers, solve on the winner, and return the k×d
    * weights plus per-target intercepts.
    *
    * Routes: `normal` = ONE gram pass through the shared block-CD core
    * with a single full-width block (any d the cost model's
    * driver-memory gate admits — no MLlib 4096-feature cap);
    * `block-cd` = block coordinate descent (the wide-dense workhorse,
    * b² memory); `l-bfgs` = MLlib, fed SPARSE vectors when density
    * warrants so sparse-wide designs genuinely pay nnz, one fit per
    * target over a frame vectorized (and cached, for k > 1) once.
    *
    * EVERY route optimizes the SAME objective — ‖Xw − y‖² + λ‖w‖² with
    * λ = max(regParam, [[RidgeFloor]]), one floor for all routes — so
    * the cost model's choice (which depends on probed n, density, and
    * cluster shape) never changes the fitted model, only how it is
    * computed: the gram routes solve (XᵀX + λI)w = Xᵀy directly, and
    * the L-BFGS route solves the SAME system as √λ-AUGMENTED pure
    * least squares ([[ridgeAugmentRows]]) with regParam = 0 handed to
    * MLlib — the OLS minimizer is invariant to MLlib's internal
    * feature/label standardization scalings, which warp the meaning of
    * MLlib's own penalty. The augmentation is unconditional (λ is
    * floored, never 0): besides route-invariant conditioning it keeps
    * MLlib from zeroing the coefficient of a CONSTANT feature column
    * (its zero-variance guard) — the append-a-bias-feature convention
    * must fit the bias weight on every route.
    *
    * With `fitIntercept` the core mean-centers features and labels
    * (one treeAggregate pass), solves WITHOUT an intercept on
    * whichever route won — preserving solver-choice invariance — and
    * reconstitutes b_c = ȳ_c − x̄ᵀw_c (the reference LinearMapper's
    * `bOpt`). Centering densifies, so the sparse-vector gate requires
    * `!fitIntercept`; on a genuinely sparse design prefer the
    * reference convention (append a bias feature) over centering. */
  private def dispatchLeastSquares(train: DataFrame, featuresCol: String,
      rawLabels: Column, k: Int, regParam: Double, fitIntercept: Boolean,
      normalEqMaxDim: Int, blockSize: Int, numIter: Int,
      solverOverride: Option[String]): DispatchResult = {
    val d = train.select(size(col(featuresCol))).head().getInt(0)
    val (n, density) = probeProblem(train, featuresCol, d)
    val workers = train.sparkSession.sparkContext.defaultParallelism
    val (modelPick, costs) = graft.ml.SolverCostModel.choose(
      graft.ml.SolverCostModel.Problem(n, d, k, density, workers,
        normalEqMaxDim = normalEqMaxDim, blockSize = blockSize,
        bcdEpochs = numIter))
    val solver = solverOverride.getOrElse(modelPick)
    require(graft.ml.SolverCostModel.ExactnessOrder.contains(solver),
      s"unknown solver override '$solver' (valid: " +
        s"${graft.ml.SolverCostModel.ExactnessOrder.mkString(", ")})")
    val (xMu, yMu) =
      if (fitIntercept) probeMeans(train, featuresCol, rawLabels, d, k, n)
      else (new Array[Double](d), new Array[Double](k))
    val fitFrame =
      if (fitIntercept)
        train.withColumn(featuresCol, centered(col(featuresCol), xMu))
      else train
    val fitLabels =
      if (fitIntercept) centered(rawLabels, yMu) else rawLabels
    val lambda = math.max(regParam, RidgeFloor)
    val w: Array[Array[Double]] = solver match {
      case "normal" =>
        graft.ml.LearningOps.blockCdSolve(fitFrame, featuresCol,
          fitLabels, k = k, d = d, blocks = Array(0 until d),
          numIter = 1, lambda = lambda, wc = lit(1.0), nHint = n)
      case "block-cd" =>
        graft.ml.LearningOps.blockCdSolve(fitFrame, featuresCol,
          fitLabels, k = k, d = d,
          blocks = (0 until d).grouped(blockSize).toArray,
          numIter = numIter, lambda = lambda, wc = lit(1.0), nHint = n)
      case _ =>
        val sparse = density < 0.5 && !fitIntercept
        val prepared = withVecAuto(
          fitFrame.withColumn("__ys", fitLabels), featuresCol, sparse)
          .select(col("__features"), col("__ys"))
          .union(ridgeAugmentRows(train.sparkSession, d, k, lambda))
        val cached =
          if (k > 1) prepared.persist(
            org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
          else prepared
        try {
          (0 until k).map { c =>
            new org.apache.spark.ml.regression.LinearRegression()
              .setSolver("l-bfgs").setRegParam(0.0).setTol(1e-9)
              .setFitIntercept(false)
              .setFeaturesCol("__features")
              .setLabelCol("__yc").setPredictionCol("__pc")
              .fit(cached.withColumn("__yc",
                element_at(col("__ys"), c + 1)))
              .coefficients.toArray
          }.toArray
        } finally if (k > 1) cached.unpersist(blocking = false)
    }
    val b = Array.tabulate(k)(c =>
      yMu(c) - xMu.indices.iterator.map(j => xMu(j) * w(c)(j)).sum)
    DispatchResult(solver, costs, density, w, b)
  }

  /** One ridge floor for every dispatch route: keeps degenerate
    * (rank-deficient, d > n, duplicated-column) designs solvable AND
    * route-invariant — a per-route floor would make the "same
    * objective" contract false exactly where conditioning matters. */
  private val RidgeFloor = 1e-9

  private[graft] final case class DispatchResult(solver: String,
      costs: Map[String, Double], density: Double,
      weights: Array[Array[Double]], intercepts: Array[Double])

  /** Scalar-label solver dispatcher (see [[dispatchLeastSquares]] for
    * the routing/objective/intercept contract). The decision, cost
    * report, probed density, and fitted intercept are observable for
    * tests; `solverOverride` forces a route (dispatch-invariance
    * testing) and rejects unknown names. */
  case class LeastSquaresEst(featuresCol: String, labelCol: String, out: String,
      regParam: Double = 0.0, fitIntercept: Boolean = false,
      normalEqMaxDim: Int = 2048,
      blockSize: Int = 32, numIter: Int = 3,
      solverOverride: Option[String] = None) extends Estimator {
    @volatile var chosenSolver: String = _
    @volatile var costReport: Map[String, Double] = _
    @volatile var probedDensity: Double = _
    @volatile var fittedIntercept: Double = 0.0

    def fit(train: DataFrame): Transformer = {
      val r = dispatchLeastSquares(train, featuresCol,
        array(col(labelCol).cast("double")), k = 1, regParam,
        fitIntercept, normalEqMaxDim, blockSize, numIter, solverOverride)
      chosenSolver = r.solver
      costReport = r.costs
      probedDensity = r.density
      fittedIntercept = r.intercepts(0)
      val w = r.weights(0)
      val b = r.intercepts(0)
      val fc = featuresCol
      val oc = out
      Transformer { df =>
        df.withColumn(oc, element_at(
          graft.ml.LearningOps.affine(df, fc, Array(w), Array(b)), 1))
      }
    }
  }

  /** The dispatcher at the reference's REAL signature —
    * `LeastSquaresEstimator` is a `LabelEstimator[DenseVector,
    * DenseVector, DenseVector]`: it fits ALL k class indicators at once,
    * and k is a first-class input to the cost model (a shared gram
    * amortizes over k targets, which is exactly what makes exact solves
    * win multi-class problems the per-target L-BFGS loop loses).
    * `labelsCol` is an array<double> of length k (ClassLabelIndicators
    * output); the fitted transformer emits the k scores as one array.
    * Routing/objective/intercept contract: [[dispatchLeastSquares]]. */
  case class LeastSquaresMultiEst(featuresCol: String, labelsCol: String,
      out: String, regParam: Double = 0.0, fitIntercept: Boolean = false,
      normalEqMaxDim: Int = 2048,
      blockSize: Int = 32, numIter: Int = 3,
      solverOverride: Option[String] = None) extends Estimator {
    @volatile var chosenSolver: String = _
    @volatile var costReport: Map[String, Double] = _
    @volatile var probedDensity: Double = _
    @volatile var fittedIntercepts: Array[Double] = _

    def fit(train: DataFrame): Transformer = {
      val k = train.select(size(col(labelsCol))).head().getInt(0)
      val r = dispatchLeastSquares(train, featuresCol,
        transform(col(labelsCol), _.cast("double")), k = k, regParam,
        fitIntercept, normalEqMaxDim, blockSize, numIter, solverOverride)
      chosenSolver = r.solver
      costReport = r.costs
      probedDensity = r.density
      fittedIntercepts = r.intercepts
      graft.ml.LearningOps.scoresTransformer(featuresCol, out,
        r.weights, r.intercepts)
    }
  }


  /** MinHashLSH-backed near-dup estimator (the production-scale path the
    * declared q_dedup_shingle_jaccard query approximates exactly at test
    * scale — engine-specific hashing, hence non-oracle; SURVEY §2.B).
    * fit learns the hash family; the fitted transformer emits, for the
    * input binary-ish feature column, all pairs within `maxJaccardDist`. */
  case class MinHashNearDupEst(featuresCol: String, idCol: String,
      numHashTables: Int = 8, maxJaccardDist: Double = 0.2, seed: Long = 42L)
      extends Estimator {
    def fit(train: DataFrame): Transformer = {
      val mh = new org.apache.spark.ml.feature.MinHashLSH()
        .setNumHashTables(numHashTables).setSeed(seed)
        .setInputCol("__features").setOutputCol("__hashes")
      val model = mh.fit(withVec(train, featuresCol))
      Transformer { df =>
        val v = withVec(df, featuresCol)
        model.approxSimilarityJoin(v, v, maxJaccardDist, "jaccard_dist")
          .select(
            col(s"datasetA.$idCol").as("id_a"),
            col(s"datasetB.$idCol").as("id_b"),
            col("jaccard_dist"))
          .where(col("id_a") < col("id_b"))
      }
    }
  }
}
