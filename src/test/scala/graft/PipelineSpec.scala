package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._
import graft.ml.workflow._
import graft.ml.AutoCache

/** The reference's AmazonReviews/Newsgroups capability: compose
  * trim→lowercase→tokenize→ngrams→features→classifier as a fitted,
  * reusable pipeline (SURVEY §2.A workflow + pipelines packages). */
class PipelineSpec extends GraftSuite {

  private lazy val docs = spark.read.parquet(s"$sf/documents.parquet")
    .withColumn("label_id",
      array_position(array(lit("de"), lit("en"), lit("es"), lit("fr"), lit("zh")),
        col("lang")).cast("double") - 1)

  test("text classification pipeline: clean -> tokenize -> topK features -> NB") {
    val featurize = Trim("text", "text")
      .andThen(LowerCase("text", "text"))
      .andThen(Tokenize("text", "tokens"))
      .andThen(CommonSparseFeatures("tokens", "features", 200), docs)
    val pipeline = featurize.andThen(
      NaiveBayesEst("features", "label_id", "pred"), docs)
    val scored = pipeline(docs)
    val acc = scored.where(col("pred") === col("label_id")).count().toDouble /
      scored.count()
    assert(acc > 0.2, s"NB training accuracy $acc should beat 1/5 chance")
    assert(scored.columns.contains("pred_scores"))
  }

  test("CommonSparseFeatures emits one slot per vocabulary entry") {
    // a corpus of empty token arrays has an empty vocabulary: its vectors
    // are empty (the old sequence(0, dim - 1) spelling gave [0, -1], two
    // slots), and a small corpus gets fewer than k slots
    import spark.implicits._
    val empty = Seq(Seq.empty[String], Seq.empty[String]).toDF("t")
    val none = CommonSparseFeatures("t", "f", 5).fit(empty)(empty)
    assert(none.select(size(col("f"))).collect().map(_.getInt(0)).toSeq == Seq(0, 0))
    val small = Seq(Seq("b", "a", "b"), Seq("a", "c")).toDF("t")
    val counts = CommonSparseFeatures("t", "f", 5).fit(small)(small)
      .select(col("f")).collect().map(_.getSeq[Double](0)).toSeq
    // vocabulary by document frequency, ties by token: a (2), b, c
    assert(counts == Seq(Seq(1.0, 2.0, 0.0), Seq(1.0, 0.0, 1.0)))
    intercept[IllegalArgumentException](CommonSparseFeatures("t", "f", 0))
  }

  test("single-item serving: a fitted pipeline scores a 1-row frame (ref EP3)") {
    val featurize = Tokenize("text", "tokens")
      .andThen(CommonSparseFeatures("tokens", "features", 50), docs)
    val fitted = featurize.andThen(NaiveBayesEst("features", "label_id", "pred"), docs)
    val one = docs.limit(1)
    val served = fitted(one).select("doc_id", "pred").collect()
    assert(served.length == 1)
    assert(served.head.getDouble(1) >= 0.0 && served.head.getDouble(1) <= 4.0)
    // EP3 proper (round 13): the same fitted chain serves one datum
    // driver-only via applyLocal — MLlib's NaiveBayesModel.transform is
    // deterministic ScalaUDF projections, so even the MLlib-wrapped
    // Amazon chain collapses to a LocalRelation (requireLocal=true
    // would raise otherwise), covering the second flagship family after
    // ServingSpec's TIMIT chain
    val input = docs.select(col("doc_id"), col("text"))
    val row = input.orderBy(col("doc_id")).head()
    val local = fitted.applyLocal(spark, input.schema, Seq(row))
    assert(local.size == 1)
    val dfPred = fitted(input.orderBy(col("doc_id")).limit(1))
      .select(col("pred")).head().getDouble(0)
    assert(local.head.getAs[Double]("pred") == dfPred,
      "local NB serving must agree with the distributed path")
    // round 14 breadth envelope: the SAME fitted chain also COMPILES
    // through LocalServer — tokenizer regex, the vocab-count kernel, and
    // MLlib NaiveBayesModel.transform's scoring UDFs all fold into one
    // codegen'd projection, so both flagship serving families (TIMIT
    // array-math in ServingSpec, Amazon MLlib-wrapped text here) sit
    // inside the compiled per-datum envelope, not just applyLocal's
    val server = graft.ml.LocalServer.compile(fitted, spark, input.schema)
    assert(server(row).getAs[Double]("pred") == dfPred,
      "compiled serving must agree with the distributed path")
  }

  test("andThen composition preserves laziness until an action") {
    var applied = false
    val probe = Transformer { df => applied = true; df }
    val chain = Trim("text", "text").andThen(probe)
    val out = chain(docs) // builds the plan; probe's closure runs at build
    assert(applied, "column-level transformers apply at plan-build time")
    assert(out.columns.sameElements(docs.columns))
  }

  test("Pipeline.gather concatenates branch features") {
    val branches = Seq(
      (Tokenize("text", "t1").andThen(Transformer(df =>
        df.withColumn("f1", array(size(col("t1")).cast("double"))))), "f1"),
      (Transformer(df =>
        df.withColumn("f2", array(length(col("text")).cast("double"),
          lit(1.0)))), "f2"))
    val gathered = Pipeline.gather(branches, "features")(docs)
    val sizes = gathered.select(size(col("features"))).distinct().collect()
    assert(sizes.length == 1 && sizes.head.getInt(0) == 3,
      "gather of 1-dim + 2-dim branches must give 3-dim features")
  }

  test("NGrams node emits unigrams+bigrams counts consistent with tokens") {
    val out = Tokenize("text", "tokens")
      .andThen(NGrams("tokens", "grams", 1, 2))(docs)
    val bad = out.where(
      size(col("grams")) =!= (size(col("tokens")) * 2 - 1)).count()
    assert(bad == 0, "n tokens => n unigrams + (n-1) bigrams")
  }

  test("StandardScalerEst learns moments; scaled output is ~N(0,1) per dim") {
    val vecs = spark.read.parquet(s"$sf/embeddings.parquet")
      .select(col("vec_id"),
        transform(col("embedding"), x => x.cast("double")).as("v"))
    val scaled = StandardScalerEst("v", "z").fit(vecs)(vecs)
    val stats = scaled.select(posexplode(col("z")).as(Seq("pos", "zv")))
      .groupBy("pos").agg(avg("zv").as("mu"), stddev_samp("zv").as("sd"))
      .agg(max(abs(col("mu"))).as("worst_mu"),
        max(abs(col("sd") - 1.0)).as("worst_sd")).head()
    assert(stats.getAs[Double]("worst_mu") < 1e-6)
    assert(stats.getAs[Double]("worst_sd") < 1e-6)
  }

  test("Relu + SignedHellinger + MaxClassifier compose over embeddings") {
    val vecs = spark.read.parquet(s"$sf/embeddings.parquet")
      .select(col("vec_id"),
        transform(col("embedding"), x => x.cast("double")).as("v"))
    val out = Relu("v", "r")
      .andThen(SignedHellinger("r", "h"))
      .andThen(MaxClassifier("h", "cls"))
      .andThen(TopKClassifier("h", "top3", 3))(vecs)
    val disagree = out.where(col("cls") =!= element_at(col("top3"), 1)).count()
    assert(disagree == 0, "argmax must equal top-1")
    assert(out.where(col("cls") < 0 || col("cls") > 63).count() == 0)
  }

  test("ClassLabelIndicators produces keystone-style ±1 vectors") {
    val out = ClassLabelIndicators("label_id", "ind", 5)(docs)
    val ok = out.where(
      size(filter(col("ind"), x => x === 1.0)) === 1 &&
        size(col("ind")) === 5).count()
    assert(ok == docs.count())
  }

  test("LeastSquaresEst dispatches solver from the problem (ref cost model)") {
    import graft.ml.SolverCostModel
    // the reference's regimes, priced at cluster scale by the pure model:
    // tall-skinny dense -> exact normal equations (one gram pass wins and
    // exactness is preferred inside the window)
    val (tall, tallCosts) = SolverCostModel.choose(SolverCostModel.Problem(
      n = 100000000L, d = 128, k = 1, density = 1.0, workers = 256))
    assert(tall == "normal", s"tall-skinny dense must solve exactly: $tallCosts")
    // wide dense -> block coordinate descent (gram infeasible at d², and
    // near-exact block solves beat 100 approximate gradient passes)
    val (wideD, wideCosts) = SolverCostModel.choose(SolverCostModel.Problem(
      n = 10000000L, d = 8192, k = 1, density = 1.0, workers = 256))
    assert(wideD == "block-cd", s"wide dense must block-solve: $wideCosts")
    assert(wideCosts("normal").isInfinity, "d=8192 gram must be infeasible")
    // sparse wide -> L-BFGS (the only solver whose per-pass cost scales
    // with nnz; grams densify)
    val (sparseW, sparseCosts) = SolverCostModel.choose(SolverCostModel.Problem(
      n = 10000000L, d = 8192, k = 1, density = 0.02, workers = 256))
    assert(sparseW == "l-bfgs", s"sparse wide must take l-bfgs: $sparseCosts")
    // the cost report holds exactly the routes, so a consumer iterating
    // its values sees route costs only
    assert(tallCosts.keySet == SolverCostModel.ExactnessOrder.toSet,
      s"the cost report must hold exactly the routes: ${tallCosts.keySet}")

    // end-to-end: fit probes n/d/density itself and the decision (and the
    // whole cost report) is observable
    val vecs = spark.read.parquet(s"$sf/embeddings.parquet")
      .select(transform(col("embedding"), x => x.cast("double")).as("v"),
        element_at(col("embedding"), 1).cast("double").as("y"))
    val narrow = LeastSquaresEst("v", "y", "pred")
    narrow.fit(vecs)
    assert(narrow.chosenSolver == "normal",
      "a 64-dim dense design at test scale must take the normal-equations path")
    assert(narrow.costReport("normal") < narrow.costReport("l-bfgs"))
    val wide = LeastSquaresEst("v", "y", "pred", normalEqMaxDim = 32)
    val fittedWide = wide.fit(vecs)
    assert(wide.chosenSolver == "block-cd",
      "a dense design past the gram cap must block-solve, not l-bfgs")
    assert(wide.costReport("normal").isInfinity)
    // the dispatched block solver must actually fit: noiseless linear
    // target recovered through the block path
    val target = vecs.withColumn("y2",
      call_function("graft_dot", col("v"),
        array((1 to 64).map(i => lit(math.cos(i.toDouble))): _*)))
    val bcd = LeastSquaresEst("v", "y2", "p2", normalEqMaxDim = 32,
      numIter = 8, blockSize = 16)
    val scored = bcd.fit(target)(target)
    assert(bcd.chosenSolver == "block-cd")
    val rmse = math.sqrt(scored.select(avg(pow(col("p2") - col("y2"), 2)))
      .head().getDouble(0))
    assert(rmse < 1e-3, s"dispatched block CD must fit the linear target: $rmse")

    // the sampled zero-fraction probe: a design with 4 of 64 dims live
    // must report ~6% density to the model (this is what routes
    // cluster-scale sparse-wide problems to l-bfgs above)
    val sparseVecs = vecs.select(
      transform(col("v"), (x, i) => when(i < 4, x).otherwise(lit(0.0))).as("v"),
      col("y"))
    val sp = LeastSquaresEst("v", "y", "pred")
    sp.fit(sparseVecs)
    assert(math.abs(sp.probedDensity - 4.0 / 64.0) < 0.01,
      s"sampled density probe off: ${sp.probedDensity}")
  }

  test("LeastSquaresMultiEst: k is a cost-model input; multi-class solves dispatch exact") {
    import graft.ml.SolverCostModel
    // gram amortization: at k=150 the shared-gram exact solve beats the
    // per-target-priced L-BFGS loop even at d=512 where k=1 would not
    val (multiClass, mcCosts) = SolverCostModel.choose(SolverCostModel.Problem(
      n = 100000000L, d = 512, k = 150, density = 1.0, workers = 256))
    assert(multiClass == "normal",
      s"150-class tall problems must solve exactly off one gram: $mcCosts")
    assert(mcCosts("l-bfgs") > mcCosts("normal") * 10,
      "the k factor must make the per-target gradient loop uncompetitive")

    // end-to-end: 3 noiseless linear targets, fitted at once
    def w(seed: Int) =
      array((1 to 64).map(i => lit(math.sin(i.toDouble * seed))): _*)
    val vecs = spark.read.parquet(s"$sf/embeddings.parquet")
      .select(col("vec_id"),
        transform(col("embedding"), x => x.cast("double")).as("v"))
      .withColumn("ys", array(
        call_function("graft_dot", col("v"), w(1)),
        call_function("graft_dot", col("v"), w(2)),
        call_function("graft_dot", col("v"), w(3))))
    def rmses(scored: org.apache.spark.sql.DataFrame): Seq[Double] =
      (1 to 3).map { c =>
        math.sqrt(scored.select(
          avg(pow(element_at(col("scores"), c) - element_at(col("ys"), c), 2)))
          .head().getDouble(0))
      }
    // narrow + dense -> the exact distributed shared-gram ridge
    val exact = LeastSquaresMultiEst("v", "ys", "scores")
    val exactScored = exact.fit(vecs)(vecs)
    assert(exact.chosenSolver == "normal", s"${exact.costReport}")
    rmses(exactScored).foreach(e =>
      assert(e < 1e-3, s"exact multi solve must recover all targets: $e"))
    // past the gram cap -> the multi-target block solver
    val wideM = LeastSquaresMultiEst("v", "ys", "scores",
      normalEqMaxDim = 32, blockSize = 16, numIter = 8)
    val wideScored = wideM.fit(vecs)(vecs)
    assert(wideM.chosenSolver == "block-cd", s"${wideM.costReport}")
    rmses(wideScored).foreach(e =>
      assert(e < 1e-3, s"dispatched multi block CD must recover all targets: $e"))
  }

  test("every dispatched route optimizes the SAME ridge objective") {
    // regParam > 0 is where route-dependent objectives would diverge
    // (MLlib's own penalty is warped by its internal feature/label
    // standardization scalings; the exact routes solve (X'X + λI)w =
    // X'y): with the L-BFGS route solving √λ-augmented pure OLS at
    // regParam=0, the fitted model must be solver-invariant — cluster
    // shape can change WHICH solver wins, never WHAT it fits
    val vecs = spark.read.parquet(s"$sf/embeddings.parquet")
      .select(col("vec_id"),
        transform(col("embedding"), x => x.cast("double")).as("v"))
      .withColumn("y", call_function("graft_dot", col("v"),
        array((1 to 64).map(i => lit(math.sin(i * 0.31))): _*)) * 0.7)
    def fitRoute(route: String): org.apache.spark.sql.DataFrame = {
      val est = LeastSquaresEst("v", "y", "p", regParam = 0.5,
        numIter = 60, blockSize = 16, solverOverride = Some(route))
      val scored = est.fit(vecs)(vecs)
      assert(est.chosenSolver == route)
      scored.select(col("vec_id"), col("p").as(s"p_$route"))
    }
    val joined = fitRoute("normal")
      .join(fitRoute("block-cd"), "vec_id")
      .join(fitRoute("l-bfgs"), "vec_id")
    val Array(dBcd, dLbfgs) = joined.select(
      max(abs(col("p_normal") - col("p_block-cd"))),
      max(abs(col("p_normal") - col("p_l-bfgs")))).head()
      .toSeq.map(_.asInstanceOf[Double]).toArray
    assert(dBcd < 1e-6,
      s"block-cd must converge to the same ridge solution: $dBcd")
    assert(dLbfgs < 1e-6,
      s"l-bfgs must optimize the same objective as the exact routes: $dLbfgs")
  }

  test("bias-feature convention survives every route; bad overrides reject") {
    // the reference convention for an offset is appending a CONSTANT 1.0
    // feature. MLlib's zero-variance guard zeroes such a coefficient at
    // regParam=0 — the unconditional √λ-floor augmentation keeps the
    // column non-constant, so the l-bfgs route fits the bias weight the
    // gram routes fit
    val vecs = spark.read.parquet(s"$sf/embeddings.parquet")
      .select(col("vec_id"),
        concat(transform(col("embedding"), x => x.cast("double")),
          array(lit(1.0))).as("v"))
      .withColumn("y", call_function("graft_dot", col("v"),
        array(((1 to 64).map(i => lit(math.sin(i * 0.53))) :+ lit(5.0)): _*)))
    def biasWeight(route: String): Double = {
      val est = LeastSquaresEst("v", "y", "p",
        solverOverride = Some(route))
      est.fit(vecs)
      // recover w(64) (the bias column) from a 1-row probe: p(0-vector
      // with bias 1) = w_bias
      val probe = vecs.limit(1)
        .withColumn("v", concat(array_repeat(lit(0.0), 64), array(lit(1.0))))
      est.fit(vecs)(probe).select(col("p")).head().getDouble(0)
    }
    val wbExact = biasWeight("normal")
    val wbLbfgs = biasWeight("l-bfgs")
    assert(math.abs(wbExact - 5.0) < 1e-4, s"exact bias weight: $wbExact")
    assert(math.abs(wbLbfgs - wbExact) < 1e-4,
      s"l-bfgs must fit the constant bias column too: $wbLbfgs vs $wbExact")
    // unknown route names fail fast instead of silently running l-bfgs
    val err = intercept[IllegalArgumentException] {
      LeastSquaresEst("v", "y", "p", solverOverride = Some("lbfgs"))
        .fit(vecs)
    }
    assert(err.getMessage.contains("unknown solver override"))
  }

  test("fitIntercept recovers an offset identically on every route") {
    // shifted noiseless target: y = <v, w*> + 7.5; the dispatcher must
    // mean-center, solve WITHOUT an intercept on whichever route won,
    // and reconstitute b = ȳ − x̄ᵀw — so the intercept is a model
    // capability, never a solver-choice coupling (ref LinearMapper bOpt)
    val vecs = spark.read.parquet(s"$sf/embeddings.parquet")
      .select(col("vec_id"),
        transform(col("embedding"), x => x.cast("double")).as("v"))
      .withColumn("y", call_function("graft_dot", col("v"),
        array((1 to 64).map(i => lit(math.cos(i * 0.47))): _*)) + lit(7.5))
    val residByRoute = Seq("normal", "block-cd", "l-bfgs").map { route =>
      val est = LeastSquaresEst("v", "y", "p", fitIntercept = true,
        numIter = 60, blockSize = 16, solverOverride = Some(route))
      val scored = est.fit(vecs)(vecs)
      val resid = scored.select(max(abs(col("p") - col("y"))))
        .head().getDouble(0)
      (route, est.fittedIntercept, resid)
    }
    residByRoute.foreach { case (route, b, resid) =>
      assert(math.abs(b - 7.5) < 1e-4,
        s"$route must recover the 7.5 offset, got $b")
      assert(resid < 1e-4,
        s"$route intercept fit must reproduce the shifted target: $resid")
    }
    // and the multi-target dispatcher: per-class offsets recovered
    val multi = vecs.withColumn("ys",
      array(col("y"), col("y") * lit(-1.0) + lit(3.0)))
    val est = LeastSquaresMultiEst("v", "ys", "scores", fitIntercept = true)
    val scored = est.fit(multi)(multi)
    assert(est.chosenSolver == "normal", s"${est.costReport}")
    // ys(2) = −y + 3 = −<v,w*> − 4.5, so its intercept is −4.5
    assert(math.abs(est.fittedIntercepts(0) - 7.5) < 1e-4 &&
      math.abs(est.fittedIntercepts(1) + 4.5) < 1e-4,
      s"per-class offsets off: ${est.fittedIntercepts.toSeq}")
    val worst = scored.select(greatest(
      max(abs(element_at(col("scores"), 1) - element_at(col("ys"), 1))),
      max(abs(element_at(col("scores"), 2) - element_at(col("ys"), 2)))))
      .head().getDouble(0)
    assert(worst < 1e-4, s"multi-target intercept fit off: $worst")
  }

  test("KMeansEst assigns every vector to one of k clusters") {
    val vecs = spark.read.parquet(s"$sf/embeddings.parquet")
      .select(col("vec_id"),
        transform(col("embedding"), x => x.cast("double")).as("v"))
    val out = KMeansEst("v", "cluster", k = 5).fit(vecs)(vecs)
    assert(out.select("cluster").distinct().count() == 5)
  }

  test("PCAEst projects 64-dim embeddings to k dims") {
    val vecs = spark.read.parquet(s"$sf/embeddings.parquet")
      .select(transform(col("embedding"), x => x.cast("double")).as("v"))
    val out = PCAEst("v", "pc", k = 8).fit(vecs)(vecs)
    assert(out.select(size(col("pc"))).distinct().head().getInt(0) == 8)
  }

  test("AugmentedVoter averages patch scores per origin and argmaxes") {
    import spark.implicits._
    val patches = Seq(
      (1L, Array(0.1, 0.8, 0.1)), (1L, Array(0.2, 0.6, 0.2)),
      (1L, Array(0.5, 0.3, 0.2)), // votes average to class 1
      (2L, Array(0.9, 0.05, 0.05))).toDF("img", "scores")
    val voted = AugmentedVoter("img", "scores", "cls")(patches).collect()
      .map(r => r.getAs[Long]("img") -> r.getAs[Long]("cls")).toMap
    assert(voted == Map(1L -> 1L, 2L -> 0L))
  }

  test("AutoCache persists multi-use frames within budget, skips single-use") {
    val df = spark.read.parquet(s"$sf/lineitem.parquet").select("l_orderkey")
    val h = AutoCache.cacheIfWorthIt(df, uses = 2)
    assert(h.cached, "small multi-use frame should cache")
    assert(h.df.storageLevel.useMemory)
    h.release()
    assert(h.df.storageLevel == org.apache.spark.storage.StorageLevel.NONE,
      "release() must unpersist what the planner cached")
    val single = AutoCache.cacheIfWorthIt(df, uses = 1)
    assert(!single.cached, "single-use frame must not cache")
    single.release() // no-op on a declined handle
    val huge = AutoCache.cacheIfWorthIt(df, uses = 2, memBudgetBytes = 1L)
    assert(!huge.cached, "over-budget frame must not cache")
  }

  test("AutoCache profiles RDD-backed frames whose plan stats are unknown") {
    import spark.implicits._
    // rdd.toDF reports the defaultSizeInBytes sentinel to Catalyst; the
    // planner must profile (count + row-width sample) instead of
    // declining every cache behind an RDD scan
    val rddDf = spark.sparkContext.parallelize(1 to 1000, 4).toDF("x")
    val est = AutoCache.estimatedSize(rddDf)
    assert(est > 0 && est < BigInt(1L << 20),
      s"profiled estimate $est should be a few KB, not the unknown sentinel")
    val h = AutoCache.cacheIfWorthIt(rddDf, uses = 2)
    assert(h.cached, "small multi-use RDD-backed frame should cache")
    h.release()
    val tiny = AutoCache.cacheIfWorthIt(rddDf, uses = 2, memBudgetBytes = 16L)
    assert(!tiny.cached, "profiled estimate must still respect the budget")
    assert(rddDf.storageLevel ==
      org.apache.spark.storage.StorageLevel.NONE,
      "an over-budget profiling decision must leave nothing persisted")
    // a column-narrowing projection over an RDD scan SCALES the unknown
    // sentinel below defaultSizeInBytes — the stats are still poisoned
    // and must route to profiling, not be trusted as a (huge) estimate
    val narrowed = spark.sparkContext.parallelize(1 to 1000, 4)
      .map(i => (i, i.toString * 8)).toDF("a", "b").select("a")
    assert(AutoCache.planStats(narrowed).isEmpty,
      "scaled sentinel stats must be treated as unknown")
    val h2 = AutoCache.cacheIfWorthIt(narrowed, uses = 2)
    assert(h2.cached, "profiled narrow projection should cache")
    h2.release()
  }

  test("AutoCache.withCached brackets the persist around the body") {
    val df = spark.read.parquet(s"$sf/lineitem.parquet").select("l_partkey")
    val levelInside = AutoCache.withCached(df, uses = 3) { d =>
      d.count(); d.storageLevel
    }
    assert(levelInside.useMemory, "frame should be cached while body runs")
    assert(df.storageLevel == org.apache.spark.storage.StorageLevel.NONE,
      "frame must be released after the body returns")
  }

  test("AutoCache profiling samples row widths from EVERY partition") {
    import spark.implicits._
    // width-skewed layout: rows sorted by payload length, so the first
    // partition holds only tiny rows — a first-partition-only sample
    // (the old head(100)) would underestimate the frame ~50x. True size
    // is dominated by the last partition's ~4 KB rows.
    val skewed = spark.sparkContext
      .parallelize(0 until 400, 4)
      .map(i => (i, "x" * (if (i < 300) 8 else 4096)))
      .toDF("id", "payload")
    assert(AutoCache.planStats(skewed).isEmpty,
      "RDD-backed frame must route to profiling")
    val est = AutoCache.estimatedSize(skewed).toDouble
    // exact footprint per rowBytes: 300·(16+4+8+8) + 100·(16+4+8+4096)
    val truth = 300.0 * 36 + 100.0 * 4124
    assert(est > truth * 0.5 && est < truth * 2.0,
      s"per-partition sampling should land near $truth, got $est")
  }

  test("AutoCache declines an over-budget unknown-stats frame without persisting") {
    import spark.implicits._
    val rddDf = spark.sparkContext.parallelize(1 to 5000, 4).toDF("x")
    val h = AutoCache.cacheIfWorthIt(rddDf, uses = 2, memBudgetBytes = 16L)
    assert(!h.cached)
    assert(rddDf.storageLevel == org.apache.spark.storage.StorageLevel.NONE,
      "profiling an over-budget frame must not write it to storage at all")
  }

  test("AutoCache.selectCacheSet picks the higher-value frame under a shared budget") {
    import spark.implicits._
    // knapsack MECHANICS under injected deterministic (size, seconds)
    // profiles — no wall-clock sleeps in the ordering assertions (a
    // loaded host could flip a measured cost and make the greedy order
    // flaky); the profiling PATH keeps its own integration test below
    val a = spark.sparkContext.parallelize(1 to 10, 2).toDF("x")
    val b = spark.sparkContext.parallelize(11 to 20, 2).toDF("x")
    def profiler(df: org.apache.spark.sql.DataFrame): (BigInt, Double) =
      if (df eq a) (BigInt(1000), 2.0) else (BigInt(10000), 0.5)

    // expensive-small beats cheap-large for the only slot (benefit is
    // runtime, not the old size proxy)
    val hs = AutoCache.selectCacheSet(Seq(
      AutoCache.Candidate(b, uses = 2, label = "cheap-large"),
      AutoCache.Candidate(a, uses = 2, label = "expensive-small")),
      memBudgetBytes = 10000L, profiler = profiler)
    assert(hs.map(_.cached) == Seq(false, true),
      "the higher-benefit (bigger-recompute-time-savings) frame wins")
    assert(a.storageLevel.useMemory && !b.storageLevel.useMemory)
    hs.foreach(_.release())
    assert(a.storageLevel == org.apache.spark.storage.StorageLevel.NONE)

    // both fit -> both cached (density order must not starve the second)
    val hs2 = AutoCache.selectCacheSet(Seq(
      AutoCache.Candidate(a, uses = 2), AutoCache.Candidate(b, uses = 2)),
      memBudgetBytes = 11000L, profiler = profiler)
    assert(hs2.map(_.cached) == Seq(true, true))
    hs2.foreach(_.release())

    // a frame that does not fit is skipped WITHOUT blocking smaller
    // ones: b ranks first on benefit but only a fits the budget
    def profiler3(df: org.apache.spark.sql.DataFrame): (BigInt, Double) =
      if (df eq a) (BigInt(1000), 2.0) else (BigInt(10000), 1e6)
    val hs3 = AutoCache.selectCacheSet(Seq(
      AutoCache.Candidate(b, uses = 5), AutoCache.Candidate(a, uses = 2)),
      memBudgetBytes = 1000L, profiler = profiler3)
    assert(hs3.map(_.cached) == Seq(false, true),
      "over-budget high-density frame must not starve the fitting one")
    hs3.foreach(_.release())

    // single-use frames never cache regardless of budget headroom
    val hs4 = AutoCache.selectCacheSet(
      Seq(AutoCache.Candidate(a, uses = 1)), Long.MaxValue, profiler)
    assert(hs4.map(_.cached) == Seq(false))

    // the decision record: per-candidate evidence keyed by label
    val sel = AutoCache.selectCacheSetReported(Seq(
      AutoCache.Candidate(a, uses = 3, label = "a"),
      AutoCache.Candidate(b, uses = 2, label = "b")),
      memBudgetBytes = 11000L, profiler = profiler)
    sel.handles.foreach(_.release())
    assert(sel.sizes == Map("a" -> BigInt(1000), "b" -> BigInt(10000)))
    assert(sel.benefitSeconds == Map("a" -> 4.0, "b" -> 0.5))
  }

  test("AutoCache default scan pricing reaches the report") {
    // end-to-end through the default profiler: a parquet-backed frame has
    // trusted Catalyst stats and no opaque compute, so its reported
    // benefit is exactly (uses-1) * size / ScanBwBytesPerSec
    val dir = java.nio.file.Files.createTempDirectory("graft-ac-scanbw")
    try {
      val path = dir.resolve("t.parquet").toString
      spark.range(500).selectExpr("id", "id * 2 AS y")
        .coalesce(1).write.mode("overwrite").parquet(path)
      val base = spark.read.parquet(path)
      val sel = AutoCache.selectCacheSetReported(
        Seq(AutoCache.Candidate(base, uses = 2, label = "s")),
        memBudgetBytes = Long.MaxValue)
      sel.handles.foreach(_.release())
      assert(sel.sizes("s") == AutoCache.estimatedSize(base))
      assert(sel.benefitSeconds("s") ==
        sel.sizes("s").toDouble / AutoCache.ScanBwBytesPerSec,
        s"benefit must be the declared rescan price: ${sel.benefitSeconds}")
    } finally {
      val walk = java.nio.file.Files.walk(dir)
      try walk.sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
        .iterator().asScala.foreach(p => java.nio.file.Files.deleteIfExists(p))
      finally walk.close()
    }
  }

  test("AutoCache report keys never collide, even against generated keys") {
    import spark.implicits._
    // the adversarial shape: two candidates share a label AND a third's
    // literal label equals the disambiguated key the second would get;
    // a fourth is unlabeled. Every candidate must keep its own row in
    // the report maps.
    val frames = (0 until 4).map(i =>
      spark.sparkContext.parallelize(Seq(i), 1).toDF("x"))
    def fixed(df: org.apache.spark.sql.DataFrame): (BigInt, Double) =
      (BigInt(10), 1.0)
    val sel = AutoCache.selectCacheSetReported(Seq(
      AutoCache.Candidate(frames(0), uses = 2, label = "a"),
      AutoCache.Candidate(frames(1), uses = 3, label = "a"),
      AutoCache.Candidate(frames(2), uses = 4, label = "a@1"),
      AutoCache.Candidate(frames(3), uses = 5)),
      memBudgetBytes = Long.MaxValue, profiler = fixed)
    sel.handles.foreach(_.release())
    assert(sel.sizes.size == 4 && sel.benefitSeconds.size == 4,
      s"4 candidates -> 4 report rows, got keys ${sel.sizes.keySet}")
    // first holder of a base keeps it verbatim; uses disambiguate which
    // row is whose (benefit = (uses-1) * 1.0s)
    assert(sel.benefitSeconds("a") == 1.0)
    assert(sel.benefitSeconds.values.toSeq.sorted == Seq(1.0, 2.0, 3.0, 4.0))
    assert(sel.benefitSeconds("#3") == 4.0, "unlabeled keeps #<index>")
  }

  test("AutoCache profiles opaque compute above a trusted scan (no rescan pricing)") {
    import spark.implicits._
    // a parquet-backed frame has trusted Catalyst stats; a cheap narrow
    // plan over it is priced as a rescan
    val dir = java.nio.file.Files.createTempDirectory("graft-ac-udf").toString
    spark.range(200).select($"id".cast("int").as("x"))
      .coalesce(1).write.mode("overwrite").parquet(dir)
    val base = spark.read.parquet(dir)
    assert(!AutoCache.hasOpaqueCompute(base))
    val (szBase, costBase) = AutoCache.estimatedSizeAndCost(base)
    assert(costBase == szBase.toDouble / AutoCache.ScanBwBytesPerSec,
      "scan-shaped plans keep the modeled rescan price")
    // an expensive narrow UDF KEEPS the stats trusted but must be
    // PROFILED — the modeled rescan price would reintroduce the
    // expensive-small-loses inversion for stats-backed frames
    val slowUdf = udf { (i: Int) => Thread.sleep(5); i * 2 }
    val expensive = base.withColumn("y", slowUdf($"x"))
    assert(AutoCache.hasOpaqueCompute(expensive))
    val (_, costUdf) = AutoCache.estimatedSizeAndCost(expensive)
    assert(costUdf > 0.01,
      s"UDF-bearing plan must carry measured profile seconds: $costUdf")
  }

  test("AutoCache benefit is estimated RUNTIME: expensive-small beats cheap-large") {
    import spark.implicits._
    // the case the old (uses−1)·size proxy got BACKWARDS: a tiny frame
    // that is very expensive to recompute versus a big frame that is a
    // cheap rescan — the paper's AutoCacheRule selects by estimated
    // recompute time under the byte budget, so the expensive small
    // frame must take the only slot
    val slowUdf = udf { (i: Int) => Thread.sleep(8); i * 2 }
    val expensiveSmall = spark.sparkContext.parallelize(1 to 200, 2)
      .toDF("x").withColumn("x2", slowUdf($"x"))
    val cheapLarge = spark.sparkContext.parallelize(1 to 5000, 2)
      .map(i => (i, "z" * 80)).toDF("a", "b")
    val (sizeS, costS) = AutoCache.estimatedSizeAndCost(expensiveSmall)
    val (sizeL, costL) = AutoCache.estimatedSizeAndCost(cheapLarge)
    assert(sizeS < sizeL, s"fixture: small must be smaller ($sizeS vs $sizeL)")
    assert(costS > costL,
      s"fixture: the sleeping recompute must profile slower ($costS vs $costL)")
    // budget admits the large frame alone OR the small frame alone — the
    // greedy order decides which survives
    val budget = sizeL.toLong
    val hs = AutoCache.selectCacheSet(Seq(
      AutoCache.Candidate(cheapLarge, uses = 2, label = "cheap-large"),
      AutoCache.Candidate(expensiveSmall, uses = 2, label = "expensive-small")),
      budget)
    assert(hs.map(_.cached) == Seq(false, true),
      "runtime benefit must rank the expensive small frame first")
    hs.foreach(_.release())
  }
}
