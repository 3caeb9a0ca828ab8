package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions._

import graft.ml.LearningOps.{BlockLeastSquaresEst, CosineRandomFeaturesNode, PaddedFFTNode}
import graft.ml.ModelIO
import graft.ml.workflow.{ClassLabelIndicators, MaxClassifier, StandardScalerEst, Transformer}

/** The last two reference-lifecycle behaviors (verdict r12 "what's
  * missing"): fitted-pipeline persistence (java-serialized model
  * save/load) and EP3 single-item serving (apply a fitted chain to ONE
  * datum driver-only, zero Spark jobs). Both are exercised on the TIMIT
  * capstone chain — the full frames → PaddedFFT → scaler → cosine random
  * features → solve → argmax pipeline — so the round trip and the local
  * path cover every fitted-node species at once: a UDF node, an
  * array-stat node, a literal-weights featurizer, graft_affine scorers, and
  * expression-only classifiers. */
class ServingSpec extends GraftSuite {

  import spark.implicits._

  // --- the TIMIT capstone's synthetic phone task, fitted once and shared
  // by both tests (fitting launches jobs; the tests below only serve)
  private lazy val fitted: (Transformer, org.apache.spark.sql.DataFrame) = {
    val n = 90
    val frames = spark.createDataset((0 until n).map { r =>
      val label = r % 3
      val wave = Array.tabulate(60) { t =>
        math.sin(2 * math.Pi * (3 + 3 * label) * t / 60.0) +
          ((r * 13 + t * 7) % 25 - 12) / 30.0
      }
      (r.toLong, label, wave)
    }).toDF("id", "label", "wave")
    val trainFrames = frames.where($"id" % 5 =!= 0)

    val featurize = PaddedFFTNode("wave", "spec")
      .andThen(StandardScalerEst("spec", "z"), trainFrames)
      .andThen(CosineRandomFeaturesNode("z", "rf",
        dim = 33, numFeatures = 48, gamma = 0.1))
    val train = ClassLabelIndicators("label", "ind", 3)(featurize(trainFrames))
    val scorers = (0 until 3).map { k =>
      BlockLeastSquaresEst("rf", s"y$k", s"score$k",
        blockSize = 24, numIter = 2, lambda = 1e-4)
        .fit(train.withColumn(s"y$k", element_at($"ind", k + 1)))
    }
    // NB: the gather stage is the library's ScalarsToVector node, not an
    // inline lambda — a lambda defined in this suite (even a non-capturing
    // one) ships the suite's Class via SerializedLambda, which ModelIO's
    // deserialization allowlist correctly rejects; persisted chains must
    // be built from library nodes (or the loader must be told the extra
    // prefix)
    val chain = scorers.foldLeft(featurize)(_ andThen _)
      .andThen(graft.ml.workflow.ScalarsToVector(
        Seq("score0", "score1", "score2"), "scores"))
      .andThen(MaxClassifier("scores", "cls"))
    (chain, frames)
  }

  test("fitted pipeline survives a save -> load -> apply round trip") {
    val (chain, frames) = fitted
    val path = java.nio.file.Files.createTempFile("graft-model", ".bin")
      .toString
    ModelIO.save(chain, path)
    val loaded = ModelIO.load(path)
    val want = chain(frames).select($"id", $"cls", $"scores")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getSeq[Double](2)))
      .toMap
    val got = loaded(frames).select($"id", $"cls", $"scores")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getSeq[Double](2)))
      .toMap
    assert(got == want,
      "loaded pipeline must reproduce the in-memory model exactly")
    java.nio.file.Files.delete(java.nio.file.Paths.get(path))
  }

  test("EP3: applyLocal serves single datums with zero Spark jobs") {
    val (chain, frames) = fitted
    val input = frames.select($"id", $"label", $"wave")
    val schema = input.schema
    // distributed ground truth + the serving rows, collected BEFORE the
    // job listener arms
    val want = chain(frames).select($"id", $"cls")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val servingRows = input.orderBy($"id").collect().take(40)

    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val t0 = System.nanoTime()
      servingRows.foreach { row =>
        val served = chain.applyLocal(spark, schema, Seq(row))
        assert(served.size == 1)
        val id = row.getLong(0)
        assert(served.head.getAs[Long]("cls") == want(id),
          s"local serving diverged from the distributed path on id=$id")
      }
      val perDatumMs = (System.nanoTime() - t0) / 1e6 / servingRows.length
      info(f"per-datum serving latency: $perDatumMs%.1f ms " +
        f"(analysis+optimize+LocalTableScan collect, no job launch)")
      // the cost is per-CALL plan compilation, not per-row evaluation:
      // a micro-batch through ONE applyLocal call amortizes it away
      val tb = System.nanoTime()
      val batched = chain.applyLocal(spark, schema, servingRows.toSeq)
      val batchedMs = (System.nanoTime() - tb) / 1e6 / servingRows.length
      info(f"micro-batched serving latency: $batchedMs%.1f ms/datum " +
        f"(${servingRows.length} rows in one local call)")
      assert(batched.map(r => r.getLong(0) -> r.getAs[Long]("cls")).toMap
        == want.view.filterKeys(batched.map(_.getLong(0)).toSet).toMap,
        "batched local serving must agree with the distributed path")
      // flush: listener events are delivered in order, so once the marker
      // job's start is observed, any job a serving call had launched
      // would already be counted. The marker is a raw RDD action — always
      // exactly ONE job (an SQL count under AQE submits two)
      spark.sparkContext.parallelize(Seq(1), 1).count()
      val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
      while (jobs.get() < 1 && System.nanoTime() < deadline) Thread.sleep(20)
      assert(jobs.get() == 1,
        s"serving launched ${jobs.get() - 1} Spark job(s); EP3 requires zero")
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("fitted ZCA serves zero-job at d = 8 and 256 and replays (x-mu)'W") {
    import graft.ml.LearningOps
    def data(d: Int) = spark.createDataset((0 until 120).map { r =>
      (r.toLong, Array.tabulate(d)(j =>
        math.sin(r * 0.37 + j) + 0.1 * (j % 11) * ((r % 7) - 3)))
    }).toDF("id", "v")
    // ground truth: a test-side scalar replay of y_j = Σ_i (x_i − μ_i)·W_ij
    // over the fitted model (W column-major)
    def replay(x: Array[Double], mu: Array[Double], w: Array[Double]) = {
      val d = mu.length
      Array.tabulate(d)(j => (0 until d).map(i => (x(i) - mu(i)) * w(j * d + i)).sum)
    }
    def maxDiff(a: Iterable[Double], b: Iterable[Double]) =
      a.iterator.zip(b.iterator).map { case (p, q) => math.abs(p - q) }.max

    // the serving chain at d = 8: whiten -> random features; its ground
    // truth is the replayed whitening through the same featurizer
    val d = 8
    val small = data(d)
    val (mu, w, dd) = LearningOps.fitZcaModel(small, "v", 1e-5)
    assert(dd == d)
    val rf = CosineRandomFeaturesNode("w", "rf", dim = d, numFeatures = 12, gamma = 0.2)
    val chain = LearningOps.zcaExprTransformer("v", "w", mu, w, d).andThen(rf)
    val replayed = rf(small.as[(Long, Array[Double])]
      .map { case (id, x) => (id, replay(x, mu, w)) }.toDF("id", "w"))
      .select($"id", $"rf").collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    val batch = chain(small).select($"id", $"rf").collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    val worst = replayed.keys.map(id => maxDiff(batch(id), replayed(id))).max
    assert(worst < 1e-9, s"whiten -> features must track the scalar replay: $worst")

    // a d = 256 whitener: a width where d per-output expressions would
    // pass the huge-method limit
    val wideD = 256
    val wide = data(wideD)
    val (muW, wW, _) = LearningOps.fitZcaModel(wide, "v", 1e-5)
    val wideT = LearningOps.zcaExprTransformer("v", "w", muW, wW, wideD)

    // zero-job serving: both chains collapse under ConvertToLocalRelation
    val input = small.select($"id", $"v")
    val servingRows = input.orderBy($"id").collect().take(10)
    val wideRows = wide.orderBy($"id").collect().take(5)
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      servingRows.foreach { row =>
        val served = chain.applyLocal(spark, input.schema, Seq(row))
        assert(served.size == 1)
        val diff = maxDiff(served.head.getAs[scala.collection.Seq[Double]]("rf"),
          replayed(row.getLong(0)))
        assert(diff < 1e-9,
          s"served ZCA chain diverged from the replay on id=${row.getLong(0)}: $diff")
      }
      wideRows.foreach { row =>
        val served = wideT.applyLocal(spark, wide.schema, Seq(row))
        assert(served.size == 1)
        val x = row.getSeq[Double](1).toArray
        val diff = maxDiff(served.head.getAs[scala.collection.Seq[Double]]("w"),
          replay(x, muW, wW))
        assert(diff < 1e-9,
          s"served d = 256 whitener diverged from the replay on id=${row.getLong(0)}: $diff")
      }
      spark.sparkContext.parallelize(Seq(1), 1).count()
      val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
      while (jobs.get() < 1 && System.nanoTime() < deadline) Thread.sleep(20)
      assert(jobs.get() == 1,
        s"ZCA serving launched ${jobs.get() - 1} Spark job(s); EP3 requires zero")
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("LocalServer compiles the chain once and serves per-datum with zero jobs") {
    val (chain, frames) = fitted
    val input = frames.select(col("id"), col("label"), col("wave"))
    val want = chain(frames).select(col("id"), col("cls"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val servingRows = input.orderBy(col("id")).collect()

    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val server = graft.ml.LocalServer.compile(chain, spark, input.schema)
      // warm the codegen'd projection, then time the steady state — the
      // envelope the reference's per-datum Transformer.apply lives in
      server(servingRows.head)
      val t0 = System.nanoTime()
      servingRows.foreach { row =>
        val served = server(row)
        assert(served.getAs[Long]("cls") == want(row.getLong(0)),
          s"compiled serving diverged on id=${row.getLong(0)}")
      }
      val perDatumMs = (System.nanoTime() - t0) / 1e6 / servingRows.length
      info(f"compiled per-datum latency: $perDatumMs%.3f ms " +
        f"(UnsafeProjection eval + row codecs; no analysis per call)")
      // a chain with a non-Project stage (here: an aggregate) must fail
      // at compile time with the offending node named; NB a persist
      // stage is an execution hint invisible to the analyzed program and
      // compiles fine
      val thrown = intercept[IllegalArgumentException] {
        graft.ml.LocalServer.compile(
          chain.andThen(Transformer { df =>
            df.groupBy(col("cls")).agg(count(lit(1)).as("n"))
          }), spark, input.schema)
      }
      assert(thrown.getMessage.contains("pure column program"))
      spark.sparkContext.parallelize(Seq(1), 1).count() // marker flush
      val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
      while (jobs.get() < 1 && System.nanoTime() < deadline) Thread.sleep(20)
      assert(jobs.get() == 1,
        s"compile+serve launched ${jobs.get() - 1} Spark job(s); must be zero")
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("LocalServer serves a 1024-feature CRF scorer as batch does") {
    // the wide dense chain whose per-output dot spelling passed the
    // huge-method limit: one graft_affine featurizer and one graft_affine
    // scorer, served bit-for-bit like the batch plan scores them
    val rng = new scala.util.Random(3)
    val data = (0 until 120).map { r =>
      val label = r % 3
      (r.toLong, label, Array.tabulate(16)(i =>
        (if (i % 3 == label) 1.0 else 0.0) + rng.nextGaussian() * 0.3))
    }.toDF("id", "label", "x")
    val crf = CosineRandomFeaturesNode("x", "rf", dim = 16,
      numFeatures = 1024, gamma = 0.3)
    val scorer = graft.ml.workflow.LeastSquaresMultiEst("rf", "ind", "scores",
      regParam = 1e-3).fit(ClassLabelIndicators("label", "ind", 3)(crf(data)))
    val chain = crf.andThen(scorer).andThen(MaxClassifier("scores", "cls"))
    def bits(xs: Seq[Double]) = xs.map(java.lang.Double.doubleToRawLongBits)
    val batch = chain(data).select(col("id"), col("scores"), col("cls")).collect()
      .map(r => r.getLong(0) -> (bits(r.getSeq[Double](1)), r.getLong(2))).toMap
    val server = graft.ml.LocalServer.compile(chain, spark, data.schema)
    val rows = data.orderBy(col("id")).collect()
    rows.foreach { row =>
      val served = server(row)
      assert((bits(dArr(served, "scores")), served.getAs[Long]("cls")) ==
        batch(row.getLong(0)), s"served != batch on id=${row.getLong(0)}")
    }
    assert(rows.length == 120 && batch.size == 120)
  }

  test("applyLocal round-trips through ModelIO and fails fast on non-local chains") {
    val (chain, frames) = fitted
    val input = frames.select($"id", $"label", $"wave")
    val row = input.orderBy($"id").head()
    val path = java.nio.file.Files.createTempFile("graft-model", ".bin")
      .toString
    ModelIO.save(chain, path)
    val loaded = ModelIO.load(path)
    val a = chain.applyLocal(spark, input.schema, Seq(row)).head
    val b = loaded.applyLocal(spark, input.schema, Seq(row)).head
    assert(a.getAs[Long]("cls") == b.getAs[Long]("cls"))
    assert(a.getSeq[Double](a.fieldIndex("scores")) ==
      b.getSeq[Double](b.fieldIndex("scores")))
    // the full lifecycle loop: train -> save -> load -> COMPILE -> serve
    // (a serving process deserializes the model and binds it once)
    val server = graft.ml.LocalServer.compile(loaded, spark, input.schema)
    val served = server(row)
    assert(served.getAs[Long]("cls") == a.getAs[Long]("cls"))
    assert(served.getSeq[Double](served.fieldIndex("scores")) ==
      a.getSeq[Double](a.fieldIndex("scores")))
    java.nio.file.Files.delete(java.nio.file.Paths.get(path))
    // a chain with an RDD/persist seam cannot collapse: requireLocal
    // must raise rather than silently launching per-datum jobs
    val cachingChain = chain.andThen(graft.ml.workflow.Cacher())
    val thrown = intercept[IllegalArgumentException] {
      cachingChain.applyLocal(spark, input.schema, Seq(row))
    }
    assert(thrown.getMessage.contains("did not collapse"))
    // the explicit opt-out still serves correctly (paying a job)
    val fallback = cachingChain
      .applyLocal(spark, input.schema, Seq(row), requireLocal = false)
    assert(fallback.head.getAs[Long]("cls") == a.getAs[Long]("cls"))
    Harness.cleanup(spark)
  }

  test("ModelIO load filter rejects caller-scoped classes unless opted in") {
    val (chain, frames) = fitted
    // an inline lambda defined HERE ships this suite's Class (via
    // SerializedLambda.capturingClass) into the model file; the default
    // allowlist must refuse to resolve it, and the caller-supplied prefix
    // must open exactly that door
    val withInline = chain.andThen(Transformer { df =>
      df.withColumn("one", lit(1))
    })
    val path = java.nio.file.Files.createTempFile("graft-model", ".bin")
      .toString
    ModelIO.save(withInline, path)
    intercept[java.io.InvalidClassException] { ModelIO.load(path) }
    val loaded = ModelIO.load(path, extraAllowedPrefixes = Seq("org.scalatest."))
    val row = frames.select($"id", $"label", $"wave").orderBy($"id").head()
    val served = loaded.applyLocal(spark,
      frames.select($"id", $"label", $"wave").schema, Seq(row)).head
    assert(served.getAs[Int]("one") == 1)
    java.nio.file.Files.delete(java.nio.file.Paths.get(path))
  }
}
