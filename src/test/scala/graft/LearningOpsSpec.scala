package graft

import org.apache.spark.sql.functions._
import graft.ml.LearningOps._
import graft.ml.workflow.LeastSquaresEst
import graft.images.ImageOps

/** Second-wave learning/stats nodes (GMM, ZCA, block least squares, FFT,
  * hashing TF, random signs) + image windower/random patches. */
class LearningOpsSpec extends GraftSuite {

  import spark.implicits._

  private lazy val vecs = spark.read.parquet(s"$sf/embeddings.parquet")
    .select($"vec_id", transform($"embedding", x => x.cast("double")).as("v"))

  test("RandomSignNode flips signs deterministically and is self-inverse") {
    val once = RandomSignNode("v", "s", 64)(vecs)
    val twice = RandomSignNode("s", "s2", 64)(once)
    val diff = twice.where(
      exists(zip_with($"v", $"s2", (a, b) => abs(a - b) > 1e-15), x => x)).count()
    assert(diff == 0, "applying the same sign vector twice must be identity")
    val changed = once.where(
      exists(zip_with($"v", $"s", (a, b) => a =!= b && a =!= -b), x => x)).count()
    assert(changed == 0, "every element is either kept or negated")
  }

  test("VectorSplitter splits 64 dims into 4 x 16 blocks") {
    val out = VectorSplitter("v", "blk", 4)(vecs)
    (0 until 4).foreach { b =>
      assert(out.select(size(col(s"blk_$b"))).distinct().head().getInt(0) == 16)
    }
    val recon = out.where(
      exists(zip_with(concat($"blk_0", $"blk_1", $"blk_2", $"blk_3"), $"v",
        (a, b) => a =!= b), x => x)).count()
    assert(recon == 0, "concatenated blocks must reconstruct the vector")
  }

  test("HashingTFNode emits fixed-width non-negative counts") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select(filter(split($"text", " "), t => t =!= "").as("tokens"))
    val out = HashingTFNode("tokens", "tf", numFeatures = 64)(docs)
    assert(out.select(size($"tf")).distinct().head().getInt(0) == 64)
    assert(out.where(exists($"tf", x => x < 0)).count() == 0)
    val mass = out.select((aggregate($"tf", lit(0.0), (a, x) => a + x) -
      size($"tokens")).as("d")).where(abs($"d") > 1e-9).count()
    assert(mass == 0, "hashed counts must conserve token mass")
  }

  test("PaddedFFTNode pads to power of two and keeps half+1 magnitude bins") {
    val df = Seq(Tuple1(Seq.tabulate(6)(i => math.sin(i)))).toDF("v")
    val out = PaddedFFTNode("v", "fft")(df)
    // 6 pads to 8 => 5 bins
    assert(out.select(size($"fft")).head().getInt(0) == 5)
    assert(out.where(exists($"fft", x => x < 0)).count() == 0,
      "magnitudes are non-negative")
    // constant signal concentrates all energy in bin 0
    val const = PaddedFFTNode("v", "fft")(Seq(Tuple1(Seq.fill(8)(1.0))).toDF("v"))
      .select($"fft").head().getSeq[Double](0)
    assert(math.abs(const.head - 8.0) < 1e-9)
    assert(const.tail.forall(_ < 1e-9))
  }

  test("GaussianMixtureEst yields k components with responsibilities summing to 1") {
    val out = GaussianMixtureEst("v", "comp", k = 3).fit(vecs)(vecs)
    assert(out.select("comp").distinct().count() <= 3)
    val badResp = out.where(
      abs(aggregate($"comp_resp", lit(0.0), (a, x) => a + x) - 1.0) > 1e-6).count()
    assert(badResp == 0)
  }

  test("ZCAWhitenerEst whitens: output covariance ~ identity") {
    val white = ZCAWhitenerEst("v", "w", eps = 1e-8).fit(vecs)(vecs)
    val ex = white.select(posexplode($"w").as(Seq("pos", "x")))
    // diagonal: per-dim variance ~ 1; mean ~ 0
    val stats = ex.groupBy("pos")
      .agg(avg($"x").as("mu"), variance($"x").as("vr"))
      .agg(max(abs($"mu")).as("worst_mu"),
        max(abs($"vr" - 1.0)).as("worst_vr")).head()
    assert(stats.getAs[Double]("worst_mu") < 1e-6)
    assert(stats.getAs[Double]("worst_vr") < 0.05,
      s"whitened variance off identity: ${stats.getAs[Double]("worst_vr")}")
  }

  test("ZCA transform replays the scalar (x-mu)'W per row at 1e-12") {
    // pin the apply against an independent scalar replay of the same
    // fitted (mu, W): recompute W from the driver-side covariance the
    // same way the estimator does, then compare rows
    import breeze.linalg.{DenseMatrix => BDM, DenseVector => BDV}
    val d = 16
    val small = vecs.where($"vec_id" < 400)
      .select($"vec_id", slice($"v", 1, d).as("v"))
    val eps = 1e-5
    val (muF, wF, dF) = fitZcaModel(small, "v", eps)
    assert(dF == d)
    def collectOut(t: graft.ml.workflow.Transformer) = t(small)
      .select($"vec_id", $"v", $"w").collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray,
        r.getSeq[Double](2).toArray)).sortBy(_._1)
    val byKernel = collectOut(zcaExprTransformer("v", "w", muF, wF, d))
    val xs = byKernel.map(_._2)
    val n = xs.length
    val mu = BDV.tabulate(d)(j => xs.map(_(j)).sum / n)
    val cov = BDM.tabulate(d, d) { (a, b) =>
      xs.map(x => (x(a) - mu(a)) * (x(b) - mu(b))).sum / n
    }
    val es = breeze.linalg.eigSym(cov)
    val scale = es.eigenvalues.map(l => 1.0 / math.sqrt(math.max(l, 0.0) + eps))
    val wm = es.eigenvectors * breeze.linalg.diag(scale) * es.eigenvectors.t
    def worstVsReplay(rows: Array[(Long, Array[Double], Array[Double])]) =
      rows.map { case (_, x, got) =>
        val expect = (BDV(x) - mu).t * wm
        (0 until d).map(j => math.abs(got(j) - expect(j))).max
      }.max
    val worst = worstVsReplay(byKernel)
    assert(worst < 1e-12,
      s"kernel whitening must replay the scalar product: $worst")
    // the appended column keeps every original column intact and in order
    val cols = ZCAWhitenerEst("v", "w2").fit(small)(small).columns.toSeq
    assert(cols == Seq("vec_id", "v", "w2"))
  }

  test("ZCA apply supports in-place (out == in) and any numeric element type") {
    val d = 6
    val small = vecs.where($"vec_id" < 80)
      .select($"vec_id", slice($"v", 1, d).as("v"))
    // in-place whitening replaces the input column (withColumn
    // semantics, which the old UDF spelling had)
    val inPlace = ZCAWhitenerEst("v", "v").fit(small)(small)
    assert(inPlace.columns.toSeq == Seq("vec_id", "v"))
    val append = ZCAWhitenerEst("v", "w").fit(small)(small)
    val mismatches = inPlace.select($"vec_id", $"v".as("a"))
      .join(append.select($"vec_id", $"w".as("b")), "vec_id")
      .where(exists(zip_with($"a", $"b", (x, y) => abs(x - y) > 1e-12), x => x))
      .count()
    assert(mismatches == 0, "in-place output must equal append-mode output")
    // fit() casts ANY numeric array to double, so apply must not be
    // stricter: an integer feature array whitens end to end
    val ints = small.select($"vec_id",
      transform($"v", x => (x * 1000).cast("int")).as("vi"))
    val white = ZCAWhitenerEst("vi", "w").fit(ints)(ints)
    assert(white.count() == 80)
    assert(white.where(exists($"w", x => isnan(x) || x.isNull)).count() == 0)
  }

  test("ZCA apply names the column on a null array or element, not a bare NPE") {
    val d = 6
    val small = vecs.where($"vec_id" < 80)
      .select($"vec_id", slice($"v", 1, d).as("v"))
    val (muF, wF, _) = fitZcaModel(small, "v", 1e-5)
    // the apply must die with a graft-named error naming the column on
    // a null input — the kernel would otherwise give a silently-null
    // output row or read a null element as 0.0
    val nullArray = small.select($"vec_id",
      when($"vec_id" === 7L, lit(null)).otherwise($"v").as("v"))
    val nullElem = small.select($"vec_id",
      transform($"v", (x, i) =>
        when($"vec_id" === 7L && i === 2, lit(null)).otherwise(x)).as("v"))
    val path = zcaExprTransformer("v", "w", muF, wF, d)
    // collect the output column: a bare count() would let Catalyst
    // prune the projection away and never hit the guard
    val e1 = intercept[Exception] { path(nullArray).select("w").collect() }
    assert(causeChain(e1).contains(
      "graft: ZCAWhitener(v) got a null array"),
      s"wanted the named null-array error, got: ${causeChain(e1)}")
    val e2 = intercept[Exception] { path(nullElem).select("w").collect() }
    assert(causeChain(e2).contains(
      "graft: ZCAWhitener(v) got a null element at index 2"),
      s"wanted the named null-element error, got: ${causeChain(e2)}")
    // a wrong-width row is named too, rather than computing garbage
    val shortRow = small.select($"vec_id",
      when($"vec_id" === 7L, slice($"v", 1, 3)).otherwise($"v").as("v"))
    val e3 = intercept[Exception] {
      path(shortRow).select("w").collect()
    }
    assert(causeChain(e3).contains(
      "graft: ZCAWhitener(v) expects width 6, got 3"),
      s"wanted the named width error, got: ${causeChain(e3)}")
  }

  test("tsqrPca: k past the row rank takes the gram-eigen route (orthonormal, zero tail)") {
    val tiny = vecs.where($"vec_id" < 3).select($"vec_id", $"v")
    val (_, axes, sv) = tsqrPca(tiny, "v", k = 5)
    assert(axes.length == 5 && axes.forall(_.length == 64))
    for (i <- axes.indices; j <- i until axes.length) {
      val dot = axes(i).zip(axes(j)).map { case (a, b) => a * b }.sum
      val expect = if (i == j) 1.0 else 0.0
      assert(math.abs(dot - expect) < 1e-9,
        s"axes must stay orthonormal past the rank: axes($i)·axes($j) = $dot")
    }
    // 3 centered rows have rank <= 2: singular values past it are zero
    // to gram-route noise (σ = √eig turns ~1e-16 eigen-noise into ~1e-8)
    assert(sv.drop(2).forall(_ < 1e-6), s"sv = ${sv.toSeq}")
  }

  test("fitted ZCA survives ModelIO save -> load") {
    // the transform captures plain arrays in a library-defined lambda —
    // java-serializable, no Broadcast/session state, so a saved fitted
    // chain reloads under the allowlist filter
    val d = 8
    val small = vecs.where($"vec_id" < 100)
      .select($"vec_id", slice($"v", 1, d).as("v"))
    val fit = ZCAWhitenerEst("v", "w").fit(small)
    val path = java.nio.file.Files.createTempFile("graft-zca", ".bin")
      .toString
    graft.ml.ModelIO.save(fit, path)
    val loaded = graft.ml.ModelIO.load(path)
    val want = fit(small).select($"vec_id", $"w").collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    val got = loaded(small).select($"vec_id", $"w").collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    assert(got == want, "loaded ZCA must whiten identically")
    java.nio.file.Files.delete(java.nio.file.Paths.get(path))
  }

  test("BlockLeastSquaresEst approaches the exact least-squares fit") {
    // well-posed target: y = v . w_true + small structure
    val target = vecs.withColumn("y",
      call_function("graft_dot", $"v",
        array((1 to 64).map(i => lit(math.sin(i.toDouble))): _*)))
    val block = BlockLeastSquaresEst("v", "y", "pred_b",
      blockSize = 16, numIter = 8).fit(target)(target)
    val exact = LeastSquaresEst("v", "y", "pred_e").fit(target)(target)
    val rmseB = math.sqrt(block.select(avg(pow($"pred_b" - $"y", 2))).head().getDouble(0))
    val rmseE = math.sqrt(exact.select(avg(pow($"pred_e" - $"y", 2))).head().getDouble(0))
    assert(rmseB < 1e-3, s"block CD must fit a noiseless linear target, rmse=$rmseB")
    assert(rmseB < rmseE + 1e-3, "block solution should match the exact solver here")
  }

  test("BlockLeastSquaresMultiEst: k targets off one shared gram == k single solves") {
    // three noiseless linear targets packed into one array column — the
    // reference's actual estimator shape (all class indicators solved
    // simultaneously; the gram is computed ONCE per block, not k times)
    def w(seed: Int) =
      array((1 to 64).map(i => lit(math.sin(i.toDouble * seed))): _*)
    val target = vecs
      .withColumn("ys", array(
        call_function("graft_dot", $"v", w(1)),
        call_function("graft_dot", $"v", w(2)),
        call_function("graft_dot", $"v", w(3))))
    val multi = graft.ml.LearningOps.BlockLeastSquaresMultiEst(
      "v", "ys", "scores", blockSize = 16, numIter = 8).fit(target)(target)
    // every target recovered through the shared-gram path
    val errs = (1 to 3).map { c =>
      math.sqrt(multi.select(
        avg(pow(element_at($"scores", c) - element_at($"ys", c), 2)))
        .head().getDouble(0))
    }
    errs.foreach(e => assert(e < 1e-3, s"multi-target block CD rmse: $errs"))
    // and it agrees with the equivalent single-target solve to float noise
    val single = BlockLeastSquaresEst("v", "y1", "s1",
      blockSize = 16, numIter = 8)
      .fit(target.withColumn("y1", element_at($"ys", 1)))(
        target.withColumn("y1", element_at($"ys", 1)))
    val joinDiff = multi.select($"vec_id", element_at($"scores", 1).as("m1"))
      .join(single.select($"vec_id", $"s1"), "vec_id")
      .select(max(abs($"m1" - $"s1"))).head().getDouble(0)
    assert(joinDiff < 1e-9,
      s"multi target 1 must match the single solve: max diff $joinDiff")
  }

  test("block least squares, PCA and ZCA fits read the widths without a probe job") {
    val target = vecs.withColumn("ys", array(element_at($"v", 1), element_at($"v", 2)))
    // one head() reads d and k; then 2 blocks x 2 epochs of gram passes,
    // with a residual sweep after every one but the last
    val blsq = jobsDuring(BlockLeastSquaresMultiEst("v", "ys", "s",
      blockSize = 32, numIter = 2).fit(target))
    assert(blsq == 1 + 4 + 3, s"BlockLeastSquaresMultiEst fit ran $blsq jobs")
    // the mean pass sizes d: PCA is the mean pass and the QR tree, ZCA
    // its one moment pass
    val pca = jobsDuring(tsqrPca(vecs, "v", 4))
    assert(pca == 2, s"tsqrPca ran $pca jobs")
    val zca = jobsDuring(ZCAWhitenerEst("v", "w").fit(vecs))
    assert(zca == 1, s"a ZCA fit ran $zca jobs")
    // a ragged frame is refused by name, not read out of bounds
    val ragged = vecs.withColumn("v",
      when($"vec_id" === 7, slice($"v", 1, 6)).otherwise($"v"))
    val e1 = intercept[Exception](tsqrPca(ragged, "v", 4))
    assert(causeChain(e1).contains("tsqrPca: ragged training frame"), causeChain(e1))
    val e2 = intercept[Exception](fitZcaModel(ragged, "v", 1e-5))
    assert(causeChain(e2).contains("ZCAWhitener: ragged training frame"), causeChain(e2))
    // LDA sizes d in its class-sum pass (no first() job): that pass and
    // the within-class scatter
    val labeled = vecs.withColumn("y", ($"vec_id" % 3).cast("long"))
    val lda = jobsDuring(LDAEst("v", "y", "p", k = 2).fit(labeled))
    assert(lda == 2, s"an LDA fit ran $lda jobs")
    val e3 = intercept[Exception](
      LDAEst("v", "y", "p", k = 2).fit(ragged.withColumn("y", ($"vec_id" % 3).cast("long"))))
    assert(causeChain(e3).contains("LDAEst: ragged training frame"), causeChain(e3))
  }

  test("every fit names a null feature array instead of a bare NullPointerException") {
    val frame = vecs.where($"vec_id" < 200).select($"vec_id",
      when($"vec_id" === 7L, lit(null)).otherwise($"v").as("v"),
      ($"vec_id" % 3).cast("double").as("y"))
      .withColumn("ys", array($"y"))
    def named(fit: String)(body: => Any): Unit = {
      val e = intercept[Exception](body)
      assert(causeChain(e).contains(s"$fit: a training row has a null feature array"),
        causeChain(e))
    }
    named("least squares")(graft.ml.workflow.LeastSquaresMultiEst("v", "ys", "s").fit(frame))
    named("NaiveBayesEst(v)")(graft.ml.workflow.NaiveBayesEst("v", "y", "p")
      .fit(frame.withColumn("v", transform($"v", x => abs(x)))))
    named("blockCdSolve")(blockCdSolve(frame, "v", $"ys", k = 1, d = 64,
      blocks = Array(0 until 64), numIter = 1, lambda = 1e-6, wc = lit(1.0)))
    named("tsqrPca")(tsqrPca(frame, "v", 4))
    named("ZCAWhitener")(fitZcaModel(frame, "v", 1e-5))
    named("KernelRidgeEst")(KernelRidgeEst("v", "y", "p", gamma = 0.5,
      numLandmarks = 16).fit(frame))
    named("LDAEst")(LDAEst("v", "y", "p", k = 2).fit(frame))
  }

  test("BLAS block-CD agrees with a scalar driver-side replay to 1e-9") {
    // pin the distributed dsyrk/dgemm kernels against an independent
    // scalar implementation of the SAME iteration (blocks, epochs,
    // residual maintenance) run on the collected data with Breeze
    import breeze.linalg.{DenseMatrix => BDM, DenseVector => BDV}
    val k = 2
    val d = 24
    val small = vecs.where($"vec_id" < 300)
      .select($"vec_id", slice($"v", 1, d).as("v"))
      .withColumn("ys", array(
        call_function("graft_dot", $"v",
          array((1 to d).map(i => lit(math.sin(i * 1.7))): _*)) + lit(0.3),
        call_function("graft_dot", $"v",
          array((1 to d).map(i => lit(math.cos(i * 0.9))): _*))))
      .withColumn("wgt", ($"vec_id" % 3 + 1).cast("double"))
    val blocks = (0 until d).grouped(7).toArray
    val lambda = 1e-3
    val epochs = 3
    val dist = graft.ml.LearningOps.blockCdSolve(small, "v",
      transform($"ys", _.cast("double")), k = k, d = d, blocks = blocks,
      numIter = epochs, lambda = lambda, wc = $"wgt")
    // scalar replay
    val rows = small.select($"v", $"ys", $"wgt").collect()
    val n = rows.length
    val x = BDM.tabulate(n, d)((i, j) => rows(i).getSeq[Double](0)(j))
    val y = BDM.tabulate(n, k)((i, c) => rows(i).getSeq[Double](1)(c))
    val w = BDV.tabulate(n)(i => rows(i).getDouble(2))
    val wt = BDM.zeros[Double](d, k)
    val r = y.copy
    for (_ <- 0 until epochs; block <- blocks) {
      val b = block.toArray
      val xb = x(::, b.toIndexedSeq).toDenseMatrix
      val xbw = BDM.tabulate(n, b.length)((i, p) => xb(i, p) * w(i))
      val g = xbw.t * xb
      val v = xbw.t * r
      val cur = BDM.tabulate(b.length, k)((p, c) => wt(b(p), c))
      val sol = (g + BDM.eye[Double](b.length) * lambda) \ (v + g * cur)
      val delta = sol - cur
      for (p <- b.indices; c <- 0 until k) wt(b(p), c) = sol(p, c)
      r -= xb * delta
    }
    val maxDiff = (for (c <- 0 until k; j <- 0 until d)
      yield math.abs(dist(c)(j) - wt(j, c))).max
    assert(maxDiff < 1e-9,
      s"distributed BLAS kernels must replay the scalar iteration: $maxDiff")
  }

  test("blockCdSolve guards the column-major cache against Int overflow") {
    val d = 8
    val small = vecs.where($"vec_id" < 200)
      .select(slice($"v", 1, d).as("v"))
      .withColumn("y", element_at($"v", 1)).coalesce(1)
    // no n hint: the cache build must refuse the oversize partition with
    // a named error, never mis-index
    val err = intercept[org.apache.spark.SparkException] {
      graft.ml.LearningOps.blockCdSolve(small, "v",
        array($"y".cast("double")), k = 1, d = d,
        blocks = Array(0 until d), numIter = 1, lambda = 1e-6,
        wc = lit(1.0), maxPartElems = 64L)
    }
    assert(err.getMessage.contains("overflows the flat column-major cache"),
      s"expected the named cache-cap error, got: ${err.getMessage}")
    // with the probed count supplied, the solver repartitions itself under
    // the cap and the answer matches the unconstrained solve exactly
    val free = graft.ml.LearningOps.blockCdSolve(small, "v",
      array($"y".cast("double")), k = 1, d = d,
      blocks = Array(0 until d), numIter = 1, lambda = 1e-6, wc = lit(1.0))
    val capped = graft.ml.LearningOps.blockCdSolve(small, "v",
      array($"y".cast("double")), k = 1, d = d,
      blocks = Array(0 until d), numIter = 1, lambda = 1e-6, wc = lit(1.0),
      nHint = 200L, maxPartElems = 64L)
    val diff = (0 until d).map(j => math.abs(free(0)(j) - capped(0)(j))).max
    assert(diff < 1e-9,
      s"auto-repartitioned solve must match the unconstrained one: $diff")
    // SKEWED input: all rows hash to ONE of 8 partitions, so the mean
    // rows/partition sits under the safe value while the worst partition
    // is far over the cap — the guard must trigger on the early (half-
    // safe) threshold and level the skew, not abort mid-job
    val skew = small.limit(32).repartition(8, lit(0))
    val free32 = graft.ml.LearningOps.blockCdSolve(small.limit(32), "v",
      array($"y".cast("double")), k = 1, d = d,
      blocks = Array(0 until d), numIter = 1, lambda = 1e-6, wc = lit(1.0))
    val skewed = graft.ml.LearningOps.blockCdSolve(skew, "v",
      array($"y".cast("double")), k = 1, d = d,
      blocks = Array(0 until d), numIter = 1, lambda = 1e-6, wc = lit(1.0),
      nHint = 32L, maxPartElems = 64L)
    val sdiff = (0 until d).map(j => math.abs(free32(0)(j) - skewed(0)(j))).max
    assert(sdiff < 1e-9,
      s"skew-leveled solve must match the unconstrained one: $sdiff")
    // past 200 reduce partitions (spark.shuffle.sort.bypassMergeThreshold)
    // the sort-shuffle writer buffers record references instead of
    // writing each record out at once, so only rows copied out of Spark's
    // reused row before the repartition survive it intact: 500 rows at 4
    // per partition ask for 250 partitions
    val all = vecs.select(slice($"v", 1, d).as("v"))
      .withColumn("y", element_at($"v", 1))
    val freeAll = graft.ml.LearningOps.blockCdSolve(all, "v",
      array($"y".cast("double")), k = 1, d = d,
      blocks = Array(0 until d), numIter = 1, lambda = 1e-6, wc = lit(1.0))
    val wide = graft.ml.LearningOps.blockCdSolve(all, "v",
      array($"y".cast("double")), k = 1, d = d,
      blocks = Array(0 until d), numIter = 1, lambda = 1e-6, wc = lit(1.0),
      nHint = all.count(), maxPartElems = 64L)
    val wdiff = (0 until d).map(j => math.abs(freeAll(0)(j) - wide(0)(j))).max
    assert(wdiff < 1e-9,
      s"a solve repartitioned past 200 partitions must match the free one: $wdiff")
  }

  test("blockCdSolve rejects negative row weights by name") {
    val bad = vecs.where($"vec_id" < 50)
      .select(slice($"v", 1, 4).as("v"))
      .withColumn("y", element_at($"v", 1))
      .withColumn("wgt", lit(-1.0))
    val err = intercept[org.apache.spark.SparkException] {
      graft.ml.LearningOps.blockCdSolve(bad, "v",
        array($"y".cast("double")), k = 1, d = 4,
        blocks = Array(0 until 4), numIter = 1, lambda = 1e-6, wc = $"wgt")
    }
    assert(err.getMessage.contains("negative row weight"))
  }

  test("KernelRidgeEst fits a nonlinear target a linear solver cannot") {
    // target = mixture of RBF bumps centered on three data points, at the
    // model's own length scale — structurally out of reach for any linear
    // model. numLandmarks >= n makes this EXACT kernel ridge (every point a
    // landmark), so the assertion is independent of which subset the
    // uniform landmark sampler would draw; the sampler itself is covered
    // by the determinism test below.
    val centers = vecs.orderBy($"vec_id").limit(3).collect()
      .map(r => r.getSeq[Double](1).toArray)
    def bump(c: Array[Double], w: Double) =
      exp(call_function("graft_sqdist", $"v", array(c.map(lit): _*)) * (-0.5)) * w
    val target = vecs.withColumn("y",
      bump(centers(0), 1.0) + bump(centers(1), -2.0) + bump(centers(2), 1.5))
    val kr = KernelRidgeEst("v", "y", "pred_k", gamma = 0.5,
      numLandmarks = 600, lambda = 1e-8).fit(target)(target)
    val lin = graft.ml.workflow.LeastSquaresEst("v", "y", "pred_l")
      .fit(target)(target)
    val rmseK = math.sqrt(kr.select(avg(pow($"pred_k" - $"y", 2))).head().getDouble(0))
    val rmseL = math.sqrt(lin.select(avg(pow($"pred_l" - $"y", 2))).head().getDouble(0))
    assert(rmseK < rmseL * 0.5,
      s"kernel ridge ($rmseK) must clearly beat linear ($rmseL) on an RBF target")
  }

  test("KernelRidgeEst landmark draw is seeded and spreads beyond row order") {
    val target = vecs.withColumn("y", lit(1.0))
    // same seed -> identical model -> identical predictions
    def preds(seed: Long) =
      KernelRidgeEst("v", "y", "p", gamma = 0.5, numLandmarks = 16,
        seed = seed).fit(target)(target)
        .orderBy($"vec_id").select("p").collect().map(_.getDouble(0)).toSeq
    assert(preds(7L) == preds(7L), "same seed must reproduce the fit exactly")
    // different seeds -> different landmark subsets -> different models;
    // the defective sample(fraction=1.0).limit(m) selection ignored the
    // seed and always took the first m rows in partition order
    assert(preds(7L) != preds(8L),
      "landmark selection must actually respond to the seed")
  }

  test("LDAEst improves class separability (Fisher ratio) in k-1 dims") {
    val labeled = spark.read.parquet(s"$sf/embeddings.parquet")
      .select(transform($"embedding", x => x.cast("double")).as("v"),
        ($"label" % 3).cast("long").as("y")) // 3 classes
    val projected = LDAEst("v", "y", "p", k = 2).fit(labeled)(labeled)
    assert(projected.select(size($"p")).distinct().head().getInt(0) == 2)
    // Fisher criterion on the first projected dim: between-class variance
    // of class means should be non-trivial relative to within-class var
    val stats = projected.select($"y", element_at($"p", 1).as("x"))
      .groupBy($"y").agg(avg($"x").as("mu"), variance($"x").as("vr"))
      .collect()
    val mus = stats.map(_.getAs[Double]("mu"))
    val within = stats.map(_.getAs[Double]("vr")).sum / stats.length
    val grand = mus.sum / mus.length
    val between = mus.map(m => (m - grand) * (m - grand)).sum / mus.length
    assert(between > 0, "projected class means must differ")
    assert(within > 0)
  }

  test("LDAEst applies through graft_affine: the old UDF's bits, served zero-job") {
    val labeled = spark.read.parquet(s"$sf/embeddings.parquet")
      .select($"vec_id", transform($"embedding", x => x.cast("double")).as("v"),
        ($"label" % 3).cast("long").as("y"))
    val lda = LDAEst("v", "y", "p", k = 2).fit(labeled)
    // the fitted projection, read back through the transformer: at the
    // basis vector e_i, output j is exactly proj(i, j)
    val d = 64
    val basis = (0 until d).map(i =>
      (i, Array.tabulate(d)(c => if (c == i) 1.0 else 0.0))).toDF("i", "v")
    val projArr = new Array[Double](d * 2) // column-major d×k
    lda(basis).select($"i", $"p").collect().foreach { r =>
      val p = r.getSeq[Double](1)
      projArr(r.getInt(0)) = p(0)
      projArr(d + r.getInt(0)) = p(1)
    }
    // a driver-side replay of the per-row UDF this kernel replaced
    def oldUdf(xs: Seq[Double]): Seq[Double] = (0 until 2).map { j =>
      var s = 0.0
      var i = 0
      while (i < d) { s += xs(i) * projArr(j * d + i); i += 1 }
      s
    }
    def bits(xs: Seq[Double]) = xs.map(java.lang.Double.doubleToRawLongBits)
    val batch = lda(labeled).select($"vec_id", $"v", $"p").collect()
    assert(batch.nonEmpty)
    batch.foreach { r =>
      assert(bits(r.getSeq[Double](2)) == bits(oldUdf(r.getSeq[Double](1))),
        s"LDA projection != the old UDF on vec_id=${r.getLong(0)}")
    }
    // the fitted chain is a pure column program: it compiles and serves
    // per datum with zero Spark jobs, bit for bit like the batch plan
    val want = batch.map(r => r.getLong(0) -> bits(r.getSeq[Double](2))).toMap
    val input = labeled.select($"vec_id", $"v")
    val rows = input.orderBy($"vec_id").collect().take(20)
    val jobs = jobsDuring {
      val server = graft.ml.LocalServer.compile(lda, spark, input.schema)
      rows.foreach { r =>
        assert(bits(dArr(server(r), "p")) == want(r.getLong(0)),
          s"served LDA != batch on vec_id=${r.getLong(0)}")
      }
    }
    assert(jobs == 0, s"LDA serving launched $jobs Spark job(s)")
  }

  test("a mis-sized feature row raises, when scoring and when training") {
    val train = vecs.where($"vec_id" < 200)
      .withColumn("ind", array(element_at($"v", 1), element_at($"v", 2)))
    val scorer = graft.ml.workflow.LeastSquaresMultiEst("v", "ind", "s",
      regParam = 1e-3).fit(train)
    assert(scorer(train).select(size($"s")).head().getInt(0) == 2)
    // a fitted scorer: a narrower or wider row is not truncated or padded
    for ((x, n) <- Seq(slice($"v", 1, 32) -> 32, concat($"v", $"v") -> 128)) {
      val e = intercept[Exception](
        scorer(train.withColumn("v", x)).select($"s").collect())
      assert(causeChain(e).contains(s"graft_affine expects x to have 64 entries, got $n"),
        causeChain(e))
    }
    // the training cache: a ragged frame is refused by name, both ways,
    // and so is a target array whose width is not k
    val d = 8
    val ragged = (w: Int) => vecs.where($"vec_id" < 50).select(
      when($"vec_id" === 7, slice($"v", 1, w)).otherwise(slice($"v", 1, d)).as("v"),
      array(element_at($"v", 1)).as("ys"))
    def solve(df: org.apache.spark.sql.DataFrame, k: Int) =
      graft.ml.LearningOps.blockCdSolve(df, "v", $"ys", k = k, d = d,
        blocks = Array(0 until d), numIter = 1, lambda = 1e-6, wc = lit(1.0))
    for (w <- Seq(6, 10)) {
      val e = intercept[org.apache.spark.SparkException](solve(ragged(w), 1))
      assert(causeChain(e).contains(s"blockCdSolve: a row has $w features, expected $d"),
        causeChain(e))
    }
    val e = intercept[org.apache.spark.SparkException](solve(ragged(d), 2))
    assert(causeChain(e).contains("blockCdSolve: a row has 1 targets, expected 2"),
      causeChain(e))
  }

  test("weighted block solver biases the fit toward upweighted rows") {
    // two conflicting populations: y = +dot for even ids, y = -dot for odd
    val signed = vecs.withColumn("s",
        when($"vec_id" % 2 === 0, 1.0).otherwise(-1.0))
      .withColumn("y", $"s" * call_function("graft_dot", $"v",
        array((1 to 64).map(_ => lit(1.0)): _*)))
      .withColumn("wgt", when($"vec_id" % 2 === 0, 100.0).otherwise(1.0))
    val fitted = BlockLeastSquaresEst("v", "y", "pred", blockSize = 32,
      numIter = 4, weightCol = Some("wgt")).fit(signed)(signed)
    val evenRmse = math.sqrt(fitted.where($"vec_id" % 2 === 0)
      .select(avg(pow($"pred" - $"y", 2))).head().getDouble(0))
    val oddRmse = math.sqrt(fitted.where($"vec_id" % 2 === 1)
      .select(avg(pow($"pred" - $"y", 2))).head().getDouble(0))
    assert(evenRmse < oddRmse * 0.5,
      s"upweighted population must fit better: even=$evenRmse odd=$oddRmse")
  }

  test("Checkpointer truncates lineage to a materialized RDD scan") {
    import graft.ml.workflow.Checkpointer
    val df = vecs.where($"vec_id" < 100)
    val cp = Checkpointer()(df)
    assert(cp.count() == 100)
    val plan = cp.queryExecution.optimizedPlan.toString
    assert(plan.contains("LogicalRDD") || plan.contains("Scan ExistingRDD"),
      s"checkpoint must replace the upstream DAG:\n$plan")
  }

  test("reliable Checkpointer writes durable blocks under the configured dir") {
    import graft.ml.workflow.Checkpointer
    val dir = java.nio.file.Files.createTempDirectory("graft-ckpt").toString
    val df = vecs.where($"vec_id" < 50)
    val cp = Checkpointer(dir = Some(dir))(df)
    assert(cp.count() == 50)
    val plan = cp.queryExecution.optimizedPlan.toString
    assert(plan.contains("LogicalRDD") || plan.contains("Scan ExistingRDD"),
      s"reliable checkpoint must also truncate lineage:\n$plan")
    // durable evidence: checkpoint files exist on the shared dir (what
    // survives an executor loss, unlike localCheckpoint's executor blocks)
    def files(p: java.io.File): Seq[java.io.File] = {
      val kids = Option(p.listFiles()).map(_.toSeq).getOrElse(Seq.empty)
      kids.filter(_.isFile) ++ kids.filter(_.isDirectory).flatMap(files)
    }
    assert(files(new java.io.File(dir)).nonEmpty,
      s"no checkpoint data written under $dir")
  }

  test("windower tiles strided patches with correct origins and content") {
    val imgs = ImageOps.syntheticImages(spark, n = 2, x = 6, y = 4, c = 1)
    val w = ImageOps.windower(imgs, w = 2, h = 2, stride = 2)
    // nx = (6-2)/2+1 = 3, ny = (4-2)/2+1 = 2 => 6 patches per image
    assert(w.count() == 2 * 6)
    val p = w.where($"id" === 0 && $"win_x" === 2 && $"win_y" === 2).head()
    val arr = dArr(p, "image")
    // origin (2,2): first pixel = in-index (2*6+2) = 14
    assert(arr.head == ((0 * 31 + 14 * 7) % 256) / 255.0)
  }

  test("randomPatches are deterministic and in-bounds") {
    val imgs = ImageOps.syntheticImages(spark, n = 3, x = 8, y = 8, c = 1)
    val a = ImageOps.randomPatches(imgs, n = 4, w = 3, h = 3)
    assert(a.count() == 12)
    assert(a.where(size($"image") =!= 9).count() == 0)
    val r1 = a.orderBy($"id", $"patch_id").collect().map(r => dArr(r, "image")).toSeq
    val r2 = ImageOps.randomPatches(imgs, n = 4, w = 3, h = 3)
      .orderBy($"id", $"patch_id").collect().map(r => dArr(r, "image")).toSeq
    assert(r1 == r2, "patch positions must be deterministic")
  }

  test("tsqrPca: exact axes (vs covariance eig), orthonormal, partition-invariant") {
    import breeze.linalg.{DenseMatrix, DenseVector, eigSym}
    val e = spark.read.parquet(s"$sf/embeddings.parquet")
    val (mu, axes, sv) = tsqrPca(e, "embedding", k = 5)
    val d = mu.length
    assert(axes.length == 5 && axes.forall(_.length == d))
    // orthonormal axes
    for (i <- axes.indices; j <- i until axes.length) {
      val dot = axes(i).zip(axes(j)).map { case (a, b) => a * b }.sum
      val expect = if (i == j) 1.0 else 0.0
      assert(math.abs(dot - expect) < 1e-9, s"axes($i)·axes($j) = $dot")
    }
    // exactness: per-axis variance vᵀCv must equal the top eigenvalues of
    // the exact covariance, in order (TSQR never forms C — this is the
    // cross-check), and match the returned singular values
    val rows = e.select(org.apache.spark.sql.functions.transform(
        $"embedding", x => x.cast("double")).as("v"))
      .collect().map(_.getSeq[Double](0).toArray)
    val n = rows.length
    val muV = DenseVector(mu)
    val c = DenseMatrix.zeros[Double](d, d)
    rows.foreach { x =>
      val xc = DenseVector(x) - muV
      c += xc * xc.t
    }
    c :/= n.toDouble
    val topEig = eigSym(c).eigenvalues.toArray.sorted.reverse.take(5)
    axes.zip(topEig).zip(sv).foreach { case ((v, lambda), s) =>
      val bv = DenseVector(v)
      val captured = bv.t * (c * bv)
      assert(math.abs(captured - lambda) / lambda < 1e-9,
        s"axis variance $captured != eigenvalue $lambda")
      // singular value of the centered matrix: s² = n·λ (covariance /n)
      assert(math.abs(s * s / n - lambda) / lambda < 1e-9)
    }
    // partition invariance: the tree shape must not change the answer
    val (_, axes13, _) = tsqrPca(e.repartition(13), "embedding", k = 5)
    axes.zip(axes13).foreach { case (a, b) =>
      val diff = a.zip(b).map { case (x, y) => math.abs(x - y) }.max
      assert(diff < 1e-6, s"axes must be partition-invariant, max diff $diff")
    }
  }

  test("lapackQrR: upper-triangular R with RᵀR = MᵀM at 1e-9 (tall, wide, view)") {
    import breeze.linalg.{DenseMatrix => BDM, max => bmax}
    import breeze.numerics.{abs => babs}
    val rng = new scala.util.Random(7)
    for ((rows, cols) <- Seq((40, 12), (8, 12))) {
      val m = BDM.tabulate(rows, cols)((_, _) => rng.nextGaussian())
      val r = lapackQrR(m)
      assert(r.rows == math.min(rows, cols) && r.cols == cols)
      for (i <- 0 until r.rows; j <- 0 until math.min(i, r.cols))
        assert(r(i, j) == 0.0, s"R($i,$j) must be zero below the diagonal")
      // R of any QR of M satisfies RᵀR = MᵀM (sign freedom cancels) —
      // and must agree with Breeze's qr.reduced through the same identity
      assert(bmax(babs(r.t * r - m.t * m)) < 1e-9)
      val rb = breeze.linalg.qr.reduced(m).r
      assert(bmax(babs(r.t * r - rb.t * rb)) < 1e-9)
    }
    // a Breeze view (offset/stride ≠ contiguous) must route through copy
    val base = BDM.tabulate(20, 20)((_, _) => rng.nextGaussian())
    val view = base(3 until 15, 2 until 8)
    assert(bmax(babs(lapackQrR(view).t * lapackQrR(view) - view.t * view)) < 1e-9)
  }

  test("dsyev non-convergence fallback agrees with the dgesvd path at 1e-9") {
    import breeze.linalg.{DenseMatrix => BDM}
    val rng = new scala.util.Random(11)
    val m = BDM.tabulate(30, 10)((_, _) => rng.nextGaussian())
    val r = lapackQrR(m)
    val (ax1, sv1) = lapackTopRightSingular(r, 4)
    val (ax2, sv2) = dsyevTopRightSingular(r, 4)
    sv1.zip(sv2).foreach { case (a, b) =>
      assert(math.abs(a - b) < 1e-9, s"singular values differ: $a vs $b")
    }
    ax1.zip(ax2).foreach { case (a, b) =>
      // vectors agree up to sign (both paths leave sign to the caller)
      val dot = a.zip(b).map { case (x, y) => x * y }.sum
      assert(math.abs(math.abs(dot) - 1.0) < 1e-9, s"|cos| = ${math.abs(dot)}")
    }
  }

  test("CosineRandomFeaturesNode raises on a dim mismatch instead of truncating") {
    // graft_dot truncates to min(length) on mismatch, so without the
    // in-plan guard a wrong dim yields silently wrong features (the
    // TIMIT capstone's dim=33 depends on the FFT pad staying 64)
    val node = CosineRandomFeaturesNode("v", "rf", dim = 64, numFeatures = 4)
    val ok = node(vecs).select(size($"rf")).head().getInt(0)
    assert(ok == 4)
    val badNode = CosineRandomFeaturesNode("v", "rf", dim = 33, numFeatures = 4)
    val thrown = intercept[Exception] { badNode(vecs).collect() }
    val msgs = Iterator.iterate(thrown: Throwable)(_.getCause)
      .takeWhile(_ != null).map(t => Option(t.getMessage).getOrElse(""))
      .mkString(" ")
    assert(msgs.contains("expects dim=33"),
      s"guard message missing from: $msgs")
  }

  test("wide-projection sites stay OUT of whole-stage fusion (JIT-cliff guard)") {
    // The huge-method JIT cliff: a whole-stage-fused Project carrying
    // ~50+ dot/sqdist expressions passes HotSpot's huge-method JIT limit
    // and the generated code runs INTERPRETED (~100× at production
    // widths). KernelRidge's landmark map is pinned out of fusion by its
    // CodegenFallback transform(_.cast) lambda; this assertion is the
    // inverse of the kernel specs' codegen-marker checks, so a refactor
    // that "optimizes" the cast into an array-level Cast fails HERE
    // instead of reintroducing the cliff. (CosineRandomFeaturesNode and
    // ZCA left this list when their per-output dots became one
    // graft_affine / graft_centered_affine kernel; see the next test.)
    val target = vecs.withColumn("y", lit(1.0))
    val krOut = KernelRidgeEst("v", "y", "p", gamma = 0.5, numLandmarks = 64)
      .fit(target)(target)
    val krPlan = krOut.queryExecution.executedPlan.toString
    val krLine = krPlan.linesIterator.find(_.contains("graft_sqdist")).get
    assert(!krLine.trim.startsWith("*("),
      "KernelRidge's m-landmark feature map must NOT whole-stage-fuse " +
        s"(huge-method JIT cliff at numLandmarks >= ~50):\n$krPlan")
  }

  test("CosineRandomFeaturesNode fuses with one code size at any width") {
    // graft_affine keeps the model out of the generated code, so the
    // fused stage's largest method is the same at 64 and 1024 features
    // (the per-output dot spelling grew it past the huge-method limit)
    val input = spark.read.parquet(s"$sf/embeddings.parquet")
      .select($"embedding".cast("array<double>").as("v"))
    def maxMethodSize(numFeatures: Int): Int = {
      val plan = CosineRandomFeaturesNode("v", "rf", dim = 64,
        numFeatures = numFeatures)(input).queryExecution.executedPlan
      val line = plan.toString.linesIterator.find(_.contains("graft_affine")).get
      assert(line.trim.startsWith("*("),
        s"the random-features Project must whole-stage-fuse:\n$plan")
      org.apache.spark.sql.execution.debug.codegenStringSeq(plan)
        .map(_._3.maxMethodCodeSize).max
    }
    val (narrow, wide) = (maxMethodSize(64), maxMethodSize(1024))
    assert(narrow == wide, s"max method size grew with numFeatures: $narrow -> $wide")
    // ZCA: one graft_centered_affine column, fused at d = 8 and d = 256.
    // The input is non-null with non-null elements, so only the
    // codegen'd width guard sits in front of the kernel
    def zcaMaxMethodSize(d: Int): Int = {
      import org.apache.spark.sql.types._
      val v = spark.createDataFrame(
        spark.sparkContext.parallelize((0 until 32).map(r =>
          org.apache.spark.sql.Row(Array.tabulate(d)(j => math.sin(r * 31 + j * 17))))),
        StructType(Seq(StructField("v", ArrayType(DoubleType, containsNull = false),
          nullable = false))))
      val eye = Array.tabulate(d * d)(k => if (k % (d + 1) == 0) 1.0 else 0.0)
      val plan = zcaExprTransformer("v", "w", new Array[Double](d), eye, d)(v)
        .queryExecution.executedPlan
      val line = plan.toString.linesIterator
        .find(_.contains("graft_centered_affine")).get
      assert(line.trim.startsWith("*("), s"the ZCA Project must whole-stage-fuse:\n$plan")
      org.apache.spark.sql.execution.debug.codegenStringSeq(plan)
        .map(_._3.maxMethodCodeSize).max
    }
    // d itself is the width guard's one inlined int literal, pushed with
    // bipush (2 bytes) at 8 and sipush (3 bytes) at 256; past that byte
    // the code must not grow with d
    val (zcaNarrow, zcaWide) = (zcaMaxMethodSize(8), zcaMaxMethodSize(256))
    assert(zcaWide - zcaNarrow <= 1, s"ZCA max method size grew with d: $zcaNarrow -> $zcaWide")
  }
}
