package graft

import org.apache.spark.sql.functions._

import graft.images.ImageOps
import graft.ml.ImageFvPipeline
import graft.ml.LearningOps.BlockLeastSquaresMultiEst
import graft.ml.workflow.{ClassLabelIndicators, MaxClassifier}

/** The reference's ImageNet capstone shape (ImageNetSiftLcsFV: TWO dense
  * descriptor branches — SIFT and LCS — each → PCA → GMM → FisherVector,
  * gathered → one-vs-rest solve → argmax) composed end-to-end from this
  * engine's scale-path pieces: dense-SIFT gradient descriptors
  * (pure-JVM, round 12 — the branch previously stubbed by LCS alone),
  * LCS color descriptors, exact distributed TSQR-PCA (the ml-matrix
  * role), and the gemm-batched Fisher encoder (the EncEval role). The
  * capstone asserts the composed pipeline LEARNS: held-out accuracy on a
  * 3-class synthetic task must clear a floor far above chance. */
class ImageFvPipelineSpec extends GraftSuite {

  /** Synthetic 8x8x3 images, 3 classes: channel intensity tracks the
    * class (means differ by 50 levels) under +/-12 deterministic noise,
    * so LCS cell statistics separate classes but not trivially. */
  private def images(n: Int) = {
    import spark.implicits._
    spark.createDataset((0 until n).map { r =>
      val label = r % 3
      val px = Array.tabulate(8 * 8 * 3) { q =>
        val c = q % 3
        40.0 + label * 50 + (c * 17 + label * 5) % 20 +
          (r * 13 + q * 7) % 25 - 12
      }
      ImageOps.Img(r.toLong, 8, 8, 3, px)
    })
  }

  test("pcaProject is bit-identical to the zip_with + graft_dot spelling") {
    import spark.implicits._
    val descs = ImageFvPipeline.cellDescriptors(
      ImageOps.lcs(images(30), cell = 2).toDF(), descDim = 6)
    val (mu, axes, _) = graft.ml.LearningOps.tsqrPca(descs, "desc", 4)
    val centered = zip_with(transform($"desc", _.cast("double")),
      typedlit(mu.toSeq), (x, m) => x - m)
    val old = array(axes.toIndexedSeq.map(a =>
      call_function("graft_dot", centered, typedlit(a.toSeq))): _*)
    val rows = ImageFvPipeline.pcaProject(descs, "desc", "p", mu, axes)
      .select($"p", old.as("old")).collect()
    assert(rows.length == 30 * 16)
    rows.foreach { r =>
      val bits = (i: Int) => r.getSeq[Double](i).map(java.lang.Double.doubleToRawLongBits)
      assert(bits(0) == bits(1), s"kernel projection != old spelling in $r")
    }
    // a descriptor whose width differs from mu raises a named error; the
    // old spelling padded it with nulls and projected it silently
    val short = descs.limit(1).select(slice($"desc", 1, 5).as("desc"))
    val e = intercept[Exception] {
      ImageFvPipeline.pcaProject(short, "desc", "p", mu, axes).select("p").collect()
    }
    val msgs = Iterator.iterate(e: Throwable)(_.getCause).takeWhile(_ != null)
      .map(t => String.valueOf(t.getMessage)).mkString(" ")
    assert(msgs.contains("graft_centered_affine expects x to have 6 entries, got 5"), msgs)
  }

  test("fitBranches' candidates share one budget: all, none, or the denser one") {
    import spark.implicits._
    import graft.ml.AutoCache
    // the two descriptor tables fitBranches hands withCachedSet, at its
    // uses = 2 (TSQR-PCA + the projected GMM fit)
    val imgs = images(30)
    val lcs = ImageFvPipeline.cellDescriptors(ImageOps.lcs(imgs, cell = 2).toDF(),
      descDim = 6)
    val gray = ImageOps.grayScale(imgs.toDF())
      .select($"id", $"x_dim", $"y_dim", $"n_channels", $"image")
      .as[ImageOps.Img]
    val sift = ImageFvPipeline.cellDescriptors(ImageOps.sift(gray, patch = 4,
      step = 4, cells = 2, bins = 4).toDF(), descDim = 16)
    val branches = Seq(lcs, sift).map(AutoCache.Candidate(_, uses = 2))
    def picks(budget: Long) = {
      val sel = AutoCache.selectCacheSet(branches, budget)
      sel.handles.foreach(_.release())
      (sel.handles.map(_.cached), sel)
    }
    val (all, rec) = picks(2L << 30)
    assert(all == Seq(true, true), "both branches fit the default budget")
    // the record is indexed like the branches: one size and benefit each
    assert(rec.sizes.forall(_.exists(_ > 0)) &&
      rec.benefitSeconds.forall(_.exists(_ >= 0.0)), rec)
    assert(picks(0L)._1 == Seq(false, false), "nothing fits a zero budget")
    // a budget that holds either branch but not both keeps the one with
    // the higher benefit per byte (read off the same call's record:
    // profiled seconds are measured, so they move from call to call)
    val (one, oneRec) = picks(rec.sizes.map(_.get).max.toLong)
    assert(one.count(identity) == 1, one)
    val density = oneRec.benefitSeconds.zip(oneRec.sizes).map {
      case (sec, size) => sec.get / size.get.toDouble
    }
    if (density(0) != density(1))
      assert(one(density.indexOf(density.max)),
        s"the denser branch must take the only slot: $density")
  }

  test("ImageNetSiftLcsFV shape: SIFT+LCS -> TSQR-PCA -> GMM -> batched FV -> gather -> solve -> argmax") {
    import spark.implicits._

    val n = 150
    val imgs = images(n)
    val labels = spark.createDataFrame(
      (0 until n).map(r => (r.toLong, r % 3))).toDF("id", "label")

    // --- LCS color descriptors: 2x2 cells -> 4x4 grid, (mean, std) per
    // channel = 16 descriptors of dim 6 per image
    val lcsOut = ImageOps.lcs(imgs, cell = 2).toDF()
    val descs = ImageFvPipeline.cellDescriptors(lcsOut, descDim = 6)
    assert(descs.count() == n * 16L)
    assert(descs.select(size($"desc")).head().getInt(0) == 6)

    // --- SIFT gradient descriptors on the grayscale plane (the
    // reference's other branch, dense SIFT): 4x4 patches stepping 4 ->
    // 2x2 keypoint grid x (2x2 cells x 4 signed bins) = 4 descriptors
    // of dim 16 per image
    val gray = ImageOps.grayScale(imgs.toDF())
      .select($"id", $"x_dim", $"y_dim", $"n_channels", $"image")
      .as[ImageOps.Img]
    val siftOut = ImageOps.sift(gray, patch = 4, step = 4,
      cells = 2, bins = 4).toDF()
    val siftDescs = ImageFvPipeline.cellDescriptors(siftOut, descDim = 16)
    assert(siftDescs.count() == n * 4L)
    assert(siftDescs.select(size($"desc")).head().getInt(0) == 16)

    // --- per-branch PCA(4) + GMM(5) + batched-FV encoders, fitted on
    // the TRAIN split only; encode both splits with the fitted
    // transformers and GATHER the two branch FVs (the reference's
    // SiftFisherVector ++ LcsFisherVector concatenation)
    val trainIds = labels.where($"id" % 5 =!= 0).select($"id")
    // the two branch descriptor tables COMPETE for one shared cache
    // budget (AutoCacheRule set selection) instead of each branch
    // deciding in isolation — the reference pipeline's actual topology
    val Seq(enc, encSift) = ImageFvPipeline.fitBranches(
      Seq(descs.join(trainIds, "id") -> "fv_lcs",
        siftDescs.join(trainIds, "id") -> "fv_sift"),
      "id", "desc", pcaK = 4, gmmK = 5)
    val fvs = enc(descs)
      .join(encSift(siftDescs), "id")
      .withColumn("fv", concat($"fv_lcs", $"fv_sift"))
      .join(labels, "id")
    // 2 * gmmK * pcaK Fisher dimensions per image PER BRANCH
    assert(fvs.select(size($"fv")).head().getInt(0) == 2 * (2 * 5 * 4))
    assert(fvs.count() == n.toLong)

    // --- block least squares on +/-1 indicators, held out by id — ALL
    // three indicators solved at once off one shared gram per block
    // (round 14: the reference estimator's multi-label shape; the
    // ClassLabelIndicators array feeds the solver directly and the
    // scores array feeds MaxClassifier directly)
    val withInd = ClassLabelIndicators("label", "ind", 3)
    val train = withInd(fvs.where($"id" % 5 =!= 0))
    val test = withInd(fvs.where($"id" % 5 === 0))
    val model = BlockLeastSquaresMultiEst("fv", "ind", "scores",
      blockSize = 40, numIter = 2, lambda = 1e-4).fit(train)
    val pred = MaxClassifier("scores", "cls")(model(test))

    val total = pred.count().toDouble
    val correct = pred.where($"cls" === $"label").count().toDouble
    assert(total > 0)
    val acc = correct / total
    assert(acc >= 0.9,
      s"capstone must learn: held-out accuracy $acc < 0.9 (chance = 0.33)")
  }
}
