package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._

import graft.images.ImageOps
import graft.ml.AutoCache
import graft.ml.LearningOps.{BlockLeastSquaresEst, ZCAWhitenerEst}
import graft.ml.workflow.{ClassLabelIndicators, MaxClassifier}
import graft.sources.Loaders

/** The reference's flagship image program (RandomPatchCifar: patches → ZCA
  * whitening → convolve with whitened patches → rectify → pool → block
  * least-squares solve → MaxClassifier) composed end-to-end from this
  * engine's pieces, on CIFAR-format binary records written by the test.
  * The capstone asserts the composed pipeline LEARNS: held-out accuracy on
  * a 3-class synthetic task must clear a floor far above chance. */
class CifarPipelineSpec extends GraftSuite {

  test("RandomPatchCifar shape: patches -> ZCA -> convolve -> rectify -> pool -> solve -> argmax") {
    import spark.implicits._

    // --- synthetic CIFAR-format data: 150 records of 8x8x1, 3 classes.
    // byte(record, pixel) = label*60 + 40 + (record*13 + pixel*7) % 25 —
    // classes differ by 60 intensity levels under +/-25 deterministic
    // noise, so the task is learnable but not noise-free.
    val dir = Files.createTempDirectory("graft-cifar-capstone").toString
    val n = 150
    val bytes = (0 until n).flatMap { r =>
      val label = r % 3
      label.toByte +: (0 until 64).map { p =>
        (label * 60 + 40 + (r * 13 + p * 7) % 25).toByte
      }
    }.toArray
    Files.write(Paths.get(dir, "data.bin"), bytes)

    val imgs = Loaders.cifar(spark, dir, x = 8, y = 8, c = 1)
    assert(imgs.count() == n)

    // --- unsupervised filter learning: random 3x3 patches, ZCA-whitened;
    // the first 8 whitened patches (deterministic order) become the filter
    // bank, exactly the reference's patch-dictionary trick.
    val patches = ImageOps.randomPatches(imgs, n = 2, w = 3, h = 3)
      .select($"id", $"patch_id", $"image".as("pv"))
    val zca = ZCAWhitenerEst("pv", "white").fit(patches)
    val filters = zca(patches).orderBy($"id", $"patch_id")
      .select($"white").limit(8).collect()
      .map(_.getSeq[Double](0).toArray)
    assert(filters.length == 8 && filters.forall(_.length == 9))

    // --- featurize: convolve (im2col+gemm) -> symmetric rectify -> sum
    // pool -> flat feature vector; 8x8 -> 6x6x8 -> 6x6x16 -> 2x2x16 = 64
    val conv = ImageOps.convolve(
      imgs.select($"id", $"x_dim", $"y_dim", $"n_channels", $"image")
        .as[ImageOps.Img],
      filters, fx = 3, fy = 3)
    val pooled = ImageOps.pool(
      ImageOps.symmetricRectify(conv.toDF(), alpha = 0.0), stride = 3, op = "sum")
    val feats = ImageOps.vectorize(pooled, out = "features")
      .join(imgs.select($"id", $"label"), "id")
    assert(feats.select(size($"features")).head().getInt(0) == 64)

    // --- one-vs-rest block least squares on keystone-style +/-1
    // indicators, held-out split by id
    val withInd = ClassLabelIndicators("label", "ind", 3)
    val train = withInd(feats.where($"id" % 5 =!= 0))
    val test = withInd(feats.where($"id" % 5 === 0))
    // --- AutoCache owns the multi-pass fit input: three one-vs-rest
    // solver fits re-read `train`, so the cost model should persist it —
    // and the decision must be visible END-TO-END in the physical story:
    // with the cache accepted, every solver pass plans as an
    // InMemoryRelation scan; with it declined (zero budget), the same
    // downstream plan must NOT contain one. This is the reference's
    // AutoCacheRule contract exercised inside a declared capstone, both
    // directions.
    def fitInputPlan(): String = train
      .withColumn("y0", element_at($"ind", 1))
      .queryExecution.optimizedPlan.toString
    val declined = AutoCache.selectCacheSet(
      Seq(AutoCache.Candidate(train, uses = 3)), memBudgetBytes = 1L).handles.head
    assert(!declined.cached, "zero budget must decline the cache")
    assert(!fitInputPlan().contains("InMemoryRelation"),
      "declined decision must leave the fit-input plan uncached")
    declined.release()
    val models = AutoCache.withCached(train, uses = 3) { tr =>
      assert(tr.storageLevel.useMemory,
        "3-consumer in-budget fit input should be cached")
      assert(fitInputPlan().contains("InMemoryRelation"),
        "accepted decision must surface as an InMemoryRelation scan " +
          "in every solver pass's plan")
      (0 until 3).map { k =>
        BlockLeastSquaresEst("features", s"y$k", s"score$k",
          blockSize = 32, numIter = 2, lambda = 1e-4)
          .fit(tr.withColumn(s"y$k", element_at($"ind", k + 1)))
      }
    }
    assert(!fitInputPlan().contains("InMemoryRelation"),
      "withCached must release the persist when the fitting scope ends")
    val scored = models.foldLeft(test)((d, m) => m(d))
      .withColumn("scores", array($"score0", $"score1", $"score2"))
    val pred = MaxClassifier("scores", "cls")(scored)

    val total = pred.count().toDouble
    val correct = pred.where($"cls" === $"label").count().toDouble
    val acc = correct / total
    assert(acc >= 0.9,
      s"capstone held-out accuracy $acc below 0.9 floor ($correct/$total)")
  }
}
