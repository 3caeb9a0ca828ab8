package graft

import org.apache.spark.sql.functions._
import graft.ml.FisherVector
import graft.ml.FisherVector.FisherVectorEst

/** Fisher-vector encoding vs hand-computed expectations on a tiny
  * deterministic mixture, plus the fitted-GMM end-to-end path. */
class FisherVectorSpec extends GraftSuite {

  import spark.implicits._

  // two well-separated 2-dim components, equal weights, unit sigmas
  private val weights = Array(0.5, 0.5)
  private val means = Array(Array(0.0, 0.0), Array(10.0, 10.0))
  private val sigmas = Array(Array(1.0, 1.0), Array(1.0, 1.0))

  private def localFv(descs: Seq[Array[Double]]): Array[Double] = {
    val k = 2; val d = 2; val t = descs.size
    val fv = new Array[Double](2 * k * d)
    descs.foreach { x =>
      val logPs = (0 until k).map { c =>
        val quad = (0 until d).map { i =>
          val z = (x(i) - means(c)(i)) / sigmas(c)(i); z * z
        }.sum
        math.log(weights(c)) - 0.5 * d * math.log(2 * math.Pi) - 0.5 * quad
      }
      val mx = logPs.max
      val se = logPs.map(lp => math.exp(lp - mx)).sum
      val g = logPs.map(lp => math.exp(lp - mx) / se)
      for (c <- 0 until k; i <- 0 until d) {
        val z = (x(i) - means(c)(i)) / sigmas(c)(i)
        fv((2 * c) * d + i) += g(c) * z / (t * math.sqrt(weights(c)))
        fv((2 * c + 1) * d + i) += g(c) * (z * z - 1) / (t * math.sqrt(2 * weights(c)))
      }
    }
    fv
  }

  test("fromParams matches the hand-computed Fisher vector") {
    val descs = Seq(
      (1L, Array(0.5, -0.5)), (1L, Array(1.0, 0.2)), (1L, Array(9.5, 10.5)),
      (2L, Array(10.0, 9.0)))
    val df = descs.toDF("img", "desc")
    val enc = FisherVector.fromParams("img", "desc", "fv", weights, means, sigmas)
    val got = enc(df).collect().map(r => r.getLong(0) -> dArr(r, "fv")).toMap
    assert(got(1L).size == 2 * 2 * 2)
    val exp1 = localFv(descs.filter(_._1 == 1L).map(_._2))
    got(1L).zip(exp1).zipWithIndex.foreach { case ((g, e), i) =>
      assert(math.abs(g - e) < 1e-9, s"group 1 fv[$i]: $g vs $e")
    }
    val exp2 = localFv(descs.filter(_._1 == 2L).map(_._2))
    got(2L).zip(exp2).foreach { case (g, e) => assert(math.abs(g - e) < 1e-9) }
  }

  test("fromParamsBatched (gemm path) agrees with the expression path to 1e-8") {
    val descs = Seq(
      (1L, Array(0.5, -0.5)), (1L, Array(1.0, 0.2)), (1L, Array(9.5, 10.5)),
      (2L, Array(10.0, 9.0)), (2L, Array(0.1, 0.3)), (3L, Array(5.0, 5.0)))
    val df = descs.toDF("img", "desc").repartition(4) // partials must merge
    val expr = FisherVector.fromParams("img", "desc", "fv",
      weights, means, sigmas)(df)
      .collect().map(r => r.getLong(0) -> dArr(r, "fv")).toMap
    val gemm = FisherVector.fromParamsBatched("img", "desc", "fv",
      weights, means, sigmas)(df)
      .collect().map(r => r.getLong(0) -> dArr(r, "fv")).toMap
    assert(gemm.keySet == expr.keySet)
    gemm.foreach { case (g, bfv) =>
      val efv = expr(g)
      assert(bfv.size == efv.size)
      bfv.zip(efv).zipWithIndex.foreach { case ((b, x), i) =>
        assert(math.abs(b - x) < 1e-8, s"group $g fv[$i]: gemm $b vs expr $x")
      }
    }
    // a null descriptor, and one wider or narrower than the model's D,
    // raise a named error (not a bare NullPointerException, a silent
    // truncation or an ArrayIndexOutOfBoundsException)
    def raised(bad: Array[Double]): String = causeChain(intercept[Exception](
      FisherVector.fromParamsBatched("img", "desc", "fv", weights, means, sigmas)(
        (descs :+ (4L -> bad)).toDF("img", "desc").repartition(4)).collect()))
    val enc = "FisherVector.fromParamsBatched"
    val nul = raised(null)
    assert(nul.contains(s"$enc: a descriptor row has a null descriptor array"), nul)
    Seq(Array(1.0, 2.0, 3.0), Array(1.0)).foreach { bad =>
      val msg = raised(bad)
      assert(msg.contains(s"$enc: ragged descriptor frame, a row has " +
        s"${bad.length} entries where another has 2"), msg)
    }
  }

  test("FisherVectorEst fits a GMM and encodes 2KD-dim vectors end to end") {
    // descriptors: 8 per image from the embeddings table, sliced 8-dim
    val descs = spark.read.parquet(s"$sf/embeddings.parquet")
      .select(($"vec_id" % 50).as("img"),
        transform(slice($"embedding", 1, 8), x => x.cast("double")).as("desc"))
    val enc = FisherVectorEst("img", "desc", "fv", k = 3).fit(descs)
    val out = enc(descs)
    assert(out.count() == 50)
    assert(out.select(size($"fv")).distinct().head().getInt(0) == 2 * 3 * 8)
    val norms = out.select(call_function("graft_norm", $"fv").as("n"))
    assert(norms.where($"n" <= 0 || $"n".isNull).count() == 0,
      "every Fisher vector must be finite and nonzero")
  }

  test("quantized mode is bit-identical under different partitionings") {
    val e = spark.read.parquet(s"$sf/embeddings.parquet")
      .select($"label", $"embedding")
    def encode(df: org.apache.spark.sql.DataFrame): Map[(Long, Int), Double] = {
      val enc = FisherVector.fromParams("label", "embedding", "fv",
        Array(0.4, 0.6),
        Array(Array.tabulate(64)(j => j / 128.0),
          Array.tabulate(64)(j => 0.25 + j / 256.0)),
        Array(Array.fill(64)(0.5), Array.fill(64)(0.5)),
        quantizeUnits = Some(1000000000L))
      enc(df).collect().flatMap { r =>
        dArr(r, "fv").zipWithIndex.map { case (v, i) =>
          (r.getAs[Int]("label").toLong, i) -> v
        }
      }.toMap
    }
    val a = encode(e.repartition(1))
    val b = encode(e.repartition(13))
    // exact long sums: no partition-order drift at all, not even ulps
    assert(a == b, "fixed-point aggregation must be partitioning-invariant")
    // and quantization stays within its stated error of the float path
    val exact = {
      val enc = FisherVector.fromParams("label", "embedding", "fv",
        Array(0.4, 0.6),
        Array(Array.tabulate(64)(j => j / 128.0),
          Array.tabulate(64)(j => 0.25 + j / 256.0)),
        Array(Array.fill(64)(0.5), Array.fill(64)(0.5)))
      enc(e).collect().flatMap { r =>
        dArr(r, "fv").zipWithIndex.map { case (v, i) =>
          (r.getAs[Int]("label").toLong, i) -> v
        }
      }.toMap
    }
    a.foreach { case (k, v) =>
      assert(math.abs(v - exact(k)) < 1e-7, s"$k: quantized $v vs exact ${exact(k)}")
    }
  }
}
