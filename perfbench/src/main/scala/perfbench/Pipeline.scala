package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.col

import graft.ml.LearningOps.CosineRandomFeaturesNode
import graft.ml.LocalServer
import graft.ml.workflow._

/** `pipeline`: two KeystoneML-shaped chains, each fitted on a training
  * split, noop-scored on the held-out split, then compiled with
  * [[LocalServer]] and served one datum at a time.
  *
  *  - dense (TIMIT shape): CosineRandomFeaturesNode -> ClassLabelIndicators
  *    -> LeastSquaresMultiEst (cost-model solver dispatch) -> MaxClassifier;
  *  - text (Amazon shape): Trim -> LowerCase -> Tokenize -> NGrams(1,2) ->
  *    CommonSparseFeatures(k) -> NaiveBayesEst.
  *
  * Sizes: `features` (random features), `k`
  * (vocabulary), `serve-n` and `serve-text-n` (served data, each after as
  * many untimed ones). The correctness pass, outside the timed region,
  * scores both held-out splits again and checks the accuracy floors and
  * that every served datum equals its batch-scored row. */
final class Pipeline(h: Harness, a: Map[String, String]) {
  private val dir = a("data")
  private def int(k: String) = a(k).toInt

  private def read(t: String): DataFrame = h.spark.read.parquet(s"$dir/$t.parquet")

  def run(record: mutable.LinkedHashMap[String, Any]): Unit = {
    val spark = h.spark
    val Seq(denseTrain, denseTest, textTrain, textTest) =
      Seq("dense_train", "dense_test", "text_train", "text_test").map(read)
    val denseRows = denseTest.orderBy("id").collect().toSeq
    val textRows = textTest.orderBy("id").collect().toSeq

    val crf = CosineRandomFeaturesNode("x", "rf", dim = denseRows.head.getAs[Seq[Double]]("x").size,
      numFeatures = int("features"), gamma = 0.05, seed = 7L)
    val textFeatures = Trim("text", "text").andThen(LowerCase("text", "text"))
      .andThen(Tokenize("text", "tokens")).andThen(NGrams("tokens", "grams", 1, 2))
    def fitDense(lsq: LeastSquaresMultiEst, train: DataFrame): Transformer =
      lsq.fit(ClassLabelIndicators("label", "ind", 10)(crf(train)))
    def fitText(train: DataFrame): Transformer =
      textFeatures.andThen(CommonSparseFeatures("grams", "features", int("k")), train)
        .andThen(NaiveBayesEst("features", "label", "pred"), train)
    val lsq = LeastSquaresMultiEst("rf", "ind", "scores", regParam = 1e-3)
    // warm-up, after set-up and untimed: both chains fitted once on the
    // held-out splits, the same plan shapes as the timed fits, so those
    // run with JIT and the codegen cache warm
    fitDense(lsq.copy(), denseTest)
    fitText(textTest)
    h.cleanup()

    val dense = h.op("dense.fit", "fit") { build =>
      val model = build("ml.fit")(fitDense(lsq, denseTrain)).asInstanceOf[Transformer]
      crf.andThen(model).andThen(MaxClassifier("scores", "pred"))
    }
    val text = h.op("text.fit", "fit") { build =>
      build("ml.fit")(fitText(textTrain)).asInstanceOf[Transformer]
    }
    record("chosen_solver") = Option(lsq.chosenSolver).getOrElse("")

    def compile(name: String, chain: Option[Transformer], schema: DataFrame) =
      chain.flatMap(c => h.op(name, "compile") { build =>
        build("ml.serve_compile")(LocalServer.compile(c, spark, schema.schema))
          .asInstanceOf[LocalServer]
      })
    val denseServer = compile("dense.compile", dense, denseTest)
    val textServer = compile("text.compile", text, textTest)

    def score(name: String, chain: Option[Transformer], test: DataFrame): Unit =
      chain.foreach(c => h.op(name, "score") { build =>
        val df = build("ml.apply")(c(test)).asInstanceOf[DataFrame]
        h.tracer.span("force")(h.noop(df))
      })
    score("dense.score", dense, denseTest)
    score("text.score", text, textTest)

    /** Serve `n` data cycling over `rows` after `n` untimed ones (so the
      * timed ones run JIT-compiled); returns (id, prediction) per served
      * datum and records latencies. */
    def serve(name: String, server: Option[LocalServer], rows: Seq[Row], n: Int,
        pred: Row => Double): Seq[(Long, Double)] = server.toSeq.flatMap { s =>
      (0 until n).foreach(i => s(rows(i % rows.size)))
      val lat = new Array[Double](n)
      val got = h.op(name, "serve") { _ =>
        (0 until n).map { i =>
          val row = rows(i % rows.size)
          val t0 = System.nanoTime()
          val out = h.tracer.span("ml.serve")(s(row))
          lat(i) = (System.nanoTime() - t0) / 1e6
          (row.getLong(0), pred(out))
        }
      }.getOrElse(Nil)
      record(s"${name}_latency_ms") = if (got.isEmpty) Nil else lat.toSeq
      got
    }
    val servedDense = serve("dense.serve", denseServer, denseRows, int("serve-n"),
      r => r.getAs[Long]("pred").toDouble)
    val servedText = serve("text.serve", textServer, textRows, int("serve-text-n"),
      r => r.getAs[Double]("pred"))

    if (h.tracer.enabled) {
      // one featurize-only pass over each training set: the denominator of
      // ml.featurize_passes (executor time of the fit / of this pass)
      h.op("dense.featurize_pass", "probe")(_ => h.noop(crf(denseTrain)))
      h.op("text.featurize_pass", "probe")(_ => h.noop(textFeatures(textTrain)))
    }

    // correctness, outside the timed region
    def check(name: String, chain: Option[Transformer], test: DataFrame,
        served: Seq[(Long, Double)], floor: Double, pred: Row => Double): Unit =
      chain.foreach { c =>
        val rows = c(test).select(col("id"), col("label"), col("pred")).collect()
        val batch = rows.map(r => r.getLong(0) -> pred(r)).toMap
        val acc = rows.count(r => pred(r) == r.get(1).toString.toDouble).toDouble / rows.length
        record(s"accuracy_${name}") = acc
        record(s"accuracy_${name}_rows") = rows.length
        if (acc < floor)
          h.fail(s"$name.score", f"accuracy $acc%.4f below the floor $floor")
        val bad = served.count { case (id, p) => batch.get(id) != Some(p) }
        if (bad > 0)
          h.fail(s"$name.serve", s"$bad served data differ from batch scoring")
      }
    check("dense", dense, denseTest, servedDense, a("floor-dense").toDouble,
      r => r.getAs[Long]("pred").toDouble)
    check("text", text, textTest, servedText, a("floor-text").toDouble,
      r => r.getAs[Double]("pred"))
  }
}
