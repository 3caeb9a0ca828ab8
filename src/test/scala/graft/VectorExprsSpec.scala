package graft

import org.apache.spark.sql.functions._

/** Native codegen'd vector kernels (graft.functions.VectorExprs) vs the
  * interpreted higher-order-function spellings: must agree bit-for-bit
  * (same left-to-right summation), and must survive codegen compilation. */
class VectorExprsSpec extends GraftSuite {

  import spark.implicits._

  private lazy val vecs = spark.read.parquet(s"$sf/embeddings.parquet")
    .select($"vec_id", transform($"embedding", x => x.cast("double")).as("v"))

  test("graft_dot is bit-identical to aggregate(zip_with(...)) self-dot") {
    val cmp = vecs.select(
      call_function("graft_dot", $"v", $"v").as("native"),
      aggregate(zip_with($"v", $"v", (x, y) => x * y), lit(0.0),
        (a, x) => a + x).as("hof"))
    assert(cmp.where($"native" =!= $"hof").count() == 0)
  }

  test("graft_norm is bit-identical to sqrt(aggregate(transform(...)))") {
    val cmp = vecs.select(
      call_function("graft_norm", $"v").as("native"),
      sqrt(aggregate(transform($"v", x => x * x), lit(0.0),
        (a, x) => a + x)).as("hof"))
    assert(cmp.where($"native" =!= $"hof").count() == 0)
  }

  test("graft_sqdist is bit-identical to the aggregate+pow spelling") {
    val w = array((1 to 64).map(i => lit(i * 0.01 - 0.32)): _*)
    val cmp = vecs.select(
      call_function("graft_sqdist", $"v", w).as("native"),
      aggregate(sequence(lit(1), lit(64)), lit(0.0), (acc, i) =>
        acc + pow(element_at($"v", i) - (i.cast("double") * 0.01 - 0.32), 2))
        .as("hof"))
    assert(cmp.where($"native" =!= $"hof").count() == 0)
  }

  test("kernels compute correct values on known vectors") {
    val df = Seq((Array(1.0, 2.0, 3.0), Array(4.0, 5.0, 6.0))).toDF("a", "b")
    val r = df.select(
      call_function("graft_dot", $"a", $"b").as("d"),
      call_function("graft_norm", $"a").as("n"),
      call_function("graft_sqdist", $"a", $"b").as("s")).head()
    assert(r.getDouble(0) == 32.0)
    assert(math.abs(r.getDouble(1) - math.sqrt(14.0)) < 1e-15)
    assert(r.getDouble(2) == 27.0)
  }

  test("graft_top_cells equals the struct/array_sort spelling it replaced") {
    // the IVF assignment/probe kernel vs the per-centroid struct
    // spelling whose fused method grows linearly in nlist (the JIT
    // cliff): same distances (left-to-right sqdist), same ordering
    // contract (ascending (distance, id), ties to the lower id)
    val rng = new scala.util.Random(7)
    val cents = Array.fill(13)(Array.fill(64)(rng.nextGaussian()))
    val centsLit = array(cents.toIndexedSeq.map(c => lit(c)): _*)
    def oldSpelling(v: org.apache.spark.sql.Column, nprobe: Int) = {
      val dists = cents.zipWithIndex.map { case (c, i) =>
        struct(call_function("graft_sqdist", v, lit(c)).as("d"),
          lit(i).as("c"))
      }
      transform(slice(array_sort(array(dists.toIndexedSeq: _*)), 1, nprobe),
        s => s.getField("c"))
    }
    val cmp = vecs.select(
      call_function("graft_top_cells", $"v", centsLit, lit(5)).as("kernel"),
      oldSpelling($"v", 5).as("old"))
    assert(cmp.where($"kernel" =!= $"old").count() == 0,
      "kernel and struct spelling must rank identically")
    // exact ties break to the lower id: duplicate centroids
    val dup = Array(Array(1.0, 2.0), Array(0.0, 0.0), Array(1.0, 2.0))
    val dupLit = array(dup.toIndexedSeq.map(c => lit(c)): _*)
    val tied = Seq(Tuple1(Array(1.0, 2.0))).toDF("x")
      .select(call_function("graft_top_cells", $"x", dupLit, lit(3)))
      .head().getSeq[Int](0)
    assert(tied == Seq(0, 2, 1), s"ties must break to the lower id: $tied")
    // nprobe past nlist truncates; null input => null output
    val all = Seq(Tuple1(Array(0.0, 0.0))).toDF("x")
      .select(call_function("graft_top_cells", $"x", dupLit, lit(99)))
      .head().getSeq[Int](0)
    assert(all.size == 3)
    val nullIn = Seq(Tuple1(Option.empty[Array[Double]])).toDF("x")
      .select(call_function("graft_top_cells", $"x", dupLit, lit(1)))
    assert(nullIn.head().isNullAt(0))
    // constant-size generated code: the projection must carry the
    // whole-stage codegen marker even at a width where the struct
    // spelling's fused method would be enormous
    val wide = array((0 until 200).map(k =>
      lit(Array.tabulate(64)(i => (k * 31 + i * 17) % 19 / 19.0))): _*)
    val plan = spark.read.parquet(s"$sf/embeddings.parquet")
      .select($"embedding".cast("array<double>").as("v"))
      .select(call_function("graft_top_cells", $"v", wide, lit(4)))
      .queryExecution.executedPlan.toString
    val line = plan.linesIterator.find(_.contains("graft_top_cells")).get
    assert(line.trim.startsWith("*("), s"expected codegen'd Project in:\n$plan")
  }

  test("wrong-typed inputs fail at analysis with graft-named messages") {
    // AbstractDataType is private[sql] in Spark 4, so the kernels cannot
    // ride the ExpectsInputTypes auto-cast path — call sites cast. A
    // WRONG type must therefore fail at analysis with a named message,
    // not compile broken generated Java (a long nprobe turns
    // Math.min(long, int) into a Janino error) and then throw a
    // context-free ClassCastException from the interpreted fallback.
    val df = Seq((Array(1.0f, 2.0f), Array(1.0, 2.0), 3L)).toDF("f", "d", "n")
    val e1 = intercept[org.apache.spark.sql.AnalysisException] {
      df.select(call_function("graft_dot", $"f", $"d")).head()
    }
    assert(e1.getMessage.contains(
      "graft_dot expects left to be array<double>, got array<float>"),
      e1.getMessage)
    val e2 = intercept[org.apache.spark.sql.AnalysisException] {
      df.select(call_function("graft_norm", $"n")).head()
    }
    assert(e2.getMessage.contains(
      "graft_norm expects the input to be array<double>"), e2.getMessage)
    val cents = array(lit(Array(0.0, 0.0)))
    val e3 = intercept[org.apache.spark.sql.AnalysisException] {
      df.select(call_function("graft_top_cells", $"d", cents, lit(3L))).head()
    }
    assert(e3.getMessage.contains(
      "graft_top_cells expects nprobe to be int, got bigint"), e3.getMessage)
    val e4 = intercept[org.apache.spark.sql.AnalysisException] {
      df.select(call_function("graft_top_cells", $"d", $"d", lit(1))).head()
    }
    assert(e4.getMessage.contains(
      "graft_top_cells expects centroids to be array<array<double>>"),
      e4.getMessage)
    val e5 = intercept[org.apache.spark.sql.AnalysisException] {
      df.select(call_function("graft_centered_affine", $"d", typedlit(Array(1.0f)),
        typedlit(Array(Array(1.0))))).head()
    }
    assert(e5.getMessage.contains(
      "graft_centered_affine expects mu to be array<double>"), e5.getMessage)
    // the sanctioned spelling — an explicit cast — still works
    assert(df.select(call_function("graft_dot",
      $"f".cast("array<double>"), $"d")).head().getDouble(0) == 5.0)
  }

  test("kernels handle nulls and stay inside whole-stage codegen") {
    val df = Seq(
      (Some(Array(1.0, 2.0)), Some(Array(3.0, 4.0))),
      (None, Some(Array(1.0, 1.0)))).toDF("a", "b")
    val out = df.select(call_function("graft_dot", $"a", $"b").as("d")).collect()
    assert(out(0).getDouble(0) == 11.0)
    assert(out(1).isNullAt(0), "null input => null output")
    // the projection containing graft_dot must carry the whole-stage
    // codegen marker (`*(stage) Project [graft_dot(...)`)
    val plan = vecs.select(call_function("graft_dot", $"v", $"v"))
      .queryExecution.executedPlan.toString
    val dotLine = plan.linesIterator.find(_.contains("graft_dot")).get
    assert(dotLine.trim.startsWith("*("), s"expected codegen'd Project in:\n$plan")
  }

  /** Raw bits of every element, so -0.0 vs +0.0 and NaN payloads count. */
  private def bits(r: org.apache.spark.sql.Row, i: Int): Seq[Long] =
    r.getSeq[Double](i).map(java.lang.Double.doubleToRawLongBits)

  /** `body` under the interpreted evaluators: no whole-stage codegen and
    * no per-expression codegen (SQLConf's internal NO_CODEGEN mode). */
  private def interpreted[T](body: => T): T = {
    val keys = Seq("spark.sql.codegen.wholeStage" -> "false",
      "spark.sql.codegen.factoryMode" -> "NO_CODEGEN")
    val old = keys.map { case (k, _) => k -> spark.conf.getOption(k) }
    keys.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally old.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("graft_affine is bit-identical to the per-output graft_dot spelling") {
    val rng = new scala.util.Random(11)
    val w = Array.fill(13)(Array.fill(64)(rng.nextGaussian()))
    val b = Array.fill(13)(rng.nextDouble() * 2 * math.Pi)
    val amp = math.sqrt(2.0 / 13)
    val dots = w.toIndexedSeq.map(r => call_function("graft_dot", $"v", lit(r)))
    val cmp = vecs.select(
      call_function("graft_affine", $"v", typedlit(w),
        typedlit(new Array[Double](13))).as("kernel0"),
      array(dots: _*).as("old0"),
      call_function("graft_affine", $"v", typedlit(w), typedlit(b)).as("kernelB"),
      array(dots.zip(b).map { case (d, bj) => d + bj }: _*).as("oldB"),
      call_function("graft_affine", $"v", typedlit(w), typedlit(b), lit(amp))
        .as("kernelCos"),
      array(dots.zip(b).map { case (d, bj) => cos(d + bj) * amp }: _*).as("oldCos"))
    val codegen = cmp.collect()
    val noCodegen = interpreted(cmp.collect())
    assert(codegen.nonEmpty)
    codegen.zip(noCodegen).foreach { case (r, ri) =>
      Seq(0, 2, 4).foreach { k =>
        assert(bits(r, k) == bits(r, k + 1), s"kernel != old spelling in $r")
        assert(bits(r, k) == bits(ri, k), "codegen and NO_CODEGEN disagree")
      }
    }
    // known values; null input => null output
    val df = Seq(Some(Array(1.0, 2.0, 3.0)), None).toDF("x")
    val out = df.select(call_function("graft_affine", $"x",
      typedlit(Array(Array(1.0, 0.0, 0.0), Array(0.0, 1.0, 1.0))),
      typedlit(Array(0.5, -1.0)))).collect()
    assert(out(0).getSeq[Double](0) == Seq(1.5, 4.0))
    assert(out(1).isNullAt(0))
    // four outputs share each pass over x: every remainder of the
    // output count mod 4 takes the unroll's tail, and a 7-wide input
    // is not a multiple of four either
    val x7 = vecs.select(slice($"v", 1, 7).as("v"))
    for ((input, k) <- Seq(vecs -> 1, vecs -> 2, vecs -> 6, x7 -> 3, x7 -> 5, x7 -> 8)) {
      val width = if (input eq x7) 7 else 64
      val wk = Array.fill(k)(Array.fill(width)(rng.nextGaussian()))
      val sel = input.select(
        call_function("graft_affine", $"v", typedlit(wk),
          typedlit(new Array[Double](k))).as("kernel"),
        array(wk.toIndexedSeq.map(r => call_function("graft_dot", $"v", lit(r))): _*)
          .as("old"))
      val got = sel.collect()
      val gotInterpreted = interpreted(sel.collect())
      got.zip(gotInterpreted).foreach { case (r, ri) =>
        assert(bits(r, 0) == bits(r, 1), s"kernel != old spelling at k=$k in $r")
        assert(bits(r, 0) == bits(ri, 0), s"codegen and NO_CODEGEN disagree at k=$k")
      }
    }
    // constant-size generated code: fused at any number of outputs
    val wide = typedlit(Array.fill(1024)(Array.fill(64)(rng.nextGaussian())))
    val plan = spark.read.parquet(s"$sf/embeddings.parquet")
      .select($"embedding".cast("array<double>").as("v"))
      .select(call_function("graft_affine", $"v", wide,
        typedlit(new Array[Double](1024))))
      .queryExecution.executedPlan.toString
    val line = plan.linesIterator.find(_.contains("graft_affine")).get
    assert(line.trim.startsWith("*("), s"expected codegen'd Project in:\n$plan")
  }

  test("graft_affine raises on a row whose width is not W's, codegen or not") {
    val w = typedlit(Array(Array(1.0, 0.0, 0.0), Array(0.0, 1.0, 1.0)))
    val b = typedlit(Array(0.5, -1.0))
    for (x <- Seq(Array(1.0, 2.0), Array(1.0, 2.0, 3.0, 4.0))) {
      // an RDD-backed frame, so the projection runs as generated code
      // rather than being folded into a local relation by the optimizer;
      // each mode plans its own frame
      def bad = spark.sparkContext.parallelize(Seq(Tuple1(x)), 1).toDF("x")
        .select(call_function("graft_affine", $"x", w, b))
      val plan = bad.queryExecution.executedPlan.toString
      assert(plan.linesIterator.exists(l =>
        l.contains("graft_affine") && l.trim.startsWith("*(")), plan)
      val want = s"graft_affine expects x to have 3 entries, got ${x.length}"
      val codegen = causeChain(intercept[Exception](bad.collect()))
      assert(codegen.contains(want), codegen)
      val noCodegen = causeChain(intercept[Exception](interpreted(bad.collect())))
      assert(noCodegen.contains(want), noCodegen)
    }
  }

  test("graft_centered_affine is bit-identical to the zip_with + graft_dot spelling") {
    // the ZCA/PCA projection kernel vs the per-output spelling it
    // replaced, whose zip_with centering was CodegenFallback re-run per
    // output; 13 outputs leave a tail after the four-output unroll
    val rng = new scala.util.Random(5)
    val mu = Array.tabulate(64)(i => math.sin(i * 0.17))
    val w = Array.fill(13)(Array.fill(64)(rng.nextGaussian()))
    val centered = zip_with($"v", lit(mu), (x, m) => x - m)
    val cmp = vecs.select(
      call_function("graft_centered_affine", $"v", lit(mu), typedlit(w)).as("kernel"),
      array(w.toIndexedSeq.map(r => call_function("graft_dot", centered, lit(r))): _*)
        .as("old"))
    val codegen = cmp.collect()
    val noCodegen = interpreted(cmp.collect())
    assert(codegen.nonEmpty)
    codegen.zip(noCodegen).foreach { case (r, ri) =>
      assert(bits(r, 0) == bits(r, 1), s"kernel != old spelling in $r")
      assert(bits(r, 0) == bits(ri, 0), "codegen and NO_CODEGEN disagree")
    }
    // known values: (1-1)*10 + (2-1)*20 + (3-2)*30 = 50 and
    // (1-1)*1 + (2-1)*0 + (3-2)*(-1) = -1; null input => null output
    val df = Seq(Some(Array(1.0, 2.0, 3.0)), None).toDF("x")
    val known = typedlit(Array(Array(10.0, 20.0, 30.0), Array(1.0, 0.0, -1.0)))
    val out = df.select(call_function("graft_centered_affine", $"x",
      lit(Array(1.0, 1.0, 2.0)), known)).collect()
    assert(out(0).getSeq[Double](0) == Seq(50.0, -1.0))
    assert(out(1).isNullAt(0))
    // a row whose width is not |mu| raises instead of projecting garbage
    val short = Seq(Array(1.0, 2.0)).toDF("x").select(call_function(
      "graft_centered_affine", $"x", lit(Array(1.0, 1.0, 2.0)), known))
    val e = intercept[Exception](short.collect())
    val msgs = Iterator.iterate(e: Throwable)(_.getCause).takeWhile(_ != null)
      .map(t => String.valueOf(t.getMessage)).mkString(" ")
    assert(msgs.contains("graft_centered_affine expects x to have 3 entries, got 2"),
      msgs)
    // the projection carries the whole-stage codegen marker at a width
    // where d per-output expressions would pass the huge-method limit
    val wide = typedlit(Array.fill(256)(Array.fill(64)(rng.nextGaussian())))
    val plan = spark.read.parquet(s"$sf/embeddings.parquet")
      .select($"embedding".cast("array<double>").as("v"))
      .select(call_function("graft_centered_affine", $"v", lit(mu), wide))
      .queryExecution.executedPlan.toString
    val line = plan.linesIterator.find(_.contains("graft_centered_affine")).get
    assert(line.trim.startsWith("*("), s"expected codegen'd Project in:\n$plan")
  }

  test("graft_vocab_counts equals the filter/element_at map spelling") {
    val vocab = Seq("a", "b", "c d", "e", "zz")
    val docs = Seq(
      Seq("a", "a", "x", null, "e"),
      Seq.empty[String],
      Seq("c d", "c", "d", "b", "b", "b"),
      Seq[String](null, null),
      Seq("zz", "q", "zz", "a")).toDF("t")
    val vocabMap = map(vocab.zipWithIndex.flatMap { case (t, i) =>
      Seq(lit(t), lit(i)) }: _*)
    val idx = filter(transform($"t", tok => element_at(vocabMap, tok)),
      x => x.isNotNull)
    val cmp = docs.select(
      call_function("graft_vocab_counts", $"t", typedlit(vocab)).as("kernel"),
      transform(sequence(lit(0), lit(vocab.size - 1)),
        j => size(filter(idx, x => x === j)).cast("double")).as("old"))
    val codegen = cmp.collect()
    val noCodegen = interpreted(cmp.collect())
    codegen.zip(noCodegen).foreach { case (r, ri) =>
      assert(bits(r, 0) == bits(r, 1), s"kernel != old spelling in $r")
      assert(bits(r, 0) == bits(ri, 0), "codegen and NO_CODEGEN disagree")
    }
    assert(codegen.map(_.getSeq[Double](0)).toSeq == Seq(
      Seq(2.0, 0.0, 0.0, 1.0, 0.0), Seq.fill(5)(0.0), Seq(0.0, 3.0, 1.0, 0.0, 0.0),
      Seq.fill(5)(0.0), Seq(1.0, 0.0, 0.0, 0.0, 2.0)))
    // an empty vocabulary gives empty vectors; a null token array, null
    val empty = Seq(Some(Seq("a")), None).toDF("t")
      .select(call_function("graft_vocab_counts", $"t", typedlit(Seq.empty[String])),
        call_function("graft_vocab_counts", $"t", typedlit(vocab)))
      .collect()
    assert(empty(0).getSeq[Double](0).isEmpty)
    assert(empty(1).isNullAt(1))
  }

  test("model kernels reject non-literal or mistyped models at analysis") {
    val df = Seq((Array(1.0, 2.0), Array(1.0f), Seq("a"))).toDF("d", "f", "t")
    def fails(c: org.apache.spark.sql.Column, msg: String): Unit = {
      val e = intercept[org.apache.spark.sql.AnalysisException](df.select(c).head())
      assert(e.getMessage.contains(msg), e.getMessage)
    }
    val w = typedlit(Array(Array(1.0, 2.0)))
    val b = typedlit(Array(0.0))
    fails(call_function("graft_affine", $"d", array($"d"), b),
      "graft_affine expects W to be a foldable literal")
    fails(call_function("graft_affine", $"d", typedlit(Array(Array(1, 2))), b),
      "graft_affine expects W to be array<array<double>>, got array<array<int>>")
    fails(call_function("graft_affine", $"f", w, b),
      "graft_affine expects x to be array<double>, got array<float>")
    fails(call_function("graft_affine", $"d", w, $"d"),
      "graft_affine expects b to be a foldable literal")
    fails(call_function("graft_affine", $"d", w, typedlit(Array(0.0, 1.0))),
      "graft_affine expects b to have one entry per row of W (1), got 2")
    fails(call_function("graft_affine", $"d", w, b, lit(1)),
      "graft_affine expects amp to be double, got int")
    val ragged = typedlit(Array(Array(1.0, 2.0), Array(1.0)))
    fails(call_function("graft_affine", $"d", ragged, typedlit(Array(0.0, 0.0))),
      "graft_affine expects W to be rectangular: row 1 has 1 entries, row 0 has 2")
    val mu = typedlit(Array(0.0, 0.0))
    fails(call_function("graft_centered_affine", $"d", $"d", w),
      "graft_centered_affine expects mu to be a foldable literal")
    fails(call_function("graft_centered_affine", $"d", mu, array($"d")),
      "graft_centered_affine expects W to be a foldable literal")
    fails(call_function("graft_centered_affine", $"d",
      array(lit(0.0), lit(null).cast("double")), w),
      "graft_centered_affine mu must not contain NULL entries")
    fails(call_function("graft_centered_affine", $"d", mu,
      array(array(lit(1.0), lit(null).cast("double")))),
      "graft_centered_affine W must not contain NULL entries")
    fails(call_function("graft_centered_affine", $"d", typedlit(Array(0.0)), w),
      "graft_centered_affine expects mu to have one entry per column of W (2), got 1")
    fails(call_function("graft_centered_affine", $"d", mu, ragged),
      "graft_centered_affine expects W to be rectangular: row 1 has 1 entries, row 0 has 2")
    fails(call_function("graft_vocab_counts", $"t", $"t"),
      "graft_vocab_counts expects vocab to be a foldable literal")
    fails(call_function("graft_vocab_counts", $"d", typedlit(Seq("a"))),
      "graft_vocab_counts expects tokens to be array<string>, got array<double>")
    fails(call_function("graft_vocab_counts", $"t", typedlit(Seq("a", null))),
      "graft_vocab_counts vocab must not contain NULL entries")
    fails(call_function("graft_vocab_counts", $"t", typedlit(Seq("a", "a"))),
      "graft_vocab_counts vocab entries must be distinct")
  }
}
