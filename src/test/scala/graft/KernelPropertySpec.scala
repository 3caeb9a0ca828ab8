package graft

import org.scalacheck.{Gen, Prop}
import org.apache.spark.unsafe.types.UTF8String

import graft.functions.TextKernels
import graft.ops.Similarity

/** ScalaCheck properties of the round-8 kernels — pure-JVM laws that do
  * not depend on a Spark session, so they fuzz far wider input spaces
  * than the fixture corpus:
  *  - `TextKernels.bpe` against a naive repeat-until-fixpoint reference
  *    (canonical per-rule leftmost merging), plus losslessness and the
  *    end-of-word-marker contract, over random words and random rule
  *    tables — including rules that merge INTO the `</w>` marker;
  *  - the SimHash band geometry's pigeonhole recall guarantee: any two
  *    60-bit fingerprints within the declared Hamming radius collide in
  *    at least one 15-bit band (pins the 4×15/radius-3 constants — a
  *    "harmless" geometry change would silently void the guarantee). */
class KernelPropertySpec extends GraftSuite {

  private def bpeTokens(word: String, rules: Seq[(String, String)]): Seq[String] = {
    val arr = TextKernels.bpe(UTF8String.fromString(word),
      rules.map { case (a, b) => Array(a, b) }.toArray)
    (0 until arr.numElements()).map(i => arr.getUTF8String(i).toString)
  }

  /** Naive canonical reference: per rule in order, repeatedly merge the
    * leftmost adjacent occurrence until none remains. */
  private def bpeReference(word: String, rules: Seq[(String, String)]): Seq[String] = {
    var syms = word.map(_.toString) :+ "</w>"
    for ((a, b) <- rules) {
      var changed = true
      while (changed) {
        val i = syms.indices.dropRight(1)
          .find(i => syms(i) == a && syms(i + 1) == b)
        changed = i.isDefined
        i.foreach(i => syms = syms.patch(i, Seq(a + b), 2))
      }
    }
    syms.filterNot(_ == "</w>")
  }

  private val genWord: Gen[String] = for {
    n <- Gen.chooseNum(1, 24)
    cs <- Gen.listOfN(n, Gen.oneOf('a', 'b', 'c', 'd')) // narrow alphabet
  } yield cs.mkString                                   // forces rule collisions

  private val genSym: Gen[String] = Gen.oneOf(
    Gen.oneOf("a", "b", "c", "d"),
    Gen.oneOf("ab", "ba", "cc", "ad", "bc"),
    Gen.const("</w>"))

  private val genRules: Gen[List[(String, String)]] =
    Gen.listOfN(8, Gen.zip(genSym, genSym))
      .map(_.filterNot { case (a, b) => a == "</w>" && b == "</w>" })

  test("graft_bpe equals the canonical repeat-until-fixpoint reference") {
    checkProp(Prop.forAll(genWord, genRules) { (w, rules) =>
      bpeTokens(w, rules) == bpeReference(w, rules)
    }, "bpe == reference")
  }

  test("graft_bpe segmentation is lossless and never emits a bare marker") {
    checkProp(Prop.forAll(genWord, genRules) { (w, rules) =>
      val toks = bpeTokens(w, rules)
      // strip marker text merged into subwords, then compare
      toks.mkString.replace("</w>", "") == w && !toks.contains("</w>")
    }, "bpe lossless + marker contract")
  }

  test("medianOfValueCounts equals the naive expanded-multiset median") {
    // the driver-arm rank selection behind q_outlier_filter's dispatch:
    // 1-based ranks lo=(n+1)/2, hi=n/2+1 over (value asc, count) must
    // equal the plain sorted-expansion median for every parity and tie
    // layout, including counts that put both middle ranks inside one
    // value group
    val gen = for {
      vs <- Gen.nonEmptyListOf(Gen.chooseNum(-50, 50)).map(_.distinct.sorted)
      cs <- Gen.listOfN(vs.size, Gen.chooseNum(1L, 4L))
    } yield vs.map(_.toDouble).zip(cs)
    checkProp(Prop.forAll(gen) { pairs =>
      val expanded = pairs.flatMap { case (v, c) =>
        Seq.fill(c.toInt)(v)
      }.sorted
      val n = expanded.size
      val naive = (expanded((n - 1) / 2) + expanded(n / 2)) / 2.0
      graft.ops.Analytics.medianOfValueCounts(pairs.toArray) == naive
    }, "value-count median == expanded median")
  }

  test("quantileOfValueCounts equals the naive expanded-multiset quantile") {
    // the winsorize driver arm's rank algebra: 0-based h = (n−1)p,
    // vlo/vhi at 1-based ranks floor(h)+1/+2, linear interpolation with
    // the beyond-end vhi coalescing to vlo — must match the plain
    // sorted-expansion quantile at every parity/tie layout and p
    val gen = for {
      vs <- Gen.nonEmptyListOf(Gen.chooseNum(-50, 50)).map(_.distinct.sorted)
      cs <- Gen.listOfN(vs.size, Gen.chooseNum(1L, 4L))
      p <- Gen.oneOf(0.0, 0.05, 0.25, 0.5, 0.75, 0.95, 1.0)
    } yield (vs.map(_.toDouble).zip(cs), p)
    checkProp(Prop.forAll(gen) { case (pairs, p) =>
      val xs = pairs.flatMap { case (v, c) => Seq.fill(c.toInt)(v) }.sorted
      val h = (xs.size - 1).toDouble * p
      val lo = math.floor(h).toInt
      val vlo = xs(lo)
      val vhi = if (lo + 1 < xs.size) xs(lo + 1) else vlo
      val naive = vlo + (h - math.floor(h)) * (vhi - vlo)
      graft.ops.Analytics.quantileOfValueCounts(pairs.toArray, p) == naive
    }, "value-count quantile == expanded quantile")
  }

  test("byKeyValueAscending equals the groupBy+sortBy reference") {
    // the round-21 driver-arm bucketing pass (outlier/winsorize dispatch):
    // one pass + in-place per-key sort must produce exactly the per-key
    // ascending (value, count) arrays the boxed groupBy+map+sortBy chain
    // did, for every key interleaving and duplicate-value layout
    val gen = Gen.nonEmptyListOf(for {
      k <- Gen.oneOf("A", "N", "R")
      v <- Gen.chooseNum(-20, 20).map(_.toDouble)
      c <- Gen.chooseNum(1L, 5L)
    } yield (k, v, c))
    checkProp(Prop.forAll(gen) { rows =>
      val flat = rows.toArray
      val got = graft.ops.Analytics.byKeyValueAscending(flat)
        .map { case (k, a) => k -> a.toSeq }.toMap
      val ref = flat.groupBy(_._1).view
        .mapValues(_.map(x => (x._2, x._3)).sortBy(_._1).toSeq).toMap
      got == ref
    }, "bucketed ascending == groupBy+sortBy")
  }

  test("simhash band geometry guarantees recall at the declared radius") {
    val bits = Similarity.SimhashBits
    val bands = Similarity.SimhashBands
    val bandBits = Similarity.SimhashBandBits
    val radius = Similarity.SimhashMaxHamming
    assert(bands * bandBits == bits, "bands must tile the fingerprint")
    assert(radius < bands,
      "pigeonhole needs fewer flipped bits than bands")
    val genFp = Gen.chooseNum(Long.MinValue, Long.MaxValue)
      .map(_ & ((1L << bits) - 1))
    val genFlips = Gen.chooseNum(0, radius).flatMap(k =>
      Gen.listOfN(k, Gen.chooseNum(0, bits - 1)))
    checkProp(Prop.forAll(genFp, genFlips) { (fp, flips) =>
      val other = flips.foldLeft(fp)((f, b) => f ^ (1L << b))
      val mask = (1L << bandBits) - 1
      (0 until bands).exists { b =>
        ((fp >> (b * bandBits)) & mask) == ((other >> (b * bandBits)) & mask)
      }
    }, "pigeonhole recall at radius <= 3")
  }

  test("TextKernels.nfc: agrees with the JDK Normalizer; idempotent; ASCII is identity") {
    val gen = Gen.listOf(Gen.oneOf(
      Gen.alphaNumChar,
      Gen.const('\u0301'), // combining acute
      Gen.const('\u00e9'), // composed e-acute
      Gen.const('\u0041'), Gen.const('\u030a'), // A + combining ring
      Gen.const('\u00c5'), Gen.const('\u212b')  // Angstrom sign -> NFC A-ring
    )).map(_.mkString)
    checkProp(Prop.forAll(gen) { s =>
      val got = TextKernels.nfc(UTF8String.fromString(s)).toString
      val want = java.text.Normalizer.normalize(s, java.text.Normalizer.Form.NFC)
      got == want &&
        TextKernels.nfc(UTF8String.fromString(got)).toString == got
    }, "nfc agrees with Normalizer and is idempotent")
    // the ASCII fast path returns the SAME object, not a copy
    val a = UTF8String.fromString("plain ascii only")
    assert(TextKernels.nfc(a) eq a)
  }

  // --- round-16 LAPACK kernel laws (tsqrPca's dense-math substrate) ---

  private val genMat: Gen[breeze.linalg.DenseMatrix[Double]] = for {
    m <- Gen.chooseNum(1, 40)
    n <- Gen.chooseNum(1, 24)
    data <- Gen.listOfN(m * n, Gen.chooseNum(-5.0, 5.0))
  } yield new breeze.linalg.DenseMatrix(m, n, data.toArray)

  test("lapackQrR: upper-triangular R with R'R = M'M over random shapes") {
    checkProp(Prop.forAll(genMat) { mm =>
      val r = graft.ml.LearningOps.lapackQrR(mm)
      val tol = 1e-8 * (1.0 + breeze.linalg.sum(mm.map(x => x * x)))
      val shape = r.rows == math.min(mm.rows, mm.cols) && r.cols == mm.cols
      val upper = (0 until r.rows).forall(i =>
        (0 until math.min(i, r.cols)).forall(j => r(i, j) == 0.0))
      val gram =
        breeze.linalg.max(breeze.numerics.abs(r.t * r - mm.t * mm)) < tol
      shape && upper && gram
    }, "lapackQrR gram law")
  }

  test("singular-triplet laws hold on BOTH the dgesvd and dsyev paths") {
    // degeneracy-proof laws (valid even with repeated singular values,
    // where the vectors themselves are not unique): axes orthonormal,
    // sigma descending and non-negative, the action law ||M v_i|| =
    // sigma_i, and full energy sum(sigma^2) = ||M||_F^2 at k = min(m,n)
    checkProp(Prop.forAll(genMat) { mm =>
      val k = math.min(mm.rows, mm.cols)
      val fro2 = breeze.linalg.sum(mm.map(x => x * x))
      Seq(graft.ml.LearningOps.lapackTopRightSingular(mm, k),
        graft.ml.LearningOps.dsyevTopRightSingular(mm, k))
        .forall { case (axes, sv) =>
          val orth = axes.indices.forall(i => (i until axes.length).forall { j =>
            val dot = axes(i).zip(axes(j)).map { case (x, y) => x * y }.sum
            math.abs(dot - (if (i == j) 1.0 else 0.0)) < 1e-8
          })
          val desc = sv.zip(sv.tail).forall { case (x, y) => x >= y - 1e-8 }
          val nonneg = sv.forall(_ >= -1e-12)
          val action = axes.zip(sv).forall { case (v, s) =>
            val rv = mm * breeze.linalg.DenseVector(v)
            math.abs(math.sqrt(breeze.linalg.sum(rv.map(x => x * x))) - s) <
              1e-6 * (1.0 + math.sqrt(fro2))
          }
          val energy =
            math.abs(sv.map(s => s * s).sum - fro2) < 1e-7 * (1.0 + fro2)
          orth && desc && nonneg && action && energy
        }
    }, "singular-triplet laws")
  }

  // --- round-17 ZCA serving-spelling law ---

  private val genZca: Gen[(Int, Int, List[Double], List[Double], List[Double])] =
    for {
      d <- Gen.chooseNum(1, 12)
      n <- Gen.chooseNum(1, 6)
      mu <- Gen.listOfN(d, Gen.chooseNum(-3.0, 3.0))
      w <- Gen.listOfN(d * d, Gen.chooseNum(-2.0, 2.0))
      xs <- Gen.listOfN(n * d, Gen.chooseNum(-5.0, 5.0))
    } yield (d, n, mu, w, xs)

  test("ZCA expr spelling equals the dense (x-mu)'W product over random shapes, zero-job") {
    // fuzz the graft_centered_affine Project (the serving spelling)
    // against a driver-side dense replay over random widths/means/matrices —
    // served through LocalServer, so every sampled width ALSO pins the
    // compile to one pure projection (an index slip in the column-major
    // wj slice or a stage that is not a column program would fail here
    // before any fixture could)
    import org.apache.spark.sql.{Row => SRow}
    import org.apache.spark.sql.types._
    checkProp(Prop.forAll(genZca) { case (d, n, mu, w, xs) =>
      val t = graft.ml.LearningOps.zcaExprTransformer("v", "y",
        mu.toArray, w.toArray, d)
      val schema = StructType(Seq(
        StructField("id", LongType, nullable = false),
        StructField("v", ArrayType(DoubleType, containsNull = false),
          nullable = false)))
      val rows = (0 until n).map(i =>
        SRow(i.toLong, xs.slice(i * d, (i + 1) * d)))
      val out = graft.ml.LocalServer.compile(t, spark, schema)(rows)
      out.indices.forall { i =>
        val x = xs.slice(i * d, (i + 1) * d)
        val got = out(i).getSeq[Double](out(i).fieldIndex("y"))
        (0 until d).forall { j =>
          val expect = (0 until d).map(c => (x(c) - mu(c)) * w(c + j * d)).sum
          math.abs(got(j) - expect) < 1e-9 * (1.0 + math.abs(expect))
        }
      }
    }, "ZCA expr spelling law")
  }
}
