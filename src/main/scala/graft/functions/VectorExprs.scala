package graft.functions

import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.{FunctionRegistry, TypeCheckResult}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpressionInfo,
  TernaryExpression, UnaryExpression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, IntegerType, StringType}
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.sql.SparkSessionExtensions

/** Analysis-time input checks for the vector kernels. AbstractDataType
  * is private[sql] in Spark 4, so the ExpectsInputTypes auto-cast path
  * is unavailable — call sites still cast — but a WRONG type must fail
  * at analysis with a named message, not compile broken generated Java
  * (a long nprobe turns `Math.min(long, int)` into a Janino error) and
  * then throw a context-free ClassCastException from the interpreted
  * fallback. */
private[functions] object VectorTypeChecks {
  def arrayOfDouble(fn: String, what: String, dt: DataType): Option[String] =
    dt match {
      case ArrayType(DoubleType, _) => None
      case other =>
        Some(s"$fn expects $what to be array<double>, got ${other.catalogString}")
    }
  def result(msgs: Option[String]*): TypeCheckResult =
    msgs.flatten.headOption
      .map(TypeCheckResult.TypeCheckFailure(_))
      .getOrElse(TypeCheckResult.TypeCheckSuccess)
}

/** Native Catalyst vector expressions (SURVEY §2.B similarity rows; the
  * "custom Expression beats UDF" rung of the builder ladder).
  *
  * The embedding queries spend their time in dot products and norms; the
  * built-in spelling — `aggregate(zip_with(a, b, _*_), 0.0, _+_)` — is a
  * higher-order function, which Catalyst evaluates INTERPRETED (lambda
  * variable binding per element, no whole-stage codegen). These
  * expressions generate a tight primitive loop via doGenCode instead.
  * Summation order is left-to-right — identical to the HOF spelling and to
  * DuckDB's list_sum — so swapping them into a query changes NO result
  * bits and the DuckDB oracles stay valid.
  *
  * Registered through the public SparkSessionExtensions hook
  * ([[GraftExtensions]], `spark.sql.extensions=graft.functions.GraftExtensions`)
  * and invoked with `functions.call_function("graft_dot", ...)`.
  */
case class DotProduct(left: Expression, right: Expression)
    extends BinaryExpression {

  // inputs MUST be array<double> (AbstractDataType is private[sql] in
  // Spark 4, so no ExpectsInputTypes auto-cast — call sites cast)
  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_dot"

  override def checkInputDataTypes(): TypeCheckResult =
    VectorTypeChecks.result(
      VectorTypeChecks.arrayOfDouble(prettyName, "left", left.dataType),
      VectorTypeChecks.arrayOfDouble(prettyName, "right", right.dataType))

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var s = 0.0
    var i = 0
    while (i < n) { s += x.getDouble(i) * y.getDouble(i); i += 1 }
    s
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val s = ctx.freshName("s")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $s = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $s += $a.getDouble($i) * $b.getDouble($i);
         |}
         |${ev.value} = $s;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): DotProduct = copy(left = newLeft, right = newRight)
}

/** sqrt(Σ x_i²) of an array<double> — same loop-order contract as
  * [[DotProduct]]. */
case class L2Norm(child: Expression)
    extends UnaryExpression {

  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_norm"

  override def checkInputDataTypes(): TypeCheckResult =
    VectorTypeChecks.result(
      VectorTypeChecks.arrayOfDouble(prettyName, "the input", child.dataType))

  override def nullSafeEval(a: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    var s = 0.0
    var i = 0
    val n = x.numElements()
    while (i < n) { val v = x.getDouble(i); s += v * v; i += 1 }
    math.sqrt(s)
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val s = ctx.freshName("s")
      val v = ctx.freshName("v")
      s"""
         |int $n = $a.numElements();
         |double $s = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  double $v = $a.getDouble($i);
         |  $s += $v * $v;
         |}
         |${ev.value} = java.lang.Math.sqrt($s);
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): L2Norm =
    copy(child = newChild)
}

/** Σ (x_i − y_i)² — the k-means/IVF distance kernel. */
case class SquaredL2Distance(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_sqdist"

  override def checkInputDataTypes(): TypeCheckResult =
    VectorTypeChecks.result(
      VectorTypeChecks.arrayOfDouble(prettyName, "left", left.dataType),
      VectorTypeChecks.arrayOfDouble(prettyName, "right", right.dataType))

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var s = 0.0
    var i = 0
    while (i < n) {
      val d = x.getDouble(i) - y.getDouble(i)
      s += d * d
      i += 1
    }
    s
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val s = ctx.freshName("s")
      val d = ctx.freshName("d")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $s = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  double $d = $a.getDouble($i) - $b.getDouble($i);
         |  $s += $d * $d;
         |}
         |${ev.value} = $s;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): SquaredL2Distance =
    copy(left = newLeft, right = newRight)
}

/** The `nprobe` nearest centroid ids for a vector — the IVF coarse
  * quantizer's assignment/probe kernel in ONE expression of CONSTANT
  * generated-code size. The spelling it replaces —
  * `array_min(array(struct(graft_sqdist(v, c_0), 0), ...))` /
  * `slice(array_sort(...), 1, nprobe)` with one struct per centroid —
  * grows the fused whole-stage-codegen method linearly in `nlist` and
  * passes HotSpot's huge-method JIT limit at production centroid counts
  * (the generated code then runs interpreted, ~90× slower); this kernel
  * is two nested loops whatever `nlist` is.
  *
  * Distances are Σ(v_i−c_i)² accumulated left-to-right — bit-identical
  * to `graft_sqdist` — and selection orders by (distance, centroid id)
  * ascending with `java.lang.Double.compare` semantics, exactly
  * Spark's struct ordering in the spelling it replaces (NaN greatest,
  * ties to the lower id). Returns array<int> of min(nprobe, nlist)
  * ids. */
case class TopCells(v: Expression, centroids: Expression, nprobe: Expression)
    extends TernaryExpression {

  override def first: Expression = v
  override def second: Expression = centroids
  override def third: Expression = nprobe
  override def dataType: DataType =
    org.apache.spark.sql.types.ArrayType(
      org.apache.spark.sql.types.IntegerType, containsNull = false)
  override def prettyName: String = "graft_top_cells"

  override def checkInputDataTypes(): TypeCheckResult =
    VectorTypeChecks.result(
      VectorTypeChecks.arrayOfDouble(prettyName, "the vector", v.dataType),
      centroids.dataType match {
        case ArrayType(ArrayType(DoubleType, _), _) => None
        case other => Some(s"$prettyName expects centroids to be " +
          s"array<array<double>>, got ${other.catalogString}")
      },
      nprobe.dataType match {
        case IntegerType => None
        // the generated code does Math.min(nprobe, nlist) into an int —
        // any other integral type must be rejected at analysis, not left
        // to break Janino compilation
        case other =>
          Some(s"$prettyName expects nprobe to be int, got ${other.catalogString}")
      })

  override def nullSafeEval(a: Any, c: Any, np: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val cents = c.asInstanceOf[ArrayData]
    val nlist = cents.numElements()
    val want = math.min(np.asInstanceOf[Int], nlist)
    val dists = new Array[Double](nlist)
    var i = 0
    while (i < nlist) {
      val ci = cents.getArray(i)
      val n = math.min(x.numElements(), ci.numElements())
      var s = 0.0
      var j = 0
      while (j < n) {
        val d = x.getDouble(j) - ci.getDouble(j)
        s += d * d
        j += 1
      }
      dists(i) = s
      i += 1
    }
    val out = new Array[Int](math.max(want, 0))
    val taken = new Array[Boolean](nlist)
    var r = 0
    while (r < want) {
      var best = -1
      var i2 = 0
      while (i2 < nlist) {
        if (!taken(i2) &&
          (best < 0 || java.lang.Double.compare(dists(i2), dists(best)) < 0))
          best = i2
        i2 += 1
      }
      taken(best) = true
      out(r) = best
      r += 1
    }
    ArrayData.toArrayData(out)
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, c, np) => {
      val nlist = ctx.freshName("nlist")
      val want = ctx.freshName("want")
      val dists = ctx.freshName("dists")
      val taken = ctx.freshName("taken")
      val out = ctx.freshName("out")
      val i = ctx.freshName("i")
      val j = ctx.freshName("j")
      val r = ctx.freshName("r")
      val ci = ctx.freshName("ci")
      val n = ctx.freshName("n")
      val s = ctx.freshName("s")
      val d = ctx.freshName("d")
      val best = ctx.freshName("best")
      s"""
         |int $nlist = $c.numElements();
         |int $want = java.lang.Math.min($np, $nlist);
         |if ($want < 0) $want = 0;
         |double[] $dists = new double[$nlist];
         |for (int $i = 0; $i < $nlist; $i++) {
         |  org.apache.spark.sql.catalyst.util.ArrayData $ci = $c.getArray($i);
         |  int $n = java.lang.Math.min($a.numElements(), $ci.numElements());
         |  double $s = 0.0;
         |  for (int $j = 0; $j < $n; $j++) {
         |    double $d = $a.getDouble($j) - $ci.getDouble($j);
         |    $s += $d * $d;
         |  }
         |  $dists[$i] = $s;
         |}
         |boolean[] $taken = new boolean[$nlist];
         |int[] $out = new int[$want];
         |for (int $r = 0; $r < $want; $r++) {
         |  int $best = -1;
         |  for (int $i = 0; $i < $nlist; $i++) {
         |    if (!$taken[$i] && ($best < 0 ||
         |        java.lang.Double.compare($dists[$i], $dists[$best]) < 0))
         |      $best = $i;
         |  }
         |  $taken[$best] = true;
         |  $out[$r] = $best;
         |}
         |${ev.value} =
         |  org.apache.spark.sql.catalyst.util.ArrayData.toArrayData($out);
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newFirst: Expression,
      newSecond: Expression, newThird: Expression): TopCells =
    copy(v = newFirst, centroids = newSecond, nprobe = newThird)
}

/** A fitted model applied to one row's input array — the shared body of
  * a [[ModelKernel]]'s interpreted and generated paths (the generated
  * code calls `apply` on the referenced instance), so both paths compute
  * the same bits by construction. */
trait RowModel extends Serializable {
  def apply(in: ArrayData): ArrayData
}

/** y_j = Σ_i x_i·W_j,i + b_j over i < min(|x|, width of W), summed left
  * to right exactly like `graft_dot`; with `amp`, y_j = cos(Σ + b_j)·amp,
  * as in `cos(graft_dot(x, W_j) + b_j) * amp`. With a centre μ the sum
  * runs over (x_i − μ_i)·W_j,i, as in `graft_dot(zip_with(x, μ, _ − _),
  * W_j)`, and a row whose width is not |μ| raises. W is rectangular.
  *
  * Four outputs share each pass over x: every output keeps its own
  * accumulator, still summed left to right over i, so the unroll breaks
  * the serial add chain without changing any output's bits. */
final class AffineModel(w: Array[Array[Double]], b: Array[Double],
    amp: Option[Double], mu: Option[Array[Double]]) extends RowModel {
  private val hasAmp = amp.isDefined
  private val a = amp.getOrElse(1.0)
  private val width = if (w.isEmpty) 0 else w(0).length

  private def finish(s: Double, j: Int): Double =
    if (hasAmp) math.cos(s + b(j)) * a else s + b(j)

  def apply(x: ArrayData): ArrayData = {
    val n = x.numElements()
    val xs = new Array[Double](n)
    var i = 0
    mu match {
      case Some(c) =>
        if (n != c.length) throw new IllegalArgumentException(
          s"graft_centered_affine expects x to have ${c.length} entries, got $n")
        while (i < n) { xs(i) = x.getDouble(i) - c(i); i += 1 }
      case None =>
        while (i < n) { xs(i) = x.getDouble(i); i += 1 }
    }
    val m = math.min(n, width)
    val out = new Array[Double](w.length)
    var j = 0
    while (j + 4 <= w.length) {
      val w0 = w(j)
      val w1 = w(j + 1)
      val w2 = w(j + 2)
      val w3 = w(j + 3)
      var s0, s1, s2, s3 = 0.0
      i = 0
      while (i < m) {
        val xi = xs(i)
        s0 += xi * w0(i)
        s1 += xi * w1(i)
        s2 += xi * w2(i)
        s3 += xi * w3(i)
        i += 1
      }
      out(j) = finish(s0, j)
      out(j + 1) = finish(s1, j + 1)
      out(j + 2) = finish(s2, j + 2)
      out(j + 3) = finish(s3, j + 3)
      j += 4
    }
    while (j < w.length) {
      val wj = w(j)
      var s = 0.0
      i = 0
      while (i < m) { s += xs(i) * wj(i); i += 1 }
      out(j) = finish(s, j)
      j += 1
    }
    UnsafeArrayData.fromPrimitiveArray(out)
  }
}

/** Slot j counts the tokens equal to `vocab(j)`; null and
  * out-of-vocabulary tokens count nowhere. One hash probe per token. */
final class VocabIndex(vocab: Array[UTF8String]) extends RowModel {
  private val index = new java.util.HashMap[UTF8String, Integer]()
  vocab.indices.foreach(j => index.putIfAbsent(vocab(j), j))
  def distinct: Boolean = index.size == vocab.length

  def apply(tokens: ArrayData): ArrayData = {
    val out = new Array[Double](vocab.length)
    val n = tokens.numElements()
    var i = 0
    while (i < n) {
      if (!tokens.isNullAt(i)) {
        val slot = index.get(tokens.getUTF8String(i))
        if (slot != null) out(slot.intValue) += 1.0
      }
      i += 1
    }
    UnsafeArrayData.fromPrimitiveArray(out)
  }
}

/** Analysis-time reads of a model kernel's literal arguments: each is
  * checked for type, foldability, NULL and NULL entries, and a failure
  * names the argument (instead of an NPE from `eval(null)` in planning or
  * a ClassCastException in an executor). */
private[functions] object ModelArg {
  def eval(fn: String, what: String, e: Expression, typeOk: Boolean,
      typeName: String): Either[String, Any] =
    if (!typeOk)
      Left(s"$fn expects $what to be $typeName, got ${e.dataType.catalogString}")
    else if (!e.foldable) Left(s"$fn expects $what to be a foldable literal")
    else scala.util.Try(e.eval(null)) match {
      case scala.util.Failure(ex) =>
        Left(s"$fn $what failed to evaluate at analysis time: " +
          s"${ex.getClass.getSimpleName}: ${ex.getMessage}")
      case scala.util.Success(null) => Left(s"$fn $what must not be NULL")
      case scala.util.Success(v) => Right(v)
    }

  private def array(fn: String, what: String, e: Expression, typeOk: Boolean,
      typeName: String): Either[String, ArrayData] =
    eval(fn, what, e, typeOk, typeName)
      .flatMap(v => noNulls(fn, what, v.asInstanceOf[ArrayData]))

  private def noNulls(fn: String, what: String,
      a: ArrayData): Either[String, ArrayData] =
    if ((0 until a.numElements()).exists(a.isNullAt))
      Left(s"$fn $what must not contain NULL entries")
    else Right(a)

  def doubles(fn: String, what: String, e: Expression): Either[String, Array[Double]] =
    array(fn, what, e, e.dataType match {
      case ArrayType(DoubleType, _) => true
      case _ => false
    }, "array<double>").map(_.toDoubleArray())

  def matrix(fn: String, what: String,
      e: Expression): Either[String, Array[Array[Double]]] =
    array(fn, what, e, e.dataType match {
      case ArrayType(ArrayType(DoubleType, _), _) => true
      case _ => false
    }, "array<array<double>>").flatMap { a =>
      val rows = (0 until a.numElements()).map(j => noNulls(fn, what, a.getArray(j)))
      rows.collectFirst { case Left(msg) => msg }.toLeft(
        rows.map(_.toOption.get.toDoubleArray()).toArray)
    }

  def strings(fn: String, what: String, e: Expression): Either[String, Array[UTF8String]] =
    array(fn, what, e, e.dataType match {
      case ArrayType(StringType, _) => true
      case _ => false
    }, "array<string>").map(a =>
      Array.tabulate(a.numElements())(j => a.getUTF8String(j).clone()))
}

/** A kernel over one per-row input and literal model arguments. Only the
  * input is evaluated per row (null input => null output). The model is
  * read into primitive structures once per expression instance and handed
  * to the generated code through `ctx.addReferenceObj`, so the generated
  * code has one size whatever the model's size. */
private[functions] trait ModelKernel extends Expression {
  def input: Expression
  protected def inputCheck: Option[String]
  protected def loadModel: Either[String, RowModel]

  @transient private lazy val loaded = loadModel
  private def model: RowModel =
    loaded.fold(msg => throw new IllegalStateException(msg), identity)

  override def nullable: Boolean = input.nullable

  override def checkInputDataTypes(): TypeCheckResult =
    VectorTypeChecks.result(inputCheck.orElse(loaded.swap.toOption))

  override def eval(row: InternalRow): Any = {
    val in = input.eval(row)
    if (in == null) null else model(in.asInstanceOf[ArrayData])
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val in = input.genCode(ctx)
    val ref = ctx.addReferenceObj("model", model, classOf[RowModel].getName)
    ev.copy(code = code"""
      |${in.code}
      |boolean ${ev.isNull} = ${in.isNull};
      |${CodeGenerator.javaType(dataType)} ${ev.value} = null;
      |if (!${ev.isNull}) {
      |  ${ev.value} = $ref.apply(${in.value});
      |}""".stripMargin)
  }
}

/** `graft_affine(x, W, b[, amp])` and `graft_centered_affine(x, mu, W)`
  * — a fitted linear map as ONE expression of constant generated-code
  * size: y_j = Σ_i x_i·W_j,i + b_j, or cos(Σ_i x_i·W_j,i + b_j)·amp when
  * `amp` is given (the random-features epilogue), or Σ_i (x_i − μ_i)·W_j,i
  * with a centre (the ZCA/PCA projection). `W` (array<array<double>>,
  * one row per output, all rows equally wide), `mu` (array<double>, one
  * entry per column of W), `b` (array<double>, one entry per row of W)
  * and `amp` (double) must be literals. The sums are bit-identical to
  * the per-output spellings `array(graft_dot(x, W_0) + b_0, ...)` and
  * `array(graft_dot(zip_with(x, μ, _ − _), W_0), ...)` (see
  * [[AffineModel]]), whose plan, codegen and JIT cost grow with the
  * model: a fused Project of ~50+ dots passes HotSpot's huge-method
  * limit and runs interpreted. */
case class Affine(x: Expression, mu: Option[Expression], w: Expression,
    b: Option[Expression], amp: Option[Expression]) extends ModelKernel {

  override def input: Expression = x
  override def children: Seq[Expression] = Seq(x) ++ mu ++ Seq(w) ++ b ++ amp
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def prettyName: String =
    if (mu.isDefined) "graft_centered_affine" else "graft_affine"

  // print the arguments as given, not the Options that carry them
  override protected def stringArgs: Iterator[Any] = children.iterator

  override protected def inputCheck: Option[String] =
    VectorTypeChecks.arrayOfDouble(prettyName, "x", x.dataType)

  override protected def loadModel: Either[String, RowModel] = for {
    ws <- ModelArg.matrix(prettyName, "W", w)
    width = ws.headOption.fold(0)(_.length)
    _ <- ws.indices.find(ws(_).length != width).map(j =>
      s"$prettyName expects W to be rectangular: row $j has " +
        s"${ws(j).length} entries, row 0 has $width").toLeft(())
    c <- mu.map(e => ModelArg.doubles(prettyName, "mu", e).map(Some(_)))
      .getOrElse(Right(None))
    _ <- c.filter(cs => ws.nonEmpty && cs.length != width).map(cs =>
      s"$prettyName expects mu to have one entry per column of W " +
        s"($width), got ${cs.length}").toLeft(())
    bs <- b.map(ModelArg.doubles(prettyName, "b", _))
      .getOrElse(Right(new Array[Double](ws.length)))
    _ <- Either.cond(bs.length == ws.length, (),
      s"$prettyName expects b to have one entry per row of W " +
        s"(${ws.length}), got ${bs.length}")
    a <- amp.map(e => ModelArg.eval(prettyName, "amp", e, e.dataType == DoubleType,
      "double").map(v => Some(v.asInstanceOf[Double]))).getOrElse(Right(None))
  } yield new AffineModel(ws, bs, a, c)

  override protected def withNewChildrenInternal(
      c: IndexedSeq[Expression]): Affine = {
    val it = c.iterator
    Affine(it.next(), mu.map(_ => it.next()), it.next(), b.map(_ => it.next()),
      amp.map(_ => it.next()))
  }
}

/** `graft_vocab_counts(tokens, vocab)` → array<double> of |vocab| term
  * counts: slot j counts the tokens equal to `vocab[j]` (null and
  * out-of-vocabulary tokens count nowhere). `vocab` must be a literal
  * array<string> of distinct non-null entries; its hash index is built
  * once per expression instance, and a row costs one pass over its
  * tokens. Replaces the per-slot `size(filter(idx, _ === j))` over
  * `element_at(vocabMap, token)` spelling: k lambda passes per row, each
  * re-probing a k-entry map literal that only the optimizer folds. */
case class VocabCounts(tokens: Expression, vocab: Expression) extends ModelKernel {

  override def input: Expression = tokens
  override def children: Seq[Expression] = Seq(tokens, vocab)
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def prettyName: String = "graft_vocab_counts"

  override protected def inputCheck: Option[String] = tokens.dataType match {
    case ArrayType(StringType, _) => None
    case other =>
      Some(s"$prettyName expects tokens to be array<string>, got ${other.catalogString}")
  }

  override protected def loadModel: Either[String, RowModel] =
    ModelArg.strings(prettyName, "vocab", vocab).map(new VocabIndex(_))
      .filterOrElse(_.distinct, s"$prettyName vocab entries must be distinct")

  override protected def withNewChildrenInternal(
      c: IndexedSeq[Expression]): VocabCounts =
    copy(tokens = c(0), vocab = c(1))
}

/** Public extension entry point: registers the vector kernels in the
  * session's function registry
  * (`.config("spark.sql.extensions", "graft.functions.GraftExtensions")`).
  * Call sites use `functions.call_function("graft_dot", a, b)` etc. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftExtensions.registrations.foreach(ext.injectFunction)
    // optimizer rule: bounded edit-distance predicates run the banded
    // thresholded DP instead of the full O(n·m) one
    ext.injectOptimizerRule(_ => graft.plans.LevenshteinBandRule)
  }
}

object GraftExtensions {
  private def binary(children: Seq[Expression],
      f: (Expression, Expression) => Expression): Expression = {
    require(children.length == 2, s"expected 2 arguments, got ${children.length}")
    f(children(0), children(1))
  }
  private def unary(children: Seq[Expression],
      f: Expression => Expression): Expression = {
    require(children.length == 1, s"expected 1 argument, got ${children.length}")
    f(children(0))
  }
  private def ternary(children: Seq[Expression],
      f: (Expression, Expression, Expression) => Expression): Expression = {
    require(children.length == 3, s"expected 3 arguments, got ${children.length}")
    f(children(0), children(1), children(2))
  }

  /** One (identifier, info, builder) row per kernel — the single source
    * of truth shared by the extension hook and [[ensureRegistered]]. */
  private val registrations: Seq[(FunctionIdentifier, ExpressionInfo,
      Seq[Expression] => Expression)] = Seq(
    (FunctionIdentifier("graft_dot"),
      new ExpressionInfo(classOf[DotProduct].getName, "graft_dot"),
      (children: Seq[Expression]) => binary(children, DotProduct.apply)),
    (FunctionIdentifier("graft_norm"),
      new ExpressionInfo(classOf[L2Norm].getName, "graft_norm"),
      (children: Seq[Expression]) => unary(children, L2Norm.apply)),
    (FunctionIdentifier("graft_sqdist"),
      new ExpressionInfo(classOf[SquaredL2Distance].getName, "graft_sqdist"),
      (children: Seq[Expression]) => binary(children, SquaredL2Distance.apply)),
    (FunctionIdentifier("graft_top_cells"),
      new ExpressionInfo(classOf[TopCells].getName, "graft_top_cells"),
      (children: Seq[Expression]) => ternary(children, TopCells.apply)),
    (FunctionIdentifier("graft_affine"),
      new ExpressionInfo(classOf[Affine].getName, "graft_affine"),
      (children: Seq[Expression]) => {
        require(children.length == 3 || children.length == 4,
          s"expected 3 or 4 arguments, got ${children.length}")
        Affine(children(0), None, children(1), Some(children(2)), children.lift(3))
      }),
    (FunctionIdentifier("graft_centered_affine"),
      new ExpressionInfo(classOf[Affine].getName, "graft_centered_affine"),
      (children: Seq[Expression]) => ternary(children,
        (x, mu, w) => Affine(x, Some(mu), w, None, None))),
    (FunctionIdentifier("graft_vocab_counts"),
      new ExpressionInfo(classOf[VocabCounts].getName, "graft_vocab_counts"),
      (children: Seq[Expression]) => binary(children, VocabCounts.apply)),
    (FunctionIdentifier("graft_shingles"),
      new ExpressionInfo(classOf[ShingleArray].getName, "graft_shingles"),
      (children: Seq[Expression]) => binary(children, ShingleArray.apply)),
    (FunctionIdentifier("graft_pairs"),
      new ExpressionInfo(classOf[PairStructs].getName, "graft_pairs"),
      (children: Seq[Expression]) => binary(children, PairStructs.apply)),
    (FunctionIdentifier("graft_bpe"),
      new ExpressionInfo(classOf[BpeEncode].getName, "graft_bpe"),
      (children: Seq[Expression]) => binary(children, BpeEncode.apply)),
    (FunctionIdentifier("graft_nfc"),
      new ExpressionInfo(classOf[NfcNormalize].getName, "graft_nfc"),
      (children: Seq[Expression]) => unary(children, NfcNormalize.apply)),
    (FunctionIdentifier("graft_md5_split"),
      new ExpressionInfo(classOf[Md5Split].getName, "graft_md5_split"),
      (children: Seq[Expression]) => unary(children, Md5Split.apply)),
    (FunctionIdentifier("graft_tokens"),
      new ExpressionInfo(classOf[TokenArray].getName, "graft_tokens"),
      (children: Seq[Expression]) => unary(children, TokenArray.apply)),
    (FunctionIdentifier("graft_simhash64"),
      new ExpressionInfo(classOf[Simhash64].getName, "graft_simhash64"),
      (children: Seq[Expression]) => unary(children, Simhash64.apply)),
    (FunctionIdentifier("graft_shingle_xxhashes"),
      new ExpressionInfo(classOf[ShingleXxHashes].getName,
        "graft_shingle_xxhashes"),
      (children: Seq[Expression]) => binary(children, ShingleXxHashes.apply)),
    (FunctionIdentifier("graft_minhash_sig"),
      new ExpressionInfo(classOf[MinhashSig].getName, "graft_minhash_sig"),
      (children: Seq[Expression]) => binary(children, MinhashSig.apply)),
    (FunctionIdentifier("graft_srp_bands"),
      new ExpressionInfo(classOf[SrpBands].getName, "graft_srp_bands"),
      (children: Seq[Expression]) => {
        require(children.length == 4,
          s"expected 4 arguments, got ${children.length}")
        SrpBands(children(0), children(1), children(2), children(3))
      }))

  /** Idempotently registers every graft kernel into `spark`'s function
    * registry. Library entry points that emit `call_function("graft_*")`
    * Columns ([[graft.ml.Dedup]], `workflow.Tokenize`,
    * `ImageOps.randomTransform`) call this so they resolve on sessions
    * built WITHOUT `spark.sql.extensions=graft.functions.GraftExtensions`
    * — the kernels are ordinary Catalyst expressions, only their registry
    * entries are session-scoped. Does NOT inject the optimizer rule
    * ([[graft.plans.LevenshteinBandRule]] is a pure optimization; queries
    * are correct without it — extension-built sessions still get it). */
  def ensureRegistered(spark: org.apache.spark.sql.SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    registrations.foreach { case (id, info, builder) =>
      if (!reg.functionExists(id)) reg.registerFunction(id, info, builder)
      else {
        // the identifier exists — verify it IS our kernel: a pre-existing
        // user-registered graft_* of a different shape would otherwise
        // silently shadow the kernel and entry points like Dedup.simhash
        // would compute with the wrong function
        val existing = reg.lookupFunction(id).map(_.getClassName).orNull
        if (existing != info.getClassName)
          throw new IllegalStateException(
            s"function '${id.funcName}' is already registered as " +
              s"$existing, not the graft kernel ${info.getClassName}; " +
              "rename or drop the conflicting function " +
              s"(spark.sessionState.functionRegistry.dropFunction) before " +
              "using graft entry points on this session")
      }
    }
  }

  /** [[ensureRegistered]] against the active/default session, for
    * Column-building helpers that have no session in hand. A Column built
    * with NO session anywhere is left alone — it can only ever be
    * analyzed by a session created later, and creating that session with
    * the extensions (or passing it through any DataFrame entry point,
    * which calls [[ensureRegistered]] directly) resolves the functions. */
  private[graft] def ensureActiveRegistered(): Unit =
    org.apache.spark.sql.SparkSession.getActiveSession
      .orElse(org.apache.spark.sql.SparkSession.getDefaultSession)
      .foreach(ensureRegistered)
}
