package graft.plans

import scala.reflect.ClassTag

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.FunctionRegistryBase
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpressionInfo,
  ImplicitCastInputTypes, TernaryExpression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}

/**
 * Native Catalyst expressions for the pairwise distance metrics (all
 * but cosine similarity and Mahalanobis, which stay UDFs in
 * [[graft.functions.VectorFunctions]]) — the ONE implementation each
 * metric has on the SQL and Column surfaces.
 * [[DistanceExpressions.sqlFunctions]] names them as the reference does
 * (`CREATE FUNCTION vector_*_distance`, one per C kernel, in
 * `neurondb--1.0.sql`) and [[DistanceExpressions.register]] installs
 * that table; the Column builders construct the same expressions, so a
 * SQL call and a DataFrame call plan identically.
 *
 * Why not Scala UDFs: a UDF over `array<float>` deserializes into
 * `Seq[Float]` — one boxed `java.lang.Float` per element per row.
 *
 * The kernels read the columnar `ArrayData` IN PLACE via `getFloat(i)`
 * (no per-row-pair `toFloatArray()` copy). For the six hot metrics (L2,
 * squared L2, cosine, inner product, dot, L1) the arithmetic (double
 * upcast, accumulation order, Kahan compensation for L2) is that of the
 * driver-side `Array[Float]` kernels in [[graft.functions.VectorOps]],
 * so results are bit-identical (`NativeDistanceSqlSpec` pins it); the
 * HNSW walk, IVF routing, PQ and rerank call those array kernels. The
 * long-tail metrics exist only here.
 *
 * Inputs coerce like any SQL function's: `ImplicitCastInputTypes` casts
 * int, decimal and double arrays to `array<float>` (and a numeric `p` to
 * double), as the UDFs these expressions replaced did.
 *
 * Codegen: the generated code calls straight into the static kernel,
 * keeping the expression inside whole-stage codegen spans instead of
 * falling back to interpreted eval.
 */
abstract class FloatArrayBinaryExpression extends BinaryExpression with ImplicitCastInputTypes {
  override def dataType: DataType = DoubleType
  override def inputTypes: Seq[DataType] =
    Seq(ArrayType(FloatType), ArrayType(FloatType))

  /** Static binary kernel on DistanceExpressions to invoke. */
  protected def kernel: String

  protected def eval2(a: ArrayData, b: ArrayData): Double

  override def nullSafeEval(a: Any, b: Any): Any =
    eval2(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.plans.DistanceExpressions.$kernel($a, $b);")
}

case class L2DistanceExpr(left: Expression, right: Expression) extends FloatArrayBinaryExpression {
  override def prettyName: String = "vector_l2_distance"
  protected def kernel: String = "l2Data"
  protected def eval2(a: ArrayData, b: ArrayData): Double = DistanceExpressions.l2Data(a, b)
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression = copy(l, r)
}

case class CosineDistanceExpr(left: Expression, right: Expression) extends FloatArrayBinaryExpression {
  override def prettyName: String = "vector_cosine_distance"
  protected def kernel: String = "cosineData"
  protected def eval2(a: ArrayData, b: ArrayData): Double = DistanceExpressions.cosineData(a, b)
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression = copy(l, r)
}

case class InnerProductExpr(left: Expression, right: Expression) extends FloatArrayBinaryExpression {
  override def prettyName: String = "vector_inner_product"
  protected def kernel: String = "innerProductData"
  protected def eval2(a: ArrayData, b: ArrayData): Double = DistanceExpressions.innerProductData(a, b)
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression = copy(l, r)
}

case class DotProductExpr(left: Expression, right: Expression) extends FloatArrayBinaryExpression {
  override def prettyName: String = "vector_dot"
  protected def kernel: String = "dotData"
  protected def eval2(a: ArrayData, b: ArrayData): Double = DistanceExpressions.dotData(a, b)
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression = copy(l, r)
}

case class L1DistanceExpr(left: Expression, right: Expression) extends FloatArrayBinaryExpression {
  override def prettyName: String = "vector_l1_distance"
  protected def kernel: String = "l1Data"
  protected def eval2(a: ArrayData, b: ArrayData): Double = DistanceExpressions.l1Data(a, b)
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression = copy(l, r)
}

case class SquaredL2DistanceExpr(left: Expression, right: Expression) extends FloatArrayBinaryExpression {
  override def prettyName: String = "vector_squared_l2_distance"
  protected def kernel: String = "squaredL2Data"
  protected def eval2(a: ArrayData, b: ArrayData): Double = DistanceExpressions.squaredL2Data(a, b)
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression = copy(l, r)
}

case class ChebyshevDistanceExpr(left: Expression, right: Expression) extends FloatArrayBinaryExpression {
  override def prettyName: String = "vector_chebyshev_distance"
  protected def kernel: String = "chebyshevData"
  protected def eval2(a: ArrayData, b: ArrayData): Double = DistanceExpressions.chebyshevData(a, b)
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression = copy(l, r)
}

case class HammingDistanceExpr(left: Expression, right: Expression) extends FloatArrayBinaryExpression {
  override def prettyName: String = "vector_hamming_distance"
  protected def kernel: String = "hammingData"
  protected def eval2(a: ArrayData, b: ArrayData): Double = DistanceExpressions.hammingData(a, b)
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression = copy(l, r)
}

case class JaccardDistanceExpr(left: Expression, right: Expression) extends FloatArrayBinaryExpression {
  override def prettyName: String = "vector_jaccard_distance"
  protected def kernel: String = "jaccardData"
  protected def eval2(a: ArrayData, b: ArrayData): Double = DistanceExpressions.jaccardData(a, b)
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression = copy(l, r)
}

case class DiceDistanceExpr(left: Expression, right: Expression) extends FloatArrayBinaryExpression {
  override def prettyName: String = "vector_dice_distance"
  protected def kernel: String = "diceData"
  protected def eval2(a: ArrayData, b: ArrayData): Double = DistanceExpressions.diceData(a, b)
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression = copy(l, r)
}

case class BrayCurtisDistanceExpr(left: Expression, right: Expression) extends FloatArrayBinaryExpression {
  override def prettyName: String = "vector_bray_curtis_distance"
  protected def kernel: String = "brayCurtisData"
  protected def eval2(a: ArrayData, b: ArrayData): Double = DistanceExpressions.brayCurtisData(a, b)
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression = copy(l, r)
}

case class CanberraDistanceExpr(left: Expression, right: Expression) extends FloatArrayBinaryExpression {
  override def prettyName: String = "vector_canberra_distance"
  protected def kernel: String = "canberraData"
  protected def eval2(a: ArrayData, b: ArrayData): Double = DistanceExpressions.canberraData(a, b)
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression = copy(l, r)
}

case class SokalMichenerDistanceExpr(left: Expression, right: Expression) extends FloatArrayBinaryExpression {
  override def prettyName: String = "vector_sokal_michener_distance"
  protected def kernel: String = "sokalMichenerData"
  protected def eval2(a: ArrayData, b: ArrayData): Double = DistanceExpressions.sokalMichenerData(a, b)
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression = copy(l, r)
}

case class RogersTanimotoDistanceExpr(left: Expression, right: Expression) extends FloatArrayBinaryExpression {
  override def prettyName: String = "vector_rogers_tanimoto_distance"
  protected def kernel: String = "rogersTanimotoData"
  protected def eval2(a: ArrayData, b: ArrayData): Double = DistanceExpressions.rogersTanimotoData(a, b)
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression = copy(l, r)
}

case class RussellRaoDistanceExpr(left: Expression, right: Expression) extends FloatArrayBinaryExpression {
  override def prettyName: String = "vector_russell_rao_distance"
  protected def kernel: String = "russellRaoData"
  protected def eval2(a: ArrayData, b: ArrayData): Double = DistanceExpressions.russellRaoData(a, b)
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression = copy(l, r)
}

case class MatchingCoefficientExpr(left: Expression, right: Expression) extends FloatArrayBinaryExpression {
  override def prettyName: String = "vector_matching_coefficient"
  protected def kernel: String = "matchingCoefficientData"
  protected def eval2(a: ArrayData, b: ArrayData): Double = DistanceExpressions.matchingCoefficientData(a, b)
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression = copy(l, r)
}

/** Minkowski distance of order `p` (a double column or literal). */
case class MinkowskiDistanceExpr(first: Expression, second: Expression, third: Expression)
    extends TernaryExpression with ImplicitCastInputTypes {
  override def prettyName: String = "vector_minkowski_distance"
  override def dataType: DataType = DoubleType
  override def inputTypes: Seq[DataType] =
    Seq(ArrayType(FloatType), ArrayType(FloatType), DoubleType)
  override def nullSafeEval(a: Any, b: Any, p: Any): Any = DistanceExpressions.minkowskiData(
    a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData], p.asInstanceOf[Double])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b, p) =>
      s"${ev.value} = graft.plans.DistanceExpressions.minkowskiData($a, $b, $p);")
  override protected def withNewChildrenInternal(
      f: Expression, s: Expression, t: Expression): Expression = copy(f, s, t)
}

/** Squared L2 norm Σ vᵢ² of one array<float> vector, accumulated in
  * double exactly as [[DistanceExpressions.cosineData]] accumulates its
  * per-side norms (plain sum, no Kahan — the cosine kernel's own
  * convention). Exists so pair joins can hoist the per-ROW norm out of
  * the per-PAIR cosine kernel (guide §1.2: don't compute per-pair what
  * is a per-row invariant) — see [[DistanceExpressions.cosineFromParts]]. */
case class NormSqExpr(child: Expression) extends UnaryExpression with ImplicitCastInputTypes {
  override def prettyName: String = "vector_norm_sq"
  override def dataType: DataType = DoubleType
  override def inputTypes: Seq[DataType] = Seq(ArrayType(FloatType))
  override def nullSafeEval(a: Any): Any =
    DistanceExpressions.normSqData(a.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, a => s"graft.plans.DistanceExpressions.normSqData($a)")
  override protected def withNewChildInternal(c: Expression): Expression = copy(c)
}

object DistanceExpressions {

  /** Same error contract as the pre-r15 `noNulls` + `checkDims` pair,
    * in the same order: null elements rejected first (left side, then
    * right), then the dimension check — `ArrayData.getFloat` would
    * silently read a null slot as 0.0f, corrupting the distance. */
  @inline private def checkedDim(a: ArrayData, b: ArrayData): Int = {
    var i = 0
    val na = a.numElements()
    while (i < na) {
      if (a.isNullAt(i))
        throw new IllegalArgumentException(s"vector contains a null element at index $i")
      i += 1
    }
    var j = 0
    val nb = b.numElements()
    while (j < nb) {
      if (b.isNullAt(j))
        throw new IllegalArgumentException(s"vector contains a null element at index $j")
      j += 1
    }
    if (na != nb)
      throw new IllegalArgumentException(s"vector dimensions must match: $na vs $nb")
    na
  }

  /** Kahan-summed sum of squared differences — the arithmetic of
    * [[graft.functions.VectorOps.squaredL2]] verbatim, reading the
    * ArrayData in place. */
  def squaredL2Data(a: ArrayData, b: ArrayData): Double = {
    val n = checkedDim(a, b)
    var sum = 0.0; var c = 0.0; var i = 0
    while (i < n) {
      val diff = a.getFloat(i).toDouble - b.getFloat(i).toDouble
      val y = diff * diff - c
      val t = sum + y
      c = (t - sum) - y
      sum = t
      i += 1
    }
    sum
  }

  def l2Data(a: ArrayData, b: ArrayData): Double = math.sqrt(squaredL2Data(a, b))

  def dotData(a: ArrayData, b: ArrayData): Double = {
    val n = checkedDim(a, b)
    var sum = 0.0; var i = 0
    while (i < n) { sum += a.getFloat(i).toDouble * b.getFloat(i).toDouble; i += 1 }
    sum
  }

  def innerProductData(a: ArrayData, b: ArrayData): Double = -dotData(a, b)

  /** 1 - dot/(|a||b|); zero-norm input yields 1.0 —
    * [[graft.functions.VectorOps.cosineDistance]] verbatim. */
  def cosineData(a: ArrayData, b: ArrayData): Double = {
    val n = checkedDim(a, b)
    var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    while (i < n) {
      val va = a.getFloat(i).toDouble; val vb = b.getFloat(i).toDouble
      d += va * vb; na += va * va; nb += vb * vb
      i += 1
    }
    if (na == 0.0 || nb == 0.0) 1.0
    else 1.0 - d / (math.sqrt(na) * math.sqrt(nb))
  }

  def l1Data(a: ArrayData, b: ArrayData): Double = {
    val n = checkedDim(a, b)
    var sum = 0.0; var i = 0
    while (i < n) { sum += math.abs(a.getFloat(i).toDouble - b.getFloat(i).toDouble); i += 1 }
    sum
  }

  // ---- long-tail kernels: the only implementation of each metric.

  /** max |aᵢ−bᵢ|. */
  def chebyshevData(a: ArrayData, b: ArrayData): Double = {
    val n = checkedDim(a, b)
    var m = 0.0; var i = 0
    while (i < n) {
      val d = math.abs(a.getFloat(i).toDouble - b.getFloat(i).toDouble)
      if (d > m) m = d
      i += 1
    }
    m
  }

  /** p ≤ 0 / NaN / Inf error; p = 1, 2 and > 1e10 shortcut to L1, L2 and
    * Chebyshev (NeuronDB/src/core/distance.c:290-369). */
  def minkowskiData(a: ArrayData, b: ArrayData, p: Double): Double = {
    val n = checkedDim(a, b)
    if (p <= 0 || p.isNaN || p.isInfinite)
      throw new IllegalArgumentException("p must be positive and finite")
    if (p == 1.0) l1Data(a, b)
    else if (p == 2.0) l2Data(a, b)
    else if (p > 1e10) chebyshevData(a, b)
    else {
      var sum = 0.0; var i = 0
      while (i < n) {
        sum += math.pow(math.abs(a.getFloat(i).toDouble - b.getFloat(i).toDouble), p)
        i += 1
      }
      math.pow(sum, 1.0 / p)
    }
  }

  /** Count of unequal FLOAT coordinates (NaN ≠ NaN), as a double
    * (NeuronDB/src/core/distance.c:218-252). */
  def hammingData(a: ArrayData, b: ArrayData): Double = {
    val n = checkedDim(a, b)
    var c = 0; var i = 0
    while (i < n) { if (a.getFloat(i) != b.getFloat(i)) c += 1; i += 1 }
    c.toDouble
  }

  private final val NonZeroEps = 1e-10

  /** Set-style Jaccard over the |x|>1e-10 support; empty union → 0.0
    * (NeuronDB/src/vector/vector_distance.c:453-496). */
  def jaccardData(a: ArrayData, b: ArrayData): Double = {
    val n = checkedDim(a, b)
    var inter = 0; var union = 0; var i = 0
    while (i < n) {
      val an = math.abs(a.getFloat(i).toDouble) > NonZeroEps
      val bn = math.abs(b.getFloat(i).toDouble) > NonZeroEps
      if (an && bn) inter += 1
      if (an || bn) union += 1
      i += 1
    }
    if (union == 0) 0.0 else 1.0 - inter.toDouble / union
  }

  /** (NeuronDB/src/vector/vector_distance.c:497-543) */
  def diceData(a: ArrayData, b: ArrayData): Double = {
    val n = checkedDim(a, b)
    var inter = 0; var ca = 0; var cb = 0; var i = 0
    while (i < n) {
      val an = math.abs(a.getFloat(i).toDouble) > NonZeroEps
      val bn = math.abs(b.getFloat(i).toDouble) > NonZeroEps
      if (an && bn) inter += 1
      if (an) ca += 1
      if (bn) cb += 1
      i += 1
    }
    if (ca == 0 && cb == 0) 0.0
    else if (ca == 0 || cb == 0) 1.0
    else 1.0 - 2.0 * inter / (ca + cb)
  }

  /** Σ|a−b| / Σ|a+b|; zero denominator errors
    * (exercised by NeuronDB/sql/03_distance_metrics.sql:138-151). */
  def brayCurtisData(a: ArrayData, b: ArrayData): Double = {
    val n = checkedDim(a, b)
    var num = 0.0; var den = 0.0; var i = 0
    while (i < n) {
      val x = a.getFloat(i).toDouble; val y = b.getFloat(i).toDouble
      num += math.abs(x - y); den += math.abs(x + y)
      i += 1
    }
    if (den == 0.0)
      throw new IllegalArgumentException("bray-curtis distance undefined for zero denominator")
    num / den
  }

  /** Σ(|a−b|/(|a|+|b|)) skipping both-zero coords; all-zero errors
    * (exercised by NeuronDB/sql/03_distance_metrics.sql:157-169). */
  def canberraData(a: ArrayData, b: ArrayData): Double = {
    val n = checkedDim(a, b)
    var sum = 0.0; var anyNonZero = false; var i = 0
    while (i < n) {
      val x = math.abs(a.getFloat(i).toDouble); val y = math.abs(b.getFloat(i).toDouble)
      if (x + y > 0.0) {
        anyNonZero = true
        sum += math.abs(a.getFloat(i).toDouble - b.getFloat(i).toDouble) / (x + y)
      }
      i += 1
    }
    if (!anyNonZero)
      throw new IllegalArgumentException("canberra distance undefined for all-zero vectors")
    sum
  }

  /** Simple matching distance (n10+n01)/dim
    * (NeuronDB/sql/03_distance_metrics.sql:180). */
  def sokalMichenerData(a: ArrayData, b: ArrayData): Double = {
    val n = checkedDim(a, b)
    var r = 0; var i = 0
    while (i < n) {
      val an = math.abs(a.getFloat(i).toDouble) > NonZeroEps
      val bn = math.abs(b.getFloat(i).toDouble) > NonZeroEps
      if (an != bn) r += 1
      i += 1
    }
    if (n == 0) 0.0 else r.toDouble / n
  }

  /** 2R/(S+2R), R = mismatches, S = matches
    * (NeuronDB/sql/03_distance_metrics.sql:183). */
  def rogersTanimotoData(a: ArrayData, b: ArrayData): Double = {
    val n = checkedDim(a, b)
    var r = 0; var i = 0
    while (i < n) {
      val an = math.abs(a.getFloat(i).toDouble) > NonZeroEps
      val bn = math.abs(b.getFloat(i).toDouble) > NonZeroEps
      if (an != bn) r += 1
      i += 1
    }
    val denom = (n - r) + 2.0 * r
    if (denom == 0.0) 0.0 else 2.0 * r / denom
  }

  /** 1 − n11/dim (NeuronDB/sql/03_distance_metrics.sql:189-191). */
  def russellRaoData(a: ArrayData, b: ArrayData): Double = {
    val n = checkedDim(a, b)
    var n11 = 0; var i = 0
    while (i < n) {
      val an = math.abs(a.getFloat(i).toDouble) > NonZeroEps
      val bn = math.abs(b.getFloat(i).toDouble) > NonZeroEps
      if (an && bn) n11 += 1
      i += 1
    }
    if (n == 0) 0.0 else 1.0 - n11.toDouble / n
  }

  /** Matching coefficient similarity (n11+n00)/dim
    * (NeuronDB/sql/03_distance_metrics.sql:192). */
  def matchingCoefficientData(a: ArrayData, b: ArrayData): Double = {
    val n = checkedDim(a, b)
    var same = 0; var i = 0
    while (i < n) {
      val an = math.abs(a.getFloat(i).toDouble) > NonZeroEps
      val bn = math.abs(b.getFloat(i).toDouble) > NonZeroEps
      if (an == bn) same += 1
      i += 1
    }
    if (n == 0) 0.0 else same.toDouble / n
  }

  /** Σ vᵢ² in double, plain accumulation — exactly the `na`/`nb`
    * accumulator of [[cosineData]], hoisted to a per-row invariant.
    * Same null-element contract as the binary kernels. */
  def normSqData(a: ArrayData): Double = {
    var i = 0
    val n = a.numElements()
    var sum = 0.0
    while (i < n) {
      if (a.isNullAt(i))
        throw new IllegalArgumentException(s"vector contains a null element at index $i")
      val v = a.getFloat(i).toDouble
      sum += v * v
      i += 1
    }
    sum
  }

  private def toCol(e: Expression): Column =
    org.apache.spark.sql.classic.GraftShim.column(e)
  private def ex(c: Column): Expression =
    org.apache.spark.sql.classic.GraftShim.expression(c)

  def l2(a: Column, b: Column): Column = toCol(L2DistanceExpr(ex(a), ex(b)))
  def cosine(a: Column, b: Column): Column = toCol(CosineDistanceExpr(ex(a), ex(b)))
  def innerProduct(a: Column, b: Column): Column = toCol(InnerProductExpr(ex(a), ex(b)))
  def dot(a: Column, b: Column): Column = toCol(DotProductExpr(ex(a), ex(b)))
  def l1(a: Column, b: Column): Column = toCol(L1DistanceExpr(ex(a), ex(b)))
  def normSq(a: Column): Column = toCol(NormSqExpr(ex(a)))
  def squaredL2(a: Column, b: Column): Column = toCol(SquaredL2DistanceExpr(ex(a), ex(b)))
  def chebyshev(a: Column, b: Column): Column = toCol(ChebyshevDistanceExpr(ex(a), ex(b)))
  def hamming(a: Column, b: Column): Column = toCol(HammingDistanceExpr(ex(a), ex(b)))
  def jaccard(a: Column, b: Column): Column = toCol(JaccardDistanceExpr(ex(a), ex(b)))
  def dice(a: Column, b: Column): Column = toCol(DiceDistanceExpr(ex(a), ex(b)))
  def brayCurtis(a: Column, b: Column): Column = toCol(BrayCurtisDistanceExpr(ex(a), ex(b)))
  def canberra(a: Column, b: Column): Column = toCol(CanberraDistanceExpr(ex(a), ex(b)))
  def sokalMichener(a: Column, b: Column): Column = toCol(SokalMichenerDistanceExpr(ex(a), ex(b)))
  def rogersTanimoto(a: Column, b: Column): Column = toCol(RogersTanimotoDistanceExpr(ex(a), ex(b)))
  def russellRao(a: Column, b: Column): Column = toCol(RussellRaoDistanceExpr(ex(a), ex(b)))
  def matchingCoefficient(a: Column, b: Column): Column = toCol(MatchingCoefficientExpr(ex(a), ex(b)))
  def minkowski(a: Column, b: Column, p: Column): Column = toCol(MinkowskiDistanceExpr(ex(a), ex(b), ex(p)))

  private def fn[T <: Expression : ClassTag](name: String)
      : (String, (ExpressionInfo, Seq[Expression] => Expression)) =
    name -> FunctionRegistryBase.build[T](name, None)

  /** SQL name → native expression builder, one entry per metric: the
    * whole SQL distance surface (Spark's own reflective builder, so a
    * wrong argument count fails analysis like any built-in's). */
  val sqlFunctions: Seq[(String, (ExpressionInfo, Seq[Expression] => Expression))] = Seq(
    fn[L2DistanceExpr]("vector_l2_distance"),
    fn[SquaredL2DistanceExpr]("vector_squared_l2_distance"),
    fn[CosineDistanceExpr]("vector_cosine_distance"),
    fn[InnerProductExpr]("vector_inner_product"),
    fn[DotProductExpr]("vector_dot"),
    fn[L1DistanceExpr]("vector_l1_distance"),
    fn[ChebyshevDistanceExpr]("vector_chebyshev_distance"),
    fn[HammingDistanceExpr]("vector_hamming_distance"),
    fn[MinkowskiDistanceExpr]("vector_minkowski_distance"),
    fn[JaccardDistanceExpr]("vector_jaccard_distance"),
    fn[DiceDistanceExpr]("vector_dice_distance"),
    fn[BrayCurtisDistanceExpr]("vector_bray_curtis_distance"),
    fn[CanberraDistanceExpr]("vector_canberra_distance"),
    fn[SokalMichenerDistanceExpr]("vector_sokal_michener_distance"),
    fn[RogersTanimotoDistanceExpr]("vector_rogers_tanimoto_distance"),
    fn[RussellRaoDistanceExpr]("vector_russell_rao_distance"),
    fn[MatchingCoefficientExpr]("vector_matching_coefficient"))

  /** Register [[sqlFunctions]] in the session's function registry. */
  def register(spark: SparkSession): Unit = {
    val registry = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.functionRegistry
    sqlFunctions.foreach { case (name, (info, builder)) =>
      registry.registerFunction(FunctionIdentifier(name), info, builder)
    }
  }

  /** Cosine distance assembled from a precomputed dot product and the
    * two sides' precomputed squared norms — the SAME double operations
    * in the SAME order as [[cosineData]]'s combine step
    * (`1.0 - d / (sqrt(na) * sqrt(nb))`, zero-norm → 1.0), so a pair
    * join that hoists `normSq` per row and evaluates only the dot per
    * pair returns bit-identical distances at roughly a third of the
    * per-pair flops (guide §1.2). */
  def cosineFromParts(d: Column, naSq: Column, nbSq: Column): Column = {
    import org.apache.spark.sql.functions.{lit, sqrt, when}
    when(naSq === lit(0.0) || nbSq === lit(0.0), lit(1.0))
      .otherwise(lit(1.0) - d / (sqrt(naSq) * sqrt(nbSq)))
  }
}
