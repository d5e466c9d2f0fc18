package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, ExpectsInputTypes, Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, IntegerType}

/**
 * Native Catalyst expression for the similarity hot loop (SURVEY §2.9 /
 * the custom-operator preference order: a codegen'd `Expression` beats
 * composing higher-order functions once the operator is the per-row
 * bottleneck — `zip_with`+`aggregate` are CodegenFallback, so every
 * candidate pair paid interpreted-lambda dispatch per element).
 *
 * Semantics are bit-identical to the fold it replaces (and to the
 * DuckDB oracle): a strict left-to-right sum starting at 0.0 —
 * `(((0.0 + x₁y₁) + x₂y₂) + …)` — so hash-compared cosines are
 * unchanged. Norm is `sqrt(dot(v, v))`, the same fold.
 */
case class DotProduct(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {

  // return type inferred (Seq[ArrayType] <: Seq[AbstractDataType],
  // which is private[sql] and can't be named here)
  override def inputTypes = Seq(ArrayType(DoubleType), ArrayType(DoubleType))
  override def dataType: DataType = DoubleType
  override def prettyName: String = "dot_product"

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var acc = 0.0
    var i = 0
    while (i < n) { acc += x.getDouble(i) * y.getDouble(i); i += 1 }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (x, y) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      s"""
         |int $n = java.lang.Math.min($x.numElements(), $y.numElements());
         |${ev.value} = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  ${ev.value} += $x.getDouble($i) * $y.getDouble($i);
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): DotProduct =
    copy(left = newLeft, right = newRight)
}

/**
 * PQ sub-distance table for subspace `sub`: the full array of squared
 * L2 distances between a vector's dims [sub·d, (sub+1)·d) and every
 * cell of the frozen sub-codebook ([[graft.operators.PqCodebooks]]) —
 * one expression computing what was previously |cells| = 64 separate
 * `aggregate(zip_with(slice(v), cent), 0.0, (acc, x) -> acc + x)`
 * trees. Those higher-order functions are CodegenFallback, so every
 * row paid 64 interpreted folds × d lambda dispatches (guide §4: no
 * interpreted expressions in the hot path); this kernel is one
 * generated loop nest.
 *
 * Semantics are bit-identical to the HOF formulation it replaces (and
 * to the DuckDB oracle's `fsum` mirror): per cell, a strict
 * left-to-right sum of (x−c)² starting at 0.0 in dimension order.
 * Degenerate inputs mirror the HOF null algebra: a vector too short
 * for the subspace, or a null element inside it, yields an
 * all-null distance array (zip_with pads with null → null products →
 * null fold), and a null vector yields null.
 */
case class PqDistArray(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {

  override def inputTypes = Seq(ArrayType(DoubleType), IntegerType)
  override def dataType: DataType = ArrayType(DoubleType, containsNull = true)
  override def prettyName: String = "pq_dist_array"
  override def foldable: Boolean = false

  /** The subspace is read once, as a constant: it must be a non-null
    * integer literal naming one of the frozen sub-codebooks. */
  override def checkInputDataTypes(): TypeCheckResult = super.checkInputDataTypes() match {
    case TypeCheckResult.TypeCheckSuccess =>
      val n = graft.operators.PqCodebooks.Nums.length
      val ok = right.foldable && (right.eval() match {
        case s: Int => s >= 0 && s < n
        case _ => false
      })
      if (ok) TypeCheckResult.TypeCheckSuccess
      else TypeCheckResult.TypeCheckFailure(
        s"$prettyName: the subspace (second argument) must be a constant integer in [0, $n), got ${right.sql}")
    case failure => failure
  }

  private lazy val sub: Int = right.eval().asInstanceOf[Int]
  private lazy val cents: Array[Array[Double]] =
    graft.operators.PqCodebooks.Nums(sub)
      .map(_.map(_ / (1L << 20).toDouble).toArray).toArray
  private lazy val subDims: Int = cents(0).length
  private lazy val offset: Int = sub * subDims

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val v = a.asInstanceOf[ArrayData]
    var bad = v.numElements() < offset + subDims
    if (!bad) {
      var i = 0
      while (!bad && i < subDims) { bad = v.isNullAt(offset + i); i += 1 }
    }
    if (bad) new GenericArrayData(new Array[Any](cents.length))
    else {
      val out = new Array[Double](cents.length)
      var c = 0
      while (c < cents.length) {
        val cc = cents(c)
        var acc = 0.0
        var i = 0
        while (i < subDims) {
          val d = v.getDouble(offset + i) - cc(i)
          acc += d * d
          i += 1
        }
        out(c) = acc
        c += 1
      }
      new GenericArrayData(out)
    }
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val centsRef = ctx.addReferenceObj("pqCents", cents, "double[][]")
    val gad = classOf[GenericArrayData].getName
    nullSafeCodeGen(ctx, ev, (v, _) => {
      val bad = ctx.freshName("bad")
      val i = ctx.freshName("i")
      val c = ctx.freshName("c")
      val acc = ctx.freshName("acc")
      val d = ctx.freshName("d")
      val out = ctx.freshName("out")
      val cc = ctx.freshName("cc")
      s"""
         |boolean $bad = $v.numElements() < ${offset + subDims};
         |if (!$bad) {
         |  for (int $i = 0; $i < $subDims; $i++) {
         |    if ($v.isNullAt($offset + $i)) { $bad = true; break; }
         |  }
         |}
         |if ($bad) {
         |  ${ev.value} = new $gad(new Object[${cents.length}]);
         |} else {
         |  double[] $out = new double[${cents.length}];
         |  for (int $c = 0; $c < ${cents.length}; $c++) {
         |    double[] $cc = $centsRef[$c];
         |    double $acc = 0.0;
         |    for (int $i = 0; $i < $subDims; $i++) {
         |      double $d = $v.getDouble($offset + $i) - $cc[$i];
         |      $acc += $d * $d;
         |    }
         |    $out[$c] = $acc;
         |  }
         |  ${ev.value} = new $gad($out);
         |}
       """.stripMargin
    })
  }

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): PqDistArray =
    copy(left = newLeft, right = newRight)
}

object VectorExpressions {

  /** Column face of [[DotProduct]] — resolved through the session
    * catalog (the extension-injected builder), which is the public way
    * to reach a custom Expression from the Column API in Spark 4. */
  def dotProduct(a: Column, b: Column): Column =
    call_function("dot_product", a, b)

  /** Column face of [[PqDistArray]]; `sub` must be a literal subspace
    * index into the frozen codebooks. */
  def pqDistArray(v: Column, sub: Int): Column =
    call_function("pq_dist_array", v, org.apache.spark.sql.functions.lit(sub))

  /** Registration triple for [[PqDistArray]]. */
  val pqDistArrayRegistration: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("pq_dist_array"),
    new ExpressionInfo(classOf[PqDistArray].getName, "pq_dist_array"),
    (children: Seq[Expression]) => {
      require(children.size == 2, "pq_dist_array takes exactly 2 arguments")
      PqDistArray(children.head, children(1))
    })

  /** Registration triple for `SparkSessionExtensions.injectFunction` —
    * makes `dot_product(a, b)` available to `spark.sql(...)`. */
  val dotProductRegistration: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("dot_product"),
    new ExpressionInfo(classOf[DotProduct].getName, "dot_product"),
    (children: Seq[Expression]) => {
      require(children.size == 2, "dot_product takes exactly 2 arguments")
      DotProduct(children.head, children(1))
    })
}
