package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.types.{AbstractDataType, ArrayType, DataType, DoubleType, FloatType}

/** Native Catalyst expressions for the embedding hot path.
  *
  * Lives under org.apache.spark.sql because `AbstractDataType` and the
  * Column<->Expression bridge (`classic.ExpressionUtils`) are
  * private[sql]; this is the conventional extension-bridge pattern.
  *
  * The higher-order-function formulation (`aggregate(zip_with(...))`)
  * evaluates interpreted with per-element boxing — fine for one pass over
  * a table, ruinous inside an all-pairs join (12.5M pairs × 64 floats at
  * sf0.1; billions at 100 TB). These expressions participate in
  * whole-stage codegen: a tight primitive loop over the two float arrays.
  *
  * Semantics are EXACTLY the HOF chain's, for every input — that is what
  * makes [[RewriteVectorHofs]] a sound session-wide rule without needing
  * a containsNull guard (parquet array columns read as containsNull=true,
  * so such a guard would disable the rewrite on every real table):
  *  - accumulation is sequential in index order, in double precision —
  *    bit-identical to the interpreted chain and DuckDB's list_sum;
  *  - a NULL array yields NULL (standard null propagation);
  *  - ragged inputs yield NULL (zip_with null-pads the shorter side and
  *    `acc + NULL` poisons the aggregate);
  *  - any NULL element yields NULL (same poisoning).
  */
case class DotF32(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(FloatType), ArrayType(FloatType))
  override def dataType: DataType = DoubleType
  // NULL also surfaces for ragged/null-element inputs, not just null inputs.
  override def nullable: Boolean = true
  override def prettyName: String = "dot_f32"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    if (n != y.numElements()) return null
    var s = 0.0
    var i = 0
    while (i < n) {
      if (x.isNullAt(i) || y.isNullAt(i)) return null
      s += x.getFloat(i).toDouble * y.getFloat(i).toDouble
      i += 1
    }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val s = ctx.freshName("s")
      val bad = ctx.freshName("bad")
      s"""
         |int $n = $a.numElements();
         |boolean $bad = $n != $b.numElements();
         |double $s = 0.0;
         |if (!$bad) {
         |  for (int $i = 0; $i < $n; $i++) {
         |    if ($a.isNullAt($i) || $b.isNullAt($i)) { $bad = true; break; }
         |    $s += ((double) $a.getFloat($i)) * ((double) $b.getFloat($i));
         |  }
         |}
         |if ($bad) { ${ev.isNull} = true; } else { ${ev.value} = $s; }
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** sqrt(sum(x_i^2)) over a float array — the L2 norm, same codegen and
  * null-semantics story as [[DotF32]].
  */
case class NormF32(child: Expression) extends UnaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(FloatType))
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "norm_f32"

  override def nullSafeEval(a: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    var s = 0.0
    var i = 0
    while (i < x.numElements()) {
      if (x.isNullAt(i)) return null
      val v = x.getFloat(i).toDouble
      s += v * v
      i += 1
    }
    math.sqrt(s)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val i = ctx.freshName("i")
      val s = ctx.freshName("s")
      val v = ctx.freshName("v")
      val bad = ctx.freshName("bad")
      s"""
         |boolean $bad = false;
         |double $s = 0.0;
         |for (int $i = 0; $i < $a.numElements(); $i++) {
         |  if ($a.isNullAt($i)) { $bad = true; break; }
         |  double $v = (double) $a.getFloat($i);
         |  $s += $v * $v;
         |}
         |if ($bad) { ${ev.isNull} = true; } else { ${ev.value} = java.lang.Math.sqrt($s); }
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Row-vector × matrix for a float embedding against a d×d DOUBLE
  * matrix literal (an OPQ rotation): out[p] = float(Σ_i x[i]·R[i][p]),
  * accumulated in index order in doubles, output cast to float — the
  * engine's embedding storage type, so a rotated corpus column is
  * interchangeable with a stored one. One node, d² multiply-adds per
  * row in a primitive loop (the HOF formulation would allocate per
  * output element). NULL array / NULL element / dimension mismatch →
  * NULL (the [[DotF32]] convention). Interpreted eval only (the d²
  * literal matrix makes codegen constant tables awkward); rotation is
  * a once-per-corpus ETL step, not an inner-join hot path.
  */
case class MatVecF32(child: Expression, matrix: Seq[Seq[Double]])
    extends UnaryExpression with ExpectsInputTypes
    with org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback {

  @transient private lazy val m: Array[Array[Double]] = matrix.map(_.toArray).toArray

  override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(FloatType))
  override def dataType: DataType = ArrayType(FloatType, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "matvec_f32"

  override def nullSafeEval(a: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val d = m.length
    if (x.numElements() != d) return null
    val xv = new Array[Double](d)
    var i = 0
    while (i < d) {
      if (x.isNullAt(i)) return null
      xv(i) = x.getFloat(i).toDouble
      i += 1
    }
    val out = new Array[Float](d)
    var p = 0
    while (p < d) {
      var s = 0.0
      var j = 0
      while (j < d) { s += xv(j) * m(j)(p); j += 1 }
      out(p) = s.toFloat
      p += 1
    }
    org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(out)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Column builders for the native expressions. */
object VectorExpressions {
  def dotF32(a: Column, b: Column): Column =
    ExpressionUtils.column(DotF32(ExpressionUtils.expression(a), ExpressionUtils.expression(b)))
  def normF32(a: Column): Column =
    ExpressionUtils.column(NormF32(ExpressionUtils.expression(a)))
  /** The catalog's cosine: the dot product over the two precomputed
    * norms, rounded HALF_UP to 6 dp — the score every kNN/ANN path and
    * its DuckDB oracle order by.
    */
  def roundedCosine(a: Column, b: Column, normA: Column, normB: Column): Column =
    org.apache.spark.sql.functions.round(dotF32(a, b) / (normA * normB), 6)
  def matVecF32(a: Column, matrix: Array[Array[Double]]): Column =
    ExpressionUtils.column(MatVecF32(ExpressionUtils.expression(a), matrix.map(_.toSeq).toSeq))
}
