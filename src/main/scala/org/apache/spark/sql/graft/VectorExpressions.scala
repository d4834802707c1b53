// Lives under org.apache.spark.sql so the expressions can implement the
// private[sql] typing contract (AbstractDataType / ExpectsInputTypes) and
// bridge Expression <-> Column — the standard packaging for third-party
// native expressions; everything used is Spark's own extension surface.
package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpectsInputTypes, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, SQLOrderingUtil}
import org.apache.spark.sql.classic.ExpressionUtils.column
import org.apache.spark.sql.types.{AbstractDataType, ArrayType, DataType, DoubleType, FloatType, IntegerType, LongType, StructField, StructType}

/** Native Catalyst expressions for the vector hot path.
  *
  * The SQL-lambda formulation (`aggregate(zip_with(a, b, ...), ...)`)
  * allocates a zipped array and evaluates two lambdas per element in
  * interpreted mode — fine at 500 vectors, a bottleneck at 10⁹. These
  * expressions generate a tight primitive loop via `doGenCode` (the
  * preferred extension order from the build brief: native Expression >
  * UDF), keeping the whole projection inside whole-stage codegen with
  * zero boxing.
  *
  * Semantics are IDENTICAL to the lambda fold the DuckDB oracle mirrors:
  * sequential left-to-right double accumulation over the array order —
  * bit-for-bit the same result, so oracled queries can swap
  * implementations without value drift.
  */
object VectorExpressions {

  /** Σ aᵢ·bᵢ over two float arrays, double accumulator. Null if either
    * side is null; mismatched lengths fold over the shorter (callers in
    * this engine always pass equal-length embeddings). */
  case class FloatVectorDot(left: Expression, right: Expression)
      extends BinaryExpression with ExpectsInputTypes {
    override def inputTypes: Seq[AbstractDataType] =
      Seq(ArrayType(FloatType), ArrayType(FloatType))
    override def dataType: DataType = DoubleType
    override def prettyName: String = "vec_dot"

    override protected def nullSafeEval(a: Any, b: Any): Any =
      dot(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, (x, y) => {
        val acc = ctx.freshName("acc")
        s"""
           |${dotCode(ctx, x, y, acc)}
           |${ev.value} = $acc;
         """.stripMargin
      })

    override protected def withNewChildrenInternal(
        newLeft: Expression, newRight: Expression): FloatVectorDot =
      copy(left = newLeft, right = newRight)
  }

  /** √(Σ aᵢ²) over a float array, double accumulator. */
  case class FloatVectorNorm(child: Expression)
      extends UnaryExpression with ExpectsInputTypes {
    override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(FloatType))
    override def dataType: DataType = DoubleType
    override def prettyName: String = "vec_norm"

    override protected def nullSafeEval(a: Any): Any = norm(a.asInstanceOf[ArrayData])

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, x => normCode(ctx, x, ev.value))

    override protected def withNewChildInternal(newChild: Expression): FloatVectorNorm =
      copy(child = newChild)
  }

  /** Nearest codebook entry of a float vector: the `id` of the best
    * entry of `codebook: array<struct<id: int|long, vec: array<float>,
    * norm: double>>`, one primitive loop per row (dot = vec_dot's fold).
    * Two scorings over the same loop:
    *  - PQ (`cosine = false`, norm = ‖c‖²): argmin of `norm − 2.0·dot`.
    *    Null for an empty codebook, as `min_by` over no rows.
    *  - IVF (`cosine = true`, norm = ‖c‖): argmax of `dot / (‖vec‖·norm)`
    *    with ‖vec‖ = vec_norm's fold. A score must beat −∞ to count, so
    *    the result is −1 when none does — the strict-improvement fold
    *    from (−∞, −1).
    * Ties go to the lowest id in either scoring, whatever the array
    * order. Scores compare with `SQLOrderingUtil.compareDoubles` (NaN
    * greatest, −0.0 = +0.0), the ordering of Spark's struct comparison
    * and of `>`, so the result is bit-identical to
    * `min_by(id, struct(score, id))` over the joined rows (PQ) and to the
    * `when(score > best)` fold over ascending ids (IVF). Codebook entries
    * and their fields must be non-null. */
  case class NearestCentroid(left: Expression, right: Expression, cosine: Boolean)
      extends BinaryExpression {
    override def prettyName: String = "nearest_centroid"
    override def nullable: Boolean = !cosine || super.nullable

    override def checkInputDataTypes(): TypeCheckResult = (left.dataType, right.dataType) match {
      case (ArrayType(FloatType, _), ArrayType(StructType(Array(
          StructField(_, IntegerType | LongType, _, _),
          StructField(_, ArrayType(FloatType, _), _, _),
          StructField(_, DoubleType, _, _))), _)) => TypeCheckResult.TypeCheckSuccess
      case (v, cb) => TypeCheckResult.TypeCheckFailure(
        s"nearest_centroid(array<float>, array<struct<id: int|long, vec: array<float>, " +
          s"norm: double>>) got (${v.simpleString}, ${cb.simpleString})")
    }

    override def dataType: DataType =
      right.dataType.asInstanceOf[ArrayType].elementType.asInstanceOf[StructType].head.dataType

    override protected def nullSafeEval(v: Any, cb: Any): Any = {
      val x = v.asInstanceOf[ArrayData]
      val c = cb.asInstanceOf[ArrayData]
      val intIds = dataType == IntegerType
      val qn = if (cosine) norm(x) else 0.0
      var found = false
      var best = Double.NegativeInfinity
      var bestId = -1L
      var i = 0
      while (i < c.numElements()) {
        val e = c.getStruct(i, 3)
        val d = dot(x, e.getArray(1))
        val s = if (cosine) d / (qn * e.getDouble(2)) else e.getDouble(2) - 2.0 * d
        val cmp = if (cosine) SQLOrderingUtil.compareDoubles(s, best)
          else SQLOrderingUtil.compareDoubles(best, s)
        val id = if (intIds) e.getInt(0).toLong else e.getLong(0)
        if (if (found) cmp > 0 || cmp == 0 && id < bestId else !cosine || cmp > 0) {
          found = true; best = s; bestId = id
        }
        i += 1
      }
      if (!found && !cosine) null else if (intIds) bestId.toInt else bestId
    }

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, (x, cb) => {
        val idType = CodeGenerator.javaType(dataType)
        val Seq(qn, found, best, bestId, i, e, d, s, cmp, id) =
          Seq("qn", "found", "best", "bestId", "i", "e", "d", "s", "cmp", "id").map(ctx.freshName)
        val score = if (cosine) s"$d / ($qn * $e.getDouble(2))" else s"$e.getDouble(2) - 2.0 * $d"
        val compare = "org.apache.spark.sql.catalyst.util.SQLOrderingUtil.compareDoubles"
        val (a, b) = if (cosine) (s, best) else (best, s)
        s"""
           |double $qn = 0.0;
           |${if (cosine) normCode(ctx, x, qn) else ""}
           |boolean $found = false;
           |double $best = Double.NEGATIVE_INFINITY;
           |$idType $bestId = -1;
           |for (int $i = 0; $i < $cb.numElements(); $i++) {
           |  InternalRow $e = $cb.getStruct($i, 3);
           |  ${dotCode(ctx, x, s"$e.getArray(1)", d)}
           |  double $s = $score;
           |  int $cmp = $compare($a, $b);
           |  $idType $id = ${CodeGenerator.getValue(e, dataType, "0")};
           |  if ($found ? ($cmp > 0 || ($cmp == 0 && $id < $bestId)) : ${if (cosine) s"$cmp > 0" else "true"}) {
           |    $found = true; $best = $s; $bestId = $id;
           |  }
           |}
           |${ev.value} = $bestId;
           |${if (cosine) "" else s"${ev.isNull} = !$found;"}
         """.stripMargin
      })

    override protected def withNewChildrenInternal(
        newLeft: Expression, newRight: Expression): NearestCentroid =
      copy(left = newLeft, right = newRight)
  }

  private def dot(x: ArrayData, y: ArrayData): Double = {
    val n = math.min(x.numElements(), y.numElements())
    var acc = 0.0
    var i = 0
    while (i < n) {
      acc += x.getFloat(i).toDouble * y.getFloat(i).toDouble
      i += 1
    }
    acc
  }

  private def norm(x: ArrayData): Double = {
    var acc = 0.0
    var i = 0
    while (i < x.numElements()) {
      val v = x.getFloat(i).toDouble
      acc += v * v
      i += 1
    }
    math.sqrt(acc)
  }

  /** Java declaring `double acc` = Σ xᵢ·yᵢ (the [[dot]] fold). */
  private def dotCode(ctx: CodegenContext, x: String, y: String, acc: String): String = {
    val (ya, n, i) = (ctx.freshName("y"), ctx.freshName("n"), ctx.freshName("i"))
    s"""
       |ArrayData $ya = $y;
       |int $n = java.lang.Math.min($x.numElements(), $ya.numElements());
       |double $acc = 0.0;
       |for (int $i = 0; $i < $n; $i++) {
       |  $acc += ((double) $x.getFloat($i)) * ((double) $ya.getFloat($i));
       |}""".stripMargin
  }

  /** Java assigning `acc` (already declared) = √(Σ xᵢ²) (the [[norm]] fold). */
  private def normCode(ctx: CodegenContext, x: String, acc: String): String = {
    val (sq, i, v) = (ctx.freshName("sq"), ctx.freshName("i"), ctx.freshName("v"))
    s"""
       |double $sq = 0.0;
       |for (int $i = 0; $i < $x.numElements(); $i++) {
       |  double $v = (double) $x.getFloat($i);
       |  $sq += $v * $v;
       |}
       |$acc = java.lang.Math.sqrt($sq);""".stripMargin
  }

  /** Column-API entry points. */
  def vecDot(a: Column, b: Column): Column = column(FloatVectorDot(expr(a), expr(b)))
  def vecNorm(a: Column): Column = column(FloatVectorNorm(expr(a)))
  def nearestCentroid(vec: Column, codebook: Column, cosine: Boolean): Column =
    column(NearestCentroid(expr(vec), expr(codebook), cosine))

  private def expr(c: Column): Expression =
    org.apache.spark.sql.classic.ExpressionUtils.expression(c)
}
