// Lives under org.apache.spark.sql for the same reason as
// VectorExpressions: ExpectsInputTypes and the Expression <-> Column bridge
// are Spark's own extension surface.
package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, MathUtils}
import org.apache.spark.sql.classic.ExpressionUtils.{column, expression}
import org.apache.spark.sql.types.{AbstractDataType, ArrayType, DataType, LongType}

/** Native Catalyst expressions that build a near-duplicate signature
  * from a document's trigram-value set in one row-local primitive loop. */
object SignatureExpressions {

  /** SimHash signature of a `set: array<bigint>` under the per-bit hash
    * family hᵢ(v) = ((aᵢ·v + bᵢ) % p) % 2: bit i is set iff
    * Σᵥ (hᵢ(v) == 1 ? 1 : −1) ≥ 0. A null element counts −1 on every
    * bit, as `when(null, 1).otherwise(-1)` does; an empty set has all
    * sums 0, so every bit is set. Null set → null.
    *
    * The arithmetic is the ANSI expression `((a * v + b) % p) % 2 = 1`
    * over bigints: `%` is Java's long remainder (Spark's `Remainder`),
    * and the product and sum go through [[MathUtils]]' exact operations,
    * so a value whose aᵢ·v overflows throws the ANSI
    * `ARITHMETIC_OVERFLOW` error instead of wrapping. Integer sums do
    * not depend on element order, so the result is bit-identical to
    * the 64 `sum(when(...))` aggregates over the exploded set. */
  case class SimHash(child: Expression, a: Seq[Long], b: Seq[Long], p: Long)
      extends UnaryExpression with ExpectsInputTypes {
    require(a.length == b.length && a.length <= 64 && p != 0L,
      s"simhash needs ≤ 64 (a, b) pairs and p ≠ 0, got ${a.length}/${b.length}, p = $p")

    @transient private lazy val as = a.toArray
    @transient private lazy val bs = b.toArray

    override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(LongType))
    override def dataType: DataType = LongType
    override def prettyName: String = "simhash"
    // the 128 constants would flood every plan string
    override def stringArgs: Iterator[Any] = Iterator(child, s"${a.length} bits", s"p=$p")

    override protected def nullSafeEval(set: Any): Any = {
      val xs = set.asInstanceOf[ArrayData]
      var sig = 0L
      var i = 0
      while (i < as.length) {
        var sum = 0
        var j = 0
        while (j < xs.numElements()) {
          sum += (if (!xs.isNullAt(j) &&
            MathUtils.addExact(MathUtils.multiplyExact(as(i), xs.getLong(j)), bs(i)) % p % 2L == 1L) 1
            else -1)
          j += 1
        }
        if (sum >= 0) sig |= 1L << i
        i += 1
      }
      sig
    }

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val aRef = ctx.addReferenceObj("simA", as, "long[]")
      val bRef = ctx.addReferenceObj("simB", bs, "long[]")
      val mu = "org.apache.spark.sql.catalyst.util.MathUtils"
      nullSafeCodeGen(ctx, ev, xs => {
        val Seq(sig, i, sum, j) = Seq("sig", "i", "sum", "j").map(ctx.freshName)
        s"""
           |long $sig = 0L;
           |for (int $i = 0; $i < $aRef.length; $i++) {
           |  int $sum = 0;
           |  for (int $j = 0; $j < $xs.numElements(); $j++) {
           |    $sum += !$xs.isNullAt($j) &&
           |      $mu.addExact($mu.multiplyExact($aRef[$i], $xs.getLong($j)), $bRef[$i])
           |        % ${p}L % 2L == 1L ? 1 : -1;
           |  }
           |  if ($sum >= 0) $sig |= 1L << $i;
           |}
           |${ev.value} = $sig;
         """.stripMargin
      })
    }

    override protected def withNewChildInternal(newChild: Expression): SimHash =
      copy(child = newChild)
  }

  /** Column-API entry point: `simhash(set, a, b, p)`. */
  def simhash(set: Column, a: Seq[Long], b: Seq[Long], p: Long): Column =
    column(SimHash(expression(set), a, b, p))
}
