package graft

import graft.queries.LlmQueries
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.SignatureExpressions._
import org.scalatest.funsuite.AnyFunSuite

class SignatureExprSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  // q22's portable per-bit hash family
  private val (a, b) = LlmQueries.simAB.unzip
  private val p = LlmQueries.SimP

  private type Sets = Seq[(Long, Option[Seq[Option[Long]]])]

  /** (id, set) as an RDD-backed frame, so projections are not folded into
    * a LocalRelation and really run through codegen. */
  private def frame(sets: Sets): DataFrame = {
    import spark.implicits._
    spark.sparkContext.parallelize(sets, 3).toDF("id", "set")
  }

  private def collect(df: DataFrame): Map[Long, Any] =
    df.collect().map(r => r.getLong(0) -> r.get(1)).toMap

  /** id → simhash(set). */
  private def kernel(df: DataFrame): Map[Long, Any] =
    collect(df.select(col("id"), simhash(col("set"), a, b, p)))

  /** The relational form the kernel replaced, kept as the oracle: explode
    * the set, 64 `sum(when(...))` bit sums in one groupBy, one projection
    * that assembles the signature. A set with no rows has sums 0; a null
    * set has no signature. */
  private def relational(df: DataFrame): Map[Long, Any] = {
    val bitSums = a.zip(b).zipWithIndex.map { case ((ai, bi), i) =>
      sum(when(expr(s"((${ai}L * v + ${bi}L) % ${p}L) % 2 = 1"), 1).otherwise(-1)).as(s"s$i")
    }
    val sums = df.select(col("id"), explode(col("set")).as("v"))
      .groupBy(col("id")).agg(bitSums.head, bitSums.tail: _*)
    val sig = expr((0 until 64)
      .map(i => s"IF(coalesce(s$i, 0) >= 0, shiftleft(1L, $i), 0L)").mkString(" + "))
    collect(df.join(sums, Seq("id"), "left")
      .select(col("id"), when(col("set").isNotNull, sig)))
  }

  /** Kernel == relational form, with the kernel both codegen'd and
    * interpreted. */
  private def assertMatches(sets: Sets): Map[Long, Any] = {
    val df = frame(sets)
    val want = relational(df)
    assert(want.size === sets.size)
    assert(kernel(df) === want)
    assert(TestSpark.interpreted(kernel(df)) === want, "interpreted eval")
    want
  }

  /** Random sets shaped like q22's: sorted distinct trigram values in
    * [0, p), 0-80 of them, and a few unsorted with repeats (a sign sum
    * does not depend on element order). */
  private def randomSets(seed: Long): Sets = {
    val rnd = new scala.util.Random(seed)
    (0 until 200).map { i =>
      val vs = Seq.fill(rnd.nextInt(81))(rnd.nextLong(p))
      val set = if (i % 10 == 0) rnd.shuffle(vs ++ vs.take(3)) else vs.distinct.sorted
      (i.toLong, Some(set.map(Option(_))))
    }
  }

  test("simhash equals the relational 64-sum form on random sets") {
    for (seed <- 1L to 3L) {
      val want = assertMatches(randomSets(seed))
      assert(want.values.toSet.size > 150, "signatures should differ across random sets")
    }
  }

  test("simhash adversarial cases: empty, null, null element, 0, p−1, negative values") {
    val one = (v: Long) => Some(Seq(Option(v)))
    val got = assertMatches(Seq(
      0L -> Some(Seq()),
      1L -> None,
      2L -> Some(Seq(None)),
      3L -> one(0L),
      4L -> one(p - 1),
      5L -> one(-1L),
      6L -> one(-p),
      7L -> Some(Seq(Some(-5L), Some(0L), Some(p - 1), None, Some(p), Some(1L << 30)))))
    assert(got(0L) === -1L, "empty set: every sum is 0, so every bit is set")
    assert(got(1L) === null)
    assert(got(2L) === 0L, "a null element counts -1 on every bit")
  }

  test("simhash throws ANSI ARITHMETIC_OVERFLOW where a·v overflows, as the expression does") {
    // a·v overflows for every a ≥ 3
    val df = frame(Seq(0L -> Some(Seq(Some(1L), Some(Long.MaxValue / 2)))))
    def overflow(run: => Any): Unit = {
      val e = intercept[Exception](run)
      val msgs = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null).map(_.getMessage)
      assert(msgs.exists(m => m != null && m.contains("ARITHMETIC_OVERFLOW")), e.toString)
    }
    overflow(relational(df))
    overflow(kernel(df))
    TestSpark.interpreted {
      overflow(relational(df))
      overflow(kernel(df))
    }
  }

  test("simhash participates in codegen (no CodegenFallback)") {
    val df = frame(randomSets(7L)).select(simhash(col("set"), a, b, p).as("sig"))
    df.collect()
    assert(!classOf[CodegenFallback].isAssignableFrom(classOf[SimHash]))
    val code = org.apache.spark.sql.execution.debug.codegenString(df.queryExecution.executedPlan)
    // the kernel's loop, over its referenced constant arrays, is in the
    // generated whole-stage Java
    assert(code.contains("/* simA */") && code.contains("MathUtils.multiplyExact"),
      code.take(2000))
  }
}
