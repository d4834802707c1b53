package graft

import graft.functions.TextFunctions
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.VectorExpressions._
import org.scalatest.funsuite.AnyFunSuite

class VectorExprSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  // nearest_centroid fixtures: vectors (rid, g, vec) and codebook entries
  // (g, cid, cvec, norm) as RDD-backed frames, so projections are not
  // folded into a LocalRelation and really run through codegen. A null
  // `norm` takes the value the engine derives (‖c‖² for PQ, ‖c‖ for IVF);
  // an explicit one lets a case force ±0.0 or negative scores.
  private type Vec = (Long, Int, Seq[Float])
  private type Cent = (Int, Long, Seq[Float], Option[Double])

  private def frames(vecs: Seq[Vec], cents: Seq[Cent], cosine: Boolean): (DataFrame, DataFrame) = {
    import spark.implicits._
    val v = spark.sparkContext.parallelize(vecs, 3).toDF("rid", "g", "vec")
    val derived = if (cosine) vecNorm(col("cvec")) else vecDot(col("cvec"), col("cvec"))
    val c = spark.sparkContext.parallelize(cents, 2).toDF("g", "cid", "cvec", "norm")
      .withColumn("norm", coalesce(col("norm"), derived))
    (v, if (cosine) c else c.withColumn("cid", col("cid").cast("int")))
  }

  /** Each vector beside its group's id-sorted codebook array `cb`
    * (empty when the group has no entries). */
  private def withCodebook(v: DataFrame, c: DataFrame): DataFrame = {
    val cb = c.groupBy(col("g"))
      .agg(sort_array(collect_list(struct(col("cid"), col("cvec"), col("norm")))).as("cb"))
    v.join(broadcast(cb), Seq("g"), "left")
      .withColumn("cb", coalesce(col("cb"), array().cast(cb.schema("cb").dataType)))
  }

  /** rid → nearest_centroid result. */
  private def kernel(v: DataFrame, c: DataFrame, cosine: Boolean): Map[Long, Any] =
    withCodebook(v, c).select(col("rid"), nearestCentroid(col("vec"), col("cb"), cosine))
      .collect().map(r => r.getLong(0) -> r.get(1)).toMap

  /** The relational forms the kernel replaced: PQ = join ×k →
    * min_by(cid, struct(score, cid)); IVF = the strict-improvement fold
    * over the ascending-id array from (−∞, −1). */
  private def relational(v: DataFrame, c: DataFrame, cosine: Boolean): Map[Long, Any] = {
    val out =
      if (!cosine) v.join(c, Seq("g"), "left").groupBy(col("rid")).agg(min_by(col("cid"),
        struct((col("norm") - lit(2d) * vecDot(col("vec"), col("cvec"))).as("s"), col("cid"))))
      else {
        val scored = transform(col("cb"), e =>
          struct((vecDot(col("vec"), e.getField("cvec")) /
            (vecNorm(col("vec")) * e.getField("norm"))).as("s"), e.getField("cid").as("c")))
        withCodebook(v, c).select(col("rid"), aggregate(scored,
          struct(lit(Double.NegativeInfinity).as("s"), lit(-1L).as("c")),
          (acc, x) => when(x.getField("s") > acc.getField("s"), x).otherwise(acc))
          .getField("c"))
      }
    out.collect().map(r => r.getLong(0) -> r.get(1)).toMap
  }

  /** Kernel == relational form, with the kernel both codegen'd and
    * interpreted. */
  private def assertMatches(vecs: Seq[Vec], cents: Seq[Cent], cosine: Boolean): Map[Long, Any] = {
    val (v, c) = frames(vecs, cents, cosine)
    val want = relational(v, c, cosine)
    assert(want.size === vecs.size)
    assert(kernel(v, c, cosine) === want)
    assert(TestSpark.interpreted(kernel(v, c, cosine)) === want, "interpreted eval")
    want
  }

  /** Random vectors and codebooks on a coarse grid (so exact score ties
    * occur), sparse shuffled ids, duplicated centroids, and vectors that
    * equal a centroid. */
  private def randomCase(seed: Long): (Seq[Vec], Seq[Cent]) = {
    val rnd = new scala.util.Random(seed)
    def vec(): Seq[Float] = Seq.fill(8)((rnd.nextInt(9) - 4) * 0.25f)
    val cents = (0 until 3).flatMap { g =>
      val ids = rnd.shuffle((0L until 200L).toList).take(24)
      val base = ids.map(id => (g, id, vec(), Option.empty[Double]))
      base ++ base.take(4).zip(rnd.shuffle((200L until 300L).toList))
        .map { case (e, id) => e.copy(_2 = id) }
    }
    val vecs = (0 until 150).map { i =>
      val g = i % 3
      (i.toLong, g, if (i % 10 == 0) cents.filter(_._1 == g).head._3 else vec())
    }
    (vecs, cents)
  }

  test("nearest_centroid PQ scoring equals join → min_by(struct(score, cid))") {
    for (seed <- 1L to 3L) {
      val (vecs, cents) = randomCase(seed)
      assertMatches(vecs, cents, cosine = false)
    }
  }

  test("nearest_centroid IVF scoring equals the strict-improvement fold") {
    for (seed <- 1L to 3L) {
      val (vecs, cents) = randomCase(seed)
      assertMatches(vecs, cents, cosine = true)
    }
  }

  test("nearest_centroid adversarial cases: ties, signed zeros, NaN, sparse ids, empty codebook") {
    val z = Seq.fill(8)(0f)
    val one = 1f +: Seq.fill(7)(0f)
    val nan = Float.NaN +: Seq.fill(7)(0f)
    val vecs = Seq[Vec](
      (0L, 0, one), // group 0: duplicate centroids 40 and 7 → tie → 7
      (1L, 1, z),   // group 1: scores -0.0 (id 9) and +0.0 (id 5) tie → 5
      (2L, 2, z),   // group 2: the same with the ids swapped → 3
      (3L, 3, nan), // group 3: every score NaN → lowest id
      (4L, 4, one), // group 4: a NaN centroid among finite ones
      (5L, 5, one)) // group 5: no codebook entries at all
    val pq = Seq[Cent](
      (0, 40L, one, None), (0, 7L, one, None), (0, 250L, one.reverse, None),
      (1, 9L, z, Some(-0.0)), (1, 5L, z, Some(0.0)),
      (2, 3L, z, Some(-0.0)), (2, 11L, z, Some(0.0)),
      (3, 12L, one, None), (3, 2L, z, None),
      (4, 1L, nan, None), (4, 8L, one, None))
    assert(assertMatches(vecs, pq, cosine = false) === Map[Long, Any](
      0L -> 7, 1L -> 5, 2L -> 3, 3L -> 2, 4L -> 8, 5L -> null))
    // IVF: an explicit negative norm turns a zero dot into -0.0
    val ivf = pq.map {
      case (g, id, v, Some(n)) => (g, id, one, Some(if (n == 0.0 && 1 / n < 0) -1.0 else 1.0))
      case e => e
    }
    val ivfVecs = vecs.map { case (r, g, v) => (r, g, if (g == 1 || g == 2) one.reverse else v) }
    assert(assertMatches(ivfVecs, ivf, cosine = true) === Map[Long, Any](
      0L -> 7L, 1L -> 5L, 2L -> 3L, 3L -> 2L, 4L -> 1L, 5L -> -1L))
  }

  test("vec_dot/vec_norm match the SQL-lambda double fold bit-for-bit") {
    val e = Tables.embeddings(spark, TestSpark.sfDir).limit(50)
      .select(col("vec_id"), col("embedding"))
    val both = e.as("a").crossJoin(e.as("b")).limit(500)
      .select(
        vecDot(col("a.embedding"), col("b.embedding")).as("native"),
        TextFunctions.dotDouble("a.embedding", "b.embedding").as("lambda"),
        vecNorm(col("a.embedding")).as("native_norm"),
        TextFunctions.normDouble("a.embedding").as("lambda_norm"))
    // bit-exact: the generated loop folds in the same order as the lambda
    assert(both.filter(col("native") =!= col("lambda")).count() === 0)
    assert(both.filter(col("native_norm") =!= col("lambda_norm")).count() === 0)
  }

  test("expressions participate in codegen (no CodegenFallback)") {
    val e = Tables.embeddings(spark, TestSpark.sfDir)
    val df = e.select(vecDot(col("embedding"), col("embedding")).as("d"))
    df.collect()
    val p = df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(p.contains("* Project"), p) // the vec_dot projection is codegen'd
  }

  test("nearest_centroid participates in codegen (no CodegenFallback)") {
    val (vecs, cents) = randomCase(7L)
    val (v, c) = frames(vecs, cents, cosine = false)
    val df = withCodebook(v, c)
      .select(nearestCentroid(col("vec"), col("cb"), cosine = false).as("cid"))
    df.collect()
    assert(!classOf[CodegenFallback].isAssignableFrom(classOf[NearestCentroid]))
    val code = org.apache.spark.sql.execution.debug.codegenString(df.queryExecution.executedPlan)
    // the kernel's loop is in the generated whole-stage Java
    assert(code.contains("SQLOrderingUtil.compareDoubles"), code.take(2000))
  }

  test("GraftExtensions exposes vec_dot/vec_norm to SQL") {
    val prevDefault = SparkSession.getDefaultSession
    val prevActive = SparkSession.getActiveSession
    SparkSession.clearActiveSession(); SparkSession.clearDefaultSession()
    try {
      val s2 = SparkSession.builder().master("local[2]")
        .withExtensions(new GraftExtensions().apply(_))
        .getOrCreate()
      val r = s2.sql(
        """SELECT vec_dot(array(CAST(1.0 AS FLOAT), CAST(2.0 AS FLOAT)),
          |               array(CAST(3.0 AS FLOAT), CAST(4.0 AS FLOAT))) AS d,
          |       vec_norm(array(CAST(3.0 AS FLOAT), CAST(4.0 AS FLOAT))) AS n""".stripMargin)
        .head()
      assert(r.getDouble(0) === 11.0)
      assert(r.getDouble(1) === 5.0)
    } finally {
      SparkSession.clearActiveSession(); SparkSession.clearDefaultSession()
      prevDefault.foreach(SparkSession.setDefaultSession)
      prevActive.foreach(SparkSession.setActiveSession)
    }
  }
}
