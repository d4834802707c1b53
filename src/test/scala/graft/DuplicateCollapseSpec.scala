package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.queries.LlmQueries

/** The duplicate-collapse compositions (q20/q22/q103/q114/q46-family)
  * verified on a corpus that actually CONTAINS exact duplicates: the
  * sf0.001 tables doubled with re-keyed copies. Every query's output is
  * checked against brute force computed independently in-test — this
  * exercises both expansion paths (intra-set pairs and cross-set
  * inheritance), which the pristine testdata barely does.
  */
class DuplicateCollapseSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._

  private val OFF = 100000L

  private lazy val dupDir: String = {
    val d = java.nio.file.Files.createTempDirectory("graft-dup").toString
    val docs = Tables.documents(spark, TestSpark.sfDir)
    docs.unionByName(docs.withColumn("doc_id", col("doc_id") + OFF))
      .write.parquet(s"$d/documents.parquet")
    val emb = Tables.embeddings(spark, TestSpark.sfDir)
    emb.unionByName(emb.withColumn("vec_id", col("vec_id") + OFF))
      .write.parquet(s"$d/embeddings.parquet")
    d
  }

  /** doc_id -> distinct word-trigram set (same tokenization as the
    * engine: lower, split on single space, docs with >= 3 tokens). */
  private lazy val shingleSets: Map[Long, Set[String]] =
    spark.read.parquet(s"$dupDir/documents.parquet")
      .select(col("doc_id"), lower(col("text")).as("t")).collect()
      .map { r =>
        val toks = r.getString(1).split(" ", -1)
        val set =
          if (toks.length < 3) Set.empty[String]
          else toks.sliding(3).map(_.mkString(" ")).toSet
        (r.getLong(0), set)
      }.toMap

  test("q20 on a doubled corpus equals brute-force Jaccard >= 0.8") {
    val got = LlmQueries.q20DedupMinhash(spark, dupDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val ids = shingleSets.keys.toSeq.sorted
    val want = (for {
      i <- ids.indices.iterator; j <- (i + 1 until ids.length).iterator
      a = ids(i); b = ids(j)
      sa = shingleSets(a); sb = shingleSets(b)
      if sa.nonEmpty && sb.nonEmpty
      // J <= min/max: sound skip far below the threshold
      if math.min(sa.size, sb.size).toDouble / math.max(sa.size, sb.size) >= 0.8
      inter = (sa & sb).size
      jac = BigDecimal(inter.toDouble / (sa.size + sb.size - inter))
        .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
      if jac >= 0.8
    } yield (a, b, jac)).toSet
    assert(got == want)
    // the doubled corpus must actually exercise the intra path
    assert(want.exists { case (a, b, _) => b == a + OFF })
  }

  test("q114 equals q20 on the doubled corpus") {
    val a = LlmQueries.q114PrefixJoin(spark, dupDir).collect().toSeq.map(_.toSeq)
    val b = LlmQueries.q20DedupMinhash(spark, dupDir).collect().toSeq.map(_.toSeq)
    assert(a == b)
  }

  test("q103 on a doubled corpus: brute-force containment is a superset match") {
    val got = LlmQueries.q103ContainmentDedup(spark, dupDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    // brute force WITH the documented candidate precondition relaxed:
    // q103's emitted pairs must all be true (precision 1.0) and must
    // include every identical-set pair (the collapse guarantee)
    val ids = shingleSets.keys.toSeq.sorted
    val brute = (for {
      a <- ids.iterator; b <- ids.iterator
      if a != b
      sa = shingleSets(a); sb = shingleSets(b)
      if sa.size >= 10
      // containment <= |sb|/|sa|: sound skip when b is far smaller
      if sb.size.toDouble / sa.size >= 0.9
      inter = (sa & sb).size
      c = BigDecimal(inter.toDouble / sa.size)
        .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
      if c >= 0.9
    } yield (a, b, c)).toSet
    assert(got.subsetOf(brute), s"${(got -- brute).take(3)} not in brute force")
    val identicalPairs = brute.filter { case (a, b, c) =>
      c == 1.0 && shingleSets(a) == shingleSets(b)
    }
    assert(identicalPairs.subsetOf(got), "identical-set pairs must always emit")
    assert(identicalPairs.nonEmpty)
  }

  /** Brute-force member-level near-dup pair set (the q20 contract). */
  private lazy val brutePairs: Set[(Long, Long)] = {
    val ids = shingleSets.keys.toSeq.sorted
    (for {
      i <- ids.indices.iterator; j <- (i + 1 until ids.length).iterator
      a = ids(i); b = ids(j)
      sa = shingleSets(a); sb = shingleSets(b)
      if sa.nonEmpty && sb.nonEmpty
      inter = (sa & sb).size
      jac = BigDecimal(inter.toDouble / (sa.size + sb.size - inter))
        .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
      if jac >= 0.8
    } yield (a, b)).toSet
  }

  /** Union-find closure: (node -> min reachable node) over undirected
    * pairs — the member-level CC contract the rep contraction must
    * reproduce exactly. */
  private def bruteComponents(pairs: Set[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    parent.keys.map(k => k -> find(k)).toMap
  }

  test("q70 rep-contracted CC equals member-level closure on the doubled corpus") {
    val got = graft.queries.CorpusQueries.q70DedupClusters(spark, dupDir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val want = bruteComponents(brutePairs).toSet
    assert(got == want)
    // the doubled corpus must exercise BOTH contraction legs: a
    // duplicate class absorbed into a wider component and one standing
    // alone as its own component (the no-external-edge leg)
    val comp = bruteComponents(brutePairs)
    assert(comp.exists { case (n, c) => n == c + OFF && comp.contains(c) })
  }

  private lazy val vecs: Map[Long, Array[Float]] =
    spark.read.parquet(s"$dupDir/embeddings.parquet")
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray)).toMap
  private lazy val vecIds: Seq[Long] = vecs.keys.toSeq.sorted

  /** Brute-force member-level ε-pairs (a < b, cos rounded to 6 dp,
    * ≥ 0.4) over the doubled embeddings — the q46 contract, and the
    * graph q64/q110/q228 derive from. */
  private lazy val cosPairs: Set[(Long, Long, Double)] = {
    def dot(x: Array[Float], y: Array[Float]): Double = {
      var s = 0.0; var i = 0
      while (i < x.length) { s += x(i).toDouble * y(i).toDouble; i += 1 }
      s
    }
    val ids = vecIds
    (for {
      i <- ids.indices.iterator; j <- (i + 1 until ids.length).iterator
      a = ids(i); b = ids(j)
      c = dot(vecs(a), vecs(b)) /
        (math.sqrt(dot(vecs(a), vecs(a))) * math.sqrt(dot(vecs(b), vecs(b))))
      r = BigDecimal(c).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      if r >= 0.4
    } yield (a, b, r)).toSet
  }

  test("q64 class-level survivors equal member-level drop on doubled embeddings") {
    val ids = vecIds
    val dropped = cosPairs.map(_._2)
    val kept = ids.filterNot(dropped)
    val want = kept.groupBy(_ % 10).map { case (bkt, xs) =>
      (bkt, xs.size.toLong, xs.min, xs.max)
    }.toSet
    val got = graft.queries.VectorQueries.q64EmbeddingDedup(spark, dupDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(got == want)
    assert(dropped.nonEmpty) // doubled corpus must actually drop copies
  }

  test("q228 class-level DBSCAN equals member-level DBSCAN on doubled embeddings") {
    val ids = vecIds
    val pairs = cosPairs.map { case (a, b, _) => (a, b) }
    val nbrs = (pairs.toSeq ++ pairs.toSeq.map(p => (p._2, p._1)))
      .groupBy(_._1).map { case (v, xs) => v -> xs.map(_._2).toSet }
    val core = ids.filter(v => nbrs.getOrElse(v, Set.empty).size >= 3).toSet
    val coreComp = bruteComponents(
      pairs.filter(p => core(p._1) && core(p._2)))
    val clusterOf = core.map(v => v -> coreComp.getOrElse(v, v)).toMap
    val want = ids.map { v =>
      if (core(v)) (v, "core", clusterOf(v))
      else {
        val cn = nbrs.getOrElse(v, Set.empty).filter(core)
        if (cn.nonEmpty) (v, "border", cn.map(clusterOf).min)
        else (v, "noise", -1L)
      }
    }.toSet
    val got = graft.queries.VectorQueries.q228DbscanClusters(spark, dupDir)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    assert(got == want)
    // replication must flip roles somewhere (a doubled class gains
    // cos-1.0 neighbors), or the test isn't exercising the mult leg
    assert(want.exists { case (v, role, _) => v >= OFF && role != "noise" })
  }

  test("q139 class-level ADC search equals member-level candidate scoring on doubled embeddings") {
    // the r13 collapse moved q139's candidate stage to distinct-embedding
    // classes; this pin recomputes the pre-collapse MEMBER-level pipeline
    // from the engine's own shared pieces (same centroids, codebooks,
    // cell assignment, ADC grid) and demands identical top-3 output on a
    // corpus where every class has two members — the configuration the
    // pristine testdata never exercises
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.graft.VectorExpressions.vecDot
    val nprobe = 4
    val VQ = graft.queries.VectorQueries
    val cents = VQ.ivfCentroids(spark, dupDir)
    val assigned = VQ.ivfAssigned(spark, dupDir)
    val probes = assigned.filter(col("vec_id") < 50)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"),
        col("nrm").as("q_nrm"))
      .crossJoin(broadcast(cents))
      .withColumn("cc", vecDot(col("q_emb"), col("c_emb")) / (col("q_nrm") * col("c_nrm")))
      .withColumn("pr", row_number().over(Window.partitionBy(col("q_id"))
        .orderBy(col("cc").desc, col("cent_id"))))
      .filter(col("pr") <= nprobe)
      .select(col("q_id"), col("q_nrm"), col("cent_id").as("cell"))
    // per-query LUT from the full code table's sub-vectors (pqCodes
    // carries svec), expanded against all 256 codebook entries per sub
    val lut = VQ.pqCodes(spark, dupDir).filter(col("vec_id") < 50)
      .select(col("vec_id").as("q_id"), col("sub"), col("svec").as("qsub"))
      .join(broadcast(VQ.pqCodebooks(spark, dupDir)), "sub")
      .select(col("q_id"), col("sub"), col("cid"),
        vecDot(col("qsub"), col("cvec")).as("pdot"))
    val codes = VQ.pqCodes(spark, dupDir).select(col("vec_id"), col("sub"), col("cid"))
    val want = assigned
      .select(col("vec_id").as("c_id"), col("nrm").as("c_nrm"), col("cell"))
      .join(probes, "cell")
      .filter(col("c_id") =!= col("q_id"))
      .join(codes, col("c_id") === codes("vec_id"))
      .join(broadcast(lut), Seq("q_id", "sub", "cid"))
      .groupBy(col("q_id"), col("c_id"))
      .agg(graft.Oracle.dsum(col("pdot")).as("adc"),
        max(col("q_nrm")).as("qn"), max(col("c_nrm")).as("cn"))
      .select(col("q_id"), col("c_id"),
        round(col("adc") / (col("qn") * col("cn")), 6).as("adc_cos"))
      .withColumn("rn", row_number().over(Window.partitionBy(col("q_id"))
        .orderBy(col("adc_cos").desc, col("c_id"))))
      .filter(col("rn") <= 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSet
    val got = VQ.q139IvfPqSearch(spark, dupDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSet
    assert(got == want)
    // replication leg: some top-3 must contain a duplicate-class partner,
    // or the doubled corpus isn't exercising the m4 member expansion
    assert(got.exists { case (_, c, _, _) => c >= OFF })
  }

  test("q46 on doubled embeddings equals brute-force cosine >= 0.4") {
    val got = graft.queries.VectorQueries.q46CosinePairs(spark, dupDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(got == cosPairs)
    assert(cosPairs.exists { case (a, b, _) => b == a + OFF }) // intra pairs present
  }

  test("q110 rep-contracted CC equals member-level closure on doubled embeddings") {
    val got = graft.queries.VectorQueries.q110SemanticClusters(spark, dupDir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val want = bruteComponents(cosPairs.map { case (a, b, _) => (a, b) })
    assert(got == want.toSet)
    // the solo-class leg must occur: a duplicate class with no edge out
    // of it is a component of exactly its own two members
    val comps = want.groupBy(_._2).map { case (c, ms) => c -> ms.keySet }
    assert(comps.exists { case (c, ms) => ms == Set(c, c + OFF) })
  }

  test("q22 on the doubled corpus equals pristine q22 lifted through the doubling") {
    def pairs(dir: String): Set[(Long, Long, Long)] =
      LlmQueries.q22DedupSimhash(spark, dir)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val pristine = pairs(TestSpark.sfDir)
    // a pristine pair (a, b) appears as all four member combinations
    // with its Hamming distance; every doc with a signature (>= 3
    // tokens) pairs with its own copy at distance 0 — the intra leg
    val lifted = pristine.flatMap { case (a, b, h) =>
      Seq((a, b, h), (a, b + OFF, h), (b, a + OFF, h), (a + OFF, b + OFF, h))
    }
    val intra = shingleSets.collect { case (d, sh) if d < OFF && sh.nonEmpty => (d, d + OFF, 0L) }
    assert(pristine.nonEmpty && intra.nonEmpty)
    assert(pairs(dupDir) == lifted ++ intra)
  }

  /** The r14 ivfCentroids collapse (distinct sampled classes ×
    * multiplicity, fixed-point weighted mean) must be BIT-identical to
    * the member-level decimal-avg Lloyd loop it replaced — the doubled
    * corpus gives every class multiplicity 2, so the weighted path is
    * actually exercised (on pristine data every mult is 1). */
  private def memberLevelIvfCentroids(dir: String): Map[Long, (Seq[Float], Double)] = {
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.graft.VectorExpressions.{vecDot, vecNorm}
    val emb = Tables.embeddings(spark, dir)
    val spine = emb.select(col("vec_id"), col("embedding"),
      vecNorm(col("embedding")).as("nrm"))
    val step = emb.agg(
      greatest(lit(1L), floor(count(lit(1)) / lit(6400.0)).cast("long")).as("step"))
    val e = spine.crossJoin(broadcast(step))
      .filter(pmod(col("vec_id"), col("step")) === 0)
    var cents = e.filter(col("vec_id") < lit(16L) * col("step"))
      .select(col("vec_id").as("cent_id"), col("embedding").as("c_emb"),
        col("nrm").as("c_nrm"))
    for (_ <- 1 to 2) {
      val assigned: DataFrame = e.crossJoin(broadcast(cents))
        .withColumn("cc",
          vecDot(col("embedding"), col("c_emb")) / (col("nrm") * col("c_nrm")))
        .groupBy(col("vec_id"))
        .agg(max_by(struct(col("cent_id"), col("embedding")),
          struct(col("cc"), -col("cent_id"))).as("b"))
        .select(col("b.cent_id").as("cell"), col("b.embedding").as("embedding"))
      cents = assigned
        .select(col("cell"), posexplode(col("embedding")).as(Seq("d", "x")))
        .groupBy(col("cell"), col("d"))
        .agg(avg(col("x").cast("decimal(20,10)")).as("m"))
        .groupBy(col("cell"))
        .agg(sort_array(collect_list(struct(col("d"), col("m")))).as("dm"))
        .select(col("cell").as("cent_id"),
          expr("transform(dm, p -> CAST(p.m AS FLOAT))").as("c_emb"))
        .withColumn("c_nrm", vecNorm(col("c_emb")))
    }
    cents.collect().map(r =>
      (r.getLong(0), (r.getSeq[Float](1), r.getDouble(2)))).toMap
  }

  private def gotIvfCentroids(dir: String): Map[Long, (Seq[Float], Double)] =
    graft.queries.VectorQueries.ivfCentroids(spark, dir)
      .collect().map(r => (r.getLong(0), (r.getSeq[Float](1), r.getDouble(2)))).toMap

  test("ivfCentroids weighted distinct-collapse is bit-identical to member-level decimal avg") {
    for (dir <- Seq(TestSpark.sfDir, dupDir)) {
      val want = memberLevelIvfCentroids(dir)
      val got = gotIvfCentroids(dir)
      assert(got.keySet === want.keySet, s"cell set differs at $dir")
      got.foreach { case (cid, (emb, nrm)) =>
        val (wEmb, wNrm) = want(cid)
        // exact float equality — the collapse must be bit-identical
        assert(emb == wEmb, s"centroid $cid differs at $dir")
        assert(nrm == wNrm, s"centroid $cid norm differs at $dir")
      }
    }
  }
}
