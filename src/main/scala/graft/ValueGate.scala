package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.VectorExpressions.{vecDot, vecNorm}

/** Stress-scale twin of SelfConsistencySpec's value gates (round-9
  * verdict item 4): the four permanently-rows-only registry entries —
  * the three ANN result sets (q28 LSH, q56 IVF, q139 IVF-PQ) and q10's
  * HLL estimate — get their quality bounds measured at ANY data scale,
  * not just spec scale. A recall floor observed at sf0.01 says nothing
  * about bucket balance at sf10; this main recomputes it there.
  *
  * All three ANN families answer the same fixed query set (vec_id < 50),
  * so the exact reference is a 50-query × n-candidate brute-force top-3
  * computed DISTRIBUTED with the engine's own cosine expression (same
  * `vecDot` codegen, same round-6 grid) — at sf10 that is 25M cosines,
  * a sub-minute broadcast join, never a driver loop. Floors match the
  * spec: recall@3 ≥ 0.3 (q28) / 0.35 (q56) / 0.25 (q139), HLL relative
  * error ≤ 0.05 (5× the declared 1% rsd). Exit 1 on any violation.
  *
  * The Stress corpora are replicated, so every vector has exact
  * duplicates and raw recall saturates at 1.0 (the true top-3 are
  * replicas, and any bucketing scheme co-buckets identical values) —
  * true but vacuous as evidence. The *value-class* recall stays
  * meaningful at any replication factor: ids collapse to classes of
  * identical embedding value (class id = min vec_id, the dedup
  * families' exact-collapse idiom), the reference is the class set of
  * the exact raw top-3, and the score is the per-query
  * |ansClasses ∩ refClasses| / |refClasses|. On duplicate-free data
  * this is exactly raw recall (classes are singletons); on replicated
  * data it checks the ANN answers land in the same VALUE classes as
  * the exact answers — an index whose buckets degrade at scale
  * returns wrong-class vectors and scores 0 here even while raw
  * recall looks saturated. (A first design excluded the query's own
  * class; that is unsatisfiable at replication ≥ k, since the true
  * top-k then really are the query's replicas.)
  *
  * Usage: runMain graft.ValueGate <sfDir>   (prints one JSON line)
  */
object ValueGate {

  /** recall@3 over the FULL expected reference set (round-10 advice):
    * the denominator is |exact|·3, so an index that answers only 1 of
    * the 50 queries — or none at all — scores ≤ 1/50, never 1.0 and
    * never NaN (the old `ann.size·3` denominator was pass-open: zero
    * answers gave 0.0/0 = NaN, and `NaN < floor` is false in Scala, so
    * a totally broken index exited 0). Empty reference = broken gate
    * setup, refused loudly. */
  def recallOf(ann: Map[Long, Set[Long]], exact: Map[Long, Set[Long]]): Double = {
    require(exact.nonEmpty, "value gate: exact reference set is empty")
    val hits = exact.toSeq.map { case (q, ref) =>
      (ann.getOrElse(q, Set.empty) & ref).size }.sum
    hits.toDouble / (exact.size * 3)
  }

  /** Value-class recall with the same full-reference denominator: every
    * reference query scores (|ansCls ∩ refCls| / |refCls|), missing
    * answers score 0. NaN-free for any ann, including empty. */
  def clsRecallOf(annCls: Map[Long, Set[Long]], exactCls: Map[Long, Set[Long]]): Double = {
    require(exactCls.nonEmpty, "value gate: exact class reference set is empty")
    val scores = exactCls.toSeq.map { case (q, ref) =>
      if (ref.isEmpty) 0.0
      else (annCls.getOrElse(q, Set.empty) & ref).size.toDouble / ref.size
    }
    scores.sum / scores.size
  }

  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = Sessions.local(cpus)

    // ---- exact top-3 reference (distributed brute force) --------------
    val e = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding"), vecNorm(col("embedding")).as("nrm"))
    val qs = broadcast(e.filter(col("vec_id") < 50)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"),
        col("nrm").as("q_nrm")))
    val w = Window.partitionBy(col("q_id")).orderBy(col("cos").desc, col("c_id"))
    val exact3 = e.join(qs, col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id").as("c_id"),
        round(vecDot(col("q_emb"), col("embedding")) / (col("q_nrm") * col("nrm")), 6)
          .as("cos"))
      .withColumn("rn", row_number().over(w)).filter(col("rn") <= 3)
      .select(col("q_id"), col("c_id")).collect()
      .groupBy(_.getLong(0)).map { case (q, rs) => q -> rs.map(_.getLong(1)).toSet }

    require(exact3.size == 50,
      s"value gate: exact reference answered ${exact3.size} of the 50 queries")

    def recall(df: DataFrame): Double = {
      val ann = df.select(col(df.columns(0)), col(df.columns(1))).collect()
        .groupBy(_.getLong(0)).map { case (q, rs) => q -> rs.map(_.getLong(1)).toSet }
      recallOf(ann, exact3)
    }
    // ---- value-class collapse: id sets → embedding-value classes ------
    // (replication-proof: identical embeddings collapse to one class,
    // resolved by one corpus scan against the broadcast ≤150-row set)
    def toClasses(m: Map[Long, Set[Long]]): Map[Long, Set[Long]] = {
      import spark.implicits._
      val pairs = m.toSeq.flatMap { case (q, ids) => ids.map(i => (q, i)) }
        .toDF("p_q", "a_id")
      val ansEmb = e.join(broadcast(pairs), col("vec_id") === col("a_id"))
        .select(col("p_q"), col("a_id"), col("embedding").as("a_emb"))
      e.join(broadcast(ansEmb), col("embedding") === col("a_emb"))
        .groupBy(col("p_q"), col("a_id")).agg(min(col("vec_id")).as("cls"))
        .select(col("p_q"), col("cls")).collect()
        .groupBy(_.getLong(0)).map { case (q, rs) => q -> rs.map(_.getLong(1)).toSet }
    }
    val exactCls = toClasses(exact3)

    // class recall: ANN answer classes vs classes of the exact top-3
    def clsRecall(df: DataFrame): Double = {
      val ann = df.select(col(df.columns(0)), col(df.columns(1))).collect()
        .groupBy(_.getLong(0)).map { case (q, rs) => q -> rs.map(_.getLong(1)).toSet }
      clsRecallOf(toClasses(ann), exactCls)
    }

    val a28 = queries.VectorQueries.q28AnnLsh(spark, dir)
    val a56 = queries.VectorQueries.q56AnnIvf(spark, dir)
    val a139 = queries.VectorQueries.q139IvfPqSearch(spark, dir)
    val r28 = recall(a28); val c28 = clsRecall(a28)
    val r56 = recall(a56); val c56 = clsRecall(a56)
    val r139 = recall(a139); val c139 = clsRecall(a139)

    // ---- q10 HLL relative error ---------------------------------------
    val approx = queries.RelationalQueries.q10AggApproxDistinct(spark, dir)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val exactD = Tables.lineitem(spark, dir)
      .groupBy(col("l_returnflag"))
      .agg(countDistinct(col("l_orderkey")).as("n")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val hllErr = exactD.map { case (k, n) =>
      math.abs(approx.getOrElse(k, 0L) - n).toDouble / n }.max

    val floors = Seq(
      ("q28_recall3", r28, 0.30, true), ("q56_recall3", r56, 0.35, true),
      ("q139_recall3", r139, 0.25, true),
      ("q28_cls_recall3", c28, 0.15, true), ("q56_cls_recall3", c56, 0.15, true),
      ("q139_cls_recall3", c139, 0.15, true),
      ("hll_max_err", hllErr, 0.05, false))
    // NaN-robust emit + check: a NaN metric is a VIOLATION (the old
    // `v < floor` was false for NaN → silent pass) and serializes as
    // JSON null, never the invalid literal NaN.
    def r6(v: Double) =
      if (v.isNaN || v.isInfinite) "null"
      else String.format(java.util.Locale.ROOT, "%.4f", Double.box(v))
    val fields = floors.map { case (k, v, _, _) => s""""$k":${r6(v)}""" }.mkString(",")
    val violations = floors.collect {
      case (k, v, floor, isMin) if v.isNaN || (if (isMin) v < floor else v > floor) =>
        s"$k=${r6(v)} vs bound ${r6(floor)}"
    }
    println(s"""{"metric":"value_gate",$fields,"violations":${violations.size},"sf":"$dir"}""")
    violations.foreach(v => System.err.println(s"[value_gate] VIOLATION $v"))
    spark.stop()
    if (violations.nonEmpty) sys.exit(1)
  }
}
