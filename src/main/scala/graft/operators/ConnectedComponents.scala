package graft.operators

import org.apache.spark.sql.{DataFrame, functions => F}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Distributed connected components via alternating large-star /
  * small-star (Kiveris et al., "Connected Components in MapReduce and
  * Beyond", SoCC'14) — the standard shuffle-bounded CC algorithm for
  * dedup clustering: near-duplicate PAIRS (q20/q21/q22/q64 output) are
  * edges; the component id labels every document of a duplicate
  * cluster so a training-data pipeline can keep one representative per
  * cluster (the reference delegates all such post-processing to its
  * warehouse — README.md:3 — so this is engine-side capability the
  * warehouse would otherwise provide).
  *
  * Why not plain label propagation: propagation needs O(diameter)
  * rounds; star operations contract chains in O(log²) rounds, and each
  * round is only {window min → project → distinct} over one shuffle.
  *
  * Skew cost: the per-center min is a window partitioned by the center,
  * so a high-degree node's whole symmetrized adjacency is buffered in
  * ONE task (WindowExec's spill-backed row buffer — it spills rather
  * than failing, but that task runs alone for the hub's edge count).
  * The groupBy-min this replaced reduced map-side before its shuffle
  * and so never gathered a hub's neighbors in one place; a mega-star
  * graph pays single-task buffering here.
  *
  * Scale: every round's volume is bounded by the CURRENT edge set,
  * which only shrinks (toward one star edge per non-root node).
  * Lineage is truncated each round with localCheckpoint — an iterative
  * algorithm that re-derives round k from round 0 would be quadratic.
  * Rounds stop when the monotonically-decreasing Σ(src+dst) is stable
  * (strictly decreases while anything changes, so equality IS the
  * fixpoint — read for free from an `observe` on the round frame, no
  * separate agg pass over the edge set).
  *
  * Round cost (r14 optimization round, guide §2.4 "remove work
  * outright"): a round is ONE Spark job — both star operations take
  * their per-center min from a window over the single shuffled pass
  * (exactly the rows the old groupBy-min + self-join touched, one
  * exchange instead of two and no double-reference), so largeStar no
  * longer needs its own eager checkpoint, and the convergence checksum
  * rides the round frame's materialization as observed metrics instead
  * of a third job re-scanning it. Was: ckpt(largeStar) + ckpt(smallStar)
  * + checksum agg = 3 jobs and ~6 exchanges per round.
  */
object ConnectedComponents {

  /** edges: two BIGINT columns (any names) = undirected pairs.
    * Returns (node, component) with component = min node id reachable.
    * Isolated nodes don't appear (no edges → no cluster membership). */
  def run(edges: DataFrame, maxIter: Int = 25): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    val Seq(ca, cb) = edges.columns.toSeq.take(2).map(col)
    // canonical undirected edge set, self-loops dropped
    var e = edges.select(least(ca, cb).as("u"), greatest(ca, cb).as("v"))
      .filter($"u" =!= $"v").distinct()
      .persist(StorageLevel.MEMORY_AND_DISK)
    var sig = checksum(e)
    var it = 0
    var converged = false
    var eFrame: Option[DataFrame] = None // e when it is a ckpt frame (round ≥ 1)
    while (it < maxIter && !converged) {
      // one eager checkpoint per round; the checksum is observed during
      // the SAME job that materializes the frame
      val obs = org.apache.spark.sql.Observation()
      val ss = Iteration.ckpt(smallStar(largeStar(e)).observe(obs,
        count(lit(1)).as("n"),
        coalesce(sum(col("u") + col("v")), lit(0L)).as("s")))
      val nsig = observedChecksum(obs, ss)
      // checksum equality is the cheap gate; confirm with an exact set
      // diff only in that rare case, so the strict check amortizes to
      // ~one extra shuffle across the whole run
      converged = nsig == sig && ss.exceptAll(e).isEmpty
      // free the dead frame promptly: the previous e (a ckpt frame from
      // round ≥ 1, or the persisted canonical edge set in round 0 —
      // unpersist handles the latter)
      e.unpersist(blocking = false)
      eFrame.foreach(Iteration.release(_))
      e = ss
      eFrame = Some(ss)
      sig = nsig
      it += 1
    }
    // fixpoint = forest of stars: every non-root points at its root
    val roots = e.select($"v".as("node"), $"u".as("component"))
      .groupBy($"node").agg(F.min($"component").as("component"))
    val rootSelf = e.select($"u".as("node")).distinct()
      .join(e.select($"v".as("node")).distinct(), Seq("node"), "left_anti")
      .select($"node", $"node".as("component"))
    roots.unionByName(rootSelf)
  }

  /** One round's frame plan (canonicalize → largeStar → smallStar) —
    * dev plan capture only ([[graft.CcPlan]]); [[run]] does not call
    * this. */
  private[graft] def roundPlan(edges: DataFrame): DataFrame = {
    val Seq(ca, cb) = edges.columns.toSeq.take(2).map(col)
    val e = edges.select(least(ca, cb).as("u"), greatest(ca, cb).as("v"))
      .filter(col("u") =!= col("v")).distinct()
    smallStar(largeStar(e))
  }

  /** (count, Σu+Σv) — both monotone non-increasing across star rounds;
    * stability ⇒ fixpoint. */
  private def checksum(e: DataFrame): (Long, Long) = {
    val r = e.agg(count(lit(1)), coalesce(sum(col("u") + col("v")), lit(0L))).head()
    (r.getLong(0), r.getLong(1))
  }

  /** Read the round checksum from `obs` (filled by the ckpt job's
    * CollectMetrics — see [[Iteration.observedOr]]). */
  private def observedChecksum(obs: org.apache.spark.sql.Observation,
                               frame: DataFrame): (Long, Long) = {
    val m = Iteration.observedOr(obs) {
      val (n, s) = checksum(frame); Map("n" -> n, "s" -> s)
    }
    (m("n").asInstanceOf[Long], m("s").asInstanceOf[Long])
  }

  /** Large-star: every neighbor v > u links to m(u) = min(N(u) ∪ {u}).
    * Window form (r14): the per-center min attaches to each row of the
    * ONE shuffled pass over the symmetrized edges — same rows, same
    * min, one exchange; the old groupBy-min + join-back referenced the
    * input twice (forcing an eager checkpoint between the stars) and
    * exchanged the symmetrized set twice. */
  private def largeStar(e: DataFrame): DataFrame = {
    val sym = e.select(col("u").as("c"), col("v").as("n"))
      .union(e.select(col("v").as("c"), col("u").as("n")))
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("c"))
    sym.withColumn("m", least(min(col("n")).over(w), col("c")))
      .filter(col("n") > col("c"))
      .select(least(col("n"), col("m")).as("u"), greatest(col("n"), col("m")).as("v"))
      .filter(col("u") =!= col("v")).distinct()
  }

  /** Small-star: neighbors v < u (plus u itself) link to m(u) over the
    * small side. Directed form: edges already u < v, center = v.
    * Window form for the same single-reference/single-exchange reason
    * as [[largeStar]]. */
  private def smallStar(e: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("v"))
    e.withColumn("m", min(col("u")).over(w))
      .select(explode(array(
        struct(col("u").as("a"), col("m").as("b")),
        struct(col("v").as("a"), col("m").as("b")))).as("p"))
      .select(least(col("p.a"), col("p.b")).as("u"), greatest(col("p.a"), col("p.b")).as("v"))
      .filter(col("u") =!= col("v")).distinct()
  }
}
