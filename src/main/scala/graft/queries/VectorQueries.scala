package graft.queries

import graft.Tables
import graft.functions.TextFunctions._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.operators.{ClassCollapse, Iteration}
import org.apache.spark.sql.graft.VectorExpressions.{nearestCentroid, vecDot, vecNorm}

/** Similarity search over the `embeddings` table (`Array[Float]` column).
  *
  * Two plans for the same problem:
  *  - q27: brute-force cosine top-k — the correctness baseline, exact,
  *    oracle-verified against DuckDB computing the identical double fold.
  *  - q28: LSH-bucketed (random-hyperplane) ANN — the 100 TB scale path:
  *    signature groupBy prunes the candidate set so no all-pairs join
  *    ever materializes. Approximate ⇒ rows-only check.
  *
  * All vector math runs through the native Catalyst expressions
  * `vec_dot`/`vec_norm` (org.apache.spark.sql.graft.VectorExpressions):
  * codegen'd primitive loops with the same sequential-double-fold
  * semantics the DuckDB oracle mirrors. Norms are computed per row BEFORE
  * the join — at scale that is the difference between O(n·k·d) and
  * O(n²·d) work.
  */
object VectorQueries {

  /** Brute-force cosine top-k: for each query vector (vec_id < 10), the 5
    * nearest neighbors by cosine similarity.
    * Plan: tiny query side is broadcast; candidates stream past it;
    * per-query top-5 via row_number window (WindowGroupLimit keeps k rows
    * per partition — no global sort).
    * Determinism: cosine rounded to 6dp, ties broken by candidate id;
    * DuckDB mirrors the exact fold order so values agree bitwise. */
  def q27CosineTopK(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(s, dir)
    val withNorm = e.select(col("vec_id"), col("embedding"),
      vecNorm(col("embedding")).as("nrm"))
    val queries = withNorm.filter(col("vec_id") < 10)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"), col("nrm").as("q_nrm"))
    val cands = withNorm
      .select(col("vec_id").as("c_id"), col("embedding").as("c_emb"), col("nrm").as("c_nrm"))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("cos_sim").desc, col("c_id"))
    cands.join(broadcast(queries), col("q_id") =!= col("c_id"))
      .withColumn("cos_sim",
        round(vecDot(col("q_emb"), col("c_emb")) / (col("q_nrm") * col("c_nrm")), 6))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 5)
      .select(col("q_id"), col("c_id"), col("cos_sim"), col("rn"))
      .orderBy(col("q_id"), col("rn"))
  }

  /** DuckDB twin — NOTE: deliberately NOT list_cosine_similarity (it
    * accumulates in float32 and diverges from the double fold at ~1e-8);
    * this explicit list_transform/list_sum matches Spark's aggregate
    * fold element order exactly. */
  val q27Sql: String =
    """WITH n AS (
      |  SELECT vec_id, embedding,
      |    sqrt(list_sum(list_transform(range(1, len(embedding) + 1),
      |      i -> CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE)))) AS nrm
      |  FROM embeddings)
      |SELECT q_id, c_id, cos_sim, rn FROM (
      |  SELECT q.vec_id AS q_id, c.vec_id AS c_id,
      |    round(list_sum(list_transform(range(1, len(q.embedding) + 1),
      |        i -> CAST(q.embedding[i] AS DOUBLE) * CAST(c.embedding[i] AS DOUBLE)))
      |      / (q.nrm * c.nrm), 6) AS cos_sim,
      |    ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY
      |      round(list_sum(list_transform(range(1, len(q.embedding) + 1),
      |          i -> CAST(q.embedding[i] AS DOUBLE) * CAST(c.embedding[i] AS DOUBLE)))
      |        / (q.nrm * c.nrm), 6) DESC, c.vec_id) AS rn
      |  FROM n q JOIN n c ON q.vec_id < 10 AND q.vec_id <> c.vec_id)
      |WHERE rn <= 5 ORDER BY q_id, rn""".stripMargin

  /** IVF (inverted-file) approximate nearest neighbors — the other
    * standard ANN scale path beside q28's hyperplane LSH. Training is
    * real k-means, run RELATIONALLY and deterministically: the first 16
    * vectors seed the centroids, then two Lloyd iterations re-estimate
    * them as per-cell dimension means (posexplode → groupBy(cell, d) →
    * exact DECIMAL mean, so the result is independent of partition
    * combine order — a double sum would wobble at the ulp level between
    * runs). Every vector is assigned to its nearest centroid (one
    * broadcast centroid row + the [[nearestCentroid]] kernel, map-side —
    * no ×16 rows, no shuffle), then queries probe only their own cell:
    * candidate work drops from n² to Σ|cell|².
    * Approximate ⇒ rows-only check; SelfConsistencySpec pins cosine
    * exactness and the recall floor.
    * Scale: each Lloyd iteration is one n×d-row shuffle (d longs per
    * row) and the centroid table stays k×d — broadcast-sized for any
    * realistic k; iterations are a fixed small constant. */
  def q56AnnIvf(s: SparkSession, dir: String): DataFrame =
    topKWithinBucket(ivfAssigned(s, dir), "cell", k = 3)

  /** All-vector spine for IVF: (vec_id, embedding, nrm). */
  private def ivfSpine(s: SparkSession, dir: String): DataFrame =
    Tables.embeddings(s, dir)
      .select(col("vec_id"), col("embedding"), vecNorm(col("embedding")).as("nrm"))

  /** Nearest-centroid assignment: e.* + cell. The coarse quantizer's
    * k = 16 centroids (bounded at any corpus size) ride one broadcast
    * row, and the codegen'd [[nearestCentroid]] kernel takes each row's
    * cosine argmax, ties to the lower cent_id — map-side, `e` read once.
    * The cosine divides by the kernel's own vec_norm of `embedding`; the
    * `nrm` every caller carries is that same value. */
  private def ivfAssign(e: DataFrame, cents: DataFrame): DataFrame = {
    val cb = broadcast(cents.groupBy().agg(sort_array(
      collect_list(struct(col("cent_id"), col("c_emb"), col("c_nrm")))).as("__cb")))
    e.crossJoin(cb)
      .withColumn("cell", nearestCentroid(col("embedding"), col("__cb"), cosine = true))
      .drop("__cb")
  }

  /** Deterministic 1-in-`step` training sample head: one broadcast row
    * (step = max(1, n div target)) joined onto the corpus so the whole
    * decision stays in-plan. `vec_id % step == 0` is the sample — no
    * hash family needs to exist in both engines, and at every gate SF
    * (n ≤ target) step = 1, so training there is bit-identical to the
    * full-corpus form. This is FAISS's production shape (train k-means
    * on a bounded sample, assign the full corpus once) as a pure
    * relational knob — round-9 verdict item 6: sf10's 500k-vector
    * corpus trains on ~1/19th of its rows, assignment unchanged. */
  private def trainStep(s: SparkSession, dir: String, target: Long): DataFrame =
    Tables.embeddings(s, dir).agg(
      greatest(lit(1L), floor(count(lit(1)) / lit(target.toDouble)).cast("long"))
        .as("step"))

  /** Trained IVF centroids (cent_id, c_emb, c_nrm): first-16 seed (of
    * the training sample), two deterministic Lloyd iterations with
    * exact DECIMAL means (combine-order-independent) over a ~6400-
    * vector (k·400) [[trainStep]] sample. Memoized — shared by q56 and
    * the q139 IVF-PQ path. */
  private[graft] def ivfCentroids(s: SparkSession, dir: String): DataFrame =
    graft.PlanCache.memo(s, dir, "ivf_centroids", "k16,it2,s6400") {
      // eagerly checkpointed (r14, the pqCodebooks `dv` idiom): the
      // sampled slice feeds the seed filter and the distinct collapse
      // below — a lazy plan would re-run the corpus scan + trainStep agg
      // for each. Sample-bound (≤6400 rows), so the pinned blocks are
      // kilobytes at any corpus scale. NOT released: the
      // returned (lazy) centroid plan still references it until the
      // memo's persist materializes.
      val e = Iteration.ckpt(ivfSpine(s, dir)
        .crossJoin(broadcast(trainStep(s, dir, 6400L)))
        .filter(pmod(col("vec_id"), col("step")) === 0))
      var centroids = e.filter(col("vec_id") < lit(16L) * col("step"))
        .select(col("vec_id").as("cent_id"), col("embedding").as("c_emb"), col("nrm").as("c_nrm"))
      // DISTINCT-class training slice × sampled multiplicity (r14, the
      // pqCodebooks collapse applied to the IVF loop — r13 verdict item
      // 4): the 16-way argmax and the member mean-sums are functions of
      // the embedding VALUE, so Lloyd scores once per distinct sampled
      // embedding and weights the mean by the class's sampled-member
      // count. Class-sized and read by each round's assign × 2 rounds ⇒
      // eagerly checkpointed like `e`.
      val dv = Iteration.ckpt(e
        .groupBy(ClassCollapse.key(col("embedding")).as("fp"))
        .agg(count(lit(1)).as("mult"), first(col("embedding")).as("embedding")))
      for (_ <- 1 to 2) {
        // Weighted mean, BIT-IDENTICAL to the member-level
        // avg(x :: decimal(20,10)) this replaces, by construction:
        //  - quantize exactly as the old cast did: x_dec·1e10 is the
        //    decimal's own integer units (exact decimal multiply, no
        //    double rounding anywhere);
        //  - the member unit-sum is Σ units·mult exactly (identical
        //    values per class);
        //  - avg(DECIMAL(20,10)) = HALF_UP at scale 14 of the exact
        //    quotient = the sign-split integer formula below (halves
        //    are exact in integers; non-halves are ≥ 1/(2n·10¹⁴) from
        //    a boundary, far above any intermediate's error);
        //  - m re-enters the plan as the SAME decimal(24,14) value the
        //    old avg produced, so the float cast is the identical op.
        // single-map assign keeps mult on the row — no re-join needed
        val assigned = ivfAssign(dv, centroids)
        centroids = assigned
          .select(col("cell"), col("mult"), posexplode(col("embedding")).as(Seq("d", "x")))
          .groupBy(col("cell"), col("d"))
          .agg(sum((col("x").cast("decimal(20,10)") * lit(10000000000L)).cast("long") *
            col("mult")).as("sx"),
            sum(col("mult")).as("n"))
          .withColumn("m14", expr(
            """CASE WHEN sx >= 0 THEN (2*CAST(sx AS DECIMAL(38,0))*10000 + n) div (2*n)
              |     ELSE -((2*CAST(-sx AS DECIMAL(38,0))*10000 + n) div (2*n)) END""".stripMargin))
          .withColumn("m", expr("CAST(m14 * 0.00000000000001 AS DECIMAL(24,14))"))
          .groupBy(col("cell"))
          .agg(sort_array(collect_list(struct(col("d"), col("m")))).as("dm"))
          .select(col("cell").as("cent_id"),
            expr("transform(dm, p -> CAST(p.m AS FLOAT))").as("c_emb"))
          .withColumn("c_nrm", vecNorm(col("c_emb")))
      }
      centroids
    }

  /** Class-level cell residency (fp, embedding, nrm, cell): one
    * [[ivfAssign]] argmax per DISTINCT embedding. Memoized — shared by
    * the inverted file ([[ivfAssigned]]) and q139's candidate stage. */
  private[queries] def repCells(s: SparkSession, dir: String): DataFrame =
    graft.PlanCache.memo(s, dir, "rep_cells", "k16,it2") {
      ivfAssign(
        embReps(s, dir).select(col("fp").as("vec_id"), col("embedding"), col("nrm")),
        ivfCentroids(s, dir))
        .select(col("vec_id").as("fp"), col("embedding"), col("nrm"), col("cell"))
    }

  /** Final cell assignment of every vector against the trained
    * centroids: (vec_id, embedding, nrm, cell). Memoized — the
    * inverted file q56 probes and the IVF audits aggregate.
    *
    * Exact-duplicate collapse (r13): the cell is a function of the
    * embedding value under [[ivfAssign]]'s deterministic tie-break, so
    * the 16-centroid argmax runs once per distinct class ([[repCells]])
    * and members inherit cell, embedding, and norm through one fp join
    * — bit-identical to per-member assignment (byte-identical
    * embedding ⇒ same IEEE cosines ⇒ same argmax), without the
    * |corpus|×16 cross product. */
  private[graft] def ivfAssigned(s: SparkSession, dir: String): DataFrame =
    graft.PlanCache.memo(s, dir, "ivf_assign", "k16,it2,cls") {
      embMembers(s, dir).join(repCells(s, dir), "fp")
        .select(col("vec_id"), col("embedding"), col("nrm"), col("cell"))
    }

  /** Embedding near-duplicate pairs: all (a, b) with cosine ≥ 0.4 —
    * exact, via a BLOCKED self-join. Vectors are assigned to B blocks by
    * id; the B(B+1)/2 block pairs (i ≤ j) become an equi-join key, so the
    * all-pairs comparison decomposes into independent hash-join
    * partitions. No side is ever broadcast whole and there is no
    * nested-loop operator: each executor holds two blocks (n/B rows), not
    * the full table — the property a BroadcastNestedLoopJoin loses the
    * moment n stops fitting in one executor. Replication factor is
    * (B+1)/2 per side (the theoretical optimum for all-pairs on p
    * reducers is Θ(√p)); at 100 TB, B grows so a block fits executor
    * memory. Total pairwise compute is unchanged (exactness needs every
    * pair) — only its distribution changes. The sub-quadratic alternative
    * when the threshold permits is q28's LSH candidates. */
  def q46CosinePairs(s: SparkSession, dir: String): DataFrame =
    cosinePairs(s, dir).orderBy(col("id_a"), col("id_b"))

  /** Members (vec_id, fp) of the exact-duplicate collapse: fp is the
    * [[ClassCollapse.key]] of the embedding. */
  private def embMembers(s: SparkSession, dir: String): DataFrame =
    Tables.embeddings(s, dir)
      .select(col("vec_id"), ClassCollapse.key(col("embedding")).as("fp"))

  /** The embedding classes (fp, vec_id = min member id, mult, embedding,
    * nrm): one representative per DISTINCT embedding — the
    * exact-duplicate collapse spine shared by the LSH (q28), blocked-pair
    * (q46 family), cluster (q110/q228), and IVF-PQ (q139) stages.
    * Memoized: each consumer would otherwise pay the same corpus-wide
    * groupBy per query. `first` is deterministic in VALUE here — every
    * member of a class carries a byte-identical array — so the norm is
    * taken once per class, after the collapse. */
  private[queries] def embReps(s: SparkSession, dir: String): DataFrame =
    graft.PlanCache.memo(s, dir, "emb_reps", "xxh64") {
      ClassCollapse.classes(
        Tables.embeddings(s, dir).select(col("vec_id"), col("embedding"),
          ClassCollapse.key(col("embedding")).as("fp")),
        "vec_id", "fp", first(col("embedding")).as("embedding"))
        .withColumn("nrm", vecNorm(col("embedding")))
    }

  /** REP-level ε-pairs (id_a < id_b, cos ≥ 0.4, 6dp grid) — the blocked
    * exact pair join over one representative per DISTINCT embedding.
    * Memoized separately from the member expansion so graph consumers
    * (semClusters) can run their contraction on the rep graph directly:
    * under N× duplicate replication the member graph carries ~N²× the
    * edges of the rep graph with ZERO extra information (identical
    * vectors land in the same component by construction). */
  private[queries] def repCosinePairs(s: SparkSession, dir: String): DataFrame =
    graft.PlanCache.memo(s, dir, "rep_cosine_pairs", "t0.4,B8") {
      import s.implicits._
      val B = 8
      val e = embReps(s, dir).withColumn("blk", pmod(col("vec_id"), lit(B)).cast("int"))
      val blockPairs = broadcast(
        (for { i <- 0 until B; j <- i until B } yield (i, j)).toDF("bi", "bj"))
      val aSide = e.join(blockPairs, col("blk") === col("bi"))
        .select(col("bi"), col("bj"), col("vec_id").as("id_a"),
          col("embedding").as("emb_a"), col("nrm").as("nrm_a"))
      val bSide = e.join(blockPairs, col("blk") === col("bj"))
        .select(col("bi").as("bi2"), col("bj").as("bj2"), col("vec_id").as("id_b"),
          col("embedding").as("emb_b"), col("nrm").as("nrm_b"))
      aSide
        .join(bSide, col("bi") === col("bi2") && col("bj") === col("bj2"))
        // off-diagonal keys (bi<bj) see each unordered pair once; diagonal
        // keys (bi=bj) see both orderings — keep one
        .filter(col("bi") < col("bj") || col("id_a") < col("id_b"))
        .select(
          least(col("id_a"), col("id_b")).as("id_a"),
          greatest(col("id_a"), col("id_b")).as("id_b"),
          round(vecDot(col("emb_a"), col("emb_b")) / (col("nrm_a") * col("nrm_b")), 6)
            .as("cos_sim"))
        .filter(col("cos_sim") >= 0.4)
    }

  /** The exact cosine-pair graph (id_a < id_b, cos ≥ 0.4) behind
    * q46/q64/q110, memoized per (session, dir) — all three registry
    * entries pay the blocked all-pairs join ONCE per session.
    *
    * Exact-duplicate collapse (same production composition as q114):
    * byte-identical vectors — at web scale every duplicated document
    * contributes one — cost multiplicity² in any pairwise stage, so
    * the blocked join runs over one REPRESENTATIVE per distinct
    * vector ([[repCosinePairs]]) and member pairs re-expand afterwards.
    * Identical vectors have cos = dot/(√dot·√dot) = 1/(1+ε),
    * |ε| ≤ 2⁻⁵², which rounds to 1.000000 at 6 dp in every IEEE engine
    * — so intra-class pairs emit the constant the oracle computes. The
    * 10×-replicated sf1 stress corpus drops the q46/q64/q110 family
    * from 28/26/37 s to output-bound seconds; on duplicate-free corpora
    * the collapse is one vocabulary-sized groupBy of overhead. */
  private[queries] def cosinePairs(s: SparkSession, dir: String): DataFrame =
    graft.PlanCache.memo(s, dir, "cosine_pairs", "t0.4,B8") {
      ClassCollapse.expandPairs(embMembers(s, dir), embReps(s, dir),
        repCosinePairs(s, dir), "id_a", "id_b", "cos_sim", lit(1.0))
    }

  /** Shared DuckDB collapse fragment for the embedding-pair oracles —
    * the oracle-side mirror of [[cosinePairs]]' exact-duplicate
    * collapse (here by grouping on the embedding VALUE, strictly
    * stronger than the engine's fingerprint): the quadratic pair stage
    * runs over one representative per distinct vector; cross member
    * pairs inherit the representatives' exact cosine and intra pairs
    * are identical vectors, which round to exactly 1.0 at 6 dp in any
    * IEEE engine (the engine emits the same constant). Bit-identical
    * to brute force at every scale; 100× cheaper on the
    * 10×-replicated stress corpora.
    * Yields: vreps(vec_id=min member, mult, embedding),
    * vmem(vec_id, rep), n(vec_id, embedding, nrm) — rep-level — and
    * rcos(ra, rb, cos_sim) — rep pairs at the 0.4 ε threshold. */
  private val vecCollapseCteSql: String =
    """vreps AS MATERIALIZED (
      |  SELECT MIN(vec_id) AS vec_id, COUNT(*) AS mult, embedding
      |  FROM embeddings GROUP BY embedding),
      |vmem AS MATERIALIZED (
      |  SELECT e.vec_id, r.vec_id AS rep
      |  FROM embeddings e JOIN vreps r ON e.embedding = r.embedding),
      |n AS (
      |  SELECT vec_id, embedding,
      |    sqrt(list_sum(list_transform(range(1, len(embedding) + 1),
      |      i -> CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE)))) AS nrm
      |  FROM vreps),
      |rcos AS MATERIALIZED (
      |  SELECT ra, rb, cos_sim FROM (
      |    SELECT a.vec_id AS ra, b.vec_id AS rb,
      |      round(list_sum(list_transform(range(1, len(a.embedding) + 1),
      |          i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)))
      |        / (a.nrm * b.nrm), 6) AS cos_sim
      |    FROM n a JOIN n b ON a.vec_id < b.vec_id)
      |  WHERE cos_sim >= 0.4)""".stripMargin

  /** Member-level expansion of `rcos` as a CTE: the q46 pair relation
    * (id_a < id_b, cos_sim ≥ 0.4). */
  private val cpairsCteSql: String =
    """cpairs AS (
      |  SELECT LEAST(ma.vec_id, mb.vec_id) AS id_a,
      |    GREATEST(ma.vec_id, mb.vec_id) AS id_b, r.cos_sim
      |  FROM rcos r JOIN vmem ma ON ma.rep = r.ra
      |              JOIN vmem mb ON mb.rep = r.rb
      |  UNION ALL
      |  SELECT ma.vec_id, mb.vec_id, CAST(1.0 AS DOUBLE)
      |  FROM vmem ma JOIN vmem mb
      |    ON ma.rep = mb.rep AND ma.vec_id < mb.vec_id)""".stripMargin

  val q46Sql: String =
    s"""WITH $vecCollapseCteSql,
      |$cpairsCteSql
      |SELECT id_a, id_b, cos_sim FROM cpairs
      |ORDER BY id_a, id_b""".stripMargin

  /** MULTI-TABLE hyperplane-LSH approximate nearest neighbors: L = 12
    * hash tables of b = 6 sign bits each; a pair becomes a candidate if
    * it collides in ANY table, then exact cosine ranks the candidates
    * (top-3 per query). One table of many bits has near-zero recall on
    * weakly-correlated data (a 12-bit table leaves almost every vector
    * alone in its bucket — measured recall@3 0.09 on the test
    * embeddings); the standard multi-table design trades that for
    * P(candidate) = 1 − (1 − p^b)^L per pair, 0.35 recall@3 here (vs 0.09)
    * with the identical plan shape.
    * Hyperplane coords are a deterministic arithmetic formula (no RNG —
    * reproducible across runs). Approximate recall ⇒ no SQL oracle;
    * SelfConsistencySpec pins cosine exactness and the recall floor.
    * Scale: candidates come from L equi-join bucket groups — shuffle
    * volume is L·n band rows and in-bucket work is ~L·n²/2^b; tune
    * (L, b) to corpus size exactly like q20's MinHash bands. */
  def q28AnnLsh(s: SparkSession, dir: String): DataFrame = {
    // plane(j, d) = sin(j * 131 + d * 7): fixed pseudo-random hyperplanes,
    // materialized ONCE on the driver (no RNG — reproducible runs).
    // Signatures are computed RELATIONALLY: posexplode the vector dims,
    // broadcast-join the (L·b)×64-row plane table, two codegen'd groupBy
    // sums. (A single literal projection expression measured ~8 s —
    // janino chokes on the huge method and falls back to interpreted; the
    // relational plan is sub-second and scales.)
    import s.implicits._
    val L = 12; val b = 6
    val planesDF = broadcast(
      (for { j <- 0 until L * b; d <- 0 until 64 }
        yield (j, d, math.sin(j * 131 + d * 7))).toDF("j", "d", "w"))
    // Exact-duplicate collapse (cosinePairs' idiom applied to LSH):
    // identical embeddings have identical signatures in every table and
    // identical cosines against everything, so the 72-plane projection
    // join — the dominant cost, |corpus|·64·72 rows — runs once per
    // DISTINCT embedding, and candidates/cosines live at class level.
    // Output is unchanged: class cos is the member cos bit-for-bit
    // (same float arrays), and the intra-class cos rounds to 1.000000
    // at 6 dp in every IEEE engine (|ε| ≤ 2⁻⁵²; the cosinePairs
    // argument). sf100 (1000× replication): the old member-level band
    // build cost 980.6 s; class-level it is ~1/1000th of the rows.
    val members = embMembers(s, dir)
    val reps = embReps(s, dir)
    // the band table sits on both sides of the candidate self-join and
    // costs two aggregations to build — memoized per (session, dir)
    val bands = graft.PlanCache.memo(s, dir, "lsh_bands", s"L$L,b$b,reps")(reps
      .select(col("fp"), posexplode(col("embedding")).as(Seq("d", "x")))
      .join(planesDF, "d")
      .groupBy(col("fp"), col("j"))
      .agg(sum(col("x").cast("double") * col("w")).as("dot"))
      // table id = j / b, bit = j % b → one b-bit key per (class, table)
      .groupBy(col("fp"), (col("j") / b).cast("int").as("tbl"))
      .agg(sum(when(col("dot") >= 0, expr(s"shiftleft(1L, CAST(j % $b AS INT))"))
        .otherwise(0L)).as("key")))
    // class-level candidates for classes containing a query member;
    // fpa === fpb pairs carry the intra-class (identical-vector) case
    val qCls = members.filter(col("vec_id") < 50).select(col("fp").as("qfp")).distinct()
    val candCls = bands.as("x").join(bands.as("y"),
        col("x.tbl") === col("y.tbl") && col("x.key") === col("y.key"))
      .join(broadcast(qCls), col("x.fp") === col("qfp"), "left_semi")
      .select(col("x.fp").as("fpa"), col("y.fp").as("fpb"))
      .distinct()
    val clsCos = candCls
      .join(reps.select(col("fp").as("fpa"), col("embedding").as("ea"), col("nrm").as("na")), "fpa")
      .join(reps.select(col("fp").as("fpb"), col("embedding").as("eb"), col("nrm").as("nb")), "fpb")
      .select(col("fpa"), col("fpb"),
        round(vecDot(col("ea"), col("eb")) / (col("na") * col("nb")), 6).as("cos_sim"))
    // only a class's 4 smallest member ids can reach a top-3 (ranking
    // prefers lower c_id within equal cos; +1 covers self-exclusion
    // when the query sits among its own class's smallest ids)
    val wM = Window.partitionBy(col("fp")).orderBy(col("vec_id"))
    val m4 = members.withColumn("mrn", row_number().over(wM))
      .filter(col("mrn") <= 4).select(col("fp"), col("vec_id"))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("cos_sim").desc, col("c_id"))
    members.filter(col("vec_id") < 50)
      .select(col("vec_id").as("q_id"), col("fp").as("fpa"))
      .join(clsCos, "fpa")
      .join(m4.select(col("fp").as("fpb"), col("vec_id").as("c_id")), "fpb")
      .filter(col("c_id") =!= col("q_id"))
      .select(col("q_id"), col("c_id"), col("cos_sim"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 3)
      .orderBy(col("q_id"), col("rn"))
  }

  /** Embedding-cosine near-duplicate DEDUP: the corpus-cleaning operator
    * built on q46's exact pair detection — of every pair with cosine ≥
    * 0.4, the higher vec_id is dropped (deterministic canonical
    * survivor), and the survivor set is profiled per id-bucket. This is
    * the embedding-space sibling of q19 (exact hash dedup) and q20
    * (MinHash text dedup): same drop-the-greater-id policy, different
    * similarity notion.
    *
    * Scale (r12): the survivor set is decided at CLASS level, never by
    * expanding member pairs. A member m is a pair's greater id iff some
    * partner (a co-member of its duplicate class, or any member of an
    * ε-adjacent class) has a smaller id; the minimum partner of class C
    * is min(rep of C's co-members, min adjacent rep) — reps ARE their
    * class minimums — so the survivors are exactly the reps smaller
    * than every adjacent rep (co-members of a mult ≥ 2 class always
    * lose to their own rep). One rep-sized aggregate replaces the
    * member-pair distinct that went ~mult² under duplicate replication
    * (Σ C(mult,2) ≈ 10¹¹ expanded rows at the sf100 stress tier). */
  def q64EmbeddingDedup(s: SparkSession, dir: String): DataFrame = {
    val rp = repCosinePairs(s, dir)
    val minAdj = rp.select(col("id_a").as("rep"), col("id_b").as("other"))
      .unionByName(rp.select(col("id_b").as("rep"), col("id_a").as("other")))
      .groupBy(col("rep")).agg(min(col("other")).as("min_adj"))
    val kept = embReps(s, dir).select(col("vec_id").as("rep"))
      .join(minAdj, Seq("rep"), "left")
      .filter(col("min_adj").isNull || col("rep") < col("min_adj"))
      .select(col("rep").as("vec_id"))
    kept
      .groupBy(pmod(col("vec_id"), lit(10)).as("bucket"))
      .agg(count(lit(1)).as("n_kept"),
        min(col("vec_id")).as("min_id"), max(col("vec_id")).as("max_id"))
      .orderBy(col("bucket"))
  }

  val q64Sql: String =
    s"""WITH $vecCollapseCteSql,
      |$cpairsCteSql
      |SELECT CAST(vec_id % 10 AS BIGINT) AS bucket, COUNT(*) AS n_kept,
      |  MIN(vec_id) AS min_id, MAX(vec_id) AS max_id
      |FROM embeddings
      |WHERE vec_id NOT IN (SELECT id_b FROM cpairs)
      |GROUP BY 1 ORDER BY 1""".stripMargin

  /** Per-dimension int8 scalar quantization of the embedding column —
    * the standard 4× compression step before ANN serving (FAISS's SQ8):
    * each dimension d gets a [min_d, max_d] range from one corpus pass,
    * values quantize to code = floor((x−mn)·255/(mx−mn)) ∈ [0,255] and
    * reconstruct as mn + code·(mx−mn)/255. Everything is exact double
    * arithmetic in a fixed operation order, so the codes are
    * bit-reproducible cross-engine and the per-vector code/error
    * aggregates sit under the full DuckDB hash oracle — the quantizer
    * itself is verified, not just spot-checked. The range table is
    * d rows → broadcast; the quantize pass is scan-local. Recall impact
    * is SelfConsistencySpec's job (reconstructed top-k vs q27 exact).
    * Scale: one n×d-row aggregate for ranges + one map-side pass —
    * linear, no self-joins anywhere. */
  def q93ScalarQuantize(s: SparkSession, dir: String): DataFrame = {
    val coded = sqCodes(s, dir)
    coded.filter(col("vec_id") < 100)
      .groupBy(col("vec_id"))
      .agg(count(lit(1)).as("n_dims"),
        sum(col("code")).cast("long").as("sum_code"),
        min(col("code")).as("min_code"),
        max(col("code")).as("max_code"),
        round(graft.Oracle.dsum(abs(col("x") - col("recon"))) / count(lit(1)), 9)
          .as("mean_abs_err"))
      .orderBy(col("vec_id"))
  }

  /** (vec_id, d, x, mn, mx, code, recon) — the quantization working set
    * shared by q93 and the recall spec. */
  private[graft] def sqCodes(s: SparkSession, dir: String): DataFrame = {
    val dims = Tables.embeddings(s, dir)
      .select(col("vec_id"), posexplode(col("embedding")).as(Seq("d", "x")))
      .withColumn("x", col("x").cast("double"))
    val ranges = dims.groupBy(col("d"))
      .agg(min(col("x")).as("mn"), max(col("x")).as("mx"))
    dims.join(broadcast(ranges), "d")
      .withColumn("code",
        when(col("mx") === col("mn"), lit(0L))
          .otherwise(least(
            floor((col("x") - col("mn")) * lit(255d) / (col("mx") - col("mn")))
              .cast("long"),
            lit(255L))))
      .withColumn("recon",
        col("mn") + col("code") * (col("mx") - col("mn")) / lit(255d))
  }

  /** Embeddings rebuilt from their int8 codes (float, like the source
    * column) — what a quantized index actually searches against. */
  private[graft] def sqReconstruct(s: SparkSession, dir: String): DataFrame =
    sqCodes(s, dir)
      .groupBy(col("vec_id"))
      .agg(sort_array(collect_list(struct(col("d"), col("recon")))).as("dm"))
      .select(col("vec_id"),
        expr("transform(dm, p -> CAST(p.recon AS FLOAT))").as("embedding"))

  val q93Sql: String =
    s"""WITH dims AS (
      |  SELECT vec_id, i - 1 AS d, CAST(embedding[i] AS DOUBLE) AS x
      |  FROM (SELECT vec_id, embedding,
      |          unnest(range(1, len(embedding) + 1)) AS i
      |        FROM embeddings)),
      |r AS (SELECT d, MIN(x) AS mn, MAX(x) AS mx FROM dims GROUP BY d),
      |coded AS (
      |  SELECT vec_id, x, mn, mx,
      |    CASE WHEN mx = mn THEN 0
      |         ELSE LEAST(CAST(floor((x - mn) * 255 / (mx - mn)) AS BIGINT), 255)
      |    END AS code
      |  FROM dims JOIN r USING (d)),
      |re AS (
      |  SELECT vec_id, code, abs(x - (mn + code * (mx - mn) / 255)) AS err
      |  FROM coded)
      |SELECT vec_id, COUNT(*) AS n_dims,
      |  CAST(SUM(code) AS BIGINT) AS sum_code,
      |  MIN(code) AS min_code, MAX(code) AS max_code,
      |  round(${graft.Oracle.dsumSql("err")} / COUNT(*), 9) AS mean_abs_err
      |FROM re WHERE vec_id < 100
      |GROUP BY vec_id ORDER BY vec_id""".stripMargin

  /** Product quantization (Jégou et al. '11 — FAISS's PQ): the third
    * leg of the compression/ANN triad beside q56 (IVF) and q93 (SQ8).
    * The 64-dim vector splits into m = 8 subspaces of 8 dims; each
    * subspace trains its own k = 256 codebook (FAISS's standard 8-bit
    * geometry; 2 Lloyd iterations, run RELATIONALLY with q56's
    * determinism discipline: fixed-point per-dim means, a
    * [[nearestCentroid]] argmin with (distance, centroid-id)
    * tie-breaks), so a vector compresses to
    * 8 × 8-bit codes = 8 bytes — 32× smaller than the float input, the
    * compression that lets a 10⁹-vector index live in RAM. Assignment
    * ranks by ‖c‖² − 2·s·c (the ‖s‖² term is constant per sub-vector —
    * never computed). Codebooks are m·k = 2048 rows → broadcast;
    * training shuffles n·m sub-vector rows per iteration; empty
    * codebook cells drop out of the re-estimate (standard k-means
    * shrinkage).
    *
    * FULLY hash-oracled (round-4 verdict item 9, upgraded past the
    * asked-for partial oracle): every arithmetic step — seeding,
    * distances (sequential-fold dots), argmin tie-breaks, fixed-point
    * means, float casts — is the same integer/IEEE operation in both
    * engines, so [[q96Sql]] replays the entire 2-iteration Lloyd
    * training in DuckDB and the codes match bit-for-bit.
    * SelfConsistencySpec additionally gates reconstruction MSE against
    * the trivial one-centroid quantizer and recall@5 of ADC-style
    * search over the reconstructed vectors. */
  def q96PqCodes(s: SparkSession, dir: String): DataFrame = {
    val cents = pqCodebooks(s, dir)
    val codes = pqCodes(s, dir)
    val errs = codes.join(broadcast(cents), Seq("sub", "cid"))
      .select(col("vec_id"), col("sub"), col("cid"),
        expr("""aggregate(zip_with(svec, cvec, (a, b) ->
                  (CAST(a AS DOUBLE) - b) * (CAST(a AS DOUBLE) - b)),
                CAST(0 AS DOUBLE), (acc, v) -> acc + v)""").as("err2"))
    errs.filter(col("vec_id") < 100)
      .groupBy(col("vec_id"))
      // non-overlapping 8-bit fields: the sum IS the bitwise pack (the
      // top field can set the sign bit — a code, not a number)
      .agg(sum(expr("shiftleft(CAST(cid AS BIGINT), CAST(sub * 8 AS INT))"))
          .cast("long").as("code_word"),
        // decimal-grid sum (Oracle.dsum discipline): the 8 per-sub err2
        // values quantize to the 1e-6 grid before summing, so Spark's
        // nondeterministic partial-agg combine order can never round a
        // boundary value differently than DuckDB's sequential fold
        round(graft.Oracle.dsum(col("err2")), 6).as("sq_err"))
      .orderBy(col("vec_id"))
  }

  /** The m=8 sub-vectors of an (id, embedding) frame — row-local
    * (explode + regroup per id), so it commutes with any filter on the
    * id column. Callers pass members, reps (keyed by fp), or a sampled
    * slice; nothing corpus-wide is materialized here. */
  private def subvecsOf(e: DataFrame, idCol: String): DataFrame =
    e.select(col(idCol), posexplode(col("embedding")).as(Seq("d", "x")))
      .withColumn("sub", (col("d") / 8).cast("int"))
      .withColumn("i", pmod(col("d"), lit(8)))
      .groupBy(col(idCol), col("sub"))
      .agg(sort_array(collect_list(struct(col("i"), col("x")))).as("iv"))
      .select(col(idCol), col("sub"), expr("transform(iv, p -> p.x)").as("svec"))

  /** Class-level sub-vectors (fp, sub, svec): one explode per DISTINCT
    * embedding. Memoized — shared by the PQ code table and the q139
    * LUT/candidate path. */
  private[queries] def repSubvecs(s: SparkSession, dir: String): DataFrame =
    graft.PlanCache.memo(s, dir, "rep_subvecs", "m8")(
      subvecsOf(embReps(s, dir), "fp"))

  /** The full-corpus PQ code table (vec_id, sub, svec, cid), memoized —
    * the compressed representation q96 audits and q139 searches over.
    * 8 one-byte codes per vector is the structure that actually fits in
    * memory at billion scale; everything downstream of this table never
    * touches raw candidate embeddings.
    *
    * Exact-duplicate collapse (r13, the q139/q28 idiom applied to the
    * INDEX build): a code is a pure function of the embedding value
    * under [[pqAssign]]'s deterministic tie-break, so assignment runs
    * once per distinct class ([[repSubvecs]]) and members inherit their
    * class's codes through one fp join — the member side never touches
    * a codebook. Values are bit-identical to per-member assignment
    * (byte-identical svec ⇒ same IEEE scores ⇒ same argmin); the
    * member-level form paid |corpus|·8 rows × 256 codebook dots, which
    * at the 1000×-replicated stress tier was 761 s of wasted identical
    * arithmetic. */
  private[graft] def pqCodes(s: SparkSession, dir: String): DataFrame =
    graft.PlanCache.memo(s, dir, "pq_codes", "m8,k256,it2,cls") {
      embMembers(s, dir).join(repCodes(s, dir), "fp")
        .select(col("vec_id"), col("sub"), col("svec"), col("cid"))
    }

  /** Class-level PQ code assignment (fp, sub, svec, cid) — the
    * compressed index at class granularity, memoized (r14): it was
    * computed TWICE per session, once inside [[pqCodes]]'s attach and
    * once un-memoized inside q139's candidate stage (the 256-way
    * scoring of every distinct class's 8 sub-vectors, the expensive
    * half of the q96 slot). One build now serves both. */
  private[graft] def repCodes(s: SparkSession, dir: String): DataFrame =
    graft.PlanCache.memo(s, dir, "rep_codes", "m8,k256,it2") {
      pqAssign(repSubvecs(s, dir).withColumnRenamed("fp", "vec_id"),
          pqCodebooks(s, dir))
        .select(col("vec_id").as("fp"), col("sub"), col("svec"), col("cid"))
    }

  /** Nearest-codebook assignment: subvecs.* + cid. Each subspace's
    * k = 256 codebook is one broadcast row (a cid-sorted array of (cid,
    * cvec, cnorm2)) joined on `sub`; the codegen'd [[nearestCentroid]]
    * kernel takes each sub-vector's argmin of cnorm2 − 2·dot, ties to
    * the lowest cid — the (score, cid) order [[pqAssignSql]] replays.
    * Map-side: no aggregate, no exchange of the sub-vector side, and
    * every input column (e.g. the training loop's multiplicity) stays
    * on its row. */
  private def pqAssign(subvecs: DataFrame, cents: DataFrame): DataFrame = {
    val cb = broadcast(cents.groupBy(col("sub")).agg(sort_array(
      collect_list(struct(col("cid"), col("cvec"), col("cnorm2")))).as("__cb")))
    subvecs.join(cb, "sub")
      .withColumn("cid", nearestCentroid(col("svec"), col("__cb"), cosine = false))
      .drop("__cb")
  }

  /** Per-subspace codebooks after 2 deterministic Lloyd iterations:
    * (sub, cid, cvec, cnorm2). Seeded from the first 256 SAMPLED
    * vectors. Trained on a deterministic 1-in-step sample targeting
    * k·100 = 25600 vectors ([[trainStep]]) — the FAISS-style bounded
    * training set that keeps Lloyd cost flat while the corpus grows;
    * the full corpus is assigned exactly once in [[pqCodes]]. The
    * 25600 floor (not a smaller target, and step = 1 — identity — at
    * every gate SF, where the corpus is below the target) exists
    * because a starved codebook is measurably worse: with only
    * 500–5000 vectors against k = 256 cells, a 50% hash-sample doubled
    * MSE 5× and cut recall to 0.3. Memoized: trained once per
    * (session, dir), shared by the code query and the reconstruction
    * path. */
  private[graft] def pqCodebooks(s: SparkSession, dir: String): DataFrame =
    graft.PlanCache.memo(s, dir, "pq_codebooks", "m8,k256,it2,fxp14,s25600") {
      // train-on-sample ([[trainStep]], target k·100 = 25600): Lloyd
      // runs over the 1-in-step sub-vector slice; the final full-corpus
      // assignment lives in [[pqCodes]]. Seed = first 256 SAMPLED
      // vectors; cid = vec_id div step keeps codes dense in [0, 256)
      // (the 8-bit fields of q96's code_word pack by cid). The sample
      // filter AND the seed's vec_id bound both run BEFORE the
      // sub-vector explode ([[subvecsOf]] is row-local, so
      // filter-then-explode emits exactly the rows explode-then-filter
      // did): the seed costs a 256-vector explode at any corpus size.
      // (The TRAINING slice itself derives from the memoized class-level
      // explode [[repSubvecs]] below, not from a member re-explode.)
      val step = broadcast(trainStep(s, dir, 25600L))
      var cents = subvecsOf(
        Tables.embeddings(s, dir).crossJoin(step)
          .filter(pmod(col("vec_id"), col("step")) === 0 &&
            col("vec_id") < lit(256L) * col("step"))
          .select(col("vec_id"), col("embedding"), col("step")), "vec_id")
        .crossJoin(step)
        .select(col("sub"), expr("CAST(vec_id div step AS INT)").as("cid"),
          col("svec").as("cvec"))
        .withColumn("cnorm2", vecDot(col("cvec"), col("cvec")))
      // DISTINCT-subvector training slice (r13 optimization round): the
      // 256-way argmin and the mean sums are functions of the sub-vector
      // VALUE, so Lloyd runs once per distinct (sub, svec) carrying the
      // sampled-member multiplicity — the collapse the ORACLE already
      // replays ([[pqDvAssignSql]]/[[pqSumsSql]]), now mirrored
      // engine-side. Bit-identical by the same argument the oracle's
      // green hash has been proving since the weighted replay landed:
      // identical svec ⇒ identical IEEE score against every centroid ⇒
      // identical argmin (tie-break on cid alone), and the member
      // fixed-point sum Σ round(x·1e10) over a class is exactly
      // mult · the distinct value's rounding.
      //
      // The slice derives from the memoized class-level explode
      // ([[repSubvecs]]) instead of re-exploding sampled members: each
      // sampled member contributes its class's (sub, svec) rows, so the
      // sampled multiset is repSubvecs ⋈ (per-class sampled-member
      // count), re-grouped on the VALUE because distinct classes can
      // share a sub-vector value in one subspace. Group keys are the
      // scalar [[ClassCollapse.key]] of the value — array group-keys
      // fall back to SortAggregate (measured: 2× the training cost).
      val sampledClassCounts = embMembers(s, dir).crossJoin(step)
        .filter(pmod(col("vec_id"), col("step")) === 0)
        .groupBy(col("fp")).agg(count(lit(1)).as("m"))
      // eagerly checkpointed: each round's assign reads the slice × 2
      // rounds — a lazy plan would recompute the repSubvecs join and
      // the sampled class counts per round. Class-count-
      // sized (≤ |distinct| · 8 rows), so the pinned blocks are
      // kilobytes-to-MBs at any corpus scale.
      val dv = Iteration.ckpt(repSubvecs(s, dir).join(sampledClassCounts, "fp")
        .groupBy(col("sub"), ClassCollapse.key(col("svec")).as("sfp"))
        .agg(first(col("svec")).as("svec"), sum(col("m")).as("mult"))
        .drop("sfp"))
      for (_ <- 1 to 2) {
        // Fixed-point mean, engine-portable BY CONSTRUCTION: values
        // quantize to integer 1e-10 units (round half-away, identical
        // in Spark and DuckDB), the mean rounds half-away to 1e-14
        // units in pure BIGINT arithmetic (sign-split so the integer
        // division sees nonnegative operands — floor = truncate), and
        // the float cast goes through one correctly-rounded double
        // division. Every step is the same integer/IEEE op in both
        // engines, so the trained codebooks — and therefore q96's
        // codes — are bit-identical under the DuckDB oracle (the
        // decimal-avg form this replaces pinned determinism per
        // engine, but decimal avg semantics differ across engines).
        cents = pqAssign(dv, cents)
          .select(col("sub"), col("cid"), col("mult"),
            posexplode(col("svec")).as(Seq("i", "x")))
          .groupBy(col("sub"), col("cid"), col("i"))
          .agg(sum(round(col("x").cast("double") * lit(1e10)).cast("long") *
            col("mult")).as("sx"),
            sum(col("mult")).as("n"))
          .withColumn("m14", expr(
            """CASE WHEN sx >= 0 THEN (2*sx*10000 + n) div (2*n)
              |     ELSE -((2*(-sx)*10000 + n) div (2*n)) END""".stripMargin))
          .withColumn("m", (col("m14").cast("double") / lit(1e14)).cast("float"))
          .groupBy(col("sub"), col("cid"))
          .agg(sort_array(collect_list(struct(col("i"), col("m")))).as("im"))
          .select(col("sub"), col("cid"),
            expr("transform(im, p -> p.m)").as("cvec"))
          .withColumn("cnorm2", vecDot(col("cvec"), col("cvec")))
      }
      cents
    }

  /** Embeddings rebuilt from their PQ codes (codebook lookup per
    * subspace, concatenated in subspace order) — what ADC search ranks
    * against. */
  private[graft] def pqReconstruct(s: SparkSession, dir: String): DataFrame = {
    val cents = pqCodebooks(s, dir)
    pqCodes(s, dir)
      .join(broadcast(cents), Seq("sub", "cid"))
      .select(col("vec_id"), col("sub"), col("cvec"))
      .groupBy(col("vec_id"))
      .agg(sort_array(collect_list(struct(col("sub"), col("cvec")))).as("sc"))
      .select(col("vec_id"), flatten(expr("transform(sc, p -> p.cvec)")).as("embedding"))
  }

  // ---------------------------------------------------------------------
  // q139 — IVF-PQ search with asymmetric distance computation (ADC)

  /** The billion-scale ANN shape (FAISS IVFPQ / Jégou et al. 2011):
    * IVF cells bound WHICH candidates a query touches, PQ codes bound
    * WHAT is read per candidate. Each query probes its nprobe = 4
    * closest of 16 cells; candidates in those cells are scored
    * asymmetrically — the exact query sub-vectors dot the candidate's
    * CODEBOOK entries, so per candidate the engine reads 8 one-byte
    * codes, never the raw vector. The per-query lookup table (8×256
    * sub-dot products) is |Q|·2048 rows → broadcast; the candidate
    * side is one inverted-file bucket join plus one code-table join.
    * ADC partial dots sum on Oracle.dsum's decimal grid (8 values/
    * pair, combine-order-independent), and the final top-3 is a
    * cluster-bounded window, never global.
    *
    * At 100 TB of vectors: raw embeddings appear ONLY in query-side
    * structures (|Q|-sized) and the LUT; the corpus-sized tables that
    * move are (vec_id, cell, nrm) and (vec_id, sub, cid) — ~16 bytes a
    * vector, the whole point of PQ. Approximate ⇒ rows-only gate;
    * SelfConsistencySpec pins recall vs exact brute force and rank
    * soundness.
    *
    * Exact-duplicate collapse (q28's idiom, r13): cell residency, PQ
    * codes, and the ADC score are functions of the embedding VALUE
    * alone, so the whole candidate stage runs once per DISTINCT
    * embedding class ([[embReps]]; class rep = min member id)
    * and members re-attach only at the final top-k. The previous
    * member-level form sort-merged probes × cell members — ~10⁹
    * candidate rows under 1000× duplicate replication, the registry's
    * one query that could not finish at the sf100 stress tier. Class-
    * level, the probe table (|Qcls|·nprobe rows) and the LUT
    * (|Qcls|·2048) BROADCAST, so candidate scoring streams past the
    * class-sized residency scan with zero corpus-sized shuffles; under
    * N× replication every stage up to the top-k attach scales with the
    * distinct corpus. Output is bit-identical to the member-level
    * form: identical embeddings share cell (same argmax + tie-break as
    * [[ivfAssigned]]), codes (same [[pqAssign]] against the unchanged
    * member-trained [[pqCodebooks]]), norms, and hence adc_cos; within
    * a class the rank tie-break prefers lower c_id, so only a class's
    * 4 smallest member ids can reach a top-3 (+1 covers the query
    * displacing itself) — the m4 expansion argument of q28. */
  def q139IvfPqSearch(s: SparkSession, dir: String): DataFrame = {
    val nprobe = 4
    val cents = ivfCentroids(s, dir)
    val members = embMembers(s, dir)
    val reps = embReps(s, dir)
    // class cell residency — the shared [[repCells]] memo (same argmax
    // + tie-break members get in [[ivfAssigned]])
    val candCells = repCells(s, dir)
      .select(col("fp").as("cfp"), col("nrm").as("c_nrm"), col("cell"))
    // class sub-vectors ([[repSubvecs]]): the query side of the LUT
    val repSubvecsF = repSubvecs(s, dir)
    // class PQ codes — the shared [[repCodes]] memo (r14: was an
    // un-memoized duplicate of the scoring pqCodes' attach also ran)
    val candCodes = repCodes(s, dir)
      .select(col("fp").as("cfp"), col("sub"), col("cid"))
    // query classes (vec_id < 50): probes and LUT per DISTINCT query
    // embedding — both broadcast-sized
    val qfps = broadcast(
      members.filter(col("vec_id") < 50).select(col("fp")).distinct())
    val probes = broadcast(reps.join(qfps, Seq("fp"), "left_semi")
      .crossJoin(broadcast(cents))
      .withColumn("cc", vecDot(col("embedding"), col("c_emb")) / (col("nrm") * col("c_nrm")))
      .withColumn("pr", row_number().over(Window.partitionBy(col("fp"))
        .orderBy(col("cc").desc, col("cent_id"))))
      .filter(col("pr") <= nprobe)
      .select(col("fp").as("qfp"), col("nrm").as("q_nrm"), col("cent_id").as("cell")))
    val lut = repSubvecsF.join(qfps, Seq("fp"), "left_semi")
      .join(broadcast(pqCodebooks(s, dir)), "sub")
      .select(col("fp").as("qfp"), col("sub"), col("cid"),
        vecDot(col("svec"), col("cvec")).as("pdot"))
    // class-level ADC: the intra-class (qfp == cfp) pair rides along —
    // a class's own cell is always its rank-1 probe (same tie-break)
    val adcScores = candCells
      .join(probes, "cell")
      .join(candCodes, "cfp")
      .join(broadcast(lut), Seq("qfp", "sub", "cid"))
      .groupBy(col("qfp"), col("cfp"))
      .agg(graft.Oracle.dsum(col("pdot")).as("adc"),
        max(col("q_nrm")).as("qn"), max(col("c_nrm")).as("cn"))
      .select(col("qfp"), col("cfp"),
        round(col("adc") / (col("qn") * col("cn")), 6).as("adc_cos"))
    // member expansion ONLY at the top-k: a class's 4 smallest ids
    val wM = Window.partitionBy(col("fp")).orderBy(col("vec_id"))
    val m4 = members.withColumn("mrn", row_number().over(wM))
      .filter(col("mrn") <= 4).select(col("fp"), col("vec_id"))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("adc_cos").desc, col("c_id"))
    members.filter(col("vec_id") < 50)
      .select(col("vec_id").as("q_id"), col("fp").as("qfp"))
      .join(adcScores, "qfp")
      .join(m4.select(col("fp").as("cfp"), col("vec_id").as("c_id")), "cfp")
      .filter(col("c_id") =!= col("q_id"))
      .select(col("q_id"), col("c_id"), col("adc_cos"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 3)
      .orderBy(col("q_id"), col("rn"))
  }

  /** DuckDB replay of the full PQ pipeline. The SQL is composed
    * programmatically because the sequential-fold dot products and the
    * 8 per-dimension fixed-point means unroll to literal left-
    * associated expression chains — the unrolling is exactly what makes
    * the float arithmetic order (and hence the hash) engine-identical.
    * Each `aN`/`cN` CTE pair is one Lloyd step: assignment by
    * row_number over (score, cid) — DuckDB's spelling of the
    * [[nearestCentroid]] (score, cid) tie-break — then the integer mean
    * formula verbatim. */
  // --- shared DuckDB PQ-replay fragments (q96Sql, q216Sql) ---

  /** Σ aᵢ·bᵢ as a left-associated chain — matches vec_dot's fold order. */
  private def pqDot8Sql(a: String, b: String): String =
    (1 to 8).map(i => s"(CAST($a[$i] AS DOUBLE) * CAST($b[$i] AS DOUBLE))")
      .mkString(" + ")

  private def pqScoreSql(s: String, c: String): String =
    s"(${pqDot8Sql(c, c)}) - 2 * (${pqDot8Sql(s, c)})"

  // per-dimension fixed-point mean -> FLOAT, same ops as pqCodebooks;
  // weighted by the distinct-subvector multiplicity (exact: the member
  // sum Σ round(v·1e10) is mult · the distinct value's rounding)
  private def pqSumsSql: String = ((1 to 8).map(i =>
    s"SUM(CAST(round(CAST(svec[$i] AS DOUBLE) * 1e10) AS BIGINT) * mult) AS s$i") :+
    "CAST(SUM(mult) AS BIGINT) AS n").mkString(", ")

  private def pqMeanSql(i: Int): String =
    s"""CAST((CASE WHEN s$i >= 0 THEN (2*s$i*10000 + n) // (2*n)
       |  ELSE -((2*(-s$i)*10000 + n) // (2*n)) END) / 1e14 AS FLOAT)""".stripMargin

  private def pqMeansSql: String = (1 to 8).map(pqMeanSql).mkString("[", ", ", "]")

  /** Member-level assignment (used only on small filtered slices). */
  private def pqAssignSql(from: String, cents: String): String =
    s"""SELECT vec_id, sub, svec, cid FROM (
       |  SELECT v.vec_id, v.sub, v.svec, c.cid,
       |    ROW_NUMBER() OVER (PARTITION BY v.vec_id, v.sub
       |      ORDER BY ${pqScoreSql("v.svec", "c.cvec")}, c.cid) AS rn
       |  FROM $from v JOIN $cents c USING (sub)) WHERE rn = 1""".stripMargin

  /** DISTINCT-subvector assignment: identical sub-vectors score
    * identically against every centroid, so the 256-way argmin runs
    * once per distinct (sub, svec) and carries the multiplicity — the
    * oracle-side collapse idiom at the Lloyd stage (replicated stress
    * corpora are 10× distinct, so the dominant join shrinks 10×). */
  private def pqDvAssignSql(from: String, cents: String): String =
    s"""SELECT sub, svec, mult, cid FROM (
       |  SELECT v.sub, v.svec, v.mult, c.cid,
       |    ROW_NUMBER() OVER (PARTITION BY v.sub, v.svec
       |      ORDER BY ${pqScoreSql("v.svec", "c.cvec")}, c.cid) AS rn
       |  FROM $from v JOIN $cents c USING (sub)) WHERE rn = 1""".stripMargin

  private def pqReestimateSql(from: String): String =
    s"""SELECT sub, cid, $pqMeansSql AS cvec FROM (
       |  SELECT sub, cid, $pqSumsSql FROM $from GROUP BY sub, cid)""".stripMargin

  /** The WITH-body that replays PQ codebook training in DuckDB:
    * sub-vector split `{p}sv`, distinct sub-vectors `{p}dv`, first-256
    * seed `{p}c0`, two weighted Lloyd rounds ending at codebooks
    * `{p}c2` (bit-identical to the member-level replay — see
    * [[pqDvAssignSql]]/[[pqSumsSql]]). CTE names are prefixed so q216
    * can compose this beside the (name-colliding) IVF replay of
    * q215. */
  private def pqTrainCtes(p: String): String =
    s"""${p}nv AS (SELECT GREATEST(1, COUNT(*) // 25600) AS step FROM embeddings),
       |${p}sv AS MATERIALIZED (
       |  SELECT vec_id, s.sub,
       |    embedding[CAST(s.sub*8+1 AS INT):CAST(s.sub*8+8 AS INT)] AS svec
       |  FROM embeddings CROSS JOIN (SELECT unnest(range(0, 8)) AS sub) s),
       |${p}tv AS (SELECT vec_id, sub, svec FROM ${p}sv, ${p}nv
       |       WHERE vec_id % step = 0),
       |${p}dv AS MATERIALIZED (
       |  SELECT sub, svec, CAST(COUNT(*) AS BIGINT) AS mult
       |  FROM ${p}tv GROUP BY 1, 2),
       |${p}c0 AS (SELECT sub, CAST(vec_id // step AS INT) AS cid, svec AS cvec
       |       FROM ${p}tv, ${p}nv WHERE vec_id < 256*step),
       |${p}a1 AS (${pqDvAssignSql(s"${p}dv", s"${p}c0")}),
       |${p}c1 AS (${pqReestimateSql(s"${p}a1")}),
       |${p}a2 AS (${pqDvAssignSql(s"${p}dv", s"${p}c1")}),
       |${p}c2 AS (${pqReestimateSql(s"${p}a2")})""".stripMargin

  val q96Sql: String = {
    def assign(from: String, cents: String): String = pqAssignSql(from, cents)
    // wrap the unsigned code accumulation to Spark's signed-64 shiftleft
    val pow = (0 to 7).map(s => s"WHEN $s THEN ${BigInt(2).pow(8 * s)}::HUGEINT")
      .mkString("CASE sub ", " ", " END")
    val err8 = (1 to 8).map(i =>
      s"""((CAST(a.svec[$i] AS DOUBLE) - CAST(c.cvec[$i] AS DOUBLE)) *
         | (CAST(a.svec[$i] AS DOUBLE) - CAST(c.cvec[$i] AS DOUBLE)))""".stripMargin)
      .mkString(" + ")
    s"""WITH ${pqTrainCtes("")},
       |a3 AS (${assign(
             "(SELECT vec_id, sub, svec FROM sv WHERE vec_id < 100)", "c2")}),
       |w AS (
       |  SELECT a.vec_id,
       |    SUM(CAST(a.cid AS HUGEINT) * ($pow)) AS uword,
       |    round(${graft.Oracle.dsumSql(s"($err8)")}, 6) AS sq_err
       |  FROM a3 a JOIN c2 c USING (sub, cid)
       |  GROUP BY a.vec_id)
       |SELECT vec_id,
       |  CAST(CASE WHEN uword > 9223372036854775807 THEN uword - 18446744073709551616
       |       ELSE uword END AS BIGINT) AS code_word,
       |  sq_err
       |FROM w ORDER BY vec_id""".stripMargin
  }

  // ---------------------------------------------------------------------
  // q101 — linear classifier inference (batch model scoring)

  /** Multi-class linear classifier scoring over the embedding corpus —
    * the fastText-style quality-classifier inference pass every
    * training-data pipeline runs (3 classes here; CCNet/FineWeb run the
    * same shape with learned weights).
    *
    * The weight matrix is analytic and DYADIC-exact: numerators are
    * small ints, denominators powers of two, so the float32 weights and
    * double biases are exactly representable in both engines and the
    * only arithmetic is IEEE multiply-add in array order — the same
    * bit-exact sequential fold q27 proves for `vec_dot` (codegen'd
    * native expression, no lambda interpreter). Scoring is one
    * scan-local projection: 3 dot products per row, no shuffle, no
    * join; at 100 TB this is exactly as parallel as the scan itself.
    * Argmax tiebreak = lowest class id; margin = top minus runner-up
    * logit via one sort_array over the 3-element logit array. */
  def q101ClassifierInference(s: SparkSession, dir: String): DataFrame = {
    val dim = 64 // TESTDATA.md: embeddings are FLOAT[64]
    val logits = (0 until 3).map { c =>
      val wv = Array.tabulate(dim)(i => (((c * 1009 + i * 7919) % 97 - 48) / 64.0).toFloat)
      val b = (((c * 53) % 11) - 5) / 8.0
      (vecDot(col("embedding"), typedlit(wv)) + lit(b)).as(s"logit$c")
    }
    val l = Seq(col("logit0"), col("logit1"), col("logit2"))
    val top = greatest(l: _*)
    Tables.embeddings(s, dir)
      .select(col("vec_id") +: logits: _*)
      .select(col("vec_id"),
        when(col("logit0") === top, 0)
          .when(col("logit1") === top, 1).otherwise(2).as("pred_class"),
        top.as("top_logit"),
        (top - sort_array(array(l: _*), asc = false).getItem(1)).as("margin"))
      .orderBy(col("vec_id"))
  }

  val q101Sql: String =
    """WITH w AS (
      |  SELECT c,
      |    list_transform(range(0, 64),
      |      i -> CAST(((c*1009 + i*7919) % 97 - 48) / 64.0 AS FLOAT)) AS wv,
      |    ((c*53) % 11 - 5) / 8.0 AS b
      |  FROM (SELECT unnest([0, 1, 2]) AS c)),
      |l AS (
      |  SELECT e.vec_id, w.c,
      |    w.b + list_sum(list_transform(range(1, len(e.embedding) + 1),
      |      i -> CAST(e.embedding[i] AS DOUBLE) * CAST(w.wv[i] AS DOUBLE))) AS logit
      |  FROM embeddings e CROSS JOIN w),
      |r AS (
      |  SELECT vec_id, c, logit,
      |    ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY logit DESC, c) AS rn
      |  FROM l)
      |SELECT a.vec_id, a.c AS pred_class, a.logit AS top_logit,
      |  a.logit - b.logit AS margin
      |FROM r a JOIN r b ON a.vec_id = b.vec_id AND a.rn = 1 AND b.rn = 2
      |ORDER BY a.vec_id""".stripMargin

  // ---------------------------------------------------------------------
  // q115 — hard-negative mining (contrastive-training data prep)

  /** Per anchor vector, the 3 most-similar vectors carrying a DIFFERENT
    * label — the hard negatives contrastive training mines (close in
    * embedding space, wrong class). Same distribution shape as q27's
    * brute-force top-k (anchor side broadcast, per-anchor
    * WindowGroupLimit) plus the label-inequality predicate riding the
    * join; the scale path swaps the candidate scan for q28/q56's
    * bucketed ANN exactly as q27 documents. */
  def q115HardNegatives(s: SparkSession, dir: String): DataFrame = {
    val withNorm = Tables.embeddings(s, dir)
      .select(col("vec_id"), col("label"), col("embedding"),
        vecNorm(col("embedding")).as("nrm"))
    val anchors = withNorm.filter(col("vec_id") < 20)
      .select(col("vec_id").as("a_id"), col("label").as("a_label"),
        col("embedding").as("a_emb"), col("nrm").as("a_nrm"))
    val cands = withNorm
      .select(col("vec_id").as("n_id"), col("label").as("n_label"),
        col("embedding").as("n_emb"), col("nrm").as("n_nrm"))
    val w = Window.partitionBy(col("a_id"))
      .orderBy(col("cos_sim").desc, col("n_id"))
    cands.join(broadcast(anchors), col("a_label") =!= col("n_label"))
      .withColumn("cos_sim",
        round(vecDot(col("a_emb"), col("n_emb")) / (col("a_nrm") * col("n_nrm")), 6))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 3)
      .select(col("a_id"), col("a_label"), col("n_id"),
        col("n_label"), col("cos_sim"), col("rn"))
      .orderBy(col("a_id"), col("rn"))
  }

  val q115Sql: String =
    """WITH n AS (
      |  SELECT vec_id, label, embedding,
      |    sqrt(list_sum(list_transform(range(1, len(embedding) + 1),
      |      i -> CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE)))) AS nrm
      |  FROM embeddings)
      |SELECT a_id, a_label, n_id, n_label, cos_sim, rn FROM (
      |  SELECT a.vec_id AS a_id, a.label AS a_label,
      |    c.vec_id AS n_id, c.label AS n_label,
      |    round(list_sum(list_transform(range(1, len(a.embedding) + 1),
      |        i -> CAST(a.embedding[i] AS DOUBLE) * CAST(c.embedding[i] AS DOUBLE)))
      |      / (a.nrm * c.nrm), 6) AS cos_sim,
      |    ROW_NUMBER() OVER (PARTITION BY a.vec_id ORDER BY
      |      round(list_sum(list_transform(range(1, len(a.embedding) + 1),
      |          i -> CAST(a.embedding[i] AS DOUBLE) * CAST(c.embedding[i] AS DOUBLE)))
      |        / (a.nrm * c.nrm), 6) DESC, c.vec_id) AS rn
      |  FROM n a JOIN n c ON a.vec_id < 20 AND a.label <> c.label)
      |WHERE rn <= 3 ORDER BY a_id, rn""".stripMargin

  // ---------------------------------------------------------------------
  // q119 — classifier decile-lift table (model evaluation)

  /** The standard model-eval artifact: score the corpus with q101's
    * linear classifier, cut the scores into global deciles, and per
    * decile count how the true labels distribute — the lift/calibration
    * table every scored-dataset review reads.
    *
    * Scale: the decile cut is `Ranks.exactNtile` (sketch-bucketed
    * distributed ranking — no single-partition sort, same operator q80
    * relies on), scoring is q101's scan-local projection, and the final
    * rollup is one 10-row aggregate. The oracle keeps the literal
    * ntile window form, so the green row again proves the distributed
    * ranking IS ntile — this time over computed model scores rather
    * than a raw column. */
  def q119DecileLift(s: SparkSession, dir: String): DataFrame = {
    val scored = q101ClassifierInference(s, dir)
      .select(col("vec_id"), col("pred_class"), col("top_logit"))
    val withLabel = scored.join(
      Tables.embeddings(s, dir).select(col("vec_id"), col("label")), "vec_id")
    graft.operators.Ranks.exactNtile(
        withLabel, 10, "decile", col("top_logit"), col("vec_id"))
      .groupBy(col("decile"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("pred_class") === col("label"), 1L).otherwise(0L)).as("n_correct"),
        sum(when(col("label") === 0, 1L).otherwise(0L)).as("n_label0"),
        round(min(col("top_logit")), 6).as("min_logit"),
        round(max(col("top_logit")), 6).as("max_logit"))
      .orderBy(col("decile"))
  }

  val q119Sql: String =
    """WITH w AS (
      |  SELECT c,
      |    list_transform(range(0, 64),
      |      i -> CAST(((c*1009 + i*7919) % 97 - 48) / 64.0 AS FLOAT)) AS wv,
      |    ((c*53) % 11 - 5) / 8.0 AS b
      |  FROM (SELECT unnest([0, 1, 2]) AS c)),
      |l AS (
      |  SELECT e.vec_id, e.label, w.c,
      |    w.b + list_sum(list_transform(range(1, len(e.embedding) + 1),
      |      i -> CAST(e.embedding[i] AS DOUBLE) * CAST(w.wv[i] AS DOUBLE))) AS logit
      |  FROM embeddings e CROSS JOIN w),
      |r AS (
      |  SELECT vec_id, label, c, logit,
      |    ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY logit DESC, c) AS rn
      |  FROM l),
      |scored AS (
      |  SELECT vec_id, label, c AS pred_class, logit AS top_logit
      |  FROM r WHERE rn = 1),
      |cut AS (
      |  SELECT *, ntile(10) OVER (ORDER BY top_logit, vec_id) AS decile
      |  FROM scored)
      |SELECT decile, COUNT(*) AS n,
      |  CAST(SUM(CASE WHEN pred_class = label THEN 1 ELSE 0 END) AS BIGINT) AS n_correct,
      |  CAST(SUM(CASE WHEN label = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_label0,
      |  round(MIN(top_logit), 6) AS min_logit,
      |  round(MAX(top_logit), 6) AS max_logit
      |FROM cut GROUP BY 1 ORDER BY 1""".stripMargin

  // ---------------------------------------------------------------------
  // q110 — semantic dedup clusters (components of the cosine pair graph)

  /** SemDeDup-style semantic clustering: connected components over the
    * exact cosine-similarity pair graph (q46's blocked all-pairs join,
    * memoized) — embedding-level near-duplicate GROUPS rather than
    * pairs, the semantic twin of q70's text-shingle clusters. Runs the
    * same alternating large-star/small-star component algorithm
    * (shuffle-bounded, localCheckpoint'd rounds), so the whole pipeline
    * — blocked pair join, iterative clustering — survives a 10⁹-vector
    * corpus. Oracle: recursive-CTE transitive closure over the same SQL
    * pair set. */
  def q110SemanticClusters(s: SparkSession, dir: String): DataFrame =
    semClusters(s, dir).orderBy(col("vec_id"))

  /** (vec_id, cluster_id) of the ε-graph's connected components,
    * memoized — shared by q110 and the q149 cohesion audit (the
    * q70/q135 memo stance applied to the embedding-side clusters).
    * REP-level contraction + member expansion (r12, after the sf100
    * sweep OOM'd the member-level form) through
    * [[ClassCollapse.components]]: star-contraction runs on the rep
    * graph (one node per DISTINCT embedding — under 1000× replication,
    * ~10⁶× fewer edges than the member graph it replaces); a duplicate
    * group with NO external edge is the oracle's `rsolo` leg. */
  private[queries] def semClusters(s: SparkSession, dir: String): DataFrame =
    graft.PlanCache.memo(s, dir, "sem_clusters", "t0.4") {
      ClassCollapse.components(embMembers(s, dir), embReps(s, dir),
          repCosinePairs(s, dir).select(col("id_a"), col("id_b")))
        .select(col("vec_id"), col("component").as("cluster_id"))
    }

  /** Shared CTE chain of the q110/q149 oracles: the collapse fragment's
    * rep-level ε-graph → recursive transitive closure over REPS → member
    * expansion (`memb`). A rep is the MIN vec_id of its identical-vector
    * group, so the min rep of a component IS the min member id, and
    * every member joins its rep's component through the cos-1.0 intra
    * edges; duplicate groups with no external edge are components of
    * their own (`rsolo`). */
  private val semClosureCteSql: String =
    """rpe AS (SELECT ra AS a, rb AS b FROM rcos),
      |redges AS (SELECT a, b FROM rpe UNION SELECT b AS a, a AS b FROM rpe),
      |rreach(node, r) AS (
      |  SELECT a AS node, b AS r FROM redges
      |  UNION
      |  SELECT rreach.node, e.b AS r FROM rreach JOIN redges e ON rreach.r = e.a),
      |rcomp AS (
      |  SELECT node AS rep, CAST(least(node, min(r)) AS BIGINT) AS rc
      |  FROM rreach GROUP BY node),
      |rsolo AS (
      |  SELECT vec_id AS rep, CAST(vec_id AS BIGINT) AS rc FROM vreps
      |  WHERE mult >= 2 AND vec_id NOT IN (SELECT rep FROM rcomp)),
      |rcomp2 AS (SELECT * FROM rcomp UNION ALL SELECT * FROM rsolo),
      |memb AS (
      |  SELECT m.vec_id, c.rc AS cluster_id
      |  FROM rcomp2 c JOIN vmem m ON m.rep = c.rep)""".stripMargin

  val q110Sql: String =
    s"""WITH RECURSIVE $vecCollapseCteSql,
      |$semClosureCteSql
      |SELECT vec_id, cluster_id FROM memb ORDER BY vec_id""".stripMargin

  // ---------------------------------------------------------------------
  // q149 — per-cluster cohesion audit (semantic dedup quality report)

  /** The audit that decides whether a semantic cluster is safe to
    * collapse: q110 groups by transitive closure, so two members can
    * sit far apart (chained through intermediates) even though every
    * EDGE passed the 0.4 threshold — a survivor-selection pass (q111/
    * q135) that trusts such a cluster deletes non-duplicates. Per
    * cluster this emits member/pair counts and the mean and MINIMUM
    * pairwise cosine over ALL member pairs (not just the thresholded
    * edges): min_cos < threshold is precisely the transitive-chaining
    * evidence. Per-pair cosines round to the q46 6dp grid and the mean
    * sums on the decimal grid — hash-stable in both engines.
    *
    * Scale: the pairwise stage is keyed by cluster_id, so its cost is
    * Σ |cluster|² — dedup clusters are inherently small (the q111
    * argument; a corpus whose largest near-dup cluster is corpus-sized
    * has a different problem), and the memoized assignment + one
    * embedding join feeds it without touching the blocked all-pairs
    * join again. */
  def q149ClusterCohesion(s: SparkSession, dir: String): DataFrame = {
    // Exact-duplicate collapse (the q20/q22/q28 idiom, applied r12 after
    // the sf100 sweep OOM'd this query's pairwise stage): identical
    // embeddings have identical cosines against everything, so the
    // within-cluster self-join runs once per DISTINCT embedding CLASS
    // and every member-level pair is recovered by its multiplicity —
    // cnt_x·cnt_y for cross-class pairs, C(cnt,2) at exactly 1.000000
    // for intra-class pairs (|cos(x,x) − 1| ≤ 2⁻⁵¹ rounds to 1.0 at
    // 6 dp in every IEEE engine; the cosinePairs/q28 argument). Under
    // 1000× replication the pair count drops ~10⁶-fold; the emitted
    // values are BIT-IDENTICAL to the member-level form (the weighted
    // grid sum carries the same longs), so the member-level DuckDB
    // oracle is unchanged.
    val cls = semClusters(s, dir).join(
        Tables.embeddings(s, dir)
          .select(col("vec_id"), col("embedding"), vecNorm(col("embedding")).as("nrm")),
        "vec_id")
      .withColumn("fp", ClassCollapse.key(col("embedding")))
      .groupBy(col("cluster_id"), col("fp"))
      .agg(count(lit(1)).as("cnt"),
        first(col("embedding")).as("embedding"), first(col("nrm")).as("nrm"))
    val pwCross = cls.as("x").join(cls.as("y"),
        col("x.cluster_id") === col("y.cluster_id") &&
          col("x.fp") < col("y.fp"))
      .select(col("x.cluster_id").as("cluster_id"),
        (col("x.cnt") * col("y.cnt")).as("w"),
        round(vecDot(col("x.embedding"), col("y.embedding")) /
          (col("x.nrm") * col("y.nrm")), 6).as("pcos"))
    val pwIntra = cls.filter(col("cnt") >= 2)
      .select(col("cluster_id"),
        expr("cnt * (cnt - 1) div 2").as("w"), lit(1.0).as("pcos"))
    val pw = pwCross.unionByName(pwIntra)
    pw.groupBy(col("cluster_id"))
      .agg(graft.Oracle.lsum(col("w")).as("n_pairs"),
        // weighted dsum: w copies of the identical 6dp-grid long — the
        // same integer total the member-level sum produced
        round((sum(col("w") * rint(col("pcos") * 1e6).cast("long"))
          .cast("double") / 1e6) / sum(col("w")), 6).as("mean_cos"),
        min(col("pcos")).as("min_cos"))
      .join(semClusters(s, dir).groupBy(col("cluster_id"))
        .agg(count(lit(1)).as("n_members")), "cluster_id")
      .select(col("cluster_id"), col("n_members"), col("n_pairs"),
        col("mean_cos"), col("min_cos"))
      .orderBy(col("cluster_id"))
  }

  val q149Sql: String =
    // the all-member-pairs stage collapses to WEIGHTED rep pairs: a
    // cross pair (rep x, rep y) stands for mult_x·mult_y member pairs
    // with the same 6dp cosine, an intra group for C(mult,2) pairs at
    // exactly 1.0 — and dsum's scaled-integer grid makes the weighted
    // sum bit-identical to summing the expanded multiset (integer ×
    // integer is exact on the grid)
    s"""WITH RECURSIVE $vecCollapseCteSql,
      |$semClosureCteSql,
      |rme AS (SELECT c.rep, c.rc AS cluster_id, r.mult, n.embedding, n.nrm
      |        FROM rcomp2 c JOIN vreps r ON r.vec_id = c.rep
      |        JOIN n ON n.vec_id = c.rep),
      |pw AS (
      |  SELECT x.cluster_id,
      |    round(list_sum(list_transform(range(1, len(x.embedding) + 1),
      |        i -> CAST(x.embedding[i] AS DOUBLE) * CAST(y.embedding[i] AS DOUBLE)))
      |      / (x.nrm * y.nrm), 6) AS pcos,
      |    CAST(x.mult * y.mult AS BIGINT) AS w
      |  FROM rme x JOIN rme y
      |    ON x.cluster_id = y.cluster_id AND x.rep < y.rep
      |  UNION ALL
      |  SELECT cluster_id, CAST(1.0 AS DOUBLE) AS pcos,
      |    CAST(mult * (mult - 1) // 2 AS BIGINT) AS w
      |  FROM rme WHERE mult >= 2),
      |agg AS (
      |  SELECT cluster_id, CAST(SUM(w) AS BIGINT) AS n_pairs,
      |    round(CAST(CAST(SUM(
      |        CAST(round_even(pcos * 1000000.0, 0) AS BIGINT) * w)
      |      AS BIGINT) AS DOUBLE) / 1000000.0 / CAST(SUM(w) AS BIGINT), 6)
      |      AS mean_cos,
      |    MIN(pcos) AS min_cos
      |  FROM pw GROUP BY 1),
      |sz AS (SELECT cluster_id, CAST(SUM(mult) AS BIGINT) AS n_members
      |       FROM rme GROUP BY 1)
      |SELECT cluster_id, n_members, n_pairs, mean_cos, min_cos
      |FROM agg JOIN sz USING (cluster_id) ORDER BY cluster_id""".stripMargin

  // ---------------------------------------------------------------------
  // q140 — Johnson-Lindenstrauss random projection + distortion audit

  /** Random-projection dimensionality reduction (Achlioptas ±1 variant
    * of Johnson-Lindenstrauss): project 64-d embeddings to 16-d with a
    * sign matrix derived from the q22-style PORTABLE affine hash
    * family — r(i,j) = ±1 by the parity of ((a·(16i+j)+b) mod p) — so
    * both engines materialize the identical matrix from integer
    * arithmetic, no RNG anywhere. The audit output is what a pipeline
    * actually checks before trusting a projection: per sampled pair,
    * squared distance in the original and projected space and their
    * ratio (the JL distortion; scale factor 1/√16 = 0.25 is exact in
    * binary). Projected coordinates and distances sum on the decimal
    * grid (Oracle.dsum) — combine-order-independent, hash-stable.
    *
    * Scale: the projection is scan-local per vector (64×16 multiply-
    * adds off a hash-derived sign, no matrix table to join or
    * broadcast) — the standard cheap first stage before ANN indexing
    * when d is large; the audit pairs are a bounded sample. */
  def q140JlProjection(s: SparkSession, dir: String): DataFrame = {
    val (a, b, p) = (1103515245L, 12345L, 2147483647L)
    val px = Tables.embeddings(s, dir).filter(col("vec_id") < 40)
      .select(col("vec_id"), posexplode(col("embedding")).as(Seq("d", "x")))
      .select(col("vec_id"), col("d"), col("x").cast("double").as("x"))
    val proj = px
      .withColumn("j", explode(sequence(lit(0), lit(15))))
      .withColumn("sx", when(
        expr(s"((${a}L * (d * 16 + j) + ${b}L) % ${p}L) % 2 = 1"),
        col("x")).otherwise(-col("x")))
      .groupBy(col("vec_id"), col("j"))
      .agg((graft.Oracle.dsum(col("sx")) * lit(0.25d)).as("y"))
    // consecutive (even, even+1) pairs, co-keyed on (pair, coord index)
    def pairD2(df: DataFrame, idx: String, coord: String, out: String): DataFrame = {
      val keyed = df.withColumn("pair", expr("vec_id div 2"))
      keyed.filter(col("vec_id") % 2 === 0)
        .select(col("pair"), col(idx), col(coord).as("va"))
        .join(keyed.filter(col("vec_id") % 2 === 1)
          .select(col("pair"), col(idx), col(coord).as("vb")), Seq("pair", idx))
        .groupBy(col("pair"))
        .agg(graft.Oracle.dsum((col("va") - col("vb")) * (col("va") - col("vb"))).as(out))
    }
    val orig = pairD2(px, "d", "x", "d2_orig")
    val prj = pairD2(proj, "j", "y", "d2_proj")
    orig.join(prj, Seq("pair"))
      .filter(col("d2_orig") > 0)
      .select((col("pair") * 2).as("a_id"), (col("pair") * 2 + 1).as("b_id"),
        round(col("d2_orig"), 6).as("d2_orig"),
        round(col("d2_proj"), 6).as("d2_proj"),
        round(col("d2_proj") / col("d2_orig"), 6).as("distortion"))
      .orderBy(col("a_id"))
  }

  val q140Sql: String =
    s"""WITH px AS (
      |  SELECT vec_id, i - 1 AS d, CAST(embedding[i] AS DOUBLE) AS x
      |  FROM (SELECT vec_id, embedding,
      |          unnest(range(1, len(embedding) + 1)) AS i
      |        FROM embeddings WHERE vec_id < 40)),
      |proj AS (
      |  SELECT vec_id, j,
      |    0.25 * ${graft.Oracle.dsumSql(
                  "CASE WHEN ((1103515245 * (d * 16 + j) + 12345) " +
                  "% 2147483647) % 2 = 1 THEN x ELSE -x END")} AS y
      |  FROM px CROSS JOIN (SELECT unnest(range(0, 16)) AS j)
      |  GROUP BY 1, 2),
      |orig AS (
      |  SELECT a.vec_id AS a_id, b.vec_id AS b_id,
      |    ${graft.Oracle.dsumSql("(a.x - b.x) * (a.x - b.x)")} AS d2_orig
      |  FROM px a JOIN px b ON a.d = b.d AND a.vec_id % 2 = 0
      |    AND b.vec_id = a.vec_id + 1
      |  GROUP BY 1, 2),
      |prj AS (
      |  SELECT a.vec_id AS a_id, b.vec_id AS b_id,
      |    ${graft.Oracle.dsumSql("(a.y - b.y) * (a.y - b.y)")} AS d2_proj
      |  FROM proj a JOIN proj b ON a.j = b.j AND a.vec_id % 2 = 0
      |    AND b.vec_id = a.vec_id + 1
      |  GROUP BY 1, 2)
      |SELECT a_id, b_id, round(d2_orig, 6) AS d2_orig,
      |  round(d2_proj, 6) AS d2_proj,
      |  round(d2_proj / d2_orig, 6) AS distortion
      |FROM orig JOIN prj USING (a_id, b_id)
      |WHERE d2_orig > 0 ORDER BY a_id""".stripMargin

  // ---------------------------------------------------------------------
  // q166 — MMR diversified reranking (maximal marginal relevance)

  /** Carbonell & Goldstein's MMR: rerank a retrieval candidate set so
    * each pick balances relevance against redundancy with what is
    * already picked — score(c) = λ·rel(c) − (1−λ)·max_{s∈S} sim(c, s),
    * λ = 0.5 (exact in binary). The retrieval stage is the scale path
    * (top-50 by cosine to the anchor, TakeOrdered over the full table);
    * the rerank then runs entirely on that CANDIDATE-SIZED set — 50
    * rows, 50×49 pair sims, five greedy rounds — which is why MMR is
    * tractable at 100 TB: the quadratic part never sees the corpus.
    * The max-sim vector updates incrementally per round against the
    * one new pick (the q163 stance); all cosines are 6dp-rounded
    * double-folds, ties broken by id, so the greedy trajectory is
    * engine-exact and the oracle replays it as chained CTEs. */
  def q166MmrRerank(s: SparkSession, dir: String): DataFrame = {
    val nv = Tables.embeddings(s, dir)
      .select(col("vec_id"), col("embedding"), vecNorm(col("embedding")).as("nrm"))
    val anchor = broadcast(nv.filter(col("vec_id") === 0)
      .select(col("embedding").as("a_emb"), col("nrm").as("a_nrm")))
    val cand = nv.filter(col("vec_id") =!= 0).crossJoin(anchor)
      .select(col("vec_id").as("c_id"), col("embedding"), col("nrm"),
        round(vecDot(col("embedding"), col("a_emb")) /
          (col("nrm") * col("a_nrm")), 6).as("rel"))
      .orderBy(col("rel").desc, col("c_id")).limit(50)
      .localCheckpoint(true, Iteration.SerLevel)
    val sims = cand.as("x").join(cand.as("y"), col("x.c_id") =!= col("y.c_id"))
      .select(col("x.c_id").as("ci"), col("y.c_id").as("cj"),
        round(vecDot(col("x.embedding"), col("y.embedding")) /
          (col("x.nrm") * col("y.nrm")), 6).as("sim"))
      .localCheckpoint(true, Iteration.SerLevel)
    var rest = cand.select(col("c_id"), col("rel"), lit(0.0).as("maxsim"))
    var sel = Vector.empty[(Int, Long, Double, Double)]
    for (r <- 1 to 5) {
      val top = rest
        .select(col("c_id"), col("rel"), col("maxsim"),
          (lit(0.5) * col("rel") - lit(0.5) * col("maxsim")).as("mmr"))
        .orderBy(col("mmr").desc, col("c_id")).limit(1).head()
      val id = top.getLong(0)
      sel :+= ((r, id, top.getDouble(1), top.getDouble(3)))
      if (r < 5)
        rest = rest.filter(col("c_id") =!= id)
          .join(sims.filter(col("cj") === id)
            .select(col("ci").as("c_id"), col("sim")), "c_id")
          .select(col("c_id"), col("rel"),
            greatest(col("maxsim"), col("sim")).as("maxsim"))
    }
    import s.implicits._
    sel.toDF("rank", "c_id", "rel", "mmr_score").orderBy(col("rank"))
  }

  val q166Sql: String = {
    def cos(a: String, an: String, b: String, bn: String): String =
      s"""round(list_sum(list_transform(range(1, len($a) + 1),
         |  i -> CAST($a[i] AS DOUBLE) * CAST($b[i] AS DOUBLE))) / ($an * $bn), 6)""".stripMargin
    // pick r comes from state m_{r-1}; state m_r removes pick r and folds
    // its sims into the running max — so s1..s5 are the five selections
    val steps = (1 to 5).map { r =>
      val pick =
        s"""s$r AS (SELECT c_id, rel, 0.5 * rel - 0.5 * maxsim AS mmr FROM m${r - 1}
           |  ORDER BY mmr DESC, c_id LIMIT 1)""".stripMargin
      val state = if (r == 5) "" else
        s""",
           |m$r AS (SELECT m.c_id, m.rel, GREATEST(m.maxsim, p.sim) AS maxsim
           |  FROM m${r - 1} m JOIN sims p
           |    ON p.ci = m.c_id AND p.cj = (SELECT c_id FROM s$r)
           |  WHERE m.c_id <> (SELECT c_id FROM s$r))""".stripMargin
      pick + state
    }.mkString(",\n")
    val sel = (1 to 5)
      .map(r => s"SELECT $r AS rank, c_id, rel, mmr FROM s$r")
      .mkString("\n  UNION ALL ")
    s"""WITH nv AS (
      |  SELECT vec_id, embedding,
      |    sqrt(list_sum(list_transform(range(1, len(embedding) + 1),
      |      i -> CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE)))) AS nrm
      |  FROM embeddings),
      |a AS (SELECT embedding AS a_emb, nrm AS a_nrm FROM nv WHERE vec_id = 0),
      |cand AS (
      |  SELECT vec_id AS c_id, embedding, nrm,
      |    ${cos("embedding", "nrm", "a_emb", "a_nrm")} AS rel
      |  FROM nv, a WHERE vec_id <> 0
      |  ORDER BY rel DESC, c_id LIMIT 50),
      |sims AS (
      |  SELECT x.c_id AS ci, y.c_id AS cj,
      |    ${cos("x.embedding", "x.nrm", "y.embedding", "y.nrm")} AS sim
      |  FROM cand x JOIN cand y ON x.c_id <> y.c_id),
      |m0 AS (SELECT c_id, rel, 0.0 AS maxsim FROM cand),
      |$steps
      |SELECT CAST(rank AS INTEGER) AS rank, c_id, rel, mmr AS mmr_score FROM (
      |  $sel)
      |ORDER BY rank""".stripMargin
  }

  // ---------------------------------------------------------------------
  // q167 — cross-validated AUC (rank-statistic form, per hash fold)

  /** Per-fold ROC-AUC of a fixed linear scorer against the odd-label
    * class, computed exactly as the Mann-Whitney rank statistic:
    * AUC = (Σ ranks(pos) − n₊(n₊+1)/2) / (n₊·n₋). Folds are the q113
    * portable multiplicative hash of vec_id (mod 5) — the deterministic
    * split every eval harness needs for reproducibility.
    *
    * Scale: ranks come from `Ranks.withGroupRowNumber` keyed by fold —
    * 5 groups would be the canonical few-huge-groups window failure,
    * which the sketch-bucketed rank primitive exists to avoid. Scores
    * are 6dp-rounded double-folds (the q27 discipline) and the rank
    * order ties on vec_id, so ranks — hence the AUC, a pure integer
    * ratio — are engine-exact. */
  def q167FoldAuc(s: SparkSession, dir: String): DataFrame = {
    val wv = Array.tabulate(64)(i => (((i * 7919 + 13) % 97 - 48) / 64.0).toFloat)
    val scored = Tables.embeddings(s, dir)
      .select(col("vec_id"),
        (col("label") % 2).cast("long").as("pos"),
        round(vecDot(col("embedding"), typedlit(wv)), 6).as("score"),
        pmod(pmod(col("vec_id") * lit(2654435761L), lit(1000000007L)), lit(5L))
          .as("fold"))
    val ranked = graft.operators.Ranks.withGroupRowNumber(
      scored, col("fold"), "rk", col("score"), col("vec_id"))
    ranked.groupBy(col("fold"))
      .agg(graft.Oracle.lsum(col("pos")).as("n_pos"),
        graft.Oracle.lsum(lit(1L) - col("pos")).as("n_neg"),
        graft.Oracle.lsum(col("pos") * col("rk")).as("srp"))
      .select(col("fold"), col("n_pos"), col("n_neg"),
        round((col("srp") - col("n_pos") * (col("n_pos") + 1) / 2).cast("double") /
          (col("n_pos") * col("n_neg")), 6).as("auc"))
      .orderBy(col("fold"))
  }

  val q167Sql: String =
    """WITH sc AS (
      |  SELECT vec_id, label % 2 AS pos,
      |    round(list_sum(list_transform(range(0, 64),
      |      i -> CAST(embedding[i + 1] AS DOUBLE)
      |         * CAST(CAST(((i * 7919 + 13) % 97 - 48) / 64.0 AS FLOAT) AS DOUBLE))), 6)
      |      AS score,
      |    (vec_id * 2654435761) % 1000000007 % 5 AS fold
      |  FROM embeddings),
      |r AS (SELECT *, ROW_NUMBER() OVER
      |        (PARTITION BY fold ORDER BY score, vec_id) AS rk FROM sc)
      |SELECT fold, CAST(SUM(pos) AS BIGINT) AS n_pos,
      |  CAST(SUM(1 - pos) AS BIGINT) AS n_neg,
      |  round(CAST(SUM(pos * rk) - SUM(pos) * (SUM(pos) + 1) / 2 AS DOUBLE)
      |    / (SUM(pos) * SUM(1 - pos)), 6) AS auc
      |FROM r GROUP BY 1 ORDER BY 1""".stripMargin

  // ---------------------------------------------------------------------
  // q168 — classifier calibration bins (reliability diagram)

  /** Reliability-diagram bins for a cosine scorer against the
    * odd-label class: 10 equal-width bins over the score's [−1, 1]
    * range, each reporting predicted mass (mean score) beside observed
    * positive rate — the table calibration (Platt/isotonic) fits from,
    * and the per-bin terms of expected calibration error (ECE).
    *
    * One scan, one 10-group aggregate. The bin id derives from the
    * 6dp-ROUNDED score (floor on an exact decimal — no cross-engine
    * boundary risk); mean scores ride the decimal grid, rates are
    * exact-integer divisions. */
  def q168CalibrationBins(s: SparkSession, dir: String): DataFrame = {
    val wv = Array.tabulate(64)(i => (((i * 7919 + 13) % 97 - 48) / 64.0).toFloat)
    val wn = math.sqrt(wv.map(x => x.toDouble * x.toDouble).sum)
    val scored = Tables.embeddings(s, dir)
      .select((col("label") % 2).cast("long").as("pos"),
        round(vecDot(col("embedding"), typedlit(wv)) /
          (vecNorm(col("embedding")) * lit(wn)), 6).as("score"))
    scored
      .select(col("pos"), col("score"),
        least(floor((col("score") + 1) * 5), lit(9.0)).cast("long").as("bin"))
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n"),
        graft.Oracle.lsum(col("pos")).as("n_pos"),
        round(graft.Oracle.dsum(col("score")) / count(lit(1)), 6).as("mean_score"),
        round(sum(col("pos")).cast("double") / count(lit(1)), 6).as("pos_rate"))
      .orderBy(col("bin"))
  }

  val q168Sql: String =
    s"""WITH w AS (
      |  SELECT list_transform(range(0, 64),
      |    i -> CAST(((i * 7919 + 13) % 97 - 48) / 64.0 AS FLOAT)) AS wv),
      |wn AS (SELECT sqrt(list_sum(list_transform(wv,
      |         x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS wn FROM w),
      |sc AS (
      |  SELECT label % 2 AS pos,
      |    round(list_sum(list_transform(range(1, len(embedding) + 1),
      |        i -> CAST(embedding[i] AS DOUBLE) * CAST(wv[i] AS DOUBLE)))
      |      / (sqrt(list_sum(list_transform(range(1, len(embedding) + 1),
      |          i -> CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE))))
      |         * wn), 6) AS score
      |  FROM embeddings, w, wn)
      |SELECT CAST(LEAST(floor((score + 1) * 5), 9) AS BIGINT) AS bin,
      |  COUNT(*) AS n, CAST(SUM(pos) AS BIGINT) AS n_pos,
      |  round(${graft.Oracle.dsumSql("score")} / COUNT(*), 6)
      |    AS mean_score,
      |  round(CAST(SUM(pos) AS DOUBLE) / COUNT(*), 6) AS pos_rate
      |FROM sc GROUP BY 1 ORDER BY 1""".stripMargin

  // ---------------------------------------------------------------------
  // q163 — k-center coreset selection (Gonzalez greedy farthest-first)

  /** Greedy farthest-first traversal (Gonzalez 1985): pick the point
    * farthest from the chosen set, k times — the 2-approximation for
    * k-center and the standard coreset/diversity-selection pass for
    * training-data subsampling (pick maximally-different exemplars,
    * then attach everything else to its nearest center).
    *
    * Distributed shape: the min-distance vector updates INCREMENTALLY —
    * round r touches each point once against the ONE new center
    * (broadcast single row), never against all r centers — so total
    * work is k linear passes, each localCheckpoint'd (the iterative-
    * lineage stance). The per-round argmax is a TakeOrdered(1); the k
    * chosen (id, distance) scalars are algorithm STATE on the driver —
    * O(k) metadata steering the next plan, the q96-codebook stance —
    * while the distance vector itself never leaves the cluster.
    * Distances are per-pair left-fold sums rounded at 6dp (the q27
    * double-fold discipline), ties broken by vec_id, so the greedy
    * trajectory is engine-exact and the oracle replays it as k chained
    * CTEs. */
  def q163KCenterCoreset(s: SparkSession, dir: String): DataFrame = {
    val K = 8
    val emb = Tables.embeddings(s, dir).select(col("vec_id"), col("embedding"))
    val d2 = expr(
      """round(aggregate(zip_with(embedding, c_emb,
        |  (x, y) -> (CAST(x AS DOUBLE) - CAST(y AS DOUBLE))
        |          * (CAST(x AS DOUBLE) - CAST(y AS DOUBLE))),
        |  0D, (acc, v) -> acc + v), 6)""".stripMargin)
    def centerOf(id: Long) =
      broadcast(emb.filter(col("vec_id") === id)
        .select(col("embedding").as("c_emb")))
    val first = emb.orderBy(col("vec_id")).limit(1)
      .select(col("vec_id")).head().getLong(0)
    var chosen = Vector((0, first, 0.0))
    var cur = emb.crossJoin(centerOf(first))
      .select(col("vec_id"), col("embedding"), d2.as("md"))
      .localCheckpoint(true, Iteration.SerLevel)
    for (r <- 1 until K) {
      val top = cur.orderBy(col("md").desc, col("vec_id"))
        .limit(1).select(col("vec_id"), col("md")).head()
      chosen :+= ((r, top.getLong(0), top.getDouble(1)))
      if (r < K - 1) {
        val next = Iteration.ckpt(cur.crossJoin(centerOf(top.getLong(0)))
          .select(col("vec_id"), col("embedding"),
            least(col("md"), d2).as("md")))
        Iteration.release(cur) // next is stored; the old frame is dead
        cur = next
      }
    }
    import s.implicits._
    chosen.toDF("rank", "vec_id", "dist2_at_selection")
      .orderBy(col("rank"))
  }

  val q163Sql: String = {
    def dist(a: String, b: String): String =
      s"""round(list_sum(list_transform(range(1, len($a) + 1),
         |  i -> (CAST($a[i] AS DOUBLE) - CAST($b[i] AS DOUBLE))
         |     * (CAST($a[i] AS DOUBLE) - CAST($b[i] AS DOUBLE)))), 6)""".stripMargin
    val rounds = (1 until 8).map { r =>
      val prev = s"m${r - 1}"
      s"""c$r AS (SELECT vec_id, embedding, md FROM $prev
         |  ORDER BY md DESC, vec_id LIMIT 1),
         |m$r AS (SELECT p.vec_id, p.embedding,
         |    LEAST(p.md, ${dist("p.embedding", "c.embedding")}) AS md
         |  FROM $prev p, c$r c)""".stripMargin
    }.mkString(",\n")
    val sel = (1 until 8)
      .map(r => s"SELECT $r AS rank, vec_id, md FROM c$r")
      .mkString("\n  UNION ALL ")
    s"""WITH e AS (SELECT vec_id, embedding FROM embeddings),
      |c0 AS (SELECT vec_id, embedding FROM e
      |       WHERE vec_id = (SELECT MIN(vec_id) FROM e)),
      |m0 AS (SELECT e.vec_id, e.embedding,
      |    ${dist("e.embedding", "c.embedding")} AS md
      |  FROM e, c0 c),
      |$rounds
      |SELECT CAST(rank AS INTEGER) AS rank, vec_id,
      |  CAST(dist2 AS DOUBLE) AS dist2_at_selection
      |FROM (
      |  SELECT 0 AS rank, vec_id, 0.0 AS dist2 FROM c0
      |  UNION ALL SELECT rank, vec_id, md FROM (
      |  $sel))
      |ORDER BY rank""".stripMargin
  }

  // ---------------------------------------------------------------------
  // q156 — embedding covariance / correlation structure

  /** The full dim×dim covariance and correlation structure of the
    * embedding table — the statistics PCA/whitening and drift monitors
    * start from (and the input to q140's JL-distortion analysis done
    * exactly). One pass computes all Σxᵢxⱼ via a constant-factor
    * (d(d+1)/2 = 136×) pair expansion that map-side partial
    * aggregation collapses to 136 running sums per partition — the
    * degenerate-but-correct alternative, one driver-side Gram matrix,
    * would not distribute; d is model-fixed, so the blowup does NOT
    * grow with data.
    *
    * Determinism: float→double widening is exact; per-row products are
    * identical IEEE doubles in both engines; sums land on the decimal
    * grid (Oracle.dsum); cov/corr are then pure scalar arithmetic on
    * identical doubles, rounded at 6/4dp. Correlation joins the
    * diagonal (the 16 variances) back in via two broadcast-sized
    * joins. */
  def q156EmbeddingCovariance(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(s, dir)
    val n = emb.agg(count(lit(1)).as("n"))
    val xs = emb.select(posexplode(col("embedding")).as(Seq("i", "x")))
      .select(col("i"), col("x").cast("double").as("x"))
    val means = xs.groupBy(col("i"))
      .agg(graft.Oracle.dsum(col("x")).as("sx"))
      .crossJoin(broadcast(n))
      .select(col("i"), (col("sx") / col("n")).as("mx"))
    val prods = emb
      .select(col("embedding"), posexplode(col("embedding")).as(Seq("i", "x")))
      .select(col("i"), col("x"), posexplode(col("embedding")).as(Seq("j", "y")))
      .filter(col("i") <= col("j"))
      .select(col("i"), col("j"),
        (col("x").cast("double") * col("y").cast("double")).as("xy"))
      .groupBy(col("i"), col("j"))
      .agg(graft.Oracle.dsum(col("xy")).as("sxy"))
    val cov = prods
      .join(broadcast(means), "i")
      .join(broadcast(means.select(col("i").as("j"), col("mx").as("my"))), "j")
      .crossJoin(broadcast(n))
      .select(col("i"), col("j"),
        (col("sxy") / col("n") - col("mx") * col("my")).as("cov_raw"))
    val diag = cov.filter(col("i") === col("j"))
      .select(col("i").as("d"), col("cov_raw").as("var_d"))
    cov
      .join(broadcast(diag.select(col("d").as("i"), col("var_d").as("vi"))), "i")
      .join(broadcast(diag.select(col("d").as("j"), col("var_d").as("vj"))), "j")
      .select(col("i"), col("j"), graft.Oracle.zround(col("cov_raw"), 6).as("cov"),
        graft.Oracle.zround(col("cov_raw") / sqrt(col("vi") * col("vj")), 4).as("corr"))
      .orderBy(col("i"), col("j"))
  }

  val q156Sql: String = {
    val d = graft.Oracle.dsumSql("x * y")
    s"""WITH xs AS (
      |  SELECT vec_id, i - 1 AS i, CAST(embedding[i] AS DOUBLE) AS x
      |  FROM (SELECT vec_id, embedding,
      |          unnest(range(1, len(embedding) + 1)) AS i
      |        FROM embeddings)),
      |n AS (SELECT COUNT(*) AS n FROM embeddings),
      |m AS (SELECT i, ${graft.Oracle.dsumSql("x")} / n AS mx
      |      FROM xs CROSS JOIN n GROUP BY i, n.n),
      |p AS (SELECT a.i AS i, b.i AS j, a.x AS x, b.x AS y
      |      FROM xs a JOIN xs b ON a.vec_id = b.vec_id AND a.i <= b.i),
      |sp AS (SELECT i, j, $d AS sxy FROM p GROUP BY 1, 2),
      |cv AS (SELECT i, j, sxy / n.n - mi.mx * mj.mx AS cov_raw
      |       FROM sp JOIN m mi USING (i) JOIN m mj ON mj.i = sp.j
      |       CROSS JOIN n),
      |dg AS (SELECT i AS d, cov_raw AS var_d FROM cv WHERE i = j)
      |SELECT cv.i, cv.j, round(cov_raw, 6) + 0.0 AS cov,
      |  round(cov_raw / sqrt(vi.var_d * vj.var_d), 4) + 0.0 AS corr
      |FROM cv JOIN dg vi ON vi.d = cv.i JOIN dg vj ON vj.d = cv.j
      |ORDER BY cv.i, cv.j""".stripMargin
  }

  /** Shared ANN tail (q28 LSH / q56 IVF): exact cosine among bucket-mates
    * of each query (vec_id < 50), per-query top-k with deterministic
    * (cos desc, candidate id) ordering. Input needs (vec_id, embedding,
    * nrm, bucketCol). */
  private def topKWithinBucket(vecs: DataFrame, bucketCol: String, k: Int): DataFrame = {
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("cos_sim").desc, col("c_id"))
    vecs.as("q").join(vecs.as("c"),
        col(s"q.$bucketCol") === col(s"c.$bucketCol") && col("q.vec_id") =!= col("c.vec_id"))
      .filter(col("q.vec_id") < 50)
      .select(col("q.vec_id").as("q_id"), col("c.vec_id").as("c_id"),
        round(vecDot(col("q.embedding"), col("c.embedding")) / (col("q.nrm") * col("c.nrm")), 6)
          .as("cos_sim"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .orderBy(col("q_id"), col("rn"))
  }

  // ---------------------------------------------------------------------
  // q214 — LSH bucket-occupancy audit (the oracled half of q28)

  /** Deterministic audit of q28's hyperplane-LSH index geometry: the
    * same sin-derived planes, but signature dots go through the
    * Oracle.dsum grid (q28's production path keeps the raw codegen'd
    * sum — an ulp-level sign flip is irrelevant to ANN recall but
    * would break a hash gate), so every (table, key) bucket occupancy
    * is engine-exact and the DuckDB twin can replay it. This is the
    * round-4 verdict's "partial oracle for the rows-only ANN" —
    * the index-building machinery itself under the hash gate; skew in
    * this histogram is exactly what degrades q28's candidate bound. */
  def q214LshBuckets(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val L = 12; val b = 6
    // signature kernel on the Gram long-grid: dot(vec, j) =
    // Σ_d grid6(x_d·w_jd) — exactly the dsum pipeline's value (sum of
    // per-element 6dp roundings, order-free in exact longs), but one
    // primitive pass instead of an n·72·64-row decimal join (the q194
    // lesson applied; measured 10.2 s → sub-second at sf0.1)
    val planes = Array.tabulate(L * b, 64)((j, d) => math.sin(j * 131 + d * 7))
    val keys = Tables.embeddings(s, dir)
      .select(col("vec_id"), col("embedding")).as[(Long, Seq[Float])]
      .mapPartitions { it =>
        it.flatMap { case (id, emb) =>
          val x = emb.toArray
          (0 until L).map { tbl =>
            var key = 0L
            var bit = 0
            while (bit < b) {
              val j = tbl * b + bit
              var acc = 0L
              var d = 0
              while (d < 64) {
                acc += graft.operators.Gram.grid6(x(d).toDouble * planes(j)(d))
                d += 1
              }
              if (acc >= 0) key |= (1L << bit)
              bit += 1
            }
            (id, tbl, key)
          }
        }
      }.toDF("vec_id", "tbl", "key")
    keys.groupBy(col("tbl"), col("key")).agg(count(lit(1)).as("n_vectors"))
      .orderBy(col("n_vectors").desc, col("tbl"), col("key"))
      .limit(40)
  }

  val q214Sql: String =
    s"""WITH planes AS (
      |  SELECT j.j AS j, d.d AS d, sin(j.j * 131 + d.d * 7) AS w
      |  FROM range(0, 72) j(j) CROSS JOIN range(0, 64) d(d)),
      |xs AS (
      |  SELECT vec_id, i - 1 AS d, CAST(embedding[i] AS DOUBLE) AS x
      |  FROM (SELECT vec_id, embedding,
      |          unnest(range(1, len(embedding) + 1)) AS i
      |        FROM embeddings)),
      |dots AS (
      |  -- scaled-integer grid sum: the engine's per-element
      |  -- Gram.grid6 accumulator verbatim (sign test is on the exact
      |  -- integer, so no double division can perturb it)
      |  SELECT xs.vec_id, planes.j,
      |    CAST(SUM(CAST(round_even(xs.x * planes.w * 1000000.0, 0)
      |      AS BIGINT)) AS BIGINT) AS dot
      |  FROM xs JOIN planes ON xs.d = planes.d
      |  GROUP BY 1, 2),
      |keys AS (
      |  SELECT vec_id, j // 6 AS tbl,
      |    CAST(SUM(CASE WHEN dot >= 0 THEN (1::BIGINT << (j % 6))
      |      ELSE 0 END) AS BIGINT) AS key
      |  FROM dots GROUP BY 1, 2)
      |SELECT tbl, key, COUNT(*) AS n_vectors
      |FROM keys GROUP BY 1, 2
      |ORDER BY n_vectors DESC, tbl, key LIMIT 40""".stripMargin

  // ---------------------------------------------------------------------
  // q215 — IVF training state audit (the oracled half of q56/q139)

  /** The trained IVF index itself under the hash gate: cell sizes and
    * centroid checksums after the exact two-round Lloyd training that
    * q56/q139 share (first-16 seeding, sequential-fold cosines,
    * decimal-exact means — every step deterministic). The oracle
    * replays BOTH Lloyd rounds as unrolled SQL; float casting absorbs
    * the sub-1e-14 representational gap between Spark's DECIMAL(24,14)
    * mean and the oracle's exact-sum double division. Closes the last
    * "engine-internal, trust the spec" gap around the ANN family:
    * the INDEX is now oracle-checked, only the approximate QUERY
    * answers remain rows-only (as they must be). */
  def q215IvfTraining(s: SparkSession, dir: String): DataFrame = {
    val assigned = ivfAssigned(s, dir)
    val cents = ivfCentroids(s, dir)
    val sizes = assigned.groupBy(col("cell")).agg(count(lit(1)).as("n_vectors"))
    val sums = cents
      .select(col("cent_id").as("cell"),
        posexplode(col("c_emb")).as(Seq("d", "x")))
      .groupBy(col("cell"))
      .agg(round(graft.Oracle.dsum(col("x").cast("double")), 4)
        .as("centroid_checksum"))
    sizes.join(sums, "cell")
      .select(col("cell"), col("n_vectors"), col("centroid_checksum"))
      .orderBy(col("cell"))
  }

  // --- shared DuckDB IVF-replay fragments (q215Sql, q216Sql) ---

  /** One Lloyd assignment step: every vector to its max-cosine centroid
    * (ties to the lowest cent_id, mirroring [[nearestCentroid]]).
    * Exposes BOTH `{out}_cos` (the full query×centroid cosine table —
    * q216 ranks probes from it) and `{out}` (the rn=1 assignment). */
  private def ivfAssignCtes(cents: String, out: String,
      from: String = "embeddings"): String =
      s"""${out}_cos AS (
        |  SELECT e.vec_id, e.embedding, c.cent_id,
        |    list_sum(list_transform(range(1, len(e.embedding) + 1),
        |      i -> CAST(e.embedding[i] AS DOUBLE) * CAST(c.c_emb[i] AS DOUBLE)))
        |      / (sqrt(list_sum(list_transform(range(1, len(e.embedding) + 1),
        |           i -> CAST(e.embedding[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE))))
        |         * sqrt(list_sum(list_transform(range(1, len(c.c_emb) + 1),
        |           i -> CAST(c.c_emb[i] AS DOUBLE) * CAST(c.c_emb[i] AS DOUBLE)))))
        |      AS cos
        |  FROM $from e CROSS JOIN $cents c),
        |$out AS (
        |  SELECT vec_id, embedding, cent_id AS cell FROM (
        |    SELECT *, row_number() OVER (PARTITION BY vec_id
        |      ORDER BY cos DESC, cent_id ASC) AS rn
        |    FROM ${out}_cos) WHERE rn = 1)""".stripMargin

  /** Per-cell exact means recast to FLOAT — the re-estimation half of a
    * Lloyd step. */
  private def ivfMeansCtes(assigned: String, out: String): String =
      s"""${out}_m AS (
        |  SELECT cell, d, CAST(CAST(SUM(CAST(x AS DECIMAL(20,10))) AS DOUBLE)
        |    / COUNT(*) AS FLOAT) AS m
        |  FROM (SELECT cell, i - 1 AS d, embedding[i] AS x
        |        FROM (SELECT cell, embedding,
        |                unnest(range(1, len(embedding) + 1)) AS i
        |              FROM $assigned)) xs
        |  GROUP BY 1, 2),
        |$out AS (
        |  SELECT cell AS cent_id,
        |    CAST(list(m ORDER BY d) AS FLOAT[]) AS c_emb
        |  FROM ${out}_m GROUP BY 1)""".stripMargin

  /** The WITH-body that replays IVF training: the 1-in-step training
    * sample `itrain` (step = max(1, n div 6400), the engine's
    * [[trainStep]] twin — identity at every gate SF), first-16-sampled
    * seed `c0`, two Lloyd rounds over the sample to `c2`, final
    * FULL-corpus assignment `a3` (+ `a3_cos`). */
  private val ivfTrainCtes: String =
    s"""ivnv AS (SELECT GREATEST(1, COUNT(*) // 6400) AS step FROM embeddings),
      |itrain AS (
      |  SELECT vec_id, embedding FROM embeddings, ivnv
      |  WHERE vec_id % step = 0),
      |c0 AS (
      |  SELECT vec_id AS cent_id, embedding AS c_emb FROM embeddings, ivnv
      |  WHERE vec_id % step = 0 AND vec_id < 16*step),
      |${ivfAssignCtes("c0", "a1", "itrain")},
      |${ivfMeansCtes("a1", "c1")},
      |${ivfAssignCtes("c1", "a2", "itrain")},
      |${ivfMeansCtes("a2", "c2")},
      |${ivfAssignCtes("c2", "a3")}""".stripMargin

  val q215Sql: String = {
    s"""WITH $ivfTrainCtes
      |SELECT a3.cell, COUNT(*) AS n_vectors,
      |  MAX(cs.checksum) AS centroid_checksum
      |FROM a3 JOIN (
      |  SELECT cent_id AS cell,
      |    ROUND(${graft.Oracle.dsumSql("CAST(c_emb[i] AS DOUBLE)")}, 4)
      |      AS checksum
      |  FROM (SELECT cent_id, c_emb, unnest(range(1, len(c_emb) + 1)) AS i
      |        FROM c2) q
      |  GROUP BY 1) cs ON a3.cell = cs.cell
      |GROUP BY 1 ORDER BY 1""".stripMargin
  }

  // ---------------------------------------------------------------------
  // q216 — IVF-PQ ADC machinery audit (the oracled half of q139)

  /** q139's two exact pre-search artifacts under the hash gate (round-6
    * verdict item 3, completing the q214/q215 program): per query
    * (vec_id < 50),
    *   (a) the nprobe=4 probed IVF cells in probe order (cell1..cell4)
    *       plus the total candidate count those cells hold — the
    *       EXACT candidate-bounding decision of the IVF side, and
    *   (b) the 8 per-subspace checksums of the 8×256 ADC lookup table
    *       (lut0..lut7) — Oracle.dsum of all 256 sub-dot products per
    *       subspace, pinning every pdot the ADC scoring would read.
    * Both are deterministic relational artifacts (trained index + exact
    * IEEE dots); only the final approximate ranking of q139 stays
    * rows-only. The DuckDB twin replays IVF training (q215's CTEs),
    * probe ranking from the same a3_cos table, PQ codebook training
    * (q96's CTEs, prefixed to avoid name collision) and the LUT fold.
    *
    * Scale: probes are |Q|×16 → broadcast; LUT is |Q|×2048 → broadcast;
    * cell sizes aggregate the corpus-sized inverted file once. Nothing
    * corpus-sized crosses an all-pairs boundary. */
  def q216AdcMachinery(s: SparkSession, dir: String): DataFrame = {
    val nprobe = 4
    val cents = ivfCentroids(s, dir)
    val assigned = ivfAssigned(s, dir)
    val probes = assigned.filter(col("vec_id") < 50)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"),
        col("nrm").as("q_nrm"))
      .crossJoin(broadcast(cents))
      .withColumn("cc",
        vecDot(col("q_emb"), col("c_emb")) / (col("q_nrm") * col("c_nrm")))
      .withColumn("pr", row_number().over(Window.partitionBy(col("q_id"))
        .orderBy(col("cc").desc, col("cent_id"))))
      .filter(col("pr") <= nprobe)
      .select(col("q_id"), col("pr"), col("cent_id").as("cell"))
    val sizes = assigned.groupBy(col("cell")).agg(count(lit(1)).as("sz"))
    val probeAggs = (1 to nprobe).map(p =>
      min(when(col("pr") === p, col("cell"))).as(s"cell$p")) :+
      graft.Oracle.lsum(col("sz")).as("n_cand")
    val probeCells = probes.join(broadcast(sizes), "cell")
      .groupBy(col("q_id"))
      .agg(probeAggs.head, probeAggs.tail: _*)
    // query sub-vectors from a pruned scan ([[subvecsOf]] is row-local,
    // so filter-then-explode ≡ explode-then-filter): 50 vectors of I/O,
    // never the corpus-wide sub-vector table
    val lut = subvecsOf(Tables.embeddings(s, dir).filter(col("vec_id") < 50)
        .select(col("vec_id"), col("embedding")), "vec_id")
      .select(col("vec_id").as("q_id"), col("sub"), col("svec").as("qsub"))
      .join(broadcast(pqCodebooks(s, dir)), "sub")
      .select(col("q_id"), col("sub"), vecDot(col("qsub"), col("cvec")).as("pdot"))
      .groupBy(col("q_id"), col("sub"))
      .agg(round(graft.Oracle.dsum(col("pdot")), 6).as("lc"))
      .groupBy(col("q_id"))
      .agg(min(when(col("sub") === 0, col("lc"))).as("lut0"),
        (1 to 7).map(i =>
          min(when(col("sub") === i, col("lc"))).as(s"lut$i")): _*)
    probeCells.join(lut, "q_id").orderBy(col("q_id"))
  }

  val q216Sql: String = {
    val cellCols = (1 to 4).map(p =>
      s"MIN(CASE WHEN pr = $p THEN cell END) AS cell$p").mkString(", ")
    val lutCols = (0 to 7).map(i =>
      s"MIN(CASE WHEN sub = $i THEN lc END) AS lut$i").mkString(", ")
    s"""WITH $ivfTrainCtes,
      |probes AS (
      |  SELECT vec_id AS q_id, cent_id AS cell, rn AS pr FROM (
      |    SELECT vec_id, cent_id, row_number() OVER (PARTITION BY vec_id
      |      ORDER BY cos DESC, cent_id ASC) AS rn
      |    FROM a3_cos WHERE vec_id < 50) WHERE rn <= 4),
      |sizes AS (SELECT cell, COUNT(*) AS sz FROM a3 GROUP BY 1),
      |pcells AS (
      |  SELECT q_id, $cellCols, CAST(SUM(sz) AS BIGINT) AS n_cand
      |  FROM probes JOIN sizes USING (cell) GROUP BY 1),
      |${pqTrainCtes("p")},
      |lutsums AS (
      |  SELECT q.vec_id AS q_id, q.sub,
      |    round(${graft.Oracle.dsumSql(s"(${pqDot8Sql("q.svec", "c.cvec")})")}, 6) AS lc
      |  FROM psv q JOIN pc2 c USING (sub)
      |  WHERE q.vec_id < 50 GROUP BY 1, 2),
      |lut AS (SELECT q_id, $lutCols FROM lutsums GROUP BY 1)
      |SELECT * FROM pcells JOIN lut USING (q_id) ORDER BY q_id""".stripMargin
  }

  // ---------------------------------------------------------------------
  // q228 — DBSCAN density clustering over the embedding ε-graph

  /** Density-based semantic clustering (DBSCAN, Ester et al. 1996) —
    * the principled upgrade over q110's plain transitive closure: a
    * point is CORE iff it has ≥ minPts−1 = 3 ε-neighbors (cosine ≥ 0.4,
    * the q46 exact pair graph), clusters are connected components of
    * the CORE-CORE subgraph, non-core points with a core neighbor
    * attach as BORDER (to their smallest core cluster id — the
    * deterministic stand-in for DBSCAN's arrival-order tie), and the
    * rest is NOISE. Density gating is what stops the q149-documented
    * transitive-chaining failure: a sparse bridge point can't merge two
    * dense regions unless it is itself core.
    *
    * Scale (r12): every stage runs on the REP graph — one node per
    * distinct embedding — exactly the collapse its own oracle documents.
    * A member's ε-degree is class-uniform (adjacent reps contribute
    * their multiplicity; the mult−1 co-members are cos-1.0 neighbors),
    * so roles are decided per class; a core class's members
    * interconnect at 1.0, so the component structure and min-member
    * cluster id collapse to the rep graph; border classes take the min
    * cluster over their adjacent CORE reps (co-members share the
    * class's non-core role and contribute nothing). Members inherit
    * their class row through the fingerprint join at the very end —
    * the member-level ε-graph (~Σ mult² edges under duplicate
    * replication) is never materialized. The ε-graph itself comes from
    * the blocked exact rep pair join (never all-pairs on one node);
    * components run the same large-star/small-star iteration as
    * q70/q110. Oracle: rep-level pairs + recursive-CTE closure over
    * the core subgraph. */
  def q228DbscanClusters(s: SparkSession, dir: String): DataFrame = {
    val members = embMembers(s, dir)
    val groups = embReps(s, dir).select(col("fp"), col("vec_id").as("rep"), col("mult"))
    val rp = repCosinePairs(s, dir).select(col("id_a"), col("id_b"))
    val sym = rp.select(col("id_a").as("rep"), col("id_b").as("nb"))
      .unionByName(rp.select(col("id_b").as("rep"), col("id_a").as("nb")))
    val nbrDeg = sym
      .join(groups.select(col("rep").as("nb"), col("mult").as("nb_mult")), "nb")
      .groupBy(col("rep")).agg(sum(col("nb_mult")).as("nbdeg"))
    val coreReps = groups.join(nbrDeg, Seq("rep"), "left")
      .filter(coalesce(col("nbdeg"), lit(0L)) + col("mult") - 1 >= 3)
      .select(col("rep"))
    val coreEdges = rp
      .join(coreReps.select(col("rep").as("id_a")), "id_a")
      .join(coreReps.select(col("rep").as("id_b")), "id_b")
    val cc = graft.operators.ConnectedComponents.run(coreEdges)
    // a core class with no core NEIGHBOR is its own cluster (its members
    // interconnect at cos 1.0, so member-level CC labeled them rep)
    val coreCl = coreReps
      .join(cc.select(col("node").as("rep"), col("component")), Seq("rep"), "left")
      .select(col("rep"), coalesce(col("component"), col("rep")).as("cluster_id"))
    val borderCl = sym
      .join(coreCl.select(col("rep").as("nb"), col("cluster_id")), "nb")
      .groupBy(col("rep")).agg(min(col("cluster_id")).as("bcl"))
      .join(coreReps, Seq("rep"), "left_anti")
    val cls = groups.select(col("fp"), col("rep"))
      .join(coreCl.select(col("rep"), col("cluster_id").as("ccl")), Seq("rep"), "left")
      .join(borderCl.select(col("rep"), col("bcl")), Seq("rep"), "left")
    members.join(cls, "fp")
      .select(col("vec_id"),
        when(col("ccl").isNotNull, "core")
          .when(col("bcl").isNotNull, "border").otherwise("noise").as("role"),
        coalesce(col("ccl"), col("bcl"), lit(-1L)).as("cluster_id"))
      .orderBy(col("vec_id"))
  }

  val q228Sql: String =
    // rep-level DBSCAN on the collapsed ε-graph: every member of a rep
    // has the same degree (neighbor reps contribute their mult, the
    // mult−1 co-members are cos-1.0 neighbors), hence the same role; a
    // core rep's members interconnect at 1.0, so component structure
    // and the min-member cluster id collapse to the rep graph exactly
    s"""WITH RECURSIVE $vecCollapseCteSql,
      |rdeg AS (
      |  SELECT r.vec_id AS rep, r.mult,
      |    COALESCE(nb.s, 0) + (r.mult - 1) AS deg
      |  FROM vreps r LEFT JOIN (
      |    SELECT v, CAST(SUM(m) AS BIGINT) AS s FROM (
      |      SELECT rcos.ra AS v, mb.mult AS m
      |      FROM rcos JOIN vreps mb ON mb.vec_id = rcos.rb
      |      UNION ALL
      |      SELECT rcos.rb AS v, ma.mult AS m
      |      FROM rcos JOIN vreps ma ON ma.vec_id = rcos.ra) q
      |    GROUP BY v) nb ON nb.v = r.vec_id),
      |rcore AS MATERIALIZED (SELECT rep FROM rdeg WHERE deg >= 3),
      |rce AS (
      |  SELECT ra AS a, rb AS b FROM rcos
      |  JOIN rcore c1 ON rcos.ra = c1.rep JOIN rcore c2 ON rcos.rb = c2.rep),
      |redges AS MATERIALIZED (SELECT a, b FROM rce UNION SELECT b, a FROM rce),
      |rreach(node, r) AS (
      |  SELECT a AS node, b AS r FROM redges
      |  UNION
      |  SELECT rreach.node, e.b AS r FROM rreach JOIN redges e ON rreach.r = e.a),
      |rmemb AS (
      |  SELECT node, CAST(least(node, min(r)) AS BIGINT) AS cluster
      |  FROM rreach GROUP BY node),
      |rcorecl AS MATERIALIZED (
      |  SELECT rcore.rep, COALESCE(rmemb.cluster, rcore.rep) AS cluster_id
      |  FROM rcore LEFT JOIN rmemb ON rcore.rep = rmemb.node),
      |rborders AS (
      |  SELECT q.v AS rep, MIN(cl.cluster_id) AS bcl
      |  FROM (SELECT ra AS v, rb AS nb FROM rcos
      |        UNION ALL SELECT rb, ra FROM rcos) q
      |  JOIN rcorecl cl ON q.nb = cl.rep
      |  WHERE q.v NOT IN (SELECT rep FROM rcore)
      |  GROUP BY 1)
      |SELECT e.vec_id,
      |  CASE WHEN cc.rep IS NOT NULL THEN 'core'
      |       WHEN bb.rep IS NOT NULL THEN 'border'
      |       ELSE 'noise' END AS role,
      |  CAST(COALESCE(cc.cluster_id, bb.bcl, -1) AS BIGINT) AS cluster_id
      |FROM embeddings e
      |JOIN vmem m ON e.vec_id = m.vec_id
      |LEFT JOIN rcorecl cc ON m.rep = cc.rep
      |LEFT JOIN rborders bb ON m.rep = bb.rep
      |ORDER BY e.vec_id""".stripMargin

  // ---------------------------------------------------------------------
  // q227 — incremental IVF maintenance (assign-only ingest)

  /** The production lifecycle step the train-once queries (q56/q139/
    * q215) imply but never exercise: new vectors arrive AFTER the index
    * is trained and are folded in by ASSIGNMENT ONLY — no retraining.
    * The corpus splits deterministically (vec_id % 5: 80% "old" train
    * the index — first-16-of-old seeding, two Lloyd rounds, the exact
    * q215 arithmetic — and 20% "new" are routed into the trained
    * cells). Output per cell: resident counts of old and new vectors
    * plus the trained-centroid checksum, so the gate pins BOTH halves:
    * the index state and the incremental routing decisions. Skew
    * between n_old and n_new per cell is the drift signal that tells
    * an operator when retraining is due.
    *
    * Scale: training touches 80% once per build; each ingest batch is
    * one broadcast-16-centroids assign over ONLY the new rows — the
    * whole point: ingest cost is |batch|, not |corpus|. */
  def q227IvfIncremental(s: SparkSession, dir: String): DataFrame = {
    val spine = ivfSpine(s, dir)
    val olds = spine.filter(pmod(col("vec_id"), lit(5)) =!= 0)
    val news = spine.filter(pmod(col("vec_id"), lit(5)) === 0)
    // same train-on-sample knob as [[ivfCentroids]], over the OLD
    // corpus only (the index owner's training set); identity at gate
    // SFs, 1-in-step at stress scale — and the oracle replays the same
    // sample, so the gate holds at any SF
    val stepDf = olds.agg(
      greatest(lit(1L), floor(count(lit(1)) / lit(6400.0)).cast("long")).as("step"))
    val trainOlds = olds.crossJoin(broadcast(stepDf))
      .filter(pmod(col("vec_id"), col("step")) === 0)
      .select(col("vec_id"), col("embedding"), col("nrm"))
    var cents = trainOlds.orderBy(col("vec_id")).limit(16)
      .select(col("vec_id").as("cent_id"), col("embedding").as("c_emb"),
        col("nrm").as("c_nrm"))
    for (_ <- 1 to 2) {
      cents = ivfAssign(trainOlds, cents)
        .select(col("cell"), posexplode(col("embedding")).as(Seq("d", "x")))
        .groupBy(col("cell"), col("d"))
        .agg(avg(col("x").cast("decimal(20,10)")).as("m"))
        .groupBy(col("cell"))
        .agg(sort_array(collect_list(struct(col("d"), col("m")))).as("dm"))
        .select(col("cell").as("cent_id"),
          expr("transform(dm, p -> CAST(p.m AS FLOAT))").as("c_emb"))
        .withColumn("c_nrm", vecNorm(col("c_emb")))
    }
    val oldCells = ivfAssign(olds, cents)
      .groupBy(col("cell")).agg(count(lit(1)).as("n_old"))
    val newCells = ivfAssign(news, cents)
      .groupBy(col("cell")).agg(count(lit(1)).as("n_new"))
    val sums = cents
      .select(col("cent_id").as("cell"), posexplode(col("c_emb")).as(Seq("d", "x")))
      .groupBy(col("cell"))
      .agg(round(graft.Oracle.dsum(col("x").cast("double")), 4)
        .as("centroid_checksum"))
    oldCells.join(newCells, Seq("cell"), "full_outer")
      .join(sums, "cell")
      .select(col("cell"), coalesce(col("n_old"), lit(0L)).as("n_old"),
        coalesce(col("n_new"), lit(0L)).as("n_new"), col("centroid_checksum"))
      .orderBy(col("cell"))
  }

  val q227Sql: String = {
    s"""WITH olds AS (
      |  SELECT vec_id, embedding FROM embeddings WHERE vec_id % 5 <> 0),
      |news AS (
      |  SELECT vec_id, embedding FROM embeddings WHERE vec_id % 5 = 0),
      |onv AS (SELECT GREATEST(1, COUNT(*) // 6400) AS step FROM olds),
      |otrain AS (SELECT vec_id, embedding FROM olds, onv
      |           WHERE vec_id % step = 0),
      |c0 AS (SELECT vec_id AS cent_id, embedding AS c_emb
      |       FROM otrain ORDER BY vec_id LIMIT 16),
      |${ivfAssignCtes("c0", "a1", "otrain")},
      |${ivfMeansCtes("a1", "c1")},
      |${ivfAssignCtes("c1", "a2", "otrain")},
      |${ivfMeansCtes("a2", "c2")},
      |${ivfAssignCtes("c2", "a3", "olds")},
      |${ivfAssignCtes("c2", "b3", "news")},
      |oc AS (SELECT cell, COUNT(*) AS n_old FROM a3 GROUP BY 1),
      |nc AS (SELECT cell, COUNT(*) AS n_new FROM b3 GROUP BY 1),
      |cs AS (
      |  SELECT cent_id AS cell,
      |    ROUND(${graft.Oracle.dsumSql("CAST(c_emb[i] AS DOUBLE)")}, 4)
      |      AS checksum
      |  FROM (SELECT cent_id, c_emb, unnest(range(1, len(c_emb) + 1)) AS i
      |        FROM c2) q
      |  GROUP BY 1)
      |SELECT COALESCE(oc.cell, nc.cell) AS cell,
      |  COALESCE(n_old, 0) AS n_old, COALESCE(n_new, 0) AS n_new,
      |  cs.checksum AS centroid_checksum
      |FROM oc FULL OUTER JOIN nc ON oc.cell = nc.cell
      |JOIN cs ON COALESCE(oc.cell, nc.cell) = cs.cell
      |ORDER BY cell""".stripMargin
  }
}
