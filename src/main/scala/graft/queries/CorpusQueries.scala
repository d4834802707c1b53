package graft.queries

import graft.{Oracle, Tables}
import graft.operators.ClassCollapse
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Corpus-curation and graph operators a large-scale training-data
  * pipeline layers on top of the dedup family: duplicate-cluster
  * assignment (connected components), relevance scoring (TF-IDF, BM25),
  * deterministic sampling, PII scrubbing, columnar-format round-trips,
  * and link-graph analytics (degree/strength, PageRank).
  *
  * Reference context: etl-rust ships records to BigQuery precisely so
  * this tier of processing can happen in a warehouse (README.md:3);
  * here the engine owns it. Every query is a declarative DataFrame plan
  * (Catalyst pushdown/codegen apply throughout); the iterative graph
  * algorithms bound their lineage explicitly (see ConnectedComponents).
  */
object CorpusQueries {

  // ---------------------------------------------------------------------
  // q70 — duplicate clusters: near-dup pairs → connected components

  /** Cluster assignment for every document in a near-duplicate
    * component: edges are q20's verified MinHash-LSH pairs (Jaccard ≥
    * 0.8), components via alternating large-star/small-star. cluster_id
    * = min doc_id of the component, so "keep one doc per cluster" is
    * `filter(doc_id = cluster_id)`.
    *
    * Scale (r12, after the sf100 sweep showed the member graph going
    * quadratic): CC runs on the REP-level pair graph — one node per
    * distinct shingle set ([[LlmQueries.repDedupPairs]]) — through
    * [[ClassCollapse.components]]; a duplicate group with NO external
    * edge is the oracle's no-external-edge leg (exact copies are J=1.0
    * near-dups of each other). Edge volume is the DISTINCT near-dup
    * pair count regardless of duplicate multiplicity — no collect, no
    * O(n²). */
  def q70DedupClusters(s: SparkSession, dir: String): DataFrame = {
    // the component assignment is a doc-count-bounded output of an
    // expensive pass, shared with q111/q135/q138 — memoized under the
    // same key q111 reads, so the iterative CC rounds run once per
    // (session, dir) whichever cluster query fires first
    graft.PlanCache.memo(s, dir, "dedup_clusters", "w3,k64,b16r4,t0.8") {
      ClassCollapse.components(
          LlmQueries.setFingerprints(s, dir).select(col("doc_id"), col("fp")),
          LlmQueries.repStats(s, dir),
          LlmQueries.repDedupPairs(s, dir).select(col("doc_a"), col("doc_b")))
        .select(col("doc_id"), col("component").as("cluster_id"))
    }.orderBy(col("doc_id"))
  }

  /** Oracle: brute-force exact-Jaccard pairs (same CTE as q20's oracle)
    * + transitive closure by recursive CTE; component id = min reachable
    * node (including self via symmetric edges). */
  /** Shared CTE prefix of the q70/q111 oracles: shingles → 0.8-Jaccard
    * pairs → symmetric edges → transitive closure → one `clusters`
    * relation. Both oracles compose from this constant (round-4
    * advisory: q111 previously rewrote q70's tail by string surgery,
    * which would silently no-op if q70Sql were ever reformatted). */
  private val clustersCteSql: String =
    s"""WITH RECURSIVE ${LlmQueries.jaccardPairsCteSql},
      |rpairs AS (
      |  SELECT doc_a AS a, doc_b AS b FROM rjac WHERE jaccard >= 0.8),
      |redges AS (SELECT a, b FROM rpairs UNION SELECT b AS a, a AS b FROM rpairs),
      |rreach(node, r) AS (
      |  SELECT a AS node, b AS r FROM redges
      |  UNION
      |  SELECT rreach.node, e.b AS r FROM rreach JOIN redges e ON rreach.r = e.a),
      |-- closure over the REPRESENTATIVE graph (collapse note in
      |-- jaccardPairsCteSql); a rep is the MIN doc_id of its identical-
      |-- text group, so the min rep of a component IS the min member
      |-- doc_id, and every member joins its rep's component through the
      |-- jaccard-1.0 intra edges. Duplicate-text groups with no external
      |-- edge (and a nonempty shingle set) are components of their own.
      |rcomp AS (
      |  SELECT node AS rep, CAST(least(node, min(r)) AS BIGINT) AS rc
      |  FROM rreach GROUP BY node),
      |rsolo AS (
      |  SELECT g.doc_id AS rep, CAST(g.doc_id AS BIGINT) AS rc
      |  FROM dreps g JOIN sz ON sz.doc_id = g.doc_id
      |  WHERE g.mult >= 2 AND g.doc_id NOT IN (SELECT rep FROM rcomp)),
      |rcomp2 AS (SELECT * FROM rcomp UNION ALL SELECT * FROM rsolo),
      |clusters AS (
      |  SELECT m.doc_id, c.rc AS cluster_id
      |  FROM rcomp2 c JOIN dmem m ON m.rep = c.rep)""".stripMargin

  val q70Sql: String =
    s"""$clustersCteSql
      |SELECT doc_id, cluster_id FROM clusters ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------------
  // q71 — TF-IDF term weighting

  /** One row per whitespace token of a document (blank tokens dropped —
    * both engines agree on split semantics for repeated spaces). */
  private def docTerms(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
        explode(graft.functions.TextFunctions.tokensOf(col("text"))).as("term"))
      .filter(col("term") =!= "")

  /** Per-(doc, term) TF-IDF over the full corpus for the first 20 docs:
    * tf from the doc subset (filter pushes to the scan), df and N from
    * the WHOLE corpus (a weight is meaningless against a sample).
    * idf = ln(N/df); emitted on a 1e-6 grid (ln differs by ≤1 ulp
    * across engines). Scale: two hash aggregations + one broadcast-able
    * join on term — no windows, no self-join. */
  def q71Tfidf(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val terms = docTerms(docs)
    val tf = terms.filter(col("doc_id") < 20)
      .groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
    val df = terms.groupBy(col("term"))
      .agg(countDistinct(col("doc_id")).as("df"))
    val n = docs.agg(count(lit(1)).as("n_docs"))
    tf.join(df, "term").crossJoin(broadcast(n))
      .select(col("doc_id"), col("term"), col("tf"), col("df"),
        round(col("tf") * log(col("n_docs").cast("double") / col("df")), 6)
          .as("tfidf"))
      .orderBy(col("doc_id"), col("term"))
  }

  val q71Sql: String =
    """WITH t AS (
      |  SELECT doc_id, unnest(string_split(lower(text), ' ')) AS term
      |  FROM documents),
      |tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM t
      |  WHERE doc_id < 20 AND term <> '' GROUP BY 1, 2),
      |df AS (SELECT term, COUNT(DISTINCT doc_id) AS df FROM t
      |  WHERE term <> '' GROUP BY 1),
      |n AS (SELECT COUNT(*) AS n_docs FROM documents)
      |SELECT doc_id, tf.term AS term, tf, df,
      |  round(tf * ln(CAST(n_docs AS DOUBLE) / df), 6) AS tfidf
      |FROM tf JOIN df ON tf.term = df.term CROSS JOIN n
      |ORDER BY doc_id, term""".stripMargin

  // ---------------------------------------------------------------------
  // q72 — BM25 relevance ranking

  private val bm25K1 = 1.2
  private val bm25B  = 0.75
  private val bm25Terms = Seq("spark", "vector", "stream")

  /** BM25 top-20 documents for a fixed keyword query. Standard Robertson
    * idf = ln(1 + (N−df+0.5)/(df+0.5)); length norm against the corpus
    * average token count. Scoring is a per-doc sum over ≤3 matched
    * terms — the term tf table is filtered to the query terms FIRST, so
    * the join input is tiny and broadcast; doc lengths come from one
    * hash aggregation. Deterministic across engines: scores snap to a
    * 1e-6 grid and ties break on doc_id before the limit. */
  def q72Bm25(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val terms = docTerms(docs)
    val dl = terms.groupBy(col("doc_id")).agg(count(lit(1)).as("dl"))
    val stats = dl.agg(
      avg(col("dl")).as("avgdl"),
      count(lit(1)).cast("double").as("n_docs"))
    val qt = terms.filter(col("term").isin(bm25Terms: _*))
    val tf = qt.groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
    val df = qt.groupBy(col("term")).agg(countDistinct(col("doc_id")).as("df"))
    val idf = df.crossJoin(broadcast(stats))
      .select(col("term"),
        log(lit(1.0) + (col("n_docs") - col("df") + lit(0.5)) / (col("df") + lit(0.5)))
          .as("idf"))
    tf.join(broadcast(idf), "term").join(dl, "doc_id")
      .crossJoin(broadcast(stats.select(col("avgdl"))))
      .withColumn("part", col("idf") * (col("tf") * lit(bm25K1 + 1.0)) /
        (col("tf") + lit(bm25K1) *
          (lit(1.0 - bm25B) + lit(bm25B) * col("dl").cast("double") / col("avgdl"))))
      .groupBy(col("doc_id"))
      .agg(round(Oracle.dsum(col("part")), 6).as("score"))
      .orderBy(col("score").desc, col("doc_id"))
      .limit(20)
  }

  val q72Sql: String = {
    val inList = bm25Terms.map(t => s"'$t'").mkString(", ")
    s"""WITH t AS (
      |  SELECT doc_id, unnest(string_split(lower(text), ' ')) AS term
      |  FROM documents),
      |dl AS (SELECT doc_id, COUNT(*) AS dl FROM t WHERE term <> '' GROUP BY 1),
      |stats AS (SELECT AVG(dl) AS avgdl, CAST(COUNT(*) AS DOUBLE) AS n_docs FROM dl),
      |tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM t
      |  WHERE term IN ($inList) GROUP BY 1, 2),
      |df AS (SELECT term, COUNT(DISTINCT doc_id) AS df FROM t
      |  WHERE term IN ($inList) GROUP BY 1),
      |idf AS (SELECT term,
      |  ln(CAST(1 AS DOUBLE) + (n_docs - df + CAST(0.5 AS DOUBLE)) / (df + CAST(0.5 AS DOUBLE))) AS idf
      |  FROM df CROSS JOIN stats)
      |SELECT doc_id, round(${Oracle.dsumSql(
          s"idf * (tf * CAST(${bm25K1 + 1.0} AS DOUBLE)) / " +
          s"(tf + CAST($bm25K1 AS DOUBLE) * (CAST(${1.0 - bm25B} AS DOUBLE) " +
          s"+ CAST($bm25B AS DOUBLE) * CAST(dl AS DOUBLE) / avgdl))")}, 6) AS score
      |FROM tf JOIN idf USING (term) JOIN dl USING (doc_id) CROSS JOIN (SELECT avgdl FROM stats) s
      |GROUP BY doc_id ORDER BY score DESC, doc_id LIMIT 20""".stripMargin
  }

  // ---------------------------------------------------------------------
  // q73 — deterministic stratified hash sampling

  /** Reproducible stratified sampling without RNG: keep a document iff
    * (doc_id × 2654435761) mod 1000 < rate(stratum) — Knuth
    * multiplicative hashing, so the sample is a fixed, re-derivable
    * property of the id (any engine, any run, any partitioning picks the
    * SAME rows; rerunning a 100 TB pipeline never resamples). English
    * docs at 20%, others at 10%. The multiply stays ≪ 2⁶³ for any
    * realistic id, safe under ANSI overflow checking. */
  def q73SampleHash(s: SparkSession, dir: String): DataFrame = {
    val rate = when(col("lang") === "en", lit(200L)).otherwise(lit(100L))
    Tables.documents(s, dir)
      .filter(pmod(col("doc_id") * lit(2654435761L), lit(1000L)) < rate)
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_sampled"),
        Oracle.lsum(col("n_chars")).as("sampled_chars"),
        min(col("doc_id")).as("first_doc"),
        max(col("doc_id")).as("last_doc"))
      .orderBy(col("lang"))
  }

  val q73Sql: String =
    s"""SELECT lang, COUNT(*) AS n_sampled,
      |  ${Oracle.lsumSql("n_chars")} AS sampled_chars,
      |  MIN(doc_id) AS first_doc, MAX(doc_id) AS last_doc
      |FROM documents
      |WHERE (doc_id * 2654435761) % 1000 < (CASE WHEN lang = 'en' THEN 200 ELSE 100 END)
      |GROUP BY lang ORDER BY lang""".stripMargin

  // ---------------------------------------------------------------------
  // q144 — weighted sampling without replacement (Efraimidis–Spirakis)

  /** Quality-weighted corpus sampling WITHOUT replacement: pick k = 30
    * docs with inclusion tilted toward high n_chars, via the
    * Efraimidis–Spirakis A-ES reduction — per row draw u ∈ (0,1),
    * keep the top-k by u^(1/w), here as the equivalent key ln(u)/w.
    * This turns weighted sampling into a TOP-K, which is exactly what
    * distributes: no sequential pass, no rejection loop, TakeOrdered
    * keeps k rows per partition. The uniform is the q73/q95 Knuth
    * multiplicative hash of doc_id ((h % 10⁶ + 0.5)/10⁶ — a pure
    * function of the row, so any engine, partitioning, or rerun draws
    * the SAME sample), and the key rounds to the 1e-6 grid with
    * doc_id tiebreak (q71's ln-ulp stance). */
  def q144WeightedSample(s: SparkSession, dir: String): DataFrame = {
    val M = 1000000L
    Tables.documents(s, dir)
      .select(col("doc_id"), col("lang"), col("n_chars"))
      // zero-weight guard: ln(u)/0 is -Infinity in Spark but NULL in
      // DuckDB — an empty doc must be excluded, not sorted differently
      .filter(col("n_chars") > 0)
      .withColumn("u",
        (pmod(col("doc_id") * lit(2654435761L), lit(M)).cast("double") + 0.5) / M)
      .withColumn("es_key", round(log(col("u")) / col("n_chars"), 6))
      .orderBy(col("es_key").desc, col("doc_id"))
      .limit(30)
      .select(col("doc_id"), col("lang"), col("n_chars"), col("es_key"))
  }

  val q144Sql: String =
    """SELECT doc_id, lang, n_chars, es_key FROM (
      |  SELECT doc_id, lang, n_chars,
      |    round(ln(((doc_id * 2654435761) % 1000000 + 0.5) / 1000000.0)
      |      / n_chars, 6) AS es_key
      |  FROM documents WHERE n_chars > 0)
      |ORDER BY es_key DESC, doc_id LIMIT 30""".stripMargin

  // ---------------------------------------------------------------------
  // q113 — deterministic stratified train/val/test split (exact strata)

  /** The 80/10/10 split every training run starts from, with EXACT
    * per-language proportions: docs order by a portable multiplicative
    * hash (a pure function of doc_id — rerunnable, engine- and
    * partitioning-independent), rank within their language, and the
    * split comes from integer-exact rank thresholds (n·8 DIV 10, n·9
    * DIV 10) — so every stratum's train count is exactly ⌊0.8·n⌋, not
    * binomial-approximate like per-row Bernoulli sampling (q73's
    * shape).
    *
    * Scale: ranks come from `Ranks.withGroupRowNumber` (the q107
    * primitive — no per-language single-task sort); thresholds join in
    * from a broadcast language-size table. */
  def q113StratifiedSplit(s: SparkSession, dir: String): DataFrame = {
    val base = Tables.documents(s, dir)
      .select(col("doc_id"), col("lang"),
        pmod(col("doc_id") * lit(2654435761L), lit(1000000007L)).as("h"))
    val ranked = graft.operators.Ranks.withGroupRowNumber(
      base, col("lang"), "__r", col("h"), col("doc_id"))
    val sizes = base.groupBy(col("lang")).agg(count(lit(1)).as("__n"))
    val split = expr(
      """CASE WHEN __r <= __n * 8 DIV 10 THEN 'train'
        |     WHEN __r <= __n * 9 DIV 10 THEN 'val'
        |     ELSE 'test' END""".stripMargin)
    ranked.join(broadcast(sizes), "lang")
      .select(col("doc_id"), col("lang"), split.as("split"))
      .filter(col("doc_id") < 200)
      .orderBy(col("doc_id"))
  }

  val q113Sql: String =
    """WITH h AS (
      |  SELECT doc_id, lang, (doc_id * 2654435761) % 1000000007 AS h
      |  FROM documents),
      |r AS (
      |  SELECT doc_id, lang,
      |    ROW_NUMBER() OVER (PARTITION BY lang ORDER BY h, doc_id) AS rn,
      |    COUNT(*) OVER (PARTITION BY lang) AS n
      |  FROM h)
      |SELECT doc_id, lang,
      |  CASE WHEN rn <= n * 8 // 10 THEN 'train'
      |       WHEN rn <= n * 9 // 10 THEN 'val'
      |       ELSE 'test' END AS split
      |FROM r WHERE doc_id < 200 ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------------
  // q74 — ORC round-trip (second columnar format)

  /** Columnar-format interop under the hash gate: orders is written as
    * ORC (Spark's built-in vectorized ORC writer), read back, and
    * aggregated; the oracle computes the same aggregate from the
    * original parquet — any loss in the ORC encode/decode (types,
    * timestamps, nulls) breaks the hash. The staged directory is
    * removed after the small aggregate materializes (same hygiene as
    * q69). Scale: both write and read are distributed columnar scans;
    * the round-trip is per-partition with no shuffle until the final
    * 3-row aggregate. */
  def q74OrcRoundtrip(s: SparkSession, dir: String): DataFrame = {
    val tmp = java.nio.file.Files.createTempDirectory("q74_orc").toString
    Tables.orders(s, dir).write.mode("overwrite").orc(tmp)
    val out = s.read.orc(tmp)
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n_orders"),
        // 1e-4 grid (dsumScaled, the q199 overflow idiom): o_totalprice
        // is a 2dp currency so the coarser grid is still exact, and the
        // scaled per-group long stays ~40× under 2⁶³ at the 1000× stress
        // tier, where the default 1e-6 grid overflowed (caught by the
        // r13 sf100 sweep — ANSI long overflow in the engine)
        Oracle.dsumScaled(col("o_totalprice"), 4).as("total_price"),
        max(col("o_orderdate")).as("last_order"))
      .orderBy(col("o_orderstatus"))
    graft.Staging.deferDelete(out, tmp, "q74")
  }

  val q74Sql: String =
    s"""SELECT o_orderstatus, COUNT(*) AS n_orders,
      |  ${Oracle.dsumScaledSql("o_totalprice", 4)} AS total_price,
      |  MAX(o_orderdate) AS last_order
      |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin

  // ---------------------------------------------------------------------
  // q75 — PII scrubbing

  private val emailRe = "[a-z0-9._%-]+@[a-z0-9.-]+\\.[a-z]{2,}"
  private val phoneRe = "\\+1-555-[0-9]{4}"

  /** Regex PII redaction — the standard pre-training scrub pass. The
    * corpus is synthetic, so PII-shaped spans are planted
    * deterministically per doc (email + E.164-ish phone), then redacted
    * and counted; the oracle plants and scrubs identically. Patterns
    * stay in the Java-regex ∩ RE2 common subset so both engines match
    * the same spans. Pure codegen'd projection — no UDF, no shuffle;
    * at 100 TB this runs scan-local at I/O speed. */
  def q75PiiScrub(s: SparkSession, dir: String): DataFrame = {
    val raw = concat(
      substring(col("text"), 1, 40),
      lit(" contact user"), col("doc_id"), lit("@mail.example.com or +1-555-"),
      lpad(pmod(col("doc_id") * 7, lit(10000)).cast("string"), 4, "0"), lit(" ok"))
    Tables.documents(s, dir)
      .filter(col("doc_id") < 100)
      .select(col("doc_id"), raw.as("raw"))
      .select(col("doc_id"),
        regexp_replace(regexp_replace(col("raw"), lit(emailRe), lit("[EMAIL]")),
          lit(phoneRe), lit("[PHONE]")).as("redacted"),
        regexp_count(col("raw"), lit(emailRe)).cast("long").as("n_emails"),
        regexp_count(col("raw"), lit(phoneRe)).cast("long").as("n_phones"))
      .orderBy(col("doc_id"))
  }

  val q75Sql: String =
    s"""WITH planted AS (
      |  SELECT doc_id,
      |    concat(substr(text, 1, 40), ' contact user', doc_id,
      |      '@mail.example.com or +1-555-',
      |      lpad(CAST((doc_id * 7) % 10000 AS VARCHAR), 4, '0'), ' ok') AS raw
      |  FROM documents WHERE doc_id < 100)
      |SELECT doc_id,
      |  regexp_replace(regexp_replace(raw, '$emailRe', '[EMAIL]', 'g'),
      |    '$phoneRe', '[PHONE]', 'g') AS redacted,
      |  CAST(len(regexp_extract_all(raw, '$emailRe')) AS BIGINT) AS n_emails,
      |  CAST(len(regexp_extract_all(raw, '$phoneRe')) AS BIGINT) AS n_phones
      |FROM planted ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------------
  // q76 — link-graph degree/strength

  /** Bipartite customer–supplier graph from the order lines: per
    * supplier, distinct-customer degree and total traded value. The
    * graph materializes as one shuffle (groupBy suppkey with partial
    * aggregation); customers per supplier dedup via count_distinct. */
  def q76GraphDegree(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .join(Tables.orders(s, dir),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("l_suppkey").as("suppkey"))
      .agg(countDistinct(col("o_custkey")).as("degree"),
        count(lit(1)).as("n_edges"),
        Oracle.dsum(col("l_extendedprice")).as("strength"))
      .orderBy(col("suppkey"))

  val q76Sql: String =
    s"""SELECT l_suppkey AS suppkey, COUNT(DISTINCT o_custkey) AS degree,
      |  COUNT(*) AS n_edges, ${Oracle.dsumSql("l_extendedprice")} AS strength
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |GROUP BY 1 ORDER BY 1""".stripMargin

  // ---------------------------------------------------------------------
  // q77 — PageRank (fixed iterations, cross-engine deterministic)

  /** PageRank over the undirected customer↔supplier graph (each edge in
    * both directions, so no dangling nodes), damping 0.85, exactly 3
    * iterations, unrolled identically in the SQL oracle.
    *
    * Cross-engine determinism: per-edge contributions (rank/outdegree —
    * pure IEEE division, bit-identical in both engines) are cast to
    * DECIMAL(15,14) (compact-long representation) before summing, so
    * the per-node reduction is exact
    * decimal arithmetic with no combine-order dependence; the conversion
    * itself is safe because rank values carry ≤14 significant decimal
    * digits at this scale — under the ~16-digit double discrepancy
    * horizon (see Oracle.dsum's bound note).
    *
    * Scale: each iteration = one join (rank ⋈ edges, rank is the small
    * side) + one groupBy with map-side partial aggregation; supplier
    * nodes concentrate mass but the agg handles skew partial-first.
    * 3 fixed iterations keep the oracle expressible; production would
    * loop to convergence with localCheckpoint per round exactly like
    * ConnectedComponents. */
  def q77PageRank(s: SparkSession, dir: String): DataFrame = {
    val base = Tables.lineitem(s, dir)
      .join(Tables.orders(s, dir), col("l_orderkey") === col("o_orderkey"))
      .select(col("o_custkey").as("c"), (col("l_suppkey") + lit(1000000L)).as("p"))
      .distinct()
    val edges = base.select(col("c").as("src"), col("p").as("dst"))
      .unionByName(base.select(col("p").as("src"), col("c").as("dst")))
    // default = the co-partitioned Pregel layout (operators/PageRank):
    // NO broadcast in the iteration — PlanSpec asserts the absence on
    // the live plan. broadcastRank=true remains the small-graph path.
    val pr = graft.operators.PageRank.ranks(edges, iters = 3)
    val out = pr.ranks
      .select(col("node"), round(col("r") * lit(1000.0), 9).as("rank_x1000"))
      .orderBy(col("rank_x1000").desc, col("node"))
      .limit(30)
    val schema = out.schema
    val rows = java.util.Arrays.asList(out.collect(): _*)
    pr.release()
    s.createDataFrame(rows, schema)
  }

  /** The pre-collect iteration plan, exposed for PlanSpec's
    * no-BroadcastExchange assertion (same plan q77 materializes). */
  def q77IterationPlan(s: SparkSession, dir: String): DataFrame = {
    val base = Tables.lineitem(s, dir)
      .join(Tables.orders(s, dir), col("l_orderkey") === col("o_orderkey"))
      .select(col("o_custkey").as("c"), (col("l_suppkey") + lit(1000000L)).as("p"))
      .distinct()
    val edges = base.select(col("c").as("src"), col("p").as("dst"))
      .unionByName(base.select(col("p").as("src"), col("c").as("dst")))
    graft.operators.PageRank.ranks(edges, iters = 3).ranks
  }

  // ---------------------------------------------------------------------
  // q78 — CDC latest-wins upsert (at-least-once stream → exact state)

  /** The merge the reference's delivery model implies: every queue sink
    * is at-least-once (etl-rust retries: `src/output/google_pubsub.rs:137-155`,
    * `apache_kafka.rs:72-88`), so the warehouse dedups to latest-per-key
    * on load. Engine-side: one window over (key) ordered by (ts, id)
    * descending — the deterministic tiebreak makes replays idempotent.
    * Scale: single shuffle on the key; WindowGroupLimit pushes the
    * rn=1 filter into the sort (same shape PlanSpec proves for q15). */
  def q78CdcUpsert(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts").desc, col("event_id").desc)
    Tables.events(s, dir)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1 && col("user_id") < 200)
      .select(col("user_id"), col("event_type").as("last_type"),
        col("value").as("last_value"), col("ts").as("last_ts"))
      .orderBy(col("user_id"))
  }

  val q78Sql: String =
    """SELECT user_id, event_type AS last_type, value AS last_value,
      |  ts AS last_ts
      |FROM (SELECT *, row_number() OVER (
      |    PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
      |  FROM events)
      |WHERE rn = 1 AND user_id < 200 ORDER BY user_id""".stripMargin

  // ---------------------------------------------------------------------
  // q79 — partition-pruned scan over a date-partitioned layout

  /** The 100 TB table layout: data written `partitionBy(year)` (the
    * production form of K7's time-bucketed sink), then queried with a
    * partition predicate — Spark prunes non-matching directories at
    * PLANNING time, so the scan touches one year's files no matter how
    * many years exist. CorpusSpec asserts the pruning on the live plan
    * (1 of N partition dirs read); the oracle recomputes from the flat
    * table, so the hash also proves partitioned write+read loses
    * nothing. Staged dir is cleaned after the aggregate materializes. */
  def q79PartitionPrune(s: SparkSession, dir: String): DataFrame = {
    val tmp = java.nio.file.Files.createTempDirectory("q79_part").toString
    Tables.orders(s, dir)
      .withColumn("o_year", year(col("o_orderdate")))
      .write.mode("overwrite").partitionBy("o_year").parquet(tmp)
    val out = partitionedAgg(s.read.parquet(tmp))
    graft.Staging.deferDelete(out, tmp, "q79")
  }

  /** Shared by the registry query and the spec's plan assertion. */
  def partitionedAgg(partitioned: DataFrame): DataFrame =
    partitioned.filter(col("o_year") === 1995)
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n_orders"),
        Oracle.dsum(col("o_totalprice")).as("total_price"))
      .orderBy(col("o_orderstatus"))

  val q79Sql: String =
    s"""SELECT o_orderstatus, COUNT(*) AS n_orders,
      |  ${Oracle.dsumSql("o_totalprice")} AS total_price
      |FROM orders WHERE year(o_orderdate) = 1995
      |GROUP BY 1 ORDER BY 1""".stripMargin

  // ---------------------------------------------------------------------
  // q80 — quantile binning (feature engineering)

  /** Decile binning of order value — the standard numeric-feature
    * bucketizer. The semantics are SQL ntile(10) over a globally sorted
    * frame with a unique tiebreak (price, then key) — deterministic in
    * both engines — but the PLAN is operators/Ranks.exactNtile: a range
    * shuffle + per-partition local sort + partition-count offsets, NO
    * single-partition window. The DuckDB oracle keeps the literal ntile
    * form, so the green hash row proves the distributed arithmetic IS
    * ntile. RanksSpec additionally asserts (a) the plan contains no
    * global ntile window, and (b) the sketch-cutpoint variant below
    * bins identically at gate scale. */
  def q80QuantileBins(s: SparkSession, dir: String): DataFrame =
    binDeciles(
      graft.operators.Ranks.exactNtile(
        Tables.orders(s, dir).select(col("o_orderkey"), col("o_totalprice")),
        10, "decile", col("o_totalprice"), col("o_orderkey")))

  /** Shared per-decile aggregate (used by both binning plans). */
  private def binDeciles(binned: DataFrame): DataFrame =
    binned.groupBy(col("decile"))
      .agg(count(lit(1)).as("n"),
        Oracle.dsum(col("o_totalprice")).as("bin_total"),
        round(min(col("o_totalprice")), 2).as("lo"),
        round(max(col("o_totalprice")), 2).as("hi"))
      .orderBy(col("decile"))

  /** The sketch path for when even one count-job-per-ntile is too much
    * ceremony: approx_percentile cutpoints (one pass, mergeable sketch)
    * assigned via a codegen'd CASE chain. The k-1 cutpoints are
    * driver-collected (bounded: 9 doubles) and burned into the
    * projection as literals — strictly cheaper than the broadcast range
    * join it replaces (no join at all, and the comparison chain
    * whole-stage-codegens into the scan). Accuracy is set so the sketch
    * is EXACT below ~1M rows; CorpusSpec asserts bin-for-bin equality
    * with the exact plan at that scale. */
  def q80ApproxBins(s: SparkSession, dir: String): DataFrame = {
    val src = Tables.orders(s, dir).select(col("o_orderkey"), col("o_totalprice"))
    val ps = (1 to 9).map(i => i / 10.0).mkString(", ")
    val cuts = src
      .select(expr(s"approx_percentile(o_totalprice, array($ps), 1000000)").as("c"))
      .collect()(0).getSeq[Double](0)
    // right-to-left fold ⇒ the outermost branch tests the SMALLEST cut,
    // so the first (lowest) matching cutpoint wins: a codegen'd
    // when(v<=c1,1).when(v<=c2,2)…otherwise(10) chain
    val firstMatch = cuts.zipWithIndex.reverse.foldLeft(lit(10L)) {
      case (acc, (c, i)) =>
        when(col("o_totalprice") <= lit(c), lit((i + 1).toLong)).otherwise(acc)
    }
    binDeciles(src.withColumn("decile", firstMatch))
  }

  val q80Sql: String =
    s"""SELECT decile, COUNT(*) AS n, ${Oracle.dsumSql("o_totalprice")} AS bin_total,
      |  round(MIN(o_totalprice), 2) AS lo, round(MAX(o_totalprice), 2) AS hi
      |FROM (SELECT CAST(ntile(10) OVER (ORDER BY o_totalprice, o_orderkey) AS BIGINT)
      |    AS decile, o_totalprice FROM orders)
      |GROUP BY 1 ORDER BY 1""".stripMargin

  // ---------------------------------------------------------------------
  // q81 — BPE-ish regex tokenization

  private val bpeRe = "[a-z]+|[0-9]+|[^a-z0-9 ]"

  /** Subword-style token counting: letter runs, digit runs, and single
    * non-alphanumerics as separate tokens (the GPT-2-family pre-split
    * shape), next to the whitespace count q25 uses — the brief's
    * "whitespace + BPE-ish regex" pair. Both engines run the same
    * pattern (Java-regex ∩ RE2 subset). Codegen'd projection; one
    * shuffle for the per-language aggregate. */
  def q81BpeTokens(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(col("lang"),
        size(split(trim(col("text")), " +")).cast("long").as("n_ws"),
        size(regexp_extract_all(lower(col("text")), lit(bpeRe), lit(0)))
          .cast("long").as("n_bpe"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        Oracle.lsum(col("n_ws")).as("ws_tokens"),
        Oracle.lsum(col("n_bpe")).as("bpe_tokens"))
      .orderBy(col("lang"))

  val q81Sql: String =
    s"""SELECT lang, COUNT(*) AS n_docs,
      |  ${Oracle.lsumSql("len(string_split_regex(trim(text), ' +'))")} AS ws_tokens,
      |  ${Oracle.lsumSql(s"len(regexp_extract_all(lower(text), '$bpeRe'))")} AS bpe_tokens
      |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin

  // ---------------------------------------------------------------------
  // q84 — z-ordered layout round-trip

  /** Morton-curve layout under the hash gate: lineitem is rewritten
    * z-ordered on (l_partkey, l_suppkey) (operators/ZOrder — normalized
    * bit interleave, range-partitioned write), read back with a box
    * predicate on BOTH keys, and aggregated; the oracle recomputes from
    * the original layout, so the hash proves the curve reorders without
    * loss. ZOrderSpec measures the skipping benefit itself (per-file
    * bounding boxes); staged dir removed after materialization. */
  def q84ZorderLayout(s: SparkSession, dir: String): DataFrame = {
    val tmp = java.nio.file.Files.createTempDirectory("q84_zorder").toString
    graft.operators.ZOrder.writeZOrdered(
      Tables.lineitem(s, dir), "l_partkey", "l_suppkey", tmp,
      nFiles = 16, bits = 11)
    val out = s.read.parquet(tmp)
      .filter(col("l_partkey") < 500 && col("l_suppkey") < 25)
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n_rows"),
        Oracle.lsum(col("l_partkey")).as("sum_part"),
        Oracle.dsum(col("l_extendedprice")).as("total_price"))
      .orderBy(col("l_returnflag"))
    graft.Staging.deferDelete(out, tmp, "q84")
  }

  val q84Sql: String =
    s"""SELECT l_returnflag, COUNT(*) AS n_rows,
      |  ${Oracle.lsumSql("l_partkey")} AS sum_part,
      |  ${Oracle.dsumSql("l_extendedprice")} AS total_price
      |FROM lineitem WHERE l_partkey < 500 AND l_suppkey < 25
      |GROUP BY 1 ORDER BY 1""".stripMargin

  // ---------------------------------------------------------------------
  // q85 — PMI collocations (phrase mining)

  /** Pointwise mutual information over adjacent token pairs — the
    * classic collocation/phrase-mining score: PMI(a,b) =
    * ln(N·c(ab) / (c(a)·c(b))) with N = total bigram count, c(a)/c(b)
    * = left/right marginal occurrence counts. Bigrams are built with
    * the same zip-of-slices shape as the dedup shingles (codegen'd
    * projection, no window sort); the three counts are hash aggregates
    * with map-side partials. Frequency floor (≥ 20 at sf0.01-scale)
    * keeps rare-pair noise out, mirroring standard collocation
    * extraction. Deterministic: PMI emitted on a 1e-6 grid, ordering
    * with full tiebreaks. Scale: bigram cardinality ≤ token count; the
    * marginal tables are vocabulary-sized → broadcast joins. */
  def q85PmiCollocations(s: SparkSession, dir: String): DataFrame = {
    val toks = Tables.documents(s, dir)
      .select(col("doc_id"), graft.functions.TextFunctions.tokensOf(col("text")).as("t"))
      .filter(size(col("t")) >= 2)
    val n = size(col("t"))
    val bi = toks.select(explode(arrays_zip(
        slice(col("t"), lit(1), n - 1).as("a"),
        slice(col("t"), lit(2), n - 1).as("b"))).as("bg"))
      .select(col("bg.a").as("a"), col("bg.b").as("b"))
      .filter(col("a") =!= "" && col("b") =!= "")
    val pairC = bi.groupBy(col("a"), col("b")).agg(count(lit(1)).as("c_ab"))
    val leftC = bi.groupBy(col("a")).agg(count(lit(1)).as("c_a"))
    val rightC = bi.groupBy(col("b")).agg(count(lit(1)).as("c_b"))
    val total = bi.agg(count(lit(1)).cast("double").as("n_bi"))
    pairC.filter(col("c_ab") >= 20)
      .join(broadcast(leftC), "a").join(broadcast(rightC), "b")
      .crossJoin(broadcast(total))
      .select(col("a"), col("b"), col("c_ab"),
        round(log(col("n_bi") * col("c_ab") / (col("c_a") * col("c_b")).cast("double")), 6)
          .as("pmi"))
      .orderBy(col("pmi").desc, col("a"), col("b"))
      .limit(50)
  }

  val q85Sql: String =
    """WITH toks AS (
      |  SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents
      |  WHERE len(string_split(lower(text), ' ')) >= 2),
      |bi AS (
      |  SELECT t[i] AS a, t[i + 1] AS b
      |  FROM (SELECT t, unnest(range(1, len(t))) AS i FROM toks)
      |  WHERE t[i] <> '' AND t[i + 1] <> ''),
      |pc AS (SELECT a, b, COUNT(*) AS c_ab FROM bi GROUP BY 1, 2),
      |lc AS (SELECT a, COUNT(*) AS c_a FROM bi GROUP BY 1),
      |rc AS (SELECT b, COUNT(*) AS c_b FROM bi GROUP BY 1),
      |n AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n_bi FROM bi)
      |SELECT a, b, c_ab,
      |  round(ln(n_bi * c_ab / CAST(c_a * c_b AS DOUBLE)), 6) AS pmi
      |FROM pc JOIN lc USING (a) JOIN rc USING (b) CROSS JOIN n
      |WHERE c_ab >= 20
      |ORDER BY pmi DESC, a, b LIMIT 50""".stripMargin

  // ---------------------------------------------------------------------
  // q86 — feature-hashed bag-of-words (embedding generation)

  /** The hashing trick (Weinberger et al. '09): project a document's
    * token counts into a fixed 64-bucket vector with dim = hash(token)
    * mod 64 — the standard no-vocabulary featurizer for corpus-scale
    * classifiers/near-dup prefilters. The token hash is the engine's
    * cross-engine portable `tokval` (length/ascii arithmetic —
    * TextFunctions.tokvalSql), so DuckDB reproduces the exact buckets.
    * Long-form output (doc_id, dim, weight): sparse, shuffle-friendly,
    * and the shape a downstream `VectorAssembler`-style op consumes.
    * One explode + one hash aggregate; no vocabulary table at all. */
  def q86FeatureHashing(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.TextFunctions.tokvalSql
    docTerms(Tables.documents(s, dir))
      .filter(col("doc_id") < 30)
      .select(col("doc_id"),
        expr(s"${tokvalSql("term")} % 64").as("dim"))
      .groupBy(col("doc_id"), col("dim"))
      .agg(count(lit(1)).as("weight"))
      .orderBy(col("doc_id"), col("dim"))
  }

  val q86Sql: String = {
    // tokvalSql carries Spark-SQL long-literal suffixes (1000003L);
    // DuckDB has no L suffix — strip it (q26's oracle hand-writes the
    // same formula, this derives it so the two can never drift)
    val tv = graft.functions.TextFunctions.tokvalSql("term")
      .replaceAll("(\\d)L\\b", "$1")
      .replace("substring", "substr")
    s"""WITH t AS (
      |  SELECT doc_id, unnest(string_split(lower(text), ' ')) AS term
      |  FROM documents WHERE doc_id < 30)
      |SELECT doc_id, $tv % 64 AS dim, COUNT(*) AS weight
      |FROM t WHERE term <> '' GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin
  }

  // ---------------------------------------------------------------------
  // q87 — unigram log-probability quality score (perplexity filtering)

  /** The CCNet-style quality signal: score each document by the mean
    * negative log-probability of its tokens under the corpus's own
    * unigram model — wildly improbable token streams (boilerplate,
    * garbage encodings) score high and get filtered. p(t) is estimated
    * on the FULL corpus, the per-doc mean uses Oracle.dsum's decimal
    * grid so the sum of ln's is combine-order-independent (plain
    * avg(double) would hash-mismatch across partitionings). The prob
    * table is vocabulary-sized → broadcast; one aggregate per side. */
  def q87UnigramLogprob(s: SparkSession, dir: String): DataFrame = {
    val terms = docTerms(Tables.documents(s, dir))
    val total = terms.agg(count(lit(1)).cast("double").as("n_total"))
    val probs = terms.groupBy(col("term")).agg(count(lit(1)).as("c"))
      .crossJoin(broadcast(total))
      .select(col("term"), log(col("c") / col("n_total")).as("lnp"))
    terms.filter(col("doc_id") < 200)
      .join(broadcast(probs), "term")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_toks"),
        round(-Oracle.dsum(col("lnp")) / count(lit(1)), 6).as("nll"))
      .orderBy(col("doc_id"))
  }

  val q87Sql: String =
    s"""WITH t AS (
      |  SELECT doc_id, unnest(string_split(lower(text), ' ')) AS term
      |  FROM documents),
      |tt AS (SELECT doc_id, term FROM t WHERE term <> ''),
      |n AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n_total FROM tt),
      |p AS (SELECT term, ln(COUNT(*) / n_total) AS lnp
      |  FROM tt CROSS JOIN n GROUP BY term, n_total)
      |SELECT doc_id, COUNT(*) AS n_toks,
      |  round(-${Oracle.dsumSql("lnp")} / COUNT(*), 6) AS nll
      |FROM tt JOIN p USING (term) WHERE doc_id < 200
      |GROUP BY doc_id ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------------
  // q95 — deterministic mixture resampling (source-weighted data mixing)

  /** The data-mixing step of a training pipeline: re-weight sources to a
    * target mixture where weight w < 1 downsamples and w > 1 UPSAMPLES
    * (epoch replication — e.g. Wikipedia seen 3.1× per epoch while raw
    * web is seen 0.25×). Copy r ∈ [0, ⌈w⌉) of a document survives iff
    * 1000·r + u(doc, r) < 1000·w with u a Knuth multiplicative hash into
    * [0, 1000) — expected copies = w exactly, and the outcome is a pure
    * function of (doc_id, r): any engine, any partitioning, any rerun
    * materializes the SAME mixture (q73's re-derivability argument,
    * extended to replication). Weights here derive from the source index
    * (w = 0.25 + 0.15·k) so the oracle needs no side table. Scale: the
    * explode is scan-local and bounded by ⌈w⌉; nothing shuffles until
    * the per-source audit aggregate. The checksum weights each copy by
    * (r+1) so a survivor swap (copy 0 ↔ copy 2 of different docs) cannot
    * cancel — the oracle verifies WHICH copies survive, not how many. */
  def q95MixtureResample(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .withColumn("w_milli",
        lit(250L) + expr("CAST(substring(source, 4) AS BIGINT)") * lit(150L))
      .withColumn("r",
        explode(expr("sequence(0, CAST((w_milli + 999) div 1000 AS INT) - 1)")))
      .withColumn("u",
        pmod((col("doc_id") + col("r") * lit(1000003L)) * lit(2654435761L), lit(1000L)))
      .filter(col("r") * lit(1000L) + col("u") < col("w_milli"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_out"),
        countDistinct(col("doc_id")).as("n_unique"),
        Oracle.lsum(col("doc_id") * (col("r") + lit(1L))).as("checksum"))
      .orderBy(col("source"))

  val q95Sql: String =
    s"""WITH d AS (
      |  SELECT doc_id, source,
      |    250 + CAST(substr(source, 4) AS BIGINT) * 150 AS w_milli
      |  FROM documents),
      |x AS (
      |  SELECT doc_id, source, w_milli,
      |    unnest(range(0, (w_milli + 999) // 1000)) AS r
      |  FROM d),
      |k AS (
      |  SELECT * FROM x
      |  WHERE r * 1000 + ((doc_id + r * 1000003) * 2654435761) % 1000 < w_milli)
      |SELECT source, COUNT(*) AS n_out, COUNT(DISTINCT doc_id) AS n_unique,
      |  ${Oracle.lsumSql("doc_id * (r + 1)")} AS checksum
      |FROM k GROUP BY source ORDER BY source""".stripMargin

  // ---------------------------------------------------------------------
  // q94 — interpolated bigram log-probability (LM quality scoring)

  /** The step up from q87's unigram model: score each document by the
    * mean negative log-probability of its token TRANSITIONS under a
    * Jelinek-Mercer-interpolated bigram model trained on the corpus
    * itself — p(v|u) = λ·c(uv)/c(u·) + (1−λ)·c(v)/N. This is the
    * KenLM-perplexity shape CCNet actually filters with (bigram
    * transitions catch shuffled-token garbage that unigram mass cannot).
    * Interpolation (λ = 0.7) keeps every probability nonzero without
    * discount bookkeeping, and stays exactly reproducible cross-engine:
    * fixed-order double arithmetic, ln on a 1e-6 output grid, decimal
    * ln-sum. Scale: the unigram/context tables are vocabulary-sized →
    * broadcast; the bigram-count join keys (a, b) are co-keyed with the
    * bigram stream itself → hash join that AQE may broadcast at small
    * scale but shuffles co-partitioned at corpus scale (NOT pinned
    * broadcast — the bigram vocabulary grows with the corpus). */
  def q94BigramLogprob(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val terms = docTerms(docs)
    val total = terms.agg(count(lit(1)).cast("double").as("n_total"))
    val uni = terms.groupBy(col("term").as("b")).agg(count(lit(1)).as("c_b"))
    val toks = docs.select(col("doc_id"),
      graft.functions.TextFunctions.tokensOf(col("text")).as("t"))
    val n = size(col("t"))
    val bi = toks.filter(n >= 2)
      .select(col("doc_id"), explode(arrays_zip(
        slice(col("t"), lit(1), n - 1).as("a"),
        slice(col("t"), lit(2), n - 1).as("b"))).as("bg"))
      .select(col("doc_id"), col("bg.a").as("a"), col("bg.b").as("b"))
      .filter(col("a") =!= "" && col("b") =!= "")
    val biC = bi.groupBy(col("a"), col("b")).agg(count(lit(1)).as("c_ab"))
    val ctxC = bi.groupBy(col("a")).agg(count(lit(1)).as("c_a"))
    bi.filter(col("doc_id") < 200)
      .join(biC, Seq("a", "b"))
      .join(broadcast(ctxC), "a")
      .join(broadcast(uni), "b")
      .crossJoin(broadcast(total))
      .withColumn("lnp",
        log(lit(0.7) * (col("c_ab").cast("double") / col("c_a")) +
            lit(0.3) * (col("c_b").cast("double") / col("n_total"))))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bi"),
        round(-Oracle.dsum(col("lnp")) / count(lit(1)), 6).as("nll"))
      .orderBy(col("doc_id"))
  }

  val q94Sql: String =
    s"""WITH toks AS (
      |  SELECT doc_id, string_split(lower(text), ' ') AS tk FROM documents),
      |ut AS (SELECT doc_id, term FROM
      |  (SELECT doc_id, unnest(tk) AS term FROM toks) WHERE term <> ''),
      |n AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n_total FROM ut),
      |uc AS (SELECT term AS b, COUNT(*) AS c_b FROM ut GROUP BY 1),
      |bi AS (SELECT doc_id, tk[i] AS a, tk[i + 1] AS b
      |  FROM (SELECT doc_id, tk, unnest(range(1, len(tk))) AS i FROM toks
      |        WHERE len(tk) >= 2)
      |  WHERE tk[i] <> '' AND tk[i + 1] <> ''),
      |bc AS (SELECT a, b, COUNT(*) AS c_ab FROM bi GROUP BY 1, 2),
      |cc AS (SELECT a, COUNT(*) AS c_a FROM bi GROUP BY 1),
      |sc AS (
      |  SELECT bi.doc_id,
      |    ln(CAST(0.7 AS DOUBLE) * (CAST(c_ab AS DOUBLE) / c_a)
      |       + CAST(0.3 AS DOUBLE) * (CAST(c_b AS DOUBLE) / n_total)) AS lnp
      |  FROM bi JOIN bc USING (a, b) JOIN cc USING (a)
      |    JOIN uc USING (b) CROSS JOIN n
      |  WHERE bi.doc_id < 200)
      |SELECT doc_id, COUNT(*) AS n_bi,
      |  round(-${Oracle.dsumSql("lnp")} / COUNT(*), 6) AS nll
      |FROM sc GROUP BY doc_id ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------------
  // q91 — repetition-based quality filters (Gopher-style)

  /** The Gopher/C4 family of repetition filters (Rae et al. '21 §A1.1),
    * adapted to token granularity: documents dominated by repeated
    * tokens or a single repeated n-gram are boilerplate/spam and get
    * dropped before training. Three signals per document —
    * duplicate-token fraction (1 − distinct/total), top-unigram mass
    * and top-bigram mass (count of the most frequent 1-/2-gram over the
    * doc's gram total; `max` of counts, so ties can't destabilize the
    * result) — plus the keep/drop verdict. Everything is keyed by
    * doc_id: two partial-aggregate chains (unigram, bigram via the q85
    * zip-of-slices shape) and one co-keyed join — per-doc work only,
    * no corpus-wide state, linear at any scale. */
  /** Per-doc unigram stats off one (doc, term) aggregate chain:
    * (doc_id, n_toks, n_distinct, max_c, n_term_chars). ONE definition
    * feeds both the q91 Gopher filters and q136's cascade gates —
    * unused columns prune out of each consumer's plan. */
  private def unigramStats(docs: DataFrame): DataFrame =
    docTerms(docs)
      .groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("c"))
      .groupBy(col("doc_id"))
      .agg(sum(col("c")).cast("long").as("n_toks"),
        count(lit(1)).as("n_distinct"),
        max(col("c")).as("max_c"),
        sum(length(col("term")).cast("long") * col("c")).cast("long")
          .as("n_term_chars"))

  def q91RepetitionFilters(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val uniS = unigramStats(docs)
    val toks = docs.select(col("doc_id"),
      graft.functions.TextFunctions.tokensOf(col("text")).as("t"))
    val n = size(col("t"))
    val biS = toks.filter(size(col("t")) >= 2)
      .select(col("doc_id"), explode(arrays_zip(
        slice(col("t"), lit(1), n - 1).as("a"),
        slice(col("t"), lit(2), n - 1).as("b"))).as("bg"))
      .select(col("doc_id"), col("bg.a").as("a"), col("bg.b").as("b"))
      .filter(col("a") =!= "" && col("b") =!= "")
      .groupBy(col("doc_id"), col("a"), col("b")).agg(count(lit(1)).as("c"))
      .groupBy(col("doc_id"))
      .agg(sum(col("c")).cast("long").as("n_bi"), max(col("c")).as("max_bi"))
    uniS.join(biS, "doc_id")
      .select(col("doc_id"), col("n_toks"),
        round(lit(1d) - col("n_distinct").cast("double") / col("n_toks"), 6)
          .as("dup_tok_frac"),
        round(col("max_c").cast("double") / col("n_toks"), 6).as("top_tok_frac"),
        round(col("max_bi").cast("double") / col("n_bi"), 6).as("top_bigram_frac"))
      .withColumn("keep",
        col("dup_tok_frac") <= 0.6 && col("top_tok_frac") <= 0.15 &&
          col("top_bigram_frac") <= 0.1)
      .orderBy(col("doc_id"))
  }

  val q91Sql: String =
    """WITH toks AS (
      |  SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents),
      |uu AS (SELECT doc_id, unnest(t) AS term FROM toks),
      |uc AS (SELECT doc_id, term, COUNT(*) AS c FROM uu
      |  WHERE term <> '' GROUP BY 1, 2),
      |us AS (SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_toks,
      |  COUNT(*) AS n_distinct, MAX(c) AS max_c FROM uc GROUP BY 1),
      |bi AS (SELECT doc_id, t[i] AS a, t[i + 1] AS b
      |  FROM (SELECT doc_id, t, unnest(range(1, len(t))) AS i FROM toks
      |        WHERE len(t) >= 2)
      |  WHERE t[i] <> '' AND t[i + 1] <> ''),
      |bc AS (SELECT doc_id, a, b, COUNT(*) AS c FROM bi GROUP BY 1, 2, 3),
      |bs AS (SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_bi,
      |  MAX(c) AS max_bi FROM bc GROUP BY 1),
      |f AS (SELECT doc_id, n_toks,
      |  round(1 - CAST(n_distinct AS DOUBLE) / n_toks, 6) AS dup_tok_frac,
      |  round(CAST(max_c AS DOUBLE) / n_toks, 6) AS top_tok_frac,
      |  round(CAST(max_bi AS DOUBLE) / n_bi, 6) AS top_bigram_frac
      |  FROM us JOIN bs USING (doc_id))
      |SELECT doc_id, n_toks, dup_tok_frac, top_tok_frac, top_bigram_frac,
      |  (dup_tok_frac <= 0.6 AND top_tok_frac <= 0.15
      |   AND top_bigram_frac <= 0.1) AS keep
      |FROM f ORDER BY doc_id""".stripMargin

  val q77Sql: String = {
    val d = "CAST(0.85 AS DOUBLE)"
    // every round CTE is MATERIALIZED: the iteration chain otherwise
    // re-inlines its whole prefix at each reference (the q186 CTE-
    // inlining hazard), and `e`/`deg` are re-read by all three rounds
    def iter(prev: String, next: String) =
      s"""$next AS MATERIALIZED (
        |  SELECT e.dst AS node,
        |    (CAST(1 AS DOUBLE) - $d) / n.n + $d * CAST(SUM(
        |      CAST($prev.r / deg.od AS DECIMAL(15,14))) AS DOUBLE) AS r
        |  FROM e JOIN $prev ON e.src = $prev.node
        |    JOIN deg ON e.src = deg.src CROSS JOIN n
        |  GROUP BY e.dst, n.n)""".stripMargin
    s"""WITH base AS MATERIALIZED (
      |  SELECT DISTINCT o_custkey AS c, l_suppkey + 1000000 AS p
      |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
      |e AS MATERIALIZED (SELECT c AS src, p AS dst FROM base
      |  UNION ALL SELECT p AS src, c AS dst FROM base),
      |deg AS MATERIALIZED (SELECT src, COUNT(*) AS od FROM e GROUP BY 1),
      |n AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM deg),
      |r0 AS (SELECT src AS node, CAST(1 AS DOUBLE) / n.n AS r FROM deg CROSS JOIN n),
      |${iter("r0", "r1")},
      |${iter("r1", "r2")},
      |${iter("r2", "r3")}
      |SELECT node, round(r * CAST(1000 AS DOUBLE), 9) AS rank_x1000
      |FROM r3 ORDER BY rank_x1000 DESC, node LIMIT 30""".stripMargin
  }

  // ---------------------------------------------------------------------
  // q106 — sequence packing (training-example assembly)

  /** Pack the tokenized corpus into fixed-length (L = 512) training
    * sequences — the example-packing pass between a cleaned corpus and
    * a dataloader: token streams concatenate in doc order and cut at
    * every L tokens, docs straddling a boundary contribute to both
    * packs. Emitted per (shard, pack): contributing-doc count and the
    * pack's filled token mass (== L except each shard's tail pack).
    *
    * Scale: packing is inherently sequential, so it runs PER SHARD
    * (doc_id mod 64) — the production layout: one worker packs one
    * shard, no global order exists, and the window sort is
    * shard-partitioned (never the q80 single-partition funnel). Doc →
    * pack-range arithmetic is a running-sum window plus a tiny
    * `sequence` explode (a doc spans ⌈tok/L⌉+1 packs at most); all
    * arithmetic is exact integers. */
  def q106SequencePacking(s: SparkSession, dir: String): DataFrame = {
    val L = 512
    val toks = Tables.documents(s, dir)
      .select(col("doc_id"), (col("doc_id") % 64).as("shard"),
        size(graft.functions.TextFunctions.tokensOf(col("text"))).cast("long").as("tok"))
      .filter(col("tok") >= 1)
    val w = Window.partitionBy(col("shard")).orderBy(col("doc_id"))
    val spans = toks
      .withColumn("cum", sum(col("tok")).over(w))
      .withColumn("start", col("cum") - col("tok"))
      .select(col("shard"), col("tok"), col("cum"), col("start"),
        explode(sequence(floor(col("start") / L),
          floor((col("cum") - 1) / L))).as("pack_id"))
    spans.groupBy(col("shard"), col("pack_id"))
      .agg(count(lit(1)).as("n_docs"),
        sum(least(col("cum"), (col("pack_id") + 1) * L) -
          greatest(col("start"), col("pack_id") * L)).as("n_tokens"))
      .orderBy(col("shard"), col("pack_id"))
  }

  // ---------------------------------------------------------------------
  // q111 — dedup survivor selection (keep the best doc per cluster)

  /** The decision step real dedup ends with: within every near-dup
    * cluster (q70's component assignment, memoized), KEEP the
    * highest-quality member — quality = document length here, the
    * usual "longest version wins" heuristic — and DROP the rest.
    * Deterministic tiebreak on doc_id.
    *
    * Shape: the cluster assignment joins doc metadata (broadcast-able:
    * one row per clustered doc), and the per-cluster argmax is a
    * window over cluster_id — clusters are near-dup groups, inherently
    * small, so the partitions are bounded regardless of corpus size
    * (contrast q107's few-huge-groups problem). */
  def q111SurvivorSelection(s: SparkSession, dir: String): DataFrame = {
    val clusters = q70DedupClusters(s, dir) // memoized inside q70
    val quality = Tables.documents(s, dir).select(col("doc_id"), col("n_chars"))
    val w = Window.partitionBy(col("cluster_id"))
      .orderBy(col("n_chars").desc, col("doc_id"))
    clusters.join(quality, "doc_id")
      .withColumn("keep", row_number().over(w) === 1)
      .select(col("doc_id"), col("cluster_id"), col("n_chars"), col("keep"))
      .orderBy(col("doc_id"))
  }

  /** Oracle: the shared closure CTE + the same argmax on top. */
  val q111Sql: String =
    s"""$clustersCteSql
      |SELECT c.doc_id, c.cluster_id, d.n_chars,
      |  ROW_NUMBER() OVER (PARTITION BY c.cluster_id
      |    ORDER BY d.n_chars DESC, c.doc_id) = 1 AS keep
      |FROM clusters c JOIN documents d ON c.doc_id = d.doc_id
      |ORDER BY c.doc_id""".stripMargin

  // ---------------------------------------------------------------------
  // q107 — per-group percentile-rank normalization (feature scaling)

  /** Within-language percentile-rank and decile of document length —
    * the grouped rank-normalization every mixed-corpus quality score
    * needs (a "long" Chinese doc and a "long" English doc sit at the
    * same percentile even when their raw lengths differ by 3×).
    *
    * Scale: `Window.partitionBy(lang)` would be five single-task sorts
    * over a 100 TB corpus (few, huge groups — the q80 funnel in
    * grouped form), so ranks come from `Ranks.withGroupRowNumber`:
    * sketch-bucketed grouped ranking where no task ever sorts more
    * than one (group, bucket) cell. percent_rank and ntile are then
    * ARITHMETIC over (rank, group size) — (r−1)/(n−1) and the exact
    * long-division tile formula — so the oracle keeps the literal SQL
    * window forms and the green hash row proves the distributed
    * pipeline computes exactly them (RanksSpec asserts the same
    * equality against Spark's own windows). */
  def q107GroupRankNormalize(s: SparkSession, dir: String): DataFrame = {
    val base = Tables.documents(s, dir)
      .select(col("doc_id"), col("lang"), col("n_chars"))
    val ranked = graft.operators.Ranks.withGroupRowNumber(
      base, col("lang"), "__r", col("n_chars"), col("doc_id"))
    val sizes = base.groupBy(col("lang")).agg(count(lit(1)).as("__n"))
    ranked.join(broadcast(sizes), "lang")
      .withColumn("pr", when(col("__n") === 1, lit(0.0))
        .otherwise((col("__r") - 1).cast("double") / (col("__n") - 1)))
      .withColumn("decile", expr(
        """CASE WHEN __n DIV 10 = 0 THEN __r
          |  WHEN __r <= (__n % 10) * (__n DIV 10 + 1)
          |    THEN (__r + __n DIV 10) DIV (__n DIV 10 + 1)
          |  ELSE __n % 10 +
          |    ((__r - (__n % 10) * (__n DIV 10 + 1) + __n DIV 10 - 1)
          |      DIV (__n DIV 10))
          |END""".stripMargin).cast("int"))
      .filter(col("doc_id") < 150)
      .select(col("doc_id"), col("lang"), col("n_chars"),
        round(col("pr"), 6).as("pct_rank"), col("decile"))
      .orderBy(col("doc_id"))
  }

  // ---------------------------------------------------------------------
  // q131 — token-budget corpus selection (greedy per-source prefix)

  /** Data selection under a token budget: within each source, rank
    * documents by quality (n_chars as the stand-in score, doc_id as
    * the deterministic tiebreak) and admit them greedily until the
    * source's running token total exceeds the budget — the curation
    * pass that turns a raw crawl into a fixed-size training mixture
    * with per-source caps. Token counts are exact non-empty
    * whitespace splits (the q25 convention). Output is the per-source
    * admission report: candidates vs selected, tokens total vs used.
    *
    * Shape: one ranking/cumsum window partitioned by source, one
    * aggregate. Partition count scales with the source (domain)
    * cardinality — the natural axis in a web corpus; for a few-source
    * corpus the ranking composes with `operators/Ranks` bucketing the
    * same way q80/q107 do. */
  def q131TokenBudget(s: SparkSession, dir: String): DataFrame = {
    val budget = 600L
    val docs = Tables.documents(s, dir)
      .select(col("doc_id"), col("source"), col("n_chars"),
        size(filter(split(col("text"), " "), t => t =!= ""))
          .cast("long").as("tokens"))
    val bySrc = Window.partitionBy(col("source"))
      .orderBy(col("n_chars").desc, col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    docs.withColumn("cum_tokens", sum(col("tokens")).over(bySrc))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_candidates"),
        sum(col("tokens")).as("tokens_total"),
        sum(when(col("cum_tokens") <= budget, 1L).otherwise(0L)).as("n_selected"),
        sum(when(col("cum_tokens") <= budget, col("tokens")).otherwise(0L))
          .as("tokens_used"))
      .orderBy(col("source"))
  }

  val q131Sql: String =
    """WITH d AS (
      |  SELECT doc_id, source, n_chars,
      |    CAST(len(list_filter(string_split(text, ' '), x -> x <> '')) AS BIGINT)
      |      AS tokens
      |  FROM documents),
      |r AS (
      |  SELECT *, SUM(tokens) OVER (PARTITION BY source
      |    ORDER BY n_chars DESC, doc_id ROWS UNBOUNDED PRECEDING) AS cum_tokens
      |  FROM d)
      |SELECT source, COUNT(*) AS n_candidates,
      |  CAST(SUM(tokens) AS BIGINT) AS tokens_total,
      |  CAST(SUM(CASE WHEN cum_tokens <= 600 THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_selected,
      |  CAST(SUM(CASE WHEN cum_tokens <= 600 THEN tokens ELSE 0 END) AS BIGINT)
      |    AS tokens_used
      |FROM r GROUP BY 1 ORDER BY 1""".stripMargin

  val q107Sql: String =
    """SELECT doc_id, lang, n_chars, round(pr, 6) AS pct_rank, decile FROM (
      |  SELECT doc_id, lang, n_chars,
      |    percent_rank() OVER (PARTITION BY lang ORDER BY n_chars, doc_id) AS pr,
      |    ntile(10) OVER (PARTITION BY lang ORDER BY n_chars, doc_id) AS decile
      |  FROM documents)
      |WHERE doc_id < 150 ORDER BY doc_id""".stripMargin

  val q106Sql: String =
    """WITH t AS (
      |  SELECT doc_id, doc_id % 64 AS shard,
      |    CAST(len(string_split(lower(text), ' ')) AS BIGINT) AS tok
      |  FROM documents
      |  WHERE len(string_split(lower(text), ' ')) >= 1),
      |c AS (
      |  SELECT shard, tok,
      |    CAST(SUM(tok) OVER (PARTITION BY shard ORDER BY doc_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
      |  FROM t),
      |s AS (SELECT shard, tok, cum, cum - tok AS strt FROM c),
      |x AS (
      |  SELECT shard, tok, cum, strt,
      |    unnest(generate_series(strt // 512, (cum - 1) // 512)) AS pack_id
      |  FROM s)
      |SELECT shard, pack_id, COUNT(*) AS n_docs,
      |  CAST(SUM(least(cum, (pack_id + 1) * 512) -
      |    greatest(strt, pack_id * 512)) AS BIGINT) AS n_tokens
      |FROM x GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  // ---------------------------------------------------------------------
  // q134 — DSIR-style importance-weighted data selection

  /** Data Selection via Importance Resampling (Xie et al., DSIR),
    * relationally: score every document by how much more likely its
    * tokens are under a TARGET distribution (here the `lang = 'en'`
    * slice standing in for "high-quality domain") than under the RAW
    * corpus distribution, then keep the top-k. Per-term weight is the
    * add-1-smoothed log-likelihood ratio
    * ln((ct+1)/(Nt+V)) − ln((cr+1)/(Nr+V)), rounded to the 1e-6 grid
    * (q71's ln-ulp stance); the per-doc score sums those weights over
    * token POSITIONS with Oracle.dsum's decimal grid so the result is
    * combine-order-independent and hash-stable.
    *
    * Shape: ONE corpus scan builds both distributions — raw count and
    * conditional target count ride the same vocab aggregate, whose
    * rollup also yields all three normalizing constants; the weight
    * table is vocabulary-sized → broadcast (q87's argument); the
    * scoring pass is a broadcast join + one doc-keyed aggregate;
    * top-k is TakeOrdered, never a global sort. At 100 TB the only
    * large shuffle is the map-side-combinable vocab aggregate. */
  def q134DsirSelect(s: SparkSession, dir: String): DataFrame = {
    val terms = graft.functions.TextFunctions.langTerms(Tables.documents(s, dir))
    // ONE vocab aggregate carries both distributions (raw count + a
    // conditional target count) and the normalizing constants derive
    // from it — the corpus scans are the scoring pass and this one,
    // not four
    val counts = terms.groupBy(col("term")).agg(
      count(lit(1)).as("cr"),
      sum(when(col("lang") === "en", 1L).otherwise(0L)).as("ct"))
    val consts = counts.agg(
      graft.Oracle.lsum(col("cr")).as("nr"),
      graft.Oracle.lsum(col("ct")).as("nt"),
      count(lit(1)).as("v"))
    val weights = counts
      .crossJoin(broadcast(consts))
      .select(col("term"),
        round(log((col("ct") + 1) / (col("nt") + col("v")).cast("double"))
            - log((col("cr") + 1) / (col("nr") + col("v")).cast("double")),
          6).as("lr"))
    terms.select(col("doc_id"), col("term"))
      .join(broadcast(weights), "term")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_toks"),
        Oracle.dsum(col("lr")).as("dsir_score"))
      .orderBy(col("dsir_score").desc, col("doc_id"))
      .limit(25)
  }

  val q134Sql: String =
    s"""WITH t2 AS (
      |  SELECT doc_id, term FROM (
      |    SELECT doc_id, unnest(string_split(lower(text), ' ')) AS term
      |    FROM documents)
      |  WHERE term <> ''),
      |lng AS (SELECT doc_id, lang FROM documents),
      |raw AS (SELECT term, COUNT(*) AS cr FROM t2 GROUP BY 1),
      |tgt AS (SELECT t2.term, COUNT(*) AS ct FROM t2 JOIN lng USING (doc_id)
      |        WHERE lng.lang = 'en' GROUP BY 1),
      |c AS (SELECT (SELECT COUNT(*) FROM t2) AS nr,
      |             (SELECT COUNT(*) FROM t2 JOIN lng USING (doc_id)
      |              WHERE lng.lang = 'en') AS nt,
      |             (SELECT COUNT(*) FROM raw) AS v),
      |w AS (SELECT r.term,
      |        round(ln((COALESCE(t.ct, 0) + 1) / CAST(c.nt + c.v AS DOUBLE))
      |            - ln((r.cr + 1) / CAST(c.nr + c.v AS DOUBLE)), 6) AS lr
      |      FROM raw r LEFT JOIN tgt t USING (term) CROSS JOIN c)
      |SELECT d.doc_id, COUNT(*) AS n_toks,
      |  ${Oracle.dsumSql("lr")} AS dsir_score
      |FROM t2 d JOIN w USING (term)
      |GROUP BY 1 ORDER BY dsir_score DESC, doc_id LIMIT 25""".stripMargin

  // ---------------------------------------------------------------------
  // q135 — per-cluster capped survivor selection (diversity cap)

  /** Near-duplicate CLUSTER capping: where q111 keeps exactly one
    * survivor per duplicate cluster, this keeps the top-C (C = 2) by
    * quality (n_chars desc, doc_id tiebreak) — the mixture-shaping
    * policy that bounds how much any one boilerplate family can
    * contribute to a training set without deleting it outright.
    * Reuses the memoized q70 component assignment (the expensive
    * LSH + connected-components pass runs once per session/dir
    * whichever cluster query fires first); the cap itself is one
    * cluster-partitioned row_number window over the cluster-sized
    * assignment table — partitions are duplicate clusters, so the
    * window never sees a partition larger than the biggest duplicate
    * family even at corpus scale. */
  def q135ClusterCap(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir).select(col("doc_id"), col("n_chars"))
    q70DedupClusters(s, dir)
      .join(docs, "doc_id")
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("cluster_id"))
          .orderBy(col("n_chars").desc, col("doc_id"))))
      .filter(col("rk") <= 2)
      .select(col("cluster_id"), col("doc_id"), col("n_chars"),
        col("rk").cast("long").as("rk"))
      .orderBy(col("cluster_id"), col("rk"))
  }

  val q135Sql: String =
    s"""$clustersCteSql,
      |capped AS (
      |  SELECT c.cluster_id, c.doc_id, d.n_chars,
      |    CAST(ROW_NUMBER() OVER (PARTITION BY c.cluster_id
      |      ORDER BY d.n_chars DESC, c.doc_id) AS BIGINT) AS rk
      |  FROM clusters c JOIN documents d USING (doc_id))
      |SELECT cluster_id, doc_id, n_chars, rk FROM capped
      |WHERE rk <= 2 ORDER BY cluster_id, rk""".stripMargin

  // ---------------------------------------------------------------------
  // q136 — filter-cascade attrition report (curation funnel)

  /** The FineWeb/RefinedWeb-style filter CASCADE: quality rules applied
    * in a fixed order, reported as a funnel — per stage, how many docs
    * entered, were dropped, and survived. This is the artifact a
    * curation pipeline actually ships to its operators: it shows which
    * rule pays and which is dead weight. Stages: minimum length →
    * language allowlist → duplicate-token fraction → top-token mass →
    * mean word length (the q91 Gopher signals re-used as gates).
    *
    * Every threshold is evaluated in INTEGER arithmetic (e.g.
    * dup_tok_frac ≤ 0.6 ⟺ 5·n_distinct ≥ 2·n_toks), the q126/q130
    * fixed-point stance: no FP boundary can flip a verdict between
    * engines. Shape: one per-doc aggregate chain (linear, co-keyed),
    * one left join back to the doc spine (token-less docs fail the
    * token gates rather than vanish from the funnel), ONE global
    * 1-row aggregate of 6 conditional counters, stacked into 5 report
    * rows. The single-partition exchange carries exactly one row —
    * the q35-throughput precedent, not a scale hazard. */
  def q136FilterCascade(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val sig = unigramStats(docs)
    val f = docs.select(col("doc_id"), col("lang"), col("n_chars"))
      .join(sig, Seq("doc_id"), "left")
      .select(
        (col("n_chars") >= 100).as("f1"),
        col("lang").isin("en", "de", "fr", "es").as("f2"),
        coalesce(col("n_distinct") * 5 >= col("n_toks") * 2, lit(false)).as("f3"),
        coalesce(col("max_c") * 20 <= col("n_toks") * 3, lit(false)).as("f4"),
        coalesce(col("n_term_chars") >= col("n_toks") * 3 &&
          col("n_term_chars") <= col("n_toks") * 12, lit(false)).as("f5"))
    f.agg(
        count(lit(1)).as("c0"),
        sum(when(col("f1"), 1L).otherwise(0L)).as("c1"),
        sum(when(col("f1") && col("f2"), 1L).otherwise(0L)).as("c2"),
        sum(when(col("f1") && col("f2") && col("f3"), 1L).otherwise(0L)).as("c3"),
        sum(when(col("f1") && col("f2") && col("f3") && col("f4"), 1L)
          .otherwise(0L)).as("c4"),
        sum(when(col("f1") && col("f2") && col("f3") && col("f4") && col("f5"), 1L)
          .otherwise(0L)).as("c5"))
      .select(expr(
        """stack(5,
          |  1, 'min_chars',      c0, c1,
          |  2, 'lang_allowed',   c1, c2,
          |  3, 'dup_token_frac', c2, c3,
          |  4, 'top_token_mass', c3, c4,
          |  5, 'mean_word_len',  c4, c5) AS (stage, rule, n_in, n_out)""".stripMargin))
      .select(col("stage"), col("rule"), col("n_in"),
        (col("n_in") - col("n_out")).as("n_dropped"), col("n_out"))
      .orderBy(col("stage"))
  }

  val q136Sql: String =
    """WITH uc AS (
      |  SELECT doc_id, term, COUNT(*) AS c FROM (
      |    SELECT doc_id, unnest(string_split(lower(text), ' ')) AS term
      |    FROM documents)
      |  WHERE term <> '' GROUP BY 1, 2),
      |sig AS (
      |  SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_toks,
      |    COUNT(*) AS n_distinct, MAX(c) AS max_c,
      |    CAST(SUM(len(term) * c) AS BIGINT) AS n_term_chars
      |  FROM uc GROUP BY 1),
      |f AS (
      |  SELECT (d.n_chars >= 100) AS f1,
      |    (d.lang IN ('en', 'de', 'fr', 'es')) AS f2,
      |    COALESCE(s.n_distinct * 5 >= s.n_toks * 2, false) AS f3,
      |    COALESCE(s.max_c * 20 <= s.n_toks * 3, false) AS f4,
      |    COALESCE(s.n_term_chars >= s.n_toks * 3
      |      AND s.n_term_chars <= s.n_toks * 12, false) AS f5
      |  FROM documents d LEFT JOIN sig s USING (doc_id)),
      |agg AS (
      |  SELECT COUNT(*) AS c0,
      |    CAST(SUM(CASE WHEN f1 THEN 1 ELSE 0 END) AS BIGINT) AS c1,
      |    CAST(SUM(CASE WHEN f1 AND f2 THEN 1 ELSE 0 END) AS BIGINT) AS c2,
      |    CAST(SUM(CASE WHEN f1 AND f2 AND f3 THEN 1 ELSE 0 END) AS BIGINT) AS c3,
      |    CAST(SUM(CASE WHEN f1 AND f2 AND f3 AND f4 THEN 1 ELSE 0 END)
      |      AS BIGINT) AS c4,
      |    CAST(SUM(CASE WHEN f1 AND f2 AND f3 AND f4 AND f5 THEN 1 ELSE 0 END)
      |      AS BIGINT) AS c5
      |  FROM f),
      |r AS (
      |  SELECT 1 AS stage, 'min_chars' AS rule, c0 AS n_in, c1 AS n_out FROM agg
      |  UNION ALL SELECT 2, 'lang_allowed', c1, c2 FROM agg
      |  UNION ALL SELECT 3, 'dup_token_frac', c2, c3 FROM agg
      |  UNION ALL SELECT 4, 'top_token_mass', c3, c4 FROM agg
      |  UNION ALL SELECT 5, 'mean_word_len', c4, c5 FROM agg)
      |SELECT stage, rule, n_in, n_in - n_out AS n_dropped, n_out
      |FROM r ORDER BY stage""".stripMargin

  // ---------------------------------------------------------------------
  // q138 — dedup-method overlap matrix (strategy comparison)

  /** Which dedup signal catches what: per document, three boolean
    * verdicts — EXACT (its sha256 group has ≥2 members), NEAR (it has
    * at least one Jaccard ≥ 0.8 partner, i.e. appears in the memoized
    * q70 component assignment), SPAN (at least half its 8-token span
    * positions recur in another doc, the q133 signal) — folded into
    * the 2×2×2 contingency table. This is the report that justifies a
    * pipeline's dedup budget: exact ⊂ near on this corpus, and SPAN
    * catches partial-overlap docs neither whole-doc method flags.
    *
    * Shape: three per-doc passes (sha group-count join, broadcast-able
    * cluster-membership join off the memo, q133's linear span audit),
    * one co-keyed flag join, one 8-row aggregate. Each pass is the
    * documented scale shape of its family; nothing here introduces a
    * new join geometry. */
  def q138DedupOverlap(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    // groupBy + equi-join, not a window over the sha partition: partial
    // aggregation collapses a 10M-copy dup family map-side and AQE can
    // split the skewed join partition (q133's argument)
    val hashed = docs.select(col("doc_id"), sha2(col("text"), 256).as("h"))
    val ex = hashed.join(
        hashed.groupBy(col("h")).agg(count(lit(1)).as("gsz")), "h")
      .select(col("doc_id"), (col("gsz") >= 2).as("is_exact"))
    val near = q70DedupClusters(s, dir)
      .select(col("doc_id"), lit(true).as("is_near"))
    val span = LlmQueries.spanAudit(s, dir)
      .select(col("doc_id"),
        (col("n_dup_spans") * 2 >= col("n_spans") && col("n_spans") > 0)
          .as("is_span"))
    ex.join(near, Seq("doc_id"), "left")
      .join(span, Seq("doc_id"), "left")
      .select(col("is_exact"),
        coalesce(col("is_near"), lit(false)).as("is_near"),
        coalesce(col("is_span"), lit(false)).as("is_span"))
      .groupBy(col("is_exact"), col("is_near"), col("is_span"))
      .agg(count(lit(1)).as("n_docs"))
      .orderBy(col("is_exact"), col("is_near"), col("is_span"))
  }

  val q138Sql: String =
    s"""$clustersCteSql,
      |ex AS (
      |  SELECT doc_id,
      |    COUNT(*) OVER (PARTITION BY sha256(text)) >= 2 AS is_exact
      |  FROM documents),
      |${LlmQueries.spanAuditCtesSql},
      |flags AS (
      |  SELECT ex.is_exact,
      |    COALESCE(c.doc_id IS NOT NULL, false) AS is_near,
      |    COALESCE(p.n_dup_spans * 2 >= p.n_spans AND p.n_spans > 0, false)
      |      AS is_span
      |  FROM ex LEFT JOIN clusters c USING (doc_id)
      |    LEFT JOIN spstat p USING (doc_id))
      |SELECT is_exact, is_near, is_span, COUNT(*) AS n_docs
      |FROM flags GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin

  // ---------------------------------------------------------------------
  // q142 — Count-Min sketch frequency estimation (audited)

  /** The mergeable frequency sketch (Cormode & Muthukrishnan): a d=4 ×
    * w=256 counter matrix where every term adds its count to one cell
    * per hash row, and est(term) = min over rows — never an
    * underestimate, overestimate bounded by collisions. CM sketches
    * are THE shuffle-friendly frequency structure at 100 TB: the whole
    * matrix is 1024 cells regardless of vocabulary size, built with
    * map-side partials in one pass, mergeable across partitions/days
    * by cell-wise addition. The audit emits, for the top-20 exact
    * terms, exact count vs CM estimate vs overestimate — the report
    * that tells an operator whether w is sized right.
    *
    * Everything is deterministic and exactly oracle-able: term →
    * integer via the q26 portable token value, rows hash with the q22
    * affine family, so DuckDB reproduces the identical matrix (a
    * sketch whose cells cannot be reproduced is untestable).
    * Shape: one vocab aggregate (shared by exact counts and cell
    * sums), the 1024-cell matrix broadcasts, top-20 via TakeOrdered. */
  def q142CmSketch(s: SparkSession, dir: String): DataFrame = {
    val P = 2147483647L; val W = 256
    val As = Seq(1103515245L, 69069L, 1664525L, 22695477L)
    val Bs = Seq(12345L, 362437L, 1013904223L, 1L)
    // tv bounded to [0, P) BEFORE the affine multiply: a pathological
    // multi-KB whitespace token (minified JS in a real crawl) would
    // otherwise push a*tv past 2^63, where Spark wraps silently but
    // DuckDB BIGINT throws — a*(tv%P) <= 1.1e9 * 2.1e9 stays in range
    val tvExpr = graft.functions.TextFunctions.tokvalSql("term")
    val counts = graft.functions.TextFunctions
      .langTerms(Tables.documents(s, dir))
      .groupBy(col("term")).agg(count(lit(1)).as("c"))
      .withColumn("tv", expr(tvExpr) % P)
    def rowCells(df: DataFrame): DataFrame =
      df.select(col("term"), col("c"), explode(array((0 until 4).map(i =>
          struct(lit(i).as("r"),
            (((lit(As(i)) * col("tv") + lit(Bs(i))) % P) % W).as("cell"))): _*))
        .as("rc"))
        .select(col("term"), col("c"), col("rc.r").as("r"), col("rc.cell").as("cell"))
    val sketch = rowCells(counts)
      .groupBy(col("r"), col("cell"))
      .agg(Oracle.lsum(col("c")).as("cnt"))
    rowCells(counts.orderBy(col("c").desc, col("term")).limit(20))
      .join(broadcast(sketch), Seq("r", "cell"))
      .groupBy(col("term"))
      .agg(max(col("c")).as("exact_count"), min(col("cnt")).as("cm_est"))
      .select(col("term"), col("exact_count"), col("cm_est"),
        (col("cm_est") - col("exact_count")).as("overestimate"))
      .orderBy(col("exact_count").desc, col("term"))
  }

  val q142Sql: String = {
    // DERIVED from tokvalSql (q86Sql's stance — the two can never
    // drift): strip Spark L suffixes, substring -> substr, cast BIGINT
    // (DuckDB INTEGER would overflow on a*tv), bound to [0, P) exactly
    // like the Spark side
    val tv = "CAST(" + graft.functions.TextFunctions.tokvalSql("term")
      .replaceAll("(\\d)L\\b", "$1")
      .replace("substring", "substr") + " AS BIGINT) % 2147483647"
    s"""WITH t2 AS (
      |  SELECT term FROM (
      |    SELECT unnest(string_split(lower(text), ' ')) AS term FROM documents)
      |  WHERE term <> ''),
      |counts AS (SELECT term, COUNT(*) AS c, $tv AS tv FROM t2 GROUP BY 1),
      |h(r, a, b) AS (VALUES (0, 1103515245, 12345), (1, 69069, 362437),
      |  (2, 1664525, 1013904223), (3, 22695477, 1)),
      |cells AS (
      |  SELECT r, ((a * tv + b) % 2147483647) % 256 AS cell,
      |    CAST(SUM(c) AS BIGINT) AS cnt
      |  FROM counts CROSS JOIN h GROUP BY 1, 2),
      |top AS (SELECT term, c, tv FROM counts ORDER BY c DESC, term LIMIT 20),
      |est AS (
      |  SELECT term, c, r, ((a * tv + b) % 2147483647) % 256 AS cell
      |  FROM top CROSS JOIN h)
      |SELECT term, CAST(MAX(c) AS BIGINT) AS exact_count,
      |  MIN(cells.cnt) AS cm_est,
      |  MIN(cells.cnt) - CAST(MAX(c) AS BIGINT) AS overestimate
      |FROM est JOIN cells USING (r, cell)
      |GROUP BY 1 ORDER BY exact_count DESC, term""".stripMargin
  }

  // ---------------------------------------------------------------------
  // q148 — sketch-based join-cardinality estimation (CM inner product)

  /** Join-size estimation from Count-Min sketches (Cormode &
    * Muthukrishnan §4.2): |A ⋈ B| = Σ_k f_A(k)·f_B(k) is estimated by
    * the inner product of the two sketches' rows — est_d =
    * Σ_w A[d][w]·B[d][w], an overestimate for every row, min over rows
    * is the estimate. This is how an optimizer (or an ingest planner)
    * sizes a join WITHOUT touching both tables together: each side's
    * sketch is built independently in one scan (map-side partials,
    * cell-wise mergeable across partitions/days), the comparison is
    * 4×256 cells. The audit emits per depth the row estimate beside the
    * exact join size — the overestimate column is the collision mass,
    * provably ≥ 0 (SelfConsistencySpec gates it).
    *
    * Everything is deterministic (q142's affine family on the BIGINT
    * keys bounded into [0, P)), so DuckDB reproduces the identical
    * matrices. Exact size comes from joining the two FREQUENCY tables
    * (vocabulary-sized), never the raw fact tables pairwise. */
  def q148JoinCardinality(s: SparkSession, dir: String): DataFrame = {
    val P = 2147483647L; val W = 256
    val As = Seq(1103515245L, 69069L, 1664525L, 22695477L)
    val Bs = Seq(12345L, 362437L, 1013904223L, 1L)
    def freq(df: DataFrame, key: Column): DataFrame =
      df.groupBy(pmod(key, lit(P)).as("k")).agg(count(lit(1)).as("c"))
    def sketch(f: DataFrame): DataFrame =
      f.select(col("c"), explode(array((0 until 4).map(i =>
          struct(lit(i).as("r"),
            (((lit(As(i)) * col("k") + lit(Bs(i))) % P) % W).as("cell"))): _*)).as("rc"))
        .groupBy(col("rc.r").as("r"), col("rc.cell").as("cell"))
        .agg(Oracle.lsum(col("c")).as("cnt"))
    val fe = freq(Tables.events(s, dir), col("user_id"))
    val fo = freq(Tables.orders(s, dir), col("o_custkey"))
    val exact = fe.join(fo.select(col("k"), col("c").as("c2")), "k")
      .agg(Oracle.lsum(col("c") * col("c2")).as("exact"))
    sketch(fe)
      .join(sketch(fo).select(col("r"), col("cell"), col("cnt").as("cnt2")),
        Seq("r", "cell"))
      .groupBy(col("r"))
      .agg(Oracle.lsum(col("cnt") * col("cnt2")).as("row_est"))
      .crossJoin(broadcast(exact))
      .select(col("r").as("depth"), col("row_est"), col("exact"),
        (col("row_est") - col("exact")).as("overestimate"))
      .orderBy(col("depth"))
  }

  val q148Sql: String =
    """WITH h(r, a, b) AS (VALUES (0, 1103515245, 12345), (1, 69069, 362437),
      |  (2, 1664525, 1013904223), (3, 22695477, 1)),
      |fe AS (SELECT user_id % 2147483647 AS k, COUNT(*) AS c
      |       FROM events GROUP BY 1),
      |fo AS (SELECT o_custkey % 2147483647 AS k, COUNT(*) AS c
      |       FROM orders GROUP BY 1),
      |ae AS (SELECT r, ((a * k + b) % 2147483647) % 256 AS cell,
      |         CAST(SUM(c) AS BIGINT) AS cnt
      |       FROM fe CROSS JOIN h GROUP BY 1, 2),
      |ao AS (SELECT r, ((a * k + b) % 2147483647) % 256 AS cell,
      |         CAST(SUM(c) AS BIGINT) AS cnt
      |       FROM fo CROSS JOIN h GROUP BY 1, 2),
      |ex AS (SELECT CAST(SUM(fe.c * fo.c) AS BIGINT) AS exact
      |       FROM fe JOIN fo USING (k))
      |SELECT ae.r AS depth, CAST(SUM(ae.cnt * ao.cnt) AS BIGINT) AS row_est,
      |  ex.exact,
      |  CAST(SUM(ae.cnt * ao.cnt) AS BIGINT) - ex.exact AS overestimate
      |FROM ae JOIN ao USING (r, cell) CROSS JOIN ex
      |GROUP BY 1, ex.exact ORDER BY 1""".stripMargin

  // ---------------------------------------------------------------------
  // q151 — chunk-level quality scoring (worst-chunk flagging)

  /** Chunk-granular quality: q87 scores whole documents, but a long doc
    * with one garbage section averages it away — pipelines therefore
    * score fixed chunks and flag the worst (FineWeb drops or trims at
    * chunk granularity). Tokens chunk by position (32 per chunk, q129's
    * geometry without overlap), each chunk gets the corpus-unigram NLL
    * (q87's model, vocab-sized → broadcast; per-chunk mean on the
    * decimal grid), and the per-doc report carries chunk count, the
    * worst chunk's id and score, and the best score — argmax on the
    * 6dp-ROUNDED score with chunk-id tiebreak, so both engines pick the
    * identical chunk. Scale: one scan builds positions, one aggregate
    * per (doc, chunk) — partial-agg friendly, no windows over raw
    * tokens; the per-doc fold is chunk-count-sized. */
  def q151ChunkQuality(s: SparkSession, dir: String): DataFrame = {
    val C = 32
    val posTerms = Tables.documents(s, dir)
      .select(col("doc_id"),
        posexplode(graft.functions.TextFunctions.tokensOf(col("text")))
          .as(Seq("pos", "term")))
    val terms = docTerms(Tables.documents(s, dir))
    val total = terms.agg(count(lit(1)).cast("double").as("n_total"))
    val probs = terms.groupBy(col("term")).agg(count(lit(1)).as("c"))
      .crossJoin(broadcast(total))
      .select(col("term"), log(col("c") / col("n_total")).as("lnp"))
    val chunks = posTerms
      .filter(col("doc_id") < 200 && col("term") =!= "")
      .withColumn("chunk", (col("pos") / C).cast("long"))
      .join(broadcast(probs), "term")
      .groupBy(col("doc_id"), col("chunk"))
      .agg(count(lit(1)).as("n_toks"),
        round(-Oracle.dsum(col("lnp")) / count(lit(1)), 6).as("nll"))
    chunks.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_chunks"),
        max_by(struct(col("chunk"), col("nll")),
          struct(col("nll"), -col("chunk"))).as("worst"),
        min(col("nll")).as("best_nll"))
      .select(col("doc_id"), col("n_chunks"),
        col("worst.chunk").as("worst_chunk"), col("worst.nll").as("worst_nll"),
        col("best_nll"))
      .orderBy(col("doc_id"))
  }

  val q151Sql: String =
    s"""WITH t AS (
      |  SELECT doc_id, string_split(lower(text), ' ') AS tk FROM documents),
      |pt AS (
      |  SELECT doc_id, (i - 1) // 32 AS chunk, tk[i] AS term
      |  FROM (SELECT doc_id, tk, unnest(range(1, len(tk) + 1)) AS i FROM t)),
      |tt AS (SELECT doc_id, term
      |  FROM (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS term
      |        FROM documents) WHERE term <> ''),
      |n AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n_total FROM tt),
      |p AS (SELECT term, ln(COUNT(*) / n_total) AS lnp
      |  FROM tt CROSS JOIN n GROUP BY term, n_total),
      |ch AS (
      |  SELECT doc_id, CAST(chunk AS BIGINT) AS chunk, COUNT(*) AS n_toks,
      |    round(-${Oracle.dsumSql("lnp")} / COUNT(*), 6) AS nll
      |  FROM pt JOIN p USING (term)
      |  WHERE doc_id < 200 AND term <> '' GROUP BY 1, 2)
      |SELECT doc_id, n_chunks, chunk AS worst_chunk, nll AS worst_nll, best_nll
      |FROM (
      |  SELECT doc_id, chunk, nll,
      |    ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY nll DESC, chunk) AS rn,
      |    COUNT(*) OVER (PARTITION BY doc_id) AS n_chunks,
      |    MIN(nll) OVER (PARTITION BY doc_id) AS best_nll
      |  FROM ch)
      |WHERE rn = 1 ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------------
  // q152 — deterministic training order + shard assignment

  /** The last step of a data pipeline: write the curated corpus in a
    * DETERMINISTIC pseudo-random order, sharded — training runs read
    * shards sequentially, so the global shuffle must happen here, be
    * reproducible (resume/restart, multi-framework), and never funnel
    * the corpus through one task. Order is the q113 portable
    * multiplicative hash of doc_id (a pure function — any engine, any
    * partitioning, any rerun materializes the identical permutation);
    * the global rank comes from `Ranks.withGlobalRowNumber` (sketch-
    * bucketed — NO single-partition sort anywhere, the primitive a
    * naive ORDER BY would break at 100 TB); shards interleave
    * round-robin by rank. The report pins the full assignment: per
    * shard, document count, payload mass, and an order-sensitive
    * checksum Σ (doc_id·rank mod P) — two engines agree iff every
    * document landed at the same rank. */
  def q152TrainingOrder(s: SparkSession, dir: String): DataFrame = {
    val S = 8; val P = 1000000007L
    val base = Tables.documents(s, dir)
      .select(col("doc_id"), col("n_chars"),
        pmod(col("doc_id") * lit(2654435761L), lit(P)).as("h"))
    graft.operators.Ranks.withGlobalRowNumber(base, "rk", col("h"), col("doc_id"))
      .withColumn("shard", pmod(col("rk") - 1, lit(S.toLong)))
      .groupBy(col("shard"))
      .agg(count(lit(1)).as("n_docs"),
        Oracle.lsum(col("n_chars")).as("total_chars"),
        Oracle.lsum(pmod(col("doc_id") * col("rk"), lit(P))).as("order_checksum"))
      .orderBy(col("shard"))
  }

  val q152Sql: String =
    """WITH h AS (
      |  SELECT doc_id, n_chars,
      |    (doc_id * 2654435761) % 1000000007 AS h FROM documents),
      |r AS (
      |  SELECT doc_id, n_chars,
      |    ROW_NUMBER() OVER (ORDER BY h, doc_id) AS rk FROM h)
      |SELECT (rk - 1) % 8 AS shard, COUNT(*) AS n_docs,
      |  CAST(SUM(n_chars) AS BIGINT) AS total_chars,
      |  CAST(SUM((doc_id * rk) % 1000000007) AS BIGINT) AS order_checksum
      |FROM r GROUP BY 1 ORDER BY 1""".stripMargin

  // ---------------------------------------------------------------------
  // q161 — Kneser-Ney-smoothed bigram scoring (the production LM filter)

  /** Per-document NLL under an absolute-discount Kneser-Ney bigram
    * model (Kneser & Ney 1995; the smoothing KenLM defaults to, where
    * q94's Jelinek-Mercer interpolates raw unigrams): P(b|a) =
    * (c(ab)−D)/c(a·) + D·N₁₊(a·)/c(a·) · N₁₊(·b)/N₁₊(··), D = 0.75.
    * The continuation counts N₁₊ — how many distinct contexts a word
    * completes, not how often — are what distinguish KN: "francisco"
    * is frequent but follows only "san", so its continuation
    * probability is tiny.
    *
    * Every model table is vocabulary-sized and derived from the ONE
    * bigram-count aggregate (type counts = COUNT(*) over it, context /
    * continuation counts = its two marginals): one corpus scan feeds
    * four small aggregates, then the scoring pass re-joins the bigram
    * stream — the q94 shape, AQE choosing broadcast while the
    * vocabulary fits. D = 0.75 is exactly representable in binary, so
    * c − D and every ratio are identical IEEE doubles cross-engine;
    * per-doc sums land on the decimal grid. */
  def q161KneserNey(s: SparkSession, dir: String): DataFrame = {
    val D = 0.75
    val docs = Tables.documents(s, dir)
    val toks = docs.select(col("doc_id"),
      graft.functions.TextFunctions.tokensOf(col("text")).as("t"))
    val n = size(col("t"))
    val bi = toks.filter(n >= 2)
      .select(col("doc_id"), explode(arrays_zip(
        slice(col("t"), lit(1), n - 1).as("a"),
        slice(col("t"), lit(2), n - 1).as("b"))).as("bg"))
      .select(col("doc_id"), col("bg.a").as("a"), col("bg.b").as("b"))
      .filter(col("a") =!= "" && col("b") =!= "")
    val biC  = bi.groupBy(col("a"), col("b")).agg(count(lit(1)).as("c_ab"))
    val ctxC = biC.groupBy(col("a"))
      .agg(Oracle.lsum(col("c_ab")).as("c_a"), count(lit(1)).as("n1p_a"))
    val contC = biC.groupBy(col("b")).agg(count(lit(1)).as("n1p_b"))
    val nPairs = biC.agg(count(lit(1)).cast("double").as("n_pairs"))
    val p = (col("c_ab") - lit(D)) / col("c_a") +
      (lit(D) * col("n1p_a") / col("c_a")) * (col("n1p_b") / col("n_pairs"))
    bi.filter(col("doc_id") < 200)
      .join(biC, Seq("a", "b"))
      .join(ctxC, "a")
      .join(contC, "b")
      .crossJoin(broadcast(nPairs))
      .select(col("doc_id"), log(p).as("lnp"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bi"),
        round(-Oracle.dsum(col("lnp")) / count(lit(1)), 6).as("kn_nll"))
      .orderBy(col("doc_id"))
  }

  val q161Sql: String =
    s"""WITH toks AS (
      |  SELECT doc_id, string_split(lower(text), ' ') AS tk FROM documents),
      |bi AS (SELECT doc_id, tk[i] AS a, tk[i + 1] AS b
      |  FROM (SELECT doc_id, tk, unnest(range(1, len(tk))) AS i FROM toks
      |        WHERE len(tk) >= 2)
      |  WHERE tk[i] <> '' AND tk[i + 1] <> ''),
      |bc AS (SELECT a, b, COUNT(*) AS c_ab FROM bi GROUP BY 1, 2),
      |cx AS (SELECT a, CAST(SUM(c_ab) AS BIGINT) AS c_a, COUNT(*) AS n1p_a
      |       FROM bc GROUP BY 1),
      |ct AS (SELECT b, COUNT(*) AS n1p_b FROM bc GROUP BY 1),
      |np AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n_pairs FROM bc),
      |sc AS (
      |  SELECT bi.doc_id,
      |    ln((c_ab - 0.75) / c_a
      |       + (0.75 * n1p_a / c_a) * (n1p_b / n_pairs)) AS lnp
      |  FROM bi JOIN bc USING (a, b) JOIN cx USING (a) JOIN ct USING (b)
      |    CROSS JOIN np
      |  WHERE bi.doc_id < 200)
      |SELECT doc_id, COUNT(*) AS n_bi,
      |  round(-${Oracle.dsumSql("lnp")} / COUNT(*), 6) AS kn_nll
      |FROM sc GROUP BY doc_id ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------------
  // q238 — token-balanced training-shard assignment

  /** The last-mile write step of a training-data pipeline: assign every
    * document to one of K=8 output shards so per-shard TOKEN totals are
    * balanced (trainer data-parallel ranks read one shard each; an
    * unbalanced split straggles every epoch). Classic LPT balancing is
    * a sequential greedy, so the distributed form is SERPENTINE
    * (boustrophedon) assignment over the global token-count rank:
    * rank r (descending tokens) goes to shard r%K on even passes and
    * K-1-r%K on odd passes, which alternates who receives the next
    * largest document — deterministic, one-pass, embarrassingly
    * parallel, and within a top-1-document bound of LPT balance on
    * heavy-tail corpora. Rank comes from `Ranks.withGlobalRowNumber`
    * (sketch-bucketed — no single-task sort at corpus scale); the
    * assignment itself is pure arithmetic on (rank, K). The bounded
    * 8-row imbalance window is post-aggregate.
    *
    * Oracle: the same rank (SQL ROW_NUMBER) and the same serpentine
    * arithmetic — the gate proves the distributed rank + assignment
    * equals the sequential definition. */
  def q238ShardBalance(s: SparkSession, dir: String): DataFrame = {
    val k = 8
    val d = Tables.documents(s, dir)
      .select(col("doc_id"),
        size(expr("filter(split(text, ' '), x -> x <> '')"))
          .cast("long").as("tokens"))
    val ranked = graft.operators.Ranks.withGlobalRowNumber(
      d, "rk", -col("tokens"), col("doc_id"))
    val assigned = ranked.withColumn("pass", expr(s"(rk - 1) div $k"))
      .withColumn("shard",
        when(pmod(col("pass"), lit(2)) === 0, expr(s"(rk - 1) % $k"))
          .otherwise(expr(s"$k - 1 - (rk - 1) % $k")))
    val perShard = assigned.groupBy(col("shard"))
      .agg(count(lit(1)).as("n_docs"),
        Oracle.lsum(col("tokens")).as("shard_tokens"),
        min(col("doc_id")).as("min_doc"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy()
    perShard
      .select(col("shard"), col("n_docs"), col("shard_tokens"),
        col("min_doc"),
        // imbalance in exact per-mille of the max shard: bounded 8-row
        // window, integer arithmetic only
        expr("(shard_tokens * 1000) div " +
          "max(shard_tokens) OVER ()").as("permille_of_max"))
      .orderBy(col("shard"))
  }

  val q238Sql: String =
    """WITH d AS (
      |  SELECT doc_id,
      |    CAST(len(list_filter(string_split(text, ' '), x -> x <> ''))
      |      AS BIGINT) AS tokens
      |  FROM documents),
      |r AS (
      |  SELECT doc_id, tokens,
      |    ROW_NUMBER() OVER (ORDER BY tokens DESC, doc_id) AS rk
      |  FROM d),
      |a AS (
      |  SELECT doc_id, tokens,
      |    CASE WHEN ((rk - 1) // 8) % 2 = 0 THEN (rk - 1) % 8
      |         ELSE 7 - (rk - 1) % 8 END AS shard
      |  FROM r),
      |p AS (
      |  SELECT shard, COUNT(*) AS n_docs,
      |    CAST(SUM(tokens) AS BIGINT) AS shard_tokens,
      |    MIN(doc_id) AS min_doc
      |  FROM a GROUP BY 1)
      |SELECT shard, n_docs, shard_tokens, min_doc,
      |  (shard_tokens * 1000) // MAX(shard_tokens) OVER ()
      |    AS permille_of_max
      |FROM p ORDER BY shard""".stripMargin

  // ---------------------------------------------------------------------
  // q239 — epoch allocation under a token budget (capped water-filling)

  /** Data-constrained mixture design: split a training budget of
    * B = 2× the corpus's tokens across sources, giving each source a
    * share proportional to its quality weight but CAPPED at E=4 epochs
    * of its own data (repeating a small high-quality source forever
    * stops helping — the capped-proportional/water-filling allocation).
    * Algorithm (all exact integer arithmetic, no FP anywhere):
    * sort sources by cap/weight on a fixed 1e-6 integer ratio grid;
    * the capped set is a prefix (enforced by a prefix-AND so both
    * engines share one definition); the water level λ = num/den comes
    * from the budget left over the uncapped weights, and uncapped
    * sources get floor(num·q/den) tokens. Epochs are reported in
    * exact per-mille.
    *
    * Scale: ONE corpus-sized aggregate to per-source totals; the
    * water-filling runs in bounded windows over the source-count-sized
    * frame (≤8 rows here — never data-sized). */
  def q239EpochAllocation(s: SparkSession, dir: String): DataFrame = {
    val st = Tables.documents(s, dir)
      .select(col("source"),
        size(expr("filter(split(text, ' '), x -> x <> '')"))
          .cast("long").as("tokens"),
        col("n_chars"))
      .groupBy(col("source"))
      .agg(Oracle.lsum(col("tokens")).as("t"),
        count(lit(1)).as("nd"),
        Oracle.lsum(col("n_chars")).as("sc"))
      .withColumn("q", expr("sc div nd")) // quality weight (pluggable)
      // degenerate sources (no tokens, or zero quality weight — e.g.
      // all-empty docs) can't receive an allocation and would divide
      // by zero in ratio / epochs_permille; exclude them in BOTH
      // engines (the q224/q229 guard idiom)
      .filter(col("t") > 0 && col("q") > 0)
      .withColumn("cap", col("t") * 4)
      .withColumn("ratio", expr("(cap * 1000000) div q"))
    import org.apache.spark.sql.expressions.Window
    val all = Window.partitionBy()
    val byRatio = Window.partitionBy().orderBy(col("ratio"), col("source"))
    val pre = byRatio.rowsBetween(Window.unboundedPreceding, -1)
    val w = st
      .withColumn("b", sum(col("t")).over(all) * 2) // budget = 2x corpus
      .withColumn("totq", sum(col("q")).over(all))
      .withColumn("cumcap0", coalesce(sum(col("cap")).over(pre), lit(0L)))
      .withColumn("cumq0", coalesce(sum(col("q")).over(pre), lit(0L)))
      // local water-level test at this prefix: lambda_{j-1} >= cap_j/q_j
      .withColumn("cj",
        (col("b") - col("cumcap0")) * col("q") >=
          col("cap") * (col("totq") - col("cumq0")))
      // capped set is the maximal true-prefix (shared exact definition)
      .withColumn("capped", min(col("cj").cast("int"))
        .over(byRatio.rowsBetween(Window.unboundedPreceding, 0)) === 1)
    val lam = w
      .withColumn("num", col("b") -
        coalesce(sum(when(col("capped"), col("cap"))).over(all), lit(0L)))
      .withColumn("den", col("totq") -
        coalesce(sum(when(col("capped"), col("q"))).over(all), lit(0L)))
    lam
      .withColumn("tokens_allocated",
        when(col("capped"), col("cap"))
          .otherwise(expr("(num * q) div den")))
      .select(col("source"), col("t").as("tokens_available"),
        col("q").as("weight"), col("capped"),
        col("tokens_allocated"),
        expr("(tokens_allocated * 1000) div t").as("epochs_permille"))
      .orderBy(col("source"))
  }

  val q239Sql: String =
    """WITH d AS (
      |  SELECT source,
      |    CAST(len(list_filter(string_split(text, ' '), x -> x <> ''))
      |      AS BIGINT) AS tokens,
      |    n_chars
      |  FROM documents),
      |st AS (
      |  SELECT source, CAST(SUM(tokens) AS BIGINT) AS t, COUNT(*) AS nd,
      |    CAST(SUM(n_chars) AS BIGINT) AS sc
      |  FROM d GROUP BY 1),
      |st2 AS (
      |  SELECT source, t, sc // nd AS q, t * 4 AS cap,
      |    (t * 4 * 1000000) // (sc // nd) AS ratio
      |  FROM st
      |  WHERE t > 0 AND sc // nd > 0),
      |w AS (
      |  SELECT *,
      |    SUM(t) OVER () * 2 AS b,
      |    SUM(q) OVER () AS totq,
      |    COALESCE(SUM(cap) OVER (ORDER BY ratio, source
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cumcap0,
      |    COALESCE(SUM(q) OVER (ORDER BY ratio, source
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cumq0
      |  FROM st2),
      |c AS (
      |  SELECT *,
      |    MIN(CASE WHEN (b - cumcap0) * q >= cap * (totq - cumq0)
      |             THEN 1 ELSE 0 END)
      |      OVER (ORDER BY ratio, source
      |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) = 1
      |      AS capped
      |  FROM w),
      |lam AS (
      |  SELECT *,
      |    b - COALESCE(SUM(CASE WHEN capped THEN cap END) OVER (), 0) AS num,
      |    totq - COALESCE(SUM(CASE WHEN capped THEN q END) OVER (), 0) AS den
      |  FROM c)
      |SELECT source, t AS tokens_available, q AS weight, capped,
      |  CAST(CASE WHEN capped THEN cap ELSE (num * q) // den END
      |    AS BIGINT) AS tokens_allocated,
      |  CAST((CASE WHEN capped THEN cap ELSE (num * q) // den END)
      |    * 1000 // t AS BIGINT) AS epochs_permille
      |FROM lam ORDER BY source""".stripMargin
}
