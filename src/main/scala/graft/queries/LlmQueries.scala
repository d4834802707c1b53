package graft.queries

import graft.Tables
import graft.functions.TextFunctions._
import graft.operators.ClassCollapse
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** LLM-training-data pipeline operators over the `documents` table:
  * exact + near-duplicate detection (hash / MinHash-LSH / SimHash /
  * inverted-index n-gram Jaccard), text quality stats, language ID,
  * token counting, and document fingerprinting.
  *
  * The reference (etl-rust) has none of these — they are the north-star
  * additions from BASELINE.json, built as first-class registry entries.
  *
  * Scale design notes are on each query; the common theme: never compare
  * all O(n²) document pairs. Candidates come from LSH band buckets or an
  * inverted index, and only candidates pay the exact-verification cost.
  * The DuckDB oracles DO brute-force O(n²) — at sf0.01 (500 docs) that is
  * the point: the clever plan must equal the naive one.
  */
object LlmQueries {

  /** (doc_id, tfp): doc → TEXT class ([[ClassCollapse.key]] of the raw
    * text). The head of the two-level duplicate collapse: byte-identical
    * copies — 30-60% of a web corpus, and exactly what replication
    * stress multiplies — are identified from ONE narrow scan, before any
    * tokenization. */
  private def textMembers(s: SparkSession, dir: String): DataFrame =
    memo(s, dir, "textmem", "") {
      Tables.documents(s, dir)
        .select(col("doc_id"), ClassCollapse.key(col("text")).as("tfp"))
    }

  /** A trigram value family of the two-level text collapse: `value` is
    * one word-3-gram's value over the zipped token struct `tg` (t0, t1,
    * t2); `tag`/`params` key the family's memos. */
  private[queries] final case class Trigrams(tag: String, params: String, value: Column)

  /** xxhash64 of the trigram — the shingle hash of the dedup family.
    * Downstream identity is the 64-bit hash (collision odds across ~10⁶
    * distinct shingles ≈ n²/2⁶⁴ — nil; the exact-Jaccard oracle would
    * catch one). */
  private[queries] lazy val Shingles: Trigrams =
    Trigrams("", "w3", xxhash64(col("tg.t0"), col("tg.t1"), col("tg.t2")))

  /** (tfp, hg): one row per DISTINCT (text, trigram value) of family `f`
    * — the shingle pass run over ONE representative document per
    * distinct text (from [[textMembers]]), not over every copy. This is
    * the sf100 probe's lesson made structural: tokenize+explode cost
    * now scales with DISTINCT corpus bytes, not total corpus bytes
    * (1000× replication = 1000× fewer tokenizer rows than the naive
    * pass; measured at sf100: the dedup family's shared memo build
    * dropped from ~9 min to seconds).
    *
    * The shingling itself: arrays_zip of three array slices (token i,
    * i+1, i+2) → explode → trigram value → distinct. Everything before
    * the distinct is per-partition codegen'd projection — no window
    * sort, no shuffle — and the shingle string is never materialized:
    * the trigram is valued straight out of the zipped struct, so the
    * one shuffle (the distinct) moves 16-byte (tfp, hg) rows instead of
    * ~30-char strings.
    *
    * Earlier shapes, for the record: lambda-transform shingling ran
    * interpreted (~11 s at sf0.1); posexplode + window-lead ran ~1 s
    * locally but its shuffle+sort amplified 6× under machine contention
    * in the round-1 bench. This one has no sort to amplify. */
  private def repTextRows(s: SparkSession, dir: String,
      f: Trigrams = Shingles): DataFrame =
    memo(s, dir, s"reptextrows${f.tag}", f.params) {
      val reps = ClassCollapse.classes(textMembers(s, dir), "doc_id", "tfp")
      val n = size(col("toks"))
      Tables.documents(s, dir)
        .join(reps, "doc_id") // text reps only; AQE picks the join shape
        .select(col("tfp"), tokensOf(col("text")).as("toks"))
        .filter(n >= 3)
        .select(col("tfp"), explode(arrays_zip(
          slice(col("toks"), lit(1), n - 2).as("t0"),
          slice(col("toks"), lit(2), n - 2).as("t1"),
          slice(col("toks"), lit(3), n - 2).as("t2"))).as("tg"))
        .select(col("tfp"), f.value.as("hg"))
        .distinct()
    }

  /** documents → one row per DISTINCT word-3-gram shingle, pre-hashed:
    * (doc_id, hg: bigint = xxhash64 of the trigram). Same output as
    * shingling every document directly, but reconstructed as
    * [[textMembers]] ⨝ [[repTextRows]] — a codegen'd expansion join of
    * two persisted narrow inputs. Deliberately NOT memoized itself:
    * persisting the member-level stream is O(total corpus) memory,
    * while re-running the expansion join per consumer is cheap (both
    * inputs are cached; the per-doc filters the member-level consumers
    * apply — q88's eval slice, q112's old/new split — push down to the
    * textMembers side before the join). */
  private def shingleRows(s: SparkSession, dir: String): DataFrame =
    textMembers(s, dir).join(repTextRows(s, dir), "tfp")
      .select(col("doc_id"), col("hg"))

  /** The shingle pass feeds four queries (q20/q21/q22/q50) and appears up
    * to three times inside one query's plan (signature path + both sides
    * of the verify join); Spark's exchange reuse does not canonicalize
    * across these subtrees (measured: 0 ReusedExchange, 6 FileScans), so
    * the distinct'd shingle stream is persisted once per (session, dir).
    * ~16 bytes/shingle — a few MB at sf0.1; a long-lived production
    * session would manage this lifecycle explicitly.
    *
    * The same recompute applies one level up: a band self-join references
    * the signature subtree on BOTH sides, so un-persisted signatures are
    * computed 2–3× per query (profiled: q20 warm 2.3 s of which ~2.5 s
    * was 3× the 0.84 s signature groupBy). Signatures are one row per doc
    * (~33 longs) — persisting them is microscopic memory for a 3× cut. */
  private def memo(s: SparkSession, dir: String, tag: String, params: String)
      (mk: => DataFrame): DataFrame =
    graft.PlanCache.memo(s, dir, tag, params)(mk)

  /** (doc_id, fp, sz): per-doc trigram-SET class of family `f` — the
    * [[ClassCollapse.key]] of the sorted trigram-value array, and the
    * set size. Identical sets ⇒ identical similarity against every other
    * doc, so pairwise stages run over one representative per distinct
    * set and re-expand members afterwards — web corpora are 30-60%
    * byte-identical copies and every pair generator otherwise pays
    * Σ multiplicity². Docs with < 3 tokens have no set and no row. */
  private[queries] def setFingerprints(s: SparkSession, dir: String,
      f: Trigrams = Shingles): DataFrame =
    memo(s, dir, s"setfp${f.tag}", f.params) {
      // set fp computed once per DISTINCT TEXT (identical texts have
      // identical trigram sets), then broadcast back over the members —
      // the groupBy runs on |distinct texts| rows, not |corpus| rows;
      // repTextRows is distinct, so the set size is the array's
      val repFps = repTextRows(s, dir, f).groupBy(col("tfp"))
        .agg(sort_array(collect_list(col("hg"))).as("set"))
        .select(col("tfp"), ClassCollapse.key(col("set")).as("fp"),
          size(col("set")).cast("long").as("sz"))
      textMembers(s, dir).join(repFps, "tfp")
        .select(col("doc_id"), col("fp"), col("sz"))
    }

  /** (fp, doc_id, mult, sz): the shingle-set classes — one
    * representative (min doc_id) per distinct shingle set, with its
    * multiplicity and set size. Memoized because every pair generator
    * (q20/q21/q103/q114) and q70 derive some projection of it. */
  private[queries] def repStats(s: SparkSession, dir: String): DataFrame =
    memo(s, dir, "repstats", "w3") {
      ClassCollapse.classes(setFingerprints(s, dir), "doc_id", "fp",
        first(col("sz")).as("sz"))
    }

  /** (doc_id, hg): the trigram values of family `f` for the set-class
    * representatives in `reps`. Every set-level representative (min
    * doc_id over its fp class) is also a text-level representative (min
    * doc_id over its text class): the fp-class min is the min of its
    * text-class minimums, and each text-class min IS a [[repTextRows]]
    * rep — so the values read off the rep-text stream without touching
    * the member level. */
  private def repRows(s: SparkSession, dir: String, f: Trigrams,
      reps: DataFrame): DataFrame =
    textMembers(s, dir)
      .join(reps.select(col("doc_id")), Seq("doc_id"), "left_semi")
      .join(repTextRows(s, dir, f), "tfp")
      .select(col("doc_id"), col("hg"))

  /** The shingle stream restricted to collapse representatives — the
    * left-semi join every pair generator previously re-derived per
    * query (and the verification tail reads TWICE more, as both sides
    * of its inverted-index join). Round-9 left this recomputed — the
    * q21 soundness fix doubled its clean time purely on repeated
    * collapse passes (verdict item 3); memoized, the semi-join runs
    * once per (session, dir) and q20/q21/q103/q114 all read the
    * persisted stream. */
  private def repShingleRows(s: SparkSession, dir: String): DataFrame =
    memo(s, dir, "reprows", "w3")(repRows(s, dir, Shingles, repStats(s, dir)))

  /** DuckDB twin of [[shingled]] as a CTE body (shared with the
    * clustering oracle in CorpusQueries). */
  private[queries] def shingledFromSql(tbl: String): String =
    s"""SELECT doc_id,
      |  CASE WHEN len(string_split(lower(text), ' ')) >= 3 THEN
      |    list_distinct(list_transform(range(1, len(string_split(lower(text), ' ')) - 1),
      |      i -> concat(string_split(lower(text), ' ')[i], ' ',
      |                  string_split(lower(text), ' ')[i + 1], ' ',
      |                  string_split(lower(text), ' ')[i + 2])))
      |  ELSE CAST([] AS VARCHAR[]) END AS shingles
      |FROM $tbl""".stripMargin

  private[queries] val shingledSql: String = shingledFromSql("documents")

  /** DuckDB CTE chain computing EXACT pairwise Jaccard over all doc
    * pairs sharing ≥1 shingle, via an inverted-index postings join —
    * the textbook set-similarity identity |A∪B| = |A|+|B|−|A∩B| with
    * |A∩B| counted by grouping the postings self-join. Replaces the
    * r3–r7 all-pairs `list_intersect` cross join, which cost
    * O(n²·|shingles|) and made the consolidated sf0.1 sweep take CPU
    *-hours (SWEEP_r7.md): pairs with NO shared shingle have Jaccard 0
    * and can never pass a positive threshold, so skipping them is
    * exact, and the postings join costs Σ_g df(g)² instead of n².
    * Still oracle-independent of the engine: no MinHash, no LSH, no
    * pruning, no bounds — every co-occurring pair gets its exact count.
    *
    * EXACT-DUPLICATE COLLAPSE (round-9, the engine's own q114/q103
    * composition mirrored oracle-side): byte-identical texts have
    * identical shingle sets, so the quadratic postings stage runs over
    * one representative per distinct text and member pairs re-expand
    * afterwards — bit-identical output, because a cross pair inherits
    * the representatives' exact value and an intra pair is identical
    * sets, whose brute Jaccard is n/(n+n−n) = exactly 1.0 at any
    * rounding. On the 10×-replicated stress corpora this cuts the
    * Σ df² postings cost 100×; on duplicate-free corpora the collapse
    * is one text groupBy of overhead. Docs with empty shingle sets
    * (< 3 tokens) never enter `jac` — unchanged from the postings
    * semantics (they share no posting).
    * Yields relations: dreps(doc_id=min member, mult, text),
    * dmem(doc_id, rep), rep-level sh/sz/post/isect,
    * rjac(doc_a,doc_b,jaccard) rep pairs, and the member-level
    * jac(doc_a,doc_b,jaccard rounded 4dp). */
  private[queries] val jaccardPairsCteSql: String =
    s"""dreps AS MATERIALIZED (
      |  SELECT MIN(doc_id) AS doc_id, COUNT(*) AS mult, text
      |  FROM documents GROUP BY text),
      |dmem AS MATERIALIZED (
      |  SELECT d.doc_id, r.doc_id AS rep
      |  FROM documents d JOIN dreps r ON d.text = r.text),
      |sh AS (${shingledFromSql("dreps")}),
      |sz AS (SELECT doc_id, len(shingles) AS n FROM sh WHERE len(shingles) > 0),
      |post AS (SELECT doc_id, unnest(shingles) AS g FROM sh),
      |isect AS (
      |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS i
      |  FROM post a JOIN post b ON a.g = b.g AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2),
      |rjac AS MATERIALIZED (
      |  SELECT doc_a, doc_b,
      |    round(CAST(i AS DOUBLE) / (sa.n + sb.n - i), 4) AS jaccard
      |  FROM isect JOIN sz sa ON doc_a = sa.doc_id
      |             JOIN sz sb ON doc_b = sb.doc_id),
      |jac AS (
      |  SELECT LEAST(ma.doc_id, mb.doc_id) AS doc_a,
      |    GREATEST(ma.doc_id, mb.doc_id) AS doc_b, r.jaccard
      |  FROM rjac r JOIN dmem ma ON ma.rep = r.doc_a
      |              JOIN dmem mb ON mb.rep = r.doc_b
      |  UNION ALL
      |  SELECT ma.doc_id AS doc_a, mb.doc_id AS doc_b,
      |    CAST(1.0 AS DOUBLE) AS jaccard
      |  FROM dmem ma JOIN dmem mb
      |    ON ma.rep = mb.rep AND ma.doc_id < mb.doc_id
      |  JOIN sz ON sz.doc_id = ma.rep)""".stripMargin

  // ---------------------------------------------------------------------
  // Exact dedup

  /** Exact dedup by content hash (sha256 of text). Output is per-source
    * survivor counts plus the lexicographic min hash, which verifies the
    * hash computation itself agrees cross-engine.
    * Scale: one shuffle on the 64-hex-char hash; dedup keeps min doc_id
    * per hash (deterministic canonical survivor). */
  def q19DedupExact(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .withColumn("h", sha2(col("text"), 256))
      .groupBy(col("h")).agg(min(col("doc_id")).as("doc_id"),
        min(col("source")).as("source"), count(lit(1)).as("n_copies"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_kept"), sum(col("n_copies")).as("n_total"),
        min(col("h")).as("sample_hash"))
      .orderBy(col("source"))

  val q19Sql: String =
    """SELECT source, COUNT(*) AS n_kept, CAST(SUM(n_copies) AS BIGINT) AS n_total,
      |  MIN(h) AS sample_hash
      |FROM (
      |  SELECT sha256(text) AS h, MIN(doc_id) AS doc_id,
      |    MIN(source) AS source, COUNT(*) AS n_copies
      |  FROM documents GROUP BY sha256(text))
      |GROUP BY source ORDER BY source""".stripMargin

  /** MinHash signatures, relationally: k independent seeded re-hashes of
    * the persisted shingle hash (h_i = xxhash64(i, hg)) as k codegen'd
    * min-aggregates in one groupBy. One shuffle, no interpreted lambdas.
    * Output: doc_id, m0..m{k-1}, sz.
    *
    * NOT the Kirsch-Mitzenmacher trick (h_i = h1 + i·h2): with only two
    * base hashes, the element that minimizes BOTH h1 and h2 is the min of
    * every h_i simultaneously — P ≈ 1/n² per doc for n shingles, which on
    * short documents collapses the whole signature onto one shingle and
    * systematically drops true near-dup pairs (observed: docs 26/455 at
    * sf0.01, J = 0.9, missed by all 16 bands). Independent per-i seeds
    * make the bands genuinely independent; 64 extra xxhash64 evals per
    * shingle row stay in whole-stage codegen and are memory-bound cheap. */
  private def minhashSigs(rows: DataFrame, k: Int): DataFrame = {
    // set size rides along in the same groupBy — one aggregate pays for
    // both the signature and the |set| the Jaccard verify stage needs
    val mins = (0 until k).map(i =>
      min(xxhash64(lit(i), col("hg"))).as(s"m$i")) :+ count(lit(1)).as("sz")
    rows.groupBy(col("doc_id")).agg(mins.head, mins.tail: _*)
  }

  /** Unpivot b bands of r signature columns into (doc_id, band, key) rows
    * via stack() — the LSH bucket id stream. */
  private def bandRows(sig: DataFrame, b: Int, r: Int): DataFrame = {
    val stackArgs = (0 until b).map { j =>
      val slice = (j * r until (j + 1) * r).map(i => s"m$i").mkString(", ")
      s"$j, hash($slice)"
    }.mkString(", ")
    sig.selectExpr("doc_id", s"stack($b, $stackArgs) AS (band, key)")
  }

  // ---------------------------------------------------------------------
  // Near-dup via MinHash + LSH

  /** Near-duplicate pairs via MinHash+LSH: shingle → 64 minhashes → 16
    * bands × 4 rows → band-bucket self-join for candidates → exact
    * Jaccard ≥ 0.8 verification. Band geometry is threshold-driven, not
    * luck-driven: at the J = 0.8 decision boundary a pair is missed with
    * probability (1 − J⁴)¹⁶ = 0.59¹⁶ ≈ 2·10⁻⁴ (b = 8 was ~1.5% — one
    * planted pair actually flipped when the hash family changed), while
    * background pairs (J < 0.07) collide in a band with p = J⁴ ≈ 2·10⁻⁵,
    * so candidates stay ~linear in n. Exactness still comes from the
    * verification join, so the output equals the brute-force oracle.
    * Scale: candidates come from a groupBy on (band, key) — cost is
    * O(n·b) rows shuffled, not O(n²) pairs; only bucket-mates pay the
    * exact array_intersect. */
  def q20DedupMinhash(s: SparkSession, dir: String): DataFrame =
    // duplicate collapse (see [[setFingerprints]]): signatures, banding,
    // and verification run once per DISTINCT shingle set — q70/q111's
    // shared pair-graph build stops paying multiplicity² on exact
    // copies (sf1 stress: q111's first-build cost was 15.6 s, mostly
    // this stage) — then member pairs re-expand, output unchanged.
    expandJaccard(s, dir, repDedupPairs(s, dir))
      .orderBy(col("doc_a"), col("doc_b"))

  /** REP-level verified near-dup pairs (doc_a, doc_b, jaccard ≥ 0.8) —
    * q20's whole pipeline BEFORE the member expansion, one row per
    * distinct-shingle-set pair. Memoized on its own because graph
    * consumers (q70's connected components, hence q111/q135/q138) must
    * contract THIS graph rather than the member expansion: under N×
    * duplicate replication the member pair set carries ~N²× the edges
    * with zero extra information (the embedding-side lesson from
    * [[VectorQueries.repCosinePairs]], applied to the text side after
    * the sf100 sweep showed q70's CC input going quadratic). */
  private[queries] def repDedupPairs(s: SparkSession, dir: String): DataFrame =
    memo(s, dir, "rep_dedup_pairs", "w3,k64,b16r4,t0.8") {
      val repRows = repShingleRows(s, dir)
      val sigs = memo(s, dir, "minhash_reps", "w3,k64")(minhashSigs(repRows, 64))
      val sizes = sigs.select(col("doc_id"), col("sz"))
      // band rows sit on both sides of the candidate self-join; they are a
      // trivial codegen projection off the PERSISTED sigs, so recomputing
      // them twice beats paying a second materialization (measured)
      val bands = bandRows(sigs, 16, 4)
      val cand = bands.as("x").join(bands.as("y"),
          col("x.band") === col("y.band") && col("x.key") === col("y.key") &&
            col("x.doc_id") < col("y.doc_id"))
        .select(col("x.doc_id").as("a"), col("y.doc_id").as("b"))
        .distinct()
      verifyCandidates(repRows, sizes, cand, 0.8)
    }

  /** Member-level near-dup pairs from rep-level ones: cross-set member
    * pairs inherit the reps' value (a function of the two SETS — Jaccard
    * for q20/q21/q114), intra-set pairs are identical sets, J =
    * sz/(sz+sz−sz) = 1.0. */
  private def expandJaccard(s: SparkSession, dir: String, repPairs: DataFrame): DataFrame =
    ClassCollapse.expandPairs(setFingerprints(s, dir).select(col("doc_id"), col("fp")),
      repStats(s, dir), repPairs, "doc_a", "doc_b", "jaccard", lit(1.0))

  /** Shared exact-verification tail (q20 LSH / q21 inverted-index): the
    * candidate pairs (tiny, broadcast) filter the full inverted index;
    * common-shingle counts against FULL per-doc set sizes give exact
    * Jaccard — whatever generated the candidates, the emitted pairs and
    * values are exact. */
  private def verifyCandidates(rows: DataFrame, sizes: DataFrame,
      cand: DataFrame, threshold: Double): DataFrame = {
    val invA = rows.select(col("doc_id").as("a"), col("hg"))
    val invB = rows.select(col("doc_id").as("b"), col("hg"))
    broadcast(cand).join(invA, "a").join(invB, Seq("b", "hg"))
      .groupBy(col("a"), col("b")).agg(count(lit(1)).as("inter"))
      .join(sizes.select(col("doc_id").as("a"), col("sz").as("na")), "a")
      .join(sizes.select(col("doc_id").as("b"), col("sz").as("nb")), "b")
      .withColumn("jaccard",
        round(col("inter").cast("double") / (col("na") + col("nb") - col("inter")), 4))
      .filter(col("jaccard") >= threshold)
      .select(col("a").as("doc_a"), col("b").as("doc_b"), col("jaccard"))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** Brute-force O(n²) exact-Jaccard oracle shared by q20/q21. */
  val q20Sql: String =
    s"""WITH $jaccardPairsCteSql
      |SELECT doc_a, doc_b, jaccard FROM jac
      |WHERE jaccard >= 0.8 ORDER BY doc_a, doc_b""".stripMargin

  // ---------------------------------------------------------------------
  // Near-dup via inverted-index n-gram Jaccard

  /** Same near-dup semantics as q20, different candidate generator: an
    * inverted index (self-join on shingle hash) with FREQUENT-SHINGLE
    * PRUNING. The self-join costs Σ_shingle df², so a shingle in df
    * documents contributes df² candidate rows while adding almost no
    * discrimination — the classic production guard drops shingles with
    * df > cap from candidate generation. Pruning touches ONLY candidate
    * generation: verification recounts intersections against the full
    * index and full set sizes, so every emitted pair carries its exact
    * Jaccard. A qualifying pair is missed only if ALL of its common
    * shingles have df > cap — for J ≥ 0.8 that needs a near-duplicate
    * cluster wider than cap docs, at which point exact dedup (q19) owns
    * it. LlmQueriesSpec proves pruned == unpruned output on data where
    * the cap demonstrably prunes. */
  def q21DedupNgramJaccard(s: SparkSession, dir: String): DataFrame =
    q21PrunedNgramJaccard(s, dir, cap = 64)

  /** q21 with an explicit document-frequency cap (exposed for the
    * pruning-invariance spec).
    *
    * Shape: posting lists in ONE aggregation (groupBy shingle hash →
    * collect_list), persisted because two branches read them and Spark
    * does not reuse exchanges across identical subtrees. Branch 1
    * explodes rare lists (2 ≤ df ≤ cap) into ordered pairs and counts
    * common-rare-shingles per pair — Σ df² codegen'd generator rows into
    * a map-side-combinable groupBy, NOT a re-join against the index.
    * Branch 2 counts each doc's pruned (df > cap) shingles. Together
    * they give a sound upper bound on the true Jaccard:
    * I ≤ ir + min(pa, pb), and j = I/(na+nb−I) is increasing in I, so
    * filtering on the bound never drops a qualifying pair. Only
    * bound-passing pairs (a handful — a background pair shares a few
    * shingles, a near-dup shares ~half) pay the exact verification
    * recount, which keeps emitted values exact under any cap. */
  def q21PrunedNgramJaccard(s: SparkSession, dir: String, cap: Int): DataFrame = {
    // Exact-duplicate collapse BEFORE the df-capped candidate stage
    // (q114's production composition, extended here in round 9): the
    // cap's soundness argument — "a qualifying pair is missed only if
    // ALL its common shingles sit in > cap docs, i.e. a near-dup
    // cluster wider than cap" — must count DISTINCT sets, or plain
    // replication inflates every df by the copy factor and pushes
    // ordinary clusters past the cap (found by the sf1 oracle compare:
    // 10× copies made 7-distinct-doc clusters read as df ≥ 70 > 64 and
    // the engine silently dropped their pairs). Collapsed, df is
    // per-distinct-set and duplicates re-expand exactly afterwards;
    // the collapse itself rides the shared [[repShingleRows]] memo.
    val repRows = repShingleRows(s, dir)
    val sizes = repStats(s, dir).select(col("doc_id"), col("sz"))
    val lists = memo(s, dir, "postings_reps", "w3")(
      repRows.groupBy(col("hg")).agg(collect_list(col("doc_id")).as("ids")))
    val interRare = lists.filter(size(col("ids")).between(2, cap))
      .select(explode(col("ids")).as("a"), col("ids"))
      .select(col("a"), explode(col("ids")).as("b"))
      .filter(col("a") < col("b"))
      .groupBy(col("a"), col("b")).agg(count(lit(1)).as("ir"))
    val prunedPerDoc = lists.filter(size(col("ids")) > cap)
      .select(explode(col("ids")).as("doc_id"))
      .groupBy(col("doc_id")).agg(count(lit(1)).as("np"))
    val stats = sizes.join(prunedPerDoc, Seq("doc_id"), "left")
      .select(col("doc_id"), col("sz"), coalesce(col("np"), lit(0L)).as("np"))
    val cand = interRare
      .join(broadcast(stats.select(col("doc_id").as("a"),
        col("sz").as("na"), col("np").as("pa"))), "a")
      .join(broadcast(stats.select(col("doc_id").as("b"),
        col("sz").as("nb"), col("np").as("pb"))), "b")
      .withColumn("iub", col("ir") + least(col("pa"), col("pb")))
      .filter(round(col("iub").cast("double")
        / (col("na") + col("nb") - col("iub")), 4) >= 0.8)
      .select(col("a"), col("b"))
    expandJaccard(s, dir, verifyCandidates(repRows, sizes, cand, 0.8))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  val q21Sql: String = q20Sql

  // ---------------------------------------------------------------------
  // Near-dup via SimHash

  // ---- portable SimHash hash family (oracle-expressible) ----

  /** Modulus for the per-bit universal hashes: 2³¹−1 (prime). Products
    * a·v stay < 2⁶², so both engines evaluate in exact int64 with no
    * ANSI overflow. */
  private val SimP = 2147483647L

  /** 64 fixed (a, b) pairs for the per-bit family, from a seeded LCG —
    * deterministic constants inlined into BOTH engines' SQL. */
  private val simAB: IndexedSeq[(Long, Long)] = {
    var x = 987654321L
    def next(): Long = { x = (x * 1103515245L + 12345L) % SimP; x }
    (0 until 64).map(_ => (math.max(1L, next()), next()))
  }

  /** Portable trigram value < 2³¹−1 from tokval arithmetic — the same
    * cross-engine trick q86's feature hashing uses, lifted to trigrams.
    * `t0/t1/t2` are SQL expression strings, so one generator serves the
    * Spark plan and (L-suffix-stripped) the DuckDB oracle. */
  private def triValSql(t0: String, t1: String, t2: String): String = {
    import graft.functions.TextFunctions.tokvalSql
    s"""((((${tokvalSql(t0)}) * 31L + (${tokvalSql(t1)})) % ${SimP}L) * 31L
       | + (${tokvalSql(t2)})) % ${SimP}L""".stripMargin
  }

  /** q22's portable trigram value ([[triValSql]]) as a [[Trigrams]]
    * family: the same two-level collapse as the shingle hash, valued so
    * that the DuckDB oracle can replay it. */
  private lazy val PortableTrigrams: Trigrams =
    Trigrams("_tri", "w3,p31", expr(triValSql("tg.t0", "tg.t1", "tg.t2")))

  /** SimHash signatures, relationally (same rationale as minhashSigs):
    * explode shingles, 64 bit-sum aggregates in one groupBy (sum of ±1
    * per bit), then assemble the 64-bit signature in a single
    * projection. The naive nested-lambda version of this measured 583 s
    * at sf0.1; this one is ~1 s. Each bit i is the pairwise-independent
    * hash ((aᵢ·hg + bᵢ) mod p) mod 2 — portable arithmetic instead of an
    * engine-internal hash, which is what makes q22 oracle-able. */
  private def simhashSigs(rows: DataFrame): DataFrame = {
    val bitSums = simAB.zipWithIndex.map { case ((a, b), i) =>
      sum(when(expr(s"((${a}L * hg + ${b}L) % ${SimP}L) % 2 = 1"), 1).otherwise(-1))
        .as(s"s$i")
    }
    val sums = rows.groupBy(col("doc_id")).agg(bitSums.head, bitSums.tail: _*)
    sums.select(col("doc_id"),
      expr((0 until 64).map(i => s"IF(s$i >= 0, shiftleft(1L, $i), 0L)")
        .mkString(" + ")).as("sig"))
  }

  /** SimHash near-dup: 64-bit signature over the shingle set, 8 bands of
    * 8 bits for candidates, Hamming distance ≤ 6 confirms. Band geometry
    * is PIGEONHOLE-COMPLETE for the threshold: ≤ 7 differing bits cannot
    * dirty all 8 bands, so every pair at Hamming ≤ 6 collides in at
    * least one band — candidate generation provably misses nothing the
    * confirm step would accept (4×16 banding could drop Hamming-5/6
    * pairs: 6 flips spread 2+2+1+1). The banded LSH output therefore
    * EQUALS the brute-force all-pairs Hamming filter, which is exactly
    * what the DuckDB oracle computes (per-bit sign aggregates + pair
    * sign-diff count) from the same portable hash family.
    * Scale: identical LSH shape to q20 — groupBy buckets, no O(n²). */
  def q22DedupSimhash(s: SparkSession, dir: String): DataFrame = {
    // duplicate collapse over the PORTABLE trigram-value sets: the
    // signature is a pure function of the set, so identical sets band
    // and confirm once and member pairs re-expand with Hamming 0 intra /
    // inherited Hamming cross.
    val members = setFingerprints(s, dir, PortableTrigrams).select(col("doc_id"), col("fp"))
    val classes = ClassCollapse.classes(members, "doc_id", "fp")
    val repTriRows = repRows(s, dir, PortableTrigrams, classes)
    val sh = memo(s, dir, "simhash_reps", "w3,b64,p31")(simhashSigs(repTriRows))
    val withPos = sh.select(col("doc_id"), col("sig"),
      posexplode(expr("transform(sequence(0, 7), j -> (shiftright(sig, j * 8) & 255L))"))
        .as(Seq("band", "key")))
    // Hamming confirm BEFORE the distinct: band collisions are cheap to
    // re-check (one xor+popcount on values already in the join row) and
    // the filter cuts the distinct's input from every-band-collision
    // (~n²/2^b rows of background pairs) to just the accepted pairs.
    val repPairs = withPos.as("x").join(withPos.as("y"),
        col("x.band") === col("y.band") && col("x.key") === col("y.key") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"),
        expr("CAST(bit_count(x.sig ^ y.sig) AS BIGINT)").as("hamming"))
      .filter(col("hamming") <= 6)
      .distinct()
    ClassCollapse.expandPairs(members, classes, repPairs, "doc_a", "doc_b", "hamming", lit(0L))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** Oracle: brute-force all-pairs SimHash from the same portable hash
    * family — per-doc bit-sign aggregates over the distinct trigram
    * values, then a pair join counting differing signs. Banding
    * completeness (see q22 doc) makes the LSH output equal this exact
    * form. Generated from the same triValSql/simAB constants as the
    * Spark plan, so the two encodings cannot drift. */
  val q22Sql: String = {
    def duck(sql: String): String =
      sql.replaceAll("(\\d)L\\b", "$1").replace("substring", "substr")
    val v = duck(triValSql("tk[i]", "tk[i + 1]", "tk[i + 2]"))
    val sums = simAB.zipWithIndex.map { case ((a, b), i) =>
      s"CAST(SUM(CASE WHEN (($a * v + $b) % $SimP) % 2 = 1 THEN 1 ELSE -1 END) AS BIGINT) AS s$i"
    }.mkString(",\n    ")
    val diffs = (0 until 64)
      .map(i => s"CASE WHEN (a.s$i >= 0) <> (b.s$i >= 0) THEN 1 ELSE 0 END")
      .mkString(" + ")
    // exact-duplicate collapse (the jaccardPairsCteSql idiom): identical
    // texts have identical trigram sets hence identical signatures —
    // the quadratic 64-bit compare runs over one representative per
    // distinct text; cross pairs inherit the reps' hamming, intra pairs
    // are hamming 0 (<= 6 by construction, the engine's own expansion
    // constant), gated on the rep actually having trigrams
    s"""WITH dreps AS MATERIALIZED (
      |  SELECT MIN(doc_id) AS doc_id, COUNT(*) AS mult, text
      |  FROM documents GROUP BY text),
      |dmem AS MATERIALIZED (
      |  SELECT d.doc_id, r.doc_id AS rep
      |  FROM documents d JOIN dreps r ON d.text = r.text),
      |toks AS (
      |  SELECT doc_id, string_split(lower(text), ' ') AS tk FROM dreps),
      |tri AS (
      |  SELECT DISTINCT doc_id, $v AS v
      |  FROM (SELECT doc_id, tk, unnest(range(1, len(tk) - 1)) AS i
      |        FROM toks WHERE len(tk) >= 3)),
      |bits AS (
      |  SELECT doc_id,
      |    $sums
      |  FROM tri GROUP BY doc_id),
      |rpairs AS MATERIALIZED (
      |  SELECT doc_a, doc_b, hamming FROM (
      |    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
      |      CAST($diffs AS BIGINT) AS hamming
      |    FROM bits a JOIN bits b ON a.doc_id < b.doc_id)
      |  WHERE hamming <= 6)
      |SELECT doc_a, doc_b, hamming FROM (
      |  SELECT LEAST(ma.doc_id, mb.doc_id) AS doc_a,
      |    GREATEST(ma.doc_id, mb.doc_id) AS doc_b, r.hamming
      |  FROM rpairs r JOIN dmem ma ON ma.rep = r.doc_a
      |                JOIN dmem mb ON mb.rep = r.doc_b
      |  UNION ALL
      |  SELECT ma.doc_id, mb.doc_id, CAST(0 AS BIGINT)
      |  FROM dmem ma JOIN dmem mb
      |    ON ma.rep = mb.rep AND ma.doc_id < mb.doc_id
      |  JOIN bits ON bits.doc_id = ma.rep)
      |ORDER BY doc_a, doc_b""".stripMargin
  }

  // ---------------------------------------------------------------------
  // Text analysis

  /** Per-language text-quality profile: token counts, type-token ratio,
    * punctuation density, stopword counts. All pure column arithmetic —
    * one pass, one tiny shuffle (5 language groups). */
  def q23TextStats(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .withColumn("toks", tokensOf(col("text")))
      .withColumn("n_tokens", size(col("toks")))
      .withColumn("n_uniq", size(array_distinct(col("toks"))))
      .withColumn("n_punct", regexp_count(col("text"), lit("[^a-z0-9 ]")))
      .withColumn("n_stop",
        expr("size(filter(toks, t -> t IN ('the', 'a', 'of', 'and', 'to', 'in')))"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("total_tokens"),
        round(avg(col("n_tokens")), 4).as("avg_tokens"),
        round(avg(col("n_uniq").cast("double") / col("n_tokens")), 4).as("avg_ttr"),
        sum(col("n_punct")).as("total_punct"),
        sum(col("n_stop")).as("total_stopwords"))
      .orderBy(col("lang"))

  val q23Sql: String =
    """SELECT lang, COUNT(*) AS n_docs,
      |  CAST(SUM(len(string_split(lower(text), ' '))) AS BIGINT) AS total_tokens,
      |  round(AVG(len(string_split(lower(text), ' '))), 4) AS avg_tokens,
      |  round(AVG(CAST(len(list_distinct(string_split(lower(text), ' '))) AS DOUBLE)
      |    / len(string_split(lower(text), ' '))), 4) AS avg_ttr,
      |  CAST(SUM(len(regexp_extract_all(text, '[^a-z0-9 ]'))) AS BIGINT) AS total_punct,
      |  CAST(SUM(len(list_filter(string_split(lower(text), ' '),
      |    t -> t IN ('the', 'a', 'of', 'and', 'to', 'in')))) AS BIGINT) AS total_stopwords
      |FROM documents GROUP BY lang ORDER BY lang""".stripMargin

  /** Language ID by stopword-marker scoring (n-gram-heuristic family):
    * count marker tokens per candidate language, argmax with a fixed
    * priority tiebreak. Output is the (actual, predicted) confusion
    * table. Deterministic, fully SQL-mirrored. */
  def q24LangId(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .withColumn("toks", tokensOf(col("text")))
      .withColumn("s_en", expr("size(filter(toks, t -> t IN ('the', 'a', 'is', 'of')))"))
      .withColumn("s_es", expr("size(filter(toks, t -> t IN ('el', 'los', 'es', 'una')))"))
      .withColumn("s_fr", expr("size(filter(toks, t -> t IN ('le', 'les', 'et', 'une')))"))
      .withColumn("s_de", expr("size(filter(toks, t -> t IN ('der', 'die', 'das', 'und')))"))
      .withColumn("pred_lang",
        expr("""CASE WHEN s_en >= s_es AND s_en >= s_fr AND s_en >= s_de THEN 'en'
               |     WHEN s_es >= s_fr AND s_es >= s_de THEN 'es'
               |     WHEN s_fr >= s_de THEN 'fr'
               |     ELSE 'de' END""".stripMargin))
      .groupBy(col("lang"), col("pred_lang"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("lang"), col("pred_lang"))

  val q24Sql: String =
    """SELECT lang, pred_lang, COUNT(*) AS n FROM (
      |  SELECT lang,
      |    CASE WHEN s_en >= s_es AND s_en >= s_fr AND s_en >= s_de THEN 'en'
      |         WHEN s_es >= s_fr AND s_es >= s_de THEN 'es'
      |         WHEN s_fr >= s_de THEN 'fr'
      |         ELSE 'de' END AS pred_lang
      |  FROM (
      |    SELECT lang,
      |      len(list_filter(string_split(lower(text), ' '), t -> t IN ('the', 'a', 'is', 'of'))) AS s_en,
      |      len(list_filter(string_split(lower(text), ' '), t -> t IN ('el', 'los', 'es', 'una'))) AS s_es,
      |      len(list_filter(string_split(lower(text), ' '), t -> t IN ('le', 'les', 'et', 'une'))) AS s_fr,
      |      len(list_filter(string_split(lower(text), ' '), t -> t IN ('der', 'die', 'das', 'und'))) AS s_de
      |    FROM documents))
      |GROUP BY lang, pred_lang ORDER BY lang, pred_lang""".stripMargin

  /** BPE-ish regex token counting: runs of letters, runs of digits, or
    * single non-alnum marks — the standard pre-tokenizer shape. Per-source
    * totals. */
  def q25TokenCount(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .withColumn("n_tok", regexp_count(lower(col("text")), lit("[a-z]+|[0-9]+|[^a-z0-9\\s]")))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("total_tokens"),
        round(avg(col("n_tok")), 4).as("avg_tokens"), max(col("n_tok")).as("max_tokens"))
      .orderBy(col("source"))

  val q25Sql: String =
    """SELECT source, COUNT(*) AS n_docs,
      |  CAST(SUM(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\s]'))) AS BIGINT) AS total_tokens,
      |  round(AVG(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\s]'))), 4) AS avg_tokens,
      |  MAX(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\s]'))) AS max_tokens
      |FROM documents GROUP BY source ORDER BY source""".stripMargin

  /** Position-weighted rolling-hash fingerprint per document (shape of
    * Rabin-Karp / winnowing content IDs) — built only from cross-engine
    * primitives (length/ascii/substr) so DuckDB reproduces every value. */
  def q26Fingerprint(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .withColumn("toks", tokensOf(col("text")))
      .select(col("doc_id"), fingerprint("toks").as("fp"))
      .orderBy(col("doc_id"))

  val q26Sql: String =
    """SELECT doc_id,
      |  CAST(list_sum(list_transform(range(1, len(ss) + 1),
      |    i -> i * (length(ss[i]) * 1000003 + ascii(ss[i]) * 1009 +
      |              ascii(substr(ss[i], length(ss[i]), 1)) * 31 +
      |              ascii(substr(ss[i], 2, 1))))) % 1000000007 AS BIGINT) AS fp
      |FROM (SELECT doc_id, string_split(lower(text), ' ') AS ss FROM documents)
      |ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------------
  // Composed training-data pipeline

  /** The whole LLM-data cleaning pipeline as one dataflow: quality filter
    * (token-count band) → exact dedup (sha256, keep min doc_id) →
    * near-dup removal (MinHash-LSH candidates, exact-Jaccard ≥ 0.8
    * confirmed, drop the higher doc_id of each pair) → per-language
    * survivor stats. This is the operator composition a 100 TB corpus run
    * executes; every stage is one of the verified operators above chained
    * without materialization barriers. */
  def q50CleanPipeline(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
      .withColumn("n_tokens", size(tokensOf(col("text"))))
      .filter(col("n_tokens").between(10, 2000))
    // exact dedup: canonical survivor per content hash
    val exact = docs.withColumn("h", sha2(col("text"), 256))
      .withColumn("keep",
        row_number().over(org.apache.spark.sql.expressions.Window
          .partitionBy(col("h")).orderBy(col("doc_id"))) === 1)
      .filter(col("keep"))
    // near-dup pairs among exact survivors (reuses the LSH machinery)
    val dropB = q20DedupMinhash(s, dir).select(col("doc_b").as("doc_id")).distinct()
    exact.join(dropB, Seq("doc_id"), "left_anti")
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("total_tokens"))
      .orderBy(col("lang"))
  }

  val q50Sql: String =
    s"""WITH $jaccardPairsCteSql,
      |pairs AS (
      |  SELECT doc_a, doc_b FROM jac WHERE jaccard >= 0.8),
      |exact AS (
      |  SELECT MIN(doc_id) AS doc_id FROM documents
      |  WHERE len(string_split(lower(text), ' ')) BETWEEN 10 AND 2000
      |  GROUP BY sha256(text))
      |SELECT d.lang, COUNT(*) AS n_docs,
      |  CAST(SUM(len(string_split(lower(d.text), ' '))) AS BIGINT) AS total_tokens
      |FROM documents d
      |JOIN exact e ON d.doc_id = e.doc_id
      |WHERE d.doc_id NOT IN (SELECT doc_b FROM pairs)
      |GROUP BY d.lang ORDER BY d.lang""".stripMargin

  // ---------------------------------------------------------------------
  // q88 — benchmark decontamination (n-gram overlap)

  /** The decontamination pass every training corpus needs: measure each
    * document's shingle overlap against a held-out "benchmark" set
    * (here: docs 0–4 stand in for an eval set) and flag high-overlap
    * documents for removal, so evaluation data never leaks into
    * training data. Reuses the memoized hashed-shingle stream; the
    * benchmark's distinct shingles are a broadcast-able set, overlap is
    * one join + count per doc, and docs with zero overlap are kept via
    * the left join (the oracle's list_intersect shape). Exactness
    * argument is q20's: intersecting 64-bit-hashed shingles equals
    * intersecting the raw trigrams barring ~n²/2⁶⁴ collisions.
    * Scale: benchmark sets are small by construction (eval suites);
    * the corpus side streams through one broadcast hash join. */
  def q88Contamination(s: SparkSession, dir: String): DataFrame = {
    val rows = shingleRows(s, dir)
    val sizes = setFingerprints(s, dir).select(col("doc_id"), col("sz"))
    val bench = rows.filter(col("doc_id") < 5).select(col("hg")).distinct()
    val common = rows.filter(col("doc_id") >= 5 && col("doc_id") < 100)
      .join(broadcast(bench), "hg")
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_common"))
    sizes.filter(col("doc_id") >= 5 && col("doc_id") < 100)
      .join(common, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_common"), lit(0L)).as("n_common"),
        round(coalesce(col("n_common"), lit(0L)).cast("double") / col("sz"), 6)
          .as("frac"))
      .orderBy(col("doc_id"))
  }

  val q88Sql: String =
    s"""WITH sh AS ($shingledSql),
      |bench AS (
      |  SELECT list(DISTINCT sg) AS bl FROM (
      |    SELECT unnest(shingles) AS sg FROM sh WHERE doc_id < 5))
      |SELECT doc_id,
      |  CAST(len(list_intersect(shingles, bl)) AS BIGINT) AS n_common,
      |  round(CAST(len(list_intersect(shingles, bl)) AS DOUBLE) / len(shingles), 6) AS frac
      |FROM sh CROSS JOIN bench
      |WHERE doc_id >= 5 AND doc_id < 100 AND len(shingles) > 0
      |ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------------
  // Asymmetric containment dedup (near-substring detection)

  /** Ordered near-containment pairs: containment(a→b) =
    * |S_a ∩ S_b| / |S_a| ≥ 0.9, i.e. doc a's shingle set is (almost)
    * a subset of doc b's — the duplicate class symmetric Jaccard
    * (q20/q21) MISSES: a quote, excerpt, or boilerplate-wrapped copy of
    * a long document has small Jaccard but containment ≈ 1. This is the
    * deduplicating-training-data pass that catches subset duplicates
    * (Lee et al. 2022 run exact substring matching; shingle containment
    * is its set-algebra form).
    *
    * Shape: reuses the SAME memoized shingle stream, per-doc sizes, and
    * posting lists as q21 — candidates come from rare posting lists
    * exploded into ORDERED pairs (both directions, since containment is
    * asymmetric), with the identical sound upper bound
    * I ≤ ir + min(pa, pb); containment = I/na is increasing in I, so
    * for every GENERATED pair the bound-filter never drops a qualifying
    * one. Only bound-passing pairs pay the exact recount against the
    * full index. A 10-shingle floor keeps trivially-contained snippets
    * out (same floor in the oracle).
    *
    * Recall precondition (shared with q21, explicit here per the
    * round-4 advisory because containment's small-na regime makes it
    * more plausible): a CROSS-SET pair is only GENERATED if the two
    * distinct shingle sets share at least one rare shingle (set
    * frequency ≤ cap=64 across DISTINCT sets). A short document
    * consisting entirely of corpus-wide boilerplate — every shingle's
    * posting list pruned — is never paired with a non-identical
    * container. That is the deliberate candidate-generation tradeoff
    * of every postings-based join (all-boilerplate docs are exactly
    * what the dedup pass should drop wholesale, and the q91 repetition
    * filters catch them upstream); raising `cap` trades candidate
    * volume for recall on such docs. The brute-force oracle has no
    * such precondition — the hash gate passing certifies that no
    * qualifying pair in the verified corpus falls into the pruned
    * blind spot. IDENTICAL-set pairs (containment exactly 1.0) are
    * emitted unconditionally via the duplicate-collapse expansion, so
    * the blind spot is strictly smaller than round 4's raw-df form.
    *
    * Duplicate collapse (the q114/q46 production composition):
    * postings, frequencies, candidate generation, and exact
    * verification all run over one REPRESENTATIVE per distinct
    * shingle set ([[setFingerprints]]); member pairs re-expand
    * afterwards — cross-set pairs inherit the representatives' exact
    * containment (same S_a, S_b), intra-set ordered pairs are 1.0 by
    * construction (min-10-shingle floor applied). Pair-stage cost is
    * multiplicity-independent. */
  def q103ContainmentDedup(s: SparkSession, dir: String): DataFrame = {
    val cap = 64
    val tau = 0.9
    val fps = setFingerprints(s, dir)
    val members = fps.select(col("doc_id"), col("fp"))
    val reps = repStats(s, dir)
    val repRows = repShingleRows(s, dir)
    val repSizes = reps.select(col("doc_id"), col("sz"))
    val lists = memo(s, dir, "postings_reps", "w3")(
      repRows.groupBy(col("hg")).agg(collect_list(col("doc_id")).as("ids")))
    val interRare = lists.filter(size(col("ids")).between(2, cap))
      .select(explode(col("ids")).as("a"), col("ids"))
      .select(col("a"), explode(col("ids")).as("b"))
      .filter(col("a") =!= col("b"))
      .groupBy(col("a"), col("b")).agg(count(lit(1)).as("ir"))
    val prunedPerDoc = lists.filter(size(col("ids")) > cap)
      .select(explode(col("ids")).as("doc_id"))
      .groupBy(col("doc_id")).agg(count(lit(1)).as("np"))
    val stats = repSizes.join(prunedPerDoc, Seq("doc_id"), "left")
      .select(col("doc_id"), col("sz"), coalesce(col("np"), lit(0L)).as("np"))
    val cand = interRare
      .join(broadcast(stats.select(col("doc_id").as("a"),
        col("sz").as("na"), col("np").as("pa"))), "a")
      .join(broadcast(stats.select(col("doc_id").as("b"), col("np").as("pb"))), "b")
      .filter(col("na") >= 10)
      .withColumn("iub", col("ir") + least(col("pa"), col("pb")))
      .filter(col("iub").cast("double") / col("na") >= tau)
      .select(col("a"), col("b"))
    val invA = repRows.select(col("doc_id").as("a"), col("hg"))
    val invB = repRows.select(col("doc_id").as("b"), col("hg"))
    val repPairs = broadcast(cand).join(invA, "a").join(invB, Seq("b", "hg"))
      .groupBy(col("a"), col("b")).agg(count(lit(1)).as("inter"))
      .join(repSizes.select(col("doc_id").as("a"), col("sz").as("na")), "a")
      .filter(col("inter").cast("double") / col("na") >= tau)
      .select(col("a"), col("b"),
        round(col("inter").cast("double") / col("na"), 4).as("containment"))
    // expansion: ordered cross-set member pairs keep the reps' exact
    // value; intra-set ordered pairs are identical sets -> 1.0
    val repFp = reps.select(col("doc_id"), col("fp"))
    val cross = repPairs
      .join(repFp.select(col("doc_id").as("a"), col("fp").as("fpa")), "a")
      .join(repFp.select(col("doc_id").as("b"), col("fp").as("fpb")), "b")
      .join(members.select(col("doc_id").as("doc_inner"), col("fp").as("fpa")), "fpa")
      .join(members.select(col("doc_id").as("doc_outer"), col("fp").as("fpb")), "fpb")
      .select(col("doc_inner"), col("doc_outer"), col("containment"))
    val intra = members.join(
        reps.filter(col("mult") >= 2 && col("sz") >= 10)
          .select(col("fp"), col("mult")), "fp")
      .as("x").join(members.as("y"),
        col("x.fp") === col("y.fp") && col("x.doc_id") =!= col("y.doc_id"))
      .select(col("x.doc_id").as("doc_inner"), col("y.doc_id").as("doc_outer"),
        lit(1.0).as("containment"))
    cross.unionByName(intra)
      .orderBy(col("doc_inner"), col("doc_outer"))
  }

  val q103Sql: String =
    // postings-join containment (the q20Sql rewrite, directed), with
    // the same exact-duplicate collapse as jaccardPairsCteSql: the
    // directed pair stage runs over one representative per distinct
    // text; cross member pairs inherit the reps' exact containment,
    // intra pairs are identical sets (containment n/n = exactly 1.0,
    // emitted in both directions like the engine's expansion, gated on
    // the same mult >= 2 and set-size >= 10)
    s"""WITH dreps AS MATERIALIZED (
      |  SELECT MIN(doc_id) AS doc_id, COUNT(*) AS mult, text
      |  FROM documents GROUP BY text),
      |dmem AS MATERIALIZED (
      |  SELECT d.doc_id, r.doc_id AS rep
      |  FROM documents d JOIN dreps r ON d.text = r.text),
      |sh AS (${shingledFromSql("dreps")}),
      |sz AS (SELECT doc_id, len(shingles) AS n FROM sh),
      |post AS (SELECT doc_id, unnest(shingles) AS g FROM sh),
      |isect AS (
      |  SELECT a.doc_id AS ri, b.doc_id AS ro, COUNT(*) AS i
      |  FROM post a JOIN post b ON a.g = b.g AND a.doc_id <> b.doc_id
      |  GROUP BY 1, 2),
      |rcont AS MATERIALIZED (
      |  SELECT ri, ro, round(CAST(i AS DOUBLE) / sa.n, 4) AS containment
      |  FROM isect JOIN sz sa ON ri = sa.doc_id
      |  WHERE sa.n >= 10 AND CAST(i AS DOUBLE) / sa.n >= 0.9)
      |SELECT doc_inner, doc_outer, containment FROM (
      |  SELECT ma.doc_id AS doc_inner, mb.doc_id AS doc_outer, r.containment
      |  FROM rcont r JOIN dmem ma ON ma.rep = r.ri
      |               JOIN dmem mb ON mb.rep = r.ro
      |  UNION ALL
      |  SELECT ma.doc_id, mb.doc_id, CAST(1.0 AS DOUBLE)
      |  FROM dreps g
      |  JOIN sz ON sz.doc_id = g.doc_id AND sz.n >= 10
      |  JOIN dmem ma ON ma.rep = g.doc_id
      |  JOIN dmem mb ON mb.rep = g.doc_id AND ma.doc_id <> mb.doc_id
      |  WHERE g.mult >= 2)
      |ORDER BY doc_inner, doc_outer""".stripMargin

  // ---------------------------------------------------------------------
  // Prefix-filtered set-similarity join (PPJoin-style)

  /** Same near-dup semantics as q20/q21 (exact Jaccard ≥ 0.8 pairs,
    * same oracle), THIRD candidate generator: prefix filtering — the
    * classic exact set-similarity-join algorithm (Chaudhuri et al.
    * 2006 SSJoin / Xiao et al. 2008 PPJoin). Order every doc's
    * shingles by a GLOBAL canonical order (ascending document
    * frequency, so prefixes hold the rarest shingles); if
    * J(A,B) ≥ t, A and B must share a shingle within their first
    * |S| − ⌈t·|S|⌉ + 1 entries — so only PREFIX tokens join, and the
    * candidate volume is Σ df_prefix² over the rarest slice of the
    * index instead of Σ df² over all of it. Exact verification on
    * survivors keeps emitted values exact (shared recount machinery).
    *
    * Shape: one df aggregate (broadcast back onto the shingle stream
    * via the hash — vocabulary-sized at the rare end only after the
    * prefix cut), a per-doc rank window (partitions are docs:
    * bounded), prefix self-join on the shingle hash, distinct, then
    * the recount. Ceil via integer arithmetic: ⌈t·n⌉ with t = 0.8 is
    * (4n + 4) DIV 5. */
  def q114PrefixJoin(s: SparkSession, dir: String): DataFrame = {
    // -- exact-duplicate collapse (the production composition) ----------
    // Web-scale corpora are 30-60% byte-identical copies, and every
    // pair-generation stage pays Σ multiplicity² for them (measured: the
    // 10×-replicated sf1 stress corpus put q114 at 125 s, 25% of the
    // whole registry). Identical shingle SETS have identical Jaccard
    // against every other doc, so the quadratic candidate stage only
    // needs one REPRESENTATIVE per set; member pairs are re-expanded
    // afterwards, output bit-identical. Set identity via the shared
    // [[setFingerprints]] memo (also feeds q103).
    val repRows = repShingleRows(s, dir)
    val repSizes = repStats(s, dir).select(col("doc_id"), col("sz"))

    // -- prefix-filter candidate generation over representatives --------
    val prefixes = memo(s, dir, "prefixes_reps", "w3,t0.8") {
      val df = repRows.groupBy(col("hg")).agg(count(lit(1)).as("df"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("doc_id")).orderBy(col("df"), col("hg"))
      repRows.join(df, "hg")
        .withColumn("rk", row_number().over(w))
        .join(repSizes, "doc_id")
        // prefix length |S| - ceil(0.8|S|) + 1, all integer arithmetic
        .filter(col("rk") <= expr("sz - (sz * 4 + 4) DIV 5 + 1"))
        .select(col("doc_id"), col("hg"))
    }
    val cand = prefixes.as("x").join(prefixes.as("y"),
        col("x.hg") === col("y.hg") && col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("a"), col("y.doc_id").as("b"))
      .distinct()
    // cross-set member pairs inherit the representatives' exact Jaccard;
    // intra-set pairs are identical sets, J = 1.0 ≥ t by construction
    expandJaccard(s, dir, verifyCandidates(repRows, repSizes, cand, 0.8))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** Same output contract as q20/q21 → same brute-force oracle. */
  val q114Sql: String = q20Sql

  // ---------------------------------------------------------------------
  // Incremental dedup (new batch vs existing corpus index)

  /** The daily-ingest dedup path: an arriving batch (doc_id ≥ 400) is
    * checked against the EXISTING corpus index (doc_id < 400) — per new
    * doc, its best-matching indexed doc by exact Jaccard and a dup
    * verdict at 0.8, NULLs when it shares no shingle with the corpus.
    *
    * Shape: the new batch's shingles equi-join the corpus posting
    * stream on the shingle hash (the index side is the big one at
    * scale — the join shuffles on hg exactly like q21's candidate
    * generation, and the production path adds q21's df-cap pruning for
    * stop-shingles); one count aggregate per (new, old) pair, sizes
    * joined in, and the per-new-doc argmax is a window over doc_id
    * (candidates per doc are bounded by its shingle df's). Everything
    * downstream of the shared [[shingleRows]] memo. */
  def q112IncrementalDedup(s: SparkSession, dir: String): DataFrame = {
    val cut = 400L
    // Two-level collapse, class-level scoring: a new doc's Jaccard to an
    // old doc is a function of their shingle SETS, so every member of a
    // text class shares one score row and one argmax — the big (new)
    // side of the hg join runs once per DISTINCT text, and members
    // expand only at the end. The old side stays member-level (old docs
    // are individually addressable candidates) but is bounded by the
    // cut (first 400 doc_ids at every SF). Tie-breaks are unchanged:
    // identical j per class, ROW_NUMBER ordered by (j desc, old_id).
    val members = textMembers(s, dir)
    val repRows = repTextRows(s, dir)
    val clsSizes = repRows.groupBy(col("tfp")).agg(count(lit(1)).as("sz"))
    val oldRows = members.filter(col("doc_id") < cut)
      .join(repRows, "tfp").select(col("doc_id").as("old_id"), col("hg"))
    val newCls = members.filter(col("doc_id") >= cut).select(col("tfp")).distinct()
    val inter = repRows.join(newCls, Seq("tfp"), "left_semi")
      .join(oldRows, "hg")
      .groupBy(col("tfp"), col("old_id")).agg(count(lit(1)).as("i"))
    val oldSizes = members.filter(col("doc_id") < cut)
      .join(clsSizes, "tfp").select(col("doc_id").as("old_id"), col("sz").as("nb"))
    val scored = inter
      .join(clsSizes.select(col("tfp"), col("sz").as("na")), "tfp")
      .join(broadcast(oldSizes), "old_id")
      .select(col("tfp"), col("old_id"),
        round(col("i").cast("double") / (col("na") + col("nb") - col("i")), 4).as("j"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("tfp")).orderBy(col("j").desc, col("old_id"))
    val best = scored.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
    members.filter(col("doc_id") >= cut)
      .join(clsSizes.select(col("tfp")), Seq("tfp"), "left_semi") // docs with >=1 shingle
      .join(best.select(col("tfp"), col("old_id"), col("j")), Seq("tfp"), "left")
      .select(col("doc_id"),
        coalesce(col("j") >= 0.8, lit(false)).as("is_dup"),
        col("old_id").as("best_match"), col("j").as("best_j"))
      .orderBy(col("doc_id"))
  }

  val q112Sql: String =
    s"""WITH sh AS ($shingledSql),
      |nw AS (SELECT doc_id, len(shingles) AS n FROM sh
      |       WHERE doc_id >= 400 AND len(shingles) > 0),
      |old AS (SELECT doc_id AS old_id, len(shingles) AS n FROM sh
      |        WHERE doc_id < 400 AND len(shingles) > 0),
      |post AS (SELECT doc_id, unnest(shingles) AS g FROM sh),
      |isect AS (
      |  SELECT a.doc_id, b.doc_id AS old_id, COUNT(*) AS i
      |  FROM post a JOIN post b ON a.g = b.g
      |    AND a.doc_id >= 400 AND b.doc_id < 400
      |  GROUP BY 1, 2),
      |j AS (
      |  SELECT isect.doc_id, isect.old_id,
      |    round(CAST(i AS DOUBLE) / (nw.n + old.n - i), 4) AS j
      |  FROM isect JOIN nw ON isect.doc_id = nw.doc_id
      |             JOIN old ON isect.old_id = old.old_id),
      |best AS (
      |  SELECT doc_id, old_id, j,
      |    ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY j DESC, old_id) AS rn
      |  FROM j)
      |SELECT nw.doc_id, COALESCE(b.j >= 0.8, false) AS is_dup,
      |  b.old_id AS best_match, b.j AS best_j
      |FROM nw LEFT JOIN best b ON nw.doc_id = b.doc_id AND b.rn = 1
      |ORDER BY nw.doc_id""".stripMargin

  // ---------------------------------------------------------------------
  // Sliding-window document chunking

  /** Fixed-window token chunking with stride — the context-window prep
    * every pre-training pipeline runs (window 64 tokens, stride 48 →
    * 16-token overlap between consecutive chunks; the tail chunk may be
    * short). One `sequence` explode per doc generates chunk starts
    * (rows ∝ Σ tokens/stride — linear, no window function, no join);
    * the chunk text is a local array slice + join, so the whole pass is
    * scan-shaped and embarrassingly parallel across docs. Contrast q106
    * (sequence PACKING, which concatenates short docs into fixed-size
    * training examples): chunking SPLITS long docs, packing MERGES
    * short ones; real pipelines run both. */
  def q129DocChunking(s: SparkSession, dir: String): DataFrame = {
    val W = 64; val S = 48
    Tables.documents(s, dir)
      .select(col("doc_id"), tokensOf(col("text")).as("toks"))
      .filter(size(col("toks")) >= 1)
      .select(col("doc_id"), col("toks"),
        explode(sequence(lit(1), size(col("toks")), lit(S))).as("start"))
      .select(col("doc_id"),
        ((col("start") - 1) / S).cast("long").as("chunk_id"),
        slice(col("toks"), col("start"), lit(W)).as("ctoks"))
      .select(col("doc_id"), col("chunk_id"),
        size(col("ctoks")).cast("long").as("n_tokens"),
        array_join(col("ctoks"), " ").as("chunk_text"))
      .orderBy(col("doc_id"), col("chunk_id"))
  }

  val q129Sql: String =
    """WITH t AS (
      |  SELECT doc_id, string_split(lower(text), ' ') AS tk FROM documents),
      |s AS (
      |  SELECT doc_id, tk, unnest(range(1, len(tk) + 1, 48)) AS start
      |  FROM t WHERE len(tk) >= 1)
      |SELECT doc_id, CAST((start - 1) // 48 AS BIGINT) AS chunk_id,
      |  CAST(len(tk[start:start + 63]) AS BIGINT) AS n_tokens,
      |  array_to_string(tk[start:start + 63], ' ') AS chunk_text
      |FROM s ORDER BY doc_id, chunk_id""".stripMargin

  // ---------------------------------------------------------------------
  // Span-level duplicate detection (substring dedup)

  /** Substring-level duplication audit, the relational shape of
    * exact-substring training-data dedup (Lee et al., "Deduplicating
    * Training Data Makes Language Models Better"): every 8-token
    * sliding span of every document is inventoried, and a span
    * POSITION counts as duplicated when the same 8-gram occurs in at
    * least one OTHER document. Per doc the report is (total spans,
    * duplicated-span positions) — the signal an operator uses to cut
    * repeated boilerplate that document-level Jaccard never sees
    * (two long docs sharing one paragraph sit far below any doc-level
    * threshold).
    *
    * Shape: the span stream is built exactly like [[shingleRows]] —
    * arrays_zip of 8 token-array slices → explode → one xxhash64 per
    * position (16-byte rows into the shuffle, span text never
    * materialized; the 64-bit-collision stance is shingleRows').
    * Then ONE groupBy(span, doc) partial-aggregates positions, a
    * second span-keyed aggregate counts docs per span (map-side
    * partials collapse a hot span to one row per task BEFORE the
    * shuffle), an equi-join re-attaches the doc count (AQE's skew
    * join splits the partition of a boilerplate span that infects
    * millions of docs — a window over the same partitioning would
    * have neither the partials nor the skew split), and a final
    * doc-keyed aggregate emits the audit. No pair expansion anywhere
    * — cost is linear in Σ tokens (contrast any pair-emitting design,
    * which pays the quadratic on exactly the boilerplate spans).
    *
    * The per-doc audit is doc-count-sized output of an expensive pass
    * — memoized like the other shared small-output passes
    * (dedup_clusters, pq_codes); q138's overlap matrix reads the same
    * table. */
  /** One row per 8-token span POSITION: (doc_id, span hash). Corpus-
    * sized — deliberately never persisted (re-deriving from the
    * columnar scan beats spilling it; STRESS_r5 note). */
  private def spanRows(s: SparkSession, dir: String): DataFrame = {
    val K = 8
    val n = size(col("toks"))
    Tables.documents(s, dir)
      .select(col("doc_id"), tokensOf(col("text")).as("toks"))
      .filter(n >= K)
      .select(col("doc_id"), explode(arrays_zip(
        (0 until K).map(i => slice(col("toks"), lit(i + 1), n - (K - 1)).as(s"t$i")): _*)).as("tg"))
      .select(col("doc_id"), xxhash64((0 until K).map(i => col(s"tg.t$i")): _*).as("span"))
  }

  private[queries] def spanAudit(s: SparkSession, dir: String): DataFrame =
    graft.PlanCache.memo(s, dir, "span_audit", "k8") {
      val perDoc = spanRows(s, dir).groupBy(col("span"), col("doc_id"))
        .agg(count(lit(1)).as("npos"))
      val spanDocs = perDoc.groupBy(col("span"))
        .agg(count(lit(1)).as("ndocs"))
      perDoc.join(spanDocs, "span")
        .groupBy(col("doc_id"))
        .agg(graft.Oracle.lsum(col("npos")).as("n_spans"),
          sum(when(col("ndocs") >= 2, col("npos")).otherwise(lit(0L))).as("n_dup_spans"))
    }

  def q133DuplicateSpans(s: SparkSession, dir: String): DataFrame =
    spanAudit(s, dir).orderBy(col("doc_id"))

  /** Shared CTE chain of the q133/q138 oracles: spans → doc counts →
    * per-doc audit as one `spstat` relation (q70's clustersCteSql
    * composition stance: never post-hoc string surgery, never a
    * pasted copy that drifts when span geometry changes). */
  private[queries] val spanAuditCtesSql: String =
    """toks AS (
      |  SELECT doc_id, string_split(lower(text), ' ') AS ts FROM documents
      |  WHERE len(string_split(lower(text), ' ')) >= 8),
      |pos AS (SELECT doc_id, ts, unnest(range(1, len(ts) - 6)) AS i FROM toks),
      |spans AS (SELECT doc_id, array_to_string(ts[i:i + 7], ' ') AS span FROM pos),
      |sd AS (SELECT span, COUNT(DISTINCT doc_id) AS ndocs FROM spans GROUP BY 1),
      |spstat AS (
      |  SELECT s.doc_id, COUNT(*) AS n_spans,
      |    CAST(SUM(CASE WHEN sd.ndocs >= 2 THEN 1 ELSE 0 END) AS BIGINT)
      |      AS n_dup_spans
      |  FROM spans s JOIN sd USING (span) GROUP BY 1)""".stripMargin

  val q133Sql: String =
    s"""WITH $spanAuditCtesSql
      |SELECT doc_id, n_spans, n_dup_spans FROM spstat ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------------
  // q145 — per-source shingle novelty (source-level redundancy)

  /** Mixture design needs a SOURCE-level redundancy signal before any
    * per-document dedup runs: for each source, what fraction of its
    * distinct trigram shingles appears in NO other source. A crawl
    * slice that is 90% shared boilerplate gets its mixture weight cut
    * wholesale; a high-novelty source earns upsampling. Rides the
    * memoized [[shingleRows]] pass (the doc→shingle inventory is
    * computed once per session for the whole dedup family), then two
    * aggregates and one AQE-splittable equi-join — the q133 hot-key
    * stance, since one boilerplate shingle can appear in every source.
    * Identity is the 64-bit shingle hash on the engine side and the
    * trigram string in the oracle — same equivalence classes
    * (shingleRows' collision stance). */
  def q145SourceNovelty(s: SparkSession, dir: String): DataFrame = {
    val srcs = Tables.documents(s, dir).select(col("doc_id"), col("source"))
    val srcSh = shingleRows(s, dir).join(srcs, "doc_id")
      .select(col("source"), col("hg")).distinct()
    val spread = srcSh.groupBy(col("hg")).agg(count(lit(1)).as("nsrc"))
    srcSh.join(spread, "hg")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_shingles"),
        sum(when(col("nsrc") === 1, 1L).otherwise(0L)).as("n_unique"))
      .select(col("source"), col("n_shingles"), col("n_unique"),
        round(col("n_unique").cast("double") / col("n_shingles"), 6).as("novelty"))
      .orderBy(col("source"))
  }

  val q145Sql: String =
    s"""WITH sh AS ($shingledSql),
      |srcsh AS (
      |  SELECT DISTINCT d.source, x.sg
      |  FROM (SELECT doc_id, unnest(shingles) AS sg FROM sh) x
      |  JOIN documents d USING (doc_id)),
      |spread AS (SELECT sg, COUNT(*) AS nsrc FROM srcsh GROUP BY 1)
      |SELECT source, COUNT(*) AS n_shingles,
      |  CAST(SUM(CASE WHEN nsrc = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_unique,
      |  round(CAST(SUM(CASE WHEN nsrc = 1 THEN 1 ELSE 0 END) AS DOUBLE)
      |    / COUNT(*), 6) AS novelty
      |FROM srcsh JOIN spread USING (sg)
      |GROUP BY 1 ORDER BY 1""".stripMargin

  // ---------------------------------------------------------------------
  // q146 — span duplication spectrum (the Lee et al. headline curve)

  /** HOW MUCH text is duplicated HOW MANY times: the distribution of
    * 8-token spans by the number of documents they appear in — the
    * figure the exact-substring-dedup paper leads with, and the
    * number that decides whether span dedup is worth running at all
    * (a corpus whose mass sits at ndocs = 1 doesn't need it). One row
    * per multiplicity: distinct spans at that spread and total
    * positions they occupy.
    *
    * Deliberately a SPECTRUM, not a top-spans listing: per-span output
    * would need a cross-engine tiebreak on the span identity itself,
    * and the engine's 64-bit hash and the oracle's string sort
    * differently — aggregating by multiplicity keeps the result
    * deterministic by construction. Shape: two nested aggregates over
    * the span stream (both map-side combinable; the span-keyed first
    * phase is the same partial-aggregation story as q133) and a
    * final multiplicity-keyed rollup whose cardinality is the max doc
    * count of any span — tiny at any corpus size. */
  def q146SpanSpectrum(s: SparkSession, dir: String): DataFrame =
    spanRows(s, dir)
      .groupBy(col("span"))
      .agg(countDistinct(col("doc_id")).as("ndocs"), count(lit(1)).as("npos"))
      .groupBy(col("ndocs"))
      .agg(count(lit(1)).as("n_spans"), graft.Oracle.lsum(col("npos")).as("n_positions"))
      .orderBy(col("ndocs"))

  val q146Sql: String =
    s"""WITH $spanAuditCtesSql,
      |per_span AS (
      |  SELECT span, COUNT(DISTINCT doc_id) AS ndocs, COUNT(*) AS npos
      |  FROM spans GROUP BY 1)
      |SELECT ndocs, COUNT(*) AS n_spans,
      |  CAST(SUM(npos) AS BIGINT) AS n_positions
      |FROM per_span GROUP BY 1 ORDER BY 1""".stripMargin

  // ---------------------------------------------------------------------
  // q147 — segment-level dedup with document reconstruction (CCNet lines)

  /** CCNet-style LINE-level dedup, the REWRITE companion of q133's
    * span audit: q133 reports where duplicated text sits; this
    * operator actually removes it and rebuilds the documents. Text is
    * segmented into consecutive 10-token units (the stand-in for
    * newline-delimited lines, which the fixture corpus lacks); a
    * segment occurring in two or more documents is dropped from ALL of
    * them (CCNet's rule — shared boilerplate has no privileged owner),
    * and each document is reassembled from its surviving segments in
    * original order. Output per doc: segment counts and the md5 of the
    * reconstructed text, so the oracle pins the rebuilt corpus
    * byte-for-byte without shipping full texts through the gate.
    *
    * Shape: segmentation is scan-local (one `transform(sequence(...))`
    * per doc — work linear in tokens); segment doc-frequency is the
    * q133 aggregate stance (per-(seg, doc) partials collapse hot
    * boilerplate before the shuffle, countDistinct over the collapsed
    * rows); the frequency re-attaches via an AQE-skew-splittable
    * equi-join; reconstruction is one doc-keyed aggregate whose
    * sort_array(collect_list) holds ONE document's segments — bounded
    * by doc length, never corpus-shaped. No pair expansion anywhere. */
  def q147SegmentDedup(s: SparkSession, dir: String): DataFrame = {
    val SEG = 10
    val segs = Tables.documents(s, dir)
      .select(col("doc_id"), tokensOf(col("text")).as("toks"))
      .select(col("doc_id"), posexplode(expr(
        s"""transform(sequence(1, size(toks), $SEG),
           |  st -> array_join(slice(toks, st, $SEG), ' '))""".stripMargin))
        .as(Seq("seg_id", "seg")))
    val segFreq = segs.groupBy(col("seg"))
      .agg(countDistinct(col("doc_id")).as("ndocs"))
    segs.join(segFreq, "seg")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_segs"),
        sum(when(col("ndocs") >= 2, 1L).otherwise(0L)).as("n_dropped"),
        // collect_list skips the nulls the `when` leaves on duplicated
        // segments; sort by seg_id restores document order
        md5(array_join(transform(
          sort_array(collect_list(when(col("ndocs") < 2,
            struct(col("seg_id"), col("seg"))))),
          p => p.getField("seg")), " ")).as("kept_md5"))
      .orderBy(col("doc_id"))
  }

  val q147Sql: String =
    """WITH t AS (
      |  SELECT doc_id, string_split(lower(text), ' ') AS tk FROM documents),
      |s AS (SELECT doc_id, tk, unnest(range(1, len(tk) + 1, 10)) AS st FROM t),
      |segs AS (
      |  SELECT doc_id, CAST((st - 1) // 10 AS BIGINT) AS seg_id,
      |    array_to_string(tk[st:st + 9], ' ') AS seg FROM s),
      |df AS (SELECT seg, COUNT(DISTINCT doc_id) AS ndocs FROM segs GROUP BY 1)
      |SELECT doc_id, COUNT(*) AS n_segs,
      |  CAST(SUM(CASE WHEN ndocs >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped,
      |  md5(COALESCE(string_agg(CASE WHEN ndocs < 2 THEN seg END, ' '
      |    ORDER BY seg_id), '')) AS kept_md5
      |FROM segs JOIN df USING (seg)
      |GROUP BY doc_id ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------------
  // q150 — winnowing fingerprints (MOSS local document sketches)

  /** Winnowing (Schleimer/Wilkerson/Aiken, the MOSS algorithm): slide a
    * w = 4 window over the stream of k = 5-gram hashes and keep each
    * window's MINIMUM as a fingerprint — a position-robust document
    * sketch that guarantees any shared run of ≥ w + k − 1 tokens
    * contributes at least one common fingerprint, at a fraction of the
    * full k-gram inventory's size. The report per doc: k-gram/window
    * counts, distinct fingerprints kept (the sketch size), fingerprints
    * shared with any other document (the plagiarism/boilerplate
    * signal), and the selection density.
    *
    * Variant note: fingerprints are the distinct window-min VALUES
    * (hash-set winnowing); trailing windows shorter than w are kept, so
    * every k-gram position heads exactly one window and n_windows =
    * n_kgrams — both choices mirror trivially in SQL, keeping the whole
    * operator under the hash gate. The k-gram hash is a portable
    * polynomial over the q26 token values (every step the same BIGINT
    * op in both engines — xxhash64 would be opaque to the oracle).
    *
    * Shape: hashing is scan-local off one arrays_zip explode
    * ([[spanRows]]' geometry); the window min runs per doc (bounded
    * partitions); sharing counts are the q133 docfreq join, AQE-
    * splittable on a boilerplate fingerprint.
    *
    * Collapse (the r11 sf100 lesson, applied here in r12): every
    * per-doc output column is TEXT-CLASS-invariant — identical texts
    * have identical k-gram streams, window minima, and fingerprint
    * sets — so the hash + window + distinct pipeline runs once per
    * DISTINCT text ([[textMembers]] representative), and the only
    * member-level arithmetic is the docfreq weighting: ndocs per
    * fingerprint = Σ class sizes over the classes carrying it, which
    * equals the member-level COUNT(*) exactly. Output bit-identical
    * (re-gated vs the same oracle at sf0.01 and sf0.1); cost scales
    * with distinct corpus bytes. */
  def q150Winnowing(s: SparkSession, dir: String): DataFrame = {
    val K = 5; val W = 4
    val members = textMembers(s, dir) // (doc_id, tfp)
    val classes = ClassCollapse.classes(members, "doc_id", "tfp")
    val n = size(col("toks"))
    val kg = Tables.documents(s, dir)
      .join(classes.select(col("doc_id"), col("tfp")), "doc_id")
      .select(col("tfp"), tokensOf(col("text")).as("toks"))
      .filter(n >= K)
      .select(col("tfp"), posexplode(arrays_zip(
        (0 until K).map(i => slice(col("toks"), lit(i + 1), n - (K - 1)).as(s"t$i")): _*))
        .as(Seq("pos", "tg")))
      .select(col("tfp"), col("pos"),
        (0 until K).foldLeft(lit(0L)) { (acc, i) =>
          pmod(acc * lit(POLY_B) +
            pmod(expr(graft.functions.TextFunctions.tokvalSql(s"tg.t$i")), lit(POLY_P)),
            lit(POLY_P))
        }.as("kg"))
    val wcls = org.apache.spark.sql.expressions.Window
      .partitionBy(col("tfp")).orderBy(col("pos"))
    val fps = kg
      .withColumn("wmin", min(col("kg")).over(wcls.rowsBetween(0, W - 1)))
      .select(col("tfp"), col("wmin")).distinct()
    // member-level doc frequency from class sizes: a fingerprint kept by
    // classes {c} is held by Σ mult(c) documents
    val spread = fps.join(classes.select(col("tfp"), col("mult")), "tfp")
      .groupBy(col("wmin")).agg(sum(col("mult")).as("ndocs"))
    val stats = kg.groupBy(col("tfp")).agg(count(lit(1)).as("n_kgrams"))
    val perClass = stats.join(
      fps.join(spread, "wmin")
        .groupBy(col("tfp"))
        .agg(count(lit(1)).as("n_fp"),
          sum(when(col("ndocs") >= 2, 1L).otherwise(0L)).as("n_shared")),
      "tfp")
    members.join(perClass, "tfp")
      .select(col("doc_id"), col("n_kgrams"), col("n_kgrams").as("n_windows"),
        col("n_fp"), col("n_shared"),
        round(col("n_fp").cast("double") / col("n_kgrams"), 6).as("density"))
      .orderBy(col("doc_id"))
  }

  private val POLY_P = 1000000007L
  private val POLY_B = 1000003L

  val q150Sql: String = {
    // the identical polynomial, unrolled: h_i = (h_{i-1}*B + tv_i%P) % P
    val tv0 = graft.functions.TextFunctions.tokvalSql("ts[i]")
      .replaceAll("(\\d)L\\b", "$1").replace("substring", "substr")
    def tvAt(j: Int) = tv0.replace("ts[i]", s"ts[i + $j]")
    val hash = (0 until 5).foldLeft("0") { (acc, j) =>
      s"(($acc) * 1000003 + (${tvAt(j)}) % 1000000007) % 1000000007"
    }
    s"""WITH toks AS (
      |  SELECT doc_id, string_split(lower(text), ' ') AS ts FROM documents
      |  WHERE len(string_split(lower(text), ' ')) >= 5),
      |pos AS (SELECT doc_id, ts, unnest(range(1, len(ts) - 3)) AS i FROM toks),
      |kg AS (SELECT doc_id, i, $hash AS kg FROM pos),
      |w AS (SELECT doc_id, i, MIN(kg) OVER (PARTITION BY doc_id ORDER BY i
      |        ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS wmin FROM kg),
      |fp AS (SELECT DISTINCT doc_id, wmin FROM w),
      |spread AS (SELECT wmin, COUNT(*) AS ndocs FROM fp GROUP BY 1),
      |stats AS (SELECT doc_id, COUNT(*) AS n_kgrams FROM kg GROUP BY 1)
      |SELECT s.doc_id, s.n_kgrams, s.n_kgrams AS n_windows,
      |  COUNT(*) AS n_fp,
      |  CAST(SUM(CASE WHEN ndocs >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_shared,
      |  round(CAST(COUNT(*) AS DOUBLE) / s.n_kgrams, 6) AS density
      |FROM fp JOIN spread USING (wmin) JOIN stats s USING (doc_id)
      |GROUP BY s.doc_id, s.n_kgrams ORDER BY s.doc_id""".stripMargin
  }

  // ---------------------------------------------------------------------
  // q162 — cross-source overlap matrix (who copies from whom)

  /** Pairwise source-overlap matrix over trigram shingles: for every
    * source pair, how many distinct shingles they share and the
    * shingle-set Jaccard — the provenance diagnostic that turns q145's
    * per-source novelty scalar into the full copying structure
    * (mirror-site detection, license-laundering audits).
    *
    * Scale: the pair generation runs on the (source, shingle) DISTINCT
    * table — postings per shingle are bounded by the SOURCE count (tiny
    * and fixed), so the self-join emits ≤ C(|sources|, 2) rows per
    * shingle no matter how big the corpus; the reduce key is the source
    * pair. A corpus with 10⁵ sources would block the join on a
    * postings-length cap (the q21 pruning stance); with 20 it is
    * skew-free by construction. Shingle identity is the 64-bit hash
    * engine-side and the trigram string in the oracle — the shingleRows
    * collision stance. */
  def q162SourceOverlap(s: SparkSession, dir: String): DataFrame = {
    val srcSh = shingleRows(s, dir)
      .join(Tables.documents(s, dir).select(col("doc_id"), col("source")), "doc_id")
      .select(col("source"), col("hg")).distinct()
    val ns = srcSh.groupBy(col("source")).agg(count(lit(1)).as("n"))
    val shared = srcSh.as("x").join(srcSh.as("y"),
        col("x.hg") === col("y.hg") && col("x.source") < col("y.source"))
      .groupBy(col("x.source").as("source_a"), col("y.source").as("source_b"))
      .agg(count(lit(1)).as("shared"))
    shared
      .join(ns.select(col("source").as("source_a"), col("n").as("na")), "source_a")
      .join(ns.select(col("source").as("source_b"), col("n").as("nb")), "source_b")
      .select(col("source_a"), col("source_b"), col("shared"),
        round(col("shared").cast("double") /
          (col("na") + col("nb") - col("shared")), 6).as("jaccard"))
      .orderBy(col("source_a"), col("source_b"))
  }

  val q162Sql: String =
    s"""WITH sh AS ($shingledSql),
      |srcsh AS (
      |  SELECT DISTINCT d.source, x.sg
      |  FROM (SELECT doc_id, unnest(shingles) AS sg FROM sh) x
      |  JOIN documents d USING (doc_id)),
      |ns AS (SELECT source, COUNT(*) AS n FROM srcsh GROUP BY 1),
      |sp AS (SELECT x.source AS source_a, y.source AS source_b,
      |         COUNT(*) AS shared
      |       FROM srcsh x JOIN srcsh y
      |         ON x.sg = y.sg AND x.source < y.source
      |       GROUP BY 1, 2)
      |SELECT source_a, source_b, shared,
      |  round(CAST(shared AS DOUBLE) / (va.n + vb.n - shared), 6) AS jaccard
      |FROM sp JOIN ns va ON va.source = sp.source_a
      |        JOIN ns vb ON vb.source = sp.source_b
      |ORDER BY source_a, source_b""".stripMargin

  // ---------------------------------------------------------------------
  // q155 — blocklist phrase filtering (dictionary scan, Aho-Corasick shape)

  /** Multi-word blocklist filtering: corpora are scrubbed against phrase
    * lists (toxicity, PII patterns, licensing strings) with a
    * dictionary-scan — the dictionary is tiny and broadcast, the corpus
    * is streamed once (the distributed analogue of an Aho-Corasick
    * automaton pass; token-bigram granularity here). The blocklist
    * itself is derived deterministically from a designated source slice
    * (top-20 bigrams of sources src0-src3 — standing in for a curated
    * list, which offline testdata cannot ship), then audited against
    * the WHOLE corpus: per phrase, how many documents and occurrences
    * it hits, across how many sources, and the total character mass of
    * the flagged documents (what a drop-on-match policy would delete).
    *
    * Scale: bigram stream is one scan (the q94 arrays_zip shape, no
    * self-join); the blocklist is vocabulary-bounded (LIMIT 20) and
    * broadcast; flagged-doc mass dedups (doc, phrase) BEFORE joining
    * n_chars so a phrase repeating inside one doc counts its chars
    * once. */
  def q155BlocklistPhrases(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val toks = docs.select(col("doc_id"), col("source"),
      tokensOf(col("text")).as("t"))
    val n = size(col("t"))
    val bi = toks.filter(n >= 2)
      .select(col("doc_id"), col("source"), explode(arrays_zip(
        slice(col("t"), lit(1), n - 1).as("a"),
        slice(col("t"), lit(2), n - 1).as("b"))).as("bg"))
      .filter(col("bg.a") =!= "" && col("bg.b") =!= "")
      .select(col("doc_id"), col("source"),
        concat(col("bg.a"), lit(" "), col("bg.b")).as("phrase"))
    val blocklist = bi
      .filter(col("source").isin("src0", "src1", "src2", "src3"))
      .groupBy(col("phrase")).agg(count(lit(1)).as("list_count"))
      .orderBy(col("list_count").desc, col("phrase")).limit(20)
    val hits = bi.join(broadcast(blocklist), "phrase")
    val docMass = hits.select(col("phrase"), col("doc_id")).distinct()
      .join(docs.select(col("doc_id"), col("n_chars")), "doc_id")
      .groupBy(col("phrase"))
      .agg(count(lit(1)).as("n_docs"),
        graft.Oracle.lsum(col("n_chars")).as("flagged_chars"))
    hits.groupBy(col("phrase"))
      .agg(max(col("list_count")).as("list_count"),
        count(lit(1)).as("n_occurrences"),
        countDistinct(col("source")).as("n_sources"))
      .join(docMass, "phrase")
      .select(col("phrase"), col("list_count"), col("n_occurrences"),
        col("n_docs"), col("n_sources"), col("flagged_chars"))
      .orderBy(col("list_count").desc, col("phrase"))
  }

  val q155Sql: String =
    """WITH toks AS (
      |  SELECT doc_id, source, string_split(lower(text), ' ') AS tk
      |  FROM documents),
      |bi AS (
      |  SELECT doc_id, source, tk[i] || ' ' || tk[i + 1] AS phrase
      |  FROM (SELECT doc_id, source, tk, unnest(range(1, len(tk))) AS i
      |        FROM toks WHERE len(tk) >= 2)
      |  WHERE tk[i] <> '' AND tk[i + 1] <> ''),
      |bl AS (
      |  SELECT phrase, COUNT(*) AS list_count
      |  FROM bi WHERE source IN ('src0', 'src1', 'src2', 'src3')
      |  GROUP BY 1 ORDER BY list_count DESC, phrase LIMIT 20),
      |hits AS (SELECT bi.* , bl.list_count FROM bi JOIN bl USING (phrase)),
      |mass AS (
      |  SELECT phrase, COUNT(*) AS n_docs,
      |    CAST(SUM(n_chars) AS BIGINT) AS flagged_chars
      |  FROM (SELECT DISTINCT phrase, doc_id FROM hits)
      |    JOIN documents USING (doc_id)
      |  GROUP BY 1)
      |SELECT phrase, MAX(list_count) AS list_count,
      |  COUNT(*) AS n_occurrences, MAX(mass.n_docs) AS n_docs,
      |  COUNT(DISTINCT source) AS n_sources,
      |  MAX(mass.flagged_chars) AS flagged_chars
      |FROM hits JOIN mass USING (phrase)
      |GROUP BY phrase
      |ORDER BY list_count DESC, phrase""".stripMargin

  // ---------------------------------------------------------------------
  // q225 — k-anonymity audit over quasi-identifiers

  /** Re-identification risk report — the governance pass a dataset goes
    * through beside PII scrubbing (q75) before release: group documents
    * by their quasi-identifier tuple (lang, source, 64-char length
    * band) and report, per equivalence-class size bucket, how many
    * classes and documents sit there, plus each bucket's share of the
    * corpus. k-anonymity = the smallest class size; documents in
    * classes of size < 5 are the k<5 disclosure-risk mass reviewers
    * act on. All exact integers; the one ratio is a single divide.
    *
    * Scale: one hash aggregate on the quasi tuple, one on class size —
    * both alphabet-bounded; nothing else moves. */
  def q225KAnonymity(s: SparkSession, dir: String): DataFrame = {
    val classes = Tables.documents(s, dir)
      .groupBy(col("lang"), col("source"),
        expr("n_chars div 64").as("len_band"))
      .agg(count(lit(1)).as("class_size"))
    val total = Tables.documents(s, dir).agg(count(lit(1)).as("n_docs"))
    classes.groupBy(col("class_size"))
      .agg(count(lit(1)).as("n_classes"))
      .crossJoin(broadcast(total))
      .select(col("class_size"), col("n_classes"),
        (col("class_size") * col("n_classes")).as("n_docs_in_bucket"),
        round((col("class_size") * col("n_classes")).cast("double") /
          col("n_docs"), 6).as("corpus_share"),
        (col("class_size") < 5).as("below_k5"))
      .orderBy(col("class_size"))
  }

  val q225Sql: String =
    """WITH classes AS (
      |  SELECT lang, source, n_chars // 64 AS len_band, COUNT(*) AS class_size
      |  FROM documents GROUP BY 1, 2, 3),
      |n AS (SELECT COUNT(*) AS n_docs FROM documents)
      |SELECT class_size, COUNT(*) AS n_classes,
      |  class_size * COUNT(*) AS n_docs_in_bucket,
      |  ROUND(CAST(class_size * COUNT(*) AS DOUBLE) / n.n_docs, 6)
      |    AS corpus_share,
      |  class_size < 5 AS below_k5
      |FROM classes CROSS JOIN n
      |GROUP BY class_size, n.n_docs
      |ORDER BY class_size""".stripMargin
}
