package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Column-level text/vector primitives for the LLM-data-pipeline operators.
  *
  * All of these are pure `org.apache.spark.sql.functions` / SQL-lambda
  * compositions — no UDFs — so every one is distributable as-is; the
  * SQL-lambda folds (`fingerprint`, `dotDouble`, `normDouble`) evaluate
  * interpreted, outside whole-stage codegen. Where an oracle exists, the
  * math is written as an explicit sequential fold so DuckDB can reproduce
  * it bit-for-bit (notably cosine: DuckDB's native
  * `list_cosine_similarity` accumulates in float32 and does NOT match a
  * double fold).
  *
  * Reference context: etl-rust has no text/vector ops (it delegates all
  * analytics to BigQuery, README.md:3); these are the north-star additions
  * from BASELINE.json.
  */
object TextFunctions {

  /** Lowercased whitespace tokens. Mirror: DuckDB `string_split(lower(x),' ')`. */
  def tokensOf(c: Column): Column = split(lower(c), " ")

  /** (doc_id, lang, term): one row per non-empty token with the doc's
    * language carried — the shared term stream of the language-aware
    * corpus queries (q134 DSIR, q137 fertility). One definition so
    * token semantics can never diverge between them. */
  def langTerms(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), col("lang"),
        explode(tokensOf(col("text"))).as("term"))
      .filter(col("term") =!= "")

  // Shingling lives in LlmQueries.shingleRows as a relational pipeline
  // (arrays_zip of slices → explode → xxhash64 → distinct), not here as an
  // array Column: the lambda-transform formulation evaluates interpreted
  // per element and measured ~11 s at sf0.1 vs ~1 s relational.

  // MinHash/SimHash signatures are NOT built here as nested SQL-lambda
  // Columns: nested `aggregate(transform(...))` lambdas evaluate
  // interpreted (outside whole-stage codegen) and re-walk the shingle
  // array once per hash function / per bit — measured 583 s for SimHash
  // alone at sf0.1. SimHash is a native codegen'd kernel over each
  // distinct text's trigram set (SignatureExpressions.simhash, used by
  // LlmQueries.q22DedupSimhash); the relational form it replaced — a
  // re-join to the trigram rows and 64 bit-sum aggregates in one groupBy
  // — measured 1.9-2.3 s per q22 at sf0.1. MinHash is still relational:
  // explode shingles once, hash each once, and compute all k mins as
  // codegen'd aggregates in a single groupBy (LlmQueries.minhashSigs).

  /** Cross-engine token value for the rolling-hash fingerprint. Built only
    * from length/ascii/substring so DuckDB computes the identical number.
    * ascii('') = 0 in both engines (verified), so 1-char tokens are safe. */
  def tokvalSql(t: String): String =
    s"""(length($t) * 1000003L + ascii($t) * 1009L +
       | ascii(substring($t, length($t), 1)) * 31L + ascii(substring($t, 2, 1)))""".stripMargin

  /** Position-weighted rolling-hash document fingerprint over a token
    * array: sum_i (i+1) * tokval(t_i) mod 1e9+7. DuckDB mirror:
    * list_sum(list_transform(range(1, len+1), i -> i * tokval(t[i]))) % p. */
  def fingerprint(toksCol: String): Column =
    expr(s"""aggregate(transform($toksCol, (t, i) ->
            |    (CAST(i AS BIGINT) + 1L) * ${tokvalSql("t")}),
            |  0L, (a, b) -> a + b) % 1000000007L""".stripMargin)

  /** Sequential-fold dot product of two float-array columns in DOUBLE.
    * This exact formulation (cast each element, left fold in array order)
    * is what the DuckDB oracle mirrors with list_sum(list_transform(...)).
    * It is a higher-order function, evaluated interpreted (outside
    * whole-stage codegen); queries use the codegen'd `vec_dot`
    * (VectorExpressions), and this fold serves as its test oracle. */
  def dotDouble(a: String, b: String): Column =
    expr(s"""aggregate(zip_with($a, $b, (x, y) ->
            |  CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), 0D, (acc, v) -> acc + v)""".stripMargin)

  /** L2 norm of a float-array column, double fold, same mirroring rules;
    * interpreted as well — the test oracle of `vec_norm`. */
  def normDouble(a: String): Column =
    sqrt(expr(s"""aggregate($a, 0D, (acc, x) ->
                 |  acc + CAST(x AS DOUBLE) * CAST(x AS DOUBLE))""".stripMargin))
}
