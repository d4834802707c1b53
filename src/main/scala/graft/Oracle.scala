package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Helpers that make floating-point aggregates byte-identical between Spark
  * and the DuckDB oracle (the driver hash-compares values).
  *
  * Double summation is order-dependent; Spark's partial/final aggregation
  * and DuckDB's single-node sum add in different orders, so raw
  * `sum(double)` can differ in the last ulps and fail a hash compare. The
  * fix: round each row to a fixed decimal grid BEFORE aggregating, then sum
  * exactly in decimal. Source values are money-like (2-dp grid), so the
  * per-row cast is lossless in intent and identical in both engines.
  */
object Oracle {
  /** Exact micro-grid sum of a (possibly computed) double column, emitted
    * as DOUBLE. Each row is snapped to the 1e-6 grid by nearest-EVEN
    * rounding of the SAME IEEE double in both engines — JVM `Math.rint(x
    * * 1e6)` (Spark's `rint`) and DuckDB `round_even(x * 1000000.0, 0)`
    * are bit-identical for every finite double (probed on exact-.5 ties,
    * negatives, tiny/large; −0.0 is absorbed by the BIGINT cast on both
    * sides) — then summed as exact integers, which is associative and
    * commutative, so partial/final aggregation order can't shift a bit.
    *
    * This replaces the earlier per-row `CAST(x AS DECIMAL(30,6))` form,
    * whose rounding ran through Spark's BigDecimal vs DuckDB's
    * double-multiply path and could flip 1 ulp at exact .5e-6 boundaries
    * (~1-in-6M-row incidence at sf1: q01 sum_charge, q194 loadings).
    * Here both engines round the identical double on the identical rule.
    *
    * Magnitude bound: the scaled per-row value must stay a representable
    * integer (|x| < 2⁵³/10⁶ ≈ 9.0e9 — far above any row-level measure
    * here) and the scaled SUM must fit int64 (|Σ| < 2⁶³/10⁶ ≈ 9.2e12 —
    * under ANSI mode Spark's long sum THROWS on overflow, a loud
    * detector rather than a silent wrap; q199's squared-deviation sum
    * tripped it at sf0.001 and moved to [[dsumScaled]]). The final
    * int64→double cast and the /1e6 are both correctly-rounded IEEE ops
    * in both engines, hence identical at ANY magnitude — strictly wider
    * than the old decimal bound. DuckDB's SUM(BIGINT) yields HUGEINT,
    * which must be cast back through BIGINT before DOUBLE: hugeint→double
    * is not guaranteed correctly rounded, int64→double is.
    * SQL twin: (CAST(CAST(SUM(CAST(round_even(x * 1000000.0, 0) AS
    * BIGINT)) AS BIGINT) AS DOUBLE) / 1000000.0) */
  def dsum(c: Column): Column = dsumScaled(c, 6)

  /** [[dsum]] at an explicit grid of 10^-s — for sums whose SCALED total
    * would overflow int64 at s=6 (|Σ|·10ˢ must stay < 2⁶³ ≈ 9.2e18; e.g.
    * q199's squared-deviation sum hits 1.1e19 at s=6 on small SFs). A
    * coarser grid trades per-row resolution, not cross-engine agreement:
    * both engines still rint/round_even the identical double. */
  def dsumScaled(c: Column, s: Int): Column = {
    val m = math.pow(10, s) // exact double for 0 <= s <= 22
    sum(rint(c * lit(m)).cast("long")).cast("double") / lit(m)
  }

  /** SQL twin for dsum (DuckDB dialect — `round_even`). */
  def dsumSql(x: String): String = dsumScaledSql(x, 6)

  /** SQL twin for [[dsumScaled]]. */
  def dsumScaledSql(x: String, s: Int): String =
    s"(CAST(CAST(SUM(CAST(round_even(($x) * 1e$s, 0) AS BIGINT)) AS BIGINT) AS DOUBLE) / 1e$s)"

  /** Spark-SQL-dialect twin of [[dsum]], for queries whose ENGINE side is
    * a `spark.sql(...)` text (e.g. GROUPING SETS). Spark's `rint` is
    * JVM Math.rint — the same nearest-even-on-the-double primitive
    * DuckDB's `round_even` implements, so this is bit-identical to both
    * [[dsum]] and [[dsumSql]]. */
  def dsumSparkSql(x: String): String =
    s"(CAST(SUM(CAST(rint(($x) * 1000000.0) AS BIGINT)) AS DOUBLE) / 1000000.0)"

  /** Correctly-rounded (and therefore cross-engine bit-identical)
    * conversion of a wide-integer value — DECIMAL(38,0) on the Spark
    * side, HUGEINT/DECIMAL(38,0) on the DuckDB side — to DOUBLE, for
    * |x| < 2⁷⁵.
    *
    * Why it exists (round-9 advice): DuckDB's direct hugeint→double and
    * decimal(38,0)→double casts are only within-1-ulp, NOT correctly
    * rounded (probed: 8/3200 mismatches vs Python's correctly-rounded
    * int→float on 2⁵³..2¹²⁰ values, and routing through DECIMAL(38,0)
    * first changes nothing — it is hugeint-backed). A 1-ulp divergence
    * under a comparison boundary (q193's SAX letter bands) flips output
    * with no rounding grid to absorb it.
    *
    * The fix decomposes x = sign·(q·2²² + r) with q = |x| div 2²²
    * and r = |x| mod 2²² — both nonnegative integers < 2⁵³, so their
    * int→double conversions are EXACT in any engine; q·2²² is an exact
    * power-of-two scaling, and the single add performs the one rounding
    * of the true value. One rounding of the exact value = correctly
    * rounded, identically in both engines (probed: 800/800 exact on
    * random 2⁵⁴..2⁷⁵ values in DuckDB). The sign multiply is exact.
    *
    * Bound, explicitly ENFORCED (round-10 advice): the correctness
    * argument needs q < 2⁵³, i.e. |x| < 2⁷⁵ ≈ 3.8e22 — but the long
    * cast alone only detects |x| ≥ 2⁸⁵ (q ≥ 2⁶³), so for
    * 2⁷⁵ ≤ |x| < 2⁸⁵ the q cast would be silently inexact — the very
    * 1-ulp wobble this function exists to remove — and under default
    * non-ANSI Spark an overflowing cast yields NULL, not an error.
    * Both twins therefore raise explicitly at |x| ≥ 2⁷⁵ (raise_error /
    * DuckDB error(), lazily evaluated in the CASE branch — probed),
    * so the documented precondition is a loud contract at any scale.
    * SQL twin: [[bigToDoubleSql]]. */
  def bigToDouble(c: Column): Column = {
    val a = abs(c)
    val r = (a % lit(4194304L)).cast("long")
    val q = ((a - a % lit(4194304L)) / lit(4194304L)).cast("long")
    val v = signum(c).cast("double") *
      (q.cast("double") * lit(4194304.0) + r.cast("double"))
    when(a >= lit(new java.math.BigDecimal(TWO_75)),
      raise_error(concat(lit("bigToDouble: |x| >= 2^75 loses correct rounding: "),
        c.cast("string"))).cast("double"))
      .otherwise(v)
  }

  private val TWO_75 = java.math.BigInteger.ONE.shiftLeft(75)

  /** DuckDB twin for [[bigToDouble]] (`//` floor-div on the abs is the
    * same q; hugeint→double is exact below 2⁵³; same loud 2⁷⁵ range
    * contract as the Spark side). */
  def bigToDoubleSql(x: String): String =
    s"(CASE WHEN abs($x) >= $TWO_75 THEN CAST(error('bigToDouble: |x| >= 2^75') AS DOUBLE) " +
      s"ELSE sign($x) * (CAST(abs($x) // 4194304 AS DOUBLE) * 4194304.0 + " +
      s"CAST(abs($x) % 4194304 AS DOUBLE)) END)"

  /** Integer sum emitted as BIGINT on both engines. DuckDB's SUM(BIGINT)
    * returns HUGEINT (int128), which the driver's hash canonicalizes
    * differently from Spark's bigint even at equal values.
    * SQL twin: CAST(SUM(x) AS BIGINT) */
  def lsum(c: Column): Column = sum(c).cast("long")

  /** SQL twin for lsum. */
  def lsumSql(x: String): String = s"CAST(SUM($x) AS BIGINT)"

  /** Average, rounded to 4dp; residual cross-engine FP error is ~1e-9 so a
    * 1e-4 grid makes boundary flips vanishingly unlikely.
    * SQL twin: ROUND(AVG(x), 4) */
  def davg(c: Column): Column = round(avg(c), 4)

  /** Signed-zero-normalized round. DuckDB's round() preserves the IEEE
    * sign bit (a tiny negative rounds to -0.0); Spark's Round goes through
    * java.math.BigDecimal, which has no signed zero, and emits +0.0. The
    * driver's hash distinguishes the two. Adding +0.0 collapses -0.0 to
    * +0.0 (IEEE 754: -0.0 + 0.0 = +0.0) and is exact for every other
    * double, so appending it on BOTH engines makes the grids identical.
    * Required for any rounded output that is not provably nonnegative
    * (covariances, correlations, slopes, log-ratios...).
    * SQL twin: ROUND(x, n) + 0.0 */
  def zround(c: Column, scale: Int): Column = round(c, scale) + lit(0.0)

  /** Rewrites an oracle SQL text so every ROUND(...) call is wrapped as
    * (ROUND(...) + 0.0), collapsing DuckDB's -0.0 to +0.0 to match Spark's
    * BigDecimal-based Round (which never emits a signed zero). Applied to
    * EVERY oracle twin at the SparkEntry.oracleSql boundary, so the -0.0
    * hazard class is closed structurally rather than query by query:
    * whichever tiny-negative value the regenerated testdata lands on a
    * rounding boundary, both engines now agree on +0.0.
    *
    * Safety: all twins round DOUBLE expressions (double + 0.0 = double, so
    * output schemas are unchanged); for intermediates the rewrite IMPROVES
    * parity, because Spark's round already yields +0.0 mid-plan and IEEE
    * sign propagation (e.g. -0.0 * x) would otherwise diverge. Idempotent:
    * a round already followed by `+ 0.0` is left alone. Word-boundary
    * matched, case-insensitive, balanced-paren aware (nested rounds are
    * normalized inside-out). */
  def znormSql(sql: String): String = {
    val sb = new StringBuilder
    var i = 0
    val n = sql.length
    def isWord(ch: Char) = ch.isLetterOrDigit || ch == '_'
    var outStr = false // string-literal state of the OUTER scan: a
    // "round(" inside a quoted literal is data, not a call site
    while (i < n) {
      if (outStr) {
        if (sql.charAt(i) == '\'') outStr = false
        sb.append(sql.charAt(i)); i += 1
      } else if (sql.charAt(i) == '\'') {
        outStr = true
        sb.append(sql.charAt(i)); i += 1
      } else {
      val isRound = i + 6 <= n && sql.regionMatches(true, i, "round(", 0, 6) &&
        (i == 0 || !isWord(sql.charAt(i - 1)))
      if (isRound) {
        // find the matching close paren of this round(
        var depth = 0
        var j = i + 5 // points at '('
        var k = j
        var inStr = false
        var done = -1
        while (k < n && done < 0) {
          val c = sql.charAt(k)
          if (inStr) { if (c == '\'') inStr = false }
          else c match {
            case '\'' => inStr = true
            case '(' => depth += 1
            case ')' => depth -= 1; if (depth == 0) done = k
            case _ =>
          }
          k += 1
        }
        if (done < 0) { sb.append(sql.charAt(i)); i += 1 } // unbalanced: bail char-wise
        else {
          val inner = sql.substring(j + 1, done)
          val callee = sql.substring(i, j) // 'round' in original case
          // idempotence: skip wrapping if already followed by `+ 0.0`
          var t = done + 1
          while (t < n && sql.charAt(t) == ' ') t += 1
          val already = t < n && sql.charAt(t) == '+' && {
            var u = t + 1
            while (u < n && sql.charAt(u) == ' ') u += 1
            sql.regionMatches(false, u, "0.0", 0, 3) &&
              (u + 3 >= n || !sql.charAt(u + 3).isDigit)
          }
          val norm = s"$callee(${znormSql(inner)})"
          if (already) sb.append(norm) else sb.append(s"($norm + 0.0)")
          i = done + 1
        }
      } else { sb.append(sql.charAt(i)); i += 1 }
      }
    }
    sb.toString
  }
}
