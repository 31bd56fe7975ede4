package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Order-stable aggregation helpers.
  *
  * Sums of doubles are not associative, so a double sum's low bits depend
  * on partitioning — unacceptable for an engine whose results are
  * verified by hash against an external oracle, and a real hazard at
  * 100 TB where AQE re-plans change the reduction order. Monetary
  * aggregates are therefore summed as decimals: each term is cast at a
  * scale that covers the term's exact decimal length (2-decimal inputs,
  * 4 for products of two of them, 6 for three), making the per-row cast
  * unambiguous and the sum bit-stable under any partitioning.
  */
object Exact {
  /** The ratio presentation convention shared by the text / dedup /
    * event operators: exact-decimal 4-place rounding, presented as
    * double, so a [0,1]-ish ratio is bit-stable across engines (the
    * decimal→double conversion is the same IEEE nearest on both sides;
    * a decimal output column would string-compare with trailing zeros
    * a float64 oracle lacks). ONE definition on purpose — a precision
    * change must hit every operator at once or oracle exactness
    * silently diverges per operator. */
  def d4(c: Column): Column =
    round(c, 4).cast("decimal(10,4)").cast("double")

  /** [[d4]] for UNBOUNDED magnitudes (running paths, cumulative
    * sums): same 4-place exact rounding, but through DECIMAL(28,4) —
    * headroom to 10^24 — because an ANSI cast to (10,4) ABORTS the
    * query past 10^6, exactly the strong-signal inputs a detector
    * exists for. Same bit-stability argument as [[d4]]. */
  def d4w(c: Column): Column =
    round(c, 4).cast("decimal(28,4)").cast("double")

  /** 4-place presentation of an INTEGER ratio num/den — the tie-free
    * form of [[d4]] for the one input class where d4 is not
    * engine-exact. INPUTS MUST BE INTEGER-VALUED (any numeric type is
    * accepted; operands are normalized first through DECIMAL(38,4)
    * then ROUND(x, 0) — the SAME two-step shape [[ratio4Sql]] runs in
    * DuckDB, so an accidental fractional input takes an identical
    * rounding path in both engines, including a double sitting just
    * under a 4-place decimal tie, where a bare double-side ROUND
    * would see 2.49994999… → 2 while the decimal side sees
    * 2.5000 → 3 — ADVICE r13).
    *
    * ROUND(num/den, 4) on a double can land exactly on a .xxxx5
    * decimal tie whenever den (in lowest terms) is 32·5^t, t ≥ 1 — a
    * terminating decimal the binary double cannot represent — and
    * there Spark's BigDecimal HALF_UP (which reads the double's exact
    * binary expansion) and an oracle's scaled C round (which re-rounds
    * x·10⁴, often onto exactly k+0.5) disagree by one ulp. The sf1
    * replay caught the first live instance (text_lm_score, sum/40000).
    * This form has no tie to disagree on: num·10⁴ is an exact
    * DECIMAL(38,0) — headroom to num < 10³⁴, where the pre-r13 LONG
    * scaling ANSI-aborted at num ≈ 9.2e14, within reach of corpus
    * char/byte totals and of quadratic numerators like n_events² —
    * the single division is one correctly-rounded IEEE op both
    * engines agree on bit-for-bit (decimal→double and the oracle's
    * BIGINT→double are both round-to-nearest of the same integer),
    * ROUND(x, 0) is the hash-proven HALF_UP integer replay, and the
    * final snap of the integer-valued double through DECIMAL(38,0)
    * (not LONG: a ratio itself past 9.2e14 must present, not abort)
    * is exact. The operand normalization through DECIMAL(38,4) sets
    * the ceiling: operands past ~10³⁴ overflow the 4-fraction-digit
    * decimal — Spark (ANSI off) presents NULL while the DuckDB
    * oracle aborts (ADVICE r14). That bound is unreachable for the
    * counters this convention serves (a 10³⁴ byte total is a
    * yotta-scale corpus); if one ever approaches it, normalize
    * through DECIMAL(38,0) first and round fractional ties in a
    * separate pre-pass. Callers guard den > 0 (the d4 sites
    * already do). */
  def ratio4(num: Column, den: Column): Column =
    round((round(num.cast("decimal(38,4)"), 0).cast("decimal(38,0)") * lit(10000L)).cast("double") /
        round(den.cast("decimal(38,4)"), 0).cast("decimal(38,0)").cast("double"), 0)
      .cast("decimal(38,0)").cast("double") / lit(10000.0)

  /** SQL fragment mirroring [[ratio4]] for the DuckDB oracle —
    * shape-for-shape the Spark side: the same ROUND(x, 0) operand
    * normalization, routed through DECIMAL(38,4) because DuckDB's
    * bare ROUND(BIGINT) detours through DOUBLE and corrupts integers
    * past 2⁵³ (measured: 9007199254740993 → ...992), while the
    * decimal round is exact and half-away-from-zero == Spark's
    * HALF_UP for the non-negative inputs the convention serves; the
    * ×10⁴ scaling rides HUGEINT (the DECIMAL(38,0) stand-in). Since
    * r14 the Spark side runs the SAME DECIMAL(38,4)-then-ROUND
    * operand shape (ADVICE r13: a bare double ROUND diverged from
    * this pre-rounded path for doubles just under a 4-place tie), so
    * a fractional operand genuinely rounds identically in both
    * engines, and a numerator past 9.2e14 presents instead of
    * aborting the old form's BIGINT cast. Since r14 EVERY oracle
    * ratio fragment in SparkEntry routes through this helper (the 73
    * hand-inlined BIGINT multiply-first forms — value-identical for
    * their integer operands — were migrated, VERDICT r13 #3), so
    * exactly one definition owns the tie/overflow discipline. */
  def ratio4Sql(num: String, den: String): String =
    s"(CAST(ROUND(CAST(CAST(ROUND(CAST(($num) AS DECIMAL(38,4)), 0) AS HUGEINT)" +
    s" * 10000 AS DOUBLE) / " +
    s"CAST(CAST(ROUND(CAST(($den) AS DECIMAL(38,4)), 0) AS HUGEINT) AS DOUBLE)," +
    s" 0) AS HUGEINT) / 10000.0)"

  /** Cast a double term to an exact decimal at the given scale. */
  def dec(c: Column, scale: Int): Column = c.cast(DecimalType(30, scale))

  /** Partitioning-stable sum of a double expression at the given scale. */
  def dsum(c: Column, scale: Int): Column = sum(dec(c, scale))

  /** Double presentation of a decimal aggregate: round to cents FIRST,
    * then cast. The rounding bounds the unscaled magnitude entering the
    * decimal→double conversion (scale 2 instead of up to 6 = 10^4 more
    * headroom before 2^53), so Spark's one-step BigDecimal conversion
    * and an oracle's unscaled-then-divide conversion stay bit-identical
    * far beyond the tested scale factors. Both engines round decimals
    * half-away-from-zero, so the rounded value itself is exact and
    * engine-independent. */
  def pres(c: Column): Column = round(c, 2).cast("double")
}
