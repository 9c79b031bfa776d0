package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Helpers that make floating-point aggregates reproducible across engines.
  *
  * Summing doubles is order-dependent, and Spark's partial aggregation order
  * differs from DuckDB's — so oracle-checked queries never sum raw doubles.
  * Instead: cast each row value to an exact decimal, sum decimals (exact,
  * order-independent), and cast the final result back to double (a
  * deterministic nearest-double conversion in both engines). Per-row double
  * arithmetic (products, differences) IS deterministic — IEEE ops on
  * identical inputs — so expressions may stay in double until aggregation.
  *
  * At 100 TB this costs nothing extra: decimal sums are still algebraic, so
  * map-side partial aggregation and whole-stage codegen are preserved.
  */
object Deterministic {
  // Scale 6: testdata money columns carry exactly 2 decimal digits, so any
  // product of up to three of them has ≤6 — the cast never rounds, and
  // Spark's shortest-string vs DuckDB's exact-value double→decimal
  // conversions cannot disagree (they only diverge at rounding midpoints).
  val MoneyDecimal = "decimal(22,6)"

  /** Order-independent sum of a (possibly computed) double column. */
  def dsum(c: Column): Column = sum(c.cast(MoneyDecimal)).cast("double")

  /** Order-independent average (sum-of-decimals / non-null count). */
  def davg(c: Column): Column = dsum(c) / count(c)

  /** SQL fragments mirroring the above for DuckDB oracles.
    *
    * The final decimal→double goes through VARCHAR: DuckDB's direct
    * DECIMAL→DOUBLE divides the (float-rounded) unscaled value by 10^scale
    * — TWO roundings, observably 1 ulp off once the sum passes ~17
    * significant digits (first seen at sf1 volume: q16 sum_charge).
    * VARCHAR→DOUBLE is a correctly-rounded strtod, which is also exactly
    * what Spark's BigDecimal.doubleValue produces — one rounding, same
    * result, at every magnitude. Below 17 digits the detour is a no-op,
    * so small-SF hashes are unchanged.
    */
  def dsumSql(expr: String): String =
    s"CAST(CAST(SUM(CAST(($expr) AS DECIMAL(22,6))) AS VARCHAR) AS DOUBLE)"
}
