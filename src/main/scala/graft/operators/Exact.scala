package graft.operators

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Oracle-parity arithmetic helpers.
  *
  * Double aggregation is order-dependent AND Spark's `round` rounds the
  * shortest decimal representation of a double while DuckDB rounds the
  * binary value — values landing on a .xx5 boundary diverge. For money
  * math we therefore aggregate in exact DECIMAL (order-independent, no
  * representation ambiguity) and only cast the rounded result back to
  * DOUBLE. The DuckDB oracle does the identical decimal cast chain.
  *
  * This is also the right call at 100 TB: decimal sums are exact under
  * any partitioning / AQE re-plan, so results are reproducible run-over-
  * run, which double sums are not.
  */
object Exact {
  /** Cast a 2-dp money/ratio double to exact decimal(p,4). */
  def d4(c: Column, p: Int = 14): Column = c.cast(s"decimal($p,4)")

  /** The revenue term p*(1-d) in exact decimal. */
  def disc(p: Column, d: Column): Column = d4(p, 12) * (lit(1) - d4(d, 6))

  /** A timestamp literal. */
  def ts(s: String): Column = lit(s).cast("timestamp")

  /** Exact decimal sum rounded to 2 dp, emitted as double. */
  def sum2(e: Column): Column = round(sum(e), 2).cast("double")

  /** Exact-sum-based average: exact decimal sum, then ONE double
    * division. IEEE division is correctly rounded, so identical
    * inputs give bit-identical results in Spark and DuckDB — no
    * rounding needed (and rounding would *add* boundary risk:
    * engines disagree on values landing exactly on .xxx5). */
  def avgExact(e: Column): Column =
    sum(e).cast("double") / count(lit(1))
}
