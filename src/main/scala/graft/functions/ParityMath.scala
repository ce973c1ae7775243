package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Engine-portable rounding.
  *
  * Spark's ROUND(double, n) takes the double's shortest decimal
  * representation and applies HALF_UP; DuckDB rounds the binary value.
  * For ratios of small integers (token ratios, averages of counts) the true
  * value often sits exactly on a .5 decimal boundary, where the two rules
  * disagree by one final digit — observed on t_quality_score (0.53375 →
  * Spark 0.5338 vs DuckDB 0.5337).
  *
  * floor(x·10ⁿ + 0.5)/10ⁿ is pure double arithmetic, bit-identical in any
  * IEEE-754 engine given the same x, so both sides agree by construction.
  * Use it for any rounded column whose inputs are low-denominator rationals;
  * plain ROUND stays fine for sums/products of many random doubles (their
  * shortest representations never end exactly in 5).
  *
  * SQL twin (same digits, DuckDB): floor(x * 10000 + 0.5) / 10000
  */
object ParityMath {
  def floorRound(c: Column, digits: Int): Column = {
    val p = math.pow(10.0, digits)
    floor(c * p + 0.5) / p
  }

  /** The DuckDB-side spelling, for building oracle SQL. */
  def floorRoundSql(exprSql: String, digits: Int): String = {
    val p = math.pow(10.0, digits).toLong
    s"floor(($exprSql) * $p + 0.5) / $p"
  }
}
