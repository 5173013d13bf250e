package graft.operators

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.{floor, lit, round}

/** Output-boundary rounding to 4 decimals, biased +1e-9 first: exact
  * half-boundary values (common with integer-derived rationals like
  * 19.65625) would otherwise flip between Spark's HALF_UP and DuckDB's
  * half-even under ULP summation noise. The bias moves nice rationals 1e-9
  * inside the upper side, where 1e-13 ULP differences can no longer cross
  * the boundary.
  */
private[graft] object Rounding {

  /** Column form, for relational outputs. */
  def r4(c: Column): Column = round(c + lit(1e-9), 4)

  /** Integer ten-thousandths of an exact double — both engines floor the
    * identical IEEE product, so the result is hash-exact by construction.
    */
  def q4(c: Column): Column = floor(c * lit(10000d) + lit(0.5)).cast("long")

  /** Scalar form, for typed kernels: HALF_UP on the exact binary value of
    * `x + 1e-9`.
    */
  def r4d(x: Double): Double =
    new java.math.BigDecimal(x + 1e-9)
      .setScale(4, java.math.RoundingMode.HALF_UP).doubleValue()
}
