package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.round

/** THE grid-rounding function for every engine-side iterative loop
  * (PageRank both tiers, HITS both tiers): HALF_UP on the SHORTEST
  * decimal representation (`BigDecimal.valueOf`), as Spark's `round()`
  * does, never the exact binary expansion — the two differ where the
  * shortest repr lands ON a grid halfway the binary value misses
  * (0.0833333335 at 1e-9), and a loop on the binary expansion
  * desynchronizes from the DataFrame tier (HitsRoundingRegressionSpec).
  * DuckDB rounds neither way: see [[binaryRound]].
  */
object GridRound {
  def fn(roundTo: Int): Double => Double =
    if (roundTo < 0) identity
    else v => java.math.BigDecimal.valueOf(v)
      .setScale(roundTo, java.math.RoundingMode.HALF_UP).doubleValue()

  /** `c` rounded as DuckDB's `round(DOUBLE, scale)`: `std::round(v·10^s)
    * / 10^s`, the product rounded half away from zero — 0.5182705 at 6 is
    * 0.51827 there (the product is 518270.49999999994) but 0.518271 in
    * Spark's `round`. The oracle-checked keys round their output with
    * it. Spark's `round(x, 0)` is exactly `std::round(x)`: a tie k + 0.5
    * is itself a double, so x's shortest repr ends in .5 only at a tie. */
  def binaryRound(c: Column, scale: Int): Column = {
    val m = math.pow(10, scale)
    round(c * m, 0) / m
  }
}
