package graft

/** HALF_UP rounding of driver-side doubles — the independent recomputes'
  * mirror of an entry's round-to-lattice (`round(x, 6)` and friends). */
object HalfUp {
  def round6(x: Double): BigDecimal =
    BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP)
  def round9(x: Double): BigDecimal =
    BigDecimal(x).setScale(9, BigDecimal.RoundingMode.HALF_UP)
  def round0(x: Double): Long =
    BigDecimal(x).setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
  /** `round6(x)` in integer millionths. */
  def micro6(x: Double): Long =
    (round6(x) * BigDecimal(1000000)).toLongExact
}
