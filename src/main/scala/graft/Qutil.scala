package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.{conv, floor, lit, md5, substring}

/** Cross-engine-portable helpers shared by the query batteries. */
object Qutil {
  /** Portable md5-derived 60-bit integer hash of a string column — the
    * engine-agnostic hash every oracle mirrors as
    * `('0x' || substr(md5(x),1,15))::BIGINT`. */
  def md5Long60(c: Column): Column =
    conv(substring(md5(c), 1, 15), 16, 10).cast("long")

  /** Portable fixed-point rounding: floor(x*10^d + 0.5)/10^d.
    *
    * Unlike `round` (Spark: decimal-string HALF_UP via BigDecimal; DuckDB:
    * binary-double rounding) this evaluates identically in any engine given
    * bit-identical input doubles, so oracle hash-matching never trips on
    * exact decimal half-boundaries like 0.6475745.
    */
  def rnd(c: Column, d: Int): Column = {
    val p = lit(math.pow(10, d))
    floor(c * p + 0.5) / p
  }

  /** Scalar twin of [[rnd]] for kernels, with `scale` = math.pow(10, d)
    * precomputed: the same floor form on the same doubles. */
  @inline def rnd(x: Double, scale: Double): Double =
    math.floor(x * scale + 0.5) / scale
}
