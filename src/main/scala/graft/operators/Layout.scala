package graft.operators

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** The Z-order (Morton) curve index behind scan pruning at rest. A table
  * range-partitioned on it over its two hottest filter columns gives every
  * file a tight min/max envelope on BOTH columns, so parquet row-group and
  * file skipping work for either predicate (the Delta/Iceberg
  * `OPTIMIZE ZORDER` technique).
  *
  * The z-value is pure integer bit-interleaving — exact on any engine, no
  * UDF: bit i of a and bit i of b land at positions 2i and 2i+1.
  */
object Layout {

  /** Morton interleave of the low `bits` bits of two non-negative int
    * columns (bits ≤ 31: the result stays well inside a BIGINT). */
  def zValue(a: Column, b: Column, bits: Int = 16): Column = {
    require(bits > 0 && bits <= 31, s"bits out of (0, 31]: $bits")
    (0 until bits).map { i =>
      val ai = shiftleft(shiftright(a, i).bitwiseAND(lit(1L)), 2 * i)
      val bi = shiftleft(shiftright(b, i).bitwiseAND(lit(1L)), 2 * i + 1)
      ai + bi
    }.reduce(_ + _).cast("long")
  }
}
