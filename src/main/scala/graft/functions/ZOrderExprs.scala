package graft.functions

import org.apache.spark.sql.Column

/** Morton (Z-order) bit interleaving — the space-filling-curve key for
  * multi-dimensional data skipping. Sorting a table by the interleaved
  * key keeps BOTH dimensions locally bounded inside every file, so
  * parquet min/max row-group stats prune scans filtered on EITHER
  * column; a plain sort only localizes its leading column.
  */
object ZOrderKernels {

  /** Spread the low 32 bits of x to the even bit positions (0,2,4,…,62). */
  def spread(x0: Long): Long = {
    var x = x0 & 0xffffffffL
    x = (x | (x << 16)) & 0x0000ffff0000ffffL
    x = (x | (x << 8)) & 0x00ff00ff00ff00ffL
    x = (x | (x << 4)) & 0x0f0f0f0f0f0f0f0fL
    x = (x | (x << 2)) & 0x3333333333333333L
    x = (x | (x << 1)) & 0x5555555555555555L
    x
  }

  /** Interleave the low 32 bits of a (even positions) and b (odd). */
  def morton2(a: Long, b: Long): Long = spread(a) | (spread(b) << 1)
}

object ZOrderExprs {
  /** `morton2(a, b)`: 64-bit Morton code of two long columns (low 32 bits
    * each; a on even bit positions). Five shift-mask rounds per operand,
    * branch-free. */
  def morton2(a: Column, b: Column): Column = Kernels.morton2(a, b)
}
