package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.interleaveBits

/** Data-layout operators: how rows are ARRANGED into files decides what
  * a 100-TB scan can skip. Parquet keeps per-row-group min/max stats;
  * a filter prunes a file only when the file's value range misses the
  * predicate — so clustering the write path is the scan-time win.
  */
object Layout {

  /** Z-order clustering: rows range-partitioned AND sorted by the
    * Morton key of `(x, y)` ([[graft.functions.interleaveBits]]), so
    * every output file covers a compact BOX in (x, y) space and a
    * predicate on EITHER column (or both) prunes files by min/max
    * stats — the multi-dimensional generalization of sorting by one
    * column, which helps one dimension and destroys the other.
    *
    * `repartitionByRange` samples the z-key to build balanced range
    * bounds (one shuffle — the same cost as any clustering rewrite),
    * then the in-partition sort makes row groups within a file compact
    * too. The z-key column is dropped before return: the layout IS the
    * product.
    *
    * The interleave is bit-positional, so both dimensions MUST be
    * comparably scaled first — a 0..199 x against a 0..9 y puts four x
    * bits above the first meaningful y bit and the "z-order" collapses
    * to an x-sort. `normalize = true` (default) linearly rescales both
    * dimensions to the full 16-bit range off one global min/max agg (a
    * tiny one-pass action; the arithmetic is codegen'd per row).
    * Equi-width scaling equalizes SCALE, not skew — for heavily skewed
    * domains, pre-bucket to rank ids (the Delta/Iceberg range-id pass)
    * and call with `normalize = false`. */
  def zorderBy(df: DataFrame, xCol: String, yCol: String,
      numFiles: Int, normalize: Boolean = true): DataFrame = {
    require(numFiles >= 1, s"numFiles must be >= 1, got $numFiles")
    def scaled(c: String, mn: Long, mx: Long) =
      ((col(c).cast("bigint") - lit(mn)) * lit(65535L)
        / lit(math.max(1L, mx - mn))).cast("int")
    val (x, y) =
      if (!normalize) (col(xCol).cast("int"), col(yCol).cast("int"))
      else {
        val r = df.agg(
          min(col(xCol).cast("bigint")), max(col(xCol).cast("bigint")),
          min(col(yCol).cast("bigint")), max(col(yCol).cast("bigint"))).head()
        (scaled(xCol, r.getLong(0), r.getLong(1)),
          scaled(yCol, r.getLong(2), r.getLong(3)))
      }
    val z = "_zkey"
    df.withColumn(z, interleaveBits(x, y))
      .repartitionByRange(numFiles, col(z))
      .sortWithinPartitions(z)
      .drop(z)
  }
}
