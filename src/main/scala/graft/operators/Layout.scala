package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Z-order (Morton-curve) data layout — the write-side optimization that
  * makes multi-dimensional scans prune at 100 TB.
  *
  * Parquet pruning is driven by per-file / per-row-group min-max stats. A
  * table sorted by one column prunes perfectly on that column and not at
  * all on any other; a table clustered by the INTERLEAVED bits of two
  * columns bounds files in BOTH dimensions, so a filter on either column
  * (or both) skips most files. This is the same layout idea
  * Delta/Iceberg expose as `OPTIMIZE ... ZORDER BY` — here it is just a
  * deterministic per-row expression ([[graft.functions.HashImpls.zInterleave]])
  * plus `repartitionByRange` + `sortWithinPartitions`, all native Spark.
  *
  * The bound is statistical, not per-file (true of every z-order layout,
  * Delta's included): a file whose z-interval crosses a high-order Morton
  * boundary jumps between distant corners of the key space and spans wide
  * in one or both dimensions. With P files there are at most ~P boundary
  * crossings ACROSS ALL SCALES but only the ~log₂P coarsest ones are wide,
  * so all but a handful of files stay inside one aligned superblock —
  * LayoutSpec asserts exactly that shape, as did the round-8 driver
  * `graft.examples.RehearsalR8` (commit 57b8149): ≥ 90% of partitions
  * tight, the rest are the documented crossers.
  *
  * Keys must land in [0, 2^31): ids and epoch-seconds already do; ranks,
  * buckets, or rolling-hash values normalize anything else. The interleave
  * masks to 31 bits per dimension, so the z-value is always a non-negative
  * 62-bit long.
  *
  * 100-TB shape: one range exchange on the z-value (sampled boundaries —
  * the write path's usual exchange, not an extra one), then a per-partition
  * sort that feeds parquet row-group stats. No driver state, no skew pile-up
  * (z-values of real keys are well spread; pathological single-cell skew
  * degrades to AQE's split like any range write).
  */
object Layout {

  /** The z-value column: interleaved low-31-bit Morton code of `a`, `b`. */
  def zvalue(a: Column, b: Column): Column =
    org.apache.spark.sql.graft.exprs.z_interleave(a.cast("long"), b.cast("long"))

  /** Cluster `df` into `numPartitions` z-ordered partitions on (a, b):
    * range-partition by z-value, sort within each partition. Writing the
    * result produces files whose min/max stats bound both dimensions. */
  def zorder(df: DataFrame, a: Column, b: Column, numPartitions: Int): DataFrame = {
    val zCol = "_zvalue"
    val matches = Names.matcher(df)
    require(!df.columns.exists(matches(_, zCol)),
      s"column name $zCol is reserved by Layout.zorder")
    df.withColumn(zCol, zvalue(a, b))
      .repartitionByRange(numPartitions, col(zCol))
      .sortWithinPartitions(zCol)
      .drop(zCol)
  }
}
