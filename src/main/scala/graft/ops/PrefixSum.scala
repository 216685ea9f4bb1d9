package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.PersistedCache.Materialize

/** Range-partitioned two-pass prefix sum (r18, VERDICT r17 item 5).
  *
  * `Window.orderBy(...)` with no partitionBy moves EVERY row to one
  * partition (WindowExec's "No Partition Defined" warning) — a
  * scale-killer wherever the windowed stream grows with the corpus. The
  * standard distributed rendering is two passes over a range-partitioned
  * sort: within each range partition a local running sum (parallel
  * window keyed by the partition id), plus one tiny per-partition-totals
  * table whose prefix gives each partition its offset. The result is
  * exactly `sum(valCol) OVER (ORDER BY keys ROWS BETWEEN UNBOUNDED
  * PRECEDING AND 1 PRECEDING)` — the strictly-before running sum — for
  * ANY choice of range boundaries, because range partitioning places
  * every strictly-smaller key in the same or an earlier partition.
  *
  * PRECONDITION: `keys` are unique per row (the per-value count tables
  * this serves satisfy that by construction — they are groupBy outputs
  * keyed by the sort key), so ties can never straddle a partition
  * boundary and the local order is total.
  *
  * The windowed pass is materialized once and both passes read it: the
  * range boundaries come from sampling, so two executions of the range
  * exchange (exchange reuse off) could disagree on which partition a
  * row is in, and the offsets would no longer match the local sums.
  */
object PrefixSum {
  /** Append `outCol` = running sum of `valCol` over rows strictly before
    * this row in ascending `keys` order (absent predecessors = 0). */
  private[graft] def strictlyBefore(df: DataFrame, keys: Seq[String],
      valCol: String, outCol: String, partitions: Int): DataFrame = {
    val keyAsc: Seq[Column] = keys.map(col(_).asc)
    val sorted = df
      .repartitionByRange(math.max(partitions, 1), keyAsc: _*)
      .withColumn("__pid", spark_partition_id())
    val w = Window.partitionBy(col("__pid"))
      .orderBy(keys.map(col(_).asc): _*)
      .rowsBetween(Window.unboundedPreceding, -1)
    val local = sorted
      .withColumn("__local", coalesce(sum(col(valCol)).over(w), lit(0L)))
      .checkpointed
    // per-partition totals → offsets: sum of totals of strictly earlier
    // partitions. #partitions rows, so the triangular self-join is tiny
    // and avoids re-introducing a global (single-partition) window.
    val tot = local.groupBy(col("__pid")).agg(sum(col(valCol)).as("__tot"))
    val off = tot.as("a")
      .join(tot.as("b"), col("b.__pid") < col("a.__pid"), "left")
      .groupBy(col("a.__pid").as("__pid"))
      .agg(coalesce(sum(col("b.__tot")), lit(0L)).as("__off"))
    local.join(broadcast(off), Seq("__pid"))
      .withColumn(outCol, (col("__local") + col("__off")).cast("long"))
      .drop("__pid", "__local", "__off")
  }
}
