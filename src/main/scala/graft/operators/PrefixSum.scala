package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Distributed global prefix sum (running total in a total order) —
  * the two-phase scan primitive: an ORDER BY window with no PARTITION
  * BY funnels every row through one task, so instead
  *
  *  1. bucket by the order column against quantile cut points
  *     (bucket i's keys all precede bucket i+1's),
  *  2. per-bucket running sum (window keyed by the bucket id — ONE
  *     hash exchange, which the totals branch reuses),
  *  3. per-bucket totals → exclusive prefix over the BUCKET COUNT
  *     (a ~buckets-row frame, the only non-parallel step),
  *     broadcast back and added as offsets.
  *
  * Driver/executor asymmetry is the point: the sequential step is
  * O(buckets), not O(rows) — the textbook parallel-scan shape, and
  * the same trick Spark's own FileScan uses to plan byte splits.
  * Used by q84_compaction_plan to derive the deterministic bin-pack
  * plan that [[Compaction]] executes physically.
  *
  * The bucket id is a DETERMINISTIC EXPRESSION over the row's own
  * order value (count of quantile cut points below it), not
  * `spark_partition_id()` — that is what collapses the previous
  * shape's three barriers (range exchange + pid hash exchange +
  * localCheckpoint) into one exchange: a value-derived id means the
  * totals branch and the join branch may each recompute it from any
  * physical partitioning without the renumbering hazard AQE
  * coalescing introduced for pid-based ids (observed on q146/q150),
  * so no materialization barrier is needed at all, and the window's
  * ClusteredDistribution(_bid) is satisfied by the single explicit
  * hash repartition instead of forcing a second exchange on top of a
  * range exchange (r15 optimization round: q122 14 → 8 Exchanges).
  * Buckets = 2 × numParts so hashing buckets into partitions spreads
  * evenly (guide §2.5 — more distinct keys than partitions).
  */
object PrefixSum {

  /** @return `df` + `outCol` = running total of `valueCol` ordered by
    *         `orderCol` (inclusive of the current row). `orderCol`
    *         must be a total order (unique non-null keys, numeric or
    *         otherwise orderable) for a deterministic result.
    *         `totalCol`: when set, also attach the GRAND TOTAL of
    *         `valueCol` under that name — it falls out of the offsets
    *         window for free, saving callers (q122) a separate
    *         full-relation aggregate and cross join. */
  def apply(df: DataFrame, orderCol: String, valueCol: String,
            outCol: String = "cum", numParts: Int = 0,
            totalCol: Option[String] = None): DataFrame = {
    val n = if (numParts > 0) numParts
            else df.sparkSession.sparkContext.defaultParallelism
    val nb = math.min(2L * n, 1024L).toInt
    // ONE materialization of the (slim) input: three consumers read it
    // — the quantile aggregate, the per-bucket totals, and the probe
    // exchange. Without the barrier, column pruning specializes each
    // consumer's subtree, canonical equality breaks, and AQE
    // re-executes the input per consumer (measured on q84: every
    // stage duplicated, input computed 4×). LAZY so construction pays
    // no synchronous job; inputs the CALLER already checkpointed (q122
    // eagerly; q144/q145 share their cell table with other consumers)
    // are passed through — re-checkpointing a checkpoint scan would
    // copy every block for nothing.
    val dfm =
      if (df.queryExecution.logical.getClass.getSimpleName == "LogicalRDD") df
      else df.localCheckpoint(eager = false)
    // quantile cut points of the order column (approximate is fine:
    // they only steer balance, never the sum) → bucket id = number of
    // cut points strictly below the row's key (codegen'd binary
    // search — the size(filter(...)) HOF form evaluates interpreted
    // and cost ~3 s at 500k rows). Monotone in orderCol, so bucket
    // ranges are contiguous and ordered.
    val bucketed =
      if (nb <= 1) dfm.withColumn("_bid", lit(0))
      else {
        val probs = (1 until nb).map(i => lit(i.toDouble / nb))
        import org.apache.spark.sql.graftbridge.ColumnBridge
        val bounds = dfm.agg(percentile_approx(
          col(orderCol).cast("long"), array(probs: _*), lit(1000))
          .as("_bounds"))
        // coalesce makes _bid provably NON-NULL so the final equi-join
        // on _bid needs no isnotnull filter in the probe branch
        dfm.crossJoin(broadcast(bounds))
          .withColumn("_bid", coalesce(ColumnBridge.column(
            graft.functions.SearchSortedExpr(
              ColumnBridge.expression(col("_bounds")),
              ColumnBridge.expression(col(orderCol).cast("long")))),
            lit(0)))
          .drop("_bounds")
      }
    // per-bucket totals aggregate BEFORE any repartition: map-side
    // combine reduces each input partition to ≤ nb rows, so this
    // branch's exchange carries partitions × nb rows no matter the
    // corpus size — the data itself crosses the network exactly ONCE,
    // in the probe branch below (the pid-keyed shape shuffled it
    // twice: a range exchange feeding a pid hash exchange)
    val totals = bucketed.groupBy(col("_bid"))
      .agg(sum(col(valueCol)).as("_ptot"))
    // the ONE data-sized exchange; user repartition is exempt from AQE
    // coalescing, so the scan parallelism survives small-byte inputs.
    // The window needs no exchange of its own: HashPartitioning(_bid)
    // already satisfies its ClusteredDistribution.
    val parted = bucketed.repartition(n, col("_bid"))
    val wLocal = Window.partitionBy(col("_bid")).orderBy(col(orderCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val local = parted.withColumn("_local", sum(col(valueCol)).over(wLocal))
    // exclusive prefix over ≤ nb rows — the single-task window is
    // bounded by the bucket count, never by the data
    val wOff = Window.orderBy(col("_bid"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets0 = totals
      .withColumn("_off", coalesce(sum(col("_ptot")).over(wOff), lit(0L)))
    val offsets = totalCol match {
      case Some(tc) =>
        val wAll = Window.orderBy(col("_bid"))
          .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
        offsets0.withColumn(tc, sum(col("_ptot")).over(wAll))
          .select(col("_bid"), col("_off"), col(tc))
      case None => offsets0.select(col("_bid"), col("_off"))
    }
    local.join(broadcast(offsets), "_bid")
      .withColumn(outCol, col("_local") + col("_off"))
      .drop("_bid", "_local", "_off")
  }

  /** Per-group running totals in ONE machine: `outCol` = running sum
    * of `valueCol` within each `groupCol` value, ordered by
    * `orderCol`. Equivalent to one [[apply]] per group but pays the
    * range-sampling job, the checkpoint, and the totals/offset stages
    * ONCE — q155 composes three dimension-wise prefix sums and
    * serialized three of everything through the driver before this.
    * Same two-phase scan: range-partition on (group, order) so a
    * group's rows appear in order across consecutive partitions, sum
    * locally per (partition, group), then offset by the preceding
    * partitions' totals OF THE SAME GROUP (a numParts × |groups| frame
    * windowed per group — still bounded by the partition count, never
    * by the data). */
  def grouped(df: DataFrame, groupCol: String, orderCol: String,
              valueCol: String, outCol: String = "cum",
              numParts: Int = 0): DataFrame = {
    val n = if (numParts > 0) numParts
            else df.sparkSession.sparkContext.defaultParallelism
    val parted = df.repartitionByRange(n, col(groupCol), col(orderCol))
      .withColumn("_pid", spark_partition_id())
    val wLocal = Window.partitionBy(col("_pid"), col(groupCol))
      .orderBy(col(orderCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // same single-RDD guarantee as apply(): _pid must agree between
    // the totals branch and the final join
    val local = parted.withColumn("_local", sum(col(valueCol)).over(wLocal))
      .localCheckpoint(eager = false)
    val totals = local.groupBy(col("_pid"), col(groupCol))
      .agg(sum(col(valueCol)).as("_ptot"))
    val wOff = Window.partitionBy(col(groupCol)).orderBy(col("_pid"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = totals
      .withColumn("_off", coalesce(sum(col("_ptot")).over(wOff), lit(0L)))
      .select(col("_pid"), col(groupCol), col("_off"))
    local.join(broadcast(offsets), Seq("_pid", groupCol))
      .withColumn(outCol, col("_local") + col("_off"))
      .drop("_pid", "_local", "_off")
  }
}
