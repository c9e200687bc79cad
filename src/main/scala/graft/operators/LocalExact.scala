package graft.operators

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.types.StructType

/** The one hybrid switch of the engine, behind every operator that
  * carries a sequential kernel beside its distributed plan
  * (ClusterUnify, PageRank, TriangleCount, KMeansTrain, Perceptron,
  * NgramLm, AllPairsLocal, Dedup and the per-value cell queries): when
  * the relation's row count is under the threshold, run an exact
  * sequential function over the whole relation in ONE executor task (a
  * coalesced partition — nothing is collected) instead of a
  * multi-stage distributed plan whose per-stage scheduling dominates at
  * that size. Callers keep the distributed plan as the over-threshold
  * path — that plan is the 100-TB design; this is the dispatch that
  * stops paying ten stages to reduce 150k rows.
  *
  * `spark.graft.localExactMaxRows` overrides every caller's threshold:
  * 0 forces every hybrid onto its distributed plan, which is how
  * LocalExactParitySpec and the forced oracle run pin the two paths
  * equal.
  */
object LocalExact {

  /** The threshold in force for a caller whose own is `maxRows`. */
  def limit(spark: SparkSession, maxRows: Long): Long =
    spark.conf.getOption("spark.graft.localExactMaxRows").map(_.toLong)
      .getOrElse(maxRows)

  /** @return Some(result of `f` over all rows of `cells`, as one task)
    *         when `cells` has ≤ the threshold's rows, else None (caller
    *         falls through to its distributed plan). `cells` should be
    *         materialized (checkpoint/cache): the count and the kernel
    *         both read it. A caller that already counted `cells` passes
    *         that count as `rows`, so no dispatch counts twice. */
  def apply(cells: DataFrame, schema: StructType, maxRows: Long,
            rows: Option[Long] = None)(
      f: Iterator[Row] => Iterator[Row]): Option[DataFrame] =
    dispatch(cells, schema, maxRows, rows)(_.rdd, f)

  /** [[apply]] for kernels that read `InternalRow`s
    * (`queryExecution.toRdd`): the public `.rdd` path converts every
    * row to a `GenericRowWithSchema` with fresh String allocations —
    * measured 0.7 s of PageRank's 0.8 s single-task kernel at 1.17M
    * edges. The rows are reused buffers: copy what outlives a step. */
  def internal(cells: DataFrame, schema: StructType, maxRows: Long,
               rows: Option[Long] = None)(
      f: Iterator[InternalRow] => Iterator[Row]): Option[DataFrame] =
    dispatch(cells, schema, maxRows, rows)(_.queryExecution.toRdd, f)

  private def dispatch[T](cells: DataFrame, schema: StructType,
                          maxRows: Long, rows: Option[Long])(
      read: DataFrame => RDD[T], f: Iterator[T] => Iterator[Row]): Option[DataFrame] = {
    val spark = cells.sparkSession
    if (rows.getOrElse(cells.count()) > limit(spark, maxRows)) None
    else Some(spark.createDataFrame(read(cells.coalesce(1)).mapPartitions(f), schema)
      // materialize the one-task result LAZILY: callers end in a
      // global orderBy, a broadcast or a join, whose passes (range
      // sample + sort, say) would otherwise each re-execute the kernel;
      // the first pass materializes the (output-sized, tiny) blocks and
      // later ones re-read them — lazy so query CONSTRUCTION doesn't
      // pay a synchronous job barrier (eager measured ~0.3 s worse on
      // ClusterUnify at sf0.1)
      .localCheckpoint(eager = false))
  }
}
