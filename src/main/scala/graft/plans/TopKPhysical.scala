package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.classic.Strategy
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, Partitioning}
import org.apache.spark.sql.execution.{SparkPlan, UnaryExecNode}
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.IntegerType

import scala.collection.mutable

/** Whole-operator custom plan: per-group top-k as a first-class
  * physical operator (the full LogicalPlan → Strategy → SparkPlan
  * ladder rung, SURVEY §7.3 / guide "custom operator" shape), and the
  * engine's one batch per-group top-k: the one-job replacement for the
  * reference's `ORDER BY … LIMIT n` round-trip per key
  * (cl_test1.py:90-98).
  *
  * Where a `row_number` window sorts every group in full, this
  * operator runs in TWO phases, the same partial/final split a hash
  * aggregate gets:
  *
  *  - a PARTIAL pass on the child's existing partitioning (no
  *    exchange) keeps a heap of at most k rows per group per
  *    partition and emits those candidates — the map-side combine. A
  *    group whose input is corpus-scale (one query's candidate set in
  *    ANN search) is reduced to numPartitions·k rows BEFORE any
  *    shuffle.
  *  - a FINAL pass declares `ClusteredDistribution(groupCols)` — so
  *    the planner inserts exactly one hash exchange over the already
  *    -reduced candidates — and merges them to the exact top-k with
  *    ranks. O(n log k) work, O(groups·k) memory, no sort of the long
  *    tail, and no single task ever receives a whole group's raw
  *    input.
  *
  * Registered via `spark.experimental.extraStrategies` (or an
  * extensions hook); exposed through [[TopKPhysical.topK]].
  */
case class TopKPerGroupPlan(groupCols: Seq[Expression], orderCols: Seq[SortOrder],
                            k: Int, rankAttr: Attribute, child: LogicalPlan)
    extends UnaryNode {
  override def output: Seq[Attribute] = child.output :+ rankAttr
  override def producedAttributes: AttributeSet = AttributeSet(rankAttr :: Nil)
  override protected def withNewChildInternal(newChild: LogicalPlan): TopKPerGroupPlan =
    copy(child = newChild)
}

/** Map-side half of the split: same bounded heaps, no required
  * distribution, no rank — emits each partition's per-group top-k
  * candidates for the final pass to merge. */
case class PartialTopKPlan(groupCols: Seq[Expression], orderCols: Seq[SortOrder],
                           k: Int, child: LogicalPlan)
    extends UnaryNode {
  override def output: Seq[Attribute] = child.output
  override protected def withNewChildInternal(newChild: LogicalPlan): PartialTopKPlan =
    copy(child = newChild)
}

/** Shared bounded scan: folds a partition's rows into one heap per
  * group holding at most k rows, whose head is the worst row kept. A
  * row that loses to the head of a full heap is neither copied nor
  * kept, so a task holds at most groups·k rows. Yields each group's
  * top-k in order. */
private[plans] object TopKBuffering {
  def topKPerGroup(it: Iterator[InternalRow], childOutput: Seq[Attribute],
                   groupCols: Seq[Expression], orderCols: Seq[SortOrder],
                   k: Int): Iterator[Seq[InternalRow]] = {
    val groupProj = UnsafeProjection.create(groupCols, childOutput)
    val ordering = RowOrdering.create(orderCols, childOutput)
    val worstFirst = ordering.reverse
    val heaps = mutable.LinkedHashMap.empty[UnsafeRow, java.util.PriorityQueue[InternalRow]]
    it.foreach { row =>
      val key = groupProj(row)
      val heap = heaps.getOrElse(key, {
        val h = new java.util.PriorityQueue[InternalRow](worstFirst)
        heaps.put(key.copy(), h)
        h
      })
      if (heap.size() < k) heap.add(row.copy())
      else if (ordering.lt(row, heap.peek)) { heap.poll(); heap.add(row.copy()) }
    }
    heaps.valuesIterator.map(heap => heap.toArray(Array.empty[InternalRow]).sorted(ordering).toSeq)
  }
}

case class TopKPerGroupExec(groupCols: Seq[Expression], orderCols: Seq[SortOrder],
                            k: Int, rankAttr: Attribute, child: SparkPlan)
    extends UnaryExecNode {
  override def output: Seq[Attribute] = child.output :+ rankAttr
  override def producedAttributes: AttributeSet = AttributeSet(rankAttr :: Nil)
  override def requiredChildDistribution: Seq[Distribution] =
    ClusteredDistribution(groupCols) :: Nil
  // rows stay in their input partition, so the output keeps the
  // child's clustering: a consumer grouping on the same keys (q42's
  // envelope, q113's postings) needs no second exchange
  override def outputPartitioning: Partitioning = child.outputPartitioning

  override protected def doExecute(): RDD[InternalRow] = {
    val childOutput = child.output
    val (g, o, kk) = (groupCols, orderCols, k)
    child.execute().mapPartitions { it =>
      val outProj = UnsafeProjection.create(output, output)
      TopKBuffering.topKPerGroup(it, childOutput, g, o, kk).flatMap { buf =>
        buf.iterator.zipWithIndex.map { case (r, i) =>
          outProj(new JoinedRow(r, InternalRow(i + 1)))
        }
      }
    }
  }

  override protected def withNewChildInternal(newChild: SparkPlan): TopKPerGroupExec =
    copy(child = newChild)
}

case class PartialTopKExec(groupCols: Seq[Expression], orderCols: Seq[SortOrder],
                           k: Int, child: SparkPlan)
    extends UnaryExecNode {
  override def output: Seq[Attribute] = child.output
  // no required distribution: runs on whatever partitioning the child
  // already has — this IS the map-side combine. The child's
  // partitioning survives (rows never move), and advertising it lets
  // the planner SKIP the final pass's exchange when the input is
  // already clustered on the group keys (e.g. right after a groupBy
  // or a bucketed scan of the same keys).
  override def outputPartitioning: Partitioning = child.outputPartitioning
  override protected def doExecute(): RDD[InternalRow] = {
    val childOutput = child.output
    val (g, o, kk) = (groupCols, orderCols, k)
    child.execute().mapPartitions { it =>
      TopKBuffering.topKPerGroup(it, childOutput, g, o, kk).flatMap(_.iterator)
    }
  }
  override protected def withNewChildInternal(newChild: SparkPlan): PartialTopKExec =
    copy(child = newChild)
}

object TopKStrategy extends Strategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case TopKPerGroupPlan(g, o, k, rank, child) =>
      TopKPerGroupExec(g, o, k, rank, planLater(child)) :: Nil
    case PartialTopKPlan(g, o, k, child) =>
      PartialTopKExec(g, o, k, planLater(child)) :: Nil
    case _ => Nil
  }
}

object TopKPhysical {

  /** Ensure the strategy is installed in this session. */
  def install(spark: SparkSession): Unit =
    if (!spark.experimental.extraStrategies.contains(TopKStrategy))
      spark.experimental.extraStrategies =
        spark.experimental.extraStrategies :+ TopKStrategy

  /** Per-group top-k through the custom physical operator; `orderBy`
    * pairs are (column name, ascending?). Appends `rankName`.
    *
    * NOTE: the partial/final split is exact only when `orderBy` is a
    * TOTAL order on each group's rows (include a unique tie-break
    * column, as every registry caller does) — under ties, which tied
    * row survives a partial buffer would otherwise depend on
    * partitioning, same as `row_number` under a non-total ORDER BY.
    * Requires k ≥ 1. */
  def topK(df: DataFrame, groupBy: Seq[String], orderBy: Seq[(String, Boolean)],
           k: Int, rankName: String = "rnk"): DataFrame = {
    require(k >= 1, s"topK needs k >= 1, got $k")
    val spark = df.sparkSession
    install(spark)
    val analyzed = ColumnBridge.analyzed(df)
    def attr(n: String): Attribute = analyzed.output
      .find(_.name == n)
      .getOrElse(throw new IllegalArgumentException(s"no column $n"))
    val orders = orderBy.map { case (n, asc) =>
      SortOrder(attr(n), if (asc) Ascending else Descending)
    }
    val rank = AttributeReference(rankName, IntegerType, nullable = false)()
    val groups = groupBy.map(attr)
    ColumnBridge.ofRows(spark,
      TopKPerGroupPlan(groups, orders, k, rank,
        PartialTopKPlan(groups, orders, k, analyzed)))
  }
}
