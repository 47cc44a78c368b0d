package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, GraftPlanBridge}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, Expression, SortOrder, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.expressions.codegen.LazilyGeneratedOrdering
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, Partitioning, UnspecifiedDistribution}
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode}

import scala.collection.mutable

/** Per-group top-k as a CUSTOM WHOLE OPERATOR — the (c) rung of the
  * build ladder (SURVEY.md §7.3): a logical node, a planner strategy,
  * and a physical operator registered through the public extension
  * points, for semantics worth owning below the DataFrame API.
  *
  * Why own it: every declarative top-k spelling materializes ORDER.
  * `row_number().over(window)` buffers and SORTS each (group, salt)
  * slice (`ops/TopK` salts away the straggler but still sorts every
  * slice; WindowGroupLimit caps the buffer, not the comparison count),
  * and ORDER BY + LIMIT sorts globally. A bounded binary heap does
  * neither: O(n log k) comparisons, O(groups × k) resident rows, no
  * sort buffer, no spill path. At 100 TB with k=3 that is the
  * difference between "keep 3 rows per group per task" and "sort
  * every task's slice".
  *
  * Physical shape (mirrors partial/final aggregation):
  *
  *   BoundedTopKExec(final)                 ← ClusteredDistribution(group)
  *     +- Exchange hashpartitioning(group)  ← inserted by EnsureRequirements
  *        +- BoundedTopKExec(partial)       ← any distribution
  *           +- child scan
  *
  * The partial pass keeps ≤ k rows per group per input partition, so the
  * exchange moves at most partitions × groups × k rows regardless of
  * input size — the same reason hash aggregation map-side-combines.
  * Top-k is a merge monoid, so partial∘final is exact, not approximate.
  *
  * Determinism contract (same as `ops/TopK`): `order` must be a total
  * order — include a unique tiebreaker. Output order is UNSPECIFIED
  * (heap emission order); callers sort if they need presentation order.
  * q144 proves implementation parity against the window-ranked oracle.
  *
  * Scale caveat — the one regime the declarative forms win: heaps are
  * RESIDENT, sorts SPILL. When group cardinality per task approaches
  * row count (top-k per user over billions of users), groups×k rows no
  * longer fit and `ops/TopK`'s window (UnsafeExternalSorter-backed) is
  * the memory-safe choice; this operator is for the FEW-groups/hot-key
  * shape where sorting every slice is the waste.
  */
object BoundedTopK {

  /** Top-k rows of `df` per `groupCols` group, "top" = first k under
    * `order`. Registers the planner strategy on the session (idempotent)
    * and builds the DataFrame over the custom logical node; the analyzer
    * resolves the group/order expressions against `df`'s schema. */
  def perGroup(df: DataFrame, groupCols: Seq[String], order: Seq[Column],
               k: Int): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    require(groupCols.nonEmpty,
      "groupCols must be non-empty — for a GLOBAL top-k use orderBy(...).limit(k), " +
        "which Spark already executes as a TakeOrderedAndProject bounded heap")
    val spark = df.sparkSession
    GraftPlanBridge.addStrategy(spark, BoundedTopKStrategy)
    val sortOrders = order.map(c => GraftPlanBridge.toCatalyst(c) match {
      case so: SortOrder => so
      case e => SortOrder(e, Ascending)
    })
    GraftPlanBridge.ofRows(spark,
      BoundedTopKNode(groupCols.map(UnresolvedAttribute(_)), sortOrders, k,
        df.queryExecution.analyzed))
  }
}

/** Logical marker node: output = child output, no semantics beyond the
  * (group, order, k) contract the strategy lowers. */
case class BoundedTopKNode(
    group: Seq[Expression], order: Seq[SortOrder], k: Int,
    child: LogicalPlan) extends UnaryNode {
  override def output: Seq[Attribute] = child.output
  override protected def withNewChildInternal(newChild: LogicalPlan): BoundedTopKNode =
    copy(child = newChild)
}

/** Lowers the logical node to the two-phase physical pair; partial runs
  * on whatever distribution the child has, final declares the clustered
  * requirement and lets EnsureRequirements place the single exchange. */
object BoundedTopKStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case BoundedTopKNode(group, order, k, child) =>
      BoundedTopKExec(group, order, k, partial = false,
        BoundedTopKExec(group, order, k, partial = true, planLater(child))) :: Nil
    case _ => Nil
  }
}

/** Bounded-heap per-group top-k. Each task keeps one k-capped binary
  * max-heap per group key it sees (heap head = worst kept row): a new
  * row replaces the head only if it sorts strictly earlier. Memory is
  * O(groups-in-task × k) rows — no sort buffer, no spill, no
  * UnsafeExternalSorter. */
case class BoundedTopKExec(
    group: Seq[Expression], order: Seq[SortOrder], k: Int,
    partial: Boolean, child: SparkPlan) extends UnaryExecNode {

  override def output: Seq[Attribute] = child.output
  override def outputPartitioning: Partitioning = child.outputPartitioning

  override def requiredChildDistribution: Seq[Distribution] =
    if (partial) Seq(UnspecifiedDistribution)
    else Seq(ClusteredDistribution(group))

  override protected def doExecute(): RDD[InternalRow] = {
    val groupExprs = group
    val childOutput = child.output
    val kk = k
    // LazilyGeneratedOrdering is serializable and codegens per executor;
    // UnsafeProjection is NOT serializable — create it inside the task
    val ord = new LazilyGeneratedOrdering(order, childOutput)
    child.execute().mapPartitions({ iter =>
      val keyProj = UnsafeProjection.create(groupExprs, childOutput)
      val outProj = UnsafeProjection.create(childOutput, childOutput)
      val heaps = mutable.HashMap.empty[UnsafeRow, mutable.PriorityQueue[InternalRow]]
      iter.foreach { row =>
        val key = keyProj(row) // reused buffer; content-hashed lookups work
        heaps.get(key) match {
          case Some(heap) =>
            if (heap.size < kk) heap.enqueue(row.copy())
            else if (ord.compare(row, heap.head) < 0) {
              heap.dequeue(); heap.enqueue(row.copy())
            }
          case None =>
            val heap = mutable.PriorityQueue.empty[InternalRow](ord)
            heap.enqueue(row.copy())
            heaps.put(key.copy(), heap)
        }
      }
      // emit as UnsafeRow for shuffle/parent consumption (buffer reuse is
      // safe: consumers copy or serialize per row)
      heaps.valuesIterator.flatMap(_.iterator).map(outProj)
    }, preservesPartitioning = true)
  }

  override protected def withNewChildInternal(newChild: SparkPlan): BoundedTopKExec =
    copy(child = newChild)

  override def nodeName: String =
    if (partial) "BoundedTopKPartial" else "BoundedTopKFinal"
}
