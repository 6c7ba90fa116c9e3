package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute,
  AttributeReference, AttributeSet, Descending, Expression, GenericInternalRow,
  JoinedRow, SortOrder, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.expressions.codegen.GenerateOrdering
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution}
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode}
import org.apache.spark.sql.types.IntegerType
import scala.collection.mutable

/** Whole-operator extension (SURVEY §4 preference ladder (c)): per-group
  * top-k as a first-class plan node.
  *
  * The built-in formulation — `row_number() OVER (PARTITION BY g ORDER BY
  * o) <= k` — shuffles on g and then SORTS EVERY PARTITION COMPLETELY
  * before discarding all but k rows: O(n log n) comparisons and a full
  * spillable sort buffer per partition. This operator keeps a bounded
  * k-heap per group instead: same single hash shuffle (declared via
  * requiredChildDistribution, so Catalyst plans the exchange), O(n log k)
  * comparisons, O(groups·k) memory, no sort spill. At 100 TB with
  * billions of rows per brand the difference is the whole sort.
  *
  * Wiring: logical node → `GraftStrategy` (planner strategy) → physical
  * `GroupedTopKExec`. Registered per-session via `GraftPlans.register`
  * (experimental.extraStrategies, idempotent).
  */
case class GroupedTopK(group: Seq[Expression], order: Seq[SortOrder], k: Int,
    rn: Attribute, child: LogicalPlan) extends UnaryNode {
  override def output: Seq[Attribute] = child.output :+ rn
  // rn originates here, not in the child — required for CheckAnalysis
  override def producedAttributes: AttributeSet = AttributeSet(rn :: Nil)
  override protected def withNewChildInternal(newChild: LogicalPlan): GroupedTopK =
    copy(child = newChild)
}

case class GroupedTopKExec(group: Seq[Expression], order: Seq[SortOrder], k: Int,
    rn: Attribute, child: SparkPlan) extends UnaryExecNode {
  override def output: Seq[Attribute] = child.output :+ rn
  override def producedAttributes: AttributeSet = AttributeSet(rn :: Nil)

  /** One hash shuffle on the group key — Catalyst inserts the exchange. */
  override def requiredChildDistribution: Seq[Distribution] =
    ClusteredDistribution(group) :: Nil

  /** Rows leave still clustered by the group key (the heap pass is
    * partition-local) — advertising it lets a downstream group-key
    * aggregation skip a second exchange. */
  override def outputPartitioning: org.apache.spark.sql.catalyst.plans.physical.Partitioning =
    child.outputPartitioning

  override protected def doExecute(): RDD[InternalRow] = {
    val childOutput = child.output
    val groupExprs = group
    val orderExprs = order
    val limit = k
    val outAttrs = output
    child.execute().mapPartitions ({ iter =>
      val keyProj = UnsafeProjection.create(groupExprs, childOutput)
      val ord: Ordering[InternalRow] =
        GenerateOrdering.generate(orderExprs, childOutput)
      // max-heap under ord: head is the WORST kept row, evicted when a
      // better one arrives — rows are copied before buffering (Spark
      // reuses the row object across iterator steps); the projected key
      // is looked up as is and copied only when its group's heap is made
      val heaps = mutable.HashMap.empty[UnsafeRow, mutable.PriorityQueue[InternalRow]]
      iter.foreach { row =>
        val key = keyProj(row)
        val heap = heaps.getOrElse(key, {
          val h = mutable.PriorityQueue.empty[InternalRow](ord)
          heaps.update(key.copy(), h)
          h
        })
        if (heap.size < limit) heap.enqueue(row.copy())
        else if (ord.compare(row, heap.head) < 0) {
          heap.dequeue(); heap.enqueue(row.copy())
        }
      }
      val outProj = UnsafeProjection.create(outAttrs, childOutput :+ rn)
      val joined = new JoinedRow
      heaps.valuesIterator.flatMap { heap =>
        // dequeueAll drains worst-first; reversed = rank order
        val ranked: Seq[InternalRow] = heap.dequeueAll.reverse.toSeq
        ranked.iterator.zipWithIndex.map { case (r, i) =>
          outProj(joined(r, new GenericInternalRow(Array[Any](i + 1))))
        }
      }
    }, preservesPartitioning = true)
  }

  override protected def withNewChildInternal(newChild: SparkPlan): GroupedTopKExec =
    copy(child = newChild)
}

object GraftStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case GroupedTopK(g, o, k, rn, child) =>
      GroupedTopKExec(g, o, k, rn, planLater(child)) :: Nil
    case _ => Nil
  }
}

object GraftPlans {
  /** Runtime registration on a live session (idempotent). */
  def register(s: SparkSession): Unit =
    if (!s.experimental.extraStrategies.contains(GraftStrategy))
      s.experimental.extraStrategies = s.experimental.extraStrategies :+ GraftStrategy

  /** Top `k` rows per `groupCol`, ordered by `orderCol` DESC with
    * `tieCol` ASC as the total-order tiebreaker; appends rank column
    * `rn`. Semantically identical to the window row_number formulation —
    * PropertySpec asserts row-for-row equality with q_topk_per_group. */
  def groupedTopK(df: DataFrame, groupCol: String, orderCol: String,
      tieCol: String, k: Int): DataFrame = {
    val spark = df.sparkSession
    register(spark)
    val child = df.queryExecution.analyzed
    def attr(n: String): Attribute = child.output.find(_.name == n)
      .getOrElse(throw new IllegalArgumentException(s"no column $n"))
    val order = Seq(SortOrder(attr(orderCol), Descending),
      SortOrder(attr(tieCol), Ascending))
    val rn = AttributeReference("rn", IntegerType, nullable = false)()
    org.apache.spark.sql.GraftSqlBridge.ofRows(spark,
      GroupedTopK(Seq(attr(groupCol)), order, k, rn, child))
  }
}
