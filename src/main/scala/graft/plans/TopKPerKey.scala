package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, AttributeReference, Descending, Expression, RowOrdering, SortOrder, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution}
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode}
import org.apache.spark.sql.types.LongType

/** Whole-operator custom plan: top-k rows per key WITHOUT a full
  * per-partition sort.
  *
  * The composed-operator formulation (`row_number().over(Window) …
  * filter(rank <= k)`) is semantically right but physically sorts
  * every partition — O(n log n) per key group and a full materialized
  * sort buffer, of which all but k rows per key are thrown away. This
  * operator keeps a bounded k-element heap per key: O(n log k), O(keys
  * · k) memory, same single hash-partition shuffle. At 100 TB with
  * k=3 and millions of keys, that is the difference between sorting
  * the fact table and streaming over it.
  *
  * Wired the Spark-first way for a custom operator (preference (c)):
  * LogicalPlan node + SparkStrategy planning it to a physical
  * UnaryExecNode, injected via SparkSessionExtensions
  * (graft.GraftExtensions → injectPlannerStrategy).
  */
case class TopKPerKeyNode(
    keys: Seq[Expression],
    order: Seq[SortOrder],
    k: Int,
    rankAttr: Attribute,
    child: LogicalPlan) extends UnaryNode {
  override def output: Seq[Attribute] = child.output :+ rankAttr
  // rnk is born here, not consumed from the child
  override def producedAttributes: org.apache.spark.sql.catalyst.expressions.AttributeSet =
    org.apache.spark.sql.catalyst.expressions.AttributeSet(rankAttr)
  override protected def withNewChildInternal(newChild: LogicalPlan): TopKPerKeyNode =
    copy(child = newChild)
}

object TopKStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case TopKPerKeyNode(keys, order, k, rankAttr, child) =>
      TopKPerKeyExec(keys, order, k, rankAttr, planLater(child)) :: Nil
    case _ => Nil
  }
}

case class TopKPerKeyExec(
    keys: Seq[Expression],
    order: Seq[SortOrder],
    k: Int,
    rankAttr: Attribute,
    child: SparkPlan) extends UnaryExecNode {

  override def output: Seq[Attribute] = child.output :+ rankAttr
  override def producedAttributes: org.apache.spark.sql.catalyst.expressions.AttributeSet =
    org.apache.spark.sql.catalyst.expressions.AttributeSet(rankAttr)

  /** Hash-partition by key — the ONLY exchange this operator needs;
    * no required child ordering (the heap replaces the sort). */
  override def requiredChildDistribution: Seq[Distribution] =
    ClusteredDistribution(keys) :: Nil

  override protected def doExecute(): RDD[InternalRow] = {
    val childOutput = child.output
    val keyExprs = keys
    val sortOrder = order
    val kk = k
    val outAttrs = output
    child.execute().mapPartitions({ it =>
      val keyProj = UnsafeProjection.create(keyExprs, childOutput)
      // "better" = earlier in rank order
      val better = RowOrdering.create(sortOrder, childOutput)
      // per key: bounded heap whose head is the WORST kept row
      val heaps = new java.util.HashMap[InternalRow, java.util.PriorityQueue[InternalRow]]()
      it.foreach { row =>
        val key = keyProj(row)
        var heap = heaps.get(key)
        if (heap == null) {
          heap = new java.util.PriorityQueue[InternalRow](kk + 1, better.reverse)
          heaps.put(key.copy(), heap)
        }
        if (heap.size() < kk) heap.offer(row.copy())
        else if (better.compare(row, heap.peek()) < 0) {
          heap.poll(); heap.offer(row.copy())
        }
      }
      val outProj = UnsafeProjection.create(outAttrs, outAttrs)
      val rankRow = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(1)
      val joined = new org.apache.spark.sql.catalyst.expressions.JoinedRow
      import scala.jdk.CollectionConverters._
      heaps.values().asScala.iterator.flatMap { heap =>
        val rows = heap.toArray(new Array[InternalRow](heap.size()))
        java.util.Arrays.sort(rows, better)
        rows.iterator.zipWithIndex.map { case (r, i) =>
          rankRow.update(0, (i + 1).toLong)
          outProj(joined(r, rankRow))
        }
      }
    }, preservesPartitioning = true)
  }

  override protected def withNewChildInternal(newChild: SparkPlan): TopKPerKeyExec =
    copy(child = newChild)
}

object TopKPerKey {

  /** Top-k per key with a rank column — drop-in for
    * `row_number().over(Window.partitionBy(keys).orderBy(order))`
    * + `filter(rank <= k)`, planned as a heap instead of a sort.
    * Requires the session to carry [[graft.GraftExtensions]]. */
  /** @param orderBy (columnName, ascending) pairs — explicit rather
    *                 than Column sort expressions because Spark 4's
    *                 lazy column nodes only convert to catalyst
    *                 SortOrder during analysis. */
  def apply(
      df: DataFrame,
      keyCols: Seq[String],
      orderBy: Seq[(String, Boolean)],
      k: Int,
      rankName: String = "rnk"): DataFrame = {
    val spark = df.sparkSession
    val child = df.queryExecution.analyzed
    def attr(n: String): Attribute =
      child.output.find(_.name == n).getOrElse(
        throw new IllegalArgumentException(s"column $n not in ${child.output.map(_.name)}"))
    val keys = keyCols.map(attr)
    val order = orderBy.map { case (n, asc) =>
      SortOrder(attr(n), if (asc) Ascending else Descending)
    }
    val rankAttr = AttributeReference(rankName, LongType, nullable = false)()
    DatasetBridge.ofRows(spark, TopKPerKeyNode(keys, order, k, rankAttr, child))
  }
}
