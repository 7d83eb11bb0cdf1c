package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{
  Ascending, Attribute, AttributeSet, Descending, Expression, SortOrder,
  UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.expressions.codegen.LazilyGeneratedOrdering
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{
  ClusteredDistribution, Distribution, Partitioning, UnspecifiedDistribution}
import org.apache.spark.sql.execution.{SparkPlan, UnaryExecNode}

/** Per-group top-k as a first-class operator — the whole-operator
  * extension point (logical node + planner strategy + physical exec,
  * injected via [[graft.GraftExtensions]]).
  *
  * WHY an operator and not a window: the declarative form —
  * `row_number() OVER (PARTITION BY g ORDER BY o) <= k` — plans as a
  * full SORT of every group (WindowExec sorts each partition by
  * (g, o)), materializing and ordering ALL rows to keep k of them. For
  * global top-k Spark already has the right physical answer
  * (TakeOrderedAndProject: per-partition bounded heaps, then a merged
  * final heap — no full sort anywhere); this operator is that same
  * shape PER KEY:
  *
  *   partial pass (map side, before any shuffle): one bounded k-heap
  *     per group key per input partition → at most k·|keys-in-partition|
  *     rows survive;
  *   exchange: hash partition by the group key — but on k·|keys| rows,
  *     not the corpus;
  *   final pass: the same bounded heaps merge the per-partition
  *     survivors exactly.
  *
  * The partial/final pair is planned exactly like partial aggregation
  * (EnsureRequirements inserts the exchange from the final node's
  * ClusteredDistribution requirement), so AQE still sizes the shuffle.
  * With a TOTAL sort order (caller must include a tie-break column),
  * bounded-heap partial + final is exactly row_number ≤ k: every global
  * top-k row survives its partition's partial heap (it can only be
  * evicted by a strictly-better row, of which there are < k). Memory is
  * k rows per distinct key per partition — the operator's honest bound,
  * vs the window's full-partition sort buffer. On the final exec that
  * equals the output size; on the PARTIAL exec (pre-shuffle, every
  * partition can see every key) the map is additionally capped at
  * [[TopKPerGroupExec.MaxPartialKeys]] tracked keys — past the cap,
  * new-key rows stream through untrimmed and the final exec does all
  * the trimming, trading shuffle volume for bounded executor memory on
  * pathological cardinalities.
  *
  * Rows are kept as copied UnsafeRows; ordering is the codegen'd
  * [[LazilyGeneratedOrdering]] over the caller's SortOrder.
  */
case class TopKPerGroup(
    groupExprs: Seq[Expression],
    sortOrder: Seq[SortOrder],
    k: Int,
    child: LogicalPlan) extends UnaryNode {
  require(k > 0, s"k must be positive, got $k")
  override def output: Seq[Attribute] = child.output
  override def references: AttributeSet =
    AttributeSet(groupExprs.flatMap(_.references) ++
      sortOrder.flatMap(_.references))
  override protected def withNewChildInternal(
      newChild: LogicalPlan): TopKPerGroup = copy(child = newChild)
}

object TopKPerGroup {
  /** DataFrame-level entry: keep the first `k` rows per group of
    * `keys`, in `(column, descending?)` order. The order plus the
    * caller's tie-break must be total for exact distributed semantics —
    * same contract as every oracle-paired top-k in this repo.
    */
  def topK(
      df: DataFrame,
      keys: Seq[String],
      order: Seq[(String, Boolean)],
      k: Int): DataFrame = {
    // the final exec clusters on the keys; ClusteredDistribution(Nil)
    // is rejected by Spark — for a GLOBAL top-k use orderBy().limit(),
    // which already plans as TakeOrderedAndProject
    require(keys.nonEmpty, "topK needs at least one group key")
    require(order.nonEmpty, "topK needs a sort order")
    val lp = df.queryExecution.analyzed
    // resolve through the session's resolver (case-insensitive under the
    // default spark.sql.caseSensitive=false, matching every other column
    // lookup in Spark) and refuse ambiguity instead of silently taking
    // the first duplicate
    val resolver = df.sparkSession.sessionState.analyzer.resolver
    def attr(n: String) = {
      val hits = lp.output.filter(a => resolver(a.name, n))
      if (hits.isEmpty) throw new IllegalArgumentException(
        s"column $n not in ${lp.output.map(_.name).mkString(", ")}")
      if (hits.size > 1) throw new IllegalArgumentException(
        s"column $n is ambiguous: ${hits.map(_.name).mkString(", ")}")
      hits.head
    }
    val g = keys.map(attr(_): Expression)
    val o = order.map { case (n, desc) =>
      SortOrder(attr(n), if (desc) Descending else Ascending) }
    org.apache.spark.sql.GraftSqlShim.ofRows(
      df.sparkSession, TopKPerGroup(g, o, k, lp))
  }
}

/** Plans the logical node as a partial/final exec pair — the partial
  * runs pre-shuffle (map-side candidate thinning), the final requires
  * co-location by key so EnsureRequirements inserts the hash exchange
  * between them, sized by AQE like any aggregation shuffle. */
object TopKPerGroupStrategy
    extends org.apache.spark.sql.execution.SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case TopKPerGroup(g, o, k, child) =>
      val partial =
        TopKPerGroupExec(g, o, k, partial = true, planLater(child))
      TopKPerGroupExec(g, o, k, partial = false, partial) :: Nil
    case _ => Nil
  }
}

object TopKPerGroupExec {
  /** Distinct keys the PARTIAL exec tracks per partition (2^20) before
    * new-key rows stream through to the final exec untrimmed. */
  val MaxPartialKeys: Int = 1 << 20
}

case class TopKPerGroupExec(
    groupExprs: Seq[Expression],
    sortOrder: Seq[SortOrder],
    k: Int,
    partial: Boolean,
    child: SparkPlan) extends UnaryExecNode {

  override def output: Seq[Attribute] = child.output
  override def outputPartitioning: Partitioning = child.outputPartitioning
  override def requiredChildDistribution: Seq[Distribution] =
    if (partial) UnspecifiedDistribution :: Nil
    else ClusteredDistribution(groupExprs) :: Nil
  override def nodeName: String =
    if (partial) "TopKPerGroupPartial" else "TopKPerGroupFinal"

  protected override def doExecute(): RDD[InternalRow] = {
    val schema = child.output
    val gExprs = groupExprs
    val ord = sortOrder
    val kk = k
    val isPartial = partial
    // Memory guard: the heap map holds k rows per DISTINCT KEY per
    // partition. Post-shuffle (final) that is at most the output size,
    // but the partial exec runs before the shuffle, where a partition can
    // see nearly every key of a high-cardinality PARTITION BY. Partial
    // thinning is only an optimization (the final trims exactly), so past
    // MaxPartialKeys, rows with NEW keys pass through untrimmed;
    // already-tracked keys keep their heaps.
    child.execute().mapPartitions({ iter =>
      val keyProj = UnsafeProjection.create(gExprs, schema)
      val rowOrd: Ordering[InternalRow] =
        new LazilyGeneratedOrdering(ord, schema)
      // heap head = the WORST kept row (max in sort order) so one
      // comparison decides admit-or-drop; k is small, the heap is the
      // classic bounded-top-k structure
      val heaps = new scala.collection.mutable.HashMap[
        UnsafeRow, scala.collection.mutable.PriorityQueue[InternalRow]]()
      val trimmed = iter.flatMap { row =>
        val key = keyProj(row)
        heaps.get(key) match {
          case Some(h) =>
            if (h.size < kk) h.enqueue(row.copy())
            else if (rowOrd.lt(row, h.head)) { h.dequeue(); h.enqueue(row.copy()) }
            Iterator.empty
          case None
              if isPartial && heaps.size >= TopKPerGroupExec.MaxPartialKeys =>
            Iterator.single(row) // pass through; the final exec trims
          case None =>
            val h = new scala.collection.mutable.PriorityQueue[
              InternalRow]()(rowOrd)
            h.enqueue(row.copy())
            heaps.put(key.copy(), h)
            Iterator.empty
        }
      }
      // ++ evaluates its right operand lazily, AFTER the input (and so
      // every heap) is fully consumed
      trimmed ++ heaps.valuesIterator.flatMap(_.iterator)
    }, preservesPartitioning = true)
  }

  override protected def withNewChildInternal(
      newChild: SparkPlan): TopKPerGroupExec = copy(child = newChild)
}
