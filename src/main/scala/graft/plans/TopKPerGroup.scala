package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, GraftShim}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeReference, Expression, GenericInternalRow, JoinedRow, SortOrder, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.expressions.codegen.GenerateOrdering
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{AllTuples, ClusteredDistribution, Distribution, Partitioning, UnknownPartitioning, UnspecifiedDistribution}
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode}
import org.apache.spark.sql.types.IntegerType

/** Top-k-per-group as a first-class operator (SURVEY.md §4 ladder (c):
  * custom LogicalPlan + Strategy + SparkPlan).
  *
  * Spark's idiom — `row_number().over(Window.partitionBy(g).orderBy(o))
  * .filter(rn <= k)` — shuffles EVERY row of every group and fully
  * sorts each key's rows before discarding all but k. This operator
  * runs aggregate-style in two phases:
  *
  *   partial: per input partition, a bounded k-heap per group — only
  *            ≤ k rows per (group, partition) survive to the shuffle;
  *   final:   same heap over the clustered rows, then emit each group
  *            ordered with an explicit rank column.
  *
  * At 100 TB the shuffle shrinks from |input| to ≤ k·groups·partitions
  * rows, and no full sort ever happens — O(n log k) heap work replaces
  * O(n log n) sort + spill. Output matches the window-rank form row for
  * row (ties broken by the caller's deterministic order columns), so
  * the DuckDB oracles for q4/e10/s1 hold unchanged.
  */
object TopKPerGroup {

  /** Logical node: output = child columns + an int rank (1-based).
    * `rankAttr` is a constructor field so tree copies keep its exprId
    * stable (a fresh attribute per copy would break parent references). */
  case class Node(group: Seq[Expression], order: Seq[SortOrder], k: Int,
      child: LogicalPlan, distinctRows: Boolean = false,
      rankAttr: AttributeReference =
        AttributeReference("rank", IntegerType, nullable = false)())
      extends UnaryNode {
    override def output: Seq[Attribute] = child.output :+ rankAttr
    override def producedAttributes: org.apache.spark.sql.catalyst.expressions.AttributeSet =
      org.apache.spark.sql.catalyst.expressions.AttributeSet(rankAttr :: Nil)
    override def maxRows: Option[Long] = child.maxRows
    override protected def withNewChildInternal(newChild: LogicalPlan): Node =
      copy(child = newChild)
  }

  /** Physical operator; `partial` phase keeps child output (no rank). */
  case class Exec(group: Seq[Expression], order: Seq[SortOrder], k: Int,
      partial: Boolean, distinctRows: Boolean,
      rankAttr: Option[AttributeReference],
      child: SparkPlan) extends UnaryExecNode {

    override def nodeName: String =
      if (partial) "TopKPerGroupPartial" else "TopKPerGroup"

    override def output: Seq[Attribute] =
      rankAttr.fold(child.output)(child.output :+ _)

    override def producedAttributes: org.apache.spark.sql.catalyst.expressions.AttributeSet =
      org.apache.spark.sql.catalyst.expressions.AttributeSet(rankAttr.toSeq)

    override def outputPartitioning: Partitioning =
      if (partial) child.outputPartitioning
      else UnknownPartitioning(conf.numShufflePartitions)

    override def requiredChildDistribution: Seq[Distribution] =
      if (partial) Seq(UnspecifiedDistribution)
      // global (ungrouped) top-k: the merge phase MUST see every
      // partial winner in one place, else it would emit a top-k per
      // partition (ADVICE r1) — AllTuples plans the single-partition
      // exchange, and the partial phase has already cut it to ≤ k rows
      // per input partition, so the funnel is tiny
      else if (group.isEmpty) Seq(AllTuples)
      else Seq(ClusteredDistribution(group))

    override protected def doExecute(): RDD[InternalRow] = {
      val groupExprs = group
      val orderExprs = order
      val limit = k
      val dedup = distinctRows
      val emitRank = rankAttr.isDefined
      val childOutput = child.output
      child.execute().mapPartitions { iter =>
        val keyProj = UnsafeProjection.create(groupExprs, childOutput)
        val rowProj = UnsafeProjection.create(childOutput, childOutput)
        val ord = GenerateOrdering.generate(orderExprs, childOutput)
        // per-group bounded heap: worst kept row on top, evict on insert
        val heaps = new java.util.HashMap[UnsafeRow, java.util.PriorityQueue[UnsafeRow]]()
        // distinctRows: reject a row ord-EQUAL to a kept row (the
        // caller contracts that ord-equal rows are identical rows, so
        // this is distinct() fused into the heap) — an O(k) scan per
        // accepted insert, vs the full-volume shuffle a pre-distinct
        // costs (s6 at sf100: ~10^9 candidate rows, disk-fatal)
        def containsEqual(heap: java.util.PriorityQueue[UnsafeRow],
            row: InternalRow): Boolean = {
          val it = heap.iterator()
          while (it.hasNext) {
            val kept = it.next()
            if (ord.compare(kept, row) == 0) {
              // enforce the caller's contract on every hit: ord-equal
              // ⇒ identical row (byte-compare is safe — UnsafeWriter
              // normalizes NaN/-0.0). A non-determining order would
              // otherwise silently DROP distinct rows (VERDICT r6);
              // fail loudly instead.
              if (kept != rowProj(row))
                throw new IllegalStateException(
                  "perKeyDistinct: ordering does not determine the row — " +
                    "two rows compare ord-equal but differ in other " +
                    "columns; add the remaining columns to orderCols " +
                    "or use distinct() + perKey")
              return true
            }
          }
          false
        }
        iter.foreach { row =>
          val key = keyProj(row)
          var heap = heaps.get(key)
          if (heap == null) {
            heap = new java.util.PriorityQueue[UnsafeRow](limit + 1, ord.reversed())
            heaps.put(key.copy(), heap)
          }
          if (heap.size < limit) {
            if (!dedup || !containsEqual(heap, row))
              heap.add(rowProj(row).copy())
          } else if (ord.compare(row, heap.peek()) < 0) {
            if (!dedup || !containsEqual(heap, row)) {
              heap.poll()
              heap.add(rowProj(row).copy())
            }
          }
        }
        // downstream operators (exchanges especially) expect UnsafeRow,
        // so ranked output goes through an output projection
        val outProj =
          if (emitRank) UnsafeProjection.create(
            (childOutput.map(_.dataType) :+ IntegerType).toArray)
          else null
        val groups = heaps.values().iterator()
        new Iterator[InternalRow] {
          private var current: Iterator[InternalRow] = Iterator.empty
          override def hasNext: Boolean = {
            while (!current.hasNext && groups.hasNext) {
              val kept = groups.next().toArray(new Array[UnsafeRow](0))
              java.util.Arrays.sort(kept, ord)
              current =
                if (!emitRank) kept.iterator
                else kept.iterator.zipWithIndex.map { case (r, i) =>
                  outProj(new JoinedRow(r,
                    new GenericInternalRow(Array[Any](i + 1)))): InternalRow
                }
            }
            current.hasNext
          }
          override def next(): InternalRow = current.next()
        }
      }
    }

    override protected def withNewChildInternal(newChild: SparkPlan): Exec =
      copy(child = newChild)
  }

  /** Planner strategy: logical node → partial + final pair. Installed
    * by [[graft.GraftExtensions]], so [[perKey]] plans on any session
    * built through [[graft.GraftSession]]. */
  object Strategy extends SparkStrategy {
    override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
      case n: Node =>
        val partial = Exec(n.group, n.order, n.k, partial = true,
          distinctRows = n.distinctRows, rankAttr = None,
          child = planLater(n.child))
        Exec(n.group, n.order, n.k, partial = false,
          distinctRows = n.distinctRows, rankAttr = Some(n.rankAttr),
          child = partial) :: Nil
      case _ => Nil
    }
  }

  /** Public API: top `k` rows per `groupCols` ordered by `orderCols`,
    * with a 1-based `rank` column appended. Order must be deterministic
    * (break ties explicitly) for reproducible output. */
  def perKey(df: DataFrame, groupCols: Seq[Column], orderCols: Seq[Column],
      k: Int): DataFrame = perKeyImpl(df, groupCols, orderCols, k, false)

  /** [[perKey]] with duplicate-row elimination fused into the heaps:
    * rows EQUAL under `orderCols` count once. Only valid when the
    * ordering determines the whole row (ord-equal ⇒ identical row) —
    * then it equals `df.distinct()` + [[perKey]] with the distinct's
    * full-input shuffle deleted (candidate generators that emit the
    * same pair from multiple LSH tables never pay to dedup the misses
    * they were about to discard anyway). */
  def perKeyDistinct(df: DataFrame, groupCols: Seq[Column],
      orderCols: Seq[Column], k: Int): DataFrame =
    perKeyImpl(df, groupCols, orderCols, k, true)

  private def perKeyImpl(df: DataFrame, groupCols: Seq[Column],
      orderCols: Seq[Column], k: Int, distinctRows: Boolean): DataFrame = {
    import org.apache.spark.sql.catalyst.expressions.Alias
    import org.apache.spark.sql.catalyst.plans.logical.{Project, Sort}
    val spark = df.sparkSession
    // Column → catalyst via the analyzer (a Column's expression is a
    // lazy ColumnNodeExpression wrapper that captures non-serializable
    // internal nodes if embedded directly): run df.sort / df.select
    // through analysis and lift the resolved SortOrder / grouping exprs.
    val analyzedSort = GraftShim.logicalPlan(df.sort(orderCols: _*)) match {
      case s: Sort => s
      case other => throw new IllegalStateException(s"expected Sort, got $other")
    }
    val child = analyzedSort.child
    val order = analyzedSort.order
    val group = GraftShim.logicalPlan(df.select(groupCols: _*)) match {
      case p: Project => p.projectList.map {
        case a: Alias => a.child
        case e => e
      }
      case other => throw new IllegalStateException(s"expected Project, got $other")
    }
    GraftShim.ofRows(spark, Node(group, order, k, child, distinctRows))
  }
}
