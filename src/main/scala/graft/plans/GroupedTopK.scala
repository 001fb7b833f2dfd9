package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.execution.SparkStrategy
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, Expression, RowOrdering, SortOrder, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, Partitioning}
import org.apache.spark.sql.execution.{SparkPlan, UnaryExecNode}
import org.apache.spark.sql.graftbridge.ColumnBridge

/** Whole-operator extension demo (SURVEY §7 preference (c)): per-key top-k
  * as a first-class plan node — logical node, planner strategy, and a
  * physical operator with bounded per-key heaps.
  *
  * Why not compose it: the DataFrame formulation
  * (`row_number().over(Window.partitionBy(keys).orderBy(...)) <= k`) plans
  * as exchange + FULL SORT of every partition + window walk. The dedicated
  * operator replaces the sort with an O(n log k) heap per key and drops
  * all-but-k rows before they ever materialize — at 100 TB the difference
  * is sorting every shuffle partition versus streaming it once. The same
  * requiredChildDistribution (cluster by keys) means the shuffle itself is
  * identical; only the post-shuffle work changes.
  *
  * Registration: [[GraftExtensions]] (`spark.sql.extensions`) injects the
  * strategy, the window top-k rewrite and the column pruning when the
  * session is built; nothing registers them at runtime.
  */
case class GroupedTopKPlan(keys: Seq[Expression], order: Seq[SortOrder],
                           k: Int, child: LogicalPlan) extends UnaryNode {
  require(k > 0, s"k=$k must be positive")
  override def output: Seq[Attribute] = child.output
  override def maxRows: Option[Long] = child.maxRows
  override protected def withNewChildInternal(
      newChild: LogicalPlan): GroupedTopKPlan = copy(child = newChild)
}

object GroupedTopKStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case GroupedTopKPlan(keys, order, k, child) =>
      // Grouping keys are normalized exactly as Spark normalizes hash-
      // aggregate and join keys (NormalizeFloatingNumbers: -0.0 → 0.0,
      // NaN → one canonical bit pattern): the heap phases group by
      // UnsafeRow binary equality and the safety-valve sort groups by
      // ordering equality, and only normalized keys make those two
      // notions — and Spark's own groupBy semantics — coincide.
      val normKeys = keys.map(ColumnBridge.normalizeFloats)
      // two-phase, mirroring partial aggregation: a map-side heap pass
      // bounds shuffle volume to ≤ k rows per (mapper, key) — without the
      // sort Spark's own WindowGroupLimit partial mode pays — then the
      // clustered final pass merges
      GroupedTopKExec(normKeys, order, k, partial = false,
        GroupedTopKExec(normKeys, order, k, partial = true,
          planLater(child))) :: Nil
    case _ => Nil
  }
}

/** Physical per-key top-k: a single streaming pass per partition holding at
  * most k rows per key in a bounded heap. `partial = true` runs map-side on
  * whatever partitioning exists (shrinking the shuffle input); the final
  * phase requires clustering on the keys (the planner inserts the hash
  * exchange) and yields each key's rows in the requested sort order.
  *
  * Memory contract WITH safety valve: the fast path holds k rows × distinct
  * keys per partition in heaps; once the per-partition group count passes
  * `spark.graft.topk.maxGroupsPerPartition` (default 1M) the operator
  * degrades instead of OOMing — the partial phase flushes its heaps
  * downstream and keeps going (correct because the final phase re-reduces),
  * and the final phase hands everything held plus the remaining input to a
  * spillable external sort on (keys, order) and takes the first k rows of
  * each contiguous key group. An adversarial key distribution therefore
  * costs a sort (what the window form always pays) rather than memory.
  * The sort fallback groups by ordering-equality rather than binary
  * equality, the same hash-vs-sort-aggregate distinction Spark itself
  * normalizes (e.g. -0.0 vs 0.0) before aggregation. */
case class GroupedTopKExec(keys: Seq[Expression], order: Seq[SortOrder],
                           k: Int, partial: Boolean,
                           child: SparkPlan) extends UnaryExecNode {

  override def output: Seq[Attribute] = child.output

  override def nodeName: String =
    if (partial) "GroupedTopKPartial" else "GroupedTopK"

  // both phases keep every row in its input partition
  override def outputPartitioning: Partitioning = child.outputPartitioning

  override def requiredChildDistribution: Seq[Distribution] =
    if (partial) super.requiredChildDistribution
    else ClusteredDistribution(keys) :: Nil

  override protected def doExecute(): RDD[InternalRow] = {
    val keyExprs = keys
    val so = order
    val out = child.output
    val kk = k
    val isPartial = partial
    val maxGroups = conf.getConfString(
      "spark.graft.topk.maxGroupsPerPartition", "1000000").toInt
    child.execute().mapPartitions({ iter =>
      import scala.jdk.CollectionConverters._
      val keyProj = UnsafeProjection.create(keyExprs, out)
      // total ordering from the SortOrder spec (codegen'd when possible);
      // smaller = better ranked
      val ordering = RowOrdering.create(so, out)
      // max-heap on the ordering: head is the WORST kept row → O(log k)
      // replace when a better row arrives
      var groups =
        new java.util.HashMap[UnsafeRow,
          scala.collection.mutable.PriorityQueue[InternalRow]]()
      def insert(row: InternalRow): Unit = {
        val key = keyProj(row)
        var heap = groups.get(key)
        if (heap == null) {
          heap = scala.collection.mutable.PriorityQueue
            .empty[InternalRow](ordering)
          groups.put(key.copy(), heap)
        }
        if (heap.size < kk) heap.enqueue(row.copy())
        else if (ordering.compare(row, heap.head) < 0) {
          heap.dequeue()
          heap.enqueue(row.copy())
        }
      }
      def drain(m: java.util.HashMap[UnsafeRow,
          scala.collection.mutable.PriorityQueue[InternalRow]])
          : Iterator[InternalRow] =
        m.values.asScala.iterator.flatMap { h =>
          // dequeueAll drains worst-first; reverse restores the sort order
          h.dequeueAll.reverse.iterator
        }

      while (iter.hasNext && groups.size() <= maxGroups) insert(iter.next())

      if (!iter.hasNext) drain(groups)
      else if (isPartial) {
        // VALVE, partial phase: flush the heaps downstream and continue in
        // bounded batches — the final phase re-reduces, so emitting a key
        // more than once is harmless and memory stays ≤ (maxGroups+1) × k
        new Iterator[Iterator[InternalRow]] {
          private var done = false
          override def hasNext: Boolean = !done
          override def next(): Iterator[InternalRow] = {
            val flushed = groups
            groups = new java.util.HashMap()
            while (iter.hasNext && groups.size() <= maxGroups)
              insert(iter.next())
            if (!iter.hasNext) { done = true }
            val tail = if (done) drain(groups) else Iterator.empty
            drain(flushed) ++ tail
          }
        }.flatten
      } else {
        // VALVE, final phase: spillable external sort on (keys, order),
        // then first-k-per-contiguous-group — already-pruned heap contents
        // (≤ k per key, still a valid superset of the answer) plus the
        // remaining input all go through the sorter
        val keyOrder = keyExprs.map(SortOrder(_, Ascending))
        val sortOrder = keyOrder ++ so
        val fullOrdering = RowOrdering.create(sortOrder, out)
        // group-boundary comparator over the key prefix ONLY: boundaries
        // must be detected with the SAME ordering the sort used, not
        // UnsafeRow binary equality — keys that are ordering-equal yet
        // binary-distinct (-0.0 vs 0.0, NaN bit patterns) sort adjacent
        // in arbitrary interleaving, and a binary-equality check would
        // reset the per-group counter at each alternation and overshoot k
        val keyOrdering = RowOrdering.create(keyOrder, out)
        val schema = org.apache.spark.sql.types.StructType(
          out.map(a => org.apache.spark.sql.types.StructField(
            a.name, a.dataType, a.nullable)))
        val prefixComputer =
          new org.apache.spark.sql.execution.UnsafeExternalRowSorter
            .PrefixComputer {
            private val zero = new org.apache.spark.sql.execution
              .UnsafeExternalRowSorter.PrefixComputer.Prefix
            override def computePrefix(row: InternalRow)
                : org.apache.spark.sql.execution.UnsafeExternalRowSorter
                  .PrefixComputer.Prefix = zero // ties → full compare
          }
        val sorter = org.apache.spark.sql.execution.UnsafeExternalRowSorter
          .create(schema, fullOrdering,
            org.apache.spark.util.collection.unsafe.sort.PrefixComparators
              .LONG,
            prefixComputer,
            org.apache.spark.SparkEnv.get.memoryManager.pageSizeBytes,
            false)
        val toUnsafe = UnsafeProjection.create(out, out)
        def asUnsafe(r: InternalRow): UnsafeRow = r match {
          case u: UnsafeRow => u
          case other        => toUnsafe(other)
        }
        val held = groups
        groups = null // release the map reference before the sort
        held.values.asScala.foreach(
          _.foreach(r => sorter.insertRow(asUnsafe(r))))
        held.clear()
        while (iter.hasNext) sorter.insertRow(asUnsafe(iter.next()))
        val sorted = sorter.sort()
        new Iterator[InternalRow] {
          private var curRow: UnsafeRow = null // stable copy of group rep
          private var taken = 0
          private var pending: InternalRow = null
          private def advance(): Unit = {
            while (pending == null && sorted.hasNext) {
              val row = sorted.next()
              if (curRow == null || keyOrdering.compare(row, curRow) != 0) {
                curRow = asUnsafe(row).copy(); taken = 1; pending = row
              } else if (taken < kk) { taken += 1; pending = row }
            }
          }
          override def hasNext: Boolean = { advance(); pending != null }
          override def next(): InternalRow = {
            advance()
            val r = pending; pending = null; r
          }
        }
      }
    }, preservesPartitioning = true)
  }

  override protected def withNewChildInternal(
      newChild: SparkPlan): GroupedTopKExec = copy(child = newChild)
}

object GroupedTopK {

  /** Top `k` rows per distinct value of `keyCols`, ranked by `orderBy`
    * (pass `.desc`/`.asc` columns; bare columns default ascending). The
    * session's [[GraftExtensions]] plan the node. */
  def apply(df: DataFrame, keyCols: Seq[String], orderBy: Seq[Column],
            k: Int): DataFrame = {
    val spark = df.sparkSession
    val keyExprs =
      keyCols.map(c => ColumnBridge.eagerExpression(spark, df.col(c)))
    val sortOrder = orderBy.map(c =>
      ColumnBridge.eagerExpression(spark, c) match {
        case so: SortOrder => so
        case e             => SortOrder(e, Ascending)
      })
    // build over the ANALYZED child: df.col() resolves against df's own
    // analysis, so the raw logical plan would re-analyze to fresh exprIds
    // that no longer match the captured attributes
    ColumnBridge.ofRows(spark,
      GroupedTopKPlan(keyExprs, sortOrder, k, df.queryExecution.analyzed))
  }
}
