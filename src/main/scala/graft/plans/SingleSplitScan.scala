package graft.plans

import scala.annotation.tailrec

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Attribute
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.plans.physical.{Partitioning, SinglePartition}
import org.apache.spark.sql.execution.{CodegenSupport, FileSourceScanExec, SparkPlan, SparkStrategy, UnaryExecNode}
import org.apache.spark.sql.execution.datasources.{FileSourceStrategy, HadoopFsRelation, LogicalRelation, PartitioningAwareFileIndex}

/** Plans a file scan that reads exactly one split as a single partition.
  *
  * A file scan reports `UnknownPartitioning`, so `EnsureRequirements` puts a
  * hash exchange under every aggregate, window, distinct and [[GroupedTopK]]
  * above it, and a range exchange (plus the job that samples its bounds)
  * under every global sort. For a one-task scan that is pure overhead: the
  * exchange writes all rows to 256 shuffle partitions so that AQE can
  * coalesce them back into the one task they came from. Under
  * [[SingleSplitScanExec]] the scan reports `SinglePartition`, which
  * satisfies every distribution but a broadcast, and those exchanges are
  * never planned. Two single-partition join inputs still shuffle when
  * either is estimated over `spark.sql.maxSinglePartitionBytes` (Spark's own
  * check), and a join with one multi-partition input shuffles both sides as
  * before.
  *
  * The gate reads only the file listing the relation already holds: no job
  * runs and no reader is built. It accepts a non-partitioned, non-bucketed
  * relation listing one non-empty file no larger than
  * `min(spark.sql.files.maxPartitionBytes, spark.sql.files.openCostInBytes)`.
  * Spark's split size is `min(maxPartitionBytes, max(openCostInBytes,
  * bytesPerCore))`, never below that bound, so such a file is one split and
  * the scan one partition whatever the session's parallelism. */
object SingleSplitScanStrategy extends SparkStrategy {

  override def apply(plan: LogicalPlan): Seq[SparkPlan] =
    relationBelow(plan) match {
      case Some(fs) if isSingleSplit(fs) =>
        FileSourceStrategy(plan).map(_.transformUp {
          case scan: FileSourceScanExec => SingleSplitScanExec(scan)
        })
      case _ => Nil
    }

  /** The file relation under the Project/Filter chain that
    * `FileSourceStrategy` folds into one scan, if any. */
  @tailrec private def relationBelow(
      plan: LogicalPlan): Option[HadoopFsRelation] = plan match {
    case Project(_, child) => relationBelow(child)
    case Filter(_, child) => relationBelow(child)
    case LogicalRelation(fs: HadoopFsRelation, _, _, false, _) => Some(fs)
    case _ => None
  }

  def isSingleSplit(fs: HadoopFsRelation): Boolean =
    fs.partitionSchema.isEmpty && fs.bucketSpec.isEmpty && (fs.location match {
      case index: PartitioningAwareFileIndex =>
        // the in-memory listing, filtered exactly as the scan filters it
        // (no empty files, no hidden paths)
        index.listFiles(Nil, Nil).flatMap(_.files) match {
          case Seq(file) =>
            val conf = fs.sparkSession.sessionState.conf
            file.getLen <= math.min(conf.filesMaxPartitionBytes,
              conf.filesOpenCostInBytes)
          case _ => false
        }
      case _ => false
    })
}

/** Pass-through over a one-split [[FileSourceScanExec]] that reports
  * `SinglePartition`. It is row-based and joins its scan's whole-stage
  * codegen stage (produce and consume pass straight through), so the
  * generated code is the same as over the bare scan, `ColumnarToRow`
  * included. It does not pass columnar batches on: Spark's columnar
  * `UnionExec` reports the partitioning its children share but unions
  * their RDDs end to end, so a union of two single-partition columnar
  * inputs would claim one partition and run two. The row path honours
  * the claim.
  *
  * The claim decides how Spark groups rows: should the scan ever read
  * more than one partition, the node fails the query rather than return
  * wrong groups. */
case class SingleSplitScanExec(child: SparkPlan)
    extends UnaryExecNode with CodegenSupport {

  override def output: Seq[Attribute] = child.output
  override def outputPartitioning: Partitioning = SinglePartition

  override protected def doExecute(): RDD[InternalRow] =
    onePartition(child.execute())

  private def codegenChild: CodegenSupport =
    child.asInstanceOf[CodegenSupport]

  override def supportCodegen: Boolean = child match {
    case c: CodegenSupport => c.supportCodegen
    case _                 => false
  }

  override def inputRDDs(): Seq[RDD[InternalRow]] =
    codegenChild.inputRDDs().map(onePartition)

  override protected def doProduce(ctx: CodegenContext): String =
    codegenChild.produce(ctx, this)

  // hands the scan's row on when it has one, so a parent that needs an
  // UnsafeRow reuses it rather than projecting a new one
  override def doConsume(ctx: CodegenContext, input: Seq[ExprCode],
                         row: ExprCode): String =
    consume(ctx, input, if (row.code.isEmpty) row.value.toString else null)

  private def onePartition(rdd: RDD[InternalRow]): RDD[InternalRow] = {
    val n = rdd.getNumPartitions
    if (n != 1) throw new IllegalStateException(
      s"$nodeName planned a single partition but its scan has $n:\n$child")
    rdd
  }

  override protected def withNewChildInternal(
      newChild: SparkPlan): SingleSplitScanExec = copy(child = newChild)
}
