package org.apache.spark.sql

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.UnsafeRow
import org.apache.spark.sql.catalyst.plans.logical.Statistics
import org.apache.spark.sql.catalyst.plans.logical.statsEstimation.EstimationUtils
import org.apache.spark.sql.catalyst.plans.physical.{Partitioning, PartitioningCollection}
import org.apache.spark.sql.classic.ClassicConversions.castToImpl
import org.apache.spark.sql.classic.{Dataset => ClassicDataset}
import org.apache.spark.sql.execution.{LogicalRDD, SQLExecution}

/** Eager checkpoints that keep what they measured.
  *
  * `Dataset.localCheckpoint(eager = true)` and `checkpoint()` run a job
  * over the rows and then discard what it saw: the resulting
  * `LogicalRDD` carries the size estimate of the plan it replaced, so a
  * 72-row frame cut from a self-join can still plan as gigabytes. Here
  * the materializing job itself counts the rows and their `UnsafeRow`
  * bytes, and the `LogicalRDD` is built with those as its statistics
  * (`rowCount` = rows, `sizeInBytes` = bytes). Everything else follows
  * `Dataset.checkpoint`: the job runs under its own SQL execution id,
  * partitioning and ordering are read from the executed plan after the
  * job, and the plan's constraints carry over.
  *
  * Lives in this package because `LogicalRDD`'s statistics constructor,
  * `SQLExecution` and `classic.Dataset.ofRows` are private to it. The
  * entry points are named after the Dataset methods they replace, so an
  * RDD's call site reads `localCheckpoint at <caller>` as before.
  */
object GraftCheckpoint {

  /** Rows go to executor block storage. ONE job: it computes, stores and
    * measures every partition, and the checkpoint then finds every block
    * present and runs nothing more. Returns the frame and its row count. */
  def localCheckpoint(df: DataFrame): (DataFrame, Long) =
    materialize(df, "localCheckpoint")(_.localCheckpoint())

  /** Rows are written as reliable checkpoint files under the context's
    * checkpoint directory (one job), then measured by reading those
    * files back (a second job), so the count is of what was stored. */
  def checkpoint(df: DataFrame): (DataFrame, Long) =
    materialize(df, "checkpoint") { rdd =>
      rdd.checkpoint()
      rdd.doCheckpoint()
    }

  private def materialize(df: DataFrame, action: String)(
      store: RDD[InternalRow] => Unit): (DataFrame, Long) = {
    val ds = castToImpl(df)
    val qe = ds.queryExecution
    SQLExecution.withNewExecutionId(qe, Some(action)) {
      qe.executedPlan.resetMetrics()
      val rdd = qe.executedPlan.execute().map(_.copy())
      store(rdd)
      val (rows, bytes) =
        measure(rdd, EstimationUtils.getSizePerRow(ds.logicalPlan.output).toLong)
      // read after execution: an adaptive plan reports its final shape
      val plan = qe.executedPlan
      val (_, constraints) =
        LogicalRDD.rewriteStatsAndConstraints(ds.logicalPlan, qe.optimizedPlan)
      val stats = Statistics(sizeInBytes = BigInt(math.max(bytes, 1L)),
        rowCount = Some(BigInt(rows)))
      val relation = LogicalRDD(ds.logicalPlan.output, rdd,
          firstLeaf(plan.outputPartitioning), plan.outputOrdering, ds.isStreaming)(
        ds.sparkSession, Some(stats), constraints)
      (ClassicDataset.ofRows(ds.sparkSession, relation), rows)
    }
  }

  /** (rows, bytes) over every partition of `rdd`, in one job. A row that
    * is not an `UnsafeRow` counts at Catalyst's per-row size estimate. */
  private def measure(rdd: RDD[InternalRow], fallback: Long): (Long, Long) = {
    val perPartition = rdd.sparkContext.runJob(rdd, (rows: Iterator[InternalRow]) => {
      var n = 0L
      var bytes = 0L
      rows.foreach { r =>
        n += 1
        bytes += (r match {
          case u: UnsafeRow => u.getSizeInBytes.toLong
          case _ => fallback
        })
      }
      (n, bytes)
    })
    (perPartition.map(_._1).sum, perPartition.map(_._2).sum)
  }

  /** As `LogicalRDD.fromDataset`: the first leaf of a partitioning
    * collection, which otherwise grows with every inner join. */
  @scala.annotation.tailrec
  private def firstLeaf(p: Partitioning): Partitioning = p match {
    case c: PartitioningCollection => firstLeaf(c.partitionings.head)
    case other => other
  }
}
