package org.apache.spark.sql.graftbridge

import org.apache.spark.SparkContext
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.Statistics
import org.apache.spark.sql.classic.{Dataset, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.storage.RDDBlockId

/** The checkpoint leaf of a pinned frame (`Dataset.checkpoint` /
  * `localCheckpoint`) is a `LogicalRDD` whose statistics are fixed at
  * construction from the origin plan's estimate, through a constructor
  * argument Spark keeps internal. This bridge (same package-namespace
  * pattern as [[ColumnBridge]]) re-exposes what `graft.operators.Pin`
  * needs to give the leaf a measured size and to release it: the
  * leaf's RDD, the bytes the block manager stores for an RDD, a quiet
  * release of those blocks, and a copy of the leaf with new statistics;
  * and, for `graft.PlanDump`'s pin plans, a drain of the listener bus.
  * No Spark internals are modified.
  */
object PinBridge {

  /** The RDD under `df` when `df` is a checkpoint leaf. */
  def leafRdd(df: DataFrame): Option[RDD[_]] = df.queryExecution.logical match {
    case lr: LogicalRDD => Some(lr.rdd)
    case _ => None
  }

  /** Bytes the block manager holds for `rdd`'s blocks, memory plus
    * disk, summed over every block manager; None when none is stored.
    * Reads the master's block table directly: the status store behind
    * `SparkContext.getRDDStorageInfo` is filled by the listener bus,
    * after the job that stored the blocks has already returned.
    */
  def storedBytes(rdd: RDD[_]): Option[Long] = {
    val sizes = rdd.sparkContext.env.blockManager.master.getStorageStatus
      .toSeq.flatMap(_.rddBlocks.collect {
        case (RDDBlockId(id, _), s) if id == rdd.id => s.memSize + s.diskSize
      })
    if (sizes.isEmpty) None else Some(sizes.sum)
  }

  /** Block until every event posted so far has reached its listeners:
    * `graft.PlanDump` reads the plans of pin jobs through a
    * `QueryExecutionListener`, which the listener bus calls
    * asynchronously.
    */
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** Drop `rdd`'s stored blocks without blocking. Unlike `RDD.unpersist`
    * this logs no warning for a locally checkpointed RDD: the pin that
    * frees one has finished with it.
    */
  def release(rdd: RDD[_]): Unit =
    rdd.sparkContext.unpersistRDD(rdd.id, blocking = false)

  /** `df`'s checkpoint leaf carrying `sizeInBytes` as its statistics,
    * in place of the origin plan's estimate. Keeps the leaf's output
    * attributes, RDD and constraints.
    */
  def withSize(df: DataFrame, sizeInBytes: BigInt): DataFrame =
    df.queryExecution.logical match {
      case lr: LogicalRDD =>
        val session = df.sparkSession.asInstanceOf[SparkSession]
        Dataset.ofRows(session, lr.copy()(session,
          Some(Statistics(sizeInBytes = sizeInBytes)), Some(lr.constraints)))
      case other => throw new IllegalArgumentException(
        s"not a checkpoint leaf: ${other.nodeName}")
    }
}
