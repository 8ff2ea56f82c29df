package org.apache.spark.sql.graftbridge

import org.apache.spark.SparkEnv
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.Statistics
import org.apache.spark.sql.classic
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.storage.RDDBlockId

/** An eager `localCheckpoint` whose plan reports the bytes it stored.
  *
  * `Dataset.localCheckpoint` keeps the origin plan's estimate as the
  * checkpoint's statistics, and a frame that is already an RDD scan (the
  * output of `SurrogateKeys.dense`) has none, so the planner sees
  * `spark.sql.defaultSizeInBytes` and plans a sort-merge join where the
  * frame would broadcast. Here the checkpoint's `LogicalRDD` is re-wrapped
  * with `sizeInBytes` equal to the memory and disk bytes of its blocks,
  * read from the block manager master once the checkpoint job has run.
  */
object MeasuredCheckpoint {

  def apply(df: DataFrame): DataFrame = {
    val session = df.sparkSession.asInstanceOf[classic.SparkSession]
    val cp = df.localCheckpoint().asInstanceOf[classic.Dataset[_]]
    val leaf = cp.queryExecution.analyzed.asInstanceOf[LogicalRDD]
    val stats = Statistics(sizeInBytes = storedBytes(leaf))
    classic.Dataset.ofRows(session, leaf.copy()(session, Some(stats), Some(leaf.constraints)))
  }

  /** Memory plus disk bytes of the blocks of `leaf`'s RDD. */
  private def storedBytes(leaf: LogicalRDD): BigInt = {
    val master = SparkEnv.get.blockManager.master
    (0 until leaf.rdd.getNumPartitions).iterator
      .flatMap(p => master.getBlockStatus(RDDBlockId(leaf.rdd.id, p), askStorageEndpoints = false).values)
      .map(s => BigInt(s.memSize + s.diskSize))
      .sum
  }
}
