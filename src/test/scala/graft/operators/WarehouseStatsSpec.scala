package graft.operators

import org.apache.spark.rdd.RDD
import org.apache.spark.ShuffleDependency
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.internal.SQLConf
import org.scalatest.concurrent.Eventually._
import org.scalatest.time.SpanSugar._

import graft.SparkSpec

/** The stored warehouse (`cache = true`): each table is one checkpointed
  * RDD scan that reports the bytes it stored, so the planner sizes its
  * joins from what is resident and the build's plans are gone.
  */
class WarehouseStatsSpec extends SparkSpec {

  private def reachesShuffle(rdd: RDD[_]): Boolean = rdd.dependencies.exists {
    case _: ShuffleDependency[_, _, _] => true
    case d => reachesShuffle(d.rdd)
  }

  test("each warehouse table is one leaf whose statistics are its stored bytes") {
    val w = BankEtl.buildCached(spark, sf)
    for ((name, df) <- w.tables) {
      val plan = df.queryExecution.optimizedPlan
      val leaf = plan match {
        case r: LogicalRDD => r
        case other => fail(s"$name must be one stored leaf, got:\n$other")
      }
      assert(leaf.rdd.isCheckpointed, s"$name must be checkpointed")
      // the status store is fed by the listener bus, so it may lag the job
      val info = eventually(timeout(10.seconds)) {
        val i = spark.sparkContext.getRDDStorageInfo.find(_.id == leaf.rdd.id)
        assert(i.exists(i => i.numCachedPartitions == i.numPartitions), s"$name blocks")
        i.get
      }
      val size = plan.stats.sizeInBytes
      assert(size == BigInt(info.memSize + info.diskSize), s"$name reports $size")
      assert(size != BigInt(SQLConf.get.defaultSizeInBytes), s"$name reports no size")
      assert(df.queryExecution.executedPlan.collect { case e: Exchange => e }.isEmpty,
        s"$name plan must hold no exchange")
      assert(!reachesShuffle(leaf.rdd), s"$name lineage must end at its stored blocks")
    }
  }
}
