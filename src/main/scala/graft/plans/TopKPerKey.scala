package graft.plans

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions.{col, row_number}

/** Per-key top-k as Spark's own bounded window.
  *
  * `row_number().over(partitionBy(keys).orderBy(order)) <= k` is planned by
  * Catalyst's `InferWindowGroupLimit` (any k up to
  * `spark.sql.optimizer.windowGroupLimitThreshold`, 1000 by default): a
  * partial `WindowGroupLimit` keeps k rows per key before the hash exchange
  * and a final one after it, so only k rows per key and map task cross the
  * shuffle. Callers give a total ordering (tie-break columns), so the
  * kept rows and their ranks are deterministic.
  */
object TopK {
  /** Sort key for [[perKey]]: column name + direction. */
  final case class Sort(name: String, ascending: Boolean = true)
  def asc(name: String): Sort = Sort(name)
  def desc(name: String): Sort = Sort(name, ascending = false)

  /** First k rows per key under `order` (give a total order — include
    * tie-break columns), with a 1-based rank column appended.
    */
  def perKey(df: DataFrame, keys: Seq[String], order: Seq[Sort], k: Int,
      rankName: String = "rank"): DataFrame = {
    require(keys.nonEmpty, "TopK.perKey needs at least one key (global top-k: use orderBy().limit())")
    require(order.nonEmpty, "TopK.perKey needs a total order (include tie-break columns)")
    val w = Window.partitionBy(keys.map(col): _*).orderBy(order.map(s =>
      if (s.ascending) col(s.name).asc else col(s.name).desc): _*)
    df.withColumn(rankName, row_number().over(w)).filter(col(rankName) <= k)
  }
}
