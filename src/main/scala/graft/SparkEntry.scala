package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.queries.{Compute, Query, StarSchema, Streaming, Writers}

/** The engine's query contract — see SURVEY.md §7.
  *
  * Each entry in [[queries]] exercises one operator block from SURVEY.md §2
  * (IDs in the name), with a matching DuckDB oracle in [[oracleSql]].
  * Results are fully deterministic: decimal money, explicit ORDER BY,
  * explicit tie-breaks. Both maps are derived from the [[Query]] records
  * of the four families in `graft.queries`.
  */
object SparkEntry {

  /** Flagship query on the sf0.001 testdata; its caller smoke-checks
    * rows > 0. The monthly spend trend exercises the whole engine:
    * adapter → cleaning → classifier → surrogate keys → fact assembly →
    * dashboard aggregate. A method, not a function value, so reflective
    * callers keep finding `entry(SparkSession)`; it is a map lookup.
    */
  def entry(spark: SparkSession): DataFrame =
    queries("q29_dash_trend")(spark, "/root/testdata/sf0.001")

  /** Every declared query; a name declared twice fails here rather than
    * silently shadowing the earlier query.
    */
  val registry: Seq[Query] = {
    val all = StarSchema.queries ++ Compute.queries ++ Writers.queries ++
      Streaming.queries
    val twice = all.groupBy(_.name).collect { case (n, qs) if qs.size > 1 => n }
    require(twice.isEmpty,
      s"queries declared twice: ${twice.toSeq.sorted.mkString(", ")}")
    all
  }

  /** Every query first sets `nanosAsLong` on the session it is given:
    * events.parquet may carry TIMESTAMP(NANOS), and without that setting
    * the scan fails on a caller-provided session that did not preset it.
    */
  val queries: Map[String, (SparkSession, String) => DataFrame] =
    registry.map { q =>
      q.name -> { (s: SparkSession, dir: String) =>
        s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        q.build(s, dir)
      }
    }.toMap

  val oracleSql: Map[String, String] =
    registry.map(q => q.name -> q.oracle).toMap
}
