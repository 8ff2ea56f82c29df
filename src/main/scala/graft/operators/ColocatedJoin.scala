package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils.escapePathName
import org.apache.spark.sql.functions._

import graft.functions.OracleSafe

/** STORAGE-PARTITIONED JOIN over two partition-mapped tables
  * ([[ManifestTable]] COW tier): when both sides are partitioned on the
  * same column, the manifests prove which file sets can ever match — so
  * the join is planned as one branch per COMMON partition value, each
  * branch reading exactly one partition dir per side, unioned. The
  * cross-partition shuffle a generic `a.join(b, keys)` pays is
  * structurally gone (Iceberg+Spark expose the same idea as
  * KeyGroupedPartitioning / storage-partitioned joins; Hive as bucket
  * map-join).
  *
  * Within a branch the strategy is a PER-PARTITION decision made from
  * manifest byte counts, which is the real win over a global plan: a
  * dimension slice that fits in memory broadcasts even when the whole
  * dimension table would not, and only branches whose build side is
  * genuinely large fall back to an in-branch shuffle — bounded by that
  * one partition's rows, never the table.
  *
  * The driver loop is over partition VALUES — bounded metadata (|types|,
  * |days|), never data rows.
  */
object ColocatedJoin {

  /** The dirs holding one partition's files — its Hive-style dir under
    * every serving dir, named the way Spark wrote it
    * ([[ManifestTable.partitionDir]]).
    */
  private def slicePaths(tableDir: String, partCol: String, part: String,
      e: ManifestTable.Entry): Seq[String] = {
    require(e.dels.isEmpty, s"$tableDir: partition $part has position deletes")
    e.dirs.map(d =>
      s"$tableDir/data/$d/${escapePathName(partCol)}=" +
        ManifestTable.partitionDir(part))
  }

  /** One partition's files, read dir-scoped (maximal pruning: the scan
    * never even lists sibling partitions) with the partition column
    * restored from the manifest key.
    */
  private def slice(spark: SparkSession, paths: Seq[String], partCol: String,
      part: String): DataFrame =
    spark.read.parquet(paths: _*).withColumn(partCol, lit(part))

  /** Inner-join two partition-mapped tables on `partCol` co-location
    * plus `keys`: one branch per common partition, `b`'s slice broadcast
    * when its manifest bytes fit under `broadcastMaxBytes`, in-branch
    * shuffle otherwise.
    */
  def colocatedJoin(spark: SparkSession, tableADir: String,
      tableBDir: String, partCol: String, keys: Seq[String],
      broadcastMaxBytes: Long = 64L << 20): DataFrame = {
    def manifestOf(dir: String) = ManifestTable.readManifest(spark, dir,
      ManifestTable.live(spark, dir))
    val mB = manifestOf(tableBDir)
    val (mapA, mapB) = (manifestOf(tableADir).parts, mB.parts)
    // an equi-join never matches the NULL partition (keyed `null`)
    val common = (mapA.keySet intersect mapB.keySet).toSeq
      .filter(_ != null).sorted
    require(common.nonEmpty,
      s"no common $partCol partitions between $tableADir and $tableBDir")
    common.map { p =>
      val pathsB = slicePaths(tableBDir, partCol, p, mapB(p))
      val a = slice(spark, slicePaths(tableADir, partCol, p, mapA(p)),
        partCol, p)
      val b = slice(spark, pathsB, partCol, p).drop(partCol)
      val build =
        if (mB.bytes(p, mapB(p).dirs) <= broadcastMaxBytes) broadcast(b) else b
      a.join(build, keys)
    }.reduce(_ unionByName _)
  }

  /** q333 — flag events spending over 1.5× their user's per-type
    * average, as a co-located join: table A = the events (partitioned by
    * `event_type`), table B = per-(type, user) totals (same
    * partitioning). The comparison is integer-exact —
    * `cents·2·cnt > 3·sum_cents` ⇔ value > 1.5·avg — so the oracle
    * matches bit-for-bit with no double-average order dependence.
    *
    * ColocatedJoinSpec pins the plan: with per-partition broadcast there
    * is NO shuffle exchange anywhere; a generic join of the same reads
    * shuffles both sides.
    */
  def colocatedOverAverage(events: DataFrame, tableADir: String,
      tableBDir: String): DataFrame = {
    val spark = events.sparkSession
    val base = events.select(col("event_type"), col("user_id"),
      OracleSafe.quant(col("value"), 100).as("cents"))
    ManifestTable.appendPartitionedDelta(base, tableADir, 1L, "event_type")
    val perUser = base.groupBy("event_type", "user_id")
      .agg(count(lit(1)).as("cnt"), sum(col("cents")).as("sum_cents"))
    ManifestTable.appendPartitionedDelta(perUser, tableBDir, 1L, "event_type")
    colocatedJoin(spark, tableADir, tableBDir, "event_type",
        Seq("user_id"))
      .filter(col("cents") * 2 * col("cnt") > col("sum_cents") * 3)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_over"),
        countDistinct(col("user_id")).as("n_users"),
        sum(col("cents")).as("over_cents"))
      .orderBy("event_type")
  }

  /** DuckDB twin of [[colocatedOverAverage]]; embed after `WITH ` and
    * select from `colocated_over_average`.
    */
  def colocatedOverAverageSql(): String =
    s"""coa_base AS (
       |  SELECT event_type, user_id,
       |         ${OracleSafe.quantSql("value", 100)} AS cents
       |  FROM events),
       |coa_agg AS (
       |  SELECT event_type, user_id, COUNT(*) AS cnt,
       |         SUM(cents) AS sum_cents
       |  FROM coa_base GROUP BY 1, 2),
       |colocated_over_average AS (
       |  SELECT b.event_type, COUNT(*) AS n_over,
       |         COUNT(DISTINCT b.user_id) AS n_users,
       |         CAST(SUM(b.cents) AS BIGINT) AS over_cents
       |  FROM coa_base b
       |  JOIN coa_agg a
       |    ON b.event_type = a.event_type AND b.user_id = a.user_id
       |  WHERE b.cents * 2 * a.cnt > a.sum_cents * 3
       |  GROUP BY 1)""".stripMargin
}
